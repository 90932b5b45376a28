import subprocess
import sys

from perfbench.ledger import ledger_of, Job, percentile_or_none, process_cpu_s


def test_percentile_needs_ten_samples_beyond_it():
    assert percentile_or_none(list(range(99)), 0.9) is None  # 9.9 beyond
    assert percentile_or_none(list(range(100)), 0.9) == 89  # 10 beyond
    assert percentile_or_none(list(range(9)), 0.5) is None
    assert percentile_or_none(list(range(20)), 0.5) == 9
    assert percentile_or_none([], 0.5) is None


def _job(i, start, end, tasks=1):
    return Job(i, start, end, {i: {
        "tasks": tasks, "exec_run_ms": 10, "exec_cpu_ns": 10**7, "input_bytes": 5,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 3, "output_bytes": 0}})


def test_ledger_counts_jobs_submitted_in_the_window():
    jobs = [_job(0, 100, 150), _job(1, 140, 300, tasks=4), _job(2, 400, 450)]
    got = ledger_of(jobs, 100, 350)
    assert got["jobs"] == 2 and got["tasks"] == 5 and got["shuffle_bytes"] == 6
    # 250 ms of window, jobs busy 100..300 (overlap merged) -> 50 ms driver
    assert abs(got["driver_s"] - 0.05) < 1e-9


def test_process_cpu_counts_the_child_tree():
    # the child spins 0.3 s of CPU, reports, then idles until killed
    spin = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.3: pass\n"
            "print(flush=True)\ntime.sleep(60)")
    child = subprocess.Popen([sys.executable, "-c", spin], stdout=subprocess.PIPE)
    try:
        before = process_cpu_s(child.pid)
        child.stdout.readline()
        after = process_cpu_s(child.pid)
    finally:
        child.kill()
        child.wait()
    assert 0.25 <= after - before < 2.0
