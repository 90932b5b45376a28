"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  It builds its inputs from ``--seed``,
sets up, runs the closed-loop op mix for ``--seconds``, checks every
result, and prints one JSON object as the last line of standard output:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Everything it writes stays under ``.bench_work/`` (inputs,
tables, Spark scratch; removed at exit) and ``.bench_out/`` (the traced
run's span dump).  Exits non-zero without a result when the package is
not next to the benchmark.
"""

import time

CLOCK0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "airflow_postgres_etl_spark"


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(work: str) -> None:
    """Pin the engine to this host's cores and keep every scratch file
    inside the checkout.  Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Python workers import the package from the checkout root
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    # -XX:-UsePerfData: no hsperfdata file in the system /tmp;
    # -XX:-UseDynamicNumberOfCompilerThreads: JIT threads never exit, so
    # ledger.process_cpu_s can leave their CPU out
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell")
    sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)

    from perfbench.workloads import WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {WORKLOADS}",
              file=sys.stderr)
        return 2

    # turn a TERM into SystemExit so the finally below stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tracer = hooks = None
    if args.trace:
        from perfbench.ledger import Tracer
        from perfbench.report import TraceHooks

        tracer = Tracer()
    bench = Bench(args.workload, args.seed, args.seconds, work, CLOCK0, tracer)
    if tracer is not None:
        hooks = TraceHooks(bench)
        bench.hooks = hooks
    problems: list[str] = []
    try:
        bench.setup()
        bench.timed_loop()
        t_final = time.perf_counter()
        problems = bench.final_checks()
        print(f"perfbench: final checks {time.perf_counter() - t_final:.1f}s",
              file=sys.stderr)
        if args.trace:
            metrics = hooks.layer_metrics(bench)
        else:
            metrics = bench.end_to_end()
    finally:
        if hooks is not None:
            hooks.close(bench)
        bench.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench: wall {time.perf_counter() - CLOCK0:.1f}s", file=sys.stderr)
    for msg in bench.failures + problems:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    result = {
        "correct": bench.failed == 0 and not problems,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
