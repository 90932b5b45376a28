"""The two workloads: ``cdc_ingest`` and ``table_serving``.

Both run as one closed-loop client (the next op starts when the previous
one returned) on ``local[<cores>]``, against a ``tracking``/``events``
pair of keyed tables loaded from the seeded CDC corpus.  They share the
op kinds and differ in the write:

- ``cdc_ingest``: each round lands two new CSV files in the growing
  landing directory and runs one ``pipeline.incremental_load`` (CSV scan,
  literal parse, keep-last dedup, explode, two bucketed merges).
- ``table_serving``: each round upserts a 32-key CDC batch built with
  ``spark.createDataFrame`` through ``api.Table.merge``, into ``events``
  and then ``tracking``.  No CSV and no literal parse.

Every round then refreshes a count view of ``events`` by
``description``, runs two 5-key ``Table.lookup`` calls (one per table)
and two of the README reference queries over ``read_keyed_table``
snapshots, in a seeded order.  Every op result is checked against the
benchmark's own model of the tables, outside the op's timing.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import subprocess
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

from pyspark.sql import functions as F

from airflow_postgres_etl_spark import pipeline, session, sink
from airflow_postgres_etl_spark.api import Table
from airflow_postgres_etl_spark.plans import reference_queries
from airflow_postgres_etl_spark.schemas import EVENTS_OUT, TRACKING_OUT

from .cdcgen import CdcCorpus, CycleTruth, file_name
from .ledger import SparkLedger, Tracer, ledger_of, mean, median, process_cpu_s
from .model import (CheckFailed, TableModel, event_tuple, expected_ref_query,
                    ref_query_rows, same_rows, tracking_tuple)

WORKLOADS = ["cdc_ingest", "table_serving"]
ROWS_PER_FILE = 250
FILES_PER_CYCLE = 2
HISTORY_FILES = 4
UPSERT_RECENT_KEYS, UPSERT_NEW_KEYS = 24, 8
LOOKUP_KEYS = 5
#: README reference queries per workload (all four are covered)
REF_QUERIES = {"cdc_ingest": ["q1", "q2"], "table_serving": ["q3", "q4"]}
UPLOAD_DATE = dt.datetime(2024, 1, 1)
_EPOCH = dt.datetime(1970, 1, 1)


@dataclass
class Targets:
    root: str

    @property
    def tracking(self) -> str:
        return os.path.join(self.root, "tracking")

    @property
    def events(self) -> str:
        return os.path.join(self.root, "events")

    @property
    def view(self) -> str:
        return os.path.join(self.root, "events_by_description")


class Op:
    """One timed call: ``prepare`` and ``check`` run outside the timing."""

    kind = ""

    def prepare(self, bench: "Bench") -> None:
        pass

    def run(self, bench: "Bench"):
        raise NotImplementedError

    def check(self, bench: "Bench", result) -> None:
        pass


class IngestCycle(Op):
    kind = "write"

    def prepare(self, bench):
        self.truth: CycleTruth = bench.corpus.next_cycle(bench.landing)
        self.event_rows = self.truth.event_rows
        self.hwm = file_name(bench.corpus.n_files - FILES_PER_CYCLE - 1)

    def run(self, bench):
        t = bench.targets
        return pipeline.incremental_load(bench.spark, bench.landing, t.tracking, t.events)

    def check(self, bench, result):
        want = {"tracking": self.truth.tracking_rows, "events": self.truth.event_rows}
        if result != want:
            raise CheckFailed(f"incremental_load merged {result}, expected {want}")


class Upsert(Op):
    kind = "write"

    def prepare(self, bench):
        c = bench.corpus
        keys = [c.recent_key() for _ in range(UPSERT_RECENT_KEYS)]
        keys += [c.new_key() for _ in range(UPSERT_NEW_KEYS)]
        name = file_name(c.n_files)
        c.n_files += 1
        unique = list(dict.fromkeys(keys))
        batch = [c.make_delivery(k, name, n)
                 for k, n in zip(unique, c.event_counts(len(unique)))]
        c.state.update((d.key, d) for d in batch)
        self.events = [
            r[:7] + (None if r[7] is None else _EPOCH + dt.timedelta(milliseconds=r[7]),
                     UPLOAD_DATE, name)
            for d in batch for r in d.event_rows()
        ]
        self.tracking = [
            (d.key, d.op, _ts(d.created), _ts(d.updated), _ts(d.last_sync),
             UPLOAD_DATE, name)
            for d in batch
        ]
        self.event_rows = len(self.events)
        self.batch_bytes = sum(len(repr(r).encode()) for r in self.events + self.tracking)

    def run(self, bench):
        spark, t = bench.spark, bench.targets
        Table(spark, t.events).merge(spark.createDataFrame(self.events, EVENTS_OUT))
        Table(spark, t.tracking).merge(spark.createDataFrame(self.tracking, TRACKING_OUT))


class RefreshView(Op):
    kind = "view_refresh"

    def run(self, bench):
        t = bench.targets
        return Table(bench.spark, t.events).refresh_view(t.view, ["description"], [])

    def check(self, bench, result):
        if result.get("mode") not in ("incremental", "full"):
            raise CheckFailed(f"view refresh after a write returned {result}")


class Lookup(Op):
    kind = "lookup"

    def __init__(self, table: str) -> None:
        self.table = table

    def prepare(self, bench):
        rng = bench.op_rng
        self.keys = list(dict.fromkeys(bench.corpus.recent_key(rng) for _ in range(LOOKUP_KEYS)))

    def run(self, bench):
        path = getattr(bench.targets, self.table)
        return Table(bench.spark, path).lookup(self.keys).collect()

    def check(self, bench, rows):
        if self.table == "tracking":
            same_rows("tracking lookup", [tracking_tuple(r) for r in rows],
                      bench.model.tracking_rows(self.keys))
        else:
            same_rows("events lookup", [event_tuple(r) for r in rows],
                      bench.model.event_rows(self.keys))


class RefQuery(Op):
    kind = "ref_query"

    def __init__(self, name: str) -> None:
        self.name = name

    def run(self, bench):
        spark, t = bench.spark, bench.targets
        rq = reference_queries

        def read(path):
            return sink.read_keyed_table(spark, path)

        df = {
            "q1": lambda: rq.q1_trackings_per_minute(read(t.tracking)),
            "q2": lambda: rq.q2_events_per_tracking_code(read(t.events)),
            "q3": lambda: rq.q3_top10_descriptions(read(t.events)),
            "q4": lambda: rq.q4_tracking_with_events(read(t.tracking), read(t.events)),
        }[self.name]()
        return df.collect()

    def check(self, bench, rows):
        same_rows(f"reference {self.name}", ref_query_rows(self.name, rows),
                  expected_ref_query(bench.model, self.name))


def _ts(epoch_s: int) -> dt.datetime:
    return _EPOCH + dt.timedelta(seconds=epoch_s)


class Bench:
    """One run of one workload: set-up, the timed loop, final checks."""

    def __init__(self, workload: str, seed: int, seconds: float, work: str,
                 clock0: float, tracer: Tracer | None = None) -> None:
        self.workload, self.seed, self.seconds, self.work = workload, seed, seconds, work
        self.clock0 = clock0
        self.tracer = tracer
        self.corpus = CdcCorpus(seed, ROWS_PER_FILE, FILES_PER_CYCLE)
        self.op_rng = random.Random(seed * 7919 + 17)
        self.model = TableModel(self.corpus.state)
        self.landing = os.path.join(work, "landing")
        self.spark = None
        self.jvm_pid = 0
        self.targets: Targets | None = None
        self.samples: dict[str, list[float]] = defaultdict(list)  # op walls
        self.costs: dict[str, list[dict]] = defaultdict(list)  # op Spark ledgers
        self.round = 0  # timed round the next op belongs to
        self.first_round_disk_per_row = 0.0
        self.ledger: SparkLedger | None = None
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.setup_s = 0.0
        self.session_start_s = 0.0
        self.history: CycleTruth | None = None
        self.hooks = None  # traced run: per-op observers (report.TraceHooks)

    # -- session -------------------------------------------------------------
    def start_spark(self) -> None:
        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app_name="perfbench",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.session_start_s = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.ledger = SparkLedger(self.spark)
        if self.tracer is not None:
            self.tracer.ledger = self.ledger

    def stop_jvm(self) -> None:
        """Stop the session and wait for the JVM to exit (it exits when
        its stdin closes)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # -- set-up ----------------------------------------------------------------
    def setup(self) -> None:
        """Start the session, load the history, build the view and run
        each read of a round once untimed, so that the timed reads run
        plan shapes the JVM has already compiled.  Timed from process
        start, input generation excluded."""
        t_gen = time.perf_counter()
        self.history = self.corpus.next_cycle(self.landing, HISTORY_FILES)
        gen_s = time.perf_counter() - t_gen
        self.start_spark()
        self.targets = Targets(os.path.join(self.work, "tables"))
        got = pipeline.incremental_load(
            self.spark, self.landing, self.targets.tracking, self.targets.events)
        want = {"tracking": self.history.tracking_rows, "events": self.history.event_rows}
        if got != want:
            raise CheckFailed(f"history load merged {got}, expected {want}")
        warm = [RefreshView(), Lookup("tracking"), Lookup("events")]
        warm += [RefQuery(q) for q in REF_QUERIES[self.workload]]
        for op in warm:
            self.run_op(op, timed=False)
        self.setup_s = time.perf_counter() - self.clock0 - gen_s
        print(f"perfbench: setup {self.setup_s:.3f}s", file=sys.stderr)
        if self.hooks is not None:
            self.hooks.after_setup(self)

    # -- timed loop ------------------------------------------------------------
    def rounds(self):
        """Each round: the write, a view refresh, then one lookup per
        table and the workload's two reference queries in seeded order.
        Every round holds the same ops; the seed picks data, keys and
        order."""
        write = IngestCycle if self.workload == "cdc_ingest" else Upsert
        while True:
            reads = [Lookup("tracking"), Lookup("events")]
            reads += [RefQuery(q) for q in REF_QUERIES[self.workload]]
            self.op_rng.shuffle(reads)
            yield [write(), RefreshView()] + reads

    def run_op(self, op: Op, timed: bool = True) -> None:
        op.prepare(self)
        self.attempted += 1
        sp = None
        cpu0 = process_cpu_s(self.jvm_pid)
        start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            if self.tracer is not None and timed:
                with self.tracer.op_span(op.kind, "op", op=type(op).__name__) as sp:
                    result = op.run(self)
            else:
                result = op.run(self)
        except Exception as e:  # an op that raises counts as failed
            self.failed += 1
            self.failures.append(f"{type(op).__name__}: {type(e).__name__}: {e}"[:500])
            return
        elapsed = time.perf_counter() - t0
        cpu_s = process_cpu_s(self.jvm_pid) - cpu0
        label = "" if timed else " (warm-up)"
        print(f"perfbench: {type(op).__name__}{label} {elapsed:.3f}s cpu {cpu_s:.2f}s",
              file=sys.stderr)
        if timed:
            self.samples[op.kind].append(elapsed)
            self.ledger.poll()  # after the op, outside its timing
            cost = ledger_of(self.ledger.jobs, start_ms, time.time() * 1000.0)
            self.costs[op.kind].append({**cost, "cpu_s": cpu_s, "round": self.round})
        try:
            op.check(self, result)
        except CheckFailed as e:
            self.failed += 1
            self.failures.append(f"{type(op).__name__}: {e}"[:500])
        if self.hooks is not None and timed:
            self.hooks.after_op(self, op, sp)

    def timed_loop(self) -> None:
        """Run whole rounds until ``seconds`` have passed.  At least one
        round runs, so every op kind has a sample.  The gated metrics come
        from the first round alone (see :meth:`end_to_end`); later rounds
        only add wall-time samples."""
        if self.tracer is not None:
            self.tracer.phase = "timed"
        deadline = time.perf_counter() + self.seconds
        for i, ops in enumerate(self.rounds()):
            self.round = i
            for op in ops:
                self.run_op(op)
            if self.round == 0:
                self.first_round_disk_per_row = (
                    self.disk_bytes() / self.model.live_event_rows())
            if time.perf_counter() >= deadline:
                return

    # -- final checks ------------------------------------------------------------
    def final_checks(self) -> list[str]:
        """Whole-table content against the model, and the view against a
        fresh ``groupBy`` of the snapshot and against the model."""
        if self.tracer is not None:
            self.tracer.phase = "final"
        spark, t, problems = self.spark, self.targets, []
        Table(spark, t.events).refresh_view(t.view, ["description"], [])
        tracking = sink.read_keyed_table(spark, t.tracking)
        events = sink.read_keyed_table(spark, t.events)
        for what, got, want in [
            ("final tracking", [tracking_tuple(r) for r in tracking.collect()],
             self.model.tracking_rows()),
            ("final events", [event_tuple(r) for r in events.collect()],
             self.model.event_rows()),
        ]:
            try:
                same_rows(what, got, want)
            except CheckFailed as e:
                problems.append(str(e))
        view = [(r["description"], r["n"])
                for r in Table(spark, t.events).read_view(t.view).collect()]
        fresh = [(r["description"], r["n"])
                 for r in events.groupBy("description").agg(F.count(F.lit(1)).alias("n")).collect()]
        for what, want in [("view vs fresh groupBy", fresh),
                           ("view vs model", self.model.description_counts())]:
            try:
                same_rows(what, view, want)
            except CheckFailed as e:
                problems.append(str(e))
        return problems

    def disk_bytes(self) -> int:
        total = 0
        for path in (self.targets.tracking, self.targets.events):
            for root, _, files in os.walk(path):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    # -- metrics -----------------------------------------------------------------
    def end_to_end(self) -> dict[str, tuple[float, str]]:
        """CPU seconds and Spark jobs per op, not wall time: on a shared
        host the wall time of the same op moves by a quarter between runs;
        CPU time and job counts move far less (see README).

        Every figure but ``setup_s`` comes from the first timed round, so
        a faster program that fits more rounds into ``seconds`` reports
        the same work: the tables are never vacuumed, and a second write
        would add superseded files and warm the merge path."""
        first = {k: [x for x in v if x["round"] == 0] for k, v in self.costs.items()}
        writes = first.get("write", [])
        reads = [x for k in ("view_refresh", "lookup", "ref_query") for x in first.get(k, [])]
        return {
            "setup_s": (self.setup_s, "s"),
            "write.cpu_s": (median([x["cpu_s"] for x in writes]), "s"),
            "write.jobs": (median([x["jobs"] for x in writes]), "count"),
            "read.cpu_s": (mean([x["cpu_s"] for x in reads]), "s"),
            "read.jobs": (mean([x["jobs"] for x in reads]), "count"),
            "disk_bytes_per_event_row": (self.first_round_disk_per_row, "B"),
        }
