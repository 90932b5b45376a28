"""Traced-run hooks and the per-layer metrics computed from them.

:class:`TraceHooks` installs the layer wrappers, observes each op right
after it returns (ledger read, manifest diff, ingest probes) and turns
the spans into the per-layer metrics listed in ``BENCHMARK.json``.

Ingest sub-stages come from probes run after a cycle, outside its spans,
on the same fresh files: scan; scan + literal parse; scan + keep-last
dedup; the whole ``build_events`` chain.  Each probe executes twice
through the ``noop`` sink and the faster wall counts; stage times are
attributed by subtraction.
"""

from __future__ import annotations

import json
import os
import resource

from airflow_postgres_etl_spark.functions.literal_parse import parse_events
from airflow_postgres_etl_spark.operators.ingest import (
    build_events, dedup_keep_last, filter_after_high_water_mark)
from airflow_postgres_etl_spark.sources.csv_source import read_tracking_csv

from . import layers
from .ledger import mean, median, percentile_or_none

LEDGER_FIELDS = ["jobs", "tasks", "shuffle_bytes", "exec_cpu_s", "driver_s"]


def _unit(field: str) -> str:
    return "s" if field.endswith("_s") else "B" if field.endswith("bytes") else "count"


def _manifest(target: str, version: int | None = None) -> dict | None:
    name = "_manifest.json" if version is None else f"_manifest.v{version}.json"
    try:
        with open(os.path.join(target, name)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _live_files(manifest: dict) -> list[str]:
    return [f for files in manifest["buckets"].values() for f in files]


def _size(target: str, rels) -> int:
    return sum(os.path.getsize(os.path.join(target, r)) for r in rels)


class TraceHooks:
    def __init__(self, bench) -> None:
        self.tracer = bench.tracer
        self._undo = layers.install(self.tracer)
        self.probes: list[dict] = []
        self.buckets_fracs: list[float] = []  # per table per write
        self.write_amp: list[float] = []  # data bytes added per batch byte
        self.lookup_fracs: list[float] = []
        self.write_rows: list[tuple[int, float]] = []  # (event rows, wall)

    # -- observers -----------------------------------------------------------
    def after_setup(self, bench) -> None:
        if bench.workload == "table_serving":
            h = bench.history
            self.probe(bench, None, len(h.files) * bench.corpus.rows_per_file,
                       h.new_csv_bytes)

    def after_op(self, bench, op, sp) -> None:
        cost = self.tracer.cost(sp)
        sp.attrs["jobs_outside_group"] = cost["jobs"] - sp.attrs["group_jobs"]
        if cost["jobs"] == 0:
            bench.failed += 1
            bench.failures.append(f"{type(op).__name__}: recorded 0 Spark jobs")
        if op.kind == "write":
            self.write_rows.append((op.event_rows, sp.wall_s))
            self._diff_writes(bench, op)
            if bench.workload == "cdc_ingest":
                t = op.truth
                self.probe(bench, op.hwm, len(t.files) * bench.corpus.rows_per_file,
                           t.new_csv_bytes)
        elif op.kind == "lookup":
            target = getattr(bench.targets, op.table)
            live = _size(target, _live_files(_manifest(target)))
            self.lookup_fracs.append(cost["input_bytes"] / live)

    def _diff_writes(self, bench, op) -> None:
        written = 0
        for target in (bench.targets.events, bench.targets.tracking):
            new = _manifest(target)
            old = _manifest(target, new["version"] - 1)
            changed = [b for b, files in new["buckets"].items()
                       if files != old["buckets"].get(b)]
            self.buckets_fracs.append(len(changed) / new["num_buckets"])
            added = set(_live_files(new)) - set(_live_files(old))
            written += _size(target, added)
        batch = op.truth.new_csv_bytes if hasattr(op, "truth") else op.batch_bytes
        self.write_amp.append(written / batch)

    def probe(self, bench, hwm, raw_rows: int, new_bytes: int) -> None:
        """Time the ingest chain's stages on the files the last cycle
        loaded, outside any op span."""
        spark, tracer = bench.spark, self.tracer
        glob = os.path.join(bench.landing, "*.csv")

        def fresh():
            return filter_after_high_water_mark(read_tracking_csv(spark, glob), hwm)

        plans = {
            "scan": fresh,
            "parse": lambda: fresh().select(parse_events("array_trackingEvents")),
            "dedup": lambda: dedup_keep_last(fresh()),
            "build_events": lambda: build_events(fresh()),
        }
        phase, tracer.phase = tracer.phase, "probe"
        out = {"rows": raw_rows, "new_bytes": new_bytes}
        for name, make in plans.items():
            walls = []
            for _ in range(2):  # the faster of two: the first pays plan warm-up
                with tracer.span(f"probe.{name}", "probe") as sp:
                    make().write.format("noop").mode("overwrite").save()
                walls.append(sp.wall_s)
            tracer.ledger.poll()
            out[name] = min(walls)
            out[f"{name}_input_bytes"] = tracer.cost(sp)["input_bytes"]
        tracer.phase = phase
        self.probes.append(out)

    def close(self, bench) -> None:
        self._undo()
        out_dir = os.path.join(os.getcwd(), ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{bench.workload}-seed{bench.seed}.json")
        latency = {
            kind: {"n": len(v), "p50": median(v), "p90": percentile_or_none(v, 0.9)}
            for kind, v in bench.samples.items()
        }
        with open(path, "w") as fh:
            json.dump({"op_latency_s": latency, **self.tracer.dump()}, fh)

    # -- metrics ---------------------------------------------------------------
    def _spans(self, name: str, phase: str, op_kind: str | None = None):
        spans = self.tracer.spans
        out = []
        for s in spans:
            if s.name != name or s.phase != phase or s.end_ms == 0:
                continue
            if op_kind is not None and (s.op is None or spans[s.op].name != op_kind):
                continue
            out.append(s)
        return out

    def _rss_mb(self, bench) -> float:
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm = 0.0
        pid = bench.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024.0
        return py + jvm

    def layer_metrics(self, bench) -> dict[str, tuple[float, str]]:
        tr = self.tracer
        m: dict[str, tuple[float, str]] = {}
        # op walls by kind (the end-to-end latencies, traced)
        for kind in ("write", "view_refresh", "lookup", "ref_query"):
            m[f"op.{kind}_s"] = (median([s.wall_s for s in self._spans(kind, "timed")]), "s")
        rows, wall = map(sum, zip(*self.write_rows)) if self.write_rows else (0, 0.0)
        m["op.write_event_rows_per_s"] = (rows / wall if wall else 0.0, "1/s")
        m["session.start_s"] = (bench.session_start_s, "s")
        m["session.rss_mb_peak"] = (self._rss_mb(bench), "MB")

        # ingest chain: timed cycles (cdc_ingest) or the set-up load
        ingest_phase = "timed" if bench.workload == "cdc_ingest" else "setup"
        p = self.probes
        parse = [x["parse"] - x["scan"] for x in p]
        m["sources.csv.scan_s"] = (median([x["scan"] for x in p]), "s")
        m["sources.csv.input_bytes_per_new_byte"] = (
            median([x["scan_input_bytes"] / x["new_bytes"] for x in p]), "ratio")
        m["functions.literal_parse.s"] = (median(parse), "s")
        rates = [x["rows"] / d for x, d in zip(p, parse) if d > 0]
        m["functions.literal_parse.rows_per_s"] = (median(rates), "1/s")
        m["operators.ingest.dedup_s"] = (median([x["dedup"] - x["scan"] for x in p]), "s")
        m["operators.ingest.explode_s"] = (median(
            [x["build_events"] - x["parse"] - x["dedup"] + x["scan"] for x in p]), "s")
        cycles = self._spans("pipeline.incremental_load", ingest_phase)
        costs = [tr.cost(s) for s in cycles]
        for f in LEDGER_FIELDS:
            m[f"pipeline.cycle.{f}"] = (median([c[f] for c in costs]), _unit(f))
        ids = {s.span_id for s in cycles}
        m["pipeline.hwm_s"] = (median([s.wall_s for s in tr.spans
                                       if s.name == "pipeline.hwm" and s.parent in ids]), "s")
        m["pipeline.transform_s"] = (median([tr.self_s(s) for s in cycles]), "s")

        # sink: merges inside timed writes
        merges = self._spans("sink.merge", "timed", "write")
        mc = [tr.cost(s) for s in merges]
        m["sink.merge.s"] = (median([s.wall_s for s in merges]), "s")
        for f in ("jobs", "tasks", "driver_s"):
            m[f"sink.merge.{f}"] = (median([c[f] for c in mc]), _unit(f))
        m["sink.merge.buckets_rewritten_frac"] = (median(self.buckets_fracs), "ratio")
        m["sink.merge.bytes_written_per_batch_byte"] = (median(self.write_amp), "ratio")
        live = 0
        for target in (bench.targets.events, bench.targets.tracking):
            live += len(_live_files(_manifest(target)))
        m["sink.table.live_files"] = (live, "count")
        m["sink.table.disk_bytes"] = (bench.disk_bytes(), "B")
        lookups = self._spans("sink.lookup", "timed", "lookup")
        m["sink.lookup.s"] = (median([s.wall_s for s in lookups]), "s")
        m["sink.lookup.jobs"] = (median([tr.cost(s)["jobs"] for s in lookups]), "count")
        m["sink.lookup.bytes_read_frac"] = (median(self.lookup_fracs), "ratio")
        reads = self._spans("sink.read", "timed", "ref_query")
        m["sink.read.s"] = (median([s.wall_s for s in reads]), "s")

        # storage seam, per commit (= per merge call)
        stores = [s.attrs["store"] for s in merges]
        for meth in layers.COMMIT_METHODS:
            m[f"storage.calls_per_commit.{meth}"] = (
                mean([st["calls"][meth] for st in stores]), "count")
        m["storage.manifest_bytes_written_per_commit"] = (
            mean([st["manifest_bytes"] for st in stores]), "B")
        m["storage.s_per_commit"] = (median([st["seconds"] for st in stores]), "s")

        # views
        refreshes = self._spans("views.refresh", "timed", "view_refresh")
        m["views.refresh.s"] = (median([s.wall_s for s in refreshes]), "s")
        m["views.refresh.jobs"] = (median([tr.cost(s)["jobs"] for s in refreshes]), "count")
        results = [s.attrs.get("result", {}) for s in refreshes]
        m["views.refresh.files_read"] = (median([r.get("files_read", 0) for r in results]), "count")
        m["views.refresh.incremental_frac"] = (
            mean([r.get("mode") == "incremental" for r in results]), "ratio")

        # plans: the README reference queries
        builds = self._spans("plans.build", "timed", "ref_query")
        m["plans.build_s"] = (median([s.wall_s for s in builds]), "s")
        queries = self._spans("ref_query", "timed")
        qc = [tr.cost(s) for s in queries]
        for f in LEDGER_FIELDS:
            m[f"plans.query.{f}"] = (median([c[f] for c in qc]), _unit(f))
        m["plans.reference.s"] = (median([s.wall_s for s in queries]), "s")

        # the tracer itself
        ops = [s for s in tr.spans if s.phase == "timed" and s.layer == "op"]
        op_s = sum(s.wall_s for s in ops) or float("inf")  # inf: every op failed
        m["trace.overhead_frac"] = (tr.bookkeeping_s / op_s, "ratio")
        m["trace.ledger_read_s_per_op"] = (tr.ledger.read_s / max(1, len(ops)), "s")
        m["trace.jobs_outside_group_per_op"] = (
            mean([s.attrs.get("jobs_outside_group", 0) for s in ops]), "count")
        m["trace.ops_per_s"] = (len(ops) / op_s, "1/s")
        return m
