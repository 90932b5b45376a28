"""Traced-run instrumentation: spans at the calls into each layer.

Only the traced run installs these, and only in its own process.  They
replace module attributes with wrappers that open a span and call the
original; nothing in the package is edited.  The storage seam is
counted per method on ``LocalManifestStore`` itself (the class, not the
``LOCAL_STORE`` instance), so a store pickled to a Python worker stays a
plain instance.  ``walk`` is counted when called; the time of the
generator's iteration falls to the caller.
"""

from __future__ import annotations

import functools
import json
import time

from airflow_postgres_etl_spark import pipeline, session, sink, storage, views
from airflow_postgres_etl_spark.plans import reference_queries

from .ledger import Tracer

#: (module, attribute, span name, layer) — every wrapped entry point.
WRAPPED = [
    (session, "get_spark", "session.get_spark", "session"),
    (pipeline, "incremental_load", "pipeline.incremental_load", "pipeline"),
    (pipeline, "parquet_high_water_mark", "pipeline.hwm", "pipeline"),
    (pipeline, "read_tracking_csv", "sources.csv.read", "sources"),
    (pipeline, "build_tracking", "operators.build_tracking", "operators"),
    (pipeline, "build_events", "operators.build_events", "operators"),
    (pipeline, "keyed_overwrite_parquet", "sink.merge", "sink"),
    (sink, "keyed_overwrite_parquet", "sink.merge", "sink"),
    (sink, "lookup_keys", "sink.lookup", "sink"),
    (sink, "read_keyed_table", "sink.read", "sink"),
    (views, "refresh_aggregate_view", "views.refresh", "views"),
    (reference_queries, "q1_trackings_per_minute", "plans.build", "plans"),
    (reference_queries, "q2_events_per_tracking_code", "plans.build", "plans"),
    (reference_queries, "q3_top10_descriptions", "plans.build", "plans"),
    (reference_queries, "q4_tracking_with_events", "plans.build", "plans"),
]

#: storage-seam methods a merge calls, reported per commit
COMMIT_METHODS = ["read_json", "write_json", "replace_if_version", "exists",
                  "open_input", "list_dir", "walk", "mtime"]


class StoreCounters:
    """Calls, seconds and manifest bytes written through the storage seam."""

    def __init__(self) -> None:
        self.calls = {m: 0 for m in COMMIT_METHODS}
        self.seconds = 0.0
        self.manifest_bytes = 0

    def snapshot(self) -> dict:
        return {"calls": dict(self.calls), "seconds": self.seconds,
                "manifest_bytes": self.manifest_bytes}

    def delta(self, before: dict) -> dict:
        now = self.snapshot()
        return {
            "calls": {m: now["calls"][m] - before["calls"][m] for m in self.calls},
            "seconds": now["seconds"] - before["seconds"],
            "manifest_bytes": now["manifest_bytes"] - before["manifest_bytes"],
        }


def _span_wrapper(tracer: Tracer, counters: StoreCounters, fn, name: str,
                  layer: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name, layer, fn=fn.__name__) as sp:
            before = counters.snapshot()
            try:
                out = fn(*args, **kwargs)
            finally:
                sp.attrs["store"] = counters.delta(before)
            if isinstance(out, dict):
                sp.attrs["result"] = dict(out)
            return out

    return wrapper


def _store_wrapper(counters: StoreCounters, fn, method: str):
    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(self, *args, **kwargs)
        finally:
            counters.calls[method] += 1
            counters.seconds += time.perf_counter() - t0
            if method in ("write_json", "replace_if_version") and len(args) > 1:
                counters.manifest_bytes += len(json.dumps(args[1]))

    return wrapper


def install(tracer: Tracer):
    """Wrap every entry point; returns the function that undoes it."""
    saved = []
    counters = StoreCounters()
    for mod, attr, name, layer in WRAPPED:
        fn = getattr(mod, attr)
        saved.append((mod, attr, fn))
        setattr(mod, attr, _span_wrapper(tracer, counters, fn, name, layer))
    cls = storage.LocalManifestStore
    for m in COMMIT_METHODS:
        fn = getattr(cls, m)
        saved.append((cls, m, fn))
        setattr(cls, m, _store_wrapper(counters, fn, m))

    def undo() -> None:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)

    return undo
