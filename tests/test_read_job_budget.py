"""Job budget of manifest-resolved reads.

Building a read frame over a manifest or a view meta resolves files and
schema from metadata the engine already holds, so it launches no Spark
job: no file-status listing job (the session's listing threshold is the
engine's one metadata crossover, above the 64 files read here), no
parquet-footer schema inference, no key-probe job.  A query over the
frame then pays only its own jobs.

Jobs are counted from the status store, not from a job group: Spark's
parallel file listing runs on a helper thread whose jobs carry no
group."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_postgres_etl_spark.session import DISTRIBUTED_METADATA_MIN_FILES
from airflow_postgres_etl_spark.sink import (
    _load_manifest,
    keyed_merge_mor,
    keyed_overwrite_parquet,
    lookup_keys,
    read_keyed_table,
)
from airflow_postgres_etl_spark.views import (
    read_aggregate_view,
    refresh_aggregate_view,
)

NUM_BUCKETS = 64


def _job_ids(spark) -> set[int]:
    """Ids of every job the status store holds, once the listener bus
    has delivered all events posted so far."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def _jobs_launched(spark, build) -> tuple[object, int]:
    before = _job_ids(spark)
    out = build()
    return out, len(_job_ids(spark) - before)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """A 64-bucket table with one file per bucket, and one bucket with a
    pending merge-on-read delta."""
    target = str(tmp_path_factory.mktemp("budget") / "t")
    rows = [(f"k{i}", i % 7, i) for i in range(640)]
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame(rows, "oid__id string, g int, v long"),
        target,
        num_buckets=NUM_BUCKETS,
    )
    keyed_merge_mor(
        spark, spark.createDataFrame([("k5", 1, -5)], "oid__id string, g int, v long"), target
    )
    manifest = _load_manifest(target)
    n_files = sum(len(fs) for fs in manifest["buckets"].values())
    # more files than Spark's default listing threshold (32), fewer than
    # the engine's crossover: the old default listed them in a job
    assert 32 < n_files < DISTRIBUTED_METADATA_MIN_FILES
    assert manifest.get("deltas")
    return target


def test_session_listing_threshold_is_the_metadata_crossover(spark):
    # Spark lists in a job above the threshold; the footer pass goes
    # executor-side AT the crossover
    got = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
    assert int(got) == DISTRIBUTED_METADATA_MIN_FILES - 1


def test_read_keyed_table_builds_without_jobs(spark, table):
    df, n = _jobs_launched(spark, lambda: read_keyed_table(spark, table))
    assert n == 0
    assert df.count() == 640  # and the frame is the live table


def test_lookup_keys_builds_without_jobs(spark, table):
    keys = ["k5", "k6", "k600", "nope"]
    df, n = _jobs_launched(spark, lambda: lookup_keys(spark, table, keys))
    assert n == 0
    assert sorted((r.oid__id, r.v) for r in df.collect()) == [
        ("k5", -5), ("k6", 6), ("k600", 600)
    ]


def test_read_aggregate_view_builds_without_jobs(spark, table, tmp_path):
    mv = str(tmp_path / "mv")
    refresh_aggregate_view(spark, table, mv, ["g"], ["v"])
    df, n = _jobs_launched(spark, lambda: read_aggregate_view(spark, mv))
    assert n == 0
    want = {
        (r.g, r.n, r.s)
        for r in read_keyed_table(spark, table)
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert {(r.g, r.n, r.sum_v) for r in df.collect()} == want


def test_view_meta_without_schema_reads_by_inference(spark, table, tmp_path):
    """A view meta written before the schema entry still reads, through
    the same ``_read_files`` path with footer inference (one job)."""
    from airflow_postgres_etl_spark.storage import LOCAL_STORE
    from airflow_postgres_etl_spark.views import _meta_path

    mv = str(tmp_path / "mv")
    refresh_aggregate_view(spark, table, mv, ["g"], ["v"])
    want = sorted(tuple(r) for r in read_aggregate_view(spark, mv).collect())
    meta = LOCAL_STORE.read_json(_meta_path(mv))
    del meta["schema"]
    LOCAL_STORE.write_json(_meta_path(mv), meta)
    df, n = _jobs_launched(spark, lambda: read_aggregate_view(spark, mv))
    assert n == 1
    assert sorted(tuple(r) for r in df.collect()) == want
