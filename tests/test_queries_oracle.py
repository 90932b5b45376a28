"""Differential test: every registered query vs its DuckDB oracle at
sf0.001 (fast) — the local mirror of the driver's sf0.01 gate."""

from __future__ import annotations

import pytest

from airflow_postgres_etl_spark.plans import ORACLE, QUERIES

from .conftest import SF_SMOKE
from .oracle_utils import compare, run_oracle


def test_every_query_has_oracle_or_is_flagged():
    missing = set(QUERIES) - set(ORACLE)
    # non-SQL-expressible ops are allowed to omit an oracle, but must be
    # intentional — list them here when added
    allowed_missing: set[str] = set(ORACLE_EXEMPT)
    assert missing <= allowed_missing, f"queries missing oracles: {missing}"


ORACLE_EXEMPT: list[str] = []


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, name):
    spark_df = QUERIES[name](spark, SF_SMOKE)
    oracle_df = run_oracle(ORACLE[name], SF_SMOKE)
    compare(spark_df, oracle_df)


def test_session_window_exact_boundary(spark, tmp_path):
    """Pin the exact-boundary rule: Spark's session_window MERGES an event
    landing exactly at prev+gap (sessions extend while new start <= current
    end), so a new session needs gap STRICTLY > 1800 s — measured directly
    (ADVICE r1 suggested >=, which this fixture disproves; the oracle's
    strict > matches Spark).

    Events at t0, t0+1800 (same session: gap == duration), then +1801
    (new session: gap > duration)."""
    import datetime as dt

    import duckdb

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, 7, "click", 1.0, "{}"),
        (2, base + dt.timedelta(seconds=1800), 7, "click", 1.0, "{}"),
        (3, base + dt.timedelta(seconds=1800 + 1801), 7, "click", 1.0, "{}"),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?, ?)", rows)
    path = str(tmp_path / "events.parquet")
    con.execute(f"COPY events TO '{path}' (FORMAT PARQUET)")
    con.close()

    spark_df = QUERIES["q_session_windows"](spark, str(tmp_path))
    oracle_df = run_oracle(ORACLE["q_session_windows"], str(tmp_path))
    compare(spark_df, oracle_df)
    starts = [r.session_start for r in spark_df.collect()]
    assert len(starts) == 2  # exactly-1800 gap merged; 1801 split


def test_user_sessions_subsecond_gap(spark, tmp_path):
    """``q_user_sessions`` splits on a gap STRICTLY over 1800 s measured
    with its fractional part.  Events at t0+0.6 s, then +1800.3 s (new
    session — whole-second truncation read 1800 and merged it), then
    exactly +1800.0 s with the same fraction (same session), then
    +1799.9 s (same session), against the DuckDB twin."""
    import datetime as dt

    import duckdb

    base = dt.datetime(2024, 1, 1, 0, 0, 0, 600000)
    offsets = [0.0, 1800.3, 1800.3 + 1800.0, 1800.3 + 1800.0 + 1799.9]
    rows = [
        (i, base + dt.timedelta(seconds=off), 7, "click", 1.0, "{}")
        for i, off in enumerate(offsets)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?, ?)", rows)
    path = str(tmp_path / "events.parquet")
    con.execute(f"COPY events TO '{path}' (FORMAT PARQUET)")
    con.close()

    spark_df = QUERIES["q_user_sessions"](spark, str(tmp_path))
    compare(spark_df, run_oracle(ORACLE["q_user_sessions"], str(tmp_path)))
    assert [(r.n_sessions, r.n_events) for r in spark_df.collect()] == [(2, 4)]


def test_compare_rejects_dtype_class_drift(spark):
    """Regression for the round-5 blind spot: DuckDB's windowed ``sum(BIGINT)``
    returns HUGEINT, which pandas materializes as float64, so the driver's
    dtype-strict value hash fails while a lax ``0 == 0.0`` comparison passes.
    Pin the DuckDB conversion, and assert ``compare`` now rejects the
    integer-vs-float pairing even when every value is numerically equal."""
    import duckdb

    con = duckdb.connect()
    hug = con.execute(
        "SELECT COALESCE(sum(x) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED"
        " PRECEDING AND 1 PRECEDING), 0) AS s FROM (SELECT CAST(0 AS BIGINT) AS x)"
    ).fetchdf()
    con.close()
    assert str(hug["s"].dtype) == "float64", (
        "DuckDB HUGEINT no longer converts to float64 — revisit this pin"
    )
    spark_df = spark.createDataFrame([(0,)], "s: bigint")
    with pytest.raises(AssertionError, match="dtype-class"):
        compare(spark_df, hug)


def test_baseline_only_marker_names_registered_queries():
    from airflow_postgres_etl_spark.plans import BASELINE_ONLY

    assert BASELINE_ONLY == {
        "dedup_ngram_jaccard",
        "sim_knn_brute_force",
        # uncapped exact-recall twins: the pigeonhole block join saturates
        # (measured at 64x); the `*_capped` twins are the shippable defaults
        "dedup_simhash_near",
        "multimodal_image_near_dup",
    }
    assert BASELINE_ONLY <= set(QUERIES)
