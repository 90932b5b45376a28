"""SparkSession factory.

One place to pin the configs that matter for correctness (UTC session
timezone so timestamps compare 1:1 with the DuckDB oracle) and for scale
(AQE on, shuffle partitions sized to the machine, Arrow for the few
pandas-UDF paths).

At 100 TB these same settings hold: AQE re-plans shuffles at runtime
(coalescing small partitions, splitting skewed ones), and
``shuffle.partitions`` becomes a cluster-level knob rather than a
hard-coded 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: File-count crossover between per-file metadata work done serially on
#: the driver and the same work fanned out as a Spark job.  It governs
#: both places the engine has such work: the commit path's parquet
#: footer stats/row counts (``sink._file_stats``, ``sink._fill_row_counts``)
#: and Spark's own file-status listing of an explicit file list
#: (``spark.sql.sources.parallelPartitionDiscovery.threshold``, set in
#: :func:`get_spark`).  Measured locally (SCALE.md, r9): one local-disk
#: footer decode is ~80 µs (512 files = 41 ms serial) while a Spark job
#: costs a flat ~230 ms, so on LOCAL paths the loop wins to ~3,000
#: files.  The default of 256 instead caps the driver's serial work at
#: ~20 ms: commits and scans of 256+ files run multi-second jobs, so the
#: ≤0.2 s job overhead is noise there, and the cap protects the failure
#: mode the executor leg exists for — an object-store deployment where a
#: per-file open is a ms-class round trip and thousands of files would
#: serialize into MINUTES on the driver (such a deployment lowers the
#: env to ~16, its own crossover).  Below it, a read of a manifest's
#: file list launches no listing job (Spark's default threshold of 32
#: paths made every 64-bucket table scan pay one).  Tests force either
#: leg of the footer pass by monkeypatching ``sink``'s binding.
DISTRIBUTED_METADATA_MIN_FILES = int(
    os.environ.get("SPARK_GRAFT_STATS_DISTRIBUTED_MIN_FILES", "256")
)


def get_spark(
    app_name: str = "airflow_postgres_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    Local-mode defaults; on a real cluster the master/memory settings come
    from spark-submit and everything here remains valid.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark lists in a job when paths > threshold; the footer pass
        # goes executor-side at >= the crossover — same switch point
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(DISTRIBUTED_METADATA_MIN_FILES - 1),
        )
        # testdata parquet stores TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as long nanos, converted in sources.parquet_source
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
