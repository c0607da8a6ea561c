"""SparkSession factory and runtime configuration.

Design for 100 TB (SURVEY.md §7.9): AQE on (runtime re-planning, skew-join
splitting, coalescing post-shuffle partitions), Arrow for every
Python<->JVM data exchange, and sane shuffle-partition defaults that a real
cluster deployment would override via ``spark-defaults.conf``.

The driver harness creates its *own* SparkSession, so every conf that our
queries depend on for *correctness* (not just speed) must be settable at
runtime on an existing session — :func:`configure_session` is called by the
catalog loader on each entry point.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe and required to set on an already-running session.
_RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS), which Spark's vectorized
    # parquet reader rejects by default; read the physical int64 and convert
    # explicitly (catalog.load_table) so semantics stay explicit.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp semantics matching the DuckDB oracle's naive
    # (timezone-less) timestamps.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime shuffle-partition coalescing + skew-join
    # handling — the single most important 100 TB knob.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow everywhere Python touches data (pandas_udf, toPandas,
    # applyInPandas): batch columnar transfer instead of row pickling.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs required for correctness on *any* session.

    Idempotent; safe on sessions we did not create (the driver's).
    """
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:
            # A conf may be non-runtime-settable on some builds; queries
            # that need it will fail loudly with a clear parquet/type error.
            import logging

            logging.getLogger(__name__).warning(
                "could not set %s=%s on running session: %s", key, value, exc
            )
    return spark


def get_spark(
    app_name: str = "pycaim_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for this engine.

    On a real cluster ``master``/executor sizing come from spark-submit;
    locally we default to ``local[N]`` with N from $SPARK_GRAFT_CPUS.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cpus),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("PYCAIM_DRIVER_MEM", "8g"))
        # 128 MiB input splits: the right default for 100 TB parquet
        # layouts (≈1 task per HDFS/S3 block). Local benches on ~10 MiB
        # fixture files override via env to parallelize the scan
        # (bench.py sets 4 MiB).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("PYCAIM_MAX_PARTITION_BYTES", "134217728"),
        )
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    # Ad-hoc conf overrides (perfbench sets them for its JVM):
    # PYCAIM_EXTRA_CONFS="key=value;key=value" — applied last so they win.
    for pair in os.environ.get("PYCAIM_EXTRA_CONFS", "").split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure_session(spark)
