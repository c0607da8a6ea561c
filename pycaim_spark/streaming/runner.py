"""Streaming execution helpers: file-source replay of the events fixture and
bounded (availableNow) micro-batch runs into memory sinks.

The events table is the batch stand-in for the stream (FIXTURES.md): a
parquet file-source stream replays it through the SAME logical plans the
batch twins use, which is what makes the twin-equality tests meaningful —
identical semantics minus the watermark (SURVEY.md §3.3).
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pycaim_spark.catalog import load_table
from pycaim_spark.session import configure_session

_SCRATCH = os.environ.get(
    "PYCAIM_SCRATCH",
    os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch"),
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream with event-time ``ts``.

    The fixture stores ns-precision timestamps (read as long via
    ``nanosAsLong``); watermarks/windows need TimestampType, so ``ts`` is
    converted exactly like the batch catalog (integer ``DIV`` — see
    catalog.py) but kept timezone-aware (session is pinned UTC).
    """
    configure_session(spark)
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        # maxFilesPerTrigger keeps the replay micro-batched even with one
        # file; at scale the source is a directory of arriving files.
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def stream_state_partitions(spark: SparkSession, sf_dir: str) -> int:
    """State-store partition count for the stateful streaming operators,
    keyed on EXPECTED STATE SIZE (via source bytes) instead of core count
    (VERDICT r18 #3). The default ``spark.sql.shuffle.partitions`` tracks
    the core count, and every stateful micro-batch — including the no-data
    finalize batch availableNow always appends — pays a state-store
    open/commit per partition (~27 ms each per the StreamingQueryProgress
    decomposition in OPTIMIZATION_r18.md, `stream_watermark_agg` row), so
    the cost scaled with CORES, not data: the r18 driver's scaling block
    read stream_watermark_agg at 0.29 (8 cores 3.4× faster than 32 on
    identical code). With this sizing the 8/32-core ratio is 0.95
    (ISOLATE_r19.json `stream_state_partitions_core_scaling`), and the
    shipped default beat a forced 32 partitions in 4/4 order-alternating
    fresh-JVM rounds, ~1.0 vs ~2.0 s (`stream_state_partitions_series`).

    Sizing rule: one state partition per ~32 MiB of source input — the
    watermark bounds live state to a fraction of in-flight input, so
    source volume is the honest proxy — clamped to [1, defaultParallelism]
    locally. On a deployment whose state cardinality is known, set
    $PYCAIM_STREAM_STATE_PARTITIONS so each partition holds ~100 MB of
    state; the env wins unconditionally. The count is pinned into the
    checkpoint at first start, so it must be chosen before ``.start()`` —
    ``run_available_now`` applies it for the query's lifetime only."""
    explicit = os.environ.get("PYCAIM_STREAM_STATE_PARTITIONS")
    if explicit:
        return max(1, int(explicit))
    src = os.path.join(sf_dir, "events.parquet")
    try:
        nbytes = (
            os.path.getsize(src)
            if os.path.isfile(src)
            else sum(
                os.path.getsize(os.path.join(root, f))
                for root, _d, files in os.walk(src)
                for f in files
                if f.endswith(".parquet")
            )
        )
    except OSError:
        nbytes = 0
    return max(1, min(spark.sparkContext.defaultParallelism, nbytes >> 25))


def run_available_now(
    result: DataFrame,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow trigger) into a
    memory sink; return the materialized result as a batch DataFrame.

    ``state_partitions`` (stateful queries): applied as the session's
    shuffle-partition count for exactly this query's lifetime — streaming
    state partitioning is pinned from ``spark.sql.shuffle.partitions`` at
    first start — then restored, so co-resident batch queries never see it."""
    spark = result.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    checkpoint = os.path.join(_SCRATCH, "checkpoints", name)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        query = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


def make_idempotent_upsert(out: str, keep_versions: int = 3):
    """foreachBatch callback: MERGE each micro-batch into a versioned
    per-user snapshot table, exactly-once without a transactional format.

    The production sink pattern foreachBatch exists for: per batch,
    aggregate the delta (per-user event count + latest event), merge it
    with the previous snapshot (counts add, latest wins by (ts, event_id)),
    and write an immutable version directory ``v{batch_id}``. Idempotence
    is batch-id keyed — a re-delivered batch (sink failure after write,
    before checkpoint commit) finds its completed version directory and
    SKIPS, so at-least-once delivery plus this sink equals exactly-once.
    Versioned-dir-plus-latest-pointer is the delta-less stand-in for what
    Delta/Iceberg give transactionally; the foreachBatch body runs on the
    DRIVER (only the DataFrame ops inside distribute), so the os.path
    bookkeeping is coordinator-local by design.

    Retention: after each successful write only the newest
    ``keep_versions`` completed snapshots are kept (each version is a FULL
    snapshot — older ones are replay history, not state), so a long-running
    stream's version chain stays bounded. Idempotence survives pruning:
    versions commit in batch order, so any batch id ≤ the newest completed
    version is already folded into that snapshot and re-delivery skips.
    """
    os.makedirs(out, exist_ok=True)

    def _flat(agg: DataFrame) -> DataFrame:
        return agg.select(
            "user_id",
            "n_events",
            F.col("_last.ts").alias("last_ts"),
            F.col("_last.event_id").alias("last_event_id"),
            F.col("_last.event_type").alias("last_event_type"),
        )

    def _done_versions() -> list[int]:
        return sorted(
            int(d[1:])
            for d in os.listdir(out)
            if d.startswith("v")
            and os.path.exists(os.path.join(out, d, "_SUCCESS"))
        )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        vdir = os.path.join(out, f"v{batch_id}")
        if os.path.exists(os.path.join(vdir, "_SUCCESS")):
            return  # re-delivered batch: already merged, skip
        prior = _done_versions()
        if prior and prior[-1] >= batch_id:
            # Re-delivered batch whose own version dir was pruned: versions
            # commit in batch order, so the newest snapshot already folded
            # this batch in — merging again would double-count.
            return
        snap = _flat(
            batch_df.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.max(F.struct("ts", "event_id", "event_type")).alias("_last"),
            )
        )
        if prior:
            prev = batch_df.sparkSession.read.parquet(
                os.path.join(out, f"v{prior[-1]}")
            )
            snap = _flat(
                prev.unionByName(snap)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").cast("bigint").alias("n_events"),
                    F.max(
                        F.struct(
                            F.col("last_ts").alias("ts"),
                            F.col("last_event_id").alias("event_id"),
                            F.col("last_event_type").alias("event_type"),
                        )
                    ).alias("_last"),
                )
            )
        snap.write.mode("overwrite").parquet(vdir)
        # Bounded retention: every version is a full snapshot, so only the
        # newest keep_versions matter. Prune AFTER the new version's
        # _SUCCESS exists — a crash mid-prune leaves extra (complete)
        # versions, never a missing latest.
        import shutil

        for v in _done_versions()[: -max(keep_versions, 1)]:
            shutil.rmtree(os.path.join(out, f"v{v}"), ignore_errors=True)

    return upsert


def latest_upsert_snapshot(spark: SparkSession, out: str) -> DataFrame:
    """Read the highest completed version written by the idempotent upsert."""
    done = sorted(
        int(d[1:])
        for d in os.listdir(out)
        if d.startswith("v") and os.path.exists(os.path.join(out, d, "_SUCCESS"))
    )
    if not done:
        raise FileNotFoundError(
            f"no completed upsert snapshot under {out}: no v<N> directory "
            "carries a _SUCCESS marker (the stream wrote nothing, or every "
            "version write failed before commit)"
        )
    return spark.read.parquet(os.path.join(out, f"v{done[-1]}"))


def batch_events_with_tz_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch events with ``ts`` as TimestampType (UTC) — the exact input
    type the streaming plans see, for twin-equality comparisons."""
    ev = load_table(spark, sf_dir, "events")
    return ev.withColumn("ts", F.col("ts").cast("timestamp"))
