"""Structured Streaming operators over the events shape (SURVEY.md §2D).

The reference has no incremental execution — its "stream" is a batch
pipeline (reference ``app/utils/datastream.py:27-53``). These are the
additive streaming capabilities: watermarked tumbling/sliding windows,
session windows, and stateful dedup, each the incremental twin of a batch
operator in ``operators/events.py`` (same aggregation logic, so the batch
DuckDB oracle pins the semantics, and the streaming tests assert
stream==batch on a replayed file source).

At scale these run unchanged against Kafka/files with checkpointing; the
tests drive them with the file source + a memory sink and
``processAllAvailable()`` (synchronous, deterministic).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_bridge_spark.session import local_frame


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table.

    The testdata generator has written ts as TIMESTAMP(NANOS) (read as
    raw long nanos via the legacy conf) or TIMESTAMP(MICROS), depending
    on vintage — so the stream schema is taken from a batch footer read
    of the same file, and ``catalog.normalize_event_ts`` rebuilds a
    microsecond TIMESTAMP_NTZ either way (watermarks need an
    instant-typed column, and batch/stream twins must agree on ts).

    nanosAsLong is a session conf with no per-scan equivalent, and it is
    read when the stream executes — it cannot be set/restored around
    ``load()``. It is deliberately left session-pinned, to the SAME value
    the batch catalog pins (so batch reads of the events table behave
    identically); every other parquet table in the testdata has no nanos
    column and is unaffected.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the file streaming source wants a directory; stage a symlink dir
    # pointing at the single events.parquet (a real deployment points this
    # at a landing directory / Kafka topic instead). atexit-tracked: the
    # StreamingQuery built on the returned plan reads it until stopped.
    import os

    from data_bridge_spark.catalog import normalize_event_ts
    from data_bridge_spark.util import tracked_tempdir

    src = os.path.abspath(f"{sf_dir}/events.parquet")
    schema = spark.read.parquet(src).schema
    staging = tracked_tempdir("dbs_stream_src_")
    os.symlink(src, os.path.join(staging, "events.parquet"))
    raw = spark.readStream.schema(schema).format("parquet").load(staging)
    return normalize_event_ts(raw, as_ntz=False)


def stream_tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 10-minute windows with late-data drop — streaming twin of
    operators/events.win_tumbling."""
    from data_bridge_spark.functions.exact import dsum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def stream_sliding_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Sliding windows (10 min / 5 min) — twin of win_sliding."""
    from data_bridge_spark.functions.exact import dsum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def stream_session_window(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (30-minute inactivity gap) — the streaming
    engine maintains open sessions as state; batch twin is win_session."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful dedup on event_id within the watermark horizon — the
    streaming form of exact dedup (state is bounded by the watermark,
    which is what makes it viable on an unbounded stream)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def stream_dedup_fuzzy(docs: DataFrame, watermark_col: str = "ts") -> DataFrame:
    """Streaming near-dup suppression: MinHash-LSH band keys computed on
    the stream, stateful dedup on the band hash — the first document in
    any near-dup band bucket passes, later lookalikes are dropped while
    their band lives inside the watermark horizon. The streaming twin of
    the batch minhash/banding stage (operators/dedup.py), with state
    bounded by the watermark (the property that makes fuzzy dedup viable
    on an unbounded crawl feed)."""
    from data_bridge_spark.operators.dedup import with_band_hash

    return (
        with_band_hash(docs)
        .withWatermark(watermark_col, "1 hour")
        .dropDuplicatesWithinWatermark(["band_hash"])
    )


def run_to_memory(stream_df: DataFrame, mode: str = "append") -> DataFrame:
    """Drive a streaming plan to completion against an in-memory table and
    return the result as a batch DataFrame (test/debug harness).

    The memory-sink table is materialized and dropped before returning —
    repeated calls don't accumulate driver-resident result tables."""
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    spark = stream_df.sparkSession
    out = spark.sql(f"SELECT * FROM {name}")
    rows, schema = out.collect(), out.schema
    spark.catalog.dropTempView(name)
    return local_frame(spark, rows, schema)


def stream_to_lake(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    partition_cols: list[str],
):
    """Continuous partitioned-lakehouse ingestion: the streaming twin of
    sinks.writers.write_partitioned_table. The parquet file sink commits
    each micro-batch through its transaction log (``_spark_metadata``),
    so a batch is visible atomically and a restart from the checkpoint
    neither loses nor duplicates files — exactly-once landing into the
    same Hive-style ``col=value/`` layout batch reads partition-prune
    on. Returns the StreamingQuery handle (availableNow trigger: drain
    what exists, then stop — the batch-backfill-compatible mode)."""
    return (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy(*partition_cols)
        .trigger(availableNow=True)
        .start()
    )


def _orderable(dt) -> bool:
    """True iff Spark can ORDER BY a column of this type (MapType — at
    any nesting depth — is not orderable and throws at analysis)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def stream_upsert_to_lake(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    partition_cols: list[str],
    key_cols: list[str],
    tiebreak_cols: list[str] | None = None,
):
    """Streaming CDC apply: each micro-batch of changed rows is MERGED
    into the partitioned lake table via
    sinks.writers.upsert_partitioned_table — later versions of a key
    replace earlier ones, per-batch cost proportional to the partitions
    the batch touches (vs stream_to_lake's append-only landing). The
    classic change-stream→serving-table bridge where updates exist.

    foreachBatch + checkpoint gives exactly-once APPLICATION of each
    micro-batch: after a restart, a replayed batch re-upserts the same
    keys idempotently (upsert is deterministic replace-by-key, so a
    duplicate apply converges to the same table). Within a batch,
    duplicate keys are reduced to the latest by ts before the merge —
    upsert requires one row per key. Tie rule: two change rows for the
    same key with EQUAL ts are broken by comparing the remaining
    ORDERABLE columns (map-typed columns like events.props would throw
    at analysis) in sorted-name order, descending — a deterministic
    total order independent of the batch's physical column order, so a
    checkpoint replay of the same batch picks the same winner and the
    idempotence contract above holds. Pass ``tiebreak_cols`` to pin the
    tie order explicitly instead (e.g. a CDC sequence column).
    Returns the StreamingQuery handle (availableNow: drain, then stop)."""
    from data_bridge_spark.sinks.writers import upsert_partitioned_table

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.head(1):
            return
        spark = batch_df.sparkSession
        if tiebreak_cols is not None:
            tiebreak = [F.col(c).desc() for c in tiebreak_cols]
        else:
            tiebreak = [
                F.col(f.name).desc()
                for f in sorted(batch_df.schema.fields, key=lambda f: f.name)
                if f.name not in (*key_cols, "ts") and _orderable(f.dataType)
            ]
        w = W.partitionBy(*key_cols).orderBy(F.col("ts").desc(), *tiebreak)
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        upsert_partitioned_table(
            spark, latest, path, partition_cols=partition_cols, key_cols=key_cols
        )

    return (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )


def deliver_stream(
    stream_df: DataFrame,
    sink_fn,
    checkpoint_dir: str,
    mode: str = "update",
):
    """foreachBatch delivery into any batch sink (fileshare/SFTP/SMTP
    writers from sinks/) — exactly-once per micro-batch with
    checkpointing. Returns the StreamingQuery handle."""
    return (
        stream_df.writeStream.outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda batch_df, epoch_id: sink_fn(batch_df, epoch_id))
        .start()
    )


def stream_drift_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Per-(ingest window, event_type) counts — the streaming state behind
    a distribution-drift monitor (batch twin: operators/mlprep.dq_drift).
    15-day tumbling windows phase-shifted to land on the drift boundary
    (2024-01-16); the drift statistic itself is computed OVER the
    emitted counts (a |windows|x|types|-row table, never event-sized) by
    the consumer — foreachBatch, or the batch TV arithmetic in dq_drift,
    which the stream==batch test reuses verbatim."""
    # align epoch-anchored 15-day windows to 2024-01-01: 19723 days since
    # epoch, 19723 % 15 = 13
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "15 days", "15 days", "13 days").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def stream_feature_stats(events: DataFrame) -> DataFrame:
    """Incremental fitted-scaler statistics — the streaming twin of
    feature_standardize's FIT stage: per event type, maintain (n, exact
    sum, exact sum of squares) over `value` as data arrives, so the
    z-scale parameters are always current without refitting over the
    corpus. Because the sums are decimal-exact (order- and
    batch-boundary-insensitive), the streaming result is bit-identical
    to the batch fit on the same data — asserted in tests — and the
    map-side transform step consumes the latest stats row exactly as the
    batch operator does. Unbounded-aggregate (no watermark) in complete
    mode: state is one row per event type, the same O(categories) bound
    as the batch fit table."""
    from data_bridge_spark.functions.exact import dec, dec_to_double, dmoney

    v = F.col("value")
    return events.groupBy("event_type").agg(
        F.count("value").alias("n"),
        dec_to_double(F.sum(dec(v)), 6).alias("sx"),
        dec_to_double(F.sum(dmoney(v) * dmoney(v)), 8).alias("sxx"),
    )
