"""Streaming fuzzy dedup: band-bucket suppression with bounded state."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_bridge_spark.operators.dedup import with_band_hash
from data_bridge_spark.streaming.windows import run_to_memory, stream_dedup_fuzzy


def test_stream_fuzzy_dedup_keeps_one_per_band(spark, sf_dir, tmp_path):
    # stage documents as a stream source with an event-time column
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "ts", F.timestamp_micros((F.lit(1700000000_000000) + F.col("doc_id") * 1000))
    )
    src = str(tmp_path / "docs_src")
    docs.coalesce(1).write.parquet(src)

    stream = (
        spark.readStream.schema(docs.schema).format("parquet").load(src)
    )
    kept = run_to_memory(stream_dedup_fuzzy(stream))

    batch = with_band_hash(docs).select("band_hash").distinct()
    batch_buckets = batch.count()
    # exactly one survivor per band bucket
    assert kept.count() == batch_buckets
    assert kept.select("band_hash").distinct().count() == batch_buckets
    # survivors' band hashes match the batch-side bucket set
    kept_buckets = {r.band_hash for r in kept.select("band_hash").collect()}
    all_buckets = {r.band_hash for r in batch.collect()}
    assert kept_buckets == all_buckets
