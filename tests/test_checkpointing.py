"""Durable-checkpoint conf for every fence.

``session.fence`` is either a lineage cut (``localCheckpoint``) or a
``persist``; neither survives every executor loss on a cluster. Setting
``spark.databridge.checkpointDir`` turns every fence, cut or persist, loop
or one-shot, into a durable reliable ``checkpoint()``. Each test below
pins, for one kind of fence site, that the conf (a) actually produces
files in the durable dir and (b) changes no values.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_durable_matches_local(spark, tmp_path, build):
    baseline = _rows(build())
    ckpt = str(tmp_path / "durable_ckpt")
    spark.conf.set("spark.databridge.checkpointDir", ckpt)
    try:
        durable = _rows(build())
    finally:
        spark.conf.unset("spark.databridge.checkpointDir")
    assert durable == baseline
    # the fence really went through reliable checkpoint(): files on disk
    assert any(fs for _, _, fs in os.walk(ckpt)), "durable checkpoint dir is empty"


def _docs(spark, sf_dir):
    from data_bridge_spark.catalog import Tables

    return Tables(spark, sf_dir).documents.filter(F.col("doc_id") < 200)


def test_durable_knob_writes_checkpoint_and_preserves_values(spark, sf_dir, tmp_path):
    """A cut fence (the LSH band table)."""
    from data_bridge_spark.operators.dedup import dedup_minhash_pairs

    _assert_durable_matches_local(spark, tmp_path, lambda: dedup_minhash_pairs(spark, sf_dir))


def test_durable_knob_reaches_persist_fence(spark, sf_dir, tmp_path):
    """A persist fence (basket_pairs' distinct basket items)."""
    from data_bridge_spark.operators.insights import basket_pairs

    _assert_durable_matches_local(spark, tmp_path, lambda: basket_pairs(spark, sf_dir))


def test_iterative_loop_honors_conf_knob(spark, sf_dir, tmp_path):
    """The CC label loop's eager per-round cuts."""
    from data_bridge_spark.operators.dedup import _lsh_cc_labels

    _assert_durable_matches_local(spark, tmp_path, lambda: _lsh_cc_labels(_docs(spark, sf_dir)))


def test_pagerank_loop_honors_conf_knob(spark, sf_dir, tmp_path):
    """PageRank's lazy per-round cuts."""
    from data_bridge_spark.operators.graph import pagerank

    _assert_durable_matches_local(spark, tmp_path, lambda: pagerank(_docs(spark, sf_dir)))
