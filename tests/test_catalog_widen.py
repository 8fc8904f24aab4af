"""Catalog widen + raw-read cache internals (r12 optimization).

The post-scan widen hash-partitions on each table's primary key instead
of round-robin: no sort-before-repartition, and the partitioning
satisfies downstream ClusteredDistribution on the key so the first
keyed aggregation/join pays no second exchange. The raw (un-widened)
``spark.read.parquet`` plan is cached on the session object and shared
across Tables instances; the widen stays per-instance.
"""

from __future__ import annotations

import os
import shutil

from data_bridge_spark.catalog import _WIDEN_KEYS, PARQUET_PLAN, Tables, _raw_reads
from tests.conftest import plan_string

# sf0.001 files are mostly under the 150 KB widen floor; sf0.01's
# lineitem (~1.1 MB) is inside the widen band.
SF_WIDEN = "/root/testdata/sf0.01"


def test_widen_is_hash_on_primary_key(spark):
    t = Tables(spark, SF_WIDEN)
    plan = plan_string(t.lineitem)
    assert "hashpartitioning(l_orderkey" in plan
    assert "RoundRobinPartitioning" not in plan


def test_widen_max_gate_excludes_large_files(spark, monkeypatch):
    """r13: files past 16 MB scan wide enough on their own that the
    widen's full-table exchange is a measured net loss (sf1 interleaved
    A/B, OPTIMIZATION_r13.md §7) — the gate must not fire on them."""
    import os as _os

    real_getsize = _os.path.getsize
    monkeypatch.setattr(
        "os.path.getsize", lambda p: 32 * 1024**2 if p.endswith("lineitem.parquet") else real_getsize(p)
    )
    plan = plan_string(Tables(spark, SF_WIDEN).lineitem)
    assert "hashpartitioning" not in plan
    assert "RoundRobinPartitioning" not in plan


def test_keyed_aggregation_reuses_widen_exchange(spark):
    """groupBy on the widen key must not add a second exchange: the
    widen's HashPartitioning(pk, n) satisfies the aggregation's
    ClusteredDistribution(pk)."""
    from pyspark.sql import functions as F

    t = Tables(spark, SF_WIDEN)
    plan = plan_string(t.lineitem.groupBy("l_orderkey").agg(F.count(F.lit(1))))
    assert plan.count("Exchange") == 1, plan


def test_every_table_has_a_widen_key():
    from data_bridge_spark.catalog import TABLE_NAMES

    assert set(_WIDEN_KEYS) == set(TABLE_NAMES)


def test_raw_read_cached_per_session(spark):
    t1 = Tables(spark, SF_WIDEN)
    t2 = Tables(spark, SF_WIDEN)
    t1.orders, t2.orders  # force both reads
    path = os.path.join(SF_WIDEN, "orders.parquet")
    st = os.stat(path)
    raw = _raw_reads(spark)
    assert raw[(path, PARQUET_PLAN)][:2] == (st.st_mtime_ns, st.st_size)
    # the second Tables reused the first's raw plan (one entry, and the
    # instance caches derive from it)
    assert [k for k in raw if k[0] == path] == [(path, PARQUET_PLAN)]


def test_raw_cache_keyed_by_sf_dir(spark):
    t = Tables(spark, SF_WIDEN)
    t_small = Tables(spark, "/root/testdata/sf0.001")
    a = t.orders
    b = t_small.orders
    # different files, different plans — never cross-served
    assert a._jdf is not b._jdf


def test_raw_cache_is_session_owned_and_replaces_stale_entries(spark, tmp_path):
    """The cache holds one entry per (path, plan) key: a file regenerated
    in place replaces its entry instead of adding one, and a new session
    starts with its own cache (the cache dies with its session)."""
    path = str(tmp_path / "orders.parquet")
    shutil.copyfile(os.path.join(SF_WIDEN, "orders.parquet"), path)
    session = spark.newSession()
    assert _raw_reads(session) is not _raw_reads(spark)
    Tables(session, str(tmp_path)).orders
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    Tables(session, str(tmp_path)).orders
    raw = _raw_reads(session)
    assert list(raw) == [(path, PARQUET_PLAN)]
    assert raw[(path, PARQUET_PLAN)][0] == st.st_mtime_ns + 10**9
