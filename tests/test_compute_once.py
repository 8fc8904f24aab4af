"""Each stream input is read and computed once per process.

- ``upsert_partitioned_table`` fences its change batch, so the touched
  collect, the key anti-join, the range-partition sample and the write
  all read one computation of it; a batch the caller cached stays cached.
- ``read_file_source`` shares the session's raw-read cache with
  ``Tables``: a regular local file is inferred once per plan key and
  version, a directory is always listed afresh.
- Rows held in Python become Arrow ``LocalRelation``s, never Python-worker
  RDDs.
"""

from __future__ import annotations

import ast
import os
import shutil

from pyspark import StorageLevel
from pyspark.sql import functions as F

from data_bridge_spark.catalog import _EVENTS_PLAN, PARQUET_PLAN, Tables, _raw_reads
from data_bridge_spark.plans.models import SourceFile
from data_bridge_spark.session import local_frame
from data_bridge_spark.sinks.writers import upsert_partitioned_table, write_partitioned_table
from data_bridge_spark.sources.readers import read_file_source

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data_bridge_spark")
SCHEMA = "k bigint, p int, v double"


def _lake(spark, tmp_path):
    path = str(tmp_path / "lake")
    base = local_frame(spark, [(k, k % 3, float(k)) for k in range(30)], SCHEMA)
    write_partitioned_table(base, path, partition_cols=["p"])
    return path


def test_upsert_evaluates_its_change_batch_once(spark, tmp_path):
    path = _lake(spark, tmp_path)
    rows = [(k, k % 3, -1.0) for k in range(0, 40, 2)]  # 15 replaced, 5 new keys
    seen = spark.sparkContext.accumulator(0)

    def counted(row):
        seen.add(1)
        return row

    updates = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2).map(counted), SCHEMA)
    n = upsert_partitioned_table(
        spark, updates, path, partition_cols=["p"], key_cols=["k"], sort_cols=["k"]
    )
    assert seen.value == len(rows)
    after = spark.read.parquet(path)
    assert after.count() == 35 and n == 35
    assert {r.k for r in after.filter(F.col("v") == -1.0).collect()} == {r[0] for r in rows}
    # the fence is dropped when the upsert returns
    assert updates.storageLevel == StorageLevel.NONE


def test_upsert_keeps_a_callers_cached_batch(spark, tmp_path):
    path = _lake(spark, tmp_path)
    # an int partition column: the canonicalized batch has the caller's
    # own plan, so an unpersist of it would drop the caller's cache
    updates = local_frame(spark, [(1, 1, -1.0), (99, 0, 5.0)], SCHEMA).cache()
    updates.count()
    try:
        upsert_partitioned_table(spark, updates, path, partition_cols=["p"], key_cols=["k"])
        assert updates.storageLevel != StorageLevel.NONE
        assert spark.read.parquet(path).count() == 31
    finally:
        updates.unpersist()


def _jobs(spark, fn):
    """(result of fn(), Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"compute_once_{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_file_extract_starts_no_job(spark, sf_dir, tmp_path):
    shutil.copyfile(os.path.join(sf_dir, "orders.parquet"), tmp_path / "orders.parquet")
    src = SourceFile(name="w", path=str(tmp_path), format="parquet")
    first, n_first = _jobs(spark, lambda: read_file_source(spark, src, table="orders.parquet"))
    second, n_second = _jobs(spark, lambda: read_file_source(spark, src, table="orders.parquet"))
    assert n_first >= 1, "schema inference should have run a job"
    assert n_second == 0
    assert second is first


def test_file_rewritten_in_place_is_read_fresh(spark, tmp_path):
    path = tmp_path / "rows.csv"
    path.write_text("a\n1\n2\n")
    src = SourceFile(name="w", path=str(path), format="csv")
    assert read_file_source(spark, src).count() == 2
    path.write_text("a\n1\n2\n3\n")
    assert read_file_source(spark, src).count() == 3
    # one entry per key: the rewrite replaced the stale one
    assert len([k for k in _raw_reads(spark) if k[0] == str(path)]) == 1


def test_directory_extract_is_never_cached(spark, tmp_path):
    path = str(tmp_path / "dir")
    local_frame(spark, [(1, 1, 1.0)], SCHEMA).write.parquet(path)
    src = SourceFile(name="w", path=path, format="parquet")
    first = read_file_source(spark, src)
    assert first.count() == 1
    local_frame(spark, [(2, 2, 2.0)], SCHEMA).write.mode("append").parquet(path)
    second = read_file_source(spark, src)
    assert second is not first and second.count() == 2
    assert not [k for k in _raw_reads(spark) if k[0] == path]


def test_catalog_events_and_raw_extract_never_cross_served(spark, sf_dir, tmp_path):
    """Tables' events frame is normalized (ts rebuilt); a raw parquet
    extract of the same file must get its own read, whichever comes
    first."""
    for order in ("catalog_first", "extract_first"):
        d = tmp_path / order
        d.mkdir()
        shutil.copyfile(os.path.join(sf_dir, "events.parquet"), d / "events.parquet")
        path = str(d / "events.parquet")
        session = spark.newSession()
        src = SourceFile(name="w", path=str(d), format="parquet")
        if order == "catalog_first":
            Tables(session, str(d)).events
            raw = read_file_source(session, src, table="events.parquet")
        else:
            session.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            raw = read_file_source(session, src, table="events.parquet")
            Tables(session, str(d)).events
        cache = _raw_reads(session)
        assert set(cache) == {(path, PARQUET_PLAN), (path, _EVENTS_PLAN)}
        assert cache[(path, PARQUET_PLAN)][2] is raw
        assert cache[(path, _EVENTS_PLAN)][2] is not raw


def test_local_frame_is_a_local_relation(spark):
    df = local_frame(spark, [(1, 1, 1.0), (2, None, None)], SCHEMA)
    assert df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"
    assert df.collect() == [(1, 1, 1.0), (2, None, None)]
    assert local_frame(spark, [], SCHEMA).count() == 0


def test_only_local_frame_builds_python_rows():
    """Every createDataFrame in the package is the one in
    session.local_frame, which hands Spark an Arrow table: Python rows
    handed to createDataFrame go through parallelize and start Python
    workers on every evaluation."""
    hits = []
    for d, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            full = os.path.join(d, f)
            with open(full) as fh:
                tree = ast.parse(fh.read())
            hits += [
                (os.path.relpath(full, PKG), node.lineno)
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ]
    with open(os.path.join(PKG, "session.py")) as fh:
        fn = next(
            n for n in ast.parse(fh.read()).body
            if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
        )
    assert [h for h in hits if not (h[0] == "session.py" and fn.lineno <= h[1] <= fn.end_lineno)] == []
    assert len(hits) == 1
