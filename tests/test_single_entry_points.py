"""One way to do each thing: every fence goes through ``session.fence``,
every A/B goes through ``tools/ab.py``, and every read of Spark's metrics
goes through ``metrics.py``."""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "data_bridge_spark")
sys.path.insert(0, os.path.join(ROOT, "tools"))

FENCE_CALLS = {"localCheckpoint", "checkpoint", "persist", "cache"}

# (module, method) -> why it is not a fence
ALLOW = {
    ("operators/similarity.py", "persist"): "k-means training pin, unpersisted in finally",
}


def _fence_calls() -> list[tuple[str, str, int]]:
    hits = []
    for d, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(d, f), PKG)
            with open(os.path.join(d, f)) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in FENCE_CALLS
                ):
                    hits.append((rel, node.func.attr, node.lineno))
    return hits


def test_only_session_fence_materializes():
    calls = [h for h in _fence_calls() if h[0] != "session.py"]
    stray = [h for h in calls if h[:2] not in ALLOW]
    assert not stray, f"call session.fence instead: {stray}"
    # one call per allow-listed site, and no stale entries
    assert sorted(h[:2] for h in calls) == sorted(ALLOW)


# Spark's metrics as the tools and the engine may not read them: the
# codegen counters, the status stores and job-group lookups.
METRIC_READS = ("CodegenMetrics", "statusStore", "statusTracker", "getJobIdsForGroup")


def test_only_the_ledger_reads_spark_metrics():
    hits = []
    for top in ("data_bridge_spark", "tools"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            for f in files:
                if f.endswith(".py"):
                    rel = os.path.relpath(os.path.join(d, f), ROOT)
                    with open(os.path.join(d, f)) as fh:
                        text = fh.read()
                    hits += [(rel, t) for t in METRIC_READS if t in text]
    stray = [h for h in hits if h[0] != os.path.join("data_bridge_spark", "metrics.py")]
    assert not stray, f"read Spark's metrics through metrics.measure: {stray}"


def test_ab_harness_runs_conf_variants_with_parity(spark, sf_dir, capsys):
    import ab

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    variants = {"p2": f"conf:{key}=2", "p3": f"conf:{key}=3"}
    samples = ab.run(spark, sf_dir, ["agg_report"], variants, rounds=2)
    assert spark.conf.get(key) == before
    assert set(samples) == {("agg_report", "p2"), ("agg_report", "p3")}
    for ms in samples.values():
        assert len(ms) == 2 and min(m.total_s for m in ms) > 0
        assert all(m.compiles >= 0 and m.rows == ms[0].rows for m in ms)
    ab.report(samples, ["agg_report"], list(variants))
    out = capsys.readouterr().out
    assert "build" in out and "compiles" in out and "parity" in out

    # a sym: variant may rebind a module outside the package: the
    # no-hint leg of a kept broadcast hint's A/B
    from pyspark.sql import functions as F

    broadcast = F.broadcast
    no_hints = "sym:pyspark.sql.functions.broadcast=lambda df: df"
    with ab.applied(spark, no_hints):
        assert F.broadcast is not broadcast
    assert F.broadcast is broadcast
    q11 = "tpch_q11_important_stock"
    samples = ab.run(spark, sf_dir, [q11], {"as_written": "", "no_hints": no_hints}, rounds=1)
    assert set(samples) == {(q11, "as_written"), (q11, "no_hints")}
    assert F.broadcast is broadcast

