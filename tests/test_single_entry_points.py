"""One way to do each thing: every fence goes through ``session.fence``,
and every A/B goes through ``tools/ab.py``."""

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


def test_ab_harness_runs_conf_variants_with_parity(spark, sf_dir):
    import ab

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    variants = {"p2": f"conf:{key}=2", "p3": f"conf:{key}=3"}
    samples, compiles = ab.run(spark, sf_dir, ["agg_report"], variants, rounds=2)
    assert spark.conf.get(key) == before
    assert set(samples) == set(compiles) == {("agg_report", "p2"), ("agg_report", "p3")}
    for times in samples.values():
        assert len(times) == 2 and min(times) > 0
    assert all(n >= 0 for n in compiles.values())

    # a sym: variant may rebind a module outside the package: the
    # no-hint leg of a kept broadcast hint's A/B
    from pyspark.sql import functions as F

    broadcast = F.broadcast
    no_hints = "sym:pyspark.sql.functions.broadcast=lambda df: df"
    with ab.applied(spark, no_hints):
        assert F.broadcast is not broadcast
    assert F.broadcast is broadcast
    q11 = "tpch_q11_important_stock"
    samples, _ = ab.run(spark, sf_dir, [q11], {"as_written": "", "no_hints": no_hints}, rounds=1)
    assert set(samples) == {(q11, "as_written"), (q11, "no_hints")}
    assert F.broadcast is broadcast

