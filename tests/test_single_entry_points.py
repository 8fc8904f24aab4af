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


# Every function that calls ``fence``. A fence is a barrier to the
# optimizer, so each one earns its place: by construction (a loop whose
# plan grows every round, the benchmark queries' measured fences,
# dedup_ppjoin's cut sized for sf10, a write-side input read several
# times) ...
BUILT_IN_FENCES = {
    ("operators/dedup.py", "lsh_candidate_pairs"),
    ("operators/dedup.py", "_lsh_cc_labels"),
    ("operators/dedup.py", "dedup_ppjoin"),
    ("operators/features.py", "text_collocations"),
    ("operators/graph.py", "pagerank"),
    ("operators/tpch.py", "tpch_q11_important_stock"),
    ("plans/runner.py", "_store"),
    ("sinks/writers.py", "upsert_partitioned_table"),
}
# ... or by winning a no-fence A/B at sf0.1 and sf1, cited in one line at
# the site (FENCES_r16.json). A new fence is listed here with that line.
AB_FENCES = {
    ("operators/corpus.py", "text_contamination_spans"),
    ("operators/corpus.py", "corpus_ngram_novelty"),
    ("operators/insights.py", "basket_pairs"),
    ("operators/insights.py", "dedup_incremental"),
    ("operators/insights.py", "stats_ks"),
    ("operators/text.py", "text_boilerplate"),
}
FENCE_SITES = BUILT_IN_FENCES | AB_FENCES


def _calls_fence(node: ast.AST) -> bool:
    """``fence(...)`` or ``df.transform(fence, ...)``."""
    if not isinstance(node, ast.Call):
        return False
    if isinstance(node.func, ast.Name):
        return node.func.id == "fence"
    return (
        isinstance(node.func, ast.Attribute)
        and node.func.attr == "transform"
        and bool(node.args)
        and isinstance(node.args[0], ast.Name)
        and node.args[0].id == "fence"
    )


def test_fences_are_the_listed_sites():
    found, sources = set(), {}
    for d, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(d, f), PKG)
            with open(os.path.join(d, f)) as fh:
                text = fh.read()
            for fn in ast.walk(ast.parse(text)):
                if isinstance(fn, ast.FunctionDef) and any(_calls_fence(n) for n in ast.walk(fn)):
                    found.add((rel, fn.name))
                    sources[rel, fn.name] = ast.get_source_segment(text, fn)
    assert not found - FENCE_SITES, f"list the new fence and cite its A/B: {found - FENCE_SITES}"
    assert not FENCE_SITES - found, f"stale FENCE_SITES entries: {FENCE_SITES - found}"
    uncited = [s for s in AB_FENCES if "no-fence A/B" not in sources[s]]
    assert not uncited, f"cite the no-fence A/B at the site: {uncited}"
