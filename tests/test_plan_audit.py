"""Global plan-hygiene audit: every registered query's physical plan is
checked for the anti-patterns that kill 100 TB runs — cartesian products,
nested-loop joins, and row-at-a-time Python evaluation. Queries that use
one *by design* are allowlisted with the reason; anything else tripping a
flag (or an allowlisted query going clean, i.e. a stale allowlist) fails.
This is the repo-wide version of the per-query assertions in
test_plan_properties.py.
"""

from __future__ import annotations

import ast
import os
import re

import pytest
from pyspark.sql import types as T

from data_bridge_spark.registry import load_all

REG = load_all()

FLAGS = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")

# name -> why a flagged node is the intended plan there
ALLOW: dict[str, str] = {
    "join_cross": "explicit tiny region x status grid (cross join by contract)",
    "join_range": "interval join vs a 4-row literal tier table (broadcast side is O(1))",
    "join_skew_salted": "salt replication: cross join vs a SALT-row literal range",
    "sim_topk": "brute-force ANN baseline: broadcast probe set is bounded by design",
    "dedup_embed": "pairwise verify on a bounded block standing in for the LSH candidate set",
    "dedup_ngram": "pairwise Jaccard on a bounded block standing in for the LSH candidate set",
    "skyline_pareto": "dominance anti-join on a bounded block; skyline_grid is the scale path",
    "skyline_grid": "phase-2 dominance join runs only on the small union of local skylines",
    "udtf_expand": "the B22 Python-UDTF surface itself (BatchEvalPython is what a UDTF is)",
    "sim_range_search": "radius scan vs a 10-vector broadcast query set (corpus never shuffles; LSH/IVF are the large-query-set paths)",
    "mlprep_rebalance": "cross join vs the 1-row global max-class aggregate (broadcast side is O(1); the per-class factor join itself is a broadcast hash join)",
    "tpch_q22_dormant": "scalar-subquery shape: cross join vs the 1-row global average-balance aggregate (broadcast side is O(1))",
    "tpch_q11_important_stock": "HAVING-over-global-scalar shape: cross join vs the 1-row grand-total aggregate (broadcast side is O(1))",
    "basket_pairs": "audit-column edge: cross join vs the 1-row dropped-basket count (broadcast side is O(1))",
    "sim_recall_report": "contains the brute-force baseline (sim_topk's bounded broadcast probe set) plus the 1-row n_exact scalar-edge cross join",
    "stats_ks": "distributed-CDF prefix sum: cross join vs the 1-row (min,max,n_a,n_b) aggregate (broadcast side is O(1)); per-bucket windows + bounded offset table replace a global ordered window",
    "text_term_lift": "scalar-edge cross join vs the 1-row grand-total token count (broadcast side is O(1))",
    "agg_benford": "scalar-edge cross join vs the 1-row digit-count total over a 9-row table (broadcast side is O(1))",
    "profile_skew": "scalar-edge cross join vs the 1-row (total, n_keys) aggregate against the top-k survivor set (broadcast side is O(1))",
    "agg_gini": "distributed-CDF prefix sum (stats_ks pattern): cross join vs the 1-row (min,max) aggregate (broadcast side is O(1)); per-bucket windows + bounded offset table replace the global sort the textbook Gini needs",
    "feature_standardize": "fit/transform scalar edge: cross join vs the 1-row (n, sum, sumsq) fitted-stats aggregate (broadcast side is O(1))",
    "feature_minmax": "fit/transform scalar edge: cross join vs the 1-row (min, max) fitted-stats aggregate (broadcast side is O(1))",
    "feature_quantile_bucket": "distributed-CDF prefix sum (stats_ks pattern) plus a scalar-edge cross join vs the 1-row total-count aggregate (broadcast sides are O(1))",
    "stats_mannwhitney": "distributed-CDF prefix sum (stats_ks pattern): cross join vs the 1-row (min,max) bucket-range aggregate (broadcast side is O(1))",
    "curriculum_order": "distributed-CDF prefix sum (stats_ks pattern) plus a scalar-edge cross join vs the 1-row corpus-count aggregate (broadcast sides are O(1))",
    "text_collocations": "one scalar-edge cross join vs the 1-row (token total, pair total) aggregate (broadcast side is O(1))",
    "feature_vector_assemble": "fit/transform scalar edge: cross join vs the 1-row fitted-stats aggregate (n, sums, min, max) feeding the whole assembled vector (broadcast side is O(1))",
    "events_pareto_users": "distributed-CDF prefix sum (stats_ks pattern): cross joins vs the 1-row (min,max) bucket-range and (grand total, user count) aggregates (broadcast sides are O(1)); per-bucket windows + bounded offset table replace the global ordered window (retired r10)",
    "fk_integrity_audit": "scalar-edge cross join of the two 1-row lineitem-edge aggregates (totals x orphan sum; broadcast side is O(1)) — r12 anti-join rewrite",
    "dq_report": "scalar-edge cross join of the two 1-row orders-check aggregates (totals x orphan sum; broadcast side is O(1)) — r12 one-scan rewrite",
}


# one physical-plan build per query, shared by all parametrized audits
# (several operators run real Spark jobs at plan-BUILD time — k-means /
# pivot-discovery collect edges — so building 234 plans twice is minutes)
_PLAN_CACHE: dict[str, tuple[str, T.StructType, list]] = {}


def _build(spark, sf_dir, name: str) -> tuple[str, T.StructType, list]:
    if name not in _PLAN_CACHE:
        df = REG[name].fn(spark, sf_dir)
        _PLAN_CACHE[name] = (
            df._jdf.queryExecution().sparkPlan().toString(),
            df.schema,
            _broadcast_hints(df),
        )
    return _PLAN_CACHE[name]


def _plan(spark, sf_dir, name: str) -> str:
    return _build(spark, sf_dir, name)[0]


@pytest.mark.parametrize("name", sorted(REG))
def test_output_schema_has_no_decimal(spark, sf_dir, name):
    """Declared queries must never emit DecimalType: the driver's value
    hash normalizes a collected Spark Decimal and a DuckDB fetch that
    transits float64 differently, so a raw-decimal output diverges even
    when the values are exactly equal (sql_cte, CORRECTNESS_r12 49/50).
    Doctrine (functions/exact.py): aggregate exactly in decimal, collapse
    the TERMINAL value to double with dec_to_double / its SQL spelling."""
    found = _decimal_fields(_build(spark, sf_dir, name)[1])
    assert not found, (
        f"{name} emits DecimalType at {found} — collapse to double "
        f"via functions/exact.py dec_to_double before returning"
    )


def _decimal_fields(dt: T.DataType, path: str = "") -> list[str]:
    """Paths of every DecimalType inside ``dt``, through struct, array
    and map types; field names play no part."""
    if isinstance(dt, T.DecimalType):
        return [path]
    if isinstance(dt, T.StructType):
        return [
            p
            for f in dt.fields
            for p in _decimal_fields(f.dataType, f"{path}.{f.name}" if path else f.name)
        ]
    if isinstance(dt, T.ArrayType):
        return _decimal_fields(dt.elementType, f"{path}[]")
    if isinstance(dt, T.MapType):
        return _decimal_fields(dt.keyType, f"{path}{{key}}") + _decimal_fields(
            dt.valueType, f"{path}{{value}}"
        )
    return []


def test_decimal_audit_checks_types_not_names():
    named = T.StructType([T.StructField("decimal_gap", T.DoubleType())])
    assert _decimal_fields(named) == []
    nested = T.StructType(
        [
            T.StructField(
                "s",
                T.StructType(
                    [T.StructField("m", T.MapType(T.StringType(), T.ArrayType(T.DecimalType(28, 6))))]
                ),
            )
        ]
    )
    assert _decimal_fields(nested) == ["s.m{value}[]"]


@pytest.mark.parametrize("name", sorted(REG))
def test_plan_has_no_scale_antipatterns(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    hits = [f for f in FLAGS if f in plan]
    if name in ALLOW:
        assert hits, f"{name} allowlisted ({ALLOW[name]}) but plans clean — drop it from ALLOW"
    else:
        assert not hits, f"{name} plans {hits} — not allowlisted, fix the plan or justify"


# ---------------------------------------------------------------------------
# Order-only (single-partition) window audit: a window with no partition
# spec drags its whole input onto one task — fatal at 100 TB unless the
# input is bounded by construction. Allowed inputs, each with the bound:
#   (a) the `_bucket` offset tables of the distributed-CDF prefix-sum
#       pattern (≤ n_buckets rows, a compile-time constant) — recognized
#       structurally by the ordering column;
#   (b) explicitly allowlisted bounded heads below.
# events_pareto_users' |users|-grain global window was the last
# unbounded-cardinality offender; it was rewritten onto (a) in r10.

ORDER_ONLY_ALLOW: dict[str, str] = {
    "curriculum_order": "schedule-preview rank above the limit(100) TakeOrdered head — the window input is ≤100 rows",
    "shuffle_deterministic": "rank above the limit(100) TakeOrdered head — the window input is ≤100 rows",
    "profile_skew": "share-of-total window over the top-k survivor set (bounded by the constant k)",
}

# the BOUND each allowlist entry relies on, pinned as a plan substring
# (r11, verdict item): an edit that keeps the window but drops the
# limit head would otherwise keep passing on the allowlist's say-so.
# TakeOrderedAndProject(limit=K, ...) is the physical node the bounded
# head plans to; the constant K is part of the pin.
ORDER_ONLY_BOUND: dict[str, str] = {
    "curriculum_order": "TakeOrderedAndProject(limit=100",
    "shuffle_deterministic": "TakeOrderedAndProject(limit=100",
    "profile_skew": "TakeOrderedAndProject(limit=20",
}

_WINSPEC = re.compile(r"windowspecdefinition\(([^,]+),")


@pytest.mark.parametrize("name", sorted(REG))
def test_no_unbounded_order_only_window(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    # a partitioned spec's first argument is the partition column; an
    # order-only spec's first argument is a sort column carrying ASC/DESC
    order_only = [
        s.strip()
        for s in _WINSPEC.findall(plan)
        if (" ASC" in s or " DESC" in s) and not s.lstrip().startswith("_bucket#")
    ]
    if name in ORDER_ONLY_ALLOW:
        assert order_only, (
            f"{name} allowlisted ({ORDER_ONLY_ALLOW[name]}) but has no "
            f"order-only window — drop it from ORDER_ONLY_ALLOW"
        )
        bound = ORDER_ONLY_BOUND[name]
        assert bound in plan, (
            f"{name} is allowlisted because its window input is bounded "
            f"by a limit head, but the plan no longer contains "
            f"'{bound}' — the bound was edited away; re-bound the window "
            f"input or remove the allowlist entry"
        )
    else:
        assert not order_only, (
            f"{name} has an order-only window over {order_only} — single "
            f"partition at scale; bucket it (stats_ks pattern) or justify"
        )


# ---------------------------------------------------------------------------
# Broadcast-hint audit: a broadcast hint overrides
# spark.sql.autoBroadcastJoinThreshold, so a hinted subtree that grows
# with the scale factor ships more to every executor each decade until it
# overflows the broadcast cap. The planner picks joins from sizes; a hint
# may sit only over a subtree that
#   (a) reads no table but the fixed TPC-H dimensions (nation, region), or
#   (b) has a finite maxRows (a global aggregate, a limit, a literal), or
#   (c) is allowlisted below with the bound it relies on pinned as a
#       substring of the hinted subtree's analyzed plan.

BROADCAST_FIXED = frozenset({"nation", "region"})

BROADCAST_ALLOW: dict[str, str] = {
    "feature_target_encode_loo": "per-segment fitted stats: one row per c_mktsegment value (5, a fixed domain)",
    "tpch_q5_local_volume": "one region's suppliers: 1/5 of supplier, grows with the scale factor; kept on a two-scale A/B win (OPTIMIZATION_r13.md §9). Final plans (LAYERS_r14.json): hinted, every join BuildRight with the ASIA suppliers broadcast and lineitem streamed at sf0.1 and sf1; unhinted, AQE broadcasts lineitem itself (BuildLeft, 6.0E5 rows, 32 MiB) at sf0.1, and at sf1 shuffles lineitem (229 MiB) before it turns the join into a BuildRight broadcast of the suppliers",
}

# the bound each entry relies on, pinned as a substring of the hinted
# subtree's analyzed plan: the grouping key, the region filter
BROADCAST_BOUND: dict[str, str] = {
    "feature_target_encode_loo": "Aggregate [segment#",
    "tpch_q5_local_volume": "= ASIA)",
}


def _broadcast_hints(df) -> list[tuple[frozenset[str], bool, str]]:
    """(tables read, bounded, subtree text) of every broadcast hint in
    ``df``'s analyzed plan, subquery plans included. A leaf that is not a
    file relation and has no maxRows counts as a table of its own name
    (a checkpointed RDD is as large as what it was computed from)."""
    found = []

    def leaves(p) -> set[str]:
        kids = p.children()
        if kids.size():
            return set().union(*(leaves(kids.apply(i)) for i in range(kids.size())))
        if p.nodeName() == "LogicalRelation":
            roots = p.relation().location().rootPaths()
            return {roots.apply(i).getName().removesuffix(".parquet") for i in range(roots.size())}
        return set() if p.maxRows().isDefined() else {p.nodeName()}

    def walk(p) -> None:
        strategy = p.hints().strategy() if p.nodeName() == "ResolvedHint" else None
        if strategy is not None and strategy.isDefined() and strategy.get().toString() == "broadcast":
            child = p.child()
            found.append((frozenset(leaves(child)), child.maxRows().isDefined(), child.toString()))
        for seq in (p.children(), p.subqueries()):
            for i in range(seq.size()):
                walk(seq.apply(i))

    walk(df._jdf.queryExecution().analyzed())
    return found


def _unbounded_hints(hints) -> list[tuple[frozenset[str], bool, str]]:
    return [h for h in hints if not h[1] and not h[0] <= BROADCAST_FIXED]


def test_broadcast_audit_flags_only_growing_unbounded_sides(spark, sf_dir):
    from pyspark.sql import functions as F

    from data_bridge_spark.catalog import Tables

    t = Tables(spark, sf_dir)
    on = F.col("l_suppkey") == F.col("s_suppkey")
    supplier = _broadcast_hints(t.lineitem.join(F.broadcast(t.supplier), on))
    assert [h[0] for h in _unbounded_hints(supplier)] == [frozenset({"supplier"})]
    dims = t.nation.join(t.region, F.col("n_regionkey") == F.col("r_regionkey"))
    assert _broadcast_hints(t.customer.crossJoin(F.broadcast(dims)))[0][0] == BROADCAST_FIXED
    scalar = _broadcast_hints(t.lineitem.crossJoin(F.broadcast(t.supplier.agg(F.count("*")))))
    assert scalar and not _unbounded_hints(scalar)


@pytest.mark.parametrize("name", sorted(REG))
def test_no_unbounded_broadcast_hint(spark, sf_dir, name):
    unbounded = _unbounded_hints(_build(spark, sf_dir, name)[2])
    if name in BROADCAST_ALLOW:
        assert unbounded, (
            f"{name} allowlisted ({BROADCAST_ALLOW[name]}) but has no "
            f"unbounded broadcast hint — drop it from BROADCAST_ALLOW"
        )
        bound = BROADCAST_BOUND[name]
        missing = [sorted(h[0]) for h in unbounded if bound not in h[2]]
        assert not missing, (
            f"{name} is allowlisted because its hinted side is bounded by "
            f"'{bound}', but the hint over {missing} no longer shows it — "
            f"re-bound the side or remove the hint"
        )
    else:
        assert not unbounded, (
            f"{name} broadcast-hints a side over {[sorted(h[0]) for h in unbounded]} "
            f"that grows with the scale factor — let the planner pick the join, "
            f"or bound the side and allowlist it with its bound"
        )


# The same rule by source: a hint under a cut fence runs while the query
# is built and leaves no trace in the returned plan (tpch_q11's deleted
# supplier hint was such a case), so every hint call in the package must
# sit in one of these functions, each with its reason at the site.
HINT_SITES = {
    ("operators/relational.py", "join_broadcast"),
    ("operators/features.py", "feature_target_encode_loo"),
    ("operators/insights.py", "tpch_q5_local_volume"),
    ("sinks/writers.py", "emit_tombstones"),
    ("streaming/joins.py", "stream_enrich_users"),
}


def test_hint_calls_are_the_cited_sites():
    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data_bridge_spark")
    found = set()
    for d, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            with open(os.path.join(d, f)) as fh:
                tree = ast.parse(fh.read())
            rel = os.path.relpath(os.path.join(d, f), pkg)
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef):
                    for node in ast.walk(fn):
                        if (
                            isinstance(node, ast.Call)
                            and isinstance(node.func, ast.Attribute)
                            and node.func.attr in ("broadcast", "hint")
                        ):
                            found.add((rel, fn.name))
    assert found == HINT_SITES
