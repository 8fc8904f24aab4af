"""Physical-plan property assertions: the scale behaviors SURVEY §4 claims
must be visible in the executed plans, not just asserted in prose."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from data_bridge_spark.registry import load_all

REG = load_all()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = REG["filter_eq"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters: [" in plan
    assert "l_returnflag" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_reaches_parquet(spark, sf_dir):
    df = REG["proj_select"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the three projected columns are read, not all five
    assert "c_custkey" in read_schema and "c_acctbal" not in read_schema


def test_dimension_join_is_broadcast(spark, sf_dir):
    plan = plan_of(REG["join_broadcast"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_and_anti_join_strategies(spark, sf_dir):
    semi = plan_of(REG["join_semi"].fn(spark, sf_dir))
    anti = plan_of(REG["join_anti"].fn(spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_binned_range_join_avoids_nested_loop(spark, sf_dir):
    # the binned rewrite must plan an equi-join on `bin`, never the
    # O(N*M) BroadcastNestedLoopJoin a raw interval predicate produces
    # equi-join on the bin key; strategy (broadcast at small SF, shuffle
    # at scale) is Catalyst's call from stats
    plan = plan_of(REG["join_range_binned"].fn(spark, sf_dir))
    assert "NestedLoop" not in plan
    assert re.search(r"(BroadcastHash|SortMerge|ShuffledHash)Join \[bin", plan)


def test_topk_uses_take_ordered(spark, sf_dir):
    # orderBy+limit must compile to TakeOrderedAndProject (per-partition
    # top-k + merge), not a global sort
    plan = plan_of(REG["sort_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.replace("TakeOrderedAndProject", "")


def test_agg_has_partial_aggregation(spark, sf_dir):
    # map-side combine: two HashAggregate nodes around the exchange
    plan = plan_of(REG["agg_report"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_active(spark, sf_dir):
    # AQE wraps the plan, hiding codegen nodes from toString; disable it
    # for this one plan to confirm our expressions stay inside
    # WholeStageCodegen spans (i.e. no Python/UDF break in the hot path)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = REG["agg_report"].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # codegen spans print as "*(n) Operator" in plan strings
    assert re.search(r"\*\(\d+\) HashAggregate", plan)
    # and the aggregation is two-phase (map-side partial combine)
    assert "partial_sum" in plan


def test_runner_auto_caches_fanout(spark, sf_dir):
    from data_bridge_spark.plans.models import ExtractStep, Stream, TransformStep
    from data_bridge_spark.plans.runner import StreamRunner

    stream = Stream(
        name="fan",
        sources=[{"protocol": "file", "name": "w", "path": sf_dir}],
        steps=[
            ExtractStep(name="e", source="w", table="orders.parquet", output="orders"),
            TransformStep(
                name="t1",
                input=["orders"],
                output=["a"],
                function=lambda i: {"a": i["orders"].filter(F.col("o_totalprice") > 100000)},
            ),
            TransformStep(
                name="t2",
                input=["orders"],
                output=["b"],
                function=lambda i: {"b": i["orders"].filter(F.col("o_totalprice") <= 100000)},
            ),
        ],
    )
    runner = StreamRunner(spark, stream)
    runner.run()
    assert runner.cached == ["orders"]
    # the cache is scoped to the run: released in run()'s finally block
    assert not runner.step_outputs["orders"].is_cached


def test_write_table_single_execution(spark, sf_dir, tmp_path):
    # the delivery row count must come from the write job itself (observe
    # metrics), not a separate count() action re-running the plan
    from data_bridge_spark.sinks.writers import write_table

    df = REG["proj_select"].fn(spark, sf_dir)
    sc = spark.sparkContext
    sc.setJobGroup("wt_single", "write_table single-execution check")
    try:
        n = write_table(df, str(tmp_path / "out.csv"), fmt="csv", single_file=True)
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("wt_single")
    assert n == df.count()
    assert len(jobs) == 1, f"expected one Spark job for the delivery, got {jobs}"


def test_partsupp_family_single_fact_scan(spark, sf_dir):
    """Q2/Q20/Q16 docstrings claim one lineitem pass (window-min instead
    of agg-and-self-join; conditional agg instead of two scans) with all
    dims broadcast — the claims must hold in the executed plans."""
    q2 = plan_of(REG["tpch_q2_min_cost_supplier"].fn(spark, sf_dir))
    assert q2.count("lineitem.parquet") == 1  # correlated MIN via Window, not a self-join
    assert "Window" in q2 and "SortMergeJoin" not in q2

    q20 = plan_of(REG["tpch_q20_promotion_supplier"].fn(spark, sf_dir))
    assert q20.count("lineitem.parquet") == 1  # in-window vs all-time via conditional agg
    assert "LeftSemi" in q20 and "SortMergeJoin" not in q20

    q16 = plan_of(REG["tpch_q16_supplier_cnt"].fn(spark, sf_dir))
    assert q16.count("lineitem.parquet") == 1
    assert "LeftAnti" in q16  # NOT IN on a non-null key planned as anti-join


def test_bloom_decontaminate_probes_are_broadcast(spark, sf_dir):
    """The bloom lane-table probes must plan as broadcast hash joins
    (zero corpus shuffle before the exact verify) — k probe joins plus
    the exact join; no sort-merge anywhere on the corpus path."""
    plan = plan_of(REG["text_decontaminate_bloom"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3


def test_aqe_splits_skewed_join_partition(spark):
    """SCALE.md's fact-join row claims AQE skew-split handles hot keys —
    the receipt: a 90%-one-key join must execute with
    SortMergeJoin(skew=true), the hot partition split by AQEShuffleRead.
    (The portable explicit form is join_skew_salted, oracle-proven.)"""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(500_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.lit("x").alias("payload"),
        )
        right = spark.range(100_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("r"))
        j = left.join(right, "k")
        assert len(j.collect()) == 460_000  # executes THIS plan (AQE finalizes it)
        plan = plan_of(j)
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _window_specs(plan: str) -> list[str]:
    """First argument of every windowspecdefinition in the plan text —
    a partition column if present; order columns carry ASC/DESC."""
    return re.findall(r"windowspecdefinition\(([^,]+),", plan)


def test_quantile_bucket_has_no_global_window(spark, sf_dir):
    """feature_quantile_bucket's load-bearing shape: the cumulative
    counts run per range-bucket (_bucketed_prefix_sums), NEVER as one
    global ordered window holding every distinct value in a single
    partition. Receipt: every window spec in the plan starts with a
    partition column (an order-only spec's first argument is an ASC/DESC
    sort column)."""
    plan = plan_of(REG["feature_quantile_bucket"].fn(spark, sf_dir))
    specs = _window_specs(plan)
    assert specs, "expected the prefix-sum windows in the plan"
    # The ONE allowed order-only window is the per-bucket offsets pass:
    # its input is the n_buckets-row totals table (bounded by the
    # constant bucket count), never the value grain.
    for first_arg in specs:
        if " ASC" in first_arg or " DESC" in first_arg:
            assert first_arg.lstrip().startswith("_bucket#"), (
                f"order-only window over the value grain: {first_arg}"
            )


def test_pareto_users_has_no_global_window(spark, sf_dir):
    """events_pareto_users (r10 rewrite): the running value sum and rank
    over (v_dec DESC, user ASC) run per range-bucket with a bounded
    offsets table — NEVER as one global ordered window holding every
    user on a single partition (the repo's last unbounded-cardinality
    order-only window before r10). Same receipt as
    test_quantile_bucket_has_no_global_window."""
    plan = plan_of(REG["events_pareto_users"].fn(spark, sf_dir))
    specs = _window_specs(plan)
    assert specs, "expected the prefix-sum windows in the plan"
    for first_arg in specs:
        if " ASC" in first_arg or " DESC" in first_arg:
            assert first_arg.lstrip().startswith("_bucket#"), (
                f"order-only window over the user grain: {first_arg}"
            )


def test_curriculum_order_previews_with_takeordered(spark, sf_dir):
    """curriculum_order's schedule preview must be partition-local top-k
    (TakeOrderedAndProject), not a global sort, and the corpus-wide rank
    must not be materialized: the only row_number window runs above the
    bounded LIMIT head (a <=100-row input), never on the corpus."""
    df = REG["curriculum_order"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    # no GLOBAL sort anywhere (plan prints `Sort [...], true, 0` for
    # global) — the head comes from TakeOrdered, the rank window runs
    # over its tiny output, and the prefix-sum sorts are partition-local
    assert not re.search(r"Sort \[[^\]]*\], true", plan)


def test_bloom_prefilter_lanes_broadcast_one_exact_join(spark, sf_dir):
    """join_bloom_prefilter's contract: k=3 bitmap-lane probes broadcast
    (bytes per bit, no fact shuffle to prefilter), then exactly one
    exact equi-join removes false positives — never a nested loop."""
    plan = plan_of(REG["join_bloom_prefilter"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "NestedLoop" not in plan


def test_feature_onehot_is_shuffle_free(spark, sf_dir):
    """The r9 overflow-bucket redesign must keep one-hot a pure map-side
    projection: no Exchange anywhere in the plan (the former fit-time
    distinct job is gone too — zero plan-time Spark jobs)."""
    plan = plan_of(REG["feature_onehot"].fn(spark, sf_dir))
    assert "Exchange" not in plan
    assert "oh_other" in plan


def test_pivot_dynamic_canonical_two_exchanges(spark, sf_dir):
    """The r9 'other' overflow remap must not add a shuffle: the plan
    stays Spark's canonical two-phase pivot — partial-sum exchange on
    (day, type), pivotfirst exchange on day — with the out-of-domain
    remap folded into the map-side scan projection (a CASE inside the
    Project above the FileScan, no extra exchange, no plan-time job)."""
    plan = plan_of(REG["events_pivot_dynamic"].fn(spark, sf_dir))
    n_exchange = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exchange == 2, f"expected the 2 canonical pivot exchanges, got {n_exchange}"
    assert "THEN other END" in plan  # remap is map-side, pre-shuffle


def test_asof_merge_pandas_single_group_exchange(spark, sf_dir):
    """The r9 (seconds, micros) integer-pair split must stay inside the
    one FlatMapGroupsInPandas exchange on user_id — the split/rebuild
    projections are map-side on either side of it."""
    plan = plan_of(REG["asof_merge_pandas"].fn(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    n_exchange = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exchange == 1, f"expected 1 hash exchange, plan has {n_exchange}"
