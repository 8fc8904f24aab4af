"""Aggregation, set, and ordering operators (SURVEY.md §2B9-B14, B17, C4, C8).

All double measures aggregate through ``functions.exact`` (decimal-exact,
order-insensitive) so results are identical across any partitioning — the
property that makes them safe both for the DuckDB oracle hash and for
deterministic re-runs on a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.functions.exact import davg, dec, dec_to_double, dfactor, dmoney, dsum
from data_bridge_spark.session import fence
from data_bridge_spark.registry import register


@register(
    "agg_group",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(o_totalprice) AS avg_price
    FROM orders
    GROUP BY o_custkey
    HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(o_totalprice) > 150000
    """,
    tags=("agg",),
)
def agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key aggregate + threshold split — the reference's
    high-achiever/at-risk segmentation (sample.config.yaml:98-113):
    group, average, filter on the aggregate."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), davg("o_totalprice", "avg_price"))
        .filter(F.col("avg_price") > 150000)
    )


@register(
    "agg_report",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,4))
                    * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DECIMAL(18,6))
                AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(15,4))
                         * (1 - CAST(l_discount AS DECIMAL(8,4))) AS DECIMAL(15,6))
                    * (1 + CAST(l_tax AS DECIMAL(8,4)))) AS DECIMAL(18,6))
                AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "report"),
)
def agg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure hash-aggregate report — the reference's admin report
    (sample.config.yaml:115-122) in its canonical TPC-H Q1 shape: one
    scan, 8 aggregates, 2 grouping keys, partial aggregation map-side."""
    t = Tables(spark, sf_dir)
    price, disc, tax = (dmoney("l_extendedprice"), dfactor("l_discount"), dfactor("l_tax"))
    return (
        t.lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            # sums collapse to decimal(18,6) before the double conversion:
            # the 3-factor product carries ≤6 decimals so nothing rounds;
            # dec_to_double then mirrors DuckDB's unscaled/divide form so
            # the conversion stays engine-identical even past 2^53 unscaled
            # (sum_charge crossed it at sf1) — see functions/exact.py.
            dec_to_double(F.sum(price * (1 - disc)).cast("decimal(18,6)"), 6).alias(
                "sum_disc_price"
            ),
            dec_to_double(
                F.sum((price * (1 - disc)).cast("decimal(15,6)") * (1 + tax)).cast(
                    "decimal(18,6)"
                ),
                6,
            ).alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_distinct",
    oracle="SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
    tags=("agg", "dedup"),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct pairs (the reference's get_id_lists dedups ID frames into
    IN-param lists, sample.config.yaml:142-150)."""
    return Tables(spark, sf_dir).customer.select("c_nationkey", "c_mktsegment").distinct()


@register(
    "agg_approx_distinct",
    oracle=None,  # HLL sketches differ across engines by design → rows-only check
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate COUNT DISTINCT via HyperLogLog++ — the scale path for
    cardinality at 100 TB (exact distinct = full shuffle; HLL = constant
    memory per group). Checked rows-only: sketch estimates are
    engine-specific."""
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    tags=("agg", "rollup"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP (region → nation → grand total) as a UNION of
    grouping levels over ONE set of finest-grain partials: the scan+join
    shuffles once into (region, nation) partials with exact decimal sums;
    the nation level IS that table, the region and grand-total levels
    re-aggregate its ~|nations| rows (the identical partial subplan is
    deduplicated by exchange reuse, so the fact side is scanned and
    shuffled exactly once — strictly better at 100 TB than rollup-over-
    raw, whose Expand triples every input row through the first
    aggregate). The union-of-levels form also gets the SQL empty-input
    semantics for free: the grand-total level is a GLOBAL aggregate,
    which emits its one row (count 0, NULL sum) on empty input natively —
    no probe branch, no second scan (the r7 probe re-executed the join
    and cost a measured 1.2x; the r6 plain rollup cost Expand-on-raw)."""
    t = Tables(spark, sf_dir)
    joined = (
        t.customer.join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("r_name").alias("region"), F.col("n_name").alias("nation"), "c_acctbal")
    )
    # r12: fine feeds all three levels — the docstring's "deduplicated by
    # exchange reuse" relied on AQE stage reuse firing; the fence makes
    # the one-scan guarantee explicit (the table is ~|region×nation| rows)
    fine = joined.groupBy("region", "nation").agg(
        F.count(F.lit(1)).alias("n0"), F.sum(dec("c_acctbal")).alias("s0")
    ).transform(fence)
    nation_lvl = fine.select(
        "region",
        "nation",
        F.col("n0").alias("n_customers"),
        dec_to_double(F.col("s0").cast("decimal(28,6)")).alias("sum_acctbal"),
    )
    region_lvl = fine.groupBy("region").agg(
        F.sum("n0").alias("n_customers"),
        dec_to_double(F.sum("s0").cast("decimal(28,6)")).alias("sum_acctbal"),
    ).select("region", F.lit(None).cast("string").alias("nation"), "n_customers", "sum_acctbal")
    total_lvl = fine.agg(
        F.coalesce(F.sum("n0"), F.lit(0).cast("bigint")).alias("n_customers"),
        dec_to_double(F.sum("s0").cast("decimal(28,6)")).alias("sum_acctbal"),
    ).select(
        F.lit(None).cast("string").alias("region"),
        F.lit(None).cast("string").alias("nation"),
        "n_customers",
        "sum_acctbal",
    )
    return nation_lvl.unionByName(region_lvl).unionByName(total_lvl)


_UNION_COLS = ("c_custkey", "c_name")


@register(
    "set_union",
    oracle="""
    SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000
    UNION
    SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    """,
    tags=("set",),
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of two query branches (the reference merges at-risk +
    high-achiever recipient branches, sample.config.yaml:152-160);
    UNION (not ALL) so overlapping rows dedup."""
    t = Tables(spark, sf_dir)
    rich = t.customer.filter(F.col("c_acctbal") > 9000).select(*_UNION_COLS)
    auto = t.customer.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(*_UNION_COLS)
    return rich.unionByName(auto).distinct()


@register(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("set",),
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection on keys (SURVEY §2B17)."""
    t = Tables(spark, sf_dir)
    urgent = t.orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    finished = t.orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return urgent.intersect(finished)


@register(
    "set_except",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("set",),
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference — the suppression-list semantics of the reference's
    filter_mailing_list expressed as EXCEPT (SURVEY §2B17)."""
    t = Tables(spark, sf_dir)
    open_customers = t.orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return t.customer.select("c_custkey").exceptAll(open_customers).distinct()


@register(
    "sort_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
    tags=("sort",),
)
def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (reference's high-achiever ranking, SURVEY §2B14).
    orderBy+limit compiles to TakeOrderedAndProject: each partition keeps
    k rows, only k*partitions reach the driver-side merge — no global
    sort even at 100 TB. Tiebreak on o_orderkey makes the result total."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )
