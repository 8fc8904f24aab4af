"""TPC-H-suite analogues beyond Q1/Q3/Q5 (see insights.py): the
remaining canonical warehouse plan shapes, adapted to this schema
(no l_commitdate/l_receiptdate/c_phone/p_container — filters are
re-targeted at the columns that exist; the plan shape each query
exists to exercise is preserved).

Each query is the textbook representative of one optimizer pattern:
pure pushdown scan-agg (Q6), multi-fact nation-pair join with an OR
pair predicate (Q7), returned-revenue top-k (Q10), conditional
line counts (Q12), left-outer count distribution (Q13), conditional
ratio (Q14), decorrelated per-group-average subquery (Q17),
HAVING-on-sum semi-join (Q18), scalar-subquery + anti-join (Q22),
EXISTS-as-semi-join (Q4), the 8-table conditional-ratio join (Q8),
two-term profit aggregate (Q9), view + scalar-subquery max (Q15),
OR-of-conjunctions pushdown splitting (Q19), and the EXISTS + NOT
EXISTS double self-join (Q21). Q2/Q11/Q16/Q20 canonically read a
partsupp table this schema does not have; their plan shapes survive
on a partsupp DERIVED from lineitem — per (l_partkey, l_suppkey)
aggregates stand in for (ps_supplycost, ps_availqty) — so all four
are implemented below: correlated min-cost-supplier subquery (Q2),
HAVING over a global scalar subquery (Q11), NOT-IN +
count-distinct-suppliers (Q16), and the nested semi-join with a
correlated quantity threshold (Q20). All double aggregation goes
through functions/exact.py
decimal machinery (see that module's docstring for the 2^53 /
double-rounding rules the oracles rely on).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.functions.exact import dec, dec_to_double, dfactor, dmoney
from data_bridge_spark.registry import register
from data_bridge_spark.session import fence

# shared oracle fragment: the exact-decimal discounted-revenue sum,
# collapsed to scale 6 (inputs carry <= 4 real decimals) before the
# double cast so DuckDB's unscaled-int conversion can't double-round
_REV_SQL = """CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,4))
             * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DECIMAL(18,6))
        AS DOUBLE)"""


def _rev() -> F.Column:
    """Spark twin of _REV_SQL."""
    return (
        F.sum(dmoney("l_extendedprice") * (1 - dfactor("l_discount")))
        .cast("decimal(18,6)")
        .cast("double")
    )


@register(
    "tpch_q6_forecast",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,4))
                         * CAST(l_discount AS DECIMAL(8,4))) AS DECIMAL(18,6))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24.0
    """,
    tags=("tpch", "agg", "pushdown"),
)
def tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure pushdown
    showcase — one scan, three range predicates, one product-sum, no
    join and no group-by. All three filters reach the parquet scan as
    PushedFilters (min/max row-group pruning skips most of the file at
    scale) and the single-row answer comes back through a partial+final
    agg with no shuffle of data rows. The 100 TB shape: I/O-bound,
    embarrassingly parallel, network traffic O(partitions)."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return li.agg(
        F.sum(dmoney("l_extendedprice") * dfactor("l_discount"))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_N_A, _N_B = "NATION_1", "NATION_2"


@register(
    "tpch_q7_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
           {_REV_SQL} AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = '{_N_A}' AND n2.n_name = '{_N_B}')
       OR (n1.n_name = '{_N_B}' AND n2.n_name = '{_N_A}')
    GROUP BY n1.n_name, n2.n_name, l_year
    """,
    tags=("tpch", "join", "agg"),
)
def tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): trade volume between two nations by
    year, in both directions — the OR-of-pairs predicate that defeats
    naive single-sided pushdown. Plan: supplier and both nation copies
    broadcast; the pair restriction collapses the supplier broadcast to
    two nations' worth of rows *before* the fact join, so the lineitem
    side is semi-filtered by the broadcast hash join itself. The two
    fact-fact joins shuffle on orderkey/custkey; the OR predicate rides
    the final broadcast joins rather than forcing a cartesian."""
    t = Tables(spark, sf_dir)
    n1 = t.nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t.nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == _N_A) & (F.col("cust_nation") == _N_B)
    ) | ((F.col("supp_nation") == _N_B) & (F.col("cust_nation") == _N_A))
    return (
        t.lineitem.join(
            F.broadcast(t.supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(t.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t.customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(_rev().alias("revenue"))
    )


@register(
    "tpch_q10_returns",
    oracle=f"""
    SELECT c.c_custkey AS custkey, c.c_name AS name, n.n_name AS nation,
           c.c_acctbal AS acctbal,
           {_REV_SQL} AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, custkey ASC
    LIMIT 20
    """,
    tags=("tpch", "join", "agg", "topk"),
)
def tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top-20 customers by revenue
    lost to returns in one quarter. The quarter filter pushes into the
    orders scan and the returnflag filter into lineitem (both
    PushedFilters — at scale each kills ~95% of its fact before any
    shuffle); nation is broadcast; the top-20 is TakeOrdered with a
    custkey tiebreak, so no global sort. The per-customer grouping key
    deliberately carries the display columns (name, nation, acctbal) —
    they are functionally dependent on custkey, so the group count is
    unchanged and no second join is needed to re-attach them."""
    t = Tables(spark, sf_dir)
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    li = t.lineitem.filter(F.col("l_returnflag") == "R")
    return (
        t.customer.join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
            F.col("c_acctbal").alias("acctbal"),
        )
        .agg(_rev().alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(20)
    )


@register(
    "tpch_q12_late_lines",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 365 DAY
      AND l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
    tags=("tpch", "join", "agg", "conditional"),
)
def tpch_q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analogue (shipping-mode priority, re-targeted): lines
    shipped more than a year after ordering, split into high- vs
    low-priority counts per return flag (the schema has no
    l_commitdate/l_receiptdate/l_shipmode, so "late" is
    shipdate > orderdate + 365d and the pivot key is returnflag — the
    conditional-count pattern is the point). The year window pushes
    into the lineitem scan; the cross-table lateness predicate can only
    run post-join, which is exactly where Catalyst places it; the two
    CASE counts collapse in one partial agg."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t.orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 365 DAY"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_distribution",
    oracle="""
    WITH c_orders AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    """,
    tags=("tpch", "join", "agg", "distribution"),
)
def tpch_q13_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): how many customers placed
    exactly N orders — the left-outer + double-aggregation shape (a
    customer with no orders must survive as c_count = 0, which an inner
    join would silently drop; COUNT(o_orderkey) ignores the null the
    outer join manufactures). Two shuffles: custkey for the outer-join
    count, then c_count for the distribution — the second one moves
    only |customers| rows collapsed to |distinct counts|."""
    t = Tables(spark, sf_dir)
    c_orders = (
        t.customer.join(
            t.orders, F.col("o_custkey") == F.col("c_custkey"), "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return c_orders.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q14_promo",
    oracle="""
    WITH s AS (
        SELECT
          CAST(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(l.l_extendedprice AS DECIMAL(15,4))
                         * (1 - CAST(l.l_discount AS DECIMAL(8,4)))
                    ELSE CAST(0 AS DECIMAL(23,8)) END) AS DECIMAL(18,6))
               AS DOUBLE) AS promo_revenue,
          CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(15,4))
                        * (1 - CAST(l.l_discount AS DECIMAL(8,4)))) AS DECIMAL(18,6))
               AS DOUBLE) AS total_revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1998-03-01 00:00:00'
    )
    SELECT promo_revenue, total_revenue,
           100.0 * promo_revenue / total_revenue AS promo_pct
    FROM s
    """,
    tags=("tpch", "join", "agg", "conditional"),
)
def tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): share of revenue from promo-type
    parts in a two-month window — the conditional-ratio pattern. One
    fact-dim join (part side shuffles here; at a scale where part fits
    executors it broadcasts — left to AQE's runtime stats rather than
    forced), both sums in a single partial agg, ratio computed on the
    two collapsed doubles (elementwise, bit-deterministic). The CASE
    arms stay decimal so the conditional sum is exactly the filtered
    sum."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-03-01").cast("timestamp_ntz"))
    )
    disc = dmoney("l_extendedprice") * (1 - dfactor("l_discount"))
    s = (
        li.join(t.part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", disc).otherwise(
                    F.lit(0).cast("decimal(23,8)")
                )
            )
            .cast("decimal(18,6)")
            .cast("double")
            .alias("promo_revenue"),
            dec_to_double(F.sum(disc).cast("decimal(18,6)"), 6).alias("total_revenue"),
        )
    )
    return s.select(
        "promo_revenue",
        "total_revenue",
        (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")).alias(
            "promo_pct"
        ),
    )


@register(
    "tpch_q17_small_qty",
    oracle="""
    WITH part_avg AS (
        SELECT l_partkey,
               0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                      / COUNT(l_quantity)) AS qty_cut
        FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_brand AS brand,
           COUNT(*) AS n_lines,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(19,2))) AS DECIMAL(38,2))
                AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part_avg a ON l.l_partkey = a.l_partkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < a.qty_cut
    GROUP BY p.p_brand
    """,
    tags=("tpch", "join", "agg", "subquery"),
)
def tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue locked in
    orders below 20% of a part's average order quantity — the
    correlated-average subquery, decorrelated the way Catalyst itself
    rewrites it: aggregate the inner query per key, equi-join it back,
    filter. The fact joins its own per-part aggregate on partkey (one
    shuffle each side, AQE-balanced); the 0.2x threshold is double math
    on an exact-decimal average so both engines compute the identical
    cut. Grouped by brand (the canonical query's single-brand filter is
    a parameter choice, not a plan feature)."""
    t = Tables(spark, sf_dir)
    part_avg = (
        t.lineitem.groupBy(F.col("l_partkey").alias("pa_key"))
        .agg(
            (
                F.lit(0.2)
                * (F.sum(dec("l_quantity")).cast("double") / F.count("l_quantity"))
            ).alias("qty_cut")
        )
    )
    return (
        t.lineitem.join(part_avg, F.col("l_partkey") == F.col("pa_key"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .join(t.part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (
                F.sum(F.col("l_extendedprice").cast("decimal(19,2)"))
                .cast("decimal(38,2)")
                .cast("double")
                / 7.0
            ).alias("avg_yearly"),
        )
    )


_Q18_MIN_QTY = 300.0


@register(
    "tpch_q18_large_orders",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > {_Q18_MIN_QTY}
    )
    SELECT c.c_name AS name, c.c_custkey AS custkey,
           o.o_orderkey AS orderkey, o.o_orderdate AS orderdate,
           o.o_totalprice AS totalprice, b.sum_qty
    FROM big b
    JOIN orders o   ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY totalprice DESC, orderkey ASC
    LIMIT 100
    """,
    tags=("tpch", "join", "agg", "having"),
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    clears a threshold, with their customers — the HAVING-on-sum
    pre-aggregation shape. The lineitem aggregate runs FIRST and the
    HAVING collapses it to a tiny key set (p99 of sum_qty is ~262, the
    cut is 300), so the subsequent joins move almost nothing — the
    aggregate acts as its own semi-join filter. Top-100 by order value
    with an orderkey tiebreak via TakeOrdered."""
    t = Tables(spark, sf_dir)
    big = (
        t.lineitem.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).cast("double").alias("sum_qty"))
        .filter(F.col("sum_qty") > _Q18_MIN_QTY)
    )
    return (
        big.join(t.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t.customer, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("orderkey"))
        .limit(100)
    )


_Q22_CUTOFF = "2000-01-01 00:00:00"


@register(
    "tpch_q22_dormant",
    oracle=f"""
    WITH avg_bal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(c_acctbal) AS cut
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey AS nationkey,
           COUNT(*) AS numcust,
           CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DECIMAL(18,2))
                AS DOUBLE) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.cut
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '{_Q22_CUTOFF}'
      )
    GROUP BY c.c_nationkey
    """,
    tags=("tpch", "join", "agg", "anti", "subquery"),
)
def tpch_q22_dormant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 analogue (global sales opportunity): wealthy-but-
    dormant customers per nation — above-average account balance, no
    recent orders (the schema has no c_phone, so "dormant since the
    cutoff" replaces the country-code filter; the scalar-subquery +
    anti-join plan shape is the point). The global average is a 1-row
    aggregate broadcast against the customer scan (the nested-loop
    join is against one row — allowlisted in the plan audit); the NOT
    EXISTS is a left-anti join against recent orders pre-filtered at
    the scan. Balance sums collapse at scale 2 (the inputs' true
    scale) before the double cast."""
    t = Tables(spark, sf_dir)
    avg_bal = t.customer.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(dec("c_acctbal")).cast("double") / F.count("c_acctbal")).alias("cut")
    )
    recent = t.orders.filter(
        F.col("o_orderdate") >= F.lit(_Q22_CUTOFF.split(" ")[0]).cast("timestamp_ntz")
    ).select("o_custkey")
    return (
        t.customer.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("cut"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(dec("c_acctbal"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("totacctbal"),
        )
    )


@register(
    "tpch_q4_priority",
    oracle="""
    SELECT o.o_orderpriority AS priority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
      )
    GROUP BY o.o_orderpriority
    """,
    tags=("tpch", "semi", "agg"),
)
def tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analogue (order priority checking): orders in one
    quarter that have at least one problem line, counted by priority.
    The schema has no l_commitdate/l_receiptdate, so "problem line"
    is re-targeted at l_returnflag = 'R'; the plan shape Q4 exists to
    exercise — EXISTS decorrelated to a left-semi join against a
    pre-filtered fact — is preserved. The date window pushes into the
    orders scan, the returnflag filter into the lineitem scan, and the
    semi-join shuffles only orderkeys + the priority column, never
    widening rows (semi-join output ≤ orders input)."""
    t = Tables(spark, sf_dir)
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    problem = t.lineitem.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(problem, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "tpch_q8_market_share",
    oracle=f"""
    WITH sales AS (
        SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
               CAST(l.l_extendedprice AS DECIMAL(15,4))
                 * (1 - CAST(l.l_discount AS DECIMAL(8,4))) AS amount,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = n1.n_regionkey
        JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
    )
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN amount
                              ELSE CAST(0 AS DECIMAL(23,8)) END)
                     AS DECIMAL(18,6)) AS DOUBLE)
           / CAST(CAST(SUM(amount) AS DECIMAL(18,6)) AS DOUBLE) AS mkt_share
    FROM sales
    GROUP BY o_year
    """,
    tags=("tpch", "join", "agg", "share"),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 analogue (national market share): one supplier nation's
    share of PROMO-part revenue sold into one region, by order year —
    the 8-table join with a conditional-ratio aggregate. Join order is
    stated selective-first, same doctrine as Q5: part (filtered to one
    type, broadcast) lands on lineitem before any shuffle, then orders
    (shuffle on orderkey), then customer (shuffle on custkey) whose
    nation→region chain is a pre-collapsed broadcast, then the supplier
    nation broadcast. Share = two exact decimal sums per group (the
    conditional sum keeps decimal type via a typed zero), one double
    division at the edge."""
    t = Tables(spark, sf_dir)
    amount = dmoney("l_extendedprice") * (1 - dfactor("l_discount"))
    promo = t.part.filter(F.col("p_type") == "PROMO").select("p_partkey")
    america_cust = (
        t.customer.join(
            F.broadcast(
                t.nation.join(
                    F.broadcast(t.region.filter(F.col("r_name") == "AMERICA")),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
        # r12: the orders<->america_cust semi join sort-merged by default
        # (post-join size is unestimable, and the region-filtered customer
        # keys are NOT broadcastable at 100 TB — ~1/5 of a fact). The
        # shuffle-hash hint keeps both exchanges but drops both sorts
        # (guide §3.1); build side = the smaller per-partition key set.
        .hint("shuffle_hash")
    )
    supp_nation = t.supplier.join(
        F.broadcast(
            t.nation.select(
                F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    zero = F.lit(0).cast("decimal(23,8)")
    return (
        t.lineitem.join(F.broadcast(promo), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(america_cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                dec_to_double(
                    F.sum(
                        F.when(F.col("supp_nation") == "NATION_1", amount).otherwise(zero)
                    ).cast("decimal(18,6)"),
                    6,
                )
                / dec_to_double(F.sum(amount).cast("decimal(18,6)"), 6)
            ).alias("mkt_share")
        )
    )


@register(
    "tpch_q9_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(15,4))
                         * (1 - CAST(l.l_discount AS DECIMAL(8,4)))) AS DECIMAL(18,6))
                AS DOUBLE)
           - CAST(CAST(SUM(CAST(p.p_retailprice AS DECIMAL(15,4))
                           * CAST(0.6 AS DECIMAL(8,4))
                           * CAST(l.l_quantity AS DECIMAL(10,0))) AS DECIMAL(18,6))
                  AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE 'red %'
    GROUP BY n.n_name, o_year
    """,
    tags=("tpch", "join", "agg"),
)
def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analogue (product-type profit): profit by supplier
    nation and order year over one product family. The schema has no
    partsupp, so supply cost is modeled as 60% of p_retailprice (the
    LIKE-filtered multi-fact join + two-term profit aggregate is the
    plan shape under test; 'red %' replaces '%green%' — p_name here is
    'color noun'). Revenue and cost are summed as SEPARATE exact
    decimal aggregates, each collapsed to scale 6 (true scales ≤4 and
    ≤3) before the double cast, subtracted at the edge — keeping every
    product inside both engines' exact-decimal width (15,4 × 8,4 and
    the quantity factor at (10,0): integral by construction).
    Filtered part broadcasts onto lineitem pre-shuffle, as in Q5/Q8."""
    t = Tables(spark, sf_dir)
    red_part = t.part.filter(F.col("p_name").like("red %")).select(
        "p_partkey", "p_retailprice"
    )
    supp_nation = t.supplier.join(
        F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "n_name")
    revenue = dmoney("l_extendedprice") * (1 - dfactor("l_discount"))
    cost = (
        dmoney("p_retailprice")
        * F.lit(0.6).cast("decimal(8,4)")
        * F.col("l_quantity").cast("decimal(10,0)")
    )
    return (
        t.lineitem.join(F.broadcast(red_part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t.orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            (
                dec_to_double(F.sum(revenue).cast("decimal(18,6)"), 6)
                - dec_to_double(F.sum(cost).cast("decimal(18,6)"), 6)
            ).alias("profit")
        )
    )


@register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH srev AS (
        SELECT l_suppkey,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,4))
                             * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DECIMAL(18,6))
                    AS DOUBLE) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS name, r.total_rev
    FROM srev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM srev)
    """,
    tags=("tpch", "agg", "subquery", "topk"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) achieving the maximum
    quarterly revenue — the view-plus-scalar-subquery pattern. The
    revenue "view" is one shuffled aggregate on suppkey; the max is a
    1-row aggregate over it broadcast back as a filter (ties all
    surface, per the spec). Exact decimal revenue means the equality
    against the max is bit-stable in both engines — a double==double
    comparison that is actually safe, because both sides came from the
    same exact decimal. The view is checkpointed so the per-supplier
    aggregate computes once, not once per consumer."""
    t = Tables(spark, sf_dir)
    srev = (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(_rev().alias("total_rev"))
        .transform(fence)
    )
    mx = srev.agg(F.max("total_rev").alias("mx"))
    return (
        srev.join(F.broadcast(mx), F.col("total_rev") == F.col("mx"))
        .join(t.supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            "total_rev",
        )
    )


@register(
    "tpch_q19_disjunctive",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(15,4))
                         * (1 - CAST(l.l_discount AS DECIMAL(8,4)))) AS DECIMAL(18,6))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
    tags=("tpch", "join", "disjunctive"),
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analogue (discounted revenue, disjunctive brackets):
    the OR-of-conjunctions predicate that stresses pushdown splitting.
    Catalyst derives the common single-sided implications — p_brand IN
    (…) reaches the part scan, l_quantity BETWEEN 1 AND 30 the lineitem
    scan — while the full cross-table OR evaluates on the join output;
    the join itself stays a broadcast hash join on partkey (part is the
    small side), never a nested loop. One exact-decimal product-sum out
    (no p_container in this schema; brand × size × quantity brackets
    carry the shape)."""
    t = Tables(spark, sf_dir)
    joined = t.lineitem.join(
        F.broadcast(t.part), F.col("l_partkey") == F.col("p_partkey")
    )
    bracket = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
        )
    )
    return joined.filter(bracket).agg(
        _rev().alias("revenue"), F.count(F.lit(1)).alias("n_lines")
    )


@register(
    "tpch_q21_waiting",
    oracle="""
    SELECT s.s_name AS name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN orders o   ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, name ASC
    LIMIT 20
    """,
    tags=("tpch", "semi", "anti", "self-join", "topk"),
)
def tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analogue (suppliers who kept orders waiting): in
    finalized orders, the supplier whose line was the ONLY problem line
    while other suppliers were involved — EXISTS + NOT EXISTS against
    the same fact, the double-self-join shape. No l_receiptdate /
    l_commitdate in this schema, so "problem" is l_returnflag = 'R'.
    r12 rewrite (one scan instead of three): both correlated subqueries
    are per-ORDER properties of the supplier set, so they fold into a
    two-level aggregation of a single lineitem pass — per (orderkey,
    suppkey): the count of R lines; per orderkey: the distinct-supplier
    count, the count of suppliers with any R line, and (when that count
    is exactly 1) that supplier and its R-line tally. An l1 row (R line
    of supplier s in order o) survives the original EXISTS iff o has >=2
    distinct non-null suppliers, and the NOT EXISTS iff s is o's ONLY
    R-line supplier; the surviving rows per (o, s) number exactly
    r_cnt. The former plan shuffled every lineitem row three times
    (semi + anti with inequality residuals); this one shuffles the fact
    once into (orderkey, suppkey) partials (map-side combined) and once
    more at order grain, provably row-equivalent for any data: NULL
    suppkeys/orderkeys are filtered up front because an equality or
    inequality against NULL never satisfies the original EXISTS — a
    NULL-suppkey row is neither countable, another-supplier evidence,
    nor an R-blocker. The orders semi-join lands on the order-grain
    aggregate (already partitioned by orderkey — only the orders side
    shuffles). Top-20 with a name tiebreak via TakeOrdered."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.filter(
        F.col("l_orderkey").isNotNull() & F.col("l_suppkey").isNotNull()
    ).select("l_orderkey", "l_suppkey", (F.col("l_returnflag") == "R").alias("is_r"))
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.count_if(F.col("is_r")).alias("n_r")
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.count_if(F.col("n_r") > 0).alias("n_r_supp"),
        F.max(F.when(F.col("n_r") > 0, F.col("l_suppkey"))).alias("r_supp"),
        F.max(F.when(F.col("n_r") > 0, F.col("n_r"))).alias("r_cnt"),
    )
    final_orders = t.orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    return (
        per_o.filter((F.col("n_supp") >= 2) & (F.col("n_r_supp") == 1))
        .join(final_orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .join(F.broadcast(t.supplier), F.col("r_supp") == F.col("s_suppkey"))
        .groupBy(F.col("s_name").alias("name"))
        .agg(F.sum("r_cnt").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("name"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q2 / Q11 / Q16 / Q20 — the partsupp family, on a DERIVED partsupp.
# The canonical queries read a (partkey, suppkey)-grained partsupp table;
# this schema has none, but lineitem carries the same grain, so per-pair
# aggregates stand in: MIN(l_extendedprice) for ps_supplycost (Q2),
# SUM(l_extendedprice) restricted to one nation for value (Q11),
# DISTINCT (l_partkey, l_suppkey) for the relationship itself (Q16), and
# SUM(l_quantity) all-time vs in-window for availqty-vs-shipped (Q20).
# Cost/value comparisons stay in exact DecimalType end-to-end so the
# min-equality joins and HAVING thresholds are bit-deterministic across
# engines; doubles appear only in output columns.
# ---------------------------------------------------------------------------


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               MIN(CAST(l_extendedprice AS DECIMAL(15,4))) AS ps_cost
        FROM lineitem GROUP BY 1, 2
    ),
    eur AS (
        SELECT ps.ps_partkey, ps.ps_cost, s.s_name, s.s_acctbal, n.n_name
        FROM ps
        JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    best AS (
        SELECT ps_partkey AS b_partkey, MIN(ps_cost) AS min_cost
        FROM eur GROUP BY 1
    )
    SELECT CAST(e.s_acctbal AS DOUBLE) AS acctbal, e.s_name AS name,
           e.n_name AS nation, p.p_partkey AS partkey, p.p_name AS part_name,
           CAST(e.ps_cost AS DOUBLE) AS supply_cost
    FROM eur e
    JOIN best b ON b.b_partkey = e.ps_partkey AND e.ps_cost = b.min_cost
    JOIN part p ON p.p_partkey = e.ps_partkey
    WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'STANDARD'
    ORDER BY acctbal DESC, nation ASC, name ASC, partkey ASC
    LIMIT 100
    """,
    tags=("tpch", "join", "subquery", "topk"),
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): for each qualifying part, the
    EUROPE supplier(s) offering it at the region-wide minimum cost — the
    correlated scalar-MIN subquery, decorrelated the way Catalyst itself
    would: aggregate the inner query per partkey, equi-join the min back
    on (partkey, cost). ps_supplycost is derived as MIN(extendedprice)
    per (part, supplier) pair since there is no partsupp table; the cost
    stays DECIMAL(15,4) through the min-equality join so both engines
    match on exact values, and becomes double only in the output. The
    supplier→nation→region chain broadcasts (dims), and the correlated
    MIN is a window over the per-pair aggregate — ONE pass over the
    fact, not an aggregate-and-self-join that would scan lineitem twice.
    The part filter (size band + type) broadcast-SEMI-joins into
    lineitem BEFORE the pair aggregation: per-part min is unaffected by
    dropping other parts, and at 100 TB the ~1/30-selective part filter
    prunes the fact ahead of both shuffles. Top-100 with a total
    (acctbal, nation, name, partkey) tiebreak: (name, partkey) is
    unique per row, so the LIMIT set is deterministic."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    qual_part = t.part.filter(
        (F.col("p_size") >= 10) & (F.col("p_size") <= 20) & (F.col("p_type") == "STANDARD")
    )
    ps = (
        t.lineitem.join(
            F.broadcast(qual_part.select("p_partkey")),
            F.col("p_partkey") == F.col("l_partkey"),
            "left_semi",
        )
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(F.min(dmoney("l_extendedprice")).alias("ps_cost"))
    )
    eur = (
        ps.join(F.broadcast(t.supplier), F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(F.broadcast(t.nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(t.region.filter(F.col("r_name") == "EUROPE")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("ps_partkey", "ps_cost", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("ps_partkey")
    return (
        eur.withColumn("min_cost", F.min("ps_cost").over(w))
        .filter(F.col("ps_cost") == F.col("min_cost"))
        .join(F.broadcast(qual_part), F.col("p_partkey") == F.col("ps_partkey"))
        .select(
            F.col("s_acctbal").cast("double").alias("acctbal"),
            F.col("s_name").alias("name"),
            F.col("n_name").alias("nation"),
            F.col("p_partkey").alias("partkey"),
            F.col("p_name").alias("part_name"),
            F.col("ps_cost").cast("double").alias("supply_cost"),
        )
        .orderBy(F.desc("acctbal"), F.asc("nation"), F.asc("name"), F.asc("partkey"))
        .limit(100)
    )


_Q11_NATION = "NATION_7"
# threshold: value above 2x the nation's MEAN per-part share. The
# canonical Q11 fraction is 0.0001/SF — a constant that must shrink as
# the corpus grows or the result set collapses to empty (a fixed 0.001
# returned 0 rows at sf0.1); deriving it from the same aggregate keeps
# the query scale-invariant with no external SF parameter.
_Q11_MULT = "2.0"


@register(
    "tpch_q11_important_stock",
    oracle=f"""
    WITH grouped AS (
        SELECT l.l_partkey AS partkey,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(15,4))) AS DECIMAL(28,4)) AS value_d
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = '{_Q11_NATION}'
        GROUP BY 1
    ),
    total AS (
        SELECT CAST(SUM(value_d) AS DECIMAL(28,4)) AS total_d,
               COUNT(*) AS n_parts
        FROM grouped
    )
    SELECT g.partkey, CAST(g.value_d AS DOUBLE) AS value
    FROM grouped g, total t
    WHERE CAST(g.value_d AS DOUBLE) * t.n_parts
          > CAST(t.total_d AS DOUBLE) * {_Q11_MULT}
    ORDER BY value DESC, partkey ASC
    """,
    tags=("tpch", "agg", "subquery", "having"),
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification): parts whose value
    held by one nation's suppliers exceeds a fraction of that nation's
    TOTAL value — HAVING over a global scalar subquery. Value is
    SUM(extendedprice) per part restricted to the nation (the derived
    stand-in for supplycost*availqty). The plan computes the per-part
    aggregate ONCE (localCheckpoint pins the #parts-row result so the
    total's broadcast side cannot re-run the fact scan), derives the
    grand total from that small aggregate, and broadcasts the 1-row
    total back via crossJoin — the declared scalar-edge pattern, not a
    second fact scan. The threshold comparison is DECIMAL * DECIMAL >
    DECIMAL, exact in both engines, so boundary rows cannot flake.
    DECIMAL(28,4) gives the grand total ~10^24 of headroom — a narrower
    collapse (say 18,4) would overflow to NULL around petabyte scale and
    silently return zero rows. The threshold is value > 2x the mean
    per-part share, compared division-free as value*n_parts >
    total*2.0: both sides are one exact-decimal→double conversion and
    one IEEE multiply — bit-deterministic across engines — and the
    derived threshold keeps the result non-degenerate at every SF where
    a fixed fraction empties out as #parts grows. supplier+nation
    broadcast; the single fact shuffle is the partkey aggregation."""
    t = Tables(spark, sf_dir)
    grouped = (
        t.lineitem.join(F.broadcast(t.supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            F.broadcast(t.nation.filter(F.col("n_name") == _Q11_NATION)),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(dmoney("l_extendedprice")).cast("decimal(28,4)").alias("value_d"))
        # r13: cut fence — interleaved mechanism A/B 1.28x over the
        # persist cache for q11 (the tools/ab.py fence A/B)
        .transform(fence, cut=True)
    )
    total = grouped.agg(
        F.sum("value_d").cast("decimal(28,4)").alias("total_d"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        grouped.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_d").cast("double") * F.col("n_parts")
            > F.col("total_d").cast("double") * float(_Q11_MULT)
        )
        .select("partkey", F.col("value_d").cast("double").alias("value"))
        .orderBy(F.desc("value"), F.asc("partkey"))
    )


_Q16_SIZES = (1, 4, 9, 16, 25, 36, 49)


@register(
    "tpch_q16_supplier_cnt",
    oracle=f"""
    SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type NOT LIKE 'MEDIUM%'
      AND p.p_size IN {_Q16_SIZES}
      AND l.l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, brand ASC, type ASC, size ASC
    """,
    tags=("tpch", "agg", "anti-join"),
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): how many distinct
    suppliers can supply each qualifying (brand, type, size) bucket,
    excluding blacklisted suppliers — the NOT-IN + count-distinct shape.
    The supplier NOT IN (negative-acctbal suppliers, the s_comment
    complaints analogue) is a broadcast anti-join on a non-null key (the
    safe NOT IN == anti-join case); the part predicate trio (<>,
    NOT LIKE, IN-list) broadcast-joins BEFORE the aggregation so the
    count-distinct shuffle carries only qualifying pairs. countDistinct
    dedups (partkey, suppkey) inside the aggregate — no separate
    DISTINCT pass over the fact."""
    t = Tables(spark, sf_dir)
    bad_supp = t.supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    qual_part = t.part.filter(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").like("MEDIUM%"))
        & (F.col("p_size").isin(*_Q16_SIZES))
    )
    return (
        t.lineitem.join(
            F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
        )
        .join(F.broadcast(qual_part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), F.asc("brand"), F.asc("type"), F.asc("size"))
    )


_Q20_YEAR_LO, _Q20_YEAR_HI = "1997-01-01 00:00:00", "1998-01-01 00:00:00"


@register(
    "tpch_q20_promotion_supplier",
    oracle=f"""
    WITH qty AS (
        SELECT l_suppkey,
               SUM(CAST(l_quantity AS DECIMAL(18,6))) AS qty_all,
               SUM(CASE WHEN l_shipdate >= TIMESTAMP '{_Q20_YEAR_LO}'
                         AND l_shipdate <  TIMESTAMP '{_Q20_YEAR_HI}'
                        THEN CAST(l_quantity AS DECIMAL(18,6))
                        ELSE CAST(0 AS DECIMAL(18,6)) END) AS qty_1997
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_name AS name, CAST(s.s_acctbal AS DOUBLE) AS acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND s.s_suppkey IN (
            SELECT l_suppkey FROM qty
            WHERE qty_1997 > qty_all * CAST(0.5 AS DECIMAL(2,1)))
    ORDER BY name ASC
    """,
    tags=("tpch", "semi-join", "subquery"),
)
def tpch_q20_promotion_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers in one region who
    shipped more than half their all-time volume of a name-matched part
    inside the promotion year — the nested semi-join: innermost part
    name filter semi-joins the fact, a correlated per-(part,supplier)
    quantity threshold prunes pairs, and the surviving suppkey set
    semi-joins supplier. availqty has no table here, so the correlated
    comparison is in-window SUM(l_quantity) vs all-time SUM(l_quantity)
    at (partkey, suppkey) grain — both computed in ONE conditional
    aggregation over a single fact scan (no self-join), in exact
    DecimalType so the 0.5x threshold cannot flake. The part name filter
    broadcasts as a semi-join before the aggregation; the qualifying
    suppkey set (≤ #suppliers) broadcasts back against the supplier dim;
    region/nation broadcast. One fact shuffle total."""
    t = Tables(spark, sf_dir)
    small_parts = t.part.filter(F.col("p_name").like("small%")).select("p_partkey")
    zero = F.lit(0).cast("decimal(18,6)")
    in_year = (
        F.col("l_shipdate") >= F.lit(_Q20_YEAR_LO).cast("timestamp_ntz")
    ) & (F.col("l_shipdate") < F.lit(_Q20_YEAR_HI).cast("timestamp_ntz"))
    qty = (
        t.lineitem.join(
            F.broadcast(small_parts), F.col("p_partkey") == F.col("l_partkey"), "left_semi"
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(dec("l_quantity")).alias("qty_all"),
            F.sum(F.when(in_year, dec("l_quantity")).otherwise(zero)).alias("qty_1997"),
        )
    )
    qual_supp = (
        qty.filter(F.col("qty_1997") > F.col("qty_all") * F.lit("0.5").cast("decimal(2,1)"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        t.supplier.join(
            F.broadcast(t.nation), F.col("n_nationkey") == F.col("s_nationkey")
        )
        .join(
            F.broadcast(t.region.filter(F.col("r_name") == "ASIA")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .join(F.broadcast(qual_supp), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select(
            F.col("s_name").alias("name"),
            F.col("s_acctbal").cast("double").alias("acctbal"),
        )
        .orderBy(F.asc("name"))
    )
