"""Core relational operators: scan, project, filter, join (SURVEY.md §2B1-B8).

Each function is a lazy DataFrame plan builder — Catalyst pushes the
filters/projections into the parquet scan (verify with
``df.explain("formatted")``: ``PushedFilters`` / ``ReadSchema``) and AQE
picks broadcast joins for the dimension tables at runtime.

Reference parity notes are cited per query (reference = the config-driven
pandas ETL at /root/reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.functions.exact import davg, dec, dec_to_double, dsum
from data_bridge_spark.functions.templating import render_sql
from data_bridge_spark.registry import register
from data_bridge_spark.session import local_frame


@register(
    "flagship_report",
    oracle="""
    SELECT n.n_name AS nation,
           o.o_orderpriority AS priority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(15,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(8,4)))) AS DECIMAL(18,6))
                AS DOUBLE) AS revenue,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(o.o_totalprice) AS avg_order_price
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderstatus <> 'F'
    GROUP BY n.n_name, o.o_orderpriority
    """,
    tags=("flagship", "join", "agg"),
)
def flagship_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's `example_stream` admin-report shape
    (reference sample.config.yaml:115-122 — fact x fact x dim join, filter,
    multi-measure group-by) on the TPC-H-ish tables: revenue by nation and
    order priority. Scan→filter→join→agg→(driver sorts).

    Lineitem is PRE-AGGREGATED on orderkey before the joins: all three
    line measures (count, qty sum, revenue sum) are additive, so the
    per-order partials carry the same information in ~1/4 the rows
    through both fact shuffles (every join key and group key is at order
    grain or coarser). The per-line COUNT/SUM of o_totalprice is
    recovered exactly as o_totalprice × line-count, with the count
    conditional on non-null o_totalprice to preserve COUNT(col)
    semantics. Exact decimal partials re-aggregate losslessly — this is
    the partial-aggregation-below-join rewrite that Spark does not apply
    automatically (only map-side partials of the FINAL aggregate), and
    at 100 TB it is the difference between shuffling lineitem twice and
    shuffling orders-grain rows twice."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.filter(F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(dec("l_quantity")).alias("qty_part"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(15,4)")
            * (1 - F.col("l_discount").cast("decimal(8,4)"))
        ).alias("rev_part"),
    )
    orders = t.orders.filter(F.col("o_orderstatus") != "F")
    return (
        per_order.join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(t.customer.select("c_custkey", "c_nationkey"),
              orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("o_orderpriority").alias("priority"))
        .agg(
            F.sum("cnt").alias("n_items"),
            dec_to_double(F.sum("qty_part"), 6).alias("sum_qty"),
            dec_to_double(F.sum("rev_part").cast("decimal(18,6)"), 6).alias("revenue"),
            (
                dec_to_double(F.sum(dec("o_totalprice") * F.col("cnt")), 6)
                / F.sum(
                    F.when(F.col("o_totalprice").isNotNull(), F.col("cnt")).otherwise(
                        F.lit(0)
                    )
                )
            ).alias("avg_order_price"),
        )
    )


@register(
    "src_scan",
    oracle="SELECT * FROM region",
    tags=("source",),
)
def src_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native table scan (reference's fileshare read, extractor.py:29-37,
    becomes a parquet scan)."""
    return Tables(spark, sf_dir).region


@register(
    "proj_select",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name, c_mktsegment AS segment
    FROM customer
    """,
    tags=("projection",),
)
def proj_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection with aliasing (reference query.sql:2-4 SELECT list +
    ALIAS map, extractor.py:147)."""
    t = Tables(spark, sf_dir)
    return t.customer.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )


@register(
    "filter_eq",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_linestatus = 'F'
    """,
    tags=("filter",),
)
def filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive equality predicates (reference query.sql:9-10)."""
    t = Tables(spark, sf_dir)
    return t.lineitem.filter(
        (F.col("l_returnflag") == "R") & (F.col("l_linestatus") == "F")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


_FILTER_PARAM_SQL = """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_nationkey = ::nation_key::
      AND c_acctbal > ::min_balance::
"""


@register(
    "filter_param",
    oracle=render_sql(_FILTER_PARAM_SQL, {"nation_key": 7, "min_balance": 1000.0}),
    tags=("filter", "templating"),
)
def filter_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized predicate via the ::key:: template grammar
    (reference query.sql:11, extractor.py:63-74). The same rendered SQL
    runs on Spark and the oracle."""
    Tables(spark, sf_dir).view("customer")
    return spark.sql(
        render_sql(_FILTER_PARAM_SQL, {"nation_key": 7, "min_balance": 1000.0}, dialect="spark")
    )


_FILTER_IN_SQL = """
    SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
    FROM orders
    WHERE o_orderpriority IN (::priorities::)
      AND o_totalprice >= ::floor_price::
"""
_FILTER_IN_PARAMS = {"priorities": ["1-URGENT", "2-HIGH"], "floor_price": 50000.0}


@register(
    "filter_in",
    oracle=render_sql(_FILTER_IN_SQL, _FILTER_IN_PARAMS),
    tags=("filter", "templating"),
)
def filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic IN-list expansion (reference query.sql:12 +
    extractor.py:68-71): a list param becomes `col.isin(...)`."""
    t = Tables(spark, sf_dir)
    return t.orders.filter(
        F.col("o_orderpriority").isin(_FILTER_IN_PARAMS["priorities"])
        & (F.col("o_totalprice") >= _FILTER_IN_PARAMS["floor_price"])
    ).select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")


@register(
    "join_inner",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, o.o_orderstatus, l.l_quantity,
           l.l_extendedprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate < TIMESTAMP '1995-06-01 00:00:00'
    """,
    tags=("join",),
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact x fact inner equi-join (reference example_stream joins grades
    to students, sample.config.yaml:98-104). Sort-merge / shuffled-hash by
    size; AQE may flip to broadcast at small SF."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.filter(F.col("l_shipdate") < F.lit("1995-06-01").cast("timestamp_ntz"))
    return li.join(t.orders, li.l_orderkey == F.col("o_orderkey")).select(
        "o_orderkey", "l_linenumber", "o_orderstatus", "l_quantity", "l_extendedprice"
    )


@register(
    "join_broadcast",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    """,
    tags=("join",),
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension lookup join with explicit broadcast (reference's
    small keyed dimension fetch, sample.config.yaml:124-140). nation and
    region are tiny at any SF — never shuffle the fact side."""
    t = Tables(spark, sf_dir)
    dims = (
        t.nation.join(t.region, F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        .select("n_nationkey", F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
    )
    return t.customer.join(F.broadcast(dims), F.col("c_nationkey") == F.col("n_nationkey")).select(
        "c_custkey", "c_name", "nation", "region"
    )


@register(
    "join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    tags=("join", "agg"),
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping unmatched rows (the reference's mailing-list
    enrichment, sample.config.yaml:162-168); count(o_orderkey) ignores the
    null-padded rows, so order-less customers show 0."""
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
    tags=("join",),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppression-list anti-join (reference filter_mailing_list removes
    addresses on the no-email list, sample.config.yaml:73-78,162-168):
    customers with no urgent orders."""
    t = Tables(spark, sf_dir)
    urgent = t.orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return t.customer.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join_semi",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM customer c
        WHERE c.c_custkey = o.o_custkey
          AND c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 5000
    )
    """,
    tags=("join",),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join replacing the reference's collected-ID-list IN param
    (step: outputs fed to IN (::ids::), sample.config.yaml:124-140): stays
    lazy and distributed instead of materializing IDs on the driver."""
    t = Tables(spark, sf_dir)
    wanted = t.customer.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000)
    ).select("c_custkey")
    return t.orders.join(
        wanted, F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, NULLIF(o_orderpriority, '3-MEDIUM') AS pri, o_totalprice
      FROM orders
    ),
    dim AS (
      SELECT NULLIF(p, '3-MEDIUM') AS pri, tier FROM (VALUES
        ('1-URGENT', 'rush'), ('2-HIGH', 'rush'), ('3-MEDIUM', 'standard'),
        ('4-NOT SPECIFIED', 'slow'), ('5-LOW', 'slow')) v(p, tier)
    )
    SELECT dim.tier, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (WHERE a.pri IS NULL) AS BIGINT) AS n_null_key
    FROM a JOIN dim ON a.pri IS NOT DISTINCT FROM dim.pri
    GROUP BY dim.tier
    """,
    tags=("join", "null-safe"),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other instead of silently dropping — the semantics CDC merges
    and dimension lookups with optional keys need.  Crucially Spark still
    plans `<=>` as a HASH join key (null-safe equality is an equi-
    predicate, unlike `a = b OR (a IS NULL AND b IS NULL)` which would
    fall to BNLJ); the dim side broadcasts.  The NULLIF derivation
    manufactures NULLs on both sides to prove the match path."""
    t = Tables(spark, sf_dir)
    a = t.orders.select(
        "o_orderkey", F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("pri")
    )
    dim = local_frame(
        spark,
        [("1-URGENT", "rush"), ("2-HIGH", "rush"), ("3-MEDIUM", "standard"),
         ("4-NOT SPECIFIED", "slow"), ("5-LOW", "slow")],
        "p string, tier string",
    ).select(F.nullif(F.col("p"), F.lit("3-MEDIUM")).alias("pri"), "tier")
    return (
        a.join(F.broadcast(dim), a["pri"].eqNullSafe(dim["pri"]))
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_if(a["pri"].isNull()).alias("n_null_key"),
        )
    )
