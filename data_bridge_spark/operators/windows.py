"""Window-function operators (SURVEY.md §2B15-B16).

Window partitioning maps 1:1 onto Spark's shuffle: one exchange on the
partition key serves every frame over it. Order columns always include a
unique tiebreak so ranks and running sums are total — required both for
the oracle hash and for deterministic results under re-execution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.registry import register


@register(
    "window_rank",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS INTEGER) AS rk
        FROM orders
    ) WHERE rk <= 3
    """,
    tags=("window",),
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-N (the reference segments per campus_code,
    sample.config.yaml:86,96): rank within partition, keep N. At scale:
    one shuffle on the partition key; no global sort."""
    t = Tables(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        t.orders.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


@register(
    "window_running",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC, l_quantity ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_qty
    FROM lineitem
    WHERE l_suppkey <= 50
    """,
    tags=("window",),
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) aggregate over an ordered frame
    (SURVEY §2B16). Decimal-exact so the prefix sums are identical in any
    engine. The order includes every output column (shipdate, orderkey,
    linenumber, quantity): the synthetic lineitem does NOT have a unique
    (orderkey, linenumber) — 11k+ duplicate pairs at sf0.01, exposed when
    the fuzz fixture's hot-supplier reassignment collapsed duplicates
    into one partition — and with the measure in the order, any remaining
    tie is a full-duplicate row whose running values form the same
    multiset in either order."""
    t = Tables(spark, sf_dir)
    w = (
        W.partitionBy("l_suppkey")
        # asc_nulls_last on the nullable keys: DuckDB's default NULL
        # order (Spark ASC is NULLS FIRST — mixed-NULL shipdates would
        # shift every prefix sum by the NULL block)
        .orderBy(
            F.col("l_shipdate").asc_nulls_last(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
            F.col("l_quantity").asc_nulls_last(),
        )
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        t.lineitem.filter(F.col("l_suppkey") <= 50)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .withColumn(
            "running_qty",
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).over(w).cast("double"),
        )
        .drop("l_shipdate")
    )


@register(
    "window_lag_delta",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(o_totalprice
                - LAG(o_totalprice) OVER (
                      PARTITION BY o_custkey
                      ORDER BY o_orderdate ASC, o_orderkey ASC
                  ) AS DOUBLE) AS price_delta
    FROM orders
    WHERE o_custkey <= 200
    """,
    tags=("window",),
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG-based delta between consecutive rows per key — the building
    block for sessionization and CDC-style diffs (SURVEY §2B16/§2D)."""
    t = Tables(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_last(), F.col("o_orderkey").asc()
    )
    return (
        t.orders.filter(F.col("o_custkey") <= 200)
        .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate")
        .withColumn(
            "price_delta",
            (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).cast("double"),
        )
        .select("o_custkey", "o_orderkey", "price_delta")
    )


@register(
    "window_rolling_median",
    oracle="""
    SELECT user_id, event_id,
           MEDIAN(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med5
    FROM events WHERE event_type = 'view'
    """,
    tags=("window", "median", "robust"),
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 5-row median per user — the robust-smoothing counterpart
    of window_running's mean.  Spark has no median window aggregate, so
    the frame is materialized as a bounded collect_list and reduced with
    array_sort + middle-element selection (JVM expressions, still one
    exchange on user_id; frame size is a constant 5, so the array cost is
    O(frame) per row, not O(partition)).  Even-width prefixes average the
    two middles — a single double addition/halving, bit-deterministic, so
    it hashes against DuckDB's interpolating MEDIAN."""
    t = Tables(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc_nulls_last(), "event_id")
        .rowsBetween(-4, W.currentRow)
    )
    # collect_list skips NULL values, matching MEDIAN's NULL-ignoring
    # aggregate semantics — but that means the frame array can be EMPTY
    # (all 5 values NULL), so the n=0 branch must short-circuit before
    # element_at sees index 0
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    mid = F.element_at(arr, (n / 2 + 1).cast("int"))
    lo = F.element_at(arr, (n / 2).cast("int"))
    med = (
        F.when(n == 0, F.lit(None))
        .when(n % 2 == 1, mid)
        .otherwise((lo + mid) / 2.0)
    )
    return (
        t.events.filter(F.col("event_type") == "view")
        .select("user_id", "event_id", med.alias("med5"))
    )


@register(
    "window_share_of_total",
    oracle="""
    WITH rev AS (
        SELECT n.n_regionkey, n.n_name,
               SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS rev_dec
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_regionkey, n.n_name
    )
    SELECT r.r_name, rev.n_name,
           CAST(rev.rev_dec AS DOUBLE) AS nation_rev,
           CAST(rev.rev_dec AS DOUBLE)
               / NULLIF(CAST(SUM(rev.rev_dec) OVER (PARTITION BY rev.n_regionkey) AS DOUBLE), 0.0)
               AS region_share
    FROM rev JOIN region r ON rev.n_regionkey = r.r_regionkey
    """,
    tags=("window", "ratio-to-report"),
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its REGION's revenue — the
    classic percent-of-parent window (SUM OVER partition as the
    denominator). The window runs AFTER aggregation to nation grain (25
    rows), so the "window over everything" cost is a 25-row exchange,
    never the fact table: pre-aggregate below the window is the same
    below-join doctrine as flagship_report. Both the numerator AND the
    window denominator are decimal-exact (a double window sum would add
    in engine-specific row order — last-ulp divergence, caught by the
    oracle on first run); the share is one IEEE division of identical
    doubles; an all-zero region yields NULL shares via NULLIF on both
    engines."""
    t = Tables(spark, sf_dir)
    from data_bridge_spark.functions.exact import dec, dec_to_double

    rev = (
        t.orders.join(t.customer, t.orders.o_custkey == t.customer.c_custkey)
        .join(t.nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_regionkey", "n_name")
        # the window denominator sums DECIMALS (order-insensitive): a
        # double window sum would add in engine-specific row order and
        # diverge in the last ulp
        .agg(F.sum(dec("o_totalprice")).alias("rev_dec"))
    )
    w = W.partitionBy("n_regionkey")
    return rev.join(t.region, F.col("n_regionkey") == F.col("r_regionkey")).select(
        "r_name",
        "n_name",
        dec_to_double(F.col("rev_dec"), 6).alias("nation_rev"),
        (
            dec_to_double(F.col("rev_dec"), 6)
            / F.nullif(dec_to_double(F.sum("rev_dec").over(w), 6), F.lit(0.0))
        ).alias("region_share"),
    )
