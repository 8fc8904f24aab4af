"""Record linkage, anomaly detection, profiling, and layout clustering.

Entity resolution at 100 TB follows the same candidate/verify contract as
fuzzy dedup (operators/dedup.py): a cheap blocking key bounds the
quadratic pair expansion, then an exact similarity verifies only the
in-block candidates.  The reference's ETL surface has no linkage support
(its dedup is pandas drop_duplicates, reference
``app/utils/transformer.py:88``); these are the extension operators a
training-data pipeline layers on top.

Determinism notes (see functions/exact.py and the selfcheck contract):
- Levenshtein is integer dynamic programming — identical in any engine.
- Quantile fences come from F.percentile <-> quantile_cont (exact,
  interpolated selection — no order-dependent float summation).
- Morton codes are pure integer bit arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.registry import register


@register(
    "link_blocked_pairs",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b, a.p_brand,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
    tags=("linkage", "fuzzy", "blocking"),
)
def link_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage by blocking + edit-distance verify: candidate pairs
    share a blocking key (p_brand), and only in-block pairs pay the
    Levenshtein comparison.  The equi-join on the block key is a plain
    shuffle hash join — never an all-pairs cross product; pair count is
    sum(block²).

    Scale shape (r11): TPC-H p_brand has a FIXED 25-value domain, so
    blocks grow linearly with the catalog and sum(block²) grows
    quadratically — at sf10 that is 8e10 in-block pairs funneled through
    just 25 join keys (25 tasks, each enumerating 3.2e9 pairs: the r10
    engine-only lane sat >1.5h in that stage).  Two fixes, both
    result-invariant (same oracle):

    - **Salted sub-blocks**: the left side takes a deterministic salt in
      0..S-1 from its own key; the right side replicates to all S salts;
      the join key becomes (p_brand, salt).  Every pair still meets
      exactly once (at the left row's salt), but enumeration fans out
      over 25*S keys instead of 25 — the replicated side costs S copies
      of the (small) dim projection, the win is S-way parallelism inside
      every block.  This is the documented hot-block answer from
      dedup.lsh_candidate_pairs, applied to pair ENUMERATION rather than
      pair capping (here the pairs ARE the answer, so nothing may drop).
    - **Banded verify**: Levenshtein <= 4 implies abs(len(a)-len(b)) <= 4,
      checked first (cheap codegen short-circuit), then the THRESHOLDED
      levenshtein(a, b, 4) — O(k*min(m,n)) early-exit DP instead of
      O(m*n), returning the true distance for survivors (== the full
      distance whenever it is <= the threshold, so the output column is
      unchanged).

    Levenshtein is integer DP — bit-identical across engines."""
    t = Tables(spark, sf_dir)
    n_salt = 32
    a = t.part.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        "p_brand",
        F.pmod(F.hash("p_partkey"), F.lit(n_salt)).alias("salt"),
    )
    b = t.part.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        "p_brand",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("salt"),
    )
    dist = F.levenshtein("name_a", "name_b", 4)
    return (
        a.join(b, ["p_brand", "salt"])
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(
            (F.abs(F.length("name_a") - F.length("name_b")) <= 4)
            & (dist >= 0)
        )
        .select("key_a", "key_b", "p_brand", dist.cast("long").alias("edit_dist"))
    )


@register(
    "anomaly_iqr",
    oracle="""
    WITH fences AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.75) AS q3
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT f.l_returnflag,
           CAST(COUNT(*) FILTER (WHERE l.l_extendedprice > f.q3 + 1.5 * (f.q3 - f.q1)) AS BIGINT) AS n_high,
           CAST(COUNT(*) FILTER (WHERE l.l_extendedprice < f.q1 - 1.5 * (f.q3 - f.q1)) AS BIGINT) AS n_low,
           MAX(l.l_extendedprice) FILTER (WHERE l.l_extendedprice > f.q3 + 1.5 * (f.q3 - f.q1)) AS worst_high,
           f.q1, f.q3
    FROM lineitem l JOIN fences f USING (l_returnflag)
    GROUP BY f.l_returnflag, f.q1, f.q3
    """,
    tags=("anomaly", "quality"),
)
def anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection per group: exact quartiles → IQR
    fences → per-group outlier counts.  Rank-based fences are the
    deterministic choice (quantiles are selections, never float sums —
    z-scores would need an order-dependent Σx²).  Two passes over the
    fact: a groupBy for the fences (small result, joined back) and a
    fence-filtered count — both map-side-combinable single exchanges.
    At 100 TB swap F.percentile for percentile_approx (t-digest) and the
    plan shape is unchanged."""
    t = Tables(spark, sf_dir)
    fences = t.lineitem.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.25)).alias("q1"),
        F.percentile("l_extendedprice", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    hi, lo = F.col("q3") + 1.5 * iqr, F.col("q1") - 1.5 * iqr
    price = F.col("l_extendedprice")
    return (
        t.lineitem.join(fences, "l_returnflag")
        .groupBy("l_returnflag", "q1", "q3")
        .agg(
            F.count_if(price > hi).alias("n_high"),
            F.count_if(price < lo).alias("n_low"),
            F.max(F.when(price > hi, price)).alias("worst_high"),
        )
        .select("l_returnflag", "n_high", "n_low", "worst_high", "q1", "q3")
    )


@register(
    "profile_table",
    oracle="""
    SELECT 'o_orderkey' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_val, CAST(MAX(o_orderkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey), COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
           CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority), COUNT(DISTINCT o_orderpriority),
           CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR) FROM orders
    """,
    tags=("profile", "quality"),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling in ONE scan: every column's row/null/distinct
    count and min/max, emitted long-format (one row per column).  The
    Spark plan is a single multi-distinct aggregate (Catalyst expands it
    to one Expand + aggregate — still one pass over the fact) followed by
    a 1-row explode; the oracle is the equivalent UNION ALL.  This is the
    metadata a 100 TB ingest job publishes per partition for free.
    String-typed min/max keep the output schema uniform across column
    types."""
    t = Tables(spark, sf_dir)
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.count_distinct(F.col(c)).alias(f"{c}__dist"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = t.orders.agg(*aggs)
    packed = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col(f"{c}__n").alias("n_rows"),
                F.col(f"{c}__null").alias("n_null"),
                F.col(f"{c}__dist").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_val"),
                F.col(f"{c}__max").alias("max_val"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(packed).alias("p")).select("p.*")


def _morton16(x: Column, y: Column) -> Column:
    """Interleave the low 16 bits of two longs into a 32-bit Morton code
    (pure integer shifts/masks — identical in any engine)."""

    def spread(v: Column) -> Column:
        v = v.bitwiseAND(F.lit(0xFFFF))
        v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF))
        v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
        v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x33333333))
        v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x55555555))
        return v

    return spread(x).bitwiseOR(F.shiftleft(spread(y), 1))


def _morton16_sql(x: str, y: str) -> str:
    def spread(v: str) -> str:
        s = f"({v} & 65535)"
        s = f"(({s} | ({s} << 8)) & 16711935)"
        s = f"(({s} | ({s} << 4)) & 252645135)"
        s = f"(({s} | ({s} << 2)) & 858993459)"
        s = f"(({s} | ({s} << 1)) & 1431655765)"
        return s

    return f"({spread(x)} | ({spread(y)} << 1))"


@register(
    "cluster_zorder",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           CAST({_morton16_sql('o_orderkey', 'o_custkey')} AS BIGINT) AS zval,
           CAST({_morton16_sql('o_orderkey', 'o_custkey')} >> 22 AS BIGINT) AS zbucket
    FROM orders
    """,
    tags=("layout", "zorder", "clustering"),
)
def cluster_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton) clustering key over two dimensions: interleaving
    the bits of (o_orderkey, o_custkey) gives a 1-D sort order in which
    ranges of EITHER dimension map to few contiguous zbucket runs — the
    layout trick behind Delta/Iceberg Z-ordering.  At 100 TB:
    `repartitionByRange(zbucket).sortWithinPartitions(zval)` before the
    parquet write, and min/max column stats then prune files for
    predicates on either key (a single-column sort only prunes one).
    The code is 10 integer ops/row, codegen'd, zero shuffle here."""
    t = Tables(spark, sf_dir)
    z = _morton16(F.col("o_orderkey"), F.col("o_custkey"))
    return t.orders.select(
        "o_orderkey",
        "o_custkey",
        z.cast("long").alias("zval"),
        F.shiftright(z, 22).cast("long").alias("zbucket"),
    )


@register(
    "events_attribution",
    oracle="""
    WITH purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS pts, value
      FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT event_id AS click_id, user_id, ts AS cts
      FROM events WHERE event_type = 'click'
    ),
    touch AS (
      SELECT p.purchase_id, p.value, c.click_id
      FROM purchases p JOIN clicks c
        ON p.user_id = c.user_id
       AND c.cts <= p.pts AND c.cts > p.pts - INTERVAL 7 DAY
    )
    SELECT purchase_id, click_id,
           1.0 / CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS DOUBLE) AS weight,
           value / CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS DOUBLE) AS attributed
    FROM touch
    """,
    tags=("events", "attribution"),
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    evenly across the user's clicks in the prior 7 days.  The touch join
    shuffles both sides on user_id only (time predicate applied
    post-join within the per-user group — bounded by events-per-user, the
    natural grain); the per-purchase touch count is one window over the
    purchase key.  Weights are single divisions of exact integers into
    doubles — no float summation, so results hash identically."""
    t = Tables(spark, sf_dir)
    ev = t.events
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts"), "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    touch = purchases.join(clicks, "user_id").filter(
        (F.col("cts") <= F.col("pts"))
        & (F.col("cts") > F.col("pts") - F.expr("INTERVAL 7 DAY"))
    )
    from pyspark.sql import Window

    n = F.count(F.lit(1)).over(Window.partitionBy("purchase_id")).cast("double")
    return touch.select(
        "purchase_id",
        "click_id",
        (F.lit(1.0) / n).alias("weight"),
        (F.col("value") / n).alias("attributed"),
    )


@register(
    "anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT c_mktsegment, MEDIAN(c_acctbal) AS m
      FROM customer GROUP BY c_mktsegment
    ),
    dev AS (
      SELECT c.c_mktsegment, m, ABS(c.c_acctbal - m) AS d, c.c_acctbal
      FROM customer c JOIN med USING (c_mktsegment)
    ),
    mad AS (
      SELECT c_mktsegment, MEDIAN(d) AS mad FROM dev GROUP BY c_mktsegment
    )
    SELECT dev.c_mktsegment, dev.m AS median_bal, mad.mad,
           CAST(COUNT(*) FILTER (WHERE dev.d > 3.0 * 1.4826 * mad.mad) AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (c_mktsegment)
    GROUP BY dev.c_mktsegment, dev.m, mad.mad
    """,
    tags=("anomaly", "robust", "quality"),
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier detection — the robust z-score.
    Mean/stddev fences (anomaly_iqr's naive cousin) are themselves pulled
    by the outliers they hunt; MAD has a 50% breakdown point.  Everything
    is selection or elementwise double arithmetic (median → |x−m| →
    median → 3·1.4826·mad compare): zero float summations, so results
    hash across engines.  Three exchanges on the group key, each over
    progressively tinier data; the two median passes become t-digest
    sketches at 100 TB without changing the plan shape."""
    t = Tables(spark, sf_dir)
    med = t.customer.groupBy("c_mktsegment").agg(F.percentile("c_acctbal", F.lit(0.5)).alias("m"))
    dev = t.customer.join(med, "c_mktsegment").select(
        "c_mktsegment", "m", F.abs(F.col("c_acctbal") - F.col("m")).alias("d")
    )
    mad = dev.groupBy("c_mktsegment").agg(F.percentile("d", F.lit(0.5)).alias("mad"))
    return (
        dev.join(mad, "c_mktsegment")
        .groupBy("c_mktsegment", "m", "mad")
        .agg(F.count_if(F.col("d") > 3.0 * 1.4826 * F.col("mad")).alias("n_outliers"))
        .select(
            "c_mktsegment", F.col("m").alias("median_bal"), "mad", "n_outliers"
        )
    )


_SN_WINDOW = 3
_SN_MAX_EDIT = 3


@register(
    "link_sorted_neighborhood",
    oracle=f"""
    WITH names AS (
        SELECT DISTINCT p_name, string_split(p_name, ' ')[1] AS blk FROM part
    ),
    rn AS (
        SELECT p_name, blk,
               ROW_NUMBER() OVER (PARTITION BY blk ORDER BY p_name) AS r
        FROM names
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM rn a
    JOIN rn b ON a.blk = b.blk AND b.r BETWEEN a.r + 1 AND a.r + {_SN_WINDOW}
    WHERE levenshtein(a.p_name, b.p_name) <= {_SN_MAX_EDIT}
    """,
    tags=("linkage", "blocking", "window"),
)
def link_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage: sort names, compare each one
    only with its next W=3 neighbors in sort order — the third classic
    blocking scheme next to key-blocking (link_blocked_pairs) and LSH
    (dedup_verified_pairs). Candidate count is exactly W·N regardless of
    data skew, which is its advantage over key blocks (no hot block can
    go quadratic). The sort runs WITHIN a partition key (first name
    token) rather than globally — a global sorted window is a
    single-partition plan; partition-local neighborhoods keep the
    window exchange-parallel at the cost of missing cross-boundary
    pairs, the standard multi-pass trade-off (production runs multiple
    passes with different sort keys). Neighbors come from `lead` over
    the sorted window (no self-join); Levenshtein verification is JVM
    codegen."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    names = (
        t.part.select("p_name")
        .distinct()
        .withColumn("blk", F.split(F.col("p_name"), " ")[0])
    )
    w = Window.partitionBy("blk").orderBy("p_name")
    neighbors = names.select(
        F.col("p_name").alias("name_a"),
        F.array(
            *[F.lead("p_name", i).over(w) for i in range(1, _SN_WINDOW + 1)]
        ).alias("nbs"),
    )
    return (
        neighbors.select("name_a", F.explode("nbs").alias("name_b"))
        .filter(F.col("name_b").isNotNull())
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= _SN_MAX_EDIT)
    )
