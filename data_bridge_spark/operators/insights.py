"""Decision-support and profiling operators: TPC-H-grade multi-join
analytics, market-basket co-occurrence, OLS regression, chi-square
independence, entropy profiling, edit-distance linkage, vocabulary
coverage, and incremental (new-vs-corpus) dedup.

Scale doctrine as everywhere else: declarative plans Catalyst can push
filters/pruning through, broadcast for dims, shuffles only on real keys,
exact decimal sums for order-insensitive doubles, and a DuckDB oracle
per query. The multi-join queries here are the classic warehouse shapes
(TPC-H Q3/Q5 analogues on this schema) — the plans AQE re-orders and
skew-splits at 100 TB, which is exactly why they are expressed as joins
+ group-bys rather than anything hand-scheduled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.functions.exact import davg, dec_to_double, dfactor, dmoney, dsum
from data_bridge_spark.operators.dedup import (
    _band_array,
    _minhash_sql_cols,
    _norm,
    _NORM_SQL,
    _signatures,
)
from data_bridge_spark.registry import register
from data_bridge_spark.session import fence

_CUT = "1997-07-01 00:00:00"  # Q3-style split date (mid-range of o_orderdate)


@register(
    "tpch_q3_shipping",
    oracle=f"""
    SELECT l.l_orderkey AS orderkey,
           o.o_orderdate AS orderdate,
           o.o_orderpriority AS priority,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(15,4))
                       * (1 - CAST(l.l_discount AS DECIMAL(8,4)))) AS DECIMAL(18,6))
                AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '{_CUT}'
      AND l.l_shipdate  > TIMESTAMP '{_CUT}'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderdate ASC, orderkey ASC
    LIMIT 10
    """,
    tags=("tpch", "join", "agg", "topk"),
)
def tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analogue (shipping priority): top-10 open-order revenue
    for one market segment — the canonical fact x fact x dim funnel the
    reference's report queries approximate (reference
    sample.config.yaml:115-122). Both date filters and the segment
    filter push into the scans (plan-verified class, see
    tests/test_plan_audit.py); the two joins shuffle on custkey/orderkey;
    the top-10 is a TakeOrdered over the per-order aggregate with a total
    tie-break (revenue DESC, orderdate, orderkey), so no global sort
    materializes. Revenue is the exact decimal product-sum from
    functions/exact.py."""
    t = Tables(spark, sf_dir)
    cut = F.lit(_CUT.split(" ")[0]).cast("timestamp_ntz")
    cust = t.customer.filter(F.col("c_mktsegment") == "BUILDING")
    orders = t.orders.filter(F.col("o_orderdate") < cut)
    li = t.lineitem.filter(F.col("l_shipdate") > cut)
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.sum(dmoney("l_extendedprice") * (1 - dfactor("l_discount")))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("orderdate"), F.asc("orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_local_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(15,4))
                       * (1 - CAST(l.l_discount AS DECIMAL(8,4)))) AS DECIMAL(18,6))
                AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    tags=("tpch", "join", "agg"),
)
def tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analogue (local supplier volume): revenue by nation where
    the customer and the line's supplier share a nation, restricted to
    one region and a date window. Six-table star-ish join, ordered so the
    most selective dim filter lands on the biggest fact FIRST: the
    region→nation→supplier chain collapses to a broadcast-able
    "ASIA suppliers" dim (10k rows/SF), lineitem broadcast-joins against
    it before anything shuffles — only ~1/5 of lineitem (one region's
    suppliers) survives into the orderkey exchange, and the custkey
    exchange carries the c_nationkey = s_nationkey co-location predicate.
    Catalyst can't derive this reorder without CBO stats (the region
    filter only reaches supplier through two dim joins), so the plan
    states it; AQE still skew-splits the remaining fact shuffles. Cuts
    the shuffled bytes ~5× vs filtering after the fact joins — the gap
    widens with scale."""
    t = Tables(spark, sf_dir)
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    asia_sup = (
        t.supplier.join(
            F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(t.region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        t.lineitem.join(F.broadcast(asia_sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t.customer,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(dmoney("l_extendedprice") * (1 - dfactor("l_discount")))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("revenue")
        )
    )


_MIN_SUPPORT = 5
_MAX_BASKET = 64  # hard cap: baskets above this are dropped (and counted)


@register(
    "basket_pairs",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    sized AS (
        SELECT l_orderkey, COUNT(*) AS b_size FROM items GROUP BY 1
    ),
    dropped AS (
        SELECT COUNT(*) AS n_dropped_baskets FROM sized WHERE b_size > {_MAX_BASKET}
    ),
    frequent AS (
        SELECT l_partkey FROM items GROUP BY 1 HAVING COUNT(*) >= {_MIN_SUPPORT}
    ),
    pruned AS (
        SELECT i.l_orderkey, i.l_partkey
        FROM items i
        WHERE i.l_orderkey IN (SELECT l_orderkey FROM sized WHERE b_size <= {_MAX_BASKET})
          AND i.l_partkey  IN (SELECT l_partkey FROM frequent)
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_orders, d.n_dropped_baskets
    FROM pruned a
    JOIN pruned b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
    CROSS JOIN dropped d
    GROUP BY a.l_partkey, b.l_partkey, d.n_dropped_baskets
    HAVING COUNT(*) >= {_MIN_SUPPORT}
    """,
    tags=("basket", "join", "agg"),
)
def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: part pairs co-occurring in >= 5 orders
    (the candidate-generation step of A-Priori / FP-growth). The in-
    basket self-join is the textbook quadratic risk, guarded two ways:

    - **A-Priori prune**: items are semi-joined to parts appearing in
      >= _MIN_SUPPORT distinct orders first. A part below support cannot
      be in a frequent pair (pair count <= either part's count), so the
      prune provably never changes the output — but at 100 TB it deletes
      the long tail of rare parts BEFORE the quadratic step.
    - **Hard basket cap**: baskets larger than _MAX_BASKET items are
      dropped entirely (the star trick dedup.lsh_candidate_pairs uses
      does NOT apply here — pair *counts* are the answer, so a capped
      basket cannot be summarized by a star). The number of dropped
      baskets is surfaced as a constant ``n_dropped_baskets`` audit
      column on every surviving pair row. (If NO pair survives the
      support filter the result is empty and the count has no row to
      ride — an empty result from a non-empty corpus is itself the
      signal to inspect the inputs.)
      On this schema baskets are orders (~4-7 lines), so the cap never
      fires outside synthetic tests (tests/test_operators.py grows a
      mega-basket and asserts bounded expansion + the counted drop).

    Plan: the distinct, the size count, the self-join, and the support
    count all shuffle on the same keys (orderkey / partkey — exchange
    reuse); the 1-row dropped count broadcasts back via crossJoin. Per
    surviving basket the expansion is O(min(b, _MAX_BASKET)²)."""
    t = Tables(spark, sf_dir)
    # r12: items fans out to three branches (sized, frequent, pruned) —
    # fence the distinct once; and the in-basket self-join is replaced
    # by per-basket pair enumeration over a sorted member array: every
    # surviving basket is <= _MAX_BASKET items BY CONSTRUCTION (the cap
    # filter runs first), so the aggregation buffer is bounded and the
    # i<j walk over the strictly-ascending array emits exactly the
    # (part_a < part_b) pair multiset the join produced — one orderkey
    # exchange instead of two join-side exchanges plus their sorts.
    items = t.lineitem.select("l_orderkey", "l_partkey").distinct().transform(
        fence
    )
    sized = items.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("b_size"))
    kept = sized.filter(F.col("b_size") <= _MAX_BASKET).select("l_orderkey")
    dropped = sized.filter(F.col("b_size") > _MAX_BASKET).agg(
        F.count(F.lit(1)).alias("n_dropped_baskets")
    )
    frequent = (
        items.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("p_count"))
        .filter(F.col("p_count") >= _MIN_SUPPORT)
        .select("l_partkey")
    )
    pruned = items.join(kept, "l_orderkey", "left_semi").join(
        frequent, "l_partkey", "left_semi"
    )
    baskets = pruned.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_partkey")).alias("parts")
    )
    return (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (a, i) ->"
                    " transform(slice(parts, i + 2, size(parts)),"
                    " b -> struct(a AS part_a, b AS part_b))))"
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= _MIN_SUPPORT)
        .crossJoin(F.broadcast(dropped))
    )


@register(
    "agg_regression",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,2)) AS DOUBLE) AS sq,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sp,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))
                             * CAST(l_extendedprice AS DECIMAL(19,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sqp,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))
                             * CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,2)) AS DOUBLE) AS sqq
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (n * sqp - sq * sp) / NULLIF(n * sqq - sq * sq, 0) AS slope,
           (sp - ((n * sqp - sq * sp) / NULLIF(n * sqq - sq * sq, 0)) * sq) / n AS intercept
    FROM s
    """,
    tags=("agg", "stats", "regression"),
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS (price ~ quantity): REGR_SLOPE / REGR_INTERCEPT from
    exact decimal power sums — same determinism machinery as
    enrich.agg_corr (the built-in regr_* / covar aggregates accumulate
    doubles in partition order, so their low bits change across re-runs).
    One shuffle with map-side partial aggregation; the closed-form slope
    and intercept are elementwise double math on the collapsed sums
    (bit-deterministic). Sum-collapse bounds hold through sf1 (see
    agg_corr's derivation; the largest sum here is sqp ~ 4e13 at scale 2,
    unscaled < 2^53)."""
    t = Tables(spark, sf_dir)
    q6 = F.col("l_quantity").cast("decimal(18,6)")
    p2 = F.col("l_extendedprice").cast("decimal(19,2)")
    n = F.count(F.lit(1))
    sq = dec_to_double(F.sum(q6).cast("decimal(38,2)"), 2)
    sp = dec_to_double(F.sum(p2).cast("decimal(38,2)"), 2)
    sqp = dec_to_double(F.sum(q6 * p2).cast("decimal(38,2)"), 2)
    sqq = dec_to_double(F.sum(q6 * q6).cast("decimal(38,2)"), 2)
    # NULLIF: zero quantity-variance (single row / constant regressor)
    # has no defined OLS fit -> NULL on both engines (ANSI would raise)
    slope = (n * sqp - sq * sp) / F.nullif(n * sqq - sq * sq, F.lit(0.0))
    intercept = (sp - slope * sq) / n
    return t.lineitem.groupBy("l_returnflag").agg(
        n.alias("n"), slope.alias("slope"), intercept.alias("intercept")
    )


@register(
    "stats_chisq",
    oracle="""
    WITH cells AS (
        SELECT c_mktsegment, c_nationkey, COUNT(*) AS observed
        FROM customer
        GROUP BY c_mktsegment, c_nationkey
    ),
    tot AS (
        SELECT c_mktsegment, c_nationkey, observed,
               SUM(observed) OVER (PARTITION BY c_mktsegment) AS seg_total,
               SUM(observed) OVER (PARTITION BY c_nationkey) AS nat_total,
               SUM(observed) OVER () AS grand_total
        FROM cells
    )
    SELECT c_mktsegment, c_nationkey, observed,
           CAST(seg_total AS DOUBLE) * nat_total / grand_total AS expected,
           POW(observed - CAST(seg_total AS DOUBLE) * nat_total / grand_total, 2)
               / (CAST(seg_total AS DOUBLE) * nat_total / grand_total) AS chi2_term
    FROM tot
    """,
    tags=("stats", "profile"),
)
def stats_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence cells for segment x nation: observed vs
    expected count and the per-cell chi² contribution. Contributions are
    emitted per cell rather than summed — integer window sums are exact
    and the per-cell arithmetic is elementwise double math (deterministic),
    while a final SUM over double terms would be partition-order-dependent;
    callers fold the tiny cell table however they like. The heavy work is
    one shuffle for the contingency counts; the three window totals run
    over the ~125-row cell table (cells = |segments| x |nations|, a
    statistic table, not data — single-partition windows there are free
    at any corpus size)."""
    t = Tables(spark, sf_dir)
    cells = t.customer.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("observed")
    )
    seg_t = F.sum("observed").over(Window.partitionBy("c_mktsegment"))
    nat_t = F.sum("observed").over(Window.partitionBy("c_nationkey"))
    grand = F.sum("observed").over(Window.partitionBy())
    expected = seg_t.cast("double") * nat_t / grand
    return cells.select(
        "c_mktsegment",
        "c_nationkey",
        "observed",
        expected.alias("expected"),
        (F.pow(F.col("observed") - expected, F.lit(2)) / expected).alias("chi2_term"),
    )


@register(
    "profile_diversity",
    oracle="""
    WITH cells AS (
        SELECT source, lang, COUNT(*) AS n
        FROM documents GROUP BY source, lang
    )
    SELECT source, lang, n,
           CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY source) AS p,
           (CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY source))
               * (1 - CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY source)) AS gini_term
    FROM cells
    """,
    tags=("stats", "profile", "text"),
)
def profile_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-distribution diversity terms: p and the
    Gini-Simpson contribution p·(1-p) per (source, lang) cell — the
    diversity index used to flag collapsed / single-language sources in
    corpus QA. Gini rather than Shannon entropy is deliberate for the
    same reason text_tfidf uses a linear idf: p·(1-p) is two IEEE-exact
    double ops on an exact integer ratio (bit-identical across engines),
    while log2 is a libm call whose last ulp differs between the JVM and
    C runtimes. Same emit-the-cells doctrine as stats_chisq: integer
    counts shuffle once; the per-source fold of the tiny cell table is
    the caller's (summing doubles across cells is the one order-dependent
    step, so it stays out of the oracle surface)."""
    t = Tables(spark, sf_dir)
    cells = t.documents.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    p = F.col("n").cast("double") / F.sum("n").over(Window.partitionBy("source"))
    return cells.select(
        "source", "lang", "n", p.alias("p"), (p * (1 - p)).alias("gini_term")
    )


_MAX_EDIT = 2


@register(
    "link_edit_distance",
    oracle=f"""
    WITH names AS (
        SELECT DISTINCT p_name,
               string_split(p_name, ' ')[-1] AS noun
        FROM part
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM names a
    JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {_MAX_EDIT}
    """,
    tags=("linkage", "text", "join"),
)
def link_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-class record linkage: name pairs within edit distance 2,
    blocked on the head noun (last token) so the quadratic Levenshtein
    verification runs only inside blocks — the same candidate->verify
    shape as dedup_verified_pairs, with blocking standing in for LSH.
    Stage 1 collapses the table to DISTINCT names (a shuffle on the name,
    output |vocabulary| not |rows|); stage 2 equi-joins on the block key
    and filters with the JVM levenshtein expression (codegen, no Python).
    Blocking recall caveat: edits inside the block key itself are missed
    — the standard trade-off, documented here as in SCALE.md."""
    t = Tables(spark, sf_dir)
    names = (
        t.part.select("p_name")
        .distinct()
        .withColumn("noun", F.element_at(F.split(F.col("p_name"), " "), -1))
    )
    a, b = names.alias("a"), names.alias("b")
    return (
        a.join(
            b,
            (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
            .cast("long")
            .alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= _MAX_EDIT)
    )


_VOCAB_K = 200


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
        FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS cnt,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS rn
            FROM toks GROUP BY tok
        ) WHERE rn <= {_VOCAB_K}
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
    tags=("text", "vocab", "llm"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-K token vocabulary
    (count DESC, token ASC total tie-break — required for a checkable
    top-K), then score every document's out-of-vocabulary rate. The
    pipeline-design question this answers — "what does a K-entry vocab
    miss?" — precedes every BPE training run. Two-pass plan: pass 1 is a
    token count (shuffle on token, map-side combine) + top-K; pass 2
    re-explodes and LEFT-joins the K-row vocab — broadcast, so the doc-
    side never shuffles on the token. Counts are integers; the rate is
    one exact division.

    The top-K itself is ``orderBy().limit(K)`` — TakeOrderedAndProject
    (partition-local k + driver merge), not a row_number window over the
    full token-count table: distinct-token cardinality at 100 TB is
    unbounded (typos, hashes), so ranking it on one partition is exactly
    the single-partition window this repo bans (r10; the total tie-break
    makes the K-set identical either way)."""
    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", F.explode(F.split(_norm(F.col("text")), " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
        )
    )


@register(
    "dedup_incremental",
    oracle=f"""
    WITH old_docs AS (SELECT * FROM documents WHERE doc_id % 5 <> 4),
    new_docs AS (SELECT * FROM documents WHERE doc_id % 5 = 4),
    old_fp AS (SELECT DISTINCT MD5({_NORM_SQL}) AS fp FROM old_docs),
    sig_old AS (
        SELECT doc_id, {_minhash_sql_cols()} FROM old_docs
    ),
    sig_new AS (
        SELECT doc_id, {_minhash_sql_cols()} FROM new_docs
    ),
    bands_old AS (
        SELECT 0 AS band_idx, MD5(CONCAT_WS('|', mh_0, mh_1, mh_2, mh_3, mh_4, mh_5, mh_6, mh_7)) AS band_hash FROM sig_old
        UNION
        SELECT 1, MD5(CONCAT_WS('|', mh_8, mh_9, mh_10, mh_11, mh_12, mh_13, mh_14, mh_15)) FROM sig_old
    ),
    bands_new AS (
        SELECT doc_id, 0 AS band_idx, MD5(CONCAT_WS('|', mh_0, mh_1, mh_2, mh_3, mh_4, mh_5, mh_6, mh_7)) AS band_hash FROM sig_new
        UNION ALL
        SELECT doc_id, 1, MD5(CONCAT_WS('|', mh_8, mh_9, mh_10, mh_11, mh_12, mh_13, mh_14, mh_15)) FROM sig_new
    ),
    near AS (
        SELECT DISTINCT nb.doc_id
        FROM bands_new nb JOIN bands_old ob
          ON nb.band_idx = ob.band_idx AND nb.band_hash = ob.band_hash
    )
    SELECT n.doc_id,
           CAST(CASE WHEN f.fp IS NOT NULL THEN 1 ELSE 0 END AS INT) AS exact_dup,
           CAST(CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS near_dup,
           CAST(CASE WHEN f.fp IS NULL AND nr.doc_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep
    FROM new_docs n
    LEFT JOIN old_fp f ON MD5({_NORM_SQL.replace("text", "n.text")}) = f.fp
    LEFT JOIN near nr ON n.doc_id = nr.doc_id
    """,
    tags=("dedup", "incremental", "llm"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup: screen a NEW batch (doc_id % 5 = 4 — a
    stand-in for today's crawl partition) against the EXISTING corpus
    without re-pairing the old corpus with itself. Each new doc is
    flagged exact_dup (normalized fingerprint already present) and
    near_dup (shares an LSH band bucket with any old doc — same
    signature machinery as dedup_minhash, operators/dedup._signatures);
    keep = neither. This is the production shape of fuzzy dedup at
    100 TB: the daily batch joins against the corpus's band/fingerprint
    INDEX (two equi-joins, shuffles sized by the new batch + index keys),
    never corpus x corpus. The old side projects to bare fp / band keys
    before the join — the payload never moves.

    r12: one fenced per-doc feature pass. The old shape scanned
    documents FOUR times (old/new x fp/bands), re-running the
    normalize + tokenize + 16-minhash pipeline — by far the expensive
    part — twice per doc. Now a single scan computes (doc_id, is_new,
    fp, band array) once, the narrow table is fenced, and every branch
    (old fp index, new fp probe, old band index, new band probe) is a
    filter + projection of the fence. Band hashes come from the same
    _band_array expression _bands_long explodes, so the keys are
    bit-identical to the oracle's."""
    t = Tables(spark, sf_dir)
    docs = t.documents.select(
        "doc_id",
        (F.col("doc_id") % 5 == 4).alias("is_new"),
        F.md5(_norm(F.col("text"))).alias("fp"),
        "text",
    )
    feat = fence(
        _signatures(docs, "doc_id", "is_new", "fp").select(
            "doc_id", "is_new", "fp", _band_array().alias("bands")
        )
    )
    old = feat.filter(~F.col("is_new"))
    new = feat.filter(F.col("is_new"))
    old_fp = old.select("fp").distinct()
    new_fp = new.select("doc_id", "fp")
    exact = (
        new_fp.join(old_fp.withColumn("hit", F.lit(1)), "fp", "left")
        .select("doc_id", F.coalesce("hit", F.lit(0)).alias("exact_dup"))
    )
    old_bands = (
        old.select(F.posexplode("bands").alias("band_idx", "band_hash"))
        .select("band_idx", "band_hash")
        .distinct()
    )
    near = (
        new.select("doc_id", F.posexplode("bands").alias("band_idx", "band_hash"))
        .join(old_bands, ["band_idx", "band_hash"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("near_hit", F.lit(1))
    )
    return (
        exact.join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.col("exact_dup").cast("int").alias("exact_dup"),
            F.coalesce("near_hit", F.lit(0)).cast("int").alias("near_dup"),
            ((F.col("exact_dup") == 0) & F.col("near_hit").isNull())
            .cast("int")
            .alias("keep"),
        )
    )


_KS_A, _KS_B = "purchase", "click"
_KS_BUCKETS = 64


def _bucketed_prefix_sums(
    df: DataFrame,
    value_col: str,
    count_cols: tuple[str, ...],
    n_buckets: int = _KS_BUCKETS,
    inclusive: bool = True,
) -> DataFrame:
    """Distributed two-level prefix sum: for each row of ``df`` (one row
    per DISTINCT ``value_col``), append ``run_<c>`` = the cumulative sum
    of each count column over rows ordered by ``value_col`` (inclusive
    of the current row, or strictly-prior with ``inclusive=False``) —
    WITHOUT a global ordered window (which would drag every distinct
    value onto one partition). Rows are range-bucketed by width_bucket
    over the broadcast (min, max) scalar, running sums run per bucket
    in parallel, and per-bucket offsets come from an ``n_buckets``-row
    total table whose own running sum is trivially bounded. Every
    per-row cumulative value is identical to the single-partition
    formulation for ANY partitioning.

    Degenerate edge: width_bucket returns NULL when min == max — and it
    does so UNIFORMLY (only when every value is the same), so the
    coalesce to bucket 1 is the single-bucket case, never a mix of real
    and null buckets. Shared by stats_ks and agg_gini.

    r12 (optimization): ``df`` — the per-distinct-value aggregate every
    caller feeds in — is consumed by THREE branches below (the (min,max)
    scalar, the in-bucket running sums, and the per-bucket totals), and
    most callers hang a fourth (their grand-total scalar) off the same
    table. Without a lineage fence Catalyst inlines the subtree into
    every consumer: the measured stats_mannwhitney plan scanned events
    4x and ran the per-value aggregation 4x
    (plans/r12/stats_mannwhitney_before.txt). Callers therefore pass the
    per-value table through ``fence(cut=True)`` FIRST (fencing it in the
    caller lets their own total branch reuse the same materialization —
    fencing here would leave that branch re-aggregating the source); it
    is the smallest relation in the query (bounded by #distinct values),
    the same policy as the LSH band / LM pair tables."""
    vd = F.col(value_col).cast("double")
    rng = df.agg(F.min(vd).alias("_vmin"), F.max(vd).alias("_vmax"))
    bucketed = (
        df.crossJoin(F.broadcast(rng))
        .withColumn(
            "_bucket",
            F.coalesce(
                F.width_bucket(vd, "_vmin", "_vmax", F.lit(n_buckets)), F.lit(1)
            ),
        )
        .drop("_vmin", "_vmax")
    )
    end = Window.currentRow if inclusive else -1
    in_bucket = Window.partitionBy("_bucket").orderBy(F.col(value_col).asc()).rowsBetween(
        Window.unboundedPreceding, end
    )
    local = bucketed
    for c in count_cols:
        local = local.withColumn(
            f"_l_{c}", F.coalesce(F.sum(c).over(in_bucket), F.lit(0))
        )
    btot = bucketed.groupBy("_bucket").agg(
        *[F.sum(c).alias(f"_b_{c}") for c in count_cols]
    )
    prior = Window.orderBy(F.col("_bucket").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = btot.select(
        "_bucket",
        *[
            F.coalesce(F.sum(f"_b_{c}").over(prior), F.lit(0)).alias(f"_o_{c}")
            for c in count_cols
        ],
    )
    out = local.join(F.broadcast(offsets), "_bucket")
    for c in count_cols:
        out = out.withColumn(f"run_{c}", F.col(f"_o_{c}") + F.col(f"_l_{c}"))
    return out.drop("_bucket", *[f"_l_{c}" for c in count_cols], *[f"_o_{c}" for c in count_cols])


@register(
    "stats_ks",
    oracle=f"""
    WITH s AS (
        SELECT value AS v,
               CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END AS is_a
        FROM events
        WHERE event_type IN ('{_KS_A}', '{_KS_B}') AND value IS NOT NULL
    ),
    per_v AS (
        SELECT v, SUM(is_a) AS na_v, SUM(1 - is_a) AS nb_v FROM s GROUP BY v
    ),
    cdf AS (
        SELECT CAST(SUM(na_v) OVER w AS DOUBLE) AS ra,
               CAST(SUM(nb_v) OVER w AS DOUBLE) AS rb
        FROM per_v
        WINDOW w AS (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
        SELECT CAST(SUM(na_v) AS DOUBLE) AS na, CAST(SUM(nb_v) AS DOUBLE) AS nb
        FROM per_v
    )
    SELECT CAST(t.na AS BIGINT) AS n_a,
           CAST(t.nb AS BIGINT) AS n_b,
           MAX(ABS(c.ra / NULLIF(t.na, 0) - c.rb / NULLIF(t.nb, 0))) AS ks_stat,
           1.358 * SQRT((t.na + t.nb) / NULLIF(t.na * t.nb, 0)) AS crit_05,
           CAST(MAX(ABS(c.ra / NULLIF(t.na, 0) - c.rb / NULLIF(t.nb, 0)))
                > 1.358 * SQRT((t.na + t.nb) / NULLIF(t.na * t.nb, 0)) AS BOOLEAN) AS reject_05
    FROM cdf c CROSS JOIN tot t
    GROUP BY t.na, t.nb
    """,
    tags=("stats", "drift"),
)
def stats_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the `value`
    distributions of two event populations (purchase vs click): the
    drift detector for continuous columns, complementing stats_chisq
    (categorical) and dq_drift (total-variation on bucketed counts).
    KS = max_x |F_a(x) - F_b(x)| over the pooled empirical CDFs, plus
    the alpha=0.05 critical value 1.358*sqrt((n_a+n_b)/(n_a*n_b)) and
    the reject flag.

    Scale shape — the textbook formulation is a GLOBAL ordered running
    sum (one partition holding every distinct value); this plan replaces
    it with a distributed two-level prefix sum: distinct values get
    range-bucketed by width_bucket over the broadcast (min,max) scalar,
    running sums run per-bucket (parallel windows), and per-bucket
    offsets come from a {_KS_BUCKETS}-row bucket-total table whose own
    running sum is trivially bounded. Every per-value CDF point is
    identical to the single-partition formulation (the oracle computes
    exactly that), so the final MAX is partitioning-independent. All
    arithmetic is division/abs/sqrt on exact integer counts —
    IEEE-correctly-rounded, bit-identical across engines (no libm
    transcendentals)."""
    t = Tables(spark, sf_dir)
    # NULL is not an observation — and the two engines would place a null
    # row at opposite ends of the value order (Spark nulls-first, DuckDB
    # nulls-last), so the exclusion is explicit on both sides
    s = t.events.where(
        F.col("event_type").isin(_KS_A, _KS_B) & F.col("value").isNotNull()
    ).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == _KS_A, 1).otherwise(0).alias("is_a"),
    )
    # r13: prefix-sum family fences are cuts — the interleaved
    # mechanism A/B (the tools/ab.py fence A/B) measured the raw-block
    # checkpoint 1.13-1.20x over the columnar persist cache on
    # stats_mannwhitney / feature_quantile_bucket (same machinery)
    per_v = s.groupBy("v").agg(
        F.sum("is_a").alias("na_v"), F.sum(1 - F.col("is_a")).alias("nb_v")
    ).transform(fence, cut=True)
    tot = per_v.agg(
        F.sum("na_v").cast("double").alias("na"),
        F.sum("nb_v").cast("double").alias("nb"),
    )
    run = _bucketed_prefix_sums(per_v, "v", ("na_v", "nb_v"))
    # NULLIF on every denominator: if one population is empty, Spark's
    # x/0 double yields NULL while DuckDB yields Inf/NaN — both engines
    # must agree on NULL (same guard class as sim_recall_report)
    cdf = run.crossJoin(F.broadcast(tot)).select(
        (F.col("run_na_v").cast("double") / F.nullif(F.col("na"), F.lit(0.0))).alias("fa"),
        (F.col("run_nb_v").cast("double") / F.nullif(F.col("nb"), F.lit(0.0))).alias("fb"),
        "na", "nb",
    )
    crit = F.lit(1.358) * F.sqrt(
        (F.col("na") + F.col("nb")) / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0))
    )
    return (
        cdf.groupBy("na", "nb")
        .agg(F.max(F.abs(F.col("fa") - F.col("fb"))).alias("ks_stat"))
        .select(
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            "ks_stat",
            crit.alias("crit_05"),
            (F.col("ks_stat") > crit).alias("reject_05"),
        )
    )


# Benford first-digit expected shares log10(1 + 1/d), computed ONCE in
# Python and embedded as the same literal doubles in both engines — no
# runtime libm call anywhere (the no-transcendentals doctrine).
import math as _math

_BENFORD = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}


@register(
    "agg_benford",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders WHERE o_totalprice > 0
    ),
    counts AS (
        SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM counts)
    SELECT c.digit, c.n,
           CAST(c.n AS DOUBLE) / t.total AS share,
           CASE c.digit {' '.join(f"WHEN {d} THEN CAST('{v!r}' AS DOUBLE)" for d, v in _BENFORD.items())} END AS benford_share,
           ABS(CAST(c.n AS DOUBLE) / t.total
               - CASE c.digit {' '.join(f"WHEN {d} THEN CAST('{v!r}' AS DOUBLE)" for d, v in _BENFORD.items())} END) AS abs_dev
    FROM counts c CROSS JOIN tot t
    """,
    tags=("stats", "quality", "benford"),
)
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals: observed share
    of each leading digit vs the log10(1+1/d) expectation, plus the
    absolute deviation — the classic fabricated-data / broken-upstream
    detector for financial columns (a feed that clamps, truncates, or
    synthesizes amounts shows up as a digit histogram that can't happen
    naturally).

    Determinism: the leading digit is extracted through the exact
    decimal route (DECIMAL(18,2) → unscaled BIGINT → first character),
    never floor(log10(x)) — and the nine Benford constants are computed
    once in Python and embedded as identical literal doubles in BOTH
    engines, so no runtime transcendental exists anywhere. Plan shape:
    one map-side-combinable count shuffle to a 9-row table; the total
    is a scalar edge over those 9 rows (same doctrine as stats_chisq's
    emit-the-cells)."""
    t = Tables(spark, sf_dir)
    digit = F.substring(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    # r12: counts feeds the total scalar and the final select — fence the
    # 9-row digit histogram so orders is scanned once, not twice
    counts = (
        t.orders.where(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(fence)
    )
    tot = counts.agg(F.sum("n").cast("double").alias("total"))
    benford = F.create_map(
        *[F.lit(x) for dv in _BENFORD.items() for x in dv]
    )[F.col("digit")]
    share = F.col("n").cast("double") / F.col("total")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit", "n",
            share.alias("share"),
            benford.alias("benford_share"),
            F.abs(share - benford).alias("abs_dev"),
        )
    )


_SKEW_TOPK = 20


@register(
    "profile_skew",
    oracle=f"""
    WITH k AS (
        SELECT l_orderkey AS key, COUNT(*) AS n FROM lineitem GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n) AS DOUBLE) AS total,
               CAST(COUNT(*) AS DOUBLE) AS n_keys
        FROM k
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY k.n DESC, k.key ASC) AS INTEGER) AS rank,
           k.key, k.n,
           CAST(k.n AS DOUBLE) / t.total AS share,
           CAST(k.n AS DOUBLE) * t.n_keys / t.total AS x_avg
    FROM k CROSS JOIN tot t
    ORDER BY k.n DESC, k.key ASC
    LIMIT {_SKEW_TOPK}
    """,
    tags=("profile", "skew", "quality"),
)
def profile_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    f"""Join-key skew profile: the top-{_SKEW_TOPK} heaviest lineitem join
    keys with each key's share of all rows and its multiple of the mean
    key depth (x_avg) — the report that decides whether a fact-fact join
    needs salting / AQE skew-split BEFORE the job runs at 100 TB (a key
    at 1000x the mean depth is a straggler task; see join_skew_salted
    for the remedy this report triggers).

    Plan shape: one map-side-combinable count shuffle, TakeOrdered
    top-k (k rows per partition + driver merge — no global sort), rank
    assigned by a window over the k-row survivor set, scalar totals ride
    a 1-row broadcast edge. All scores are IEEE divisions of exact
    integer counts."""
    t = Tables(spark, sf_dir)
    # r12: k feeds the totals scalar and the top-k — fence the per-key
    # count table (the aggregate's own output, far smaller than the fact)
    # so lineitem is scanned and count-shuffled once, not twice
    k = t.lineitem.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    ).transform(fence)
    tot = k.agg(
        F.sum("n").cast("double").alias("total"),
        F.count(F.lit(1)).cast("double").alias("n_keys"),
    )
    top = k.orderBy(F.desc("n"), F.asc("key")).limit(_SKEW_TOPK)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("n"), F.asc("key"))),
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "rank", "key", "n",
        (F.col("n").cast("double") / F.col("total")).alias("share"),
        (F.col("n").cast("double") * F.col("n_keys") / F.col("total")).alias("x_avg"),
    )


_GINI_BUCKETS = 64


@register(
    "agg_gini",
    oracle="""
    WITH spend AS (
        SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
        FROM orders GROUP BY 1
    ),
    vals AS (
        SELECT x, COUNT(*) AS c FROM spend GROUP BY x
    ),
    pre AS (
        SELECT x, c,
               COALESCE(SUM(c) OVER (
                   ORDER BY x ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS r
        FROM vals
    ),
    terms AS (
        SELECT CAST(SUM(x * (c * r + ((c * (c + 1)) // 2))) AS DECIMAL(38,2)) AS s1,
               CAST(SUM(x * c) AS DECIMAL(38,2)) AS s0,
               CAST(SUM(c) AS BIGINT) AS n
        FROM pre
    )
    SELECT n,
           CAST(s0 AS DOUBLE) AS total_spend,
           2.0 * CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s0 AS DOUBLE))
               - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
    FROM terms
    """,
    tags=("stats", "gini", "inequality"),
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Gini coefficient of customer spend — the concentration /
    inequality statistic behind "how top-heavy is this revenue (or token
    budget, or corpus source mix)" reporting. G = 2·Σᵢ i·xᵢ / (n·Σx)
    − (n+1)/n over ascending-sorted spend.

    The rank-weighted sum is the interesting part at scale: the textbook
    form needs a GLOBAL sort + row_number (one partition holds
    everything). Here ties collapse first (per-distinct-value count c),
    each value's rank block contributes the closed form
    x·(c·r + c(c+1)/2) where r is the count of strictly-smaller values —
    and r comes from the same distributed two-level prefix sum as
    stats_ks (width_bucket range partitioning + per-bucket windows +
    bounded offset table). Σᵢ i·xᵢ is invariant under tie order, so the
    closed form is exact. Every sum is an exact DECIMAL (order- and
    partitioning-insensitive); the final expression is four IEEE ops on
    engine-identically converted doubles (dec_to_double). Scale shape:
    one spend shuffle, one distinct-value count shuffle, bounded-window
    prefix — no global sort anywhere."""
    from data_bridge_spark.functions.exact import dec_to_double

    t = Tables(spark, sf_dir)
    spend = t.orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    vals = spend.groupBy("x").agg(F.count(F.lit(1)).alias("c")).transform(fence, cut=True)
    ranked = _bucketed_prefix_sums(
        vals, "x", ("c",), n_buckets=_GINI_BUCKETS, inclusive=False
    ).withColumnRenamed("run_c", "r")
    w = F.col("c") * F.col("r") + F.shiftright(F.col("c") * (F.col("c") + 1), 1)
    terms = ranked.agg(
        F.sum(F.col("x") * w).cast("decimal(38,2)").alias("s1"),
        F.sum(F.col("x") * F.col("c")).cast("decimal(38,2)").alias("s0"),
        F.sum("c").cast("bigint").alias("n"),
    )
    nd = F.col("n").cast("double")
    return terms.select(
        "n",
        dec_to_double(F.col("s0"), scale=2).alias("total_spend"),
        (
            F.lit(2.0) * dec_to_double(F.col("s1"), scale=2) / (nd * dec_to_double(F.col("s0"), scale=2))
            - (nd + F.lit(1.0)) / nd
        ).alias("gini"),
    )


@register(
    "profile_skew_approx",
    oracle=None,  # sketch estimates are engine-specific → rows-only + pytest gate
    tags=("profile", "skew", "approx", "sketch"),
)
def profile_skew_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items SKETCH twin of profile_skew: approx_top_k over the
    event user stream — the 100 TB path for heavy-hitter detection when
    even the per-key count table is too hot to materialize (the sketch
    is constant-memory and mergeable across partitions, the same
    scale contract as HLL for distinct counts and t-digest for
    quantiles; this completes the classic sketch trio). Rows-only by
    design (sketch internals are engine-specific); pytest gates the
    estimates against the exact per-key counts (count accuracy + heavy-
    hitter recovery), mirroring agg_approx_distinct's 3x-rsd gate."""
    t = Tables(spark, sf_dir)
    top = t.events.agg(
        F.expr(f"approx_top_k(user_id, {_SKEW_TOPK}, 100000)").alias("top")
    )
    return top.select(F.posexplode("top").alias("pos", "entry")).select(
        (F.col("pos") + 1).alias("rank"),
        F.col("entry.item").alias("user_id"),
        F.col("entry.count").alias("n_approx"),
    )


@register(
    "stats_mannwhitney",
    oracle=f"""
    WITH s AS (
        SELECT value AS v,
               CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END AS is_a
        FROM events
        WHERE event_type IN ('{_KS_A}', '{_KS_B}') AND value IS NOT NULL
    ),
    per_v AS (
        SELECT v, SUM(is_a) AS na_v, SUM(1 - is_a) AS nb_v,
               COUNT(*) AS tot_v
        FROM s GROUP BY v
    ),
    run AS (
        SELECT na_v, tot_v,
               SUM(tot_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tot_v AS before_v
        FROM per_v
    ),
    agg AS (
        SELECT SUM(na_v * (2 * before_v + tot_v + 1)) AS two_r_a,
               SUM(tot_v * tot_v * tot_v - tot_v) AS ties,
               SUM(na_v) AS na, SUM(tot_v - na_v) AS nb
        FROM run
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           (CAST(two_r_a AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0)) / 2.0 AS u_a,
           CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
               - (CAST(two_r_a AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0)) / 2.0 AS u_b,
           ((CAST(two_r_a AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0)) / 2.0
               - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)
             / NULLIF(SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                 * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
                    - CAST(ties AS DOUBLE)
                      / NULLIF((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                               * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0), 0.0))), 0.0)
             AS z
    FROM agg
    """,
    tags=("stats", "drift"),
)
def stats_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the purchase and click
    value distributions — the rank-based location-shift drift test that
    complements stats_ks (max-CDF-gap): U detects "one population is
    systematically larger" with distribution-free robustness.

    Exactness: the rank core is PURE INTEGER arithmetic. Tie-averaged
    midranks are carried doubled (2*midrank = 2*before + t + 1, always
    an integer), so 2*R_a = SUM(na_v * (2*before_v + tot_v + 1)) is an
    exact bigint no matter the partitioning; U then comes out as an
    exact half-integer (halves are exact in binary). The normal
    approximation z uses the standard tie-corrected variance
    sigma^2 = na*nb/12 * ((N+1) - SUM(t^3 - t)/(N(N-1))) — division and
    sqrt on integer-derived doubles, IEEE-correctly-rounded, written as
    the identical op sequence on both engines; NULLIF guards make the
    N<=1 and empty-population edges NULL on both.

    Scale shape: same as stats_ks — per-value counts (one shuffle), then
    the distributed two-level prefix sum replaces the textbook global
    ordered window, so no single partition ever holds every distinct
    value."""
    t = Tables(spark, sf_dir)
    s = t.events.where(
        F.col("event_type").isin(_KS_A, _KS_B) & F.col("value").isNotNull()
    ).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == _KS_A, 1).otherwise(0).alias("is_a"),
    )
    per_v = s.groupBy("v").agg(
        F.sum("is_a").alias("na_v"),
        F.sum(1 - F.col("is_a")).alias("nb_v"),
        F.count(F.lit(1)).alias("tot_v"),
    ).transform(fence, cut=True)
    run = _bucketed_prefix_sums(per_v, "v", ("tot_v",)).withColumn(
        "before_v", F.col("run_tot_v") - F.col("tot_v")
    )
    agg = run.agg(
        F.sum(
            F.col("na_v") * (2 * F.col("before_v") + F.col("tot_v") + 1)
        ).alias("two_r_a"),
        # t^3 in decimal(38,0): a single value with >2^21 tied rows would
        # silently wrap a bigint cube on Spark while DuckDB promotes to
        # HUGEINT — decimal keeps the term exact (and loud past 38 digits)
        F.sum(
            F.col("tot_v").cast("decimal(38,0)") * F.col("tot_v") * F.col("tot_v")
            - F.col("tot_v")
        ).alias("ties"),
        F.sum("na_v").alias("na"),
        F.sum(F.col("tot_v") - F.col("na_v")).alias("nb"),
    )
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    u_a = (F.col("two_r_a").cast("double") - nad * (nad + F.lit(1.0))) / F.lit(2.0)
    mu = nad * nbd / F.lit(2.0)
    nd = nad + nbd
    sigma = F.sqrt(
        nad
        * nbd
        / F.lit(12.0)
        * (
            (nd + F.lit(1.0))
            - F.col("ties").cast("double")
            / F.nullif(nd * (nd - F.lit(1.0)), F.lit(0.0))
        )
    )
    return agg.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        u_a.alias("u_a"),
        (nad * nbd - u_a).alias("u_b"),
        ((u_a - mu) / F.nullif(sigma, F.lit(0.0))).alias("z"),
    )
