"""Feature-engineering operators — the transform stage of a training-data
pipeline: scaling, encoding, bucketing, and the hashing trick, plus the
rank-based drift test that guards them.

These extend the reference's data-movement surface (its users hand-roll
these in pandas after extraction) with the distributed equivalents a
100 TB feature pipeline needs. Every operator follows the repo doctrine:
decimal-exact sums (`functions/exact.py`), no runtime libm
transcendentals except IEEE-correctly-rounded sqrt/division, NULLIF
guards on every data-dependent denominator (empty/degenerate inputs
yield NULL on BOTH engines, never NULL-vs-Inf), and total tiebreak
orders anywhere a rank appears.

Scale shapes: per-column statistics are single tiny aggregate rows
broadcast back over the fact table (one pass + one map-side join — the
classic fit/transform split); quantile bucketing reuses the distributed
two-level prefix sum (`insights._bucketed_prefix_sums`) instead of a
single-partition global window; target encoding shuffles once on the
join key and once on the (low-cardinality) category.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.functions.exact import dec, dec_to_double, dmoney
from data_bridge_spark.operators.insights import _bucketed_prefix_sums
from data_bridge_spark.session import fence
from data_bridge_spark.registry import register

# The one-hot / hashing domain for c_mktsegment — the "fitted vocabulary".
# Discovery (a bounded distinct over the low-cardinality column, same
# pattern as events_pivot_dynamic) can surface a subset on sparse input
# but never a value outside this domain; the output schema is built from
# the static list so it stays stable either way.
_SEGMENTS_STATIC = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

_FH_SEED = "fh-v1"
_FH_BUCKETS = 64


@register(
    "feature_standardize",
    oracle="""
    WITH s AS (
        SELECT COUNT(c_acctbal) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(15,4)) * CAST(c_acctbal AS DECIMAL(15,4))) AS DOUBLE) AS sxx
        FROM customer
    )
    SELECT c.c_custkey, c.c_acctbal,
           (c.c_acctbal - s.sx / s.n)
               / NULLIF(SQRT((s.sxx / s.n - (s.sx / s.n) * (s.sx / s.n)) * s.n / NULLIF(s.n - 1, 0)), 0.0)
               AS z_acctbal
    FROM customer c CROSS JOIN s
    """,
    tags=("features", "scaling"),
)
def feature_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score standardization of a numeric column — the fit/transform
    split as one plan: a single aggregate row (count, exact-decimal sum,
    exact-decimal sum of squares) is broadcast back over the table and
    the scale is applied map-side. Two scans, zero shuffles beyond the
    partial agg — the right 100 TB shape (at cluster scale the stats row
    is the persisted "fitted scaler").

    Determinism: sums are decimal-exact (order-insensitive), converted
    via `dec_to_double` (bit-identical to DuckDB's cast); the variance
    is then a fixed sequence of IEEE ops on identical doubles. Sample
    variance (n-1) with NULLIF guards for n<=1; sd==0 yields NULL z for
    a constant column on both engines."""
    t = Tables(spark, sf_dir)
    stats = t.customer.agg(
        F.count("c_acctbal").alias("n"),
        dec_to_double(F.sum(dec("c_acctbal")), 6).alias("sx"),
        dec_to_double(F.sum(dmoney("c_acctbal") * dmoney("c_acctbal")), 8).alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    var = (
        (F.col("sxx") / F.col("n") - mean * mean)
        * F.col("n")
        / F.nullif(F.col("n") - 1, F.lit(0))
    )
    return (
        t.customer.crossJoin(stats)
        .select(
            "c_custkey",
            "c_acctbal",
            ((F.col("c_acctbal") - mean) / F.nullif(F.sqrt(var), F.lit(0.0))).alias(
                "z_acctbal"
            ),
        )
    )


@register(
    "feature_minmax",
    oracle="""
    WITH s AS (
        SELECT MIN(o_totalprice) AS vmin, MAX(o_totalprice) AS vmax FROM orders
    )
    SELECT o.o_orderkey, o.o_totalprice,
           (o.o_totalprice - s.vmin) / NULLIF(s.vmax - s.vmin, 0.0) AS scaled_price
    FROM orders o CROSS JOIN s
    """,
    tags=("features", "scaling"),
)
def feature_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max scaling to [0,1]: broadcast (min, max) scalar, map-side
    transform. Min/max are exact value picks (no FP accumulation), the
    rescale is the same two IEEE ops on both engines; a constant column
    (range 0) yields NULL via the NULLIF guard rather than NULL-vs-Inf
    divergence."""
    t = Tables(spark, sf_dir)
    rng = t.orders.agg(
        F.min("o_totalprice").alias("vmin"), F.max("o_totalprice").alias("vmax")
    )
    return t.orders.crossJoin(rng).select(
        "o_orderkey",
        "o_totalprice",
        (
            (F.col("o_totalprice") - F.col("vmin"))
            / F.nullif(F.col("vmax") - F.col("vmin"), F.lit(0.0))
        ).alias("scaled_price"),
    )


@register(
    "feature_onehot",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS oh_automobile,
           CASE WHEN c_mktsegment = 'BUILDING'   THEN 1 ELSE 0 END AS oh_building,
           CASE WHEN c_mktsegment = 'FURNITURE'  THEN 1 ELSE 0 END AS oh_furniture,
           CASE WHEN c_mktsegment = 'HOUSEHOLD'  THEN 1 ELSE 0 END AS oh_household,
           CASE WHEN c_mktsegment = 'MACHINERY'  THEN 1 ELSE 0 END AS oh_machinery,
           CASE WHEN c_mktsegment IS NOT NULL AND c_mktsegment NOT IN
                ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')
                THEN 1 ELSE 0 END AS oh_other
    FROM customer
    """,
    tags=("features", "encoding"),
)
def feature_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot encoding of a low-cardinality categorical over a DECLARED
    domain, plus one ``oh_other`` overflow indicator for any non-NULL
    value outside it (sklearn's handle_unknown='infrequent' semantic).
    The overflow bucket — not a fit-time assert — is the only
    schema-stable choice at 100 TB, where the live vocabulary can drift
    between fit and transform (the r9 edgevals fixture drove exactly
    that: adversarial segment strings that a value-derived column set
    would have minted unreadable column names from, and that the former
    domain assert refused outright). Pure map-side CASE flags — zero
    shuffles, zero plan-time jobs; NULL category rows get all-zero flags
    on both engines. The plan-time vocabulary-discovery pattern (the fit
    step as a bounded distinct) stays demonstrated by
    events_pivot_dynamic."""
    t = Tables(spark, sf_dir)
    return t.customer.select(
        "c_custkey",
        *[
            F.when(F.col("c_mktsegment") == seg, 1)
            .otherwise(0)
            .alias(f"oh_{seg.lower()}")
            for seg in _SEGMENTS_STATIC
        ],
        F.when(
            F.col("c_mktsegment").isNotNull()
            & ~F.col("c_mktsegment").isin(list(_SEGMENTS_STATIC)),
            1,
        )
        .otherwise(0)
        .alias("oh_other"),
    )


@register(
    "feature_quantile_bucket",
    oracle="""
    WITH per_v AS (
        SELECT o_totalprice AS v, COUNT(*) AS cnt FROM orders
        WHERE o_totalprice IS NOT NULL GROUP BY 1
    ),
    run AS (
        SELECT v, SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_cnt
        FROM per_v
    ),
    tot AS (SELECT COUNT(*) AS n FROM orders WHERE o_totalprice IS NOT NULL)
    SELECT o.o_orderkey, o.o_totalprice,
           CAST(((r.run_cnt - 1) * 10) // t.n + 1 AS INTEGER) AS decile
    FROM orders o JOIN run r ON o.o_totalprice = r.v CROSS JOIN tot t
    """,
    tags=("features", "binning"),
)
def feature_quantile_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (decile) bucketing — rank-based, tie-stable: equal
    values always land in the same bucket (value-grain cumulative count,
    not row-grain NTILE whose tie placement is arbitrary), and every
    bucket edge is pure integer arithmetic — no FP anywhere, so the
    assignment is bit-free exact on both engines.

    Scale shape: the textbook form is a global ordered window (one
    partition holding every distinct value); this plan reuses the
    distributed two-level prefix sum (`_bucketed_prefix_sums`, shared
    with stats_ks/agg_gini) so the cumulative counts run per range
    bucket in parallel, then one equi-join on the value assigns rows —
    AQE broadcasts the distinct-value side when it is small."""
    t = Tables(spark, sf_dir)
    # NULL prices are excluded up front: Spark windows sort NULLs first
    # while DuckDB sorts them last, so letting a NULL into the prefix sum
    # would shift every cumulative count (and decile) by the NULL count.
    nn = t.orders.filter(F.col("o_totalprice").isNotNull())
    # r12: fence the per-value table (3-way fan inside the prefix-sum
    # helper, see _bucketed_prefix_sums) and derive the grand total from
    # it — SUM(cnt) == COUNT(*) over nn exactly — instead of re-scanning
    # orders for a second COUNT pass. r13: the fence is a cut —
    # the interleaved mechanism A/B (the tools/ab.py fence A/B,
    # OPTIMIZATION_r13.md §3) has the raw-block checkpoint 1.20x faster
    # than the columnar persist cache here; without any fence the plan
    # re-scans orders 6x (measured executed plan — no exchange reuse
    # fires, the consumers prune different columns), so unfenced is not
    # an option at scale.
    per_v = nn.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).transform(fence, cut=True)
    run = _bucketed_prefix_sums(per_v, "v", ("cnt",)).select("v", "run_cnt")
    tot = per_v.agg(F.sum("cnt").alias("n"))
    return (
        t.orders.join(run, F.col("o_totalprice") == F.col("v"))
        .crossJoin(tot)
        .select(
            "o_orderkey",
            "o_totalprice",
            # integral `div` (never a double round-trip): exact at any n
            (F.expr("((run_cnt - 1) * 10) div n") + 1).cast("int").alias("decile"),
        )
    )


@register(
    "feature_target_encode_loo",
    oracle="""
    WITH j AS (
        SELECT o.o_orderkey, c.c_mktsegment AS segment,
               CAST(o.o_totalprice AS DECIMAL(18,6)) AS p
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    s AS (
        SELECT segment, COUNT(*) AS n, SUM(p) AS sp FROM j GROUP BY segment
    )
    SELECT j.o_orderkey, j.segment,
           CAST(s.sp - j.p AS DOUBLE) / NULLIF(s.n - 1, 0) AS loo_avg_price
    FROM j JOIN s USING (segment)
    """,
    tags=("features", "encoding"),
)
def feature_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the leakage-free mean encoder: each
    order's segment is encoded as the mean target over every OTHER row of
    the segment, (sum - own)/(n-1), so a row never sees its own label.
    The subtraction runs in exact decimal (order-insensitive), the final
    division is one IEEE op on identical operands; a singleton category
    yields NULL via NULLIF on both engines.

    Scale shape: one equi-join orders->customer (AQE picks broadcast when
    the dim fits), one partial-agg shuffle on the low-cardinality
    category, then the 5-row stats table broadcasts back — the fact table
    is never re-shuffled for the transform."""
    t = Tables(spark, sf_dir)
    j = (
        t.orders.join(
            t.customer, t.orders.o_custkey == t.customer.c_custkey
        ).select(
            "o_orderkey",
            F.col("c_mktsegment").alias("segment"),
            dec("o_totalprice").alias("p"),
        )
    )
    s = j.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("p").alias("sp")
    )
    # hint kept: A/B 0.75x/0.80x without it at sf0.1/sf1 (OPTIMIZATION_r13.md §9)
    return j.join(F.broadcast(s), "segment").select(
        "o_orderkey",
        "segment",
        (
            dec_to_double(F.col("sp") - F.col("p"), 6)
            / F.nullif(F.col("n") - 1, F.lit(0))
        ).alias("loo_avg_price"),
    )


@register(
    "feature_hashing",
    oracle=f"""
    SELECT c_custkey, feat, bucket, CAST(1 - 2 * (CAST(('0x' || substr(h, 9, 1)) AS BIGINT) % 2) AS INTEGER) AS sign
    FROM (
        SELECT c_custkey, 'mktsegment' AS feat,
               MD5('{_FH_SEED}:mktsegment=' || c_mktsegment) AS h,
               CAST(CAST(('0x' || substr(MD5('{_FH_SEED}:mktsegment=' || c_mktsegment), 1, 8)) AS BIGINT) % {_FH_BUCKETS} AS INTEGER) AS bucket
        FROM customer
        UNION ALL
        SELECT c_custkey, 'nation' AS feat,
               MD5('{_FH_SEED}:nation=' || CAST(c_nationkey AS VARCHAR)) AS h,
               CAST(CAST(('0x' || substr(MD5('{_FH_SEED}:nation=' || CAST(c_nationkey AS VARCHAR)), 1, 8)) AS BIGINT) % {_FH_BUCKETS} AS INTEGER) AS bucket
        FROM customer
    )
    """,
    tags=("features", "hashing"),
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: categorical values map to a fixed 64-bucket
    feature space via a content hash, with a +-1 sign bit from an
    independent hash nibble (the signed variant that keeps collision bias
    zero-mean). Pure per-row expressions — zero shuffles, unbounded
    vocabulary, no fitted dictionary to store: exactly why this is the
    100 TB encoder of last resort. Hash = md5(seed:feat=value), the same
    engine-portable determinism primitive as split_train_test; a NULL
    value propagates NULL bucket/sign on both engines (md5(NULL)=NULL)."""
    t = Tables(spark, sf_dir)

    def lane(feat: str, value: F.Column) -> F.Column:
        h = F.md5(F.concat(F.lit(f"{_FH_SEED}:{feat}="), value))
        return F.struct(
            F.lit(feat).alias("feat"),
            (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % _FH_BUCKETS)
            .cast("int")
            .alias("bucket"),
            (1 - 2 * (F.conv(F.substring(h, 9, 1), 16, 10).cast("long") % 2))
            .cast("int")
            .alias("sign"),
        )

    lanes = F.array(
        lane("mktsegment", F.col("c_mktsegment")),
        lane("nation", F.col("c_nationkey").cast("string")),
    )
    return t.customer.select(
        "c_custkey", F.explode(lanes).alias("f")
    ).select("c_custkey", "f.feat", "f.bucket", "f.sign")


@register(
    "feature_robust_scale",
    oracle="""
    WITH s AS (
        SELECT c_mktsegment,
               MEDIAN(c_acctbal) AS med,
               quantile_cont(c_acctbal, 0.25) AS p25,
               quantile_cont(c_acctbal, 0.75) AS p75
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
           (c.c_acctbal - s.med) / NULLIF(s.p75 - s.p25, 0.0) AS robust_bal
    FROM customer c JOIN s USING (c_mktsegment)
    """,
    tags=("features", "scaling"),
)
def feature_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/IQR) scaling per category — the outlier-immune
    sibling of feature_standardize: (x - median) / IQR, fitted per
    segment. Exact continuous quantiles (F.median/F.percentile match
    DuckDB's MEDIAN/quantile_cont interpolation exactly — same picks,
    same single lerp); the low-cardinality fitted-stats table broadcasts
    back over the fact table, so the transform is map-side. A zero-IQR
    segment yields NULL via NULLIF on both engines. Exact per-group
    percentiles sort within groups (bounded group count here);
    agg_percentile_approx is the unbounded-cardinality sketch path."""
    t = Tables(spark, sf_dir)
    s = t.customer.groupBy("c_mktsegment").agg(
        F.median("c_acctbal").alias("med"),
        F.percentile("c_acctbal", F.lit(0.25)).alias("p25"),
        F.percentile("c_acctbal", F.lit(0.75)).alias("p75"),
    )
    return t.customer.join(s, "c_mktsegment").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        (
            (F.col("c_acctbal") - F.col("med"))
            / F.nullif(F.col("p75") - F.col("p25"), F.lit(0.0))
        ).alias("robust_bal"),
    )


_CURR_SEED = "curriculum-v1"
_CURR_BINS = 5
_CURR_TOPK = 100
_CURR_SHIFT = 1 << 40  # order_key = bin * 2^40 + 40-bit content hash


@register(
    "curriculum_order",
    oracle=f"""
    WITH per_v AS (
        SELECT n_chars AS v, COUNT(*) AS cnt FROM documents
        WHERE n_chars IS NOT NULL GROUP BY 1
    ),
    run AS (
        SELECT v, SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_cnt
        FROM per_v
    ),
    tot AS (SELECT COUNT(*) AS n FROM documents WHERE n_chars IS NOT NULL),
    keyed AS (
        SELECT d.doc_id,
               CAST(((r.run_cnt - 1) * {_CURR_BINS}) // t.n + 1 AS INTEGER) AS difficulty_bin,
               CAST(((r.run_cnt - 1) * {_CURR_BINS}) // t.n + 1 AS BIGINT) * {_CURR_SHIFT}
                   + CAST(('0x' || substr(MD5('{_CURR_SEED}' || CAST(d.doc_id AS VARCHAR)), 1, 10)) AS BIGINT)
                   AS order_key
        FROM documents d JOIN run r ON d.n_chars = r.v CROSS JOIN tot t
    )
    SELECT doc_id, difficulty_bin, order_key,
           CAST(ROW_NUMBER() OVER (ORDER BY order_key, doc_id) AS INTEGER) AS curriculum_rank
    FROM keyed
    ORDER BY order_key, doc_id
    LIMIT {_CURR_TOPK}
    """,
    tags=("mlprep", "curriculum"),
)
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule: documents ordered easy-to-hard (difficulty =
    length quintile, tie-stable integer-exact binning over the
    distributed prefix sum) with a deterministic within-bin shuffle —
    the composite sort key packs (bin, 40-bit content hash) into one
    bigint, so "write shards in curriculum order" is a single
    repartitionByRange on order_key with ZERO rank materialization (a
    global row_number would serialize the corpus through one
    partition). The schedule itself is previewed top-{_CURR_TOPK}
    (TakeOrdered — partition-local k) and ranked only within that
    bounded head, the shuffle_deterministic pattern."""
    t = Tables(spark, sf_dir)
    # NULL lengths excluded up front — same NULLS FIRST (Spark) vs NULLS
    # LAST (DuckDB) window divergence as feature_quantile_bucket.
    nn = t.documents.filter(F.col("n_chars").isNotNull())
    # r12: same fence + derived total as feature_quantile_bucket
    # (r13: a cut with it — same measured machinery)
    per_v = nn.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).transform(fence, cut=True)
    run = _bucketed_prefix_sums(per_v, "v", ("cnt",)).select("v", "run_cnt")
    tot = per_v.agg(F.sum("cnt").alias("n"))
    bin_ = (F.expr(f"((run_cnt - 1) * {_CURR_BINS}) div n") + 1)
    h40 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(_CURR_SEED), F.col("doc_id").cast("string"))), 1, 10
        ),
        16,
        10,
    ).cast("long")
    keyed = (
        t.documents.join(run, F.col("n_chars") == F.col("v"))
        .crossJoin(tot)
        .select(
            "doc_id",
            bin_.cast("int").alias("difficulty_bin"),
            (bin_.cast("bigint") * _CURR_SHIFT + h40).alias("order_key"),
        )
    )
    head = keyed.orderBy("order_key", "doc_id").limit(_CURR_TOPK)
    from pyspark.sql import Window as W

    rk = F.row_number().over(W.orderBy("order_key", "doc_id"))
    return head.select(
        "doc_id", "difficulty_bin", "order_key", rk.cast("int").alias("curriculum_rank")
    )


_COLL_MIN = 5
_COLL_TOPK = 20


@register(
    "text_collocations",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(LOWER(text), ' ')) AS w FROM documents
    ),
    uni AS (SELECT w, COUNT(*) AS n_w FROM toks GROUP BY w),
    nt AS (SELECT CAST(SUM(n_w) AS DOUBLE) AS n_tok FROM uni),
    ix AS (
        SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM (SELECT string_split(LOWER(text), ' ') AS ws FROM documents)
    ),
    pairs AS (SELECT ws[i] AS w1, ws[i + 1] AS w2 FROM ix),
    pc AS (SELECT w1, w2, COUNT(*) AS n_pair FROM pairs GROUP BY w1, w2),
    np AS (SELECT CAST(SUM(n_pair) AS DOUBLE) AS n_pairs FROM pc),
    scored AS (
        SELECT pc.w1, pc.w2, pc.n_pair,
               (CAST(pc.n_pair AS DOUBLE) / np.n_pairs)
                   / ((CAST(u1.n_w AS DOUBLE) / nt.n_tok) * (CAST(u2.n_w AS DOUBLE) / nt.n_tok)) AS lift
        FROM pc
        JOIN uni u1 ON pc.w1 = u1.w
        JOIN uni u2 ON pc.w2 = u2.w
        CROSS JOIN np CROSS JOIN nt
        WHERE pc.n_pair >= {_COLL_MIN}
    )
    SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair, lift
    FROM scored
    ORDER BY lift DESC, w1, w2
    LIMIT {_COLL_TOPK}
    """,
    tags=("text", "collocations"),
)
def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: adjacent bigrams ranked by pointwise-mutual-
    information LIFT — p(w1w2) / (p(w1)p(w2)) in ratio form (orders
    identically to PMI; avoiding the log keeps every score two IEEE
    divisions on exact integer counts — the no-runtime-libm doctrine,
    same as text_term_lift). Multiword-expression discovery for
    tokenizer/vocab curation.

    Plan: one tokenize pass explodes each token with its successor (NULL
    after the last token) into one fenced (w1, w2, n) count table, which
    is vocabulary-bounded. Unigram counts are its ``sum(n)`` by ``w1``,
    fenced as well; one 1-row aggregate gives both totals (``n_tok`` over every row,
    ``n_pairs`` over the rows with a successor) and is the one scalar-edge
    cross join; two equi-joins hang the unigram counts onto the pair
    counts; min-count {_COLL_MIN} prunes the tail before the joins;
    TakeOrdered yields the global top-{_COLL_TOPK} with a total
    (lift, w1, w2) tiebreak."""
    t = Tables(spark, sf_dir)
    ws = F.split(F.lower(F.col("text")), " ")
    succ = F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0)))
    toks = t.documents.select(
        F.explode(F.arrays_zip(ws.alias("w1"), succ.alias("w2"))).alias("t")
    ).select("t.w1", "t.w2")
    # The count table feeds the totals, the unigrams (twice) and the pair
    # side, each of which would re-run the tokenize and its shuffle.
    # (cut, not persist: the r13 interleaved mechanism A/B measured the
    # cut 1.21x faster on this query's former two-table plan)
    counts = toks.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n")).transform(
        fence, cut=True
    )
    # the lift denominators are the TRUE corpus totals (pre-filter); the
    # min-count filter only prunes which pairs are scored
    totals = counts.agg(
        F.sum("n").cast("double").alias("n_tok"),
        F.sum(F.when(F.col("w2").isNotNull(), F.col("n"))).cast("double").alias("n_pairs"),
    )
    # Fenced too, so both unigram joins are planned on known sizes:
    # joined to a live aggregate, the final plan varied between runs and
    # warm runs recompiled generated code (tests/test_codegen_cache.py).
    uni = counts.groupBy("w1").agg(F.sum("n").alias("n_w")).transform(fence, cut=True)
    pc = counts.where(F.col("w2").isNotNull() & (F.col("n") >= _COLL_MIN)).select(
        "w1", "w2", F.col("n").alias("n_pair")
    )
    u1 = uni.select("w1", F.col("n_w").alias("n_w1"))
    u2 = uni.select(F.col("w1").alias("w2"), F.col("n_w").alias("n_w2"))
    scored = (
        pc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(totals)
        .select(
            "w1",
            "w2",
            "n_pair",
            (
                (F.col("n_pair").cast("double") / F.col("n_pairs"))
                / (
                    (F.col("n_w1").cast("double") / F.col("n_tok"))
                    * (F.col("n_w2").cast("double") / F.col("n_tok"))
                )
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.col("lift").desc(), "w1", "w2").limit(_COLL_TOPK)


@register(
    "dq_expectations",
    oracle="""
    SELECT 'totalprice_positive' AS rule, COUNT(*) AS n_checked,
           CAST(SUM(CASE WHEN NOT (o_totalprice > 0) OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
           CAST(SUM(CASE WHEN NOT (o_totalprice > 0) OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / NULLIF(COUNT(*), 0) AS fail_rate
    FROM orders
    UNION ALL
    SELECT 'orderdate_not_null', COUNT(*),
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / NULLIF(COUNT(*), 0)
    FROM orders
    UNION ALL
    SELECT 'status_in_domain', COUNT(*),
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') OR o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') OR o_orderstatus IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / NULLIF(COUNT(*), 0)
    FROM orders
    UNION ALL
    SELECT 'custkey_not_null', COUNT(*),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / NULLIF(COUNT(*), 0)
    FROM orders
    """,
    tags=("dq", "expectations"),
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite (the Great-Expectations/dbt-test
    shape): each rule is a boolean predicate; the report is one row per
    rule with checked/failed counts and the failure rate. ALL rules
    evaluate in ONE scan — each predicate becomes a conditional sum in a
    single partial aggregate (map-side combined), then the 1-row result
    unpivots to rule rows; adding a rule adds a column to the aggregate,
    never a pass over the data. NULL handling is explicit per rule: a
    NULL that violates the expectation counts as failed (NOT(x>0) alone
    would skip NULLs).

    Referential rules (FK orphans) live in fk_integrity_audit — same
    one-scan doctrine across join edges."""
    t = Tables(spark, sf_dir)
    rules = {
        "totalprice_positive": ~(F.col("o_totalprice") > 0)
        | F.col("o_totalprice").isNull(),
        "orderdate_not_null": F.col("o_orderdate").isNull(),
        "status_in_domain": ~F.col("o_orderstatus").isin("F", "O", "P")
        | F.col("o_orderstatus").isNull(),
        "custkey_not_null": F.col("o_custkey").isNull(),
    }
    agg = t.orders.agg(
        F.count(F.lit(1)).alias("n_checked"),
        *[
            F.sum(F.when(cond, 1).otherwise(0)).alias(f"f_{name}")
            for name, cond in rules.items()
        ],
    )
    lanes = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col(f"f_{name}").alias("n_failed"),
            )
            for name in rules
        ]
    )
    return agg.select("n_checked", F.explode(lanes).alias("r")).select(
        F.col("r.rule").alias("rule"),
        "n_checked",
        F.col("r.n_failed").alias("n_failed"),
        (
            F.col("r.n_failed").cast("double")
            / F.nullif(F.col("n_checked"), F.lit(0))
        ).alias("fail_rate"),
    )


@register(
    "feature_vector_assemble",
    oracle="""
    WITH s AS (
        SELECT COUNT(c_acctbal) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(15,4)) * CAST(c_acctbal AS DECIMAL(15,4))) AS DOUBLE) AS sxx,
               MIN(c_acctbal) AS vmin, MAX(c_acctbal) AS vmax
        FROM customer
    )
    , vec AS (
        SELECT c.c_custkey,
               [ (c.c_acctbal - s.sx / s.n)
                   / NULLIF(SQRT((s.sxx / s.n - (s.sx / s.n) * (s.sx / s.n)) * s.n / NULLIF(s.n - 1, 0)), 0.0),
                 (c.c_acctbal - s.vmin) / NULLIF(s.vmax - s.vmin, 0.0),
                 CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1.0 ELSE 0.0 END,
                 CASE WHEN c.c_mktsegment = 'BUILDING'   THEN 1.0 ELSE 0.0 END,
                 CASE WHEN c.c_mktsegment = 'FURNITURE'  THEN 1.0 ELSE 0.0 END,
                 CASE WHEN c.c_mktsegment = 'HOUSEHOLD'  THEN 1.0 ELSE 0.0 END,
                 CASE WHEN c.c_mktsegment = 'MACHINERY'  THEN 1.0 ELSE 0.0 END ] AS features
        FROM customer c CROSS JOIN s
    )
    SELECT c_custkey,
           CAST(unnest(generate_series(0, len(features) - 1)) AS INTEGER) AS feature_idx,
           unnest(features) AS value
    FROM vec
    """,
    tags=("features", "assemble"),
)
def feature_vector_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector assembly — the terminal step of the feature pipeline: fuse
    the z-scored and min-max-scaled numeric plus the one-hot flags into
    ONE array<double> feature column, ready to feed a trainer. The whole
    pipeline (fit stats + both scalings + encoding + assembly) is a
    SINGLE plan: one tiny fitted-stats aggregate broadcast back, then
    pure map-side array construction — the fact table is scanned once
    for the fit and once for the transform, never shuffled. Every
    element follows its parent operator's exactness contract (decimal
    sums, NULLIF degenerate guards); a NULL z (constant column) stays
    NULL inside the array on both engines. The registered output edge
    posexplodes to long form (the driver contract forbids raw array
    columns on oracled queries — embed_centroid convention)."""
    t = Tables(spark, sf_dir)
    stats = t.customer.agg(
        F.count("c_acctbal").alias("n"),
        dec_to_double(F.sum(dec("c_acctbal")), 6).alias("sx"),
        dec_to_double(F.sum(dmoney("c_acctbal") * dmoney("c_acctbal")), 8).alias("sxx"),
        F.min("c_acctbal").alias("vmin"),
        F.max("c_acctbal").alias("vmax"),
    )
    mean = F.col("sx") / F.col("n")
    var = (
        (F.col("sxx") / F.col("n") - mean * mean)
        * F.col("n")
        / F.nullif(F.col("n") - 1, F.lit(0))
    )
    z = (F.col("c_acctbal") - mean) / F.nullif(F.sqrt(var), F.lit(0.0))
    mm = (F.col("c_acctbal") - F.col("vmin")) / F.nullif(
        F.col("vmax") - F.col("vmin"), F.lit(0.0)
    )
    oh = [
        F.when(F.col("c_mktsegment") == seg, 1.0).otherwise(0.0)
        for seg in _SEGMENTS_STATIC
    ]
    vec = t.customer.crossJoin(stats).select(
        "c_custkey", F.array(z, mm, *oh).alias("features")
    )
    # output edge: the driver's canonicalizer cannot hash raw array
    # columns (registry rule — see test_registry), so the registered
    # query emits the vector long-form (custkey, feature_idx, value);
    # the array itself is the in-plan shape a trainer would consume
    return vec.select(
        "c_custkey", F.posexplode("features").alias("feature_idx", "value")
    )
