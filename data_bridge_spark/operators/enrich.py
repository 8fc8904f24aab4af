"""Round-3 coverage widening: verified fuzzy dedup, token chunking,
exact-sum correlation, deterministic mode, ntile, nearest-asof, and
cosine range search.

Same doctrine as every other module: JVM-side expressions only, shuffle
shapes that hold at 100 TB, and a DuckDB oracle per query (determinism
via exact decimal sums and total tie-break orders).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.functions.exact import dec, dec_to_double, dfactor, dmoney
from data_bridge_spark.functions.vectors import cosine_similarity
from data_bridge_spark.operators.dedup import _bands_sql, _pairs_sql, lsh_candidate_pairs
from data_bridge_spark.registry import register


@register(
    "dedup_verified_pairs",
    oracle=f"""
    WITH {_bands_sql()},
    {_pairs_sql()}
    SELECT c.id_a, c.id_b,
           CAST(len(list_filter(
                    list_distinct(string_split(LOWER(a.text), ' ')),
                    w -> list_contains(list_distinct(string_split(LOWER(b.text), ' ')), w)
                )) AS DOUBLE)
           / len(list_distinct(string_split(LOWER(a.text), ' ')
                 || string_split(LOWER(b.text), ' '))) AS jaccard
    FROM cand c
    JOIN documents a ON a.doc_id = c.id_a
    JOIN documents b ON b.doc_id = c.id_b
    WHERE CAST(len(list_filter(
                  list_distinct(string_split(LOWER(a.text), ' ')),
                  w -> list_contains(list_distinct(string_split(LOWER(b.text), ' ')), w)
              )) AS DOUBLE)
          / len(list_distinct(string_split(LOWER(a.text), ' ')
                || string_split(LOWER(b.text), ' '))) >= 0.5
    """,
    tags=("dedup", "minhash", "verify"),
)
def dedup_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The candidate→verify stage of production fuzzy dedup as one plan:
    LSH candidate pairs (capped buckets, see lsh_candidate_pairs) joined
    back to the corpus and kept only where exact token-set Jaccard ≥ 0.5.

    This is the composition dedup_minhash_pairs + dedup_ngram individually
    demonstrate: the O(N²) Jaccard verification runs ONLY on the LSH
    candidate set (equi-joins on doc_id to fetch the two token sets — at
    100 TB the fetch shuffles candidate ids against the corpus, never
    pairs × corpus), so verification cost is O(candidates), the LSH
    contract."""
    t = Tables(spark, sf_dir)
    docs = t.documents.select(
        "doc_id", F.array_distinct(F.split(F.lower(F.col("text")), " ")).alias("words")
    )
    pairs = lsh_candidate_pairs(t.documents)
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("words").alias("words_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("words").alias("words_b"))
    inter = F.size(F.array_intersect(F.col("words_a"), F.col("words_b")))
    union = F.size(F.array_union(F.col("words_a"), F.col("words_b")))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (inter.cast("double") / union).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


@register(
    "dedup_quality_report",
    oracle=f"""
    WITH {_bands_sql()},
    {_pairs_sql()},
    scored AS (
        SELECT CAST(len(list_filter(
                     list_distinct(string_split(LOWER(a.text), ' ')),
                     w -> list_contains(list_distinct(string_split(LOWER(b.text), ' ')), w)
                 )) AS DOUBLE)
               / len(list_distinct(string_split(LOWER(a.text), ' ')
                     || string_split(LOWER(b.text), ' '))) AS jaccard
        FROM cand c
        JOIN documents a ON a.doc_id = c.id_a
        JOIN documents b ON b.doc_id = c.id_b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(COUNT(*) FILTER (WHERE jaccard >= 0.5) AS BIGINT) AS n_verified,
           CAST(COUNT(*) FILTER (WHERE jaccard >= 0.5) AS DOUBLE)
               / NULLIF(COUNT(*), 0) AS precision,
           CAST(SUM(CAST(ROUND(jaccard, 6) AS DECIMAL(12,6))) AS DOUBLE)
               / NULLIF(COUNT(*), 0) AS mean_jaccard
    FROM scored
    """,
    tags=("dedup", "minhash", "evaluation"),
)
def dedup_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding quality AS a pipeline query: over the capped candidate
    set, how many pairs survive exact-Jaccard verification (≥ 0.5), the
    precision, and the mean candidate Jaccard — the knob-tuning twin of
    sim_recall_report for the dedup side (more bands → higher recall,
    lower precision; this measures the precision half on a sample before
    a 100 TB run commits to a banding). Evaluation cost is O(candidates)
    like the verify stage itself. Mean jaccard is quantized to
    DECIMAL(12,6) and exact-summed (order-insensitive) — per-pair values
    are integer-ratio doubles both engines compute bit-identically."""
    t = Tables(spark, sf_dir)
    docs = t.documents.select(
        "doc_id", F.array_distinct(F.split(F.lower(F.col("text")), " ")).alias("words")
    )
    pairs = lsh_candidate_pairs(t.documents)
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("words").alias("words_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("words").alias("words_b"))
    inter = F.size(F.array_intersect(F.col("words_a"), F.col("words_b")))
    union = F.size(F.array_union(F.col("words_a"), F.col("words_b")))
    scored = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select((inter.cast("double") / union).alias("jaccard"))
    )
    n = F.count(F.lit(1))
    # NULLIF on the denominator: an empty candidate set (possible under a
    # different banding/data) must yield NULL on BOTH engines — Spark's
    # x/0 is NULL but DuckDB's double division gives NaN/Inf, so without
    # the guard the oracle comparison would diverge on this edge instead
    # of agreeing by construction (same guard in sim_recall_report)
    nz = F.nullif(n, F.lit(0))
    nv = F.count_if(F.col("jaccard") >= 0.5)
    return scored.agg(
        n.alias("n_candidates"),
        nv.alias("n_verified"),
        (nv.cast("double") / nz).alias("precision"),
        (
            F.sum(F.round(F.col("jaccard"), 6).cast("decimal(12,6)")).cast("double")
            / nz
        ).alias("mean_jaccard"),
    )


_CHUNK, _STRIDE = 32, 24  # token window / step (25% overlap)


@register(
    "text_chunks",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    e AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) - 1, {_STRIDE})) AS s
        FROM d
    )
    SELECT doc_id,
           CAST(s // {_STRIDE} AS INTEGER) AS chunk_idx,
           CAST(len(toks[s + 1 : s + {_CHUNK}]) AS INTEGER) AS n_chunk_tokens,
           array_to_string(toks[s + 1 : s + {_CHUNK}], ' ') AS chunk_text
    FROM e
    """,
    tags=("text", "mlprep", "chunk"),
)
def text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the context-length splitter
    every LLM training pipeline runs before tokenization (window=32,
    stride=24 here). Pure per-row array expressions: split once, generate
    the start offsets with `sequence`, explode, slice — zero shuffle,
    zero Python, linear in corpus size. Chunk boundaries are token
    offsets, so the op is deterministic and oracle-checkable."""
    t = Tables(spark, sf_dir)
    starts = F.sequence(F.lit(0), F.size(F.col("toks")) - 1, F.lit(_STRIDE))
    chunk = F.slice(F.col("toks"), F.col("s") + 1, _CHUNK)
    return (
        t.documents.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select("doc_id", "toks", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            (F.col("s") / _STRIDE).cast("int").alias("chunk_idx"),
            F.size(chunk).alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


@register(
    "agg_corr",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,2)) AS DOUBLE) AS sq,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sp,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))
                             * CAST(l_extendedprice AS DECIMAL(19,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sqp,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))
                             * CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,2)) AS DOUBLE) AS sqq,
               CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(19,2))
                                   * CAST(l_extendedprice AS DECIMAL(19,2))), 0)
                         AS DECIMAL(38,0)) AS DOUBLE) AS spp
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (n * sqp - sq * sp)
           / NULLIF(SQRT(n * sqq - sq * sq) * SQRT(n * spp - sp * sp), 0) AS qty_price_corr
    FROM s
    """,
    tags=("agg", "stats", "corr"),
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group from exact decimal power sums — the
    deterministic form of CORR (the built-in streaming estimator has
    partition-order-dependent low bits; exact integer sums make every
    re-run and AQE re-plan bit-identical). One shuffle, map-side partial
    aggregation, same cost shape as agg_stats.

    Two determinism devices beyond agg_stats: (1) prices multiply at
    DECIMAL(19,2) — precision 19 forces DuckDB's int128 product class
    (the int64 class overflows on price², observed at (15,x)), while
    19+19 = 38 keeps Spark's product exact with no precision-loss
    rescale; (2) every sum collapses to a decimal whose unscaled value
    stays under 2^53 before the double cast — DuckDB converts wider
    decimals to double with TWO roundings (functions/exact.py), which
    cost the first draft its last ulp. Collapse casts must also not
    DROP nonzero digits: DuckDB truncates on decimal downcast while
    Spark rounds HALF_UP, so every scale here keeps all real decimal
    places (quantities are integral, money is 2 dp) — except price²'s
    4 dp, which both sides round identically with an explicit ROUND
    (half-away-from-zero in both engines) before the cast. Unscaled
    bounds hold through sf1 (spp ≈ 7.1e15 < 2^53)."""
    t = Tables(spark, sf_dir)
    q6 = F.col("l_quantity").cast("decimal(18,6)")
    p2 = F.col("l_extendedprice").cast("decimal(19,2)")
    n = F.count(F.lit(1))
    sum_q = dec_to_double(F.sum(q6).cast("decimal(38,2)"), 2)
    sum_p = dec_to_double(F.sum(p2).cast("decimal(38,2)"), 2)
    sum_qp = dec_to_double(F.sum(q6 * p2).cast("decimal(38,2)"), 2)
    sum_qq = dec_to_double(F.sum(q6 * q6).cast("decimal(38,2)"), 2)
    sum_pp = F.round(F.sum(p2 * p2), 0).cast("decimal(38,0)").cast("double")
    # NULLIF: correlation of a single observation / zero-variance group
    # is undefined -> NULL on both engines (ANSI Spark would raise)
    corr = (n * sum_qp - sum_q * sum_p) / F.nullif(
        F.sqrt(n * sum_qq - sum_q * sum_q) * F.sqrt(n * sum_pp - sum_p * sum_p),
        F.lit(0.0),
    )
    return t.lineitem.groupBy("l_returnflag").agg(
        n.alias("n"), corr.alias("qty_price_corr")
    )


@register(
    "agg_mode",
    oracle="""
    WITH counts AS (
        SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
        FROM customer GROUP BY c_mktsegment, c_nationkey
    ),
    ranked AS (
        SELECT c_mktsegment, c_nationkey, n,
               ROW_NUMBER() OVER (
                   PARTITION BY c_mktsegment ORDER BY n DESC, c_nationkey ASC
               ) AS rn
        FROM counts
    )
    SELECT c_mktsegment, c_nationkey AS modal_nation, n AS n_customers
    FROM ranked WHERE rn = 1
    """,
    tags=("agg", "mode"),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE: most frequent value per group with a total
    tie-break (smallest value wins) — the built-in `mode` aggregate picks
    an arbitrary tied value, which can't be oracle-checked. Count + one
    window over the (tiny) per-group count table; the wide shuffle is on
    the counts, not the rows."""
    t = Tables(spark, sf_dir)
    counts = t.customer.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("n"), F.asc("c_nationkey"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_mktsegment", F.col("c_nationkey").alias("modal_nation"), F.col("n").alias("n_customers"))
    )


@register(
    "window_ntile",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(NTILE(4) OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC
           ) AS INTEGER) AS balance_quartile
    FROM customer
    """,
    tags=("window", "ntile"),
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles per segment (customer-value banding). The order
    carries a c_custkey tiebreak so equal balances land in the same tile
    on every engine — untied NTILE is nondeterministic. One exchange on
    the partition key, like every other window op."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return t.customer.select(
        "c_custkey", "c_mktsegment", "c_acctbal", F.ntile(4).over(w).alias("balance_quartile")
    )


@register(
    "asof_nearest",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type = 'purchase' THEN ts END AS p_ts
        FROM events
    ),
    walked AS (
        SELECT user_id, ts, event_id, event_type,
               last_value(p_ts IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prev_p,
               first_value(p_ts IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_p
        FROM tagged
    )
    SELECT event_id, user_id, ts,
           CASE WHEN next_p IS NULL THEN prev_p
                WHEN prev_p IS NULL THEN next_p
                WHEN date_diff('microseconds', prev_p, ts)
                     <= date_diff('microseconds', ts, next_p) THEN prev_p
                ELSE next_p END AS nearest_purchase_ts
    FROM walked
    WHERE event_type = 'click'
    """,
    tags=("events", "asof"),
)
def asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of: each click matched to its temporally
    CLOSEST purchase by the same user (backward-asof and forward-asof
    merged, earlier wins ties) — attribution logic that plain backward
    as-of gets wrong when the purchase lands just after the click.

    Union-free single pass: tag purchase timestamps in-row, then one
    window per direction over (user, time) — two frames over ONE exchange
    on user_id, no join at all. Scales as any window op does; a
    stream-stream formulation is the time-bounded join in streaming/."""
    t = Tables(spark, sf_dir)
    # asc_nulls_last: NULL-ts rows sort LAST as in the oracle (Spark ASC
    # defaults to NULLS FIRST, DuckDB to NULLS LAST — mixed-NULL ts would
    # otherwise shift every IGNORE NULLS walk by the NULL block)
    order = [F.col("ts").asc_nulls_last(), F.col("event_id").asc()]
    p_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    w_back = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev_p = F.last(p_ts, ignorenulls=True).over(w_back)
    next_p = F.first(p_ts, ignorenulls=True).over(w_fwd)
    # NTZ timestamps subtract to day-time intervals, which compare
    # directly — no epoch cast needed (NTZ refuses a long cast)
    nearest = (
        F.when(next_p.isNull(), prev_p)
        .when(prev_p.isNull(), next_p)
        .when(F.col("ts") - prev_p <= next_p - F.col("ts"), prev_p)
        .otherwise(next_p)
    )
    return (
        t.events.select("event_id", "user_id", "ts", "event_type", nearest.alias("nearest_purchase_ts"))
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts", "nearest_purchase_ts")
    )


@register(
    "sim_range_search",
    oracle="""
    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
           list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
           / (SQRT(list_aggregate(list_transform(q.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
              * SQRT(list_aggregate(list_transform(c.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos_sim
    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 10
      AND list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
          / (SQRT(list_aggregate(list_transform(q.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
             * SQRT(list_aggregate(list_transform(c.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) >= 0.25
    """,
    tags=("similarity", "range"),
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search: every corpus vector within cosine ≥ 0.25 of each
    query vector (the retrieval primitive next to top-k). The tiny query
    set is the build side of a nested-loop join over the corpus scan —
    per-partition brute force, no corpus shuffle at all; swap in the LSH/IVF bucket equi-join
    (sim_topk_lsh / sim_ivf) when the query side is large."""
    t = Tables(spark, sf_dir)
    queries = t.embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    corpus = t.embeddings.select(F.col("vec_id").alias("match_id"), "embedding")
    cos = cosine_similarity(F.col("q_emb"), F.col("embedding"))
    return (
        corpus.join(queries, F.col("match_id") != F.col("query_id"))
        .select("query_id", "match_id", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.25)
    )


_GROUPING_SETS_SQL = """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register(
    "agg_grouping_sets",
    oracle=_GROUPING_SETS_SQL,
    tags=("agg", "grouping_sets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the general form rollup/cube specialize
    (here: (flag, status), (flag), and grand total, skipping the
    (status)-only set a cube would add). Same pre-aggregate-then-expand
    shape as agg_rollup: ONE lineitem scan builds the (flag, status)
    partials (exact decimal sums), groupingSets() expands the tiny
    partial table, and the standard-mandated grand-total row on EMPTY
    input (count 0, NULL sum — Spark's keyed aggregate drops it, DuckDB
    keeps it) is reinstated from the same cut partials."""
    t = Tables(spark, sf_dir)
    fine = t.lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n0"), F.sum(dec("l_quantity")).alias("s0")
    )
    sets = fine.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.sum("n0").alias("n"),
        dec_to_double(F.sum("s0").cast("decimal(28,6)")).alias("sum_qty"),
    )
    # probe the SOURCE with a collect-limit (fine is empty iff lineitem
    # is): no localCheckpoint, no second pass (see agg_rollup)
    empty_total = (
        t.lineitem.limit(1).agg(F.count(F.lit(1)).alias("__k"))
        .filter(F.col("__k") == 0)
        .select(
            F.lit(None).cast("string").alias("l_returnflag"),
            F.lit(None).cast("string").alias("l_linestatus"),
            F.lit(0).cast("bigint").alias("n"),
            F.lit(None).cast("double").alias("sum_qty"),
        )
    )
    return sets.unionByName(empty_total)


_OVL_BIN_S = 4 * 86400  # bin width >= the longest interval on either side


@register(
    "join_interval_overlap",
    oracle="""
    SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b
    FROM orders a JOIN orders b
      ON a.o_orderdate < b.o_orderdate + INTERVAL 2 DAY
     AND b.o_orderdate < a.o_orderdate + INTERVAL 3 DAY
     AND a.o_orderkey <> b.o_orderkey
    WHERE a.o_orderpriority = '1-URGENT' AND b.o_orderpriority = '2-HIGH'
    """,
    tags=("join", "range", "scale"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval OVERLAP join as a binned equi-join — the
    two-sided sibling of join_range_binned (which handles point-in-
    interval). URGENT orders carry a 3-day window, HIGH orders a 2-day
    window; emit pairs whose windows intersect.

    Both sides explode onto the <=2 bins they cover (bin width >= the
    longer interval), hash-join on the bin key, and keep a pair only in
    the bin containing max(lo_a, lo_b) — each overlapping pair meets in
    exactly ONE bin, so there is no distinct/dedup shuffle — then apply
    the exact overlap predicate as a residual filter. One shuffle on
    `bin`, same 100x-survivable shape as join_range_binned where the
    naive two-sided predicate plans an O(N*M) nested loop."""
    t = Tables(spark, sf_dir)

    def binify(c):
        return F.floor(c / F.lit(_OVL_BIN_S))

    def side(priority: str, days: int, key_alias: str, pfx: str):
        return (
            t.orders.filter(F.col("o_orderpriority") == priority)
            .select(
                F.col("o_orderkey").alias(key_alias),
                F.unix_timestamp("o_orderdate").alias(f"{pfx}_lo"),
                (F.unix_timestamp("o_orderdate") + days * 86400).alias(f"{pfx}_hi"),
            )
            .withColumn(
                "bin",
                F.explode(
                    F.sequence(binify(F.col(f"{pfx}_lo")), binify(F.col(f"{pfx}_hi") - 1))
                ),
            )
        )

    a = side("1-URGENT", 3, "key_a", "a")
    b = side("2-HIGH", 2, "key_b", "b")
    return (
        a.join(b, "bin")
        .filter(
            (F.col("a_lo") < F.col("b_hi"))
            & (F.col("b_lo") < F.col("a_hi"))
            & (F.col("key_a") != F.col("key_b"))
            & (F.col("bin") == binify(F.greatest(F.col("a_lo"), F.col("b_lo"))))
        )
        .select("key_a", "key_b")
    )


@register(
    "dedup_latest_version",
    oracle="""
    SELECT user_id, event_type, ts, value
    FROM (
        SELECT user_id, event_type, ts, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    tags=("dedup", "cdc", "window"),
)
def dedup_latest_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: keep only the newest record per key — the
    upsert-log → current-state collapse every change-capture pipeline
    runs (scd2_merge keeps history; this keeps the head). One window
    over one exchange on the key; event_id breaks timestamp ties so the
    survivor is deterministic on any engine and any partitioning."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        t.events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "ts", "value")
    )


@register(
    "events_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY user_id
    )
    SELECT f.cohort_week,
           date_trunc('week', e.ts) AS active_week,
           COUNT(DISTINCT e.user_id) AS n_active
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
    tags=("events", "retention", "cohort"),
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week, counted
    distinct in every week they return — the canonical growth-analytics
    rollup. Two shuffles (first-seen agg on user, then the cohort×week
    count-distinct); the user→cohort join is on the already-shuffled user
    key. Week buckets via date_trunc, Monday-based in both engines."""
    t = Tables(spark, sf_dir)
    # r12: cohort_week = MIN over a user_id window instead of a per-user
    # aggregate joined back — one events scan and one user_id exchange
    # instead of two scans + (agg exchange + join exchange). Identical
    # value: the window MIN over all of a user's rows IS the first-seen
    # week the aggregate computed.
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    w = Window.partitionBy("user_id")
    return (
        t.events.select("user_id", wk.alias("active_week"))
        .withColumn("cohort_week", F.min("active_week").over(w))
        .groupBy("cohort_week", "active_week")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


_INCR_SPLIT = "1997-01-01"


@register(
    "agg_incremental",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_spent,
           MAX(o_orderdate) AS last_order
    FROM orders
    GROUP BY o_custkey
    """,
    tags=("agg", "incremental"),
)
def agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a 'materialized' historical
    partial state (orders before 1997) merged with a fresh delta batch
    (1997+) by RE-AGGREGATING PARTIAL STATES — count via SUM(n), sum via
    SUM(partial), max via MAX(partial) — instead of rescanning history.
    The oracle computes the aggregate directly over the full table, so a
    green row proves the merge is lossless — the property that makes
    count/sum/min/max (and any commutative monoid, incl. HLL sketches)
    maintainable at 100 TB where full recompute is not. Exact decimal
    partials make merge order irrelevant bit-for-bit."""
    t = Tables(spark, sf_dir)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("s"),
            F.max("o_orderdate").alias("mx"),
        )

    # the split predicate must be TOTAL — every row on exactly one side
    # — or NULL-dated rows silently drop from the maintained aggregate
    # (the oracle aggregates the whole table); NULL dates ride history
    hist = partial(
        t.orders.filter(
            (F.col("o_orderdate") < _INCR_SPLIT) | F.col("o_orderdate").isNull()
        )
    )
    delta = partial(t.orders.filter(F.col("o_orderdate") >= _INCR_SPLIT))
    return (
        hist.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("s").cast("double").alias("total_spent"),
            F.max("mx").alias("last_order"),
        )
    )


@register(
    "window_cume_dist",
    oracle="""
    SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DOUBLE) AS acctbal,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC)
    """,
    tags=("window", "rank"),
)
def window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative standing within a partition: percent_rank and cume_dist
    of customer balance within nation — the distribution-position
    functions B15's rank/ntile family was missing.  Both are count
    ratios ((rank-1)/(N-1), peers/N): IEEE divisions of exact integers,
    bit-identical across engines; the (acctbal, custkey) total order
    makes ranks unique so ties can't differ between engines.  One
    exchange on the partition key; balance emitted as DOUBLE (raw
    DECIMAL output is the one driver-hash trap, see cast_map)."""
    t = Tables(spark, sf_dir)
    w = (
        Window.partitionBy("c_nationkey")
        # asc_nulls_last matches DuckDB's default NULL order; Spark's ASC
        # default (NULLS FIRST) would rank NULL balances lowest instead
        .orderBy(F.col("c_acctbal").asc_nulls_last(), F.col("c_custkey").asc())
    )
    return t.customer.select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,4)) * CAST(l_quantity AS DECIMAL(8,4)))
                     AS DECIMAL(18,2)) AS DOUBLE)
           / CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS wavg_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "weighted"),
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per return flag: exact decimal
    numerator and denominator, one double division at the edge.  The
    numerator collapses to DECIMAL(18,2) before the double cast — the
    product's real scale is 2, so no digits drop, and the unscaled value
    stays under 2^53 where decimal→double casts round identically on
    both engines (scale 6 would overflow that bound at sf0.1+; see
    functions/exact.py docstring).  One map-side-combinable exchange."""
    t = Tables(spark, sf_dir)
    num = dec_to_double(F.sum(dmoney("l_extendedprice") * dfactor("l_quantity")).cast("decimal(18,2)"), 2)
    den = dec_to_double(F.sum(dec("l_quantity")).cast("decimal(18,6)"), 6)
    return t.lineitem.groupBy("l_returnflag").agg((num / den).alias("wavg_price"))


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem GROUP BY 1
    """,
    tags=("agg", "distinct", "bitmap"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct count via two-level bitmap aggregation
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg):
    each (group, 32k-bucket) collapses its keys into a fixed 4 KB bitmap
    map-side, then per-group bitmap_count sums.  The scale story vs
    COUNT(DISTINCT): shuffle payload is O(groups × occupied buckets)
    bitmaps instead of every distinct key — the exact counterpart of the
    HLL sketch in agg_approx_distinct (C4), for when the answer must be
    exact and the key space is dense integers.  The oracle computes
    COUNT(DISTINCT) directly, proving the bitmap path lossless."""
    t = Tables(spark, sf_dir)
    b = (
        t.lineitem.groupBy(
            "l_returnflag", F.bitmap_bucket_number("l_orderkey").alias("bkt")
        ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("l_orderkey")).alias("bm"))
    )
    return b.groupBy("l_returnflag").agg(F.sum(F.bitmap_count("bm")).alias("n_orders"))


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_bands_sql()},
    {_pairs_sql()}
    SELECT c.id_a, c.id_b,
           CAST(len(list_filter(
                    list_distinct(string_split(LOWER(a.text), ' ')),
                    w -> list_contains(list_distinct(string_split(LOWER(b.text), ' ')), w)
                )) AS DOUBLE)
           / CAST(least(len(list_distinct(string_split(LOWER(a.text), ' '))),
                        len(list_distinct(string_split(LOWER(b.text), ' ')))) AS DOUBLE) AS containment
    FROM cand c
    JOIN documents a ON a.doc_id = c.id_a
    JOIN documents b ON b.doc_id = c.id_b
    """,
    tags=("dedup", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (asymmetric Jaccard, |A∩B| / min(|A|,|B|)) over the
    LSH candidate pairs — the measure that catches SUB-document
    duplication (a doc wholly embedded in a larger one), which symmetric
    Jaccard under-scores because the union is dominated by the larger
    doc.  Same candidate/verify contract as dedup_verified_pairs:
    verification cost is O(candidates), token sets fetched by two
    doc_id equi-joins, never pairs × corpus."""
    t = Tables(spark, sf_dir)
    docs = t.documents.select(
        "doc_id", F.array_distinct(F.split(F.lower(F.col("text")), " ")).alias("words")
    )
    pairs = lsh_candidate_pairs(t.documents)
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("words").alias("words_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("words").alias("words_b"))
    inter = F.size(F.array_intersect(F.col("words_a"), F.col("words_b")))
    smaller = F.least(F.size("words_a"), F.size("words_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            (inter.cast("double") / smaller.cast("double")).alias("containment"),
        )
    )


_XSRC_T = 0.5


@register(
    "dedup_cross_source_matrix",
    oracle=f"""
    WITH {_bands_sql()},
    {_pairs_sql()},
    verified AS (
        SELECT c.id_a, c.id_b, da.source AS source_a, db.source AS source_b
        FROM cand c
        JOIN documents da ON da.doc_id = c.id_a
        JOIN documents db ON db.doc_id = c.id_b
        WHERE CAST(len(list_filter(
                      list_distinct(string_split(LOWER(da.text), ' ')),
                      w -> list_contains(list_distinct(string_split(LOWER(db.text), ' ')), w)
                  )) AS DOUBLE)
              / len(list_distinct(string_split(LOWER(da.text), ' ')
                    || string_split(LOWER(db.text), ' '))) >= {_XSRC_T}
    )
    SELECT LEAST(source_a, source_b) AS src_lo,
           GREATEST(source_a, source_b) AS src_hi,
           COUNT(*) AS n_pairs,
           CAST(COUNT(CASE WHEN source_a = source_b THEN 1 END) AS BIGINT) AS n_within
    FROM verified
    GROUP BY 1, 2
    """,
    tags=("dedup", "corpus", "report"),
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: verified near-dup pairs counted
    per unordered source pair — the report that says WHICH crawl slices
    duplicate each other (two mirrors of the same site, a re-crawl that
    should be dropped wholesale, a source that is mostly copies of
    another). Source-level decisions (drop / merge / down-weight a whole
    source) need this aggregate view, not the per-pair list.

    Plan shape: dedup_verified_pairs' candidate→verify chain (cost
    O(LSH candidates), never corpus²), then two doc_id equi-joins carry
    only the source label, and the matrix aggregation is bounded by
    |sources|² cells regardless of corpus size. The unordered (lo, hi)
    key folds both pair directions into one cell."""
    t = Tables(spark, sf_dir)
    docs = t.documents.select(
        "doc_id", "source",
        F.array_distinct(F.split(F.lower(F.col("text")), " ")).alias("words"),
    )
    pairs = lsh_candidate_pairs(t.documents)
    a = docs.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("source_a"),
        F.col("words").alias("words_a"),
    )
    b = docs.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("source_b"),
        F.col("words").alias("words_b"),
    )
    inter = F.size(F.array_intersect(F.col("words_a"), F.col("words_b")))
    union = F.size(F.array_union(F.col("words_a"), F.col("words_b")))
    verified = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .where((inter.cast("double") / union) >= _XSRC_T)
    )
    return (
        verified.select(
            F.least("source_a", "source_b").alias("src_lo"),
            F.greatest("source_a", "source_b").alias("src_hi"),
            # coalesce(0): a NULL source makes the equality NULL, and a
            # group of only-NULL comparisons would SUM to NULL where the
            # oracle's COUNT(CASE WHEN a=b THEN 1 END) gives 0
            F.coalesce(
                (F.col("source_a") == F.col("source_b")).cast("int"), F.lit(0)
            ).alias("within"),
        )
        .groupBy("src_lo", "src_hi")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("within").cast("bigint").alias("n_within"),
        )
    )


@register(
    "events_bitmap_rollup",
    oracle="""
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week_d, event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("events", "bitmap", "rollup", "distinct"),
)
def events_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable EXACT distinct rollup: weekly distinct users per event
    type computed from OR-merged DAILY bitmaps — the materialized-rollup
    pattern for distinct counts, which plain COUNT(DISTINCT) cannot do
    (distinct counts don't sum; bitmaps OR losslessly). The plan builds
    the (day, type, bucket)-grain bitmap table first — exactly what a
    warehouse would persist as its daily cube — then rolls up to weeks
    with bitmap_or_agg + bitmap_count. The oracle computes the weekly
    COUNT(DISTINCT) directly from raw rows, proving the daily->weekly
    merge lossless. Shuffle payload is O(groups x occupied 4KB buckets),
    never the raw user stream twice; NULL ts/user/type rows are excluded
    explicitly on both engines (a NULL is not an observation and
    bitmap_bit_position rejects NULL keys)."""
    t = Tables(spark, sf_dir)
    e = t.events.where(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    ).select(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week_d"),
        F.to_date("ts").alias("day_d"),
        "event_type",
        "user_id",
    )
    daily = e.groupBy(
        "week_d",
        "day_d",
        "event_type",
        F.bitmap_bucket_number("user_id").alias("bkt"),
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    weekly = daily.groupBy("week_d", "event_type", "bkt").agg(
        F.bitmap_or_agg("bm").alias("bm")
    )
    return weekly.groupBy("week_d", "event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("n_users")
    )


@register(
    "events_hll_rollup",
    oracle=None,  # sketch estimates are engine-specific -> rows-only;
    # the merge-consistency and accuracy bounds are pytest-gated
    # (tests/test_features.py) against events_bitmap_rollup's exact twin
    tags=("events", "hll", "rollup", "approx"),
)
def events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate twin of events_bitmap_rollup: weekly distinct users
    per event type from UNION-merged DAILY HLL sketches (hll_sketch_agg
    -> hll_union_agg -> hll_sketch_estimate). The sketch path is the
    sparse/string-key regime where 4KB-per-bucket bitmaps stop paying:
    constant ~KB state per (group, day) regardless of key type or
    density, merge still lossless W.R.T. the sketch's own estimate.
    Rows-only by design; pytest gates the estimate against the exact
    bitmap rollup (3x the sketch's standard error) and pins
    merge-consistency (union of dailies == direct weekly sketch)."""
    t = Tables(spark, sf_dir)
    e = t.events.where(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    ).select(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week_d"),
        F.to_date("ts").alias("day_d"),
        "event_type",
        "user_id",
    )
    daily = e.groupBy("week_d", "day_d", "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    return (
        daily.groupBy("week_d", "event_type")
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select(
            "week_d",
            "event_type",
            F.hll_sketch_estimate("sk").alias("n_users_approx"),
        )
    )
