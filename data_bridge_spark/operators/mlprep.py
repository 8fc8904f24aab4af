"""Training-data preparation operators (the 100 TB pipeline's last mile):
deterministic splits, reproducible shuffling, source mixing, sequence
packing, stratified sampling, and data-quality gating.

Determinism doctrine: anything that must be reproducible across re-runs
and engines derives from content hashes (md5 of key+seed), never from RNG
state — a retried task or a different partitioning yields the same rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.registry import register

_SEED = "split-v1"


def _hash_pct(col: F.Column, seed: str) -> F.Column:
    """Stable 0-99 assignment from a content hash (first 8 hex chars)."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(seed), col.cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % 100
    )


@register(
    "split_train_test",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN CAST(('0x' || substr(MD5('{_SEED}' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
    tags=("mlprep", "split"),
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/20 split by content hash: the assignment is a pure
    function of (seed, key) — stable across engines, re-runs, partitions,
    and incremental additions (new docs don't reshuffle old ones, unlike
    randomSplit)."""
    t = Tables(spark, sf_dir)
    pct = _hash_pct(F.col("doc_id"), _SEED)
    return t.documents.select(
        "doc_id", F.when(pct < 80, "train").otherwise("test").alias("split")
    )


@register(
    "shuffle_deterministic",
    oracle=f"""
    SELECT doc_id, shuffle_rank FROM (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY MD5('{_SEED}' || CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS shuffle_rank
        FROM documents
    ) WHERE shuffle_rank <= 100
    """,
    tags=("mlprep", "shuffle"),
)
def shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global shuffle: order by hash(seed, key). Gives every
    training run the same example order without storing a permutation;
    changing the seed string reshuffles."""
    t = Tables(spark, sf_dir)
    h = F.md5(F.concat(F.lit(_SEED), F.col("doc_id").cast("string")))
    from pyspark.sql import Window as W

    # top-k by hash first (TakeOrderedAndProject — partition-local k, no
    # global sort), THEN rank the k-row result; a bare global row_number
    # would drag the whole table onto one partition
    head = (
        t.documents.select("doc_id", h.alias("h"))
        .orderBy(F.col("h"), F.col("doc_id"))
        .limit(100)
    )
    rank = F.row_number().over(W.orderBy(F.col("h"), F.col("doc_id")))
    return head.withColumn("shuffle_rank", rank).select("doc_id", "shuffle_rank")


@register(
    "mix_weighted",
    oracle=f"""
    SELECT doc_id, source FROM documents
    WHERE CAST(('0x' || substr(MD5('mix-' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
          < CASE WHEN source IN ('src0', 'src1') THEN 90 ELSE 30 END
    """,
    tags=("mlprep", "mixing"),
)
def mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted dataset mixing: per-source keep-rates applied via content
    hash (keep 90% of preferred sources, 30% of the rest). Deterministic,
    single-pass, no shuffle — the way corpus mixtures are materialized."""
    t = Tables(spark, sf_dir)
    pct = _hash_pct(F.col("doc_id"), "mix-")
    rate = F.when(F.col("source").isin("src0", "src1"), 90).otherwise(30)
    return t.documents.filter(pct < rate).select("doc_id", "source")


@register(
    "sample_stratified",
    oracle=None,  # sampling fractions are engine-specific RNG → rows-only
    tags=("mlprep", "sampling"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling by language with per-stratum fractions
    (sampleBy): downsample dominant strata, keep the tail. Seeded, but
    Spark's RNG stream is partitioning-dependent — use the hash-based
    operators above when cross-run stability matters; sampleBy when only
    statistical behavior matters."""
    t = Tables(spark, sf_dir)
    fractions = {"en": 0.3, "es": 0.8, "fr": 0.8, "de": 0.8, "zh": 1.0}
    return t.documents.sampleBy("lang", fractions, seed=42).select("doc_id", "lang")


@register(
    "sample_stratified_hash",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE CAST(('0x' || substr(MD5('strat-' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
          < CASE lang WHEN 'en' THEN 30 WHEN 'zh' THEN 100 ELSE 80 END
    """,
    tags=("mlprep", "sampling"),
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling, deterministic form: the same per-language
    fractions as sample_stratified but decided by content hash — a pure
    function of (seed, key), so the sample is identical across engines,
    re-runs, retries, and partitionings, and therefore oracle-checkable
    (sampleBy's RNG stream is partitioning-dependent by construction).
    Zero shuffle, filter-only plan."""
    t = Tables(spark, sf_dir)
    pct = _hash_pct(F.col("doc_id"), "strat-")
    rate = (
        F.when(F.col("lang") == "en", 30)
        .when(F.col("lang") == "zh", 100)
        .otherwise(80)
    )
    return t.documents.filter(pct < rate).select("doc_id", "lang")


@register(
    "pack_sequences",
    # greedy first-fit is order-stateful, but DETERMINISTIC (sorted
    # doc_id order, integer token counts) — so the whole packer replays
    # in a DuckDB recursive CTE that carries each group's bin free-list
    # as LIST state, one rank per iteration. Same unrolling doctrine as
    # sim_ivf's k-means oracle: pin the order, the state transition is
    # pure, and "stateful" stops meaning "unverifiable". docs is
    # MATERIALIZED (r11): without the hint DuckDB re-evaluates the CTE —
    # md5 + string_split over every document — on EVERY recursion level
    # (one sf10 group: >25 min unfinished vs 115 s materialized; the
    # hint is evaluation-only, the value is identical by definition).
    oracle="""
    WITH RECURSIVE docs AS MATERIALIZED (
        SELECT doc_id,
               LEAST(COALESCE(len(string_split(text, ' ')), 0), 512) AS n,
               CAST(('0x' || substr(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS g,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY CAST(('0x' || substr(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16
                   ORDER BY doc_id) AS INTEGER) AS rk
        FROM documents
    ),
    steps(g, rk, bins, doc_id, bin_id, used) AS (
        SELECT g, rk, [512 - n], doc_id, 0, n FROM docs WHERE rk = 1
        UNION ALL
        SELECT d.g, d.rk,
               CASE WHEN fit.i IS NULL THEN list_append(s.bins, 512 - d.n)
                    ELSE list_transform(
                        list_zip(s.bins, generate_series(1, len(s.bins))),
                        z -> CASE WHEN z[2] = fit.i THEN z[1] - d.n ELSE z[1] END)
               END,
               d.doc_id,
               CASE WHEN fit.i IS NULL THEN len(s.bins) ELSE fit.i - 1 END,
               d.n
        FROM steps s
        JOIN docs d ON d.g = s.g AND d.rk = s.rk + 1
        CROSS JOIN LATERAL (
            SELECT list_extract(
                list_transform(
                    list_filter(list_zip(s.bins, generate_series(1, len(s.bins))),
                                z -> z[1] >= d.n),
                    z -> z[2]), 1) AS i
        ) fit
    )
    SELECT doc_id, g AS pack_group, CAST(bin_id AS INTEGER) AS bin_id,
           CAST(used AS INTEGER) AS used_tokens
    FROM steps
    """,
    tags=("mlprep", "packing"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: greedily pack documents into fixed token-budget
    bins (here 512 whitespace tokens) to minimize padding waste in
    training batches. Packing is inherently sequential, so it runs
    greedy-per-group via applyInPandas: docs are hash-bucketed into
    independent groups (md5-derived — cross-engine-computable, which is
    what lets the recursive-CTE oracle replay the exact same groups),
    each group packs locally in sorted doc_id order — the standard
    scale-out compromise (bin quality within a group, perfect
    parallelism across groups). First-fit state is a per-group integer
    free-list, so the oracle can replay it exactly; the pytest
    additionally asserts the budget invariant and packing efficiency."""
    budget = 512
    t = Tables(spark, sf_dir)
    group = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 16
    )
    docs = t.documents.select(
        "doc_id",
        # NULL text packs as 0 tokens (split(NULL) -> size NULL -> NaN in
        # pandas -> int() crash without the coalesce; oracle COALESCEs too)
        F.coalesce(F.size(F.split("text", " ")), F.lit(0)).alias("n_tokens"),
        group.alias("pack_group"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins: list[int] = []
        bin_ids, remaining = [], []
        for _, row in pdf.iterrows():
            n = min(int(row["n_tokens"]), budget)
            for i, free in enumerate(bins):
                if free >= n:
                    bins[i] = free - n
                    bin_ids.append(i)
                    break
            else:
                bins.append(budget - n)
                bin_ids.append(len(bins) - 1)
            remaining.append(n)
        pdf["bin_id"] = bin_ids
        pdf["used_tokens"] = remaining
        return pdf[["doc_id", "pack_group", "bin_id", "used_tokens"]]

    return docs.groupBy("pack_group").applyInPandas(
        pack, schema="doc_id long, pack_group long, bin_id int, used_tokens int"
    )


@register(
    "dq_report",
    oracle="""
    SELECT 'orders' AS tbl, 'rowcount' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS observed,
           COUNT(*) > 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'orders', 'null_custkey',
           CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT),
           COUNT(*) FILTER (WHERE o_custkey IS NULL) = 0
    FROM orders
    UNION ALL
    SELECT 'orders', 'orphan_orders',
           CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
    FROM orders o WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem', 'negative_price',
           CAST(COUNT(*) FILTER (WHERE l_extendedprice < 0) AS BIGINT),
           COUNT(*) FILTER (WHERE l_extendedprice < 0) = 0
    FROM lineitem
    """,
    tags=("quality",),
)
def dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: row counts, null checks, referential integrity
    (orphan orders), value-domain checks — one DataFrame of receipts,
    the machine-readable form of the reference's implicit trust in its
    sources. Each check is an independent lazy plan; the union executes
    them in one job."""
    t = Tables(spark, sf_dir)
    orders, customer, lineitem = t.orders, t.customer, t.lineitem

    def row(tbl: str, check: str, observed: F.Column, passed: F.Column, src: DataFrame):
        return src.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(check).alias("check_name"),
            observed.cast("long").alias("observed"),
            passed.alias("passed"),
        )

    # ALL THREE orders checks ride one per-custkey count table: the
    # orphan anti-join shuffles (key, n) pre-aggregated rows instead of
    # raw orders rows (same shape as fk_integrity_audit's orders edge).
    # NULL custkeys never match the anti-join condition, so they count
    # as orphans — exactly the row-level anti-join's semantics.
    per_cust = orders.groupBy(F.col("o_custkey").alias("__ck")).agg(F.count(F.lit(1)).alias("__n"))
    zero = F.lit(0).cast("long")
    tot = per_cust.agg(
        F.coalesce(F.sum("__n"), zero).alias("_n"),
        F.coalesce(
            F.sum(F.when(F.col("__ck").isNull(), F.col("__n")).otherwise(F.lit(0))),
            zero,
        ).alias("_nn"),
    )
    orph = per_cust.join(
        customer.select("c_custkey"), F.col("__ck") == F.col("c_custkey"), "left_anti"
    ).agg(F.coalesce(F.sum("__n"), zero).alias("_no"))
    both = (
        tot.crossJoin(orph)
        .selectExpr(
            "stack(3,"
            " 'rowcount', CAST(_n AS LONG), _n > 0,"
            " 'null_custkey', CAST(_nn AS LONG), _nn = 0,"
            " 'orphan_orders', CAST(_no AS LONG), _no = 0"
            ") AS (check_name, observed, passed)"
        )
        .select(F.lit("orders").alias("tbl"), "check_name", "observed", "passed")
    )
    neg = row(
        "lineitem",
        "negative_price",
        F.count_if(F.col("l_extendedprice") < 0),
        F.count_if(F.col("l_extendedprice") < 0) == 0,
        lineitem,
    )
    return both.unionByName(neg)


@register(
    "mlprep_pipeline",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, text, len(string_split(text, ' ')) AS n_tokens
        FROM documents
        WHERE len(string_split(text, ' ')) >= 20
          AND CAST(len(list_distinct(string_split(LOWER(text), ' '))) AS DOUBLE)
              / len(string_split(text, ' ')) >= 0.3
    ),
    ex AS (
        SELECT MIN(doc_id) AS doc_id
        FROM q GROUP BY MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')))
    )
    SELECT q.doc_id, CAST(q.n_tokens AS INTEGER) AS n_tokens,
           CASE WHEN CAST(('0x' || substr(MD5('{_SEED}' || CAST(q.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
                THEN 'train' ELSE 'test' END AS split
    FROM q JOIN ex ON q.doc_id = ex.doc_id
    """,
    tags=("mlprep", "pipeline"),
)
def mlprep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data last mile as ONE lazy plan: quality gate (token
    count + unique-token ratio) → exact dedup keep-one → deterministic
    content-hash train/test split. Composes the individually-registered
    stages (text_quality / dedup_exact / split_train_test) the way a real
    corpus build chains them; Catalyst fuses the gate into the scan, the
    dedup is one fingerprint shuffle, and the split adds zero shuffles."""
    t = Tables(spark, sf_dir)
    text = F.col("text")
    tokens = F.split(text, " ")
    lower_tokens = F.split(F.lower(text), " ")
    gated = t.documents.filter(
        (F.size(tokens) >= 20)
        & (F.size(F.array_distinct(lower_tokens)).cast("double") / F.size(tokens) >= 0.3)
    ).select("doc_id", "text", F.size(tokens).alias("n_tokens"))
    fp = F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))
    keep = (
        gated.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    pct = _hash_pct(F.col("doc_id"), _SEED)
    return (
        gated.join(keep, "doc_id", "left_semi")
        .select(
            "doc_id",
            "n_tokens",
            F.when(pct < 80, "train").otherwise("test").alias("split"),
        )
    )


@register(
    "mlprep_kfold",
    oracle=f"""
    WITH folds AS (
      SELECT doc_id, n_chars,
             CAST(CAST(('0x' || substr(MD5('kfold-' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS INT) AS fold
      FROM documents
    )
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc, CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM folds GROUP BY fold
    """,
    tags=("mlprep", "cv", "split"),
)
def mlprep_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment by content hash: fold(doc) is a
    pure function of the key, so folds are stable across engines,
    partitionings, and incremental corpus growth (a new doc never moves
    an old one — randomSplit can't promise any of that).  Emits per-fold
    summary stats; the row-level assignment is the same expression
    train/eval jobs filter on.  Zero-shuffle assignment + one exchange
    for the summary."""
    t = Tables(spark, sf_dir)
    fold = (_hash_pct(F.col("doc_id"), "kfold-") % 5).cast("int")
    return (
        t.documents.select("doc_id", "n_chars", fold.alias("fold"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@register(
    "mlprep_rebalance",
    oracle="""
    WITH counts AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    target AS (SELECT MAX(n) AS t FROM counts),
    reps AS (
      SELECT c.lang, CAST(FLOOR(t.t / c.n) AS BIGINT) AS n_copies
      FROM counts c CROSS JOIN target t
    )
    SELECT d.doc_id, d.lang,
           CAST(unnest(generate_series(1, r.n_copies)) AS BIGINT) AS copy_idx
    FROM documents d JOIN reps r USING (lang)
    """,
    tags=("mlprep", "rebalance", "sampling"),
)
def mlprep_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class rebalancing by deterministic oversampling: each language is
    replicated floor(max_class/n_class) times toward the majority-class
    count — explode(sequence(1, n_copies)) materializes the copies with a
    copy index (downstream shuffling separates them).  No RNG: the same
    corpus always yields the same mixture.  The per-class factor table is
    tiny (one row per class) and broadcast back; replication itself is a
    narrow map — at 100 TB output volume is the only cost, which is the
    point of the operation."""
    t = Tables(spark, sf_dir)
    counts = t.documents.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    target = counts.agg(F.max("n").alias("t"))
    reps = counts.crossJoin(target).select(
        "lang", F.floor(F.col("t") / F.col("n")).cast("long").alias("n_copies")
    )
    return (
        t.documents.join(reps, "lang")
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_copies"))).alias("copy_idx"),
        )
    )


_N_SHARDS = 16


@register(
    "shard_assignment",
    oracle=f"""
    WITH sharded AS (
        SELECT doc_id, n_chars,
               CAST(('0x' || substr(MD5('shard-' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % {_N_SHARDS} AS shard
        FROM documents
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM sharded
    GROUP BY shard
    """,
    tags=("mlprep", "sharding"),
)
def shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic output sharding: every document hashes to one of N
    shards (content hash, not round-robin — reproducible across reruns
    and insensitive to input order/partitioning), reported as per-shard
    balance stats. This is the "write the corpus as N independent,
    balanced training shards" step; the writer form is
    ``df.repartition(N, shard).write`` — one shuffle on the shard key —
    and the hash guarantees the same doc always lands in the same shard
    so shard-level dedup/resume stays valid. The stats here aggregate
    map-side (one exchange of N×partitions cells) and oracle-check the
    balance: uniform hash → shards within a few % of each other."""
    t = Tables(spark, sf_dir)
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard-"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % _N_SHARDS
    )
    return (
        t.documents.select("doc_id", "n_chars", shard.alias("shard"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


_MIX_ALPHA = 0.7  # temperature exponent: p_i ∝ n_i^alpha flattens big sources


def _quantized_temp_weight(n_col: str = "n_docs") -> F.Column:
    """n^alpha as the cross-engine-safe weight: POW is a libm call whose
    last ulp can differ between engines, so the raw weight is quantized
    to DECIMAL(18,6) BEFORE any cross-engine arithmetic (see
    mix_temperature_weights' docstring for why a direct cast, not
    ROUND). Shared by mix_temperature_weights and
    corpus_token_budget_plan so the determinism doctrine lives once."""
    return (
        F.pow(F.col(n_col).cast("double"), F.lit(_MIX_ALPHA)).cast("decimal(18,6)")
    )


_TEMP_W_SQL = f"CAST(POW(CAST(n_docs AS DOUBLE), {_MIX_ALPHA}) AS DECIMAL(18,6))"


@register(
    "mix_temperature_weights",
    oracle=f"""
    WITH counts AS (
        SELECT source, lang, COUNT(*) AS n_docs
        FROM documents GROUP BY source, lang
    ),
    powed AS (
        SELECT source, lang, n_docs,
               {_TEMP_W_SQL} AS w_raw_d
        FROM counts
    )
    SELECT source, lang, n_docs, CAST(w_raw_d AS DOUBLE) AS w_raw,
           CAST(w_raw_d AS DOUBLE) / CAST(SUM(w_raw_d) OVER () AS DOUBLE)
               AS p_sample
    FROM powed
    """,
    tags=("mlprep", "mixing", "temperature"),
)
def mix_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture weights over (source, lang) strata:
    p_i ∝ n_i^alpha with alpha=0.7 — the standard flattening that keeps
    big web crawls from drowning small high-quality sources in an LLM
    pretraining mix. One map-side-combinable count per stratum, then the
    normalization constant via an unpartitioned window over the tiny
    strata table (|sources|×|langs| rows — the window never sees corpus-
    sized data). POW is a libm call whose last ulp can differ across
    engines, so the raw weight is quantized to DECIMAL(18,6) BEFORE the
    normalizing division — a direct double→decimal cast on both sides,
    not ROUND, because Spark's ROUND (exact BigDecimal HALF_UP) and
    DuckDB's ROUND (scaled-float) can disagree on 6th-decimal ties —
    and the normalizer sums those quantized weights as exact DECIMAL —
    a float sum's ordering is engine-dependent and diverged in the last
    ulp at sf0.1 — leaving one bit-identical IEEE division per row."""
    t = Tables(spark, sf_dir)
    counts = t.documents.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    powed = counts.select(
        "source",
        "lang",
        "n_docs",
        _quantized_temp_weight().alias("w_raw_d"),
    )
    w = Window.partitionBy()
    # the normalizer sums the quantized weights as exact DECIMAL (order-
    # insensitive) and casts to double ONCE: a float SUM's ordering is
    # engine/partitioning-dependent and diverges in the last ulp once
    # there are enough strata (seen at sf0.1)
    norm = F.sum(F.col("w_raw_d")).over(w).cast("double")
    w_raw = F.col("w_raw_d").cast("double")
    return powed.select(
        "source",
        "lang",
        "n_docs",
        w_raw.alias("w_raw"),
        (w_raw / norm).alias("p_sample"),
    )


_DRIFT_CUT = "2024-01-16 00:00:00"


@register(
    "dq_drift",
    oracle=f"""
    WITH counts AS (
        SELECT event_type,
               COUNT(*) FILTER (WHERE ts <  TIMESTAMP '{_DRIFT_CUT}') AS n_a,
               COUNT(*) FILTER (WHERE ts >= TIMESTAMP '{_DRIFT_CUT}') AS n_b
        FROM events GROUP BY event_type
    ),
    tot AS (
        SELECT event_type, n_a, n_b,
               SUM(n_a) OVER () AS na_tot, SUM(n_b) OVER () AS nb_tot
        FROM counts
    ),
    num AS (
        SELECT *,
               ABS(CAST(n_a AS DECIMAL(18,0)) * CAST(nb_tot AS DECIMAL(18,0))
                   - CAST(n_b AS DECIMAL(18,0)) * CAST(na_tot AS DECIMAL(18,0))) AS nm
        FROM tot
    )
    SELECT event_type, n_a, n_b,
           CAST(n_a AS DOUBLE) / NULLIF(CAST(na_tot AS DOUBLE), 0) AS share_a,
           CAST(n_b AS DOUBLE) / NULLIF(CAST(nb_tot AS DOUBLE), 0) AS share_b,
           CAST(CAST(SUM(nm) OVER () AS DECIMAL(38,0)) AS DOUBLE)
               / NULLIF(2.0 * CAST(na_tot AS DOUBLE) * CAST(nb_tot AS DOUBLE), 0) AS tv_dist
    FROM num
    """,
    tags=("mlprep", "dq", "drift"),
)
def dq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between two ingest windows: per
    event_type counts and shares for days 1-15 vs 16-30, plus the
    corpus-level total-variation distance 0.5 * sum|p_a - p_b| — the
    gate a training pipeline runs between crawl batches before mixing
    a new dump in. TV instead of KL/PSI on purpose: no logarithm, so
    the whole statistic stays inside exact arithmetic — the per-type
    numerator |n_a*N_b - n_b*N_a| and its sum are DECIMAL (order-
    insensitive, overflow-safe to ~1e18-row windows), and the only
    float ops are single IEEE divisions at the output edge, identical
    in any engine. Plan: one scan, one map-side-combinable shuffle on
    event_type, then two unpartitioned windows over the |event types|-
    row result (never corpus-sized data — same shape as
    mix_temperature_weights)."""
    t = Tables(spark, sf_dir)
    cut = F.lit(_DRIFT_CUT.split(" ")[0]).cast("timestamp_ntz")
    counts = t.events.groupBy("event_type").agg(
        F.count_if(F.col("ts") < cut).alias("n_a"),
        F.count_if(F.col("ts") >= cut).alias("n_b"),
    )
    w = Window.partitionBy()
    d18 = lambda c: F.col(c).cast("decimal(18,0)")  # noqa: E731
    tot = counts.select(
        "event_type",
        "n_a",
        "n_b",
        F.sum("n_a").over(w).alias("na_tot"),
        F.sum("n_b").over(w).alias("nb_tot"),
    )
    num = tot.withColumn(
        "nm", F.abs(d18("n_a") * d18("nb_tot") - d18("n_b") * d18("na_tot"))
    )
    return num.select(
        "event_type",
        "n_a",
        "n_b",
        # NULLIF on every denominator: an empty window (all events on one
        # side of the drift cut) must yield NULL on both engines — ANSI
        # Spark raises on /0 and DuckDB gives Inf/NaN otherwise
        (
            F.col("n_a").cast("double")
            / F.nullif(F.col("na_tot").cast("double"), F.lit(0.0))
        ).alias("share_a"),
        (
            F.col("n_b").cast("double")
            / F.nullif(F.col("nb_tot").cast("double"), F.lit(0.0))
        ).alias("share_b"),
        (
            F.sum("nm").over(w).cast("decimal(38,0)").cast("double")
            / F.nullif(
                F.lit(2.0)
                * F.col("na_tot").cast("double")
                * F.col("nb_tot").cast("double"),
                F.lit(0.0),
            )
        ).alias("tv_dist"),
    )


from data_bridge_spark.operators.dedup import (  # noqa: E402
    _bands_sql,
    _star_edges_sql,
    _unrolled_cc_sql,
)


@register(
    "split_leakage_free",
    oracle=f"""
    WITH {_bands_sql()},
    {_star_edges_sql()},
    {_unrolled_cc_sql("documents")}
    SELECT doc_id, label AS cluster_label,
           CASE WHEN CAST(('0x' || substr(MD5('{_SEED}' || CAST(label AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
                THEN 'train' ELSE 'test' END AS split
    FROM lbl
    UNION ALL
    SELECT -1, -1, 'NOT_CONVERGED' FROM not_converged WHERE n > 0
    """,
    tags=("mlprep", "split", "dedup"),
)
def split_leakage_free(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/test split: assign each document's whole
    near-duplicate CLUSTER (connected component of the MinHash-LSH
    candidate graph, dedup_clusters' labels) to a split by hashing the
    cluster label — so a test document can never have a near-duplicate
    in train. Plain per-doc hash splits (split_train_test) leak: two
    near-identical docs hash independently and straddle the boundary,
    inflating eval scores — the standard contamination failure this
    operator exists to close at corpus scale.

    Plan shape: the CC label propagation (same iterative joins as
    dedup_clusters, O(diameter) bounded rounds, checkpointed), then one
    hash projection — assignment is a pure function of (seed, label),
    so it is stable across engines, re-runs, and partitioning, and an
    incrementally added doc joins its cluster's existing side. Oracle:
    the K-unrolled min-label propagation with the not_converged poison
    witness (same proved-fixpoint pattern as dedup_clusters)."""
    from data_bridge_spark.operators.dedup import _lsh_cc_labels

    docs = Tables(spark, sf_dir).documents
    labels = _lsh_cc_labels(docs)
    pct = _hash_pct(F.col("label"), _SEED)
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_label"),
        F.when(pct < 80, "train").otherwise("test").alias("split"),
    )




@register(
    "sample_importance",
    oracle=f"""
    SELECT doc_id, n_chars,
           LEAST(1.0, CAST(n_chars AS DOUBLE) / 400.0) AS keep_p
    FROM documents
    WHERE CAST(CAST(('0x' || substr(MD5('importance-v1' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS DOUBLE)
          < LEAST(1.0, CAST(n_chars AS DOUBLE) / 400.0) * 100.0
    """,
    tags=("mlprep", "sample", "importance"),
)
def sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance-weighted downsampling: each doc is kept
    with probability proportional to a per-doc weight (here a capped
    length score, LEAST(1, n_chars/400) — substitute any quality model
    score), decided by comparing the doc's content-hash percentile to
    its own weight. The quality-weighted Bernoulli every curation
    pipeline runs ("keep long/high-quality docs, thin the rest") — but
    with zero RNG: the decision is a pure function of (seed, doc_id,
    weight), so re-runs, retries, engines, and partitionings all keep
    the SAME docs, and an incrementally added doc's fate never depends
    on corpus order (randomSplit/rand() give none of this).

    Plan shape: per-row hash + compare, zero shuffles, fully
    whole-stage-codegen; the weight expression and the threshold
    comparison are IEEE ops on exact integers in both engines."""
    t = Tables(spark, sf_dir)
    w = F.least(F.lit(1.0), F.col("n_chars").cast("double") / F.lit(400.0))
    pct = _hash_pct(F.col("doc_id"), "importance-v1").cast("double")
    return t.documents.where(pct < w * 100.0).select(
        "doc_id", "n_chars", w.alias("keep_p")
    )


_BUDGET_TOKENS = 1_000_000  # planning target for the quota report


@register(
    "corpus_token_budget_plan",
    oracle=f"""
    WITH cells AS (
        SELECT source,
               COUNT(*) AS n_docs,
               SUM(len(string_split(text, ' '))) AS n_tokens
        FROM documents GROUP BY source
    ),
    powed AS (
        SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
               {_TEMP_W_SQL} AS w_d
        FROM cells
    )
    SELECT source, n_docs, n_tokens,
           CAST(w_d AS DOUBLE) / CAST(SUM(w_d) OVER () AS DOUBLE) AS p_mix,
           CAST(FLOOR(
               {_BUDGET_TOKENS} * (CAST(w_d AS DOUBLE) / CAST(SUM(w_d) OVER () AS DOUBLE))
               / (CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))
           ) AS BIGINT) AS quota_docs,
           CAST(FLOOR(
               {_BUDGET_TOKENS} * (CAST(w_d AS DOUBLE) / CAST(SUM(w_d) OVER () AS DOUBLE))
               / (CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))
           ) AS BIGINT) > n_docs AS needs_repeat
    FROM powed
    """,
    tags=("corpus", "mlprep", "planning"),
)
def corpus_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget plan: turn temperature mixture weights
    (mix_temperature_weights' n^alpha flattening, per source) plus a
    global token budget into per-source DOCUMENT quotas — the planning
    artifact a pretraining run materializes before sampling (quota =
    budget·p_mix / avg-tokens-per-doc, with a needs_repeat flag when a
    small source's quota exceeds its corpus — the "epochs over
    high-quality sources" signal). corpus_quota_sample then materializes
    a quota with hash-order determinism; this op computes WHAT the
    quotas should be.

    Determinism: same doctrine as mix_temperature_weights — the one
    libm call (POW) is quantized to DECIMAL(18,6) before any
    cross-engine arithmetic, the normalizer sums exact decimals, and
    everything after is IEEE divisions of exact counts in a fixed
    expression tree. One token-count shuffle; the window runs on the
    |sources|-row cell table."""
    t = Tables(spark, sf_dir)
    cells = t.documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    )
    powed = cells.select(
        "source", "n_docs", F.col("n_tokens").cast("bigint").alias("n_tokens"),
        _quantized_temp_weight().alias("w_d"),
    )
    p_mix = F.col("w_d").cast("double") / F.sum("w_d").over(Window.partitionBy()).cast("double")
    avg_tok = F.col("n_tokens").cast("double") / F.col("n_docs").cast("double")
    quota = F.floor(F.lit(float(_BUDGET_TOKENS)) * p_mix / avg_tok).cast("bigint")
    return powed.select(
        "source", "n_docs", "n_tokens",
        p_mix.alias("p_mix"),
        quota.alias("quota_docs"),
        (quota > F.col("n_docs")).alias("needs_repeat"),
    )


@register(
    "mlprep_near_dup_weights",
    oracle=None,  # placeholder replaced below by a module-level re-registration
    tags=("mlprep", "dedup", "weights"),
)
def mlprep_near_dup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: instead of DROPPING near-duplicates (dedup_pipeline's
    keep-one), DOWN-WEIGHT them — every document keeps weight
    1/|its near-dup cluster|, so each distinct content contributes unit
    mass to the training mix regardless of how many near-copies exist.
    The modern alternative to hard dedup when duplicates carry signal
    (popularity) but must not dominate the loss.

    Plan: the same LSH -> connected-components labels as dedup_clusters
    (`_lsh_cc_labels` — iterative min-label propagation, O(diameter)
    rounds, per-round lineage cuts), then cluster_size =
    `COUNT(*) OVER (PARTITION BY label)` — one exchange on label (r12;
    the former groupBy+join-back sort-merged the label table against its
    own aggregate: agg exchange + two join sorts for the same integer
    count the window computes in one pass). weight = 1.0/n is one IEEE
    division of identical integers — bit-identical across engines. The
    oracle rides the same star-edge unrolled-CC CTE chain with the
    fixpoint witness (non-convergence poisons the compare rather than
    passing a truncated closure)."""
    from data_bridge_spark.operators.dedup import _lsh_cc_labels

    docs = Tables(spark, sf_dir).documents
    labels = _lsh_cc_labels(docs)
    return labels.select(
        "doc_id",
        F.count(F.lit(1)).over(Window.partitionBy("label")).alias("cluster_size"),
    ).select(
        "doc_id",
        "cluster_size",
        (F.lit(1.0) / F.col("cluster_size")).alias("weight"),
    )


def _near_dup_weights_oracle() -> str:
    from data_bridge_spark.operators.dedup import (
        _bands_sql,
        _star_edges_sql,
        _unrolled_cc_sql,
    )

    return f"""
    WITH {_bands_sql()},
    {_star_edges_sql()},
    {_unrolled_cc_sql("documents")},
    sizes AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM lbl GROUP BY label
    )
    SELECT l.doc_id, s.cluster_size, 1.0 / s.cluster_size AS weight
    FROM lbl l JOIN sizes s USING (label)
    UNION ALL
    SELECT -1, n, -1.0 FROM not_converged WHERE n > 0
    """


# late-bind the oracle (the CC SQL helpers live in dedup.py; importing
# them at module top would be circular — dedup imports nothing from
# mlprep, but registration order in registry._MODULES loads dedup first,
# so binding here is safe and keeps one source of truth for the CTEs)
from data_bridge_spark.registry import REGISTRY as _REG  # noqa: E402
import dataclasses as _dc  # noqa: E402

_REG["mlprep_near_dup_weights"] = _dc.replace(
    _REG["mlprep_near_dup_weights"], oracle=_near_dup_weights_oracle()
)
