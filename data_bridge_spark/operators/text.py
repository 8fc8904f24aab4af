"""Text-analysis operators for training-data pipelines (SURVEY.md §2C5).

All pure JVM expressions over `documents.text` — tokenization, counting,
quality scoring, language heuristics, fingerprinting. Per-row work with no
shuffle: scales linearly with executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.registry import register
from data_bridge_spark.session import fence

_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")
_SW_SQL = "', '".join(_STOPWORDS)


@register(
    "text_tokens",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS INTEGER) AS n_chars_actual,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split(LOWER(text), ' '))) AS INTEGER) AS n_unique,
           CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_token_len
    FROM documents
    """,
    tags=("text",),
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokenization, unique-token count, average
    token length — the basic stats a data-quality pass computes per doc."""
    t = Tables(spark, sf_dir)
    text = F.col("text")
    tokens = F.split(text, " ")
    return t.documents.select(
        "doc_id",
        F.length(text).alias("n_chars_actual"),
        F.size(tokens).alias("n_tokens"),
        F.size(F.array_distinct(F.split(F.lower(text), " "))).alias("n_unique"),
        (F.length(F.regexp_replace(text, " ", "")).cast("double") / F.size(tokens)).alias(
            "avg_token_len"
        ),
    )


@register(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(string_split(LOWER(text), ' '),
                    w -> w IN ('{_SW_SQL}'))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stopword_ratio,
           CAST(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z ]', '', 'g')) AS DOUBLE)
               / LENGTH(text) AS symbol_ratio,
           CAST(len(list_distinct(string_split(LOWER(text), ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS unique_ratio
    FROM documents
    WHERE LENGTH(text) > 0
    """,
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio (fluency proxy), symbol ratio
    (noise proxy), unique-token ratio (repetition proxy) — the standard
    cheap filters run before expensive dedup/training."""
    t = Tables(spark, sf_dir)
    text = F.col("text")
    tokens = F.split(text, " ")
    lower_tokens = F.split(F.lower(text), " ")
    sw = F.size(F.filter(lower_tokens, lambda w: w.isin(*_STOPWORDS)))
    return t.documents.filter(F.length(text) > 0).select(
        "doc_id",
        (sw.cast("double") / F.size(tokens)).alias("stopword_ratio"),
        (
            F.length(F.regexp_replace(text, "[a-zA-Z ]", "")).cast("double") / F.length(text)
        ).alias("symbol_ratio"),
        (F.size(F.array_distinct(lower_tokens)).cast("double") / F.size(tokens)).alias(
            "unique_ratio"
        ),
    )


# tiny per-language marker lexicons for the n-gram/stopword heuristic
_LANG_MARKERS = {
    "en": ("the", "and", "is"),
    "es": ("el", "la", "que"),
    "fr": ("le", "la", "est"),
    "de": ("der", "die", "und"),
}


def _lang_score_sql(lang: str) -> str:
    words = "', '".join(_LANG_MARKERS[lang])
    return f"len(list_filter(string_split(LOWER(text), ' '), w -> w IN ('{words}')))"


@register(
    "text_lang",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           CASE
             WHEN {_lang_score_sql("es")} > {_lang_score_sql("en")} THEN 'es'
             WHEN {_lang_score_sql("fr")} > {_lang_score_sql("en")} THEN 'fr'
             WHEN {_lang_score_sql("de")} > {_lang_score_sql("en")} THEN 'de'
             ELSE 'en'
           END AS predicted_lang
    FROM documents
    """,
    tags=("text", "langid"),
)
def text_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: count per-language marker tokens, pick the
    best-scoring language (deterministic tie order es→fr→de→en). A real
    pipeline swaps the lexicons for char-n-gram profiles; the plan shape —
    per-row scoring, no shuffle — is identical."""
    t = Tables(spark, sf_dir)
    lower_tokens = F.split(F.lower(F.col("text")), " ")

    def score(lang: str) -> F.Column:
        return F.size(F.filter(lower_tokens, lambda w: w.isin(*_LANG_MARKERS[lang])))

    pred = (
        F.when(score("es") > score("en"), "es")
        .when(score("fr") > score("en"), "fr")
        .when(score("de") > score("en"), "de")
        .otherwise("en")
    )
    return t.documents.select(
        "doc_id", F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang")
    )


@register(
    "text_bpe_tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
                AS INTEGER) AS n_bpe_tokens,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens
    FROM documents
    """,
    tags=("text", "tokens"),
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: a GPT-style pre-tokenizer regex (letter
    runs | digit runs | single symbols) vs plain whitespace counting —
    the cheap token-budget estimator for training-data accounting."""
    t = Tables(spark, sf_dir)
    pattern = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"
    return t.documents.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pattern), F.lit(0))).alias("n_bpe_tokens"),
        F.size(F.split(F.col("text"), " ")).alias("n_ws_tokens"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g'))) AS content_fp,
           MD5(array_to_string(list_sort(list_distinct(
               string_split(LOWER(text), ' '))), ' ')) AS bow_fp
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: a normalized-content hash (exact-dup key)
    and a sorted bag-of-words hash (order-insensitive near-dup key). Both
    are join/group keys downstream — 128 bits per doc regardless of size."""
    t = Tables(spark, sf_dir)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    bow = F.array_join(F.array_sort(F.array_distinct(F.split(F.lower(F.col("text")), " "))), " ")
    return t.documents.select(
        "doc_id",
        F.md5(norm).alias("content_fp"),
        F.md5(bow).alias("bow_fp"),
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"[0-9]{3}-[0-9]{4}"


@register(
    "text_pii_mask",
    # the corpus itself is letters+spaces only, so a deterministic contact
    # line (synthesized from doc_id) is appended first — the masking then
    # provably rewrites real matches rather than no-op'ing. Patterns stay
    # in the Java-regex ∩ RE2 common subset so both engines agree.
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com or 555-'
                    || CAST(1000 + doc_id % 9000 AS VARCHAR) AS raw
        FROM documents
    )
    SELECT doc_id,
           REGEXP_REPLACE(REGEXP_REPLACE(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS masked,
           CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS INTEGER) AS n_phones
    FROM d
    """,
    tags=("text", "pii"),
)
def text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: mask emails and phone-shaped tokens, count the
    hits per document — the compliance scrub every training corpus runs
    before tokenization. Pure JVM regexp expressions (replace + extract),
    zero shuffle, linear in bytes scanned."""
    t = Tables(spark, sf_dir)
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 555-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
    )
    masked = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return t.documents.select(
        "doc_id",
        masked.alias("masked"),
        F.size(F.regexp_extract_all(raw, F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(_PHONE_RE), F.lit(0))).alias("n_phones"),
    )


@register(
    "text_bigram_lm",
    oracle="""
    WITH w AS (
      SELECT string_split(LOWER(text), ' ') AS ws FROM documents
    ),
    ix AS (
      SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM w
    ),
    pairs AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2 FROM ix
    ),
    cnt AS (
      SELECT w1, w2, COUNT(*) AS n_pair FROM pairs GROUP BY w1, w2
    ),
    tot AS (
      SELECT w1, SUM(n_pair) AS n_first FROM cnt GROUP BY w1
    )
    SELECT c.w1, c.w2, CAST(c.n_pair AS BIGINT) AS n_pair,
           CAST(c.n_pair AS DOUBLE) / CAST(t.n_first AS DOUBLE) AS cond_p
    FROM cnt c JOIN tot t USING (w1)
    ORDER BY n_pair DESC, c.w1, c.w2 LIMIT 50
    """,
    tags=("text", "ngram", "lm"),
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model table: count(w1,w2) and the
    conditional probability P(w2|w1), top-50 bigrams with a total
    tiebreak.  Bigrams come from zipping each token array with its tail
    (slice+arrays_zip — JVM expressions, no shuffle until the count);
    the count is one map-side-combinable exchange on (w1,w2) plus a
    smaller one on w1 for the denominator, joined back.  Probabilities
    are single integer→double divisions, so they hash exactly.  At
    100 TB this is the n-gram statistics job behind KenLM-style filtering
    — same shape, vocabulary-bounded output."""
    t = Tables(spark, sf_dir)
    ws = F.split(F.lower(F.col("text")), " ")
    pairs = (
        t.documents.select(
            F.explode(
                F.arrays_zip(
                    F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))).alias("w1"),
                    F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))).alias("w2"),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    cnt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    # r12: the denominator SUM(n_pair) GROUP BY w1 is a window over the
    # count table, not an aggregate-and-join-back — one exchange on w1
    # instead of (aggregate exchange + join re-exchange), and the cnt
    # subtree is no longer duplicated into the join's build side. The
    # n_first value is the identical exact integer sum.
    from pyspark.sql import Window as W

    n_first = F.sum("n_pair").over(W.partitionBy("w1"))
    return (
        cnt.select(
            "w1",
            "w2",
            "n_pair",
            (F.col("n_pair").cast("double") / n_first.cast("double")).alias("cond_p"),
        )
        .orderBy(F.desc("n_pair"), "w1", "w2")
        .limit(50)
    )


@register(
    "text_lm_score",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(LOWER(text), ' ') AS ws FROM documents
    ),
    ix AS (
      SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM w
    ),
    pairs AS (
      SELECT doc_id, i, ws[i] AS w1, ws[i + 1] AS w2 FROM ix
    ),
    cnt AS (
      SELECT w1, w2, COUNT(*) AS n_pair FROM pairs GROUP BY w1, w2
    ),
    tot AS (
      SELECT w1, SUM(n_pair) AS n_first FROM cnt GROUP BY w1
    ),
    lm AS (
      SELECT w1, w2, CAST(n_pair AS DOUBLE) / CAST(n_first AS DOUBLE) AS p
      FROM cnt JOIN tot USING (w1)
    ),
    scored AS (
      SELECT d.doc_id, d.i, lm.p
      FROM pairs d JOIN lm ON d.w1 = lm.w1 AND d.w2 = lm.w2
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           list_reduce(list(p ORDER BY i), (acc, x) -> acc + x) / COUNT(*) AS avg_p
    FROM scored
    GROUP BY doc_id
    """,
    tags=("text", "lm", "quality", "llm"),
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring: each document's average bigram
    conditional probability under the corpus's own bigram LM — the
    KenLM-style model-based filter (low score = unusual/garbled word
    sequences) that complements the surface heuristics in text_quality.
    Three-stage plan: (1) build the LM = P(w2|w1) table (two counted
    shuffles, vocabulary-bounded output — text_bigram_lm's machinery,
    un-truncated); (2) equi-join every positioned document bigram
    against it on (w1, w2) — LM side stays distributed, AQE broadcasts
    it if the vocabulary is small; (3) fold each doc's probabilities in
    POSITION order (sorted-array fold, same bit-deterministic
    sequential-sum pattern as ts_ewma) and divide by the bigram count.
    Probability mean, not log-perplexity, on purpose: log is a libm
    call whose last ulp differs across engines; the mean ranks
    documents the same way for filtering purposes."""
    t = Tables(spark, sf_dir)
    ws = F.split(F.lower(F.col("text")), " ")
    n1 = F.greatest(F.size(ws) - 1, F.lit(0))
    pairs = (
        t.documents.select(
            "doc_id",
            F.posexplode(
                F.arrays_zip(
                    F.slice(ws, 1, n1).alias("w1"), F.slice(ws, 2, n1).alias("w2")
                )
            ).alias("i", "pr"),
        )
        .select("doc_id", "i", F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
        # consumed twice (LM build + scoring join): checkpoint so the
        # scan+tokenize+explode runs once, same pattern as the LSH band
        # table (dedup.py); at cluster scale this becomes a persisted
        # signature/pair table (SCALE.md)
        .transform(fence)
    )
    cnt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    # r12: P(w2|w1) denominator via a window over the count table (one
    # w1 exchange) instead of aggregate-and-join-back — same exact
    # integer sum, one fewer exchange and no duplicated cnt subtree.
    from pyspark.sql import Window as W

    lm = cnt.select(
        "w1",
        "w2",
        (
            F.col("n_pair").cast("double")
            / F.sum("n_pair").over(W.partitionBy("w1")).cast("double")
        ).alias("p"),
    )
    # r13: SHUFFLE_HASH hint on the LM side (guide §3.1 — pick the
    # strategy deliberately). The LM is smaller than the bigram stream
    # but past the broadcast threshold, so the planner flapped between
    # SMJ and runtime conversions (the query's bench variance was the
    # suite's largest, 0.69-1.9 s); interleaved A/B (OPTIMIZATION_r13.md §8)
    # has SHJ at 1.29 s median vs 1.41 default, no sorts of either side.
    # An explicit broadcast measured faster still (0.92) but is a scale
    # killer: bigram vocabulary grows with the corpus (Heaps' law) and
    # would blow the 8 GB broadcast cap long before 100 TB, so the
    # distributed hash join is the deliberate choice.
    scored = pairs.join(lm.hint("shuffle_hash"), ["w1", "w2"])
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("i", "p"))), lambda s: s["p"]
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), vals.alias("vals"))
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.expr(
                    "aggregate(slice(vals, 2, size(vals) - 1), element_at(vals, 1),"
                    " (acc, x) -> acc + x)"
                )
                / F.col("n_bigrams")
            ).alias("avg_p"),
        )
    )


_LIFT_TOPK = 5
_LIFT_MIN_COUNT = 3


@register(
    "text_term_lift",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest(string_split(LOWER(text), ' ')) AS term
        FROM documents
    ),
    ts AS MATERIALIZED (
        SELECT source, term, COUNT(*) AS n_ts FROM toks GROUP BY source, term
    ),
    s AS (SELECT source, SUM(n_ts) AS n_s FROM ts GROUP BY source),
    t AS (SELECT term, SUM(n_ts) AS n_t FROM ts GROUP BY term),
    tot AS (SELECT SUM(n_ts) AS n FROM ts),
    scored AS (
        SELECT ts.source, ts.term, ts.n_ts,
               (CAST(ts.n_ts AS DOUBLE) / CAST(s.n_s AS DOUBLE))
                   / (CAST(t.n_t AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS lift,
               ROW_NUMBER() OVER (
                   PARTITION BY ts.source
                   ORDER BY (CAST(ts.n_ts AS DOUBLE) / CAST(s.n_s AS DOUBLE))
                            / (CAST(t.n_t AS DOUBLE) / CAST(tot.n AS DOUBLE)) DESC,
                            ts.term ASC
               ) AS rk
        FROM ts
        JOIN s USING (source)
        JOIN t USING (term)
        CROSS JOIN tot
        WHERE ts.n_ts >= {_LIFT_MIN_COUNT}
    )
    SELECT source, term, n_ts, lift, CAST(rk AS INTEGER) AS rk
    FROM scored WHERE rk <= {_LIFT_TOPK}
    """,
    tags=("text", "corpus"),
)
def text_term_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    f"""Most over-represented terms per source: lift = P(term | source) /
    P(term) over whitespace tokens — the corpus-contrast report behind
    "what is this crawl slice actually about" curation calls (the
    log-odds-with-prior family reduced to its ratio core: lift orders
    identically to log-lift, and avoiding the log keeps every score two
    divisions on exact integer counts — bit-identical across engines,
    per the no-libm doctrine; cf. text_tfidf's linear idf).

    Plan shape: one explode + (source, term) count shuffle — the only
    data-sized exchange; the three marginals (per-source, per-term,
    grand total) are map-side-combinable rollups of that count table,
    re-joined shuffle-on-term / broadcast; top-k runs per-source on the
    >= {_LIFT_MIN_COUNT}-count survivors. At 100 TB the (source, term)
    table is vocabulary-bounded per source, the same cardinality
    argument as text_bigram_lm's LM table."""
    t = Tables(spark, sf_dir)
    from pyspark.sql import Window as W

    toks = t.documents.select(
        "source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    )
    # r12: ts feeds four branches (s, tm, tot, scored) — without a
    # lineage fence each branch re-runs the explode + (source, term)
    # count shuffle (the only data-sized exchange in the query) from
    # scratch. Fence it once; it is vocabulary-bounded per source.
    ts = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n_ts")).transform(
        fence
    )
    s = ts.groupBy("source").agg(F.sum("n_ts").alias("n_s"))
    tm = ts.groupBy("term").agg(F.sum("n_ts").alias("n_t"))
    tot = ts.agg(F.sum("n_ts").alias("n"))
    lift = (F.col("n_ts").cast("double") / F.col("n_s").cast("double")) / (
        F.col("n_t").cast("double") / F.col("n").cast("double")
    )
    scored = (
        ts.where(F.col("n_ts") >= _LIFT_MIN_COUNT)
        .join(F.broadcast(s), "source")
        .join(tm, "term")
        .crossJoin(F.broadcast(tot))
        .withColumn("lift", lift)
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("source").orderBy(F.desc("lift"), F.asc("term"))
            ),
        )
    )
    return scored.where(F.col("rk") <= _LIFT_TOPK).select(
        "source", "term", "n_ts", "lift", "rk"
    )


_BOILER_MIN_DOCS = 10  # a trigram in >= this many docs of a source is boilerplate


@register(
    "text_boilerplate",
    oracle=f"""
    WITH tri AS (
      SELECT DISTINCT doc_id, source, unnest(list_transform(
               list_filter(list_zip(words, words[2:], words[3:]), s -> s[3] IS NOT NULL),
               s -> s[1] || ' ' || s[2] || ' ' || s[3])) AS shingle
      FROM (SELECT doc_id, source, string_split(LOWER(text), ' ') AS words FROM documents)
    ),
    common AS (
      SELECT source, shingle FROM tri
      GROUP BY source, shingle
      HAVING COUNT(*) >= {_BOILER_MIN_DOCS}
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM tri GROUP BY doc_id
    ),
    boiler AS (
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_boiler
      FROM tri t JOIN common c ON t.source = c.source AND t.shingle = c.shingle
      GROUP BY t.doc_id
    )
    SELECT p.doc_id, p.n_shingles,
           COALESCE(b.n_boiler, 0) AS n_boiler,
           CAST(COALESCE(b.n_boiler, 0) AS DOUBLE) / NULLIF(p.n_shingles, 0) AS boiler_frac
    FROM per_doc p LEFT JOIN boiler b USING (doc_id)
    """,
    tags=("text", "quality", "boilerplate", "mlprep"),
)
def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection, CCNet-style: a trigram occurring in >=
    _BOILER_MIN_DOCS distinct documents OF THE SAME SOURCE is boilerplate (nav bars,
    license headers, template chrome); each document reports its distinct
    trigram count, boilerplate count, and boilerplate fraction — the
    removal/filter signal upstream of dedup (boilerplate inflates
    near-dup similarity between unrelated pages).

    Plan: one tokenize+explode pass -> distinct (doc, source, shingle)
    grain; the common-shingle table is (source, shingle)-grained and
    vocabulary-bounded, so the flagging join is an equi-join AQE can
    broadcast; per-doc counts are map-side-combinable aggregates. The
    corpus is never joined to itself — boilerplate is a per-source
    frequency property, not a pairwise one."""
    t = Tables(spark, sf_dir)
    from data_bridge_spark.operators.corpus import _ngrams, _words

    # r12: tri feeds three branches (common, per_doc, boiler) — fence the
    # distinct (doc, source, shingle) grain so the tokenize+explode+
    # distinct shuffle runs once instead of three times.
    tri = t.documents.select(
        "doc_id", "source", F.explode(_ngrams(_words(F.col("text")), 3)).alias("shingle")
    ).distinct().transform(fence)
    common = (
        tri.groupBy("source", "shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= _BOILER_MIN_DOCS)
        .select("source", "shingle")
    )
    per_doc = tri.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    boiler = (
        tri.join(common, ["source", "shingle"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    return (
        per_doc.join(boiler, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_boiler"), F.lit(0)).alias("n_boiler"),
            (
                F.coalesce(F.col("n_boiler"), F.lit(0)).cast("double")
                / F.nullif(F.col("n_shingles"), F.lit(0))
            ).alias("boiler_frac"),
        )
    )
