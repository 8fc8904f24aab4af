"""Deduplication operators for LLM training-data pipelines (SURVEY.md §2C1-C2).

Scale design: every variant is expressed as hash-partitionable DataFrame
ops — group-bys on a fingerprint key and band-bucket self-joins — exactly
the shapes that shuffle cleanly at 100 TB. Hashes are md5 (available and
identical in Spark and DuckDB) so every stage — exact fingerprints,
minhash signatures, LSH band pairs, simhash bits, and the connected-
components keep-one (DuckDB recursive CTE) — is oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.registry import register
from data_bridge_spark.session import fence

# shared normalization: lowercase, collapse whitespace, trim.
def _norm(col: F.Column) -> F.Column:
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


_NORM_SQL = "TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g'))"


@register(
    "dedup_exact",
    oracle=f"""
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
           MD5({_NORM_SQL}) AS fp
    FROM documents
    GROUP BY MD5({_NORM_SQL})
    """,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on a normalized-content fingerprint, keep the
    smallest doc_id per group (deterministic representative — plain
    dropDuplicates keeps an arbitrary row, which can't be oracle-checked).
    One shuffle on the fingerprint; fingerprints are 128-bit so the
    group-by key is tiny regardless of document size."""
    t = Tables(spark, sf_dir)
    return (
        t.documents.select("doc_id", F.md5(_norm(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies", "fp")
    )


_N_HASHES = 16  # minhash signature length; default 2 bands x 8 rows
_BANDS = 2
# (bands, rows_per_band) is the LSH recall/precision dial: more bands of
# fewer rows -> higher recall, more candidates (match prob for Jaccard s
# is 1 - (1 - s^rows)^bands). Every helper below takes (n_hashes, bands)
# so a 4x4 or 8x2 banding is a call-site choice, not a code edit; the
# Spark and DuckDB derivations are generated from the same parameters
# (oracle-proven at 2x8 AND 4x4 — dedup_minhash_pairs / _4x4).


def _words(col: F.Column) -> F.Column:
    """The distinct normalized words of ``col``: the minhash shingle set."""
    return F.array_distinct(F.split(_norm(col), " "))


_WS = "_mh_words"  # column the word set is staged in before the minhashes


def _minhash_exprs(n_hashes: int = _N_HASHES) -> list[F.Column]:
    """k min-hashes over the word-set column ``_WS`` (unaliased):
    mh_j = min(md5(w#j)).

    The caller stages ``_words(text)`` as ``_WS`` in a prior select, so
    the normalize/split/distinct chain runs once per row, not once per
    hash: ``transform`` is a codegen fallback, so Catalyst cannot share
    that subexpression across the k ``transform`` calls itself (sf0.1, 4
    cores, median of 8: the 16-hash projection 1.01 s -> 0.63 s,
    signatures identical for all 5,000 docs).

    Built as SQL strings (one ``F.expr`` parse each) rather than the
    ``F.transform``/Python-lambda API: registering a higher-order
    function costs ~10 py4j round trips per hash, profiled at ~0.4 s of
    pure driver build time per query over the 16-hash signature (r12).
    The strings hold no backslash, so the parser's escape handling
    cannot change them."""
    return [
        F.expr(f"array_min(transform({_WS}, w -> md5(concat(w, '#{j}'))))")
        for j in range(n_hashes)
    ]


def _signatures(docs: DataFrame, *keep: str, n_hashes: int = _N_HASHES) -> DataFrame:
    """``keep`` columns of ``docs`` plus its ``mh_0..mh_{k-1}`` minhash
    signature over the ``text`` column."""
    return docs.select(*keep, _words(F.col("text")).alias(_WS)).select(
        *keep, *[e.alias(f"mh_{j}") for j, e in enumerate(_minhash_exprs(n_hashes))]
    )


def with_band_hash(docs: DataFrame, n_hashes: int = _N_HASHES, bands: int = _BANDS) -> DataFrame:
    """``docs`` plus ``band_hash``, one LSH band key (the first band of
    the signature, hashed, as in ``_band_array``): the bucket id used for
    streaming fuzzy dedup (streaming/windows.stream_dedup_fuzzy)."""
    first_band = _minhash_exprs(n_hashes)[: n_hashes // bands]
    return (
        docs.withColumn(_WS, _words(F.col("text")))
        .withColumn("band_hash", F.md5(F.concat_ws("|", *first_band)))
        .drop(_WS)
    )


def _minhash_sql_cols(n_hashes: int = _N_HASHES) -> str:
    words = f"list_distinct(string_split({_NORM_SQL}, ' '))"
    cols = [
        f"list_min(list_transform({words}, w -> MD5(w || '#{j}'))) AS mh_{j}"
        for j in range(n_hashes)
    ]
    return ",\n           ".join(cols)


def _bands_sql(src: str = "documents", n_hashes: int = _N_HASHES, bands: int = _BANDS) -> str:
    """DuckDB CTE text computing the same (band_idx, band_hash) rows the
    Spark side derives — signatures CTE + one SELECT per band."""
    rows_per_band = n_hashes // bands
    selects = []
    for b in range(bands):
        cols = ", ".join(f"mh_{b * rows_per_band + r}" for r in range(rows_per_band))
        selects.append(
            f"SELECT doc_id, {b} AS band_idx, MD5(CONCAT_WS('|', {cols})) AS band_hash FROM sig"
        )
    return (
        f"sig AS (\n        SELECT doc_id,\n           {_minhash_sql_cols(n_hashes)}\n        FROM {src}\n    ),\n"
        "    bands AS (\n        " + "\n        UNION ALL\n        ".join(selects) + "\n    )"
    )


def _star_edges_sql() -> str:
    """Per-bucket STAR `edges` CTE chain (expects a `bands` CTE in scope) —
    the scale-safe replacement for the all-pairs clique join the closure
    oracles used through round 6.  The clique form (`bands l JOIN bands r
    ON band ... AND l.doc_id <> r.doc_id`) is quadratic in the largest
    bucket: at sf10 the upscaled boilerplate bucket made the DISTINCT
    edge materialization spill DuckDB's temp storage past the disk
    (docs/SLICE_sf10_closure_r7.log, round 7).  A star over the same
    bucket member set — bucket-min hub ↔ each member, both directions —
    yields IDENTICAL connected components (hub connects every member:
    any in-bucket path a–b becomes a–hub–b), with O(|bands|) edges
    instead of O(Σ bucket²).  The clique≡star equivalence is a theorem,
    and it is also re-proven empirically on real data by
    tests/test_dedup.py::test_cc_oracle_star_equals_clique, which runs
    both edge constructions through the same unrolled closure in DuckDB
    and asserts identical cluster multisets — so the oracle still proves
    the Spark side's _BUCKET_CAP star guard lossless end-to-end."""
    return """hubs AS (
        SELECT band_idx, band_hash, MIN(doc_id) AS hub
        FROM bands GROUP BY band_idx, band_hash HAVING COUNT(*) > 1
    ),
    star AS (
        SELECT h.hub AS a, b.doc_id AS b
        FROM bands b JOIN hubs h USING (band_idx, band_hash)
        WHERE b.doc_id <> h.hub
    ),
    edges AS MATERIALIZED (
        SELECT a AS src, b AS dst FROM star
        UNION
        SELECT b AS src, a AS dst FROM star
    )"""


def _clique_edges_sql() -> str:
    """The pre-round-7 all-pairs clique `edges` CTE — kept ONLY for the
    equivalence test that proves the star form above computes identical
    components on real data.  Quadratic in the largest bucket; never use
    in a registered oracle."""
    return """edges AS MATERIALIZED (
        SELECT DISTINCT l.doc_id AS src, r.doc_id AS dst
        FROM bands l JOIN bands r
          ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
             AND l.doc_id <> r.doc_id
    )"""


# Oversized-bucket guard: an LSH bucket of b near-identical docs (mass
# boilerplate) expands to O(b²) candidate pairs — the one quadratic term
# in the pipeline (the sf0.1 corpus has a degenerate 1.8k-doc bucket →
# ~1.6M pairs from a single bucket; a 100 TB boilerplate-heavy corpus has
# worse). Above the cap we emit a STAR instead: bucket-min → each other
# member, O(b) edges. For connected-components dedup this is lossless —
# a clique and a star over the same member set have identical components
# — and for pair *verification* the lost in-bucket pairs are exactly the
# ones LSH already vouches for hardest (every member shares a full band
# with the hub). Recall trade-off documented in SCALE.md.
_BUCKET_CAP = 64

# Unrolled-closure depth for the connected-components oracles.  Measured
# CLIQUE-edge fixpoints were 5 iterations at sf0.01, 7 at sf0.1, 11 at
# sf1 (where depth 10 correctly fired the not_converged witness — a loud
# rowcount+poison mismatch, proving the guard).  Round 7 switched the
# oracle edge set to the per-bucket STAR form (_star_edges_sql), which
# computes identical components but roughly doubles propagation path
# lengths (a–b becomes a–hub–b), so the depth doubles too: 32 covers
# 2×(sf1's 11)+1 with room for sf10's deeper closure.  Each level is one
# join+group-by over the now-LINEAR edge set, so extra depth is cheap,
# and the oracle PROVES the cap is not binding via the witness rather
# than assuming it.
_CC_ORACLE_LEVELS = 32


def _band_array(n_hashes: int = _N_HASHES, bands: int = _BANDS) -> F.Column:
    """Array of per-band hashes over already-computed mh_* signature
    columns; index == band_idx. Single source of truth for the band-key
    derivation (_bands_long explodes it; dedup_incremental fences it)."""
    rows_per_band = n_hashes // bands
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)],
                )
            )
            for b in range(bands)
        ]
    )


def _bands_long(docs: DataFrame, n_hashes: int = _N_HASHES, bands: int = _BANDS) -> DataFrame:
    """(doc_id, band_idx, band_hash) — one row per doc per LSH band."""
    return _signatures(docs, "doc_id", n_hashes=n_hashes).select(
        "doc_id",
        F.posexplode(_band_array(n_hashes, bands)).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    cap: int = _BUCKET_CAP,
    n_hashes: int = _N_HASHES,
    bands: int = _BANDS,
) -> DataFrame:
    """Distinct LSH candidate pairs (id_a < id_b) with the oversized-
    bucket star guard.

    The band table is localCheckpoint'd after the bucket-stats window so
    the k minhashes and the window run once, not once per consumer; the
    per-bucket count/min share one shuffle on the band key. Small-bucket
    pairs are enumerated PER BUCKET from a sorted member array
    (r12 rewrite): the former small-bucket self-join re-shuffled the
    checkpointed band rows twice more (once per join side) and sort-
    merged them; grouping the <=cap survivors back into one array per
    bucket is a single re-shuffle of the same rows, and the i<j
    enumeration over the sorted array emits the identical (id_a < id_b)
    pair set — bounded by cap² rows per bucket, so the aggregation
    buffer stays small by construction. Oversized buckets NEVER pass
    through collect_list: the star guard still streams row-wise off the
    window stats (bmin ↔ member), which is what makes the mega-bucket
    case safe at 100 TB. Shared by dedup_minhash_pairs, the CC labeler,
    and operators/graph.py so the Spark side and every oracle derive
    edges from one definition."""
    from pyspark.sql import Window

    w = Window.partitionBy("band_idx", "band_hash")
    sized = (
        _bands_long(docs, n_hashes=n_hashes, bands=bands)
        .select(
            "doc_id",
            "band_idx",
            "band_hash",
            F.count(F.lit(1)).over(w).alias("bsz"),
            F.min("doc_id").over(w).alias("bmin"),
        )
        # r13: a cut, not persist — interleaved A/B (min-of-6, one
        # process, the tools/ab.py fence A/B) has the raw-block
        # localCheckpoint fence 1.11-1.13x faster here than the columnar
        # persist cache; the band table's consumers re-read it whole, so
        # the cache's column-batch encode/decode is pure overhead.
        .transform(fence, cut=True)
    )
    small = sized.filter(F.col("bsz") <= cap)
    members = small.groupBy("band_idx", "band_hash").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    pairs_small = members.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) ->"
                " transform(slice(ids, i + 2, size(ids)),"
                " b -> struct(a AS id_a, b AS id_b))))"
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    pairs_star = sized.filter(
        (F.col("bsz") > cap) & (F.col("doc_id") != F.col("bmin"))
    ).select(F.col("bmin").alias("id_a"), F.col("doc_id").alias("id_b"))
    return pairs_small.unionByName(pairs_star).distinct()


def _pairs_sql(cap: int = _BUCKET_CAP) -> str:
    """DuckDB CTE text (expects a ``bands`` CTE in scope) computing the
    same capped candidate-pair set as :func:`lsh_candidate_pairs`; the
    final CTE is named ``cand`` with columns (id_a, id_b)."""
    return f"""sized AS (
        SELECT doc_id, band_idx, band_hash,
               COUNT(*) OVER (PARTITION BY band_idx, band_hash) AS bsz,
               MIN(doc_id) OVER (PARTITION BY band_idx, band_hash) AS bmin
        FROM bands
    ),
    cand AS (
        SELECT l.doc_id AS id_a, r.doc_id AS id_b
        FROM sized l JOIN sized r
          ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
             AND l.doc_id < r.doc_id
        WHERE l.bsz <= {cap}
        UNION
        SELECT bmin AS id_a, doc_id AS id_b
        FROM sized
        WHERE bsz > {cap} AND doc_id <> bmin
    )"""


@register(
    "dedup_minhash",
    oracle=f"""
    SELECT doc_id,
           {_minhash_sql_cols()}
    FROM documents
    """,
    tags=("dedup", "minhash"),
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (shingle→minhash stage of MinHash-LSH dedup):
    k=8 per-document min-hashes over the distinct-word set, computed as
    JVM array expressions — embarrassingly parallel, no shuffle at all."""
    t = Tables(spark, sf_dir)
    return _signatures(t.documents, "doc_id")


@register(
    "dedup_minhash_pairs",
    oracle=f"""
    WITH {_bands_sql()},
    {_pairs_sql()}
    SELECT id_a, id_b FROM cand
    """,
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: hash the signature into bands, group docs by
    (band_index, band_hash) bucket, emit candidate near-dup pairs within
    each bucket — with the oversized-bucket star guard (buckets past
    ``_BUCKET_CAP`` contribute hub→member edges, O(b) not O(b²); see
    :func:`lsh_candidate_pairs`).

    The band table (doc_id, band_idx, band_hash — a few dozen bytes/row,
    tiny next to the documents it summarizes) is localCheckpoint'd so the
    k minhashes are computed once, not once per join side; the self-join
    then shuffles only checkpointed band rows, and the guard bounds the
    in-bucket pair expansion that AQE skew-splitting alone cannot shrink
    (the sf0.1 corpus has a degenerate 1.8k-doc bucket vs avg 5 → ~1.6M
    pairs from one bucket without the guard). At cluster scale, swap
    localCheckpoint for a persisted signature table (see SCALE.md)."""
    t = Tables(spark, sf_dir)
    return lsh_candidate_pairs(t.documents)


@register(
    "dedup_minhash_pairs_4x4",
    oracle=f"""
    WITH {_bands_sql(bands=4)},
    {_pairs_sql()}
    SELECT id_a, id_b FROM cand
    """,
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_pairs_4x4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same LSH candidate generation at a different point on the
    recall/precision dial: 4 bands x 4 rows instead of the default
    2 x 8. Shorter bands match at lower Jaccard (hit prob for
    similarity s is 1-(1-s^rows)^bands), so this emits a superset-ish,
    higher-recall candidate set for the same 16-hash signature. Proves
    the banding parameters are a live knob: Spark and the oracle both
    derive their band tables from (n_hashes=16, bands=4), and the plan
    shape (one band-key shuffle + capped self-join) is unchanged."""
    t = Tables(spark, sf_dir)
    return lsh_candidate_pairs(t.documents, bands=4)


@register(
    "dedup_ngram",
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_filter(
                    list_distinct(string_split(LOWER(a.text), ' ')),
                    w -> list_contains(list_distinct(string_split(LOWER(b.text), ' ')), w)
                )) AS DOUBLE)
           / len(list_distinct(string_split(LOWER(a.text), ' ')
                 || string_split(LOWER(b.text), ' '))) AS jaccard
    FROM documents a JOIN documents b ON a.doc_id < b.doc_id
    WHERE a.doc_id < 40 AND b.doc_id < 40
      AND CAST(len(list_filter(
                  list_distinct(string_split(LOWER(a.text), ' ')),
                  w -> list_contains(list_distinct(string_split(LOWER(b.text), ' ')), w)
              )) AS DOUBLE)
          / len(list_distinct(string_split(LOWER(a.text), ' ')
                || string_split(LOWER(b.text), ' '))) >= 0.3
    """,
    tags=("dedup", "jaccard"),
)
def dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard similarity on a bounded candidate block —
    the verification stage that follows MinHash candidate generation
    (MinHash approximates exactly this). Set algebra runs as JVM array
    expressions; at scale this only ever runs on LSH candidate pairs,
    never the full cross product."""
    t = Tables(spark, sf_dir)
    docs = t.documents.filter(F.col("doc_id") < 40).select(
        "doc_id", F.array_distinct(F.split(F.lower(F.col("text")), " ")).alias("words")
    )
    a, b = docs.alias("a"), docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.words"), F.col("b.words")))
    union = F.size(F.array_union(F.col("a.words"), F.col("b.words")))
    jac = inter.cast("double") / union
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"), jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.3)
    )


def _simhash_vote_sql(i: int) -> str:
    """DuckDB vote expression for signature bit ``i``: the word hash is the
    first 8 hex chars of md5(w) read as a big-endian 32-bit int, so bit i
    lives in hex digit ``8 - i//4`` at in-digit shift ``i%4`` — the exact
    bit layout Spark's ``conv(substr(md5(w),1,8),16,10)`` produces."""
    pos, shift = 8 - i // 4, i % 4
    digit = f"(strpos('0123456789abcdef', substr(md5(w), {pos}, 1)) - 1)"
    return (
        "list_aggregate(list_transform(words, w -> "
        f"CASE WHEN (({digit} >> {shift}) & 1) = 1 THEN 1 ELSE -1 END), 'sum')"
    )


_SIMHASH_SQL = f"""
    WITH w AS (
        SELECT doc_id, list_distinct(string_split({_NORM_SQL}, ' ')) AS words
        FROM documents
    )
    SELECT doc_id,
           CAST({" + ".join(f"(CASE WHEN {_simhash_vote_sql(i)} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32))} AS BIGINT) AS simhash
    FROM w
"""


@register(
    "dedup_simhash",
    oracle=_SIMHASH_SQL,
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 32-bit signature where bit i is the sign of the sum over
    tokens of (+1/-1 from token-hash bit i). Hamming-close signatures ≈
    similar documents. Pure JVM expressions (md5-derived 32-bit word hash
    + bit ops — md5 instead of xxhash64 so DuckDB reproduces the bits);
    at scale, group on signature prefixes to bucket candidates."""
    t = Tables(spark, sf_dir)
    words = _words(F.col("text"))
    hashes = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
    )
    bit_votes = [
        F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1),
        )
        for i in range(32)
    ]
    sig = None
    for i, vote in enumerate(bit_votes):
        bit = F.when(vote > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return t.documents.select("doc_id", sig.cast("long").alias("simhash"))


def _unrolled_cc_sql(src: str, levels: int = _CC_ORACLE_LEVELS) -> str:
    """K-step UNROLLED min-label propagation as a DuckDB CTE chain, with a
    fixpoint witness — the bounded replacement for the old transitive-
    closure `reach(a,b)` recursive CTE, whose all-reachable-pairs row count
    made the sf0.1 full-sweep oracle take ~40 min PER QUERY (the r5
    verdict's verification-velocity complaint). Min-label propagation
    carries one row per doc per level instead of one per reachable pair:
    each level is a join + group-by over `edges`, so K levels cost
    K·|edges| — the whole oracle now runs in seconds at sf0.1 (measured:
    fixpoint at 5 iterations sf0.01, 7 at sf0.1; K=10 is headroom).

    The cap is NOT trusted blindly: `not_converged` counts labels that
    still changed between levels K-1 and K. The caller appends a poison
    row when that count is nonzero, so a component with diameter > K
    turns the comparison RED instead of silently passing on a truncated
    closure — the same proved-fixpoint pattern as the K-hop BFS oracle
    (graph_shortest_paths). AS MATERIALIZED stops DuckDB re-inlining each
    level (and `edges`) once per reference, which would re-explode the
    work the unrolling just bounded."""
    parts = [f"l0 AS MATERIALIZED (SELECT doc_id, doc_id AS label FROM {src})"]
    for i in range(levels):
        parts.append(
            f"""l{i + 1} AS MATERIALIZED (
        SELECT l.doc_id,
               LEAST(l.label, COALESCE(MIN(nl.label), l.label)) AS label
        FROM l{i} l
        LEFT JOIN edges e ON e.src = l.doc_id
        LEFT JOIN l{i} nl ON nl.doc_id = e.dst
        GROUP BY l.doc_id, l.label
    )"""
        )
    parts.append(f"lbl AS (SELECT doc_id, label FROM l{levels})")
    parts.append(
        f"""not_converged AS (
        SELECT COUNT(*) AS n FROM l{levels} k
        JOIN l{levels - 1} p ON k.doc_id = p.doc_id AND k.label <> p.label
    )"""
    )
    return ",\n    ".join(parts)


@register(
    "dedup_clusters",
    oracle=f"""
    WITH {_bands_sql()},
    {_star_edges_sql()},
    {_unrolled_cc_sql("documents")},
    final AS (
        SELECT label, MIN(doc_id) AS keep_id, COUNT(*) AS cluster_size
        FROM lbl GROUP BY label
    )
    SELECT label, keep_id, cluster_size FROM final
    UNION ALL
    SELECT -1, -1, n FROM not_converged WHERE n > 0
    """,
    tags=("dedup", "graph"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH candidate-pair graph → keep-one
    per near-dup cluster (the final stage of MinHash-LSH dedup).

    Iterative min-label propagation (:func:`_lsh_cc_labels`): every doc
    starts as its own label; each round propagates the smaller label
    across candidate edges until no label changes. Each round is one hash
    join + a group-by, shuffle-partitionable, with its lineage cut
    (``fence``, durable under ``spark.databridge.checkpointDir``);
    iterations are O(graph diameter).

    The oracle derives edges from the UNCAPPED per-bucket star graph
    (_star_edges_sql) while the Spark side runs the _BUCKET_CAP-guarded
    mixed clique/star graph (lsh_candidate_pairs): a clique and its star
    have identical connected components (re-proven on real data by
    tests/test_dedup.py::test_cc_oracle_star_equals_clique), so a green
    row here proves the guard is lossless for clustering — not just
    self-consistent.  The star form keeps the oracle LINEAR in |bands|
    (the round-6 clique form was quadratic in the largest bucket and
    exhausted DuckDB temp storage at sf10).
    """
    docs = Tables(spark, sf_dir).documents
    labels = _lsh_cc_labels(docs)
    return labels.groupBy("label").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("cluster_size")
    )


def _lsh_cc_labels(
    docs: DataFrame,
    max_iters: int = 30,
) -> DataFrame:
    """(doc_id, label) via min-label propagation over LSH candidate edges
    (:func:`lsh_candidate_pairs` — capped buckets; the star fallback
    preserves components exactly, so labels are identical to the
    uncapped graph's).

    Labels are carried only for edge endpoints; every other document is
    its own component and keeps its own id through one final left join to
    ``docs``. Each round turns the previous labels into candidate rows —
    each endpoint's own label, and its neighbors' labels through one join
    of the symmetric edges — and one group-by takes the minimum. Round 1
    starts from the ids themselves, so it is a group-by of the edges
    alone. The round's eager ``fence(cut=True)`` also computes the flag
    ``nbr_label < label`` per row and reads its sum through ``observe``,
    so the convergence test costs no join and no job of its own, and the
    plan does not grow; set ``spark.databridge.checkpointDir`` for durable
    cuts that survive executor loss (SCALE.md). Raises if the loop
    exhausts ``max_iters`` without converging: a component with diameter >
    max_iters would otherwise return silently wrong labels while the
    recursive-CTE oracle computes the true closure.
    """
    edges = fence(
        lsh_candidate_pairs(docs).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        cut=True,
        eager=True,
    )
    both = edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    # (src, nbr_label, label): a neighbor's label, or src's own label
    cand = both.select("src", F.col("dst").alias("nbr_label"), F.col("src").alias("label"))
    unknown = F.lit(None).cast(edges.schema["src"].dataType)
    changed = -1
    for _ in range(max_iters):
        obs = Observation()
        labels = fence(
            cand.groupBy("src")
            .agg(F.min("nbr_label").alias("nbr_label"), F.max("label").alias("label"))
            .select(
                F.col("src").alias("doc_id"),
                F.least("label", "nbr_label").alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("changed"),
            )
            .observe(obs, F.count_if("changed").alias("n")),
            cut=True,
            eager=True,
        ).select("doc_id", "label")
        changed = obs.get["n"]
        if changed == 0:
            break
        cand = (
            both.join(labels, both.dst == labels.doc_id)
            .select("src", F.col("label").alias("nbr_label"), unknown.alias("label"))
            .unionByName(
                labels.select(F.col("doc_id").alias("src"), unknown.alias("nbr_label"), "label")
            )
        )
    if changed != 0:
        raise RuntimeError(
            f"label propagation did not converge in {max_iters} iterations "
            "(component diameter exceeds the bound); raise max_iters"
        )
    return docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("label")
    )


@register(
    "dedup_pipeline",
    oracle=f"""
    WITH ex AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY MD5({_NORM_SQL})
    ),
    docs AS MATERIALIZED (
        SELECT d.doc_id, d.text FROM documents d JOIN ex ON d.doc_id = ex.doc_id
    ),
    {_bands_sql(src="docs")},
    {_star_edges_sql()},
    {_unrolled_cc_sql("docs")},
    final AS (
        SELECT MIN(doc_id) AS doc_id, COUNT(*) AS cluster_size
        FROM lbl GROUP BY label
    )
    SELECT doc_id, cluster_size FROM final
    UNION ALL
    SELECT -1, n FROM not_converged WHERE n > 0
    """,
    tags=("dedup", "pipeline"),
)
def dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship LLM-data dedup story as ONE lazy plan: exact dedup
    (normalized-content fingerprint, keep min doc_id) → MinHash signatures
    → LSH bands → connected components over candidate edges → keep-one per
    near-dup cluster. Returns the kept doc set with its cluster size.

    Every stage is the shuffle shape that scales: fingerprint group-by,
    zero-shuffle signatures, band-bucket equi-joins, and an O(diameter)
    min-label loop — no cross product anywhere. The stages are also
    registered individually (dedup_exact/minhash/minhash_pairs/clusters);
    this query is their composition, oracle-checked end-to-end against a
    DuckDB recursive CTE on the same data."""
    docs = Tables(spark, sf_dir).documents
    fp = docs.select("doc_id", F.md5(_norm(F.col("text"))).alias("fp"))
    keep_exact = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    survivors = docs.join(keep_exact, "doc_id", "left_semi").select("doc_id", "text")
    labels = _lsh_cc_labels(survivors)
    return labels.groupBy("label").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("cluster_size")
    ).select("doc_id", "cluster_size")


@register(
    "dedup_embed",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
           / (SQRT(list_aggregate(list_transform(a.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
              * SQRT(list_aggregate(list_transform(b.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 150 AND b.vec_id < 150
      AND list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
          / (SQRT(list_aggregate(list_transform(a.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
             * SQRT(list_aggregate(list_transform(b.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) >= 0.3
    """,
    tags=("dedup", "embedding"),
)
def dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection on a bounded candidate block.
    At scale the block comes from an ANN bucketing stage (see
    operators/similarity.py); the kernel here is the same JVM-side cosine
    as sim_topk."""
    from data_bridge_spark.functions.vectors import cosine_similarity

    t = Tables(spark, sf_dir)
    vecs = t.embeddings.filter(F.col("vec_id") < 150).select("vec_id", "embedding")
    a, b = vecs.alias("a"), vecs.alias("b")
    cos = cosine_similarity(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"), cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.3)
    )


@register(
    "dedup_embed_lsh",
    oracle="""
    WITH sig AS (
        SELECT vec_id, embedding,
               list_aggregate(list_transform(embedding[1:6],
                   x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), 'string_agg', '') AS bucket
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])) AS cos_sim
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.2
    """,
    tags=("dedup", "embedding", "lsh"),
)
def dedup_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup detection at the scale shape: sign-pattern LSH
    buckets (random-hyperplane style) restrict the cosine check to an
    equi-join on the bucket key — the whole-corpus version of
    ``dedup_embed``, whose bounded block stands in for exactly this
    candidate set. Hash-partitioned join, no cross product; recall vs
    threshold trades off with bucket width as usual for LSH.

    Oracle note (r11): the cosine is DuckDB's native
    list_cosine_similarity over DOUBLE[] casts — proven bit-identical to
    the explicit list_zip/list_transform double-lambda form on 200k real
    pairs before the swap (zero IS DISTINCT FROM mismatches) and
    re-proven by every selfcheck run since; the native form is what
    makes the sf10 oracle (hundreds of millions of candidate cosines)
    tractable where the lambda form ran >2h before the r10 cutoff."""
    from data_bridge_spark.functions.vectors import cosine_similarity
    from data_bridge_spark.operators.similarity import _bucket_expr

    t = Tables(spark, sf_dir)
    sig = t.embeddings.select(
        "vec_id", "embedding", _bucket_expr(F.col("embedding")).alias("bucket")
    )
    a, b = sig.alias("a"), sig.alias("b")
    cos = cosine_similarity(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.2)
    )


_PP_T = 0.6  # Jaccard threshold for the prefix-filtered similarity join

# All-pairs form of the ppjoin oracle: O(N² · |tokens|) — tractable only
# at small SF. It is NOT the registered oracle (at sf1 it is 1.25e9 pair
# intersections, ~hours of single-threaded closure — the same sweep-
# stalling class as the old recursive-CTE CC oracles). It remains the
# LOSSLESSNESS WITNESS: tests/test_operators.py proves the registered
# prefix-filtered oracle returns the identical pair set on real data,
# where all-pairs is cheap; the prefix-filter theorem (Xiao et al.,
# WWW'08) carries the guarantee beyond that.
_PP_ALLPAIRS_SQL = f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split({_NORM_SQL}, ' ')) AS ws
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_filter(a.ws, w -> list_contains(b.ws, w))) AS i,
             len(a.ws) AS na, len(b.ws) AS nb
      FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS jaccard
    FROM pairs
    WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= {_PP_T}
    """


@register(
    "dedup_ppjoin",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, list_distinct(string_split({_NORM_SQL}, ' ')) AS ws
      FROM documents
    ),
    freq AS MATERIALIZED (
      SELECT tok, COUNT(*) AS freq
      FROM (SELECT doc_id, unnest(ws) AS tok FROM toks)
      GROUP BY tok
    ),
    ordered AS MATERIALIZED (
      SELECT doc_id, list(tok ORDER BY freq ASC, tok ASC) AS ws
      FROM (SELECT doc_id, unnest(ws) AS tok FROM toks) u
      JOIN freq USING (tok)
      GROUP BY doc_id
    ),
    pre AS MATERIALIZED (
      SELECT doc_id,
             unnest(ws[1 : len(ws) - CAST(ceil({_PP_T} * len(ws)) AS INTEGER) + 1]) AS tok
      FROM ordered
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT c.id_a, c.id_b,
             len(list_filter(ta.ws, w -> list_contains(tb.ws, w))) AS i,
             len(ta.ws) AS na, len(tb.ws) AS nb
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.id_a
      JOIN toks tb ON tb.doc_id = c.id_b
    )
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS jaccard
    FROM pairs
    WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= {_PP_T}
    """,
    tags=("dedup", "ppjoin", "exact"),
)
def dedup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (PPJoin family,
    Xiao et al., WWW'08 — public algorithm): unlike MinHash-LSH this
    misses nothing and needs no signatures.  Tokens are globally ordered
    rarest-first; a doc with token set s only needs its first
    |s| − ⌈t·|s|⌉ + 1 tokens as join keys — if J(A,B) ≥ t, the smallest
    common token provably sits inside BOTH prefixes (|A∩B| ≥ t·|A| and
    ≥ t·|B|, so a miss would leave too few suffix slots for the overlap).
    Rare-first ordering makes prefix join keys maximally selective: the
    blocking degenerates exactly where LSH's hot buckets do NOT (frequent
    tokens are pushed out of prefixes).

    Scale shape (r11): a boilerplate-dense corpus breaks the naive
    distributed translation twice. The prefix equi-join enumerates a
    pair once PER shared prefix token — at sf0.1 that is 88.8M
    enumerations for 12.4M distinct candidates and 7.1M true pairs (the
    hottest prefix token is in 3,838 of 5,000 docs) — and at sf10 an
    array-carrying version of that join spilled past 78 GB of disk.
    Three result-invariant measures (same oracle, all-pairs losslessness
    pytest unchanged):

    - **Slim enumeration**: the prefix join carries only (doc_id, n,
      pos, tok) — the token arrays do NOT ride the blown-up pair stream;
      the distinct() exchange dedups bare int pairs.
    - **Positional filter** (PPJoin's position bound, Xiao et al.): a
      first-shared token at 1-based positions (pa, pb) caps the overlap
      at 1 + min(na-pa, nb-pb), so enumerations with
      1 + min(na-pa, nb-pb) < ceil(t/(1+t)*(na+nb)) can never reach
      Jaccard t and are dropped INSIDE the join by integer arithmetic —
      55.7% of all enumerations at sf0.1, measured. (Safe even though
      the bound assumes first-shared: a pair's NON-first enumerations it
      might wrongly keep are removed by distinct anyway, and if ALL of a
      pair's enumerations are pruned, its first-shared one was — which
      proves the pair cannot qualify.)
    - **Dictionary-verify**: the exact-Jaccard verify joins the distinct
      candidates against the per-doc token-array dictionary (|docs| x
      avg 23 tokens — megabytes per million docs). The planner broadcasts
      it while it is small; past that the same plan runs as a shuffle
      join with array payload proportional to CANDIDATES (12.4M per
      5k-doc shard-equivalent here), never to enumerations.

    The explicit numbered repartition on the join key remains: AQE
    coalesces the small prefix-join INPUT to one partition while the
    join OUTPUT explodes (sf0.1: 220 s single-task before the pin)."""
    t = Tables(spark, sf_dir)
    toks = t.documents.select("doc_id", _words(F.col("text")).alias("ws"))
    freq = (
        toks.select(F.explode("ws").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # per-doc tokens re-sorted rarest-first: (freq, tok) struct sort gives
    # the same canonical global order in any engine / partitioning.
    # eager cut: consumed by the prefix explode AND both verify
    # dictionary sides — one tokenize+explode+join+groupBy scan, not three.
    ordered = (
        toks.select("doc_id", F.explode("ws").alias("tok"))
        .join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("freq", "tok"))),
                lambda s: s["tok"],
            ).alias("ws"),
        )
        .transform(fence, cut=True, eager=True)
    )
    plen = (F.size("ws") - F.ceil(F.lit(_PP_T) * F.size("ws")) + 1).cast("int")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    prefix = ordered.select(
        "doc_id",
        F.size("ws").alias("n"),
        F.posexplode(F.slice("ws", 1, plen)).alias("pos", "tok"),
    ).repartition(n_part, "tok")
    a, b = prefix.alias("a"), prefix.alias("b")
    # posexplode is 0-based; the positional bound uses 1-based positions,
    # so (n - pos_0based) == (n - pos_1based + 1) and the bound reads
    # 1 + min(na - pa0 - 1, nb - pb0 - 1) >= ceil(t/(1+t) * (na + nb))
    ubound = 1 + F.least(
        F.col("a.n") - F.col("a.pos") - 1, F.col("b.n") - F.col("b.pos") - 1
    )
    alpha = F.ceil(F.lit(_PP_T / (1.0 + _PP_T)) * (F.col("a.n") + F.col("b.n")))
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (ubound >= alpha),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    wa = ordered.select(F.col("doc_id").alias("id_a"), F.col("ws").alias("ws_a"))
    wb = ordered.select(F.col("doc_id").alias("id_b"), F.col("ws").alias("ws_b"))
    i = F.size(F.array_intersect("ws_a", "ws_b"))
    union = F.size("ws_a") + F.size("ws_b") - i
    jac = i.cast("double") / union.cast("double")
    return (
        cand.join(wa, "id_a")
        .join(wb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _PP_T)
    )
