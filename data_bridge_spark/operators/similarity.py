"""Similarity search over embedding vectors (SURVEY.md §2C3).

Two paths, as a 100 TB design requires:

- **brute-force top-k** (`sim_topk`): probe × candidate join, JVM-side
  cosine, per-probe rank. Correct baseline; cost O(P·N) — fine when the
  probe set is small and N is sharded across executors.
- **LSH-bucketed** (`sim_topk_lsh`): random-hyperplane-style signature
  (sign pattern of leading dimensions), equi-join probes to candidates in
  the same bucket only. The join becomes a hash-partitioned equi-join on
  the bucket key — the shuffle-friendly shape that survives 1000×
  scale-up; recall trades off with bucket width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.functions.vectors import cosine_similarity
from data_bridge_spark.registry import register
from data_bridge_spark.session import local_frame

_COS_SQL = """
    list_aggregate(list_transform(list_zip(p.embedding, c.embedding),
        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')
    / (SQRT(list_aggregate(list_transform(p.embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
       * SQRT(list_aggregate(list_transform(c.embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
"""


@register(
    "sim_topk",
    oracle=f"""
    SELECT probe_id, cand_id, cos_sim, rk FROM (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               {_COS_SQL} AS cos_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY {_COS_SQL} DESC, c.vec_id ASC
               ) AS INTEGER) AS rk
        FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
        WHERE p.vec_id < 10
    ) WHERE rk <= 5
    """,
    tags=("similarity", "topk"),
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: 10 probe vectors against all candidates,
    keep 5 nearest each. The candidate side stays partitioned; the 10
    probes are the nested-loop build side; ranking shuffles only (probe,
    cand, score) triples."""
    t = Tables(spark, sf_dir)
    probes = t.embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p_emb")
    )
    cands = t.embeddings.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
    scored = (
        cands.join(probes, F.col("probe_id") != F.col("cand_id"))
        .select(
            "probe_id",
            "cand_id",
            cosine_similarity(F.col("p_emb"), F.col("c_emb")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id").asc())
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)


_IVF_K = 8  # coarse cells
_IVF_ITERS = 4  # Lloyd iterations
_IVF_NPROBE = 3  # cells searched per probe (recall@5 ≈ 0.68 on the
# synthetic near-isotropic embeddings while scanning 3/8 of candidates;
# gated ≥ 0.6 in tests/test_similarity.py)
_IVF_DIM = 64


def _centroid_lit(c: list[float]) -> F.Column:
    return F.array(*[F.lit(float(x)) for x in c])


def _cell_sims(emb_col: F.Column, centroids: list[list[float]]) -> F.Column:
    """array of cosine(emb, centroid_i), one slot per cell — pure codegen."""
    return F.array(*[cosine_similarity(emb_col, _centroid_lit(c)) for c in centroids])


def _nearest_cell(emb_col: F.Column, centroids: list[list[float]]) -> F.Column:
    sims = _cell_sims(emb_col, centroids)
    # array_position returns the FIRST max slot (1-based) → deterministic ties
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def _seed_hash(vec_id: F.Column) -> F.Column:
    """Cross-engine-reproducible pseudo-random seed order (md5, not
    xxhash64 — DuckDB has no xxhash64, and the oracle must replay the
    exact seed choice)."""
    return F.md5(F.concat(F.lit("ivf-"), vec_id.cast("string")))


def kmeans_centroids(
    emb: DataFrame,
    k: int = _IVF_K,
    iters: int = _IVF_ITERS,
    dim: int = _IVF_DIM,
) -> list[list[float]]:
    """Lloyd's k-means expressed as DataFrame ops — the IVF coarse trainer.

    Per iteration: centroids live on the driver (k×dim doubles — a few KB,
    the declared scalar edge) and are re-broadcast as *literal* array
    expressions, so cell assignment is a narrow per-row map — no join, no
    N×k row explosion; the only shuffle is the k-row centroid update with
    map-side partial aggregation. That is the shape that survives 100 TB:
    iteration cost = one scan + one tiny agg, independent of k×N.

    Determinism — every step is reproducible in ANSI SQL, which is what
    lets `sim_ivf` carry a full DuckDB oracle despite being an iterative
    trained-ANN plan: seeds are the k rows with smallest
    (md5('ivf-' || vec_id), vec_id) — a hash both engines compute
    identically, unlike xxhash64 — and the seed ORDER defines cell ids;
    centroid updates quantize components to DECIMAL(12,6) (the
    embed_centroid rule: ROUND is half-away-from-zero in both engines)
    and decimal-sum them (order-insensitive, exact) before ONE IEEE
    double divide; empty cells keep their previous centroid; nearest-cell
    ties resolve to the lowest cell index.
    """
    # the training loop re-reads its input iters+1 times — pin it for the
    # loop's lifetime (the canonical iterative-algorithm cache; released
    # before returning so the caller's plan doesn't hold executor memory)
    # NULL embeddings are not observations — a NULL row would poison
    # the seed collect (None is not iterable) and the centroid sums
    train = emb.filter(F.col("embedding").isNotNull()).select("vec_id", "embedding").persist()
    try:
        seed_rows = (
            train.orderBy(_seed_hash(F.col("vec_id")), F.col("vec_id")).limit(k).collect()
        )
        centroids = [[float(x) for x in r.embedding] for r in seed_rows]
        if not centroids:
            # empty training corpus: no cells to train (callers emit a
            # schema-stable empty result instead of an array() literal
            # that would fail analysis)
            return []
        for _ in range(iters):
            sums = (
                train.select(
                    _nearest_cell(F.col("embedding"), centroids).alias("cell"), "embedding"
                )
                .groupBy("cell")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    *[
                        F.sum(
                            F.round(
                                F.element_at("embedding", i + 1).cast("double"), 6
                            ).cast("decimal(12,6)")
                        ).alias(f"s{i}")
                        for i in range(dim)
                    ],
                )
                .collect()
            )
            centroids = list(centroids)
            for r in sums:
                centroids[r["cell"]] = [float(r[f"s{i}"]) / r["n"] for i in range(dim)]
        return centroids
    finally:
        train.unpersist()


_SIG_DIMS = 6  # sign bits of the first 6 dimensions → 64 buckets


def _bucket_expr(emb: F.Column) -> F.Column:
    bits = [
        F.when(F.element_at(emb, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(_SIG_DIMS)
    ]
    return F.concat(*bits)


_BUCKET_SQL = (
    "list_aggregate(list_transform(embedding[1:6], "
    "x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), 'string_agg', '')"
)


def _cos_lists(a: str, b: str) -> str:
    """DuckDB cosine between two list expressions — the same sequential
    left fold over doubles as functions/vectors.cosine_similarity (the
    bit-match is proven by every sim_* oracle)."""
    return f"""(list_aggregate(list_transform(list_zip({a}, {b}),
        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')
    / (SQRT(list_aggregate(list_transform({a},
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
       * SQRT(list_aggregate(list_transform({b},
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))))"""


def _ivf_oracle_sql(k: int, iters: int, nprobe: int) -> str:
    """Unrolled Lloyd's k-means + IVF search as DuckDB CTE chains — the
    exact twin of `kmeans_centroids` + `sim_ivf` (same md5 seed order,
    same DECIMAL(12,6) quantized centroid sums, same double cosine fold,
    same tie rules: assignment → lowest cell, probe cell ranking → sim
    DESC then cell DESC mirroring reverse(array_sort(struct(sim,cell))),
    final rank → cos DESC then cand_id). Fixed iteration count makes the
    'iterative' algorithm SQL-expressible, the same unrolling trick as
    graph.py's PageRank oracle."""
    seed_order = "MD5('ivf-' || CAST(vec_id AS VARCHAR)), vec_id"
    parts = [
        f"""WITH emb AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
    q2 AS (
        SELECT vec_id, pos,
               CAST(ROUND(CAST(embedding[pos + 1] AS DOUBLE), 6) AS DECIMAL(12,6)) AS q
        FROM (SELECT vec_id, embedding,
                     unnest(generate_series(0, len(embedding) - 1)) AS pos
              FROM emb)
    ),
    centL0 AS (
        SELECT ROW_NUMBER() OVER (ORDER BY {seed_order}) - 1 AS cell,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
        FROM emb ORDER BY {seed_order} LIMIT {k}
    )"""
    ]
    for t in range(iters):
        parts.append(f""",
    assign{t} AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY {_cos_lists('e.embedding', 'c.cent')} DESC, c.cell ASC) AS rn
            FROM emb e CROSS JOIN centL{t} c
        ) WHERE rn = 1
    ),
    upd{t} AS (
        SELECT a.cell, q.pos, CAST(SUM(q.q) AS DOUBLE) / COUNT(*) AS c
        FROM assign{t} a JOIN q2 q USING (vec_id)
        GROUP BY a.cell, q.pos
    ),
    centL{t + 1} AS (
        SELECT p.cell, COALESCE(u.cent, p.cent) AS cent
        FROM centL{t} p
        LEFT JOIN (SELECT cell, list(c ORDER BY pos) AS cent
                   FROM upd{t} GROUP BY cell) u USING (cell)
    )""")
    parts.append(f""",
    simsF AS (
        SELECT e.vec_id, e.embedding, c.cell,
               {_cos_lists('e.embedding', 'c.cent')} AS sim
        FROM emb e CROSS JOIN centL{iters} c
    ),
    assignF AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
            FROM simsF
        ) WHERE rn = 1
    ),
    pcells AS (
        SELECT vec_id AS probe_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS crn
            FROM simsF WHERE vec_id < 20
        ) WHERE crn <= {nprobe}
    )
    SELECT probe_id, cand_id, cos_sim, rk FROM (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               {_COS_SQL} AS cos_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY {_COS_SQL} DESC, c.vec_id ASC
               ) AS INTEGER) AS rk
        FROM pcells pc
        JOIN emb p ON p.vec_id = pc.probe_id
        JOIN assignF a ON a.cell = pc.cell
        JOIN emb c ON c.vec_id = a.vec_id
        WHERE c.vec_id <> p.vec_id
    ) WHERE rk <= 5""")
    return "".join(parts)


@register(
    "sim_ivf",
    oracle=_ivf_oracle_sql(_IVF_K, _IVF_ITERS, _IVF_NPROBE),
    tags=("similarity", "topk", "ivf"),
)
def sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: k-means coarse quantizer (see ``kmeans_centroids``), then
    each probe searches only its ``_IVF_NPROBE`` nearest cells' members.

    Plan shape after training: cell assignment is a narrow map against
    literal centroids (no centroid join at all), probe→cells fan-out is an
    ``explode`` of a sorted nprobe slice, and the candidate search is an
    equi-join on the cell id — hash-partitioned, no probe×all cross join
    anywhere. Recall vs the exact ``sim_topk`` is gated in
    ``tests/test_similarity.py``.

    Value-oracled despite being a trained iterative ANN: every source of
    nondeterminism was pinned (md5 seed order, quantized decimal centroid
    sums with one IEEE divide, total tie orders at every rank), so the
    whole train→assign→probe→search chain replays exactly in DuckDB as
    unrolled CTEs (`_ivf_oracle_sql`). Scale note: the decimal sums ride
    int64×10^6 per (cell, dim); DuckDB's decimal→double conversion is
    exact while the scaled sum stays under 2^53 (~10^9 unit-norm rows per
    cell) — beyond that, re-derive the oracle rather than trust the cast.
    """
    t = Tables(spark, sf_dir)
    # NULL embeddings are excluded everywhere (train, corpus, probes) —
    # mirrored by the oracle's WHERE embedding IS NOT NULL
    emb = t.embeddings.filter(F.col("embedding").isNotNull())
    centroids = kmeans_centroids(emb)
    if not centroids:
        # empty corpus: nothing trained, nothing searchable
        return local_frame(
            spark, [], "probe_id bigint, cand_id bigint, cos_sim double, rk int"
        )
    cands = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        _nearest_cell(F.col("embedding"), centroids).alias("cell"),
    )
    # per probe: rank cells by centroid similarity, explode the top nprobe
    cell_structs = F.array(
        *[
            F.struct(
                cosine_similarity(F.col("p_emb"), _centroid_lit(c)).alias("sim"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    probes = (
        emb.filter(F.col("vec_id") < 20)
        .select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p_emb"))
        .select(
            "probe_id",
            "p_emb",
            F.explode(F.slice(F.reverse(F.array_sort(cell_structs)), 1, _IVF_NPROBE)).alias("pc"),
        )
        .select("probe_id", "p_emb", F.col("pc.cell").alias("cell"))
    )
    scored = (
        cands.join(probes, "cell")
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select(
            "probe_id",
            "cand_id",
            cosine_similarity(F.col("p_emb"), F.col("c_emb")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id").asc())
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)


@register(
    "sim_topk_lsh",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket
        FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT probe_id, cand_id, cos_sim, rk FROM (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               {_COS_SQL} AS cos_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY {_COS_SQL} DESC, c.vec_id ASC
               ) AS INTEGER) AS rk
        FROM sig p JOIN sig c ON p.bucket = c.bucket AND p.vec_id <> c.vec_id
        WHERE p.vec_id < 50
    ) WHERE rk <= 3
    """,
    tags=("similarity", "topk", "lsh"),
)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via sign-pattern LSH: bucket = sign bits of the leading
    dimensions (a fixed random-hyperplane projection), candidates searched
    within the probe's bucket only. Plan shape = equi-join on bucket →
    hash-partitionable; recall < 1 by design, but the result is still
    deterministic so it oracle-checks."""
    t = Tables(spark, sf_dir)
    # NULL embeddings excluded: _bucket_expr's CASE would land them all
    # in bucket '000000' (NULL >= 0 is NULL -> otherwise-branch) while
    # the oracle's list_transform yields a NULL bucket — not observations
    sig = t.embeddings.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding", _bucket_expr(F.col("embedding")).alias("bucket")
    )
    probes = sig.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_emb"),
        F.col("bucket").alias("p_bucket"),
    )
    cands = sig.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("bucket").alias("c_bucket"),
    )
    scored = (
        cands.join(
            probes,
            (F.col("p_bucket") == F.col("c_bucket")) & (F.col("probe_id") != F.col("cand_id")),
        )
        .select(
            "probe_id",
            "cand_id",
            cosine_similarity(F.col("p_emb"), F.col("c_emb")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id").asc())
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)


@register(
    "embed_centroid",
    oracle="""
    WITH ex AS (
        SELECT label,
               unnest(generate_series(0, len(embedding) - 1)) AS pos,
               embedding
        FROM embeddings
    ),
    cells AS (
        SELECT label, pos,
               CAST(ROUND(CAST(embedding[pos + 1] AS DOUBLE), 6)
                    AS DECIMAL(12,6)) AS q
        FROM ex
    )
    SELECT label, CAST(pos AS BIGINT) AS pos, COUNT(*) AS n,
           CAST(SUM(q) AS DOUBLE) / COUNT(*) AS centroid
    FROM cells
    GROUP BY label, pos
    """,
    tags=("similarity", "embedding", "agg"),
)
def embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (elementwise mean), emitted long
    format (label, dimension, mean) — the vector-aggregation shape
    behind IVF training, class prototypes, and drift monitoring.
    posexplode turns the array column into (label, pos, val) rows and
    ONE hash aggregate on (label, pos) does the rest — partial map-side
    sums mean the shuffle carries |labels|x|dims| cells per partition,
    not rows, so the plan is a straight scale-up to any corpus size
    (contrast sim_ivf, which collects k x dim centroids to the driver
    by design for its iterative loop). Determinism: float components
    are quantized to 6 decimals (ROUND is half-away-from-zero in both
    engines) and summed as exact DECIMAL(12,6) — order-insensitive —
    with the 1e-6 quantization bias documented here rather than hidden
    in last-ulp float-sum nondeterminism."""
    t = Tables(spark, sf_dir)
    ex = t.embeddings.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    q = F.round(F.col("val").cast("double"), 6).cast("decimal(12,6)")
    return (
        ex.groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(q).cast("double") / F.count(F.lit(1))).alias("centroid"),
        )
    )


@register(
    "embed_quantize",
    oracle="""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS max_abs
        FROM base
    ),
    errs AS (
        SELECT vec_id, max_abs,
               CAST(len(v) AS INT) AS dim,
               CASE WHEN max_abs = 0 THEN NULL
                    ELSE list_transform(v, x ->
                        abs(x - round(x / max_abs * 127.0) * max_abs / 127.0))
               END AS e
        FROM scaled
    )
    SELECT vec_id, dim,
           CAST(max_abs AS DOUBLE) AS scale,
           COALESCE(list_max(e), 0.0) AS max_err,
           COALESCE(list_reduce(list_prepend(0.0,
               list_transform(e, x -> x * x)), (a, b) -> a + b), 0.0)
             / dim AS mse
    FROM errs
    """,
    tags=("similarity", "embedding", "quantize"),
)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit for an embedding column: per
    vector, the max-abs scale, worst reconstruction error, and MSE of
    round(x/scale*127) de-quantized back — the compression step a
    100 TB vector corpus takes before ANN serving (4x smaller, cache-
    resident), with the error surface kept queryable so a pipeline can
    gate on quantization loss. Pure per-row array expressions (zero
    shuffle, whole-stage codegen, scales linearly); the sequential
    error fold runs in array order in both engines, and every
    arithmetic step is the same IEEE double sequence, so the oracle
    hash-matches without decimal quantization (same determinism
    contract sim_cosine_pair already proves). Zero vectors degrade to
    zero error rather than NaN."""
    t = Tables(spark, sf_dir)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = t.embeddings.select("vec_id", v.alias("v"))
    max_abs = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    scaled = base.select(
        "vec_id", "v", max_abs.alias("max_abs"), F.size("v").alias("dim")
    )
    recon_err = lambda x: F.abs(
        x - F.round(x / F.col("max_abs") * 127.0) * F.col("max_abs") / 127.0
    )
    errs = scaled.select(
        "vec_id",
        "max_abs",
        "dim",
        F.when(F.col("max_abs") == 0, F.lit(None)).otherwise(
            F.transform(F.col("v"), recon_err)
        ).alias("e"),
    )
    sq_sum = F.aggregate(
        F.transform(F.col("e"), lambda x: x * x),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return errs.select(
        "vec_id",
        "dim",
        F.col("max_abs").alias("scale"),
        F.coalesce(F.array_max("e"), F.lit(0.0)).alias("max_err"),
        (F.coalesce(sq_sum, F.lit(0.0)) / F.col("dim")).alias("mse"),
    )


def _recall_oracle() -> str:
    """Compose the brute/LSH/IVF oracle SQLs (registered above in this
    module) as derived tables — the evaluation harness reuses the same
    proven replays rather than restating them."""
    from data_bridge_spark.registry import REGISTRY

    brute = REGISTRY["sim_topk"].oracle
    lsh = REGISTRY["sim_topk_lsh"].oracle
    ivf = REGISTRY["sim_ivf"].oracle
    return f"""
    WITH brute AS (
        SELECT probe_id, cand_id FROM ({brute}) b WHERE probe_id < 10
    ),
    m AS (
        SELECT 'lsh' AS method, probe_id, cand_id
        FROM ({lsh}) l WHERE probe_id < 10
        UNION ALL
        SELECT 'ivf', probe_id, cand_id
        FROM ({ivf}) i WHERE probe_id < 10
    ),
    hits AS (
        SELECT m.method, CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM m JOIN brute USING (probe_id, cand_id) GROUP BY 1
    ),
    counts AS (
        SELECT method, CAST(COUNT(*) AS BIGINT) AS n_method FROM m GROUP BY 1
    ),
    base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM brute)
    SELECT c.method, b.n_exact, c.n_method,
           COALESCE(h.n_hit, 0) AS n_hit,
           CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / NULLIF(b.n_exact, 0) AS recall
    FROM counts c CROSS JOIN base b LEFT JOIN hits h USING (method)
    """


@register(
    "sim_recall_report",
    oracle=_recall_oracle(),
    tags=("similarity", "evaluation"),
)
def sim_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation AS a pipeline query: recall of the LSH and
    IVF variants against the brute-force exact top-k on the shared probe
    set (vec_id < 10) — n_exact, per-method candidate count, hit count,
    and recall, in one lazy plan. This is the harness a 100 TB corpus
    needs to TUNE its ANN knobs (bands, nprobe) on a sample before
    committing a full run: all three searches and the comparison ride
    one job, and the joins are (probe, cand) equi-joins over top-k-sized
    sets — evaluation cost is O(probes x k), independent of corpus size.
    The oracle composes the three methods' proven SQL replays as derived
    tables, so the report's every value — including the recall doubles
    (integer-ratio IEEE division) — is cross-engine checked. The 1-row
    n_exact aggregate broadcasts via the declared scalar-edge crossJoin."""
    brute = sim_topk(spark, sf_dir).select("probe_id", "cand_id")
    lsh = (
        sim_topk_lsh(spark, sf_dir)
        .filter(F.col("probe_id") < 10)
        .select(F.lit("lsh").alias("method"), "probe_id", "cand_id")
    )
    ivf = (
        sim_ivf(spark, sf_dir)
        .filter(F.col("probe_id") < 10)
        .select(F.lit("ivf").alias("method"), "probe_id", "cand_id")
    )
    m = lsh.unionByName(ivf)
    # every join side here is bounded by construction (<= probes x k rows
    # — the evaluation-sample contract); broadcast hints measured no clear
    # win over the planner's choice (mins 0.91x/0.85x, medians 0.98x/0.95x
    # without them at sf0.1/sf1, OPTIMIZATION_r13.md §9)
    hits = m.join(brute, ["probe_id", "cand_id"]).groupBy("method").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    counts = m.groupBy("method").agg(F.count(F.lit(1)).alias("n_method"))
    base = brute.agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        counts.crossJoin(base)
        .join(hits, "method", "left")
        .select(
            "method",
            "n_exact",
            "n_method",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            # NULLIF guard: empty ground truth must be NULL on both engines
            # (Spark x/0 -> NULL, DuckDB double x/0 -> Inf), same rule as
            # dedup_quality_report
            (
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.nullif(F.col("n_exact"), F.lit(0))
            ).alias(
                "recall"
            ),
        )
    )
