"""Graph operators over the near-dup candidate graph (SURVEY.md §2C2
extension): PageRank-style centrality and triangle counting, both as
iterative/compositional DataFrame plans.

Determinism doctrine: floating-point PageRank is NOT reproducible across
engines (neighbor-sum order differs), so ranks are integer fixed-point —
init/damping/contributions all use integer floor division, which is
bit-deterministic in Spark and DuckDB alike. The oracle unrolls the same
iterations as chained CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.operators.dedup import _bands_sql, _pairs_sql, lsh_candidate_pairs
from data_bridge_spark.registry import register
from data_bridge_spark.session import fence

_SCALE = 1_000_000_000  # rank fixed-point unit
_ITERS = 3
_BASE = 15 * _SCALE // 100  # (1-d) * SCALE with d = 0.85


def _edges_sql() -> str:
    """Undirected band-graph edges, both directions, as DuckDB CTE text.

    Derives the pair set from dedup._pairs_sql — the same capped
    star-guard definition lsh_candidate_pairs uses on the Spark side —
    so rank/triangle structure (which, unlike connected components, DOES
    depend on the exact edge set) stays engine-identical by construction
    even if the banding or cap constants change."""
    return f"""
    {_bands_sql()},
    {_pairs_sql()},
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM cand
        UNION ALL SELECT id_b, id_a FROM cand
    ),
    deg AS (SELECT src AS doc_id, COUNT(*) AS d FROM edges GROUP BY src)
    """


def _pagerank_iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT n.doc_id,
               {_BASE} + 85 * COALESCE(s.c, 0) // 100 AS rank
        FROM (SELECT doc_id FROM documents) n
        LEFT JOIN (
            SELECT e.dst AS doc_id, SUM(p.rank // dg.d) AS c
            FROM edges e
            JOIN {prev} p ON p.doc_id = e.src
            JOIN deg dg ON dg.doc_id = e.src
            GROUP BY e.dst
        ) s ON s.doc_id = n.doc_id
    )
    """


_PAGERANK_SQL = (
    "WITH "
    + _edges_sql()
    + f", r0 AS (SELECT doc_id, CAST({_SCALE} AS BIGINT) AS rank FROM documents),\n"
    + ",".join(_pagerank_iter_sql(f"r{i}", f"r{i+1}") for i in range(_ITERS))
    + f"""
    SELECT doc_id, CAST(rank AS BIGINT) AS rank_fp
    FROM r{_ITERS}
    """
)


@register(
    "graph_pagerank",
    oracle=_PAGERANK_SQL,
    tags=("graph", "pagerank"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the LSH near-dup graph (damping 0.85,
    fixed iterations): surfaces the 'template' documents sitting at the
    center of big near-dup families — a ranking signal for which copy to
    keep or which boilerplate to drop. The plan is :func:`pagerank`'s.

    Integer fixed-point keeps every engine's result bit-identical (floor
    division instead of float sums); int64 headroom: a node's contribution
    sum is ≤ in_degree × SCALE (1e9), so 85×sum overflows only past
    in-degree ≈ 1e8 — far above any LSH-bounded bucket degree; drop SCALE
    to 1e6 if a graph ever gets there."""
    docs = Tables(spark, sf_dir).documents
    return pagerank(docs)


def pagerank(docs: DataFrame) -> DataFrame:
    """(doc_id, rank_fp): integer fixed-point PageRank of every document
    after ``_ITERS`` rounds over the LSH near-dup graph.

    Ranks are carried only for edge endpoints. The graph is symmetric, so
    every endpoint has an in-edge, and every other document's rank is
    ``_BASE`` from round 1 on; one final left join to ``docs`` fills it
    in. The one fence is the edge table with each source's out-degree
    folded in as a window count. Round 1 starts from the constant rank
    ``SCALE``, so it is a plain group-by of ``SCALE div d`` over the edges;
    each later round is one join of the edges to the previous ranks and
    one group-by on ``dst``. Each round's ranks have one consumer and
    ``_ITERS`` bounds the plan, so no round is cut. The fence is durable
    under ``spark.databridge.checkpointDir`` like every fence."""
    pairs = lsh_candidate_pairs(docs).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    edges = fence(
        pairs.unionByName(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).select("src", "dst", F.count(F.lit(1)).over(Window.partitionBy("src")).alias("d")),
        cut=True,
    )

    def step(contrib: DataFrame) -> DataFrame:
        return contrib.groupBy("dst").agg(F.sum("c").alias("c")).select(
            F.col("dst").alias("doc_id"),
            (F.lit(_BASE) + F.expr("85 * c div 100")).alias("rank"),
        )

    ranks = step(edges.select("dst", F.expr(f"{_SCALE} div d").alias("c")))
    for _ in range(_ITERS - 1):
        ranks = step(
            edges.join(ranks, edges.src == ranks.doc_id).select(
                "dst", F.expr("rank div d").alias("c")
            )
        )
    return docs.join(ranks, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("rank"), F.lit(_BASE)).cast("long").alias("rank_fp")
    )


@register(
    "graph_triangles",
    oracle=f"""
    WITH blk AS (SELECT * FROM documents WHERE doc_id < 100),
    {_bands_sql(src="blk")},
    {_pairs_sql()},
    pairs AS (SELECT id_a AS a, id_b AS b FROM cand),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM pairs e1 JOIN pairs e2 ON e1.b = e2.a
        JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (
        SELECT a AS doc_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT doc_id, COUNT(*) AS n_triangles
    FROM corners GROUP BY doc_id
    """,
    tags=("graph", "triangles"),
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation in the near-dup graph — the local
    clustering signal that separates 'hub of one template family' (dense
    triangles) from 'bridge between unrelated docs' (none).

    Classic two-join triangle enumeration over ordered edges (a<b<c, each
    triangle counted once), then a corner explode + group-by. Runs on a
    bounded candidate block (doc_id < 100) standing in for one LSH
    neighborhood; at scale the same plan runs per bucket, where LSH bounds
    the edge density the joins see. Edges come from the shared capped
    pair definition (lsh_candidate_pairs) computed over the SAME filtered
    block on both engines — bucket sizes, and therefore the star guard's
    behavior, depend on the doc set, so the filter must precede banding."""
    docs = Tables(spark, sf_dir).documents
    pairs = (
        lsh_candidate_pairs(docs.filter(F.col("doc_id") < 100))
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .transform(fence)
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c"))
    )
    corners = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
    )
    return corners.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_triangles"))


_BFS_HOPS = 4
_BFS_SEED_MAX = 10  # doc_id < 10 plays the seed set


def _bfs_iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT doc_id, MIN(dist) AS dist FROM (
            SELECT doc_id, dist FROM {prev}
            UNION ALL
            SELECT e.dst AS doc_id, p.dist + 1 AS dist
            FROM edges e JOIN {prev} p ON p.doc_id = e.src
        ) GROUP BY doc_id
    )
    """


_BFS_SQL = (
    "WITH "
    + _edges_sql()
    + f""",
    d0 AS (
        SELECT doc_id, CAST(0 AS BIGINT) AS dist FROM documents
        WHERE doc_id < {_BFS_SEED_MAX}
    ),
    """
    + ",".join(_bfs_iter_sql(f"d{i}", f"d{i + 1}") for i in range(_BFS_HOPS))
    + f"""
    SELECT doc_id, CAST(dist AS INTEGER) AS dist FROM d{_BFS_HOPS}
    """
)


@register(
    "graph_shortest_paths",
    oracle=_BFS_SQL,
    tags=("graph", "bfs", "iterative"),
)
def graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance over the near-dup candidate graph:
    every document within _BFS_HOPS hops of the seed set (doc_id < 10)
    with its minimum hop count — the distance-propagation member of the
    iterative-graph family (CC propagates labels, PageRank propagates
    rank, this propagates distance; together the three Pregel verbs).
    Contamination-radius / influence-neighborhood queries take exactly
    this shape at 100 TB.

    Each round is one hash-join frontier expansion + a MIN re-aggregate
    — both partitioned on doc_id, lineage cut per round like the CC
    loop. Distances are integers, so cross-engine determinism is free
    (no fixed-point needed); the oracle unrolls the same K relaxations
    as chained CTEs over the same star-capped edge set. Unreached nodes
    are absent from the output (result size = reached neighborhood, not
    corpus)."""
    t = Tables(spark, sf_dir)
    pairs = lsh_candidate_pairs(t.documents).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).transform(fence)
    dist = t.documents.filter(F.col("doc_id") < _BFS_SEED_MAX).select(
        "doc_id", F.lit(0).cast("long").alias("dist")
    )
    for _ in range(_BFS_HOPS):
        expanded = (
            edges.join(dist, edges.src == dist.doc_id)
            .select(F.col("dst").alias("doc_id"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(expanded)
            .groupBy("doc_id")
            .agg(F.min("dist").alias("dist"))
            .transform(fence, cut=True)
        )
    return dist.select("doc_id", F.col("dist").cast("int").alias("dist"))
