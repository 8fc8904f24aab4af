"""Job and stage economy of the iterative and multi-consumer plans:
PageRank fences only its edge table, collocations tokenize the corpus
once, the connected-components loop tests convergence inside each
round's own materialization, and the BFS hops build as one lazy plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_bridge_spark import session
from data_bridge_spark.catalog import Tables
from data_bridge_spark.metrics import measure
from data_bridge_spark.operators import dedup, features, graph


def _counting(monkeypatch, module):
    """Count ``fence`` calls made from ``module``."""
    calls = []

    def counted(df, **kw):
        calls.append(kw)
        return session.fence(df, **kw)

    monkeypatch.setattr(module, "fence", counted)
    return calls


def test_pagerank_fences_only_its_edge_table(spark, sf_dir, monkeypatch):
    band_fences = _counting(monkeypatch, dedup)
    graph_fences = _counting(monkeypatch, graph)
    graph.graph_pagerank(spark, sf_dir)
    assert len(band_fences) == 1  # the LSH band table
    assert len(graph_fences) == 1, f"PageRank fenced {len(graph_fences)} times"


def test_bfs_hops_build_no_jobs_of_their_own(spark, sf_dir):
    # the hops carry no fence (FENCES_r16.json): the build runs the LSH
    # band table's jobs at most, where a per-hop cut ran one set per hop
    m = measure(spark, lambda: graph.graph_shortest_paths(spark, sf_dir))
    assert m.rows > 0
    assert m.build_jobs <= 2, f"graph_shortest_paths ran {m.build_jobs} jobs at build"


def test_collocations_tokenize_once(spark, sf_dir, monkeypatch):
    # A cut fence hides its subtree from the returned plan, so count in
    # the fenced subtrees as well.
    fenced = []

    def recorded(df, **kw):
        fenced.append(df)
        return session.fence(df, **kw)

    monkeypatch.setattr(features, "fence", recorded)
    out = features.text_collocations(spark, sf_dir)
    plans = [df._jdf.queryExecution().sparkPlan().toString() for df in [*fenced, out]]
    assert sum(p.count("Generate ") for p in plans) == 1, plans
    assert sum(p.count("documents.parquet") for p in plans) == 1, plans


def _cc_jobs(spark, docs, monkeypatch):
    """Run the CC labeler with each ``fence`` call in its own job group;
    returns (jobs outside any fence, jobs per fence call)."""
    sc = spark.sparkContext
    groups = []

    def grouped(df, **kw):
        groups.append(f"cc-fence-{len(groups)}")
        sc.setJobGroup(groups[-1], "cc fence")
        try:
            return session.fence(df, **kw)
        finally:
            sc.setJobGroup("cc-outside", "cc outside fences")

    monkeypatch.setattr(dedup, "fence", grouped)
    sc.setJobGroup("cc-outside", "cc outside fences")
    try:
        labels = dedup._lsh_cc_labels(docs)
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    per_fence = [len(tracker.getJobIdsForGroup(g)) for g in groups]
    return labels, len(tracker.getJobIdsForGroup("cc-outside")), per_fence


def test_cc_rounds_run_one_job_group_each(spark, sf_dir, monkeypatch):
    docs = Tables(spark, sf_dir).documents
    labels, outside, per_fence = _cc_jobs(spark, docs, monkeypatch)
    # band table, edge table, then one fence per round
    rounds = len(per_fence) - 2
    assert rounds >= 2, "the graph converges in one round; the test proves nothing"
    assert outside == 0, f"{outside} jobs ran outside the rounds' fences"
    assert all(per_fence[2:]), per_fence
    assert labels.count() == docs.count()


def test_cc_without_edges_labels_every_doc_itself(spark, sf_dir):
    docs = Tables(spark, sf_dir).documents.filter(F.col("doc_id") < 1)
    assert [tuple(r) for r in dedup._lsh_cc_labels(docs).collect()] == [(0, 0)]


@pytest.mark.parametrize("limit", [40, 200])
def test_cc_labels_are_component_minima(spark, sf_dir, limit):
    docs = Tables(spark, sf_dir).documents.filter(F.col("doc_id") < limit)
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for r in dedup.lsh_candidate_pairs(docs).collect():
        ra, rb = find(r.id_a), find(r.id_b)
        parent[max(ra, rb)] = min(ra, rb)
    got = {r.doc_id: r.label for r in dedup._lsh_cc_labels(docs).collect()}
    assert got == {r.doc_id: find(r.doc_id) for r in docs.select("doc_id").collect()}
