"""Semantic assertions on individual operators (beyond the oracle hash)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_bridge_spark.registry import load_all

REG = load_all()


def run(name, spark, sf_dir):
    return REG[name].fn(spark, sf_dir)


def test_window_rank_bounded_per_group(spark, sf_dir):
    rows = run("window_rank", spark, sf_dir).groupBy("o_custkey").count().collect()
    assert rows and all(r["count"] <= 3 for r in rows)


def test_dedup_exact_unique_fingerprints(spark, sf_dir):
    df = run("dedup_exact", spark, sf_dir)
    assert df.count() == df.select("fp").distinct().count()


def test_sim_topk_shape(spark, sf_dir):
    df = run("sim_topk", spark, sf_dir)
    rows = df.collect()
    by_probe: dict[int, list] = {}
    for r in rows:
        by_probe.setdefault(r.probe_id, []).append(r)
    assert set(by_probe) == set(range(10))
    for probe, rs in by_probe.items():
        assert len(rs) == 5
        sims = [r.cos_sim for r in sorted(rs, key=lambda r: r.rk)]
        assert sims == sorted(sims, reverse=True)
        assert all(r.cand_id != probe for r in rs)
        assert all(-1.0 <= r.cos_sim <= 1.0 for r in rs)


def test_sessionization_gap_property(spark, sf_dir):
    # within any session, span < gap would be too strict; but the session
    # start of session N+1 must be > 30 min after the end of session N
    df = run("win_session", spark, sf_dir)
    rows = df.orderBy("user_id", "session_id").collect()
    prev = {}
    for r in rows:
        if r.user_id in prev:
            gap = (r.session_start - prev[r.user_id]).total_seconds()
            assert gap > 1800, f"sessions closer than gap for user {r.user_id}"
        prev[r.user_id] = r.session_end


def test_minhash_pairs_are_ordered_unique(spark, sf_dir):
    df = run("dedup_minhash_pairs", spark, sf_dir)
    assert df.filter(F.col("id_a") >= F.col("id_b")).count() == 0
    assert df.count() == df.distinct().count()


def test_lsh_topk_is_subset_of_bucket(spark, sf_dir):
    # every LSH candidate must share the probe's sign-bucket by construction;
    # spot-check determinism: two runs produce identical results
    a = sorted(map(tuple, run("sim_topk_lsh", spark, sf_dir).collect()))
    b = sorted(map(tuple, run("sim_topk_lsh", spark, sf_dir).collect()))
    assert a == b


def test_mm_features_schema_and_determinism(spark, sf_dir):
    df = run("mm_features", spark, sf_dir)
    assert df.columns == ["doc_id", "n_bytes", "first_byte", "mean_byte"]
    rows = {r.doc_id: r for r in df.collect()}
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    # byte length must equal utf-8 length of the text payload
    for doc_id, text in list(docs.items())[:20]:
        assert rows[doc_id].n_bytes == len(text.encode("utf-8"))


def test_lsh_bucket_guard_star_fallback(spark, sf_dir):
    """Buckets past the cap must contribute O(b) star edges, not O(b^2)
    pairs, and the guard must not change connected components: labels
    from the capped graph equal labels from an effectively-uncapped one."""
    from data_bridge_spark.catalog import Tables
    from data_bridge_spark.operators.dedup import _lsh_cc_labels, lsh_candidate_pairs

    docs = Tables(spark, sf_dir).documents
    capped = lsh_candidate_pairs(docs, cap=2)
    uncapped = lsh_candidate_pairs(docs, cap=1_000_000_000)
    assert capped.count() < uncapped.count()
    # every capped pair is ordered and unique
    assert capped.filter(F.col("id_a") >= F.col("id_b")).count() == 0

    def components(pairs, nodes):
        import itertools

        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in itertools.chain(pairs.collect()):
            ra, rb = find(r.id_a), find(r.id_b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in nodes}

    nodes = [r.doc_id for r in docs.select("doc_id").collect()]
    assert components(capped, nodes) == components(uncapped, nodes)


def test_cc_nonconvergence_raises(spark, sf_dir):
    """A max_iters bound smaller than the graph diameter must raise, not
    return silently wrong labels."""
    import pytest

    from data_bridge_spark.catalog import Tables
    from data_bridge_spark.operators.dedup import _lsh_cc_labels

    docs = Tables(spark, sf_dir).documents
    with pytest.raises(RuntimeError, match="did not converge"):
        _lsh_cc_labels(docs, max_iters=1)


def test_percentile_approx_within_exact_bounds(spark, sf_dir):
    """The sketch is rows-only for the oracle (engine-specific estimates),
    but its estimates must bracket sanely: p50 within the exact [p25, p75]
    band and p99 within [p75, max], per group — converts 'runs' into
    'verified sane'."""
    approx = {r.l_returnflag: r for r in run("agg_percentile_approx", spark, sf_dir).collect()}
    exact = {
        r.l_returnflag: r
        for r in Tables_lineitem(spark, sf_dir)
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.25)").alias("p25"),
            F.expr("percentile(l_extendedprice, 0.75)").alias("p75"),
            F.max("l_extendedprice").alias("mx"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, a in approx.items():
        e = exact[flag]
        assert float(e.p25) <= float(a.p50_price) <= float(e.p75), flag
        assert float(e.p75) <= float(a.p99_price) <= float(e.mx), flag


def Tables_lineitem(spark, sf_dir):
    from data_bridge_spark.catalog import Tables

    return Tables(spark, sf_dir).lineitem


def test_hll_within_rsd_of_exact(spark, sf_dir):
    """agg_approx_distinct is rows-only for the oracle (HLL sketches are
    engine-specific), so gate it numerically here: every estimate must be
    within 3x the configured rsd (default 0.05) of the exact distinct
    count per group — converts the last 'runs-only' aggregate into
    'verified sane'."""
    approx = {r.l_returnflag: r for r in run("agg_approx_distinct", spark, sf_dir).collect()}
    exact = {
        r.l_returnflag: r
        for r in Tables_lineitem(spark, sf_dir)
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("orders"),
            F.countDistinct("l_partkey").alias("parts"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    tol = 3 * 0.05
    for flag, a in approx.items():
        e = exact[flag]
        assert abs(a.approx_orders - e.orders) <= tol * e.orders, flag
        assert abs(a.approx_parts - e.parts) <= tol * e.parts, flag


def test_basket_pairs_mega_basket_guard(spark, tmp_path):
    """A degenerate mega-basket must be dropped (and counted), not
    expanded quadratically: pair counts exclude the dropped basket and
    n_dropped_baskets surfaces the drop."""
    from data_bridge_spark.operators.insights import _MAX_BASKET, basket_pairs

    rows = []
    # six normal baskets each holding parts {1, 2} -> frequent pair
    for ok in range(1, 7):
        rows += [(ok, 1), (ok, 2)]
    # one mega-basket over the cap, CONTAINING the frequent pair too
    mega = 100
    for pk in range(1, _MAX_BASKET + 10):
        rows.append((mega, pk))
    spark.createDataFrame(rows, "l_orderkey LONG, l_partkey LONG").write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    out = basket_pairs(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.part_a, r.part_b) == (1, 2)
    # the mega-basket's co-occurrence is excluded: 6, not 7
    assert r.n_orders == 6
    assert r.n_dropped_baskets == 1


def test_basket_pairs_finds_pairs_in_the_catalog(spark, sf_dir):
    """The support threshold fits the catalog: DuckDB counts 2,324 part
    pairs in >= 2 orders at sf0.001 (4 at the old threshold of 5)."""
    from data_bridge_spark.operators.insights import basket_pairs

    assert basket_pairs(spark, sf_dir).count() >= 100


def test_diff_tables_null_safe_quadrants(spark):
    """diff_tables must treat NULL→value and value→NULL as changes (the
    eqNullSafe claim in its docstring), plus classify adds/removes."""
    from data_bridge_spark.operators.warehouse import diff_tables

    old = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, "d"), (5, "same")],
        "k int, v string",
    )
    new = spark.createDataFrame(
        [(1, None), (2, "b"), (3, "c2"), (5, "same"), (6, "f")],
        "k int, v string",
    )
    got = {r.k: r for r in diff_tables(old, new, "k", ["v"]).collect()}
    assert got[1].change_type == "changed"  # value -> NULL
    assert got[2].change_type == "changed"  # NULL -> value
    assert got[3].change_type == "changed"
    assert got[4].change_type == "removed" and got[4].new_v is None
    assert got[6].change_type == "added" and got[6].old_v is None
    assert 5 not in got  # unchanged rows never surface


def test_diff_tables_reconstructs_new_snapshot(spark, sf_dir):
    """Losslessness invariant: applying the diff to the old snapshot must
    reproduce the new snapshot exactly (keys: removed dropped, changed
    replaced, added inserted, untouched carried)."""
    from data_bridge_spark.operators.warehouse import diff_tables

    old = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("k"), F.col("c_mktsegment").alias("v")
    )
    new = (
        old.filter(F.col("k") % 3 != 0)
        .withColumn(
            "v", F.when(F.col("k") % 4 == 0, F.concat(F.lit("X_"), F.col("v"))).otherwise(F.col("v"))
        )
        .unionByName(
            spark.createDataFrame([(10_000_001, None)], "k long, v string")
        )
    )
    d = diff_tables(old, new, "k", ["v"])
    removed = d.filter(F.col("change_type") == "removed").select("k")
    upserts = d.filter(F.col("change_type") != "removed").select(
        "k", F.col("new_v").alias("v")
    )
    rebuilt = (
        old.join(d.select("k"), "k", "left_anti")  # untouched keys
        .unionByName(upserts)
    )
    assert rebuilt.count() == new.count()
    assert rebuilt.exceptAll(new).count() == 0
    assert new.exceptAll(rebuilt).count() == 0
    assert removed.count() == old.filter(F.col("k") % 3 == 0).count()


def test_table_checksum_detects_single_cell_change(spark, sf_dir):
    """The docstring claims one flipped byte changes the checksum while
    row order never does — prove both directions."""
    from pyspark.sql import functions as F

    base = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_mktsegment"
    )

    def checksum(df):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col("c_custkey").cast("string"), F.col("c_name"), F.col("c_mktsegment")
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        return df.agg(F.sum(h.cast("decimal(38,0)")).cast("string")).collect()[0][0]

    clean = checksum(base)
    # row order / partitioning insensitive
    assert checksum(base.repartition(7).sortWithinPartitions(F.desc("c_name"))) == clean
    # one changed cell flips it
    k = base.limit(1).collect()[0].c_custkey
    tampered = base.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") == k, F.lit("TAMPERED")).otherwise(F.col("c_mktsegment")),
    )
    assert checksum(tampered) != clean


def test_cc_oracle_star_equals_clique():
    """Round 7 switched the CC closure oracles' edge set from the
    all-pairs clique (quadratic in the largest LSH bucket — it exhausted
    DuckDB temp storage at sf10) to the per-bucket star.  Clique and
    star over the same bucket member set have identical connected
    components by construction (the hub connects every member); this
    pins that theorem on real data by running BOTH edge forms through
    the same unrolled closure in DuckDB at two SFs and asserting
    identical cluster multisets — so the star oracle still proves the
    Spark side's _BUCKET_CAP guard lossless, not just self-consistent."""
    import duckdb

    from data_bridge_spark.operators.dedup import (
        _bands_sql,
        _clique_edges_sql,
        _star_edges_sql,
        _unrolled_cc_sql,
    )

    tail = """,
    final AS (
        SELECT label, MIN(doc_id) AS keep_id, COUNT(*) AS n
        FROM lbl GROUP BY label
    )
    SELECT keep_id, n FROM final
    UNION ALL
    SELECT -1, n FROM not_converged WHERE n > 0"""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
        res = {}
        for kind, edges in (("star", _star_edges_sql()), ("clique", _clique_edges_sql())):
            sql = f"WITH {_bands_sql()},\n    {edges},\n    {_unrolled_cc_sql('documents')}{tail}"
            res[kind] = sorted(map(tuple, con.execute(sql).fetchall()))
        assert res["star"] == res["clique"] and len(res["star"]) > 0, sf
        assert all(k != -1 for k, _ in res["star"]), f"not converged at {sf}"


def test_ppjoin_prefix_filtered_oracle_is_lossless():
    """The registered dedup_ppjoin oracle is prefix-filtered (the
    all-pairs form is O(N²·L) and stalls full sweeps at sf1); this pins
    the filter lossless by running BOTH forms in DuckDB on real data at
    two SFs and asserting identical pair multisets."""
    import duckdb

    from data_bridge_spark.operators.dedup import _PP_ALLPAIRS_SQL
    from data_bridge_spark.registry import load_all

    oracle = load_all()["dedup_ppjoin"].oracle
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
        fast = sorted(map(tuple, con.execute(oracle).fetchall()))
        slow = sorted(map(tuple, con.execute(_PP_ALLPAIRS_SQL).fetchall()))
        assert fast == slow and len(fast) > 0, sf


def test_udtf_expand_leaves_the_session_alone(spark, sf_dir):
    """The UDTF is called through a lateral join: rebuilding the query
    registers no function and leaves no temp view behind."""
    for _ in range(2):
        out = run("udtf_expand", spark, sf_dir)
    assert out.columns == ["o_orderkey", "part", "amount"] and out.count() > 0
    assert "split_charges" not in {f.name for f in spark.catalog.listFunctions()}
    assert "__udtf_src" not in {t.name for t in spark.catalog.listTables()}
