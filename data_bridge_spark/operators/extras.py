"""Second-wave operators: non-equi joins, cube, exact percentiles, range
frames, unpivot, hashing, UDTF, and the reference's collected-ID-list
pattern (SURVEY.md §2B13/B16/B17 extensions, §2C8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.functions.exact import dec, dec_to_double, dsum
from data_bridge_spark.session import fence, local_frame
from data_bridge_spark.registry import register

_TIERS = [
    ("bronze", 0, 100_000),
    ("silver", 100_000, 250_000),
    ("gold", 250_000, 400_000),
    ("platinum", 400_000, 10_000_000),
]
_TIERS_SQL = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _TIERS)


@register(
    "join_range",
    oracle=f"""
    SELECT o.o_orderkey, t.tier
    FROM orders o
    JOIN (VALUES {_TIERS_SQL}) AS t(tier, lo, hi)
      ON o.o_totalprice >= t.lo AND o.o_totalprice < t.hi
    """,
    tags=("join", "range"),
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (banded range) join: price bands as a tiny literal table,
    joined on interval containment. Spark plans a broadcast nested-loop
    join — correct here because one side is a handful of rows; for two
    large sides, bucketize the range key into an equi-join key first."""
    t = Tables(spark, sf_dir)
    tiers = local_frame(spark, _TIERS, "tier string, lo long, hi long")
    o = t.orders
    return o.join(
        tiers,
        (o.o_totalprice >= tiers.lo) & (o.o_totalprice < tiers.hi),
    ).select("o_orderkey", "tier")


_BIN_S = 2 * 86_400  # bin width == max interval length -> each interval spans <=2 bins


@register(
    "join_range_binned",
    oracle="""
    SELECT o.o_orderkey, l.l_orderkey, l.l_linenumber
    FROM orders o JOIN lineitem l
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 2 DAY
    WHERE o.o_orderpriority = '1-URGENT' AND l.l_returnflag = 'R'
    """,
    tags=("join", "range", "scale"),
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large x large point-in-interval join as a *binned equi-join* — the
    scale path ``join_range``'s docstring promises. OSS Spark has no range
    -join optimization, so a naive interval predicate between two fact
    tables plans a broadcast-nested-loop (O(N*M)). Instead: choose a bin
    width >= the max interval length, explode each interval onto the <=2
    bins it covers, map each point to its single bin, hash-join on the bin
    key, then apply the exact interval predicate as a residual filter.
    Each (interval, point) pair meets in at most one bin (the point's),
    so no dedup is needed. Cost: one shuffle on `bin` + |result| residual
    checks — survives 100x where the nested loop cannot. Low-cardinality
    bin keys can skew; AQE skew-join splits hot bins at runtime."""
    t = Tables(spark, sf_dir)

    def binify(c):  # seconds -> bin ordinal
        return F.floor(c / F.lit(_BIN_S))

    iv = (
        t.orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("lo_s"),
            (F.unix_timestamp("o_orderdate") + _BIN_S).alias("hi_s"),
        )
        .withColumn(
            "bin",
            F.explode(F.sequence(binify(F.col("lo_s")), binify(F.col("hi_s") - 1))),
        )
    )
    pts = (
        t.lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", F.unix_timestamp("l_shipdate").alias("p_s"))
        .withColumn("bin", binify(F.col("p_s")))
    )
    return (
        iv.join(pts, "bin")
        .filter((F.col("p_s") >= F.col("lo_s")) & (F.col("p_s") < F.col("hi_s")))
        .select("o_orderkey", "l_orderkey", "l_linenumber")
    )


@register(
    "filter_step_param",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (
        SELECT c_custkey FROM customer
        WHERE c_acctbal > 8000 AND c_mktsegment = 'MACHINERY'
    )
    """,
    tags=("templating", "filter"),
)
def filter_step_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's step:-to-IN-param pattern executed literally
    (ref extractor.py:107-114 + sample.config.yaml:124-140): a first query
    is *collected* into a Python list on the driver, then templated into
    the next query's IN list. Kept for parity — and scale-guarded:
    spark_sql_with_params inlines small lists but flips any list above
    MAX_INLINE_LIST into a temp-view semi-join subquery, so the rendered
    SQL string can never grow with the data (at scale prefer join_semi
    outright: same result, no driver round-trip at all)."""
    from data_bridge_spark.functions.templating import spark_sql_with_params

    t = Tables(spark, sf_dir)
    ids = [
        r.c_custkey
        for r in t.customer.filter(
            (F.col("c_acctbal") > 8000) & (F.col("c_mktsegment") == "MACHINERY")
        )
        .select("c_custkey")
        .collect()
    ]
    t.view("orders")
    return spark_sql_with_params(
        spark,
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "WHERE o_custkey IN (::ids::)",
        {"ids": ids},
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(GROUPING(o_orderstatus) AS TINYINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS TINYINT) AS g_priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE with GROUPING() indicators (disambiguates 'null because
    subtotal' from 'null in the data'), pre-aggregated at the finest
    (status, priority) grain so the 4-way Expand rides the tiny partial
    table, not the raw orders scan. Standard-compliant on EMPTY input:
    the () grouping set's grand-total row (count 0, NULL sum, both
    GROUPING()s = 1) is reinstated from the same partials — Spark's
    keyed aggregate alone would emit nothing (see agg_rollup)."""
    t = Tables(spark, sf_dir)
    fine = t.orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n0"), F.sum(dec("o_totalprice")).alias("s0")
    )
    cub = (
        fine.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").alias("g_status"),
            F.grouping("o_orderpriority").alias("g_priority"),
            F.sum("n0").alias("n"),
            dec_to_double(F.sum("s0").cast("decimal(28,6)")).alias("total"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "g_status",
            "g_priority",
            "n",
            "total",
        )
    )
    # probe the SOURCE with a collect-limit (fine is empty iff orders
    # is): no localCheckpoint, no second pass (see agg_rollup)
    empty_total = (
        t.orders.limit(1).agg(F.count(F.lit(1)).alias("__k"))
        .filter(F.col("__k") == 0)
        .select(
            F.lit(None).cast("string").alias("status"),
            F.lit(None).cast("string").alias("priority"),
            F.lit(1).cast("byte").alias("g_status"),
            F.lit(1).cast("byte").alias("g_priority"),
            F.lit(0).cast("bigint").alias("n"),
            F.lit(None).cast("double").alias("total"),
        )
    )
    return cub.unionByName(empty_total)


@register(
    "agg_median",
    oracle="""
    SELECT c_mktsegment,
           MEDIAN(c_acctbal) AS median_bal,
           quantile_cont(c_acctbal, 0.25) AS p25,
           quantile_cont(c_acctbal, 0.75) AS p75
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("agg", "percentile"),
)
def agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / continuous quantiles per group. Exact percentile is
    a full sort per group — fine for bounded group counts; the approximate
    twin (percentile_approx, t-digest) is the unbounded-cardinality path
    (see agg_percentile_approx)."""
    t = Tables(spark, sf_dir)
    return t.customer.groupBy("c_mktsegment").agg(
        F.median("c_acctbal").alias("median_bal"),
        F.percentile("c_acctbal", F.lit(0.25)).alias("p25"),
        F.percentile("c_acctbal", F.lit(0.75)).alias("p75"),
    )


@register(
    "agg_percentile_approx",
    oracle=None,  # sketch-based; estimates are engine-specific → rows-only
    tags=("agg", "percentile", "approx"),
)
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles — the 100 TB path (constant memory,
    mergeable sketches) for what agg_median does exactly."""
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("p50_price"),
        F.percentile_approx("l_extendedprice", F.lit(0.99), F.lit(10000)).alias("p99_price"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice
               RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING
           ) AS n_similar_price
    FROM orders
    WHERE o_custkey <= 100
    """,
    tags=("window", "range"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based window): for each order, how many of the
    same customer's orders are within ±10k in price. Same single shuffle
    as any window on the partition key."""
    t = Tables(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice")).rangeBetween(-10000, 10000)
    return (
        t.orders.filter(F.col("o_custkey") <= 100)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("n_similar_price", F.count(F.lit(1)).over(w))
    )


@register(
    "window_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           LAST_VALUE(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_price,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile
    FROM orders
    WHERE o_custkey <= 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
    tags=("window",),
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last value over a customer's order history + NTILE buckets."""
    t = Tables(spark, sf_dir)
    # asc_nulls_last: NULL order dates sort LAST as in DuckDB (Spark's
    # ASC default is NULLS FIRST, which would flip first/last/ntile)
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_last(), F.col("o_orderkey").asc()
    )
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        t.orders.filter(F.col("o_custkey") <= 100)
        .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate")
        .withColumn("first_price", F.first("o_totalprice").over(w))
        .withColumn("last_price", F.last("o_totalprice").over(w_full))
        .withColumn("quartile", F.ntile(4).over(w))
        .select("o_custkey", "o_orderkey", "first_price", "last_price", "quartile")
    )


@register(
    "unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, value FROM (
        SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value
        FROM lineitem WHERE l_orderkey <= 500
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
        FROM lineitem WHERE l_orderkey <= 500
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount', l_discount
        FROM lineitem WHERE l_orderkey <= 500
    )
    """,
    tags=("reshape",),
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long): one row per (row, measure). `unpivot` is a
    zero-shuffle projection in Spark."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.filter(F.col("l_orderkey") <= 500)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount"],
            "measure",
            "value",
        )
        .withColumn(
            "measure",
            F.when(F.col("measure") == "l_quantity", "quantity")
            .when(F.col("measure") == "l_extendedprice", "price")
            .otherwise("discount"),
        )
    )


@register(
    "scalar_hash",
    oracle="""
    SELECT doc_id,
           MD5(text) AS h_md5,
           SHA256(text) AS h_sha256
    FROM documents WHERE doc_id < 100
    """,
    tags=("scalar", "hash"),
)
def scalar_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic hash scalars (content addressing / fingerprints).
    xxhash64 is the faster non-crypto option but Spark-specific, so the
    oracle pins md5/sha256."""
    t = Tables(spark, sf_dir)
    return t.documents.filter(F.col("doc_id") < 100).select(
        "doc_id",
        F.md5(F.col("text")).alias("h_md5"),
        F.sha2(F.col("text"), 256).alias("h_sha256"),
    )


@register(
    "text_shingles",
    oracle="""
    SELECT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                   list_filter(list_zip(words, words[2:], words[3:]),
                               s -> s[3] IS NOT NULL),
                   s -> s[1] || ' ' || s[2] || ' ' || s[3])) AS shingle
        FROM (SELECT doc_id, string_split(LOWER(text), ' ') AS words
              FROM documents WHERE doc_id < 50)
    )
    """,
    tags=("text", "shingle"),
)
def text_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word trigram shingling (the unit MinHash consumes): zip the token
    array against its own 1- and 2-shifted slices — pure array expressions,
    no explode until the final row conversion."""
    t = Tables(spark, sf_dir)
    docs = t.documents.filter(F.col("doc_id") < 50).select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("words")
    )
    w = F.col("words")
    zipped = F.arrays_zip(
        w.alias("a"),
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))).alias("b"),
        F.slice(w, 3, F.greatest(F.size(w) - 2, F.lit(0))).alias("c"),
    )
    shingles = F.transform(
        F.filter(zipped, lambda s: s["c"].isNotNull()),
        lambda s: F.concat_ws(" ", s["a"], s["b"], s["c"]),
    )
    return docs.select("doc_id", F.explode(shingles).alias("shingle"))


_SALT_BUCKETS = 8


@register(
    "join_skew_salted",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, n.n_name AS supp_nation
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE l.l_quantity >= 45
    """,
    tags=("join", "skew"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join: salt the (potentially hot-keyed) fact side
    into N sub-keys and replicate the dimension side N×, so one hot key
    spreads over N shuffle partitions instead of one straggler task. The
    oracle proves result-equality with the plain join — salting is a
    physical rewrite, not a semantic one. (AQE's skew-join handles
    sort-merge skew automatically; explicit salting is the portable form
    that also covers aggregations.)"""
    t = Tables(spark, sf_dir)
    li = (
        t.lineitem.filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_linenumber", "l_suppkey")
        .withColumn("salt", (F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_SALT_BUCKETS))).cast("int"))
    )
    salts = spark.range(_SALT_BUCKETS).select(F.col("id").cast("int").alias("salt"))
    supp = (
        t.supplier.join(t.nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
        .crossJoin(salts)  # replicate dim rows once per salt bucket
    )
    return li.join(
        supp, (li.l_suppkey == supp.s_suppkey) & (li.salt == supp.salt)
    ).select("l_orderkey", "l_linenumber", "supp_nation")


@register(
    "sink_partitioned",
    # the parquet round trip preserves values exactly; the partition
    # column reads back as string (hive layout), hence the VARCHAR cast
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(o_orderstatus AS VARCHAR) AS o_orderstatus
    FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("sink", "partitioning"),
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet write (partitionBy) + partition-
    pruned read-back: the layout that makes 100 TB scans selective — a
    filter on the partition column prunes directories before any I/O."""
    from data_bridge_spark.util import tracked_tempdir

    t = Tables(spark, sf_dir)
    # atexit-tracked: the returned lazy DataFrame still reads this path
    out = tracked_tempdir("dbs_part_") + "/orders_by_status"
    t.orders.select("o_orderkey", "o_totalprice", "o_orderstatus").write.mode(
        "overwrite"
    ).partitionBy("o_orderstatus").parquet(out)
    # read back only one partition — the scan lists a single directory.
    # Explicit schema (known at write time): an EMPTY table writes no
    # data files, and schema inference over _SUCCESS-only dirs fails —
    # with the schema declared the read is a well-typed 0-row scan.
    return (
        spark.read.schema("o_orderkey bigint, o_totalprice double, o_orderstatus string")
        .parquet(out)
        .filter(F.col("o_orderstatus") == "F")
    )


@register(
    "sink_upsert",
    # the upserted table's CONTENT is deterministic even though the
    # operator is a file-layout round trip: the oracle computes the same
    # merge relationally (updated keys repriced, one inserted row)
    oracle="""
    -- NULLIF: the Hive layout canonicalizes '' partition values to NULL
    -- (__HIVE_DEFAULT_PARTITION__) — an explicit, documented contract of
    -- the partition KEY (sinks/writers._canon_partition_values)
    SELECT o_orderkey, o_totalprice,
           NULLIF(CAST(o_orderstatus AS VARCHAR), '') AS o_orderstatus
    FROM (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 13 = 0 THEN 0.0 ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders
        UNION ALL
        SELECT 9999999901, 42.0, 'Z'
    )
    """,
    tags=("sink", "partitioning", "upsert"),
)
def sink_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped MERGE round trip: write orders Hive-partitioned
    by status, upsert a change batch (every 13th key repriced to 0, plus
    one brand-new row in a brand-new partition) through
    sinks.writers.upsert_partitioned_table, read the table back. The
    oracle replays the merge relationally — value-proving that the
    leaf-directory swap neither lost partition neighbors, duplicated
    replaced keys, nor dropped the new partition. The pytest twin
    (tests/test_partitioning.py) additionally proves UNTOUCHED partition
    files stay byte-identical, which SQL cannot see."""
    from data_bridge_spark.sinks.writers import (
        upsert_partitioned_table,
        write_partitioned_table,
    )
    from data_bridge_spark.util import tracked_tempdir

    t = Tables(spark, sf_dir)
    base = t.orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    # atexit-tracked: the returned lazy DataFrame still reads this path
    path = tracked_tempdir("dbs_upsert_") + "/orders_by_status"
    write_partitioned_table(base, path, partition_cols=["o_orderstatus"])
    updates = (
        base.filter(F.col("o_orderkey") % 13 == 0)
        .withColumn("o_totalprice", F.lit(0.0))
        .unionByName(
            local_frame(
                spark,
                [(9999999901, 0.0, "Z")],
                "o_orderkey long, o_totalprice double, o_orderstatus string",
            ).withColumn("o_totalprice", F.lit(42.0))
        )
    )
    upsert_partitioned_table(
        spark, updates, path, partition_cols=["o_orderstatus"], key_cols=["o_orderkey"]
    )
    return spark.read.parquet(path)


@register(
    "sink_csv",
    # the CSV round trip stringifies every column; the oracle applies the
    # same casts, proving the artifact preserved the joined content.
    # NULLIF models the contract's ONE documented lossy value: a genuine
    # string equal to the \N null token is byte-identical to NULL on disk
    # (sinks/writers.py CSV_NULL_TOKEN — no write option separates them)
    # and reads back as NULL. The r10 edgevals corpus carries a literal
    # '\N' nation name precisely so this oracle states the trade instead
    # of the sweep silently never exercising it; every OTHER hostile
    # value (newlines, '', separators) must round-trip exactly
    # (tests/test_csv_fidelity.py).
    oracle=r"""
    SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey,
           NULLIF(n_name, '\N') AS n_name,
           NULLIF(r_name, '\N') AS r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    tags=("sink",),
)
def sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV serialization sink (reference transformutils.py:7-13
    df.to_csv → buffer): write a query result as a single CSV artifact via
    the distributed writer + coalesce(1), read it back. The returned rows
    prove the round trip; DestinationResponse receipts are covered by the
    pipeline e2e tests."""
    from data_bridge_spark.sinks.writers import write_table
    from data_bridge_spark.util import tracked_tempdir

    t = Tables(spark, sf_dir)
    out = t.nation.join(t.region, F.col("n_regionkey") == F.col("r_regionkey")).select(
        "n_nationkey", "n_name", "r_name"
    )
    # atexit-tracked: the returned lazy DataFrame still reads this path
    path = tracked_tempdir("dbs_sink_csv_") + "/nations.csv"
    write_table(out, path, fmt="csv", single_file=True)
    from data_bridge_spark.sinks.writers import CSV_READ_OPTIONS

    return spark.read.options(**CSV_READ_OPTIONS).csv(path)


@register(
    "skyline_pareto",
    oracle="""
    SELECT p_partkey, p_size, p_retailprice
    FROM part a
    WHERE p_partkey < 2000 AND NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_partkey < 2000
          AND b.p_size <= a.p_size AND b.p_retailprice <= a.p_retailprice
          AND (b.p_size < a.p_size OR b.p_retailprice < a.p_retailprice)
    )
    """,
    tags=("skyline",),
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-optimal) query — minimize (p_size, p_retailprice):
    keep parts no other part dominates (per the skyline-in-Spark-SQL line
    of work in PAPERS.md). Expressed as a dominance anti-join; the
    block-nested-loop is bounded here, and at scale the standard trick is
    a grid/angular pre-partition so dominance checks stay partition-local."""
    t = Tables(spark, sf_dir)
    pts = t.part.filter(F.col("p_partkey") < 2000).select(
        "p_partkey", "p_size", "p_retailprice"
    )
    a, b = pts.alias("a"), pts.alias("b")
    dominated = (
        (F.col("b.p_size") <= F.col("a.p_size"))
        & (F.col("b.p_retailprice") <= F.col("a.p_retailprice"))
        & (
            (F.col("b.p_size") < F.col("a.p_size"))
            | (F.col("b.p_retailprice") < F.col("a.p_retailprice"))
        )
    )
    return a.join(b, dominated, "left_anti").select("p_partkey", "p_size", "p_retailprice")


_SKY_BUCKETS = 32


@register(
    "skyline_grid",
    # O(n log n) 2D-skyline oracle (r10) — replaces the correlated
    # NOT-EXISTS form, whose DuckDB plan is a quadratic blockwise loop
    # (133 s at sf1, projected hours at sf10; the new form is <2 s at
    # sf10). Equivalence: a point is undominated iff its price beats
    # every price at a STRICTLY smaller size (running min over the
    # size order, RANGE ..1 PRECEDING) and is the MIN within its own
    # size (ties share the skyline — no strict inequality in the
    # dominance test). NULL size/price rows pass through unfiltered:
    # under the NOT-EXISTS semantics every comparison against them is
    # UNKNOWN, so they are never dominated and never dominate; MIN
    # ignores NULL prices and PARTITION BY isolates NULL sizes, so
    # they cannot contaminate the non-NULL mins either — with the NULL
    # sort position pinned by ASC NULLS LAST rather than inherited from
    # DuckDB's default_null_order (r11, ADVICE). A/B-verified
    # against the NOT-EXISTS form at sf0.001/sf0.01/sf0.1 plus
    # NULL/duplicate/empty/single synthetic cases (EXCEPT both ways,
    # zero diffs).
    oracle="""
    WITH t AS (
        SELECT p_partkey, p_size, p_retailprice,
               MIN(p_retailprice) OVER (
                   ORDER BY p_size ASC NULLS LAST
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_lt,
               MIN(p_retailprice) OVER (PARTITION BY p_size) AS min_eq
        FROM part
    )
    SELECT p_partkey, p_size, p_retailprice
    FROM t
    WHERE p_size IS NULL OR p_retailprice IS NULL
       OR ((min_lt IS NULL OR min_lt > p_retailprice) AND p_retailprice = min_eq)
    """,
    tags=("skyline", "scale"),
)
def skyline_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed two-phase skyline over the FULL part table — the scale
    path ``skyline_pareto``'s docstring promises. Key property: for ANY
    partitioning of the points, the global skyline is a subset of the
    union of per-partition skylines (a globally undominated point is
    undominated in its own partition). So phase 1 computes local skylines
    inside hash buckets — the dominance anti-join carries an a.grp=b.grp
    equi-component, so it plans as a shuffled equi-join (NOT a nested
    loop) and the quadratic term is bounded by bucket size — and phase 2
    re-runs the dominance anti-join on the small surviving candidate set
    only. Identical result to the naive all-pairs skyline, one bounded
    shuffle instead of an O(N^2) block loop."""
    t = Tables(spark, sf_dir)
    pts = t.part.select("p_partkey", "p_size", "p_retailprice").withColumn(
        "grp", F.pmod(F.xxhash64(F.col("p_partkey")), F.lit(_SKY_BUCKETS))
    )

    def undominated(df: DataFrame, bucket_local: bool) -> DataFrame:
        a, b = df.alias("a"), df.alias("b")
        cond = (
            (F.col("b.p_size") <= F.col("a.p_size"))
            & (F.col("b.p_retailprice") <= F.col("a.p_retailprice"))
            & (
                (F.col("b.p_size") < F.col("a.p_size"))
                | (F.col("b.p_retailprice") < F.col("a.p_retailprice"))
            )
        )
        if bucket_local:
            cond = (F.col("a.grp") == F.col("b.grp")) & cond
        return a.join(b, cond, "left_anti")

    local = undominated(pts, bucket_local=True)
    return undominated(local, bucket_local=False).select(
        "p_partkey", "p_size", "p_retailprice"
    )


@register(
    "udtf_expand",
    oracle="""
    SELECT o_orderkey, part, amount FROM (
        SELECT o_orderkey, 'net' AS part, o_totalprice * 0.8 AS amount
        FROM orders WHERE o_orderkey < 200
        UNION ALL
        SELECT o_orderkey, 'tax', o_totalprice * 0.2
        FROM orders WHERE o_orderkey < 200
    )
    """,
    tags=("udtf",),
)
def udtf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): one input row → N output rows with
    computed columns — the Spark-4 native form of the reference's
    row-expanding transforms. Arrow-batched like pandas UDFs."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="o_orderkey bigint, part string, amount double")
    class SplitCharges:
        def eval(self, o_orderkey: int, o_totalprice: float):
            # NULL price -> NULL amounts, like the oracle's NULL * 0.8
            net = None if o_totalprice is None else o_totalprice * 0.8
            tax = None if o_totalprice is None else o_totalprice * 0.2
            yield o_orderkey, "net", net
            yield o_orderkey, "tax", tax

    src = Tables(spark, sf_dir).orders.filter(F.col("o_orderkey") < 200)
    # a lateral join on the UDTF call leaves the session catalog alone
    charges = SplitCharges(F.col("o_orderkey").outer(), F.col("o_totalprice").outer())
    return src.lateralJoin(charges.alias("s")).select("s.*")


_BJ_SEGMENT = "BUILDING"
_BJ_M = 1 << 20  # bloom bits (multiple of 64); sized so k*n/m stays small
# (~30k BUILDING keys at sf0.1 -> FP ~6e-4; the 2^16 first draft had a
# 42% FP rate — a prefilter that barely filters. m grows with |dim keys|
# at scale: 10^9 bits is a 16M-row lane table, ~128 MB to broadcast.)
_BJ_K = 3  # probes per key


def _bj_pos(key: F.Column, seed: int) -> F.Column:
    """Bloom probe position for a join key: xxhash64 with a distinct
    seed, folded into [0, m). JVM-side, codegen'd."""
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(_BJ_M))


@register(
    "join_bloom_prefilter",
    oracle=f"""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = '{_BJ_SEGMENT}'
    """,
    tags=("join", "bloom", "runtime-filter"),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction via an explicit Bloom runtime filter — the
    relational twin of text_decontaminate_bloom's lane-table pattern, and
    the hand-rolled form of Spark's own row-level runtime filtering
    (spark.sql.optimizer.runtime.bloomFilter): when the filtered dim's
    key set is too large to broadcast as a hash relation but the fact
    side is huge, fold the keys into an m-bit bitmap stored as (word,
    64-bit lane) rows — bytes per BIT — and prefilter the fact with k
    lane joins (broadcast by the planner from the lane table's size) +
    bitwise-AND before the one exact shuffle join that removes the
    bloom's false positives. The exact join keeps the
    output value-identical to the plain join (the shared oracle proves
    it); the bloom only shrinks what the shuffle carries — at 100 TB the
    exchange carries ~selectivity x fact rows instead of all of them.

    m=2^20/k=3 sizes the demo (~30k keys -> FP ~6e-4; the 2^16 first
    draft saturated to a 42% FP rate); production m scales with the dim
    key count (10^9 bits is a 16M-row lane table, ~128 MB)."""
    t = Tables(spark, sf_dir)
    dim = t.customer.where(F.col("c_mktsegment") == _BJ_SEGMENT).select(
        "c_custkey"
    ).transform(fence)
    lanes = (
        dim.select(
            F.explode(
                F.array(*[_bj_pos(F.col("c_custkey"), i) for i in range(_BJ_K)])
            ).alias("pos")
        )
        .select(
            F.floor(F.col("pos") / 64).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
    )
    fact = t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
    for i in range(_BJ_K):
        lane = lanes.select(F.col("w").alias(f"w{i}"), F.col("bits").alias(f"bits{i}"))
        mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos{i}, 64) AS INT))")
        fact = (
            fact.withColumn(f"pos{i}", _bj_pos(F.col("o_custkey"), i))
            .join(
                lane,
                F.floor(F.col(f"pos{i}") / 64) == F.col(f"w{i}"),
                "inner",
            )
            .filter(F.col(f"bits{i}").bitwiseAND(mask) != 0)
            .drop(f"w{i}", f"bits{i}", f"pos{i}")
        )
    return fact.join(dim, fact.o_custkey == dim.c_custkey).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@register(
    "sink_json",
    # JSON keeps types through an explicit read schema (no stringify, no
    # inference): the oracle is the plain join the artifact must preserve
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    tags=("sink", "json"),
)
def sink_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines serialization sink — the API-handoff twin of sink_csv
    (A11): write a query result as a single JSON-lines artifact via the
    distributed writer + coalesce(1), read it back under the WRITER's
    schema (explicit — schema inference on read is a second engine
    opinion the round trip must not depend on). The oracle proves the
    artifact preserved the joined content exactly, types included."""
    from data_bridge_spark.sinks.writers import write_table
    from data_bridge_spark.util import tracked_tempdir

    t = Tables(spark, sf_dir)
    out = t.nation.join(t.region, F.col("n_regionkey") == F.col("r_regionkey")).select(
        "n_nationkey", "n_name", "r_name"
    )
    path = tracked_tempdir("dbs_sink_json_") + "/nations.json"
    write_table(out, path, fmt="json", single_file=True)
    return spark.read.schema(out.schema).json(path)
