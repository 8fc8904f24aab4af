"""Warehouse-maintenance operators: SCD2 merge emulation.

Spark without a table format (Delta/Iceberg, not in this environment) has
no MERGE INTO; the classic emulation is anti-join + union with validity
interval bookkeeping — expressed here as one deterministic lazy plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.session import fence
from data_bridge_spark.registry import register

_AS_OF = "2024-06-01"
_OPEN_END = "9999-12-31"


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    compare_cols: list[str],
    as_of: str,
) -> DataFrame:
    """Slowly-changing-dimension type 2 merge.

    ``current`` rows carry (valid_from, valid_to); ``updates`` is the new
    snapshot for some keys. Result:
    - rows whose key is not updated, or whose attributes are unchanged →
      kept as-is;
    - changed keys → the old row closed out (valid_to = as_of) PLUS a new
      open row (valid_from = as_of, valid_to = open-end);
    - brand-new keys → inserted open.
    Three hash-partitionable joins + a union — no MERGE primitive needed.
    """
    changed_cond = " OR ".join(f"(u.{c} IS DISTINCT FROM c.{c})" for c in compare_cols)
    c, u = current.alias("c"), updates.alias("u")
    joined = c.join(u, F.col(f"c.{key}") == F.col(f"u.{key}"), "left")

    unchanged = joined.filter(
        F.col(f"u.{key}").isNull() | ~F.expr(changed_cond)
    ).select("c.*")

    closed = joined.filter(F.col(f"u.{key}").isNotNull() & F.expr(changed_cond)).select(
        *[F.col(f"c.{col}") for col in current.columns if col != "valid_to"],
        F.lit(as_of).cast("date").alias("valid_to"),
    )

    new_versions = (
        u.join(c, F.col(f"c.{key}") == F.col(f"u.{key}"), "left")
        .filter(F.col(f"c.{key}").isNull() | F.expr(changed_cond))
        .select(
            "u.*",
            F.lit(as_of).cast("date").alias("valid_from"),
            F.lit(_OPEN_END).cast("date").alias("valid_to"),
        )
    )
    return unchanged.unionByName(closed).unionByName(new_versions)


@register(
    "scd2_merge",
    oracle=f"""
    WITH current AS (
        SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
               DATE '2020-01-01' AS valid_from, DATE '{_OPEN_END}' AS valid_to
        FROM customer
    ),
    updates AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 'MACHINERY'
                    ELSE c_mktsegment END AS c_mktsegment,
               ROUND(c_acctbal + 100.0, 2) AS c_acctbal
        FROM customer WHERE c_custkey % 7 = 0
    ),
    changed AS (
        SELECT u.* FROM updates u JOIN current c USING (c_custkey)
        WHERE u.c_mktsegment IS DISTINCT FROM c.c_mktsegment
           OR u.c_acctbal IS DISTINCT FROM c.c_acctbal
    )
    SELECT c.c_custkey, c.c_name, c.c_mktsegment, c.c_acctbal,
           c.valid_from, c.valid_to
    FROM current c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM changed)
    UNION ALL
    SELECT c.c_custkey, c.c_name, c.c_mktsegment, c.c_acctbal,
           c.valid_from, DATE '{_AS_OF}' AS valid_to
    FROM current c WHERE c.c_custkey IN (SELECT c_custkey FROM changed)
    UNION ALL
    SELECT ch.c_custkey, ch.c_name, ch.c_mktsegment, ch.c_acctbal,
           DATE '{_AS_OF}' AS valid_from, DATE '{_OPEN_END}' AS valid_to
    FROM changed ch
    """,
    tags=("warehouse", "scd2"),
)
def scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge: customers get a synthetic update snapshot (every 7th
    key changes segment + balance); the merge closes old versions and
    opens new ones. Oracle replays the same logic in SQL."""
    t = Tables(spark, sf_dir)
    current = t.customer.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        "c_acctbal",
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(_OPEN_END).cast("date").alias("valid_to"),
    )
    updates = t.customer.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_mktsegment") == "BUILDING", "MACHINERY")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
    )
    return scd2_apply(
        current, updates, "c_custkey", ["c_mktsegment", "c_acctbal"], _AS_OF
    )


# FK edges of the test schema: (edge label, child table, child key,
# parent table, parent key). lineitem/orders child sides are fact-sized
# (shuffle anti-join); the dim parents broadcast.
_FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


@register(
    "fk_integrity_audit",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{label}' AS edge,
           COUNT(*) AS n_child,
           COUNT(*) FILTER (WHERE NOT EXISTS (
               SELECT 1 FROM {parent} p WHERE p.{pkey} = c.{ckey}
           )) AS n_orphans
    FROM {child} c
    """
        for label, child, ckey, parent, pkey in _FK_EDGES
    ),
    tags=("warehouse", "dq", "anti", "audit"),
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: per FK edge, child rowcount and
    orphan count (child keys with no parent) — the pre-flight check a
    warehouse load or training-data join pipeline runs before trusting
    its joins. Edges sharing a child table are FUSED onto one scan: the
    three lineitem edges ride a single pass (three chained 1:≤1 left
    joins against DISTINCT parent keys — orders hash-join, part/supplier
    broadcast — then one aggregate unpivoted to edge rows via stack).
    At 100 TB the audit is scan-bound, so one read of the biggest fact
    instead of three is the number that matters; the remaining edges are
    one left join + 1-row aggregate each, and everything unions into a
    single lazy plan.

    The orders edge is the only fact-fact join, and it only needs
    per-orderkey counts — so the scan partially aggregates per
    l_orderkey BELOW the shuffle (part/supplier orphan flags are
    broadcast-join map-side, so their counts fold into the same partial
    agg): the orderkey exchange then carries one 4-long row per distinct
    key instead of every lineitem row, the same below-join rewrite
    flagship_report uses.

    r12: the per-orderkey table is FENCED and consumed twice — the
    totals scalar sums it directly (no join needed for n_child /
    p_orph / s_orph), and the orders edge becomes a left ANTI join
    whose output is only the orphan keys (normally ~none), so the
    final aggregate reads ~0 rows instead of every orderkey. The anti
    join is duplicate-safe, so the orders side needs no DISTINCT
    aggregate at all — at 100 TB that removes a full hash aggregation
    over the orders fact. Semantics are unchanged on ANY data (an anti
    join never multiplies, unlike dropping the distinct from the old
    left join). Isolated A/B at sf0.1 (noop, min of 3, twice):
    2.09/1.56 s -> 0.72/0.75 s."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_partkey", "l_suppkey")
    pk = t.part.select(F.col("p_partkey").alias("__pk")).distinct()
    sk = t.supplier.select(F.col("s_suppkey").alias("__sk")).distinct()
    # r13: cut fence — interleaved mechanism A/B 1.11-1.13x over the
    # persist cache for this query (the tools/ab.py fence A/B)
    per_key = fence(
        li.join(F.broadcast(pk), F.col("l_partkey") == F.col("__pk"), "left")
        .join(F.broadcast(sk), F.col("l_suppkey") == F.col("__sk"), "left")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.count_if(F.col("__pk").isNull()).alias("__p_orph"),
            F.count_if(F.col("__sk").isNull()).alias("__s_orph"),
        ),
        cut=True,
    )
    # coalesce: SUM over an empty child is NULL, but the audit's
    # contract (COUNT semantics, matching the oracle) is 0
    zero = F.lit(0).cast("long")
    tot = per_key.agg(
        F.coalesce(F.sum("__n"), zero).alias("n_child"),
        F.coalesce(F.sum("__p_orph"), zero).alias("p_orph"),
        F.coalesce(F.sum("__s_orph"), zero).alias("s_orph"),
    )
    orph = per_key.join(
        t.orders.select(F.col("o_orderkey").alias("__ok")),
        F.col("l_orderkey") == F.col("__ok"),
        "left_anti",
    ).agg(F.coalesce(F.sum("__n"), zero).alias("o_orph"))
    # two 1-row scalars — the crossJoin is a broadcast scalar edge
    out = tot.crossJoin(F.broadcast(orph)).selectExpr(
        """stack(3,
           'lineitem.l_orderkey->orders', n_child, o_orph,
           'lineitem.l_partkey->part', n_child, p_orph,
           'lineitem.l_suppkey->supplier', n_child, s_orph
        ) AS (edge, n_child, n_orphans)"""
    )
    # r12 (optimization): orders->customer is the one remaining edge with
    # a fact-scale parent, and its left-join-against-DISTINCT-keys form
    # pays a full hash aggregation + exchange over customer just to make
    # the join 1:<=1. The anti-join form needs no DISTINCT at all (an
    # anti join never multiplies): n_child is a bare COUNT(*) of orders
    # (empty ReadSchema scan) and n_orphans counts the anti-join
    # survivors (~none). NULL custkeys count as orphans in both forms —
    # a NULL key can never satisfy the join condition. Same rewrite the
    # lineitem->orders edge got earlier this round; semantics match the
    # oracle's NOT EXISTS on ANY data, not just duplicate-free parents.
    label0, child0, ckey0, parent0, pkey0 = _FK_EDGES[3]
    o_child = getattr(t, child0).select(F.col(ckey0).alias("__ck"))
    n_child0 = o_child.agg(F.count(F.lit(1)).alias("n_child"))
    n_orph0 = o_child.join(
        getattr(t, parent0).select(F.col(pkey0).alias("__pk")),
        F.col("__ck") == F.col("__pk"),
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("n_orphans"))
    out = out.unionByName(
        n_child0.crossJoin(F.broadcast(n_orph0)).select(
            F.lit(label0).alias("edge"), "n_child", "n_orphans"
        )
    )
    for label, child, ckey, parent, pkey in _FK_EDGES[4:]:
        parent_keys = (
            getattr(t, parent).select(F.col(pkey).alias("__pk")).distinct()
        )
        joined = getattr(t, child).select(F.col(ckey).alias("__ck")).join(
            parent_keys, F.col("__ck") == F.col("__pk"), "left"
        )
        out = out.unionByName(
            joined.agg(
                F.count(F.lit(1)).alias("n_child"),
                F.count_if(F.col("__pk").isNull()).alias("n_orphans"),
            ).select(F.lit(label).alias("edge"), "n_child", "n_orphans")
        )
    return out


# --- snapshot diff -----------------------------------------------------------


def diff_tables(
    old: DataFrame, new: DataFrame, key: str, compare_cols: list[str]
) -> DataFrame:
    """Generic keyed table-version diff: rows classified added / removed /
    changed (unchanged rows dropped inside the join — output ∝ churn).
    Attribute comparison is null-safe (`eqNullSafe`), so NULL→value and
    value→NULL edits are changes, not misses; see the pytest in
    tests/test_operators.py for the four-quadrant behavior."""
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    return joined.filter(
        F.col(f"o.{key}").isNull() | F.col(f"n.{key}").isNull() | changed
    ).select(
        F.when(F.col(f"o.{key}").isNull(), "added")
        .when(F.col(f"n.{key}").isNull(), "removed")
        .otherwise("changed")
        .alias("change_type"),
        F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}")).alias(key),
        *[F.col(f"o.{c}").alias(f"old_{c}") for c in compare_cols],
        *[F.col(f"n.{c}").alias(f"new_{c}") for c in compare_cols],
    )


# Synthetic "new snapshot" of customer, derived deterministically so the
# diff exercises all three change classes: every 5th key changes segment,
# every 11th key is deleted, and every 13th key re-appears under a
# shifted key (an insert). Same pattern as scd2_merge's update feed.
_DIFF_CHANGED_MOD = 5
_DIFF_REMOVED_MOD = 11
_DIFF_ADDED_MOD = 13
_DIFF_ADDED_SHIFT = 1_000_000


@register(
    "snapshot_diff",
    oracle=f"""
    WITH old AS (
        SELECT c_custkey, c_mktsegment FROM customer
    ),
    new AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % {_DIFF_CHANGED_MOD} = 0
                    THEN 'SEG_' || c_mktsegment ELSE c_mktsegment END AS c_mktsegment
        FROM customer WHERE c_custkey % {_DIFF_REMOVED_MOD} <> 0
        UNION ALL
        SELECT c_custkey + {_DIFF_ADDED_SHIFT}, c_mktsegment
        FROM customer WHERE c_custkey % {_DIFF_ADDED_MOD} = 0
    )
    SELECT CASE WHEN o.c_custkey IS NULL THEN 'added'
                WHEN n.c_custkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
           o.c_mktsegment AS old_segment,
           n.c_mktsegment AS new_segment
    FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
       OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
    """,
    tags=("warehouse", "diff"),
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version diff — the added/removed/changed classification
    between two snapshots of a keyed table, the audit primitive behind
    lake time-travel comparisons, replication validation, and CDC
    backfills (here on two deterministic customer snapshots).

    One full outer join on the key — both sides hash-partition on
    c_custkey, so the exchange is co-located, and the unchanged mass
    (the overwhelming majority at 100 TB) is dropped inside the join's
    output filter without ever being collected or re-shuffled; the diff
    result is proportional to the churn, not the table. Attribute
    comparison uses null-safe inequality (IS DISTINCT FROM), so NULL→
    value and value→NULL edits are real changes, not misses."""
    t = Tables(spark, sf_dir)
    old = t.customer.select("c_custkey", "c_mktsegment")
    new = (
        t.customer.filter(F.col("c_custkey") % _DIFF_REMOVED_MOD != 0)
        .select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % _DIFF_CHANGED_MOD == 0,
                F.concat(F.lit("SEG_"), F.col("c_mktsegment")),
            )
            .otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
        )
        .unionByName(
            t.customer.filter(F.col("c_custkey") % _DIFF_ADDED_MOD == 0).select(
                (F.col("c_custkey") + _DIFF_ADDED_SHIFT).alias("c_custkey"),
                "c_mktsegment",
            )
        )
    )
    return (
        diff_tables(old, new, "c_custkey", ["c_mktsegment"])
        .withColumnRenamed("old_c_mktsegment", "old_segment")
        .withColumnRenamed("new_c_mktsegment", "new_segment")
    )


@register(
    "table_checksum",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST(('0x' || substr(MD5(
                  COALESCE(CAST(c_custkey AS VARCHAR), '__NULL__') || '|'
                  || COALESCE(c_name, '__NULL__') || '|'
                  || COALESCE(c_mktsegment, '__NULL__')
               ), 1, 12)) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS checksum
    FROM customer
    """,
    tags=("warehouse", "integrity"),
)
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table content fingerprint: per-row md5 over a
    canonical '|'-joined column encoding, folded with an exact decimal
    SUM — equal tables give equal checksums on ANY engine, partitioning,
    or row order, which is what makes this the cheap cross-cluster
    equality check for replicated 100 TB tables (one scan, map-side
    partial sums, a 1-row exchange; compare one string per replica).

    md5 (not xxhash64) so any SQL engine can replay it; the summed
    48-bit hash prefixes ride an exact DECIMAL(38,0) — no modular
    truncation, no float, headroom to ~10^23 rows. Keyless/unordered by
    construction: a moved row changes nothing, a single flipped byte
    changes the sum. Demo columns are int/string; production wrappers
    canonicalize floats to fixed-scale decimal strings first (engines
    disagree on float formatting, the one encoding rule this pattern
    needs)."""
    t = Tables(spark, sf_dir)
    # NULLs are encoded with an explicit sentinel: concat_ws SKIPS null
    # elements, so ('a', NULL) and (NULL, 'a') would hash identically
    # (and diverge from the oracle's NULL-propagating ||) — coalescing
    # each column first makes the canonical encoding total and keeps the
    # checksum sensitive to which column was NULL
    nn = lambda c: F.coalesce(c.cast("string"), F.lit("__NULL__"))  # noqa: E731
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    nn(F.col("c_custkey")),
                    nn(F.col("c_name")),
                    nn(F.col("c_mktsegment")),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    return t.customer.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h.cast("decimal(38,0)")).cast("string").alias("checksum"),
    )


_PIT_SPLIT = "1996-07-01"  # mid-range of o_orderdate: versions change here


@register(
    "join_point_in_time",
    oracle=f"""
    WITH versions AS (
        SELECT c_custkey, c_mktsegment, c_acctbal,
               DATE '1992-01-01' AS valid_from, DATE '{_PIT_SPLIT}' AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 'MACHINERY'
                    ELSE c_mktsegment END AS c_mktsegment,
               ROUND(c_acctbal + 100.0, 2) AS c_acctbal,
               DATE '{_PIT_SPLIT}' AS valid_from, DATE '9999-12-31' AS valid_to
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey, c_mktsegment, c_acctbal,
               DATE '{_PIT_SPLIT}' AS valid_from, DATE '9999-12-31' AS valid_to
        FROM customer WHERE c_custkey % 7 <> 0
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           v.c_mktsegment AS segment_at_order, v.c_acctbal AS acctbal_at_order
    FROM orders o
    JOIN versions v
      ON v.c_custkey = o.o_custkey
     AND CAST(o.o_orderdate AS DATE) >= v.valid_from
     AND CAST(o.o_orderdate AS DATE) <  v.valid_to
    """,
    tags=("warehouse", "scd2", "asof", "feature-store"),
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join: each fact row joined to the dimension
    VERSION that was valid at the fact's own timestamp — the
    feature-store correctness primitive (training features must reflect
    what was known at event time; joining the current dim silently leaks
    the future into training data). The versioned dim here is the SCD2
    construction (scd2_merge) with a mid-history change date so both
    sides of the validity split are exercised.

    Plan shape: an EQUI-join on the entity key carries the work
    (hash-partitionable; AQE skew-splits hot keys), with the validity
    range as a residual predicate evaluated inside the join — per key
    the version count is small (SCD2 version chains), so the residual
    scan is O(versions-per-key), never an interval BNLJ. This is the
    standard PIT shape at any scale: facts shuffle once on the key,
    versions shuffle once on the key, nothing explodes."""
    t = Tables(spark, sf_dir)
    # r12: base feeds three version branches (v1, changed, kept) — fence
    # the 3-column projection so customer is scanned once, not three times
    # (r13: a cut — mechanism A/B 1.13x, the tools/ab.py fence A/B)
    base = fence(t.customer.select("c_custkey", "c_mktsegment", "c_acctbal"), cut=True)
    split = F.lit(_PIT_SPLIT).cast("date")
    openend = F.lit("9999-12-31").cast("date")
    v1 = base.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.lit("1992-01-01").cast("date").alias("valid_from"), split.alias("valid_to"),
    )
    changed = base.where(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "BUILDING", "MACHINERY")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
        split.alias("valid_from"), openend.alias("valid_to"),
    )
    kept = base.where(F.col("c_custkey") % 7 != 0).select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        split.alias("valid_from"), openend.alias("valid_to"),
    )
    versions = v1.unionByName(changed).unionByName(kept)
    od = F.col("o_orderdate").cast("date")
    return (
        t.orders.join(
            versions,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (od >= F.col("valid_from"))
            & (od < F.col("valid_to")),
        )
        .select(
            "o_orderkey", "o_custkey", "o_orderdate",
            F.col("c_mktsegment").alias("segment_at_order"),
            F.col("c_acctbal").alias("acctbal_at_order"),
        )
    )
