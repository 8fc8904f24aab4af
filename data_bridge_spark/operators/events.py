"""Event/time-series operators over the `events` table (SURVEY.md §2D).

Batch-mode equivalents of the streaming windows (oracle-checkable against
DuckDB); `streaming/windows.py` runs the same logic as Structured
Streaming with watermarks. Window starts are computed with epoch
arithmetic so both engines bucket identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.functions.exact import dsum
from data_bridge_spark.registry import register


@register(
    "win_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE ts IS NOT NULL  -- F.window drops NULL-ts rows; make it explicit on both sides
    GROUP BY 1, 2
    """,
    tags=("events", "window"),
)
def win_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute windows (streaming's bread-and-butter agg in
    batch form): `F.window` buckets rows; one shuffle on (window, type)."""
    t = Tables(spark, sf_dir)
    # NULL ts is not an observation: F.window drops such rows silently
    # (DuckDB's time_bucket would group them) — the exclusion is explicit
    return (
        t.events.where(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


@register(
    "win_sliding",
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes', ts) - k * INTERVAL '5 minutes' AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events, UNNEST([0, 1]) AS t(k)
    WHERE ts IS NOT NULL
    GROUP BY 1
    """,
    tags=("events", "window"),
)
def win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 10-minute length, 5-minute slide — every event
    lands in 2 windows (Spark's F.window handles replication; the oracle
    replicates via UNNEST)."""
    t = Tables(spark, sf_dir)
    return (
        t.events.where(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


@register(
    "win_session",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), sessions AS (
        SELECT user_id, ts, event_id,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_id
        FROM gaps
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=("events", "session"),
)
def win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-minute inactivity gap): lag → gap flag → running
    sum = session id, then per-session aggregates. Batch equivalent of
    streaming `session_window`; one shuffle on user_id serves all three
    window steps."""
    t = Tables(spark, sf_dir)
    # NULLS LAST ordering (DuckDB's default); and the new-session flag
    # tests LAG IS NULL explicitly, not gap IS NULL — a NULL-ts row after
    # a timed row has a NULL gap but must NOT start a session (the
    # oracle's `gap > 30min OR LAG IS NULL` is not-true there)
    order = [F.col("ts").asc_nulls_last(), F.col("event_id").asc()]
    w = W.partitionBy("user_id").orderBy(*order)
    epoch = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1_000_000)
    lag_epoch = F.lag(epoch).over(w)
    gap = epoch - lag_epoch
    flagged = t.events.select("user_id", "ts", "event_id").withColumn(
        "new_session", F.when((gap > 1800) | lag_epoch.isNull(), 1).otherwise(0)
    )
    run = W.partitionBy("user_id").orderBy(*order).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(run))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "asof_last_purchase",
    oracle="""
    SELECT event_id, user_id, ts, event_type,
           LAST_VALUE(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_purchase_ts
    FROM events
    WHERE user_id <= 50
    """,
    tags=("events", "asof"),
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as a window: for each event, the timestamp of
    the user's most recent *prior* 'purchase' event. Spark has no native
    as-of join; last_value(ignorenulls) over an ordered frame is the
    shuffle-minimal composition (one exchange on user_id)."""
    t = Tables(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc_nulls_last(), F.col("event_id").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    purchase_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    return t.events.filter(F.col("user_id") <= 50).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(purchase_ts, ignorenulls=True).over(w).alias("prev_purchase_ts"),
    )


@register(
    "events_funnel",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
    SELECT v.user_id,
           CASE WHEN p.user_id IS NOT NULL THEN 3
                WHEN c.user_id IS NOT NULL THEN 2
                ELSE 1 END AS funnel_stage,
           v.t1 AS first_view, c.t2 AS first_click_after, p.t3 AS first_purchase_after
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
    tags=("events", "funnel"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase, strictly in sequence):
    stage timestamps chain through min-after-previous-stage aggregations.
    Three hash aggregations + two left joins, all on user_id — one
    partitioning serves the whole funnel at scale."""
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "event_type", "ts")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .alias("funnel_stage"),
            F.col("t1").alias("first_view"),
            F.col("t2").alias("first_click_after"),
            F.col("t3").alias("first_purchase_after"),
        )
    )


@register(
    "asof_merge_pandas",
    oracle="""
    SELECT event_id, user_id, ts, event_type,
           LAST_VALUE(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_purchase_ts
    FROM events
    WHERE user_id <= 50
    """,
    tags=("events", "asof", "udf"),
)
def asof_merge_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via per-group pandas merge_asof (the guide's other
    canonical formulation) — same semantics as asof_last_purchase's
    window form, and the shared oracle proves the two implementations
    agree. Use this shape when the as-of logic outgrows window functions
    (tolerance bounds, nearest-direction, multi-column asof)."""
    import pandas as pd

    t = Tables(spark, sf_dir)
    ev = t.events.filter(F.col("user_id") <= 50).select(
        "event_id", "user_id", "ts", "event_type"
    )
    # the pandas boundary carries ts as two exact integers — epoch SECONDS
    # and sub-second MICROS — never as a timestamp or single micros value:
    # (a) pandas' ns-epoch datetime range caps at 2262-04-11, so a
    # far-future timestamp overflows the Arrow->pandas conversion, and
    # (b) pandas coerces nullable int64 to float64, whose 2^53 integer
    # ceiling silently rounds a year-9999 micros value by ~14us (both
    # found by the r9 edgevals fixture). Each split component stays well
    # under 2^53, so the float64 detour is lossless; the timestamps are
    # rebuilt JVM-side after the group apply. NULL ts arrives as NaN —
    # pandas sorts it last, matching the engine's NULLS LAST contract.
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev_split = ev.select(
        "event_id",
        "user_id",
        (ts_us - F.pmod(ts_us, F.lit(1_000_000))).cast("long").alias("us0"),
        F.pmod(ts_us, F.lit(1_000_000)).cast("long").alias("ts_f"),
        "event_type",
    ).withColumn("ts_s", (F.col("us0") / F.lit(1_000_000)).cast("long")).drop("us0")

    def asof(pdf: pd.DataFrame) -> pd.DataFrame:
        # sort by (ts_s, ts_f, event_id) — the strictly-before scan below
        # is exactly merge_asof(direction="backward",
        # allow_exact_matches=False) with a deterministic event_id tiebreak
        pdf = pdf.sort_values(["ts_s", "ts_f", "event_id"]).reset_index(drop=True)
        is_purchase = pdf["event_type"] == "purchase"
        # the (s, f) pair is masked and ffilled by the same predicate, so
        # the components stay paired
        prev_s = pdf["ts_s"].where(is_purchase).ffill().shift(1)
        prev_f = pdf["ts_f"].where(is_purchase).ffill().shift(1)
        # nullable Int64 so NULLs cross Arrow as nulls, never NaN-to-long
        pdf["prev_s"] = prev_s.astype("Int64")
        pdf["prev_f"] = prev_f.astype("Int64")
        pdf["ts_s"] = pdf["ts_s"].astype("Int64")
        pdf["ts_f"] = pdf["ts_f"].astype("Int64")
        return pdf[
            ["event_id", "user_id", "ts_s", "ts_f", "event_type", "prev_s", "prev_f"]
        ]

    out = ev_split.groupBy("user_id").applyInPandas(
        asof,
        schema="event_id long, user_id long, ts_s long, ts_f long, "
        "event_type string, prev_s long, prev_f long",
    )
    rebuild = lambda s, f: F.timestamp_micros(  # noqa: E731
        F.col(s) * F.lit(1_000_000) + F.col(f)
    ).cast("timestamp_ntz")
    return out.select(
        "event_id",
        "user_id",
        rebuild("ts_s", "ts_f").alias("ts"),
        "event_type",
        rebuild("prev_s", "prev_f").alias("prev_purchase_ts"),
    )


@register(
    "events_pivot",
    oracle="""
    SELECT user_id,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup
    FROM events
    GROUP BY user_id
    """,
    tags=("events", "pivot"),
)
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event counts per user by type. Explicit value list keeps the
    plan a single-pass pivot (no extra distinct scan to discover values)."""
    t = Tables(spark, sf_dir)
    types = ["click", "view", "purchase", "error", "signup"]
    return (
        t.events.groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
        .select("user_id", *[F.col(c).alias(c) for c in types])
    )


_PATH_TOPK = 25


@register(
    "events_top_paths",
    oracle=f"""
    WITH seqs AS (
        SELECT user_id, list(event_type ORDER BY ts, event_id) AS l
        FROM events GROUP BY user_id
    ),
    ix AS (
        SELECT user_id, l, unnest(generate_series(1, len(l) - 2)) AS i FROM seqs
    ),
    tri AS (
        SELECT l[i] || '>' || l[i + 1] || '>' || l[i + 2] AS path FROM ix
    )
    SELECT path, COUNT(*) AS n
    FROM tri GROUP BY path
    ORDER BY n DESC, path ASC
    LIMIT {_PATH_TOPK}
    """,
    tags=("events", "sequence", "pathing"),
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event paths: the most frequent 3-event sequences across all
    user timelines — clickstream path mining (the "what do users do
    next" query behind funnel design). Each user's events collapse to
    one ordered array (shuffle on user_id, array bounded by per-user
    cardinality), trigrams come from zipping the array with its two
    shifted selves (slice + arrays_zip — pure JVM expressions, same
    device as text_bigram_lm), and the count + top-k is a map-side-
    combinable exchange on the path string with a TakeOrdered and a
    path tiebreak. Paths are strings and counts integers — hash-exact
    by construction."""
    t = Tables(spark, sf_dir)
    seq = (
        t.events.groupBy("user_id")
        .agg(
            # An explicit (ts IS NULL) flag leads the sort struct: Spark's
            # struct ordering compares fields NULLS FIRST while the
            # oracle's ORDER BY ts sorts NULLS LAST — the flag puts the
            # untimed tail last on both engines with no sentinel value a
            # real timestamp could collide with (ties broken by the
            # non-null event_id either way)
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("ts").isNull().cast("int").alias("ts_missing"),
                            "ts",
                            "event_id",
                            "event_type",
                        )
                    )
                ),
                lambda s: s["event_type"],
            ).alias("seq")
        )
    )
    n2 = F.greatest(F.size(F.col("seq")) - 2, F.lit(0))
    tri = seq.select(
        F.explode(
            F.arrays_zip(
                F.slice("seq", 1, n2).alias("a"),
                F.slice("seq", 2, n2).alias("b"),
                F.slice("seq", 3, n2).alias("c"),
            )
        ).alias("t")
    ).select(
        # F.concat (not concat_ws): a NULL event_type inside a trigram
        # must NULL the whole path, exactly like the oracle's || chain —
        # concat_ws would silently SKIP the null segment and mint a
        # different path string
        F.concat(F.col("t.a"), F.lit(">"), F.col("t.b"), F.lit(">"), F.col("t.c")).alias("path")
    )
    return (
        tri.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(_PATH_TOPK)
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH pairs AS (
        SELECT event_type AS cur,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS nxt
        FROM events
    )
    SELECT cur, nxt, COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE)
               / CAST(SUM(COUNT(*)) OVER (PARTITION BY cur) AS DOUBLE) AS p
    FROM pairs WHERE nxt IS NOT NULL
    GROUP BY cur, nxt
    """,
    tags=("events", "sequence", "markov"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams: for
    every (current, next) event-type pair, the transition count and the
    row-normalized probability P(next | current) — the model behind
    next-action prediction and journey simulation (complements
    events_top_paths' raw trigram mining; ref runs this class of
    sequence query as SQL text, `reference/src/data_bridge/extractor.py`).

    Plan shape: one shuffle on user_id for the LEAD window, then a
    map-side-combinable count shuffle whose output is at most
    |event_types|^2 rows (25 here) — the normalizing window runs on that
    tiny matrix, so cost is scan + two bounded exchanges at any scale.
    The probability is one double division of two exact integer counts —
    bit-identical across engines (no libm)."""
    t = Tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), F.col("event_id").asc()
    )
    pairs = (
        t.events.select(F.col("event_type").alias("cur"), F.lead("event_type").over(w).alias("nxt"))
        .where(F.col("nxt").isNotNull())
    )
    counts = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    denom = F.sum("n").over(W.partitionBy("cur"))
    return counts.select(
        "cur", "nxt", "n",
        (F.col("n").cast("double") / denom.cast("double")).alias("p"),
    )


_FW_SECONDS = 1800  # per-step conversion window (30 min)


@register(
    "events_funnel_windowed",
    oracle=f"""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click'
          AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL {_FW_SECONDS} SECONDS
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL {_FW_SECONDS} SECONDS
        GROUP BY e.user_id
    )
    SELECT v.user_id,
           CASE WHEN p.user_id IS NOT NULL THEN 3
                WHEN c.user_id IS NOT NULL THEN 2
                ELSE 1 END AS funnel_stage,
           v.t1 AS anchor_view, c.t2 AS click_in_window, p.t3 AS purchase_in_window
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
    tags=("events", "funnel", "window"),
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    f"""Conversion-window funnel: view → click → purchase where each next
    step must land within {_FW_SECONDS} s of the previous one — the
    product-analytics form ("did the click happen within 30 minutes of
    the view, and the purchase within 30 minutes of the click"), with
    the standard anchored semantics: the window chains from the user's
    FIRST view, then from the first in-window click. events_funnel is
    the unwindowed twin (any-time completion); the bounded windows here
    are what separate "this flow converts" from "they came back a week
    later anyway".

    Plan shape identical to events_funnel — three hash aggregations +
    two left joins all on user_id, one partitioning serving the whole
    chain; the window caps are pure per-row predicates inside the
    already-filtered step scans."""
    t = Tables(spark, sf_dir)
    win = F.expr(f"INTERVAL {_FW_SECONDS} SECONDS")
    ev = t.events.select("user_id", "event_type", "ts")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .alias("funnel_stage"),
            F.col("t1").alias("anchor_view"),
            F.col("t2").alias("click_in_window"),
            F.col("t3").alias("purchase_in_window"),
        )
    )


@register(
    "events_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day_d
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    grp AS (
        SELECT user_id, day_d,
               day_d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day_d) AS INTEGER) AS anchor
        FROM days
    ),
    streaks AS (
        SELECT user_id, anchor,
               CAST(COUNT(*) AS BIGINT) AS streak_len,
               MIN(day_d) AS streak_start, MAX(day_d) AS streak_end
        FROM grp GROUP BY user_id, anchor
    ),
    ranked AS (
        SELECT user_id, streak_len, streak_start, streak_end,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY streak_len DESC, streak_start ASC
               ) AS rk
        FROM streaks
    )
    SELECT user_id, streak_len, streak_start, streak_end
    FROM ranked WHERE rk = 1
    """,
    tags=("events", "streaks", "gaps-islands"),
)
def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands pattern (engagement/retention metric): distinct
    active days, anchor = day - row_number (constant within a run of
    consecutive days), then the longest island per user with an
    earliest-start tiebreak so ties are total.

    Scale shape: two exchanges, both cheap — the distinct's shuffle
    carries map-side-combined (user, day) pairs (bounded by users x
    calendar, far below event count), then the tiny distinct-days table
    re-shuffles on user_id once and that partitioning serves the anchor
    window, both group-bys, and the final ranking (Catalyst subset-key
    reuse). Per-user day counts are calendar-bounded, so no partition
    outgrows memory no matter the corpus. All arithmetic is integer
    date math: bit-free exact on both engines; NULL ts/user rows are
    excluded explicitly (a NULL is not an active day)."""
    t = Tables(spark, sf_dir)
    days = (
        t.events.where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("day_d"))
        .distinct()
    )
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("day_d"))
    grp = days.select(
        "user_id", "day_d", F.date_sub(F.col("day_d"), rn).alias("anchor")
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_len"),
        F.min("day_d").alias("streak_start"),
        F.max("day_d").alias("streak_end"),
    )
    rk = F.row_number().over(
        W.partitionBy("user_id").orderBy(
            F.col("streak_len").desc(), F.col("streak_start").asc()
        )
    )
    return (
        streaks.withColumn("rk", rk)
        .where(F.col("rk") == 1)
        .select("user_id", "streak_len", "streak_start", "streak_end")
    )


@register(
    "events_pareto_users",
    oracle="""
    WITH per_u AS (
        SELECT user_id, SUM(CAST(value AS DECIMAL(18,6))) AS v_dec
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL AND user_id IS NOT NULL
        GROUP BY user_id
    ),
    ranked AS (
        SELECT user_id, v_dec,
               SUM(v_dec) OVER (ORDER BY v_dec DESC, user_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_dec,
               CAST(ROW_NUMBER() OVER (ORDER BY v_dec DESC, user_id ASC) AS BIGINT) AS rk
        FROM per_u
    ),
    tot AS (SELECT SUM(v_dec) AS t_dec, COUNT(*) AS n_users FROM per_u)
    SELECT r.rk, r.user_id,
           CAST(r.v_dec AS DOUBLE) AS user_value,
           CAST(r.run_dec AS DOUBLE) / CAST(t.t_dec AS DOUBLE) AS cum_share,
           CAST(r.rk AS DOUBLE) / t.n_users AS user_frac
    FROM ranked r CROSS JOIN tot t
    WHERE CAST(r.run_dec - r.v_dec AS DOUBLE) / CAST(t.t_dec AS DOUBLE) < 0.8
    """,
    tags=("events", "pareto", "concentration"),
)
def events_pareto_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto coverage: the smallest set of top purchasers covering 80%
    of purchase value (the 80/20 concentration report — who to interview
    before changing checkout, which keys to salt before joining). A user
    is in the set while the share BEFORE them is < 0.8, so the set is
    minimal and uniquely determined by the total (value desc, user asc)
    order. Per-user sums and the running numerator are decimal-exact
    (order-insensitive); shares divide identical doubles.

    Scale note (r10): the running sum and rank over (v_dec DESC, user
    ASC) use the two-level bucketed prefix sum proven in stats_ks /
    feature_quantile_bucket — width_bucket range partitioning on v_dec,
    per-bucket parallel windows, offsets from a bounded bucket-total
    table — NOT a global ordered window (which drags every user onto one
    partition; this was the repo's last unbounded-cardinality
    single-partition window). Ties in v_dec always share a bucket
    (width_bucket is a pure function of the value), so the user_id
    tie-break never crosses a bucket boundary and every per-row
    cumulative value equals the single-window formulation exactly —
    the unchanged oracle proves it."""
    t = Tables(spark, sf_dir)
    from data_bridge_spark.functions.exact import dec, dec_to_double

    per_u = (
        t.events.where(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(F.sum(dec("value")).alias("v_dec"))
    )
    # Two-level prefix sum over DESC value order: buckets are ranges of
    # v_dec, so bucket N_BUCKETS+1 (v == max) holds the top spenders and
    # the global DESC order is (bucket DESC, v_dec DESC, user ASC).
    n_buckets = 512
    vd = F.col("v_dec").cast("double")
    rng = per_u.agg(F.min(vd).alias("_vmin"), F.max(vd).alias("_vmax"))
    bucketed = (
        per_u.crossJoin(rng)
        .withColumn(
            "_bucket",
            F.coalesce(
                F.width_bucket(vd, "_vmin", "_vmax", F.lit(n_buckets)), F.lit(1)
            ),
        )
        .drop("_vmin", "_vmax")
    )
    in_b = W.partitionBy("_bucket").orderBy(
        F.col("v_dec").desc(), F.col("user_id").asc()
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    local = bucketed.withColumn("_l_run", F.sum("v_dec").over(in_b)).withColumn(
        "_l_rk", F.count(F.lit(1)).over(in_b)
    )
    btot = bucketed.groupBy("_bucket").agg(
        F.sum("v_dec").alias("_b_run"), F.count(F.lit(1)).alias("_b_rk")
    )
    # offsets: totals of all HIGHER-value buckets (bucket index DESC) —
    # an order-only window over a table bounded by the constant bucket
    # count, the same trivially-small edge as stats_ks
    prior = W.orderBy(F.col("_bucket").desc()).rowsBetween(W.unboundedPreceding, -1)
    zero_dec = F.lit(0).cast("decimal(38,6)")
    offsets = btot.select(
        "_bucket",
        F.coalesce(F.sum("_b_run").over(prior), zero_dec).alias("_o_run"),
        F.coalesce(F.sum("_b_rk").over(prior), F.lit(0)).alias("_o_rk"),
    )
    ranked = (
        local.join(offsets, "_bucket")
        .select(
            "user_id",
            "v_dec",
            (F.col("_o_run") + F.col("_l_run")).alias("run_dec"),
            (F.col("_o_rk") + F.col("_l_rk")).cast("bigint").alias("rk"),
        )
    )
    tot = per_u.agg(F.sum("v_dec").alias("t_dec"), F.count(F.lit(1)).alias("n_users"))
    t_d = dec_to_double(F.col("t_dec"), 6)
    return (
        ranked.crossJoin(tot)
        .where(dec_to_double(F.col("run_dec") - F.col("v_dec"), 6) / t_d < 0.8)
        .select(
            "rk",
            "user_id",
            dec_to_double(F.col("v_dec"), 6).alias("user_value"),
            (dec_to_double(F.col("run_dec"), 6) / t_d).alias("cum_share"),
            (F.col("rk").cast("double") / F.col("n_users")).alias("user_frac"),
        )
    )
