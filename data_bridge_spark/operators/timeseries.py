"""Time-series maintenance operators over `events`: gap-filling,
linear interpolation, and dynamic pivoting — the hypertable-style
operations (TimescaleDB `time_bucket_gapfill` / `interpolate`
semantics) re-expressed as Spark plans.

Per-entity bucket sequences are generated with `F.sequence` + explode —
a narrow (no-shuffle) expansion bounded by span/step per key — and the
fill/interpolation joins are co-partitioned with the aggregation's own
shuffle on the entity key, so the whole fill is ONE exchange at any
scale.  Interpolated values are pure IEEE double arithmetic over exact
integers (bit-identical across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_bridge_spark.catalog import Tables
from data_bridge_spark.registry import register


def _ts_key():
    """Leading sort-key fields for every ordered collect_list fold:
    an explicit (ts IS NULL) flag ahead of the raw ts. Spark's struct
    comparison orders NULL fields FIRST while the oracles' ``ORDER BY ts``
    sorts NULLs LAST (DuckDB default) — the flag puts untimed rows last on
    both engines with no magic value: a real timestamp can never collide
    with it (the prior 9999-12-31 sentinel could, in principle, interleave
    a real far-future event with the untimed tail). Among untimed rows ts
    is uniformly NULL, so event_id still breaks ties. Splat at call sites:
    ``F.struct(*_ts_key(), "event_id", ...)``."""
    return (
        F.col("ts").isNull().cast("int").alias("ts_missing"),
        F.col("ts").alias("ts"),
    )


@register(
    "events_gapfill",
    oracle="""
    WITH span AS (
      SELECT user_id, date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
      FROM events WHERE user_id < 20 GROUP BY user_id
    ), hours AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket_ts FROM span
    ), actual AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket_ts, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE user_id < 20 GROUP BY 1, 2
    )
    SELECT h.user_id, h.bucket_ts, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events
    FROM hours h LEFT JOIN actual a USING (user_id, bucket_ts)
    """,
    tags=("events", "timeseries", "gapfill"),
)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled hourly series per user (TimescaleDB
    `time_bucket_gapfill` semantics): generate every hourly bucket
    between each user's first and last event, left-join the actual
    hourly counts, fill the holes with 0.

    The bucket spine is `F.sequence` exploded per user — a narrow map
    over the (tiny) per-user span row, NOT a driver-side loop or a
    cross join against a global calendar; output size is bounded by
    span/step per key.  Both the spine agg and the fill join hash on
    user_id, so AQE coalesces them into one exchange lineage."""
    t = Tables(spark, sf_dir)
    ev = t.events.filter(F.col("user_id") < 20).select("user_id", "ts")
    span = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = span.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("bucket_ts"),
    )
    actual = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    ).agg(F.count(F.lit(1)).alias("n"))
    return hours.join(actual, ["user_id", "bucket_ts"], "left").select(
        "user_id",
        "bucket_ts",
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n_events"),
    )


@register(
    "events_interpolate",
    oracle="""
    WITH span AS (
      SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS d0,
             CAST(date_trunc('day', MAX(ts)) AS DATE) AS d1
      FROM events WHERE user_id < 50 GROUP BY user_id
    ), days AS (
      SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day_raw FROM span
    ), actual AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day_d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE user_id < 50 GROUP BY 1, 2
    ), g AS (
      SELECT d.user_id, CAST(d.day_raw AS DATE) AS day_d, a.n
      FROM days d LEFT JOIN actual a ON a.user_id = d.user_id AND a.day_d = CAST(d.day_raw AS DATE)
    ), f AS (
      SELECT user_id, day_d, n,
             last_value(n IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day_d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_n,
             last_value(CASE WHEN n IS NOT NULL THEN day_d END IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY day_d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
             first_value(n IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day_d
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_n,
             first_value(CASE WHEN n IS NOT NULL THEN day_d END IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY day_d
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
      FROM g
    )
    SELECT user_id, day_d,
           CASE WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
                ELSE CAST(prev_n AS DOUBLE)
                     + (CAST(next_n AS DOUBLE) - CAST(prev_n AS DOUBLE))
                       * (CAST(date_diff('day', prev_d, day_d) AS DOUBLE)
                          / date_diff('day', prev_d, next_d))
           END AS n_interp,
           CAST(n IS NULL AS BOOLEAN) AS interpolated
    FROM f
    """,
    tags=("events", "timeseries", "interpolate"),
)
def events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing daily counts per user
    (TimescaleDB `interpolate` semantics): gap-fill the daily spine,
    then fill each hole with the straight line between its nearest
    present neighbors — `last/first(... ignore nulls)` over the same
    one exchange on user_id (all four window frames share it).

    Span endpoints carry events by construction (min/max ts), so every
    hole has both neighbors.  The interpolation expression is written
    with the identical operation order on both engines — subtraction,
    one division, one multiply, one add over exact integers — so the
    doubles are bit-identical."""
    t = Tables(spark, sf_dir)
    ev = t.events.filter(F.col("user_id") < 50).select("user_id", "ts")
    span = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("d0"), F.to_date(F.max("ts")).alias("d1")
    )
    days = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day_d"),
    )
    actual = ev.groupBy("user_id", F.to_date("ts").alias("day_d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    g = days.join(actual, ["user_id", "day_d"], "left")
    wp = W.partitionBy("user_id").orderBy("day_d").rowsBetween(W.unboundedPreceding, W.currentRow)
    wn = W.partitionBy("user_id").orderBy("day_d").rowsBetween(W.currentRow, W.unboundedFollowing)
    present_day = F.when(F.col("n").isNotNull(), F.col("day_d"))
    f = g.select(
        "user_id",
        "day_d",
        "n",
        F.last("n", ignorenulls=True).over(wp).alias("prev_n"),
        F.last(present_day, ignorenulls=True).over(wp).alias("prev_d"),
        F.first("n", ignorenulls=True).over(wn).alias("next_n"),
        F.first(present_day, ignorenulls=True).over(wn).alias("next_d"),
    )
    interp = F.col("prev_n").cast("double") + (
        F.col("next_n").cast("double") - F.col("prev_n").cast("double")
    ) * (
        F.datediff(F.col("day_d"), F.col("prev_d")).cast("double")
        / F.datediff(F.col("next_d"), F.col("prev_d"))
    )
    return f.select(
        "user_id",
        "day_d",
        F.when(F.col("n").isNotNull(), F.col("n").cast("double")).otherwise(interp).alias("n_interp"),
        F.col("n").isNull().alias("interpolated"),
    )


_EVENT_TYPES_STATIC = ("click", "error", "purchase", "signup", "view")


@register(
    "events_pivot_dynamic",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day_d,
           CAST(COALESCE(SUM(CASE WHEN event_type='click' THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS click,
           CAST(COALESCE(SUM(CASE WHEN event_type='error' THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS error,
           CAST(COALESCE(SUM(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS purchase,
           CAST(COALESCE(SUM(CASE WHEN event_type='signup' THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS signup,
           CAST(COALESCE(SUM(CASE WHEN event_type='view' THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS view,
           CAST(COALESCE(SUM(CASE WHEN event_type IS NOT NULL
                AND event_type NOT IN ('click','error','purchase','signup','view')
                THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS other
    FROM events GROUP BY 1
    """,
    tags=("events", "pivot", "dynamic"),
)
def events_pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic pivot: daily value sums by event type where the pivot
    columns are DISCOVERED at plan time — the same bounded distinct job
    `pivot()` runs internally when given no value list, made explicit so
    NULL can be excluded (pivot() would mint a literal 'null' column;
    NULL matches no bucket in the oracle either, while its rows still
    feed the day groups).  The static oracle then *verifies the
    discovery*: a wrongly-absent type's sums would be nonzero there and
    the value compare fails.

    The discovery job scans one low-cardinality column — at 100 TB this
    is a column-pruned, map-side-combined distinct, the standard price
    of dynamic pivoting (and why `events_pivot` demonstrates the
    explicit-list fast path).  Sums are exact decimal, collapsed to
    DOUBLE at the edge."""
    t = Tables(spark, sf_dir)
    # the discovery job, explicit: one column-pruned distinct scan of the
    # low-cardinality pivot column. NULL is not a pivot value (a NULL
    # type matches no CASE branch in the oracle either — its rows still
    # feed the day_d groups, just no bucket), so it is dropped here
    # rather than letting pivot() mint a 'null' column
    discovered = sorted(
        r[0]
        for r in t.events.select("event_type").distinct().collect()
        if r[0] is not None
    )
    # discovery can surface (a) a subset of the declared domain (empty or
    # sparse input — absent types become 0-filled columns) and (b) types
    # OUTSIDE it (adversarial values, late-arriving categories — the r9
    # edgevals fixture drives both). Out-of-domain types roll into one
    # 'other' overflow column instead of minting value-derived column
    # names or failing the fit: the output schema is a function of the
    # DECLARED domain only, the property that makes a dynamic pivot
    # survivable when the live vocabulary drifts at 100 TB. A
    # WRONGLY-absent declared type is still caught by the oracle's value
    # compare (its sums would land in 'other' or vanish, and mismatch).
    known = [c for c in discovered if c in set(_EVENT_TYPES_STATIC)]
    src = t.events.withColumn(
        "etype",
        F.when(
            F.col("event_type").isin(list(_EVENT_TYPES_STATIC)), F.col("event_type")
        ).when(F.col("event_type").isNotNull(), F.lit("other")),
    )
    # 'other' is in the pivot value list UNCONDITIONALLY: if discovery
    # saw no out-of-domain type but the vocabulary drifts between plan
    # time and execution (the 100 TB motivation above), rows remapped to
    # 'other' must land in the bucket, not be silently dropped by an
    # explicit value list that lacks it. When nothing drifts the column
    # is all-NULL and coalesces to 0.0 — same output as before (r10,
    # ADVICE).
    piv = (
        src.groupBy(F.to_date("ts").alias("day_d"))
        .pivot("etype", known + ["other"])
        .agg(F.sum(F.col("value").cast("decimal(18,6)")))
    )
    present = set(known) | {"other"}
    return piv.select(
        "day_d",
        *[
            (
                F.coalesce(F.col(c).cast("double"), F.lit(0.0))
                if c in present
                else F.lit(0.0)
            ).alias(c)
            for c in [*_EVENT_TYPES_STATIC, "other"]
        ],
    )


@register(
    "events_sequence_detect",
    oracle="""
    WITH seqs AS (
      SELECT user_id, string_agg(event_type, ',' ORDER BY ts ASC, event_id ASC) AS seq,
             COUNT(*) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST((len(seq) - len(replace(seq, 'view,click,purchase', '')))
                / len('view,click,purchase') AS BIGINT) AS n_funnel,
           n_events
    FROM seqs
    """,
    tags=("events", "pattern"),
)
def events_sequence_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequential pattern detection: count strictly
    consecutive view→click→purchase runs per user.  The per-user event
    stream is assembled as a totally-ordered (ts, event_id) struct array
    — one shuffle on user_id, grain bounded by events-per-user — and the
    pattern count is pure string arithmetic ((len − len(replace))/patlen),
    exact integers on both engines.  The general form of events_funnel's
    any-gap ordering: here adjacency matters."""
    t = Tables(spark, sf_dir)
    pat = "view,click,purchase"
    ordered = F.array_sort(
        F.collect_list(F.struct(*_ts_key(), F.col("event_id"), F.col("event_type")))
    )
    # concat_ws skips NULL elements — exactly string_agg's semantics —
    # EXCEPT over an all-NULL input, where string_agg is NULL and
    # concat_ws is '': the count-guard restores the NULL (n_events keeps
    # counting rows, so the oracle counts rows too)
    joined = F.concat_ws(",", F.transform(ordered, lambda x: x["event_type"]))
    seq = F.when(F.count("event_type") > 0, joined)
    return (
        t.events.groupBy("user_id")
        .agg(seq.alias("seq"), F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            ((F.length("seq") - F.length(F.replace(F.col("seq"), F.lit(pat), F.lit(""))))
             / F.lit(len(pat))).cast("long").alias("n_funnel"),
            "n_events",
        )
    )


@register(
    "ts_ewma",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                       (acc, x) -> acc * 0.75 + x * 0.25) AS ewma
    FROM events
    GROUP BY user_id
    """,
    tags=("timeseries", "ewma", "sequential"),
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user (alpha = 0.25),
    final value after folding the user's events in time order — the
    deterministic-sequential-math pattern: floating-point EWMA depends
    on evaluation ORDER, so it cannot be a plain aggregate; instead the
    per-key series is collected, totally ordered (ts, event_id), and
    folded left-to-right with `aggregate` — a sequential IEEE fold both
    Spark and DuckDB (`list_reduce`) execute identically, bit-for-bit.
    alpha = 1/4 keeps both weights exactly representable. One shuffle
    on user_id; the collected array is bounded by per-key cardinality
    (~10-100 events/user here). For unbounded keys the same fold runs
    incrementally as `applyInPandasWithState` (see streaming/) — the
    batch and streaming forms share the recurrence."""
    t = Tables(spark, sf_dir)
    ev = t.events.select(
        "user_id", "ts", "event_id", F.col("value").cast("double").alias("v")
    )
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct(*_ts_key(), "event_id", "v"))),
        lambda s: s["v"],
    )
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), vals.alias("vals"))
        .select(
            "user_id",
            "n_events",
            F.expr(
                "aggregate(slice(vals, 2, size(vals) - 1), element_at(vals, 1),"
                " (acc, x) -> acc * 0.75D + x * 0.25D)"
            ).alias("ewma"),
        )
    )


@register(
    "events_rolling_active",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    cover AS (
      SELECT u.user_id, u.day + (i.i * INTERVAL 1 DAY) AS day
      FROM ud u, (SELECT unnest(generate_series(0, 6)) AS i) i
    ),
    wau AS (
      SELECT c.day, COUNT(DISTINCT c.user_id) AS wau
      FROM cover c JOIN days d ON c.day = d.day GROUP BY c.day
    ),
    dau AS (
      SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY day
    )
    SELECT w.day AS day, d.dau AS dau, w.wau AS wau,
           CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
    FROM wau w JOIN dau d ON w.day = d.day
    """,
    tags=("events", "timeseries", "distinct", "rolling"),
)
def events_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement: per calendar day, distinct users active that
    day (DAU), distinct users active in the trailing 7 days (WAU), and
    the DAU/WAU stickiness ratio. Sliding COUNT DISTINCT does not
    decompose into partial aggregates, so the scalable form is coverage
    expansion: dedup to (user, day) FIRST (one exchange, and the big
    one — events collapse to at most users x days rows), then explode
    each activity day onto the <= 7 window days it contributes to (a
    narrow, bounded x7 expansion of the already-deduped relation, NOT
    of raw events), and count distinct users per covered day. Every day
    is computed in one pass — no per-day trailing-window rescan, no
    window-function sort over event history. Days are restricted to
    calendar days that actually occur (semi-join against the tiny day
    set). The ratio is one exact int->double division per
    row. At 100 TB: the x7 factor rides the small deduped relation and
    the distinct-count shuffles carry (day, user) pairs only."""
    t = Tables(spark, sf_dir)
    ud = (
        t.events.select(F.date_trunc("DAY", F.col("ts")).alias("day"), "user_id")
        .distinct()
    )
    days = ud.select("day").distinct()
    cover = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.expr("INTERVAL 6 DAYS"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    wau = (
        cover.join(days, "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    dau = ud.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    return wau.join(dau, "day").select(
        "day",
        "dau",
        "wau",
        (F.col("dau").cast("double") / F.col("wau").cast("double")).alias("stickiness"),
    )


@register(
    "ts_holt",
    oracle="""
    WITH s AS (
        SELECT user_id, COUNT(*) AS n_events,
               list_reduce(
                 [[CAST(first(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS DOUBLE),
                   CAST(0.0 AS DOUBLE)]]
                   || list_transform(list(CAST(value AS DOUBLE) ORDER BY ts, event_id)[2:],
                                     x -> [x, CAST(0.0 AS DOUBLE)]),
                 (acc, x) -> [
                   x[1]*0.25 + (acc[1]+acc[2])*0.75,
                   (x[1]*0.25 + (acc[1]+acc[2])*0.75 - acc[1])*0.25 + acc[2]*0.75
                 ]) AS st
        FROM events WHERE value IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n_events, st[1] AS level, st[2] AS trend,
           st[1] + 3*st[2] AS forecast_3
    FROM s
    """,
    tags=("timeseries", "forecast", "sequential"),
)
def ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing per user (alpha = beta = 0.25)
    with a 3-step-ahead linear forecast — the demand-forecasting
    recurrence, extending the ts_ewma sequential-fold pattern to VECTOR
    state: the accumulator is a (level, trend) struct in Spark and a
    2-element double list in DuckDB's `list_reduce`, folded over the
    totally-ordered (ts, event_id) series with the identical IEEE
    arithmetic DAG on both engines — the level subexpression is
    deliberately written out twice in the trend slot on BOTH sides so
    every operation pairs up bit-for-bit. alpha = beta = 1/4 keeps the
    smoothing weights exactly representable. One shuffle on user_id;
    per-key arrays are bounded by key cardinality, and the streaming
    form of the same recurrence is the applyInPandasWithState
    accumulator pattern (streaming/stateful.py)."""
    t = Tables(spark, sf_dir)
    # NULL values are not observations: excluded explicitly on BOTH
    # sides — besides being the right series semantics, Spark's
    # higher-order `aggregate` lambda miscomputes NULL arithmetic on a
    # struct accumulator field (observed on 4.1: the trend slot returns
    # 0.0 where the identical scalar expression returns NULL), so NULL
    # must never enter the fold
    ev = t.events.filter(F.col("value").isNotNull()).select(
        "user_id", "ts", "event_id", F.col("value").cast("double").alias("v")
    )
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct(*_ts_key(), "event_id", "v"))),
        lambda s: s["v"],
    )
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), vals.alias("vals"))
        .select(
            "user_id",
            "n_events",
            F.expr(
                """aggregate(
                  slice(vals, 2, size(vals) - 1),
                  struct(CAST(element_at(vals, 1) AS DOUBLE) AS l,
                         CAST(0.0 AS DOUBLE) AS b),
                  (acc, x) -> struct(
                    x * 0.25D + (acc.l + acc.b) * 0.75D AS l,
                    (x * 0.25D + (acc.l + acc.b) * 0.75D - acc.l) * 0.25D
                        + acc.b * 0.75D AS b))"""
            ).alias("st"),
        )
        .select(
            "user_id",
            "n_events",
            F.col("st.l").alias("level"),
            F.col("st.b").alias("trend"),
            (F.col("st.l") + 3 * F.col("st.b")).alias("forecast_3"),
        )
    )


def _hw_sql_exprs() -> tuple[str, str]:
    """Build the Spark and DuckDB Holt-Winters step expressions from one
    template so the two arithmetic DAGs cannot drift apart. The level
    subexpression is textually inlined into the trend and seasonal slots
    on BOTH sides — recomputing the identical IEEE ops, never a
    different ordering."""
    # Spark accessors (1-based element_at; x = [v, dow])
    sv, sdow = "element_at(x, 1)", "CAST(element_at(x, 2) AS INT)"
    sl, sb = "element_at(acc, 1)", "element_at(acc, 2)"
    ssea = f"element_at(acc, {sdow} + 3)"
    s_L = f"(({sv} - {ssea}) * 0.25D + ({sl} + {sb}) * 0.75D)"
    s_B = f"(({s_L} - {sl}) * 0.25D + {sb} * 0.75D)"
    s_S = f"(({sv} - {s_L}) * 0.25D + {ssea} * 0.75D)"
    spark_step = (
        f"concat(array({s_L}, {s_B}), "
        f"transform(slice(acc, 3, 7), (v, i) -> "
        f"CASE WHEN i = {sdow} THEN {s_S} ELSE v END))"
    )
    # DuckDB accessors (1-based list indexing)
    dv, ddow = "x[1]", "CAST(x[2] AS BIGINT)"
    dl, db = "acc[1]", "acc[2]"
    dsea = f"acc[{ddow} + 3]"
    d_L = f"(({dv} - {dsea}) * 0.25 + ({dl} + {db}) * 0.75)"
    d_B = f"(({d_L} - {dl}) * 0.25 + {db} * 0.75)"
    d_S = f"(({dv} - {d_L}) * 0.25 + {dsea} * 0.75)"
    duck_step = (
        f"[{d_L}, {d_B}] || "
        f"list_transform(list_zip(acc[3:9], generate_series(0, 6)), z -> "
        f"CASE WHEN z[2] = {ddow} THEN {d_S} ELSE z[1] END)"
    )
    return spark_step, duck_step


_HW_SPARK_STEP, _HW_DUCK_STEP = _hw_sql_exprs()


@register(
    "ts_holt_winters",
    oracle=f"""
    WITH xs AS (
        SELECT user_id, COUNT(*) AS n_events,
               list([CAST(value AS DOUBLE),
                     CAST((CAST(date_part('epoch', date_trunc('day', ts)) AS BIGINT)
                           // 86400) % 7 AS DOUBLE)]
                    ORDER BY ts, event_id) AS v
        FROM events GROUP BY user_id
    ),
    folded AS (
        SELECT user_id, n_events,
               list_reduce(
                 [[v[1][1], CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]]
                   || v[2:],
                 (acc, x) -> {_HW_DUCK_STEP}) AS st
        FROM xs
    )
    SELECT user_id, n_events, st[1] AS level, st[2] AS trend,
           st[3] AS s0, st[4] AS s1, st[5] AS s2, st[6] AS s3,
           st[7] AS s4, st[8] AS s5, st[9] AS s6
    FROM folded
    """,
    tags=("timeseries", "forecast", "seasonal", "sequential"),
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters per user (alpha = beta = gamma = 1/4) with
    DAY-OF-WEEK seasonality: level, trend, and the 7 seasonal factors
    after folding the user's series in (ts, event_id) order — the
    sequential-fold pattern at its most stateful (9-slot vector state).
    Both engines fold a flat 9-double list; the day index is computed as
    days-since-epoch mod 7 on both sides (engine dayofweek() conventions
    disagree, epoch arithmetic cannot), and the seasonal slot updates
    in place via an index-matched transform. `_hw_sql_exprs` generates
    the Spark and DuckDB step expressions from one template so the IEEE
    DAGs stay textually aligned. One shuffle on user_id; the streaming
    form is the `stream_holt` state-store pattern with 7 more slots."""
    t = Tables(spark, sf_dir)
    dow = (
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) % 7
    ).cast("double")
    ev = t.events.select(
        "user_id", "ts", "event_id", F.col("value").cast("double").alias("v"), dow.alias("dow")
    )
    xs = F.transform(
        F.array_sort(F.collect_list(F.struct(*_ts_key(), "event_id", "v", "dow"))),
        lambda s: F.array(s["v"], s["dow"]),
    )
    folded = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), xs.alias("xs"))
        .select(
            "user_id",
            "n_events",
            F.expr(
                f"""aggregate(
                  slice(xs, 2, size(xs) - 1),
                  concat(array(CAST(element_at(element_at(xs, 1), 1) AS DOUBLE),
                               CAST(0.0 AS DOUBLE)),
                         array_repeat(CAST(0.0 AS DOUBLE), 7)),
                  (acc, x) -> {_HW_SPARK_STEP})"""
            ).alias("st"),
        )
    )
    return folded.select(
        "user_id",
        "n_events",
        F.element_at("st", 1).alias("level"),
        F.element_at("st", 2).alias("trend"),
        *[F.element_at("st", i + 3).alias(f"s{i}") for i in range(7)],
    )


@register(
    "ts_backtest",
    oracle="""
    WITH xs AS (
        SELECT user_id, COUNT(*) AS n_events,
               list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS v
        FROM events GROUP BY user_id
        HAVING COUNT(*) >= 4
    ),
    folded AS (
        SELECT user_id, n_events, v,
               list_reduce(
                 [[v[1], CAST(0.0 AS DOUBLE)]]
                   || list_transform(v[2:len(v) - 3], x -> [x, CAST(0.0 AS DOUBLE)]),
                 (acc, x) -> [
                   x[1]*0.25 + (acc[1]+acc[2])*0.75,
                   (x[1]*0.25 + (acc[1]+acc[2])*0.75 - acc[1])*0.25 + acc[2]*0.75
                 ]) AS st
        FROM xs
    )
    SELECT user_id, n_events,
           st[1] + st[2] AS forecast_1,
           st[1] + 2*st[2] AS forecast_2,
           st[1] + 3*st[2] AS forecast_3,
           (abs(st[1] + st[2] - v[len(v) - 2])
            + abs(st[1] + 2*st[2] - v[len(v) - 1])
            + abs(st[1] + 3*st[2] - v[len(v)])) / 3.0 AS mae
    FROM folded
    """,
    tags=("timeseries", "forecast", "evaluation", "sequential"),
)
def ts_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward forecast backtest: per user, fold the Holt recursion
    over the series MINUS its last 3 events, forecast 1/2/3 steps ahead
    from the held-out point, and score mean absolute error against the
    actual tail — the evaluation loop any production forecaster runs
    before trusting a model at scale, as one oracled plan (the
    evaluation-harness family: sim_recall_report, dedup_quality_report,
    this). Same determinism doctrine as ts_holt: totally-ordered fold,
    identical IEEE DAG both engines, |error| sums in fixed index order.
    One shuffle on user_id; per-key arrays bounded by key cardinality."""
    t = Tables(spark, sf_dir)
    ev = t.events.select(
        "user_id", "ts", "event_id", F.col("value").cast("double").alias("v")
    )
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct(*_ts_key(), "event_id", "v"))),
        lambda s: s["v"],
    )
    folded = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), vals.alias("vals"))
        .filter(F.col("n_events") >= 4)
        .select(
            "user_id",
            "n_events",
            "vals",
            F.expr(
                """aggregate(
                  slice(vals, 2, size(vals) - 4),
                  struct(CAST(element_at(vals, 1) AS DOUBLE) AS l,
                         CAST(0.0 AS DOUBLE) AS b),
                  (acc, x) -> struct(
                    x * 0.25D + (acc.l + acc.b) * 0.75D AS l,
                    (x * 0.25D + (acc.l + acc.b) * 0.75D - acc.l) * 0.25D
                        + acc.b * 0.75D AS b))"""
            ).alias("st"),
        )
    )
    n = F.size("vals")
    l, b = F.col("st.l"), F.col("st.b")
    f1, f2, f3 = l + b, l + 2 * b, l + 3 * b
    a1 = F.element_at("vals", n - 2)
    a2 = F.element_at("vals", n - 1)
    a3 = F.element_at("vals", n)
    return folded.select(
        "user_id",
        "n_events",
        f1.alias("forecast_1"),
        f2.alias("forecast_2"),
        f3.alias("forecast_3"),
        ((F.abs(f1 - a1) + F.abs(f2 - a2) + F.abs(f3 - a3)) / 3.0).alias("mae"),
    )


@register(
    "rollup_cascade",
    oracle="""
    SELECT (CAST(date_part('epoch', date_trunc('day', ts)) AS BIGINT) // 86400) // 7
               AS week_idx,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("timeseries", "rollup", "incremental"),
)
def rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascading rollup (continuous-aggregate pattern):
    hourly buckets aggregate the raw events ONCE, daily re-aggregates
    the HOURLY partials, weekly re-aggregates the DAILY partials — the
    multi-resolution hierarchy a 100 TB metrics store maintains so a
    month-grain dashboard never rescans event-grain data. The oracle
    computes week-grain directly from raw, so a green row proves the
    whole cascade is lossless: counts and exact-decimal sums re-
    aggregate along the time hierarchy bit-for-bit (the agg_incremental
    monoid property, applied twice). Week boundaries are epoch-days DIV
    7 — engine week-convention-free. Each level is one map-side-
    combinable shuffle over the previous level's (already tiny) output."""
    t = Tables(spark, sf_dir)
    hourly = (
        t.events.select(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .groupBy("hour", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    daily = (
        hourly.select(
            F.date_trunc("day", F.col("hour")).alias("day"), "event_type", "n", "s"
        )
        .groupBy("day", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        .withColumn(
            "d_epoch",
            F.datediff(F.to_date("day"), F.lit("1970-01-01").cast("date")).cast("bigint"),
        )
    )
    weekly = (
        daily.select(
            # (d - pmod(d, 7)) div 7: exact integer floor, correct even for
            # pre-epoch days (catalog.py's documented floor idiom) — DuckDB's
            # // floors natively
            F.expr(
                "CAST((d_epoch - pmod(d_epoch, 7)) div 7 AS BIGINT)"
            ).alias("week_idx"),
            "event_type",
            "n",
            "s",
        )
        .groupBy("week_idx", "event_type")
        .agg(F.sum("n").alias("n_events"), F.sum("s").cast("double").alias("total_value"))
    )
    return weekly


@register(
    "ts_ohlc",
    oracle="""
    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           (list(CAST(value AS DOUBLE) ORDER BY ts, event_id))[1] AS open,
           MAX(CAST(value AS DOUBLE)) AS high,
           MIN(CAST(value AS DOUBLE)) AS low,
           (list(CAST(value AS DOUBLE) ORDER BY ts, event_id))[-1] AS close,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume
    FROM events
    GROUP BY 1, 2
    """,
    tags=("timeseries", "downsample", "ohlc"),
)
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC time-bucket downsampling: per (user, day) the open (first
    value in total (ts, event_id) order), high, low, close (last value),
    event count, and exact-decimal volume — the candlestick/metrics
    compaction that turns an event-grain series into a chartable or
    coarse-model-ready one at 1/N the rows. Open/close use the proven
    totally-ordered-array idiom (collect → sort by the unique (ts,
    event_id) key → ends); high/low/volume are plain order-insensitive
    aggregates (MAX/MIN exact on doubles, SUM on exact decimals). One
    map-side-combinable shuffle on (user, day); per-bucket arrays are
    bounded by bucket cardinality. Pairs with rollup_cascade: OHLC
    buckets re-aggregate along the hierarchy too (open of the first
    child bucket, close of the last)."""
    t = Tables(spark, sf_dir)
    ev = t.events.select(
        "user_id",
        F.to_date(F.col("ts")).alias("day"),
        "ts",
        "event_id",
        F.col("value").cast("double").alias("v"),
    )
    sorted_vals = F.transform(
        F.array_sort(F.collect_list(F.struct(*_ts_key(), "event_id", "v"))),
        lambda s: s["v"],
    )
    return (
        ev.groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            sorted_vals.alias("vals"),
            F.max("v").alias("high"),
            F.min("v").alias("low"),
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("volume"),
        )
        .select(
            "user_id",
            "day",
            "n_events",
            F.element_at("vals", 1).alias("open"),
            "high",
            "low",
            F.element_at("vals", -1).alias("close"),
            "volume",
        )
    )


@register(
    "ts_anomaly_resid",
    oracle="""
    WITH s AS (
        SELECT user_id,
               list(event_id ORDER BY ts, event_id) AS ids,
               list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
        FROM events GROUP BY user_id
    ),
    r AS (
        SELECT user_id, ids,
               list_reduce(
                 [[vals[1]]] || list_transform(vals[2:], x -> [x]),
                 (acc, x) -> [acc[1]*0.75 + x[1]*0.25] || acc[2:] || [x[1] - acc[1]]
               ) AS st
        FROM s WHERE len(vals) >= 2
    ),
    e AS (
        SELECT user_id, ids[i+1] AS event_id, st[i+1] AS resid
        FROM r, unnest(generate_series(1, len(st) - 1)) AS t(i)
    ),
    m AS (
        SELECT user_id, MEDIAN(ABS(resid)) AS mad FROM e GROUP BY user_id
    )
    SELECT e.user_id, e.event_id, e.resid,
           e.resid / NULLIF(1.4826 * m.mad, 0) AS score
    FROM e JOIN m USING (user_id)
    WHERE ABS(e.resid) > 3.0 * 1.4826 * m.mad
    """,
    tags=("timeseries", "anomaly", "sequential"),
)
def ts_anomaly_resid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-based anomaly detection: one-step-ahead EWMA forecast
    residuals (resid_i = x_i − ewma_{i−1}, alpha = 0.25) flagged where
    |resid| exceeds 3 robust sigmas of the user's own residual
    distribution (MAD·1.4826) — catches level SHIFTS and spikes that
    distribution-based detectors (anomaly_iqr / anomaly_mad) miss
    because a trending series' raw values are all "normal".

    The residual sequence rides the same bit-deterministic sorted-array
    fold as ts_ewma, extended to carry the residual trail: the fold
    accumulator is [ewma] ++ residuals, with the identical IEEE
    expression DAG on both engines (residual uses the PRE-update ewma
    in both). MAD is pure selection (no float sums), the score one
    guarded division. One shuffle on user_id for the fold, one for the
    per-user MAD of the (already tiny) residual rows."""
    t = Tables(spark, sf_dir)
    ev = t.events.select(
        "user_id", "ts", "event_id", F.col("value").cast("double").alias("v")
    )
    srt = F.array_sort(F.collect_list(F.struct(*_ts_key(), "event_id", "v")))
    per = ev.groupBy("user_id").agg(
        F.transform(srt, lambda s: s["event_id"]).alias("ids"),
        F.transform(srt, lambda s: s["v"]).alias("vals"),
    ).where(F.size("vals") >= 2)
    resids = F.expr(
        """aggregate(
             slice(vals, 2, size(vals) - 1),
             struct(vals[0] AS e, CAST(array() AS array<double>) AS r),
             (acc, x) -> struct(acc.e * 0.75D + x * 0.25D,
                                concat(acc.r, array(x - acc.e))),
             acc -> acc.r
           )"""
    )
    e = per.select(
        "user_id",
        F.explode(F.arrays_zip(F.slice("ids", 2, F.size("ids") - 1).alias("event_id"),
                               resids.alias("resid"))).alias("z"),
    ).select("user_id", F.col("z.event_id").alias("event_id"), F.col("z.resid").alias("resid"))
    m = e.groupBy("user_id").agg(
        F.percentile(F.abs(F.col("resid")), F.lit(0.5)).alias("mad")
    )
    scored = e.join(m, "user_id")
    score = F.when(
        F.lit(1.4826) * F.col("mad") != 0,
        F.col("resid") / (F.lit(1.4826) * F.col("mad")),
    )
    return scored.where(
        F.abs(F.col("resid")) > F.lit(3.0) * F.lit(1.4826) * F.col("mad")
    ).select("user_id", "event_id", "resid", score.alias("score"))
