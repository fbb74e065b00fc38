"""Event analytics over the events table — the batch twins of the
Structured Streaming operators in ``streaming/`` (identical semantics;
the streaming module reuses these aggregation shapes with watermarks).

Timestamps: the fixtures store naive UTC instants; every session this
package touches is pinned to UTC (session.tune), and outputs expose
epoch seconds (engine-neutral integers), never local-rendered strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.catalog import load_table
from .registry import register

_SESSION_GAP_SEC = 30 * 60


@register(
    "ev01_hourly_tumbling_counts",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start_epoch,
           event_type,
           COUNT(*) AS n_events,
           ((2 * SUM(CAST(ROUND(value * 100) AS BIGINT)) * 100 + (COUNT(*) * 100))
            // (2 * (COUNT(*) * 100))) / 100.0 AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def ev01_hourly_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling-window counts and mean value per event type, via
    the real ``window()`` function (same operator Structured Streaming
    uses); output keyed by the window-start epoch. Exact integer-cents
    mean (see operators/relational.py)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("_s"),
        )
        .select(
            F.unix_timestamp(F.col("win.start")).alias("win_start_epoch"),
            "event_type",
            "n_events",
            (
                F.expr("(2 * _s * 100 + (n_events * 100)) div (2 * (n_events * 100))") / 100.0
            ).alias("avg_value"),
        )
    )


@register(
    "ev02_user_sessions",
    oracle=f"""
    WITH ordered AS (
        -- floor(): Spark unix_timestamp truncates sub-second fractions,
        -- while a bare DuckDB double->int cast would round-to-nearest
        SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
               LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ep
        FROM events
    ),
    flagged AS (
        SELECT *, CASE WHEN prev_ep IS NULL OR ep - prev_ep > {_SESSION_GAP_SEC}
                       THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    sessions AS (
        SELECT *, CAST(SUM(is_new) OVER
                   (PARTITION BY user_id ORDER BY ep, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MIN(ep) AS session_start_epoch,
           MAX(ep) - MIN(ep) AS duration_sec
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def ev02_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap: LAG flags session
    starts, a running sum numbers sessions, one groupBy rolls them up —
    the classic two-window + one-shuffle formulation (all three steps
    share the user_id partitioning, so Spark plans a single exchange)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    sessions = (
        events.select("user_id", "event_id", F.unix_timestamp("ts").alias("ep"))
        .withColumn("prev_ep", F.lag("ep").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_ep").isNull() | (F.col("ep") - F.col("prev_ep") > _SESSION_GAP_SEC),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ep").alias("session_start_epoch"),
        (F.max("ep") - F.min("ep")).alias("duration_sec"),
    )


@register(
    "ev03_top_events_per_type_day",
    oracle="""
    SELECT event_type, day_epoch, event_id, value, rn FROM (
        SELECT event_type,
               CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
               event_id, value,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY value DESC, event_id ASC) AS rn
        FROM events
    ) t WHERE rn <= 3
    """,
)
def ev03_top_events_per_type_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per (type, day): row_number over a composite
    partition with a deterministic tie-break."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", F.date_trunc("day", "ts")).orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        events.select(
            "event_type",
            F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_epoch"),
            "event_id",
            "value",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "ev06_session_windows",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
               LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ep
        FROM events
    ),
    flagged AS (
        -- session_window merges windows that overlap OR TOUCH (a gap of
        -- exactly the window size stays one session — observed at
        -- sf0.1), so a new session starts only at gap > window size
        SELECT *, CASE WHEN prev_ep IS NULL OR ep - prev_ep > {_SESSION_GAP_SEC}
                       THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    sessions AS (
        SELECT *, CAST(SUM(is_new) OVER
                   (PARTITION BY user_id ORDER BY ep, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ep) AS session_start_epoch,
           MAX(ep) + {_SESSION_GAP_SEC} AS session_end_epoch,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def ev06_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the BUILT-IN ``session_window`` — the same
    operator Structured Streaming merges state with, here in batch.
    Input timestamps are truncated to whole seconds so the merge rule
    (windows overlap = gap strictly under 30 min) is exactly the
    oracle's integer arithmetic; window end = last event + gap by
    definition of session windows. Complements ev02, which hand-rolls
    the same sessions with lag + running sum and numbers them."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select("user_id", F.date_trunc("second", "ts").alias("tsec"))
        .groupBy("user_id", F.session_window("tsec", f"{_SESSION_GAP_SEC} seconds").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("win.start").alias("session_start_epoch"),
            F.unix_timestamp("win.end").alias("session_end_epoch"),
            "n_events",
        )
    )


@register(
    "ev07_props_json_rollup",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(COUNT(json_extract_string(props, '$.k')) AS BIGINT) AS n_with_k
    FROM events
    GROUP BY event_type
    """,
)
def ev07_props_json_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload rollup: extract a field from the JSON
    props column (``get_json_object`` — evaluated in the scan
    projection, no UDF) and aggregate it as exact integers. The
    operator family every event pipeline needs once payloads stop
    being flat."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return events.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("n_with_k"),
    )


@register(
    "ev04_error_rate_by_user_bucket",
    oracle="""
    SELECT user_id % 10 AS user_bucket,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id % 10
    """,
)
def ev04_error_rate_by_user_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation over a derived bucket key; the error/total
    pair stays integer so any downstream rate is engine-exact."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy((F.col("user_id") % 10).alias("user_bucket")).agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_errors"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "ev09_user_event_profile",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def ev09_user_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's sorted distinct event-type set (collect_set +
    sort_array — set semantics then a canonical order), emitted as a
    comma-joined string so the driver's pandas canonicalizer can hash
    it (ndarray cells are unhashable there); the array-typed surface
    stays demonstrated by ev09b."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("event_type"))).alias("event_types"),
        F.countDistinct("event_type").alias("n_types"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "ev09b_user_event_profile_array",
    oracle="""
    WITH p AS (
        SELECT user_id,
               list_sort(list(DISTINCT event_type)) AS types,
               COUNT(*) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(i - 1 AS BIGINT) AS pos,
           types[i] AS event_type,
           CAST(len(types) AS BIGINT) AS n_types,
           n_events
    FROM p, UNNEST(range(1, len(types) + 1)) AS t(i)
    """,
)
def ev09b_user_event_profile_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-typed aggregation, hash-certified through a sorted
    POSITIONAL projection (round-8 conversion of the rows-only row):
    the per-user sorted distinct event-type ARRAY is built exactly as
    before (collect_set + sort_array) and then posexploded to
    (pos, event_type) scalar rows the driver's canonicalizer can hash
    — position, membership, order, and length of the array are all on
    the hashed surface, so the array aggregation itself is what the
    green row certifies (the ev09 string twin only pinned membership
    via its comma join)."""
    events = load_table(spark, sf_dir, "events")
    prof = events.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("event_types"),
        F.countDistinct("event_type").alias("n_types"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return prof.select(
        "user_id",
        F.posexplode("event_types").alias("pos", "event_type"),
        "n_types",
        "n_events",
    ).withColumn("pos", F.col("pos").cast("long"))


@register(
    "ev11_weekly_retention",
    oracle="""
    WITH cohort AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
        FROM events
    )
    SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(datediff('day', c.cohort_week, a.active_week) // 7 AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS n_users
    FROM cohort c JOIN activity a USING (user_id)
    GROUP BY c.cohort_week, datediff('day', c.cohort_week, a.active_week) // 7
    """,
)
def ev11_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the ISO week of their
    first event; for each (cohort_week, week_offset) the count of cohort
    members still active that week.

    Two aggregations over the same user_id partitioning (first-event
    cohort, distinct active weeks) joined user-keyed, then a small
    (weeks × offsets) rollup — the user-keyed join reuses one hash
    partitioning, and the final groupBy output is tiny at any corpus
    size, so nothing here grows with 100 TB except the first scan."""
    events = load_table(spark, sf_dir, "events")
    cohort = events.groupBy("user_id").agg(
        F.date_format(F.date_trunc("week", F.min("ts")), "yyyy-MM-dd").alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("active_week")
    ).distinct()
    return (
        cohort.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(active_week, cohort_week) div 7").cast("long").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "ev12_interevent_gaps",
    oracle="""
    WITH ordered AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS ep,
               LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ep
        FROM events
    ),
    gaps AS (
        SELECT user_id, ep - prev_ep AS gap
        FROM ordered WHERE prev_ep IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(SUM(gap) AS BIGINT) AS total_gap_sec,
           CAST(MAX(gap) AS BIGINT) AS max_gap_sec,
           CAST(SUM(gap) AS DOUBLE) / COUNT(*) AS avg_gap_sec
    FROM gaps GROUP BY user_id
    """,
)
def ev12_interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event cadence: LAG over (user_id, ts, event_id)
    yields integer-second gaps; one groupBy rolls up count, total, max
    and mean gap. The window and the aggregate share the user_id hash
    partitioning, so the whole query is ONE shuffle; the mean is a
    single integer/integer IEEE division (no summation-order drift).
    Feeds engagement features and bot filtering (max_gap / cadence)."""
    events = load_table(spark, sf_dir, "events")
    ep = F.unix_timestamp("ts").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.select("user_id", ep.alias("ep"), F.lag(ep).over(w).alias("prev_ep"))
        .filter(F.col("prev_ep").isNotNull())
        .select("user_id", (F.col("ep") - F.col("prev_ep")).alias("gap"))
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap").alias("total_gap_sec"),
        F.max("gap").alias("max_gap_sec"),
        (F.sum("gap").cast("double") / F.count(F.lit(1))).alias("avg_gap_sec"),
    )


@register(
    "ev13_hourly_anomaly_zscore",
    oracle="""
    WITH counts AS (
        SELECT event_type,
               CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, hour_epoch, n_events,
               SUM(n_events) OVER w AS s,
               SUM(n_events * n_events) OVER w AS ss,
               COUNT(*) OVER w AS n
        FROM counts
        WINDOW w AS (PARTITION BY event_type)
    )
    SELECT event_type, hour_epoch, n_events,
           CAST(n_events * n - s AS DOUBLE) / sqrt(CAST(n * ss - s * s AS DOUBLE)) AS z
    FROM stats
    WHERE n * ss - s * s > 0
      AND n_events * n - s > 0
      AND (n_events * n - s) * (n_events * n - s) >= 4 * (n * ss - s * s)
    """,
)
def ev13_hourly_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-spike detection: hourly event counts per type, flagged
    when the count sits >= 2 standard deviations above that type's own
    hourly mean. The z >= 2 cut is evaluated as an INTEGER comparison
    ((c*n - s)^2 >= 4*(n*ss - s^2), c*n > s) so the anomaly boundary
    cannot drift with float summation order on any engine; z itself is
    two double ops from the same exact integers.

    Two cheap exchanges over pre-aggregated data: the raw scan reduces
    map-side to |types x hours| rows, then the stats window repartitions
    that tiny frame by type. Hours with zero events are absent by
    construction (count grid, not a gap-filled one — ev14 is the
    gap-filling operator)."""
    events = load_table(spark, sf_dir, "events")
    counts = (
        events.groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("event_type")
    stats = counts.select(
        "*",
        F.sum("n_events").over(w).alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).over(w).alias("ss"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    num = F.col("n_events") * F.col("n") - F.col("s")
    den2 = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    return (
        stats.filter((den2 > 0) & (num > 0) & (num * num >= 4 * den2))
        .select(
            "event_type",
            "hour_epoch",
            "n_events",
            (num.cast("double") / F.sqrt(den2.cast("double"))).alias("z"),
        )
    )


@register(
    "ev14_gapfill_locf",
    oracle="""
    WITH bounds AS (
        SELECT user_id,
               date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM events GROUP BY user_id
    ),
    grid AS (
        SELECT user_id,
               CAST(epoch(UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR))) AS BIGINT)
                   AS hour_epoch
        FROM bounds
    ),
    obs AS (
        SELECT user_id, hour_epoch, value AS obs_value FROM (
            SELECT user_id,
                   CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
                   value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, date_trunc('hour', ts)
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        ) x WHERE rn = 1
    )
    SELECT g.user_id, g.hour_epoch,
           LAST_VALUE(o.obs_value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.hour_epoch
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value,
           CAST(o.obs_value IS NULL AS BOOLEAN) AS filled
    FROM grid g LEFT JOIN obs o USING (user_id, hour_epoch)
    """,
)
def ev14_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill with last-observation-carried-forward: an
    hourly grid per user (their first to last active hour via
    ``sequence()`` + explode), the latest observed value in each hour
    (max_by on the (ts, event_id) total order), and LOCF for silent
    hours (`last(ignorenulls)` running window). `filled` marks carried
    rows. This is the densification step feature stores and forecasting
    pipelines run before training.

    Shuffle budget: one exchange for the per-user bounds, one on
    (user_id, hour_epoch) shared by the observation aggregate and the
    grid-obs join (Catalyst co-partitions both sides; at fixture scale
    AQE broadcasts the grid instead), then the fill window re-keys the
    joined frame on user_id. Grid fan-out is |users x active-span-hours|
    rows of (long, long, double). Carried values are untouched doubles —
    no arithmetic, no drift."""
    events = load_table(spark, sf_dir, "events")
    hour_ep = F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
    bounds = events.groupBy("user_id").agg(
        F.min(hour_ep).alias("h0"), F.max(hour_ep).alias("h1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.lit(3600))).alias("hour_epoch"),
    )
    obs = events.groupBy("user_id", hour_ep.alias("hour_epoch")).agg(
        F.expr("max_by(value, struct(ts, event_id))").alias("obs_value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, ["user_id", "hour_epoch"], "left")
        .select(
            "user_id",
            "hour_epoch",
            F.last("obs_value", ignorenulls=True).over(w).alias("value"),
            F.col("obs_value").isNull().alias("filled"),
        )
    )


@register(
    "ev15_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n_transitions,
           CAST(n_transitions AS DOUBLE)
               / SUM(n_transitions) OVER (PARTITION BY prev_type) AS p
    FROM trans
    """,
)
def ev15_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: LAG pairs each event with its predecessor in the
    (ts, event_id) total order, one groupBy counts each
    (prev, next) edge, and a window over the |types|^2 counted matrix
    normalizes rows to probabilities. The behavioral-sequence prior
    behind next-event prediction and bot detection.

    The user_id exchange for the LAG window is the only shuffle that
    scales with the corpus; everything after operates on at most
    |types|^2 rows. p is one integer/integer IEEE division — no
    summation-order drift."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        events.select(
            "event_type", F.lag("event_type").over(w).alias("prev_type")
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    wp = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (F.col("n_transitions").cast("double") / F.sum("n_transitions").over(wp)).alias("p"),
    )


@register(
    "ev16_time_to_conversion",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view'
                   THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS first_view_ep,
               MIN(CASE WHEN event_type = 'purchase'
                   THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS first_purchase_ep
        FROM events GROUP BY user_id
    )
    SELECT user_id, first_view_ep,
           CAST(first_purchase_ep IS NOT NULL
                AND first_purchase_ep >= first_view_ep AS BOOLEAN) AS converted,
           CASE WHEN first_purchase_ep >= first_view_ep
                THEN first_purchase_ep - first_view_ep END AS sec_to_convert
    FROM firsts
    WHERE first_view_ep IS NOT NULL
    """,
)
def ev16_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-censored time-to-event: for every user with a first view,
    the seconds until their first purchase AT OR AFTER it (NULL =
    censored, `converted` flags the distinction explicitly — survival
    analysis' at-risk bookkeeping). ONE conditional-min groupBy over the
    scan computes both firsts; no join, no window, map-side partials,
    integer epochs throughout."""
    events = load_table(spark, sf_dir, "events")
    ep = F.unix_timestamp("ts").cast("long")
    firsts = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", ep)).alias("first_view_ep"),
        F.min(F.when(F.col("event_type") == "purchase", ep)).alias("first_purchase_ep"),
    )
    converted = F.col("first_purchase_ep").isNotNull() & (
        F.col("first_purchase_ep") >= F.col("first_view_ep")
    )
    return firsts.filter(F.col("first_view_ep").isNotNull()).select(
        "user_id",
        "first_view_ep",
        converted.alias("converted"),
        F.when(
            converted, F.col("first_purchase_ep") - F.col("first_view_ep")
        ).alias("sec_to_convert"),
    )


# ---------------------------------------------------------------------------
# ev18: interval-overlap join (sessions x errorful hours), bucketed
# ---------------------------------------------------------------------------

_EV18_MIN_ERRORS = 2  # an hour is "errorful" with >= this many error events


@register(
    "ev18_session_error_hour_overlap",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep, event_type FROM events
    ),
    marks AS (
        SELECT user_id, ep,
               CASE WHEN LAG(ep) OVER w IS NULL
                         OR ep - LAG(ep) OVER w > {_SESSION_GAP_SEC}
                    THEN 1 ELSE 0 END AS new_s
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_type)
    ),
    sessions AS (
        SELECT user_id,
               CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ep, new_s DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_id,
               ep
        FROM marks
    ),
    spans AS (
        SELECT user_id, session_id, MIN(ep) AS s_start, MAX(ep) AS s_end
        FROM sessions GROUP BY user_id, session_id
    ),
    errhours AS (
        SELECT ep - ep % 3600 AS h
        FROM ev WHERE event_type = 'error'
        GROUP BY 1 HAVING COUNT(*) >= {_EV18_MIN_ERRORS}
    ),
    hits AS (
        SELECT s.user_id, s.session_id, e.h
        FROM spans s JOIN errhours e
          ON e.h BETWEEN (s.s_start - s.s_start % 3600)
                     AND (s.s_end - s.s_end % 3600)
    )
    SELECT user_id,
           CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions_hit,
           CAST(COUNT(*) AS BIGINT) AS n_session_hour_hits
    FROM hits
    GROUP BY user_id
    """,
)
def ev18_session_error_hour_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: which user sessions overlap an hour with a
    system-wide error spike. The oracle states it as the naive
    inequality join (session span BETWEEN the hour bounds); the Spark
    plan is the scale form — each session EXPLODES into the hour
    buckets it covers (bounded by session length / 1h + 1, sessions are
    gap-capped so this is small) and the overlap becomes a pure
    equi-join on the hour epoch. No range nested-loop, no cartesian;
    the errorful-hours side is tiny and broadcast.

    Both interval endpoints are inclusive by construction of the bucket
    sequence, matching the oracle's BETWEEN over truncated bounds."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("ep"), "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ep", "event_type")
    marks = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ep").over(w).isNull()
            | (F.col("ep") - F.lag("ep").over(w) > _SESSION_GAP_SEC),
            1,
        ).otherwise(0),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("ep", F.desc("new_s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = (
        marks.withColumn("session_id", F.sum("new_s").over(ws).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(F.min("ep").alias("s_start"), F.max("ep").alias("s_end"))
    )
    errhours = (
        ev.filter(F.col("event_type") == "error")
        .groupBy((F.col("ep") - F.col("ep") % 3600).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _EV18_MIN_ERRORS)
        .select("h")
    )
    hours = spans.select(
        "user_id",
        "session_id",
        F.explode(
            F.sequence(
                F.col("s_start") - F.col("s_start") % 3600,
                F.col("s_end") - F.col("s_end") % 3600,
                F.lit(3600).cast("long"),
            )
        ).alias("h"),
    )
    hits = hours.join(F.broadcast(errhours), "h")
    return hits.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions_hit"),
        F.count(F.lit(1)).alias("n_session_hour_hits"),
    )


# ---------------------------------------------------------------------------
# ev19: session path mining (top event-type trigrams)
# ---------------------------------------------------------------------------

_EV19_TOP = 15


@register(
    "ev19_session_path_trigrams",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep, event_id, event_type
        FROM events
    ),
    marks AS (
        SELECT user_id, ep, event_id, event_type,
               CASE WHEN LAG(ep) OVER w IS NULL
                         OR ep - LAG(ep) OVER w > {_SESSION_GAP_SEC}
                    THEN 1 ELSE 0 END AS new_s
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)
    ),
    sess AS (
        SELECT user_id, ep, event_id, event_type,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ep, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM marks
    ),
    paths AS (
        SELECT user_id, session_id,
               list(event_type ORDER BY ep, event_id) AS seq
        FROM sess GROUP BY user_id, session_id
    ),
    grams AS (
        SELECT unnest(list_transform(range(1, greatest(len(seq) - 1, 1)),
                   i -> seq[i] || '>' || seq[i+1] || '>' || seq[i+2])) AS path
        FROM paths WHERE len(seq) >= 3
    )
    SELECT path,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM grams GROUP BY path
    ORDER BY n_occurrences DESC, path
    LIMIT {_EV19_TOP}
    """,
)
def ev19_session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining: the corpus-wide top-15 three-step
    event-type paths users take INSIDE a session — the sequential
    pattern census behind funnel discovery (ev15's Markov matrix is the
    one-step marginal of these counts; this keeps the order-3 joint).

    Sessions reuse the 30-minute-gap construction; each session's
    ordered event-type list assembles in one user-keyed aggregation
    (shuffle carries (user, epoch, type), never grows with corpus
    breadth), trigrams explode from the per-session array with zero
    additional shuffle, and the final census is one count groupBy plus
    a TakeOrderedAndProject top-k with a deterministic tie-break —
    no global sort."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("ep"), "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    marks = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ep").over(w).isNull()
            | (F.col("ep") - F.lag("ep").over(w) > _SESSION_GAP_SEC),
            1,
        ).otherwise(0),
    )
    sess = marks.withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(ep, event_id, event_type))),"
            " x -> x.event_type)"
        ).alias("seq")
    )
    grams = paths.filter(F.size("seq") >= 3).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(seq) - 2),"
                " i -> concat_ws('>', seq[i-1], seq[i], seq[i+1]))"
            )
        ).alias("path")
    )
    return (
        grams.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "path")
        .limit(_EV19_TOP)
    )


# ---------------------------------------------------------------------------
# ev20: user feature assembly (feature-store pass)
# ---------------------------------------------------------------------------


@register(
    "ev20_user_feature_assembly",
    oracle="""
    WITH bounds AS (
        SELECT CAST(floor(epoch(MAX(ts))) AS BIGINT) AS max_ep FROM events
    ),
    ev AS (
        SELECT user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS ep,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    )
    SELECT user_id,
           CAST((b.max_ep - MAX(ep)) // 86400 AS BIGINT) AS recency_days,
           CAST((MAX(ep) - MIN(ep)) // 86400 AS BIGINT) AS tenure_days,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT ep // 86400) AS BIGINT) AS active_days,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchases,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END) AS BIGINT)
               AS purchase_cents,
           CAST(SUM(CASE WHEN event_type = 'click'
                          AND ep >= b.max_ep - 7 * 86400 THEN 1 ELSE 0 END) AS BIGINT)
               AS clicks_7d,
           CAST(SUM(CASE WHEN ep >= b.max_ep - 30 * 86400 THEN 1 ELSE 0 END) AS BIGINT)
               AS events_30d
    FROM ev CROSS JOIN bounds b
    GROUP BY user_id, b.max_ep
    """,
)
def ev20_user_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store assembly: the per-user RFM/activity feature vector
    (recency, tenure, event and purchase counts, exact integer-cents
    monetary total, distinct active days, 7- and 30-day recency
    windows, all anchored to the corpus max timestamp) — the batch
    features a churn/LTV model trains on.

    ONE pass: every feature is a conditional aggregate inside a single
    user-keyed groupBy (adding a feature adds a column, not a scan or
    join); the corpus max timestamp is a 1-row broadcast. Day
    arithmetic is integer epoch division and money is integer cents —
    nothing floats, so the oracle matches bit-for-bit."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("ep"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    bounds = ev.agg(F.max("ep").alias("max_ep"))
    day = 86400
    return (
        ev.join(F.broadcast(bounds))
        .groupBy("user_id", "max_ep")
        .agg(
            F.expr(f"(max_ep - max(ep)) div {day}").alias("recency_days"),
            F.expr(f"(max(ep) - min(ep)) div {day}").alias("tenure_days"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct(F.expr(f"ep div {day}")).alias("active_days"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purchases"),
            F.sum(F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(0))
            .cast("long")
            .alias("purchase_cents"),
            F.sum(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ep") >= F.col("max_ep") - 7 * day),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("clicks_7d"),
            F.sum(F.when(F.col("ep") >= F.col("max_ep") - 30 * day, 1).otherwise(0))
            .cast("long")
            .alias("events_30d"),
        )
        .drop("max_ep")
    )


@register(
    "ev21_cohort_ltv",
    oracle="""
    WITH cohort AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    spend AS (
        SELECT e.user_id,
               CAST(datediff('day', c.cohort_week,
                             CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT)
                   AS week_offset,
               c.cohort_week,
               CAST(FLOOR(e.value * 100) AS BIGINT) AS cents
        FROM events e JOIN cohort c USING (user_id)
        WHERE e.event_type = 'purchase'
    ),
    weekly AS (
        SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, week_offset,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_buyers,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM spend GROUP BY cohort_week, week_offset
    )
    SELECT cohort_week, week_offset, n_buyers, cents,
           CAST(SUM(cents) OVER (PARTITION BY cohort_week ORDER BY week_offset)
                AS BIGINT) AS cum_cents
    FROM weekly
    """,
)
def ev21_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users cohorted by first-event
    week; purchase value accumulated per (cohort, week-offset) with a
    running cumulative total — the LTV-by-age matrix growth teams read
    retention economics from (ev11's retention counts, but in money).

    Monetary values integerize to floor(cents) BEFORE the sum, so the
    aggregate is exact integer arithmetic at any parallelism — the
    float-summation-order trap (Spark's partial sums vs a serial fold
    disagree in low bits) never arises. One user-keyed join against the
    broadcast-small cohort map, one (cohort, offset) rollup, and the
    cumulative window runs over the tiny weekly matrix, not the event
    corpus."""
    events = load_table(spark, sf_dir, "events")
    cohort = events.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    spend = (
        events.filter(F.col("event_type") == "purchase")
        .join(cohort, "user_id")
        .select(
            "user_id",
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            F.expr(
                "cast(datediff(to_date(date_trunc('week', ts)), cohort_week) div 7 as bigint)"
            ).alias("week_offset"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    weekly = spend.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_buyers"),
        F.sum("cents").alias("cents"),
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return weekly.select(
        "cohort_week",
        "week_offset",
        "n_buyers",
        "cents",
        F.sum("cents").over(w).cast("long").alias("cum_cents"),
    )


_CHURN_WINDOW_DAYS = 28


@register(
    "ev22_churn_labels",
    oracle=f"""
    WITH anchor AS (SELECT CAST(MAX(ts) AS DATE) AS anchor_day FROM events),
    cutoff AS (
        SELECT anchor_day, anchor_day - INTERVAL {_CHURN_WINDOW_DAYS} DAY AS cutoff_day
        FROM anchor
    ),
    labeled AS (
        SELECT e.user_id,
               SUM(CASE WHEN CAST(e.ts AS DATE) < c.cutoff_day THEN 1 ELSE 0 END) AS n_before,
               COUNT(DISTINCT CASE WHEN CAST(e.ts AS DATE) < c.cutoff_day
                                   THEN CAST(e.ts AS DATE) END) AS active_days,
               MAX(CASE WHEN CAST(e.ts AS DATE) < c.cutoff_day
                        THEN CAST(e.ts AS DATE) END) AS last_before,
               MAX(CASE WHEN CAST(e.ts AS DATE) >= c.cutoff_day THEN 1 ELSE 0 END) AS seen_after,
               MIN(c.cutoff_day) AS cutoff_day
        FROM events e CROSS JOIN cutoff c
        GROUP BY e.user_id
    )
    SELECT user_id,
           CAST(n_before AS BIGINT) AS n_events_before,
           CAST(active_days AS BIGINT) AS active_days_before,
           CAST(datediff('day', last_before, cutoff_day) AS BIGINT) AS recency_days,
           (seen_after = 0) AS churned
    FROM labeled
    WHERE n_before > 0
    """,
)
def ev22_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-label generation: anchor at the corpus's last day, call the
    final {_CHURN_WINDOW_DAYS} days the outcome window, and for every
    user with history BEFORE the window emit pre-window features
    (event count, distinct active days, recency at the cutoff) plus the
    label — churned = silent for the whole outcome window. This is the
    time-split label factory for retention models, built so feature
    columns can never leak from the label window (every feature
    aggregates a CASE that excludes it).

    One corpus scan, one user-keyed aggregate: features and label fold
    in the same conditional-aggregate pass (ev20's shape), the anchor
    arrives as a broadcast 1-row aggregate, and everything is integer
    days/counts — no float surface at all."""
    events = load_table(spark, sf_dir, "events")
    anchor = events.agg(F.max(F.col("ts").cast("date")).alias("anchor_day"))
    cutoff = anchor.select(
        F.date_sub("anchor_day", _CHURN_WINDOW_DAYS).alias("cutoff_day")
    )
    d = F.col("ts").cast("date")
    before = d < F.col("cutoff_day")
    labeled = (
        events.crossJoin(F.broadcast(cutoff))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(before, 1).otherwise(0)).alias("n_events_before"),
            F.countDistinct(F.when(before, d)).alias("active_days_before"),
            F.max(F.when(before, d)).alias("last_before"),
            F.max(F.when(~before, 1).otherwise(0)).alias("seen_after"),
            F.min("cutoff_day").alias("cutoff_day"),
        )
    )
    return labeled.filter(F.col("n_events_before") > 0).select(
        "user_id",
        "n_events_before",
        "active_days_before",
        F.datediff("cutoff_day", "last_before").cast("long").alias("recency_days"),
        (F.col("seen_after") == 0).alias("churned"),
    )


_AB_BUCKETS = 10_000
_AB_SPLIT = 5_000  # 50/50 assignment
_AB_HASH = (
    "pmod(cast(conv(substring(md5(concat('ab#', cast(user_id as string))), 1, 15),"
    f" 16, 10) as bigint), {_AB_BUCKETS})"
)
_AB_HASH_SQL = (
    "(('0x' || substring(md5('ab#' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT)"
    f" % {_AB_BUCKETS}"
)


@register(
    "ev23_ab_test_zscore",
    oracle=f"""
    WITH assigned AS (
        SELECT user_id,
               CASE WHEN {_AB_HASH_SQL} < {_AB_SPLIT} THEN 'A' ELSE 'B' END AS variant,
               MAX(CASE WHEN event_type = 'purchase' AND value >= 180.0 THEN 1 ELSE 0 END) AS converted
        FROM events
        GROUP BY user_id
    ),
    arms AS (
        SELECT variant,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(converted) AS BIGINT) AS n_converted
        FROM assigned GROUP BY variant
    ),
    wide AS (
        SELECT MAX(CASE WHEN variant = 'A' THEN n_users END) AS n_a,
               MAX(CASE WHEN variant = 'A' THEN n_converted END) AS c_a,
               MAX(CASE WHEN variant = 'B' THEN n_users END) AS n_b,
               MAX(CASE WHEN variant = 'B' THEN n_converted END) AS c_b
        FROM arms
    )
    SELECT n_a, c_a, n_b, c_b,
           CAST(c_a AS DOUBLE) / n_a AS rate_a,
           CAST(c_b AS DOUBLE) / n_b AS rate_b,
           CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
               (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                   / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                          * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                          * (1.0 / n_a + 1.0 / n_b))
           END AS z_score
    FROM wide
    """,
)
def ev23_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B readout: users hash-assigned 50/50 (salted
    md5 bucket — deterministic, orthogonal to sp01's split hash by the
    salt), per-user conversion = any high-value purchase (>= 180), and the pooled
    two-proportion z-score for the lift. The whole experiment-analysis
    pass a growth team runs, as one query.

    The corpus collapses to one boolean per user in a single map-side
    combined groupBy; the arm rollup is 2 rows; the z-statistic is pure
    scalar arithmetic on exact integer counts — and it stays
    hash-exact across engines because, unlike ln/exp, IEEE-754 sqrt is
    correctly rounded, so identical doubles in give identical doubles
    out. Assignment-by-content-hash also makes the experiment
    re-analyzable bit-identically on any engine, any cluster, any
    day."""
    events = load_table(spark, sf_dir, "events")
    assigned = events.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 180.0), 1
            ).otherwise(0)
        ).alias("converted")
    ).select(
        F.when(F.expr(_AB_HASH) < _AB_SPLIT, "A").otherwise("B").alias("variant"),
        "converted",
    )
    arms = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("variant") == "A", F.col("n_converted"))).alias("c_a"),
        F.max(F.when(F.col("variant") == "B", F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("variant") == "B", F.col("n_converted"))).alias("c_b"),
    )
    rate_a = F.col("c_a").cast("double") / F.col("n_a")
    rate_b = F.col("c_b").cast("double") / F.col("n_b")
    pooled = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    return wide.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        rate_a.alias("rate_a"),
        rate_b.alias("rate_b"),
        F.when(
            (F.col("c_a") + F.col("c_b") > 0)
            & (F.col("c_a") + F.col("c_b") < F.col("n_a") + F.col("n_b")),
            (rate_a - rate_b)
            / F.sqrt(
                pooled
                * (F.lit(1.0) - pooled)
                * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
            ),
        ).alias("z_score"),
    )


@register(
    "ev24_dow_seasonality",
    oracle="""
    WITH dows AS (
        SELECT event_type,
               CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS iso_dow
        FROM events
    ),
    counts AS (
        SELECT event_type, iso_dow, CAST(COUNT(*) AS BIGINT) AS n
        FROM dows GROUP BY event_type, iso_dow
    ),
    totals AS (
        SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_type FROM counts
        GROUP BY event_type
    )
    SELECT c.event_type, c.iso_dow, c.n,
           CAST(7 * c.n AS DOUBLE) / t.n_type AS seasonal_index
    FROM counts c JOIN totals t USING (event_type)
    """,
)
def ev24_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type: count per ISO
    weekday and the seasonal index 7·n_dow / n_type (1.0 = flat; the
    multiplicative factor a forecaster divides out before trend
    fitting, and the capacity planner reads load peaks from).

    ISO weekday numbering is stated explicitly on both engines (the
    q36 dialect-normalization rule: Spark (dayofweek+5)%7+1, DuckDB
    isodow). One map-side-combined groupBy reduces the corpus to at
    most |types|×7 rows; totals re-aggregate from those counts — the
    corpus is scanned once — and the index is one integer product and
    one IEEE division, hash-exact across engines."""
    events = load_table(spark, sf_dir, "events")
    dows = events.select(
        "event_type",
        (((F.dayofweek(F.col("ts").cast("date")) + 5) % 7) + 1)
        .cast("long")
        .alias("iso_dow"),
    )
    counts = dows.groupBy("event_type", "iso_dow").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("event_type").agg(F.sum("n").alias("n_type"))
    return counts.join(totals, "event_type").select(
        "event_type",
        "iso_dow",
        "n",
        ((7 * F.col("n")).cast("double") / F.col("n_type")).alias(
            "seasonal_index"
        ),
    )


def touch_windows(events: DataFrame) -> DataFrame:
    """Annotate each event with the user's first-ever and most recent
    PRIOR non-purchase event type (running IGNORE NULLS windows over
    (ts, event_id) order; the current row is excluded, so a purchase
    never attributes to itself). Shared by ev25 and the hypothesis
    model test."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    return events.withColumn(
        "first_touch", F.first(touch, ignorenulls=True).over(w)
    ).withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))


@register(
    "ev25_touch_attribution",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, ts, event_type,
               CAST(FLOOR(value * 100) AS BIGINT) AS cents,
               FIRST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch,
               LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
        FROM events
    ),
    purchases AS (
        SELECT COALESCE(first_touch, '(none)') AS first_touch,
               COALESCE(last_touch, '(none)') AS last_touch,
               cents
        FROM ordered WHERE event_type = 'purchase'
    )
    SELECT touch_type, attribution,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(COUNT(*) AS BIGINT) AS n_purchases
    FROM (
        SELECT first_touch AS touch_type, 'first' AS attribution, cents FROM purchases
        UNION ALL
        SELECT last_touch AS touch_type, 'last' AS attribution, cents FROM purchases
    ) u
    GROUP BY touch_type, attribution
    """,
)
def ev25_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: each purchase's revenue credited to the
    user's FIRST-ever prior non-purchase touch and to the LAST touch
    before the purchase, rolled up per touch event type under both
    models side by side — the first-vs-last-touch comparison that
    decides channel budgets.

    Both touches come from one pair of running windows over the same
    (user_id, ts, event_id) ordering — one user_id exchange total,
    with running frames Spark streams without buffering partitions
    (same family as ev14's LOCF). IGNORE NULLS windows are stated
    identically in both dialects; revenue integerizes to cents before
    the rollup, so the whole statement is exact integer arithmetic."""
    events = load_table(spark, sf_dir, "events")
    ordered = touch_windows(events).select(
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        "first_touch",
        "last_touch",
    )
    purchases = ordered.filter(F.col("event_type") == "purchase").select(
        F.coalesce("first_touch", F.lit("(none)")).alias("first_touch"),
        F.coalesce("last_touch", F.lit("(none)")).alias("last_touch"),
        "cents",
    )
    long = purchases.select(
        F.col("first_touch").alias("touch_type"),
        F.lit("first").alias("attribution"),
        "cents",
    ).unionAll(
        purchases.select(
            F.col("last_touch").alias("touch_type"),
            F.lit("last").alias("attribution"),
            "cents",
        )
    )
    return long.groupBy("touch_type", "attribution").agg(
        F.sum("cents").alias("cents"),
        F.count(F.lit(1)).alias("n_purchases"),
    )


# Native session windows (F.session_window) certified against the
# gaps-and-islands closed form. Boundary semantics differ from ev02's
# hand-rolled variant in two documented ways the oracle mirrors
# exactly: (1) the split is >= gap (an event exactly 30 min after the
# previous one starts a NEW session — session windows are end-
# EXCLUSIVE), where ev02's reference-shaped rule chains it; (2) the
# comparison runs at full microsecond precision (no epoch-second
# floor), and session_end = last event + gap by definition.
_EV27_GAP_US = 30 * 60 * 1_000_000

_EV27_SQL = f"""
WITH ordered AS (
    SELECT user_id, epoch_us(ts) AS us,
           LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
    FROM events
),
flagged AS (
    SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= {_EV27_GAP_US}
                   THEN 1 ELSE 0 END AS is_new
    FROM ordered
),
sessions AS (
    SELECT *, SUM(is_new) OVER
              (PARTITION BY user_id ORDER BY us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM flagged
)
SELECT user_id,
       CAST(MIN(us) AS BIGINT) AS session_start_us,
       CAST(MAX(us) + {_EV27_GAP_US} AS BIGINT) AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sessions
GROUP BY user_id, sid
"""


@register("ev27_native_session_windows", oracle=_EV27_SQL)
def ev27_native_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session-window operator (F.session_window, the
    same primitive the streaming engine uses for session state) pinned
    against the gaps-and-islands closed form — so both sessionization
    formulations in this engine (ev02's two-window form and the
    built-in) are hard-signal certified, including the end-exclusive
    >= gap boundary and the end = last_event + gap convention.

    Plan shape: session_window plans one exchange on user_id plus an
    in-partition merge of overlapping candidate windows — the same
    single-shuffle cost as ev02; at 100 TB the choice between them is
    API, not performance."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# ev28: session windows with a DYNAMIC (per-event) gap
# ---------------------------------------------------------------------------

# Purchases hold a session open 30 minutes, everything else 10 — the
# "high-intent events extend the session" policy real funnels use.
_EV28_GAP_PURCHASE_US = 30 * 60 * 1_000_000
_EV28_GAP_OTHER_US = 10 * 60 * 1_000_000

_EV28_SQL = f"""
WITH e AS (
    SELECT user_id, event_id, epoch_us(ts) AS us,
           CASE WHEN event_type = 'purchase'
                THEN {_EV28_GAP_PURCHASE_US} ELSE {_EV28_GAP_OTHER_US} END AS gap_us
    FROM events
),
m AS (
    SELECT *,
           MAX(us + gap_us) OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
    FROM e
),
f AS (
    SELECT *, CASE WHEN prev_end IS NULL OR us >= prev_end THEN 1 ELSE 0 END AS is_new
    FROM m
),
s AS (
    SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM f
)
SELECT user_id,
       CAST(MIN(us) AS BIGINT) AS session_start_us,
       CAST(MAX(us + gap_us) AS BIGINT) AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, sid
"""


@register("ev28_dynamic_gap_sessions", oracle=_EV28_SQL)
def ev28_dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows whose gap is a PER-EVENT expression
    (F.session_window with a Column gap — purchases hold the session
    open 30 min, everything else 10): the dynamic-gap half of the
    built-in operator ev27 certified with a static gap. The oracle
    generalizes the gaps-and-islands closed form from LAG to a running
    MAX of per-event window ends (a constant gap makes prev-event end
    the max; a dynamic one does not), pinning Spark's merge rule —
    windows merge while event_start < session_end, session_end =
    MAX(event_ts + its own gap).

    Plan shape: identical to ev27 — one exchange on user_id plus the
    in-partition merge; the dynamic gap is evaluated per row before
    the merge, so cost does not change with the gap policy."""
    events = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )
