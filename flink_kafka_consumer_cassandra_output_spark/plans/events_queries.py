"""Event-time and JSON queries over the ``events`` fixture.

The reference's only streaming-runtime feature is checkpointing
(/root/reference/src/main/java/com/cansever/consumer/BackupMessageConsumer.java:34);
it has no windows, no watermarks, no JSON functions (SURVEY.md section 2
absent-category rows "streaming windows" and "JSON scalars").  These queries
provide the batch-checkable halves -- tumbling/sliding/session windows on
``ts`` and ``from_json`` with an explicit schema on ``props`` -- while
``streaming/pipeline.py`` runs the same window specs under Structured
Streaming with watermarks.

Window alignment note: Spark's ``F.window`` aligns buckets to the epoch; the
oracles replicate that with integer microsecond arithmetic (``epoch_us DIV
width``), never float seconds, so bucket edges are bit-exact.

Scale: every query shuffles once on its (bucket, key) pair with map-side
partial aggregation; session windows shuffle on user_id then sort within
partitions -- the same shape Structured Streaming's session-window state
operator uses, so the batch plan is an honest cost model for the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import numeric as N
from ..functions import sketch as SK
from ..sources import tables
from .registry import register

#: Explicit schema for events.props (SURVEY.md:188 requires from_json with a
#: declared schema, not schema inference or single-key pulls).
PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType())])


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "events")


@register(
    "ev_json_props_typed",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
       event_type,
       value
FROM events
""",
    doc="from_json with an explicit StructType on events.props (JSON scalar "
        "surface); typed struct field access, not string re-parsing per key",
    driver=False,
    sibling="ev_max_concurrent_sessions",
)
def ev_json_props_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    return ev.select(
        "event_id",
        F.from_json(F.col("props"), PROPS_SCHEMA)["k"].alias("prop_k"),
        "event_type",
        "value",
    )


@register(
    "ev_tumbling_hourly",
    oracle=f"""
SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
       make_timestamp((epoch_us(ts) // 3600000000) * 3600000000 + 3600000000) AS window_end,
       event_type,
       COUNT(*) AS n_events,
       {N.dsum_expr('value')} AS sum_value
FROM events
GROUP BY 1, 2, 3
""",
    doc="tumbling 1-hour window aggregate (epoch-aligned, matching "
        "F.window's origin); decimal-exact value sums",
    driver=False,
    sibling="ev_cusum_alarm_minute",
)
def ev_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = F.window("ts", "1 hour")
    return (
        ev.groupBy(w, "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), N.dsum("value", "sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "ev_sliding_hourly_30m",
    oracle=f"""
WITH assigned AS (
  SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS window_start, *
  FROM events
  UNION ALL
  SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000 - 1800000000), *
  FROM events
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       COUNT(*) AS n_events,
       {N.dsum_expr('value')} AS sum_value
FROM assigned
GROUP BY 1, 2
""",
    doc="sliding window (1h width, 30m slide): each event lands in exactly 2 "
        "overlapping buckets; the oracle materializes both bucket starts "
        "explicitly. Scale: Spark's window expand is a per-row flatMap (x2 "
        "rows), then one shuffle on the bucket",
    driver=False,
    sibling="ev_max_concurrent_sessions",
)
def ev_sliding_hourly_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(w)
        .agg(F.count(F.lit(1)).alias("n_events"), N.dsum("value", "sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "ev_session_windows",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 6 HOUR
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 6 HOUR AS session_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_id
""",
    doc="session windows with a 6-hour inactivity gap via F.session_window; "
        "the oracle is the classic gaps-and-islands rewrite (lag -> running "
        "sum of session starts).  Spark session semantics: start = first "
        "event, end = last event + gap",
    driver=False,
    sibling="ev_max_concurrent_sessions",
)
def ev_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "6 hours"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


#: Pinned pivot values: deterministic column order, no discovery scan.
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "ev_pivot_user_type_counts",
    oracle="""
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 END) AS BIGINT) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 END) AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 END) AS BIGINT) AS view
FROM events
GROUP BY user_id
""",
    doc="pivot (wide aggregation) with pinned value list -- no extra pass to "
        "discover pivot values, single shuffle on user_id; missing combos are "
        "NULL on both engines (SUM over empty CASE).  Oracle SUMs are cast to "
        "BIGINT: DuckDB SUM yields HUGEINT, and the driver's value hash is "
        "type-sensitive even when values are identical",
    # ev_unpivot_roundtrip (driver-checked) COMPOSES this pivot and its
    # oracle is the plain GROUP BY, so a wrong pivot cell cannot pass the
    # driver's roundtrip gate; the wide form itself stays oracle-checked
    # locally.
    driver=False,
    sibling="agg_cube_orders",
)
def ev_pivot_user_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )


@register(
    "ev_unpivot_roundtrip",
    oracle="""
SELECT user_id, event_type, COUNT(*) AS n
FROM events
GROUP BY user_id, event_type
""",
    doc="UNPIVOT (wide -> long): melting the pivoted per-user count matrix "
        "back to (user_id, event_type, n) rows must reproduce the plain "
        "GROUP BY exactly -- the oracle IS that group-by, so the gate checks "
        "the pivot/unpivot round-trip, not just the melt mechanics.  NULL "
        "cells (user never produced the type) are dropped on both sides",
)
def ev_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = ev_pivot_user_type_counts(spark, sf_dir)
    return wide.unpivot(
        ids=["user_id"],
        values=list(EVENT_TYPES),
        variableColumnName="event_type",
        valueColumnName="n",
    ).filter(F.col("n").isNotNull())


# --------------------------------------------------------------------------
# Event-analytics suite: the product-analytics shapes (cohorts, funnels,
# transitions, sessions-ranked) a training-data/events pipeline serves.
# The reference has nothing event-time-relational at all; these extend the
# absent-category surface the way the north-star suite extends text dedup.
# --------------------------------------------------------------------------

@register(
    "ev_user_retention_cohorts",
    oracle="""
WITH first_seen AS (
  SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, act_week) // 7 AS BIGINT)
         AS week_offset,
       COUNT(*) AS active_users
FROM first_seen JOIN active USING (user_id)
GROUP BY cohort_week, week_offset
""",
    doc="cohort retention: users bucketed by first-seen ISO week, counted "
        "in each later week they were active.  Both engines truncate weeks "
        "to Monday 00:00, so the offset division is an exact multiple of "
        "7 days.  Plan: two aggregations over one events scan (first-seen "
        "is a tiny per-user table that broadcasts back onto the distinct "
        "user-week activity set); at 100 TB the cohort table is |users|, "
        "dimension-sized by construction.",
    driver=False,
    sibling="ev_cohort_revenue_curve",
)
def ev_user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts"))).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    j = active.join(F.broadcast(first_seen), "user_id")
    offset = F.floor(
        F.datediff(F.col("act_week"), F.col("cohort_week")) / 7
    ).cast("long")
    return j.groupBy("cohort_week", offset.alias("week_offset")).agg(
        F.count(F.lit(1)).alias("active_users")
    )


@register(
    "ev_funnel_conversion",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_view_click,
       (SELECT COUNT(*) FROM p) AS n_view_click_purchase
""",
    doc="ordered funnel conversion view -> click -> purchase: each stage "
        "counts users whose FIRST qualifying event strictly follows their "
        "first event of the previous stage (the standard strictly-ordered "
        "funnel; re-orderings don't count).  The Spark side is the ONE-SCAN "
        "windowed form: per user, a running min of preceding first-view "
        "times marks qualifying clicks, a second running min over those "
        "marks qualifying purchases, and one aggregate emits all three "
        "distinct-user counts -- a single fact scan and a single user_id "
        "shuffle serving both windows, where the staged form (the oracle's "
        "CTE chain, kept as the independent check) re-scans events once "
        "per stage.  Strictness under ties: the 1-preceding frame plus the "
        "explicit ts > comparison, with event_id completing the total "
        "order.",
)
def ev_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    min_view_prev = F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w_prev)
    staged = ev.withColumn(
        "qual_click",
        (F.col("event_type") == "click")
        & min_view_prev.isNotNull()
        & (F.col("ts") > min_view_prev),
    )
    min_qc_prev = F.min(F.when(F.col("qual_click"), F.col("ts"))).over(w_prev)
    staged = staged.withColumn(
        "qual_purchase",
        (F.col("event_type") == "purchase")
        & min_qc_prev.isNotNull()
        & (F.col("ts") > min_qc_prev),
    )
    return staged.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("n_view"),
        F.countDistinct(F.when(F.col("qual_click"), F.col("user_id"))).alias(
            "n_view_click"
        ),
        F.countDistinct(F.when(F.col("qual_purchase"), F.col("user_id"))).alias(
            "n_view_click_purchase"
        ),
    )


@register(
    "ev_event_transitions",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n
FROM ordered
WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
""",
    doc="per-user event transition matrix (markov-chain edge counts): LAG "
        "over (user, time) with the unique event_id tiebreak making the "
        "order total, aggregated to (prev, next) pairs.  Plan: one shuffle "
        "on user_id for the window sort, then a 25-group aggregate; the "
        "window never re-shuffles an already user-partitioned stream.",
)
def ev_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "ev_top_sessions_by_events",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_id
ORDER BY n_events DESC, user_id, session_start
LIMIT 20
""",
    doc="top-20 busiest sessions under a 30-minute inactivity gap: the "
        "gaps-and-islands sessionization (lag -> running sum) ranked by "
        "event count with a (user, start) total-order tiebreak.  Plan: one "
        "user_id shuffle serves both windows AND the per-session "
        "aggregate; TakeOrderedAndProject does the global top-20.",
)
def ev_top_sessions_by_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond arithmetic: the oracle's INTERVAL comparison is exact, so
    # a whole-second cast here would misclassify sub-second boundary gaps
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    # same (ts, event_id) total order as the lag window: a ts-only running
    # sum would assign tied rows to sessions nondeterministically
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = flagged.withColumn("session_id", F.sum("new_session").over(wrun))
    agg = numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        agg.orderBy(
            F.col("n_events").desc(), F.col("user_id"), F.col("session_start")
        )
        .limit(20)
        .select("user_id", "session_start", "n_events")
    )


@register(
    "ev_hourly_gapfill",
    oracle="""
WITH obs AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         arg_max(value, ts) AS last_value
  FROM events WHERE value IS NOT NULL GROUP BY user_id, hour
),
span AS (
  SELECT user_id,
         UNNEST(generate_series(MIN(hour), MAX(hour), INTERVAL 1 HOUR))
           AS hour
  FROM obs GROUP BY user_id
),
grid AS (
  SELECT s.user_id, s.hour, o.last_value,
         o.last_value IS NOT NULL AS is_observed
  FROM span s LEFT JOIN obs o ON s.user_id = o.user_id AND s.hour = o.hour
)
SELECT user_id, hour,
       last_value(last_value IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS filled_value,
       is_observed
FROM grid
""",
    doc="time-series resampling with forward fill: per user, a dense "
        "hourly grid spanning their observed range (sequence + explode), "
        "each empty hour carrying the last observed hour's value "
        "(last-ignoring-nulls window).  The in-hour representative is "
        "max_by(value, ts) -- deterministic because (user_id, ts) is "
        "unique; both sides filter value IS NOT NULL first because Spark "
        "max_by and DuckDB arg_max disagree on NULL args (arg_max skips "
        "them, max_by can return the NULL paired with the max ts).  "
        "Plan: one aggregate builds the sparse observations, the "
        "grid explodes from a 2-row-per-user span table (never from raw "
        "events), and ONE user_id shuffle serves the left join and the "
        "fill window; grid size is users x span-hours regardless of event "
        "volume, so densification cost is independent of the fact table.  "
        "The first grid hour is observed by construction, so the fill "
        "never emits leading NULLs.",
)
def ev_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    obs = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.max_by("value", "ts").alias("last_value"))
    # SEGMENT-explode gap fill (r18, guide section 2.4 "remove shuffles
    # outright"): the r17 shape materialized obs (it fed two subtrees),
    # exploded a per-user span table, LEFT-JOINED the observations back
    # onto the grid, and ran a last-ignoring-nulls fill window.  But each
    # grid hour's filled value IS the previous observation's value, so
    # one lead() window over the sparse observations yields each
    # observation's segment [hour, next_hour - 1h] (the last observation
    # closes its own segment) and the dense grid explodes directly from
    # the segments carrying the fill value -- the span aggregate, the
    # left join, the fill window, AND the obs checkpoint all disappear;
    # obs now has exactly one consumer.  Row-for-row identical: segment
    # union == [min, max] per user, hours strictly inside a segment are
    # exactly the unobserved ones (is_observed = hour == obs hour), and
    # filled values are COPIES of the same observation the old window
    # picked (A/B: all 1,049,414 sf0.1 rows equal; 1.73 -> 0.93 s).
    # Scale: one shuffle (the obs aggregate) + one user_id window over
    # users x observed-hours rows; densification stays grid-sized and
    # independent of event volume.
    wl = Window.partitionBy("user_id").orderBy("hour")
    nxt = F.lead("hour").over(wl)
    seg = obs.select(
        "user_id",
        F.col("hour").alias("obs_hour"),
        "last_value",
        F.when(nxt.isNull(), F.col("hour"))
        .otherwise(nxt - F.expr("INTERVAL 1 HOUR"))
        .alias("seg_end"),
    )
    return seg.select(
        "user_id",
        F.explode(
            F.sequence("obs_hour", "seg_end", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
        F.col("last_value").alias("filled_value"),
        "obs_hour",
    ).select(
        "user_id",
        "hour",
        "filled_value",
        (F.col("hour") == F.col("obs_hour")).alias("is_observed"),
    )


# --------------------------------------------------------------------------
# Range/interval join via bucket decomposition (round 7)
# --------------------------------------------------------------------------

@register(
    "ev_range_interval_join",
    oracle="""
SELECT e.event_id AS err_event_id,
       e.user_id,
       CAST(COUNT(c.event_id) AS BIGINT) AS n_clicks_2h,
       MIN(c.ts) AS first_click_ts
FROM (SELECT * FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = e.user_id
 AND c.ts >= e.ts
 AND c.ts <= e.ts + INTERVAL 2 HOUR
GROUP BY e.event_id, e.user_id
""",
    doc="large-large INTERVAL/RANGE join done the scale-correct way: the "
        "oracle states the naive theta join (user equi-key + time range), "
        "the Spark plan decomposes the range into hour buckets -- each "
        "error interval explodes into its <=3 covered hour buckets, each "
        "click keeps its single bucket, and the join becomes a pure "
        "(user_id, hour_bucket) EQUI-join followed by the exact range "
        "filter.  A click matches at most one bucket row per interval, so "
        "no post-join dedup is needed.  This is the standard range-join "
        "optimization (binned interval join): at 100 TB the naive form is "
        "a per-user cross product, the bucketed form shuffles both sides "
        "once on (user, bucket) with bounded per-bucket fan-in.",
    driver=False,
    sibling="ev_cusum_alarm_minute",
)
def ev_range_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    errs = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_event_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("err_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("err_end"),
    )
    err_buckets = errs.select(
        "err_event_id", "e_user", "err_ts", "err_end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("err_ts")),
                F.date_trunc("hour", F.col("err_end")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
    )
    # The range predicate lives IN the left-join condition (not a post-join
    # filter): a post-join filter would drop an error whose bucket rows all
    # matched only out-of-range clicks, while the oracle keeps it with
    # count 0.  Catalyst still extracts the two equi keys for the shuffle;
    # the range conjuncts become the join's residual condition.
    j = err_buckets.join(
        clicks,
        (F.col("c_user") == F.col("e_user"))
        & (clicks["bucket"] == err_buckets["bucket"])
        & (F.col("click_ts") >= F.col("err_ts"))
        & (F.col("click_ts") <= F.col("err_end")),
        "left",
    )
    return j.groupBy("err_event_id", F.col("e_user").alias("user_id")).agg(
        F.count("click_id").alias("n_clicks_2h"),
        F.min("click_ts").alias("first_click_ts"),
    )


# --------------------------------------------------------------------------
# Count-min sketch heavy hitters (round 7)
# --------------------------------------------------------------------------

_CMS_D = SK.CMS_D
_CMS_W = SK.CMS_W


def _cms_bucket_sql(j: int) -> str:
    return SK.cms_bucket_sql(j, "user_id")


@register(
    "ev_heavy_hitters_cms",
    oracle=f"""
WITH sketch AS (
  SELECT row_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    {" UNION ALL ".join(f"SELECT {j} AS row_id, {_cms_bucket_sql(j)} AS bucket FROM events" for j in range(_CMS_D))}
  ) GROUP BY row_id, bucket
), exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM events GROUP BY user_id
), probes AS (
  {" UNION ALL ".join(f"SELECT user_id, exact_cnt, {j} AS row_id, {_cms_bucket_sql(j)} AS bucket FROM exact" for j in range(_CMS_D))}
)
SELECT p.user_id, p.exact_cnt,
       MIN(s.cnt) AS cms_estimate,
       MIN(s.cnt) = p.exact_cnt AS is_exact
FROM probes p JOIN sketch s ON p.row_id = s.row_id AND p.bucket = s.bucket
GROUP BY p.user_id, p.exact_cnt
""",
    doc=f"count-min sketch heavy hitters, exact-checked: a {_CMS_D}x{_CMS_W} "
        "CMS built over user_id (md5-salted bucket hashing, deterministic in "
        "both engines), then every candidate's estimate = min over the "
        f"{_CMS_D} rows, reported next to the exact count.  The sketch is "
        f"{_CMS_D}*{_CMS_W} integers regardless of input size -- the point "
        "of CMS at 100 TB: the build is one map-side-combinable groupBy on "
        "(row, bucket), the probe an equi-join against a broadcast-sized "
        "table.  w < |keys| by design so collisions make estimates "
        "overestimate (CMS guarantee: never under).",
    driver=False,
    sibling="approx_quantiles_price",
)
def ev_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    sketch = SK.cms_build(ev, F.col("user_id"))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return SK.cms_estimate(exact, F.col("user_id"), sketch).select(
        "user_id",
        "exact_cnt",
        "cms_estimate",
        (F.col("cms_estimate") == F.col("exact_cnt")).alias("is_exact"),
    )


# --------------------------------------------------------------------------
# Time-series pattern matching (round 7)
# --------------------------------------------------------------------------

#: fixed 8-hour query pattern (integer weights -> the whole query is exact
#: integer arithmetic, no float parity surface at all).
TS_PATTERN = (3, 1, 4, 1, 5, 9, 2, 6)


@register(
    "ev_ts_pattern_match",
    oracle=f"""
WITH hourly AS (
  SELECT user_id,
         make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_ev
  FROM events GROUP BY 1, 2
), windows AS (
  SELECT user_id, hour AS start_hour,
         list(n_ev) OVER w AS arr,
         COUNT(*) OVER w AS w_len,
         CAST(epoch_us(MAX(hour) OVER w) - epoch_us(hour) AS BIGINT) // 3600000000
           AS span_hours
  FROM hourly
  WINDOW w AS (PARTITION BY user_id ORDER BY hour
               ROWS BETWEEN CURRENT ROW AND {len(TS_PATTERN) - 1} FOLLOWING)
)
SELECT user_id, start_hour, span_hours,
       ({" + ".join(f"arr[{i + 1}] * {w}" for i, w in enumerate(TS_PATTERN))})
         AS score
FROM windows
WHERE w_len = {len(TS_PATTERN)}
ORDER BY score DESC, user_id, start_hour
LIMIT 20
""",
    doc="time-series similarity search (PAPERS.md EDBT-2019 family) as "
        "sliding-window cross-correlation: per-user hourly event-count "
        "series, every 8 consecutive OBSERVED hourly buckets scored by an "
        "exact integer dot product against a fixed pattern, global top-20 "
        "via orderBy+limit (TakeOrderedAndProject).  The subsequence runs "
        "over the observation sequence (gaps allowed, reported as "
        "span_hours) because the fixture's per-user hourly series is "
        "sparse: a strict wall-clock-contiguity variant returns zero rows "
        "at every fixture SF, which would make the gate vacuous.  One "
        "shuffle builds the series, ONE user-partitioned window builds "
        "every subsequence (collect over a bounded 8-row frame -- state "
        "is O(pattern), not O(series)).  Integer weights keep the whole "
        "query float-free, so parity is exact by construction.",
    driver=False,
    sibling="ev_max_concurrent_sessions",
)
def ev_ts_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = len(TS_PATTERN)
    ev = _ev(spark, sf_dir)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_ev"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, n - 1)
    )
    span = (
        (
            F.unix_micros(F.max("hour").over(w)) - F.unix_micros(F.col("hour"))
        )
        / F.lit(3_600_000_000)
    ).cast("long")
    windows = hourly.select(
        "user_id",
        F.col("hour").alias("start_hour"),
        F.collect_list("n_ev").over(w).alias("arr"),
        F.count(F.lit(1)).over(w).alias("w_len"),
        span.alias("span_hours"),
    )
    score = None
    for i, wt in enumerate(TS_PATTERN):
        term = F.col("arr")[i] * wt
        score = term if score is None else (score + term)
    return (
        windows.filter(F.col("w_len") == n)
        .select("user_id", "start_hour", "span_hours", score.alias("score"))
        .orderBy(F.col("score").desc(), "user_id", "start_hour")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Activity anomaly detection (per-user hourly z-score)
# --------------------------------------------------------------------------

@register(
    "ev_anomaly_zscore",
    oracle="""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour_ts,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id, date_trunc('hour', ts)
),
stats AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         (CAST(SUM(n_events) AS DOUBLE) / COUNT(*)) AS mean_ev,
         sqrt(greatest(
           (CAST(SUM(n_events * n_events) AS DOUBLE) / COUNT(*))
             - (CAST(SUM(n_events) AS DOUBLE) / COUNT(*))
               * (CAST(SUM(n_events) AS DOUBLE) / COUNT(*)),
           0.0)) AS std_ev
  FROM hourly GROUP BY user_id
)
SELECT * FROM (
  SELECT h.user_id, h.hour_ts, h.n_events,
         (CAST(h.n_events AS DOUBLE) - s.mean_ev) / s.std_ev AS zscore
  FROM hourly h
  JOIN stats s ON s.user_id = h.user_id
  WHERE s.std_ev > 0.0 AND s.n_hours >= 3
)
ORDER BY abs(zscore) DESC, user_id, hour_ts
LIMIT 50
""",
    doc="activity anomaly detection: each user's hourly event count scored "
        "against their OWN baseline (population z-score over the user's "
        "observed hours; users with < 3 hours or zero variance excluded), "
        "global top-50 by |z| with a total-order tiebreak.  The monitoring "
        "query every event pipeline runs: who deviated most from their own "
        "norm, not from the global norm.  Float parity by construction: "
        "mean and E[x^2] are single divisions of exact integer sums, the "
        "variance expression tree is mirrored node-for-node, greatest(...,"
        "0.0) clamps the E[x^2]-mean^2 form's tiny-negative FP case "
        "(sqrt(-eps) is engine-dependent), and sqrt is IEEE "
        "correctly-rounded.  Scale: one (user, hour) shuffle with map-side "
        "combine, a user-level stats aggregate joined back on the SAME "
        "user key, top-50 via TakeOrderedAndProject.",
)
def ev_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17 (guide section 2.4): the per-user stats were a groupBy(user_id)
    # aggregate joined back onto the hourly counts -- the hourly lineage
    # (events scan + hour aggregate) replayed in the stats branch, two
    # fact scans per run.  Whole-partition windows over user_id attach
    # the identical values (same long sums, same double expression tree)
    # in ONE pass; the isNotNull guard keeps join-identical semantics
    # (the fixture has no null user_ids, so the pushed filter is a no-op).
    ev = _ev(spark, sf_dir).where(F.col("user_id").isNotNull())
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    part = Window.partitionBy("user_id")
    sum_ev = F.sum("n_events").over(part).cast("double")
    sum_sq = (
        F.sum(F.col("n_events") * F.col("n_events")).over(part).cast("double")
    )
    n = F.count(F.lit(1)).over(part)
    mean = sum_ev / n
    stats = hourly.select(
        "user_id",
        "hour_ts",
        "n_events",
        n.alias("n_hours"),
        mean.alias("mean_ev"),
        F.sqrt(F.greatest(sum_sq / n - mean * mean, F.lit(0.0))).alias("std_ev"),
    )
    return (
        stats
        .filter((F.col("std_ev") > 0.0) & (F.col("n_hours") >= 3))
        .select(
            "user_id",
            "hour_ts",
            "n_events",
            ((F.col("n_events").cast("double") - F.col("mean_ev")) / F.col("std_ev")).alias(
                "zscore"
            ),
        )
        .orderBy(F.abs(F.col("zscore")).desc(), "user_id", "hour_ts")
        .limit(50)
    )


@register(
    "ev_anomaly_zscore_online",
    oracle="""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour_ts,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id, date_trunc('hour', ts)
),
pre AS (
  SELECT user_id, hour_ts, n_events,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_prior,
         CAST(SUM(n_events) OVER w AS BIGINT) AS p_sum,
         CAST(SUM(n_events * n_events) OVER w AS BIGINT) AS p_sumsq
  FROM hourly
  WINDOW w AS (PARTITION BY user_id ORDER BY hour_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, hour_ts, n_events, n_prior,
       (CAST(n_events AS DOUBLE) - (CAST(p_sum AS DOUBLE) / n_prior))
         / sqrt(greatest(
             (CAST(p_sumsq AS DOUBLE) / n_prior)
               - (CAST(p_sum AS DOUBLE) / n_prior)
                 * (CAST(p_sum AS DOUBLE) / n_prior),
             0.0)) AS zscore
FROM pre
WHERE n_prior >= 3
  AND sqrt(greatest(
        (CAST(p_sumsq AS DOUBLE) / n_prior)
          - (CAST(p_sum AS DOUBLE) / n_prior)
            * (CAST(p_sum AS DOUBLE) / n_prior),
        0.0)) > 0.0
""",
    doc="ONLINE anomaly detection: each user-hour scored against only the "
        "hours BEFORE it (expanding-window prefix statistics) -- the "
        "causal form a live monitor can actually compute, vs "
        "ev_anomaly_zscore's full-history retrospective.  Exactly the "
        "semantics of streaming/stateful.py's running-stats operator "
        "(state = the same integer (n, sum, sumsq) this window carries), "
        "and tests/test_stateful.py pins the replayed stream row-for-row "
        "against this query -- the batch plan IS the streaming truth.  "
        "One user shuffle, three window aggregates sharing one frame; "
        "integer prefix sums keep parity exact.",
    driver=False,
    sibling="ev_cusum_alarm",
)
def ev_anomaly_zscore_online(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_prior = F.count(F.lit(1)).over(w)
    p_sum = F.sum("n_events").over(w)
    p_sumsq = F.sum(F.col("n_events") * F.col("n_events")).over(w)
    mean = p_sum.cast("double") / n_prior
    std = F.sqrt(F.greatest(p_sumsq.cast("double") / n_prior - mean * mean, F.lit(0.0)))
    scored = hourly.select(
        "user_id",
        "hour_ts",
        "n_events",
        n_prior.alias("n_prior"),
        ((F.col("n_events").cast("double") - mean) / std).alias("zscore"),
        std.alias("_std"),
    )
    return scored.filter((F.col("n_prior") >= 3) & (F.col("_std") > 0.0)).drop("_std")


# --------------------------------------------------------------------------
# Exponential smoothing (EWMA) over per-user hourly series
# --------------------------------------------------------------------------

#: Smoothing factor 1/4: an exact binary fraction, so every fold step is
#: two exact-representable multiplies + one add in a PINNED order --
#: mirrored fold == bit-identical EWMA across engines.
_EWMA_ALPHA = 0.25


@register(
    "ev_ewma_smoothing",
    oracle=f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour_ts,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, date_trunc('hour', ts)
),
series AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         list_transform(list(CAST(n AS DOUBLE) ORDER BY hour_ts),
                        x -> {{'maxdev': CAST(0.0 AS DOUBLE), 'ewma': x,
                               'pe': x, 'x': x}}) AS st
  FROM hourly GROUP BY user_id
),
-- field-order-independent fold: every lambda field reads ONLY a.pe (the
-- previous ewma, carried in its own slot and listed LAST) and b.x, so the
-- result is identical whether DuckDB evaluates struct-literal fields
-- all-at-once against the old accumulator or sequentially in listing
-- order (the observed behavior: a later field sees already-updated
-- earlier fields -- which is why nothing here reads a.ewma).
folded AS (
  SELECT user_id, n_hours,
         list_reduce(st, (a, b) -> {{
           'maxdev': greatest(a.maxdev, abs(b.x - a.pe)),
           'ewma': {_EWMA_ALPHA} * b.x + {1.0 - _EWMA_ALPHA} * a.pe,
           'pe': {_EWMA_ALPHA} * b.x + {1.0 - _EWMA_ALPHA} * a.pe,
           'x': b.x
         }}) AS r
  FROM series
)
SELECT user_id, n_hours, r.ewma AS final_ewma, r.maxdev AS max_abs_dev
FROM folded WHERE n_hours >= 2
""",
    doc="exponential smoothing over each user's hourly activity series: "
        "EWMA (alpha = 1/4, an exact binary fraction) folded sequentially "
        "in hour order, emitting the final smoothed level and the largest "
        "single-step deviation from the running forecast -- the "
        "forecast-residual statistic a rate-limiter or burst detector "
        "thresholds.  The fold is collect-sorted-list + sequential "
        "aggregate (the Lloyd re-centroid pattern) mirrored by DuckDB "
        "list_reduce over ordered structs, so the smoothed doubles "
        "hash-match bit-for-bit.  Oracle-dialect finding (kept as a "
        "comment in the SQL): DuckDB evaluates struct-literal lambda "
        "fields SEQUENTIALLY and a later field sees the accumulator's "
        "already-updated earlier fields; the oracle is now immune to that "
        "detail -- every lambda field reads only a.pe (the previous ewma "
        "carried in its own slot, listed last) and b.x, so all-at-once and "
        "sequential field evaluation give identical results.  Scale: "
        "per-user series are bounded "
        "(hours in retention window); one user-keyed shuffle, state "
        "O(1) per step -- and the same recurrence runs incrementally in "
        "streaming/stateful.py's state model if maintained online.",
    driver=False,
    sibling="ev_cusum_alarm",
)
def ev_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("n"))
    series = hourly.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("hour_ts"), F.col("n").cast("double").alias("x")))
            ),
            lambda s: F.struct(
                s["x"].alias("ewma"), F.lit(0.0).alias("maxdev"), s["x"].alias("x")
            ),
        ).alias("st"),
    )
    a = F.lit(_EWMA_ALPHA)
    one_a = F.lit(1.0 - _EWMA_ALPHA)
    folded = F.aggregate(
        F.slice(F.col("st"), 2, F.size("st") - 1),
        F.element_at(F.col("st"), 1),
        lambda acc, b: F.struct(
            (a * b["x"] + one_a * acc["ewma"]).alias("ewma"),
            F.greatest(acc["maxdev"], F.abs(b["x"] - acc["ewma"])).alias("maxdev"),
            b["x"].alias("x"),
        ),
    )
    return (
        series.filter(F.col("n_hours") >= 2)
        .select("user_id", "n_hours", folded.alias("r"))
        .select(
            "user_id",
            "n_hours",
            F.col("r.ewma").alias("final_ewma"),
            F.col("r.maxdev").alias("max_abs_dev"),
        )
    )


# --------------------------------------------------------------------------
# SCD2 temporal table from a changelog (round 8)
# --------------------------------------------------------------------------


@register(
    "ev_scd2_user_state",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_state
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_state IS NOT DISTINCT FROM event_type
                 THEN 0 ELSE 1 END AS chg
  FROM ordered
), versioned AS (
  SELECT user_id, event_type, ts, chg,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS version
  FROM flagged
), islands AS (
  SELECT user_id, CAST(version AS BIGINT) AS version,
         event_type AS state,
         MIN(ts) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM versioned GROUP BY user_id, version, event_type
)
SELECT user_id, version, state, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
         AS valid_to,
       n_events,
       (LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
          IS NULL) AS is_current
FROM islands
""",
    doc="Changelog -> SCD2 temporal dimension: per-user event stream "
        "collapsed into state-validity intervals (gaps-and-islands: "
        "null-safe lag-change flag, running-sum island id, interval "
        "assembly via lead over versions).  A user of the reference's "
        "upsert sink (CassandraOutputFormat.java:66-97 overwrites the "
        "latest row per key) gets the history-preserving variant here: "
        "valid_from/valid_to half-open intervals, is_current on the open "
        "row.  Scale: one shuffle on user_id serves BOTH stacked windows "
        "(same partitioning+ordering -> one sort, Catalyst fuses them); "
        "the islands groupBy keys on (user_id, version) -- a superset of "
        "user_id, so AQE-coalesced local aggregation follows the same "
        "exchange; no per-user data ever funnels through one task wider "
        "than that user's own history.",
    driver=False,
    sibling="ev_cusum_alarm_minute",
)
def ev_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(prev.eqNullSafe(F.col("event_type")), 0).otherwise(1)
    versioned = ev.select(
        "user_id", "event_type", "ts", "event_id", chg.alias("chg")
    ).withColumn(
        "version",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = versioned.groupBy(
        "user_id", F.col("version").cast("long").alias("version"),
        F.col("event_type").alias("state"),
    ).agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    valid_to = F.lead("valid_from").over(wv)
    return islands.select(
        "user_id", "version", "state", "valid_from",
        valid_to.alias("valid_to"), "n_events",
        valid_to.isNull().alias("is_current"),
    )


# --------------------------------------------------------------------------
# Z-order (Morton) layout planning + data-skipping index (round 8)
# --------------------------------------------------------------------------

#: Z-order knobs shared by builder, oracle, and tests/test_zorder.py.
ZORDER_DIM_BITS = 16          # each dimension quantized to 16 bits
ZORDER_BUCKET_SHIFT = 26      # top 6 z bits -> up to 64 buckets (8x8 grid)
_HOUR_US = 3_600_000_000


def _spread16_sql(x: str) -> str:
    """DuckDB SQL spreading a 16-bit int so its bits occupy even positions."""
    a = f"(({x} | ({x} << 8)) & 16711935)"        # 0x00FF00FF
    b = f"(({a} | ({a} << 4)) & 252645135)"       # 0x0F0F0F0F
    c = f"(({b} | ({b} << 2)) & 858993459)"       # 0x33333333
    return f"(({c} | ({c} << 1)) & 1431655765)"   # 0x55555555


def _spread16_col(x):
    """Same bit spread as :func:`_spread16_sql`, Spark column side."""
    a = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
    b = (a.bitwiseOR(F.shiftleft(a, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    c = (b.bitwiseOR(F.shiftleft(b, 2))).bitwiseAND(F.lit(0x33333333))
    return (c.bitwiseOR(F.shiftleft(c, 1))).bitwiseAND(F.lit(0x55555555))


def _zorder_dims(ev: DataFrame) -> DataFrame:
    """Per-event z-order coordinates: both dimensions RANGE-QUANTIZED to the
    full 16 bits against the corpus min/max (raw values would cluster in the
    low bits and collapse every row into z-bucket 0), then bit-interleaved.
    All arithmetic is integer (`div`, shifts, masks) so the quantization is
    bit-exact cross-engine; the one-row min/max stats frame rides a
    broadcast, the same shape as doc_bm25_topk's corpus-stats crossJoin."""
    raw = ev.select(
        "event_id",
        F.col("user_id").alias("u"),
        # integer `div`, never float `/`: a double quotient near an exact
        # hour boundary could round up and flip the bucket after the cast
        F.expr(f"unix_micros(ts) div {_HOUR_US}L").alias("h"),
    )
    stats = raw.agg(
        F.min("u").alias("u_lo"), F.max("u").alias("u_hi"),
        F.min("h").alias("h_lo"), F.max("h").alias("h_hi"),
    )
    q = raw.crossJoin(F.broadcast(stats)).selectExpr(
        "event_id",
        "cast(((u - u_lo) * 65535) div greatest(u_hi - u_lo, 1) as bigint) as ub",
        "cast(((h - h_lo) * 65535) div greatest(h_hi - h_lo, 1) as bigint) as hb",
    )
    z = (
        F.shiftleft(_spread16_col(F.col("ub")), 1)
        .bitwiseOR(_spread16_col(F.col("hb")))
        .alias("zvalue")
    )
    return q.select(
        "event_id", "ub", "hb", z
    ).withColumn("zbucket", F.shiftright(F.col("zvalue"), ZORDER_BUCKET_SHIFT))


_ZQUANT_SQL = """
raw AS (
  SELECT event_id, user_id AS u,
         (epoch_us(ts) // {hour_us}) AS h
  FROM events
), st AS (
  SELECT MIN(u) AS u_lo, MAX(u) AS u_hi, MIN(h) AS h_lo, MAX(h) AS h_hi
  FROM raw
), dims AS (
  SELECT event_id,
         (((u - u_lo) * 65535) // GREATEST(u_hi - u_lo, 1)) AS ub,
         (((h - h_lo) * 65535) // GREATEST(h_hi - h_lo, 1)) AS hb
  FROM raw, st
)"""


@register(
    "ev_zorder_layout",
    oracle=f"""
WITH {_ZQUANT_SQL.format(hour_us=_HOUR_US)}, z AS (
  SELECT event_id, ub, hb,
         (({_spread16_sql("ub")} << 1) | {_spread16_sql("hb")}) AS zvalue
  FROM dims
)
SELECT (zvalue >> {ZORDER_BUCKET_SHIFT}) AS zbucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ub) AS u_min, MAX(ub) AS u_max,
       MIN(hb) AS h_min, MAX(hb) AS h_max,
       MIN(zvalue) AS z_min, MAX(zvalue) AS z_max
FROM z GROUP BY 1
""",
    doc="Z-order (Morton) layout planner: range-quantize (user_id, event "
        "hour) to 16 bits each against corpus min/max, interleave the bits "
        "into one clustering key, then emit the per-bucket min/max "
        "statistics table -- the data-skipping index a lakehouse write "
        "would persist.  Because z-buckets are grid cells in (user, hour) "
        "space, BOTH a user-range and a time-range predicate map to a "
        "small set of candidate buckets via this stats table (a 1-D sort "
        "key prunes only its own dimension); tests/test_zorder.py measures "
        "exactly that: the same box query touches <40% of z-buckets but "
        "100% of time-only buckets, and the pruned read is lossless.  The "
        "quantization and bit spread are integer shift/mask arithmetic "
        "(JVM-side, whole-stage codegen) after one tiny broadcast of the "
        "4-value min/max frame; plan is two scans (stats + coords) + one "
        "shuffle on zbucket with map-side partial min/max.  At 100 TB the "
        "write path is repartitionByRange(zvalue) so parquet row-group "
        "min/max footers carry tight ranges on both dimensions -- this "
        "query IS that index build.",
    driver=False,
    sibling="doc_k_anonymity",
)
def ev_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    with_z = _zorder_dims(_ev(spark, sf_dir))
    return (
        with_z.groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ub").alias("u_min"), F.max("ub").alias("u_max"),
            F.min("hb").alias("h_min"), F.max("hb").alias("h_max"),
            F.min("zvalue").alias("z_min"), F.max("zvalue").alias("z_max"),
        )
    )


def zorder_layout_write(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_files: int = 16,
    key: str = "zvalue",
) -> None:
    """Materialize the events table under a physical file layout ordered by
    ``key`` -- the WRITE PATH the ``ev_zorder_layout`` docstring promises
    (VERDICT r8 item 6 wires the planner's bucket arithmetic to actual
    file-level skipping).

    ``key="zvalue"`` range-partitions + sorts by the Morton key so every
    parquet file's footer min/max statistics carry TIGHT ranges on BOTH
    user_id and event time; ``key="ts_us"`` produces the contrast layout
    (tight time, full-range user).  ``tests/test_zorder.py`` reads the
    footers back (pyarrow, metadata only -- the same stats a lakehouse
    manifest records) and asserts a 2-dim box query plans strictly fewer
    files under the z layout, losslessly.

    Scale: repartitionByRange samples the key once (Spark's range
    partitioner) and the sort is per-file; on a 1000-executor cluster this
    is exactly one shuffle + local sort, the standard OPTIMIZE ZORDER
    shape.
    """
    ev = _ev(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.expr("unix_micros(ts)").alias("ts_us"),
        "event_type",
        "value",
    )
    z = _zorder_dims(_ev(spark, sf_dir)).select("event_id", "zvalue")
    (
        ev.join(z, "event_id")
        .repartitionByRange(n_files, F.col(key))
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(out_dir)
    )


# --------------------------------------------------------------------------
# HyperLogLog distinct counting (round 8)
# --------------------------------------------------------------------------

#: alpha_64 * m^2, computed ONCE in Python and embedded as the same double
#: literal in both engines (repr round-trips), like the LC table.
_HLL_AMM = SK.HLL_ALPHA * SK.HLL_M * SK.HLL_M
_HLL_LC_RANGE = 2.5 * SK.HLL_M


def _hll_d(v: float) -> str:
    """Exact-round-trip double literal: a bare decimal literal is DECIMAL
    in DuckDB, which silently perturbs the low bits (caught by the parity
    gate on the LC table: 1-ulp drift on hll_est)."""
    return f"CAST('{v!r}' AS DOUBLE)"


def _hll_lc_sql() -> str:
    branches = " ".join(
        f"WHEN {v} THEN {_hll_d(SK.HLL_LC_TABLE[v])}"
        for v in range(1, SK.HLL_M + 1)
    )
    return f"(CASE v_zero {branches} END)"


def _hll_lc_col():
    # One F.expr parse instead of 64 nested F.when py4j round-trips (r17
    # plan-construction optimization); the simple-CASE form returns NULL
    # when no branch matches, exactly like the old chain's seed literal.
    # repr() double literals round-trip bit-exact (see vectors.array_lit).
    branches = " ".join(
        f"WHEN {v} THEN {SK.HLL_LC_TABLE[v]!r}D" for v in range(1, SK.HLL_M + 1)
    )
    return F.expr(f"(CASE v_zero {branches} END)")


@register(
    "ev_hll_distinct_users",
    oracle=f"""
WITH h AS (
  SELECT event_type,
         {SK.hll_reg_sql("user_id")} AS reg,
         {SK.hll_rho_sql("user_id")} AS rho
  FROM events
), mx AS (
  SELECT event_type, reg, MAX(rho) AS m FROM h GROUP BY event_type, reg
), types AS (
  SELECT DISTINCT event_type FROM events
), allr AS (
  SELECT event_type, unnest(range({SK.HLL_M})) AS reg FROM types
), filled AS (
  SELECT a.event_type, a.reg, COALESCE(mx.m, 0) AS m
  FROM allr a LEFT JOIN mx ON mx.event_type = a.event_type AND mx.reg = a.reg
), folded AS (
  SELECT event_type,
         list_reduce(list(power(2.0, -m) ORDER BY reg), (x, y) -> x + y)
           AS hsum,
         CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
  FROM filled GROUP BY event_type
), ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
), est AS (
  SELECT f.event_type, ex.n_exact, f.v_zero,
         {_hll_d(_HLL_AMM)} / f.hsum AS raw_est
  FROM folded f JOIN ex ON ex.event_type = f.event_type
), corrected AS (
  SELECT event_type, n_exact, v_zero,
         CASE WHEN raw_est <= {_hll_d(_HLL_LC_RANGE)} AND v_zero > 0
              THEN {_hll_lc_sql()} ELSE raw_est END AS hll_est
  FROM est
)
SELECT event_type, n_exact, v_zero, hll_est,
       (hll_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
         AS rel_err
FROM corrected
""",
    doc="HyperLogLog distinct-user cardinality per event_type: the missing "
        "member of the mergeable-summary family (CMS = frequencies, Bloom "
        "= membership, MinHash = similarity, HLL = cardinality).  "
        "Registers are integer-exact cross-engine: 60-bit md5-prefix "
        "hash, 6 index bits, leading-zero rank of the remaining 54 via "
        "binary-string length (never float log2; word extraction is a bit "
        "shift because 60 bits exceed a double mantissa).  The estimator "
        "is bit-exact too: the harmonic sum is a register-ordered "
        "sequential fold of exact powers of two, and the small-range "
        "linear-counting correction reads 64*ln(64/V) from a literal "
        "table shared by both engines -- ln never executes at query "
        "time.  Merge = cell-wise MAX, so the build is one map-side-"
        "combinable groupBy producing 64 integers per group no matter "
        "the input size -- THE cardinality shape at 100 TB (exact "
        "count-distinct shuffles every key; this shuffles 64 registers) "
        "-- and the streaming twin max-merges per-batch registers with "
        "bit-identical results (tests/test_streaming.py).  n_exact and "
        "rel_err are carried alongside so the estimate's quality is "
        "visible in the output (|rel_err| pinned in tests).",
    driver=False,
    sibling="approx_quantiles_price",
)
def ev_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    regs = ev.select(
        "event_type",
        SK.hll_reg(F.col("user_id")).alias("reg"),
        SK.hll_rho(F.col("user_id")).alias("rho"),
    )
    maxes = regs.groupBy("event_type", "reg").agg(F.max("rho").alias("m"))
    allr = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(SK.HLL_M - 1))).alias("reg"),
        )
    )
    filled = allr.join(maxes, ["event_type", "reg"], "left").select(
        "event_type", "reg", F.coalesce(F.col("m"), F.lit(0)).alias("m")
    )
    # expr-string forms of the register fold (r17 plan-construction
    # optimization): same expression trees, a handful of py4j calls.
    pows = F.expr(
        "transform(array_sort(collect_list(struct(reg, m))), "
        "s -> power(2.0D, -s.m))"
    )
    folded = filled.groupBy("event_type").agg(
        pows.alias("pows"),
        F.expr("sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)").alias("v_zero"),
    )
    hsum = F.expr(
        "aggregate(slice(pows, 2, size(pows) - 1), element_at(pows, 1), "
        "(acc, x) -> acc + x)"
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    est = (
        folded.select("event_type", "v_zero", hsum.alias("hsum"))
        .join(ex, "event_type")
        .select(
            "event_type", "n_exact", "v_zero",
            (F.lit(_HLL_AMM) / F.col("hsum")).alias("raw_est"),
        )
    )
    hll_est = F.when(
        (F.col("raw_est") <= F.lit(_HLL_LC_RANGE)) & (F.col("v_zero") > 0),
        _hll_lc_col(),
    ).otherwise(F.col("raw_est"))
    corrected = est.select(
        "event_type", "n_exact", "v_zero", hll_est.alias("hll_est")
    )
    rel = (F.col("hll_est") - F.col("n_exact").cast("double")) / F.col(
        "n_exact"
    ).cast("double")
    return corrected.select(
        "event_type", "n_exact", "v_zero", "hll_est", rel.alias("rel_err")
    )


#: Number of as-of probe instants laid on an integer-quantized grid across
#: the corpus ts span (shared by builder and oracle).
SCD2_PROBES = 8


@register(
    "ev_scd2_asof_lookup",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_state
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_state IS NOT DISTINCT FROM event_type
                 THEN 0 ELSE 1 END AS chg
  FROM ordered
), versioned AS (
  SELECT user_id, event_type, ts, chg,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS version
  FROM flagged
), islands AS (
  SELECT user_id, CAST(version AS BIGINT) AS version,
         event_type AS state, MIN(ts) AS valid_from
  FROM versioned GROUP BY user_id, version, event_type
), dim AS (
  SELECT user_id, version, state, valid_from,
         LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
           AS valid_to
  FROM islands
), span AS (
  SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
), probes AS (
  SELECT make_timestamp(lo + ((hi - lo) * i) // {SCD2_PROBES - 1})
           AS probe_ts
  FROM span, (SELECT unnest(range({SCD2_PROBES})) AS i)
)
SELECT p.probe_ts, d.user_id, d.version, d.state
FROM probes p JOIN dim d
  ON d.valid_from <= p.probe_ts
 AND (d.valid_to IS NULL OR p.probe_ts < d.valid_to)
""",
    doc="Time-travel lookup against the SCD2 dimension ev_scd2_user_state "
        "builds: for {n} probe instants on an integer-quantized grid "
        "across the corpus span, return every user's state version valid "
        "at that instant (half-open interval containment, at most one row "
        "per user per probe by SCD2 non-overlap).  The probe set rides a "
        "broadcast against the dimension scan -- the 100 TB shape for "
        "'as of T' reads over a billion-row dimension, where interval "
        "containment plus partition pruning on valid_from bounds the "
        "scan; the row-per-event variant is the asof join "
        "asof_last_order_before_event already driver-checks.  Grid "
        "arithmetic is integer epoch-us division, never float seconds.".format(
            n=SCD2_PROBES
        ),
    driver=False,
    sibling="ev_cusum_alarm_minute",
)
def ev_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(prev.eqNullSafe(F.col("event_type")), 0).otherwise(1)
    versioned = ev.select(
        "user_id", "event_type", "ts", "event_id", chg.alias("chg")
    ).withColumn(
        "version",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = versioned.groupBy(
        "user_id", F.col("version").cast("long").alias("version"),
        F.col("event_type").alias("state"),
    ).agg(F.min("ts").alias("valid_from"))
    wv = Window.partitionBy("user_id").orderBy("version")
    dim = islands.select(
        "user_id", "version", "state", "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
    )
    span = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    probes = span.select(
        F.explode(F.sequence(F.lit(0), F.lit(SCD2_PROBES - 1))).alias("i"),
        "lo", "hi",
    ).selectExpr(
        f"timestamp_micros(lo + ((hi - lo) * i) div {SCD2_PROBES - 1}) "
        "as probe_ts"
    )
    return (
        F.broadcast(probes)
        .join(
            dim,
            (dim["valid_from"] <= F.col("probe_ts"))
            & (dim["valid_to"].isNull() | (F.col("probe_ts") < dim["valid_to"])),
        )
        .select("probe_ts", "user_id", "version", "state")
    )


@register(
    "ev_scd2_state_durations",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_state
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_state IS NOT DISTINCT FROM event_type
                 THEN 0 ELSE 1 END AS chg
  FROM ordered
), versioned AS (
  SELECT user_id, event_type, ts, chg,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS version
  FROM flagged
), islands AS (
  SELECT user_id, CAST(version AS BIGINT) AS version,
         event_type AS state, MIN(ts) AS valid_from
  FROM versioned GROUP BY user_id, version, event_type
), dim AS (
  SELECT user_id, state, valid_from,
         LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
           AS valid_to
  FROM islands
)
SELECT state,
       CAST(COUNT(*) AS BIGINT) AS n_closed_intervals,
       CAST(SUM(epoch_us(valid_to) - epoch_us(valid_from)) AS BIGINT)
         AS total_us,
       CAST(MAX(epoch_us(valid_to) - epoch_us(valid_from)) AS BIGINT)
         AS max_us
FROM dim WHERE valid_to IS NOT NULL
GROUP BY state
""",
    doc="Duration-weighted temporal analytics over the SCD2 dimension: "
        "per state, total and maximum dwell time across CLOSED validity "
        "intervals (the open is_current rows have no defined duration "
        "and are excluded -- the standard temporal-table convention).  "
        "All integer microsecond arithmetic; rides the same single "
        "user_id exchange as ev_scd2_user_state and adds one tiny "
        "aggregate keyed by state.  The consumption-side triple is now "
        "complete: build (ev_scd2_user_state), point-in-time read "
        "(ev_scd2_asof_lookup), and duration analytics (this query).",
    driver=False,
    sibling="ev_cusum_alarm_minute",
)
def ev_scd2_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(prev.eqNullSafe(F.col("event_type")), 0).otherwise(1)
    versioned = ev.select(
        "user_id", "event_type", "ts", "event_id", chg.alias("chg")
    ).withColumn(
        "version",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = versioned.groupBy(
        "user_id", F.col("version").cast("long").alias("version"),
        F.col("event_type").alias("state"),
    ).agg(F.min("ts").alias("valid_from"))
    wv = Window.partitionBy("user_id").orderBy("version")
    dim = islands.select(
        "user_id", "state", "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
    ).filter(F.col("valid_to").isNotNull())
    dur = F.unix_micros("valid_to") - F.unix_micros("valid_from")
    return dim.groupBy("state").agg(
        F.count(F.lit(1)).alias("n_closed_intervals"),
        F.sum(dur).alias("total_us"),
        F.max(dur).alias("max_us"),
    )


@register(
    "ev_cdc_apply_changelog",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_type, value, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_changes
  FROM events
)
SELECT user_id, event_type AS cur_type, value AS cur_value,
       ts AS updated_at, CAST(n_changes AS BIGINT) AS n_changes
FROM ranked WHERE rn = 1 AND event_type <> 'error'
""",
    doc="CDC changelog apply (Debezium-style snapshot materialization, "
        "the SCD1 counterpart of the ev_scd2_user_state dimension build): "
        "the event stream is read as a keyed changelog -- every record "
        "upserts the user's current row, 'error' records are tombstone "
        "DELETEs -- and applied to a latest-wins snapshot: one row per "
        "live key carrying the last (type, value, ts) plus the total "
        "change count; a key whose LAST record is a tombstone is absent.  "
        "Determinism: the (ts DESC, event_id DESC) order is total, so "
        "'latest' is engine-independent.  Plan: ONE user_id shuffle "
        "serves both the row_number and the count window -- exactly the "
        "shape a MERGE INTO target would shuffle, with map-side pruning "
        "of all but each key's tail at 100 TB via the same AQE-sized "
        "exchange every window query here rides.  The streaming twin "
        "(streaming/pipeline.py run_cdc_apply_stream) maintains the same "
        "snapshot incrementally and is pinned stream==batch.",
    driver=False,
    sibling="ev_cusum_alarm_minute",
)
def ev_cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "user_id", "event_type", "value", "ts",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_changes"),
    )
    return ranked.filter(
        (F.col("rn") == 1) & (F.col("event_type") != "error")
    ).select(
        "user_id",
        F.col("event_type").alias("cur_type"),
        F.col("value").alias("cur_value"),
        F.col("ts").alias("updated_at"),
        "n_changes",
    )


#: Autocorrelation lags computed by ev_acf_lags (hours).
ACF_LAGS = (1, 2, 3)


def _acf_oracle() -> str:
    pair_selects = "\nUNION ALL\n".join(
        f"""SELECT event_type, CAST({k} AS BIGINT) AS lag, cnt AS x,
       LAG(cnt, {k}) OVER (PARTITION BY event_type ORDER BY hour) AS y
FROM dense"""
        for k in ACF_LAGS
    )
    return f"""
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
  FROM events
), spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds
), types AS (
  SELECT DISTINCT event_type FROM events
), counts AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, hour
), dense AS (
  SELECT t.event_type, s.hour, COALESCE(c.cnt, 0) AS cnt
  FROM types t CROSS JOIN spine s
  LEFT JOIN counts c ON c.event_type = t.event_type AND c.hour = s.hour
), pairs AS (
  {pair_selects}
), sums AS (
  SELECT event_type, lag,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(y) AS BIGINT) AS sum_y,
         CAST(SUM(x * y) AS BIGINT) AS sum_xy,
         CAST(SUM(x * x) AS BIGINT) AS sum_x2,
         CAST(SUM(y * y) AS BIGINT) AS sum_y2
  FROM pairs WHERE y IS NOT NULL GROUP BY event_type, lag
)
SELECT event_type, lag, n_pairs, sum_x, sum_y, sum_xy, sum_x2, sum_y2,
       CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(sum_x2 AS DOUBLE)
                 - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE) = 0
              OR CAST(n_pairs AS DOUBLE) * CAST(sum_y2 AS DOUBLE)
                 - CAST(sum_y AS DOUBLE) * CAST(sum_y AS DOUBLE) = 0 THEN NULL
            ELSE (CAST(n_pairs AS DOUBLE) * CAST(sum_xy AS DOUBLE)
                  - CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE))
                 / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sum_x2 AS DOUBLE)
                         - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
                        * (CAST(n_pairs AS DOUBLE) * CAST(sum_y2 AS DOUBLE)
                           - CAST(sum_y AS DOUBLE) * CAST(sum_y AS DOUBLE)))
       END AS acf
FROM sums
"""


def _dense_hourly_counts(ev: DataFrame) -> DataFrame:
    """(event_type, hour, cnt) DENSIFIED over the global [min, max] hour
    span: the hour spine (time-range-bounded metadata from a 1-row
    Aggregate) is broadcast and crossed with the type list, so missing
    hours count 0 and the densify join never shuffles the fact -- shared
    by ev_acf_lags and ev_ols_trend (both engines' oracles embed the
    identical CTE text)."""
    from ..materialize import materialize

    # r17 (guide section 1.2): bounds and the type list are DERIVABLE from
    # the (event_type, hour) count aggregate -- min/max of the truncated
    # hour equals the truncated min/max ts, and every event lands in a
    # count row so the distinct type sets are identical.  Deriving them
    # from the materialized counts turns THREE events scans per run
    # (bounds agg + types distinct + counts agg) into ONE, at every scale;
    # the checkpoint is types x hours, metadata-sized.
    counts = materialize(ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("cnt")))
    bounds = counts.agg(
        F.min("hour").alias("h0"),
        F.max("hour").alias("h1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hour")
    )
    types = counts.select("event_type").distinct()
    return (
        types.crossJoin(F.broadcast(spine))
        .join(counts, ["event_type", "hour"], "left")
        .select(
            "event_type", "hour", F.coalesce("cnt", F.lit(0)).alias("cnt")
        )
    )


@register(
    "ev_acf_lags",
    oracle=_acf_oracle(),
    doc="Autocorrelation function of the hourly event-count series at "
        "lags {lags} per event_type -- the time-series diagnostic behind "
        "seasonality detection and forecast-model order selection.  The "
        "count series is DENSIFIED first (hour spine from the global "
        "[min, max] hour crossed with the type list; missing hours count "
        "0 -- skipping empty hours would silently misalign every lag), "
        "then Pearson r over (x_t, x_t-k) pairs.  Determinism: all six "
        "sufficient statistics are exact BIGINT sums of integer counts; "
        "the single double division/sqrt is computed from identical "
        "integers by both engines, and a zero-variance series yields "
        "NULL, not a 0/0.  Scale: the spine is time-range-bounded "
        "metadata, counts are one map-side-combined shuffle on (type, "
        "hour), the lag windows ride ONE event_type exchange, and "
        "parallelism grows with the number of series (the per-type "
        "window is the unit of work) -- no global sort anywhere.",
    driver=False,
    sibling="ev_cusum_alarm_minute",
)
def ev_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    dense = _dense_hourly_counts(_ev(spark, sf_dir))
    wt = Window.partitionBy("event_type").orderBy("hour")
    lagged = dense.select(
        "event_type",
        F.col("cnt").alias("x"),
        *[F.lag("cnt", k).over(wt).alias(f"y{k}") for k in ACF_LAGS],
    )
    stack_args = ", ".join(f"{k}L, y{k}" for k in ACF_LAGS)
    pairs = lagged.select(
        "event_type",
        F.expr(f"stack({len(ACF_LAGS)}, {stack_args}) as (lag, y)"),
        "x",
    ).filter(F.col("y").isNotNull())
    sums = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sum_x"),
        F.sum("y").alias("sum_y"),
        F.sum(F.col("x") * F.col("y")).alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).alias("sum_x2"),
        F.sum(F.col("y") * F.col("y")).alias("sum_y2"),
    )
    # double-first combination of the exact BIGINT statistics: products of
    # the raw longs can overflow 2^63 on long/hot series (the OLS twin of
    # this expression did, under the degenerate 130-year spine); double
    # products round IDENTICALLY on both engines instead
    npd = F.col("n_pairs").cast("double")
    sxd = F.col("sum_x").cast("double")
    syd = F.col("sum_y").cast("double")
    dx = npd * F.col("sum_x2").cast("double") - sxd * sxd
    dy = npd * F.col("sum_y2").cast("double") - syd * syd
    num = npd * F.col("sum_xy").cast("double") - sxd * syd
    return sums.select(
        "event_type", "lag", "n_pairs", "sum_x", "sum_y", "sum_xy",
        "sum_x2", "sum_y2",
        F.when((dx == 0) | (dy == 0), F.lit(None).cast("double"))
        .otherwise(num / F.sqrt(dx * dy))
        .alias("acf"),
    )


@register(
    "ev_session_path_trigrams",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
grams AS (
  SELECT lag(event_type, 2) OVER s AS t1,
         lag(event_type, 1) OVER s AS t2,
         event_type AS t3
  FROM numbered
  WINDOW s AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
)
SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
FROM grams WHERE t1 IS NOT NULL AND t2 IS NOT NULL
GROUP BY t1, t2, t3
ORDER BY n DESC, t1, t2, t3
LIMIT 20
""",
    doc="Sequence mining over SESSION-scoped user journeys: the top-20 "
        "most common 3-step event paths, with paths never crossing a "
        "session boundary (the 30-minute-gap sessionization shared with "
        "ev_top_sessions_by_events) -- the clickstream path-analysis "
        "primitive one level up from ev_event_transitions' global "
        "bigram matrix.  Determinism: the (ts, event_id) order is total "
        "within a session, trigram counts are integers, and the top-20 "
        "carries the full (n, t1, t2, t3) total order.  Plan: ONE "
        "user_id shuffle serves the gap flag, the running-sum session "
        "numbering AND the per-session lag pair (the session window is "
        "a subpartition of the user window, so Spark reuses the "
        "exchange); the trigram count is a map-side-combined aggregate "
        "over at most |event-type|^3 groups and the top-20 is "
        "TakeOrderedAndProject.",
    driver=False,
    sibling="ev_max_concurrent_sessions",
)
def ev_session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = flagged.withColumn("session_id", F.sum("new_session").over(wrun))
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    grams = numbered.select(
        F.lag("event_type", 2).over(ws).alias("t1"),
        F.lag("event_type", 1).over(ws).alias("t2"),
        F.col("event_type").alias("t3"),
    ).filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
    return (
        grams.groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "t1", "t2", "t3")
        .limit(20)
    )


@register(
    "ev_ols_trend",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
  FROM events
), spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds
), types AS (
  SELECT DISTINCT event_type FROM events
), counts AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, hour
), dense AS (
  SELECT t.event_type, s.hour, COALESCE(c.cnt, 0) AS cnt,
         CAST(row_number() OVER (PARTITION BY t.event_type ORDER BY s.hour)
              - 1 AS BIGINT) AS t
  FROM types t CROSS JOIN spine s
  LEFT JOIN counts c ON c.event_type = t.event_type AND c.hour = s.hour
), sums AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(t) AS BIGINT) AS sum_t, CAST(SUM(cnt) AS BIGINT) AS sum_y,
         CAST(SUM(t * cnt) AS BIGINT) AS sum_ty,
         CAST(SUM(t * t) AS BIGINT) AS sum_t2
  FROM dense GROUP BY event_type
)
SELECT event_type, n_hours, sum_t, sum_y, sum_ty, sum_t2,
       (CAST(n_hours AS DOUBLE) * CAST(sum_ty AS DOUBLE)
        - CAST(sum_t AS DOUBLE) * CAST(sum_y AS DOUBLE))
         / (CAST(n_hours AS DOUBLE) * CAST(sum_t2 AS DOUBLE)
            - CAST(sum_t AS DOUBLE) * CAST(sum_t AS DOUBLE)) AS slope,
       (CAST(sum_y AS DOUBLE)
        - ((CAST(n_hours AS DOUBLE) * CAST(sum_ty AS DOUBLE)
            - CAST(sum_t AS DOUBLE) * CAST(sum_y AS DOUBLE))
           / (CAST(n_hours AS DOUBLE) * CAST(sum_t2 AS DOUBLE)
              - CAST(sum_t AS DOUBLE) * CAST(sum_t AS DOUBLE)))
          * CAST(sum_t AS DOUBLE))
         / CAST(n_hours AS DOUBLE) AS intercept
FROM sums
""",
    doc="Per-series OLS trend line (least-squares slope/intercept of the "
        "hourly event-count series, the forecasting-baseline primitive "
        "next to ev_acf_lags' order diagnostics): y = cnt over the "
        "DENSIFIED hour spine, t = 0-based hour index.  All five "
        "sufficient statistics are exact BIGINT sums; slope and "
        "intercept are the ONLY double ops, computed from identical "
        "integers with an identical expression tree on both engines -- "
        "bit-exact parity.  The t-index is relative to the global min "
        "hour, so magnitudes stay small (t^2 sums bounded by the range, "
        "not the epoch).  Plan: same shape as ev_acf_lags -- bounded "
        "spine broadcast, one map-side-combined count shuffle, one "
        "event_type exchange for the row_number, one tiny per-type "
        "aggregate; parallelism grows with the number of series.",
    driver=False,
    sibling="ev_anomaly_zscore",
)
def ev_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    wt = Window.partitionBy("event_type").orderBy("hour")
    dense = _dense_hourly_counts(_ev(spark, sf_dir)).withColumn(
        "t", (F.row_number().over(wt) - 1).cast("long")
    )
    sums = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("t").alias("sum_t"),
        F.sum("cnt").alias("sum_y"),
        F.sum(F.col("t") * F.col("cnt")).alias("sum_ty"),
        F.sum(F.col("t") * F.col("t")).alias("sum_t2"),
    )
    # each exact BIGINT statistic is cast to double BEFORE combining: the
    # products can pass 2^63 on long spines (a 130-year degenerate range
    # overflowed n*sum_t2 under ANSI -- caught by the degenerate-events
    # sweep), while double products merely round, IDENTICALLY on both
    # engines (IEEE nearest-even from identical BIGINT casts)
    nd = F.col("n_hours").cast("double")
    std = F.col("sum_t").cast("double")
    syd = F.col("sum_y").cast("double")
    num = nd * F.col("sum_ty").cast("double") - std * syd
    den = nd * F.col("sum_t2").cast("double") - std * std
    slope = num / den
    intercept = (
        F.col("sum_y").cast("double") - slope * F.col("sum_t").cast("double")
    ) / F.col("n_hours").cast("double")
    return sums.select(
        "event_type", "n_hours", "sum_t", "sum_y", "sum_ty", "sum_t2",
        slope.alias("slope"), intercept.alias("intercept"),
    )


@register(
    "ev_max_concurrent_sessions",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
sessions AS (
  SELECT user_id, session_id, MIN(ts) AS s, MAX(ts) AS e
  FROM numbered GROUP BY user_id, session_id
),
segments AS (
  SELECT day,
         greatest(s, day) AS seg_start,
         least(e, day + INTERVAL 1 DAY - INTERVAL 1 MICROSECOND) AS seg_end
  FROM (
    SELECT s, e,
           unnest(generate_series(date_trunc('day', s), date_trunc('day', e),
                                  INTERVAL 1 DAY)) AS day
    FROM sessions
  )
),
sweep AS (
  SELECT day, seg_start AS pt, 1 AS delta FROM segments
  UNION ALL
  SELECT day, seg_end, -1 FROM segments
),
running AS (
  SELECT day,
         SUM(delta) OVER (PARTITION BY day ORDER BY pt, delta DESC
                          ROWS UNBOUNDED PRECEDING) AS conc
  FROM sweep
)
SELECT day, CAST(MAX(conc) AS BIGINT) AS max_concurrent,
       CAST(COUNT(*) / 2 AS BIGINT) AS n_segments
FROM running GROUP BY day
""",
    doc="Interval-overlap analytics: the maximum number of SIMULTANEOUS "
        "user sessions per day (30-minute-gap sessionization shared "
        "with the session family), via the classic +1/-1 boundary sweep "
        "with sessions CLIPPED at day boundaries -- the clip is the "
        "scale move: it makes every day's sweep independent, so the "
        "running sum partitions by day instead of one global ordered "
        "pass over all boundaries (unboundable at 100 TB).  Tie policy: "
        "boundaries at the same instant process starts before ends "
        "(delta DESC), so touching sessions count as concurrent; the "
        "running-sum PREFIX MULTISET is permutation-invariant within an "
        "equal (ts, delta) group, so MAX(conc) is deterministic without "
        "a per-row total order.  Integer counting end to end.",
)
def ev_max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = (
        flagged.withColumn("session_id", F.sum("new_session").over(wrun))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    segments = sessions.select(
        F.explode(
            F.sequence(
                F.date_trunc("day", "s"),
                F.date_trunc("day", "e"),
                F.expr("interval 1 day"),
            )
        ).alias("day"),
        "s",
        "e",
    ).select(
        "day",
        F.greatest("s", F.col("day")).alias("seg_start"),
        F.least(
            "e",
            F.col("day")
            + F.expr("INTERVAL 1 DAY")
            - F.expr("INTERVAL 1 MICROSECOND"),
        ).alias("seg_end"),
    )
    # Both sweep boundaries via ONE explode, not a self-union (r17, the
    # connected_components edge-expansion trick): Spark shares no common
    # subplans, so the union form evaluated the whole segments lineage
    # (events scan + two sessionization windows + aggregate + explode)
    # TWICE per run.  Same rows, same types, one evaluation.
    sweep = segments.select(
        "day",
        F.explode(
            F.array(
                F.struct(
                    F.col("seg_start").alias("pt"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col("seg_end").alias("pt"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("bd"),
    ).select("day", "bd.pt", "bd.delta")
    wd = (
        Window.partitionBy("day")
        .orderBy(F.col("pt"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = sweep.withColumn("conc", F.sum("delta").over(wd))
    return running.groupBy("day").agg(
        F.max("conc").alias("max_concurrent"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_segments"),
    )


@register(
    "ev_growth_accounting",
    oracle="""
WITH active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
  FROM events
), seq AS (
  SELECT user_id, day,
         LAG(day)  OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
         LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
  FROM active
), classified AS (
  SELECT day,
         CASE WHEN prev_day IS NULL THEN 'new'
              WHEN day - prev_day = INTERVAL 1 DAY THEN 'retained'
              ELSE 'resurrected' END AS status
  FROM seq
), churn AS (
  SELECT day + INTERVAL 1 DAY AS day, 'churned' AS status
  FROM seq
  WHERE next_day IS NULL OR next_day - day > INTERVAL 1 DAY
)
SELECT day, status, CAST(COUNT(*) AS BIGINT) AS n_users
FROM (SELECT * FROM classified UNION ALL SELECT * FROM churn)
GROUP BY day, status
""",
    doc="Growth accounting (the DAU decomposition used in every growth "
        "dashboard): each (user, active-day) is classified NEW (first "
        "day ever), RETAINED (also active the previous day) or "
        "RESURRECTED (returning after a gap), and each day is charged "
        "the CHURNED count of users active the day before who did not "
        "return (attributed to the day after their last consecutive "
        "day, including the day after the observation window's last "
        "activity -- the standard convention, so the identity "
        "DAU(d) = new + retained + resurrected and "
        "retained(d+1) = DAU(d) - churned(d+1) holds).  Pure calendar-"
        "day integer arithmetic, bit-exact parity.  Plan: one distinct "
        "on (user, day) with map-side combine, ONE user_id exchange "
        "serving both the lag and the lead, and a tiny (day, status) "
        "aggregate -- the same shape ev_user_retention_cohorts rides, "
        "completing the retention family's day-over-day axis.",
    driver=False,
    sibling="ev_cohort_revenue_curve",
)
def ev_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    active = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    seq = active.select(
        "user_id",
        "day",
        F.lag("day").over(w).alias("prev_day"),
        F.lead("day").over(w).alias("next_day"),
    )
    one_day = F.expr("INTERVAL 1 DAY")
    classified = seq.select(
        "day",
        F.when(F.col("prev_day").isNull(), F.lit("new"))
        .when(F.col("day") - one_day == F.col("prev_day"), F.lit("retained"))
        .otherwise(F.lit("resurrected"))
        .alias("status"),
    )
    churn = seq.filter(
        F.col("next_day").isNull()
        | (F.col("next_day") - one_day > F.col("day"))
    ).select(
        (F.col("day") + one_day).alias("day"), F.lit("churned").alias("status")
    )
    return (
        classified.unionByName(churn)
        .groupBy("day", "status")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "ev_conversion_funnel",
    oracle="""
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN t1 ON t1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.t
  GROUP BY e.user_id
), t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN t2 ON t2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.t
  GROUP BY e.user_id
), stages AS (
  SELECT CAST(1 AS BIGINT) AS stage, user_id FROM t1
  UNION ALL SELECT 2, user_id FROM t2
  UNION ALL SELECT 3, user_id FROM t3
), counts AS (
  SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM stages GROUP BY stage
)
SELECT stage,
       CASE stage WHEN 1 THEN 'signup' WHEN 2 THEN 'click'
            ELSE 'purchase' END AS stage_name,
       n_users,
       (n_users * 1000000) // (SELECT n_users FROM counts WHERE stage = 1)
         AS conv_ppm
FROM counts
""",
    doc="Strict-order conversion funnel (signup -> click -> purchase): a "
        "user advances to stage k only via an event STRICTLY AFTER their "
        "stage k-1 entry time, the standard ordered-funnel semantics "
        "(unordered 'did all three ever' funnels overcount).  Entry time "
        "per stage is the EARLIEST qualifying event, so the count is "
        "maximal under the strict-order rule.  Conversion reported as "
        "exact BIGINT parts-per-million of stage-1 entrants -- no float "
        "division anywhere, bit-exact parity.  Plan: three min-aggregates "
        "chained by user_id equi-joins -- every shuffle keys on user_id, "
        "so at 100 TB the whole chain rides ONE exchange of the events "
        "table (AQE reuses the partitioning) plus two tiny per-stage "
        "joins; the final counts frame is <= 3 rows.",
    driver=False,
    sibling="ev_max_concurrent_sessions",
)
def ev_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    t1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    stages = (
        t1.select(F.lit(1).cast("long").alias("stage"), "user_id")
        .unionByName(t2.select(F.lit(2).cast("long").alias("stage"), "user_id"))
        .unionByName(t3.select(F.lit(3).cast("long").alias("stage"), "user_id"))
    )
    counts = stages.groupBy("stage").agg(F.count(F.lit(1)).alias("n_users"))
    first = counts.filter(F.col("stage") == 1).select(
        F.col("n_users").alias("n_first")
    )
    return counts.crossJoin(first).select(
        "stage",
        F.when(F.col("stage") == 1, F.lit("signup"))
        .when(F.col("stage") == 2, F.lit("click"))
        .otherwise(F.lit("purchase"))
        .alias("stage_name"),
        "n_users",
        F.expr("(n_users * 1000000) div n_first").alias("conv_ppm"),
    )


@register(
    "ev_anomaly_mad",
    oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med_value
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, m.med_value, abs(e.value - m.med_value) AS dev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(dev, 0.5) AS mad_value
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       MIN(d.med_value) AS med_value,
       MIN(a.mad_value) AS mad_value,
       CAST(COUNT(CASE WHEN d.dev > 3 * a.mad_value THEN 1 END) AS BIGINT)
         AS n_outliers,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM dev d JOIN mad a USING (event_type)
GROUP BY d.event_type
""",
    doc="Robust anomaly detection via median absolute deviation: per "
        "event_type, median(value), MAD = median(|value - median|), and "
        "the count of events beyond 3*MAD -- the outlier-resistant twin "
        "of ev_anomaly_zscore (a single fat-finger value shifts a "
        "mean/stddev gate but not a median/MAD gate).  Exact "
        "percentiles: Spark's sort-based percentile() and DuckDB's "
        "quantile_cont both interpolate at rank (n-1)*p, bit-identical "
        "(the agg_exact_percentiles precedent); |x-m|, 3*m and the "
        "comparison are single correctly-rounded double ops, so the "
        "whole gate is deterministic cross-engine.  Plan: two "
        "percentile aggregates and one count, every exchange keyed on "
        "the bounded event_type -- the per-group value buffering is the "
        "documented exact-percentile trade, right for bounded "
        "categorical groups, with agg_histogram_quantile_sketch as the "
        "high-cardinality alternative.",
    driver=False,
    sibling="ev_anomaly_zscore",
)
def ev_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17 (guide section 2.4): the median and the MAD were each a
    # groupBy(event_type) percentile JOINED back -- and because Spark
    # shares no common subplans, the dev lineage (scan + median branch)
    # replayed inside the MAD branch and again in the final aggregate:
    # ~5 events scans per run.  Both percentiles now ride stacked
    # whole-partition windows on ONE event_type exchange (exact
    # percentile buffers per-group values in either form, so the memory
    # posture is unchanged); one scan total.  The isNotNull guard keeps
    # join-identical semantics (no null event_types in the fixture).
    ev = _ev(spark, sf_dir).where(F.col("event_type").isNotNull())
    part = Window.partitionBy("event_type")
    med_value = F.percentile(F.col("value"), F.lit(0.5)).over(part)
    dev = ev.select(
        "event_type",
        med_value.alias("med_value"),
        F.abs(F.col("value") - med_value).alias("dev"),
    )
    mad_value = F.percentile(F.col("dev"), F.lit(0.5)).over(part)
    scored = dev.select(
        "event_type", "med_value", "dev", mad_value.alias("mad_value")
    )
    return (
        scored
        .groupBy("event_type")
        .agg(
            F.min("med_value").alias("med_value"),
            F.min("mad_value").alias("mad_value"),
            F.count(
                F.when(F.col("dev") > 3 * F.col("mad_value"), F.lit(1))
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "ev_ab_test_welch",
    oracle="""
WITH stats AS (
  SELECT event_type,
         CAST(COUNT(CASE WHEN user_id % 2 = 0 AND value IS NOT NULL
                         THEN 1 END) AS BIGINT) AS n_a,
         CAST(COUNT(CASE WHEN user_id % 2 = 1 AND value IS NOT NULL
                         THEN 1 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN user_id % 2 = 0
                       THEN CAST(value AS DECIMAL(18,2)) END)
              AS DOUBLE) AS sa,
         CAST(SUM(CASE WHEN user_id % 2 = 1
                       THEN CAST(value AS DECIMAL(18,2)) END)
              AS DOUBLE) AS sb,
         CAST(SUM(CASE WHEN user_id % 2 = 0
                       THEN CAST(value AS DECIMAL(18,2))
                            * CAST(value AS DECIMAL(18,2)) END)
              AS DOUBLE) AS qa,
         CAST(SUM(CASE WHEN user_id % 2 = 1
                       THEN CAST(value AS DECIMAL(18,2))
                            * CAST(value AS DECIMAL(18,2)) END)
              AS DOUBLE) AS qb
  FROM events
  GROUP BY event_type
)
SELECT event_type, n_a, n_b,
       sa / NULLIF(n_a, 0) AS mean_a,
       sb / NULLIF(n_b, 0) AS mean_b,
       (sb / NULLIF(n_b, 0) - sa / NULLIF(n_a, 0))
         / sqrt(((qa - sa * sa / NULLIF(n_a, 0)) / NULLIF(n_a - 1, 0))
                  / NULLIF(n_a, 0)
                + ((qb - sb * sb / NULLIF(n_b, 0)) / NULLIF(n_b - 1, 0))
                  / NULLIF(n_b, 0)) AS welch_z
FROM stats
""",
    doc="A/B experiment readout: Welch's z-statistic on the value metric "
        "per event_type, variant assigned by user_id parity (the "
        "deterministic stand-in for an assignment table).  ONE "
        "aggregation pass computes both arms' sufficient statistics "
        "(n, sum, sum-of-squares) via conditional aggregates -- no "
        "second scan, no pivot shuffle; sums are exact DECIMAL (values "
        "are 2dp-clean, squares 4dp-clean), then a mirrored double "
        "expression tree (each +,-,*,/ and the sqrt is a single "
        "correctly-rounded IEEE op on identical operands) yields "
        "bit-exact means, Welch variances and the z.  Scale: the plan "
        "is a single map-side-combined groupBy on the bounded "
        "event_type key -- sufficient-statistics reduction is THE "
        "pattern for experiment analysis at 100 TB (never collect "
        "per-user frames to the driver).",
    driver=False,
    sibling="ev_anomaly_zscore",
)
def ev_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    val = F.col("value").cast(N.DEC)
    is_a = F.col("user_id") % 2 == 0
    is_b = F.col("user_id") % 2 == 1
    stats = ev.groupBy("event_type").agg(
        F.count(
            F.when(is_a & F.col("value").isNotNull(), F.lit(1))
        ).alias("n_a"),
        F.count(
            F.when(is_b & F.col("value").isNotNull(), F.lit(1))
        ).alias("n_b"),
        F.sum(F.when(is_a, val)).cast("double").alias("sa"),
        F.sum(F.when(is_b, val)).cast("double").alias("sb"),
        F.sum(F.when(is_a, val * val)).cast("double").alias("qa"),
        F.sum(F.when(is_b, val * val)).cast("double").alias("qb"),
    )
    # NULLIF guards (mirrored in the oracle): a degenerate slice with an
    # empty arm or a 1-row arm yields NULL means/z, not DIVIDE_BY_ZERO
    # under ANSI mode (caught by the degenerate-events sweep).
    na = F.nullif(F.col("n_a"), F.lit(0))
    nb = F.nullif(F.col("n_b"), F.lit(0))
    mean_a = F.col("sa") / na
    mean_b = F.col("sb") / nb
    var_a = (F.col("qa") - F.col("sa") * F.col("sa") / na) / F.nullif(
        F.col("n_a") - 1, F.lit(0)
    )
    var_b = (F.col("qb") - F.col("sb") * F.col("sb") / nb) / F.nullif(
        F.col("n_b") - 1, F.lit(0)
    )
    z = (mean_b - mean_a) / F.sqrt(var_a / na + var_b / nb)
    return stats.select(
        "event_type", "n_a", "n_b",
        mean_a.alias("mean_a"), mean_b.alias("mean_b"),
        z.alias("welch_z"),
    )


@register(
    "ev_quota_flagging",
    oracle="""
WITH ranked AS (
  SELECT user_id,
         date_trunc('hour', ts) AS hr,
         row_number() OVER (
           PARTITION BY user_id, date_trunc('hour', ts)
           ORDER BY ts, event_id
         ) AS rn
  FROM events
)
SELECT user_id,
       CAST(COUNT(CASE WHEN rn <= 1 THEN 1 END) AS BIGINT) AS n_allowed,
       CAST(COUNT(CASE WHEN rn > 1 THEN 1 END) AS BIGINT) AS n_throttled,
       CAST(COUNT(DISTINCT hr) AS BIGINT) AS n_active_hours
FROM ranked
GROUP BY user_id
""",
    doc="Per-user rate-limit audit: within each calendar hour a user may "
        "emit ONE event; the rest are throttled (quota=1 so both "
        "branches are exercised at every fixture scale -- the max "
        "events-per-user-hour is 2 at sf0.001 and 3 at sf0.01, so a "
        "quota of 3 would never throttle and the gate would pass "
        "vacuously).  row_number over the "
        "(user_id, hour) partition ordered by the total (ts, event_id) key "
        "assigns deterministic arrival ranks, then one conditional "
        "aggregate splits allowed vs throttled per user.  The reference "
        "has no rate limiting (its Cassandra writes are fire-and-forget, "
        "BackupMessageConsumer.java:36-39); this is the quota-enforcement "
        "shape every ingest front-end needs.  Scale: one shuffle on "
        "(user_id, hour) for the window, one map-side-combined re-agg on "
        "user_id; hour-bounded partitions cap window state regardless of "
        "per-user volume -- a user with 1e9 events still windows in "
        "hour-sized slices.",
)
def ev_quota_flagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    hr = F.date_trunc("hour", F.col("ts"))
    w = Window.partitionBy("user_id", "hr").orderBy("ts", "event_id")
    ranked = ev.select("user_id", "ts", "event_id", hr.alias("hr")).withColumn(
        "rn", F.row_number().over(w)
    )
    return ranked.groupBy("user_id").agg(
        F.count(F.when(F.col("rn") <= 1, F.lit(1))).alias("n_allowed"),
        F.count(F.when(F.col("rn") > 1, F.lit(1))).alias("n_throttled"),
        F.countDistinct("hr").alias("n_active_hours"),
    )


@register(
    "ev_burst_collapse",
    oracle="""
WITH g AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER (
                PARTITION BY user_id, event_type ORDER BY ts, event_id
              ) IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id, event_type ORDER BY ts, event_id
              ) > 60000000
              THEN 1 ELSE 0 END AS is_head
  FROM events
), isl AS (
  SELECT user_id, event_type,
         SUM(is_head) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING
         ) AS burst_id
  FROM g
), bursts AS (
  SELECT user_id, event_type, burst_id, COUNT(*) AS blen
  FROM isl GROUP BY user_id, event_type, burst_id
)
SELECT event_type,
       CAST(SUM(blen) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_bursts,
       CAST(MAX(blen) AS BIGINT) AS max_burst_len,
       CAST(SUM(blen) - COUNT(*) AS BIGINT) AS n_collapsed
FROM bursts
GROUP BY event_type
""",
    doc="Burst collapse (debounce) via gaps-and-islands: within each "
        "(user_id, event_type) stream ordered by the total (ts, event_id) "
        "key, an event opens a new burst iff it is the first or arrives "
        ">60s after its predecessor; a running sum of the head flags "
        "numbers the islands, and per event_type we report events, bursts, "
        "the longest burst, and how many events a keep-burst-head debounce "
        "would drop.  All comparisons are on integer epoch microseconds "
        "(no interval semantics to diverge cross-engine) and the running "
        "sum uses an explicit ROWS frame over a total order, so island "
        "ids are bit-deterministic.  Scale: two window passes over the "
        "same (user_id, event_type) shuffle partitioning (Catalyst reuses "
        "the exchange), then a map-side-combined agg on the bounded "
        "event_type key; the stateful streaming twin of this shape is the "
        "applyInPandasWithState debouncer in streaming/stateful.py.",
    driver=False,
    sibling="ev_max_concurrent_sessions",
)
def ev_burst_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    key = ["user_id", "event_type"]
    order = Window.partitionBy(*key).orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(order)
    g = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.when(prev.isNull() | (us - prev > 60_000_000), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_head"),
    )
    frame = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = g.select(
        "user_id", "event_type", F.sum("is_head").over(frame).alias("burst_id")
    )
    bursts = isl.groupBy("user_id", "event_type", "burst_id").agg(
        F.count(F.lit(1)).alias("blen")
    )
    return bursts.groupBy("event_type").agg(
        F.sum("blen").alias("n_events"),
        F.count(F.lit(1)).alias("n_bursts"),
        F.max("blen").alias("max_burst_len"),
        (F.sum("blen") - F.count(F.lit(1))).alias("n_collapsed"),
    )


@register(
    "ev_cusum_changepoint",
    oracle="""
WITH e AS (
  SELECT event_type, ts, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), w AS (
  SELECT event_type, ts,
         SUM(cents) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING
         ) AS pre,
         row_number() OVER (
           PARTITION BY event_type ORDER BY ts, event_id
         ) AS i,
         SUM(cents) OVER (PARTITION BY event_type) AS tot,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM e
), t AS (
  SELECT event_type, ts, n,
         abs(n * pre - i * tot) AS dev,
         MAX(abs(n * pre - i * tot)) OVER (PARTITION BY event_type) AS mx
  FROM w
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_events,
       CAST(MAX(mx) AS BIGINT) AS max_abs_cusum_scaled,
       MIN(CASE WHEN dev = mx THEN ts END) AS changepoint_ts
FROM t
GROUP BY event_type
""",
    doc="CUSUM changepoint detection per event_type: the classic statistic "
        "max_i |prefix_i - i*mean| locates where the value series' level "
        "shifts.  Multiplying through by n keeps EVERYTHING in exact "
        "BIGINT arithmetic -- cents = value*100 via the lossless "
        "DECIMAL(18,2) bridge, dev_i = |n*prefix_i - i*total| -- so there "
        "is no float prefix-sum whose summation order could diverge "
        "cross-engine (DuckDB computes windowed sums with a segment tree, "
        "Spark sequentially; integer addition is associative, double is "
        "not).  The scaled statistic is exact up to ~1e9 rows x 1e7 cents "
        "per group before BIGINT overflow; beyond that, chunk per-day and "
        "fold, or accept the double variant -- documented, not silent.  "
        "Changepoint = earliest ts achieving the max (deterministic "
        "tie-break).  Scale: one shuffle on event_type; the running sum "
        "is a single sequential pass per group -- for very hot groups "
        "pre-aggregate to per-minute cents first (same algebra).",
    driver=False,
    sibling="ev_cusum_alarm",
)
def ev_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir).where(F.col("value").isNotNull())
    cents = (F.col("value").cast(N.DEC) * 100).cast("long")
    e = ev.select("event_type", "ts", "event_id", cents.alias("cents"))
    part = Window.partitionBy("event_type")
    order = part.orderBy("ts", "event_id")
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w = e.select(
        "event_type", "ts",
        F.sum("cents").over(run).alias("pre"),
        F.row_number().over(order).alias("i"),
        F.sum("cents").over(part).alias("tot"),
        F.count(F.lit(1)).over(part).alias("n"),
    )
    dev = F.abs(F.col("n") * F.col("pre") - F.col("i") * F.col("tot"))
    t = w.select(
        "event_type", "ts", "n",
        dev.alias("dev"),
        F.max(dev).over(part).alias("mx"),
    )
    return t.groupBy("event_type").agg(
        F.max("n").alias("n_events"),
        F.max("mx").alias("max_abs_cusum_scaled"),
        F.min(F.when(F.col("dev") == F.col("mx"), F.col("ts"))).alias(
            "changepoint_ts"
        ),
    )


@register(
    "ev_sliding_distinct_users",
    oracle="""
WITH hrs AS (
  SELECT date_trunc('hour', ts) AS hr, user_id FROM events
), hlist AS (
  SELECT DISTINCT hr FROM hrs
)
SELECT h.hr,
       CAST(COUNT(DISTINCT CASE WHEN e.hr = h.hr THEN e.user_id END)
            AS BIGINT) AS hour_users,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS trailing_3h_users
FROM hlist h
JOIN hrs e ON e.hr BETWEEN h.hr - INTERVAL 2 HOUR AND h.hr
GROUP BY h.hr
""",
    doc="Sliding-window EXACT distinct users: per hour bucket, the distinct "
        "user count for that hour and for the trailing 3-hour window -- "
        "the exact twin of what ev_hll_distinct_users answers with "
        "mergeable sketches.  Spark side aggregates each hour to a "
        "collect_set FIRST (the only per-event shuffle, map-side "
        "combined), then a range window over epoch-second hour keys "
        "(rangeBetween(-7200, 0)) merges the 3 bucket sets with "
        "flatten+array_distinct -- distinct-over-window is not directly "
        "expressible in either engine, so the set algebra is explicit.  "
        "The unpartitioned window holds only BUCKET rows (8,760/year), "
        "bounded by the time span, not the data volume; per-bucket set "
        "size is bounded by the user population -- at true 100 TB scale "
        "swap the exact sets for the HLL sibling (same plan shape, "
        "constant-size state), which is why both are registered.  Oracle "
        "replicates via an interval range join + conditional COUNT "
        "DISTINCT.",
    driver=False,
    sibling="approx_quantiles_price",
)
def ev_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    hours = (
        ev.select(F.date_trunc("hour", F.col("ts")).alias("hr"), "user_id")
        .groupBy("hr")
        .agg(F.collect_set("user_id").alias("users"))
    )
    w = (
        Window.orderBy(F.unix_seconds(F.col("hr")))
        .rangeBetween(-7200, Window.currentRow)
    )
    return hours.select(
        "hr",
        F.size("users").cast("long").alias("hour_users"),
        F.size(
            F.array_distinct(F.flatten(F.collect_list("users").over(w)))
        ).cast("long").alias("trailing_3h_users"),
    )


@register(
    "ev_debounce_exact",
    oracle="""
WITH RECURSIVE kept AS (
  SELECT user_id, event_type, ts, event_id FROM (
    SELECT user_id, event_type, ts, event_id,
           row_number() OVER (
             PARTITION BY user_id, event_type ORDER BY ts, event_id
           ) AS rn
    FROM events) WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.event_type, e.ts, e.event_id
  FROM kept k, LATERAL (
    SELECT e2.user_id, e2.event_type, e2.ts, e2.event_id FROM events e2
    WHERE e2.user_id = k.user_id AND e2.event_type = k.event_type
      AND epoch_us(e2.ts) > epoch_us(k.ts) + 60000000
    ORDER BY e2.ts, e2.event_id LIMIT 1
  ) e
), agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST(SUM(event_id) AS BIGINT) AS kept_id_sum
  FROM kept GROUP BY event_type
), tot AS (
  SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type
)
SELECT t.event_type, a.n_kept,
       CAST(t.n_events - a.n_kept AS BIGINT) AS n_dropped,
       a.kept_id_sum
FROM tot t JOIN agg a USING (event_type)
""",
    doc="EXACT debounce per (user_id, event_type): keep an event iff it is "
        ">60s after the last KEPT event -- semantics a lag() window cannot "
        "express (see operators/debounce.py for the 0/40/80s "
        "counterexample vs ev_burst_collapse's lag-based islands), so "
        "this is a genuine applyInPandas operator: stable-sorted "
        "sequential fold per key, O(1) state, Arrow-batched.  The oracle "
        "is a recursive CTE chaining LATERAL next-kept lookups -- the "
        "SQL-recursion twin of the same fold.  Output pins the kept SET "
        "exactly via count + sum(event_id) fingerprint per event_type.  "
        "Scale: one shuffle on the key; the per-key sequential scan is "
        "inherent to the semantics -- the streaming deployment "
        "(streaming/stateful.py:debounced_events) keeps last-kept-ts "
        "state per key and never re-reads history.",
)
def ev_debounce_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.debounce import debounce_exact

    ev = _ev(spark, sf_dir)
    kept = debounce_exact(ev).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("event_id").alias("kept_id_sum"),
    )
    tot = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return tot.join(kept, "event_type").select(
        "event_type",
        "n_kept",
        (F.col("n_events") - F.col("n_kept")).alias("n_dropped"),
        "kept_id_sum",
    )


@register(
    "ev_seasonality_profile",
    oracle="""
WITH e AS (
  SELECT dayofweek(ts) AS dow,
         extract(hour FROM ts) AS hour_of_day,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), slot AS (
  SELECT dow, hour_of_day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(cents) AS sc
  FROM e GROUP BY dow, hour_of_day
), tot AS (
  SELECT COUNT(*) AS tn, SUM(cents) AS tc FROM e
)
SELECT CAST(dow AS BIGINT) AS dow,
       CAST(hour_of_day AS BIGINT) AS hour_of_day,
       n_events,
       CAST(sc AS BIGINT) AS revenue_cents,
       (CAST(sc AS DOUBLE) / n_events) / (CAST(tc AS DOUBLE) / tn)
         AS seasonality_index
FROM slot, tot
""",
    doc="Hour-of-week seasonality profile: per (day-of-week, hour-of-day) "
        "slot, event count, exact cents revenue, and the seasonality "
        "index = slot mean value / overall mean value -- the 168-cell "
        "fingerprint behind staffing curves, anomaly baselines and "
        "forecast seasonal terms.  Day-of-week conventions differ "
        "cross-engine (Spark dayofweek is 1=Sunday, DuckDB 0=Sunday), so "
        "Spark emits dayofweek-1 -- pinned here rather than discovered "
        "by the hash gate.  Sums are exact DECIMAL->BIGINT cents; the "
        "index is a 3-op mirrored double tree over exact integers.  "
        "Scale: one map-side-combined groupBy on a 168-value key plus a "
        "1-row totals broadcast -- nothing grows with data volume except "
        "the scan.",
    driver=False,
    sibling="ev_cusum_alarm_minute",
)
def ev_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir).where(F.col("value").isNotNull())
    cents = (F.col("value").cast(N.DEC) * 100).cast("long")
    e = ev.select(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour_of_day"),
        cents.alias("cents"),
    )
    slot = e.groupBy("dow", "hour_of_day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("sc"),
    )
    # r17 (guide section 2.4): the totals were a second aggregate over e
    # -- replaying the events scan -- but they are EXACTLY the sums of
    # the <=168-row slot table (sum of per-slot counts == row count; sum
    # of per-slot cent sums == total cents, exact integers), so they ride
    # a whole-table window over slot instead: one events scan per run.
    # Constant partition key = the repo's bounded-window convention (the
    # 64-row cumhist precedent): single partition by construction over a
    # calendar-bounded 168-row frame, never data-bound.
    wall = Window.partitionBy(F.lit(0))
    tn = F.sum("n_events").over(wall)
    tc = F.sum("sc").over(wall)
    idx = (F.col("sc").cast("double") / F.col("n_events")) / (
        tc.cast("double") / tn
    )
    return slot.select(
        "dow", "hour_of_day", "n_events",
        F.col("sc").alias("revenue_cents"),
        idx.alias("seasonality_index"),
    )


@register(
    "ev_cohort_revenue_curve",
    oracle="""
WITH f AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
), j AS (
  SELECT e.user_id, f.cohort_week,
         datediff('day', f.cohort_week,
                  date_trunc('week', e.ts)) // 7 AS age_week,
         CASE WHEN e.event_type = 'purchase' AND e.value IS NOT NULL
              THEN CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT)
              ELSE 0 END AS cents
  FROM events e JOIN f USING (user_id)
), g AS (
  SELECT cohort_week, age_week,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_users,
         SUM(cents) AS rev
  FROM j GROUP BY cohort_week, age_week
)
SELECT cohort_week, CAST(age_week AS BIGINT) AS age_week, n_active_users,
       CAST(rev AS BIGINT) AS revenue_cents,
       CAST(SUM(rev) OVER (
         PARTITION BY cohort_week ORDER BY age_week
         ROWS UNBOUNDED PRECEDING
       ) AS BIGINT) AS cum_revenue_cents
FROM g
""",
    doc="Cohort LTV triangle: users cohorted by signup week (first event), "
        "then per (cohort_week, age_week) the active-user count, the "
        "purchase revenue in exact cents, and the CUMULATIVE revenue "
        "curve along cohort age -- the table under every LTV/payback "
        "chart, complementing ev_user_retention_cohorts (presence) and "
        "ev_growth_accounting (flows) with money.  Week truncation and "
        "day arithmetic are Monday-anchored and integer on both engines; "
        "revenue is DECIMAL->BIGINT cents so the running sum is exact "
        "integer (no float window-fold ordering hazard).  Scale: one "
        "shuffle on user_id for the cohort map (re-used by the join), "
        "one agg on the bounded (cohort, age) grid, and a running sum "
        "over age within cohort -- the window partition is one cohort's "
        "WEEKS (bounded by calendar), never raw events.",
)
def ev_cohort_revenue_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17 (guide section 2.4): the cohort map was a groupBy(user_id)
    # aggregate JOINED back onto events -- two events scans and two
    # exchanges.  min(ts) over (PARTITION BY user_id) attaches the same
    # per-user minimum in ONE scan and ONE user_id exchange.  The
    # isNotNull guard makes the window form join-identical by
    # construction (an inner join drops null keys; the fixture has none,
    # so the pushed filter is a no-op).
    ev = _ev(spark, sf_dir).where(F.col("user_id").isNotNull())
    wu = Window.partitionBy("user_id")
    cohort_week = F.date_trunc("week", F.min("ts").over(wu))
    cents = F.when(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull(),
        (F.col("value").cast(N.DEC) * 100).cast("long"),
    ).otherwise(F.lit(0))
    j = ev.select(
        "user_id",
        cohort_week.alias("cohort_week"),
        (
            F.datediff(F.date_trunc("week", F.col("ts")), cohort_week)
            / 7
        ).cast("long").alias("age_week"),
        cents.alias("cents"),
    )
    g = j.groupBy("cohort_week", "age_week").agg(
        F.countDistinct("user_id").alias("n_active_users"),
        F.sum("cents").alias("rev"),
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return g.select(
        "cohort_week", "age_week", "n_active_users",
        F.col("rev").alias("revenue_cents"),
        F.sum("rev").over(w).alias("cum_revenue_cents"),
    )


def cusum_alarm_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level one-sided CUSUM monitor (shared by the registered
    aggregate query and the stream==batch test): per event_type, the
    standard alarm recursion S_i = max(0, S_{i-1} + d_i) with reference =
    mean + allowance (allowance = mean/2), kept in PURE scaled BIGINTs:
    d_i = 2n*cents_i - 3*tot, computed via the window identity
    S_i = P_i - min(0, running_min(P_i)) -- the max(0,..) recursion is
    exactly prefix-minus-clamped-running-min, which both engines express
    as two sequential window passes over the same (ts, event_id) total
    order.  Alarm when S > 10*tot (calibrated to the ~1-2%% tail on the
    fixture)."""
    ev = _ev(spark, sf_dir).where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    cents = (F.col("value").cast(N.DEC) * 100).cast("long")
    e = ev.select("event_type", "ts", "event_id", cents.alias("cents"))
    # r17 (guide section 2.4): tot/n were a groupBy(event_type) aggregate
    # broadcast-joined back onto the rows -- a second events scan.  A
    # whole-partition window over the SAME event_type partitioning
    # attaches the identical exact integer sums in the one scan the
    # running windows already pay; Catalyst stacks all three window
    # functions on one exchange+sort.  The isNotNull(event_type) guard
    # makes the window form join-identical by construction (the inner
    # join dropped null keys; the fixture has none, so the pushed filter
    # is a no-op).
    part = Window.partitionBy("event_type")
    order = part.orderBy("ts", "event_id")
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w = e.select(
        "event_type", "ts", "event_id",
        F.sum("cents").over(part).alias("tot"),
        F.count(F.lit(1)).over(part).alias("n"),
        (
            2 * F.count(F.lit(1)).over(part) * F.sum("cents").over(run)
            - 3 * F.row_number().over(order) * F.sum("cents").over(part)
        ).alias("p"),
    )
    s = F.col("p") - F.least(F.min("p").over(run), F.lit(0))
    return w.select(
        "event_type", "ts", "event_id", "tot", "n", s.alias("s")
    )


@register(
    "ev_cusum_alarm",
    oracle="""
WITH e AS (
  SELECT event_type, ts, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), t AS (
  SELECT event_type, SUM(cents) AS tot, COUNT(*) AS n
  FROM e GROUP BY event_type
), w AS (
  SELECT e.event_type, e.ts, e.event_id, t.tot,
         2 * t.n * SUM(e.cents) OVER (
           PARTITION BY e.event_type ORDER BY e.ts, e.event_id
           ROWS UNBOUNDED PRECEDING
         ) - 3 * ROW_NUMBER() OVER (
           PARTITION BY e.event_type ORDER BY e.ts, e.event_id
         ) * t.tot AS p
  FROM e JOIN t USING (event_type)
), s AS (
  SELECT event_type, ts, tot,
         p - LEAST(MIN(p) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING
         ), 0) AS s
  FROM w
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(CASE WHEN s > 10 * tot THEN 1 END) AS BIGINT) AS n_alarms,
       CAST(MAX(s) AS BIGINT) AS max_s_scaled,
       MIN(CASE WHEN s > 10 * tot THEN ts END) AS first_alarm_ts
FROM s GROUP BY event_type
""",
    doc="One-sided CUSUM ALARM monitor (Page's test): per event_type, the "
        "classic reset recursion S_i = max(0, S_{i-1} + x_i - (mean + "
        "allowance)) with allowance = mean/2, alarming when S exceeds "
        "10x the per-type cents total -- the ONLINE complement of "
        "ev_cusum_changepoint (which localizes one offline shift; this "
        "one fires and RESETS, the form a monitor deploys).  The "
        "max(0,..) recursion is not a window aggregate, but it has an "
        "exact window form: S_i = P_i - min(0, min_{j<=i} P_j) over the "
        "drift-corrected prefix P -- two sequential window passes, "
        "everything in scaled BIGINTs (d_i = 2n*cents_i - 3*tot), so no "
        "float and no recursion.  Same overflow envelope as the "
        "changepoint query (documented there).  The streaming twin "
        "(streaming/stateful.py:cusum_alarm_monitor) runs the O(1) "
        "recursion directly against frozen (n, tot) reference "
        "parameters -- stream==batch pinned in tests/test_stateful.py.  "
        "Scale: one event_type exchange reused by both window passes "
        "plus a bounded totals broadcast.",
)
def ev_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = cusum_alarm_rows(spark, sf_dir)
    alarm = F.col("s") > 10 * F.col("tot")
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(alarm, F.lit(1))).alias("n_alarms"),
        F.max("s").alias("max_s_scaled"),
        F.min(F.when(alarm, F.col("ts"))).alias("first_alarm_ts"),
    )


def cusum_minute_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute-granularity CUSUM monitor rows (shared by the registered
    aggregate query and the two-stage streaming pipeline's stream==batch
    test): the r13/r14 SCALING.md hot-key mitigation made real.  Events
    pre-aggregate to per-(event_type, minute) ``(sum cents, count)``
    partials -- on a stream this is a JVM windowed aggregation with
    map-side partial combine, so the volume reaching the per-key stateful
    fold is bounded by MINUTES per batch, not rows -- and Page's
    recursion folds once per minute with the same scaled-integer algebra:
    ``d_minute = 2n*sum(cents) - 3*tot*count`` (the sum over the minute's
    per-event d_i).  Same window identity, same frozen (n, tot) reference
    parameters as :func:`cusum_alarm_rows`; the alarm statistic is
    evaluated at minute granularity (a coarser, deliberately different
    operator than the per-event monitor -- both are registered)."""
    ev = _ev(spark, sf_dir).where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    cents = (F.col("value").cast(N.DEC) * 100).cast("long")
    e = ev.select(
        "event_type",
        F.date_trunc("minute", F.col("ts")).alias("minute_ts"),
        cents.alias("cents"),
    )
    g = e.groupBy("event_type", "minute_ts").agg(
        F.sum("cents").alias("sc"), F.count(F.lit(1)).alias("c")
    )
    # Frozen (n, tot) derive FROM the minute partials (sum of per-minute
    # sums == sum over rows, exactly, in scaled integers).  r17: they now
    # ride a whole-partition window over the SAME event_type exchange the
    # running windows establish -- the prior groupBy-plus-broadcast-join
    # replayed g's lineage (scan + minute agg) in the totals branch, so
    # events really scanned twice despite the r15 fix's intent.  The
    # isNotNull(event_type) guard keeps join-identical semantics (the
    # fixture has no null types; the pushed filter is a no-op).
    part = Window.partitionBy("event_type")
    order = part.orderBy("minute_ts")
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w = g.select(
        "event_type", "minute_ts",
        F.sum("sc").over(part).alias("tot"),
        F.sum("c").over(part).alias("n"),
        "sc", "c",
        (
            2 * F.sum("c").over(part) * F.sum("sc").over(run)
            - 3 * F.sum("sc").over(part) * F.sum("c").over(run)
        ).alias("p"),
    )
    s = F.col("p") - F.least(F.min("p").over(run), F.lit(0))
    return w.select(
        "event_type", "minute_ts", "tot", "n", "sc", "c", s.alias("s")
    )


@register(
    "ev_cusum_alarm_minute",
    oracle="""
WITH e AS (
  SELECT event_type, date_trunc('minute', ts) AS minute_ts,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), t AS (
  SELECT event_type, SUM(cents) AS tot, COUNT(*) AS n
  FROM e GROUP BY event_type
), g AS (
  SELECT event_type, minute_ts, SUM(cents) AS sc, COUNT(*) AS c
  FROM e GROUP BY event_type, minute_ts
), w AS (
  SELECT g.event_type, g.minute_ts, t.tot,
         2 * t.n * SUM(g.sc) OVER (
           PARTITION BY g.event_type ORDER BY g.minute_ts
           ROWS UNBOUNDED PRECEDING
         ) - 3 * t.tot * SUM(g.c) OVER (
           PARTITION BY g.event_type ORDER BY g.minute_ts
           ROWS UNBOUNDED PRECEDING
         ) AS p
  FROM g JOIN t USING (event_type)
), s AS (
  SELECT event_type, minute_ts, tot,
         p - LEAST(MIN(p) OVER (
           PARTITION BY event_type ORDER BY minute_ts
           ROWS UNBOUNDED PRECEDING
         ), 0) AS s
  FROM w
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_minutes,
       CAST(COUNT(CASE WHEN s > 10 * tot THEN 1 END) AS BIGINT) AS n_alarms,
       CAST(MAX(s) AS BIGINT) AS max_s_scaled,
       MIN(CASE WHEN s > 10 * tot THEN minute_ts END) AS first_alarm_minute
FROM s GROUP BY event_type
""",
    doc="Minute-granularity CUSUM alarm monitor -- the r13/r14 SCALING.md "
        "hot-key mitigation, registered: events pre-aggregate to "
        "per-(event_type, minute) (sum cents, count) partials and Page's "
        "recursion folds once per MINUTE (d = 2n*sum_cents - 3*tot*count, "
        "the sum of the per-event d_i over the minute), so the per-key "
        "serial/transfer volume is bounded by the stream's time span "
        "regardless of event volume -- the property the per-event "
        "ev_cusum_alarm structurally lacks on a bounded key vocabulary "
        "(SCALING.md Table 12 k=32).  Same scaled-BIGINT window identity, "
        "same frozen reference parameters; deliberately a coarser "
        "statistic (a minute's net drift folds atomically, so intra-"
        "minute reflections at 0 are absorbed).  The streaming deployment "
        "is the TWO-STAGE pipeline (streaming/pipeline.py:"
        "run_cusum_minute_pipeline): JVM windowed agg in append mode -> "
        "staging parquet -> per-key stateful fold over closed minutes "
        "(Spark disallows applyInPandasWithState directly after a "
        "streaming aggregation; the staged form is the standard "
        "production shape and keeps exactly-once via per-stage "
        "checkpoints).  Scale: one (type, minute) shuffle with map-side "
        "combine, a bounded totals broadcast, both window passes on one "
        "event_type exchange.",
)
def ev_cusum_alarm_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = cusum_minute_rows(spark, sf_dir)
    alarm = F.col("s") > 10 * F.col("tot")
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_minutes"),
        F.count(F.when(alarm, F.lit(1))).alias("n_alarms"),
        F.max("s").alias("max_s_scaled"),
        F.min(F.when(alarm, F.col("minute_ts"))).alias("first_alarm_minute"),
    )
