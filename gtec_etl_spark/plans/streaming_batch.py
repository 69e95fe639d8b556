"""Batch-checkable analogs of the streaming surface (SURVEY.md §2.10).

The reference is batch-only; the engine adds Structured Streaming over the
`events` table (gtec_etl_spark/streaming/). These queries compute the same
windowed aggregations in batch so the oracle can verify the window
semantics; the streaming module reuses identical expressions behind
readStream + watermark.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gtec_etl_spark import catalog
from gtec_etl_spark.plans.registry import query


@query(
    "ev_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events, round(sum("value"), 4) AS total_value
    FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
    tags=("streaming",),
)
def ev_tumbling_hourly(spark, sf_dir):
    """Tumbling 1-hour window aggregation — the batch shape of
    `groupBy(window('ts','1 hour'), ...)` with a watermark in streaming."""
    ev = catalog.table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "ev_multi_resolution_rollup",
    oracle="""
    WITH e AS (
      SELECT date_trunc('month', ts) AS m, date_trunc('day', ts) AS d,
             date_trunc('hour', ts) AS h, "value"
      FROM events
    )
    SELECT CAST(grouping(m) * 4 + grouping(d) * 2 + grouping(h) AS BIGINT)
             AS grain,
           coalesce(h, d, m) AS bucket_start,
           count(*) AS n_events, round(sum("value"), 4) AS total_value
    FROM e
    GROUP BY ROLLUP (m, d, h)
    ORDER BY grain, bucket_start NULLS FIRST
    """,
    tags=("streaming", "rollup"),
)
def ev_multi_resolution_rollup(spark, sf_dir):
    """Hypertable-style multi-resolution time rollup: hourly, daily,
    monthly and grand-total aggregates of the events stream computed in
    ONE pass — GROUP BY ROLLUP over (month, day, hour) truncations, with
    grouping() markers tagging the grain (0=hour, 1=day, 3=month,
    7=total). The continuous-aggregate pattern timeseries stores
    materialize per level; here Spark's Expand + partial aggregation
    produces every level off a single scan and one shuffle, so the cost
    does not multiply with the number of resolutions. In streaming the
    hourly level is the watermarked windowed agg (tumbling_counts) and
    the coarser grains roll up FROM it downstream."""
    ev = catalog.table(spark, sf_dir, "events")
    return spark.sql(
        """
        WITH e AS (
          SELECT date_trunc('month', ts) AS m, date_trunc('day', ts) AS d,
                 date_trunc('hour', ts) AS h, value
          FROM {events}
        )
        SELECT CAST(grouping(m) * 4 + grouping(d) * 2 + grouping(h) AS BIGINT)
                 AS grain,
               coalesce(h, d, m) AS bucket_start,
               count(*) AS n_events, round(sum(value), 4) AS total_value
        FROM e
        GROUP BY ROLLUP (m, d, h)
        ORDER BY grain, bucket_start NULLS FIRST
        """,
        events=ev,
    )


@query(
    "ev_sliding_windows",
    oracle="""
    SELECT window_start, count(*) AS n_events, round(sum("value"), 4) AS total_value
    FROM (
      SELECT time_bucket(INTERVAL '10 minutes', ts)
               - k * INTERVAL '10 minutes' AS window_start,
             "value"
      FROM events, generate_series(0, 2) s(k)
    )
    GROUP BY window_start ORDER BY window_start
    """,
    tags=("streaming",),
)
def ev_sliding_windows(spark, sf_dir):
    """Sliding windows (30-minute length, 10-minute slide) via the native
    window() generator — each event lands in 3 overlapping windows."""
    ev = catalog.table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "30 minutes", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
        .orderBy("window_start")
    )


@query(
    "ev_json_props_extract",
    oracle="""
    SELECT CAST(json_extract("props", '$.k') AS BIGINT) % 10 AS k_bucket,
           count(*) AS n, round(avg("value"), 4) AS avg_value
    FROM events GROUP BY 1 ORDER BY k_bucket
    """,
    tags=("streaming", "scalar"),
)
def ev_json_props_extract(spark, sf_dir):
    """§2.9 JSON decode: get_json_object over the props payload column —
    the semi-structured path every event pipeline needs."""
    ev = catalog.table(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "k_bucket", F.get_json_object("props", "$.k").cast("long") % 10
        )
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("k_bucket")
    )


@query(
    "ev_gap_fill",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             count(*) AS n_events, round(sum("value"), 4) AS total_value
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds
    ),
    grid AS (
      SELECT s.h, t.event_type
      FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    )
    SELECT g.h AS window_start, g.event_type AS event_type,
           coalesce(n.n_events, 0) AS n_events,
           last_value(n.total_value IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS last_known_total
    FROM grid g LEFT JOIN hourly n ON n.h = g.h AND n.event_type = g.event_type
    ORDER BY window_start, event_type
    """,
    tags=("streaming", "timeseries"),
)
def ev_gap_fill(spark, sf_dir):
    """Time-series gap filling — the hypertable/telemetry pattern: a dense
    hourly spine (sequence over the observed range, computed IN the plan
    from a 1-row bounds aggregate) × the event-type dimension, left-joined
    onto the hourly rollup; missing hours get count 0 and carry the last
    observed total forward (last(..., ignorenulls) window per type). Plan:
    bounds broadcast, one explode, one left join on (hour, type), one
    window per type — the spine's size is rows = hours × types regardless
    of raw event volume, so the pass is scan-dominated at 100 TB."""
    ev = catalog.table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("h")
    )
    grid = spine.crossJoin(ev.select("event_type").distinct())
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(hourly, ["h", "event_type"], "left")
        .select(
            F.col("h").alias("window_start"),
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("total_value", ignorenulls=True).over(w).alias("last_known_total"),
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "ev_funnel_stages",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_viewed,
           (SELECT count(*) FROM c) AS n_clicked_after_view,
           (SELECT count(*) FROM p) AS n_purchased_after_click
    """,
    tags=("streaming", "funnel"),
)
def ev_funnel_stages(spark, sf_dir):
    """Ordered conversion funnel (view → later click → later purchase per
    user): each stage is a keyed min-timestamp aggregation semi-joined
    onto the previous stage's anchor time — the standard event-sequence
    analytics pass. Three aggregations + two broadcast-size joins keyed
    on user_id; no window over raw events, so the plan is aggregate-
    dominated at any event volume."""
    ev = catalog.table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
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
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_after_click")))
    )


@query(
    "ev_retention_cohorts",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    ),
    firsts AS (
      SELECT user_id, min(week) AS cohort_week FROM act GROUP BY user_id
    ),
    ret AS (
      SELECT f.cohort_week,
             CAST(date_diff('day', f.cohort_week, a.week) // 7 AS BIGINT)
               AS week_offset,
             count(*) AS n_active
      FROM act a JOIN firsts f ON a.user_id = f.user_id
      GROUP BY 1, 2
    )
    SELECT cohort_week, week_offset, n_active,
           CAST(10000 * n_active
                // max(CASE WHEN week_offset = 0 THEN n_active END)
                     OVER (PARTITION BY cohort_week) AS BIGINT)
             AS retention_e4
    FROM ret
    ORDER BY cohort_week, week_offset
    """,
    tags=("streaming", "cohort"),
)
def ev_retention_cohorts(spark, sf_dir):
    """Weekly cohort-retention matrix — the standard product-analytics
    rollup: cohort = week of a user's first event; each cell counts users
    of that cohort active `week_offset` weeks later, plus retention_e4 =
    10000 * n_active div cohort_size (exact integer basis points; the
    cohort size is the offset-0 cell, which exists by construction since
    every user is active in their own first week).

    Scale design: ONE shuffle on user_id collapses each user to their
    distinct-week set (collect_set — dedup, first week, and offsets all
    come from that array map-side, so the distinct + min + self-join of
    the naive formulation disappear), then one shuffle aggregates the
    tiny (cohort, offset) matrix; the closing window runs over weeks x
    offsets rows and costs nothing. Two data-sized exchanges total
    (verified plan) — the naive distinct/join shape costs four. The
    per-user week set is bounded by the calendar (52/year), so
    collect_set state cannot balloon. No per-event window functions —
    aggregate-dominated at any event volume, the shape a 100 TB
    clickstream needs.

    No reference counterpart (the reference has no event-time analytics)
    — LLM/product-pipeline extension, same family as ev_funnel_stages."""
    from pyspark.sql import Window as W

    ev = catalog.table(spark, sf_dir, "events")
    # date_trunc('week') yields DATE in DuckDB but TIMESTAMP in Spark —
    # cast up front so the emitted cohort_week types agree.
    peruser = (
        ev.select(
            "user_id",
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        )
        .groupBy("user_id")
        .agg(F.collect_set("week").alias("weeks"))
        .select(F.array_min("weeks").alias("cohort_week"), F.explode("weeks").alias("week"))
    )
    ret = (
        peruser.select(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    size = F.max(
        F.when(F.col("week_offset") == 0, F.col("n_active"))
    ).over(W.partitionBy("cohort_week"))
    return ret.select(
        "cohort_week",
        "week_offset",
        "n_active",
        (F.lit(10000) * F.col("n_active") / size)
        .cast("long")
        .alias("retention_e4"),
    ).orderBy("cohort_week", "week_offset")


MAD_K = 3


@query(
    "ev_anomaly_mad",
    oracle=f"""
    WITH c AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    m AS (SELECT event_type, median(n) AS med FROM c GROUP BY 1),
    d AS (
      SELECT c.event_type, c.h, c.n, m.med, abs(c.n - m.med) AS dev
      FROM c JOIN m USING (event_type)
    ),
    s AS (SELECT event_type, median(dev) AS mad FROM d GROUP BY 1)
    SELECT d.event_type, d.h AS window_start, d.n AS n_events,
           d.med AS med, s.mad AS mad
    FROM d JOIN s USING (event_type)
    WHERE d.dev > {MAD_K} * s.mad
    ORDER BY d.event_type, window_start
    """,
    tags=("streaming", "quality"),
)
def ev_anomaly_mad(spark, sf_dir):
    """Robust volume-anomaly detection on the event stream: hours whose
    per-type event count deviates from that type's median by more than
    {MAD_K}x the median absolute deviation — the ingest-monitoring pass
    a pipeline runs on its own telemetry (median/MAD, not mean/stddev,
    so a burst can't drag its own baseline).

    Exactness: counts are integers; an exact interpolated median of
    integers is k/2, so every med/mad/deviation is a dyadic double —
    IEEE-exact in both engines, no rounding needed (the q08 exact-median
    convention; percentile_approx is the documented 100 TB swap-in).

    Plan: one count aggregation over events, two tiny per-type median
    aggs (5 groups), two broadcast joins back — the hourly-count relation
    (O(types x hours), << events) is what the medians and the final
    filter traverse, so the corpus is scanned once."""
    ev = catalog.table(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    m = c.groupBy("event_type").agg(F.median("n").alias("med"))
    d = c.join(F.broadcast(m), "event_type").withColumn(
        "dev", F.abs(F.col("n") - F.col("med"))
    )
    s = d.groupBy("event_type").agg(F.median("dev").alias("mad"))
    return (
        d.join(F.broadcast(s), "event_type")
        .filter(F.col("dev") > MAD_K * F.col("mad"))
        .select(
            "event_type",
            F.col("h").alias("window_start"),
            F.col("n").alias("n_events"),
            "med",
            "mad",
        )
        .orderBy("event_type", "window_start")
    )


PATH_TOPK = 10


@query(
    "ev_top_paths",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
    FROM s WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n DESC, e1, e2, e3
    LIMIT {PATH_TOPK}
    """,
    tags=("streaming", "funnel"),
)
def ev_top_paths(spark, sf_dir):
    """Top-{PATH_TOPK} 3-step event paths (consecutive per-user event
    sequences): the path-mining pass behind "common user journeys"
    product analytics — the sequential sibling of ev_funnel_stages'
    fixed funnel.

    Window order is totally determined by (ts, event_id), so the triple
    extraction is deterministic on both engines even with simultaneous
    events. Plan: ONE hash exchange on user_id feeds both lead()s (same
    window spec), the triple count is a bounded groupBy (|event_types|^3
    keys at most), and the final top-k is TakeOrderedAndProject. At
    100 TB the only corpus-sized operation is the per-user window sort —
    the same cost q18's sessionization already pays."""
    from pyspark.sql import Window

    ev = catalog.table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        s.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "e1", "e2", "e3")
        .limit(PATH_TOPK)
    )


ACTIVE_WIN_DAYS = 7


@query(
    "ev_trailing_distinct_users",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
      FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud),
    cov AS (
      SELECT DISTINCT ud.user_id, days.d AS wd
      FROM ud JOIN days
        ON days.d >= ud.d
       AND days.d < ud.d + INTERVAL {ACTIVE_WIN_DAYS} DAY
    )
    SELECT wd AS window_day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
    FROM cov GROUP BY wd ORDER BY window_day
    """,
    tags=("streaming", "window", "scale"),
)
def ev_trailing_distinct_users(spark, sf_dir):
    """Trailing {ACTIVE_WIN_DAYS}-day DISTINCT active users per day — the
    rolling-DAU/WAU metric every product pipeline computes, and a shape
    nothing else in the registry covers: COUNT(DISTINCT) over a sliding
    time frame, which SQL window frames cannot express (no DISTINCT in
    windowed aggregates) and a naive per-day subquery re-scans the
    corpus once per day.

    Plan — the OFFSET-EXPAND trick: collapse events to distinct
    (user, day) pairs ONCE (the only corpus-sized aggregation), explode
    each pair to the {ACTIVE_WIN_DAYS} window-days it contributes to
    (a {ACTIVE_WIN_DAYS}x map-side fan-out of the already-collapsed
    table, not of raw events), keep window-days that exist in the data
    (broadcast semi-join against the tiny day spine), and count distinct
    per window-day. Every shuffle is keyed; cost is
    O(events + {ACTIVE_WIN_DAYS}·|user-days|) regardless of window
    length's effect on a self-join formulation (the oracle IS that
    range-join formulation, so the equivalence is hash-checked). At
    100 TB the (user, day) collapse is the same cardinality the warehouse
    already materializes as its activity table."""
    ev = catalog.table(spark, sf_dir, "events")
    ud = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("d"), "user_id"
    ).distinct()
    days = ud.select("d").distinct()
    offsets = F.explode(
        F.sequence(F.lit(0), F.lit(ACTIVE_WIN_DAYS - 1))
    ).alias("off")
    cov = (
        ud.select("user_id", "d", offsets)
        .select(
            "user_id", F.date_add(F.col("d"), F.col("off")).alias("wd")
        )
        .join(
            F.broadcast(days.select(F.col("d").alias("wd"))), "wd", "left_semi"
        )
    )
    return (
        cov.groupBy(F.col("wd").alias("window_day"))
        .agg(F.count_distinct("user_id").cast("long").alias("n_active"))
        .orderBy("window_day")
    )


@query(
    "ev_cumulative_uniques",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS d
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT d, CAST(count(*) AS BIGINT) AS new_users FROM first_seen GROUP BY d
    )
    SELECT d AS day, new_users,
           CAST(sum(new_users) OVER (
             ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_users
    FROM daily ORDER BY day
    """,
    tags=("events",),
)
def ev_cumulative_uniques(spark, sf_dir):
    """Cumulative distinct users by day — the growth curve every events
    dashboard wants. The naive form (COUNT(DISTINCT user) per day-prefix)
    re-scans every prefix: quadratic, and each prefix-distinct holds the
    full user set. The scale form used here is the FIRST-SEEN trick: a
    user contributes to exactly one day (min(ts)), so one keyed groupBy
    per user + one per-day rollup + a running sum over the DAY spine
    (bounded by calendar days, never by users or events) gives the same
    curve. The only window is over |days| rows — at 100 TB the shuffles
    are the two keyed aggregates, both map-side combining.
    """
    from pyspark.sql import Window

    events = catalog.table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("d")
    )
    daily = first_seen.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.select(
            F.col("d").alias("day"),
            "new_users",
            F.sum("new_users").over(w).cast("long").alias("cum_users"),
        )
        .orderBy("day")
    )


@query(
    "ev_attribution",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts,
             CAST(floor("value" * 1000000 + 0.5) AS BIGINT) AS rev_micros
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, ts, event_id FROM events
      WHERE event_type IN ('click', 'view')
    ),
    attributed AS (
      SELECT p.event_id, p.rev_micros,
             max(struct_pack(t := t.ts, e := t.event_id)).e AS last_touch,
             min(struct_pack(t := t.ts, e := t.event_id)).e AS first_touch
      FROM purchases p JOIN touches t
        ON t.user_id = p.user_id
       AND t.ts <= p.ts
       AND t.ts >= p.ts - INTERVAL 7 DAY
      GROUP BY p.event_id, p.rev_micros
    ),
    t AS (SELECT event_id, event_type FROM events)
    SELECT a.kind, t.event_type AS touch_type,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(a.rev_micros) AS BIGINT) AS rev_micros
    FROM (
      SELECT 'first' AS kind, first_touch AS touch, rev_micros FROM attributed
      UNION ALL
      SELECT 'last', last_touch, rev_micros FROM attributed
    ) a JOIN t ON t.event_id = a.touch
    GROUP BY 1, 2 ORDER BY kind, touch_type
    """,
    tags=("events", "join"),
)
def ev_attribution(spark, sf_dir):
    """MARKETING ATTRIBUTION — first-touch and last-touch: every purchase
    credits the earliest and latest click/view by the same user within a
    7-day lookback, then revenue rolls up per (model, touch type). The
    touch pick is an exact integer argmin/argmax over (ts, event_id) —
    deterministic under timestamp ties — and revenue is quantized to
    micros before summing (the q17 discipline). Plan: the per-purchase
    window join is keyed on user_id (co-partitioned with the touch
    stream; the 7-day band bounds the per-key fan-in the way q19's
    as-of join does), ONE groupBy collapses both models from the same
    joined intermediate. At 100 TB the lookback bound is what keeps
    state finite — identical to the stream-stream join's watermark
    math."""
    ev = catalog.table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.floor(F.col("value") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("rev_micros"),
    )
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", F.col("ts").alias("t_ts"), F.col("event_id").alias("t_id")
    )
    joined = purchases.join(touches, "user_id").filter(
        (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAY"))
    )
    attributed = joined.groupBy("p_id", "rev_micros").agg(
        F.max_by("t_id", F.struct("t_ts", "t_id")).alias("last_touch"),
        F.min_by("t_id", F.struct("t_ts", "t_id")).alias("first_touch"),
    )
    both = attributed.select(
        F.lit("first").alias("kind"), F.col("first_touch").alias("touch"), "rev_micros"
    ).unionByName(
        attributed.select(
            F.lit("last").alias("kind"), F.col("last_touch").alias("touch"), "rev_micros"
        )
    )
    types = ev.select(F.col("event_id").alias("touch"), "event_type")
    return (
        both.join(types, "touch")
        .groupBy("kind", F.col("event_type").alias("touch_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("rev_micros").cast("long").alias("rev_micros"),
        )
        .orderBy("kind", "touch_type")
    )


@query(
    "ev_markov_transitions",
    oracle="""
    WITH s AS (
      SELECT event_type AS e1, lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS e2
      FROM events
    ),
    pair AS (
      SELECT e1, e2, CAST(count(*) AS BIGINT) AS n
      FROM s WHERE e2 IS NOT NULL GROUP BY e1, e2
    ),
    tot AS (SELECT e1, CAST(sum(n) AS BIGINT) AS t FROM pair GROUP BY e1)
    SELECT pair.e1, pair.e2, pair.n,
           CAST(pair.n * 10000 // tot.t AS BIGINT) AS prob_bp
    FROM pair JOIN tot USING (e1)
    ORDER BY e1, e2
    """,
    tags=("streaming", "funnel"),
)
def ev_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next = e2 | current = e1) in exact basis points — the
    behavioral model behind next-event prediction and the drift check a
    product pipeline runs when a release changes navigation (a
    transition row moving 500 bp is a funnel change ev_top_paths' raw
    top-k can hide). Counts are integers and prob_bp floors n*10000/t,
    so both engines agree bit-for-bit.

    Plan: the same single user_id exchange as ev_top_paths feeds the
    lead(); the pair count is bounded (|event_types|^2 keys) with
    map-side combine, and the per-source totals reduce 25 rows — AQE
    broadcasts the join back. At 100 TB the per-user window sort is the
    only corpus-sized operation."""
    from pyspark.sql import Window

    ev = catalog.table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type").over(w).alias("e2"),
    )
    pair = (
        s.filter(F.col("e2").isNotNull())
        .groupBy("e1", "e2")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # Per-source totals as a window over the BOUNDED pair relation (≤
    # |event_types|² rows) — a separate groupBy + join back would
    # re-derive the pair subtree and pay the corpus-sized user_id
    # exchange twice (the executed plan showed two Scan+Window chains;
    # tests/test_plans.py pins the single-chain shape).
    t = F.sum("n").over(Window.partitionBy("e1")).cast("long")
    return (
        pair.withColumn("t", t)
        .select(
            "e1",
            "e2",
            "n",
            F.expr("CAST(n * 10000 div t AS BIGINT)").alias("prob_bp"),
        )
        .orderBy("e1", "e2")
    )


CUSUM_H = 8  # alert when S exceeds H x MAD (2x-scaled on both sides)


@query(
    "ev_cusum_alerts",
    oracle=f"""
    WITH c AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, CAST(2 * median(n) AS BIGINT) AS med2
      FROM c GROUP BY event_type
    ),
    dev AS (
      SELECT c.event_type, c.h, c.n, abs(2 * c.n - m.med2) AS dev2
      FROM c JOIN m USING (event_type)
    ),
    mad AS (
      SELECT event_type,
             CAST(greatest(median(dev2), 2) AS BIGINT) AS mad2
      FROM dev GROUP BY event_type
    ),
    p AS (
      SELECT d.event_type, d.h, d.n,
             sum(2 * d.n - m.med2 - 1) OVER (
               PARTITION BY d.event_type ORDER BY d.h
             ) AS pre
      FROM dev d JOIN m USING (event_type)
    ),
    s AS (
      SELECT event_type, h, n,
             pre - least(min(pre) OVER (
               PARTITION BY event_type ORDER BY h
             ), 0) AS cusum2
      FROM p
    )
    SELECT s.event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(max(s.cusum2) AS BIGINT) AS max_cusum_2x,
           CAST({CUSUM_H} * mad.mad2 AS BIGINT) AS threshold_2x,
           CAST(sum(CASE WHEN s.cusum2 > {CUSUM_H} * mad.mad2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_alert_hours,
           min(CASE WHEN s.cusum2 > {CUSUM_H} * mad.mad2
                    THEN s.h END) AS first_alert_hour
    FROM s JOIN mad USING (event_type)
    GROUP BY s.event_type, mad.mad2
    ORDER BY s.event_type
    """,
    tags=("streaming", "quality"),
)
def ev_cusum_alerts(spark, sf_dir):
    """CUSUM change-point detection on hourly per-type event volume — the
    monitoring pass that catches a SUSTAINED drift ev_anomaly_mad's
    single-hour spike test cannot (CUSUM accumulates small deviations;
    MAD only fires when one hour alone clears the threshold). Per type:
    target = median hourly count, one-sided reset CUSUM
    S_i = max(0, S_(i-1) + (n_i - med - 1/2)) computed WITHOUT recursion
    via the prefix-sum identity S_i = P_i - min(0, min_(j<=i) P_j)
    (two window functions over the hour order), alert when S exceeds
    {CUSUM_H} x the MAD of the hourly deviations. Output is the per-type
    alert summary (hours, max CUSUM, threshold, alert-hour count, first
    alert hour) — dimension-sized, never vacuous.

    Exactness: counts are integers; medians of integers are half-integer
    exact, so everything rides a 2x integer scale end-to-end — no float
    anywhere. Plan: one corpus-sized count aggregation; the medians,
    prefix windows, and summary all run on the O(types x hours) relation
    (per-type window partitions are hour-count-sized — bounded by the
    retention horizon at any corpus scale, the same envelope as
    ev_anomaly_mad)."""
    from pyspark.sql import Window

    ev = catalog.table(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    m = c.groupBy("event_type").agg(
        (2 * F.median("n")).cast("long").alias("med2")
    )
    dev = c.join(F.broadcast(m), "event_type").withColumn(
        "dev2", F.abs(2 * F.col("n") - F.col("med2"))
    )
    # MAD floored at one count (2 in 2x units): on sparse slices most
    # hourly deviations are zero, and an unfloored MAD of 0 makes the
    # threshold vacuous (every positive CUSUM fires).
    mad = dev.groupBy("event_type").agg(
        F.greatest(F.median("dev2"), F.lit(2)).cast("long").alias("mad2")
    )
    wo = Window.partitionBy("event_type").orderBy("h")
    p = dev.withColumn(
        "pre", F.sum(2 * F.col("n") - F.col("med2") - 1).over(wo)
    )
    s = p.withColumn(
        "cusum2", F.col("pre") - F.least(F.min("pre").over(wo), F.lit(0))
    )
    return (
        s.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "mad2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.max("cusum2").cast("long").alias("max_cusum_2x"),
            F.sum(
                F.when(F.col("cusum2") > CUSUM_H * F.col("mad2"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_alert_hours"),
            F.min(
                F.when(F.col("cusum2") > CUSUM_H * F.col("mad2"), F.col("h"))
            ).alias("first_alert_hour"),
        )
        .select(
            "event_type",
            "n_hours",
            "max_cusum_2x",
            (CUSUM_H * F.col("mad2")).cast("long").alias("threshold_2x"),
            "n_alert_hours",
            "first_alert_hour",
        )
        .orderBy("event_type")
    )


@query(
    "ev_funnel_time_to_convert",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    ),
    lags AS (
      SELECT 'view_to_click' AS stage,
             epoch_us(c.t2) - epoch_us(v.t1) AS lag_us
      FROM c JOIN v USING (user_id)
      UNION ALL
      SELECT 'click_to_purchase',
             epoch_us(p.t3) - epoch_us(c.t2)
      FROM p JOIN c USING (user_id)
    )
    SELECT stage, CAST(count(*) AS BIGINT) AS n_users,
           CAST(2 * median(lag_us) AS BIGINT) AS med2x_lag_us,
           CAST(min(lag_us) AS BIGINT) AS min_lag_us,
           CAST(max(lag_us) AS BIGINT) AS max_lag_us
    FROM lags GROUP BY stage ORDER BY stage
    """,
    tags=("streaming", "funnel"),
)
def ev_funnel_time_to_convert(spark, sf_dir):
    """Time-to-convert distribution per funnel stage — the latency
    companion to ev_funnel_stages' conversion COUNTS (product analytics
    asks "how many converted" and then immediately "how long did it
    take"): per user, first view -> first subsequent click -> first
    subsequent purchase, then per-stage lag stats over exact integer
    microseconds. Medians of integer lags are half-integer exact
    (dyadic doubles, the q08/ev_anomaly_mad convention), carried as
    2x-scaled BIGINTs; percentile_approx is the documented 100 TB
    swap-in for the median.

    Plan: the same three keyed min-aggregations as ev_funnel_stages
    (aggregate-dominated, no window over raw events); the stage-lag
    relation is |converted users| rows, and the final rollup is 2 rows
    with map-side combine."""
    ev = catalog.table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
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
    lag12 = c.join(v, "user_id").select(
        F.lit("view_to_click").alias("stage"),
        (F.unix_micros("t2") - F.unix_micros("t1")).alias("lag_us"),
    )
    lag23 = p.join(c, "user_id").select(
        F.lit("click_to_purchase").alias("stage"),
        (F.unix_micros("t3") - F.unix_micros("t2")).alias("lag_us"),
    )
    return (
        lag12.unionByName(lag23)
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            (2 * F.median("lag_us")).cast("long").alias("med2x_lag_us"),
            F.min("lag_us").cast("long").alias("min_lag_us"),
            F.max("lag_us").cast("long").alias("max_lag_us"),
        )
        .orderBy("stage")
    )


@query(
    "ev_inter_event_gaps",
    oracle="""
    WITH g AS (
      SELECT epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             )) AS gap_us
      FROM events
    )
    SELECT CAST(length(bin(gap_us)) - 1 AS BIGINT) AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM g WHERE gap_us IS NOT NULL AND gap_us > 0
    GROUP BY 1 ORDER BY log2_bucket
    """,
    tags=("streaming", "profile"),
)
def ev_inter_event_gaps(spark, sf_dir):
    """Inter-event-time distribution in exact log2 buckets — the
    burstiness profile that calibrates session thresholds (q18's 30-min
    gap) and streaming watermarks (a watermark below the p99 gap drops
    real data): per-user consecutive gaps in integer microseconds,
    bucketed by floor(log2) via binary string length (the
    prof_k_anonymity / graph_degree_distribution convention — exact on
    both engines, no float log). Zero gaps (simultaneous events) are
    excluded so the bucket function stays total.

    Plan: ONE user_id exchange feeds the lag() window (the q18/
    ev_top_paths cost, the only corpus-sized operation), then a ~40-row
    bucket aggregation with map-side combine."""
    from pyspark.sql import Window

    ev = catalog.table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        )
    )
    return (
        g.filter(F.col("gap_us").isNotNull() & (F.col("gap_us") > 0))
        .groupBy(
            (F.length(F.bin(F.col("gap_us"))) - 1)
            .cast("long")
            .alias("log2_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min("gap_us").cast("long").alias("min_gap_us"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
        )
        .orderBy("log2_bucket")
    )


EWMA_LAGS = 16  # half-life 1 hour: weight 2^(LAGS-1-k) on lag k


@query(
    "ev_ewma_hourly",
    oracle=f"""
    WITH c AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    l AS (
      SELECT event_type, h, n,
             {", ".join(
               f"lag(n, {k}) OVER (PARTITION BY event_type ORDER BY h)"
               f" AS n{k}" for k in range(1, EWMA_LAGS)
             )}
      FROM c
    )
    SELECT event_type, h AS window_start, n AS n_events,
           CAST((
             n * {1 << (EWMA_LAGS - 1)}
             + {" + ".join(
                 f"coalesce(n{k}, 0) * {1 << (EWMA_LAGS - 1 - k)}"
                 for k in range(1, EWMA_LAGS)
               )}
           ) * 1000 // (
             {1 << (EWMA_LAGS - 1)}
             + {" + ".join(
                 f"CASE WHEN n{k} IS NULL THEN 0"
                 f" ELSE {1 << (EWMA_LAGS - 1 - k)} END"
                 for k in range(1, EWMA_LAGS)
               )}
           ) AS BIGINT) AS ewma_e3
    FROM l ORDER BY event_type, window_start
    """,
    tags=("streaming", "timeseries"),
)
def ev_ewma_hourly(spark, sf_dir):
    """Exponentially-weighted moving average of hourly event volume — the
    smoothed baseline a monitoring pipeline plots under the raw series
    (and diffs against for alerting; ev_cusum_alerts is the detector,
    this is the trend line). EWMA is a recursion, so like the CUSUM it
    is re-expressed windows-only: a half-life-one geometric kernel
    truncated at {EWMA_LAGS} lags (2^-16 residual mass — below the e3
    output quantum), computed as an exact integer dot product of lag()
    terms with power-of-two weights over a per-type hour window; series
    heads renormalize by the sum of AVAILABLE weights (no zero-padding
    bias). Everything is BIGINT until the final e3 fixed-point floor
    division — bit-identical cross-engine.

    Plan: one corpus-sized count aggregation; the {EWMA_LAGS - 1} lag()
    columns share ONE window spec over the O(types x hours) relation
    (Spark plans a single per-type sort for all of them), partitions
    bounded by the retention horizon."""
    from pyspark.sql import Window

    ev = catalog.table(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("h")
    lags = [F.col("n")] + [
        F.lag("n", k).over(w) for k in range(1, EWMA_LAGS)
    ]
    num = sum(
        (
            F.coalesce(lags[k], F.lit(0)) * (1 << (EWMA_LAGS - 1 - k))
            for k in range(1, EWMA_LAGS)
        ),
        F.col("n") * (1 << (EWMA_LAGS - 1)),
    )
    den = sum(
        (
            F.when(lags[k].isNull(), 0).otherwise(1 << (EWMA_LAGS - 1 - k))
            for k in range(1, EWMA_LAGS)
        ),
        F.lit(1 << (EWMA_LAGS - 1)),
    )
    # Exact BIGINT `div`, matching the oracle's `//` at ANY magnitude —
    # no reliance on the IEEE quotient staying inside an integer
    # boundary (which only holds while num*1000 < 2^53).
    return (
        c.select(
            "event_type",
            F.col("h").alias("window_start"),
            F.col("n").cast("long").alias("n_events"),
            (num * 1000).cast("long").alias("_num_e3"),
            den.cast("long").alias("_den_w"),
        )
        .select(
            "event_type",
            "window_start",
            "n_events",
            F.expr("_num_e3 div _den_w").cast("long").alias("ewma_e3"),
        )
        .orderBy("event_type", "window_start")
    )


MARKOV_K = 6  # absorption horizon (steps of the chain)
MARKOV_STATES = ("START", "view", "click", "signup", "error", "purchase", "null")
MARKOV_CHANNELS = ("click", "error", "signup", "view")


def _markov_edges_sql() -> str:
    return """
    r AS (
      SELECT user_id, event_type, row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS rk
      FROM events
    ),
    fp AS (
      SELECT user_id, min(rk) AS prk FROM r
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    kept AS (
      SELECT r.user_id, r.event_type, r.rk FROM r
      LEFT JOIN fp ON fp.user_id = r.user_id
      WHERE fp.prk IS NULL OR r.rk <= fp.prk
    ),
    pairs AS (
      SELECT user_id, event_type AS a, rk,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY rk
             ) AS b
      FROM kept
    ),
    edges AS (
      SELECT 'START' AS a, event_type AS b FROM kept WHERE rk = 1
      UNION ALL
      SELECT a, b FROM pairs WHERE b IS NOT NULL
      UNION ALL
      SELECT a, 'null' FROM pairs WHERE b IS NULL AND a <> 'purchase'
    ),
    tr AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM edges GROUP BY 1, 2
    ),
    ta AS (SELECT a, CAST(sum(n) AS BIGINT) AS tn FROM tr GROUP BY 1),
    p AS MATERIALIZED (
      SELECT a, b, CAST(n * 1000000 // tn AS BIGINT) AS p6
      FROM tr JOIN ta USING (a)
    )"""


def _markov_oracle() -> str:
    states_vals = ", ".join(f"('{s}')" for s in MARKOV_STATES)
    parts = ["    WITH" + _markov_edges_sql()]
    runs = [("full", None)] + [(c, c) for c in MARKOV_CHANNELS]
    for run, removed in runs:
        if removed is None:
            parts.append(f",\n    p_{run} AS MATERIALIZED (SELECT a, b, p6 FROM p)")
        else:
            parts.append(
                f""",
    p_{run} AS MATERIALIZED (
      SELECT a, b, p6 FROM p WHERE a <> '{removed}'
      UNION ALL SELECT '{removed}', 'null', CAST(1000000 AS BIGINT)
    )"""
            )
        parts.append(
            f""",
    m_{run}_0 AS MATERIALIZED (SELECT 'START' AS s, CAST(1000000 AS BIGINT) AS m)"""
        )
        for k in range(1, MARKOV_K + 1):
            parts.append(
                f""",
    m_{run}_{k} AS MATERIALIZED (
      SELECT st.s,
             CAST(coalesce(ab.m, 0) + coalesce(fl.x, 0) AS BIGINT) AS m
      FROM (VALUES {states_vals}) st(s)
      LEFT JOIN (
        SELECT s, m FROM m_{run}_{k - 1} WHERE s IN ('purchase', 'null')
      ) ab ON ab.s = st.s
      LEFT JOIN (
        SELECT p.b AS s,
               CAST(sum(m.m * p.p6) // 1000000 AS BIGINT) AS x
        FROM m_{run}_{k - 1} m JOIN p_{run} p ON p.a = m.s
        GROUP BY p.b
      ) fl ON fl.s = st.s
    )"""
            )
        parts.append(
            f""",
    conv_{run} AS MATERIALIZED (
      SELECT CAST(m AS BIGINT) AS c FROM m_{run}_{MARKOV_K}
      WHERE s = 'purchase'
    )"""
        )
    chan_rows = "\n      UNION ALL\n      ".join(
        f"SELECT '{c}' AS channel, (SELECT c FROM conv_{c}) AS conv_removed_e6"
        for c in MARKOV_CHANNELS
    )
    parts.append(
        f"""
    SELECT ch.channel,
           (SELECT c FROM conv_full) AS conv_full_e6,
           ch.conv_removed_e6,
           CAST(CASE WHEN (SELECT c FROM conv_full) = 0 THEN NULL
                ELSE greatest((SELECT c FROM conv_full)
                              - ch.conv_removed_e6, 0) * 10000
                     // (SELECT c FROM conv_full) END AS BIGINT)
             AS removal_effect_bp
    FROM ({chan_rows}) ch
    ORDER BY ch.channel"""
    )
    return "".join(parts)


@query(
    "ev_attribution_markov",
    oracle=_markov_oracle(),
    tags=("streaming", "funnel"),
)
def ev_attribution_markov(spark, sf_dir):
    """Markov removal-effect attribution — the data-driven alternative to
    ev_attribution's first/last-touch heuristics: model user journeys as
    a Markov chain over event types (paths truncated at the first
    purchase; START and null/conversion absorbing states), compute the
    {MARKOV_K}-step conversion probability from START, then re-run the
    chain with each channel's outgoing mass redirected to null — the
    channel's removal effect (how much conversion disappears without
    it) is its causal-flavored credit. Transition probabilities are
    floored e6 integers and every chain step is
    (Σ mass·p) div 1e6 over the 7-state vector, so the full and the
    {len(MARKOV_CHANNELS)} removal runs are bit-identical cross-engine;
    the oracle unrolls all {MARKOV_K}x{len(MARKOV_CHANNELS) + 1} stages
    as CTEs.

    Scale split: the corpus-sized work — per-user ordering, truncation
    at first purchase, transition counting — is one window + one
    bounded groupBy (the ev_top_paths cost); the chain itself is a
    7x7 matrix, COLLECTED to the driver (constant-size, independent of
    the corpus) and powered in exact Python ints. At 100 TB the matrix
    is still 7x7 — the iteration cost is zero by construction."""
    from pyspark.sql import Window

    ev = catalog.table(spark, sf_dir, "events")
    # ONE window chain over the corpus (round-13 rewrite; sf10 stage
    # profile showed the old fp-aggregate-join + 3-branch edge union
    # re-running sort+window per consumer — the exchange was reused but
    # every branch paid its own 20M-row sort). prk is a whole-partition
    # window min (no second pass, no join), and all three edge kinds
    # (START, consecutive pair, terminal null) emit from ONE explode
    # over the lead() relation, so the per-user sort happens once.
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    r = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rk")
    ).withColumn(
        "prk",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("rk"))
        ).over(wp),
    )
    kept = r.filter(F.col("prk").isNull() | (F.col("rk") <= F.col("prk")))
    wk = Window.partitionBy("user_id").orderBy("rk")
    pairs = kept.select(
        "event_type", "rk", F.lead("event_type").over(wk).alias("nxt")
    )
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.when(
                        F.col("rk") == 1,
                        F.struct(
                            F.lit("START").alias("a"),
                            F.col("event_type").alias("b"),
                        ),
                    ),
                    F.struct(
                        F.col("event_type").alias("a"),
                        F.when(F.col("nxt").isNotNull(), F.col("nxt"))
                        .when(
                            F.col("event_type") != "purchase", F.lit("null")
                        )
                        .alias("b"),
                    ),
                )
            ).alias("e")
        )
        .filter(F.col("e").isNotNull() & F.col("e.b").isNotNull())
        .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
    )
    tr = edges.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ta = tr.groupBy("a").agg(F.sum("n").cast("long").alias("tn"))
    p_rows = (
        tr.join(ta, "a")
        .select("a", "b", F.expr("CAST(n * 1000000 div tn AS BIGINT)").alias("p6"))
        .collect()  # transition matrix: <= |states|^2 rows at ANY corpus size
    )
    p_full = {(row["a"], row["b"]): row["p6"] for row in p_rows}
    # The oracle unrolls the chain against the hardcoded MARKOV_STATES
    # VALUES list and silently drops mass at any state outside it, while
    # the Python chain below would happily propagate it — if the events
    # fixture's event_type enum ever grows, fail LOUDLY here instead of
    # diverging hash-red.
    domain = set(MARKOV_STATES)
    stray = sorted(
        {s for ab in p_full for s in ab if s not in domain}
    )
    if stray:
        raise ValueError(
            "ev_attribution_markov: transition endpoints outside "
            f"MARKOV_STATES {MARKOV_STATES}: {stray} — extend the state "
            "list AND the oracle's VALUES list together"
        )

    def run_chain(p6: dict) -> int:
        mass = {s: 0 for s in MARKOV_STATES}
        mass["START"] = 1_000_000
        for _ in range(MARKOV_K):
            nxt = {s: 0 for s in MARKOV_STATES}
            for s in ("purchase", "null"):
                nxt[s] = mass[s]
            inflow: dict[str, int] = {}
            for (a, b), p in p6.items():
                if mass.get(a, 0):
                    inflow[b] = inflow.get(b, 0) + mass[a] * p
            for b, x in inflow.items():
                nxt[b] = nxt.get(b, 0) + x // 1_000_000
            mass = nxt
        return mass["purchase"]

    conv_full = run_chain(p_full)
    rows = []
    for c in MARKOV_CHANNELS:
        p_rem = {
            (a, b): p for (a, b), p in p_full.items() if a != c
        }
        p_rem[(c, "null")] = 1_000_000
        conv_rem = run_chain(p_rem)
        removal = (
            None
            if conv_full == 0
            else max(conv_full - conv_rem, 0) * 10000 // conv_full
        )
        rows.append((c, conv_full, conv_rem, removal))
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("channel", StringType(), False),
            StructField("conv_full_e6", LongType(), False),
            StructField("conv_removed_e6", LongType(), False),
            StructField("removal_effect_bp", LongType(), True),
        ]
    )
    return spark.createDataFrame(rows, schema).orderBy("channel")


#: Hot/cold anomaly gate for the seasonal baseline: a cell is anomalous
#: when its hourly count is > 2x or < 0.5x the hour-of-day expectation.
SEAS_HOT_X2 = 2


@query(
    "ev_seasonal_baseline",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(ts AS DATE) AS d,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    idx AS (
      SELECT event_type, hod,
             CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(n) AS BIGINT) AS total,
             CAST(sum(n) * 100 // count(*) AS BIGINT) AS expected_e2
      FROM cells GROUP BY 1, 2
    )
    SELECT i.event_type, i.hod, i.n_cells, i.total, i.expected_e2,
           CAST(sum(CASE WHEN c.n * 100 > i.expected_e2 * {SEAS_HOT_X2}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
           CAST(sum(CASE WHEN c.n * 100 * {SEAS_HOT_X2} < i.expected_e2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_cold
    FROM idx i JOIN cells c ON c.event_type = i.event_type AND c.hod = i.hod
    GROUP BY 1, 2, 3, 4, 5
    ORDER BY i.event_type, i.hod
    """,
    tags=("streaming", "timeseries"),
)
def ev_seasonal_baseline(spark, sf_dir):
    """Hour-of-day SEASONAL BASELINE + anomaly census — the capability
    the events pack was missing between ev_ewma_hourly (trend) and
    ev_cusum_alerts / ev_anomaly_mad (level shifts): traffic is
    periodic, so "is this hour anomalous" must be asked against the
    TYPICAL count for that hour-of-day, not against a flat or trailing
    mean (a quiet 3am hour is normal; the same count at 3pm is an
    outage). Builds the classical seasonal index — per (event_type,
    hour-of-day): number of observed day-cells, total events, and the
    expected hourly count (mean, floored e2 fixed point) — then counts
    hot cells (> {SEAS_HOT_X2}x expectation) and cold cells (< 1/{SEAS_HOT_X2}x)
    per index row. All-integer arithmetic (counts, one floor division),
    bit-identical cross-engine.

    Plan: ONE corpus-sized groupBy (event_type, date, hour) with
    map-side combine — the same single-pass cost as ev_tumbling_hourly;
    everything downstream operates on the cells relation, bounded by
    |types| x retention-days x 24 regardless of corpus size (at 100 TB
    with a year of retention: ~5 x 365 x 24 ≈ 44k rows). The index
    (|types| x 24 rows) joins back onto cells for the anomaly census —
    both sides aggregate-bounded, AQE broadcasts the small one. Output
    is exactly |types| x 24 rows."""
    ev = catalog.table(spark, sf_dir, "events")
    # cells feeds BOTH the index aggregate and the anomaly-census join;
    # checkpoint so the one corpus-sized pass runs once (it is the
    # query's only unbounded cost — cells itself is types x days x 24).
    cells = (
        ev.groupBy(
            "event_type",
            F.to_date("ts").alias("d"),
            F.hour("ts").cast("long").alias("hod"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()
    )
    idx = cells.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n").cast("long").alias("total"),
        F.expr("sum(n) * 100 div count(*)").cast("long").alias("expected_e2"),
    )
    return (
        idx.join(cells, ["event_type", "hod"])
        .groupBy("event_type", "hod", "n_cells", "total", "expected_e2")
        .agg(
            F.sum(
                F.when(
                    F.col("n") * 100 > F.col("expected_e2") * SEAS_HOT_X2, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_hot"),
            F.sum(
                F.when(
                    F.col("n") * 100 * SEAS_HOT_X2 < F.col("expected_e2"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_cold"),
        )
        .orderBy("event_type", "hod")
    )


@query(
    "ev_forecast_backtest",
    oracle="""
    WITH cells AS (
      SELECT event_type,
             CAST(ts AS DATE) AS d,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    n1 AS (
      SELECT c.event_type,
             CAST(count(*) AS BIGINT) AS n_pairs_1d,
             CAST(sum(abs(c.n - p.n)) * 100 // count(*) AS BIGINT)
               AS mae_1d_e2
      FROM cells c
      JOIN cells p ON p.event_type = c.event_type AND p.hod = c.hod
                  AND p.d = c.d - INTERVAL 1 DAY
      GROUP BY 1
    ),
    n7 AS (
      SELECT c.event_type,
             CAST(count(*) AS BIGINT) AS n_pairs_7d,
             CAST(sum(abs(c.n - p.n)) * 100 // count(*) AS BIGINT)
               AS mae_7d_e2
      FROM cells c
      JOIN cells p ON p.event_type = c.event_type AND p.hod = c.hod
                  AND p.d = c.d - INTERVAL 7 DAY
      GROUP BY 1
    )
    SELECT n1.event_type, n1.n_pairs_1d, n1.mae_1d_e2,
           n7.n_pairs_7d, n7.mae_7d_e2
    FROM n1 JOIN n7 ON n7.event_type = n1.event_type
    ORDER BY n1.event_type
    """,
    tags=("streaming", "timeseries"),
)
def ev_forecast_backtest(spark, sf_dir):
    """SEASONAL-NAIVE FORECAST BACKTEST — the step after
    ev_seasonal_baseline in a monitoring pipeline's lifecycle: before
    trusting any forecast-based alert, measure how well the two
    classical naive baselines would have predicted history. For every
    (type, day, hour) cell, naive-1d predicts yesterday's same-hour
    count and naive-7d predicts last week's; the report is per-type
    matched-pair counts and integer MAE (x100 fixed point, floor
    division — bit-identical cross-engine). A real forecaster must beat
    BOTH numbers to earn deployment (the M4-competition discipline);
    7d < 1d indicates weekly seasonality dominates daily.

    Pairs cover hours present on both sides (an absent cell is a
    zero-event hour — rare at this volume; a production variant gap-
    fills first, see ev_gap_fill, at the cost of a spine join). Plan:
    ONE corpus-sized groupBy (the ev_seasonal_baseline pass,
    checkpointed once), then two self-equi-joins + aggregates on the
    types x days x 24-bounded cells relation — everything after the
    first pass is aggregate-bounded at any corpus size."""
    ev = catalog.table(spark, sf_dir, "events")
    cells = (
        ev.groupBy(
            "event_type",
            F.to_date("ts").alias("d"),
            F.hour("ts").cast("long").alias("hod"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()  # bounded; feeds four join sides below
    )

    def naive(lag_days: int, pair_col: str, mae_col: str):
        c = cells.select(
            "event_type", "d", "hod", F.col("n").alias("n_now")
        )
        p = cells.select(
            "event_type",
            F.col("d").alias("pd"),
            "hod",
            F.col("n").alias("n_prev"),
        )
        return (
            c.join(
                p,
                (c["event_type"] == p["event_type"])
                & (c["hod"] == p["hod"])
                & (p["pd"] == F.date_sub(c["d"], lag_days)),
            )
            .groupBy(c["event_type"].alias("event_type"))
            .agg(
                F.count(F.lit(1)).cast("long").alias(pair_col),
                F.expr("sum(abs(n_now - n_prev)) * 100 div count(*)")
                .cast("long")
                .alias(mae_col),
            )
        )

    n1 = naive(1, "n_pairs_1d", "mae_1d_e2")
    n7 = naive(7, "n_pairs_7d", "mae_7d_e2")
    return n1.join(n7, "event_type").orderBy("event_type")
