"""Batch event-time operators — SURVEY.md §2.10 (evt_*).

Tumbling/sliding/session windows and cohorting over the events
table. These generalize the reference's 15-minute/day privacy time
binning and trip/session reconstruction ([P], SURVEY §2.10). The
streaming twins live in ``streaming/stream_queries.py``.

Timestamp discipline: events.ts is parquet timestamp[ns]; Spark
truncates to µs (values are µs-precise, so lossless) while DuckDB
keeps ns — all projections go through date_trunc/cast, never raw ts
(SURVEY §1.2 item 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import exact_unit_sum
from ..registry import query
from ..tables import load


@query(
    "evt_tumbling_hour",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0, 4)
             AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def evt_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts per event type via
    F.window(ts, '1 hour') — project window.start (equals
    date_trunc for aligned tumbling windows). Privacy time-binning
    ([P high]). The streaming twin ``stm_tumbling_availablenow``
    inherits the batch ratio (same agg shape; scripts/scale_index.py)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        # r13: sum in EXACT integer cents (events.value is 2-decimal
        # money; the floor(x*100+0.5) lift recovers the exact cent
        # value from the double in BOTH engines), so the rounded sum
        # is bit-identical regardless of scan partitioning (2^63 wrap
        # bound and guard-band argument in functions/exact.py).
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_unit_sum(F.col("value"), 100, "sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "evt_sliding_window",
    oracle="""
    WITH offs AS (SELECT UNNEST([0, 1800]) AS off)
    SELECT make_timestamp(
             ((FLOOR((epoch(CAST(ts AS TIMESTAMP)) - off) / 3600) * 3600 + off) * 1000000)::BIGINT
           ) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events CROSS JOIN offs
    GROUP BY 1, 2
    """,
)
def evt_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 minutes: each event lands in 2
    windows. Oracle reproduces the window algebra with epoch math
    (core stream shape).

    Scale note (r7): the classic two-level rewrite (tumbling 30-min
    pre-agg, then the tiny bin summary exploded ×2 and re-summed —
    halves the agg hash probes) was A/B'd at ×100 and REJECTED as a
    wash (0.757 s native vs 0.760 s two-level, exact-equal outputs):
    the per-row cost here is scan + window assignment, not the
    Expand through the combinable partial agg. The 2.02× ×100 row is
    the sub-second dispatch/agg-constant regime (same disposition as
    evt_tumbling_hour's µs-staged decomposition)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


@query(
    "evt_session_batch",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
    ), grp AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM grp
    GROUP BY user_id, sess_id
    """,
)
def evt_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch session_window(ts, '30 minutes') per user. Spark's
    session end = last event + gap (SURVEY §2.10 note) — the oracle's
    lag/cumsum sessionization adds the interval explicitly."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "evt_sessionize_lag",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), flagged AS (
      SELECT user_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
    )
    SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM flagged
    GROUP BY user_id
    """,
)
def evt_sessionize_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + 30-min gap flag (pure window form, no
    session_window) -> sessions per user ([P med]: trip
    reconstruction)."""
    ev = load(spark, sf_dir, "events").select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
    flagged = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "evt_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS active_week
      FROM events
    )
    SELECT cohort_week, active_week,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM firsts JOIN activity USING (user_id)
    GROUP BY cohort_week, active_week
    """,
)
def evt_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention matrix: cohort = first-event week, counts per
    (cohort_week, active_week) (ext).

    Single-exchange form (r7): ONE events pass collecting each user's
    distinct active weeks as a set (partial collect_set combines
    map-side, so the user_id exchange carries per-task (user, week)
    partials — bounded by weeks-per-user, not events-per-user), then
    cohort_week = array_min(weeks) and the matrix = count over the
    exploded sets. Exactly the two-pass firsts⋈activity semantics:
    date_trunc('week', ·) is monotonic, so week(MIN(ts)) ==
    MIN(week(ts)), and each user contributes exactly once per active
    week by set construction (ts is non-null in the events schema —
    collect_set's null-dropping can't bite). Replaces two full scans
    + a distinct + a user_id join (r6: 2.32× at ×100) with one scan
    + one exchange (r7 A/B: 1.81 s → 1.20 s; equality pinned in
    tests). At 100 TB the per-user set stays bounded by the calendar
    (≤52 cells/user/year), so the agg state cannot blow up."""
    ev = load(spark, sf_dir, "events")
    per_user = (
        ev.select(
            "user_id",
            F.date_trunc("week", F.col("ts").cast("timestamp"))
            .cast("date")
            .alias("wk"),
        )
        .groupBy("user_id")
        .agg(F.collect_set("wk").alias("weeks"))
    )
    return (
        per_user.select(
            F.array_min("weeks").alias("cohort_week"),
            F.explode("weeks").alias("active_week"),
        )
        .groupBy("cohort_week", "active_week")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "evt_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.s_ts
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.c_ts
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n_signup,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_after,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_after
    """,
)
def evt_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: users who signed up, then clicked
    AFTER the first signup, then purchased AFTER that first click —
    strict event-time ordering, not mere co-occurrence.

    r14 optimization round, second step — SORT-FREE AGGREGATE-HOF
    form (guide §2.3 aggregate before you shuffle + §4.1 HOFs over
    arrays). The funnel firsts need NO ordering of the event stream:
    c_ts = min click ts strictly greater than s_ts, p_ts = min
    purchase ts strictly greater than c_ts — each an `array_min`
    over a filtered UNSORTED array. One combinable groupBy(user_id)
    collects s_ts = min(signup ts) plus the per-user click/purchase
    ts arrays (`collect_list` skips the non-matching-type NULLs), a
    codegen projection does the two array_min(filter(...)) walks,
    and the final count is a single-row agg. ONE exchange, ZERO
    sorts. Null semantics do the stage gating for free: s_ts NULL ⇒
    the `x > s_ts` predicate is NULL ⇒ filter drops every click ⇒
    c_ts NULL ⇒ purchases drop likewise.

    History of the three forms at ×100: stage-join (r8, 6 filtered
    scans + 2 joins) 1.942–2.259 s = 1.77×; running-min window (r14
    step 1, 1 scan / 1 exchange / 1 full per-user sort) 1.657 s =
    1.30× on its epoch. Window-vs-this A/B (r14b host): same-process
    comparisons proved ORDER-DEPENDENT (first-measured form reads
    ~2.2–2.5 s, interleaving poisons the ObjectHashAggregate side —
    full story in OPTIMIZATION_r14.md); the honest fresh-process
    isolated epochs read **agg-HOF 1.135/1.159 s vs window
    1.222/1.196 s** against DuckDB ~1.2 s — BOTH ≈1.0×, this form
    ~5% faster in both epochs and structurally sort-free (the
    window's full per-partition sort is its 100 TB liability; the
    collect partials ship exactly the bytes the window form
    shuffled, and arrays are event-count-bounded per user).
    Value-identical; three-way cross-form equality pinned in tests
    (driver corpus + a synthetic order-edge corpus:
    click-before-signup, same-ts ties, purchase-before-click)."""
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("signup", "click", "purchase"))
        .select("user_id", "ts", "event_type")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s_ts"),
        F.collect_list(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("clicks"),
        F.collect_list(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("purchases"),
    )
    walked = per_user.withColumn(
        "c_ts", F.expr("array_min(filter(clicks, x -> x > s_ts))")
    ).withColumn("p_ts", F.expr("array_min(filter(purchases, x -> x > c_ts))"))
    return walked.agg(
        F.count("s_ts").alias("n_signup"),
        F.count("c_ts").alias("n_click_after"),
        F.count("p_ts").alias("n_purchase_after"),
    )


def _funnel_window_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r14-step-1 single-pass running-min window funnel (one
    exchange + one full per-user sort), kept as the second
    cross-form equality witness for the registered sort-free
    aggregate-HOF form (isolated ×100 epochs: window 1.20–1.22 s vs
    agg-HOF 1.14–1.16 s — see the registered docstring)."""
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("signup", "click", "purchase"))
        .select("user_id", "ts", "event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s_run = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    ev2 = ev.withColumn("s_run", s_run)
    qual_c = F.when(
        (F.col("event_type") == "click") & (F.col("ts") > F.col("s_run")),
        F.col("ts"),
    )
    ev3 = ev2.withColumn("c_run", F.min(qual_c).over(w))
    per_user = ev3.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s_ts"),
        F.min(qual_c).alias("c_ts"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("c_run")),
                F.col("ts"),
            )
        ).alias("p_ts"),
    )
    return per_user.agg(
        F.count("s_ts").alias("n_signup"),
        F.count("c_ts").alias("n_click_after"),
        F.count("p_ts").alias("n_purchase_after"),
    )


def _funnel_stage_join_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r14 stage-join funnel (conditional min-aggregate per
    stage, joined forward), kept as the cross-form equality witness
    for the single-pass window rewrite (measured 1.77× vs the
    rewrite's 1.30× at ×100 — see the registered docstring)."""
    ev = load(spark, sf_dir, "events")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after")))
    )


@query(
    "evt_time_spine",
    oracle="""
    WITH spine AS (
      SELECT CAST(UNNEST(generate_series(DATE '1997-01-01', DATE '1997-03-31',
                                         INTERVAL 1 DAY)) AS DATE) AS day
    ), daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
      GROUP BY 1
    )
    SELECT spine.day, CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_orders
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    """,
)
def evt_time_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling: generate a contiguous daily spine with
    ``sequence()`` + explode, left-join daily counts, zero-fill the
    missing days — the time-series densification every reporting
    rollup needs (a day with no trips must appear as 0, not vanish).
    The spine is generated, not stored, and broadcast to the counts."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1997-01-01").cast("date"),
                F.lit("1997-03-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    daily = (
        load(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return spine.join(daily, spine.day == daily.d, "left").select(
        "day", F.coalesce("n", F.lit(0)).alias("n_orders")
    )
