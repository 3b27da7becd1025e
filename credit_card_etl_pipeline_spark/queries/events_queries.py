"""Behavioral event analytics (engine extension): cohort retention,
funnel conversion, and event-type transition matrices over the
``events`` stream — the product-analytics query family a warehouse on
this engine serves alongside the ETL/RFM surface.

Cross-engine determinism: event time is exact integer epoch arithmetic
on both sides (Spark derives micros type-adaptively via
``functions.eventtime.event_micros`` — nanos-long div 1000 or
TIMESTAMP_NTZ timestampdiff — matching DuckDB's ``epoch_us(ts)``
exactly and timezone-independently), orderings tie-break on the unique
``event_id``, and every output column is BIGINT/VARCHAR — no floats
anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.eventtime import event_micros
from . import load, query

#: Week index since the epoch: micros // 1 day // 7 (all positive here,
#: so truncating and flooring division agree on both engines); applied
#: to a column already named ``us``.
_WEEK = "us div 86400000000 div 7"


# ------------------------------------------------------------------
# Cohort retention (weekly)
# ------------------------------------------------------------------

_RETENTION_ORACLE = """
WITH weeks AS (
    SELECT user_id,
           CAST((epoch_us(ts) // 86400000000) // 7 AS BIGINT) AS week
    FROM events
),
firsts AS (
    SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY user_id
),
active AS (SELECT DISTINCT user_id, week FROM weeks)
SELECT f.cohort_week,
       a.week - f.cohort_week AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM active a JOIN firsts f USING (user_id)
GROUP BY f.cohort_week, week_offset
"""


@query("events_cohort_retention", _RETENTION_ORACLE)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users are cohorted by their first-ever
    active week and counted at each later week they return — the
    classic retention triangle.  Two aggregations shuffle on user_id
    (first-week min, distinct active weeks); the join back is
    key-aligned on user_id so AQE plans it without a third full
    shuffle, and the final (cohort, offset) aggregate is
    calendar-bounded, not fact-bounded."""
    e = load(spark, sf_dir, "events")
    weeks = e.select(
        "user_id", event_micros(e).alias("us")
    ).select("user_id", F.expr(_WEEK).cast("long").alias("week"))
    firsts = weeks.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    active = weeks.distinct()
    return (
        active.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


# ------------------------------------------------------------------
# Funnel conversion (ordered signup → click → purchase)
# ------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH s AS (
    SELECT user_id, min(epoch_us(ts)) AS s_us
    FROM events WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
    SELECT e.user_id, min(epoch_us(e.ts)) AS c_us
    FROM events e JOIN s ON e.user_id = s.user_id
    WHERE e.event_type = 'click' AND epoch_us(e.ts) > s.s_us
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.c_us
    GROUP BY e.user_id
)
SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signup,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click_after,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase_funnel
"""


@query("events_funnel_conversion", _FUNNEL_ORACLE)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who signed up, then clicked strictly after
    their first signup, then purchased strictly after that first
    qualifying click.

    ONE-PASS shape: the fact is scanned once (filtered to the three
    funnel types, predicate pushed to the scan) and shuffled on
    user_id exactly once; the three stage frontiers are stacked
    whole-partition window aggregates over the SAME partitioning —
    each stage's conditional min reads the previous stage's column —
    so Catalyst plans a single Exchange for all three, followed by a
    same-key per-user rollup (no further shuffle) and one scalar
    aggregate.  The previous version joined three per-stage aggregates
    and shuffled the fact three times."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_type", event_micros(ev).alias("us")
    ).where(F.col("event_type").isin("signup", "click", "purchase"))
    w = Window.partitionBy("user_id")
    typ = F.col("event_type")
    staged = (
        e.withColumn(
            "s_us", F.min(F.when(typ == "signup", F.col("us"))).over(w)
        )
        .withColumn(
            "c_us",
            F.min(
                F.when(
                    (typ == "click") & (F.col("us") > F.col("s_us")),
                    F.col("us"),
                )
            ).over(w),
        )
        .withColumn(
            "p_hit",
            F.max(
                F.when(
                    (typ == "purchase") & (F.col("us") > F.col("c_us")),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.min("s_us").alias("s_us"),
        F.min("c_us").alias("c_us"),
        F.max("p_hit").alias("p_hit"),
    )
    return per_user.agg(
        F.count(F.col("s_us")).cast("long").alias("n_signup"),
        F.count(F.col("c_us")).cast("long").alias("n_click_after"),
        F.sum("p_hit").cast("long").alias("n_purchase_funnel"),
    )


# ------------------------------------------------------------------
# Event-type transition matrix (first-order Markov counts)
# ------------------------------------------------------------------

_TRANSITIONS_ORACLE = """
WITH ordered AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS prev_type
    FROM events
)
SELECT prev_type AS from_type, event_type AS to_type,
       CAST(count(*) AS BIGINT) AS n_transitions
FROM ordered WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
"""


@query("events_type_transitions", _TRANSITIONS_ORACLE)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix: consecutive event-type pairs per
    user, counted corpus-wide (the session-flow / Markov-chain input).
    One shuffle on user_id; the lag window orders each user's history
    by (micros, event_id) — the unique id makes same-microsecond
    ordering deterministic on both engines — and the |types|² aggregate
    that follows is tiny."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_id", "event_type", event_micros(ev).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )


# ------------------------------------------------------------------
# First-touch attribution
# ------------------------------------------------------------------

_ATTRIBUTION_ORACLE = """
WITH e AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
fp AS (
    SELECT user_id, min(us) AS p_us
    FROM e WHERE event_type = 'purchase' GROUP BY user_id
),
pre AS (
    SELECT e.user_id, e.event_type, e.us, e.event_id
    FROM e JOIN fp USING (user_id)
    WHERE e.us < fp.p_us
),
ranked AS (
    SELECT user_id, event_type,
           row_number() OVER (
               PARTITION BY user_id ORDER BY us, event_id
           ) AS rn
    FROM pre
)
SELECT event_type AS first_touch, CAST(count(*) AS BIGINT) AS n_users
FROM ranked WHERE rn = 1
GROUP BY event_type
"""


@query("events_attribution_first_touch", _ATTRIBUTION_ORACLE)
def events_attribution_first_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-touch attribution: for every converting user, the type of
    their earliest event strictly before their first purchase, counted
    per channel.

    ONE-PASS shape: a whole-partition window computes the per-user
    purchase frontier, and a second window over the SAME user_id
    partitioning takes the MIN of a (us, event_id, event_type) struct
    over the pre-frontier rows — struct ordering gives the earliest
    event with the (us, event_id) tiebreak both engines share, with NO
    sort at all (both windows are unordered whole-partition
    aggregates sharing one Exchange).  A same-key per-user rollup and
    a tiny per-channel aggregate finish it.  The previous version
    pre-aggregated the purchase slice and joined it back, scanning and
    shuffling the fact twice."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_id", "event_type", event_micros(ev).alias("us")
    )
    w = Window.partitionBy("user_id")
    staged = e.withColumn(
        "p_us",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("us"))
        ).over(w),
    ).withColumn(
        "ft",
        F.min(
            F.when(
                F.col("us") < F.col("p_us"),
                F.struct("us", "event_id", "event_type"),
            )
        ).over(w),
    )
    per_user = (
        staged.groupBy("user_id")
        .agg(F.min("ft").alias("ft"))
        .where(F.col("ft").isNotNull())
    )
    return per_user.groupBy(
        F.col("ft.event_type").alias("first_touch")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))


# ------------------------------------------------------------------
# Day-of-week × hour activity heatmap (integer calendar math)
# ------------------------------------------------------------------

_HEATMAP_ORACLE = """
WITH e AS (
    SELECT epoch_us(ts) AS us FROM events
)
SELECT CAST(((us // 86400000000) + 4) % 7 AS BIGINT) AS dow,
       CAST((us // 3600000000) % 24 AS BIGINT) AS hour,
       CAST(count(*) AS BIGINT) AS n_events
FROM e
GROUP BY 1, 2
"""


@query("events_hourly_heatmap", _HEATMAP_ORACLE)
def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap.  Calendar fields
    derive from PURE integer epoch arithmetic (1970-01-01 was a
    Thursday, so dow = (days + 4) % 7 with 0 = Sunday) rather than the
    engines' dayofweek() builtins, whose numbering conventions differ
    (Spark counts 1-7 from Sunday, DuckDB 0-6) — the classic silent
    cross-engine off-by-one this query pins shut."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(event_micros(ev).alias("us"))
    return (
        e.select(
            F.expr("(us div 86400000000 + 4) % 7").cast("long").alias("dow"),
            F.expr("(us div 3600000000) % 24").cast("long").alias("hour"),
        )
        .groupBy("dow", "hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )


# ------------------------------------------------------------------
# Time-decayed engagement score (half-life weighting, exact integers)
# ------------------------------------------------------------------

_DECAY_ORACLE = """
WITH e AS (
    SELECT user_id, epoch_us(ts) AS us FROM events
),
anchor AS (SELECT max(us) AS max_us FROM e),
aged AS (
    SELECT user_id,
           least((max_us - us) // 604800000000, 30) AS weeks_old
    FROM e CROSS JOIN anchor
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(1::BIGINT << (30 - weeks_old)) AS BIGINT)
           AS decayed_score_x2e30
FROM aged
GROUP BY user_id
"""


@query("events_decayed_user_score", _DECAY_ORACLE)
def events_decayed_user_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed engagement score (the recency weighting a
    feature store applies to interaction counts): each event
    contributes 2^-weeks_old, summed per user.  The half-life is a
    power of two ON PURPOSE — every contribution is an exact BIGINT
    (2^(30-age), age capped at 30 weeks ≈ a 1e-9 weight), so the
    score needs no float pow() whose libm rounding differs across
    engines.  The corpus-max anchor is a 1-row broadcast; one shuffle
    on user_id.

    Fixed-point scale is 2^30, NOT the 2^50 this query shipped with:
    at 2^50 a single user with >2^13 max-weight events overflows
    BIGINT — the r9 zipf-skewed certification corpus (hot user ≈ 28%
    of all events) caught exactly that.  At 2^30 the per-user headroom
    is 2^33 ≈ 8.6e9 fresh events before overflow."""
    ev = load(spark, sf_dir, "events")
    e = ev.select("user_id", event_micros(ev).alias("us"))
    anchor = e.agg(F.max("us").alias("max_us"))
    aged = e.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.least(
            F.expr("(max_us - us) div 604800000000"), F.lit(30)
        ).alias("weeks_old"),
    )
    return aged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.expr("shiftleft(1L, CAST(30 - weeks_old AS INT))"))
        .cast("long")
        .alias("decayed_score_x2e30"),
    )


# ------------------------------------------------------------------
# Gap-based sessionization (30-minute inactivity timeout)
# ------------------------------------------------------------------

_SESSIONIZE_ORACLE = """
WITH e AS (
    SELECT user_id, event_id, epoch_us(ts) AS us FROM events
),
flagged AS (
    SELECT user_id, event_id, us,
           CASE WHEN lag(us) OVER w IS NULL
                     OR us - lag(us) OVER w > 1800000000
                THEN 1 ELSE 0 END AS new_sess
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
sess AS (
    SELECT user_id, us,
           sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS sess_idx
    FROM flagged
)
SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(us) - min(us) AS BIGINT) AS dur_us
FROM sess
GROUP BY user_id, sess_idx
"""


@query("events_sessionization", _SESSIONIZE_ORACLE)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (the batch form of Spark's
    session_window): a user's events are split into sessions
    wherever the inactivity gap exceeds 30 minutes, via the classic
    lag → new-session flag → running-sum-of-flags window chain.  ONE
    shuffle on user_id serves all three windowed steps (lag, running
    sum) AND the per-session aggregate — the partitioning is reused
    across stages, which is what makes sessionization linear at
    100 TB.  Ties on the timestamp are broken by the unique event_id
    so both engines assign identical session indices."""
    ev = load(spark, sf_dir, "events")
    e = ev.select("user_id", "event_id", event_micros(ev).alias("us"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = e.withColumn(
        "new_sess",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sess_idx",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy(
        "user_id", F.col("sess_idx").cast("long").alias("sess_idx")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max("us") - F.min("us")).cast("long").alias("dur_us"),
    )


# ------------------------------------------------------------------
# Interval max-concurrency (sweep-line over +1/-1 boundaries)
# ------------------------------------------------------------------

_CONCURRENCY_ORACLE = """
WITH iv AS (
    -- each event opens an interval of `value` seconds (exact micros:
    -- cents * 10^4), closed-open [start, end)
    SELECT event_type,
           epoch_us(ts) AS s,
           epoch_us(ts)
             + CAST(round(value * 100) AS BIGINT) * 10000 AS e
    FROM events
    -- a row without a valid non-negative duration defines NO interval
    -- (a NULL end boundary would also sort differently per engine:
    -- Spark windows put nulls first, DuckDB last)
    WHERE value IS NOT NULL AND value >= 0
),
bounds AS (
    SELECT event_type, s AS t, 1 AS d FROM iv
    UNION ALL
    SELECT event_type, e AS t, -1 AS d FROM iv
),
net AS (
    -- starts ride along so the interval count needs no second pass
    SELECT event_type, t, CAST(sum(d) AS BIGINT) AS delta,
           CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS starts
    FROM bounds GROUP BY event_type, t
),
swept AS (
    SELECT event_type, starts,
           sum(delta) OVER (
               PARTITION BY event_type ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS conc
    FROM net
)
SELECT event_type,
       CAST(sum(starts) AS BIGINT) AS n_intervals,
       CAST(max(conc) AS BIGINT) AS max_concurrent
FROM swept
GROUP BY event_type
"""


@query("events_max_concurrency", _CONCURRENCY_ORACLE)
def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line max concurrency: every event opens a closed-open
    interval of ``value`` seconds; per event_type, the peak number of
    simultaneously open intervals is the running sum of +1/-1
    boundary deltas, maxed.  Boundaries are pre-aggregated per (type,
    timestamp) BEFORE the ordered window, so the sweep's sort touches
    at most one row per distinct instant (and nets a start against an
    end at the same instant — exactly the closed-open convention,
    which also makes the running sum order-unambiguous without a
    tiebreak).  Interval lengths are exact integer micros (cents x
    10^4), so both engines sweep identical boundary sets.  At 100 TB
    the ordered window partitions by event_type; a single hot type
    would range-partition on t with boundary-count carry-in, the
    standard two-pass prefix-sum split."""
    ev = load(spark, sf_dir, "events")
    iv = ev.where(
        # twin of the oracle's duration guard: no interval without a
        # valid non-negative duration
        F.col("value").isNotNull() & (F.col("value") >= 0)
    ).select(
        "event_type",
        event_micros(ev).alias("s"),
        (
            event_micros(ev)
            + F.round(F.col("value") * 100).cast("long") * 10000
        ).alias("e"),
    )
    # one exploded pass, not a UNION of two scans: each interval emits
    # its (+1 at s, -1 at e) boundary pair map-side, so the fact table
    # is read once (the union form re-scanned events per branch)
    bounds = iv.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(F.col("s").alias("t"), F.lit(1).alias("d")),
                F.struct(F.col("e").alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("b"),
    ).select("event_type", F.col("b.t").alias("t"), F.col("b.d").alias("d"))
    net = bounds.groupBy("event_type", "t").agg(
        F.sum("d").cast("long").alias("delta"),
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0))
        .cast("long")
        .alias("starts"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = net.withColumn("conc", F.sum("delta").over(w))
    return swept.groupBy("event_type").agg(
        F.sum("starts").cast("long").alias("n_intervals"),
        F.max("conc").cast("long").alias("max_concurrent"),
    )


# ------------------------------------------------------------------
# Robust outlier detection (median / MAD, exact integer arithmetic)
# ------------------------------------------------------------------

_MAD_ORACLE = """
WITH v AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
),
med AS (
    -- 2x the interpolated median stays integral (k or k + 0.5 halves)
    SELECT event_type,
           CAST(round(2 * quantile_cont(cents, 0.5)) AS BIGINT) AS med2
    FROM v GROUP BY event_type
),
dev AS (
    SELECT v.event_type, v.cents, m.med2,
           abs(2 * v.cents - m.med2) AS dev2
    FROM v JOIN med m USING (event_type)
),
mad AS (
    SELECT event_type,
           CAST(round(2 * quantile_cont(dev2, 0.5)) AS BIGINT) AS mad4
    FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       min(d.med2) AS med2_cents,
       min(m.mad4) AS mad4_cents,
       CAST(sum(CASE WHEN 2 * d.dev2 > 3 * m.mad4 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


@query("events_outliers_mad", _MAD_ORACLE)
def events_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-segment outlier detection: a value is an outlier
    when its absolute deviation from the segment median exceeds 3x the
    median-absolute-deviation — the estimator that, unlike mean/stddev
    z-scores, a few extreme rows cannot drag.  Both medians are exact
    interpolated percentiles kept integral by doubling (median of
    BIGINTs is k or k+0.5; medians ride x2, MADs x4), so the outlier
    predicate `2*dev2 > 3*mad4` is pure integer arithmetic —
    bit-identical across engines.  Two aggregation rounds shuffle on
    event_type; the per-type medians broadcast back (type cardinality
    is tiny).  At 100 TB exact percentile per group is the memory
    hazard — approx_percentile(..., accuracy) is the drop-in scale
    path, same plan shape."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    med = v.groupBy("event_type").agg(
        F.round(2 * F.expr("percentile(cents, 0.5)"))
        .cast("long")
        .alias("med2")
    )
    dev = v.join(F.broadcast(med), "event_type").withColumn(
        "dev2", F.abs(2 * F.col("cents") - F.col("med2"))
    )
    mad = dev.groupBy("event_type").agg(
        F.round(2 * F.expr("percentile(dev2, 0.5)"))
        .cast("long")
        .alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("med2").alias("med2_cents"),
            F.min("mad4").alias("mad4_cents"),
            F.sum(
                F.when(2 * F.col("dev2") > 3 * F.col("mad4"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# ------------------------------------------------------------------
# Event-type co-occurrence (cosine over user sets)
# ------------------------------------------------------------------

_COOCCUR_ORACLE = """
WITH u AS (
    SELECT DISTINCT user_id, event_type FROM events
),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS co_users
    FROM u a JOIN u b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
),
totals AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
    FROM u GROUP BY event_type
)
SELECT p.type_a, p.type_b, p.co_users,
       ta.n_users AS users_a, tb.n_users AS users_b,
       CAST(p.co_users * p.co_users * 1000000
            // (ta.n_users * tb.n_users) AS BIGINT) AS cosine2_ppm
FROM pairs p
JOIN totals ta ON ta.event_type = p.type_a
JOIN totals tb ON tb.event_type = p.type_b
"""


@query("events_type_cooccurrence", _COOCCUR_ORACLE)
def events_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence similarity (the unit step of
    collaborative filtering / market-basket analysis): for every pair
    of event types, how many users touched both, normalized to a
    squared-cosine in parts-per-million — kept integral (co² · 10⁶ //
    (n_a · n_b)) so no float sqrt crosses the engine boundary.  The
    user×type matrix is deduplicated FIRST (one shuffle), then
    self-joined on user_id — fan-out per user is C(types,2), bounded
    by the tiny type vocabulary, never |events|².  At 100 TB with an
    unbounded item vocabulary this is where DIMSUM-style sampling
    slots in; with a capped per-user item count the exact join is the
    right plan, and the totals joined back are broadcast-sized."""
    ev = load(spark, sf_dir, "events")
    u = ev.select("user_id", "event_type").distinct()
    a = u.select("user_id", F.col("event_type").alias("type_a"))
    b = u.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("co_users"))
    )
    totals = u.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    ta = totals.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("users_a")
    )
    tb = totals.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("users_b")
    )
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            "co_users",
            "users_a",
            "users_b",
            # integer floor division end-to-end: float `/` + cast
            # truncates (not floors) and double-rounds once
            # co_users^2 * 1e6 exceeds 2^53, diverging from the
            # exact-integer oracle `//` (ADVICE r5).  int64 still
            # bounds co_users at ~3.0e6 — both engines share that.
            F.expr(
                "co_users * co_users * 1000000L div (users_a * users_b)"
            ).alias("cosine2_ppm"),
        )
    )


# ------------------------------------------------------------------
# Seasonal-naive forecast backtest (week-over-week, gap-safe)
# ------------------------------------------------------------------

_BACKTEST_ORACLE = """
WITH daily AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS x,
           CAST(count(*) AS BIGINT) AS y
    FROM events GROUP BY event_type, x
),
scored AS (
    SELECT a.event_type, a.y, b.y AS yhat, abs(a.y - b.y) AS abs_err
    FROM daily a JOIN daily b
      ON b.event_type = a.event_type AND b.x = a.x - 7
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_backtest_days,
       CAST(sum(y) AS BIGINT) AS total_actual,
       CAST(sum(abs_err) AS BIGINT) AS total_abs_err,
       CAST(1000 * sum(abs_err) // sum(y) AS BIGINT) AS wape_permille
FROM scored GROUP BY event_type
"""


@query("events_seasonal_backtest", _BACKTEST_ORACLE)
def events_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting, seasonal-naive baseline: predict each
    day's event count with the count from 7 days earlier and score the
    weighted absolute percentage error per event type — the sanity
    baseline every demand-forecast pipeline reports before anything
    learned.  The lag is a self-JOIN on (type, day-7), not a window
    lag(7), so calendar GAPS can't silently misalign the season; the
    daily aggregate shrinks the fact table before the join, and both
    the error and WAPE are exact integers.  Two shuffles (type×day
    agg, then the aligned join reuses that partitioning)."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (event_micros(ev) / 86_400_000_000).cast("long").alias("x"),
        )
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    past = daily.select(
        "event_type", (F.col("x") + 7).alias("x"), F.col("y").alias("yhat")
    )
    scored = daily.join(past, ["event_type", "x"]).select(
        "event_type", "y", F.abs(F.col("y") - F.col("yhat")).alias("abs_err")
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_backtest_days"),
        F.sum("y").cast("long").alias("total_actual"),
        F.sum("abs_err").cast("long").alias("total_abs_err"),
        F.expr("1000 * sum(abs_err) div sum(y)")
        .cast("long")
        .alias("wape_permille"),
    )


# ------------------------------------------------------------------
# Time-constrained funnel (conversion windows, one-pass)
# ------------------------------------------------------------------

_WINDOWED_FUNNEL_ORACLE = """
WITH e AS (
    SELECT user_id, event_type, epoch_us(ts) AS us
    FROM events
    WHERE event_type IN ('signup', 'click', 'purchase')
),
s AS (
    SELECT user_id, min(us) AS s_us FROM e
    WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
    -- first click within 7 days after the first signup
    SELECT e.user_id, min(e.us) AS c_us
    FROM e JOIN s ON s.user_id = e.user_id
    WHERE e.event_type = 'click'
      AND e.us > s.s_us AND e.us <= s.s_us + 604800000000
    GROUP BY e.user_id
),
p AS (
    -- purchase within 7 days after that qualifying click
    SELECT DISTINCT e.user_id
    FROM e JOIN c ON c.user_id = e.user_id
    WHERE e.event_type = 'purchase'
      AND e.us > c.c_us AND e.us <= c.c_us + 604800000000
)
SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signup,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click_7d,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase_7d
"""


@query("events_windowed_funnel", _WINDOWED_FUNNEL_ORACLE)
def events_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel: signup → first click WITHIN 7 DAYS →
    purchase within 7 days of that click.  The deadline is what makes
    this the funnel marketers actually run (unbounded funnels—see
    events_funnel_conversion—only ever grow); it reuses the same
    ONE-PASS shape: a single scan filtered to the three stage types,
    one user_id shuffle, and stacked conditional-min window aggregates
    over that partitioning where each stage's predicate reads the
    previous stage's column plus the window arithmetic — integer
    micros, so the 7-day bound is exact on both engines."""
    ev = load(spark, sf_dir, "events")
    week_us = 604_800_000_000
    e = ev.select(
        "user_id", "event_type", event_micros(ev).alias("us")
    ).where(F.col("event_type").isin("signup", "click", "purchase"))
    w = Window.partitionBy("user_id")
    typ = F.col("event_type")
    staged = (
        e.withColumn(
            "s_us", F.min(F.when(typ == "signup", F.col("us"))).over(w)
        )
        .withColumn(
            "c_us",
            F.min(
                F.when(
                    (typ == "click")
                    & (F.col("us") > F.col("s_us"))
                    & (F.col("us") <= F.col("s_us") + week_us),
                    F.col("us"),
                )
            ).over(w),
        )
        .withColumn(
            "p_hit",
            F.max(
                F.when(
                    (typ == "purchase")
                    & (F.col("us") > F.col("c_us"))
                    & (F.col("us") <= F.col("c_us") + week_us),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.min("s_us").alias("s_us"),
        F.min("c_us").alias("c_us"),
        F.max("p_hit").alias("p_hit"),
    )
    return per_user.agg(
        F.count(F.col("s_us")).cast("long").alias("n_signup"),
        F.count(F.col("c_us")).cast("long").alias("n_click_7d"),
        F.sum("p_hit").cast("long").alias("n_purchase_7d"),
    )


# ------------------------------------------------------------------
# Key-skew diagnostics (what you run before picking a salt factor)
# ------------------------------------------------------------------

_SKEW_DIAG_ORACLE = """
WITH per_key AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY user_id
),
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(n) AS BIGINT) AS max_n,
           CAST(round(2 * quantile_cont(n, 0.5)) AS BIGINT) AS med2
    FROM per_key
)
SELECT p.user_id, p.n,
       CAST(p.n * 1000000 // t.total AS BIGINT) AS share_ppm,
       -- how many partition-sized units this key alone occupies if a
       -- perfectly even split is total/n_keys per key
       CAST(p.n * t.n_keys // t.total AS BIGINT) AS x_even_load,
       CAST(2 * p.n // t.med2 AS BIGINT) AS x_median_key
FROM per_key p CROSS JOIN tot t
WHERE p.n * 20 >= t.max_n
"""


@query("events_skew_diagnostics", _SKEW_DIAG_ORACLE)
def events_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostics: for every key within 20x of the
    heaviest, its absolute count, corpus share in ppm, multiple of
    the perfectly-even per-key load, and multiple of the median key —
    the numbers that decide whether a groupBy/join needs salting or
    whether AQE's skew-join threshold will catch it.  One shuffle for
    the per-key histogram; the corpus totals ride a 1-row broadcast;
    exact integer ratios make the report hash-checkable.  At 100 TB
    this query IS the cheap pre-flight you run before the expensive
    job — its own skew exposure is just the histogram groupBy."""
    ev = load(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = per_key.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("n").cast("long").alias("max_n"),
        F.round(2 * F.expr("percentile(n, 0.5)")).cast("long").alias("med2"),
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .where(F.col("n") * 20 >= F.col("max_n"))
        .select(
            "user_id",
            "n",
            F.expr("n * 1000000 div total").cast("long").alias("share_ppm"),
            F.expr("n * n_keys div total").cast("long").alias("x_even_load"),
            F.expr("2 * n div med2").cast("long").alias("x_median_key"),
        )
    )


# ------------------------------------------------------------------
# Behavioral drift per day (event-type mix vs corpus baseline)
# ------------------------------------------------------------------

_DAILY_DRIFT_ORACLE = """
WITH ev AS (
    SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day, event_type
    FROM events
),
cnt AS (
    SELECT day, event_type, CAST(count(*) AS BIGINT) AS n
    FROM ev GROUP BY day, event_type
),
days AS (SELECT day, CAST(sum(n) AS BIGINT) AS td FROM cnt GROUP BY day),
types AS (
    SELECT event_type, CAST(sum(n) AS BIGINT) AS ct FROM cnt
    GROUP BY event_type
),
tot AS (SELECT CAST(sum(ct) AS BIGINT) AS t FROM types),
grid AS (
    SELECT d.day, d.td, ty.event_type, ty.ct, tot.t
    FROM days d CROSS JOIN types ty CROSS JOIN tot
),
shares AS (
    SELECT day, td, event_type,
           CAST(COALESCE(c.n, 0) * 1000000 // td AS BIGINT) AS day_ppm,
           CAST(ct * 1000000 // t AS BIGINT) AS base_ppm
    FROM grid g LEFT JOIN cnt c USING (day, event_type)
)
SELECT day,
       CAST(max(td) AS BIGINT) AS n_events,
       CAST(sum(abs(day_ppm - base_ppm)) // 2 AS BIGINT) AS tv_ppm
FROM shares GROUP BY day
"""


@query("events_daily_drift", _DAILY_DRIFT_ORACLE)
def events_daily_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral drift monitoring: each day's event-type mix compared
    to the corpus-wide baseline as an exact total-variation distance in
    ppm.
    One fact-sized aggregation; everything after operates on the
    bounded (days × types) grid with 1-row broadcast totals, so the
    anomaly ledger costs one shuffle at any scale.  Absent types count
    at share 0 via the dense grid — a day missing a type IS drift."""
    ev = load(spark, sf_dir, "events")
    cnt = (
        ev.select(event_micros(ev).alias("us"), "event_type")
        .select(
            F.expr("CAST(us div 86400000000 AS BIGINT)").alias("day"),
            "event_type",
        )
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    days = cnt.groupBy("day").agg(F.sum("n").cast("long").alias("td"))
    types = cnt.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("ct")
    )
    tot = types.agg(F.sum("ct").cast("long").alias("t"))
    grid = days.crossJoin(F.broadcast(types)).crossJoin(F.broadcast(tot))
    shares = grid.join(cnt, ["day", "event_type"], "left").select(
        "day",
        "td",
        F.expr(
            "CAST(COALESCE(n, 0) * 1000000 div td AS BIGINT)"
        ).alias("day_ppm"),
        F.expr("CAST(ct * 1000000 div t AS BIGINT)").alias("base_ppm"),
    )
    return shares.groupBy("day").agg(
        F.max("td").cast("long").alias("n_events"),
        F.expr(
            "CAST(sum(abs(day_ppm - base_ppm)) div 2 AS BIGINT)"
        ).alias("tv_ppm"),
    )


# ------------------------------------------------------------------
# Rolling 7-day DISTINCT users (window count-distinct re-expression)
# ------------------------------------------------------------------

_ROLLING_USERS_ORACLE = """
WITH ud AS (
    SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
    FROM events
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
days AS (SELECT unnest(generate_series(d0, d1)) AS obs_day FROM bounds)
SELECT CAST(obs_day AS BIGINT) AS obs_day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_7d
FROM days JOIN ud ON ud.day BETWEEN obs_day - 6 AND obs_day
GROUP BY obs_day
"""


@query("events_rolling_7d_users", _ROLLING_USERS_ORACLE)
def events_rolling_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct actives — COUNT(DISTINCT) over a sliding
    frame, which Spark's window functions cannot express.  Scalable
    re-expression: dedup to (user, day), explode each user-day into the
    ≤7 observation days it contributes to (bounded 7× expansion of the
    already-deduped frame — NOT of the fact table), dedup (user,
    obs_day), count per day.  Every step partial-aggregates before its
    shuffle; the oracle is the naive range join DuckDB can afford at
    corpus scale."""
    ev = load(spark, sf_dir, "events")
    ud = (
        ev.select("user_id", event_micros(ev).alias("us"))
        .select("user_id", F.expr("us div 86400000000").alias("day"))
        .distinct()
    )
    d1 = ud.agg(F.max("day").alias("d1"))
    contrib = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + F.lit(6))
            ).alias("obs_day"),
        )
        .distinct()
        .join(F.broadcast(d1), F.col("obs_day") <= F.col("d1"))
    )
    return contrib.groupBy("obs_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_users_7d")
    ).select(F.col("obs_day").cast("long").alias("obs_day"), "n_users_7d")
