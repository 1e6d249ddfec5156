"""Temporal join operators: as-of join and bucketed range join.

Spark has no native ASOF JOIN.  The classic distributed construction
used here avoids any join at all for the as-of case: union both sides,
sort within (key) by time, and carry the right side's latest value
forward with a running ``last(ignorenulls)`` window.  One shuffle on
the key, no row explosion, no range-condition nested loop — this is
the formulation that survives 100 TB, unlike a theta-join which Spark
would execute as a broadcast nested loop.

The range join uses time-bucket blocking: candidates must share a
bucket (or be in adjacent buckets), turning an inequality join into an
equi-join on (key, bucket) plus a residual filter — same trick as the
LSH blocking in dedup/similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cga_logs_to_kinesis_spark.registry import QuerySpec, register
from cga_logs_to_kinesis_spark.session import tune_session
from cga_logs_to_kinesis_spark.sources import load_events


def asof_join_last_event(events: DataFrame, left_type: str,
                         right_type: str) -> DataFrame:
    """For each `left_type` event: the most recent prior-or-equal
    `right_type` event's (ts, event_id) for the same user.

    Implementation: union-sort-carry.  Right rows contribute their
    payload; a window ``last(payload, ignorenulls=True)`` ordered by
    (ts, is_left, event_id) makes each left row see the latest right
    row at-or-before it.  Right rows sort before left rows at equal
    ts, so ties are inclusive (ASOF <=) — matching DuckDB's ASOF JOIN.
    """
    events = events.withColumn("us", F.expr("ts DIV 1000"))
    left = (events.filter(F.col("event_type") == left_type)
            .select("user_id", "us", "event_id", "value")
            .withColumn("is_left", F.lit(1))
            .withColumn("right_us", F.lit(None).cast("long"))
            .withColumn("right_id", F.lit(None).cast("long")))
    right = (events.filter(F.col("event_type") == right_type)
             .select("user_id", "us", "event_id",
                     F.lit(None).cast("double").alias("value"))
             .withColumn("is_left", F.lit(0))
             .withColumn("right_us", F.col("us"))
             .withColumn("right_id", F.col("event_id")))
    merged = left.unionByName(right)
    w = (Window.partitionBy("user_id")
         .orderBy("us", "is_left", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = (merged
               .withColumn("asof_us",
                           F.last("right_us", ignorenulls=True).over(w))
               .withColumn("asof_id",
                           F.last("right_id", ignorenulls=True).over(w)))
    # microseconds everywhere: TimestampType (and DuckDB's parquet
    # reader for ns timestamps) is us-resolution, so us is the finest
    # cross-engine-exact time unit
    return (carried.filter(F.col("is_left") == 1)
            .select("user_id",
                    F.col("event_id").alias("purchase_id"),
                    F.col("us").alias("purchase_us"),
                    F.col("asof_id").alias("last_signup_id"),
                    F.col("asof_us").alias("last_signup_us"),
                    (F.col("us") - F.col("asof_us")).alias("lag_us")))


def q_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    ev = load_events(spark, sf_dir)
    out = asof_join_last_event(ev, "purchase", "signup")
    # NULL-free output: unmatched purchases (no prior signup) carry a -1
    # sentinel so the cross-engine compare never hits pandas'
    # nullable-int64→float64 coercion on the oracle side.
    return out.fillna(
        -1, subset=["last_signup_id", "last_signup_us", "lag_us"])


register(QuerySpec(
    "asof_last_signup", q_asof_last_signup,
    oracle="""
        WITH p AS (SELECT user_id, event_id, ts FROM events
                   WHERE event_type = 'purchase'),
             s AS (SELECT user_id, event_id, ts FROM events
                   WHERE event_type = 'signup')
        SELECT p.user_id,
               p.event_id AS purchase_id,
               epoch_us(p.ts) AS purchase_us,
               COALESCE(s.event_id, -1) AS last_signup_id,
               COALESCE(epoch_us(s.ts), -1) AS last_signup_us,
               COALESCE(epoch_us(p.ts) - epoch_us(s.ts), -1) AS lag_us
        FROM p ASOF LEFT JOIN s
          ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
    doc="as-of join via union-sort-carry (no nested-loop range join)",
    tags=("join", "asof", "window"),
))


BUCKET_US = 3600 * 1_000_000   # 1 h blocking buckets


def q_range_join_error_after_purchase(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Error events within 1 h AFTER a purchase by the same user —
    an interval join, bucketed so it never degenerates into a
    nested-loop cross product: a match within 1 h lies in the same or
    the next 1 h bucket, so the join key is (user_id, bucket) with a
    residual range filter."""
    tune_session(spark)
    ev = load_events(spark, sf_dir)
    p = (ev.filter(F.col("event_type") == "purchase")
         .select(F.col("user_id"),
                 F.col("event_id").alias("purchase_id"),
                 F.expr("ts DIV 1000").alias("p_us")))
    e = (ev.filter(F.col("event_type") == "error")
         .select(F.col("user_id").alias("e_user"),
                 F.col("event_id").alias("error_id"),
                 F.expr("ts DIV 1000").alias("e_us")))
    p2 = p.withColumn(
        "bucket", F.explode(F.array(
            F.expr(f"p_us DIV {BUCKET_US}"),
            F.expr(f"p_us DIV {BUCKET_US} + 1"))))
    e2 = e.withColumn("bucket", F.expr(f"e_us DIV {BUCKET_US}"))
    return (
        p2.join(e2, (p2.user_id == e2.e_user)
                & (p2.bucket == e2.bucket))
        .filter((F.col("e_us") > F.col("p_us"))
                & (F.col("e_us") - F.col("p_us") <= BUCKET_US))
        .select("user_id", "purchase_id", "error_id",
                (F.col("e_us") - F.col("p_us")).alias("delay_us"))
    )


register(QuerySpec(
    "range_join_error_after_purchase", q_range_join_error_after_purchase,
    oracle=f"""
        SELECT p.user_id,
               p.event_id AS purchase_id,
               e.event_id AS error_id,
               epoch_us(e.ts) - epoch_us(p.ts) AS delay_us
        FROM events p JOIN events e
          ON p.user_id = e.user_id
         AND p.event_type = 'purchase' AND e.event_type = 'error'
         AND epoch_us(e.ts) > epoch_us(p.ts)
         AND epoch_us(e.ts) - epoch_us(p.ts) <= {BUCKET_US}
    """,
    doc="bucketed interval join (equi-join on time block + residual)",
    tags=("join", "range"),
))


# ---------------------------------------------------------------------------
# Retention cohorts
# ---------------------------------------------------------------------------

_WEEK_US = 7 * 86_400 * 1_000_000


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-seen week,
    distinct-active counts per weeks-since, retention vs the cohort's
    week-0 size.  All bucketing is integer µs arithmetic (epoch
    weeks), the cohort label comes from a per-user MIN window (one
    shuffle on user_id, no self-join), and the week-0 denominator is
    a first_value window over the aggregate — never a join back."""
    tune_session(spark)
    ev = load_events(spark, sf_dir)
    us = F.expr("ts DIV 1000")
    weeks = (ev
             .select("user_id", (us / F.lit(_WEEK_US)).cast("long")
                     .alias("week"))
             .withColumn("cohort_week",
                         F.min("week").over(
                             Window.partitionBy("user_id"))))
    tri = (weeks
           .groupBy("cohort_week",
                    (F.col("week") - F.col("cohort_week"))
                    .alias("weeks_since"))
           .agg(F.countDistinct("user_id").alias("active_users")))
    w0 = (Window.partitionBy("cohort_week")
          .orderBy("weeks_since")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (tri
            .withColumn("cohort_size",
                        F.first("active_users").over(w0))
            # try_divide: an all-NULL-user cohort has countDistinct 0
            # — ANSI would throw where the oracle yields NULL
            .withColumn("retention",
                        F.try_divide(
                            F.col("active_users").cast("double"),
                            F.col("cohort_size")))
            .orderBy("cohort_week", "weeks_since"))


register(QuerySpec(
    "retention_cohorts", q_retention_cohorts,
    oracle=f"""
        WITH weeks AS (
            SELECT user_id,
                   epoch_us(ts) // {_WEEK_US} AS week,
                   MIN(epoch_us(ts) // {_WEEK_US})
                       OVER (PARTITION BY user_id) AS cohort_week
            FROM events
        ),
        tri AS (
            SELECT cohort_week, week - cohort_week AS weeks_since,
                   COUNT(DISTINCT user_id) AS active_users
            FROM weeks GROUP BY 1, 2
        )
        SELECT cohort_week, weeks_since, active_users,
               FIRST(active_users) OVER (
                   PARTITION BY cohort_week ORDER BY weeks_since
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cohort_size,
               CAST(active_users AS DOUBLE)
               / FIRST(active_users) OVER (
                   PARTITION BY cohort_week ORDER BY weeks_since
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS retention
        FROM tri
        ORDER BY cohort_week, weeks_since
    """,
    doc="weekly retention triangle: first-seen cohorts x weeks-since, "
        "distinct actives, retention vs week-0 (integer-week buckets, "
        "no self-join)",
    tags=("temporal", "window", "agg", "cohort"),
))


# ---------------------------------------------------------------------------
# Rate anomaly detection
# ---------------------------------------------------------------------------

_MIN_US = 60 * 1_000_000
ANOMALY_TRAIL = 30      # trailing observations per (event_type)
ANOMALY_MIN_N = 10      # z undefined below this history depth
ANOMALY_Z = 3.0


def q_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-minute event-rate z-scores against a trailing window — the
    monitoring-side twin of the delivery-stats surface (the reference
    alerts on Prometheus rates; this is the batch-relational shape).
    The trailing mean/var use integer-exact SUM/SUMSQ over the frame
    (counts are ints — no decimal needed), so the doubles that reach
    sqrt/divide are deterministic and the oracle is hash-exact.
    Trailing frame is observation-count based (ROWS), not wall-time:
    sparse minutes don't create phantom zero rows."""
    tune_session(spark)
    ev = load_events(spark, sf_dir)
    per_min = (ev
               .groupBy("event_type",
                        (F.expr("ts DIV 1000") / F.lit(_MIN_US))
                        .cast("long").alias("minute"))
               .agg(F.count("*").alias("n_events")))
    return score_per_minute(per_min)


def score_per_minute(per_min: DataFrame) -> DataFrame:
    """Trailing z-scores over a (event_type, minute, n_events) frame —
    shared by the registered batch query and the streaming-twin parity
    test (the stateful streaming operator replays this exact float
    arithmetic)."""
    trail = (Window.partitionBy("event_type").orderBy("minute")
             .rowsBetween(-ANOMALY_TRAIL, -1))
    cnt = F.count("n_events").over(trail)
    s1 = F.sum("n_events").over(trail)
    s2 = F.sum(F.col("n_events") * F.col("n_events")).over(trail)
    mean = s1.cast("double") / cnt
    var = s2.cast("double") / cnt - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    # Rows without enough trailing history (or zero variance) have no
    # defined z; they are filtered, not emitted as NULLs — a nullable
    # double renders NULL in Spark but NaN through the oracle's
    # pandas materialization, and the report's consumers only want
    # scored minutes anyway.
    return (per_min
            .withColumn("trail_n", cnt)
            .withColumn("_mean", mean)
            .withColumn("_std", std)
            .filter((F.col("trail_n") >= ANOMALY_MIN_N)
                    & (F.col("_std") > 0.0))
            .withColumn("z", (F.col("n_events") - F.col("_mean"))
                        / F.col("_std"))
            .select("event_type", "minute", "n_events", "trail_n", "z",
                    (F.abs("z") > ANOMALY_Z).alias("is_anomaly"))
            .orderBy("event_type", "minute"))


register(QuerySpec(
    "rate_anomaly", q_rate_anomaly,
    oracle=f"""
        WITH per_min AS (
            SELECT event_type,
                   epoch_us(ts) // {_MIN_US} AS minute,
                   COUNT(*) AS n_events
            FROM events GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type, minute, n_events,
                   COUNT(n_events) OVER w AS trail_n,
                   CAST(SUM(n_events) OVER w AS BIGINT) AS s1,
                   CAST(SUM(n_events * n_events) OVER w AS BIGINT) AS s2
            FROM per_min
            WINDOW w AS (PARTITION BY event_type ORDER BY minute
                         ROWS BETWEEN {ANOMALY_TRAIL} PRECEDING
                                  AND 1 PRECEDING)
        ),
        scored AS (
            SELECT event_type, minute, n_events, trail_n,
                   CAST(s1 AS DOUBLE) / trail_n AS mean,
                   SQRT(GREATEST(
                       CAST(s2 AS DOUBLE) / trail_n
                       - (CAST(s1 AS DOUBLE) / trail_n)
                         * (CAST(s1 AS DOUBLE) / trail_n), 0.0)) AS std
            FROM stats
            WHERE trail_n >= {ANOMALY_MIN_N}
        )
        SELECT event_type, minute, n_events, trail_n,
               (n_events - mean) / std AS z,
               ABS((n_events - mean) / std) > {ANOMALY_Z} AS is_anomaly
        FROM scored
        WHERE std > 0.0
        ORDER BY event_type, minute
    """,
    doc="per-minute event-rate z-score vs a trailing-30 window "
        "(integer-exact sums; the monitoring twin of delivery stats)",
    tags=("temporal", "window", "anomaly"),
))


# ---------------------------------------------------------------------------
# Ordered event funnel
# ---------------------------------------------------------------------------
# The k-stage ORDERED funnel with bounded inter-stage gaps — the
# shape `funnel_conversion` (text.py) deliberately does NOT cover:
# that query's two-stage "did a purchase ever follow the first
# signup" folds into one conditional aggregation, but as soon as a
# third stage or a max-gap constraint enters, each stage's anchor
# time depends on the previous stage's result and no single-pass
# aggregation exists.  The construction here is k-1
# user-keyed semi-join+min passes: stage tables are one row per
# surviving user (never event-sized), every join/aggregate shuffles
# on user_id so AQE reuses the partitioning, and each stage table is
# localCheckpoint'ed because it feeds both its own count and the next
# stage's join (without the cut Catalyst would recompute the chain
# per consumer).  At 100 TB the per-stage state is O(users) — the
# same envelope as retention_cohorts — and the event scan is pruned
# to the funnel's event types before the first shuffle.

FUNNEL_STAGES = ("view", "click", "purchase")
FUNNEL_GAP_US = 3 * 86_400 * 1_000_000     # 3 days between stages


def funnel_feed(events: DataFrame) -> DataFrame:
    """The funnel's event projection — (user_id, stage event_type,
    exact µs) pruned to the funnel's event types before any shuffle."""
    return (events
            .filter(F.col("event_type").isin(*FUNNEL_STAGES))
            .select("user_id", "event_type",
                    F.expr("ts DIV 1000").alias("us")))


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    ev = funnel_feed(load_events(spark, sf_dir))
    # Each stage table is localCheckpoint'ed ONLY while it has two
    # consumers (its count frame + the next stage's join); the LAST
    # stage feeds nothing downstream, so it stays lazy — k-1 stages
    # cost k-1 blocking driver jobs, not k (r11 verdict design note).
    last = len(FUNNEL_STAGES)
    cur = (ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
           .groupBy("user_id").agg(F.min("us").alias("t")))
    cur = cur.localCheckpoint() if last > 1 else cur
    frames = [cur.agg(F.count("*").alias("n_users"))
              .select(F.lit(1).cast("int").alias("stage_idx"),
                      F.lit(FUNNEL_STAGES[0]).alias("stage"),
                      "n_users")]
    for i, st in enumerate(FUNNEL_STAGES[1:], start=2):
        cur = (ev.filter(F.col("event_type") == st)
               .join(cur, "user_id")
               .filter((F.col("us") >= F.col("t"))
                       & (F.col("us") <= F.col("t") + FUNNEL_GAP_US))
               .groupBy("user_id").agg(F.min("us").alias("t")))
        if i < last:
            cur = cur.localCheckpoint()
        frames.append(cur.agg(F.count("*").alias("n_users"))
                      .select(F.lit(i).cast("int").alias("stage_idx"),
                              F.lit(st).alias("stage"), "n_users"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("stage_idx")


def _funnel_oracle() -> str:
    ctes = [f"""s1 AS (
        SELECT user_id, MIN(epoch_us(ts)) AS t FROM events
        WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id)"""]
    for i, st in enumerate(FUNNEL_STAGES[1:], start=2):
        ctes.append(f"""s{i} AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
        FROM events e JOIN s{i - 1} p ON e.user_id = p.user_id
        WHERE e.event_type = '{st}'
          AND epoch_us(e.ts) >= p.t
          AND epoch_us(e.ts) <= p.t + {FUNNEL_GAP_US}
        GROUP BY e.user_id)""")
    selects = [
        f"SELECT CAST({i} AS INTEGER) AS stage_idx, "
        f"'{st}' AS stage, "
        f"CAST((SELECT COUNT(*) FROM s{i}) AS BIGINT) AS n_users"
        for i, st in enumerate(FUNNEL_STAGES, start=1)]
    return ("WITH " + ", ".join(ctes) + " "
            + " UNION ALL ".join(selects) + " ORDER BY stage_idx")


register(QuerySpec(
    "event_funnel", q_event_funnel,
    oracle=_funnel_oracle(),
    doc=f"ordered {len(FUNNEL_STAGES)}-stage event funnel "
        f"({' -> '.join(FUNNEL_STAGES)}, each stage within "
        f"{FUNNEL_GAP_US // 86_400_000_000} days of the previous): "
        "k-1 user-keyed semi-join+min passes, per-stage state "
        "O(users), event scan pruned to funnel types",
    tags=("agg", "window", "temporal", "north-star"),
))
