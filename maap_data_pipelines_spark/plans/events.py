"""Event-stream analytics (batch plans; streaming twins live in
``maap_data_pipelines_spark.streaming``).

The reference pipeline is event-driven (SQS/Step Functions fan-out,
``deploy/cdk/queue_stack.py``); here the event log itself is a first-class
table and these plans are the batch-parity versions of the streaming
rollups a catalog-ingest monitor needs.

Determinism contract: timestamps cross the oracle boundary as exact
epoch-microsecond BIGINTs (``unix_micros`` / DuckDB ``epoch_us``) — both
engines agree bit-for-bit and no Arrow timestamp-timezone metadata can
perturb the driver's type-sensitive value hash. Money columns use exact
integer cents (see plans/tpch.py rationale); every oracle SUM is cast to
BIGINT because DuckDB's SUM(BIGINT) returns HUGEINT (int128) while Spark
returns int64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.catalog import read_table

SESSION_GAP_MIN = 30
SESSION_GAP_US = SESSION_GAP_MIN * 60 * 1_000_000
_HOUR_US = 3600 * 1_000_000
_DAY_US = 24 * _HOUR_US


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with an exact epoch-microsecond ``ts_us`` column.

    Robust to either physical layout the driver has shipped:

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so
      ``nanosAsLong`` reads the raw int64 nanos (lossless); DuckDB's parquet
      reader *truncates* ns -> us, so we floor-divide by 1000 to agree
      bit-for-bit (all epochs positive => `div` is truncation on both).
    - TIMESTAMP(MICROS) (naive): Spark reads TIMESTAMP_NTZ; with the session
      timezone pinned to UTC (session.py) the NTZ -> TIMESTAMP cast is the
      identity on the stored micros and ``unix_micros`` recovers the exact
      int64, matching DuckDB ``epoch_us(ts)``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = read_table(spark, sf_dir, "events")
    if dict(ev.dtypes)["ts"] in ("bigint", "long"):
        ts_us = F.expr("ts div 1000")
    else:
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return ev.withColumn("ts_us", ts_us)


def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type: count + exact value sum.

    Single scan, partial-agg groupBy — map-side combine keeps the shuffle
    at (n_hours x n_types) rows regardless of input size.
    """
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy(
            (F.col("ts_us") - F.col("ts_us") % _HOUR_US).alias("hour_us"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


HOURLY_SQL = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running sum.

    Scale note: the window is partitioned by user_id — sessionization
    shuffles once on the natural key and never materializes cross-user
    state; this is the standard distributed formulation (no driver loops).
    The subsequent groupBys reuse the user_id partitioning (no re-shuffle).
    """
    return (
        _session_flags(read_events(spark, sf_dir))
        .groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_us").alias("session_start_us"),
            F.max("ts_us").alias("session_end_us"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.sum(F.col("session_end_us") - F.col("session_start_us")).alias(
                "total_session_us"
            ),
        )
    )


def _session_flags(ev: DataFrame) -> DataFrame:
    """``ev`` with its 1-based per-user ``session_seq``: a new session
    starts after more than SESSION_GAP_US of inactivity (lag + running
    sum over one window partitioned by user_id)."""
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ev.withColumn(
        "new_session",
        F.when(
            F.col("ts_us") - F.lag(F.col("ts_us"), 1).over(w) > SESSION_GAP_US, 1
        ).otherwise(0),
    ).withColumn("session_seq", F.sum("new_session").over(w) + 1)


# The oracles' (user_id, ts_us, session_seq) ``numbered`` CTE over events.
_SESSION_NUMBERED_SQL = f"""flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                   > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts_us,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) + 1 AS session_seq
  FROM flagged
)"""

SESSIONIZE_SQL = f"""
WITH {_SESSION_NUMBERED_SQL}, sessions AS (
  SELECT user_id, session_seq, COUNT(*) AS n_events,
         MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us
  FROM numbered GROUP BY user_id, session_seq
)
SELECT user_id, COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(session_end_us - session_start_us) AS BIGINT) AS total_session_us
FROM sessions GROUP BY user_id
"""


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON prop 'k' histogram per event type."""
    ev = read_events(spark, sf_dir)
    return (
        ev.withColumn("k", F.get_json_object(F.col("props"), "$.k").cast("int"))
        .groupBy("event_type", (F.col("k") % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("k_sum"))
    )


JSON_PROPS_SQL = """
SELECT event_type,
       CAST(json_extract(props, '$.k') AS INT) % 10 AS k_bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS k_sum
FROM events
GROUP BY 1, 2
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase per user — ONE pass.

    Stage timestamps are strictly increasing. Computed with stacked
    unordered conditional window-mins over the same user_id partition
    (t_view feeds the t_click predicate, t_click feeds t_purchase), then a
    groupBy on the already-partitioned key — exactly ONE shuffle and ONE
    scan of events, vs. the naive 3-scan/2-join formulation that
    dominates at 100 TB.
    """
    ev = read_events(spark, sf_dir).select("user_id", "event_type", "ts_us")
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts_us") > F.col("t_view")),
                    F.col("ts_us"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts_us") > F.col("t_click")),
                    F.col("ts_us"),
                )
            ).over(w),
        )
    )
    return (
        staged.groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.first("t_click").alias("t_click"),
            F.first("t_purchase").alias("t_purchase"),
        )
        .filter(F.col("t_purchase").isNotNull())
    )


FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view
  FROM events GROUP BY user_id
), c AS (
  SELECT v.user_id, v.t_view, MIN(epoch_us(e.ts)) AS t_click
  FROM v JOIN events e ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
  GROUP BY v.user_id, v.t_view
)
SELECT c.user_id, c.t_view, c.t_click, MIN(epoch_us(e.ts)) AS t_purchase
FROM c JOIN events e ON e.user_id = c.user_id
WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
GROUP BY c.user_id, c.t_view, c.t_click
"""


WF_WINDOW_US = 2 * 3_600 * 1_000_000  # windowed-funnel horizon: 2 h


def events_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel (windowFunnel semantics): view -> click ->
    purchase, the WHOLE sequence within WF_WINDOW_US of the anchor view.

    The conversion-rate number product analytics actually reports — the
    unbounded funnel (events_funnel) counts conversions that took weeks.
    Anchor = each user's FIRST view (the standard greedy anchor; a later
    view could in principle open a window an earlier one missed — the
    greedy choice is deterministic and documented, matching ClickHouse's
    windowFunnel). Same one-shuffle stacked-conditional-window shape as
    events_funnel, with the horizon folded into each stage predicate.

    Output: one row — stage reach counts + exact conversion rates.
    """
    ev = read_events(spark, sf_dir).select("user_id", "event_type", "ts_us")
    w = Window.partitionBy("user_id")
    horizon = F.col("t_view") + F.lit(WF_WINDOW_US)
    staged = (
        ev.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts_us") > F.col("t_view"))
                    & (F.col("ts_us") <= horizon),
                    F.col("ts_us"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts_us") > F.col("t_click"))
                    & (F.col("ts_us") <= horizon),
                    F.col("ts_us"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.first("t_view").alias("t_view"),
        F.first("t_click").alias("t_click"),
        F.first("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.sum(F.col("t_view").isNotNull().cast("long")).alias("n_view"),
        F.sum(F.col("t_click").isNotNull().cast("long")).alias("n_click"),
        F.sum(F.col("t_purchase").isNotNull().cast("long")).alias("n_purchase"),
    ).select(
        "n_view",
        "n_click",
        "n_purchase",
        F.round(F.col("n_click") / F.col("n_view"), 6).alias("view_to_click"),
        F.round(F.col("n_purchase") / F.col("n_view"), 6).alias("view_to_purchase"),
    )


WINDOWED_FUNNEL_SQL = f"""
WITH v AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view
  FROM events GROUP BY user_id
),
c AS (
  SELECT v.user_id, v.t_view, MIN(epoch_us(e.ts)) AS t_click
  FROM v LEFT JOIN events e
    ON e.user_id = v.user_id AND e.event_type = 'click'
   AND epoch_us(e.ts) > v.t_view
   AND epoch_us(e.ts) <= v.t_view + {WF_WINDOW_US}
  GROUP BY v.user_id, v.t_view
),
p AS (
  SELECT c.user_id, c.t_view, c.t_click, MIN(epoch_us(e.ts)) AS t_purchase
  FROM c LEFT JOIN events e
    ON e.user_id = c.user_id AND e.event_type = 'purchase'
   AND epoch_us(e.ts) > c.t_click
   AND epoch_us(e.ts) <= c.t_view + {WF_WINDOW_US}
  GROUP BY c.user_id, c.t_view, c.t_click
)
SELECT CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       ROUND(CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT), 6)
         AS view_to_click,
       ROUND(CAST(SUM(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT), 6)
         AS view_to_purchase
FROM p
"""



SKEW_TOPK = 20


def events_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-health report for the user_id key: hot keys + their share.

    The diagnostic you run BEFORE choosing a skew strategy (salting /
    AQE skew-join / replicated join): per-key cardinalities, each hot
    key's share of total rows in exact micro-units, and the cumulative
    share of the top-20 — if the top keys own a material fraction of the
    rows, a plain shuffle on this key will straggle and the salted
    variants (events_salted_rollup, operators/skew.py) are the remedy.
    Bounded deterministic output: top-SKEW_TOPK by (count desc, key).

    Scale shape: one map-side-combined count per key, a 1-row totals
    broadcast, and a TakeOrderedAndProject top-k — the report itself
    never shuffles more than the key cardinality.
    """
    ev = read_events(spark, sf_dir)
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    totals = counts.agg(
        F.sum("n_events").alias("total_events"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    # top-k FIRST via TakeOrderedAndProject (partial top-k per map task,
    # no global sort); the rank/cumulative windows then run over the
    # SKEW_TOPK-row frame only — a corpus-wide global running-sum window
    # would serialize every key through one partition. cum at rank r only
    # ever involves rows of rank <= r, so restricting to the top-k first
    # changes nothing.
    top = counts.orderBy(F.desc("n_events"), "user_id").limit(SKEW_TOPK)
    w = Window.orderBy(F.desc("n_events"), "user_id")
    return (
        top.crossJoin(F.broadcast(totals))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .select(
            "user_id",
            "n_events",
            "n_keys",
            F.expr("n_events * 1000000 div total_events").alias("share_micro"),
            F.expr(
                "sum(n_events) over (order by n_events desc, user_id"
                " rows between unbounded preceding and current row)"
                " * 1000000 div total_events"
            ).alias("cum_share_micro"),
            "rnk",
        )
    )


KEY_SKEW_REPORT_SQL = f"""
WITH counts AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
),
totals AS (
  SELECT CAST(SUM(n_events) AS BIGINT) AS total_events,
         COUNT(*) AS n_keys
  FROM counts
),
ranked AS (
  SELECT c.user_id, c.n_events, t.n_keys, t.total_events,
         row_number() OVER (ORDER BY c.n_events DESC, c.user_id) AS rnk,
         CAST(SUM(c.n_events) OVER (ORDER BY c.n_events DESC, c.user_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_events
  FROM counts c CROSS JOIN totals t
)
SELECT user_id, n_events, n_keys,
       n_events * 1000000 // total_events AS share_micro,
       cum_events * 1000000 // total_events AS cum_share_micro,
       rnk
FROM ranked
WHERE rnk <= {SKEW_TOPK}
"""



BURST_BASELINE_H = 24  # trailing baseline horizon (hours)
BURST_RATIO_MICRO = 3_000_000  # flag hours >= 3x their trailing-24h mean


def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours where an event type bursts >= 3x its trailing-24h mean rate.

    The streaming-adjacent anomaly monitor events_hourly_anomaly (global
    z-scores) cannot express: burstiness is LOCAL — an hour is anomalous
    relative to what that type was doing YESTERDAY, not relative to the
    all-time distribution. ratio = cnt * 24 * 1e6 div trailing_sum in
    exact micro-units (trailing mean = trailing_sum/24 folded into the
    numerator — no division until the single integer div); hours whose
    trailing window is empty are excluded (no baseline, no verdict —
    deterministic on both engines).

    Scale shape: one map-side-combined (type, hour) count, then ONE
    RANGE-frame window per type ordered by integer hour index — state
    per partition is the 24-row frame, and partitions are event types,
    so no corpus-sized window anywhere. Output: burst rows only.
    """
    ev = read_events(spark, sf_dir)
    counts = (
        ev.select("event_type", F.expr(f"ts_us div {_HOUR_US}").alias("hour_idx"))
        .groupBy("event_type", "hour_idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_idx")
        .rangeBetween(-BURST_BASELINE_H, -1)
    )
    flagged = (
        counts.withColumn("trailing_cnt", F.sum("cnt").over(w))
        .filter(F.col("trailing_cnt").isNotNull() & (F.col("trailing_cnt") > 0))
        .withColumn(
            "ratio_micro",
            F.expr(f"cnt * {BURST_BASELINE_H} * 1000000 div trailing_cnt"),
        )
        .filter(F.col("ratio_micro") >= BURST_RATIO_MICRO)
    )
    return flagged.select(
        "event_type", "hour_idx", "cnt", "trailing_cnt", "ratio_micro"
    )


BURST_DETECTION_SQL = f"""
WITH counts AS (
  SELECT event_type, epoch_us(ts) // {_HOUR_US} AS hour_idx, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
trail AS (
  SELECT event_type, hour_idx, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY hour_idx
              RANGE BETWEEN {BURST_BASELINE_H} PRECEDING AND 1 PRECEDING)
           AS BIGINT) AS trailing_cnt
  FROM counts
)
SELECT event_type, hour_idx, cnt, trailing_cnt,
       cnt * {BURST_BASELINE_H} * 1000000 // trailing_cnt AS ratio_micro
FROM trail
WHERE trailing_cnt IS NOT NULL AND trailing_cnt > 0
  AND cnt * {BURST_BASELINE_H} * 1000000 // trailing_cnt >= {BURST_RATIO_MICRO}
"""



def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase attributed to the last prior click.

    Spark has no native ASOF JOIN; the scalable formulation is a single
    user-partitioned ordered window carrying the last-seen click
    timestamp forward (ignoreNulls last_value over UNBOUNDED PRECEDING ..
    1 PRECEDING) — one shuffle, one scan, no range cross join. Ties on
    ts_us are broken by event_id in BOTH engines (a raw ASOF JOIN's
    strict `<` would diverge on equal timestamps).
    """
    ev = read_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts_us")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_click_us", last_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts_us").alias("purchase_us"),
            "last_click_us",
            (F.col("ts_us") - F.col("last_click_us")).alias("latency_us"),
        )
    )


ASOF_SQL = """
WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
attributed AS (
  SELECT user_id, event_id, event_type, ts_us,
         last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
  FROM ev
)
SELECT user_id, event_id AS purchase_event_id, ts_us AS purchase_us,
       last_click_us, ts_us - last_click_us AS latency_us
FROM attributed
WHERE event_type = 'purchase'
"""


def events_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup (day x event_type hierarchy) in one pass.

    GROUP BY ROLLUP computes (day, type), (day), () aggregates in a
    single shuffle with partial aggregation — the hypertable-style
    continuous-aggregate shape; grouping_id disambiguates grain.
    """
    ev = read_events(spark, sf_dir)
    day = (F.col("ts_us") - F.col("ts_us") % (86400 * 1_000_000)).alias("day_us")
    return (
        ev.rollup(day, F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
            F.grouping_id().alias("grain"),
        )
    )


MULTIGRAIN_SQL = """
SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       CAST(GROUPING(epoch_us(ts) - epoch_us(ts) % 86400000000, event_type) AS BIGINT) AS grain
FROM events
GROUP BY ROLLUP(day_us, event_type)
"""


def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of value_cents per event type.

    Exact linear-interpolation percentiles over integer cents — both
    engines implement the same lo + (hi-lo)*frac definition, so doubles
    match (rounded to 6 dp defensively). At 100 TB swap in
    approx_percentile (t-digest) and drop the oracle to rows-only.
    """
    ev = read_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile(cents, F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile(cents, F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile(cents, F.lit(0.99)), 6).alias("p99"),
    )


QUANTILES_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       ROUND(quantile_cont(CAST(ROUND(value * 100) AS BIGINT), 0.5), 6) AS p50,
       ROUND(quantile_cont(CAST(ROUND(value * 100) AS BIGINT), 0.9), 6) AS p90,
       ROUND(quantile_cont(CAST(ROUND(value * 100) AS BIGINT), 0.99), 6) AS p99
FROM events
GROUP BY event_type
"""


RANGE_WINDOW_US = 5 * 60 * 1_000_000  # ±5 minutes


def events_purchase_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: events within ±5 min of each purchase (same user).

    A naive range join (``ON a.user=b.user AND abs(a.ts-b.ts)<=W``) has no
    equi-condition on time, so engines fall back to a per-user nested
    loop — quadratic in events-per-user. The scale-safe formulation
    BANDS time into W-sized buckets and turns the range predicate into an
    equi-join: each purchase probes exactly 3 bucket keys (its own and
    both neighbors, exploded on the build side), then the exact |dt| <= W
    filter runs on the bounded candidate set. Join key (user_id, bucket)
    — fan-out is events-per-user-per-10min, never events-per-user².
    """
    ev = read_events(spark, sf_dir)
    # integer div, not float: a float quotient could round across a bucket
    # boundary and break the 3-bucket completeness guarantee
    bucket = F.expr(f"ts_us div {RANGE_WINDOW_US}")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.col("ts_us").alias("purchase_us"),
        F.explode(
            F.array(bucket - 1, bucket, bucket + 1)
        ).alias("bucket"),
    )
    others = ev.select(
        "user_id",
        F.col("event_id").alias("ctx_event_id"),
        F.col("ts_us").alias("ctx_us"),
        bucket.alias("bucket"),
    )
    return (
        purchases.join(others, ["user_id", "bucket"])
        .filter(
            (F.abs(F.col("ctx_us") - F.col("purchase_us")) <= RANGE_WINDOW_US)
            & (F.col("ctx_event_id") != F.col("purchase_event_id"))
        )
        .groupBy("user_id", "purchase_event_id", "purchase_us")
        .agg(F.count(F.lit(1)).alias("n_context_events"))
    )


PURCHASE_CONTEXT_SQL = f"""
WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events)
SELECT p.user_id, p.event_id AS purchase_event_id, p.ts_us AS purchase_us,
       COUNT(*) AS n_context_events
FROM ev p JOIN ev c
  ON p.user_id = c.user_id
 AND abs(c.ts_us - p.ts_us) <= {RANGE_WINDOW_US}
 AND c.event_id <> p.event_id
WHERE p.event_type = 'purchase'
GROUP BY 1, 2, 3
"""


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily activity matrix: event types pivoted to columns.

    ``pivot`` with the EXPLICIT value list — omitting it costs an extra
    distinct-scan job to discover the types, and an unbounded type set
    would make the schema data-dependent (a 100 TB anti-pattern). With
    fixed values the plan is a single hash-agg over (user, day), map-side
    combined, identical in shape to a conditional-sum rollup.
    """
    ev = read_events(spark, sf_dir)
    day_us = (F.col("ts_us") - F.col("ts_us") % _DAY_US).alias("day_us")
    piv = (
        ev.groupBy(F.col("user_id"), day_us)
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    zeroed = [
        F.coalesce(F.col(t).cast("long"), F.lit(0).cast("long")).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    return piv.select("user_id", "day_us", *zeroed)


_PIVOT_COLS = ",\n       ".join(
    f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}"
    for t in EVENT_TYPES
)

PIVOT_SQL = f"""
SELECT user_id,
       (epoch_us(ts) - epoch_us(ts) % {_DAY_US}) AS day_us,
       {_PIVOT_COLS}
FROM events
GROUP BY 1, 2
"""


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day): all four grouping sets in one pass.

    Complements `events_rollup_multigrain` (ROLLUP = the hierarchy
    prefixes) with the full lattice; grouping_id disambiguates subtotal
    rows from genuine NULL keys. One Expand + one shuffle.
    """
    ev = read_events(spark, sf_dir)
    day_us = (F.col("ts_us") - F.col("ts_us") % _DAY_US).alias("day_us")
    return (
        ev.select("event_type", day_us, "value")
        .cube("event_type", "day_us")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


CUBE_SQL = f"""
SELECT event_type,
       (epoch_us(ts) - epoch_us(ts) % {_DAY_US}) AS day_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       CAST(GROUPING(event_type) * 2 + GROUPING(day_us) AS BIGINT) AS gid
FROM events
GROUP BY CUBE (event_type, day_us)
"""


def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-concurrency profile: active sessions & users per hour.

    The interval-coverage aggregation (capacity planning's core query):
    each 30-min-gap session span [start, end] is exploded onto the hour
    buckets it covers, then one hash-agg counts active sessions and
    distinct users per hour. The explode fan-out is bounded by session
    duration / 1h (sessions are gap-bounded, so small constant) — this is
    the interval-join-free formulation; a range join against an hour
    spine would shuffle the spine times sessions instead.
    """
    flagged = _session_flags(read_events(spark, sf_dir))
    sessions = flagged.groupBy("user_id", "session_seq").agg(
        F.min("ts_us").alias("s_us"), F.max("ts_us").alias("e_us")
    )
    hour = F.explode(
        F.sequence(
            F.col("s_us") - F.col("s_us") % _HOUR_US,
            F.col("e_us") - F.col("e_us") % _HOUR_US,
            F.lit(_HOUR_US).cast("long"),
        )
    )
    return (
        sessions.select("user_id", hour.alias("hour_us"))
        .groupBy("hour_us")
        .agg(
            F.count(F.lit(1)).alias("n_active_sessions"),
            F.countDistinct("user_id").alias("n_active_users"),
        )
    )


CONCURRENCY_SQL = f"""
WITH {_SESSION_NUMBERED_SQL},
spans AS (
  SELECT user_id, session_seq, MIN(ts_us) AS s_us, MAX(ts_us) AS e_us
  FROM numbered GROUP BY 1, 2
)
SELECT hour_us,
       COUNT(*) AS n_active_sessions,
       COUNT(DISTINCT user_id) AS n_active_users
FROM spans,
     UNNEST(generate_series(s_us - s_us % {_HOUR_US},
                            e_us - e_us % {_HOUR_US},
                            {_HOUR_US})) AS t(hour_us)
GROUP BY 1
"""


def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day.

    Exact distinct counts over a SLIDING window without unbounded state:
    each (user, day) pair contributes to the 7 target days it is inside,
    via a bounded x7 explode, then one hash-agg per target day — the
    explode-to-equi-key trick again (a window-frame countDistinct over
    days would put each user's whole history in one frame; a range join
    against a day spine would shuffle spine x activity). Only days that
    actually have activity are reported (inner join with the DAU side).
    Stickiness = DAU/WAU, single division over exact counts.
    """
    ev = read_events(spark, sf_dir)
    daily = ev.select(
        F.floor(F.col("ts_us") / _DAY_US).cast("long").alias("day"), "user_id"
    ).distinct()
    dau = daily.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        daily.select(
            F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day"),
            "user_id",
        )
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


DAU_WAU_SQL = f"""
WITH daily AS (
  SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS day, user_id FROM events
),
dau AS (SELECT day, COUNT(*) AS dau FROM daily GROUP BY 1),
wau AS (
  SELECT t.day, COUNT(DISTINCT d.user_id) AS wau
  FROM daily d, UNNEST(range(d.day, d.day + 7)) AS t(day)
  GROUP BY 1
)
SELECT day, dau, wau, ROUND(dau / wau, 6) AS stickiness
FROM dau JOIN wau USING (day)
"""


def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-count anomalies per type: exact z-scores, |z| > 2 flag.

    The monitoring query a pipeline runs over its own ingest: hourly
    counts per type scored against that type's own distribution. The
    z-score algebra stays in int64 until one final division —
    z = (c·n − Σc) / sqrt(n·Σc² − (Σc)²) — so both engines compute the
    identical double (integer-valued doubles + correctly-rounded sqrt),
    no float accumulation order anywhere. σ = 0 (constant counts) maps
    to z = 0 by convention.

    Scale shape: two stacked aggs (hour × type, then type) with map-side
    combine; the per-type stats table is tiny and broadcast back onto
    the hourly rows.
    """
    ev = read_events(spark, sf_dir)
    hourly = ev.groupBy(
        (F.col("ts_us") - F.col("ts_us") % _HOUR_US).alias("hour_us"),
        F.col("event_type"),
    ).agg(F.count(F.lit(1)).alias("c"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    var_term = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    num = F.col("c") * F.col("n") - F.col("s1")
    z = F.when(var_term > 0, F.round(num / F.sqrt(var_term), 6)).otherwise(
        F.lit(0.0)
    )
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .select(
            "hour_us",
            "event_type",
            F.col("c").alias("n_events"),
            z.alias("zscore"),
        )
        .withColumn("is_anomaly", F.abs(F.col("zscore")) > 2.0)
    )


ANOMALY_SQL = """
WITH hourly AS (
  SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(c * c) AS BIGINT) AS s2
  FROM hourly GROUP BY 1
)
SELECT hour_us, event_type, c AS n_events,
       CASE WHEN n * s2 - s1 * s1 > 0
            THEN ROUND((c * n - s1) / sqrt(n * s2 - s1 * s1), 6)
            ELSE 0.0 END AS zscore,
       ABS(CASE WHEN n * s2 - s1 * s1 > 0
                THEN ROUND((c * n - s1) / sqrt(n * s2 - s1 * s1), 6)
                ELSE 0.0 END) > 2.0 AS is_anomaly
FROM hourly JOIN stats USING (event_type)
"""


def events_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention triangle: cohort day x day offset -> users.

    The product-analytics classic: users are cohorted by first active day;
    each later active day counts toward (cohort_day, offset). Shape:
    distinct (user, day) first — the one row-bounded shuffle, map-side
    combined — then per-user min (cohort), then the triangle agg whose
    key space is days^2/2, independent of user count. Cohort sizes come
    from the per-user firsts (every user is active at offset 0 by
    construction), broadcast back onto the triangle.
    """
    ev = read_events(spark, sf_dir)
    days = ev.select(
        "user_id", F.expr(f"ts_us div {_DAY_US}").alias("day")
    ).distinct()
    first = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sizes = first.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    tri = (
        days.join(first, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
    return tri.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day",
        "day_offset",
        "n_users",
        "cohort_size",
        F.round(F.col("n_users") / F.col("cohort_size"), 6).alias("retention"),
    )


RETENTION_TRIANGLE_SQL = f"""
WITH days AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day FROM events
),
first AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY 1),
sizes AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM first GROUP BY 1),
tri AS (
  SELECT cohort_day, day - cohort_day AS day_offset,
         COUNT(DISTINCT user_id) AS n_users
  FROM days JOIN first USING (user_id) GROUP BY 1, 2
)
SELECT cohort_day, day_offset, n_users,
       CAST(cohort_size AS BIGINT) AS cohort_size,
       ROUND(n_users / cohort_size, 6) AS retention
FROM tri JOIN sizes USING (cohort_day)
"""


_QSKETCH_ACCURACY = 10_000


def events_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (GK sketch) vs exact percentiles — accuracy GATE.

    Exact percentiles sort each group; the Greenwald-Khanna sketch keeps
    bounded state (accuracy parameter = 1/eps memory) and merges map-side,
    so it is the percentile that survives 100 TB. Both run on one scan.

    FULL oracle via the rank-band verdict: GK's guarantee is on RANK, not
    value (a value-relative bound is meaningless on sparse tails, where
    the interpolated exact p99 and the sketch's picked element legally
    differ by 25% at tiny n). Each ``pXX_in_band`` asserts the sketch's
    pick lies within the exact [p-0.01, p+0.01] rank band — 100x the
    eps=1/accuracy=1e-4 guarantee, so the booleans are invariantly TRUE
    and the DuckDB oracle emits literal TRUE. The value hash thereby
    ENFORCES the sketch's accuracy contract every driver run: if a Spark
    upgrade or a data shape ever pushed GK outside the band, the oracle
    comparison itself would fail. (The sketch's raw picks stay out of the
    output because only the verdict is engine-independent.)
    """
    ev = read_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    pcts = F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    band = F.array(  # exact values at p∓0.01 rank — the GK containment band
        F.lit(0.49), F.lit(0.51), F.lit(0.89), F.lit(0.91), F.lit(0.98), F.lit(1.0)
    )
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.percentile(cents, pcts).alias("exact"),
        F.percentile(cents, band).alias("band"),
        F.percentile_approx(cents, pcts, F.lit(_QSKETCH_ACCURACY)).alias("approx"),
    )
    def _in_band(i: int):
        a = F.col("approx")[i].cast("double")
        return (F.col("band")[2 * i] <= a) & (a <= F.col("band")[2 * i + 1])
    return agg.select(
        "event_type",
        "n_events",
        F.round(F.col("exact")[0], 6).alias("exact_p50"),
        F.round(F.col("exact")[1], 6).alias("exact_p90"),
        F.round(F.col("exact")[2], 6).alias("exact_p99"),
        _in_band(0).alias("p50_in_band"),
        _in_band(1).alias("p90_in_band"),
        _in_band(2).alias("p99_in_band"),
    )


QSKETCH_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(quantile_cont(CAST(ROUND(value * 100) AS BIGINT), 0.5), 6) AS exact_p50,
       ROUND(quantile_cont(CAST(ROUND(value * 100) AS BIGINT), 0.9), 6) AS exact_p90,
       ROUND(quantile_cont(CAST(ROUND(value * 100) AS BIGINT), 0.99), 6) AS exact_p99,
       TRUE AS p50_in_band,
       TRUE AS p90_in_band,
       TRUE AS p99_in_band
FROM events
GROUP BY event_type
"""


def events_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct-user sketch vs exact count — accuracy GATE.

    ``countDistinct`` shuffles every distinct (group, user) pair; at 100 TB
    that IS the job. ``approx_count_distinct`` (HyperLogLog++) keeps a
    constant ~1.5 KB sketch per group at rsd=2%, mergeable map-side, so the
    shuffle carries one sketch per group per partition regardless of row
    count — the only viable distinct-count at scale.

    FULL oracle via the tolerance verdict: ``sketch_within_5pct`` asserts
    the HLL++ estimate is within 5% of the exact count (2.5 sigma at
    rsd=2%; small cardinalities are sparse-mode EXACT, so the margin is
    far wider in practice — measured 0 ppm at both test SFs). The DuckDB
    oracle emits literal TRUE, so every driver run value-hash-ENFORCES
    the sketch's accuracy bound rather than merely reporting it.
    """
    ev = read_events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
    )
    within = (
        F.abs(F.col("approx_users") - F.col("exact_users")) * 20
        <= F.col("exact_users")
    )
    return agg.select(
        "event_type", "n_events", "exact_users",
        within.alias("sketch_within_5pct"),
    )


DSKETCH_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS sketch_within_5pct
FROM events
GROUP BY event_type
"""




def events_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch user-frequency estimates vs exact counts.

    See :func:`maap_data_pipelines_spark.operators.sketch.cms_frequency`
    — the mergeable fixed-size frequency sketch (4x1024 cells at any
    corpus size), with md5-slice hashes so the whole report carries a
    full value-hash oracle.
    """
    from ..operators.sketch import cms_frequency

    return cms_frequency(read_events(spark, sf_dir), "user_id")


def _cms_sql() -> str:
    from ..operators.sketch import cms_frequency_sql

    return cms_frequency_sql("events", "user_id")


CMS_TOPK_SQL = _cms_sql()


HOLT_DEN = 4  # alpha = beta = 1/4, kept rational


def events_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoothing of daily counts + next-day forecast.

    The forecasting rung above orders_revenue_ewma's single smoother:
    TWO coupled sequential recurrences (level and trend), which no
    window frame can express — each output depends on both previous
    OUTPUTS. Both run inside one ``aggregate`` fold per type over the
    sort_array-assembled day series (bounded by days-per-type, never by
    event count):

        l_t = floor((x_t + 3*(l_{t-1} + b_{t-1})) / 4)
        b_t = floor(((l_t - l_{t-1}) + 3*b_{t-1}) / 4)

    floor(x/4.0) (not ``div``) because the trend goes NEGATIVE on
    declining series and truncation vs floor differ below zero — the
    documented cross-engine hazard. The oracle is a recursive CTE
    stepping identical rules. Output rides the fitted series with the
    one-step-ahead forecast (level + trend) per row; the last row's
    forecast_next IS tomorrow's prediction.
    """
    ev = read_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type",
        (F.col("ts_us") - F.col("ts_us") % _DAY_US).alias("day_us"),
    ).agg(F.count(F.lit(1)).alias("n"))
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day_us", "n"))).alias("ds")
    )
    prev_lt = "(element_at(acc, -1).level + element_at(acc, -1).trend)"
    new_level = (
        f"CAST(FLOOR((d.n + 3 * {prev_lt}) / 4.0D) AS BIGINT)"
    )
    fold = (
        "aggregate(ds,"
        " CAST(array() AS array<struct<day_us: bigint, n: bigint,"
        " level: bigint, trend: bigint>>),"
        " (acc, d) -> array_append(acc, named_struct("
        "   'day_us', d.day_us, 'n', d.n,"
        f"  'level', CASE WHEN size(acc) = 0 THEN d.n ELSE {new_level} END,"
        "   'trend', CASE WHEN size(acc) = 0 THEN CAST(0 AS BIGINT)"
        f"     ELSE CAST(FLOOR((({new_level} - element_at(acc, -1).level)"
        "            + 3 * element_at(acc, -1).trend) / 4.0D) AS BIGINT)"
        " END)))"
    )
    return (
        series.select("event_type", F.explode(F.expr(fold)).alias("r"))
        .select(
            "event_type",
            F.col("r.day_us").alias("day_us"),
            F.col("r.n").alias("n_events"),
            F.col("r.level").alias("level"),
            F.col("r.trend").alias("trend"),
            (F.col("r.level") + F.col("r.trend")).alias("forecast_next"),
        )
    )


FORECAST_HOLT_SQL = f"""
WITH RECURSIVE ev AS (
  SELECT event_type, epoch_us(ts) AS ts_us FROM events
),
daily AS (
  SELECT event_type,
         CAST(ts_us - ts_us % {_DAY_US} AS BIGINT) AS day_us,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2
),
seq AS (
  SELECT event_type, day_us, n,
         row_number() OVER (PARTITION BY event_type ORDER BY day_us) AS rn
  FROM daily
),
holt AS (
  SELECT event_type, day_us, n, rn, n AS level, CAST(0 AS BIGINT) AS trend
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.day_us, s.n, s.rn,
         CAST(FLOOR((s.n + 3 * (h.level + h.trend)) / 4.0) AS BIGINT) AS level,
         CAST(FLOOR(((CAST(FLOOR((s.n + 3 * (h.level + h.trend)) / 4.0) AS BIGINT)
                      - h.level) + 3 * h.trend) / 4.0) AS BIGINT) AS trend
  FROM holt h JOIN seq s
    ON s.event_type = h.event_type AND s.rn = h.rn + 1
)
SELECT event_type, day_us, n AS n_events, level, trend,
       CAST(level + trend AS BIGINT) AS forecast_next
FROM holt
"""


HW_PERIOD = 7  # weekly seasonality over daily counts


def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive seasonal smoothing — the forecasting tier's
    top rung (ewma -> holt -> holt_winters -> backtest).

    THREE coupled sequential recurrences (level, trend, weekly seasonal)
    that no window frame can express; like events_forecast_holt they run
    inside one ``aggregate`` fold per type over the sort_array-assembled
    day series (state bounded by days-per-type):

        warmup t <= 7:  l_t = x_t, b_t = 0, s_t = 0
        t > 7:          l_t = floor((x_t - s_{t-7} + 3*(l+b)) / 4)
                        b_t = floor(((l_t - l_{t-1}) + 3*b) / 4)
                        s_t = floor(((x_t - l_t) + 3*s_{t-7}) / 4)

    floor(x/4.0) not div — trend/seasonal go negative (the documented
    truncation-vs-floor hazard). The seasonal lag reads element_at(acc,
    -7) inside the fold (CASE-guarded, the holt discipline); the oracle
    is a recursive CTE carrying the last-7 seasonals as a LIST. The
    one-step-ahead forecast adds the seasonal that applies to t+1
    (lag(seasonal, 6)) — a plain window over the fitted output, shared
    verbatim by both engines.
    """
    ev = read_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type",
        (F.col("ts_us") - F.col("ts_us") % _DAY_US).alias("day_us"),
    ).agg(F.count(F.lit(1)).alias("n"))
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day_us", "n"))).alias("ds")
    )
    prev_lt = "(element_at(acc, -1).level + element_at(acc, -1).trend)"
    s_lag = "element_at(acc, -7).seasonal"
    new_level = (
        f"CAST(FLOOR((d.n - {s_lag} + 3 * {prev_lt}) / 4.0D) AS BIGINT)"
    )
    new_trend = (
        f"CAST(FLOOR((({new_level} - element_at(acc, -1).level)"
        " + 3 * element_at(acc, -1).trend) / 4.0D) AS BIGINT)"
    )
    new_seas = (
        f"CAST(FLOOR(((d.n - {new_level}) + 3 * {s_lag}) / 4.0D) AS BIGINT)"
    )
    fold = (
        "aggregate(ds,"
        " CAST(array() AS array<struct<day_us: bigint, n: bigint,"
        " level: bigint, trend: bigint, seasonal: bigint>>),"
        " (acc, d) -> array_append(acc, named_struct("
        "   'day_us', d.day_us, 'n', d.n,"
        f"  'level', CASE WHEN size(acc) < {HW_PERIOD} THEN d.n"
        f"    ELSE {new_level} END,"
        f"  'trend', CASE WHEN size(acc) < {HW_PERIOD} THEN CAST(0 AS BIGINT)"
        f"    ELSE {new_trend} END,"
        f"  'seasonal', CASE WHEN size(acc) < {HW_PERIOD} THEN CAST(0 AS BIGINT)"
        f"    ELSE {new_seas} END)))"
    )
    from pyspark.sql.window import Window

    fitted = series.select(
        "event_type", F.explode(F.expr(fold)).alias("r")
    ).select(
        "event_type",
        F.col("r.day_us").alias("day_us"),
        F.col("r.n").alias("n_events"),
        F.col("r.level").alias("level"),
        F.col("r.trend").alias("trend"),
        F.col("r.seasonal").alias("seasonal"),
    )
    w = Window.partitionBy("event_type").orderBy("day_us")
    return fitted.withColumn(
        "forecast_next",
        (
            F.col("level")
            + F.col("trend")
            + F.lag("seasonal", HW_PERIOD - 1, 0).over(w)
        ).cast("long"),
    )


HOLT_WINTERS_SQL = f"""
WITH RECURSIVE ev AS (
  SELECT event_type, epoch_us(ts) AS ts_us FROM events
),
daily AS (
  SELECT event_type,
         CAST(ts_us - ts_us % {_DAY_US} AS BIGINT) AS day_us,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2
),
seq AS (
  SELECT event_type, day_us, n,
         row_number() OVER (PARTITION BY event_type ORDER BY day_us) AS rn
  FROM daily
),
hw AS (
  SELECT event_type, day_us, n, rn,
         n AS level, CAST(0 AS BIGINT) AS trend, CAST(0 AS BIGINT) AS seasonal,
         [CAST(0 AS BIGINT)] AS hist
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.day_us, s.n, s.rn,
         CASE WHEN s.rn <= {HW_PERIOD} THEN s.n
              ELSE CAST(FLOOR((s.n - h.hist[1] + 3 * (h.level + h.trend))
                   / 4.0) AS BIGINT) END AS level,
         CASE WHEN s.rn <= {HW_PERIOD} THEN CAST(0 AS BIGINT)
              ELSE CAST(FLOOR(((CAST(FLOOR((s.n - h.hist[1]
                     + 3 * (h.level + h.trend)) / 4.0) AS BIGINT) - h.level)
                   + 3 * h.trend) / 4.0) AS BIGINT) END AS trend,
         CASE WHEN s.rn <= {HW_PERIOD} THEN CAST(0 AS BIGINT)
              ELSE CAST(FLOOR(((s.n - CAST(FLOOR((s.n - h.hist[1]
                     + 3 * (h.level + h.trend)) / 4.0) AS BIGINT))
                   + 3 * h.hist[1]) / 4.0) AS BIGINT) END AS seasonal,
         (CASE WHEN len(h.hist) = {HW_PERIOD} THEN h.hist[2:] ELSE h.hist END)
           || [CASE WHEN s.rn <= {HW_PERIOD} THEN CAST(0 AS BIGINT)
               ELSE CAST(FLOOR(((s.n - CAST(FLOOR((s.n - h.hist[1]
                      + 3 * (h.level + h.trend)) / 4.0) AS BIGINT))
                    + 3 * h.hist[1]) / 4.0) AS BIGINT) END] AS hist
  FROM hw h JOIN seq s
    ON s.event_type = h.event_type AND s.rn = h.rn + 1
)
SELECT event_type, day_us, n AS n_events, level, trend, seasonal,
       CAST(level + trend
            + COALESCE(lag(seasonal, {HW_PERIOD - 1})
              OVER (PARTITION BY event_type ORDER BY day_us), 0) AS BIGINT)
         AS forecast_next
FROM hw
"""


def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type over hourly counts.

    The global-drift complement to events_burst_detection's local ratio
    and events_hourly_anomaly's pointwise z-score: the cumulative sum of
    deviations from the type's own mean peaks exactly where the series'
    mean SHIFTS (Page's CUSUM). Deviations stay exact by scaling through
    the hour count — cusum_h = sum_{{i<=h}} (n*c_i - total) — so the
    argmax hour and the peak are int64, with (|peak| desc, hour asc)
    deterministic tie-breaks. One hourly rollup (map-side combined) +
    one per-type cumulative window (partitioned by type, frame bounded
    by hours-per-type) + a 1-row-per-type rank pick.
    """
    ev = read_events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type",
        (F.col("ts_us") - F.col("ts_us") % _HOUR_US).alias("hour_us"),
    ).agg(F.count(F.lit(1)).alias("c"))
    return cusum_detect(hourly)


def cusum_detect(hourly: DataFrame) -> DataFrame:
    """The CUSUM detector kernel over an (event_type, hour_us, c) frame.

    Factored out so the STREAMING twin (streaming/rollup.py
    streaming_cusum_state — hourly counts maintained additively across
    micro-batches) runs the IDENTICAL detector over its state table:
    stream==batch equality is then equality of inputs, not a
    re-implementation claim.
    """
    from pyspark.sql.window import Window

    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"), F.sum("c").alias("total")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cusum = (
        hourly.join(stats, "event_type")
        .withColumn(
            "cusum", F.sum(F.col("n_hours") * F.col("c") - F.col("total")).over(w)
        )
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("cusum"))), "hour_us"
    )
    return (
        cusum.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            "n_hours",
            F.col("total").alias("total_events"),
            F.col("hour_us").alias("change_hour_us"),
            F.col("cusum").alias("cusum_peak_scaled"),
            F.when(F.col("cusum") > 0, F.lit(1))
            .when(F.col("cusum") < 0, F.lit(-1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("direction"),
        )
    )


CHANGEPOINT_SQL = f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) AS ts_us FROM events
),
hourly AS (
  SELECT event_type,
         CAST(ts_us - ts_us % {3600 * 1_000_000} AS BIGINT) AS hour_us,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM ev GROUP BY 1, 2
),
stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(c) AS BIGINT) AS total
  FROM hourly GROUP BY 1
),
cusum AS (
  SELECT h.event_type, h.hour_us, s.n_hours, s.total,
         CAST(SUM(s.n_hours * h.c - s.total)
              OVER (PARTITION BY h.event_type ORDER BY h.hour_us) AS BIGINT) AS cusum
  FROM hourly h JOIN stats s USING (event_type)
)
SELECT event_type, n_hours, total AS total_events,
       hour_us AS change_hour_us, cusum AS cusum_peak_scaled,
       CAST(CASE WHEN cusum > 0 THEN 1 WHEN cusum < 0 THEN -1 ELSE 0 END AS BIGINT) AS direction
FROM cusum
QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY ABS(cusum) DESC, hour_us) = 1
"""


BOT_MIN_EVENTS = 20
BOT_CV_MICRO_MAX = 250_000  # flag: gap coefficient-of-variation < 0.25


def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timing-regularity bot signal: users whose inter-event gaps are
    suspiciously UNIFORM.

    Humans are bursty (gap CV near or above 1, the exponential-arrival
    signature); schedulers and replay scripts tick (CV near 0). Per
    user with >= BOT_MIN_EVENTS events: exact gap count, mean gap, and
    the coefficient of variation in integer micro-units via the
    all-integer variance algebra (n*sum(g^2) - (sum g)^2 under one
    sqrt — the z-score discipline; gaps are epoch-us int64s, no float
    accumulation anywhere). ``bot_flag`` = CV below 0.25. One
    user-partitioned lag pass + one aggregate; output bounded by user
    count, flag threshold is the tunable.
    """
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    # gaps in whole SECONDS: epoch-us gaps squared overflow int64
    # (a day is 8.6e10 us; squared is 7e21) — seconds keep n*sum(g^2)
    # inside int64 headroom at any realistic per-user history
    gaps = (
        ev.select(
            "user_id",
            F.expr("(ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)) div 1000000").alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("g").alias("sg"),
        F.sum(F.col("g") * F.col("g")).alias("sg2"),
    ).filter((F.col("n_gaps") >= BOT_MIN_EVENTS - 1) & (F.col("sg") > 0))
    # cv = sd/mean = sqrt(n*sg2 - sg^2) / sg  (exact ints under the sqrt)
    cv_micro = F.round(
        F.sqrt((F.col("n_gaps") * F.col("sg2") - F.col("sg") * F.col("sg")).cast("double"))
        / F.col("sg") * 1_000_000
    ).cast("long")
    return agg.select(
        "user_id",
        "n_gaps",
        F.expr("sg div n_gaps").alias("mean_gap_s"),
        cv_micro.alias("cv_micro"),
    ).withColumn("bot_flag", F.col("cv_micro") < BOT_CV_MICRO_MAX)


BOT_DETECTION_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
),
gaps AS (
  SELECT user_id,
         (ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)) // 1000000 AS g
  FROM ev
),
agg AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(g) AS BIGINT) AS sg, CAST(SUM(g * g) AS BIGINT) AS sg2
  FROM gaps WHERE g IS NOT NULL
  GROUP BY user_id
  HAVING COUNT(*) >= {BOT_MIN_EVENTS - 1} AND SUM(g) > 0
)
SELECT user_id, n_gaps,
       CAST(sg // n_gaps AS BIGINT) AS mean_gap_s,
       CAST(ROUND(sqrt(CAST(n_gaps * sg2 - sg * sg AS DOUBLE)) / sg * 1000000) AS BIGINT) AS cv_micro,
       CAST(ROUND(sqrt(CAST(n_gaps * sg2 - sg * sg AS DOUBLE)) / sg * 1000000) AS BIGINT) < {BOT_CV_MICRO_MAX} AS bot_flag
FROM agg
"""


def events_segment_lattice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audience-overlap lattice: users per event-type combination.

    "How many users did A and B but never C" is normally a chain of
    self-joins or a 2^k-term Venn of COUNT DISTINCTs; the one-pass shape
    is: collapse each user to a BITMASK of the event types they touched
    (conditional max per type — one hash-agg with map-side combine), then
    count users per exact mask. Output cardinality is <= 2^5 regardless
    of user count, and every set-algebra question (any-of, all-of,
    exactly) becomes integer mask arithmetic over 32 rows — the segment
    dashboard a 100 TB events store answers from one scan + one
    user-sized shuffle. Type->bit mapping is fixed alphabetical so masks
    are stable across runs and engines.
    """
    ev = read_events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    mask = sum(
        (
            F.max(F.when(F.col("event_type") == t, 1 << i).otherwise(0))
            for i, t in enumerate(types)
        ),
        start=F.lit(0),
    ).cast("long")
    per_user = ev.groupBy("user_id").agg(mask.alias("mask"))
    segs = per_user.groupBy("mask").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    labels = F.concat_ws(
        "+",
        *[
            F.when(
                F.shiftright(F.col("mask"), i).bitwiseAND(F.lit(1)) == 1, F.lit(t)
            )
            for i, t in enumerate(types)
        ],
    )
    return segs.select("mask", labels.alias("segment"), "n_users")


SEGMENT_LATTICE_SQL = """
WITH per_user AS (
  SELECT user_id,
         CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            + MAX(CASE WHEN event_type = 'error' THEN 2 ELSE 0 END)
            + MAX(CASE WHEN event_type = 'purchase' THEN 4 ELSE 0 END)
            + MAX(CASE WHEN event_type = 'signup' THEN 8 ELSE 0 END)
            + MAX(CASE WHEN event_type = 'view' THEN 16 ELSE 0 END) AS BIGINT) AS mask
  FROM events GROUP BY user_id
)
SELECT mask,
       concat_ws('+',
         CASE WHEN (mask >> 0) & 1 = 1 THEN 'click' END,
         CASE WHEN (mask >> 1) & 1 = 1 THEN 'error' END,
         CASE WHEN (mask >> 2) & 1 = 1 THEN 'purchase' END,
         CASE WHEN (mask >> 3) & 1 = 1 THEN 'signup' END,
         CASE WHEN (mask >> 4) & 1 = 1 THEN 'view' END) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM per_user
GROUP BY mask
"""


_SLIDE_US = 15 * 60 * 1_000_000  # 15-minute slide
_WIN_SLOTS = 4  # 1-hour window / 15-minute slide


def events_sliding_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 15 minutes: count + distinct users.

    The trending-metric window shape (each event belongs to exactly
    WIN_SLOTS = size/slide windows), expressed with integer µs
    arithmetic: explode k in [0, 4) and shift the event's 15-minute slot
    back k slides — epoch-aligned, identical to Structured Streaming's
    ``F.window(ts, "1 hour", "15 minutes")`` buckets, so the batch query
    and the streaming twin (streaming/rollup.py) agree on window keys.

    Scale shape: the x4 fan-out happens map-side and collapses into the
    partial agg before the shuffle, which carries only (windows x types)
    rows. The fan-out is the price of COUNT(DISTINCT user) — plain
    counts could instead merge 4 tumbling partials (partial-of-partials),
    but distincts don't merge; at 100 TB swap approx_count_distinct and
    the explode disappears.
    """
    ev = read_events(spark, sf_dir)
    k = F.explode(F.array(*[F.lit(i) for i in range(_WIN_SLOTS)])).alias("k")
    slotted = ev.select(F.expr(f"ts_us div {_SLIDE_US}").alias("slot"),
                        "event_type", "user_id", k)
    return (
        slotted.select(
            ((F.col("slot") - F.col("k")) * _SLIDE_US).alias("window_start_us"),
            "event_type",
            "user_id",
        )
        .groupBy("window_start_us", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


SLIDING_TREND_SQL = f"""
WITH e AS (SELECT epoch_us(ts) AS ts_us, event_type, user_id FROM events),
x AS (
  SELECT ((ts_us // {_SLIDE_US}) - k) * {_SLIDE_US} AS window_start_us,
         event_type, user_id
  FROM e, UNNEST(range(0, {_WIN_SLOTS})) AS t(k)
)
SELECT window_start_us, event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM x
GROUP BY 1, 2
"""


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix over user timelines.

    The sequence-mining primitive behind funnel discovery and next-action
    models: per user, lag the event stream by one (ordered by ts, then
    event_id for total determinism) and count (prev_type -> event_type)
    transitions; p_transition is the exact count ratio within each
    prev_type row-group. First events per user have no predecessor and
    are excluded (lag IS NULL).

    Scale shape: one shuffle on user_id for the lag window (partition =
    one user's events, bounded), then a hash-agg on the tiny (type x
    type) key space — map-side combine collapses it before the second
    shuffle; the per-prev totals ride a second pass over the aggregated
    matrix (type-cardinality rows, negligible).
    """
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type", 1).over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w_tot = Window.partitionBy("prev_type")
    return pairs.withColumn(
        "p_transition",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(w_tot), 6
        ),
    )


TRANSITION_MATRIX_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events
),
p AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS prev_type,
         event_type
  FROM e
),
m AS (
  SELECT prev_type, event_type, COUNT(*) AS n_transitions
  FROM p WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, event_type, n_transitions,
       ROUND(n_transitions / SUM(n_transitions) OVER (PARTITION BY prev_type), 6)
         AS p_transition
FROM m
"""


_LAT_PCTS = (50, 90, 99)


def events_attribution_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 click→purchase latency — composition query.

    Composes :func:`events_asof_attribution` (the as-of window) with the
    count-distribution exact-quantile technique (see
    ``orders_price_quantiles``): latencies bucket to whole seconds — the
    reporting grain — so the quantile pass aggregates over DISTINCT
    latency seconds (bounded), never sorts raw purchases. All-integer
    ``cum*100 >= pct*n`` selection, bit-exact on both engines.
    Unattributed purchases (no prior click) are excluded.
    """
    lat = (
        events_asof_attribution(spark, sf_dir)
        .filter(F.col("last_click_us").isNotNull())
        .select(F.expr("latency_us div 1000000").alias("lat_s"))
    )
    counts = lat.groupBy("lat_s").agg(F.count(F.lit(1)).alias("c"))
    w_cum = Window.orderBy("lat_s")
    w_all = Window.partitionBy()
    cum = counts.select(
        "lat_s",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    pct = F.explode(
        F.array(*[F.lit(p).cast("long") for p in _LAT_PCTS])
    ).alias("pct")
    return (
        cum.select("lat_s", "cum", "n", pct)
        .filter(F.col("cum") * 100 >= F.col("pct") * F.col("n"))
        .groupBy("pct")
        .agg(
            F.min("lat_s").alias("latency_s"),
            F.max("n").alias("n_purchases"),
        )
    )


ATTRIBUTION_LATENCY_SQL = f"""
WITH lat AS (
  SELECT latency_us // 1000000 AS lat_s
  FROM ({ASOF_SQL})
  WHERE last_click_us IS NOT NULL
),
counts AS (SELECT lat_s, COUNT(*) AS c FROM lat GROUP BY 1),
cum AS (
  SELECT lat_s,
         SUM(c) OVER (ORDER BY lat_s) AS cum,
         SUM(c) OVER () AS n
  FROM counts
)
SELECT CAST(pct AS BIGINT) AS pct,
       MIN(lat_s) AS latency_s,
       CAST(MAX(n) AS BIGINT) AS n_purchases
FROM cum CROSS JOIN (VALUES {", ".join(f"({p})" for p in _LAT_PCTS)}) q(pct)
WHERE cum * 100 >= pct * n
GROUP BY 1
"""




PATHS_TOPK = 10


def events_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 3-step behavior paths (a -> b -> c) across user timelines.

    Second-order sequence mining on top of the transition matrix's
    first-order view: two lags over the same per-user ordered window
    (ONE shuffle serves both — Spark evaluates same-window functions in
    one pass), count each (a, b, c) type trigram, keep the global top-10
    via TakeOrderedAndProject (count desc, then path lexically — total
    determinism). The trigram key space is |types|^3, so the count agg
    map-side-combines to a constant-size shuffle at any event volume.
    """
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    tri = (
        ev.withColumn("b", F.lag("event_type", 1).over(w))
        .withColumn("a", F.lag("event_type", 2).over(w))
        .filter(F.col("a").isNotNull())
        .groupBy("a", "b", F.col("event_type").alias("c"))
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )
    return (
        tri.orderBy(F.desc("n_paths"), "a", "b", "c")
        .limit(PATHS_TOPK)
        .withColumn("rnk", F.row_number().over(
            Window.orderBy(F.desc("n_paths"), "a", "b", "c")
        ).cast("long"))
    )


USER_PATHS_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events
),
t AS (
  SELECT LAG(event_type, 2) OVER w AS a,
         LAG(event_type, 1) OVER w AS b,
         event_type AS c
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
tri AS (
  SELECT a, b, c, COUNT(*) AS n_paths FROM t WHERE a IS NOT NULL GROUP BY a, b, c
)
SELECT a, b, c, n_paths,
       row_number() OVER (ORDER BY n_paths DESC, a, b, c) AS rnk
FROM tri
ORDER BY n_paths DESC, a, b, c
LIMIT {PATHS_TOPK}
"""



def events_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew toolkit under the oracle gate: salted two-phase rollup.

    Per-type cents total + row count via salted_sum_count — the hot-key
    decomposition (phase 1 over (key, salt) spreads one pathological
    key across 16 reducers; phase 2 re-aggregates 16 tiny partials per
    key). The oracle is the PLAIN GROUP BY: the salted plan must be
    value-identical to the unsalted aggregate under the driver's hash,
    which is the whole point — salting changes the partitioning, never
    the result.
    """
    from ..operators.skew import salted_sum_count

    ev = read_events(spark, sf_dir).select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return salted_sum_count(ev, key="event_type", value="cents")


EVENTS_SALTED_ROLLUP_SQL = """
SELECT event_type,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total,
       COUNT(*) AS n_rows
FROM events
GROUP BY event_type
"""


# --- sessions_campaign_overlap: interval-overlap join via day binning ------

_JAN1_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, the events epoch

# Static campaign dimension (id, start_us, end_us inclusive) — one source
# of truth rendered into BOTH the Spark literal DF and the oracle VALUES.
# Ten back-to-back 3-day windows covering January, plus a 10-day surge and
# a 6-hour flash window so sessions can overlap several campaigns at once.
CAMPAIGNS = (
    [(i, _JAN1_US + 3 * i * _DAY_US, _JAN1_US + 3 * (i + 1) * _DAY_US - 1) for i in range(10)]
    + [
        (10, _JAN1_US + 9 * _DAY_US + _DAY_US // 2, _JAN1_US + 19 * _DAY_US),
        (11, _JAN1_US + 4 * _DAY_US + _DAY_US // 2, _JAN1_US + 4 * _DAY_US + _DAY_US * 3 // 4),
    ]
)


def _sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session (user_id, session_seq, start_us, end_us) intervals."""
    flagged = _session_flags(read_events(spark, sf_dir))
    return flagged.groupBy("user_id", "session_seq").agg(
        F.min("ts_us").alias("s_start_us"), F.max("ts_us").alias("s_end_us")
    )


def sessions_campaign_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (range join) WITHOUT a cross product.

    Both interval sets explode into the integer DAYS they cover
    (``us div 86400e6``; sequence explode, fan-out bounded by interval
    length — sessions span 1-2 days, campaigns <= 11), candidate pairs
    come from an EQUI-JOIN on the day id, duplicates from multi-day
    overlap are collapsed by the final aggregate's distinct keys, and the
    exact closed-interval predicate ``s_start <= c_end AND c_start <=
    s_end`` verifies each candidate. This is the standard binned range
    join: at 100 TB both sides can be arbitrarily large because no stage
    ever considers a pair that does not share a calendar day (the
    day-grain shuffle key also makes AQE skew-splitting applicable to hot
    days). The DuckDB oracle is the brute-force inequality join, so every
    parity run re-proves the binning is complete, not just fast.

    Per campaign: overlapping session count, distinct users, and the
    exact total overlap time (Σ least(ends) − greatest(starts), int64 µs).
    """
    sess = _sessions(spark, sf_dir)
    camp = spark.createDataFrame(
        CAMPAIGNS, "campaign_id BIGINT, c_start_us BIGINT, c_end_us BIGINT"
    )
    s_days = sess.withColumn(
        "day_id",
        F.explode(
            F.sequence(
                F.expr(f"s_start_us div {_DAY_US}"), F.expr(f"s_end_us div {_DAY_US}")
            )
        ),
    )
    c_days = camp.withColumn(
        "day_id",
        F.explode(
            F.sequence(
                F.expr(f"c_start_us div {_DAY_US}"), F.expr(f"c_end_us div {_DAY_US}")
            )
        ),
    )
    pairs = (
        s_days.join(c_days, "day_id")
        .filter(
            (F.col("s_start_us") <= F.col("c_end_us"))
            & (F.col("c_start_us") <= F.col("s_end_us"))
        )
        .select(
            "campaign_id",
            "user_id",
            "session_seq",
            (
                F.least("s_end_us", "c_end_us")
                - F.greatest("s_start_us", "c_start_us")
            ).alias("overlap_us"),
        )
        .distinct()
    )
    return pairs.groupBy("campaign_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("overlap_us").alias("total_overlap_us"),
    )


_CAMPAIGN_VALUES = ",\n           ".join(
    f"({cid}, {s}, {e})" for cid, s, e in CAMPAIGNS
)

SESSIONS_CAMPAIGN_OVERLAP_SQL = f"""
WITH {_SESSION_NUMBERED_SQL}, sessions AS (
  SELECT user_id, session_seq,
         MIN(ts_us) AS s_start_us, MAX(ts_us) AS s_end_us
  FROM numbered GROUP BY user_id, session_seq
), campaigns(campaign_id, c_start_us, c_end_us) AS (
  VALUES {_CAMPAIGN_VALUES}
),
-- brute-force inequality join: the oracle intentionally skips the day
-- binning so parity re-proves the binned equi-join's completeness
pairs AS (
  SELECT c.campaign_id, s.user_id, s.session_seq,
         LEAST(s.s_end_us, c.c_end_us) - GREATEST(s.s_start_us, c.c_start_us) AS overlap_us
  FROM sessions s JOIN campaigns c
    ON s.s_start_us <= c.c_end_us AND c.c_start_us <= s.s_end_us
)
SELECT CAST(campaign_id AS BIGINT) AS campaign_id,
       COUNT(*) AS n_sessions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(overlap_us) AS BIGINT) AS total_overlap_us
FROM pairs
GROUP BY campaign_id
"""


PERIODICITY_LAGS = (0, 1, 2, 3, 6, 12, 24, 48, 72, 168)


def events_periodicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocovariance profile of hourly event volume (seasonality scan).

    The periodicity read behind Holt's level/trend and CUSUM's
    changepoints: raw (uncentered) autocovariance of the hourly count
    series at the lags that matter for product traffic (1-3 h, half/
    full day, 2-3 days, 1 week). A daily rhythm shows as a ratio peak
    at 24, a weekly one at 168. Exact integer arithmetic end-to-end:
    acov_k = sum(x_h * x_{h+k}) over OBSERVED hour pairs (n_pairs
    reports coverage; silent-gap hours pair with nothing rather than
    fabricating zeros), ratio in milli-units against acov_0. The series
    frame is hour-bucketed FIRST (one map-side-combined agg to ~n_hours
    rows), so the lag join and both tiny crosses (10 lag rows, 1-row
    acov_0) run over bounded band rows, never raw events.
    """
    ev = read_events(spark, sf_dir)
    hours = ev.groupBy(F.expr(f"ts_us div {_HOUR_US}").alias("h")).agg(
        F.count(F.lit(1)).alias("x")
    )
    lags = spark.createDataFrame(
        [(k,) for k in PERIODICITY_LAGS], "lag_h long"
    )
    shifted = hours.crossJoin(F.broadcast(lags)).select(
        (F.col("h") + F.col("lag_h")).alias("h2"), "lag_h", F.col("x").alias("xa")
    )
    paired = shifted.join(
        hours.select(F.col("h").alias("h2"), F.col("x").alias("xb")), "h2"
    )
    acov = paired.groupBy("lag_h").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("xa") * F.col("xb")).alias("acov"),
    )
    a0 = acov.filter(F.col("lag_h") == 0).select(F.col("acov").alias("a0"))
    return acov.crossJoin(F.broadcast(a0)).select(
        "lag_h",
        "n_pairs",
        "acov",
        F.expr("(acov * 1000) div a0").alias("ratio_milli"),
    )


PERIODICITY_SQL = f"""
WITH hours AS (
  SELECT epoch_us(date_trunc('hour', ts)) // {_HOUR_US} AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
lags(lag_h) AS (VALUES {', '.join(f'({k})' for k in PERIODICITY_LAGS)}),
paired AS (
  SELECT CAST(l.lag_h AS BIGINT) AS lag_h, a.x AS xa, b.x AS xb
  FROM hours a CROSS JOIN lags l
  JOIN hours b ON b.h = a.h + l.lag_h
),
acov AS (
  SELECT lag_h, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(xa * xb) AS BIGINT) AS acov
  FROM paired GROUP BY 1
),
a0 AS (SELECT acov AS a0 FROM acov WHERE lag_h = 0)
SELECT lag_h, n_pairs, acov, (acov * 1000) // a0 AS ratio_milli
FROM acov CROSS JOIN a0
"""


AB_CONV_CENTS = 15_000  # "high-value purchase": value ≥ $150

# The engine-portable md5 arm gate, one text per engine: a user's arm is
# the first 15 hex digits of md5(user_id) mod 2, so re-runs, reshards and
# the oracle agree on every user's arm with no RNG.
_ARM_SQL = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2"


def _arm() -> Column:
    return F.expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT) % 2"
    ).alias("arm")


def _arm_sums(
    armed: DataFrame,
    sums: dict[str, Column] | None = None,
    by: tuple[str, ...] = (),
    extra: tuple[Column, ...] = (),
) -> DataFrame:
    """Per-arm conditional sums over a frame carrying ``arm``: ``n_a`` /
    ``n_b`` plus ``<name>_a`` / ``<name>_b`` for each ``sums`` entry,
    then the ``extra`` aggregates, grouped by ``by`` (one row when
    empty). Every arm-split readout is one map-side-combined agg of
    this shape."""
    aggs = []
    for name, v in {"n": F.lit(1), **(sums or {})}.items():
        for arm, side in ((0, "a"), (1, "b")):
            aggs.append(
                F.sum(F.when(F.col("arm") == arm, v).otherwise(0)).alias(
                    f"{name}_{side}"
                )
            )
    return armed.groupBy(*by).agg(*aggs, *extra)


def _arm_sums_sql(sums: dict[str, str], extra: str = "", key: str = "") -> str:
    """The oracle's ``armed`` and ``s`` CTEs over ``per_user``: BIGINT
    ``n_a`` / ``n_b`` and ``<name>_a`` / ``<name>_b`` sums per arm, then
    the ``extra`` select items, grouped by the ``key`` item when given."""
    items = [key] if key else []
    for name, v in {"n": "1", **sums}.items():
        for arm, side in ((0, "a"), (1, "b")):
            items.append(
                f"CAST(SUM(CASE WHEN arm = {arm} THEN {v} ELSE 0 END) AS BIGINT)"
                f" AS {name}_{side}"
            )
    items += [extra] if extra else []
    cols = ",\n         ".join(items)
    group = " GROUP BY 1" if key else ""
    return f"""armed AS (
  SELECT *, {_ARM_SQL} AS arm FROM per_user
),
s AS (
  SELECT {cols}
  FROM armed{group}
)"""


def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B test over high-value user conversion.

    The experimentation primitive every event pipeline grows: users are
    deterministically split into arms by the engine-portable md5 gate
    (no RNG — re-runs, reshards and the oracle all agree on every
    user's arm), conversion is "user has at least one purchase of
    ≥ $150" (nearly every user purchases SOMETHING, so bare incidence
    saturates at 100% and the test degenerates; the high-value cut sits
    near 45% at every SF), and the readout is the classic pooled
    two-proportion z statistic. Shape: one per-user agg (shuffle on
    user_id, map-side combined) then ONE conditional global agg — no
    join, no pivot, output is a single row at any scale. Exactness:
    counts are exact int64; the z statistic uses the algebraic form
    z = (c_a·n_b − c_b·n_a) · sqrt(N / (n_a·n_b·C·(N−C))) so the only
    floating point is one sqrt of a ratio whose operands are cast to
    DOUBLE before multiplying (the int64 product n_a·n_b·C·(N−C) would
    overflow past ~50k users — documented, the DOUBLE form is what both
    engines evaluate), rounded once to milli; a NULLIF guard keeps a
    degenerate split (all/none converted) a NULL z rather than an error.
    """
    ev = read_events(spark, sf_dir)
    return ab_test_from_users(ab_user_conversions(ev))


def ab_user_conversions(ev: DataFrame) -> DataFrame:
    """(user_id, conv) — the A/B test's per-user sufficient statistic.

    conv = "has at least one high-value purchase" is a MAX flag, so it
    is mergeable across any partition of the event log (the streaming
    state twin folds batches with GREATEST and reaches the identical
    frame)."""
    return ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.round(F.col("value") * 100).cast("long") >= AB_CONV_CENTS)
            ).cast("long")
        ).alias("conv")
    )


_CONV_USERS_SQL = f"""per_user AS (
  SELECT user_id,
         CAST(MAX(CASE WHEN event_type = 'purchase'
                        AND CAST(ROUND(value * 100) AS BIGINT) >= {AB_CONV_CENTS}
                       THEN 1 ELSE 0 END) AS BIGINT) AS conv
  FROM events GROUP BY user_id
)"""


def _conv_arm_sums(per_user: DataFrame) -> DataFrame:
    """The one-row (n_a, n_b, conv_a, conv_b) frame of a (user_id, conv)
    frame: the z, mSPRT and power readouts' sufficient statistics."""
    return _arm_sums(per_user.select(_arm(), "conv"), {"conv": F.col("conv")})


def ab_test_from_users(per_user: DataFrame) -> DataFrame:
    """One-row z readout from a (user_id, conv) frame (batch or state)."""
    return _conv_arm_sums(per_user).select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.expr("(conv_a * 1000000) div n_a").alias("rate_a_micro"),
        F.expr("(conv_b * 1000000) div n_b").alias("rate_b_micro"),
        F.expr(
            "CAST(ROUND((conv_a * n_b - conv_b * n_a) * SQRT("
            "CAST(n_a + n_b AS DOUBLE) / NULLIF(CAST(n_a AS DOUBLE)"
            " * CAST(n_b AS DOUBLE) * CAST(conv_a + conv_b AS DOUBLE)"
            " * CAST(n_a + n_b - conv_a - conv_b AS DOUBLE), 0.0)) * 1000)"
            " AS BIGINT)"
        ).alias("z_milli"),
    )


# mSPRT mixture variance: the scale of effect sizes the sequential test
# is tuned to detect (~1ppt conversion moves). A fixed constant is the
# contract — re-tuning mid-experiment invalidates the always-valid
# guarantee the statistic exists to provide.
AB_SEQ_TAU2 = 1e-4
AB_SEQ_LN20_MILLI = 2995  # floor(ln(1/0.05)*1000): reject when lnL exceeds


def events_ab_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B readout — the mSPRT mixture
    likelihood ratio (Johari, Koomen, Pekelis & Walsh, KDD'17).

    The fixed-horizon z (events_ab_test) is only valid if nobody looks
    until the planned n: production dashboards are PEEKED at daily, and
    repeated looks inflate the false-positive rate many-fold. The
    mixture sequential probability ratio test fixes this with a
    statistic whose inverse is a p-value valid at EVERY look
    simultaneously: with a normal mixture over effect sizes (variance
    tau^2), ln Lambda_n = 0.5*ln(V/(V+tau^2)) + d^2*tau^2/(2V(V+tau^2))
    where d is the observed rate difference and V the pooled null
    variance p(1-p)(1/n_a+1/n_b); always-valid p = min(1, 1/Lambda).
    Completes the experimentation trust ladder: SRM gate -> fixed z ->
    CUPED -> power/MDE planning -> PEEKING-SAFE monitoring.

    Exactness: the same four exact int64 sufficient statistics as
    events_ab_test (shared ab_user_conversions frame — the ST6
    streaming state feeds this readout unchanged), one identical double
    expression tree both engines (ln/exp on bit-identical inputs, the
    user-entropy precedent), outputs floor-quantized; the reject flag
    compares the QUANTIZED milli-log-LR against floor(ln(20)*1000) so
    the decision is integer-deterministic. NULLIF degeneracy guard:
    zero or saturated conversions give NULL statistics, not errors.

    Scale shape: identical to events_ab_test — one map-side-combined
    per-user agg, one single-row conditional agg, no joins.
    """
    return ab_sequential_from_users(ab_user_conversions(read_events(spark, sf_dir)))


def _ab_seq_exprs() -> tuple[str, str]:
    d = (
        "(CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)"
    )
    v = (
        "((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))"
        " * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))"
        " * (1.0 / n_a + 1.0 / n_b))"
    )
    lnl = (
        f"(0.5 * ln(NULLIF({v}, 0.0) / ({v} + {AB_SEQ_TAU2}))"
        f" + {d} * {d} * {AB_SEQ_TAU2}"
        f" / NULLIF(2.0 * {v} * ({v} + {AB_SEQ_TAU2}), 0.0))"
    )
    p = f"LEAST(1.0, exp(-({lnl})))"
    return lnl, p


def ab_sequential_from_users(per_user: DataFrame) -> DataFrame:
    """One-row mSPRT readout from a (user_id, conv) frame (batch or the
    ST6 streaming state — the shared-kernel property)."""
    s = _conv_arm_sums(per_user)
    lnl, p = _ab_seq_exprs()
    return s.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.expr(
            "(conv_b * 1000000) div n_b - (conv_a * 1000000) div n_a"
        ).alias("delta_micro"),
        F.expr(f"CAST(FLOOR({lnl} * 1000) AS BIGINT)").alias("ln_lambda_milli"),
        F.expr(f"CAST(FLOOR({p} * 1000000) AS BIGINT)").alias(
            "always_valid_p_ppm"
        ),
        F.expr(
            f"CAST(CASE WHEN CAST(FLOOR({lnl} * 1000) AS BIGINT)"
            f" > {AB_SEQ_LN20_MILLI} THEN 1 ELSE 0 END AS INT)"
        ).alias("reject_at_5pct"),
    )


def _ab_sequential_sql() -> str:
    lnl, p = _ab_seq_exprs()
    return f"""
WITH {_CONV_USERS_SQL},
{_arm_sums_sql({"conv": "conv"})}
SELECT n_a, n_b, conv_a, conv_b,
       (conv_b * 1000000) // n_b - (conv_a * 1000000) // n_a AS delta_micro,
       CAST(FLOOR({lnl} * 1000) AS BIGINT) AS ln_lambda_milli,
       CAST(FLOOR({p} * 1000000) AS BIGINT) AS always_valid_p_ppm,
       CAST(CASE WHEN CAST(FLOOR({lnl} * 1000) AS BIGINT)
            > {AB_SEQ_LN20_MILLI} THEN 1 ELSE 0 END AS INT) AS reject_at_5pct
FROM s
"""


AB_SEQUENTIAL_SQL = _ab_sequential_sql()


AB_TEST_SQL = f"""
WITH {_CONV_USERS_SQL},
{_arm_sums_sql({"conv": "conv"})}
SELECT n_a, n_b, conv_a, conv_b,
       (conv_a * 1000000) // n_a AS rate_a_micro,
       (conv_b * 1000000) // n_b AS rate_b_micro,
       CAST(ROUND((conv_a * n_b - conv_b * n_a) * SQRT(
         CAST(n_a + n_b AS DOUBLE) / NULLIF(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
           * CAST(conv_a + conv_b AS DOUBLE)
           * CAST(n_a + n_b - conv_a - conv_b AS DOUBLE), 0.0)) * 1000) AS BIGINT) AS z_milli
FROM s
"""


def events_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch revenue attribution by touch type.

    The fair-share companion to ``events_asof_attribution``'s last-touch:
    each purchase splits its value equally across ALL the user's touch
    events (view/click/signup) since their previous purchase. Attribution
    segments partition each user's timeline (segment id = running count
    of STRICTLY EARLIER purchases via one window), so credit assignment
    is a linear scan plus an equi-join on (user, segment) — never the
    quadratic touches×purchases range join. Credit is quantized once per
    (purchase, touch-type) cell as cents·1e3·n_type div n_touches
    (documented floor; cells, not touches, so k touches of one type
    round together). MILLI-cents, not micro: credit is absolute money,
    so the global per-type sums carry the full corpus revenue — micro
    units overflow int64 at ~$92B total, milli holds to ~$92T.
    Purchases with NO preceding touch in their segment
    fall out of the inner join and are reported via the organic row
    (event_type='(organic)') built from an anti-join — total credit +
    organic exactly conserves purchase revenue minus per-cell floor dust.
    Output: one row per touch type — bounded by the type vocabulary.
    """
    return multitouch_from_seq(journey_seq(read_events(spark, sf_dir)))


def journey_seq(ev: DataFrame) -> DataFrame:
    """The shared journey segmentation: every attribution operator keys
    credit to seg = count of STRICTLY EARLIER purchases per user (each
    purchase ends its own journey), computed in ONE window pass. The
    linear, Markov-removal and first/last readouts are all pure
    functions of this frame, so events_attribution_comparison
    localCheckpoints it once instead of re-deriving it per method."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ev.select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w)
            - F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("seg"),
    )


def multitouch_from_seq(seg: DataFrame) -> DataFrame:
    """events_multitouch_attribution's credit assignment over a
    caller-supplied journey frame (the journey_seq contract)."""
    touches = (
        seg.filter(F.col("event_type") != "purchase")
        .groupBy("user_id", "seg", "event_type")
        .agg(F.count(F.lit(1)).alias("n_type"))
    )
    seg_totals = touches.groupBy("user_id", "seg").agg(
        F.sum("n_type").alias("n_touches")
    )
    purchases = seg.filter(F.col("event_type") == "purchase").select(
        "user_id", "seg", "cents"
    )
    credited = (
        purchases.join(seg_totals, ["user_id", "seg"])
        .join(touches, ["user_id", "seg"])
        .groupBy("event_type")
        .agg(
            F.sum(
                F.expr("(cents * 1000 * n_type) div n_touches")
            ).alias("credit_milli"),
            F.count(F.lit(1)).alias("n_cells"),
        )
    )
    organic = (
        purchases.join(seg_totals, ["user_id", "seg"], "left_anti")
        .agg(
            F.sum(F.col("cents") * 1_000).alias("credit_milli"),
            F.count(F.lit(1)).alias("n_cells"),
        )
        .select(F.lit("(organic)").alias("event_type"), "credit_milli", "n_cells")
        .filter(F.col("n_cells") > 0)
    )
    return credited.unionByName(organic)


MULTITOUCH_SQL = """
WITH seg AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
            - CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS BIGINT) AS seg
  FROM events
),
touches AS (
  SELECT user_id, seg, event_type, CAST(COUNT(*) AS BIGINT) AS n_type
  FROM seg WHERE event_type <> 'purchase'
  GROUP BY 1, 2, 3
),
seg_totals AS (
  SELECT user_id, seg, CAST(SUM(n_type) AS BIGINT) AS n_touches
  FROM touches GROUP BY 1, 2
),
purchases AS (
  SELECT user_id, seg, cents FROM seg WHERE event_type = 'purchase'
),
credited AS (
  SELECT t.event_type,
         CAST(SUM((p.cents * 1000 * t.n_type) // s.n_touches) AS BIGINT) AS credit_milli,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM purchases p
  JOIN seg_totals s USING (user_id, seg)
  JOIN touches t USING (user_id, seg)
  GROUP BY 1
),
organic AS (
  SELECT '(organic)' AS event_type,
         CAST(SUM(p.cents * 1000) AS BIGINT) AS credit_milli,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM purchases p
  LEFT JOIN seg_totals s USING (user_id, seg)
  WHERE s.n_touches IS NULL
  HAVING COUNT(*) > 0
)
SELECT * FROM credited UNION ALL SELECT * FROM organic
"""


AB_POWER_Z_ALPHA = 1.959964  # two-sided alpha = 0.05
AB_POWER_Z_BETA = 0.841621  # power = 0.80


def events_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-size (power) analysis for the running A/B test.

    The question after events_ab_test reports a small z: "how many
    users per arm WOULD detect the observed effect at 80% power?" —
    the classic two-proportion formula n = (z_α·sqrt(2·p̄q̄) +
    z_β·sqrt(p₁q₁+p₂q₂))² / (p₁−p₂)², evaluated on the same
    deterministic md5 arm split and high-value conversion as the test.
    Shape identical to events_ab_test: one per-user agg + one global
    conditional agg, single output row. Floats: the rates and the
    formula are doubles derived from exact int64 counts through ONE
    identical expression tree on both engines (two sqrt, one POWER,
    one ceil); a NULLIF guard returns NULL when the observed rates are
    exactly equal (required n is infinite). delta_micro is exact
    integer per-arm rate difference, no cross product (n_a·n_b would
    overflow at ~10⁹ users/arm).
    """
    s = _conv_arm_sums(ab_user_conversions(read_events(spark, sf_dir)))
    formula = (
        f"CAST(CEIL(POWER({AB_POWER_Z_ALPHA} * SQRT(2.0 * pbar * (1.0 - pbar))"
        f" + {AB_POWER_Z_BETA} * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2)), 2)"
        " / NULLIF(POWER(p1 - p2, 2), 0.0)) AS BIGINT)"
    )
    return (
        s.withColumn("p1", F.expr("CAST(conv_a AS DOUBLE) / n_a"))
        .withColumn("p2", F.expr("CAST(conv_b AS DOUBLE) / n_b"))
        .withColumn("pbar", F.expr("CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)"))
        .select(
            "n_a",
            "n_b",
            "conv_a",
            "conv_b",
            F.expr(
                "(conv_a * 1000000) div n_a - (conv_b * 1000000) div n_b"
            ).alias("delta_micro"),
            F.expr(formula).alias("n_required_per_arm"),
        )
    )


AB_POWER_SQL = f"""
WITH {_CONV_USERS_SQL},
{_arm_sums_sql({"conv": "conv"})},
r AS (
  SELECT n_a, n_b, conv_a, conv_b,
         CAST(conv_a AS DOUBLE) / n_a AS p1,
         CAST(conv_b AS DOUBLE) / n_b AS p2,
         CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pbar
  FROM s
)
SELECT n_a, n_b, conv_a, conv_b,
       (conv_a * 1000000) // n_a - (conv_b * 1000000) // n_b AS delta_micro,
       CAST(CEIL(POWER({AB_POWER_Z_ALPHA} * SQRT(2.0 * pbar * (1.0 - pbar))
                 + {AB_POWER_Z_BETA} * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2)), 2)
            / NULLIF(POWER(p1 - p2, 2), 0.0)) AS BIGINT) AS n_required_per_arm
FROM r
"""


# MDE grid: 1..10 percentage-point lifts in micro units (10_000 micro =
# 1 ppt). The grid is a literal contract shared by both engines.
MDE_GRID_LO = 10_000
MDE_GRID_HI = 100_000
MDE_GRID_STEP = 10_000


def events_mde_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-planning MDE curve: required n per arm across lifts.

    events_ab_power answers "what n detects the lift we OBSERVED?";
    this is the planning-side table an experimentation platform shows
    BEFORE launch: for each minimum-detectable-effect in a fixed grid
    (1..10 ppt above the corpus' pooled conversion baseline), the
    per-arm sample size at alpha=0.05 / power=0.80, and whether the
    current population could already support it (n_required vs half the
    observed users). Same two-proportion formula as events_ab_power with
    p1 = pooled baseline, p2 = baseline + MDE.

    Scale shape: ONE map-side-combined per-user agg collapses the corpus
    to a 1-row summary; the 10-row grid fans out INSIDE that row via
    explode(sequence(...)) — no join, no cross product, plan size
    constant in both corpus size and grid length. Floats: rates and the
    z-formula are doubles derived from exact int64 counts through one
    identical expression tree on both engines (ab_power's documented
    pattern).
    """
    ev = read_events(spark, sf_dir)
    per_user = ab_user_conversions(ev)
    s = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("conv").alias("n_conv"),
    )
    grid = s.select(
        "n_users",
        "n_conv",
        F.explode(
            F.sequence(
                F.lit(MDE_GRID_LO), F.lit(MDE_GRID_HI), F.lit(MDE_GRID_STEP)
            )
        ).alias("delta_micro"),
    )
    n_req = (
        f"CAST(CEIL(POWER({AB_POWER_Z_ALPHA} * SQRT(2.0 * p1 * (1.0 - p1))"
        f" + {AB_POWER_Z_BETA} * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2)), 2)"
        " / POWER(CAST(delta_micro AS DOUBLE) / 1000000.0, 2)) AS BIGINT)"
    )
    return (
        grid.withColumn("p1", F.expr("CAST(n_conv AS DOUBLE) / n_users"))
        .withColumn(
            # LEAST(, 1.0) keeps SQRT(p2*(1-p2)) defined when the pooled
            # baseline sits within a grid step of 1.0 — without it Spark
            # emits NaN rows while DuckDB raises, diverging instead of
            # failing together. Identical clamp in MDE_CURVE_SQL.
            "p2",
            F.expr(
                "LEAST(p1 + CAST(delta_micro AS DOUBLE) / 1000000.0, 1.0)"
            ),
        )
        .withColumn("n_required_per_arm", F.expr(n_req))
        .select(
            F.col("delta_micro").cast("long").alias("delta_micro"),
            "n_users",
            "n_conv",
            "n_required_per_arm",
            F.expr(
                "CAST(CASE WHEN n_required_per_arm <= n_users div 2"
                " THEN 1 ELSE 0 END AS INT)"
            ).alias("feasible_now"),
        )
        .orderBy("delta_micro")
    )


MDE_CURVE_SQL = f"""
WITH {_CONV_USERS_SQL},
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(conv) AS BIGINT) AS n_conv
  FROM per_user
),
grid AS (
  SELECT n_users, n_conv, CAST(g.delta_micro AS BIGINT) AS delta_micro
  FROM s, generate_series({MDE_GRID_LO}, {MDE_GRID_HI}, {MDE_GRID_STEP})
       AS g(delta_micro)
),
r AS (
  SELECT *,
         CAST(n_conv AS DOUBLE) / n_users AS p1,
         LEAST(CAST(n_conv AS DOUBLE) / n_users
           + CAST(delta_micro AS DOUBLE) / 1000000.0, 1.0) AS p2
  FROM grid
),
req AS (
  SELECT delta_micro, n_users, n_conv,
         CAST(CEIL(POWER({AB_POWER_Z_ALPHA} * SQRT(2.0 * p1 * (1.0 - p1))
                   + {AB_POWER_Z_BETA} * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2)), 2)
              / POWER(CAST(delta_micro AS DOUBLE) / 1000000.0, 2)) AS BIGINT)
           AS n_required_per_arm
  FROM r
)
SELECT delta_micro, n_users, n_conv, n_required_per_arm,
       CAST(CASE WHEN n_required_per_arm <= n_users // 2
            THEN 1 ELSE 0 END AS INT) AS feasible_now
FROM req
ORDER BY delta_micro
"""


# CUPED pre-period split: days 1-15 are the covariate window, days 16+
# the experiment window (2024-01-16T00:00:00Z in epoch micros). A fixed
# calendar boundary is the contract — re-deriving it from the data's max
# ts would re-assign periods on every late-arriving batch.
CUPED_SPLIT_US = 1_705_363_200_000_000


def events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM'13).

    The missing rung between events_ab_test (raw z) and events_ab_power
    /events_mde_curve (planning): production experimentation platforms
    never ship the raw treatment-control difference — they regress out
    each user's PRE-EXPERIMENT behavior (the covariate X) and read the
    adjusted metric Y' = Y - theta*(X - mean(X)), cutting variance by
    the squared pre/post correlation and with it the required sample
    size. Per-user pre/post purchase revenue (cents, exact int64) with
    the same md5 arm hash as events_ab_test; theta = cov(X,Y)/var(X)
    from the five exact integer sufficient statistics (n, Sx, Sy, Sxx,
    Sxy) through ONE identical double expression tree on both engines
    (the ab_power pattern — no per-engine association order anywhere).
    Output: one row — per-arm n / pre / post means (exact milli-cents),
    theta_micro, raw vs CUPED-adjusted lift, and rho2_ppm (the realized
    variance-reduction fraction).

    Scale shape: one corpus scan -> map-side-combined per-user agg ->
    1-row global agg. No joins, no windows; int64 headroom: Sxy ~
    users * (per-user cents)^2 ~ 4e13 at sf0.1, linear in users (~2e5 x
    sf0.1 before int64 pressure — the 10x/30x scale gate watches it).
    """
    return cuped_readout(cuped_user_stats(read_events(spark, sf_dir)))


def cuped_user_stats(ev: DataFrame) -> DataFrame:
    """(user_id, pre_cents, post_cents) — CUPED's per-user sufficient
    statistic. Both columns are SUMS, so the frame is additively
    mergeable across any partition of the event log — the streaming
    state twin folds micro-batches with merge_aggregate and reaches the
    identical frame (the ab_user_conversions property, revenue-valued).
    """
    pre = (F.col("event_type") == "purchase") & (
        F.col("ts_us") < CUPED_SPLIT_US
    )
    post = (F.col("event_type") == "purchase") & (
        F.col("ts_us") >= CUPED_SPLIT_US
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.groupBy("user_id").agg(
        F.sum(F.when(pre, cents).otherwise(F.lit(0))).alias("pre_cents"),
        F.sum(F.when(post, cents).otherwise(F.lit(0))).alias("post_cents"),
    )




_CENTS_USERS_SQL = f"""per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                        AND epoch_us(ts) < {CUPED_SPLIT_US}
                       THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS pre_cents,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                        AND epoch_us(ts) >= {CUPED_SPLIT_US}
                       THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS post_cents
  FROM events GROUP BY user_id
)"""


def _cuped_stats(per_user: DataFrame, by: tuple[str, ...] = ()) -> DataFrame:
    """CUPED's sufficient statistics of a (user_id, pre_cents, post_cents)
    frame, grouped by the ``by`` columns: per-arm n / pre / post sums and
    the pooled moments n, Sx, Sy, Sxx, Syy, Sxy (X = pre, Y = post)."""
    armed = per_user.select(*by, _arm(), "pre_cents", "post_cents")
    return _arm_sums(
        armed,
        {"pre": F.col("pre_cents"), "post": F.col("post_cents")},
        by,
        (
            F.count(F.lit(1)).alias("n"),
            F.sum("pre_cents").alias("sx"),
            F.sum("post_cents").alias("sy"),
            F.sum(F.expr("pre_cents * pre_cents")).alias("sxx"),
            F.sum(F.expr("post_cents * post_cents")).alias("syy"),
            F.sum(F.expr("pre_cents * post_cents")).alias("sxy"),
        ),
    )


def _cuped_stats_sql(key: str = "") -> str:
    return _arm_sums_sql(
        {"pre": "pre_cents", "post": "post_cents"},
        "CAST(COUNT(*) AS BIGINT) AS n,"
        " CAST(SUM(pre_cents) AS BIGINT) AS sx,"
        " CAST(SUM(post_cents) AS BIGINT) AS sy,"
        " CAST(SUM(pre_cents * pre_cents) AS BIGINT) AS sxx,"
        " CAST(SUM(post_cents * post_cents) AS BIGINT) AS syy,"
        " CAST(SUM(pre_cents * post_cents) AS BIGINT) AS sxy",
        key,
    )


def _cuped_exprs() -> tuple[str, str, str]:
    """theta = cov(X, Y) / var(X), the CUPED-adjusted lift and rho^2 over
    the :func:`_cuped_stats` columns, as one double expression tree both
    engines evaluate. NULLIF guards turn an empty arm or a zero variance
    into NULL rather than an error."""
    cov = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    var_x = (
        "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    )
    var_y = (
        "CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
    )
    theta = f"({cov} / NULLIF({var_x}, 0.0))"
    diff_cuped = (
        "((CAST(post_b AS DOUBLE) / NULLIF(n_b, 0)"
        " - CAST(post_a AS DOUBLE) / NULLIF(n_a, 0))"
        f" - {theta} * (CAST(pre_b AS DOUBLE) / NULLIF(n_b, 0)"
        " - CAST(pre_a AS DOUBLE) / NULLIF(n_a, 0)))"
    )
    rho2 = f"({cov} * {cov} / NULLIF(({var_x}) * ({var_y}), 0.0))"
    return theta, diff_cuped, rho2


def cuped_readout(per_user: DataFrame) -> DataFrame:
    """One-row CUPED readout from a (user_id, pre_cents, post_cents)
    frame (batch or streaming state) — the shared kernel: stream==batch
    is equality of inputs, not a re-implementation claim."""
    theta, diff_cuped, rho2 = _cuped_exprs()
    return _cuped_stats(per_user).select(
        "n_a",
        "n_b",
        F.expr("(pre_a * 1000) div n_a").alias("pre_mean_a_milli"),
        F.expr("(pre_b * 1000) div n_b").alias("pre_mean_b_milli"),
        F.expr("(post_a * 1000) div n_a").alias("post_mean_a_milli"),
        F.expr("(post_b * 1000) div n_b").alias("post_mean_b_milli"),
        F.expr(f"CAST(FLOOR({theta} * 1000000) AS BIGINT)").alias("theta_micro"),
        F.expr(
            "(post_b * 1000) div n_b - (post_a * 1000) div n_a"
        ).alias("diff_raw_milli"),
        F.expr(f"CAST(FLOOR({diff_cuped} * 1000) AS BIGINT)").alias(
            "diff_cuped_milli"
        ),
        F.expr(f"CAST(FLOOR({rho2} * 1000000) AS BIGINT)").alias("rho2_ppm"),
    )


def _cuped_sql() -> str:
    theta, diff_cuped, rho2 = _cuped_exprs()
    return f"""
WITH {_CENTS_USERS_SQL},
{_cuped_stats_sql()}
SELECT n_a, n_b,
       (pre_a * 1000) // n_a AS pre_mean_a_milli,
       (pre_b * 1000) // n_b AS pre_mean_b_milli,
       (post_a * 1000) // n_a AS post_mean_a_milli,
       (post_b * 1000) // n_b AS post_mean_b_milli,
       CAST(FLOOR({theta} * 1000000) AS BIGINT) AS theta_micro,
       (post_b * 1000) // n_b - (post_a * 1000) // n_a AS diff_raw_milli,
       CAST(FLOOR({diff_cuped} * 1000) AS BIGINT) AS diff_cuped_milli,
       CAST(FLOOR({rho2} * 1000000) AS BIGINT) AS rho2_ppm
FROM s
"""


CUPED_SQL = _cuped_sql()


def events_cuped_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified CUPED: per-stratum theta — the multi-covariate
    production variant of :func:`events_cuped`.

    Real experimentation platforms never fit ONE theta across a
    heterogeneous population: a whale's pre-period revenue predicts its
    post-period revenue on a different slope than a dormant user's, so
    the covariate adjustment is fit WITHIN strata and the per-stratum
    adjusted lifts are combined by weight (post-stratification, Deng et
    al. WSDM'13 §5). Stratum = digit count of the user's pre-period
    revenue cents (0 for no pre-revenue) — an exact integer log10
    bucketing that needs no quantile pass, adapts to any corpus scale,
    and is pre-experiment by construction (unaffected by treatment).
    Same md5 arm hash, same five exact int64 sufficient statistics and
    the SAME theta/diff/rho2 double expression trees as events_cuped,
    just grouped one level finer; degenerate strata (single-arm or
    zero pre-variance) surface as NULLs via NULLIF guards instead of
    poisoning the readout. The combined estimate is the
    n-weighted integer fold of diff_cuped_milli over strata — left to
    the consumer (pipelines layer) because it is grain-changing.

    Scale shape: one corpus scan -> map-side-combined per-user agg ->
    per-stratum agg (<= ~12 rows: digit counts). Two exchanges, zero
    joins, zero windows — identical to events_cuped's pinned shape with
    one extra tiny groupBy key. Int64 headroom: per-stratum Sxy <=
    global Sxy, so events_cuped's documented ~2e5 x sf0.1 user ceiling
    carries over unchanged.
    """
    return cuped_stratified_readout(cuped_user_stats(read_events(spark, sf_dir)))


_CUPED_STRATUM = (
    "CAST(CASE WHEN pre_cents <= 0 THEN 0"
    " ELSE length(CAST(pre_cents AS {vtype})) END AS BIGINT)"
)


def cuped_stratified_readout(per_user: DataFrame) -> DataFrame:
    """Per-stratum CUPED readout from a (user_id, pre_cents, post_cents)
    frame (batch or the ST19 streaming state — additively mergeable, so
    the stream twin reaches the identical frame)."""
    strata = per_user.withColumn(
        "stratum", F.expr(_CUPED_STRATUM.format(vtype="STRING"))
    )
    theta, diff_cuped, rho2 = _cuped_exprs()
    return (
        _cuped_stats(strata, ("stratum",))
        .select(
            "stratum",
            "n_a",
            "n_b",
            F.expr("(post_a * 1000) div NULLIF(n_a, 0)").alias(
                "post_mean_a_milli"
            ),
            F.expr("(post_b * 1000) div NULLIF(n_b, 0)").alias(
                "post_mean_b_milli"
            ),
            F.expr(f"CAST(FLOOR({theta} * 1000000) AS BIGINT)").alias(
                "theta_micro"
            ),
            F.expr(
                "(post_b * 1000) div NULLIF(n_b, 0)"
                " - (post_a * 1000) div NULLIF(n_a, 0)"
            ).alias("diff_raw_milli"),
            F.expr(f"CAST(FLOOR({diff_cuped} * 1000) AS BIGINT)").alias(
                "diff_cuped_milli"
            ),
            F.expr(f"CAST(FLOOR({rho2} * 1000000) AS BIGINT)").alias(
                "rho2_ppm"
            ),
        )
        .orderBy("stratum")
    )


def _cuped_stratified_sql() -> str:
    theta, diff_cuped, rho2 = _cuped_exprs()
    stratum = _CUPED_STRATUM.format(vtype="VARCHAR")
    return f"""
WITH {_CENTS_USERS_SQL},
{_cuped_stats_sql(f"{stratum} AS stratum")}
SELECT stratum, n_a, n_b,
       (post_a * 1000) // NULLIF(n_a, 0) AS post_mean_a_milli,
       (post_b * 1000) // NULLIF(n_b, 0) AS post_mean_b_milli,
       CAST(FLOOR({theta} * 1000000) AS BIGINT) AS theta_micro,
       (post_b * 1000) // NULLIF(n_b, 0) - (post_a * 1000) // NULLIF(n_a, 0)
         AS diff_raw_milli,
       CAST(FLOOR({diff_cuped} * 1000) AS BIGINT) AS diff_cuped_milli,
       CAST(FLOOR({rho2} * 1000000) AS BIGINT) AS rho2_ppm
FROM s ORDER BY stratum
"""


CUPED_STRATIFIED_SQL = _cuped_stratified_sql()



def events_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (theta) sketch segment-overlap estimates with enforcement flags.

    See :func:`maap_data_pipelines_spark.operators.sketch.theta_overlap`
    — the mergeable set-OPERATION sketch (union/intersection across
    behavioral segments) completing the sketch tier: HLL (distinct), GK
    (quantiles), MG (heavy hitters), CMS (frequencies), Bloom
    (membership), KMV (set algebra).
    """
    from ..operators.sketch import theta_overlap

    return theta_overlap(read_events(spark, sf_dir))


def _theta_sql() -> str:
    from ..operators.sketch import theta_overlap_sql

    return theta_overlap_sql("events")


THETA_OVERLAP_SQL = _theta_sql()


# --- events_next_event_prediction: trained Markov predictor + holdout ------

NEXT_SPLIT_US = 1_706_140_800_000_000  # 2024-01-25 UTC: ~80/20 temporal split


def events_next_event_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a next-event (first-order Markov) predictor, score a HOLDOUT.

    The sequence-model companion to quality_nb_classifier: the
    transition-matrix operator already DESCRIBES user behavior; this one
    turns it into a model and then measures it honestly — transitions
    whose target falls before the temporal split train the per-state
    argmax; transitions after it are the evaluation set (time-based
    splits, never random, so no leakage from the future). Reported per
    state: the learned prediction, holdout accuracy (ppm), and the
    global-majority baseline accuracy — the lift column is what says
    the sequence signal is real.

    Scale shape: one user-partitioned lag pass builds transitions; the
    model is a |types|²-bounded hash-agg + per-state window argmax
    (broadcast-able); scoring is one equi-join of the holdout on the
    tiny model. Tie-breaks are deterministic (count desc, type asc).
    """
    from pyspark.sql.window import Window

    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    tr = (
        ev.select(
            "user_id",
            "event_type",
            "ts_us",
            "event_id",
            F.lead("event_type").over(w).alias("next_type"),
            F.lead("ts_us").over(w).alias("next_ts"),
        )
        .filter(F.col("next_type").isNotNull())
        .select(
            F.col("event_type").alias("prev_type"),
            "next_type",
            (F.col("next_ts") < NEXT_SPLIT_US).alias("is_train"),
        )
        .localCheckpoint(eager=False)  # two consumers: model fit + holdout scoring
    )
    cnt = (
        tr.filter("is_train")
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    model = (
        cnt.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("prev_type").orderBy(
                    F.col("c").desc(), F.col("next_type").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("prev_type", F.col("next_type").alias("pred_next"))
    )
    base = (
        tr.filter("is_train")
        .groupBy("next_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("c").desc(), F.col("next_type").asc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select(F.col("next_type").alias("majority_next"))
    )
    test = tr.filter(~F.col("is_train"))
    scored = test.join(F.broadcast(model), "prev_type").join(F.broadcast(base))
    return (
        scored.groupBy("prev_type", "pred_next", "majority_next")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("pred_next") == F.col("next_type"), 1).otherwise(0)
            ).alias("n_correct"),
            F.sum(
                F.when(F.col("majority_next") == F.col("next_type"), 1).otherwise(0)
            ).alias("n_majority_correct"),
        )
        .select(
            "prev_type",
            "pred_next",
            "n_test",
            F.expr("n_correct * 1000000 div n_test").alias("acc_ppm"),
            F.expr("n_majority_correct * 1000000 div n_test").alias(
                "baseline_ppm"
            ),
        )
    )


NEXT_EVENT_SQL = f"""
WITH seq AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_type,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_ts
  FROM events
),
tr AS (
  SELECT event_type AS prev_type, next_type,
         next_ts < {NEXT_SPLIT_US} AS is_train
  FROM seq WHERE next_type IS NOT NULL
),
cnt AS (
  SELECT prev_type, next_type, COUNT(*) AS c
  FROM tr WHERE is_train GROUP BY 1, 2
),
model AS (
  SELECT prev_type, next_type AS pred_next FROM cnt
  QUALIFY ROW_NUMBER() OVER (PARTITION BY prev_type ORDER BY c DESC, next_type ASC) = 1
),
base AS (
  SELECT next_type AS majority_next FROM (
    SELECT next_type, COUNT(*) AS c FROM tr WHERE is_train GROUP BY 1
  ) QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, next_type ASC) = 1
)
SELECT prev_type, pred_next,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN pred_next = t.next_type THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS acc_ppm,
       CAST(SUM(CASE WHEN majority_next = t.next_type THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS baseline_ppm
FROM tr t JOIN model USING (prev_type) CROSS JOIN base
WHERE NOT is_train
GROUP BY prev_type, pred_next, majority_next
"""


BACKTEST_DAYS = 10  # rolling-origin evaluation window (last N days/type)


def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin BACKTEST of the Holt forecaster — the honest-eval
    rung for forecasting, as the temporal holdout is for the next-event
    model: a forecast operator without a measured error is a claim, not
    a capability. For each of the last BACKTEST_DAYS days per type, the
    one-step-ahead prediction is the PREVIOUS day's (level + trend) —
    information available strictly before the day being scored — and the
    naive baseline is yesterday's actual count. Reported per type: MAE
    of both in milli-events and the holt_beats_naive verdict.

    Composes the oracled Holt fold unchanged; the backtest adds two lag
    windows and a type-bounded aggregate — day-series-sized work.
    """
    from pyspark.sql.window import Window

    h = events_forecast_holt(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day_us")
    wd = Window.partitionBy("event_type").orderBy(F.col("day_us").desc())
    scored = (
        h.select(
            "event_type",
            "day_us",
            "n_events",
            F.lag("forecast_next").over(w).alias("pred"),
            F.lag("n_events").over(w).alias("naive"),
        )
        .filter(F.col("pred").isNotNull())
        .withColumn("rnk", F.row_number().over(wd))
        .filter(F.col("rnk") <= BACKTEST_DAYS)
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days_eval"),
        F.expr(
            "sum(abs(n_events - pred)) * 1000 div count(*)"
        ).alias("mae_holt_milli"),
        F.expr(
            "sum(abs(n_events - naive)) * 1000 div count(*)"
        ).alias("mae_naive_milli"),
        (
            F.sum(F.abs(F.col("n_events") - F.col("pred")))
            <= F.sum(F.abs(F.col("n_events") - F.col("naive")))
        ).alias("holt_beats_naive"),
    )


def _backtest_sql() -> str:
    return f"""
WITH holt AS ({FORECAST_HOLT_SQL}),
lagged AS (
  SELECT event_type, day_us, n_events,
         LAG(forecast_next) OVER (PARTITION BY event_type ORDER BY day_us) AS pred,
         LAG(n_events) OVER (PARTITION BY event_type ORDER BY day_us) AS naive
  FROM holt
),
scored AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day_us DESC) AS rnk
    FROM lagged WHERE pred IS NOT NULL
  ) WHERE rnk <= {BACKTEST_DAYS}
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days_eval,
       CAST(SUM(ABS(n_events - pred)) * 1000 // COUNT(*) AS BIGINT) AS mae_holt_milli,
       CAST(SUM(ABS(n_events - naive)) * 1000 // COUNT(*) AS BIGINT) AS mae_naive_milli,
       SUM(ABS(n_events - pred)) <= SUM(ABS(n_events - naive)) AS holt_beats_naive
FROM scored
GROUP BY event_type
"""


FORECAST_BACKTEST_SQL = _backtest_sql()


ENTROPY_TOPK = 20


def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity entropy per user, lowest-K review queue — the
    distribution-shape companion to events_bot_detection's timing
    regularity: a script hammering one endpoint has near-zero entropy
    over its event-type distribution no matter how human its pacing.

    H_milli = Σ_t c_t·(lnm(n) − lnm(c_t)) div n with lnm(x) =
    floor(1000·ln x) — one transcendental per integer, floor-quantized
    once (the doc_zipf_fit discipline), everything else exact int64, so
    the score is reproducible bit-for-bit. Output: the ENTROPY_TOPK
    lowest-entropy users (H asc, user asc) via a distributed top-K
    (TakeOrderedAndProject — never a global single-partition window).
    """
    ev = read_events(spark, sf_dir)
    cells = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    lnm = "CAST(FLOOR(1000 * ln({})) AS BIGINT)"
    per = (
        cells.withColumn(
            "n", F.sum("c").over(Window.partitionBy("user_id"))
        )
        .select(
            "user_id",
            "n",
            F.expr(
                f"c * ({lnm.format('n')} - {lnm.format('c')})"
            ).alias("term"),
        )
        .groupBy("user_id", "n")
        .agg(F.expr("sum(term) div n").alias("entropy_milli"))
    )
    return (
        per.select(
            "user_id",
            F.col("n").alias("n_events"),
            "entropy_milli",
        )
        .orderBy(F.col("entropy_milli").asc(), F.col("user_id").asc())
        .limit(ENTROPY_TOPK)
    )


USER_ENTROPY_SQL = f"""
WITH cells AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
per AS (
  SELECT user_id, SUM(c) OVER (PARTITION BY user_id) AS n, c
  FROM cells
),
h AS (
  SELECT user_id, n,
         SUM(c * (CAST(FLOOR(1000 * ln(n)) AS BIGINT)
                - CAST(FLOOR(1000 * ln(c)) AS BIGINT))) // n AS entropy_milli
  FROM per GROUP BY user_id, n
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       CAST(entropy_milli AS BIGINT) AS entropy_milli
FROM h
ORDER BY entropy_milli ASC, user_id ASC
LIMIT {ENTROPY_TOPK}
"""


# --- events_markov_attribution_removal: Markov removal-effect attribution --

MARKOV_STEPS = 6  # propagation horizon: mass still in transit after 6
#                   hops is negligible for attribution SHARES (documented)
MARKOV_M = 1_000_000


def events_markov_attribution_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov REMOVAL-EFFECT attribution — the model-based rung above the
    positional heuristics (first/last/linear in
    events_multitouch_attribution): build the journey transition chain
    (START → channels → purchase | NULL, purchase absorbing), evaluate
    the chain's conversion mass, then RE-EVALUATE it with each channel
    deleted; a channel's credit is how much conversion disappears
    without it. Removal punishes pass-through channels that positional
    rules over-credit.

    Journeys: per user, ordered events split AT each purchase (the
    conversion ends a journey); START opens every journey, a journey
    that ends unconverted exits to NULL. Probabilities are exact micro
    ratios; conversion mass is propagated MARKOV_STEPS hops with
    purchase/NULL self-loops (absorbing), every hop an exact
    ``(mass * p) div M`` fold — both engines floor identically, so the
    whole evaluation is integer-deterministic. Mass still in transit
    after the horizon is dropped on every variant alike (shares are
    insensitive; the full-chain residual is reported via conv_full).

    Scale shape: the corpus-sized work is ONE user-window pass to build
    transitions; the chain itself is |states|²-bounded, and all five
    variant evaluations ride one tagged frame (variant column) through
    the same six bounded joins — adding a channel adds rows, not stages.
    """
    return markov_removal_from_seq(spark, journey_seq(read_events(spark, sf_dir)))


def markov_removal_from_seq(spark: SparkSession, seq: DataFrame) -> DataFrame:
    """events_markov_attribution_removal's chain build + variant
    evaluation over a caller-supplied journey frame (the journey_seq
    contract: ``seg`` is the journey id)."""
    from pyspark.sql.window import Window

    wg = Window.partitionBy("user_id", "seg").orderBy("ts_us", "event_id")
    tr_mid = (
        seq.withColumn("nxt", F.lead("event_type").over(wg))
        .select(
            F.col("event_type").alias("src"),
            F.when(F.col("nxt").isNotNull(), F.col("nxt"))
            .when(F.col("event_type") == "purchase", None)
            .otherwise(F.lit("NULL"))
            .alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    firsts = (
        seq.withColumn(
            "rn", F.row_number().over(wg)
        )
        .filter(F.col("rn") == 1)
        .select(F.lit("START").alias("src"), F.col("event_type").alias("dst"))
    )
    counts = (
        tr_mid.union(firsts)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("tot", F.sum("c").over(Window.partitionBy("src")))
        .withColumn("p_micro", F.expr(f"(c * {MARKOV_M}) div tot"))
        .select("src", "dst", "p_micro")
    )
    loops = spark.createDataFrame(
        [("purchase", "purchase", MARKOV_M), ("NULL", "NULL", MARKOV_M)],
        "src string, dst string, p_micro long",
    )
    edges = counts.union(loops).localCheckpoint()
    channels = (
        edges.select(F.col("src").alias("channel"))
        .filter(~F.col("channel").isin("START", "purchase", "NULL"))
        .distinct()
    )
    variants = channels.select(F.col("channel").alias("variant")).union(
        spark.createDataFrame([("FULL",)], "variant string")
    )
    tagged = (
        variants.crossJoin(F.broadcast(edges))
        .filter(
            (F.col("variant") == "FULL")
            | ((F.col("src") != F.col("variant")) & (F.col("dst") != F.col("variant")))
        )
        .localCheckpoint()
    )
    v = variants.select(
        "variant", F.lit("START").alias("state"), F.lit(MARKOV_M).alias("mass")
    )
    for _ in range(MARKOV_STEPS):
        v = (
            v.alias("v")
            .join(
                tagged.alias("t"),
                (F.col("v.variant") == F.col("t.variant"))
                & (F.col("v.state") == F.col("t.src")),
            )
            .groupBy(
                F.col("t.variant").alias("variant"),
                F.col("t.dst").alias("state"),
            )
            .agg(F.expr(f"sum((mass * p_micro) div {MARKOV_M})").alias("mass"))
        )
    conv = v.filter(F.col("state") == "purchase").select(
        "variant", F.col("mass").alias("conv_micro")
    )
    full = conv.filter(F.col("variant") == "FULL").select(
        F.col("conv_micro").alias("conv_full_micro")
    )
    eff = (
        conv.filter(F.col("variant") != "FULL")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("variant").alias("channel"),
            "conv_full_micro",
            F.col("conv_micro").alias("conv_removed_micro"),
            F.greatest(
                F.lit(0).cast("long"),
                F.col("conv_full_micro") - F.col("conv_micro"),
            ).alias("removal_effect_micro"),
        )
    )
    return eff.select(
        "channel",
        "conv_full_micro",
        "conv_removed_micro",
        "removal_effect_micro",
        F.expr(
            "(removal_effect_micro * 1000000) div "
            "greatest(1, sum(removal_effect_micro) over ())"
        ).alias("attribution_ppm"),
    )


def _markov_sql() -> str:
    steps = []
    for k in range(1, MARKOV_STEPS + 1):
        steps.append(
            f"v{k} AS (SELECT t.variant, t.dst AS state, "
            f"SUM(v.mass * t.p_micro // {MARKOV_M}) AS mass "
            f"FROM v{k - 1} v JOIN tagged t ON t.variant = v.variant "
            f"AND t.src = v.state GROUP BY 1, 2)"
        )
    steps_sql = ",\n".join(steps)
    return f"""
WITH seq AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS journey
  FROM events
),
tr_mid AS (
  SELECT src, dst FROM (
    SELECT event_type AS src,
           CASE WHEN nxt IS NOT NULL THEN nxt
                WHEN event_type = 'purchase' THEN NULL
                ELSE 'NULL' END AS dst
    FROM (SELECT *, LEAD(event_type) OVER (
            PARTITION BY user_id, journey ORDER BY ts_us, event_id) AS nxt
          FROM seq)
  ) WHERE dst IS NOT NULL
),
firsts AS (
  SELECT 'START' AS src, event_type AS dst FROM (
    SELECT event_type, ROW_NUMBER() OVER (
      PARTITION BY user_id, journey ORDER BY ts_us, event_id) AS rn
    FROM seq
  ) WHERE rn = 1
),
counts AS (
  SELECT src, dst,
         (COUNT(*) * {MARKOV_M}) // SUM(COUNT(*)) OVER (PARTITION BY src) AS p_micro
  FROM (SELECT * FROM tr_mid UNION ALL SELECT * FROM firsts)
  GROUP BY src, dst
),
edges AS (
  SELECT * FROM counts
  UNION ALL SELECT 'purchase', 'purchase', {MARKOV_M}
  UNION ALL SELECT 'NULL', 'NULL', {MARKOV_M}
),
channels AS (
  SELECT DISTINCT src AS channel FROM edges
  WHERE src NOT IN ('START', 'purchase', 'NULL')
),
variants AS (SELECT channel AS variant FROM channels UNION ALL SELECT 'FULL'),
tagged AS (
  SELECT v.variant, e.src, e.dst, e.p_micro
  FROM variants v CROSS JOIN edges e
  WHERE v.variant = 'FULL' OR (e.src <> v.variant AND e.dst <> v.variant)
),
v0 AS (SELECT variant, 'START' AS state, CAST({MARKOV_M} AS BIGINT) AS mass
       FROM variants),
{steps_sql},
conv AS (
  SELECT variant, mass AS conv_micro FROM v{MARKOV_STEPS}
  WHERE state = 'purchase'
),
eff AS (
  SELECT c.variant AS channel,
         f.conv_micro AS conv_full_micro,
         c.conv_micro AS conv_removed_micro,
         GREATEST(0, f.conv_micro - c.conv_micro) AS removal_effect_micro
  FROM conv c CROSS JOIN (SELECT conv_micro FROM conv WHERE variant = 'FULL') f
  WHERE c.variant <> 'FULL'
)
SELECT channel,
       CAST(conv_full_micro AS BIGINT) AS conv_full_micro,
       CAST(conv_removed_micro AS BIGINT) AS conv_removed_micro,
       CAST(removal_effect_micro AS BIGINT) AS removal_effect_micro,
       CAST((removal_effect_micro * 1000000) //
            GREATEST(1, SUM(removal_effect_micro) OVER ()) AS BIGINT) AS attribution_ppm
FROM eff
"""


MARKOV_REMOVAL_SQL = _markov_sql()


def events_attribution_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every attribution method side-by-side — the methods table that
    stops "which model should we use" debates with numbers (the
    dedup_strategy_comparison of the attribution tier): per channel the
    credit share in ppm under FIRST-touch, LAST-touch, LINEAR
    (multi-touch revenue split), and MARKOV removal effect. Positional
    methods over-credit path endpoints; linear dilutes; removal measures
    counterfactual contribution — the SPREAD across columns is the
    decision risk of picking one model blindly.

    First/last use the same segment partition as the linear operator
    (segment = running count of strictly earlier purchases, so each
    purchase credits only its own journey); per purchase the argmin /
    argmax touch by (ts, event_id) — deterministic. Linear shares come
    from the oracled multitouch operator (organic excluded), Markov from
    the oracled removal operator; this table is their composition plus
    two bounded window passes.
    """
    # NOT checkpointed: the journey frame is corpus-wide, and measured
    # at sf0.1 the eager materialization (write + 3 re-reads) costs MORE
    # than letting each branch re-run the one cheap window pass over the
    # pruned scan (6.5 s vs 8.0 s standalone) — the strategy_comparison
    # lever pays off only for SMALL shared frames (2-col shingle hashes),
    # not corpus-wide ones. The kernels still guarantee the three
    # methods read the IDENTICAL journey definition.
    seq = journey_seq(read_events(spark, sf_dir))
    touches = seq.filter(F.col("event_type") != "purchase").select(
        "user_id", "seg", "event_type", "ts_us", "event_id"
    )
    purchases = seq.filter(F.col("event_type") == "purchase").select(
        "user_id", "seg", F.col("ts_us").alias("pts"),
        F.col("event_id").alias("pid"),
    )
    j = purchases.join(touches, ["user_id", "seg"]).filter(
        F.col("ts_us") < F.col("pts")
    )
    ends = j.groupBy("user_id", "pid").agg(
        F.expr("min_by(event_type, struct(ts_us, event_id))").alias("first_t"),
        F.expr("max_by(event_type, struct(ts_us, event_id))").alias("last_t"),
    )
    firsts = ends.groupBy(F.col("first_t").alias("channel")).agg(
        F.count(F.lit(1)).alias("n_first")
    )
    lasts = ends.groupBy(F.col("last_t").alias("channel")).agg(
        F.count(F.lit(1)).alias("n_last")
    )
    linear = (
        multitouch_from_seq(seq)
        .filter(F.col("event_type") != "(organic)")
        .select(F.col("event_type").alias("channel"), "credit_milli")
    )
    markov = markov_removal_from_seq(spark, seq).select(
        F.col("channel"), F.col("attribution_ppm").alias("markov_ppm")
    )
    base = (
        linear.join(firsts, "channel", "left")
        .join(lasts, "channel", "left")
        .join(markov, "channel", "left")
        .na.fill({"n_first": 0, "n_last": 0, "markov_ppm": 0})
    )
    tot = base.agg(
        F.sum("n_first").alias("tf"),
        F.sum("n_last").alias("tl"),
        F.sum("credit_milli").alias("tc"),
    )
    return (
        base.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            F.expr("(n_first * 1000000) div greatest(1, tf)").alias("first_ppm"),
            F.expr("(n_last * 1000000) div greatest(1, tl)").alias("last_ppm"),
            F.expr("(credit_milli * 1000000) div greatest(1, tc)").alias(
                "linear_ppm"
            ),
            "markov_ppm",
        )
    )


def _attribution_comparison_sql() -> str:
    return f"""
WITH seq AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
  FROM events
),
touches AS (
  SELECT user_id, seg, event_type, ts_us, event_id
  FROM seq WHERE event_type <> 'purchase'
),
purchases AS (
  SELECT user_id, seg, ts_us AS pts, event_id AS pid
  FROM seq WHERE event_type = 'purchase'
),
ranked AS (
  SELECT p.user_id, p.pid, t.event_type,
         ROW_NUMBER() OVER (PARTITION BY p.user_id, p.pid
                            ORDER BY t.ts_us ASC, t.event_id ASC) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY p.user_id, p.pid
                            ORDER BY t.ts_us DESC, t.event_id DESC) AS rn_d
  FROM purchases p JOIN touches t USING (user_id, seg)
  WHERE t.ts_us < p.pts
),
firsts AS (SELECT event_type AS channel, COUNT(*) AS n_first
           FROM ranked WHERE rn_a = 1 GROUP BY 1),
lasts AS (SELECT event_type AS channel, COUNT(*) AS n_last
          FROM ranked WHERE rn_d = 1 GROUP BY 1),
linear AS (
  SELECT event_type AS channel, credit_milli
  FROM ({MULTITOUCH_SQL}) WHERE event_type <> '(organic)'
),
markov AS (
  SELECT channel, attribution_ppm AS markov_ppm FROM ({MARKOV_REMOVAL_SQL})
),
base AS (
  SELECT l.channel,
         COALESCE(f.n_first, 0) AS n_first,
         COALESCE(s.n_last, 0) AS n_last,
         l.credit_milli,
         COALESCE(m.markov_ppm, 0) AS markov_ppm
  FROM linear l
  LEFT JOIN firsts f USING (channel)
  LEFT JOIN lasts s USING (channel)
  LEFT JOIN markov m USING (channel)
),
tot AS (
  SELECT SUM(n_first) AS tf, SUM(n_last) AS tl, SUM(credit_milli) AS tc
  FROM base
)
SELECT channel,
       CAST((n_first * 1000000) // GREATEST(1, tf) AS BIGINT) AS first_ppm,
       CAST((n_last * 1000000) // GREATEST(1, tl) AS BIGINT) AS last_ppm,
       CAST((credit_milli * 1000000) // GREATEST(1, tc) AS BIGINT) AS linear_ppm,
       CAST(markov_ppm AS BIGINT) AS markov_ppm
FROM base CROSS JOIN tot
"""


ATTRIBUTION_COMPARISON_SQL = _attribution_comparison_sql()


def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-Ratio-Mismatch check — the TRUST gate an experiment readout
    must pass BEFORE anyone reads its z statistic: if the md5 arm gate
    was supposed to split users 50/50 but the observed counts deviate
    beyond chance, the assignment (or the logging) is broken and the
    test result is garbage regardless of significance. Pearson chi²
    against the 50/50 expectation: with n_a + n_b = N and E = N/2,
    chi² = (n_a − n_b)²/N exactly — computed as an integer milli ratio;
    srm_suspected flags chi² > 3.841 (α=0.05, 1 df). One per-user agg +
    one global conditional agg; single row at any scale.
    """
    users = read_events(spark, sf_dir).select("user_id").distinct().select(_arm())
    return _arm_sums(users).select(
        "n_a",
        "n_b",
        F.expr(
            "((n_a - n_b) * (n_a - n_b) * 1000) div (n_a + n_b)"
        ).alias("chi2_milli"),
        (
            F.expr("((n_a - n_b) * (n_a - n_b) * 1000) div (n_a + n_b)")
            > 3841
        ).alias("srm_suspected"),
    )


AB_SRM_SQL = f"""
WITH per_user AS (SELECT DISTINCT user_id FROM events),
{_arm_sums_sql({})}
SELECT n_a, n_b,
       (n_a - n_b) * (n_a - n_b) * 1000 // (n_a + n_b) AS chi2_milli,
       (n_a - n_b) * (n_a - n_b) * 1000 // (n_a + n_b) > 3841 AS srm_suspected
FROM s
"""


def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout over pre/post purchase revenue
    — the observational-causal rung of the experimentation ladder.

    events_cuped REGRESSES OUT pre-period behavior to shrink variance
    under randomization; DiD is the sibling estimator for when the
    parallel-trends assumption replaces randomization (staged rollouts,
    holdout markets): effect = (post_b − pre_b)/n_b − (post_a − pre_a)/
    n_a, i.e. the between-arm difference of per-user pre→post revenue
    DELTAS. Consumes the identical ``cuped_user_stats`` frame — the
    shared-kernel property again: the ST19 streaming CUPED state feeds
    this readout unchanged, and z/CUPED/stratified/sequential/DiD are
    all served from two state frames.

    Exactness: per-arm sufficient statistics (n, Σd, Σd²) are exact
    int64 on per-user deltas d = post_cents − pre_cents; the point
    estimate is an exact integer milli-cent value (two int64 floor
    divisions); the Welch-style standard error and z run through ONE
    identical double expression tree in both engines (sample variances
    from n·Σd² − (Σd)², the ab_power pattern), floor-quantized micro/
    milli; NULLIF guards the n ≤ 1 and zero-variance degeneracies (NULL
    statistics, not errors — the mSPRT lesson). int64 headroom: Σd² ~
    users · (per-user cents)² ~ 4e13 at sf0.1, linear in users.

    Scale shape: one corpus scan → map-side-combined per-user agg →
    1-row conditional global agg. No joins, no windows.
    """
    return did_readout(cuped_user_stats(read_events(spark, sf_dir)))


def _did_exprs() -> tuple[str, str]:
    var_a = (
        "((CAST(n_a AS DOUBLE) * CAST(sdd_a AS DOUBLE)"
        " - CAST(sd_a AS DOUBLE) * CAST(sd_a AS DOUBLE))"
        " / NULLIF(CAST(n_a AS DOUBLE) * (n_a - 1.0), 0.0))"
    )
    var_b = (
        "((CAST(n_b AS DOUBLE) * CAST(sdd_b AS DOUBLE)"
        " - CAST(sd_b AS DOUBLE) * CAST(sd_b AS DOUBLE))"
        " / NULLIF(CAST(n_b AS DOUBLE) * (n_b - 1.0), 0.0))"
    )
    se = f"sqrt({var_a} / n_a + {var_b} / n_b)"
    z = (
        f"((CAST(sd_b AS DOUBLE) / n_b - CAST(sd_a AS DOUBLE) / n_a)"
        f" / NULLIF({se}, 0.0))"
    )
    return se, z


def did_readout(per_user: DataFrame) -> DataFrame:
    """One-row DiD readout from a (user_id, pre_cents, post_cents)
    frame (batch or the ST19 streaming state — the shared kernel)."""
    armed = per_user.select(
        _arm(),
        (F.col("post_cents") - F.col("pre_cents")).alias("d"),
        "pre_cents",
        "post_cents",
    )
    s = _arm_sums(
        armed,
        {
            "pre": F.col("pre_cents"),
            "post": F.col("post_cents"),
            "sd": F.col("d"),
            "sdd": F.col("d") * F.col("d"),
        },
    )
    se, z = _did_exprs()
    return s.select(
        "n_a",
        "n_b",
        F.expr("(pre_a * 1000) div n_a").alias("pre_mean_a_milli"),
        F.expr("(pre_b * 1000) div n_b").alias("pre_mean_b_milli"),
        F.expr("(post_a * 1000) div n_a").alias("post_mean_a_milli"),
        F.expr("(post_b * 1000) div n_b").alias("post_mean_b_milli"),
        F.expr("(sd_b * 1000) div n_b - (sd_a * 1000) div n_a").alias(
            "did_milli"
        ),
        F.expr(f"CAST(FLOOR({se} * 1000000) AS BIGINT)").alias("se_micro"),
        F.expr(f"CAST(FLOOR({z} * 1000) AS BIGINT)").alias("z_milli"),
    )


def _did_sql() -> str:
    se, z = _did_exprs()
    d = "(post_cents - pre_cents)"
    sums = {"pre": "pre_cents", "post": "post_cents", "sd": d, "sdd": f"{d} * {d}"}
    return f"""
WITH {_CENTS_USERS_SQL},
{_arm_sums_sql(sums)}
SELECT n_a, n_b,
       (pre_a * 1000) // n_a AS pre_mean_a_milli,
       (pre_b * 1000) // n_b AS pre_mean_b_milli,
       (post_a * 1000) // n_a AS post_mean_a_milli,
       (post_b * 1000) // n_b AS post_mean_b_milli,
       (sd_b * 1000) // n_b - (sd_a * 1000) // n_a AS did_milli,
       CAST(FLOOR({se} * 1000000) AS BIGINT) AS se_micro,
       CAST(FLOOR({z} * 1000) AS BIGINT) AS z_milli
FROM s
"""


DIFF_IN_DIFF_SQL = _did_sql()


def events_interarrival_exponentiality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KS goodness-of-fit of per-user inter-arrival gaps against the
    exponential law fitted by its own mean — the PROCESS-MODEL rung of
    the events DQ tier (periodicity reads cyclic structure, burst
    detection local spikes; this asks the prior question: is the event
    stream even Poisson? Replay artifacts, batched client flushes, and
    bot schedulers all break exponentiality before they break anything
    else).

    Gaps are per-user consecutive deltas (the sessionize lag shape)
    bucketed to whole MINUTES, so the value grid is bounded by the
    time-range in minutes — never the event count (the ks_drift
    discipline). λ is fitted as 1/mean from the exact integer gap sum;
    per distinct gap value the deviation |F_emp − F_exp| is computed as
    one integer micro difference (F_emp = cum·1e6 div n exact; F_exp =
    floor((1 − exp(−g·n/Σg))·1e6), one identical double tree both
    engines — both step functions evaluated AT the bucket value, the
    documented convention), maximized with smallest-gap tie-break.
    ks_lambda_milli = D·sqrt(n) quantized; an all-zero-gap corpus
    (Σg = 0) reads NULL via NULLIF, never an error.

    Scale shape: one per-user lag window (the accepted sessionize
    class), one map-side-combined groupBy(gap), one running window over
    minute-grain rows, a 1-row totals broadcast cross (allowlisted),
    one TakeOrderedAndProject(1).
    """
    from pyspark.sql.window import Window

    ev = read_events(spark, sf_dir)
    w_u = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = (
        ev.select(
            (
                (F.col("ts_us") - F.lag("ts_us", 1).over(w_u))
                / F.lit(1)
            ).cast("long").alias("gap_us")
        )
        .filter(F.col("gap_us").isNotNull())
        .select(F.expr("gap_us div 60000000").alias("g"))
    )
    vals = gaps.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    return exponentiality_from_vals(vals)


def exponentiality_from_vals(vals: DataFrame) -> DataFrame:
    """The KS-vs-exponential readout over a (g, c) minute-grain gap
    histogram — shared verbatim by the registered batch query and the
    ST20 streaming gap-histogram state so the two readouts are
    byte-identical by construction (the ST19 pattern)."""
    w_cum = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
    cums = vals.select(
        "g", F.sum("c").over(w_cum).alias("cum")
    )
    tot = vals.agg(
        F.sum("c").alias("n"), F.sum(F.col("g") * F.col("c")).alias("sg")
    )
    f_exp = (
        "CAST(FLOOR((1.0 - exp(-(CAST(g AS DOUBLE) * n)"
        " / NULLIF(CAST(sg AS DOUBLE), 0.0))) * 1000000) AS BIGINT)"
    )
    scored = cums.crossJoin(F.broadcast(tot)).select(
        "g",
        "n",
        "sg",
        F.expr(f"abs((cum * 1000000) div n - {f_exp})").alias("d_micro"),
    )
    lam = "(CAST(d_micro AS DOUBLE) / 1000000.0 * sqrt(CAST(n AS DOUBLE)))"
    return (
        scored.orderBy(F.desc("d_micro"), "g")
        .limit(1)
        .select(
            F.col("n").alias("n_gaps"),
            F.col("sg").alias("sum_gap_min"),
            "d_micro",
            F.col("g").alias("at_gap_min"),
            F.expr(f"CAST(FLOOR({lam} * 1000) AS BIGINT)").alias(
                "ks_lambda_milli"
            ),
        )
    )


INTERARRIVAL_EXP_SQL = """
WITH gaps AS (
  SELECT (epoch_us(ts) - LAG(epoch_us(ts)) OVER (
            PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
         // 60000000 AS g
  FROM events
),
vals AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM gaps WHERE g IS NOT NULL
  GROUP BY 1
),
cums AS (
  SELECT g, CAST(SUM(c) OVER (ORDER BY g
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM vals
),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(g * c) AS BIGINT) AS sg
  FROM vals
),
scored AS (
  SELECT g, n, sg,
         abs((cum * 1000000) // n
             - CAST(FLOOR((1.0 - exp(-(CAST(g AS DOUBLE) * n)
                   / NULLIF(CAST(sg AS DOUBLE), 0.0))) * 1000000) AS BIGINT))
           AS d_micro
  FROM cums CROSS JOIN tot
)
SELECT n AS n_gaps, sg AS sum_gap_min, d_micro, g AS at_gap_min,
       CAST(FLOOR(CAST(d_micro AS DOUBLE) / 1000000.0
            * sqrt(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS ks_lambda_milli
FROM scored
ORDER BY d_micro DESC, g
LIMIT 1
"""


QUERIES = {
    "events_interarrival_exponentiality": events_interarrival_exponentiality,
    "events_attribution_latency": events_attribution_latency,
    "sessions_campaign_overlap": sessions_campaign_overlap,
    "events_transition_matrix": events_transition_matrix,
    "events_user_paths": events_user_paths,
    "events_salted_rollup": events_salted_rollup,
    "events_sliding_trend": events_sliding_trend,
    "events_hourly_rollup": events_hourly_rollup,
    "events_hourly_anomaly": events_hourly_anomaly,
    "events_concurrency": events_concurrency,
    "events_dau_wau": events_dau_wau,
    "events_sessionize": events_sessionize,
    "events_json_props": events_json_props,
    "events_funnel": events_funnel,
    "events_windowed_funnel": events_windowed_funnel,
    "events_key_skew_report": events_key_skew_report,
    "events_burst_detection": events_burst_detection,
    "events_asof_attribution": events_asof_attribution,
    "events_rollup_multigrain": events_rollup_multigrain,
    "events_value_quantiles": events_value_quantiles,
    "events_type_pivot": events_type_pivot,
    "events_purchase_context": events_purchase_context,
    "events_cube": events_cube,
    "events_distinct_sketch": events_distinct_sketch,
    "events_segment_lattice": events_segment_lattice,
    "events_retention_triangle": events_retention_triangle,
    "events_quantile_sketch": events_quantile_sketch,
    "events_cms_topk": events_cms_topk,
    "events_forecast_holt": events_forecast_holt,
    "events_changepoint": events_changepoint,
    "events_bot_detection": events_bot_detection,
    "events_periodicity": events_periodicity,
    "events_ab_test": events_ab_test,
    "events_multitouch_attribution": events_multitouch_attribution,
    "events_ab_power": events_ab_power,
    "events_theta_overlap": events_theta_overlap,
    "events_next_event_prediction": events_next_event_prediction,
    "events_markov_attribution_removal": events_markov_attribution_removal,
    "events_forecast_backtest": events_forecast_backtest,
    "events_user_entropy": events_user_entropy,
    "events_attribution_comparison": events_attribution_comparison,
    "events_ab_srm_check": events_ab_srm_check,
    "events_mde_curve": events_mde_curve,
    "events_cuped": events_cuped,
    "events_cuped_stratified": events_cuped_stratified,
    "events_diff_in_diff": events_diff_in_diff,
    "events_ab_sequential": events_ab_sequential,
    "events_holt_winters": events_holt_winters,
}

ORACLES = {
    "events_interarrival_exponentiality": INTERARRIVAL_EXP_SQL,
    "events_attribution_latency": ATTRIBUTION_LATENCY_SQL,
    "sessions_campaign_overlap": SESSIONS_CAMPAIGN_OVERLAP_SQL,
    "events_transition_matrix": TRANSITION_MATRIX_SQL,
    "events_user_paths": USER_PATHS_SQL,
    "events_salted_rollup": EVENTS_SALTED_ROLLUP_SQL,
    "events_sliding_trend": SLIDING_TREND_SQL,
    "events_hourly_rollup": HOURLY_SQL,
    "events_hourly_anomaly": ANOMALY_SQL,
    "events_concurrency": CONCURRENCY_SQL,
    "events_dau_wau": DAU_WAU_SQL,
    "events_sessionize": SESSIONIZE_SQL,
    "events_json_props": JSON_PROPS_SQL,
    "events_funnel": FUNNEL_SQL,
    "events_windowed_funnel": WINDOWED_FUNNEL_SQL,
    "events_key_skew_report": KEY_SKEW_REPORT_SQL,
    "events_burst_detection": BURST_DETECTION_SQL,
    "events_asof_attribution": ASOF_SQL,
    "events_rollup_multigrain": MULTIGRAIN_SQL,
    "events_value_quantiles": QUANTILES_SQL,
    "events_type_pivot": PIVOT_SQL,
    "events_purchase_context": PURCHASE_CONTEXT_SQL,
    "events_cube": CUBE_SQL,
    "events_retention_triangle": RETENTION_TRIANGLE_SQL,
    # sketch monitors: full oracles via invariant accuracy verdicts (the
    # oracle's literal TRUEs turn each driver run into an enforcement of
    # the sketch error bound)
    "events_distinct_sketch": DSKETCH_SQL,
    "events_quantile_sketch": QSKETCH_SQL,
    "events_segment_lattice": SEGMENT_LATTICE_SQL,
    # count-min: md5-slice hashes make the sketch table AND the estimates
    # reproduce bit-for-bit in SQL — full value parity, not a verdict
    "events_cms_topk": CMS_TOPK_SQL,
    "events_forecast_holt": FORECAST_HOLT_SQL,
    "events_changepoint": CHANGEPOINT_SQL,
    "events_bot_detection": BOT_DETECTION_SQL,
    "events_periodicity": PERIODICITY_SQL,
    "events_ab_test": AB_TEST_SQL,
    "events_multitouch_attribution": MULTITOUCH_SQL,
    "events_ab_power": AB_POWER_SQL,
    "events_theta_overlap": THETA_OVERLAP_SQL,
    "events_next_event_prediction": NEXT_EVENT_SQL,
    "events_markov_attribution_removal": MARKOV_REMOVAL_SQL,
    "events_forecast_backtest": FORECAST_BACKTEST_SQL,
    "events_user_entropy": USER_ENTROPY_SQL,
    "events_attribution_comparison": ATTRIBUTION_COMPARISON_SQL,
    "events_ab_srm_check": AB_SRM_SQL,
    "events_mde_curve": MDE_CURVE_SQL,
    "events_cuped": CUPED_SQL,
    "events_cuped_stratified": CUPED_STRATIFIED_SQL,
    "events_diff_in_diff": DIFF_IN_DIFF_SQL,
    "events_ab_sequential": AB_SEQUENTIAL_SQL,
    "events_holt_winters": HOLT_WINTERS_SQL,
}
