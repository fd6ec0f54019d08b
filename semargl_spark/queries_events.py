"""Event-stream queries over the driver-provided ``events`` table —
the stable-ordering window and metrics aggregations of SURVEY.md §2.6-2.7
exercised on a real timestamped stream (FIXTURES.md §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

ORACLES: dict[str, str] = {}


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable event ordering per user + 30-minute session ids — the
    north_rule ordering window applied to event time."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ: route through TIMESTAMP; the DOUBLE cast keeps
    # sub-second precision — DuckDB's epoch() is fractional, and a
    # second-truncated gap would classify exact-30-minute boundaries
    # differently on the two sides
    epoch = F.col("ts").cast("timestamp").cast("double")
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return e.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("int").alias("seq"),
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("int").alias("session_id"),
    )


ORACLES["events_sessionize"] = """
WITH w AS (
  SELECT user_id, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
         CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events)
SELECT user_id, event_id, CAST(seq AS INT) AS seq,
       CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
FROM w
"""


def q_events_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type metrics rollup (counts, value stats) — the metrics-table
    aggregation shape of SURVEY.md §2.6."""
    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


ORACLES["events_metrics"] = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       round(SUM(value), 4) AS sum_value,
       round(MIN(value), 4) AS min_value,
       round(MAX(value), 4) AS max_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
"""


def q_events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column handling (SURVEY.md §2.10 json family): extract the
    props.k field and aggregate."""
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").cast("long").alias("n_k"),
            F.sum("k").cast("long").alias("sum_k"),
        )
    )


ORACLES["events_props_json"] = """
SELECT event_type,
       CAST(COUNT(CAST(props->>'k' AS INT)) AS BIGINT) AS n_k,
       CAST(SUM(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
"""


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-inclusive as-of join (operators/asof.py): every event
    gets the most recent error event at-or-before it for the same user.
    One window shuffle on user_id — never the range-join cross product.
    The oracle is DuckDB's native ASOF JOIN over a (user_id, ts)-unique
    right side (deduped with max_by(event_id), matching the operator's
    tiebreak ordering)."""
    from .operators.asof import asof_join

    e = _events(spark, sf_dir)
    errs = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        e, errs, on="ts", by="user_id", value_cols=("value",), tiebreak="event_id"
    )
    err_us = F.unix_micros(F.col("asof_ts").cast("timestamp"))
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        err_us.alias("err_ts_us"),
        F.col("asof_value").alias("err_value"),
        (F.unix_micros(F.col("ts").cast("timestamp")) - err_us).alias("lag_us"),
    )


ORACLES["events_asof"] = """
WITH errs AS (
  SELECT user_id, ts, max_by(value, event_id) AS value
  FROM events WHERE event_type = 'error' GROUP BY user_id, ts)
SELECT l.event_id, l.user_id, l.event_type,
       epoch_us(r.ts) AS err_ts_us,
       r.value AS err_value,
       epoch_us(l.ts) - epoch_us(r.ts) AS lag_us
FROM events l ASOF LEFT JOIN errs r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_events_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join (operators/asof.py interval_join): every
    signup event opens a half-open 2-day window for its user; attach
    each event to every containing window. Executes as a bounded bucket
    explode + equi-join on (user_id, day-bucket) + exact containment
    filter — never the per-user range cross product the naive ON-clause
    would plan. The oracle is the plain (safe-at-small-scale) range
    join."""
    from .operators.asof import interval_join

    e = _events(spark, sf_dir)
    iv = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 DAYS")).alias("end_ts"),
    )
    out = interval_join(
        e.select("event_id", "user_id", "ts", "event_type"),
        iv,
        on="ts",
        by="user_id",
        bucket_seconds=86400,
    )
    return out.select(
        "event_id",
        "interval_id",
        "user_id",
        "event_type",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("start_ts").cast("timestamp"))
        ).alias("offset_us"),
    )


ORACLES["events_interval"] = """
WITH iv AS (
  SELECT user_id, event_id AS interval_id, ts AS start_ts,
         ts + INTERVAL 2 DAY AS end_ts
  FROM events WHERE event_type = 'signup')
SELECT e.event_id, iv.interval_id, e.user_id, e.event_type,
       epoch_us(e.ts) - epoch_us(iv.start_ts) AS offset_us
FROM events e JOIN iv
  ON e.user_id = iv.user_id AND e.ts >= iv.start_ts AND e.ts < iv.end_ts
"""


def funnel(
    events: DataFrame,
    steps: list[str],
    horizon: str | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel conversion: per user, step i+1 counts only if its
    FIRST qualifying event is strictly after the user's step-i
    completion time (and within ``horizon`` of it, when given — an
    INTERVAL literal like ``'3 DAY'``). Returns one row per step:
    (step_idx, step, users).

    Plan, per step: one type-filtered scan equi-joined to the previous
    step's (user, t) table, then a per-user min — k-1 hash joins + k
    hash aggregations for a k-step funnel, all keyed on the user id
    (uniform by construction; AQE broadcasts the completion table as it
    shrinks down-funnel, the common case). Never a window over a
    user's full history and never a self cross join — the per-user
    event multiset stays in the aggregation, so a 10^6-event bot user
    costs map-side partials, not memory."""
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    t, ty = F.col(ts_col), F.col(type_col)
    cur = (
        events.filter(ty == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t"))
    )
    tiers = [cur]
    for s in steps[1:]:
        nxt = (
            events.filter(ty == s)
            .join(cur.withColumnRenamed("t", "prev_t"), on=user_col)
            .filter(
                (t > F.col("prev_t"))
                & (
                    t <= F.col("prev_t") + F.expr(f"INTERVAL {horizon}")
                    if horizon is not None
                    else F.lit(True)
                )
            )
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("t"))
        )
        tiers.append(nxt)
        cur = nxt
    out = None
    for i, (s, tier) in enumerate(zip(steps, tiers)):
        row = tier.agg(
            F.lit(i + 1).alias("step_idx"),
            F.lit(s).alias("step"),
            F.count("*").cast("long").alias("users"),
        )
        out = row if out is None else out.union(row)
    return out


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel with a 3-day per-step horizon:
    the canonical product-analytics operator (first-occurrence
    chaining, strictly ordered, horizon-bounded)."""
    return funnel(
        _events(spark, sf_dir), ["view", "click", "purchase"],
        horizon="3 DAY",
    )


ORACLES["events_funnel"] = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t FROM events e
  JOIN s1 ON e.user_id = s1.user_id
         AND e.ts > s1.t AND e.ts <= s1.t + INTERVAL 3 DAY
  WHERE e.event_type = 'click' GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t FROM events e
  JOIN s2 ON e.user_id = s2.user_id
         AND e.ts > s2.t AND e.ts <= s2.t + INTERVAL 3 DAY
  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT 1 AS step_idx, 'view' AS step, CAST(COUNT(*) AS BIGINT) AS users FROM s1
UNION ALL
SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM s2
UNION ALL
SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3
"""
