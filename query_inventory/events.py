"""Event-time queries over the ``events`` table: JSON fields, tumbling,
session and sliding windows, as-of and interval joins, Z-order layout.

Each query's DuckDB twin is the ``@oracle`` SQL right above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deidentify_spark.operators.joins import asof_join, bucketed_interval_join
from deidentify_spark.operators.layout import with_zvalue, zvalue_oracle_sql
from query_inventory._base import _t, oracle


@oracle("""
            SELECT event_type,
                   ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
                   COUNT(*) AS n_events
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """)
def json_events_avg_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@oracle("""
            SELECT strftime(time_bucket(INTERVAL '10 minutes', ts),
                            '%Y-%m-%d %H:%M') AS win_start,
                   event_type,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 2) AS sum_value
            FROM events
            GROUP BY 1, 2
            ORDER BY win_start, event_type
        """)
def events_tumbling_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("win_start", "event_type")
    )


@oracle("""
            WITH g AS (
                SELECT user_id, ts, value, event_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
                SELECT user_id, ts, value,
                       SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
                FROM g
            )
            SELECT user_id,
                   strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 2) AS sum_value
            FROM s GROUP BY user_id, sid
            ORDER BY user_id, session_start
        """)
def sessionization_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user via session_window (the batch
    equivalent of the Structured Streaming sessionization)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format(
                F.col("w.start"), "yyyy-MM-dd HH:mm:ss"
            ).alias("session_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


# textbook correlated formulation — deliberately NOT the Spark
# plan shape (union + fill-forward window), so the two engines
# agree only if the as-of semantics themselves are right
@oracle("""
            SELECT c.event_id, c.user_id, v.event_id AS view_event_id,
                   epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
            FROM events c
            LEFT JOIN LATERAL (
                SELECT event_id, ts FROM events v
                WHERE v.user_id = c.user_id
                  AND v.event_type = 'view'
                  AND v.ts <= c.ts
                ORDER BY v.ts DESC, v.event_id DESC LIMIT 1
            ) v ON TRUE
            WHERE c.event_type = 'click'
            ORDER BY c.event_id
        """)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/joins.py): every click event is
    matched to the latest view event of the same user at or before it,
    with the time lag in exact integer microseconds.  Spark side is the
    union + single-key-shuffle + fill-forward window plan (NO join node,
    no correlated scan); the DuckDB oracle is the textbook correlated
    LATERAL ... ORDER BY ts DESC LIMIT 1 — two independent formulations
    that must agree row-for-row, including NULLs for clicks with no
    prior view and the (ts, event_id) tie-break."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view")
    res = asof_join(
        clicks,
        views,
        keys=["user_id"],
        ts_col="ts",
        payload_cols=["event_id", "ts"],
        tie_col="event_id",
        payload_prefix="view_",
    )
    return res.select(
        "event_id",
        "user_id",
        "view_event_id",
        # parquet ts is TIMESTAMP_NTZ; the two same-session-tz casts
        # shift identically, so the difference is the exact NTZ lag
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("view_ts").cast("timestamp"))
        ).alias("lag_us"),
    ).orderBy("event_id")


# plain theta join — the Spark side's bucketed equi-join rewrite
# must reproduce it exactly, overlaps and boundaries included
@oracle("""
            WITH iv AS (
                SELECT i AS interval_id,
                       TIMESTAMP '2024-01-01 00:00:00'
                         + to_hours(i * 4) AS start_ts,
                       TIMESTAMP '2024-01-01 00:00:00'
                         + to_hours(i * 4 + 3 + i % 5) AS end_ts
                FROM range(24) t(i)
            )
            SELECT interval_id, COUNT(*) AS n_events,
                   ROUND(SUM(value), 2) AS sum_value
            FROM events e JOIN iv
              ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
            GROUP BY interval_id
            ORDER BY interval_id
        """)
def interval_attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join via the bucketed equi-join rewrite
    (operators/joins.py): 24 deliberately-OVERLAPPING campaign windows
    (start = 4h grid, length 3-7h) each count the events they contain.
    The Spark plan is a hash equi-join on auto-sized time buckets
    (median interval length, in-plan approx percentile) plus a residual
    range filter — no BroadcastNestedLoop, no cartesian — while
    the oracle is the plain THETA join ``ts >= start AND ts < end``.
    Overlap means most events land in 2 intervals, so any bucketing or
    boundary bug (inclusive/exclusive, straddling end-bucket) shifts
    counts."""
    ev = _t(spark, sf_dir, "events")
    base = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    iv = spark.range(24).select(
        F.col("id").alias("interval_id"),
        (base + F.make_interval(hours=(F.col("id") * 4).cast("int"))).alias(
            "start_ts"
        ),
        (
            base
            + F.make_interval(
                hours=(F.col("id") * 4 + 3 + F.col("id") % 5).cast("int")
            )
        ).alias("end_ts"),
    )
    # auto-sized bucket width (median interval length via approx
    # percentile, computed in-plan) — the default scale posture
    joined = bucketed_interval_join(ev, iv, "ts", "start_ts", "end_ts")
    return (
        joined.groupBy("interval_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("interval_id")
    )


@oracle("""
            SELECT c.event_id, c.user_id, v.event_id AS view_event_id,
                   epoch_us(v.ts) - epoch_us(c.ts) AS lead_us
            FROM events c
            LEFT JOIN LATERAL (
                SELECT event_id, ts FROM events v
                WHERE v.user_id = c.user_id
                  AND v.event_type = 'view'
                  AND v.ts >= c.ts
                ORDER BY v.ts ASC, v.event_id ASC LIMIT 1
            ) v ON TRUE
            WHERE c.event_type = 'click'
            ORDER BY c.event_id
        """)
def asof_forward_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-direction as-of join (the mirror of asof_join_events):
    every click matched to the EARLIEST view of the same user at or
    after it, ties to the smallest event_id.  Exercises the
    direction='forward' window (first over unbounded-following) against
    the textbook forward LATERAL."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view")
    res = asof_join(
        clicks,
        views,
        keys=["user_id"],
        ts_col="ts",
        payload_cols=["event_id", "ts"],
        tie_col="event_id",
        payload_prefix="view_",
        direction="forward",
    )
    return res.select(
        "event_id",
        "user_id",
        "view_event_id",
        (
            F.unix_micros(F.col("view_ts").cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("lead_us"),
    ).orderBy("event_id")


@oracle("""
            WITH wins AS (
                SELECT unnest([
                    time_bucket(INTERVAL '10 minutes', ts),
                    time_bucket(INTERVAL '10 minutes', ts) - INTERVAL '10 minutes'
                ]) AS win_start
                FROM events
            )
            SELECT strftime(win_start, '%Y-%m-%d %H:%M') AS win_start,
                   COUNT(*) AS n_events
            FROM wins GROUP BY 1 ORDER BY win_start
        """)
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-minute windows sliding by 10 minutes (each event in 2 windows)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "20 minutes", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("win_start"),
            "n_events",
        )
        .orderBy("win_start")
    )


def _zorder_events_sql() -> str:
    zexpr = zvalue_oracle_sql(
        "events",
        ["ts", "user_id"],
        bits=8,
        numeric_exprs={
            # mirror joins._epoch_s: physical epoch seconds, then the
            # double cast Spark's bucket math applies
            "ts": "CAST(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS DOUBLE)",
            "user_id": "CAST(user_id AS DOUBLE)",
        },
    )
    return f"""
        SELECT event_id, ({zexpr}) AS zval
        FROM events
        ORDER BY event_id
    """


@oracle(_zorder_events_sql)
def zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-value computation for multi-column data-skipping layout
    (§2.G write path; operators/layout.py). The zval is pure map-side
    bit arithmetic over exact global min/max (two scalar aggregates
    broadcast-crossJoined); the full layout op range-partitions on it.
    Oracle: the identical bucketing + interleave generated as DuckDB
    bit-ops with scalar-subquery stats."""
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    return (
        with_zvalue(ev, ["ts", "user_id"], bits=8)
        .select("event_id", "zval")
        .orderBy("event_id")
    )
