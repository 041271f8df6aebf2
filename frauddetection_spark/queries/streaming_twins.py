"""Batch twins of the streaming window operators (SURVEY.md §2.8 E7).

Each query here is the oracle-checked batch run of a window
semantics; the tumbling and sliding queries call the stream
definitions in frauddetection_spark/streaming/windows.py directly (a
batch plan drops the watermark), so the two cannot drift. Window
starts are emitted as epoch seconds (bigint) — tz-free,
dtype-drift-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frauddetection_spark.operators.rank import prefix_max
from frauddetection_spark.plans.registry import register
from frauddetection_spark.queries._util import t
from frauddetection_spark.streaming.windows import sliding_counts, tumbling_counts

SESSION_GAP_S = 30 * 60


# ---------------------------------------------------------------------------
# tumbling windows
# ---------------------------------------------------------------------------


@register(
    "q_tumbling_counts",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
               AS value_sum
    FROM events
    GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
)
def q_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling counts + exact-cents sums per event_type —
    window() is epoch-aligned, so batch and stream bucket identically.
    This is streaming.windows.tumbling_counts run as a batch."""
    return tumbling_counts(t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# sliding windows
# ---------------------------------------------------------------------------


@register(
    "q_sliding_counts",
    oracle="""
    WITH expanded AS (
        SELECT CAST(floor(epoch(ts) / 1800) * 1800 - k * 1800 AS BIGINT)
                   AS window_start,
               event_type
        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
    )
    SELECT window_start, event_type, count(*) AS n
    FROM expanded GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
)
def q_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min: each event belongs to two
    windows (the oracle derives both starts arithmetically — the
    definition window() implements). This is
    streaming.windows.sliding_counts run as a batch."""
    return sliding_counts(t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# session windows (gaps-and-islands form)
# ---------------------------------------------------------------------------


@register(
    "q_session_stats",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
        FROM events
    ),
    marked AS (
        SELECT *,
               CASE WHEN prev_ts IS NULL
                         OR epoch(ts) - epoch(prev_ts) > {SESSION_GAP_S}
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    numbered AS (
        SELECT user_id, ts, cents,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end,
           count(*) AS n_events,
           CAST(sum(cents) AS DOUBLE) / 100 AS value_sum
    FROM numbered
    GROUP BY 1, 2 ORDER BY user_id, session_id
    """,
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-min-gap activity sessions as gaps-and-islands
    (lag → new-session flag → running sum → group) — the relational
    decomposition of session_window(); the native operator runs on the
    stream path and parity is asserted in tests/test_streaming.py.
    Scale: both forms shuffle once on user_id."""
    e = t(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # (ts, event_id) is a TOTAL order: a ts-only running sum would make
    # session assignment tie-order-dependent (nondeterministic in both
    # engines) for duplicate timestamps at a session boundary.
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = (
        e.select(
            "user_id",
            "ts",
            "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .withColumn("prev_ts", F.lag("ts").over(w_order))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_ts").isNull()
                | (
                    F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
                    > SESSION_GAP_S
                ),
                1,
            ).otherwise(0),
        )
    )
    numbered = marked.withColumn("session_id", F.sum("is_new").over(w_run))
    return (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.unix_timestamp(F.min("ts")).alias("session_start"),
            F.unix_timestamp(F.max("ts")).alias("session_end"),
            F.count("*").alias("n_events"),
            (F.sum("cents").cast("double") / 100).alias("value_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Watermark-lateness diagnostic: would this delay drop data?
# ---------------------------------------------------------------------------


@register(
    "q_watermark_lateness",
    oracle="""
    WITH e AS (
        SELECT event_id, epoch_us(ts) AS us,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               epoch_us(ts) + ((event_id * 2654435761) % 1800) * 1000000
                   AS arr_us
        FROM events
    ), m AS (
        SELECT day, us,
               max(us) OVER (ORDER BY arr_us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS wm_us
        FROM e
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN wm_us - us > 600000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late_10m,
           CAST(sum(CASE WHEN wm_us - us > 3600000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1h,
           CAST(max(CASE WHEN wm_us IS NULL THEN 0
                         WHEN wm_us - us < 0 THEN 0
                         ELSE wm_us - us END) AS BIGINT) AS max_late_us
    FROM m GROUP BY day ORDER BY day
    """,
)
def q_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-tuning diagnostic for the streaming suite: replay the
    batch history in ARRIVAL order and count the events a Structured
    Streaming watermark of 10 min / 1 h would have DROPPED — the
    question every withWatermark() delay choice has to answer, asked
    of historical data before the stream exists. Arrival order models
    multi-source ingest skew with an explicit deterministic delay
    (Knuth multiplicative hash of event_id mod 30 min — exact int64 in
    both engines; engine-private hashes like xxhash64 never cross-
    match, cf. q_split_xxhash's rows-only status). The watermark is
    the EXCLUSIVE running max of event time over arrival order — a
    global total order, so it runs through prefix_max
    (operators/rank.py): range-partition on (arr_us, event_id), local
    cummax, broadcast per-partition maxima — no single-reducer window
    at any scale. Streaming twin semantics: streaming/windows.py
    watermarked aggregations drop exactly the rows counted late here."""
    e = t(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        (
            F.unix_micros("ts")
            + (F.col("event_id") * F.lit(2654435761).cast("bigint")) % 1800
            * F.lit(1_000_000)
        ).alias("arr_us"),
    )
    m = prefix_max(
        e, [F.col("arr_us"), F.col("event_id")], F.col("us"), out="wm_us"
    )
    late = F.col("wm_us") - F.col("us")
    return (
        m.groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.when(late > 600_000_000, 1).otherwise(0))
            .cast("bigint").alias("n_late_10m"),
            F.sum(F.when(late > 3_600_000_000, 1).otherwise(0))
            .cast("bigint").alias("n_late_1h"),
            F.max(
                F.when(late.isNull() | (late < 0), 0).otherwise(late)
            ).cast("bigint").alias("max_late_us"),
        )
    )
