"""Structured Streaming surface (SURVEY.md §2.8 E7, §1.3).

The reference is batch-only; the engine exposes its windowed
behavioral operators in streaming form over the CDR-shaped ``events``
table: watermarked tumbling / sliding / session windows plus an
``applyInPandasWithState`` custom stateful operator.

Design:
- The SAME window expressions serve batch and streaming — the batch
  twins in queries/streaming_twins.py run `tumbling_counts` and
  `sliding_counts` over the batch table and are oracle-checked, so a
  backfill (batch) and the live path (stream) cannot disagree.
- One geometry: window sizes, the session gap, the attribution
  horizon and the watermark are module constants, because each batch
  twin's SQL fixes the same values.
- Watermark = late-event tolerance. State for a tumbling window is
  dropped once `max(event time) - watermark` passes the window end —
  bounded state at any scale.
- File-source streaming reads the same parquet with the same
  footer-derived raw schema and pinned projection as the batch loader
  (sources/tables.py), so both adapt to whichever timestamp encoding
  the files carry (INT64 TIMESTAMP(NANOS) → long → micros, or native
  micros untouched).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

WATERMARK = "10 minutes"
# Window geometry and attribution horizon. The batch twins' SQL
# (queries/streaming_twins.py, q_stream_join) spells the same values;
# change them together.
TUMBLE = "1 hour"
SLIDE_SIZE, SLIDE_STEP = "1 hour", "30 minutes"
SESSION_GAP = "30 minutes"
ATTRIBUTION_HORIZON = "1 hour"


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded stream from the parquet file source.

    Streaming sources cannot infer schemas, so the raw schema comes
    from the same catalog footer read the batch loader uses
    (no Spark job), and the same pinned projection handles the
    timestamp encoding — nanos-as-long or native micros."""
    from ..sources.catalog import footer
    from ..sources.tables import ensure_read_confs, pinned_projection

    ensure_read_confs(spark)  # plain driver sessions lack nanosAsLong/UTC
    raw = footer(os.path.join(sf_dir, "events.parquet")).schema
    reader = (
        spark.readStream.schema(raw)
        .option("pathGlobFilter", "events.parquet")
    )
    return pinned_projection(reader.parquet(sf_dir), "events", raw)


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Per-(hour, event_type) counts + exact-cents value sum, tolerant
    of 10 minutes of event-time disorder. Streaming twin of
    q_tumbling_counts."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", TUMBLE).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double")
                / 100
            ).alias("value_sum"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n",
            "value_sum",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Overlapping windows — each event lands in SLIDE_SIZE/SLIDE_STEP
    windows. Streaming twin of q_sliding_counts."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(
            F.window("ts", SLIDE_SIZE, SLIDE_STEP).alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n",
        )
    )


def session_stats(events: DataFrame) -> DataFrame:
    """Per-user activity sessions via native session_window (dynamic
    gap-merged windows; state closes when the watermark passes
    last-event + gap). Batch twin q_session_stats expresses the same
    sessions as gaps-and-islands — parity is asserted in tests."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start"),
            "n_events",
        )
    )


# --- custom stateful operator (applyInPandasWithState) ---------------------

_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("cents", LongType())]
)
_RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("value_total", DoubleType()),
    ]
)


def _running_totals_fn(key, pdf_iter: Iterator[pd.DataFrame], state):
    """Per-user running (count, exact-cents sum) across micro-batches.

    Quantize PER ROW then sum ints — rounding a float sum of the whole
    micro-batch once would accumulate float error (and use Python
    banker's rounding), diverging from the batch twin's
    sum(round(value*100)) on large batches."""
    from frauddetection_spark.operators.vectors import round_half_away_np

    n, cents = state.get() if state.exists else (0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        cents += int(round_half_away_np(pdf["value"].to_numpy(), 100).sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "value_total": [cents / 100.0]}
    )


def running_totals(events: DataFrame) -> DataFrame:
    """Arbitrary stateful aggregation: per-user lifetime totals,
    emitted as an update stream every micro-batch. The state is two
    int64s per user — the applyInPandasWithState pattern for operators
    window aggs can't express (reference analogue: the per-user
    accumulators data_process.py builds in driver dicts, :159-178)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Exactly-once delivery from an at-least-once source:
    ``dropDuplicatesWithinWatermark`` keeps the first arrival of each
    ``event_id`` and drops redeliveries, holding per-key state only
    until the watermark passes the first arrival's event time —
    bounded state, unlike a plain dropDuplicates whose key set grows
    forever on an unbounded stream. This is the ingestion-side dedup every
    at-least-once bus (Kafka, Kinesis) needs in front of the batch
    exact-dedup pass (queries/similarity.py::q_dedup_hash).
    Batch twin: DISTINCT ON (event_id) — pinned in
    tests/test_streaming.py by draining a deliberately doubled stream."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "complete"
) -> None:
    """Drain a bounded stream into an in-memory table (tests / local
    verification): availableNow processes all existing files then
    stops — the streaming plan, executed to completion."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_parquet(df: DataFrame, path: str, checkpoint: str) -> None:
    """File-sink drain: writeStream → parquet with a checkpoint dir —
    the production landing-zone sink, in append mode (the only mode
    Spark's file sink accepts). The checkpoint's write-ahead log
    gives exactly-once file commits (a restarted query never re-writes
    a committed batch; readers see only files recorded in the
    _spark_metadata log). availableNow bounds the run for tests; a
    live deployment uses the same call without the trigger."""
    q = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def enriched_stream(
    spark: SparkSession, sf_dir: str, labels: DataFrame
) -> DataFrame:
    """Stream-static join: enrich the live event stream with a static
    dimension (per-user labels). The static side re-resolves per
    micro-batch; Spark broadcasts it when small — the standard pattern
    for slowly-changing dims under streaming."""
    return stream_events(spark, sf_dir).join(labels, "user_id", "left")


def run_foreach_batch(
    df: DataFrame, sink: list, output_mode: str = "update"
) -> None:
    """foreachBatch sink: hand each micro-batch DataFrame to arbitrary
    batch logic (upserts, multi-sink fanout — everything writeStream
    formats can't express). Bounded drain via availableNow."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sink.append((batch_id, batch_df.count()))

    q = (
        df.writeStream.foreachBatch(handle)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _attribution_sides(spark: SparkSession, sf_dir: str):
    """The two watermarked sides of a stream-stream attribution join,
    both cut from one event stream — purchases ``(purchase_id,
    user_id, p_ts)`` and clicks ``(click_id, c_user_id, c_ts)`` — and
    the interval condition that pairs a purchase with the same user's
    clicks at most ATTRIBUTION_HORIZON before it."""
    ev = stream_events(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    within = (
        (purchases.user_id == clicks.c_user_id)
        & (F.col("c_ts") <= F.col("p_ts"))
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {ATTRIBUTION_HORIZON}")
        )
    )
    return purchases, clicks, within


def stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases joined to the same
    user's clicks within the preceding ATTRIBUTION_HORIZON — the
    streaming form of as-of attribution (operators/asof.py is the
    batch form). Both sides are watermarked, so join state for a
    purchase/click is dropped once the other stream's watermark passes
    its interval: bounded state, the requirement for stream-stream
    joins at scale."""
    purchases, clicks, within = _attribution_sides(spark, sf_dir)
    return purchases.join(clicks, within).select(
        "purchase_id", "user_id", "p_ts", "click_id", "c_ts"
    )


def stream_stream_attribution_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase emits —
    attributed to a preceding click when one exists within
    ATTRIBUTION_HORIZON, or with NULL click columns once the click
    watermark has passed its interval and no match can still arrive.
    This 'emit the negative' semantics is what inner joins can't
    express and what funnels need (an unattributed purchase IS the
    signal); the engine holds each purchase in state exactly until the
    opposing watermark clears its window, then emits the null row —
    bounded state, delayed-null emission. End-of-stream caveat (pinned
    in the parity test): purchases whose interval the final watermark
    never passes are dropped with the state at query termination, not
    flushed — a replayed/checkpointed continuation would emit them, a
    bounded drain does not."""
    purchases, clicks, within = _attribution_sides(spark, sf_dir)
    return purchases.join(clicks, within, "leftOuter").select(
        "purchase_id", "user_id", "p_ts", "click_id", "c_ts"
    )
