"""Streaming path: the watermarked window operators must produce the
same results as their oracle-checked batch twins when a bounded stream
is drained to completion (availableNow), and the custom stateful
operator must emit coherent per-user state.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from frauddetection_spark.plans.registry import load_all
from frauddetection_spark.sources.tables import load_table
from frauddetection_spark.streaming.windows import (
    run_to_memory,
    running_totals,
    session_stats,
    sliding_counts,
    stream_events,
    tumbling_counts,
)

REGISTRY = load_all()


def _drain(spark, sf_dir, build, name, mode="complete"):
    df = build(stream_events(spark, sf_dir))
    run_to_memory(df, name, output_mode=mode)
    return spark.table(name)


def test_tumbling_stream_matches_batch(spark, sf_dir):
    got = _drain(spark, sf_dir, tumbling_counts, "t_tumbling")
    want = REGISTRY["q_tumbling_counts"].fn(spark, sf_dir)
    assert got.count() == want.count()
    assert (
        got.select("window_start", "event_type", "n", "value_sum")
        .exceptAll(want.select("window_start", "event_type", "n", "value_sum"))
        .count()
        == 0
    )


def test_sliding_stream_matches_batch(spark, sf_dir):
    got = _drain(spark, sf_dir, sliding_counts, "t_sliding")
    want = REGISTRY["q_sliding_counts"].fn(spark, sf_dir)
    assert got.exceptAll(want.select(*got.columns)).count() == 0
    assert got.count() == want.count()


def test_session_stream_matches_batch_islands(spark, sf_dir):
    # native session_window (stream) ≡ gaps-and-islands (batch twin)
    got = _drain(spark, sf_dir, session_stats, "t_sessions")
    want = REGISTRY["q_session_stats"].fn(spark, sf_dir).select(
        "user_id", "session_start", "n_events"
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_sessionize_matches_stream_session_window(spark, sf_dir):
    """q_sessionize (features.py gaps-and-islands over microsecond
    ints) and the native streaming session_window implement the SAME
    30-min-gap session semantics — pin them together so they can't
    drift. Compared on (user, start-second, n_events)."""
    got = _drain(spark, sf_dir, session_stats, "t_sessions_z")
    want = REGISTRY["q_sessionize"].fn(spark, sf_dir).select(
        "user_id",
        F.floor(F.col("start_us") / 1_000_000)
        .cast("long")
        .alias("session_start"),
        "n_events",
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_dedup_stream_exactly_once(spark, sf_dir):
    """A doubled stream (simulated at-least-once redelivery) drained
    through dropDuplicatesWithinWatermark must emit each event exactly
    once — count and key set equal to the batch table's."""
    from frauddetection_spark.streaming.windows import dedup_stream

    s = stream_events(spark, sf_dir)
    doubled = s.unionByName(stream_events(spark, sf_dir))
    run_to_memory(
        dedup_stream(doubled).select("event_id", "user_id", "event_type"),
        "t_dedup_stream",
        output_mode="append",
    )
    got = spark.table("t_dedup_stream")
    want = load_table(spark, sf_dir, "events")
    assert got.count() == want.count()
    assert (
        got.select("event_id").exceptAll(want.select("event_id")).count() == 0
    )


def test_stateful_running_totals(spark, sf_dir):
    got = _drain(spark, sf_dir, running_totals, "t_running", mode="update")
    # one final state per user; totals must equal the batch aggregate
    events = load_table(spark, sf_dir, "events")
    want = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (
            F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double")
            / 100
        ).alias("value_total"),
    )
    # update-mode memory sink keeps every emission; take the last per user
    latest = got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("value_total").alias("value_total"),
    )
    assert latest.exceptAll(want).count() == 0
    assert latest.count() == want.count()


def test_stream_static_join_enriches(spark, sf_dir):
    from frauddetection_spark.queries.sampling import _labels
    from frauddetection_spark.streaming.windows import enriched_stream

    labels = _labels(load_table(spark, sf_dir, "events"))
    enriched = enriched_stream(spark, sf_dir, labels).groupBy("label").count()
    run_to_memory(enriched, "t_enriched")
    got = spark.table("t_enriched")
    want = (
        load_table(spark, sf_dir, "events")
        .join(labels, "user_id", "left")
        .groupBy("label")
        .count()
    )
    assert got.exceptAll(want).count() == 0 and got.count() == want.count()


def test_foreach_batch_sees_all_rows(spark, sf_dir):
    from frauddetection_spark.streaming.windows import run_foreach_batch

    sink = []
    run_foreach_batch(stream_events(spark, sf_dir), sink, output_mode="append")
    total = sum(n for _, n in sink)
    assert total == load_table(spark, sf_dir, "events").count()


def test_checkpoint_recovery(spark, sf_dir, tmp_path):
    # a checkpointed query drains, stops, and a restart from the same
    # checkpoint reprocesses nothing (offsets are durable)
    from frauddetection_spark.streaming.windows import tumbling_counts

    ckpt = str(tmp_path / "ckpt")
    df = tumbling_counts(stream_events(spark, sf_dir))

    def run_once(name):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    q1 = run_once("t_ckpt_a")
    n1 = spark.table("t_ckpt_a").count()
    assert n1 > 0
    # restart: same checkpoint, no new files → zero new input rows
    q2 = run_once("t_ckpt_b")
    progress = q2.lastProgress
    assert progress is None or progress["numInputRows"] == 0


def test_parquet_file_sink_exactly_once(spark, sf_dir, tmp_path):
    """writeStream → parquet file sink: a drained bounded stream lands
    exactly the source rows (no dupes, no loss), and a RESTART from
    the same checkpoint with no new input commits nothing new — the
    exactly-once landing-zone contract."""
    from frauddetection_spark.streaming.windows import (
        run_to_parquet,
        stream_events,
    )

    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    src = stream_events(spark, sf_dir).select("event_id", "user_id", "value")
    run_to_parquet(src, out, ckpt)
    landed = spark.read.parquet(out)
    want = load_table(spark, sf_dir, "events").count()
    assert landed.count() == want
    assert landed.select("event_id").distinct().count() == want
    # restart on the same checkpoint: no new input -> no new rows
    run_to_parquet(src, out, ckpt)
    assert spark.read.parquet(out).count() == want


def test_stream_stream_interval_join(spark, sf_dir):
    from frauddetection_spark.streaming.windows import (
        stream_stream_attribution,
    )

    got = None
    df = stream_stream_attribution(spark, sf_dir)
    run_to_memory(df, "t_ss_join", output_mode="append")
    got = spark.table("t_ss_join")
    # batch equivalent is the ORACLE-CHECKED registered twin — the live
    # stream, the batch plan, and the DuckDB oracle all agree
    want = REGISTRY["q_stream_join"].fn(spark, sf_dir).select(
        "purchase_id",
        "user_id",
        F.to_timestamp("p_ts").alias("p_ts"),
        "click_id",
        F.to_timestamp("c_ts").alias("c_ts"),
    )
    assert got.count() == want.count()
    assert (
        got.exceptAll(want.select(*got.columns)).count() == 0
    )


def test_pysource_stream_drains_exactly_once(spark, tmp_path):
    """The custom Python stream source (sources/pysource.py) must
    drain under repeated checkpointed availableNow runs with NO
    duplicates and NO gaps: offsets persist in the checkpoint, each
    restart resumes from the committed position, and replayed ranges
    regenerate identical rows (readBetweenOffsets is pure arithmetic).
    Final parquet content must equal the batch read of the same
    source."""
    from frauddetection_spark.sources import pysource

    pysource.register(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n, step = 30_000, 12_000
    for _ in range(4):  # 3 drains + 1 no-op run
        st = (
            spark.readStream.format("lehmer")
            .option("n", n)
            .option("step", step)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        st.awaitTermination(180)
    got = spark.read.parquet(out)
    assert got.count() == n  # no gaps, no duplicates
    batch = (
        spark.read.format("lehmer").option("n", n).option("parts", 4).load()
    )
    assert (
        got.orderBy("id").collect() == batch.orderBy("id").collect()
    )


def test_stream_stream_outer_join_emits_nulls(spark, sf_dir):
    """LEFT OUTER stream-stream join parity: matched rows must equal
    the inner join's oracle-checked batch twin EXACTLY, and the
    delayed-null rows (unattributed purchases, emitted only after the
    click watermark passes their interval) must be a subset of the
    batch left-join's null set covering nearly all of it — the tail
    the final watermark never clears is dropped with state at
    termination, which is the documented bounded-drain semantics, not
    a bug."""
    from frauddetection_spark.streaming.windows import (
        stream_stream_attribution_outer,
    )

    df = stream_stream_attribution_outer(spark, sf_dir)
    run_to_memory(df, "t_ss_outer", output_mode="append")
    got = spark.table("t_ss_outer")

    inner_want = REGISTRY["q_stream_join"].fn(spark, sf_dir).select(
        "purchase_id",
        "user_id",
        F.to_timestamp("p_ts").alias("p_ts"),
        "click_id",
        F.to_timestamp("c_ts").alias("c_ts"),
    )
    got_matched = got.filter(F.col("click_id").isNotNull())
    assert got_matched.count() == inner_want.count()
    assert got_matched.exceptAll(inner_want.select(*got.columns)).count() == 0

    # batch null set: purchases with no qualifying click
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    batch_nulls = purchases.join(
        inner_want.select("purchase_id"), "purchase_id", "left_anti"
    )
    got_nulls = got.filter(F.col("click_id").isNull())
    # subset of the batch nulls…
    assert (
        got_nulls.select("purchase_id")
        .exceptAll(batch_nulls.select("purchase_id"))
        .count()
        == 0
    )
    # …covering nearly all of it (only the final-watermark tail may drop)
    assert got_nulls.count() >= int(0.9 * batch_nulls.count())
    # and a purchase never appears both matched and null (python-side
    # sets: both frames share lineage and a self-intersect trips
    # Spark's conflicting-reference resolver)
    ids_matched = {r[0] for r in got_matched.select("purchase_id").collect()}
    ids_null = {r[0] for r in got_nulls.select("purchase_id").collect()}
    assert not (ids_matched & ids_null)
