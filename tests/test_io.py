"""Sink/layout behaviors that matter at 100 TB: partition pruning
actually prunes (PartitionFilters), bucketed joins actually skip the
shuffle (no Exchange), CSV round-trips values under an explicit
schema.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from frauddetection_spark.sources.io import (
    derived_fixture,
    export_csv,
    read_csv,
    read_partitioned,
    write_bucketed,
    write_partitioned,
    write_range_sorted,
)
from frauddetection_spark.sources.tables import SCHEMAS, load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    path = str(tmp_path / "lineitem_part")
    li = load_table(spark, sf_dir, "lineitem")
    write_partitioned(li, path, ["l_returnflag"])
    back = read_partitioned(spark, path)
    filtered = back.filter(F.col("l_returnflag") == "R")
    plan = filtered._jdf.queryExecution().toString()
    assert "PartitionFilters" in plan
    # pruned read returns exactly the partition's rows
    want = li.filter(F.col("l_returnflag") == "R").count()
    assert filtered.count() == want


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "t_orders_b", "o_orderkey", 8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "t_lineitem_b",
        "o_orderkey", 8,
    )
    a = spark.table("t_orders_b")
    b = spark.table("t_lineitem_b")
    # disable auto-broadcast so the test exercises the bucketed path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "o_orderkey")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_range_sorted_write_files_are_disjoint(spark, sf_dir, tmp_path):
    """write_range_sorted must produce files whose key ranges are
    pairwise disjoint (range partitioning) and internally ordered
    (sortWithinPartitions) — the properties that let key-range scans
    prune files and merge readers skip the sort."""
    path = str(tmp_path / "orders_sorted")
    orders = load_table(spark, sf_dir, "orders")
    write_range_sorted(orders, path, ["o_orderkey"], 8)
    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    ]
    assert len(files) > 1
    ranges = []
    total = 0
    for f in files:
        pdf = spark.read.parquet(f).select("o_orderkey").toPandas()
        total += len(pdf)
        if len(pdf):
            # internally sorted
            assert pdf["o_orderkey"].is_monotonic_increasing
            ranges.append((pdf["o_orderkey"].min(), pdf["o_orderkey"].max()))
    assert total == orders.count()
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges {(lo1, hi1)} {(lo2, hi2)}"


def test_fixture_regenerates_on_fingerprint_mismatch(sf_dir, tmp_path):
    """derived_fixture is content-addressed by the source's real path and
    fingerprint: touching the source MUST rebuild, an unchanged source
    must NOT, and two data directories with the same basename get
    separate fixtures."""
    import shutil

    a, b = tmp_path / "a" / "sf", tmp_path / "b" / "sf"
    for d in (a, b):
        d.mkdir(parents=True)
        shutil.copy(os.path.join(sf_dir, "part.parquet"), d / "part.parquet")
    calls = []

    def build(src, out):
        calls.append(src)
        with open(os.path.join(out, "data.txt"), "w") as fh:
            fh.write(src)

    pa1 = derived_fixture(str(a), "fxtest", "part", build)
    assert len(calls) == 1
    # unchanged source → no rebuild, same fixture
    assert derived_fixture(str(a), "fxtest", "part", build) == pa1
    assert len(calls) == 1
    # same basename, other directory → its own fixture
    pb = derived_fixture(str(b), "fxtest", "part", build)
    assert len(calls) == 2 and pb != pa1
    with open(os.path.join(pb, "data.txt")) as fh:
        assert fh.read() == str(b / "part.parquet")
    # touched source → rebuild into a new fixture; the stale one is gone
    st = os.stat(a / "part.parquet")
    os.utime(a / "part.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    pa2 = derived_fixture(str(a), "fxtest", "part", build)
    assert len(calls) == 3 and pa2 != pa1
    assert not os.path.exists(pa1) and os.path.isdir(pb)
    assert derived_fixture(str(a), "fxtest", "part", build) == pa2
    assert len(calls) == 3


def test_fixture_rebuilds_when_builder_changes(sf_dir, tmp_path):
    """derived_fixture is keyed by its builder's source as well: a new
    builder over an unchanged source gets its own fixture, and the
    previous builder's fixture is removed. The same builder text in
    another checkout (another file path) shares the fixture."""
    import importlib.util
    import shutil

    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(os.path.join(sf_dir, "part.parquet"), d / "part.parquet")

    builds = []
    for checkout in ("one", "two"):
        mod = tmp_path / checkout / "builder.py"
        mod.parent.mkdir()
        mod.write_text("def build(src, out):\n    open(out + '/x', 'w').close()\n")
        spec = importlib.util.spec_from_file_location(f"builder_{checkout}", mod)
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
        builds.append(m.build)
    p_one = derived_fixture(str(d), "fxbuilder", "part", builds[0])
    assert derived_fixture(str(d), "fxbuilder", "part", builds[1]) == p_one

    def build_old(src, out):
        with open(os.path.join(out, "data.txt"), "w") as fh:
            fh.write("old")

    def build_new(src, out):
        with open(os.path.join(out, "data.txt"), "w") as fh:
            fh.write("new")

    p_old = derived_fixture(str(d), "fxbuilder", "part", build_old)
    p_new = derived_fixture(str(d), "fxbuilder", "part", build_new)
    assert p_new != p_old
    assert not os.path.exists(p_old)
    with open(os.path.join(p_new, "data.txt")) as fh:
        assert fh.read() == "new"


def test_orc_fixture_rebuilds_on_source_rewrite(spark, sf_dir, tmp_path):
    """q_scan_orc reads a pyarrow-built ORC copy of part.parquet; after
    the source is rewritten in place, the query must read a rebuilt
    copy, not the stale one."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from frauddetection_spark.plans.registry import load_all

    d = tmp_path / "sf"
    shutil.copytree(sf_dir, d, copy_function=shutil.copyfile)
    reg = load_all()
    want = reg["q_scan_orc"].fn(spark, str(d)).count()
    part = pq.read_table(d / "part.parquet")
    brands = pc.unique(part["p_brand"])
    # keep one brand only: the aggregate must shrink to one group
    pq.write_table(
        part.filter(pc.equal(part["p_brand"], brands[0])), d / "part.parquet"
    )
    assert want > 1
    assert reg["q_scan_orc"].fn(spark, str(d)).count() == 1


def test_csv_roundtrip_exact(spark, sf_dir, tmp_path):
    path = str(tmp_path / "events_csv")
    events = load_table(spark, sf_dir, "events")
    export_csv(events, path)
    back = read_csv(spark, path, SCHEMAS["events"])
    a = events.agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        F.sum(F.unix_timestamp("ts")).alias("ts_sum"),
    ).first()
    b = back.agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        F.sum(F.unix_timestamp("ts")).alias("ts_sum"),
    ).first()
    assert (a.n, a.cents, a.ts_sum) == (b.n, b.cents, b.ts_sum)


def test_register_views_sql_surface(spark, sf_dir):
    from frauddetection_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    got = spark.sql(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1"
    )
    want = load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").count()
    assert {(r.l_returnflag, r.n) for r in got.collect()} == {
        (r.l_returnflag, r["count"]) for r in want.collect()
    }


def test_sql_queries_leave_session_views_alone(spark, sf_dir):
    """Queries stated in SQL pass their frames as ``spark.sql``
    arguments. Building them on one data directory must neither
    re-point the views ``register_views`` made on another (they are
    named after the base tables) nor leave a view behind."""
    import pyarrow.parquet as pq

    from frauddetection_spark.plans.registry import load_all
    from frauddetection_spark.sources.tables import TABLE_NAMES, register_views
    from tests.conftest import SF_DIR_ORACLE

    def rows(d, name):
        return pq.ParquetFile(os.path.join(d, f"{name}.parquet")).metadata.num_rows

    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    used = ("events", "lineitem", "orders")
    assert all(rows(SF_DIR_ORACLE, n) != rows(sf_dir, n) for n in used)
    registry = load_all()
    register_views(spark, SF_DIR_ORACLE)
    try:
        before = views()
        for name in ("q_grouping_sets", "q_sql_pipe", "q_sql_udf",
                     "q_lateral_topk", "q_python_udtf", "q_recursive_cte"):
            registry[name].fn(spark, sf_dir)
        assert views() == before
        assert {n: spark.table(n).count() for n in used} == {
            n: rows(SF_DIR_ORACLE, n) for n in used
        }
    finally:
        for name in TABLE_NAMES:
            spark.catalog.dropTempView(name)


def test_load_table_rejects_unknown(spark, sf_dir):
    import pytest as _pytest

    with _pytest.raises(KeyError):
        load_table(spark, sf_dir, "nonexistent_table")


def test_loader_adapts_both_ts_encodings(spark, sf_dir, tmp_path):
    """Testdata has shipped events.ts both as INT64 TIMESTAMP(NANOS)
    and as timestamp[us]. The loader must yield IDENTICAL timestamps
    for the same instants under either physical encoding — batch and
    streaming both route through the catalog footer schema +
    pinned_projection, so one synthetic fixture pins both."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    micros = [1704067798778549, 1706657176220708]  # real testdata range
    base = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 11], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }
    for unit, scale in (("us", 1), ("ns", 1000)):
        d = str(tmp_path / unit)
        os.makedirs(d)
        tbl = pa.table(
            {
                "event_id": base["event_id"],
                "ts": pa.array([m * scale for m in micros], pa.timestamp(unit)),
                "user_id": base["user_id"],
                "event_type": base["event_type"],
                "value": base["value"],
                "props": base["props"],
            }
        )
        pq.write_table(tbl, os.path.join(d, "events.parquet"))
    got_us = load_table(spark, str(tmp_path / "us"), "events")
    got_ns = load_table(spark, str(tmp_path / "ns"), "events")
    rows_us = sorted((r.event_id, r.ts) for r in got_us.collect())
    rows_ns = sorted((r.event_id, r.ts) for r in got_ns.collect())
    assert rows_us == rows_ns
    assert got_us.schema == SCHEMAS["events"] == got_ns.schema

    # streaming source: same footer-driven adaptation, identical values
    from frauddetection_spark.streaming.windows import run_to_memory, stream_events

    for unit in ("us", "ns"):
        run_to_memory(
            stream_events(spark, str(tmp_path / unit)),
            f"t_enc_{unit}",
            output_mode="append",
        )
    s_us = sorted((r.event_id, r.ts) for r in spark.table("t_enc_us").collect())
    s_ns = sorted((r.event_id, r.ts) for r in spark.table("t_enc_ns").collect())
    assert s_us == s_ns == rows_us


def test_dynamic_partition_overwrite_replaces_only_touched(
    spark, sf_dir, tmp_path
):
    from pyspark.sql import functions as F

    from frauddetection_spark.sources.io import (
        overwrite_partitions_dynamic,
        write_partitioned,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    path = str(tmp_path / "li_dyn")
    write_partitioned(li, path, ["l_returnflag"])
    before = {
        r["l_returnflag"]: (r["n"], r["q"])
        for r in spark.read.parquet(path)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
        .collect()
    }
    # recompute ONE partition with modified rows (half the rows, x10)
    patch = (
        li.filter((F.col("l_returnflag") == "R") & (F.col("l_orderkey") % 2 == 0))
        .withColumn("l_quantity", F.col("l_quantity") * 10)
    )
    overwrite_partitions_dynamic(patch, path, ["l_returnflag"])
    after = {
        r["l_returnflag"]: (r["n"], r["q"])
        for r in spark.read.parquet(path)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
        .collect()
    }
    # untouched partitions identical; target REPLACED (no append)
    for flag, stats in before.items():
        if flag == "R":
            continue
        assert after[flag] == stats
    n_patch = patch.count()
    assert after["R"][0] == n_patch
    assert after["R"][0] < before["R"][0]


def test_dynamic_partition_pruning_in_partitioned_join(
    spark, sf_dir, tmp_path
):
    """A join between a partitioned fact and a FILTERED dim must inject
    a runtime partition filter (DPP) on the fact scan — at 100 TB this
    is the difference between scanning one date directory and the whole
    table when the pruning key arrives via a join instead of a literal
    predicate."""
    from pyspark.sql import functions as F

    from frauddetection_spark.sources.io import write_partitioned

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_pk", (F.col("o_orderkey") % 10).cast("int")
    )
    path = str(tmp_path / "orders_dpp")
    write_partitioned(orders, path, ["o_pk"])
    fact = spark.read.parquet(path)
    # dim filtered on a NON-join column: partition values are only
    # known at runtime, so the scan must get a dynamicpruning filter
    dim = (
        spark.range(10)
        .select(
            F.col("id").cast("int").alias("o_pk"),
            (F.col("id") % 3).alias("tag"),
        )
        .filter(F.col("tag") == 1)
    )
    joined = fact.join(dim, "o_pk").groupBy("o_pk").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and when the dim filter IS a literal on the join key, Catalyst
    # propagates it through the join as a STATIC partition filter —
    # strictly better than DPP (pruning at plan time, no subquery)
    lit_dim = (
        spark.range(10)
        .select(F.col("id").cast("int").alias("o_pk"))
        .filter(F.col("o_pk") == 3)
    )
    lit_plan = (
        fact.join(lit_dim, "o_pk")
        .groupBy("o_pk")
        .count()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*o_pk#\d+ = 3", lit_plan), (
        lit_plan[:2000]
    )


def test_zorder_shrinks_second_dim_file_spans(spark, sf_dir, tmp_path):
    """Z-order vs single-key sort: per-file min/max span of the SECOND
    key must shrink by a large factor (that span is what parquet
    row-group pruning uses for predicates on that key)."""
    import glob as _glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from frauddetection_spark.sources.io import (
        write_range_sorted,
        write_zordered,
    )

    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "value"
    )
    # 32 files: each covers ~1/32 of the Z-curve, i.e. a ~(1/5.7)-side
    # rectangle — enough resolution that the 15-user sf0.001 domain
    # still shows the rectangle property
    n_files = 32
    p_single = str(tmp_path / "single")
    p_z = str(tmp_path / "zorder")
    write_range_sorted(e, p_single, ["us"], n_files)
    write_zordered(e, p_z, "us", "user_id", n_files)

    def mean_span(path, col):
        spans = []
        for f in _glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics:
                        s = c.statistics
                        lo = s.min if lo is None else min(lo, s.min)
                        hi = s.max if hi is None else max(hi, s.max)
            if lo is not None:
                spans.append(hi - lo)
        return sum(spans) / len(spans)

    full_span = (
        e.agg(
            (F.max("user_id") - F.min("user_id")).alias("s")
        ).first()["s"]
    )
    single_span = mean_span(p_single, "user_id")
    z_span = mean_span(p_z, "user_id")
    # single-key sort: every file spans ~the whole user range
    assert single_span > 0.8 * full_span
    # z-order: files are rectangles — second-dim span shrinks hard
    assert z_span < 0.45 * single_span
    # and the first dim still prunes usefully (files don't span the
    # whole time range)
    us_full = e.agg((F.max("us") - F.min("us")).alias("s")).first()["s"]
    assert mean_span(p_z, "us") < 0.75 * us_full


def test_runtime_bloom_filter_injected_on_selective_join(spark, sf_dir):
    """A shuffle join whose build side is selectively filtered must
    inject a runtime Bloom filter (might_contain) on the probe-side
    scan once the probe side is big enough — at 100 TB this is the
    semi-join reduction that drops most of the fact scan's shuffle
    output before the exchange. Locally the probe side is far below
    the 10 GB applicationSideScanSizeThreshold, so the test lowers the
    threshold to prove the MECHANICS (filter shape + creation side);
    with default confs the same plan fires at cluster scale."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderstatus") == "F"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_compact_small_files_preserves_content(spark, sf_dir, tmp_path):
    """Compaction must shrink the file count to the byte-target-derived
    number and preserve content EXACTLY (same rows, any order)."""
    from frauddetection_spark.sources.io import compact_small_files

    src = str(tmp_path / "sprawl")
    # simulate streaming-sink sprawl: 64 tiny files
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    events.repartition(64).write.parquet(src)
    import glob as _glob

    n_before = len(_glob.glob(src + "/*.parquet"))
    assert n_before >= 32

    out = str(tmp_path / "compacted")
    total = sum(
        __import__("os").path.getsize(p) for p in _glob.glob(src + "/*.parquet")
    )
    n = compact_small_files(spark, src, out, target_file_bytes=total // 3 + 1)
    n_after = len(_glob.glob(out + "/*.parquet"))
    assert n_after == n <= 4
    assert n_after < n_before
    a = events.orderBy("event_id").collect()
    b = spark.read.parquet(out).orderBy("event_id").collect()
    assert a == b


def test_compact_sorted_restores_rowgroup_pruning(spark, sf_dir, tmp_path):
    """sort_by compaction must re-establish non-overlapping per-file
    min/max key ranges (the property parquet row-group pruning needs)."""
    from frauddetection_spark.sources.io import compact_small_files

    src = str(tmp_path / "sprawl2")
    events = load_table(spark, sf_dir, "events").select("event_id", "value")
    events.repartition(16).write.parquet(src)
    out = str(tmp_path / "compacted2")
    import glob as _glob

    total = sum(
        os.path.getsize(p) for p in _glob.glob(src + "/*.parquet")
    )
    n = compact_small_files(
        spark, src, out, target_file_bytes=total // 4 + 1,
        sort_by=["event_id"],
    )

    import pyarrow.parquet as pq

    files = sorted(_glob.glob(out + "/*.parquet"))
    assert len(files) > 1 and len(files) == n
    ranges = []
    for f in files:
        md = pq.read_metadata(f)
        lo = min(
            md.row_group(i).column(0).statistics.min
            for i in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(i).column(0).statistics.max
            for i in range(md.num_row_groups)
        )
        ranges.append((lo, hi))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo  # disjoint key ranges across files


def test_pysource_partitions_and_determinism(spark):
    """The custom Python DataSource must honor its source-driven
    splits (parts option → that many scan tasks) and produce identical
    content across reads (pure function of options)."""
    from frauddetection_spark.sources import pysource

    pysource.register(spark)
    df = (
        spark.read.format("lehmer")
        .option("n", 10_000)
        .option("parts", 5)
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    a = df.orderBy("id").collect()
    b = (
        spark.read.format("lehmer")
        .option("n", 10_000)
        .option("parts", 3)
        .load()
        .orderBy("id")
        .collect()
    )
    # different split counts, same dataset
    assert a == b
    assert len(a) == 10_000
    row = a[48_271 % 10_000]


def test_jsonldir_sink_two_phase_commit(spark, sf_dir, tmp_path):
    """The custom Python sink must round-trip content exactly and make
    ONLY manifest-committed files visible — an orphan part file (a
    failed/speculative task's leftover) is invisible to the reader."""
    from frauddetection_spark.sources import pysource

    pysource.register_sink(spark)
    out = str(tmp_path / "sink")
    df = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    df.write.format("jsonldir").option("path", out).mode("append").save()

    rows = pysource.read_jsonldir(out)
    assert len(rows) == df.count()
    got = sorted(r["event_id"] for r in rows)
    want = sorted(r["event_id"] for r in df.collect())
    assert got == want

    # simulate a failed task's orphan: present on disk, not in manifest
    with open(out + "/part-orphan.jsonl", "w") as f:
        f.write('{"event_id": -1, "user_id": -1, "event_type": "x"}\n')
    rows2 = pysource.read_jsonldir(out)
    assert len(rows2) == len(rows)  # orphan invisible


def test_write_observed_metrics_match_direct_agg(spark, sf_dir, tmp_path):
    """observe-metrics must equal a direct aggregate over the same
    frame, and the write must still land the full content."""
    from frauddetection_spark.functions.observe import (
        assert_quality,
        write_observed,
    )

    df = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    out = str(tmp_path / "observed")
    m = write_observed(
        df,
        out,
        key_col="event_id",
        extra_metrics={"sum_cents": F.sum(F.round(F.col("value") * 100).cast("bigint"))},
    )
    want_rows = df.count()
    want_sum = df.agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
    ).first()[0]
    assert m.n_rows == want_rows
    assert m.n_null_keys == 0
    assert m.metrics["sum_cents"] == want_sum
    assert spark.read.parquet(out).count() == want_rows
    assert_quality(m, min_rows=1, max_null_key_rate=0.0)

    import pytest

    with pytest.raises(ValueError, match="quality gate"):
        assert_quality(m, min_rows=want_rows + 1)


def test_write_observed_counts_zero_null_keys_on_empty_write(spark, sf_dir, tmp_path):
    """An empty write has no null keys: n_null_keys is 0, not NULL (a
    global sum over empty input is NULL; a count is 0)."""
    from frauddetection_spark.functions.observe import write_observed

    empty = load_table(spark, sf_dir, "events").select("event_id").limit(0)
    m = write_observed(empty, str(tmp_path / "observed_empty"), key_col="event_id")
    assert m.n_rows == 0
    assert m.n_null_keys == 0
