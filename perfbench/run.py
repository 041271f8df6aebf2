#!/usr/bin/env python3
"""The repository benchmark: cold, fully materialized, oracle-checked runs
of the query catalog.

    python3 perfbench/run.py --workload etl_sf0.01 --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One run generates its input tables from
``--seed``, starts a fresh interpreter that sets the program up, primes it
with one untimed pass and then, closed loop with one client, runs whole
passes over the workload's queries for ``--seconds`` seconds. Each sample is timed from
query construction to the delivered result. After the timed region every
delivered result is checked against the query's DuckDB twin. See
perfbench/README.md.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). A human-readable report goes to
stderr; a traced run also writes its spans to ``perfbench/_work/traces``.
"""

from __future__ import annotations

import argparse
import gc
import itertools
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

import stats
from workloads import WARMUP_QUERY, WORKLOADS, Workload

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def pin_environment(run_dir: str) -> None:
    """Size the session for this machine and keep every file it writes
    inside ``run_dir``. Must run before the program is imported: the
    session module reads SPARK_GRAFT_CPUS at import."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # no hsperfdata files in the system temp dir from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def session_conf(run_dir: str, trace: bool) -> dict[str, str]:
    """The extra Spark conf for ``get_spark``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.port": "0",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if trace:
        # keep every job, stage and SQL execution for the REST read-out
        conf.update({k: "100000" for k in (
            "spark.ui.retainedJobs", "spark.ui.retainedStages",
            "spark.sql.ui.retainedExecutions")})
    return conf


def set_up(data_dir: str, conf: dict[str, str], spawned_at: float):
    """Import the program, start its session, load the catalog and run
    the warm-up query. ``spawned_at`` is the ``time.monotonic()`` at which
    this interpreter was spawned (the clock is system-wide), so the set-up
    includes interpreter start, imports and JVM launch. Returns (spark,
    catalog, timings)."""
    from frauddetection_spark.plans.registry import load_all
    from frauddetection_spark.session import get_spark

    t1 = time.monotonic()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t2 = time.monotonic()
    catalog = load_all()
    t3 = time.monotonic()
    catalog[WARMUP_QUERY].fn(spark, data_dir).toPandas()
    t4 = time.monotonic()
    return spark, catalog, {
        "setup_s": t4 - spawned_at,
        "setup.import_s": t1 - spawned_at,
        "session.start_s": t2 - t1,
        "registry.load_s": t3 - t2,
        "setup.warmup_s": t4 - t3,
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


@dataclass
class Sample:
    index: int
    name: str
    pass_index: int
    traced: bool
    latency: float = 0.0
    output: object = None
    error: str | None = None
    released: int = 0
    trace: int | None = None


def _peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM, in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _live_heap_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection, in MiB. Python
    garbage is collected first: it can hold JVM objects through py4j."""
    gc.collect()
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def measure(spark, catalog, workload: Workload, data_dir: str, landing: str,
            seed: int, seconds: float, tracer, trace: bool):
    """Closed loop, one client. An untimed priming pass runs each distinct
    query once, so JIT, code generation and Python worker start are paid
    as in a long-lived session; then whole timed passes until ``seconds``
    have passed. A traced run makes at least two, so that it times every
    slot once traced and once not. Returns every sample (priming ones have
    pass_index -1), the timed passes' times and the priming pass's time."""
    from frauddetection_spark.operators import caching

    sc = spark.sparkContext
    queries = workload.queries
    samples: list[Sample] = []
    passes: list[float] = []
    span = tracer.span
    prime_s = 0.0
    start = time.perf_counter()
    for pass_index in itertools.count(-1):
        order = stats.pass_order(len(queries), seed, pass_index)
        if pass_index < 0:
            first: dict[str, int] = {}
            for slot in order:
                first.setdefault(queries[slot], slot)
            order = list(first.values())
        t_pass = time.perf_counter()
        for slot in order:
            # a slot is traced in every other timed pass, so a traced run
            # times each slot both ways and the difference is the overhead
            traced = trace and pass_index >= 0 and (slot + pass_index) % 2 == 1
            tracer.recording = traced
            name = queries[slot]
            s = Sample(len(samples), name, pass_index, traced)
            samples.append(s)
            released_before = tracer.released
            t0 = time.perf_counter()
            try:
                with span("query") as s.trace:
                    if workload.cold:
                        caching.release_caches()
                    if traced:
                        sc.setJobGroup(f"s{s.index}.build", name)
                    with span("plan.build"):
                        df = catalog[name].fn(spark, data_dir)
                    if traced:
                        sc.setJobGroup(f"s{s.index}.exec", name)
                    with span("exec.action"):
                        if workload.delivery == "parquet":
                            path = os.path.join(landing, f"{s.index:05d}-{name}")
                            df.write.parquet(path)
                            s.output = path
                        else:
                            s.output = df.toPandas()
            except Exception:
                s.error = traceback.format_exc()
                _log(f"FAILED {name}:\n{s.error}")
            s.latency = time.perf_counter() - t0
            s.released = tracer.released - released_before
        if pass_index < 0:
            prime_s = time.perf_counter() - t_pass
            start = time.perf_counter()
            continue
        passes.append(time.perf_counter() - t_pass)
        if time.perf_counter() - start >= seconds and len(passes) >= 1 + trace:
            break
    tracer.recording = False
    if trace:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return samples, passes, prime_s


def verify(samples: list[Sample], catalog, data_dir: str, workload: Workload) -> int:
    """Check every delivered result against its DuckDB twin (rows > 0 for
    the queries without one); expected rows are computed once per query.
    Returns the number of wrong results."""
    import pandas as pd

    from frauddetection_spark.oracle import _canon_frame, duckdb_connection

    con = duckdb_connection(data_dir)
    expected: dict[str, tuple[list[str], list[str]]] = {}
    wrong = 0
    try:
        for s in samples:
            if s.error is not None:
                continue
            pdf = pd.read_parquet(s.output) if workload.delivery == "parquet" else s.output
            oracle = catalog[s.name].oracle
            if oracle is None:
                ok = len(pdf) > 0
            else:
                if s.name not in expected:
                    du = con.execute(oracle).fetchdf()
                    expected[s.name] = (sorted(du.columns), _canon_frame(du))
                cols, rows = expected[s.name]
                ok = sorted(pdf.columns) == cols and _canon_frame(pdf) == rows
            if not ok:
                wrong += 1
                _log(f"WRONG {s.name} (sample {s.index})")
    finally:
        con.close()
    return wrong


def end_to_end(samples, passes, setup) -> dict[str, tuple[float, str]]:
    lat = [s.latency for s in samples if s.error is None and s.pass_index >= 0]
    return {
        "setup_s": (setup["setup_s"], "s"),
        "pass_s": (stats.median(passes), "s"),
        "latency_p50_s": (stats.median(lat), "s"),
    }


def per_layer(samples, setup, tracer, spark_by_group, cores, io_counts):
    """Layer metrics over the traced samples, normalized per query."""
    traced = [s for s in samples if s.traced and s.error is None]
    n = len(traced)
    by_trace: dict[int, list] = {}
    for sp in tracer.spans:
        by_trace.setdefault(sp.trace, []).append(sp)
    ok_spans = [by_trace[s.trace] for s in traced]

    def durations(name):
        return [sp.end - sp.start for spans in ok_spans for sp in spans if sp.name == name]

    def spark_sum(key, phases=("build", "exec")):
        return sum(spark_by_group.get(f"s{s.index}.{ph}", {}).get(key, 0.0)
                   for s in traced for ph in phases)

    self_by_name = stats.self_time_by_name([sp for spans in ok_spans for sp in spans])
    busy_wall = sum(durations("query"))
    plain = [s.latency for s in samples
             if not s.traced and s.error is None and s.pass_index >= 0]
    m = {
        "setup.import_s": (setup["setup.import_s"], "s"),
        "session.start_s": (setup["session.start_s"], "s"),
        "registry.load_s": (setup["registry.load_s"], "s"),
        "setup.warmup_s": (setup["setup.warmup_s"], "s"),
        "plan.build_s": (stats.median(durations("plan.build")), "s"),
        "plan.eager_jobs": (spark_sum("jobs", ("build",)) / n, "count"),
        "tables.load_calls": (len(durations("tables.load_table")) / n, "count"),
        "tables.load_s": (sum(durations("tables.load_table")) / n, "s"),
        "exec.action_s": (stats.median(durations("exec.action")), "s"),
        "exec.jobs": (spark_sum("jobs") / n, "count"),
        "exec.stages": (spark_sum("stages") / n, "count"),
        "exec.tasks": (spark_sum("tasks") / n, "count"),
        "exec.failed_tasks": (spark_sum("failed_tasks") / n, "count"),
        "exec.executor_run_s": (spark_sum("executor_run_s") / n, "s"),
        "exec.executor_cpu_s": (spark_sum("executor_cpu_s") / n, "s"),
        "exec.gc_s": (spark_sum("gc_s") / n, "s"),
        "exec.core_busy_frac": (spark_sum("executor_run_s") / (busy_wall * cores), "frac"),
        "exec.input_bytes": (spark_sum("input_bytes") / n, "B"),
        "exec.shuffle_read_bytes": (spark_sum("shuffle_read_bytes") / n, "B"),
        "exec.shuffle_write_bytes": (spark_sum("shuffle_write_bytes") / n, "B"),
        "exec.spill_bytes": (spark_sum("spill_bytes") / n, "B"),
        "python.boot_s": (spark_sum("python.boot_s") / n, "s"),
        "python.init_s": (spark_sum("python.init_s") / n, "s"),
        "python.run_s": (spark_sum("python.run_s") / n, "s"),
        "python.bytes_sent": (spark_sum("python.bytes_sent") / n, "B"),
        "python.bytes_returned": (spark_sum("python.bytes_returned") / n, "B"),
        "cache.released": (sum(s.released for s in traced) / n, "count"),
        "cache.release_s": (sum(durations("cache.release")) / n, "s"),
        "io.bytes_written": (io_counts[0] / n, "B"),
        "io.files_written": (io_counts[1] / n, "count"),
        "trace.overhead_frac": ((sum(s.latency for s in traced) / n)
                                / (sum(plain) / len(plain)) - 1.0, "frac"),
    }
    for span_name in ("query", "plan.build", "tables.load_table", "exec.action", "cache.release"):
        key = "self." + span_name.replace(".", "_") + "_s"
        m[key] = (self_by_name.get(span_name, 0.0) / n, "s")
    return m


def _io_counts(samples: list[Sample]) -> tuple[int, int]:
    """Bytes and data files of the traced samples' parquet deliveries."""
    nbytes = nfiles = 0
    for s in samples:
        if not s.traced or s.error is not None or not isinstance(s.output, str):
            continue
        for entry in os.scandir(s.output):
            if entry.name.endswith(".parquet"):
                nbytes += entry.stat().st_size
                nfiles += 1
    return nbytes, nfiles


def _per_query(samples: list[Sample]) -> dict[str, float]:
    by_name: dict[str, list[float]] = {}
    for s in samples:
        if s.error is None and s.pass_index >= 0:
            by_name.setdefault(s.name, []).append(s.latency)
    return {f"query.{k}.s": stats.median(v) for k, v in sorted(by_name.items())}


def _generate(data_dir: str, sf: float, seed: int) -> tuple[str, float]:
    t = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "datagen.py"), "--seed", str(seed),
         "--sf", str(sf), "--out", data_dir],
        check=True, capture_output=True, text=True, timeout=170,
    )
    return out.stdout.strip().splitlines()[-1], time.perf_counter() - t


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # set by the run itself when it spawns its session interpreter
    ap.add_argument("--run-dir", help=argparse.SUPPRESS)
    ap.add_argument("--spawned-at", type=float, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.run_dir is not None:
        run_session(args)
        return
    workload = WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{workload.name}-{args.seed}-", dir=WORK)
    try:
        pin_environment(run_dir)
        fingerprint, gen_s = _generate(os.path.join(run_dir, "data"), workload.sf, args.seed)
        _log(f"data sf={workload.sf} seed={args.seed} sha256={fingerprint} gen_s={gen_s:.3f}")
        # Set-up starts in a fresh interpreter, as a user's process would;
        # that interpreter measures and prints the result line.
        code = subprocess.run(
            [sys.executable, os.path.abspath(__file__), *sys.argv[1:],
             "--run-dir", run_dir, "--spawned-at", repr(time.monotonic())],
            timeout=170,
        ).returncode
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(code)


def run_session(args) -> None:
    workload = WORKLOADS[args.workload]
    run_dir = args.run_dir
    data_dir = os.path.join(run_dir, "data")
    spark = None
    try:
        spark, catalog, setup = set_up(data_dir, session_conf(run_dir, bool(args.trace)),
                                       args.spawned_at)
        _log("set-up: " + ", ".join(f"{k}={v:.3f}" for k, v in setup.items()))
        from tracing import Tracer, instrument

        tracer = Tracer()
        restore = instrument(tracer) if args.trace else None
        landing = os.path.join(run_dir, "landing")
        samples, passes, prime_s = measure(spark, catalog, workload, data_dir, landing,
                                           args.seed, args.seconds, tracer, bool(args.trace))
        _log(f"priming pass: {prime_s:.3f} s")
        rss = _peak_rss_mb(spark)
        live = _live_heap_mb(spark)
        _log(f"peak_rss_mb={rss:.1f} live_heap_mb={live:.1f}")
        if restore is not None:
            restore()
        failed = sum(1 for s in samples if s.error is not None)
        t_verify = time.perf_counter()
        wrong = verify(samples, catalog, data_dir, workload)
        _log(f"verified {len(samples)} results in {time.perf_counter() - t_verify:.3f} s")
        if args.trace:
            from spark_metrics import SparkMetrics

            groups = {f"s{s.index}.{ph}" for s in samples if s.traced for ph in ("build", "exec")}
            spark_by_group = SparkMetrics(spark).by_group(groups)
            cores = int(os.environ["SPARK_GRAFT_CPUS"])
            metrics = per_layer(samples, setup, tracer, spark_by_group, cores,
                                _io_counts(samples))
            metrics["jvm.peak_rss_mb"] = (rss, "MiB")
            metrics["jvm.live_heap_mb"] = (live, "MiB")
            _write_trace(workload, args.seed, tracer, samples, spark_by_group)
        else:
            metrics = end_to_end(samples, passes, setup)
        _report(workload, samples, passes, failed, wrong, metrics)
    finally:
        if spark is not None:
            stop_spark(spark)
    print(json.dumps({
        "correct": wrong == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def _write_trace(workload, seed, tracer, samples, spark_by_group) -> None:
    out_dir = os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{workload.name}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump({
            "spans": [sp.__dict__ for sp in tracer.spans],
            "samples": [{"index": s.index, "query": s.name, "pass": s.pass_index,
                         "traced": s.traced, "latency_s": s.latency,
                         "failed": s.error is not None} for s in samples],
            "spark": spark_by_group,
        }, f)
    _log(f"trace written to {path}")


def _report(workload, samples, passes, failed, wrong, metrics) -> None:
    n = len(samples)
    _log(f"workload {workload.name}: {n} queries in {len(passes)} passes "
         f"({', '.join(f'{t:.3f}' for t in passes)} s), "
         f"failed_frac={failed / n:.4f} wrong_frac={wrong / n:.4f}")
    timed = [s.name for s in samples if s.pass_index >= 0]
    _log(f"  {len(timed)} timed samples; share after a same-name sample "
         f"{stats.repeat_share(timed):.4f}")
    for k, (v, u) in metrics.items():
        _log(f"  {k:28s} {v:14.6f} {u}")
    for k, v in _per_query(samples).items():
        _log(f"  {k:40s} {v:10.4f} s")


if __name__ == "__main__":
    main()
