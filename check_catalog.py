#!/usr/bin/env python
"""Check the declared catalog against its DuckDB twins on a vanilla session.

Runs every query of ``__spark_entry__.queries()`` (or only the named
ones) on a *vanilla* SparkSession (plain builder at host parallelism —
``SPARK_GRAFT_CPUS`` or else the process's CPU affinity — none of the
repo's tuned configs) and compares each against its DuckDB twin (row count + schema
+ order-insensitive value hash; ``compare`` also runs the
driver-canonicalizer leg). Queries without a twin must return rows.
A query that only passes under the test suite's configs fails here.

Usage:
    python check_catalog.py                          # all declared queries
    python check_catalog.py q_item_cf q_tpch_q2      # named subset
    python check_catalog.py --hostile                # hostile-config check

``--hostile`` swaps the vanilla session for the adversarial
partition-invariance config the README's correctness claim rests on:
local[5] (odd, undersubscribed), 7 shuffle partitions (prime, tiny —
surfaces any per-partition nondeterminism a 32/200 layout hides), ANSI
mode off (the lenient coercion path), Arrow DISABLED for pandas UDF
exchange (the slow serializer path — results must not depend on the
Arrow batch boundary). Any query whose result depends on partition
count, evaluation order, or the exchange format hash-mismatches here.

Prints one line per query and a final JSON summary; exit code 1 on any
mismatch/error.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    ap.add_argument(
        "--hostile",
        action="store_true",
        help="check under the adversarial config: local[5], 7 shuffle "
        "partitions, ANSI off, Arrow off (partition-invariance gate)",
    )
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from frauddetection_spark.oracle import compare, duckdb_connection
    from frauddetection_spark.session import DEFAULT_CPUS

    # Vanilla session: plain builder, no repo configs. Parallelism
    # follows the host's cores (session.DEFAULT_CPUS, read from CPU
    # affinity): a hardcoded local[32] oversubscribes smaller hosts.
    # getOrCreate would silently REUSE any tuned session already live
    # in this process — which defeats the vanilla-session purpose, so
    # refuse instead (an explicit raise, not assert: must survive
    # python -O).
    if SparkSession.getActiveSession() is not None:
        raise SystemExit(
            "a SparkSession is already active in this process — the "
            "check must build its own vanilla session; run this "
            "script standalone"
        )
    if args.hostile:
        spark = (
            SparkSession.builder.master("local[5]")
            .appName("check-catalog-hostile")
            .config("spark.sql.shuffle.partitions", "7")
            .config("spark.sql.ansi.enabled", "false")
            .config("spark.sql.execution.arrow.pyspark.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = (
            SparkSession.builder.master(f"local[{DEFAULT_CPUS}]")
            .appName("check-catalog")
            .getOrCreate()
        )
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(queries)

    from frauddetection_spark.operators.caching import release_caches

    con = duckdb_connection(args.sf_dir)
    t0 = time.time()
    failures: dict[str, str] = {}
    for i, name in enumerate(names, 1):
        qt = time.time()
        try:
            df = queries[name](spark, args.sf_dir)
            if name in oracles:
                # compare() drains tracked caches internally
                res = compare(name, df, con, oracles[name])
                ok, detail = res.ok, res.detail
            else:
                n = df.count()
                ok, detail = n > 0, f"rows_only rows={n}"
                release_caches()
        except Exception as e:  # noqa: BLE001 — the check must report, not die
            ok, detail = False, f"{type(e).__name__}: {e}"
            release_caches()
        status = "ok" if ok else "FAIL"
        if not ok:
            failures[name] = detail
        print(f"[{i:>3}/{len(names)}] {name:<28} {status:<4} {time.time()-qt:5.1f}s {detail if not ok else ''}")
        sys.stdout.flush()
    summary = {
        "checked": len(names),
        "failed": failures,
        "elapsed_sec": round(time.time() - t0, 1),
        "sf_dir": args.sf_dir,
    }
    print(json.dumps(summary))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
