"""Pins for the latent negative-zero hash hazard (SURVEY §7.7) and the
driver-leg mismatch classifier.

The hazard: ``f"{-0.0:.6f}"`` renders ``-0.000000``, so if Spark and
DuckDB ever disagree on the SIGN of a rounded zero (summation-order
artifacts can produce ``-0.0``), the value hash mismatches even though
the values compare equal. Policy: the canonicalizer must KEEP
detecting it (the local harness stays at least as strict as the
driver's); a firing is fixed at the query level (``abs()`` guard or
``+ 0.0`` in BOTH twins), never by loosening the comparator. These
tests pin (a) that the hazard stays detectable in both comparator
legs, (b) that the structural precondition — a ROUND over a SUM — is
an enumerable, committed watch-list rather than an anecdote, and (c)
that order-only raw-sort ties are classified as such instead of being
misreported as value diffs.

Pure-python: no Spark session needed.
"""

from __future__ import annotations

import ast
import inspect
import os
import re
import sys
import textwrap

import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from frauddetection_spark.oracle import (  # noqa: E402
    _canon_frame,
    driver_canon_frame,
    driver_leg_mismatch_kind,
)

WATCHLIST = os.path.join(_REPO, "NEGZERO_WATCHLIST.txt")


def test_negative_zero_stays_detectable_in_both_legs():
    # the hazard is real and must STAY detectable: -0.0 vs 0.0 renders
    # differently through _canon_cell, so both comparator legs mismatch
    a = pd.DataFrame({"k": ["x"], "v": [0.0]})
    b = pd.DataFrame({"k": ["x"], "v": [-0.0]})
    assert _canon_frame(a) != _canon_frame(b)
    assert driver_canon_frame(a) != driver_canon_frame(b)
    # and the classifier calls it a VALUE diff (the rendered rows
    # really differ — this is not a raw-sort tie)
    kind = driver_leg_mismatch_kind(driver_canon_frame(a), driver_canon_frame(b))
    assert kind == "value diff"


def test_order_only_raw_sort_tie_classified_as_such():
    # sub-tolerance float drift on near-tied rows can order
    # the two frames differently while every RENDERED row matches —
    # the classifier must say order-only, not value diff
    # "amt" sorts before "tag", so the raw float column drives the
    # driver-leg row order; the two values differ only below 6dp
    a = pd.DataFrame({"amt": [1.0000000001, 0.9999999999], "tag": ["b", "a"]})
    b = pd.DataFrame({"amt": [1.0000000001, 0.9999999999], "tag": ["a", "b"]})
    da, db = driver_canon_frame(a), driver_canon_frame(b)
    assert da != db  # raw sort put the 6dp-identical rows in different order
    assert sorted(da) == sorted(db)
    assert driver_leg_mismatch_kind(da, db).startswith("order-only")


# every spelling of "round this" in the repo: F.round plus the _util
# helpers that wrap it (r6 = F.round(·, 6): a lint that matched only
# the literal name "round" missed the 34 call sites rounding through
# it)
_ROUNDERS = {"round", "r6"}


def _round_of_sum_spark(fn) -> bool:
    """ast leg of the watch-list lint: any Call named like a rounder
    (``F.round`` or the ``r6`` helper) whose argument tree contains a
    Call named ``sum`` (however deeply nested in arithmetic)."""
    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, TypeError, SyntaxError):
        return False

    def callee(node):
        f = node.func
        if isinstance(f, ast.Attribute):
            return f.attr
        if isinstance(f, ast.Name):
            return f.id
        return None

    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and callee(node) in _ROUNDERS:
            for sub in ast.walk(node):
                if sub is not node and isinstance(sub, ast.Call):
                    if callee(sub) == "sum":
                        return True
    return False


# SQL leg: ROUND and SUM co-present ANYWHERE in the twin (not
# ROUND-textually-before-SUM: a sum computed in a CTE and rounded in
# the outer SELECT evades a forward-only pattern). A
# watch-list over-approximates by design.
_SQL_ROUND = re.compile(r"\bROUND\s*\(", re.IGNORECASE)
_SQL_SUM = re.compile(r"\bSUM\s*\(", re.IGNORECASE)


def _round_of_sum_sql(sql: str) -> bool:
    return bool(_SQL_ROUND.search(sql)) and bool(_SQL_SUM.search(sql))


def test_round_of_sum_watchlist_matches_committed_file():
    # the watch-list is ENUMERABLE, not anecdotal: recompute the set of
    # queries whose Spark plan or DuckDB twin rounds over a sum and
    # pin it to the committed NEGZERO_WATCHLIST.txt — any new
    # round-of-sum site must land there (and get eyeballed) in the
    # same commit that introduces it
    from frauddetection_spark.plans.registry import load_all

    reg = load_all()
    computed = sorted(
        name
        for name, spec in reg.items()
        if _round_of_sum_spark(inspect.unwrap(spec.fn))
        or (spec.oracle and _round_of_sum_sql(spec.oracle))
    )
    with open(WATCHLIST) as fh:
        committed = [
            ln.strip()
            for ln in fh
            if ln.strip() and not ln.startswith("#")
        ]
    assert computed == committed, (
        "round-of-sum watch-list drifted — regenerate "
        "NEGZERO_WATCHLIST.txt (see its header) and review the new "
        f"entries; computed-not-committed: "
        f"{sorted(set(computed) - set(committed))}, "
        f"committed-not-computed: {sorted(set(committed) - set(computed))}"
    )


def test_negzero_immunity_rules():
    """Pins the three IEEE-754 facts the headline triage in
    NEGZERO_WATCHLIST.txt relies on (if a runtime/libm ever broke
    these, the immunity argument for the 17 headline entries would be
    void and this test names exactly which clause fell):

    (a) an integer zero cast to double is +0.0 — int-exact sums
        (cents / e-4 dollars / 1e-6 quantized) can never surface -0.0;
    (b) addition yields -0.0 only when EVERY addend is -0.0;
        positive/negative cancellation and x-x give +0.0 under
        round-to-nearest, so float sums of signable terms are safe
        unless individual terms are already -0.0;
    (c) the -0.0 entry points are sign-asymmetric products/quotients
        and unary minus on zero — the constructs the triage verified
        absent from both twins of every headline entry.
    """
    import math

    def neg(v: float) -> bool:
        return v == 0.0 and math.copysign(1.0, v) < 0

    # (a) integer zero -> +0.0
    assert not neg(float(0))
    assert not neg(float(5 + (-5)))
    # (b) sums: cancellation is +0.0; only all--0.0 addends go negative
    assert not neg(5.0 + (-5.0))
    assert not neg(3.7 - 3.7)
    assert not neg(sum([1.5, -1.5, 2.0, -2.0]))
    assert neg(-0.0 + -0.0)
    # (builtin sum() seeds with int 0, so sum([-0.0, -0.0]) is +0.0 —
    # engine column-sums fold pairwise over the values with no integer
    # seed, which is why the all--0.0-addends case matters there)
    # (c) the true entry points
    assert neg(0.0 * -1.0)
    assert neg(0.0 / -4.0)
    assert neg(-(0.0))


# ---------------------------------------------------------------------------
# Full-catalog triage (the burn-down of the watch-list).
#
# The headline triage covered 17 entries by hand; the remaining ~130
# are classified MECHANICALLY here, using one more fact on top of
# rules (a)-(c): the SIGN of a summed zero is ORDER-INDEPENDENT —
# sum == -0.0 iff every addend is -0.0 (rule b), which is a
# deterministic property of the addend multiset, not of summation
# order. Two engines summing the SAME terms therefore always agree on
# a zero's sign; disagreement requires the TERMS to differ, i.e. twin
# formulation asymmetry. So a rounded sum is immune when its terms
# provably cannot be -0.0 in either twin:
#
#   INT   — the sum aggregates int64-cast/quantized values (cents,
#           1e6-quantized components, 0/1 indicators): integer zero
#           casts to +0.0 (rule a).
#   PLAIN — terms are raw data columns / int CASE arms with no
#           Mult/Div/USub: a term can then be -0.0 only if the INPUT
#           holds -0.0, and test_testdata_has_no_negative_zero
#           verifies all three oracle-gate sfs are -0.0-free.
#   EYES  — the term tree contains a product/quotient/negation, the
#           constructs that can mint -0.0 (rule c): hand-reviewed,
#           frozen in _EYES_REVIEWED_IMMUNE below with the argument.
#
# A new round-of-sum site with a sign-flip-capable term lands in EYES,
# is NOT in the frozen set, and fails test_negzero_full_catalog_triage
# until someone reviews it — the same commit-and-eyeball contract the
# watch-list itself uses.
# ---------------------------------------------------------------------------

# The 19 EYES entries reviewed 2026-08-16. Every one is immune because
# every sign-flip-capable product is INTEGER arithmetic end-to-end
# (int64 quantized q / cents / 0-1 indicators / day offsets / integer
# taint micro-units with integer division) — an exact int sum casts to
# +0.0 — or the term is abs() (abs never returns -0.0) or a product of
# provably-positive factors (c>=1 counts in c*ln(c); nxy>=1, n>0 in
# the MI term). The classifier cannot see CTE column TYPES, so these
# stay frozen by name; re-review if the query's quantization changes.
_EYES_REVIEWED_IMMUNE = {
    # three headline entries land here too (already covered by the
    # headline triage's int-exactness argument; listed so the frozen
    # set matches the classifier's full-catalog output):
    "q_behavioral_features",  # SUM(cents*cents): int64
    "q_groupby_agg",        # SUM(pc*(100-dc)), SUM(q*q): int cents/qty
    "q_window_agg_transform",  # SUM(vc*vc): int64 cents squared
    "q_anomaly_mad",        # SUM(CASE..1..0): int terms; * is in the predicate
    "q_backtest_snaive",    # SUM(abs(...)): abs never yields -0.0
    "q_bootstrap_means",    # SUM(w*c): int Poisson weight x int cents
    "q_dedup_semantic",     # SUM(q*q)/SUM(a.q*b.q): int64 quantized
    "q_entropy",            # c*ln(c), c>=1 positive; c*c int
    "q_graph_aggregate_weighted",  # SUM(w*val_q): {-1,1} x int64
    "q_hyperplane_est",     # SUM(q*(+-1)) int64; q*q int64
    "q_iv_wald",            # SUM(z*x), SUM(z*y): 0/1 int x int64
    "q_ks_2sample",         # SUM(1-g1): int indicator arithmetic
    "q_multiscale_features",  # SUM(cents*cents): int64
    "q_mutual_info",        # (nxy/n)>0 strictly; (pos)*(+-0.0) = +0.0
    "q_pandas_udf_zscore",  # SUM(cents*cents): int64
    "q_psi",                # SUM(1-is_base): int indicator
    "q_survival_km",        # SUM(1-event): int indicator
    "q_taint_tracing",      # int taint micro-units, integer division
    "q_trend_slope",        # SUM(x*y)/SUM(x*x): int day x int cents
    "q_twap",               # SUM(next_us-us): int64 microseconds
    "q_woe_iv",             # SUM(1-bad): int indicator
    "q_zscore",             # SUM(bc*bc): int64 cents squared
}


def _classify_spark_sum_arg(sum_call: ast.Call) -> str:
    """INT if the summed expression is int-cast/quantized (cents() or
    .cast(int-like)); EYES if its tree can mint -0.0 (Mult/Div/USub);
    PLAIN otherwise."""
    has_int = has_flip = False
    for sub in ast.walk(sum_call):
        if isinstance(sub, ast.Call):
            f = sub.func
            c = f.attr if isinstance(f, ast.Attribute) else (
                f.id if isinstance(f, ast.Name) else None)
            if c == "cents":
                has_int = True
            if c == "cast" and any(
                isinstance(a, ast.Constant)
                and a.value in ("bigint", "long", "int", "integer")
                for a in sub.args
            ):
                has_int = True
        if isinstance(sub, ast.BinOp) and isinstance(
            sub.op, (ast.Mult, ast.Div)
        ):
            has_flip = True
        if isinstance(sub, ast.UnaryOp) and isinstance(sub.op, ast.USub):
            has_flip = True
    if has_int:
        return "INT"
    return "EYES" if has_flip else "PLAIN"


def _spark_sum_sites(fn) -> list[str]:
    """Classification of every F.sum argument under a rounder call."""
    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, TypeError, SyntaxError):
        return []

    def callee(node):
        f = node.func
        if isinstance(f, ast.Attribute):
            return f.attr
        if isinstance(f, ast.Name):
            return f.id
        return None

    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and callee(node) in _ROUNDERS:
            for sub in ast.walk(node):
                if (
                    sub is not node
                    and isinstance(sub, ast.Call)
                    and callee(sub) == "sum"
                ):
                    out.append(_classify_spark_sum_arg(sub))
    return out


def _sql_sum_spans(sql: str) -> list[str]:
    """Balanced-paren argument of every SUM( in the twin."""
    out = []
    for m in re.finditer(r"\bSUM\s*\(", sql, re.IGNORECASE):
        i, depth = m.end(), 1
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        out.append(sql[m.end(): i - 1])
    return out


def _classify_sql_sum_arg(arg: str) -> str:
    up = arg.upper()
    if (
        re.search(r"AS\s+(BIGINT|HUGEINT|INTEGER|INT\b)", up)
        or "::BIGINT" in up
        or "::HUGEINT" in up
    ):
        return "INT"
    if re.search(r"[*/]|(^|[^\w])-", arg):
        return "EYES"
    return "PLAIN"


def test_testdata_has_no_negative_zero():
    """The PLAIN bucket's immunity needs -0.0-free inputs: a plain
    column sum's terms come straight from parquet, and rule (b) then
    guarantees both engines agree on every zero's sign. Scan every
    float/double (incl. list<float>) column at the three oracle-gate
    sfs — a regenerated testdata drop that introduces -0.0 cells must
    fail here, not in a red driver row."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    hits = []
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        for f in sorted(glob.glob(f"/root/testdata/{sf}/*.parquet")):
            tbl = pq.read_table(f)
            for i, field in enumerate(tbl.schema):
                typ = str(field.type)
                if typ in ("double", "float"):
                    a = tbl.column(i).to_numpy(zero_copy_only=False)
                    if int(np.nansum((a == 0.0) & np.signbit(a))):
                        hits.append((sf, f, field.name))
                elif typ.startswith("list<") and str(
                    field.type.value_type
                ) in ("float", "double"):
                    flat = (
                        tbl.column(i).combine_chunks().flatten()
                        .to_numpy(zero_copy_only=False)
                    )
                    if int(((flat == 0.0) & np.signbit(flat)).sum()):
                        hits.append((sf, f, field.name))
    assert not hits, f"testdata now carries -0.0 cells: {hits}"


def test_negzero_full_catalog_triage():
    """Every watch-list entry classifies INT, PLAIN, or reviewed-EYES
    — so the whole catalog, not just the 17 headline names, carries an
    explicit immunity argument, and any future sign-flip-capable
    rounded sum must be hand-reviewed into _EYES_REVIEWED_IMMUNE in
    the commit that introduces it."""
    from frauddetection_spark.plans.registry import load_all

    reg = load_all()
    with open(WATCHLIST) as fh:
        names = [
            ln.strip() for ln in fh if ln.strip() and not ln.startswith("#")
        ]
    unreviewed = []
    for n in names:
        spec = reg[n]
        sites = _spark_sum_sites(inspect.unwrap(spec.fn))
        if spec.oracle:
            sites += [
                _classify_sql_sum_arg(a) for a in _sql_sum_spans(spec.oracle)
            ]
        if any(s == "EYES" for s in sites) and n not in _EYES_REVIEWED_IMMUNE:
            unreviewed.append(n)
    assert not unreviewed, (
        "rounded sums with sign-flip-capable terms (Mult/Div/USub) "
        "lacking a hand review — add each to _EYES_REVIEWED_IMMUNE "
        f"with its immunity argument: {unreviewed}"
    )
    # the frozen set must not carry stale names either (a rewrite that
    # removes the flip-capable term should drop its entry)
    stale = sorted(_EYES_REVIEWED_IMMUNE - set(names))
    assert not stale, f"reviewed-EYES names no longer on the watch-list: {stale}"
