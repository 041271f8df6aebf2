"""As-of join (SURVEY.md §2.3 J3 family): for each left row, the most
recent right row at-or-before it on a time axis, per key.

The naive formulation is an inequality join (left ⋈ right ON key AND
r.ts <= l.ts, then max) — quadratic per key, a disaster on hot keys.
The engine's form is the union-tag-window pattern: interleave both
sides on (key, ts), carry the last-seen right ROW forward with a
running window, and keep the left rows. ONE shuffle on key, linear
work, no pair explosion — the standard scale answer for as-of /
point-in-time joins (time-series enrichment, attribution, SCD
lookups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_last_before(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_cols: list[str],
) -> DataFrame:
    """Enrich `left` with `asof_<col>` for each of `right_cols`: the
    values of the latest `right` row whose `ts` is ≤ the left row's
    `ts`, per `key`.

    Semantics guarantees:
    - The carried values come from ONE right row, atomically: the
      window carries a struct of all right_cols, so a NULL in the
      latest right row is carried as NULL (never back-filled from an
      older row) and columns are never mixed across rows.
    - When `right` has an `event_id` column, it totalizes the order
      under equal timestamps — the max (ts, event_id) right row wins,
      deterministically. Without it the choice under ts ties is
      explicitly unspecified.
    - right_cols must not collide with left's columns (raises).
    """
    clash = set(right_cols) & set(left.columns)
    if clash:
        raise ValueError(f"right_cols collide with left columns: {sorted(clash)}")

    lt = left.withColumn("_side", F.lit(1))
    rt = right.withColumn("_side", F.lit(0))
    all_cols = set(lt.columns) | set(rt.columns)
    for c in sorted(all_cols):
        if c not in lt.columns:
            lt = lt.withColumn(c, F.lit(None))
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None))
    ordered_cols = sorted(all_cols)
    u = lt.select(*ordered_cols).union(rt.select(*ordered_cols))
    # right rows (_side 0) sort before left rows at equal ts, so an
    # equal-ts right row is visible to them
    order = [F.col(ts).asc(), F.col("_side").asc()]
    if "event_id" in right.columns:
        order.append(F.col("event_id").asc())
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn(
        "_asof",
        F.last(
            F.when(F.col("_side") == 0, F.struct(*right_cols)),
            ignorenulls=True,
        ).over(w),
    )
    out = carried.filter(F.col("_side") == 1)
    for rc in right_cols:
        out = out.withColumn(f"asof_{rc}", F.col("_asof")[rc])
    return out.drop("_side", "_asof", *right_cols)
