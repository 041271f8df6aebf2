"""Declared queries for the Python surface (SURVEY.md §2.8 E8 + the
multimodal north-star): the pandas-UDF paths, oracle-checked where the
kernel is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frauddetection_spark.functions.multimodal import (
    decode_media,
    with_media_column,
)
from frauddetection_spark.functions.pandas_udfs import (
    document_stats,
    zscore_per_user,
)
from frauddetection_spark.plans.registry import register
from frauddetection_spark.queries._util import r6, t


@register(
    "q_pandas_udf_zscore",
    oracle="""
    WITH c AS (
        SELECT event_id, user_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    m AS (
        SELECT user_id,
               CAST(sum(cents) AS DOUBLE) / count(*) AS mu,
               CAST(sum(cents * cents) AS DOUBLE) / count(*)
                 - (CAST(sum(cents) AS DOUBLE) / count(*))
                   * (CAST(sum(cents) AS DOUBLE) / count(*)) AS var
        FROM c GROUP BY user_id
    )
    SELECT c.event_id, c.user_id,
           CASE WHEN m.var > 0
                THEN (c.cents - m.mu) / sqrt(m.var)
                ELSE 0 END AS zscore
    FROM c JOIN m ON c.user_id = m.user_id
    ORDER BY event_id
    """,
)
def q_pandas_udf_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score computed in an applyInPandas grouped-map UDF
    (functions/pandas_udfs.py::zscore_group). The Python kernel uses
    exact-int moments (Σc, Σc²), so it hash-matches the same formula in
    SQL — proof the Arrow hop preserves the engine's determinism
    policy. Built-in twin: q_zscore (A10, window functions)."""
    events = t(spark, sf_dir, "events")
    return (
        zscore_per_user(events)
        .select("event_id", "user_id", "zscore")
    )


@register(
    "q_doc_stats_mapinpandas",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
        FROM documents
    ),
    counts AS (
        SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY 1, 2
    ),
    top AS (
        SELECT doc_id, token AS top_token,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY cnt DESC, token
               ) AS rn
        FROM counts
    )
    SELECT c.doc_id,
           CAST(sum(c.cnt) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           any_value(tp.top_token) AS top_token
    FROM counts c JOIN top tp ON c.doc_id = tp.doc_id AND tp.rn = 1
    GROUP BY c.doc_id ORDER BY c.doc_id
    """,
)
def q_doc_stats_mapinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token stats via mapInPandas (batch-streaming, no
    shuffle) with a deterministic top-token tie-break — the Python
    partition-transform path, oracle-checked against the pure-SQL
    equivalent."""
    docs = t(spark, sf_dir, "documents")
    return document_stats(docs)


@register(
    "q_binary_meta",
    oracle="""
    SELECT doc_id,
           'image' AS kind,
           CAST(length(text) AS BIGINT) AS n_bytes,
           sha256(text) AS sha
    FROM documents ORDER BY doc_id
    """,
)
def q_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary media column
    (functions/multimodal.py data model). Metadata-only projection:
    the binary payload is never deserialized (struct-field pruning) —
    the property that makes 100-TB media tables queryable. ASCII
    corpus → n_bytes equals n_chars and sha256(bytes)=sha256(text) in
    the oracle."""
    media = with_media_column(t(spark, sf_dir, "documents"))
    return media.select(
        "doc_id",
        F.col("media.meta.kind").alias("kind"),
        F.col("media.meta.n_bytes").alias("n_bytes"),
        F.col("media.meta.sha").alias("sha"),
    )


@register("q_multimodal_decode", oracle=None)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed media decode via mapInPandas with the deterministic
    digest kernel that stands in for an image library
    (functions/multimodal.py::decode_image). Rows-only: the kernel is
    not SQL-expressible."""
    media = with_media_column(t(spark, sf_dir, "documents"))
    return decode_media(media)


# ---------------------------------------------------------------------------
# M1 hook — broadcast-weights model scoring
# ---------------------------------------------------------------------------

# fixed demo scorer: tanh(w1·f1 + w2·f2 + b) over two per-user features
_W1, _W2, _B = 0.3, -0.2, 0.1


@register(
    "q_model_score",
    oracle=f"""
    WITH feats AS (
        SELECT user_id,
               CAST(count(*) AS DOUBLE) / 100 AS f_rate,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                   / count(*) / 100 AS f_mean
        FROM events GROUP BY user_id
    ),
    lin AS (
        SELECT user_id, f_rate, f_mean,
               {_W1} * f_rate + {_W2} * f_mean + {_B} AS z
        FROM feats
    )
    SELECT user_id,
           round(f_rate, 6) AS f_rate,
           round(f_mean, 6) AS f_mean,
           round((exp(2 * z) - 1) / (exp(2 * z) + 1), 6) AS score
    FROM lin ORDER BY user_id
    """,
)
def q_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model scoring through the M1 scoring hook (functions/torch_hook.py):
    per-user features stay cluster-resident, the (tiny) weight vector is
    broadcast, and a mapInPandas forward pass appends the score — the
    migration path for the reference's trained MultiLstm
    (src/layers.py:9-69, driver-scored at main.py:128-142). Here the
    forward is the deterministic numpy reference (tanh(Xw+b)); the
    oracle evaluates the same closed form in SQL ((e^{{2z}}-1)/(e^{{2z}}+1)
    — DuckDB has no tanh), with r6 rounding absorbing libm 1-ulp drift
    per the engine's transcendental policy."""
    import numpy as np

    from frauddetection_spark.functions.torch_hook import score_batches

    events = t(spark, sf_dir, "events")
    feats = events.groupBy("user_id").agg(
        (F.count("*").cast("double") / 100).alias("f_rate"),
        (
            F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double")
            / F.count("*")
            / 100
        ).alias("f_mean"),
    )
    weights = {"w": np.array([_W1, _W2]), "b": _B}
    scored = score_batches(feats, ["f_rate", "f_mean"], weights)
    return scored.select(
        "user_id",
        r6("f_rate").alias("f_rate"),
        r6("f_mean").alias("f_mean"),
        r6("score").alias("score"),
    )


# ---------------------------------------------------------------------------
# E8 — scalar pandas_udf (vectorized per-row kernel, Arrow-batched)
# ---------------------------------------------------------------------------


@register(
    "q_pandas_udf_tokens",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
    FROM documents ORDER BY doc_id
    """,
)
def q_pandas_udf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR pandas_udf surface: whitespace token counts through the
    Arrow-vectorized Python kernel (functions/pandas_udfs.py::
    token_count) — one Python round-trip per Arrow BATCH, never per
    row. Completes the E8 matrix as a driver-checked query alongside
    grouped-map (q_pandas_udf_zscore), mapInPandas
    (q_doc_stats_mapinpandas) and grouped-agg
    (q_pandas_udf_grouped_agg). The built-in twin
    (size(split(...))) is what production code should use — the UDF
    form exists to pin the Python path's semantics against it."""
    from frauddetection_spark.functions.pandas_udfs import token_count

    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count("text").alias("n_tokens"))


# ---------------------------------------------------------------------------
# E8 — grouped-agg pandas_udf (exact-cents mean)
# ---------------------------------------------------------------------------


@register(
    "q_pandas_udf_grouped_agg",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / count(*) / 100 AS mean_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_pandas_udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas_udf surface: per-type mean through the
    Python aggregation kernel (functions/pandas_udfs.py::exact_mean).
    The kernel accumulates exact int64 cents (shared half-away-from-
    zero rounding) and divides in the same order as the SQL twin, so
    the Python hop is bit-transparent. Scale shape is identical to the
    built-in agg: map-side Arrow batches reduce per group, one shuffle
    on the grouping key."""
    from frauddetection_spark.functions.pandas_udfs import exact_mean

    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(exact_mean("value").alias("mean_value"))
    )


# ---------------------------------------------------------------------------
# E8 — Python UDTF (table function): one row in, N rows out
# ---------------------------------------------------------------------------

INSTALLMENT_CENTS = 10_000_000  # 100k$ per installment
MAX_INSTALLMENTS = 12


@register(
    "q_python_udtf",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS amt
        FROM orders
    ),
    n AS (
        SELECT o_orderkey, amt,
               LEAST(CAST(ceil(CAST(amt AS DOUBLE) / {INSTALLMENT_CENTS})
                          AS BIGINT), {MAX_INSTALLMENTS}) AS n_inst
        FROM o
    )
    SELECT o_orderkey,
           CAST(i AS INTEGER) AS installment,
           CAST(CASE WHEN i < n_inst THEN {INSTALLMENT_CENTS}
                     ELSE amt - (n_inst - 1) * {INSTALLMENT_CENTS}
                END AS BIGINT) AS amount_cents
    FROM n, unnest(range(1, n_inst + 1)) AS t(i)
    ORDER BY o_orderkey, installment
    """,
)
def q_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (the last cell of the E8 matrix after
    scalar / grouped-agg / grouped-map / mapInPandas): a table function
    expanding each order into its installment schedule — 1 row in,
    up to MAX_INSTALLMENTS rows out, final installment carries the
    exact-cents remainder. The UDTF is invoked through the SQL TVF
    surface with a LATERAL correlation, the API a migrating user
    actually calls. Row-at-a-time Python is the documented slow path
    (SURVEY §2.8 E8) — the point here is the SEMANTICS + wiring (Arrow
    batches, schema declaration, lateral binding); the identical
    expansion is expressible as the sequence-explode the oracle runs,
    which is also the 100-TB plan."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="installment int, amount_cents bigint")
    class Installments:
        def eval(self, amt: int):
            if amt is None:
                return
            n_inst = min(
                -(-amt // INSTALLMENT_CENTS), MAX_INSTALLMENTS
            )
            for i in range(1, n_inst + 1):
                if i < n_inst:
                    yield i, INSTALLMENT_CENTS
                else:
                    yield i, amt - (n_inst - 1) * INSTALLMENT_CENTS

    spark.udtf.register("fd_installments", Installments)
    return spark.sql(
        """
        SELECT o.o_orderkey, s.installment, s.amount_cents
        FROM (SELECT o_orderkey,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS amt
              FROM {orders}) o,
             LATERAL fd_installments(o.amt) s
        """,
        orders=t(spark, sf_dir, "orders"),
    )


# ---------------------------------------------------------------------------
# E8+ — mapInArrow: the zero-pandas Arrow batch boundary
# ---------------------------------------------------------------------------


@register(
    "q_arrow_transform",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_total,
           CAST(sum(CAST(round(value * 100) AS BIGINT) % 7) AS BIGINT)
               AS mod7_total
    FROM events GROUP BY 1 ORDER BY event_type
    """,
)
def q_arrow_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow surface: the per-partition kernel receives raw
    pyarrow RecordBatches and returns RecordBatches — the LOWEST-
    overhead Python boundary Spark has (no pandas conversion on
    either side; for Arrow-native libs like polars/pyarrow.compute the
    pandas hop of mapInPandas is pure tax, and for wide binary/
    multimodal columns it double-copies). The kernel computes exact
    integer cents and a mod-7 stripe with pyarrow.compute only; the
    downstream aggregate and the DuckDB twin pin that the Arrow round
    trip is value-exact (float64 → round → int64 identical to the
    JVM's). Completes the Python-boundary matrix: row UDF (banned),
    pandas_udf scalar/grouped, mapInPandas, applyInPandas, cogrouped,
    UDTF, Python DataSource — and now mapInArrow."""
    import pyarrow as pa
    import pyarrow.compute as pc

    e = t(spark, sf_dir, "events").select("event_type", "value")

    def kernel(batches):
        for b in batches:
            cents = pc.cast(
                pc.round(pc.multiply(b.column("value"), pa.scalar(100.0))),
                pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("event_type"),
                    cents,
                    pc.subtract(
                        cents,
                        pc.multiply(
                            pc.cast(
                                pc.floor(
                                    pc.divide(
                                        pc.cast(cents, pa.float64()),
                                        pa.scalar(7.0),
                                    )
                                ),
                                pa.int64(),
                            ),
                            pa.scalar(7, pa.int64()),
                        ),
                    ),
                ],
                names=["event_type", "cents", "mod7"],
            )

    out = e.mapInArrow(kernel, "event_type string, cents long, mod7 long")
    return (
        out.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").cast("bigint").alias("cents_total"),
            F.sum("mod7").cast("bigint").alias("mod7_total"),
        )
    )
