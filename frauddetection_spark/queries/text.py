"""Text-analysis queries over the ``documents`` table (SURVEY.md §2.8
E4/E5 + north-star text ops: language-ID, quality scoring, token
counting, document fingerprinting).

The reference has no text surface; these are [EXT] rows. Everything
stays JVM-side (split/explode/aggregate/transform — whole-stage
codegen), no Python UDFs: at 100 TB tokenization is the hot path and
must not cross the JVM↔Python boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frauddetection_spark.operators.caching import track_cache
from frauddetection_spark.plans.registry import register
from frauddetection_spark.queries._util import t

# Whitespace tokenization, identical in both engines.
_TOKENS_SPARK = r"\s+"
_SQL_TOKENS = r"string_split_regex(text, '\s+')"

# Tiny fixed stopword list (quality scoring; the synthetic corpus is
# Spark-flavored word soup, so function words are the right markers).
_STOPWORDS = ("a", "the", "of", "and", "to", "in", "is", "on", "for", "with")
_SQL_STOPWORDS = "(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"

# BPE-ish tokenizer: letter runs, digit runs, single other symbols.
_BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def _tokens() -> F.Column:
    return F.split(F.col("text"), _TOKENS_SPARK)


# ---------------------------------------------------------------------------
# E4 — token stats per language
# ---------------------------------------------------------------------------


@register(
    "q_token_stats",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS token FROM documents
    )
    SELECT lang,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_tokens,
           count(DISTINCT token) AS n_distinct_tokens,
           CAST(count(*) AS DOUBLE) / count(DISTINCT doc_id)
               AS avg_tokens_per_doc
    FROM tok GROUP BY lang ORDER BY lang
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: docs, token occurrences, vocabulary
    size, mean tokens/doc. explode is map-side; one shuffle on lang."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(_tokens()).alias("token"))
    return (
        tok.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_tokens"),
            F.countDistinct("token").alias("n_distinct_tokens"),
            (F.count("*").cast("double") / F.countDistinct("doc_id")).alias(
                "avg_tokens_per_doc"
            ),
        )
    )


# ---------------------------------------------------------------------------
# E5 + north-star — per-document quality scoring & filter
# ---------------------------------------------------------------------------


@register(
    "q_text_quality",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, lang,
               length(text) AS n_chars,
               len({_SQL_TOKENS}) AS n_tokens,
               len(list_distinct({_SQL_TOKENS})) AS n_distinct,
               list_aggregate(list_transform({_SQL_TOKENS}, x -> length(x)),
                              'sum') AS token_chars,
               len(list_filter({_SQL_TOKENS},
                               x -> x IN {_SQL_STOPWORDS})) AS n_stop
        FROM documents
    )
    SELECT doc_id, lang, n_chars, n_tokens,
           CAST(token_chars AS DOUBLE) / n_tokens AS avg_token_len,
           CAST(n_distinct AS DOUBLE) / n_tokens AS uniq_ratio,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_tokens >= 5 AND n_tokens <= 1000
                AND CAST(n_distinct AS DOUBLE) / n_tokens > 0.2
                AS INTEGER) AS passes_filter
    FROM q ORDER BY doc_id
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features (length, mean token length, unique- and
    stopword-token ratios) + a threshold filter flag — the standard
    LLM-pretraining quality gate, all as array expressions (no explode,
    no shuffle: pure map → retains input partitioning at 100 TB)."""
    docs = t(spark, sf_dir, "documents")
    tok = _tokens()
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    q = docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        F.size(tok).alias("n_tokens"),
        F.size(F.array_distinct(tok)).alias("n_distinct"),
        F.aggregate(
            F.transform(tok, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
        ).alias("token_chars"),
        F.size(F.filter(tok, lambda x: F.array_contains(stop_arr, x))).alias(
            "n_stop"
        ),
    )
    uniq = F.col("n_distinct").cast("double") / F.col("n_tokens")
    return q.select(
        "doc_id",
        "lang",
        "n_chars",
        "n_tokens",
        (F.col("token_chars").cast("double") / F.col("n_tokens")).alias(
            "avg_token_len"
        ),
        uniq.alias("uniq_ratio"),
        (F.col("n_stop").cast("double") / F.col("n_tokens")).alias(
            "stopword_ratio"
        ),
        (
            (F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 1000) & (uniq > 0.2)
        )
        .cast("int")
        .alias("passes_filter"),
    )


# ---------------------------------------------------------------------------
# north-star — corpus-trained language identification
# ---------------------------------------------------------------------------


@register(
    "q_lang_id",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS token FROM documents
    ),
    lf AS (
        SELECT lang AS cand_lang, token, count(*) AS cnt
        FROM tok GROUP BY 1, 2
    ),
    scores AS (
        SELECT t.doc_id, t.lang AS true_lang, lf.cand_lang,
               CAST(sum(lf.cnt) AS BIGINT) AS score
        FROM tok t JOIN lf ON t.token = lf.token
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, cand_lang
        ) AS rn FROM scores
    )
    SELECT doc_id, true_lang, cand_lang AS pred_lang, score,
           CAST(cand_lang = true_lang AS INTEGER) AS correct
    FROM ranked WHERE rn = 1 ORDER BY doc_id
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by corpus token-frequency profiles: build per-(lang,
    token) counts, score each doc against every language profile by
    summed token frequency (exact int64 — cross-engine deterministic),
    predict the argmax (ties → lexicographically first lang).

    Scale: the profile table is |vocab|×|langs| — tiny relative to the
    corpus → broadcast join onto the exploded token stream; one shuffle
    to aggregate per (doc, lang), one window for the argmax."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(_tokens()).alias("token")
    )
    lf = tok.groupBy(F.col("lang").alias("cand_lang"), "token").agg(
        F.count("*").alias("cnt")
    )
    scores = (
        tok.join(F.broadcast(lf), "token")
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "cand_lang")
        .agg(F.sum("cnt").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand_lang")
    )
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "true_lang",
            F.col("cand_lang").alias("pred_lang"),
            "score",
            (F.col("cand_lang") == F.col("true_lang")).cast("int").alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# north-star — BPE-ish regex token counting
# ---------------------------------------------------------------------------


@register(
    "q_token_regex",
    oracle=f"""
    WITH tk AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '{_BPE_PATTERN}') AS toks
        FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_bpe_tokens,
           len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$')))
               AS n_word_tokens,
           len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$')))
               AS n_digit_tokens,
           len(list_distinct(toks)) AS n_distinct
    FROM tk ORDER BY doc_id
    """,
)
def q_token_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word-style token counting with a BPE-ish regex (letter runs
    / digit runs / single symbols) — the cheap proxy for tokenizer cost
    estimation over a pretraining corpus. Pure map stage."""
    docs = t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PATTERN), 0)
    tk = docs.select("doc_id", toks.alias("toks"))
    return tk.select(
        "doc_id",
        F.size("toks").alias("n_bpe_tokens"),
        F.size(F.filter("toks", lambda x: x.rlike("^[a-z]+$"))).alias(
            "n_word_tokens"
        ),
        F.size(F.filter("toks", lambda x: x.rlike("^[0-9]+$"))).alias(
            "n_digit_tokens"
        ),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# north-star — document fingerprint (rolling hash)
# ---------------------------------------------------------------------------

# Polynomial rolling hash over character codes, mod a 32-bit prime.
# Exact int64 arithmetic at every step → bit-identical across engines.
_FP_SPARK = (
    "aggregate(transform(sequence(1, length(text)),"
    " i -> ascii(substr(text, i, 1))),"
    " 0L, (acc, x) -> (acc * 31 + x) % 1000000007)"
)
_FP_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(range(1, length(text) + 1),"
    " i -> CAST(unicode(text[i]) AS BIGINT))),"
    " (acc, x) -> (acc * 31 + x) % 1000000007)"
)


@register(
    "q_fingerprint",
    oracle=f"""
    SELECT doc_id, {_FP_SQL} AS fingerprint, length(text) AS n_chars
    FROM documents ORDER BY doc_id
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rolling-hash fingerprint (h = h*31 + c mod p) —
    content-addressing / incremental-dedup primitive. Expressed as a
    codegen'd fold over the char sequence: map-only, no shuffle, no
    Python. (Production would use xxhash64(text); the polynomial form
    is used here because it is reproducible in the DuckDB oracle.)"""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(_FP_SPARK).alias("fingerprint"),
        F.length("text").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# E4 — n-gram extraction via the MLlib feature path
# ---------------------------------------------------------------------------


@register(
    "q_ngrams",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        FROM documents
    ),
    ng AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        FROM tok
    )
    SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS n_docs
    FROM ng GROUP BY bigram
    HAVING count(*) >= 20
    ORDER BY bigram
    """,
)
def q_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts through the MLlib feature path
    (Tokenizer → NGram — the ml.feature route SURVEY E4 names), then
    plain explode + groupBy. NGram is deterministic, so even the
    MLlib-transformer output oracle-checks. Frequent-n-gram mining is
    the vocabulary-induction primitive for tokenizer training."""
    from pyspark.ml.feature import NGram, RegexTokenizer

    docs = t(spark, sf_dir, "documents")
    # RegexTokenizer with \s+: plain Tokenizer (String.split("\\s"))
    # emits EMPTY tokens for consecutive whitespace, diverging from the
    # oracle's string_split_regex(text, '\s+') semantics.
    tok = RegexTokenizer(
        inputCol="text", outputCol="toks", pattern=r"\s+", toLowercase=True
    ).transform(docs)
    ng = NGram(n=2, inputCol="toks", outputCol="bigrams").transform(tok)
    return (
        ng.select("doc_id", F.explode("bigrams").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n") >= 20)
    )


# ---------------------------------------------------------------------------
# [EXT] PII redaction (training-corpus scrubbing)
# ---------------------------------------------------------------------------

# The synthetic corpus contains no real PII, so the query INJECTS a
# deterministic amount first — doc_id % 3 emails and (doc_id+1) % 2
# phone numbers — making the redaction counts a nontrivial function the
# oracle can disagree with. Patterns are dialect-portable (same
# semantics under Java regex and RE2).
_EMAIL_RE = "[a-z0-9]+@[a-z0-9.]+[a-z]"
_PHONE_RE = "555-[0-9]{4}"


@register(
    "q_pii_redact",
    oracle=f"""
    WITH enriched AS (
        SELECT doc_id, source,
               text || repeat(' u' || CAST(doc_id AS VARCHAR)
                              || '@example.com', doc_id % 3)
                    || repeat(' call 555-'
                              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                              (doc_id + 1) % 2) AS t
        FROM documents
    ), redacted AS (
        SELECT doc_id, source,
               len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(t, '{_PHONE_RE}')) AS n_phones,
               regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g') AS clean
        FROM enriched
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_emails) AS BIGINT) AS emails_redacted,
           CAST(sum(n_phones) AS BIGINT) AS phones_redacted,
           CAST(sum(len(clean)) AS BIGINT) AS clean_chars,
           min(sha256(clean)) AS sample_hash
    FROM redacted GROUP BY source ORDER BY source
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the mandatory pass before any corpus ships:
    match emails/phone numbers, count them, replace with typed
    placeholder tokens. Pure regexp_count/regexp_replace expressions —
    JVM-side, map-only, no shuffle before the final per-source rollup,
    so the 100-TB cost is one scan. Redaction is proven, not assumed:
    the oracle recomputes counts AND a sha256 over the cleaned text in
    DuckDB's regex engine (RE2 vs Java — a pattern with dialect drift
    fails the hash). Injection of deterministic fake PII makes the
    counts data-dependent; see module comment."""
    docs = t(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.repeat(
                F.concat(
                    F.lit(" u"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
                (F.col("doc_id") % 3).cast("int"),
            ),
            F.repeat(
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
                ((F.col("doc_id") + 1) % 2).cast("int"),
            ),
        ).alias("t"),
    )
    redacted = enriched.select(
        "source",
        F.regexp_count("t", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("t", F.lit(_PHONE_RE)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("t", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("clean"),
    )
    return (
        redacted.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_emails").alias("emails_redacted"),
            F.sum("n_phones").alias("phones_redacted"),
            F.sum(F.length("clean")).alias("clean_chars"),
            F.min(F.sha2("clean", 256)).alias("sample_hash"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition ratio (quality heuristic, E5 family)
# ---------------------------------------------------------------------------


@register(
    "q_repetition_ratio",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(2, len(tk) + 1),
                      i -> tk[i - 1] || ' ' || tk[i])) AS bigram
        FROM tok WHERE len(tk) >= 2
    ),
    c AS (SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_bigrams,
           CAST(max(n) AS BIGINT) AS top_bigram_n,
           count(*) AS n_distinct,
           CAST(max(n) AS DOUBLE) / sum(n) AS top_share,
           CAST(count(*) AS DOUBLE) / sum(n) AS distinct_share
    FROM c GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition profile over word bigrams — the Gopher
    duplicate-ngram quality rule (fraction of mass in the most common
    2-gram, plus distinct-bigram share; high top_share flags
    boilerplate/spam). All counts are exact integers; the two shares
    are single int divisions written identically in both twins.
    Bigrams are built with a JVM-side higher-order transform over the
    token array (no Python, no self-join on position); one shuffle on
    (doc_id, bigram), one on doc_id."""
    docs = t(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), _TOKENS_SPARK)
    bigrams = F.expr(
        "transform(sequence(2, size(tk)),"
        " i -> concat(element_at(tk, i - 1), ' ', element_at(tk, i)))"
    )
    c = (
        docs.select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("n"))
    )
    return (
        c.groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_bigrams"),
            F.max("n").cast("bigint").alias("top_bigram_n"),
            F.count("*").alias("n_distinct"),
            (F.max("n").cast("double") / F.sum("n")).alias("top_share"),
            (F.count("*").cast("double") / F.sum("n")).alias("distinct_share"),
        )
    )


# ---------------------------------------------------------------------------
# lexicon sentiment/polarity scoring
# ---------------------------------------------------------------------------

_LEX_POS = ("fast", "big")
_LEX_NEG = ("slow", "small")


@register(
    "q_lexicon_score",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               sum(CASE WHEN token IN {_LEX_POS} THEN 1 ELSE 0 END) AS pos_n,
               sum(CASE WHEN token IN {_LEX_NEG} THEN 1 ELSE 0 END) AS neg_n
        FROM tok GROUP BY 1
    )
    SELECT doc_id, CAST(pos_n AS BIGINT) AS pos_n,
           CAST(neg_n AS BIGINT) AS neg_n,
           CASE WHEN pos_n + neg_n > 0
                THEN CAST(pos_n - neg_n AS DOUBLE) / (pos_n + neg_n)
                ELSE 0.0 END AS polarity
    FROM s ORDER BY doc_id
    """,
)
def q_lexicon_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon polarity scoring: per-document (pos−neg)/(pos+neg) over
    broadcast positive/negative word lists — the dictionary-based
    sentiment/toxicity scorer every text-quality pipeline runs before
    anything model-based (VADER/LIWC shape). Token membership tests
    compile to JVM IN-lists (a real lexicon joins as a broadcast dim);
    counts are exact ints, polarity is one guarded division. Map-side
    + one groupBy(doc) — one shuffle at any scale."""
    tok = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split("text", r"\s+")).alias("token"),
        )
    )
    s = tok.groupBy("doc_id").agg(
        F.sum(F.when(F.col("token").isin(*_LEX_POS), 1).otherwise(0)).alias(
            "pos_n"
        ),
        F.sum(F.when(F.col("token").isin(*_LEX_NEG), 1).otherwise(0)).alias(
            "neg_n"
        ),
    )
    return s.select(
        "doc_id",
        F.col("pos_n").cast("bigint").alias("pos_n"),
        F.col("neg_n").cast("bigint").alias("neg_n"),
        F.when(
            F.col("pos_n") + F.col("neg_n") > 0,
            (F.col("pos_n") - F.col("neg_n")).cast("double")
            / (F.col("pos_n") + F.col("neg_n")),
        )
        .otherwise(F.lit(0.0))
        .alias("polarity"),
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring
# ---------------------------------------------------------------------------

_BM25_TERMS = ("table", "query", "fast")
_SQL_BM25_TERMS = "(" + ", ".join(f"'{w}'" for w in _BM25_TERMS) + ")"
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "q_bm25",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
    ),
    dl AS (
        SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
    ),
    stats AS (
        SELECT CAST(sum(dl) AS BIGINT) AS dl_sum,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM dl
    ),
    tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM tok WHERE token IN {_SQL_BM25_TERMS} GROUP BY 1, 2
    ),
    idf AS (
        SELECT token,
               CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1) * 1e9)
                    AS BIGINT) AS idf_q9
        FROM (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
             stats
    ),
    term_scores AS (
        SELECT tf.doc_id,
               CAST(round(
                   idf_q9 * tf * ({_BM25_K1} + 1)
                   / (tf + {_BM25_K1} * (1 - {_BM25_B}
                      + {_BM25_B} * dl * n_docs / dl_sum))
               ) AS BIGINT) AS sq9
        FROM tf
        JOIN idf USING (token)
        JOIN dl USING (doc_id), stats
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(sq9) AS BIGINT) AS score_q9,
           CAST(sum(sq9) AS DOUBLE) / 1e9 AS bm25
    FROM term_scores GROUP BY 1 ORDER BY doc_id
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed query-term set
    — the lexical-retrieval scorer (Robertson/Sparck Jones; what
    Lucene/Elasticsearch rank by) and the sparse half of every hybrid
    dense+sparse retrieval pipeline. Corpus statistics are exact ints
    (tf, dl, df, N, Σdl); idf = ln((N−df+½)/(df+½)+1) is the one libm
    call, evaluated over ≤|terms| distinct inputs and immediately
    quantized to 1e-9 fixed point (the transcendental-domain
    discipline: one tiny-domain rounding, then every downstream op —
    int products, the IEEE division by the doc-length-normalized
    denominator, the final per-term rounding — is bit-identical across
    engines, and per-doc sums add exact ints in any order). Scale:
    dl AND the per-term tfs come out of ONE doc-keyed groupBy (the
    query-term set is fixed and tiny, so each term is a conditional
    sum column; a two-groupBy form re-ran the
    tokenize explode once per aggregate, 5 corpus passes in the
    executed plan, zero ReusedExchange); the persisted per-doc table
    feeds tf, dl and the 1-row corpus stats, idf (≤|terms| rows)
    broadcasts."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(_tokens()).alias("token")
    )
    per_doc = track_cache(
        tok.groupBy("doc_id")
        .agg(
            F.count("*").alias("dl"),
            *[
                F.sum(F.when(F.col("token") == w, 1).otherwise(0))
                .cast("bigint")
                .alias(f"_tf{i}")
                for i, w in enumerate(_BM25_TERMS)
            ],
        )
        .persist()
    )
    dl = per_doc.select("doc_id", "dl")
    stats = dl.agg(
        F.sum("dl").cast("bigint").alias("dl_sum"),
        F.count("*").cast("bigint").alias("n_docs"),
    )
    tf = (
        per_doc.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(w).alias("token"),
                            F.col(f"_tf{i}").alias("tf"),
                        )
                        for i, w in enumerate(_BM25_TERMS)
                    ]
                )
            ).alias("x"),
        )
        .select("doc_id", "x.token", "x.tf")
        .filter(F.col("tf") > 0)
    )
    idf = (
        tf.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "token",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1
                )
                * 1e9
            )
            .cast("bigint")
            .alias("idf_q9"),
        )
    )
    k1, b = _BM25_K1, _BM25_B
    term_scores = (
        tf.join(F.broadcast(idf), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.col("idf_q9")
                * F.col("tf")
                * (k1 + 1)
                / (
                    F.col("tf")
                    + k1
                    * (
                        1
                        - b
                        + b * F.col("dl") * F.col("n_docs") / F.col("dl_sum")
                    )
                )
            )
            .cast("bigint")
            .alias("sq9"),
        )
    )
    return (
        term_scores.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms"),
            F.sum("sq9").cast("bigint").alias("score_q9"),
        )
        .select(
            "doc_id",
            "n_terms",
            "score_q9",
            (F.col("score_q9").cast("double") / F.lit(1e9)).alias("bm25"),
        )
    )


# ---------------------------------------------------------------------------
# bigram PMI collocations
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5  # minimum bigram frequency to score
_PMI_Q = 1_000_000_000


@register(
    "q_bigram_pmi",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest({_SQL_TOKENS}) AS token,
               generate_subscripts({_SQL_TOKENS}, 1) AS pos
        FROM documents
    ),
    bg AS (
        SELECT a.doc_id, a.token AS w1, b.token AS w2
        FROM tok a JOIN tok b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    cab AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY 1, 2),
    ca AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY 1),
    cb AS (SELECT w2, CAST(sum(c_ab) AS BIGINT) AS c_b FROM cab GROUP BY 1),
    n AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_bg FROM cab)
    SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
           CAST(round(ln(
               CAST(CAST(c_ab AS HUGEINT) * n_bg AS DOUBLE)
               / CAST(CAST(c_a AS HUGEINT) * c_b AS DOUBLE)
           ) * {_PMI_Q}) AS BIGINT) AS pmi_q9
    FROM cab JOIN ca USING (w1) JOIN cb USING (w2), n
    WHERE c_ab >= {_PMI_MIN_COUNT}
    ORDER BY w1, w2
    """,
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs —
    collocation / phrase mining (the word2phrase shape: bigrams whose
    PMI clears a bar become merge candidates like "new_york"), a
    standard pre-tokenization pass in LLM corpus prep. All four
    sufficient statistics are exact ints (c_ab, left/right marginals
    derived from the SAME bigram counts so they sum consistently, N);
    the PMI ratio is one double division of two exact HUGEINT products
    (int64 would overflow c_ab×N at 100-TB corpus sizes), and the one
    ln() lands on bit-identical inputs in both engines, then quantizes
    to 1e-9 fixed point — emitted AS the integer, so the hash compares
    exact values. Adjacency comes from posexplode, bigrams from a
    per-doc lead window (one doc-keyed shuffle), and the marginal
    tables are token-cardinality-sized — broadcast dims."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(_tokens()).alias("pos", "token")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = tok.select(
        F.col("token").alias("w1"),
        F.lead("token").over(w).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    # persisted: distinct-bigram-sized (the same order as the broadcast
    # marginals below), but ca/cb/n and the output filter-join all
    # reference it — unpersisted, each leg replays tokenize + lead
    # window + count (4 full corpus passes)
    cab = track_cache(
        bg.groupBy("w1", "w2").agg(F.count("*").alias("c_ab")).persist()
    )
    ca = cab.groupBy("w1").agg(F.sum("c_ab").cast("bigint").alias("c_a"))
    cb = cab.groupBy("w2").agg(F.sum("c_ab").cast("bigint").alias("c_b"))
    n = cab.agg(F.sum("c_ab").cast("bigint").alias("n_bg"))
    dec = "decimal(38,0)"
    return (
        cab.filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .join(F.broadcast(ca), "w1")
        .join(F.broadcast(cb), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.round(
                F.log(
                    (F.col("c_ab").cast(dec) * F.col("n_bg")).cast("double")
                    / (F.col("c_a").cast(dec) * F.col("c_b")).cast("double")
                )
                * _PMI_Q
            )
            .cast("bigint")
            .alias("pmi_q9"),
        )
    )


# ---------------------------------------------------------------------------
# unigram language-model log-probability (perplexity-proxy filter)
# ---------------------------------------------------------------------------


@register(
    "q_unigram_logprob",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
    ),
    vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM vocab),
    lp AS (
        SELECT token,
               CAST(round(ln(CAST(c AS DOUBLE) / n_tok) * {_PMI_Q})
                    AS BIGINT) AS lp_q9
        FROM vocab, n
    ),
    d AS (
        SELECT t.doc_id, count(*) AS dl,
               CAST(sum(lp.lp_q9) AS BIGINT) AS sum_q9
        FROM tok t JOIN lp USING (token)
        GROUP BY 1
    )
    SELECT doc_id, CAST(dl AS BIGINT) AS dl, sum_q9,
           CAST(sum_q9 AS DOUBLE) / {_PMI_Q} / dl AS avg_logprob
    FROM d ORDER BY doc_id
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average log-probability under a unigram LM trained
    on the corpus itself — the cheapest perplexity proxy, and the
    shape of every LM-based quality filter in LLM data pipelines
    (CCNet/KenLM-style: drop documents whose tokens are improbable
    under a reference model; here low avg_logprob flags rare-token
    soup). The LM is the vocab count table; ln(c/N) is evaluated once
    per VOCAB WORD (tiny domain, identical double inputs in both
    engines) and quantized to 1e-9 fixed point, so per-document sums
    add exact ints in any order — the same transcendental-domain
    discipline as q_bm25. The vocab broadcasts to the token join; two
    doc-keyed/token-keyed shuffles total, linear at any corpus size."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(_tokens()).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count("*").alias("c"))
    n = vocab.agg(F.sum("c").cast("bigint").alias("n_tok"))
    lp = vocab.crossJoin(F.broadcast(n)).select(
        "token",
        F.round(
            F.log(F.col("c").cast("double") / F.col("n_tok")) * _PMI_Q
        )
        .cast("bigint")
        .alias("lp_q9"),
    )
    d = (
        tok.join(F.broadcast(lp), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("dl"),
            F.sum("lp_q9").cast("bigint").alias("sum_q9"),
        )
    )
    return d.select(
        "doc_id",
        "dl",
        "sum_q9",
        (F.col("sum_q9").cast("double") / F.lit(_PMI_Q) / F.col("dl")).alias(
            "avg_logprob"
        ),
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency slope (corpus-law statistics)
# ---------------------------------------------------------------------------


@register(
    "q_zipf_slope",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({_SQL_TOKENS}) AS token FROM documents
    ),
    vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
    ranked AS (
        SELECT token, c,
               row_number() OVER (ORDER BY c DESC, token) AS rnk
        FROM vocab
    ),
    pts AS (
        SELECT CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000000)
                    AS BIGINT) AS lx,
               CAST(round(ln(CAST(c AS DOUBLE)) * 1000000000)
                    AS BIGINT) AS ly
        FROM ranked
    ),
    s AS (
        SELECT count(*) AS n,
               CAST(sum(lx) AS HUGEINT) AS sx,
               CAST(sum(ly) AS HUGEINT) AS sy,
               sum(CAST(lx AS HUGEINT) * ly) AS sxy,
               sum(CAST(lx AS HUGEINT) * lx) AS sxx
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_types,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope
    FROM s
    """,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent of the corpus: OLS slope of ln(frequency)
    on ln(rank) over the vocabulary — the corpus-health statistic
    (natural text slopes ≈ −1; a slope near 0 flags boilerplate/spam
    floods, a steep one flags vocabulary collapse — both standard LLM
    corpus diagnostics). Ranks are deterministic (count DESC, token
    tiebreak); both ln() calls run per VOCAB TYPE (small domain) and
    quantize to 1e-9 fixed point, so the five OLS sufficient
    statistics are exact decimal(38,0)/HUGEINT sums (q_trend_slope's
    discipline) and the slope is ONE double division of two exact
    integers. Vocabulary is tiny relative to the corpus — every
    post-vocab step is sub-linear."""
    dec = "decimal(38,0)"
    tok = t(spark, sf_dir, "documents").select(
        F.explode(_tokens()).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count("*").alias("c"))
    ranked = vocab.select(
        "c",
        F.row_number()
        .over(Window.partitionBy(F.lit(1)).orderBy(F.col("c").desc(), "token"))
        .alias("rnk"),
    )
    q = 1_000_000_000
    pts = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")) * q)
        .cast("bigint")
        .alias("lx"),
        F.round(F.log(F.col("c").cast("double")) * q)
        .cast("bigint")
        .alias("ly"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum(F.col("lx").cast(dec)).alias("sx"),
        F.sum(F.col("ly").cast(dec)).alias("sy"),
        F.sum(F.col("lx").cast(dec) * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx").cast(dec) * F.col("lx")).alias("sxx"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_types"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# E4+ — bigram-LM held-out scoring (the perplexity quality filter)
# ---------------------------------------------------------------------------


@register(
    "q_bigram_perplexity",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest({_SQL_TOKENS}) AS token,
               generate_subscripts({_SQL_TOKENS}, 1) AS pos
        FROM documents
    ),
    big AS (
        SELECT doc_id, token AS a,
               lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS b
        FROM tok
    ),
    bg AS (SELECT doc_id, a, b FROM big WHERE b IS NOT NULL),
    cab AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS cab
        FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2
    ),
    ca AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM cab GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS vsize FROM cab),
    scored AS (
        SELECT s.doc_id,
               CASE WHEN c.cab IS NULL THEN 1 ELSE 0 END AS unseen,
               CAST(round(ln(CAST(coalesce(c.cab, 0) + 1 AS DOUBLE)
                             / (coalesce(m.ca, 0) + v.vsize)) * {_PMI_Q})
                    AS BIGINT) AS lp_q9
        FROM bg s
        LEFT JOIN cab c ON c.a = s.a AND c.b = s.b
        LEFT JOIN ca m ON m.a = s.a
        CROSS JOIN v
        WHERE s.doc_id % 2 = 1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(unseen) AS BIGINT) AS n_unseen,
           CAST(sum(lp_q9) AS BIGINT) AS sum_q9,
           CAST(sum(lp_q9) AS DOUBLE) / {_PMI_Q} / count(*) AS avg_logprob
    FROM scored GROUP BY 1 ORDER BY doc_id
    """,
)
def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram-LM scoring — the actual protocol of perplexity
    quality filtering (CCNet trains KenLM on reference text and scores
    candidate documents; q_unigram_logprob trains on the corpus itself,
    where every token is seen and smoothing never fires): the LM
    (add-one-smoothed conditional p(b|a) = (c_ab+1)/(c_a+V)) trains on
    the EVEN documents and scores the held-out ODD ones, so unseen
    bigrams genuinely occur and are both smoothed and counted
    (n_unseen — itself a quality signal: novel-construction rate).
    Marginals derive from the SAME bigram counts (Σ_b c_ab), never an
    independent token count, so conditionals sum to 1 exactly.
    Per-bigram ln((c_ab+1)/(c_a+V)) is a double of exact ints
    quantized to 1e-9 before per-document summation (the q_bm25 /
    q_unigram_logprob transcendental discipline). Scale: bigram LM
    tables are vocabulary²-bounded and broadcast; the score side is
    one doc-keyed window + one aggregate."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.split("text", r"\s+")).alias("pos", "token")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        tok.select(
            "doc_id",
            F.col("token").alias("a"),
            F.lead("token").over(w).alias("b"),
        )
        .filter(F.col("b").isNotNull())
    )
    train = bg.filter(F.col("doc_id") % 2 == 0)
    # persisted: broadcast-sized LM table, referenced by ca, vsize and
    # the scoring join — unpersisted, each replays the train-half
    # tokenize + lead window + count
    cab = track_cache(
        train.groupBy("a", "b").agg(F.count("*").alias("cab")).persist()
    )
    ca = cab.groupBy("a").agg(F.sum("cab").alias("ca"))
    v = cab.agg(F.count_distinct("b").alias("vsize"))
    scored = (
        bg.filter(F.col("doc_id") % 2 == 1)
        .join(F.broadcast(cab), ["a", "b"], "left")
        .join(F.broadcast(ca), "a", "left")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.when(F.col("cab").isNull(), 1).otherwise(0).alias("unseen"),
            F.round(
                F.log(
                    (F.coalesce(F.col("cab"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("ca"), F.lit(0)) + F.col("vsize"))
                )
                * _PMI_Q
            )
            .cast("bigint")
            .alias("lp_q9"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("unseen").cast("bigint").alias("n_unseen"),
            F.sum("lp_q9").cast("bigint").alias("sum_q9"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_unseen",
            "sum_q9",
            (
                F.col("sum_q9").cast("double") / _PMI_Q / F.col("n_bigrams")
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# Inverted index build with impact-ordered posting heads
# ---------------------------------------------------------------------------


@register(
    "q_inverted_index",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
        FROM documents
    ), tf AS (
        SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2
    )
    SELECT token,
           CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS tf_total,
           array_to_string((list(doc_id ORDER BY tf DESC, doc_id))[1:8], ',')
               AS postings_head
    FROM tf GROUP BY token ORDER BY token
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the search-infrastructure primitive the
    retrieval suite (tfidf/bm25) consumes implicitly, materialized:
    per token its document frequency, total term count, and an
    IMPACT-ORDERED posting-list head (top-8 docs by within-doc term
    frequency, doc_id tie-break) — the index-prefix shape real engines
    store so top-k retrieval touches only list heads. The full posting
    list for a stop-word-frequency token is O(corpus) and is exactly
    what an index at 100 TB must NOT materialize per-executor; the
    8-element head is a bounded aggregate (collect_list is capped by
    the groupBy(token, doc_id) pre-aggregation feeding it — each
    token's list is df-long structs, truncated to 8 after an
    array_sort; for web-scale df the head would be computed with a
    per-token top-k window instead, same ordering key). Two shuffles:
    (token, doc_id) tf rollup, then token. The head is emitted as a
    comma-joined STRING (the q_collect_series convention): raw
    ArrayType top-level columns crash pandas-based canonicalizers
    (unhashable list cells) — a comparator failure once seen, now banned
    registry-wide by tests/test_registry_lint.py."""
    tf = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split(F.col("text"), r"\s+")).alias("token"),
        )
        .groupBy("token", "doc_id")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    return (
        tf.groupBy("token")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.sum("tf").cast("bigint").alias("tf_total"),
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct((-F.col("tf")).alias("ntf"), "doc_id")
                            )
                        ),
                        lambda s: s["doc_id"].cast("string"),
                    ),
                    1,
                    8,
                ),
                ",",
            ).alias("postings_head"),
        )
    )
