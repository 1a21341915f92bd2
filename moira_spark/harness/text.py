"""Text-analysis operators over the ``documents`` table (task-brief tier):
length/symbol rules, token counting, stopword/quality scoring, exact
fingerprinting.  All SQL-expressible -> full DuckDB oracle coverage.

Word definition here is ``harness.words_col``: simple single-space
splitting (the documents table is machine-generated single-spaced text) with
empty tokens dropped, mirrored exactly on both engines.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from moira_spark import config
from moira_spark.harness import load, register, words_col

_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "that", "it", "for")
_STOP_SQL = "', '".join(_STOPWORDS)


# ------------------------------------------------------------ length rule
@register(
    "doc_length_rule",
    # lazy (rendered at oracle_sql() time): thresholds must reflect any CLI
    # apply_overrides() exactly as the call-time Spark side does (ADVICE r4)
    lambda: f"""
    SELECT doc_id,
           LENGTH(text) AS n_chars,
           LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '')) AS n_words,
           (LENGTH(text) BETWEEN {config.MIN_CHARS} AND {config.MAX_CHARS})
           AND (LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != ''))
                BETWEEN {config.MIN_WORDS} AND {config.MAX_WORDS}) AS keep
    FROM documents
    """,
)
def doc_length_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_words = F.size(words_col()).cast("bigint")
    keep = (
        (n_chars >= config.MIN_CHARS)
        & (n_chars <= config.MAX_CHARS)
        & (n_words >= config.MIN_WORDS)
        & (n_words <= config.MAX_WORDS)
    )
    return d.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars"),
        n_words.alias("n_words"),
        keep.alias("keep"),
    )


# ---------------------------------------------------------- symbol ratio
@register(
    "doc_symbol_ratio",
    f"""
    SELECT doc_id,
           LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^A-Za-z0-9 ]', '', 'g'))
               AS n_symbols,
           ROUND((LENGTH(text)
                  - LENGTH(REGEXP_REPLACE(text, '[^A-Za-z0-9 ]', '', 'g')))
                 * 1.0
                 / GREATEST(LEN(LIST_FILTER(STRING_SPLIT(text,' '), x -> x != '')), 1),
                 6) AS symbol_ratio
    FROM documents
    """,
)
def doc_symbol_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # translate() deletion instead of a negated-class regexp_replace: Java
    # regex negated classes cost ~25x (see operators/rules.py); result is
    # identical (and still matches the DuckDB oracle's regex formulation).
    alnum_sp = (
        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 "
    )
    n_sym = F.length(F.translate("text", alnum_sp, ""))
    n_words = F.greatest(F.size(words_col()), F.lit(1))
    return d.select(
        "doc_id",
        n_sym.cast("bigint").alias("n_symbols"),
        F.round(n_sym.cast("double") / n_words.cast("double"), 6).alias(
            "symbol_ratio"
        ),
    )


# --------------------------------------------------------- token counting
@register(
    "doc_token_stats",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '')))
                AS BIGINT) AS total_tokens,
           CAST(MAX(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '')))
                AS BIGINT) AS max_tokens
    FROM documents GROUP BY lang
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_words = F.size(words_col()).cast("bigint")
    return (
        d.withColumn("n_tokens", n_words)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
    )


# ------------------------------------------------------- stopword quality
@register(
    "doc_stopword_ratio",
    f"""
    SELECT doc_id,
           ROUND(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                 x -> list_contains(['{_STOP_SQL}'], x)))
                 * 1.0
                 / GREATEST(LEN(LIST_FILTER(STRING_SPLIT(text,' '), x -> x != '')), 1),
                 6) AS stopword_ratio
    FROM documents
    """,
)
def doc_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    stops = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(F.split(F.col("text"), " "), lambda x: F.array_contains(stops, x)))
    n_words = F.greatest(F.size(words_col()), F.lit(1))
    return d.select(
        "doc_id",
        F.round(n_stop.cast("double") / n_words.cast("double"), 6).alias(
            "stopword_ratio"
        ),
    )


# ------------------------------------------------ BPE-ish token counting
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@register(
    "doc_bpe_token_count",
    f"""
    SELECT doc_id,
           LEN(REGEXP_EXTRACT_ALL(text, '{_BPE_RE}')) AS n_bpe_tokens,
           LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != ''))
               AS n_ws_tokens
    FROM documents
    """,
)
def doc_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, whitespace + BPE-ish pretokenizer regex (letters /
    digit runs / single punctuation) — identical pattern on both engines."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        F.size(words_col()).cast("bigint").alias("n_ws_tokens"),
    )


# --------------------------------------------------- trained BPE tokenizer
_BPE_SAMPLE_DOCS = 512
_BPE_MERGES = 200


@register("doc_bpe_trained", None)  # learned merge table: rows-only + floor
def doc_bpe_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a REAL trained BPE merge table (kernels/bpe.py,
    Sennrich et al. ACL 2016) — the upgrade over doc_bpe_token_count's
    regex pretokenizer that shard budgets at scale are computed against.

    Same build-train-broadcast-apply shape as the learned quality
    classifier: the merge table is trained driver-side on a BOUNDED
    deterministic sample (first 512 docs by doc_id — training reads word
    frequencies, which saturate long before the corpus does), broadcast to
    executors, and applied in one Arrow-batched mapInPandas pass with a
    per-distinct-word cache.  No per-row Python, no unbounded driver state.

    Hard floor (what makes the rows-only driver check meaningful): BPE is
    lossless by construction, so decode(encode(text)) must equal the
    whitespace-normalized text for EVERY row, and the subword count can
    never exceed the character count; one violation fails the query.
    """
    from moira_spark.kernels import bpe

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    sample = [
        r["text"]
        for r in d.orderBy("doc_id").limit(_BPE_SAMPLE_DOCS).collect()
    ]
    merges = bpe.train_bpe(sample, n_merges=_BPE_MERGES)
    bc = spark.sparkContext.broadcast(merges)

    def tokenize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = bc.value
        for pdf in batches:
            # sanitize the end-of-word marker out of the input first: a
            # scraped corpus can contain the \x01 control char, and decode()
            # maps every marker to a space — without this strip one junk
            # byte would fail the lossless gate for the whole corpus
            texts = [
                t.replace(bpe.EOW, "") for t in pdf["text"].tolist()
            ]
            encoded = bpe.encode_batch(texts, m)
            norm = [" ".join(w for w in t.split(" ") if w) for t in texts]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bpe_subwords": [len(e) for e in encoded],
                    "n_ws_tokens": [len(n.split(" ")) if n else 0 for n in norm],
                    "n_chars": [len(t) for t in texts],
                    "roundtrip_ok": [
                        bpe.decode(e) == n for e, n in zip(encoded, norm)
                    ],
                }
            )

    out = d.mapInPandas(
        tokenize,
        schema=(
            "doc_id long, n_bpe_subwords long, n_ws_tokens long, "
            "n_chars long, roundtrip_ok boolean"
        ),
    ).localCheckpoint(eager=True)  # one UDF pass feeds both gate and result
    gate = out.agg(
        F.sum(F.when(~F.col("roundtrip_ok"), 1).otherwise(0)).alias("lossy"),
        F.sum(
            F.when(F.col("n_bpe_subwords") > F.col("n_chars"), 1).otherwise(0)
        ).alias("overlong"),
    ).collect()[0]
    if gate["lossy"] or gate["overlong"]:
        raise AssertionError(
            "trained BPE broke its invariants: "
            f"lossy_docs={gate['lossy']} overlong_docs={gate['overlong']}"
        )
    return out


# ------------------------------------------------------ exact fingerprint
@register(
    "doc_fingerprint",
    """
    SELECT doc_id, MD5(text) AS fingerprint FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5(F.col("text")).alias("fingerprint"))


# ------------------------------------------- Gopher-style doc quality stats
@register(
    "doc_gopher_stats",
    f"""
    WITH t AS (
      SELECT doc_id,
             LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '') AS w
      FROM documents
    )
    SELECT doc_id,
           ROUND(LEN(LIST_FILTER(w, x -> LENGTH(x) > 0)) * 1.0, 1) AS n_words,
           ROUND(LIST_SUM(LIST_TRANSFORM(w, x -> LENGTH(x) * 1.0))
                 / GREATEST(LEN(w), 1), 6) AS mean_word_len,
           LEN(LIST_FILTER(w, x -> list_contains(['{_STOP_SQL}'], x))) >= 2
               AS has_stopwords
    FROM t
    """,
)
def doc_gopher_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality stats: mean word length + stop-word presence
    (docs lacking >= 2 common stopwords are machine-soup candidates)."""
    d = load(spark, sf_dir, "documents")
    w = words_col()
    stops = F.array(*[F.lit(s) for s in _STOPWORDS])
    mean_wl = F.round(
        F.aggregate(w, F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double"))
        / F.greatest(F.size(w), F.lit(1)).cast("double"),
        6,
    )
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stops, x)))
    return d.select(
        "doc_id",
        F.round(F.size(w).cast("double"), 1).alias("n_words"),
        mean_wl.alias("mean_word_len"),
        (n_stop >= 2).alias("has_stopwords"),
    )


# --------------------------------------------- Gopher repetition signals
# Planted boilerplate: a fixed phrase repeated 10x on every 13th doc, so the
# fixture deterministically contains the repetition profile the filter is
# built to catch (vocabulary-repetition naturals sit well below the bar).
_REP_PLANT = " lorem ipsum dolor sit amet"


def repetition_stats(docs: DataFrame, flag_at: float = 0.2) -> DataFrame:
    """Per-doc Gopher repetition signals over a (doc_id, text) frame:
    top-bigram character coverage, duplicate-word character fraction,
    duplicated-5-gram character coverage (interval union), and the
    ``repetitious`` flag at ``flag_at`` top-bigram coverage.

    Scale shape (r7.2, guide §4.2): ONE Arrow hop computes all five
    integer counts per document (``kernels.text.gopher_counts``) — the
    whole signal is doc-local, so the r6 shape's five explode -> groupBy
    passes plus three join-backs (8+ exchanges over the gram streams)
    bought nothing but shuffle: 13.4s at 10x scale vs 3.3s for this plan
    (sf0.1: 1.85s -> 0.66s, best-of-3).  A pure-JVM doc-local rewrite via
    higher-order functions was tried first and measured WORSE than the
    exchanges (interpreted lambda evaluation re-computes every nested
    array subexpression per element; 1.5s at sf0.1 for one branch alone).
    Fractions stay JVM-side as exact-integer ratios rounded to 6dp, so
    the oracle hash is unchanged.  Only (doc_id, text) crosses the
    boundary (guide §4.1: project before an opaque op)."""
    fields = ["n_words", "total_chars", "top_chars", "dup_chars", "d5_chars"]
    schema = "doc_id long, " + ", ".join(f"{f} long" for f in fields)

    def counts(batches):
        from moira_spark.kernels.text import gopher_counts

        for pdf in batches:
            rows = gopher_counts(pdf["text"].tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    **{f: [r[i] for r in rows] for i, f in enumerate(fields)},
                }
            )

    stats = docs.select("doc_id", "text").mapInPandas(counts, schema)
    denom = F.greatest(F.col("total_chars"), F.lit(1)).cast("double")
    top_frac = F.round(F.col("top_chars").cast("double") / denom, 6)
    dup_frac = F.round(F.col("dup_chars").cast("double") / denom, 6)
    d5_frac = F.round(F.col("d5_chars").cast("double") / denom, 6)
    return stats.select(
        "doc_id",
        "n_words",
        "total_chars",
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_word_frac"),
        d5_frac.alias("dup_5gram_frac"),
        (top_frac >= flag_at).alias("repetitious"),
    )


@register(
    "doc_repetition_stats",
    f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0
                  THEN text || REPEAT('{_REP_PLANT}', 10)
                  ELSE text END AS text
      FROM documents
    ),
    words AS (
      SELECT doc_id,
             LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '') AS w
      FROM corpus
    ),
    base AS (
      SELECT doc_id,
             CAST(LEN(w) AS BIGINT) AS n_words,
             CAST(LIST_SUM(LIST_TRANSFORM(w, x -> LENGTH(x))) AS BIGINT)
                 AS total_chars,
             w
      FROM words
    ),
    bigram_rows AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w)),
                                   i -> w[i] || ' ' || w[i + 1])) AS bg
      FROM base
    ),
    top_bigram AS (
      SELECT doc_id, MAX(cov) AS top_chars FROM (
        SELECT doc_id, COUNT(*) * (LENGTH(bg) - 1) AS cov
        FROM bigram_rows GROUP BY doc_id, bg
      ) GROUP BY doc_id
    ),
    dup_words AS (
      SELECT doc_id, SUM(cnt * wlen) AS dup_chars FROM (
        SELECT doc_id, wd, COUNT(*) AS cnt, LENGTH(wd) AS wlen
        FROM (SELECT doc_id, UNNEST(w) AS wd FROM base)
        GROUP BY doc_id, wd
      ) WHERE cnt > 1 GROUP BY doc_id
    ),
    grams5 AS (
      SELECT doc_id,
             UNNEST(RANGE(1, GREATEST(LEN(w) - 3, 1))) AS p,
             UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(w) - 3, 1)),
                                   q -> ARRAY_TO_STRING(w[q:q+4], ' '))) AS g
      FROM base
    ),
    dup5 AS (
      SELECT doc_id, g FROM grams5 GROUP BY doc_id, g HAVING COUNT(*) > 1
    ),
    cov AS (
      SELECT DISTINCT doc_id, idx FROM (
        SELECT gr.doc_id, UNNEST(RANGE(gr.p, gr.p + 5)) AS idx
        FROM grams5 gr JOIN dup5 d ON gr.doc_id = d.doc_id AND gr.g = d.g
      )
    ),
    wlen AS (
      SELECT doc_id,
             UNNEST(RANGE(1, LEN(w) + 1)) AS idx,
             UNNEST(LIST_TRANSFORM(w, x -> LENGTH(x))) AS wl
      FROM base
    ),
    dup5_chars AS (
      SELECT c.doc_id, SUM(l.wl) AS d5_chars
      FROM cov c JOIN wlen l ON c.doc_id = l.doc_id AND c.idx = l.idx
      GROUP BY c.doc_id
    )
    SELECT b.doc_id, b.n_words, b.total_chars,
           ROUND(COALESCE(t.top_chars, 0) * 1.0
                 / GREATEST(b.total_chars, 1), 6) AS top_bigram_frac,
           ROUND(COALESCE(d.dup_chars, 0) * 1.0
                 / GREATEST(b.total_chars, 1), 6) AS dup_word_frac,
           ROUND(COALESCE(g5.d5_chars, 0) * 1.0
                 / GREATEST(b.total_chars, 1), 6) AS dup_5gram_frac,
           ROUND(COALESCE(t.top_chars, 0) * 1.0
                 / GREATEST(b.total_chars, 1), 6) >= 0.2 AS repetitious
    FROM base b
    LEFT JOIN top_bigram t ON b.doc_id = t.doc_id
    LEFT JOIN dup_words d ON b.doc_id = d.doc_id
    LEFT JOIN dup5_chars g5 ON b.doc_id = g5.doc_id
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, Table A1), the
    word-level subset that applies to single-line documents: the fraction
    of characters covered by the most frequent word 2-gram, and the
    fraction of characters in words that occur more than once.  Docs whose
    top-bigram coverage crosses the Gopher 0.20 bar are flagged
    ``repetitious`` (boilerplate/template pages, looped generation).

    Scale shape: ``repetition_stats`` — one Arrow hop per batch of
    documents counts the integers (``kernels.text.gopher_counts``), no
    shuffle, no window.  Fractions are integer-count ratios computed
    identically on both engines (exact bigint counts -> one double
    division -> round 6), and the flag thresholds the ROUNDED value so the
    boundary can never drift between engines.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.col("text"), F.expr(f"repeat('{_REP_PLANT}', 10)")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return repetition_stats(planted)


# --------------------------------------------- unigram entropy signal
@register(
    "doc_unigram_entropy",
    """
    WITH words AS (
      SELECT doc_id,
             UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '')) AS wd
      FROM documents
    ),
    freq AS (
      SELECT doc_id, wd, COUNT(*) AS c,
             SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS n
      FROM words GROUP BY doc_id, wd
    ),
    terms AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(MAX(n) AS BIGINT) AS n_words,
             SUM(CAST(ROUND(-(c * 1.0 / n) * LN(c * 1.0 / n) * 1000000)
                      AS BIGINT)) AS h_fp
      FROM freq GROUP BY doc_id
    )
    SELECT doc_id, n_words, n_distinct,
           ROUND(n_distinct * 1.0 / GREATEST(n_words, 1), 6) AS type_token_ratio,
           -- 6dp IS the fixed-point grid: rounding coarser (e.g. 4dp)
           -- creates exact decimal .5 ties where Spark's shortest-repr
           -- rounding and DuckDB's binary rounding diverge (observed at
           -- sf0.01 row 210: 3.21235 -> 3.2124 vs 3.2123)
           ROUND(h_fp / 1000000.0, 6) AS entropy,
           ROUND(h_fp / 1000000.0, 6) < 3.05 AS low_entropy
    FROM terms
    """,
)
def doc_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram (word) entropy + type-token ratio per document — the
    vocabulary-diversity quality signal (low entropy = templated /
    looped / keyword-stuffed text; the complement of the surface
    repetition fractions in doc_repetition_stats).

    Cross-engine float discipline: the per-word entropy terms
    -(c/n)*ln(c/n) are individually deterministic (exact integer ratio,
    one division, one libm log) but their SUM is not — float addition
    order differs between engines — so each term is fixed-pointed to 1e-6
    nats (bigint) FIRST and the sum is exact integer arithmetic.  The
    1-ULP libm log disagreement between the JVM and DuckDB moves a term
    by ~1e-10 of a fixed-point unit — ten thousand times smaller than
    the rounding boundary — so the hash cannot flip.  Scale shape: one
    explode -> groupBy(doc_id, word) with map-side partial aggregation,
    then an algebraic per-doc rollup; the only window is per-doc word
    totals, re-expressed on the Spark side as a plain groupBy join-free
    rollup (two-level aggregate), zero Python.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    freq = (
        d.select("doc_id", F.explode(words_col()).alias("wd"))
        .groupBy("doc_id", "wd")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = freq.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).cast("bigint").alias("n_distinct")
    )
    p = F.col("c") * 1.0 / F.col("n")
    term = F.round(-p * F.log(p) * 1000000).cast("bigint")
    terms = (
        freq.join(tot, "doc_id")
        .select("doc_id", "n", "n_distinct", term.alias("t"))
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_words"),
            F.max("n_distinct").alias("n_distinct"),
            F.sum("t").alias("h_fp"),
        )
    )
    # 6dp = the fixed-point grid itself (see the oracle comment: coarser
    # rounding lands exactly on decimal .5 ties and the engines split)
    entropy = F.round(F.col("h_fp") / 1000000.0, 6)
    return terms.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        "n_distinct",
        F.round(
            F.col("n_distinct") * 1.0
            / F.greatest(F.col("n_words"), F.lit(1)),
            6,
        ).alias("type_token_ratio"),
        entropy.alias("entropy"),
        (entropy < 3.05).alias("low_entropy"),
    )


# ------------------------------------------------- scrub subset (SQL-able)
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"


@register(
    "doc_scrub_emails",
    f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0
                  THEN text || ' contact: user' || CAST(doc_id AS VARCHAR)
                       || '@example.com please'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           REGEXP_REPLACE(text, '{_EMAIL_RE}', '<EMAIL>', 'g') AS scrubbed,
           REGEXP_MATCHES(text, '{_EMAIL_RE}') AS had_email
    FROM corpus
    """,
)
def doc_scrub_emails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-checkable subset of the PII scrubber (email pattern), over a
    corpus with deterministically planted addresses — the regexp_replace
    fast path of SURVEY.md §2.2 #8 (full scrubber: transcripts_pipeline)."""
    d = load(spark, sf_dir, "documents")
    text = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com please"),
        ),
    ).otherwise(F.col("text"))
    corpus = d.select("doc_id", text.alias("text"))
    return corpus.select(
        "doc_id",
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>").alias("scrubbed"),
        (F.length(F.regexp_extract("text", _EMAIL_RE, 0)) > 0).alias("had_email"),
    )


# ------------------------------------------------ full-PII scrub (SQL-able)
# The same five PII classes as kernels/scrub.py, applied as a chained
# replace in the kernel's priority order (CC > SSN > PHONE > EMAIL > IP).
# Patterns are written in the conservative common subset of Java regex
# (Spark) and RE2 (DuckDB): no backreferences, no lookaround.
_CC_RE = r"\b(?:\d[ -]?){15}\d\b"
_SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
_PHONE_RE = r"\b(?:\+?1[ .-]?)?\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4}\b"
_IP_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
_PII_CHAIN = [
    ("CC", _CC_RE, "<CC>"),
    ("SSN", _SSN_RE, "<SSN>"),
    ("PHONE", _PHONE_RE, "<PHONE>"),
    ("EMAIL", _EMAIL_RE, "<EMAIL>"),
    ("IP", _IP_RE, "<IP>"),
]

# Deterministic planting: overlapping/adjacent spans included (phone next to
# SSN next to IP; a 16-digit card that a naive phone pattern could chew on).
_PLANT_PII_SQL = """
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 11 = 0
                     THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com'
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' call (555) 123-4567 now' ELSE '' END
             || CASE WHEN doc_id % 17 = 0
                     THEN ' ssn 123-45-6789 ok' ELSE '' END
             || CASE WHEN doc_id % 19 = 0
                     THEN ' host 10.0.0.1 up' ELSE '' END
             || CASE WHEN doc_id % 23 = 0
                     THEN ' card 4111 1111 1111 1111 paid' ELSE '' END
             || CASE WHEN doc_id % 29 = 0
                     THEN ' reach 555-123-4567 or 987-65-4321 at 192.168.1.1'
                     ELSE '' END AS text
      FROM documents
"""


@register(
    "doc_scrub_pii",
    f"""
    WITH corpus AS ({_PLANT_PII_SQL})
    SELECT doc_id,
           REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
             REGEXP_REPLACE(text, '{_CC_RE}', '<CC>', 'g'),
             '{_SSN_RE}', '<SSN>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g'),
             '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_IP_RE}', '<IP>', 'g') AS scrubbed,
           REGEXP_MATCHES(text, '{_CC_RE}') AS had_cc,
           REGEXP_MATCHES(text, '{_SSN_RE}') AS had_ssn,
           REGEXP_MATCHES(text, '{_PHONE_RE}') AS had_phone,
           REGEXP_MATCHES(text, '{_EMAIL_RE}') AS had_email,
           REGEXP_MATCHES(text, '{_IP_RE}') AS had_ip
    FROM corpus
    """,
)
def doc_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-alternation PII scrub, oracle-checked byte-exact (SURVEY §2.2 #8).

    Extends doc_scrub_emails to all five PII classes with overlapping spans
    planted (phone/SSN/IP adjacency; a 16-digit card).  The chain order IS
    the kernel's priority order, so the byte-exact scrub ordering that
    tests/test_kernels.py pins is also externally hash-checked by the driver.
    """
    d = load(spark, sf_dir, "documents")

    def plant(mod: int, extra) -> F.Column:
        return F.when(F.col("doc_id") % mod == 0, extra).otherwise(F.lit(""))

    text = F.concat(
        F.col("text"),
        plant(
            11,
            F.concat(
                F.lit(" mail user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ),
        plant(13, F.lit(" call (555) 123-4567 now")),
        plant(17, F.lit(" ssn 123-45-6789 ok")),
        plant(19, F.lit(" host 10.0.0.1 up")),
        plant(23, F.lit(" card 4111 1111 1111 1111 paid")),
        plant(29, F.lit(" reach 555-123-4567 or 987-65-4321 at 192.168.1.1")),
    )
    corpus = d.select("doc_id", text.alias("text"))
    scrubbed = F.col("text")
    for _, pat, token in _PII_CHAIN:
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return corpus.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        *[
            (F.length(F.regexp_extract("text", pat, 0)) > 0).alias(
                f"had_{name.lower()}"
            )
            for name, pat, _ in _PII_CHAIN
        ],
    )


# --------------------------------------------------- language distribution
@register(
    "doc_lang_allowlist",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang IN ('en', 'es', 'fr')
    GROUP BY lang
    """,
)
def doc_lang_allowlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.filter(F.col("lang").isin("en", "es", "fr"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


# ------------------------------------------------- C4-style line filtering
# The documents table is single-line word soup, so the multi-line web page
# is PLANTED deterministically and identically on both engines: a short
# title, the real text as a terminated sentence, a javascript notice, a
# short cookie line, and (for doc_id % 10 = 0) a lorem-ipsum line that
# poisons the whole page.
_C4_PAGE_SQL = """
      SELECT doc_id,
             'title for document ' || doc_id
             || chr(10) || text || '.'
             || chr(10) || 'please enable javascript to view this page.'
             || chr(10) || 'cookie policy'
             || chr(10) || CASE WHEN doc_id % 10 = 0
                  THEN 'lorem ipsum dolor sit amet consectetur.'
                  ELSE 'this closing sentence has enough words to survive.'
                END AS page
      FROM documents
"""


@register(
    "doc_c4_line_filter",
    f"""
    WITH pages AS ({_C4_PAGE_SQL}),
    split AS (
      SELECT doc_id, STRING_SPLIT(page, chr(10)) AS lines FROM pages
    ),
    kept AS (
      SELECT doc_id,
             LEN(lines) AS n_lines_in,
             LIST_FILTER(lines, x ->
               REGEXP_MATCHES(x, '[.!?"]$')
               AND LEN(LIST_FILTER(STRING_SPLIT(x, ' '), w -> w != '')) >= 5
               AND NOT CONTAINS(LOWER(x), 'javascript')) AS good
      FROM split
    )
    SELECT doc_id,
           n_lines_in,
           LEN(good) AS n_lines_kept,
           ARRAY_TO_STRING(good, chr(10)) AS cleaned_text
    FROM kept
    WHERE NOT CONTAINS(LOWER(ARRAY_TO_STRING(good, chr(10))), 'lorem ipsum')
      AND NOT CONTAINS(ARRAY_TO_STRING(good, chr(10)), '{{')
    """,
)
def doc_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, C4 heuristics):
    keep only lines that end in terminal punctuation, have >= 5 words, and
    do not mention javascript; then drop any page whose surviving text
    contains "lorem ipsum" or a curly brace.  All native Column exprs
    (split/filter/concat_ws) — line filtering stays in whole-stage codegen
    with zero Python, which is what makes it free at 100 TB.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    page = F.concat_ws(
        "\n",
        F.concat(F.lit("title for document "), F.col("doc_id")),
        F.concat(F.col("text"), F.lit(".")),
        F.lit("please enable javascript to view this page."),
        F.lit("cookie policy"),
        F.when(
            F.col("doc_id") % 10 == 0,
            F.lit("lorem ipsum dolor sit amet consectetur."),
        ).otherwise(
            F.lit("this closing sentence has enough words to survive.")
        ),
    )
    lines = F.split(page, "\n")
    n_words = lambda x: F.size(F.filter(F.split(x, " "), lambda w: w != F.lit("")))
    good = F.filter(
        lines,
        lambda x: x.rlike('[.!?"]$')
        & (n_words(x) >= 5)
        & ~F.contains(F.lower(x), F.lit("javascript")),
    )
    cleaned = F.concat_ws("\n", good)
    return (
        d.select(
            "doc_id",
            F.size(lines).alias("n_lines_in"),
            F.size(good).alias("n_lines_kept"),
            cleaned.alias("cleaned_text"),
        )
        .filter(
            ~F.contains(F.lower(F.col("cleaned_text")), F.lit("lorem ipsum"))
            & ~F.contains(F.col("cleaned_text"), F.lit("{"))
        )
    )


# --------------------------------------------- source-level quality filter
@register(
    "source_quality_filter",
    f"""
    WITH per_doc AS (
      SELECT source,
             n_chars,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w != '')) AS n_words,
             CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w != '')) > 0
                  THEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                           w -> w IN ('{_STOP_SQL}'))) * 1.0
                       / LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w != ''))
                  ELSE 0.0 END AS stop_ratio
      FROM documents
    ),
    per_source AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(ROUND(AVG(n_chars), 4) AS DOUBLE) AS mean_chars,
             CAST(ROUND(AVG(n_words), 4) AS DOUBLE) AS mean_words,
             CAST(ROUND(AVG(stop_ratio), 6) AS DOUBLE) AS mean_stop_ratio
      FROM per_doc GROUP BY source
    )
    SELECT source, n_docs, mean_chars, mean_words, mean_stop_ratio,
           (mean_chars >= 280.0 AND mean_stop_ratio >= 0.05) AS source_keep
    FROM per_source
    """,
)
def source_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level (domain-level) quality gating, RefinedWeb/C4 style:
    aggregate per-document quality signals per source and keep/drop the
    whole source on its aggregate profile — the pass that removes spam
    domains wholesale before any per-document scoring spends compute.

    Shape at 100 TB: one algebraic groupBy(source) with map-side partial
    aggregation (counts/sums only), then the verdict broadcast back joins
    against the doc stream — no second scan of text.  Thresholds are
    driver-table-tuned constants; the point under check is the exact
    aggregate arithmetic and the keep decision.
    """
    d = load(spark, sf_dir, "documents").select("source", "n_chars", "text")
    w = words_col()
    n_words = F.size(w)
    stop_ratio = F.when(
        n_words > 0,
        F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS))).cast("double")
        / n_words.cast("double"),
    ).otherwise(F.lit(0.0))
    per_source = (
        d.select("source", "n_chars", n_words.alias("n_words"), stop_ratio.alias("sr"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("mean_chars"),
            F.round(F.avg("n_words"), 4).alias("mean_words"),
            F.round(F.avg("sr"), 6).alias("mean_stop_ratio"),
        )
    )
    return per_source.select(
        "*",
        (
            (F.col("mean_chars") >= 280.0) & (F.col("mean_stop_ratio") >= 0.05)
        ).alias("source_keep"),
    )


# ----------------------------------------- per-source percentile gating
def percentile_gate(
    scored: DataFrame, min_pr: float = 0.75, by: str = "source"
) -> DataFrame:
    """Reusable per-stratum percentile cut: (doc_id, <by>, score) ->
    (doc_id, <by>, score, pr, kept) with kept = percent_rank >= min_pr
    within the stratum, totally ordered by (score ASC, doc_id ASC).

    Edge semantics (pinned by tests/test_corpus_ops.py): a single-doc
    stratum has percent_rank 0.0 — i.e. a singleton source keeps NOTHING
    under min_pr > 0.  Both engines define (rank-1)/(n-1) the same way, so
    this is consistent, but callers gating tiny strata should pre-filter
    them (a one-doc source has no distribution to rank against).

    Scale shape: ONE shuffle keyed by the stratum, then a linear
    per-partition rank — but a per-stratum window sort is the known
    hot-partition risk when stratum cardinality is small and strata are
    petabyte-skewed (the exact trap scripts/dump_plans.py shows for
    global-order windows).  This is the oracle-exact variant; the
    web-scale pairing is the same two-phase cutoff the capped-Jaccard tier
    uses for its approximation switch: aggregate per-stratum score
    histograms (map-side combine), derive the q-th cutoff from the histogram, broadcast the
    tiny (stratum, cutoff) table back over the doc stream — same result up
    to cutoff-tie handling, zero sort."""
    from pyspark.sql import Window

    w = Window.partitionBy(by).orderBy(
        F.col("score").asc(), F.col("doc_id").asc()
    )
    return scored.withColumn("pr_raw", F.percent_rank().over(w)).select(
        "doc_id",
        by,
        "score",
        F.round("pr_raw", 6).alias("pr"),
        (F.col("pr_raw") >= min_pr).alias("kept"),
    )


@register(
    "source_percentile_gate",
    """
    WITH scored AS (
      SELECT doc_id, source,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w != '')) AS score
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, score,
             PERCENT_RANK() OVER (
               PARTITION BY source ORDER BY score, doc_id
             ) AS pr
      FROM scored
    )
    SELECT doc_id, source, score,
           CAST(ROUND(pr, 6) AS DOUBLE) AS pr,
           (pr >= 0.75) AS kept
    FROM ranked
    """,
)
def source_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile gating, FineWeb/DCLM style: within EACH
    source, keep the top quarter of documents by a quality score (word
    count here — the score is a pluggable column; the operator under check
    is the per-stratum percentile cut).  Complements source_quality_filter
    (which keeps or drops whole sources): this is the per-document cut
    applied inside surviving sources, with an absolute threshold replaced
    by a distribution-relative one so a uniformly-verbose source cannot
    crowd out a terse one.  Thin fixture wrapper over ``percentile_gate``
    (the reusable operator; edge cases + scale notes there).

    Deterministic across engines: percent_rank over (score ASC, doc_id
    ASC) — the doc_id tiebreak makes the rank total, and (rank-1)/(n-1)
    divides identically in both engines' doubles.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    score = F.size(words_col()).cast("bigint")
    return percentile_gate(d.select("doc_id", "source", score.alias("score")))


# --------------------------------------------- training-mix stratified sample
@register(
    "training_mix_sample",
    """
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    )
    SELECT doc_id, lang, rk AS rank_in_lang, n_lang
    FROM ranked
    WHERE rk <= CEIL(n_lang * CASE lang WHEN 'en' THEN 0.5
                                        WHEN 'de' THEN 0.25
                                        ELSE 0.1 END)
    """,
)
def training_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for training-mix construction:
    take the first ceil(frac_lang * n_lang) docs per language in doc_id
    order (en 50%, de 25%, everything else 10%).  Deterministic rank-based
    selection — not Bernoulli sample() — so the mix is reproducible across
    runs and cluster sizes, which is what a dataset card has to promise.

    Scale shape (rewritten round 3): a ``Window.partitionBy("lang")`` rank
    sends the entire English stratum — most of a real corpus — through ONE
    reducer, and ``count(*) over (partition by lang)`` materializes the
    stratum besides.  Here rank_in_lang comes from the hierarchical prefix
    rank (operators/prefix.py: range partition on (lang, doc_id), tiny
    per-partition counts broadcast back) and n_lang from an algebraic
    groupBy + broadcast join, so every shuffle is balanced and no stratum
    ever sits on a single partition.  Output is bit-identical to the window
    form (doc_id is unique), which the DuckDB window oracle pins.
    """
    from moira_spark.operators.prefix import running_rank

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    frac = (
        F.when(F.col("lang") == "en", F.lit(0.5))
        .when(F.col("lang") == "de", F.lit(0.25))
        .otherwise(F.lit(0.1))
    )
    n_lang = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    ranked = running_rank(
        d, order_cols=["doc_id"], group_cols=["lang"], out_col="rank_in_lang"
    ).join(F.broadcast(n_lang), "lang")
    return ranked.filter(
        F.col("rank_in_lang") <= F.ceil(F.col("n_lang") * frac)
    ).select("doc_id", "lang", "rank_in_lang", "n_lang")


# ------------------------------------------------- token-budget shard packing
@register(
    "shard_packing",
    """
    WITH toks AS (
      SELECT doc_id,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w != '')) AS n_tokens
      FROM documents
    ),
    runsum AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM toks
    )
    SELECT doc_id, n_tokens,
           -- DuckDB's windowed SUM(BIGINT) widens to HUGEINT, which pandas
           -- receives as float64 ("32.0"); Spark emits int64 ("32").  The
           -- driver's value hash distinguishes the two (round-3 red row), so
           -- pin the oracle back to BIGINT before it leaves SQL.
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(FLOOR((GREATEST(cum_tokens, 1) - 1) / 2000) AS BIGINT) AS shard_id
    FROM runsum
    """,
)
def shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed token-budget training shards (2,000 tokens
    per shard) by running cumulative token count in doc_id order — the
    sequence-packing/sharding pass that turns a filtered corpus into
    training files.

    Rewritten round 3: the running sum is the hierarchical two-phase prefix
    sum (operators/prefix.py) — per-partition token totals, exclusive prefix
    over those tiny totals broadcast back, partition-local cumsum + offset —
    instead of ``Window.orderBy("doc_id")``, whose plan moved the ENTIRE
    corpus to a single partition (Spark's own "No Partition Defined for
    Window operation" warning).  Output is bit-identical (doc_id unique);
    the DuckDB global-window oracle pins that, and tests/test_plans.py pins
    the absence of Exchange SinglePartition.

    shard_id clamps cum_tokens at 1 so leading zero-token documents land in
    shard 0, not shard -1 (shard ids are file indices and must start at 0);
    the oracle applies the identical GREATEST clamp.
    """
    from moira_spark.operators.prefix import running_sum

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    n_tokens = F.size(words_col())
    toks = d.select("doc_id", n_tokens.cast("bigint").alias("n_tokens"))
    return running_sum(
        toks, "n_tokens", order_cols=["doc_id"], out_col="cum_tokens"
    ).withColumn(
        "shard_id",
        F.floor((F.greatest(F.col("cum_tokens"), F.lit(1)) - 1) / 2000).cast(
            "bigint"
        ),
    )


# ------------------------------------- temperature-scaled training mix
@register(
    "training_mix_temperature",
    """
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT SUM(CAST(FLOOR(SQRT(n_lang) * 1000000) AS BIGINT)) AS sw,
             CAST(CEIL(SUM(n_lang) * 0.4) AS BIGINT) AS m
      FROM counts
    ),
    targets AS (
      SELECT lang, n_lang,
             -- promote to double BEFORE the m*w product: bigint*bigint
             -- here overflows int64 at web scale (Spark ANSI would raise,
             -- DuckDB would silently widen to HUGEINT — divergent)
             CAST(CEIL(m * 1.0 * CAST(FLOOR(SQRT(n_lang) * 1000000) AS BIGINT)
                       / sw) AS BIGINT) AS target_docs
      FROM counts, tot
    ),
    ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id)
                 AS rank_in_lang
      FROM documents
    )
    SELECT r.doc_id, r.lang, r.rank_in_lang, t.n_lang, t.target_docs
    FROM ranked r JOIN targets t ON r.lang = t.lang
    WHERE r.rank_in_lang <= t.target_docs
    """,
)
def training_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual sampling (XLM-R / mBERT style,
    Conneau et al. 2020): per-language sampling weight proportional to
    n_lang^alpha with alpha = 0.5, so low-resource languages are
    up-weighted relative to their corpus share instead of drowned by the
    head language.  Budget m = 40% of the corpus; per-language target =
    ceil(m * w_lang / sum(w)); selection is deterministic rank-in-language
    (reproducible across runs and cluster sizes — the dataset-card
    promise, same discipline as training_mix_sample's fixed fractions).

    Determinism across engines: weights are integerized BEFORE the sum —
    floor(sqrt(n) * 1e6) as bigint — so sum(w) is exact integer arithmetic
    on both sides and never rides on float summation order; the single
    double division m*w/sw has exact bigint inputs, hence identical IEEE
    results.  Scale shape: rank_in_lang is the hierarchical prefix rank
    (operators/prefix.py) — no hot-language window partition; counts and
    targets are a tiny per-language aggregate broadcast back.
    """
    from moira_spark.operators.prefix import running_rank

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lang")
    )
    w = F.floor(F.sqrt(F.col("n_lang")) * 1000000).cast("bigint")
    tot = counts.agg(
        F.sum(w).alias("sw"),
        F.ceil(F.sum("n_lang") * 0.4).cast("bigint").alias("m"),
    )
    targets = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_lang",
            # m * 1.0 FIRST: the bigint product m*w overflows int64 at web
            # scale and ANSI mode turns that into a runtime error; the
            # double path rounds consistently with the oracle instead
            F.ceil(F.col("m") * 1.0 * w / F.col("sw"))
            .cast("bigint")
            .alias("target_docs"),
        )
    )
    ranked = running_rank(
        d, order_cols=["doc_id"], group_cols=["lang"], out_col="rank_in_lang"
    )
    return (
        ranked.join(F.broadcast(targets), "lang")
        .filter(F.col("rank_in_lang") <= F.col("target_docs"))
        .select("doc_id", "lang", "rank_in_lang", "n_lang", "target_docs")
    )


# ---------------------------------------- token-budget quality selection
def token_budget_select(
    scored: DataFrame,
    budget_num: int = 1,
    budget_den: int = 2,
) -> DataFrame:
    """Keep the highest-quality docs until ``budget_num/budget_den`` of the
    total token count is spent.  ``scored`` needs (doc_id, n_tokens,
    q_score); selection order is (q_score desc, doc_id asc) and the budget
    test is exact integer arithmetic (cum * den <= total * num).  Running
    sum is the hierarchical prefix sum — no single-partition window."""
    from moira_spark.operators.prefix import running_sum

    ranked = running_sum(
        scored.withColumn("neg_q", -F.col("q_score")),
        "n_tokens",
        order_cols=["neg_q", "doc_id"],
        out_col="cum_tokens",
    )
    total = scored.agg(F.sum("n_tokens").alias("__total"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .filter(
            F.col("cum_tokens") * F.lit(budget_den)
            <= F.col("__total") * F.lit(budget_num)
        )
        .select("doc_id", "q_score", "n_tokens", "cum_tokens")
    )


@register(
    "corpus_quality_budget",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != ''))
                  AS BIGINT) AS n_tokens,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                  x -> x IN ('{_STOP_SQL}')))
                  AS BIGINT) AS n_stop
      FROM documents
    ),
    scored AS (
      SELECT doc_id, n_tokens,
             CAST(FLOOR(n_stop * 1000000.0 / GREATEST(n_tokens, 1))
                  AS BIGINT) AS q_score
      FROM toks
    ),
    runsum AS (
      SELECT doc_id, q_score, n_tokens,
             CAST(SUM(n_tokens) OVER (
                    ORDER BY q_score DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, q_score, n_tokens, cum_tokens
    FROM runsum
    WHERE cum_tokens * 2 <= (SELECT SUM(n_tokens) FROM toks)
    """,
)
def corpus_quality_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget quality selection: fill 50% of the corpus's token
    budget with the highest-quality documents (quality = fixed-point
    stop-word density, the cheap heuristic stand-in for a classifier
    score), taking docs in (score desc, doc_id) order until the running
    token count exceeds the budget — the "best N tokens" cut a
    FineWeb/DCLM-style pipeline makes after scoring and before packing.

    Scale shape: the global score-ordered running sum is the hierarchical
    two-phase prefix sum (operators/prefix.py) — range partition on
    (neg_score, doc_id), tiny per-partition totals, exclusive offsets
    broadcast back — NOT ``Window.orderBy`` with its fatal
    ``Exchange SinglePartition``; tests/test_plans.py pins the absence.
    The budget itself is one scalar aggregate cross-joined back (broadcast
    of a single row).  Scores are integerized (floor of n_stop * 1e6 /
    n_tokens: exact bigint inputs, one double division, floor — identical
    on both engines) so ordering never rides on float summation order, and
    the budget test multiplies instead of halving (cum * 2 <= total) to
    stay in exact integer arithmetic.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    w = words_col()
    n_tokens = F.size(w).cast("bigint")
    n_stop = F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS))).cast("bigint")
    scored = d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.floor(n_stop * 1000000.0 / F.greatest(n_tokens, F.lit(1)))
        .cast("bigint")
        .alias("q_score"),
    )
    return token_budget_select(scored)


# ------------------------------- DSIR-style importance-weighted selection
# Hashed-unigram feature space size.  128 buckets keeps the per-bucket
# log-ratio table broadcast-tiny at any corpus scale while leaving enough
# resolution for the language-level separation the fixture exercises; the
# paper uses 10k hashed bigram buckets — the shape is identical, only the
# constant grows.
_DSIR_BUCKETS = 128


def dsir_weights(docs: DataFrame, n_buckets: int = _DSIR_BUCKETS) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling") over a ``(doc_id,
    is_target, words)`` frame: unigrams are hashed into ``n_buckets``
    buckets (first 8 hex chars of md5 — portable to any ANSI engine), a
    per-bucket log-likelihood ratio ``lam = ln(p_target / p_raw)`` is
    estimated with add-1 smoothing, and each document scores the SUM of
    its tokens' ratios.  High weight = looks like the target distribution.
    Deterministic variant: weights are emitted exactly (fixed-point 1e-6
    nats per term, bigint sum — the doc_unigram_entropy lesson) and
    selection is the sign threshold ``weight > 0`` rather than the
    paper's Gumbel resampling, so the result is oracle-checkable.

    Scale shape: ONE token pass computes raw and target bucket counts
    together (partial-aggregating groupBy to ``n_buckets`` rows); the
    log-ratio table is broadcast back onto a second token pass whose only
    shuffle is the per-doc partial sum keyed by doc_id.  Nothing
    materializes per-token state, the ratio table is O(buckets), and the
    overflow-prone ``(ct+1)*(r+B)`` product is promoted to double BEFORE
    multiplying (exact below 2^53; the bigint*bigint ANSI overflow trap).
    """
    # r7: tokens collapse map-side into (doc_id, is_target, b, cnt) rows —
    # one explode, one md5 per token, one partial-aggregated exchange —
    # and that frame feeds both the bucket-count branch (a buckets-sized
    # re-aggregation, no md5) and the per-doc weight branch
    # (sum(cnt * lam), exact bigint — identical to summing lam per token).
    # NOT persisted (r7.2 A/B, 3 runs each): persist cost 1.7-1.9s vs
    # 1.0-1.05s recomputed at sf0.1 (cache build + InMemoryTableScan
    # overhead dwarfs the recompute on small inputs) and won only
    # 4.4s-vs-5.3s at 10x scale; both beat the r5 two-full-token-pass
    # shape (~8.5s at 10x).  A two-action variant (collect the 128-row lam
    # table, rebuild with a broadcast join) measured worst of all
    # (1.5/6.7s) — the second full md5 pass plus action overhead.  At true
    # 100 TB persist the collapsed frame (45x smaller than the token
    # stream) if memory allows; it is one .persist() away.
    tokc = (
        docs.select("doc_id", "is_target", F.explode("words").alias("w"))
        .select(
            "doc_id",
            "is_target",
            (
                F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("bigint")
                % F.lit(n_buckets)
            ).alias("b"),
        )
        .groupBy("doc_id", "is_target", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    counts = tokc.groupBy("b").agg(
        F.sum("cnt").alias("cr"),
        F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(0)).alias(
            "ct"
        ),
    )
    tot = counts.agg(F.sum("cr").alias("r"), F.sum("ct").alias("t"))
    lam = counts.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            F.log(
                ((F.col("ct") + 1) * 1.0 * (F.col("r") + n_buckets))
                / ((F.col("cr") + 1) * 1.0 * (F.col("t") + n_buckets))
            )
            * 1000000.0
        )
        .cast("bigint")
        .alias("lam"),
    )
    per = (
        tokc.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("lam")).alias("weight_fp"),
        )
    )
    wfp = F.coalesce(F.col("weight_fp"), F.lit(0)).cast("bigint")
    return (
        docs.select("doc_id", "is_target")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            "is_target",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
            wfp.alias("weight_fp"),
            (wfp / F.lit(1000000.0)).alias("weight"),
            (wfp > 0).alias("selected"),
        )
    )


@register(
    "doc_dsir_weight",
    f"""
    WITH tok AS (
      SELECT doc_id, (lang = 'en') AS is_target,
             ('0x' || substr(md5(w), 1, 8))::BIGINT % {_DSIR_BUCKETS} AS b
      FROM (
        SELECT doc_id, lang,
               UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '')) AS w
        FROM documents
      )
    ),
    counts AS (
      SELECT b, COUNT(*) AS cr,
             CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct
      FROM tok GROUP BY b
    ),
    tot AS (
      SELECT CAST(SUM(cr) AS BIGINT) AS r, CAST(SUM(ct) AS BIGINT) AS t
      FROM counts
    ),
    lam AS (
      SELECT b,
             CAST(ROUND(LN(((ct + 1) * 1.0 * (r + {_DSIR_BUCKETS}))
                           / ((cr + 1) * 1.0 * (t + {_DSIR_BUCKETS})))
                        * 1000000.0) AS BIGINT) AS lam
      FROM counts CROSS JOIN tot
    ),
    per AS (
      SELECT tok.doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(lam.lam) AS BIGINT) AS weight_fp
      FROM tok JOIN lam ON tok.b = lam.b
      GROUP BY tok.doc_id
    )
    SELECT d.doc_id, (d.lang = 'en') AS is_target,
           COALESCE(p.n_tokens, 0) AS n_tokens,
           COALESCE(p.weight_fp, 0) AS weight_fp,
           COALESCE(p.weight_fp, 0) / 1000000.0 AS weight,
           COALESCE(p.weight_fp, 0) > 0 AS selected
    FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
    """,
)
def doc_dsir_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting of the corpus against an in-corpus target
    slice (target = the English documents; the raw distribution is the
    whole corpus).  A GPT-3/DSIR-lineage pipeline uses exactly this score
    to pick web documents that look like a curated reference corpus; on
    the fixture it separates languages by construction, which makes the
    sign-threshold selection a checkable proxy.  See ``dsir_weights`` for
    the estimator and the scale shape.
    """
    d = load(spark, sf_dir, "documents")
    return dsir_weights(
        d.select(
            "doc_id",
            (F.col("lang") == "en").alias("is_target"),
            words_col().alias("words"),
        )
    )


# ---------------------------------------------- corpus -> training shards
_SHARD_PLANT_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id, text FROM documents WHERE doc_id % 41 = 0
"""


@register(
    "corpus_to_shards",
    # lazy (rendered at oracle_sql() time): thresholds must reflect any CLI
    # apply_overrides() exactly as the call-time Spark side does (ADVICE r4)
    lambda: f"""
    WITH corpus AS ({_SHARD_PLANT_SQL}),
    scored AS (
      SELECT doc_id, text,
             LENGTH(text) AS n_chars,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w != '')) AS n_words,
             (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^A-Za-z0-9 ]', '', 'g')))
               * 1.0
               / GREATEST(LEN(LIST_FILTER(STRING_SPLIT(text,' '), w -> w != '')), 1)
               AS symbol_ratio
      FROM corpus
    ),
    kept AS (
      SELECT * FROM scored
      WHERE n_chars BETWEEN {config.MIN_CHARS} AND {config.MAX_CHARS}
        AND n_words BETWEEN {config.MIN_WORDS} AND {config.MAX_WORDS}
        AND symbol_ratio <= {config.MAX_SYMBOL_WORD_RATIO}
    ),
    deduped AS (
      SELECT MIN(doc_id) AS doc_id, MIN(n_words) AS n_tokens
      FROM kept GROUP BY MD5(text)
    ),
    packed AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM deduped
    )
    SELECT doc_id, n_tokens,
           CAST(FLOOR((GREATEST(cum_tokens, 1) - 1) / 2000) AS BIGINT) AS shard_id
    FROM packed
    """,
)
def corpus_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data assembly in ONE declarative plan: heuristic
    quality filter (length bounds + symbol/word ratio, spec thresholds from
    config.py) -> exact dedup (min doc_id per md5, planted duplicates
    removed) -> token-budget shard packing of the survivors.

    The composition is the point: filters reach the parquet scan, dedup is
    one hash aggregation, packing is the hierarchical prefix sum
    (operators/prefix.py — round 3, replacing the single-partition global
    window) — Catalyst fuses the filter+scoring stage into a single codegen
    pass over the scan, so "assemble a training set" costs one shuffle for
    the dedup and one balanced range shuffle for the packing order.
    Hash-checked against the identical DuckDB composition.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.unionAll(
        d.filter(F.col("doc_id") % 41 == 0).select(
            (F.col("doc_id") + 3000000).alias("doc_id"), "text"
        )
    )
    alnum_sp = (
        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 "
    )
    n_chars = F.length("text")
    n_words = F.size(words_col())
    sym_ratio = F.length(F.translate("text", alnum_sp, "")).cast("double") / (
        F.greatest(n_words, F.lit(1)).cast("double")
    )
    kept = planted.filter(
        (n_chars >= config.MIN_CHARS)
        & (n_chars <= config.MAX_CHARS)
        & (n_words >= config.MIN_WORDS)
        & (n_words <= config.MAX_WORDS)
        & (sym_ratio <= config.MAX_SYMBOL_WORD_RATIO)
    )
    deduped = (
        kept.select("doc_id", n_words.alias("n_tokens"), F.md5("text").alias("h"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("n_tokens").alias("n_tokens"),
        )
        .drop("h")
    )
    from moira_spark.operators.prefix import running_sum

    return (
        running_sum(
            deduped.withColumn("n_tokens", F.col("n_tokens").cast("bigint")),
            "n_tokens",
            order_cols=["doc_id"],
            out_col="cum_tokens",
        )
        .select(
            "doc_id",
            "n_tokens",
            F.floor(
                (F.greatest(F.col("cum_tokens"), F.lit(1)) - 1) / 2000
            ).cast("bigint").alias("shard_id"),
        )
    )


# ------------------------------------------------ learned quality classifier
@register("doc_quality_model", None)  # learned scores: self-verifying check
def doc_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality scoring (kernels/quality.py): the fineweb/DCLM-style
    model pass layered over the heuristic rules — seeded numpy logistic
    regression over surface features, weak-labeled by the corruption modes
    the heuristics fire on, trained driver-side at build time, broadcast,
    and served in ONE vectorized Arrow hop (the langid/lm serving shape).

    Output rows: a held-out eval cohort per class (seed disjoint from the
    training seed) with mean score and accuracy — HARD-FAILED below 0.98
    so a degenerate model is a red driver row — plus the sf documents
    table scored as a deployment cohort (deterministic mean/quantiles; at
    100 TB this cohort is the actual filter pass, one linear scan).
    """
    from moira_spark.kernels import quality

    model = quality.train(seed=42)
    bc = spark.sparkContext.broadcast(model)

    @F.pandas_udf("double")
    def score_of(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        m = bc.value
        for texts in batches:
            yield pd.Series(m.score(texts.tolist()))

    eval_texts, eval_y = quality.training_set(seed=777, n_per_class=200)
    eval_df = spark.createDataFrame(
        pd.DataFrame({"text": eval_texts, "label": eval_y.astype(int)})
    ).select("text", "label", score_of(F.col("text")).alias("score"))
    cohorts = (
        eval_df.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("score"), 6).alias("mean_score"),
            F.round(
                F.avg(
                    ((F.col("score") > 0.5).cast("int") == F.col("label"))
                    .cast("double")
                ),
                6,
            ).alias("accuracy"),
        )
        .collect()
    )
    rows = [
        {
            "cohort": "eval_clean" if r["label"] == 1 else "eval_corrupted",
            "n": r["n"],
            "mean_score": r["mean_score"],
            "accuracy": r["accuracy"],
        }
        for r in cohorts
    ]
    for r in rows:
        if r["accuracy"] < 0.98:
            raise RuntimeError(
                f"quality model degenerated: {r['cohort']} accuracy "
                f"{r['accuracy']} < 0.98 floor"
            )

    docs = load(spark, sf_dir, "documents").select(
        score_of(F.col("text")).alias("score")
    )
    d = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("score"), 6).alias("mean_score"),
    ).collect()[0]
    rows.append(
        {
            "cohort": "documents",
            "n": d["n"],
            "mean_score": d["mean_score"],
            "accuracy": None,
        }
    )
    rows.sort(key=lambda r: r["cohort"])
    return spark.createDataFrame(
        pd.DataFrame(rows),
        schema="cohort string, n long, mean_score double, accuracy double",
    )


# ------------------------------------------------- corpus term statistics
def _word_bigrams(docs: DataFrame) -> DataFrame:
    """(w1, w2) rows: every adjacent pair of the word array ``w``, the one
    bigram stream of ``corpus_bigram_pmi`` and ``lm_bigram_kn`` (the
    ``slice`` lengths stay >= 0, so a 0- or 1-word doc yields no rows)."""
    return docs.select(
        F.explode(
            F.zip_with(
                F.expr("slice(w, 1, greatest(size(w) - 1, 0))"),
                F.expr("slice(w, 2, greatest(size(w) - 1, 0))"),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")


@register(
    "doc_tfidf_topterms",
    """
    WITH words AS (
      SELECT doc_id,
             UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '')) AS wd
      FROM documents
    ),
    tf AS (
      SELECT doc_id, wd, CAST(COUNT(*) AS BIGINT) AS tf
      FROM words GROUP BY doc_id, wd
    ),
    dfreq AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY wd),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.wd AS term, t.tf, d.df,
             CAST(ROUND(t.tf * LN(n.n_docs * 1.0 / d.df) * 1000000)
                  AS BIGINT) AS score_fp
      FROM tf t JOIN dfreq d ON t.wd = d.wd CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tf, df, score_fp,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score_fp DESC, term ASC) AS rk
      FROM scored
    )
    SELECT doc_id, CAST(rk AS INTEGER) AS rk, term, tf, df,
           ROUND(score_fp / 1000000.0, 6) AS tfidf
    FROM ranked WHERE rk <= 3
    """,
)
def doc_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document by TF-IDF — the classic two-pass
    corpus statistic (per-doc term frequency x corpus-wide inverse
    document frequency), the building block for keyword extraction,
    topic tagging, and quality-classifier features over a training
    corpus.

    Scale shape: ONE tokenize/explode feeds both aggregates — tf =
    groupBy(doc_id, term) with map-side partial aggregation, df =
    groupBy(term) over the already-distinct tf keys (no second explode,
    no countDistinct shuffle).  The tf-df join shuffles on term
    (vocabulary keys: heavy-tailed but bounded df per key after the tf
    collapse); the per-doc top-3 is a row_number window keyed by doc_id
    — no global sort.  n_docs is a scalar aggregate.

    Cross-engine float discipline (the doc_unigram_entropy pattern):
    tf/df/n_docs are exact integers; the only float op is one division +
    one libm log + one multiply, fixed-pointed to 1e-6 per term BEFORE
    ranking, so the 1-ULP JVM-vs-DuckDB log disagreement (~1e-10 of a
    fixed-point unit) cannot flip a rank or the emitted 6dp value, and
    ties on score_fp break on the term itself.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = d.count()  # scalar aggregate, driver-side by design
    tf = (
        d.select("doc_id", F.explode(words_col()).alias("wd"))
        .groupBy("doc_id", "wd")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfreq = tf.groupBy("wd").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    score_fp = F.round(
        F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")) * 1000000
    ).cast("bigint")
    scored = tf.join(dfreq, "wd").select(
        "doc_id",
        F.col("wd").alias("term"),
        "tf",
        "df",
        score_fp.alias("score_fp"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_fp").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id",
            F.col("rk").cast("int").alias("rk"),
            "term",
            "tf",
            "df",
            F.round(F.col("score_fp") / 1000000.0, 6).alias("tfidf"),
        )
    )


@register(
    "corpus_bigram_pmi",
    """
    WITH docs AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '') AS w
      FROM documents
    ),
    tot AS (
      SELECT CAST(SUM(LEN(w)) AS BIGINT) AS u,
             CAST(SUM(GREATEST(LEN(w) - 1, 0)) AS BIGINT) AS wn
      FROM docs
    ),
    uni AS (
      SELECT wd, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT UNNEST(w) AS wd FROM docs) GROUP BY wd
    ),
    pairs AS (
      SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w)), i -> w[i])) AS w1,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w)), i -> w[i + 1])) AS w2
      FROM docs
    ),
    bi AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cxy
      FROM pairs GROUP BY w1, w2 HAVING COUNT(*) >= 5
    ),
    scored AS (
      SELECT b.w1 || ' ' || b.w2 AS bigram, b.cxy, ux.c AS cx, uy.c AS cy,
             CAST(ROUND(LN((b.cxy * 1.0 / t.wn)
                           / ((ux.c * 1.0 / t.u) * (uy.c * 1.0 / t.u)))
                        * 1000000) AS BIGINT) AS score_fp
      FROM bi b
      JOIN uni ux ON b.w1 = ux.wd
      JOIN uni uy ON b.w2 = uy.wd
      CROSS JOIN tot t
    )
    SELECT bigram, cxy AS c_xy, cx AS c_x, cy AS c_y,
           ROUND(score_fp / 1000000.0, 6) AS pmi
    FROM scored
    ORDER BY score_fp DESC, bigram ASC LIMIT 20
    """,
)
def corpus_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-word collocations across the corpus by pointwise
    mutual information, min support 5 — the corpus-level companion to the
    per-doc term statistics (phrase mining, tokenizer-merge candidates,
    boilerplate discovery).  PMI = ln(p(xy) / (p(x)p(y))) with the pair
    probability over total bigram count and unigram probabilities over
    total word count.

    Scale shape: one explode -> groupBy(w1, w2) with map-side combine and
    a >= 5 support prune BEFORE the two unigram-count joins (the prune
    bounds the join input to the heavy pairs); corpus totals are one
    scalar aggregate; the final top-20 is orderBy + limit, which Spark
    executes as TakeOrderedAndProject (per-partition heaps, no global
    sort/single-partition exchange).  The unigram-count subtree feeds
    both join sides and is deliberately recomputed rather than
    checkpointed: A/B at sf0.1/local[32] measured recompute 0.94 s vs
    localCheckpoint 1.10 s best-of-3 (the aggregated vocab frame is
    small, but eager materialization + two broadcast reads cost more
    than the extra codegen'd tokenize pass — same verdict as the r3/r4
    shingle-frame A/Bs).

    Cross-engine float discipline: all counts exact bigints; the
    probability ratio is built with an IDENTICAL operation tree on both
    engines (each intermediate double deterministic under IEEE 754), the
    single libm log is fixed-pointed to 1e-6 before ranking, and the
    top-20 cut is total-ordered by (score_fp, bigram).  Counts are
    promoted via * 1.0 BEFORE any multiply so no bigint product can
    overflow under ANSI mode at scale.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs = d.select("doc_id", words_col().alias("w"))
    tot = docs.agg(
        F.sum(F.size("w")).cast("bigint").alias("u"),
        F.sum(F.greatest(F.size("w") - 1, F.lit(0))).cast("bigint").alias("wn"),
    ).collect()[0]  # scalar aggregate, driver-side by design
    u, wn = float(tot["u"]), float(tot["wn"])
    uni = (
        docs.select(F.explode("w").alias("wd"))
        .groupBy("wd")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    pairs = _word_bigrams(docs)
    bi = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cxy"))
        .filter(F.col("cxy") >= 5)
    )
    ux = uni.select(F.col("wd").alias("w1"), F.col("c").alias("cx"))
    uy = uni.select(F.col("wd").alias("w2"), F.col("c").alias("cy"))
    score_fp = F.round(
        F.log(
            (F.col("cxy") * 1.0 / F.lit(wn))
            / ((F.col("cx") * 1.0 / F.lit(u)) * (F.col("cy") * 1.0 / F.lit(u)))
        )
        * 1000000
    ).cast("bigint")
    scored = (
        bi.join(ux, "w1")
        .join(uy, "w2")
        .select(
            F.concat(F.col("w1"), F.lit(" "), F.col("w2")).alias("bigram"),
            F.col("cxy").alias("c_xy"),
            F.col("cx").alias("c_x"),
            F.col("cy").alias("c_y"),
            score_fp.alias("score_fp"),
        )
    )
    return (
        scored.orderBy(F.col("score_fp").desc(), F.col("bigram").asc())
        .limit(20)
        .select(
            "bigram",
            "c_xy",
            "c_x",
            "c_y",
            F.round(F.col("score_fp") / 1000000.0, 6).alias("pmi"),
        )
    )


# ------------------------------------------------- curriculum buckets (r5)
@register(
    "corpus_curriculum_buckets",
    """
    SELECT bucket, COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM (SELECT n_chars,
                 NTILE(8) OVER (ORDER BY n_chars, doc_id) AS bucket
          FROM documents)
    GROUP BY bucket
    """,
)
def corpus_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: split the corpus into B difficulty tiers by a
    total order on a quality key (here document length; perplexity or a
    learned score slots in identically), bit-identical to SQL
    ``NTILE(B) OVER (ORDER BY key)``.

    The scale story: NTILE over a global order is the classic
    single-reducer window — Spark plans ``Exchange SinglePartition`` and
    the entire corpus serializes through one task.  This computes the same
    buckets from the hierarchical prefix-sum rank (operators/prefix.py):
    NTILE's split is a closed form of the rank — the first ``n mod B``
    buckets take ``ceil(n/B)`` rows, the rest ``floor(n/B)`` — so a
    distributed row number plus one scalar count reproduces it with no
    single-partition exchange anywhere in the plan (tests/test_plans.py
    pins that property)."""
    from moira_spark.operators.prefix import running_ntile

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    bucketed = running_ntile(docs, 8, ["n_chars", "doc_id"])
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


# --------------------------------------------- heavy hitters (round 6)
_HH_K = 20
_HH_CAP = 1024  # Misra-Gries counters per partition


@register(
    "doc_heavy_hitters",
    f"""
    WITH toks AS (
      SELECT UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != ''))
             AS token
      FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM toks GROUP BY token
    ORDER BY n DESC, token LIMIT {_HH_K}
    """,
)
def doc_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROVABLY-EXACT top-k tokens via bounded-state Misra-Gries sketches
    plus an exact recount — the heavy-hitters pattern for streams whose
    distinct-token cardinality dwarfs memory.

    Why not just groupBy(token).count()?  Map-side combine already makes
    the shuffle per-DISTINCT-token — but at web scale the distinct
    vocabulary itself (URLs, hashes, typos) is the explosion: the shuffle
    and the final agg hold every distinct key.  Misra-Gries bounds state
    to ``cap`` counters per partition with total undercount <= N/(cap+1),
    so the merged summary provably contains every token with true count
    above that bar.  Stages:

    1. one JVM explode -> per-partition MG summaries via mapInPandas —
       VECTORIZED batch variant (value_counts + one nlargest/subtract
       prune per batch; Python work is per distinct surviving token,
       never per row);
    2. candidates = union of survivors (<= cap x partitions rows);
    3. exact recount of candidates only (explode again, broadcast
       semi-join on the candidate set, groupBy) -> top-k with (n DESC,
       token) tiebreak;
    4. PROOF gate, hard-fail: the k-th recounted candidate must exceed
       N/(cap+1) — every non-candidate is below it, so the top-k over
       candidates IS the global top-k, and the DuckDB oracle checks the
       values exactly.
    """
    import pandas as pd

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(words_col()).alias("token"))

    def mg(batches):
        counts = pd.Series(dtype="int64")
        for pdf in batches:
            counts = counts.add(pdf["token"].value_counts(), fill_value=0)
            if len(counts) > _HH_CAP:
                d = counts.nlargest(_HH_CAP + 1).iloc[-1]
                counts = counts - d
                counts = counts[counts > 0]
        # dtype pin: an EMPTY partition leaves counts with a RangeIndex
        # (int64) and Arrow then refuses the declared string column — seen
        # first at sf1.0 where scan splits produce empty partitions.
        yield pd.DataFrame({"token": counts.index.astype("object")})

    cand = (
        toks.mapInPandas(mg, "token string")
        .distinct()
        .localCheckpoint(eager=True)  # tiny; recount + gate reuse it
    )
    exact = (
        toks.join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    top = exact.orderBy(F.col("n").desc(), "token").limit(_HH_K).collect()
    n_total = toks.count()
    bar = n_total / (_HH_CAP + 1)
    if len(top) < _HH_K or top[-1]["n"] <= bar:
        raise AssertionError(
            f"heavy-hitters proof failed: k-th candidate count "
            f"{top[-1]['n'] if top else 0} <= N/(cap+1) = {bar:.1f} — "
            "raise the MG capacity; the top-k is not provably exact"
        )
    return spark.createDataFrame(
        [(r["token"], r["n"]) for r in top], "token string, n bigint"
    )


# ------------------------------------ Kneser-Ney bigram LM (round 6)
_KN_D = 0.75
_KN_TOP = 30


@register(
    "lm_bigram_kn",
    f"""
    WITH docs AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '') AS w
      FROM documents
    ),
    pairs AS (
      SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w)), i -> w[i])) AS w1,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w)), i -> w[i + 1])) AS w2
      FROM docs
    ),
    bi AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM pairs GROUP BY w1, w2
    ),
    lft AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n1l
      FROM bi GROUP BY w1
    ),
    rgt AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1r FROM bi GROUP BY w2
    ),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS b FROM bi)
    SELECT bi.w1 || ' ' || bi.w2 AS bigram,
           bi.c12, lft.c1, lft.n1l, rgt.n1r,
           CAST(ROUND((GREATEST(bi.c12 - {_KN_D}, 0.0) / lft.c1
                       + (({_KN_D} * lft.n1l) / lft.c1) * (rgt.n1r / tot.b))
                      * 1000000) AS BIGINT) AS p_kn_fp
    FROM bi
    JOIN lft ON bi.w1 = lft.w1
    JOIN rgt ON bi.w2 = rgt.w2
    CROSS JOIN tot
    ORDER BY bi.c12 DESC, bigram LIMIT {_KN_TOP}
    """,
)
def lm_bigram_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Kneser-Ney-smoothed bigram LM training — the count
    tables and interpolated probabilities behind an n-gram perplexity
    scorer, built at corpus scale instead of driver-side:

        P_kn(w2|w1) = max(c12 - D, 0)/c1 + (D * N1+(w1,.)/c1) * Pcont(w2)
        Pcont(w2)   = N1+(., w2) / N1+(., .)      (D = 0.75)

    Scale shape: ONE bigram explode -> groupBy(w1, w2) with map-side
    combine gives the bigram-TYPE frame; every other statistic (left
    continuation counts, right continuation counts, the distinct-bigram
    total) is a small aggregation OVER that frame, never a second pass
    over raw text; the join-backs key on single terms (broadcastable at
    this scale, term-keyed shuffles at web scale — either is correct);
    the top-k output is orderBy + limit = TakeOrderedAndProject.

    Cross-engine float discipline (the PMI/TF-IDF precedent): all counts
    exact bigints, the probability is assembled with an IDENTICAL
    operation tree on both engines, fixed-pointed to 1e-6; the top-k cut
    is total-ordered by (c12 DESC, bigram)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs = d.select(words_col().alias("w"))
    pairs = _word_bigrams(docs)
    bi = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
        .localCheckpoint(eager=True)  # three aggregations + the join-backs
        # read this frame; recomputing the raw-text explode 4x loses the
        # recompute-vs-persist A/B that holds for SINGLE-reuse frames
    )
    lft = bi.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1l"),
    )
    rgt = bi.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1r")
    )
    b_total = float(bi.count())
    p_kn = (
        F.greatest(F.col("c12") - F.lit(_KN_D), F.lit(0.0)) / F.col("c1")
        + ((F.lit(_KN_D) * F.col("n1l")) / F.col("c1"))
        * (F.col("n1r") / F.lit(b_total))
    )
    return (
        bi.join(lft, "w1")
        .join(rgt, "w2")
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "c12", "c1", "n1l", "n1r",
            F.round(p_kn * 1000000).cast("bigint").alias("p_kn_fp"),
        )
        .orderBy(F.col("c12").desc(), "bigram")
        .limit(_KN_TOP)
    )


# ---------------------------------------------------------- BM25 retrieval
@register(
    "doc_bm25_search",
    """
    WITH words AS (
      SELECT doc_id,
             UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '')) AS wd
      FROM documents
    ),
    tf AS (
      SELECT doc_id, wd, CAST(COUNT(*) AS BIGINT) AS tf
      FROM words GROUP BY doc_id, wd
    ),
    dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM words GROUP BY doc_id
    ),
    dfreq AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY wd),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl),
    qterms AS (
      SELECT wd, df, CAST((rk - 1) // 3 AS INTEGER) AS query_id
      FROM (SELECT wd, df,
                   ROW_NUMBER() OVER (ORDER BY df ASC, wd ASC) AS rk
            FROM dfreq)
      WHERE rk <= 9
    ),
    contrib AS (
      SELECT q.query_id, t.doc_id,
             CAST(ROUND(
               LN((s.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
               * (t.tf * 2.2
                  / (t.tf + 0.3
                     + 0.9 * ((d.dl * 1.0) * s.n_docs) / o.total_tokens))
               * 1000000) AS BIGINT) AS c_fp
      FROM tf t JOIN qterms q ON t.wd = q.wd
      JOIN dl d ON t.doc_id = d.doc_id
      CROSS JOIN stats s CROSS JOIN tot o
    ),
    scored AS (
      SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(c_fp) AS BIGINT) AS score_fp
      FROM contrib GROUP BY query_id, doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id, n_terms, score_fp,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score_fp DESC, doc_id ASC) AS rk
      FROM scored
    )
    SELECT query_id, CAST(rk AS INTEGER) AS rk, doc_id, n_terms,
           ROUND(score_fp / 1000000.0, 6) AS bm25
    FROM ranked WHERE rk <= 5
    """,
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-5 retrieval over the corpus for three
    deterministic 3-term queries (the 9 rarest terms by document
    frequency, tie-broken lexically, grouped in df order) — the lexical
    half of a retrieval stack next to the embedding ANN tier, and the
    standard relevance model for mining training data by keyword.

    Scale shape: ONE tokenize/explode feeds tf, dl and df (df over the
    already-collapsed tf keys — no countDistinct shuffle).  The query
    side is 9 rows, so the tf-qterms join broadcasts without a hint
    (AQE); the dl join shuffles on doc_id.  BOTH global top-k's run in
    two phases (per-partition row_number prune -> tiny global window):
    the rarest-9 term ranking never gathers the vocab-sized df frame
    (10^8 terms at web scale) and the top-5-per-query window never sees
    more than 5 x num_partitions rows per query_id — no hot reducer at
    10^9 docs.

    Cross-engine float discipline: tf/df/dl/n_docs/total_tokens are
    exact integers; each term's BM25 contribution runs the identical
    left-associated double expression on both engines and is
    fixed-pointed to 1e-6 BEFORE the per-(query, doc) sum, which is an
    order-free BIGINT sum.  Ranking ties break on doc_id.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = d.count()  # scalar aggregate, driver-side by design
    words = d.select("doc_id", F.explode(words_col()).alias("wd"))
    tf = words.groupBy("doc_id", "wd").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dl = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl")
    )
    total_tokens = dl.agg(F.sum("dl")).collect()[0][0]  # scalar
    dfreq = tf.groupBy("wd").agg(F.count(F.lit(1)).cast("bigint").alias("df"))

    from pyspark.sql import Window

    # two-phase rarest-9: per-partition prune bounds the global ranking
    # window's input to 9 x num_partitions rows — the SinglePartition
    # exchange never sees the vocab-sized frame (web-scale vocabularies
    # run to 10^8 terms)
    w_ql = Window.partitionBy("qsalt").orderBy(
        F.col("df").asc(), F.col("wd").asc()
    )
    dfreq_pruned = (
        dfreq.withColumn("qsalt", F.spark_partition_id())
        .withColumn("qlrk", F.row_number().over(w_ql))
        .filter(F.col("qlrk") <= 9)
        .drop("qsalt", "qlrk")
    )
    w_q = Window.orderBy(F.col("df").asc(), F.col("wd").asc())
    qterms = (
        dfreq_pruned.withColumn("qrk", F.row_number().over(w_q))
        .filter(F.col("qrk") <= 9)
        .select(
            "wd",
            "df",
            ((F.col("qrk") - 1) / 3).cast("int").alias("query_id"),
        )
    )
    # identical left-associated arithmetic as the oracle (parity-critical)
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tfn = (
        F.col("tf")
        * 2.2
        / (
            F.col("tf")
            + 0.3
            + 0.9 * ((F.col("dl") * 1.0) * n_docs) / total_tokens
        )
    )
    contrib = (
        tf.join(qterms, "wd")
        .join(dl, "doc_id")
        .select(
            "query_id",
            "doc_id",
            F.round(idf * tfn * 1000000).cast("bigint").alias("c_fp"),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("c_fp").cast("bigint").alias("score_fp"),
    )
    # two-phase top-k: per-partition prune -> tiny global window
    w_local = Window.partitionBy("query_id", "salt").orderBy(
        F.col("score_fp").desc(), F.col("doc_id").asc()
    )
    pruned = (
        scored.withColumn("salt", F.spark_partition_id())
        .withColumn("lrk", F.row_number().over(w_local))
        .filter(F.col("lrk") <= 5)
        .drop("salt", "lrk")
    )
    w_glob = Window.partitionBy("query_id").orderBy(
        F.col("score_fp").desc(), F.col("doc_id").asc()
    )
    return (
        pruned.withColumn("rk", F.row_number().over(w_glob))
        .filter(F.col("rk") <= 5)
        .select(
            "query_id",
            F.col("rk").cast("int").alias("rk"),
            "doc_id",
            "n_terms",
            F.round(F.col("score_fp") / 1000000.0, 6).alias("bm25"),
        )
    )


# ------------------------------------------------- context-window chunking
@register(
    "doc_chunk_windows",
    """
    WITH toks AS (
      SELECT doc_id,
             LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '') AS w
      FROM documents
    ),
    meta AS (
      SELECT doc_id, w, CAST(LEN(w) AS BIGINT) AS n,
             CASE WHEN LEN(w) <= 32 THEN 1
                  ELSE CAST((LEN(w) - 32 + 23) // 24 AS BIGINT) + 1
             END AS num_chunks
      FROM toks
    ),
    chunks AS (
      SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
             CAST(GREATEST(LEAST(i * 24, n - 32), 0) AS BIGINT) AS strt, n
      FROM meta, UNNEST(RANGE(0, num_chunks)) AS t(i)
    )
    SELECT c.doc_id, c.chunk_idx,
           CAST(c.strt AS INTEGER) AS start_tok,
           CAST(LEAST(32, c.n - c.strt) AS INTEGER) AS n_tokens,
           MD5(ARRAY_TO_STRING(m.w[c.strt + 1 : c.strt + 32], ' '))
             AS chunk_md5
    FROM chunks c JOIN meta m ON c.doc_id = m.doc_id
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window context chunking (window 32 tokens, stride 24,
    8-token overlap): every document becomes ceil((n-32)/24)+1 chunks
    whose LAST window is right-aligned to the document end (start =
    min(i*stride, n-32)), the standard packing rule when fixed-length
    training contexts must cover the whole document without padding the
    tail.  Chunks are emitted as md5(text) so the cross-engine value
    check is byte-exact without shipping the chunk bodies.

    Scale shape: a pure narrow map — split, one sequence-explode, slice,
    md5 — with NO shuffle anywhere (the oracle's join-back to the token
    array is Spark-side a same-row slice).  Chunk fan-out is bounded by
    n/stride per doc, so partition sizes grow linearly with input and
    maxPartitionBytes keeps them executor-sized at any corpus scale.
    """
    W, S = 32, 24
    d = load(spark, sf_dir, "documents").select(
        "doc_id", words_col().alias("w")
    )
    n = F.size("w").cast("bigint")
    num_chunks = F.when(n <= W, F.lit(1).cast("bigint")).otherwise(
        ((n - W + (S - 1)) / S).cast("bigint") + 1
    )
    rows = d.select(
        "doc_id",
        "w",
        n.alias("n"),
        F.explode(F.sequence(F.lit(0), (num_chunks - 1).cast("int"))).alias(
            "i"
        ),
    )
    start = F.greatest(
        F.least(F.col("i").cast("bigint") * S, F.col("n") - W), F.lit(0)
    )
    return rows.select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_idx"),
        start.cast("int").alias("start_tok"),
        F.least(F.lit(W).cast("bigint"), F.col("n") - start)
        .cast("int")
        .alias("n_tokens"),
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("w"), (start + 1).cast("int"), W)
            )
        ).alias("chunk_md5"),
    )


# ------------------------------------------- deterministic weighted sample
@register(
    "corpus_weighted_sample",
    """
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ((((doc_id * 48271) % 2147483647) * 48271) % 2147483647) AS h
      FROM documents
    ),
    sc AS (
      SELECT doc_id, n_chars,
             CAST(ROUND(LN((h + 0.5) / 2147483647.0) / n_chars
                        * 1000000000) AS BIGINT) AS key_fp
      FROM keyed
    ),
    ranked AS (
      SELECT doc_id, n_chars, key_fp,
             ROW_NUMBER() OVER (ORDER BY key_fp DESC, doc_id ASC) AS rk
      FROM sc
    )
    SELECT CAST(rk AS INTEGER) AS rk, doc_id, n_chars,
           ROUND(key_fp / 1000000000.0, 9) AS sample_key
    FROM ranked WHERE rk <= 50
    """,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis top-k):
    each doc draws a deterministic pseudo-uniform u from two Lehmer
    minstd steps seeded by doc_id (prime modulus 2^31-1 — no
    power-of-two lattice) and is ranked by ln(u)/weight with weight =
    n_chars; the top-50 keys ARE a weighted sample without replacement.
    This is how a quality-weighted training subset is drawn at corpus
    scale with NO random state: any executor can recompute any doc's
    key, so the sample is reproducible across retries and resumes.

    Scale shape: the key is a narrow per-row expression; the global
    top-50 plans as TakeOrderedAndProject (per-partition heap + driver
    merge of 50-row heads — no single-partition exchange of the corpus).
    The final rank window runs AFTER limit(50), i.e. over exactly 50
    rows — bounded, like the k-row collects in the kmeans tier.

    Cross-engine float discipline: h is exact integer arithmetic (max
    intermediate 2^31 * 48271 < 2^48); ln((h+0.5)/2^31-1)/n_chars is one
    libm log + two divisions of identical doubles, fixed-pointed at 1e-9
    before ranking with a doc_id tie-break.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    h = (((F.col("doc_id") * 48271) % 2147483647) * 48271) % 2147483647
    key_fp = (
        F.round(
            F.log((h + 0.5) / 2147483647.0) / F.col("n_chars") * 1000000000
        )
        .cast("bigint")
        .alias("key_fp")
    )
    top = (
        d.select("doc_id", "n_chars", key_fp)
        .orderBy(F.col("key_fp").desc(), F.col("doc_id").asc())
        .limit(50)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("key_fp").desc(), F.col("doc_id").asc())
    return top.withColumn("rk", F.row_number().over(w)).select(
        F.col("rk").cast("int").alias("rk"),
        "doc_id",
        "n_chars",
        F.round(F.col("key_fp") / 1000000000.0, 9).alias("sample_key"),
    )


# ------------------------------------------------ source distribution drift
# c(alpha) for the two-sample Kolmogorov-Smirnov rejection bound
# D > c(alpha) * sqrt((n1 + n2) / (n1 * n2)) at alpha = 0.01.
_KS_C_ALPHA = 1.628


@register(
    "source_drift_ks",
    f"""
    WITH corpus AS (
      SELECT doc_id, source,
             CASE WHEN source = 'src7' THEN text || ' ' || text
                  ELSE text END AS text
      FROM documents
    ),
    vals AS (
      SELECT source,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != ''))
                  AS BIGINT) AS v
      FROM corpus WHERE text IS NOT NULL
    ),
    counts AS (
      SELECT source, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM vals GROUP BY 1, 2
    ),
    srcs AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM counts GROUP BY source
    ),
    gv AS (SELECT DISTINCT v FROM counts),
    grid AS (
      SELECT s.source, s.n_s, g.v, COALESCE(c.c, 0) AS c0
      FROM srcs s CROSS JOIN gv g
      LEFT JOIN counts c ON c.source = s.source AND c.v = g.v
    ),
    cums AS (
      SELECT source, n_s, v,
             CAST(SUM(c0) OVER (PARTITION BY source ORDER BY v) AS BIGINT)
               AS cum_s
      FROM grid
    ),
    gcum AS (
      SELECT source, n_s, v, cum_s,
             CAST(SUM(cum_s) OVER (PARTITION BY v) AS BIGINT) AS cum_g
      FROM cums
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM vals),
    nums AS (
      SELECT source, n_s,
             MAX(ABS(cum_s * (t.n_total - n_s) - (cum_g - cum_s) * n_s))
               AS dnum,
             MAX(t.n_total) AS n_total
      FROM gcum, tot t GROUP BY source, n_s
    )
    SELECT source, n_s AS n_docs,
           ROUND(dnum * 1.0 / (n_s * 1.0 * (n_total - n_s)), 6) AS ks_d,
           dnum * 1.0 / (n_s * 1.0 * (n_total - n_s)) >
             {_KS_C_ALPHA} * SQRT(n_total / (n_s * 1.0 * (n_total - n_s)))
             AS drift
    FROM nums
    """,
)
def source_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution-drift monitor: the EXACT two-sample
    Kolmogorov-Smirnov statistic of each source's doc-length-in-words
    distribution against the pooled rest of the corpus, with the
    alpha=0.01 rejection bound — the upstream-shift alarm a continuous
    ingestion pipeline runs before a new crawl snapshot is allowed into
    the training mix.  One source (src7) is deterministically planted
    with doubled documents so the drift flag is non-vacuous: it MUST
    fire there and MUST NOT fire everywhere.

    Exactness: with an integer metric the KS supremum is attained at a
    support point, so D = max_v |cum_s(v)*n_rest - cum_rest(v)*n_s| /
    (n_s*n_rest) is computed in pure int64 until one final division —
    bit-identical cross-engine (exact while n_s*n_rest < 2^63; at
    larger-than-that corpora, bucket the metric and normalize per
    partial, or sample per source — the statistic is distribution-level
    so per-source reservoir samples of ~1e6 preserve it to +-1e-3).

    Scale shape: one corpus-wide groupBy(source, metric) with map-side
    partial aggregation is the ONLY full-data shuffle; everything after
    runs on the (sources x distinct-metric-values) grid — bounded by
    #sources * max_doc_words, far below executor memory even at 1e4
    sources.  The pooled ECDF is recovered as SUM(cum_s) OVER
    (PARTITION BY v) on the complete grid, avoiding any
    single-partition global window; the 1-row corpus total enters via a
    bounded broadcast nested-loop cross join.
    """
    d = load(spark, sf_dir, "documents").select("source", "text")
    # F.concat (NULL-propagating), NOT concat_ws (NULL-swallowing): the
    # oracle's `text || ' ' || text` propagates NULL, and the two sides
    # must diverge on no input, ever
    corpus = d.withColumn(
        "text",
        F.when(
            F.col("source") == "src7",
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    # a NULL text has no length: it is no sample of its source's
    # distribution, and counted in n_s it would cap the source's ECDF below 1
    vals = corpus.filter(F.col("text").isNotNull()).select(
        "source", F.size(words_col()).cast("bigint").alias("v")
    )
    out = ks_drift(vals).localCheckpoint(
        eager=True
    )  # #sources rows; gate + result reuse
    flags = {r["source"]: r["drift"] for r in out.collect()}
    if not flags.get("src7", False) or all(flags.values()):
        raise AssertionError(
            "KS drift gate failed: the planted doubled-length source must "
            f"drift and at least one source must not (flags={flags})"
        )
    return out


def ks_drift(vals: DataFrame, c_alpha: float = _KS_C_ALPHA) -> DataFrame:
    """Exact two-sample KS of each ``source`` group's integer metric ``v``
    against the pooled rest; returns (source, n_docs, ks_d, drift).  Core
    of source_drift_ks — see that docstring for the exactness and scale
    arguments."""
    counts = vals.groupBy("source", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    srcs = counts.groupBy("source").agg(F.sum("c").alias("n_s"))
    gv = counts.select("v").distinct()
    grid = (
        srcs.crossJoin(gv)
        .join(counts, ["source", "v"], "left")
        .select(
            "source", "n_s", "v", F.coalesce("c", F.lit(0)).alias("c0")
        )
    )
    from pyspark.sql import Window

    w_src = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cums = grid.withColumn("cum_s", F.sum("c0").over(w_src).cast("bigint"))
    gcum = cums.withColumn(
        "cum_g",
        F.sum("cum_s").over(Window.partitionBy("v")).cast("bigint"),
    )
    tot = vals.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    dnum = F.abs(
        F.col("cum_s") * (F.col("n_total") - F.col("n_s"))
        - (F.col("cum_g") - F.col("cum_s")) * F.col("n_s")
    )
    nums = (
        gcum.crossJoin(tot)
        .select("source", "n_s", "n_total", dnum.alias("dnum"))
        .groupBy("source", "n_s")
        .agg(F.max("dnum").alias("dnum"), F.max("n_total").alias("n_total"))
    )
    denom = F.col("n_s") * 1.0 * (F.col("n_total") - F.col("n_s"))
    d_stat = F.col("dnum") * 1.0 / denom
    crit = c_alpha * F.sqrt(F.col("n_total") / denom)
    return nums.select(
        "source",
        F.col("n_s").alias("n_docs"),
        F.round(d_stat, 6).alias("ks_d"),
        (d_stat > crit).alias("drift"),
    )


# ------------------------------------------- boilerplate template detection
_BOILER_PREFIX = "thank you for contacting support . "
_BOILER_MIN = 3


@register(
    "doc_boilerplate_prefix",
    f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN '{_BOILER_PREFIX}' || text
                  ELSE text END AS text
      FROM documents
    ),
    pre AS (
      SELECT doc_id,
             LOWER(ARRAY_TO_STRING(
               (LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != ''))[1:3],
               ' ')) AS prefix
      FROM corpus
    )
    SELECT doc_id, prefix,
           CAST(COUNT(*) OVER (PARTITION BY prefix) AS BIGINT)
             AS prefix_count,
           prefix IS NOT NULL
             AND COUNT(*) OVER (PARTITION BY prefix) >= {_BOILER_MIN}
             AS is_boilerplate
    FROM pre
    """,
)
def doc_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection by opening-prefix heavy hitters:
    documents whose normalized first-3-word prefix repeats _BOILER_MIN (3)
    or more times across the corpus are flagged as template instances — the cheap
    first pass that catches form letters, auto-replies, and scraped
    listing pages before any n-gram dedup runs.  A fixed support-reply
    opening is planted on doc_id % 13 == 0 so a large template cluster
    provably exists alongside the fixture's natural 2-4x repeats.

    Scale shape: the prefix is a narrow JVM expression (split -> slice ->
    lower), and the cluster size comes from ONE window COUNT over the
    prefix key — a single hash-partitioned exchange, no groupBy +
    join-back second shuffle (the r6s2 hot-block lesson).  Prefix
    cardinality is ~corpus-sized in the worst case but each partition
    group is tiny; no driver-side state.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.lit(_BOILER_PREFIX), F.col("text")),
        ).otherwise(F.col("text")),
    )
    out = boilerplate_prefixes(corpus).localCheckpoint(
        eager=True
    )  # corpus-sized but one job feeds both the gate and the result
    planted_prefix = " ".join(_BOILER_PREFIX.split()[:3])
    gate = out.agg(
        F.sum(F.when(F.col("prefix") == planted_prefix, 1).otherwise(0))
          .alias("planted"),
        F.sum(F.when(~F.col("is_boilerplate"), 1).otherwise(0))
          .alias("clean"),
    ).collect()[0]
    if gate["planted"] < _BOILER_MIN or gate["clean"] == 0:
        raise AssertionError(
            "boilerplate gate failed: planted template cluster "
            f"{gate['planted']} < {_BOILER_MIN} or zero clean docs"
        )
    return out


def boilerplate_prefixes(
    corpus: DataFrame, k: int = 3, min_count: int = _BOILER_MIN
) -> DataFrame:
    """Flag docs whose normalized first-k-word prefix repeats >= min_count
    times — core of doc_boilerplate_prefix; one window COUNT over the
    prefix key, no second shuffle.  A NULL-text doc has a NULL prefix and
    is never flagged: NULL texts share no template."""
    # NULL-text guard (ADVICE r6): concat_ws returns '' for a NULL word
    # array while the DuckDB oracle's ARRAY_TO_STRING yields NULL — on a
    # corpus with NULL texts the engines would diverge on exactly those
    # rows.  Emit NULL explicitly so both sides agree; on the shipped
    # fixtures (no NULL texts) this is provably a no-op (hash-identical,
    # re-verified at sf0.001/sf0.01).
    words = words_col()
    prefix = F.when(
        words.isNull(), F.lit(None).cast("string")
    ).otherwise(F.lower(F.concat_ws(" ", F.slice(words, 1, k))))
    from pyspark.sql import Window

    cnt = F.count(F.lit(1)).over(Window.partitionBy("prefix"))
    return corpus.select("doc_id", prefix.alias("prefix")).select(
        "doc_id",
        "prefix",
        cnt.cast("bigint").alias("prefix_count"),
        (F.col("prefix").isNotNull() & (cnt >= min_count)).alias(
            "is_boilerplate"
        ),
    )


# ------------------------------------------- cross-source contamination map
_OVL_W = 5          # word n-gram width
_OVL_CAP = 8        # drop grams present in >= this many sources
_OVL_PLANT = "subscribe to our newsletter today now"


@register(
    "source_overlap_matrix",
    f"""
    WITH corpus AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 6 = 0 THEN text || ' {_OVL_PLANT}'
                  ELSE text END AS text
      FROM documents
    ),
    toks AS (
      SELECT source, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '') AS w
      FROM corpus
    ),
    grams AS (
      SELECT DISTINCT source, ARRAY_TO_STRING(w[s:s + {_OVL_W} - 1], ' ') AS g
      FROM (SELECT source, w,
                   UNNEST(RANGE(1, LEN(w) - {_OVL_W} + 2)) AS s
            FROM toks WHERE LEN(w) >= {_OVL_W})
    ),
    spread AS (
      SELECT source, g, COUNT(*) OVER (PARTITION BY g) AS nsrc FROM grams
    ),
    kept AS (SELECT source, g FROM spread WHERE nsrc < {_OVL_CAP}),
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS ng FROM kept GROUP BY source
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM kept a JOIN kept b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT p.src_a, p.src_b, p.shared,
           ROUND(p.shared * 1.0 / (sa.ng + sb.ng - p.shared), 6) AS jacc
    FROM pairs p
    JOIN sizes sa ON sa.source = p.src_a
    JOIN sizes sb ON sb.source = p.src_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, the
    number of shared distinct word-5-grams (_OVL_W) and the Jaccard
    overlap of their gram sets — the audit a corpus curator runs to find
    crawl snapshots that secretly mirror each other (or a vendor feed
    that re-sells another's data) before weighting sources independently
    in the training mix.  Grams present in _OVL_CAP (8) or more sources
    are dropped first: universal boilerplate carries no pairwise signal
    and is exactly the hot key that would quadratically blow up the
    self-join.  A universal footer planted on doc_id % 6 == 0 lands in
    all sources and MUST be removed by that cap (gated below).

    Scale shape: distinct (source, gram) via one groupBy with map-side
    combine; the source spread is ONE window COUNT over the gram key
    (single exchange); the pair join is an equi-join on gram whose
    per-key fan-out the cap bounds at cap^2 — no broadcast hints
    anywhere (corpus-sized frames; AQE may still broadcast the final
    k-source `sizes` side).  At 100 TB the gram string would be
    xxhash64-ed to an 8-byte key before the shuffle; the fixture keeps
    raw strings so the DuckDB oracle joins on identical keys.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(F.col("text"), F.lit(" " + _OVL_PLANT)),
        ).otherwise(F.col("text")),
    )
    spread = _gram_spread(corpus, _OVL_W).localCheckpoint(
        eager=True
    )  # gram-scale; cap gate + pair join reuse
    # grams are xxhash64 keys now (r7, see _ngram_rows): compare against
    # the planted gram's hash, computed by the same JVM function in-plan
    planted = (
        spread.where(
            F.col("g")
            == F.xxhash64(F.lit(_OVL_PLANT[: _OVL_PLANT.rfind(" ")]))
        )
        .agg(F.max("nsrc").alias("m"))
        .collect()[0]["m"]
    )
    # Gate derived from the DATA, not the fixture layout (ADVICE r6): the
    # plant is appended to every doc_id % 6 == 0 row, so the planted
    # 5-gram's source spread must equal the number of distinct sources
    # holding such a doc — computed here from the same corpus frame
    # (column-pruned scan, one tiny aggregate).  The old gate hard-coded
    # `planted >= 8`, which encoded the current fixture's doc_id-to-
    # source layout and would abort the whole bench on a reshaped
    # fixture; this form still proves the spread count is exact and (when
    # the spread reaches _OVL_CAP, as on every shipped fixture) that the
    # cap has a real universal gram to fire on.  A NULL text stays NULL
    # after the plant (concat propagates NULL), so only non-NULL planted
    # docs can carry the gram.
    expected = corpus.where(
        (F.col("doc_id") % 6 == 0) & F.col("text").isNotNull()
    ).agg(
        F.count_distinct("source").alias("n")
    ).collect()[0]["n"]
    if (planted or 0) != expected:
        raise AssertionError(
            "overlap-cap gate failed: planted universal gram spread "
            f"{planted} != {expected} sources holding a non-NULL "
            "doc_id%6==0 doc"
        )
    return overlap_matrix_from_spread(spread, _OVL_CAP)


def _gram_spread(corpus: DataFrame, w: int) -> DataFrame:
    """Distinct (source, word-w-gram) rows annotated with ``nsrc`` = how
    many sources carry the gram (one window COUNT over the gram key).
    The n-gram expansion is the dedup tier's shared helper, keyed by
    source instead of doc_id — one implementation to keep correct."""
    from pyspark.sql import Window

    from moira_spark.harness.dedup import _ngram_rows

    grams = _ngram_rows(corpus, w, out="g", key="source", hashed=True)
    return grams.withColumn(
        "nsrc", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )


def overlap_matrix(corpus: DataFrame, w: int, cap: int) -> DataFrame:
    """Pairwise source contamination matrix over (source, text) rows —
    core of source_overlap_matrix; see that docstring for the scale
    argument."""
    return overlap_matrix_from_spread(_gram_spread(corpus, w), cap)


def overlap_matrix_from_spread(spread: DataFrame, cap: int) -> DataFrame:
    kept = spread.where(F.col("nsrc") < cap).select("source", "g")
    sizes = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng")
    )
    a = kept.alias("a")
    b = kept.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("ng").alias("ng_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("ng").alias("ng_b")
    )
    return (
        pairs.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "shared",
            F.round(
                F.col("shared")
                * 1.0
                / (F.col("ng_a") + F.col("ng_b") - F.col("shared")),
                6,
            ).alias("jacc"),
        )
    )
