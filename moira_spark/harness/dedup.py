"""Deduplication operators (task-brief tier): exact, n-gram Jaccard,
MinHash+LSH, SimHash.

The driver's ``documents`` table has no natural duplicates (random seeded
text), so the exact/Jaccard queries plant deterministic duplicates inline —
identically on both engines — and then find them.  MinHash and SimHash are
genuinely non-SQL (banded hashing), so they are rows-only checks, but they
use the same planted corpus so their outputs are non-trivially verifiable.

Scale notes: every pattern here is the shuffle-friendly formulation —
shingle explode + equi-join (never an O(n^2) cross join), banded LSH
bucketing, bitwise SimHash block join.  These survive 100 TB because
candidate generation is an equi-join on a key with controlled fan-out.
"""

from __future__ import annotations

import os
import shutil
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from moira_spark.harness import load, register, words_col

_PLANT_EXACT_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 37 = 0
"""

_PLANT_NEAR_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || ' extra trailing token'
      FROM documents WHERE doc_id % 50 = 0
"""


def _planted_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = (
        d.filter(F.col("doc_id") % 37 == 0)
        .select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    )
    return d.unionAll(dup)


def _planted_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra trailing token")).alias("text"),
        )
    )
    return d.unionAll(dup)


def cap_hot_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    At web scale a handful of boilerplate shingles ("all rights reserved...")
    appear in a large fraction of documents; joining on them produces
    quadratic fan-out in the candidate join.  Capping document frequency
    bounds per-key fan-out at max_df^2 candidate pairs.

    Shape (r7.3): the filter materializes the HOT list (df > max_df) —
    small by construction, hot shingles ARE the boilerplate pathology —
    once, eagerly, and every consumer branch drops it via a broadcast
    anti-join (guide §2.5: special-case the hot keys).  The r1-r7.2 form
    semi-joined against the KEPT set instead, which is the whole distinct
    gram vocabulary: un-broadcastable, so each of the capped query's
    three shingle branches re-ran the df aggregation AND shuffled the
    full gram stream for its semi-join.  Results identical (kept ==
    not hot); sf0.1 best 3.0 -> 2.7 s, and at scale the cap's per-branch
    cost drops from a gram-stream shuffle to a map-side bitmap probe.
    Off by default (keeps the driver-checked defaults hash-stable);
    A/B'd in BENCH/BASELINE.md.
    """
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
        .localCheckpoint(eager=True)
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


# ------------------------------------------------------------- exact dedup
@register(
    "dedup_exact",
    f"""
    SELECT MD5(text) AS fingerprint,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_id
    FROM ({_PLANT_EXACT_SQL})
    GROUP BY MD5(text)
    HAVING COUNT(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-groupBy exact dedup; canonical row = min doc_id per fingerprint."""
    corpus = _planted_exact(spark, sf_dir)
    return (
        corpus.groupBy(F.md5("text").alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ----------------------------------------------------- n-gram Jaccard dedup
def _jaccard_ctes_sql(corpus_sql: str, max_df: int | None = None) -> str:
    """Oracle-side CTE block: word-3-gram shingles -> (optional df cap) ->
    pairwise Jaccard >= 0.5.  One builder for every Jaccard oracle so the
    capped and uncapped variants can never diverge in shingling rules."""
    if max_df is None:
        sh_final = "sh"
        cap_ctes = ""
    else:
        sh_final = "shc"
        cap_ctes = f""",
    kept_sh AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {max_df}
    ),
    shc AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN kept_sh USING (shingle)
    )"""
    return f"""corpus AS ({corpus_sql}),
    toks AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '') AS w
      FROM corpus
    ),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM toks WHERE LEN(w) >= 3
      )
    ){cap_ctes},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM {sh_final} GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM {sh_final} a
      JOIN {sh_final} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b,
             ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
    )"""


# CTE block shared by the pair query's oracle and the cluster query's
# recursive-CTE oracle (which extends it with a transitive closure).
_JACCARD_PAIR_CTES = _jaccard_ctes_sql(_PLANT_NEAR_SQL)


def _gram_starts(w: Column, n: int) -> Column:
    """1-based start positions of the word n-grams of the token array
    ``w`` — the one gram-start expression every n-gram builder here uses.
    Empty below n words, and guarded through slice() so any gram built
    over it is TOTAL: codegen subexpression elimination can evaluate a
    generator's inferred size()>0 predicate before a caller's
    size(w) >= n filter short-circuits, so element_at must never be able
    to go out of range under ANSI mode (r7 lesson)."""
    last = F.size(w) - (n - 1)
    return F.slice(
        F.sequence(F.lit(1), F.greatest(last, F.lit(1))),
        1,
        F.greatest(last, F.lit(0)),
    )


def _gram_strings(w: Column, n: int) -> Column:
    """The word n-grams of the token array ``w``, space-joined, in order."""
    return F.transform(
        _gram_starts(w, n),
        lambda i: F.concat_ws(" ", *[F.element_at(w, i + k) for k in range(n)]),
    )


def _ngram_rows(
    corpus: DataFrame,
    n: int,
    out: str = "shingle",
    key: str = "doc_id",
    dedup: bool = True,
    hashed: bool = False,
) -> DataFrame:
    """(<key>, <out>) distinct word-n-gram rows.  All-JVM:
    split/filter/transform/explode, no Python.  Rows shorter than n words
    contribute no grams (total — see _gram_starts).  ``dedup=False`` skips
    the distinct for callers that dedupe later in the plan (after a
    selective filter, so the exchange carries hits instead of the whole
    gram stream).

    ``hashed=True`` (r7) replaces the gram STRING with its xxhash64 — the
    scale form the r6 docstrings promised ("at 100 TB the gram string
    would be xxhash64-ed to an 8-byte key before the shuffle").  Every
    caller that opts in uses the gram purely as a join/group key, never as
    output, so the only behavioral risk is a 64-bit birthday collision
    (~1e-6 at 10^7 grams, and scripts/audit_hash_collisions.py verifies
    ZERO collisions for the deterministic fixtures at sf0.001-sf1.0, so
    results are provably identical at every shipped scale)."""
    toks = corpus.select(key, words_col().alias("w")).filter(F.size("w") >= n)
    rows = toks.select(key, F.explode(_gram_strings(F.col("w"), n)).alias(out))
    if hashed:
        rows = rows.select(key, F.xxhash64(F.col(out)).alias(out))
    return rows.distinct() if dedup else rows


def _shingle_rows(corpus: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct word-3-gram rows — the Spark twin of the
    ``sh`` CTE above, with the shingle xxhash64-ed to an 8-byte join key
    (r7; consumers group/join on it only — collision audit in
    scripts/audit_hash_collisions.py).

    Shape note (r7 A/B at sf1.0): this is deliberately the r6 structure —
    explode -> hash -> global distinct -> self-join with the inequality
    inside the join condition — because the "smarter" variants measured
    2-10x SLOWER end-to-end: per-doc array_distinct + carrying the set
    size on every row removed two exchanges and two join-backs on paper,
    but the un-exchanged join input made the planner broadcast one side
    (probe wall 373s vs 36s), and the extra max(sz) buffers tripled the
    ~10^8-group pair aggregation's cost (81s vs 30s).  The distinct
    exchange both bounds the join input AND feeds an exchange-reused,
    well-partitioned sort-merge self-join."""
    return _ngram_rows(corpus, 3, hashed=True)


def _jaccard_pairs_from(sh: DataFrame, threshold: float = 0.5) -> DataFrame:
    """(doc_a, doc_b, jaccard) pairs with Jaccard >= threshold from shingle
    rows, via the shuffle-friendly shingle equi-join (never O(n^2)).

    The aggregate-sizes-then-join-back structure is deliberate: an r7 A/B
    at sf1.0 measured the "carry the set size on every shingle row and
    max() it through the pair groupBy" variant at 2.4x SLOWER (the extra
    agg buffers triple the cost of the ~10^8-group pair aggregation, which
    dwarfs the two size join-backs it saves — see _shingle_rows)."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("i").cast("double") / (
        F.col("sa.sz") + F.col("sb.sz") - F.col("i")
    ).cast("double")
    # NO broadcast hint on `sizes`: it has one row per document (corpus
    # cardinality), so at web scale it cannot fit a broadcast.  Plain
    # equi-joins shuffle fine, and AQE still broadcasts when it IS small.
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "dedup_jaccard_3gram",
    f"""
    WITH {_JACCARD_PAIR_CTES}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def dedup_jaccard_3gram(
    spark: SparkSession, sf_dir: str, max_shingle_df: int | None = None
) -> DataFrame:
    """Near-dup detection via word-3-gram shingles + shingle equi-join.

    Shuffle-friendly: candidates come from joining on the shingle value, so
    cost scales with shared-shingle pairs, not with n^2.  ``max_shingle_df``
    (off by default) additionally drops boilerplate shingles shared by more
    than that many docs — the fan-out cap needed at real web scale.  NOTE:
    capping changes intersection counts, so it is an approximation switch,
    not a pure optimization; the oracle-checked default keeps it off.
    """
    corpus = _planted_near(spark, sf_dir)
    # sh feeds both join sides; deliberately NOT persisted — caching the
    # exploded shingle rows measured SLOWER (3.2s vs 2.3s at sf0.1) than
    # recomputing the all-JVM explode from the column-pruned scan.  Persist
    # pays off only when the branch subtree crosses into Python (see the
    # sketch queries below).
    sh = _shingle_rows(corpus)
    if max_shingle_df is not None:
        sh = cap_hot_shingles(sh, max_shingle_df)
    return _jaccard_pairs_from(sh)


# --------------------------------------- capped n-gram Jaccard (boilerplate)
_CAP_MAX_DF = 20

# Boilerplate plant: half the corpus shares a 6-word legal footer whose four
# interior shingles have document frequency ~|corpus|/2 — the exact fan-out
# bomb cap_hot_shingles exists for.  Near-dup plants derive from the
# boilerplated text so capped Jaccard still finds them.
_PLANT_BOILER_SQL = """
      SELECT doc_id, text FROM boiler
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || ' extra trailing token'
      FROM boiler WHERE doc_id % 50 = 0
"""


@register(
    "dedup_jaccard_capped",
    f"""
    WITH boiler AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN text || ' legal notice all rights reserved worldwide'
                  ELSE text END AS text
      FROM documents
    ),
    {_jaccard_ctes_sql(_PLANT_BOILER_SQL, max_df=_CAP_MAX_DF)}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def dedup_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-shingle document-frequency cap — the switch the 100 TB near
    -dedup path REQUIRES — exercised and oracle-verified.

    The corpus plants the web-scale pathology: a 6-word boilerplate footer
    ("all rights reserved...") appended to every even doc_id, whose interior
    shingles are shared by ~half the corpus.  Uncapped, the candidate
    equi-join fans out quadratically on those keys (|corpus|^2/4 pairs from
    four shingles); with ``max_shingle_df=_CAP_MAX_DF (20)`` they are dropped
    before the join and cost nothing.  The DuckDB oracle applies the
    IDENTICAL df cutoff (HAVING COUNT(*) <= 20 = _CAP_MAX_DF), so the
    approximation the cap introduces — Jaccard computed over capped shingle
    sets on both sides — is itself hash-checked, not just benchmarked.
    Round 3 shipped the cap off-by-default and only A/B'd its speed; this
    query is the correctness row the scale default was missing.

    Plan note: the capped shingle frame feeds four branches and the
    pre-execution plan shows the subtree re-expanded (32 pruned 2-column
    scans).  Persisting it was A/B'd at sf0.1/local[32]: 2.0-2.5 s
    unpersisted vs 4.8-8.5 s persisted — same result as the uncapped query
    (round 3): caching the exploded rows costs more than recomputing the
    all-JVM explode, and AQE reuses the post-explode exchanges at runtime.
    At 100 TB the staging-table equivalent applies: write capped shingles
    once, scan thrice.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    boiler = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.col("text"),
                F.lit(" legal notice all rights reserved worldwide"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    corpus = boiler.unionAll(
        boiler.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra trailing token")).alias(
                "text"
            ),
        )
    )
    sh = cap_hot_shingles(_shingle_rows(corpus), _CAP_MAX_DF)
    return _jaccard_pairs_from(sh)


# ------------------------------------------------- containment (doc-in-doc)
def containment_flags(corpus: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Reusable containment-dedup operator: (doc_id, text) corpus ->
    (doc_id, n_containers, is_contained), one row per input doc.

    Keep-the-superset rule, totally ordered: doc A is contained iff some B
    with |S_A n S_B| / |S_A| >= threshold (word-3-gram shingle sets) has a
    strictly larger shingle set, or an equal-size set and a smaller doc_id
    (so exact twins resolve min-id-wins, same convention as dedup_exact).
    Docs with fewer than 3 words have empty shingle sets and are never
    contained nor containers.  Edge cases pinned by
    tests/test_corpus_ops.py.

    Scale shape: identical candidate generation to the Jaccard tier —
    shingle equi-join, cost scaling with shared-shingle pairs, never n^2 —
    and cap_hot_shingles composes unchanged when the corpus is web-scale
    (the cap drops boilerplate shingles, which only LOWERS measured
    containment of wrapper-heavy docs; an approximation switch exactly as
    in dedup_jaccard_capped)."""
    # Shape note: sizes-aggregate-then-join-back on the (hashed) shingle
    # rows — the same deliberate structure as _jaccard_pairs_from; the
    # carried-size variant A/B'd 2x slower at sf1.0 (see _shingle_rows).
    sh = _shingle_rows(corpus)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    # Candidate join on ONE direction only (doc_id <), then expand each
    # aggregated pair into both orderings (r7.2).  |shared shingles| is
    # symmetric, so the a != b join computed every intersection twice —
    # doubling the candidate rows through the exchange AND the pair-group
    # count of the dominant aggregation (guide §2.3: shuffle fewer bytes,
    # aggregate before you shuffle).  The 2-way explode happens on the
    # post-aggregation pair rows, which are orders of magnitude fewer
    # than the candidate rows.  Measured at 10x scale: 28.4s -> 18.7s
    # best-of-2, sf0.1 flat (see OPTIMIZATION_r07.md), identical output.
    inter_half = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("lo"), F.col("b.doc_id").alias("hi")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    inter = inter_half.select(
        F.explode(
            F.array(
                F.struct(F.col("lo").alias("x"), F.col("hi").alias("y")),
                F.struct(F.col("hi").alias("x"), F.col("lo").alias("y")),
            )
        ).alias("p"),
        "i",
    ).select(
        F.col("p.x").alias("doc_a"), F.col("p.y").alias("doc_b"), "i"
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    containment = F.col("i").cast("double") / F.col("sa.sz").cast("double")
    # per-doc `sizes` is corpus-sized: never hint it broadcast (see
    # _jaccard_pairs_from) — AQE promotes the join when it is small.
    contained = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(
            (containment >= threshold)
            & (
                (F.col("sb.sz") > F.col("sa.sz"))
                | (
                    (F.col("sb.sz") == F.col("sa.sz"))
                    & (F.col("doc_b") < F.col("doc_a"))
                )
            )
        )
        .groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_containers"))
    )
    return corpus.select("doc_id").join(contained, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_containers", F.lit(0)).alias("n_containers"),
        F.col("n_containers").isNotNull().alias("is_contained"),
    )


# Boilerplate-wrap plant: a header+footer wrapped copy of every 47th doc.
# The wrapped copy's Jaccard vs its source is well BELOW 0.5 (the wrapper
# shingles dilute the union), so near-dedup misses the pair by design —
# containment is the operator that catches it.
_PLANT_WRAP_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 4000000 AS doc_id,
             'standard header boilerplate notice begins here ' || text ||
             ' standard footer boilerplate notice ends here continues onward'
      FROM documents WHERE doc_id % 47 = 0
"""


@register(
    "dedup_containment",
    f"""
    WITH corpus AS ({_PLANT_WRAP_SQL}),
    toks AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '') AS w
      FROM corpus
    ),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM toks WHERE LEN(w) >= 3
      )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    contained AS (
      SELECT doc_a AS doc_id, COUNT(*) AS n_containers
      FROM inter
      JOIN sizes sa ON inter.doc_a = sa.doc_id
      JOIN sizes sb ON inter.doc_b = sb.doc_id
      WHERE i * 1.0 / sa.sz >= 0.9
        AND (sb.sz > sa.sz OR (sb.sz = sa.sz AND doc_b < doc_a))
      GROUP BY doc_a
    )
    SELECT c.doc_id,
           COALESCE(k.n_containers, 0) AS n_containers,
           (k.n_containers IS NOT NULL) AS is_contained
    FROM corpus c LEFT JOIN contained k ON c.doc_id = k.doc_id
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup (doc-in-doc): flag a document whose word-3-gram
    shingle set is >= 90% covered by another document's — the
    boilerplate-wrap / quoted-reply / template-page case a 100 TB crawl is
    full of and symmetric Jaccard misses (the wrapper dilutes the union
    below the 0.5 bar; containment normalizes by the CONTAINED side only).

    Thin fixture wrapper over ``containment_flags`` (the reusable
    operator; keep-the-superset semantics + scale notes there, edge cases
    pinned by tests/test_corpus_ops.py).  Emits (doc_id, n_containers,
    is_contained) per doc — value-checked against the DuckDB oracle,
    wrapped plants included.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionAll(
        d.filter(F.col("doc_id") % 47 == 0).select(
            (F.col("doc_id") + 4000000).alias("doc_id"),
            F.concat(
                F.lit("standard header boilerplate notice begins here "),
                F.col("text"),
                F.lit(
                    " standard footer boilerplate notice ends here"
                    " continues onward"
                ),
            ).alias("text"),
        )
    )
    return containment_flags(corpus)


# --------------------------------------------- eval-set decontamination
# A training pipeline must drop (or at least flag) documents that leak the
# eval/benchmark set: the standard check is word-n-gram overlap (GPT-3
# used 13-grams, Llama/GPT-4 report 8-10; 8 here).  The harness "eval set"
# is a deterministic slice of the corpus itself (doc_id % 53 = 0), so every
# eval member is a planted self-overlap positive and any OTHER doc sharing
# a verbatim 8-gram is a genuine leak both engines must agree on.
_DECON_N = 8


def decontaminate_flags(
    corpus: DataFrame, eval_df: DataFrame, n: int = _DECON_N
) -> DataFrame:
    """Reusable decontamination operator: (doc_id, text) corpus + eval set
    (any frame with a text column) -> (doc_id, n_hit_ngrams, contaminated),
    one row per corpus doc.  ``n_hit_ngrams`` counts the doc's DISTINCT
    word-n-grams that appear anywhere in the eval set, so downstream
    policy can threshold (flag vs drop vs span-redact) without
    recomputing.  Docs or eval items shorter than n words contribute no
    grams.  Edge cases pinned by tests/test_corpus_ops.py.

    Scale shape — the asymmetry is the point: the corpus side is 10^12
    docs but the eval set is benchmarks (MBs), so the eval grams are
    DISTINCT-ed and explicitly broadcast — the corpus-side n-gram explode
    streams through a broadcast hash join with ZERO shuffle of corpus
    grams; the only shuffle is the per-doc hit count (partial map-side
    agg).  Never a gram-vs-gram shuffle join: decontamination at scale is
    a broadcast filter, not a self-join."""
    if "doc_id" not in eval_df.columns:
        eval_df = eval_df.select(
            F.monotonically_increasing_id().alias("doc_id"), "text"
        )
    # r7: distinct AFTER the broadcast filter, not before.  The corpus-gram
    # distinct was the dominant cost (a corpus-token-scale shuffle of long
    # gram strings) and is algebraically movable: ge is a set, so an
    # equi-join preserves row multiplicity and
    # distinct(gc) |><| ge == distinct(gc |><| ge).  Post-join, only the
    # HIT grams (rare by construction at every scale) reach the exchange —
    # the corpus side now streams map-side through the broadcast hash join
    # with zero corpus-gram shuffle (guide §2.3: shuffle fewer bytes).
    gc = _ngram_rows(corpus, n, out="gram", dedup=False, hashed=True)
    ge = (
        _ngram_rows(eval_df, n, out="gram", hashed=True)
        .select("gram")
        .distinct()
    )
    hits = (
        gc.join(F.broadcast(ge), "gram")
        .select("doc_id", "gram")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))
    )
    return corpus.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hit_ngrams", F.lit(0)).alias("n_hit_ngrams"),
        F.col("n_hit_ngrams").isNotNull().alias("contaminated"),
    )


@register(
    "doc_decontaminate",
    f"""
    WITH evalset AS (
      SELECT text FROM documents WHERE doc_id % 53 = 0
    ),
    tokc AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '') AS w
      FROM documents
    ),
    gc AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w) - {_DECON_N - 2}),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                           w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' ||
                           w[i+6] || ' ' || w[i+7])) AS gram
        FROM tokc WHERE LEN(w) >= {_DECON_N}
      )
    ),
    toke AS (
      SELECT LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '') AS w
      FROM evalset
    ),
    ge AS (
      SELECT DISTINCT gram FROM (
        SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w) - {_DECON_N - 2}),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                           w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' ||
                           w[i+6] || ' ' || w[i+7])) AS gram
        FROM toke WHERE LEN(w) >= {_DECON_N}
      )
    ),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_hit_ngrams
      FROM gc JOIN ge USING (gram)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(h.n_hit_ngrams, 0) AS n_hit_ngrams,
           (h.n_hit_ngrams IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag every training document sharing at
    least one verbatim word-8-gram with the eval set (the train/test-leak
    check GPT-3-lineage pipelines run before training; 8 is the
    Llama/GPT-4-reported width).  Thin fixture wrapper over
    ``decontaminate_flags`` (the reusable operator; broadcast-side scale
    notes there, edge cases pinned by tests/test_corpus_ops.py) with the
    harness eval set = the doc_id % 53 = 0 slice of the corpus itself.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    ev = d.filter(F.col("doc_id") % 53 == 0)
    return decontaminate_flags(d, ev)


# ------------------------------------------------------------ MinHash + LSH
_MINHASH_K = 64
_LSH_BANDS = 16  # 16 bands x 4 rows
# Mersenne-31: keeps a*h + b < 2^63 so ANSI-mode long math cannot overflow.
_MERSENNE = (1 << 31) - 1


@register("dedup_minhash_lsh", None)  # banded hashing: rows-only check
def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, max_shingle_df: int | None = None
) -> DataFrame:
    """MinHash signatures + banded LSH candidate generation + exact verify.

    ZERO-SHUFFLE signatures: shingles and their xxhash64 values stay as
    per-row arrays (JVM exprs), the k=64 minhashes come from one vectorized
    Arrow hop (kernels/sketch.py), and bands are JVM xxhash64 over signature
    elements.  The only shuffles left are the tiny (doc_id, band, sig)
    candidate join and the doc_id joins for exact verify — the previous
    formulation shuffled the entire exploded shingle stream through a
    64-column groupBy, which at 10^12 turns IS the bottleneck (signature
    values are unchanged: same seed, same affine mod-Mersenne maps, pinned
    in tests/test_kernels.py).
    ``max_shingle_df`` optionally drops boilerplate shingles first (see
    cap_hot_shingles; this path costs the explode/agg shuffles the default
    path avoids); off by default for hash-stable driver checks.
    """
    corpus = _planted_near(spark, sf_dir)
    # r7: the shingle STRINGS never leave the row — the persisted frame and
    # the exact-verify joins carry the xxhash64 array instead (~12x fewer
    # bytes per doc through the cache and the two verify shuffles;
    # array_intersect/union sizes are identical because xxhash64 is
    # injective on the fixture gram sets — scripts/audit_hash_collisions.py).
    # The Mersenne reduction for the minhash kernel applies on top, as
    # before (pmod(xxhash64(x), M) unchanged).
    docs = _with_shingle_set(corpus).select(
        "doc_id", _hashed(F.col("s")).alias("s")
    )
    if max_shingle_df is not None:
        sh = docs.select("doc_id", F.explode("s").alias("shingle"))
        sh = cap_hot_shingles(sh, max_shingle_df)
        docs = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("s"))
    # The signature frame feeds three plan branches (both sides of the
    # band self-join + exact verify); persist at the branch point or every
    # branch re-runs the UDF and re-scans the corpus (scripts/dump_plans.py
    # shows it: unpersisted, the pre-execution plan has 4 ArrowEvalPython
    # nodes).
    # At production scale the equivalent is write-once to a staging table.
    signed = docs.withColumn("mh", _minhash(F.col("s"))).persist()
    # exact verify on candidates only (shingle sets are per-row arrays —
    # no collect_set groupBy needed); the pair is (earlier, later) id
    return (
        _band_candidates(lsh_band_rows(signed))
        .join(_sets(signed, "new"), "new_id")
        .join(_sets(signed, "old"), "old_id")
        .select(
            F.col("old_id").alias("doc_a"),
            F.col("new_id").alias("doc_b"),
            F.round(_set_jaccard("old_s", "new_s"), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# ------------------------------------------------------------------ SimHash
@register("dedup_simhash", None)  # bitwise blocking: rows-only check
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup candidates via 4x16-bit block match.

    ZERO-SHUFFLE sketches: token xxhash64 values stay a per-row array (JVM
    transform), the 64 sign-sums collapse into one vectorized Arrow hop
    (kernels/sketch.py, bit-identical to the previous 64-conditional-agg
    groupBy — pinned in tests/test_kernels.py); only the (blk, val) block
    equi-join shuffles.  Two docs within Hamming distance 3 must share at
    least one of 4 16-bit blocks (pigeonhole), so candidate generation never
    scans pairs.
    """
    from moira_spark.kernels import sketch

    corpus = _planted_near(spark, sf_dir)
    th = F.transform(words_col(), lambda t: F.xxhash64(t))
    docs = corpus.select("doc_id", th.alias("th")).filter(F.size("th") >= 1)

    @F.pandas_udf("long")
    def simhash_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for hs in batches:
            yield pd.Series(sketch.simhash_batch(hs.tolist()))

    # persist: both sides of the block self-join read this frame; without
    # the cache each side re-runs the UDF and re-scans the corpus
    sim = docs.select(
        "doc_id", simhash_udf(F.col("th")).alias("simhash")
    ).persist()
    blocks = F.array(
        *[
            F.struct(
                F.lit(bi).alias("blk"),
                F.shiftrightunsigned(F.col("simhash"), bi * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("val"),
            )
            for bi in range(4)
        ]
    )
    blocked = sim.select("doc_id", "simhash", F.explode(blocks).alias("b")).select(
        "doc_id", "simhash", F.col("b.blk").alias("blk"), F.col("b.val").alias("val")
    )
    l, r = blocked.alias("l"), blocked.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.simhash").alias("sim_a"),
            F.col("r.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


# ------------------------------------------- embedding-cosine near-dup pairs
_EMB_DUP_THRESHOLD = 0.95

_PLANT_VEC_SQL = """
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding
      FROM embeddings WHERE vec_id % 40 = 0
"""


@register(
    "dedup_embedding_cosine",
    f"""
    WITH corpus AS ({_PLANT_VEC_SQL}),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ROUND(
               LIST_DOT_PRODUCT(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               / (SQRT(LIST_DOT_PRODUCT(a.embedding::DOUBLE[],
                                        a.embedding::DOUBLE[]))
                  * SQRT(LIST_DOT_PRODUCT(b.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]))),
               6) AS cos_sim
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cos_sim FROM pairs
    WHERE cos_sim >= {_EMB_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact all-pairs baseline (SQL-checked
    on planted duplicate vectors).  This is the verification baseline for
    the LSH-bucketed variant below — at 100 TB you never run the O(n^2)
    join; it exists so the bucketed path's recall is measurable."""
    from moira_spark.harness.similarity import _dbl, _dot

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = e.filter(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    corpus = e.unionAll(dup).select("vec_id", _dbl("embedding").alias("v"))
    # Correctness-scale gate: this baseline broadcasts one full side and
    # compares all pairs — by design it must never run on a corpus-sized
    # input (the LSH twin is the scale path).  Refuse loudly rather than
    # OOM an executor at 100x.
    n = corpus.count()
    if n > 200_000:
        raise ValueError(
            f"dedup_embedding_cosine is the O(n^2) verification baseline; "
            f"refusing all-pairs join over {n} vectors — run "
            f"dedup_embedding_lsh for the bucketed scale path"
        )
    # per-row norms precomputed pre-join; dots unrolled (bit-equal — see
    # similarity._dot and embedding_cosine_topk)
    a = corpus.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("na"),
    )
    b = corpus.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nb"),
    )
    # The nested-loop stream side inherits the tiny scan's partitioning
    # (1-2 tasks), serializing the O(n^2) compare onto one core; spread
    # it before the join (r7.3 — ~200k-row shuffle at the gate's cap,
    # nothing at scale because this baseline refuses corpus-sized input).
    a = a.repartition(2 * spark.sparkContext.defaultParallelism)
    cos = _dot(F.col("va"), F.col("vb")) / (
        F.col("na") * F.col("nb")
    )
    # Two-stage threshold (r7.3): the final predicate round(cos,6) >= thr
    # used to be pushed INTO the join condition, so every candidate pair
    # paid Spark's decimal-exact round — BigDecimal.valueOf(
    # Double.toString(cos)) per pair, observed as the whole stage sitting
    # in FloatingDecimal in thread dumps (~420M pairs at the 10x scale).
    # The join now pre-filters on the RAW double with a bound loose by
    # strictly more than half an ulp of the rounding grid (any x with
    # round(x, 6) >= thr satisfies x >= thr - 5e-7 > thr - 1e-6), and the
    # exact round-then-compare runs only on survivors — the SAME result
    # set, with the BigDecimal path off the quadratic loop.
    pairs = a.join(
        F.broadcast(b),
        (F.col("vec_a") < F.col("vec_b"))
        & (cos >= F.lit(_EMB_DUP_THRESHOLD - 1e-6)),
    )
    return (
        pairs.withColumn("cos_sim", F.round(cos, 6))
        .filter(F.col("cos_sim") >= _EMB_DUP_THRESHOLD)
        .select("vec_a", "vec_b", "cos_sim")
    )


@register("dedup_embedding_lsh", None)  # banded hashing: rows-only check
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table sign-LSH — the scale
    path: per-row signatures (one Arrow hop, kernels reused from the ANN
    query), (table, sig) self-equi-join for candidates, exact cosine >=
    threshold verify on candidates only.  Planted exact copies collide in
    every table, so recall on true duplicates is 1.0 by construction; the
    exact query above is the measurable baseline."""
    from moira_spark.harness import similarity as sim
    from moira_spark.harness.similarity import _dbl, _dot

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = e.filter(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    corpus = e.unionAll(dup).select("vec_id", _dbl("embedding").alias("v"))

    bits = sim._lsh_bits(corpus.count())
    sigs_of = sim.make_sign_lsh_udf(spark, sim._hyperplanes(bits))
    signed = corpus.select(
        "vec_id",
        "v",
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nv"),
        sigs_of(F.col("v")).alias("sigs"),
    ).persist()  # both self-join sides read this: one UDF pass
    buckets = signed.select(
        "vec_id", "v", "nv", F.posexplode("sigs").alias("t", "sig")
    )
    l, r = buckets.alias("l"), buckets.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.t") == F.col("r.t"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("vec_a"),
            F.col("r.vec_id").alias("vec_b"),
            F.col("l.v").alias("va"),
            F.col("r.v").alias("vb"),
            F.col("l.nv").alias("na"),
            F.col("r.nv").alias("nb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    # norms ride the bucket rows (computed once per vector in the persisted
    # frame); pair cost is one unrolled dot
    cos = _dot(F.col("va"), F.col("vb")) / (
        F.col("na") * F.col("nb")
    )
    return (
        cand.withColumn("cos_sim", F.round(cos, 6))
        .filter(F.col("cos_sim") >= _EMB_DUP_THRESHOLD)
        .select("vec_a", "vec_b", "cos_sim")
    )


# ------------------------------------------------ semantic (SemDeDup)
_EMB_DIM = 64


def semantic_dedup_flags(
    corpus: DataFrame,
    threshold: float = _EMB_DUP_THRESHOLD,
) -> DataFrame:
    """SemDeDup core over a (vec_id, label, v: array<double>) frame:
    nearest-centroid cluster assignment (centroids = exact fixed-point
    per-label means) followed by an intra-cluster cosine prune at
    ``threshold``.  Returns (vec_id, cluster, is_dup); min-id survives a
    close pair, ties on assignment cosine break to the smaller label.
    See dedup_semantic for the full determinism and scale notes."""
    from moira_spark.harness.similarity import _dot

    # Exact fixed-point centroids: per-dim bigint sums are order-independent,
    # so the mean is bit-identical to DuckDB's regardless of partitioning.
    dims = (
        corpus.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(
            F.sum(F.round(F.col("x") * 100000).cast("bigint")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    cent = (
        dims.select(
            "label",
            "i",
            F.round(
                F.col("s").cast("double") / F.col("n") / 100000, 6
            ).alias("val"),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "val"))),
                lambda s: s["val"],
            ).alias("c")
        )
        .withColumnRenamed("label", "c_label")
    )

    # Norms are computed ONCE per vector / centroid and carried as columns:
    # sqrt(dot(x, x)) is the identical double either way, but evaluating it
    # inside the pair join would run the 64-element fold three times per
    # candidate pair (measured 3x the bench cost at sf0.1).
    normed = corpus.withColumn(
        "nv", F.sqrt(_dot(F.col("v"), F.col("v")))
    )
    cent_n = cent.withColumn(
        "nc", F.sqrt(_dot(F.col("c"), F.col("c")))
    )
    cos_c = F.round(
        _dot(F.col("v"), F.col("c")) / (F.col("nv") * F.col("nc")), 6
    )
    # argmax via max(struct(cos, -label)): max cosine, then min label on
    # ties — one partial-aggregating groupBy, no window fan-out.
    assign = (
        normed.crossJoin(F.broadcast(cent_n))
        .select("vec_id", "c_label", cos_c.alias("cos_cent"))
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cos_cent"), (-F.col("c_label")).alias("neg_label")
                )
            ).alias("m")
        )
        .select("vec_id", (-F.col("m.neg_label")).alias("cluster"))
    )
    clustered = assign.join(normed, "vec_id").select(
        "vec_id", "cluster", "v", "nv"
    )
    return intra_cluster_prune(clustered, threshold)


def spark_round6(x: float) -> float:
    """Spark's ROUND(x, 6) of a double, in Python: Spark rounds the
    decimal string Double.toString(x) HALF_UP, and repr(x) is the same
    decimal (pinned against the JVM in tests/test_properties.py)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def intra_cluster_prune(
    clustered: DataFrame,
    threshold: float = _EMB_DUP_THRESHOLD,
    max_cluster: "int | None" = None,
    dim: "int | None" = None,
) -> DataFrame:
    """SemDeDup prune stage over a (vec_id, cluster, v, nv) frame: flag a
    vector dup when an earlier same-cluster vector sits at cosine >=
    ``threshold`` (single-pass pairwise, min-id survives).  Norms arrive
    precomputed (one 64-element fold per VECTOR, not three per PAIR); the
    pair join is an equi-join on cluster id, so comparisons never leave a
    cluster.  Shared by the label-centroid and k-means SemDeDup paths.

    ``max_cluster`` is the 100 TB guard (the fan-out cap the shingle path
    gets from the df cutoff): clusters above the cap are sub-split by a
    sign-LSH signature wide enough that an even split lands under the cap,
    so the pair join's per-key work stays bounded by occupancy instead of
    growing O(hottest-cluster^2).  Exact copies share the signature by
    construction and are always still caught; near-dups split across a
    low-margin hyperplane can be missed — the same recall-for-boundedness
    trade dedup_jaccard_capped documents, stated instead of silent."""
    from moira_spark.harness.similarity import _hyperplanes, make_sign_lsh_udf

    work = clustered.withColumn("sub", F.lit(-1))
    if max_cluster is not None:
        sizes = clustered.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("__n")
        )
        n_max = sizes.agg(F.max("__n")).collect()[0][0] or 0  # scalar agg
        if n_max > max_cluster:
            import math

            bits = max(1, math.ceil(math.log2(n_max / max_cluster)))
            sig = make_sign_lsh_udf(
                clustered.sparkSession,
                _hyperplanes(bits, dim=_EMB_DIM, n_tables=1),
            )
            hot = sizes.filter(F.col("__n") > max_cluster).select(
                "cluster", F.lit(True).alias("__hot")
            )
            work = (
                clustered.join(F.broadcast(hot), "cluster", "left")
                .withColumn(
                    "sub",
                    F.when(
                        F.col("__hot"), F.element_at(sig(F.col("v")), 1)
                    ).otherwise(F.lit(-1)),
                )
                .drop("__hot")
            )
    # r7: block-pair salting of the intra-cluster pair stage (guide §2.5) —
    # the bare (cluster, sub) key has only as many distinct values as
    # clusters, so the pair cosine stage ran on ~7 of 32 cores.  Each row
    # is replicated to the (2S - 1) block-pair groups it participates in,
    # so pair (x, y) meets under exactly one (cluster, sub, blk(x), blk(y))
    # group and per-group work is bounded by (cluster/S)^2.
    #
    # r7.2 (guide §4.2): the cosines themselves moved from a JVM join with
    # a per-pair interpreted 64-term aggregate fold (HOFs never reach
    # codegen; ~2.6G interpreted lambda steps at 10x scale — 15-18s) into
    # applyInPandas per block-pair group, where the SAME left-assoc fold
    # runs as a dim-ordered numpy accumulation (acc += va[:, d] * vb[:, d]
    # — bit-identical IEEE op sequence to aggregate(zip_with(...))), and
    # cos = acc / outer(na, nb) mirrors dot / (na * nb).  The >= threshold
    # decision replicates Spark's ROUND(cos, 6) exactly: candidates within
    # a safety margin of the threshold are re-rounded by spark_round6
    # (Decimal(repr(x)) HALF_UP — the identical BigDecimal.valueOf
    # semantics) so the flag cannot drift even on a boundary value
    # (oracle-verified; for unit vectors the band is empirically empty).
    # S block-pair split: groups = clusters x S^2, fan-out copies = 2S-1
    # per row.  A/B at sf0.1 / 10x (best-of-3/2): S=8 2.00/5.26,
    # S=4 1.72/4.29, S=2 1.57/4.37 — S=4 keeps 160-group parallelism and
    # bounded per-group work with near-best walls at both scales.  At
    # production scale derive S ~ sqrt(max_cluster_rows / target_side)
    # per job instead of a constant.
    S = 4
    blk = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(S)).cast("int")
    # (pa, pb, role) entries per row: role bit 1 = a-side, bit 2 = b-side;
    # the (blk, blk) diagonal entry carries both roles in one copy.
    entries = F.concat(
        F.transform(
            F.sequence(F.lit(0), F.lit(S - 1)),
            lambda j: F.struct(
                blk.alias("pa"),
                j.cast("int").alias("pb"),
                F.when(j == blk, F.lit(3)).otherwise(F.lit(1)).alias("role"),
            ),
        ),
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.lit(S - 1)),
                lambda i: F.struct(
                    i.cast("int").alias("pa"),
                    blk.alias("pb"),
                    F.lit(2).alias("role"),
                ),
            ),
            lambda s: s["pa"] != blk,
        ),
    )
    fanned = work.select(
        "vec_id", "cluster", "sub", "v", "nv", F.explode(entries).alias("e")
    ).select(
        "vec_id",
        "cluster",
        "sub",
        "v",
        "nv",
        F.col("e.pa").alias("pa"),
        F.col("e.pb").alias("pb"),
        F.col("e.role").alias("role"),
    )
    thr = float(threshold)

    def prune_group(pdf):
        import numpy as np
        import pandas as pd

        a_rows = pdf[(pdf["role"] & 1) != 0]
        b_rows = pdf[(pdf["role"] & 2) != 0]
        if not len(a_rows) or not len(b_rows):
            return pd.DataFrame({"vec_id": pd.Series([], dtype="int64")})
        va = np.stack(a_rows["v"].to_numpy())
        vb = np.stack(b_rows["v"].to_numpy())
        acc = np.zeros((va.shape[0], vb.shape[0]))
        for d_i in range(va.shape[1]):
            acc += np.multiply.outer(va[:, d_i], vb[:, d_i])
        cos = acc / np.multiply.outer(
            a_rows["nv"].to_numpy(), b_rows["nv"].to_numpy()
        )
        ids_a = a_rows["vec_id"].to_numpy()
        ids_b = b_rows["vec_id"].to_numpy()
        mask = (ids_a[:, None] < ids_b[None, :]) & (cos >= thr - 1e-4)
        if not mask.any():
            return pd.DataFrame({"vec_id": pd.Series([], dtype="int64")})
        ai, bi = np.nonzero(mask)
        keep = [
            int(ids_b[j])
            for i, j in zip(ai, bi)
            if spark_round6(float(cos[i, j])) >= thr
        ]
        return pd.DataFrame({"vec_id": pd.Series(keep, dtype="int64")})

    dups = (
        fanned.groupBy("cluster", "sub", "pa", "pb")
        .applyInPandas(prune_group, "vec_id long")
        .distinct()
        .withColumn("d", F.lit(True))
    )
    return clustered.join(dups, "vec_id", "left").select(
        "vec_id", "cluster", F.coalesce("d", F.lit(False)).alias("is_dup")
    )


@register(
    "dedup_semantic",
    f"""
    WITH corpus AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, label, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id % 40 = 0
    ),
    dims AS (
      SELECT label, i,
             SUM(CAST(ROUND(v[i] * 100000) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM corpus, (SELECT UNNEST(RANGE(1, {_EMB_DIM + 1})) AS i) t
      GROUP BY label, i
    ),
    cent AS (
      SELECT label AS c_label,
             LIST(ROUND(CAST(s AS DOUBLE) / n / 100000, 6) ORDER BY i) AS c
      FROM dims GROUP BY label
    ),
    assign AS (
      SELECT vec_id, c_label AS cluster FROM (
        SELECT corpus.vec_id, cent.c_label,
               ROW_NUMBER() OVER (
                 PARTITION BY corpus.vec_id
                 ORDER BY ROUND(LIST_DOT_PRODUCT(corpus.v, cent.c)
                          / (SQRT(LIST_DOT_PRODUCT(corpus.v, corpus.v))
                             * SQRT(LIST_DOT_PRODUCT(cent.c, cent.c))),
                          6) DESC,
                          cent.c_label ASC) AS rn
        FROM corpus CROSS JOIN cent
      ) WHERE rn = 1
    ),
    clustered AS (
      SELECT a.vec_id, a.cluster, c2.v
      FROM assign a JOIN corpus c2 ON a.vec_id = c2.vec_id
    ),
    dups AS (
      SELECT DISTINCT b.vec_id
      FROM clustered a JOIN clustered b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE ROUND(LIST_DOT_PRODUCT(a.v, b.v)
            / (SQRT(LIST_DOT_PRODUCT(a.v, a.v))
               * SQRT(LIST_DOT_PRODUCT(b.v, b.v))), 6)
            >= {_EMB_DUP_THRESHOLD}
    )
    SELECT cl.vec_id, cl.cluster, (d.vec_id IS NOT NULL) AS is_dup
    FROM clustered cl LEFT JOIN dups d ON cl.vec_id = d.vec_id
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SemDeDup-shaped (Abbas et al. 2023, arXiv
    2303.09540): cluster the embedding space, then prune near-duplicate
    pairs WITHIN each cluster only — the trick that turns the O(n^2)
    cosine self-join into per-cluster work bounded by cluster size.
    Clusters here are nearest-centroid assignments against per-label mean
    embeddings (fixed-point sums -> exact centroids on both engines; the
    paper's k-means centroids drop in unchanged); a vector is a dup when
    an earlier same-cluster vector sits at cosine >= threshold
    (single-pass pairwise, min-id survives — transitive closure stays the
    dedup_cluster tier's job).  Planted exact copies (vec_id % 40, +1e6)
    land in their source's cluster by construction and are flagged.

    Scale shape: centroids are a tiny broadcast (k rows) crossed against
    the vector stream map-side — zero shuffle for assignment beyond the
    groupBy(vec_id) argmax, which partial-aggregates; the verify self-join
    is an equi-join on cluster id, so comparisons never leave a cluster
    (at 100 TB, pass ``max_cluster`` to intra_cluster_prune — the
    sign-LSH occupancy cap, pinned by tests/test_corpus_ops.py
    TestHotClusterCap).  Determinism: centroid dims,
    assignment cosines, and pair cosines are all rounded to 6dp with
    min-label / min-id tiebreaks, so both engines make identical keep
    decisions.
    """
    from moira_spark.harness.similarity import _dbl

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    dup = e.filter(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "label", "embedding"
    )
    corpus = e.unionAll(dup).select(
        "vec_id", "label", _dbl("embedding").alias("v")
    )
    return semantic_dedup_flags(corpus)


@register("dedup_semantic_kmeans", None)  # iterative clusters: rows + floor
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paper-faithful SemDeDup composition (Abbas et al. 2023): cluster
    with k-means (kmeans_fit, k=8, 3 Lloyd iterations — not the label-mean
    shortcut dedup_semantic uses for its SQL oracle), then prune
    near-duplicates within each cluster via the SHARED intra_cluster_prune
    stage.  Iterative clustering is not SQL-expressible, so the driver
    records rows-only; the query self-verifies instead: every planted
    byte-exact copy (vec_id % 40, +1e6) has identical distances to every
    centroid, therefore lands in its source's cluster and MUST be flagged
    — the query RAISES if any plant survives (plant recall 1.0 by
    construction, checked, not assumed).  Scale: kmeans_fit is linear per
    iteration (broadcast centroids); the prune never compares across
    clusters."""
    from moira_spark.harness.similarity import _dbl, _dot, kmeans_fit

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = e.filter(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    corpus = e.unionAll(dup).select("vec_id", _dbl("embedding").alias("v"))

    assigns: dict = {}
    kmeans_fit(corpus, assignments_out=assigns)
    clustered = assigns["df"].join(corpus, "vec_id").select(
        "vec_id",
        "cluster",
        "v",
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nv"),
    )
    # checkpoint the (small) flag frame so the floor's count() below and
    # the caller's collect don't each re-execute the pair join
    out = intra_cluster_prune(clustered).localCheckpoint(
        eager=True
    )

    # Hard floor: planted exact copies cannot escape their source's
    # cluster, so each must carry the dup flag.
    missed = out.filter(
        (F.col("vec_id") >= 1000000) & (~F.col("is_dup"))
    ).count()
    if missed:
        raise AssertionError(
            f"semantic k-means dedup missed {missed} planted exact copies"
        )
    return out


# -------------------------------------------- near-dup cluster closure
_CLUSTER_SQL = f"""
    WITH RECURSIVE {_JACCARD_PAIR_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src),
    csize AS (SELECT component, COUNT(*) AS n_members FROM comp GROUP BY component)
    SELECT c.doc_id,
           c.component,
           c.doc_id = c.component AS is_representative,
           s.n_members
    FROM comp c JOIN csize s USING (component)
    """


def _cluster_output(comp):
    """(id, comp) labels -> the shared cluster-representatives schema: one
    row per doc with its component, representative flag (min doc_id wins),
    and component size.  Single definition for both closure algorithms so
    the representative-selection rule can never diverge between them."""
    # component count approaches corpus cardinality when duplication is
    # sparse — equi-join unhinted, AQE broadcasts when actually small
    csize = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("n_members"))
    return comp.join(csize, "comp").select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component"),
        (F.col("id") == F.col("comp")).alias("is_representative"),
        "n_members",
    )


@register("dedup_cluster_representatives", _CLUSTER_SQL)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close near-dup PAIRS into CLUSTERS and pick one representative each —
    the step that turns candidate pairs into an actual dedup decision (if
    A~B and B~C, exactly one of {{A,B,C}} survives, not two).

    Spark side: iterative min-label propagation in DataFrame ops
    (operators/components.py; log-rounds alternating algorithm documented
    there for 10^12-edge scale).  Oracle side: the same closure as a DuckDB
    RECURSIVE CTE over the identical planted-pair SQL — a value-level check
    of an iterative distributed algorithm.  Representative = min doc_id per
    component, i.e. the original document wins over its planted mutations.
    """
    from moira_spark.operators.components import connected_components

    pairs = dedup_jaccard_3gram(spark, sf_dir)
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    return _cluster_output(comp)


@register("dedup_cluster_bigstar", _CLUSTER_SQL)
def dedup_cluster_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cluster closure as dedup_cluster_representatives but via the
    log-rounds alternating large-star/small-star algorithm
    (operators/components.py connected_components_bigstar, Kiveris et al.
    SoCC 2014) — O(log n) rounds independent of component diameter, the
    tool for pair generators that emit long chains.

    Both algorithms hash-match the SAME DuckDB RECURSIVE-CTE oracle, which
    pins algorithm-equivalence at the value level: min-id labels must be
    identical whichever closure computed them.
    """
    from moira_spark.operators.components import connected_components_bigstar

    pairs = dedup_jaccard_3gram(spark, sf_dir)
    comp = connected_components_bigstar(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    return _cluster_output(comp)


@register(
    "corpus_near_dedup",
    f"""
    WITH RECURSIVE {_JACCARD_PAIR_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    cnodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM cnodes
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src)
    SELECT c.doc_id,
           COALESCE(m.doc_id IS NOT NULL, FALSE) AS was_clustered
    FROM corpus c
    LEFT JOIN comp m ON c.doc_id = m.doc_id
    WHERE m.doc_id IS NULL OR m.doc_id = m.component
    """,
)
def corpus_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end NEAR-dedup capstone in one query: shingle-join pair
    generation -> log-rounds large-star/small-star cluster closure
    (connected_components_bigstar) -> keep exactly one representative per
    cluster (min doc_id) plus every unclustered document.

    This is the pass that actually shrinks a crawl: pairs alone cannot
    dedup (A~B, B~C keeps two of three), so closure + representative
    selection IS the operator.  Every stage is the scale shape — bucketed
    candidate join, O(log n) closure rounds independent of chain length,
    one anti-join — and the whole composition hash-matches the DuckDB
    RECURSIVE-CTE transitive closure at the value level.
    """
    from moira_spark.operators.components import connected_components_bigstar

    corpus = _planted_near(spark, sf_dir)
    pairs = dedup_jaccard_3gram(spark, sf_dir)
    comp = connected_components_bigstar(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    reps = comp.filter(F.col("id") == F.col("comp")).select(
        F.col("id").alias("doc_id"), F.lit(True).alias("was_clustered")
    )
    clustered_ids = comp.select(F.col("id").alias("doc_id"))
    unclustered = (
        corpus.select("doc_id")
        .join(clustered_ids, "doc_id", "left_anti")
        .select("doc_id", F.lit(False).alias("was_clustered"))
    )
    return unclustered.unionAll(reps)


# ------------------------------------- leakage-safe train/val/test split
@register(
    "corpus_split_leakage",
    f"""
    WITH RECURSIVE {_JACCARD_PAIR_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    cnodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM cnodes
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (SELECT src AS doc_id, MIN(dst) AS grp FROM reach GROUP BY src),
    assign AS (
      SELECT c.doc_id, COALESCE(m.grp, c.doc_id) AS grp
      FROM corpus c LEFT JOIN comp m USING (doc_id)
    ),
    labeled AS (
      SELECT doc_id, grp,
             CASE WHEN grp % 10 <= 7 THEN 'train'
                  WHEN grp % 10 = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM assign
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM labeled GROUP BY split
    """,
)
def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: assign every document to a split
    by its NEAR-DUP GROUP, not its own id, so two near-identical documents
    can never land on opposite sides of the train/eval boundary — the
    document-level 80/10/10 hash split every naive pipeline starts with
    silently places a train doc's near-copy in the test set and inflates
    every downstream eval.  Group = connected component of the Jaccard>=0.5
    pair graph (the same planted-near corpus and closure the cluster
    queries check); split = min-doc-id representative mod 10 (0-7 train,
    8 val, 9 test); singletons are their own group.

    Scale shape: pair generation is the bucketed shingle join, closure is
    the O(log n) big-star algorithm, and the assignment is one left join —
    all shapes already proven at the dedup tier; the split adds only a
    projection.  In-query hard-fails: (a) ZERO groups straddle a split
    (computed from the assignment frame, not assumed), and (b) the planted
    near-pairs actually exercise the guarantee (>= 2 multi-member groups),
    otherwise the leakage check would pass vacuously.
    """
    from moira_spark.operators.components import connected_components_bigstar

    corpus = _planted_near(spark, sf_dir)
    pairs = dedup_jaccard_3gram(spark, sf_dir)
    comp = connected_components_bigstar(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    assign = (
        corpus.select("doc_id")
        .join(comp.select(F.col("id").alias("doc_id"), "comp"), "doc_id", "left")
        .select("doc_id", F.coalesce("comp", F.col("doc_id")).alias("grp"))
    )
    bucket = F.col("grp") % 10
    labeled = assign.select(
        "doc_id",
        "grp",
        F.when(bucket <= 7, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
        .alias("split"),
    ).localCheckpoint(eager=True)  # reused by both hard-fails + the result

    per_group = labeled.groupBy("grp").agg(
        F.countDistinct("split").alias("n_splits"),
        F.count(F.lit(1)).alias("n_members"),
    )
    # Both hard-fail gates in ONE action (r7.2): two separate .count()
    # calls re-ran the per_group aggregation over the checkpointed frame
    # twice; one summed pass returns both scalars.
    gates = per_group.agg(
        F.sum((F.col("n_splits") > 1).cast("int")).alias("leaky"),
        F.sum((F.col("n_members") > 1).cast("int")).alias("multi"),
    ).collect()[0]
    leaky = int(gates["leaky"] or 0)
    multi = int(gates["multi"] or 0)
    if leaky:
        raise AssertionError(
            f"leakage-safe split leaked: {leaky} near-dup groups straddle "
            "a train/val/test boundary"
        )
    if multi < 2:
        raise AssertionError(
            f"leakage check is vacuous: only {multi} multi-member groups "
            "— the planted near-dups did not cluster"
        )
    return labeled.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("grp").cast("bigint").alias("n_groups"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


# --------------------------------------------- span-level (C4-style) dedup
@register(
    "doc_span_dedup",
    """
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0
                  THEN text || '. all rights reserved. visit our website'
                  ELSE text END AS text
      FROM documents
    ),
    lists AS (
      SELECT doc_id, STRING_SPLIT(text, '. ') AS l FROM corpus
    ),
    spans AS (
      SELECT doc_id, u.i AS span_idx, u.s AS s
      FROM lists,
           UNNEST(LIST_TRANSFORM(RANGE(1, LEN(l) + 1),
                  i -> {'i': i, 's': l[i]})) AS t(u)
    ),
    firsts AS (
      SELECT s, MIN(doc_id * 100000 + span_idx) AS first_key
      FROM spans GROUP BY s
    ),
    kept AS (
      SELECT sp.doc_id, sp.span_idx, sp.s
      FROM spans sp JOIN firsts f
        ON sp.s = f.s AND sp.doc_id * 100000 + sp.span_idx = f.first_key
    )
    SELECT c.doc_id,
           LEN(STRING_SPLIT(c.text, '. ')) AS n_spans,
           COALESCE(k.n_kept, 0) AS n_kept_spans,
           COALESCE(k.txt, '') AS deduped_text
    FROM corpus c
    LEFT JOIN (
      SELECT doc_id, COUNT(*) AS n_kept,
             STRING_AGG(s, '. ' ORDER BY span_idx) AS txt
      FROM kept GROUP BY doc_id
    ) k ON c.doc_id = k.doc_id
    """,
)
def doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span-level dedup: split every document into sentence spans,
    keep only the GLOBALLY FIRST occurrence of each distinct span (by
    (doc_id, span_idx)), and reassemble documents without the repeats —
    the pass that strips boilerplate sentences ("all rights reserved")
    that exact/near doc-level dedup cannot touch because the surrounding
    document is unique.  Planted: a two-span legal footer on every fourth
    document; after the pass it survives only in the first one.

    Scale shape: first-occurrence selection is a groupBy-min over
    (doc_id, span_idx) keyed by the span — an ALGEBRAIC aggregate with
    map-side partial combine, NOT a row_number window partitioned by span
    (a boilerplate span shared by 25% of the corpus would funnel those
    rows through one window partition; the min-agg reduces them map-side).
    The verdict join back on the span key fans out only to true
    occurrences, which AQE skew-split handles.  Reassembly is a per-doc
    sort of a bounded span list.  Hash-checked against the identical
    DuckDB composition (the synthetic key doc_id*100000+span_idx makes
    the min total-ordered on both engines; span_idx < 100000 by
    construction at any tested scale).
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.col("text"),
                F.lit(". all rights reserved. visit our website"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    spans = corpus.select(
        "doc_id", F.posexplode(F.split("text", "\\. ")).alias("idx0", "s")
    ).select("doc_id", (F.col("idx0") + 1).alias("span_idx"), "s")
    key = F.col("doc_id") * 100000 + F.col("span_idx")
    firsts = spans.groupBy("s").agg(F.min(key).alias("first_key"))
    kept = spans.join(firsts, "s").filter(key == F.col("first_key"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept_spans"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_idx", "s"))),
                lambda x: x["s"],
            ),
            ". ",
        ).alias("deduped_text"),
    )
    return (
        corpus.select(
            "doc_id",
            F.size(F.split("text", "\\. ")).cast("bigint").alias("n_spans"),
        )
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_kept_spans", F.lit(0)).alias("n_kept_spans"),
            F.coalesce("deduped_text", F.lit("")).alias("deduped_text"),
        )
    )


# ------------------------------ exact-substring (ExactSubstr-style) dedup
def interval_union_fold(ss, k: int):
    """One-pass fold over a SORTED array of interval starts, every interval
    of length ``k``: struct(cov = size of the union, spans = number of
    maximal merged runs, prev = last start).  Same-length intervals make
    the union fold as sum(min(k, gap)); prev starts far negative so the
    first interval contributes a full k tokens and opens the first span.
    Property-pinned against a brute-force set union in tests."""
    zero = F.struct(
        F.lit(0).cast("long").alias("cov"),
        F.lit(0).cast("long").alias("spans"),
        F.lit(-1000000).cast("long").alias("prev"),
    )
    return F.aggregate(
        ss,
        zero,
        lambda acc, s: F.struct(
            (acc["cov"] + F.least(F.lit(k), s - acc["prev"])).alias("cov"),
            (
                acc["spans"] + F.when(s - acc["prev"] > k, 1).otherwise(0)
            ).alias("spans"),
            s.cast("long").alias("prev"),
        ),
    )


_SUBSTR_K = 8
_SUBSTR_BOILER = (
    "to unsubscribe from this newsletter click the link at the bottom of"
    " every page"
)


@register(
    "doc_substring_dedup",
    f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN text || ' {_SUBSTR_BOILER}'
                  ELSE text END AS text
      FROM documents
    ),
    toks AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '') AS w
      FROM corpus
    ),
    wins AS (
      -- slice OUTSIDE the lambda: a list slice inside a struct literal in
      -- a correlated LIST_TRANSFORM trips DuckDB 1.0's struct-pack binder
      SELECT doc_id, s, ARRAY_TO_STRING(w[s:s + {_SUBSTR_K} - 1], ' ') AS g
      FROM (SELECT doc_id, w,
                   UNNEST(RANGE(1, LEN(w) - {_SUBSTR_K} + 2)) AS s
            FROM toks)
    ),
    firsts AS (
      SELECT g, MIN(doc_id * 1000 + s) AS first_key FROM wins GROUP BY g
    ),
    dups AS (
      SELECT w.doc_id, w.s
      FROM wins w JOIN firsts f
        ON w.g = f.g AND w.doc_id * 1000 + w.s != f.first_key
    ),
    gaps AS (
      SELECT doc_id, s,
             LAG(s) OVER (PARTITION BY doc_id ORDER BY s) AS ps
      FROM dups
    ),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_dup_windows,
             CAST(SUM(CASE WHEN ps IS NULL THEN {_SUBSTR_K}
                           ELSE LEAST({_SUBSTR_K}, s - ps) END) AS BIGINT)
               AS n_removed_tokens,
             CAST(1 + SUM(CASE WHEN ps IS NOT NULL AND s - ps > {_SUBSTR_K}
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
      FROM gaps GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(LEN(t.w) AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CAST(COALESCE(a.n_removed_tokens, 0) AS BIGINT) AS n_removed_tokens,
           CAST(COALESCE(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans
    FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
)
def doc_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-SUBSTRING dedup (the ExactSubstr pass of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any
    {_SUBSTR_K}-token window whose token sequence occurs elsewhere in the
    corpus is removed UNLESS it is the globally first occurrence (min
    (doc_id, position) key), and overlapping removed windows merge into
    maximal spans — the pass that strips repeated boilerplate *fragments*
    (cookie banners, unsubscribe footers) that neither doc-level nor
    sentence-span dedup can touch because the surrounding text is unique.
    Planted: a 13-token unsubscribe footer appended to every fifth
    document; only doc 0 keeps it.

    Scale shape: the reference algorithm builds a corpus-wide suffix
    array — inherently single-machine.  The distributed transposition is
    window-hash first-occurrence selection: one JVM explode of k-token
    windows, a groupBy-MIN over the window string (algebraic, map-side
    combined — the skew from a footer shared by 20% of the corpus
    collapses in the partial agg), one equi-join back, and a per-doc
    O(windows) fold that merges overlapping removals (all intervals have
    the same length k, so union size folds as sum(min(k, gap))).  No
    suffix array, no window functions over corpus-sized partitions, no
    Python.  The synthetic first-key doc_id*1000+s keeps MIN total-ordered
    on both engines (docs are < 1000 tokens at every tested scale; the
    fold below hard-fails if a position ever exceeds it).
    """
    k = _SUBSTR_K
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" " + _SUBSTR_BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = corpus.select("doc_id", words_col().alias("w"))
    # r7 changes, same results:
    # - the window travels as an 8-byte hash key through every exchange
    #   (the scale plan the r6 docstring promised).  r7.2: the hash is
    #   MULTI-ARG xxhash64 over the k tokens directly — no concatenated
    #   window string is ever built (48 bytes of concat per window,
    #   twice, in the old shape), and token-tuple hashing has no
    #   join-boundary ambiguity at all.  Equality semantics are identical
    #   (tokens contain no spaces, so concat_ws was bijective too);
    #   collision audit in scripts/audit_hash_collisions.py covers the
    #   tuple hash at every shipped scale.
    # - wins is PERSISTED: it feeds both the groupBy-MIN and the join
    #   probe, and the explode + per-window hash is the dominant map cost.
    #   A/B (2 runs each, 10x scale): recompute 10.5s vs persisted 7.7s
    #   (sf0.1: 1.55 vs 1.33-1.75) — opposite verdict to the dsir persist
    #   (tokc there is cheap to recompute; the window explode is not).
    # - the first-key overflow gate moved INTO the plan (raise_error inside
    #   the key expression) — the old driver-side `wins.filter(s >= 1000)
    #   .limit(1).count()` was a THIRD full execution of the window explode
    #   just to check a bound (guide §1.2: don't compute things you throw
    #   away).  Still a hard fail, now for free on the rows already flowing.
    gram = F.transform(
        _gram_starts(F.col("w"), k),
        lambda i: F.struct(
            i.alias("s"),
            F.xxhash64(
                *[F.element_at(F.col("w"), i + j) for j in range(k)]
            ).alias("gh"),
        ),
    )
    wins = (
        toks.filter(F.size("w") >= k)
        .select("doc_id", F.explode(gram).alias("u"))
        .select(
            "doc_id",
            F.col("u.s").alias("s"),
            F.col("u.gh").alias("gh"),
        )
        .persist()
    )
    key = F.when(
        F.col("s") < 1000, F.col("doc_id") * 1000 + F.col("s")
    ).otherwise(
        F.raise_error(
            "substring-dedup first-key overflow: a window position "
            "exceeds the doc_id*1000 ordering bound"
        ).cast("bigint")
    )
    firsts = wins.groupBy("gh").agg(F.min(key).alias("first_key"))
    dups = (
        wins.join(firsts, "gh")
        .filter(key != F.col("first_key"))
        .select("doc_id", "s")
    )
    folded = (
        dups.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("s")).alias("ss"))
        .select(
            "doc_id",
            F.size("ss").cast("bigint").alias("n_dup_windows"),
            interval_union_fold("ss", k).alias("acc"),
        )
        .select(
            "doc_id",
            "n_dup_windows",
            F.col("acc.cov").alias("n_removed_tokens"),
            F.col("acc.spans").alias("n_dup_spans"),
        )
    )
    return (
        toks.select("doc_id", F.size("w").cast("bigint").alias("n_tokens"))
        .join(folded, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("n_removed_tokens", F.lit(0)).alias(
                "n_removed_tokens"
            ),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        )
    )


# ------------------------------------- incremental (cross-snapshot) dedup
# A production pipeline never dedups a static corpus: each day's crawl is
# deduped against everything previously COMMITTED.  Batch 1 (doc_id % 3 != 0)
# is committed to a SnapshotTable with its fingerprints + MinHash signatures;
# batch 2 is the "new" data, seeded with exact copies of committed docs
# (% 30 = 1 -> +5e6), near copies of committed docs (% 30 = 2 -> +6e6, extra
# trailing token), intra-batch exact copies (% 30 = 0 -> +7e6), intra-batch
# NEAR copies (% 30 = 3 -> +8e6, trailing token appended to a doc that is
# itself in batch 2 — % 30 = 3 implies % 3 = 0), and genuinely new docs
# (doc_id % 3 = 0).  A new doc survives iff it is neither an exact dup
# (fingerprint in the committed snapshot, or a smaller-id twin within the
# batch) nor a near dup (word-3-gram Jaccard >= 0.5 vs any committed doc OR
# vs a smaller-id doc within the same batch — round 5; rounds 1-4 checked
# near only against committed history, so two near-identical docs arriving
# together both survived).
_INCREMENTAL_B2_SQL = """
    b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
    b2 AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 5000000 AS doc_id, text FROM b1 WHERE doc_id % 30 = 1
      UNION ALL
      SELECT doc_id + 6000000 AS doc_id, text || ' extra trailing token'
      FROM b1 WHERE doc_id % 30 = 2
      UNION ALL
      SELECT doc_id + 7000000 AS doc_id, text FROM documents
      WHERE doc_id % 30 = 0
      UNION ALL
      SELECT doc_id + 8000000 AS doc_id, text || ' extra trailing token'
      FROM documents WHERE doc_id % 30 = 3
    )"""


def _incremental_batches(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = d.filter(F.col("doc_id") % 3 != 0)
    b2 = (
        d.filter(F.col("doc_id") % 3 == 0)
        .unionAll(
            b1.filter(F.col("doc_id") % 30 == 1).select(
                (F.col("doc_id") + 5000000).alias("doc_id"), "text"
            )
        )
        .unionAll(
            b1.filter(F.col("doc_id") % 30 == 2).select(
                (F.col("doc_id") + 6000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" extra trailing token")).alias(
                    "text"
                ),
            )
        )
        .unionAll(
            d.filter(F.col("doc_id") % 30 == 0).select(
                (F.col("doc_id") + 7000000).alias("doc_id"), "text"
            )
        )
        .unionAll(
            d.filter(F.col("doc_id") % 30 == 3).select(
                (F.col("doc_id") + 8000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" extra trailing token")).alias(
                    "text"
                ),
            )
        )
    )
    return b1, b2


def _with_shingle_set(df: DataFrame, out: str = "s") -> DataFrame:
    """Per-row DISTINCT word-3-gram array column — total over short docs
    (< 3 words -> empty array; see _gram_starts)."""
    d = df.withColumn("_w", words_col())
    shingles = _gram_strings(F.col("_w"), 3)
    return d.withColumn(out, F.array_distinct(shingles)).drop("_w")


def _hashed(shingles: Column) -> Column:
    """A shingle-string array as its xxhash64 array (8-byte keys)."""
    return F.transform(shingles, lambda x: F.xxhash64(x))


def _minhash(hashed: Column) -> Column:
    """The k=64 MinHash signature of an xxhash64 shingle-set array, in one
    Arrow hop; total over empty sets (NULL out) — the kernel itself keeps
    its explicit empties-disallowed contract, so the split happens here
    per Arrow batch."""
    from moira_spark.kernels import sketch

    av, bv = sketch.minhash_params(_MINHASH_K)

    @F.pandas_udf("array<long>")
    def minhash(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for hs in batches:
            lists = hs.tolist()
            nonempty = [h for h in lists if len(h)]
            sigs = iter(sketch.minhash_batch(nonempty, av, bv))
            yield pd.Series(
                [next(sigs) if len(h) else None for h in lists],
                dtype=object,
            )

    return minhash(F.transform(hashed, lambda x: F.pmod(x, F.lit(_MERSENNE))))


def _with_signatures(df: DataFrame) -> DataFrame:
    """Adds (s, fingerprint, mh) per row: distinct shingle set, md5 of text,
    and the k=64 MinHash signature (NULL when the doc has no shingles).
    Single plan branch — one shingle/md5 pass, one Arrow hop."""
    return (
        _with_shingle_set(df)
        .withColumn("fingerprint", F.md5("text"))
        .withColumn("mh", _minhash(_hashed(F.col("s"))))
    )


def lsh_band_rows(df: DataFrame) -> DataFrame:
    """(.., mh) frame -> exploded (doc_id, band, sig) LSH band rows (16
    bands x 4 signature rows hashed per band); NULL-signature docs skipped."""
    rows_per_band = _MINHASH_K // _LSH_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.xxhash64(
                    *[
                        F.element_at(F.col("mh"), bi * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ]
                ).alias("sig"),
            )
            for bi in range(_LSH_BANDS)
        ]
    )
    return (
        df.filter(F.col("mh").isNotNull())
        .select("doc_id", F.explode(bands).alias("b"))
        .select(
            "doc_id", F.col("b.band").alias("band"), F.col("b.sig").alias("sig")
        )
    )


def _band_candidates(
    new_bands: DataFrame, old_bands: DataFrame | None = None
) -> DataFrame:
    """Distinct (new_id, old_id) pairs whose docs share an LSH band
    signature.  Without ``old_bands`` the bands are joined to themselves,
    later id against earlier id (min-id-wins)."""
    l = new_bands.alias("l")
    r = (new_bands if old_bands is None else old_bands).alias("r")
    on = (F.col("l.band") == F.col("r.band")) & (F.col("l.sig") == F.col("r.sig"))
    if old_bands is None:
        on = on & (F.col("l.doc_id") > F.col("r.doc_id"))
    return (
        l.join(r, on)
        .select(
            F.col("l.doc_id").alias("new_id"), F.col("r.doc_id").alias("old_id")
        )
        .distinct()
    )


def _sets(df: DataFrame, side: str) -> DataFrame:
    """(doc_id, s) -> (<side>_id, <side>_s), one side of a verify join."""
    return df.select(
        F.col("doc_id").alias(f"{side}_id"), F.col("s").alias(f"{side}_s")
    )


def _set_jaccard(a: str, b: str) -> Column:
    """Jaccard of two shingle-set array columns."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.greatest(
        F.size(F.array_union(a, b)), F.lit(1)
    ).cast("double")


def _jaccard_ge_half(
    cand: DataFrame, new_sets: DataFrame, old_sets: DataFrame
) -> DataFrame:
    """(new_id, old_id) candidate pairs -> distinct new_id rows whose
    word-3-gram Jaccard against the old doc clears the 0.5 near-dup bar."""
    return (
        cand.join(new_sets, "new_id")
        .join(old_sets, "old_id")
        .filter(_set_jaccard("new_s", "old_s") >= 0.5)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )


def _flags(
    batch: DataFrame, near: DataFrame, committed: DataFrame | None = None
) -> DataFrame:
    """The one flag assembly of both incremental queries and the streaming
    twin: (doc_id, fingerprint) batch rows, the near-dup doc_ids and the
    committed state's fingerprints (None for a first batch) ->
    (doc_id, dup_exact, dup_near, survives).  dup_exact = fingerprint
    committed OR a smaller-id twin in the batch (min-id-wins, as in
    dedup_exact); a doc survives when it is neither an exact nor a near
    dup."""
    firsts = batch.groupBy("fingerprint").agg(F.min("doc_id").alias("first_id"))
    flagged = batch.join(firsts, "fingerprint")
    in_committed = F.lit(False)
    if committed is not None:
        fp = committed.select("fingerprint").distinct().withColumn(
            "in_committed", F.lit(True)
        )
        flagged = flagged.join(fp, "fingerprint", "left")
        in_committed = F.col("in_committed").isNotNull()
    near = near.distinct().withColumn("is_near", F.lit(True))
    is_near = F.col("is_near").isNotNull()
    return flagged.join(near, "doc_id", "left").select(
        "doc_id",
        (in_committed | (F.col("doc_id") > F.col("first_id"))).alias("dup_exact"),
        is_near.alias("dup_near"),
        (
            ~in_committed & (F.col("doc_id") == F.col("first_id")) & ~is_near
        ).alias("survives"),
    )


def incremental_flags(
    enriched: DataFrame,
    committed: DataFrame | None,
    committed_bands: DataFrame | None = None,
    history_bloom: bool = True,
) -> DataFrame:
    """SHARED flag assembly for incremental dedup — the single definition
    both the batch query (dedup_incremental_minhash) and the streaming
    handler (streaming/stream_incremental_dedup.py) use, so the banding
    scheme, the jaccard >= 0.5 verify, and the survives predicate can
    never diverge between the two twins.

    ``enriched``: the new batch with (doc_id, s, fingerprint, mh);
    ``committed``: prior state with (doc_id, text, fingerprint, mh), or
    None for the first batch; ``committed_bands``: the PERSISTED banded
    projection of state, (doc_id, band, sig), or None to derive it from
    ``committed``'s signatures (per-row JVM hashing — still no
    re-shingling).  Returns (doc_id, dup_exact, dup_near, survives).

    ``dup_near`` covers BOTH directions a near-twin can arrive (round 5;
    rounds 1-4 checked history only): Jaccard >= 0.5 against a committed
    doc, or against a SMALLER-ID doc within the same batch (min-id-wins,
    the same pairwise rule dup_exact uses — single-pass, not the
    transitive closure; closure is the dedup_cluster_* tier's job).

    No broadcast hints on the state-derived frames: the committed side is
    the corpus-so-far and at 10^12 docs none of it fits a broadcast — the
    fingerprint anti-join and the band join must be shuffle joins on their
    keys (AQE still broadcasts them when they happen to be small, as in
    the harness fixtures).  The exact-Jaccard verify re-shingles ONLY the
    history rows that banding actually nominated — committed is leftsemi-
    joined to the distinct candidate old_ids BEFORE the shingle projection
    (round 5; rounds 1-4 evaluated the shingle split over every committed
    row on the build side of the verify join, an O(|history|) per-batch
    cost at 10^12 docs — tests/test_plans.py pins the semi-join now feeds
    the only _with_shingle_set call here).

    ``history_bloom`` (round 5, sixth session): Bloom bitmaps built over
    the BATCH's band keys and fingerprints (operators/bloom.py — two tiny
    aggregate jobs over the batch) pre-filter the history scans inside
    codegen, so the band equi-join and the fingerprint distinct shuffle
    only history rows that might collide with THIS batch — the state
    table's per-batch shuffle footprint becomes O(batch collisions), not
    O(history).  Exact either way (the equi-joins remove the bitmap's
    false positives); flags are identical with it off."""
    batch = enriched.select("doc_id", "fingerprint")
    new_bands = lsh_band_rows(enriched)
    new_sets = _sets(enriched, "new")
    # intra-batch near pass: band self-join (later id vs earlier id), verify
    # from the batch's own shingle sets — enriched already carries ``s``, so
    # nothing is re-shingled here either
    near_intra = _jaccard_ge_half(
        _band_candidates(new_bands), new_sets, _sets(enriched, "old")
    )
    if committed is None:
        return _flags(batch, near_intra)

    committed_fp = committed
    old_bands = (
        committed_bands
        if committed_bands is not None
        else lsh_band_rows(committed)
    )
    if history_bloom:
        from moira_spark.operators.bloom import (
            bits_for,
            build_bloom,
            might_contain,
        )

        n_docs = enriched.count()  # cheap: callers persist/checkpoint it
        band_key = F.xxhash64(F.col("band"), F.col("sig"))
        bwords = build_bloom(
            new_bands, band_key, num_bits=bits_for(n_docs * _LSH_BANDS)
        )
        old_bands = old_bands.filter(might_contain(band_key, bwords))
        fwords = build_bloom(
            enriched.select("fingerprint"),
            "fingerprint",
            num_bits=bits_for(n_docs),
        )
        committed_fp = committed.filter(
            might_contain(F.col("fingerprint"), fwords)
        )
    cand = _band_candidates(new_bands, old_bands)
    # exact verify on candidates only: semi-join committed down to the
    # nominated old_ids FIRST, then recompute shingles from the snapshot's
    # stored text for just those rows.  Anchoring the verify on ``committed``
    # (never on the bands table) also makes a torn bands-ahead-of-state
    # commit harmless: a band row whose doc is not yet in state simply finds
    # no verify partner.
    cand_olds = cand.select("old_id").distinct()
    committed_cand = committed.select("doc_id", "text").join(
        cand_olds, F.col("doc_id") == F.col("old_id"), "leftsemi"
    )
    old_sets = _sets(_with_shingle_set(committed_cand), "old")
    near_hist = _jaccard_ge_half(cand, new_sets, old_sets)
    return _flags(batch, near_hist.unionAll(near_intra), committed_fp)


# Committed batch-1 state, memoized per (sf_dir): the snapshot commit is
# FIXTURE construction (a real pipeline inherits yesterday's table; it does
# not re-commit history per run), and round 4's verdict flagged that timing
# it made dedup_incremental's bench number track parquet-write I/O, not the
# flag/verify plan.  First call in a process commits, later calls reuse;
# atexit cleans the tempdirs.
_INCR_STATE_CACHE: dict[str, str] = {}


def _committed_state(spark: SparkSession, sf_dir: str) -> tuple:
    """Returns (corpus_table, bands_table) for the committed batch-1 state
    of ``sf_dir``: the corpus SnapshotTable holds (doc_id, text, md5
    fingerprint, MinHash signature) per survivor — signatures ride along
    per-row (zero-shuffle, one Arrow hop) so the next run can LSH-join
    without re-sketching history — and the bands SnapshotTable holds the
    exploded (doc_id, band, sig) projection, so the per-batch candidate
    join reads band rows directly instead of re-banding history (the
    production note at incremental_flags, made real in round 5)."""
    import atexit
    import tempfile

    from moira_spark.sources.tableio import SnapshotTable

    work = _INCR_STATE_CACHE.get(sf_dir)
    if work is None or not os.path.exists(work):
        b1, _ = _incremental_batches(spark, sf_dir)
        # The small-sf documents parquet is a single file -> one input
        # partition, which would serialize the Arrow sketch pass and the
        # staged write onto one task (measured: 6.8 of the query's 8 s at
        # sf0.1).  Spread the batch, capped at 16: a partition-count sweep
        # at sf0.1/local[32] in a steal-free window measured 8p 3.0s /
        # 16p 2.5s / 32p 2.9s / 64p 4.0s — past ~16 the per-task
        # Arrow+parquet-file overhead beats the extra parallelism for a
        # few-thousand-doc batch.  At production scale the input table is
        # already many files and this branch is a no-op.
        # shuffle.partitions may be non-numeric on some platforms ("auto"
        # under AQE-managed deployments) — fall back rather than fail both
        # incremental queries before any work runs (ADVICE r4)
        try:
            conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (ValueError, TypeError):
            conf_parts = 16
        n_parts = min(conf_parts, 16)
        if b1.rdd.getNumPartitions() < n_parts:
            b1 = b1.repartition(n_parts)
        enriched = _with_signatures(b1).select(
            "doc_id", "text", "fingerprint", "mh"
        ).localCheckpoint(eager=True)  # one Arrow pass feeds both tables
        work = tempfile.mkdtemp(prefix="moira_incremental_")
        corpus = SnapshotTable(f"{work}/corpus")
        corpus.stage(enriched, "run-1")
        corpus.commit(spark, "run-1")
        bands = SnapshotTable(f"{work}/bands")
        bands.stage(lsh_band_rows(enriched), "run-1")
        bands.commit(spark, "run-1")
        from moira_spark.operators.components import _free_checkpoint

        _free_checkpoint(enriched)
        _INCR_STATE_CACHE[sf_dir] = work
        atexit.register(shutil.rmtree, work, ignore_errors=True)

    return SnapshotTable(f"{work}/corpus"), SnapshotTable(f"{work}/bands")


@register(
    "dedup_incremental",
    f"""
    WITH {_INCREMENTAL_B2_SQL},
    fp1 AS (SELECT DISTINCT MD5(text) AS h FROM b1),
    b2h AS (SELECT doc_id, text, MD5(text) AS h FROM b2),
    firsts AS (SELECT h, MIN(doc_id) AS first_id FROM b2h GROUP BY h),
    tok1 AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '') AS w
      FROM b1
    ),
    sh1 AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM tok1 WHERE LEN(w) >= 3
      )
    ),
    tok2 AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '') AS w
      FROM b2
    ),
    sh2 AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM tok2 WHERE LEN(w) >= 3
      )
    ),
    sz1 AS (SELECT doc_id, COUNT(*) AS sz FROM sh1 GROUP BY doc_id),
    sz2 AS (SELECT doc_id, COUNT(*) AS sz FROM sh2 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS new_id, b.doc_id AS old_id, COUNT(*) AS i
      FROM sh2 a JOIN sh1 b ON a.shingle = b.shingle
      GROUP BY a.doc_id, b.doc_id
    ),
    near_hist AS (
      SELECT DISTINCT new_id AS doc_id
      FROM inter
      JOIN sz2 ON inter.new_id = sz2.doc_id
      JOIN sz1 ON inter.old_id = sz1.doc_id
      WHERE i * 1.0 / (sz2.sz + sz1.sz - i) >= 0.5
    ),
    inter_b AS (
      SELECT a.doc_id AS new_id, b.doc_id AS old_id, COUNT(*) AS i
      FROM sh2 a JOIN sh2 b
        ON a.shingle = b.shingle AND a.doc_id > b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    near_intra AS (
      SELECT DISTINCT ib.new_id AS doc_id
      FROM inter_b ib
      JOIN sz2 sa ON ib.new_id = sa.doc_id
      JOIN sz2 sb ON ib.old_id = sb.doc_id
      WHERE ib.i * 1.0 / (sa.sz + sb.sz - ib.i) >= 0.5
    ),
    near AS (
      SELECT doc_id FROM near_hist UNION SELECT doc_id FROM near_intra
    )
    SELECT b.doc_id,
           (f.h IS NOT NULL OR b.doc_id > fi.first_id) AS dup_exact,
           (n.doc_id IS NOT NULL) AS dup_near,
           (f.h IS NULL AND b.doc_id = fi.first_id AND n.doc_id IS NULL)
             AS survives
    FROM b2h b
    JOIN firsts fi ON b.h = fi.h
    LEFT JOIN fp1 f ON b.h = f.h
    LEFT JOIN near n ON b.doc_id = n.doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-snapshot dedup — the daily-crawl composition a
    100 TB pipeline runs: dedup NEW data against previously COMMITTED data,
    not a static corpus against itself.

    Batch 1 is genuinely committed through SnapshotTable (fingerprints +
    per-row MinHash signatures persisted; sources/tableio.py CAS protocol),
    then read back from the snapshot — the query exercises the real state
    handoff, not a simulation of it (the commit itself is memoized per
    process: fixture construction, not engine work — round-5 change so the
    bench number tracks the flag/verify plan, not parquet-write I/O).
    New-batch flags: ``dup_exact`` = fingerprint anti-join vs the committed
    snapshot OR a smaller-id twin inside the batch (min-id-wins, same rule
    as dedup_exact); ``dup_near`` = word-3-gram Jaccard >= 0.5 vs any
    committed doc OR vs a smaller-id doc in the SAME batch (round 5 — two
    near-identical docs arriving together no longer both survive), both via
    shingle equi-joins (bucketed candidate generation — cost scales with
    shared shingles, never |new| x |committed|; cap_hot_shingles applies
    unchanged when the committed side is web-scale).  The DuckDB oracle
    recomputes all three flags from first principles, so the snapshot
    round-trip itself is value-checked.  The result is localCheckpointed so
    the temp table is never read after this returns.
    """
    _, b2 = _incremental_batches(spark, sf_dir)
    # b2 is a 5-way union of filtered document projections, and the plan
    # below evaluates it SIX times (md5 branch, sz2, inter's probe side,
    # both sides of the intra-batch self-join, flag join-back) — 5 x 6
    # parquet scan branches before this checkpoint collapsed them into
    # one materialized read (r7.3; measured 2.9-3.1 s -> 2.0-2.4 s best
    # at sf0.1).  At production scale the new batch arrives as ONE staged
    # table, so materializing it once is the real shape anyway.
    b2 = b2.localCheckpoint(eager=True)
    table, _bands = _committed_state(spark, sf_dir)
    committed = table.read(spark)

    # Classic sizes-aggregate-then-join-back shape over HASHED shingle
    # rows (r7: 8-byte keys through every exchange; the carried-size
    # variant A/B'd slower — see _shingle_rows).  No broadcast hints:
    # sz1 and the committed fingerprints are COMMITTED-corpus-sized and at
    # 10^12 docs must shuffle-join on their keys (AQE still broadcasts all
    # of these when they are small, as in the harness fixtures).
    sh1 = _shingle_rows(committed.select("doc_id", "text"))
    sh2 = _shingle_rows(b2)
    sz1 = sh1.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sz2 = sh2.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh2.alias("a"), sh1.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .groupBy(
            F.col("a.doc_id").alias("new_id"), F.col("b.doc_id").alias("old_id")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i").cast("double") / (
        F.col("s2.sz") + F.col("s1.sz") - F.col("i")
    ).cast("double")
    near_hist = (
        inter.join(sz2.alias("s2"), F.col("new_id") == F.col("s2.doc_id"))
        .join(sz1.alias("s1"), F.col("old_id") == F.col("s1.doc_id"))
        .filter(jac >= 0.5)
        .select(F.col("new_id").alias("doc_id"))
    )
    # intra-batch near pass: the batch's own Jaccard pairs, later id vs
    # earlier id (min-id-wins)
    near_intra = _jaccard_pairs_from(sh2).select(F.col("doc_b").alias("doc_id"))
    flagged = _flags(
        b2.select("doc_id", F.md5("text").alias("fingerprint")),
        near_hist.unionAll(near_intra),
        committed,
    )
    # localCheckpoint so nothing downstream re-reads the temp snapshot
    # (the memoized state dir is cleaned at process exit)
    out = flagged.localCheckpoint(eager=True)
    from moira_spark.operators.components import _free_checkpoint

    _free_checkpoint(b2)  # flags are materialized; batch blocks done
    return out


@register("dedup_incremental_minhash", None)  # banded hashing: rows-only
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for incremental near-dedup: LSH-band join of new-batch
    MinHash signatures against the (doc_id, band, sig) rows PERSISTED in
    the committed state's own bands SnapshotTable (round 5 — history is
    neither re-shingled nor re-banded per batch; the candidate join reads
    the banded projection directly), exact Jaccard verify on candidates
    only, with the committed side semi-joined down to nominated old_ids
    before any shingle recompute.  Same batches and flags as the
    SQL-checked ``dedup_incremental`` twin; the difference is candidate
    generation — banded signature equi-join (O(collisions)) instead of the
    shingle equi-join (O(shared shingles)), which is what survives when the
    committed side is 10^12 documents.

    Self-verifying floor (hard-fails, so the driver row is meaningful
    without an oracle): every planted exact copy of a committed doc MUST be
    flagged dup_exact (recall 1.0 — identical text gives an identical
    fingerprint), every planted near copy of a committed doc MUST be
    flagged dup_near, and every planted SAME-BATCH near copy (+8e6 ids,
    round 5) MUST be flagged dup_near via the intra-batch pass.  Floor
    precondition: the plant appends THREE tokens (' extra trailing token'),
    so a W-word source gives Jaccard (W-2)/(W+1) over distinct 3-gram sets
    (W-2 shared grams of W+1 in the copy), >= 0.5 for W >= 5, and the
    16-band x 4-row per-doc miss probability is (1 - J^4)^16 — up to ~8%
    for the shortest docs but < 3e-8 once the PLANT is >= 33 words
    (source >= 30, J >= 28/31).  The intra-near floor is therefore split
    (ADVICE r5: a fixture/seed refresh must not flip the query red on a
    probabilistic non-bug): plants long enough that a band collision is
    statistically certain hard-fail on ANY miss, while the short tail
    carries a documented miss budget of 20% (observed misses on the fixed
    fixtures: zero; the budget only absorbs refresh noise).

    Flag assembly is the SHARED ``incremental_flags`` helper — the same
    definition the streaming twin executes per micro-batch.
    """
    _, b2 = _incremental_batches(spark, sf_dir)
    table, bands = _committed_state(spark, sf_dir)
    committed = table.read(spark).persist()  # fingerprints + verify text

    b2s = _with_signatures(b2).select(
        "doc_id", "s", "fingerprint", "mh"
    ).persist()  # feeds bands + verify + flags: one Arrow pass

    out = incremental_flags(
        b2s, committed, committed_bands=bands.read(spark)
    ).localCheckpoint(eager=True)

    # hard floor: planted recall must be perfect, or the query refuses to
    # return rows (driver-visible failure without an oracle).  The
    # intra-batch NEAR floor is length-gated (see docstring): >= 33-word
    # plants are statistically certain to band-collide and fail on any
    # miss; shorter plants carry a 20% budget.
    wc = b2.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("_wc"),
    )
    intra_near_long = (F.col("doc_id") >= 8000000) & (F.col("_wc") >= 33)
    intra_near_short = (F.col("doc_id") >= 8000000) & (F.col("_wc") < 33)
    gate = out.join(wc, "doc_id", "left").agg(
        F.sum(
            F.when(
                (F.col("doc_id") >= 5000000)
                & (F.col("doc_id") < 6000000)
                & ~F.col("dup_exact"),
                1,
            ).otherwise(0)
        ).alias("missed_exact"),
        F.sum(
            F.when(
                (F.col("doc_id") >= 6000000)
                & (F.col("doc_id") < 7000000)
                & ~F.col("dup_near"),
                1,
            ).otherwise(0)
        ).alias("missed_near"),
        F.sum(
            F.when(
                (F.col("doc_id") >= 7000000)
                & (F.col("doc_id") < 8000000)
                & ~F.col("dup_exact"),
                1,
            ).otherwise(0)
        ).alias("missed_intra"),
        F.sum(
            F.when(intra_near_long & ~F.col("dup_near"), 1).otherwise(0)
        ).alias("missed_intra_near"),
        F.sum(
            F.when(intra_near_short & ~F.col("dup_near"), 1).otherwise(0)
        ).alias("missed_intra_near_short"),
        F.sum(F.when(intra_near_short, 1).otherwise(0)).alias("n_short"),
    ).collect()[0]
    committed.unpersist()
    b2s.unpersist()
    short_budget = max(1, (gate["n_short"] or 0) // 5)  # 20%, documented
    if (
        gate["missed_exact"]
        or gate["missed_near"]
        or gate["missed_intra"]
        or gate["missed_intra_near"]
        or (gate["missed_intra_near_short"] or 0) > short_budget
    ):
        raise AssertionError(
            "incremental MinHash dedup missed planted duplicates: "
            f"exact={gate['missed_exact']} near={gate['missed_near']} "
            f"intra={gate['missed_intra']} "
            f"intra_near={gate['missed_intra_near']} "
            f"intra_near_short={gate['missed_intra_near_short']}"
            f"/{gate['n_short']} (budget {short_budget})"
        )
    return out


# ------------------------------------- blocked edit-distance verification
@register(
    "dedup_editdist_refine",
    """
    WITH toks AS (
      SELECT doc_id, text, CAST(LEN(text) AS BIGINT) AS len,
             LIST_TRANSFORM(
               LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != ''),
               wd -> (ORD(wd[1:1]) * 10000
                      + ORD(SUBSTR(wd, LEN(wd), 1)) * 100
                      + LEN(wd)) % 2147483647) AS codes
      FROM documents
    ),
    mh AS (
      SELECT doc_id, s.seed,
             LIST_MIN(LIST_TRANSFORM(RANGE(1, LEN(codes) - 3),
               i -> ((((((((CAST(s.seed AS BIGINT) * 1000003 + codes[i])
                    % 2147483647) * 1000003 + codes[i+1])
                    % 2147483647) * 1000003 + codes[i+2])
                    % 2147483647) * 1000003 + codes[i+3])
                    % 2147483647 * 1000003 + codes[i+4]) % 2147483647))
               AS v
      FROM toks CROSS JOIN (SELECT UNNEST([17, 59, 131, 283]) AS seed) s
      WHERE LEN(codes) >= 5
    ),
    mhc AS (
      SELECT doc_id, seed, v FROM (
        SELECT doc_id, seed, v,
               COUNT(*) OVER (PARTITION BY seed, v) AS bsz
        FROM mh
      ) WHERE bsz <= 64
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM mhc a JOIN mhc b
        ON a.seed = b.seed AND a.v = b.v AND a.doc_id < b.doc_id
    ),
    ver AS (
      SELECT c.doc_a, c.doc_b,
             CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS lev,
             ta.len AS len_a, tb.len AS len_b
      FROM cand c
      JOIN toks ta ON c.doc_a = ta.doc_id
      JOIN toks tb ON c.doc_b = tb.doc_id
    )
    SELECT doc_a, doc_b, lev, len_a, len_b,
           (1000000 - (lev * 1000000) // GREATEST(len_a, len_b))
             / 1000000.0 AS sim
    FROM ver
    WHERE lev * 5 <= GREATEST(len_a, len_b)
    """,
)
def dedup_editdist_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage-style fuzzy dedup: 1-permutation MinHash BLOCKING
    over word-5-gram sketches (4 independent seeds = 4 bands of r=1)
    proposes candidate pairs, and byte-level Levenshtein VERIFIES them —
    pairs are emitted when edit similarity 1 - lev/max(len) >= 0.8.  The
    edit-distance verifier catches character-level near-dups (typos,
    small in-place edits) that token-set Jaccard treats as more distant,
    and is the standard second stage after LSH in entity-resolution /
    near-dup pipelines.  At sf0.01 the blocks propose 26 of 124,750
    possible pairs and verification keeps 25 — exactly the brute-force
    >= 0.8 ground truth (pinned in tests).

    Scale shape: the sketch is a narrow per-row expression (word codes
    once per doc, then a 5-step Horner poly per gram, min per seed — no
    token explode, no shuffle); candidates come from an equi-join on
    (seed, min-hash) with hot blocks capped at 64 docs by a pre-join
    HAVING semi-join (the dedup_jaccard_capped df-cap pattern — a
    degenerate block cannot quadratic-blow the join).  Levenshtein runs
    JVM-side (whole-stage codegen) ONLY on surviving candidate pairs.
    No broadcast hints anywhere: every frame here is corpus-sized except
    the 4-row seed array (a literal).

    Cross-engine discipline: the block hash is exact int64 arithmetic
    (max intermediate 2^31 * 1000003 + 2^31 < 2^52); lev/lengths are
    exact integers, the >= 0.8 gate is the integer cross-multiplication
    lev*5 <= max(len), and sim is emitted via integer floor-division
    fixed-point — no float enters until one final division of identical
    integers.  Spark's levenshtein and DuckDB's agree on ASCII text
    (unit-pinned); the fixtures are verified pure ASCII (the
    doc_winnow_fingerprint oracle already relies on this).
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.length("text").cast("bigint").alias("len"),
        F.transform(
            words_col(),
            lambda wd: (
                F.ascii(wd) * 10000
                + F.ascii(F.substring(wd, -1, 1)) * 100
                + F.length(wd)
            ).cast("bigint")
            % 2147483647,
        ).alias("codes"),
    )

    # r7: the 4-seed gram-hash minimum is ONE vectorized Arrow hop instead
    # of 4 interpreted higher-order transforms (4 seeds x 5 element_at x
    # windows-per-doc of per-element expression interpretation was the
    # dominant cost of this query at sf1.0).  The kernel is the identical
    # exact int64 recurrence — e = (e * 1000003 + code) % (2^31 - 1), max
    # intermediate < 2^52, so numpy int64 arithmetic is bit-equal to the
    # JVM/DuckDB expression (pinned by
    # tests/test_graph_ops.py::test_editdist_sketch_matches_jvm_expression).
    seeds = (17, 59, 131, 283)

    @F.pandas_udf("array<bigint>")
    def _mh4(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        M = 2147483647
        for col in batches:
            lists = [np.asarray(x, dtype=np.int64) for x in col.tolist()]
            if not lists:
                yield pd.Series([], dtype=object)
                continue
            lens = np.fromiter((len(x) for x in lists), dtype=np.int64)
            m = lens - 4  # windows per doc; callers filter len >= 5
            flat = np.concatenate(lists)
            woff = np.concatenate(([0], np.cumsum(m)[:-1]))
            doff = np.concatenate(([0], np.cumsum(lens)[:-1]))
            win = (
                np.arange(int(m.sum()), dtype=np.int64)
                - np.repeat(woff, m)
                + np.repeat(doff, m)
            )
            outs = []
            for seed in seeds:
                e = np.full(len(win), seed, dtype=np.int64)
                for k in range(5):
                    e = (e * 1000003 + flat[win + k]) % M
                outs.append(np.minimum.reduceat(e, woff))
            yield pd.Series(np.stack(outs, axis=1).tolist())

    n = F.size("codes")
    mhv = d.filter(n >= 5).select("doc_id", _mh4(F.col("codes")).alias("mv"))
    # NOT persisted: the sketch frame feeds both sides of the candidate
    # self-join, so the Arrow hop appears twice in the plan and runs twice
    # — but the vectorized kernel is cheap enough that recomputing beat
    # persist+reuse in an r7 A/B at sf1.0 (8.5s vs 10.6s; cache
    # materialization costs more than the second numpy pass).
    sketches = mhv.select(
        "doc_id",
        *[F.element_at(F.col("mv"), j + 1).alias(f"v{j}") for j in range(4)],
    )
    mh = sketches.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(s).cast("bigint") for s in seeds]).alias(
                    "seed"
                ),
                F.array(*[F.col(f"v{j}") for j in range(4)]).alias("v"),
            )
        ).alias("z"),
    ).select("doc_id", F.col("z.seed").alias("seed"), F.col("z.v").alias("v"))
    # hot-block cap: a degenerate block (boilerplate-dominated min-gram)
    # may not quadratic-blow the candidate join (df-cap pattern).  One
    # window count over (seed, v) instead of groupBy + join-back — the
    # same shuffle key the candidate self-join needs next, one exchange
    # fewer on the corpus-sized sketch frame
    from pyspark.sql import Window

    w_blk = Window.partitionBy("seed", "v")
    mhc = (
        mh.withColumn("bsz", F.count(F.lit(1)).over(w_blk))
        .filter(F.col("bsz") <= 64)
        .drop("bsz")
    )
    a = mhc.select(
        F.col("seed").alias("s"), F.col("v").alias("vv"), F.col("doc_id").alias("doc_a")
    )
    b = mhc.select(
        F.col("seed").alias("s"), F.col("v").alias("vv"), F.col("doc_id").alias("doc_b")
    )
    cand = (
        a.join(b, ["s", "vv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("text_a"),
        F.col("len").alias("len_a"),
    )
    tb = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("text_b"),
        F.col("len").alias("len_b"),
    )
    # banded Levenshtein: the >= 0.8 gate means lev <= floor(maxlen/5),
    # so pass that as the threshold — Spark's bounded DP early-exits and
    # runs O(len x threshold) instead of O(len^2) (a 5x+ cut on long
    # documents), returning -1 (filtered) past the band and the EXACT
    # distance inside it, so kept rows match the oracle's full lev
    ver = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "levenshtein(text_a, text_b,"
                " CAST(GREATEST(len_a, len_b) DIV 5 AS INT))"
            )
            .cast("bigint")
            .alias("lev"),
            "len_a",
            "len_b",
        )
    )
    maxlen = F.greatest("len_a", "len_b")
    return ver.filter(
        (F.col("lev") >= 0) & (F.col("lev") * 5 <= maxlen)
    ).select(
        "doc_a",
        "doc_b",
        "lev",
        "len_a",
        "len_b",
        (
            (
                F.lit(1000000).cast("bigint")
                - F.expr("(lev * 1000000) DIV GREATEST(len_a, len_b)")
            )
            / 1000000.0
        ).alias("sim"),
    )
