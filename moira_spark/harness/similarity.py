"""Similarity search over the embeddings table (task-brief tier).

- brute-force cosine top-k: the exactness baseline, SQL-checkable;
- random-hyperplane LSH ANN: the scale path (bucketed candidate join),
  rows-only check (banded hashing is not reasonably SQL-expressible).

Float discipline: both engines compute cosine in float64 over the same
element order (arrays cast to double before any arithmetic), ranks are taken
on the ROUNDED score with vec_id tiebreaks, so results are deterministic and
identical across engines.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from moira_spark.harness import load, register

_N_QUERIES = 10
_TOP_K = 5


def _dbl(col):
    return F.transform(F.col(col), lambda x: x.cast("double"))


# The embeddings table's vector width (shared with harness/dedup.py).
EMB_DIM = 64


def _dot(a, b):
    """Sequential-fold dot product over two array<double> columns.

    The aggregate(zip_with(...)) fold is the FAST form: an r7 microbench
    over 2M 64-dim rows measured it at ~0.7s vs ~3-5s for a flat
    64-term element_at unrolling (each element_at re-checks bounds/null
    and the deep expression tree falls out of whole-stage codegen), so do
    NOT "optimize" this into unrolled element_at arithmetic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@register(
    "embedding_cosine_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(
               LIST_DOT_PRODUCT(q.qe, e.embedding::DOUBLE[])
               / (SQRT(LIST_DOT_PRODUCT(q.qe, q.qe))
                  * SQRT(LIST_DOT_PRODUCT(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]))),
               6) AS cos_sim
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= {_TOP_K}
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set over all vectors.

    At 100 TB this is the verification baseline; the production path is the
    LSH variant below.  The query side is tiny -> broadcast hash join, no
    shuffle of the big side.
    """
    e = load(spark, sf_dir, "embeddings")
    # Norms are per-ROW quantities: computing sqrt(dot(x, x)) before the
    # join evaluates each one once instead of once per candidate pair
    # (identical float64 ops in identical order, so cos_sim is bit-equal;
    # 3 dots/pair -> 1 dot/pair + 1/row).
    q = (
        e.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), _dbl("embedding").alias("qe"))
        .withColumn("qn", F.sqrt(_dot(F.col("qe"), F.col("qe"))))
    )
    base = e.select(
        F.col("vec_id").alias("neighbor_id"), _dbl("embedding").alias("ne")
    ).withColumn("nn", F.sqrt(_dot(F.col("ne"), F.col("ne"))))
    j = base.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = _dot(F.col("qe"), F.col("ne")) / (
        F.col("qn") * F.col("nn")
    )
    scored = j.select(
        "query_id", "neighbor_id", F.round(cos, 6).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos_sim")
    )


_LSH_TABLES = 12  # independent hash tables; candidates = union over tables
_LSH_TARGET_OCCUPANCY = 8  # vectors per bucket the signature width aims for


def _quantized(base: DataFrame) -> DataFrame:
    """int8 per-vector scale quantization, computed JVM-side: adds
    (scale double, code array<tinyint>) to a (vec_id, v) frame.  The ANN
    index stores (bucket/cell, code, scale) — 8x smaller than the float64
    vectors — and candidate generation + approximate scoring never touch
    the full embedding column."""
    maxabs = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    vscale = F.greatest(maxabs, F.lit(1e-30)) / F.lit(127.0)
    # clamp to [-127, 127] BEFORE the tinyint cast: with the current scale
    # formula (maxabs/127) values are in range by construction, but the
    # non-ANSI cast would silently wrap if the formula ever changed —
    # clamping makes overflow impossible rather than merely absent.
    code = F.transform(
        F.col("v"),
        lambda x: F.least(
            F.greatest(F.round(x / F.col("scale")), F.lit(-127.0)),
            F.lit(127.0),
        ),
    ).cast("array<tinyint>")
    return base.withColumn("scale", vscale).withColumn("code", code)


def _adc_rerank(
    base: DataFrame,
    cand: DataFrame,
    rerank: int,
    stats_out: dict | None,
) -> DataFrame:
    """Shared ADC + exact re-rank tail for both ANN paths (the +R stage of
    Jegou et al.'s IVFADC+R, applied uniformly): candidates
    (query_id, qe, vec_id, code, scale) are approx-scored with the
    asymmetric dot q . (code * scale) — pure codegen, reads only the int8
    code — and only the top-``rerank`` per query are exact-scored via a
    join back to the full vectors.  Exact work per query is bounded by
    ``rerank`` regardless of how many candidates the buckets produced."""
    # Unrolled asymmetric dot (identical fold order; see _dot): the codes
    # are EMB_DIM int8s, qe is the EMB_DIM query vector.
    adc = F.col("scale") * _dot(F.col("qe"), F.col("code"))
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("vec_id")
    )
    shortlist = (
        cand.select("query_id", "qe", "vec_id", adc.alias("adc_score"))
        .withColumn("arn", F.row_number().over(w_adc))
        .filter(F.col("arn") <= rerank)
        .select("query_id", "qe", "vec_id")
    )
    if stats_out is not None:
        shortlist = shortlist.persist()
        stats_out.setdefault("_persisted", []).append(shortlist)
        stats_out["n_exact"] = shortlist.count()  # exact-scored rows

    exact = shortlist.join(
        base.select("vec_id", F.col("v").alias("ne")), "vec_id"
    )
    cos = _dot(F.col("qe"), F.col("ne")) / (
        F.sqrt(_dot(F.col("qe"), F.col("qe")))
        * F.sqrt(_dot(F.col("ne"), F.col("ne")))
    )
    scored = exact.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cos, 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos_sim")
    )


def _lsh_bits(n_vectors: int, occupancy: int = _LSH_TARGET_OCCUPANCY) -> int:
    """Occupancy-targeted signature width: 2^bits buckets sized so a bucket
    holds ~_LSH_TARGET_OCCUPANCY vectors.  Fixed-width signatures are wrong
    at both ends — too many bits and true neighbors never collide (measured
    recall@5 = 0.0 with 12 bits over 500 vectors), too few and the scan
    degenerates to brute force.  Scales automatically: 10^12 vectors -> 37
    bits, candidate work stays ~T * occupancy per query."""
    import math

    return min(30, max(4, int(round(math.log2(max(n_vectors, 2) / occupancy)))))


def _hyperplanes(bits: int, dim: int = 64, n_tables: int = _LSH_TABLES) -> np.ndarray:
    rng = np.random.RandomState(2718)
    return rng.standard_normal((n_tables, bits, dim))


def make_sign_lsh_udf(spark: SparkSession, planes: np.ndarray):
    """Vectorized multi-table sign-LSH signature UDF over array<double>
    vectors -> array<long> of per-table bucket ids.  Single definition
    shared by the ANN query here and the embedding near-dup query in
    harness/dedup.py — signature stability is the whole contract, so there
    must be exactly one implementation to keep bit-identical."""
    bc = spark.sparkContext.broadcast(planes)

    @F.pandas_udf("array<long>")
    def sigs_of(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        P = bc.value  # (T, bits, dim)
        weights = (1 << np.arange(P.shape[1])).astype(np.int64)
        for vs in batches:
            X = np.array(vs.tolist(), dtype=np.float64)
            bits_ = np.einsum("nd,tbd->ntb", X, P) > 0
            yield pd.Series(list((bits_.astype(np.int64) * weights).sum(axis=2)))

    return sigs_of


# Multiprobe flips per table scale with signature width: wider signatures
# (bigger corpora) split true neighbors across more low-margin bit
# boundaries, so the probe count must grow with bits or recall decays as
# the corpus grows (measured: fixed 2 flips = 0.82 recall at 6 bits/500
# vecs but 0.58 at 8 bits/2000 vecs; bits//2 flips holds 0.84/0.76).
def _lsh_nflip(bits: int) -> int:
    return max(2, bits // 2)


# ANN-only table count: 16 tables clear the 0.8 recall floor at EVERY
# driver scale on the deliberately low-margin uniform-sphere fixture
# (round-6 sweep at sf0.1/2000 vecs: T=12 -> 0.76 regardless of rerank —
# candidate recall was the binding constraint — T=16 -> 0.88 at 29%
# ADC-scanned).  The near-dup dedup queries keep _LSH_TABLES=12: exact
# planted copies collide in every table, so recall there is structural.
_ANN_LSH_TABLES = 16


def _ann_rerank(n_vectors: int) -> int:
    """Exact-scored candidates per query after the ADC pass.  Grows with
    the corpus (ADC's int8 ties get denser as neighbors crowd) but is
    clamped: exact work per query must stay O(1) at 10^12 vectors, and the
    floor keeps the exact pass >= k x 10 at tiny scales.  Exact-scanned
    fraction stays <= ~10% at every driver scale (50/4990 = 1%, 150/19990
    = 7.5%)."""
    return min(500, max(50, n_vectors // 13))


@register("embedding_ann_lsh", None)  # banded hashing: rows-only check
def embedding_ann_lsh(
    spark: SparkSession,
    sf_dir: str,
    n_tables: int | None = None,
    occupancy: int | None = None,
    nflip: int | None = None,
    rerank: int | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """ANN via multi-table random-hyperplane LSH with multiprobe and
    ADC re-rank (bucket equi-join, no cross join).

    T=12 independent tables of occupancy-sized sign signatures; a pair is a
    candidate if it collides in ANY table.  Round 3 adds two stages:

    - query-side multiprobe (Lv et al., "Multi-Probe LSH", VLDB 2007):
      each query also probes the buckets reached by flipping its ``nflip``
      lowest-|margin| signature bits (default scales as bits//2 so recall
      holds as occupancy-targeted signatures widen with the corpus) —
      recall@5 on this deliberately low-margin corpus goes 0.46 -> ~0.8
      where buying the same recall with more tables needed 41% of the
      corpus exact-scored;
    - the shared ADC + exact re-rank tail (_adc_rerank): bucket rows carry
      int8 codes, candidates are approx-scored JVM-side, and only the
      top-``rerank`` per query touch full vectors — so exact work per
      query is bounded by ``rerank`` no matter how many buckets collide.

    Corpus signatures are one vectorized Arrow hop (shared bit-for-bit with
    the near-dup query via make_sign_lsh_udf); query probe buckets are
    computed driver-side from the tiny query set and broadcast, so the
    corpus side of the candidate join stays map-side only and work scales
    with bucket occupancy x probes, not corpus size.  Measured against
    brute force in embedding_ann_recall.
    """
    from moira_spark.kernels import ann

    n_tables = _ANN_LSH_TABLES if n_tables is None else n_tables
    occupancy = _LSH_TARGET_OCCUPANCY if occupancy is None else occupancy
    e = load(spark, sf_dir, "embeddings")
    base = e.select("vec_id", _dbl("embedding").alias("v"))
    n_corpus = e.count()
    rerank = _ann_rerank(n_corpus) if rerank is None else rerank
    bits = _lsh_bits(n_corpus, occupancy)
    nflip = _lsh_nflip(bits) if nflip is None else nflip
    planes = _hyperplanes(bits, n_tables=n_tables)
    sigs_of = make_sign_lsh_udf(spark, planes)
    buckets = _quantized(base).select(
        "vec_id", "scale", "code",
        F.posexplode(sigs_of(F.col("v"))).alias("t", "sig"),
    )

    # Query probe buckets: tiny (n_queries x T x (1+nflip)), driver-side.
    qpdf = (
        base.filter(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", F.col("v").alias("qe"))
        .toPandas()
    )
    probe_rows = [
        {"query_id": int(qid), "qe": list(map(float, qv)), "qt": t, "qsig": s}
        for qid, qv in zip(qpdf["vec_id"], qpdf["qe"])
        for t, sigs in enumerate(ann.lsh_probe_sigs(np.array(qv), planes, nflip))
        for s in sigs
    ]
    q = spark.createDataFrame(
        pd.DataFrame(probe_rows),
        schema="query_id long, qe array<double>, qt int, qsig long",
    )
    cand = (
        buckets.join(
            F.broadcast(q),
            (F.col("t") == F.col("qt"))
            & (F.col("sig") == F.col("qsig"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        # a pair colliding in several tables/probes must score once
        .dropDuplicates(["query_id", "vec_id"])
    )
    if stats_out is not None:  # A/B instrumentation: ADC-scored candidates
        # persist before counting — the count and the re-rank both consume
        # cand, and without the cache the whole signing/explode/join
        # pipeline would execute twice (caller releases via the
        # stats_out["_persisted"] handles, or clearCache)
        cand = cand.persist()
        stats_out.setdefault("_persisted", []).append(cand)
        stats_out["n_candidates"] = cand.count()
    return _adc_rerank(base, cand, rerank, stats_out)


_IVF_ASSIGN = 3  # corpus multi-assignment: each vector indexed in top-a cells
_IVF_TARGET_OCCUPANCY = 24  # vectors per cell the coarse quantizer aims for


def _ivf_cells(n_vectors: int) -> int:
    """Cell count at ~_IVF_TARGET_OCCUPANCY vectors/cell, clamped to what
    the bounded driver-side k-means sample can train (4096 cells needs a
    few vectors per cell from the 2048-row sample at most scales; at
    10^12 vectors a real deployment trains k ~ 2^16 centroids offline and
    the rest of the shape is unchanged)."""
    return max(16, min(4096, n_vectors // _IVF_TARGET_OCCUPANCY))


def _ivf_nprobe(cells_k: int) -> int:
    """Probed cells per query: a fixed ~1/6 fraction of the cells, floored.
    On this deliberately near-isotropic fixture neighbors sit on cell
    boundaries, so recall needs a real probe fraction (round-6 sweep at
    sf0.1: cells//6 probes with assign=3 -> recall 0.94 at ~42%
    ADC-scanned; half that probe count -> 0.86).  Clustered real
    embeddings need far fewer probes for the same recall — the fixture is
    the adversarial case."""
    return max(6, cells_k // 6)


@register("embedding_ann_ivf", None)  # data-adaptive cells: rows-only check
def embedding_ann_ivf(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int | None = None,
    cells_k: int | None = None,
    assign: int | None = None,
    rerank: int | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """ANN via IVF-ADC: inverted-file cells + asymmetric distance on int8
    codes + exact re-rank (the coarse-quantizer + ADC scheme of Jegou,
    Douze & Schmid, TPAMI 2011; re-rank per their IVFADC+R variant).

    Round-3 rewrite for recall: the r2 version exact-scored every vector in
    nprobe=4 of 16 cells (recall 0.54 at 25% exact-scanned).  Structure now:

    1. seeded k-means centroids trained driver-side on a bounded
       deterministic sample, broadcast;
    2. every corpus vector indexed in its top-``assign`` cells
       (multi-assignment — index is ``assign`` x bigger, recall at fixed
       nprobe much higher) in one vectorized Arrow hop, carrying an int8
       CODE (per-vector scale quantization, 8x smaller than the float64
       embedding) instead of the full vector;
    3. a query probes its ``nprobe`` best cells by centroid margin
       (multiprobe): candidates = equi-join against the tiny broadcast
       probe list, approx-scored JVM-side with the asymmetric dot
       q . (code * scale) — cheap, reads only the code column;
    4. only the top-``rerank`` ADC candidates per query are exact-scored,
       via a join back to the full vectors on vec_id.

    At 10^12 vectors the same shape holds with k ~ 2^16 cells and nprobe
    ~64: the probed fraction is ~0.1%, the ADC pass reads 8x fewer bytes
    than full vectors, and the exact pass touches ``rerank`` rows per query.
    On this (deliberately near-isotropic, low-margin) test corpus:
    recall@5 0.86 with ~44% ADC-scanned / ~10% exact-scanned, vs 0.54 at
    25% exact for the r2 shape.  Recall gate: embedding_ann_recall.
    """
    from moira_spark.kernels import ann

    e = load(spark, sf_dir, "embeddings")
    base = e.select("vec_id", _dbl("embedding").alias("v"))
    n_corpus = e.count()
    cells_k = _ivf_cells(n_corpus) if cells_k is None else cells_k
    nprobe = _ivf_nprobe(cells_k) if nprobe is None else nprobe
    assign = _IVF_ASSIGN if assign is None else assign
    rerank = _ann_rerank(n_corpus) if rerank is None else rerank

    sample = base.orderBy("vec_id").limit(2048).toPandas()
    C = ann.kmeans_fit(
        np.array(sample["v"].tolist()), k=cells_k, iters=15, seed=7
    )
    bc = spark.sparkContext.broadcast(C)

    @F.pandas_udf("array<int>")
    def cells_of(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        cents = bc.value
        for vs in batches:
            yield pd.Series(ann.assign_cells_multi(vs.tolist(), cents, assign))

    # The index stores (cell, code, scale), never the full vector.
    index = _quantized(base).select(
        "vec_id",
        "scale",
        "code",
        F.explode(cells_of(F.col("v"))).alias("cell"),
    )

    qpdf = sample[sample["vec_id"] < _N_QUERIES]
    probe_rows = [
        {
            "query_id": int(r_vec_id),
            "qe": list(map(float, r_v)),
            "cell": int(c),
        }
        for r_vec_id, r_v in zip(qpdf["vec_id"], qpdf["v"])
        for c in ann.probe_cells(np.array(r_v, dtype=np.float64), C, nprobe)
    ]
    probes = spark.createDataFrame(
        pd.DataFrame(probe_rows),
        schema="query_id long, qe array<double>, cell int",
    )
    cand = (
        index.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        # multi-assignment: a vector can meet a query in several cells
        .dropDuplicates(["query_id", "vec_id"])
    )
    if stats_out is not None:
        cand = cand.persist()  # count + re-rank share one pass
        stats_out.setdefault("_persisted", []).append(cand)
        stats_out["n_candidates"] = cand.count()  # ADC-scored rows
    return _adc_rerank(base, cand, rerank, stats_out)


@register("embedding_ann_recall", None)
def embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of each ANN path (LSH and IVF) against brute-force truth.

    At 100x scale recall is the whole point of the ANN trade: the bucketed
    joins do a fraction of the cross join's work, and this query quantifies
    what each costs in neighbor quality.  One row per (method, query id)
    plus one 'ALL' summary row per method with the macro recall — the
    VALUES regress if any path breaks, not just row counts.
    """
    truth = embedding_cosine_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("true_neighbor")
    )
    n_corpus = load(spark, sf_dir, "embeddings").count()
    denom = float(_N_QUERIES * (n_corpus - 1))
    out = None
    for method, fn in (("lsh", embedding_ann_lsh), ("ivf", embedding_ann_ivf)):
        stats: dict = {}
        approx = fn(spark, sf_dir, stats_out=stats).select(
            "query_id", F.col("neighbor_id").alias("ann_neighbor")
        )
        hits = truth.join(
            approx,
            (truth["query_id"] == approx["query_id"])
            & (F.col("true_neighbor") == F.col("ann_neighbor")),
            "left",
        ).select(
            truth["query_id"].alias("qid"),
            F.col("ann_neighbor").isNotNull().alias("hit"),
        )
        per_query = hits.groupBy("qid").agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_hit"),
        )
        per_query = per_query.select(
            F.lit(method).alias("method"),
            F.col("qid").cast("string").alias("query_id"),
            "n_true",
            "n_hit",
            F.round(F.col("n_hit").cast("double") / F.col("n_true"), 6).alias(
                "recall_at_k"
            ),
            F.lit(None).cast("double").alias("adc_scanned_frac"),
            F.lit(None).cast("double").alias("exact_scanned_frac"),
        )
        # Scan-fraction accounting (the other half of the ANN trade):
        # adc = candidates scored from int8 codes, exact = full-precision
        # re-ranked rows.  Populated on the ALL row so the driver pins the
        # trade, not just the recall.
        adc_frac = round(stats["n_candidates"] / denom, 6)
        exact_frac = round(stats["n_exact"] / denom, 6)
        summary = per_query.agg(
            F.sum("n_true").alias("n_true"),
            F.sum("n_hit").alias("n_hit"),
            F.round(F.avg("recall_at_k"), 6).alias("recall_at_k"),
        ).select(
            F.lit(method).alias("method"),
            F.lit("ALL").alias("query_id"),
            "n_true",
            "n_hit",
            "recall_at_k",
            F.lit(adc_frac).alias("adc_scanned_frac"),
            F.lit(exact_frac).alias("exact_scanned_frac"),
        )
        # materialize this method's rows BEFORE dropping its persists
        part = per_query.unionAll(summary).toPandas()
        out = part if out is None else pd.concat([out, part], ignore_index=True)
        # release ONLY this query's persists — clearCache() here would evict
        # every cache in the shared session, including frames the caller or
        # a composed pipeline is still holding
        for frame in stats.get("_persisted", []):
            frame.unpersist()
    pdf = out
    macro = pdf[pdf.query_id == "ALL"]
    # regression floor: round 1 shipped an LSH whose recall@5 was 0.0; a
    # collapsed ANN path must be a RED driver row, not a quiet number.
    # Raised 0.3 -> 0.6 in round 3, 0.6 -> 0.8 in round 5 at correctness
    # scales, and in round 6 to 0.8 at EVERY scale (verdict item 4): the
    # sf0.1 shortfall (0.76/0.78) was fixed by scaling the knobs with the
    # corpus like _lsh_bits always did — T=16 ANN tables, occupancy-
    # targeted IVF cells with nprobe ~ cells/6 and assign=3, and rerank
    # growing (clamped) with n.  Round-6 sweep at sf0.1/2000 vectors:
    # LSH 0.88 at 29% ADC / 7.5% exact, IVF ~0.94 at ~42% ADC / 7.5%
    # exact, on a deliberately near-isotropic fixture that is the
    # adversarial case for both paths.
    floor = 0.8
    if (macro.recall_at_k < floor).any():
        raise RuntimeError(
            f"ANN macro recall fell below the {floor} regression floor "
            f"(corpus={n_corpus})\n" + macro.to_string()
        )
    return spark.createDataFrame(
        pdf,
        schema=(
            "method string, query_id string, n_true long, n_hit long, "
            "recall_at_k double, adc_scanned_frac double, "
            "exact_scanned_frac double"
        ),
    )


@register(
    "embedding_knn_label",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS true_label, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < 20
    ),
    scored AS (
      SELECT q.query_id, q.true_label, e.label,
             ROUND(
               LIST_DOT_PRODUCT(q.qe, e.embedding::DOUBLE[])
               / (SQRT(LIST_DOT_PRODUCT(q.qe, q.qe))
                  * SQRT(LIST_DOT_PRODUCT(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]))),
               6) AS cos_sim,
             e.vec_id AS neighbor_id
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id != q.query_id
    ),
    topk AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored
      ) WHERE rn <= 10
    ),
    votes AS (
      SELECT query_id, true_label, label, COUNT(*) AS votes
      FROM topk GROUP BY query_id, true_label, label
    )
    SELECT query_id, true_label, label AS knn_label, votes
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY votes DESC, label) AS vr
      FROM votes
    ) WHERE vr = 1
    """,
)
def embedding_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-label vote (k=10) over rounded cosine, deterministic
    ties (votes desc, smallest label)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        _dbl("embedding").alias("qe"),
    )
    base = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("label"),
        _dbl("embedding").alias("ne"),
    ).withColumn("nn", F.sqrt(_dot(F.col("ne"), F.col("ne"))))
    q = q.withColumn("qn", F.sqrt(_dot(F.col("qe"), F.col("qe"))))
    j = base.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    # per-row norms precomputed pre-join (bit-equal; see embedding_cosine_topk)
    cos = _dot(F.col("qe"), F.col("ne")) / (
        F.col("qn") * F.col("nn")
    )
    scored = j.select(
        "query_id", "true_label", "label", "neighbor_id",
        F.round(cos, 6).alias("cos_sim"),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    topk = scored.withColumn("rn", F.row_number().over(wk)).filter(F.col("rn") <= 10)
    votes = topk.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", "true_label", F.col("label").alias("knn_label"), "votes")
    )


@register(
    "embedding_label_centroids",
    """
    SELECT label,
           COUNT(*) AS n_vectors,
           ROUND(CAST(SUM(CAST(ROUND(embedding[1] * 100000) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 100000, 6) AS centroid_dim0
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label first-dim centroid via integerized sums (order-independent)."""
    e = load(spark, sf_dir, "embeddings")
    d0 = F.round(F.element_at(F.col("embedding"), 1).cast("double") * 100000).cast(
        "bigint"
    )
    return (
        e.withColumn("d0m", d0)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum("d0m").cast("double") / F.count(F.lit(1)) / 100000, 6
            ).alias("centroid_dim0"),
        )
    )


# ----------------------------------------------------- k-means (Lloyd)
_KMEANS_K = 8
_KMEANS_ITERS = 3


def kmeans_fit(
    vectors: DataFrame,
    k: int = _KMEANS_K,
    iters: int = _KMEANS_ITERS,
    assignments_out: "dict | None" = None,
) -> DataFrame:
    """Deterministic Lloyd k-means over a (vec_id, v: array<double>) frame.

    When ``assignments_out`` is given (the stats_out pattern the ANN
    queries use), the FINAL iteration's (vec_id, cluster) frame is stored
    under ``assignments_out["df"]`` for downstream passes (SemDeDup).

    Init is the k lowest-vec_id vectors (seeded, reproducible); each
    iteration assigns every vector to its nearest centroid by squared L2
    (argmin via min(struct(dist, c_id)) — one partial-aggregating groupBy,
    ties to the smaller centroid id) and recomputes centroids with the
    fixed-point trick (per-dim bigint sums -> order-independent means, so
    runs are bit-identical regardless of partitioning).  Returns one row
    per (iteration, cluster) plus a cluster = -1 total row per iteration:
    (iteration, cluster, n_members, inertia).

    Scale shape (r7.3): the k centroids ride two parallel ARRAY literals
    (ids + vectors, k x dim values, bounded by design).  Array literals
    reach generated code through the references array — never inlined as
    source constants — so the codegen source is identical across
    iterations and Janino compiles it once, and no per-iteration
    BroadcastExchange exists at all.  Assignment is then a pure map-side
    expression — argmin = array_min over transform(centroids, dist-struct)
    — zero exchange, zero corpus join.  Stats AND the fixed-point centroid update come back in
    ONE posexplode -> groupBy(cluster, pos) action per iteration (count,
    inertia on the pos=0 slice, and the per-dim bigint sums as k x dim
    bounded rows, partial-aggregated map-side), so one full pass per Lloyd
    iteration — the information-theoretic minimum.  (The r1-r6 shape paid
    a crossJoin + a corpus-wide groupBy(vec_id) argmin exchange + a corpus
    x corpus join + a second aggregation pass per iteration; the first r7
    cut of this shape used k dist-structs under least() plus dim separate
    aggregate columns, whose per-iteration py4j construction + analysis
    cost ~1s/iteration — see the inline notes.)  At k too large to hold
    driver-side (~10^5+) the broadcast-join shape comes back, but then
    sampling/mini-batch is the right tool anyway.
    Lloyd guarantees non-increasing inertia; the caller-facing query below
    HARD-FAILS if that monotonicity breaks (a wrong assignment or a
    centroid-update bug shows up as an inertia regression, not a silent
    drift).  Empty clusters drop (standard Lloyd; deterministic here).
    """
    if iters < 1:
        raise ValueError(f"kmeans_fit needs iters >= 1, got {iters}")
    spark = vectors.sparkSession

    # Centroids live DRIVER-SIDE as (c_id, [floats]) — k rows of dim doubles,
    # the same bounded-by-design materialization class as the per-iteration
    # stats collect below (k x dim values; k=8, dim=64 here).  Carrying them
    # as literals makes assignment a pure map-side projection: the r1-r6
    # shape paid, per iteration, a broadcast crossJoin + a corpus-wide
    # groupBy(vec_id) exchange for the argmin + a corpus x corpus join to
    # re-attach vectors for the centroid update.  All three are gone — the
    # only per-iteration exchange left is the k*dim-row partial-aggregated
    # centroid update (guide §2.4: remove shuffles outright).
    # Working set checkpointed ONCE (r7.3): every Lloyd iteration (and the
    # init collect) reads the same (vec_id, v, nv2) rows, so materializing
    # them up front means (a) one parquet scan + double-cast + norm pass
    # total instead of one per iteration, and (b) each iteration's
    # analyzed plan roots at a LogicalRDD instead of the whole
    # scan->cast->norm subtree — measured at sf0.1/local[32] the
    # per-iteration collect drops 0.47 s -> 0.31 s and the build 0.33 s ->
    # 0.09 s.  Caching the working set is the standard distributed-kmeans
    # shape (MLlib does the same); storage is MEMORY_AND_DISK, bounded by
    # the corpus the caller already chose to cluster.
    v2 = (
        vectors.withColumn("nv2", _dot(F.col("v"), F.col("v")))
        .localCheckpoint(eager=True)
    )
    init = (
        v2.filter(F.col("vec_id") < k)
        .select(F.col("vec_id").cast("int").alias("c_id"), "v")
        .collect()
    )
    cents: "list[tuple[int, list[float]]]" = sorted(
        (int(r["c_id"]), [float(x) for x in r["v"]]) for r in init
    )
    dim = len(cents[0][1])

    def _assigned_frame(cents_now):
        # Centroids as ARRAY LITERALS (r7.3): two parallel literals — the
        # id list and the vector list — instead of the r7.2 one-row
        # broadcast frame.  Complex literals (arrays) reach generated code
        # through the references array, never inlined as source constants,
        # so the codegen source is IDENTICAL across Lloyd iterations and
        # Janino compiles it once; and dropping the crossJoin(broadcast)
        # removes a per-iteration BroadcastExchange job.  Measured per
        # fresh-plan iteration at sf0.1/local[32]: broadcast shape
        # 0.9-1.2 s (0.3 s of it the broadcast itself), literal shape
        # 0.40-0.45 s; embedding_kmeans wall 3.25 s -> ~1.9 s.  The
        # squared centroid norm is recomputed per row as _dot(c, c) — the
        # same left-assoc sequential fold that computes nv2 — instead of
        # being precomputed driver-side: per-centroid scalar double
        # literals WOULD inline into codegen source and force a recompile
        # every iteration.
        # array_min over transform == min distance, ties to the smaller
        # centroid id (struct ordering: d then c_id) — IDENTICAL float ops
        # to the r7.1 static-index least(*k structs) form, but the dist
        # expression exists ONCE under the lambda instead of k times.
        # That matters because this plan is REBUILT every Lloyd iteration:
        # with k copies of the 64-term dot fold the per-iteration
        # py4j expression construction + analysis alone cost ~1.0s/iter at
        # sf0.1 (3 iterations -> the whole query sat at 3.4-4.4s wall on
        # 2000 rows); the lambda form builds the tree once and the
        # measured per-iteration overhead drops ~10x.
        # One json-string literal per side instead of F.lit(list): the
        # py4j element-by-element conversion of k x dim floats cost a
        # measured 0.33 s per iteration at k=8/dim=64; a single string
        # crosses py4j in one call and JsonToStructs over a foldable child
        # CONSTANT-FOLDS in the optimizer (verified: the optimized plan
        # holds a plain array literal, no per-row parse).  allow_nan=False:
        # a NaN centroid (from a NaN embedding) raises here, before any
        # Spark job.  As a literal it would make every distance NaN; with
        # ANSI off, every vector then silently joins one cluster with NaN
        # inertia.
        ids = F.from_json(
            F.lit(json.dumps([int(cid) for cid, _ in cents_now])),
            "array<int>",
        )
        cvs = F.from_json(
            F.lit(json.dumps([c for _, c in cents_now], allow_nan=False)),
            "array<array<double>>",
        )
        m = F.array_min(
            F.transform(
                cvs,
                lambda c, i: F.struct(
                    F.round(
                        F.col("nv2") - 2 * _dot(F.col("v"), c) + _dot(c, c),
                        6,
                    ).alias("d"),
                    F.element_at(ids, i + 1).alias("c_id"),
                ),
            )
        )
        return v2.withColumn("_m", m).select(
            "vec_id",
            "v",
            F.col("_m.c_id").alias("cluster"),
            F.col("_m.d").alias("d2"),
        )

    rows: list[tuple] = []
    totals: list[float] = []
    assigned = None
    for it in range(1, iters + 1):
        assigned = _assigned_frame(cents)
        # ONE action per iteration: member count + inertia + the per-dim
        # fixed-point bigint sums, via posexplode -> groupBy(cluster, pos)
        # (k x dim bounded rows back to the driver).  The r7.1 shape kept
        # the rows unexploded and issued dim separate
        # sum(round(element_at(v, i)...)) aggregate columns — the SAME
        # arithmetic, but 64 py4j-built aggregate expressions re-created
        # and re-analyzed per iteration dominated the wall at small scale
        # (~1.0s/iteration on 2000 rows, measured; three exprs over the
        # exploded frame re-collect in ~0.04s warm).  The explode is
        # k-free map-side fan-out (n x dim rows) feeding a 512-group
        # partial agg — negligible at any scale next to the assignment.
        # count/inertia ride the pos=0 slice so every aggregate value is
        # computed from exactly the rows the unexploded shape used.
        ex = assigned.select(
            "cluster", "d2", F.posexplode("v").alias("pos", "x")
        )
        stats = (
            ex.groupBy("cluster", "pos")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.when(F.col("pos") == 0, F.col("d2"))), 6
                ).alias("inertia"),
                F.sum(F.round(F.col("x") * 100000).cast("bigint")).alias("s"),
            )
            .collect()
        )
        head = sorted(
            (r for r in stats if r["pos"] == 0), key=lambda r: r["cluster"]
        )
        sums = {
            (int(r["cluster"]), int(r["pos"])): r["s"] for r in stats
        }
        tot_n = sum(r["n"] for r in head)
        tot_i = round(sum(r["inertia"] for r in head), 6)
        for r in head:
            rows.append((it, int(r["cluster"]), int(r["n"]), float(r["inertia"])))
        rows.append((it, -1, int(tot_n), float(tot_i)))
        totals.append(tot_i)

        if it < iters:
            # means driver-side with the IDENTICAL double ops
            # (cast-to-double / n / 100000) the r1-r6 distributed
            # projection used -> bit-identical centroids
            cents = sorted(
                (
                    int(r["cluster"]),
                    [
                        float(sums[(int(r["cluster"]), i)]) / r["n"] / 100000
                        for i in range(dim)
                    ],
                )
                for r in head
            )
    if assignments_out is not None:
        # Final-iteration assignments: eagerly materialized for downstream
        # use (the centroid frame is tiny and re-broadcast on demand)
        assignments_out["df"] = assigned.select(
            "vec_id", "cluster"
        ).localCheckpoint(eager=True)

    # Working-set blocks released now that every reader is materialized
    # (assignments, when requested, were checkpointed above).
    from moira_spark.operators.components import _free_checkpoint

    _free_checkpoint(v2)
    out = spark.createDataFrame(
        rows, "iteration int, cluster int, n_members bigint, inertia double"
    )
    # Lloyd monotonicity gate, evaluated eagerly on the tiny totals.
    _assert_monotone_inertia(totals)
    return out


def _assert_monotone_inertia(totals: "list[float]", tol: float = 1e-6) -> None:
    """Hard floor for kmeans_fit: Lloyd inertia must never increase
    (beyond float-sum tolerance) — an assignment or centroid-update bug
    surfaces as a raise, not silent drift."""
    for a, b in zip(totals, totals[1:]):
        if b > a + tol:
            raise AssertionError(
                f"k-means inertia increased across iterations: {totals}"
            )


@register("embedding_kmeans", None)  # iterative algorithm: rows + hard floor
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embeddings table (k=8, 3
    iterations) — the clustering pass that feeds SemDeDup-style semantic
    dedup (dedup_semantic's per-label centroids drop out for these) and
    IVF coarse quantizers.  Not SQL-expressible (iterative); the driver
    records rows-only, and the query self-verifies: it RAISES if total
    inertia ever increases across iterations (Lloyd guarantees monotone
    descent — an assignment or centroid-update bug cannot hide), and
    every iteration's member counts must sum to the corpus size, pinned
    in tests/test_similarity_ops.py along with bit-exact cross-run
    reproducibility of the full output frame."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vectors = e.select("vec_id", _dbl("embedding").alias("v"))
    return kmeans_fit(vectors)
