"""Transcript-pipeline queries (rows-only checks — the per-turn scoring
stack is numpy-model-driven and not SQL-expressible, so the driver records
row-count/schema stability; full value-level verification lives in
tests/test_pipeline.py against the pandas oracle).

All inputs are generated deterministically (seed=42) so row counts and
values are stable across runs and cluster sizes.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from moira_spark.harness import load, register

_N_TURNS = 4000


def _transcripts(spark: SparkSession) -> DataFrame:
    from moira_spark.datagen import transcripts as tg

    return tg.gen_spark(spark, _N_TURNS, seed=42)


@register("transcripts_pipeline", None)
def transcripts_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full quality-filter over a deterministic transcripts table.

    reasons is cast to a comma-joined string so the output is hash-stable.
    """
    from moira_spark.pipeline import run_pipeline

    labels = run_pipeline(spark, _transcripts(spark))
    return labels.select(
        "conv_id",
        "turn_idx",
        "keep",
        F.concat_ws(",", "reasons").alias("reasons"),
        "scrubbed_text",
        "lang",
        F.round("lang_conf", 6).alias("lang_conf"),
        F.round("ppl", 6).alias("ppl"),
        "conv_keep",
    )


@register("transcripts_good_sink", None)
def transcripts_good_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept turns of kept conversations with scrubbed text (the .qc.good
    analog of moira's writers [M])."""
    from moira_spark.pipeline import filtered_output, run_pipeline

    src = _transcripts(spark)
    return filtered_output(run_pipeline(spark, src), src)


@register("transcripts_rule_histogram", None)
def transcripts_rule_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-hit histogram — the audit-table metric aggregation."""
    from moira_spark.pipeline import run_pipeline

    labels = run_pipeline(spark, _transcripts(spark))
    return (
        labels.select(F.explode("reasons").alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


@register("transcripts_audit", None)
def transcripts_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit/lineage aggregation (SURVEY.md §2.2 #11): per-Spark-partition
    input/kept/dropped counts and rule-hit histogram, rows-only.

    The real audit table keeps ``rule_hits`` as map<string,long>; here the
    map is projected to a JSON string (entries already sorted by reason:
    job.audit_rows builds the map in the sorted ALL_REASONS order) because
    the driver's canonicalizer sorts column values in pandas and Python
    dicts are unhashable.  wall_ms is telemetry and excluded so the check is
    deterministic."""
    from moira_spark.job import audit_rows
    from moira_spark.pipeline import run_pipeline

    labels = run_pipeline(spark, _transcripts(spark))
    # Deterministic partition layout for the lineage rows: hash-partition on
    # conv_id (what the staged table is bucketed by) instead of whatever
    # AQE-coalesced layout the pipeline ended on, so the per-partition
    # counts are stable AND there are >1 partitions to audit.
    labels = labels.repartition(8, "conv_id")
    rows = audit_rows(labels, run_id="driver-check", bucket=0, wall_ms=0)
    return rows.drop("wall_ms").withColumn(
        "rule_hits", F.to_json(F.col("rule_hits"))
    )


def structure_lint(turns: DataFrame) -> DataFrame:
    """Per-conversation structural lint over a raw transcripts frame
    (conv_id, turn_idx, role, text, tool, ts) — the protocol-shape checks
    an agent-transcript pipeline runs BEFORE content scoring, because a
    conversation whose structure is corrupt (duplicated turns, tool calls
    with no calling assistant, clock inversions) cannot be trusted for
    training regardless of per-turn text quality:

    - ``n_dup_turn_idx``   rows sharing a (conv_id, turn_idx) slot (the
                           ingestion-retry artifact the stable-ordering
                           dedupe later collapses);
    - ``n_role_repeats``   adjacent turns with the same role (broken
                           user/assistant alternation; tool->tool chains
                           are legal and excluded);
    - ``n_orphan_tools``   tool turns not directly preceded by an
                           assistant or tool turn (no caller);
    - ``n_ts_inversions``  adjacent turns whose timestamps run backwards
                           under the stable (turn_idx, ts, role) order;
    - ``n_misplaced_system`` system turns after turn 0;
    - ``structure_ok``     all of the above zero.

    Scale shape: ONE shuffle keyed by conv_id; adjacency counters come
    from lag() over the stable per-conversation order (a per-partition
    sort whose cost is bounded by conversation length), and the
    slot-duplicate counter is algebraic (count - countDistinct) riding
    the same aggregation.  The hot-conversation skew risk is the same one
    the salted conv agg defuses — here the window is genuinely
    order-dependent, so the mitigation at 10^12-turn scale is the
    generator's per-conv length cap plus range partitioning inside the
    conversation for the algebraic subset; the lag chain itself is
    inherently sequential per conversation.  Everything is JVM column
    expressions — no Python, no per-row work.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts", "role")
    x = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        F.col("ts").cast("timestamp").alias("ts"),
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        "ts",
        F.lag("role").over(w).alias("prev_role"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    # tool->tool chains are legal protocol (one assistant call fanning out
    # to several tool results), so alternation violations exclude them
    repeat = F.coalesce(
        (F.col("prev_role") == F.col("role")) & (F.col("role") != "tool"),
        F.lit(False),
    )
    orphan = (F.col("role") == "tool") & ~F.coalesce(
        F.col("prev_role").isin("assistant", "tool"), F.lit(False)
    )
    inversion = F.coalesce(F.col("prev_ts") > F.col("ts"), F.lit(False))
    misplaced = (F.col("role") == "system") & (F.col("turn_idx") > 0)
    return (
        x.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            (F.count(F.lit(1)) - F.countDistinct("turn_idx")).alias(
                "n_dup_turn_idx"
            ),
            F.sum(repeat.cast("bigint")).alias("n_role_repeats"),
            F.sum(orphan.cast("bigint")).alias("n_orphan_tools"),
            F.sum(inversion.cast("bigint")).alias("n_ts_inversions"),
            F.sum(misplaced.cast("bigint")).alias("n_misplaced_system"),
        )
        .withColumn(
            "structure_ok",
            (F.col("n_dup_turn_idx") == 0)
            & (F.col("n_role_repeats") == 0)
            & (F.col("n_orphan_tools") == 0)
            & (F.col("n_ts_inversions") == 0)
            & (F.col("n_misplaced_system") == 0),
        )
    )


@register("transcripts_structure_lint", None)
def transcripts_structure_lint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural lint of the deterministic transcripts fixture, with the
    planted artifacts pinned as hard floors: the generator plants ~0.5%
    ingestion-retry rows (same (conv_id, turn_idx), ts shifted +1h — each
    one both a slot duplicate AND, ordered stably, a timestamp inversion
    against the following turn) and ~8% random tool-role overrides (which
    break alternation and strand tool turns behind non-assistant
    predecessors), while system turns exist ONLY at turn 0.  A zero in
    any planted counter means the corresponding detector went dead, so
    the query RAISES instead of returning plausible rows; the
    misplaced-system counter must stay exactly zero (a false positive
    there is as much a lint bug as a miss).  toPandas here materializes
    the per-conversation frame — bounded by the fixture's conversation
    count, driver-check scale only; ``structure_lint`` itself stays fully
    distributed."""
    lint = structure_lint(_transcripts(spark))

    def floors(pdf: pd.DataFrame) -> bool:
        return bool(
            pdf["n_dup_turn_idx"].sum() > 0
            and pdf["n_role_repeats"].sum() > 0
            and pdf["n_orphan_tools"].sum() > 0
            and pdf["n_ts_inversions"].sum() > 0
            and pdf["n_misplaced_system"].sum() == 0
            and (~pdf["structure_ok"]).any()
        )

    return _assert_and_rebuild(
        spark,
        lint,
        floors,
        "transcripts_structure_lint: a planted structural-defect class "
        "went undetected (or misplaced-system false-positived)",
    )


@register("doc_langid", None)
def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch language ID applied to the documents table.

    The NB char-trigram model is trained on the sf0.001 documents slice
    (deterministic, read-only) and broadcast; predictions run vectorized per
    Arrow batch.  Output includes the table's own lang column so accuracy is
    externally checkable.  NOTE: the driver-generated documents table uses
    one shared English-ish vocabulary for every lang label, so labels are
    not actually separable from text — accuracy lands at the majority-class
    baseline (~0.44) by construction.  Real separation power is demonstrated
    on the transcripts en/xx corpora (tests/test_kernels.py, 100%).
    """
    from moira_spark.kernels import langid

    # Train on the same sf_dir the query scores (parameterized like every
    # other registry entry), via a BOUNDED deterministic sample — an
    # unconditional toPandas() would collect the whole corpus to the driver
    # at large scale factors.
    train_pdf = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .orderBy("doc_id")
        .limit(4096)
        .toPandas()
    )
    corpora = {
        lang: grp["text"].tolist() for lang, grp in train_pdf.groupby("lang")
    }
    model = langid.train(corpora)
    bc = spark.sparkContext.broadcast(model)

    @F.pandas_udf("lang_pred string, conf double")
    def predict(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        m = bc.value
        for texts in batches:
            langs, confs = m.predict(texts.fillna("").tolist())
            yield pd.DataFrame({"lang_pred": langs.astype(str), "conf": confs})

    d = load(spark, sf_dir, "documents")
    out = d.withColumn("_p", predict(F.col("text")))
    return out.select(
        "doc_id",
        "lang",
        F.col("_p.lang_pred").alias("lang_pred"),
        F.round(F.col("_p.conf"), 6).alias("conf"),
    )


@register("doc_langid_separable", None)
def doc_langid_separable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID accuracy the driver harness can actually falsify.

    The driver's documents table shares one vocabulary across lang labels, so
    doc_langid's accuracy there sits at the majority-class baseline by
    construction.  This query scores a deterministic, genuinely separable
    corpus (datagen.corpora en/xx, disjoint vocabularies) with a model
    trained on a *different* seed, and returns per-language accuracy plus a
    pinned-floor flag — the VALUES flip if the classifier breaks, not just
    the row count.
    """
    from moira_spark.datagen import corpora
    from moira_spark.kernels import langid

    model = langid.train(corpora.training_corpora(seed=42))
    bc = spark.sparkContext.broadcast(model)

    held_out = corpora.training_corpora(seed=2024, docs_per_lang=200)
    rows = [
        {"doc_id": f"{lang}_{i:04d}", "truth": lang, "text": t}
        for lang, texts in sorted(held_out.items())
        for i, t in enumerate(texts)
    ]
    sdf = spark.createDataFrame(pd.DataFrame(rows))

    @F.pandas_udf("string")
    def predict(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        m = bc.value
        for texts in batches:
            langs, _ = m.predict(texts.fillna("").tolist())
            yield pd.Series(langs).astype(str)

    scored = sdf.withColumn("pred", predict(F.col("text")))
    out = (
        scored.groupBy("truth")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("pred") == F.col("truth"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        )
        .withColumn(
            "accuracy",
            F.round(F.col("n_correct").cast("double") / F.col("n_docs"), 6),
        )
        .withColumn("meets_floor", F.col("accuracy") >= F.lit(0.98))
        .orderBy("truth")
    )
    return _assert_and_rebuild(
        spark,
        out,
        lambda p: bool(p.meets_floor.all()),
        "language-ID accuracy fell below the 0.98 pinned floor",
    )


def _assert_and_rebuild(spark, df: DataFrame, predicate, msg: str) -> DataFrame:
    """Materialize a small metrics frame, HARD-FAIL if the pinned property
    does not hold, and return the rows as a fresh local frame.

    Rows-only driver checks record only row counts, so a silently-false
    quality flag would be externally invisible; raising turns a model/
    operator regression into a red row in CORRECTNESS_r{N}.json."""
    pdf = df.toPandas()
    if not predicate(pdf):
        raise RuntimeError(msg + "\n" + pdf.to_string())
    return spark.createDataFrame(pdf, schema=df.schema)


@register("doc_perplexity", None)
def doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity of every document under the seeded clean-English LM."""
    from moira_spark.kernels import lm

    bc = spark.sparkContext.broadcast(lm.default_model())

    @F.pandas_udf("double")
    def ppl(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        m = bc.value
        for texts in batches:
            yield pd.Series(m.perplexity(texts.fillna("").tolist()))

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", F.round(ppl(F.col("text")), 6).alias("ppl"))


def _winnow_oracle_sql() -> str:
    """First-principles DuckDB recomputation of kernels/fingerprint.py:
    per-char codes (the fixtures are pure ASCII at every sf, so character
    code points equal the kernel's UTF-8 bytes — verified before this
    oracle was registered), the same 8-term rolling polynomial mod 2^61
    via stepwise HUGEINT arithmetic (numpy's int64 wrap-then-mask is
    exactly mod 2^61 because 2^64 is a multiple of 2^61), 16-window
    minima over full windows only, the kernel's m <= W single-min branch,
    and the canonical comma-joined md5 digest."""
    poly = "CAST(b0 AS HUGEINT)"
    for j in range(1, 8):
        poly = f"(({poly}) * 1000003 + b{j}) % {1 << 61}"
    leads = ",\n        ".join(
        f"LEAD(b,{j}) OVER w AS b{j}" for j in range(1, 8)
    )
    return f"""
    WITH bvals AS (
      SELECT doc_id, i, ascii(substr(text, CAST(i AS INT), 1)) AS b
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text))) AS i
            FROM documents)
    ),
    lead8 AS (
      SELECT doc_id, i, b AS b0,
        {leads}
      FROM bvals WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    poly AS (
      SELECT doc_id, i, CAST({poly} AS BIGINT) AS code
      FROM lead8 WHERE b7 IS NOT NULL
    ),
    wins AS (
      SELECT doc_id, code, i,
        MIN(code) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS wmin,
        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS rn,
        COUNT(*) OVER (PARTITION BY doc_id) AS m
      FROM poly
    ),
    sel AS (
      SELECT doc_id, MIN(code) AS h FROM poly
      GROUP BY doc_id HAVING COUNT(*) <= 16
      UNION ALL
      SELECT DISTINCT doc_id, wmin AS h FROM wins WHERE m > 16 AND rn >= 16
    )
    SELECT d.doc_id,
      CAST(COALESCE(s.n, 0) AS INT) AS n_fingerprints,
      COALESCE(s.dg, md5('')) AS digest
    FROM documents d LEFT JOIN (
      SELECT doc_id, COUNT(DISTINCT h) AS n,
             md5(string_agg(DISTINCT CAST(h AS VARCHAR), ',' ORDER BY h)) AS dg
      FROM sel GROUP BY doc_id
    ) s USING (doc_id)
    """


@register("doc_winnow_fingerprint", _winnow_oracle_sql())
def doc_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (Schleimer et al.) per document
    — the near-dup fingerprinting bullet; vectorized k-gram codes + window
    minima per Arrow batch (kernels/fingerprint.py).  SQL-checked (round
    5, sixth session): the DuckDB oracle recomputes the whole kernel from
    first principles — see _winnow_oracle_sql."""

    @F.pandas_udf("n_fingerprints int, digest string")
    def fp(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        from moira_spark.kernels.fingerprint import fingerprint_batch

        for texts in batches:
            n, d = fingerprint_batch(texts.fillna("").tolist())
            yield pd.DataFrame({"n_fingerprints": n, "digest": d})

    d = load(spark, sf_dir, "documents")
    out = d.withColumn("_f", fp(F.col("text")))
    return out.select(
        "doc_id",
        F.col("_f.n_fingerprints").alias("n_fingerprints"),
        F.col("_f.digest").alias("digest"),
    )


@register(
    "read_revcomp",
    """
    WITH reads AS (
      SELECT doc_id AS read_id,
             TRANSLATE(SUBSTR(MD5(text), 1, 24),
                       '0123456789abcdef', 'ACGTACGTACGTACGT') AS seq
      FROM documents
    )
    SELECT read_id, seq,
           TRANSLATE(REVERSE(seq), 'ACGTN', 'TGCAN') AS revcomp
    FROM reads
    """,
)
def read_revcomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """moira's reverse-complement (SURVEY §2.1 #4) as pure native exprs —
    reads synthesized deterministically (md5-hex -> ACGT) on both engines."""
    from moira_spark.harness import load

    d = load(spark, sf_dir, "documents")
    seq = F.translate(
        F.substring(F.md5("text"), 1, 24), "0123456789abcdef", "ACGTACGTACGTACGT"
    )
    reads = d.select(F.col("doc_id").alias("read_id"), seq.alias("seq"))
    return reads.select(
        "read_id",
        "seq",
        F.translate(F.reverse("seq"), "ACGTN", "TGCAN").alias("revcomp"),
    )


@register(
    "read_collapse",
    """
    WITH reads AS (
      SELECT doc_id AS read_id,
             TRANSLATE(SUBSTR(MD5(text), 1, 6),
                       '0123456789abcdef', 'ACGTACGTACGTACGT') AS seq
      FROM documents
    )
    SELECT seq,
           COUNT(*) AS n_reads,
           MIN(read_id) AS representative,
           ARRAY_TO_STRING(LIST_SORT(LIST(read_id)), ',') AS members
    FROM reads GROUP BY seq
    """,
)
def read_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """moira's collapse (SURVEY §2.1 #14): group identical sequences ->
    representative + count + mothur-style membership map, as a hash
    aggregation.  Short synthesized seqs guarantee collisions to collapse."""
    from moira_spark.harness import load

    d = load(spark, sf_dir, "documents")
    seq = F.translate(
        F.substring(F.md5("text"), 1, 6), "0123456789abcdef", "ACGTACGTACGTACGT"
    )
    reads = d.select(F.col("doc_id").alias("read_id"), seq.alias("seq"))
    return reads.groupBy("seq").agg(
        F.count(F.lit(1)).alias("n_reads"),
        F.min("read_id").alias("representative"),
        F.array_join(F.sort_array(F.collect_list("read_id")), ",").alias("members"),
    )


@register("read_pair_assembly", None)
def read_pair_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """moira's paired-end path (SURVEY §2.1 #4-6): revcomp -> NW global
    alignment -> posterior-mode consensus, per pair in a vectorized Arrow
    batch UDF.  Deterministic synthetic pairs (overlapping fragments of a
    seeded reference sequence with injected mismatches)."""
    import numpy as np

    from moira_spark.kernels import align

    rng = np.random.RandomState(42)
    bases = np.array(list("ACGT"))
    n_pairs = 200
    rows = []
    for i in range(n_pairs):
        ref = "".join(rng.choice(bases, size=60))
        fwd = ref[:40]
        rev_region = ref[20:]
        rev = align.revcomp(rev_region)  # sequencer reports 5'->3'
        # inject up to 2 mismatches into the forward read
        fl = list(fwd)
        for _ in range(rng.randint(0, 3)):
            p = rng.randint(len(fl))
            fl[p] = bases[rng.randint(4)]
        rows.append(
            {
                "pair_id": i,
                "seq_f": "".join(fl),
                "quals_f": rng.randint(10, 41, size=len(fl)).tolist(),
                "seq_r": rev,
                "quals_r": rng.randint(10, 41, size=len(rev)).tolist(),
            }
        )

    def assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from moira_spark.kernels import align as al
        from moira_spark.kernels import bernoulli

        for pdf in batches:
            # fully batched: ONE vectorized NW DP across the Arrow batch
            # (per-cell recurrence over all pairs at once), then the batched
            # Poisson-binomial DP — no per-pair Python DP loops remain.
            results = al.make_contig_batch(
                pdf["seq_f"].tolist(),
                pdf["quals_f"].tolist(),
                pdf["seq_r"].tolist(),
                pdf["quals_r"].tolist(),
            )
            contigs = [seq for seq, _ in results]
            qual_lists = [quals for _, quals in results]
            ee = bernoulli.expected_errors_pb_batch(qual_lists, alpha=0.005)
            yield pd.DataFrame(
                {
                    "pair_id": pdf["pair_id"].to_numpy(),
                    "contig": contigs,
                    "contig_len": [len(s) for s in contigs],
                    "expected_errors": ee,
                }
            )

    sdf = spark.createDataFrame(pd.DataFrame(rows))
    return sdf.mapInPandas(
        assemble,
        schema="pair_id long, contig string, contig_len int, expected_errors double",
    )


@register("read_expected_errors", None)
def read_expected_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The moira semantic anchor as a Spark operator (FIXTURES.md §5):
    Poisson-binomial expected errors over a deterministic synthetic
    read/quality table, vectorized per Arrow batch."""
    import numpy as np

    from moira_spark.kernels import bernoulli

    rng = np.random.RandomState(42)
    n = 500
    reads = pd.DataFrame(
        {
            "read_id": [f"r{i:05d}" for i in range(n)],
            "quals": [
                rng.randint(2, 41, size=rng.randint(50, 250)).tolist()
                for _ in range(n)
            ],
        }
    )

    @F.pandas_udf("double")
    def ee(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for quals in batches:
            # batched padded-matrix DP: one numpy recurrence over the whole
            # Arrow batch, bit-identical to the scalar path (pytest-pinned)
            yield pd.Series(
                bernoulli.expected_errors_pb_batch(quals.tolist(), alpha=0.005)
            )

    sdf = spark.createDataFrame(reads)
    return sdf.select(
        "read_id",
        F.size("quals").alias("read_len"),
        ee(F.col("quals")).alias("expected_errors"),
    )


@register("read_expected_errors_bootstrap", None)
def read_expected_errors_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """moira's --error_calc bootstrap mode (SURVEY §2.1 #12 — the one
    operator round 1 excluded as non-deterministic), carried after all by
    deriving each read's RNG seed from its id: the Monte-Carlo estimate is a
    pure function of the row, identical under any partitioning, so it lives
    under the exact-match gate.  Output pairs the bootstrap bound with the
    exact Poisson-binomial bound so the driver check also sees how tight the
    approximation is (mean |diff| is data, not luck).

    Round 4: the tightness claim hard-fails in-query — max |bootstrap -
    exact| must stay within the pinned bounds (abs <= 4.0 expected errors,
    relative <= 0.25; measured max 3.0 / 0.222 under the fixed per-read
    seeds, so a breach means the Monte-Carlo kernel regressed, not bad
    luck).  This makes the accuracy of the bootstrap path driver-visible
    the same way the sketch tier's floors are."""
    import zlib

    import numpy as np

    from moira_spark.kernels import bernoulli

    rng = np.random.RandomState(42)
    n = 300
    reads = pd.DataFrame(
        {
            "read_id": [f"r{i:05d}" for i in range(n)],
            "quals": [
                rng.randint(2, 41, size=rng.randint(50, 250)).tolist()
                for _ in range(n)
            ],
        }
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["read_id"].tolist()
            quals = pdf["quals"].tolist()
            exact = bernoulli.expected_errors_pb_batch(quals, alpha=0.005)
            boot = [
                bernoulli.expected_errors_bootstrap(
                    q, alpha=0.005, n_boot=200, seed=zlib.crc32(rid.encode())
                )
                for rid, q in zip(ids, quals)
            ]
            yield pd.DataFrame(
                {
                    "read_id": ids,
                    "ee_exact": exact,
                    "ee_bootstrap": boot,
                    "abs_diff": np.abs(exact - np.asarray(boot)),
                }
            )

    sdf = spark.createDataFrame(reads)
    out = sdf.mapInPandas(
        score,
        schema="read_id string, ee_exact double, ee_bootstrap double, abs_diff double",
    ).localCheckpoint(eager=True)  # one UDF pass feeds both gate and result
    gate = out.agg(
        F.max("abs_diff").alias("max_abs"),
        F.max(
            F.col("abs_diff") / F.greatest(F.col("ee_exact"), F.lit(1e-12))
        ).alias("max_rel"),
    ).collect()[0]
    if gate["max_abs"] > 4.0 or gate["max_rel"] > 0.25:
        raise AssertionError(
            "bootstrap expected-error bound drifted from the exact "
            f"Poisson-binomial bound: max_abs={gate['max_abs']:.3f} (<=4.0) "
            f"max_rel={gate['max_rel']:.3f} (<=0.25)"
        )
    return out


@register("pipeline_f1_vs_reference", None)
def pipeline_f1_vs_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule acceptance gate, made driver-visible: run the Spark
    pipeline AND the single-node pandas reference oracle
    (moira_spark/oracle/ref_pipeline.py — the spec of record for labels,
    re-stating moira's keep/drop semantics; BASELINE.json north_rule) on the
    same deterministic transcripts table, and emit the metrics the rule
    gates on: keep/drop F1 >= 0.99 and byte-exact scrubbed text.

    One row whose VALUES flip if either side drifts — keep_f1 and
    scrub_exact_frac are expected to be exactly 1.0 (both sides share the
    kernels in moira_spark/kernels, so agreement is by construction and any
    regression in ordering, rule thresholds, scrub order, or the conv-level
    verdict shows up here).  The reference side is a fixed-size validation
    corpus computed driver-side in pandas (that is what "single-node
    reference" means); the Spark side is the full distributed plan.
    """
    from moira_spark.datagen import transcripts as tg
    from moira_spark.oracle import ref_pipeline as orc
    from moira_spark.pipeline import release_cache, run_pipeline

    labels = run_pipeline(spark, _transcripts(spark))
    spark_out = labels.select(
        "conv_id", "turn_idx", "keep", "scrubbed_text", "conv_keep"
    ).toPandas()
    release_cache(labels)

    ref = orc.run(tg.gen_pandas(_N_TURNS, seed=42))
    m = spark_out.merge(
        ref[["conv_id", "turn_idx", "keep", "scrubbed_text", "conv_keep"]],
        on=["conv_id", "turn_idx"],
        suffixes=("_s", "_r"),
        how="outer",
        indicator=True,
    )
    joined = m["_merge"] == "both"
    tp = int((m.keep_s.eq(True) & m.keep_r.eq(True)).sum())
    fp = int((m.keep_s.eq(True) & m.keep_r.eq(False)).sum())
    fn = int((m.keep_s.eq(False) & m.keep_r.eq(True)).sum())
    f1 = 2 * tp / max(2 * tp + fp + fn, 1)
    scrub_exact = float((m.scrubbed_text_s == m.scrubbed_text_r).mean())
    conv_agree = float((m.conv_keep_s == m.conv_keep_r).mean())
    if f1 < 0.99 or scrub_exact != 1.0:
        # the north rule's hard gates: fail loudly so the driver records a
        # red row, not a quietly-false flag inside a rows-only check
        raise RuntimeError(
            f"acceptance gate failed: keep F1={f1:.6f} (gate >=0.99), "
            f"byte-exact scrub fraction={scrub_exact:.6f} (gate =1.0)"
        )
    row = (
        int(len(spark_out)),
        int(len(ref)),
        int(joined.sum()),
        round(f1, 6),
        round(float((m.keep_s == m.keep_r).mean()), 6),
        round(scrub_exact, 6),
        round(conv_agree, 6),
        bool(f1 >= 0.99),
        bool(scrub_exact == 1.0),
    )
    return spark.createDataFrame(
        [row],
        schema=(
            "n_spark_turns int, n_reference_turns int, n_joined int, "
            "keep_f1 double, keep_agreement double, scrub_exact_frac double, "
            "conv_verdict_agreement double, gate_f1_ge_099 boolean, "
            "gate_scrub_byte_exact boolean"
        ),
    )


@register("doc_perplexity_separation", None)
def doc_perplexity_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-model quality the driver harness can falsify (the LM
    analog of doc_langid_separable): score a held-out seeded clean-English
    corpus and a same-length gibberish corpus under the default LM and
    emit per-class mean perplexity plus the separation margin — VALUES
    flip if the LM breaks, not just row counts.  Pinned floor: every
    gibberish doc must score above every clean doc (min_gibberish >
    max_clean), the property the pipeline's ppl threshold rule relies on.
    """
    import numpy as np

    from moira_spark.datagen import corpora
    from moira_spark.kernels import lm

    bc = spark.sparkContext.broadcast(lm.default_model())
    rng = np.random.RandomState(7041)
    rows = [
        {"doc_id": f"clean_{i:03d}", "cls": "clean",
         "text": corpora.en_sentence(rng, 40)}
        for i in range(150)
    ] + [
        {"doc_id": f"gibberish_{i:03d}", "cls": "gibberish",
         "text": corpora.gibberish(rng, 220)}
        for i in range(150)
    ]
    sdf = spark.createDataFrame(pd.DataFrame(rows))

    @F.pandas_udf("double")
    def ppl(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        m = bc.value
        for texts in batches:
            yield pd.Series(m.perplexity(texts.fillna("").tolist()))

    scored = sdf.withColumn("ppl", ppl(F.col("text")))
    per_cls = scored.groupBy("cls").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("ppl"), 6).alias("mean_ppl"),
        F.round(F.min("ppl"), 6).alias("min_ppl"),
        F.round(F.max("ppl"), 6).alias("max_ppl"),
    )
    bounds = scored.groupBy().agg(
        F.max(F.when(F.col("cls") == "clean", F.col("ppl"))).alias("max_clean"),
        F.min(F.when(F.col("cls") == "gibberish", F.col("ppl"))).alias(
            "min_gibberish"
        ),
    )
    out = per_cls.crossJoin(F.broadcast(bounds)).select(
        "cls",
        "n_docs",
        "mean_ppl",
        "min_ppl",
        "max_ppl",
        (F.col("min_gibberish") > F.col("max_clean")).alias("fully_separated"),
    )
    return _assert_and_rebuild(
        spark,
        out,
        lambda p: bool(p.fully_separated.all()),
        "perplexity no longer separates gibberish from clean text",
    )
