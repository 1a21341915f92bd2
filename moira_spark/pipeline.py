"""End-to-end Spark quality-filter pipeline (the product).

Plan shape (one action; SURVEY.md §3.2):

  scan -> stable-order dedupe (window) -> native rule columns (codegen)
       -> ONE fused Arrow UDF (langid/ppl/repetition/scrub)
       -> per-turn verdict columns -> salted conv-level agg -> verdict join

The per-turn semantics are the oracle's (moira_spark/oracle/ref_pipeline.py)
re-expressed on Spark primitives; both call the same kernels, which is what
makes the F1 and byte-exact gates hold (BASELINE.json:2).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from moira_spark import config
from moira_spark.operators import conv_agg, ordering, rules
from moira_spark.operators.udfs import make_score_udf

LABEL_COLUMNS = (
    "conv_id",
    "turn_idx",
    "keep",
    "reasons",
    "scrubbed_text",
    "lang",
    "lang_conf",
    "ppl",
    "conv_keep",
)
# Write order of every labels run (job buckets and streaming batches): each
# file then covers a near-disjoint conv_id range, so the per-file zone maps
# let a conversation point read plan one file per run.  turn_idx lets the
# range partitioner split a hot conversation across files.
LABEL_SORT = ("conv_id", "turn_idx")


def score_turns(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Dedupe + all per-turn rule/score columns (no conversation agg yet)."""
    return score_turns_stream(spark, ordering.dedupe_stable(df))


def score_turns_stream(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Per-turn scoring without the dedupe window — safe inside a streaming
    plan (the window needs a watermark aggregation; in the streaming path
    dedupe is the upstream writer's contract or a stateful op)."""
    # Cheap native rules first: JVM codegen, no Python involved.
    df = df.withColumn("length_fail", rules.length_rule_fails()).withColumn(
        "symbol_fail", rules.symbol_rule_fails()
    )

    # One fused Arrow UDF for everything that needs Python/numpy.
    score = make_score_udf(spark)
    df = df.withColumn("_s", score(rules.text_col()))
    df = df.select(
        "*",
        F.col("_s.rep_fail").alias("rep_fail"),
        F.col("_s.lang").alias("lang"),
        F.col("_s.lang_conf").alias("lang_conf"),
        F.col("_s.ppl").alias("ppl"),
        # NULL = "scrubber left it unchanged" (operators/udfs.py): restore
        # from the identical JVM-side text expression, byte-exact
        F.coalesce(F.col("_s.scrubbed_text"), rules.text_col()).alias(
            "scrubbed_text"
        ),
        F.col("_s.had_pii").alias("had_pii"),
        F.col("_s.toxic").alias("toxic"),
    ).drop("_s")

    lang_fail = ~(
        F.col("lang").isin(*config.LANG_ALLOWLIST)
        & (F.col("lang_conf") >= F.lit(config.LANG_MIN_CONF))
    )
    ppl_fail = (F.col("ppl") > F.lit(config.PPL_MAX)) & (
        rules.n_chars() >= F.lit(config.PPL_MIN_CHARS)
    )
    df = (
        df.withColumn("lang_fail", lang_fail)
        .withColumn("ppl_fail", ppl_fail)
        .withColumn("toxic_fail", F.col("toxic"))
    )

    reason_flag = {
        config.REASON_LANGUAGE: "lang_fail",
        config.REASON_LENGTH: "length_fail",
        config.REASON_PERPLEXITY: "ppl_fail",
        config.REASON_REPETITION: "rep_fail",
        config.REASON_SYMBOL: "symbol_fail",
        config.REASON_TOXICITY: "toxic_fail",
    }
    # reasons: already in sorted order because ALL_REASONS is sorted.
    reasons = F.filter(
        F.array(
            *[
                F.when(F.col(reason_flag[r]), F.lit(r))
                for r in config.ALL_REASONS
            ]
        ),
        lambda x: x.isNotNull(),
    )
    keep = ~(
        F.col("lang_fail")
        | F.col("length_fail")
        | F.col("ppl_fail")
        | F.col("rep_fail")
        | F.col("symbol_fail")
        | F.col("toxic_fail")
    )
    return df.withColumn("reasons", reasons).withColumn("keep", keep)


def run_pipeline(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Full pipeline -> label frame (FIXTURES.md §2 schema).

    The scored frame is persisted because it feeds BOTH the per-turn
    output and the conversation-verdict aggregation.  Without persistence
    Spark recomputes the whole upstream plan — including the Arrow UDF
    stack — once per branch (verified via explain(); the plan showed two
    ArrowEvalPython subtrees).
    """
    scored = score_turns(spark, df).persist()
    verdicts = conv_agg.conversation_verdicts(scored)
    labeled = conv_agg.attach_conv_verdicts(scored, verdicts)
    out = labeled.select(*LABEL_COLUMNS)
    # Hand the internally-persisted frame to the caller: unpersisting the
    # *returned* plan would be a no-op (Dataset.unpersist only drops the cache
    # entry for that exact plan), so long-running callers (bucketed job,
    # foreachBatch streaming) use release_cache() once the labels are staged.
    out._moira_scored = scored
    # Also expose the pre-projection frame (labels + the pass-through
    # role/tool/ts columns): filtered_output uses it to avoid re-running the
    # dedupe window and a join over the whole source just to recover columns
    # this plan already carried.
    out._moira_labeled = labeled
    return out


def release_cache(labels: DataFrame) -> None:
    """Unpersist the frame run_pipeline() cached while building ``labels``.

    Call once the labels have been materialized (staged); a no-op for
    frames not produced by run_pipeline.
    """
    scored = getattr(labels, "_moira_scored", None)
    if scored is not None:
        scored.unpersist()


def filtered_output(labels: DataFrame, original: DataFrame) -> DataFrame:
    """The 'good' sink: kept turns of kept conversations, scrubbed text.

    moira's .qc.good writer analog [M]; the 'bad' side is the complement and
    the audit table carries the per-partition metrics (job.audit_rows).

    Fast path: frames produced by run_pipeline carry the pre-projection plan
    (role/tool/ts already attached to every labeled turn), so the sink is a
    pure filter+project — no second dedupe window, no join back over the
    source (which roughly doubled the dominant shuffle).  The join fallback
    remains for label frames loaded from a table.
    """
    full = getattr(labels, "_moira_labeled", None)
    if full is not None:
        out = full.filter(F.col("keep") & F.col("conv_keep")).select(
            "conv_id",
            "turn_idx",
            "role",
            F.col("scrubbed_text").alias("text"),
            "tool",
            "ts",
        )
    else:
        kept = labels.filter(F.col("keep") & F.col("conv_keep"))
        # Dedupe the source the same way the label branch did, else duplicate
        # (conv_id, turn_idx) retry rows would fan out the inner join.
        src = ordering.dedupe_stable(original).select(
            "conv_id", "turn_idx", "role", "tool", "ts"
        )
        out = kept.join(src, ["conv_id", "turn_idx"], "inner").select(
            "conv_id",
            "turn_idx",
            "role",
            F.col("scrubbed_text").alias("text"),
            "tool",
            "ts",
        )
    # forward the cache handle so callers can still release_cache()
    out._moira_scored = getattr(labels, "_moira_scored", None)
    return out
