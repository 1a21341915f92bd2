"""Layer probes for the traced run: single-threaded kernel timings and the
pipeline split by prefix materialisation.

Kernel time inside the Python workers cannot be wrapped from the driver, so
the kernels are timed here, in this process, on a seeded sample of turns.
"""

from __future__ import annotations

import statistics
import time

from perfbench.stats import Stopwatch


def _timed(fn, reps: int) -> float:
    runs = []
    for _ in range(reps):
        with Stopwatch() as w:
            fn()
        runs.append(w.s)
    return statistics.median(runs)


def kernel_timings(texts: list[str], reps: int = 3) -> dict[str, float]:
    from moira_spark.kernels import hashing, langid, lm, scrub, score
    from moira_spark.kernels import text as textk

    lid, blm = langid.default_model(), lm.default_model()
    buf, lens, offs = hashing.pack_texts(texts)
    scrubbed, _, _ = scrub.scrub_batch(texts)
    score_s = _timed(lambda: score.score_batch(texts, lid, blm), reps)
    return {
        "kernels.pack_s": _timed(lambda: hashing.pack_texts(texts), reps),
        "kernels.langid_s": _timed(lambda: lid.predict_packed(buf, lens, offs), reps),
        "kernels.ppl_s": _timed(lambda: blm.perplexity_packed(buf, lens, offs), reps),
        "kernels.repetition_s": _timed(lambda: textk.repetition_flags(texts), reps),
        "kernels.scrub_s": _timed(lambda: scrub.scrub_batch(texts), reps),
        "kernels.score_batch_texts_per_s": len(texts) / score_s,
        "kernels.scrub_changed_frac": sum(a != b for a, b in zip(scrubbed, texts))
        / len(texts),
    }


# span names of the pipeline prefixes in plan order; each prefix includes
# all earlier ones, so a layer's self time is the difference to the last.
PIPELINE_PREFIXES = (
    "pipeline.scan",
    "ordering.dedupe",
    "rules.rules",
    "udfs.score",
    "conv_agg.verdict_join",
)


def _prefix_frames(spark, src):
    from moira_spark import pipeline
    from moira_spark.operators import ordering, rules

    deduped = ordering.dedupe_stable(src)
    return {
        "pipeline.scan": lambda: src,
        "ordering.dedupe": lambda: deduped,
        "rules.rules": lambda: deduped.withColumn(
            "length_fail", rules.length_rule_fails()
        ).withColumn("symbol_fail", rules.symbol_rule_fails()),
        "udfs.score": lambda: pipeline.score_turns(spark, src),
        "conv_agg.verdict_join": lambda: pipeline.run_pipeline(spark, src),
    }


def pipeline_split(spark, src_path: str, tracer) -> dict[str, float]:
    """Materialise each pipeline prefix to the noop sink under its own span;
    -> {prefix: wall}.  Self time of a layer = its wall minus the previous
    prefix's."""
    from moira_spark.pipeline import release_cache

    src = spark.read.parquet(src_path)
    frames = _prefix_frames(spark, src)
    walls: dict[str, float] = {}
    for name in PIPELINE_PREFIXES:
        with tracer.span(name):
            t0 = time.perf_counter()
            df = frames[name]()
            df.write.format("noop").mode("overwrite").save()
            walls[name] = time.perf_counter() - t0
        release_cache(df)
    return walls
