"""Structured Streaming variant of the quality filter.

The product is batch-first with snapshot resume (BASELINE.json:6), but the
per-turn scoring stack is stateless and runs unchanged under Structured
Streaming: readStream(parquet dir) -> foreachBatch, which runs
``run_pipeline`` on the batch (dedupe, native rules, the same fused Arrow
UDF, conversation verdicts) and then the job's per-bucket commit path
(``job.stage_labels``, ``job.commit_with_audit``), one batch for one bucket.

Conversation verdicts are computed per micro-batch (Spark's documented
foreachBatch reuse pattern): the upstream writer emits conversation-atomic
files, so the batch conv-agg semantics apply directly; a conversation split
across micro-batches is judged per part, with exact per-turn verdicts.
Labels runs are staged sorted on ``pipeline.LABEL_SORT``.  Each batch's
audit rows (run ``stream-batch-<id>``, ``snapshot_bucket`` = batch id) go to
the sibling table ``<output_dir>_audit`` and commit first; a crash between
the two commits has the job's rule: the replayed batch re-stages its labels
and keeps the committed audit run.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from moira_spark.datagen.transcripts import PIPELINE_SCHEMA
from moira_spark.job import commit_with_audit, stage_labels
from moira_spark.pipeline import run_pipeline
from moira_spark.sources.tableio import SnapshotTable


def stream_labels(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Start (or define) the streaming query; returns the StreamingQuery.

    ``max_files_per_trigger`` bounds each micro-batch (and under
    availableNow forces a multi-batch run — useful to exercise the
    per-batch commit/replay protocol).
    """
    reader = spark.readStream.schema(PIPELINE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    src: DataFrame = reader.parquet(input_dir)
    table = SnapshotTable(output_dir)
    audit = SnapshotTable(f"{output_dir.rstrip('/')}_audit")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        run = f"stream-batch-{batch_id}"
        if table.is_committed(run):
            return  # replayed micro-batch after restart: already committed
        t0 = time.time()
        labels = run_pipeline(spark, batch_df)
        schema = stage_labels(table, labels, run)
        wall_ms = int((time.time() - t0) * 1000)
        commit_with_audit(spark, table, audit, run, schema, run, batch_id, wall_ms)

    return (
        src.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
