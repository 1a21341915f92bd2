"""Structured Streaming variant of the quality filter.

The product pipeline is batch-first with snapshot resume (BASELINE.json:6 —
"snapshot-based incremental resume"), but the per-turn scoring stack is
stateless and runs unchanged under Structured Streaming.  This module wires
it up for continuous ingestion:

  readStream(parquet dir) -> foreachBatch: ``run_pipeline`` on the batch
  (dedupe, native rules, the same fused Arrow UDF, conversation verdicts)
  + snapshot-table append.

Conversation-level verdicts are computed per micro-batch inside
``foreachBatch`` (Spark's documented reuse pattern): each arriving batch
carries whole conversations (the generator/upstream writer emits
conversation-atomic files), so the batch conv-agg semantics apply directly.
For conversations split across micro-batches the audit/labels table is
re-aggregatable downstream — the per-turn verdicts are exact either way.
Each batch's labels are written sorted on ``pipeline.LABEL_SORT``, the
job's layout, so conversation point reads prune files in both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from moira_spark.datagen.transcripts import PIPELINE_SCHEMA
from moira_spark.pipeline import LABEL_SORT, release_cache, run_pipeline
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
    schema = PIPELINE_SCHEMA
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    src: DataFrame = reader.parquet(input_dir)
    table = SnapshotTable(output_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        run_id = f"stream-batch-{batch_id}"
        if table.is_committed(run_id):
            return  # replayed micro-batch after restart: already committed
        labels = run_pipeline(spark, batch_df)
        try:
            table.stage(labels, run_id, cluster_by=list(LABEL_SORT))
        finally:
            # Drop the pipeline's internal persisted frame once the batch is
            # staged (the commit reads the staged files), and on a failed
            # stage too — unpersisting the returned `labels` plan would be a
            # no-op (different cache entry) and would leak one cached copy
            # per micro-batch.
            release_cache(labels)
        table.commit(spark, run_id)

    return (
        src.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
