"""Resumable quality-filter job: chunked, snapshot-committed, audited.

The production entry (driver script for ``spark-submit --py-files``) splits
the input into ``n_buckets`` conv_id hash buckets, so each conversation is
judged whole inside one bucket (its verdict depends on all its turns).  Each
bucket is filtered, staged, audited and committed as one snapshot.  A
background thread stages bucket b+1 while the caller's thread audits and
commits bucket b, in bucket order, so a crash — executor or driver — loses
at most those two buckets, both only in staging directories invisible to
readers (sources/tableio.py).  Re-running the same run_id skips every
committed bucket and reproduces the identical final table (pinned in
tests/test_resume.py).  "Committed" has one rule for the labels and audit
tables alike, ``SnapshotTable.is_committed(bucket_run)``: it also counts
runs a compaction or merge has since folded away.

The per-bucket commit path, ``stage_labels`` then ``commit_with_audit``, is
shared: each streaming micro-batch runs it too (streaming/stream_filter.py).
Labels runs are staged sorted on ``pipeline.LABEL_SORT`` = (conv_id,
turn_idx), Iceberg's sorted write distribution: every file of a run then
covers a near-disjoint conv_id slice, so the per-file zone maps let
``read(filters=[("conv_id", "=", c)])`` plan one file per run, not every file.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from moira_spark import config
from moira_spark.pipeline import LABEL_SORT, release_cache, run_pipeline
from moira_spark.sources.tableio import SnapshotTable

AUDIT_SCHEMA_DOC = (
    "run_id string, snapshot_bucket int, partition_id int, input_turns long, "
    "kept_turns long, dropped_turns long, rule_hits map<string,long>, "
    "convs_dropped long, wall_ms long"
)


def _bucket_of(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets))


def audit_rows(labels: DataFrame, run_id: str, bucket: int, wall_ms: int) -> DataFrame:
    """Per-(Spark-partition) lineage/metric rows for the audit table: one
    aggregate over one scan of ``labels``.  ``rule_hits`` counts each reason
    with a ``count_if`` (exact because ``reasons`` never repeats a reason)
    and keeps the non-zero entries, in ``ALL_REASONS`` (sorted) order.  A
    partition where no rule fired gets an EMPTY map, never NULL: the audit
    schema declares map<string,long> and downstream map ops (element_at,
    map_concat) must not hit nulls."""
    hits = F.create_map(
        *[
            e
            for r in config.ALL_REASONS
            for e in (F.lit(r), F.count_if(F.array_contains("reasons", r)))
        ]
    )
    return (
        labels.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("input_turns"),
            F.count_if(F.col("keep")).alias("kept_turns"),
            F.count_if(~F.col("keep")).alias("dropped_turns"),
            F.map_filter(hits, lambda _, n: n > 0).alias("rule_hits"),
            F.countDistinct(F.when(~F.col("conv_keep"), F.col("conv_id"))).alias(
                "convs_dropped"
            ),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(bucket).alias("snapshot_bucket"),
            "partition_id",
            "input_turns",
            "kept_turns",
            "dropped_turns",
            "rule_hits",
            "convs_dropped",
            F.lit(wall_ms).cast("long").alias("wall_ms"),
        )
    )


def stage_labels(table: SnapshotTable, labels: DataFrame, run: str) -> StructType:
    """Stage ``labels`` as ``run`` sorted on ``LABEL_SORT``, then release the
    frame ``run_pipeline`` cached for it, failed or not; -> its schema."""
    try:
        table.stage(labels, run, cluster_by=list(LABEL_SORT))
    finally:
        release_cache(labels)
    return labels.schema


def commit_with_audit(
    spark: SparkSession, labels_table: SnapshotTable, audit_table: SnapshotTable,
    run: str, schema: StructType, run_id: str, bucket: int, wall_ms: int,
) -> None:
    """Audit the staged labels run ``run`` under its own name, then commit it."""
    # commit order: audit first, labels last.  A crash between the two leaves
    # a committed audit run whose labels are not; the replay re-stages the
    # labels (an unreferenced orphan) but MUST NOT re-stage the audit dir: a
    # committed snapshot references it, and overwriting it would break
    # snapshot immutability.  The committed copy's totals equal any re-run's.
    # Its per-partition split follows the shuffle's partition count and AQE
    # coalescing, so it is reproducible only under the same settings.
    if not audit_table.is_committed(run):
        # the known schema spares a schema-inference job; conv_id hash
        # partitions count a conversation split between two files of the
        # sorted run once in the summed convs_dropped, as any bucketing does
        staged = spark.read.schema(schema).parquet(labels_table.staged_dir(run))
        rows = audit_rows(staged.repartition("conv_id"), run_id, bucket, wall_ms)
        audit_table.stage(rows, run)
        audit_table.commit(spark, run)
    labels_table.commit(spark, run)


def run_filter_job(
    spark: SparkSession,
    source: DataFrame,
    output_dir: str,
    run_id: str,
    n_buckets: int = 4,
    fail_after_buckets: int | None = None,
) -> SnapshotTable:
    """Filter ``source`` into ``output_dir`` (labels + audit tables).

    One worker thread stages the next bucket while this thread audits and
    commits the current one, in bucket order: the committed buckets always
    form a prefix of the buckets to do, and a staging error is raised once
    every earlier bucket has committed.

    ``fail_after_buckets`` is a test hook: raise after committing that many
    buckets, simulating a driver crash mid-job (the bucket staging in the
    background is left an uncommitted orphan).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    labels_table = SnapshotTable(f"{output_dir}/labels")
    audit_table = SnapshotTable(f"{output_dir}/audit")
    # resume: skip buckets committed, possibly since folded by maintenance
    todo = [
        b for b in range(n_buckets)
        if not labels_table.is_committed(f"{run_id}-b{b}")
    ]

    def stage(bucket: int):
        t0 = time.time()
        slice_df = source.filter(_bucket_of(F.col("conv_id"), n_buckets) == bucket)
        labels = run_pipeline(spark, slice_df)
        schema = stage_labels(labels_table, labels, f"{run_id}-b{bucket}")
        return schema, int((time.time() - t0) * 1000)

    # Exiting the pool waits for an in-flight staging run, so a failed job
    # never leaves a thread writing a staging dir its resume will overwrite
    # (that run's own result is dropped: the job is already failing).
    with ThreadPoolExecutor(max_workers=1) as pool:

        def submit(i: int):
            # wrapped per submit: the worker inherits this thread's Spark
            # local properties (job description) and session tags as of now
            return pool.submit(inheritable_thread_target(spark)(stage), todo[i])

        pending = submit(0) if todo else None
        for i, bucket in enumerate(todo):
            schema, wall_ms = pending.result()
            pending = submit(i + 1) if i + 1 < len(todo) else None
            commit_with_audit(spark, labels_table, audit_table, f"{run_id}-b{bucket}",
                              schema, run_id, bucket, wall_ms)
            if fail_after_buckets is not None and i + 1 >= fail_after_buckets:
                raise RuntimeError(f"injected crash after {i + 1} buckets")
    return labels_table
