"""JSONL (newline-delimited JSON) source/sink — the interchange format
LLM-corpus pipelines actually ship (raw crawls in, packed training shards
out), wrapped with the two decisions that matter at scale baked in:

1. **Never infer schema.**  ``spark.read.json`` without a schema runs a
   full extra pass over the data just to guess types, and the guess can
   drift between snapshots (an all-null column one day is string the
   next), silently changing downstream plans.  ``read_jsonl`` therefore
   REQUIRES an explicit schema.
2. **Corrupt lines are data, not exceptions.**  Web-scale JSONL always
   contains torn lines; the reader defaults to PERMISSIVE with a
   ``_corrupt_record`` column so a pipeline can count/quarantine them
   (the audit-sink pattern), while ``mode='FAILFAST'`` is one argument
   away when ingest must be strict.

The writer packs shards with an explicit shard count (round-robin
repartition, balanced files regardless of upstream skew), optional
within-shard ordering for reproducible diffs, and gzip by default
because text shards are cold storage.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: "StructType | str",
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Read JSONL at ``path`` with the given (required) schema.

    In PERMISSIVE mode the returned frame carries ``_corrupt_record``:
    null for clean rows, the raw line for torn ones (all data columns
    null there).  Spark requires the corrupt column to be part of the
    schema it parses into, so it is appended here — callers that already
    declared it keep their own position."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if mode.upper() == "PERMISSIVE" and CORRUPT_COL not in schema.names:
        schema = schema.add(CORRUPT_COL, "string")
    return (
        spark.read.schema(schema)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def corrupt_line_count(df: DataFrame) -> int:
    """Count quarantinable lines of a PERMISSIVE read — the number the
    audit sink records next to input/kept/dropped."""
    if CORRUPT_COL not in df.columns:
        return 0
    # Spark disallows queries whose only referenced column from a raw
    # JSON scan is the internal corrupt-record column
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and column
    # pruning strips any decoy column from the count plan — the
    # documented workaround is to materialize first.  The cache holds
    # only the corrupt column plus one data column, and is released
    # before returning.
    data_cols = [c for c in df.columns if c != CORRUPT_COL]
    probe = df.select(CORRUPT_COL, *data_cols[:1]).cache()
    try:
        return probe.filter(F.col(CORRUPT_COL).isNotNull()).count()
    finally:
        probe.unpersist()


def write_jsonl(
    df: DataFrame,
    path: str,
    shards: int | None = None,
    sort_within_shards: "str | None" = None,
    compression: "str | None" = "gzip",
    mode: str = "error",
) -> None:
    """Write ``df`` as JSONL shards.  ``shards`` fixes the output-file
    count via round-robin repartition; ``sort_within_shards`` names a
    column to order by inside each shard (reproducible diffs, no global
    sort); ``compression=None`` writes plain text."""
    out = df.drop(CORRUPT_COL) if CORRUPT_COL in df.columns else df
    if shards:
        out = out.repartition(shards)
    if sort_within_shards:
        out = out.sortWithinPartitions(sort_within_shards)
    w = out.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)
