"""Driver-contract query registry.

``REGISTRY`` maps query name -> (spark_callable, oracle_sql_or_None).
Callables take (spark, sf_dir) and return a DataFrame; oracle SQL is ANSI
SQL DuckDB runs on the same parquet tables (views pre-registered by the
driver).  Names and column aliases MUST match between the two sides — the
driver compares row count + schema + order-insensitive value hash.

Float-safety conventions used throughout (see tests/test_harness.py):
- raw-double sums: integerize first (round(x*1000) -> bigint);
- any ranking on a float: rank on the ROUNDED value with an id tiebreak.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

# oracle SQL may be registered as a zero-arg callable, rendered at
# oracle_sql() call time: an oracle whose thresholds come from config.py
# must read them AFTER any config.apply_overrides() CLI mutation, exactly
# when the Spark side does — an f-string baked at import time would let an
# override silently diverge the checked pair (ADVICE r4).
REGISTRY: dict[str, tuple[SparkQuery, "str | Callable[[], str] | None"]] = {}


def register(name: str, sql: "str | Callable[[], str] | None"):
    def deco(fn: SparkQuery) -> SparkQuery:
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def words_col() -> Column:
    """``text`` split on single spaces with empty tokens dropped: the word
    stream every text and dedup query shares (DuckDB side:
    ``LIST_FILTER(STRING_SPLIT(text, ' '), x -> x != '')``)."""
    return F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))


# Import for registration side effects.
from moira_spark.harness import (  # noqa: E402,F401
    dedup,
    graph,
    jobs,
    similarity,
    streaming,
    text,
    transcripts,
)

# queries() order: the transcript quality filter's own queries first, then
# every other query in registration order.
_FLAGSHIP: tuple[str, ...] = (
    "transcripts_pipeline",
    "pipeline_f1_vs_reference",
    "transcripts_audit",
    "transcripts_good_sink",
    "transcripts_structure_lint",
    "doc_langid",
    "doc_langid_separable",
    "doc_perplexity",
    "doc_perplexity_separation",
    "read_pair_assembly",
    "read_expected_errors",
    "read_expected_errors_bootstrap",
    "doc_winnow_fingerprint",
    "job_resume_identity",
    "table_maintenance_lifecycle",
)


def _ordered() -> dict[str, tuple[SparkQuery, str | None]]:
    head = {n: REGISTRY[n] for n in _FLAGSHIP if n in REGISTRY}
    tail = {n: v for n, v in REGISTRY.items() if n not in head}
    return {**head, **tail}


def queries() -> dict[str, SparkQuery]:
    return {name: fn for name, (fn, _) in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: (sql() if callable(sql) else sql)
        for name, (_, sql) in _ordered().items()
        if sql is not None
    }
