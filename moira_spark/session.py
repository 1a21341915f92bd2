"""SparkSession construction with scale-appropriate defaults.

Single place where execution knobs live so tests, bench, and the
spark-submit driver all agree.  Arrow is enabled for every pandas-UDF
boundary; AQE handles runtime re-planning (skew joins, partition coalescing)
— see SURVEY.md §4.2.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _master_preconfigured() -> bool:
    """True when a master is already supplied externally (spark-submit
    --master, MASTER env, or an already-running session).  Builder-level
    .master() would override spark-submit and silently run the whole job
    single-node on the driver, so we only set local[] when nothing else did.
    """
    if os.environ.get("MASTER") or os.environ.get("SPARK_MASTER_URL"):
        return True
    # spark-submit launches the python driver against a pre-built JVM gateway
    # whose system properties carry --master; never override it.
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        return True
    try:
        if SparkSession.getActiveSession() is not None:
            return True
        from pyspark import SparkConf

        # Loads JVM system properties (set by spark-submit) when the gateway
        # is up; before the gateway exists this is an empty conf.
        return SparkConf(loadDefaults=True).contains("spark.master")
    except Exception:
        return False


def build_session(
    app_name: str = "moira-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # >= 2x cores so stragglers rebalance; at cluster scale this is set
        # per-job from input size (or left to AQE coalescing from a high cap).
        shuffle_partitions = max(2 * cores, 8)
    builder = SparkSession.builder
    if not _master_preconfigured():
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Determinism across hosts: window/date semantics must not depend on
        # the JVM default timezone (the streaming day-window query and every
        # DuckDB timestamp comparison assume UTC).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size: big enough to amortize the JVM<->Python hop,
        # small enough to keep per-batch memory bounded at wide rows
        # (~10 MB/batch at transcript row widths).  A/B'd on the flagship
        # pipeline in a clean host window: 30k beat 10k on every matched
        # pair (best 3.18s vs 4.04s over 200k turns) — fewer round trips
        # through the scalar-iter UDF stack, same per-executor footprint.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "30000")
        # Scan parallelism floor for small inputs (r7).  With the default
        # openCostInBytes=4m, a single few-MB parquet file splits into 2-4
        # scan tasks, and every downstream map-side stage (explodes,
        # broadcast-join probes, generator fan-outs) inherits that width —
        # measured as a 268M-row candidate-pair join grinding on 4 of 32
        # cores.  256k lets maxSplitBytes fall to totalBytes /
        # defaultParallelism for small inputs (full-width scans) while
        # leaving large-file behavior unchanged (maxPartitionBytes still
        # caps splits at 128m; at production scale files are >=128m and
        # openCost never binds).
        .config("spark.sql.files.openCostInBytes", "262144")
        # Let the planner pick shuffled-hash join when its size conditions
        # hold instead of defaulting to sort-merge (guide §3.1/§9).  r7
        # A/B at sf1.0: dedup_containment 43-48s -> 31.5s (the shingle
        # self-join's sort was pure overhead at 10^8-row fan-out);
        # dedup_jaccard cold runs -22%.  AQE skew-join still applies to
        # both strategies; broadcast precedence is unchanged.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
