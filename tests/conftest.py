"""Shared fixtures: one local SparkSession per test session."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from moira_spark.session import build_session

    sp = build_session(app_name="moira-spark-tests", cores=4, shuffle_partitions=8)
    yield sp
    sp.stop()


@pytest.fixture
def file_values(spark):
    """``file_values(table, run, col)``: per data file of a staged run,
    the values of ``col`` (a name or Column) read back file by file — the
    ground truth for per-file zone maps.  Files without rows are left out,
    as commit leaves them out of ``file_stats``."""
    import os

    def values(table, run, col):
        d = table.staged_dir(run)
        out = {}
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".parquet"):
                rows = spark.read.parquet(os.path.join(d, fn)).select(col)
                vals = [r[0] for r in rows.collect()]
                if vals:
                    out[fn] = vals
        return out

    return values
