"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The tests below the "spark" line start local Spark sessions and take a
few minutes; ``-k "not spark"`` runs only the pure ones.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run, stats, trace, workloads

ROOT = run.ROOT
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


# ------------------------------------------------------------------ pure
def test_metric_lists_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.E2E_UNITS
    assert [m["name"] for m in BENCH["per_layer"]] == list(run.LAYER_METRICS)
    for m in BENCH["per_layer"]:
        assert m["unit"] == stats.unit_of(m["name"])
    assert {w["name"] for w in BENCH["workloads"]} <= set(workloads.WORKLOADS)


def test_tail_needs_ten_samples_beyond():
    xs = list(range(1, 41))  # 40 samples
    value, pct, n = stats.tail(xs)
    assert (value, n) == (30, 40) and sum(x > value for x in xs) == 10
    assert stats.tail([3.0, 1.0, 2.0])[0] == 3.0  # too few: the maximum


def test_covered_and_self_times():
    assert trace.covered([(0, 2), (1, 3), (5, 6)]) == 4
    spans = [
        trace.Span(1, "root", 0.0, 10.0, None, "r"),
        trace.Span(2, "a", 1.0, 4.0, 1, "r"),
        trace.Span(3, "b", 3.0, 6.0, 1, "r"),
    ]
    assert trace.self_times(spans) == {"root": 5.0, "a": 3.0, "b": 3.0}


def _event(**kv):
    return json.dumps(kv) + "\n"


def _task_end(stage, run_ms, read=0, shuffle=0, spill=0):
    return _event(**{
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Input Metrics": {"Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle},
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
        },
    })


def test_parse_event_log_attributes_counters_to_layers(tmp_path):
    scan = {
        "nodeName": "Scan parquet ",
        "metadata": {"Location": "InMemoryFileIndex(1 paths)[file:/data/src]"},
        "metrics": [{"name": "size of files read", "accumulatorId": 7}],
        "children": [],
    }
    log = tmp_path / "app"
    log.write_text(
        _event(Event="SparkListenerJobStart", **{"Stage IDs": [0, 1]},
               Properties={"spark.job.description": "tableio.stage.labels",
                           "spark.sql.execution.id": "0"})
        + _event(Event="org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                 executionId=0, sparkPlanInfo={"nodeName": "Write", "children": [scan]})
        + _event(Event="org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
                 executionId=0, accumUpdates=[[7, 1000]])
        + _task_end(0, 100, read=10, shuffle=5)
        + _task_end(0, 300, read=10, shuffle=5)
        + _task_end(1, 50, spill=3)
        + _event(Event="SparkListenerJobStart", **{"Stage IDs": [2]}, Properties={})
        + _task_end(2, 10, read=1)
    )
    ev = trace.parse_event_log(str(log), source_dir="/data/src")
    layer = ev["layers"]["tableio.stage.labels"]
    assert layer["input_bytes"] == 20 and layer["shuffle_write_bytes"] == 10
    assert layer["spill_bytes"] == 3 and layer["tasks"] == 3
    assert layer["task_skew"] == 300 / 200  # heaviest multi-task stage
    assert ev["layers"]["unlabelled"]["input_bytes"] == 1
    assert ev["source_bytes_read"] == {"tableio.stage.labels": 1000}


class _FakeContext:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        self.props[k] = v


class _FakeSpark:
    sparkContext = _FakeContext()


def test_tracer_install_uninstall_restores_originals():
    from moira_spark import job, pipeline
    from moira_spark.sources.tableio import SnapshotTable
    from moira_spark.streaming import stream_filter

    before = (dict(vars(SnapshotTable)), job.audit_rows, job.run_pipeline,
              stream_filter.run_pipeline, pipeline.run_pipeline)
    t = trace.Tracer(_FakeSpark(), "r")
    t.install()
    assert job.audit_rows is not before[1]
    assert vars(SnapshotTable)["commit"] is not before[0]["commit"]
    t.uninstall()
    after = (dict(vars(SnapshotTable)), job.audit_rows, job.run_pipeline,
             stream_filter.run_pipeline, pipeline.run_pipeline)
    assert after == before


def test_span_sets_and_restores_job_description():
    spark = _FakeSpark()
    spark.sparkContext.props.clear()
    t = trace.Tracer(spark, "r")
    with t.span("outer"):
        with t.span("inner"):
            assert spark.sparkContext.props["spark.job.description"] == "inner"
        assert spark.sparkContext.props["spark.job.description"] == "outer"
    assert spark.sparkContext.props["spark.job.description"] is None
    inner, outer = t.spans
    assert inner.parent == outer.id and outer.parent is None


def test_refuses_to_run_without_the_program(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: exit non-zero, fast,
    and print no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "job_bucketed",
         "--seed", "0", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


# ----------------------------------------------------------------- spark
@pytest.fixture(scope="module")
def corpus_run(tmp_path_factory):
    """One untraced corpus_queries run in a subprocess."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_queries",
         "--seed", "0", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return proc.stdout


def test_spark_every_end_to_end_metric_printed_with_unit(corpus_run):
    lines = corpus_run.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for name, unit in run.E2E_UNITS.items():
        assert result["metrics"][name]["unit"] == unit
        assert result["metrics"][name]["value"] > 0
        assert any(l.split()[:1] == [name] and l.split()[-1] == unit for l in lines)
    for name in ("queries_total_s", "queries_geomean_s", "error_rate", "peak_rss_mb"):
        assert any(l.split()[:1] == [name] for l in lines)


@pytest.fixture()
def session(tmp_path, monkeypatch):
    monkeypatch.setattr(sys, "path", [ROOT] + sys.path)
    env = dict(os.environ)
    run.prepare_env(str(tmp_path))
    spark = run.start_session(2, str(tmp_path))
    yield spark
    run.shutdown_spark()
    os.environ.clear()
    os.environ.update(env)


def test_spark_untraced_session_has_no_event_log_and_no_wrappers(session, tmp_path, monkeypatch):
    from moira_spark.sources.tableio import SnapshotTable

    installed = []
    monkeypatch.setattr(trace.Tracer, "install", lambda self: installed.append(self))
    commit = vars(SnapshotTable)["commit"]
    assert session.sparkContext.getConf().get("spark.eventLog.enabled", "false") == "false"
    wl = workloads.WORKLOADS["corpus_queries"](str(tmp_path), str(tmp_path / "c"), 0)
    wl.queries = ("doc_token_stats",)
    wl.stage(session, str(tmp_path / "stage"))
    out = workloads.Outcome()
    wl.prepare(session, out)
    wl.measure(session, 0, out)
    assert out.failed == 0 and out.work
    assert installed == [] and vars(SnapshotTable)["commit"] is commit


def test_spark_wrong_output_raises_error_rate(session, tmp_path):
    """A threshold override applied after the reference was taken makes
    the job's labels disagree with it: the run counts failures."""
    from moira_spark import config

    wl = workloads.JobBucketed(str(tmp_path), str(tmp_path / "cache"), 7)
    wl.n_turns, wl.n_buckets, wl.point_reads = 1500, 1, 2
    wl.stage(session, str(tmp_path / "stage"))
    out = workloads.Outcome()
    wl.prepare(session, out)
    wl.unit(session, out, None)
    assert out.failed == 0
    old = config.PPL_MAX
    try:
        config.apply_overrides(PPL_MAX=old / 4)
        wl.unit(session, out, None)
    finally:
        config.apply_overrides(PPL_MAX=old)
    assert out.failed > 0 and out.failed / out.attempted > 0
