"""Benchmark of the transcript quality filter (resumable job, scoring
pipeline, streaming commits) and the corpus-query registry.

Run from the repository root:

    python3 perfbench/run.py --workload job_bucketed --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 10 [--trace 1]

One run = one workload in one process on local[nproc]: set up SETUPS times
(session start, UDF/broadcast warm-up, input staging; the median is
``setup_s``), prepare the reference outputs (untimed), then repeat the
workload's unit of work for ``--seconds`` and check every output.  With
``--trace 1`` the run then starts a second, traced session (spans around
the program's layer entry points, layer job descriptions, Spark event log)
and prints the per-layer table.  ``--all`` runs every workload, one
process each, and prints one table.

The last line of stdout is one JSON object: {correct, attempted, failed,
metrics}; ``metrics`` holds the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``) named in BENCHMARK.json.  Everything the
run writes lives under ``.perfbench_tmp/`` (removed at exit) and
``.perfbench_cache/`` (oracle labels per seed, the traced run's spans) in
the repository root.  On every way out the run ends the JVM and the Python
workers it started and waits until each has exited.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3

# bounded in BENCHMARK.json.  op_latency_s.p50/.tail are printed but not
# bounded: on a shared 4-CPU VM the tail does not repeat within any allowed
# bound, and the median of six unlike queries jumps when two swap places.
E2E_UNITS = {
    "setup_s": "s",
    "work_wall_s": "s",
    "op_latency_s.geomean": "s",
}
# per-layer metrics every workload's traced run measures (BENCHMARK.json);
# layers only one workload exercises are printed in its table only
LAYER_METRICS = (
    "session.jvm_start_s",
    "session.start_s",
    "session.udf_warmup_s",
    "datagen.stage_input_s",
    "kernels.pack_s",
    "kernels.langid_s",
    "kernels.ppl_s",
    "kernels.repetition_s",
    "kernels.scrub_s",
    "kernels.score_batch_texts_per_s",
    "kernels.scrub_changed_frac",
    "pipeline.scan_s",
    "ordering.dedupe_s",
    "rules.rules_s",
    "udfs.score_s",
    "conv_agg.verdict_join_s",
    "ordering.shuffle_bytes",
    "conv_agg.shuffle_bytes",
    "conv_agg.task_skew",
    "pipeline.spill_bytes",
    "pipeline.scan_read_amplification",
    "stream.batches",
    "stream.rows_per_batch.p50",
    "stream.triggerExecution_ms.p50",
    "stream.addBatch_ms.p50",
    "stream.queryPlanning_ms.p50",
    "stream.walCommit_ms.p50",
    "stream.commitOffsets_ms.p50",
    "stream.commit_s.p50",
    "stream.commit_s.last_over_first",
    "spark.task_s",
    "spark.input_bytes",
    "spark.shuffle_bytes",
    "spark.spill_bytes",
    "spark.task_skew",
    "process.peak_rss_mb",
    "trace.uncovered_frac",
    "trace.overhead_frac",
    "trace.spans",
)
KERNEL_SAMPLE_TURNS = 4096
PROBE_TURNS = 6000
PROBE_STREAM_FILES = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--workload")
    g.add_argument("--all", action="store_true", help="every workload, one table")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(tmp: str) -> None:
    """Before the JVM starts: Python workers import the program from the
    checkout, and Spark/Python scratch space stays under ``tmp``."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")


def become_subreaper() -> None:
    """Descendants orphaned by the JVM's exit (the Python workers) re-parent
    to this process instead of init, so ``shutdown_spark`` can wait for them."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _child_pids() -> list[int]:
    me = os.getpid()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rfind(")") + 2 :].split()[1]) == me:
            pids.append(int(name))
    return pids


def shutdown_spark(grace: float = 30.0) -> None:
    """Stop the session, end its JVM and every process started under this
    one, and wait until each has ended.  The gateway JVM exits on EOF on its
    stdin and its Python workers on EOF on theirs; whatever is still alive
    after ``grace`` seconds is killed."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + grace
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(grace)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in _child_pids():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def start_session(cores: int, tmp: str, event_log_dir: str | None = None):
    from moira_spark.session import build_session

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}/tmp",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(app_name="perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_udfs(spark, cores: int) -> None:
    """Broadcast the models and start every Python worker (bench.py's
    warm-up): a frame with 2x cores partitions through the fused UDF."""
    import pyspark.sql.functions as F

    from moira_spark.operators.udfs import make_score_udf

    dummy = spark.range(0, 4 * cores, 1, numPartitions=2 * cores).select(
        F.concat(F.lit("warm up text "), F.col("id")).alias("text")
    )
    dummy.select(make_score_udf(spark)(F.col("text"))).write.format("noop").mode(
        "overwrite"
    ).save()


def host_facts() -> dict:
    import pyarrow
    import pyspark

    from perfbench.stats import git_sha, nproc

    return {
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_sha": git_sha(ROOT),
    }


def print_table(title: str, rows: dict[str, tuple[float, str]]) -> None:
    print(f"== {title}")
    for name, (value, unit) in rows.items():
        print(f"  {name:48s} {value:16.6g} {unit}")


def traced_phase(wl, cores: int, tmp: str, untraced_work: list[float]):
    """Second session with tracing on: one unit of work under spans, then
    the layer probes (a stream drain, the pipeline prefix split, the
    kernels), then the event log.  -> (Outcome, per-layer metrics)."""
    from perfbench import probes, stats
    from perfbench.trace import (
        Tracer,
        covered,
        event_log_file,
        parse_event_log,
        self_times,
    )
    from perfbench.workloads import (
        Outcome,
        TranscriptWorkload,
        dir_bytes,
        drain_stream,
        stream_layer_metrics,
        write_stream_files,
    )

    from moira_spark.datagen import transcripts as tg

    log_dir = os.path.join(tmp, "eventlog")
    spark = start_session(cores, tmp, event_log_dir=log_dir)
    warm_udfs(spark, cores)
    if isinstance(wl, TranscriptWorkload):
        probe_input = wl.input
    else:  # the transcript probes need transcripts even here
        probe_input = os.path.join(tmp, "probe_input")
        tg.gen_spark(spark, PROBE_TURNS, seed=wl.seed).write.parquet(probe_input)
    stream_in = write_stream_files(
        spark, probe_input, os.path.join(tmp, "probe_stream_in"), PROBE_STREAM_FILES
    )
    out, probe = Outcome(), Outcome()
    tracer = Tracer(spark, run_id=f"{wl.name}-{wl.seed}")
    tracer.install()
    try:
        wl.measure(spark, 0, out, tracer)
        n_wl = len(tracer.spans)
        drain_stream(spark, stream_in, os.path.join(tmp, "probe_stream"), probe, tracer)
    finally:
        tracer.uninstall()
    walls = probes.pipeline_split(spark, probe_input, tracer)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    os.makedirs(wl.cache, exist_ok=True)
    tracer.dump(os.path.join(wl.cache, f"spans-{wl.name}-seed{wl.seed}.jsonl"))
    wl_spans, probe_spans = tracer.spans[:n_wl], tracer.spans[n_wl:]
    ev = parse_event_log(event_log_file(log_dir, app_id), source_dir=probe_input)
    layers = ev["layers"]

    texts = tg.gen_pandas(KERNEL_SAMPLE_TURNS, wl.seed)["text"].fillna("").tolist()
    m = probes.kernel_timings(texts)
    m.update(stream_layer_metrics(probe, probe_spans))

    prev = 0.0
    for name in probes.PIPELINE_PREFIXES:
        m[f"{name}_s"] = walls[name] - prev
        prev = walls[name]

    def probe_layer(name, key):
        return layers.get(name, {}).get(key, 0.0)

    m["ordering.shuffle_bytes"] = probe_layer("ordering.dedupe", "shuffle_write_bytes")
    m["conv_agg.shuffle_bytes"] = probe_layer(
        "conv_agg.verdict_join", "shuffle_write_bytes"
    ) - probe_layer("udfs.score", "shuffle_write_bytes")
    m["conv_agg.task_skew"] = layers.get("conv_agg.verdict_join", {}).get("task_skew", 1.0)
    m["pipeline.spill_bytes"] = probe_layer("conv_agg.verdict_join", "spill_bytes")
    m["pipeline.scan_read_amplification"] = ev["source_bytes_read"].get(
        "conv_agg.verdict_join", 0
    ) / dir_bytes(probe_input)

    # Spark counters of the workload's own unit: every job description its
    # spans set, minus the probes' and the unlabelled set-up jobs
    wl_names = {s.name for s in wl_spans}
    work = [v for k, v in layers.items() if k in wl_names]
    m["spark.task_s"] = sum(v["task_s"] for v in work)
    m["spark.input_bytes"] = sum(v["input_bytes"] for v in work)
    m["spark.shuffle_bytes"] = sum(v["shuffle_write_bytes"] for v in work)
    m["spark.spill_bytes"] = sum(v["spill_bytes"] for v in work)
    m["spark.task_skew"] = max((v["task_skew"] for v in work), default=1.0)

    roots = [s for s in wl_spans if s.name.startswith("workload.")]
    inner = [s for s in wl_spans if not s.name.startswith("workload.")]
    root_s = sum(r.dur for r in roots)
    cov = sum(
        covered(
            (max(s.start, r.start), min(s.end, r.end))
            for s in inner
            if s.end > r.start and s.start < r.end
        )
        for r in roots
    )
    m["trace.uncovered_frac"] = (root_s - cov) / root_s
    m["trace.overhead_frac"] = stats.median(out.work) / stats.median(untraced_work) - 1.0
    m["trace.spans"] = len(wl_spans)
    m.update({f"self.{k}_s": v for k, v in self_times(wl_spans).items()})
    m.update(wl.layer_metrics(out, wl_spans, ev))
    return out, m


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import moira_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program ({e}); run from the "
              "repository root", file=sys.stderr)
        return 2
    from perfbench import stats
    from perfbench.workloads import WORKLOADS, Outcome

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    from moira_spark.benchutil import cpu_jiffies

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(tmp_root, f"run-{os.getpid()}")
    cache = os.path.join(ROOT, ".perfbench_cache")
    shutil.rmtree(tmp, ignore_errors=True)
    prepare_env(tmp)
    cores = stats.nproc()
    wl = WORKLOADS[args.workload](tmp, cache, args.seed)
    spark = None
    become_subreaper()
    # a SIGTERM unwinds through the finally below, which ends the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        setups = []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
                shutil.rmtree(os.path.join(tmp, f"stage-{i - 1}"), ignore_errors=True)
            with stats.Stopwatch() as w_start:
                spark = start_session(cores, tmp)
            with stats.Stopwatch() as w_warm:
                warm_udfs(spark, cores)
            with stats.Stopwatch() as w_stage:
                wl.stage(spark, os.path.join(tmp, f"stage-{i}"))
            setups.append((w_start.s, w_warm.s, w_stage.s))

        out = Outcome()
        with stats.Stopwatch() as w_prep:
            wl.prepare(spark, out)
        steal0, total0 = cpu_jiffies()
        with stats.RssSampler() as rss, stats.Stopwatch() as w_measure:
            wl.measure(spark, args.seconds, out)
        steal1, total1 = cpu_jiffies()

        facts = {
            **host_facts(),
            "workload": wl.name,
            "seed": args.seed,
            "steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
            "units": len(out.work),
            "ops": len(out.ops),
            "setup_walls_s": [round(sum(s), 3) for s in setups],
            "prepare_s": round(w_prep.s, 3),
            "measure_s": round(w_measure.s, 3),
        }
        print("perfbench " + json.dumps(facts))
        work, ops = out.work, out.ops
        e2e = {
            "setup_s": stats.median([sum(s) for s in setups]),
            "work_wall_s": stats.median(work),
            "op_latency_s.p50": stats.median(ops),
            "op_latency_s.tail": stats.tail(ops)[0],
            "op_latency_s.geomean": stats.geomean(ops),
        }
        rows = {k: (v, "s") for k, v in e2e.items()}
        rows.update(wl.named_metrics(out))
        rows["peak_rss_mb"] = (rss.peak / 2**20, "MB")
        attempted, failed = out.attempted, out.failed
        rows["error_rate"] = (failed / max(attempted, 1), "ratio")
        print_table(f"{wl.name} end-to-end (seed {args.seed})", rows)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}

        if args.trace:
            spark.stop()
            spark = None
            traced, layer = traced_phase(wl, cores, tmp, out.work)
            attempted += traced.attempted
            failed += traced.failed
            layer["session.jvm_start_s"] = setups[0][0]
            layer["session.start_s"] = stats.median([s[0] for s in setups])
            layer["process.peak_rss_mb"] = rss.peak / 2**20
            layer["session.udf_warmup_s"] = stats.median([s[1] for s in setups])
            layer["datagen.stage_input_s"] = stats.median([s[2] for s in setups])
            print_table(
                f"{wl.name} per layer (traced run)",
                {k: (v, stats.unit_of(k)) for k, v in sorted(layer.items())},
            )
            metrics = {
                k: {"value": float(layer[k]), "unit": stats.unit_of(k)} for k in LAYER_METRICS
            }
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        shutdown_spark()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass


def run_all(args) -> int:
    """Every workload in its own process; one summary table."""
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    results = {}
    code = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        sys.stdout.write(proc.stdout)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            code = proc.returncode or 1
            continue
        results[name] = json.loads(lines[-1])
    print(json.dumps(results))
    return code


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    t0 = time.time()
    code = run_all(args) if args.all else run_one(args)
    print(f"perfbench: {time.time() - t0:.1f}s", file=sys.stderr)
    return code


if __name__ == "__main__":
    raise SystemExit(main())
