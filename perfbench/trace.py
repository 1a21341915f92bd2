"""Traced-run tooling: spans around calls into the program's layers, Spark
job descriptions naming the layer, and the event-log parser.

Nothing here runs on an untraced run: ``Tracer.install`` is the only place
the program's functions are replaced, and ``uninstall`` puts the originals
back.  Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _table_name(args) -> str:
    """'labels' / 'audit' from a SnapshotTable method's ``self``."""
    return os.path.basename(args[0].table_dir.rstrip("/"))


def _prune_counts(result, args) -> dict:
    kept, skipped = result
    return {"runs_kept": len(kept), "runs_total": len(kept) + len(skipped)}


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Time the block as layer ``name``; Spark jobs it starts carry
        ``name`` as their description (innermost span wins)."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        prev = self.sc.getLocalProperty(_DESC)
        self.sc.setLocalProperty(_DESC, name)
        stack.append(sid)
        t0 = time.perf_counter()
        rec = Span(sid, name, t0, t0, parent, self.run_id)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_DESC, prev)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name, counter=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper.  ``name`` is a string
        or a function of the call's args; ``counter(result, args)`` adds
        counts measured at the boundary."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(args) if callable(name) else name
            with self.span(label) as rec:
                out = orig(*args, **kwargs)
                if counter is not None:
                    rec.counts.update(counter(out, args))
                return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the public entry points of each transcript layer."""
        from moira_spark import job, pipeline
        from moira_spark.sources.tableio import SnapshotTable
        from moira_spark.streaming import stream_filter

        for meth in ("stage", "commit", "read"):
            self.wrap(
                SnapshotTable,
                meth,
                lambda a, m=meth: f"tableio.{m}.{_table_name(a)}",
            )
        self.wrap(SnapshotTable, "prune", "tableio.prune", _prune_counts)
        self.wrap(SnapshotTable, "latest_snapshot", "tableio.latest_snapshot")
        self.wrap(job, "audit_rows", "job.audit_rows")
        # job.py and stream_filter.py bind run_pipeline at import time
        for mod in (job, stream_filter, pipeline):
            self.wrap(mod, "run_pipeline", "pipeline.run_pipeline")

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed duration minus the part its direct children
    cover."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        inner = covered((c.start, c.end) for c in kids.get(s.id, ()))
        out[s.name] += s.dur - inner
    return dict(out)


# ------------------------------------------------------------- event log
def event_log_file(log_dir: str, app_id: str) -> str:
    return os.path.join(log_dir, app_id)


def _layer_of(desc: str | None) -> str:
    if not desc:
        return "unlabelled"
    if "runId =" in desc:  # Structured Streaming's per-batch description
        return "streaming.batch"
    return desc


def parse_event_log(path: str, source_dir: str | None = None) -> dict:
    """Per-layer Spark counters from one application's event log.

    -> {"layers": {layer: {input_bytes, shuffle_write_bytes,
    shuffle_read_bytes, spill_bytes, tasks, task_s, task_skew}},
    "source_bytes_read": {layer: bytes the scans of ``source_dir``
    planned}}.  Layers are job descriptions set by Tracer.span.
    """
    stage_layer: dict[int, str] = {}
    exec_layer: dict[str, str] = {}
    acc: dict[str, dict] = defaultdict(
        lambda: defaultdict(float, stage_tasks=defaultdict(list))
    )
    scan_ids: set[int] = set()
    updates: dict[tuple[str, int], int] = defaultdict(int)

    def walk(node) -> None:
        loc = (node.get("metadata") or {}).get("Location", "")
        if source_dir and node["nodeName"].startswith("Scan") and source_dir in loc:
            for m in node["metrics"]:
                if m["name"] == "size of files read":
                    scan_ids.add(m["accumulatorId"])
        for c in node.get("children", ()):
            walk(c)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                layer = _layer_of(props.get(_DESC))
                exec_layer.setdefault(props.get("spark.sql.execution.id"), layer)
                for sid in e["Stage IDs"]:
                    stage_layer.setdefault(sid, layer)
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics")
                if not m:
                    continue
                a = acc[stage_layer.get(e["Stage ID"], "unlabelled")]
                a["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                a["shuffle_write_bytes"] += m["Shuffle Write Metrics"][
                    "Shuffle Bytes Written"
                ]
                sr = m["Shuffle Read Metrics"]
                a["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                a["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                a["tasks"] += 1
                a["task_s"] += m["Executor Run Time"] / 1000.0
                a["stage_tasks"][e["Stage ID"]].append(m["Executor Run Time"])
            elif ev.endswith("SQLExecutionStart") or ev.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                walk(e["sparkPlanInfo"])
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, val in e["accumUpdates"]:
                    updates[(str(e["executionId"]), acc_id)] += val

    layers = {}
    for name, a in acc.items():
        # skew of the layer's heaviest multi-task stage: max / median task
        stages = [t for t in a.pop("stage_tasks").values() if len(t) > 1]
        heavy = max(stages, key=sum) if stages else None
        skew = (
            max(heavy) / max(statistics.median(heavy), 1) if heavy else 1.0
        )
        layers[name] = {**a, "task_skew": float(skew)}
    source: dict[str, int] = defaultdict(int)
    for (exec_id, acc_id), val in updates.items():
        if acc_id in scan_ids:
            source[exec_layer.get(exec_id, "unlabelled")] += val
    return {"layers": layers, "source_bytes_read": dict(source)}
