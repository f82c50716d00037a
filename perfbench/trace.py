"""Spans around calls into the program's layers, and Spark's event log folded
per layer.

``Tracer.install`` wraps the public entry points listed in ``TARGETS`` from
the benchmark's side: each call records a span (name, start, end, parent,
thread) and runs under its own Spark job group, so every Spark job, even one
started by an adaptive-query sub-plan or on the pipeline's async pool, can be
traced back to the span that started it. ``fold_event_log`` reads the
uncompressed, non-rolling event log the traced session writes; ``ledger``
joins the two into per-layer numbers.

A pipeline stage is not a function the benchmark can wrap, so stage spans
come from the store calls that bracket it: ``ParquetStore.is_done(name)``
opens a stage and ``ParquetStore.write(name, ...)`` closes it. A stage whose
write runs on the thread that asked ``is_done`` is synchronous; one written
on another thread is an async stage, timed from its first traced call on
that thread to the end of its write.
"""

from __future__ import annotations

import importlib
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

# (module, attribute, layer) — ``Class.method`` attributes wrap the method
TARGETS = [
    ("dedup_spark.sources.store", "ParquetStore.is_done", "sources.store"),
    ("dedup_spark.sources.store", "ParquetStore.write", "sources.store"),
    ("dedup_spark.operators.validity", "filter_valid", "operators.validity"),
    ("dedup_spark.operators.signatures", "compute_signatures",
     "operators.signatures"),
    ("dedup_spark.operators.banding", "band_table", "operators.skew"),
    ("dedup_spark.operators.skew", "salted_bands", "operators.skew"),
    ("dedup_spark.operators.skew", "skew_report_from_salted", "operators.skew"),
    ("dedup_spark.operators.hamming", "hamming_family_pairs",
     "operators.hamming"),
    ("dedup_spark.operators.exact", "exact_edges", "operators.verify"),
    ("dedup_spark.operators.pairs", "candidate_pairs", "operators.pairs"),
    ("dedup_spark.operators.pairs", "orphan_rescue_pairs", "operators.pairs"),
    ("dedup_spark.operators.containment", "containment_stage",
     "operators.containment"),
    ("dedup_spark.operators.verify", "verify_pairs", "operators.verify"),
    ("dedup_spark.operators.verify", "rescue_verify_pairs", "operators.verify"),
    ("dedup_spark.operators.cc", "connected_components", "operators.cc"),
    ("dedup_spark.operators.winners", "select_winners", "operators.winners"),
    ("dedup_spark.operators.rollup", "dir_digests", "operators.rollup"),
    ("dedup_spark.operators.rollup", "dup_dirs", "operators.rollup"),
    ("dedup_spark.operators.rollup", "suppressed_members", "operators.rollup"),
    ("dedup_spark.operators.report", "image_report", "operators.report"),
    ("dedup_spark.operators.report", "dir_report", "operators.report"),
    ("dedup_spark.operators.textdedup", "text_dedup_clusters",
     "operators.textdedup"),
    ("dedup_spark.operators.textdedup", "text_signatures",
     "operators.textdedup"),
    ("dedup_spark.operators.textdedup", "text_verify", "operators.textdedup"),
]

# The layer that owns the work a stage's store commit executes: the commit
# runs the stage's whole lazy plan, so its Spark jobs belong to the operator
# that built the plan, not to the store.
STAGE_LAYER = {
    "t_sigs": "operators.signatures",
    "t_invalid": "operators.validity",
    "t_salted": "operators.skew",
    "t_skew_report": "operators.skew",
    "t_hamming": "operators.hamming",
    "t_containment": "operators.containment",
    "t_containment_skipped": "operators.containment",
    "t_verified": "operators.verify",
    "t_rescued": "operators.pairs",
    "t_clusters": "operators.cc",
    "t_winners": "operators.winners",
    "t_dup_dirs": "operators.rollup",
    "t_report": "operators.report",
    "t_dir_report": "operators.report",
}
STAGES = [s for s in STAGE_LAYER if s != "t_containment_skipped"]

OPERATOR_LAYERS = [
    "operators.signatures", "operators.skew", "operators.hamming",
    "operators.containment", "operators.verify", "operators.pairs",
    "operators.cc", "operators.rollup", "operators.report",
    "operators.textdedup",
]
# layers too small to earn the full set; they keep their two time totals
MINOR_LAYERS = ["operators.validity", "operators.winners"]
OPERATOR_METRICS = [
    ("executor_run_s", "s", "lower"),
    ("executor_cpu_s", "s", "lower"),
    ("python_run_s", "s", "lower"),
    ("to_python_mb", "MB", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("jvm_gc_s", "s", "lower"),
    ("task_max_over_median", "ratio", "lower"),
]

_ROOT = 0


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int
    thread: int
    arg: str = ""          # stage name for store calls
    result: object = None  # is_done's answer


@dataclass
class Tracer:
    sc: object
    spans: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _saved: list = field(default_factory=list)
    main_thread: int = field(default_factory=threading.get_ident)
    results: dict = field(default_factory=dict)  # name -> returned values

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _base(self) -> int | None:
        """Jobs on the pass's own thread outside any wrapped call belong to
        the pass span; other threads run untagged outside wrapped calls."""
        return _ROOT if threading.get_ident() == self.main_thread else None

    def begin(self) -> None:
        self._set_group(_ROOT)

    def end(self) -> None:
        self._set_group(None)

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb-{sid}", f"perfbench span {sid}")

    def call(self, name: str, layer: str, fn, args, kwargs):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else _ROOT
        stack.append(sid)
        self._set_group(sid)
        t0 = time.time()
        try:
            out = fn(*args, **kwargs)
        finally:
            t1 = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else self._base())
        arg = ""
        if layer == "sources.store":
            arg = args[1] if len(args) > 1 else kwargs.get("name", "")
        span = Span(sid, name, layer, t0, t1, parent, threading.get_ident(),
                    arg, out if name.endswith("is_done") else None)
        with self._lock:
            self.spans.append(span)
            self.results.setdefault(name, []).append(out)
        return out

    def install(self) -> None:
        for mod_name, attr, layer in TARGETS:
            mod = importlib.import_module(mod_name)
            owner, _, leaf = attr.rpartition(".")
            holder = getattr(mod, owner) if owner else mod
            orig = getattr(holder, leaf)
            self._saved.append((holder, leaf, orig))
            setattr(holder, leaf, self._wrap(f"{mod_name}.{attr}", layer, orig))

    def _wrap(self, name, layer, orig):
        tracer = self

        def wrapped(*args, **kwargs):
            return tracer.call(name, layer, orig, args, kwargs)

        wrapped.__wrapped__ = orig
        wrapped.__doc__ = orig.__doc__
        return wrapped

    def uninstall(self) -> None:
        while self._saved:
            holder, leaf, orig = self._saved.pop()
            setattr(holder, leaf, orig)


# --------------------------------------------------------------------------
# event log


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    spill: int
    py_run_s: float
    to_py: int


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)         # id -> [group, t0, t1]
    stage_group: dict = field(default_factory=dict)  # stage id -> group
    tasks: list = field(default_factory=list)


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def fold_event_log(path: str) -> EventLog:
    """Jobs, stage → job group, and per-task metrics from an event log file."""
    log = EventLog()
    wanted = ('"SparkListenerJobStart"', '"SparkListenerJobEnd"',
              '"SparkListenerStageSubmitted"', '"SparkListenerTaskEnd"')
    with open(path) as f:
        for line in f:
            head = line[:48]
            if not any(w in head for w in wanted):
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                log.jobs[e["Job ID"]] = [_group(e.get("Properties")),
                                         e["Submission Time"] / 1e3, None]
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in log.jobs:
                    log.jobs[e["Job ID"]][2] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                log.stage_group[e["Stage Info"]["Stage ID"]] = _group(
                    e.get("Properties"))
            else:
                log.tasks.append(_task(e))
    return log


def _task(e: dict) -> Task:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    acc = defaultdict(int)
    for a in info.get("Accumulables", ()):
        if a.get("Name") in ("time to run Python workers",
                             "data sent to Python workers"):
            acc[a["Name"]] += int(a.get("Update") or 0)
    sw = m.get("Shuffle Write Metrics") or {}
    return Task(
        stage=e["Stage ID"],
        launch=info["Launch Time"] / 1e3,
        finish=info["Finish Time"] / 1e3,
        run_s=m.get("Executor Run Time", 0) / 1e3,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        spill=m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0),
        py_run_s=acc["time to run Python workers"] / 1e3,
        to_py=acc["data sent to Python workers"],
    )


# --------------------------------------------------------------------------
# ledger


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def stage_spans(spans: list[Span]) -> dict[str, dict]:
    """Stage name → {start, end, sync, nested} from the store spans."""
    by_thread = defaultdict(list)
    for s in spans:
        by_thread[s.thread].append(s)
    for v in by_thread.values():
        v.sort(key=lambda s: s.start)
    opened = {s.arg: s for s in spans
              if s.name.endswith("is_done") and s.result is False}
    out = {}
    for s in spans:
        if not s.name.endswith("ParquetStore.write"):
            continue
        ask = opened.get(s.arg)
        if ask is not None and ask.thread == s.thread:
            out[s.arg] = {"start": ask.start, "end": s.end, "sync": True}
        else:
            # async: from the first traced call on this thread after the
            # thread's previous commit ended
            prev_end = max((o.end for o in by_thread[s.thread]
                            if o.name.endswith("ParquetStore.write")
                            and o.end <= s.start), default=0.0)
            first = min((o.start for o in by_thread[s.thread]
                         if o.parent == _ROOT and prev_end <= o.start <= s.start),
                        default=s.start)
            out[s.arg] = {"start": first, "end": s.end, "sync": False}
    # a sync stage opened inside another (t_containment_skipped) is nested
    sync = sorted((k for k, v in out.items() if v["sync"]),
                  key=lambda k: out[k]["start"])
    for k in sync:
        out[k]["nested"] = any(
            out[o]["start"] < out[k]["start"] and out[k]["end"] <= out[o]["end"]
            for o in sync if o != k)
    return out


def _layer_of_span(span: Span, stage_at) -> str:
    if span.layer == "sources.store" and span.name.endswith("write"):
        return STAGE_LAYER.get(span.arg, "sources.store")
    if span.layer == "sources.store":
        return stage_at(span.start)
    return span.layer


def ledger(spans: list[Span], log: EventLog, pass_start: float,
           pass_end: float, cores: int, default_layer: str) -> tuple[dict, dict]:
    """Per-layer numbers for one traced pass.

    Returns (metrics, layer_rows): metrics named as in BENCHMARK.json and one
    row per layer with its raw totals (for the layer table the run prints).
    """
    by_id = {s.sid: s for s in spans}
    stages = stage_spans(spans)
    top_sync = {k: v for k, v in stages.items() if v["sync"] and not v["nested"]}

    def stage_at(t: float) -> str:
        for name, v in top_sync.items():
            if v["start"] <= t <= v["end"]:
                return STAGE_LAYER.get(name, default_layer)
        return default_layer

    def layer_of_group(group: str, t: float) -> str | None:
        sid = int(group[3:])
        if sid == _ROOT:
            return stage_at(t)
        return _layer_of_span(by_id[sid], stage_at) if sid in by_id else None

    pass_jobs = {j: v for j, v in log.jobs.items()
                 if v[1] >= pass_start - 0.5 and (v[2] or v[1]) <= pass_end + 0.5
                 and v[0] is not None and v[0].startswith("pb-")}
    stage_group = {sid: g for sid, g in log.stage_group.items()
                   if g is not None and g.startswith("pb-")}
    rows: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    per_stage_tasks: dict[tuple[str, int], list[float]] = defaultdict(list)
    busy = 0.0
    for t in log.tasks:
        group = stage_group.get(t.stage)
        if group is None or not (pass_start - 0.5 <= t.launch <= pass_end + 0.5):
            continue
        layer = layer_of_group(group, t.launch)
        if layer is None:
            continue
        r = rows[layer]
        r["tasks"] += 1
        r["executor_run_s"] += t.run_s
        r["executor_cpu_s"] += t.cpu_s
        r["python_run_s"] += t.py_run_s
        r["to_python_mb"] += t.to_py / 1e6
        r["shuffle_write_mb"] += t.shuffle_write / 1e6
        r["spill_mb"] += t.spill / 1e6
        r["jvm_gc_s"] += t.gc_s
        per_stage_tasks[(layer, t.stage)].append(t.finish - t.launch)
        busy += t.finish - t.launch
    for layer, r in rows.items():
        # skew of the layer's heaviest Spark stage: slowest task over median
        heaviest = max((v for (lay, _), v in per_stage_tasks.items()
                        if lay == layer), key=sum, default=[])
        med = statistics.median(heaviest) if heaviest else 0.0
        r["task_max_over_median"] = max(heaviest) / med if med > 0 else 1.0

    wall = pass_end - pass_start
    m: dict[str, float] = {}
    for layer in OPERATOR_LAYERS:
        for key, _, _ in OPERATOR_METRICS:
            m[f"{layer}.{key}"] = rows[layer][key] if layer in rows else 0.0
    for layer in MINOR_LAYERS:
        for key in ("executor_run_s", "executor_cpu_s"):
            m[f"{layer}.{key}"] = rows[layer][key] if layer in rows else 0.0

    sync_total = sum(v["end"] - v["start"] for v in top_sync.values())
    for name in STAGES:
        v = stages.get(name)
        m[f"plans.pipeline.{name}.span_s"] = v["end"] - v["start"] if v else 0.0
    last_sync_end = max((v["end"] for v in top_sync.values()), default=pass_end)
    m["plans.pipeline.gap_s"] = wall - sync_total if top_sync else 0.0
    m["plans.pipeline.async_wait_s"] = pass_end - last_sync_end if top_sync else 0.0
    m["plans.pipeline.cores_busy_share"] = busy / (cores * wall) if wall > 0 else 0.0

    writes = [s for s in spans if s.name.endswith("ParquetStore.write")]
    job_iv = [(v[1], v[2] or v[1]) for v in pass_jobs.values()]
    m["sources.store.write_s"] = sum(s.end - s.start for s in writes)
    m["sources.store.driver_s"] = sum(
        (s.end - s.start) - _covered(job_iv, s.start, s.end) for s in writes)
    write_ids = {s.sid for s in writes}
    m["sources.store.jobs"] = float(sum(
        1 for v in pass_jobs.values() if int(v[0][3:]) in write_ids))
    layer_rows = {k: dict(v) for k, v in rows.items()}
    return m, layer_rows
