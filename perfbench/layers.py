"""Tracing for the catalog benchmark: spans recorded from outside the
program, Spark event-log metrics and a streaming listener.

Spans are kept in memory as ``(name, start, end, parent, entry)`` and
written out when the run ends. Jobs are tied to spans through Spark
local properties set on the client thread: ``spark.jobGroup.id`` names
the entry (``p<pass>:<entry>``), ``perfbench.phase`` is ``build`` while
``QUERIES[name]`` runs and ``force`` after it returns, and
``perfbench.module`` names the innermost operator module on the span
stack. Every job start in the event log carries these properties.
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import pkgutil
import sys
import threading
import time
from collections import defaultdict
from typing import NamedTuple

from pyspark.sql import DataFrame

#: Operator modules whose public functions are wrapped, by metric name:
#: those the benchmark's entries call. A package stands for every module
#: in it.
MODULES = (
    "operators.graphs",
    "operators.similarity",
    "operators.overlap",
    "operators.alignments",
    "sources",
    "plans",
    "streaming",
)

#: A stage with one task counts as serial when that task ran this long.
#: The tables here are a tenth of sf0.1, so a tenth of a second.
SERIAL_TASK_MS = 100

PHASE = "perfbench.phase"
MODULE = "perfbench.module"


def _layer_modules(layer: str) -> list:
    mod = importlib.import_module(f"pygr_spark.{layer}")
    if not hasattr(mod, "__path__"):
        return [mod]
    return [
        importlib.import_module(f"{mod.__name__}.{info.name}")
        for info in pkgutil.iter_modules(mod.__path__)
    ]


def _public_callables(mod) -> list[tuple[object, str, object]]:
    """(owner, attribute, function) for each public function defined in
    ``mod`` and each public method of its public classes."""
    out = []
    for name, obj in vars(mod).items():
        if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
            continue
        if inspect.isfunction(obj):
            out.append((mod, name, obj))
        elif inspect.isclass(obj):
            for mname, meth in vars(obj).items():
                if not mname.startswith("_") and inspect.isfunction(meth):
                    out.append((obj, mname, meth))
    return out


def _touches_dataframe(args, kwargs, result) -> bool:
    return isinstance(result, DataFrame) or any(
        isinstance(a, DataFrame) for a in (*args, *kwargs.values())
    )


class Span(NamedTuple):
    sid: int  # -1 for the force span, which is derived, not recorded
    name: str
    start: float
    end: float
    parent: int
    entry: str
    dataframe: bool  # an operator call that took or returned a DataFrame


class Tracer:
    """Span recorder plus the patches that feed it. ``install`` swaps the
    wrappers in, ``uninstall`` restores the original functions, so a
    pass run between the two is untraced."""

    def __init__(self, spark, queries: dict):
        self.spark = spark
        self.sc = spark.sparkContext
        self.queries = queries
        self.spans: list[Span] = []
        self._stack: list[tuple[int, str | None]] = []
        self._open: dict[int, tuple[str, float, int, str]] = {}
        self._next = 0
        self.entry = ""
        self.phase: str | None = None
        self._patches: list[tuple[object, str, object, object]] = []
        self._build_patches()

    # -- spans ---------------------------------------------------------
    def _begin(self, name: str) -> int:
        sid = self._next
        self._next += 1
        parent = self._stack[-1][0] if self._stack else -1
        self._open[sid] = (name, time.perf_counter(), parent, self.entry)
        return sid

    def _end(self, sid: int, dataframe: bool = False) -> Span:
        name, start, parent, entry = self._open.pop(sid)
        span = Span(sid, name, start, time.perf_counter(), parent, entry, dataframe)
        self.spans.append(span)
        return span

    # -- patching ------------------------------------------------------
    def module(self) -> str | None:
        """Innermost operator module on the span stack."""
        for _sid, layer in reversed(self._stack):
            if layer is not None:
                return layer
        return None

    def _set_phase(self, phase: str | None) -> None:
        self.phase = phase
        self.sc.setLocalProperty(PHASE, phase)

    def _wrap(self, layer: str, qualname: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            outer_module = tracer.module()
            sid = tracer._begin(f"{layer}:{qualname}")
            tracer._stack.append((sid, layer))
            tracer.sc.setLocalProperty(MODULE, layer)
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                tracer._stack.pop()
                tracer.sc.setLocalProperty(MODULE, outer_module)
                tracer._end(sid, _touches_dataframe(args, kwargs, result))

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", qualname)
        return wrapper

    def _build_patches(self) -> None:
        originals: dict[int, object] = {}
        for layer in MODULES:
            for mod in _layer_modules(layer):
                for owner, attr, fn in _public_callables(mod):
                    qual = f"{getattr(owner, '__name__', '')}.{attr}"
                    wrapped = self._wrap(layer, qual, fn)
                    originals[id(fn)] = wrapped
                    self._patches.append((owner, attr, fn, wrapped))
        # names bound at import (``from ... import f``) in any loaded
        # pygr_spark module, queries.py among them
        for name, mod in list(sys.modules.items()):
            if not name.startswith("pygr_spark") or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                wrapped = originals.get(id(obj))
                if wrapped is not None and getattr(mod, attr) is not wrapped:
                    self._patches.append((mod, attr, obj, wrapped))

    def install(self) -> None:
        for owner, attr, _orig, wrapped in self._patches:
            setattr(owner, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig, _wrapped in self._patches:
            setattr(owner, attr, orig)
        self.sc.setLocalProperty(MODULE, None)
        self._set_phase(None)

    # -- one catalog entry ---------------------------------------------
    def run_entry(self, run_query, name: str, pass_id: int, data_dir: str) -> float:
        """Run ``run_query`` for one entry with its build wrapped in a
        span; the force span is the rest of the timed region."""
        self.entry = f"p{pass_id}:{name}"
        builder = self.queries[name]
        built: list[float] = []

        def traced_builder(spark, sf_dir):
            self._set_phase("build")
            sid = self._begin("build")
            self._stack.append((sid, None))
            try:
                return builder(spark, sf_dir)
            finally:
                self._stack.pop()
                built.append(self._end(sid).end)
                self._set_phase("force")

        self.sc.setJobGroup(self.entry, name)
        entry_sid = self._begin("entry")
        self._stack.append((entry_sid, None))
        self.queries[name] = traced_builder
        try:
            dt = run_query(self.spark, name, data_dir)
        finally:
            self.queries[name] = builder
            self._stack.pop()
            entry_span = self._end(entry_sid)
            if built:
                self.spans.append(Span(-1, "force", built[0], entry_span.start + dt,
                                       entry_sid, self.entry, False))
            self._set_phase(None)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.entry = ""
        return dt

    # -- reduction -----------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus what children cover.
        Children of one parent run one after another on the client
        thread, so their durations add without overlap."""
        child_s: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent >= 0:
                child_s[sp.parent] += sp.end - sp.start
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.name] += sp.end - sp.start - (child_s[sp.sid] if sp.sid >= 0 else 0.0)
        return dict(out)

    def layer_totals(self, entries: set[str]) -> dict[str, dict[str, float]]:
        """Per module: calls that took or returned a DataFrame with no
        call of the same module around them, and their inclusive
        seconds, over the spans of the given entry ids."""
        by_sid = {sp.sid: sp for sp in self.spans if sp.sid >= 0}
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "call_s": 0.0})
        for sp in self.spans:
            if sp.entry not in entries or not sp.dataframe:
                continue
            layer = sp.name.split(":", 1)[0]
            p = by_sid.get(sp.parent)
            while p is not None and not (p.dataframe and p.name.startswith(layer + ":")):
                p = by_sid.get(p.parent)
            if p is None:
                out[layer]["calls"] += 1
                out[layer]["call_s"] += sp.end - sp.start
        return out

    def phase_seconds(self, entries: set[str]) -> dict[str, float]:
        out = {"build": 0.0, "force": 0.0}
        for sp in self.spans:
            if sp.name in out and sp.entry in entries:
                out[sp.name] += sp.end - sp.start
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp._asdict()) + "\n")


class StreamCounter:
    """StreamingQueryListener totals per query run: micro-batches, input
    rows and the state rows held at the last progress. Query start is
    delivered synchronously on the thread that starts the query, so the
    tracer's current entry, phase and module there are the query's."""

    def __init__(self, tracer: Tracer):
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self
        self.lock = threading.Lock()
        self.runs: dict[str, dict] = {}

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with counter.lock:
                    counter.runs[str(event.runId)] = {
                        "entry": tracer.entry,
                        "phase": tracer.phase,
                        "module": tracer.module(),
                        "batches": 0,
                        "input_rows": 0,
                        "state_rows": 0,
                    }

            def onQueryProgress(self, event):
                p = event.progress
                with counter.lock:
                    run = counter.runs.get(str(p.runId))
                    if run is None:
                        return
                    run["batches"] += 1
                    run["input_rows"] += int(p.numInputRows or 0)
                    run["state_rows"] = sum(int(s.numRowsTotal or 0) for s in p.stateOperators)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def job_groups(self, entries: set[str]) -> dict[str, dict]:
        """Streaming run id (the job group of its micro-batch jobs) ->
        the entry, phase and module that started it."""
        with self.lock:
            return {rid: r for rid, r in self.runs.items() if r["entry"] in entries}

    def totals(self, entries: set[str]) -> dict[str, int]:
        out = {"streaming.batches": 0, "streaming.input_rows": 0, "streaming.state_rows": 0}
        for run in self.job_groups(entries).values():
            for k in ("batches", "input_rows", "state_rows"):
                out[f"streaming.{k}"] += run[k]
        return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except FileNotFoundError:
                pass
    return total


def _union_length(intervals: list[tuple[int, int]]) -> int:
    covered = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def event_log_metrics(log_dir: str, groups: set[str], stream_groups: dict[str, dict]) -> dict[str, float]:
    """Engine totals over the jobs whose group is in ``groups``, plus the
    micro-batch jobs of the streaming runs in ``stream_groups``, read
    from the uncompressed event logs under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group in stream_groups:
                        props = {PHASE: stream_groups[group]["phase"],
                                 MODULE: stream_groups[group]["module"]}
                    elif group not in groups:
                        continue
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "submit": ev["Submission Time"],
                        "end": None,
                        "phase": props.get(PHASE),
                        "module": props.get(MODULE),
                    }
                    # a later job lists an earlier job's stages as skipped
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if info["Stage ID"] in stage_job:
                        stages[info["Stage ID"]] = {"tasks": info["Number of Tasks"], "run_ms": 0}
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                    tasks.append(ev)
    m = defaultdict(float)
    job_tasks: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for ev in tasks:
        info = ev["Task Info"]
        met = ev.get("Task Metrics") or {}
        sid = ev["Stage ID"]
        job_tasks[stage_job[sid]].append((info["Launch Time"], info["Finish Time"]))
        m["spark.tasks"] += 1
        if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            m["spark.failed_tasks"] += 1
        run_ms = met.get("Executor Run Time", 0)
        if sid in stages:
            stages[sid]["run_ms"] += run_ms
        m["spark.task_s"] += run_ms / 1e3
        m["spark.cpu_s"] += met.get("Executor CPU Time", 0) / 1e9
        m["spark.gc_s"] += met.get("JVM GC Time", 0) / 1e3
        m["spark.shuffle_write_bytes"] += (met.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        m["spark.spill_bytes"] += met.get("Memory Bytes Spilled", 0) + met.get("Disk Bytes Spilled", 0)
        m["spark.output_bytes"] += (met.get("Output Metrics") or {}).get("Bytes Written", 0)
    m["spark.stages"] = len(stages)
    m["spark.single_task_stages"] = sum(
        1 for st in stages.values() if st["tasks"] == 1 and st["run_ms"] > SERIAL_TASK_MS
    )
    for jid, job in jobs.items():
        if job["end"] is None:
            continue
        span = job["end"] - job["submit"]
        clipped = [
            (max(s, job["submit"]), min(e, job["end"])) for s, e in job_tasks.get(jid, [])
        ]
        m["spark.job_floor_s"] += (span - _union_length([c for c in clipped if c[1] > c[0]])) / 1e3
        m[f"jobs.phase.{job['phase']}"] += 1
        if job["module"]:
            m[f"jobs.module.{job['module']}"] += 1
    return dict(m)
