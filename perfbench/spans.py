"""Spans around the engine's public calls, and their attribution from
Spark's event log.

A traced run patches each public function named in ``SPANS`` in every
``search_suite_spark`` module that binds it, so calls between engine
modules are traced too. A span records its wall-clock window and the
window of Spark job ids submitted while it was open. Spark hands out job
ids in submission order from one counter, so the id window is the
span's submission window, exact to the job, whatever thread submitted
the job; the build's write tail submits jobs from a thread pool, without
the caller's job group, and still lands in the right span.

After the session stops, ``layer_metrics`` reads the uncompressed event
log: every job goes to the innermost span whose id window holds it, its
stages' tasks give the executor-side counts, and the SQL accumulables
give the time and bytes at the Python boundary.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

# (module, function) pairs wrapped in spans; a span is named
# "<module leaf>.<function>"
SPANS = (
    ("search_suite_spark.sources.segments", "build_segment"),
    ("search_suite_spark.sources.segments", "pack_and_write"),
    ("search_suite_spark.sources.segments", "read_segment"),
    ("search_suite_spark.sources.segments", "delete_url"),
    ("search_suite_spark.operators.merge", "merge_segments"),
    ("search_suite_spark.sources.registry", "compact_collection"),
    ("search_suite_spark.sources.registry", "collection_term_dfs"),
    ("search_suite_spark.sources.registry", "query_collection"),
    ("search_suite_spark.sources.registry", "query_collection_partial"),
    ("search_suite_spark.operators.wand", "bm25_batch"),
)
# the benchmark's own consuming action of each query frame
ACTIONS = (
    "registry.query_collection.action",
    "registry.query_collection_partial.action",
    "wand.bm25_batch.action",
)
# spans whose jobs do executor work worth breaking down
EXEC_SPANS = (
    "segments.build_segment",
    "segments.pack_and_write",
    "merge.merge_segments",
    "registry.collection_term_dfs",
) + ACTIONS
BASE_KEYS = ("wall_s", "self_s", "calls", "jobs", "driver_only_s")
EXEC_KEYS = (
    "exec_cpu_s", "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb",
    "output_mb", "py_run_s", "py_in_mb",
)
MB = 1e6


def span_names() -> list[str]:
    return [f"{m.rsplit('.', 1)[1]}.{f}" for m, f in SPANS] + list(ACTIONS)


@dataclass
class Span:
    name: str
    parent: int | None  # index into Tracer.spans
    start: float
    job_lo: int  # first job id submitted inside the span
    end: float = 0.0
    job_hi: int = 0  # first job id submitted after the span


@dataclass
class Tracer:
    """Records spans in memory; ``install`` wraps the engine's public
    functions, ``uninstall`` puts the originals back."""

    spark: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)
    _thread: int = field(default_factory=threading.get_ident)

    def next_job_id(self) -> int:
        # the DAG scheduler's job-id counter: ids below it were submitted
        return self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, parent, time.time(), self.next_job_id()))
        i = len(self.spans) - 1
        self._stack.append(i)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[i].job_hi = self.next_job_id()
            self.spans[i].end = time.time()

    def install(self) -> None:
        for mod_name, fn_name in SPANS:
            orig = getattr(importlib.import_module(mod_name), fn_name)
            wrapped = self._wrap(f"{mod_name.rsplit('.', 1)[1]}.{fn_name}", orig)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("search_suite_spark"):
                    continue
                if getattr(mod, fn_name, None) is orig:
                    self._patched.append((mod, fn_name, orig))
                    setattr(mod, fn_name, wrapped)

    def uninstall(self) -> None:
        for mod, fn_name, orig in reversed(self._patched):
            setattr(mod, fn_name, orig)
        self._patched.clear()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # only the benchmark's thread opens spans; a call from another
            # thread is covered by the span open on the benchmark thread
            if threading.get_ident() != self._thread:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


# ---------------------------------------------------------------- event log


@dataclass
class Job:
    submit: float  # seconds since the epoch
    end: float
    stages: list[int]


@dataclass
class StageSums:
    cpu_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    peak_mem: int = 0
    output: int = 0
    py_run_s: float = 0.0
    py_in: int = 0


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, StageSums]]:
    """Jobs and per-stage task sums from an uncompressed event log (a
    single file, or the events_* files of a rolling log)."""
    files = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
         if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))),
        key=lambda p: (os.path.dirname(p), _roll_index(p)),
    )
    jobs: dict[int, Job] = {}
    stages: dict[int, StageSums] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = Job(
                        ev["Submission Time"] / 1000, 0.0, ev["Stage IDs"]
                    )
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages.setdefault(ev["Stage ID"], StageSums()), ev)
    return jobs, stages


def _roll_index(path: str) -> int:
    parts = os.path.basename(path).split("_")
    return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0


def _add_task(s: StageSums, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    s.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    s.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    s.spill += m.get("Disk Bytes Spilled", 0)
    s.peak_mem = max(s.peak_mem, m.get("Peak Execution Memory", 0))
    s.output += m.get("Output Metrics", {}).get("Bytes Written", 0)
    for acc in ev.get("Task Info", {}).get("Accumulables", []):
        name = acc.get("Name")
        if name == "time to run Python workers":
            s.py_run_s += int(acc.get("Update", 0)) / 1000
        elif name == "data sent to Python workers":
            s.py_in += int(acc.get("Update", 0))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if a < hi and b > lo]


def attribute(spans: list[Span], job_lo: int, job_hi: int) -> tuple[int, int]:
    """Assign each job id in [job_lo, job_hi) to the innermost span whose
    id window holds it → (unattributed jobs, unaccounted spans).

    A job is unattributed when no span was open at its submission. A span
    is unaccounted when its window holds a different number of jobs than
    were attributed to it and its descendants; that cannot happen while
    spans nest, so a non-zero count means the attribution is broken."""
    owner: dict[int, int] = {}
    depth = [0] * len(spans)
    for i, s in enumerate(spans):
        depth[i] = 0 if s.parent is None else depth[s.parent] + 1
        for j in range(s.job_lo, s.job_hi):
            if j not in owner or depth[owner[j]] < depth[i]:
                owner[j] = i
    unattributed = sum(1 for j in range(job_lo, job_hi) if j not in owner)
    below = [0] * len(spans)
    for j, i in owner.items():
        while i is not None:
            below[i] += 1
            i = spans[i].parent
    unaccounted = sum(
        1 for i, s in enumerate(spans) if below[i] != s.job_hi - s.job_lo
    )
    return unattributed, unaccounted


def layer_metrics(
    spans: list[Span], jobs: dict[int, Job], stages: dict[int, StageSums],
    job_lo: int, job_hi: int,
) -> tuple[dict[str, float], dict[str, float]]:
    """Per-span metrics (see BASE_KEYS / EXEC_KEYS) summed over every call
    of a span name, plus run-level totals. Like ``wall_s``, the job count
    and the executor metrics of a span include its child spans' jobs;
    ``self_s`` excludes the child spans' time."""
    unattributed, unaccounted = attribute(spans, job_lo, job_hi)
    # a stage belongs to the first job that lists it; later jobs that
    # list it again reuse its output and run none of its tasks
    stage_job: dict[int, int] = {}
    for j in sorted(jobs):
        for st in jobs[j].stages:
            stage_job.setdefault(st, j)
    job_stages: dict[int, list[int]] = {}
    for st, j in stage_job.items():
        job_stages.setdefault(j, []).append(st)

    job_iv = [(jobs[j].submit, jobs[j].end) for j in range(job_lo, job_hi) if j in jobs]
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)

    out: dict[str, float] = {}
    for name in span_names():
        for k in BASE_KEYS:
            out[f"{name}.{k}"] = 0.0
        if name in EXEC_SPANS:
            for k in EXEC_KEYS:
                out[f"{name}.{k}"] = 0.0
    for i, s in enumerate(spans):
        p = s.name
        wall = s.end - s.start
        kids = [(spans[c].start, spans[c].end) for c in children.get(i, [])]
        window = [j for j in range(s.job_lo, s.job_hi) if j in jobs]
        out[f"{p}.wall_s"] += wall
        out[f"{p}.self_s"] += wall - _union_length(kids)
        out[f"{p}.calls"] += 1
        out[f"{p}.jobs"] += len(window)
        out[f"{p}.driver_only_s"] += wall - _union_length(
            _clipped(job_iv, s.start, s.end)
        )
        if p not in EXEC_SPANS:
            continue
        for st in (st for j in window for st in job_stages.get(j, [])):
            ss = stages.get(st)
            if ss is None:
                continue
            out[f"{p}.exec_cpu_s"] += ss.cpu_s
            out[f"{p}.shuffle_write_mb"] += ss.shuffle_write / MB
            out[f"{p}.spill_mb"] += ss.spill / MB
            out[f"{p}.peak_exec_mem_mb"] = max(
                out[f"{p}.peak_exec_mem_mb"], ss.peak_mem / MB
            )
            out[f"{p}.output_mb"] += ss.output / MB
            out[f"{p}.py_run_s"] += ss.py_run_s
            out[f"{p}.py_in_mb"] += ss.py_in / MB
    written = sum(
        stages[st].output
        for j in range(job_lo, job_hi)
        for st in job_stages.get(j, [])
        if st in stages
    )
    totals = {
        "unattributed_jobs": unattributed,
        "unaccounted_spans": unaccounted,
        "bytes_written": written,
    }
    return out, totals
