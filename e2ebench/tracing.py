"""In-memory span recorder and Spark event-log reader for the traced run.

A span is (id, name, start, end, parent, op).  Entering a span sets a Spark
job group named after the span id, so every job, stage and task in the
event log can be charged to the innermost span that caused it.  Nothing
here touches the package: spans are taken at the benchmark's calls into
the package's public functions, by wrapping those functions.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

#: Per-layer fields, in the order they are reported.
FIELDS = (
    "wall_s", "self_s", "jobs", "tasks", "floor_s", "exec_run_s", "gc_s",
    "shuffle_write_mb", "spill_mb", "result_mb",
)
LAYERS = (
    "op", "workbook", "runner", "summary", "reports.csv", "reports.xlsx",
    "reports.pptx", "reports.timeline", "reports.png", "corpus",
)
#: Package modules the corpus layer's jobs are split by: the module of the
#: innermost package frame that called the DataFrame action.
CORPUS_MODULES = ("corpus", "dedup", "spans", "text", "driver_queries", "other")
MODULE_FIELDS = ("jobs", "wall_s", "floor_s", "exec_run_s")
#: DataFrame methods that run Spark jobs, tagged with their call site
ACTIONS = ("collect", "count", "take", "first", "head", "toPandas",
           "localCheckpoint", "checkpoint", "isEmpty", "toLocalIterator")
_SITE = "site:"
_PACKAGE_DIR = os.sep + "tsatool_app_spark" + os.sep


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    @contextmanager
    def span(self, name):
        yield

    def op(self, index):
        return self.span("op")


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.actions: list[dict] = []  # outermost tagged DataFrame actions
        self._stack: list[dict] = []
        self._op = -1
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name):
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name, "op": self._op,
             "parent": parent["id"] if parent else None, "start": time.time()}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"span-{s['id']}", name)
        try:
            yield
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def op(self, index):
        self._op = index
        return self.span("op")

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def tag_call_sites(self) -> None:
        """Name, in each job's description, the package module whose code
        called the DataFrame action that ran it."""
        try:  # Spark 4 runs the classic subclass, which overrides the actions
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        sc, actions, depth = self.sc, self.actions, [0]
        for name in ACTIONS:
            fn = getattr(DataFrame, name)

            @functools.wraps(fn)
            def tagged(*args, _fn=fn, **kwargs):
                if depth[0]:  # an action inside an action keeps the outer tag
                    return _fn(*args, **kwargs)
                mod = _caller_module()
                a = {"module": mod, "op": self._op, "start": time.time()}
                sc.setLocalProperty("spark.job.description", _SITE + mod)
                depth[0] += 1
                try:
                    return _fn(*args, **kwargs)
                finally:
                    depth[0] -= 1
                    a["end"] = time.time()
                    actions.append(a)
                    outer = self._stack[-1]["name"] if self._stack else None
                    sc.setLocalProperty("spark.job.description", outer)

            self._patched.append((DataFrame, name, fn))
            setattr(DataFrame, name, tagged)

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()


def _caller_module() -> str:
    f = sys._getframe(2)
    while f is not None:
        path = f.f_code.co_filename
        if _PACKAGE_DIR in path:
            mod = os.path.splitext(os.path.basename(path))[0]
            return mod if mod in CORPUS_MODULES else "other"
        f = f.f_back
    return "other"


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def _union(intervals):
    """Total length of a union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def read_event_log(log_dir: str) -> dict:
    """Jobs and stages from an uncompressed Spark event log, keyed by the
    job group they ran under."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs, stages = {}, {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "site": _site(props),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                info = ev["Stage Info"]
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                stages[key] = {
                    "group": props.get("spark.jobGroup.id"),
                    "site": _site(props),
                    "start": None, "end": None, "tasks": 0, "run_ms": 0, "gc_ms": 0,
                    "shuffle_write": 0, "spill": 0, "result": 0,
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.get((info["Stage ID"], info.get("Stage Attempt ID", 0)))
                if st is not None and info.get("Submission Time"):
                    st["start"] = info["Submission Time"] / 1000.0
                    st["end"] = info.get("Completion Time", info["Submission Time"]) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
                m = ev.get("Task Metrics")
                if st is None or not m:
                    continue
                st["tasks"] += 1
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["spill"] += m.get("Memory Bytes Spilled", 0)
                st["result"] += m.get("Result Size", 0)
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return {"jobs": list(jobs.values()), "stages": [s for s in stages.values() if s["start"]]}


def _site(props: dict) -> str:
    desc = props.get("spark.job.description") or ""
    return desc[len(_SITE):] if desc.startswith(_SITE) else "other"


def _span_metrics(span, children, jobs, stages) -> dict:
    lo, hi = span["start"], span["end"]
    child_iv = [(c["start"], c["end"]) for c in children]
    stage_iv = _clip([(s["start"], s["end"]) for s in stages], lo, hi)
    busy = _union(_clip(child_iv, lo, hi) + stage_iv)
    return {
        "wall_s": hi - lo,
        "self_s": (hi - lo) - _union(_clip(child_iv, lo, hi)),
        "jobs": len(jobs),
        "tasks": sum(s["tasks"] for s in stages),
        "floor_s": (hi - lo) - busy,
        "exec_run_s": sum(s["run_ms"] for s in stages) / 1000.0,
        "gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
        "shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / 1e6,
        "spill_mb": sum(s["spill"] for s in stages) / 1e6,
        "result_mb": sum(s["result"] for s in stages) / 1e6,
    }


def layer_metrics(spans: list[dict], actions: list[dict], log: dict, ops: list[int],
                  n_conditions: int) -> dict:
    """Per-layer metrics, each the median over the given ops of that op's
    total for the layer.  Layers a workload does not reach report 0."""
    by_group_jobs, by_group_stages = {}, {}
    for j in log["jobs"]:
        by_group_jobs.setdefault(j["group"], []).append(j)
    for s in log["stages"]:
        by_group_stages.setdefault(s["group"], []).append(s)
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    per_op: list[dict] = []
    for op in ops:
        tot = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in FIELDS}
        tot.update({f"corpus.{m}.{f}": 0.0 for m in CORPUS_MODULES for f in MODULE_FIELDS})
        for s in spans:
            if s["op"] != op:
                continue
            gid = f"span-{s['id']}"
            jobs = by_group_jobs.get(gid, [])
            stages = by_group_stages.get(gid, [])
            for f, v in _span_metrics(s, children.get(s["id"], []), jobs, stages).items():
                tot[f"{s['name']}.{f}"] += v
            if s["name"] == "corpus":
                for mod in CORPUS_MODULES:
                    ms = [x for x in stages if x["site"] == mod]
                    act = _union([(a["start"], a["end"]) for a in actions
                                  if a["op"] == op and a["module"] == mod])
                    tot[f"corpus.{mod}.jobs"] += sum(j["site"] == mod for j in jobs)
                    tot[f"corpus.{mod}.wall_s"] += act
                    tot[f"corpus.{mod}.floor_s"] += act - _union(
                        [(x["start"], x["end"]) for x in ms])
                    tot[f"corpus.{mod}.exec_run_s"] += sum(x["run_ms"] for x in ms) / 1000.0
        # on sheet_report the summary layer runs only inside the sinks
        sink_jobs = sum(tot[f"{layer}.jobs"] for layer in LAYERS
                        if layer.startswith("reports.") or layer == "summary")
        tot["reports.jobs_per_condition"] = sink_jobs / n_conditions if n_conditions else 0.0
        per_op.append(tot)
    return {k: statistics.median(t[k] for t in per_op) for k in per_op[0]} if per_op else {}


def metric_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    def unit(f):
        return "count" if f in ("jobs", "tasks") else "MB" if f.endswith("_mb") else "s"

    out = [(f"{layer}.{f}", unit(f)) for layer in LAYERS for f in FIELDS]
    out.append(("reports.jobs_per_condition", "count"))
    out += [(f"corpus.{m}.{f}", unit(f)) for m in CORPUS_MODULES for f in MODULE_FIELDS]
    return out
