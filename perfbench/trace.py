"""Measurement plumbing: spans, /proc readings, the Spark event-log
reducer and the summary statistics the benchmark reports.

Spans are recorded from outside the engine: the benchmark wraps calls
into a layer's public functions and keeps ``(layer, name, start, end,
parent)`` records in memory. The Spark event log (written uncompressed)
is reduced with stdlib ``json`` only. Jobs are assigned to the
innermost span open at their submission time; with one client thread
issuing operations one at a time that assignment is unambiguous.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- summary statistics -----------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    ``(value, percentile, samples_beyond)``. With ``n`` samples that is
    the ``(n-10)``-th smallest, at percentile ``100*(n-10)/n``. Fewer
    than 11 samples cannot have ten beyond any of them; the smallest
    sample is returned with however many lie beyond it."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    k = max(1, len(v) - 10)
    return v[k - 1], 100.0 * k / len(v), len(v) - k


def median(values: list[float]) -> float:
    return statistics.median(values)


# -- spans ------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. Disabled, every method is a no-op, so
    the untraced run pays one branch per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._main = threading.main_thread()

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled or threading.current_thread() is not self._main:
            yield None
            return
        rec = {
            "layer": layer,
            "name": name,
            "t0": time.time(),
            "t1": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.spans),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, layer: str, name: str, tag=False, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until
        :meth:`restore`. Calls from other threads pass straight through.
        ``on_result(result)`` runs after the span closes. With ``tag``
        the result, a DataFrame, remembers the span, so a later pull of
        it through :meth:`wrap_pulls` is charged to the same name."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapped(*a, **kw):
            with tracer.span(layer, name):
                out = fn(*a, **kw)
            if tag:
                out._trace_span = (layer, name)
            if on_result is not None and threading.current_thread() is tracer._main:
                on_result(out)
            return out

        self._patch(owner, attr, fn, wrapped)

    def wrap_pulls(self, owner, attr: str) -> None:
        """Span ``owner.attr`` (e.g. ``DataFrame.toPandas``) under the
        name its frame was tagged with; untagged frames pass through."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapped(obj, *a, **kw):
            where = getattr(obj, "_trace_span", None)
            if where is None:
                return fn(obj, *a, **kw)
            with tracer.span(*where):
                return fn(obj, *a, **kw)

        self._patch(owner, attr, fn, wrapped)

    def _patch(self, owner, attr, fn, wrapped) -> None:
        wrapped.__wrapped__ = fn
        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, fn))

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part its direct children cover."""
    out = {s["id"]: s["t1"] - s["t0"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["t1"] - s["t0"]
    return out


def innermost(spans: list[dict], t: float) -> dict | None:
    """The deepest span open at time ``t`` (spans are nested and
    recorded in start order, so the last one containing ``t`` wins)."""
    hit = None
    for s in spans:
        if s["t0"] <= t <= s["t1"]:
            hit = s
    return hit


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# -- /proc --------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the last ')'.
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user+system, plus reaped children) of ``root`` and
    every live descendant — the JVM and its Python workers."""
    parents: dict[int, int] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parents[int(name)] = int(st[1])
                stats[int(name)] = st
    keep = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parents.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    ticks = 0
    for pid in keep:
        st = stats.get(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based),
            # i.e. indices 11-14 after the pid and comm are cut off.
            ticks += sum(int(x) for x in st[11:15])
    return ticks / CLK_TCK


def client_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs
    (the ``steal`` column of ``/proc/stat``), summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + int(_stat(os.getpid())[19]) / CLK_TCK


# -- Spark event log ------------------------------------------------------------

_PY_METRICS = {
    "functions.python_total_s": ("time to run python workers", 1e-3),
    "functions.python_boot_s": ("time to start python workers", 1e-3),
    "functions.python_sent_mb": ("data sent to python workers", 1 / 2**20),
}


def _py_metric(name: str) -> str | None:
    low = name.lower()
    for metric, (needle, _) in _PY_METRICS.items():
        if needle in low:
            return metric
    return None


def read_event_log(path: str) -> dict:
    """Reduce one uncompressed event log to jobs, per-stage task sums
    and streaming progress. Only stdlib ``json``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    progress: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "id": jid,
                    "submit": ev["Submission Time"] / 1e3,
                    "end": None,
                    "stages": list(ev.get("Stage IDs", [])),
                    "group": props.get("spark.jobGroup.id"),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                s = stages.setdefault(sid, _zero_stage())
                s["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                s["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                s["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                r = m.get("Shuffle Read Metrics") or {}
                s["shuffle_read_mb"] += (
                    r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                ) / 2**20
                w = m.get("Shuffle Write Metrics") or {}
                s["shuffle_write_mb"] += w.get("Shuffle Bytes Written", 0) / 2**20
                s["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 2**20
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    metric = _py_metric(str(acc.get("Name", "")))
                    if metric is not None:
                        try:
                            s[metric] += float(acc.get("Update", 0)) * _PY_METRICS[metric][1]
                        except (TypeError, ValueError):
                            pass
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                p = ev.get("progress") or {}
                d = p.get("durationMs") or {}
                if "triggerExecution" in d:
                    progress.append(
                        {
                            "trigger_s": d["triggerExecution"] / 1e3,
                            "add_batch_s": d.get("addBatch", 0) / 1e3,
                            "rows": p.get("numInputRows", 0),
                            "at": _iso_epoch(p.get("timestamp")),
                        }
                    )
    for sid, jid in stage_job.items():
        if sid in stages:
            stages[sid]["job"] = jid
    return {"jobs": jobs, "stages": stages, "progress": progress}


def _zero_stage() -> dict:
    return {
        "tasks": 0,
        "job": None,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        **{m: 0.0 for m in _PY_METRICS},
    }


def _iso_epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


STAGE_SUMS = tuple(k for k in _zero_stage() if k not in ("tasks", "job"))


def attribute(log: dict, ops: list[dict], spans: list[dict]) -> dict:
    """Fold the event log onto the timed operations.

    Returns workload totals over the ops: ``spark.*`` and
    ``functions.*`` sums, ``spark.driver_only_s`` (each op's wall minus
    the union of its jobs' spans) and, per span, the jobs submitted
    while it was the innermost open span (``span_jobs``)."""
    out = {f"spark.{k}" if not k.startswith("functions.") else k: 0.0 for k in STAGE_SUMS}
    out.update({"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0, "spark.driver_only_s": 0.0})
    # Ops carry their index as job group; jobs from engine pool threads
    # carry none (the group does not cross threads).
    out.update({"trace.jobs_ungrouped": 0, "trace.group_mismatches": 0})
    span_jobs: dict[int, int] = {}
    by_op: dict[int, list[dict]] = {i: [] for i in range(len(ops))}
    for job in log["jobs"].values():
        if job["end"] is None:
            continue
        for i, op in enumerate(ops):
            if op["t0"] <= job["submit"] <= op["t1"]:
                by_op[i].append(job)
                s = innermost(spans, job["submit"])
                if s is not None:
                    span_jobs[s["id"]] = span_jobs.get(s["id"], 0) + 1
                break
    for i, op in enumerate(ops):
        covered = union_length(
            [(max(j["submit"], op["t0"]), min(j["end"], op["t1"])) for j in by_op[i]]
        )
        out["spark.driver_only_s"] += (op["t1"] - op["t0"]) - covered
        for job in by_op[i]:
            out["spark.jobs"] += 1
            if job["group"] is None:
                out["trace.jobs_ungrouped"] += 1
            elif job["group"] != str(i):
                out["trace.group_mismatches"] += 1
            for sid in job["stages"]:
                st = log["stages"].get(sid)
                if st is None:
                    continue  # skipped stage: its output was reused
                out["spark.stages"] += 1
                out["spark.tasks"] += st["tasks"]
                for k in STAGE_SUMS:
                    key = k if k.startswith("functions.") else f"spark.{k}"
                    out[key] += st[k]
    t0, t1 = ops[0]["t0"], ops[-1]["t1"]
    batches = [p for p in log["progress"] if p["at"] is not None and t0 <= p["at"] <= t1]
    out["streaming.microbatches"] = len(batches)
    out["streaming.batch_p50_s"] = median([p["trigger_s"] for p in batches]) if batches else 0.0
    out["streaming.trigger_overhead_s"] = sum(p["trigger_s"] - p["add_batch_s"] for p in batches)
    out["span_jobs"] = span_jobs
    return out


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
