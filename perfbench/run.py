"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics_batch --seed 1 --seconds 20 --trace 0

Runs one workload (see ``workloads.py``) from the root of a checkout of
the engine, checks its outputs, and prints one JSON object as the last
line of stdout: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also writes Spark's event log and its own spans and reports the
per-layer split instead. The line before it (``"detail"``) carries
everything else the run measured. Exit code 0 only when every operation
succeeded and every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: Per-layer metrics reported on every workload with ``--trace 1``; the
#: detail line carries the workload-specific ones as well.
PER_LAYER = (
    "session.start_s",
    "session.warmup_s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.shuffle_write_mb",
    "spark.gc_s",
    "spark.driver_only_s",
    "trace.unattributed_s",
)
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


class Harness:
    """Run-wide state shared by the loop and the workload."""

    def __init__(self, seed: int, trace: bool):
        from perfbench.trace import Tracer

        self.seed = seed
        self.work = WORK
        self.data_root = os.path.join(WORK, "data")
        self.tracer = Tracer(trace)
        self.counts: dict[str, float] = {}
        self.cache_peak_mb = 0.0
        self.files: dict[str, tuple[int, int]] = {}
        self.spark = None

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0.0) + value

    def sample_cache(self) -> None:
        """Traced runs: peak MB held by persisted RDDs."""
        if not self.tracer.enabled:
            return
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        self.cache_peak_mb = max(self.cache_peak_mb, mb)

    def count_files(self, df) -> None:
        """Traced runs: files the bound relation listed."""
        self.count("sources.files_listed", len(df.inputFiles()))

    def persisted_rdds(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())

    def walk_layouts(self, root: str) -> None:
        """Count files written (new or changed) under ``root`` since the
        previous walk, and the live totals now."""
        now: dict[str, tuple[int, int]] = {}
        for d, _, names in os.walk(root):
            for n in names:
                p = os.path.join(d, n)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                now[p] = (st.st_size, st.st_mtime_ns)
        for p, sig in now.items():
            if self.files.get(p) != sig:
                self.count("storage.files_written", 1)
                self.count("storage.bytes_written_mb", sig[0] / 2**20)
        self.files = now
        self.counts["storage.files_live"] = len(now)
        self.counts["storage.bytes_live_mb"] = sum(s for s, _ in now.values()) / 2**20
        self.counts["storage.manifests_live"] = sum(
            os.path.basename(p).startswith("_MANIFEST_v") for p in now
        )


def start_spark(trace: bool):
    from formula1_dataengineering_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # A fixed young generation under the parallel collector keeps the
        # JVM's resident set from swinging with GC timing (G1's adaptive
        # sizing moved peak_rss_mb by ~15% between identical runs).
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseParallelGC -Xmn256m"
        ),
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched (it exits when its
    stdin closes), and wait until the JVM and its Python workers end."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def pass_count(wl, seconds: float) -> int:
    """Whole passes filling about ``seconds`` at the workload's nominal
    pass time. The count depends on ``seconds`` only, never on how fast
    this run goes, so every run measures the same operation mix."""
    return max(1, round(seconds / wl.pass_s))


def timed_loop(h: Harness, wl, passes: int) -> list[dict]:
    """Run ``passes`` passes. An operation that raises counts as failed."""
    import traceback

    from formula1_dataengineering_spark.caching import cache_scope

    ops: list[dict] = []
    for p in range(passes):
        for name, fn in wl.operations(p):
            rdds = 0
            if h.tracer.enabled:
                rdds = h.persisted_rdds()
                # Cross-check for the time-based job attribution.
                h.spark.sparkContext.setJobGroup(str(len(ops)), name)
            ok = True
            with h.tracer.span("op", name):
                t0 = time.perf_counter()
                w0 = time.time()
                try:
                    with cache_scope():
                        fn()
                        h.sample_cache()
                except Exception:  # noqa: BLE001 — a failed operation is a measured outcome
                    traceback.print_exc(file=sys.stderr)
                    ok = False
                dt = time.perf_counter() - t0
            ops.append({"name": name, "t0": w0, "t1": w0 + dt, "s": dt, "ok": ok})
            if h.tracer.enabled:
                leaked = h.persisted_rdds() - rdds
                h.count("caching.leaked_rdds", max(0, leaked))
            if wl.root:
                h.walk_layouts(wl.root)
    return ops


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "formula1_dataengineering_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import trace as T
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # Everything the run writes stays under the work dir; Python workers
    # import the engine from this checkout.
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "local"), ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    import tempfile

    tempfile.tempdir = None

    trace = bool(args.trace)
    h = Harness(args.seed, trace)
    wl = WORKLOADS[args.workload](h)
    t_proc = T.process_start_time()
    # Inputs first, in a child process when they are not cached: the
    # session starts only afterwards, so a run that built its inputs
    # and one that found them cached measure the same process.
    t = time.time()
    wl.prepare()
    gen_s = time.time() - t
    t = time.time()
    h.spark = start_spark(trace)
    start_s = time.time() - t
    t = time.time()
    wl.setup()
    warmup_s = time.time() - t
    if trace:
        wl.trace_wraps(h.tracer)
    jvm = h.spark.sparkContext._gateway.proc.pid
    cpu0 = T.tree_cpu_s(jvm) + T.client_cpu_s()
    steal0 = T.host_steal_s()
    setup_s = time.time() - t_proc - gen_s
    passes = pass_count(wl, args.seconds)
    ops = timed_loop(h, wl, passes)
    cpu_s = T.tree_cpu_s(jvm) + T.client_cpu_s() - cpu0
    steal_s = T.host_steal_s() - steal0
    h.tracer.restore()
    h.tracer.enabled = False
    failures = wl.check()
    failed_ops = {i for i, o in enumerate(ops) if not o["ok"]}
    unkeyed = 0
    for key, msg in failures:
        print(f"check failed: {msg}", file=sys.stderr)
        if key is None:
            unkeyed += 1
        failed_ops.update(i for i, o in enumerate(ops) if key in (i, o["name"]))

    lat = [o["s"] for o in ops]
    tail, pct, beyond = T.tail(lat)
    failed = min(len(ops), len(failed_ops) + unkeyed)
    e2e = {
        "setup_s": setup_s,
        "wall_s": sum(lat),
        "latency_p50_s": T.median(lat),
        "latency_tail_s": tail,
        "cpu_s": cpu_s,
        "peak_rss_mb": T.vm_hwm_mb(jvm) + T.vm_hwm_mb(os.getpid()),
    }
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "input_fingerprint": wl.fingerprint,
        "input_gen_s": gen_s,
        "session_start_s": start_s,
        "warmup_s": warmup_s,
        "operations": len(ops),
        "op_latency_s": [[o["name"], round(o["s"], 4)] for o in ops],
        "passes": passes,
        "latency_tail_percentile": pct,
        "latency_tail_samples_beyond": beyond,
        "failed_ratio": failed / len(ops),
        # Not a metric of the engine: CPU time other tenants took while
        # the operations ran. Runs that lost more are slower throughout.
        "host_steal_s": steal_s,
        "peak_rss_jvm_mb": T.vm_hwm_mb(jvm),
        "peak_rss_client_mb": T.vm_hwm_mb(os.getpid()),
        "failed_checks": [msg for _, msg in failures],
        "end_to_end": e2e,
    }
    if wl.root:
        # Detail only: not in END_TO_END, so not on the last line.
        written = h.counts.get("storage.bytes_written_mb", 0.0) * 2**20
        e2e["write_amp"] = written / wl.ingested_bytes()
        e2e["space_amp"] = h.counts["storage.bytes_live_mb"] * 2**20 / wl.live_input_bytes()

    if trace:
        layers, spans = layer_metrics(h, wl, ops, start_s, warmup_s)
    stop_spark(h.spark)  # also flushes the event log
    key = run_key(wl.name, args.seed, wl.fingerprint)
    if trace:
        layers.update(event_log_metrics(ops, spans))
        base = untraced_wall(key)
        # Missing (null) when this checkout has no untraced run of the
        # same workload, seed, inputs and code.
        layers["trace.overhead"] = None if base is None else e2e["wall_s"] / base
        detail["per_layer"] = layers
    else:
        record_untraced_wall(key, e2e["wall_s"])

    print(json.dumps({"detail": detail}, sort_keys=True, default=float))
    if trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": _unit(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items() if k in END_TO_END}
    print(
        json.dumps(
            {"correct": not failures and failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}
        )
    )
    return 0 if failed == 0 else 1


def _unit(metric: str) -> str:
    """The unit of a ``PER_LAYER`` metric, from its name."""
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    return "count"


def layer_metrics(h: Harness, wl, ops, start_s, warmup_s) -> tuple[dict, list[dict]]:
    """Per-layer self time of the timed phase's spans, plus counts.
    Returns the metrics and those spans."""
    from perfbench import trace as T

    # Spans are recorded in start order, and recording stops with the
    # timed loop: the timed phase is everything from the first op on.
    first = next(s["id"] for s in h.tracer.spans if s["layer"] == "op")
    spans = h.tracer.spans[first:]
    self_t = T.self_times(spans)
    out: dict[str, float] = {"session.start_s": start_s, "session.warmup_s": warmup_s}
    for s in spans:
        key = "trace.unattributed_s" if s["layer"] == "op" else f"{s['layer']}.{s['name']}_s"
        out[key] = out.get(key, 0.0) + self_t[s["id"]]
    out.update(h.counts)
    out["caching.cached_mb_peak"] = h.cache_peak_mb
    out.update(wl.extra())
    return out, spans


def event_log_metrics(ops, spans) -> dict:
    from perfbench import trace as T

    log = T.read_event_log(T.find_event_log(os.path.join(WORK, "eventlog")))
    got = T.attribute(log, ops, spans)
    span_jobs = got.pop("span_jobs")
    layer = {s["id"]: s["layer"] for s in spans}
    got["plans.build_jobs"] = sum(n for sid, n in span_jobs.items() if layer.get(sid) == "plans")
    return got


def _wall_record() -> str:
    return os.path.join(WORK, "untraced_wall.json")


def run_key(workload: str, seed: int, fingerprint: str) -> str:
    """Workload, seed, input fingerprint and a hash of the engine's and
    the benchmark's code: traced and untraced runs compare only when all
    four agree."""
    import hashlib

    h = hashlib.sha256()
    for pkg in ("formula1_dataengineering_spark", "perfbench"):
        for d, dirs, names in sorted(os.walk(os.path.join(ROOT, pkg))):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(d, n), "rb") as f:
                        h.update(n.encode() + f.read())
    return f"{workload}/{seed}/{fingerprint}/{h.hexdigest()}"


def _load_walls() -> dict:
    try:
        with open(_wall_record()) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def record_untraced_wall(key: str, wall_s: float) -> None:
    rec = _load_walls()
    rec.setdefault(key, []).append(wall_s)
    path = _wall_record()
    with open(path + ".tmp", "w") as f:
        json.dump(rec, f)
    os.replace(path + ".tmp", path)


def untraced_wall(key: str) -> float | None:
    """Median untraced ``wall_s`` recorded under ``key``, or None."""
    from perfbench.trace import median

    walls = _load_walls().get(key)
    return median(walls) if walls else None


if __name__ == "__main__":
    sys.exit(main())
