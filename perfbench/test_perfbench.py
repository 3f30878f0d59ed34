"""Unit tests for the benchmark harness (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json

import pandas as pd
import pytest

from perfbench import gen, trace
from perfbench.run import pass_count, record_untraced_wall, run_key, untraced_wall
from perfbench.workloads import WORKLOADS, lap_label, oracle_mismatch

SMALL = {k: 50 for k in gen.SF01}


def test_catalog_fingerprint_is_a_function_of_the_seed():
    a = gen.fingerprint(gen.catalog_frames(7, SMALL))
    assert a == gen.fingerprint(gen.catalog_frames(7, SMALL))
    assert a != gen.fingerprint(gen.catalog_frames(8, SMALL))


def test_f1_season_fingerprint_is_a_function_of_the_seed():
    kw = dict(meetings=1, drivers=3, race_laps=3, quali_laps=2, hz=1.0)
    a = gen.f1_season_frames(3, **kw)
    assert gen.fingerprint(a) == gen.fingerprint(gen.f1_season_frames(3, **kw))
    assert gen.fingerprint(a) != gen.fingerprint(gen.f1_season_frames(4, **kw))
    assert set(a) == {"meetings", "sessions", "drivers", "laps", "stints", "pit", "car_data"}


def test_f1_season_layout_partitions_facts_by_session(tmp_path):
    kw = dict(meetings=1, drivers=2, race_laps=3, quali_laps=2, hz=1.0)
    gen.write_f1_season(str(tmp_path), 5, **kw)
    assert sorted(p.name for p in (tmp_path / "laps.parquet").iterdir()) == [
        "session_key=9000", "session_key=9001"]
    assert [p.name for p in (tmp_path / "sessions.parquet").iterdir()] == ["part-0.parquet"]


def test_cached_dir_builds_once(tmp_path):
    calls = []

    def build(path):
        calls.append(path)
        return "fp"

    assert gen.cached_dir(str(tmp_path), "k", 1, build)[1] == "fp"
    assert gen.cached_dir(str(tmp_path), "k", 1, build)[1] == "fp"
    assert len(calls) == 1


@pytest.mark.parametrize(
    "n, value, pct, beyond",
    [(30, 20.0, 100 * 20 / 30, 10), (11, 1.0, 100 / 11, 10), (5, 1.0, 20.0, 4), (1, 1.0, 100.0, 0)],
)
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, value, pct, beyond):
    got = trace.tail([float(x) for x in range(n, 0, -1)])
    assert got == (value, pytest.approx(pct), beyond)


def test_pass_count_depends_on_seconds_only():
    class W:
        pass_s = 6.0

    assert pass_count(W, 10) == 2
    assert pass_count(W, 1) == 1
    assert pass_count(W, 30) == 5


def _benchmark_json():
    import os

    with open(os.path.join(os.path.dirname(__file__), os.pardir, "BENCHMARK.json")) as f:
        return json.load(f)


def test_listed_workloads_time_enough_operations_for_the_tail():
    """With ten samples beyond it, the tail lies above the median only
    from 21 operations on."""
    spec = _benchmark_json()

    class H:
        seed = 1

    for w in spec["workloads"]:
        wl = WORKLOADS[w["name"]](H)
        wl.data = "inputs"
        wl.sessions = sorted(gen.f1_season_frames(1)["sessions"]["session_key"])
        n = sum(len(wl.operations(p)) for p in range(pass_count(wl, spec["run_seconds"])))
        assert n >= 21, (w["name"], n)


def test_untraced_wall_is_keyed_by_run(tmp_path, monkeypatch):
    import perfbench.run as run

    monkeypatch.setattr(run, "WORK", str(tmp_path))
    a, b = run_key("w", 1, "fp"), run_key("w", 2, "fp")
    assert a != b and a == run_key("w", 1, "fp")
    record_untraced_wall(a, 2.0)
    record_untraced_wall(a, 4.0)
    assert untraced_wall(a) == 3.0
    assert untraced_wall(b) is None


def test_tagged_frames_charge_their_pulls_to_the_producer():
    class Frame:
        def pull(self):
            return 1

    class Facade:
        def telemetry(self):
            return Frame()

    tr = trace.Tracer(True)
    tr.wrap(Facade, "telemetry", "f1", "telemetry", tag=True)
    tr.wrap_pulls(Frame, "pull")
    Facade().telemetry().pull()
    Frame().pull()  # untagged: no span
    tr.restore()
    assert [(s["layer"], s["name"]) for s in tr.spans] == [("f1", "telemetry")] * 2
    assert Frame.pull.__name__ == "pull"


def test_lap_label_matches_engine_format():
    assert lap_label(92.3456) == "1:32.346"
    assert lap_label(59.9996) == "1:00.000"


def test_oracle_mismatch_catches_a_planted_value():
    want = pd.DataFrame({"b": [1.0, None], "a": ["x", "y"]})
    assert oracle_mismatch(want[["a", "b"]].iloc[::-1], want) is None
    bad = want.copy()
    bad.loc[0, "b"] = 2.0
    assert "col b" in oracle_mismatch(bad, want)


def test_oracle_mismatch_admits_only_a_last_cent_at_1e9():
    want = pd.DataFrame({"revenue": [1164506426.98], "n": [3]})
    assert oracle_mismatch(want.assign(revenue=[1164506426.99]), want) is None
    assert "col revenue" in oracle_mismatch(want.assign(revenue=[1164506427.98]), want)
    assert "col n" in oracle_mismatch(want.assign(n=[4]), want)
    # An integer column with NULLs arrives as float64: exact, not 1e-11.
    ts = pd.DataFrame({"ts_us": [1.7e15, None]})
    assert "col ts_us" in oracle_mismatch(ts.assign(ts_us=[1.7e15 + 1, None]), ts)


def _canned_log(path):
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000_100,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [
             {"Name": "time to run Python workers", "Update": 250},
             {"Name": "data sent to Python workers", "Update": 2**20}]},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 300_000_000,
                          "JVM GC Time": 10, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 2**20},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**21}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 100, "Executor CPU Time": 100_000_000}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1000_600},
        # Job 1 was submitted from a pool thread: no group, same op.
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000_700,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 50}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1000_800},
        # Job 2 runs outside every op: not attributed.
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1005_000,
         "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1005_100},
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
         "progress": {"timestamp": "1970-01-01T00:16:40.500Z", "numInputRows": 5,
                      "durationMs": {"triggerExecution": 300, "addBatch": 200}}},
    ]
    path.write_text("\n".join(json.dumps(e) for e in ev) + "\n")


def test_event_log_reduction_and_attribution(tmp_path):
    log_path = tmp_path / "app"
    _canned_log(log_path)
    log = trace.read_event_log(str(log_path))
    assert sorted(log["jobs"]) == [0, 1, 2]
    ops = [{"t0": 1000.0, "t1": 1001.0}]
    spans = [{"id": 0, "layer": "op", "name": "q", "t0": 1000.0, "t1": 1001.0, "parent": None},
             {"id": 1, "layer": "plans", "name": "build", "t0": 1000.05, "t1": 1000.2, "parent": 0}]
    got = trace.attribute(log, ops, spans)
    assert got["spark.jobs"] == 2
    assert got["spark.stages"] == 2  # stage 1 never ran: skipped
    assert got["spark.tasks"] == 3
    assert got["spark.executor_run_s"] == pytest.approx(0.55)
    assert got["spark.executor_cpu_s"] == pytest.approx(0.4)
    assert got["spark.gc_s"] == pytest.approx(0.01)
    assert got["spark.shuffle_read_mb"] == pytest.approx(1.0)
    assert got["spark.shuffle_write_mb"] == pytest.approx(2.0)
    assert got["functions.python_total_s"] == pytest.approx(0.25)
    assert got["functions.python_sent_mb"] == pytest.approx(1.0)
    # 1 s of op wall, jobs cover 0.1-0.6 and 0.7-0.8.
    assert got["spark.driver_only_s"] == pytest.approx(0.4)
    assert got["span_jobs"] == {1: 1, 0: 1}
    assert got["trace.jobs_ungrouped"] == 1
    assert got["trace.group_mismatches"] == 0
    assert got["streaming.microbatches"] == 1
    assert got["streaming.trigger_overhead_s"] == pytest.approx(0.1)


def test_self_time_and_union():
    spans = [{"id": 0, "parent": None, "t0": 0.0, "t1": 10.0},
             {"id": 1, "parent": 0, "t0": 1.0, "t1": 4.0},
             {"id": 2, "parent": 1, "t0": 2.0, "t1": 3.0}]
    assert trace.self_times(spans) == {0: 7.0, 1: 2.0, 2: 1.0}
    assert trace.union_length([(0, 2), (1, 3), (5, 6)]) == 4


def test_reported_metrics_match_benchmark_json():
    from perfbench.run import END_TO_END, PER_LAYER, _unit

    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [(k, _unit(k)) for k in PER_LAYER]
