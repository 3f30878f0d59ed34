from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from formula1_dataengineering_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Core count deliberately left to $SPARK_GRAFT_CPUS (default 32):
    # an r17 A/B pinned local[8] after two modules measured ~15%
    # faster at 8 cores, but the FULL suite came out a wash
    # (32c 19:10 vs 8c 19:57, within box noise) — per-test Spark job
    # latency, not task scheduling, is the floor. Recorded so the
    # experiment isn't re-run every round.
    s = get_spark(app_name="f1spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECTNESS


@pytest.fixture()
def crash_at_publish(monkeypatch):
    """Run a stored-layout verb that dies at its manifest publish — the
    commit point — leaving its staged owner dirs on disk, unnamed."""
    from formula1_dataengineering_spark import fsutil

    real = fsutil.rename

    def dying(spark_, src, dst):
        if "_MANIFEST_v" in dst:
            raise RuntimeError("simulated crash before the publish")
        return real(spark_, src, dst)

    def run(verb, *args, **kwargs):
        with monkeypatch.context() as m:
            m.setattr(fsutil, "rename", dying)
            with pytest.raises(RuntimeError, match="simulated crash"):
                verb(*args, **kwargs)

    return run


def delta_owners(path: str) -> list[str]:
    """Every ingest delta owner dir (``<table>/<part>/__d<batch>.<token>``)
    on disk under a stored layout, relative to its root."""
    out = []
    for t in sorted(os.listdir(path)):
        tdir = os.path.join(path, t)
        if t.startswith(("_", ".")) or not os.path.isdir(tdir):
            continue
        for p in sorted(os.listdir(tdir)):
            if "=" in p and os.path.isdir(os.path.join(tdir, p)):
                out += [
                    f"{t}/{p}/{o}"
                    for o in sorted(os.listdir(os.path.join(tdir, p)))
                    if o.startswith("__d")
                ]
    return out
