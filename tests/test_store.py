"""The stored-layout commit protocol (operators/store.py) under fault
injection: every base writer and every delta refresher is crashed at
each of its filesystem mutations in turn. A crash may leave the old
rows or a marker-less layout the public reader refuses — never a mix —
and re-running the verb always lands the new rows. Also pins that a
failed retry of a committed batch keeps that batch, and that caches
taken inside the store's concurrent writes are released with them."""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from formula1_dataengineering_spark import fsutil
from formula1_dataengineering_spark.operators import clustering, dedup, store
from formula1_dataengineering_spark.operators.clustering import (
    read_ann_index,
    refresh_ann_index,
    write_ann_index,
)
from formula1_dataengineering_spark.operators.dedup import (
    read_dedup_index,
    refresh_dedup_index,
    write_dedup_index,
)
from formula1_dataengineering_spark.operators.scd import (
    read_scd2_feed,
    read_scd2_history,
    refresh_scd2_feed,
    scd2_history,
    write_scd2_feed,
    write_scd2_history,
)

_MUTATORS = ("rename", "delete", "touch", "write_text")
_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]


class _Crash(RuntimeError):
    pass


def _docs(spark, lo, hi):
    rows = [
        (i, " ".join(_WORDS[(i * j) % len(_WORDS)] for j in range(1, 7)))
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vecs(spark, lo, hi):
    rows = [
        (i, [float(i * 7 % 5), float(i % 3), float(i % 2), 1.0])
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _emb(spark, lo, hi):
    return _vecs(spark, lo, hi).withColumn("label", F.col("vec_id") % 2)


def _feed_rows(spark, lo, hi):
    rows = [(i % 3, 1000 + i, f"v{i % 2}") for i in range(lo, hi)]
    return spark.createDataFrame(rows, "k long, ts long, v string")


def _history(spark, lo, hi):
    rows = [
        (i % 3, datetime(2024, 1, 1) + timedelta(seconds=i), f"v{i % 2}")
        for i in range(lo, hi)
    ]
    changes = spark.createDataFrame(rows, "k long, ts timestamp, v string")
    return scd2_history(changes, "k", "ts", "v")


def _dedup_ids(spark, path):
    hashes = read_dedup_index(spark, path)[0]
    return {r[0] for r in hashes.select("doc_id").collect()}


def _ann_ids(spark, path):
    codes = read_ann_index(spark, path)[0]
    return {r[0] for r in codes.select("vec_id").collect()}


def _feed_set(spark, path):
    feed = read_scd2_feed(spark, path)[0]
    return {tuple(r) for r in feed.select("k", "ts", "v").collect()}


def _history_set(spark, path):
    hist, _ = read_scd2_history(spark, path)
    return {tuple(r) for r in hist.select("k", "effective_from_us").collect()}


#: name -> (build the old layout, the verb under test, public reader)
_CASES = {
    "dedup_base": (
        lambda s, p: (
            write_dedup_index(_docs(s, 0, 8), p, n_shards=2),
            refresh_dedup_index(_docs(s, 8, 10), p, "d1"),
        ),
        lambda s, p: write_dedup_index(_docs(s, 20, 26), p, n_shards=2),
        _dedup_ids,
    ),
    "ann_base": (
        lambda s, p: (
            write_ann_index(_emb(s, 0, 10), p, m=2, k=2, iters=1),
            refresh_ann_index(_vecs(s, 10, 12), p, "d1"),
        ),
        lambda s, p: write_ann_index(_emb(s, 20, 28), p, m=2, k=2, iters=1),
        _ann_ids,
    ),
    "feed_base": (
        lambda s, p: (
            write_scd2_feed(
                _feed_rows(s, 0, 8), p, "k", "ts", "v", n_shards=2
            ),
            refresh_scd2_feed(_feed_rows(s, 8, 10), p, "d1"),
        ),
        lambda s, p: write_scd2_feed(
            _feed_rows(s, 20, 26), p, "k", "ts", "v", n_shards=2
        ),
        _feed_set,
    ),
    "history_base": (
        lambda s, p: write_scd2_history(
            _history(s, 0, 8), p, "k", n_shards=2
        ),
        lambda s, p: write_scd2_history(
            _history(s, 20, 26), p, "k", n_shards=2
        ),
        _history_set,
    ),
    "dedup_refresh": (
        lambda s, p: write_dedup_index(_docs(s, 0, 8), p, n_shards=2),
        lambda s, p: refresh_dedup_index(_docs(s, 8, 11), p, "d1"),
        _dedup_ids,
    ),
    "ann_refresh": (
        lambda s, p: write_ann_index(_emb(s, 0, 10), p, m=2, k=2, iters=1),
        lambda s, p: refresh_ann_index(_vecs(s, 10, 13), p, "d1"),
        _ann_ids,
    ),
    "feed_refresh": (
        lambda s, p: write_scd2_feed(
            _feed_rows(s, 0, 8), p, "k", "ts", "v", n_shards=2
        ),
        lambda s, p: refresh_scd2_feed(_feed_rows(s, 8, 11), p, "d1"),
        _feed_set,
    ),
}


def _instrument(monkeypatch, layout: str, replay: dict, crash_at=None) -> list:
    """Count the filesystem mutations a verb makes on ``layout`` and
    raise at call ``crash_at``.

    The verb's Spark outputs — its table writes and the index builds —
    run for real once and are recorded in ``replay``; later runs
    replay them. They are the same every run, and the jobs would
    otherwise dominate the test's wall time."""
    calls: list = []
    for name in _MUTATORS:
        real = getattr(fsutil, name)

        def mutate(*args, _real=real, _name=name):
            calls.append((_name, args[1:]))
            if len(calls) == crash_at:
                raise _Crash(f"crash at {_name}{args[1:]}")
            return _real(*args)

        monkeypatch.setattr(fsutil, name, mutate)
    real_write = store.write_table

    def write(table, d):
        copy = os.path.join(replay["dir"], os.path.relpath(d, layout))
        if not os.path.isdir(copy):
            real_write(table, d)
            shutil.copytree(d, copy)
        else:
            shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(copy, d)

    monkeypatch.setattr(store, "write_table", write)
    builders = ((clustering, "build_ann_index"), (dedup, "build_dedup_index"))
    for module, name in builders:
        real_build = getattr(module, name)

        def build(df, *args, _real=real_build, _name=name):
            if _name not in replay:
                frames = _real(df, *args)
                replay[_name] = [(f.schema, f.collect()) for f in frames]
            spark = df.sparkSession
            return tuple(spark.createDataFrame(r, t) for t, r in replay[_name])

        monkeypatch.setattr(module, name, build)
    return calls


@pytest.mark.parametrize("case", sorted(_CASES))
def test_crash_at_every_mutation_leaves_old_rows_or_refusal(
    spark, tmp_path, monkeypatch, case
):
    build_old, verb, read = _CASES[case]
    template = str(tmp_path / "template")
    build_old(spark, template)
    old = read(spark, template)
    replay = {"dir": str(tmp_path / "replay")}

    def run(name: str, crash_at=None) -> tuple[str, list]:
        path = str(tmp_path / name)
        shutil.copytree(template, path)
        with monkeypatch.context() as m:
            calls = _instrument(m, path, replay, crash_at)
            if crash_at is None:
                verb(spark, path)
            else:
                with pytest.raises(_Crash):
                    verb(spark, path)
        return path, calls

    path, calls = run("clean")
    new = read(spark, path)
    assert new != old and calls
    for k in range(1, len(calls) + 1):
        where = (k, calls[k - 1])
        path, _ = run(f"crash{k}", crash_at=k)
        try:
            seen = read(spark, path)
        except ValueError as e:
            assert "no _SUCCESS marker" in str(e), (where, e)
        else:
            assert seen == old, where
        with monkeypatch.context() as m:
            _instrument(m, path, replay)
            verb(spark, path)
        assert read(spark, path) == new, where


@pytest.mark.parametrize("case", ["dedup_refresh", "feed_refresh"])
def test_failed_retry_keeps_committed_batch(spark, tmp_path, case):
    build_old, _, read = _CASES[case]
    path = str(tmp_path / "layout")
    build_old(spark, path)
    batch, refresh, col = {
        "dedup_refresh": (_docs(spark, 8, 11), refresh_dedup_index, "text"),
        "feed_refresh": (_feed_rows(spark, 8, 11), refresh_scd2_feed, "v"),
    }[case]
    refresh(batch, path, "d1")
    committed = read(spark, path)
    poisoned = batch.withColumn(
        col, F.raise_error("poisoned batch").cast("string")
    )
    with pytest.raises(Exception, match="poisoned batch"):
        refresh(poisoned, path, "d1")
    assert store.committed_delta_batches(spark, path) == ["d1"]
    assert read(spark, path) == committed


def test_concurrent_writes_release_their_thunk_caches(spark):
    from formula1_dataengineering_spark import caching

    taken = []

    def thunk():
        df = caching.managed_cache(spark.range(7))
        df.count()
        taken.append(df)

    store.run_concurrently([thunk, thunk])
    assert len(taken) == 2
    for df in taken:
        assert not df.storageLevel.useMemory and not df.storageLevel.useDisk
