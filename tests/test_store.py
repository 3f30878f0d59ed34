"""The stored-layout commit protocol (operators/store.py) under fault
injection: every base writer, delta refresher and partition-rewrite
verb is crashed at each of its filesystem mutations in turn. A base
rebuild may leave the old rows or a marker-less layout the public
reader refuses; every other verb leaves the reader serving exactly
the old or the new rows (a multiset: a fold keeps the row set, so
only counts catch a double-counted delta) with ``_SUCCESS`` untouched.
Re-running the verb always lands the new rows. A retry of a
committed batch is crashed the same way: readers keep the batch's old
copy or get the new one, never neither. Also pins that a failed retry
of a committed batch keeps that batch, that a retry of a folded batch
is a no-op, that a lost manifest race rebases without losing either
edit, that an open is one root listing plus one manifest read, and
that caches taken inside the store's concurrent writes are released
with them."""

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
from formula1_dataengineering_spark.operators.compaction import (
    compact_dedup_index,
    compact_scd2_feed,
)
from formula1_dataengineering_spark.operators.dedup import (
    read_dedup_index,
    refresh_dedup_index,
    write_dedup_index,
)
from formula1_dataengineering_spark.operators.deletion import (
    delete_from_dedup_index,
    delete_scd2_history_keys,
)
from formula1_dataengineering_spark.operators.scd import (
    read_scd2_feed,
    read_scd2_history,
    refresh_scd2_feed,
    scd2_history,
    scd2_refresh_in_place,
    write_scd2_feed,
    write_scd2_history,
)
from formula1_dataengineering_spark.operators.vacuum import expire_scd2_history

_MUTATORS = ("move", "rename", "delete", "touch", "write_text", "mkdirs")
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


def _changes(spark, lo, hi):
    rows = [
        (i % 3, datetime(2024, 1, 1) + timedelta(seconds=i), f"v{i % 2}")
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "k long, ts timestamp, v string")


def _history(spark, lo, hi):
    return scd2_history(_changes(spark, lo, hi), "k", "ts", "v")


def _ids(spark, *ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


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


def _multiset(df):
    return sorted(map(tuple, df.select(sorted(df.columns)).collect()), key=repr)


def _dedup_rows(spark, path):
    hashes, bands, _ = read_dedup_index(spark, path)
    return _multiset(hashes), _multiset(bands)


def _feed_rows_all(spark, path):
    return _multiset(read_scd2_feed(spark, path)[0])


def _history_rows(spark, path):
    return _multiset(read_scd2_history(spark, path)[0])


def _one_day_index(s, p):
    write_dedup_index(_docs(s, 0, 8), p, n_shards=2)
    refresh_dedup_index(_docs(s, 8, 10), p, "d1")


def _two_day_feed(s, p):
    write_scd2_feed(_feed_rows(s, 0, 8), p, "k", "ts", "v", n_shards=2)
    refresh_scd2_feed(_feed_rows(s, 8, 10), p, "d1")
    refresh_scd2_feed(_feed_rows(s, 10, 12), p, "d2")


def _history_layout(s, p):
    write_scd2_history(_history(s, 0, 8), p, "k", n_shards=2)


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
    # Retries of a committed batch: one publish replaces its copy.
    "dedup_retry": (
        _one_day_index,
        lambda s, p: refresh_dedup_index(_docs(s, 8, 12), p, "d1"),
        _dedup_rows,
    ),
    "feed_retry": (
        _two_day_feed,
        lambda s, p: refresh_scd2_feed(_feed_rows(s, 8, 13), p, "d1"),
        _feed_rows_all,
    ),
    # Partition rewrites: one manifest publish each.
    "dedup_compact": (
        _one_day_index,
        lambda s, p: compact_dedup_index(s, p),
        _dedup_rows,
    ),
    "feed_compact": (
        _two_day_feed,
        lambda s, p: compact_scd2_feed(s, p),
        _feed_rows_all,
    ),
    "dedup_delete": (
        lambda s, p: write_dedup_index(_docs(s, 0, 8), p, n_shards=2),
        lambda s, p: delete_from_dedup_index(s, p, _ids(s, 3, 5)),
        _dedup_rows,
    ),
    # An erasure in partitions a live batch owns: the base view's copy
    # and the batch's own copy publish together.
    "dedup_delete_live": (
        _one_day_index,
        lambda s, p: delete_from_dedup_index(s, p, _ids(s, 3, 8)),
        _dedup_rows,
    ),
    "history_delete": (
        _history_layout,
        lambda s, p: delete_scd2_history_keys(
            s, p, s.createDataFrame([(1,)], "k long")
        ),
        _history_rows,
    ),
    "history_expire": (
        _history_layout,
        lambda s, p: expire_scd2_history(s, p, 0),
        _history_rows,
    ),
    "history_refresh_in_place": (
        _history_layout,
        lambda s, p: scd2_refresh_in_place(
            p, _changes(s, 0, 8), _changes(s, 8, 11), "k", "ts", "v"
        ),
        _history_rows,
    ),
}
_BASE_REBUILDS = {"dedup_base", "ann_base", "feed_base", "history_base"}
_FOLDS = {"dedup_compact", "feed_compact"}


def _instrument(monkeypatch, layout: str, replay: dict, crash_at=None) -> list:
    """Count the filesystem mutations a verb makes on ``layout`` and
    raise at call ``crash_at``. Mutations are the fsutil mutators:
    every table write lands in a staging dir and reaches the layout
    only through a later rename, which is counted.

    The verb's Spark outputs — its table writes and the index builds —
    run for real once and are recorded in ``replay``; later runs
    replay them. They are the same every run, and the jobs would
    otherwise dominate the test's wall time."""
    calls: list = []

    def count(name: str, args: tuple) -> None:
        calls.append((name, args))
        if len(calls) == crash_at:
            raise _Crash(f"crash at {name}{args}")

    for name in _MUTATORS:
        real = getattr(fsutil, name)

        def mutate(*args, _real=real, _name=name):
            count(_name, args[1:])
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
    marker_mtime = os.path.getmtime(os.path.join(template, store.SUCCESS))
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
    assert calls
    # A fold keeps the rows; it must retire every folded delta.
    if case in _FOLDS:
        assert new == old
        assert store.committed_delta_batches(spark, path) == []
    else:
        assert new != old
    for k in range(1, len(calls) + 1):
        where = (k, calls[k - 1])
        path, _ = run(f"crash{k}", crash_at=k)
        if case in _BASE_REBUILDS:
            try:
                seen = read(spark, path)
            except ValueError as e:
                assert "no _SUCCESS marker" in str(e), (where, e)
            else:
                assert seen == old, where
        else:
            # Never refused, never a mix, the marker never rewritten.
            assert read(spark, path) in (old, new), where
            marker = os.path.join(path, store.SUCCESS)
            assert os.path.getmtime(marker) == marker_mtime, where
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


@pytest.mark.parametrize("case", ["dedup", "feed"])
def test_retry_of_folded_batch_is_a_noop(spark, tmp_path, case):
    """Compaction maps a folded batch to None in the manifest, which
    keeps a retry of that batch from committing its rows a second time
    (the per-(path, batch_id) idempotence the stream replay relies
    on)."""
    build, compact, refresh, batch, read = {
        "dedup": (
            _one_day_index, compact_dedup_index, refresh_dedup_index,
            _docs(spark, 8, 10), _dedup_rows,
        ),
        "feed": (
            _two_day_feed, compact_scd2_feed, refresh_scd2_feed,
            _feed_rows(spark, 8, 10), _feed_rows_all,
        ),
    }[case]
    path = str(tmp_path / "layout")
    build(spark, path)
    compact(spark, path)
    folded = read(spark, path)
    refresh(batch, path, "d1")
    assert read(spark, path) == folded
    assert store.committed_delta_batches(spark, path) == []


def test_concurrent_writes_release_their_thunk_caches(spark):
    from formula1_dataengineering_spark import caching

    taken = []

    def thunk():
        df = caching.managed_cache(spark.range(7))
        df.count()
        taken.append(df)

    assert store.run_concurrently([thunk, lambda: 7, thunk]) == [
        None,
        7,
        None,
    ]
    assert len(taken) == 2
    for df in taken:
        assert not df.storageLevel.useMemory and not df.storageLevel.useDisk


def test_concurrent_thunks_keep_the_callers_job_group(spark):
    """Jobs started from run_concurrently's pool threads carry the
    caller's job group, so a traced or cancellable group sees them."""
    sc = spark.sparkContext
    sc.setJobGroup("run-concurrently", "pool jobs keep the caller's group")
    try:
        store.run_concurrently(
            [lambda: sc.parallelize([1], 1).count(), lambda: sc.parallelize([2], 1).count()]
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("run-concurrently")) == 2


def test_lost_manifest_race_rebases_and_keeps_both_edits(
    spark, tmp_path, monkeypatch
):
    """Two delta commits target the same next version: the loser's
    publish is refused, it re-reads the current manifest, re-applies
    its owner edit and publishes one version later — both batches
    land, neither re-stages."""
    from formula1_dataengineering_spark.operators import snapshot

    path = str(tmp_path / "layout")
    write_dedup_index(_docs(spark, 0, 8), path, n_shards=2)
    stale = store.open_layout(spark, path, "dedup index", "write_dedup_index")
    refresh_dedup_index(_docs(spark, 8, 10), path, "d1")  # takes v1
    published = []
    real_publish = snapshot.publish_snapshot

    def publish(spark_, path_, body):
        published.append((body["version"], real_publish(spark_, path_, body)))
        return published[-1][1]

    with monkeypatch.context() as m:
        m.setattr(store, "open_for_delta", lambda *a, **k: stale)
        m.setattr(snapshot, "publish_snapshot", publish)
        refresh_dedup_index(_docs(spark, 10, 12), path, "d2")
    assert published == [(1, False), (2, True)]
    assert store.committed_delta_batches(spark, path) == ["d1", "d2"]
    assert _dedup_ids(spark, path) == set(range(12))


def test_open_is_one_listing_one_manifest_read_and_one_scan_per_table(
    spark, tmp_path, monkeypatch
):
    """After 5 deltas, 2 compactions and an erasure, opening the index
    lists the root once, reads one manifest, and each table plans as
    exactly one Parquet FileScan."""
    path = str(tmp_path / "layout")
    write_dedup_index(_docs(spark, 0, 8), path, n_shards=2)
    for i, day in enumerate(("d1", "d2", "d3", "d4", "d5")):
        refresh_dedup_index(_docs(spark, 8 + 2 * i, 10 + 2 * i), path, day)
        if day in ("d2", "d4"):
            compact_dedup_index(spark, path)
        if day == "d3":
            delete_from_dedup_index(spark, path, _ids(spark, 3, 9))
    calls: dict[str, int] = {}
    for name in ("list_names", "read_text", "exists", "du", "mkdirs") + _MUTATORS:
        real = getattr(fsutil, name)

        def counted(*args, _real=real, _name=name):
            calls[_name] = calls.get(_name, 0) + 1
            return _real(*args)

        monkeypatch.setattr(fsutil, name, counted)
    hashes, bands, _ = read_dedup_index(spark, path)
    assert calls == {"list_names": 1, "read_text": 1}
    for df in (hashes, bands):
        plan = df._jdf.queryExecution().sparkPlan().toString()
        assert plan.count("FileScan parquet") == 1, plan
    assert store.committed_delta_batches(spark, path) == ["d5"]
    want = set(range(18)) - {3, 9}
    assert {r[0] for r in hashes.select("doc_id").collect()} == want
