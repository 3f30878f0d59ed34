"""Versioned-manifest snapshots (operators/snapshot.py and
operators/store.py's partition rewrite): erasure commits publish a
new manifest instead of swapping partition dirs in place, so readers
NEVER hit a marker outage — a snapshot resolved before a commit stays
exactly readable after it, until vacuum retires it."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from formula1_dataengineering_spark.operators import snapshot
from formula1_dataengineering_spark.operators.deletion import (
    delete_scd2_feed_keys,
)
from formula1_dataengineering_spark.operators.scd import (
    read_scd2_feed,
    write_scd2_feed,
)
from formula1_dataengineering_spark.operators.vacuum import vacuum_layout


def _feed(spark, path, n_shards=2):
    rows = [(i % 4, 1000 + i, "x") for i in range(32)]
    feed = spark.createDataFrame(rows, "k long, ts long, v string")
    write_scd2_feed(feed, path, "k", "ts", "v", n_shards=n_shards)


def _keys(spark, *ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def test_cow_commit_never_touches_marker_and_bumps_version(
    spark, tmp_path
):
    path = str(tmp_path / "feed")
    _feed(spark, path)
    assert snapshot.current_version(spark, path) == 0
    marker = os.path.join(path, "_SUCCESS")
    mtime = os.path.getmtime(marker)
    info = delete_scd2_feed_keys(spark, path, _keys(spark, 1))
    assert info["rows_deleted"] == 8
    assert os.path.getmtime(marker) == mtime  # marker never rewritten
    assert snapshot.current_version(spark, path) == 1
    after, _ = read_scd2_feed(spark, path)
    assert after.where("k = 1").count() == 0
    assert after.count() == 24


def test_time_travel_reads_each_snapshot_exactly(spark, tmp_path):
    """Reader resolved 'before the swap' = an older snapshot version:
    still byte-readable after later commits; version 0 is the
    original base."""
    path = str(tmp_path / "feed")
    _feed(spark, path)
    delete_scd2_feed_keys(spark, path, _keys(spark, 1))  # -> v1
    delete_scd2_feed_keys(spark, path, _keys(spark, 2))  # -> v2
    cur, _ = read_scd2_feed(spark, path)
    assert sorted(
        r.k for r in cur.select("k").distinct().collect()
    ) == [0, 3]
    v1, _ = read_scd2_feed(spark, path, snapshot_version=1)
    assert sorted(
        r.k for r in v1.select("k").distinct().collect()
    ) == [0, 2, 3]
    v0, _ = read_scd2_feed(spark, path, snapshot_version=0)
    assert sorted(
        r.k for r in v0.select("k").distinct().collect()
    ) == [0, 1, 2, 3]
    assert v0.count() == 32 and v1.count() == 24 and cur.count() == 16


def test_vacuum_class5_retires_old_snapshots_only(spark, tmp_path):
    path = str(tmp_path / "feed")
    _feed(spark, path)
    delete_scd2_feed_keys(spark, path, _keys(spark, 1))  # -> v1
    delete_scd2_feed_keys(spark, path, _keys(spark, 2))  # -> v2
    want = sorted(
        map(
            tuple,
            read_scd2_feed(spark, path)[0]
            .select("k", "ts", "v")
            .collect(),
        )
    )
    info = vacuum_layout(spark, path)
    assert info["snapshots_retired"] == 1  # v1 manifest gone
    assert info["version_dirs_removed"] >= 1
    assert snapshot.current_version(spark, path) == 2
    # Current snapshot byte-identical after the sweep.
    got = sorted(
        map(
            tuple,
            read_scd2_feed(spark, path)[0]
            .select("k", "ts", "v")
            .collect(),
        )
    )
    assert got == want
    # Old snapshots are retired — exactly "readable until vacuumed".
    with pytest.raises(ValueError, match="no snapshot manifest v1"):
        read_scd2_feed(spark, path, snapshot_version=1)
    # Idempotent: a second sweep finds nothing of class 5.
    info2 = vacuum_layout(spark, path)
    assert info2["snapshots_retired"] == 0
    assert info2["version_dirs_removed"] == 0


def test_read_snapshot_raises_on_vacuumed_version(spark, tmp_path):
    path = str(tmp_path / "feed")
    _feed(spark, path)
    with pytest.raises(ValueError, match="no snapshot manifest v7"):
        snapshot.read_snapshot(spark, path, 7)


def test_publish_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "feed")
    _feed(spark, path)
    body = {"version": 1, "dirs": {}}
    snapshot.publish_snapshot(spark, path, body)
    snapshot.publish_snapshot(spark, path, {"version": 1, "dirs": {"x": 1}})
    assert snapshot.read_snapshot(spark, path, 1) == body


def test_null_partition_rows_survive_versioning(spark, tmp_path):
    """The NULL shard arm: rows in the default partition keep reading
    when OTHER partitions are versioned, and a versioned rewrite OF
    the default partition resolves to the version copy."""
    from formula1_dataengineering_spark.operators import store

    path = str(tmp_path / "lay")
    rows = [(i, i % 2 if i % 5 else None, 10 * i) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, shard int, val long")
    df.repartition("shard").write.partitionBy("shard").parquet(
        os.path.join(path, "t")
    )
    for name in ("_SUCCESS", "_META.json"):
        with open(os.path.join(path, name), "w") as fh:
            fh.write("{}")
    layout = store.open_layout(spark, path, "test layout", "a writer")
    snap0 = layout.snap
    base = snapshot.snapshot_dir_read(spark, path, "t", snap0)
    assert base.count() == 20
    # Rewrite shard 0 (all even ids), keeping multiples of 4.
    keep = base.where(
        (F.col("shard") == 0) & (F.col("id") % 4 == 0)
    )
    job = store.stage_rewrite(spark, layout, "t", keep, "shard", [0])
    store.commit_rewrite(spark, layout, [job])
    snap1 = snapshot.read_snapshot(spark, path)
    out = snapshot.snapshot_dir_read(spark, path, "t", snap1)
    assert out.where("shard is null").count() == 4  # untouched NULLs
    assert out.where("shard = 0").count() == 4  # ids 4,8,12,16
    assert out.where("shard = 1").count() == 8  # untouched


def test_manifest_without_meta_or_folded_still_reads(spark, tmp_path):
    """Manifests published before they carried the layout metadata
    and the folded batch ids: the open falls back to _META.json and
    every marked batch is live."""
    import json

    from formula1_dataengineering_spark.operators import store
    from formula1_dataengineering_spark.operators.scd import refresh_scd2_feed

    path = str(tmp_path / "feed")
    _feed(spark, path)
    refresh_scd2_feed(
        spark.createDataFrame([(9, 5000, "y")], "k long, ts long, v string"),
        path,
        "day1",
    )
    delete_scd2_feed_keys(spark, path, _keys(spark, 1))
    manifest = os.path.join(path, "_MANIFEST_v1.json")
    with open(manifest) as fh:
        body = json.load(fh)
    assert body["meta"]["rows_deleted"] == {"feed_rows": 8}
    with open(manifest, "w") as fh:
        json.dump({"version": 1, "dirs": body["dirs"]}, fh)
    layout = store.open_layout(spark, path, "scd2 feed layout", "writer")
    assert layout.batches == ["day1"]
    assert "rows_deleted" not in layout.meta
    after, _ = read_scd2_feed(spark, path)
    assert after.count() == 25 and after.where("k = 1").count() == 0
