"""Targeted deletion / retraction (operators/deletion.py): rows
physically gone from base AND committed deltas, untouched partitions
byte-identical, emptied partition directories removed, static HRW
pruning for key-sharded layouts, idempotent re-runs, a crash that
leaves the old snapshot current, and refusal of a marker-less
layout."""

from __future__ import annotations

import hashlib
import os
import random

import pytest
from pyspark.sql import functions as F

from formula1_dataengineering_spark.operators.deletion import (
    delete_from_ann_index,
    delete_from_dedup_index,
    delete_scd2_feed_keys,
)

_D = 8


def _docs(spark, n=60):
    rng = random.Random(11)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(12)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _emb(spark, n=40, cells=3):
    rng = random.Random(7)
    rows = [
        (
            i,
            [round(rng.uniform(-1, 1), 3) for _ in range(_D)],
            i % cells,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _snapshot(root):
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(
                    fh.read()
                ).hexdigest()
    return out


def test_dedup_delete_reaches_base_and_delta(spark, tmp_path):
    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    path = str(tmp_path / "idx")
    write_dedup_index(d.where("doc_id % 2 = 1"), path, n_shards=4)
    refresh_dedup_index(d.where("doc_id % 2 = 0"), path, "day1")
    # Victims straddle base (odd) and delta (even).
    victims = spark.createDataFrame([(3,), (4,)], "doc_id long")
    h0, b0, _ = read_dedup_index(spark, path)
    want_h = [r for r in _rows(h0) if r[0] not in (3, 4)]
    want_b = [r for r in _rows(b0) if r[0] not in (3, 4)]
    info = delete_from_dedup_index(spark, path, victims)
    # 1 hash row + 4 band rows per doc, per victim, across both dirs.
    assert info["rows_deleted"] == 2 * 5
    h1, b1, _ = read_dedup_index(spark, path)
    assert _rows(h1) == want_h
    assert _rows(b1) == want_b
    # Idempotent: nothing left to delete.
    again = delete_from_dedup_index(spark, path, victims)
    assert again == {"rows_deleted": 0, "partitions_rewritten": 0}


def test_dedup_delete_untouched_partitions_byte_identical(
    spark, tmp_path
):
    from formula1_dataengineering_spark.operators.dedup import (
        write_dedup_index,
    )

    d = _docs(spark, n=80)
    path = str(tmp_path / "idx")
    write_dedup_index(d, path, n_shards=32)
    before = _snapshot(os.path.join(path, "content_hashes"))
    victims = spark.createDataFrame([(7,)], "doc_id long")
    delete_from_dedup_index(spark, path, victims)
    after = _snapshot(os.path.join(path, "content_hashes"))
    changed = {
        k
        for k in set(before) | set(after)
        if before.get(k) != after.get(k)
    }
    # A single victim touches at most a couple of the 32 shards; the
    # rest keep names AND bytes.
    untouched = [k for k in before if k in after and k not in changed]
    assert len(changed) <= 6
    assert len(untouched) >= 25


def test_ann_delete_prunes_topk_and_keeps_codebook(spark, tmp_path):
    from formula1_dataengineering_spark.operators.clustering import (
        read_ann_index,
        refresh_ann_index,
        write_ann_index,
    )

    e = _emb(spark)
    path = str(tmp_path / "ann")
    write_ann_index(e.where("vec_id % 5 != 0"), path, m=4, k=4, iters=2)
    refresh_ann_index(e.where("vec_id % 5 = 0"), path, "day1")
    _, cb_before, cells_before, _ = read_ann_index(spark, path)
    want_cb = _rows(cb_before)
    want_cells = _rows(cells_before)
    victims = spark.createDataFrame([(5,), (12,)], "vec_id long")
    info = delete_from_ann_index(spark, path, victims)
    assert info["rows_deleted"] == 2 * 4  # m=4 code rows per vector
    codes, cb, cells, _ = read_ann_index(spark, path)
    assert codes.where(F.col("vec_id").isin(5, 12)).count() == 0
    # Training statistics untouched byte-for-byte at the value level.
    assert _rows(cb) == want_cb
    assert _rows(cells) == want_cells


def test_feed_key_delete_static_pruning_and_empty_partitions(
    spark, tmp_path
):
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        refresh_scd2_feed,
        write_scd2_feed,
    )

    rows = [(i % 4, 1000 + i, f"v{i}") for i in range(40)]
    feed = spark.createDataFrame(rows, "k long, ts long, v string")
    path = str(tmp_path / "feed")
    # 2 shards: with only 4 keys, erasing one key can empty a whole
    # shard partition — the emptied-directory sweep must fire.
    write_scd2_feed(
        feed.where("ts % 2 = 0"), path, "k", "ts", "v", n_shards=2
    )
    refresh_scd2_feed(feed.where("ts % 2 = 1"), path, "day1")
    all_rows = _rows(read_scd2_feed(spark, path)[0].select("k", "ts", "v"))
    # NULL keys in the request are REFUSED (ADVICE r14): a silent
    # no-op erasure is worse than a loud failure.
    with pytest.raises(ValueError, match="NULL"):
        delete_scd2_feed_keys(
            spark, path, spark.createDataFrame([(2,), (None,)], "k long")
        )
    erased = spark.createDataFrame([(2,)], "k long")
    info = delete_scd2_feed_keys(spark, path, erased)
    assert info["rows_deleted"] == 10  # 40 rows / 4 keys
    after, _ = read_scd2_feed(spark, path)
    got = _rows(after.select("k", "ts", "v"))
    assert got == [r for r in all_rows if r[0] != 2]
    # Idempotent.
    assert delete_scd2_feed_keys(spark, path, erased)["rows_deleted"] == 0
    # Marker restored; external reader path works.
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_delete_refuses_markerless_layout(spark, tmp_path):
    """A marker-less layout is a crashed rebuild: the erasure refuses
    it like every reader does, and re-running the writer recovers
    it."""
    from formula1_dataengineering_spark.operators.scd import write_scd2_feed

    rows = [(i % 4, 1000 + i, "x") for i in range(16)]
    feed = spark.createDataFrame(rows, "k long, ts long, v string")
    path = str(tmp_path / "feed")
    write_scd2_feed(feed, path, "k", "ts", "v", n_shards=2)
    os.remove(os.path.join(path, "_SUCCESS"))
    erased = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="no _SUCCESS marker"):
        delete_scd2_feed_keys(spark, path, erased)


def test_delete_refuses_metaless_layout(spark, tmp_path):
    path = str(tmp_path / "nothing")
    os.makedirs(path)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    ids = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="no _META.json"):
        delete_from_dedup_index(spark, path, ids)


def test_delete_then_compact_keeps_deletions(spark, tmp_path):
    """Composition with the fold: a delete reaching a delta's rows
    must survive a LATER compaction of that delta (the fold unions
    what remains — resurrecting deleted rows would be the tombstone
    bug this design avoids by physical removal)."""
    from formula1_dataengineering_spark.operators.compaction import (
        compact_dedup_index,
    )
    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    path = str(tmp_path / "idx")
    write_dedup_index(d.where("doc_id % 2 = 1"), path, n_shards=4)
    refresh_dedup_index(d.where("doc_id % 2 = 0"), path, "day1")
    victims = spark.createDataFrame([(3,), (4,)], "doc_id long")
    delete_from_dedup_index(spark, path, victims)
    want = _rows(read_dedup_index(spark, path)[0])
    summary = compact_dedup_index(spark, path)
    assert summary["n_deltas_folded"] == 1
    assert _rows(read_dedup_index(spark, path)[0]) == want
    assert (
        read_dedup_index(spark, path)[0]
        .where(F.col("doc_id").isin(3, 4))
        .count()
        == 0
    )


def test_delete_handles_null_partition_rows(spark, tmp_path):
    """The round-14 review's data-loss scenario: docs with NULL text
    land in the __HIVE_DEFAULT_PARTITION__ shard (HRW of a null key).
    Deleting a null-shard victim must (a) actually remove its rows —
    isin() alone never matches NULL — and (b) NOT destroy the OTHER
    null-shard docs riding in the same default partition."""
    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark, n=20)
    nulls = spark.createDataFrame(
        [(100, None), (101, None)], "doc_id long, text string"
    )
    path = str(tmp_path / "idx")
    write_dedup_index(d.unionByName(nulls), path, n_shards=4)
    h0, _, _ = read_dedup_index(spark, path)
    assert h0.where("doc_id = 100").count() == 1  # null shard exists
    victims = spark.createDataFrame([(100,), (3,)], "doc_id long")
    info = delete_from_dedup_index(spark, path, victims)
    assert info["rows_deleted"] >= 2  # doc 3's 5 rows + doc 100's hash row
    h1, _, _ = read_dedup_index(spark, path)
    assert h1.where("doc_id = 100").count() == 0  # victim gone
    assert h1.where("doc_id = 101").count() == 1  # bystander SURVIVES
    assert h1.where("doc_id = 3").count() == 0


def test_history_key_delete_matches_filtered_rebuild(spark, tmp_path):
    """delete_scd2_history_keys (VERDICT r14 item 1): whole-key
    erasure from the PERSISTED history layout equals the full rebuild
    over the surviving keys; untouched shards stay byte-identical;
    NULL keys in the request are refused."""
    from formula1_dataengineering_spark.operators.deletion import (
        delete_scd2_history_keys,
    )
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_history,
        scd2_history,
        write_scd2_history,
    )

    rows = [(i % 8, 1000 + i, f"v{i % 3}") for i in range(64)]
    feed = spark.createDataFrame(
        rows, "k long, ts long, v string"
    ).withColumn("ts", F.timestamp_micros(F.col("ts") * 1_000_000))
    hist = scd2_history(feed, "k", "ts", "v")
    path = str(tmp_path / "hist")
    write_scd2_history(hist, path, "k", n_shards=16)
    before = _snapshot(os.path.join(path, "history_rows"))
    n_victim = hist.where("k = 5").count()
    assert n_victim > 0
    with pytest.raises(ValueError, match="NULL"):
        delete_scd2_history_keys(
            spark, path, spark.createDataFrame([(None,)], "k long")
        )
    info = delete_scd2_history_keys(
        spark, path, spark.createDataFrame([(5,)], "k long")
    )
    assert info["rows_deleted"] == n_victim
    assert info["partitions_rewritten"] == 1  # static HRW pruning
    after, _ = read_scd2_history(spark, path)
    cols = ("k", "v", "effective_from_us", "effective_to_us", "is_current")
    assert _rows(after.select(*cols)) == _rows(
        hist.where("k != 5").select(*cols)
    )
    # Only the victim's shard changed on disk.
    snap = _snapshot(os.path.join(path, "history_rows"))
    changed_dirs = {
        k.split("/")[0]
        for k in set(before) | set(snap)
        if before.get(k) != snap.get(k)
    }
    assert len(changed_dirs) == 1
    # Idempotent.
    again = delete_scd2_history_keys(
        spark, path, spark.createDataFrame([(5,)], "k long")
    )
    assert again == {"rows_deleted": 0, "partitions_rewritten": 0}


def test_delete_commit_crash_resumes_without_survivor_loss(
    spark, tmp_path, monkeypatch
):
    """The ADVICE r14 (medium) scenario: a kill inside the commit.
    The old snapshot stays current — marker intact, erased key still
    visible, no refusal — and re-running the same delete lands it
    with every survivor intact."""
    from formula1_dataengineering_spark import fsutil
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        write_scd2_feed,
    )

    rows = [(i % 4, 1000 + i, "x") for i in range(32)]
    feed = spark.createDataFrame(rows, "k long, ts long, v string")
    path = str(tmp_path / "feed")
    write_scd2_feed(feed, path, "k", "ts", "v", n_shards=2)
    want = _rows(
        read_scd2_feed(spark, path)[0]
        .where("k != 1")
        .select("k", "ts", "v")
    )
    erased = spark.createDataFrame([(1,)], "k long")

    real_rename = fsutil.rename

    def dying_rename(spark_, src, dst):
        if "_MANIFEST_v" in dst:
            raise RuntimeError("simulated kill at the commit point")
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(fsutil, "rename", dying_rename)
    with pytest.raises(RuntimeError, match="simulated kill"):
        delete_scd2_feed_keys(spark, path, erased)
    monkeypatch.setattr(fsutil, "rename", real_rename)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    pre = _rows(read_scd2_feed(spark, path)[0].select("k", "ts", "v"))
    assert len([r for r in pre if r[0] == 1]) == 8  # erased key visible
    info = delete_scd2_feed_keys(spark, path, erased)
    assert info["rows_deleted"] == 8
    got = _rows(read_scd2_feed(spark, path)[0].select("k", "ts", "v"))
    assert got == want


def test_delete_accounting_accumulates_and_rebuild_resets(
    spark, tmp_path
):
    """The layout metadata carries cumulative per-table rows_deleted —
    the deletion-drift signal the maintenance loop reads; a full
    rebuild writes fresh metadata and resets it."""
    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    path = str(tmp_path / "idx")
    write_dedup_index(d, path, n_shards=4)

    def meta():
        return read_dedup_index(spark, path)[2]

    assert "rows_deleted" not in meta()
    delete_from_dedup_index(
        spark, path, spark.createDataFrame([(3,)], "doc_id long")
    )
    m1 = meta()["rows_deleted"]
    assert m1["content_hashes"] == 1 and m1["band_rows"] == 4
    delete_from_dedup_index(
        spark, path, spark.createDataFrame([(4,), (5,)], "doc_id long")
    )
    m2 = meta()["rows_deleted"]
    assert m2["content_hashes"] == 3 and m2["band_rows"] == 12
    write_dedup_index(d.where("doc_id > 9"), path, n_shards=4)
    assert "rows_deleted" not in meta()
