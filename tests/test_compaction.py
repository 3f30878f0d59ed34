"""Delta compaction of the stored layouts (operators/compaction.py,
VERDICT r12 item 1): (base ∪ deltas) before == base after, delta
directories and commit markers gone, untouched base partitions
byte-identical, a crash leaves the layout readable and a re-run
completes it, no-op without deltas."""

from __future__ import annotations

import hashlib
import os
import random

import pytest
from pyspark.sql import functions as F

_D = 8


def _docs(spark, n=60):
    rng = random.Random(11)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = [
        (
            i,
            " ".join(rng.choice(words) for _ in range(12)),
        )
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


def _snapshot(root):
    """{relpath: md5} for every file under root — the byte-identity
    witness for untouched partitions."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(
                    fh.read()
                ).hexdigest()
    return out


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _delta_residue(path):
    return [
        n
        for n in os.listdir(path)
        if "_delta_" in n or n.startswith("_DELTA_")
    ]


def test_compact_dedup_index_folds_deltas(spark, tmp_path):
    from formula1_dataengineering_spark.operators.compaction import (
        compact_dedup_index,
    )
    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    corpus = d.where("doc_id % 5 != 0")
    day1 = d.where("doc_id % 10 == 5")
    day2 = d.where("doc_id % 10 == 0")
    path = str(tmp_path / "idx")
    write_dedup_index(corpus, path, n_shards=8)
    refresh_dedup_index(day1, path, "day1")
    refresh_dedup_index(day2, path, "day2")
    h_before, b_before, meta = read_dedup_index(spark, path)
    want_h, want_b = _rows(h_before), _rows(b_before)
    summary = compact_dedup_index(spark, path)
    assert summary["n_deltas_folded"] == 2
    assert summary["batch_ids"] == ["day1", "day2"]
    assert _delta_residue(path) == []
    h_after, b_after, meta2 = read_dedup_index(spark, path)
    assert _rows(h_after) == want_h
    assert _rows(b_after) == want_b
    assert meta2 == meta  # compaction never touches layout params
    # Idempotent no-op once folded.
    again = compact_dedup_index(spark, path)
    assert again["n_deltas_folded"] == 0


def test_compact_dedup_untouched_partitions_byte_identical(
    spark, tmp_path
):
    """The partitions the deltas do not touch are never read and
    never written: their part files keep names and bytes (the folded
    partitions live in the new version directory)."""
    from formula1_dataengineering_spark.operators.compaction import (
        compact_dedup_index,
    )
    from formula1_dataengineering_spark.operators.dedup import (
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark, n=80)
    corpus = d.where("doc_id % 7 != 0")
    day1 = d.where("doc_id % 70 == 0")  # tiny batch: few shards hit
    path = str(tmp_path / "idx")
    write_dedup_index(corpus, path, n_shards=32)
    refresh_dedup_index(day1, path, "day1")
    before = {
        t: _snapshot(os.path.join(path, t))
        for t in ("content_hashes", "band_rows")
    }
    summary = compact_dedup_index(spark, path)
    for t in ("content_hashes", "band_rows"):
        touched = {
            f"shard={v}" for v in summary["touched_partitions"][t]
        }
        assert touched, "tiny batch must still touch some shards"
        after = _snapshot(os.path.join(path, t))
        untouched_before = {
            p: h
            for p, h in before[t].items()
            if p.split(os.sep)[0] not in touched
        }
        untouched_after = {
            p: h
            for p, h in after.items()
            if p.split(os.sep)[0] not in touched
            and not p.startswith("__v")
        }
        assert untouched_before, "need untouched shards for the claim"
        assert untouched_before == untouched_after


def test_compact_ann_index_folds_codes_delta(spark, tmp_path):
    from formula1_dataengineering_spark.operators.clustering import (
        ivf_pq_topk_from_index,
        read_ann_index,
        refresh_ann_index,
        write_ann_index,
    )
    from formula1_dataengineering_spark.operators.compaction import (
        compact_ann_index,
    )

    e = _emb(spark)
    corpus = e.where(F.col("vec_id") % 5 != 0)
    batch = e.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ann")
    write_ann_index(corpus, path, m=4, k=3, iters=2)
    refresh_ann_index(batch, path, "day1")
    codes_b, codebook_b, cells_b, meta = read_ann_index(spark, path)
    want_codes = _rows(codes_b)
    q = batch.select("vec_id", "embedding")
    topk_before = _rows(
        ivf_pq_topk_from_index(
            q, codes_b, codebook_b, m=4, k=3, iters=2, topk=3,
            index_meta=meta, cells=cells_b, nprobe=2,
        )
    )
    cb_snap = _snapshot(os.path.join(path, "codebook"))
    cells_snap = _snapshot(os.path.join(path, "cells"))
    summary = compact_ann_index(spark, path)
    assert summary["n_deltas_folded"] == 1
    assert _delta_residue(path) == []
    codes_a, codebook_a, cells_a, meta2 = read_ann_index(spark, path)
    assert _rows(codes_a) == want_codes
    topk_after = _rows(
        ivf_pq_topk_from_index(
            q, codes_a, codebook_a, m=4, k=3, iters=2, topk=3,
            index_meta=meta2, cells=cells_a, nprobe=2,
        )
    )
    assert topk_after == topk_before
    # Compaction is maintenance, not retraining: the trained tables
    # keep their exact bytes.
    assert _snapshot(os.path.join(path, "codebook")) == cb_snap
    assert _snapshot(os.path.join(path, "cells")) == cells_snap


def test_compact_scd2_feed_folds_daily_appends(spark, tmp_path):
    from datetime import datetime, timezone

    from formula1_dataengineering_spark.operators.compaction import (
        compact_scd2_feed,
    )
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        refresh_scd2_feed,
        scd2_history,
        write_scd2_feed,
    )

    ts = [
        datetime(2024, 1, d, tzinfo=timezone.utc) for d in (1, 2, 3, 4)
    ]
    feed0 = spark.createDataFrame(
        [(k, ts[0], "a") for k in range(20)],
        "k long, ts timestamp, v string",
    )
    day1 = spark.createDataFrame(
        [(3, ts[1], "b"), (7, ts[1], "c")], "k long, ts timestamp, v string"
    )
    day2 = spark.createDataFrame(
        [(3, ts[2], "a"), (12, ts[2], "b")],
        "k long, ts timestamp, v string",
    )
    path = str(tmp_path / "feed")
    write_scd2_feed(feed0, path, "k", "ts", "v", n_shards=8)
    refresh_scd2_feed(day1, path, "day1")
    refresh_scd2_feed(day2, path, "day2")
    feed_before, meta = read_scd2_feed(spark, path)
    want_rows = _rows(feed_before.drop("shard"))
    want_hist = _rows(scd2_history(feed_before, "k", "ts", "v"))
    summary = compact_scd2_feed(spark, path)
    assert summary["n_deltas_folded"] == 2
    assert _delta_residue(path) == []
    feed_after, meta2 = read_scd2_feed(spark, path)
    assert _rows(feed_after.drop("shard")) == want_rows
    assert _rows(scd2_history(feed_after, "k", "ts", "v")) == want_hist
    assert meta2 == meta
    # The folded base still serves the pruned refresh contract: the
    # shard column is the partition column of every row.
    assert "shard" in feed_after.columns


def test_compact_crash_mid_commit_resumes(spark, tmp_path, monkeypatch):
    """A crash at the commit point (the manifest rename) leaves the
    layout readable — marker intact, base ∪ deltas still served — and
    re-running the same compact_* call completes the fold."""
    from formula1_dataengineering_spark import fsutil
    from formula1_dataengineering_spark.operators.compaction import (
        compact_dedup_index,
    )
    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    corpus = d.where("doc_id % 5 != 0")
    day1 = d.where("doc_id % 5 == 0")
    path = str(tmp_path / "idx")
    write_dedup_index(corpus, path, n_shards=8)
    refresh_dedup_index(day1, path, "day1")
    h_before, b_before, _ = read_dedup_index(spark, path)
    want_h, want_b = _rows(h_before), _rows(b_before)

    real_rename = fsutil.rename

    def crashing_rename(spark_, src, dst):
        if "_MANIFEST_v" in dst:
            raise RuntimeError("simulated crash mid-commit")
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(fsutil, "rename", crashing_rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_dedup_index(spark, path)
    monkeypatch.setattr(fsutil, "rename", real_rename)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    h_mid, b_mid, _ = read_dedup_index(spark, path)
    assert _rows(h_mid) == want_h and _rows(b_mid) == want_b
    # Recovery = re-running the same call.
    summary = compact_dedup_index(spark, path)
    assert summary["batch_ids"] == ["day1"]
    assert _delta_residue(path) == []
    h_after, b_after, _ = read_dedup_index(spark, path)
    assert _rows(h_after) == want_h
    assert _rows(b_after) == want_b


def test_compact_zero_row_delta_days(spark, tmp_path):
    """A zero-accepted-docs day writes a part-file-less delta; the
    compactor must fold (i.e. remove) it without inventing rows."""
    from formula1_dataengineering_spark.operators.compaction import (
        compact_dedup_index,
    )
    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    corpus = d.where("doc_id % 5 != 0")
    empty = d.where("doc_id < 0")
    path = str(tmp_path / "idx")
    write_dedup_index(corpus, path, n_shards=8)
    refresh_dedup_index(empty, path, "day1")
    h_before, b_before, _ = read_dedup_index(spark, path)
    want_h, want_b = _rows(h_before), _rows(b_before)
    summary = compact_dedup_index(spark, path)
    assert summary["n_deltas_folded"] == 1
    assert summary["touched_partitions"]["content_hashes"] == []
    assert _delta_residue(path) == []
    h_after, b_after, _ = read_dedup_index(spark, path)
    assert _rows(h_after) == want_h
    assert _rows(b_after) == want_b


def test_compact_refuses_markerless_layout_without_manifest(
    spark, tmp_path
):
    """A marker-less layout is a crashed rebuild — refuse; re-running
    the writer recovers it."""
    from formula1_dataengineering_spark.operators.compaction import (
        compact_dedup_index,
    )
    from formula1_dataengineering_spark.operators.dedup import (
        write_dedup_index,
    )

    d = _docs(spark)
    path = str(tmp_path / "idx")
    write_dedup_index(d, path, n_shards=8)
    os.remove(os.path.join(path, "_SUCCESS"))
    with pytest.raises(ValueError, match="no _SUCCESS marker"):
        compact_dedup_index(spark, path)


def test_compact_file_scheme_uri_roundtrip(spark, tmp_path):
    """The whole lifecycle (stage, publish, retire) through a
    file:/-scheme URI — the Hadoop-FS portability witness."""
    from formula1_dataengineering_spark.operators.compaction import (
        compact_dedup_index,
    )
    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    corpus = d.where("doc_id % 5 != 0")
    day1 = d.where("doc_id % 5 == 0")
    local = tmp_path / "idx"
    uri = "file://" + str(local)
    write_dedup_index(corpus, uri, n_shards=8)
    refresh_dedup_index(day1, uri, "day1")
    h_before, b_before, _ = read_dedup_index(spark, uri)
    want_h, want_b = _rows(h_before), _rows(b_before)
    summary = compact_dedup_index(spark, uri)
    assert summary["n_deltas_folded"] == 1
    assert _delta_residue(str(local)) == []
    h_after, b_after, _ = read_dedup_index(spark, uri)
    assert _rows(h_after) == want_h
    assert _rows(b_after) == want_b


def test_compact_preserves_null_key_default_partition(spark, tmp_path):
    """The null-partition edge (scd.py routes null keys to callers,
    but write_scd2_feed persists what it is given): null-key rows land
    in __HIVE_DEFAULT_PARTITION__, which (a) must survive a fold that
    doesn't touch it and (b) must merge correctly when a delta DOES
    carry null-key rows — isin() never matches NULL, so the engine
    adds an explicit isNull arm, and the "_"-prefixed partition dir
    must not be mistaken for a version dir."""
    from datetime import datetime, timezone

    from formula1_dataengineering_spark.operators.compaction import (
        compact_scd2_feed,
    )
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        refresh_scd2_feed,
        write_scd2_feed,
    )

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    t1 = datetime(2024, 1, 2, tzinfo=timezone.utc)
    base_rows = [(k, t0, "a") for k in range(8)] + [(None, t0, "n0")]
    feed0 = spark.createDataFrame(
        base_rows, "k long, ts timestamp, v string"
    )
    path = str(tmp_path / "feed")
    write_scd2_feed(feed0, path, "k", "ts", "v", n_shards=4)

    # Case (a): delta WITHOUT null keys — the default partition is
    # untouched and must survive byte-identically.
    day1 = spark.createDataFrame(
        [(3, t1, "b")], "k long, ts timestamp, v string"
    )
    refresh_scd2_feed(day1, path, "day1")
    default_dir = os.path.join(
        path, "feed_rows", "shard=__HIVE_DEFAULT_PARTITION__"
    )
    snap_before = _snapshot(default_dir)
    assert snap_before, "base null-key rows must occupy the default partition"
    compact_scd2_feed(spark, path)
    assert _snapshot(default_dir) == snap_before
    feed, _ = read_scd2_feed(spark, path)
    assert feed.where("k is null").count() == 1

    # Case (b): delta WITH null-key rows — fold must merge base +
    # delta null rows into the default partition, not drop either.
    day2 = spark.createDataFrame(
        [(None, t1, "n1"), (5, t1, "c")], "k long, ts timestamp, v string"
    )
    refresh_scd2_feed(day2, path, "day2")
    nullsafe = lambda df: sorted(  # noqa: E731
        map(tuple, df.collect()), key=repr
    )
    before_rows = nullsafe(read_scd2_feed(spark, path)[0].drop("shard"))
    summary = compact_scd2_feed(spark, path)
    assert summary["n_deltas_folded"] == 1
    after_rows = nullsafe(read_scd2_feed(spark, path)[0].drop("shard"))
    assert after_rows == before_rows
    feed2, _ = read_scd2_feed(spark, path)
    assert feed2.where("k is null").count() == 2


def test_base_rebuild_purges_crashed_compaction_state(
    spark, tmp_path
):
    """Round-13 review (critical): if a compaction crashes after
    staging and the operator recovers by REBUILDING the base instead
    of re-running compact_*, the rebuild must purge the staged
    version dirs, and the next compaction is a harmless no-op."""
    from formula1_dataengineering_spark.operators.compaction import (
        compact_dedup_index,
    )
    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    corpus = d.where("doc_id % 5 != 0")
    day1 = d.where("doc_id % 5 == 0")
    path = str(tmp_path / "idx")
    write_dedup_index(corpus, path, n_shards=8)
    refresh_dedup_index(day1, path, "day1")

    def crash():
        raise RuntimeError("simulated crash before the publish")

    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_dedup_index(spark, path, on_staged=crash)
    assert "__v1" in os.listdir(os.path.join(path, "content_hashes"))

    # Recovery path B: full base rebuild over the corrected corpus.
    corpus2 = d.where("doc_id % 5 != 0").unionByName(day1)
    write_dedup_index(corpus2, path, n_shards=8)
    for t in ("content_hashes", "band_rows"):
        assert "__v1" not in os.listdir(os.path.join(path, t))
    want_h, want_b, _ = read_dedup_index(spark, path)
    want_h, want_b = _rows(want_h), _rows(want_b)
    summary = compact_dedup_index(spark, path)
    assert summary["n_deltas_folded"] == 0
    h, b, _ = read_dedup_index(spark, path)
    assert _rows(h) == want_h and _rows(b) == want_b


def test_compact_interleaved_ingest_survives_commit(spark, tmp_path):
    """A delta landing between stage and publish (the on_staged seam
    — a refresh racing the fold) survives: the manifest folds exactly
    the batches the compaction opened, retire deletes only those, and
    the post-fold read is base(folded) ∪ the interleaved delta."""
    from formula1_dataengineering_spark.operators.compaction import (
        compact_dedup_index,
    )
    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark, n=90)
    corpus = d.where("doc_id % 5 != 0")
    day1 = d.where("doc_id % 10 == 5")
    day2 = d.where("doc_id % 20 == 0")
    day3 = d.where("doc_id % 20 == 10")
    path = str(tmp_path / "idx")
    write_dedup_index(corpus, path, n_shards=8)
    refresh_dedup_index(day1, path, "day1")
    refresh_dedup_index(day2, path, "day2")

    landed = {}

    def land_day3():
        refresh_dedup_index(day3, path, "day3")
        landed["h"], landed["b"], _ = read_dedup_index(spark, path)
        landed["want_h"] = _rows(landed["h"])
        landed["want_b"] = _rows(landed["b"])

    summary = compact_dedup_index(spark, path, on_staged=land_day3)
    assert summary["batch_ids"] == ["day1", "day2"]
    # day3's delta dirs + marker survive the commit's sweep.
    residue = _delta_residue(path)
    assert sorted(residue) == [
        "_DELTA_day3._SUCCESS",
        "band_rows_delta_day3",
        "content_hashes_delta_day3",
    ]
    h, b, _ = read_dedup_index(spark, path)
    assert _rows(h) == landed["want_h"]
    assert _rows(b) == landed["want_b"]
    # A later fold reclaims day3 too.
    again = compact_dedup_index(spark, path)
    assert again["batch_ids"] == ["day3"]
    assert _delta_residue(path) == []
    h2, b2, _ = read_dedup_index(spark, path)
    assert _rows(h2) == landed["want_h"]


def test_compact_crash_after_manifest_with_interleaved_delta(
    spark, tmp_path, monkeypatch
):
    """Crash after the manifest publish, before retire, WITH a
    concurrent delta landed inside the fold: readers already see the
    folded base plus the interleaved delta — the folded batches'
    markers are still on disk but no longer live — and the next
    compaction folds the interleaved delta and retires everything."""
    from formula1_dataengineering_spark.operators import compaction, store
    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark, n=90)
    corpus = d.where("doc_id % 5 != 0")
    day1 = d.where("doc_id % 10 == 5")
    day2 = d.where("doc_id % 20 == 0")
    day3 = d.where("doc_id % 20 == 10")
    path = str(tmp_path / "idx")
    write_dedup_index(corpus, path, n_shards=8)
    refresh_dedup_index(day1, path, "day1")
    refresh_dedup_index(day2, path, "day2")
    want_all = None

    def land():
        nonlocal want_all
        refresh_dedup_index(day3, path, "day3")
        want_all = _rows(read_dedup_index(spark, path)[0])

    def crash(*_):
        raise RuntimeError("crash between publish and retire")

    with monkeypatch.context() as m:
        m.setattr(store, "retire", crash)
        with pytest.raises(RuntimeError, match="crash between"):
            compaction.compact_dedup_index(spark, path, on_staged=land)
    assert "_DELTA_day1._SUCCESS" in os.listdir(path)
    assert store.committed_delta_batches(spark, path) == ["day3"]
    assert _rows(read_dedup_index(spark, path)[0]) == want_all
    summary = compaction.compact_dedup_index(spark, path)
    assert summary["batch_ids"] == ["day3"]
    assert _delta_residue(path) == []
    assert _rows(read_dedup_index(spark, path)[0]) == want_all
