"""Unified maintenance policy loop (operators/maintenance.py,
VERDICT r13 item 1): one tick measures drift, emits exactly one of
hold / compact / rebuild, and EXECUTES it. Pins: the count policy
(hold below compact_after, compact at it), the drift arms (ANN
recall threshold, dedup rows ratio, SCD2 rows-per-shard re-shard),
invariance of the layout's logical content across every verb, the
recall-invariance witness across a compact tick, rebuild purging
deltas, and the loud failure when the dedup rebuild arm triggers
without a corpus."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from formula1_dataengineering_spark.operators.maintenance import (
    ann_recall_at_k,
    maintain_ann_index,
    maintain_dedup_index,
    maintain_scd2_feed,
)
from formula1_dataengineering_spark.operators.store import (
    committed_delta_batches,
)
from tests.conftest import delta_owners

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


def _delta_residue(path):
    return delta_owners(path)


@pytest.fixture()
def ann_layout(spark, tmp_path):
    from formula1_dataengineering_spark.operators.clustering import (
        refresh_ann_index,
        write_ann_index,
    )

    e = _emb(spark)
    corpus = e.where(F.col("vec_id") % 5 != 0)
    batch = e.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ann")
    write_ann_index(corpus, path, m=4, k=4, iters=2)
    refresh_ann_index(batch, path, "day1")
    q = batch.select("vec_id", "embedding")
    return path, q, e


def test_ann_hold_then_compact_preserves_recall(spark, ann_layout):
    path, q, e = ann_layout
    r1 = maintain_ann_index(
        spark, path, q, e, rebuild_below=0.0, compact_after=2
    )
    assert r1["decision"] == "hold"
    assert r1["n_deltas"] == 1 and r1["deltas_remaining"] == 1
    assert r1["recall_after"] == r1["recall_before"]

    from formula1_dataengineering_spark.operators.clustering import (
        refresh_ann_index,
    )

    extra = _emb(spark, n=50).where(F.col("vec_id") >= 40)
    refresh_ann_index(extra, path, "day2")
    full = _emb(spark, n=50)
    r2 = maintain_ann_index(
        spark, path, q, full, rebuild_below=0.0, compact_after=2
    )
    assert r2["decision"] == "compact"
    assert r2["deltas_remaining"] == 0
    assert _delta_residue(path) == []
    # The fold-invisibility witness measured INSIDE the policy loop.
    assert r2["recall_after"] == r2["recall_before"]


def test_ann_rebuild_arm_retrains_and_purges(spark, ann_layout):
    path, q, e = ann_layout
    # Threshold above any possible recall: the drift arm must fire,
    # retrain over the supplied corpus, and purge the delta.
    r = maintain_ann_index(
        spark, path, q, e, rebuild_below=1.01, compact_after=99
    )
    assert r["decision"] == "rebuild"
    assert r["deltas_remaining"] == 0
    assert _delta_residue(path) == []
    # Post-rebuild recall is re-measured (a real number, not a copy).
    assert 0.0 <= r["recall_after"] <= 1.0
    # The rebuilt index serves the same corpus: every query id finds
    # itself (it is IN the retrained index).
    row = ann_recall_at_k(spark, path, q, e, topk=1, nprobe=99).collect()[0]
    assert row["n_queries"] > 0


def test_dedup_loop_and_rebuild_requires_corpus(spark, tmp_path):
    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    corpus = d.where(F.col("doc_id") % 5 != 0)
    batch = d.where(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "dedup")
    write_dedup_index(corpus, path, n_shards=4)
    refresh_dedup_index(batch, path, "day1")
    before = _rows(read_dedup_index(spark, path)[0])

    r1 = maintain_dedup_index(spark, path, compact_after=2)
    assert r1["decision"] == "hold" and r1["deltas_remaining"] == 1
    assert r1["base_rows"] == corpus.count()
    assert r1["delta_rows"] == batch.count()

    refresh_dedup_index(
        _docs(spark, n=70).where(F.col("doc_id") >= 60), path, "day2"
    )
    r2 = maintain_dedup_index(spark, path, compact_after=2)
    assert r2["decision"] == "compact" and r2["deltas_remaining"] == 0

    # Rebuild arm without a corpus fails LOUDLY (the index stores
    # hashes, not text — silently skipping would hold forever).
    refresh_dedup_index(
        _docs(spark, n=80).where(F.col("doc_id") >= 70), path, "day3"
    )
    with pytest.raises(ValueError, match="no corpus was supplied"):
        maintain_dedup_index(
            spark, path, rebuild_rows_over=0.0, compact_after=99
        )
    full = _docs(spark, n=80)
    r3 = maintain_dedup_index(
        spark, path, corpus=full, rebuild_rows_over=0.0, compact_after=99
    )
    assert r3["decision"] == "rebuild" and r3["deltas_remaining"] == 0
    # Logical content: the rebuilt base covers every doc (80 rows),
    # and HRW keeps prior rows' shard assignment stable — the old
    # base ∪ delta rows all reappear verbatim.
    after = _rows(read_dedup_index(spark, path)[0])
    assert len(after) == 80
    assert set(before).issubset(set(after))


def test_scd2_feed_loop_and_reshard(spark, tmp_path):
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        refresh_scd2_feed,
        write_scd2_feed,
    )

    rows = [(i % 7, 1000 + i, f"v{i}") for i in range(64)]
    feed = spark.createDataFrame(rows, "k long, ts long, v string")
    path = str(tmp_path / "feed")
    write_scd2_feed(
        feed.where(F.col("ts") % 2 == 0), path, "k", "ts", "v", n_shards=4
    )
    refresh_scd2_feed(
        feed.where(F.col("ts") % 4 == 1), path, "day1"
    )
    r1 = maintain_scd2_feed(spark, path, compact_after=2)
    assert r1["decision"] == "hold" and r1["n_shards_after"] == 4

    refresh_scd2_feed(feed.where(F.col("ts") % 4 == 3), path, "day2")
    r2 = maintain_scd2_feed(spark, path, compact_after=2)
    assert r2["decision"] == "compact" and r2["deltas_remaining"] == 0
    assert r2["total_rows"] == 64

    before = _rows(read_scd2_feed(spark, path)[0].select("k", "ts", "v"))
    # 64 rows / 4 shards = 16/shard > 8 → re-shard fires, doubling.
    r3 = maintain_scd2_feed(spark, path, rebuild_rows_per_shard=8)
    assert r3["decision"] == "rebuild"
    assert r3["n_shards_before"] == 4 and r3["n_shards_after"] == 8
    feed_after, meta = read_scd2_feed(spark, path)
    assert int(meta["n_shards"]) == 8
    assert _rows(feed_after.select("k", "ts", "v")) == before
    # Below the bar: hold, shards unchanged.
    r4 = maintain_scd2_feed(spark, path, rebuild_rows_per_shard=1000)
    assert r4["decision"] == "hold" and r4["n_shards_after"] == 8


def test_committed_delta_batches_ignores_markerless(spark, tmp_path):
    from formula1_dataengineering_spark.operators.scd import (
        refresh_scd2_feed,
        write_scd2_feed,
    )

    rows = [(i, 10 + i, "x") for i in range(8)]
    feed = spark.createDataFrame(rows, "k long, ts long, v string")
    path = str(tmp_path / "feed")
    write_scd2_feed(feed, path, "k", "ts", "v", n_shards=2)
    refresh_scd2_feed(feed.limit(2), path, "day1")
    # An orphan delta dir no manifest names (crashed refresh) is
    # invisible to the policy — only committed batches count.
    os.makedirs(os.path.join(path, "feed_rows", "shard=0", "__dorphan.0"))
    assert committed_delta_batches(spark, path) == ["day1"]
    r = maintain_scd2_feed(spark, path, compact_after=2)
    assert r["decision"] == "hold" and r["n_deltas"] == 1


def test_dedup_deletion_drift_flips_hold_to_rebuild(spark, tmp_path):
    """VERDICT r14 item 2 (dedup): the delta-rows metric never sees
    deletions; the cumulative _META rows_deleted counter must trip
    the rebuild arm, and the rebuild resets it."""
    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        write_dedup_index,
    )
    from formula1_dataengineering_spark.operators.deletion import (
        delete_from_dedup_index,
    )

    d = _docs(spark)
    path = str(tmp_path / "idx")
    write_dedup_index(d, path, n_shards=4)
    r0 = maintain_dedup_index(spark, path, rebuild_deleted_over=0.05)
    assert r0["decision"] == "hold" and r0["rows_deleted"] == 0
    victims = spark.createDataFrame(
        [(i,) for i in range(0, 60, 7)], "doc_id long"
    )
    delete_from_dedup_index(spark, path, victims)
    live = d.join(victims, "doc_id", "left_anti")
    # Without the deletion arm the tick still holds — the blind spot.
    blind = maintain_dedup_index(spark, path)
    assert blind["decision"] == "hold" and blind["rows_deleted"] == 9
    r1 = maintain_dedup_index(
        spark, path, corpus=live, rebuild_deleted_over=0.05
    )
    assert r1["decision"] == "rebuild"
    assert r1["rows_deleted"] == 9
    # Rebuild wrote fresh metadata: counter reset, next tick holds.
    r2 = maintain_dedup_index(spark, path, rebuild_deleted_over=0.05)
    assert r2["decision"] == "hold" and r2["rows_deleted"] == 0
    h, _, _ = read_dedup_index(spark, path)
    assert h.count() == live.count()


def test_feed_deletion_drift_rebuilds_same_shards(spark, tmp_path):
    """VERDICT r14 item 2 (feed): erosion rebuild keeps the shard
    count (growth doubles); the counter resets with the rebuild."""
    from formula1_dataengineering_spark.operators.deletion import (
        delete_scd2_feed_keys,
    )
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        write_scd2_feed,
    )

    rows = [(i % 8, 1000 + i, "x") for i in range(64)]
    feed = spark.createDataFrame(rows, "k long, ts long, v string")
    path = str(tmp_path / "feed")
    write_scd2_feed(feed, path, "k", "ts", "v", n_shards=4)
    r0 = maintain_scd2_feed(spark, path, rebuild_deleted_over=0.1)
    assert r0["decision"] == "hold" and r0["rows_deleted"] == 0
    delete_scd2_feed_keys(
        spark, path, spark.createDataFrame([(1,), (2,)], "k long")
    )
    r1 = maintain_scd2_feed(spark, path, rebuild_deleted_over=0.1)
    assert r1["decision"] == "rebuild"
    assert r1["rows_deleted"] == 16
    assert r1["n_shards_after"] == 4  # erosion: SAME shard count
    r2 = maintain_scd2_feed(spark, path, rebuild_deleted_over=0.1)
    assert r2["decision"] == "hold" and r2["rows_deleted"] == 0
    after, meta = read_scd2_feed(spark, path)
    assert int(meta["n_shards"]) == 4
    assert after.count() == 48


def test_deletion_drift_boundary_fires_at_exact_threshold(
    spark, tmp_path
):
    """ADVICE r15 (low): both deletion-drift arms share ONE boundary
    contract — the erosion rebuild fires AT rows_deleted ==
    threshold × live rows (``>=``), not just past it. Pinned here at
    exact-threshold inputs for the feed arm (16 deleted == 0.25 × 64
    live) and just-below (16 < 0.25 × 80 live holds)."""
    from formula1_dataengineering_spark.operators.deletion import (
        delete_scd2_feed_keys,
    )
    from formula1_dataengineering_spark.operators.scd import (
        write_scd2_feed,
    )

    # 80 rows over 10 keys; deleting 2 keys removes 16 rows, leaving
    # 64 live: 16 == 0.25 * 64 exactly.
    rows = [(i % 10, 1000 + i, "x") for i in range(80)]
    feed = spark.createDataFrame(rows, "k long, ts long, v string")
    path = str(tmp_path / "feed_exact")
    write_scd2_feed(feed, path, "k", "ts", "v", n_shards=4)
    delete_scd2_feed_keys(
        spark, path, spark.createDataFrame([(1,), (2,)], "k long")
    )
    below = maintain_scd2_feed(spark, path, rebuild_deleted_over=0.26)
    assert below["decision"] == "hold"  # 16 < 0.26 * 64
    at = maintain_scd2_feed(spark, path, rebuild_deleted_over=0.25)
    assert at["decision"] == "rebuild"  # 16 >= 0.25 * 64 — AT the line
    assert at["rows_deleted"] == 16 and at["total_rows"] == 64


def test_sampled_referee_agrees_and_rebuild_confirms_full(
    spark, ann_layout
):
    """VERDICT r14 item 5: the hash-sampled referee is a well-defined
    recall over the sampled corpus (both sides restricted), close to
    the full number on this data, and the rebuild arm's confirmation
    re-measures FULL."""
    path, q, e = ann_layout
    full = ann_recall_at_k(spark, path, q, e).collect()[0]
    half = ann_recall_at_k(spark, path, q, e, sample=(1, 2)).collect()[0]
    assert 0 < half["n_queries"] == full["n_queries"]
    assert 0.0 <= half["recall_at_k"] <= 1.0
    # Deterministic: same sample, same number.
    again = ann_recall_at_k(spark, path, q, e, sample=(1, 2)).collect()[0]
    assert again["recall_at_k"] == half["recall_at_k"]
    # keep == mod degenerates to the full referee exactly.
    same = ann_recall_at_k(spark, path, q, e, sample=(2, 2)).collect()[0]
    assert same["recall_at_k"] == full["recall_at_k"]
    # Sampled tick through the policy loop; rebuild confirms full.
    r = maintain_ann_index(
        spark, path, q, e, rebuild_below=1.01, compact_after=99,
        referee_sample=(1, 2),
    )
    assert r["decision"] == "rebuild"
    assert r["recall_before"] == half["recall_at_k"]
    post_full = ann_recall_at_k(spark, path, q, e).collect()[0]
    assert r["recall_after"] == post_full["recall_at_k"]


def test_maintain_layout_umbrella_dispatch_and_vacuum(spark, tmp_path):
    """VERDICT r14 item 6: one call dispatches from _META.json's
    family and sweeps physical garbage after the tick."""
    from formula1_dataengineering_spark.operators.dedup import (
        refresh_dedup_index,
        write_dedup_index,
    )
    from formula1_dataengineering_spark.operators.maintenance import (
        layout_family,
        maintain_layout,
    )
    from formula1_dataengineering_spark.operators.scd import (
        scd2_history,
        write_scd2_feed,
        write_scd2_history,
    )

    d = _docs(spark)
    idx = str(tmp_path / "idx")
    write_dedup_index(d.where("doc_id % 2 = 1"), idx, n_shards=4)
    refresh_dedup_index(d.where("doc_id % 4 = 0"), idx, "day1")
    refresh_dedup_index(d.where("doc_id % 4 = 2"), idx, "day2")
    os.makedirs(os.path.join(idx, "_staging"))
    with open(os.path.join(idx, "_staging", "junk.bin"), "wb") as fh:
        fh.write(b"j" * 32)
    r = maintain_layout(spark, idx)
    assert r["family"] == "dedup_index"
    assert r["decision"] == "compact"
    assert r["deltas_remaining"] == 0
    assert r["vacuum_staging_removed"] == 1
    assert r["vacuum_bytes_reclaimed"] >= 32

    rows = [(i % 4, 1000 + i, "x") for i in range(16)]
    feed = spark.createDataFrame(rows, "k long, ts long, v string")
    fp = str(tmp_path / "feed")
    write_scd2_feed(feed, fp, "k", "ts", "v", n_shards=2)
    r2 = maintain_layout(spark, fp)
    assert r2["family"] == "scd2_feed" and r2["decision"] == "hold"

    hp = str(tmp_path / "hist")
    tfeed = feed.withColumn(
        "ts", F.timestamp_micros(F.col("ts") * 1_000_000)
    )
    write_scd2_history(scd2_history(tfeed, "k", "ts", "v"), hp, "k")
    r3 = maintain_layout(spark, hp)
    assert r3["family"] == "scd2_history" and r3["decision"] == "hold"

    # ANN family demands its policy inputs loudly.
    e = _emb(spark)
    ap = str(tmp_path / "ann")
    from formula1_dataengineering_spark.operators.clustering import (
        write_ann_index,
    )

    write_ann_index(e, ap, m=4, k=4, iters=2)
    with pytest.raises(ValueError, match="needs ann="):
        maintain_layout(spark, ap)
    r4 = maintain_layout(
        spark,
        ap,
        ann={
            "queries": e.select("vec_id", "embedding").limit(5),
            "vectors": e,
            "rebuild_below": 0.0,
        },
    )
    assert r4["family"] == "ann_index" and r4["decision"] == "hold"
    # Pre-round-15 metadata (no family key) sniffs correctly.
    assert layout_family({"cell_col": "cell"}) == "ann_index"
    assert layout_family({"bands": 4}) == "dedup_index"
    with pytest.raises(ValueError, match="no family"):
        layout_family({"mystery": 1})
