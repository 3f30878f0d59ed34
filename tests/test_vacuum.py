"""Retention / vacuum verbs (operators/vacuum.py, VERDICT r13
item 2): physical-garbage sweep is invisible to readers, staging of
crashed writers and retired protocols goes, unmarked deltas go while
committed ones stay, and SCD2 history expiry keeps exactly current +
N most recent closed versions per key, COW over touched shards,
idempotent through a crash."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from formula1_dataengineering_spark.operators.scd import (
    read_scd2_feed,
    read_scd2_history,
    refresh_scd2_feed,
    scd2_history,
    write_scd2_feed,
    write_scd2_history,
)
from formula1_dataengineering_spark.operators.vacuum import (
    expire_scd2_history,
    vacuum_layout,
)


def _feed(spark, n=48):
    rows = [(i % 6, 1000 + i, f"v{i % 4}") for i in range(n)]
    return spark.createDataFrame(
        rows, "k long, ts long, v string"
    ).withColumn("ts", F.timestamp_micros(F.col("ts") * 1_000_000))


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture()
def feed_layout(spark, tmp_path):
    path = str(tmp_path / "feed")
    f = _feed(spark)
    write_scd2_feed(f.where(F.unix_seconds(F.col("ts")) % 2 == 0), path, "k", "ts", "v")
    refresh_scd2_feed(f.where(F.unix_seconds(F.col("ts")) % 2 == 1), path, "day1")
    return path, f


def test_vacuum_sweeps_garbage_keeps_content(spark, feed_layout):
    path, f = feed_layout
    before = _rows(read_scd2_feed(spark, path)[0].select("k", "ts", "v"))

    # A REALISTIC orphan: a second refresh whose commit marker is
    # lost (crash between delta write and marker).
    refresh_scd2_feed(_feed(spark, 50).where(F.unix_seconds(F.col("ts")) >= 1048), path, "day2")
    os.remove(os.path.join(path, "_DELTA_day2._SUCCESS"))
    # Stale writer staging + staging of the retired compaction and
    # copy-on-write protocols.
    for rel, size in (("_staging", 10), ("_compact", 20), ("_cow_staging", 5)):
        os.makedirs(os.path.join(path, rel, "feed_rows"))
        with open(os.path.join(path, rel, "feed_rows", "x.bin"), "wb") as fh:
            fh.write(b"a" * size)

    info = vacuum_layout(spark, path)
    assert info["orphan_deltas_removed"] == 1
    assert info["staging_removed"] == 3
    assert info["files_removed"] >= 4  # orphan parquet files + 3 bins
    assert info["bytes_reclaimed"] >= 35
    names = os.listdir(path)
    assert not {"_staging", "_compact", "_cow_staging"} & set(names)
    assert not any("day2" in n for n in names)
    # Committed delta and logical content untouched.
    assert "_DELTA_day1._SUCCESS" in names
    assert _rows(read_scd2_feed(spark, path)[0].select("k", "ts", "v")) == before


def test_vacuum_refuses_markerless_layout(spark, feed_layout):
    path, _ = feed_layout
    os.remove(os.path.join(path, "_SUCCESS"))
    with pytest.raises(ValueError, match="no _SUCCESS"):
        vacuum_layout(spark, path)


@pytest.fixture()
def hist_layout(spark, tmp_path):
    path = str(tmp_path / "hist")
    f = _feed(spark)  # 6 keys × 8 ts each, alternating 4 values
    hist = scd2_history(f, "k", "ts", "v")
    write_scd2_history(hist, path, "k", n_shards=4)
    return path, hist


def test_expire_keeps_current_plus_n(spark, hist_layout):
    path, hist = hist_layout
    total = hist.count()
    n_current = hist.where("is_current").count()
    info = expire_scd2_history(spark, path, retain_versions=1)
    after, _ = read_scd2_history(spark, path)
    kept = after.count()
    assert kept == n_current * 2  # every key keeps current + 1 closed
    assert info["rows_expired"] == total - kept
    assert info["shards_rewritten"] >= 1
    # Exactly the N most RECENT closed versions survive.
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy(F.desc("effective_from_us"))
    expect = _rows(
        hist.where("is_current")
        .select("k", "v", "effective_from_us", "effective_to_us")
        .unionByName(
            hist.where("not is_current")
            .withColumn("rk", F.row_number().over(w))
            .where("rk <= 1")
            .select("k", "v", "effective_from_us", "effective_to_us")
        )
    )
    got = _rows(
        after.select("k", "v", "effective_from_us", "effective_to_us")
    )
    assert got == expect
    # Idempotent: a second pass is a clean no-op, marker intact.
    info2 = expire_scd2_history(spark, path, retain_versions=1)
    assert info2 == {"rows_expired": 0, "shards_rewritten": 0}
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_expire_zero_keeps_only_current(spark, hist_layout):
    path, hist = hist_layout
    expire_scd2_history(spark, path, retain_versions=0)
    after, _ = read_scd2_history(spark, path)
    assert after.count() == hist.where("is_current").count()
    assert after.where("not is_current").count() == 0
    with pytest.raises(ValueError, match="must be >= 0"):
        expire_scd2_history(spark, path, retain_versions=-1)


def test_expire_refuses_markerless_layout(spark, hist_layout):
    """A marker-less layout is a crashed rebuild: the expiry refuses it
    like every reader does, and re-running the writer recovers it."""
    path, hist = hist_layout
    os.remove(os.path.join(path, "_SUCCESS"))
    with pytest.raises(ValueError, match="no _SUCCESS marker"):
        expire_scd2_history(spark, path, retain_versions=1)
    with pytest.raises(ValueError, match="no _SUCCESS marker"):
        read_scd2_history(spark, path)


def test_vacuum_anchored_orphan_match_and_spark_staging(
    spark, feed_layout
):
    """ADVICE r14: (a) the orphan-delta match is anchored to the
    layout's OWN table directories — an unrelated sibling like
    'notes_delta_old' survives; (b) '.spark-staging-*' residue (a
    killed Spark write job's scratch) is swept at the root and one
    level down inside table dirs."""
    path, f = feed_layout
    before = _rows(read_scd2_feed(spark, path)[0].select("k", "ts", "v"))
    # Decoy: contains '_delta_' but its prefix names no table here.
    os.makedirs(os.path.join(path, "notes_delta_old"))
    with open(os.path.join(path, "notes_delta_old", "keep.txt"), "w") as fh:
        fh.write("user scratch")
    # Killed-write residue, both placements.
    os.makedirs(os.path.join(path, ".spark-staging-abc"))
    with open(os.path.join(path, ".spark-staging-abc", "p.bin"), "wb") as fh:
        fh.write(b"z" * 16)
    os.makedirs(os.path.join(path, "feed_rows", ".spark-staging-def"))
    with open(
        os.path.join(path, "feed_rows", ".spark-staging-def", "q.bin"), "wb"
    ) as fh:
        fh.write(b"z" * 16)
    info = vacuum_layout(spark, path)
    assert info["orphan_deltas_removed"] == 0
    assert info["spark_staging_removed"] == 2
    assert os.path.exists(os.path.join(path, "notes_delta_old", "keep.txt"))
    assert not os.path.exists(os.path.join(path, ".spark-staging-abc"))
    assert not os.path.exists(
        os.path.join(path, "feed_rows", ".spark-staging-def")
    )
    assert _rows(read_scd2_feed(spark, path)[0].select("k", "ts", "v")) == before


def test_expire_commit_crash_resumes(spark, hist_layout, monkeypatch):
    """A kill at the expiry's commit point loses nothing: the old
    history stays current and readable, and the re-run lands the
    expiry exactly once."""
    from formula1_dataengineering_spark import fsutil

    path, hist = hist_layout
    n_current = hist.where("is_current").count()
    total = hist.count()
    real_rename = fsutil.rename

    def dying_rename(spark_, src, dst):
        if "_MANIFEST_v" in dst:
            raise RuntimeError("simulated kill")
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(fsutil, "rename", dying_rename)
    with pytest.raises(RuntimeError, match="simulated kill"):
        expire_scd2_history(spark, path, retain_versions=0)
    monkeypatch.setattr(fsutil, "rename", real_rename)
    assert read_scd2_history(spark, path)[0].count() == total
    info = expire_scd2_history(spark, path, retain_versions=0)
    assert info["rows_expired"] == total - n_current
    after, _ = read_scd2_history(spark, path)
    assert after.count() == n_current
    assert after.where("not is_current").count() == 0


def test_vacuum_class4_never_descends_into_decoys(spark, feed_layout):
    """Round-15 review finding 4: the .spark-staging sweep one level
    down is anchored like the orphan match — user scratch whose name
    merely contains '_delta_' is never descended into."""
    path, _ = feed_layout
    os.makedirs(os.path.join(path, "notes_delta_old", ".spark-staging-keep"))
    with open(
        os.path.join(
            path, "notes_delta_old", ".spark-staging-keep", "mine.txt"
        ),
        "w",
    ) as fh:
        fh.write("user data")
    info = vacuum_layout(spark, path)
    assert info["spark_staging_removed"] == 0
    assert os.path.exists(
        os.path.join(path, "notes_delta_old", ".spark-staging-keep", "mine.txt")
    )


def test_vacuum_never_claims_plain_user_scratch(spark, feed_layout):
    """ADVICE r15 (low): a user scratch dir like notes/ — no parquet,
    no _SUCCESS, no partition dirs — is NOT a layout table. The
    class-4 sweep must not descend into it (its .spark-staging child
    survives), and the class-3 orphan match must not treat it as the
    anchor for notes_delta_* (the delta-named sibling survives too)."""
    path, _ = feed_layout
    os.makedirs(os.path.join(path, "notes", ".spark-staging-mine"))
    with open(
        os.path.join(path, "notes", ".spark-staging-mine", "wip.txt"), "w"
    ) as fh:
        fh.write("user data")
    with open(os.path.join(path, "notes", "todo.txt"), "w") as fh:
        fh.write("plain scratch file")
    # With notes/ wrongly in the table set, this would be an
    # "orphan delta" of table notes and be deleted.
    os.makedirs(os.path.join(path, "notes_delta_b9"))
    with open(os.path.join(path, "notes_delta_b9", "keep.txt"), "w") as fh:
        fh.write("also user data")
    info = vacuum_layout(spark, path)
    assert info["spark_staging_removed"] == 0
    assert info["orphan_deltas_removed"] == 0
    assert os.path.exists(
        os.path.join(path, "notes", ".spark-staging-mine", "wip.txt")
    )
    assert os.path.exists(os.path.join(path, "notes_delta_b9", "keep.txt"))
