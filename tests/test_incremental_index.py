"""Index-based incremental dedup (VERDICT r9 item 4): the stored
(content_hashes, band_rows) probe path must be value-identical to the
recompute path, the writer must be idempotent, and the sharded layout
must round-trip through parquet."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from formula1_dataengineering_spark.operators.store import (
    committed_delta_batches,
)
from tests.conftest import delta_owners

TEXT = [
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
    "alpha bravo charlie delta echo foxtrot golf hotel india kilo",
    "lima mike november oscar papa quebec romeo sierra tango uniform",
    "whiskey xray yankee zulu one two three four five six seven",
    "completely different content with no overlap at all here now",
]


def _docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXT)], "doc_id long, text string"
    )


def _flags(df):
    return sorted(
        (r["doc_id"], r["exact_dup"], r["near_dup"], r["action"])
        for r in df.collect()
    )


def test_index_path_equals_recompute_path(spark):
    """incremental_dedup_from_index over build_dedup_index frames
    returns exactly incremental_dedup_flags' output (per-doc MinHash
    signatures are corpus-independent)."""
    from formula1_dataengineering_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_flags,
        incremental_dedup_from_index,
    )

    d = _docs(spark)
    is_batch = F.col("doc_id") % 2 == 0
    want = _flags(incremental_dedup_flags(d, is_batch))
    hashes, bands = build_dedup_index(d.where(~is_batch))
    got = _flags(
        incremental_dedup_from_index(d.where(is_batch), hashes, bands)
    )
    assert got == want
    assert got  # non-vacuous: the batch split produced rows


def test_written_index_round_trips_with_shard_pruning_join(spark, tmp_path):
    """The sharded on-disk index probes to the same flags, and the
    probe plan joins on the shard partition column (the pruning
    contract)."""
    from formula1_dataengineering_spark.operators.dedup import (
        incremental_dedup_flags,
        incremental_dedup_from_index,
        write_dedup_index,
    )

    d = _docs(spark)
    is_batch = F.col("doc_id") % 2 == 0
    path = str(tmp_path / "idx")
    write_dedup_index(d.where(~is_batch), path, n_shards=4)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    hashes = spark.read.parquet(os.path.join(path, "content_hashes"))
    bands = spark.read.parquet(os.path.join(path, "band_rows"))
    assert "shard" in hashes.columns and "shard" in bands.columns
    out = incremental_dedup_from_index(
        d.where(is_batch), hashes, bands, n_shards=4
    )
    assert _flags(out) == _flags(incremental_dedup_flags(d, is_batch))
    # The exact-probe join condition includes the partition column.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "shard" in plan


def test_writer_rerun_is_idempotent(spark, tmp_path):
    """Re-running write_dedup_index over the same corpus leaves an
    identical index (overwrite semantics — the daily-maintenance
    re-run cannot duplicate rows)."""
    from formula1_dataengineering_spark.operators.dedup import (
        write_dedup_index,
    )

    d = _docs(spark).where(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "idx")
    write_dedup_index(d, path, n_shards=4)
    first_h = sorted(
        map(tuple, spark.read.parquet(path + "/content_hashes").collect())
    )
    first_b = sorted(
        map(tuple, spark.read.parquet(path + "/band_rows").collect())
    )
    write_dedup_index(d, path, n_shards=4)
    assert (
        sorted(
            map(
                tuple, spark.read.parquet(path + "/content_hashes").collect()
            )
        )
        == first_h
    )
    assert (
        sorted(map(tuple, spark.read.parquet(path + "/band_rows").collect()))
        == first_b
    )
    assert len(first_h) == 3  # one hash row per corpus doc


def test_incremental_index_appends_match_scratch_build(spark):
    """Building the index incrementally (corpus A, then union with
    yesterday's ingested batch B) equals building from scratch over
    A ∪ B — the maintenance property that lets the index live across
    ingests without full rebuilds."""
    from formula1_dataengineering_spark.operators.dedup import (
        build_dedup_index,
    )

    d = _docs(spark)
    a = d.where(F.col("doc_id") < 3)
    b = d.where(F.col("doc_id") >= 3)
    ha, ba = build_dedup_index(a)
    hb, bb = build_dedup_index(b)
    h_all, b_all = build_dedup_index(d)
    assert sorted(map(tuple, ha.unionByName(hb).collect())) == sorted(
        map(tuple, h_all.collect())
    )
    assert sorted(map(tuple, ba.unionByName(bb).collect())) == sorted(
        map(tuple, b_all.collect())
    )


def test_meta_json_written_and_validated(spark, tmp_path):
    """The writer persists its layout params in _META.json and the
    prober fails loudly when its params disagree (ADVICE r10: a
    silent mismatch would flag real duplicates as 'ingest')."""
    import json

    import pytest

    from formula1_dataengineering_spark.operators.dedup import (
        incremental_dedup_flags,
        incremental_dedup_from_index,
        read_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    is_batch = F.col("doc_id") % 2 == 0
    path = str(tmp_path / "idx")
    write_dedup_index(d.where(~is_batch), path, n_shards=4)
    with open(os.path.join(path, "_META.json")) as fh:
        meta = json.load(fh)
    assert meta["n_shards"] == 4 and meta["bands"] == 4

    hashes, bands, rmeta = read_dedup_index(spark, path)
    assert rmeta == meta
    ok = incremental_dedup_from_index(
        d.where(is_batch), hashes, bands, n_shards=4, index_meta=rmeta
    )
    assert _flags(ok) == _flags(incremental_dedup_flags(d, is_batch))

    # The exact writer/prober drift the advice named: index written
    # with n_shards=4, probe defaulting to 16 — must raise, not miss.
    with pytest.raises(ValueError, match="n_shards"):
        incremental_dedup_from_index(
            d.where(is_batch), hashes, bands, index_meta=rmeta
        )
    with pytest.raises(ValueError, match="shingle_k"):
        incremental_dedup_from_index(
            d.where(is_batch),
            hashes,
            bands,
            n_shards=4,
            shingle_k=5,
            index_meta=rmeta,
        )


def test_read_dedup_index_refuses_incomplete_layouts(spark, tmp_path):
    """No _SUCCESS (crashed write) or no _META.json (unknown params)
    is a loud error, never a silent wrong-flags probe."""
    import pytest

    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark).where(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "idx")
    write_dedup_index(d, path, n_shards=4)
    os.remove(os.path.join(path, "_SUCCESS"))
    with pytest.raises(ValueError, match="_SUCCESS"):
        read_dedup_index(spark, path)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    os.remove(os.path.join(path, "_META.json"))
    with pytest.raises(ValueError, match="_META"):
        read_dedup_index(spark, path)


def test_staged_rebuild_keeps_previous_index_readable(spark, tmp_path):
    """A rebuild that CRASHES must leave the PREVIOUS index fully
    readable (round-12 staged rebuild, ADVICE r11): the new tables
    build under _staging while _SUCCESS and the old tables stay
    untouched — a daily pipeline keeps serving probes through a failed
    rebuild. The marker-removed window is only the short commit phase;
    a later successful rebuild sweeps the staging residue."""
    import pytest

    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark).where(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "idx")
    write_dedup_index(d, path, n_shards=4)
    marker = os.path.join(path, "_SUCCESS")
    assert os.path.exists(marker)
    before = sorted(
        map(tuple, spark.read.parquet(path + "/content_hashes").collect())
    )
    # Crash the rebuild at execution: assert_true raises mid-write.
    bad = d.select(
        "doc_id",
        F.coalesce(
            F.assert_true(F.length("text") < 0).cast("string"), F.col("text")
        ).alias("text"),
    )
    with pytest.raises(Exception):
        write_dedup_index(bad, path, n_shards=4)
    # Old index survived the crashed build intact and readable.
    assert os.path.exists(marker)
    h, _b, _meta = read_dedup_index(spark, path)
    assert sorted(map(tuple, h.collect())) == before
    write_dedup_index(d, path, n_shards=4)  # recovery re-run
    assert os.path.exists(marker)
    assert not os.path.exists(os.path.join(path, "_staging"))


def test_refresh_delta_equals_scratch_rebuild(spark, tmp_path):
    """refresh_dedup_index(base, batch) read back through
    read_dedup_index equals an index built from scratch over
    corpus ∪ batch, and the same flags come out of a probe; re-running
    the same batch_id is idempotent (overwrite, no duplicate rows)."""
    from formula1_dataengineering_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_from_index,
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    corpus = d.where(F.col("doc_id") < 3)
    batch = d.where(F.col("doc_id") >= 3)
    path = str(tmp_path / "idx")
    write_dedup_index(corpus, path, n_shards=4)
    refresh_dedup_index(batch, path, batch_id="day1")
    h, b, meta = read_dedup_index(spark, path)
    h_all, b_all = build_dedup_index(d)
    assert sorted(
        (r["doc_id"], r["content_hash"]) for r in h.collect()
    ) == sorted(map(tuple, h_all.collect()))
    assert sorted(
        (r["doc_id"], r["band"], r["key"]) for r in b.collect()
    ) == sorted(map(tuple, b_all.collect()))

    # Idempotence: same batch_id again -> identical index. Handles
    # opened BEFORE a refresh are invalidated by it (overwrite
    # replaces part files — the documented re-open contract), so
    # capture counts first and re-open after.
    n_h, n_b = h.count(), b.count()
    refresh_dedup_index(batch, path, batch_id="day1")
    h2, b2, _ = read_dedup_index(spark, path)
    assert h2.count() == n_h and b2.count() == n_b

    # A doc probing the refreshed index hits itself exactly.
    probe = incremental_dedup_from_index(
        batch, h2, b2, n_shards=4, index_meta=meta
    )
    assert all(r["exact_dup"] for r in probe.collect())


def test_probe_plan_keeps_dynamic_partition_pruning(spark, tmp_path):
    """BOTH index scans must carry a dynamicpruningexpression — the
    round-11 regression class: caching any frame inside the broadcast
    build side (an InMemoryRelation) makes Spark plan NO DPP filter
    and the probe silently scans every shard."""
    from formula1_dataengineering_spark.operators.dedup import (
        incremental_dedup_from_index,
        read_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    is_batch = F.col("doc_id") % 2 == 0
    path = str(tmp_path / "idx")
    write_dedup_index(d.where(~is_batch), path, n_shards=4)
    hashes, bands, meta = read_dedup_index(spark, path)
    out = incremental_dedup_from_index(
        d.where(is_batch), hashes, bands, n_shards=4, index_meta=meta
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # The index scans are the only partitioned FileScans in this plan
    # (don't match on the path: Spark truncates long Location strings).
    pruned_scans = [
        line
        for line in plan.splitlines()
        if "FileScan" in line and "dynamicpruningexpression" in line
    ]
    assert len(pruned_scans) == 2, (
        "expected DPP on both the content_hashes and band_rows scans; "
        f"got {len(pruned_scans)} — an InMemoryRelation in the "
        "broadcast build side disables it"
    )


def test_rebuild_removes_stale_deltas(spark, tmp_path):
    """A base REBUILD supersedes every prior ingest: write, refresh a
    delta, rebuild over a corrected corpus — the reader must see the
    new base only (a surviving stale delta would union removed docs
    back into the view), and no delta dirs or commit markers remain."""
    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    path = str(tmp_path / "idx")
    write_dedup_index(d.where(F.col("doc_id") < 3), path, n_shards=4)
    refresh_dedup_index(
        d.where(F.col("doc_id") >= 3), path, batch_id="day1"
    )
    # Corrected corpus: doc 3+ were taken down; rebuild base only.
    write_dedup_index(d.where(F.col("doc_id") < 3), path, n_shards=4)
    h, b, _ = read_dedup_index(spark, path)
    ids = {r["doc_id"] for r in h.select("doc_id").distinct().collect()}
    assert ids == {0, 1, 2}, ids
    assert delta_owners(path) == []
    assert committed_delta_batches(spark, path) == []


def test_delta_without_commit_marker_is_ignored(
    spark, tmp_path, crash_at_publish
):
    """read_dedup_index reads only manifest-committed deltas: a crash
    before the publish leaves the batch's moved-in owner dirs unnamed
    and the reader must skip them (hashes containing a batch its band
    rows lack is the inconsistent view the commit exists to
    prevent)."""
    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    path = str(tmp_path / "idx")
    write_dedup_index(d.where(F.col("doc_id") < 3), path, n_shards=4)
    crash_at_publish(
        refresh_dedup_index, d.where(F.col("doc_id") >= 3), path, "day1"
    )
    assert delta_owners(path)  # moved in, never published
    h, b, _ = read_dedup_index(spark, path)
    ids = {r["doc_id"] for r in h.select("doc_id").distinct().collect()}
    assert ids == {0, 1, 2}, ids
    # The re-run publishes -> the batch is visible.
    refresh_dedup_index(d.where(F.col("doc_id") >= 3), path, "day1")
    h2, _b2, _ = read_dedup_index(spark, path)
    ids2 = {r["doc_id"] for r in h2.select("doc_id").distinct().collect()}
    assert ids2 == set(range(len(TEXT))), ids2


def test_refresh_validates_layout_and_batch_id(spark, tmp_path):
    """refresh_dedup_index fails loudly on: a batch_id that could
    escape the layout or dodge the reader's discovery; a base with no
    _SUCCESS (crashed write); a metadata shard salt this build does
    not compute (delta rows would land in shards probes never touch)."""
    import json

    import pytest

    from formula1_dataengineering_spark.operators.dedup import (
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    batch = d.where(F.col("doc_id") >= 3)
    path = str(tmp_path / "idx")
    write_dedup_index(d.where(F.col("doc_id") < 3), path, n_shards=4)

    for bad in ("day/1", "../x", "day*", "", ".hidden"):
        with pytest.raises(ValueError, match="batch_id"):
            refresh_dedup_index(batch, path, batch_id=bad)

    os.remove(os.path.join(path, "_SUCCESS"))
    with pytest.raises(ValueError, match="_SUCCESS"):
        refresh_dedup_index(batch, path, batch_id="day1")
    open(os.path.join(path, "_SUCCESS"), "w").close()

    meta_path = os.path.join(path, "_META.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["shard_salt"] = "drifted-salt"
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="salt"):
        refresh_dedup_index(batch, path, batch_id="day1")


def test_index_path_with_glob_metacharacters_rejected(spark, tmp_path):
    """Spark reads every path as a Hadoop glob, so a layout under a
    directory containing [ ] * ? either fails PATH_NOT_FOUND or
    silently reads a SIBLING directory the pattern matches. Writers
    and readers (dedup AND ann) reject such paths loudly instead of
    producing an unreadable-or-wrong layout; python-side delta
    discovery additionally glob.escapes, so the two glob layers can
    never disagree."""
    import pytest

    from formula1_dataengineering_spark.operators.clustering import (
        read_ann_index,
        write_ann_index,
    )
    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    path = str(tmp_path / "runs" / "[prod]" / "idx")
    os.makedirs(path, exist_ok=True)
    for fn in (
        lambda: write_dedup_index(d, path, n_shards=4),
        lambda: read_dedup_index(spark, path),
        lambda: refresh_dedup_index(d, path, batch_id="day1"),
        lambda: write_ann_index(d, path),
        lambda: read_ann_index(spark, path),
    ):
        with pytest.raises(ValueError, match="glob metacharacters"):
            fn()


def test_empty_corpus_bootstrap_roundtrip(spark, tmp_path):
    """The bootstrap flow must work: write an index over an EMPTY
    corpus (day 0 of a new pipeline), refresh day-1 docs in, read,
    and probe. A part-file-less base carries no schema for parquet
    inference — the reader synthesizes empty frames from the schemas
    the writer records in _META.json."""
    from formula1_dataengineering_spark.operators.dedup import (
        incremental_dedup_from_index,
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    path = str(tmp_path / "idx")
    write_dedup_index(d.where(F.lit(False)), path, n_shards=4)

    # Readable while completely empty; probe flags everything ingest.
    h0, b0, meta = read_dedup_index(spark, path)
    assert h0.count() == 0 and b0.count() == 0
    flags0 = incremental_dedup_from_index(
        d, h0, b0, n_shards=4, index_meta=meta
    )
    assert all(r["action"] == "ingest" for r in flags0.collect())

    # Day 1 refreshes the first real batch in; a re-probe hits it.
    refresh_dedup_index(d.where(F.col("doc_id") < 3), path, batch_id="d1")
    h1, b1, meta1 = read_dedup_index(spark, path)
    probe = incremental_dedup_from_index(
        d.where(F.col("doc_id") < 3), h1, b1, n_shards=4,
        index_meta=meta1,
    )
    assert all(r["exact_dup"] for r in probe.collect())


def test_empty_corpus_ann_index_roundtrip(spark, tmp_path):
    """Same bootstrap contract for the ANN index: an empty-corpus
    write must read back as empty frames, not an unreadable layout."""
    from formula1_dataengineering_spark.operators.clustering import (
        read_ann_index,
        write_ann_index,
    )

    rows = [(i, [float(i), 0.0, 1.0, 2.0], "a") for i in range(6)]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    path = str(tmp_path / "ann")
    write_ann_index(e.where(F.lit(False)), path, m=4, k=3, iters=2)
    codes, codebook, cells, meta = read_ann_index(spark, path)
    assert codes.count() == 0 and codebook.count() == 0
    assert {f.name for f in codes.schema.fields} >= {
        "vec_id", "sub_id", "code", "label",
    }


def test_missing_table_dir_is_corruption_not_bootstrap(spark, tmp_path):
    """A marker-bearing dedup layout whose table directory vanished
    must RAISE (ADVICE r11): the writer always creates both base
    directories and the delta commit marker lands only after both
    delta tables, so a missing directory is a partial delete — probing
    it as 'no rows' would flag every duplicate as 'ingest', the silent
    miss the layout contract exists to fail loudly on. Applies to base
    tables AND marker-bearing deltas."""
    import shutil

    import pytest

    from formula1_dataengineering_spark.operators.dedup import (
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    path = str(tmp_path / "idx")
    write_dedup_index(d.where(F.col("doc_id") < 3), path, n_shards=4)
    refresh_dedup_index(
        d.where(F.col("doc_id") >= 3), path, batch_id="day1"
    )
    for rel in delta_owners(path):
        if rel.startswith("band_rows/"):
            shutil.rmtree(os.path.join(path, rel))
    with pytest.raises(ValueError, match="corrupt"):
        read_dedup_index(spark, path)[1].collect()
    # Base-only view is unaffected by the broken delta...
    read_dedup_index(spark, path, include_deltas=False)
    # ...but a missing BASE table is corruption in every view.
    shutil.rmtree(os.path.join(path, "content_hashes"))
    with pytest.raises(ValueError, match="corrupt"):
        read_dedup_index(spark, path, include_deltas=False)


def test_dedup_index_lifecycle_over_file_scheme_uri(spark, tmp_path):
    """write → refresh → read → probe through an explicit
    file:/-scheme URI — pins that the whole marker/metadata lifecycle
    goes through the Hadoop FileSystem API, not POSIX (VERDICT r11
    item 3)."""
    from formula1_dataengineering_spark.operators.dedup import (
        incremental_dedup_from_index,
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )

    d = _docs(spark)
    uri = (tmp_path / "idx_uri").as_uri()  # file:///...
    write_dedup_index(d.where(F.col("doc_id") < 3), uri, n_shards=4)
    refresh_dedup_index(
        d.where(F.col("doc_id") >= 3), uri, batch_id="day1"
    )
    h, b, meta = read_dedup_index(spark, uri)
    flags = incremental_dedup_from_index(
        d, h, b, n_shards=4, index_meta=meta
    )
    rows = flags.collect()
    assert rows and all(r["exact_dup"] for r in rows)


def test_neardup_collisions_and_canonical_resolution(spark, tmp_path):
    """The review_near RESOLUTION chain (VERDICT r11 item 4):
    neardup_collisions_from_index returns exactly the batch→corpus
    band-bucket collision pairs, validates index metadata like the
    prober, and composing canonical_keep over {review doc} ∪ colliders
    yields the executable decision — the longer document wins, ids
    break ties."""
    import pytest

    from formula1_dataengineering_spark.operators.dedup import (
        canonical_keep,
        incremental_dedup_from_index,
        neardup_collisions_from_index,
        read_dedup_index,
        write_dedup_index,
    )

    # TEXT[2] is a one-word variant of TEXT[0]/TEXT[1]: with docs 0/1
    # in the corpus and doc 2 in the batch, doc 2 band-collides but is
    # not hash-equal -> review_near; doc 5 shares nothing -> ingest.
    d = _docs(spark)
    batch_ids = F.col("doc_id").isin(2, 5)
    corpus = d.where(~batch_ids)
    batch = d.where(batch_ids)
    path = str(tmp_path / "idx")
    write_dedup_index(corpus, path, n_shards=4)
    hashes, bands, meta = read_dedup_index(spark, path)
    flags = incremental_dedup_from_index(
        batch, hashes, bands, n_shards=4, index_meta=meta
    )
    review = flags.where(F.col("action") == "review_near").select(
        "doc_id"
    )
    review_ids = sorted(r["doc_id"] for r in review.collect())
    assert review_ids  # the fixture must exercise the near path

    pairs = neardup_collisions_from_index(
        batch.join(review, "doc_id", "left_semi"), bands,
        n_shards=4, index_meta=meta,
    )
    got = sorted(
        (r["doc_id"], r["member_id"]) for r in pairs.collect()
    )
    # Recompute ground truth without the index: band-key equality.
    from formula1_dataengineering_spark.operators.dedup import (
        _band_rows,
        minhash_signatures,
    )

    bb = _band_rows(
        minhash_signatures(batch, "doc_id", "text", 12, 3, "portable"),
        "doc_id", 12, 4,
    )
    cb = _band_rows(
        minhash_signatures(corpus, "doc_id", "text", 12, 3, "portable"),
        "doc_id", 12, 4,
    )
    want = sorted(
        set(
            (r["doc_id"], r["member_id"])
            for r in bb.join(
                cb.select(
                    F.col("doc_id").alias("member_id"), "band", "key"
                ),
                ["band", "key"],
            )
            .join(review, "doc_id", "left_semi")
            .select("doc_id", "member_id")
            .collect()
        )
    )
    assert got == want and got

    with pytest.raises(ValueError, match="params disagree"):
        neardup_collisions_from_index(
            batch, bands, n_shards=4, shingle_k=5, index_meta=meta
        )

    # Composition: quality (text length) decides keep/drop.
    members = (
        review.select(
            F.col("doc_id").alias("cluster_id"),
            F.col("doc_id").alias("member_id"),
        )
        .unionByName(
            pairs.select(F.col("doc_id").alias("cluster_id"), "member_id")
        )
        .distinct()
    )
    quality = d.select("doc_id", F.length("text").alias("n_chars"))
    decided = canonical_keep(
        members.select(F.col("member_id").alias("doc_id"), "cluster_id"),
        quality,
    )
    rows = {
        r["cluster_id"]: r
        for r in decided.where(
            F.col("doc_id") == F.col("cluster_id")
        ).collect()
    }
    assert set(rows) == set(review_ids)
    for rid, r in rows.items():
        cluster = [m["member_id"] for m in members.where(
            F.col("cluster_id") == rid
        ).collect()]
        lens = {q["doc_id"]: q["n_chars"] for q in quality.collect()}
        best = sorted(cluster, key=lambda i: (-lens[i], i))[0]
        assert r["canonical_id"] == best
        assert r["keep"] == (rid == best)
