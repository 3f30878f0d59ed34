"""Persisted IVF-PQ index (VERDICT r10 item 3): the stored-index
query path must be value-identical to the per-query recompute path,
the writer must be idempotent with crash-safe _SUCCESS handling, the
metadata must be validated, and the codes layout must be partitioned
by the coarse cell."""

from __future__ import annotations

import os
import random

import pytest

from formula1_dataengineering_spark.operators.store import (
    committed_delta_batches,
)

_D = 16  # divisible by m=4


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


def _topk(df):
    return sorted(
        (r["q_id"], r["vec_id"], r["adc_dist"], r["rk"]) for r in df.collect()
    )


def test_index_path_equals_recompute_path(spark, tmp_path):
    """ivf_pq_topk_from_index over the stored layout returns exactly
    ivf_pq_topk's output (deterministic training + bit-exact parquet
    round-trip of the codebook)."""
    from formula1_dataengineering_spark.operators.clustering import (
        ivf_pq_topk,
        ivf_pq_topk_from_index,
        read_ann_index,
        write_ann_index,
    )
    from pyspark.sql import functions as F

    e = _emb(spark)
    q = e.where(F.col("vec_id") < 5)
    want = _topk(ivf_pq_topk(e, q, m=4, k=3, iters=2, topk=4))
    path = str(tmp_path / "ann")
    write_ann_index(e, path, m=4, k=3, iters=2)
    codes, codebook, cells, meta = read_ann_index(spark, path)
    got = _topk(
        ivf_pq_topk_from_index(
            q, codes, codebook, m=4, k=3, iters=2, topk=4, index_meta=meta
        )
    )
    assert got == want
    assert got  # non-vacuous


def test_codes_partitioned_by_cell_and_codebook_shape(spark, tmp_path):
    """The on-disk codes table is partitioned by the cell column (the
    IVF candidate cut as partition pruning) and the codebook holds
    m·k rows."""
    from formula1_dataengineering_spark.operators.clustering import (
        write_ann_index,
    )

    e = _emb(spark, cells=3)
    path = str(tmp_path / "ann")
    write_ann_index(e, path, m=4, k=3, iters=2)
    cell_dirs = [
        d for d in os.listdir(os.path.join(path, "codes"))
        if d.startswith("label=")
    ]
    assert sorted(cell_dirs) == ["label=0", "label=1", "label=2"]
    cb = spark.read.parquet(os.path.join(path, "codebook"))
    assert cb.count() == 4 * 3
    assert set(cb.columns) == {"sub_id", "code", "centroid"}


def test_meta_validated_and_incomplete_layouts_refused(spark, tmp_path):
    """Trainer/prober param drift raises (wrong-m scoring returns
    wrong neighbors silently otherwise); half-written or metadata-less
    layouts are refused at read."""
    from formula1_dataengineering_spark.operators.clustering import (
        ivf_pq_topk_from_index,
        read_ann_index,
        write_ann_index,
    )
    from pyspark.sql import functions as F

    e = _emb(spark)
    path = str(tmp_path / "ann")
    write_ann_index(e, path, m=4, k=3, iters=2)
    codes, codebook, cells, meta = read_ann_index(spark, path)
    q = e.where(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="'m'"):
        ivf_pq_topk_from_index(
            q, codes, codebook, m=8, k=3, iters=2, index_meta=meta
        )
    with pytest.raises(ValueError, match="iters"):
        ivf_pq_topk_from_index(
            q, codes, codebook, m=4, k=3, iters=1, index_meta=meta
        )
    os.remove(os.path.join(path, "_META.json"))
    with pytest.raises(ValueError, match="_META"):
        read_ann_index(spark, path)
    os.remove(os.path.join(path, "_SUCCESS"))
    with pytest.raises(ValueError, match="_SUCCESS"):
        read_ann_index(spark, path)


def test_writer_rerun_idempotent_and_staged_rebuild_availability(
    spark, tmp_path
):
    """Re-running the writer leaves an identical index — and since the
    round-12 staged rebuild (ADVICE r11), a build that CRASHES leaves
    the PREVIOUS index fully readable (_SUCCESS intact, old tables
    untouched): the failure happens entirely under _staging, which the
    next successful writer sweeps."""
    from formula1_dataengineering_spark.operators.clustering import (
        read_ann_index,
        write_ann_index,
    )
    from pyspark.sql import functions as F

    e = _emb(spark)
    path = str(tmp_path / "ann")
    write_ann_index(e, path, m=4, k=3, iters=2)
    first = sorted(
        map(tuple, spark.read.parquet(path + "/codes").collect())
    )
    write_ann_index(e, path, m=4, k=3, iters=2)
    assert (
        sorted(map(tuple, spark.read.parquet(path + "/codes").collect()))
        == first
    )
    marker = os.path.join(path, "_SUCCESS")
    assert os.path.exists(marker)
    bad = e.select(
        "vec_id",
        F.coalesce(
            F.assert_true(F.size("embedding") < 0).cast(
                "array<double>"
            ),
            F.col("embedding"),
        ).alias("embedding"),
        "label",
    )
    with pytest.raises(Exception):
        write_ann_index(bad, path, m=4, k=3, iters=2)
    # Availability through a crashed rebuild: old index still valid.
    assert os.path.exists(marker)
    codes, _cb, _cells, _meta = read_ann_index(spark, path)
    assert sorted(map(tuple, codes.collect())) == first
    # A later successful rebuild sweeps the staging residue.
    write_ann_index(e, path, m=4, k=3, iters=2)
    assert os.path.exists(marker)
    assert not os.path.exists(os.path.join(path, "_staging"))


def test_missing_table_directory_is_corruption_not_bootstrap(
    spark, tmp_path
):
    """A marker-bearing layout whose table directory vanished must
    RAISE (ADVICE r11): the writer always creates all three
    directories, so a missing one is a partial delete — synthesizing
    an empty frame would return zero neighbors with no error."""
    import shutil

    from formula1_dataengineering_spark.operators.clustering import (
        read_ann_index,
        write_ann_index,
    )

    path = str(tmp_path / "ann")
    write_ann_index(_emb(spark), path, m=4, k=3, iters=2)
    shutil.rmtree(os.path.join(path, "codes"))
    with pytest.raises(ValueError, match="corrupt"):
        read_ann_index(spark, path)


def test_ann_index_lifecycle_over_file_scheme_uri(spark, tmp_path):
    """The whole lifecycle (write → read → probe) through an explicit
    file:/-scheme URI — pins that marker/metadata IO goes through the
    Hadoop FileSystem API, not POSIX (VERDICT r11 item 3: on a real
    cluster the layout lives on HDFS/S3 and the driver cannot stat
    it)."""
    from formula1_dataengineering_spark.operators.clustering import (
        ivf_pq_topk,
        ivf_pq_topk_from_index,
        read_ann_index,
        write_ann_index,
    )
    from pyspark.sql import functions as F

    e = _emb(spark)
    q = e.where(F.col("vec_id") < 5)
    uri = (tmp_path / "ann_uri").as_uri()  # file:///...
    write_ann_index(e, uri, m=4, k=3, iters=2)
    codes, codebook, cells, meta = read_ann_index(spark, uri)
    got = _topk(
        ivf_pq_topk_from_index(
            q, codes, codebook, m=4, k=3, iters=2, topk=4, index_meta=meta
        )
    )
    assert got == _topk(ivf_pq_topk(e, q, m=4, k=3, iters=2, topk=4))
    assert got


def test_multiprobe_widens_to_pure_adc_and_validates_inputs(
    spark, tmp_path
):
    """nprobe semantics: probing ALL cells must equal the unrestricted
    ADC ranking (pq_adc_topk — the same scorer with no cell keys), a
    strictly-larger candidate set than nprobe=1; nprobe without the
    cells table (or with cell_col=None) is refused loudly."""
    from formula1_dataengineering_spark.operators.clustering import (
        ivf_pq_topk_from_index,
        pq_adc_topk,
        read_ann_index,
        write_ann_index,
    )
    from pyspark.sql import functions as F

    e = _emb(spark, cells=3)
    # Queries WITHOUT a label column: multiprobe assigns the probe set
    # from the stored centroids (production query vectors carry no
    # precomputed cell).
    q = e.where(F.col("vec_id") < 5).select("vec_id", "embedding")
    path = str(tmp_path / "ann")
    write_ann_index(e, path, m=4, k=3, iters=2)
    codes, codebook, cells, meta = read_ann_index(spark, path)
    full = _topk(
        ivf_pq_topk_from_index(
            q, codes, codebook, m=4, k=3, iters=2, topk=4,
            index_meta=meta, cells=cells, nprobe=3,
        )
    )
    adc = _topk(pq_adc_topk(e, q, m=4, k=3, iters=2, topk=4))
    assert full == adc and full
    with pytest.raises(ValueError, match="cells"):
        ivf_pq_topk_from_index(
            q, codes, codebook, m=4, k=3, iters=2, index_meta=meta,
            nprobe=2,
        )
    with pytest.raises(ValueError, match="nprobe"):
        ivf_pq_topk_from_index(
            q, codes, codebook, m=4, k=3, iters=2, index_meta=meta,
            cells=cells, nprobe=0,
        )


def test_multiprobe_list_form_equals_single_width_calls(spark, tmp_path):
    """The list form (nprobe=[..]) ranks cells once at max(n), scores
    the codes once with min(__crk) riding the aggregate, and slices
    per width — its per-width output must equal the corresponding
    single-width calls exactly (ADVICE r16: the r16 list form landed
    with no caller and no test)."""
    from formula1_dataengineering_spark.operators.clustering import (
        ivf_pq_topk_from_index,
        read_ann_index,
        write_ann_index,
    )
    from pyspark.sql import functions as F

    e = _emb(spark, cells=3)
    q = e.where(F.col("vec_id") < 5).select("vec_id", "embedding")
    path = str(tmp_path / "ann")
    write_ann_index(e, path, m=4, k=3, iters=2)
    codes, codebook, cells, meta = read_ann_index(spark, path)
    multi = ivf_pq_topk_from_index(
        q, codes, codebook, m=4, k=3, iters=2, topk=4,
        index_meta=meta, cells=cells, nprobe=[1, 2, 3],
    )
    rows = sorted(
        (r["nprobe"], r["q_id"], r["rk"], r["vec_id"], r["adc_dist"])
        for r in multi.collect()
    )
    singles = []
    for n in (1, 2, 3):
        one = ivf_pq_topk_from_index(
            q, codes, codebook, m=4, k=3, iters=2, topk=4,
            index_meta=meta, cells=cells, nprobe=n,
        )
        singles.extend(
            (n, r["q_id"], r["rk"], r["vec_id"], r["adc_dist"])
            for r in one.collect()
        )
    assert rows == sorted(singles) and rows
    with pytest.raises(ValueError, match="non-empty"):
        ivf_pq_topk_from_index(
            q, codes, codebook, m=4, k=3, iters=2, index_meta=meta,
            cells=cells, nprobe=[],
        )


def test_multiprobe_plan_keeps_dynamic_partition_pruning(spark, tmp_path):
    """The WIDENED cell set must still reach the codes scan as dynamic
    partition pruning — the broadcast LUT carries explicit cell
    values, so nprobe>1 prunes to the probed cells' directories
    instead of reading the whole code table."""
    from formula1_dataengineering_spark.operators.clustering import (
        ivf_pq_topk_from_index,
        read_ann_index,
        write_ann_index,
    )
    from pyspark.sql import functions as F

    e = _emb(spark, cells=3)
    path = str(tmp_path / "ann")
    write_ann_index(e, path, m=4, k=3, iters=2)
    codes, codebook, cells, meta = read_ann_index(spark, path)
    out = ivf_pq_topk_from_index(
        e.where(F.col("vec_id") < 3).select("vec_id", "embedding"),
        codes, codebook, m=4, k=3, iters=2,
        index_meta=meta, cells=cells, nprobe=2,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert any(
        "FileScan" in line and "dynamicpruningexpression" in line
        for line in plan.splitlines()
    )


def test_writer_owns_its_cache_lifecycle(spark, tmp_path):
    """write_ann_index must leave the CacheManager empty even with NO
    active cache_scope: pq_encode caches the codebook lineage, and an
    unscoped build would pin it in the fallback registry for the rest
    of the session (it also silently warms any later timing of a
    same-lineage recompute baseline — the measurement trap documented
    in BASELINE's ANN decade study)."""
    from formula1_dataengineering_spark.operators.clustering import (
        write_ann_index,
    )

    spark.catalog.clearCache()
    write_ann_index(_emb(spark), str(tmp_path / "ann"), m=4, k=3, iters=2)
    assert bool(
        spark._jsparkSession.sharedState().cacheManager().isEmpty()
    ), "write_ann_index left frames cached after returning"


def test_indexed_probe_plan_keeps_dynamic_partition_pruning(spark, tmp_path):
    """The stored codes scan must carry a dynamicpruningexpression on
    the cell column (the IVF candidate cut as partition pruning) —
    same regression class as the dedup probe: a cached frame in the
    broadcast build side silently disables DPP."""
    from formula1_dataengineering_spark.operators.clustering import (
        ivf_pq_topk_from_index,
        read_ann_index,
        write_ann_index,
    )
    from pyspark.sql import functions as F

    e = _emb(spark)
    path = str(tmp_path / "ann")
    write_ann_index(e, path, m=4, k=3, iters=2)
    codes, codebook, cells, meta = read_ann_index(spark, path)
    out = ivf_pq_topk_from_index(
        e.where(F.col("vec_id") < 3), codes, codebook,
        m=4, k=3, iters=2, index_meta=meta,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # The codes table is the only partitioned FileScan in this plan
    # (don't match on the path: Spark truncates long Location strings).
    assert any(
        "FileScan" in line and "dynamicpruningexpression" in line
        for line in plan.splitlines()
    )


def test_multiprobe_recall_gate_widens_with_nprobe(spark):
    """The catalog gate's contract on real data: 3 rows (nprobe 1/2/4),
    recall bounded to [0,1], and widening the probe set buys recall —
    gain_vs_nprobe1 is positive at nprobe=4 (the VERDICT r11 item-2
    done-bar, measured in-query; exact values are pinned by the DuckDB
    oracle harness)."""
    from formula1_dataengineering_spark.plans.queries import QUERIES

    rows = {
        r["nprobe"]: r
        for r in QUERIES["ann_multiprobe_recall"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert sorted(rows) == [1, 2, 4]
    for r in rows.values():
        assert 0.0 <= r["recall_at_5"] <= 1.0
        assert r["n_queries"] == 10
    assert rows[1]["gain_vs_nprobe1"] == 0.0
    assert rows[4]["gain_vs_nprobe1"] > 0.0
    assert rows[4]["recall_at_5"] > rows[1]["recall_at_5"]


# ---------------------------------------------------------------------------
# Incremental refresh (refresh_ann_index, round 12): delta appends
# encoded with the STORED codebook, placed by the STORED coarse
# centroids, committed atomically via per-batch markers; rebuilds
# purge deltas.
# ---------------------------------------------------------------------------


def test_refresh_appends_delta_and_reader_unions_it(spark, tmp_path):
    from pyspark.sql import functions as F

    from formula1_dataengineering_spark.operators.clustering import (
        read_ann_index,
        refresh_ann_index,
        write_ann_index,
    )

    e = _emb(spark)
    corpus = e.where(F.col("vec_id") % 5 != 0)
    batch = e.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ann")
    write_ann_index(corpus, path, m=4, k=3, iters=2)
    codes0, _, _, _ = read_ann_index(spark, path)
    n0 = codes0.count()
    refresh_ann_index(batch, path, "day1")
    codes1, _, _, _ = read_ann_index(spark, path)
    assert codes1.count() == n0 + batch.count() * 4  # m=4 codes/vec
    # Base-only view ignores the delta (the retried-ingest contract).
    codes_base, _, _, _ = read_ann_index(spark, path, include_deltas=False)
    assert codes_base.count() == n0
    # Delta ids are exactly the batch ids.
    got_ids = {
        r["vec_id"]
        for r in codes1.select("vec_id").distinct().collect()
    }
    want_ids = {r["vec_id"] for r in e.collect()}
    assert got_ids == want_ids


def test_stored_codebook_reencode_reproduces_base_codes(spark, tmp_path):
    """pq_encode_with_codebook's assignment rule is identical to
    training's final pass: re-encoding the training corpus with its
    own stored codebook reproduces the stored codes exactly — base
    and delta codes are mutually consistent by construction."""
    from formula1_dataengineering_spark.operators.clustering import (
        pq_encode_with_codebook,
        read_ann_index,
        write_ann_index,
    )

    e = _emb(spark)
    path = str(tmp_path / "ann")
    write_ann_index(e, path, m=4, k=3, iters=2)
    codes, codebook, _, _ = read_ann_index(spark, path)
    re_codes = pq_encode_with_codebook(e, codebook, m=4).select(
        "vec_id", "sub_id", "code"
    )
    stored = codes.select("vec_id", "sub_id", "code")
    assert (
        re_codes.exceptAll(stored).count() == 0
        and stored.exceptAll(re_codes).count() == 0
    )


def test_refresh_idempotent_and_markerless_delta_ignored(
    spark, tmp_path, crash_at_publish
):
    from pyspark.sql import functions as F

    from formula1_dataengineering_spark.operators.clustering import (
        read_ann_index,
        refresh_ann_index,
        write_ann_index,
    )

    e = _emb(spark)
    corpus = e.where(F.col("vec_id") % 5 != 0)
    batch = e.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ann")
    write_ann_index(corpus, path, m=4, k=3, iters=2)
    n0 = read_ann_index(spark, path)[0].count()
    # A delta whose commit never published (crash between the table
    # write and the manifest) is invisible to readers.
    crash_at_publish(refresh_ann_index, batch, path, "day1")
    codes_unpublished, _, _, _ = read_ann_index(spark, path)
    assert codes_unpublished.count() == n0
    refresh_ann_index(batch, path, "day1")
    n1 = read_ann_index(spark, path)[0].count()
    assert n1 == n0 + batch.count() * 4
    # Re-running the same batch_id replaces its own delta.
    refresh_ann_index(batch, path, "day1")
    assert read_ann_index(spark, path)[0].count() == n1


def test_rebuild_purges_deltas_and_bad_batch_ids_refused(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from formula1_dataengineering_spark.operators.clustering import (
        read_ann_index,
        refresh_ann_index,
        write_ann_index,
    )

    e = _emb(spark)
    corpus = e.where(F.col("vec_id") % 5 != 0)
    batch = e.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ann")
    write_ann_index(corpus, path, m=4, k=3, iters=2)
    refresh_ann_index(batch, path, "day1")
    with _pytest.raises(ValueError, match="batch_id"):
        refresh_ann_index(batch, path, "../escape")
    with _pytest.raises(ValueError, match="vec_col"):
        refresh_ann_index(batch, path, "day2", vec_col="other")
    # A base REBUILD supersedes every prior ingest.
    write_ann_index(e, path, m=4, k=3, iters=2)
    assert not any(
        o.startswith("__d")
        for p in os.listdir(os.path.join(path, "codes"))
        if "=" in p
        for o in os.listdir(os.path.join(path, "codes", p))
    )
    assert committed_delta_batches(spark, path) == []
    codes, _, _, _ = read_ann_index(spark, path)
    assert codes.count() == e.count() * 4


def test_delta_probe_returns_batch_vectors_as_neighbors(spark, tmp_path):
    """Batch vectors exist ONLY in the delta: each batch vector
    querying base ∪ delta at nprobe=2 must surface itself among its
    neighbors (its insert cell is by construction the first cell its
    own query probes, and its ADC self-distance is its quantization
    error — minimal for its own code)."""
    from pyspark.sql import functions as F

    from formula1_dataengineering_spark.operators.clustering import (
        ivf_pq_topk_from_index,
        read_ann_index,
        refresh_ann_index,
        write_ann_index,
    )

    e = _emb(spark)
    corpus = e.where(F.col("vec_id") % 5 != 0)
    batch = e.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ann")
    write_ann_index(corpus, path, m=4, k=3, iters=2)
    refresh_ann_index(batch, path, "day1")
    codes, codebook, cells, meta = read_ann_index(spark, path)
    top = ivf_pq_topk_from_index(
        batch.select("vec_id", "embedding"),
        codes,
        codebook,
        m=4,
        k=3,
        iters=2,
        topk=4,
        index_meta=meta,
        cells=cells,
        nprobe=2,
    )
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    neighbors = {
        r["vec_id"] for r in top.select("vec_id").distinct().collect()
    }
    # Delta rows are probed: batch ids appear as neighbors at all.
    assert neighbors & batch_ids


def test_refresh_refuses_untrained_empty_corpus_index(spark, tmp_path):
    """An empty-corpus index has no trained codebook: a refresh
    against it would encode ZERO code rows and silently lose every
    appended vector — the contract raises instead (the dedup index
    bootstraps from empty because signatures are corpus-independent;
    a trained index cannot)."""
    import pytest as _pytest

    from formula1_dataengineering_spark.operators.clustering import (
        refresh_ann_index,
        write_ann_index,
    )

    e = _emb(spark)
    empty = e.where("vec_id < 0")
    path = str(tmp_path / "ann_empty")
    write_ann_index(empty, path, m=4, k=3, iters=2)
    with _pytest.raises(ValueError, match="empty corpus"):
        refresh_ann_index(e.where("vec_id < 5"), path, "day1")


def test_refresh_refuses_overlapping_batch_ids(spark, tmp_path):
    """Insert-only contract (ADVICE r12): re-ingesting an id that
    already has code rows would make the ADC scorer double-count its
    subspace distances — the refresh raises on any id intersection
    with base ∪ other committed deltas, while (a) the same-batch_id
    RETRY stays legal (its own prior delta is excluded from the
    check) and (b) check_disjoint=False skips the pass for callers
    with an upstream guarantee."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from formula1_dataengineering_spark.operators.clustering import (
        read_ann_index,
        refresh_ann_index,
        write_ann_index,
    )

    e = _emb(spark)
    corpus = e.where(F.col("vec_id") % 5 != 0)
    batch = e.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ann")
    write_ann_index(corpus, path, m=4, k=3, iters=2)
    refresh_ann_index(batch, path, "day1")
    # Retry of the SAME batch_id: legal (idempotent overwrite).
    refresh_ann_index(batch, path, "day1")
    # A base id under a NEW batch_id: raises.
    with _pytest.raises(ValueError, match="insert-only"):
        refresh_ann_index(e.where("vec_id = 1"), path, "day2")
    # A day1-delta id under a NEW batch_id: raises too.
    with _pytest.raises(ValueError, match="insert-only"):
        refresh_ann_index(e.where("vec_id = 5"), path, "day2")
    n_before = read_ann_index(spark, path)[0].count()
    # Opt-out lands the (corrupting) delta — caller's guarantee.
    refresh_ann_index(
        e.where("vec_id = 1"), path, "day2", check_disjoint=False
    )
    assert read_ann_index(spark, path)[0].count() == n_before + 4


def test_refresh_clash_leaves_delta_uncommitted(spark, tmp_path):
    """The disjointness scan runs CONCURRENTLY with the delta write
    (guide §2.6), but the write lands in a hidden staging directory
    (r17, ADVICE r16 high): a clash deletes the staging and raises —
    no commit marker, no delta directory, nothing committed touched."""
    import os as _os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from formula1_dataengineering_spark.operators.clustering import (
        read_ann_index,
        refresh_ann_index,
        write_ann_index,
    )

    e = _emb(spark)
    corpus = e.where(F.col("vec_id") % 5 != 0)
    path = str(tmp_path / "ann")
    write_ann_index(corpus, path, m=4, k=3, iters=2)
    with _pytest.raises(ValueError, match="insert-only"):
        refresh_ann_index(e.where("vec_id = 1"), path, "day9")
    assert (
        committed_delta_batches(spark, path) == []
    ), "a clashing refresh must never commit its delta"
    assert not _os.path.exists(
        _os.path.join(path, ".spark-staging-delta_day9")
    ), "a rejected refresh must clean up its staging"
    assert not any(
        o.startswith("__dday9")
        for p in _os.listdir(_os.path.join(path, "codes"))
        if "=" in p
        for o in _os.listdir(_os.path.join(path, "codes", p))
    ), "a rejected refresh must never materialize a delta directory"
    codes, _, _, _ = read_ann_index(spark, path)
    assert codes.count() == corpus.count() * 4  # base only, m=4 rows/vec


def test_refresh_clash_retry_preserves_committed_batch(spark, tmp_path):
    """ADVICE r16 high: the r16 overlap deleted the commit marker and
    overwrote the delta directory before the clash verdict was
    collected, so a REJECTED retry of a previously COMMITTED batch
    permanently destroyed that batch's delta. The staged-write fix
    must keep the committed delta byte-identical through a clashing
    retry."""
    import os as _os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from formula1_dataengineering_spark.operators.clustering import (
        read_ann_index,
        refresh_ann_index,
        write_ann_index,
    )

    e = _emb(spark)
    corpus = e.where(F.col("vec_id") % 5 != 0)
    batch = e.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ann")
    write_ann_index(corpus, path, m=4, k=3, iters=2)
    refresh_ann_index(batch, path, "day1")
    n_committed = read_ann_index(spark, path)[0].count()
    # Retry day1 with vectors that clash with the BASE (vec_id=1 is
    # base-resident; the check only excludes day1's own prior delta).
    with _pytest.raises(ValueError, match="insert-only"):
        refresh_ann_index(e.where("vec_id = 1"), path, "day1")
    assert committed_delta_batches(spark, path) == [
        "day1"
    ], "the committed batch must survive a rejected retry"
    assert (
        read_ann_index(spark, path)[0].count() == n_committed
    ), "a rejected retry must not lose the committed batch's code rows"


def test_assign_ivf_cells_handles_string_and_null_ids(spark, tmp_path):
    """The batch-side broadcast key is pmod(crc32(coalesce(cast)))
    (ADVICE r12): pmod(id, 1) is NULL for string ids under non-ANSI
    semantics and crc32 propagates NULL ids — either would silently
    drop vectors from the delta. Every row must survive assignment."""
    from formula1_dataengineering_spark.operators.clustering import (
        assign_ivf_cells,
        ivf_cell_centroids,
    )

    e = _emb(spark)
    cells = ivf_cell_centroids(e, "label").withColumnRenamed(
        "label", "cell"
    )
    named = e.selectExpr(
        "concat('doc-', cast(vec_id as string)) as vec_id",
        "embedding",
    )
    got = assign_ivf_cells(named, cells, cell_col="cell")
    assert got.count() == named.count()
    assert got.where("cell is null").count() == 0
    # A null id still gets an assignment row (callers route nulls).
    withnull = named.unionByName(
        spark.createDataFrame(
            [(None, [0.0] * _D)], "vec_id string, embedding array<double>"
        )
    )
    assert assign_ivf_cells(withnull, cells, cell_col="cell").count() == (
        named.count() + 1
    )


def test_ann_rebuild_policy_hold_and_rebuild_branches(spark):
    """The trigger's two branches (the gate's threshold fires REBUILD
    deterministically, so HOLD needs a direct drive): threshold=0.0
    never fires — one 'delta' row, decision 'hold', no rebuild;
    threshold=1.1 always fires — the 'post_rebuild' row appears and
    the rebuilt layout exists."""
    import os as _os

    from formula1_dataengineering_spark.plans.queries import (
        _ann_policy_rows,
    )
    from formula1_dataengineering_spark.sources.catalog import (
        layout_artifact,
    )

    sf = "/root/testdata/sf0.001"
    hold = _ann_policy_rows(spark, sf, threshold=0.0).collect()
    assert [r["phase"] for r in hold] == ["delta"]
    assert hold[0]["decision"] == "hold"
    fire = sorted(
        _ann_policy_rows(spark, sf, threshold=1.1).collect(),
        key=lambda r: r["phase"],
    )
    assert [r["phase"] for r in fire] == ["delta", "post_rebuild"]
    assert all(r["decision"] == "rebuild" for r in fire)
    rpath, _ = layout_artifact(
        sf, "spark_graft_ann_policy_rebuilt_v1", "embeddings"
    )
    assert _os.path.exists(_os.path.join(rpath, "_SUCCESS"))
