"""Unified stored-layout maintenance policy — hold / compact /
rebuild in ONE loop (VERDICT r13 item 1).

Round 13 left the two halves of index maintenance separate: the
rebuild-trigger policy gate measured recall drift and retrained, and
``operators.compaction`` folded deltas — but a HOLD decision left
deltas accumulating forever, and nothing composed the two into the
loop a production deployment actually runs. These verbs close it:
each ``maintain_*`` call measures the layout's state, emits exactly
one of ``hold`` / ``compact`` / ``rebuild``, EXECUTES it, and returns
the decision row a policy log would record (the gates hash these
rows, and the DuckDB oracle replays the conditionals themselves).

Decision precedence (shared by all three families):

1. REBUILD when the layout's drift metric crosses its threshold —
   recall@k for the ANN index (quantization drift of
   frozen-codebook inserts), accumulated delta-rows ratio for the
   dedup index (the ingested tail outgrowing the sharding the base
   was sized for), rows-per-shard for the SCD2 feed (the re-shard
   trigger). A rebuild subsumes compaction: the base writer purges
   every delta by contract.
2. COMPACT when ``compact_after`` or more committed delta batches
   have accumulated — the pure partition-wise fold of
   ``operators.compaction`` (no retraining, drift accounting
   untouched).
3. HOLD otherwise.

100 TB story: this is the nightly maintenance tick. Measuring is
O(probe) (ANN recall over a bounded held-out query set; row counts
are columnar metadata scans), compacting rewrites only touched
partitions, and rebuilding — the only corpus-sized verb — runs
exactly when the measured drift says the cheap verbs no longer
suffice. Single-maintainer assumption per ``operators.compaction``;
concurrent INGEST is safe throughout (delta markers).

No reference analog: the reference (pandas, eager, in-memory —
src/session_object.py) has no stored layouts to maintain; this is
part of the engine's training-data-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import store
from .compaction import (
    compact_ann_index,
    compact_dedup_index,
    compact_scd2_feed,
)
from .lease import maintainer_verb


def referee_sample_pred(
    col: F.Column, keep: int, mod: int, salt: str = "annref"
) -> F.Column:
    """Deterministic hash-sample membership for the bounded recall
    referee (VERDICT r14 item 5): keep a row iff
    ``portable_hash48(salt || id) % mod < keep`` — the KMV/leakage
    gates' seeded-hash recipe, so the DuckDB oracle replays the SAME
    sample from ``md5_number`` and the sampled recall is exact, not
    approximately reproduced."""
    from .dedup import portable_hash48

    return portable_hash48(
        F.concat(F.lit(salt), col.cast("string"))
    ) % F.lit(mod) < F.lit(keep)


def ann_recall_at_k(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    vectors: DataFrame,
    topk: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: tuple[int, int] | None = None,
) -> DataFrame:
    """Measured recall@k of a stored ANN index against the exact
    top-k over ``vectors`` (the raw corpus the index claims to
    serve) — the drift metric :func:`maintain_ann_index` acts on.

    One bounded exact referee: the query set broadcasts into a single
    corpus scan (the documented one-pass GEMM baseline — exact cost
    is O(|queries| · |vectors|) dot products, honest accounting for a
    recall number), the indexed side is the pruned nprobe ADC probe.

    ``sample=(keep, mod)`` (VERDICT r14 item 5) restricts BOTH sides
    to the deterministic hash-sample of :func:`referee_sample_pred` —
    the approx probe ranks only sampled code rows, the exact referee
    scans only sampled vectors, so the metric is a well-defined
    recall over the sampled corpus and the tick's referee cost drops
    from O(|queries| · corpus) to O(|queries| · keep/mod · corpus);
    a production loop picks keep/mod per tick as sample_budget /
    corpus_rows, which makes the nightly HOLD tick corpus-FLAT
    (scripts/maintenance_probe.py --ann-sampled measures it). The
    full referee (sample=None) stays the rebuild-confirmation
    measurement. Returns a 1-row frame (n_queries, n_hits,
    recall_at_k)."""
    from .clustering import ivf_pq_topk_from_index, read_ann_index
    from .scalars import broadcast_scalars

    codes, codebook, cells, meta = read_ann_index(spark, path)
    if sample is not None:
        keep_n, mod = sample
        codes = codes.where(
            referee_sample_pred(F.col(id_col), keep_n, mod)
        )
        vectors = vectors.where(
            referee_sample_pred(F.col(id_col), keep_n, mod)
        )
    approx = ivf_pq_topk_from_index(
        queries,
        codes,
        codebook,
        m=int(meta["m"]),
        k=int(meta["k"]),
        iters=int(meta["iters"]),
        topk=topk,
        index_meta=meta,
        cells=cells,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
    ).select("q_id", F.col(id_col).alias("neighbor_id"))

    sq = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # Column-derived single-valued key: a literal constant-folds into
    # BroadcastNestedLoopJoin (catalog hygiene rule).
    one = lambda c: F.pmod(  # noqa: E731
        F.crc32(c.cast("string")), F.lit(1)
    ).cast("int")
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    qe = queries.select(
        F.col(id_col).alias("q_id"), vec_d.alias("__qv")
    ).withColumn("__k", one(F.col("q_id")))
    ce = vectors.select(
        F.col(id_col).alias("neighbor_id"), vec_d.alias("__cv")
    ).withColumn("__k", one(F.col("neighbor_id")))
    w = Window.partitionBy("q_id").orderBy(
        F.col("__d").asc(), F.col("neighbor_id").asc()
    )
    exact = (
        ce.join(F.broadcast(qe), "__k")
        .select("q_id", "neighbor_id", sq("__qv", "__cv").alias("__d"))
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= topk)
        .select("q_id", "neighbor_id")
    )
    hits = approx.join(exact, ["q_id", "neighbor_id"], "left_semi").agg(
        F.count("*").alias("n_hits")
    )
    nq = exact.agg(F.countDistinct("q_id").alias("n_queries"))
    return broadcast_scalars(hits, nq, "n_hits", "n_queries").select(
        "n_queries",
        "n_hits",
        F.round(F.col("n_hits") / (F.col("n_queries") * topk), 4).alias(
            "recall_at_k"
        ),
    )


def _recall_scalars(row_df: DataFrame) -> tuple[int, int, float]:
    # 1-row collect by design: the maintenance trigger is a
    # driver-side decision (a production loop reads the metric, then
    # acts); the frame is a single broadcast-joined scalar row.
    r = row_df.collect()[0]
    return (
        int(r["n_queries"]),
        int(r["n_hits"]),
        float(r["recall_at_k"]),
    )


@maintainer_verb
def maintain_ann_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    vectors: DataFrame,
    rebuild_below: float,
    compact_after: int = 2,
    topk: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    referee_sample: tuple[int, int] | None = None,
) -> dict:
    """ONE maintenance tick of a stored IVF-PQ index: measure
    recall@k drift over the held-out ``queries`` against the exact
    top-k over ``vectors`` (the raw corpus the index currently
    serves — codes cannot reconstruct vectors, so the caller supplies
    them; a production loop reads them from the corpus table), then

    - REBUILD (``write_ann_index`` over ``vectors`` with the layout's
      own recorded params — retrains codebook + coarse centroids,
      purges every delta) when measured recall < ``rebuild_below``;
    - else COMPACT (fold committed deltas partition-wise, drift
      accounting untouched) when ≥ ``compact_after`` deltas;
    - else HOLD.

    Returns the decision row: ``decision``, ``n_deltas`` (before),
    ``n_queries`` / ``n_hits`` / ``recall_before``, ``recall_after``
    (re-measured after a compact or rebuild — a compact must leave it
    EQUAL, the fold-invisibility witness; hold copies it), and
    ``deltas_remaining`` (after). The gates hash these fields and the
    DuckDB oracle replays both the recall computation and the
    conditional itself.

    ``referee_sample=(keep, mod)`` (VERDICT r14 item 5) runs the
    drift measurement — and the compact re-measurement, so the
    fold-invisibility witness compares like with like — on the
    deterministic hash-sampled referee of :func:`ann_recall_at_k`,
    keeping the nightly tick corpus-flat; the post-REBUILD
    confirmation always re-measures with the FULL referee (the one
    corpus-sized read is paid exactly when a corpus-sized rebuild
    already was)."""
    from .clustering import write_ann_index
    from .cow import resume_pending_cow

    # Complete a pending COW (retraction) commit before measuring —
    # the commit may rewrite the partitions the probe reads and the
    # _META.json deletion counters this tick acts on (round-15
    # review).
    resume_pending_cow(spark, path)
    meta = store.require_layout_meta(
        spark, path, "ANN index", "write_ann_index"
    )
    n_deltas = len(store.committed_delta_batches(spark, path))
    measure = lambda sample=referee_sample: _recall_scalars(  # noqa: E731
        ann_recall_at_k(
            spark,
            path,
            queries,
            vectors,
            topk,
            nprobe,
            id_col,
            vec_col,
            sample=sample,
        )
    )
    n_queries, n_hits, recall = measure()
    if recall < rebuild_below:
        decision = "rebuild"
        write_ann_index(
            vectors,
            path,
            cell_col=meta["cell_col"],
            m=int(meta["m"]),
            k=int(meta["k"]),
            iters=int(meta["iters"]),
            id_col=id_col,
            vec_col=vec_col,
        )
        _, _, recall_after = measure(sample=None)
    elif n_deltas >= compact_after:
        decision = "compact"
        compact_ann_index(spark, path)
        _, _, recall_after = measure()
    else:
        decision = "hold"
        recall_after = recall
    return {
        "decision": decision,
        "n_deltas": n_deltas,
        "n_queries": n_queries,
        "n_hits": n_hits,
        "recall_before": recall,
        "recall_after": recall_after,
        "deltas_remaining": len(store.committed_delta_batches(spark, path)),
    }


def _delta_base_rows(
    spark: SparkSession, layout: store.Layout, table: str, schema_key: str
) -> tuple[int, int]:
    """(base_rows, delta_rows) of one layout table at its current
    snapshot — columnar count scans (parquet row-group metadata), not
    data reads, and never pricing superseded partition copies."""
    deltas = [store.delta_dir(table, b) for b in layout.batches]
    base_rows = store.open_table(spark, layout, [table], schema_key).count()
    delta_rows = (
        store.open_table(spark, layout, deltas, schema_key).count()
        if deltas
        else 0
    )
    return base_rows, delta_rows


@maintainer_verb
def maintain_dedup_index(
    spark: SparkSession,
    path: str,
    corpus: DataFrame | None = None,
    rebuild_rows_over: float | None = None,
    compact_after: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    rebuild_deleted_over: float | None = None,
) -> dict:
    """ONE maintenance tick of a stored dedup index. Drift metric:
    the accumulated delta ROWS as a fraction of the base
    ``content_hashes`` rows (one row per doc) — when the ingested
    tail reaches ``rebuild_rows_over`` × base, the sharding the base
    was sized for no longer fits the corpus and the index REBUILDS
    over ``corpus`` (the raw docs of base ∪ every ingested batch —
    the index stores hashes, not text, so the caller supplies them);
    else COMPACT at ``compact_after`` committed deltas; else HOLD.
    ``rebuild_rows_over=None`` disables the rebuild arm (compaction
    keeps the layout probe-optimal indefinitely; per-doc MinHash
    signatures are corpus-independent, so unlike the ANN index there
    is no quantization drift forcing retrains).

    Deletion drift (VERDICT r14 item 2): the retraction verb
    (``delete_from_dedup_index``) records cumulative per-table
    ``rows_deleted`` counters in ``_META.json`` — row counts alone
    never see deletions (the deleted rows are physically gone), so a
    retraction-heavy layout would otherwise accumulate near-empty
    partitions and stale sharding with no trip wire. When the
    content-hash rows deleted since the last rebuild reach
    ``rebuild_deleted_over`` × the CURRENT base+delta rows, the tick
    REBUILDS (same ``corpus`` contract); a rebuild writes fresh
    metadata and thereby resets the counter. Boundary: the arm fires
    AT the exact threshold (``>=``) — the contract both deletion-
    drift arms share (ADVICE r15).

    Returns ``decision``, ``n_deltas``, ``base_rows``,
    ``delta_rows``, ``rows_deleted``, ``deltas_remaining``."""
    from .dedup import write_dedup_index
    from .cow import resume_pending_cow

    resume_pending_cow(spark, path)  # see maintain_ann_index
    layout = store.open_layout(
        spark, path, "dedup index", "write_dedup_index"
    )
    meta, batches = layout.meta, layout.batches
    base_rows, delta_rows = _delta_base_rows(
        spark, layout, "content_hashes", "hashes_schema"
    )
    rows_deleted = int(
        meta.get("rows_deleted", {}).get("content_hashes", 0)
    )
    live_rows = base_rows + delta_rows
    deletion_drift = rebuild_deleted_over is not None and (
        rows_deleted >= rebuild_deleted_over * live_rows
        if live_rows > 0
        else rows_deleted > 0
    )
    # base_rows == 0 is the documented bootstrap shape (empty base,
    # day batches as deltas): the ratio against 0 would trip on an
    # idle empty layout (0 >= 0), so the bootstrap trigger is simply
    # "anything ingested" — all rows living in deltas IS maximal
    # drift (round-14 review).
    if deletion_drift or (
        rebuild_rows_over is not None
        and (
            delta_rows >= rebuild_rows_over * base_rows
            if base_rows > 0
            else delta_rows > 0
        )
    ):
        if corpus is None:
            raise ValueError(
                "maintain_dedup_index: a rebuild arm triggered "
                f"(delta_rows={delta_rows}, rows_deleted="
                f"{rows_deleted}, base_rows={base_rows}) but no "
                "corpus was supplied — the index stores hashes, not "
                "text; pass the raw docs of base ∪ ingested batches "
                "minus retracted ids"
            )
        decision = "rebuild"
        write_dedup_index(
            corpus,
            path,
            n_shards=int(meta["n_shards"]),
            id_col=id_col,
            text_col=text_col,
            num_hashes=int(meta["num_hashes"]),
            bands=int(meta["bands"]),
            shingle_k=int(meta["shingle_k"]),
            mode=meta["mode"],
        )
    elif len(batches) >= compact_after:
        decision = "compact"
        compact_dedup_index(spark, path)
    else:
        decision = "hold"
    return {
        "decision": decision,
        "n_deltas": len(batches),
        "base_rows": base_rows,
        "delta_rows": delta_rows,
        "rows_deleted": rows_deleted,
        "deltas_remaining": len(store.committed_delta_batches(spark, path)),
    }


@maintainer_verb
def maintain_scd2_feed(
    spark: SparkSession,
    path: str,
    rebuild_rows_per_shard: int | None = None,
    compact_after: int = 2,
    rebuild_deleted_over: float | None = None,
) -> dict:
    """ONE maintenance tick of a keyed SCD2 feed layout. Drift
    metric: TOTAL feed rows (base + committed deltas) per shard —
    when it crosses ``rebuild_rows_per_shard`` the layout REBUILDS
    from its own read-back with DOUBLED shards (the re-shard trigger:
    HRW assignment means growing n_shards only moves ~1/n of the
    rows, and the feed is self-contained — base ∪ deltas IS the raw
    feed, so no external corpus is needed, unlike the index
    rebuilds); else COMPACT at ``compact_after`` committed deltas;
    else HOLD. ``rebuild_rows_per_shard=None`` disables the
    rebuild arm.

    Deletion drift (VERDICT r14 item 2): rows-per-shard never SEES
    deletions — a delete-heavy feed erodes toward near-empty
    partitions with no trip wire. The erasure verb records cumulative
    ``rows_deleted`` in ``_META.json``; when it crosses
    ``rebuild_deleted_over`` × the CURRENT total rows (fires AT the
    exact threshold, ``>=`` — the shared deletion-drift boundary
    contract, ADVICE r15), the tick
    REBUILDS from its own read-back at the SAME shard count (an
    erosion rebuild reclaims stranded partitions and resets the
    counter — the corpus shrank, so doubling would be exactly wrong;
    when BOTH arms trigger, the growth arm wins and doubles).

    Returns ``decision``, ``n_deltas``, ``total_rows``,
    ``rows_deleted``, ``n_shards_before`` / ``n_shards_after``,
    ``deltas_remaining``."""
    from .cow import resume_pending_cow
    from .scd import read_scd2_feed, write_scd2_feed

    resume_pending_cow(spark, path)  # see maintain_ann_index
    layout = store.open_layout(
        spark, path, "scd2 feed layout", "write_scd2_feed"
    )
    meta, batches = layout.meta, layout.batches
    n_shards = int(meta["n_shards"])
    base_rows, delta_rows = _delta_base_rows(
        spark, layout, "feed_rows", "feed_schema"
    )
    total_rows = base_rows + delta_rows
    rows_deleted = int(meta.get("rows_deleted", {}).get("feed_rows", 0))
    n_shards_after = n_shards
    grew = (
        rebuild_rows_per_shard is not None
        and total_rows > rebuild_rows_per_shard * n_shards
    )
    # Boundary contract (ADVICE r15, standardized across both
    # deletion-drift arms): the erosion rebuild fires AT the exact
    # threshold — rows_deleted >= rebuild_deleted_over * live rows —
    # matching maintain_dedup_index's comparison, so a verb/oracle
    # pair replaying either arm agrees at exact-threshold inputs.
    eroded = rebuild_deleted_over is not None and (
        rows_deleted >= rebuild_deleted_over * total_rows
        if total_rows > 0
        else rows_deleted > 0
    )
    if grew or eroded:
        decision = "rebuild"
        if grew:
            n_shards_after = n_shards * 2
        feed, _ = read_scd2_feed(spark, path)
        # The staged rebuild consumes this lazy read fully while the
        # old base + deltas are still on disk; only the metadata-ops
        # commit phase then swaps them out.
        write_scd2_feed(
            feed,
            path,
            meta["key_col"],
            meta["ts_col"],
            meta["value_col"],
            n_shards=n_shards_after,
        )
    elif len(batches) >= compact_after:
        decision = "compact"
        compact_scd2_feed(spark, path)
    else:
        decision = "hold"
    return {
        "decision": decision,
        "n_deltas": len(batches),
        "total_rows": total_rows,
        "rows_deleted": rows_deleted,
        "n_shards_before": n_shards,
        "n_shards_after": n_shards_after,
        "deltas_remaining": len(store.committed_delta_batches(spark, path)),
    }


#: maintain_layout family dispatch: _META.json's ``family`` field
#: (written by every layout writer since round 15) → the family verb.
#: Pre-round-15 layouts are sniffed from their distinctive metadata
#: keys instead.
_FAMILY_SNIFF = (
    ("ann_index", "cell_col"),
    ("dedup_index", "bands"),
    ("scd2_feed", "value_col"),
    ("scd2_history", "history_schema"),
)


def layout_family(meta: dict) -> str:
    """The stored layout family of a ``_META.json`` dict."""
    fam = meta.get("family")
    if fam:
        return fam
    for fam, key in _FAMILY_SNIFF:
        if key in meta:
            return fam
    raise ValueError(
        "maintain_layout: _META.json names no family and matches no "
        "known layout shape — not a layout this build wrote"
    )


@maintainer_verb
def maintain_layout(
    spark: SparkSession,
    path: str,
    ann: dict | None = None,
    dedup: dict | None = None,
    feed: dict | None = None,
    vacuum_after: bool = True,
) -> dict:
    """ONE umbrella maintenance tick (VERDICT r14 item 6): dispatch
    hold / compact / rebuild from the layout's own ``_META.json``
    family, then (by default) vacuum the physical garbage the tick
    can reclaim — so the nightly loop is ONE call per layout path
    instead of caller-picked family verbs.

    ``ann`` / ``dedup`` / ``feed`` are the keyword arguments of the
    matching family verb (:func:`maintain_ann_index` needs at least
    ``queries`` / ``vectors`` / ``rebuild_below``); the families not
    on this path's layout are ignored. The ``scd2_history`` family
    has no delta lifecycle (it is COW-maintained), so its tick is
    hold + vacuum; retention (``expire_scd2_history``) stays an
    explicit POLICY verb — an umbrella must never delete visible
    rows by default.

    Vacuum ordering: AFTER the family verb — a compact just retired
    its folded deltas' markers, and the sweep then reclaims crashed
    staging/orphans in the same window the single-maintainer contract
    already reserves. Returns the family verb's decision row plus
    ``family`` and the flattened ``vacuum_*`` accounting columns."""
    from .cow import resume_pending_cow
    from .vacuum import vacuum_layout

    # Resume BEFORE the marker check (ADVICE r15, medium): a COW
    # deletion/expiry commit that crashed mid-commit left the layout
    # marker-less with a pending _COW_MANIFEST — exactly the state
    # require_layout_meta refuses. The per-family verbs resume first
    # and self-heal; the umbrella must too, or the one family it
    # maintains solely via COW verbs (scd2_history, whose tick below
    # never calls a resuming verb) is the one it cannot recover.
    resume_pending_cow(spark, path)
    meta = store.require_layout_meta(
        spark, path, "stored layout", "a layout writer"
    )
    fam = layout_family(meta)
    if fam == "ann_index":
        if not ann:
            raise ValueError(
                "maintain_layout: ANN layout needs ann={queries, "
                "vectors, rebuild_below, ...}"
            )
        row = maintain_ann_index(spark, path, **ann)
    elif fam == "dedup_index":
        row = maintain_dedup_index(spark, path, **(dedup or {}))
    elif fam == "scd2_feed":
        row = maintain_scd2_feed(spark, path, **(feed or {}))
    else:  # scd2_history
        row = {"decision": "hold", "n_deltas": 0, "deltas_remaining": 0}
    out = {"family": fam, **row}
    if vacuum_after:
        v = vacuum_layout(spark, path, f"{fam} layout")
        out.update({f"vacuum_{k}": val for k, val in v.items()})
    return out


__all__ = [
    "ann_recall_at_k",
    "layout_family",
    "maintain_ann_index",
    "maintain_dedup_index",
    "maintain_layout",
    "maintain_scd2_feed",
    "referee_sample_pred",
]
