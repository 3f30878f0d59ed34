"""Targeted deletion (retraction) from stored layouts — the
right-to-be-forgotten verb. A licensing takedown, a GDPR erasure or a
poisoned-document purge cannot rebuild a 100 TB corpus per request;
these verbs remove the named ids' rows COPY-ON-WRITE from a stored
layout — base AND every committed delta — rewriting only the
partitions that actually hold the ids' rows:

- :func:`delete_from_dedup_index` — drop ``doc_ids`` from
  ``content_hashes`` + ``band_rows``. Both tables shard by HRW of a
  CONTENT key (hash / band:key), not the doc id, so touched shards
  are found by one column-pruned id scan per table (the doc_id
  column only — parquet reads nothing else), then rewritten.
- :func:`delete_from_ann_index` — drop ``vec_ids`` from the
  ``codes`` table (base + deltas). Cells are distance-assigned, so
  the touched-cell set again comes from an id-column scan. The
  codebook / coarse centroids are untouched (they are statistics of
  the training corpus, not per-row state; the recall-drift contract
  already prices training-set divergence — a deletion-heavy layout
  retrains via the maintenance loop's rebuild arm).
- :func:`delete_scd2_feed_keys` — drop all of ``keys``' rows from a
  feed layout. The feed shards BY the key, so the touched-shard set
  is computed from the keys alone (static HRW pruning — no scan at
  all); only those shard directories are read or written.
- :func:`delete_scd2_history_keys` — the feed verb's twin over the
  PERSISTED history layout, the one a serving deployment reads: same
  static HRW pruning from the keys alone, one ``history_rows``
  directory (the history is COW-maintained — no deltas to reach).
  Whole-key erasure commutes with the per-key SCD2 window, so the
  post-delete layout equals the full rebuild over the surviving keys
  (the gate hashes exactly that).

Shared discipline (:func:`_stage_delete`): per table, find touched
partitions in one scan over every owner (bounded driver collect,
≤ n_shards / #cells), stage the base view's kept rows as each touched
partition's next version and each live batch's as a fresh owner of
that batch — so the base view a retry probes still leaves the batch
out, and the retry still replaces all its rows — then publish one
manifest for every table (``operators.store``'s partition rewrite).
Untouched partitions are never read and never written (their part
files stay byte-identical). A partition whose every row was deleted
is dropped, including the NULL default partition.

Deletion accounting: every commit's manifest carries the layout
metadata with cumulative per-table ``rows_deleted`` counters — the
signal the maintenance loop's deletion-drift arm reads — so the
counters land atomically with the rows; a full rebuild writes fresh
metadata and thereby resets them.

Crash contract: the layout stays readable throughout, and a crash
before the publish leaves the old snapshot current; re-running the
same delete is idempotent (already-removed rows match nothing). The
pre-erasure snapshot stays readable for time travel until vacuum.

Replay caveat (by design): an ingest of batch N retried AFTER a
delete replaces batch N's rows with the replayed ones, resurrecting
deleted ids the batch held — sequence deletes after ingest settles,
or re-issue the delete. A batch re-committed while a delete stages
fails the delete's publish; re-run the delete.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store
from .lease import maintainer_verb


def _stage_delete(
    spark: SparkSession,
    layout: store.Layout,
    table: str,
    schema_key: str,
    ids: DataFrame,
    id_col: str,
    partition_col: str,
    sort_cols: tuple[str, ...] = (),
    touched_hint: list | None = None,
) -> tuple[list[dict], int, int]:
    """Stage the copy-on-write delete of ``ids``' rows from one table:
    returns (manifest jobs, rows_deleted, partitions_touched). Nothing
    a reader lists is modified here. ``touched_hint`` prunes the
    discovery scan to the partitions the caller bounded from the ids
    alone (the key-sharded feed/history)."""
    rows = store.open_table(spark, layout, table, schema_key)
    bids = F.broadcast(ids.select(id_col).distinct())
    scope = (
        rows.where(store.partition_filter(partition_col, touched_hint))
        if touched_hint is not None
        else rows
    )
    # One column-pruned pass: only (id, partition) columns decode, and
    # ONE job yields both the touched partitions and the deleted-row
    # count (every deleted row lives in a touched partition).
    per_part = (
        scope.join(bids, id_col, "left_semi")
        .groupBy(partition_col)
        .count()
        .collect()
    )
    touched = [r[0] for r in per_part]
    if not touched:
        return [], 0, 0
    n_del = int(sum(r[1] for r in per_part))
    jobs = []
    for batch, view in store.batch_views(
        spark, layout, table, schema_key, partition_col, touched
    ):
        keep = view.where(store.partition_filter(partition_col, touched))
        jobs.append(
            store.stage_rewrite(
                spark, layout, table, keep.join(bids, id_col, "left_anti"),
                partition_col, touched, sort_cols, batch,
            )
        )
    return jobs, n_del, len(touched)


@maintainer_verb
def _run_delete(
    spark: SparkSession,
    path: str,
    layout: store.Layout,
    jobs: list[tuple[str, str, DataFrame, str, str, tuple, list | None]],
) -> dict:
    """Stage every job, then publish one manifest that also carries
    the cumulative deletion accounting. Jobs are (table, schema_key,
    ids, id_col, partition_col, sort_cols, touched_hint).
    A no-match delete publishes nothing. A second concurrent
    maintainer is refused loudly mid-stage."""
    staged: list[dict] = []
    partitions = 0
    per_table: dict[str, int] = {}
    for table, schema_key, ids, id_col, pcol, sort_cols, hint in jobs:
        table_jobs, n, p = _stage_delete(
            spark, layout, table, schema_key, ids, id_col, pcol, sort_cols,
            hint,
        )
        staged += table_jobs
        partitions += p
        if n:
            per_table[table] = per_table.get(table, 0) + n
    if not staged:
        return {"rows_deleted": 0, "partitions_rewritten": 0}
    meta = layout.meta
    acc = dict(meta.get("rows_deleted", {}))
    for table, n in per_table.items():
        acc[table] = int(acc.get(table, 0)) + n
    store.commit_rewrite(spark, layout, staged, {**meta, "rows_deleted": acc})
    return {
        "rows_deleted": sum(per_table.values()),
        "partitions_rewritten": partitions,
    }


def delete_from_dedup_index(
    spark: SparkSession,
    path: str,
    doc_ids: DataFrame,
    id_col: str = "doc_id",
) -> dict:
    """Remove ``doc_ids``' rows from a stored dedup index — base and
    every committed delta, both tables — so later probes no longer
    match against the retracted docs (the gate pins the flag flips).
    Returns ``{"rows_deleted", "partitions_rewritten"}`` summed over
    content_hashes + band_rows."""
    layout = store.open_layout(
        spark, path, "dedup index", "write_dedup_index"
    )
    with _pinned_ids(doc_ids, id_col) as doc_ids:
        jobs = [
            (table, schema_key, doc_ids, id_col, "shard", (), None)
            for table, schema_key in (
                ("content_hashes", "hashes_schema"),
                ("band_rows", "bands_schema"),
            )
        ]
        return _run_delete(spark, path, layout, jobs)


def delete_from_ann_index(
    spark: SparkSession,
    path: str,
    vec_ids: DataFrame,
    id_col: str = "vec_id",
) -> dict:
    """Remove ``vec_ids``' code rows from a stored IVF-PQ index —
    base and every committed delta. Codebook and coarse centroids
    stay (training statistics, not per-row state); a deletion-heavy
    layout retrains through the maintenance loop's rebuild arm (its
    measured recall SEES deletions, unlike row counters)."""
    layout = store.open_layout(spark, path, "ANN index", "write_ann_index")
    cell_col = layout.meta.get("cell_col")
    if not cell_col:
        raise ValueError(
            f"ANN index at {path!r}: _META.json records no cell_col — "
            "rebuild with write_ann_index before deleting"
        )
    with _pinned_ids(vec_ids, id_col) as vec_ids:
        jobs = [("codes", "codes_schema", vec_ids, id_col, cell_col, (), None)]
        return _run_delete(spark, path, layout, jobs)


@contextmanager
def _pinned_ids(ids: DataFrame, id_col: str) -> Iterator[DataFrame]:
    """The request's distinct ids, materialized once for the verb and
    unpinned when it exits: each staged copy re-executes the ids plan,
    which for a computed id set (a corpus-wide twin join) would
    dominate the delete."""
    pinned = ids.select(id_col).distinct().localCheckpoint(eager=True)
    try:
        yield pinned
    finally:
        pinned._jdf.queryExecution().analyzed().rdd().unpersist(False)


@contextmanager
def _erasure_keys(
    keys: DataFrame, key_col: str, verb: str
) -> Iterator[DataFrame]:
    """Validated, pinned erasure-request keys. NULL keys are REFUSED:
    a NULL in the request would silently match nothing through the
    anti-join's three-valued logic, and an erasure that silently
    no-ops is worse than one that fails loudly."""
    with _pinned_ids(keys, key_col) as keys:
        if keys.where(F.col(key_col).isNull()).count() > 0:
            raise ValueError(
                f"{verb}: the erasure request contains a NULL {key_col!r} "
                "— NULL never equals anything, so its rows cannot be "
                "matched by key; drop the NULL from the request (null-key "
                "rows can only be retired by a filtered rebuild)"
            )
        yield keys


def _hrw_touched_shards(
    keys: DataFrame, key_col: str, n_shards: int
) -> list:
    """The candidate shard set from the keys alone — static HRW
    pruning, no layout scan. Bounded driver collect (≤ |keys|,
    itself an erasure request)."""
    from .scd import _feed_shard

    return sorted(
        r[0]
        for r in keys.withColumn(
            "shard", _feed_shard(F.col(key_col), n_shards)
        )
        .select("shard")
        .distinct()
        .collect()
    )


def delete_scd2_feed_keys(
    spark: SparkSession, path: str, keys: DataFrame
) -> dict:
    """Remove every row of ``keys`` from a stored SCD2 feed — base
    and every committed daily delta. The feed shards BY the key, so
    the candidate-shard set comes from the keys alone (static HRW
    pruning): a handful of erasure requests against a 100 TB feed
    reads only the shards those keys live in, across every owner of
    those shards."""
    layout = store.open_layout(
        spark, path, "scd2 feed layout", "write_scd2_feed"
    )
    meta = layout.meta
    key_col = meta["key_col"]
    with _erasure_keys(keys, key_col, "delete_scd2_feed_keys") as keys:
        touched = _hrw_touched_shards(keys, key_col, int(meta["n_shards"]))
        jobs = [
            (
                "feed_rows",
                "feed_schema",
                keys,
                key_col,
                "shard",
                (key_col, meta["ts_col"]),
                touched,
            )
        ]
        return _run_delete(spark, path, layout, jobs)


def delete_scd2_history_keys(
    spark: SparkSession, path: str, keys: DataFrame
) -> dict:
    """Remove every row of ``keys`` from a stored SCD2 HISTORY layout
    (``write_scd2_history`` / ``scd2_refresh_in_place``'s), the layout
    a deployment serves. Whole-key erasure commutes with the per-key
    SCD2 window, so the result equals the full rebuild over the
    surviving keys with no window recomputation. Same static HRW
    pruning as the feed twin; the history has no deltas to reach.
    Returns ``{"rows_deleted", "partitions_rewritten"}``."""
    layout = store.open_layout(
        spark, path, "scd2 history layout", "write_scd2_history"
    )
    meta = layout.meta
    key_col = meta["key_col"]
    with _erasure_keys(keys, key_col, "delete_scd2_history_keys") as keys:
        touched = _hrw_touched_shards(keys, key_col, int(meta["n_shards"]))
        jobs = [
            (
                "history_rows",
                "history_schema",
                keys,
                key_col,
                "shard",
                (key_col, "effective_from_us"),
                touched,
            )
        ]
        return _run_delete(spark, path, layout, jobs)


__all__ = [
    "delete_from_ann_index",
    "delete_from_dedup_index",
    "delete_scd2_feed_keys",
    "delete_scd2_history_keys",
]
