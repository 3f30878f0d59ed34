"""Targeted deletion (retraction) from stored layouts — the
right-to-be-forgotten verb (rounds 14-15, beyond-reference extension).

A 100 TB corpus gets retraction requests: a licensing takedown, a
GDPR erasure, a poisoned-document purge. Rebuilding the world per
request is the one answer that cannot work; these verbs remove the
named ids' rows COPY-ON-WRITE from a stored layout — base AND every
committed delta — rewriting only the partitions that actually hold
the ids' rows:

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
- :func:`delete_scd2_history_keys` (round 15, VERDICT r14 item 1) —
  the feed verb's twin over the PERSISTED history layout, the thing
  a serving deployment actually reads: same static HRW pruning from
  the keys alone (``write_scd2_history`` shards by HRW(key)), one
  ``history_rows`` directory (the history is COW-maintained — no
  deltas to reach). Whole-key erasure commutes with the per-key SCD2
  window, so the post-delete layout equals the full rebuild over the
  surviving keys (the gate hashes exactly that).

Shared discipline (:func:`_stage_delete`): per table directory, find
touched partitions (bounded driver collect, ≤ n_shards / #cells),
stage the kept rows into the directory's next version, then publish
one manifest for every directory (``operators.store``'s partition
rewrite). Untouched partitions are never read and never written —
their part files stay byte-identical (tests pin this). A partition
whose every row was deleted is dropped, including the NULL default
partition (its bystander rows re-stage).

Deletion accounting: every commit's manifest carries the layout
metadata with cumulative per-table ``rows_deleted`` counters — the
signal the maintenance loop's deletion-drift arm reads — so the
counters land atomically with the rows; a full rebuild writes fresh
metadata and thereby resets them.

Crash contract: the layout stays readable throughout, and a crash
before the publish leaves the old snapshot current; re-running the
same delete is idempotent (already-removed rows match nothing). The
pre-erasure snapshot stays readable for time travel until vacuum.

Replay caveat (documented, by design): a crashed INGEST of batch N
replayed AFTER a delete of ids that rode in batch N resurrects them
— sequence deletes after ingest settles (the single-maintainer
window), or re-issue the delete; the verb is idempotent and cheap.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store
from .lease import maintainer_verb


def _table_rels(layout: store.Layout, table: str) -> list[str]:
    """The base table + every COMMITTED delta of ``table``."""
    return [table] + [store.delta_dir(table, b) for b in layout.batches]


def _stage_delete(
    spark: SparkSession,
    layout: store.Layout,
    rel: str,
    schema_key: str,
    ids: DataFrame,
    id_col: str,
    partition_col: str,
    sort_cols: tuple[str, ...] = (),
    touched_hint: list | None = None,
) -> tuple[dict | None, int, int]:
    """Stage the copy-on-write delete of ``ids``' rows from one table
    directory: returns (manifest job | None, rows_deleted,
    partitions_touched). Nothing a reader lists is modified here.
    ``touched_hint`` statically prunes the discovery scan when the
    caller can bound the partition set from the ids alone (the
    key-sharded feed/history) — the scan then reads only those
    partitions; the per-directory refinement keeps the rewrite and
    the accounting exact."""
    rows = store.open_table(spark, layout, [rel], schema_key)
    bids = F.broadcast(ids.select(id_col).distinct())
    scope = (
        rows.where(store.partition_filter(partition_col, touched_hint))
        if touched_hint is not None
        else rows
    )
    # One column-pruned pass: only (id, partition) columns decode —
    # and ONE job yields both the touched-partition set and the
    # deleted-row count (previously two scans of the slice; every
    # deleted row lives in a touched partition by definition, so the
    # per-partition counts carry both answers — guide §2.4, fewer
    # jobs per lifecycle verb).
    per_part = (
        scope.join(bids, id_col, "left_semi")
        .groupBy(partition_col)
        .count()
        .collect()
    )
    touched = [r[0] for r in per_part]
    if not touched:
        return None, 0, 0
    n_del = int(sum(r[1] for r in per_part))
    slice_ = rows.where(store.partition_filter(partition_col, touched))
    keep = slice_.join(bids, id_col, "left_anti")
    job = store.stage_rewrite(
        spark, layout, rel, keep, partition_col, touched, sort_cols
    )
    return job, n_del, len(touched)


@maintainer_verb
def _run_delete(
    spark: SparkSession,
    path: str,
    layout: store.Layout,
    jobs: list[tuple[str, str, str, DataFrame, str, str, tuple, list | None]],
) -> dict:
    """Stage every job, then publish one manifest that also carries
    the cumulative deletion accounting. Jobs are (table, rel,
    schema_key, ids, id_col, partition_col, sort_cols, touched_hint).
    A no-match delete publishes nothing. A second concurrent
    maintainer is refused loudly mid-stage."""
    staged: list[dict] = []
    rows_deleted = 0
    partitions = 0
    per_table: dict[str, int] = {}
    for table, rel, schema_key, ids, id_col, pcol, sort_cols, hint in jobs:
        job, n, p = _stage_delete(
            spark, layout, rel, schema_key, ids, id_col, pcol, sort_cols,
            hint,
        )
        if job is None:
            continue
        staged.append(job)
        rows_deleted += n
        partitions += p
        per_table[table] = per_table.get(table, 0) + n
    if not staged:
        return {"rows_deleted": 0, "partitions_rewritten": 0}
    meta = layout.meta
    acc = dict(meta.get("rows_deleted", {}))
    for table, n in per_table.items():
        acc[table] = int(acc.get(table, 0)) + n
    store.commit_rewrite(spark, layout, staged, {**meta, "rows_deleted": acc})
    return {
        "rows_deleted": rows_deleted,
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
            (table, rel, schema_key, doc_ids, id_col, "shard", (), None)
            for table, schema_key in (
                ("content_hashes", "hashes_schema"),
                ("band_rows", "bands_schema"),
            )
            for rel in _table_rels(layout, table)
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
        jobs = [
            ("codes", rel, "codes_schema", vec_ids, id_col, cell_col, (), None)
            for rel in _table_rels(layout, "codes")
        ]
        return _run_delete(spark, path, layout, jobs)


@contextmanager
def _pinned_ids(ids: DataFrame, id_col: str) -> Iterator[DataFrame]:
    """The request's distinct ids, materialized once for the verb and
    unpinned when it exits. Every (table × directory) job re-executes
    the ids plan 3-4 times (discovery, count, keep, stage) — for a
    computed id set (the retraction gate's corpus-wide twin join) that
    re-run would dominate the delete (round-14 review)."""
    pinned = ids.select(id_col).distinct().localCheckpoint(eager=True)
    try:
        yield pinned
    finally:
        pinned._jdf.queryExecution().analyzed().rdd().unpersist(False)


@contextmanager
def _erasure_keys(
    keys: DataFrame, key_col: str, verb: str
) -> Iterator[DataFrame]:
    """Validated, pinned erasure-request keys. NULL keys are
    REFUSED (ADVICE r14): a null-key row lands in the
    __HIVE_DEFAULT_PARTITION__ directory like any other, but a NULL
    in the request would silently match nothing through the
    anti-join's three-valued logic — an erasure request that silently
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
    reads only the shards those keys live in, in every directory
    generation."""
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
                rel,
                "feed_schema",
                keys,
                key_col,
                "shard",
                (key_col, meta["ts_col"]),
                touched,
            )
            for rel in _table_rels(layout, "feed_rows")
        ]
        return _run_delete(spark, path, layout, jobs)


def delete_scd2_history_keys(
    spark: SparkSession, path: str, keys: DataFrame
) -> dict:
    """Remove every row of ``keys`` from a stored SCD2 HISTORY layout
    (``write_scd2_history`` / ``scd2_refresh_in_place``'s) — the
    serving-side half of the erasure story (VERDICT r14 item 1: the
    feed verb alone left the layout a deployment actually reads
    holding the erased keys' versions). Whole-key erasure commutes
    with the per-key SCD2 window, so the result equals the full
    rebuild over the surviving keys — no window recomputation needed,
    just the partition rewrite.

    Same static HRW pruning as the feed twin (the layout shards by
    HRW(key)); one ``history_rows`` directory — the history is
    maintained copy-on-write, so there are no deltas to reach.
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
