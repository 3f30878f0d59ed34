"""Delta compaction for the three delta-bearing stored layouts: the
dedup index (``content_hashes`` / ``band_rows``), the ANN index
(``codes``) and the SCD2 feed (``feed_rows``) grow one delta owner
directory per ingest in each partition the batch touched. A 100 TB
pipeline cannot retrain the world to reclaim a year of daily deltas;
it folds them into the base partitions.

Compaction here is a pure partition-wise merge — NO retraining, NO
re-windowing: every delta row already carries the partition value the
base layout shards by (HRW shard for dedup/feed rows, frozen-centroid
IVF cell for ANN codes — all assigned at ingest time with the
layout's own ``_META.json`` params), so folding batch N's rows into
the base is exactly ``base[touched partitions] ∪ deltas`` rewritten
per partition. Untouched base partitions are never read and never
written — their part files stay byte-identical (tests pin this).

Protocol (shared engine, :func:`_compact_layout`): per table, the
partitions holding a live delta come from the snapshot's owner map
(no Spark job), every owner of those partitions is read as one scan
and staged as the partition's next version with the base writer's own
one-file-per-partition discipline; then one manifest replaces the
opened owners by the new versions and marks the batches folded
(``operators.store``'s partition rewrite), and :func:`store.retire`
deletes the superseded copies and the folded delta dirs.
The layout stays readable throughout: a reader sees either base ∪
deltas or the folded base, never both and never neither, and a crash
at any point is recovered by re-running the call (or by vacuum, for
a retire cut short).

Concurrency contract: compaction assumes a SINGLE MAINTAINER (the
lease enforces it). Concurrent INGEST is the one interleave that is
supported and proven: a ``refresh_*`` delta landing at any point
during compaction survives, because the commit replaces only the
owners compaction opened and folds only the batches it read — a
delta committed after the open stays live, and retire never deletes
a delta dir no snapshot named yet
(the ``on_staged`` hook exists so tests and the
``compaction_ingest_interleave`` gate can land a delta between stage
and publish and hash the post-state). A compaction racing a base
REBUILD is NOT supported — serialize maintenance.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import SparkSession

from . import store
from .lease import maintainer_verb


class _TableSpec(NamedTuple):
    table: str  # table directory name
    partition_col: str
    sort_cols: tuple[str, ...]  # () = keep the writer's plain layout
    schema_key: str  # _META.json key holding the table schema


@maintainer_verb
def _compact_layout(
    spark: SparkSession,
    path: str,
    what: str,
    writer_name: str,
    specs_of: Callable[[store.Layout], list[_TableSpec]],
    on_staged=None,
) -> dict:
    """Shared engine — see the module docstring for the protocol.
    ``specs_of`` maps the opened layout to the tables to fold.
    Returns a summary dict: ``n_deltas_folded``, ``batch_ids`` and
    ``touched_partitions`` per table.

    ``on_staged`` (None in production) is called between stage and
    publish — the widest concurrent-ingest window. Tests and the
    interleave gate use it to land a delta mid-compaction (the
    manifest folds exactly the batches opened here, so the injected
    delta must stay live) or to raise and simulate a crash."""
    from .snapshot import parse_partition_value

    layout = store.open_layout(spark, path, what, writer_name)
    specs = specs_of(layout)
    committed = layout.batches
    touched_values: dict[str, list] = {s.table: [] for s in specs}
    if not committed:
        return {
            "n_deltas_folded": 0,
            "batch_ids": [],
            "touched_partitions": touched_values,
        }
    jobs = []
    for spec in specs:
        touched = sorted(
            (
                parse_partition_value(part)
                for part, owners in layout.snap["tables"][spec.table].items()
                if any(o.startswith(store.DELTA_DIR_PREFIX) for o in owners)
            ),
            key=lambda v: (v is None, v),
        )
        touched_values[spec.table] = touched
        if not touched:
            # Every delta of this table was a zero-row day: nothing
            # to merge; the fold only marks the batches folded.
            continue
        merged = store.open_table(
            spark, layout, spec.table, spec.schema_key
        ).where(store.partition_filter(spec.partition_col, touched))
        jobs.append(
            store.stage_rewrite(
                spark, layout, spec.table, merged, spec.partition_col,
                touched, spec.sort_cols,
            )
        )
    if on_staged is not None:
        on_staged()
    store.commit_rewrite(spark, layout, jobs, fold=committed)
    store.retire(spark, path)
    return {
        "n_deltas_folded": len(committed),
        "batch_ids": committed,
        "touched_partitions": touched_values,
    }


def compact_dedup_index(
    spark: SparkSession, path: str, on_staged=None
) -> dict:
    """Fold every committed ingest delta of a ``write_dedup_index``
    layout into its base tables — partition-wise, no re-hashing, no
    re-shingling (delta rows were sharded at ingest time with the
    layout's own HRW params, so the merge is a pure union per touched
    shard). After a successful compaction the layout is
    indistinguishable from one whose base was written over the grown
    corpus: ``read_dedup_index`` returns the identical row set, probes
    prune identically, and the per-ingest union fan-in (a year of
    daily deltas = 365 extra scans per probe) is gone."""
    return _compact_layout(
        spark,
        path,
        "dedup index",
        "write_dedup_index",
        lambda layout: [
            _TableSpec("content_hashes", "shard", (), "hashes_schema"),
            _TableSpec("band_rows", "shard", (), "bands_schema"),
        ],
        on_staged=on_staged,
    )


def _ann_specs(layout: store.Layout) -> list[_TableSpec]:
    cell_col = layout.meta.get("cell_col")
    if not cell_col:
        raise ValueError(
            f"ANN index at {layout.path!r}: _META.json records no "
            "cell_col — compacting with a guessed partition column "
            "would fold codes into the wrong directories; rebuild "
            "with write_ann_index"
        )
    return [_TableSpec("codes", cell_col, (), "codes_schema")]


def compact_ann_index(
    spark: SparkSession, path: str, on_staged=None
) -> dict:
    """Fold every committed ingest delta of a ``write_ann_index``
    layout into the base ``codes`` table — partition-wise per IVF
    cell, codebook and coarse centroids untouched (they are frozen
    between REBUILDS by the recall-drift contract; compaction is
    maintenance of the code layout, not retraining, so it does NOT
    reset ``ann_delta_recall``'s drift accounting — see
    ``write_ann_index`` for the retrain path)."""
    return _compact_layout(
        spark, path, "ANN index", "write_ann_index", _ann_specs,
        on_staged=on_staged,
    )


def compact_scd2_feed(
    spark: SparkSession, path: str, on_staged=None
) -> dict:
    """Fold every committed daily append of a ``write_scd2_feed``
    layout into the base ``feed_rows`` table — partition-wise per HRW
    shard, preserving the writer's (key, ts) within-partition sort so
    the pruned refresh keeps decoding tight key-contiguous row
    groups. The stored history layout needs no compaction twin: it is
    maintained copy-on-write (``scd2_refresh_in_place``) and never
    grows deltas."""
    return _compact_layout(
        spark,
        path,
        "scd2 feed layout",
        "write_scd2_feed",
        lambda layout: [
            _TableSpec(
                "feed_rows",
                "shard",
                (layout.meta["key_col"], layout.meta["ts_col"]),
                "feed_schema",
            )
        ],
        on_staged=on_staged,
    )
