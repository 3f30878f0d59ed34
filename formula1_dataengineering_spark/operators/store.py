"""The stored-layout commit protocol — the one module that knows how
the dedup index, the ANN index and the SCD2 feed/history layouts
commit, and the names they commit under.

A layout root holds:

- ``_SUCCESS`` — the base commit marker. Public readers refuse a
  layout without it: only a crashed base rebuild leaves one, and
  re-running the writer recovers it.
- ``_META.json`` — the base writer's params and recorded table
  schemas. Probing with guessed params silently returns wrong
  answers, so every open requires it.
- ``<table>/`` — the base tables, one file per partition, and inside
  each table directory the hidden version directories
  ``__v<N>/`` that partition rewrites stage into.
- ``<table>_delta_<batch_id>/`` plus ``_DELTA_<batch_id>._SUCCESS``
  — one ingest batch and its commit marker.
- ``_MANIFEST_v<N>.json`` — published snapshots; the highest N is
  the current one.
- ``_staging/`` — a base rebuild's staged tables and metadata;
  ``.spark-staging-delta_<batch_id>/`` — a refresh's staged delta
  tables (hidden: Spark's file index never lists dot- or
  underscore-prefixed dirs); ``_MAINTAINER_LEASE.json`` — the
  maintainer lease (``operators.lease``).

**Partition rewrite** (:func:`stage_rewrite`, :func:`commit_rewrite`,
:func:`retire`) — the only way any verb rewrites partitions:
compaction, the four ``delete_*`` verbs, ``expire_scd2_history`` and
``scd2_refresh_in_place``. Each touched table directory's new
partitions are written into ``<table>/__v<N>/`` (N = current + 1),
which no reader lists. The commit point is the publish of
``_MANIFEST_v<N>.json``: a temp-file write plus a rename. The
manifest records, per table directory, which partitions version N
owns (``assign``) or empties (``dropped``), the full post-commit
layout metadata (so erasure accounting lands atomically with the
rows) and the cumulative list of batch ids a compaction folded into
the base (``folded``). Readers resolve one manifest: base partitions
the manifest does not shadow, plus each owning version directory
filtered to its partitions (``operators.snapshot``). A crash before
the rename leaves the old snapshot current and an unreferenced
version directory; a crash after it leaves the new snapshot current.
``_SUCCESS`` is never touched, so no reader is refused during
maintenance, and a snapshot resolved before a commit stays readable
after it.

- Why compaction and the in-place SCD2 refresh :func:`retire` after
  publishing and erasure and expiry do not: the first two are the
  routine daily verbs, so their superseded bytes (older manifests,
  unreferenced version dirs, shadowed base partitions, folded deltas
  and their markers) go at once; an erasure's old snapshot stays
  readable for time travel until ``vacuum_layout`` runs the same
  :func:`retire`.
- Why ingest deltas stay on markers: concurrent ingest during
  maintenance is the supported interleave. Moving batches into the
  manifest would need a compare-and-swap on the manifest name, and
  Hadoop's local-FS rename does not give one. Live batches are the
  markers minus the manifest's ``folded`` ids, so a retry of a folded
  batch is a no-op instead of a double count.

**Base swap** (:func:`stage_base` then :func:`swap_base`). The new
tables build under ``_staging/`` while the previous layout stays
fully readable. The commit window is a handful of metadata ops:
stage ``_META.json`` beside the tables, drop ``_SUCCESS``, delete
what the rebuild supersedes (the old tables with their version dirs,
every delta and marker, every manifest, dead staging and the old
metadata), rename the staged tables and then the staged metadata in,
refresh the session's file listing, touch ``_SUCCESS``. A crash
inside the window leaves a marker-less layout every reader refuses;
re-running the writer completes it. The new base supersedes all
prior ingests and rewrites, so a surviving delta or manifest would
union removed rows back in. The lease survives: the maintenance
verbs' rebuild arm calls the writers while holding it.

**Delta commit** (:func:`stage_delta` then :func:`commit_delta`).
A refresh writes its tables under the batch's hidden staging dir,
touching nothing committed. The commit drops the batch's marker,
replaces each delta directory with its staged copy, and touches the
marker last. So a failed or rejected retry of a committed batch
never loses it, and a crash inside the commit leaves the batch
invisible until the retry lands. Idempotent per (path, batch_id).

**Open** (:func:`open_layout` then :func:`open_table`). One root
listing plus one manifest read yields the snapshot, the metadata
(the manifest's, else ``_META.json``) and the live batches. A table
directory that is missing is corruption — writers always create it —
while one that exists but holds no part files is a legitimately
empty table, opened from the schema the writer recorded.

Single maintainer, as everywhere in the stored-layout family: one
process rebuilds, compacts, erases or vacuums a layout at a time
(``operators.lease`` enforces it for the maintenance verbs). All IO
goes through the Hadoop FileSystem API (``fsutil``), so the same
protocol serves local paths and cluster filesystems.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable, Iterable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil

SUCCESS = "_SUCCESS"
META = "_META.json"
STAGING = "_staging"
MANIFEST_PREFIX = "_MANIFEST_v"
VERSION_DIR_PREFIX = "__v"
#: Staging dirs of retired commit protocols: dead by definition, swept
#: by base rebuilds and by vacuum.
DEAD_STAGING = ("_compact", "_cow_staging")

_BATCH_ID = re.compile(r"[A-Za-z0-9][A-Za-z0-9._-]*")


def delta_dir(table: str, batch_id: str) -> str:
    return f"{table}_delta_{batch_id}"


def delta_marker(batch_id: str) -> str:
    return f"_DELTA_{batch_id}._SUCCESS"


def batches_in(names: Iterable[str]) -> list[str]:
    """The batch ids with a commit marker among a layout root's child
    names (folded ones included)."""
    return sorted(
        name[len("_DELTA_") : -len("._SUCCESS")]
        for name in names
        if name.startswith("_DELTA_") and name.endswith("._SUCCESS")
    )


def committed_delta_batches(spark: SparkSession, path: str) -> list[str]:
    """The live delta batch ids of a stored layout: committed and not
    yet folded into the base."""
    from . import snapshot

    names = fsutil.list_names(spark, path)
    snap = snapshot.resolve_snapshot(spark, path, snapshot.versions_in(names))
    return _live(names, snap)


def _live(names: list[str], snap: dict) -> list[str]:
    folded = set(snap.get("folded", ()))
    return [b for b in batches_in(names) if b not in folded]


def check_batch_id(verb: str, batch_id: str) -> None:
    if not _BATCH_ID.fullmatch(batch_id):
        raise ValueError(
            f"{verb}: batch_id {batch_id!r} must match "
            "[A-Za-z0-9][A-Za-z0-9._-]* — path separators or glob "
            "metacharacters would escape the layout or make the "
            "delta undiscoverable by the reader"
        )


def partition_filter(partition_col: str, values: list) -> Column:
    """Membership predicate over partition values with an explicit
    NULL arm: ``isin()`` never matches NULL (three-valued logic), so
    a NULL partition value — the ``__HIVE_DEFAULT_PARTITION__``
    directory a null-key row lands in — needs its own branch or
    null-partition rows silently escape a rewrite."""
    part = F.col(partition_col)
    non_null = [v for v in values if v is not None]
    cond = part.isin(non_null) if non_null else F.lit(False)
    if len(non_null) != len(values):
        cond = cond | part.isNull()
    return cond


def partition_dir_name(partition_col: str, value) -> str:
    """The directory name Spark's partitioned writer gives
    ``partition_col=value``. Only integers and NULL are accepted:
    every layout partitions by an int shard or cell, and any other
    type would need Hive path escaping to match the on-disk name."""
    if value is None:
        return f"{partition_col}=__HIVE_DEFAULT_PARTITION__"
    if isinstance(value, bool) or not isinstance(value, int):
        raise ValueError(
            f"partition rewrite: partition value {value!r} of column "
            f"{partition_col!r} is not an integer — deriving its "
            "directory name would need Hive path escaping; rebuild "
            "the layout with an integral partition column"
        )
    return f"{partition_col}={value}"


# -- writing ---------------------------------------------------------------


class Table(NamedTuple):
    """One table write: rows plus the writer's layout discipline."""

    df: DataFrame
    partition_col: str | None = None
    sort_cols: tuple[str, ...] = ()


def write_table(table: Table, d: str) -> None:
    """Overwrite ``d`` with ``table``'s rows. ``repartition`` before
    ``partitionBy`` gives one file per partition instead of up to
    (tasks × partitions) small files — probe wall grows with file-open
    count, not bytes. A declared sort keeps each key's rows contiguous
    (tight row-group min/max, better run-length encoding)."""
    df, pcol, sort_cols = table
    if pcol is not None:
        df = df.repartition(pcol)
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    w = df.write.mode("overwrite")
    if pcol is not None:
        w = w.partitionBy(pcol)
    w.parquet(d)


def run_concurrently(thunks: list[Callable[[], object]]) -> list:
    """Run independent Spark jobs side by side and return their
    results in order, re-raising the first failure after all have
    finished. Each thunk runs in its own ``cache_scope``: the scope
    stack is thread-local, so a ``managed_cache`` taken in a worker
    would otherwise land in the session fallback registry and outlive
    the call. A lone thunk runs inline, in the caller's thread and
    scope."""
    from concurrent.futures import ThreadPoolExecutor

    from ..caching import cache_scope

    if len(thunks) == 1:
        return [thunks[0]()]

    def scoped(fn: Callable[[], object]) -> object:
        with cache_scope():
            return fn()

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(scoped, fn) for fn in thunks]
        return [f.result() for f in futures]


def _write_all(root: str, tables: dict[str, Table]) -> None:
    run_concurrently(
        [
            lambda t=t, name=name: write_table(t, os.path.join(root, name))
            for name, t in tables.items()
        ]
    )


def stage_base(
    spark: SparkSession, path: str, tables: dict[str, Table]
) -> None:
    """Build a rebuild's tables under ``_staging/`` (cleared first —
    a crashed earlier rebuild's residue). The live layout is not
    touched."""
    staging = os.path.join(path, STAGING)
    fsutil.delete(spark, staging)
    _write_all(staging, tables)


def _superseded(name: str, tables: list[str]) -> bool:
    return (
        name in tables
        or name.startswith(tuple(f"{t}_delta_" for t in tables))
        or name.startswith(("_DELTA_", MANIFEST_PREFIX) + DEAD_STAGING)
        or name == META
    )


def swap_base(
    spark: SparkSession, path: str, tables: list[str], meta: dict
) -> None:
    """The base writers' one commit window (module docstring)."""
    staging = os.path.join(path, STAGING)
    fsutil.write_text(spark, os.path.join(staging, META), json.dumps(meta))
    fsutil.delete(spark, os.path.join(path, SUCCESS))
    for name in fsutil.list_names(spark, path):
        if _superseded(name, tables):
            fsutil.delete(spark, os.path.join(path, name))
    for name in tables + [META]:
        fsutil.rename(
            spark, os.path.join(staging, name), os.path.join(path, name)
        )
    fsutil.delete(spark, staging)
    # The swap replaced files under an already-listed path: a reader
    # opened before it must re-list, not serve deleted part files.
    spark.catalog.refreshByPath(path)
    fsutil.touch(spark, os.path.join(path, SUCCESS))


def _delta_staging(path: str, batch_id: str) -> str:
    return os.path.join(path, f".spark-staging-delta_{batch_id}")


def stage_delta(
    spark: SparkSession, path: str, batch_id: str, tables: dict[str, Table]
) -> None:
    """Write one batch's delta tables under its hidden staging dir;
    nothing committed is touched."""
    staging = _delta_staging(path, batch_id)
    fsutil.delete(spark, staging)
    _write_all(
        staging, {delta_dir(t, batch_id): tab for t, tab in tables.items()}
    )


def discard_delta(spark: SparkSession, path: str, batch_id: str) -> None:
    """Drop a staged batch that will not be committed."""
    fsutil.delete(spark, _delta_staging(path, batch_id))


def commit_delta(
    spark: SparkSession, path: str, batch_id: str, tables: list[str]
) -> None:
    """Swap a staged batch in and mark it committed (module
    docstring)."""
    staging = _delta_staging(path, batch_id)
    marker = os.path.join(path, delta_marker(batch_id))
    fsutil.delete(spark, marker)
    for t in tables:
        d = delta_dir(t, batch_id)
        fsutil.delete(spark, os.path.join(path, d))
        fsutil.rename(spark, os.path.join(staging, d), os.path.join(path, d))
    fsutil.delete(spark, staging)
    spark.catalog.refreshByPath(path)
    fsutil.touch(spark, marker)


# -- opening ---------------------------------------------------------------


class Layout(NamedTuple):
    """One resolved open: what :func:`open_table` reads against."""

    path: str
    what: str
    rebuild_hint: str
    meta: dict
    snap: dict
    batches: list[str]  # live: committed and not folded


def open_layout(
    spark: SparkSession,
    path: str,
    what: str,
    rebuild_hint: str,
    snapshot_version: int | None = None,
) -> Layout:
    """Resolve the snapshot (``snapshot_version``, else the current
    one), its metadata and live batches from one root listing. Refuses
    a layout without ``_SUCCESS`` or ``_META.json``."""
    from . import snapshot

    fsutil.validate_layout_path(path, what)
    names = fsutil.list_names(spark, path)
    if SUCCESS not in names:
        raise ValueError(
            f"{what} at {path!r} has no _SUCCESS marker "
            "(half-written or missing index)"
        )
    if META not in names:
        raise ValueError(
            f"{what} at {path!r} has no _META.json — layout "
            f"params unknown; rebuild with {rebuild_hint}"
        )
    snap = snapshot.resolve_snapshot(
        spark, path, snapshot.versions_in(names), snapshot_version
    )
    # Manifests published before they carried metadata have none.
    meta = snap.get("meta") or json.loads(
        fsutil.read_text(spark, os.path.join(path, META))
    )
    return Layout(path, what, rebuild_hint, meta, snap, _live(names, snap))


def open_for_delta(
    spark: SparkSession,
    path: str,
    verb: str,
    batch_id: str,
    what: str,
    rebuild_hint: str,
) -> Layout | None:
    """A refresher's open: validate ``batch_id`` and open the layout,
    or return None when a compaction already folded that batch into
    the base — a retry is then a no-op, never a second copy of its
    rows."""
    check_batch_id(verb, batch_id)
    layout = open_layout(spark, path, what, rebuild_hint)
    if batch_id in layout.snap.get("folded", ()):
        return None
    return layout


def open_table(
    spark: SparkSession, layout: Layout, rels: list[str], schema_key: str
) -> DataFrame:
    """The union of table directories ``rels`` (relative to the
    layout root) at the layout's snapshot.

    Each directory must exist. Directories without part files (an
    empty base, a zero-row delta day) carry no schema for parquet
    inference and are skipped; when none holds rows the result is the
    empty frame of the recorded schema. The recorded schema is also
    supplied to every read, which skips a footer-reading driver job
    per directory per open."""
    from pyspark.sql.types import StructType

    from . import snapshot

    path = layout.path
    recorded = layout.meta.get(schema_key)
    schema = StructType.fromJson(recorded) if recorded is not None else None
    frames = []
    for rel in rels:
        d = os.path.join(path, rel)
        if not fsutil.is_dir(spark, d):
            raise ValueError(
                f"{layout.what} at {path!r} is corrupt: {rel!r} is "
                "missing — the writer always creates every table "
                "directory, so this is a partial delete, not an empty "
                f"table; rebuild with {layout.rebuild_hint}"
            )
        if fsutil.has_parquet(spark, d):
            df = snapshot.snapshot_dir_read(
                spark, path, rel, layout.snap, schema=schema
            )
            if df is not None:
                frames.append(df)
    if not frames:
        if schema is None:
            raise ValueError(
                f"{layout.what} at {path!r}: {', '.join(rels)} holds no "
                "rows and its _META.json predates recorded schemas — "
                f"rebuild with {layout.rebuild_hint}"
            )
        return spark.createDataFrame([], schema)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# -- partition rewrites ----------------------------------------------------


def _next_version(layout: Layout) -> int:
    return int(layout.snap["version"]) + 1


def stage_rewrite(
    spark: SparkSession,
    layout: Layout,
    rel: str,
    keep: DataFrame,
    partition_col: str,
    touched: list,
    sort_cols: tuple[str, ...] = (),
) -> dict:
    """Write ``keep`` — the new rows of the ``touched`` partitions of
    table directory ``rel`` — into its next version directory and
    return the manifest job. Nothing a reader lists is modified.
    Touched partitions left without rows are ``drop``-ped."""
    vd = os.path.join(
        layout.path, rel, f"{VERSION_DIR_PREFIX}{_next_version(layout)}"
    )
    write_table(Table(keep, partition_col, sort_cols), vd)
    staged = {n for n in fsutil.list_names(spark, vd) if "=" in n}
    touched_names = {partition_dir_name(partition_col, v) for v in touched}
    stray = staged - touched_names
    if stray:
        raise AssertionError(
            f"partition rewrite of {rel!r}: staged partitions {stray} "
            "are outside the touched set — keep frame wider than the "
            "touched slice"
        )
    return {
        "dir": rel,
        "partition_col": partition_col,
        "swap": sorted(touched_names & staged),
        "drop": sorted(touched_names - staged),
    }


def commit_rewrite(
    spark: SparkSession,
    layout: Layout,
    jobs: list[dict],
    meta: dict | None = None,
    folded: Iterable[str] = (),
) -> dict:
    """Publish the next manifest over the staged ``jobs`` — the one
    commit point (module docstring). ``meta`` is the post-commit
    metadata (None keeps the layout's), ``folded`` the batch ids this
    commit folds into the base. Returns the published body."""
    from . import snapshot

    body = snapshot.next_snapshot(
        layout.snap,
        jobs,
        _next_version(layout),
        layout.meta if meta is None else meta,
        folded,
    )
    snapshot.publish_snapshot(spark, layout.path, body)
    spark.catalog.refreshByPath(layout.path)
    return body


def retire(spark: SparkSession, path: str, tables: Iterable[str]) -> dict:
    """Delete what the current snapshot no longer references:
    manifests below it, version dirs it does not name, base
    partitions it shadows, and folded delta dirs with their markers.
    ``tables`` are the layout's own table directories; their delta
    dirs are found from the root listing. Idempotent. Returns
    ``{"files_removed", "bytes_reclaimed", "snapshots_retired",
    "version_dirs_removed"}``."""
    from . import snapshot

    names = fsutil.list_names(spark, path)
    versions = snapshot.versions_in(names)
    snap = snapshot.resolve_snapshot(spark, path, versions)
    folded = set(snap.get("folded", ()))
    out = {
        "files_removed": 0,
        "bytes_reclaimed": 0,
        "snapshots_retired": 0,
        "version_dirs_removed": 0,
    }

    def sweep(p: str, key: str | None = None) -> None:
        n, b = fsutil.du(spark, p)
        fsutil.delete(spark, p)
        out["files_removed"] += n
        out["bytes_reclaimed"] += b
        if key is not None:
            out[key] += 1

    for v in versions[:-1]:
        manifest = os.path.join(path, f"{MANIFEST_PREFIX}{v}.json")
        sweep(manifest, "snapshots_retired")
    tables = set(tables)
    rels = sorted(tables) + [
        n
        for n in names
        if "_delta_" in n and n.partition("_delta_")[0] in tables
    ]
    for rel in rels:
        d = os.path.join(path, rel)
        if rel.partition("_delta_")[2] in folded:
            sweep(d)
            continue
        if not fsutil.is_dir(spark, d):
            continue
        entry = snap.get("dirs", {}).get(rel, {})
        assign = entry.get("assign", {})
        keep = {f"{VERSION_DIR_PREFIX}{int(t)}" for t in assign.values()}
        shadowed = set(assign) | set(entry.get("dropped", ()))
        for child in fsutil.list_names(spark, d):
            if (
                child.startswith(VERSION_DIR_PREFIX) and child not in keep
            ) or child in shadowed:
                sweep(os.path.join(d, child), "version_dirs_removed")
    for b in folded & set(batches_in(names)):
        sweep(os.path.join(path, delta_marker(b)))
    if out["files_removed"]:
        spark.catalog.refreshByPath(path)
    return out


__all__ = [
    "DEAD_STAGING",
    "Layout",
    "MANIFEST_PREFIX",
    "META",
    "STAGING",
    "SUCCESS",
    "Table",
    "VERSION_DIR_PREFIX",
    "batches_in",
    "check_batch_id",
    "commit_delta",
    "commit_rewrite",
    "committed_delta_batches",
    "delta_dir",
    "delta_marker",
    "discard_delta",
    "open_for_delta",
    "open_layout",
    "open_table",
    "partition_dir_name",
    "partition_filter",
    "retire",
    "run_concurrently",
    "stage_base",
    "stage_delta",
    "stage_rewrite",
    "swap_base",
    "write_table",
]
