"""The stored-layout commit protocol — the one module that knows how
the dedup index, the ANN index and the SCD2 feed/history layouts
commit, and the names they commit under.

A layout root holds:

- ``_SUCCESS`` — the base commit marker. Public readers refuse a
  layout without it (half-written, or inside a commit window).
- ``_META.json`` — the writer's params and recorded table schemas.
  Probing with guessed params silently returns wrong answers, so
  every open requires it.
- ``<table>/`` — the base tables, one file per partition.
- ``<table>_delta_<batch_id>/`` plus ``_DELTA_<batch_id>._SUCCESS``
  — one ingest batch and its commit marker. Readers union only the
  deltas whose marker exists.
- ``_staging/`` — a base rebuild's staged tables and metadata.
- ``.spark-staging-delta_<batch_id>/`` — a refresh's staged delta
  tables (hidden: Spark's file index never lists dot-prefixed dirs).
- ``_compact/`` + ``_COMPACT_MANIFEST.json`` — a compaction fold
  (``operators.compaction``); ``_cow_staging/`` +
  ``_COW_MANIFEST.json`` — a copy-on-write rewrite
  (``operators.cow``); ``_MANIFEST_v<N>.json`` — published snapshots
  (``operators.snapshot``); ``_MAINTAINER_LEASE.json`` — the
  maintainer lease (``operators.lease``).

**Base swap** (:func:`stage_base` then :func:`swap_base`). The new
tables build under ``_staging/`` while the previous layout stays
fully readable — a daily pipeline keeps serving probes through a
long rebuild. The commit window is a handful of metadata ops: stage
``_META.json`` beside the tables, drop ``_SUCCESS``, delete what the
rebuild supersedes (the old tables and every delta, marker, pending
compaction or COW state and snapshot manifest), rename the staged
tables and then the staged metadata in, refresh the session's file
listing, touch ``_SUCCESS``. A crash while building leaves the old
layout valid; a crash inside the window leaves a marker-less layout
every public reader refuses, and re-running the writer completes it.

- Why every delta and pending manifest goes: the new base supersedes
  all prior ingests. A surviving delta would union removed rows back
  in; a surviving compaction or COW manifest would let the next
  resume rename pre-rebuild partitions over the fresh base.
- Why the metadata is staged and renamed in after the tables: the
  SCD2 history refresher opens its layout marker-less (that is its
  crash recovery), so no crash point may pair new-params metadata
  with old-params data or the reverse — a rebuild changing
  ``n_shards`` that died between the data swap and a late metadata
  write would hand the refresher 4-sharded data under 16-shard
  metadata, and its dynamic overwrite would duplicate touched keys.
  Every crash point is old-consistent, metadata-less (refused) or
  new-consistent.
- Why the lease survives: the maintenance verbs' rebuild arm calls
  the writers while holding ``_MAINTAINER_LEASE.json``; deleting it
  would hand the layout to a second maintainer mid-tick.

**Delta commit** (:func:`stage_delta` then :func:`commit_delta`).
A refresh writes its tables under the batch's hidden staging dir,
touching nothing committed. The commit drops the batch's marker,
replaces each delta directory with its staged copy, and touches the
marker last. So a failed or rejected retry of a committed batch
never loses it, and a crash inside the commit leaves the batch
invisible until the retry lands. Idempotent per (path, batch_id).

**Open** (:func:`open_layout` then :func:`open_table`). One root
listing yields the marker, the metadata, the snapshot versions and
the committed batches. A table directory that is missing is
corruption — writers always create it — while one that exists but
holds no part files is a legitimately empty table, opened from the
schema the writer recorded.

Single maintainer, as everywhere in the stored-layout family: one
process writes, compacts, erases or vacuums a layout at a time;
concurrent ingest is safe because each batch commits by its own
marker. All IO goes through the Hadoop FileSystem API (``fsutil``),
so the same protocol serves local paths and cluster filesystems.
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
COMPACT_MANIFEST = "_COMPACT_MANIFEST.json"
COMPACT_STAGING = "_compact"
COW_MANIFEST = "_COW_MANIFEST.json"
COW_STAGING = "_cow_staging"
MANIFEST_PREFIX = "_MANIFEST_v"

_BATCH_ID = re.compile(r"[A-Za-z0-9][A-Za-z0-9._-]*")


def delta_dir(table: str, batch_id: str) -> str:
    return f"{table}_delta_{batch_id}"


def delta_marker(batch_id: str) -> str:
    return f"_DELTA_{batch_id}._SUCCESS"


def batches_in(names: Iterable[str]) -> list[str]:
    """The committed batch ids among a layout root's child names."""
    return sorted(
        name[len("_DELTA_") : -len("._SUCCESS")]
        for name in names
        if name.startswith("_DELTA_") and name.endswith("._SUCCESS")
    )


def committed_delta_batches(spark: SparkSession, path: str) -> list[str]:
    """The committed delta batch ids of a stored layout."""
    return batches_in(fsutil.list_names(spark, path))


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


def run_concurrently(thunks: list[Callable[[], None]]) -> None:
    """Run independent Spark jobs side by side and re-raise the first
    failure after all have finished. Each thunk runs in its own
    ``cache_scope``: the scope stack is thread-local, so a
    ``managed_cache`` taken in a worker would otherwise land in the
    session fallback registry and outlive the call. A lone thunk runs
    inline, in the caller's thread and scope."""
    from concurrent.futures import ThreadPoolExecutor

    from ..caching import cache_scope

    if len(thunks) == 1:
        thunks[0]()
        return

    def scoped(fn: Callable[[], None]) -> None:
        with cache_scope():
            fn()

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(scoped, fn) for fn in thunks]
        for f in futures:
            f.result()


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
        or name.startswith(
            ("_DELTA_", COMPACT_STAGING, COW_STAGING, MANIFEST_PREFIX)
        )
        or name in (META, COMPACT_MANIFEST, COW_MANIFEST)
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
    batches: list[str]


def _meta(
    spark: SparkSession,
    path: str,
    names: list[str],
    what: str,
    rebuild_hint: str,
    require_success: bool = True,
) -> dict:
    if require_success and SUCCESS not in names:
        raise ValueError(
            f"{what} at {path!r} has no _SUCCESS marker "
            "(half-written or missing index)"
        )
    if META not in names:
        raise ValueError(
            f"{what} at {path!r} has no _META.json — layout "
            f"params unknown; rebuild with {rebuild_hint}"
        )
    return json.loads(fsutil.read_text(spark, os.path.join(path, META)))


def require_layout_meta(
    spark: SparkSession, path: str, what: str, rebuild_hint: str
) -> dict:
    """Validate the path, refuse a layout without ``_SUCCESS`` or
    ``_META.json``, and return the parsed metadata."""
    fsutil.validate_layout_path(path, what)
    return _meta(
        spark, path, fsutil.list_names(spark, path), what, rebuild_hint
    )


def open_layout(
    spark: SparkSession,
    path: str,
    what: str,
    rebuild_hint: str,
    snapshot_version: int | None = None,
    require_success: bool = True,
) -> Layout:
    """Resolve metadata, snapshot (``snapshot_version``, else the
    current one) and committed batches from one root listing.

    ``require_success=False`` is for the verbs that must run through
    another verb's marker-less crash window (the SCD2 history
    refresher's recovery, the erasure verbs); public readers always
    require the marker."""
    from . import snapshot

    fsutil.validate_layout_path(path, what)
    names = fsutil.list_names(spark, path)
    meta = _meta(spark, path, names, what, rebuild_hint, require_success)
    snap = snapshot.resolve_snapshot(
        spark, path, snapshot.versions_in(names), snapshot_version
    )
    return Layout(path, what, rebuild_hint, meta, snap, batches_in(names))


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


__all__ = [
    "COMPACT_MANIFEST",
    "COMPACT_STAGING",
    "COW_MANIFEST",
    "COW_STAGING",
    "Layout",
    "MANIFEST_PREFIX",
    "META",
    "STAGING",
    "SUCCESS",
    "Table",
    "batches_in",
    "check_batch_id",
    "commit_delta",
    "committed_delta_batches",
    "delta_dir",
    "delta_marker",
    "discard_delta",
    "open_layout",
    "open_table",
    "partition_filter",
    "require_layout_meta",
    "run_concurrently",
    "stage_base",
    "stage_delta",
    "swap_base",
    "write_table",
]
