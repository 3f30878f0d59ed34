"""The stored-layout commit protocol — the one module that knows how
the dedup index, the ANN index and the SCD2 feed/history layouts
commit, where each batch's rows live, and the names they commit
under.

A layout root holds ``_SUCCESS`` (the base commit marker: readers
refuse a layout without it), ``_META.json`` (the base writer's params,
recorded table schemas and ``parts``, each base table's partition
directories — every open requires it, since probing with guessed
params silently returns wrong answers), ``_MANIFEST_v<N>.json``
(published snapshots, the highest N current), the maintainer lease,
and one directory per table. Each partition directory
``<table>/<col>=<v>/`` holds its base files and hidden owner
directories, which Spark's file index never lists:
``__d<batch_id>.<token>/`` holds one ingest batch's rows of that
partition, ``__v<N>/`` a partition rewrite's copy. Staging is
``_staging/`` for a rebuild and ``.spark-staging-delta_<batch_id>/`` /
``.spark-staging-v<N>/`` for a refresh or a rewrite.

**The owner map.** A snapshot names, per table and partition, the
owners holding its live rows (``""`` = the base files), and maps each
batch committed since the base to its live token, or to None once a
compaction folded it (a retry is then a no-op). Version 0 is the base
as written, its map from ``_META.json``; every later one is a
manifest. An open is one root listing plus one manifest read, and
each table opens as one Parquet scan over the leaves the map names.

**The commit** (:func:`_publish`) is a compare-and-swap on the
manifest name. Every verb stages first, moves each staged partition
into an owner directory no snapshot names yet, applies its owner edit
to the snapshot it read and renames a temp file to
``_MANIFEST_v<N+1>``, refusing an existing target. A loser re-reads
the current manifest and re-applies its edit one version later,
never re-staging data; the local filesystem's refusing rename checks,
then renames, so a per-layout in-process lock also serialises read →
publish. A crash before the publish leaves the old snapshot current,
one after it the new one; a resolved snapshot stays readable.

- Delta commit (:func:`stage_delta`, :func:`commit_delta`): the edit
  adds the batch's owners and drops every owner it had (a ``__d``
  name carries its batch id), so a retry replaces it in one step.
- Partition rewrite (:func:`stage_rewrite`, :func:`commit_rewrite`):
  the edit replaces the owners the verb opened in each touched
  partition by its new copies, so an owner that landed after the open
  survives. Compaction merges them into one ``__v<N>`` and folds the
  batches; erasure stages the base view as ``__v<N>`` and each live
  batch's rows as a fresh owner of that batch (:func:`batch_views`).
  Compaction and the in-place SCD2 refresh :func:`retire` right after
  publishing; erasure and expiry keep the old snapshot for time
  travel until ``vacuum_layout``.
- Base swap (:func:`stage_base`, :func:`swap_base`): the new tables
  build under ``_staging/`` while the old layout serves; the commit
  window stages ``_META.json``, drops ``_SUCCESS``, deletes what the
  rebuild supersedes, moves the staged tables and metadata in and
  touches ``_SUCCESS``. A crash inside it leaves a marker-less layout
  every reader refuses; re-running the writer completes it. The lease
  survives: the maintenance rebuild arm calls the writers holding it.

Single maintainer (``operators.lease``); ingest may run beside it.
All IO goes through the Hadoop FileSystem API (``fsutil``), so the
same protocol serves local paths and cluster filesystems.
"""

from __future__ import annotations

import json
import os
import re
import threading
import uuid
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
DELTA_DIR_PREFIX = "__d"
#: Staging dirs of retired commit protocols: dead by definition, swept
#: by base rebuilds and by vacuum.
DEAD_STAGING = ("_compact", "_cow_staging")

_BATCH_ID = re.compile(r"[A-Za-z0-9][A-Za-z0-9._-]*")
_LOCKS: dict[str, threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()


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


def _parts_in(names: Iterable[str]) -> list[str]:
    """The leaf partitions of a freshly written table directory's
    child names: its ``col=value`` directories, or ``""`` (the
    directory itself) for an unpartitioned table holding part files."""
    visible = [n for n in names if not n.startswith(("_", "."))]
    parts = sorted(n for n in visible if "=" in n)
    if not parts and any(n.endswith(".parquet") for n in visible):
        return [""]
    return parts


def _leaf(*names: str) -> str:
    return "/".join(n for n in names if n)


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
    the call. Each thunk also runs under the caller's job group, job
    tags and local properties, so its jobs are charged to the caller.
    A lone thunk runs inline, in the caller's thread and scope."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from ..caching import cache_scope

    if len(thunks) == 1:
        return [thunks[0]()]

    def scoped(fn: Callable[[], object]) -> object:
        with cache_scope():
            return fn()

    session = SparkSession.getActiveSession()
    if session is not None:
        scoped = inheritable_thread_target(session)(scoped)
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
    """Root names a base swap deletes — old tables and commit records,
    the retired marker protocol's ``_DELTA_<batch>._SUCCESS`` markers
    and ``<table>_delta_<batch>/`` dirs included."""
    return (
        name in tables
        or name.startswith((MANIFEST_PREFIX, "_DELTA_") + DEAD_STAGING)
        or name.startswith(tuple(f"{t}_delta_" for t in tables))
        or name == META
    )


def swap_base(
    spark: SparkSession, path: str, tables: list[str], meta: dict
) -> None:
    """The base writers' one commit window (module docstring).
    ``meta`` gains ``parts``, the base's owner map, read once here
    from the staged tables."""
    staging = os.path.join(path, STAGING)
    parts = {
        t: _parts_in(fsutil.list_names(spark, os.path.join(staging, t)))
        for t in tables
    }
    fsutil.write_text(
        spark, os.path.join(staging, META), json.dumps({**meta, "parts": parts})
    )
    fsutil.delete(spark, os.path.join(path, SUCCESS))
    for name in fsutil.list_names(spark, path):
        if _superseded(name, tables):
            fsutil.delete(spark, os.path.join(path, name))
    for name in tables + [META]:
        fsutil.move(
            spark, os.path.join(staging, name), os.path.join(path, name)
        )
    fsutil.delete(spark, staging)
    # The swap replaced files under an already-listed path: a reader
    # opened before it must re-list, not serve deleted part files.
    spark.catalog.refreshByPath(path)
    fsutil.touch(spark, os.path.join(path, SUCCESS))


# -- opening ---------------------------------------------------------------


class Layout(NamedTuple):
    """One resolved open: what :func:`open_table` reads against."""

    path: str
    what: str
    rebuild_hint: str
    meta: dict
    snap: dict

    @property
    def batches(self) -> list[str]:
        """Live batch ids: committed and not folded into the base."""
        return sorted(b for b, tok in self.snap["batches"].items() if tok)


def committed_delta_batches(spark: SparkSession, path: str) -> list[str]:
    """The live delta batch ids of a stored layout: committed and not
    yet folded into the base."""
    return open_layout(spark, path, "stored layout", "its writer").batches


def open_layout(
    spark: SparkSession,
    path: str,
    what: str,
    rebuild_hint: str,
    snapshot_version: int | None = None,
) -> Layout:
    """Resolve the snapshot (``snapshot_version``, else the current
    one) from one root listing and one manifest (or ``_META.json``)
    read. Refuses a layout without ``_SUCCESS`` or ``_META.json``, one
    written before manifests owned every live file, and one missing a
    table directory the snapshot names (a partial delete, not an empty
    table — writers always create every table directory)."""
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
    if "tables" not in snap:
        raise ValueError(
            f"{what} at {path!r} predates manifest-owned layouts (root "
            "_DELTA_ markers, no partition owner map) — rebuild with "
            f"{rebuild_hint}"
        )
    missing = sorted(set(snap["tables"]) - set(names))
    if missing:
        raise ValueError(
            f"{what} at {path!r} is corrupt: {', '.join(missing)} is "
            "missing — the writer always creates every table "
            "directory, so this is a partial delete, not an empty "
            f"table; rebuild with {rebuild_hint}"
        )
    return Layout(path, what, rebuild_hint, snap["meta"], snap)


def open_for_delta(
    spark: SparkSession,
    path: str,
    verb: str,
    batch_id: str,
    what: str,
    rebuild_hint: str,
) -> Layout | None:
    """A refresher's open: validate ``batch_id`` and open the layout,
    or return None when a rewrite already folded that batch into the
    base — a retry is then a no-op, never a second copy of its rows."""
    check_batch_id(verb, batch_id)
    layout = open_layout(spark, path, what, rebuild_hint)
    if _folded(layout.snap, batch_id):
        return None
    return layout


def _folded(snap: dict, batch_id: str) -> bool:
    batches = snap["batches"]
    return batch_id in batches and batches[batch_id] is None


def _delta_owner(batch_id: str, token: str) -> str:
    return f"{DELTA_DIR_PREFIX}{batch_id}.{token}"


def _owner_batch(owner: str) -> str | None:
    """The batch whose rows the owner ``__d<batch>.<token>`` holds (the
    token has no dot), None for the base files or a ``__v`` copy."""
    if not owner.startswith(DELTA_DIR_PREFIX):
        return None
    return owner[len(DELTA_DIR_PREFIX) :].rsplit(".", 1)[0]


def open_table(
    spark: SparkSession,
    layout: Layout,
    table: str,
    schema_key: str,
    include_deltas: bool = True,
    exclude_batches: Iterable[str] = (),
) -> DataFrame:
    """``table``'s rows at the layout's snapshot: ONE Parquet scan
    over the leaf directories its owner map names, with the table
    directory as ``basePath`` so the partition column parses from the
    path and prunes. ``include_deltas=False`` leaves out every live
    batch's owners (the base view a retried ingest probes);
    ``exclude_batches`` leaves out the named ones. The recorded
    schema is supplied to the read (no footer-reading inference job),
    and a table without leaves is the empty frame of that schema."""
    live = set(layout.batches)
    skip = live & set(exclude_batches) if include_deltas else live
    return _scan(
        spark, layout, table, schema_key, lambda o: _owner_batch(o) not in skip
    )


def batch_views(
    spark: SparkSession,
    layout: Layout,
    table: str,
    schema_key: str,
    partition_col: str,
    touched: list,
) -> list[tuple[str | None, DataFrame]]:
    """``table``'s rows split by owner for a rewrite of the ``touched``
    partitions: ``(None, the base view)``, then ``(batch, its rows)``
    for each live batch owning one of those partitions. Staging each
    as its own copy (:func:`stage_rewrite`'s ``batch``) keeps a live
    batch's rows apart from the base: the base view still leaves them
    out and a retry of the batch still replaces them."""
    names = {partition_dir_name(partition_col, v) for v in touched}
    owning = {
        _owner_batch(o)
        for part, owners in layout.snap["tables"][table].items()
        if part in names
        for o in owners
    }
    return [(None, open_table(spark, layout, table, schema_key, False))] + [
        (b, _scan(spark, layout, table, schema_key,
                  lambda o, b=b: _owner_batch(o) == b))
        for b in layout.batches
        if b in owning
    ]


def _scan(
    spark: SparkSession,
    layout: Layout,
    table: str,
    schema_key: str,
    keep: Callable[[str], bool],
) -> DataFrame:
    """One Parquet scan over the ``keep`` owners of ``table``."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(layout.meta[schema_key])
    base = _leaf(layout.path, table)
    leaves = [
        _leaf(base, part, owner)
        for part, owners in sorted(layout.snap["tables"][table].items())
        for owner in owners
        if keep(owner)
    ]
    if not leaves:
        return spark.createDataFrame([], schema)
    try:
        return (
            spark.read.schema(schema)
            .option("basePath", base)
            .parquet(*leaves)
        )
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        raise ValueError(
            f"{layout.what} at {layout.path!r} is corrupt: an owner "
            f"directory of {table!r} the snapshot names is missing "
            f"({e}); rebuild with {layout.rebuild_hint}"
        ) from None


def unreferenced_owners(spark: SparkSession, layout: Layout) -> list[str]:
    """Owner directories on disk that the layout's snapshot does not
    name and no retire will reach: a crashed (or, under concurrent
    ingest, an in-flight) delta commit's ``__d…`` dirs, and a crashed
    rewrite's ``__v<K>`` dirs with K at or below the snapshot version.
    One listing per table and per partition directory."""
    out = []
    version = int(layout.snap["version"])
    for table, parts in sorted(layout.snap["tables"].items()):
        tdir = os.path.join(layout.path, table)
        for part in _parts_in(fsutil.list_names(spark, tdir)):
            named = set(parts.get(part, ()))
            for child in fsutil.list_names(spark, _leaf(tdir, part)):
                if child in named:
                    continue
                if child.startswith(DELTA_DIR_PREFIX) or (
                    child.startswith(VERSION_DIR_PREFIX)
                    and child[len(VERSION_DIR_PREFIX) :].isdigit()
                    and int(child[len(VERSION_DIR_PREFIX) :]) <= version
                ):
                    out.append(_leaf(tdir, part, child))
    return out


# -- staging and committing --------------------------------------------------


def _move_in(
    spark: SparkSession,
    layout: Layout,
    staged: str,
    table: str,
    owner: str,
) -> list[str]:
    """Move each partition of the staged table directory ``staged``
    into ``<table>/<part>/<owner>`` — invisible until a snapshot names
    it. Returns the partitions moved. A delta owner's name is fresh;
    a rewrite's ``__v<N>`` may be left over from a crashed attempt at
    the same N, so it is deleted first."""
    known = layout.snap["tables"].get(table, {})
    parts = [p for p in _parts_in(fsutil.list_names(spark, staged)) if p]
    for part in parts:
        src, dst = _leaf(staged, part), _leaf(layout.path, table, part, owner)
        if part not in known:
            fsutil.mkdirs(spark, _leaf(layout.path, table, part))
        if owner.startswith(VERSION_DIR_PREFIX) and fsutil.exists(spark, dst):
            fsutil.delete(spark, dst)
        fsutil.move(spark, src, dst)
    return parts


def _layout_lock(path: str) -> threading.Lock:
    with _LOCKS_GUARD:
        return _LOCKS.setdefault(path, threading.Lock())


def _publish(
    spark: SparkSession, layout: Layout, edit: Callable[[dict], dict | None]
) -> dict | None:
    """Compare-and-swap the next manifest (module docstring): apply
    ``edit`` to the opened snapshot and publish at its version + 1;
    on a lost race re-read the current snapshot and re-apply. An edit
    returning None publishes nothing. Returns the published body."""
    from . import snapshot

    snap = layout.snap
    with _layout_lock(layout.path):
        while True:
            body = edit(snap)
            if body is None:
                return None
            body = {**body, "version": int(snap["version"]) + 1}
            if snapshot.publish_snapshot(spark, layout.path, body):
                spark.catalog.refreshByPath(layout.path)
                return body
            snap = snapshot.read_snapshot(spark, layout.path)


def _delta_staging(path: str, batch_id: str) -> str:
    return os.path.join(path, f".spark-staging-delta_{batch_id}")


def stage_delta(
    spark: SparkSession, path: str, batch_id: str, tables: dict[str, Table]
) -> None:
    """Write one batch's tables under its hidden staging dir; nothing
    committed is touched."""
    staging = _delta_staging(path, batch_id)
    fsutil.delete(spark, staging)
    _write_all(staging, tables)


def discard_delta(spark: SparkSession, path: str, batch_id: str) -> None:
    """Drop a staged batch that will not be committed."""
    fsutil.delete(spark, _delta_staging(path, batch_id))


def commit_delta(
    spark: SparkSession, layout: Layout, batch_id: str, tables: list[str]
) -> None:
    """Move a staged batch into fresh ``__d<batch_id>.<token>`` owners
    and publish them, replacing the batch's previous owners (module
    docstring). A batch folded while it staged is not published; its
    moved dirs are left for vacuum."""
    staging = _delta_staging(layout.path, batch_id)
    token = uuid.uuid4().hex[:8]
    owner = _delta_owner(batch_id, token)
    added = {
        (t, p, owner)
        for t in tables
        for p in _move_in(spark, layout, os.path.join(staging, t), t, owner)
    }
    fsutil.delete(spark, staging)

    def edit(snap: dict) -> dict | None:
        if _folded(snap, batch_id):
            return None
        gone = {x for x in _owned(snap) if _owner_batch(x[2]) == batch_id}
        return {
            "meta": snap["meta"],
            "tables": _edited(snap["tables"], gone, added),
            "batches": {**snap["batches"], batch_id: token},
        }

    _publish(spark, layout, edit)


def _owned(snap: dict) -> set[tuple[str, str, str]]:
    """The snapshot's owner map as (table, partition, owner) triples."""
    return {
        (t, p, o)
        for t, parts in snap["tables"].items()
        for p, owners in parts.items()
        for o in owners
    }


def _edited(tables: dict, gone: set, added: set) -> dict:
    """The owner map ``tables`` with the ``gone`` owner triples removed
    and the ``added`` ones joined; a partition left without owners
    leaves the map, a table never does."""
    out: dict = {t: {} for t in tables}
    for t, p, o in sorted((_owned({"tables": tables}) - gone) | added):
        out.setdefault(t, {}).setdefault(p, []).append(o)
    return out


def _next_version(layout: Layout) -> int:
    return int(layout.snap["version"]) + 1


def _rewrite_staging(layout: Layout) -> str:
    return os.path.join(layout.path, f".spark-staging-v{_next_version(layout)}")


def stage_rewrite(
    spark: SparkSession,
    layout: Layout,
    table: str,
    keep: DataFrame,
    partition_col: str,
    touched: list,
    sort_cols: tuple[str, ...] = (),
    batch: str | None = None,
) -> dict:
    """Write ``keep`` — the new rows of the ``touched`` partitions of
    ``table`` — and move each staged partition into a new owner: the
    ``__v<N>`` copy (N = snapshot version + 1), or with a live
    ``batch`` a fresh owner of that batch (:func:`batch_views`).
    Returns the manifest job: the owners opened in the touched
    partitions go, the new copies join (a partition left without rows
    gets none). Nothing a reader lists is modified."""
    staged = _leaf(
        _rewrite_staging(layout),
        f"{DELTA_DIR_PREFIX}{batch}" if batch else "",
        table,
    )
    write_table(Table(keep, partition_col, sort_cols), staged)
    owner = (
        _delta_owner(batch, uuid.uuid4().hex[:8])
        if batch
        else f"{VERSION_DIR_PREFIX}{_next_version(layout)}"
    )
    touched_names = {partition_dir_name(partition_col, v) for v in touched}
    stray = set(_parts_in(fsutil.list_names(spark, staged))) - touched_names
    if stray:
        raise AssertionError(
            f"partition rewrite of {table!r}: staged partitions {stray} "
            "are outside the touched set — keep frame wider than the "
            "touched slice"
        )
    moved = _move_in(spark, layout, staged, table, owner)
    opened = layout.snap["tables"].get(table, {})
    return {
        "gone": {(table, p, o) for p in touched_names for o in opened.get(p, ())},
        "added": {(table, p, owner) for p in moved},
    }


def commit_rewrite(
    spark: SparkSession,
    layout: Layout,
    jobs: list[dict],
    meta: dict | None = None,
    fold: Iterable[str] = (),
) -> dict:
    """Publish the staged ``jobs`` — the one commit point (module
    docstring). ``meta`` is the post-commit metadata (None keeps the
    layout's), ``fold`` the live batch ids this commit folds into the
    base. A batch folded here, or one whose owners the jobs replace,
    that was re-committed since the open fails the commit: its new
    copy would sit beside this commit's. Returns the published body."""
    fold = set(fold)
    gone = set().union(*(j["gone"] for j in jobs))
    replaced = {_owner_batch(o) for _, _, o in gone} - {None}
    opened = {b: layout.snap["batches"][b] for b in fold | replaced}
    fsutil.delete(spark, _rewrite_staging(layout))

    def edit(snap: dict) -> dict:
        moved = [b for b, tok in opened.items() if snap["batches"].get(b) != tok]
        if moved:
            raise RuntimeError(
                f"{layout.what} at {layout.path!r}: batches {moved} were "
                "re-committed while this rewrite ran — re-run it"
            )
        return {
            "meta": layout.meta if meta is None else meta,
            "tables": _edited(
                snap["tables"], gone, set().union(*(j["added"] for j in jobs))
            ),
            "batches": {**snap["batches"], **dict.fromkeys(fold)},
        }

    return _publish(spark, layout, edit)


def retire(spark: SparkSession, path: str) -> dict:
    """Delete what the current snapshot superseded: manifests below
    it and every owner an older snapshot named that it does not —
    folded or replaced delta dirs, superseded version dirs, shadowed
    base files. A delta dir no snapshot ever named, or a version dir
    above the current version, may belong to a commit still in flight
    and is left alone. Idempotent. Returns ``{"files_removed",
    "bytes_reclaimed", "snapshots_retired", "version_dirs_removed"}``."""
    from . import snapshot

    versions = snapshot.manifest_versions(spark, path)
    out = dict.fromkeys(
        ("files_removed", "bytes_reclaimed", "snapshots_retired",
         "version_dirs_removed"), 0
    )
    if not versions:
        return out

    def sweep(p: str, key: str | None = None) -> None:
        n, b = fsutil.du(spark, p)
        fsutil.delete(spark, p)
        out["files_removed"] += n
        out["bytes_reclaimed"] += b
        if key is not None:
            out[key] += 1

    current = snapshot.resolve_snapshot(spark, path, versions)
    older = [snapshot.resolve_snapshot(spark, path, versions, v) for v in versions[:-1]]
    if versions[0] == 1:
        older.append(snapshot.base_snapshot(current["meta"]))
    gone = set().union(*map(_owned, older)) - _owned(current)
    for t, p, o in sorted(gone):
        if o:
            sweep(_leaf(path, t, p, o), "version_dirs_removed")
            continue
        files = [
            c
            for c in fsutil.list_names(spark, _leaf(path, t, p))
            if not c.startswith("__")
        ]
        for c in files:
            sweep(_leaf(path, t, p, c))
        out["version_dirs_removed"] += bool(files)
    for v in versions[:-1]:
        sweep(os.path.join(path, f"{MANIFEST_PREFIX}{v}.json"), "snapshots_retired")
    if out["files_removed"]:
        spark.catalog.refreshByPath(path)
    return out


__all__ = [
    "DEAD_STAGING",
    "DELTA_DIR_PREFIX",
    "Layout",
    "MANIFEST_PREFIX",
    "META",
    "STAGING",
    "SUCCESS",
    "Table",
    "VERSION_DIR_PREFIX",
    "batch_views",
    "check_batch_id",
    "commit_delta",
    "commit_rewrite",
    "committed_delta_batches",
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
    "unreferenced_owners",
    "write_table",
]
