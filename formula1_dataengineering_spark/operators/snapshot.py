"""Versioned-manifest snapshot layer for stored layouts (round 16,
VERDICT r15 item 2) — Delta/Iceberg-style snapshot-isolated reads
over the COW rewrite protocol, without a transaction log service.

The round-15 COW commit deleted ``_SUCCESS``, swapped partition
directories in place, then restored the marker: correct and
crash-resumable, but a reader concurrent with the commit fail-louds
for the whole window. At 100 TB with a nightly maintenance tick that
is a blocking window per layout per tick. This module removes it:

- A COW rewrite of partition ``k=3`` of table directory ``rel`` no
  longer replaces ``rel/k=3``; it renames the staged copy to
  ``rel/__v{N}/k=3`` — a version directory Spark's file index treats
  as hidden (``_``-prefixed), so plain reads and old snapshots never
  see it.
- The layout-level manifest ``_MANIFEST_v{N}.json`` records, per
  table directory, which partitions are OWNED by which version
  directory (``assign``) and which are DROPPED (every row deleted).
  It is published atomically (write to a temp name, rename into
  place — rename to a fresh name is atomic on the Hadoop FS API);
  the CURRENT snapshot is simply the highest-numbered manifest, so
  there is no pointer file and no flip window at all. ``_SUCCESS``
  is never touched by a versioned commit.
- Readers resolve ONE manifest up front (:func:`read_snapshot`) and
  assemble each table directory as: the base read minus shadowed
  partitions, unioned with each owning version directory filtered to
  the partitions it owns (:func:`snapshot_dir_read`). Resolving an
  OLDER manifest gives time travel: superseded partition copies stay
  on disk until vacuumed, so a snapshot resolved before a COW commit
  remains exactly readable after it.
- :func:`collapse_snapshot` folds the version state back into plain
  base directories — state-driven and idempotent, so the in-place
  maintenance verbs (compaction's fold, the SCD2 in-place refresher)
  run it inside their existing marker-dropped windows and a crash at
  ANY point re-runs to completion: a partition is pending exactly
  while its owning version copy still exists.
- Vacuum reclaims version directories no manifest-of-record
  references and manifests older than the current one (sweep class
  5) — "old snapshots readable until vacuumed", verbatim.

Scale note: the manifest is O(#rewritten partitions) — bounded by
n_shards / #cells per layout family, bytes not megabytes — and is
read once per query on the driver. The read plan adds one filtered
scan per LIVE version tag (vacuum keeps that at ~1), not per
partition.

No reference analog (the reference keeps everything in memory); this
is the engine's own §2.11 storage contract maturing.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from .store import MANIFEST_PREFIX, partition_filter

VERSION_DIR_PREFIX = "__v"
_MANIFEST_RE = re.compile(rf"^{MANIFEST_PREFIX}(\d+)\.json$")
_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def versions_in(names) -> list[int]:
    """Sorted snapshot versions among a layout root's child names."""
    return sorted(
        int(m.group(1)) for m in map(_MANIFEST_RE.match, names) if m
    )


def manifest_versions(spark: SparkSession, path: str) -> list[int]:
    """Sorted snapshot versions with a published manifest."""
    return versions_in(fsutil.list_names(spark, path))


def current_version(spark: SparkSession, path: str) -> int:
    """The layout's current snapshot version — the highest published
    manifest, 0 when the layout has never taken a versioned commit
    (plain directories are the whole truth)."""
    versions = manifest_versions(spark, path)
    return versions[-1] if versions else 0


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> dict:
    """Resolve ONE snapshot: ``{"version": N, "dirs": {rel: {
    "partition_col", "assign": {part_name: owner_version},
    "dropped": [part_name]}}}``. ``version=None`` resolves the
    current snapshot; an explicit version is time travel and raises
    if that manifest was vacuumed away. Version 0 is the implicit
    empty snapshot (plain directories)."""
    return resolve_snapshot(
        spark, path, manifest_versions(spark, path), version
    )


def resolve_snapshot(
    spark: SparkSession,
    path: str,
    versions: list[int],
    version: int | None = None,
) -> dict:
    """:func:`read_snapshot` against an already-listed ``versions``."""
    current = versions[-1] if versions else 0
    if version is None:
        version = current
    if version == 0:
        return {"version": 0, "dirs": {}}
    if version not in versions:
        raise ValueError(
            f"stored layout at {path!r} has no snapshot manifest "
            f"v{version} — vacuumed away or never published; current "
            f"version is {current}"
        )
    mp = os.path.join(path, f"{MANIFEST_PREFIX}{version}.json")
    return json.loads(fsutil.read_text(spark, mp))


def publish_snapshot(spark: SparkSession, path: str, body: dict) -> None:
    """Atomically publish ``body`` as ``_MANIFEST_v{N}.json`` (N =
    ``body['version']``). Write-to-temp + rename: the manifest either
    exists complete or not at all, and readers listing manifests
    never see a torn file. Idempotent — re-publishing an existing
    version is a no-op (the resume path)."""
    final = os.path.join(path, f"{MANIFEST_PREFIX}{body['version']}.json")
    if fsutil.exists(spark, final):
        return
    tmp = final + ".tmp"
    fsutil.write_text(spark, tmp, json.dumps(body))
    fsutil.rename(spark, tmp, final)


def parse_partition_value(name: str):
    """Partition directory name → value (int or None), the inverse
    of ``cow.partition_dir_name`` — only integral and NULL partition
    values exist in this build's layouts (enforced at COW stage)."""
    _, _, raw = name.partition("=")
    return None if raw == _NULL_PART else int(raw)


def apply_cow_jobs(snap: dict, jobs: list[dict], new_version: int) -> dict:
    """The NEXT snapshot body after a COW commit of ``jobs`` (each
    ``{"dir", "partition_col", "swap": [names], "drop": [names]}``)
    at ``new_version``: swapped partitions become owned by the new
    version directory, dropped partitions join the dropped set, and
    everything else carries forward."""
    dirs = {
        rel: {
            "partition_col": e["partition_col"],
            "assign": dict(e.get("assign", {})),
            "dropped": list(e.get("dropped", [])),
        }
        for rel, e in snap.get("dirs", {}).items()
    }
    for job in jobs:
        e = dirs.setdefault(
            job["dir"],
            {
                "partition_col": job["partition_col"],
                "assign": {},
                "dropped": [],
            },
        )
        dropped = set(e["dropped"])
        for name in job["swap"]:
            e["assign"][name] = new_version
            dropped.discard(name)
        for name in job["drop"]:
            e["assign"].pop(name, None)
            dropped.add(name)
        e["dropped"] = sorted(dropped)
    return {"version": new_version, "dirs": dirs}


def snapshot_dir_read(
    spark: SparkSession, path: str, rel: str, snap: dict, schema=None
) -> DataFrame | None:
    """The rows of table directory ``rel`` AT snapshot ``snap``:
    base partitions not shadowed by the snapshot, unioned with each
    owning version directory filtered to exactly the partitions it
    owns. Returns None when the snapshot leaves no live rows in this
    directory (caller falls back to its recorded empty schema —
    the schema is not recoverable from zero readable files).

    Filters sit on the PARTITION column, so Catalyst prunes both the
    base scan and every version scan to the named directories — the
    plan reads no superseded bytes.

    ``schema`` (optional StructType): the layout's RECORDED schema
    (from its ``_META.json``). Supplying it skips Parquet
    schema-inference at plan time — one footer-reading driver job per
    directory per open, which dominates layout-open latency for these
    small metadata tables (r16 optimization pass, guide §6: schema
    from the manifest, not the files). Rows are unchanged; column
    ORDER follows the recorded writer schema, which every consumer
    selects from by name."""
    d = os.path.join(path, rel)

    def _read(p: str) -> DataFrame:
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(p)

    entry = snap.get("dirs", {}).get(rel)
    if entry is None:
        return _read(d)
    pcol = entry["partition_col"]
    assign: dict = entry["assign"]
    shadowed_names = set(assign) | set(entry["dropped"])
    visible = {
        n for n in fsutil.list_names(spark, d) if "=" in n
    }
    parts: list[DataFrame] = []
    live_base = visible - shadowed_names
    if live_base:
        shadowed_vals = [parse_partition_value(n) for n in shadowed_names]
        base = _read(d)
        if shadowed_vals:
            cond = partition_filter(pcol, shadowed_vals)
            # coalesce: a NULL-partition row must KEEP when NULL is
            # not shadowed (three-valued ~isin would drop it).
            base = base.where(~F.coalesce(cond, F.lit(False)))
        parts.append(base)
    by_tag: dict[int, list] = {}
    for name, tag in assign.items():
        by_tag.setdefault(int(tag), []).append(parse_partition_value(name))
    for tag in sorted(by_tag):
        vd = os.path.join(d, f"{VERSION_DIR_PREFIX}{tag}")
        parts.append(_read(vd).where(partition_filter(pcol, by_tag[tag])))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def collapse_snapshot(spark: SparkSession, path: str) -> bool:
    """Fold the CURRENT snapshot's version state back into plain base
    directories and retire every manifest — the bridge the in-place
    maintenance verbs (compaction fold, SCD2 in-place refresh) run
    inside their marker-dropped windows before touching base
    partitions directly, so their rewrites are never shadowed by a
    version assignment.

    State-driven and idempotent at every crash point: a partition is
    pending exactly while its owning version copy still exists —
    delete-base happens only when the version copy is present, so a
    re-run after ANY kill resumes where it stopped and finishes with
    the same directories. Callers own the reader-exclusion window
    (their ``_SUCCESS`` drop); this function never touches markers.
    Returns True when there was version state to fold."""
    versions = manifest_versions(spark, path)
    if not versions:
        return False
    snap = read_snapshot(spark, path, versions[-1])
    for rel, entry in snap.get("dirs", {}).items():
        d = os.path.join(path, rel)
        for name, tag in entry["assign"].items():
            src = os.path.join(d, f"{VERSION_DIR_PREFIX}{int(tag)}", name)
            if fsutil.is_dir(spark, src):
                fsutil.delete(spark, os.path.join(d, name))
                fsutil.rename(spark, src, os.path.join(d, name))
            # else: already folded by a prior (crashed) run
        for name in entry["dropped"]:
            fsutil.delete(spark, os.path.join(d, name))
        for child in fsutil.list_names(spark, d):
            if child.startswith(VERSION_DIR_PREFIX):
                fsutil.delete(spark, os.path.join(d, child))
    for v in versions:
        fsutil.delete(
            spark, os.path.join(path, f"{MANIFEST_PREFIX}{v}.json")
        )
    spark.catalog.refreshByPath(path)
    return True


def referenced_tags(snap: dict, rel: str) -> set[int]:
    """Version-directory tags the snapshot still references for
    ``rel`` — the vacuum sweep's keep-set."""
    entry = snap.get("dirs", {}).get(rel)
    if not entry:
        return set()
    return {int(t) for t in entry["assign"].values()}


__all__ = [
    "MANIFEST_PREFIX",
    "VERSION_DIR_PREFIX",
    "apply_cow_jobs",
    "collapse_snapshot",
    "current_version",
    "manifest_versions",
    "parse_partition_value",
    "publish_snapshot",
    "read_snapshot",
    "referenced_tags",
    "resolve_snapshot",
    "snapshot_dir_read",
    "versions_in",
]
