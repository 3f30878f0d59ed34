"""Snapshot reads of stored layouts: resolve one published
``_MANIFEST_v{N}.json`` — a per-partition owner map — in the style of
Delta Lake and Iceberg, without a transaction log service. How
snapshots are edited, published and retired is ``operators.store``'s;
this module resolves and publishes the manifest files.

- The current snapshot is the highest-numbered manifest; version 0
  is the base as written, its owner map recorded by the base writer
  in ``_META.json`` (``parts``), so there is no pointer file and no
  flip window.
- Resolving an older manifest is time travel: superseded owner
  directories stay on disk until retired. Version 0 resolves until
  its successor ``_MANIFEST_v1`` is retired.

Scale note: a manifest is O(#partitions × #owners) — bounded by
n_shards / #cells times the live batches per partition, which
compaction folds back to one — and is read once per open on the
driver. A table reads as ONE Parquet scan over the leaf directories
the map names; more than 32 leaves cost one Spark listing job.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import SparkSession

from .. import fsutil
from .store import META, MANIFEST_PREFIX

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
    manifest, 0 when the layout has never taken a commit since its
    base was written."""
    versions = manifest_versions(spark, path)
    return versions[-1] if versions else 0


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> dict:
    """Resolve ONE snapshot: ``{"version": N, "meta": {...},
    "tables": {table: {part_name: [owner, ...]}}, "batches": {batch_id:
    token or None}}``. ``version=None`` resolves the current snapshot;
    an explicit version is time travel and raises if that manifest was
    vacuumed away."""
    return resolve_snapshot(
        spark, path, manifest_versions(spark, path), version
    )


def base_snapshot(meta: dict) -> dict:
    """Version 0: the base as its writer recorded it. A ``meta``
    without ``parts`` (written before manifests owned every live
    file) yields no owner map, which ``store.open_layout`` refuses."""
    snap = {"version": 0, "meta": meta, "batches": {}}
    if "parts" in meta:
        snap["tables"] = {
            t: {p: [""] for p in parts} for t, parts in meta["parts"].items()
        }
    return snap


def resolve_snapshot(
    spark: SparkSession,
    path: str,
    versions: list[int],
    version: int | None = None,
) -> dict:
    """:func:`read_snapshot` against an already-listed ``versions``:
    one file read, the manifest's or (version 0) ``_META.json``."""
    current = versions[-1] if versions else 0
    if version is None:
        version = current
    if version == 0 and (not versions or versions[0] == 1):
        return base_snapshot(
            json.loads(fsutil.read_text(spark, os.path.join(path, META)))
        )
    if version not in versions:
        raise ValueError(
            f"stored layout at {path!r} has no snapshot manifest "
            f"v{version} — vacuumed away or never published; current "
            f"version is {current}"
        )
    mp = os.path.join(path, f"{MANIFEST_PREFIX}{version}.json")
    return json.loads(fsutil.read_text(spark, mp))


def publish_snapshot(spark: SparkSession, path: str, body: dict) -> bool:
    """Publish ``body`` as ``_MANIFEST_v{N}.json`` (N =
    ``body['version']``) unless that version exists: a temp-file
    write, then a rename that refuses an existing target. The manifest
    either exists complete or not at all, a published one is never
    overwritten, and False reports that another commit took version N
    first."""
    final = os.path.join(path, f"{MANIFEST_PREFIX}{body['version']}.json")
    tmp = f"{final}.{uuid.uuid4().hex[:8]}.tmp"
    fsutil.write_text(spark, tmp, json.dumps(body))
    try:
        fsutil.rename(spark, tmp, final)
    except FileExistsError:
        fsutil.delete(spark, tmp)
        return False
    return True


def parse_partition_value(name: str):
    """Partition directory name → value (int or None), the inverse
    of ``store.partition_dir_name`` — only integral and NULL partition
    values exist in this build's layouts (enforced at stage time)."""
    _, _, raw = name.partition("=")
    return None if raw == _NULL_PART else int(raw)


__all__ = [
    "base_snapshot",
    "current_version",
    "manifest_versions",
    "parse_partition_value",
    "publish_snapshot",
    "read_snapshot",
    "resolve_snapshot",
    "versions_in",
]
