"""Snapshot reads of stored layouts: resolve one published
``_MANIFEST_v{N}.json`` and read each table directory as of it, in
the style of Delta Lake and Iceberg, without a transaction log
service. How manifests are staged, published and retired is
``operators.store``'s; this module is the read side plus the manifest
body algebra.

- The current snapshot is the highest-numbered manifest; version 0
  is the implicit empty snapshot (plain directories are the whole
  truth), so there is no pointer file and no flip window.
- A table directory reads as its base partitions minus those the
  snapshot shadows, unioned with each owning version directory
  filtered to the partitions it owns (:func:`snapshot_dir_read`).
  Resolving an older manifest is time travel: superseded partition
  copies stay on disk until retired.

Scale note: a manifest is O(#rewritten partitions) — bounded by
n_shards / #cells per layout family — and is read once per open on
the driver. The read plan adds one filtered scan per live version
tag, not per partition.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from .store import MANIFEST_PREFIX, VERSION_DIR_PREFIX, partition_filter

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
    never see a torn file. A published manifest is never
    overwritten: re-publishing an existing version is a no-op."""
    final = os.path.join(path, f"{MANIFEST_PREFIX}{body['version']}.json")
    if fsutil.exists(spark, final):
        return
    tmp = final + ".tmp"
    fsutil.write_text(spark, tmp, json.dumps(body))
    fsutil.rename(spark, tmp, final)


def parse_partition_value(name: str):
    """Partition directory name → value (int or None), the inverse
    of ``store.partition_dir_name`` — only integral and NULL partition
    values exist in this build's layouts (enforced at stage time)."""
    _, _, raw = name.partition("=")
    return None if raw == _NULL_PART else int(raw)


def next_snapshot(
    snap: dict,
    jobs: list[dict],
    version: int,
    meta: dict,
    folded=(),
) -> dict:
    """The manifest body after a rewrite of ``jobs`` (each ``{"dir",
    "partition_col", "swap": [names], "drop": [names]}``) at
    ``version``: swapped partitions become owned by the new version
    directory, dropped ones join the dropped set, the entries of the
    delta dirs of ``folded`` batches go, and everything else carries
    forward. ``meta`` is the full post-commit layout metadata;
    ``folded`` joins the cumulative folded batch ids."""
    gone = set(folded)
    dirs = {
        rel: {
            "partition_col": e["partition_col"],
            "assign": dict(e.get("assign", {})),
            "dropped": list(e.get("dropped", [])),
        }
        for rel, e in snap.get("dirs", {}).items()
        if rel.partition("_delta_")[2] not in gone
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
            e["assign"][name] = version
            dropped.discard(name)
        for name in job["drop"]:
            e["assign"].pop(name, None)
            dropped.add(name)
        e["dropped"] = sorted(dropped)
    return {
        "version": version,
        "dirs": dirs,
        "meta": meta,
        "folded": sorted(gone | set(snap.get("folded", ()))),
    }


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


__all__ = [
    "MANIFEST_PREFIX",
    "VERSION_DIR_PREFIX",
    "current_version",
    "manifest_versions",
    "next_snapshot",
    "parse_partition_value",
    "publish_snapshot",
    "read_snapshot",
    "resolve_snapshot",
    "snapshot_dir_read",
    "versions_in",
]
