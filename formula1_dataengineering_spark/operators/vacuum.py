"""Retention / vacuum — the reclamation verbs: a year-long deployment
accumulates garbage no other verb reclaims — staging left by crashed
writers, delta directories whose refresh died before the commit
marker, superseded snapshots — plus, for the SCD2 history layout,
superseded closed versions that retention policy says to expire.

Two verbs:

- :func:`vacuum_layout` removes PHYSICAL garbage only — the layout's
  current logical content (what any reader returns) is before==after
  by contract, because everything swept is already invisible: readers
  union deltas via commit markers (an unmarked delta dir is a crashed
  refresh), staging belongs to a writer that will recreate it or to
  a retired protocol, ``.spark-staging-*`` residue is a killed Spark
  write job's own scratch, and superseded snapshot state is what
  :func:`operators.store.retire` deletes after compaction.
- :func:`expire_scd2_history` changes logical content BY POLICY:
  per key it keeps the current row plus the ``retain_versions`` most
  recent closed versions and deletes older ones, copy-on-write over
  touched shards only (``operators.store``'s partition rewrite).

Concurrency: single maintainer, same as ``operators.compaction``.
Concurrent INGEST during :func:`vacuum_layout` is NOT safe for the
unmarked-delta sweep (a refresh mid-write looks exactly like a
crashed one) — run vacuum in the maintenance window, after the
ingest tick. All IO through the Hadoop FileSystem API (``fsutil``).

100 TB story: the sweep is pure filesystem metadata (list + content
summaries + recursive deletes — no data read); history expiry reads
one full history scan to FIND expirable keys and rewrites only the
shards holding them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from .. import fsutil
from . import store
from .lease import maintainer_verb


@maintainer_verb
def vacuum_layout(
    spark: SparkSession, path: str, what: str = "stored layout"
) -> dict:
    """Sweep a stored layout's physical garbage. Only four classes
    are removed — anything else under the root (live deltas and their
    markers, base tables, metadata, gate sentinels, cached
    "_"-prefixed siblings like a stream source) is left untouched,
    deliberately: vacuum deletes only what the layout's own protocols
    define as dead.

    1. staging — ``_staging/`` (a crashed base rebuild's residue; the
       next writer would sweep it anyway) and the ``_compact/`` /
       ``_cow_staging/`` dirs of retired commit protocols;
    2. ``<table>_delta_<bid>/`` directories whose
       ``_DELTA_<bid>._SUCCESS`` commit marker is missing — a
       refresh that died between the delta write and the marker
       (readers already ignore them). The ``<table>`` prefix must
       name an existing table directory of THIS layout, so an
       unrelated sibling like ``notes_delta_old`` survives;
    3. ``.spark-staging-*`` residue — a killed Spark write job's own
       scratch, at the layout root and one level down inside each
       table/delta directory (where partitioned writers put it);
    4. superseded snapshot state — :func:`operators.store.retire`:
       manifests below the current version, version directories the
       current snapshot does not reference (a crashed rewrite's
       staging included), base partitions it shadows, and folded
       deltas with their markers. Time-travel reads of old snapshots
       work until this sweep, never after.

    Requires a readable layout (``_SUCCESS`` present): vacuuming
    under a rebuild's commit window would race the swap. Returns
    ``{"files_removed", "bytes_reclaimed", "orphan_deltas_removed",
    "staging_removed", "spark_staging_removed", "snapshots_retired",
    "version_dirs_removed"}``."""
    fsutil.validate_layout_path(path, what)
    names = fsutil.list_names(spark, path)
    if store.SUCCESS not in names:
        raise ValueError(
            f"{what} at {path!r} has no _SUCCESS marker — a crashed "
            "or in-flight rebuild; re-run the writer before vacuuming"
        )
    marked = set(store.batches_in(names))

    def _spark_written(d: str) -> bool:
        # A directory belongs to the layout only if its DIRECT
        # children look like a Spark-written table: its own _SUCCESS
        # marker, a *.parquet part file, or an '='-partition dir
        # (ADVICE r15: the bare name heuristic treated user scratch
        # like notes/ as a table). A hidden child (.spark-staging
        # residue INSIDE scratch) is deliberately not evidence of
        # ownership.
        return any(
            c == store.SUCCESS or c.endswith(".parquet") or "=" in c
            for c in fsutil.list_names(spark, d)
            if not c.startswith(".")
        )

    # The layout's own table directories: non-hidden dirs that are
    # neither deltas nor partition dirs AND carry Spark-written
    # content — the anchor classes 2 and 3 require.
    tables = {
        n
        for n in names
        if not n.startswith(("_", "."))
        and "_delta_" not in n
        and "=" not in n
        and fsutil.is_dir(spark, os.path.join(path, n))
        and _spark_written(os.path.join(path, n))
    }
    out = {
        "files_removed": 0,
        "bytes_reclaimed": 0,
        "orphan_deltas_removed": 0,
        "staging_removed": 0,
        "spark_staging_removed": 0,
    }

    def sweep(d: str, key: str) -> None:
        n, b = fsutil.du(spark, d)
        fsutil.delete(spark, d)
        out["files_removed"] += n
        out["bytes_reclaimed"] += b
        out[key] += 1

    for name in names:
        if name in (store.STAGING,) + store.DEAD_STAGING:
            sweep(os.path.join(path, name), "staging_removed")
        elif name.startswith(".spark-staging"):
            sweep(os.path.join(path, name), "spark_staging_removed")
        elif "_delta_" in name:
            table, _, bid = name.partition("_delta_")
            if table in tables and bid not in marked:
                sweep(os.path.join(path, name), "orphan_deltas_removed")
    # Class 3, one level down: partitioned writers create their job
    # scratch INSIDE the output directory. Same anchor as class 2:
    # descend only into the layout's OWN table and delta directories.
    own_deltas = {
        n
        for n in names
        if "_delta_" in n and n.partition("_delta_")[0] in tables
    }
    for name in sorted(tables | own_deltas):
        d = os.path.join(path, name)
        if not fsutil.is_dir(spark, d):
            continue
        for child in fsutil.list_names(spark, d):
            if child.startswith(".spark-staging"):
                sweep(os.path.join(d, child), "spark_staging_removed")
    if out["files_removed"]:
        spark.catalog.refreshByPath(path)
    retired = store.retire(spark, path, tables)
    out["files_removed"] += retired.pop("files_removed")
    out["bytes_reclaimed"] += retired.pop("bytes_reclaimed")
    return {**out, **retired}


@maintainer_verb
def expire_scd2_history(
    spark: SparkSession, path: str, retain_versions: int
) -> dict:
    """RETENTION over a stored SCD2 history layout: per key, keep the
    current row plus the ``retain_versions`` most recent CLOSED
    versions (by ``effective_from_us`` descending — unique per key by
    the :func:`operators.scd.scd2_history` tie contract) and delete
    everything older. Copy-on-write: only shards holding at least one
    expirable row are rewritten, through ``operators.store``'s
    partition rewrite (untouched shards never read or written); the
    touched-shard set is a bounded driver collect (≤ n_shards), the
    same static-pruning discipline as the in-place refresh.

    The layout stays readable throughout and the pre-expiry snapshot
    stays readable until vacuum. A crash before the publish leaves
    the old snapshot current; a re-run after a full commit is a clean
    no-op (already-swept shards have nothing left to expire).

    Returns ``{"rows_expired", "shards_rewritten"}`` (both 0 = clean
    no-op, nothing published)."""
    if retain_versions < 0:
        raise ValueError(
            f"expire_scd2_history: retain_versions={retain_versions} "
            "must be >= 0 (0 keeps only each key's current row)"
        )
    layout = store.open_layout(
        spark, path, "scd2 history layout", "write_scd2_history"
    )
    hist = store.open_table(
        spark, layout, ["history_rows"], "history_schema"
    )
    key_col = layout.meta["key_col"]
    w = Window.partitionBy(key_col).orderBy(
        F.col("effective_from_us").desc()
    )
    closed = hist.where(~F.col("is_current")).withColumn(
        "__rk", F.row_number().over(w)
    )
    expirable = closed.where(F.col("__rk") > retain_versions)
    # ONE aggregated pass yields both the touched-shard set and the
    # expired-row count (bounded: ≤ n_shards rows) — the find phase
    # is the dominant read of this verb's 100 TB story, so it runs
    # the full window plan exactly once (round-14 review).
    per_shard = expirable.groupBy("shard").count().collect()
    touched = sorted(
        (r["shard"] for r in per_shard), key=lambda v: (v is None, v)
    )
    if not touched:
        return {"rows_expired": 0, "shards_rewritten": 0}
    rows_expired = sum(r["count"] for r in per_shard)
    slice_ = hist.where(store.partition_filter("shard", touched))
    keep_current = slice_.where(F.col("is_current"))
    keep_closed = (
        slice_.where(~F.col("is_current"))
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= retain_versions)
        .drop("__rk")
    )
    out = keep_current.unionByName(keep_closed)
    job = store.stage_rewrite(
        spark,
        layout,
        "history_rows",
        out,
        "shard",
        touched,
        (key_col, "effective_from_us"),
    )
    store.commit_rewrite(spark, layout, [job])
    return {
        "rows_expired": rows_expired,
        "shards_rewritten": len(touched),
    }


__all__ = ["expire_scd2_history", "vacuum_layout"]
