"""Cluster-portable Hadoop FileSystem primitives — the IO the
stored-layout protocol (``operators.store``) is written in.

Every helper goes through the Hadoop FileSystem API
(``Path.getFileSystem(hadoopConf)`` via the session JVM) instead of
``os.path`` / ``open`` / ``glob``, so the SAME code path serves a bare
local path (resolved against ``fs.defaultFS``, the tested default),
an explicit ``file:/`` URI, or any ``hdfs:/`` / ``s3a:/`` scheme the
cluster's classpath provides — at the 100 TB production shape the
driver cannot POSIX-stat the layout. Marker and metadata files are
tiny (bytes), so the per-call Py4J overhead is constant and
irrelevant next to the table scans they guard.

Atomicity notes: Hadoop ``create(path, overwrite=True)``
truncates-then-writes (markers are zero-byte, so the visible state is
exists/not-exists); ``rename`` is the layout-swap primitive (atomic on
HDFS, best-effort elsewhere — ``operators.store`` orders operations
so a crash inside a base swap leaves a marker-less, reader-refused
layout and a crash inside any other commit leaves the previous
snapshot current, never a half-validated one).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import SparkSession

#: Characters Hadoop's path globber interprets as pattern syntax.
#: Spark's DataFrameReader treats EVERY read path as a glob, so a
#: layout path containing one could silently resolve elsewhere.
_GLOB_METACHARS = set("*?[]{}")


def validate_layout_path(path: str, what: str = "index") -> None:
    """Raise if ``path`` contains Hadoop glob metacharacters — the
    layout would be unreadable (or read the WRONG directory) through
    Spark's glob-interpreting reader paths."""
    bad = sorted(set(path) & _GLOB_METACHARS)
    if bad:
        raise ValueError(
            f"{what} path {path!r} contains glob metacharacters "
            f"{bad}: Spark reads every path as a Hadoop glob, so this "
            "layout could silently resolve to a different directory — "
            "use a literal path"
        )


def _fs_path(spark: "SparkSession", path: str):
    """(FileSystem, Path) for ``path``, resolved by its own scheme —
    a bare path uses ``fs.defaultFS``, a ``file:/`` or ``hdfs:/`` URI
    its own filesystem. Checksum-wrapped filesystems (the local
    default) are unwrapped to their raw layer: marker/metadata files
    must stay interoperable with plain tooling (a ``.crc`` sidecar
    would make a hand-edited ``_META.json`` unreadable and litter the
    layout with shadow files the commit protocol never wrote)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        fs = fs.getRawFileSystem()
    except Exception:
        pass  # not a ChecksumFileSystem (hdfs/s3a): use as-is
    return fs, jpath


def exists(spark: "SparkSession", path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def is_dir(spark: "SparkSession", path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def delete(spark: "SparkSession", path: str) -> bool:
    """Recursive delete; False if the path did not exist."""
    fs, p = _fs_path(spark, path)
    return bool(fs.delete(p, True))


def mkdirs(spark: "SparkSession", path: str) -> None:
    """Create ``path`` (and parents) — the pre-step Hadoop rename
    needs when moving into a directory that does not exist yet."""
    fs, p = _fs_path(spark, path)
    fs.mkdirs(p)


def rename(spark: "SparkSession", src: str, dst: str) -> None:
    """Move ``src`` to ``dst`` (the staged-layout swap primitive).
    Hadoop rename returns False instead of raising on most failure
    shapes (dst exists, src missing) — normalize to a loud error, a
    silent half-swapped index being exactly what the commit protocol
    must never produce."""
    fs, s = _fs_path(spark, src)
    _, d = _fs_path(spark, dst)
    if not fs.rename(s, d):
        raise OSError(f"rename failed: {src!r} -> {dst!r}")


def touch(spark: "SparkSession", path: str) -> None:
    """Create (or truncate) an empty marker file."""
    fs, p = _fs_path(spark, path)
    fs.create(p, True).close()


def create_exclusive(spark: "SparkSession", path: str, text: str) -> bool:
    """Atomically create ``path`` with ``text`` iff it does not exist
    (Hadoop ``create(overwrite=False)`` — the lock-file primitive the
    maintainer lease builds on). Returns False when the file already
    exists."""
    fs, p = _fs_path(spark, path)
    try:
        out = fs.create(p, False)
    except Exception:
        return False
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    return True


def write_text(spark: "SparkSession", path: str, text: str) -> None:
    fs, p = _fs_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text(spark: "SparkSession", path: str) -> str:
    fs, p = _fs_path(spark, path)
    stream = fs.open(p)
    try:
        # FSDataInputStream is a java.io.InputStream; Java 11+
        # readAllBytes crosses Py4J as one byte payload (metadata
        # documents are tiny by contract).
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def list_names(spark: "SparkSession", path: str) -> list[str]:
    """Immediate-child basenames of a directory (sorted), [] if the
    directory does not exist — the glob-free replacement for marker
    discovery (name filtering happens in Python, so metacharacters in
    names can never re-enter glob syntax)."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return []
    return sorted(s.getPath().getName() for s in fs.listStatus(p))


def committed_delta_batches(spark: "SparkSession", path: str) -> list[str]:
    """Forwards to :func:`operators.store.committed_delta_batches`,
    which owns the marker names; kept here because
    ``perfbench/workloads.py`` imports it from this module."""
    from .operators.store import committed_delta_batches

    return committed_delta_batches(spark, path)


def du(spark: "SparkSession", path: str) -> tuple[int, int]:
    """(file_count, total_bytes) under ``path``, recursively — the
    reclamation accounting the vacuum verb reports. (0, 0) for a
    missing path."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return 0, 0
    s = fs.getContentSummary(p)
    return int(s.getFileCount()), int(s.getLength())


def has_parquet(spark: "SparkSession", path: str) -> bool:
    """True if any ``*.parquet`` file exists under ``path``
    (recursive) — the empty-vs-populated table probe. False for a
    missing directory (callers distinguish missing-vs-empty BEFORE
    calling; see ``operators.store.open_table``)."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return False
    it = fs.listFiles(p, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            return True
    return False
