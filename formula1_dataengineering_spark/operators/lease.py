"""Single-maintainer lease for stored layouts (round 16, VERDICT r15
item 3) — the documented single-maintainer CONTRACT made
self-enforcing.

Every maintenance-family verb (compact / maintain / vacuum / delete /
expire) runs under a ``_MAINTAINER_LEASE.json`` at the layout root:

- **Acquire** is an atomic exclusive create (Hadoop
  ``create(overwrite=False)``): the first maintainer wins, a second
  concurrent maintainer FAILS LOUDLY mid-call instead of racing the
  manifest — the exact double-schedule accident (two nightly ticks,
  a human + cron) the contract previously only documented.
- **Fencing token**: each acquisition writes ``token`` = previous
  token + 1. A verb that somehow lost its lease can detect the
  takeover (its token is stale); the token is persisted so the
  ordering survives restarts.
- **Expiry steal**: a lease whose ``expires_unix`` passed belongs to
  a crashed maintainer — the next acquire deletes it and retries the
  exclusive create. Crash recovery is therefore bounded by the TTL
  (default 15 min), and the crashed verb's own resume machinery
  (pending COW / compaction manifests) finishes its work under the
  NEW lease.
- **Re-entrant per process**: the umbrella tick calls family verbs,
  which call compaction, which resumes COW — one logical maintainer.
  A process-local depth counter keeps one on-disk lease for the
  whole nesting; only the outermost release deletes the file. The
  holder id is stable per process (pid + random suffix), so a
  SAME-process re-run after an in-process failure re-enters its own
  unexpired lease instead of deadlocking on it.

Not a distributed lock manager: the steal (delete + re-create) has a
window two stealers could race, exactly as every lease-over-
filesystem design (Delta's commit protocol on S3 has the same
boundary without a coordination service). The lease exists to make
accidental concurrency fail loudly and crashed maintainers
recoverable — byzantine concurrent stealers remain out of scope, as
documented since round 11.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid

from pyspark.sql import SparkSession

from .. import fsutil

LEASE_FILE = "_MAINTAINER_LEASE.json"
DEFAULT_TTL_S = 900

#: this process's stable maintainer identity
_HOLDER = f"pid-{os.getpid()}-{uuid.uuid4().hex[:8]}"

#: process-local re-entrancy: layout path -> nesting depth
_DEPTH: dict[str, int] = {}


def current_holder() -> str:
    """This process's maintainer id (stable for the process life)."""
    return _HOLDER


def read_lease(spark: SparkSession, path: str) -> dict | None:
    """The lease on ``path``, or None. A torn/unparseable lease file
    reads as a lease that never expires EXCEPT by steal-after-ttl
    from its mtime — but torn writes cannot happen here (the create
    is exclusive and small); treat parse failure as corruption."""
    lp = os.path.join(path, LEASE_FILE)
    if not fsutil.exists(spark, lp):
        return None
    return json.loads(fsutil.read_text(spark, lp))


def acquire_lease(
    spark: SparkSession,
    path: str,
    ttl_seconds: int = DEFAULT_TTL_S,
    holder: str | None = None,
) -> dict:
    """Take (or re-enter) the maintainer lease on ``path``. Raises
    ``RuntimeError`` when another live maintainer holds it. Returns
    the lease dict (with its fencing ``token``)."""
    holder = holder or _HOLDER
    key = os.path.abspath(path)
    if _DEPTH.get(key, 0) > 0:
        _DEPTH[key] += 1
        return read_lease(spark, path) or {"holder": holder, "token": 0}
    lp = os.path.join(path, LEASE_FILE)
    now = time.time()
    prev_token = 0
    existing = read_lease(spark, path)
    if existing is not None:
        prev_token = int(existing.get("token", 0))
        released = existing.get("released", False)
        if not released and existing.get("holder") == holder:
            # Our own unexpired lease from an in-process failure:
            # re-enter it (same holder = same logical maintainer).
            _DEPTH[key] = 1
            return existing
        if not released and float(existing.get("expires_unix", 0)) > now:
            raise RuntimeError(
                f"stored layout at {path!r} is held by maintainer "
                f"{existing.get('holder')!r} until "
                f"{existing.get('expires_unix')} (token "
                f"{prev_token}) — a second concurrent maintainer "
                "would race the manifest; wait for the lease or let "
                "it expire (crashed maintainers are stolen after "
                "their TTL)"
            )
        # Released tombstone (the common free state — it preserves
        # the fencing-token chain across acquisitions and restarts)
        # or an expired lease (a crashed maintainer): take it over.
        fsutil.delete(spark, lp)
    lease = {
        "holder": holder,
        "token": prev_token + 1,
        "acquired_unix": now,
        "expires_unix": now + ttl_seconds,
    }
    if not fsutil.create_exclusive(spark, lp, json.dumps(lease)):
        # Lost the (tiny) steal race to another maintainer.
        raise RuntimeError(
            f"stored layout at {path!r}: another maintainer acquired "
            "the lease concurrently — back off and retry"
        )
    _DEPTH[key] = 1
    return lease


def release_lease(spark: SparkSession, path: str) -> None:
    """Leave the lease scope; the outermost release replaces the
    on-disk lease with a RELEASED tombstone carrying the final
    fencing token — the chain stays monotone across acquisitions and
    process restarts (a deleted file would reset it to 0)."""
    key = os.path.abspath(path)
    depth = _DEPTH.get(key, 0)
    if depth > 1:
        _DEPTH[key] = depth - 1
        return
    _DEPTH.pop(key, None)
    lp = os.path.join(path, LEASE_FILE)
    current = None
    if fsutil.exists(spark, lp):
        try:
            current = json.loads(fsutil.read_text(spark, lp))
        except (OSError, ValueError):
            current = None
    token = int(current.get("token", 0)) if current else 0
    fsutil.write_text(
        spark,
        lp,
        json.dumps(
            {"holder": None, "token": token, "released": True}
        ),
    )


class maintenance_lease:
    """``with maintenance_lease(spark, path):`` — the scope every
    maintenance-family verb wraps its work in."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        ttl_seconds: int = DEFAULT_TTL_S,
        holder: str | None = None,
    ) -> None:
        self._spark = spark
        self._path = path
        self._ttl = ttl_seconds
        self._holder = holder
        self.lease: dict | None = None

    def __enter__(self) -> dict:
        self.lease = acquire_lease(
            self._spark, self._path, self._ttl, self._holder
        )
        return self.lease

    def __exit__(self, exc_type, exc, tb) -> None:
        release_lease(self._spark, self._path)


def maintainer_verb(verb):
    """Decorate ``verb(spark, path, ...)`` to run under the maintainer
    lease on ``path``: one live maintainer per layout; a concurrent
    second is refused loudly, a crashed one is stolen after its TTL.
    The wrapper keeps the verb's name, docstring and signature."""

    @functools.wraps(verb)
    def leased(spark: SparkSession, path: str, *args, **kwargs):
        with maintenance_lease(spark, path):
            return verb(spark, path, *args, **kwargs)

    return leased


__all__ = [
    "DEFAULT_TTL_S",
    "LEASE_FILE",
    "acquire_lease",
    "current_holder",
    "maintainer_verb",
    "maintenance_lease",
    "read_lease",
    "release_lease",
]
