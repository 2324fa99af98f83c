"""Tracked operator-internal caches + an explicit release hook.

Several operators persist intermediate frames mid-plan because a
frame feeds two consumers (funnel stage counts + the next stage's
join; a size guard's count + the guarded scan; the staged executor's
undecided set per stage; dedup candidate/token frames).  Those
persists are correct under LRU eviction, but nothing ever released
them (SCALE.md "Known trade-offs", r6 VERDICT watch item): a
months-long session accumulates storage blocks until eviction
pressure — silent cache-thrash, not failure.

This module makes every such persist *tracked* and gives callers two
release surfaces:

- :func:`release_caches` — drop every tracked frame's storage now.
  Safe at any time: ``unpersist`` never breaks correctness (a
  still-referenced lazy plan recomputes), it only costs recompute if
  called before the consumer materialized.
- :func:`cache_scope` — a context manager releasing exactly the
  frames tracked inside it, for the natural "run plan → materialize
  → release" lifecycle::

      with cache_scope():
          out = PlanExecutor().execute(df, plan)
          rows = out.collect()   # materialize INSIDE the scope
      # operator-internal blocks from this plan are gone here

Why not unpersist inside the operators themselves: they return LAZY
frames — the persisted intermediates are still upstream of the
returned plan, so releasing before the caller materializes would
negate the persist (double execution, the exact thing it prevents).
Only the caller knows when materialization happened; hence a hook,
not an automatism.  Tracking holds strong references deliberately —
a garbage-collected Python DataFrame does NOT drop its JVM storage,
so a weak registry would leak exactly the blocks it exists to free.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

__all__ = [
    "cache_scope", "force", "lineage_cut", "release_caches", "track",
    "tracked_persist",
]

_LOCK = threading.Lock()
_TRACKED: list[DataFrame] = []
#: per-app memo: (requested checkpoint_dir, the qualified
#: getCheckpointDir() value observed right after setting it)
_CKPT_DIRS: dict[str, tuple[str, str | None]] = {}


def tracked_persist(
    df: DataFrame, level: StorageLevel | None = None
) -> DataFrame:
    """``df.persist(level)`` + register for :func:`release_caches`."""
    df = df.persist(level) if level is not None else df.persist()
    with _LOCK:
        _TRACKED.append(df)
    return df


def force(df: DataFrame) -> None:
    """Run ``df`` to the end in one job, keeping no output.

    Fills a persisted frame's cache completely, like ``count()``, but
    without the count's final aggregation: that adds a shuffle stage,
    which adaptive execution runs as extra jobs.
    """
    df.write.format("noop").mode("overwrite").save()


def lineage_cut(
    df: DataFrame, checkpoint_dir: str | None, eager: bool = True
) -> DataFrame:
    """Cut a growing iterative lineage: reliable or local checkpoint.

    Iterative loops (dedup_clusters' label propagation, pagerank)
    must truncate lineage every few rounds or Catalyst's plan grows
    exponentially.  ``checkpoint_dir=None`` (the local[*] default)
    uses ``localCheckpoint`` — zero-config, but blocks live only in
    executor storage, so on a REAL cluster an executor loss makes
    the truncated lineage unrecoverable mid-loop.  Passing a
    ``checkpoint_dir`` (HDFS/S3 path on a cluster) switches to
    reliable ``checkpoint()``: blocks are written to the fault-
    tolerant store and the job survives executor loss.  Results are
    identical either way — only durability changes.

    Reliable mode persists around the cut: a bare ``checkpoint()``
    recomputes the frame's full lineage a second time inside the
    separate checkpoint-write job (Spark's documented behavior —
    ``localCheckpoint`` avoids it by persisting), which would double
    every loop round's compute on exactly the cluster deployments
    the option targets.  The scratch persist is released once the
    checkpoint holds the data.
    """
    if checkpoint_dir:
        sc = df.sparkSession.sparkContext
        # setCheckpointDir mkdirs a fresh random-UUID subdirectory on
        # EVERY call (it is NOT an idempotent set) — remember what we
        # set per SparkContext so a 50-round loop issues one mkdir,
        # not 50 scattered UUID dirs
        app = sc.applicationId
        with _LOCK:
            # The memo alone goes stale if foreign code calls
            # sc.setCheckpointDir directly, which would silently send
            # our checkpoints into the foreign directory.  Comparing
            # the live value against the CALLER's path form is
            # hopeless (relative vs absolute, file:// vs bare,
            # default-FS qualification on hdfs:// clusters), so we
            # memoize getCheckpointDir()'s OWN return (the qualified
            # <dir>/<uuid> string) right after we set it, and
            # re-verify the live value against that recorded string —
            # an exact match, no path-form normalization to get wrong.
            live = sc.getCheckpointDir()
            rec = _CKPT_DIRS.get(app)
            if (
                rec is None
                or rec[0] != checkpoint_dir
                or live != rec[1]
            ):
                sc.setCheckpointDir(checkpoint_dir)
                _CKPT_DIRS[app] = (checkpoint_dir, sc.getCheckpointDir())
        if eager:
            # Scratch-persist only frames the caller has NOT already
            # persisted — the finally-unpersist must never evict a
            # cache the caller owns (e.g. via tracked_persist).
            already = df.storageLevel.useMemory or df.storageLevel.useDisk
            if already:
                return df.checkpoint(eager=True)
            df.persist()
            try:
                out = df.checkpoint(eager=True)
            finally:
                df.unpersist()
            return out
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=eager)


def track(df: DataFrame) -> DataFrame:
    """Register an ALREADY-persisted frame for :func:`release_caches`.

    For results materialized inside a :func:`cache_scope` that must
    outlive it (the scope releases everything tracked within it):
    persist untracked inside the scope, then ``track()`` after exit
    so the storage still participates in the global release hook
    instead of leaking until session end.
    """
    with _LOCK:
        _TRACKED.append(df)
    return df


def release_caches(blocking: bool = False) -> int:
    """Unpersist every tracked frame; returns how many were released.

    Correct-at-any-time: a consumer that still holds a released lazy
    plan recomputes (slower, never wrong).  Exceptions from frames
    whose SparkContext already stopped are swallowed — release is a
    cleanup path, not a computation.
    """
    with _LOCK:
        frames = list(_TRACKED)
        _TRACKED.clear()
    n = 0
    for f in frames:
        try:
            f.unpersist(blocking)
            n += 1
        except Exception:  # noqa: BLE001 — best-effort cleanup
            pass
    return n


@contextmanager
def cache_scope(blocking: bool = False):
    """Release exactly the frames tracked while the scope was open.

    Frames tracked BEFORE entry are untouched (nesting-safe: an
    inner scope never releases an outer scope's frames)."""
    with _LOCK:
        mark = len(_TRACKED)
    try:
        yield
    finally:
        with _LOCK:
            tail = _TRACKED[mark:]
            del _TRACKED[mark:]
        for f in tail:
            try:
                f.unpersist(blocking)
            except Exception:  # noqa: BLE001 — best-effort cleanup
                pass
