"""The one owner of cached intermediates: persists and local checkpoints.

No other module calls ``persist``/``cache``/``localCheckpoint``/
``unpersist``; they go through four functions here:

- :func:`persist` — ``df.persist()`` (the ``cache()`` level), registered;
- :func:`checkpoint` — ``df.localCheckpoint(eager)``, registered by the
  id of the RDD that backs it;
- :func:`release` — free ONE registered frame now: the ``finally`` of a
  local persist pair, or a superseded generation of an iterative loop.
  A frame that is not (or no longer) registered is a no-op, so a
  repeated release is safe;
- :func:`release_all` — free everything registered on one SparkContext.
  The owner of the terminal action calls it (``Pipeline.run``, benchmark
  loops), on the failure path as well as the success path.

Lifetime contract:

- Releasing a PERSISTED frame is always safe.  ``persist`` keeps full
  lineage, so a released frame silently recomputes if a caller re-uses
  it; the only cost of over-releasing is recomputation.
- Releasing a CHECKPOINT leaves its frame unusable.  ``localCheckpoint``
  truncates lineage, so the blocks cannot be recomputed: a caller that
  keeps a checkpoint-backed result (``graph.connected_components``) must
  be done with it before its owner calls :func:`release_all`.

Entries are keyed by SparkContext identity, so parallel sessions (or a
restarted context in tests) never release each other's blocks — for a
checkpoint a wrong release is unrecoverable.  Persisted frames are held
by WEAK reference: a strong module-global ref would pin every frame for
the session lifetime, and a caller that never releases could no longer
rely on the ContextCleaner reclaiming the blocks at GC time.  A
checkpoint entry also keeps its RDD id, which outlives the Python frame:
the final generation of a loop stays releasable after the loop's local
frame is gone.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame

#: (SparkContext, weakref-to-frame, checkpoint RDD id or None) per
#: registration.  Locked: foreachBatch bodies persist from the streaming
#: callback thread while the driver thread may be releasing.
_LIVE: list[tuple[object, weakref.ReferenceType, int | None]] = []
_LOCK = threading.Lock()


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it; returns the persisted frame."""
    df = df.persist()
    _register(df, None)
    return df


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``localCheckpoint`` ``df`` and register its backing RDD.

    Lazy by default: the caller's next action materializes the blocks
    (one job instead of a checkpoint job plus the action's own scan)."""
    out = df.localCheckpoint(eager=eager)
    _register(out, _checkpoint_rdd_id(out))
    return out


def release(df: DataFrame) -> None:
    """Free ``df``'s blocks NOW (asynchronously) if it is registered."""
    for sc, _, rid in _take(lambda e: e[1]() is df):
        _free(sc, df, rid)


def release_all(spark=None) -> int:
    """Free every registered frame and checkpoint on ``spark``'s context
    (identity comparison); without ``spark``, on every context.  Returns
    the number of entries released.  Entries whose context has stopped
    are dropped without error."""
    target = spark.sparkContext if spark is not None else None
    taken = _take(lambda e: target is None or e[0] is target)
    for sc, ref, rid in taken:
        _free(sc, ref(), rid)
    return len(taken)


def _register(df: DataFrame, rid: int | None) -> None:
    with _LOCK:
        _LIVE.append((df.sparkSession.sparkContext, weakref.ref(df), rid))


def _take(match) -> list[tuple[object, weakref.ReferenceType, int | None]]:
    """Unregister and return the entries ``match`` selects.  Persist
    entries whose frame was garbage-collected are dropped on the way
    (the ContextCleaner reclaims their blocks)."""
    with _LOCK:
        taken, kept = [], []
        for e in _LIVE:
            if match(e):
                taken.append(e)
            elif e[2] is not None or e[1]() is not None:
                kept.append(e)
        _LIVE[:] = kept
    return taken


def _free(sc, df: DataFrame | None, rid: int | None) -> None:
    try:
        if rid is not None:
            jrdd = sc._jsc.getPersistentRDDs().get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)
        elif df is not None:
            df.unpersist(False)
    except Exception:
        pass  # stopped context / already-released blocks: nothing to free


def _checkpoint_rdd_id(df: DataFrame) -> int | None:
    """The block-manager RDD id backing a ``localCheckpoint``-ed frame.

    A checkpointed Dataset's analyzed plan is a ``LogicalRDD`` wrapping
    the materialized RDD — its id, exactly, is what to unpersist.
    Extracting the id from the plan (rather than diffing
    ``getPersistentRDDs`` snapshots) matters: the first checkpoint action
    also materializes any shared ``persist()`` caches feeding it (e.g.
    the MinHash shingle cache upstream of an edge list), and a snapshot
    diff would claim — then evict — those, forcing every later run to
    refill them.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return int(plan.rdd().id())
    except Exception:
        pass
    return None


def _persistent_rdd_ids(sc) -> set[int]:
    """Ids of RDDs currently pinned in the block manager (storage level set)."""
    return {int(i) for i in sc._jsc.getPersistentRDDs().keySet()}
