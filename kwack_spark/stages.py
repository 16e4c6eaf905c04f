"""One holder for intermediate stages kept in Spark memory.

A plan that reads an intermediate more than once holds it here, under a
tag, instead of calling ``persist`` itself.  Two kinds of hold:

* ``hold(tag, df)`` — a ``MEMORY_AND_DISK`` persist (lazy; the first
  action fills it).
* ``checkpoint(tag, df)`` — an eager ``localCheckpoint``: the stage is
  materialized now and downstream plans re-root on a ``LogicalRDD`` leaf,
  so a deep sequential DAG plans against an O(stage)-size tree instead of
  one that doubles at every anti-join.

Both rotate: per (SparkSession, kind, tag) at most ONE frame is held, so a
long-lived session calling an operator repeatedly does not pin one cache
per call (``DataFrame.persist`` is released only by ``unpersist``, never
by garbage collection).  A new frame whose analyzed plan ``sameResult``-
matches the held one while it is still resident gets the HELD frame back
(bench reps, a session re-running one query); any other frame releases
the held one first and then takes its place.

Caveat: plan equality over file sources reflects the files at read time,
so callers whose input files change between calls must not share a tag.
Checkpoint blocks live in executor storage and cannot be recomputed:
losing an executor fails the query (the job retry recomputes from
source), which is acceptable for intra-query stage state.
"""

from __future__ import annotations

import threading
import weakref

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# SparkSession -> {(kind, tag): (source frame, held frame)}.  Weak on the
# session: a stopped, dropped session releases its entries instead of
# pinning the last frame's plan forever.
_HELD: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_LOCK = threading.Lock()


def hold(tag: str, df: DataFrame) -> DataFrame:
    """``df`` persisted ``MEMORY_AND_DISK``, rotating the frame held under
    ``tag`` in this session."""
    return _rotate("hold", tag, df)


def checkpoint(tag: str, df: DataFrame) -> DataFrame:
    """``df`` eagerly ``localCheckpoint``-ed, rotating the checkpoint held
    under ``tag`` in this session.  The rows are identical; only the plan
    shape changes.

    Measured on the 7-stage all-modalities curation DAG at sf0.1: with
    every stage merely persisted, building the DataFrames took 17.7 s
    (no job) against ~2 s of execution.  AQE may coalesce a small stage
    to one partition and the checkpoint freezes that width; widening the
    checkpoint (a round-robin repartition) measured slower on both big
    curation DAGs at sf0.1 (7.8 -> 11.9 s and 6.6 -> 10.3 s warm), and at
    scale the coalesced width tracks data volume anyway."""
    return _rotate("checkpoint", tag, df)


def _resident(kind: str, held: DataFrame) -> bool:
    """True while the held frame's data is still in Spark storage.  An
    external ``clearCache()`` or unpersist (bench harnesses evict between
    queries) drops it behind our back; a checkpoint is probed through its
    ``LogicalRDD``'s storage level because its blocks cannot recompute."""
    try:
        if kind == "hold":
            lvl = held.storageLevel
            return lvl.useMemory or lvl.useDisk
        lvl = held._jdf.queryExecution().analyzed().rdd().getStorageLevel()
        return bool(lvl.useMemory() or lvl.useDisk())
    except Exception:
        return False


def _release(kind: str, held: DataFrame) -> None:
    try:
        if kind == "hold":
            held.unpersist(False)
        else:
            held._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _rotate(kind: str, tag: str, df: DataFrame) -> DataFrame:
    key = (kind, tag)
    with _LOCK:
        per_session = _HELD.setdefault(df.sparkSession, {})
        prev = per_session.pop(key, None)
        if prev is not None:
            src, held = prev
            try:
                if _resident(kind, held) and src._jdf.queryExecution().analyzed(
                ).sameResult(df._jdf.queryExecution().analyzed()):
                    per_session[key] = prev
                    return held
            except Exception:
                pass
            # Release BEFORE persisting the new frame: the CacheManager
            # uncaches by plan equality, so after an external eviction a
            # same-plan frame persisted first would lose its fresh entry
            # to this unpersist (measured 2.3 vs 8.3 s/rep on
            # dedup_simhash_hamming).
            _release(kind, held)
        if kind == "hold":
            out = df.persist(StorageLevel.MEMORY_AND_DISK)
            per_session[key] = (out, out)
            return out
    # Materialize OUTSIDE the lock so independent stage builds submitted
    # from a driver thread pool overlap (the incremental curation DAGs
    # build their history indexes concurrently).  Two concurrent builds
    # of the SAME tag would both materialize and the later store wins;
    # call sites use distinct tags.
    out = df.localCheckpoint(eager=True)
    with _LOCK:
        per_session[key] = (df, out)
    return out
