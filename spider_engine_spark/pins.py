"""One lifecycle for every cached or checkpointed frame.

- pin(df) caches a frame (Dataset.persist) or, with snapshot=True,
  takes a localCheckpoint of it, and registers the pin with the
  innermost scope() open on this thread. A pin made outside any scope
  lives for the session.
- release(df) frees a frame pin() returned. A cached frame is
  unpersisted. A localCheckpoint holds its blocks at the RDD layer,
  where Dataset.unpersist() does not reach, so its blocks are dropped
  by the RDD read off the frame's own plan — never off a storage diff,
  so another thread's pins in a shared session are never touched. A
  snapshot is unusable once released, and so is any lazy frame that
  still has to read it. Releasing a reliable df.checkpoint() frame is
  a no-op: it pins no blocks.
- scope() releases every pin still held when it exits. It yields the
  list of frames it holds.
- occupancy(spark) reports what the session holds: the persisted-RDD
  count and the bytes of their blocks (the REST `/_status` route).

Who releases: an operator that materializes its own pins (a k-means
fit, a streaming batch handler) opens its own scope. An operator that
returns a lazy frame reading its pins leaves them to the caller's
scope: queries, controller routes and tests materialize the result
inside one.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

_local = threading.local()


def _scopes() -> list[list[DataFrame]]:
    if not hasattr(_local, "scopes"):
        _local.scopes = []
    return _local.scopes


def pin(df: DataFrame, snapshot: bool = False, eager: bool = True) -> DataFrame:
    """Cache `df` (or localCheckpoint it when snapshot=True; `eager`
    is localCheckpoint's) and return the frame to read from."""
    df = df.localCheckpoint(eager=eager) if snapshot else df.persist()
    scopes = _scopes()
    if scopes:
        scopes[-1].append(df)
    return df


def release(df: DataFrame) -> None:
    """Free a frame pin() returned, whichever kind it is."""
    for held in _scopes():
        for i, d in enumerate(held):
            if d is df:
                del held[i]
                break
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD" and plan.rdd().isLocallyCheckpointed():
        plan.rdd().unpersist(False)
    else:
        df.unpersist()


def occupancy(spark) -> dict[str, int]:
    """The session's cache occupancy: how many RDDs are persisted, and
    the bytes their blocks hold in memory plus on disk."""
    jsc = spark.sparkContext._jsc
    return {
        "persisted_rdds": len(jsc.getPersistentRDDs()),
        "storage_bytes": sum(
            i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()
        ),
    }


@contextmanager
def scope() -> Iterator[list[DataFrame]]:
    """Release, on exit, every pin made inside and not yet released."""
    held: list[DataFrame] = []
    _scopes().append(held)
    try:
        yield held
    finally:
        _scopes().pop()
        for df in reversed(held):
            release(df)
