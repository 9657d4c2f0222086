"""The one materialisation policy: every lineage cut and every scoped
cache in the engine goes through :func:`checkpoint` or :func:`cached`.

Both store blocks ``DISK_ONLY``.  The materialised frames are
corpus-scaled (shingle postings, signatures, label maps, edge lists),
and the default ``MEMORY_AND_DISK`` level parks them in the
storageFraction-protected pool, where they starve join and aggregate
execution memory (SparkOutOfMemoryError UNABLE_TO_ACQUIRE on the sf10
probe); disk blocks ride the OS page cache without Spark-side
accounting.

The lifetime rule decides between the two:

* a frame that leaves the function (returned, or handed to a lazy plan
  the caller will execute later) gets :func:`checkpoint`.  A lazily
  returned ``persist`` has no safe place for its ``unpersist``: any
  release before the caller's action drops the blocks the plan still
  reads.  A local checkpoint cuts the lineage instead, and its blocks
  are freed when the frame is garbage-collected;
* a frame whose consumers all run inside the function gets
  :func:`cached`, which releases its blocks on exit, also when the body
  raises.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage into DISK_ONLY local blocks.  ``eager=True``
    computes it now (one Spark job), so later actions and driver-side
    decisions read a fixed snapshot; the lazy form computes it on the
    first action over the returned frame, which every consumer shares."""
    return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.DISK_ONLY)


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """Persist ``df`` DISK_ONLY for the ``with`` body and unpersist it
    on exit.  Every action over the frame must finish inside the body."""
    df = df.persist(StorageLevel.DISK_ONLY)
    try:
        yield df
    finally:
        df.unpersist()
