"""Cache-lifetime control: no operator may leak persisted blocks.

Session-lifetime cache leaks are a 100-TB-scale killer: an operator that
``.persist()``s an intermediate and never releases it slowly turns the
executor storage pool into an LRU-thrash zone as a long-lived session
runs query after query.  This module is the repo-wide discipline:

- :func:`scoped_cache` — the ONE owner of every storage-pool block an
  operator creates. A ``with`` block that persists frames and takes
  local checkpoints for a computation that consumes them MORE THAN ONCE
  *inside the operator* (iterative loops, threshold probes), and
  releases everything it still holds on exit, exception or not.

- :func:`finalize_iterative` — the end-of-loop materialization for
  iterative operators (PageRank, label propagation, k-means, BPE, MMR)
  and for frames several branches of one plan read. A final
  ``localCheckpoint(eager=True)`` would pin the result's blocks in the
  storage pool for the rest of the session. Instead the final state is
  written to a RELIABLE checkpoint (disk files): ``getPersistentRDDs``
  stays empty, the returned frame re-reads the files on demand, and the
  files live outside the executor storage pool entirely — exactly what
  a production cluster does with an HDFS/S3 checkpoint dir.

- Reuse-not-cache: operators whose expensive frame feeds several plan
  branches at COLLECT time (inverted-index self-joins, banded LSH) do
  not persist at all — they ``repartition(key)`` once and let every
  branch inherit the partitioning; Catalyst's ReuseExchange then
  materializes the expensive stage ONCE in shuffle files (auto-cleaned,
  no storage-pool pressure).  See ``operators/dedup.py``.

The contract is enforced by ``tests/test_cache_hygiene.py``: after every
registry query runs to completion, ``getPersistentRDDs()`` is empty.
"""

from __future__ import annotations

import tempfile
import warnings
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession


def ensure_checkpoint_dir(spark: SparkSession) -> str:
    """Set a session checkpoint dir lazily if none is configured.

    Local runs get a throwaway temp dir; a real cluster should configure
    ``spark.checkpoint.dir`` (HDFS/S3) and
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so files
    are reclaimed when the checkpointed RDD is garbage collected.
    """
    sc = spark.sparkContext
    current = sc.getCheckpointDir()
    if current is not None:
        return current
    path = tempfile.mkdtemp(prefix="spark-graft-ckpt-")
    sc.setCheckpointDir(path)
    return path


def finalize_iterative(df: DataFrame) -> DataFrame:
    """Materialize ``df`` WITHOUT leaving persisted blocks behind:
    reliable (disk) checkpoint, eager. The files are reclaimed by the
    ContextCleaner when the frame is GC'd
    (``spark.cleaner.referenceTracking.cleanCheckpoints=true``,
    session.py), and the partitioning survives, so a join keyed like a
    checkpointed repartition still plans exchange-free.

    For a frame that several branches of one plan read, checkpoint only
    when a recompute is real: a construction-time probe is a separate
    execution and cannot share stages with the returned plan, or the
    branches prune to different column sets. AQE stage reuse already
    reads identically-pruned branches from one exchange, so
    checkpointing those is pure write+read overhead."""
    ensure_checkpoint_dir(df.sparkSession)
    return df.checkpoint(eager=True)


class CacheScope:
    """The frames and local checkpoints one :func:`scoped_cache` block
    holds; each is released once, by :meth:`release` or at block exit.

    Conditions callers rely on:

    - ``Dataset.unpersist()`` is a silent no-op for checkpoint blocks
      (they live on the internal RDD, not in the CacheManager), so
      :meth:`local_ckpt` records the persistent-RDD ids the checkpoint
      registers — persist marks the RDD at once, even for a lazy
      checkpoint — and releasing frees exactly those.
    - An unmaterialized lazy checkpoint cannot recompute across its
      truncated lineage: release a checkpoint only after an action has
      run over every plan that reads it.
    - Nothing the block holds outlives it: a returned frame that reads
      a local checkpoint must be finalized (:func:`finalize_iterative`)
      before the block exits; one that reads only persisted frames
      recomputes them.
    """

    def __init__(self) -> None:
        self._held: list[tuple[DataFrame, list[int] | None]] = []

    def persist(self, df: DataFrame) -> DataFrame:
        self._held.append((df.persist(), None))
        return df

    def local_ckpt(self, df: DataFrame, eager: bool) -> DataFrame:
        persistent = df.sparkSession.sparkContext._jsc.getPersistentRDDs
        before = set(persistent().keySet().toArray())
        out = df.localCheckpoint(eager=eager)
        self._held.append((out, [k for k in persistent().keySet().toArray() if k not in before]))
        return out

    def release(self, df: DataFrame | None) -> None:
        """Free ``df``'s blocks now; a no-op for a frame the scope does
        not (or no longer) hold."""
        for i, (held, _) in enumerate(self._held):
            if held is df:
                _free(*self._held.pop(i))
                return

    def _close(self) -> None:
        # release everything even if one release fails (e.g. the JVM is
        # gone), and never mask the exception that ended the block
        while self._held:
            try:
                _free(*self._held.pop())
            except Py4JError as e:
                warnings.warn(f"scoped_cache could not release a frame: {e}", RuntimeWarning)


def _free(df: DataFrame, ckpt_ids: list[int] | None) -> None:
    if ckpt_ids is None:
        df.unpersist()
        return
    jmap = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
    for rid in ckpt_ids:
        if jmap.containsKey(rid):
            jmap.get(rid).unpersist(False)


@contextmanager
def scoped_cache(*frames: DataFrame):
    """Persist ``frames`` inside the block and yield its
    :class:`CacheScope`; everything the scope still holds is released
    on exit, exception or not.

    For operator-INTERNAL reuse only (driver-side probes, loop bodies).
    Frames consumed by the operator's *returned* plan must not rely on
    this cache — after exit they recompute; use reuse-not-cache shapes
    (repartition + ReuseExchange) for collect-time sharing instead.
    """
    scope = CacheScope()
    try:
        for f in frames:
            scope.persist(f)
        yield scope
    finally:
        scope._close()
