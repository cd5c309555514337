"""Streaming twin of the incremental corpus loops: every ingest leg of
plans/incremental_corpus.py wired as a ``foreachBatch`` sink through one
factory (:func:`make_ingestor`, and :func:`stream_ingest` to start the
query), so the batch and streaming ingestion stories are ONE code path
with two drivers.

Exactly-once: Structured Streaming delivers micro-batches AT LEAST once
(the same ``batch_id`` can be re-delivered after a failure between sink
success and offset-log write). Two layers make the sink exactly-once:

1. The epoch guard — each committed batch's epoch id rides the ingest
   journal marker, i.e. the SAME atomic commit as the data
   (plans/incremental_corpus._epoch_txn). A re-delivered epoch whose
   flag exists is skipped wholesale and the ingest returns None without
   reading the batch; the guard runs after the recovery sweep, so a
   crashed-then-rolled-forward epoch is recognized. This also holds for
   epochs that appended nothing: an all-duplicate micro-batch commits
   an empty-rooted marker, so its redelivery skips too.
2. Even without the guard, the loops are classification-idempotent
   (every fingerprint already in the state → nothing accepted), so the
   corpus can never double-ingest; the guard just makes redelivery free
   and keeps the append-only band state from accumulating replay rows.

Epoch identity: foreachBatch's ``batch_id`` is only unique PER
STREAMING CHECKPOINT — every fresh checkpoint restarts at 0, so raw
batch ids collide across runs against a shared state_dir and a
collision silently DROPS genuinely novel documents. The ingestor
therefore namespaces the epoch as ``<query_id>-<batch_id>``, where
``query_id`` is the checkpoint's persistent StreamingQuery id (the
``id`` field Spark writes once to ``<checkpoint>/metadata`` at first
start and preserves across restarts): restarts of the same checkpoint
keep the namespace (redelivered batch ids still skip), while a
different/fresh checkpoint gets a disjoint namespace (its batch 0 is a
NEW epoch). :func:`stream_ingest` consequently REQUIRES a
``checkpoint_location``; never delete a checkpoint directory and reuse
its path against the same state_dir (standard Structured Streaming
contract — the checkpoint IS the stream's identity).

Scale shape is inherited: per-micro-batch cost proportional to the
batch (one bucketed equi-join against the state, state side never
shuffles), history never rescanned; one recovery sweep per micro-batch
(the ingest function's own — the ingestor adds none).
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..fsutil import HadoopFS
from ..plans.incremental_corpus import (
    ingest_batch,
    ingest_batch_bloom,
    ingest_batch_embdup,
    ingest_batch_neardup,
    ingest_batch_semantic,
    ingest_batch_sketch,
)


def _checkpoint_namespace(spark, checkpoint_location: str) -> str:
    """The epoch namespace for a checkpoint: its persistent query id
    (``<checkpoint>/metadata``, written by Spark at stream start, stable
    across restarts), falling back to a digest of the path if the
    metadata is unreadable (pre-start resolution — still collision-free
    across distinct paths, but NOT across a deleted-and-recreated
    checkpoint at the same path; see the module docstring)."""
    try:
        fs = HadoopFS(spark, checkpoint_location)
        meta_path = checkpoint_location.rstrip("/") + "/metadata"
        if fs.exists(meta_path):
            qid = json.loads(fs.read_text(meta_path) or "{}").get("id")
            if qid:
                return "q" + str(qid).replace("-", "")
    except Exception:
        pass
    return "p" + hashlib.md5(checkpoint_location.encode("utf-8")).hexdigest()[:16]


_LEG_INGEST = {
    "exact": ingest_batch,
    "neardup": ingest_batch_neardup,
    "embdup": ingest_batch_embdup,
    "bloom": ingest_batch_bloom,
    "semantic": ingest_batch_semantic,
    "sketch": ingest_batch_sketch,
}


def make_ingestor(
    leg: str,
    state_dir: str,
    on_stats=None,
    checkpoint_location: str | None = None,
    epoch_ns: str | None = None,
    **ingest_kwargs,
):
    """foreachBatch callback running the ``leg`` ingest ('exact' |
    'neardup' | 'embdup' | 'bloom' | 'semantic' | 'sketch') on each
    micro-batch, passing ``ingest_kwargs`` through (e.g. ``tables=`` for
    embdup, ``centroids=`` for semantic — omittable once the state's
    first ingest pinned them into ``_meta``). The epoch namespace
    resolves lazily (the checkpoint metadata exists once the query
    started): pass ``checkpoint_location`` (or an explicit ``epoch_ns``)
    whenever the callback serves a real streaming query — raw batch ids
    are only unique per checkpoint (module docstring). The batch ingest
    recovers, guards the epoch, classifies and commits under its own
    writer lease. ``on_stats(batch_id, funnel_dict)`` fires only for
    epochs that actually ran, never for a skipped redelivery."""
    if leg not in _LEG_INGEST:
        raise ValueError(
            f"unknown ingest leg {leg!r}; expected one of {sorted(_LEG_INGEST)}"
        )
    ingest_fn = _LEG_INGEST[leg]
    resolved = {"ns": epoch_ns}

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if resolved["ns"] is None and checkpoint_location is not None:
            resolved["ns"] = _checkpoint_namespace(spark, checkpoint_location)
        ns = resolved["ns"]
        epoch = f"{ns}-{int(batch_id)}" if ns else int(batch_id)
        stats = ingest_fn(spark, batch_df, state_dir, epoch_id=epoch, **ingest_kwargs)
        if stats is not None and on_stats is not None:
            on_stats(batch_id, stats)

    return ingest


def stream_ingest(
    leg: str,
    stream_df: DataFrame,
    state_dir: str,
    query_name: str,
    checkpoint_location: str,
    **ingest_kwargs,
) -> StreamingQuery:
    """Start a streaming query running the ``leg`` ingest on every
    micro-batch, exactly once per epoch (:func:`make_ingestor`).
    ``availableNow`` drains the source and stops — the daily-batch
    trigger shape; a production stream uses a processing-time trigger
    with the same sink. ``checkpoint_location`` is REQUIRED: it makes
    batch ids durable across restarts AND namespaces the epoch guard
    (module docstring) — without it every run would restart at batch 0
    and silently skip novel documents."""
    return (
        stream_df.writeStream.foreachBatch(
            make_ingestor(
                leg, state_dir, checkpoint_location=checkpoint_location, **ingest_kwargs
            )
        )
        .option("checkpointLocation", checkpoint_location)
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
