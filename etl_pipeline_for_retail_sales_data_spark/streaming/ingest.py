"""Streaming twin of the incremental corpus loops (r7 verdict #8): the
daily-batch dedup-ingest (plans/incremental_corpus.py) wired as a
``foreachBatch`` sink, so the batch and streaming ingestion stories are
ONE code path with two drivers.

Exactly-once: Structured Streaming delivers micro-batches AT LEAST once
(the same ``batch_id`` can be re-delivered after a failure between sink
success and offset-log write). Two layers make the sink exactly-once:

1. The epoch guard — each committed batch's epoch id rides the ingest
   journal marker, i.e. the SAME atomic commit as the data
   (plans/incremental_corpus._commit): a crashed epoch either rolls
   forward (marker existed → data AND epoch flag appear) or back
   (neither does). A re-delivered epoch whose flag exists is skipped
   wholesale — the guard runs INSIDE ingest_batch*, after its recovery
   sweep (so a crashed-then-rolled-forward epoch is recognized) and the
   ingest returns None without reading the batch. This also holds for
   epochs that appended nothing: an all-duplicate micro-batch commits
   an empty-rooted marker, so its redelivery skips too.
2. Even without the guard, the loops are classification-idempotent
   (every fingerprint already in the state → nothing accepted), so the
   corpus can never double-ingest; the guard just makes redelivery free
   and keeps the append-only band state from accumulating replay rows.

Epoch identity (r8 advice, HIGH): foreachBatch's ``batch_id`` is only
unique PER STREAMING CHECKPOINT — every fresh checkpoint restarts at 0,
so raw batch ids collide across runs against a shared state_dir and a
collision silently DROPS genuinely novel documents. The ingestors
therefore namespace the epoch as ``<query_id>-<batch_id>``, where
``query_id`` is the checkpoint's persistent StreamingQuery id (the
``id`` field Spark writes once to ``<checkpoint>/metadata`` at first
start and preserves across restarts): restarts of the same checkpoint
keep the namespace (redelivered batch ids still skip), while a
different/fresh checkpoint gets a disjoint namespace (its batch 0 is a
NEW epoch). ``stream_ingest_*`` consequently REQUIRE a
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


def _make_ingestor(ingest_fn, state_dir: str, on_stats, checkpoint_location, epoch_ns):
    """Shared foreachBatch wrapper: resolve the epoch namespace lazily
    (the checkpoint metadata exists once the query started), tag the
    micro-batch's epoch, and delegate to the batch ingest function —
    which recovers, guards the epoch, classifies, and commits under its
    own writer lease. ``on_stats(batch_id, funnel_dict)`` fires only for
    epochs that actually ran (None = skipped redelivery)."""
    resolved = {"ns": epoch_ns}

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if resolved["ns"] is None and checkpoint_location is not None:
            resolved["ns"] = _checkpoint_namespace(spark, checkpoint_location)
        ns = resolved["ns"]
        epoch = f"{ns}-{int(batch_id)}" if ns else int(batch_id)
        stats = ingest_fn(spark, batch_df, state_dir, epoch_id=epoch)
        if stats is not None and on_stats is not None:
            on_stats(batch_id, stats)

    return ingest


def make_exact_ingestor(
    state_dir: str,
    on_stats=None,
    checkpoint_location: str | None = None,
    epoch_ns: str | None = None,
    **ingest_kwargs,
):
    """foreachBatch callback: exact-dedup ingest of each micro-batch.
    Pass ``checkpoint_location`` (or an explicit ``epoch_ns``) whenever
    the callback serves a real streaming query — raw batch ids are only
    unique per checkpoint (module docstring)."""

    def fn(spark, batch_df, state_dir, epoch_id):
        return ingest_batch(spark, batch_df, state_dir, epoch_id=epoch_id, **ingest_kwargs)

    return _make_ingestor(fn, state_dir, on_stats, checkpoint_location, epoch_ns)


def make_sketch_ingestor(
    state_dir: str,
    on_stats=None,
    checkpoint_location: str | None = None,
    epoch_ns: str | None = None,
    **ingest_kwargs,
):
    """foreachBatch callback: mergeable KMV-sketch maintenance per
    micro-batch (plans/incremental_corpus.ingest_batch_sketch). The
    epoch guard is belt-and-braces here — a redelivered batch would
    re-merge idempotently even without it (k-min merge algebra) — but
    keeping it makes delivery auditable like every other leg."""

    def fn(spark, batch_df, state_dir, epoch_id):
        return ingest_batch_sketch(
            spark, batch_df, state_dir, epoch_id=epoch_id, **ingest_kwargs
        )

    return _make_ingestor(fn, state_dir, on_stats, checkpoint_location, epoch_ns)


def make_neardup_ingestor(
    state_dir: str,
    on_stats=None,
    checkpoint_location: str | None = None,
    epoch_ns: str | None = None,
    **ingest_kwargs,
):
    """foreachBatch callback: MinHash-LSH near-dup ingest of each
    micro-batch against the persistent band-key state."""

    def fn(spark, batch_df, state_dir, epoch_id):
        return ingest_batch_neardup(
            spark, batch_df, state_dir, epoch_id=epoch_id, **ingest_kwargs
        )

    return _make_ingestor(fn, state_dir, on_stats, checkpoint_location, epoch_ns)


def make_bloom_ingestor(
    state_dir: str,
    on_stats=None,
    checkpoint_location: str | None = None,
    epoch_ns: str | None = None,
    **ingest_kwargs,
):
    """foreachBatch callback: Bloom-filter exact-dedup ingest (space-
    optimized state, no false negatives, tunable FP rate) of each
    micro-batch."""

    def fn(spark, batch_df, state_dir, epoch_id):
        return ingest_batch_bloom(
            spark, batch_df, state_dir, epoch_id=epoch_id, **ingest_kwargs
        )

    return _make_ingestor(fn, state_dir, on_stats, checkpoint_location, epoch_ns)


def make_embdup_ingestor(
    state_dir: str,
    tables: list | None = None,
    on_stats=None,
    checkpoint_location: str | None = None,
    epoch_ns: str | None = None,
    **ingest_kwargs,
):
    """foreachBatch callback: hyperplane-LSH embedding near-dup ingest of
    each micro-batch against the persistent (tbl, bucket) state.
    ``tables`` may be omitted once the state's first ingest pinned them
    into ``_meta``."""

    def fn(spark, batch_df, state_dir, epoch_id):
        return ingest_batch_embdup(
            spark, batch_df, state_dir, tables, epoch_id=epoch_id, **ingest_kwargs
        )

    return _make_ingestor(fn, state_dir, on_stats, checkpoint_location, epoch_ns)


def make_semantic_ingestor(
    state_dir: str,
    centroids: list | None = None,
    on_stats=None,
    checkpoint_location: str | None = None,
    epoch_ns: str | None = None,
    **ingest_kwargs,
):
    """foreachBatch callback: fixed-centroid semantic near-dup ingest
    (exact rounded-cosine verify within one centroid cell) of each
    micro-batch. ``centroids`` may be omitted once the state's first
    ingest pinned them into ``_meta``."""

    def fn(spark, batch_df, state_dir, epoch_id):
        return ingest_batch_semantic(
            spark, batch_df, state_dir, centroids, epoch_id=epoch_id, **ingest_kwargs
        )

    return _make_ingestor(fn, state_dir, on_stats, checkpoint_location, epoch_ns)


def stream_ingest_semantic(
    stream_df: DataFrame,
    state_dir: str,
    centroids: list,
    query_name: str,
    checkpoint_location: str,
    **ingest_kwargs,
) -> StreamingQuery:
    """Semantic-verify twin of :func:`stream_ingest_embdup`."""
    return (
        stream_df.writeStream.foreachBatch(
            make_semantic_ingestor(
                state_dir, centroids,
                checkpoint_location=checkpoint_location, **ingest_kwargs,
            )
        )
        .option("checkpointLocation", checkpoint_location)
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_ingest_embdup(
    stream_df: DataFrame,
    state_dir: str,
    tables: list,
    query_name: str,
    checkpoint_location: str,
    **ingest_kwargs,
) -> StreamingQuery:
    """Embedding-LSH twin of :func:`stream_ingest_neardup`."""
    return (
        stream_df.writeStream.foreachBatch(
            make_embdup_ingestor(
                state_dir, tables,
                checkpoint_location=checkpoint_location, **ingest_kwargs,
            )
        )
        .option("checkpointLocation", checkpoint_location)
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_ingest_neardup(
    stream_df: DataFrame,
    state_dir: str,
    query_name: str,
    checkpoint_location: str,
    **ingest_kwargs,
) -> StreamingQuery:
    """Start a streaming query running the near-dup ingest loop on every
    micro-batch, exactly once per epoch. ``availableNow`` drains the
    source and stops — the daily-batch trigger shape; a production
    stream uses a processing-time trigger with the same sink.
    ``checkpoint_location`` is REQUIRED: it makes batch ids durable
    across restarts AND namespaces the epoch guard (module docstring) —
    without it every run would restart at batch 0 and silently skip
    novel documents."""
    return (
        stream_df.writeStream.foreachBatch(
            make_neardup_ingestor(
                state_dir, checkpoint_location=checkpoint_location, **ingest_kwargs
            )
        )
        .option("checkpointLocation", checkpoint_location)
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_ingest_exact(
    stream_df: DataFrame,
    state_dir: str,
    query_name: str,
    checkpoint_location: str,
    **ingest_kwargs,
) -> StreamingQuery:
    """Exact-dedup twin of :func:`stream_ingest_neardup`."""
    return (
        stream_df.writeStream.foreachBatch(
            make_exact_ingestor(
                state_dir, checkpoint_location=checkpoint_location, **ingest_kwargs
            )
        )
        .option("checkpointLocation", checkpoint_location)
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
