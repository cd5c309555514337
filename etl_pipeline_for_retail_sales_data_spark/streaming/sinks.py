"""Exactly-once streaming sinks: foreachBatch + the manifest-versioned
table format (versioned.py).

Structured Streaming guarantees AT-LEAST-ONCE delivery to foreachBatch —
after a failure the same epoch (micro-batch) can be re-delivered with the
same ``batch_id``. Exactly-once therefore reduces to an IDEMPOTENT sink:
record the epoch id transactionally WITH the data, and skip epochs
already committed. The versioned-table commit is the transaction — the
epoch id rides in the manifest, and the manifest swap is atomic — so
either an epoch's data AND its id land together, or neither does. This
is exactly the Delta `txnAppId`/`txnVersion` pattern on a plain parquet
directory.

Scale shape: each micro-batch appends immutable files + one manifest;
no compare-and-swap on data, no read-modify-write of history. Readers
time-travel the stream's output like any versioned table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from .. import versioned as V


def last_committed_epoch(table_dir: str) -> int | None:
    """Highest epoch id recorded in any retained manifest (None if no
    epoch-tagged commit exists)."""
    cur = V.current_version(table_dir)
    if cur is None:
        return None
    epochs = [
        m.get("epoch_id")
        for m in (V._read_manifest(table_dir, v) for v in V._versions(table_dir))
        if m.get("epoch_id") is not None
    ]
    return max(epochs) if epochs else None


def make_epoch_committer(table_dir: str):
    """The foreachBatch callback: commit the micro-batch with its epoch
    id embedded in the manifest — data + epoch land in ONE atomic commit,
    so a crash can never separate them — and skip any epoch at or below
    the highest committed one (redelivery after failure). Exposed as a
    factory so tests can drive redelivery directly."""

    def commit_epoch(batch_df: DataFrame, batch_id: int) -> None:
        last = last_committed_epoch(table_dir)
        if last is not None and batch_id <= last:
            return  # epoch already durable: redelivery after failure
        V.commit(
            batch_df.sparkSession,
            batch_df,
            table_dir,
            mode="append",
            extra={"epoch_id": batch_id},
        )

    return commit_epoch


def exactly_once_append(stream_df: DataFrame, table_dir: str, query_name: str) -> StreamingQuery:
    """Start a streaming query appending each micro-batch to a versioned
    table exactly once. A re-delivered epoch (same ``batch_id`` after a
    restart/failure) is detected against the epoch ids in the commit log
    and skipped — the append is idempotent under at-least-once delivery."""
    return (
        stream_df.writeStream.foreachBatch(make_epoch_committer(table_dir))
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def make_epoch_merger(table_dir: str, key_cols: list[str], prune_on: str | None = None):
    """foreachBatch callback for streaming CDC APPLY: each micro-batch is
    a set of upserts (latest row per key) merged into the versioned table
    via ``versioned.merge_into`` — matched keys replaced, new keys
    inserted — with the epoch id landing in the SAME atomic commit, so
    redelivered epochs are skipped and the merge is exactly-once. This is
    the streaming half of a CDC pipeline: a debezium-style change feed
    becomes a continuously-maintained queryable table with time travel.

    The batch is deduplicated to the last row per key by ``__seq`` if the
    frame carries that column (change-feed ordering), else merge_into's
    one-row-per-key check enforces the contract. ``prune_on`` passes
    through to the file-pruned merge path."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def merge_epoch(batch_df: DataFrame, batch_id: int) -> None:
        last = last_committed_epoch(table_dir)
        if last is not None and batch_id <= last:
            return
        df = batch_df
        if "__seq" in df.columns:
            w = Window.partitionBy(*key_cols).orderBy(F.desc("__seq"))
            df = (
                df.withColumn("__rn", F.row_number().over(w))
                .filter("__rn = 1")
                .drop("__rn", "__seq")
            )
        if V.current_version(table_dir) is None:
            V.commit(df.sparkSession, df, table_dir, mode="append", extra={"epoch_id": batch_id})
            return
        V.merge_into(
            df.sparkSession,
            table_dir,
            df,
            key_cols=key_cols,
            prune_on=prune_on,
            extra={"epoch_id": batch_id},
        )

    return merge_epoch


def exactly_once_upsert(
    stream_df: DataFrame, table_dir: str, query_name: str, key_cols: list[str]
) -> StreamingQuery:
    """Start a streaming query MERGING each micro-batch into a versioned
    table exactly once (streaming upsert / CDC apply). Use ``update``
    output mode upstream aggregations or a raw change feed; the table
    always holds the latest row per key."""
    return (
        stream_df.writeStream.foreachBatch(make_epoch_merger(table_dir, key_cols))
        .queryName(query_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def make_audited_epoch_committer(table_dir: str, checks: list, quarantine_dir: str):
    """Streaming write-audit-publish with a dead-letter table: each
    micro-batch is STAGED (invisible), AUDITED against the declarative
    quality suite (operators/quality.py, reading the staged bytes back),
    then PUBLISHED to the main table — or, on a failing audit, committed
    to the QUARANTINE table with its report instead, so the stream keeps
    running and no bad batch ever reaches readers (the streaming form of
    versioned.write_audit_publish; quarantine-not-crash is the standard
    posture for continuous ingestion — a poison batch must not wedge the
    pipeline). Exactly-once holds across BOTH outcomes: the epoch id
    lands atomically in whichever table received the batch, and
    redelivery consults the max epoch across the two — a replayed
    quarantined epoch is skipped, not re-audited."""
    from ..operators.quality import run_checks

    def commit_epoch(batch_df: DataFrame, batch_id: int) -> None:
        epochs = [
            e
            for e in (
                last_committed_epoch(table_dir),
                last_committed_epoch(quarantine_dir),
            )
            if e is not None
        ]
        if epochs and batch_id <= max(epochs):
            return  # epoch already durable somewhere: redelivery
        spark = batch_df.sparkSession
        staged_id, files = V.stage(batch_df, table_dir)
        report = run_checks(
            V.read_staged(spark, table_dir, staged_id), checks
        ).collect()
        audit = [
            {
                "check": r["check"],
                "kind": r["kind"],
                "n_violations": r["n_violations"],
                "passed": r["passed"],
            }
            for r in report
        ]
        if any(not r["passed"] for r in report):
            V.commit(
                spark,
                V.read_staged(spark, table_dir, staged_id),
                quarantine_dir,
                mode="append",
                extra={"epoch_id": batch_id, "audit": audit},
            )
            V.discard_staged(table_dir, staged_id)
        else:
            V.publish_staged(
                table_dir,
                staged_id,
                files,
                mode="append",
                extra={"epoch_id": batch_id, "audit": audit},
            )

    return commit_epoch


def exactly_once_audited_append(
    stream_df: DataFrame,
    table_dir: str,
    query_name: str,
    checks: list,
    quarantine_dir: str,
) -> StreamingQuery:
    """Start a streaming query appending each micro-batch through the
    audit gate: clean batches land in ``table_dir``, failing batches in
    ``quarantine_dir`` (both versioned, both epoch-tagged, both
    exactly-once under redelivery)."""
    return (
        stream_df.writeStream.foreachBatch(
            make_audited_epoch_committer(table_dir, checks, quarantine_dir)
        )
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def make_drift_gated_committer(
    table_dir: str,
    category_col: str,
    quarantine_dir: str,
    threshold: float = 0.2,
    max_unmatched: float = 0.1,
):
    """Streaming drift gate: each micro-batch's category mix is compared
    (two-sample PSI, operators/drift.psi_from_counts) against the
    ALREADY-PUBLISHED table before it may join it — the continuous form
    of the drift monitors, wired into ingestion so a source that goes
    off-distribution (scraper junk, upstream enum change, a feed
    flipping language) lands in the quarantine table with its PSI report
    instead of polluting the training corpus. First batch (no reference
    distribution yet) publishes unconditionally and BECOMES the
    reference; the reference then grows with every accepted batch, so
    the gate tracks legitimate slow mix evolution while rejecting jumps.

    Two rejection triggers, both required: ``psi > threshold`` (shift
    WITHIN the shared categories) and ``cur_unmatched_frac >
    max_unmatched`` (mass in categories the reference has never seen —
    a fully-disjoint batch has psi 0.0 over an empty intersection, and
    an ε-floored PSI would send it to infinity; thresholding the
    unmatched fraction is the bounded form of the same signal).

    The reference mix is carried INCREMENTALLY in the table manifest
    (``"mix"``: category → count, updated atomically with each publish)
    — O(categories) state, so gating a batch costs one aggregate over
    the BATCH, never a rescan of the published table (the repo's
    incremental-rollup doctrine; categories must be strings, and null
    categories are ignored for mix purposes). Tables whose latest
    manifest predates the gate fall back to one full-table aggregate to
    rebuild the mix.

    Same stage→decide→publish/quarantine shape and epoch exactly-once
    contract as make_audited_epoch_committer (redelivered epochs consult
    the max epoch across both tables)."""
    from pyspark.sql import functions as F

    from ..operators.drift import psi_from_counts

    def commit_epoch(batch_df: DataFrame, batch_id: int) -> None:
        epochs = [
            e
            for e in (
                last_committed_epoch(table_dir),
                last_committed_epoch(quarantine_dir),
            )
            if e is not None
        ]
        if epochs and batch_id <= max(epochs):
            return  # epoch already durable somewhere: redelivery
        spark = batch_df.sparkSession
        staged_id, files = V.stage(batch_df, table_dir)
        staged = V.read_staged(spark, table_dir, staged_id)
        cur_mix = {
            r["category"]: r["cur_cnt"]
            for r in staged.filter(F.col(category_col).isNotNull())
            .groupBy(F.col(category_col).alias("category"))
            .agg(F.count("*").alias("cur_cnt"))
            .collect()
        }
        version = V.current_version(table_dir)
        if version is None:
            V.publish_staged(
                table_dir,
                staged_id,
                files,
                mode="append",
                extra={
                    "epoch_id": batch_id,
                    "drift": {"bootstrap": True},
                    "mix": cur_mix,
                },
            )
            return
        ref_mix = V._read_manifest(table_dir, version).get("mix")
        if ref_mix is None:  # table predates the gate: rebuild mix once
            ref_mix = {
                r["category"]: r["ref_cnt"]
                for r in V.read_table(spark, table_dir)
                .filter(F.col(category_col).isNotNull())
                .groupBy(F.col(category_col).alias("category"))
                .agg(F.count("*").alias("ref_cnt"))
                .collect()
            }
        ref_counts = spark.createDataFrame(
            list(sorted(ref_mix.items())) or [(None, None)],
            "category string, ref_cnt long",
        ).filter(F.col("category").isNotNull())
        cur_counts = spark.createDataFrame(
            list(sorted(cur_mix.items())) or [(None, None)],
            "category string, cur_cnt long",
        ).filter(F.col("category").isNotNull())
        row = psi_from_counts(ref_counts, cur_counts).collect()[0]
        drifted = bool(
            row["psi"] > threshold or row["cur_unmatched_frac"] > max_unmatched
        )
        report = {
            "psi": row["psi"],
            "n_categories": row["n_categories"],
            "n_ref": row["n_ref"],
            "n_cur": row["n_cur"],
            "cur_unmatched_frac": row["cur_unmatched_frac"],
            "ref_unmatched_frac": row["ref_unmatched_frac"],
            "threshold": threshold,
            "max_unmatched": max_unmatched,
            "drifted": drifted,
        }
        if drifted:
            V.commit(
                spark,
                staged,
                quarantine_dir,
                mode="append",
                extra={"epoch_id": batch_id, "drift": report},
            )
            V.discard_staged(table_dir, staged_id)
        else:
            merged = dict(ref_mix)
            for k, v in cur_mix.items():
                merged[k] = merged.get(k, 0) + v
            V.publish_staged(
                table_dir,
                staged_id,
                files,
                mode="append",
                extra={"epoch_id": batch_id, "drift": report, "mix": merged},
            )

    return commit_epoch
