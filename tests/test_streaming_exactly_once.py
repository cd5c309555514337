"""Exactly-once streaming sink (streaming/sinks.py): foreachBatch into a
manifest-versioned table with the epoch id embedded in the atomic commit
— re-delivered epochs are skipped, so at-least-once delivery becomes
exactly-once output."""

import pytest

pytestmark = pytest.mark.slow  # heavy sweep: excluded from the fast lane (pytest -m "not slow")

from etl_pipeline_for_retail_sales_data_spark import versioned as V
from etl_pipeline_for_retail_sales_data_spark.streaming.sinks import (
    exactly_once_append,
    last_committed_epoch,
    make_epoch_committer,
)


def test_stream_appends_to_versioned_table(spark, tmp_path):
    src = str(tmp_path / "src")
    table = str(tmp_path / "out_table")
    spark.createDataFrame([(1, 1.0), (2, 2.0)], "event_id long, value double").write.parquet(src)

    stream = spark.readStream.schema("event_id long, value double").parquet(src)
    q = exactly_once_append(stream, table, "eo_smoke")
    q.awaitTermination(120)

    assert {r.event_id for r in V.read_table(spark, table).collect()} == {1, 2}
    assert last_committed_epoch(table) == 0
    # epoch id landed inside the manifest (atomic with the data)
    assert V._read_manifest(table, V.current_version(table))["epoch_id"] == 0


def test_redelivered_epoch_is_skipped(spark, tmp_path):
    """At-least-once delivery: the same epoch arrives twice (failure
    between sink success and offset-log write). The second delivery must
    commit nothing — no new version, no duplicate rows."""
    table = str(tmp_path / "tbl")
    committer = make_epoch_committer(table)
    batch = spark.createDataFrame([(1, 1.0)], "event_id long, value double")

    committer(batch, 0)
    v_first = V.current_version(table)
    assert V.read_table(spark, table).count() == 1

    committer(batch, 0)  # redelivery
    assert V.current_version(table) == v_first
    assert V.read_table(spark, table).count() == 1

    committer(batch, 1)  # genuinely new epoch appends
    assert V.current_version(table) == v_first + 1
    assert V.read_table(spark, table).count() == 2
    assert last_committed_epoch(table) == 1


def test_out_of_order_old_epoch_is_skipped(spark, tmp_path):
    """Epochs at or below the high-water mark never commit, even if they
    arrive late — monotone epoch ids are the streaming engine's
    contract, and the guard enforces it."""
    table = str(tmp_path / "tbl")
    committer = make_epoch_committer(table)
    batch = spark.createDataFrame([(7, 7.0)], "event_id long, value double")
    committer(batch, 5)
    committer(batch, 3)  # late, below high-water mark
    assert V.read_table(spark, table).count() == 1
    assert last_committed_epoch(table) == 5


def test_epoch_merger_upserts_across_batches(spark, tmp_path):
    from etl_pipeline_for_retail_sales_data_spark.streaming.sinks import make_epoch_merger

    table = str(tmp_path / "cdc")
    merger = make_epoch_merger(table, key_cols=["k"])
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    b1 = spark.createDataFrame([(2, "B2"), (3, "c")], "k long, v string")

    merger(b0, 0)
    merger(b1, 1)
    got = {r.k: r.v for r in V.read_table(spark, table).collect()}
    assert got == {1: "a", 2: "B2", 3: "c"}
    assert last_committed_epoch(table) == 1
    # every epoch commit is atomic with its id
    assert V._read_manifest(table, V.current_version(table))["epoch_id"] == 1


def test_epoch_merger_redelivery_does_not_double_apply(spark, tmp_path):
    from etl_pipeline_for_retail_sales_data_spark.streaming.sinks import make_epoch_merger

    table = str(tmp_path / "cdc")
    merger = make_epoch_merger(table, key_cols=["k"])
    merger(spark.createDataFrame([(1, "a")], "k long, v string"), 0)
    b1 = spark.createDataFrame([(1, "a2")], "k long, v string")
    merger(b1, 1)
    v_after = V.current_version(table)
    merger(b1, 1)  # redelivered epoch: must be a no-op
    assert V.current_version(table) == v_after
    assert {r.v for r in V.read_table(spark, table).collect()} == {"a2"}


def test_epoch_merger_last_write_per_key_wins_within_batch(spark, tmp_path):
    """A change feed can carry several updates for one key in one epoch;
    __seq orders them and only the last survives the merge."""
    from etl_pipeline_for_retail_sales_data_spark.streaming.sinks import make_epoch_merger

    table = str(tmp_path / "cdc")
    merger = make_epoch_merger(table, key_cols=["k"])
    feed = spark.createDataFrame(
        [(1, "old", 10), (1, "new", 20), (2, "only", 5)], "k long, v string, __seq long"
    )
    merger(feed, 0)
    got = {r.k: r.v for r in V.read_table(spark, table).collect()}
    assert got == {1: "new", 2: "only"}


def test_exactly_once_upsert_end_to_end_stream(spark, tmp_path):
    from etl_pipeline_for_retail_sales_data_spark.streaming.sinks import exactly_once_upsert

    src = str(tmp_path / "src")
    table = str(tmp_path / "cdc_table")
    spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string").write.parquet(src)
    stream = spark.readStream.schema("k long, v string").parquet(src)
    q = exactly_once_upsert(stream, table, "cdc_smoke", key_cols=["k"])
    q.awaitTermination(120)
    assert {r.k: r.v for r in V.read_table(spark, table).collect()} == {1: "x", 2: "y"}


# ---------------------------------------------------------------------------
# Audited streaming append (streaming WAP + quarantine)
# ---------------------------------------------------------------------------

from etl_pipeline_for_retail_sales_data_spark.operators import quality as Q
from etl_pipeline_for_retail_sales_data_spark.streaming.sinks import (
    exactly_once_audited_append,
    make_audited_epoch_committer,
)

def _checks():
    # built lazily: Column construction needs an active SparkContext
    return [Q.not_null("event_id"), Q.non_negative("value")]


def test_audited_stream_routes_clean_and_dirty_batches(spark, tmp_path):
    table, quar = str(tmp_path / "tbl"), str(tmp_path / "quar")
    committer = make_audited_epoch_committer(table, _checks(), quar)
    clean = spark.createDataFrame([(1, 1.0), (2, 2.0)], "event_id long, value double")
    dirty = spark.createDataFrame([(3, -7.0), (None, 4.0)], "event_id long, value double")

    committer(clean, 0)
    committer(dirty, 1)
    committer(spark.createDataFrame([(5, 5.0)], "event_id long, value double"), 2)

    main_ids = {r.event_id for r in V.read_table(spark, table).collect()}
    assert main_ids == {1, 2, 5}  # dirty batch never visible in main
    quar_rows = V.read_table(spark, quar).collect()
    assert {r.event_id for r in quar_rows} == {3, None}
    qm = V._read_manifest(quar, V.current_version(quar))
    assert qm["epoch_id"] == 1
    failed = {a["check"] for a in qm["audit"] if not a["passed"]}
    assert failed == {"not_null(event_id)", "non_negative(value)"}


def test_audited_stream_redelivery_skipped_for_both_outcomes(spark, tmp_path):
    table, quar = str(tmp_path / "tbl"), str(tmp_path / "quar")
    committer = make_audited_epoch_committer(table, _checks(), quar)
    clean = spark.createDataFrame([(1, 1.0)], "event_id long, value double")
    dirty = spark.createDataFrame([(2, -1.0)], "event_id long, value double")

    committer(clean, 0)
    committer(dirty, 1)
    # redeliver both epochs (failure replay): neither may double-apply
    committer(clean, 0)
    committer(dirty, 1)

    assert V.read_table(spark, table).count() == 1
    assert V.read_table(spark, quar).count() == 1
    # no stray staged batches left behind in the main table dir
    import os

    assert len(os.listdir(os.path.join(table, "data"))) == 1


def test_audited_stream_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    table, quar = str(tmp_path / "tbl"), str(tmp_path / "quar")
    spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "event_id long, value double"
    ).write.parquet(src)
    stream = spark.readStream.schema("event_id long, value double").parquet(src)
    q = exactly_once_audited_append(stream, table, "wap_smoke", _checks(), quar)
    q.awaitTermination(120)
    assert V.read_table(spark, table).count() == 2
    assert V.current_version(quar) is None  # nothing quarantined
    m = V._read_manifest(table, V.current_version(table))
    assert all(a["passed"] for a in m["audit"]) and m["epoch_id"] == 0


# ---------------------------------------------------------------------------
# PSI drift gate (make_drift_gated_committer)
# ---------------------------------------------------------------------------


def _mix(spark, n_a, n_b, start=0):
    rows = [(start + i, "a") for i in range(n_a)] + [
        (start + 1000 + i, "b") for i in range(n_b)
    ]
    return spark.createDataFrame(rows, "event_id long, cat string")


def test_drift_gate_bootstrap_then_stable_then_jump(spark, tmp_path):
    from etl_pipeline_for_retail_sales_data_spark.streaming.sinks import (
        make_drift_gated_committer,
    )

    table, quar = str(tmp_path / "tbl"), str(tmp_path / "quar")
    committer = make_drift_gated_committer(table, "cat", quar, threshold=0.2)

    committer(_mix(spark, 50, 50), 0)  # bootstrap: no reference yet
    committer(_mix(spark, 48, 52, start=200), 1)  # same mix: publishes
    committer(_mix(spark, 95, 5, start=400), 2)  # jumped mix: quarantined
    committer(_mix(spark, 52, 48, start=600), 3)  # back in range: publishes

    main = V.read_table(spark, table)
    assert main.count() == 300  # batches 0, 1, 3
    assert V.read_table(spark, quar).count() == 100  # batch 2

    m = V._read_manifest(table, V.current_version(table))
    assert m["epoch_id"] == 3 and m["drift"]["drifted"] is False
    qm = V._read_manifest(quar, V.current_version(quar))
    assert qm["epoch_id"] == 2 and qm["drift"]["drifted"] is True
    assert qm["drift"]["psi"] > 0.2 and qm["drift"]["n_ref"] == 200


def test_drift_gate_exactly_once_across_both_outcomes(spark, tmp_path):
    from etl_pipeline_for_retail_sales_data_spark.streaming.sinks import (
        make_drift_gated_committer,
    )

    table, quar = str(tmp_path / "tbl"), str(tmp_path / "quar")
    committer = make_drift_gated_committer(table, "cat", quar, threshold=0.2)
    committer(_mix(spark, 50, 50), 0)
    committer(_mix(spark, 5, 95, start=300), 1)  # drifted -> quarantine
    # redeliver both
    committer(_mix(spark, 50, 50), 0)
    committer(_mix(spark, 5, 95, start=300), 1)
    assert V.read_table(spark, table).count() == 100
    assert V.read_table(spark, quar).count() == 100
    import os

    assert len(os.listdir(os.path.join(table, "data"))) == 1


def test_psi_two_sample_empty_reference_reports_unmatched_mass(spark):
    from etl_pipeline_for_retail_sales_data_spark.operators.drift import (
        psi_two_sample,
    )
    from pyspark.sql import functions as F

    ref = spark.createDataFrame([], "cat string")
    cur = spark.createDataFrame([("a",), ("b",)], "cat string")
    row = psi_two_sample(ref, cur, F.col("cat")).collect()[0]
    # psi is 0 over the empty intersection, but the shift is fully visible
    # in the unmatched fraction and the real totals
    assert row.psi == 0.0 and row.n_categories == 0
    assert row.n_ref == 0 and row.n_cur == 2
    assert row.cur_unmatched_frac == 1.0 and row.ref_unmatched_frac == 0.0


def test_drift_gate_quarantines_disjoint_category_batch(spark, tmp_path):
    """The blind spot the unmatched-mass threshold exists for: a batch
    whose categories the reference has NEVER seen has psi 0.0 over an
    empty intersection — it must still be quarantined."""
    from etl_pipeline_for_retail_sales_data_spark.streaming.sinks import (
        make_drift_gated_committer,
    )

    table, quar = str(tmp_path / "tbl"), str(tmp_path / "quar")
    committer = make_drift_gated_committer(table, "cat", quar, threshold=0.2)
    committer(_mix(spark, 50, 50), 0)  # reference: categories {a, b}
    foreign = spark.createDataFrame(
        [(900 + i, "zz") for i in range(40)], "event_id long, cat string"
    )
    committer(foreign, 1)
    assert V.read_table(spark, table).count() == 100
    assert V.read_table(spark, quar).count() == 40
    qm = V._read_manifest(quar, V.current_version(quar))
    assert qm["drift"]["drifted"] is True
    assert qm["drift"]["psi"] == 0.0
    assert qm["drift"]["cur_unmatched_frac"] == 1.0
    assert qm["drift"]["n_ref"] == 100 and qm["drift"]["n_cur"] == 40


def test_drift_gate_reference_mix_is_carried_in_manifest(spark, tmp_path):
    """Gating must not rescan the published table: the reference mix
    rides the manifest and merges on every publish."""
    from etl_pipeline_for_retail_sales_data_spark.streaming.sinks import (
        make_drift_gated_committer,
    )

    table, quar = str(tmp_path / "tbl"), str(tmp_path / "quar")
    committer = make_drift_gated_committer(table, "cat", quar, threshold=0.2)
    committer(_mix(spark, 50, 50), 0)
    committer(_mix(spark, 48, 52, start=200), 1)
    m = V._read_manifest(table, V.current_version(table))
    assert m["mix"] == {"a": 98, "b": 102}


# --- round 8: the incremental dedup-ingest loop as a streaming sink -------


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_stream_neardup_ingest_end_to_end(spark, tmp_path):
    """The daily-batch near-dup loop driven by Structured Streaming:
    one availableNow pass over a file source ingests exactly what the
    batch API would — and a SECOND run (fresh checkpoint, so its batch
    ids restart at 0) carrying one historical near-dup and one NOVEL doc
    must classify the dup AND ingest the novel doc. The novel doc is the
    r8-advice regression: un-namespaced epoch ids made run 2's batch 0
    look like run 1's committed batch 0 and silently dropped it."""
    from etl_pipeline_for_retail_sales_data_spark.streaming.ingest import (
        stream_ingest,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    _docs_df(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (3, "completely different words entirely here now"),
        ],
    ).write.parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = stream_ingest(
        "neardup", stream, state, "neardup_ingest_smoke", str(tmp_path / "cp1")
    )
    q.awaitTermination(120)

    corpus = spark.read.parquet(state + "/corpus_neardup")
    # doc 2 is a within-batch near-dup (identical text -> identical bands)
    assert {r.doc_id for r in corpus.collect()} == {1, 3}
    # second run, DIFFERENT checkpoint (its batch ids restart at 0):
    # doc 9 is a historical near-dup, doc 10 is genuinely novel
    src2 = str(tmp_path / "src2")
    _docs_df(
        spark,
        [
            (9, "the quick brown fox jumps over the lazy dog"),
            (10, "totally fresh never before seen sentence tokens"),
        ],
    ).write.parquet(src2)
    q2 = stream_ingest(
        "neardup",
        spark.readStream.schema("doc_id long, text string").parquet(src2),
        state,
        "neardup_ingest_smoke2",
        str(tmp_path / "cp2"),
    )
    q2.awaitTermination(120)
    assert {
        r.doc_id for r in spark.read.parquet(state + "/corpus_neardup").collect()
    } == {1, 3, 10}


def test_stream_neardup_keepers_mode_passes_through(spark, tmp_path):
    """r10 verdict #3 streaming parity: state_mode='keepers' flows
    through the foreachBatch ingestor kwargs — the band-key state after
    a streaming run holds only ACCEPTED docs' keys, and the mode is
    pinned in _meta exactly as in the batch API."""
    from etl_pipeline_for_retail_sales_data_spark.plans import (
        incremental_corpus as IC,
    )
    from etl_pipeline_for_retail_sales_data_spark.streaming.ingest import (
        stream_ingest,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    _docs_df(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # dup of 1
            (3, "completely different words entirely here now"),
        ],
    ).write.parquet(src)
    q = stream_ingest(
        "neardup",
        spark.readStream.schema("doc_id long, text string").parquet(src),
        state,
        "neardup_keepers_smoke",
        str(tmp_path / "cp"),
        state_mode="keepers",
    )
    q.awaitTermination(120)
    corpus = spark.read.parquet(state + "/corpus_neardup")
    assert {r.doc_id for r in corpus.collect()} == {1, 3}
    # keepers: only docs 1 and 3's band keys in state (4 bands each),
    # NOT doc 2's — the "all" mode would hold 12 rows
    assert spark.read.parquet(state + "/neardup_bands").count() == 8
    assert IC.state_meta(spark, state, "neardup")["state_mode"] == "keepers"


def test_stream_same_checkpoint_restart_continues_epochs(spark, tmp_path):
    """Restarting the SAME checkpoint after new files arrive processes
    them as the next batch id under the same namespace — novel docs
    ingest, and re-running with nothing new re-delivers nothing."""
    from etl_pipeline_for_retail_sales_data_spark.streaming.ingest import (
        stream_ingest,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    cp = str(tmp_path / "cp")
    _docs_df(spark, [(1, "alpha"), (2, "beta")]).write.parquet(src)

    def run():
        q = stream_ingest(
            "exact",
            spark.readStream.schema("doc_id long, text string").parquet(src),
            state,
            "exact_restart_smoke",
            cp,
        )
        q.awaitTermination(120)

    run()
    assert spark.read.parquet(state + "/corpus").count() == 2
    # new file lands in the source dir: the restarted query sees batch 1
    _docs_df(spark, [(5, "alpha"), (6, "gamma")]).write.mode("append").parquet(src)
    run()
    got = {r.doc_id for r in spark.read.parquet(state + "/corpus").collect()}
    assert got == {1, 2, 6}  # 5 is a historical dup; 6 is novel
    run()  # third run: no new files, no new epochs, state unchanged
    assert spark.read.parquet(state + "/corpus").count() == 3


def test_stream_distinct_checkpoints_get_disjoint_epoch_namespaces(spark, tmp_path):
    """Two ingestors with different checkpoints both deliver batch 0 to
    one state: the second must RUN (novel doc accepted), not be skipped
    as a redelivery of the first's epoch 0."""
    from etl_pipeline_for_retail_sales_data_spark.streaming.ingest import (
        make_ingestor,
    )

    state = str(tmp_path / "state")
    seen = []
    a = make_ingestor(
        "exact", state, on_stats=lambda b, s: seen.append(("a", b, s["n_accepted"])),
        epoch_ns="run-a",
    )
    b = make_ingestor(
        "exact", state, on_stats=lambda b_, s: seen.append(("b", b_, s["n_accepted"])),
        epoch_ns="run-b",
    )
    a(_docs_df(spark, [(1, "x")]), 0)
    b(_docs_df(spark, [(2, "y")]), 0)  # same batch id, different namespace
    assert seen == [("a", 0, 1), ("b", 0, 1)]
    assert spark.read.parquet(state + "/corpus").count() == 2
    # and each namespace's OWN redelivery still skips
    a(_docs_df(spark, [(1, "x")]), 0)
    b(_docs_df(spark, [(2, "y")]), 0)
    assert len(seen) == 2


def test_stream_all_duplicate_epoch_redelivery_skips_wholesale(spark, tmp_path):
    """r8 verdict #3: an epoch that appended NOTHING (all duplicates)
    still commits its epoch marker, so its redelivery is skipped without
    re-running classification (on_stats not invoked again)."""
    from etl_pipeline_for_retail_sales_data_spark.plans import (
        incremental_corpus as IC,
    )
    from etl_pipeline_for_retail_sales_data_spark.streaming.ingest import (
        make_ingestor,
    )

    state = str(tmp_path / "state")
    calls = []
    ingest = make_ingestor("exact", state, on_stats=lambda b, s: calls.append((b, s)))
    ingest(_docs_df(spark, [(1, "x")]), 0)
    ingest(_docs_df(spark, [(9, "x")]), 1)  # all-duplicate epoch
    assert calls[1][1]["n_accepted"] == 0
    assert IC.epoch_committed(spark, state, 1)  # marker landed anyway
    ingest(_docs_df(spark, [(9, "x")]), 1)  # redelivery: skipped wholesale
    assert len(calls) == 2
    # the empty commit is auditable: one log entry with no roots
    empty = [e for e in IC.ingest_log(spark, state) if e["epoch"] == 1]
    assert len(empty) == 1 and empty[0]["roots"] == []


def test_stream_redelivered_epoch_is_skipped_wholesale(spark, tmp_path):
    """At-least-once delivery: the same (batch_df, batch_id) arrives
    twice. The epoch guard skips the redelivery entirely — corpus AND
    the append-only band state are byte-count-identical, stronger than
    classification-idempotence (which would re-append band rows)."""
    from etl_pipeline_for_retail_sales_data_spark.streaming.ingest import (
        make_ingestor,
    )

    state = str(tmp_path / "state")
    seen = {}
    ingest = make_ingestor("neardup", state, on_stats=lambda b, s: seen.setdefault(b, s))
    batch = _docs_df(spark, [(1, "one two three four five six")])

    ingest(batch, 0)
    assert seen[0]["n_accepted"] == 1
    bands_before = spark.read.parquet(state + "/neardup_bands").count()

    ingest(batch, 0)  # redelivery: skipped before any read or append
    assert spark.read.parquet(state + "/corpus_neardup").count() == 1
    assert spark.read.parquet(state + "/neardup_bands").count() == bands_before

    ingest(_docs_df(spark, [(2, "seven eight nine ten eleven")]), 1)
    assert seen[1]["n_accepted"] == 1
    assert spark.read.parquet(state + "/corpus_neardup").count() == 2


def test_stream_crashed_epoch_rolls_forward_then_skips(spark, tmp_path):
    """Failure between the journal commit and the epoch flag cannot
    double-ingest: the epoch id rides the journal marker, so the
    redelivery's recover_state() rolls BOTH the data and the flag
    forward, and the guard then skips the epoch."""
    from etl_pipeline_for_retail_sales_data_spark.plans import (
        incremental_corpus as IC,
    )
    from etl_pipeline_for_retail_sales_data_spark.streaming.ingest import (
        make_ingestor,
    )

    state = str(tmp_path / "state")
    batch = _docs_df(spark, [(1, "one two three four five six")])
    with pytest.raises(IC.SimulatedCrash):
        IC.ingest_batch_neardup(spark, batch, state, epoch_id=5, _crash="after_journal")
    assert not IC.epoch_committed(spark, state, 5)

    calls = []
    ingest = make_ingestor("neardup", state, on_stats=lambda b, s: calls.append(b))
    ingest(batch, 5)  # redelivery of the crashed epoch
    assert calls == []  # skipped: recover_state rolled epoch 5 forward
    assert IC.epoch_committed(spark, state, 5)
    assert spark.read.parquet(state + "/corpus_neardup").count() == 1
    assert spark.read.parquet(state + "/neardup_bands").count() == 4  # 1 doc x 4 bands


def test_stream_exact_ingest_epoch_guard(spark, tmp_path):
    from etl_pipeline_for_retail_sales_data_spark.streaming.ingest import (
        make_ingestor,
    )

    state = str(tmp_path / "state")
    ingest = make_ingestor("exact", state)
    batch = _docs_df(spark, [(1, "a"), (2, "a"), (3, "b")])
    ingest(batch, 0)
    ingest(batch, 0)  # redelivery
    corpus = spark.read.parquet(state + "/corpus")
    assert corpus.count() == 2 and {r.doc_id for r in corpus.collect()} == {1, 3}


def test_stream_embdup_ingest_epoch_guard(spark, tmp_path):
    """The embedding-LSH loop through the streaming sink: exactly-once
    per epoch, redelivery skipped wholesale."""
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import _lsh_tables
    from etl_pipeline_for_retail_sales_data_spark.streaming.ingest import (
        make_ingestor,
    )

    state = str(tmp_path / "state")
    tables = _lsh_tables()
    ingest = make_ingestor("embdup", state, tables=tables)
    batch = spark.createDataFrame(
        [(1, [float(j) for j in range(64)]), (2, [-float(j) - 1.0 for j in range(64)])],
        "vec_id long, embedding array<double>",
    )
    ingest(batch, 0)
    ingest(batch, 0)  # redelivery
    corpus = spark.read.parquet(state + "/corpus_embdup")
    assert corpus.count() == 2
    buckets = spark.read.parquet(state + "/embdup_buckets").count()
    ingest(batch, 0)  # and again
    assert spark.read.parquet(state + "/embdup_buckets").count() == buckets


def test_stream_bloom_ingest_epoch_guard(spark, tmp_path):
    from etl_pipeline_for_retail_sales_data_spark.streaming.ingest import (
        make_ingestor,
    )

    state = str(tmp_path / "state")
    ingest = make_ingestor("bloom", state, m_bits=4096, k=4)
    batch = _docs_df(spark, [(1, "aa"), (2, "aa"), (3, "bb")])
    ingest(batch, 0)
    ingest(batch, 0)  # redelivery: skipped wholesale
    corpus = spark.read.parquet(state + "/corpus_bloom")
    assert corpus.count() == 2 and {r.doc_id for r in corpus.collect()} == {1, 3}
    bits = spark.read.parquet(state + "/bloom_bits").count()
    ingest(batch, 0)
    assert spark.read.parquet(state + "/bloom_bits").count() == bits


def test_stream_semantic_ingest_end_to_end(spark, tmp_path):
    """The fifth leg through a real availableNow streaming query: novel
    and near-duplicate vectors classify against the persistent member
    state across two runs with distinct checkpoints."""
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import (
        _sem_centroids,
    )
    from etl_pipeline_for_retail_sales_data_spark.streaming.ingest import (
        stream_ingest,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    cents = _sem_centroids()
    spark.createDataFrame(
        [
            (1, [float(j) for j in range(64)]),
            (2, [float(j) + 0.001 for j in range(64)]),  # near-dup of 1
        ],
        "vec_id long, embedding array<double>",
    ).write.parquet(src)
    q = stream_ingest(
        "semantic",
        spark.readStream.schema("vec_id long, embedding array<double>").parquet(src),
        state, "sem_ingest_smoke", str(tmp_path / "cp1"), centroids=cents,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(state + "/corpus_semantic").count() == 1

    # run 2, fresh checkpoint (batch ids restart at 0): one historical
    # near-dup + one novel vector — the novel one must land
    src2 = str(tmp_path / "src2")
    spark.createDataFrame(
        [
            (10, [float(j) + 0.002 for j in range(64)]),  # hist near-dup
            (11, [(-1.0) ** j * (j + 1.0) for j in range(64)]),  # novel
        ],
        "vec_id long, embedding array<double>",
    ).write.parquet(src2)
    q2 = stream_ingest(
        "semantic",
        spark.readStream.schema("vec_id long, embedding array<double>").parquet(src2),
        state, "sem_ingest_smoke2", str(tmp_path / "cp2"),
    )
    q2.awaitTermination(120)
    got = {r.vec_id for r in spark.read.parquet(state + "/corpus_semantic").collect()}
    assert got == {1, 11}

def test_maintain_state_between_streaming_runs(spark, tmp_path):
    """r9 verdict #5: the nightly maintain_state pass runs BETWEEN two
    availableNow runs of stream_ingest("semantic") — epochs prune
    per-namespace (highest kept), the member state compacts, the commit
    log rolls into one segment — and the stream continues on the SAME
    checkpoint afterwards: the surviving tail epoch still skips on
    redelivery, and the next batch classifies correctly against the
    compacted state."""
    from etl_pipeline_for_retail_sales_data_spark.plans import (
        incremental_corpus as IC,
    )
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_semantic,
        maintain_state,
    )
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import (
        _sem_centroids,
    )
    from etl_pipeline_for_retail_sales_data_spark.streaming.ingest import (
        _checkpoint_namespace,
        stream_ingest,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    cp = str(tmp_path / "cp")
    cents = _sem_centroids()
    schema = "vec_id long, embedding array<double>"

    # run 1 (batch 0): one novel + one near-dup
    spark.createDataFrame(
        [
            (1, [float(j) for j in range(64)]),
            (2, [float(j) + 0.001 for j in range(64)]),  # near-dup of 1
        ],
        schema,
    ).write.parquet(src)
    q = stream_ingest(
        "semantic", spark.readStream.schema(schema).parquet(src), state,
        "sem_maint", cp, centroids=cents,
    )
    q.awaitTermination(120)
    # run 2 (batch 1, SAME checkpoint): one more novel vector
    spark.createDataFrame(
        [(3, [(-1.0) ** j * (j + 1.0) for j in range(64)])], schema
    ).write.mode("append").parquet(src)
    q2 = stream_ingest(
        "semantic", spark.readStream.schema(schema).parquet(src), state,
        "sem_maint2", cp,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(state + "/corpus_semantic").count() == 2

    ns = _checkpoint_namespace(spark, cp)
    assert IC.epoch_committed(spark, state, f"{ns}-0")
    assert IC.epoch_committed(spark, state, f"{ns}-1")

    # the nightly pass between runs: prune epochs to the tail, compact
    out = maintain_state(spark, state, keep_epochs_per_ns=1)
    assert out["epochs_pruned"] == 1
    assert out["compacted_semantic"] == 3  # vectors 1, 2, 3 — one row each
    assert out["log_entries"] == 2
    assert not IC.epoch_committed(spark, state, f"{ns}-0")  # pruned
    assert IC.epoch_committed(spark, state, f"{ns}-1")  # tail kept

    # redelivery-skip survives for the tail epoch (Structured Streaming
    # only ever redelivers the in-flight tail): the batch API with the
    # same namespaced epoch id returns None = skipped wholesale
    redeliver = spark.createDataFrame(
        [(3, [(-1.0) ** j * (j + 1.0) for j in range(64)])], schema
    )
    assert (
        ingest_batch_semantic(spark, redeliver, state, epoch_id=f"{ns}-1") is None
    )
    # a PRUNED epoch re-classifies instead of skipping — harmless: all
    # historical, nothing appended (idempotent by classification)
    s = ingest_batch_semantic(
        spark,
        spark.createDataFrame(
            [(1, [float(j) for j in range(64)])], schema
        ),
        state,
        epoch_id=f"{ns}-0",
    )
    assert s["n_hist_semdup"] == 1 and s["n_accepted"] == 0

    # and the stream continues on the same checkpoint: batch 2 ingests
    # one novel + skips one historical against the COMPACTED state
    spark.createDataFrame(
        [
            (10, [float(j) + 0.002 for j in range(64)]),  # hist near-dup
            (11, [1.0 if j % 7 == 0 else -2.0 for j in range(64)]),  # novel
        ],
        schema,
    ).write.mode("append").parquet(src)
    q3 = stream_ingest(
        "semantic", spark.readStream.schema(schema).parquet(src), state,
        "sem_maint3", cp,
    )
    q3.awaitTermination(120)
    got = {r.vec_id for r in spark.read.parquet(state + "/corpus_semantic").collect()}
    assert got == {1, 3, 11}


def test_stream_sketch_ingest_merges_and_skips_redelivery(spark, tmp_path):
    """The mergeable-sketch leg through the streaming sink: batches
    merge into the bounded per-group sketch, a redelivered epoch skips
    wholesale — and even a FORCED re-merge of the same data (fresh
    epoch id) leaves the state bit-identical, the algebraic idempotence
    the leg's replay safety rests on."""
    from etl_pipeline_for_retail_sales_data_spark.streaming.ingest import (
        make_ingestor,
    )

    state = str(tmp_path / "state")
    stats = []
    ingest = make_ingestor(
        "sketch", state, on_stats=lambda bid, s: stats.append((bid, s)), k=8
    )
    batch = spark.createDataFrame(
        [
            (1, "a", "one two three four"),
            (2, "b", "red green blue cyan"),
        ],
        "doc_id long, source string, text string",
    )
    ingest(batch, 0)
    rows = {
        (r["source"], r["hv"])
        for r in spark.read.parquet(state + "/kmv_sketch").collect()
    }
    assert len(stats) == 1 and stats[0][1]["n_groups"] == 2
    ingest(batch, 0)  # redelivery: skipped wholesale
    assert len(stats) == 1
    ingest(batch, 1)  # same data, new epoch: idempotent re-merge
    assert len(stats) == 2
    assert {
        (r["source"], r["hv"])
        for r in spark.read.parquet(state + "/kmv_sketch").collect()
    } == rows
