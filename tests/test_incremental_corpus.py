"""Incremental corpus ingestion (plans/incremental_corpus.py): the
append-only daily loop — within-batch dedup, dedup against historical
fingerprints, idempotent re-runs. The pure-query twin of the funnel
semantics is oracle-checked as `incremental_ingest_funnel`."""

import pytest

pytestmark = pytest.mark.slow  # heavy sweep: excluded from the fast lane (pytest -m "not slow")


from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
    ingest_batch,
)

SCHEMA = "doc_id long, text string"


@pytest.fixture
def state_dir(tmp_path):
    return str(tmp_path / "corpus_state")


def _docs(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_two_batch_funnel_and_state(spark, state_dir):
    day1 = _docs(
        spark,
        [
            (1, "alpha text"),
            (2, "beta text"),
            (3, "alpha text"),  # within-batch dup of 1
        ],
    )
    s1 = ingest_batch(spark, day1, state_dir)
    assert s1 == {"n_batch": 3, "n_within_dup": 1, "n_hist_dup": 0, "n_accepted": 2}

    day2 = _docs(
        spark,
        [
            (10, "alpha text"),  # historical dup (ingested day 1)
            (11, "gamma text"),  # novel
            (12, "gamma text"),  # within-batch dup of 11
        ],
    )
    s2 = ingest_batch(spark, day2, state_dir)
    assert s2 == {"n_batch": 3, "n_within_dup": 1, "n_hist_dup": 1, "n_accepted": 1}

    corpus = spark.read.parquet(state_dir + "/corpus")
    assert {r.doc_id for r in corpus.collect()} == {1, 2, 11}
    fps = spark.read.parquet(state_dir + "/fingerprints")
    assert fps.count() == 3
    assert fps.select("digest").distinct().count() == 3


def test_reingest_is_idempotent(spark, state_dir):
    batch = _docs(spark, [(1, "a"), (2, "b")])
    first = ingest_batch(spark, batch, state_dir)
    assert first["n_accepted"] == 2
    again = ingest_batch(spark, batch, state_dir)
    assert again == {"n_batch": 2, "n_within_dup": 0, "n_hist_dup": 2, "n_accepted": 0}
    assert spark.read.parquet(state_dir + "/corpus").count() == 2
    assert spark.read.parquet(state_dir + "/fingerprints").count() == 2


def test_all_duplicate_batch_appends_nothing(spark, state_dir):
    ingest_batch(spark, _docs(spark, [(1, "x")]), state_dir)
    stats = ingest_batch(spark, _docs(spark, [(5, "x"), (6, "x")]), state_dir)
    assert stats == {"n_batch": 2, "n_within_dup": 1, "n_hist_dup": 1, "n_accepted": 0}
    # no empty parquet append happened — state still one file set, 1 row
    assert spark.read.parquet(state_dir + "/corpus").count() == 1


def test_neardup_ingest_matches_static_funnel(spark, state_dir, sf_smoke):
    """Replaying the documents table as day batches (day = doc_id % 3,
    ingested in day order) through the STATEFUL near-dup loop must
    reproduce exactly the static funnel the oracle checks
    (incremental_neardup_funnel) — same per-day hist/within/accepted
    counts."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_neardup,
    )
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES

    expected = {
        int(r["day"]): (r["n_docs"], r["n_hist_neardup"], r["n_within_neardup"], r["n_accepted"])
        for r in QUERIES["incremental_neardup_funnel"](spark, sf_smoke).collect()
    }
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    for day in (0, 1, 2):
        batch = docs.filter(docs.doc_id % 3 == day)
        got = ingest_batch_neardup(spark, batch, state_dir)
        assert (
            got["n_batch"],
            got["n_hist_neardup"],
            got["n_within_neardup"],
            got["n_accepted"],
        ) == expected[day], (day, got, expected[day])


def test_neardup_ingest_replay_is_all_historical(spark, state_dir):
    """Re-ingesting an already-seen batch classifies EVERY signed doc as
    a historical near-dup (its band keys are all in the state) and
    accepts nothing new except signature-less docs, which can never
    collide."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_neardup,
    )

    batch = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely here now"),
            (4, "xy"),  # < 3 tokens: no signature, never a near-dup
        ],
    )
    s1 = ingest_batch_neardup(spark, batch, state_dir)
    assert s1["n_batch"] == 4
    assert s1["n_hist_neardup"] == 0
    # docs 1/2 share 8 of 9 shingles -> share a band with high odds; the
    # structural guarantees under test are the state transitions, so only
    # pin the invariants that cannot flake:
    assert s1["n_accepted"] + s1["n_within_neardup"] == 4

    s2 = ingest_batch_neardup(spark, batch, state_dir)
    # every signed doc's keys are now in the state; doc 4 has no keys
    assert s2 == {
        "n_batch": 4,
        "n_hist_neardup": 3,
        "n_within_neardup": 0,
        "n_accepted": 1,
    }


def test_neardup_state_compaction(spark, state_dir):
    """Replaying a batch duplicates its band rows in the append-only
    state; compaction collapses them without changing classification."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        compact_neardup_state,
        ingest_batch_neardup,
    )

    batch = _docs(
        spark,
        [(1, "one two three four five six"), (2, "seven eight nine ten eleven")],
    )
    ingest_batch_neardup(spark, batch, state_dir)
    ingest_batch_neardup(spark, batch, state_dir)  # replay doubles the rows
    import os

    bands_path = os.path.join(state_dir, "neardup_bands")
    assert spark.read.parquet(bands_path).count() == 16  # 2 docs x 4 bands x 2
    n = compact_neardup_state(spark, state_dir)
    assert n == 8
    assert spark.read.parquet(bands_path).count() == 8
    # classification unchanged after compaction: replay still 100% hist
    s = ingest_batch_neardup(spark, batch, state_dir)
    assert s["n_hist_neardup"] == 2 and s["n_accepted"] == 0
    # compacting an empty state is a no-op
    assert compact_neardup_state(spark, str(state_dir) + "_missing") == 0


# --- round 8: crash atomicity, bucketed state, FS-API compaction ---------


def _corpus_digests(spark, state_dir, root="corpus"):
    df = spark.read.parquet(f"{state_dir}/{root}")
    return df.select(F.md5("text").alias("d")).collect()


from pyspark.sql import functions as F  # noqa: E402

from etl_pipeline_for_retail_sales_data_spark.fsutil import HadoopFS  # noqa: E402
from etl_pipeline_for_retail_sales_data_spark.plans import (  # noqa: E402
    incremental_corpus as IC,
)


@pytest.mark.parametrize("crash", ["after_stage", "after_journal", "mid_publish"])
def test_exact_ingest_crash_then_blind_retry_never_duplicates(
    spark, state_dir, crash
):
    """The one false claim of round 7, now true by protocol: a crash at
    ANY point of the two-dataset publish (before the journal marker,
    after it, or between the two publish moves) followed by a BLIND
    retry yields exactly one copy of every accepted doc — recover_state
    rolls the crashed batch forward (marker exists) or back (no marker)
    before the retry classifies."""
    ingest_batch(spark, _docs(spark, [(1, "alpha"), (2, "beta")]), state_dir)

    day2 = _docs(spark, [(10, "gamma"), (11, "delta"), (12, "alpha")])
    with pytest.raises(IC.SimulatedCrash):
        ingest_batch(spark, day2, state_dir, _crash=crash)

    # blind retry of the same batch
    retry = ingest_batch(spark, day2, state_dir)
    assert retry["n_batch"] == 3
    # either the crashed batch committed (retry sees 3 hist dups) or it
    # rolled back (retry accepts the 2 novel docs) — never both
    assert (retry["n_hist_dup"], retry["n_accepted"]) in {(3, 0), (1, 2)}

    corpus = spark.read.parquet(state_dir + "/corpus")
    assert {r.doc_id for r in corpus.collect()} == {1, 2, 10, 11}
    assert corpus.count() == 4  # zero duplicate corpus rows
    fps = spark.read.parquet(state_dir + "/fingerprints")
    assert fps.count() == 4 and fps.select("digest").distinct().count() == 4


@pytest.mark.parametrize("crash", ["after_stage", "after_journal", "mid_publish"])
def test_bloom_ingest_crash_then_blind_retry_never_duplicates(spark, tmp_path, crash):
    """The Bloom leg stages two roots (corpus_bloom, bloom_bits) through
    the same journal commit: a crash at any point followed by a BLIND
    retry leaves one copy of every accepted doc, and the set bits equal
    those of a crash-free run of the same batches."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_bloom,
    )

    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    day1 = _docs(spark, [(1, "alpha"), (2, "beta")])
    day2 = _docs(spark, [(10, "gamma"), (11, "delta"), (12, "alpha")])
    for state in (crashed, clean):
        ingest_batch_bloom(spark, day1, state, m_bits=4096, k=4)
    with pytest.raises(IC.SimulatedCrash):
        ingest_batch_bloom(spark, day2, crashed, _crash=crash)
    retry = ingest_batch_bloom(spark, day2, crashed)
    assert retry["n_batch"] == 3
    # rolled forward (retry rejects all 3) or back (retry accepts 2)
    assert (retry["n_rejected_maybe_dup"], retry["n_accepted"]) in {(3, 0), (1, 2)}
    assert ingest_batch_bloom(spark, day2, clean)["n_accepted"] == 2

    corpus = spark.read.parquet(crashed + "/corpus_bloom")
    assert corpus.count() == 4  # zero duplicate corpus rows
    assert {r.doc_id for r in corpus.collect()} == {1, 2, 10, 11}

    def positions(state):
        bits = spark.read.parquet(state + "/bloom_bits").select("pos").distinct()
        return {r.pos for r in bits.collect()}

    assert positions(crashed) == positions(clean)


@pytest.mark.parametrize("crash", ["after_journal", "mid_publish"])
def test_neardup_ingest_crash_then_blind_retry_never_duplicates(
    spark, state_dir, crash
):
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_neardup,
    )

    batch = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words entirely here now"),
        ],
    )
    with pytest.raises(IC.SimulatedCrash):
        ingest_batch_neardup(spark, batch, state_dir, _crash=crash)
    retry = ingest_batch_neardup(spark, batch, state_dir)
    # the crashed batch committed (marker existed) -> the retry finds
    # every band key in the state and accepts nothing new
    assert retry["n_hist_neardup"] == 2 and retry["n_accepted"] == 0
    corpus = spark.read.parquet(state_dir + "/corpus_neardup")
    assert corpus.count() == 2  # zero duplicate corpus rows
    assert {r.doc_id for r in corpus.collect()} == {1, 2}


def test_neardup_crash_before_journal_rolls_back(spark, state_dir):
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_neardup,
    )

    batch = _docs(spark, [(1, "one two three four five six")])
    with pytest.raises(IC.SimulatedCrash):
        ingest_batch_neardup(spark, batch, state_dir, _crash="after_stage")
    # nothing visible: no marker -> the staged dirs roll back on retry
    retry = ingest_batch_neardup(spark, batch, state_dir)
    assert retry["n_hist_neardup"] == 0 and retry["n_accepted"] == 1
    assert spark.read.parquet(state_dir + "/corpus_neardup").count() == 1
    # no staged leftovers survive
    fs = HadoopFS(spark, state_dir)
    for rel in IC.STATE_ROOTS:
        assert not any(
            n.startswith(".staged-") for n in fs.list_names(f"{state_dir}/{rel}")
        )
    assert fs.list_names(f"{state_dir}/_journal") == []


def test_classification_join_no_exchange_on_state_side(spark, state_dir):
    """Verdict r7 #2: the bucketed state means the per-batch check
    provably shuffles ONLY the batch. Both loops' classification joins
    must plan the state scan as Bucketed with NO Exchange above it —
    exactly one Exchange total (the batch side)."""
    from etl_pipeline_for_retail_sales_data_spark.operators.dedup import (
        minhash_band_keys,
    )
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_neardup,
    )

    ingest_batch(spark, _docs(spark, [(1, "a"), (2, "b")]), state_dir)
    ingest_batch_neardup(
        spark, _docs(spark, [(1, "one two three four five six")]), state_dir
    )

    batch = _docs(spark, [(7, "fresh text"), (8, "one two three four five six")])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hist = IC.fingerprint_state(spark, state_dir).select("digest")
        keyed = batch.select(F.md5("text").alias("digest"), "doc_id")
        exact_plan = (
            keyed.join(hist, "digest", "left_anti")
            ._jdf.queryExecution().executedPlan().toString()
        )
        bk = minhash_band_keys(batch)
        state = IC.neardup_band_state(spark, state_dir).select("band", "bk")
        near_plan = (
            bk.join(state, ["band", "bk"], "left_semi")
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    for plan in (exact_plan, near_plan):
        assert "Bucketed: true" in plan, plan
        assert plan.count("Exchange") == 1, plan  # batch side only


def test_compaction_and_recovery_via_explicit_file_scheme(spark, tmp_path):
    """Verdict r7 #6: compaction runs through the Hadoop FileSystem API —
    prove it against an explicit file:// URI (the client the local
    scheme resolves to), not driver os/shutil calls."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        compact_fingerprints,
        compact_neardup_state,
        ingest_batch_neardup,
    )

    state_dir = "file://" + str(tmp_path / "fs_state")
    batch = _docs(
        spark,
        [(1, "one two three four five six"), (2, "seven eight nine ten eleven")],
    )
    ingest_batch_neardup(spark, batch, state_dir)
    ingest_batch_neardup(spark, batch, state_dir)  # replay doubles the rows
    bands = state_dir + "/neardup_bands"
    assert spark.read.parquet(bands).count() == 16
    assert compact_neardup_state(spark, state_dir) == 8
    assert spark.read.parquet(bands).count() == 8
    s = ingest_batch_neardup(spark, batch, state_dir)
    assert s["n_hist_neardup"] == 2 and s["n_accepted"] == 0

    # exact-loop symmetry
    ingest_batch(spark, _docs(spark, [(5, "x"), (6, "y")]), state_dir)
    assert compact_fingerprints(spark, state_dir) == 2
    again = ingest_batch(spark, _docs(spark, [(7, "x")]), state_dir)
    assert again["n_hist_dup"] == 1 and again["n_accepted"] == 0


def test_compaction_swap_crash_rolls_forward(spark, state_dir):
    """ADVICE r7: a crash between the two swap renames used to leave the
    band state MISSING (next ingest re-accepts everything). Now
    recover_state rolls the complete tmp forward, so classification
    still sees full history."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_neardup,
    )

    batch = _docs(spark, [(1, "one two three four five six")])
    ingest_batch_neardup(spark, batch, state_dir)
    bands = f"{state_dir}/neardup_bands"
    fs = HadoopFS(spark, state_dir)

    # simulate the crash window: tmp fully written, root renamed away
    IC._staged_bucketed_write(
        spark.read.parquet(bands).distinct(), bands + "._compact_tmp",
        ["band", "bk"], IC.DEFAULT_BUCKETS,
    )
    assert fs.rename(bands, bands + "._compact_old")
    assert not fs.exists(bands)

    # blind retry of the ingest loop must see the full history
    s = ingest_batch_neardup(spark, batch, state_dir)
    assert s["n_hist_neardup"] == 1 and s["n_accepted"] == 0
    assert fs.exists(bands)
    assert not fs.exists(bands + "._compact_tmp")
    assert not fs.exists(bands + "._compact_old")


def _lsh_tables_fixture():
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import _lsh_tables

    return _lsh_tables()


def test_embdup_ingest_matches_static_funnel(spark, state_dir, sf_smoke):
    """Replaying the embeddings table as day batches (day = vec_id % 3,
    ingested in day order) through the STATEFUL embedding near-dup loop
    must reproduce exactly the static funnel the oracle checks
    (incremental_embdup_funnel)."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_embdup,
    )
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES

    expected = {
        int(r["day"]): (r["n_vecs"], r["n_hist_embdup"], r["n_within_embdup"], r["n_accepted"])
        for r in QUERIES["incremental_embdup_funnel"](spark, sf_smoke).collect()
    }
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    tables = _lsh_tables_fixture()
    for day in (0, 1, 2):
        batch = emb.filter(emb.vec_id % 3 == day)
        got = ingest_batch_embdup(spark, batch, state_dir, tables)
        assert (
            got["n_batch"],
            got["n_hist_embdup"],
            got["n_within_embdup"],
            got["n_accepted"],
        ) == expected[day], (day, got, expected[day])


def test_embdup_replay_and_crash_recovery(spark, state_dir):
    """Re-ingesting a seen batch classifies every bucketed vector as
    historical (null vectors produce no keys and are always accepted);
    a crash after the journal commit rolls forward on blind retry with
    zero duplicate corpus rows — the shared protocol, exercised through
    the embedding loop."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_embdup,
    )

    tables = _lsh_tables_fixture()
    batch = spark.createDataFrame(
        [
            (1, [float(j) for j in range(64)]),
            (2, [float(j) + 0.001 for j in range(64)]),  # same sign buckets as 1
            (3, None),  # no embedding: no keys, always accepted
        ],
        "vec_id long, embedding array<double>",
    )
    s1 = ingest_batch_embdup(spark, batch, state_dir, tables)
    assert s1["n_batch"] == 3 and s1["n_hist_embdup"] == 0
    assert s1["n_within_embdup"] == 1  # vec 2 shares every bucket with 1
    assert s1["n_accepted"] == 2  # vec 1 + the null-vector row

    s2 = ingest_batch_embdup(spark, batch, state_dir, tables)
    assert s2 == {
        "n_batch": 3,
        "n_hist_embdup": 2,
        "n_within_embdup": 0,
        "n_accepted": 1,  # the null-vector row can never collide
    }

    day2 = spark.createDataFrame(
        [(10, [-float(j) - 1.0 for j in range(64)])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(IC.SimulatedCrash):
        ingest_batch_embdup(spark, day2, state_dir, tables, _crash="after_journal")
    retry = ingest_batch_embdup(spark, day2, state_dir, tables)
    assert retry["n_hist_embdup"] == 1 and retry["n_accepted"] == 0
    corpus = spark.read.parquet(state_dir + "/corpus_embdup")
    assert corpus.filter("vec_id = 10").count() == 1  # exactly once

    # compaction symmetry
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        compact_embdup_state,
    )

    n = compact_embdup_state(spark, state_dir)
    assert n == spark.read.parquet(state_dir + "/embdup_buckets").count()
    s3 = ingest_batch_embdup(spark, batch, state_dir, tables)
    assert s3["n_hist_embdup"] == 2  # classification unchanged after compaction


def test_bloom_ingest_matches_static_funnel(spark, state_dir, sf_smoke):
    """Replaying documents as day batches through the STATEFUL Bloom
    loop reproduces the oracled static funnel exactly — including the
    false-positive decisions, because the bit positions are portable."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_bloom,
    )
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES

    expected = {
        int(r["day"]): (r["n_docs"], r["n_within_dup"], r["n_rejected_maybe_dup"], r["n_accepted"])
        for r in QUERIES["incremental_bloom_funnel"](spark, sf_smoke).collect()
    }
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    for day in (0, 1, 2):
        batch = docs.filter(docs.doc_id % 3 == day)
        got = ingest_batch_bloom(spark, batch, state_dir, m_bits=4096, k=4)
        assert (
            got["n_batch"],
            got["n_within_dup"],
            got["n_rejected_maybe_dup"],
            got["n_accepted"],
        ) == expected[day], (day, got, expected[day])


def test_bloom_no_false_negatives_and_bounded_state(spark, tmp_path):
    """The Bloom contract, head-on: with a deliberately tiny filter
    (m=256) false positives MUST appear, but no true duplicate ever
    slips through — bloom-accepted is a SUBSET of exact-accepted — and
    after compaction the state never exceeds m rows regardless of how
    much was ingested."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        compact_bloom_state,
        ingest_batch,
        ingest_batch_bloom,
    )

    bloom_state = str(tmp_path / "bloom")
    exact_state = str(tmp_path / "exact")
    day1 = _docs(spark, [(i, f"text number {i}") for i in range(60)])
    # day2: 30 true dups of day1 + 30 novel
    day2 = _docs(
        spark,
        [(100 + i, f"text number {i}") for i in range(30)]
        + [(200 + i, f"fresh text {i}") for i in range(30)],
    )
    for batch in (day1, day2):
        b = ingest_batch_bloom(spark, batch, bloom_state, m_bits=256, k=4)
        e = ingest_batch(spark, batch, exact_state)
        # no false negatives: every true historical dup is rejected
        assert b["n_rejected_maybe_dup"] >= e["n_hist_dup"]
        assert b["n_accepted"] <= e["n_accepted"]
        # bloom-accepted ⊆ exact-accepted (the FP direction only)
        ba = {r.doc_id for r in spark.read.parquet(bloom_state + "/corpus_bloom").collect()}
        ea = {r.doc_id for r in spark.read.parquet(exact_state + "/corpus").collect()}
        assert ba <= ea
    # with m=256 and ~90 inserted digests x4 probes, FPs are certain
    assert len(ba) < len(ea)
    n = compact_bloom_state(spark, bloom_state)
    assert n <= 256
    assert spark.read.parquet(bloom_state + "/bloom_bits").count() == n

    # replay: every keeper's bits are set -> all rejected, nothing appended
    again = ingest_batch_bloom(spark, day1, bloom_state, m_bits=256, k=4)
    assert again["n_accepted"] == 0
    assert again["n_rejected_maybe_dup"] == 60
    assert spark.read.parquet(bloom_state + "/corpus_bloom").count() == len(ba)


def test_ingest_commit_log_audit_trail(spark, state_dir):
    """Every committed batch leaves exactly one _commits entry (token,
    roots, epoch); rolled-back batches leave none, and a crash-then-
    retry batch appears exactly once (the roll-forward retires the same
    marker the normal path would)."""
    ingest_batch(spark, _docs(spark, [(1, "a"), (2, "b")]), state_dir)
    log1 = IC.ingest_log(spark, state_dir)
    assert len(log1) == 1
    assert sorted(log1[0]["roots"]) == ["corpus", "fingerprints"]
    assert log1[0]["epoch"] is None

    # crash after journal: retry rolls forward; the batch commits ONCE
    with pytest.raises(IC.SimulatedCrash):
        ingest_batch(
            spark, _docs(spark, [(3, "c")]), state_dir, epoch_id=7,
            _crash="after_journal",
        )
    retry = ingest_batch(spark, _docs(spark, [(3, "c")]), state_dir)
    assert retry["n_hist_dup"] == 1 and retry["n_accepted"] == 0
    log2 = IC.ingest_log(spark, state_dir)
    assert len(log2) == 2
    epochs = sorted(e["epoch"] for e in log2 if e["epoch"] is not None)
    assert epochs == [7]

    # an all-duplicate batch commits nothing and logs nothing
    ingest_batch(spark, _docs(spark, [(9, "a")]), state_dir)
    assert len(IC.ingest_log(spark, state_dir)) == 2
    # journal itself is empty (markers retired, not pending)
    fs = HadoopFS(spark, state_dir)
    assert fs.list_names(f"{state_dir}/_journal") == []


def test_ingest_loops_leave_no_persisted_blocks(spark, state_dir):
    """The stateful loops honor the cachectl contract: after every
    ingest call getPersistentRDDs() is empty (scoped caches released,
    checkpoints are reliable/disk, nothing pinned in the storage pool)."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_bloom,
        ingest_batch_neardup,
    )

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    spark.catalog.clearCache()
    assert persisted() == 0
    batch = _docs(spark, [(1, "one two three four five six"), (2, "b")])
    ingest_batch(spark, batch, state_dir)
    assert persisted() == 0
    ingest_batch_neardup(spark, batch, state_dir)
    assert persisted() == 0
    ingest_batch_bloom(spark, batch, state_dir)
    assert persisted() == 0
    # the embedding legs honor the same contract
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_embdup,
        ingest_batch_semantic,
    )

    vecs = spark.createDataFrame(
        [(1, [float(j) for j in range(64)])], "vec_id long, embedding array<double>"
    )
    ingest_batch_embdup(spark, vecs, state_dir, _lsh_tables_fixture())
    assert persisted() == 0
    ingest_batch_semantic(spark, vecs, state_dir, _sem_centroids_fixture())
    assert persisted() == 0


# --- round 9: parameter pinning, writer lease, null text, log compaction ---


def test_meta_pins_bloom_params_and_mismatch_raises(spark, state_dir):
    """r8 verdict #1: decision-shaping parameters persist in _meta on
    first ingest; a later batch passing a different m_bits/k raises
    instead of silently breaking the no-false-negatives theorem (probes
    mod a different m miss set bits -> true duplicates accepted)."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_bloom,
    )

    ingest_batch_bloom(spark, _docs(spark, [(1, "a")]), state_dir, m_bits=4096, k=4)
    meta = IC.state_meta(spark, state_dir, "bloom")
    assert meta == {"m_bits": 4096, "k": 4, "n_buckets": IC.DEFAULT_BUCKETS}

    with pytest.raises(IC.StateParamMismatch):
        ingest_batch_bloom(spark, _docs(spark, [(2, "b")]), state_dir, m_bits=8192)
    with pytest.raises(IC.StateParamMismatch):
        ingest_batch_bloom(spark, _docs(spark, [(2, "b")]), state_dir, k=6)
    # nothing was appended by the refused calls
    assert spark.read.parquet(state_dir + "/corpus_bloom").count() == 1

    # omitted params default FROM the pinned meta: the replayed keeper
    # is rejected, which only happens if the same m_bits/k reproduced
    # the same bit positions
    again = ingest_batch_bloom(spark, _docs(spark, [(9, "a")]), state_dir)
    assert again["n_rejected_maybe_dup"] == 1 and again["n_accepted"] == 0


def test_meta_pins_minhash_params(spark, state_dir):
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_neardup,
    )

    batch = _docs(spark, [(1, "one two three four five six")])
    ingest_batch_neardup(spark, batch, state_dir, k=8, bands=2)
    meta = IC.state_meta(spark, state_dir, "neardup")
    assert meta["k"] == 8 and meta["bands"] == 2 and meta["n"] == 3
    with pytest.raises(IC.StateParamMismatch):
        ingest_batch_neardup(spark, batch, state_dir, bands=4)
    # defaulted-from-meta replay: every band key already in the state
    s = ingest_batch_neardup(spark, batch, state_dir)
    assert s["n_hist_neardup"] == 1 and s["n_accepted"] == 0
    # 1 doc x 2 bands x 2 ingests — the pinned bands=2 drove both passes
    assert spark.read.parquet(state_dir + "/neardup_bands").count() == 4


def test_meta_pins_embdup_tables_and_later_calls_omit_them(spark, state_dir):
    """The hyperplane tables ARE the key function: they pin into _meta
    (first ingest must pass them), later ingests may omit them, and a
    call passing different planes raises."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_embdup,
    )

    tables = _lsh_tables_fixture()
    batch = spark.createDataFrame(
        [(1, [float(j) for j in range(64)])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="must pass the hyperplane tables"):
        ingest_batch_embdup(spark, batch, state_dir)  # no tables, no meta
    ingest_batch_embdup(spark, batch, state_dir, tables)

    # later ingest omits tables entirely: loaded from _meta, replay
    # classifies historical (same buckets -> the planes round-tripped)
    s = ingest_batch_embdup(spark, batch, state_dir)
    assert s["n_hist_embdup"] == 1 and s["n_accepted"] == 0

    other = [[[float(-x) for x in p] for p in t] for t in tables]
    with pytest.raises(IC.StateParamMismatch):
        ingest_batch_embdup(spark, batch, state_dir, other)


def test_meta_pins_n_buckets_for_compaction(spark, state_dir):
    """r8 advice (medium): compaction reads n_buckets from _meta instead
    of trusting its per-call default — ingesting with 16 then compacting
    with no argument keeps the bucket files consistent with the table
    spec (a mismatch makes the bucketed scan silently drop state rows)."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        compact_neardup_state,
        ingest_batch_neardup,
    )

    batch = _docs(
        spark,
        [(1, "one two three four five six"), (2, "seven eight nine ten eleven")],
    )
    ingest_batch_neardup(spark, batch, state_dir, n_buckets=16)
    ingest_batch_neardup(spark, batch, state_dir)  # replay doubles rows
    assert compact_neardup_state(spark, state_dir) == 8  # no n_buckets passed
    with pytest.raises(IC.StateParamMismatch):
        compact_neardup_state(spark, state_dir, n_buckets=8)
    # classification still sees the full compacted state (the join would
    # miss rows if the rewrite had desynced the bucket layout)
    s = ingest_batch_neardup(spark, batch, state_dir)
    assert s["n_hist_neardup"] == 2 and s["n_accepted"] == 0


def test_null_text_docs_dedup_as_their_own_class(spark, state_dir):
    """r8 advice (low): null text digests to the sentinel 'null' instead
    of a null key that anti-joins through forever — the second batch's
    null-text doc classifies as a historical dup in BOTH the exact and
    bloom loops (no-false-negatives covers null texts)."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_bloom,
    )

    b1 = _docs(spark, [(1, None), (2, "real text")])
    b2 = _docs(spark, [(10, None), (11, None)])
    exact_dir, bloom_dir = state_dir + "_ex", state_dir + "_bl"

    s1 = ingest_batch(spark, b1, exact_dir)
    assert s1["n_accepted"] == 2
    s2 = ingest_batch(spark, b2, exact_dir)
    assert s2 == {"n_batch": 2, "n_within_dup": 1, "n_hist_dup": 1, "n_accepted": 0}
    assert spark.read.parquet(exact_dir + "/corpus").count() == 2

    t1 = ingest_batch_bloom(spark, b1, bloom_dir, m_bits=4096, k=4)
    assert t1["n_accepted"] == 2
    t2 = ingest_batch_bloom(spark, b2, bloom_dir)
    assert t2["n_within_dup"] == 1 and t2["n_rejected_maybe_dup"] == 1
    assert t2["n_accepted"] == 0


def test_concurrent_writer_raises_and_expired_lease_reclaims(spark, state_dir):
    """r8 verdict #4: a live lease makes a second writer raise
    ConcurrentWriter (detect, don't coordinate); an EXPIRED lease (holder
    hard-killed beyond the TTL) is reclaimed by the next writer; a
    crashed-in-process run (exception unwound) releases its lease so a
    blind retry proceeds."""
    batch = _docs(spark, [(1, "a")])
    ingest_batch(spark, batch, state_dir)  # creates the state

    fs = HadoopFS(spark, state_dir)
    lock = state_dir + "/_lock"
    # simulate a live concurrent writer holding the lease
    assert fs.create_exclusive(lock, '{"writer": "other"}')
    with pytest.raises(IC.ConcurrentWriter):
        ingest_batch(spark, _docs(spark, [(2, "b")]), state_dir)
    with pytest.raises(IC.ConcurrentWriter):
        IC.compact_fingerprints(spark, state_dir)
    assert spark.read.parquet(state_dir + "/corpus").count() == 1

    # age the lock beyond the TTL: the next writer reclaims it
    import time as _t

    fs.set_mtime(lock, int(_t.time() * 1000) - IC.LEASE_TTL_MS - 60_000)
    s = ingest_batch(spark, _docs(spark, [(2, "b")]), state_dir)
    assert s["n_accepted"] == 1
    assert not fs.exists(lock)  # released after the ingest

    # an in-process crash (exception) releases the lease -> blind retry runs
    with pytest.raises(IC.SimulatedCrash):
        ingest_batch(spark, _docs(spark, [(3, "c")]), state_dir, _crash="after_stage")
    assert not fs.exists(lock)
    retry = ingest_batch(spark, _docs(spark, [(3, "c")]), state_dir)
    assert retry["n_accepted"] == 1

    # break_lease: the operator escape hatch for a known-dead holder
    assert fs.create_exclusive(lock, '{"writer": "dead"}')
    IC.break_lease(spark, state_dir)
    assert ingest_batch(spark, _docs(spark, [(4, "d")]), state_dir)["n_accepted"] == 1


def test_compact_ingest_log_rolls_markers_into_segment(spark, state_dir):
    """r8 verdict #7: the per-batch _commits files roll into one JSONL
    segment; ingest_log reads both forms identically (same entries,
    deduped by token), later batches append new loose markers, and a
    second compaction folds segment + markers again."""
    for i, text in enumerate(["a", "b", "c"]):
        ingest_batch(spark, _docs(spark, [(i, text)]), state_dir, epoch_id=i)
    before = {e["token"]: e for e in IC.ingest_log(spark, state_dir)}
    assert len(before) == 3

    assert IC.compact_ingest_log(spark, state_dir) == 3
    fs = HadoopFS(spark, state_dir)
    names = fs.list_names(state_dir + "/_commits")
    assert len(names) == 1 and names[0].startswith("segment-")
    after = {e["token"]: e for e in IC.ingest_log(spark, state_dir)}
    assert after == before

    ingest_batch(spark, _docs(spark, [(7, "d")]), state_dir, epoch_id=7)
    assert len(IC.ingest_log(spark, state_dir)) == 4
    assert IC.compact_ingest_log(spark, state_dir) == 4
    assert len(fs.list_names(state_dir + "/_commits")) == 1
    epochs = sorted(e["epoch"] for e in IC.ingest_log(spark, state_dir))
    assert epochs == [0, 1, 2, 7]
    # compacting an already-compact log is a no-op
    assert IC.compact_ingest_log(spark, state_dir) == 4


def test_state_table_location_comparison_is_qualified(spark, tmp_path):
    """r8 advice (low): a bare absolute path and its file:// twin resolve
    to ONE catalog table (qualification happens before naming and
    location comparison), so re-registration never drops/recreates per
    call."""
    root = str(tmp_path / "qual_state") + "/fingerprints"
    like = spark.createDataFrame([], "digest string, doc_id long")
    t1 = IC._ensure_state_table(spark, root, like, ["digest"], 4)
    name = IC._state_table_name(HadoopFS(spark, root).qualified(root))
    created = [
        r[1] for r in spark.sql(f"DESCRIBE FORMATTED `{name}`").collect()
        if r[0] == "Created Time"
    ]
    # same dir through the explicit file:// scheme: same table, no recreate
    IC._ensure_state_table(spark, "file://" + root, like, ["digest"], 4)
    created2 = [
        r[1] for r in spark.sql(f"DESCRIBE FORMATTED `{name}`").collect()
        if r[0] == "Created Time"
    ]
    assert created == created2
    assert t1.columns == ["digest", "doc_id"]


# --- round 9: the fifth leg — incremental semantic (centroid-cell verify) --


def _sem_centroids_fixture():
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import (
        _sem_centroids,
    )

    return _sem_centroids()


def test_semantic_ingest_matches_static_funnel(spark, state_dir, sf_smoke):
    """Replaying embeddings as day batches through the STATEFUL semantic
    loop reproduces the oracled static funnel exactly (the exists-
    semantics + rounded-cosine + pinned-centroid formulation is the same
    contract in both)."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_semantic,
    )
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES

    expected = {
        int(r["day"]): (r["n_vecs"], r["n_hist_semdup"], r["n_within_semdup"], r["n_accepted"])
        for r in QUERIES["incremental_semantic_funnel"](spark, sf_smoke).collect()
    }
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    cents = _sem_centroids_fixture()
    for day in (0, 1, 2):
        batch = emb.filter(emb.vec_id % 3 == day)
        got = ingest_batch_semantic(spark, batch, state_dir, cents)
        assert (
            got["n_batch"],
            got["n_hist_semdup"],
            got["n_within_semdup"],
            got["n_accepted"],
        ) == expected[day], (day, got, expected[day])


def test_semantic_ingest_replay_crash_meta_and_compaction(spark, state_dir):
    """The fifth leg honors every family contract: replay classifies
    100% historical (null vectors always accepted), centroids pin into
    _meta (later calls omit them; different planes raise), a crash after
    the journal rolls forward on blind retry with zero duplicate rows,
    and compaction collapses replay-duplicated members without changing
    classification."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        compact_semantic_state,
        ingest_batch_semantic,
    )

    cents = _sem_centroids_fixture()
    batch = spark.createDataFrame(
        [
            (1, [float(j) for j in range(64)]),
            (2, [float(j) + 0.001 for j in range(64)]),  # cosine ~1 with vec 1
            (3, [(-1.0) ** j * (j + 1.0) for j in range(64)]),  # far from 1/2
            (4, None),  # null embedding: always accepted
        ],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="must pass the centroids"):
        ingest_batch_semantic(spark, batch, state_dir)  # no centroids, no meta
    s1 = ingest_batch_semantic(spark, batch, state_dir, cents)
    assert s1["n_batch"] == 4 and s1["n_hist_semdup"] == 0
    assert s1["n_within_semdup"] == 1  # vec 2 verifies against vec 1
    assert s1["n_accepted"] == 3  # 1, 3, and the first null row

    # replay WITHOUT centroids: loaded from _meta; EVERY row classifies
    # historical — including the null row (sentinel cell), so replays
    # and blind retries never re-append it
    s2 = ingest_batch_semantic(spark, batch, state_dir)
    assert s2 == {
        "n_batch": 4,
        "n_hist_semdup": 4,
        "n_within_semdup": 0,
        "n_accepted": 0,
    }
    assert spark.read.parquet(state_dir + "/corpus_semantic").count() == 3
    # a second null-embedding doc in a LATER batch is a dup of the first
    null2 = spark.createDataFrame(
        [(20, None)], "vec_id long, embedding array<double>"
    )
    sn = ingest_batch_semantic(spark, null2, state_dir)
    assert sn["n_hist_semdup"] == 1 and sn["n_accepted"] == 0
    other = [[-x for x in c] for c in cents]
    with pytest.raises(IC.StateParamMismatch):
        ingest_batch_semantic(spark, batch, state_dir, other)
    with pytest.raises(IC.StateParamMismatch):
        ingest_batch_semantic(spark, batch, state_dir, threshold=0.5)

    # crash after journal: blind retry rolls forward, exactly one copy
    day2 = spark.createDataFrame(
        [(10, [float(j) for j in range(64)])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(IC.SimulatedCrash):
        ingest_batch_semantic(spark, day2, state_dir, _crash="after_journal")
    retry = ingest_batch_semantic(spark, day2, state_dir)
    assert retry["n_hist_semdup"] == 1 and retry["n_accepted"] == 0
    corpus = spark.read.parquet(state_dir + "/corpus_semantic")
    assert corpus.filter("vec_id = 10").count() == 0  # 10 was a dup of 1
    assert {r.vec_id for r in corpus.collect()} == {1, 3, 4}

    # compaction: replays duplicated member rows; distinct + same verdicts
    n = compact_semantic_state(spark, state_dir)
    assert n == spark.read.parquet(state_dir + "/semantic_members").count()
    s3 = ingest_batch_semantic(spark, batch, state_dir)
    assert s3["n_hist_semdup"] == 4 and s3["n_accepted"] == 0


def test_semantic_redelivered_epoch_with_bogus_state_mode_raises(spark, state_dir):
    """state_mode is validated before the lease, so a bad value raises
    even when the epoch already committed and the call would otherwise
    return None without running."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_semantic,
    )

    batch = spark.createDataFrame(
        [(1, [float(j) for j in range(64)])], "vec_id long, embedding array<double>"
    )
    cents = _sem_centroids_fixture()
    assert ingest_batch_semantic(spark, batch, state_dir, cents, epoch_id=7) is not None
    assert ingest_batch_semantic(spark, batch, state_dir, epoch_id=7) is None
    with pytest.raises(ValueError, match="state_mode"):
        ingest_batch_semantic(spark, batch, state_dir, epoch_id=7, state_mode="bogus")


def test_semantic_verify_join_no_exchange_on_state_side(spark, state_dir):
    """The member state is bucketed on cluster: the per-batch verify
    join plans the state scan Bucketed with no Exchange above it —
    exactly one Exchange total (the batch side)."""
    from etl_pipeline_for_retail_sales_data_spark.operators.clustering import (
        assign_to_centroids,
    )
    from etl_pipeline_for_retail_sales_data_spark.operators.similarity import (
        dot,
        round6,
    )
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_semantic,
    )

    cents = _sem_centroids_fixture()
    seed = spark.createDataFrame(
        [(1, [float(j) for j in range(64)])], "vec_id long, embedding array<double>"
    )
    ingest_batch_semantic(spark, seed, state_dir, cents)

    batch = spark.createDataFrame(
        [(7, [float(64 - j) for j in range(64)])], "vec_id long, embedding array<double>"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        keys = assign_to_centroids(batch, cents).alias("A")
        state = IC._ensure_state_table(
            spark,
            state_dir + "/semantic_members",
            keys,
            ["cluster"],
            IC.DEFAULT_BUCKETS,
        ).alias("S")
        plan = (
            keys.join(
                state,
                (F.col("A.cluster") == F.col("S.cluster"))
                & (round6(dot(F.col("A.uv"), F.col("S.uv"))) >= 0.92),
                "left_semi",
            )
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan, plan
    assert plan.count("Exchange") == 1, plan  # batch side only


def test_stream_semantic_ingest_epoch_guard(spark, tmp_path):
    from etl_pipeline_for_retail_sales_data_spark.streaming.ingest import (
        make_ingestor,
    )

    state = str(tmp_path / "state")
    cents = _sem_centroids_fixture()
    ingest = make_ingestor("semantic", state, centroids=cents, epoch_ns="run-x")
    batch = spark.createDataFrame(
        [(1, [float(j) for j in range(64)]), (2, [-float(j) - 1.0 for j in range(64)])],
        "vec_id long, embedding array<double>",
    )
    ingest(batch, 0)
    members = spark.read.parquet(state + "/semantic_members").count()
    ingest(batch, 0)  # redelivery: skipped wholesale
    assert spark.read.parquet(state + "/corpus_semantic").count() == 2
    assert spark.read.parquet(state + "/semantic_members").count() == members


def test_state_report_snapshot(spark, state_dir):
    """state_report: read-only ops snapshot — per-leg pinned params
    (digest-summarized payloads) + row counts, commit-log size and
    fragmentation, pending journal, epoch count, lease holder."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        compact_ingest_log,
        ingest_batch_bloom,
        state_report,
    )

    r0 = state_report(spark, state_dir)
    assert r0["legs"] == {} and r0["committed_batches"] == 0
    assert r0["lease"] is None and r0["pending_journal"] == []

    ingest_batch(spark, _docs(spark, [(1, "a"), (2, "b")]), state_dir, epoch_id=0)
    ingest_batch_bloom(
        spark, _docs(spark, [(1, "a")]), state_dir, m_bits=4096, k=4, epoch_id=1
    )
    r = state_report(spark, state_dir)
    assert set(r["legs"]) == {"exact", "bloom"}
    assert r["legs"]["exact"]["corpus_rows"] == 2
    assert r["legs"]["exact"]["state_rows"] == 2
    assert r["legs"]["exact"]["meta"]["n_buckets"] == IC.DEFAULT_BUCKETS
    assert r["legs"]["bloom"]["meta"]["m_bits"] == 4096
    assert r["legs"]["bloom"]["state_rows"] == 4  # 1 digest x 4 positions
    assert r["committed_batches"] == 2 and r["log_files"] == 2
    assert r["epochs_recorded"] == 2 and r["pending_journal"] == []

    compact_ingest_log(spark, state_dir)
    r2 = state_report(spark, state_dir)
    assert r2["committed_batches"] == 2 and r2["log_files"] == 1

    # a live lease is visible
    fs = HadoopFS(spark, state_dir)
    fs.create_exclusive(state_dir + "/_lock", '{"writer": "w1"}')
    r3 = state_report(spark, state_dir)
    assert r3["lease"]["writer"] == "w1" and r3["lease"]["age_ms"] >= 0
    # pinned payloads are summarized, not dumped
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_semantic,
    )

    IC.break_lease(spark, state_dir)
    ingest_batch_semantic(
        spark,
        spark.createDataFrame(
            [(1, [float(j) for j in range(64)])], "vec_id long, embedding array<double>"
        ),
        state_dir,
        _sem_centroids_fixture(),
    )
    r4 = state_report(spark, state_dir)
    assert r4["legs"]["semantic"]["meta"]["centroids"].startswith("<4 pinned")


def test_prune_epochs_keeps_tail_per_namespace(spark, state_dir):
    """Epoch markers prune to the highest keep_per_ns PER NAMESPACE
    (delivery is monotone per checkpoint, so only the tail can ever be
    redelivered); bare-int epochs form the '' namespace."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        prune_epochs,
    )

    fs = HadoopFS(spark, state_dir)
    fs.mkdirs(state_dir)
    for e in ["a-0", "a-1", "a-2", "a-3", "b-0", "b-1", 0, 1, 2]:
        IC._record_epoch(fs, state_dir, e)
    removed = prune_epochs(spark, state_dir, keep_per_ns=2)
    assert removed == 3  # a-0, a-1, and bare 0
    assert IC.epoch_committed(spark, state_dir, "a-3")
    assert IC.epoch_committed(spark, state_dir, "a-2")
    assert not IC.epoch_committed(spark, state_dir, "a-0")
    assert IC.epoch_committed(spark, state_dir, "b-0")  # within its ns tail
    assert IC.epoch_committed(spark, state_dir, 1) and not IC.epoch_committed(
        spark, state_dir, 0
    )
    with pytest.raises(ValueError):
        prune_epochs(spark, state_dir, keep_per_ns=0)


def test_maintain_state_one_call_nightly_pass(spark, state_dir):
    """maintain_state = recover + compact every ingested leg + roll the
    commit log + prune epochs, in one call with per-step counts."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_neardup,
        maintain_state,
    )

    batch = _docs(spark, [(1, "one two three four five six")])
    ingest_batch_neardup(spark, batch, state_dir, epoch_id="ns-0")
    ingest_batch_neardup(spark, batch, state_dir, epoch_id="ns-1")  # replay: dup band rows
    ingest_batch(spark, _docs(spark, [(2, "x")]), state_dir, epoch_id="ns-2")

    out = maintain_state(spark, state_dir, keep_epochs_per_ns=1)
    assert out["compacted_neardup"] == 4  # 1 doc x 4 bands, dups collapsed
    assert out["compacted_exact"] == 1
    assert "compacted_bloom" not in out  # never ingested on this state
    assert out["log_entries"] == 3
    assert out["epochs_pruned"] == 2  # ns-0, ns-1 pruned; ns-2 kept
    fs = HadoopFS(spark, state_dir)
    names = fs.list_names(state_dir + "/_commits")
    assert len(names) == 1 and names[0].startswith("segment-")
    assert IC.epoch_committed(spark, state_dir, "ns-2")
    assert not IC.epoch_committed(spark, state_dir, "ns-0")
    # classification intact after the full pass
    s = ingest_batch_neardup(spark, batch, state_dir)
    assert s["n_hist_neardup"] == 1 and s["n_accepted"] == 0

def test_maintain_state_respects_writer_lease(spark, state_dir):
    """r9 verdict #1: the nightly pass's leading recovery sweep runs
    UNDER the writer lease — a live ingest's lease makes maintain_state
    raise ConcurrentWriter instead of racing it (a lease-free sweep
    could delete the live ingest's pre-marker .staged-* dirs and
    silently lose the batch's corpus rows); an EXPIRED lease (crashed
    writer) still lets the pass proceed."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        maintain_state,
    )

    ingest_batch(spark, _docs(spark, [(1, "a")]), state_dir, epoch_id="m-0")
    fs = HadoopFS(spark, state_dir)
    lock = state_dir + "/_lock"

    # model the exact race: a live writer holds the lease with staged
    # dirs on disk that have not journaled yet
    staged = state_dir + "/corpus/.staged-livewriter"
    fs.mkdirs(staged)
    assert fs.create_exclusive(lock, '{"writer": "live"}')
    with pytest.raises(IC.ConcurrentWriter):
        maintain_state(spark, state_dir)
    assert fs.exists(staged)  # the live writer's staged dir survived
    assert fs.exists(lock)  # and its lease was not touched

    # a crashed writer's expired lease is reclaimed and the pass runs;
    # the now-ownerless staged dir rolls back as usual
    import time as _t

    fs.set_mtime(lock, int(_t.time() * 1000) - IC.LEASE_TTL_MS - 60_000)
    out = maintain_state(spark, state_dir)
    assert out["recovered_back"] == 1
    assert not fs.exists(staged)
    assert not fs.exists(lock)


def test_lease_release_claims_before_delete(spark, state_dir):
    """ADVICE r9: release goes through the same rename-claim protocol as
    reclaim — a writer that overran the TTL must NOT delete the lock a
    rival reclaimed in the meantime (the old read-then-delete TOCTOU)."""
    import json as _json
    import time as _t

    fs = HadoopFS(spark, state_dir)
    lock = state_dir + "/_lock"

    cm_a = IC._writer_lease(spark, state_dir)
    cm_a.__enter__()
    token_a = _json.loads(fs.read_text(lock))["writer"]

    # A overruns the TTL; B reclaims the expired lease
    fs.set_mtime(lock, int(_t.time() * 1000) - IC.LEASE_TTL_MS - 60_000)
    cm_b = IC._writer_lease(spark, state_dir)
    cm_b.__enter__()
    token_b = _json.loads(fs.read_text(lock))["writer"]
    assert token_b != token_a

    # A's (late) release must leave B's lock in place
    cm_a.__exit__(None, None, None)
    assert fs.exists(lock)
    assert _json.loads(fs.read_text(lock))["writer"] == token_b

    # B's own release removes it
    cm_b.__exit__(None, None, None)
    assert not fs.exists(lock)


def test_lease_release_never_renames_foreign_live_lock(spark, state_dir, monkeypatch):
    """ADVICE r10: a single TTL overrun must not even TRANSIENTLY rename
    the reclaimer's live lock away (the rename-claim-verify-put-back
    dance leaves a gap where a third writer's create_exclusive can win).
    Release reads the lock first and walks away on a foreign token — so
    A's late release performs no rename of the lock at all."""
    import json as _json
    import time as _t

    fs = HadoopFS(spark, state_dir)
    lock = state_dir + "/_lock"

    cm_a = IC._writer_lease(spark, state_dir)
    cm_a.__enter__()
    fs.set_mtime(lock, int(_t.time() * 1000) - IC.LEASE_TTL_MS - 60_000)
    cm_b = IC._writer_lease(spark, state_dir)
    cm_b.__enter__()
    token_b = _json.loads(fs.read_text(lock))["writer"]

    renames = []
    orig_rename = HadoopFS.rename

    def spy(self, src, dst):
        renames.append(src)
        return orig_rename(self, src, dst)

    monkeypatch.setattr(HadoopFS, "rename", spy)
    cm_a.__exit__(None, None, None)
    assert lock not in renames  # B's live lock never left its name
    assert _json.loads(fs.read_text(lock))["writer"] == token_b
    monkeypatch.undo()
    cm_b.__exit__(None, None, None)
    assert not fs.exists(lock)


def test_create_exclusive_local_semantics(spark, tmp_path):
    """ADVICE r9: on file:// the lock primitive goes through the OS
    O_CREAT|O_EXCL open (RawLocalFileSystem's create(overwrite=false) is
    check-then-create). Behavioral contract: exactly one creator wins,
    content lands, Hadoop-side stat/read/delete interoperate."""
    fs = HadoopFS(spark, str(tmp_path))
    p = str(tmp_path / "locks" / "_lock")
    fs.mkdirs(str(tmp_path / "locks"))
    assert fs.create_exclusive(p, '{"writer": "w1"}')
    assert not fs.create_exclusive(p, '{"writer": "w2"}')  # loser
    assert '"w1"' in fs.read_text(p)
    assert fs.mtime(p) > 0
    assert fs.delete(p, False)
    assert fs.create_exclusive(p)  # recreate after delete
    # a missing parent propagates (never misreported as a held lock)
    with pytest.raises(Exception):
        fs.create_exclusive(str(tmp_path / "absent_dir" / "_lock"))


def test_first_pin_refuses_silent_defaults_over_existing_state(spark, state_dir):
    """ADVICE r9 (medium): a pre-upgrade state (data on disk, no _meta)
    must not get defaults pinned when the caller omits parameters — the
    existing bucket files may have been written with different ones.
    Explicit parameters pin it; compaction refuses the same way."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        compact_fingerprints,
        ingest_batch_neardup,
    )

    ingest_batch(spark, _docs(spark, [(1, "a")]), state_dir, n_buckets=4)
    fs = HadoopFS(spark, state_dir)
    assert fs.delete(state_dir + "/_meta", True)  # simulate pre-upgrade state

    with pytest.raises(IC.StateParamMismatch):
        ingest_batch(spark, _docs(spark, [(2, "b")]), state_dir)  # omitted
    with pytest.raises(IC.StateParamMismatch):
        compact_fingerprints(spark, state_dir)  # unpinned compaction too

    # explicit (correct) parameters re-pin and the loop resumes
    s = ingest_batch(spark, _docs(spark, [(2, "b")]), state_dir, n_buckets=4)
    assert s["n_accepted"] == 1
    assert IC.state_meta(spark, state_dir, "exact")["n_buckets"] == 4
    assert compact_fingerprints(spark, state_dir) == 2

    # a FRESH state (no data) still defaults silently — steady-state
    # first ingests pass nothing
    fresh = state_dir + "_fresh"
    s2 = ingest_batch_neardup(spark, _docs(spark, [(1, "one two three")]), fresh)
    assert s2["n_accepted"] == 1
    assert IC.state_meta(spark, fresh, "neardup")["n_buckets"] == IC.DEFAULT_BUCKETS

def test_meta_readers_survive_replace_window_and_refuse_blind_default(spark, state_dir):
    """ADVICE r10: (a) state_meta falls back to the fully-written .tmp
    sibling when the main _meta file is absent (the non-file
    rename_replace delete-then-rename window — on HDFS an upgrade-persist
    briefly leaves only the sibling); (b) the read path (_meta_buckets /
    fingerprint_state) raises instead of silently defaulting when leg
    data exists but no meta is readable and no explicit n_buckets was
    given — a wrong bucket count drops rows silently."""
    ingest_batch(spark, _docs(spark, [(1, "a")]), state_dir, n_buckets=4)
    fs = HadoopFS(spark, state_dir)
    meta_p = state_dir + "/_meta/exact.json"

    # model the delete-then-rename window: main absent, .tmp holds payload
    txt = fs.read_text(meta_p)
    assert fs.delete(meta_p, False)
    assert fs.create_exclusive(meta_p + ".tmp", txt)
    assert IC.state_meta(spark, state_dir, "exact")["n_buckets"] == 4
    assert IC._meta_buckets(spark, state_dir, "exact", None) == 4

    # no meta in ANY form + data on disk + omitted n_buckets -> refuse
    fs.delete(meta_p + ".tmp", False)
    with pytest.raises(IC.StateParamMismatch):
        IC._meta_buckets(spark, state_dir, "exact", None)
    # explicit value still resolves (pre-upgrade compatibility)
    assert IC._meta_buckets(spark, state_dir, "exact", 4) == 4
    # a state with no data still defaults (steady-state first read)
    assert (
        IC._meta_buckets(spark, state_dir + "_fresh2", "exact", None)
        == IC.DEFAULT_BUCKETS
    )


def test_semantic_keepers_ingest_matches_static_funnel(spark, state_dir, sf_smoke):
    """r9 verdict #3: replaying embeddings as day batches through the
    STATEFUL semantic loop in state_mode='keepers' reproduces the
    oracled keepers funnel exactly — and the member state holds ONE row
    per ACCEPTED vector (corpus keepers), not per ingested vector."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_semantic,
    )
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES

    expected = {
        int(r["day"]): (r["n_vecs"], r["n_hist_semdup"], r["n_within_semdup"], r["n_accepted"])
        for r in QUERIES["incremental_semantic_keepers_funnel"](spark, sf_smoke).collect()
    }
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    cents = _sem_centroids_fixture()
    total_accepted = 0
    for day in (0, 1, 2):
        batch = emb.filter(emb.vec_id % 3 == day)
        got = ingest_batch_semantic(
            spark, batch, state_dir, cents, state_mode="keepers"
        )
        assert (
            got["n_batch"],
            got["n_hist_semdup"],
            got["n_within_semdup"],
            got["n_accepted"],
        ) == expected[day], (day, got, expected[day])
        total_accepted += got["n_accepted"]

    members = spark.read.parquet(state_dir + "/semantic_members")
    assert members.count() == total_accepted  # keepers only, not gross
    assert spark.read.parquet(state_dir + "/corpus_semantic").count() == total_accepted

    # the mode is pinned: a later call passing 'all' refuses
    with pytest.raises(IC.StateParamMismatch):
        ingest_batch_semantic(spark, emb.limit(1), state_dir, state_mode="all")
    # and an omitted mode defaults from the pinned meta
    assert IC.state_meta(spark, state_dir, "semantic")["state_mode"] == "keepers"


def test_neardup_keepers_ingest_matches_static_funnel(spark, state_dir, sf_smoke):
    """r10 verdict #3: replaying documents as day batches through the
    STATEFUL near-dup loop in state_mode='keepers' reproduces the
    oracled keepers funnel exactly — and the band-key state holds only
    ACCEPTED docs' keys (the deduped corpus), not every ingested doc's."""
    from etl_pipeline_for_retail_sales_data_spark.operators import dedup as D
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_neardup,
    )
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES

    expected = {
        int(r["day"]): (r["n_docs"], r["n_hist_neardup"], r["n_within_neardup"], r["n_accepted"])
        for r in QUERIES["incremental_neardup_keepers_funnel"](spark, sf_smoke).collect()
    }
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    total_accepted = 0
    for day in (0, 1, 2):
        batch = docs.filter(docs.doc_id % 3 == day)
        got = ingest_batch_neardup(spark, batch, state_dir, state_mode="keepers")
        assert (
            got["n_batch"],
            got["n_hist_neardup"],
            got["n_within_neardup"],
            got["n_accepted"],
        ) == expected[day], (day, got, expected[day])
        total_accepted += got["n_accepted"]

    corpus = spark.read.parquet(state_dir + "/corpus_neardup")
    assert corpus.count() == total_accepted
    # state = exactly the accepted docs' band keys, nothing else
    state_rows = spark.read.parquet(state_dir + "/neardup_bands").count()
    assert state_rows == D.minhash_band_keys(corpus).count()

    # pinned: a later call passing 'all' refuses; omitted mode defaults
    with pytest.raises(IC.StateParamMismatch):
        ingest_batch_neardup(spark, docs.limit(1), state_dir, state_mode="all")
    assert IC.state_meta(spark, state_dir, "neardup")["state_mode"] == "keepers"

    # replay stability: re-ingesting day 0 classifies everything
    # hist/within and appends nothing
    before = state_rows
    replay = ingest_batch_neardup(
        spark, docs.filter(docs.doc_id % 3 == 0), state_dir, state_mode="keepers"
    )
    assert replay["n_accepted"] == 0
    assert spark.read.parquet(state_dir + "/neardup_bands").count() == before


def test_embdup_keepers_ingest_matches_static_funnel(spark, state_dir, sf_smoke):
    """r10 verdict #3 (embedding leg): keepers-mode stateful replay
    reproduces the oracled keepers funnel; the bucket state holds only
    accepted vectors' (tbl, bucket) keys."""
    from etl_pipeline_for_retail_sales_data_spark.operators import similarity as SIM
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_embdup,
    )
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES

    expected = {
        int(r["day"]): (r["n_vecs"], r["n_hist_embdup"], r["n_within_embdup"], r["n_accepted"])
        for r in QUERIES["incremental_embdup_keepers_funnel"](spark, sf_smoke).collect()
    }
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    tables = _lsh_tables_fixture()
    total_accepted = 0
    for day in (0, 1, 2):
        batch = emb.filter(emb.vec_id % 3 == day)
        got = ingest_batch_embdup(spark, batch, state_dir, tables, state_mode="keepers")
        assert (
            got["n_batch"],
            got["n_hist_embdup"],
            got["n_within_embdup"],
            got["n_accepted"],
        ) == expected[day], (day, got, expected[day])
        total_accepted += got["n_accepted"]

    corpus = spark.read.parquet(state_dir + "/corpus_embdup")
    assert corpus.count() == total_accepted
    state_rows = spark.read.parquet(state_dir + "/embdup_buckets").count()
    assert state_rows == SIM.multitable_buckets(corpus, tables).count()
    with pytest.raises(IC.StateParamMismatch):
        ingest_batch_embdup(spark, emb.limit(1), state_dir, state_mode="all")
    assert IC.state_meta(spark, state_dir, "embdup")["state_mode"] == "keepers"


def test_semantic_keepers_replay_appends_nothing(spark, state_dir):
    """Keepers-mode replay/crash-retry stability: re-ingesting a batch
    classifies identically (keepers in state -> historical; dups still
    match within-batch) and appends zero rows to state AND corpus."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_semantic,
    )

    cents = _sem_centroids_fixture()
    batch = spark.createDataFrame(
        [
            (1, [float(j) for j in range(64)]),
            (2, [float(j) + 0.001 for j in range(64)]),  # dup of 1
            (3, [(-1.0) ** j * (j + 1.0) for j in range(64)]),
            (4, None),  # null: sentinel class, first accepted
        ],
        "vec_id long, embedding array<double>",
    )
    s1 = ingest_batch_semantic(spark, batch, state_dir, cents, state_mode="keepers")
    assert s1 == {
        "n_batch": 4,
        "n_hist_semdup": 0,
        "n_within_semdup": 1,
        "n_accepted": 3,
    }
    members = spark.read.parquet(state_dir + "/semantic_members")
    assert members.count() == 3  # keepers only — vec 2's row not stored

    s2 = ingest_batch_semantic(spark, batch, state_dir)
    # replay: keepers (1, 3, null) are historical; dup 2 still matches
    # keeper 1 (in state) -> historical too
    assert s2["n_accepted"] == 0 and s2["n_hist_semdup"] + s2["n_within_semdup"] == 4
    assert spark.read.parquet(state_dir + "/semantic_members").count() == 3
    assert spark.read.parquet(state_dir + "/corpus_semantic").count() == 3

    # a later null is a dup of the stored sentinel keeper
    sn = ingest_batch_semantic(
        spark, spark.createDataFrame([(20, None)], "vec_id long, embedding array<double>"),
        state_dir,
    )
    assert sn["n_hist_semdup"] == 1 and sn["n_accepted"] == 0

def _recentroid_fixture(spark, state_dir):
    """A small semantic state with two well-separated groups: vectors
    1/2 near e0-ish direction, 3 orthogonal-ish, plus a null sentinel."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_semantic,
    )

    cents = _sem_centroids_fixture()
    batch = spark.createDataFrame(
        [
            (1, [float(j) for j in range(64)]),
            (2, [float(j) + 0.001 for j in range(64)]),  # dup of 1
            (3, [(-1.0) ** j * (j + 1.0) for j in range(64)]),
            (4, None),
        ],
        "vec_id long, embedding array<double>",
    )
    s = ingest_batch_semantic(spark, batch, state_dir, cents)
    assert s["n_accepted"] == 3
    return cents, batch


def test_recentroid_state_migrates_members_and_meta(spark, state_dir):
    """r9 verdict #4: recentroid_state rewrites semantic_members under
    NEW centroids (stored uv reassigned by the same rounded argmax,
    sentinel rows keep cell -1), re-pins _meta atomically, and the loop
    keeps classifying correctly against the migrated state."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_semantic,
        recentroid_state,
        state_report,
    )

    cents, batch = _recentroid_fixture(spark, state_dir)
    before = IC.state_meta(spark, state_dir, "semantic")

    # state_report exposes the occupancy the runbook watches
    rep = state_report(spark, state_dir)
    cells = rep["legs"]["semantic"]["cells"]
    assert cells["n_cells"] >= 2 and cells["sum_sq"] >= cells["max_cell"] ** 2
    assert cells["top"][0][1] == cells["max_cell"]

    new_cents = [[-x for x in c] for c in _sem_centroids_fixture()] + [
        [1.0] * 64
    ]  # different key function, one extra cell
    out = recentroid_state(spark, state_dir, new_cents)
    assert out["n_members"] == 4  # 3 keepers + null sentinel row... see below
    after = IC.state_meta(spark, state_dir, "semantic")
    assert after["centroids_digest"] != before["centroids_digest"]
    assert after["threshold"] == before["threshold"]
    assert after["n_buckets"] == before["n_buckets"]

    # identical-centroid migration refuses
    with pytest.raises(ValueError, match="identical"):
        recentroid_state(spark, state_dir, new_cents)

    # sentinel rows survived the rewrite as cell -1 (checked BEFORE the
    # replay below, which in "all" mode appends its rows again)
    members = spark.read.parquet(state_dir + "/semantic_members")
    assert members.filter("cluster = -1").count() == 1

    # replay classifies 100% historical against the migrated state —
    # centroids now come from the NEW meta, assignments match the
    # rewritten member cells
    s = ingest_batch_semantic(spark, batch, state_dir)
    assert s["n_hist_semdup"] == 4 and s["n_accepted"] == 0
    # and passing the OLD centroids now mismatches the new pin
    with pytest.raises(IC.StateParamMismatch):
        ingest_batch_semantic(spark, batch, state_dir, cents)


@pytest.mark.parametrize(
    "crash", ["after_next", "after_stage", "mid_swap", "before_finalize"]
)
def test_recentroid_crash_recovery_settles_both_ways(spark, state_dir, crash):
    """A recentroid migration crashed at any point settles to a
    CONSISTENT (members, meta) pair on the next recovery: rolled back
    (old centroids, old members) before the swap commits, rolled
    forward (new centroids, new members) after — never a mix. The next
    ingest's classification proves which side won."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_semantic,
        recentroid_state,
        recover_state,
    )

    cents, batch = _recentroid_fixture(spark, state_dir)
    old_digest = IC.state_meta(spark, state_dir, "semantic")["centroids_digest"]
    new_cents = [[-x for x in c] for c in _sem_centroids_fixture()]

    with pytest.raises(IC.SimulatedCrash):
        recentroid_state(spark, state_dir, new_cents, _crash=crash)
    actions = recover_state(spark, state_dir)
    assert actions["recentroid_settled"] in (0, 1)

    meta = IC.state_meta(spark, state_dir, "semantic")
    fs = HadoopFS(spark, state_dir)
    assert not fs.exists(state_dir + "/_meta/semantic.json.next")
    assert not fs.exists(state_dir + "/semantic_members.recentroid-stage")
    assert not fs.exists(state_dir + "/semantic_members._compact_tmp")
    assert not fs.exists(state_dir + "/semantic_members._compact_old")

    if crash in ("after_next", "after_stage"):
        assert meta["centroids_digest"] == old_digest  # rolled back
    else:
        assert meta["centroids_digest"] != old_digest  # rolled forward

    # whichever side won, the state is self-consistent: a replay of the
    # original batch classifies 100% historical, appends nothing
    s = ingest_batch_semantic(spark, batch, state_dir)
    assert s["n_hist_semdup"] == 4 and s["n_accepted"] == 0
    assert spark.read.parquet(state_dir + "/corpus_semantic").count() == 3

def test_ingest_batch_all_composes_five_legs(spark, state_dir, sf_smoke):
    """r9 verdict #8: the composed ingest classifies EXACTLY like the
    five individually-chained legs (the oracled composite funnel), under
    ONE lease acquisition and one shared scan per batch frame."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_all,
    )
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES

    expected = {
        (r["leg"], int(r["day"])): (r["n_items"], r["n_hist"], r["n_within"], r["n_accepted"])
        for r in QUERIES["incremental_all_legs_funnel"](spark, sf_smoke).collect()
    }
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    tables = _lsh_tables_fixture()
    cents = _sem_centroids_fixture()
    hist_keys = {
        "exact": "n_hist_dup",
        "neardup": "n_hist_neardup",
        "bloom": "n_rejected_maybe_dup",
        "embdup": "n_hist_embdup",
        "semantic": "n_hist_semdup",
    }
    within_keys = {
        "exact": "n_within_dup",
        "neardup": "n_within_neardup",
        "bloom": "n_within_dup",
        "embdup": "n_within_embdup",
        "semantic": "n_within_semdup",
    }
    for day in (0, 1, 2):
        out = ingest_batch_all(
            spark,
            state_dir,
            docs=docs.filter(docs.doc_id % 3 == day),
            vecs=emb.filter(emb.vec_id % 3 == day),
            tables=tables if day == 0 else None,
            centroids=cents if day == 0 else None,
        )
        assert set(out) == {"exact", "neardup", "bloom", "embdup", "semantic"}
        for leg, stats in out.items():
            n_items = stats["n_batch"]
            got = (
                n_items,
                stats[hist_keys[leg]],
                stats[within_keys[leg]],
                stats["n_accepted"],
            )
            # bloom's default m_bits differs from its funnel twin's 4096,
            # so compare the twin only on the legs with pinned-identical
            # parameters; bloom still must satisfy its own invariants
            if leg == "bloom":
                assert got[0] == expected[("bloom", day)][0]
                assert stats["n_accepted"] + stats["n_rejected_maybe_dup"] + stats["n_within_dup"] == got[0]
                continue
            assert got == expected[(leg, day)], (leg, day, got, expected[(leg, day)])


def test_ingest_batch_all_single_lease_and_epoch_resume(spark, state_dir):
    """The composite takes ONE lease (a held lock blocks the whole call
    before any leg runs) and namespaces its epoch per leg, so a crash
    mid-composite retried blindly SKIPS committed legs and resumes."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_all,
    )

    docs = _docs(spark, [(1, "alpha text"), (2, "alpha text")])
    fs = HadoopFS(spark, state_dir)
    fs.mkdirs(state_dir)
    lock = state_dir + "/_lock"
    assert fs.create_exclusive(lock, '{"writer": "other"}')
    with pytest.raises(IC.ConcurrentWriter):
        ingest_batch_all(spark, state_dir, docs=docs, epoch_id="d0")
    assert not fs.exists(state_dir + "/corpus")  # nothing ran
    IC.break_lease(spark, state_dir)

    with pytest.raises(ValueError, match="docs and/or vecs"):
        ingest_batch_all(spark, state_dir)

    out = ingest_batch_all(spark, state_dir, docs=docs, epoch_id="d0")
    assert out["exact"]["n_accepted"] == 1
    assert out["neardup"]["n_accepted"] == 2  # too short for 3-gram bands
    assert out["bloom"]["n_accepted"] == 1
    # per-leg namespaced epochs all committed (leg-prefix form, so
    # numeric epochs prune per leg-namespace)
    for leg in ("exact", "neardup", "bloom"):
        assert IC.epoch_committed(spark, state_dir, f"{leg}-d0")

    # blind redelivery of the whole composite: every leg skips
    again = ingest_batch_all(spark, state_dir, docs=docs, epoch_id="d0")
    assert again == {"exact": None, "neardup": None, "bloom": None}

    # simulate a crash AFTER the exact leg committed (drop the other
    # legs' markers): the retry skips exact, re-runs the rest
    fs.delete(state_dir + "/_epochs/neardup-d0", False)
    fs.delete(state_dir + "/_epochs/bloom-d0", False)
    resumed = ingest_batch_all(spark, state_dir, docs=docs, epoch_id="d0")
    assert resumed["exact"] is None  # skipped — already committed
    assert resumed["neardup"] is not None and resumed["bloom"] is not None
    # replay classifications: everything historical, nothing re-appended
    assert resumed["bloom"]["n_accepted"] == 0
    assert spark.read.parquet(state_dir + "/corpus").count() == 1

    # composite audit record (r10 verdict #6): ONE record for the d0
    # composite — redeliveries never clobber or duplicate it — with all
    # leg funnels side by side, surfaced by state_report
    rep = IC.state_report(spark, state_dir)
    assert rep["composed_batches"] == 1
    rec = rep["composed_recent"][0]
    assert rec["epoch"] == "d0"
    assert rec["legs"]["exact"]["n_accepted"] == 1
    assert rec["legs"]["neardup"]["n_accepted"] == 2

    # an epoch-less composite appends a second record, in ingest order
    ingest_batch_all(spark, state_dir, docs=_docs(spark, [(3, "beta text")]))
    rep2 = IC.state_report(spark, state_dir)
    assert rep2["composed_batches"] == 2
    assert rep2["composed_recent"][0]["epoch"] == "d0"
    assert rep2["composed_recent"][-1]["epoch"] is None

    # r11 review: a dashed epoch key ('<qid>-<batch>' streaming style)
    # must not mask a LATER epoch whose key is its dash-suffix — the
    # redelivery check compares the exact epoch part, not endswith
    ingest_batch_all(
        spark, state_dir, docs=_docs(spark, [(4, "gamma text")]), epoch_id="stream-7"
    )
    ingest_batch_all(
        spark, state_dir, docs=_docs(spark, [(5, "delta text")]), epoch_id="7"
    )
    rep3 = IC.state_report(spark, state_dir)
    assert rep3["composed_batches"] == 4
    assert [r["epoch"] for r in rep3["composed_recent"][-2:]] == ["stream-7", "7"]

def test_upgrade_added_param_persists_into_meta(spark, state_dir):
    """A parameter ADDED to a leg after its state was first pinned (an
    upgrade — e.g. semantic state_mode) must PERSIST into _meta on its
    first post-upgrade resolution. Regression: touch_atomic refuses
    existing destinations, so the persist was a silent no-op — an
    explicit value would apply for one call and the next call would
    silently default back (the flip-flop the pin exists to prevent)."""
    import json as _json

    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_semantic,
    )

    cents = _sem_centroids_fixture()
    batch = spark.createDataFrame(
        [(1, [float(j) for j in range(64)])], "vec_id long, embedding array<double>"
    )
    ingest_batch_semantic(spark, batch, state_dir, cents)
    fs = HadoopFS(spark, state_dir)
    meta_path = state_dir + "/_meta/semantic.json"

    # simulate a pre-upgrade pin: strip the state_mode key
    meta = _json.loads(fs.read_text(meta_path))
    assert meta.pop("state_mode") == "all"
    fs.replace_atomic(meta_path, _json.dumps(meta, sort_keys=True))
    assert "state_mode" not in IC.state_meta(spark, state_dir, "semantic")

    # first post-upgrade call pins the mode EXPLICITLY and persists it
    ingest_batch_semantic(
        spark,
        spark.createDataFrame(
            [(2, [(-1.0) ** j * (j + 1.0) for j in range(64)])],
            "vec_id long, embedding array<double>",
        ),
        state_dir,
        state_mode="keepers",
    )
    assert IC.state_meta(spark, state_dir, "semantic")["state_mode"] == "keepers"
    # and a later omitted-mode call keeps it (no flip-flop back to all)
    with pytest.raises(IC.StateParamMismatch):
        ingest_batch_semantic(spark, batch, state_dir, state_mode="all")


# ---------------------------------------------------------------------------
# mergeable-sketch leg (ingest_batch_sketch): k-min merge state
# ---------------------------------------------------------------------------

SK_SCHEMA = "doc_id long, source string, text string"


def _sk_docs(spark, rows):
    return spark.createDataFrame(rows, SK_SCHEMA)


def _sk_rows(spark, state_dir):
    return {
        (r["source"], r["hv"])
        for r in spark.read.parquet(state_dir + "/kmv_sketch").collect()
    }


def _direct_sketch(spark, docs, k=8):
    from pyspark.sql import functions as F

    from etl_pipeline_for_retail_sales_data_spark.operators import sketches as SK

    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\S+"), 0)
    base = docs.select("source", toks.alias("__toks")).filter(F.size("__toks") >= 3)
    sh = base.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(__toks) - 2), "
                "i -> concat_ws(' ', __toks[i-1], __toks[i], __toks[i+1]))"
            )
        ).alias("s"),
    )
    el = sh.select(
        "source",
        F.conv(F.substring(F.md5(F.col("s")), 1, 12), 16, 10)
        .cast("long")
        .alias("hv"),
    ).distinct()
    return {
        (r["source"], r["hv"])
        for r in SK.kmv_group_sketches(el, "source", k=k).collect()
    }


_SK_BATCHES = [
    [(1, "a", "one two three four"), (2, "b", "red green blue cyan")],
    [(3, "a", "one two three five"), (4, "b", "red green blue cyan")],  # 4 = dup content
    [(5, "a", "six seven eight nine"), (6, "c", "lone wolf text here")],
]


def test_sketch_ingest_merges_to_direct_sketch_and_replays_idempotently(
    spark, state_dir
):
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        StateParamMismatch,
        ingest_batch_sketch,
    )

    for d, rows in enumerate(_SK_BATCHES):
        r = ingest_batch_sketch(
            spark, _sk_docs(spark, rows), state_dir, k=8, epoch_id=f"d{d}"
        )
        assert r is not None and r["n_batch"] == 2
    assert r["n_groups"] == 3

    all_docs = _sk_docs(spark, [x for b in _SK_BATCHES for x in b])
    assert _sk_rows(spark, state_dir) == _direct_sketch(spark, all_docs, k=8)

    # committed-epoch redelivery skips; an uncommitted replay of the same
    # DATA re-merges to the bit-identical state (algebraic idempotence)
    assert (
        ingest_batch_sketch(spark, _sk_docs(spark, _SK_BATCHES[1]), state_dir,
                            epoch_id="d1")
        is None
    )
    before = _sk_rows(spark, state_dir)
    ingest_batch_sketch(spark, _sk_docs(spark, _SK_BATCHES[1]), state_dir)
    assert _sk_rows(spark, state_dir) == before

    # k pins into _meta: a contradicting value refuses
    with pytest.raises(StateParamMismatch, match="sketch"):
        ingest_batch_sketch(spark, _sk_docs(spark, _SK_BATCHES[0]), state_dir, k=4)

    # the ops snapshot surfaces the single-root leg (state only, no corpus)
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        state_report,
    )

    rep = state_report(spark, state_dir)
    assert rep["legs"]["sketch"]["meta"]["k"] == 8
    assert rep["legs"]["sketch"]["state_rows"] == len(_sk_rows(spark, state_dir))
    assert "corpus_rows" not in rep["legs"]["sketch"]


@pytest.mark.parametrize("crash", ["after_stage", "mid_swap", "before_epoch"])
def test_sketch_ingest_crash_then_blind_retry_converges(spark, state_dir, crash):
    """Crash at every swap window, then retry BLINDLY: recovery settles
    the swap and the idempotent re-merge lands the identical state; the
    epoch records exactly once."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        SimulatedCrash,
        epoch_committed,
        ingest_batch_sketch,
    )

    ingest_batch_sketch(
        spark, _sk_docs(spark, _SK_BATCHES[0]), state_dir, k=8, epoch_id="d0"
    )
    with pytest.raises(SimulatedCrash):
        ingest_batch_sketch(
            spark, _sk_docs(spark, _SK_BATCHES[1]), state_dir,
            epoch_id="d1", _crash=crash,
        )
    # blind retry (recover_state runs inside)
    r = ingest_batch_sketch(
        spark, _sk_docs(spark, _SK_BATCHES[1]), state_dir, epoch_id="d1"
    )
    if crash == "before_epoch":
        # the swap landed before the crash; the retry may skip (epoch
        # unrecorded -> re-merge) but must converge either way
        assert r is None or r["n_batch"] == 2
    two = _sk_docs(spark, _SK_BATCHES[0] + _SK_BATCHES[1])
    assert _sk_rows(spark, state_dir) == _direct_sketch(spark, two, k=8)
    assert epoch_committed(spark, state_dir, "d1")


def test_ingest_batch_all_sketch_opt_in(spark, state_dir):
    """r11: sketch_group_col opts the mergeable-sketch leg into the
    composite — same lease/recovery/scan, its own leg-prefixed epoch
    (skips on redelivery), state identical to chaining the leg
    individually; requires a docs batch."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_all,
    )

    with pytest.raises(ValueError, match="requires a docs batch"):
        ingest_batch_all(
            spark, state_dir,
            vecs=spark.createDataFrame(
                [(1, [0.0] * 4)], "vec_id long, embedding array<double>"
            ),
            tables=_lsh_tables_fixture(),
            centroids=_sem_centroids_fixture(),
            sketch_group_col="source",
        )

    docs = spark.createDataFrame(
        [
            (1, "a", "one two three four"),
            (2, "b", "red green blue cyan"),
            (3, "a", "one two three four"),  # exact dup of 1
        ],
        "doc_id long, source string, text string",
    )
    out = ingest_batch_all(
        spark, state_dir, docs=docs, sketch_group_col="source", sketch_k=8,
        epoch_id="d0",
    )
    assert set(out) == {"exact", "neardup", "bloom", "sketch"}
    assert out["sketch"]["n_groups"] == 2
    assert IC.epoch_committed(spark, state_dir, "sketch-d0")
    state = {
        (r["source"], r["hv"])
        for r in spark.read.parquet(state_dir + "/kmv_sketch").collect()
    }
    assert state == _direct_sketch(spark, docs, k=8)

    # redelivery: the sketch leg skips with the rest
    again = ingest_batch_all(
        spark, state_dir, docs=docs, sketch_group_col="source", epoch_id="d0"
    )
    assert again["sketch"] is None


def test_sketch_report_overlap_from_state(spark, state_dir):
    """sketch_report answers cross-group overlap from the PERSISTED
    sketches: groups sharing elements show the shared count (exact in
    the small-set regime), disjoint groups show zero — and the call
    never touches the ingested batches again."""
    from etl_pipeline_for_retail_sales_data_spark.plans.incremental_corpus import (
        ingest_batch_sketch,
        sketch_report,
    )

    with pytest.raises(ValueError, match="no sketch state"):
        sketch_report(spark, state_dir)

    shared = "common phrase shared by both sources"
    rows = [
        (1, "a", shared),
        (2, "b", shared),
        (3, "a", "alpha only words here now"),
        (4, "b", "beta private text goes here"),
        (5, "c", "gamma is entirely disjoint content"),
    ]
    ingest_batch_sketch(spark, _sk_docs(spark, rows), state_dir, k=64)
    out = {
        (r["grp_a"], r["grp_b"]): r
        for r in sketch_report(spark, state_dir).collect()
    }
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = out[("a", "b")]
    # small-set regime: sketches hold the full element sets -> exact
    n_shared_shingles = len(shared.split()) - 2
    assert ab.k_union < 64
    assert ab.n_common == ab.est_inter == n_shared_shingles
    assert out[("a", "c")].n_common == 0 and out[("b", "c")].n_common == 0
