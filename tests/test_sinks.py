"""Sink semantics (SURVEY.md §2.8): replace-not-accumulate (L3), single-file
CSV (L1), partitioned parquet as the scale path; the staged publish (a
failed write keeps the previous output, a crashed swap is recovered) and
each sink's Spark job count."""

import csv
import os

import pytest

from etl_pipeline_for_retail_sales_data_spark import sinks
from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES


def test_csv_single_file_overwrite(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "summary.csv")
    df = QUERIES["sales_summary"](spark, sf_smoke)
    sinks.write_csv_single_file(df, out)
    assert os.path.isfile(out)
    with open(out) as f:
        rows = list(csv.reader(f))
    assert rows[0] == ["product_id", "total_quantity", "total_sale_amount"]
    n_first = len(rows)

    # idempotent re-run: replace, not accumulate (L3)
    sinks.write_csv_single_file(df, out)
    with open(out) as f:
        assert len(list(csv.reader(f))) == n_first


def _merge_crash_fixture(spark, tmp_path):
    """Set up a table + an updates frame and return (path, expect_after)."""
    path = str(tmp_path / "merged")
    base = spark.createDataFrame(
        [(1, "old-a"), (2, "old-b"), (3, "old-c")], "k long, v string"
    )
    sinks.write_parquet(base, path)
    updates = spark.createDataFrame([(2, "new-b"), (4, "new-d")], "k long, v string")
    return path, updates


def test_merge_parquet_upsert_and_crash_recovery(spark, tmp_path):
    """merge_parquet upserts; then simulate a crash inside the swap window
    (after `path` was renamed to ._merge_old, before ._merge_tmp was
    promoted — the only non-atomic window) and assert recover_merge rolls
    FORWARD to the fully-committed merge output."""
    import shutil

    path, updates = _merge_crash_fixture(spark, tmp_path)
    sinks.merge_parquet(spark, updates, path, ["k"])
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "old-a", 2: "new-b", 3: "old-c", 4: "new-d"}

    # Reconstruct the mid-swap crash state: a complete tmp (with _SUCCESS),
    # the previous table moved aside to ._merge_old, `path` missing.
    tmp, old = path + "._merge_tmp", path + "._merge_old"
    shutil.copytree(path, tmp)  # stands in for the freshly-written merge output
    os.rename(path, old)
    assert not os.path.isdir(path)

    assert sinks.recover_merge(path) == "rolled_forward"
    assert os.path.isdir(path) and not os.path.isdir(tmp) and not os.path.isdir(old)
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "old-a", 2: "new-b", 3: "old-c", 4: "new-d"}


def test_merge_parquet_crash_before_commit_rolls_back(spark, tmp_path):
    """If the crash hit while the merge output was still being written
    (tmp has no _SUCCESS), recovery restores the PREVIOUS table from
    ._merge_old and discards the torn tmp."""
    import shutil

    path, updates = _merge_crash_fixture(spark, tmp_path)
    tmp, old = path + "._merge_tmp", path + "._merge_old"
    # torn tmp: copy then delete the _SUCCESS marker
    shutil.copytree(path, tmp)
    os.remove(os.path.join(tmp, "_SUCCESS"))
    os.rename(path, old)

    assert sinks.recover_merge(path) == "rolled_back"
    assert os.path.isdir(path) and not os.path.isdir(tmp) and not os.path.isdir(old)
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "old-a", 2: "old-b", 3: "old-c"}


def test_recover_merge_noop_clears_leftovers(spark, tmp_path):
    """A completed swap with stale side directories is cleaned to 'ok'."""
    import shutil

    path, _ = _merge_crash_fixture(spark, tmp_path)
    shutil.copytree(path, path + "._merge_old")
    assert sinks.recover_merge(path) == "ok"
    assert not os.path.isdir(path + "._merge_old")


def test_recover_merge_nothing_to_recover_raises(tmp_path):
    """Fourth disk state: no table, no tmp, no old — unrecoverable, and
    recovery must say so rather than fabricate an empty table."""
    import pytest

    with pytest.raises(FileNotFoundError, match="recover_merge"):
        sinks.recover_merge(str(tmp_path / "never_merged"))


def test_parquet_partitioned_roundtrip(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "events_by_type")
    ev = QUERIES["events_hourly"](spark, sf_smoke)
    sinks.write_parquet(ev, out, partition_by=["event_type"])
    # partition directories exist → readers get partition pruning
    parts = [d for d in os.listdir(out) if d.startswith("event_type=")]
    assert len(parts) >= 2
    back = spark.read.parquet(out)
    assert back.count() == ev.count()

    # overwrite semantics
    sinks.write_parquet(ev.limit(10), out)
    assert spark.read.parquet(out).count() == 10


def test_merge_parquet_after_unrecovered_crash_keeps_previous_rows(spark, tmp_path):
    """A merge that starts while a torn swap is still on disk (``path``
    moved to ._merge_old, an unfinished ._merge_tmp beside it) must first
    restore the previous table, then merge into it — never treat the
    table as absent and publish the updates alone."""
    import shutil

    path = str(tmp_path / "merged")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    sinks.write_parquet(base, path)
    tmp, old = path + "._merge_tmp", path + "._merge_old"
    shutil.copytree(path, tmp)
    os.remove(os.path.join(tmp, "_SUCCESS"))
    os.rename(path, old)

    updates = spark.createDataFrame([(4, "d")], "k long, v string")
    sinks.merge_parquet(spark, updates, path, ["k"])
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b", 3: "c", 4: "d"}
    assert not os.path.isdir(tmp) and not os.path.isdir(old)


def _raise_on_three():
    from pyspark.sql import functions as F

    def check(k):
        if k == 3:
            raise ValueError("sink failure test")
        return k

    return F.udf(check, "long")


def _siblings(tmp_path, name):
    return sorted(n for n in os.listdir(tmp_path) if n != name)


@pytest.mark.parametrize("partition_by", [None, ["p"]])
def test_failed_write_parquet_keeps_previous_output(spark, tmp_path, partition_by):
    """A write that fails part-way leaves the previous output readable
    and unchanged, and no staged sibling behind."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "out")
    base = spark.createDataFrame([(i, i % 2) for i in range(10)], "k long, p long")
    sinks.write_parquet(base, path, partition_by=partition_by)
    before = sorted(os.listdir(path))
    bad = base.withColumn("k", _raise_on_three()(F.col("k")))
    with pytest.raises(Exception, match="sink failure test"):
        sinks.write_parquet(bad, path, partition_by=partition_by)
    back = spark.read.parquet(path).select("k", "p").collect()
    assert sorted(tuple(r) for r in back) == [(i, i % 2) for i in range(10)]
    assert sorted(os.listdir(path)) == before
    assert _siblings(tmp_path, "out") == []


def test_failed_write_csv_keeps_previous_file(spark, tmp_path):
    """A failed CSV write leaves the previous file byte-identical, with
    no staging directory and no checksum sidecar beside it."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "summary.csv")
    base = spark.createDataFrame([(i, i % 2) for i in range(10)], "k long, p long")
    sinks.write_csv_single_file(base, path)
    with open(path, "rb") as f:
        before = f.read()
    bad = base.withColumn("k", _raise_on_three()(F.col("k")))
    with pytest.raises(Exception, match="sink failure test"):
        sinks.write_csv_single_file(bad, path)
    with open(path, "rb") as f:
        assert f.read() == before
    assert _siblings(tmp_path, "summary.csv") == []


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs: job ids rise monotonically and the status
    store keeps only the newest spark.ui.retainedJobs, so count the ids
    above the last one seen rather than differencing the list's length."""
    tracker = spark.sparkContext.statusTracker()
    last = max(tracker.getJobIdsForGroup(None), default=-1)
    fn()
    return sum(1 for j in tracker.getJobIdsForGroup(None) if j > last)


def test_sink_job_counts(spark, sf_smoke, tmp_path):
    """Each sink spends exactly the jobs of its write (plus, for merge,
    the target's schema listing): staging and publishing add no job,
    read-back or copy."""
    summary = QUERIES["sales_summary"](spark, sf_smoke)
    merged = str(tmp_path / "merged")
    sinks.write_parquet(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), merged)
    updates = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    got = (
        _jobs(spark, lambda: sinks.write_parquet(summary, str(tmp_path / "summary"))),
        _jobs(spark, lambda: sinks.write_csv_single_file(summary, str(tmp_path / "summary.csv"))),
        _jobs(spark, lambda: sinks.merge_parquet(spark, updates, merged, ["k"])),
    )
    assert got == (4, 4, 5)
