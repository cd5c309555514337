"""Manifest-versioned parquet tables: snapshot commits, time travel,
optimistic concurrency, vacuum — the minimal slice of a table format
(Delta/Iceberg) that upgrade parquet directories from "a pile of files"
to "a sequence of atomic snapshots".

Why the engine carries this: the replace/merge sinks in `sinks.py`
stage each output and swap it in by renames, so a reader never sees a
half-written table, but the swap deletes the previous files under a
reader still scanning them, and yesterday's state is gone after today's
run. A 100 TB
pipeline needs (a) readers pinned to a consistent snapshot while writers
land new data, (b) reproducible reads of past versions (train/eval sets
cite a corpus VERSION, not a directory), and (c) blind-retry safety. All
three fall out of one rule: DATA FILES ARE IMMUTABLE, commits only add
files and swap one tiny manifest pointer.

Layout (all under the table dir):
    data/<uuid>.parquet      immutable data files, never rewritten
    _manifests/v00042.json   snapshot = list of live data files + meta

Commit protocol: write data files → write manifest to a temp name →
`os.link` to the next version number. Hard-linking is atomic and FAILS
if the target exists, so two racing writers can both write data files
but only ONE wins the version — the loser raises `CommitConflict` and
retries on top of the winner's snapshot (optimistic concurrency, exactly
Delta's protocol). Readers list manifests only; a crashed writer leaves
orphan data files that `vacuum` reclaims, never a torn table.

Local-filesystem scope (like `sinks.merge_parquet`): rename/link
atomicity holds on POSIX; object stores need a commit service — the
protocol is unchanged, only the atomic primitive differs.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(RuntimeError):
    """Another writer committed this version first — reread and retry."""


def _manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_manifests")


def _versions(table_dir: str) -> list[int]:
    mdir = _manifest_dir(table_dir)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(f[1:-5]) for f in os.listdir(mdir) if f.startswith("v") and f.endswith(".json")
    )


def current_version(table_dir: str) -> int | None:
    vs = _versions(table_dir)
    return vs[-1] if vs else None


def _read_manifest(table_dir: str, version: int) -> dict:
    with open(os.path.join(_manifest_dir(table_dir), f"v{version:05d}.json")) as f:
        return json.load(f)


def _harvest_stats(table_dir: str, rel_files: list[str], cols: list[str]) -> dict:
    """Per-file min/max for ``cols``, read from parquet FOOTERS (row-group
    statistics) — O(footer bytes), never a data scan. This is the write-time
    stats collection of Iceberg/Delta: the manifest ends up knowing each
    file's value range so readers can skip files wholesale. Only int/float/
    str/bool stats are recorded (JSON-safe, totally ordered); columns
    without footer stats are simply absent (readers treat absent as
    "might match")."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for rel in rel_files:
        md = pq.ParquetFile(os.path.join(table_dir, rel)).metadata
        per: dict[str, list] = {}
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                c = row_group.column(ci)
                name = c.path_in_schema
                if name not in cols:
                    continue
                st = c.statistics
                if st is None or not st.has_min_max:
                    continue
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                    except UnicodeDecodeError:
                        continue
                if not isinstance(mn, (int, float, str, bool)):
                    continue
                if name in per:
                    per[name] = [min(per[name][0], mn), max(per[name][1], mx)]
                else:
                    per[name] = [mn, mx]
        if per:
            out[rel] = per
    return out


def commit(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    extra: dict | None = None,
    stats_cols: list[str] | None = None,
    carry_files: list[str] | None = None,
    carry_stats: dict | None = None,
) -> int:
    """Commit ``df`` as the next snapshot. ``mode='append'`` keeps the
    previous snapshot's files and adds new ones; ``'replace'`` starts the
    file list fresh (previous files stay on disk for time travel until
    vacuumed). ``carry_files``/``carry_stats`` override the carried list
    explicitly — the partial-rewrite primitive ``merge_into(prune_on=...)``
    builds on (untouched files survive, touched files are replaced by
    ``df``'s new files). ``extra`` entries are embedded in the manifest ATOMICALLY
    with the commit (the transactional carrier for e.g. a streaming
    epoch id — see streaming/sinks.py). ``stats_cols`` records per-file
    min/max for those columns in the manifest (footer harvest, no data
    scan) so ``read_table(..., where=...)`` can prune files. Returns the
    committed version number. Raises ``CommitConflict`` if a concurrent
    writer claimed the version."""
    batch_id, new_files = stage(df, table_dir)
    return publish_staged(
        table_dir,
        batch_id,
        new_files,
        mode=mode,
        extra=extra,
        stats_cols=stats_cols,
        carry_files=carry_files,
        carry_stats=carry_stats,
    )


def stage(df: DataFrame, table_dir: str) -> tuple[str, list[str]]:
    """WRITE step of write-audit-publish: land ``df`` as immutable data
    files under a fresh batch directory WITHOUT publishing a manifest —
    invisible to every reader until ``publish_staged``. Returns
    (batch_id, relative file list). A staged batch that is never
    published is an orphan ``vacuum`` reclaims (same crash story as a
    writer dying mid-commit)."""
    if "://" in table_dir:
        raise ValueError("versioned tables are local-filesystem scoped (see module doc)")
    os.makedirs(_manifest_dir(table_dir), exist_ok=True)
    batch_id = uuid.uuid4().hex
    data_dir = os.path.join(table_dir, "data", batch_id)
    df.write.mode("error").parquet(data_dir)
    new_files = sorted(
        os.path.join("data", batch_id, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    return batch_id, new_files


def read_staged(spark: SparkSession, table_dir: str, batch_id: str) -> DataFrame:
    """Read a staged (unpublished) batch back from its on-disk files —
    the AUDIT step inspects exactly the bytes a publish would expose,
    not the in-memory frame that produced them."""
    return spark.read.parquet(os.path.join(table_dir, "data", batch_id))


def discard_staged(table_dir: str, batch_id: str) -> None:
    """Drop a staged batch that failed its audit."""
    import shutil

    shutil.rmtree(os.path.join(table_dir, "data", batch_id), ignore_errors=True)


def publish_staged(
    table_dir: str,
    batch_id: str,
    new_files: list[str],
    mode: str = "append",
    extra: dict | None = None,
    stats_cols: list[str] | None = None,
    carry_files: list[str] | None = None,
    carry_stats: dict | None = None,
) -> int:
    """PUBLISH step: atomically claim the next version for an
    already-staged batch (see ``commit`` for the carry/stats/conflict
    semantics — ``commit`` is exactly ``stage`` + this)."""
    if mode not in ("append", "replace"):
        raise ValueError(f"mode must be 'append' or 'replace', got {mode!r}")
    base_version = current_version(table_dir)
    carried: list[str] = []
    carried_stats: dict = {}
    if carry_files is not None:
        # partial rewrite (file-pruned MERGE): caller names the survivors
        carried = list(carry_files)
        carried_stats = dict(carry_stats or {})
    elif mode == "append" and base_version is not None:
        base = _read_manifest(table_dir, base_version)
        carried = base["files"]
        carried_stats = {
            k: v for k, v in base.get("stats", {}).items() if k in set(carried)
        }

    # atomically claim the next version: link fails iff it exists
    version = (base_version if base_version is not None else -1) + 1
    manifest = {
        "version": version,
        "mode": mode,
        "files": carried + new_files,
        "batch": batch_id,
        "committed_at": time.time(),
        **(extra or {}),
    }
    new_stats = _harvest_stats(table_dir, new_files, stats_cols) if stats_cols else {}
    if new_stats or carried_stats:
        manifest["stats"] = {**carried_stats, **new_stats}
    tmp = os.path.join(_manifest_dir(table_dir), f".tmp-{batch_id}.json")
    final = os.path.join(_manifest_dir(table_dir), f"v{version:05d}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    try:
        os.link(tmp, final)
    except FileExistsError as e:
        raise CommitConflict(
            f"version {version} of {table_dir!r} was committed concurrently; "
            "reread the table and retry"
        ) from e
    finally:
        os.remove(tmp)
    return version


_PRUNE_OPS = ("=", "<", "<=", ">", ">=")


def _file_may_match(file_stats: dict, col: str, op: str, val) -> bool:
    """Range check against one file's [min, max]. Absent stats -> True
    (conservative: never skip a file we can't rule out)."""
    rng = file_stats.get(col)
    if rng is None:
        return True
    mn, mx = rng
    if op == "=":
        return mn <= val <= mx
    if op == "<":
        return mn < val
    if op == "<=":
        return mn <= val
    if op == ">":
        return mx > val
    return mx >= val  # ">="


def prune_files(m: dict, where: tuple | None) -> list[str]:
    """Manifest file list after data skipping for ``where=(col, op, val)``.
    Exposed for plan tests: the pruning decision is pure manifest math."""
    files = m["files"]
    if where is None:
        return files
    col, op, val = where
    if op not in _PRUNE_OPS:
        raise ValueError(f"op must be one of {_PRUNE_OPS}, got {op!r}")
    stats = m.get("stats", {})
    return [f for f in files if _file_may_match(stats.get(f, {}), col, op, val)]


def read_table(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    merge_schema: bool = False,
    where: tuple | None = None,
) -> DataFrame:
    """Read a snapshot (latest by default, or any retained ``version`` —
    time travel). The file list is pinned at manifest-read time, so the
    returned DataFrame stays consistent even if writers commit while the
    query runs. ``merge_schema=True`` unions column sets across commits
    (append-only schema evolution: old files surface nulls for columns
    they predate — same contract as parquet ``mergeSchema``).

    ``where=(col, op, val)`` with op in {=, <, <=, >, >=} does FILE-LEVEL
    data skipping against the manifest's per-file min/max (written by
    ``commit(stats_cols=...)``) BEFORE Spark ever lists the files — at
    100 TB this is the difference between planning over every file and
    planning over the handful whose range can match. The same predicate
    is then applied as a normal row filter, so results are exact whether
    or not stats exist; files lacking stats are read, not skipped."""
    v = current_version(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version at {table_dir!r}")
    m = _read_manifest(table_dir, v)
    files = prune_files(m, where)
    if not files:
        if m["files"] and where is not None:
            # all files skipped: empty result with the TABLE's schema
            files = m["files"][:1]
        else:
            return spark.createDataFrame([], "__empty string").limit(0)
    paths = [os.path.join(table_dir, f) for f in files]
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", True)
    df = reader.parquet(*paths)
    if where is not None:
        from pyspark.sql import functions as F

        col, op, val = where
        c = F.col(col)
        pred = {
            "=": c == val,
            "<": c < val,
            "<=": c <= val,
            ">": c > val,
            ">=": c >= val,
        }[op]
        df = df.filter(pred)
    return df


def compact(
    spark: SparkSession,
    table_dir: str,
    target_files: int = 1,
    sort_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """OPTIMIZE: rewrite the current snapshot into ``target_files`` files
    as a new ``replace`` commit (Delta OPTIMIZE / Iceberg rewrite_data_files).
    Streaming appends and incremental batches leave a long tail of small
    files; at cluster scale that is death by file listing and per-file
    task overhead, and it starves data skipping (every tiny file spans a
    tiny range, but the planner still has to consider each one).

    ``sort_by`` range-partitions then sorts within files before writing —
    combined with ``stats_cols`` the rewritten files carry TIGHT,
    NON-OVERLAPPING min/max ranges, which is what makes
    ``read_table(where=...)`` pruning effective (pair with
    operators/layout.zorder_layout for multi-column locality: pass the
    interleaved key as a column and sort by it).

    Data is unchanged (same rows, new layout); time travel still reaches
    the pre-compaction snapshot until vacuum. Concurrency: the commit goes
    through the same os.link claim, so a racing writer surfaces as
    ``CommitConflict`` — rerun compaction on the new snapshot."""
    snap = read_table(spark, table_dir)
    if sort_by:
        snap = snap.repartitionByRange(target_files, *sort_by).sortWithinPartitions(*sort_by)
    else:
        snap = snap.coalesce(target_files)
    return commit(spark, snap, table_dir, mode="replace", stats_cols=stats_cols)


def merge_into(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key_cols: list[str],
    when_matched: str = "update",
    stats_cols: list[str] | None = None,
    prune_on: str | None = None,
    extra: dict | None = None,
) -> int:
    """MERGE INTO for versioned tables (Delta MERGE / upsert): rows of the
    current snapshot whose key matches a source row are replaced by the
    source row (``when_matched='update'``) or dropped
    (``when_matched='delete'``); unmatched source rows are inserted
    (update mode only). Commits the merged result as a ``replace``
    snapshot — data files stay immutable, concurrency stays the os.link
    claim, and a ``CommitConflict`` means: reread, re-merge, retry (the
    merge itself is deterministic, so blind retry is safe).

    Distributed shape: ONE left-anti join of target vs source keys (drop
    the to-be-replaced rows) + a unionByName for inserts — no window, no
    driver collect.

    ``prune_on='col'`` enables Delta's FILE-PRUNED copy-on-write: the
    source's [min, max] on that key column is computed once, and only
    target files whose manifest range OVERLAPS that envelope are read,
    anti-joined, and rewritten — every other file is carried into the new
    manifest untouched, stats included. Non-overlap proves a file holds
    no matching key, so pruning is conservative-correct; on a 100 TB
    table a narrow-key merge rewrites a handful of files instead of the
    whole table. Requires the table to have been committed with
    ``stats_cols`` covering that column (files without stats are treated
    as touched).

    ``source`` must contain exactly one row per key (enforced: duplicate
    source keys make MERGE ambiguous — raises ValueError like Delta)."""
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be 'update' or 'delete', got {when_matched!r}")
    dup = source.groupBy(*key_cols).count().filter("count > 1").limit(1).count()
    if dup:
        raise ValueError("source has duplicate keys; MERGE requires one source row per key")

    if prune_on is None:
        target = read_table(spark, table_dir)
        keep = target.join(source.select(*key_cols), key_cols, "left_anti")
        merged = keep.unionByName(source) if when_matched == "update" else keep
        return commit(
            spark, merged, table_dir, mode="replace", stats_cols=stats_cols, extra=extra
        )

    from pyspark.sql import functions as F

    v = current_version(table_dir)
    if v is None:
        raise FileNotFoundError(f"no committed version at {table_dir!r}")
    m = _read_manifest(table_dir, v)
    env = source.agg(
        F.min(prune_on).alias("lo"), F.max(prune_on).alias("hi")
    ).first()
    stats = m.get("stats", {})

    def untouched(f: str) -> bool:
        if env.lo is None:
            return True  # empty source matches nothing
        rng = stats.get(f, {}).get(prune_on)
        if rng is None:
            return False  # no stats: must assume the file could match
        return rng[1] < env.lo or rng[0] > env.hi  # no overlap with envelope

    keep_files = [f for f in m["files"] if untouched(f)]
    touched = [f for f in m["files"] if f not in set(keep_files)]
    if touched:
        t_df = spark.read.parquet(*(os.path.join(table_dir, f) for f in touched))
        keep_rows = t_df.join(source.select(*key_cols), key_cols, "left_anti")
    else:
        keep_rows = read_table(spark, table_dir).limit(0)
    merged = keep_rows.unionByName(source) if when_matched == "update" else keep_rows
    return commit(
        spark,
        merged,
        table_dir,
        mode="replace",
        stats_cols=stats_cols,
        extra=extra,
        carry_files=keep_files,
        carry_stats={k: s for k, s in stats.items() if k in set(keep_files)},
    )


def history(table_dir: str) -> list[dict]:
    """Commit log, oldest first: version, mode, file count, timestamp."""
    return [
        {k: m[k] for k in ("version", "mode", "committed_at")} | {"n_files": len(m["files"])}
        for m in (_read_manifest(table_dir, v) for v in _versions(table_dir))
    ]


def vacuum(table_dir: str, keep_last: int = 2) -> int:
    """Drop manifests older than the last ``keep_last`` versions and
    delete data files no retained snapshot references (crashed-writer
    orphans included). Returns the number of files deleted. Time travel
    reaches only retained versions afterward."""
    vs = _versions(table_dir)
    keep_vs = vs[-keep_last:] if keep_last > 0 else []
    live: set[str] = set()
    for v in keep_vs:
        live.update(_read_manifest(table_dir, v)["files"])
    deleted = 0
    for v in vs[:-keep_last] if keep_last > 0 else vs:
        os.remove(os.path.join(_manifest_dir(table_dir), f"v{v:05d}.json"))
    data_root = os.path.join(table_dir, "data")
    if os.path.isdir(data_root):
        for batch in os.listdir(data_root):
            bdir = os.path.join(data_root, batch)
            for f in os.listdir(bdir):
                rel = os.path.join("data", batch, f)
                if f.endswith(".parquet") and rel not in live:
                    os.remove(os.path.join(bdir, f))
                    deleted += 1
            if not any(f.endswith(".parquet") for f in os.listdir(bdir)):
                for f in os.listdir(bdir):
                    os.remove(os.path.join(bdir, f))
                os.rmdir(bdir)
    return deleted


class AuditFailed(RuntimeError):
    """The staged batch failed its data-quality audit; nothing was
    published. ``.report`` holds the full check report rows."""

    def __init__(self, msg: str, report: list):
        super().__init__(msg)
        self.report = report


def write_audit_publish(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    checks: list,
    mode: str = "append",
    extra: dict | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """The write-audit-publish (WAP) gate — the Iceberg-popularized
    pattern for 100 TB ingestion: LAND the batch's files invisibly
    (``stage``), AUDIT the actual persisted bytes with the declarative
    quality suite (operators/quality.py — reading the staged parquet
    back catches what the in-memory frame can't: schema coercions,
    precision loss, a torn write), and only then PUBLISH the manifest
    atomically. A failing audit discards the staged files and raises
    ``AuditFailed`` with the full report; readers never observe the bad
    batch — the table's latest version is untouched. On success the
    audit report is embedded in the manifest (``"audit"`` key), so every
    snapshot carries the proof it was checked — committed ATOMICALLY
    with the data it vouches for."""
    from .operators.quality import run_checks

    batch_id, files = stage(df, table_dir)
    try:
        report_rows = run_checks(read_staged(spark, table_dir, batch_id), checks).collect()
    except Exception:
        discard_staged(table_dir, batch_id)
        raise
    failed = [r for r in report_rows if not r["passed"]]
    audit = [
        {"check": r["check"], "kind": r["kind"],
         "n_violations": r["n_violations"], "passed": r["passed"]}
        for r in report_rows
    ]
    if failed:
        discard_staged(table_dir, batch_id)
        detail = "; ".join(f"{r['check']}: {r['n_violations']} violations" for r in failed)
        raise AuditFailed(f"audit failed, batch not published: {detail}", audit)
    return publish_staged(
        table_dir,
        batch_id,
        files,
        mode=mode,
        extra={**(extra or {}), "audit": audit},
        stats_cols=stats_cols,
    )


def purge_keys(
    spark: SparkSession,
    table_dir: str,
    keys: DataFrame,
    key_cols: list[str],
    prune_on: str | None = None,
    stats_cols: list[str] | None = None,
) -> dict:
    """Right-to-be-forgotten purge (GDPR/takedown): remove every row
    matching ``keys`` from the CURRENT snapshot AND from history — a
    plain MERGE-delete is not a purge on a versioned table, because time
    travel would happily resurrect the deleted rows from any older
    manifest, and the immutable data files still hold the bytes.

    Three steps, each already-atomic:
    1. MERGE-delete the keys into a new snapshot (file-pruned via
       ``prune_on`` when the table carries stats — on a 100 TB table
       only files whose [min,max] envelope overlaps the key range are
       rewritten).
    2. ``vacuum(keep_last=1)``: drop every older manifest and every
       data file only they referenced — the purged rows' physical bytes
       are deleted, not merely unreferenced.
    3. VERIFY on the persisted bytes: re-read the surviving snapshot
       from disk and assert zero matching keys remain (trust the scan,
       not the plan).

    Returns {"version", "n_purged", "files_deleted", "n_remaining"}.
    Concurrency: step 1 carries the usual ``CommitConflict`` retry
    contract; steps 2-3 are idempotent. History loss is the POINT —
    callers needing an audit trail should record the purge request ids
    (not the data) in the new manifest via a follow-up commit's
    ``extra``.
    """
    before = read_table(spark, table_dir).count()
    src = keys.select(*key_cols).dropDuplicates(key_cols)
    version = merge_into(
        spark,
        table_dir,
        src,
        key_cols,
        when_matched="delete",
        prune_on=prune_on,
        stats_cols=stats_cols,
    )
    files_deleted = vacuum(table_dir, keep_last=1)
    remaining = read_table(spark, table_dir)
    leak = remaining.join(src, key_cols, "inner").limit(1).count()
    if leak:
        raise RuntimeError(
            f"purge verification failed: matching keys remain in {table_dir!r}"
        )
    n_remaining = remaining.count()
    return {
        "version": version,
        "n_purged": before - n_remaining,
        "files_deleted": files_deleted,
        "n_remaining": n_remaining,
    }
