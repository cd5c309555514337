"""Incremental corpus ingestion — the daily production loop of a
training-data pipeline: each new batch of documents is deduplicated
against EVERYTHING ingested before it without rescanning history, novel
documents are appended to the corpus, and their fingerprints extend the
dedup state. (The reference's daily schedule, dags/etl_pipeline.py:38,
maps to per-day replace for aggregates — plans/daily.py; for an
append-only corpus the analogous loop is append + dedup-against-state.)

Scale design:
- The dedup state is a FINGERPRINT table (digest, doc_id), ~50 bytes per
  historical document — 100 TB of raw text collapses to a few hundred GB
  of digests. The per-batch check is one equi-join (left_anti) on the
  digest, never a scan of the corpus itself.
- The fingerprint tables are BUCKETED on their join key (digest for the
  exact loop, (band, bk) for the near-dup loop): the state side of the
  classification join plans NO Exchange — only the new batch shuffles,
  into ``n_buckets`` partitions (size n_buckets for the cluster at
  production scale; the default 8 is the local-test shape). Asserted on
  the physical plan in tests/test_incremental_corpus.py.
- Crash atomicity: every leg runs one batch as one :func:`_epoch_txn`
  (lease → recovery → epoch guard → pinned meta → stage → commit; the
  contract is stated there). Corpus rows and state rows are staged in
  hidden ``.staged-<token>`` directories, a journal marker (one atomic
  rename) commits the batch, then the staged files move into the
  visible roots; :func:`recover_state` rolls a crashed batch FORWARD
  when the marker exists and BACK when it does not, so a blind retry
  can never double-ingest (tested stepwise via the crash hooks). The
  sketch leg and the compactions replace a whole directory instead,
  through :func:`fsutil.swap_in`.
- Idempotency: re-ingesting the same batch is a no-op — every digest is
  already in the state, so zero rows are appended.
- Within-batch duplicates collapse to min(doc_id) BEFORE the history
  join (cheapest first, same funnel ordering as plans/corpus.py).

Concurrency contract: ONE writer per state_dir at a time (the daily
scheduler's natural shape), ENFORCED by a writer lease — every ingest/
compaction atomically creates ``state_dir/_lock`` and raises
:class:`ConcurrentWriter` when another live writer holds it (detect,
don't coordinate: real multi-writer needs a table format with
optimistic commits — Delta/Iceberg). A hard-killed writer's lease
expires after ``LEASE_TTL_MS`` (15 min default) and is reclaimed by the
next writer, or broken explicitly via :func:`break_lease`; one
ingest/compaction must finish within the TTL. The journal makes a
crashed-then-retried single writer safe. Filesystem ops go through the
Hadoop FileSystem API (fsutil.py), so state may live on file:// or
HDFS; S3A's non-atomic rename is explicitly out of contract.

Parameter pinning: each loop's decision-shaping parameters (n_buckets;
minhash k/bands/n; bloom m_bits/k; the embdup hyperplane tables) are
written once — atomically — to ``state_dir/_meta/<leg>.json`` on first
ingest and VALIDATED on every later ingest/compaction: a call passing a
different value raises :class:`StateParamMismatch` instead of silently
computing incomparable keys (a changed bloom ``m_bits`` would break the
no-false-negatives theorem; a changed ``n_buckets`` would desync the
bucketed scan from the on-disk bucket ids and re-accept duplicates;
changed LSH params silently collapse recall). Omitted parameters
default FROM the pinned meta, so steady-state callers pass none.

Null text: a null-text document digests to the sentinel ``"null"``
(md5 never returns a 4-char string), so null-text duplicates dedupe
against each other in the exact and Bloom loops exactly like any other
digest class — the Bloom loop's no-false-negatives claim covers them.
(The near-dup loop accepts docs with no signature — < n tokens or null
— as documented; they can never collide.)

The pure-query twin of this loop (day-partitioned funnel counts over a
static table, fully DuckDB-oracled) is `incremental_ingest_funnel` in
the registry; this module owns the real stateful writes, covered by
tests/test_incremental_corpus.py.
"""

from __future__ import annotations

import hashlib
import json
import re
import time
import uuid
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cachectl import scoped_cache
from ..fsutil import COMPACT, HadoopFS, SimulatedCrash, recover_swap, swap_in

# each leg's roots under state_dir: (corpus, state), except the sketch
# leg, whose single root IS its state
_LEG_ROOTS = {
    "exact": ("corpus", "fingerprints"),
    "neardup": ("corpus_neardup", "neardup_bands"),
    "embdup": ("corpus_embdup", "embdup_buckets"),
    "bloom": ("corpus_bloom", "bloom_bits"),
    "semantic": ("corpus_semantic", "semantic_members"),
    "sketch": ("kmv_sketch",),
}
STATE_ROOTS = tuple(rel for rels in _LEG_ROOTS.values() for rel in rels)
DEFAULT_BUCKETS = 8  # local-test shape; size for the cluster in production
# defaults pinned into _meta on first ingest (module docstring)
DEFAULT_MINHASH = {"k": 16, "bands": 4, "n": 3}
DEFAULT_BLOOM = {"m_bits": 1 << 20, "k": 4}
LEASE_TTL_MS = 15 * 60 * 1000  # writer-lease expiry for hard-killed writers

# md5 hex is 32 chars, so the 4-char sentinel can never collide with a
# real digest; null-text docs form their own exact-dedup class
_NULL_TEXT_DIGEST = "null"


class ConcurrentWriter(RuntimeError):
    """A second writer touched a state_dir whose lease another live
    writer holds (module docstring: single-writer contract, enforced)."""


class _LeaseGone(Exception):
    """Internal control flow for :func:`_writer_lease` release: the lock
    no longer carries our token (reclaimed after a TTL overrun), so the
    release must not touch it."""


class StateParamMismatch(ValueError):
    """An ingest/compaction passed a parameter that contradicts the
    value pinned in ``state_dir/_meta`` at first ingest — proceeding
    would silently corrupt dedup decisions, so the call refuses."""


def _join(*parts: str) -> str:
    return "/".join(p.rstrip("/") for p in parts)


def _norm_loc(loc: str) -> str:
    """Normalize a catalog-reported location (URI) and a caller path to
    a comparable form: strip the scheme and trailing slash but KEEP the
    authority (two clusters sharing a path must not compare equal)."""
    from urllib.parse import urlparse

    if ":" in loc.split("/", 1)[0]:
        u = urlparse(loc)
        return (u.netloc + u.path).rstrip("/")
    return loc.rstrip("/")


def _state_table_name(root_path: str) -> str:
    """Deterministic per-location catalog name for a bucketed state
    table (the in-memory catalog is session-scoped; every ingest
    re-registers idempotently)."""
    return "incr_state_" + hashlib.md5(root_path.encode()).hexdigest()[:12]


def _ensure_state_table(
    spark: SparkSession,
    root: str,
    like_df: DataFrame,
    bucket_cols: list[str],
    n_buckets: int,
) -> DataFrame:
    """Register (idempotently) the bucketed external table over ``root``
    and return it. The BUCKETED table is what lets the classification
    join read the state with NO Exchange: the scan itself reports
    hashpartitioning(bucket_cols, n_buckets), so only the batch side
    shuffles. ``root`` is fully QUALIFIED first (scheme + absolute
    path), so a bare path and its file:// twin resolve to ONE table and
    the location comparison below never false-negatives into a
    drop-and-recreate per call."""
    root = HadoopFS(spark, root).qualified(root)
    name = _state_table_name(root)
    if spark.catalog.tableExists(name):
        rows = spark.sql(f"DESCRIBE FORMATTED `{name}`").collect()
        loc = next((r[1] for r in rows if r[0] == "Location"), "")
        if _norm_loc(loc) != _norm_loc(root):
            # a stale same-name registration from a recycled path
            spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    if not spark.catalog.tableExists(name):
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in like_df.schema.fields
        )
        cols = ", ".join(f"`{c}`" for c in bucket_cols)
        spark.sql(
            f"CREATE TABLE `{name}` ({ddl}) USING PARQUET "
            f"CLUSTERED BY ({cols}) SORTED BY ({cols}) INTO {n_buckets} BUCKETS "
            f"LOCATION '{root}'"
        )
    return spark.table(name)


def _refresh_state_table(spark: SparkSession, root: str) -> None:
    # same qualification as _ensure_state_table, so refresh hits the
    # table that registration created whatever path form the caller used
    name = _state_table_name(HadoopFS(spark, root).qualified(root))
    if spark.catalog.tableExists(name):
        spark.catalog.refreshTable(name)


def _staged_bucketed_write(
    df: DataFrame, staged_path: str, bucket_cols: list[str], n_buckets: int
) -> None:
    """Write ``df`` BUCKETED to ``staged_path``. Spark only writes bucket
    metadata through the table API, so the stage is a throwaway external
    table at the staged location; dropping it keeps the files. The
    bucketed part-file names survive the publish move verbatim, so the
    state table's scans keep trusting them."""
    tmp_table = "incr_stage_" + uuid.uuid4().hex[:16]
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .option("path", staged_path)
        .format("parquet")
        .saveAsTable(tmp_table)
    )
    df.sparkSession.sql(f"DROP TABLE IF EXISTS `{tmp_table}`")


# ---------------------------------------------------------------------------
# commit protocol: stage (hidden) -> journal marker (atomic) -> publish moves
# ---------------------------------------------------------------------------


def _staged_dir(root: str, token: str) -> str:
    return _join(root, f".staged-{token}")


def _journal_dir(state_dir: str) -> str:
    return _join(state_dir, "_journal")


def _epochs_dir(state_dir: str) -> str:
    return _join(state_dir, "_epochs")


def _commits_dir(state_dir: str) -> str:
    return _join(state_dir, "_commits")


def _meta_dir(state_dir: str) -> str:
    return _join(state_dir, "_meta")


def _composites_dir(state_dir: str) -> str:
    return _join(state_dir, "_composites")


# ---------------------------------------------------------------------------
# parameter pinning: first ingest writes _meta/<leg>.json, later calls
# validate explicit values against it and default the rest from it
# ---------------------------------------------------------------------------


def state_meta(spark: SparkSession, state_dir: str, leg: str) -> dict:
    """The parameters pinned for ``leg`` ('exact' | 'neardup' | 'embdup'
    | 'bloom') at this state_dir, or {} before the first ingest.

    Lock-free-reader hardening: on non-file schemes
    ``replace_atomic``'s rename_replace is delete-then-rename, so the
    main file is briefly ABSENT mid-update while the fully-written
    ``.tmp`` sibling still holds the payload (on file:// the
    ``os.replace`` path has no such window). An absent main file falls
    back to the sibling, so a reader never sees "no meta" for a pinned
    state."""
    fs = HadoopFS(spark, state_dir)
    p = _join(_meta_dir(state_dir), leg + ".json")
    text = fs.read_text_or_none(p)
    if text is None:
        text = fs.read_text_or_none(p + ".tmp")
    return json.loads(text or "{}") if text is not None else {}


def _resolve_meta(
    fs: HadoopFS,
    state_dir: str,
    leg: str,
    given: dict,
    defaults: dict,
    extra: dict | None = None,
) -> dict:
    """Pin-or-validate a leg's parameters (module docstring). ``given``
    maps parameter name → caller value or None (= not specified). The
    FIRST call fills Nones from ``defaults`` and writes the result (plus
    ``extra`` payload, e.g. the embdup hyperplane tables) atomically;
    every later call raises :class:`StateParamMismatch` on any explicit
    value that contradicts the pinned one and returns the pinned set —
    so a retry after a config change can never silently compute
    incomparable keys against the existing state.

    Pre-upgrade states (data on disk, no ``_meta`` — built before
    pinning existed): the first-pin path REFUSES to fill omitted
    parameters from defaults when the leg's roots already hold visible
    files — a pre-upgrade state built with a non-default ``n_buckets``
    whose caller now omits it would get the default pinned, and every
    later bucketed write/scan would silently misattribute rows against
    the existing bucket files. The caller must pass every parameter
    explicitly (matching the original build) to pin such a state."""
    path = _join(_meta_dir(state_dir), leg + ".json")
    if fs.exists(path):
        pinned = json.loads(fs.read_text(path) or "{}")
        bad = {
            k: (v, pinned[k])
            for k, v in given.items()
            if v is not None and k in pinned and pinned[k] != v
        }
        if bad:
            detail = "; ".join(
                f"{k}: pinned={pv!r}, passed={gv!r}" for k, (gv, pv) in bad.items()
            )
            raise StateParamMismatch(
                f"{leg} state at {state_dir} was created with different "
                f"parameters ({detail}) — a mismatched parameter silently "
                f"corrupts dedup decisions; pass the pinned values (or "
                f"omit them to default from _meta), or start a new state_dir"
            )
        out = dict(pinned)
        new_keys = False
        for k, v in given.items():
            if k not in out:
                out[k] = v if v is not None else defaults.get(k)
                new_keys = True
        if new_keys:
            # a parameter ADDED after this state was first pinned (an
            # upgrade) pins on its first post-upgrade call — persisting
            # it prevents the flip-flop where an explicit value applies
            # for one call and the next call silently defaults back.
            # replace_atomic, not touch_atomic: the file EXISTS, and
            # touch_atomic's rename refuses existing destinations
            fs.replace_atomic(path, json.dumps(out, sort_keys=True))
        return out
    missing = sorted(k for k, v in given.items() if v is None)
    if missing:
        rels = _LEG_ROOTS.get(leg, ())
        if any(fs.has_visible_files(_join(state_dir, rel)) for rel in rels):
            raise StateParamMismatch(
                f"{leg} state at {state_dir} already holds data but has no "
                f"pinned _meta (built before parameter pinning); defaulting "
                f"{missing} silently could desync from how the existing "
                f"files were written — pass every parameter explicitly, "
                f"matching the original build, to pin them now"
            )
    out = {k: (v if v is not None else defaults.get(k)) for k, v in given.items()}
    if extra:
        out.update(extra)
    fs.mkdirs(_meta_dir(state_dir))
    fs.touch_atomic(path, json.dumps(out, sort_keys=True))
    return out


def _meta_buckets(spark: SparkSession, state_dir: str, leg: str, n_buckets) -> int:
    """Read-path resolution of n_buckets: pinned meta wins, then the
    caller's value, then the local-test default (read-only — never
    writes meta; the write happens on the first INGEST).

    When the leg already holds data but no meta is readable (a
    pre-upgrade state, or a non-file store losing BOTH the main file
    and its .tmp sibling) and the caller gave no explicit value,
    defaulting would scan with a possibly-wrong bucket count and
    silently drop rows — raise instead (mirrors
    :func:`_resolve_meta`'s write-path refusal)."""
    pinned = state_meta(spark, state_dir, leg).get("n_buckets")
    if pinned is not None:
        return int(pinned)
    if n_buckets is not None:
        return int(n_buckets)
    fs = HadoopFS(spark, state_dir)
    if any(
        fs.has_visible_files(_join(state_dir, rel))
        for rel in _LEG_ROOTS.get(leg, ())
    ):
        raise StateParamMismatch(
            f"{leg} state at {state_dir} holds data but no pinned _meta is "
            f"readable and no n_buckets was passed — defaulting to "
            f"{DEFAULT_BUCKETS} could scan with the wrong bucket count and "
            f"silently drop rows; pass n_buckets explicitly (matching the "
            f"original build)"
        )
    return DEFAULT_BUCKETS


# ---------------------------------------------------------------------------
# writer lease: detect concurrent writers, don't coordinate them
# ---------------------------------------------------------------------------


def _lease_path(state_dir: str) -> str:
    return _join(state_dir, "_lock")


def break_lease(spark: SparkSession, state_dir: str) -> bool:
    """Operator escape hatch: drop the writer lease (e.g. after a hard
    kill, without waiting out LEASE_TTL_MS). Only safe when the previous
    writer is known dead."""
    return HadoopFS(spark, state_dir).delete(_lease_path(state_dir), False)


@contextmanager
def _writer_lease(spark: SparkSession, state_dir: str):
    """Acquire ``state_dir/_lock`` (atomic exclusive create) for the
    duration of one ingest/compaction. A held, unexpired lease raises
    :class:`ConcurrentWriter`; an expired one (holder hard-killed more
    than LEASE_TTL_MS ago) is reclaimed. Released on exit — including
    the test-only SimulatedCrash paths, which model a writer that
    stopped cleanly enough to unwind; a real kill leaves the lock to
    expire (or :func:`break_lease`)."""
    fs = HadoopFS(spark, state_dir)
    lock = _lease_path(state_dir)
    token = uuid.uuid4().hex
    fs.mkdirs(state_dir)
    acquired = False
    for _ in range(3):
        if fs.create_exclusive(lock, json.dumps({"writer": token})):
            acquired = True
            break
        try:
            age_ms = int(time.time() * 1000) - fs.mtime(lock)
        except Exception:
            continue  # holder released between create and stat: retry
        if age_ms <= LEASE_TTL_MS:
            raise ConcurrentWriter(
                f"another writer holds the lease on {state_dir} "
                f"(age {age_ms} ms <= TTL {LEASE_TTL_MS} ms); the contract is "
                f"ONE writer per state_dir — retry after expiry or break_lease()"
            )
        # expired: CLAIM it by atomic rename to a private name before
        # removing — a raw delete could remove a rival reclaimer's
        # freshly created lock and let two writers both acquire (the
        # exact double-writer the lease exists to prevent). Exactly one
        # reclaimer wins the rename; losers loop and see the fresh lock.
        claimed = lock + ".expired-" + token
        if fs.rename(lock, claimed):
            fs.delete(claimed, False)
    if not acquired:
        raise ConcurrentWriter(f"could not acquire the writer lease on {state_dir}")
    try:
        yield
    finally:
        # Release via the same CLAIM protocol as reclaim (a bare
        # read-then-delete is a TOCTOU: a writer that overran the TTL
        # can read its own token just before a rival reclaims, then
        # delete the rival's fresh lock). First READ the lock and skip
        # the release entirely when the token is foreign — a holder
        # that overran the TTL and was reclaimed then never touches the
        # reclaimer's live lock (one overrun alone is harmless).
        # The read is advisory: if a rival reclaims between
        # the read and the rename, the rename-then-verify below is the
        # authoritative check. Rename the lock to a private name —
        # exactly one renamer of a given file succeeds — verify the
        # token INSIDE the renamed file, and only then delete. A failed
        # rename means the lease was already reclaimed; a foreign token
        # means we renamed away the reclaimer's lock (overrun AND lost
        # the read race) and must put it back.
        try:
            cur = json.loads(fs.read_text_or_none(lock) or "{}")
            if cur.get("writer") != token:
                raise _LeaseGone()
            rel = lock + ".release-" + token
            if fs.rename(lock, rel):
                held = json.loads(fs.read_text(rel) or "{}")
                if held.get("writer") == token:
                    fs.delete(rel, False)
                elif not fs.rename(rel, lock):
                    # a third writer locked meanwhile; drop our copy of
                    # the reclaimer's lock (double-TTL-overrun territory
                    # — already outside the finish-within-TTL contract)
                    fs.delete(rel, False)
        except _LeaseGone:
            pass  # reclaimed after our TTL overrun — nothing of ours left
        except Exception:
            pass  # lock already gone (reclaimed after our expiry)


def _retire_marker(fs: HadoopFS, state_dir: str, token: str) -> None:
    """Move a fully-published journal marker into the commit LOG instead
    of deleting it — the audit trail of every batch that ever committed
    (token, roots, epoch). The rename is atomic; an already-retired
    marker (idempotent retry) is simply dropped."""
    fs.mkdirs(_commits_dir(state_dir))
    src = _join(_journal_dir(state_dir), token)
    if not fs.rename(src, _join(_commits_dir(state_dir), token)):
        fs.delete(src, False)  # a prior retry already retired it


def _read_log_entries(fs: HadoopFS, state_dir: str) -> tuple[dict, list[str]]:
    """All commit-log entries keyed by token (deduped — a crash between
    a compaction's segment write and its marker deletes can leave a
    token in both forms), plus the list of file names read. Lock-free
    readers (ingest_log / state_report) race compact_ingest_log's
    deletes: a file that vanishes between the listing and the read is
    skipped (its entry lives in the new segment — the concurrent view
    may be momentarily partial, never a crash)."""
    cdir = _commits_dir(state_dir)
    entries: dict[str, dict] = {}
    names: list[str] = []
    for name in fs.list_names(cdir):
        if name.endswith(".tmp"):
            continue
        text = fs.read_text_or_none(_join(cdir, name))
        if text is None:
            continue  # deleted by a concurrent compaction after the listing
        if name.startswith("segment-"):
            for line in text.splitlines():
                if line.strip():
                    e = json.loads(line)
                    entries.setdefault(e["token"], e)
        else:
            meta = json.loads(text or "{}")
            # a loose marker wins over a segment copy (it is never older)
            entries[name] = {
                "token": name,
                "roots": meta.get("roots", []),
                "epoch": meta.get("epoch"),
            }
        names.append(name)
    return entries, names


def ingest_log(spark: SparkSession, state_dir: str):
    """The commit log as a list of dicts (token, roots, epoch or None) —
    one entry per batch that COMMITTED to this state, in no particular
    order (tokens are random; pair with the epoch id or the corpus rows
    for ordering). Batches that rolled back never appear; a batch rolled
    FORWARD by recover_state appears exactly once. Driver-side listing:
    one tiny file per committed batch until :func:`compact_ingest_log`
    rolls retired markers into JSONL segments — both forms are read."""
    fs = HadoopFS(spark, state_dir)
    entries, _ = _read_log_entries(fs, state_dir)
    return list(entries.values())


def compact_ingest_log(spark: SparkSession, state_dir: str) -> int:
    """Bound the commit log's driver-side listing cost for long-lived
    states (a years-long daily loop is one tiny marker file per batch
    forever): roll every loose marker and prior segment into ONE
    ``segment-<token>.jsonl`` file, atomically, then delete the rolled
    files. Crash-safe without a swap: the segment lands first (atomic
    rename), so a crash mid-delete leaves tokens readable in both forms
    and :func:`ingest_log` dedupes by token; the next compaction removes
    the leftovers. Returns the total number of logged batches."""
    with _writer_lease(spark, state_dir):
        fs = HadoopFS(spark, state_dir)
        entries, names = _read_log_entries(fs, state_dir)
        if len(names) <= 1:
            return len(entries)  # already compact (or empty)
        body = "\n".join(
            json.dumps(e, sort_keys=True)
            for e in sorted(entries.values(), key=lambda e: e["token"])
        )
        cdir = _commits_dir(state_dir)
        fs.touch_atomic(_join(cdir, "segment-" + uuid.uuid4().hex + ".jsonl"), body)
        for name in names:
            fs.delete(_join(cdir, name), False)
        return len(entries)


def prune_epochs(spark: SparkSession, state_dir: str, keep_per_ns: int = 1024) -> int:
    """Bound the ``_epochs`` marker count for long-lived streaming
    states (the same unbounded-tiny-files concern
    :func:`compact_ingest_log` solves for ``_commits``): keep the
    HIGHEST ``keep_per_ns`` epoch markers per namespace and delete the
    rest. Safe because epoch delivery is MONOTONE per namespace — a
    namespace is one streaming checkpoint (streaming/ingest.py), and
    Structured Streaming only ever redelivers the in-flight tail batch,
    never an epoch below one that already committed; a deleted (old)
    checkpoint gets a NEW namespace, so its restarted batch 0 is
    unaffected by pruned history. Callers driving the batch API with
    hand-rolled NON-monotone epoch ids should not prune. Returns the
    number of markers removed; runs under the writer lease."""
    if keep_per_ns < 1:
        raise ValueError(f"keep_per_ns must be >= 1, got {keep_per_ns}")
    with _writer_lease(spark, state_dir):
        fs = HadoopFS(spark, state_dir)
        edir = _epochs_dir(state_dir)
        groups: dict[str, list[tuple[int, str]]] = {}
        for name in fs.list_names(edir):
            if name.endswith(".tmp"):
                continue
            ns, _, tail = name.rpartition("-")
            try:
                seq = int(tail)
            except ValueError:
                continue  # not sequence-shaped: never pruned
            groups.setdefault(ns, []).append((seq, name))
        removed = 0
        for items in groups.values():
            items.sort()
            for _, name in items[: max(0, len(items) - keep_per_ns)]:
                fs.delete(_join(edir, name), False)
                removed += 1
        return removed


def maintain_state(
    spark: SparkSession,
    state_dir: str,
    keep_epochs_per_ns: int = 1024,
) -> dict[str, int]:
    """The nightly maintenance pass, one call: settle any crashed
    batch/compaction (:func:`recover_state`), compact every leg's state
    that has ever ingested (collapse replay-duplicated rows, rewrite
    bucketed), roll the commit log into one segment
    (:func:`compact_ingest_log`), and prune epoch markers to the last
    ``keep_epochs_per_ns`` per namespace (:func:`prune_epochs`).
    Every mutating sub-step runs under the writer lease — the leading
    recovery sweep under its own acquisition here, and each compaction/
    prune under its own (sequential acquisitions; the lease is not
    reentrant) — so a live ingest makes the pass raise
    :class:`ConcurrentWriter` instead of racing it: a lease-free
    recovery sweep could delete the live ingest's pre-marker
    ``.staged-*`` dirs, and its marker would then commit an epoch whose
    corpus rows are gone. Between acquisitions another writer may slip
    in; each sub-step is individually safe against a settled state, so
    the pass simply resumes. Returns per-step counts."""
    out: dict[str, int] = {}
    with _writer_lease(spark, state_dir):
        recovered = recover_state(spark, state_dir)
    out["recovered_forward"] = recovered["rolled_forward"]
    out["recovered_back"] = recovered["rolled_back"]
    compactors = {
        "exact": compact_fingerprints,
        "neardup": compact_neardup_state,
        "embdup": compact_embdup_state,
        "bloom": compact_bloom_state,
        "semantic": compact_semantic_state,
    }
    for leg, fn in compactors.items():
        # only legs with pinned meta have ever ingested; compacting the
        # rest would just stat empty roots
        if state_meta(spark, state_dir, leg):
            out[f"compacted_{leg}"] = fn(spark, state_dir)
    out["log_entries"] = compact_ingest_log(spark, state_dir)
    out["epochs_pruned"] = prune_epochs(spark, state_dir, keep_epochs_per_ns)
    return out


def state_report(spark: SparkSession, state_dir: str) -> dict:
    """Operational snapshot of an incremental state_dir — the monitoring
    endpoint a daily loop's runbook reads before/after each window:

    - per leg (only legs that have ever ingested): the pinned ``_meta``
      parameters (large payloads like the embdup tables / semantic
      centroids are summarized as digests, not dumped) and the corpus /
      state-table row counts;
    - ``committed_batches`` (the `_commits` audit log, segments
      included) and ``log_files`` (how fragmented the log is — when it
      grows, run :func:`compact_ingest_log`);
    - ``pending_journal``: marker tokens awaiting roll-forward — empty
      except between a crash and the next touch;
    - ``epochs_recorded`` and ``lease`` (holder + age, or None);
    - ``composed_batches`` / ``composed_recent``: one
      audit record per :func:`ingest_batch_all` call with every leg's
      funnel side by side — count plus the 8 most recent records.

    READ-ONLY: takes no lease and performs no recovery, so it can run
    while a writer is live (counts may be mid-commit approximations in
    that window — the journal protocol keeps readers consistent, but a
    half-published batch's files land one rename at a time)."""
    fs = HadoopFS(spark, state_dir)
    legs: dict[str, dict] = {}
    for leg, rels in _LEG_ROOTS.items():
        # two-root legs are (corpus, state); the sketch leg keeps no
        # corpus of its own — its single root IS the state
        crel, srel = rels if len(rels) == 2 else (None, rels[0])
        probe_rel = crel if crel is not None else srel
        meta = state_meta(spark, state_dir, leg)
        if not meta and not fs.has_visible_files(_join(state_dir, probe_rel)):
            continue
        summary = dict(meta)
        for big in ("tables", "centroids"):
            if big in summary:
                summary[big] = (
                    f"<{len(summary[big])} pinned, "
                    f"md5={hashlib.md5(json.dumps(summary[big]).encode()).hexdigest()[:12]}>"
                )
        row = {"meta": summary}
        for key, rel in (("corpus_rows", crel), ("state_rows", srel)):
            if rel is None:
                continue
            root = _join(state_dir, rel)
            row[key] = (
                spark.read.parquet(root).count()
                if fs.has_visible_files(root)
                else 0
            )
        if leg == "semantic" and row["state_rows"]:
            # per-cell occupancy: the verify join's
            # candidate volume is Σ|cell|² — a drifting corpus
            # concentrating mass in few cells degrades toward per-cell
            # quadratic, and this is the number the runbook watches to
            # decide a recentroid_state migration. Bounded: one row per
            # centroid cell (~k rows), top-8 to the driver.
            occ = (
                spark.read.parquet(_join(state_dir, srel))
                .groupBy("cluster")
                .agg(F.count("*").alias("n"))
            )
            tot = occ.agg(
                F.count("*").alias("n_cells"),
                F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
                F.max("n").alias("max_cell"),
            ).collect()[0]
            row["cells"] = {
                "n_cells": int(tot["n_cells"]),
                "sum_sq": int(tot["sum_sq"]),
                "max_cell": int(tot["max_cell"]),
                "top": [
                    [int(r["cluster"]), int(r["n"])]
                    for r in occ.orderBy(
                        F.col("n").desc(), F.col("cluster")
                    ).limit(8).collect()
                ],
            }
        legs[leg] = row
    entries, names = _read_log_entries(fs, state_dir)
    lease = None
    lock = _lease_path(state_dir)
    if fs.exists(lock):
        # the holder may release between exists() and these reads — a
        # vanished lock reports as no lease, never a crash (read-only
        # endpoint contract)
        try:
            holder = json.loads(fs.read_text(lock) or "{}").get("writer")
            lease = {
                "writer": holder,
                "age_ms": int(time.time() * 1000) - fs.mtime(lock),
            }
        except Exception:
            lease = None
    # composed-batch history: one record per
    # ingest_batch_all call, every leg's funnel side by side. Sequence-
    # prefixed names make lexical order the ingest order; the report
    # carries the count plus the 8 most recent records (bounded).
    comp_names = sorted(fs.list_names(_composites_dir(state_dir)))
    composed_recent = []
    for name in comp_names[-8:]:
        text = fs.read_text_or_none(_join(_composites_dir(state_dir), name))
        if text:
            composed_recent.append(json.loads(text))
    return {
        "legs": legs,
        "committed_batches": len(entries),
        "log_files": len(names),
        "pending_journal": fs.list_names(_journal_dir(state_dir)),
        "epochs_recorded": len(fs.list_names(_epochs_dir(state_dir))),
        "composed_batches": len(comp_names),
        "composed_recent": composed_recent,
        "lease": lease,
    }


def _epoch_key(epoch_id) -> str:
    """Epoch ids are ints (batch API, raw foreachBatch batch ids) or
    SAFE strings (the streaming ingestors namespace batch ids by the
    checkpoint's persistent query id — streaming/ingest.py). Strings are
    validated to be legal single-segment marker names on any Hadoop FS
    (no '/', no ':', no leading dot)."""
    if isinstance(epoch_id, bool):
        raise TypeError("epoch_id must be an int or str, not bool")
    if isinstance(epoch_id, int):
        return str(epoch_id)
    s = str(epoch_id)
    if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", s):
        raise ValueError(f"epoch_id {s!r} is not a safe marker file name")
    return s


def _record_epoch(fs: HadoopFS, state_dir: str, epoch_id) -> None:
    fs.mkdirs(_epochs_dir(state_dir))
    fs.touch_atomic(_join(_epochs_dir(state_dir), _epoch_key(epoch_id)))


def epoch_committed(spark: SparkSession, state_dir: str, epoch_id) -> bool:
    """True iff a batch tagged ``epoch_id`` fully committed to this
    state (its marker rides the journal commit, so a crashed epoch is
    either rolled forward — marker appears — or rolled back — it never
    does). The streaming ingestor's redelivery guard."""
    return HadoopFS(spark, state_dir).exists(
        _join(_epochs_dir(state_dir), _epoch_key(epoch_id))
    )


def _write_marker(
    fs: HadoopFS,
    state_dir: str,
    token: str,
    roots: list[str],
    epoch_id=None,
) -> None:
    fs.mkdirs(_journal_dir(state_dir))
    meta: dict = {"roots": roots}
    if epoch_id is not None:
        meta["epoch"] = epoch_id if isinstance(epoch_id, str) else int(epoch_id)
    fs.touch_atomic(_join(_journal_dir(state_dir), token), json.dumps(meta))


def _publish_staged(fs: HadoopFS, root: str, token: str) -> None:
    """Move the staged part files into the visible root. Idempotent: the
    part-file names are globally unique (Spark job UUIDs), so a retried
    publish skips files that already arrived and re-moves the rest."""
    staged = _staged_dir(root, token)
    if not fs.exists(staged):
        return  # already fully published
    fs.mkdirs(root)
    for name in fs.list_names(staged):
        if name.startswith(("_", ".")):
            continue  # _SUCCESS and checksum files stay behind
        src, dst = _join(staged, name), _join(root, name)
        if fs.exists(dst):
            fs.delete(src, False)
        elif not fs.rename(src, dst) and not fs.exists(dst):
            raise IOError(f"publish: rename {src} -> {dst} failed")
    fs.delete(staged, True)


def recover_state(spark: SparkSession, state_dir: str) -> dict[str, int]:
    """Settle any crashed ingest or compaction at ``state_dir``; runs at
    the start of every ingest/compaction so a blind retry starts from a
    consistent state. Three sweeps:

    1. journaled batches → roll FORWARD (finish the publish moves, then
       retire the marker into the ``_commits`` log): the batch
       committed, readers just could not see all of it yet;
    2. orphan ``.staged-*`` dirs with no marker → roll BACK (delete):
       the batch never committed, the retry will redo it from scratch;
    3. half-swapped directories (:func:`fsutil.swap_in`) → roll
       forward/back per :func:`fsutil.recover_swap`.

    Locking: ingest/compaction call this INSIDE their writer lease; a
    caller invoking it standalone (ops tooling) mutates state and must
    ensure no live writer — :func:`state_report` is the read-only
    alternative. Returns counts per action for logging/tests."""
    fs = HadoopFS(spark, state_dir)
    actions = {"rolled_forward": 0, "rolled_back": 0, "compact_settled": 0}

    jdir = _journal_dir(state_dir)
    for token in fs.list_names(jdir):
        if token.endswith(".tmp"):
            fs.delete(_join(jdir, token), False)
            continue
        meta = json.loads(fs.read_text(_join(jdir, token)) or "{}")
        for rel in meta.get("roots", []):
            _publish_staged(fs, _join(state_dir, rel), token)
        if meta.get("epoch") is not None:
            _record_epoch(fs, state_dir, meta["epoch"])
        _retire_marker(fs, state_dir, token)
        actions["rolled_forward"] += 1

    for rel in STATE_ROOTS:
        root = _join(state_dir, rel)
        for name in fs.list_names(root):
            if name.startswith(".staged-"):
                fs.delete(_join(root, name), True)
                actions["rolled_back"] += 1
        if recover_swap(fs, root, COMPACT) != "ok":
            actions["compact_settled"] += 1
    actions["recentroid_settled"] = _recover_recentroid(spark, fs, state_dir)
    for rel in STATE_ROOTS:
        _refresh_state_table(spark, _join(state_dir, rel))
    return actions


def _commit(
    spark: SparkSession,
    state_dir: str,
    staged: list[str],
    token: str,
    epoch_id=None,
    _crash: str | None = None,
) -> None:
    """The single commit point: marker rename, then publish moves. An
    ``epoch_id`` rides the marker, so the epoch's committed-flag can
    never separate from its data — recover_state records it on
    roll-forward, and a rolled-back batch never records it."""
    fs = HadoopFS(spark, state_dir)
    if _crash == "after_stage":
        raise SimulatedCrash("after_stage")
    _write_marker(fs, state_dir, token, staged, epoch_id)
    if _crash == "after_journal":
        raise SimulatedCrash("after_journal")
    for i, rel in enumerate(staged):
        _publish_staged(fs, _join(state_dir, rel), token)
        if _crash == "mid_publish" and i == 0:
            raise SimulatedCrash("mid_publish")
    if epoch_id is not None:
        _record_epoch(fs, state_dir, epoch_id)
    _retire_marker(fs, state_dir, token)
    for rel in staged:
        _refresh_state_table(spark, _join(state_dir, rel))


class _EpochTxn:
    """One batch's open transaction (see :func:`_epoch_txn`)."""

    def __init__(self, spark, state_dir, fs, eff, epoch_id, crash):
        self.spark, self.state_dir, self.fs, self.eff = spark, state_dir, fs, eff
        self.epoch_id, self._crash = epoch_id, crash
        self.token = uuid.uuid4().hex
        self.staged: list[str] = []

    def _stage_path(self, rel: str) -> str:
        self.staged.append(rel)
        return _staged_dir(_join(self.state_dir, rel), self.token)

    def stage_parquet(self, rel: str, df: DataFrame) -> None:
        df.write.parquet(self._stage_path(rel))

    def stage_bucketed(
        self, rel: str, df: DataFrame, cols: list[str], n_buckets: int
    ) -> None:
        _staged_bucketed_write(df, self._stage_path(rel), cols, n_buckets)

    def commit(self) -> None:
        # an epoch-tagged batch that staged nothing (all duplicates)
        # still commits its empty marker, so redelivery skips wholesale
        if self.staged or self.epoch_id is not None:
            _commit(
                self.spark, self.state_dir, self.staged, self.token,
                epoch_id=self.epoch_id, _crash=self._crash,
            )


@contextmanager
def _epoch_txn(
    spark: SparkSession,
    state_dir: str,
    leg: str,
    given: dict,
    defaults: dict,
    *,
    epoch_id=None,
    extra: dict | None = None,
    _locked: bool = False,
    _crash: str | None = None,
):
    """The commit protocol every ingest leg runs, in one place:

    1. take the writer lease and run :func:`recover_state`, so a blind
       retry starts from a settled state (both skipped when ``_locked``:
       :func:`ingest_batch_all` holds the lease and has recovered);
    2. the epoch guard, AFTER recovery, so an epoch a crash left
       journaled is rolled forward first and then recognized: a
       committed ``epoch_id`` yields ``None`` and the leg returns
       ``None`` without reading its batch;
    3. pin-or-validate the leg's parameters (:func:`_resolve_meta`);
    4. yield an :class:`_EpochTxn` carrying the resolved ``eff`` meta,
       ``fs`` and one random ``token``. ``stage_parquet`` /
       ``stage_bucketed`` write a frame to ``<root>/.staged-<token>``
       (invisible to readers) and record the root; ``commit()`` writes
       the journal marker (the single commit point, with ``epoch_id``
       riding it) and publishes every staged root (:func:`_commit`).

    A crash before the marker rolls the batch back on the next touch, a
    crash after it rolls the batch forward, so corpus and state rows of
    one batch land both or neither and the epoch flag never separates
    from them."""
    with nullcontext() if _locked else _writer_lease(spark, state_dir):
        if not _locked:
            recover_state(spark, state_dir)
        if epoch_id is not None and epoch_committed(spark, state_dir, epoch_id):
            yield None
            return
        fs = HadoopFS(spark, state_dir)
        eff = _resolve_meta(fs, state_dir, leg, given, defaults, extra)
        yield _EpochTxn(spark, state_dir, fs, eff, epoch_id, _crash)


# ---------------------------------------------------------------------------
# ingestion loops
# ---------------------------------------------------------------------------


def fingerprint_state(
    spark: SparkSession, state_dir: str, id_col: str = "doc_id",
    n_buckets: int | None = None,
) -> DataFrame:
    """The exact-dedup state as its bucketed table (digest, id).
    ``n_buckets`` defaults from the pinned ``_meta`` (falling back to
    DEFAULT_BUCKETS for a state that has never ingested)."""
    like = spark.createDataFrame([], f"digest string, {id_col} long")
    return _ensure_state_table(
        spark, _join(state_dir, "fingerprints"), like, ["digest"],
        _meta_buckets(spark, state_dir, "exact", n_buckets),
    )


def neardup_band_state(
    spark: SparkSession, state_dir: str, id_col: str = "doc_id",
    n_buckets: int | None = None,
) -> DataFrame:
    """The near-dup state as its bucketed table (id, band, bk).
    ``n_buckets`` defaults from the pinned ``_meta``."""
    like = spark.createDataFrame([], f"{id_col} long, band int, bk string")
    return _ensure_state_table(
        spark, _join(state_dir, "neardup_bands"), like, ["band", "bk"],
        _meta_buckets(spark, state_dir, "neardup", n_buckets),
    )


def _batch_unique(batch: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Within-batch exact dedup for the digest legs: ``batch`` plus a
    ``digest`` column, one row per digest (the min-id keeper). Null
    text digests to the sentinel class (module docstring) instead of a
    null key that would anti-join through on every batch forever."""
    digest = F.coalesce(F.md5(F.col(text_col)), F.lit(_NULL_TEXT_DIGEST)).alias("digest")
    keyed = batch.select(digest, *batch.columns)
    keeper = keyed.groupBy("digest").agg(F.min(id_col).alias(id_col))
    return keyed.join(keeper, ["digest", id_col])


def ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
    epoch_id=None,
    _crash: str | None = None,
    _locked: bool = False,
) -> dict[str, int] | None:
    """Ingest one batch of documents against the state at ``state_dir``.

    Returns the ingestion funnel as exact counts:
    ``{"n_batch", "n_within_dup", "n_hist_dup", "n_accepted"}`` — or
    ``None`` when ``epoch_id`` is set and that epoch already committed.
    Appends accepted docs to ``state_dir/corpus`` and their digests to
    the bucketed ``state_dir/fingerprints`` state in one
    :func:`_epoch_txn` (both or neither; a crashed run can be retried
    blindly and never double-appends). ``n_buckets`` pins into
    ``_meta`` on first ingest and defaults from it after."""
    # the exact leg is INHERENTLY keeper-state: only novel digests
    # append, and a dup's digest equals its keeper's digest by
    # definition, so "all" vs "keepers" cannot differ — recorded in
    # _meta at first pin (via extra, NOT given: it is not a caller
    # parameter, so a pre-upgrade re-pin must not demand it)
    with _epoch_txn(
        spark, state_dir, "exact",
        {"n_buckets": n_buckets}, {"n_buckets": DEFAULT_BUCKETS},
        epoch_id=epoch_id, extra={"state_mode": "keepers"},
        _locked=_locked, _crash=_crash,
    ) as txn:
        if txn is None:
            return None
        n_buckets = int(txn.eff["n_buckets"])
        n_batch = batch.count()

        # 1. within-batch exact dedup: keep min(doc_id) per digest
        batch_unique = _batch_unique(batch, text_col, id_col)
        # 2. history check: one equi-join against the bucketed state — the
        # state side plans no Exchange, only the batch shuffles
        hist = fingerprint_state(spark, state_dir, id_col, n_buckets).select("digest")
        novel = batch_unique.join(hist, "digest", "left_anti")
        # every consumer (the unique count, the accepted count, both staged
        # writes) runs INSIDE this scope, so the caches release with zero
        # recompute — getPersistentRDDs() is empty when the funnel returns
        # (cachectl.py)
        with scoped_cache(batch_unique, novel):
            n_unique = batch_unique.count()
            n_accepted = novel.count()
            # 3. stage novel docs + their fingerprints, commit atomically
            if n_accepted:
                txn.stage_parquet("corpus", novel.drop("digest"))
                txn.stage_bucketed(
                    "fingerprints", novel.select("digest", id_col), ["digest"], n_buckets
                )
            txn.commit()
    return {
        "n_batch": n_batch,
        "n_within_dup": n_batch - n_unique,
        "n_hist_dup": n_unique - n_accepted,
        "n_accepted": n_accepted,
    }


def ingest_batch_neardup(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int | None = None,
    bands: int | None = None,
    n: int | None = None,
    n_buckets: int | None = None,
    state_mode: str | None = None,
    epoch_id=None,
    _crash: str | None = None,
    _locked: bool = False,
) -> dict[str, int] | None:
    """Incremental NEAR-duplicate ingestion: the MinHash-LSH counterpart
    of :func:`ingest_batch` (which catches only byte-identical texts).
    Each batch is checked against a persistent BAND-KEY state — a doc is
    a historical near-dup iff ANY of its ``bands`` LSH band keys was
    already seen; within the batch, a doc sharing a band key with a
    smaller-id batch member is a within-batch near-dup (exists-
    semantics: the smaller member's own classification is irrelevant,
    which keeps the whole contract SQL-expressible — the recursive
    "dedup against accepted canonicals only" variant is deliberately
    not chosen; the pure-query oracled twin is
    ``incremental_neardup_funnel`` in the registry).

    State = (doc_id, band, bk) rows, BUCKETED on (band, bk) — for EVERY
    ingested doc under the default ``state_mode="all"`` (seen-semantics,
    append-only), or for ACCEPTED docs only under
    ``state_mode="keepers"`` (state follows the deduped corpus; oracled
    twin ``incremental_neardup_keepers_funnel`` — see
    :func:`_ingest_keyed` for the dup-of-dup trade): ~bands·36 bytes per
    historical document — the 100 TB corpus collapses to a compact
    fingerprint table, and the per-batch check is one (band, bk)
    equi-join that never shuffles the state side, never scans the
    corpus. Re-ingesting a batch is classification-idempotent: every
    doc's keys are already present, so everything classifies historical
    and the appends are empty. Docs with < n tokens (no signature, no
    band keys) can never collide — they are accepted.

    Corpus rows and band keys commit ATOMICALLY (module docstring): a
    crashed run retried blindly re-classifies, never double-appends.

    Returns ``{"n_batch", "n_hist_neardup", "n_within_neardup",
    "n_accepted"}`` — or ``None`` on a redelivered committed epoch.
    Appends accepted docs to ``state_dir/corpus_neardup`` and the
    batch's band keys to ``state_dir/neardup_bands``. ``k/bands/n/
    n_buckets`` pin into ``_meta`` on first ingest (DEFAULT_MINHASH
    defaults) and default from it after — a later call passing different
    values raises :class:`StateParamMismatch` instead of computing band
    keys incomparable with the stored state.
    """
    from ..operators.dedup import minhash_band_keys

    def keys_of(eff: dict) -> DataFrame:
        bk = minhash_band_keys(
            batch, text_col=text_col,
            k=int(eff["k"]), bands=int(eff["bands"]), n=int(eff["n"]),
        )
        return bk.withColumnRenamed("doc_id", id_col) if id_col != "doc_id" else bk

    return _ingest_keyed(
        spark, batch, state_dir, "neardup",
        keys_of=keys_of,
        classify=_any_shared_key,
        key_cols=("band", "bk"),
        id_col=id_col,
        tag="neardup",
        given={"k": k, "bands": bands, "n": n, "n_buckets": n_buckets},
        defaults={**DEFAULT_MINHASH, "n_buckets": DEFAULT_BUCKETS},
        state_mode=state_mode,
        epoch_id=epoch_id,
        _crash=_crash,
        _locked=_locked,
    )


def ingest_batch_embdup(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    tables: list | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_buckets: int | None = None,
    state_mode: str | None = None,
    epoch_id=None,
    _crash: str | None = None,
    _locked: bool = False,
) -> dict[str, int] | None:
    """Incremental EMBEDDING near-duplicate ingestion — the third leg of
    the incremental family (exact digests → MinHash text LSH → hyperplane
    embedding LSH): each batch's vectors are checked against a persistent
    (tbl, bucket) sign-bit state (operators/similarity.multitable_buckets
    over the caller's seeded hyperplane ``tables``). A vector is a
    historical near-dup iff ANY of its per-table buckets was already
    seen; within the batch, sharing a bucket with a smaller-id member.
    Exists-semantics, append-only, same SQL-expressible contract as the
    text loop (oracled twin ``incremental_embdup_funnel``;
    ``state_mode="keepers"`` appends only accepted vectors' buckets —
    twin ``incremental_embdup_keepers_funnel``, trade documented on
    :func:`_ingest_keyed`); state rows
    are ~n_tables·(id + small strings) per vector and the per-batch check
    is one bucketed (tbl, bucket) equi-join — the state side never
    shuffles, the corpus is never rescanned. Null vectors produce no
    buckets and are accepted (can never collide). Crash-atomic via the
    shared journal commit; ``epoch_id`` rides the marker.

    Returns ``{"n_batch", "n_hist_embdup", "n_within_embdup",
    "n_accepted"}`` — or ``None`` on a redelivered committed epoch.
    Appends accepted rows to ``state_dir/corpus_embdup`` and the batch's
    bucket keys to ``state_dir/embdup_buckets``. The hyperplane
    ``tables`` THEMSELVES pin into ``_meta`` on first ingest (they ARE
    the key function — different planes produce incomparable buckets):
    later calls may omit ``tables`` (loaded from meta) and a call
    passing planes with a different digest raises
    :class:`StateParamMismatch`."""
    from ..operators.similarity import multitable_buckets

    tables_digest = (
        hashlib.md5(json.dumps(tables).encode()).hexdigest()
        if tables is not None
        else None
    )
    if tables is None and "tables" not in state_meta(spark, state_dir, "embdup"):
        raise ValueError(
            "first embdup ingest for this state_dir must pass the hyperplane "
            "tables (they pin into _meta and later calls may omit them)"
        )

    def keys_of(eff: dict) -> DataFrame:
        return multitable_buckets(batch, eff["tables"], id_col=id_col, vec_col=vec_col)

    return _ingest_keyed(
        spark, batch, state_dir, "embdup",
        keys_of=keys_of,
        classify=_any_shared_key,
        key_cols=("tbl", "bucket"),
        id_col=id_col,
        tag="embdup",
        given={"tables_digest": tables_digest, "n_buckets": n_buckets},
        defaults={"n_buckets": DEFAULT_BUCKETS},
        meta_extra={"tables": tables} if tables is not None else None,
        state_mode=state_mode,
        epoch_id=epoch_id,
        _crash=_crash,
        _locked=_locked,
    )


DEFAULT_SEMANTIC_THRESHOLD = 0.92


def ingest_batch_semantic(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    centroids: list | None = None,
    threshold: float | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_buckets: int | None = None,
    state_mode: str | None = None,
    epoch_id=None,
    _crash: str | None = None,
    _locked: bool = False,
) -> dict[str, int] | None:
    """Incremental SEMANTIC near-duplicate ingestion — the fifth leg of
    the incremental family, and the one that VERIFIES instead of
    trusting buckets: each batch vector is assigned to its nearest FIXED
    centroid (operators/clustering.assign_to_centroids — the SemDeDup
    partitioning with pinned centroids instead of per-run k-means, so
    assignments are stable across batches), then checked by EXACT
    rounded cosine against the historical members of that one cluster.
    A vector is a historical semantic dup iff some same-cluster
    historical member scores ≥ ``threshold``; within the batch, iff a
    smaller-id same-cluster member does (exists-semantics, same
    SQL-expressible contract as the other keyed legs; oracled twin
    ``incremental_semantic_funnel``). Runs through :func:`_ingest_keyed`
    with the cell-plus-cosine predicate join as its classification.

    vs ``ingest_batch_embdup``: the hyperplane leg compares CODES (fast,
    recall bounded by the planes), this leg compares VECTORS but only
    within one centroid cell — candidate volume is |batch-cell| ×
    |state-cell|, controlled by the centroid count exactly as SemDeDup
    controls Σ|cluster|² by k. State = (vec_id, cluster, uv) per
    appended vector, BUCKETED on cluster: the per-batch verify join
    never shuffles the state side and never rescans the corpus. Size
    the centroid count like SemDeDup's k (≈√n) so cells stay bounded;
    n_buckets ≤ centroid count keeps buckets non-empty.

    ``state_mode`` ("all" | "keepers", trade documented on
    :func:`_ingest_keyed`; oracled keepers twin
    ``incremental_semantic_keepers_funnel``): under "all" the per-batch
    verify cost grows with gross ingested volume forever; under
    "keepers" the verify join's candidate growth (the 1.48x @x16 probe
    slope) follows the DEDUPED corpus — the right mode for long-lived
    corpora with high duplicate rates.

    ``centroids`` (the key function), ``threshold``, and
    ``state_mode`` PIN into ``_meta`` on first ingest — later calls
    may omit them; mismatching values raise
    :class:`StateParamMismatch`. (A pre-``state_mode`` state pins the
    mode on its first post-upgrade call — "all" unless explicitly
    switched; switching an existing state to "keepers" only narrows
    what future batches APPEND, the already-stored rows keep serving
    the historical check.) Null-embedding rows form
    their own exact-dup class via a sentinel member cell (first null
    accepted, later nulls classify as dups — the exact leg's null-text
    semantics; the LSH legs instead document-and-accept signature-less
    rows), so replays classify 100% historical for EVERY row and blind
    crash-retries never double-append.

    Returns ``{"n_batch", "n_hist_semdup", "n_within_semdup",
    "n_accepted"}`` — or ``None`` on a redelivered committed epoch."""
    from ..operators.clustering import assign_to_centroids
    from ..operators.similarity import dot, round6

    cent_digest = (
        hashlib.md5(json.dumps(centroids).encode()).hexdigest()
        if centroids is not None
        else None
    )
    if centroids is None and "centroids" not in state_meta(spark, state_dir, "semantic"):
        raise ValueError(
            "first semantic ingest for this state_dir must pass the centroids "
            "(they pin into _meta and later calls may omit them)"
        )

    def keys_of(eff: dict) -> DataFrame:
        # null-vector rows join the member state under the SENTINEL cell
        # -1 (cosine is undefined for them but equality is not: a second
        # null-embedding doc IS a duplicate of the first — the exact
        # leg's null-text sentinel in embedding form). Without this, a
        # replay or blind crash-retry would re-accept every null row and
        # double-append it to the corpus.
        nulls = batch.filter(F.col(vec_col).isNull()).select(
            F.col(id_col),
            F.lit(-1).alias("cluster"),
            F.lit(None).cast("array<double>").alias("uv"),
        )
        assigned = assign_to_centroids(batch, eff["centroids"], id_col, vec_col)
        return assigned.unionByName(nulls)

    def classify(keys: DataFrame, state: DataFrame, eff: dict):
        # a pair matches within one centroid cell when its rounded cosine
        # is ≥ thr; sentinel rows match on cell equality alone.
        # Historical: the cluster is the equi-key (state side bucketed,
        # no Exchange), the cosine a join filter. Within-batch: a
        # smaller-id member of the same cell matches (exists-semantics —
        # the smaller member's own classification is irrelevant, keeping
        # the contract SQL-expressible).
        thr = float(eff["threshold"])
        a = keys.alias("A")

        def same_cell(alias: str):
            return F.col("A.cluster") == F.col(f"{alias}.cluster")

        def near(alias: str):
            return (F.col("A.cluster") == F.lit(-1)) | (
                round6(dot(F.col("A.uv"), F.col(f"{alias}.uv"))) >= thr
            )

        hist_ids = a.join(
            state.alias("S"), same_cell("S") & near("S"), "left_semi"
        ).select(id_col).distinct()
        smaller = F.col(f"B.{id_col}") < F.col(f"A.{id_col}")
        within_ids = a.join(
            keys.alias("B"), same_cell("B") & smaller & near("B"), "left_semi"
        ).select(id_col).distinct()
        return hist_ids, within_ids

    return _ingest_keyed(
        spark, batch, state_dir, "semantic",
        keys_of=keys_of,
        classify=classify,
        key_cols=("cluster",),
        id_col=id_col,
        tag="semdup",
        given={
            "centroids_digest": cent_digest,
            "threshold": threshold,
            "n_buckets": n_buckets,
        },
        defaults={"threshold": DEFAULT_SEMANTIC_THRESHOLD, "n_buckets": DEFAULT_BUCKETS},
        meta_extra={"centroids": centroids} if centroids is not None else None,
        state_mode=state_mode,
        epoch_id=epoch_id,
        _crash=_crash,
        _locked=_locked,
    )


def compact_semantic_state(
    spark: SparkSession, state_dir: str, n_buckets: int | None = None
) -> int:
    """Semantic-leg twin of :func:`compact_neardup_state`: collapse
    replay-duplicated (vec_id, cluster, uv) member rows, rewrite
    bucketed, swap in. Single writer (lease-enforced); ``n_buckets``
    defaults from ``_meta``."""
    return _compact_state(
        spark, state_dir, "semantic_members", ["cluster"], "semantic", n_buckets
    )


def _sem_next_meta_path(state_dir: str) -> str:
    return _join(_meta_dir(state_dir), "semantic.json.next")


def _recover_recentroid(spark: SparkSession, fs: HadoopFS, state_dir: str) -> int:
    """Settle a crashed :func:`recentroid_state` migration. The commit
    protocol writes the NEW meta to ``_meta/semantic.json.next`` first,
    then swaps the reassigned member files in via the compaction state
    machine with a ``_centroids-<digest>`` tag file riding INSIDE the
    staged directory; recovery therefore has an unambiguous signal:

    - ``semantic.json.next`` absent → nothing to do;
    - members root's tag digest == next's digest → the swap committed
      with the NEW clustering → roll FORWARD the meta (delete current,
      rename .next into place);
    - otherwise → the swap never committed (or rolled back) → roll the
      migration BACK (delete .next; members remain old-clustered).

    Runs inside recover_state (every ingest/compaction path) and at the
    head of semantic compaction, so no mutator can ever observe members
    and meta disagreeing. Returns 1 when a migration was settled."""
    nxt = _sem_next_meta_path(state_dir)
    if not fs.exists(nxt):
        return 0
    root = _join(state_dir, "semantic_members")
    fs.delete(root + ".recentroid-stage", True)  # pre-tmp leftover: never committed
    recover_swap(fs, root, COMPACT)
    want = json.loads(fs.read_text(nxt) or "{}").get("centroids_digest")
    tags = [n for n in fs.list_names(root) if n.startswith("_centroids-")]
    if want and any(n == f"_centroids-{want}" for n in tags):
        # atomic rename-over: no window where the meta file is absent
        # (lock-free readers resolve n_buckets through it)
        fs.rename_replace(nxt, _join(_meta_dir(state_dir), "semantic.json"))
    else:
        fs.delete(nxt, False)
    _refresh_state_table(spark, root)
    return 1


def recentroid_state(
    spark: SparkSession,
    state_dir: str,
    centroids: list,
    _crash: str | None = None,
) -> dict[str, int]:
    """Centroid lifecycle migration for the semantic leg: a corpus
    whose distribution drifts concentrates mass in few cells, degrading
    the verify join toward per-cell quadratic (state_report's
    ``cells.sum_sq`` is the watch number). This rewrites
    ``semantic_members`` under NEW centroids — every stored unit vector
    reassigns to its nearest new centroid by the same rounded-argmax as
    assign_to_centroids (ties to the lowest index; sentinel null rows
    keep cell -1) — and swaps members + pinned ``_meta`` atomically:

    1. write the new meta to ``_meta/semantic.json.next`` (atomic);
    2. stage the reassigned members (bucketed on cluster, pinned
       n_buckets) with a ``_centroids-<digest>`` tag file INSIDE, then
       rename the stage into the compaction state machine's tmp name;
    3. swap via the _compact_state sequence (root → old, tmp → root);
    4. finalize: rename ``.next`` over ``semantic.json``.

    A crash anywhere is settled by :func:`_recover_recentroid` (run by
    every recover_state): the swap's tag tells recovery whether the
    members committed under the new clustering, so meta and members can
    never disagree — the migration either fully lands or fully rolls
    back. Single writer (lease-enforced). Classification semantics:
    historical decisions under the new centroids are exactly what
    ingesting the same corpus with these centroids from scratch would
    produce for same-cell pairs; pairs the new partitioning separates
    stop being comparable — the SemDeDup partitioning trade, now
    versioned. Returns {"n_members", "n_cells"}."""
    import math

    from ..operators.similarity import dot, round6

    with _writer_lease(spark, state_dir):
        fs = HadoopFS(spark, state_dir)
        _recover_recentroid(spark, fs, state_dir)
        pinned = state_meta(spark, state_dir, "semantic")
        if not pinned:
            raise ValueError(
                f"no semantic state pinned at {state_dir}; recentroid_state "
                f"migrates an EXISTING state — run ingest_batch_semantic first"
            )
        root = _join(state_dir, "semantic_members")
        recover_swap(fs, root, COMPACT)
        if not fs.has_visible_files(root):
            raise ValueError(f"semantic state at {state_dir} has no member rows")
        digest = hashlib.md5(json.dumps(centroids).encode()).hexdigest()
        if digest == pinned.get("centroids_digest"):
            raise ValueError("new centroids are identical to the pinned ones")
        n_buckets = int(pinned["n_buckets"])

        # 1. pending meta (atomic marker: the migration's intent + key)
        new_meta = dict(pinned)
        new_meta["centroids"] = centroids
        new_meta["centroids_digest"] = digest
        fs.touch_atomic(_sem_next_meta_path(state_dir), json.dumps(new_meta, sort_keys=True))
        if _crash == "after_next":
            raise SimulatedCrash("after_next")

        # 2. reassign stored unit vectors (no re-normalization — uv is
        # already unit, and re-dividing by sqrt(dot(uv,uv)) would move
        # doubles at the last ulp) and stage bucketed with the tag inside
        members = spark.read.parquet(root)
        structs = []
        for c, cent in enumerate(centroids):
            norm = math.sqrt(sum(x * x for x in cent)) or 1.0
            uc = F.array(*[F.lit(float(x) / norm) for x in cent])
            structs.append(
                F.struct(
                    (-round6(dot(F.col("uv"), uc))).alias("nd"),
                    F.lit(c).alias("c"),
                )
            )
        best = F.least(*structs) if len(structs) > 1 else structs[0]
        new_cluster = (
            F.when(F.col("cluster") == -1, F.lit(-1)).otherwise(best["c"])
        ).cast("int")
        others = [c for c in members.columns if c not in ("cluster", "uv")]
        reassigned = members.select(
            *others, new_cluster.alias("cluster"), "uv"
        )
        stage = root + ".recentroid-stage"
        fs.delete(stage, True)
        _staged_bucketed_write(reassigned, stage, ["cluster"], n_buckets)
        fs.touch_atomic(_join(stage, f"_centroids-{digest}"))
        tmp = root + COMPACT[0]
        fs.delete(tmp, True)
        if not fs.rename(stage, tmp):
            raise IOError(f"recentroid: rename {stage} -> {tmp} failed")
        if _crash == "after_stage":
            raise SimulatedCrash("after_stage")

        # 3. the compaction swap (crash from here on rolls FORWARD)
        n = spark.read.parquet(tmp).count()
        swap_in(fs, root, COMPACT, _crash)
        if _crash == "before_finalize":
            raise SimulatedCrash("before_finalize")

        # 4. finalize the meta: atomic rename-over (no absent-meta window)
        fs.rename_replace(
            _sem_next_meta_path(state_dir),
            _join(_meta_dir(state_dir), "semantic.json"),
        )
        _refresh_state_table(spark, root)
        n_cells = spark.read.parquet(root).select("cluster").distinct().count()
    return {"n_members": n, "n_cells": n_cells}


def _any_shared_key(keys: DataFrame, state: DataFrame, eff: dict):
    """The LSH legs' classification over key frames ``(id, *key_cols)``:
    historical iff ANY of a row's keys is in the state; within-batch iff
    a smaller-id batch row shares a key (bucket-min: the smallest id per
    batch key)."""
    id_col, *kc = keys.columns
    hist_ids = keys.join(state.select(*kc), kc, "left_semi").select(id_col).distinct()
    bucket_min = keys.groupBy(*kc).agg(F.min(id_col).alias("__min_id"))
    within_ids = (
        keys.join(bucket_min, kc)
        .filter(F.col("__min_id") < F.col(id_col))
        .select(id_col)
        .distinct()
    )
    return hist_ids, within_ids


def _ingest_keyed(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    leg: str,
    *,
    keys_of,
    classify,
    key_cols: tuple,
    id_col: str,
    tag: str,
    given: dict,
    defaults: dict,
    epoch_id,
    _crash: str | None,
    meta_extra: dict | None = None,
    state_mode: str | None = None,
    _locked: bool = False,
) -> dict[str, int] | None:
    """Shared engine of the keyed incremental legs (neardup, embdup,
    semantic): classify a batch against a persistent key state bucketed
    on ``key_cols``, then append accepted rows to the leg's corpus root
    and the batch's keys to its state root in one :func:`_epoch_txn`.

    ``keys_of(eff)`` builds the key frame ``(id, *key_cols[, payload])``
    AFTER the leg's parameters resolve against the pinned ``_meta`` (so
    the key function provably matches the stored state); the state
    table is registered from that frame's schema. ``classify(keys,
    state, eff)`` returns ``(hist_ids, within_ids)``: the LSH legs pass
    :func:`_any_shared_key`, the semantic leg its cell-plus-cosine
    verify. Everything after classification is shared. Returns
    ``{"n_batch", "n_hist_<tag>", "n_within_<tag>", "n_accepted"}``, or
    None on a redelivered committed epoch.

    ``state_mode`` (validated before the lease, pinned into ``_meta``):
    ``"all"`` (default) appends EVERY batch row's keys — seen-semantics,
    state grows with gross ingested volume; replays classify 100%
    historical and append again, harmless duplicates in an
    existence-checked state that compaction collapses. ``"keepers"``
    appends only ACCEPTED rows' keys, so the history join's candidate
    volume follows the DEDUPED corpus. Under exists-semantics the modes
    agree whenever a dup's match chain passes through a keeper and may
    legitimately differ on dup-of-dup chains (a new row whose only
    match is a REJECTED dup classifies novel in keepers mode) — the
    oracled twins ``incremental_{neardup,embdup,semantic}_keepers_funnel``
    pin exactly that semantics. Within-batch stays exists-semantics
    against ALL smaller-id batch members; replay stability is unchanged
    (a replayed batch's keepers are in state, its dups still match,
    nothing re-appends).

    SIZING NOTE for coarse key functions (ingest-probe finding): keeper
    narrowing compounds with key coarseness — under exists-semantics a
    row is rejected if ANY key collides, so with few distinct keys per
    table (e.g. 4-bit hyperplane buckets = 16 per table) the keeper set
    saturates near one keeper per occupied bucket pattern however large
    the corpus (`emb_dup_keep` holds 24 rows at every probe multiple).
    That is correct by the mode's contract but usually NOT the dedup
    intent: before enabling keepers on the embdup leg, size n_planes so
    the bucket space comfortably exceeds the expected keeper
    cardinality (the neardup leg's md5 band keys are effectively
    unbounded, so it narrows only by true duplication — exactly 1/4 the
    rows on the x4-duplicated probe)."""
    if state_mode is not None and state_mode not in ("all", "keepers"):
        raise ValueError(f"state_mode must be 'all' or 'keepers', got {state_mode!r}")
    corpus_rel, state_rel = _LEG_ROOTS[leg]
    kc = list(key_cols)
    with _epoch_txn(
        spark, state_dir, leg,
        {**given, "state_mode": state_mode}, {**defaults, "state_mode": "all"},
        epoch_id=epoch_id, extra=meta_extra, _locked=_locked, _crash=_crash,
    ) as txn:
        if txn is None:
            return None
        keepers_only = txn.eff["state_mode"] == "keepers"
        n_buckets = int(txn.eff["n_buckets"])
        keys = keys_of(txn.eff)
        n_batch = batch.count()
        # every consumer (both classification counts, both staged writes)
        # runs inside the scope, so the cache releases with zero recompute
        # (cachectl.py); the key-derivation pass runs once
        with scoped_cache(keys):
            state = _ensure_state_table(
                spark, _join(state_dir, state_rel), keys, kc, n_buckets
            )
            hist_ids, within_ids = classify(keys, state, txn.eff)
            with scoped_cache(hist_ids):
                n_hist = hist_ids.count()
                n_within = within_ids.join(hist_ids, id_col, "left_anti").count()
                accepted = (
                    batch.join(hist_ids, id_col, "left_anti")
                    .join(within_ids, id_col, "left_anti")
                )
                n_accepted = accepted.count()
                if n_accepted:
                    txn.stage_parquet(corpus_rel, accepted)
                state_keys = (
                    keys.join(accepted.select(id_col), id_col, "left_semi")
                    if keepers_only
                    else keys
                )
                if (n_accepted if keepers_only else n_batch) > 0:
                    txn.stage_bucketed(state_rel, state_keys, kc, n_buckets)
                txn.commit()
    return {
        "n_batch": n_batch,
        f"n_hist_{tag}": n_hist,
        f"n_within_{tag}": n_within,
        "n_accepted": n_accepted,
    }


def ingest_batch_bloom(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int | None = None,
    k: int | None = None,
    n_buckets: int | None = None,
    epoch_id=None,
    _crash: str | None = None,
    _locked: bool = False,
) -> dict[str, int] | None:
    """Space-optimized exact-dedup ingestion: the fingerprint table is
    replaced by a PORTABLE Bloom filter (operators/dedup.bloom_positions)
    stored as one ``pos`` long per DISTINCT set bit, bucketed — the
    whole state is at most ``m_bits`` rows however large the corpus,
    ~10-15 BITS per document at 1% FP vs ~50 BYTES per digest in
    :func:`ingest_batch`. The trade, explicit: NO false negatives ever
    (a true duplicate's digest sets exactly the bits its first copy set,
    so every probe hits), but a tunable share of genuinely-novel docs is
    rejected as false positives once the filter loads up — size
    ``m_bits`` ≈ k·corpus/ln2 ÷ desired-FP for production. Rejected
    docs' digests are NOT inserted (they were judged duplicates), so
    decisions are replay-stable.

    Classification: a within-batch-deduped doc is ``maybe-historical``
    iff ALL ``k`` of its bit positions are present in the state — one
    bucketed equi-join on ``pos`` (state side never shuffles) + a
    per-doc count. Accepted docs append to ``corpus_bloom``; their
    distinct positions append to ``bloom_bits`` in the SAME atomic
    journal commit (crash ⇒ blind retry, never double-ingest).
    ``compact_bloom_state`` collapses replay/overlap duplicates. The
    md5 position math replays bit-exactly in DuckDB — the oracled twin
    ``incremental_bloom_funnel`` pins the DECISIONS, not just
    invariants.

    Returns ``{"n_batch", "n_within_dup", "n_rejected_maybe_dup",
    "n_accepted"}`` (``n_rejected_maybe_dup`` counts true duplicates
    AND false positives — the loop cannot tell them apart; that is the
    contract), or ``None`` on a redelivered committed epoch.
    ``m_bits``/``k``/``n_buckets`` pin into ``_meta`` on first ingest
    (DEFAULT_BLOOM defaults) and default from it after — a later call
    passing a different ``m_bits`` raises :class:`StateParamMismatch`,
    because probes mod a different m would miss set bits and break the
    no-false-negatives theorem. Null-text keepers digest to the
    sentinel class (module docstring), so the theorem covers them."""
    from ..operators.dedup import bloom_positions

    with _epoch_txn(
        spark, state_dir, "bloom",
        {"m_bits": m_bits, "k": k, "n_buckets": n_buckets},
        {**DEFAULT_BLOOM, "n_buckets": DEFAULT_BUCKETS},
        epoch_id=epoch_id, _locked=_locked, _crash=_crash,
    ) as txn:
        if txn is None:
            return None
        eff = txn.eff
        m_bits, k, n_buckets = int(eff["m_bits"]), int(eff["k"]), int(eff["n_buckets"])
        n_batch = batch.count()
        batch_unique = _batch_unique(batch, text_col, id_col)

        probes = batch_unique.select(
            id_col, F.explode(bloom_positions(F.col("digest"), m_bits, k)).alias("pos")
        ).distinct()
        state = _ensure_state_table(
            spark,
            _join(state_dir, "bloom_bits"),
            spark.createDataFrame([], "pos long"),
            ["pos"],
            n_buckets,
        )
        # bucketed groupBy: generation-duplicate bits collapse shuffle-free
        state_pos = state.groupBy("pos").agg(F.lit(1).alias("__set")).select("pos")
        matched = probes.join(state_pos, "pos", "left_semi")
        per_doc = (
            probes.groupBy(id_col)
            .agg(F.count("*").alias("__n_probe"))
            .join(matched.groupBy(id_col).agg(F.count("*").alias("__n_hit")), id_col, "left")
        )
        hist_ids = per_doc.filter(
            F.col("__n_hit") == F.col("__n_probe")
        ).select(id_col)

        with scoped_cache(batch_unique, hist_ids):
            n_unique = batch_unique.count()
            n_hist = hist_ids.count()
            accepted = batch_unique.join(hist_ids, id_col, "left_anti")
            n_accepted = n_unique - n_hist
            if n_accepted:
                txn.stage_parquet("corpus_bloom", accepted.drop("digest"))
                new_bits = accepted.select(
                    F.explode(bloom_positions(F.col("digest"), m_bits, k)).alias("pos")
                ).distinct()
                txn.stage_bucketed("bloom_bits", new_bits, ["pos"], n_buckets)
            txn.commit()
    return {
        "n_batch": n_batch,
        "n_within_dup": n_batch - n_unique,
        "n_rejected_maybe_dup": n_hist,
        "n_accepted": n_accepted,
    }


def compact_bloom_state(
    spark: SparkSession, state_dir: str, n_buckets: int | None = None
) -> int:
    """Collapse duplicate set-bit rows in the Bloom state (replays and
    cross-batch position collisions append the same ``pos`` again).
    After compaction the state is at most ``m_bits`` rows regardless of
    corpus size. Single writer (lease-enforced); ``n_buckets`` defaults
    from the pinned ``_meta`` — a compaction can no longer rewrite the
    state with a bucket count the table spec disagrees with."""
    return _compact_state(spark, state_dir, "bloom_bits", ["pos"], "bloom", n_buckets)


# ---------------------------------------------------------------------------
# compaction: distinct-rewrite + dir swap (recoverable)
# ---------------------------------------------------------------------------


def _compact_state(
    spark: SparkSession,
    state_dir: str,
    rel: str,
    bucket_cols: list[str],
    leg: str,
    n_buckets: int | None,
) -> int:
    """Rewrite one bucketed state root with duplicates collapsed, then
    swap the new directory in. The swap's only non-atomic window (root
    renamed away, tmp not yet renamed in) is settled by
    :func:`recover_state` / :func:`fsutil.recover_swap` on the next touch —
    roll forward (tmp is complete) — so a crash never loses the state.
    Single writer ENFORCED by the lease (appends landing between the
    distinct read and the swap would be lost). ``n_buckets`` resolves
    from the leg's pinned ``_meta`` first — so a compaction can never
    rewrite bucket files with a count the table's bucket spec disagrees
    with (Spark's bucketed scan trusts filename bucket ids; a mismatch
    silently drops state rows). An explicit mismatching
    value raises :class:`StateParamMismatch`."""
    with _writer_lease(spark, state_dir):
        fs = HadoopFS(spark, state_dir)
        if rel == "semantic_members":
            # a crashed recentroid migration must settle BEFORE a
            # compaction rewrite destroys its tag file (else recovery
            # could roll the meta back against new-clustered members)
            _recover_recentroid(spark, fs, state_dir)
        pinned = state_meta(spark, state_dir, leg).get("n_buckets")
        if (
            pinned is not None
            and n_buckets is not None
            and int(n_buckets) != int(pinned)
        ):
            raise StateParamMismatch(
                f"{leg} state at {state_dir} is bucketed INTO {pinned}; "
                f"compacting with n_buckets={n_buckets} would desync the "
                f"bucket files from the table spec — omit n_buckets to use "
                f"the pinned value"
            )
        root = _join(state_dir, rel)
        recover_swap(fs, root, COMPACT)
        if not fs.has_visible_files(root):
            return 0
        if pinned is None and n_buckets is None:
            # same pre-upgrade refusal as _resolve_meta: rewriting an
            # unpinned state with the default count could desync the
            # bucket files from how the data was originally written
            raise StateParamMismatch(
                f"{leg} state at {state_dir} holds data but has no pinned "
                f"_meta; pass n_buckets explicitly (matching the original "
                f"build) to compact it"
            )
        n_buckets = int(pinned) if pinned is not None else int(n_buckets)
        tmp = root + COMPACT[0]
        compacted = spark.read.parquet(root).distinct()
        # the rewrite goes through the bucketed writer so the swapped-in
        # files keep the bucket layout the state table's scans rely on
        _staged_bucketed_write(compacted, tmp, bucket_cols, n_buckets)
        n = spark.read.parquet(tmp).count()
        swap_in(fs, root, COMPACT)
        _refresh_state_table(spark, root)
        return n


def compact_neardup_state(
    spark: SparkSession, state_dir: str, n_buckets: int | None = None
) -> int:
    """Collapse replay-duplicated band rows in the near-dup state.

    Replays of an already-ingested batch append their band rows again
    (harmless for the existence-checked classification, wasteful on
    disk). Compaction distincts the state and swaps it in, preserving
    the bucketed layout; a crashed swap is rolled forward by
    :func:`recover_state`. Single writer (lease-enforced); ``n_buckets``
    defaults from the pinned ``_meta``. Returns the compacted row
    count."""
    return _compact_state(
        spark, state_dir, "neardup_bands", ["band", "bk"], "neardup", n_buckets
    )


def compact_embdup_state(
    spark: SparkSession, state_dir: str, n_buckets: int | None = None
) -> int:
    """Embedding-loop twin of :func:`compact_neardup_state`: collapse
    replay-duplicated (id, tbl, bucket) rows, rewrite bucketed, swap in.
    Single writer (lease-enforced); ``n_buckets`` defaults from ``_meta``."""
    return _compact_state(
        spark, state_dir, "embdup_buckets", ["tbl", "bucket"], "embdup", n_buckets
    )


def compact_fingerprints(
    spark: SparkSession, state_dir: str, n_buckets: int | None = None
) -> int:
    """Exact-loop symmetry of :func:`compact_neardup_state`: collapse
    duplicate (digest, id) rows in the fingerprint state (the exact loop
    never appends duplicates itself, but a restored/merged state can
    carry them) and rewrite it bucketed. Single writer (lease-enforced);
    ``n_buckets`` defaults from ``_meta``."""
    return _compact_state(
        spark, state_dir, "fingerprints", ["digest"], "exact", n_buckets
    )


DEFAULT_SKETCH_K = 128


def kmv_sketch_state(
    spark: SparkSession,
    state_dir: str,
    group_col: str = "source",
    n_buckets: int | None = None,
) -> DataFrame:
    """The mergeable-sketch state as its bucketed table (group, hv) —
    at most ``k`` rows per group however large the ingested history.
    ``n_buckets`` defaults from the pinned ``_meta``."""
    like = spark.createDataFrame([], f"{group_col} string, hv long")
    return _ensure_state_table(
        spark, _join(state_dir, "kmv_sketch"), like, [group_col],
        _meta_buckets(spark, state_dir, "sketch", n_buckets),
    )


def ingest_batch_sketch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    group_col: str = "source",
    text_col: str = "text",
    k: int | None = None,
    n_buckets: int | None = None,
    epoch_id=None,
    _crash: str | None = None,
    _locked: bool = False,
) -> dict[str, int] | None:
    """Incremental MERGEABLE-SKETCH maintenance — a different state
    algebra from the five dedup legs: instead of appending fingerprint
    rows, each batch MERGES into a bounded per-group KMV sketch (the k
    smallest distinct 48-bit shingle-hash values per ``group_col`` —
    operators/sketches.kmv_group_sketches' shape), kept as a bucketed
    ``state_dir/kmv_sketch`` table of at most k rows per group however
    many batches arrive. The sketches answer per-source distinct-volume
    and cross-source overlap questions (sketches.kmv_overlap_matrix)
    over the ENTIRE ingested history without ever rescanning it — the
    running counterpart of the one-shot ``kmv_overlap_matrix`` query.

    Replay safety comes from ALGEBRA, not bookkeeping: k-min merge is
    associative, commutative and IDEMPOTENT (k-min of a union), so a
    crashed-and-retried or redelivered batch re-merges to the
    bit-identical state. The state swap uses the compaction state
    machine (stage bucketed → rename root away → rename stage in),
    settled by :func:`fsutil.recover_swap` from any crash point; the epoch
    marker records AFTER the swap — a crash between them replays the
    merge as a no-op and then records. ``k``/``n_buckets`` pin into
    ``_meta`` like every leg (a changed k would make sketches
    incomparable: a k=64 sketch cannot be widened back to k=128).

    Scale shape: the only corpus-sized work is the batch's distinct
    (group, hv) projection; the merge unions it with a ≤ groups·k-row
    state and ranks within group — the nightly rewrite touches
    groups·k rows, not history. Returns ``{"n_batch", "n_groups",
    "n_sketch_rows"}`` — or ``None`` on a redelivered committed epoch.

    The pure-query oracled twin is ``incremental_kmv_funnel`` in the
    registry (day-composed sketches == whole-history sketch, the
    mergeability property, replayed by DuckDB)."""
    from ..operators.sketches import kmv_group_sketches, shingle_hv

    # the transaction supplies lease, recovery, epoch guard and meta only:
    # this leg swaps its whole state in and records the epoch after the
    # swap, with no journal marker (so no _commits entry)
    with _epoch_txn(
        spark, state_dir, "sketch",
        {"k": k, "n_buckets": n_buckets},
        {"k": DEFAULT_SKETCH_K, "n_buckets": DEFAULT_BUCKETS},
        epoch_id=epoch_id, _locked=_locked,
    ) as txn:
        if txn is None:
            return None
        fs = txn.fs
        k_eff, n_buckets = int(txn.eff["k"]), int(txn.eff["n_buckets"])
        root = _join(state_dir, "kmv_sketch")

        n_batch = batch.count()
        el = shingle_hv(batch, [group_col], text_col=text_col)
        old = kmv_sketch_state(spark, state_dir, group_col, n_buckets).select(
            group_col, "hv"
        )
        merged = kmv_group_sketches(old.unionByName(el), group_col, k=k_eff)
        tmp = root + COMPACT[0]
        fs.delete(tmp, True)
        _staged_bucketed_write(merged, tmp, [group_col], n_buckets)
        if _crash == "after_stage":
            raise SimulatedCrash("after_stage")
        row = (
            spark.read.parquet(tmp)
            .agg(
                F.count("*").alias("n"),
                F.count_distinct(F.col(group_col)).alias("g"),
            )
            .collect()[0]
        )
        n_rows, n_groups = int(row["n"]), int(row["g"])
        swap_in(fs, root, COMPACT, _crash)
        if _crash == "before_epoch":
            raise SimulatedCrash("before_epoch")
        if epoch_id is not None:
            _record_epoch(fs, state_dir, epoch_id)
        _refresh_state_table(spark, root)
    return {"n_batch": n_batch, "n_groups": n_groups, "n_sketch_rows": n_rows}


def sketch_report(
    spark: SparkSession,
    state_dir: str,
    group_col: str = "source",
    n_buckets: int | None = None,
) -> DataFrame:
    """Cross-group overlap monitoring STRAIGHT FROM the sketch state —
    the payoff of the mergeable leg: per-pair union/intersection
    estimates (operators/sketches.kmv_overlap_matrix) computed from the
    persisted ``kmv_sketch`` rows, so the question "how much do my
    sources overlap after everything ingested so far?" costs
    |groups|·k rows of work and touches NO ingested corpus. ``k``
    resolves from the pinned ``_meta`` (the sketches were built with
    it; estimating with a different k would misread theta). Read-only:
    no lease, no recovery — a mid-commit reader sees the previous
    swap's state (the swap is rename-atomic). Raises if the leg has
    never ingested."""
    meta = state_meta(spark, state_dir, "sketch")
    if not meta:
        raise ValueError(
            f"no sketch state pinned at {state_dir}; run ingest_batch_sketch first"
        )
    from ..operators.sketches import kmv_overlap_matrix

    sk = kmv_sketch_state(spark, state_dir, group_col, n_buckets)
    return kmv_overlap_matrix(sk, group_col, k=int(meta["k"]))


def ingest_batch_all(
    spark: SparkSession,
    state_dir: str,
    docs: DataFrame | None = None,
    vecs: DataFrame | None = None,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
    tables: list | None = None,
    centroids: list | None = None,
    state_mode: str | None = None,
    m_bits: int | None = None,
    bloom_k: int | None = None,
    sketch_group_col: str | None = None,
    sketch_k: int | None = None,
    epoch_id=None,
) -> dict[str, dict | None]:
    """The five-leg funnel as ONE composed ingest:
    a single writer-lease acquisition, a single recovery sweep, and one
    shared scan of each batch (``docs`` feeds the exact, near-dup and
    Bloom legs; ``vecs`` the embedding-LSH and semantic legs) instead
    of the five lease acquisitions + five source scans a caller chains
    today. The batch frames are cached for the duration (released on
    exit — cachectl discipline), so the parquet/source read happens
    once per frame however many legs consume it.

    Commit granularity is PER LEG — each leg keeps its own atomic
    staged-journal commit, and when ``epoch_id`` is set it is
    namespaced per leg with the LEG AS PREFIX (``exact-<epoch>``,
    ``neardup-<epoch>``, …), so a crash mid-composite retried blindly
    SKIPS the legs that already committed and resumes at the first
    uncommitted one (without an epoch_id the retry is still safe:
    every leg is idempotent by classification). The prefix form keeps
    the markers PRUNABLE: prune_epochs namespaces on everything before
    the last dash, so ``exact-5`` prunes within the ``exact``
    namespace exactly like a streaming checkpoint's ``<qid>-<batch>``
    (epoch-suffix form would never prune — the leg name is not
    sequence-shaped). A composite all-or-nothing commit would need a
    cross-root transaction — a table format's job, out of contract
    (module docstring).

    Legs run only for the inputs given: pass ``docs`` and/or ``vecs``.
    First composite ingest must carry ``tables`` (embdup) and
    ``centroids`` (semantic) when ``vecs`` is given, exactly like the
    individual legs; ``m_bits``/``bloom_k`` size the Bloom leg on a
    compose-first state and ``state_mode``
    applies to every mode-switchable leg (neardup, embdup, semantic —
    the exact leg is inherently keepers, bloom's state is bounded by
    ``m_bits`` regardless). ``sketch_group_col`` OPTS IN the sixth,
    mergeable-sketch leg: when set (e.g. "source"), ``docs``
    also merges into the bounded per-group KMV sketch state under the
    same lease/recovery/scan, with its own leg-prefixed epoch
    (``sketch-<epoch>``) — opt-in because it needs a group column the
    generic document batch may not carry; ``sketch_k`` passes through
    (pinned on first ingest). Returns ``{"exact": stats, "neardup":
    stats, "bloom": stats, "embdup": stats, "semantic": stats}``
    (plus ``"sketch"`` when opted in) with
    None for a leg whose namespaced epoch already committed, and the
    leg absent when its input frame was not provided. The pure-query
    oracled twin is ``incremental_all_legs_funnel`` (the sketch leg's
    own twin is ``incremental_kmv_funnel``)."""
    if docs is None and vecs is None:
        raise ValueError("ingest_batch_all needs docs and/or vecs")
    if sketch_group_col is not None and docs is None:
        raise ValueError("sketch_group_col requires a docs batch")
    out: dict[str, dict | None] = {}

    def leg_epoch(leg: str):
        if epoch_id is None:
            return None
        return f"{leg}-{_epoch_key(epoch_id)}"

    with _writer_lease(spark, state_dir):
        recover_state(spark, state_dir)
        frames = [f for f in (docs, vecs) if f is not None]
        with scoped_cache(*frames):
            if docs is not None:
                out["exact"] = ingest_batch(
                    spark, docs, state_dir, text_col, doc_id_col,
                    epoch_id=leg_epoch("exact"), _locked=True,
                )
                out["neardup"] = ingest_batch_neardup(
                    spark, docs, state_dir, text_col, doc_id_col,
                    state_mode=state_mode,
                    epoch_id=leg_epoch("neardup"), _locked=True,
                )
                out["bloom"] = ingest_batch_bloom(
                    spark, docs, state_dir, text_col, doc_id_col,
                    m_bits=m_bits, k=bloom_k,
                    epoch_id=leg_epoch("bloom"), _locked=True,
                )
                if sketch_group_col is not None:
                    out["sketch"] = ingest_batch_sketch(
                        spark, docs, state_dir,
                        group_col=sketch_group_col, text_col=text_col,
                        k=sketch_k,
                        epoch_id=leg_epoch("sketch"), _locked=True,
                    )
            if vecs is not None:
                out["embdup"] = ingest_batch_embdup(
                    spark, vecs, state_dir, tables, vec_col, vec_id_col,
                    state_mode=state_mode,
                    epoch_id=leg_epoch("embdup"), _locked=True,
                )
                out["semantic"] = ingest_batch_semantic(
                    spark, vecs, state_dir, centroids,
                    vec_col=vec_col, id_col=vec_id_col,
                    state_mode=state_mode,
                    epoch_id=leg_epoch("semantic"), _locked=True,
                )
        # composite audit record: ONE record per
        # composed batch — all leg funnels side by side — so
        # state_report shows composed-batch history without joining
        # five per-leg logs. Written under the SAME lease after every
        # leg committed; names carry a zero-padded sequence (writers
        # are lease-serialized, so lexical order IS ingest order) plus
        # the epoch key. Best-effort audit, per-leg commits stay the
        # source of truth: a crash before this write loses only the
        # composite view, and a redelivered epoch (whose legs all
        # return None) does not clobber the original record.
        fs = HadoopFS(spark, state_dir)
        comp_dir = _composites_dir(state_dir)
        fs.mkdirs(comp_dir)
        names = fs.list_names(comp_dir)
        suffix = _epoch_key(epoch_id) if epoch_id is not None else uuid.uuid4().hex[:8]
        # redelivery check compares the EXACT epoch part (everything
        # after the sequence prefix's first dash) — epoch keys may
        # themselves contain '-' (streaming '<qid>-<batch>'), so an
        # endswith test would false-match across epochs
        seen = {n.split("-", 1)[1] for n in names if "-" in n}
        if epoch_id is None or suffix not in seen:
            fs.touch_atomic(
                _join(comp_dir, f"{len(names):012d}-{suffix}"),
                json.dumps(
                    {
                        "epoch": suffix if epoch_id is not None else None,
                        "legs": out,
                    },
                    sort_keys=True,
                ),
            )
    return out
