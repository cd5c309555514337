"""Hadoop FileSystem helpers and the one directory swap.

Stateful plans (plans/incremental_corpus.py) and the sinks (sinks.py)
need a handful of filesystem primitives — exists / rename / delete /
list / atomic marker files. Using ``os``/``shutil`` silently pins the
state to the driver's LOCAL disk; at 100 TB the state lives on
HDFS/S3/ABFS. Everything here goes through the JVM Hadoop FileSystem
client resolved from the PATH'S OWN scheme (``file:///`` and bare paths
hit RawLocalFileSystem, ``hdfs://`` the DFS client, …), so the same
code runs against any Hadoop-compatible store.

Every directory the package replaces wholesale is published by
:func:`swap_in` and settled after a crash by :func:`recover_swap`. A
suffix pair names the two siblings a swap uses: :data:`MERGE` for the
sinks, :data:`COMPACT` for the ingest state's compactions and merges.

Atomicity contract: ``rename`` is atomic on HDFS and local filesystems
(the stores these protocols target). On S3A, rename is a copy+delete,
so neither the ingest state nor a ``write_parquet`` / ``merge_parquet``
swap is atomic there — use a table format (Delta/Iceberg) on S3A.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import SparkSession

# (staged sibling, previous copy) suffixes of a directory swap
MERGE = ("._merge_tmp", "._merge_old")
COMPACT = ("._compact_tmp", "._compact_old")


class SimulatedCrash(RuntimeError):
    """Raised by the test-only ``_crash`` hooks to exercise the recovery
    protocol at exact points. Never raised in production paths."""


class HadoopFS:
    """Thin wrapper over org.apache.hadoop.fs.FileSystem for one scheme."""

    def __init__(self, spark: SparkSession, path: str):
        self._jvm = spark._jvm
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(path).getFileSystem(spark._jsc.hadoopConfiguration())

    def path(self, p: str):
        return self._Path(p)

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._Path(p)))

    def qualified(self, p: str) -> str:
        """``p`` fully qualified against this filesystem (scheme +
        authority + absolute path) — the canonical form for comparing a
        caller path against a catalog-reported location (a bare or
        relative path never string-matches the catalog's URI)."""
        return self._fs.makeQualified(self._Path(p)).toString()

    def mtime(self, p: str) -> int:
        """Modification time of ``p`` in epoch milliseconds."""
        return int(self._fs.getFileStatus(self._Path(p)).getModificationTime())

    def set_mtime(self, p: str, mtime_ms: int) -> None:
        """Set the modification time (tests age lease files with it)."""
        self._fs.setTimes(self._Path(p), int(mtime_ms), -1)

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._Path(p))

    def delete(self, p: str, recursive: bool = True) -> bool:
        return bool(self._fs.delete(self._Path(p), recursive))

    def rename(self, src: str, dst: str) -> bool:
        """Atomic on HDFS/local. Returns False when the filesystem
        refuses (e.g. destination exists) — callers decide whether that
        means "already done" (idempotent retry) or an error."""
        return bool(self._fs.rename(self._Path(src), self._Path(dst)))

    def list_names(self, p: str) -> list[str]:
        """Child basenames of ``p`` (empty when ``p`` is absent)."""
        if not self.exists(p):
            return []
        return [st.getPath().getName() for st in self._fs.listStatus(self._Path(p))]

    def has_visible_files(self, p: str) -> bool:
        """True when ``p`` contains at least one non-hidden entry — the
        "does this dataset exist for a reader" probe ('_'/'.'-prefixed
        entries are invisible to Spark/Hadoop readers)."""
        return any(not n.startswith(("_", ".")) for n in self.list_names(p))

    def create_exclusive(self, p: str, content: str = "") -> bool:
        """Atomically create ``p`` iff it does not already exist (the
        lock-file primitive). Returns False ONLY when the path already
        exists — the caller lost the race; any other failure (ACLs,
        quota, connectivity) propagates, so a permission error is never
        misreported as a held lock.

        Atomicity: on HDFS, ``create(path, overwrite=false)`` is an
        atomic namespace operation. On ``file://`` the Hadoop local
        client is check-then-create (RawLocalFileSystem opens with no
        O_EXCL), so two local drivers could both "win" — this method
        instead creates through the OS ``O_CREAT|O_EXCL`` primitive,
        which is atomic on POSIX local filesystems. Other schemes
        (S3A's PUT-if-absent races) are out of contract, as the module
        docstring documents for rename."""
        if self._is_local():
            local = self._local_path(p)
            try:
                fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return False
            try:
                if content:
                    os.write(fd, content.encode("utf-8"))
            finally:
                os.close(fd)
            return True
        try:
            out = self._fs.create(self._Path(p), False)
        except Exception as e:
            msg = f"{type(e).__name__}: {e}".lower()
            if "alreadyexists" in msg or "already exists" in msg:
                return False  # a concurrent creator won the race
            raise
        try:
            if content:
                out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()
        return True

    def read_text_or_none(self, p: str) -> str | None:
        """``read_text`` that returns None when ``p`` vanishes between a
        listing and the read — the guard lock-free readers need against
        a concurrent compaction's deletes."""
        try:
            return self.read_text(p)
        except Exception as e:
            msg = f"{type(e).__name__}: {e}".lower()
            if "filenotfound" in msg or "does not exist" in msg or "no such file" in msg:
                return None
            raise

    def touch_atomic(self, p: str, content: str = "") -> None:
        """Create a small marker file whose VISIBILITY is atomic: write
        to a dot-tmp sibling, then rename into place. NOTE: the rename
        REFUSES when ``p`` already exists (treated as "a concurrent or
        previous publisher already placed the marker") — right for
        write-once markers, silently wrong for UPDATING a file; use
        :meth:`replace_atomic` for that."""
        self._write(p + ".tmp", content)
        if not self.rename(p + ".tmp", p):
            # a concurrent/previous publisher already placed the marker
            self.delete(p + ".tmp", False)

    def _write(self, p: str, content: str) -> None:
        out = self._fs.create(self._Path(p), True)
        try:
            if content:
                out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()

    def _is_local(self) -> bool:
        try:
            return self._fs.getScheme() == "file"
        except Exception:
            return False

    def _local_path(self, p: str) -> str:
        return urlparse(p).path if p.startswith("file:") else p

    def rename_replace(self, src: str, dst: str) -> None:
        """Rename ``src`` over ``dst``, REPLACING any existing file —
        atomically on file:// (POSIX ``os.replace`` rename-over; the
        Hadoop local client's rename refuses existing destinations).
        Other schemes fall back to delete-then-rename; the gap is only
        reachable by documented lock-free read-only snapshots, since
        every caller runs under the writer lease."""
        if self._is_local():
            lsrc, ldst = self._local_path(src), self._local_path(dst)

            def crc(p: str) -> str:
                # LocalFileSystem is a ChecksumFileSystem: every file it
                # writes has a ".<name>.crc" sidecar the os-level rename
                # bypasses — a stale sidecar makes every later Hadoop
                # read fail checksum. Remove the destination's first
                # (reads of a crc-less file skip verification), replace
                # the main file, then move the source's sidecar in.
                d, b = os.path.split(p)
                return os.path.join(d, f".{b}.crc")

            if os.path.exists(crc(ldst)):
                os.remove(crc(ldst))
            os.replace(lsrc, ldst)
            if os.path.exists(crc(lsrc)):
                os.replace(crc(lsrc), crc(ldst))
            return
        self._fs.delete(self._Path(dst), False)
        if not self._fs.rename(self._Path(src), self._Path(dst)):
            raise IOError(f"rename_replace {src} -> {dst} failed")

    def replace_atomic(self, p: str, content: str = "") -> None:
        """:meth:`touch_atomic` for files that may already exist: write
        a tmp sibling, then rename OVER the destination (atomic on
        file://). The update primitive for pinned metadata."""
        self._write(p + ".tmp", content)
        self.rename_replace(p + ".tmp", p)

    def read_text(self, p: str) -> str:
        # JVM-side copy into a byte array: a Python bytearray passed to
        # InputStream.read(byte[]) is copied by py4j, never mutated back
        inp = self._fs.open(self._Path(p))
        baos = self._jvm.java.io.ByteArrayOutputStream()
        self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(inp, baos, 4096, True)
        return bytes(baos.toByteArray()).decode("utf-8")


def recover_swap(fs: HadoopFS, root: str, suffixes: tuple[str, str]) -> str:
    """Settle a crashed :func:`swap_in` at ``root`` deterministically.
    The swap's only non-atomic window is between its two renames, so the
    disk is in one of four states:

    - root present → clear leftover staged/old siblings → ``"ok"``;
    - root missing, complete staged sibling (``_SUCCESS`` present) → it
      was fully written before the crash: promote it →
      ``"rolled_forward"``;
    - root missing, old sibling present → restore it, drop the torn
      stage → ``"rolled_back"``;
    - nothing at all → ``"absent"``."""
    tmp, old = root + suffixes[0], root + suffixes[1]
    if fs.exists(root):
        for left in (tmp, old):
            if fs.exists(left):
                fs.delete(left, True)
        return "ok"
    if fs.exists(tmp + "/_SUCCESS"):
        if not fs.rename(tmp, root):
            raise IOError(f"recover_swap: rename {tmp} -> {root} failed")
        if fs.exists(old):
            fs.delete(old, True)
        return "rolled_forward"
    if fs.exists(old):
        if not fs.rename(old, root):
            raise IOError(f"recover_swap: rename {old} -> {root} failed")
        if fs.exists(tmp):
            fs.delete(tmp, True)
        return "rolled_back"
    return "absent"


def swap_in(
    fs: HadoopFS, root: str, suffixes: tuple[str, str], _crash: str | None = None
) -> None:
    """Swap the complete directory ``root + suffixes[0]`` in as ``root``:
    root → ``root + suffixes[1]``, staged → root, drop old. The only
    non-atomic window (root renamed away, stage not yet in) is settled
    by :func:`recover_swap` on the next touch: it rolls the complete
    stage forward. A missing root (a first write) just skips the first
    rename."""
    tmp, old = root + suffixes[0], root + suffixes[1]
    if fs.exists(old):
        fs.delete(old, True)
    if fs.exists(root) and not fs.rename(root, old):
        raise IOError(f"swap: rename {root} -> {old} failed")
    if _crash == "mid_swap":
        raise SimulatedCrash("mid_swap")
    if not fs.rename(tmp, root):
        raise IOError(f"swap: rename {tmp} -> {root} failed")
    fs.delete(old, True)
