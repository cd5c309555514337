"""SparkSession construction and runtime configuration.

The driver may hand us an already-built session, so anything semantically
load-bearing (session timezone for the DuckDB oracle comparison, AQE,
shuffle parallelism) is applied via runtime-settable confs in
``configure_session`` rather than builder-time config.

``get_spark`` ships the package to Python workers: it sets
``spark.executorEnv.PYTHONPATH`` to the package's parent directory, which
Spark puts ahead of the launching environment's ``PYTHONPATH``, so Python
UDFs import the package from any working directory.

**Class-data sharing.** Most of a cold JVM start is class loading and
verification. ``get_spark`` keeps one dynamic AppCDS archive of the driver
JVM's classes per JVM/Spark install and starts every later JVM from it:

- *Key*: a hash of the JDK (``$JAVA_HOME/release`` plus the size and mtime
  of ``libjvm.so``), ``pyspark.__version__`` and the sorted names and sizes
  of ``$SPARK_HOME/jars/*.jar``.
- *Location*: ``$XDG_CACHE_HOME/spark-graft-cds/<key>/classes.jsa``
  (``~/.cache`` when the variable is unset). Deleting the directory resets
  it.
- *Archive present*: the JVM maps it (``-XX:SharedArchiveFile``).
- *Archive missing*: the JVM dumps its classes at exit to a unique temp
  file (``-XX:ArchiveClassesAtExit``) and its pid is recorded beside it.
  While a live JVM holds such a pending dump, other launches use no CDS
  flags at all, so only one JVM pays for a dump.
  The next ``get_spark`` in any process promotes the dump to
  ``classes.jsa`` with ``os.replace`` once that JVM has exited, and deletes
  the archives kept under other keys. A dump or archive that does not start
  with the archive magic (a JVM killed while dumping leaves zeros there) is
  deleted instead, so the next JVM dumps again.
- *Skipped* (no flag, no environment change) when a gateway JVM already
  runs, as under any active session; when ``SPARK_SUBMIT_OPTS`` or ``PYSPARK_SUBMIT_ARGS`` (with
  its ``spark.driver.*JavaOptions`` confs) carries a CDS flag or sets
  ``spark.driver.defaultJavaOptions``; when ``SPARK_CONF_DIR``,
  ``HADOOP_CONF_DIR`` or ``YARN_CONF_DIR`` is set, or the effective conf dir
  holds anything but ``*.template`` files (the dump refuses a non-empty
  directory on the class path; while launching, ``SPARK_CONF_DIR`` points at
  the empty ``<key>/conf``); and when the cache directory cannot be written.
- *Bad archive*: a launch given an archive whose JVM exits before the
  gateway comes up (a truncated archive crashes the JVM) deletes the
  archive and retries once without CDS. A stale or foreign archive is
  ignored by the JVM itself. A JVM launched with CDS flags writes any
  crash log (``-XX:ErrorFile``) to ``<key>/``, not to the working
  directory; the retry deletes it with the archive.

The flags go in ``spark.driver.defaultJavaOptions``, which the launcher puts
before ``spark.driver.extraJavaOptions`` and ``--driver-java-options``, so
they work alongside the user's own options.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import tempfile
from collections.abc import Mapping
from dataclasses import dataclass

import pyspark
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Runtime-settable confs applied defensively to any session we receive.
_RUNTIME_CONFS = {
    # DuckDB timestamps are UTC-naive; pin Spark to UTC so timestamp
    # values compare bit-for-bit in the oracle differential.
    "spark.sql.session.timeZone": "UTC",
    # AQE: coalesce shuffle partitions, runtime skew-join handling —
    # the right defaults for the 100 TB design point.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The events table carries TIMESTAMP(NANOS) parquet, which Spark 4
    # rejects outright; read as raw nanos long and convert with
    # `timestamp_micros(ts DIV 1000)` (sources/readers.py:load_events) —
    # verified bit-equal to DuckDB's epoch_us truncation.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# user options that carry their own CDS choice, or that our flags would replace
_CDS_CONFLICTS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit", "spark.driver.defaultJavaOptions")
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"  # a dump warns once per signed jar class
_ARCHIVE = "classes.jsa"
# JDK 17's dynamic-archive magic (0xf00baba8, little-endian); the JVM writes
# the header last, so a dump that was killed part-way starts with zeros
_DYNAMIC_MAGIC = b"\xa8\xab\x0b\xf0"


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not build. Idempotent."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be static in exotic deployments; never fail
            # a query over a tuning knob.
            pass
    return spark


@dataclass(frozen=True)
class _Cds:
    """How one JVM launch uses the class-data archive."""

    java_options: str
    conf_dir: str  # empty SPARK_CONF_DIR for the launch
    archive: str | None = None  # the archive the JVM maps, when it maps one
    pid_file: str | None = None  # where the dumping JVM's pid goes, when it dumps


def _cds_key(java_home: str, spark_home: str) -> str:
    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    st = os.stat(os.path.join(java_home, "lib", "server", "libjvm.so"))
    h.update(f"{st.st_size}:{st.st_mtime_ns}:{pyspark.__version__}".encode())
    for jar in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))):
        h.update(f"\n{os.path.basename(jar)}:{os.path.getsize(jar)}".encode())
    return h.hexdigest()[:16]


def _is_archive(path: str) -> bool:
    with open(path, "rb") as f:
        return f.read(len(_DYNAMIC_MAGIC)) == _DYNAMIC_MAGIC


def _running(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _promote(key_dir: str) -> None:
    """Promote the dumps of JVMs that have exited; on a promotion, delete
    the archives kept under other keys."""
    promoted = False
    for pid_file in glob.glob(os.path.join(key_dir, "dump-*.pid")):
        dump = pid_file[: -len(".pid")] + ".jsa"
        with open(pid_file) as f:
            pid = f.read().strip()
        if pid.isdigit() and _running(int(pid)):
            continue
        if os.path.isfile(dump) and _is_archive(dump):
            os.replace(dump, os.path.join(key_dir, _ARCHIVE))
            promoted = True
        elif os.path.exists(dump):
            os.remove(dump)
        os.remove(pid_file)
    if promoted:
        root, key = os.path.split(key_dir)
        for other in os.listdir(root):
            if other != key:
                shutil.rmtree(os.path.join(root, other), ignore_errors=True)


def _cds_plan(environ: Mapping[str, str]) -> _Cds | None:
    """How the next JVM launch uses the archive, or None to launch without
    CDS. Promotes finished dumps and reserves a temp name for a new one."""
    user_opts = environ.get("SPARK_SUBMIT_OPTS", "") + " " + environ.get("PYSPARK_SUBMIT_ARGS", "")
    if any(flag in user_opts for flag in _CDS_CONFLICTS):
        return None
    if any(environ.get(v) for v in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR")):
        return None
    java_home = environ.get("JAVA_HOME")
    if not java_home:  # the launcher's fallback: java on the PATH
        java = shutil.which("java", path=environ.get("PATH"))
        if not java:
            return None
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    spark_home = environ.get("SPARK_HOME") or _find_spark_home()
    cache = environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    try:
        conf = os.path.join(spark_home, "conf")
        if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
            return None
        key_dir = os.path.join(cache, "spark-graft-cds", _cds_key(java_home, spark_home))
        if any(c.isspace() or c in "\"'\\" for c in key_dir):  # the launcher splits options on these
            return None
        conf_dir = os.path.join(key_dir, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        if not os.access(key_dir, os.W_OK):
            return None
        _promote(key_dir)
        # a crash (a truncated archive) logs here, not in the caller's cwd
        opts = f"{_CDS_QUIET} -XX:ErrorFile={key_dir}/hs_err_pid%p.log"
        archive = os.path.join(key_dir, _ARCHIVE)
        if os.path.isfile(archive):
            if _is_archive(archive):
                return _Cds(f"-XX:SharedArchiveFile={archive} {opts}", conf_dir, archive=archive)
            os.remove(archive)
        if glob.glob(os.path.join(key_dir, "dump-*.pid")):  # a live JVM is dumping
            return None
        fd, pid_file = tempfile.mkstemp(prefix="dump-", suffix=".pid", dir=key_dir)
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))  # until the JVM's own pid is known
        dump = pid_file[: -len(".pid")] + ".jsa"
        return _Cds(f"-XX:ArchiveClassesAtExit={dump} {opts}", conf_dir, pid_file=pid_file)
    except OSError:
        return None


def _launch(builder: SparkSession.Builder, cds: _Cds) -> SparkSession:
    """Launch the JVM with the archive's options and an empty conf dir,
    then record a dumping JVM's pid."""
    os.environ["SPARK_CONF_DIR"] = cds.conf_dir  # unset before: a CDS precondition
    try:
        spark = builder.config("spark.driver.defaultJavaOptions", cds.java_options).getOrCreate()
    finally:
        del os.environ["SPARK_CONF_DIR"]
    if cds.pid_file:
        with open(cds.pid_file, "w") as f:
            f.write(str(spark._jvm.java.lang.ProcessHandle.current().pid()))
    return spark


def _builder(app_name: str) -> SparkSession.Builder:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # iterative operators finalize to RELIABLE checkpoints
        # (cachectl.finalize_iterative); with reference tracking the
        # ContextCleaner deletes checkpoint files once the frame is
        # garbage collected, so a long-lived session reclaims disk too
        # (builder-time only — the cleaner reads it at startup)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # one corpus_pipelines pass generates 100-170 distinct classes;
        # at the default 100 entries every pass recompiled most of them.
        # Static, so a session the caller built keeps 100
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )


def get_spark(app_name: str = "retail-sales-spark-engine") -> SparkSession:
    """Local session for tests/bench: local[N] with shuffle partitions ~ cores.

    On a real cluster the driver owns the session; this is only the
    local-mode entry point. A JVM it launches starts from the class-data
    archive (module docstring).
    """
    # an active session, or one stopped without its JVM, keeps the gateway
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    cds = _cds_plan(os.environ) if launches else None
    if cds is None:
        return configure_session(_builder(app_name).getOrCreate())
    try:
        spark = _launch(_builder(app_name), cds)
    except PySparkRuntimeError as e:
        if cds.archive is None or e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        # the archive and the crash log it caused
        crash_logs = glob.glob(os.path.join(os.path.dirname(cds.archive), "hs_err_pid*.log"))
        for path in (cds.archive, *crash_logs):
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)
        spark = _builder(app_name).getOrCreate()
    return configure_session(spark)
