"""Sinks (SURVEY.md §2.8). Replace-semantics everywhere (L3): re-running a
day must replace, not accumulate (reference TRUNCATE, scripts/loading.py:145).

Publish contract of the file sinks. The reference loads in one
transaction: truncate, insert, commit, or roll back so the previous table
survives (scripts/loading.py:141-168). Here every output is first written
in full to a staged sibling, then published by renames, so a reader sees
either the previous output or the new one:

- ``write_parquet`` and ``merge_parquet`` stage at ``path._merge_tmp``
  and publish with :func:`fsutil.swap_in`: ``path`` → ``path._merge_old``,
  stage → ``path``, drop old. A write that fails drops the stage and
  leaves ``path`` untouched.
- A process that dies between the two renames leaves ``path`` missing
  and the previous copy at ``path._merge_old``. :func:`recover_merge`
  settles that state for both sinks (rolling a complete stage forward,
  else the old copy back); ``merge_parquet`` runs the same recovery
  before it reads its target, so it never merges into a half-swapped
  table.
- ``write_csv_single_file`` stages its one part file under
  ``path._spark_tmp`` and renames it over ``path``, atomic on ``file://``:
  there is no moment with no file at ``path``.

Renames are atomic on local filesystems and HDFS, not on S3A (see
fsutil.py).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from .fsutil import MERGE, HadoopFS, recover_swap, swap_in


def _stage(spark, fs: HadoopFS, stage: str, write) -> None:
    """Run ``write(stage)`` into a fresh ``stage``; a failed write removes
    the stage and re-raises. A failed job returns while its other tasks
    are still being killed, and a killed task can still touch its attempt
    directory under the stage, so the removal first waits (at most a
    minute) until the newest job of this thread's job group has no task
    left."""
    fs.delete(stage, True)
    try:
        write(stage)
    except BaseException:
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        job = max(tracker.getJobIdsForGroup(sc.getLocalProperty("spark.jobGroup.id")), default=None)
        deadline = time.monotonic() + 60
        while job is not None and time.monotonic() < deadline:
            info = tracker.getJobInfo(job)
            if info is None or info.status != "RUNNING" and not any(
                getattr(tracker.getStageInfo(s), "numActiveTasks", 0) for s in info.stageIds
            ):
                break
            time.sleep(0.05)
        fs.delete(stage, True)
        raise


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """The scale-path sink: partitioned parquet, full replace (staged,
    then swapped in). At 100 TB use partition_by on a low-cardinality
    column (e.g. date) so readers get partition pruning; never
    coalesce(1) in the hot path."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    fs = HadoopFS(df.sparkSession, path)
    _stage(df.sparkSession, fs, path + MERGE[0], w.parquet)
    swap_in(fs, path, MERGE)


def write_csv_single_file(df: DataFrame, path: str) -> None:
    """L1 (reference scripts/loading.py:124-132): ONE csv file with header,
    full overwrite. Spark writes a directory; for the small summary output
    we coalesce(1) and rename the part file over ``path`` — explicitly NOT
    for large data (documented deviation: big outputs use write_parquet)."""
    tmp = path + "._spark_tmp"
    fs = HadoopFS(df.sparkSession, tmp)
    _stage(df.sparkSession, fs, tmp, df.coalesce(1).write.mode("overwrite").option("header", True).csv)
    part = next(n for n in fs.list_names(tmp) if n.startswith("part-") and n.endswith(".csv"))
    # the output carries no checksum sidecar
    fs.delete(f"{tmp}/.{part}.crc", False)
    fs.rename_replace(f"{tmp}/{part}", path)
    fs.delete(tmp, True)


def merge_parquet(spark, updates: DataFrame, path: str, key_cols: list[str]) -> None:
    """Upsert (merge) into a parquet table: rows whose key matches an
    update are replaced, everything else is kept. The reference's MySQL
    `INSERT ... ON DUPLICATE KEY UPDATE` (scripts/loading.py:24-32) is
    dead code behind a truncate; this is the live equivalent for a
    file-native engine. Implementation: settle any crashed swap, then
    anti-join survivors ∪ updates, staged and swapped in as in the module
    docstring (NOT a transaction: Delta/Iceberg MERGE is the real answer
    where available). Local-filesystem paths only — remote schemes are
    rejected rather than silently mis-merged."""
    if "://" in path:
        raise ValueError(
            f"merge_parquet swaps directories with local-FS renames; got {path!r}. "
            "Use a table format with native MERGE for remote filesystems."
        )
    fs = HadoopFS(spark, path)
    if recover_swap(fs, path, MERGE) != "absent":
        target = spark.read.parquet(path)
        survivors = target.join(updates.select(*key_cols).distinct(), on=key_cols, how="left_anti")
        out = survivors.unionByName(updates)
    else:
        out = updates
    _stage(spark, fs, path + MERGE[0], out.write.mode("overwrite").parquet)
    swap_in(fs, path, MERGE)


def recover_merge(path: str) -> str:
    """Crash-window recovery for ``merge_parquet`` and ``write_parquet``:
    call on startup (or when a reader finds ``path`` missing) to roll the
    swap forward or back deterministically, per
    :func:`fsutil.recover_swap`'s four states. Returns ``"ok"``,
    ``"rolled_forward"`` or ``"rolled_back"`` so callers can log it, and
    raises ``FileNotFoundError`` when nothing is on disk (never written).
    Needs a running Spark session (the filesystem is Hadoop's)."""
    action = recover_swap(HadoopFS(SparkSession.active(), path), path, MERGE)
    if action == "absent":
        raise FileNotFoundError(
            f"recover_merge: no table, no complete {MERGE[0]}, no {MERGE[1]} at {path!r}"
        )
    return action


_DERBY_TYPES = {
    "tinyint": "SMALLINT",  # Derby has no 1-byte int
    "smallint": "SMALLINT",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "float": "REAL",
    "double": "DOUBLE",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "string": "VARCHAR(32672)",  # Derby VARCHAR max; longer values need CLOB,
    # which Derby cannot compare inside MERGE ON — documented limitation
    "binary": "BLOB",
}


def _sql_type(spark_simple: str, url: str = "", is_key: bool = False) -> str:
    """Map a Spark simpleString type to DDL, dialect-aware. decimal(p,s)
    maps through unchanged. Strings are the one type whose mapping
    diverges by dialect: Derby/ANSI take VARCHAR(32672) (Derby's VARCHAR
    max — comparable inside MERGE, unlike CLOB), but MySQL's utf8mb4
    VARCHAR tops out far lower (~16383 chars / 65535-byte row limit), so
    MySQL strings become TEXT — except PRIMARY KEY columns, which MySQL
    requires to be length-bounded: VARCHAR(255)."""
    if spark_simple.startswith("decimal"):
        return spark_simple.upper()
    if spark_simple == "string" and url.startswith("jdbc:mysql"):
        return "VARCHAR(255)" if is_key else "TEXT"
    try:
        return _DERBY_TYPES[spark_simple]
    except KeyError:
        raise ValueError(
            f"write_jdbc_upsert: no SQL DDL mapping for Spark type {spark_simple!r}"
        ) from None


def _jdbc_connect(spark, url: str, driver: str | None):
    """Open a raw driver-side JDBC connection through the JVM. Used only
    for DDL + the single MERGE statement — all row traffic goes through
    Spark's parallel JDBC writer, never this connection."""
    jvm = spark._jvm
    if driver:
        # register the driver with DriverManager (idempotent)
        jvm.java.lang.Class.forName(driver)
    return jvm.java.sql.DriverManager.getConnection(url)


def _table_exists(conn, table: str) -> bool:
    """Catalog lookup via DatabaseMetaData — unlike a SELECT probe, a dead
    connection RAISES here instead of masquerading as "table absent" and
    sending the caller down the create path. Unquoted identifiers are
    case-folded by the database (Derby/ANSI: upper), so both spellings
    are probed. ``getTables`` treats its name argument as a LIKE pattern
    ('_' and '%' are wildcards — ``rb_t`` would match ``rbxt``), and
    escape support is driver-dependent (Derby's
    ``getSearchStringEscape()`` is empty and backslash-escaping breaks
    LITERAL matches too), so the raw pattern is sent — wildcards can
    only OVER-match, never miss the literal name — and the result set is
    post-filtered by exact TABLE_NAME equality."""
    md = conn.getMetaData()
    for cand in dict.fromkeys([table, table.upper(), table.lower()]):
        rs = md.getTables(None, None, cand, None)
        try:
            while rs.next():
                if rs.getString("TABLE_NAME") == cand:
                    return True
        finally:
            rs.close()
    return False


def _drop_table_quietly(conn, table: str) -> None:
    """Best-effort DROP (cleanup paths only — never for correctness)."""
    try:
        auto = conn.getAutoCommit()
        conn.setAutoCommit(True)
        stmt = conn.createStatement()
        try:
            stmt.executeUpdate(f"DROP TABLE {table}")
        finally:
            stmt.close()
            conn.setAutoCommit(auto)
    except Exception:
        pass


def _stage_column_overrides(url: str, schema) -> str:
    """``createTableColumnTypes`` override for the upsert stage table.

    DERBY only: its Spark dialect stages StringType as CLOB, which Derby
    cannot compare against the target's VARCHAR inside MERGE ON / UPDATE
    SET — so strings stage as VARCHAR(32672) (Derby's VARCHAR max).
    Every other dialect keeps its native mapping: on MySQL the same
    override would exceed the utf8mb4 VARCHAR (~16383 chars) / 65535-byte
    row limits and fail the stage CREATE outright, while its native TEXT
    compares fine in ``ON DUPLICATE KEY UPDATE``."""
    if not url.startswith("jdbc:derby"):
        return ""
    return ", ".join(
        f"{f.name} VARCHAR(32672)"
        for f in schema.fields
        if f.dataType.simpleString() == "string"
    )


def _upsert_statement(
    url: str, table: str, stage: str, cols: list[str], key_cols: list[str]
) -> str:
    """The one driver-side set-based upsert statement, per dialect.

    - ANSI ``MERGE INTO`` (Derby >= 10.11, PostgreSQL >= 15, Oracle, SQL
      Server, DB2) — the default.
    - MySQL (the reference's actual target DB,
      /root/reference/scripts/loading.py:11,24-32) has no MERGE; its
      idiom is ``INSERT ... SELECT ... ON DUPLICATE KEY UPDATE
      col = VALUES(col)`` — the exact statement shape the reference
      builds per-row, applied set-based from the stage table. Backtick
      quoting per MySQL. (No MySQL server ships in this sandbox, so this
      branch is pinned by an expected-SQL unit test, not a live round
      trip.)
    """
    val_cols = [c for c in cols if c not in key_cols]
    if url.startswith("jdbc:mysql"):
        q = lambda c: f"`{c}`"
        collist = ", ".join(q(c) for c in cols)
        updates = (
            ", ".join(f"{q(c)} = VALUES({q(c)})" for c in val_cols)
            # all-key table: MySQL requires a SET clause; no-op on a key
            or f"{q(key_cols[0])} = {q(key_cols[0])}"
        )
        return (
            f"INSERT INTO {table} ({collist}) SELECT {collist} FROM {stage} "
            f"ON DUPLICATE KEY UPDATE {updates}"
        )
    q = lambda c: f'"{c}"'
    on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in key_cols)
    matched = (
        "WHEN MATCHED THEN UPDATE SET "
        + ", ".join(f"{q(c)} = s.{q(c)}" for c in val_cols)
        + " "
        if val_cols
        else ""
    )
    insert_cols = ", ".join(q(c) for c in cols)
    insert_vals = ", ".join(f"s.{q(c)}" for c in cols)
    return (
        f"MERGE INTO {table} t USING {stage} s ON {on} {matched}"
        f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
    )


def write_jdbc_upsert(
    spark,
    df: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    *,
    driver: str | None = None,
    batchsize: int = 10000,
) -> None:
    """TRUE keyed upsert into a live JDBC database — the reference's
    ``INSERT ... ON DUPLICATE KEY UPDATE`` (scripts/loading.py:24-32) as
    one set-based ``MERGE INTO``: rows whose key exists are UPDATEd in
    place, new keys are INSERTed, untouched rows survive (no truncate).

    Shape, for scale: the updates DataFrame is staged into a scratch
    table with Spark's PARALLEL JDBC writer (N concurrent connections,
    batched inserts — the distributed half of the work), then ONE
    driver-side ``MERGE INTO target USING stage ON keys`` statement lets
    the database apply the delta set-based (the half only the DB can do
    transactionally). MERGE + stage-drop run in a single transaction with
    commit/rollback mirroring the reference (scripts/loading.py:159-168):
    any failure rolls back and the target is untouched.

    First call creates the target with a real ``PRIMARY KEY`` on
    ``key_cols`` (reference CREATE_TABLE_SQL, loading.py:16-21), so key
    uniqueness is DB-enforced, not convention. Dialects: ANSI MERGE
    (Derby ≥10.11, PostgreSQL ≥15, Oracle, SQL Server, DB2) by default;
    ``jdbc:mysql`` URLs switch to the reference's own
    ``INSERT ... ON DUPLICATE KEY UPDATE`` shape (see
    :func:`_upsert_statement`).

    Contract notes:
    - In-batch duplicate keys are collapsed to ONE row per key before
      staging (``dropDuplicates(key_cols)``) — ANSI MERGE rejects a
      source with duplicate matches, while the reference's sequential
      ``executemany`` silently let the last cursor row win; an unordered
      DataFrame has no "last", so the surviving row is arbitrary but the
      key's presence is preserved.
    - On a failed MERGE the transaction rolls back (existing target rows
      untouched) and the stage table is dropped best-effort; if THIS
      call created the target, the empty table is also dropped, so a
      failed first call leaves no trace.
    - On Derby, string columns stage as VARCHAR(32672)
      (``createTableColumnTypes``): Spark's Derby dialect would
      otherwise stage StringType as CLOB, and Derby cannot compare CLOB
      to the target's VARCHAR inside MERGE ON / UPDATE SET. (Strings
      longer than 32672 chars therefore cannot upsert to Derby — an
      engine limit, not ours.) Other dialects keep their native string
      mapping; MySQL targets are created with TEXT value columns and
      VARCHAR(255) key columns (see :func:`_sql_type`).
    """
    missing = [k for k in key_cols if k not in df.columns]
    if missing:
        raise ValueError(f"write_jdbc_upsert: key_cols {missing} not in DataFrame")
    if df.filter(" OR ".join(f"{k} IS NULL" for k in key_cols)).limit(1).count():
        raise ValueError("write_jdbc_upsert: NULL in key column(s)")
    df = df.dropDuplicates(key_cols)

    q = lambda c: '"' + c + '"'  # match Spark's JDBC writer: quoted, case-preserved
    cols = df.columns
    stage = table + "__stage"

    conn = _jdbc_connect(spark, url, driver)
    created_target = False
    try:
        if not _table_exists(conn, table):
            ddl_cols = ", ".join(
                f"{q(f.name)} {_sql_type(f.dataType.simpleString(), url, f.name in key_cols)}"
                + (" NOT NULL" if f.name in key_cols else "")
                for f in df.schema.fields
            )
            pk = ", ".join(q(k) for k in key_cols)
            stmt = conn.createStatement()
            try:
                stmt.executeUpdate(
                    f"CREATE TABLE {table} ({ddl_cols}, PRIMARY KEY ({pk}))"
                )
                created_target = True
            finally:
                stmt.close()

        # distributed half: stage the delta with Spark's parallel writer
        string_overrides = _stage_column_overrides(url, df.schema)
        w = (
            df.write.format("jdbc")
            .mode("overwrite")
            .option("url", url)
            .option("dbtable", stage)
            .option("batchsize", batchsize)
        )
        if string_overrides:
            w = w.option("createTableColumnTypes", string_overrides)
        if driver:
            w = w.option("driver", driver)
        w.save()

        upsert_sql = _upsert_statement(url, table, stage, cols, key_cols)

        # transactional half: upsert + stage drop commit or roll back
        # together
        conn.setAutoCommit(False)
        stmt = conn.createStatement()
        try:
            stmt.executeUpdate(upsert_sql)
            stmt.executeUpdate(f"DROP TABLE {stage}")
            conn.commit()
        except Exception:
            conn.rollback()
            # the rollback also undid the transactional stage DROP (DDL
            # is transactional on Derby) and the Spark stage write was
            # autocommitted — clean both up so a retry starts fresh, and
            # drop the empty target if this very call created it
            _drop_table_quietly(conn, stage)
            if created_target:
                _drop_table_quietly(conn, table)
            raise
        finally:
            stmt.close()
    finally:
        conn.close()


def write_jdbc_replace(df: DataFrame, url: str, table: str, **options) -> None:
    """L2 (reference scripts/loading.py:134-172): observable behavior is
    full replace — truncate + batch insert. mode('overwrite') with
    truncate=true is semantically exact; batching replaces executemany.
    Requires a JDBC driver jar on the classpath."""
    w = (
        df.write.format("jdbc")
        .mode("overwrite")
        .option("url", url)
        .option("dbtable", table)
        .option("truncate", True)
        .option("batchsize", options.pop("batchsize", 10000))
    )
    for k, v in options.items():
        w = w.option(k, v)
    w.save()
