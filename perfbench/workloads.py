"""The benchmark's workloads: named lists of operations, each with a check.

An operation is one query's construct plus its action, one day's load, or
one sink call. ``construct`` builds what the operation acts on (for a
registry query: everything up to the return of the DataFrame, including
the eager jobs some queries run while building it); ``execute`` is the
action or sink call. Both are timed. ``verify`` runs only in the
untimed verification pass and raises :class:`CheckFailed` on a wrong
output; ``prepare`` runs untimed before each execution.
"""

from __future__ import annotations

import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from etl_pipeline_for_retail_sales_data_spark import sinks
from etl_pipeline_for_retail_sales_data_spark.plans.daily import run_daily
from etl_pipeline_for_retail_sales_data_spark.plans.retail import retail_summary, validated_summary
from etl_pipeline_for_retail_sales_data_spark.queries_registry import ORACLES, QUERIES
from etl_pipeline_for_retail_sales_data_spark.sources.readers import sales_from_lineitem

#: Read queries over the retail star schema: a join and an event-time
#: window; both run in the JVM.
OLAP_QUERIES = ["q3_shipping_priority", "sessionization"]
#: Iterative dedup (n-gram pair self-join, then components and PageRank as
#: construction-time jobs with checkpoints) and a per-row codec in Python
#: workers.
CORPUS_QUERIES = ["canonical_dedup_pipeline", "multimodal_h264_roundtrip"]

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

#: The retail summary (and, with a date filter, one day of it) in DuckDB.
SUMMARY_SQL = """
    SELECT l_partkey AS product_id,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_quantity,
           ROUND(SUM(l_extendedprice), 2) AS total_sale_amount
    FROM lineitem
    WHERE l_quantity > 0 AND l_extendedprice > 0 {where}
    GROUP BY l_partkey
"""
N_RUN_DATES = 2
N_MERGE_KEYS = 64


class CheckFailed(Exception):
    """An operation's output disagrees with its reference."""


def norm_rows(cols, rows) -> list[str]:
    """Order-free row fingerprints: columns sorted by name, floats rounded
    to 9 places (with -0.0 folded into 0.0), rows sorted. The same rule as
    the oracle drive (``tools/drive_contract.py``), kept here so the
    benchmark depends only on the package it measures."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
                if v == -0.0:
                    v = 0.0
            vals.append(repr(v))
        out.append("|".join(vals))
    out.sort()
    return out


def same_rows(what: str, got_cols, got_rows, want_cols, want_rows) -> None:
    got_cols = [c.lower() for c in got_cols]
    want_cols = [c.lower() for c in want_cols]
    if sorted(got_cols) != sorted(want_cols):
        raise CheckFailed(f"{what}: columns {sorted(got_cols)} != {sorted(want_cols)}")
    if len(got_rows) != len(want_rows):
        raise CheckFailed(f"{what}: {len(got_rows)} rows, expected {len(want_rows)}")
    got, want = norm_rows(got_cols, got_rows), norm_rows(want_cols, want_rows)
    if got != want:
        bad = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
        raise CheckFailed(f"{what}: row {bad} is {got[bad]!r}, expected {want[bad]!r}")


def dir_files(path: str) -> dict[str, int]:
    """Size of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            p = os.path.join(root, name)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def output_stats(paths: list[str], since: float) -> tuple[int, int]:
    """Live bytes under ``paths``, and data files modified at or after
    ``since`` (Spark's ``_SUCCESS`` and ``.crc`` files not counted)."""
    live = written = 0
    for p in paths:
        for f, size in ({p: os.path.getsize(p)} if os.path.isfile(p) else dir_files(p)).items():
            live += size
            written += os.path.getmtime(f) >= since and not os.path.basename(f).startswith(("_", "."))
    return live, written


@dataclass
class Context:
    """Run-level state shared by the operations of one workload run. The
    seed picks the retail run dates and merge keys from the data."""

    spark: object
    sf_dir: str
    work_dir: str
    seed: int
    duck: duckdb.DuckDBPyConnection = field(init=False)
    run_dates: list[str] = field(init=False)
    merge_keys: list[int] = field(init=False)
    _oracles: dict = field(default_factory=dict, init=False)

    def __post_init__(self):
        os.makedirs(self.out(""), exist_ok=True)
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 4")
        for t in TABLES:
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        rng = random.Random(self.seed)
        days = [str(r[0]) for r in self.duck.execute("SELECT DISTINCT CAST(l_shipdate AS DATE) FROM lineitem ORDER BY 1").fetchall()]
        keys = [r[0] for r in self.duck.execute("SELECT p_partkey FROM part ORDER BY 1").fetchall()]
        self.run_dates = sorted(rng.sample(days, N_RUN_DATES))
        self.merge_keys = sorted(rng.sample(keys, N_MERGE_KEYS))

    def oracle(self, key: str, sql: str):
        """Columns and rows of ``sql`` in DuckDB, computed once per run."""
        if key not in self._oracles:
            res = self.duck.execute(sql)
            self._oracles[key] = ([d[0] for d in res.description], res.fetchall())
        return self._oracles[key]

    def out(self, name: str) -> str:
        return os.path.join(self.work_dir, "out", name)

    def close(self) -> None:
        self.duck.close()


@dataclass
class Op:
    name: str
    construct: Callable[[Context], object]
    execute: Callable[[Context, object], None]
    verify: Callable[[Context, object], None]
    sink: str | None = None  # the public sink function ``execute`` calls
    prepare: Callable[[Context], None] | None = None


# --- registry queries -------------------------------------------------------


def _noop_write(ctx: Context, df) -> None:
    df.write.format("noop").mode("overwrite").save()


def query_op(name: str) -> Op:
    def construct(ctx: Context):
        return QUERIES[name](ctx.spark, ctx.sf_dir)

    def verify(ctx: Context, df) -> None:
        rows = [tuple(r) for r in df.collect()]
        same_rows(name, df.columns, rows, *ctx.oracle(name, ORACLES[name]))

    return Op(name, construct, _noop_write, verify)


# --- retail ETL: the paper's pipeline with its sinks -------------------------


def _summary(ctx: Context):
    return validated_summary(retail_summary(ctx.spark, ctx.sf_dir))


def _summary_oracle(ctx: Context):
    return ctx.oracle("summary", SUMMARY_SQL.format(where=""))


def _read_parquet_dir(ctx: Context, path: str):
    res = ctx.duck.execute(f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = false)")
    return [d[0] for d in res.description], res.fetchall()


def _check_summary_parquet(ctx: Context, _state=None) -> None:
    same_rows("summary parquet", *_read_parquet_dir(ctx, ctx.out("summary")), *_summary_oracle(ctx))


def _check_summary_csv(ctx: Context, _state=None) -> None:
    res = ctx.duck.execute(
        "SELECT product_id::BIGINT AS product_id, total_quantity::BIGINT AS total_quantity, "
        "total_sale_amount::DOUBLE AS total_sale_amount "
        f"FROM read_csv('{ctx.out('summary.csv')}', header = true, all_varchar = true)"
    )
    same_rows("summary csv", [d[0] for d in res.description], res.fetchall(), *_summary_oracle(ctx))


def _day_dir(ctx: Context, day: str) -> str:
    return os.path.join(ctx.out("daily"), f"sale_date={day}")


def check_day(ctx: Context, day: str) -> None:
    """The day's partition holds exactly that day's summary, once."""
    want = ctx.oracle(f"day {day}", SUMMARY_SQL.format(where=f"AND CAST(l_shipdate AS DATE) = DATE '{day}'"))
    same_rows(f"daily {day}", *_read_parquet_dir(ctx, _day_dir(ctx, day)), *want)


def daily_op(day: str) -> Op:
    def construct(ctx: Context):
        return sales_from_lineitem(ctx.spark, ctx.sf_dir)

    def execute(ctx: Context, sales) -> None:
        run_daily(ctx.spark, sales, day, ctx.out("daily"))

    def verify(ctx: Context, sales) -> None:
        check_day(ctx, day)
        first = len(os.listdir(_day_dir(ctx, day)))
        execute(ctx, sales)  # a re-run must replace the partition, not add to it
        check_day(ctx, day)
        again = len(os.listdir(_day_dir(ctx, day)))
        if again != first:
            raise CheckFailed(f"daily {day}: re-run left {again} files, the first run {first}")

    return Op(f"daily_{day}", construct, execute, verify, sink="plans.daily.run_daily")


def _merge_rows(ctx: Context) -> list[tuple]:
    return [(k, 1_000_000 + k, k + 0.25) for k in ctx.merge_keys]


def _merge_updates(ctx: Context):
    return ctx.spark.createDataFrame(_merge_rows(ctx), "product_id long, total_quantity long, total_sale_amount double")


def _merge_base(ctx: Context) -> str:
    return os.path.join(ctx.work_dir, "merge_base")


def write_merge_base(ctx: Context) -> None:
    """The table every merge starts from: the oracle summary, one file."""
    cols, rows = _summary_oracle(ctx)
    types = [pa.int64(), pa.int64(), pa.float64()]
    os.makedirs(_merge_base(ctx), exist_ok=True)
    table = pa.table({c: pa.array([r[i] for r in rows], t) for i, (c, t) in enumerate(zip(cols, types))})
    pq.write_table(table, os.path.join(_merge_base(ctx), "part-00000.parquet"))


def _reset_merge_target(ctx: Context) -> None:
    shutil.rmtree(ctx.out("merged"), ignore_errors=True)
    shutil.copytree(_merge_base(ctx), ctx.out("merged"))


def _check_merge(ctx: Context, _state=None) -> None:
    """Exactly the seeded keys were replaced; every other row is kept."""
    cols, want = _summary_oracle(ctx)
    keys = set(ctx.merge_keys)
    expected = [r for r in want if r[0] not in keys] + _merge_rows(ctx)
    same_rows("merge", *_read_parquet_dir(ctx, ctx.out("merged")), cols, expected)


def retail_ops(ctx: Context) -> list[Op]:
    write_merge_base(ctx)
    return [
        Op("write_parquet", _summary, lambda c, df: sinks.write_parquet(df, c.out("summary")),
           _check_summary_parquet, sink="sinks.write_parquet"),
        Op("write_csv_single_file", _summary, lambda c, df: sinks.write_csv_single_file(df, c.out("summary.csv")),
           _check_summary_csv, sink="sinks.write_csv_single_file"),
        *[daily_op(d) for d in ctx.run_dates],
        Op("merge_parquet", _merge_updates,
           lambda c, upd: sinks.merge_parquet(c.spark, upd, c.out("merged"), ["product_id"]),
           _check_merge, sink="sinks.merge_parquet", prepare=_reset_merge_target),
        *[query_op(n) for n in OLAP_QUERIES],
    ]


def retail_final_checks(ctx: Context) -> list[tuple[str, Callable[[], None]]]:
    """Checks on what the timed passes left on disk: every re-run day
    still holds exactly its own rows, and the other outputs still match."""
    checks = [(f"final daily_{d}", lambda d=d: check_day(ctx, d)) for d in ctx.run_dates]
    checks += [
        ("final summary parquet", lambda: _check_summary_parquet(ctx)),
        ("final summary csv", lambda: _check_summary_csv(ctx)),
        ("final merge", lambda: _check_merge(ctx)),
    ]
    return checks


@dataclass
class Workload:
    name: str
    ops: Callable[[Context], list[Op]]
    final_checks: Callable[[Context], list] = lambda ctx: []
    outputs: Callable[[Context], list[str]] = lambda ctx: []  # what the sinks write


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "retail_etl", retail_ops, retail_final_checks,
            lambda ctx: [ctx.out(n) for n in ("summary", "summary.csv", "daily", "merged")],
        ),
        Workload("corpus_pipelines", lambda ctx: [query_op(n) for n in CORPUS_QUERIES]),
    ]
}
