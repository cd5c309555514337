"""Shared column-expression helpers (all JVM-side, codegen-friendly)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(c: Column) -> Column:
    """Round a money expression to cents with pure IEEE float ops:
    floor(x*100 + 0.5)/100.

    Why not F.round: Spark rounds the value's DECIMAL STRING representation
    (BigDecimal HALF_UP on Double.toString) while DuckDB and most engines
    round the binary double — the two disagree whenever the shortest
    decimal repr ends in ...5. floor/multiply/divide are IEEE-exact and
    bit-identical in every engine given the same input double.

    SQL equivalent (DuckDB oracle): FLOOR(x * 100 + 0.5) / 100
    """
    return F.floor(c * 100 + F.lit(0.5)) / 100


def spread(df, min_partitions: int | None = None):
    """Repartition a DataFrame up to the cluster's parallelism when its
    scan produced too few splits. A small parquet file arrives as ONE
    partition, serializing every downstream CPU-heavy expression (regex
    shingling, per-row hashing) onto one core; at 100 TB the scan itself
    yields thousands of splits and this is a no-op. Round-robin is fine:
    callers do per-row work, not keyed work.

    Post-shuffle frames return UNCHANGED without probing (r12): an
    aggregated/joined frame is already spread across its shuffle
    partitions, and the probe below (``df.rdd.getNumPartitions()``) is a
    TRAP on such frames — resolving an adaptive plan's final partitioning
    MATERIALIZES every upstream query stage as its own job (measured:
    the full word count ran as a silent extra job in bpe_train). The
    pre-AQE physical plan is inspected WITHOUT executing anything; only
    exchange-free (scan-shaped) plans go on to the cheap partition
    probe."""
    if "Exchange" in df._jdf.queryExecution().sparkPlan().toString():
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
