"""Aggregations (SURVEY.md §2.6).

A1 is one hash aggregation; Spark plans partial (map-side) + final agg
around a single exchange hash-partitioned on the group key — the optimal
physical shape at any scale. Skewed hot keys are handled by AQE
(skewJoin/coalesce) rather than hand-salting for a plain agg, because
partial aggregation already collapses per-partition duplicates before the
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def aggregate_sales(df: DataFrame) -> DataFrame:
    """A1 (reference aggregate_sales, scripts/transformation.py:95-121):
    GROUP BY product_id → SUM(quantity), SUM(sale_amount). Date is
    deliberately NOT a group key (scripts/transformation.py:113).

    total_quantity is long (MySQL DDL INT, scripts/loading.py:19);
    total_sale_amount computed in double, rounded at the edge (§1.3)."""
    return df.groupBy("product_id").agg(
        F.sum("quantity").cast("long").alias("total_quantity"),
        F.round(F.sum("sale_amount"), 2).alias("total_sale_amount"),
    )


def summary_ordered(df: DataFrame) -> DataFrame:
    """Pandas groupby sorts by key (SURVEY.md §2.6 hidden semantic) —
    explicit orderBy for golden-file parity."""
    return df.orderBy("product_id")
