"""S6: JDBC scan/sink wrappers (DatabaseManager.kt:90-121's query surface).

Built on Spark's standard JDBC source; the database's driver jar must be on
the classpath. tests/test_relational_extra.py runs the scan end to end
against the embedded Derby that ships with Spark.

Scale notes: ``partition_column``/bounds split the scan into parallel range
queries — without them a JDBC read is a single task regardless of cluster
size. Predicates push down into the remote WHERE clause.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    **options: str,
) -> DataFrame:
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def recent_orders(orders: DataFrame, n: int = 20) -> DataFrame:
    """S6/O4: SELECT ... ORDER BY created_at DESC LIMIT n
    (DatabaseManager.kt:92-96; justfile:82,86) — Spark plans this as
    TakeOrderedAndProject (per-partition top-n, then merge), never a full
    sort."""
    order_cols = [c for c in ("created_at_s", "created_at") if c in orders.columns]
    return orders.orderBy(F.desc(order_cols[0]), F.desc("id")).limit(n)
