"""Interactive read path (SURVEY §3.2): gold tables as registered
views + a screener query API.

The reference serves `analytics.stock_screen` through PostgREST with
caller-pushed filter/sort/limit (00051:18-53) over a stored table, one
row per stock; here the same contract is `spark.sql` over temp views.
The screener view composes the latest-per-key snapshot with the
published aggregate exactly like J5, and `register_views` materializes
it once (`CACHE TABLE`, one row per customer), so each screen runs its
filter/sort/limit over the cached rows in one Spark job. The cache
holds the inputs as they were at registration: callers re-register
after the inputs change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .sources import TABLE_NAMES, load_table

__all__ = ["register_views", "screen"]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every base table and the derived `customer_screen` view,
    materialized now (eager `CACHE TABLE`, MEMORY_AND_DISK). Calling it
    again replaces the view, and `CREATE OR REPLACE` uncaches the old
    rows."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW customer_screen AS
        WITH latest AS (
          SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate FROM (
            SELECT *, row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders
          ) WHERE rn = 1
        )
        SELECT c.c_custkey, c.c_name, c.c_mktsegment, c.c_acctbal,
               l.o_orderkey AS latest_orderkey,
               l.o_totalprice AS latest_price,
               l.o_orderdate AS latest_orderdate
        FROM customer c LEFT JOIN latest l ON c.c_custkey = l.o_custkey
        """
    )
    spark.sql("CACHE TABLE customer_screen")


_ALLOWED_COLS = frozenset(
    {
        "c_custkey",
        "c_name",
        "c_mktsegment",
        "c_acctbal",
        "latest_orderkey",
        "latest_price",
        "latest_orderdate",
    }
)


def screen(
    spark: SparkSession,
    *,
    segment: str | None = None,
    min_acctbal: float | None = None,
    order_by: str = "latest_price",
    descending: bool = True,
    limit: int = 50,
) -> DataFrame:
    """The screener read: filter/sort/limit over the `customer_screen`
    rows `register_views` materialized — the PostgREST query-param
    contract as a typed API (no raw SQL injection: columns are
    allow-listed, values are parameterized). It serves the inputs as of
    the last `register_views`; re-register after they change."""
    if order_by not in _ALLOWED_COLS:
        raise ValueError(f"order_by must be one of {sorted(_ALLOWED_COLS)}")
    df = spark.table("customer_screen")
    if segment is not None:
        df = df.filter(df.c_mktsegment == segment)
    if min_acctbal is not None:
        df = df.filter(df.c_acctbal >= min_acctbal)
    col = df[order_by]
    return df.orderBy(col.desc_nulls_last() if descending else col.asc_nulls_last()).limit(
        max(1, min(limit, 1000))
    )
