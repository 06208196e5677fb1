"""Parquet bronze/gold storage (SURVEY §2.1 S4-S6, §1.3).

The reference's two-tier layout maps to a bronze/gold parquet design:

- ``ENGINE = Log`` staging (README.md:506)          -> bronze parquet
- ``ENGINE = MergeTree(pickup_date, pickup_datetime, 8192)``
  (README.md:548)                                   -> gold parquet,
  hive-partitioned by month + sorted within partitions, so:
  * hive dir pruning      ≈ MergeTree partition pruning      (X2)
  * row-group min/max + page index over the sorted clustering
    columns               ≈ the sparse primary index         (X3)
  * parquet dictionary    ≈ Enum8 dictionary coding          (X4)
- prepared-partition attach (README.md:882-902)     -> reading the
  published directory IS the attach; zero-copy by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: clustering of the curated table (README.md:548)
GOLD_SORT_COLS = ("pickup_date", "pickup_datetime")
GOLD_PARTITION_COL = "pickup_month"


def write_bronze(df: DataFrame, path: str, mode: str = "append") -> None:
    """S4: append-only staging sink (the ENGINE=Log analog)."""
    df.write.mode(mode).parquet(path)


def write_gold(
    curated: DataFrame,
    path: str,
    max_records_per_file: int = 20_000_000,
    target_partitions: int | None = None,
) -> None:
    """S5: the CTAS analog — partitioned, sort-clustered columnar write.

    Plan shape: derive month -> repartition by month (one shuffle,
    co-locating each hive partition's rows) -> sortWithinPartitions on
    month, then the clustering key -> partitionBy write.  At 100 TB the
    single shuffle is the unavoidable cost of clustering; everything after is
    map-side.  ``target_partitions`` caps file count per month when a
    month is large (repartition(n, col) spreads via hash of month +
    random tiebreak is NOT used — rows of one month stay together).
    """
    with_month = curated.withColumn(
        GOLD_PARTITION_COL, F.date_format(F.col("pickup_date"), "yyyy-MM")
    )
    parts = [F.col(GOLD_PARTITION_COL)]
    if target_partitions:
        repartitioned = with_month.repartition(target_partitions, *parts)
    else:
        repartitioned = with_month.repartition(*parts)
    # the partition column leads the sort: a planned write requires its
    # input ordered by the partition column and, when the plan's ordering
    # does not start with it, replaces the whole sort with one on the
    # partition column alone, leaving the files unclustered
    (
        repartitioned.sortWithinPartitions(GOLD_PARTITION_COL, *GOLD_SORT_COLS)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(GOLD_PARTITION_COL)
        .parquet(path)
    )


def attach_gold(
    spark: SparkSession, path: str, table: str | None = None, schema=None
) -> DataFrame:
    """S6: prepared-partition attach — a published gold directory is
    queryable immediately (README.md:882-902's untar+restart becomes a
    single read); optionally register in the catalog for SQL access.

    ``schema`` makes the attach total: a gold table that is currently
    EMPTY (no partitions published yet — normal for a fresh pipeline)
    has no footer to infer from, and the known table schema is what a
    production catalog would supply."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(path)
    if table:
        df.createOrReplaceTempView(table)
    return df
