"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in ``nyc_taxi_data_clickhouse_spark.suite``; this
file is just the adapter.  Its entries come in ``driver_window`` order,
because the driver hash-checks only a bounded prefix each round.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# make the package importable regardless of the driver's cwd
_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import driver_window  # noqa: E402
from nyc_taxi_data_clickhouse_spark import suite as _suite  # noqa: E402

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Flagship = the denormalizing multi-join + Q4-shaped aggregation,
    i.e. the reference's whole pipeline in one plan (SURVEY §3 E1/E3).
    """
    from pyspark.sql import functions as F

    joined = _suite.denormalize_join(spark, _SMOKE_SF_DIR)
    return (
        joined.groupBy("cust_region", "supp_nation")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
        .orderBy(F.col("cnt").desc(), "cust_region", "supp_nation")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.spark for name, spec in driver_window.ordered_registry().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle for each SQL-expressible query."""
    return {
        name: spec.oracle
        for name, spec in driver_window.ordered_registry().items()
        if spec.oracle is not None
    }
