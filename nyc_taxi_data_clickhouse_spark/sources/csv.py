"""CSV source/sink (SURVEY §2.1 S1-S3).

The reference's ingest is ``gunzip | trans.py | clickhouse-client
INSERT FORMAT CSV`` per shard, serially (reference README.md:527-533;
src/trans.py normalizes empty fields to ``\\N``).  In Spark the whole
pipeline collapses into reader options on ONE multi-file read:

- gzip decompression is automatic from the ``.gz`` extension
- ``trans.py`` disappears: ``nullValue='\\N'`` + ``emptyValue`` handling
  makes empty-and-\\N both NULL at parse time (S2)
- the serial per-shard loop becomes file-level parallelism — every
  shard is a split, all cores busy (SURVEY §3 E2)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from nyc_taxi_data_clickhouse_spark.schema import TRIPS_STAGING_SCHEMA

#: Format options every CSV read and write here shares, so a written
#: shard always parses back: ``\N`` is NULL, and timestamps have second
#: precision like the reference export CSV (README.md:311-365).  The NTZ
#: variant covers parquet columns with isAdjustedToUTC=false, which
#: surface as TIMESTAMP_NTZ and have their own format option.
_CSV_FORMAT = {
    "nullValue": "\\N",
    "timestampFormat": "yyyy-MM-dd HH:mm:ss",
    "timestampNTZFormat": "yyyy-MM-dd HH:mm:ss",
    "dateFormat": "yyyy-MM-dd",
}


def read_trips_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType = TRIPS_STAGING_SCHEMA,
) -> DataFrame:
    """S1+S2: read raw (optionally gzipped) trip CSV shards.

    Explicit schema — never inferSchema: inference scans the data
    twice and guesses types per-run, which breaks schema stability at
    100 TB.  Both '' and '\\N' parse as NULL, subsuming trans.py.
    ``mode=PERMISSIVE`` keeps malformed rows as NULLs instead of
    failing the job (a single bad row must not kill a cluster run).
    """
    return (
        spark.read.schema(schema)
        .options(**_CSV_FORMAT)
        .option("emptyValue", "\\N")  # '' -> null, like trans.py
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def write_csv_shards(
    df: DataFrame,
    path: str,
    max_records_per_file: int = 20_000_000,
    compression: str = "gzip",
) -> None:
    """S3: partitioned compressed CSV sink.

    Mirrors ``COPY ... TO PROGRAM 'split -l 20000000 | gzip'``
    (README.md:310-377): fixed-size gzipped shards, written in
    parallel by every task instead of one serial pipe.
    """
    (
        df.write.mode("overwrite")
        .option("compression", compression)
        .option("maxRecordsPerFile", max_records_per_file)
        .options(**_CSV_FORMAT)
        .option("emptyValue", "")
        .csv(path)
    )


def read_csv_with_audit(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """S1 hardened: PERMISSIVE read that CAPTURES malformed rows in
    ``corrupt_col`` instead of silently nulling them, so ingest can
    split the stream into (clean rows, quarantine rows) in one pass —
    the audit trail a 100 TB load needs when one shard in ten
    thousand is truncated.

    Usage::

        df = read_csv_with_audit(spark, path, SCHEMA)
        clean = df.filter(df[corrupt_col].isNull()).drop(corrupt_col)
        quarantine = df.filter(df[corrupt_col].isNotNull())
    """
    audited = T.StructType(
        schema.fields + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    return (
        spark.read.schema(audited)
        .options(**_CSV_FORMAT)
        .option("emptyValue", "\\N")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    )
