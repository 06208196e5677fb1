"""The parquet schema memo behind ``suite.load_table``: a table read
again unchanged fires no schema-inference job, and a rewritten table,
or one read under different inference confs, is inferred afresh."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from tests.conftest import SF_CORRECTNESS

from nyc_taxi_data_clickhouse_spark import suite

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _newest_job_id(spark) -> int:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    it = jsc.statusStore().jobsList(None).iterator()  # newest job first
    return it.next().jobId() if it.hasNext() else -1


def _write(path, **cols) -> None:
    path.mkdir(exist_ok=True)
    pq.write_table(pa.table(cols), path / "part-0.parquet")


def test_unchanged_table_fires_no_job_on_reload(spark, tmp_path):
    _write(tmp_path / "t.parquet", a=[1, 2, 3])
    suite.load_table(spark, str(tmp_path), "t")
    before = _newest_job_id(spark)
    df = suite.load_table(spark, str(tmp_path), "t")
    assert _newest_job_id(spark) == before
    assert df.columns == ["a"] and df.count() == 3


def test_rewritten_table_returns_new_column(spark, tmp_path):
    _write(tmp_path / "t.parquet", a=[1, 2])
    assert suite.load_table(spark, str(tmp_path), "t").columns == ["a"]
    _write(tmp_path / "t.parquet", a=[1, 2], b=["x", "y"])
    df = suite.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_nanos_conf_flip_is_not_served_stale(spark, tmp_path):
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    _write(tmp_path / "t.parquet", ts=ts)
    assert spark.conf.get(NANOS) == "true"
    assert dict(suite.load_table(spark, str(tmp_path), "t").dtypes)["ts"] == "bigint"
    spark.conf.set(NANOS, "false")
    try:
        # without the flag Spark refuses TIMESTAMP(NANOS) or reads it
        # as a timestamp; either way not the memoized bigint schema
        try:
            dtype = dict(suite.load_table(spark, str(tmp_path), "t").dtypes)["ts"]
        except Exception as e:  # noqa: BLE001 - Spark's analysis error
            assert "NANOS" in str(e)
        else:
            assert dtype != "bigint"
    finally:
        spark.conf.set(NANOS, "true")


def test_memo_is_bounded(spark, tmp_path):
    memo = suite.SchemaMemo(max_entries=2)
    for name in ("a", "b", "c"):
        _write(tmp_path / name, x=[1])
        memo.read(spark, str(tmp_path / name))
    assert len(memo) == 2
    # the least recently read table is the one evicted
    before = _newest_job_id(spark)
    memo.read(spark, str(tmp_path / "c"))
    assert _newest_job_id(spark) == before
    memo.read(spark, str(tmp_path / "a"))
    assert _newest_job_id(spark) > before
    assert len(memo) == 2


def test_non_local_path_is_not_fingerprinted(tmp_path):
    assert suite.files_fingerprint("s3a://bucket/t.parquet") is None
    assert suite.files_fingerprint(str(tmp_path / "missing")) is None
    _write(tmp_path / "t", x=[1])
    assert suite.files_fingerprint(f"file://{tmp_path}/t") == \
        suite.files_fingerprint(str(tmp_path / "t"))


@pytest.mark.parametrize("name", ["lineitem", "events"])
def test_memoized_schema_equals_inferred(spark, name):
    """The schema handed to later loads is the one inference returns."""
    inferred = spark.read.parquet(f"{SF_CORRECTNESS}/{name}.parquet").schema
    for _ in range(2):
        assert suite.load_table(spark, SF_CORRECTNESS, name).schema == inferred
