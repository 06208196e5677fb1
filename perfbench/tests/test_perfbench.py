"""Checks of the benchmark itself, at a tiny scale.

    python -m pytest perfbench/tests -q

Each run starts its own SparkSession, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import inputs  # noqa: E402
import run  # noqa: E402

SCALE = 0.05
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
REPORTED = {
    "gold_pipeline": ("build_s", "build_rows_per_s", "gold_bytes_per_row", "q1_s",
                      "q2_s", "q3_s", "q4_s", "queries_per_s"),
    "registry_ops": ("graph_pagerank_s", "mad_outliers_s", "denormalize_join_s",
                     "q1_group_count_s"),
}


def _bench(monkeypatch, workload, trace, seed=1):
    monkeypatch.chdir(BENCH)  # run_benchmark moves into its work directory
    return run.run_benchmark(workload, seed, seconds=0.1, trace=trace, scale=SCALE)


@pytest.mark.parametrize("workload", list(REPORTED))
@pytest.mark.parametrize("trace", [False, True])
def test_every_metric_prints_with_its_unit(monkeypatch, workload, trace):
    result, report = _bench(monkeypatch, workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = SPEC["per_layer" if trace else "end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in expected}
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())
    named = report["metrics"]
    for name in ("setup_s", "pass_s", "pass_cpu_s", "error_rate", "peak_rss_mb",
                 *REPORTED[workload]):
        assert named[name]["unit"]
    assert named["error_rate"]["value"] == 0
    json.dumps(result)  # the result line must serialise


def test_a_corrupted_result_counts_as_failed(monkeypatch):
    from nyc_taxi_data_clickhouse_spark.plans import queries

    real_q1 = queries.q1
    monkeypatch.setattr(queries, "q1", lambda trips: real_q1(trips).limit(1))
    result, report = _bench(monkeypatch, "gold_pipeline", trace=False)
    assert not result["correct"]
    assert result["failed"] >= 1
    assert report["metrics"]["error_rate"]["value"] > 0


def _tables(path):
    return {f.name: pq.read_table(f) for f in sorted(Path(path).glob("*.parquet"))}


def test_the_same_seed_writes_the_same_inputs(tmp_path):
    for seed, name in ((7, "a"), (7, "b"), (8, "c")):
        inputs.write_lineitem(str(tmp_path / name / "lineitem"), 5_000, 3, seed)
        inputs.write_suite_tables(str(tmp_path / name / "tables"), seed, scale=0.1)
    for table in ("lineitem", "tables"):
        a, b, c = (_tables(tmp_path / n / table) for n in "abc")
        assert a.keys() == b.keys() == c.keys()
        assert all(a[f].equals(b[f]) for f in a)
        assert not all(a[f].equals(c[f]) for f in a)
