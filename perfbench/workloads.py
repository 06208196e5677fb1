"""The benchmark's workloads, driven through the package's public
functions only.

Each workload generates its inputs in :meth:`prepare` (timed as set-up),
computes the oracle answers in :meth:`expect` (untimed), and then runs
operations of a few kinds.  :meth:`run` is one operation, the part the
runner times; :meth:`traced` is the same operation split into spans
around the calls into each layer; :meth:`verify` checks an operation's
output against an independent DuckDB answer, outside the timed part.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import sys
import time
from pathlib import Path

import duckdb

from nyc_taxi_data_clickhouse_spark import suite
from nyc_taxi_data_clickhouse_spark.plans import queries
from nyc_taxi_data_clickhouse_spark.plans.pipeline_e2e import (
    synth_trips_staging,
    trips_e2e_aggregate,
)
from nyc_taxi_data_clickhouse_spark.plans.transform import curate_trips
from nyc_taxi_data_clickhouse_spark.sources.csv import read_trips_csv, write_csv_shards
from nyc_taxi_data_clickhouse_spark.sources.parquet import attach_gold, write_gold

import inputs
from tracing import Tracer, seconds

sys.path.insert(0, str(Path(suite.__file__).resolve().parents[1] / "tests"))
from oracle_util import _hash_rows, _tolerant_match, duckdb_run  # noqa: E402

#: the reference build: 1.1 B rows, Log -> MergeTree, 4 h 40 m on 4 cores
#: (BASELINE.md, data-volume table)
REF_ROWS = 1.1e9
REF_BUILD_ROWS_PER_S_PER_CORE = REF_ROWS / (4 * 3600 + 40 * 60) / 4
#: the reference's Q1-Q4 on AWS m5.xlarge, 4 vCPU (BASELINE.md)
REF_QUERY_S = {"q1": 3.539, "q2": 10.347, "q3": 17.169, "q4": 24.879}
REF_CORES = 4

QUERIES = ("q1", "q2", "q3", "q4")
#: the registry entries the registry_ops workload cycles through
OPERATORS = (
    "graph_pagerank",
    "mad_outliers",
    "denormalize_join",
    "q1_group_count",
)


class Expected:
    """An oracle answer, compared exactly as the suite's DuckDB gate
    compares (``tests/oracle_util.py``): order-insensitive value hash
    over name-sorted columns, then the bounded last-decimal tolerance."""

    def __init__(self, pdf) -> None:
        self.cols = list(pdf.columns)
        self.rows = [
            tuple(None if x is None or (isinstance(x, float) and math.isnan(x)) else x
                  for x in row)
            for row in pdf.itertuples(index=False, name=None)
        ]
        self.digest = _hash_rows(self.cols, self.rows)

    def matches(self, cols: list[str], rows: list) -> bool:
        rows = [tuple(r) for r in rows]
        if len(rows) != len(self.rows) or sorted(cols) != sorted(self.cols):
            return False
        return (_hash_rows(cols, rows) == self.digest
                or _tolerant_match(cols, rows, self.cols, self.rows))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a parquet table directory."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _median(vals: list[float]) -> float:
    return statistics.median(vals) if vals else 0.0


def _median_of(spans: list[dict], name: str, value) -> float:
    return _median([value(s) for s in spans if s["name"] == name])


class Workload:
    name: str
    kinds: tuple[str, ...]
    #: unmeasured passes first: the first pass takes 2-4x a warm one, and
    #: the JIT and Spark's code-generation cache keep warming for a few
    #: passes more over the same operations
    warm_up_passes = 3

    def __init__(self, spark, scale: float) -> None:
        self.spark, self.scale = spark, scale

    def order(self, seed: int) -> list[str]:
        """The kinds of one pass, in the order the seed picks."""
        kinds = list(self.kinds)
        random.Random(seed).shuffle(kinds)
        return kinds

    def prepare(self, root: str, seed: int) -> dict:
        raise NotImplementedError

    def expect(self) -> None:
        raise NotImplementedError

    def run(self, kind: str):
        raise NotImplementedError

    def verify(self, kind: str, out) -> bool:
        raise NotImplementedError

    def traced(self, tracer: Tracer, kind: str, parent: int):
        """Returns (output, wall of the traced call comparable to run())."""
        raise NotImplementedError

    def layers(self, spans: list[dict], cores: int) -> dict[str, float]:
        raise NotImplementedError

    def report(self, medians: dict[str, float], cores: int) -> dict[str, tuple]:
        raise NotImplementedError


class GoldPipeline(Workload):
    """The reference's workload end to end: CSV.gz shards ->
    ``read_trips_csv`` -> ``curate_trips`` -> ``write_gold`` ->
    ``attach_gold``, then Q1-Q4 on the fresh gold table.

    A pass is one build followed by the four queries in seed order.
    The build is write-heavy (CSV parse, curation, the sorted,
    month-partitioned write).  At this size each query costs about one
    Spark job's fixed cost: the queries show planning, file listing and
    job overhead on the layout the build chose, not scan speed.
    """

    name = "gold_pipeline"
    kinds = ("build",) + QUERIES
    ROWS = 120_000
    LINEITEM_FILES = 4
    CSV_SHARDS = 8

    def order(self, seed):
        kinds = super().order(seed)
        kinds.remove("build")
        return ["build", *kinds]

    def prepare(self, root, seed):
        self.rows = max(1_000, int(self.ROWS * self.scale))
        self.lineitem = f"{root}/lineitem"
        self.csv = f"{root}/csv"
        self.gold_path = f"{root}/gold"
        li_bytes = inputs.write_lineitem(self.lineitem, self.rows, self.LINEITEM_FILES, seed)
        write_csv_shards(
            synth_trips_staging(self.spark.read.parquet(self.lineitem)), self.csv,
            max_records_per_file=-(-self.rows // self.CSV_SHARDS),
        )
        shards = [f for f in os.listdir(self.csv) if f.endswith(".csv.gz")]
        return {
            "lineitem_rows": self.rows,
            "lineitem_bytes": li_bytes,
            "csv_files": len(shards),
            "csv_bytes": sum(os.path.getsize(f"{self.csv}/{f}") for f in shards),
        }

    def expect(self):
        """Oracle answers: the build's rollup replayed by DuckDB from the
        generated lineitem, the queries by DuckDB over the gold files."""
        self.csv_rows = read_trips_csv(self.spark, self.csv).count()
        if self.csv_rows != self.rows:
            raise RuntimeError(f"CSV export wrote {self.csv_rows} rows, not {self.rows}")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                    f"read_parquet('{self.lineitem}/*.parquet')")
        replay = suite.registry()["pipeline_trips_e2e"].oracle
        self.expected = {"build": Expected(con.execute(replay).fetch_df())}
        table = f"read_parquet('{self.gold_path}/*/*.parquet', hive_partitioning = true)"
        for q in QUERIES:
            sql = queries.SQL_FORMS[q].format(t=table)
            self.expected[q] = Expected(con.execute(sql).fetch_df())
        con.close()

    def _build(self) -> None:
        write_gold(curate_trips(read_trips_csv(self.spark, self.csv)), self.gold_path)
        t0 = time.perf_counter()
        self.gold = attach_gold(self.spark, self.gold_path)
        self.attach_s = time.perf_counter() - t0

    def run(self, kind):
        if kind == "build":
            self._build()
            return None
        df = getattr(queries, kind)(self.gold)
        return df.columns, df.collect()

    def verify(self, kind, out):
        if kind != "build":
            return self.expected[kind].matches(*out)
        if self.gold.count() != self.csv_rows:
            return False
        agg = trips_e2e_aggregate(self.gold)
        return self.expected["build"].matches(agg.columns, agg.collect())

    def traced(self, tracer, kind, parent):
        if kind == "build":
            # curation fuses with the scan and the write, so its cost is
            # the difference between three sinks over the same input
            with tracer.span("csv.read_trips_csv", parent):
                _noop(read_trips_csv(self.spark, self.csv))
            with tracer.span("transform.curate_trips", parent):
                _noop(curate_trips(read_trips_csv(self.spark, self.csv)))
            with tracer.span("parquet.write_gold", parent) as full:
                self._build()
            return None, seconds(full)
        with tracer.span(f"queries.{kind}.plan", parent) as plan:
            df = getattr(queries, kind)(self.gold)
            df._jdf.queryExecution().executedPlan()
        with tracer.span(f"queries.{kind}.exec", parent) as ex:
            rows = df.collect()
        return (df.columns, rows), seconds(plan) + seconds(ex)

    def layers(self, spans, cores):
        by_parent = {(s["parent"], s["name"]): s for s in spans}
        csv_s, curate_s, write_s, occupancy = [], [], [], []
        for op in (s["id"] for s in spans if s["name"] == "op.build"):
            a, b, c = (by_parent[(op, n)] for n in (
                "csv.read_trips_csv", "transform.curate_trips", "parquet.write_gold"))
            csv_s.append(seconds(a))
            curate_s.append(seconds(b) - seconds(a))
            write_s.append(seconds(c) - seconds(b))
            occupancy.append(c["counters"].run_s / (seconds(c) * cores))

        def counter(name, field):
            return _median_of(spans, name, lambda s: getattr(s["counters"], field))

        files, size = _dir_stats(self.gold_path)
        out = {
            "csv.parse_s": statistics.median(csv_s),
            "csv.read_tasks": counter("csv.read_trips_csv", "tasks"),
            "csv.bytes_in": counter("csv.read_trips_csv", "input_bytes"),
            "transform.curate_s": statistics.median(curate_s),
            "parquet.write_gold_s": statistics.median(write_s),
            "parquet.shuffle_write_bytes": counter("parquet.write_gold", "shuffle_write_bytes"),
            "parquet.spill_bytes": counter("parquet.write_gold", "spill_bytes"),
            "parquet.gold_files": files,
            "parquet.gold_bytes": size,
            "parquet.attach_s": self.attach_s,
            "build.core_occupancy": statistics.median(occupancy),
        }
        for field in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s"):
            out[f"build.{field}"] = counter("parquet.write_gold", field)
        for q in QUERIES:
            out[f"queries.{q}.plan_s"] = _median_of(spans, f"queries.{q}.plan", seconds)
            out[f"queries.{q}.exec_s"] = _median_of(spans, f"queries.{q}.exec", seconds)
            for field in ("tasks", "input_bytes", "cpu_s"):
                out[f"queries.{q}.{field}"] = counter(f"queries.{q}.exec", field)
        return out

    def report(self, medians, cores):
        build_s = medians["build"]
        rate = self.rows / build_s
        _, size = _dir_stats(self.gold_path)
        out = {
            "build_s": (build_s, "s"),
            "build_rows_per_s": (rate, "1/s"),
            "build_rows_per_s_per_core": (rate / cores, "1/s"),
            "ref_build_rows_per_s_per_core": (REF_BUILD_ROWS_PER_S_PER_CORE, "1/s"),
            "gold_bytes_per_row": (size / self.rows, "B"),
        }
        for q in QUERIES:
            out[f"{q}_s"] = (medians[q], "s")
            out[f"{q}_rows_per_s_per_core"] = (self.rows / medians[q] / cores, "1/s")
            out[f"ref_{q}_rows_per_s_per_core"] = (
                REF_ROWS / REF_QUERY_S[q] / REF_CORES, "1/s")
        out["queries_per_s"] = (len(QUERIES) / sum(medians[q] for q in QUERIES), "1/s")
        return out


class RegistryOps(Workload):
    """Suite registry entries over small tables: the cost is jobs,
    stages and plan building in Python, not data."""

    name = "registry_ops"
    kinds = OPERATORS

    def prepare(self, root, seed):
        self.data = f"{root}/tables"
        info = inputs.write_suite_tables(self.data, seed, self.scale)
        reg = suite.registry()
        self.specs = {e: reg[e] for e in self.kinds}
        return info

    def expect(self):
        self.expected = {e: Expected(duckdb_run(s.oracle, self.data))
                         for e, s in self.specs.items()}

    def run(self, kind):
        df = self.specs[kind].spark(self.spark, self.data)
        return df.columns, df.collect()

    def verify(self, kind, out):
        return self.expected[kind].matches(*out)

    def traced(self, tracer, kind, parent):
        with tracer.span(f"operators.{kind}.build", parent) as build:
            df = self.specs[kind].spark(self.spark, self.data)
        with tracer.span(f"operators.{kind}.exec", parent) as ex:
            rows = df.collect()
        return (df.columns, rows), seconds(build) + seconds(ex)

    def layers(self, spans, cores):
        out = {}
        for e in self.kinds:
            b = [s for s in spans if s["name"] == f"operators.{e}.build"]
            x = [s for s in spans if s["name"] == f"operators.{e}.exec"]
            both = [bb["counters"] + xx["counters"] for bb, xx in zip(b, x)]
            out[f"operators.{e}.build_s"] = _median([seconds(s) for s in b])
            out[f"operators.{e}.eager_jobs"] = _median([s["counters"].jobs for s in b])
            out[f"operators.{e}.exec_s"] = _median([seconds(s) for s in x])
            out[f"operators.{e}.jobs"] = _median([c.jobs for c in both])
            out[f"operators.{e}.stages"] = _median([c.stages for c in both])
            out[f"operators.{e}.shuffle_bytes"] = _median([c.shuffle_write_bytes for c in both])
            out[f"operators.{e}.run_s"] = _median([c.run_s for c in both])
            out[f"operators.{e}.cpu_s"] = _median([c.cpu_s for c in both])
        return out

    def report(self, medians, cores):
        return {f"{e}_s": (medians[e], "s") for e in self.kinds}


WORKLOADS = {w.name: w for w in (GoldPipeline, RegistryOps)}
