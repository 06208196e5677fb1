"""Emit CORRECTNESS_local.json — the repo-side replica of the driver's
per-entry correctness gate, in the driver's schema.

The driver's per-round report only covers a bounded window of registry
entries (50 in round 1); this script runs EVERY registered entry against
its DuckDB oracle at the correctness scale factor and ships the evidence
with the repo, so no entry is "unverified" just because it fell outside
the driver's window.  ``__spark_entry__.queries()`` additionally rotates
not-yet-driver-verified entries to the front each round (driver_window.py),
so the driver's own window converges to full coverage.

Usage::

    python correctness_local.py [--sf-dir /root/testdata/sf0.01] [--out CORRECTNESS_local.json]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="CORRECTNESS_local.json")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a plain SparkSession instead of the tuned factory — "
        "the driver's gate runs on a vanilla session, so this is the "
        "higher-fidelity replica (catches configs that only exist in "
        "session.get_spark)",
    )
    args = ap.parse_args()

    from nyc_taxi_data_clickhouse_spark import suite
    from nyc_taxi_data_clickhouse_spark.session import get_spark
    from tests.oracle_util import compare

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("correctness_local_vanilla")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate()
        )
    else:
        spark = get_spark(app_name="correctness_local")
    spark.sparkContext.setLogLevel("ERROR")

    report: dict[str, dict] = {}
    failed = []
    t0 = time.time()
    reg = suite.registry()
    for i, (name, spec) in enumerate(reg.items(), 1):
        row = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        try:
            df = spec.spark(spark, args.sf_dir)
            if spec.oracle is None:
                row["spark_rows"] = df.count()
                row["err"] = "no_oracle"
            else:
                r = compare(df, spec.oracle, args.sf_dir)
                row.update(
                    rows_match=r["rows_spark"] == r["rows_oracle"],
                    schema_match=r["cols_spark"] == r["cols_oracle"],
                    # hash_match is STRICTLY byte-exact (ADVICE r8);
                    # tolerance-absorbed rows carry tol_match=True and
                    # count toward `match`, never toward hash_match —
                    # the artifact must not mislabel non-byte-exact
                    # rows as hash-matched
                    hash_match=r["hash_spark"] == r["hash_oracle"],
                    match=bool(r["match"]),
                    spark_rows=r["rows_spark"],
                    oracle_rows=r["rows_oracle"],
                )
                if r.get("tol_match"):
                    row["tol_match"] = True
                if not r["match"]:
                    failed.append(name)
        except Exception as exc:  # noqa: BLE001 — report, don't abort the sweep
            row["err"] = f"{type(exc).__name__}: {exc}"[:300]
            failed.append(name)
        report[name] = row
        print(f"[{i}/{len(reg)}] {name}: "
              f"{'OK' if row['err'] in (None, 'no_oracle') and name not in failed else 'FAIL'}",
              flush=True)

    Path(args.out).write_text(json.dumps(report, indent=2) + "\n")
    n_exact = sum(1 for r in report.values() if r["hash_match"])
    n_tol = sum(1 for r in report.values() if r.get("tol_match"))
    print(f"\n{len(reg)} entries, {n_exact} byte-exact, {n_tol} tolerance-absorbed, "
          f"{len(failed)} failed, {time.time() - t0:.0f}s -> {args.out}")
    if failed:
        print("FAILED:", ", ".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
