"""Generate PLANS.md — the physical-plan audit for the headline bench
queries.

For each query in bench.py's DEFAULT_QUERIES this EXECUTES the query
(noop sink) at sf0.01 and reports, per query:

- the EXECUTED truth from runtime stage metrics: how many shuffle map
  stages actually ran and how many stages total (a persisted subtree
  materializes once however many times the textual plan re-prints it,
  so these counts cannot be lineage-inflated — VERDICT r12 item 6);
- a static summary of the post-execution plan (AQE final where
  adaptive kicked in): broadcast/sort-merge join counts, scans with
  pushed filters, Arrow stages;
- the operator tree of the post-execution plan.

This is the artifact backing BENCH_NOTES.md's claim that the plans —
not the small-SF timings — are what carry to 100 TB: reviewers can
read the actual join strategies, scan pruning, and the genuinely
executed shuffle count per query.

Usage: python plan_report.py [sf_dir]  (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

from bench import DEFAULT_QUERIES
from nyc_taxi_data_clickhouse_spark import suite
from nyc_taxi_data_clickhouse_spark.profile import stage_rows
from nyc_taxi_data_clickhouse_spark.session import get_spark


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(plan: str) -> str:
    # count operators in the tree section only — node names repeat in
    # the per-node detail section below it
    tree = plan.split("\n\n")[0]
    shuffles = tree.count("Exchange") - tree.count("BroadcastExchange") - tree.count(
        "ReusedExchange"
    )
    bhj = tree.count("BroadcastHashJoin")
    smj = tree.count("SortMergeJoin")
    pushed = len(re.findall(r"PushedFilters: \[(?!\])", plan))
    arrow = ("ArrowEvalPython" in tree) or ("MapInPandas" in tree) or (
        "FlatMapGroupsInPandas" in tree
    )
    bits = [
        f"{shuffles} exchange(s) in lineage",
        f"{bhj} broadcast join(s)",
        f"{smj} sort-merge join(s)",
        f"{pushed} scan(s) with pushed filters",
    ]
    if arrow:
        bits.append("Arrow Python stage")
    return ", ".join(bits)


def executed_stage_counts(before: list[dict], after: list[dict]) -> str:
    """Executed-truth summary from the stage store delta: stages that
    ran for THIS query, split into shuffle map stages (wrote shuffle
    bytes) and the rest.  A cached subtree contributes its stages
    exactly once here, however many consumers re-print it in the
    textual plan.  Only COMPLETE stages count: the stage store also
    lists SKIPPED stages (reused shuffle output / persisted subtree
    re-reads), which never executed — counting them would re-introduce
    exactly the lineage inflation this report exists to remove."""
    seen = {(s["stageId"], s.get("attemptId", 0)) for s in before}
    new = [
        s
        for s in after
        if (s["stageId"], s.get("attemptId", 0)) not in seen
        and s.get("status") == "COMPLETE"
    ]
    shuffle_stages = sum(1 for s in new if s.get("shuffleWriteBytes", 0) > 0)
    spilled = sum(
        s.get("diskBytesSpilled", 0) + s.get("memoryBytesSpilled", 0)
        for s in new
    )
    bits = [
        f"{shuffle_stages} shuffle map stage(s)",
        f"{len(new)} stage(s) total",
    ]
    bits.append("zero spill" if spilled == 0 else f"SPILLED {spilled / 1e9:.2f} GB")
    return ", ".join(bits)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(
        app_name="plan-report",
        # the stage store's retention limits; its default 1000 stages
        # can evict a query's stages before the "after" snapshot
        extra_conf={
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )
    reg = suite.registry()
    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `python plan_report.py {sf_dir}`.  Each query is",
        "EXECUTED (noop sink); the **executed** line counts the stages",
        "that actually ran (from runtime stage metrics), so a persisted",
        "subtree counts once however many times the textual plan",
        "re-prints it — these counts cannot be lineage-inflated.  The",
        "static line counts nodes in the post-execution (AQE-final)",
        "operator tree and CAN overstate shuffles for queries that",
        "persist() an intermediate; read it as lineage complexity, the",
        "executed line as shuffle volume.",
        "",
    ]
    for name in DEFAULT_QUERIES:
        spec = reg.get(name)
        if spec is None:
            continue
        spark.catalog.clearCache()
        # snapshot BEFORE construction: iterative operators (pagerank,
        # LPA, star-CC) run their checkpoint/count-gate jobs while the
        # entry function builds the plan — that work belongs to the
        # query's executed count
        before = stage_rows(spark)
        df = spec.spark(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        after = stage_rows(spark)
        plan = formatted_plan(df)
        tree = plan.split("\n\n")[0]  # operator tree; node details follow
        out.append(f"## {name}")
        out.append("")
        out.append(f"**executed: {executed_stage_counts(before, after)}**")
        out.append("")
        out.append(f"static: {summarize(plan)}")
        out.append("")
        out.append("```")
        out.append(tree.rstrip())
        out.append("```")
        out.append("")
        print(f"{name}: done", file=sys.stderr)
    print("\n".join(out))


if __name__ == "__main__":
    main()
