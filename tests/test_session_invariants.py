"""Session-conf hygiene: registry entries must not leave unrestored
global conf mutations behind (VERDICT r4 item 6).

The one sanctioned exception is the documented session-wide invariant
``spark.sql.legacy.parquet.nanosAsLong=true`` (session.py): it is only
ever set TO "true" (idempotent, never flipped back), and it only
changes behavior for TIMESTAMP(NANOS) parquet columns — which Spark
otherwise rejects outright — so establishing it mid-session cannot
alter any result that was previously readable.
"""

from __future__ import annotations

import pytest

from nyc_taxi_data_clickhouse_spark import suite

SF = "/root/testdata/sf0.001"

#: confs that runtime code is allowed to establish, with the ONLY value
#: it may establish them to (the documented invariant set).
_SANCTIONED = {"spark.sql.legacy.parquet.nanosAsLong": "true"}

#: runtime-noise confs Spark itself mutates during execution (AQE,
#: codegen ids, streaming checkpoints) — not set by our code.
_SPARK_INTERNAL_PREFIXES = (
    "spark.sql.execution.",
    "spark.sql.streaming.checkpointLocation",
)


def _conf_snapshot(spark) -> dict[str, str]:
    # RuntimeConfig has no getAll in the Connect-free API surface we
    # target; go through the JVM conf map, which is the ground truth
    # for what a later query would observe.
    jconf = spark.conf._jconf.getAllAsJava()
    return {
        k: v
        for k, v in dict(jconf).items()
        if not k.startswith(_SPARK_INTERNAL_PREFIXES)
    }


def test_registry_entries_leave_conf_unchanged(spark):
    """Run entries covering every module that touches spark.conf (the
    events batch reader, the streaming reader, and a plain table scan)
    and assert the conf delta is at most the sanctioned invariant set."""
    before = _conf_snapshot(spark)

    reg = suite.registry()
    for name in ("q1_group_count", "event_transition_counts",
                 "streaming_hourly_rollup"):
        if name not in reg:  # pragma: no cover - registry always has them
            pytest.skip(f"{name} missing from registry")
        reg[name].spark(spark, SF).collect()

    after = _conf_snapshot(spark)
    changed = {
        k: (before.get(k), after.get(k))
        for k in set(before) | set(after)
        if before.get(k) != after.get(k)
    }
    for key, (_, new) in changed.items():
        assert key in _SANCTIONED and new == _SANCTIONED[key], (
            f"unsanctioned session conf mutation: {key}: "
            f"{changed[key][0]!r} -> {new!r}"
        )


def test_nanos_invariant_is_set_by_factory(spark):
    """session.get_spark bakes the invariant in at build time, so code
    running on OUR session never even needs the idempotent re-set."""
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    )


def test_registry_ordering_uses_git_changed_files():
    """End-to-end: _files_changed_since_round reads real git state and
    the driver ordering (driver_window.py) consumes it without error;
    entries whose registered function SEMANTICALLY changed since their
    verified round (the entry-granular closure rule — a sibling's edit
    or a comment does not promote) must sort before unchanged entries
    of equal-or-staler rounds.  The engine registry itself stays in
    registration order; only the driver's view is reordered."""
    import __spark_entry__
    import driver_window as dw

    verified = dw._driver_verified_rounds()
    reg = suite.registry()
    names = list(__spark_entry__.queries())
    # every name is present exactly once, whatever the order
    assert sorted(names) == sorted(set(names)) == sorted(reg)
    latest = max(verified.values(), default=0)
    changed_files = dw._files_changed_since_round(latest)
    assert isinstance(changed_files, frozenset)
    # invariant (r11 rule): never-verified < must-re-verify (at the
    # trust bound) < changed < merely-stale (the sort is total, so it
    # suffices to check group monotonicity) — the changed predicate
    # here is the ordering's own, so the test re-checks the real rule
    def group(n):
        if n not in verified:
            return 0
        if latest - verified[n] >= dw.MUST_REVERIFY_AGE:
            return 1
        return 2 if dw._entry_changed_since_round(reg[n], verified[n]) else 3

    groups = [group(n) for n in names]
    assert groups == sorted(groups)


# ---------------------------------------------------------------------------
# Core-scaling contract (VERDICT r15 item 2): a constrained run must
# plan constrained-width shuffles, not host-width ones
# ---------------------------------------------------------------------------


def test_default_shuffle_partitions_honors_spark_graft_cpus(monkeypatch):
    """Pure derivation rule: $SPARK_GRAFT_CPUS wins when numeric,
    $SPARK_GRAFT_SHUFFLE overrides everything, os.cpu_count() is the
    fallback for unset/non-numeric core counts; a non-numeric
    $SPARK_GRAFT_SHUFFLE is rejected."""
    import os

    from nyc_taxi_data_clickhouse_spark.session import (
        default_shuffle_partitions,
    )

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert default_shuffle_partitions() == 8
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "96")
    assert default_shuffle_partitions() == 96
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")  # local-all-cores sentinel
    assert default_shuffle_partitions() == (os.cpu_count() or 8)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_shuffle_partitions() == (os.cpu_count() or 8)
    # a non-numeric override is an error that names the variable
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "lots")
    with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE.*'lots'"):
        default_shuffle_partitions()


def test_bench_session_parallelism_matches_spark_graft_cpus():
    """End-to-end in a fresh interpreter/JVM (sessions are process
    global): under the bench entry path, defaultParallelism AND the
    planned shuffle width both equal $SPARK_GRAFT_CPUS — the r15
    driver's 8-core rerun planned host-core-count (32) shuffle
    partitions, which made its low-core scaling block undiagnosable."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "import json\n"
        "from nyc_taxi_data_clickhouse_spark.session import get_spark\n"
        "s = get_spark(app_name='cpus-contract')\n"
        "print(json.dumps({'dp': s.sparkContext.defaultParallelism,\n"
        "                  'sp': s.conf.get('spark.sql.shuffle.partitions')}))\n"
        "s.stop()\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="6")
    env.pop("SPARK_GRAFT_SHUFFLE", None)
    repo = Path(__file__).resolve().parents[1]
    env["PYTHONPATH"] = (
        f"{repo}{os.pathsep}{env['PYTHONPATH']}"
        if env.get("PYTHONPATH")
        else str(repo)
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        env=env,
        cwd=repo,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(out.stdout.strip().splitlines()[-1])
    assert payload == {"dp": 6, "sp": "6"}
