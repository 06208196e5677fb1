"""Runs every registered suite query against its DuckDB oracle at
sf0.01 — a local replica of the driver's correctness gate."""

from __future__ import annotations

import pytest

import __spark_entry__
import driver_window as dw
from nyc_taxi_data_clickhouse_spark import suite
from tests.oracle_util import compare
from tests.conftest import SF_CORRECTNESS


def _cases():
    return [
        (name, spec) for name, spec in suite.registry().items() if spec.oracle
    ]


@pytest.mark.parametrize("name,spec", _cases(), ids=[n for n, _ in _cases()])
def test_query_matches_oracle(spark, name, spec):
    df = spec.spark(spark, SF_CORRECTNESS)
    result = compare(df, spec.oracle, SF_CORRECTNESS)
    assert result["match"], {k: v for k, v in result.items() if k != "match"}


def _rows_only_cases():
    return [
        (name, spec) for name, spec in suite.registry().items() if spec.oracle is None
    ]


def test_rows_only_queries_run(spark):
    """Entries without an oracle get a rows-only smoke run.  Currently
    every registry entry carries an oracle, so this passes vacuously —
    a plain loop rather than parametrize, because an empty parametrize
    list manufactures a phantom SKIP in every report."""
    for name, spec in _rows_only_cases():
        df = spec.spark(spark, SF_CORRECTNESS)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r["cnt"] > 0 for r in rows)


def test_queries_oracle_keys_consistent():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) > 0


def test_no_shorthand_whitespace_class_in_paired_regexes():
    """Contract lint (ADVICE r10): Java's \\s includes \\x0B, RE2's
    (DuckDB's) does not — every paired Spark/SQL regex must spell the
    class out as [ \\t\\n\\x0B\\f\\r].  This scans all oracle SQL for a
    surviving shorthand \\s inside regex-taking functions, and the
    package source for Spark-side r\"...\\s...\" regexes, so the
    divergence can never be reintroduced by a new entry.  (\\d and \\w
    agree between the engines in the ASCII subset the fixtures use;
    only \\s differs.)"""
    from pathlib import Path

    from nyc_taxi_data_clickhouse_spark import suite

    offenders = []
    for name, spec in suite.registry().items():
        if spec.oracle and "\\s" in spec.oracle:
            offenders.append(f"oracle:{name}")
    # package-wide source scan, not a call-shape regex: a call-shape
    # pattern missed 3 of the 4 shapes this repo actually uses (nested
    # F.trim/F.lower arguments defeat any [^)]* matcher).  The package
    # has NO legitimate \s left, so any literal backslash-s is an
    # offender — except catalog.py's Python-side re (parses Spark CLI
    # output, never paired with a DuckDB twin).
    pkg = Path(suite.__file__).resolve().parent
    for p in sorted(pkg.rglob("*.py")):
        if p.name == "catalog.py":
            continue
        for ln, line in enumerate(p.read_text().splitlines(), 1):
            if "\\s" in line:
                offenders.append(f"{p.relative_to(pkg)}:{ln}:{line.strip()[:70]}")
    assert not offenders, offenders[:10]


def test_rotation_orders_stalest_verified_first():
    """Never-driver-verified entries come first (they need their first
    hash check); verified entries whose green row hit the
    MUST_REVERIFY_AGE trust bound come next, ahead of change-detection
    pressure (VERDICT r10 item 1 — in rounds 6-10 the module-granularity
    changed tier filled every window slot and starved 15 entries at
    round-5 freshness); entries whose registered function SEMANTICALLY
    changed since their verification round follow (VERDICT r8 item 6 —
    the r3 events-timestamp incident class; a sibling's edit or a
    comment does not promote); merely-stale verified entries close.
    Each verified group is in ascending last-verified round so the
    window's slots re-check the stalest green rows first.  The order
    checked is the driver's (``__spark_entry__.queries()``, built by
    driver_window.py), not the engine registry's."""
    reg = suite.registry()
    order = list(__spark_entry__.queries())
    rounds = dw._driver_verified_rounds()
    latest = max(rounds.values(), default=0)

    def group(name: str) -> int:
        if name not in rounds:
            return 0
        if latest - rounds[name] >= dw.MUST_REVERIFY_AGE:
            return 1
        return 2 if dw._entry_changed_since_round(reg[name], rounds[name]) else 3

    groups = [group(n) for n in order]
    assert groups == sorted(groups), "group order violated (0 < 1 < 2 < 3)"
    for g in (1, 2, 3):
        members = [n for n in order if group(n) == g]
        member_rounds = [rounds[n] for n in members]
        assert member_rounds == sorted(member_rounds), (
            f"group {g} not stalest-first: {list(zip(members, member_rounds))[:6]}"
        )
