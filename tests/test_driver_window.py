"""Driver verification-window ordering (driver_window.py): the order in
which ``__spark_entry__.queries()`` hands entries to the driver, whose
per-round gate hash-checks only the first DRIVER_WINDOW of them."""

from __future__ import annotations

from collections import Counter

import __spark_entry__
import driver_window as dw
from nyc_taxi_data_clickhouse_spark import suite

REGISTRY_CAP = 200  # COVERAGE.md intake policy (VERDICT r12 item 7)


def _driver_order() -> list[str]:
    return list(__spark_entry__.queries())


def test_registry_runs_no_subprocess(monkeypatch):
    """The engine's registry is a plain dict in registration order: no
    git, no driver reports, whatever the checkout's history."""
    import subprocess

    calls = []

    def boom(*args, **kwargs):
        calls.append(args)
        raise OSError("subprocess disabled")

    monkeypatch.setattr(subprocess, "run", boom)
    reg = suite.registry()
    assert len(reg) == 199
    assert list(reg) == list(suite._REGISTRY)
    assert not calls


def test_rotation_staleness_bounded():
    """VERDICT r6 item 8 / r10 item 1: no verified entry's green row may
    silently outlive the trust bound.  An entry is compliant when its
    age is within MUST_REVERIFY_AGE, OR it is already scheduled inside
    the next driver window AND within the absolute STALENESS_HARD_CAP.
    The scheduled escape is what distinguishes 'the driver simply has
    not run yet' from the r10 failure ('stale AND not scheduled —
    trusted forever'): in r10 the 15 round-5 entries sat OUTSIDE the
    window prefix, which this formulation correctly rejects."""
    rounds = dw._driver_verified_rounds()
    if not rounds:
        return  # fresh checkout without driver reports
    latest = max(rounds.values())
    window = _driver_order()[: dw.DRIVER_WINDOW]
    violations = []
    for name, rnd in rounds.items():
        age = latest - rnd
        if age <= dw.MUST_REVERIFY_AGE:
            continue
        if name in window and age <= dw.STALENESS_HARD_CAP:
            continue
        violations.append((name, age, name in window))
    assert not violations, (
        f"{len(violations)} driver-green rows outlived the trust bound "
        f"without being scheduled for re-verification (name, age, "
        f"scheduled): {violations[:8]}"
    )


def test_driver_window_drains_trust_bound_violations():
    """Companion to the per-entry bound: an entry that would breach the
    absolute STALENESS_HARD_CAP if it misses the NEXT driver window
    (age >= cap - 1 now) must fit in that window alongside the
    never-verified prefix — otherwise the cap is unreachable by
    construction.  Entries merely AT the soft bound may slip one window
    (the cap's +2 headroom exists for exactly that), so they are not
    counted here."""
    rounds = dw._driver_verified_rounds()
    if not rounds:
        return
    latest = max(rounds.values())
    never = sum(1 for n in _driver_order() if n not in rounds)
    critical = sum(
        1 for r in rounds.values() if latest - r >= dw.STALENESS_HARD_CAP - 1
    )
    assert never + critical <= dw.DRIVER_WINDOW, (
        f"{never} never-verified + {critical} about-to-breach-cap "
        f"entries exceed the {dw.DRIVER_WINDOW}-slot driver window — "
        f"staleness will compound; shrink new-entry intake or widen the "
        f"window"
    )


def test_intake_leaves_room_for_must_reverify_cohort():
    """Intake policy (COVERAGE.md, decided r13; reformulated r15): the
    registry is capped at REGISTRY_CAP entries (4 full driver cohorts),
    and the rotation must actually deliver its staleness promise under
    the CURRENT registry + changed-tier pressure.  Forward-simulate the
    driver's window rule for 8 rounds with the live registry, verified
    map, and semantic changed-detector: no entry's green-row age may
    ever exceed MUST_REVERIFY_AGE + 1 (one displaced round + the
    catch-up round, still far inside STALENESS_HARD_CAP), and the
    rotation must return to the steady state (max age <
    MUST_REVERIFY_AGE) by simulation end.  New-entry intake is covered
    by the same simulation: a too-large never-verified prefix starves
    the tiers behind it and blows the age bound."""
    reg = suite.registry()
    assert len(reg) <= REGISTRY_CAP, (
        f"registry has {len(reg)} entries, over the {REGISTRY_CAP} cap — "
        f"consolidate or retire an entry (one-in-one-out policy) before "
        f"registering new ones"
    )
    rounds = dw._driver_verified_rounds()
    if not rounds:
        return
    order = list(reg)
    verified = dict(rounds)

    def changed(name, rnd):
        return dw._entry_changed_since_round(reg[name], rnd)

    latest = max(verified.values())
    trajectory = []
    for rnd in range(latest + 1, latest + 9):
        window = dw._ordered_names(order, verified, changed)[: dw.DRIVER_WINDOW]
        for n in window:
            verified[n] = rnd
        ages = [rnd - verified[n] for n in reg if n in verified]
        never = sum(1 for n in reg if n not in verified)
        assert never == 0 or rnd < latest + 5, (
            f"round +{rnd - latest}: {never} entries still never-verified "
            f"— intake exceeded what the window can absorb"
        )
        trajectory.append(max(ages))
        assert max(ages) <= dw.MUST_REVERIFY_AGE + 1, (
            f"simulated round +{rnd - latest}: an entry reaches age "
            f"{max(ages)} (> {dw.MUST_REVERIFY_AGE + 1}) — the "
            f"rotation cannot keep its staleness promise with the "
            f"current registry size / changed tier; histogram "
            f"{dict(sorted(Counter(ages).items()))}"
        )
    assert trajectory[-1] < dw.MUST_REVERIFY_AGE, (
        f"rotation never returns to steady state: max-age trajectory "
        f"{trajectory}"
    )


def test_cumulative_driver_coverage_complete():
    """VERDICT r10 item 5: set-union guard — every registry entry must
    either be hash-green in the union of ALL driver CORRECTNESS_r*.json
    reports, or (brand-new this round) be scheduled in the next driver
    window's never-verified prefix."""
    rounds = dw._driver_verified_rounds()
    if not rounds:
        return  # fresh checkout without driver reports
    order = _driver_order()
    window = order[: dw.DRIVER_WINDOW]
    uncovered = [n for n in order if n not in rounds and n not in window]
    assert not uncovered, (
        f"{len(uncovered)} registry entries have never been driver-"
        f"verified AND are not scheduled in the next window: {uncovered[:8]}"
    )


def test_ordered_names_changed_code_first():
    """The pure ordering rule (r11 form): never-verified entries lead
    in registration order; entries whose green row hit the
    MUST_REVERIFY_AGE trust bound come next regardless of change
    status (VERDICT r10 item 1 — the changed tier starved them for
    five rounds); then changed-implementation entries; then the
    merely-stale; every verified group stalest-first."""
    order = ["a", "b", "c", "d", "e", "f"]
    verified = {"b": 3, "c": 1, "d": 5, "f": 2}
    changed = lambda name, rnd: name in {"d", "f"}  # noqa: E731
    got = dw._ordered_names(order, verified, changed)
    # a, e never verified (registration order); c(1) is 4 rounds old
    # vs latest=5 -> MUST-re-verify tier, ahead of the changed tier
    # even though it did not change; f(2) & d(5) changed, stalest
    # first; b(3) merely stale
    assert got == ["a", "e", "c", "f", "d", "b"]

    # a changed entry that ALSO hits the bound sorts in the must tier
    verified2 = {"b": 3, "c": 1, "d": 5, "f": 1}
    got2 = dw._ordered_names(order, verified2, changed)
    # c(1, unchanged) and f(1, changed) both at the bound: stalest
    # first then registration order; d(5) changed; b(3) stale
    assert got2 == ["a", "e", "c", "f", "d", "b"]


def test_ordered_names_no_changes_degrades_to_staleness():
    order = ["x", "y", "z"]
    verified = {"x": 2, "y": 1, "z": 3}
    got = dw._ordered_names(order, verified, lambda n, r: False)
    assert got == ["y", "x", "z"]


# ---------------------------------------------------------------------------
# Semantic change-detector units (r15): the window's changed tier
# promotes an entry only when something that can affect its RESULT
# changed — its function's same-module transitive closure (helpers,
# constants, imports, decorator SQL, unbound module residue) — never
# comments, docstrings, doc= metadata, or sibling entries.
# ---------------------------------------------------------------------------

_MOD_V1 = '''
"""module docstring"""
import math
X = 3
def helper(a):
    # a comment
    return a + X
@register("e1", "SELECT 1", doc="meta")
def e1(spark, sf):
    return helper(1)
@register("e2", "SELECT 2", doc="meta")
def e2(spark, sf):
    return math.pi
'''


def _sig(src, fname):
    return dw.closure_sig(dw._graph_from_source(src), fname)


def test_semantic_graph_ignores_comments_docstrings_doc_metadata():
    v2 = _MOD_V1.replace('"""module docstring"""', '"""rewritten"""')
    v2 = v2.replace("# a comment", "# different comment")
    v2 = v2.replace('doc="meta"', 'doc="reworded meta"')
    assert dw._graph_from_source(_MOD_V1) == dw._graph_from_source(v2)


def test_semantic_closure_isolates_siblings_but_tracks_helpers():
    # editing e2's body changes e2's closure only
    v2 = _MOD_V1.replace("return math.pi", "return math.tau")
    assert _sig(_MOD_V1, "e1") == _sig(v2, "e1")
    assert _sig(_MOD_V1, "e2") != _sig(v2, "e2")
    # editing the helper (or the constant it folds in) changes e1, not e2
    v3 = _MOD_V1.replace("return a + X", "return a - X")
    assert _sig(_MOD_V1, "e1") != _sig(v3, "e1")
    assert _sig(_MOD_V1, "e2") == _sig(v3, "e2")
    v4 = _MOD_V1.replace("X = 3", "X = 4")
    assert _sig(_MOD_V1, "e1") != _sig(v4, "e1")
    assert _sig(_MOD_V1, "e2") == _sig(v4, "e2")
    # an absent name has no signature
    assert _sig(_MOD_V1, "missing") is None


def test_semantic_closure_tracks_oracle_sql_and_residue():
    # the decorator's SQL oracle is part of the entry's signature
    v2 = _MOD_V1.replace('"SELECT 1"', '"SELECT 99"')
    assert _sig(_MOD_V1, "e1") != _sig(v2, "e1")
    assert _sig(_MOD_V1, "e2") == _sig(v2, "e2")
    # an unbound module-level statement (side-effecting setup) is
    # attributed to every function in the module
    v3 = _MOD_V1 + "\nprint('side effect')\n"
    assert _sig(_MOD_V1, "e1") != _sig(v3, "e1")
    assert _sig(_MOD_V1, "e2") != _sig(v3, "e2")


def test_changed_tier_contains_only_semantic_deltas():
    """Live-repo guard: every entry the current checkout promotes into
    the changed tier must be attributable to a real semantic delta —
    and entries in touched-but-semantically-unchanged modules must NOT
    be promoted (a pure comment/doc edit to an operator module may not
    displace the stale cohort from the driver window)."""
    rounds = dw._driver_verified_rounds()
    if not rounds:
        return
    for name, spec in suite.registry().items():
        rnd = rounds.get(name)
        if rnd is None or not dw._entry_changed_since_round(spec, rnd):
            continue
        rev = dw._round_rev(rnd)
        diff = dw._files_changed_since_round(rnd)
        rel = dw._defining_rel(spec.spark)
        own = rel in diff and dw._helper_changed(rev, rel, spec.spark.__name__)
        helper = any(
            hrel in diff and dw._helper_changed(rev, hrel, hname)
            for hrel, hname in dw._entry_referenced_objects(spec)
        )
        assert own or helper, f"{name} promoted without a delta"
