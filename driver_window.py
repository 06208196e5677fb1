"""Entry order for the driver's bounded verification window.

The driver hash-checks only the first DRIVER_WINDOW entries of
``__spark_entry__.queries()`` each round (observed exactly 50 in
CORRECTNESS_r01..r10), so :func:`ordered_registry` sorts the engine's
registry so that, over successive rounds, every entry lands inside that
window and no green row is trusted forever.  The inputs are the
driver's ``CORRECTNESS_r*.json`` reports at the repo root and the git
history behind them; any git failure degrades to "nothing changed"
(pure staleness order).  Only ``__spark_entry__`` consumes this order —
``suite.registry()`` stays in registration order.
"""

from __future__ import annotations

import ast
import functools
import importlib.util
import inspect
import json
import os
import re
import subprocess
import sys
import types
from collections.abc import Callable
from pathlib import Path

from nyc_taxi_data_clickhouse_spark.suite import QuerySpec, registry

repo_root = Path(__file__).resolve().parent
_PKG = "nyc_taxi_data_clickhouse_spark"

DRIVER_WINDOW = 50
# A verified entry whose green row is MUST_REVERIFY_AGE driver rounds
# old is promoted ahead of the changed tier: in round 10 the
# module-granularity change detector (one edit to suite_entries.py
# promotes dozens of entries) filled all window slots for five straight
# rounds and starved 15 entries at round-5 freshness.
MUST_REVERIFY_AGE = 4
# Absolute bound tests enforce: with never-verified entries capped at a
# handful per round, a must-reverify entry displaced from one window is
# stalest in the next, so age never exceeds MUST_REVERIFY_AGE + 2.
STALENESS_HARD_CAP = 6


@functools.lru_cache(maxsize=1)
def _driver_verified_rounds() -> dict[str, int]:
    """Entry name -> most recent round in which the driver rows+schema+
    hash-verified it.  An entry that appeared but failed (or had no
    oracle) does NOT count as verified — it keeps first-check priority."""
    verified: dict[str, int] = {}
    for path in sorted(repo_root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path.name)
        round_no = int(m.group(1)) if m else 0
        try:
            report = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        for name, row in report.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                verified[name] = max(verified.get(name, 0), round_no)
    return verified


def _git(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        ["git", *args], cwd=repo_root, capture_output=True, text=True, timeout=15
    )


@functools.lru_cache(maxsize=None)
def _round_rev(round_no: int) -> str | None:
    """Commit that recorded ``CORRECTNESS_r{N}.json`` (the round's driver
    commit), or None when git/the marker is unavailable."""
    try:
        rev = _git("log", "-1", "--format=%H", "--", f"CORRECTNESS_r{round_no:02d}.json")
        return rev.stdout.strip() or None
    except Exception:
        return None


@functools.lru_cache(maxsize=None)
def _files_changed_since_round(round_no: int) -> frozenset[str]:
    """Repo-relative paths changed (committed or working-tree) since the
    round that last hash-verified an entry (VERDICT r8 item 6: round 3's
    events-timestamp change broke three entries whose green rows dated
    to rounds 1-2)."""
    rev = _round_rev(round_no)
    if not rev:
        return frozenset()
    try:
        out = _git("diff", "--name-only", rev).stdout
    except Exception:
        return frozenset()
    return frozenset(line.strip() for line in out.splitlines() if line.strip())


def _normalize_tree(tree):
    """Strip semantics-free content in place: module/class/function
    docstrings and ``doc=`` keyword arguments (the registry's
    human-facing metadata); comments are already absent from the AST."""
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                node.body = body[1:]
        if isinstance(node, ast.Call):
            node.keywords = [k for k in node.keywords if k.arg != "doc"]
    return tree


def _rel_of_file(f: str | None) -> str | None:
    """Repo-relative path for an absolute module file, or None for files
    outside the repo."""
    if not f:
        return None
    try:
        rel = os.path.relpath(f, repo_root)
    except ValueError:
        return None
    return None if rel.startswith("..") else rel


def _defining_rel(obj) -> str | None:
    """Repo-relative source file of the module that defines ``obj``."""
    mod = sys.modules.get(getattr(obj, "__module__", None) or "")
    return _rel_of_file(getattr(mod, "__file__", None))


def _spec_origin(name: str) -> str | None:
    try:
        found = importlib.util.find_spec(name)
    except Exception:
        return None
    return found.origin if found else None


@functools.lru_cache(maxsize=None)
def _entry_referenced_objects(spec: QuerySpec) -> frozenset[tuple[str, str | None]]:
    """``(relpath, def_name | None)`` pairs the entry's function visibly
    depends on BESIDES its defining module: functions and classes reached
    through module globals or body-local imports resolve to
    ``(helper_module, name)``; whole-module references resolve to
    ``(module, None)``.  This attributes HELPER changes to the entries
    that call them — the r14 bit-I/O fix lived in operators/multimodal.py
    while the media entries register in suite_entries.py.  Known limits:
    plain-value constants imported from helpers, and helpers reached
    through more than one module hop."""
    fn = spec.spark
    try:
        tree = ast.parse(inspect.getsource(fn))
    except Exception:
        return frozenset()
    mod = sys.modules.get(getattr(fn, "__module__", None) or "")
    refs: set[tuple[str | None, str | None]] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            obj = getattr(mod, node.id, None)
            if isinstance(obj, types.ModuleType):
                refs.add((_rel_of_file(getattr(obj, "__file__", None)), None))
            elif callable(obj) or isinstance(obj, type):
                refs.add((_defining_rel(obj), getattr(obj, "__name__", None)))
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(_PKG):
                    refs.add((_rel_of_file(_spec_origin(alias.name)), None))
        elif isinstance(node, ast.ImportFrom):
            if not node.module or node.level or not node.module.startswith(_PKG):
                continue
            for alias in node.names:
                sub = _spec_origin(f"{node.module}.{alias.name}")
                if sub:  # `from pkg.operators import dedup` — a module
                    refs.add((_rel_of_file(sub), None))
                else:
                    refs.add((_rel_of_file(_spec_origin(node.module)), alias.name))
    own = _defining_rel(fn)
    return frozenset(
        (rel, name) for rel, name in refs if rel is not None and rel != own
    )


def _graph_from_source(src: str):
    """``(defs, refs, residue)`` of a module's normalized source:

    - ``defs``: every top-level bound name (def / class / assignment /
      import alias) -> dump of its binding statement;
    - ``refs``: bound name -> the OTHER top-level names its statement
      references (the graph :func:`closure_sig` walks);
    - ``residue``: dump of the top-level statements that bind nothing
      (module-level conf mutations, try/except setup) — these can affect
      ANY function in the module.

    Raises on unparsable source."""
    tree = _normalize_tree(ast.parse(src))
    defs: dict[str, str] = {}
    nodes: dict[str, ast.AST] = {}
    unbound = []
    for node in tree.body:
        names: list[str] = []
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.extend(el.id for el in ast.walk(t) if isinstance(el, ast.Name))
        elif isinstance(node, ast.Import):
            names = [a.asname or a.name.split(".")[0] for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [a.asname or a.name for a in node.names]
        if not names:
            unbound.append(node)
        for name in names:
            defs[name] = ast.dump(node)
            nodes[name] = node
    refs = {
        name: frozenset(
            {x.id for x in ast.walk(node) if isinstance(x, ast.Name)} & set(defs) - {name}
        )
        for name, node in nodes.items()
    }
    residue = ast.dump(ast.Module(body=unbound, type_ignores=[]))
    return defs, refs, residue


@functools.lru_cache(maxsize=None)
def _module_graph(rev: str | None, rel: str):
    """:func:`_graph_from_source` of module ``rel`` at commit ``rev``
    (working tree when ``rev`` is None); None when unreadable or
    unparsable.  Cached for the process lifetime."""
    try:
        if rev is None:
            src = (repo_root / rel).read_text()
        else:
            shown = _git("show", f"{rev}:{rel}")
            if shown.returncode != 0:
                return None
            src = shown.stdout
        return _graph_from_source(src)
    except Exception:
        return None


def closure_sig(graph, fname: str):
    """Signature of ``fname``'s transitive same-module closure in
    ``graph`` (a :func:`_graph_from_source` result): the dumps of its
    binding statement and every top-level def / constant / import it
    references, recursively, plus the module's unbound residue.  Helpers
    change through their private callees (the r14 ``_BitReader`` fix
    never touched the functions the entries import), while unrelated
    code in the same module stays out.  None when ``graph`` is None or
    the name is absent."""
    if graph is None:
        return None
    defs, refs, residue = graph
    if fname not in defs:
        return None
    seen: set[str] = set()
    stack = [fname]
    while stack:
        cur = stack.pop()
        if cur not in seen:
            seen.add(cur)
            stack.extend(refs.get(cur, ()))
    return (residue, tuple(sorted((n, defs[n]) for n in seen)))


@functools.lru_cache(maxsize=None)
def _def_closure_sig(rev: str | None, rel: str, fname: str):
    return closure_sig(_module_graph(rev, rel), fname)


def _helper_changed(rev: str, rel: str, fname: str | None) -> bool:
    """Did ``(rel, fname)`` semantically change between ``rev`` and the
    working tree?  ``fname=None`` compares the whole module; a named def
    compares its closure signature.  Unresolvable states count as
    changed."""
    if not rel.endswith(".py"):
        return True
    if fname is None:
        old, new = _module_graph(rev, rel), _module_graph(None, rel)
    else:
        old, new = _def_closure_sig(rev, rel, fname), _def_closure_sig(None, rel, fname)
    return old is None or new is None or old != new


def _entry_changed_since_round(spec: QuerySpec, round_no: int) -> bool:
    """True when the entry's implementation may have changed since the
    round that last hash-verified it: the closure of its registered
    function in its defining module changed (decorator SQL oracle
    included, ``doc=``/comments/docstrings excluded), or a helper the
    function references (one module hop, closure-compared) did."""
    rev = _round_rev(round_no)
    if rev is None:
        return False
    diff = _files_changed_since_round(round_no)
    rel = _defining_rel(spec.spark)
    fname = getattr(spec.spark, "__name__", None)
    if (
        rel is not None
        and rel in diff
        and (fname is None or _helper_changed(rev, rel, fname))
    ):
        return True
    return any(
        helper_rel in diff and _helper_changed(rev, helper_rel, helper_name)
        for helper_rel, helper_name in _entry_referenced_objects(spec)
    )


def _ordered_names(
    order: list[str],
    verified: dict[str, int],
    changed: Callable[[str, int], bool],
) -> list[str]:
    """Pure ordering rule for the driver's bounded window:
    (0) never-hash-verified entries, registration order (new entries
        get their first driver check in their introduction round);
    (1) MUST-RE-VERIFY: verified entries whose green row is
        >= MUST_REVERIFY_AGE driver rounds old, stalest first — ahead
        of the changed tier so change-detection pressure can never
        starve them past the trust bound (VERDICT r10 item 1);
    (2) verified entries whose implementation changed since their
        verification round, stalest first;
    (3) merely-stale verified entries, stalest first."""
    latest = max(verified.values(), default=0)

    def key(name: str):
        if name not in verified:
            return (0, 0, order.index(name))
        rnd = verified[name]
        if latest - rnd >= MUST_REVERIFY_AGE:
            return (1, rnd, order.index(name))
        return (2 if changed(name, rnd) else 3, rnd, order.index(name))

    return sorted(order, key=key)


def ordered_registry() -> dict[str, QuerySpec]:
    """``suite.registry()`` in driver-window order."""
    reg = registry()

    def changed(name: str, round_no: int) -> bool:
        return _entry_changed_since_round(reg[name], round_no)

    return {
        name: reg[name]
        for name in _ordered_names(list(reg), _driver_verified_rounds(), changed)
    }
