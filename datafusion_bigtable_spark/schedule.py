"""Driver-window verification schedule for the query registry.

The correctness driver hash-checks only the FIRST 50 entries of
``queries.queries()`` iteration order per round, while the registry is
larger — so iteration order IS the verification schedule.  Policy
(documented in COVERAGE.md): order by the round each query's record last
went driver-green, oldest first; never-checked / touched-this-round queries
carry 0 and therefore always land inside the window.  Committed full-gate
greens break ties, registry (file) order breaks the rest, keeping the
schedule deterministic.

Nothing here is hand-folded.  A query's driver-green round is read from the
committed ``CORRECTNESS_r{N}.json`` artifacts at the repo root: a record is
green when ``rows_match``, ``schema_match`` and ``hash_match`` all hold and
``err`` is null, N comes from the file name, and the highest green round
wins.  Closing a round therefore means committing its artifact and clearing
``_TOUCHED_MODULES`` / ``_TOUCHED_QUERIES`` — no code edit folds anything.
"""

from __future__ import annotations

import ast as _ast
import functools
import inspect
import json
import textwrap
from pathlib import Path
from typing import Callable, Iterable, Optional

from datafusion_bigtable_spark.queries import REGISTRY

_PKG = __package__  # "datafusion_bigtable_spark"
_PKG_DIR = Path(__file__).resolve().parent
_REPO = _PKG_DIR.parent

# ---------------------------------------------------------------------------
# Committed verification artifacts.  Both families — the driver's
# CORRECTNESS_r{N}.json and tools/full_gate.py's FULLGATE_r{N}.json — go
# through one reader; each family supplies only its record parser, which
# yields (query name, round) for every green record in one file.
# ---------------------------------------------------------------------------


def _artifact_state(pattern: str) -> tuple:
    """Cache key for _artifact_records: the (name, mtime) of every artifact.

    Keying on the artifact set (not the process lifetime) makes an artifact
    written, rewritten or removed mid-session take effect on the next call
    while still caching the JSON parse.
    """
    out = []
    for p in _REPO.glob(pattern):
        try:
            out.append((p.name, p.stat().st_mtime_ns))
        except OSError:
            # vanished between glob and stat (artifact rewrite, parallel
            # test unlink) — scheduling must never crash on it
            continue
    return tuple(sorted(out))


@functools.lru_cache(maxsize=16)
def _read_artifacts(
    pattern: str, parse: Callable[[Path], Iterable[tuple[str, int]]], state: tuple
) -> dict[str, int]:
    out: dict[str, int] = {}
    for art in sorted(_REPO.glob(pattern)):
        try:
            greens = list(parse(art))
        except (ValueError, KeyError, OSError, TypeError, AttributeError):
            # malformed artifact (bad JSON, wrong top-level shape, null
            # round, unparseable name): contributes no evidence — never
            # crashes scheduling
            continue
        for name, rnd in greens:
            out[name] = max(out.get(name, 0), rnd)
    return out


def _artifact_records(
    pattern: str, parse: Callable[[Path], Iterable[tuple[str, int]]]
) -> dict[str, int]:
    """name -> highest round any artifact matching *pattern* proved green."""
    return _read_artifacts(pattern, parse, _artifact_state(pattern))


def _correctness_greens(art: Path) -> list[tuple[str, int]]:
    # hash_match is part of green: r10's corpus_mixing_alpha matched
    # rows+schema but hash-failed (HUGEINT→float64 in the driver's pandas
    # path) and must not count.
    rnd = int(art.stem.rsplit("_r", 1)[1])
    return [
        (name, rnd)
        for name, r in json.loads(art.read_text()).items()
        if r.get("rows_match")
        and r.get("schema_match")
        and r.get("hash_match")
        and r.get("err") is None
    ]


def _fullgate_greens(art: Path) -> list[tuple[str, int]]:
    payload = json.loads(art.read_text())
    rnd = int(payload["round"])
    return [
        (name, rnd)
        for name, status in payload.get("results", {}).items()
        if status == "green"
    ]


def _correctness_records() -> dict[str, int]:
    """name -> most recent round the correctness driver proved it fully
    green (rows, schema and value hash)."""
    return _artifact_records("CORRECTNESS_r*.json", _correctness_greens)


def _fullgate_records() -> dict[str, int]:
    """name -> most recent round a committed full-gate artifact proved it
    fully green (oracle compare, not rows-only)."""
    return _artifact_records("FULLGATE_r*.json", _fullgate_greens)


# ---------------------------------------------------------------------------
# Module-dependency resets: a query resets to slot 0 when any module its
# implementation *imports* — directly, through a same-file helper it calls,
# or transitively through package-module imports (e.g. operators.dedup →
# operators.graph) — changed this round.  The dependency set is COMPUTED
# from the AST rather than hand-maintained; tests/test_schedule.py pins the
# engine against ground truth.
# ---------------------------------------------------------------------------


def _module_path(dotted: str) -> Optional[Path]:
    parts = dotted.split(".")
    if parts[0] != _PKG:
        return None
    p = _PKG_DIR.joinpath(*parts[1:])
    if p.with_suffix(".py").is_file():
        return p.with_suffix(".py")
    if (p / "__init__.py").is_file():
        return p / "__init__.py"
    return None


def _imports_in(tree: _ast.AST, current_pkg: str) -> set[str]:
    """Dotted package-module names imported anywhere under *tree*.

    ``current_pkg`` anchors relative imports (the package containing the
    module being parsed).  ``from pkg.sources import datasource`` credits the
    *module* ``pkg.sources.datasource``; ``from pkg.plans.composer import
    compose`` credits ``pkg.plans.composer``.
    """
    out: set[str] = set()

    def _add(dotted: str, names: tuple[str, ...] = ()) -> None:
        hit = False
        for n in names:
            cand = f"{dotted}.{n}"
            if _module_path(cand) is not None:
                out.add(cand)
                hit = True
        if not hit and dotted != _PKG and _module_path(dotted) is not None:
            out.add(dotted)

    for node in _ast.walk(tree):
        if isinstance(node, _ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == _PKG:
                    _add(a.name)
        elif isinstance(node, _ast.ImportFrom):
            if node.level:
                base = current_pkg.split(".")
                if node.level > 1:
                    base = base[: len(base) - (node.level - 1)]
                mod = ".".join(base + (node.module.split(".") if node.module else []))
            else:
                mod = node.module or ""
            if mod.split(".")[0] == _PKG:
                _add(mod, tuple(a.name for a in node.names))
    return out


@functools.lru_cache(maxsize=None)
def _module_direct_imports(dotted: str) -> frozenset[str]:
    path = _module_path(dotted)
    if path is None:
        return frozenset()
    pkg = dotted if path.name == "__init__.py" else dotted.rsplit(".", 1)[0]
    return frozenset(_imports_in(_ast.parse(path.read_text()), pkg))


def _module_closure(roots: set[str]) -> frozenset[str]:
    """Roots plus everything they transitively import (cycle-safe)."""
    seen: set[str] = set()
    stack = list(roots)
    while stack:
        m = stack.pop()
        if m in seen:
            continue
        seen.add(m)
        stack.extend(_module_direct_imports(m))
    return frozenset(seen)


def _callable_direct_deps(fn, seen_fns: set) -> set[str]:
    """Package modules referenced by *fn*: its own import statements plus,
    recursively, those of helpers defined in fn's own module that it calls
    (``load``, ``_bt_events_store``, …), resolved through ``fn.__globals__``."""
    try:
        tree = _ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, SyntaxError, TypeError):
        return set()
    deps = _imports_in(tree, fn.__module__.rpartition(".")[0])
    g = getattr(fn, "__globals__", {})
    for node in _ast.walk(tree):
        if not isinstance(node, _ast.Name):
            continue
        obj = g.get(node.id)
        if inspect.isfunction(obj) and obj.__module__ == fn.__module__ and obj not in seen_fns:
            seen_fns.add(obj)
            deps |= _callable_direct_deps(obj, seen_fns)
        elif inspect.ismodule(obj) and (obj.__name__ or "").split(".")[0] == _PKG:
            deps.add(obj.__name__)
    return deps


@functools.lru_cache(maxsize=None)
def query_deps(name: str) -> frozenset[str]:
    """Every package module `name`'s implementation transitively depends on."""
    fn = REGISTRY[name].fn
    return _module_closure(_callable_direct_deps(fn, {fn}))


# The two hand-kept inputs: package modules with BEHAVIOR-CHANGING edits
# since the last committed CORRECTNESS artifact (their dependents reset to
# 0), and registry queries whose implementation changed over the same span.
# Purely ADDITIVE module changes — a new function no existing query calls —
# do not reset dependents; any edit to code an existing query executes does.
# Entries are added in the SAME commit as each such edit, so the sets are
# truthful against `git diff` at every commit, and cleared when the next
# round's artifact is committed.  tests/test_schedule.py fails on a module
# that does not resolve or a query that is not registered.
_TOUCHED_MODULES: frozenset[str] = frozenset(
    {
        # The DS scan's Arrow pivot and full-scan file-group packing (six
        # bt_* dependents re-verify).  The operators.stats ranks=[] guard
        # is not listed: it only changes an input no registered query
        # passes (it used to crash).
        f"{_PKG}.sources.datasource",
    }
)
_TOUCHED_QUERIES: frozenset[str] = frozenset()

# ---------------------------------------------------------------------------
# Full-gate evidence.  tools/full_gate.py drives EVERY registered query
# against its DuckDB oracle at sf0.01 and writes FULLGATE_r{N}.json at the
# repo root.  Two uses:
#
# 1. _FULLGATE_PROVEN_MODULES: a module with a behavior-changing edit whose
#    dependent-reset would overflow the 50-slot driver window may be listed
#    here (module -> artifact filename) INSTEAD of _TOUCHED_MODULES.
#    tests/test_schedule.py enforces that the cited artifact is committed,
#    postdates the newest committed CORRECTNESS artifact (so the evidence
#    postdates the edit), and shows every dependent query green.
# 2. _schedule() breaks driver-green ties by full-gate recency: among
#    queries the DRIVER last proved in the same round, one a committed full
#    gate re-proved more recently is less urgent.  Driver greens still rank
#    first; full-gate greens never substitute for them.
# ---------------------------------------------------------------------------

_FULLGATE_PROVEN_MODULES: dict[str, str] = {
    # dotted module -> FULLGATE_r{N}.json filename proving all dependents
    # green after the module's edit.  An entry retires once a CORRECTNESS
    # artifact of the same or a later round is committed.
}


def _last_green(name: str) -> int:
    if name in _TOUCHED_QUERIES:
        return 0
    if _TOUCHED_MODULES and (query_deps(name) & _TOUCHED_MODULES):
        return 0
    return _correctness_records().get(name, 0)


def _schedule() -> list[str]:
    ordered = list(REGISTRY)
    fullgate = _fullgate_records()
    # Driver greens rank first; committed full-gate greens break ties (a
    # query a full gate re-proved recently yields its slot to one nothing
    # re-proved); registry order last for determinism.
    return sorted(
        ordered,
        key=lambda n: (_last_green(n), fullgate.get(n, 0), ordered.index(n)),
    )
