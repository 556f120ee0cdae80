"""The package ships no surface that only tests reach.

Three checks over ``data_engineering_assignment_spark``, all pure ``ast``
work with no Spark session:

* every top-level def or class is used by code outside ``tests/``: the
  package itself, ``scripts/``, ``bench.py``, ``__spark_entry__.py`` or
  ``perfbench/``. A use is a name or attribute read in code (docstrings and
  comments do not count), outside the def's own body; a ``@register(...)``
  decorator makes a catalog query used. The defs kept for the reference
  notebook's tasks, as a test's reference implementation or as a plan-test
  helper are listed in :data:`ALLOWED` with their reason;
* every top-level module constant is read by code outside ``tests/``,
  except the input schemas in :data:`ALLOWED_CONSTANTS`;
* every defaulted parameter of a top-level def is passed, by name or by
  position, by some call in the package, ``scripts/``, ``perfbench/``,
  ``bench.py``, ``__spark_entry__.py`` or ``tests/``. A call with ``*args``
  or ``**kwargs`` passes every parameter. ``@register`` query functions are
  exempt: the driver fixes their signature. An option that only ever runs
  at its default is a constant, not a parameter.

Names are matched across modules by name alone.
"""

from __future__ import annotations

import ast
import gc
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "data_engineering_assignment_spark"

ALLOWED: dict[str, str] = {
    "match_results": "SURVEY Basic 2 (pipelines/football.py)",
    "season_table": "SURVEY Basic 4 (pipelines/football.py)",
    "match_pass_stats": "SURVEY Basic 6 (pipelines/football.py)",
    "season_pass_ratios": "SURVEY Basic 7 (pipelines/football.py)",
    "team_overview": "SURVEY Basic 8 (pipelines/football.py)",
    "top_plus_minus": "SURVEY Advanced 2 (pipelines/plusminus.py)",
    "most_colored_images": "SURVEY Advanced 3 (pipelines/images.py)",
    "lowest_color_ratio_images": "SURVEY Advanced 3 (pipelines/images.py)",
    "top_colors_with_shares": "SURVEY Advanced 3 (pipelines/images.py)",
    "top_red_pixel_images": "SURVEY Advanced 3 (pipelines/images.py)",
    "count_images_with_top3": "SURVEY Advanced 3 (pipelines/images.py)",
    "pixel_hex_udf": "SURVEY Advanced 3 (functions/colors.py)",
    "color_name_of_hex": "SURVEY Advanced 3 (functions/colors.py)",
    "binary_auc": "SURVEY Advanced 4 (ml.py)",
    "multiclass_metric": "SURVEY Advanced 4 (ml.py)",
    "cosine_pairs": "test reference implementation (tests/test_similarity.py)",
    "robots_decision": "test reference implementation (tests/test_crawl.py)",
    "aes_ecb_decrypt_block": "test reference implementation (tests/test_aes.py)",
    "count_shuffles": "plan-test helper (plans.py)",
    "has_broadcast_join": "plan-test helper (plans.py)",
    "has_partial_aggregation": "plan-test helper (plans.py)",
    "pushed_filters": "plan-test helper (plans.py)",
    "read_schemas": "plan-test helper (plans.py)",
}

ALLOWED_CONSTANTS: dict[str, str] = {
    "FOOTBALL_EVENT_SCHEMA": "SURVEY Basic 2-8 input frames (schemas.py)",
    "MATCH_SCHEMA": "SURVEY Advanced 2 input frame (schemas.py)",
    "PLAYER_SCHEMA": "SURVEY Advanced 2 input frame (schemas.py)",
    "ENERGY_SCHEMA": "SURVEY Advanced 4 input frame (schemas.py)",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# a call: (callee name, positional arg count, keyword names, uses * or **)
Call = tuple[str, int, frozenset, bool]


def _trees(paths) -> dict[Path, ast.Module]:
    return {p: ast.parse(p.read_text()) for p in paths}


def _is_register(decorator: ast.expr) -> bool:
    func = decorator.func if isinstance(decorator, ast.Call) else decorator
    return getattr(func, "id", getattr(func, "attr", None)) == "register"


def _reads(node: ast.AST, aliases: dict[str, str], calls: list[Call]) -> set[str]:
    """Names and attribute names read under ``node``; records every
    ``from m import a as b`` it passes in ``aliases`` (b -> a) and every
    call in ``calls``. An explicit stack, about twice as fast as
    ``ast.walk``."""
    out, stack = set(), [node]
    while stack:
        n = stack.pop()
        kind = type(n)
        if kind is ast.Name:
            if type(n.ctx) is ast.Load:
                out.add(n.id)
            continue
        if kind is ast.Attribute:
            out.add(n.attr)
        elif kind is ast.Call:
            name = getattr(n.func, "id", getattr(n.func, "attr", None))
            if name is not None:
                kws = frozenset(k.arg for k in n.keywords)
                star = None in kws or any(type(a) is ast.Starred for a in n.args)
                calls.append((name, len(n.args), kws, star))
        elif kind is ast.ImportFrom:
            aliases.update((a.asname, a.name) for a in n.names if a.asname)
        for v in vars(n).values():
            if type(v) is list:
                for x in v:
                    if isinstance(x, ast.AST):
                        stack.append(x)
            elif isinstance(v, ast.AST):
                stack.append(v)
    return out


def _uses(tree: ast.Module, calls: list[Call]) -> set[str]:
    """Names read in ``tree``; a read of ``b`` after ``from m import a as b``
    counts as a read of ``a``, and a top-level def's reads of its own name
    (recursion) do not count. Appends the calls in ``tree`` to ``calls``."""
    aliases: dict[str, str] = {}
    used: set[str] = set()
    first = len(calls)
    for stmt in tree.body:
        names = _reads(stmt, aliases, calls)
        if isinstance(stmt, _DEFS):
            names.discard(stmt.name)
            if any(_is_register(d) for d in stmt.decorator_list):
                names.add(stmt.name)
        used |= names
    calls[first:] = [(aliases.get(c[0], c[0]), *c[1:]) for c in calls[first:]]
    return used | {aliases[n] for n in used if n in aliases}


def _constants(stmt: ast.stmt) -> list[str]:
    """Module-level names a top-level assignment binds (dunders excluded)."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
        targets = [stmt.target]
    else:
        return []
    names = []
    for t in targets:
        for n in t.elts if isinstance(t, ast.Tuple) else [t]:
            if isinstance(n, ast.Name) and not n.id.startswith("__"):
                names.append(n.id)
    return names


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(position or None for keyword-only, name) of each defaulted
    parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(i, p.arg) for i, p in enumerate(pos) if i >= first]
    out += [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


@pytest.fixture(scope="module")
def surface():
    """(package trees, names read outside tests/, every call in the repo).
    Parsing and walking ~300k AST nodes allocates enough to set off cyclic
    GC passes over the whole test process heap, which would about double
    the time, so GC is off while it runs."""
    gc.disable()
    try:
        package = _trees(sorted(PACKAGE.rglob("*.py")))
        others = _trees(
            sorted((ROOT / "scripts").glob("*.py"))
            + sorted((ROOT / "perfbench").rglob("*.py"))
            + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
        )
        calls: list[Call] = []
        used = set().union(
            *(_uses(t, calls) for t in [*package.values(), *others.values()])
        )
        for tree in _trees(sorted((ROOT / "tests").rglob("*.py"))).values():
            _uses(tree, calls)
        return package, used, calls
    finally:
        gc.enable()


def test_every_package_def_has_a_non_test_user(surface):
    package, used, _ = surface
    defs: dict[str, list[str]] = {}
    for path, tree in package.items():
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append(str(path.relative_to(ROOT)))
    assert sorted(n for n in ALLOWED if n not in defs) == [], "stale ALLOWED entries"
    assert sorted(n for n in ALLOWED if n in used) == [], "ALLOWED defs that have a user"
    test_only = {n: mods for n, mods in defs.items() if n not in used and n not in ALLOWED}
    assert not test_only, "package defs reached only from tests/:\n" + "\n".join(
        f"  {name} ({', '.join(mods)})" for name, mods in sorted(test_only.items())
    )


def test_every_module_constant_has_a_non_test_reader(surface):
    package, used, _ = surface
    consts: dict[str, list[str]] = {}
    for path, tree in package.items():
        for stmt in tree.body:
            for name in _constants(stmt):
                consts.setdefault(name, []).append(str(path.relative_to(ROOT)))
    stale = sorted(n for n in ALLOWED_CONSTANTS if n not in consts or n in used)
    assert stale == [], "ALLOWED_CONSTANTS entries that are gone or have a reader"
    unread = {n: mods for n, mods in consts.items() if n not in used and n not in ALLOWED_CONSTANTS}
    assert not unread, "module constants no code outside tests/ reads:\n" + "\n".join(
        f"  {name} ({', '.join(mods)})" for name, mods in sorted(unread.items())
    )


def test_every_defaulted_parameter_is_passed_somewhere(surface):
    package, _, calls = surface
    by_name: dict[str, list[Call]] = {}
    for call in calls:
        by_name.setdefault(call[0], []).append(call)
    unpassed = []
    for path, tree in package.items():
        for fn in tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) or any(
                _is_register(d) for d in fn.decorator_list
            ):
                continue
            sites = by_name.get(fn.name, [])
            for i, param in _defaulted(fn):
                if not any(
                    star or param in kws or (i is not None and npos > i)
                    for _, npos, kws, star in sites
                ):
                    unpassed.append(f"  {path.relative_to(ROOT)}:{fn.lineno} {fn.name}({param})")
    assert not unpassed, (
        f"{len(unpassed)} defaulted parameters that no call passes:\n" + "\n".join(unpassed)
    )
