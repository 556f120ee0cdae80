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
* every parameter of a top-level def takes more than one value across the
  calls in the package, ``scripts/``, ``perfbench/``, ``bench.py``,
  ``__spark_entry__.py`` and ``tests/``. Arguments are compared as
  literals, a bare name bound once to a literal at module level counting
  as that literal; an omitted argument is the default's value, and any
  other argument, or a call with ``*args`` or ``**kwargs``, varies. A parameter
  that every call gives one value (a default that no call passes among
  them) is a constant, not a parameter. ``@register`` query functions are
  exempt: the driver fixes their signature. So are the :data:`ALLOWED`
  defs, which mirror the notebook's task settings, UDFs, whose calls pass
  columns, and defs whose name is also read as a value (handed to
  ``mapInPandas``, a UDF and so on), whose calls are not visible; for these,
  only a default that no call passes is flagged;
* ``mapInPandas`` is called only in ``sources/__init__.py``: every other
  Python map stage goes through ``sources.map_batches``, which fuses
  chained stages.

Names are matched across modules by name alone, and ``from m import a as
b`` reads and calls of ``b`` count as ones of ``a``.
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

# a call: (callee name, positional argument values, keyword argument values,
# uses * or **); a value is the repr of a literal, or None where it varies
Call = tuple[str, tuple, dict, bool]


def _trees(paths) -> dict[Path, ast.Module]:
    return {p: ast.parse(p.read_text()) for p in paths}


def _decorated(fn: ast.AST, *names: str) -> bool:
    """Whether ``fn`` has a decorator, or a decorator call, named in ``names``."""
    for decorator in getattr(fn, "decorator_list", ()):
        func = decorator.func if isinstance(decorator, ast.Call) else decorator
        if getattr(func, "id", getattr(func, "attr", None)) in names:
            return True
    return False


def _literal(node: ast.expr, consts: dict[str, str] | None = None) -> str | None:
    """The repr of a literal expression, or of the literal a name in
    ``consts`` is bound to; None for anything else."""
    if type(node) is ast.Constant:
        return repr(node.value)
    if type(node) is ast.Name:
        return (consts or {}).get(node.id)
    if type(node) in (ast.Attribute, ast.Call):
        return None
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError):
        return None


def _reads(
    node: ast.AST,
    aliases: dict[str, str],
    calls: list[Call],
    values: set[str],
    consts: dict[str, str],
) -> set[str]:
    """Names and attribute names read under ``node``; adds the ones read
    other than as a call's callee to ``values``, records every ``from m
    import a as b`` it passes in ``aliases`` (b -> a) and every call in
    ``calls``, its arguments resolved through the module constants
    ``consts``. An explicit stack, about twice as fast as ``ast.walk``."""
    out, stack, callees = set(), [node], set()
    while stack:
        n = stack.pop()
        kind = type(n)
        if kind is ast.Name:
            if type(n.ctx) is ast.Load:
                out.add(n.id)
                if id(n) not in callees:
                    values.add(n.id)
            continue
        if kind is ast.Attribute:
            out.add(n.attr)
            if id(n) not in callees:
                values.add(n.attr)
        elif kind is ast.Call:
            callees.add(id(n.func))
            name = getattr(n.func, "id", getattr(n.func, "attr", None))
            if name is not None:
                star = any(type(a) is ast.Starred for a in n.args) or any(
                    k.arg is None for k in n.keywords
                )
                calls.append(
                    (
                        name,
                        tuple(_literal(a, consts) for a in n.args),
                        {k.arg: _literal(k.value, consts) for k in n.keywords},
                        star,
                    )
                )
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


def _uses(tree: ast.Module, calls: list[Call], values: set[str]) -> set[str]:
    """Names read in ``tree``; a read of ``b`` after ``from m import a as b``
    counts as a read of ``a``, and a top-level def's reads of its own name
    (recursion) do not count. Appends the calls in ``tree`` to ``calls`` and
    the names it reads as values to ``values``."""
    aliases: dict[str, str] = {}
    used: set[str] = set()
    read: set[str] = set()
    first = len(calls)
    consts = _literal_constants(tree)
    for stmt in tree.body:
        names = _reads(stmt, aliases, calls, read, consts)
        if isinstance(stmt, _DEFS):
            names.discard(stmt.name)
            if _decorated(stmt, "register"):
                names.add(stmt.name)
        used |= names
    calls[first:] = [(aliases.get(c[0], c[0]), *c[1:]) for c in calls[first:]]
    values |= read | {aliases[n] for n in read if n in aliases}
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


def _literal_constants(tree: ast.Module) -> dict[str, str]:
    """Module-level names bound to a literal, as that literal's repr; a
    name bound anywhere else in the module too (a second assignment, a
    local, a parameter) is left out."""
    bound: dict[str, int] = {}
    for n in ast.walk(tree):
        if type(n) is ast.Name and type(n.ctx) is not ast.Load:
            bound[n.id] = bound.get(n.id, 0) + 1
        elif type(n) is ast.arg:
            bound[n.arg] = bound.get(n.arg, 0) + 1
    out = {}
    for stmt in tree.body:
        names = _constants(stmt)
        if len(names) == 1 and bound.get(names[0]) == 1:
            value = _literal(stmt.value)
            if value is not None:
                out[names[0]] = value
    return out


def _parameters(fn: ast.FunctionDef) -> list[tuple[int | None, str, str | None]]:
    """(position or None for keyword-only, name, value of the default or
    None) of each named parameter. A default that is no literal is its
    source text, so that calls which omit the argument agree on it."""
    a = fn.args
    pos = a.posonlyargs + a.args
    defaults = [None] * (len(pos) - len(a.defaults)) + a.defaults
    out = [(i, p.arg, d) for i, (p, d) in enumerate(zip(pos, defaults))]
    out += [(None, p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)]
    return [
        (i, name, None if d is None else _literal(d) or f"<{ast.unparse(d)}>")
        for i, name, d in out
    ]


def _single_valued(package: dict, calls: list[Call], values: set[str]) -> list[str]:
    """``path:line def(param=value)`` for each parameter of a top-level
    def in ``package`` that every call in ``calls`` gives one value (module
    docstring)."""
    by_name: dict[str, list[Call]] = {}
    for call in calls:
        by_name.setdefault(call[0], []).append(call)
    found = []
    for path, tree in package.items():
        for fn in tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) or _decorated(
                fn, "register"
            ):
                continue
            sites = by_name.get(fn.name, [])
            hidden = (
                fn.name in ALLOWED or fn.name in values or _decorated(fn, "pandas_udf", "udf")
            )
            for i, param, default in _parameters(fn):
                seen, passed = set(), False
                for _, args, kws, star in sites:
                    if star:
                        seen.add(None)
                        passed = True
                    elif i is not None and i < len(args):
                        seen.add(args[i])
                        passed = True
                    elif param in kws:
                        seen.add(kws[param])
                        passed = True
                    else:
                        # left out: the default's value; None (varies) for a
                        # required argument, whose call is of another def
                        seen.add(default)
                if not sites and default is not None:
                    seen.add(default)
                if hidden:
                    flagged = default is not None and not passed
                else:
                    flagged = len(seen) == 1 and None not in seen
                if flagged:
                    value = next(iter(seen)) if seen else default
                    found.append(f"{path}:{fn.lineno} {fn.name}({param}={value})")
    return found


def _scan(package: dict, others: dict, tests: dict) -> tuple[set, list, set]:
    """(names read outside tests/, every call, names read as values)."""
    calls: list[Call] = []
    values: set[str] = set()
    used = set().union(
        *(_uses(t, calls, values) for t in [*package.values(), *others.values()])
    )
    for tree in tests.values():
        _uses(tree, calls, values)
    return used, calls, values


@pytest.fixture(scope="module")
def surface():
    """(package trees, names read outside tests/, every call in the repo,
    names read as values). Parsing and walking ~300k AST nodes allocates
    enough to set off cyclic GC passes over the whole test process heap,
    which would about double the time, so GC is off while it runs."""
    gc.disable()
    try:
        package = _trees(sorted(PACKAGE.rglob("*.py")))
        others = _trees(
            sorted((ROOT / "scripts").glob("*.py"))
            + sorted((ROOT / "perfbench").rglob("*.py"))
            + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
        )
        tests = _trees(sorted((ROOT / "tests").rglob("*.py")))
        return (package, *_scan(package, others, tests))
    finally:
        gc.enable()


def test_every_package_def_has_a_non_test_user(surface):
    package, used, _, _ = surface
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
    package, used, _, _ = surface
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


def test_every_parameter_takes_more_than_one_value(surface):
    package, _, calls, values = surface
    found = _single_valued(
        {p.relative_to(ROOT): t for p, t in package.items()}, calls, values
    )
    assert not found, f"{len(found)} parameters that take only one value:\n" + "\n".join(
        f"  {f}" for f in found
    )


def _flagged(package_src: str, tests_src: str) -> list[str]:
    """The single-value check run over one package module and one test
    module given as source."""
    package = {Path("pkg.py"): ast.parse(package_src)}
    _, calls, values = _scan(package, {}, {Path("test_pkg.py"): ast.parse(tests_src)})
    return [f.split(" ", 1)[1] for f in _single_valued(package, calls, values)]


PKG = """
def f(df, n=3, *, col="v"):
    return df
"""


def test_guard_counts_an_omitted_argument_as_its_default():
    assert _flagged(PKG, "f(a, 3)\nf(b)\nf(c, n=3, col='v')") == ["f(n=3)", "f(col='v')"]


def test_guard_lets_star_arguments_vary_every_parameter():
    assert _flagged(PKG, "f(*xs)\nf(a, **kw)") == []


def test_guard_resolves_an_aliased_import():
    tests = "from pkg import f as g\ng(a, 3)\ng(b, 4, col='w')\ng(c, 3, col='v')"
    assert _flagged(PKG, tests) == []
    assert _flagged(PKG, "from pkg import f as g\ng(a, 5)\ng(b, 5)") == [
        "f(n=5)",
        "f(col='v')",
    ]


def test_guard_skips_a_def_read_as_a_value():
    assert _flagged(PKG, "df.mapInPandas(f)\nf(a, 4, col='w')\nf(b, 4, col='w')") == []
    # only a default that no visible call passes is flagged on such a def
    assert _flagged(PKG, "df.mapInPandas(f)\nf(a)") == ["f(n=3)", "f(col='v')"]


def test_guard_lets_a_literal_and_a_variable_vary():
    assert _flagged(PKG, "f(a, 3, col='v')\nf(b, k, col=name)") == []


def test_guard_resolves_a_module_constant():
    pkg = PKG + "SCALE = 4\n\ndef g(df):\n    return f(df, SCALE)\n"
    assert _flagged(pkg, "f(a, 4, col=x)") == ["f(n=4)"]
    # a name bound twice in the module is no constant
    rebound = pkg + "\ndef h(SCALE):\n    return f(a, SCALE)\n"
    assert _flagged(rebound, "f(a, 4, col=x)") == []


def test_mapinpandas_only_in_the_helper_module(surface):
    package = surface[0]
    helper = PACKAGE / "sources" / "__init__.py"
    callers = sorted(
        f"{path.relative_to(ROOT)}:{node.lineno}"
        for path, tree in package.items()
        if path != helper
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "mapInPandas"
    )
    assert callers == [], "mapInPandas outside sources.map_batches:\n" + "\n".join(callers)
