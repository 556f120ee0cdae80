"""The package ships no surface that only tests reach.

Every top-level def or class in ``data_engineering_assignment_spark`` must be
used by code outside ``tests/``: the package itself, ``scripts/``,
``bench.py``, ``__spark_entry__.py`` or ``perfbench/``. A use is a name or
attribute read in code (docstrings and comments do not count), outside the
def's own body; a ``@register(...)`` decorator makes a catalog query used.
Names are matched across modules by name alone. The defs kept for the
reference notebook's tasks, as a test's reference implementation or as a
plan-test helper are listed in :data:`ALLOWED` with their reason.

Pure ``ast`` work, no Spark session.
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

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


@pytest.fixture
def no_gc():
    """Parsing and walking ~200k AST nodes allocates enough to set off
    cyclic GC passes over the whole test process heap, which would about
    double the test's time."""
    gc.disable()
    try:
        yield
    finally:
        gc.enable()


def _trees(paths) -> dict[Path, ast.Module]:
    return {p: ast.parse(p.read_text()) for p in paths}


def _is_register(decorator: ast.expr) -> bool:
    func = decorator.func if isinstance(decorator, ast.Call) else decorator
    return getattr(func, "id", getattr(func, "attr", None)) == "register"


def _reads(node: ast.AST, aliases: dict[str, str]) -> set[str]:
    """Names and attribute names read under ``node``; records every
    ``from m import a as b`` it passes in ``aliases`` (b -> a). An explicit
    stack, about twice as fast as ``ast.walk``."""
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


def _uses(tree: ast.Module) -> set[str]:
    """Names read in ``tree``; a read of ``b`` after ``from m import a as b``
    counts as a read of ``a``, and a top-level def's reads of its own name
    (recursion) do not count."""
    aliases: dict[str, str] = {}
    used: set[str] = set()
    for stmt in tree.body:
        names = _reads(stmt, aliases)
        if isinstance(stmt, _DEFS):
            names.discard(stmt.name)
            if any(_is_register(d) for d in stmt.decorator_list):
                names.add(stmt.name)
        used |= names
    return used | {aliases[n] for n in used if n in aliases}


def test_every_package_def_has_a_non_test_user(no_gc):
    package = _trees(sorted(PACKAGE.rglob("*.py")))
    others = _trees(
        sorted((ROOT / "scripts").glob("*.py"))
        + sorted((ROOT / "perfbench").rglob("*.py"))
        + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    )
    used = set().union(*map(_uses, [*package.values(), *others.values()]))
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
