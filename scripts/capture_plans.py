"""Capture .explain("formatted") for named queries into plans/<tag>/.

Usage: python scripts/capture_plans.py <outdir> <suffix> [query ...]

Writes plans/<outdir>/<query>_<suffix>.txt for each named query (default:
every catalog query). Explain-only — no query execution — but it still
builds each DataFrame, so imports/fixture setup run (all 258 queries at
sf0.01: about 3 minutes on 4 cores).

Each plan is written in a canonical form (:func:`canonical`), so two
captures of one commit diff clean and a diff between two commits shows only
plan changes: expression, exchange-plan and RDD ids are masked, the checkout
path is replaced by ``<checkout>``, and the distinct-aggregate rewrite's
Expand is put in one order. Catalyst numbers its distinct groups (``gid``)
and orders their child columns by hash order of expression ids, which
changes with everything the JVM built before the query. For the same
reason PySpark lambda variables (``lambda x_285``, numbered by a
process-wide counter) are renumbered per plan in order of first use, and
the call site of ``localCheckpoint`` RDDs (``<unknown>:0`` or
``NativeMethodAccessorImpl.java:0``, depending on the calling frame) is
masked.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

GID = "gid#N"


def _items(s: str, start: int) -> tuple[list[str], int]:
    """Top-level elements of the bracketed list opening at ``s[start]``, and
    the index of its closing bracket."""
    out, depth, begin, quoted = [], 0, start + 1, False
    for i in range(start, len(s)):
        ch = s[i]
        if ch == "'":
            quoted = not quoted
        elif quoted:
            continue
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
            if depth == 0:
                out.append(s[begin:i].strip())
                return out, i
        elif ch == "," and depth == 1:
            out.append(s[begin:i].strip())
            begin = i + 1
    raise ValueError(f"unbalanced bracket at {start}: {s!r}")


def _alias(element: str) -> str:
    return element.rsplit(" AS ", 1)[-1]


def _sort_before_gid(line: str, names: set[str]) -> str:
    """In every list of ``line`` holding ``gid#N`` as an element, sort the
    elements before it that name a distinct-aggregate child column."""
    pos = line.find(GID)
    while pos != -1:
        depth, start = 0, -1
        for j in range(pos - 1, -1, -1):  # the bracket enclosing this gid
            if line[j] in ")]":
                depth += 1
            elif line[j] in "([":
                if depth == 0:
                    start = j
                    break
                depth -= 1
        if start != -1:
            items, end = _items(line, start)
            if GID in items:
                head = items[: items.index(GID)]
                slots = [k for k, e in enumerate(head) if _alias(e) in names]
                for k, e in zip(slots, sorted((head[k] for k in slots), key=_alias)):
                    items[k] = e
                line = line[: start + 1] + ", ".join(items) + line[end:]
        pos = line.find(GID, pos + 1)
    return line


def _canonical_expand(text: str) -> str:
    """Put a plan's one distinct-aggregate Expand (output ``gid#N``) in a
    canonical order: child columns sorted by name, groups numbered by their
    sorted projections, and every downstream list and ``gid`` test to match.
    Plans with no such Expand, or more than one, are returned unchanged."""
    lines = text.split("\n")
    found = []
    for i, line in enumerate(lines):
        if (
            line.startswith("Arguments: [[")
            and i >= 2
            and re.match(r"\(\d+\) Expand$", lines[i - 2])
        ):
            projs, outs = _items("[" + line[len("Arguments: ") :] + "]", 0)[0]
            outs = _items(outs, 0)[0]
            if GID in outs:
                found.append((i, [_items(p, 0)[0] for p in _items(projs, 0)[0]], outs))
    if len(found) != 1:
        return text
    i, projs, outs = found[0]
    g = outs.index(GID)
    slots = [k for k in range(g) if any(p[k] == "null" for p in projs)]
    order = sorted(slots, key=lambda k: outs[k])

    def permute(row: list[str]) -> list[str]:
        row = list(row)
        old = list(row)
        for k, src in zip(slots, order):
            row[k] = old[src]
        return row

    names = {outs[k] for k in slots}
    projs = [permute(p) for p in projs]
    distinct = [p for p in projs if p[g] != "0"]
    values = sorted(int(p[g]) for p in distinct)
    by_key = sorted(distinct, key=lambda p: ", ".join(p[:g] + p[g + 1 :]))
    remap = {p[g]: str(v) for p, v in zip(by_key, values)}
    for p in projs:
        p[g] = remap.get(p[g], p[g])
    projs.sort(key=lambda p: int(p[g]))
    lines[i] = "Arguments: [{}], [{}]".format(
        ", ".join("[" + ", ".join(p) + "]" for p in projs), ", ".join(permute(outs))
    )
    for j, line in enumerate(lines):
        if j != i and GID in line:
            line = _sort_before_gid(line, names)
            lines[j] = re.sub(
                r"(gid#N = )(\d+)", lambda m: m.group(1) + remap.get(m.group(2), m.group(2)), line
            )
    return "\n".join(lines)


def _renumber_lambdas(text: str) -> str:
    """``lambda x_285`` -> ``lambda x_1``: each lambda variable gets the
    ordinal of its first use in the plan."""
    seen: dict[str, str] = {}

    def renumber(m: re.Match) -> str:
        n = seen.setdefault(m.group(0), str(len(seen) + 1))
        return f"lambda {m.group(1)}_{n}"

    return re.sub(r"\blambda (\w+?)_(\d+)\b", renumber, text)


def canonical(text: str) -> str:
    """The capture-independent form of a formatted plan (module docstring)."""
    text = text.replace(ROOT, "<checkout>")
    for pattern, mask in (
        (r"#\d+", "#N"),
        (r"plan_id=\d+", "plan_id=N"),
        (r"RDD\[\d+\]", "RDD[N]"),
        (r"( at localCheckpoint at )[^,\s]+:\d+", r"\1<call site>"),
    ):
        text = re.sub(pattern, mask, text)
    return _canonical_expand(_renumber_lambdas(text))


def main() -> None:
    from data_engineering_assignment_spark.queries import load_catalog
    from data_engineering_assignment_spark.session import get_spark

    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("OFF")
    catalog = load_catalog()
    if not names:
        names = list(catalog)
    base = os.path.join(ROOT, "plans", outdir)
    os.makedirs(base, exist_ok=True)
    for name in names:
        try:
            df = catalog[name].build(spark, sf_dir)
            txt = canonical(
                df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                    df._jdf.queryExecution(), "formatted"
                )
            )
        except Exception as exc:  # noqa: BLE001
            txt = f"EXPLAIN FAILED: {exc}\n"
        with open(os.path.join(base, f"{name}_{suffix}.txt"), "w") as f:
            f.write(txt)
        print(name, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
