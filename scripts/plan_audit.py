"""Catalog-wide executed-plan audit → PLAN_AUDIT.md.

Builds every catalog query at sf0.001 (plans are shape-identical across
SFs up to AQE sizing decisions) and records, per query, the plan features
the scale invariants care about:

  * exchanges      — shuffle count (post-AQE reuse)
  * bhj / smj / shj — broadcast-hash / sort-merge / shuffled-hash joins
  * generate       — explode nodes
  * arrow / rowpy  — ArrowEvalPython (vectorized, allowed) vs
                     BatchEvalPython (row-at-a-time Python, FORBIDDEN)
  * cartesian      — CartesianProduct nodes (non-broadcast; FORBIDDEN)
  * bnlj           — BroadcastNestedLoopJoin (single-row stat broadcasts;
                     fine when one side is a bounded aggregate)
  * mapinpandas    — MapInPandas nodes (one Python worker per task each)
  * py_chain       — Python map nodes whose child is another Python map
                     node, looking through only Project and the codegen
                     adapters: a hop sources.map_batches did not fuse

tests/test_plan_audit.py asserts the two FORBIDDEN columns stay zero for
every query, and py_chain too outside its named list. Run alone (one Spark
JVM).

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_assignment_spark.queries import load_catalog
from data_engineering_assignment_spark.session import get_spark

FEATURES = {
    "exchanges": "Exchange",
    "bhj": "BroadcastHashJoin",
    "smj": "SortMergeJoin",
    "shj": "ShuffledHashJoin",
    "generate": "Generate",
    "arrow": "ArrowEvalPython",
    "rowpy": "BatchEvalPython",
    "cartesian": "CartesianProduct",
    "bnlj": "BroadcastNestedLoopJoin",
    "mapinpandas": "MapInPandas",
}

PY_MAPS = {"MapInPandas", "MapInArrow"}
# nodes py_chain looks through: column selection and codegen adapters
SEE_THROUGH = {"Project", "WholeStageCodegen", "InputAdapter", "ColumnarToRow"}


def _children(node) -> list:
    if node.nodeName() == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def py_chain(plan) -> int:
    """Python map nodes of a physical ``plan`` whose child, looking
    through only :data:`SEE_THROUGH` nodes, is another Python map node."""
    n, stack = 0, [plan]
    while stack:
        node = stack.pop()
        kids = _children(node)
        if node.nodeName() in PY_MAPS:
            child = kids[0]
            while child.nodeName().split(" ")[0] in SEE_THROUGH:
                child = _children(child)[0]
            n += child.nodeName() in PY_MAPS
        stack.extend(kids)
    return n


def audit(sf_dir: str) -> dict[str, dict[str, int]]:
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict[str, int]] = {}
    for name, q in load_catalog().items():
        try:
            plan = q.build(spark, sf_dir)._jdf.queryExecution().executedPlan()
        except Exception as exc:  # noqa: BLE001 — record, don't abort the sweep
            out[name] = {"error": 1}
            print(f"ERROR {name}: {exc}", file=sys.stderr)
            continue
        text = plan.toString()
        out[name] = {k: text.count(v) for k, v in FEATURES.items()}
        out[name]["py_chain"] = py_chain(plan)
        # BroadcastNestedLoopJoin also contains no "CartesianProduct"
        # substring, so the cartesian count is the bare node only
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    rows = audit(sf_dir)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md"
    )
    cols = [*FEATURES, "py_chain"]
    with open(path, "w") as f:
        f.write(
            "# PLAN_AUDIT — per-query executed-plan features "
            f"(sf_dir={sf_dir}, {len(rows)} queries)\n\n"
            "Generated by scripts/plan_audit.py. `rowpy` (row-at-a-time\n"
            "Python) and `cartesian` (non-broadcast cross join) must be 0\n"
            "everywhere, and `py_chain` (an unfused Python map-over-map hop)\n"
            "outside the named list — asserted by tests/test_plan_audit.py.\n\n"
        )
        f.write("| query | " + " | ".join(cols) + " |\n")
        f.write("|---|" + "---|" * len(cols) + "\n")
        for name in sorted(rows):
            r = rows[name]
            if r.get("error"):
                f.write(f"| {name} | ERROR |\n")
                continue
            f.write(
                f"| {name} | " + " | ".join(str(r[c]) for c in cols) + " |\n"
            )
    bad = {
        n: r
        for n, r in rows.items()
        if r.get("rowpy") or r.get("cartesian") or r.get("error")
    }
    print(f"{len(rows)} queries audited -> PLAN_AUDIT.md; violations: {bad or 'none'}")


if __name__ == "__main__":
    main()
