"""Catalog-wide scale-killer sweep: no row-at-a-time Python evaluation, no
non-broadcast cartesian product and no unfused Python map-over-map hop in
ANY catalog query's executed plan.

This is the automated version of the per-round manual plan audit; the
feature table itself is regenerated by scripts/plan_audit.py into
PLAN_AUDIT.md."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

# Queries allowed a Python map node directly over another one (through
# Project and codegen adapters only), each with the reason the hop stays.
UNFUSED: dict[str, str] = {}


def test_no_forbidden_plan_shapes_anywhere(spark, sf_dir):
    from plan_audit import audit

    rows = audit(sf_dir)
    assert len(rows) >= 121
    errors = {n for n, r in rows.items() if r.get("error")}
    assert not errors
    rowpy = {n for n, r in rows.items() if r.get("rowpy")}
    cartesian = {n for n, r in rows.items() if r.get("cartesian")}
    assert not rowpy, f"row-at-a-time Python in: {rowpy}"
    assert not cartesian, f"non-broadcast cartesian in: {cartesian}"
    chained = {n: r["py_chain"] for n, r in rows.items() if r["py_chain"]}
    assert set(chained) == set(UNFUSED), f"unfused Python map-over-map hops: {chained}"


def test_py_chain_counts_hops_through_projects_only(spark):
    """Hand-chained mapInPandas stages (not map_batches, so nothing fuses):
    a column selection between them still counts as a hop, a Filter
    does not."""
    from plan_audit import py_chain

    def same(batches):
        yield from batches

    def plan(df):
        return df._jdf.queryExecution().executedPlan()

    first = spark.range(8).mapInPandas(same, "id long")
    assert py_chain(plan(first)) == 0
    assert py_chain(plan(first.mapInPandas(same, "id long"))) == 1
    both = first.selectExpr("id", "id AS twin").mapInPandas(same, "id long, twin long")
    assert py_chain(plan(both.select("id").mapInPandas(same, "id long"))) == 2
    assert py_chain(plan(first.filter("id > 2").mapInPandas(same, "id long"))) == 0
