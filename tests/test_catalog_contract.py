"""Driver-contract tests: every catalog entry builds against sf0.001, the
entry() smoke query returns rows, and queries()/oracle_sql() keys line up."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod
from data_engineering_assignment_spark.queries import DRIVER_SAMPLE_HEAD, load_catalog


def test_driver_sample_spans_all_modules():
    """The driver's correctness gate checks the first 50 registered queries;
    that prefix must cover every catalog module so each family gets a driver
    CORRECTNESS entry, and every entry must be oracle-gated (a rows-only
    entry spends a slot on a row count)."""
    import inspect

    catalog = load_catalog()
    names = list(catalog)
    assert names[: len(DRIVER_SAMPLE_HEAD)] == list(DRIVER_SAMPLE_HEAD)
    assert len(DRIVER_SAMPLE_HEAD) == 50
    assert len(set(DRIVER_SAMPLE_HEAD)) == 50

    def module(n):
        return inspect.getmodule(catalog[n].build).__name__.split(".")[-1]

    assert {module(n) for n in DRIVER_SAMPLE_HEAD} == {module(n) for n in catalog}
    assert [n for n in DRIVER_SAMPLE_HEAD if catalog[n].oracle is None] == []


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_oracle_keys_subset_of_queries():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # the vast majority of queries must be oracle-gated (the driver's strong check)
    assert len(oracles) >= 0.7 * len(qs)


@pytest.mark.parametrize("name", sorted(load_catalog()))
def test_catalog_query_builds_and_runs(spark, sf_dir, name):
    df = load_catalog()[name].build(spark, sf_dir)
    # schema must be resolvable and the plan executable at tiny scale
    assert df.columns
    df.limit(5).collect()


def test_every_catalog_query_is_benched_or_excluded():
    """Headline-set audit contract (round 10): a catalog query either has
    a standing bench entry (bench.py HEADLINE) or a documented reason in
    the BASELINE.md exclusion table (update_baseline.py EXCLUDED) —
    silent perf-coverage gaps are how regressions hide."""
    import importlib.util
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    bench_src = (root / "bench.py").read_text()
    head = set(
        re.findall(r'"([^"]+)"', re.search(r"HEADLINE = \[(.*?)\]", bench_src, re.S).group(1))
    )
    spec = importlib.util.spec_from_file_location(
        "update_baseline", root / "scripts" / "update_baseline.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    excluded = set(mod.EXCLUDED)
    catalog = set(load_catalog())
    assert head <= catalog, sorted(head - catalog)
    assert not (head & excluded), sorted(head & excluded)
    uncovered = catalog - head - excluded
    assert not uncovered, sorted(uncovered)
