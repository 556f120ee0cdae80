"""bench.py's full per-query map never replaces a run of another shape."""

from __future__ import annotations

import json

import bench


def _record(directory, cpus, sf):
    path = directory / "BENCH_LOCAL.json"
    path.write_text(json.dumps({"value": 1.0, "cpus": cpus, "sf": sf}) + "\n")
    return str(path)


def test_first_run_writes_the_shared_file(tmp_path):
    assert bench.bench_local_path(str(tmp_path), 4, 0.1) == str(tmp_path / "BENCH_LOCAL.json")


def test_same_shape_replaces_the_shared_file(tmp_path):
    shared = _record(tmp_path, 8, 0.1)
    assert bench.bench_local_path(str(tmp_path), 8, 0.1) == shared


def test_other_cpus_or_sf_write_a_shape_keyed_file(tmp_path):
    shared = _record(tmp_path, 8, 0.1)
    assert bench.bench_local_path(str(tmp_path), 4, 0.1) == str(
        tmp_path / "BENCH_LOCAL.cpus4.sf0.1.json"
    )
    assert bench.bench_local_path(str(tmp_path), 8, 0.01) == str(
        tmp_path / "BENCH_LOCAL.cpus8.sf0.01.json"
    )
    assert json.loads(open(shared).read())["cpus"] == 8


def test_record_without_shape_is_never_replaced(tmp_path):
    (tmp_path / "BENCH_LOCAL.json").write_text('{"value": 1.0}\n')
    assert bench.bench_local_path(str(tmp_path), 32, 0.1).endswith("BENCH_LOCAL.cpus32.sf0.1.json")
