"""get_spark sessions: the worker daemon's zip-directory invalidation, and
package UDFs that run whatever the caller's working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from data_engineering_assignment_spark import worker_daemon
from data_engineering_assignment_spark.session import PACKAGE_ROOT


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_invalidate_rereads_archive_only_when_it_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_probe_a.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_if_changed
    )
    try:
        assert importlib.import_module("wd_probe_a").VALUE == 1
        reads.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        assert len(reads) == 1  # the first call keys the importer; the rest skip

        _write_zip(archive, {"wd_probe_a.py": "VALUE = 1\n", "wd_probe_b.py": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 2
        assert importlib.import_module("wd_probe_b").VALUE == 2
    finally:
        for name in ("wd_probe_a", "wd_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_get_spark_workers_run_the_patched_invalidate(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in batches:
            pass
        yield pd.DataFrame({"name": [code.co_name], "file": [code.co_filename]})

    rows = spark.range(1, numPartitions=1).mapInPandas(report, "name string, file string")
    assert [tuple(r) for r in rows.collect()] == [
        ("invalidate_if_changed", worker_daemon.__file__)
    ]


def test_package_udf_runs_from_a_foreign_working_directory(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        from data_engineering_assignment_spark.session import get_spark
        from data_engineering_assignment_spark.sources import svg_meta

        spark = get_spark("foreign-cwd", cpus=1, shuffle_partitions=1)
        svg = b'<svg xmlns="http://www.w3.org/2000/svg" width="10" height="20"></svg>'
        df = spark.createDataFrame(
            [(1, bytearray(svg)), (2, bytearray(b"junk"))], "archive_id long, content binary"
        )
        rows = svg_meta(df).select("archive_id", "parse_ok").orderBy("archive_id").collect()
        print("ROWS", [tuple(r) for r in rows])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ROWS [(1, True), (2, False)]" in out.stdout, out.stderr[-3000:]
