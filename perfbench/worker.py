"""One benchmark run in a fresh process: set-up, a cold pass on the small
inputs, the measured passes and an output check of one workload, with one
client issuing one query at a time.

Usage: python3 perfbench/worker.py CONFIG.json RESULT.json

``run.py`` writes the config, starts this process with the environment
pinned and reads the result file. The checkout root must be on
``PYTHONPATH``.
"""

from __future__ import annotations

import json
import sys
import time

import stats
from counters import SQL_METRICS, STAGE_TOTALS, SparkCounters

T0_PERF = time.perf_counter()
EPOCH_OFFSET = time.time() - T0_PERF  # perf_counter -> epoch seconds


def now() -> float:
    return time.perf_counter()


def epoch(t: float) -> float:
    return t + EPOCH_OFFSET


class Runner:
    def __init__(self, spark, catalog, run_query, traced: bool):
        self.spark = spark
        self.catalog = catalog
        self.run_query = run_query
        self.counters = SparkCounters(spark) if traced else None
        self.spans: list[dict] = []
        self.failures: list[dict] = []
        self.attempted = 0

    def span(self, name: str, parent: int | None, start: float, end: float | None, **attrs) -> int:
        """Record a span; one still open has ``end`` None until closed."""
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name, "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    def phase(self, group: str, phase: str) -> None:
        if self.counters is not None:
            # the description names the group too: SQL executions carry it
            self.spark.sparkContext.setJobGroup(f"{group}:{phase}", f"{group}:{phase}")

    def execute(self, name: str, sf_dir: str, parent: int | None) -> dict | None:
        """Build, plan and run one query through the noop sink. Returns its
        phase times (and counters when traced), or None if it raised."""
        self.attempted += 1
        group = f"perfbench-{self.attempted}"
        marks = [now()]
        try:
            self.phase(group, "build")
            df = self.catalog[name].build(self.spark, sf_dir)
            marks.append(now())
            self.phase(group, "plan")
            df._jdf.queryExecution().executedPlan()
            marks.append(now())
            self.phase(group, "exec")
            self.run_query(df)
            marks.append(now())
        except Exception as exc:  # noqa: BLE001 - a failing query is counted, the run goes on
            self.failures.append({"query": name, "phase": "run", "error": f"{type(exc).__name__}: {exc}"[:500]})
            return None
        finally:
            if self.counters is not None:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self.spark.sparkContext.setLocalProperty("spark.job.description", None)
            self.spark.catalog.clearCache()
        rec = {
            "query": name,
            "build_s": marks[1] - marks[0],
            "plan_s": marks[2] - marks[1],
            "exec_s": marks[3] - marks[2],
            "latency_s": marks[3] - marks[0],
        }
        if self.counters is not None:
            qid = self.span("query", parent, marks[0], now(), query=name)
            for i, phase in enumerate(("build", "plan", "exec")):
                self.span(phase, qid, marks[i], marks[i + 1], query=name)
            rec["_group"], rec["_marks"] = group, marks
        return rec

    def read_counters(self, records: list[dict]) -> None:
        """Attach Spark's counters to each traced record of a finished pass;
        runs after the pass, outside its timed window."""
        c = self.counters
        c.drain()
        sql = c.sql()
        for rec in records:
            group, marks = rec.pop("_group"), rec.pop("_marks")
            phases = {
                phase: c.group(f"{group}:{phase}", epoch(marks[i]), epoch(marks[i + 1]))
                for i, phase in enumerate(("build", "plan", "exec"))
            }
            ex = phases["exec"]
            rec.update(
                {
                    "queries.build_jobs": phases["build"]["jobs"],
                    "exec.jobs": ex["jobs"],
                    "exec.stages": ex["exec.stages"],
                    "exec.tasks": ex["exec.tasks"],
                    "exec.gap_s": ex["gap_s"],
                }
            )
            for key in STAGE_TOTALS:
                rec[key] = sum(p[key] for p in phases.values())
            for key in SQL_METRICS.values():
                rec[key] = sum(sql.get(f"{group}:{phase}", {}).get(key, 0.0) for phase in phases)

    def timed_pass(self, order: list[str], sf_dir: str, kind: str, parent: int | None) -> dict:
        start = now()
        pid = self.span("pass", parent, start, None, kind=kind) if self.counters is not None else None
        records = [r for r in (self.execute(n, sf_dir, pid) for n in order) if r]
        end = now()
        if pid is not None:
            self.spans[pid]["end"] = end
            self.read_counters(records)
        return {"wall_s": end - start, "records": records}

    def check(self, order: list[str], sf_dir: str) -> None:
        """Compare each query's output against its DuckDB oracle (untimed)."""
        from data_engineering_assignment_spark.compare import check_query

        for name in order:
            self.attempted += 1
            try:
                res = check_query(self.spark, name, sf_dir)
            except Exception as exc:  # noqa: BLE001
                self.failures.append({"query": name, "phase": "check", "error": f"{type(exc).__name__}: {exc}"[:500]})
                continue
            finally:
                self.spark.catalog.clearCache()
            if not res.ok:
                self.failures.append({"query": name, "phase": "check", "error": res.detail[:500]})


def main(config_path: str, result_path: str) -> None:
    with open(config_path) as fh:
        cfg = json.load(fh)
    traced = bool(cfg["trace"])
    t_setup = now()
    from data_engineering_assignment_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t_session = now()
    from data_engineering_assignment_spark.queries import load_catalog

    catalog = load_catalog()
    t_import = now()
    from bench import run_query
    from data_engineering_assignment_spark import tables

    for name in cfg["tables"]:
        run_query(tables.load(spark, cfg["bench_dir"], name))
    spark.catalog.clearCache()
    t_ready = now()
    setup = {
        "setup_s": epoch(t_ready) - cfg["spawn_epoch"],
        "session.start_s": t_session - t_setup,
        "queries.import_s": t_import - t_session,
        "tables.warm_s": t_ready - t_import,
    }

    names = cfg["queries"]
    missing = [n for n in names if n not in catalog or catalog[n].oracle is None]
    if missing:
        raise SystemExit(f"queries missing from the catalog or without an oracle: {missing}")
    runner = Runner(spark, catalog, run_query, traced)
    run_id = None
    if traced:
        run_id = runner.span("run", None, t_setup, None)
        for name, a, b in (
            ("session.start", t_setup, t_session),
            ("queries.import", t_session, t_import),
            ("tables.warm", t_import, t_ready),
        ):
            runner.span(name, run_id, a, b)
    orders = stats.pass_orders(names, cfg["seed"])
    cold = runner.timed_pass(next(orders), cfg["cold_dir"], "cold", run_id)
    # The output check runs once, untimed, before the measured window; it is
    # also the first run of each query at bench scale, so the measured passes
    # start with the JIT warmer.
    t_check = now()
    runner.check(next(orders), cfg["bench_dir"])
    check_s = now() - t_check
    if run_id is not None:
        runner.span("check", run_id, t_check, t_check + check_s)

    passes = []
    window = now()
    while now() - window < cfg["seconds"] or len(passes) < cfg["min_passes"]:
        passes.append(runner.timed_pass(next(orders), cfg["bench_dir"], "measured", run_id))
    t_end = now()

    versions = {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "cpus": spark.sparkContext.defaultParallelism,
    }
    if run_id is not None:
        runner.spans[run_id]["end"] = t_end
    spark.stop()
    result = {
        "setup": setup,
        "cold": cold,
        "passes": passes,
        "window_s": t_end - window,
        "check_s": check_s,
        "attempted": runner.attempted,
        "failures": runner.failures,
        "spans": runner.spans,
        "versions": versions,
    }
    with open(result_path, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
