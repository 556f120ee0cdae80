"""Benchmark entry point: one workload, one run, one JSON result line.

Usage:
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run

1. generates the input tables under ``perfbench/.data`` once per checkout
   (``gendata.py``; fixed data seed, so every run reads the same tables);
2. records the contention markers of ``bench.py``;
3. starts ``worker.py`` in a fresh process with the environment pinned
   (repo on ``PYTHONPATH``, ``SPARK_GRAFT_CPUS``, a fixed driver heap and a
   private ``SPARK_LOCAL_DIRS``), sampling the peak resident memory of its
   whole process tree: driver, JVM and Python workers;
4. records the markers again, removes the run's scratch directories and
   appends the result to ``perfbench/.results/<shape>/``.

``--seed`` sets the order of the queries within each pass. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` is a separate run that reads
per-layer counters from Spark's status stores and records spans.

The last stdout line is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

import stats
from counters import QUERY_COUNTERS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_engineering_assignment_spark"
CHILD_TIMEOUT_S = 140  # the whole run must end within 180 s

# Per-layer metrics summed over one measured pass (median over passes).
PASS_LAYERS = {
    "queries.build_s": "build_s",
    "catalyst.plan_s": "plan_s",
    "exec.action_s": "exec_s",
    **{k: k for k in QUERY_COUNTERS},
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def load_spec() -> tuple[dict, dict]:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        benchmark = json.load(fh)
    return workloads, benchmark


def ensure_data(spec: dict) -> dict[str, str]:
    """Generate the two scales once per checkout; later runs reuse them."""
    import gendata

    dirs = {}
    for key in ("bench_sf", "cold_sf"):
        path = os.path.join(HERE, ".data", f"sf{spec[key]}")
        if not os.path.isdir(path):
            gendata.write(path, spec[key], spec["data_seed"])
        dirs[key] = path
    return dirs


def source_digest() -> str:
    """Content hash of the program's Python sources: identifies the code a
    result was measured on even where the checkout is not a git tree."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "bench.py")]
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, PACKAGE)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        files += [os.path.join(dirpath, f) for f in sorted(filenames) if f.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    res = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, check=False
    )
    return res.stdout.strip() or None


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``: the worker, its JVM and the
    JVM's Python workers (the worker starts a new session)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state; fields[3] is the session id
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def tree_rss_bytes(sid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler(threading.Thread):
    interval_s = 0.1

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0
        self.stop_event = threading.Event()

    def run(self) -> None:
        while not self.stop_event.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.sid))
            self.stop_event.wait(self.interval_s)


def reap_session(sid: int, grace_s: float = 15.0) -> None:
    """Wait for every process of the session to end; kill what outlives the
    grace period."""
    deadline = time.monotonic() + grace_s
    while session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if session_pids(sid):
        try:
            os.killpg(sid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        while session_pids(sid):
            time.sleep(0.1)


def run_worker(cfg: dict, run_dir: str, env: dict) -> tuple[dict, float]:
    cfg_path = os.path.join(run_dir, "config.json")
    out_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    cfg["spawn_epoch"] = time.time()
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path, out_path],
            cwd=ROOT,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except (subprocess.TimeoutExpired, KeyboardInterrupt, SystemExit) as exc:
            # timed out, or this process is being stopped: stop the worker's
            # whole session (JVM and Python workers included) first
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            if not isinstance(exc, subprocess.TimeoutExpired):
                raise
            code = None
        finally:
            sampler.stop_event.set()
            sampler.join()
            reap_session(proc.pid)
    if code != 0 or not os.path.exists(out_path):
        with open(log_path) as fh:
            tail = [ln for ln in fh.read().splitlines() if "WARN" not in ln][-20:]
        fail(f"worker exited with {code}:\n" + "\n".join(tail))
    with open(out_path) as fh:
        return json.load(fh), sampler.peak / 2**20


def per_query_samples(passes: list[dict]) -> dict[str, dict[str, list[float]]]:
    """query -> field -> one value per pass the query completed in."""
    out: dict[str, dict[str, list[float]]] = {}
    for p in passes:
        for r in p["records"]:
            fields = out.setdefault(r["query"], {})
            for k, v in r.items():
                if k != "query":
                    fields.setdefault(k, []).append(v)
    return out


def end_to_end(result: dict, peak_rss_mb: float, tail_pct: float) -> tuple[dict, dict]:
    measured = result["passes"]
    latencies = [r["latency_s"] for p in measured for r in p["records"]]
    tail_s, beyond = stats.nearest_rank(latencies, tail_pct)
    medians = {q: stats.median(f["latency_s"]) for q, f in per_query_samples(measured).items()}
    metrics = {
        "setup_s": result["setup"]["setup_s"],
        "cold_pass_s": result["cold"]["wall_s"],
        "pass_s": stats.median([p["wall_s"] for p in measured]),
        "query_geomean_s": stats.geomean(list(medians.values())),
        "query_tail_s": tail_s,
        "peak_rss_mb": peak_rss_mb,
    }
    info = {
        "tail_percentile": tail_pct,
        "tail_samples": len(latencies),
        "tail_beyond": beyond,
        "pass_walls_s": [p["wall_s"] for p in measured],
        "query_median_s": medians,
    }
    return metrics, info


def per_layer(result: dict) -> tuple[dict, dict]:
    measured = result["passes"]
    metrics = {k: result["setup"][k] for k in ("session.start_s", "queries.import_s", "tables.warm_s")}
    for name, field in PASS_LAYERS.items():
        metrics[name] = stats.median([sum(r[field] for r in p["records"]) for p in measured])
    metrics["catalyst.cold_plan_s"] = sum(r["plan_s"] for r in result["cold"]["records"])
    metrics["trace.pass_s"] = stats.median([p["wall_s"] for p in measured])
    info = {
        "self_time_s": stats.self_times(result["spans"]),
        "per_query": {
            q: {field: stats.median(v) for field, v in fields.items()}
            for q, fields in per_query_samples(measured).items()
        },
    }
    return metrics, info


def shape_of(spec: dict, versions: dict, seconds: int) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpus": versions["cpus"],
        "driver_memory": versions["driver_memory"],
        "spark": versions["spark"],
        "java": versions["java"],
        "python": platform.python_version(),
        "bench_sf": spec["bench_sf"],
        "cold_sf": spec["cold_sf"],
        "seconds": seconds,
    }


def results_dir(shape: dict) -> str:
    """The directory for results of this run shape. Keyed by the shape, so a
    run of another shape can never overwrite or mix with these results."""
    key = hashlib.sha256(json.dumps(shape, sort_keys=True).encode()).hexdigest()[:12]
    out_dir = os.path.join(HERE, ".results", key)
    os.makedirs(out_dir, exist_ok=True)
    shape_path = os.path.join(out_dir, "shape.json")
    if os.path.exists(shape_path):
        with open(shape_path) as fh:
            if json.load(fh) != shape:
                fail(f"{out_dir} holds results of another shape; refusing to write")
    else:
        with open(shape_path, "w") as fh:
            json.dump(shape, fh, indent=1, sort_keys=True)
    return out_dir


def last_pass_s(path: str) -> float | None:
    """``pass_s`` of the latest untraced record in ``path``, if any."""
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        records = [json.loads(line) for line in fh if line.strip()]
    return records[-1]["metrics"]["pass_s"] if records else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.time()
    # SIGTERM unwinds like Ctrl-C, so the worker's session is stopped and the
    # run's scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        fail(f"no {PACKAGE}/ and bench.py beside perfbench/: run from a full checkout")
    spec, benchmark = load_spec()
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload!r}; have {sorted(spec['workloads'])}")
    dirs = ensure_data(spec)

    sys.path.insert(0, ROOT)
    from bench import contention_markers

    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(HERE, ".runs", f"{os.getpid()}-{time.time_ns()}")
    local_dir, tmp_dir = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local_dir)
    os.makedirs(tmp_dir)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_DRIVER_MEMORY=spec["driver_memory"],
        SPARK_LOCAL_DIRS=local_dir,
        TMPDIR=tmp_dir,
        # keep the JVM's scratch files inside the run directory too
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
    )
    env.pop("SPARK_SHUFFLE_PARTITIONS", None)
    cfg = {
        "trace": args.trace,
        "seed": args.seed,
        "seconds": args.seconds,
        "queries": spec["workloads"][args.workload]["queries"],
        "tables": spec["workloads"][args.workload]["tables"],
        "bench_dir": dirs["bench_sf"],
        "cold_dir": dirs["cold_sf"],
        "min_passes": spec["min_passes"],
    }
    markers_pre = contention_markers()
    steal0, total0 = cpu_jiffies()
    try:
        result, peak_rss_mb = run_worker(cfg, run_dir, env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    steal1, total1 = cpu_jiffies()
    markers_post = contention_markers()

    traced = bool(args.trace)
    if traced:
        metrics, info = per_layer(result)
    else:
        n_min = spec["min_passes"] * len(cfg["queries"])
        metrics, info = end_to_end(result, peak_rss_mb, stats.tail_percentile(n_min))
    expected = [m["name"] for m in benchmark["per_layer" if traced else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in benchmark["per_layer"] + benchmark["end_to_end"]}
    failed = len(result["failures"])
    attempted = result["attempted"]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "shape": shape_of(spec, result["versions"], args.seconds),
        "source_digest": source_digest(),
        "git_commit": git_commit(),
        "markers": {"st": [markers_pre[0], markers_post[0]], "mt": [markers_pre[1], markers_post[1]]},
        # share of CPU time the hypervisor gave to other guests during the run
        "steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "attempted": attempted,
        "failed": failed,
        "failed_share": failed / attempted,
        "failures": result["failures"],
        "metrics": metrics,
        **info,
    }
    out_dir = results_dir(record["shape"])
    path = os.path.join(out_dir, f"{args.workload}.{'trace' if traced else 'e2e'}.jsonl")
    if traced:
        base = last_pass_s(os.path.join(out_dir, f"{args.workload}.e2e.jsonl"))
        record["trace_overhead_s"] = None if base is None else metrics["trace.pass_s"] - base
        with open(os.path.join(out_dir, f"{args.workload}.seed{args.seed}.spans.json"), "w") as fh:
            json.dump(result["spans"], fh)
    with open(path, "a") as fh:
        fh.write(json.dumps(record, sort_keys=True) + "\n")

    print(
        f"workload {args.workload} seed {args.seed}: {len(result['passes'])} passes in "
        f"{result['window_s']:.1f} s; output check {result['check_s']:.1f} s; "
        f"run {time.time() - started:.1f} s"
    )
    print(f"failed_share {failed}/{attempted} = {record['failed_share']:.4f}")
    if traced:
        if base is not None:
            print(
                f"tracing overhead: {record['trace_overhead_s']:+.3f} s (traced pass_s "
                f"{metrics['trace.pass_s']:.3f} - untraced {base:.3f})"
            )
        top = sorted(info["self_time_s"].items(), key=lambda kv: -kv[1])
        print("self time (s): " + ", ".join(f"{k} {v:.2f}" for k, v in top))
    else:
        print(
            f"query_tail_s is p{info['tail_percentile']:.1f} of n={info['tail_samples']} "
            f"executions ({info['tail_beyond']} beyond it)"
        )
    print(f"markers st {record['markers']['st']} mt {record['markers']['mt']}, steal {record['steal_share']:.3f}; record appended to {os.path.relpath(path, ROOT)}")
    for f in result["failures"]:
        print(f"FAILED {f['query']} ({f['phase']}): {f['error']}")
    line = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in expected},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
