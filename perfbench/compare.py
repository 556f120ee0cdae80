"""Compare two sets of benchmark records, metric by metric.

Usage: python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file is one ``perfbench/.results/<shape>/<workload>.<e2e|trace>.jsonl``.
Prints each side's median and quartiles and the change's median as a share
of the base's, next to the metric's bound from ``BENCHMARK.json``. Refuses
records of different run shapes (cpus, heap, Spark, Java or Python version,
input scales, run length) or workloads: such figures are not comparable.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def identity(records: list[dict], path: str) -> tuple[str, str, int]:
    keys = {(json.dumps(r["shape"], sort_keys=True), r["workload"], r["trace"]) for r in records}
    if len(keys) != 1:
        raise SystemExit(f"{path} mixes records of several shapes or workloads")
    return keys.pop()


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(base_path: str, change_path: str) -> int:
    base, change = load(base_path), load(change_path)
    if not base or not change:
        raise SystemExit("both files need at least one record")
    if identity(base, base_path) != identity(change, change_path):
        raise SystemExit(
            "refusing to compare: the two files come from runs of different shapes "
            f"or workloads\n  {base_path}: {base[0]['shape']}\n  {change_path}: {change[0]['shape']}"
        )
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m.get("bound") for m in json.load(fh)["end_to_end"]}
    print(f"{base[0]['workload']}: base n={len(base)}, change n={len(change)}")
    for name in base[0]["metrics"]:
        b = quartiles([r["metrics"][name] for r in base])
        c = quartiles([r["metrics"][name] for r in change])
        ratio = c[1] / b[1] if b[1] else float("nan")
        bound = bounds.get(name)
        verdict = "" if bound is None else ("  worse than bound" if ratio > 1 + bound else "  within bound")
        print(
            f"{name:30s} base {b[1]:.4g} [{b[0]:.4g}, {b[2]:.4g}]  "
            f"change {c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}]  x{ratio:.3f}{verdict}"
        )
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    raise SystemExit(main(sys.argv[1], sys.argv[2]))
