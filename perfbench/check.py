#!/usr/bin/env python3
"""Steadiness and tracing-overhead check for the benchmark.

    python3 perfbench/check.py --workload stream_bulk --seeds 1-10 [--traced]

Runs perfbench/run.py once per seed (from the checkout root) with the
`run_seconds` of BENCHMARK.json, and prints for every end-to-end metric
its median, quartiles and spread, the distance between the first and
third quartile as a share of the median. With `--traced` each seed also
runs with `--trace 1`, and the traced run's end-to-end figures (its
`detail` line) are compared with the untraced medians: tracing overhead
is traced minus untraced.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seeds(spec: str) -> list:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed: int, seconds: int, trace: int) -> list:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True).stdout
    return [json.loads(line) for line in out.splitlines() if line.startswith("{")]


def summary(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    names = [m["name"] for m in bench["end_to_end"]]
    plain, traced = {n: [] for n in names}, {n: [] for n in names}
    for s in seeds(a.seeds):
        *_, result = run(a.workload, s, bench["run_seconds"], 0)
        assert result["correct"], result
        for n in names:
            plain[n].append(result["metrics"][n]["value"])
        print(json.dumps({"seed": s, **{n: plain[n][-1] for n in names}}), flush=True)
        if a.traced:
            detail, result = run(a.workload, s, bench["run_seconds"], 1)
            assert result["correct"], result
            for n in names:
                traced[n].append(detail["metrics"][n]["value"])
            print(json.dumps({"seed": s, "traced": True, **{n: traced[n][-1] for n in names}}),
                  flush=True)
    report = {n: summary(plain[n]) for n in names}
    if a.traced:
        for n in names:
            report[n]["trace_overhead"] = statistics.median(traced[n]) - report[n]["median"]
    print(json.dumps({"workload": a.workload, "seeds": a.seeds, "metrics": report}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
