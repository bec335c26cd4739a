#!/usr/bin/env python3
"""Records the benchmark's baseline in perfbench/baseline.json.

For every workload of BENCHMARK.json: `--runs` untraced runs with seeds
seed0, seed0+1, ... and one traced run with seed0. Per end-to-end metric
it records the values, their median and quartiles
(statistics.quantiles(values, n=4)) and the spread (q3 - q1) / median
against the metric's bound; per workload, the run wall times and the
traced run's per-layer metrics.

Usage: python3 perfbench/baseline.py [--runs 10] [--seed0 1000]
       (from the repository root)
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1]), wall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    out = {"runs": a.runs, "seeds": list(range(a.seed0, a.seed0 + a.runs)),
           "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in spec["workloads"]:
        name = w["name"]
        results, walls, details = [], [], []
        for seed in out["seeds"]:
            detail, result, wall = run(name, seed, spec["run_seconds"], 0)
            if not result["correct"]:
                raise SystemExit(f"{name} seed {seed}: wrong output")
            results.append(result)
            details.append(detail["detail"])
            walls.append(round(wall, 1))
        rec = {"why": w["why"], "wall_s": walls, "end_to_end": {}, "detail_median": {}}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q3 - q1) / med
            rec["end_to_end"][m["name"]] = {
                "unit": m["unit"], "median": med, "q1": q1, "q3": q3, "spread": spread,
                "bound": m["bound"], "within_third_of_bound": spread < m["bound"] / 3,
                "values": vals}
            print(f"{name:15s} {m['name']:13s} median {med:.4f} spread {spread:.3f} "
                  f"(bound {m['bound']})")
        for k in details[0]:
            rec["detail_median"][k] = {
                "unit": details[0][k]["unit"],
                "median": statistics.median(d[k]["value"] for d in details)}
        _, traced, wall = run(name, a.seed0, spec["run_seconds"], 1)
        rec["traced"] = {"seed": a.seed0, "wall_s": round(wall, 1),
                         "per_layer": {k: v["value"] for k, v in traced["metrics"].items()}}
        out["workloads"][name] = rec
    with open(os.path.join("perfbench", "baseline.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
