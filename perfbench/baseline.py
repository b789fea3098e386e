#!/usr/bin/env python3
"""Measure a baseline: every workload on several seeds, then summarize.

    python3 perfbench/baseline.py --seeds 1-10 --out perfbench/baseline

For each workload it runs `run.py --trace 0` once per seed and
`run.py --trace 1` once (on the first seed), copies each run's full
record into `<out>/<workload>/`, and writes `<out>/summary.json`: per
workload and end-to-end metric, the median, the quartiles
(`statistics.quantiles(values, n=4)`) and the spread (interquartile
range over median), next to the metric's bound from BENCHMARK.json.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RECORDS = os.path.join(ROOT, ".bench_build", "records")


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, trace, seconds):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    summary = {}
    for w in (w["name"] for w in spec["workloads"]):
        os.makedirs(os.path.join(a.out, w), exist_ok=True)
        results = []
        for s in seeds(a.seeds):
            results.append(run(w, s, 0, spec["run_seconds"]))
            shutil.copy(os.path.join(RECORDS, f"{w}-seed{s}-trace0.json"),
                        os.path.join(a.out, w, f"seed{s}.json"))
            print(f"{w} seed {s}: {json.dumps(results[-1])}", flush=True)
        first = seeds(a.seeds)[0]
        traced = run(w, first, 1, spec["run_seconds"])
        shutil.copy(os.path.join(RECORDS, f"{w}-seed{first}-trace1.json"),
                    os.path.join(a.out, w, f"seed{first}-traced.json"))
        metrics = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            metrics[m["name"]] = {
                "unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else None, "bound": m["bound"],
                "values": vals}
        summary[w] = {"runs": len(results),
                      "all_correct": all(r["correct"] for r in results),
                      "end_to_end": metrics,
                      "per_layer_seed%d" % first: {
                          k: v["value"] for k, v in traced["metrics"].items()}}
    with open(os.path.join(a.out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
