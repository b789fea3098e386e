#!/usr/bin/env python3
"""Lists which registered queries run correctly on the benchmark's
generated tables, and writes the pool the query sample draws from.

    python3 perfbench/query_pool.py SEED [SEED ...]

For each seed it runs every query of `SparkEntry.queries` once, in a
traced tiny `candy_year` run, and checks each result against DuckDB
running the query's oracle SQL over the same tables. A query is in the
pool when it succeeded and matched on every seed; every other query is
listed under `excluded` with the reason from the first seed it failed
on. The result goes to `perfbench/query_pool.json`.
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def scan(seed):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "candy_year",
         "--seed", str(seed), "--seconds", "1", "--trace", "1", "--scale", "tiny",
         "--queries", "*", "--deadline", "1500"],
        cwd=run.ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(p.stderr[-3000:])
    with open(os.path.join(run.BUILD, "records",
                           f"candy_year-seed{seed}-trace1.json")) as f:
        rec = json.load(f)
    names = [op["name"][len("query_"):] for op in rec["ops"]
             if op["name"].startswith("query_")]
    bad = {x["op"][len("query_"):]: x["reason"] for x in rec["failures"]
           if x["op"].startswith("query_")}
    return names, bad


def main(seeds):
    names, excluded = None, {}
    for seed in seeds:
        names_s, bad = scan(seed)
        names = names_s if names is None else names
        for name, why in bad.items():
            excluded.setdefault(name, f"seed {seed}: {why}")
    pool = {fam: sorted(n for n in names if n not in excluded
                        and n.split("_")[0].rstrip("0123456789") == fam)
            for fam in run.FAMILIES}
    with open(os.path.join(HERE, "query_pool.json"), "w") as f:
        json.dump({"seeds": seeds, "pool": pool,
                   "excluded": dict(sorted(excluded.items()))}, f, indent=1)
        f.write("\n")
    print(f"{sum(map(len, pool.values()))} of {len(names)} queries in the pool, "
          f"{len(excluded)} excluded")


if __name__ == "__main__":
    main([int(s) for s in sys.argv[1:]] or [1, 2])
