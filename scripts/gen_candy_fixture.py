#!/usr/bin/env python3
"""Write the committed candy fixture and its replayed outputs.

The fixture has the documented shape of the reference's dataset_15
(FIXTURES.md section A): 36 products, 30 customers and the 10 day files
transactions_20240201..20240210. It comes from perfbench's seeded
generator (seed 15, 1,000 transactions over 10 days, first day
2024-02-01). The expected report tables under `expected/` come from the
same module's `replay`, a sequential greedy loop that shares no code
with the engine.

Usage (from the repo root):
    python3 scripts/gen_candy_fixture.py           # (re)write the fixture
    python3 scripts/gen_candy_fixture.py --check   # exit 1 if the committed
                                                   # files differ from a fresh run
"""

import argparse
import csv
import datetime as dt
import filecmp
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True  # leave no __pycache__ in perfbench/
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import candy_data  # noqa: E402

FIXTURE = os.path.join(ROOT, "src", "test", "resources", "candy")
SEED = 15
TRANSACTIONS = 1000
DAYS = 10
FIRST_DAY = dt.date(2024, 2, 1)
TABLES = ["orders", "order_line_items", "daily_summary", "products_updated"]


def write(out_dir):
    """Generate the inputs into `out_dir` and the replay's four tables
    into `out_dir/expected`."""
    # `generate` has no first-day parameter; it reads the module global.
    candy_data.FIRST_DAY = FIRST_DAY
    candy_data.generate(out_dir, seed=SEED, transactions=TRANSACTIONS, days=DAYS)
    expected = candy_data.replay(out_dir)
    exp_dir = os.path.join(out_dir, "expected")
    os.makedirs(exp_dir, exist_ok=True)
    for table in TABLES:
        name = f"{table}.csv"
        with open(os.path.join(exp_dir, name), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(candy_data.HEADERS[name])
            w.writerows(expected[table])


def files(root):
    return sorted(os.path.relpath(os.path.join(d, n), root)
                  for d, _, names in os.walk(root) for n in names)


def check():
    """Regenerate into a temp dir; return the paths that differ from
    the committed fixture (missing, extra or changed)."""
    with tempfile.TemporaryDirectory() as tmp:
        write(tmp)
        fresh, committed = files(tmp), files(FIXTURE)
        diff = sorted(set(fresh) ^ set(committed))
        diff += [p for p in sorted(set(fresh) & set(committed))
                 if not filecmp.cmp(os.path.join(tmp, p),
                                    os.path.join(FIXTURE, p), shallow=False)]
        return sorted(diff)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--check", action="store_true",
                    help="compare a fresh run with the committed files")
    if ap.parse_args().check:
        diff = check()
        for p in diff:
            print(f"differs: {p}", file=sys.stderr)
        sys.exit(1 if diff else 0)
    write(FIXTURE)


if __name__ == "__main__":
    main()
