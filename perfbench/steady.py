#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end metric's
median and quartile spread (Q3 − Q1 over the median, as
``statistics.quantiles(values, n=4)`` gives the quartiles).

    python3 perfbench/steady.py --workload extract_batch --seeds 1-10 --out set1.json

Run from the repository root. Runs are sequential, one fresh process each,
with ``run_seconds`` from BENCHMARK.json. ``--compare a.json b.json`` prints
the spread of each set and by how much the second set's median is worse than
the first's (negative: better), against the bounds in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def run_set(workload: str, seeds: list[int], seconds: int) -> dict:
    runs = []
    for seed in seeds:
        cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=180)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {"correct": False, "metrics": None}
        res["seed"], res["exit"] = seed, p.returncode
        runs.append(res)
        print(seed, p.returncode, res["metrics"] and {k: round(v["value"], 4) for k, v in res["metrics"].items()},
              file=sys.stderr)
    return {"workload": workload, "runs": runs}


def summary(s: dict) -> dict[str, tuple[float, float]]:
    runs = [r for r in s["runs"] if r["metrics"]]
    return {k: spread([r["metrics"][k]["value"] for r in runs]) for k in runs[0]["metrics"]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10", help="a-b range")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sign = {m["name"]: 1 if m["better"] == "lower" else -1 for m in bench["end_to_end"]}
    if args.compare:
        a, b = (json.load(open(p)) for p in args.compare)
        sa, sb = summary(a), summary(b)
        for k in sa:
            worse = sign[k] * (sb[k][0] - sa[k][0]) / sa[k][0]
            print(f"{a['workload']:18s} {k:15s} med {sa[k][0]:10.4f} / {sb[k][0]:10.4f}  "
                  f"spread {sa[k][1]:6.3f} / {sb[k][1]:6.3f}  worse by {worse:+.3f}  bound {bounds[k]}")
        return 0
    lo, hi = (int(x) for x in args.seeds.split("-"))
    s = run_set(args.workload, list(range(lo, hi + 1)), bench["run_seconds"])
    if args.out:
        with open(args.out, "w") as f:
            json.dump(s, f, indent=1)
    bad = [r["seed"] for r in s["runs"] if r["exit"] or not r["correct"]]
    for k, (med, sp) in summary(s).items():
        print(f"{args.workload:18s} {k:15s} median {med:10.4f}  spread {sp:6.3f}  bound {bounds[k]}")
    print("failed seeds:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
