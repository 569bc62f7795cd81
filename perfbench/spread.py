#!/usr/bin/env python3
"""Runs the benchmark once per seed and reports, per end-to-end metric, the
median and the quartile spread (Q3 - Q1 over the median) of the values.
This is the steadiness check a benchmark change should pass: every spread
under its bound in BENCHMARK.json (setup_s excepted).

    python3 perfbench/spread.py --workload tpcdi_etl --seeds 1-10 [--out runs.json]

Run from the repository root, like `run.py`.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="1")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    runs = []
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", a.seconds, "--trace", "0"],
                           capture_output=True, text=True)
        line = p.stdout.strip().splitlines()[-1] if p.returncode == 0 else None
        runs.append({"seed": s, "rc": p.returncode, "result": json.loads(line) if line else None})
        print(f"seed {s}: rc {p.returncode} {line or p.stderr[-500:]}", file=sys.stderr)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(runs, fh)
    ok = [r["result"] for r in runs if r["result"]]
    print(f"{a.workload}: {len(ok)}/{len(runs)} runs, correct in "
          f"{sum(r['correct'] for r in ok)}")
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in ok]
        if len(vals) >= 2:
            med, n = stats.p50(vals)
            share = stats.iqr_share(vals)
            print(f"  {name:14s} median {med:12.4f}  spread {share:6.3f}  bound {bound}  "
                  f"{'ok' if share <= bound else 'OVER'}")


if __name__ == "__main__":
    main()
