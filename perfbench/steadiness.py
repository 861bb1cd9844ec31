#!/usr/bin/env python3
"""Measure how steady the end-to-end metrics are.

    python3 perfbench/steadiness.py

Runs `run.py --trace 0` once per seed for every workload, as two
independent sets (seeds 1..10, then 11..20), and records in perfbench/STEADINESS.json per set and
metric the ten values, their median, quartiles
(statistics.quantiles(values, n=4)) and the spread (Q3 - Q1) / median. It
also records, per metric, how far the second set's median lies from the
first's, as a share of the first. A metric passes when each set's spread and
the median shift (worse direction only) stay within the bound BENCHMARK.json
gives it. Exits non-zero if any
metric fails or any run is incorrect.
"""
import json
import statistics
import subprocess
import sys
import time

SEEDS = 10
SETS = 2

def one_run(workload, seed, seconds):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"], capture_output=True, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{r.stderr[-2000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"values": values, "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    record = {"seconds": bench["run_seconds"], "seeds": SEEDS, "sets": SETS, "workloads": {}}
    ok = True
    for w in (w["name"] for w in bench["workloads"]):
        sets, correct = [], True
        t0 = time.time()
        for s in range(SETS):
            runs = [one_run(w, seed, bench["run_seconds"]) for seed in range(s * SEEDS + 1, (s + 1) * SEEDS + 1)]
            correct = correct and all(r["correct"] and r["failed"] == 0 for r in runs)
            sets.append({m: summary([r["metrics"][m]["value"] for r in runs]) for m in bounds})
        rows = {}
        for m, spec in bounds.items():
            meds = [st[m]["median"] for st in sets]
            sign = 1 if spec["better"] == "lower" else -1
            shift = max(sign * (x - meds[0]) / meds[0] for x in meds)
            spreads = [st[m]["spread"] for st in sets]
            passed = shift <= spec["bound"] and max(spreads) <= spec["bound"]
            ok = ok and passed
            rows[m] = {"bound": spec["bound"], "sets": [st[m] for st in sets],
                       "max_spread": max(spreads), "worse_median_shift": shift, "pass": passed}
            print(f"{w:14s} {m:14s} spread {max(spreads):.4f} shift {shift:+.4f} "
                  f"bound {spec['bound']:.2f} {'ok' if passed else 'FAIL'}")
        ok = ok and correct
        record["workloads"][w] = {"correct": correct, "wall_s": time.time() - t0, "metrics": rows}
    with open("perfbench/STEADINESS.json", "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
