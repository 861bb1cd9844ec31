#!/usr/bin/env python3
"""Self-test of the benchmark's Python side (no JVM):

    python3 perfbench/selftest.py

* the input generator is deterministic: the same seed gives byte-identical
  files, another seed gives different ones;
* the Harrell-Davis median and tail estimates;
* span self time and coverage subtract the union of the children.
"""
import filecmp
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import layers  # noqa: E402
import run  # noqa: E402


def gen(workload, seed, out):
    subprocess.run([sys.executable, os.path.join(HERE, "gen_inputs.py"), "--workload", workload,
                    "--seed", str(seed), "--out", out, "--docs", "400"], check=True)
    return sorted(os.listdir(out))


def same_tree(a, b):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def main():
    work = os.path.join(os.getcwd(), ".bench_build")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=work)
    try:
        for w in ["pu_mapreduce", "curate_batch"]:
            a, b, c = (os.path.join(tmp, f"{w}-{x}") for x in "abc")
            gen(w, 7, a)
            gen(w, 7, b)
            gen(w, 8, c)
            assert same_tree(a, b), f"{w}: same seed, different bytes"
            assert not same_tree(a, c), f"{w}: different seeds, same bytes"
            print(f"ok  {w}: seed 7 twice is byte-identical, seed 8 differs")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    assert abs(run.hd_quantile(list(range(1, 30)), 0.5) - 15.0) < 1e-6
    value, pct, n = run.percentile_tail(list(range(1, 31)))
    assert n == 30 and abs(pct - 200 / 3) < 1e-9 and 20 < value < 21.5, (value, pct, n)
    clustered = [100.0] * 13 + [130.0] * 14
    assert 100 < run.hd_quantile(clustered, 0.5) < 130
    print("ok  Harrell-Davis median and tail (p66.7 of 30 = %.2f)" % value)

    assert layers.union_ns([(0, 10), (5, 20), (30, 40)]) == 30
    spans = [
        {"id": 0, "parent": -1, "name": "pass", "group": "p1|", "start_ns": 0, "end_ns": 100,
         "end_ms": 0, "counters": None, "attrs": {}},
        {"id": 1, "parent": 0, "name": "A", "group": "p1|1|", "start_ns": 0, "end_ns": 60, "end_ms": 0,
         "counters": None, "attrs": {}},
        {"id": 2, "parent": 1, "name": "construct", "group": "p1|1|construct", "start_ns": 10,
         "end_ns": 30, "end_ms": 0, "counters": None, "attrs": {}},
        {"id": 3, "parent": 0, "name": "B", "group": "p1|2|", "start_ns": 65, "end_ns": 97, "end_ms": 0,
         "counters": None, "attrs": {}},
    ]
    rows = layers.call_rows(spans)[1]
    assert abs(rows["coverage"] - 0.92) < 1e-9, rows["coverage"]
    assert abs(rows["rows"]["A"]["self_ms"] - 40e-6) < 1e-12, rows["rows"]["A"]["self_ms"]
    print("ok  self time and pass coverage subtract the union of child spans")


if __name__ == "__main__":
    main()
