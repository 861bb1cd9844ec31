#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script

1. builds the library and the benchmark JVM program with sbt (perfbench/build.sbt)
   unless a build of the same sources is already in .bench_build/;
2. generates the workload's inputs from the seed (perfbench/gen_inputs.py),
   cached per seed and generator digest in .bench_build/inputs/;
3. starts one fresh JVM that sets up (session + inputs), makes a cold pass
   and then warm passes for <s> seconds;
4. prints every metric by name and unit, then one JSON line:
   {"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
   are the end-to-end ones, with --trace 1 the per-layer ones (the spans and
   the per-layer table are also written to .bench_build/trace/).

It exits non-zero without a result line when the checkout cannot be built or
a run breaks.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import layers  # noqa: E402

WORKLOADS = {
    # docs: corpus size; warm: warm passes the call statistics are taken over
    "pu_mapreduce": {"docs": 0, "warm": 3},
    "curate_batch": {"docs": 2_000, "warm": 3},
    "index_ingest": {"docs": 2_000, "warm": 1},
}
CORES = 4
HEAP = "3g"
BUILD_TIMEOUT = 840
RUN_TIMEOUT = 150
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# fail_frac is printed but is not a BENCHMARK.json metric: it reads 0 when
# all is well, and the JSON line carries it as failed / attempted
UNITS = dict(layers.END_TO_END, fail_frac="ratio")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, cwd, env, timeout, log):
    """Run cmd in its own process group; kill the whole group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_digest(root):
    files = ["build.sbt", "perfbench/build.sbt"]
    for pattern in ["project/*.sbt", "project/build.properties", "perfbench/project/*.sbt",
                    "perfbench/project/build.properties", "src/main/**/*.scala", "src/main/**/*.java",
                    "src/main/resources/**/*", "perfbench/src/main/**/*.scala"]:
        files += sorted(glob.glob(pattern, root_dir=root, recursive=True))
    h = hashlib.sha256()
    for f in files:
        path = os.path.join(root, f)
        if os.path.isfile(path):
            h.update(f.encode() + b"\0")
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, work):
    """Compile with sbt once per source digest; return the runtime classpath."""
    cp_file = os.path.join(work, f"classpath-{source_digest(root)}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cp = f.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(work, "build.log")
    t0 = time.time()
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                      "export Runtime/fullClasspath"],
                     os.path.join(root, "perfbench"), env, BUILD_TIMEOUT, log)
    if code != 0:
        sys.stderr.write(tail(log))
        fail(f"build failed (sbt exit {code})")
    lines = [l.strip() for l in open(log) if l.strip() and not l.startswith("[")]
    if not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(tail(log))
        fail("could not read the classpath from sbt")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1]


def inputs(work, workload, seed):
    docs = WORKLOADS[workload]["docs"]
    gen = os.path.join(HERE, "gen_inputs.py")
    with open(gen, "rb") as f:
        law = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(work, "inputs", f"{workload}-{seed}-{docs}-{law}")
    if not os.path.exists(os.path.join(out, "DONE")):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        cmd = [sys.executable, gen, "--workload", workload,
               "--seed", str(seed), "--out", tmp, "--docs", str(docs)]
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=RUN_TIMEOUT)
        if r.returncode != 0:
            sys.stderr.write(r.stderr)
            fail("input generation failed")
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def jvm(cp, run_dir, args, log, timeout):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    # no hsperfdata file: the JVM writes nothing outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/tmp",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main"] + args
    try:
        code = run_group(cmd, run_dir, dict(os.environ), timeout, log)
    except subprocess.TimeoutExpired:
        code = f"nothing (killed after {timeout} s)"
    if code != 0:
        sys.stderr.write(tail(log))
        shutil.copy(log, os.path.join(os.path.dirname(os.path.dirname(run_dir)), "failed-run.log"))
        fail(f"benchmark JVM exited with {code}")


def hd_quantile(values, p):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of all
    order statistics. Call walls cluster by call type, and a plain order
    statistic jumps from one cluster to the next between runs; this one
    moves smoothly."""
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 20001)
    with np.errstate(divide="ignore", invalid="ignore"):
        logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    logpdf[~np.isfinite(logpdf)] = -np.inf
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    edges = np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1])
    return float(np.dot(np.diff(edges), xs))


def percentile_tail(values):
    """The highest percentile with at least 10 samples beyond it, p = (n-10)/n,
    estimated by Harrell-Davis. Returns (value, percentile, samples); with
    fewer than 11 samples, the maximum."""
    n = len(values)
    if n < 11:
        return (max(values) if values else 0.0), 100.0, n
    p = (n - 10) / n
    return hd_quantile(values, p), 100.0 * p, n


def end_to_end(res, warm):
    cold = res["passes"][0]
    if not cold["ok"]:
        fail("the cold pass failed: " + "; ".join(res["failures"]))
    warm_ok = [p for p in res["passes"] if p["idx"] >= 1 and p["ok"] and not p["traced"]]
    if not warm_ok:
        fail("no successful warm pass: " + "; ".join(res["failures"]))
    wall = statistics.median(p["wall_s"] for p in warm_ok)
    cpu = statistics.median((p["counters"]["run_cpu_ns"] + p["counters"]["deser_cpu_ns"]) / 1e9
                            for p in warm_ok)
    call_passes = sorted({p["idx"] for p in warm_ok})[:warm]
    walls = [c["wall_ms"] for c in res["calls"] if c["pass"] in call_passes and c["ok"]]
    tail_ms, tail_p, tail_n = percentile_tail(walls)
    m = {
        "setup_s": res["setup_s"],
        "cold_pass_s": cold["wall_s"],
        "items_per_s": res["items_per_pass"] / wall,
        "task_cpu_s": cpu,
        "call_p50_ms": hd_quantile(walls, 0.5),
        "call_tail_ms": tail_ms,
        "peak_heap_mb": max(p["heap_mb"] for p in res["passes"]),
        "fail_frac": res["failed"] / max(1, res["attempted"]),
    }
    notes = {"call_tail_ms": f"p{tail_p:.1f} of {tail_n} calls (Harrell-Davis)",
             "call_p50_ms": f"{len(walls)} calls (Harrell-Davis)", "items_per_s": f"{res['items_per_pass']} items/pass, "
             f"{len(warm_ok)} warm passes"}
    return m, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ["build.sbt", "src/main/scala", "perfbench/build.sbt", "perfbench/src/main/scala"]:
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a checkout: {need} is missing")
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    cp = build(root, work)
    in_dir = inputs(work, a.workload, a.seed)

    run_dir = os.path.join(work, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    base = ["--workload", a.workload, "--inputs", in_dir, "--cores", str(CORES)]
    try:
        out = os.path.join(run_dir, "result.json")
        warm = WORKLOADS[a.workload]["warm"]
        # a traced run alternates traced and untraced warm passes, so it
        # needs two at least to measure the tracing overhead
        min_warm = max(warm, 2) if a.trace else warm
        jvm(cp, run_dir, base + ["--out", out, "--seconds", str(a.seconds),
                                 "--trace", str(a.trace), "--min-warm", str(min_warm)],
            out + ".log", RUN_TIMEOUT)
        with open(out) as f:
            res = json.load(f)
        spans = []
        if a.trace:
            with open(out + ".spans.jsonl") as f:
                spans = [json.loads(l) for l in f if l.strip()]
    finally:
        if a.trace and os.path.exists(os.path.join(run_dir, "result.json.spans.jsonl")):
            tdir = os.path.join(work, "trace")
            os.makedirs(tdir, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "result.json.spans.jsonl"),
                        os.path.join(tdir, f"{a.workload}-{a.seed}.spans.jsonl"))
        shutil.rmtree(run_dir, ignore_errors=True)

    m, notes = end_to_end(res, warm)
    for f in res["failures"]:
        print(f"FAILED {f}")
    print(f"workload {a.workload} seed {a.seed}: local[{CORES}], -Xmx{HEAP}, "
          f"{res['items_per_pass']} items per pass")
    for k, unit in UNITS.items():
        print(f"  {k:14s} {m[k]:14.4f} {unit:8s} {notes.get(k, '')}")
    correct = res["failed"] == 0
    if a.trace:
        table = layers.per_layer(res, spans)
        correct = correct and table["coverage_ok"]
        layers.print_table(table)
        tdir = os.path.join(work, "trace")
        with open(os.path.join(tdir, f"{a.workload}-{a.seed}.layers.json"), "w") as f:
            json.dump(table, f, indent=1, sort_keys=True)
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in table["metrics"].items()}
    else:
        metrics = {k: {"value": m[k], "unit": unit} for k, unit in layers.END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
