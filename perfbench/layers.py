"""Per-layer metrics from a traced run (spans + Spark counters).

Every span carries its name, start, end, parent and run id; spans nest
pass -> call -> construct/execute (or a driver point-op loop). A call
span's counters are the Spark task metrics of the job groups set inside
it. Self time is a span's duration minus the union of its children.

`python3 perfbench/layers.py` prints the per_layer entries of
BENCHMARK.json.
"""
import json
import statistics
from collections import defaultdict

# the end-to-end metrics of BENCHMARK.json and their units
END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "items_per_s": "items/s", "task_cpu_s": "s",
              "call_p50_ms": "ms", "call_tail_ms": "ms", "peak_heap_mb": "MB"}

PMR = ["zip_sum", "product_sum", "split_walk", "ordered_concat", "elsum_tree",
       "elsum_segmented", "pmapbatch"]
POINT_OPS = ["contains", "localIndex", "whichProc", "extremaElement", "nElements"]
DEDUP = ["exact", "minhash", "edit_join", "spans"]
INDEX = ["build", "append", "compact", "probe"]
COVERAGE_MIN = 0.95


def catalog():
    """(name, unit, better, timing_free) of every per-layer metric."""
    t, c = False, True
    m = [("GraftSession.build_ms", "ms", "lower", t)]
    m += [(f"ProductIndexMath.{op}.ns_per_op", "ns", "lower", t) for op in POINT_OPS]
    for v in PMR:
        m += [(f"PMapReduce.{v}.wall_ms", "ms", "lower", t),
              (f"PMapReduce.{v}.task_cpu_ms", "ms", "lower", t),
              (f"PMapReduce.{v}.driver_tail_ms", "ms", "lower", t)]
    m += [("PMapReduce.elsum_tree.result_mb", "MB", "lower", c),
          ("PMapReduce.elsum_segmented.result_mb", "MB", "lower", c),
          ("ProductSplitSource.rank_stats.wall_ms", "ms", "lower", t),
          ("ProductSplitSource.rank_stats.task_cpu_ms", "ms", "lower", t),
          ("TextFunctions.clean.task_cpu_ms", "ms", "lower", t),
          ("TextFunctions.clean.ns_per_row", "ns", "lower", t)]
    for d in DEDUP:
        m += [(f"Dedup.{d}.construct_ms", "ms", "lower", t),
              (f"Dedup.{d}.execute_ms", "ms", "lower", t),
              (f"Dedup.{d}.task_cpu_ms", "ms", "lower", t),
              (f"Dedup.{d}.shuffle_mb", "MB", "lower", c),
              (f"Dedup.{d}.jobs", "count", "lower", c)]
    m += [("Dedup.minhash.verified_per_candidate", "ratio", "higher", c),
          ("ConnectedComponents.survivors.wall_ms", "ms", "lower", t),
          ("ConnectedComponents.survivors.jobs", "count", "lower", c),
          ("Search.bm25.wall_ms", "ms", "lower", t),
          ("Search.bm25.task_cpu_ms", "ms", "lower", t),
          ("ProductQuant.train_ms", "ms", "lower", t),
          ("ProductQuant.adc_task_cpu_ms", "ms", "lower", t),
          ("Curation.chain.wall_ms", "ms", "lower", t),
          ("Curation.chain.task_cpu_ms", "ms", "lower", t)]
    for s in INDEX:
        m += [(f"IndexLifecycle.{s}.wall_ms", "ms", "lower", t),
              (f"IndexLifecycle.{s}.task_cpu_ms", "ms", "lower", t),
              (f"IndexLifecycle.{s}.jobs", "count", "lower", c),
              (f"IndexLifecycle.{s}.written_mb", "MB", "lower", c),
              (f"IndexLifecycle.{s}.files", "count", "lower", c)]
    m += [("Search.bm25_index.build_ms", "ms", "lower", t),
          ("Search.bm25_index.probe_ms", "ms", "lower", t),
          ("Search.bm25_index.read_mb", "MB", "lower", c),
          ("Sinks.write_amp", "ratio", "lower", c),
          ("spark.jobs", "count", "lower", c),
          ("spark.tasks", "count", "lower", c),
          ("spark.shuffle_mb", "MB", "lower", c),
          ("spark.spill_mb", "MB", "lower", c),
          ("spark.deser_cpu_frac", "ratio", "lower", t),
          ("jvm.gc_ms", "ms", "lower", t),
          ("jvm.jit_ms", "ms", "lower", t),
          ("jvm.cold_jit_ms", "ms", "lower", t),
          ("trace.overhead_frac", "ratio", "lower", t),
          ("trace.span_coverage", "ratio", "higher", t)]
    return m


def union_ns(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def cpu_ns(cnt):
    return cnt["run_cpu_ns"] + cnt["deser_cpu_ns"] if cnt else 0


def call_rows(spans):
    """Per traced pass: {call name: summed measures} plus the pass coverage."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    passes = {}
    for p in spans:
        if p["name"] != "pass":
            continue
        idx = int(p["group"][1:].split("|")[0])
        dur = p["end_ns"] - p["start_ns"]
        calls = kids[p["id"]]
        rows = defaultdict(lambda: defaultdict(float))
        for cspan in calls:
            r = rows[cspan["name"]]
            cnt = cspan["counters"] or {}
            cdur = cspan["end_ns"] - cspan["start_ns"]
            r["wall_ms"] += cdur / 1e6
            r["self_ms"] += (cdur - union_ns([(k["start_ns"], k["end_ns"]) for k in kids[cspan["id"]]])) / 1e6
            r["task_cpu_ms"] += cpu_ns(cnt) / 1e6
            r["jobs"] += cnt.get("jobs", 0)
            r["tasks"] += cnt.get("tasks", 0)
            r["shuffle_mb"] += cnt.get("shuffle_write_bytes", 0) / 1e6
            r["written_mb"] += cnt.get("output_bytes", 0) / 1e6
            r["read_mb"] += cnt.get("input_bytes", 0) / 1e6
            r["calls"] += 1
            if cnt.get("last_job_end_ms"):
                r["driver_tail_ms"] += max(0, cspan["end_ms"] - cnt["last_job_end_ms"])
            if "files" in cspan.get("attrs", {}):
                r["files"] = max(r["files"], cspan["attrs"]["files"])
            for k in kids[cspan["id"]]:
                r[k["name"]] += (k["end_ns"] - k["start_ns"]) / 1e6
        coverage = union_ns([(c["start_ns"], c["end_ns"]) for c in calls]) / dur if dur else 0.0
        passes[idx] = {"rows": rows, "coverage": coverage, "wall_s": dur / 1e9}
    return passes


def per_layer(res, spans):
    traced = call_rows(spans)
    warm = {i: v for i, v in traced.items() if i >= 1}
    ok = {p["idx"] for p in res["passes"] if p["ok"]}
    warm_ok = [v for i, v in warm.items() if i in ok] or list(warm.values())
    extras = res.get("extras", {})

    def med(name, measure, scale=1.0):
        vals = [v["rows"][name][measure] for v in warm_ok if name in v["rows"]]
        return statistics.median(vals) * scale if vals else 0.0

    out = {"GraftSession.build_ms": res["build_ms"]}
    q = extras.get("pq_queries", 0)
    for op in POINT_OPS:
        out[f"ProductIndexMath.{op}.ns_per_op"] = med("ProductIndexMath.point_queries", f"ProductIndexMath.{op}",
                                                      1e6 / q) if q else 0.0
    for v in PMR:
        call = f"PMapReduce.{v}"
        out[f"{call}.wall_ms"] = med(call, "wall_ms")
        out[f"{call}.task_cpu_ms"] = med(call, "task_cpu_ms")
        out[f"{call}.driver_tail_ms"] = med(call, "driver_tail_ms")
    for v in ["elsum_tree", "elsum_segmented"]:
        out[f"PMapReduce.{v}.result_mb"] = extras.get("elsum_result_mb", 0.0)
    out["ProductSplitSource.rank_stats.wall_ms"] = med("ProductSplitSource.rank_stats", "wall_ms")
    out["ProductSplitSource.rank_stats.task_cpu_ms"] = med("ProductSplitSource.rank_stats", "task_cpu_ms")
    out["TextFunctions.clean.task_cpu_ms"] = med("TextFunctions.clean", "task_cpu_ms")
    docs = extras.get("docs", 0)
    out["TextFunctions.clean.ns_per_row"] = med("TextFunctions.clean", "task_cpu_ms", 1e6 / docs) if docs else 0.0
    for d in DEDUP:
        call = f"Dedup.{d}"
        out[f"{call}.construct_ms"] = med(call, "construct")
        out[f"{call}.execute_ms"] = med(call, "execute")
        out[f"{call}.task_cpu_ms"] = med(call, "task_cpu_ms")
        out[f"{call}.shuffle_mb"] = med(call, "shuffle_mb")
        out[f"{call}.jobs"] = med(call, "jobs")
    cand = extras.get("minhash_candidates", 0)
    out["Dedup.minhash.verified_per_candidate"] = extras.get("minhash_verified", 0) / cand if cand else 0.0
    out["ConnectedComponents.survivors.wall_ms"] = med("ConnectedComponents.survivors", "wall_ms")
    out["ConnectedComponents.survivors.jobs"] = med("ConnectedComponents.survivors", "jobs")
    out["Search.bm25.wall_ms"] = med("Search.bm25", "wall_ms")
    out["Search.bm25.task_cpu_ms"] = med("Search.bm25", "task_cpu_ms")
    out["ProductQuant.train_ms"] = med("ProductQuant.train", "wall_ms")
    out["ProductQuant.adc_task_cpu_ms"] = med("ProductQuant.adc", "task_cpu_ms")
    out["Curation.chain.wall_ms"] = med("Curation.chain", "wall_ms")
    out["Curation.chain.task_cpu_ms"] = med("Curation.chain", "task_cpu_ms")
    for s in INDEX:
        call = f"IndexLifecycle.{s}"
        for measure in ["wall_ms", "task_cpu_ms", "jobs", "written_mb", "files"]:
            out[f"{call}.{measure}"] = med(call, measure)
    out["Search.bm25_index.build_ms"] = med("Search.bm25_index.build", "wall_ms")
    out["Search.bm25_index.probe_ms"] = med("Search.bm25_index.probe", "wall_ms")
    out["Search.bm25_index.read_mb"] = med("Search.bm25_index.probe", "read_mb")
    ingested = extras.get("ingested_text_bytes", 0)
    written = [sum(r["written_mb"] for n, r in v["rows"].items()
                   if n.startswith("IndexLifecycle.") or n == "Search.bm25_index.build") for v in warm_ok]
    out["Sinks.write_amp"] = statistics.median(written) * 1e6 / ingested if ingested and written else 0.0

    warm_passes = [p for p in res["passes"] if p["idx"] >= 1 and p["ok"]]
    def pmed(f):
        return statistics.median(f(p) for p in warm_passes) if warm_passes else 0.0
    out["spark.jobs"] = pmed(lambda p: p["counters"]["jobs"])
    out["spark.tasks"] = pmed(lambda p: p["counters"]["tasks"])
    out["spark.shuffle_mb"] = pmed(lambda p: p["counters"]["shuffle_write_bytes"] / 1e6)
    out["spark.spill_mb"] = pmed(lambda p: p["counters"]["spill_bytes"] / 1e6)
    out["spark.deser_cpu_frac"] = pmed(lambda p: p["counters"]["deser_cpu_ns"] / max(1, cpu_ns(p["counters"])))
    out["jvm.gc_ms"] = pmed(lambda p: p["gc_ms"])
    out["jvm.jit_ms"] = pmed(lambda p: p["jit_ms"])
    out["jvm.cold_jit_ms"] = res["passes"][0]["jit_ms"]
    t_walls = [p["wall_s"] for p in warm_passes if p["traced"]]
    u_walls = [p["wall_s"] for p in warm_passes if not p["traced"]]
    out["trace.overhead_frac"] = (statistics.median(t_walls) / statistics.median(u_walls) - 1.0
                                  if t_walls and u_walls else 0.0)
    coverage = min((v["coverage"] for v in traced.values()), default=0.0)
    out["trace.span_coverage"] = coverage

    cat = catalog()
    metrics = {name: {"value": float(out[name]), "unit": unit, "timing_free": free}
               for name, unit, _, free in cat}
    calls = {}
    for v in warm_ok:
        for name, r in v["rows"].items():
            calls.setdefault(name, defaultdict(list))
            for k, x in r.items():
                calls[name][k].append(x)
    call_table = {n: {k: statistics.median(xs) for k, xs in d.items()} for n, d in calls.items()}
    return {"metrics": metrics, "calls": call_table, "coverage_ok": coverage >= COVERAGE_MIN,
            "coverage": {str(i): v["coverage"] for i, v in traced.items()}}


def print_table(table):
    print(f"{'call (median of traced warm passes)':38s} {'wall_ms':>10s} {'self_ms':>9s} {'constr_ms':>9s} "
          f"{'exec_ms':>9s} {'cpu_ms':>9s} {'jobs':>6s} {'tasks':>6s} {'shuf_MB':>8s}")
    for name, r in table["calls"].items():
        print(f"{name:38s} {r.get('wall_ms', 0):10.1f} {r.get('self_ms', 0):9.1f} {r.get('construct', 0):9.1f} "
              f"{r.get('execute', 0):9.1f} {r.get('task_cpu_ms', 0):9.1f} {r.get('jobs', 0):6.0f} "
              f"{r.get('tasks', 0):6.0f} {r.get('shuffle_mb', 0):8.2f}")
    print("span coverage of each traced pass: " +
          ", ".join(f"p{i} {c:.3f}" for i, c in table["coverage"].items()))
    print(f"{'per-layer metric':46s} {'value':>14s} unit   kind")
    for name, v in table["metrics"].items():
        kind = "count (timing-free)" if v["timing_free"] else "time"
        print(f"{name:46s} {v['value']:14.4f} {v['unit']:6s} {kind}")


if __name__ == "__main__":
    print(json.dumps([{"name": n, "unit": u, "better": b} for n, u, b, _ in catalog()], indent=2))
