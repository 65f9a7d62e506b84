"""Per-layer metrics of a traced run.

The harness records one span per layer call (name, parent, request,
start, end), the Spark stages and jobs charged to each span through its
job group, and the Catalyst phase times of each query execution. This
module turns them into the per-layer metrics: each layer's self time,
Spark counters per layer, and the layer numbers the benchmark's prediction
table names (perfbench/METRICS.md).

Layers are named by the first part of the span name: util, sources,
functions (with plans), operators, and bench for the benchmark's own
request spans. An operator's result action (`<name>.action`) belongs to
the operator's layer.
"""

from collections import Counter, defaultdict

from check import median

COUNTERS = {  # counter -> unit
    "jobs": "count", "stages": "count", "tasks": "count",
    "max_stage_tasks_per_core": "ratio", "executor_run_s": "s", "executor_cpu_s": "s",
    "input_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "task_failures": "count", "sched_wait_s": "s",
}
COUNTED_LAYERS = ("sources", "functions", "operators")
SELF_LAYERS = ("util", "sources", "functions", "operators", "bench")
STORES = ("postings", "positional", "termstats", "vectors")
QUERY_OPS = ("lookup", "bool", "phrase", "bm25", "vector_topk")
PASS_OPS = ("dedup_exact", "dedup_near", "dedup_clusters", "pagerank", "hits", "lpa")
FIXPOINTS = ("pagerank", "hits", "lpa")
# the calls whose largest-input stage is the scan of the workload's input
SCAN_SPANS = ("sources.postings.build", "operators.dedup_exact.action")


def layer_of(name):
    head = name.split(".")[0]
    return "functions" if head == "plans" else head


def counters(stages, n_jobs, cores):
    return {
        "jobs": n_jobs,
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "max_stage_tasks_per_core": max((s["num_tasks"] for s in stages), default=0) / cores,
        "executor_run_s": sum(s["run_ms"] for s in stages) / 1e3,
        "executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "input_mb": sum(s["input_bytes"] for s in stages) / 1e6,
        "shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in stages) / 1e6,
        "spill_mb": sum(s["spill_bytes"] for s in stages) / 1e6,
        "task_failures": sum(s["failures"] for s in stages),
        "sched_wait_s": sum(s["sched_wait_ms"] for s in stages) / 1e3,
    }


def store_bytes(records, workload):
    """Bytes of the persisted stores: per index_build pass, or of the
    query_serve set-up; None for workloads without stores."""
    if workload == "index_build":
        xs = [r["answer"]["store_bytes"] for r in records if r["type"] == "check"]
    elif workload == "query_serve":
        xs = [r["bytes"] for r in records if r["type"] == "store"]
    else:
        return None
    return median(xs) if xs else None


def self_times(spans):
    """Self time per layer: a span's duration minus its children's."""
    child = Counter()
    for s in spans:
        if s["parent"]:
            child[s["parent"]] += s["end_ns"] - s["start_ns"]
    out = Counter()
    for s in spans:
        out[layer_of(s["name"])] += (s["end_ns"] - s["start_ns"] - child[s["id"]]) / 1e9
    return out


def per_layer(records, cores, truth, workload):
    spans = [r for r in records if r["type"] == "span"]
    stages = defaultdict(list)
    for r in records:
        if r["type"] == "stage":
            stages[r["span"]].append(r)
    jobs = Counter(r["span"] for r in records if r["type"] == "job")
    clock = next(r for r in records if r["type"] == "clock")
    plans = [r for r in records if r["type"] == "plan"]

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def wall_ms(ns):
        return clock["ms"] + (ns - clock["ns"]) / 1e6

    def med(xs):
        return median(xs) if xs else 0.0

    def calls(name):
        """Spans of `name`, from the timed operations when it has any there
        (set-up warm-ups run on a smaller input)."""
        xs = [s for s in spans if s["name"] == name]
        timed = [s for s in xs if s["request"]]
        return timed or xs

    def durations(name):
        return [dur(s) for s in calls(name)]

    out = {}
    selfs = self_times(spans)
    for layer in SELF_LAYERS:
        out[layer + ".self_s"] = (selfs[layer], "s")
    for layer in COUNTED_LAYERS:
        ids = [s["id"] for s in spans if layer_of(s["name"]) == layer]
        c = counters([st for i in ids for st in stages[i]], sum(jobs[i] for i in ids), cores)
        for k, v in c.items():
            out["%s.spark.%s" % (layer, k)] = (v, COUNTERS[k])

    out["util.session_s"] = (med(durations("util.session")), "s")
    for store in STORES:
        out["sources.%s.build_s" % store] = (med(durations("sources.%s.build" % store)), "s")
    sb = store_bytes(records, workload)
    out["sources.store_bytes"] = (sb or 0.0, "bytes")
    scans = []
    for s in (x for name in SCAN_SPANS for x in calls(name)):
        if stages[s["id"]]:
            biggest = max(stages[s["id"]], key=lambda st: st["input_bytes"])
            scans.append(biggest["num_tasks"] / cores)
    out["sources.scan_tasks_per_core"] = (med(scans), "ratio")
    text_mb = truth.get("corpus", {}).get("text_bytes", 0) / 1e6
    for name, metric in (("functions.tokenize", "functions.tokenize_mb_per_s"),
                         ("plans.shingle_hash", "plans.shingle_hash_mb_per_s")):
        d = durations(name)
        out[metric] = (text_mb / med(d) if d else 0.0, "MB/s")

    # timed operations of the traced half: one request span tree each
    reqs = defaultdict(list)
    for s in spans:
        if s["request"]:
            reqs[s["request"]].append(s)
    per_req = []
    for members in reqs.values():
        root = next(s for s in members if s["name"].startswith("bench."))
        st = [x for s in members for x in stages[s["id"]]]
        lo, hi = wall_ms(root["start_ns"]), wall_ms(root["end_ns"])
        ops = defaultdict(float)
        for s in members:
            if s["name"].startswith("operators."):
                ops[s["name"].split(".")[1]] += dur(s)
        per_req.append({
            "wall": dur(root),
            "jobs": sum(jobs[s["id"]] for s in members),
            "tasks": sum(x["tasks"] for x in st),
            "run_s": sum(x["run_ms"] for x in st) / 1e3,
            "shuffle_write_mb": sum(x["shuffle_write_bytes"] for x in st) / 1e6,
            "plan_ms": sum(p["ms"] for p in plans if lo <= p["start_ms"] <= hi),
            "construct": sum(dur(s) for s in members if s["parent"] == root["id"]
                             and not s["name"].endswith(".action")),
            "action": sum(dur(s) for s in members if s["name"].endswith(".action")),
            "ops": ops,
        })
    wall = sum(r["wall"] for r in per_req)
    out["spark.busy_frac"] = (sum(r["run_s"] for r in per_req) / (wall * cores) if wall else 0.0,
                              "ratio")
    for key, metric, unit in (("plan_ms", "catalyst.plan_ms", "ms"),
                              ("construct", "driver.construct_s", "s"),
                              ("action", "driver.action_s", "s"),
                              ("jobs", "spark.jobs_per_query", "count"),
                              ("tasks", "spark.tasks_per_query", "count"),
                              ("shuffle_write_mb", "spark.shuffle_write_mb", "MB")):
        out[metric] = (med([r[key] for r in per_req]), unit)
    for op in QUERY_OPS:
        out["operators.%s.p50_ms" % op] = (
            med([r["ops"][op] * 1e3 for r in per_req if op in r["ops"]]), "ms")
    for op in PASS_OPS:
        out["operators.%s_s" % op] = (med([r["ops"][op] for r in per_req if op in r["ops"]]), "s")
    fix_jobs = sum(jobs[s["id"]] for s in spans if s["request"]
                   and s["name"].startswith("operators.")
                   and s["name"].split(".")[1] in FIXPOINTS)
    g = truth.get("graph")
    iters = len(per_req) * (g["pagerank_iters"] + g["hits_iters"] + g["lpa_iters"]) if g else 0
    out["operators.fixpoint.jobs_per_iter"] = (fix_jobs / iters if iters else 0.0, "count")
    return out
