"""Seeded benchmark of the engine's index build, query serving, near-dup
curation and graph fixpoints.

    python3 perfbench/run.py --workload index_build --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (perfbench/build.py) and generates the inputs for the
seed (perfbench/gen.py); both are cached under .bench_build/. The harness
JVM runs the workload on local[N] from one client thread, the answers are
checked here against the generator's references (perfbench/check.py), and
the last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
run is split in an untraced and a traced half, and the metrics are the
per-layer ones (spans, Spark listener counters, tracing overhead).
Every metric, gated or not, is also printed by name above that line.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen    # noqa: E402
import layers  # noqa: E402

SETUPS = 3            # set-ups per run; setup_s is their median
JVM_TIMEOUT_S = 165   # a run must end within 180 s once built
MAX_CORES = 4
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--files", type=int, default=None,
                    help="deliver the corpus as this many parquet files "
                         "(default: the workload's own layout)")
    return ap.parse_args(argv)


def run_jvm(classpath, conf, jvm_flags):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    os.makedirs(os.path.join(conf["work"], "tmp"))
    cmd = ([build.java(), "-Xmx2g", "-XX:+UseParallelGC"] + opens + jvm_flags +
           ["-Djava.io.tmpdir=" + os.path.join(conf["work"], "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classpath, "perfbench.Harness"] +
           ["%s=%s" % kv for kv in sorted(conf.items())])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise RuntimeError("harness exceeded %d s" % JVM_TIMEOUT_S)
    finally:
        if proc.poll() is None:   # timed out, or this process is being stopped
            proc.kill()
            proc.wait()
    if code != 0:
        raise RuntimeError("harness exited with code %d" % code)


def run_harness(classpath, conf):
    """Runs the harness; the first run with a new jar makes a short extra
    run first that records the class-data-sharing archive."""
    archive = build.cds_archive(classpath)
    if not os.path.exists(archive):
        train = dict(conf, work=conf["work"] + "-cds", setups="1", seconds="0", trace="1",
                     out=os.path.join(conf["work"] + "-cds", "out.jsonl"))
        try:
            run_jvm(classpath, train, ["-XX:ArchiveClassesAtExit=" + archive + ".tmp"])
            os.rename(archive + ".tmp", archive)
        except (RuntimeError, OSError) as e:
            print("perfbench: no class-data-sharing archive (%s)" % e, file=sys.stderr)
        finally:
            shutil.rmtree(train["work"], ignore_errors=True)
    flags = ["-XX:SharedArchiveFile=" + archive] if os.path.exists(archive) else []
    run_jvm(classpath, conf, flags)
    with open(conf["out"]) as f:
        return [json.loads(line) for line in f]


# ------------------------------------------------------------ checking

class Checker:
    """Checks each timed operation of a workload; `units` is the work one
    operation does (documents, queries or edge-iterations)."""

    def __init__(self, workload, inputs, truth):
        self.workload, self.inputs, self.truth = workload, inputs, truth
        self.extra = {}
        if workload == "query_serve":
            import numpy as np
            self.emb = np.load(os.path.join(inputs, "embeddings.npy"))
            self.queries = {q["id"]: q for q in truth["queries"]}
        if workload == "graph_fixpoint":
            import numpy as np
            self.graph = dict(np.load(os.path.join(inputs, "graph_ref.npz")))
        if workload == "dedup_curate":
            self._tokens = None

    @property
    def units(self):
        if self.workload in ("index_build", "dedup_curate"):
            return self.truth["corpus"]["n_docs"]
        if self.workload == "graph_fixpoint":
            g = self.truth["graph"]
            return g["edges_kept"] * (g["pagerank_iters"] + g["hits_iters"] + g["lpa_iters"])
        return 1

    def jaccard_of(self, a, b):
        if self._tokens is None:
            import pyarrow.parquet as pq
            t = pq.read_table(os.path.join(self.inputs, "corpus", "documents.parquet"),
                              columns=["doc_id", "text"]).to_pydict()
            self._tokens = dict(zip(t["doc_id"], (gen.normalize_tokens(x) for x in t["text"])))
        return gen.round_half_up(gen.jaccard(gen.shingles(self._tokens[a]),
                                             gen.shingles(self._tokens[b])))

    def ok(self, op, checks):
        if "error" in op:
            return False
        a = op["answer"]
        if self.workload == "index_build":
            c = checks.get(op["id"])
            return c is not None and check.check_index(c, self.truth)
        if self.workload == "query_serve":
            return check.check_query(self.queries[op["id"]], a, self.emb)
        if self.workload == "dedup_curate":
            self.extra.setdefault("recall", []).append(check.near_recall(a["near"], self.truth))
            self.extra.setdefault("iterations", []).append(
                check.cluster_iterations((p[0], p[1]) for p in a["near"]))
            return (check.check_exact(a["exact"], self.truth)
                    and check.check_near(a["near"], self.truth, self.jaccard_of)
                    and check.check_clusters(a["clusters"], a["near"]))
        return all(check.check_graph(k, a[k], self.graph) for k in ("pagerank", "hits", "lpa"))


# ------------------------------------------------------------- metrics

def input_bytes(workload, truth):
    if workload == "index_build":
        return truth["corpus"]["text_bytes"]
    if workload == "query_serve":
        return truth["corpus"]["text_bytes"] + 4 * truth["vectors"]["n"] * gen.WORKLOADS[
            "query_serve"]["vectors"]["dim"]
    return None


def phase_metrics(ops, checker):
    """Throughput and latency of one phase's operations."""
    ms = [o["ms"] for o in ops]
    out = {
        "throughput_per_s": checker.units * len(ops) / (sum(ms) / 1e3),
        "op_p50_ms": check.median(ms),
    }
    tail = check.tail_percentile(ms)
    if tail:
        out["op_tail"] = tail
    return out


def end_to_end(records, workload, truth, checker):
    ops = [r for r in records if r["type"] == "op" and r["phase"] == "timed"]
    m = phase_metrics(ops, checker)
    m["setup_s"] = check.median([r["s"] for r in records if r["type"] == "setup"])
    m["peak_rss_mb"] = next(r["peak_mb"] for r in records if r["type"] == "rss")
    sb = layers.store_bytes(records, workload)
    if sb is not None:
        m["store_bytes_per_input_byte"] = sb / input_bytes(workload, truth)
    return m


UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "op_p50_ms": "ms", "op_tail_ms": "ms",
         "store_bytes_per_input_byte": "ratio", "peak_rss_mb": "MB"}
ALIASES = {  # the workload-specific names of the generic metrics
    "index_build": {"throughput_per_s": ("docs_per_s", "docs/s")},
    "dedup_curate": {"throughput_per_s": ("docs_per_s", "docs/s")},
    "query_serve": {"throughput_per_s": ("queries_per_s", "1/s"),
                    "op_p50_ms": ("query_p50_ms", "ms"),
                    "op_tail_ms": ("query_p95_ms", "ms")},
    "graph_fixpoint": {"throughput_per_s": ("edge_iters_per_s", "1/s")},
}


def declared(root):
    """Metric names and units BENCHMARK.json gates, per trace mode."""
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        b = json.load(f)
    return {"workloads": {w["name"] for w in b["workloads"]},
            0: {m["name"]: m["unit"] for m in b["end_to_end"]},
            1: {m["name"]: m["unit"] for m in b["per_layer"]}}


def main(argv):
    args = parse_args(argv)
    root = os.getcwd()
    out_root = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out_root, exist_ok=True)
    cores = min(MAX_CORES, os.cpu_count() or 1)
    try:
        classpath = build.build(root, out_root)
        inputs = gen.generate(args.workload, args.seed, os.path.join(out_root, "inputs"),
                              files=args.files)
    except (RuntimeError, OSError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2
    with open(os.path.join(inputs, "truth.json")) as f:
        truth = json.load(f)
    work = os.path.join(out_root, "work", "%d-%d" % (os.getpid(), int(time.time())))
    g = gen.WORKLOADS[args.workload].get("graph", {})
    conf = {"workload": args.workload, "input": inputs, "work": work,
            "out": os.path.join(work, "out.jsonl"), "seconds": repr(args.seconds),
            "trace": str(args.trace), "cores": str(cores), "setups": str(SETUPS),
            "iters": "%s,%s,%s" % (g.get("pagerank_iters", 0), g.get("hits_iters", 0),
                                   g.get("lpa_iters", 0))}
    try:
        records = run_harness(classpath, conf)
    except RuntimeError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checker = Checker(args.workload, inputs, truth)
    checks = {r["id"]: r["answer"] for r in records if r["type"] == "check"}
    ops = [r for r in records if r["type"] == "op"]
    failed = sum(1 for o in ops if not checker.ok(o, checks))
    for o in ops:
        if "error" in o:
            print("error in %s %s: %s" % (o["kind"], o["id"], o["error"]), file=sys.stderr)

    if args.trace == 0:
        m = end_to_end(records, args.workload, truth, checker)
        if "op_tail" in m:
            p, m["op_tail_ms"] = m.pop("op_tail")
            print("op_tail_ms is p%d of %d timed operations (the highest percentile "
                  "with ten samples beyond it)" % (p, len([o for o in ops if o["phase"] == "timed"])))
        shown = {k: (v, UNITS[k]) for k, v in m.items()}
        for k, v in m.items():
            alias = ALIASES[args.workload].get(k)
            if alias:
                shown[alias[0]] = (v, alias[1])
        shown["failed_frac"] = (failed / len(ops), "ratio")
    else:
        phases = {ph: phase_metrics([o for o in ops if o["phase"] == ph], checker)
                  for ph in ("untraced", "traced")}
        shown = layers.per_layer(records, cores, truth, args.workload)
        for k in ("throughput_per_s", "op_p50_ms"):
            shown["trace.overhead." + k] = (phases["traced"][k] - phases["untraced"][k], UNITS[k])
        for key, metric, unit in (("recall", "operators.dedup_near.recall", "ratio"),
                                  ("iterations", "operators.clusters.iterations", "count")):
            xs = checker.extra.get(key)
            shown[metric] = (check.median(xs) if xs else 0.0, unit)

    for k in sorted(shown):
        print("%s = %.6g %s" % (k, shown[k][0], shown[k][1]))
    gated = declared(root)
    if gated and args.workload in gated["workloads"]:
        missing = sorted(set(gated[args.trace]) - set(shown))
        if missing:
            print("perfbench: no value for %s" % ", ".join(missing), file=sys.stderr)
            return 4
        names = gated[args.trace]
    else:
        names = {k: u for k, (_, u) in shown.items()}
    metrics = {k: {"value": shown[k][0], "unit": u} for k, u in names.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


def _stop(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _stop)
    sys.exit(main(sys.argv[1:]))
