"""Self-tests of the benchmark (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They pin the generator's determinism, the percentile rule, and that every
output checker rejects a deliberately corrupted answer.
"""

import hashlib
import json
import os
import tempfile
import unittest

import numpy as np

import check
import gen
import layers
import run


def tree_digest(d):
    h = hashlib.sha256()
    for dirpath, _, names in sorted(os.walk(d)):
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


TMP = None
INPUTS = {}   # name -> (input directory, truth)


def setUpModule():
    global TMP
    TMP = tempfile.TemporaryDirectory()
    for name, workload, seed, sub in (("a", "index_build", 7, "a"), ("b", "index_build", 7, "b"),
                                      ("c", "index_build", 8, "a"),
                                      ("dedup", "dedup_curate", 7, "a")):
        d = gen.generate(workload, seed, os.path.join(TMP.name, sub))
        with open(os.path.join(d, "truth.json")) as f:
            INPUTS[name] = (d, json.load(f))


def tearDownModule():
    TMP.cleanup()


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.a, self.b, self.c = (INPUTS[k][0] for k in "abc")
        self.dedup, self.dedup_truth = INPUTS["dedup"]

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(tree_digest(self.a), tree_digest(self.b))

    def test_other_seed_gives_other_inputs(self):
        self.assertNotEqual(tree_digest(self.a), tree_digest(self.c))

    def test_cache_reuses_inputs(self):
        self.assertEqual(gen.generate("index_build", 7, os.path.dirname(self.a)), self.a)

    def test_file_count_is_part_of_the_key(self):
        self.assertNotEqual(gen.cache_key("dedup_curate", 7, gen.params_of("dedup_curate", 1)),
                            gen.cache_key("dedup_curate", 7, gen.params_of("dedup_curate")))

    def test_corpus_schema_and_layout(self):
        import pyarrow.parquet as pq
        d = os.path.join(self.a, "corpus", "documents.parquet")
        files = os.listdir(d)
        self.assertEqual(len(files), 1)
        meta = pq.ParquetFile(os.path.join(d, files[0])).metadata
        self.assertEqual(meta.num_row_groups, 1)
        self.assertEqual(pq.read_schema(os.path.join(d, files[0])).names,
                         ["doc_id", "text", "lang", "source", "n_chars"])
        self.assertEqual(len(os.listdir(os.path.join(
            self.dedup, "corpus", "documents.parquet"))), 16)

    def test_planted_duplicates(self):
        d = self.dedup_truth["dedup"]
        n = self.dedup_truth["corpus"]["n_docs"]
        planted = sum(len(f) - 1 for f in d["families"])
        self.assertAlmostEqual(planted / n, 0.15, delta=0.01)
        self.assertTrue(d["exact_dups"])
        self.assertTrue(all(j >= gen.NEAR_THRESHOLD for _, _, j in d["near_pairs"]))

    def test_vocabulary_avoids_stopwords(self):
        rng = np.random.default_rng(1)
        words = gen._vocabulary(rng, 2000)
        self.assertEqual(len(set(words)), 2000)
        self.assertTrue(all(set(w) & set("zxq") for w in words))

    def test_render_normalises_back_to_tokens(self):
        rng = np.random.default_rng(2)
        toks = ["alpha", "the", "bzq", "of", "qux"] * 7
        self.assertEqual(gen.normalize_tokens(gen._render(rng, toks)), toks)


class PercentileTest(unittest.TestCase):

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(check.tail_percentile(range(1, 201)), (95, 190))
        self.assertEqual(check.tail_percentile(range(1, 101)), (90, 90))
        self.assertEqual(check.tail_percentile(range(1, 21)), (50, 10))
        self.assertIsNone(check.tail_percentile(range(1, 20)))

    def test_ten_samples_lie_beyond(self):
        for n in (20, 37, 64, 150, 999):
            xs = list(range(n))
            p, v = check.tail_percentile(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)
            if p < 99:
                r = -(-(p + 1) * n // 100)
                self.assertLess(n - r, 10)

    def test_median(self):
        self.assertEqual(check.median([3, 1, 2]), 2)
        self.assertEqual(check.median([4, 1, 2, 3]), 2.5)


class CheckerTest(unittest.TestCase):

    def test_index_checker(self):
        inputs, truth = INPUTS["a"]
        c = truth["corpus"]
        good = {k: c[k] for k in ("postings_rows", "positional_rows", "stats_rows",
                                  "df_sample", "n_docs", "n_corpus", "avgdl")}
        self.assertTrue(check.check_index(good, truth))
        for key, bad in (("postings_rows", c["postings_rows"] + 1),
                         ("avgdl", c["avgdl"] * 1.001),
                         ("df_sample", dict(c["df_sample"], **{next(iter(c["df_sample"])): -1}))):
            self.assertFalse(check.check_index(dict(good, **{key: bad}), truth), key)
        # the same through run.py's per-operation accounting
        checker = run.Checker("index_build", inputs, truth)
        op = {"type": "op", "id": 0, "answer": None}
        self.assertTrue(checker.ok(op, {0: good}))
        self.assertFalse(checker.ok(op, {0: dict(good, stats_rows=0)}))
        self.assertFalse(checker.ok(dict(op, error="boom"), {0: good}))

    def test_digest(self):
        e = gen.digest([3, 5, 8])
        self.assertTrue(check.check_digest(e, e))
        self.assertFalse(check.check_digest(gen.digest([3, 5, 9]), e))
        self.assertFalse(check.check_digest(gen.digest([3, 5]), e))

    def test_topk(self):
        ref = {1: 0.9, 2: 0.8, 3: 0.8, 4: 0.1}
        good = [[1, 0.9], [2, 0.8], [3, 0.8]]
        self.assertTrue(check.check_topk(good, ref, 3))
        self.assertFalse(check.check_topk([[1, 0.9], [3, 0.8], [2, 0.8]], ref, 3))  # tie order
        self.assertFalse(check.check_topk([[1, 0.9], [2, 0.8], [4, 0.1]], ref, 3))  # missed 3
        self.assertFalse(check.check_topk([[1, 0.9], [2, 0.7], [3, 0.8]], ref, 3))  # score
        self.assertFalse(check.check_topk([[1, 0.9], [1, 0.9], [2, 0.8]], ref, 3))  # dup
        self.assertFalse(check.check_topk([[9, 0.95]] + good[:2], ref, 3))          # stranger
        self.assertTrue(check.check_topk([[2, 0.8], [4, 0.1]], ref, 3, exhaustive=False))
        self.assertFalse(check.check_topk([[4, 0.1], [2, 0.8]], ref, 3, exhaustive=False))

    def test_vector_queries(self):
        rng = np.random.default_rng(5)
        emb = rng.normal(size=(50, 8)).astype(np.float32)
        ref = check.cosine_ref(emb, 7)
        best = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        good = [[i, s] for i, s in best]
        q = {"kind": "topk", "expect": {"qid": 7}}
        self.assertTrue(check.check_query(q, good, emb))
        self.assertFalse(check.check_query(q, good[1:] + [good[0]], emb))
        self.assertFalse(check.check_query(q, [[7, 1.0]] + good[:9], emb))
        ivf = {"kind": "ivf", "expect": {"qid": 7}}
        self.assertTrue(check.check_query(ivf, good[2:], emb))
        self.assertFalse(check.check_query(ivf, [[good[0][0], good[0][1] + 0.01]], emb))

    def test_bm25_query(self):
        q = {"kind": "bm25", "expect": {"scores": {"4": 2.5, "9": 1.25, "2": 1.25}}}
        self.assertTrue(check.check_query(q, [[4, 2.5], [2, 1.25], [9, 1.25]], None))
        self.assertFalse(check.check_query(q, [[4, 2.5], [9, 1.25], [2, 1.25]], None))
        self.assertFalse(check.check_query(q, [[4, 2.5], [2, 1.25]], None))

    def test_dedup_checkers(self):
        inputs, truth = INPUTS["dedup"]
        d = truth["dedup"]
        exact = [[int(k), v] for k, v in d["exact_dups"].items()]
        self.assertTrue(check.check_exact(exact, truth))
        self.assertFalse(check.check_exact(exact[1:], truth))
        self.assertFalse(check.check_exact([[exact[0][0], exact[0][1] + 1]] + exact[1:], truth))

        checker = run.Checker("dedup_curate", inputs, truth)
        near = [list(p) for p in d["near_pairs"]]
        self.assertTrue(check.check_near(near, truth, checker.jaccard_of))
        short = near[: int(len(near) * 0.9)]
        self.assertFalse(check.check_near(short, truth, checker.jaccard_of))      # recall
        wrong = [[near[0][0], near[0][1], near[0][2] - 0.01]] + near[1:]
        self.assertFalse(check.check_near(wrong, truth, checker.jaccard_of))      # jaccard
        a, b = near[0][0], next(x for x in range(truth["corpus"]["n_docs"])
                                if all(x not in f for f in d["families"]))
        self.assertFalse(check.check_near(near + [[min(a, b), max(a, b), 0.9]], truth,
                                          checker.jaccard_of))                    # stranger

        pairs = [[1, 2, 0.9], [2, 3, 0.8], [7, 9, 1.0]]
        clusters = [[1, 1], [2, 1], [3, 1], [7, 7], [9, 7]]
        self.assertTrue(check.check_clusters(clusters, pairs))
        self.assertFalse(check.check_clusters(clusters[:-1] + [[9, 9]], pairs))
        self.assertFalse(check.check_clusters(clusters[:-1], pairs))

    def test_cluster_iterations(self):
        self.assertEqual(check.cluster_iterations([(1, 2)]), 2)
        self.assertGreater(check.cluster_iterations([(i, i + 1) for i in range(16)]), 3)

    def test_graph_checkers(self):
        rng = np.random.default_rng(3)
        src, dst, w = gen.make_graph(rng, 60, 400)
        ref = {"pagerank": gen.pagerank_ref(src, dst, w, 60, 5),
               "lpa": np.array(gen.lpa_ref(src, dst, w, 60, 3))}
        ref["hub"], ref["auth"] = gen.hits_ref(src, dst, 60, 3)
        pr = [[n, float(ref["pagerank"][n])] for n in range(60)]
        hits = [[n, float(ref["hub"][n]), float(ref["auth"][n])] for n in range(60)]
        lpa = [[n, int(ref["lpa"][n])] for n in range(60)]
        self.assertTrue(check.check_graph("pagerank", pr, ref))
        self.assertTrue(check.check_graph("hits", hits, ref))
        self.assertTrue(check.check_graph("lpa", lpa, ref))
        self.assertFalse(check.check_graph("pagerank", pr[:-1], ref))
        self.assertFalse(check.check_graph("pagerank", [[0, pr[0][1] + 1e-3]] + pr[1:], ref))
        self.assertFalse(check.check_graph("hits", [[0, hits[0][1], hits[0][2] + 1e-3]] + hits[1:],
                                           ref))
        self.assertFalse(check.check_graph("lpa", [[0, lpa[0][1] + 1]] + lpa[1:], ref))
        self.assertAlmostEqual(float(ref["hub"].sum()), 1.0, places=3)


class LayerTest(unittest.TestCase):

    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 1, "parent": 0, "name": "bench.q", "start_ns": 0, "end_ns": 10},
            {"id": 2, "parent": 1, "name": "operators.lookup", "start_ns": 1, "end_ns": 3},
            {"id": 3, "parent": 1, "name": "operators.lookup.action", "start_ns": 3, "end_ns": 9},
            {"id": 4, "parent": 0, "name": "plans.shingle_hash", "start_ns": 10, "end_ns": 14},
        ]
        s = layers.self_times(spans)
        self.assertAlmostEqual(s["bench"] * 1e9, 2)
        self.assertAlmostEqual(s["operators"] * 1e9, 8)
        self.assertAlmostEqual(s["functions"] * 1e9, 4)

    def test_every_declared_per_layer_metric_is_computed(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        declared = run.declared(root)
        if declared is None:
            self.skipTest("no BENCHMARK.json")
        spans = [{"type": "span", "id": 1, "parent": 0, "request": 1, "name": "bench.lookup",
                  "start_ns": 0, "end_ns": 10 ** 9}]
        recs = spans + [{"type": "clock", "ms": 0, "ns": 0}]
        out = layers.per_layer(recs, 4, {"corpus": {"text_bytes": 1}}, "query_serve")
        out.update(dict.fromkeys(("trace.overhead.throughput_per_s", "trace.overhead.op_p50_ms",
                                  "operators.dedup_near.recall", "operators.clusters.iterations")))
        self.assertEqual(sorted(set(declared[1]) - set(out)), [])


if __name__ == "__main__":
    unittest.main()
