"""Output checkers and the percentile rule of the benchmark.

Every checker compares one engine answer with a reference that does not
go through the engine: the generator's ground truth, or a plain numpy /
Python recomputation from the generated inputs. Each returns True when
the answer is correct.
"""

import math

import numpy as np

SCORE_TOL = 2e-6      # 6-dp rounded scores: allow one unit of rounding
RANK_TOL = 1e-5       # fixpoint scores carry per-iteration 6-dp rounding
NEAR_RECALL_FLOOR = 0.95


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    return (xs[(n - 1) // 2] + xs[n // 2]) / 2


def tail_percentile(samples, beyond=10):
    """The highest whole percentile p with at least `beyond` samples above
    its nearest-rank value; returns (p, value), or None when even the
    median lacks that many samples beyond it."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in range(50, 100):
        rank = math.ceil(p * n / 100)       # nearest-rank, 1-based
        if rank >= 1 and n - rank >= beyond:
            best = (p, xs[rank - 1])
    return best


# ------------------------------------------------------------ index_build

def check_index(answer, truth):
    c = truth["corpus"]
    return (answer["postings_rows"] == c["postings_rows"]
            and answer["positional_rows"] == c["positional_rows"]
            and answer["stats_rows"] == c["stats_rows"]
            and answer["df_sample"] == c["df_sample"]
            and answer["n_docs"] == c["n_docs"]
            and answer["n_corpus"] == c["n_corpus"]
            and abs(answer["avgdl"] - c["avgdl"]) <= 1e-9 * c["avgdl"])


# ------------------------------------------------------------ query_serve

def check_digest(answer, expect):
    return list(answer) == list(expect)


def check_topk(answer, ref, k, exhaustive=True):
    """`answer`: [[id, score], ...] best first. `ref`: id -> true score of
    every candidate. The ids must be distinct candidates carrying their
    true scores, in (score desc, id) order. With `exhaustive` the answer
    must also be a true top-k: as long as min(k, candidates) and no left-out
    candidate may beat its last score."""
    if not answer or len(answer) > k:
        return False
    ids = [int(a[0]) for a in answer]
    if len(set(ids)) != len(ids):
        return False
    for (i, s), nxt in zip(answer, answer[1:] + [None]):
        if int(i) not in ref or abs(s - ref[int(i)]) > SCORE_TOL:
            return False
        if nxt is not None and (nxt[1] > s or (nxt[1] == s and nxt[0] < i)):
            return False
    if exhaustive:
        if len(answer) != min(k, len(ref)):
            return False
        best = sorted(ref.values(), reverse=True)
        if best[len(answer) - 1] > answer[-1][1] + SCORE_TOL:
            return False
    return True


def cosine_ref(emb, qid):
    """Cosine of every vector against `qid`, rounded like the engine; the
    query itself is not a candidate."""
    v = emb.astype(np.float64)
    norms = np.sqrt((v * v).sum(axis=1))
    sims = np.round((v @ v[qid]) / (norms * norms[qid]), 6)
    return {i: float(s) for i, s in enumerate(sims) if i != qid}


def check_query(q, answer, emb, k=10):
    kind, expect = q["kind"], q["expect"]
    if kind in ("lookup", "and", "or", "andnot", "phrase"):
        return check_digest(answer, expect)
    if kind == "bm25":
        return check_topk(answer, {int(d): s for d, s in expect["scores"].items()}, k)
    ref = cosine_ref(emb, expect["qid"])
    return check_topk(answer, ref, k, exhaustive=(kind == "topk"))


# ----------------------------------------------------------- dedup_curate

def check_exact(answer, truth):
    got = {str(int(d)): int(c) for d, c in answer}
    return len(got) == len(answer) and got == truth["dedup"]["exact_dups"]


def near_recall(answer, truth):
    want = {(a, b) for a, b, _ in truth["dedup"]["near_pairs"]}
    got = {(int(a), int(b)) for a, b, _ in answer}
    return len(want & got) / len(want) if want else 1.0


def check_near(answer, truth, jaccard_of):
    """Every reported pair must carry its true Jaccard (>= 0.5), and the
    planted pairs must be found at NEAR_RECALL_FLOOR or better.
    `jaccard_of(a, b)` is the reference Jaccard of two documents."""
    seen = set()
    for a, b, j in answer:
        a, b = int(a), int(b)
        if a >= b or (a, b) in seen:
            return False
        seen.add((a, b))
        ref = jaccard_of(a, b)
        if ref < 0.5 or abs(ref - j) > SCORE_TOL:
            return False
    return near_recall(answer, truth) >= NEAR_RECALL_FLOOR


def components(pairs):
    """Connected components of a pair list: node -> smallest node of its
    component (union-find)."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def check_clusters(answer, near_answer):
    got = {int(d): int(c) for d, c in answer}
    return len(got) == len(answer) and got == components((a, b) for a, b, _ in near_answer)


def cluster_iterations(pairs):
    """Rounds the engine's min-label pointer-jumping loop runs on `pairs`
    (the last round is the one that observes no change)."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(int(a), []).append(int(b))
        adj.setdefault(int(b), []).append(int(a))
    label = {x: x for x in adj}
    rounds = 0
    while True:
        rounds += 1
        nxt = {}
        for x in adj:
            m = min([label[x], label[label[x]]] + [label[y] for y in adj[x]])
            nxt[x] = m
        if nxt == label:
            return rounds
        label = nxt


# --------------------------------------------------------- graph_fixpoint

def check_scores(answer, ref, cols):
    """`answer`: [[node, score...], ...] for every node; `ref`: arrays."""
    if len(answer) != len(ref[0]):
        return False
    a = np.array(answer, dtype=np.float64)
    nodes = a[:, 0].astype(np.int64)
    if len(set(nodes.tolist())) != len(nodes) or nodes.min() < 0 or nodes.max() >= len(ref[0]):
        return False
    return all(np.all(np.abs(a[:, 1 + i] - ref[i][nodes]) <= RANK_TOL) for i in range(cols))


def check_graph(kind, answer, ref):
    if kind == "pagerank":
        return check_scores(answer, [ref["pagerank"]], 1)
    if kind == "hits":
        return check_scores(answer, [ref["hub"], ref["auth"]], 2)
    labels = ref["lpa"]
    return (len(answer) == len(labels)
            and all(int(l) == int(labels[int(n)]) for n, l in answer))
