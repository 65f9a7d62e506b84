"""Seeded input generator for the perfbench workloads.

Every input is a pure function of (workload parameters, seed): the same
pair always yields byte-identical parquet files and ground truth, and the
result is cached on disk under a key derived from both, so a timed run
never pays for generation.

The ground truth is computed here, in plain Python/numpy, from the token
streams the generator itself drew. It never goes through the engine, so
it is an independent reference for every check in `check.py`.
"""

import decimal
import hashlib
import json
import math
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change for an unchanged (params, seed).
GEN_VERSION = 1

# Common English stopwords injected into the token stream (all of them are
# in the engine's NLTK list, so the index drops them). Every synthetic
# vocabulary word contains a 'z', 'x' or 'q', which no NLTK stopword does,
# so no generated word can collide with a stopword.
STOPWORDS = ("the", "of", "and", "to", "in", "a", "is", "that", "for", "it",
             "as", "was", "with", "on", "at", "by", "this", "from", "be", "or")
STOP_FRAC = 0.25
ALPHA = "abcdefghijklmnopqrstuvwxyz"
LANGS = (("en", 0.7), ("de", 0.1), ("fr", 0.1), ("es", 0.1))
SOURCES = (("web", 0.5), ("news", 0.2), ("wiki", 0.15), ("forum", 0.1),
           ("books", 0.05))

# Workload inputs. Sizes are chosen so that one run (set-up three times
# plus the timed loop) fits the benchmark's time budget on 4 cores.
WORKLOADS = {
    "index_build": {"corpus": {"n_docs": 1000, "files": 1}},
    "query_serve": {"corpus": {"n_docs": 1000, "files": 8},
                    "vectors": {"n": 1000, "dim": 32, "clusters": 20},
                    "queries": 400},
    "dedup_curate": {"corpus": {"n_docs": 1500, "files": 16,
                                "dup_frac": 0.15, "edit_frac": 0.03}},
    "graph_fixpoint": {"graph": {"nodes": 5000, "edges": 40000,
                                 "pagerank_iters": 5, "hits_iters": 3,
                                 "lpa_iters": 3}},
}
VOCAB = 50000
MEAN_TOKENS = 200          # ~1.4 KB of text per document
WARM_DOCS = 100            # warm-up corpus, generated beside the inputs
BM25_K1, BM25_B = 1.2, 0.75
SHINGLE_N, NEAR_THRESHOLD = 3, 0.5
# The query mix, in a fixed order that every seed shares (seeds vary the
# terms and vectors only), so a short run sees the same mix on any seed.
QUERY_SCHEDULE = ("lookup", "and", "phrase", "lookup", "bm25", "or", "topk", "lookup",
                  "andnot", "phrase", "lookup", "bm25", "and", "ivf", "lookup", "or",
                  "phrase", "bm25", "andnot", "topk")


# ---------------------------------------------------------------- helpers

def round_half_up(x, nd=6):
    """Spark's `round(double, nd)`: HALF_UP on the shortest decimal repr."""
    q = decimal.Decimal(1).scaleb(-nd)
    return float(decimal.Decimal(repr(float(x))).quantize(q, decimal.ROUND_HALF_UP))


def normalize_tokens(text):
    """The engine tokenizer's contract: lowercase, drop every char outside
    [a-z] and whitespace, split on whitespace."""
    return re.sub(r"[^a-z\s]", "", text.lower()).split()


def shingles(tokens, n=SHINGLE_N):
    return {" ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def jaccard(a, b):
    if not a and not b:
        return 0.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def _zipf_p(n, s=1.0):
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _vocabulary(rng, n):
    words, seen = [], set()
    while len(words) < n:
        k = 8192
        lens = rng.integers(4, 11, size=k)
        body = rng.integers(0, 26, size=(k, 10))
        mark_pos = rng.integers(0, 10, size=k) % lens
        mark = rng.integers(0, 3, size=k)
        for i in range(k):
            chars = [ALPHA[c] for c in body[i, :lens[i]]]
            chars[mark_pos[i]] = "zxq"[mark[i]]
            w = "".join(chars)
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def _draw_tokens(rng, vocab, total):
    is_stop = rng.random(total) < STOP_FRAC
    stop_ids = rng.choice(len(STOPWORDS), size=total, p=_zipf_p(len(STOPWORDS)))
    word_ids = rng.choice(len(vocab), size=total, p=_zipf_p(len(vocab)))
    return [STOPWORDS[s] if st else vocab[w]
            for st, s, w in zip(is_stop.tolist(), stop_ids.tolist(), word_ids.tolist())]


def _render(rng, tokens):
    """Sentences with a capitalised first word and a trailing period; the
    engine's normalisation maps the text back to exactly `tokens`."""
    parts, i = [], 0
    while i < len(tokens):
        n = int(rng.geometric(1.0 / 12))
        s = " ".join(tokens[i:i + n])
        parts.append(s[0].upper() + s[1:] + ".")
        i += n
    return " ".join(parts)


def _lengths(rng, n):
    sigma = 0.6
    mu = math.log(MEAN_TOKENS) - sigma * sigma / 2
    return np.clip(np.rint(rng.lognormal(mu, sigma, size=n)), 20, 2000).astype(int)


def _weighted(rng, table, n):
    names = [t[0] for t in table]
    idx = rng.choice(len(table), size=n, p=[t[1] for t in table])
    return [names[i] for i in idx]


def _write_parquet(table, path, files):
    """`files` contiguous slices, each one parquet file with one row group."""
    os.makedirs(path)
    n = table.num_rows
    bounds = [round(i * n / files) for i in range(files + 1)]
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, "part-%05d.parquet" % i),
                       row_group_size=max(1, part.num_rows))


def _documents_table(texts, rng):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_weighted(rng, LANGS, n), pa.string()),
        "source": pa.array(_weighted(rng, SOURCES, n), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# ----------------------------------------------------------------- corpus

def make_corpus(rng, vocab, n_docs, dup_frac=0.0, edit_frac=0.03):
    """Returns (texts, token lists, planted families). Families are lists
    of (position, kind) with kind in {orig, exact, near}; positions refer to
    the final, shuffled doc order, i.e. they are doc_ids."""
    n_copies = int(round(dup_frac * n_docs))
    n_orig = n_docs - n_copies
    lens = _lengths(rng, n_orig)
    flat = _draw_tokens(rng, vocab, int(lens.sum()))
    toks, off = [], 0
    for L in lens.tolist():
        toks.append(flat[off:off + L])
        off += L
    kinds = ["orig"] * n_orig
    fam_of = list(range(n_orig))
    if n_copies:
        fams = rng.choice(n_orig, size=max(1, math.ceil(n_copies / 1.5)), replace=False)
        for j in range(n_copies):
            o = int(fams[j % len(fams)])
            t = list(toks[o])
            if rng.random() < 1 / 3:
                kinds.append("exact")
            else:
                m = max(1, int(round(edit_frac * len(t))))
                for p in rng.choice(len(t), size=m, replace=False).tolist():
                    t[p] = vocab[int(rng.integers(len(vocab)))]
                kinds.append("near")
            toks.append(t)
            fam_of.append(o)
    texts = [_render(rng, t) for t in toks]
    perm = rng.permutation(n_docs)           # final position -> generated doc
    texts = [texts[g] for g in perm]
    toks = [toks[g] for g in perm]
    pos_of = np.empty(n_docs, dtype=np.int64)
    pos_of[perm] = np.arange(n_docs)
    groups = {}
    for g in range(n_docs):
        groups.setdefault(fam_of[g], []).append((int(pos_of[g]), kinds[g]))
    families = [sorted(v) for v in groups.values() if len(v) > 1]
    return texts, toks, sorted(families)


def corpus_truth(toks, rng, n_sample_terms=50):
    stop = set(STOPWORDS)
    postings = positional = n_corpus = 0
    df = {}
    dl = []
    for t in toks:
        nonstop = [w for w in t if w not in stop]
        dl.append(len(nonstop))
        n_corpus += len(t)
        uniq = set(t)
        postings += len(uniq - stop)
        positional += len(nonstop)
        for w in uniq:
            df[w] = df.get(w, 0) + 1
    terms = sorted(df, key=lambda w: (-df[w], w))
    pick = sorted(set(int(i) for i in
                      (rng.random(n_sample_terms) ** 3 * len(terms)).astype(int)))
    return {
        "n_docs": len(toks),
        "postings_rows": postings,
        "positional_rows": positional,
        "stats_rows": len(df),
        "n_corpus": n_corpus,
        "avgdl": sum(dl) / len(dl),
        "df_sample": {terms[i]: df[terms[i]] for i in pick},
    }


def dedup_truth(toks, families):
    sh = {}
    def shin(d):
        if d not in sh:
            sh[d] = shingles(toks[d])
        return sh[d]
    exact = {}
    near_pairs = []
    for fam in families:
        ids = [d for d, _ in fam]
        by_text = {}
        for d in ids:
            by_text.setdefault(tuple(toks[d]), []).append(d)
        for g in by_text.values():
            if len(g) > 1:
                for d in g:
                    if d != min(g):
                        exact[str(d)] = min(g)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                j = jaccard(shin(a), shin(b))
                if j >= NEAR_THRESHOLD:
                    near_pairs.append([min(a, b), max(a, b), round_half_up(j)])
    return {"exact_dups": exact, "near_pairs": sorted(near_pairs),
            "families": [[d for d, _ in f] for f in families]}


# ---------------------------------------------------------------- queries

def make_queries(rng, toks, n_vectors, n_queries):
    """A seeded query mix with the expected answer of each query, computed
    from the generator's own token streams and vectors."""
    stop = set(STOPWORDS)
    post, tf = {}, []
    for d, t in enumerate(toks):
        c = {}
        for w in t:
            c[w] = c.get(w, 0) + 1
        tf.append(c)
        for w in c:
            if w not in stop:
                post.setdefault(w, set()).add(d)
    dl = [sum(1 for w in t if w not in stop) for t in toks]
    n_docs, avgdl = len(toks), sum(dl) / len(dl)
    terms = sorted(post, key=lambda w: (-len(post[w]), w))
    p_term = _zipf_p(len(terms))

    def term():
        return terms[int(rng.choice(len(terms), p=p_term))]

    def two_terms():
        a = term()
        b = term()
        while b == a:
            b = term()
        return a, b

    def bm25(q):
        scores = {}
        for w in q:
            df = len(post.get(w, ()))
            idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1)
            for d in post.get(w, ()):
                f = tf[d][w]
                norm = f + BM25_K1 * ((1 - BM25_B) + (BM25_B * dl[d]) / avgdl)
                scores.setdefault(d, []).append(round_half_up(idf * (f * (BM25_K1 + 1)) / norm))
        return {d: round_half_up(sum(ws)) for d, ws in scores.items()}

    out = []
    for i in range(n_queries):
        kind = QUERY_SCHEDULE[i % len(QUERY_SCHEDULE)]
        q = {"id": i, "kind": kind}
        if kind == "lookup":
            a = term()
            q.update(args=[a], expect=digest(post[a]))
        elif kind in ("and", "or", "andnot"):
            a, b = two_terms()
            s = {"and": post[a] & post[b], "or": post[a] | post[b],
                 "andnot": post[a] - post[b]}[kind]
            q.update(args=[a, b], expect=digest(s))
        elif kind == "phrase":
            while True:   # a real adjacent pair of a random document
                t = [w for w in toks[int(rng.integers(n_docs))] if w not in stop]
                j = int(rng.integers(len(t) - 1)) if len(t) > 1 else 0
                if len(t) > 1 and t[j] != t[j + 1]:
                    break
            a, b = t[j], t[j + 1]
            hits = {}
            for d in post[a] & post[b]:
                s = [w for w in toks[d] if w not in stop]
                n = sum(1 for k in range(len(s) - 1) if s[k] == a and s[k + 1] == b)
                if n:
                    hits[d] = n
            q.update(args=[a, b], expect=digest(d * 1000 + n for d, n in hits.items()))
        elif kind == "bm25":
            a, b = two_terms()
            q.update(args=[a, b], expect={"scores": {str(d): s for d, s in bm25([a, b]).items()}})
        else:
            qid = int(rng.integers(n_vectors))
            q.update(args=[str(qid)], expect={"qid": qid})
        out.append(q)
    return out


def digest(ids):
    """Order-free fingerprint of a set of non-negative ints: the engine
    side computes the same (count, sum, sum of squares)."""
    ids = list(ids)
    return [len(ids), sum(ids), sum(i * i for i in ids)]


# ------------------------------------------------------------ embeddings

def make_embeddings(rng, n, dim, clusters):
    centers = rng.normal(size=(clusters, dim))
    label = rng.integers(0, clusters, size=n)
    emb = (centers[label] + 0.35 * rng.normal(size=(n, dim))).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    return emb, label, table


# ----------------------------------------------------------------- graph

def make_graph(rng, nodes, edges):
    """Power-law link graph: sources uniform, targets Zipf-skewed over a
    random node order (a few hubs receive most links)."""
    order = rng.permutation(nodes)
    src = rng.integers(0, nodes, size=edges)
    dst = order[rng.choice(nodes, size=edges, p=_zipf_p(nodes, 0.9))]
    keep = src != dst
    src, dst = src[keep].astype(np.int64), dst[keep].astype(np.int64)
    w = rng.integers(1, 4, size=len(src)).astype(np.float64)
    return src, dst, w


def _write_graph(d, src, dst, w, n):
    _write_parquet(pa.table({"src": src, "dst": dst, "w": w}),
                   os.path.join(d, "edges.parquet"), 1)
    _write_parquet(pa.table({"node": np.arange(n, dtype=np.int64)}),
                   os.path.join(d, "nodes.parquet"), 1)


def _r6(x):
    return np.round(x, 6)


def pagerank_ref(src, dst, w, n, iters, d=0.85):
    outw = np.zeros(n)
    np.add.at(outw, src, w)
    base = (1.0 - d) / n
    pr = np.full(n, 1.0 / n)
    inflow = np.zeros(n)
    for i in range(1, iters + 1):
        srcpr = pr[src] if i == 1 else _r6(base + d * inflow[src])
        c = np.round(srcpr * w / outw[src], 12)
        inflow = np.zeros(n)
        np.add.at(inflow, dst, c)
    return _r6(base + d * inflow) if iters else pr


def hits_ref(src, dst, n, iters):
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    s, t = pairs[:, 0], pairs[:, 1]
    has_in = np.zeros(n, bool)
    has_in[t] = True
    has_out = np.zeros(n, bool)
    has_out[s] = True
    hr = hn = ar = an = None
    for i in range(1, iters + 1):
        ar = np.zeros(n)
        if i == 1:
            np.add.at(ar, t, 1.0)
        else:
            h = _r6(hr / hn)
            np.add.at(ar, t, np.round(h[s], 12))
        an = ar[has_in].sum() or 1.0
        a = _r6(ar / an)
        hr = np.zeros(n)
        np.add.at(hr, s, np.round(a[t], 12))
        hn = hr[has_out].sum() or 1.0
    return _r6(hr / hn), _r6(ar / an)


def lpa_ref(src, dst, w, n, iters):
    agg = {}
    for a, b, x in zip(src.tolist(), dst.tolist(), w.astype(np.int64).tolist()):
        agg[(a, b)] = agg.get((a, b), 0) + x
    label = list(range(n))
    for _ in range(iters):
        votes = {}
        for (a, b), x in agg.items():
            k = (b, label[a])
            votes[k] = votes.get(k, 0) + x
        best = {}
        for (b, lab), vw in votes.items():
            cur = best.get(b)
            if cur is None or vw > cur[0] or (vw == cur[0] and lab < cur[1]):
                best[b] = (vw, lab)
        label = [best[i][1] if i in best else label[i] for i in range(n)]
    return label


# ---------------------------------------------------------------- driver

def params_of(workload, files=None):
    p = json.loads(json.dumps(WORKLOADS[workload]))
    if files is not None and "corpus" in p:
        p["corpus"]["files"] = files
    return p


def cache_key(workload, seed, params):
    spec = {"v": GEN_VERSION, "workload": workload, "seed": seed,
            "params": params, "vocab": VOCAB, "mean_tokens": MEAN_TOKENS}
    return hashlib.sha256(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:16]


def generate(workload, seed, root, files=None):
    """Build (or reuse) the inputs of `workload` for `seed` under `root`;
    `files` overrides the corpus file count. Returns the input directory."""
    p = params_of(workload, files)
    out = os.path.join(root, "%s-s%d-%s" % (workload, seed, cache_key(workload, seed, p)))
    if os.path.exists(os.path.join(out, "truth.json")):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _generate_into(workload, seed, p, tmp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def _generate_into(workload, seed, p, out):
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    truth = {"workload": workload, "seed": seed}
    vocab = _vocabulary(rng, VOCAB)
    # a small corpus of the same shape for the untimed warm-up pass
    warm_texts, _, _ = make_corpus(rng, vocab, WARM_DOCS, 0.1, 0.03)
    _write_parquet(_documents_table(warm_texts, rng),
                   os.path.join(out, "warm", "documents.parquet"), 2)
    if "corpus" in p:
        c = p["corpus"]
        texts, toks, fams = make_corpus(rng, vocab, c["n_docs"],
                                        c.get("dup_frac", 0.0), c.get("edit_frac", 0.03))
        _write_parquet(_documents_table(texts, rng),
                       os.path.join(out, "corpus", "documents.parquet"), c["files"])
        truth["corpus"] = corpus_truth(toks, rng)
        truth["corpus"]["text_bytes"] = sum(len(t.encode()) for t in texts)
        truth["corpus"]["files"] = c["files"]
        with open(os.path.join(out, "df_sample.txt"), "w") as f:
            f.write("".join(t + "\n" for t in sorted(truth["corpus"]["df_sample"])))
        if c.get("dup_frac"):
            truth["dedup"] = dedup_truth(toks, fams)
    if "vectors" in p:
        vp = p["vectors"]
        emb, label, table = make_embeddings(rng, vp["n"], vp["dim"], vp["clusters"])
        _write_parquet(table, os.path.join(out, "corpus", "embeddings.parquet"), 1)
        np.save(os.path.join(out, "embeddings.npy"), emb)
        truth["vectors"] = {"n": vp["n"], "labels": label.tolist()}
        truth["queries"] = make_queries(rng, toks, vp["n"], p["queries"])
        with open(os.path.join(out, "queries.tsv"), "w") as f:
            for q in truth["queries"]:
                f.write("\t".join([str(q["id"]), q["kind"]] + q["args"]) + "\n")
    if "graph" in p:
        g = p["graph"]
        n = g["nodes"]
        src, dst, w = make_graph(rng, n, g["edges"])
        _write_graph(os.path.join(out, "corpus"), src, dst, w, n)
        _write_graph(os.path.join(out, "warm"), *make_graph(rng, 200, 1600), 200)
        hub, auth = hits_ref(src, dst, n, g["hits_iters"])
        np.savez(os.path.join(out, "graph_ref.npz"),
                 pagerank=pagerank_ref(src, dst, w, n, g["pagerank_iters"]),
                 hub=hub, auth=auth, lpa=np.array(lpa_ref(src, dst, w, n, g["lpa_iters"])))
        truth["graph"] = dict(g, edges_kept=int(len(src)))
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
