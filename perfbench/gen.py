"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical parquet files. The program under test only ever reads the
frames under `inputs/`; the planted-duplicate ground truth goes to
`truth/`, which only the benchmark's own checks read.

Shapes follow the sf0.1 test tables (`lineitem`, `documents`,
`embeddings`): the same column names and types, generated here because
the benchmark may read nothing outside its checkout.
"""

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_ROWS = 600_000

# curate_serve: base documents and vectors (plus planted copies),
# held-out merge batches, query pools
DOCS = 2_500
VECS = 2_500
PLANTED = 0.05          # exact copies, and as many near copies, per base row
BATCHES = 48
BATCH_ROWS = 25
QUERIES = 64
FILES = 4

DIM = 64
VOCAB = 4_000
CLUSTERS = 48


def _rng(seed, stream):
    # one independent stream per input, so resizing one input never
    # shifts the draws of another
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _vocab(seed):
    rng = _rng(seed, 1)
    syl = np.array(["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze",
                    "po", "qu", "da", "fe", "gi", "ho", "ju", "be", "xa"])
    words = set()
    out = []
    while len(out) < VOCAB:
        n = int(rng.integers(2, 5))
        w = "".join(syl[rng.integers(0, len(syl), n)])
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out)


def _zipf_tokens(rng, n):
    # Zipf-like term frequencies over a fixed vocabulary (rank^-1.05),
    # so document frequency and BM25 idf look like real text
    p = 1.0 / np.arange(1, VOCAB + 1) ** 1.05
    return rng.choice(VOCAB, size=n, p=p / p.sum())


def _docs(rng, n, min_len=60, max_len=140):
    lens = rng.integers(min_len, max_len, n)
    toks = _zipf_tokens(rng, int(lens.sum()))
    return np.split(toks, np.cumsum(lens)[:-1])


def _text(vocab, toks):
    return " ".join(vocab[toks])


def _unit(m):
    return m / np.linalg.norm(m, axis=-1, keepdims=True)


def _vectors(rng, n):
    # mixture of CLUSTERS directions; two unrelated members of one
    # cluster sit near cosine 0.4, far below any dedup threshold
    centers = _unit(rng.standard_normal((CLUSTERS, DIM)))
    who = rng.integers(0, CLUSTERS, n)
    return _unit(centers[who] + 0.15 * rng.standard_normal((n, DIM)))


def _write(table, path, files):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, "part-%05d.parquet" % i),
                       compression="snappy")


def _vec_array(m):
    flat = pa.array(m.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, m.size + 1, m.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def lineitem(seed, out):
    rng = _rng(seed, 2)
    n = LINEITEM_ROWS
    # orders of 1..7 lines with sparse TPC-H-style order keys; the
    # (orderkey, linenumber) pair alone is already unique here
    lines = rng.integers(1, 8, n // 2)
    lines = lines[np.cumsum(lines) <= n]
    lines = np.append(lines, n - lines.sum())
    lines = lines[lines > 0]
    okey = np.repeat(np.arange(len(lines)) * 4 + 1, lines)
    lnum = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    part = rng.integers(1, 20_001, n)
    supp = rng.integers(1, 1_001, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * (900 + (part % 1000) + part / 10.0), 2)
    disc = rng.integers(0, 11, n) / 100.0
    tax = rng.integers(0, 9, n) / 100.0
    ship = rng.integers(0, 2526, n)      # days since 1992-01-02
    shipped = ship < 1260
    status = np.where(shipped, "F", "O")
    flag = np.where(shipped, np.where(rng.random(n) < 0.5, "A", "R"), "N")
    # the registry's unique lineitem row id (ImputeQueries.lineitemUniqueKey)
    key = ((okey * 8 + lnum) * 32768 + part) * 1024 + supp
    t = pa.table({
        "row_key": pa.array(key, pa.int64()),
        "l_quantity": qty, "l_extendedprice": price,
        "l_discount": disc, "l_tax": tax,
        "l_returnflag": flag, "l_linestatus": status})
    _write(t, os.path.join(out, "inputs", "lineitem"), 1)
    return {"lineitem": n}


def _near(rng, toks):
    # one substituted token: word-3-shingle Jaccard >= 0.9 at >= 60 tokens
    t = toks.copy()
    i = int(rng.integers(0, len(t)))
    t[i] = (t[i] + 1 + int(rng.integers(0, VOCAB - 1))) % VOCAB
    return t


def _variant(rng, text):
    # an exact copy up to case and whitespace, which the content
    # fingerprint normalizes away; half the copies are verbatim
    if rng.random() < 0.5:
        return text
    return text.upper().replace(" ", "  ", 3) + " "


def _plant(rng, n, copy_exact, copy_near):
    """Exact and near copies of distinct originals, to be appended after
    every original (so keep-min-id keeps originals), with the group
    (original's index) and kind of every row."""
    k = int(n * PLANTED)
    src = rng.permutation(n)[:2 * k]
    rows = [copy_exact(i) for i in src[:k]] + [copy_near(i) for i in src[k:]]
    group = np.concatenate([np.arange(n), src])
    kind = ["base"] * n + ["exact"] * k + ["near"] * k
    return rows, group, kind


def curate_serve(seed, out):
    rng = _rng(seed, 3)
    vocab = _vocab(seed)
    held = BATCHES * BATCH_ROWS
    toks = _docs(rng, DOCS + held)
    base, new = toks[:DOCS], toks[DOCS:]
    texts = [_text(vocab, t) for t in base]
    copies, group, kind = _plant(
        rng, DOCS, lambda i: _variant(rng, texts[i]),
        lambda i: _text(vocab, _near(rng, base[i])))
    texts += copies
    n = len(texts)
    _write(pa.table({"doc_id": pa.array(np.arange(n), pa.int64()), "text": texts}),
           os.path.join(out, "inputs", "documents"), FILES)
    _write(pa.table({"doc_id": np.arange(n), "group": group, "kind": kind}),
           os.path.join(out, "truth", "documents"), 1)
    _write(pa.table({"doc_id": pa.array(n + np.arange(held), pa.int64()),
                     "text": [_text(vocab, t) for t in new]}),
           os.path.join(out, "inputs", "documents_new"), 1)
    # lexical queries: 2-4 mid-frequency terms each
    ql = rng.integers(2, 5, QUERIES)
    qt = [" ".join(vocab[rng.integers(20, 800, k)]) for k in ql]
    _write(pa.table({"query_id": pa.array(np.arange(QUERIES), pa.int64()), "text": qt}),
           os.path.join(out, "inputs", "queries_text"), 1)

    vr = _rng(seed, 4)
    vec = _vectors(vr, VECS + held)
    base_v, new_v = vec[:VECS], vec[VECS:]
    copies, vgroup, vkind = _plant(
        vr, VECS, lambda i: base_v[i],
        lambda i: _unit(base_v[i] + 0.01 * vr.standard_normal(DIM)))
    allv = np.vstack([base_v, np.array(copies)])
    m = len(allv)
    _write(pa.table({"vec_id": pa.array(np.arange(m), pa.int64()),
                     "embedding": _vec_array(allv)}),
           os.path.join(out, "inputs", "embeddings"), FILES)
    _write(pa.table({"vec_id": np.arange(m), "group": vgroup, "kind": vkind}),
           os.path.join(out, "truth", "embeddings"), 1)
    _write(pa.table({"vec_id": pa.array(m + np.arange(held), pa.int64()),
                     "embedding": _vec_array(new_v)}),
           os.path.join(out, "inputs", "embeddings_new"), 1)
    # vector queries: perturbed base vectors with negative ids, disjoint
    # from the corpus (IvfIndex.topK drops a neighbour with the query's id)
    pick = vr.integers(0, VECS, QUERIES)
    qv = _unit(base_v[pick] + 0.05 * vr.standard_normal((QUERIES, DIM)))
    _write(pa.table({"vec_id": pa.array(-1 - np.arange(QUERIES), pa.int64()),
                     "embedding": _vec_array(qv)}),
           os.path.join(out, "inputs", "queries_vec"), 1)
    return {"documents": n, "documents_new": held, "queries_text": QUERIES,
            "embeddings": m, "embeddings_new": held, "queries_vec": QUERIES}


WORKLOADS = {"rbm_impute": lineitem, "curate_serve": curate_serve}


def generate(workload, seed, out):
    """Writes the workload's inputs under `out` and returns, per input
    directory under `out/inputs`, its rows, bytes and file count."""
    rows = WORKLOADS[workload](seed, out)
    stamp = {}
    for name, n in sorted(rows.items()):
        d = os.path.join(out, "inputs", name)
        files = sorted(os.listdir(d))
        stamp[name] = {"rows": n, "files": len(files),
                       "bytes": sum(os.path.getsize(os.path.join(d, f))
                                    for f in files)}
    return stamp


def digest(out):
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


if __name__ == "__main__":
    # python3 perfbench/gen.py <workload> <seed> <out dir>: inputs to inspect
    import sys
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
