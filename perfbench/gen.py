"""Seeded input generator for the benchmark.

Everything a workload feeds the engine is produced here from the
workload seed, with NumPy only (no Spark), and written as parquet and
``.npz`` files into the run's work directory.  The engine receives only
these files.  Each generator returns a manifest dict whose
``fingerprint`` is a SHA-256 over the generated arrays and strings, so
the same seed gives the same fingerprint and a different seed a
different one.

Every random stream is derived from ``(seed, workload, stream)``: the
warm-up inputs come from a stream of their own, so no timed input
repeats a plan seen during warm-up.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Serve: the clustered vector corpus with Zipf-vocabulary text.
SERVE_DOCS = 10_000
SERVE_DIM = 64
SERVE_CLUSTERS = 48
SPREAD = 2.0                # within-cluster noise; clusters overlap
SERVE_POOL = 2_000          # distinct queries the timed batches draw from
SERVE_BATCH = 16
SERVE_BATCHES = 600         # schedule length; a run uses a prefix
SERVE_ZIPF = 1.1            # query-popularity skew inside the pool
K = 10
CATEGORIES = ("news", "code", "science", "legal", "forum", "wiki")

# Ingest: standing table plus fresh 1,000-doc commit batches.
INGEST_STANDING = 5_000
INGEST_BATCH = 1_000
INGEST_REPEAT = 0.3         # share of a batch that re-sends standing text
INGEST_UPDATE = 0.2         # share of a batch that updates live ids
INGEST_EXACT = 0.02         # share that are exact copies of batch docs
INGEST_NEAR = 0.08          # share that are near copies of batch docs
SOURCES = ("web", "books", "code", "papers")
INGEST_DELETES = 100
INGEST_BATCHES = 24
INGEST_WARMUP = 1           # warm-up batches, from their own stream
INGEST_TEXT_CHARS = (150, 450)
INGEST_NLIST = 16
INGEST_DIM = 8              # the engine's mock-embedding width
INGEST_PROBES = 32          # IVF recall probe queries after the run

VOCAB = 6_000


def _rng(seed: int, *stream: str) -> np.random.Generator:
    key = hashlib.sha256(repr((seed,) + stream).encode()).digest()
    return np.random.default_rng(int.from_bytes(key[:8], "little"))


def _vocab() -> np.ndarray:
    """Fixed pronounceable word list (the same for every seed)."""
    rng = _rng(0, "vocab")
    cons = list("bcdfghjklmnprstvz")
    vows = list("aeiou")
    words = set()
    while len(words) < VOCAB:
        n = int(rng.integers(2, 5))
        words.add("".join(rng.choice(cons) + rng.choice(vows)
                          for _ in range(n)))
    return np.array(sorted(words))


def _zipf_words(rng, n_docs, lo, hi, words, a=1.2):
    """Docs of ``lo..hi`` words drawn Zipf-weighted from ``words``."""
    ranks = np.arange(1, len(words) + 1, dtype=np.float64)
    p = ranks ** -a
    p /= p.sum()
    lens = rng.integers(lo, hi + 1, size=n_docs)
    flat = rng.choice(len(words), size=int(lens.sum()), p=p)
    out, pos = [], 0
    for n in lens:
        out.append(" ".join(words[flat[pos:pos + n]]))
        pos += n
    return out


class Fingerprint:
    """SHA-256 over the arrays and strings a generator emits."""

    def __init__(self):
        self._h = hashlib.sha256()

    def add(self, obj) -> None:
        if isinstance(obj, np.ndarray):
            self._h.update(str(obj.dtype).encode())
            self._h.update(np.ascontiguousarray(obj).tobytes())
        else:
            for s in obj:
                self._h.update(s.encode())
                self._h.update(b"\0")

    def hexdigest(self) -> str:
        return self._h.hexdigest()[:16]


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _vec_col(V: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(
        pa.array(V.ravel(), pa.float64()), V.shape[1]).cast(
        pa.list_(pa.float64()))


def exact_topk(Q: np.ndarray, C: np.ndarray, c_ids: np.ndarray, k: int):
    """Brute-force cosine top-k with the engine's convention: scores
    rounded to 6 decimals before ranking, ties broken on ascending id."""
    qn = np.linalg.norm(Q, axis=1)
    cn = np.linalg.norm(C, axis=1)
    ids = np.empty((len(Q), k), np.int64)
    scores = np.empty((len(Q), k), np.float64)
    for lo in range(0, len(Q), 64):
        S = np.round((Q[lo:lo + 64] @ C.T) / np.outer(qn[lo:lo + 64], cn), 6)
        for i, row in enumerate(S):
            part = np.argpartition(-row, k)[:k + 1]
            cut = row[part].min()
            cand = np.flatnonzero(row >= cut)
            order = cand[np.lexsort((c_ids[cand], -row[cand]))][:k]
            ids[lo + i] = c_ids[order]
            scores[lo + i] = row[order]
    return ids, scores


def serve(seed: int, out: str) -> dict:
    """Clustered vectors + Zipf text + category per doc; a query pool
    with its exact oracle; a Zipf-weighted batch schedule over the pool;
    and a warm-up pool from a separate stream."""
    os.makedirs(out, exist_ok=True)
    fp = Fingerprint()
    words = _vocab()
    rng = _rng(seed, "serve", "corpus")
    centers = rng.normal(size=(SERVE_CLUSTERS, SERVE_DIM))
    lab = rng.integers(0, SERVE_CLUSTERS, size=SERVE_DOCS)
    noise = rng.normal(size=(SERVE_DOCS, SERVE_DIM))
    V = np.round(centers[lab] + SPREAD * noise, 4)
    ids = np.arange(SERVE_DOCS, dtype=np.int64)
    # each cluster owns a topic slice of the vocabulary so BM25 and the
    # vector side agree on what a query is about
    topic = rng.permutation(VOCAB)[:SERVE_CLUSTERS * 20].reshape(
        SERVE_CLUSTERS, 20)
    bg = _zipf_words(rng, SERVE_DOCS, 12, 30, words)
    tw = rng.integers(0, 20, size=(SERVE_DOCS, 4))
    text = [f"{words[topic[c][t[0]]]} {b} {words[topic[c][t[1]]]} "
            f"{words[topic[c][t[2]]]}"
            for c, b, t in zip(lab, bg, tw)]
    cat = np.array(CATEGORIES)[rng.integers(0, len(CATEGORIES),
                                            size=SERVE_DOCS)]
    # the IVF coarse quantizer: per-cluster means of the corpus
    cents = np.round(np.stack([V[lab == c].mean(axis=0)
                               for c in range(SERVE_CLUSTERS)]), 6)
    _write(f"{out}/centroids.parquet", {
        "cluster_id": pa.array(np.arange(SERVE_CLUSTERS, dtype=np.int32)),
        "centroid": _vec_col(cents)})
    fp.add(V)
    fp.add(cents)
    fp.add(text)
    fp.add(list(cat))
    _write(f"{out}/corpus.parquet", {
        "id": pa.array(ids), "embedding": _vec_col(V),
        "text": pa.array(text),
        "metadata": pa.array([[("category", c)] for c in cat],
                             pa.map_(pa.string(), pa.string()))})

    def pool(stream, n, id0):
        r = _rng(seed, "serve", stream)
        ql = r.integers(0, SERVE_CLUSTERS, size=n)
        Q = np.round(centers[ql] + SPREAD * r.normal(size=(n, SERVE_DIM)), 4)
        terms = [[str(words[topic[c][j]]) for j in r.choice(20, 3, False)]
                 for c in ql]
        qid = np.arange(id0, id0 + n, dtype=np.int64)
        _write(f"{out}/{stream}.parquet", {
            "query_id": pa.array(qid), "query_vec": _vec_col(Q),
            "terms": pa.array(terms)})
        return qid, Q

    qid, Q = pool("queries", SERVE_POOL, 0)
    wid, _ = pool("warmup", 8 * SERVE_BATCH, 10_000_000)
    fp.add(Q)
    oracle_ids, oracle_scores = exact_topk(Q, V, ids, K)
    # Zipf-weighted draws over the pool: single queries repeat, whole
    # batches do not (a batch never holds the same query twice)
    r = _rng(seed, "serve", "schedule")
    p = np.arange(1, SERVE_POOL + 1, dtype=np.float64) ** -SERVE_ZIPF
    p /= p.sum()
    perm = r.permutation(SERVE_POOL)
    sched = np.stack([perm[r.choice(SERVE_POOL, SERVE_BATCH, False, p)]
                      for _ in range(SERVE_BATCHES)])
    fp.add(sched)
    np.savez(f"{out}/oracle.npz", qid=qid, ids=oracle_ids,
             scores=oracle_scores, sched=sched, warm=wid)
    return {"fingerprint": fp.hexdigest(),
            "raw_bytes": int(V.nbytes + sum(map(len, text)))}


def _ingest_text(rng, n, words):
    lo, hi = INGEST_TEXT_CHARS
    docs = _zipf_words(rng, n, lo // 5, hi // 5, words)
    return [d[:hi] for d in docs]


def _near_copy(rng, doc, words):
    """``doc`` with one word in 25 replaced."""
    w = doc.split()
    for j in rng.choice(len(w), max(1, len(w) // 25), replace=False):
        w[j] = str(words[rng.integers(VOCAB)])
    return " ".join(w)


def ingest(seed: int, out: str) -> dict:
    """A standing table and a sequence of fresh commit batches.

    Each batch holds updates of live ids, new ids that re-send standing
    text (so the embedding cache hits), and new ids with new text, among
    which planted exact and near copies of other new docs; plus 100 live
    ids to delete.  Truth pairs of the planted copies go beside it."""
    os.makedirs(out, exist_ok=True)
    fp = Fingerprint()
    words = _vocab()
    rng = _rng(seed, "ingest", "standing")
    text = _ingest_text(rng, INGEST_STANDING, words)
    ids = np.arange(INGEST_STANDING, dtype=np.int64)
    fp.add(text)
    _write(f"{out}/standing.parquet",
           {"doc_id": pa.array(ids), "text": pa.array(text)})
    # the frozen coarse quantizer of the IVF lists: random unit vectors
    # in the engine's mock-embedding space
    C = rng.normal(size=(INGEST_NLIST, INGEST_DIM))
    C = np.round(C / np.linalg.norm(C, axis=1)[:, None], 6)
    fp.add(C)
    _write(f"{out}/centroids.parquet", {
        "cluster_id": pa.array(np.arange(INGEST_NLIST, dtype=np.int32)),
        "centroid": _vec_col(C)})
    probe = rng.normal(size=(INGEST_PROBES, INGEST_DIM))
    fp.add(probe)
    np.save(f"{out}/probe.npy", probe)
    next_id = INGEST_STANDING
    live = set(range(INGEST_STANDING))
    n_rep = int(INGEST_BATCH * INGEST_REPEAT)
    n_upd = int(INGEST_BATCH * INGEST_UPDATE)
    n_exact = int(INGEST_BATCH * INGEST_EXACT)
    n_near = int(INGEST_BATCH * INGEST_NEAR)
    n_fresh = INGEST_BATCH - n_rep - n_upd - n_exact - n_near
    for stream, n in (("warmup", INGEST_WARMUP), ("batch", INGEST_BATCHES)):
        for b in range(n):
            r = _rng(seed, "ingest", stream, str(b))
            live_arr = np.array(sorted(live), dtype=np.int64)
            upd = r.choice(live_arr, n_upd, replace=False)
            rep_src = r.choice(INGEST_STANDING, n_rep, replace=False)
            fresh = _ingest_text(r, n_upd + n_fresh, words)
            src_e = r.choice(n_fresh, n_exact, replace=False)
            src_n = r.choice(np.setdiff1d(np.arange(n_fresh), src_e),
                             n_near, replace=False)
            new_text = fresh[n_upd:]
            btext = (fresh[:n_upd] + new_text + [text[i] for i in rep_src]
                     + [new_text[i] for i in src_e]
                     + [_near_copy(r, new_text[i], words) for i in src_n])
            n_ids = INGEST_BATCH - n_upd
            new_ids = np.arange(next_id, next_id + n_ids, dtype=np.int64)
            next_id += n_ids
            bids = np.concatenate([upd, new_ids])
            # planted pairs, as (source id, copy id)
            c0 = n_upd + n_fresh + n_rep
            exact = np.stack([bids[n_upd + src_e],
                              bids[c0 + np.arange(n_exact)]], 1)
            near = np.stack([bids[n_upd + src_n],
                             bids[c0 + n_exact + np.arange(n_near)]], 1)
            live.update(int(i) for i in new_ids)
            dels = r.choice(np.setdiff1d(live_arr, upd), INGEST_DELETES,
                            replace=False)
            live.difference_update(int(i) for i in dels)
            src = np.array(SOURCES)[r.integers(0, len(SOURCES),
                                               size=INGEST_BATCH)]
            n_tok = np.array([t.count(" ") + 1 for t in btext], np.int64)
            fp.add(bids)
            fp.add(btext)
            fp.add(dels)
            fp.add(list(src))
            _write(f"{out}/{stream}_{b}.parquet", {
                "doc_id": pa.array(bids), "text": pa.array(btext),
                "source": pa.array(list(src)), "n_tokens": pa.array(n_tok)})
            np.savez(f"{out}/{stream}_{b}_truth.npz", dels=dels,
                     exact=exact, near=near)
    return {"fingerprint": fp.hexdigest()}


GENERATORS = {"serve": serve, "ingest": ingest}

