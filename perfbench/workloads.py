"""The two workloads: each builds its state in ``setup``, warms every
op type up on inputs from a separate seed stream, serves one
closed-loop request at a time, and runs its untimed recall probe in
``finish``.

A request returns the ops it ran.  Every op calls one public function
of the engine and is checked against an oracle computed from the
generated inputs; a check that fails marks the op failed.
"""

from __future__ import annotations

import contextlib
import os
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from python_vector_db___ai_spark.operators import (
    bm25,
    chunking,
    crud,
    dedup,
    embedding,
    index_store,
    ivf,
    packing,
    quality,
    search,
)
from python_vector_db___ai_spark.sources.versioned import VersionedTable

K = gen.K
NPROBE = 4
RECALL_PROBE = 128          # pool queries in serve's recall probe


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    n = files = 0
    for root, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith((".", "_")):
                n += os.path.getsize(os.path.join(root, f))
                files += 1
    return n, files


class Workload:
    name = ""
    items_per_request = 0

    def __init__(self, spark, tracer, inputs: str, work: str, manifest):
        self.spark, self.tr = spark, tracer
        self.inputs, self.work, self.manifest = inputs, work, manifest
        self.recall_hits = 0
        self.recall_total = 0
        self.bytes_amp = None
        self.steps: dict[str, float] = {}

    @contextlib.contextmanager
    def step(self, name):
        """Times one set-up step for the report."""
        t = time.perf_counter()
        yield
        self.steps[name] = time.perf_counter() - t

    def stats(self) -> dict:
        return {}


def _rows(path: str) -> int:
    """Rows in the parquet files under ``path`` (footer reads only)."""
    return sum(pq.read_metadata(os.path.join(r, f)).num_rows
               for r, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def _check_topk(rows, qids, k):
    """Every query answered, at most ``k`` distinct ids each."""
    got: dict[int, list] = {int(q): [] for q in qids}
    for r in rows:
        got.setdefault(int(r[0]), []).append(r)
    ok = set(got) == {int(q) for q in qids} and all(
        0 < len(v) <= k and len({x[1] for x in v}) == len(v)
        for v in got.values())
    return ok, {q: [x[1] for x in sorted(v, key=lambda x: x[3])]
                for q, v in got.items()}


class Serve(Workload):
    """Read-only batch search over persisted indexes.  Requests rotate
    through exact, IVF, HNSW and hybrid batches of 16 queries."""

    name = "serve"
    items_per_request = gen.SERVE_BATCH
    TYPES = ("search.exact", "ivf.search", "index_store.hnsw_search",
             "bm25.hybrid")

    def setup(self):
        sp, d, w = self.spark, self.inputs, self.work
        corpus = sp.read.parquet(f"{d}/corpus.parquet")
        emb = corpus.select(F.col("id").alias("vec_id"), "embedding")
        cents = sp.read.parquet(f"{d}/centroids.parquet")
        with self.step("ivf.assign"):
            (ivf.assign_clusters(emb, cents, spill=2)
             .write.partitionBy("cluster_id").parquet(f"{w}/ivf_lists"))
        with self.step("index_store.hnsw_build"):
            index_store.hnsw_save(index_store.hnsw_build_index(
                emb, n_partitions=4), f"{w}/hnsw")
        with self.step("bm25.save"):
            bm25.save_bm25_index(
                corpus.select(F.col("id").alias("doc_id"), "text"),
                f"{w}/bm25", num_partitions=4)
        self.corpus, self.emb, self.cents = corpus, emb, cents
        self.lists = sp.read.parquet(f"{w}/ivf_lists")
        self.queries = sp.read.parquet(f"{d}/queries.parquet")
        self.warm = sp.read.parquet(f"{d}/warmup.parquet")
        o = np.load(f"{d}/oracle.npz")
        self.oracle_ids, self.oracle_scores = o["ids"], o["scores"]
        self.sched, self.warm_ids = o["sched"], o["warm"]
        # list sizes and centroids, for the IVF wasted-work ratio
        ct = pq.read_table(f"{d}/centroids.parquet")
        self.c_ids = np.array(ct.column("cluster_id").to_pylist())
        self.C = np.array(ct.column("centroid").to_pylist())
        self.c_sizes = np.array([_rows(f"{w}/ivf_lists/cluster_id={c}")
                                 for c in self.c_ids])
        pool = pq.read_table(f"{d}/queries.parquet")
        self.Q = np.array(pool.column("query_vec").to_pylist())
        meta = pq.read_table(f"{d}/corpus.parquet", columns=["metadata"])
        self.cats = [dict(m)["category"]
                     for m in meta.column("metadata").to_pylist()]
        self.bytes_amp = (sum(dir_bytes(f"{w}/{p}")[0] for p in
                              ("ivf_lists", "hnsw", "bm25"))
                          / self.manifest["raw_bytes"])
        self.seen: set[int] = set()
        self.repeats = self.drawn = 0
        self.scanned = self.scan_total = 0
        self.recall: dict[str, float] = {}

    def warmup(self):
        n = gen.SERVE_BATCH
        for t in range(len(self.TYPES)):
            ids = self.warm_ids[t * n:(t + 1) * n]
            self._run(-1, t, self.warm.filter(
                F.col("query_id").isin([int(x) for x in ids])), None)

    def request(self, i):
        if i >= len(self.sched):
            raise IndexError("ran out of scheduled batches")
        t = i % len(self.TYPES)
        qids = self.sched[i]
        for q in qids:
            self.drawn += 1
            if int(q) in self.seen:
                self.repeats += 1
            self.seen.add(int(q))
        qb = self.queries.filter(
            F.col("query_id").isin([int(q) for q in qids]))
        return [self._run(i, t, qb, qids)]

    def _run(self, i, t, qb, qids):
        name = self.TYPES[t]
        sp = self.spark
        with self.tr.op(name, i) as op:
            if t == 0:
                df = op.construct(lambda: search.knn_join_blas(
                    qb, self.emb, k=K, corpus_id="vec_id"))
            elif t == 1:
                df = op.construct(lambda: ivf.ivf_search(
                    qb, self.lists, centroids=self.cents, nprobe=NPROBE,
                    k=K, corpus_id="vec_id", cluster_col="cluster_id",
                    dedup_candidates=True))
            elif t == 2:
                df = op.construct(lambda: index_store.hnsw_search(
                    qb, index_store.hnsw_load(sp, f"{self.work}/hnsw"), k=K))
            else:
                cat = gen.CATEGORIES[(i // 4) % len(gen.CATEGORIES)]
                df = op.construct(lambda: self._hybrid(qb, cat))
            rows = op.execute(lambda: [tuple(r) for r in df.collect()])
        if qids is None:
            return op, True
        if t == 3:
            return op, self._check_hybrid(rows, qids, cat)
        if not _check_topk(rows, qids, K)[0]:
            return op, False
        if t == 0:
            return op, self._check_exact(rows, qids)
        if t == 1:
            S = self.Q[qids] @ self.C.T / np.outer(
                np.linalg.norm(self.Q[qids], axis=1),
                np.linalg.norm(self.C, axis=1))
            probe = np.argsort(-np.round(S, 6), axis=1,
                               kind="stable")[:, :NPROBE]
            self.scanned += int(self.c_sizes[probe].sum())
            self.scan_total += len(qids) * gen.SERVE_DOCS
        return op, True

    def _hybrid(self, qb, cat):
        """BM25 top-k from the persisted index and vector top-k, both
        restricted to one category, fused with RRF."""
        allowed = search.apply_metadata_filter(self.corpus,
                                               {"category": cat})
        vec = search.knn_join_blas(qb, allowed, k=K).withColumnRenamed(
            "id", "doc_id")
        lex = bm25.bm25_topk_batch(
            None, qb, k=K,
            prebuilt=bm25.load_bm25_index(self.spark, f"{self.work}/bm25"))
        lex = lex.join(allowed.select(F.col("id").alias("doc_id")),
                       "doc_id", "left_semi")
        return bm25.rrf_fuse_batch(lex, vec, k=K)

    def _check_exact(self, rows, qids):
        """Same ids and rounded scores as the NumPy oracle, position by
        position; a differing id is accepted only where the two scores
        tie at the 6th decimal (last-bit BLAS drift at a rounding edge)."""
        got: dict[int, list] = {}
        for q, c, s, r in rows:
            got.setdefault(q, []).append((r, c, s))
        for q in qids:
            res = sorted(got[int(q)])
            if len(res) != K:
                return False
            for (_, c, s), oc, os_ in zip(res, self.oracle_ids[q],
                                          self.oracle_scores[q]):
                if abs(s - os_) > 1.5e-6:
                    return False
                if c != oc and abs(s - os_) > 1e-6:
                    return False
        return True

    def _check_hybrid(self, rows, qids, cat):
        per_q: dict[int, int] = {}
        for q, d, _, rank in rows:
            if self.cats[d] != cat or rank > K:
                return False
            per_q[q] = per_q.get(q, 0) + 1
        return set(per_q) <= {int(q) for q in qids} and all(
            v <= K for v in per_q.values()) and len(per_q) > 0

    def finish(self):
        """Recall@10 of IVF and HNSW over a fixed probe set of pool
        queries, against the exact oracle (untimed; the same queries for
        a given seed however many batches the run made).  Returns the
        structural check of each search."""
        probe = list(range(RECALL_PROBE))
        qb = self.queries.filter(F.col("query_id") < RECALL_PROBE)
        checks = []
        for name, df in (
                ("ivf", ivf.ivf_search(
                    qb, self.lists, centroids=self.cents, nprobe=NPROBE,
                    k=K, corpus_id="vec_id", cluster_col="cluster_id",
                    dedup_candidates=True)),
                ("hnsw", index_store.hnsw_search(
                    qb, index_store.hnsw_load(self.spark,
                                              f"{self.work}/hnsw"), k=K))):
            ok, got = _check_topk([tuple(r) for r in df.collect()], probe, K)
            hits = sum(len(set(got[q]) & set(self.oracle_ids[q].tolist()))
                       for q in probe) if ok else 0
            self.recall[name] = hits / (K * len(probe))
            self.recall_hits += hits
            self.recall_total += K * len(probe)
            checks.append(ok)
        return checks

    def stats(self):
        return {"repeat_share": self.repeats / max(self.drawn, 1),
                "ivf.scan_frac": self.scanned / max(self.scan_total, 1),
                **{f"{n}_recall": v for n, v in self.recall.items()}}


class Ingest(Workload):
    """Fresh 1,000-doc batches through LLM-data prep and into a
    versioned table beside the IVF lists.  Per batch: exact dedup,
    MinHash LSH + components, SimHash, repetition metrics and packing;
    then chunk, embed through the cache, upsert, delete 100 ids, append
    to the lists, and read the batch back at the latest version."""

    name = "ingest"
    items_per_request = gen.INGEST_BATCH
    AMP_COMMITS = 2          # bytes_amp is read after this many commits
    CHUNK = (200, 50)

    def setup(self):
        sp, d, w = self.spark, self.inputs, self.work
        standing = sp.read.parquet(f"{d}/standing.parquet")
        self.cents = sp.read.parquet(f"{d}/centroids.parquet")
        with self.step("sources.create"):
            self.table = VersionedTable(sp, f"{w}/table")
            self.table.create(standing)
        with self.step("embedding.cache_build"):
            chunks = chunking.chunk_chars_fixed(standing, *self.CHUNK)
            empty = sp.createDataFrame(
                [], "key string, embedding array<double>")
            (embedding.embed_with_cache(
                chunks.withColumnRenamed("chunk_text", "text"), empty)
             .select(embedding.cache_key(F.col("text")).alias("key"),
                     "embedding", self._vec_id(0))
             .write.parquet(f"{w}/emb_cache"))
            self.cache = sp.read.parquet(f"{w}/emb_cache")
        with self.step("ivf.assign"):
            (ivf.assign_clusters(self.cache.select("vec_id", "embedding"),
                                 self.cents, spill=2)
             .write.partitionBy("cluster_id").parquet(f"{w}/lists"))
        t = pq.read_table(f"{w}/emb_cache")
        self.vec_ids = [np.array(t.column("vec_id").to_pylist(), np.int64)]
        self.vecs = [np.array(t.column("embedding").to_pylist())]
        st = pq.read_table(f"{d}/standing.parquet")
        self.standing_text = set(st.column("text").to_pylist())
        self.live = dict(zip(st.column("doc_id").to_pylist(),
                             st.column("text").to_pylist()))
        self.user_bytes = os.path.getsize(f"{d}/standing.parquet")
        self.commits = 0
        self.hits = self.chunks = 0
        self.written_bytes = self.written_files = 0

    @staticmethod
    def _vec_id(commit):
        # unique per appended row: the lists are append-only, so an
        # updated doc's old vectors stay and must not share an id
        return ((F.lit(commit) * 10_000_000 + F.col("doc_id") * 10
                 + F.col("chunk_id")).cast("long").alias("vec_id"))

    def warmup(self):
        for b in range(gen.INGEST_WARMUP):
            self._batch(-1, f"warmup_{b}")

    def request(self, i):
        if i >= gen.INGEST_BATCHES:
            raise IndexError("ran out of fresh batches")
        return self._batch(i, f"batch_{i}")

    def _batch(self, i, stem):
        path = f"{self.inputs}/{stem}.parquet"
        batch = self.spark.read.parquet(path)
        truth = np.load(f"{self.inputs}/{stem}_truth.npz")
        bt = pq.read_table(path).to_pylist()
        return self._prep(i, stem, batch, truth) + self._commit(
            i, path, batch, [int(x) for x in truth["dels"]], bt)

    def _prep(self, i, stem, df, truth):
        """The LLM-data prep ops, checked against the planted copies."""
        out = []
        with self.tr.op("dedup.exact", i) as op:
            fl = op.construct(lambda: dedup.exact_dedup_flags(df))
            frows = op.execute(lambda: fl.filter("group_size > 1").select(
                "doc_id", "content_hash").collect())
        h = {r[0]: r[1] for r in frows}
        out.append((op, all(a in h and h.get(b) == h[a]
                            for a, b in truth["exact"])))
        with self.tr.op("dedup.minhash", i) as op:
            # planted copies form components of diameter <= 2, so two
            # rounds converge; the convergence check would show otherwise
            comps = op.construct(lambda: dedup.dedup_components(
                dedup.minhash_lsh_pairs(df, num_hashes=16, bands=4,
                                        verify_threshold=0.7),
                df.select("doc_id"), rounds=2))
            crows = op.execute(lambda: comps.filter(
                "component_size > 1").select(
                "doc_id", "component_id", "converged").collect())
        comp = {r[0]: r[1] for r in crows}
        if i >= 0:
            self.recall_hits += sum(1 for a, b in truth["near"]
                                    if a in comp and comp.get(b) == comp[a])
            self.recall_total += len(truth["near"])
        out.append((op, all(r[2] for r in crows) and all(
            a in comp and comp.get(b) == comp[a] for a, b in truth["exact"])))
        with self.tr.op("dedup.simhash", i) as op:
            sh = op.construct(lambda: dedup.simhash_fingerprints(df))
            srows = op.execute(lambda: sh.collect())
        s = {r[0]: r[1] for r in srows}
        out.append((op, len(s) == gen.INGEST_BATCH and all(
            s[a] == s[b] for a, b in truth["exact"])))
        with self.tr.op("quality.repetition", i) as op:
            rep = op.construct(lambda: quality.repetition_metrics(df))
            rrows = op.execute(lambda: rep.collect())
        q = {r[0]: tuple(r[1:]) for r in rrows}
        out.append((op, len(q) == gen.INGEST_BATCH and all(
            q[a] == q[b] for a, b in truth["exact"])))
        packed = f"{self.work}/packed_{stem}"
        with self.tr.op("packing.pack", i) as op:
            pk = op.construct(lambda: packing.pack_sequences(df, budget=2048))
            op.execute(lambda: pk.write.parquet(packed))
        out.append((op, _check_pack(packed, gen.INGEST_BATCH)))
        return out

    def _commit(self, i, path, batch, dels, bt):
        """Chunk, embed, upsert + delete, append to the IVF lists, read
        the batch back."""
        w = self.work
        out = []
        with self.tr.op("chunking.chunk", i) as op:
            ch = op.construct(lambda: chunking.chunk_chars_fixed(
                batch.select("doc_id", "text"), *self.CHUNK))
            crow = op.execute(lambda: ch.select(
                "doc_id", "chunk_id", "start_char", "chunk_text").collect())
        out.append((op, self._check_chunks(crow, bt)))
        with self.tr.op("embedding.embed", i) as op:
            em = op.construct(lambda: embedding.embed_with_cache(
                ch.withColumnRenamed("chunk_text", "text"), self.cache))
            erow = op.execute(lambda: em.select(
                "doc_id", "chunk_id", "cache_hit", "embedding").collect())
        out.append((op, self._check_embed(erow, bt)))
        with self.tr.op("sources.commit", i) as op:
            before = dir_bytes(f"{w}/table")
            op.execute(lambda: (
                self.table.upsert(batch.select("doc_id", "text")),
                self.table.delete(dels)))
        after = dir_bytes(f"{w}/table")
        self.written_bytes += after[0] - before[0]
        self.written_files += after[1] - before[1]
        # the commit is checked by the read-back below, the append by
        # the IVF recall probe in finish()
        out.append((op, True))
        self.commits += 1
        with self.tr.op("index_store.ivf_append", i) as op:
            vecs = em.select(self._vec_id(self.commits), "embedding")
            op.execute(lambda: index_store.ivf_append(
                vecs, self.cents, f"{w}/lists", spill=2))
        out.append((op, True))
        with self.tr.op("sources.read", i) as op:
            ids = [r["doc_id"] for r in bt] + dels
            rb = op.construct(lambda: crud.get_by_ids(
                self.table.read(), ids))
            rrow = op.execute(lambda: rb.collect())
        for r in bt:
            self.live[r["doc_id"]] = r["text"]
        for x in dels:
            self.live.pop(x, None)
        # upserted ids carry their new text, deleted ids are gone, and
        # the latest version holds exactly the live rows
        ok = ({r["doc_id"]: r["text"] for r in rrow}
              == {r["doc_id"]: r["text"] for r in bt}
              and self.table.read().count() == len(self.live))
        out.append((op, ok))
        self.user_bytes += os.path.getsize(path)
        if i == self.AMP_COMMITS - 1:
            self.bytes_amp = ((dir_bytes(f"{w}/table")[0]
                               + dir_bytes(f"{w}/lists")[0])
                              / self.user_bytes)
        self.vec_ids.append(np.array(       # the ids _vec_id appended
            [self.commits * 10_000_000 + r[0] * 10 + r[1] for r in erow],
            np.int64))
        self.vecs.append(np.array([r[3] for r in erow]))
        return out

    def _check_chunks(self, rows, bt):
        size, overlap = self.CHUNK
        want = set()
        for r in bt:
            t = r["text"]
            start, c = 0, 0
            while True:
                want.add((r["doc_id"], c, start, t[start:start + size]))
                if start + size >= len(t):
                    break
                start += size - overlap
                c += 1
        return {tuple(r) for r in rows} == want

    def _check_embed(self, rows, bt):
        """Chunks of re-sent standing text must all hit the cache."""
        self.chunks += len(rows)
        self.hits += sum(bool(r[2]) for r in rows)
        resent = {r["doc_id"] for r in bt
                  if r["doc_id"] >= gen.INGEST_STANDING
                  and r["text"] in self.standing_text}
        return bool(resent) and all(r[2] for r in rows if r[0] in resent)

    def finish(self):
        """IVF recall@10 of the appended lists, against NumPy exact
        search over every vector appended so far (untimed).  Returns the
        structural check of the search."""
        P = np.load(f"{self.inputs}/probe.npy")
        want, _ = gen.exact_topk(P, np.concatenate(self.vecs),
                                 np.concatenate(self.vec_ids), K)
        qdf = self.spark.createDataFrame(
            [(i, [float(x) for x in P[i]]) for i in range(len(P))],
            "query_id long, query_vec array<double>")
        lists = self.spark.read.parquet(f"{self.work}/lists")
        rows = [tuple(r) for r in ivf.ivf_search(
            qdf, lists, centroids=self.cents, nprobe=NPROBE, k=K,
            corpus_id="vec_id", cluster_col="cluster_id",
            dedup_candidates=True).collect()]
        ok, got = _check_topk(rows, range(len(P)), K)
        self.ivf_recall = sum(
            len(set(got[q]) & set(want[q].tolist()))
            for q in range(len(P))) / (K * len(P)) if ok else 0.0
        return [ok]

    def stats(self):
        return {"embedding.cache_hit_ratio": self.hits / max(self.chunks, 1),
                "sources.bytes_written": self.written_bytes
                / max(self.commits, 1),
                "sources.files_written": self.written_files
                / max(self.commits, 1),
                "ivf_recall": self.ivf_recall}


def _check_pack(out_path, n_docs):
    """Every doc once; within each (source, shard) group ordered by id,
    ``seq_start_tok`` is the running token sum before the doc."""
    t = pq.read_table(out_path).to_pandas()
    if len(t) != n_docs or not t["doc_id"].is_unique:
        return False
    t = t.sort_values(["source", "shard", "doc_id"])
    want = (t.groupby(["source", "shard"])["n_tokens"].cumsum()
            - t["n_tokens"])
    return bool((want.to_numpy() == t["seq_start_tok"].to_numpy()).all())


WORKLOADS = {w.name: w for w in (Serve, Ingest)}
