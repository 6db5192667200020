"""The workloads. Each is one closed-loop client in one process: it
sends its next operation only when the previous answer is in hand,
checks every answer against ``oracle``, and times with tracing off
unless the run is a traced one.

bm25  a write chain (build, an append, a delete, fold) in a fresh
      process, then warm serving: single top-k queries on the
      no-Spark-job path, filtered queries on the Spark-job path and
      multi-query batches
ann   IVF build with PQ and SQ codes, then a driver-local query stream
      with allow-lists and a delete halfway, and PQ / SQ batch queries

A workload runs its write phase once, then whole query rounds (see
``round``) until ``--seconds`` have passed, and at least two.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

import gen
import oracle

from opensearch_jvector_spark.config import EngineConfig
from opensearch_jvector_spark.operators import delete as delete_mod
from opensearch_jvector_spark.operators import docid as docid_mod
from opensearch_jvector_spark.operators import merge as merge_mod
from opensearch_jvector_spark.operators import segment_build as build_mod
from opensearch_jvector_spark.operators import similarity as sim_mod
from opensearch_jvector_spark.operators import wand as wand_mod
from opensearch_jvector_spark.plans.query import Query
from opensearch_jvector_spark.sources import index_store as store_mod
from opensearch_jvector_spark.streaming import incremental as inc_mod

# ---- layout (recorded in perfbench/README.md); input sizes are in gen ----
CONFIG = EngineConfig(docs_per_segment=4096, segments_per_chunk=2, term_buckets=8)
DELETE_SHARE = 0.02  # contiguous doc_id range of the base corpus

CELLS = 64
PROBE = 8
PQ_M = 16
K = 10
ALLOW_P = 0.2  # share of local queries carrying an allow-list
ALLOW_SHARE = 0.1
EXACT_EVERY = 8  # every 8th local query probes every cell
DELETE_VECTORS = 0.005


def parquet_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


class Workload:
    """Shared client machinery: operation accounting and checks."""

    name = ""

    def __init__(self, run):
        self.spark = run.spark
        self.seed = run.seed
        self.tracer = run.tracer
        self.work = run.work
        self.log = run.log
        self.ops: dict[str, list[int]] = {}  # kind -> [attempted, failed]
        self.lat: dict[str, list[float]] = {}  # kind -> seconds
        self.recalls: dict[str, list[float]] = {}
        self.times: dict[str, float] = {}  # write-side walls
        self.batch_queries = 0
        self.layer: dict[str, float] = {}
        self.wand_metrics: list[dict] = []
        self.sim_metrics: list[dict] = []

    def record(self, kind: str, reason) -> None:
        a = self.ops.setdefault(kind, [0, 0])
        a[0] += 1
        if reason is not None:
            a[1] += 1
            self.log(f"FAILED {kind}: {reason}")

    def attempted(self) -> int:
        return sum(a for a, _ in self.ops.values())

    def failed(self) -> int:
        return sum(f for _, f in self.ops.values())

    def timed(self, kind: str, fn, *a, **kw):
        """One write operation: time it, count it; its answers are
        checked by the queries that follow it."""
        with self.tracer.op(kind):
            t0 = time.perf_counter()
            out = fn(*a, **kw)
            self.times[kind] = self.times.get(kind, 0.0) + time.perf_counter() - t0
        self.record(kind, None)
        return out

    def _traced(self, kind: str) -> bool:
        """Traced runs trace every other single query, so the untraced
        half measures the tracing overhead in the same run."""
        return self.tracer.enabled and self.ops.get(kind, [0])[0] % 2 == 0

    def untimed(self, fn, *a, **kw):
        """Warm-up work: not traced and left out of the metrics; its
        answers are still checked and counted."""
        was = self.tracer.enabled
        self.tracer.enabled = False
        saved = ({k: list(v) for k, v in self.lat.items()},
                 {k: list(v) for k, v in self.recalls.items()}, self.batch_queries)
        try:
            return fn(*a, **kw)
        finally:
            self.tracer.enabled = was
            self.lat, self.recalls, self.batch_queries = saved


class Bm25(Workload):
    name = "bm25"

    def setup(self):
        inp = gen.bm25_inputs(self.seed)
        paths = gen.write_tables(inp, self.work)
        self.path, self.app_path = paths["transcripts"], paths["append"]
        tbl, self.app = inp["transcripts"], inp["append"]
        self.input_bytes = sum(len(t.encode()) for t in tbl["text"].to_pylist())
        self.bm = oracle.BM25(_doc_ids(tbl), tbl["text"].to_pylist())
        rng = np.random.default_rng([self.seed, 99])
        n_del = int(gen.TURNS * DELETE_SHARE)
        lo = int(rng.integers(0, gen.TURNS - n_del))
        self.deleted = np.arange(lo, lo + n_del, dtype=np.int64)
        self.read_q = iter(inp["queries"]["read"])
        self.filtered_q = iter(inp["queries"]["filtered"])
        self.warmup_q = inp["queries"]["warmup"]

    def _build(self, path: str, root: str):
        """assign_doc_ids + build_index over the parquet table, as
        scripts/build_index.py does."""
        raw = self.spark.read.parquet(path)
        docs = docid_mod.assign_doc_ids(raw).select("doc_id", "text")
        return build_mod.build_index(self.spark, docs, root, CONFIG, resume=False)

    # ---- client operations ----
    def single(self, store, bm, terms, k, allow=None, kind="single"):
        allow_df = None
        if allow is not None:
            allow_df = self.spark.createDataFrame(pd.DataFrame({"doc_id": allow}))
        traced = self._traced(kind)
        call, delivery = ("filtered_call", "filtered_delivery") if allow is not None else (
            "topk_call", "result_delivery")
        with self.tracer.op(kind, traced):
            t0 = time.perf_counter()
            with self.tracer.span("wand." + call):
                df = wand_mod.bm25_topk(self.spark, store, list(terms), k, filter_docs=allow_df)
            with self.tracer.span("wand." + delivery):
                pdf = df.toPandas()
            dt = time.perf_counter() - t0
        self.lat.setdefault(kind + ("_traced" if traced else ""), []).append(dt)
        pdf = pdf.sort_values("rank")
        ids, s = bm.ranking(terms, allow)
        got = pdf["doc_id"].to_numpy()
        self.record(kind, oracle.check(got, pdf["score"].to_numpy(), ids, s, k))
        self.recalls.setdefault("query", []).append(oracle.recall(got, ids, 10))

    def batch(self, store, bm, queries, tag, kind="batch"):
        qs = [Query(f"{tag}-{i}", terms, k) for i, (terms, k) in enumerate(queries)]
        qm = wand_mod.QueryMetrics(self.spark) if self.tracer.enabled else None
        with self.tracer.op(kind):
            t0 = time.perf_counter()
            with self.tracer.span("wand.batch_call"):
                df = wand_mod.bm25_topk_batch(self.spark, store, qs, metrics=qm)
            with self.tracer.span("wand.batch_delivery"):
                pdf = df.toPandas()
            self.lat.setdefault("batch", []).append(time.perf_counter() - t0)
        self.batch_queries += len(qs)
        if qm is not None:
            self.wand_metrics.append(qm.snapshot())
        groups = dict(tuple(pdf.groupby("query_id")))
        reason = None
        for q in qs:
            g = groups.get(q.query_id, pdf.iloc[0:0]).sort_values("rank")
            ids, s = bm.ranking(q.terms)
            got = g["doc_id"].to_numpy()
            r = oracle.check(got, g["score"].to_numpy(), ids, s, q.k)
            reason = reason or (r and f"{q.query_id}: {r}")
            self.recalls.setdefault(kind, []).append(oracle.recall(got, ids, 10))
        self.record(kind, reason)

    # ---- phases ----
    def write_phase(self):
        sp, bm = self.spark, self.bm
        root = os.path.join(self.work, "index")
        store = self.timed("build", self._build, self.path, root)
        self.index_bytes = parquet_bytes(root)
        self.layer["index_store.postings_bytes"] = parquet_bytes(store.postings_path)
        self.layer["index_store.norms_bytes"] = parquet_bytes(store.norms_path)
        self.layer["index_store.dictionary_bytes"] = parquet_bytes(store.dictionary_root)
        mt = store.read_stats()[0].get("merge_timings", {})
        for k in ("postings", "dictionary", "norms"):
            self.layer[f"merge.{k}_s"] = float(mt.get(f"merge_{k}_sec", 0.0))
        # an append starts at the next fresh chunk boundary
        base = (int(bm.ids.max()) // CONFIG.docs_per_chunk + 1) * CONFIG.docs_per_chunk
        self.timed("append", inc_mod.append_index, sp, store, sp.read.parquet(self.app_path))
        bm.add(_doc_ids(self.app) + base, self.app["text"].to_pylist())
        self.timed("delete", delete_mod.delete_docs, sp, store, self.deleted.tolist())
        bm.tombstone(self.deleted)
        self.timed("fold", merge_mod.fold_deltas, sp, store)
        store.warm(sp)
        self.store = store
        live = bm.live_ids()
        self.allow = [gen.allow_list(self.seed, live, s, f"read{s}") for s in gen.ALLOW_SHARES]
        # warm each read operation once, untimed but checked. Both
        # singles use the terms of a deleted doc, which would rank near
        # the top if the folded layout lost its tombstone; the filtered
        # one's allow-list admits the deleted range, so only the
        # tombstone can keep it out.
        victim = self.deleted[len(self.deleted) // 2]
        vq = tuple(sorted(set(oracle.tokenize(bm.texts[int(np.nonzero(bm.ids == victim)[0][0])])[:3])))
        allow = np.unique(np.concatenate((self.allow[1], self.deleted)))
        self.untimed(self.single, store, bm, vq, 10, kind="warmup")
        self.untimed(self.single, store, bm, vq, 10, allow=allow, kind="warmup")
        self.untimed(self.batch, store, bm, self.warmup_q, "warm", kind="warmup")

    def round(self, r: int):
        """One block of single queries (every query shape once), one
        filtered query at each selectivity in turn, then the batches."""
        for _ in gen.QUERY_BLOCK:
            self.single(self.store, self.bm, *next(self.read_q))
        allow = self.allow[r % len(self.allow)]
        self.single(self.store, self.bm, *next(self.filtered_q), allow=allow, kind="filtered")
        for b in range(gen.BM25_BATCHES):
            self.batch(self.store, self.bm, [next(self.read_q) for _ in range(gen.BATCH_SIZE)], f"b{r}.{b}")

    def figures(self) -> dict:
        t = self.times
        return {
            "build_docs_per_s": gen.TURNS / t["build"],
            "append_docs_per_s": gen.APPEND_TURNS / t["append"],
            "maintain_s": t["delete"] + t["fold"],
            "index_bytes_per_input_byte": self.index_bytes / self.input_bytes,
        }


class Ann(Workload):
    name = "ann"

    def setup(self):
        inp = gen.ann_inputs(self.seed)
        tbl = inp["vectors"]
        self.path = gen.write_tables(inp, self.work)["vectors"]
        ids = tbl["vec_id"].to_numpy()
        X = tbl["embedding"].combine_chunks().values.to_numpy().reshape(len(tbl), -1)
        self.cos = oracle.Cosine(ids, X)
        self.input_bytes = X.size * 8
        rng = np.random.default_rng([self.seed, 7])
        n = gen.VECTORS
        self.deleted = np.sort(rng.choice(n, int(n * DELETE_VECTORS), replace=False))
        self.allow = gen.allow_list(self.seed, ids, ALLOW_SHARE, "ann")
        qs = inp["queries"]
        self.qv, self.bq, self.warmup_q = qs["local"], qs["batch"], qs["warmup"]
        self.with_allow = np.random.default_rng([self.seed, 11]).random(len(self.qv)) < ALLOW_P
        self.qpos = self.bpos = 0
        self.dir = os.path.join(self.work, "ivf")

    def _ivf_build(self, path, d):
        sim_mod.ivf_build(
            self.spark.read.parquet(path), d, n_centroids=CELLS, kmeans_iters=1, pq_m=PQ_M, sq=True,
        )

    def write_phase(self):
        self.timed("ivf_build", self._ivf_build, self.path, self.dir)
        self.index_bytes = parquet_bytes(self.dir)
        self.searcher = sim_mod.LocalIvfSearcher(self.dir)
        # open once, query many: load every cell before the timed stream
        self.untimed(self.searcher.query, self.warmup_q[0], K, n_probe=CELLS)
        # the first batch pays the batch path's JIT; keep it out of the rounds
        self.untimed(self.batch, self.warmup_q, True, "warm", kind="warmup")

    def round(self, r: int):
        """Local queries (the delete lands halfway through round 0),
        then one batch, with the PQ and SQ first passes in turn."""
        for j in range(gen.ANN_LOCAL):
            if r == 0 and j == gen.ANN_LOCAL // 2:
                self.timed("ivf_delete", sim_mod.ivf_delete, self.dir, self.deleted.tolist())
                self.cos.tombstone(self.deleted)
            self.local(self.qpos)
            self.qpos += 1
        self.batch(self.bq[self.bpos:self.bpos + gen.ANN_BATCH], r % 2 == 0, f"r{r}")
        self.bpos += gen.ANN_BATCH

    # ---- client operations ----
    def local(self, i: int):
        q = self.qv[i]
        allow = self.allow if self.with_allow[i] else None
        exact = i % EXACT_EVERY == EXACT_EVERY - 1
        kind = "local_exact" if exact else ("local_filtered" if allow is not None else "local")
        traced = self._traced(kind)
        with self.tracer.op(kind, traced):
            t0 = time.perf_counter()
            ids, s = self.searcher.query(q, K, n_probe=CELLS if exact else PROBE, allow=allow)
            dt = time.perf_counter() - t0
        self.lat.setdefault(kind + ("_traced" if traced else ""), []).append(dt)
        eids, es = self.cos.ranking(q, allow)
        self.record(kind, oracle.check(ids, s, eids, es, K, exact=exact))
        if kind == "local":
            self.recalls.setdefault("query", []).append(oracle.recall(ids, eids, K))

    def batch(self, Q, use_pq: bool, tag: str, kind=None):
        kind = kind or ("batch_pq" if use_pq else "batch_sq")
        qs = [(f"{tag}-{i}", q.tolist()) for i, q in enumerate(Q)]
        m: dict = {}
        with self.tracer.op(kind):
            t0 = time.perf_counter()
            with self.tracer.span("similarity.batch_call"):
                df = sim_mod.ivf_query_batch(
                    self.spark, self.dir, qs, K, n_probe=PROBE, use_pq=use_pq, use_sq=not use_pq, metrics=m,
                )
            with self.tracer.span("similarity.batch_delivery"):
                pdf = df.toPandas()
            self.lat.setdefault("batch", []).append(time.perf_counter() - t0)
        self.batch_queries += len(qs)
        if self.tracer.enabled:
            self.sim_metrics.append(m)
        groups = dict(tuple(pdf.groupby("query_id")))
        reason = None
        for (qid, _), q in zip(qs, Q):
            g = groups.get(qid, pdf.iloc[0:0]).sort_values("rank")
            eids, es = self.cos.ranking(q)
            got = g["vec_id"].to_numpy()
            # the batch path rounds scores to 6 decimals
            r = oracle.check(got, g["cos"].to_numpy(), eids, es, K, exact=False, tol=5e-7)
            reason = reason or (r and f"{qid}: {r}")
            self.recalls.setdefault(kind, []).append(oracle.recall(got, eids, K))
        self.record(kind, reason)

    def figures(self) -> dict:
        t = self.times
        return {
            "build_docs_per_s": gen.VECTORS / t["ivf_build"],
            "index_bytes_per_input_byte": self.index_bytes / self.input_bytes,
            "batch_pq_recall_at_10": statistics.fmean(self.recalls["batch_pq"]),
            "batch_sq_recall_at_10": statistics.fmean(self.recalls["batch_sq"]),
        }


def _doc_ids(tbl) -> np.ndarray:
    return oracle.dense_rank(tbl["conv_id"].to_pylist(), tbl["turn_idx"].to_pylist())


WORKLOADS = {w.name: w for w in (Bm25, Ann)}


def install_tracing(tracer) -> None:
    """Wrap the public functions whose calls are the layers' spans.
    Modules that imported a function by name get the wrapper too."""
    def rows(t):
        return {"rows": t.num_rows if t is not None else 0}

    w = tracer.wrap
    S = store_mod.IndexStore
    w(S, "warm", "index_store.warm")
    w(S, "term_dfs_for", "index_store.term_dfs_for")
    w(S, "read_postings_arrow", "index_store.read_postings_arrow", rows)
    w(S, "write_build_wave", "segment_build.write_build_wave")
    w(docid_mod, "assign_doc_ids", "docid.assign_doc_ids")
    w(inc_mod, "assign_doc_ids", "docid.assign_doc_ids")
    w(merge_mod, "merge_segments", "merge.merge_segments")
    w(merge_mod, "write_merged_delta", "merge.write_merged_delta")
    w(inc_mod, "write_merged_delta", "merge.write_merged_delta")
    w(merge_mod, "fold_deltas", "merge.fold_deltas")
    w(inc_mod, "append_index", "incremental.append_index")
    w(delete_mod, "delete_docs", "delete.delete_docs")
    w(sim_mod, "ivf_build", "similarity.ivf_build")
    w(sim_mod.LocalIvfSearcher, "query", "similarity.local_query")
