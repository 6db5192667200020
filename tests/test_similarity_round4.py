"""Round-4 similarity surface: filtered vector search, radial search,
quantized batch IVF, hamming top-k, l1/linf IVF spaces, unbiased PQ
training sample.

Reference anchors: filtered search = acceptDocs pushed into graph
search (JVectorReader.java:167-182; engine gate KNNQueryBuilder.java:
510-514); radial = maxDistance/minScore queries (KNNQueryBuilder.java:
438-472, RNNQueryFactory.java); hamming = KNNScoringUtil
.calculateHammingBit:179-202; PQ sampling = quantization/sampler/
ReservoirSampler.java (unbiased training subset).
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from opensearch_jvector_spark.operators.similarity import (
    _np_space_scores,
    _pq_training_sample,
    _probe_cells,
    hamming_topk,
    ivf_build,
    ivf_query,
    ivf_query_batch,
    ivf_query_radial,
    radial_threshold,
    topk_bruteforce,
)

SF01 = "/root/testdata/sf0.01/embeddings.parquet"


def _emb(spark):
    return spark.read.parquet(SF01)


def _qvec(spark, vid=0):
    row = _emb(spark).filter(F.col("vec_id") == vid).first()
    return [float(x) for x in row["embedding"]]


@pytest.fixture(scope="module")
def ivf_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ivf_r4") / "idx")
    ivf_build(_emb(spark), d, n_centroids=16, kmeans_iters=1, pq_m=8, sq=True)
    return d


def _cells_pdf(spark, ivf_dir):
    """(vec_id, cell, v, norm) of the whole index, pandas-side."""
    return (
        spark.read.option("basePath", os.path.join(ivf_dir, "cells"))
        .parquet(os.path.join(ivf_dir, "cells"))
        .toPandas()
    )


# ---------------------------------------------------------- filtered


def test_filtered_ivf_matches_manual_and_scan_stays_pruned(spark, ivf_dir):
    """Filter semantics: top-k among allow-listed members of the probed
    cells only; and the probed-cell scan stays PRUNED with the filter
    on — every index file the query plan reads lives under a probed
    cell=... directory (the BM25 side's pruning-stays-on-under-filter
    test, transplanted)."""
    q = _qvec(spark, 0)
    allow = _emb(spark).filter(F.col("vec_id") % 3 == 0).select("vec_id")
    # threshold=0 pins the probed-mask path (the small-filter exact
    # fallback is tested separately in test_filtered_exact.py)
    res = ivf_query(spark, ivf_dir, q, 10, n_probe=4, filter_ids=allow,
                    filtered_exact_threshold=0)
    got = [(r.vec_id, r.cos, r.rank) for r in res.collect()]

    probe = set(_probe_cells(ivf_dir, np.asarray(q), 4, "cosine"))
    pdf = _cells_pdf(spark, ivf_dir)
    qv = np.asarray(q)
    qn = np.linalg.norm(qv)
    cand = pdf[pdf["cell"].isin(probe) & (pdf["vec_id"] % 3 == 0)]
    cos = cand["v"].map(lambda v: float(np.dot(v, qv))) / (cand["norm"] * qn)
    exp = sorted(
        zip(cand["vec_id"], cos), key=lambda t: (-t[1], t[0])
    )[:10]
    assert [g[0] for g in got] == [int(e[0]) for e in exp]
    assert all(abs(g[1] - e[1]) < 1e-6 for g, e in zip(got, exp))
    assert all(g[0] % 3 == 0 for g in got)

    # pruning stays on under the filter: index files read by the plan
    # are exactly within the probed cell directories
    idx_files = [f for f in res.inputFiles() if ivf_dir in f]
    assert idx_files, "query read no index files?"
    for f in idx_files:
        assert any(f"cell={c}/" in f or f"cell={c}%2F" in f for c in probe), f


def test_filtered_pq_mask_applies_before_overquery_budget(spark, ivf_dir):
    """Adversarial budget test: the allow-list keeps ~10% of ids while
    overquery is tiny. If the mask applied AFTER the k*overquery cut
    (as a post-filter), most of the budget would be consumed by
    filtered-out docs and fewer than k rows would survive; masking
    inside pass 1 (acceptDocs-in-graph-search) keeps the result full
    and exact."""
    q = _qvec(spark, 0)
    allow = _emb(spark).filter(F.col("vec_id") % 10 == 3).select("vec_id")
    k = 5
    exact = [
        tuple(r)
        for r in ivf_query(
            spark, ivf_dir, q, k, n_probe=4, filter_ids=allow,
            filtered_exact_threshold=0,
        ).collect()
    ]
    for kw in ({"use_pq": True}, {"use_sq": True}):
        got = [
            tuple(r)
            for r in ivf_query(
                spark, ivf_dir, q, k, n_probe=4, filter_ids=allow,
                overquery=40, filtered_exact_threshold=0, **kw,
            ).collect()
        ]
        assert len(got) == k
        assert got == exact, kw


# ------------------------------------------------------------ radial


def test_radial_ivf_matches_manual(spark, ivf_dir):
    q = _qvec(spark, 0)
    t = 0.15
    got = [
        (r.vec_id, r.cos, r.rank)
        for r in ivf_query_radial(
            spark, ivf_dir, q, n_probe=4, min_score=t
        ).collect()
    ]
    probe = set(_probe_cells(ivf_dir, np.asarray(q), 4, "cosine"))
    pdf = _cells_pdf(spark, ivf_dir)
    qv = np.asarray(q)
    qn = np.linalg.norm(qv)
    cand = pdf[pdf["cell"].isin(probe)]
    cos = cand["v"].map(lambda v: float(np.dot(v, qv))) / (cand["norm"] * qn)
    exp = sorted(
        [(int(v), c) for v, c in zip(cand["vec_id"], cos) if c >= t],
        key=lambda x: (-x[1], x[0]),
    )
    assert [g[0] for g in got] == [e[0] for e in exp]
    assert [g[2] for g in got] == list(range(1, len(exp) + 1))
    assert all(g[1] >= round(t, 6) for g in got)


def test_radial_threshold_rules():
    # exactly one of min_score / max_distance (KNNQueryBuilder.java:93-95)
    with pytest.raises(ValueError):
        radial_threshold("l2", None, None)
    with pytest.raises(ValueError):
        radial_threshold("l2", 0.5, 1.0)
    # distance -> score translations (SpaceType.java:43-161)
    assert radial_threshold("l2", None, 1.0) == 0.5
    assert radial_threshold("cosine", None, 0.25) == 0.75
    assert radial_threshold("innerproduct", 2.0, None) == 2.0
    with pytest.raises(ValueError):
        radial_threshold("innerproduct", None, 1.0)


# ------------------------------------------------- quantized batch IVF


def test_batch_quantized_rank_identical_and_compression(spark, ivf_dir):
    """The round-3 gap closed: the batch kernel scores CODES first
    (one ADC gather / int8 matmul per cell group for all of that
    cell's queries) and reranks the candidate union once. Per-query
    results must be rank-identical to single-query ivf_query through
    the same quantized path, and the batch compression ratio must be
    at least the single-query ratio (same columns scanned, shared
    rerank read)."""
    qids = (0, 7, 21, 42)
    vecs = {i: _qvec(spark, i) for i in qids}
    queries = [(f"q{i}", vecs[i]) for i in qids]
    for kw in ({"use_pq": True}, {"use_sq": True}):
        # rank-identity at an exactness-restoring overquery
        batch = ivf_query_batch(
            spark, ivf_dir, queries, k=5, n_probe=4, overquery=50, **kw
        ).collect()
        by_q = {}
        for r in batch:
            by_q.setdefault(r.query_id, []).append(
                (r.vec_id, r.cos, r.rank)
            )
        for i in qids:
            single = [
                (r.vec_id, r.cos, r.rank)
                for r in ivf_query(
                    spark, ivf_dir, vecs[i], 5, n_probe=4, overquery=50,
                    **kw,
                ).collect()
            ]
            assert by_q[f"q{i}"] == single, (kw, i)
        # compression economics at a REAL pruning overquery: the batch
        # pays the code scan once for all queries, so per-query
        # amortized bytes must beat the single-query cost
        bm: dict = {}
        ivf_query_batch(
            spark, ivf_dir, queries, k=5, n_probe=4, overquery=8,
            metrics=bm, **kw,
        ).collect()
        sm: dict = {}
        ivf_query(
            spark, ivf_dir, vecs[0], 5, n_probe=4, overquery=8,
            metrics=sm, **kw,
        ).collect()
        assert bm["amortized_bytes_per_query"] < bm["unquantized_bytes"], bm
        assert (
            bm["amortized_compression_ratio"] >= sm["compression_ratio"]
        ), (bm, sm)
        # and the whole batch costs less than N independent queries
        assert (
            bm["bytes_scanned"] < len(qids) * sm["bytes_scanned"]
        ), (bm, sm)


def test_batch_filtered(spark, ivf_dir):
    qids = (0, 21)
    vecs = {i: _qvec(spark, i) for i in qids}
    queries = [(f"q{i}", vecs[i]) for i in qids]
    allow = _emb(spark).filter(F.col("vec_id") % 3 == 0).select("vec_id")
    for kw in ({}, {"use_pq": True, "overquery": 50}):
        rows = ivf_query_batch(
            spark, ivf_dir, queries, k=5, n_probe=4, filter_ids=allow,
            filtered_exact_threshold=0, **kw
        ).collect()
        assert rows and all(r.vec_id % 3 == 0 for r in rows), kw
        for i in qids:
            single = [
                (r.vec_id, r.cos, r.rank)
                for r in ivf_query(
                    spark, ivf_dir, vecs[i], 5, n_probe=4,
                    filter_ids=allow, filtered_exact_threshold=0, **kw,
                ).collect()
            ]
            got = sorted(
                [
                    (r.vec_id, r.cos, r.rank)
                    for r in rows
                    if r.query_id == f"q{i}"
                ],
                key=lambda t: t[2],
            )
            assert got == single, (kw, i)


def test_quantized_rejects_l1_linf(spark, ivf_dir):
    q = _qvec(spark, 0)
    with pytest.raises(ValueError):
        ivf_query(
            spark, ivf_dir, q, 5, n_probe=4, space="l1", use_pq=True
        ).collect()


# ----------------------------------------------------------- hamming


def test_hamming_topk_vs_bruteforce(spark):
    from opensearch_jvector_spark.operators.dedup import simhash

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    s = simhash(docs)
    fps = {r.doc_id: r.simhash for r in s.collect()}
    qfp = fps[0]
    got = [(r.doc_id, r.hamming, r.rank) for r in hamming_topk(s, qfp, 10).collect()]
    exp = sorted(
        ((d, bin(fp ^ qfp).count("1")) for d, fp in fps.items()),
        key=lambda t: (t[1], t[0]),
    )[:10]
    assert [(g[0], g[1]) for g in got] == exp
    assert [g[2] for g in got] == list(range(1, 11))


# ------------------------------------------------------ l1/linf IVF


@pytest.mark.parametrize("space", ["l1", "linf"])
def test_ivf_l1_linf_probe_all_equals_bruteforce(spark, tmp_path, space):
    """l1/linf through the IVF path (round-3 gap: _np_space_scores
    rejected them, making these spaces brute-force-only). Probing all
    cells must be rank-identical to the exact scan."""
    embs = _emb(spark)
    q = _qvec(spark, 7)
    d = str(tmp_path / f"ivf_{space}")
    ivf_build(embs, d, n_centroids=8, space=space)
    exact = [
        (r.vec_id, r.score, r.rank)
        for r in topk_bruteforce(embs, q, 10, space).collect()
    ]
    got = [
        (r.vec_id, r.score, r.rank)
        for r in ivf_query(spark, d, q, 10, n_probe=8, space=space).collect()
    ]
    assert got == exact
    # pruned probe still returns k exactly-scored rows
    some = ivf_query(spark, d, q, 10, n_probe=3, space=space).collect()
    assert len(some) == 10


# ------------------------------------------- PQ training sample bias


def test_pq_hash_sample_beats_first_n_on_adversarial_order(spark):
    """Ids adversarially ordered: the first pq_sample ids are ONE tight
    cluster, the rest are spread (on a real corpus low ids are one
    crawl/domain/time slice). first-N codebooks fit only the head
    cluster and misfit everything else; the seeded-hash sample is
    order-unbiased, so its codebooks must reconstruct the full corpus
    with lower distortion (the reference samples via ReservoirSampler
    for exactly this reason)."""
    from opensearch_jvector_spark.operators.quantize import pq_encode, pq_train

    rng = np.random.RandomState(5)
    dim, n_head, n_tail = 16, 256, 1792
    head = 0.05 * rng.randn(n_head, dim) + np.full(dim, 3.0)
    tail = rng.randn(n_tail, dim) * 2.0
    X = np.vstack([head, tail])
    import pandas as pd

    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(X)), "v": [row.tolist() for row in X]}
    )
    e = spark.createDataFrame(pdf)

    # the first-N baseline: the lowest 256 ids (round 3's rule)
    first_n = np.array(
        [r["v"] for r in e.filter(F.col("vec_id") < 256)
         .orderBy("vec_id").collect()],
        dtype=np.float64,
    )

    def distortion(sample):
        cb = pq_train(sample, m=4, n_codes=16)
        codes = pq_encode(X, cb)
        dsub = dim // 4
        rec = np.concatenate(
            [cb[j][codes[:, j]] for j in range(4)], axis=1
        )
        assert rec.shape == X.shape and dsub * 4 == dim
        return float(((X - rec) ** 2).mean())

    d_first = distortion(first_n)
    d_hash = distortion(_pq_training_sample(e, 256))
    assert d_hash < d_first * 0.5, (d_first, d_hash)

    # determinism: the hash sample is a pure function of ids
    s1 = _pq_training_sample(e, 256)
    s2 = _pq_training_sample(e.repartition(7), 256)
    assert np.array_equal(s1, s2)


def test_rescore_first_pass_k_dimension_policy():
    """RescoreContext.getFirstPassK (RescoreContext.java:82-97):
    dimension picks the default factor (>=1000 -> 1x, >=768 -> 2x,
    else 3x), clamped to [100, 10000]; caller-supplied overquery is
    exact."""
    from opensearch_jvector_spark.operators.similarity import (
        rescore_first_pass_k,
    )

    assert rescore_first_pass_k(10, 64, None) == 100      # 30 -> min 100
    assert rescore_first_pass_k(50, 64, None) == 150      # 3x
    assert rescore_first_pass_k(50, 768, None) == 100     # 2x -> min 100
    assert rescore_first_pass_k(200, 800, None) == 400    # 2x
    assert rescore_first_pass_k(500, 1536, None) == 500   # 1x
    assert rescore_first_pass_k(9000, 64, None) == 10000  # max cap
    # the userProvided branch clamps too (RescoreContext.java:96):
    # tiny k*overquery keeps the 100-candidate recall floor, huge
    # values respect the 10k cap
    assert rescore_first_pass_k(10, 64, 8) == 100         # 80 -> floor
    assert rescore_first_pass_k(50, 64, 8) == 400         # user-exact
    assert rescore_first_pass_k(5000, 64, 8) == 10000     # user cap


def test_default_overquery_quantized_smoke(spark, ivf_dir):
    """overquery=None routes through the dimension policy and still
    returns k correctly-ranked rows."""
    q = _qvec(spark, 0)
    got = ivf_query(spark, ivf_dir, q, 10, n_probe=4, use_pq=True).collect()
    assert len(got) == 10
    assert [r.rank for r in got] == list(range(1, 11))


# --------------------------------------- driver-local path + append


def test_ivf_query_local_rank_identical(spark, ivf_dir):
    """The driver fast path (BM25 _local_topk transplanted to vectors,
    KNNSettings.java:70 exact-search-threshold analog) must reproduce
    the distributed result: same probe, same ordering, scores within
    float64 ulps."""
    from opensearch_jvector_spark.operators.similarity import (
        ivf_query_local,
    )

    q = _qvec(spark, 0)
    dist = [
        (r.vec_id, r.cos, r.rank)
        for r in ivf_query(spark, ivf_dir, q, 10, n_probe=4).collect()
    ]
    loc = ivf_query_local(ivf_dir, q, 10, n_probe=4)
    assert list(loc["vec_id"]) == [d[0] for d in dist]
    assert list(loc["rank"]) == [d[2] for d in dist]
    assert all(
        abs(a - d[1]) <= 1e-6 for a, d in zip(loc["cos"], dist)
    )

    # radial parity
    rad = [
        r.vec_id
        for r in ivf_query_radial(
            spark, ivf_dir, q, n_probe=4, min_score=0.15
        ).collect()
    ]
    loc_rad = ivf_query_local(ivf_dir, q, 10, n_probe=4, min_score=0.15)
    assert list(loc_rad["vec_id"]) == rad

    # filtered parity (iterable mask)
    allow = [
        r.vec_id
        for r in _emb(spark).filter(F.col("vec_id") % 3 == 0)
        .select("vec_id").collect()
    ]
    distf = [
        r.vec_id
        for r in ivf_query(
            spark, ivf_dir, q, 10, n_probe=4, filter_ids=allow
        ).collect()
    ]
    locf = ivf_query_local(ivf_dir, q, 10, n_probe=4, filter_ids=allow)
    assert list(locf["vec_id"]) == distf

    # driver-memory guard
    with pytest.raises(ValueError):
        ivf_query_local(ivf_dir, q, 10, n_probe=4, max_bytes=16)


def test_ivf_append_incremental(spark, tmp_path):
    """ANN incremental maintenance (buildAndMergeNewNodes /
    codebook-reuse analog): append assigns new vectors to existing
    centroids and encodes with existing codebooks — no rebuild. After
    append, probe-all equals brute force over the FULL corpus, the PQ
    path stays rerank-exact, and the driver-local cache invalidates
    via the cell-directory signature."""
    from opensearch_jvector_spark.operators.similarity import (
        ivf_append,
        ivf_query_local,
    )

    embs = _emb(spark)
    d = str(tmp_path / "ivfapp")
    base = embs.filter(F.col("vec_id") < 300)
    tail = embs.filter(F.col("vec_id") >= 300)
    ivf_build(base, d, n_centroids=8, kmeans_iters=1, pq_m=8, sq=True)
    q = _qvec(spark, 7)

    # warm the local cache on the BASE index, then append
    pre = ivf_query_local(d, q, 10, n_probe=8)
    assert all(v < 300 for v in pre["vec_id"])
    r = ivf_append(spark, d, tail)
    assert r["appended"] == embs.count() - 300

    exact = [
        (r.vec_id, round(r.score, 6))
        for r in topk_bruteforce(embs, q, 10, "cosine").collect()
    ]
    got = [
        (r.vec_id, round(r.cos, 6))
        for r in ivf_query(spark, d, q, 10, n_probe=8).collect()
    ]
    assert got == exact  # probe-all == brute force incl. appended docs

    pq_got = [
        (r.vec_id, round(r.cos, 6))
        for r in ivf_query(
            spark, d, q, 10, n_probe=8, use_pq=True, overquery=500
        ).collect()
    ]
    assert pq_got == exact  # appended codes decode against old codebooks

    # local cache saw the signature change
    post = ivf_query_local(d, q, 10, n_probe=8)
    assert [(int(v), round(float(c), 6)) for v, c in
            zip(post["vec_id"], post["cos"])] == exact


def test_np_space_scores_l1_linf():
    M = np.array([[0.0, 0.0], [3.0, 4.0]])
    C = np.array([[0.0, 0.0], [1.0, 1.0]])
    l1 = _np_space_scores(M, C, "l1")
    assert np.allclose(l1, [[0.0, -2.0], [-7.0, -5.0]])
    li = _np_space_scores(M, C, "linf")
    assert np.allclose(li, [[0.0, -1.0], [-4.0, -3.0]])
