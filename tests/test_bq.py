"""1-bit binary quantization (OneBitScalarQuantizer.java:25-88 analog):
per-dim mean thresholds, packed sign bits, hamming first pass +
exact rerank, 64x compression through the approximate scan."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyarrow.parquet import read_table as pq_read
from pyspark.sql import functions as F

from opensearch_jvector_spark.operators.quantize import (
    QUANTIZERS,
    bq_encode,
    bq_hamming,
    bq_train,
    load_bq,
    msq_encode,
    pq_encode,
    sq_encode,
)
from opensearch_jvector_spark.operators.similarity import (
    ivf_append,
    ivf_build,
    ivf_query,
    topk_bruteforce,
)

SF01 = "/root/testdata/sf0.01/embeddings.parquet"


def _emb(spark):
    return spark.read.parquet(SF01)


def _qvec(spark, vid=0):
    row = _emb(spark).filter(F.col("vec_id") == vid).first()
    return [float(x) for x in row["embedding"]]


def test_bq_pack_and_hamming():
    rng = np.random.default_rng(7)
    M = rng.normal(size=(32, 20))
    th = bq_train(M)
    assert th.shape == (20,)
    codes = bq_encode(M, th)
    assert codes.shape == (32, 3) and codes.dtype == np.uint8  # ceil(20/8)
    # hamming to itself is 0; to the bit-flipped row it is the number
    # of data bits (packbits pads the 4 trailing bits with zeros on
    # both sides, so they never differ)
    assert bq_hamming(codes, codes[0])[0] == 0
    flipped = bq_encode(-(M - th[None, :]) + th[None, :], th)
    d = bq_hamming(flipped, codes[0])[0]
    assert d == 20 - (M[0] == th).sum()
    with pytest.raises(ValueError, match="dim"):
        bq_encode(M[:, :10], th)


def test_ivf_bq_rank_identical_with_rerank(spark, tmp_path):
    d = str(tmp_path / "idx")
    ivf_build(_emb(spark), d, n_centroids=8, kmeans_iters=1, bq=True)
    assert load_bq(d) is not None
    q = _qvec(spark, vid=5)
    exact = [
        tuple(r)
        for r in ivf_query(spark, d, q, k=10, n_probe=8).collect()
    ]
    m: dict = {}
    got = [
        tuple(r)
        for r in ivf_query(
            spark, d, q, k=10, n_probe=8, use_bq=True, overquery=50,
            metrics=m,
        ).collect()
    ]
    assert got == exact
    # the approximate pass reads ONLY the packed bits: far fewer bytes
    # than even the int8 codes would (dim 64 -> 8 packed bytes vs 64).
    # (overquery=50 reranks the whole 500-doc corpus, so the END-TO-END
    # ratio is ~1 here by design; the tight-budget ratio is asserted in
    # the clustered-recall test below.)
    assert m["approx_bytes"] < m["unquantized_bytes"] / 8


def test_bq_hamming_proxy_recall_on_clustered_data(spark, tmp_path):
    """The hamming proxy resolves at SIGN-CELL granularity: cluster
    members share a sign pattern (noise sigma 0.3 against +-1 centers
    flips almost no bits), so same-cluster candidates tie at hamming ~0
    and the budget must cover the tie set for the rerank to recover the
    fine ranking — the documented contract of a 1-bit proxy (the
    reference pairs its OneBit quantizer with exactly this
    overquery-then-rerank loop, RescoreContext.java)."""
    rng = np.random.default_rng(3)
    dim, n_clusters, per = 64, 20, 100
    centers = rng.choice([-1.0, 1.0], size=(n_clusters, dim))
    rows = []
    for c in range(n_clusters):
        pts = centers[c][None, :] + rng.normal(0, 0.3, size=(per, dim))
        for i, p in enumerate(pts):
            rows.append((c * per + i, [float(x) for x in p]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    d = str(tmp_path / "idx")
    ivf_build(df, d, n_centroids=4, kmeans_iters=1, bq=True)
    q = rows[50][1]  # a member of cluster 0
    exact = {
        r["vec_id"]
        for r in ivf_query(spark, d, q, k=10, n_probe=4).collect()
    }
    m: dict = {}
    got = {
        r["vec_id"]
        for r in ivf_query(
            spark, d, q, k=10, n_probe=4, use_bq=True, overquery=10,
            metrics=m,
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, (recall, exact, got)
    # budget 100 of 2000 rows -> the rerank reads ~5% of the vectors;
    # packed bits are 8 bytes vs 512+8 full-precision per row
    assert m["compression_ratio"] > 4, m


def test_bq_rejects_non_cosine_and_unbuilt(spark, tmp_path):
    d = str(tmp_path / "idx")
    ivf_build(_emb(spark), d, n_centroids=8, bq=True)
    with pytest.raises(ValueError, match="cosine only"):
        ivf_query(spark, d, _qvec(spark), k=5, space="l2", use_bq=True)
    d2 = str(tmp_path / "idx2")
    ivf_build(_emb(spark), d2, n_centroids=8)  # no bq
    with pytest.raises(ValueError, match="without bq"):
        ivf_query(spark, d2, _qvec(spark), k=5, use_bq=True)


#: quantizer -> (its ivf_build options, the quantize.py encoder of a
#: vector matrix with the loaded trained state, as stored columns)
APPEND_CASES = {
    "pq": ({"pq_m": 8}, lambda M, st: {"code": pq_encode(M, st)}),
    "sq": ({"sq": True}, lambda M, st: dict(zip(("sq_code", "sq_scale"),
                                                sq_encode(M)))),
    "bq": ({"bq": True}, lambda M, st: {"bq_code": bq_encode(M, st)}),
    "msq": ({"msq_bits": 2}, lambda M, st: {"msq_code": msq_encode(M, st)}),
}


@pytest.mark.parametrize("name", list(APPEND_CASES))
def test_ivf_append_encodes_new_vectors(spark, tmp_path, name):
    """Appended rows are encoded with the index's EXISTING trained
    state, and the first pass at full budget over base + appended rows
    ranks like brute force."""
    opts, encoder = APPEND_CASES[name]
    d = str(tmp_path / "idx")
    base = _emb(spark).filter(F.col("vec_id") < 400)
    extra = _emb(spark).filter(F.col("vec_id") >= 400)
    ivf_build(base, d, n_centroids=8, kmeans_iters=1, **opts)
    ivf_append(spark, d, extra)
    q = _qvec(spark, vid=450)
    got = ivf_query(
        spark, d, q, k=10, n_probe=8, overquery=100, **{f"use_{name}": True}
    ).collect()
    exact = topk_bruteforce(_emb(spark), q, 10, score_name="cos").collect()
    assert [(r["vec_id"], r["cos"]) for r in got] == [
        (r["vec_id"], r["cos"]) for r in exact
    ]

    stored = pq_read(os.path.join(d, "cells")).to_pandas()
    stored = stored[stored["vec_id"] >= 400].sort_values("vec_id")
    M = np.array([np.asarray(v, dtype=np.float64) for v in stored["v"]])
    state = QUANTIZERS[name].load(d) if QUANTIZERS[name].load else None
    for col, want in encoder(M, state).items():
        want = np.asarray(want)
        if want.dtype == np.float64:
            assert np.array_equal(stored[col].to_numpy(), want), col
        else:
            assert list(stored[col]) == [c.tobytes() for c in want], col


@pytest.mark.parametrize("name", ["pq", "bq", "msq"])
def test_ivf_append_refuses_missing_trained_state(spark, tmp_path, name, spark_jobs):
    """Cells that carry a quantizer's codes but an index dir that lost
    its trained state: ``ivf_append`` fails on the driver, naming the
    missing state, before any Spark job runs."""
    opts = APPEND_CASES[name][0]
    d = str(tmp_path / "idx")
    ivf_build(_emb(spark).filter(F.col("vec_id") < 400), d, n_centroids=4,
              **opts)
    shutil.rmtree(os.path.join(d, name))
    extra = _emb(spark).filter(F.col("vec_id") >= 400)
    missing = QUANTIZERS[name].state_name

    def refused():
        with pytest.raises(ValueError, match=f"no {missing}"):
            ivf_append(spark, d, extra)

    assert spark_jobs("missing-state", refused)[1] == []
