"""Multi-bit (2/4-bit) scalar quantization — the compression points
between 1-bit BQ (32x) and int8 SQ (8x).

Reference anchors: MultiBitScalarQuantizer.java (b threshold planes per
dimension at mean + iCoef*stddev, iCoef = -1 + 2*(i+1)/(b+1);
calculateThresholds), BitPacker.java (plane-major bit packing),
CompressionLevel.java:24-31 (2-bit = 16x, 4-bit = 8x points), hamming
candidate ranking KNNScoringUtil.calculateHammingBit:179-202.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from opensearch_jvector_spark.operators.quantize import (
    bq_encode,
    bq_train,
    msq_encode,
    msq_hamming,
    msq_train,
)
from opensearch_jvector_spark.operators.similarity import (
    ivf_build,
    ivf_query,
    ivf_query_batch,
)

SF01 = "/root/testdata/sf0.01/embeddings.parquet"


def test_threshold_planes_match_reference_formula():
    rng = np.random.default_rng(21)
    sample = rng.standard_normal((1000, 8)) * 3.0 + 1.0
    mean, std = sample.mean(axis=0), sample.std(axis=0)
    th2 = msq_train(sample, 2)
    assert th2.shape == (2, 8)
    # 2-bit: iCoef = -1 + 2*(i+1)/3 -> {-1/3, +1/3}
    np.testing.assert_allclose(th2[0], mean + (-1 + 2 / 3) * std)
    np.testing.assert_allclose(th2[1], mean + (-1 + 4 / 3) * std)
    th4 = msq_train(sample, 4)
    # 4-bit: {-3/5, -1/5, +1/5, +3/5} sigma
    for i, c in enumerate((-0.6, -0.2, 0.2, 0.6)):
        np.testing.assert_allclose(th4[i], mean + c * std, rtol=1e-12)
    with pytest.raises(ValueError):
        msq_train(sample, 1)


def test_encode_plane_major_packing_and_width():
    th = np.array([[0.0, 0.0, 0.0], [1.0, 1.0, 1.0]])  # 2 planes, d=3
    M = np.array([[0.5, -0.5, 2.0]])
    codes = msq_encode(M, th)
    # 2 planes x ceil(3/8)=1 byte each
    assert codes.shape == (1, 2)
    # plane 0 (v > 0): bits 1,0,1 -> 0b10100000; plane 1 (v > 1): 0,0,1
    assert codes[0, 0] == 0b10100000
    assert codes[0, 1] == 0b00100000
    # hamming of a code against itself is zero; one flipped bit is 1
    assert msq_hamming(codes, codes[0])[0] == 0
    other = codes.copy()
    other[0, 1] ^= 0b00100000
    assert msq_hamming(other, codes[0])[0] == 1


def test_compression_sits_between_bq_and_sq():
    rng = np.random.default_rng(22)
    sample = rng.standard_normal((512, 64))
    bq_bytes = bq_encode(sample[:4], bq_train(sample)).shape[1]
    msq2 = msq_encode(sample[:4], msq_train(sample, 2)).shape[1]
    msq4 = msq_encode(sample[:4], msq_train(sample, 4)).shape[1]
    sq_bytes = 64  # int8 code bytes at dim 64
    assert bq_bytes < msq2 < msq4 < sq_bytes
    assert (msq2, msq4) == (2 * bq_bytes, 4 * bq_bytes)


def test_first_pass_recall_improves_with_bits():
    """More threshold planes = finer resolution: at the query path's
    REAL candidate budget (rescore floor MIN_FIRST_PASS_RESULTS=100,
    RescoreContext.java:96), mean first-pass recall of the true cosine
    top-10 over 10 seeded queries must improve 1 -> 2 -> 4 bits.
    (At tiny budgets (<~50) 1-bit sign hamming can locally beat the
    multi-bit planes on isotropic data — the magnitude-band bits dilute
    pure angle — which is why the assertion runs at the budget the
    engine actually uses.)"""
    rng = np.random.default_rng(23)
    X = rng.standard_normal((2000, 64))
    thb = bq_train(X)
    th2, th4 = msq_train(X, 2), msq_train(X, 4)
    Cb, C2, C4 = (
        bq_encode(X, thb), msq_encode(X, th2), msq_encode(X, th4)
    )
    tot = np.zeros(3)
    for s in range(10):
        q = np.random.default_rng(100 + s).standard_normal(64)
        cos = (X @ q) / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
        true10 = set(np.argsort(-cos)[:10].tolist())

        def recall(codes, qcode):
            h = msq_hamming(codes, qcode)
            cand = set(np.argsort(h, kind="stable")[:100].tolist())
            return len(cand & true10) / 10.0

        tot += [
            recall(Cb, bq_encode(q[None, :], thb)[0]),
            recall(C2, msq_encode(q[None, :], th2)[0]),
            recall(C4, msq_encode(q[None, :], th4)[0]),
        ]
    r1, r2, r4 = tot / 10
    assert r4 > r2 > r1
    assert r4 >= 0.8  # 4-bit should be a genuinely good proxy


@pytest.mark.parametrize("bits", [2, 4])
def test_ivf_msq_rank_identical_after_rerank(spark, tmp_path, bits):
    emb = spark.read.parquet(SF01)
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    d = str(tmp_path / f"idx{bits}")
    ivf_build(emb, d, n_centroids=16, kmeans_iters=1, msq_bits=bits)
    m: dict = {}
    got = [
        tuple(r)
        for r in ivf_query(
            spark, d, q, 10, n_probe=4, use_msq=True, overquery=50,
            metrics=m,
        ).collect()
    ]
    want = [
        tuple(r) for r in ivf_query(spark, d, q, 10, n_probe=4).collect()
    ]
    assert got == want
    # the approximate pass reads code bytes, not vector bytes (the
    # end-to-end ratio is ~1 at this toy scale only because the rerank
    # budget floor of 100 covers most of the 125-row candidate pool)
    assert m["approx_bytes"] < m["unquantized_bytes"] / 4


def test_msq_requires_build_and_exclusive_flags(spark, tmp_path):
    emb = spark.read.parquet(SF01)
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    d = str(tmp_path / "plain")
    ivf_build(emb, d, n_centroids=4, kmeans_iters=0)
    with pytest.raises(ValueError, match="without msq_bits"):
        ivf_query(spark, d, q, 5, use_msq=True).collect()
    with pytest.raises(ValueError, match="without sq"):
        ivf_query(spark, d, q, 5, use_sq=True).collect()
    with pytest.raises(ValueError, match="without sq"):
        ivf_query_batch(spark, d, [("q", q)], 5, use_sq=True).collect()
    with pytest.raises(ValueError, match="choose one"):
        ivf_query(spark, d, q, 5, use_msq=True, use_sq=True).collect()
    with pytest.raises(ValueError, match="cosine only"):
        ivf_query(spark, d, q, 5, use_msq=True, space="l2").collect()
