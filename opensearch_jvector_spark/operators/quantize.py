"""Product quantization (PQ) for the embedding ANN index.

The reference's defining mechanism: vectors are compressed into M
per-subspace codebook indices at index-build time and searches score
the COMPRESSED codes first, then rerank the best candidates against
the full-precision vectors (JVectorWriter.getPQVectors,
JVectorWriter.java:381-414; subspace sizing JVectorFormat.java:147-178;
the rerank path JVectorReader.java:131-212; quantized recall tests
KNNJVectorTests.java:1060-1233).

Spark-first shape:
  * codebooks train DRIVER-SIDE on a deterministic bounded sample
    (parquet min/max pushdown prunes the sample read — never a corpus
    scan), exactly like the reference trains PQ on a training subset;
  * encoding is one vectorized pandas-UDF pass at ivf_build time —
    codes are stored NEXT TO the full vectors in the cell-partitioned
    index, so the approximate pass reads only the tiny ``code`` +
    ``norm`` columns (parquet column pruning: at dim 768 float64 a
    vector is 6 KB, an M=8 code is 8 bytes — ~700x fewer bytes through
    the scan);
  * queries build an ADC (asymmetric distance computation) lookup
    table driver-side — M x n_codes partial dot products — broadcast
    it, score codes with one numpy gather+sum per batch, keep the top
    k*overquery candidates, and rerank ONLY those against the full
    vectors (a second pruned read with a vec_id pushdown filter).

Everything is float64 numpy; codebooks are deterministic functions of
(sample, m, n_codes, iters, seed), so rebuilds are idempotent.
"""

from __future__ import annotations

import json
import os

import numpy as np


def _kmeans_1d(X: np.ndarray, n_codes: int, iters: int) -> np.ndarray:
    """Plain Lloyd k-means for one subspace, deterministic init: the
    first ``n_codes`` DISTINCT sample rows (mirrors the reference's
    deterministic codebook training for reproducible indexes). Empty
    clusters keep their previous centroid."""
    uniq, idx = np.unique(X, axis=0, return_index=True)
    order = np.sort(idx)[: min(n_codes, len(idx))]
    C = X[order].copy()
    if len(C) < n_codes:  # degenerate sample: pad by repeating
        C = np.vstack([C] * (n_codes // len(C) + 1))[:n_codes]
    for _ in range(iters):
        # (n, k) squared distances, argmin with first-index tie-break
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def pq_train(
    sample: np.ndarray, m: int = 8, n_codes: int = 16, iters: int = 8
) -> np.ndarray:
    """Train per-subspace codebooks on a sample matrix (n, dim) ->
    (m, n_codes, dim/m). dim must divide evenly into m subspaces
    (the reference computes the subspace count from dims the same way,
    JVectorFormat.java:147-178)."""
    n, dim = sample.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    dsub = dim // m
    return np.stack(
        [
            _kmeans_1d(
                np.ascontiguousarray(sample[:, j * dsub : (j + 1) * dsub]),
                n_codes,
                iters,
            )
            for j in range(m)
        ]
    )


def pq_encode(M: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Encode a batch (b, dim) -> uint8 codes (b, m)."""
    m, n_codes, dsub = codebooks.shape
    out = np.empty((M.shape[0], m), dtype=np.uint8)
    for j in range(m):
        sub = M[:, j * dsub : (j + 1) * dsub]
        d2 = ((sub[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(axis=2)
        out[:, j] = np.argmin(d2, axis=1).astype(np.uint8)
    return out


def adc_table(qv: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """ADC lookup table (m, n_codes): partial dot products of the query
    against every codebook centroid. approx_dot(code) =
    sum_j T[j, code[j]] — one gather+sum per vector, no per-dim work."""
    m, n_codes, dsub = codebooks.shape
    return np.einsum(
        "mkd,md->mk", codebooks, qv.reshape(m, dsub)
    )


def adc_scores(codes: np.ndarray, T: np.ndarray) -> np.ndarray:
    """Approximate dot products (b, nq) of uint8 codes (b, m) against a
    stack of ADC tables (nq, m, n_codes) — one flat gather for every
    query."""
    nq, m, n_codes = T.shape
    flat = (np.arange(m) * n_codes + codes.astype(np.int64)).ravel()
    return (
        T.reshape(nq, m * n_codes)[:, flat]
        .reshape(nq, len(codes), m)
        .sum(axis=2)
        .T
    )


# ---- int8 scalar quantization (C3 analog) ----
# Reference: the quantization package's scalar quantizers binarize /
# bit-pack vectors against trained thresholds
# (quantization/quantizer/OneBitScalarQuantizer.java:25-88,
# MultiBitScalarQuantizer.java, BitPacker.java). The int8 variant keeps
# one scale per vector (max-abs / 127): 8x fewer vector bytes through
# the approximate scan, exact rerank restores full precision — same
# two-pass shape as PQ with zero training state.

def sq_encode(M: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(codes int8 (b, d), scales float64 (b,)): per-vector max-abs
    scaling. Zero vectors get scale 0 (codes all zero)."""
    scales = np.abs(M).max(axis=1) / 127.0
    safe = np.where(scales == 0, 1.0, scales)
    codes = np.clip(np.rint(M / safe[:, None]), -127, 127).astype(np.int8)
    return codes, scales


def sq_scores(
    codes: np.ndarray, scales: np.ndarray, Qs: np.ndarray
) -> np.ndarray:
    """Approximate dot products (b, nq): (int8 codes . q) * scale for
    every query row of ``Qs``, float64 accumulate. einsum, not a BLAS
    gemm, so identical codes always get identical scores."""
    dots = np.einsum("ij,kj->ik", codes.astype(np.float64), Qs)
    return dots * scales[:, None]


# ---- 1-bit binary quantization (OneBitScalarQuantizer analog) ----
# Reference: OneBitScalarQuantizer.java:25-88 trains per-dimension mean
# thresholds and bit-packs each vector to sign bits (BitPacker.java);
# search ranks candidates by hamming distance between the packed query
# and doc bits (KNNScoringUtil.calculateHammingBit:179-202), then
# reranks survivors at full precision. 64x fewer vector bytes than the
# stored float64 (8x beyond int8 SQ) — the most aggressive point on the
# reference's compression curve.

_POPCNT = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)


def bq_train(sample: np.ndarray) -> np.ndarray:
    """Per-dimension mean thresholds (d,) — the OneBit quantizer's
    trained cut points (meanThresholds, OneBitScalarQuantizer.java:
    62-88)."""
    return sample.mean(axis=0)


def bq_encode(M: np.ndarray, thresholds: np.ndarray) -> np.ndarray:
    """(b, ceil(d/8)) uint8 packed sign bits of (M > thresholds)."""
    if M.shape[1] != len(thresholds):
        raise ValueError(
            f"dim {M.shape[1]} != thresholds dim {len(thresholds)}"
        )
    return np.packbits(M > thresholds[None, :], axis=1)


def bq_hamming(codes: np.ndarray, qcode: np.ndarray) -> np.ndarray:
    """Hamming distances (b,) between packed code rows and the packed
    query: XOR + byte-popcount LUT, no unpacking."""
    return _POPCNT[np.bitwise_xor(codes, qcode[None, :])].sum(axis=1)


def save_bq(index_dir: str, thresholds: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(index_dir, "bq")
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.table({"dim": np.arange(len(thresholds)),
                  "threshold": thresholds}),
        os.path.join(d, "thresholds.parquet"),
    )


def load_bq(index_dir: str) -> np.ndarray | None:
    import pyarrow.parquet as pq

    p = os.path.join(index_dir, "bq", "thresholds.parquet")
    if not os.path.exists(p):
        return None
    t = pq.read_table(p)
    th = np.asarray(t["threshold"].to_pylist(), dtype=np.float64)
    return th[np.argsort(t["dim"].to_numpy())]


# ---- multi-bit scalar quantization (MultiBitScalarQuantizer analog) --
# Reference: quantization/quantizer/MultiBitScalarQuantizer.java trains
# b threshold PLANES per dimension at mean + iCoef*stddev with
# iCoef = -1 + 2*(i+1)/(b+1) (calculateThresholds, lines ~150-168;
# 2-bit -> {-1/3, +1/3} sigma, 4-bit -> {-3/5,-1/5,+1/5,+3/5} sigma),
# bit-packs each plane (BitPacker.quantizeAndPackBits), and ranks by
# hamming over ALL planes' bits. This fills the compression points
# between 1-bit BQ (32x) and int8 SQ: 2-bit = 16x, 4-bit = 8x
# (index/mapper/CompressionLevel.java:24-31). Same two-pass shape:
# hamming first pass, exact rerank.

def msq_train(sample: np.ndarray, bits: int) -> np.ndarray:
    """(bits, d) threshold planes: plane i cuts at
    mean + (-1 + 2*(i+1)/(bits+1)) * stddev per dimension — the
    reference's equal-probability-region linear combination
    (MultiBitScalarQuantizer.calculateThresholds)."""
    if bits < 2:
        raise ValueError(
            "bits must be >= 2 for the multi-bit quantizer (1-bit is "
            "bq_train's mean-threshold quantizer)"
        )
    mean = sample.mean(axis=0)
    std = sample.std(axis=0)
    coef = float(bits + 1)
    return np.stack(
        [mean + (-1.0 + 2.0 * (i + 1) / coef) * std for i in range(bits)]
    )


def msq_encode(M: np.ndarray, thresholds: np.ndarray) -> np.ndarray:
    """(b, bits*ceil(d/8)) uint8: per-plane packed sign bits,
    planes concatenated in order (BitPacker packs plane-major)."""
    if M.shape[1] != thresholds.shape[1]:
        raise ValueError(
            f"dim {M.shape[1]} != thresholds dim {thresholds.shape[1]}"
        )
    return np.concatenate(
        [np.packbits(M > t[None, :], axis=1) for t in thresholds], axis=1
    )


def msq_hamming(codes: np.ndarray, qcode: np.ndarray) -> np.ndarray:
    """Hamming over the concatenated planes — same XOR+popcount-LUT
    kernel as the 1-bit path (codes are just wider)."""
    return bq_hamming(codes, qcode)


def save_msq(index_dir: str, thresholds: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    bits, dim = thresholds.shape
    d = os.path.join(index_dir, "msq")
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "plane": np.repeat(np.arange(bits), dim),
                "dim": np.tile(np.arange(dim), bits),
                "threshold": thresholds.reshape(-1),
            }
        ),
        os.path.join(d, "thresholds.parquet"),
    )
    meta = os.path.join(d, "meta.json")
    with open(meta + ".tmp", "w") as f:
        json.dump({"bits": int(bits), "dim": int(dim)}, f)
    os.replace(meta + ".tmp", meta)


def load_msq(index_dir: str) -> np.ndarray | None:
    import pyarrow.parquet as pq

    meta_path = os.path.join(index_dir, "msq", "meta.json")
    if not os.path.exists(meta_path):
        return None
    with open(meta_path) as f:
        meta = json.load(f)
    t = pq.read_table(os.path.join(index_dir, "msq", "thresholds.parquet"))
    th = np.asarray(t["threshold"].to_pylist(), dtype=np.float64)
    order = np.lexsort((t["dim"].to_numpy(), t["plane"].to_numpy()))
    return th[order].reshape(meta["bits"], meta["dim"])


# ---- persisted codebooks (live inside the IVF index dir) ----

def save_codebooks(index_dir: str, codebooks: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    m, n_codes, dsub = codebooks.shape
    t = pa.table(
        {
            "sub": np.repeat(np.arange(m), n_codes),
            "code": np.tile(np.arange(n_codes), m),
            "centroid": list(codebooks.reshape(m * n_codes, dsub)),
        }
    )
    d = os.path.join(index_dir, "pq")
    os.makedirs(d, exist_ok=True)
    pq.write_table(t, os.path.join(d, "codebooks.parquet"))
    meta = os.path.join(d, "meta.json")
    with open(meta + ".tmp", "w") as f:
        json.dump({"m": int(m), "n_codes": int(n_codes), "dsub": int(dsub)}, f)
    os.replace(meta + ".tmp", meta)


def load_codebooks(index_dir: str) -> np.ndarray | None:
    import pyarrow.parquet as pq

    meta_path = os.path.join(index_dir, "pq", "meta.json")
    if not os.path.exists(meta_path):
        return None
    with open(meta_path) as f:
        meta = json.load(f)
    t = pq.read_table(os.path.join(index_dir, "pq", "codebooks.parquet"))
    flat = np.array(t["centroid"].to_pylist(), dtype=np.float64)
    order = np.lexsort((t["code"].to_numpy(), t["sub"].to_numpy()))
    return flat[order].reshape(meta["m"], meta["n_codes"], meta["dsub"])
