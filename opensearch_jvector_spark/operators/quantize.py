"""First-pass quantizers for the embedding ANN index: kernels, persisted
trained state, and ``QUANTIZERS``, the registry with one entry each:

  * ``pq``  product quantization: M per-subspace codebook indices,
    scored by ADC lookup tables (JVectorWriter.getPQVectors,
    JVectorWriter.java:381-414; subspace sizing JVectorFormat.java:
    147-178);
  * ``sq``  int8 scalar quantization, one max-abs scale per vector, no
    trained state;
  * ``bq``  1-bit codes against per-dimension mean thresholds, ranked by
    hamming distance (OneBitScalarQuantizer.java:25-88);
  * ``msq`` b threshold planes per dimension, hamming over every plane
    (MultiBitScalarQuantizer.java).

An entry holds a quantizer's whole contract: the ``ivf_build`` option
that turns it on, its cell code columns and the columns its first pass
reads, the spaces it supports, train (from the one shared build
sample), encode, save/load of the trained state, the per-query operand
and the first-pass proxy. ``ivf_build`` trains and encodes, ``ivf_append``
loads and encodes (codebook reuse on merge, JVectorWriter.java:886-913),
and queries score the small code columns first, then rerank survivors
against full vectors (JVectorReader.java:131-212). Everything is float64
numpy; trained states are deterministic functions of the sample.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable

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
    _save_state(index_dir, thresholds, *_BQ_FILE)


def load_bq(index_dir: str) -> np.ndarray | None:
    return _load_state(index_dir, *_BQ_FILE)


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
    _save_state(index_dir, thresholds, *_MSQ_FILE)


def load_msq(index_dir: str) -> np.ndarray | None:
    return _load_state(index_dir, *_MSQ_FILE)


# ---- persisted trained states (live inside the IVF index dir) ----
# One parquet row per index of a state's leading axes, the value column
# holding a scalar or the trailing axis as a list; meta.json keeps the
# shape where the rows alone cannot give it. (subdir, file, index
# columns, value column, meta keys):
_PQ_FILE = ("pq", "codebooks.parquet", ("sub", "code"), "centroid",
            ("m", "n_codes", "dsub"))
_BQ_FILE = ("bq", "thresholds.parquet", ("dim",), "threshold", ())
_MSQ_FILE = ("msq", "thresholds.parquet", ("plane", "dim"), "threshold",
             ("bits", "dim"))


def _save_state(index_dir, state, sub, fname, axes, value, meta) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    lead = state.shape[: len(axes)]
    cols = dict(zip(axes, np.indices(lead).reshape(len(axes), -1)))
    cols[value] = (
        list(state.reshape(int(np.prod(lead)), -1))
        if state.ndim > len(axes) else state.reshape(-1)
    )
    d = os.path.join(index_dir, sub)
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(d, fname))
    if meta:
        path = os.path.join(d, "meta.json")
        with open(path + ".tmp", "w") as f:
            json.dump({k: int(n) for k, n in zip(meta, state.shape)}, f)
        os.replace(path + ".tmp", path)


def _load_state(index_dir, sub, fname, axes, value, meta):
    import pyarrow.parquet as pq

    d = os.path.join(index_dir, sub)
    if not os.path.exists(os.path.join(d, "meta.json" if meta else fname)):
        return None
    t = pq.read_table(os.path.join(d, fname))
    vals = np.array(t[value].to_pylist(), dtype=np.float64)
    vals = vals[np.lexsort([t[a].to_numpy() for a in reversed(axes)])]
    if not meta:
        return vals
    with open(os.path.join(d, "meta.json")) as f:
        shape = json.load(f)
    return vals.reshape([shape[k] for k in meta])


def save_codebooks(index_dir: str, codebooks: np.ndarray) -> None:
    _save_state(index_dir, codebooks, *_PQ_FILE)


def load_codebooks(index_dir: str) -> np.ndarray | None:
    return _load_state(index_dir, *_PQ_FILE)


# ---- first-pass proxies ----

#: spaces whose candidate ranking a dot-product-based quantized proxy
#: can reproduce (cosine/l2 via norm correction, ip directly); l1/linf
#: distances are not functions of dots, so quantized passes reject them
QUANTIZABLE_SPACES = ("cosine", "l2", "innerproduct")


def proxy_from_dots(
    dots: np.ndarray, norms: np.ndarray, qn, space: str
) -> np.ndarray:
    """Candidate-ranking proxy from approximate dot products. The proxy
    must be MONOTONE in the exact score per space, else genuine top-k
    members get pruned before the rerank can recover them:
      cosine: dot / (|v| |q|);
      l2:     2*dot - |v|^2 (== -|v-q|^2 + const; raw dot is NOT
              monotone in l2 when vector norms vary — a far large-norm
              vector would outrank a true neighbor, round-3 ADVICE);
      ip:     dot (the SpaceType ip translation is increasing in dot).
    ``norms`` and ``qn`` broadcast against ``dots`` (rows x queries)."""
    if space == "cosine":
        return dots / (
            np.where(norms == 0, 1.0, norms) * np.where(qn == 0, 1.0, qn)
        )
    if space == "l2":
        return 2.0 * dots - norms**2
    if space == "innerproduct":
        return dots
    raise ValueError(f"no quantized proxy for space {space!r}")


def _rows(codes: np.ndarray) -> list:
    return [c.tobytes() for c in codes]


def _dot_proxy(cols, dots: np.ndarray, qn: np.ndarray, space: str):
    return proxy_from_dots(dots, cols["norm"][:, None], qn[None, :], space)


def _pq_proxy(cols, T, qn, space):
    return _dot_proxy(cols, adc_scores(cols["code"], T), qn, space)


def _sq_proxy(cols, Qs, qn, space):
    dots = sq_scores(cols["sq_code"].view(np.int8), cols["sq_scale"], Qs)
    return _dot_proxy(cols, dots, qn, space)


def _hamming_proxy(codes: np.ndarray, qcodes: np.ndarray) -> np.ndarray:
    # fewer differing threshold bits = closer angle; negated for the
    # shared desc ranking (the exact rerank restores true order)
    return -np.stack(
        [bq_hamming(codes, qc) for qc in qcodes], axis=1
    ).astype(np.float64)


def _sq_encode_cols(M, _state) -> dict:
    codes, scales = sq_encode(M)
    return {"sq_code": _rows(codes), "sq_scale": scales}


# ---- the registry ----

@dataclass(frozen=True)
class Quantizer:
    """One quantizer's whole on-disk and query contract.

    ``encode(M, state)`` maps a (b, d) vector matrix to its cell code
    columns; ``operand(state, Q)`` is the driver-side per-query operand
    (row i for query i); ``proxy(cols, operand_rows, qnorms, space)``
    is the (rows, queries) first-pass ranking proxy, higher = closer,
    identical codes always scoring identically. ``cols`` maps each
    ``scan`` column to numpy: doubles as float64, a binary code column
    as its (rows, width) uint8 matrix — the one form both transports
    decode to. ``train``, ``save`` and ``load`` are None for a
    quantizer without trained state (SQ)."""

    name: str
    option: str  # the ivf_build option that turns it on
    columns: str  # DDL of the code columns stored in every cell
    scan: str  # DDL of the columns its first pass reads
    spaces: tuple
    encode: Callable
    operand: Callable
    proxy: Callable
    train: Callable | None = None  # (sample, ivf_build options) -> state
    save: Callable | None = None
    load: Callable | None = None
    state_name: str = ""  # what ``load`` reads, for error messages

    @property
    def column_names(self) -> tuple:
        return tuple(c.split()[0] for c in self.columns.split(", "))

    @property
    def scan_names(self) -> tuple:
        return tuple(c.split()[0] for c in self.scan.split(", "))


#: registry order is the v1 cell column order:
#: (vec_id, v, norm [,code][,sq_code, sq_scale][,bq_code][,msq_code])
QUANTIZERS = {
    q.name: q
    for q in (
        Quantizer(
            "pq", "pq_m", "code binary", "norm double, code binary",
            QUANTIZABLE_SPACES,
            encode=lambda M, cb: {"code": _rows(pq_encode(M, cb))},
            operand=lambda cb, Q: np.stack([adc_table(q, cb) for q in Q]),
            proxy=_pq_proxy,
            train=lambda s, o: pq_train(
                s, m=o["pq_m"], n_codes=o["pq_codes"]
            ),
            save=save_codebooks, load=load_codebooks,
            state_name="pq codebooks",
        ),
        Quantizer(
            "sq", "sq", "sq_code binary, sq_scale double",
            "norm double, sq_code binary, sq_scale double",
            QUANTIZABLE_SPACES,
            encode=_sq_encode_cols,
            operand=lambda _, Q: Q,
            proxy=_sq_proxy,
        ),
        Quantizer(
            "bq", "bq", "bq_code binary", "bq_code binary", ("cosine",),
            encode=lambda M, th: {"bq_code": _rows(bq_encode(M, th))},
            operand=lambda th, Q: bq_encode(Q, th),
            proxy=lambda cols, qc, qn, space: _hamming_proxy(
                cols["bq_code"], qc
            ),
            train=lambda s, o: bq_train(s),
            save=save_bq, load=load_bq, state_name="bq thresholds",
        ),
        Quantizer(
            "msq", "msq_bits", "msq_code binary", "msq_code binary",
            ("cosine",),
            encode=lambda M, th: {"msq_code": _rows(msq_encode(M, th))},
            operand=lambda th, Q: msq_encode(Q, th),
            proxy=lambda cols, qc, qn, space: _hamming_proxy(
                cols["msq_code"], qc
            ),
            train=lambda s, o: msq_train(s, o["msq_bits"]),
            save=save_msq, load=load_msq, state_name="msq threshold planes",
        ),
    )
}
