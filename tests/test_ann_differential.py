"""Seeded differential test of the ANN query surface.

One small random index with duplicated vectors (ties) and tombstones,
queried through every public path — ``ivf_query``, ``ivf_query_batch``
(batches of 1 and 5), ``ivf_query_radial`` and ``ivf_query_local`` —
with the first-pass quantizers each path takes and three filters: none,
small (the exact-filter fallback) and large (a mask inside the probe).

* Exact scoring with every cell probed, and a quantized first pass
  whose budget covers the index (the rerank is exact), equal
  ``topk_bruteforce``: ids in order — duplicates tie, so the lowest ids
  win — and rounded scores.
* At equal starved settings a query answers the same alone, as a batch
  of one and inside a batch of five, and every row it returns carries
  its brute-force score.

A Spark call costs about a second here, so the cross is thinned where
paths share code: the small filter's fallback ignores the quantizer,
and a single query is the batch of one of the same engine.
"""

from __future__ import annotations

import numpy as np
import pytest

from opensearch_jvector_spark.operators.similarity import (
    LocalIvfSearcher,
    _np_exact_batch,
    ivf_build,
    ivf_delete,
    ivf_query,
    ivf_query_batch,
    ivf_query_local,
    ivf_query_radial,
    topk_bruteforce,
)

SEED = 1
N, DIM, N_CELLS, K = 400, 8, 2, 10
SMALL_MAX = 20  # filtered_exact_threshold: 15 ids fall back, 200 do not
#: a budget of 10 * 40 = 400 candidates covers every row
FULL_OVERQUERY = 40
ALL = (None, "use_pq", "use_sq", "use_bq", "use_msq")
BATCH = (None, "use_pq", "use_sq")  # the flags ivf_query_batch takes
#: filter -> (ivf_query flags, batch-of-one flags, batch-of-five flags)
CROSS = {
    "none": (ALL, (None,), BATCH),
    "small": ((None, "use_bq"), (None,), ("use_sq",)),
    "large": (ALL, BATCH, (None, "use_pq")),
}


@pytest.fixture(scope="module")
def data(spark, tmp_path_factory):
    rng = np.random.default_rng(SEED)
    X = rng.normal(size=(N, DIM))
    ids = rng.permutation(N)
    X[ids[:150]] = X[ids[0]]  # more copies than the first-pass budget
    X[ids[150:156]] = X[ids[150]]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(N)],
        "vec_id long, embedding array<double>",
    )
    d = str(tmp_path_factory.mktemp("differential") / "idx")
    ivf_build(emb, d, n_centroids=N_CELLS, kmeans_iters=1, pq_m=4, sq=True,
              bq=True, msq_bits=2)
    deleted = sorted({int(ids[1]), int(ids[151]), *map(int, ids[300:308])})
    ivf_delete(d, deleted)
    allow = rng.permutation(N)
    filters = {
        "none": None,
        "small": sorted(int(x) for x in allow[:15]) + [deleted[0]],
        "large": sorted(int(x) for x in allow[:200]),
    }
    queries = [X[ids[0]], X[ids[150]], *rng.normal(size=(3, DIM))]
    queries = [(f"q{i}", [float(x) for x in q]) for i, q in enumerate(queries)]
    # one full brute-force ranking per query, filtered in python below
    rankings = {
        qid: [
            (r["vec_id"], r["cos"])
            for r in topk_bruteforce(emb, q, N, score_name="cos").collect()
        ]
        for qid, q in queries
    }
    return d, set(deleted), filters, queries, rankings


def _truth(data, qid, flt):
    _, deleted, filters, _, rankings = data
    allow = filters[flt]
    return [
        (v, s) for v, s in rankings[qid]
        if v not in deleted and (allow is None or v in allow)
    ]


def _radius(truth):
    """A score threshold ~15 rows deep, halfway across a real gap so no
    last-bit difference can move a row across it."""
    for i in range(min(12, len(truth) - 2), len(truth) - 1):
        if truth[i][1] - truth[i + 1][1] > 1e-5:
            return (truth[i][1] + truth[i + 1][1]) / 2, truth[: i + 1]
    return -1.0, truth


def _rows(df):
    return [(r["vec_id"], r["cos"]) for r in df.collect()]


def _batch(df, qids):
    rows = df.collect()
    out = {}
    for qid in qids:
        mine = sorted((r for r in rows if r["query_id"] == qid),
                      key=lambda r: r["rank"])
        assert [r["rank"] for r in mine] == list(range(1, len(mine) + 1))
        out[qid] = [(r["vec_id"], r["cos"]) for r in mine]
    return out


def _check_paths(spark, data, flt, n_probe, expect, **opts):
    """Every (path, flag) cell of ``CROSS[flt]`` plus the local path;
    ``expect(qid, rows)`` checks one query's answer, and with one flag
    a query must answer the same on every path."""
    d, _, filters, queries, _ = data
    opts.update(n_probe=n_probe, filter_ids=filters[flt],
                filtered_exact_threshold=SMALL_MAX)
    qid, q = queries[0]  # 149 live copies tie for every top-k slot
    singles, ones, fives = CROSS[flt]
    loc = ivf_query_local(d, q, K, n_probe=n_probe, filter_ids=filters[flt],
                          filtered_exact_threshold=SMALL_MAX)
    for flag in ALL:
        f = {flag: True} if flag else {}
        answers = [list(zip(loc["vec_id"], loc["cos"]))] if not flag else []
        if flag in singles:
            answers.append(_rows(ivf_query(spark, d, q, K, **opts, **f)))
        if flag in ones:
            answers.append(_batch(ivf_query_batch(
                spark, d, [(qid, q)], K, **opts, **f), [qid])[qid])
        if flag in fives:
            five = _batch(ivf_query_batch(spark, d, queries, K, **opts, **f),
                          [i for i, _ in queries])
            answers.append(five.pop(qid))
            for i, got in five.items():
                expect(i, got)
        if answers:
            expect(qid, answers[0])
            assert all(a == answers[0] for a in answers), (flag, answers)


@pytest.mark.parametrize("flt", ["none", "small"])
def test_all_cells_match_bruteforce(spark, data, flt):
    def expect(qid, got):
        assert got == _truth(data, qid, flt)[:K], qid

    _check_paths(spark, data, flt, N_CELLS, expect,
                 overquery=FULL_OVERQUERY)
    d, _, filters, queries, _ = data
    qid, q = queries[2]
    t, want = _radius(_truth(data, qid, flt))
    opts = dict(n_probe=N_CELLS, min_score=t, filter_ids=filters[flt],
                filtered_exact_threshold=SMALL_MAX)
    assert _rows(ivf_query_radial(spark, d, q, **opts)) == want
    loc = ivf_query_local(d, q, K, **opts)
    assert list(zip(loc["vec_id"], loc["cos"])) == want


def test_starved_probe_paths_agree(spark, data):
    """One probed cell, the large filter and the default budget: the
    answers are approximate, but every path gives the same one, each
    row with its brute-force score, best first."""
    def expect(qid, got):
        truth = dict(_truth(data, qid, "large"))
        assert len(got) == K, qid
        assert all(truth[v] == s for v, s in got), qid
        assert got == sorted(got, key=lambda r: (-r[1], r[0])), qid

    _check_paths(spark, data, "large", 1, expect)


def test_batch_first_pass_cut_is_tie_safe(spark, data):
    """149 live copies of the query tie in the PQ first pass, more than
    its 100-candidate budget: the per-batch cut must keep every tied
    copy so the global (proxy desc, vec_id asc) budget keeps the lowest
    ids, which the exact rerank then ranks like brute force."""
    d, _, _, queries, _ = data
    qid, q = queries[0]
    got = _batch(ivf_query_batch(spark, d, [(qid, q)], K, n_probe=N_CELLS,
                                 use_pq=True, overquery=1), [qid])
    assert got[qid] == _truth(data, qid, "none")[:K]


@pytest.mark.parametrize("space", ["cosine", "l2", "innerproduct"])
def test_exact_scorer_ties_duplicates_bitwise(space):
    """Identical rows score bitwise-identically in every shape the
    engine scores in — dense (rows x queries), (row, query) pairs and
    the local searcher's single query — so duplicates tie and the
    vec_id tie-break decides. A BLAS gemm blocks rows and can give
    identical rows different last bits."""
    rng = np.random.default_rng(SEED)
    local = LocalIvfSearcher.__new__(LocalIvfSearcher)
    local.space = space
    for dim in (8, 17, 32, 128):
        for b in (50, 301, 1000):
            v = rng.normal(size=dim)
            M = np.tile(v, (b, 1))
            M[::3] = rng.normal(size=(len(M[::3]), dim))
            Q = rng.normal(size=(5, dim))
            Q[0] = v
            norms, qn = np.linalg.norm(M, axis=1), np.linalg.norm(Q, axis=1)
            S = _np_exact_batch(M, norms, Q, qn, space)
            dup = S[np.all(M == v, axis=1)]
            assert (dup == dup[0]).all(), (dim, b)
            r, c = np.nonzero(np.ones(S.shape, dtype=bool))
            paired = _np_exact_batch(M, norms, Q, qn, space, pairs=(r, c))
            assert np.array_equal(paired.reshape(S.shape), S), (dim, b)
            for j, q in enumerate(Q):
                one = local._score_cell(M, norms, {}, q, qn[j] or 1.0,
                                        float((q * q).sum()))
                assert np.array_equal(one, S[:, j]), (dim, b, j)
