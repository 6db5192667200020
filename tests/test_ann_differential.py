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

The engine answers in-process when the driver can hold what a query
reads, and through Spark jobs otherwise. The transport axis checks that
both give bitwise the same rows, that a local call launches no Spark
job, the caller's read of its result included, that each reason to need Spark picks
Spark, and that threads sharing the driver caches get the serial
answers. ``LocalIvfSearcher``, the in-process transport's batch of one,
is checked against brute force directly, and with threads sharing one
searcher while a delete lands.
"""

from __future__ import annotations

import shutil
import sys
import threading
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from opensearch_jvector_spark.operators import similarity as sim
from opensearch_jvector_spark.operators.similarity import (
    LocalIvfSearcher,
    _LRUBytes,
    _np_exact_batch,
    _round6,
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


def _vectors():
    """(the seeded generator, the index's vectors, the permutation whose
    first 150 and next 6 positions are the two duplicate groups)."""
    rng = np.random.default_rng(SEED)
    X = rng.normal(size=(N, DIM))
    ids = rng.permutation(N)
    X[ids[:150]] = X[ids[0]]  # more copies than the first-pass budget
    X[ids[150:156]] = X[ids[150]]
    return rng, X, ids


@pytest.fixture(scope="module")
def data(spark, tmp_path_factory):
    rng, X, ids = _vectors()
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
def test_exact_scorer_ties_duplicates_bitwise(data, space):
    """Identical rows score bitwise-identically in every shape the
    engine scores in — dense (rows x queries) and (row, query) pairs —
    so duplicates tie and the vec_id tie-break decides: the searcher's
    full ranking holds each duplicate group's live copies side by side,
    lowest id first, with one score. A BLAS gemm blocks rows and can
    give identical rows different last bits."""
    d, deleted, _, queries, _ = data
    _, _, perm = _vectors()
    searcher = LocalIvfSearcher(d, space=space)
    for (_, q), group in zip(queries, (perm[:150], perm[150:156])):
        got, s = searcher.query(q, N, n_probe=N_CELLS)
        pos = np.flatnonzero(np.isin(got, group))
        assert got[pos].tolist() == sorted(set(group.tolist()) - deleted)
        assert np.array_equal(pos, np.arange(pos[0], pos[0] + len(pos)))
        assert (s[pos] == s[pos[0]]).all()
    rng = np.random.default_rng(SEED)
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


@pytest.mark.parametrize("flt", ["none", "small", "large"])
def test_searcher_matches_bruteforce(data, flt, spark_jobs):
    """``LocalIvfSearcher`` called directly with every cell probed and
    the filter as an id array: top-k and radial answers equal brute
    force in its tie order (ids, and scores after the engine's
    rounding), tombstones masked, with no Spark job."""
    d, _, filters, queries, _ = data
    allow = filters[flt]
    allow = None if allow is None else np.asarray(allow, dtype=np.int64)
    searcher = LocalIvfSearcher(d)

    def answers():
        out = []
        for qid, q in queries:
            truth = _truth(data, qid, flt)
            t, within = _radius(truth)
            for want, opts in ((truth[:K], {}), (within, {"min_score": t})):
                ids, s = searcher.query(q, K, n_probe=N_CELLS, allow=allow,
                                        **opts)
                out.append((qid, want, list(zip(ids.tolist(),
                                                _round6(s).tolist()))))
        return out

    got, jobs = spark_jobs(f"searcher-{flt}", answers)
    assert jobs == []
    for qid, want, rows in got:
        assert rows == want, qid


def test_threads_share_a_searcher_through_a_delete(data, tmp_path):
    """Four threads query one searcher while ``ivf_delete`` lands: every
    answer is the serial answer before or after the delete, and every
    query that starts after the delete returned misses the deleted
    ids."""
    d = str(tmp_path / "idx")
    shutil.copytree(data[0], d)
    queries = [np.asarray(q) for _, q in data[3]]
    searcher = LocalIvfSearcher(d)

    def ask(q):
        ids, s = searcher.query(q, K, n_probe=N_CELLS)
        return ids.tolist(), s.tolist()

    before = [ask(q) for q in queries]
    victims = sorted({i for ids, _ in before for i in ids[:2]})
    deleted, errors = threading.Event(), []
    seen = [[] for _ in range(4)]

    def worker(i):
        try:
            late = 0
            while late < 3 * len(queries):
                for j, q in enumerate(queries):
                    after = deleted.is_set()
                    seen[i].append((j, after, ask(q)))
                    late += after
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        while min(map(len, seen)) < 2 * len(queries) and not errors:
            time.sleep(1e-3)
        ivf_delete(d, victims)
        deleted.set()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    final = [ask(q) for q in queries]
    assert not {i for ids, _ in final for i in ids} & set(victims)
    for j, after, got in (x for per in seen for x in per):
        assert got == final[j] if after else got in (before[j], final[j])


# ------------------------------------------------------ transport axis


def _answers(spark, data, filter_ids):
    """Every quantizer's answer for every query, and the radial answer,
    through the public Spark-API paths; also the transports taken."""
    d, _, _, queries, _ = data
    opts = dict(filter_ids=filter_ids, filtered_exact_threshold=SMALL_MAX)
    out, transports = {}, set()
    for flag in BATCH:
        m = {}
        out[flag] = ivf_query_batch(
            spark, d, queries, K, n_probe=1, metrics=m, **opts,
            **({flag: True} if flag else {}),
        ).orderBy("query_id", "rank").collect()
        transports.add(m["transport"])
    for flag in ("use_bq", "use_msq"):
        m = {}
        out[flag] = ivf_query(
            spark, d, queries[0][1], K, n_probe=1, metrics=m, **opts,
            **{flag: True},
        ).collect()
        transports.add(m["transport"])
    t, _ = _radius(_truth(data, queries[2][0], "none"))
    out["radial"] = ivf_query_radial(
        spark, d, queries[2][1], n_probe=1, min_score=t, **opts
    ).collect()
    return out, transports


@pytest.mark.parametrize("flt", ["none", "small", "large"])
def test_transports_agree_bitwise(spark, data, flt, monkeypatch):
    """The in-process and the Spark transport give the same rows —
    ids, ranks and rounded scores bitwise — for every quantizer, with
    tombstones, one probed cell and the default first-pass budget (so
    the first pass really cuts). The large allow-list also goes in as a
    DataFrame, which only Spark can apply: its rows equal the local
    answer to the same ids as a list."""
    flt_ids = data[2][flt]
    local, how = _answers(spark, data, flt_ids)
    assert how == {"local"}
    # no probed cell fits the driver: every query takes Spark jobs
    monkeypatch.setattr(sim, "LOCAL_IVF_MAX_BYTES", 0)
    remote, how = _answers(spark, data, flt_ids)
    assert how == {"spark"}
    assert remote == local
    if flt == "large":
        monkeypatch.undo()
        ids = spark.createDataFrame([(i,) for i in flt_ids], "vec_id long")
        frame, how = _answers(spark, data, ids)
        assert how == {"spark"}
        assert frame == local


def test_local_batch_runs_no_spark_job(spark, data, spark_jobs):
    """A batch the driver can hold is answered with no Spark job, the
    caller's ``toPandas`` of the result included."""
    d, _, filters, queries, _ = data
    for flag, flt in ((None, "none"), ("use_pq", "large"), ("use_sq", "none")):
        m = {}
        pdf, jobs = spark_jobs(f"local-{flag}", lambda: ivf_query_batch(
            spark, d, queries, K, n_probe=1, filter_ids=filters[flt],
            filtered_exact_threshold=SMALL_MAX, metrics=m,
            **({flag: True} if flag else {}),
        ).toPandas())
        assert jobs == [] and m["transport"] == "local", (flag, jobs, m)
        assert "transport_reason" not in m
        assert len(pdf) == K * len(queries)
        if flag:  # the first pass keeps its footer accounting
            assert m["bytes_scanned"] > 0 < m["compression_ratio"], m


def test_each_fallback_reason_picks_spark(spark, data, monkeypatch):
    d, _, filters, queries, _ = data

    def reason(filter_ids=None, **kw):
        m = {}
        ivf_query_batch(spark, d, queries, K, n_probe=1, metrics=m,
                        filter_ids=filter_ids, **kw)
        assert m["transport"] == "spark", m
        return m["transport_reason"]

    ids = spark.createDataFrame([(i,) for i in filters["large"]],
                                "vec_id long")
    assert "DataFrame filter" in reason(ids, filtered_exact_threshold=SMALL_MAX)
    monkeypatch.setattr(sim, "_TOMB_ISIN_MAX", 1)
    sim._TOMB_CACHE.pop(d, None)
    try:
        assert "tombstones exceed" in reason()
        with pytest.raises(ValueError, match="tombstones exceed"):
            ivf_query_local(d, queries[0][1], K)
    finally:
        sim._TOMB_CACHE.pop(d, None)
    monkeypatch.undo()
    monkeypatch.setattr(sim, "LOCAL_IVF_MAX_BYTES", 1024)
    assert "vector bytes > max_bytes=1024" in reason()
    with pytest.raises(ValueError, match="max_bytes=16"):
        ivf_query_local(d, queries[0][1], K, max_bytes=16)


def test_threads_sharing_caches_get_serial_answers(
    spark, data, tmp_path, monkeypatch
):
    """Four threads each run quantized and exact batches against two
    indexes through one driver cache small enough that cells evict and
    reload while the others read them."""
    d, _, _, queries, _ = data
    d2 = str(tmp_path / "idx4")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in np.random.default_rng(i).normal(size=DIM)])
         for i in range(N)],
        "vec_id long, embedding array<double>",
    )
    ivf_build(emb, d2, n_centroids=4, kmeans_iters=1, pq_m=4, sq=True)

    def run():
        return [
            ivf_query_batch(spark, idx, queries, K, n_probe=2,
                            **({flag: True} if flag else {})).collect()
            for idx in (d, d2) for flag in BATCH
        ]

    serial = run()
    monkeypatch.setattr(sim, "_LOCAL_IVF_CACHE", _LRUBytes(64 << 10))
    got, errors = [None] * 4, []

    def worker(i):
        try:
            got[i] = run()
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert all(g == serial for g in got)


def test_round6_matches_spark_round_on_half_way_values(spark):
    """In-process results round like F.round(score, 6): HALF_UP on the
    decimal form, where np.round's binary half-even rounding differs."""
    rng = np.random.default_rng(SEED)
    half = [float(f"{m / 1e6:.6f}5") for m in rng.integers(0, 10**6, 1500)]
    xs = np.array(
        half + [-x for x in half[:500]]
        + [float(f"{m}.{f:06d}5") for m, f in zip(
            rng.integers(1, 10**5, 200), rng.integers(0, 10**6, 200))]
        + list(rng.normal(size=300))
        + [0.0, 1.0, -1.0, 1e-9, 2.5e12, 4e15 + 0.5, -3.7e20, 1e300]
    )
    want = [
        r["r"] for r in spark.createDataFrame(
            [(i, float(x)) for i, x in enumerate(xs)], "i int, x double"
        ).select("i", F.round("x", 6).alias("r")).orderBy("i").collect()
    ]
    assert _round6(xs).tolist() == want
    assert np.round(xs, 6).tolist() != want  # the case it exists for
