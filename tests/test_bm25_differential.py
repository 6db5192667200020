"""Randomized differential check of the BM25 engine (ROADMAP D1, BM25 side).

Seeded random corpora with duplicated documents (so scores tie
exactly), random queries with k in {1, 10, 100}, terms missing from the
dictionary and radial ``min_score``. After build, append, delete,
compaction and fold, every query runs through both transports of
``bm25_topk_batch``: the driver one (warmed store, no Spark job, the
caller's ``toPandas`` included) and the Spark one (forced by capping
``driver_topk_max_postings`` at 0). The two must return bitwise-equal
rows, and both must be rank-identical to ``bm25_topk_bruteforce`` over
the live corpus. Filtered batches (a small and a large doc-id
allow-list DataFrame) are checked against the same oracle.

Also here: the zero-row results keep the exact result schema, and the
driver's batch decode refuses corrupt posting rows.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from opensearch_jvector_spark.config import EngineConfig
from opensearch_jvector_spark.functions.codec import decode_blocks, encode_blocks
from opensearch_jvector_spark.operators.bruteforce import bm25_topk_bruteforce
from opensearch_jvector_spark.operators.delete import compact_deletes, delete_docs
from opensearch_jvector_spark.operators.merge import fold_deltas
from opensearch_jvector_spark.operators.segment_build import build_index
from opensearch_jvector_spark.operators.similarity import (
    ivf_build,
    ivf_query_radial,
)
from opensearch_jvector_spark.operators.wand import (
    _decode_batch,
    bm25_radial,
    bm25_topk,
    bm25_topk_batch,
)
from opensearch_jvector_spark.plans.query import Query
from opensearch_jvector_spark.sources.index_store import IndexStore
from opensearch_jvector_spark.streaming.incremental import append_index

CFG = EngineConfig(
    block_size=4,
    docs_per_segment=32,
    segments_per_chunk=2,
    term_buckets=4,
    max_row_postings=16,
)
VOCAB = [f"t{i:02d}" for i in range(40)]
ABSENT = "zzabsent"
RANKED = "query_id string, doc_id long, score double, rank int"


def _texts(rng, n: int, pool: list[str]) -> list[str]:
    """n Zipf-ish random docs; a quarter of them copy a doc of ``pool``
    (or of this batch), so whole groups of docs score identically."""
    p = 1.0 / np.arange(1, len(VOCAB) + 1) ** 1.1
    out = [
        " ".join(rng.choice(VOCAB, size=int(rng.integers(1, 13)), p=p / p.sum()))
        for _ in range(n)
    ]
    src = pool + out
    for i in rng.choice(n, n // 4, replace=False):
        out[i] = src[int(rng.integers(len(src)))]
    return out


def _queries(rng, n: int) -> list[Query]:
    qs = []
    for i in range(n):
        terms = tuple(rng.choice(VOCAB, size=int(rng.integers(1, 5)), replace=False))
        if i % 5 == 4:
            terms += (ABSENT,)
        if i % 4 == 3:
            qs.append(Query(f"q{i}", terms, k=None, min_score=float(rng.uniform(1, 7))))
        else:
            qs.append(Query(f"q{i}", terms, k=(1, 10, 100)[i % 4]))
    return qs + [Query("absent", (ABSENT,), 10)]


def _rows(df) -> list[tuple]:
    pdf = df.toPandas()
    return sorted(zip(pdf["query_id"], pdf["doc_id"], pdf["score"], pdf["rank"]))


def _capped(monkeypatch):
    """Force the Spark transport: no batch fits the driver cap."""
    real = IndexStore.read_stats

    def read_stats(self):
        stats, config = real(self)
        return stats, dataclasses.replace(config, driver_topk_max_postings=0)

    monkeypatch.setattr(IndexStore, "read_stats", read_stats)


def _canon(pairs) -> list[tuple]:
    """(doc, score) ordered by score rounded to 1e-9, then doc: the
    oracle's float sums may differ from the engine's by an ulp."""
    return sorted((round(s, 9), d) for d, s in pairs)


def _oracle(spark, docs: pd.DataFrame, queries) -> dict[str, list]:
    """Every matching (doc, score) per query, from
    ``bm25_topk_bruteforce`` over the whole corpus (full-corpus stats)."""
    frame = spark.createDataFrame(docs).coalesce(1).persist()
    out = {
        q.query_id: [
            (r.doc_id, r.score)
            for r in bm25_topk_bruteforce(frame, list(q.terms), len(docs)).collect()
        ]
        for q in queries
    }
    frame.unpersist()
    return out


def _check_oracle(oracle, hidden, queries, rows):
    """``rows`` rank-identical to the oracle's, minus ``hidden`` docs
    (deleted, or outside an allow-list)."""
    got: dict[str, list] = {q.query_id: [] for q in queries}
    for qid, d, s, _ in rows:
        got[qid].append((d, s))
    for q in queries:
        want = [(d, s) for d, s in oracle[q.query_id] if d not in hidden]
        want = sorted(_canon(want), key=lambda x: (-x[0], x[1]))
        if q.k is not None:
            want = want[: q.k]
        else:
            want = [x for x in want if x[0] >= q.min_score]
        have = sorted(_canon(got[q.query_id]), key=lambda x: (-x[0], x[1]))
        assert [d for _, d in have] == [d for _, d in want], q
        assert np.allclose([s for s, _ in have], [s for s, _ in want], atol=1e-9), q


@pytest.mark.parametrize("seed", [3])
def test_transports_match_bruteforce_through_writes(
    spark, tmp_path, monkeypatch, spark_jobs, seed
):
    rng = np.random.default_rng(seed)
    base = _texts(rng, 240, [])
    added = _texts(rng, 90, base)
    store = IndexStore(str(tmp_path / "idx"))
    docs = pd.DataFrame({"doc_id": np.arange(len(base)), "text": base})
    build_index(spark, spark.createDataFrame(docs), store.root, CFG)
    queries = _queries(rng, 12)
    deleted: set[int] = set()

    single = queries[1]  # k=10
    frng = np.random.default_rng([seed, 1])  # allow-lists

    def check(stage, oracle):
        store.warm(spark)
        (driver, one, none), jobs = spark_jobs(f"bm25-{stage}", lambda: (
            _rows(bm25_topk_batch(spark, store, queries)),
            bm25_topk(spark, store, list(single.terms), single.k).toPandas(),
            bm25_topk(spark, store, [ABSENT], 10).toPandas(),
        ))
        assert jobs == [], stage
        assert none.empty and list(none.columns) == ["doc_id", "score", "rank"]
        _check_oracle(oracle, deleted, [single], [
            (single.query_id, d, s, r)
            for d, s, r in zip(one["doc_id"], one["score"], one["rank"])
        ])
        with monkeypatch.context() as mp:
            _capped(mp)
            assert _rows(bm25_topk_batch(spark, store, queries)) == driver, stage
        _check_oracle(oracle, deleted, queries, driver)
        ids = docs["doc_id"].to_numpy()
        for n in (8, len(ids) * 3 // 5):  # a small and a large allow-list
            allow = set(frng.choice(ids, n, replace=False).tolist())
            flt = spark.createDataFrame(pd.DataFrame({"doc_id": sorted(allow)}))
            rows = _rows(bm25_topk_batch(spark, store, queries, filter_docs=flt))
            _check_oracle(oracle, deleted | (set(ids.tolist()) - allow), queries, rows)

    check("build", _oracle(spark, docs, queries))
    first = (len(base) - 1) // CFG.docs_per_chunk * CFG.docs_per_chunk + CFG.docs_per_chunk
    append_index(spark, store, spark.createDataFrame(pd.DataFrame({
        "conv_id": [f"c{i:04d}" for i in range(len(added))],
        "turn_idx": np.zeros(len(added), dtype=np.int32),
        "text": added,
    })), batch_tag="add")
    docs = pd.concat([docs, pd.DataFrame({
        "doc_id": first + np.arange(len(added)), "text": added,
    })], ignore_index=True)
    oracle = _oracle(spark, docs, queries)  # deletes keep the stats
    check("append", oracle)
    # a seeded share of docs, duplicates among them, across every chunk
    deleted = set(rng.choice(docs["doc_id"].to_numpy(), 40, replace=False).tolist())
    delete_docs(spark, store, sorted(deleted), batch_tag="del")
    check("delete", oracle)
    # compaction drops the deleted docs from the corpus stats too
    compact_deletes(spark, store, spark.createDataFrame(docs))
    oracle = _oracle(spark, docs[~docs["doc_id"].isin(deleted)], queries)
    check("compact", oracle)
    fold_deltas(spark, store)
    check("fold", oracle)


@pytest.fixture(scope="module")
def small(spark, tmp_path_factory):
    """A warmed ranged build over round-robin partitions: a term's
    slices within a chunk interleave their doc ranges."""
    rng = np.random.default_rng(5)
    root = str(tmp_path_factory.mktemp("bm25small") / "idx")
    docs = pd.DataFrame({"doc_id": np.arange(150), "text": _texts(rng, 150, [])})
    frame = spark.createDataFrame(docs).repartition(7)
    build_index(spark, frame, root, CFG, layout="ranged")
    return IndexStore(root).warm(spark), docs


def test_warm_batch_on_ranged_layout(spark, small, spark_jobs, monkeypatch):
    """A warmed batch is answered on the driver with no Spark job, the
    caller's read of the result included, bitwise-equal to the Spark
    transport and rank-identical to brute force."""
    store, docs = small
    qs = [Query(f"q{i}", tuple(VOCAB[i:i + 12:4]), 1 + i % 3 * 4) for i in range(8)]
    rows, jobs = spark_jobs("bm25-warm", lambda: _rows(bm25_topk_batch(spark, store, qs)))
    assert jobs == []
    with monkeypatch.context() as mp:
        _capped(mp)
        assert _rows(bm25_topk_batch(spark, store, qs)) == rows
    _check_oracle(_oracle(spark, docs, qs), set(), qs, rows)


def test_zero_row_results_keep_the_schema(spark, small, tmp_path):
    """Zero hits, an empty batch and a radial query nothing reaches all
    return zero rows with the exact result schema, on both engines."""
    store = small[0]
    want = spark.createDataFrame([], RANKED).schema
    for df in (
        bm25_topk_batch(spark, store, [Query("a", (ABSENT,), 5)]),
        bm25_topk_batch(spark, store, []),
        bm25_topk_batch(spark, store, [Query("r", (VOCAB[0],), None, 1e9)]),
    ):
        assert df.schema == want and df.collect() == []
    single = spark.createDataFrame([], "doc_id long, score double, rank int").schema
    assert bm25_topk(spark, store, [ABSENT], 5).schema == single
    assert bm25_radial(spark, store, [VOCAB[1]], 1e9).collect() == []

    rng = np.random.default_rng(0)
    X = rng.standard_normal((64, 4))
    d = str(tmp_path / "ivf")
    ivf_build(spark.createDataFrame(
        list(enumerate(X.tolist())), "vec_id long, embedding array<double>"
    ), d, n_centroids=2)
    want = spark.createDataFrame([], "vec_id long, cos double, rank int").schema
    for ids in (None, []):  # cosine never exceeds 1; an empty allow-list
        res = ivf_query_radial(spark, d, X[0].tolist(), min_score=2.0, filter_ids=ids)
        assert res.schema == want and res.collect() == []


def _postings_table(rows):
    """An Arrow postings table in the store's layout, one row per
    (chunk, term, slice) of sorted doc ids."""
    cols = {c: [] for c in (
        "chunk_id", "term", "slice", "doc_bytes", "tf_bytes", "block_first",
        "block_last", "block_count", "block_max_tf", "block_min_dl",
    )}
    for chunk, term, sl, ids in rows:
        ids = np.asarray(ids, dtype=np.int64)
        e = encode_blocks(ids, ids % 3 + 1, ids % 7 + 2, 4)
        for c, v in (
            ("chunk_id", chunk), ("term", term), ("slice", sl),
            ("doc_bytes", e.doc_bytes), ("tf_bytes", e.tf_bytes),
            ("block_first", e.first_doc), ("block_last", e.last_doc),
            ("block_count", e.count), ("block_max_tf", e.max_tf),
            ("block_min_dl", e.min_dl),
        ):
            cols[c].append(v.tolist() if isinstance(v, np.ndarray) else v)
    return pa.table(cols)


ROWS = [
    (0, "a", 0, [0, 3, 4, 9, 10, 11, 40]),
    (0, "a", 1, [41, 300, 301]),
    (0, "b", 0, [5]),
    (1, "a", 0, [512, 513, 600, 700, 701, 702, 703, 900, 1000]),
]


def test_batch_decode_matches_per_row_decode():
    """One decode over the whole table equals ``decode_blocks`` per row."""
    tbl = _postings_table(ROWS)
    _, _, count, docs, tfs = _decode_batch(tbl)
    per_row = [
        decode_blocks(r["doc_bytes"], r["tf_bytes"],
                      np.asarray(r["block_first"]), np.asarray(r["block_count"]))
        for r in tbl.to_pylist()
    ]
    assert np.array_equal(docs, np.concatenate([d for d, _ in per_row]))
    assert np.array_equal(tfs, np.concatenate([t for _, t in per_row]))
    assert np.array_equal(docs, np.concatenate([ids for *_, ids in ROWS]))
    assert count.sum() == len(docs)


def test_batch_decode_refuses_corrupt_rows():
    tbl = _postings_table(ROWS)
    cut = tbl["doc_bytes"].to_pylist()
    cut[1] = cut[1][:-1]  # one row loses its last varint byte
    with pytest.raises(ValueError, match="varint stream corrupt"):
        _decode_batch(tbl.set_column(3, "doc_bytes", pa.array(cut, pa.binary())))
    last = tbl["block_last"].to_pylist()
    last[3][0] -= 1  # a block claims to end before its last doc
    with pytest.raises(ValueError, match="outside"):
        _decode_batch(tbl.set_column(6, "block_last", pa.array(last)))
