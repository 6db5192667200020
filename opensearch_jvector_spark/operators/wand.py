"""Top-k BM25 query engine — block-max pruned, exact.

Reference trace (JVectorKnnFloatVectorQuery.approximateSearch ->
JVectorReader.search, JVectorReader.java:131-212): per-segment ("leaf")
search with an approximate score provider bounding an exact reranker,
filtered by an acceptDocs bitmap, then per-leaf TopDocs merged globally.

Our plan (SURVEY.md §3.1 Spark trace):
  1. tokenize query -> global idf from the dictionary (pruned tiny read,
     broadcast into the kernel closure);
  2. scan ONLY the term_bucket partitions of the query terms with the
     term filter pushed to parquet row groups;
  3. cogroup postings with chunk norms by chunk_id -> one Arrow kernel
     per (chunk) doc range runs MaxScore with block-max skipping:
       - terms processed in descending score-upper-bound order
         (term ub = max over blocks of score(max_tf, min_dl));
       - while the suffix upper-bound sum can still beat the running
         k-th score, terms are "essential": fully decoded, scored
         vectorized into a dense accumulator;
       - once suffix_ub < theta, no unseen doc can enter the top-k:
         remaining terms decode ONLY blocks whose [first_doc, last_doc]
         range intersects the candidate set (block-max skipping), and
         update candidates only. Exact by the standard MaxScore
         argument — theta never decreases.
  4. per-chunk top-k unioned -> global orderBy(score desc, doc_id
     asc).limit(k) (TakeOrderedAndProject — partial + final top-k,
     the Lucene per-leaf + global merge analog).

Two transports run that plan and share the MaxScore loop
(``_maxscore``); they differ only in how the postings arrive. The Spark
transport is steps 2-4 above. The driver transport (``_local_topk``)
answers when a warmed store holds the norms, the batch is unfiltered
and its postings fit ``driver_topk_max_postings``: one pyarrow read,
one decode and one scoring of the whole batch's postings, the loop per
(chunk, query), one lexsort for the ranks, and a driver-held result
(``session.arrow_frame``), so no Spark job runs, the caller's
``toPandas`` included. Both give bitwise-identical rows.

Filtered search (reference acceptDocs, JVectorReader.java:167-182)
pushes the allow-bitmap INSIDE the MaxScore loop — the mask only
removes candidates, so theta / suffix bounds stay valid and block
skipping keeps working (the reference likewise hands acceptDocs into
the graph search rather than post-filtering). Deleted docs (tombstones)
arrive as a per-chunk DENY bitmap combined the same way; corpus stats
keep counting deleted docs until compaction, exactly like Lucene.
Radial search (min_score, KNNQueryBuilder.java:438-472) takes the exact
full-TAAT path.

Per-query pruning metrics (reference: KNNCounter.java:13-37,
KNNGraphValue.java:17-23 — visited/reranked/expanded counters): pass a
``QueryMetrics`` and the kernels report terms seen, blocks decoded vs
skipped and candidate counts through Spark accumulators — the evidence
that block-max pruning actually prunes (bench.py records them). The
driver transport decodes every block of the batch once, so it reports
those blocks as decoded and none as skipped.

All kernels are numpy-vectorized over Arrow batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..functions.bm25 import block_upper_bound, idf_np, score_np
from ..functions.codec import decode_blocks, varint_decode
from ..plans.query import Query
from ..session import arrow_frame
from ..sources.index_store import IndexStore

_RESULT_SCHEMA = "query_id string, doc_id long, score double"
_RANKED = pa.schema(
    [("query_id", pa.string()), ("doc_id", pa.int64()),
     ("score", pa.float64()), ("rank", pa.int32())]
)

_POST_COLS = (
    "term", "slice", "doc_bytes", "tf_bytes", "block_first", "block_last",
    "block_count", "block_doc_off", "block_tf_off", "block_max_tf",
    "block_min_dl",
)


class QueryMetrics:
    """Per-batch search counters (Spark accumulators — aggregated across
    every chunk task; also updated in-place by the driver transport).
    Reference analog: KNNCounter / KNNGraphValue node-level stats."""

    FIELDS = (
        "chunks", "terms_seen", "blocks_total", "blocks_decoded",
        "blocks_skipped", "candidates",
    )

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        for f in self.FIELDS:
            setattr(self, f, sc.accumulator(0))

    def snapshot(self) -> dict:
        return {f: int(getattr(self, f).value) for f in self.FIELDS}


def _decode_term_rows(rows: list[dict]) -> tuple[np.ndarray, np.ndarray, int]:
    """Decode all slices of one term within one chunk -> (docs, tfs,
    n_blocks_decoded)."""
    rows = sorted(rows, key=lambda r: r["slice"])
    ds, ts, nb = [], [], 0
    for r in rows:
        d, t = decode_blocks(
            r["doc_bytes"], r["tf_bytes"],
            np.asarray(r["block_first"], dtype=np.int64),
            np.asarray(r["block_count"], dtype=np.int32),
        )
        ds.append(d)
        ts.append(t)
        nb += len(r["block_first"])
    return np.concatenate(ds), np.concatenate(ts), nb


def _decode_term_rows_pruned(
    rows: list[dict], cand_global: np.ndarray
) -> tuple[np.ndarray, np.ndarray, int, int]:
    """Decode only blocks whose doc range intersects the sorted global
    candidate ids (block-max skipping) -> (docs, tfs, decoded, total)."""
    ds, ts = [], []
    decoded = total = 0
    for r in sorted(rows, key=lambda r: r["slice"]):
        first = np.asarray(r["block_first"], dtype=np.int64)
        last = np.asarray(r["block_last"], dtype=np.int64)
        total += len(first)
        lo = np.searchsorted(cand_global, first, side="left")
        hi = np.searchsorted(cand_global, last, side="right")
        sel = hi > lo
        if not sel.any():
            continue
        decoded += int(sel.sum())
        d, t = decode_blocks(
            r["doc_bytes"], r["tf_bytes"],
            first, np.asarray(r["block_count"], dtype=np.int32),
            block_sel=sel,
            doc_off=np.asarray(r["block_doc_off"], dtype=np.int64),
            tf_off=np.asarray(r["block_tf_off"], dtype=np.int64),
        )
        ds.append(d)
        ts.append(t)
    if not ds:
        return np.empty(0, np.int64), np.empty(0, np.int64), decoded, total
    return np.concatenate(ds), np.concatenate(ts), decoded, total


def _term_upper_bound(rows: list[dict], idf: float, avgdl: float, k1, b) -> float:
    ub = 0.0
    for r in rows:
        u = block_upper_bound(
            np.asarray(r["block_max_tf"], dtype=np.float64),
            np.asarray(r["block_min_dl"], dtype=np.float64),
            idf, avgdl, k1, b,
        )
        if len(u):
            ub = max(ub, float(u.max()))
    return ub


def _chunk_mask(nrow, n_slots: int, has_filter: bool):
    """allowed-slot boolean mask from the optional allow (filtered
    search) and deny (tombstone) bitmaps of one norms row; None means
    "all allowed". Returns (mask, empty) — empty=True when a filter is
    present but admits nothing in this chunk."""
    mask = None
    allow_raw, deny_raw = nrow["mask_bytes"], nrow["deny_bytes"]
    if has_filter:
        if allow_raw is None:
            return None, True
        mask = np.unpackbits(np.frombuffer(allow_raw, dtype=np.uint8))[
            :n_slots
        ].astype(bool)
    if deny_raw is not None:
        deny = np.unpackbits(np.frombuffer(deny_raw, dtype=np.uint8))[
            :n_slots
        ].astype(bool)
        mask = ~deny if mask is None else (mask & ~deny)
    return mask, False


def _maxscore(query, info, full, pruned, base: int, n_slots: int, mask, m: dict):
    """One query's MaxScore top-k over one chunk — the loop both
    transports share; they differ only in how a term's postings arrive.

    ``info`` maps each term present in the chunk to (score upper bound,
    block count). ``full(t)`` gives the term's (docs, scores), each doc
    once; ``pruned(t, cand_docs)`` gives at least the postings of the
    sorted candidate docs (the Spark transport decodes only the blocks
    whose range meets a candidate). ``m`` collects the counters.
    Returns (chunk slots, scores), or None when no term is present."""
    _, qterms, k, min_score = query
    terms = [t for t in qterms if t in info]
    if not terms:
        return None
    m["terms_seen"] += len(terms)
    m["blocks_total"] += sum(info[t][1] for t in terms)
    ubs = np.array([info[t][0] for t in terms])
    order = np.argsort(-ubs, kind="stable")
    terms = [terms[i] for i in order]
    suffix = np.concatenate((np.cumsum(ubs[order][::-1])[::-1], [0.0]))

    acc = np.zeros(n_slots, dtype=np.float64)
    touched = np.zeros(n_slots, dtype=bool)
    # the mask does NOT disable pruning: it only removes candidates, so
    # theta (k-th best allowed score) and the suffix bound (max any
    # unseen doc could still gain) remain a valid MaxScore pair.
    # min_score (radial) needs every qualifying doc: the exact path.
    use_pruning = min_score is None and k is not None
    theta = -np.inf
    i = 0
    while i < len(terms):
        if use_pruning and suffix[i] < theta:
            break
        docs, scores = full(terms[i])
        loc = docs - base
        if mask is not None:
            keep = mask[loc]
            loc, scores = loc[keep], scores[keep]
        acc[loc] += scores
        touched[loc] = True
        i += 1
        if use_pruning:
            tv = acc[touched]
            if len(tv) >= k:
                theta = np.partition(tv, len(tv) - k)[len(tv) - k]
    if i < len(terms):
        # non-essential phase: candidates only (already mask-filtered,
        # so masked docs miss the hit test)
        sel = np.nonzero(touched & (acc + suffix[i] >= theta))[0]
        cand = sel + base
        for t in terms[i:]:
            docs, scores = pruned(t, cand)
            if not len(docs) or not len(cand):
                continue
            # docs ascend within a slice only (a ranged build may
            # interleave slices), so look each doc up among candidates
            pos = np.minimum(np.searchsorted(cand, docs), len(cand) - 1)
            hit = cand[pos] == docs
            acc[docs[hit] - base] += scores[hit]
    else:
        sel = np.nonzero(touched)[0]
    m["candidates"] += len(sel)

    scores = acc[sel]
    if min_score is not None:
        keep = scores >= min_score
        return sel[keep], scores[keep]
    if len(sel) > k:
        # exact tie handling: keep everything >= the k-th score, then
        # order by (score desc, doc asc) as the final merge does
        kth = scores[np.argpartition(-scores, k - 1)[:k]].min()
        keep = np.nonzero(scores >= kth)[0]
        sel, scores = sel[keep], scores[keep]
    ordr = np.lexsort((sel, -scores))[:k]
    return sel[ordr], scores[ordr]


def _count(metrics: QueryMetrics | None, m: dict) -> None:
    if metrics is not None:
        for f, v in m.items():
            getattr(metrics, f).add(v)


def _query_kernel(
    queries: list[tuple[str, tuple[str, ...], int | None, float | None]],
    idfs: dict[str, float],
    avgdl: float,
    config_vals: tuple[float, float],
    has_filter: bool,
    metrics: QueryMetrics | None = None,
):
    """Spark transport: the per-chunk cogroup kernel. Postings arrive
    as Arrow rows; a term decodes in full once per chunk when it is
    essential for some query, else block-selectively per query."""
    k1, b = config_vals

    def kernel(key, post_pdf: pd.DataFrame, norms_pdf: pd.DataFrame) -> pd.DataFrame:
        from ..functions.runtime import limit_worker_threads

        limit_worker_threads()
        out = {"query_id": [], "doc_id": [], "score": []}
        if len(post_pdf) == 0 or len(norms_pdf) == 0:
            return pd.DataFrame(out)
        nrow = {c: norms_pdf[c].to_numpy()[0] for c in norms_pdf.columns}
        base = int(nrow["base_doc"])
        dls = np.frombuffer(nrow["dl_bytes"], dtype=np.int32)
        mask, empty = _chunk_mask(nrow, len(dls), has_filter)
        if empty:
            return pd.DataFrame(out)

        cols = {c: post_pdf[c].to_numpy() for c in _POST_COLS}
        by_term: dict[str, list[dict]] = {}
        for i in range(len(post_pdf)):
            by_term.setdefault(cols["term"][i], []).append(
                {c: cols[c][i] for c in _POST_COLS}
            )
        info = {
            t: (
                _term_upper_bound(rows, idfs[t], avgdl, k1, b),
                sum(len(r["block_first"]) for r in rows),
            )
            for t, rows in by_term.items()
            if t in idfs
        }
        m = dict.fromkeys(QueryMetrics.FIELDS, 0)
        m["chunks"] = 1
        scored: dict[str, tuple[np.ndarray, np.ndarray]] = {}

        def score(t, docs, tfs):
            return docs, score_np(tfs, dls[docs - base], idfs[t], avgdl, k1, b)

        def full(t):
            if t not in scored:
                d, tf, nb = _decode_term_rows(by_term[t])
                m["blocks_decoded"] += nb
                scored[t] = score(t, d, tf)
            return scored[t]

        def pruned(t, cand):
            if t in scored:
                return scored[t]
            d, tf, dec, tot = _decode_term_rows_pruned(by_term[t], cand)
            m["blocks_decoded"] += dec
            m["blocks_skipped"] += tot - dec
            return score(t, d, tf)

        for q in queries:
            hit = _maxscore(q, info, full, pruned, base, len(dls), mask, m)
            if hit is not None:
                out["query_id"].extend([q[0]] * len(hit[0]))
                out["doc_id"].extend((hit[0] + base).tolist())
                out["score"].extend(hit[1].tolist())
        _count(metrics, m)
        return pd.DataFrame(out)

    return kernel


def _starts(changed: np.ndarray) -> np.ndarray:
    """Start index of every run, from the ``a[1:] != a[:-1]`` flags."""
    return np.concatenate(([0], np.nonzero(changed)[0] + 1))


def _flat_bytes(col) -> np.ndarray:
    """The concatenated bytes of a binary column's rows, in row order:
    a view of the Arrow data buffer, no per-row copy."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    wide = pa.types.is_large_binary(arr.type)
    offs = np.frombuffer(arr.buffers()[1], np.int64 if wide else np.int32)
    offs = offs[arr.offset : arr.offset + len(arr) + 1]
    return np.frombuffer(arr.buffers()[2], np.uint8)[offs[0] : offs[-1]]


def _decode_batch(tbl):
    """Decode a batch's whole postings table at once. ``tbl`` is sorted
    by (chunk_id, term, slice); every row holds a whole number of
    varints, so each byte stream decodes in ONE ``varint_decode`` call
    over the column's flat buffer, then one segmented cumsum restarts
    the doc deltas at each block. Returns per-block (max_tf, min_dl,
    count) and per-posting (docs, tfs), block and posting order
    following the rows.

    Raises ValueError when a stream holds another number of values
    than its rows' blocks count, or a block's docs leave its
    [block_first, block_last] range (a corrupt or mis-tiled row)."""

    def flat(name):
        return pc.list_flatten(tbl[name]).to_numpy().astype(np.int64)

    first, last, count = flat("block_first"), flat("block_last"), flat("block_count")
    n = int(count.sum())
    deltas = varint_decode(_flat_bytes(tbl["doc_bytes"]), count=n).astype(np.int64)
    tfs = varint_decode(_flat_bytes(tbl["tf_bytes"]), count=n).astype(np.int64)
    block_of = np.repeat(np.arange(len(count)), count)
    raw = np.cumsum(deltas)
    starts = np.cumsum(count) - count
    docs = raw - raw[starts][block_of] + first[block_of]
    if ((docs < first[block_of]) | (docs > last[block_of])).any():
        raise ValueError("posting block decodes outside its [block_first, block_last]")
    return flat("block_max_tf"), flat("block_min_dl"), count, docs, tfs


def _local_topk(
    spark: SparkSession,
    store: IndexStore,
    queries: list[Query],
    idfs: dict[str, float],
    avgdl: float,
    config,
    stats: dict,
    metrics: QueryMetrics | None = None,
) -> DataFrame:
    """Driver transport: the whole batch in one vectorized pass. One
    pruned pyarrow read of the query terms' posting rows, one decode
    (``_decode_batch``), one BM25 scoring of every posting and one
    upper bound per (chunk, term); then the shared ``_maxscore`` loop
    per (chunk, query) over the warmed driver norms, with tombstones
    as a per-chunk deny mask, and one lexsort that ranks the batch.
    The result is held on the driver (``session.arrow_frame``): no
    Spark job runs, the caller's ``toPandas`` included."""
    k1, b = config.k1, config.b
    norms = store._driver_norms
    tbl = store.read_postings_arrow(list(idfs), config, stats)
    if tbl is not None:
        tbl = tbl.filter(pc.is_in(tbl["chunk_id"], pa.array(list(norms), pa.int64())))
    if tbl is None or not tbl.num_rows:
        return arrow_frame(spark, _RANKED)
    tbl = tbl.sort_by(
        [("chunk_id", "ascending"), ("term", "ascending"), ("slice", "ascending")]
    ).combine_chunks()
    max_tf, min_dl, count, docs, tfs = _decode_batch(tbl)

    # (chunk, term) groups: runs of rows, then of blocks and postings
    chunk = tbl["chunk_id"].to_numpy()
    terms = np.array(tbl["term"].to_pylist(), dtype=object)
    row_blocks = pc.list_value_length(tbl["block_first"]).to_numpy()
    g_row = _starts((chunk[1:] != chunk[:-1]) | (terms[1:] != terms[:-1]))
    g_terms, g_chunk = terms[g_row].tolist(), chunk[g_row]
    b_edge = np.concatenate(([0], np.cumsum(row_blocks)))[np.append(g_row, len(terms))]
    p_edge = np.concatenate(([0], np.cumsum(count)))[b_edge]
    g_blocks = np.diff(b_edge)
    g_idf = np.array([idfs[t] for t in g_terms])
    c_row = _starts(g_chunk[1:] != g_chunk[:-1])
    chunk_groups = list(zip(c_row, np.append(c_row[1:], len(g_terms))))

    # score every posting once, and bound every (chunk, term) once
    dl = np.empty(len(docs), dtype=np.int32)
    for g0, g1 in chunk_groups:
        base, dls = norms[int(g_chunk[g0])]
        seg = slice(p_edge[g0], p_edge[g1])
        dl[seg] = dls[docs[seg] - base]
    scores = score_np(tfs, dl, np.repeat(g_idf, np.diff(p_edge)), avgdl, k1, b)
    ub = np.maximum.reduceat(
        block_upper_bound(max_tf, min_dl, np.repeat(g_idf, g_blocks), avgdl, k1, b),
        b_edge[:-1],
    )

    slot: dict[str, int] = {}  # query_id -> result key (the Spark window's partition)
    qkey = [slot.setdefault(q.query_id, len(slot)) for q in queries]
    qspec = [(q.query_id, q.terms, q.k, q.min_score) for q in queries]
    m = dict.fromkeys(QueryMetrics.FIELDS, 0)
    m["blocks_decoded"] = len(count)
    tombs = store._driver_tombstones
    out_q, out_d, out_s = [], [], []
    for g0, g1 in chunk_groups:
        base, dls = norms[int(g_chunk[g0])]
        m["chunks"] += 1
        mask = None
        if tombs is not None:
            lo, hi = np.searchsorted(tombs, [base, base + len(dls)])
            if hi > lo:
                mask = np.ones(len(dls), dtype=bool)
                mask[tombs[lo:hi] - base] = False
        lists = {
            g_terms[g]: (docs[p_edge[g] : p_edge[g + 1]], scores[p_edge[g] : p_edge[g + 1]])
            for g in range(g0, g1)
        }
        info = {g_terms[g]: (ub[g], g_blocks[g]) for g in range(g0, g1)}
        for key, q in zip(qkey, qspec):
            hit = _maxscore(
                q, info, lists.__getitem__, lambda t, _: lists[t],
                base, len(dls), mask, m,
            )
            if hit is not None:
                out_q.append(np.full(len(hit[0]), key))
                out_d.append(hit[0] + base)
                out_s.append(hit[1])
    _count(metrics, m)
    if not out_q:
        return arrow_frame(spark, _RANKED)

    # global per-query rank: (score desc, doc_id asc), the Spark window's order
    q, d, s = np.concatenate(out_q), np.concatenate(out_d), np.concatenate(out_s)
    order = np.lexsort((d, -s, q))
    q, d, s = q[order], d[order], s[order]
    first = _starts(q[1:] != q[:-1])
    rank = np.arange(len(q)) - np.repeat(first, np.diff(np.append(first, len(q)))) + 1
    kmax = np.zeros(len(slot), dtype=np.int64)
    for key, qr in zip(qkey, queries):
        kmax[key] = qr.k if qr.k is not None else len(q)
    keep = rank <= kmax[q]
    ids = pa.array(list(slot), pa.string()).take(pa.array(q[keep]))
    return arrow_frame(
        spark, _RANKED,
        {"query_id": ids, "doc_id": d[keep], "score": s[keep], "rank": rank[keep]},
    )


def _bitmap_kernel_factory(dpc: int, out_col: str):
    def bitmap_kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        (chunk_id,) = key
        base = int(chunk_id) * dpc
        bits = np.zeros(dpc, dtype=np.uint8)
        loc = pdf["doc_id"].to_numpy().astype(np.int64) - base
        bits[loc] = 1
        return pd.DataFrame(
            {
                "chunk_id": [int(chunk_id)],
                out_col: [np.packbits(bits).tobytes()],
            }
        )

    return bitmap_kernel


def bm25_topk_batch(
    spark: SparkSession,
    store: IndexStore,
    queries: list[Query],
    filter_docs: DataFrame | None = None,
    metrics: QueryMetrics | None = None,
) -> DataFrame:
    """Answer a batch of queries against a built index.

    Returns (query_id, doc_id, score, rank) with rank 1..k per query
    (radial queries return all hits >= min_score, rank by score).
    Deleted docs (tombstones) are masked out; scores keep using the
    full-corpus stats until compaction, mirroring Lucene's
    deleted-docs-still-count semantics.
    """
    stats, config = store.read_stats()
    avgdl = float(stats["avgdl"])
    all_terms = sorted({t for q in queries for t in q.terms})
    if not all_terms:
        return arrow_frame(spark, _RANKED)

    # global idf from the dictionary (pruned tiny read, or the warm
    # driver-side cache after store.warm())
    dfs = store.term_dfs_for(spark, all_terms)
    n_docs = float(stats["n_docs"])
    idfs = {
        t: float(idf_np(np.array([dfs[t]], dtype=np.float64), n_docs)[0])
        for t in dfs
    }
    if not idfs:  # no query term is in the dictionary: zero hits, no read
        return arrow_frame(spark, _RANKED)

    has_tombs = bool(stats.get("tombstone_batches"))

    # small-query fast path (reference exact-search-threshold analog):
    # warmed driver norms + bounded postings volume -> no Spark job
    if (
        filter_docs is None
        and store._driver_norms is not None
        and (not has_tombs or store._driver_tombstones is not None)
        and sum(dfs.values()) <= config.driver_topk_max_postings
    ):
        return _local_topk(
            spark, store, queries, idfs, avgdl, config, stats, metrics
        )

    postings = store.read_postings_for_terms(spark, all_terms, config, stats)
    norms = store.read_norms(spark, stats)
    has_filter = filter_docs is not None
    dpc = config.docs_per_chunk
    if has_filter:
        bitmaps = (
            filter_docs.select(
                F.col("doc_id"),
                (F.col("doc_id") / dpc).cast("long").alias("chunk_id"),
            )
            .groupBy("chunk_id")
            .applyInPandas(
                _bitmap_kernel_factory(dpc, "mask_bytes"),
                schema="chunk_id long, mask_bytes binary",
            )
        )
        norms = norms.join(bitmaps, "chunk_id", "left")
    else:
        norms = norms.withColumn("mask_bytes", F.lit(None).cast("binary"))
    if has_tombs:
        tombs = store.read_tombstones(spark, stats)
        deny = (
            tombs.select(
                F.col("doc_id"),
                (F.col("doc_id") / dpc).cast("long").alias("chunk_id"),
            )
            .groupBy("chunk_id")
            .applyInPandas(
                _bitmap_kernel_factory(dpc, "deny_bytes"),
                schema="chunk_id long, deny_bytes binary",
            )
        )
        norms = norms.join(deny, "chunk_id", "left")
    else:
        norms = norms.withColumn("deny_bytes", F.lit(None).cast("binary"))

    qspec = [(q.query_id, q.terms, q.k, q.min_score) for q in queries]
    kernel = _query_kernel(
        qspec, idfs, avgdl, (config.k1, config.b), has_filter, metrics
    )
    results = (
        postings.groupBy("chunk_id")
        .cogroup(norms.groupBy("chunk_id"))
        .applyInPandas(kernel, schema=_RESULT_SCHEMA)
    )

    # global top-k per query
    kmap = spark.createDataFrame(
        [(q.query_id, q.k if q.k is not None else -1) for q in queries],
        "query_id string, k int",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        results.join(F.broadcast(kmap), "query_id")
        .withColumn("rank", F.row_number().over(w))
        .filter((F.col("k") < 0) | (F.col("rank") <= F.col("k")))
        .select("query_id", "doc_id", "score", "rank")
    )


def bm25_topk(
    spark: SparkSession,
    store: IndexStore,
    terms: list[str],
    k: int,
    filter_docs: DataFrame | None = None,
    metrics: QueryMetrics | None = None,
) -> DataFrame:
    """Single-query convenience: (doc_id, score, rank)."""
    q = Query("q", tuple(sorted(set(terms))), k)
    return bm25_topk_batch(spark, store, [q], filter_docs, metrics).select(
        "doc_id", "score", "rank"
    )


def bm25_radial(
    spark: SparkSession,
    store: IndexStore,
    terms: list[str],
    min_score: float,
    filter_docs: DataFrame | None = None,
) -> DataFrame:
    """Radial search (reference Q5): all docs with score >= min_score."""
    q = Query("q", tuple(sorted(set(terms))), k=None, min_score=min_score)
    return bm25_topk_batch(spark, store, [q], filter_docs).select(
        "doc_id", "score", "rank"
    )
