"""Segment merge — N build segments -> the global inverted index.

Reference: `JVectorWriter.mergeOneField` merges per-segment graphs,
preferring INCREMENTAL expansion of the leading segment's graph over a
full rebuild (JVectorWriter.java:174-195, incremental branch :922-941 —
the plugin's flagship feature, README.md:137-148). Our codec makes the
analogous property structural: posting blocks store absolute first_doc
and deltas never cross block boundaries, so merging segments over
disjoint ascending doc ranges is PURE CONCATENATION — no re-encode,
ever (functions/codec.py; tests/test_codec.py::test_merge_is_concat).

Shuffle shape (north_rule: partitioning/shuffle/skew explicit):
  * shuffle key is (term, chunk_id) — NOT bare term. chunk_id (a range
    of segments_per_chunk build segments) is the built-in salt: a hot
    stopword term present in every doc fans out across ALL chunks, so
    no reducer ever receives more than docs_per_chunk postings for one
    key. Skew is bounded BY CONSTRUCTION, and logged (term_skew_ratio
    in stats).
  * physical plan: ONE hash repartition on (term, chunk_id) + in-
    partition sort, then a STREAMING mapInPandas that merges thousands
    of groups per Arrow batch (an applyInPandas per (term, chunk) would
    pay per-group pandas overhead on millions of tiny groups — measured
    ~50x slower at sf0.01).
  * the global df dictionary is a two-stage aggregation: per-segment
    partial dfs (map-side combine) summed by term — the reference's
    codebook-refinement analog (corpus stats refreshed from partials,
    JVectorWriter.java:886-913).
  * output partitioned by term_bucket (crc32(term) % B) and sorted by
    term within files => query-term partition pruning + parquet
    row-group min/max skipping.

Chunks are also the query-time parallelism unit: one WAND task per
(query, chunk) doc range (reference analog: per-leaf concurrent segment
search, KNNConcurrentSearchRequestDecider.java).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..sources.index_store import (
    CHUNK_NORMS_SCHEMA,
    POSTINGS_SCHEMA,
    IndexStore,
    term_bucket_col,
)

_MERGE_IN_COLS = [
    "term", "chunk_id", "term_bucket", "seg_group", "sub", "df",
    "doc_bytes", "tf_bytes", "block_first", "block_last", "block_count",
    "block_doc_off", "block_tf_off", "block_max_tf", "block_min_dl",
]


def _merge_group(
    g: dict[str, list], term: str, chunk_id: int, term_bucket: int, cap: int
) -> list[dict]:
    """Merge one (term, chunk) group (rows sorted by seg_group) by pure
    concatenation; split into `slice`s of <= cap postings."""
    doc_bytes = g["doc_bytes"]
    tf_bytes = g["tf_bytes"]
    firsts = np.concatenate([np.asarray(a, dtype=np.int64) for a in g["block_first"]])
    lasts = np.concatenate([np.asarray(a, dtype=np.int64) for a in g["block_last"]])
    counts = np.concatenate([np.asarray(a, dtype=np.int64) for a in g["block_count"]])
    doc_lens = np.fromiter((len(b) for b in doc_bytes), dtype=np.int64)
    tf_lens = np.fromiter((len(b) for b in tf_bytes), dtype=np.int64)
    doc_base = np.concatenate(([0], np.cumsum(doc_lens)))[:-1]
    tf_base = np.concatenate(([0], np.cumsum(tf_lens)))[:-1]
    doc_off = np.concatenate(
        [np.asarray(a, dtype=np.int64) + doc_base[i] for i, a in enumerate(g["block_doc_off"])]
    )
    tf_off = np.concatenate(
        [np.asarray(a, dtype=np.int64) + tf_base[i] for i, a in enumerate(g["block_tf_off"])]
    )
    max_tf = np.concatenate([np.asarray(a, dtype=np.int32) for a in g["block_max_tf"]])
    min_dl = np.concatenate([np.asarray(a, dtype=np.int32) for a in g["block_min_dl"]])

    nb = len(counts)
    total = int(counts.sum())
    if total <= cap or nb <= 1:
        slices = [(0, nb)]
    else:
        cum = np.cumsum(counts)
        slices, start, acc0 = [], 0, 0
        for i, c in enumerate(cum):
            if c - acc0 >= cap:
                slices.append((start, i + 1))
                start, acc0 = i + 1, int(c)
        if start < nb:
            slices.append((start, nb))

    all_doc = b"".join(doc_bytes)
    all_tf = b"".join(tf_bytes)
    dmv, tmv = memoryview(all_doc), memoryview(all_tf)
    doc_end = np.concatenate((doc_off[1:], [len(all_doc)]))
    tf_end = np.concatenate((tf_off[1:], [len(all_tf)]))
    out = []
    for si, (b0, b1) in enumerate(slices):
        if b0 >= b1:
            continue
        d_lo, d_hi = int(doc_off[b0]), int(doc_end[b1 - 1])
        t_lo, t_hi = int(tf_off[b0]), int(tf_end[b1 - 1])
        out.append(
            {
                "term_bucket": term_bucket,
                "term": term,
                "chunk_id": chunk_id,
                "slice": si,
                "df": int(counts[b0:b1].sum()),
                "doc_bytes": bytes(dmv[d_lo:d_hi]),
                "tf_bytes": bytes(tmv[t_lo:t_hi]),
                "block_first": firsts[b0:b1],
                "block_last": lasts[b0:b1],
                "block_count": counts[b0:b1].astype(np.int32),
                "block_doc_off": doc_off[b0:b1] - d_lo,
                "block_tf_off": tf_off[b0:b1] - t_lo,
                "block_max_tf": max_tf[b0:b1],
                "block_min_dl": min_dl[b0:b1],
            }
        )
    return out


def _merge_batch(pdf: pd.DataFrame, cap: int) -> pd.DataFrame:
    """Merge every complete (term, chunk_id) group inside one pandas
    batch (input sorted by term, chunk_id, seg_group).

    Vectorized concat path: segments over disjoint ascending doc ranges
    merge by pure concatenation, so the whole batch's block arrays are
    flattened ONCE (numpy), offsets rebased with a segmented cumsum,
    and each output row is a numpy view — no per-group numpy calls.
    Only groups exceeding ``cap`` postings (hot/stopword terms being
    salted into slices) take the per-group fallback; those are rare by
    construction. Measured ~10x over the naive per-group loop at 366k
    groups/batch."""
    terms = pdf["term"].to_numpy()
    chunks = pdf["chunk_id"].to_numpy()
    n = len(pdf)
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = (terms[1:] != terms[:-1]) | (chunks[1:] != chunks[:-1])
    starts = np.nonzero(change)[0]
    ends = np.concatenate((starts[1:], [n]))
    cols = {c: pdf[c].to_numpy() for c in _MERGE_IN_COLS}

    doc_bytes = cols["doc_bytes"]
    tf_bytes = cols["tf_bytes"]
    doc_lens = np.fromiter((len(b) for b in doc_bytes), np.int64, n)
    tf_lens = np.fromiter((len(b) for b in tf_bytes), np.int64, n)
    doc_row_off = np.concatenate(([0], np.cumsum(doc_lens)))
    tf_row_off = np.concatenate(([0], np.cumsum(tf_lens)))
    # NOTE deliberately NO batch-global b"".join here: the kernel is
    # memory-bandwidth-bound (the contended resource in the 8->32
    # same-bus scaling regime) and a global join + per-group
    # memoryview re-slice touches every postings byte TWICE. Fast-path
    # groups are whole-row spans, so each output payload is ONE
    # per-group join of the original Arrow-backed bytes objects —
    # every byte copied exactly once, and no all_doc/all_tf peak-
    # memory doubling. Only split groups (rare salted stopwords)
    # re-slice, inside _merge_group.

    nb_per_row = np.fromiter((len(a) for a in cols["block_first"]), np.int64, n)
    row_blk_off = np.concatenate(([0], np.cumsum(nb_per_row)))
    tot_blocks = int(row_blk_off[-1])

    def _flat(name, dtype):
        if tot_blocks == 0:
            return np.empty(0, dtype)
        return np.concatenate(
            [np.asarray(a, dtype=dtype) for a in cols[name]]
        )

    firsts = _flat("block_first", np.int64)
    lasts = _flat("block_last", np.int64)
    counts = _flat("block_count", np.int64)
    max_tf = _flat("block_max_tf", np.int32)
    min_dl = _flat("block_min_dl", np.int32)
    # rebase per-row-relative byte offsets to batch-global offsets
    g_doc_off = _flat("block_doc_off", np.int64) + np.repeat(
        doc_row_off[:-1], nb_per_row
    )
    g_tf_off = _flat("block_tf_off", np.int64) + np.repeat(
        tf_row_off[:-1], nb_per_row
    )
    # block byte ends: blocks tile each row's bytes contiguously and
    # rows are concatenated in order => next block's offset is this
    # block's end
    g_doc_end = np.concatenate((g_doc_off[1:], [int(doc_row_off[-1])]))
    g_tf_end = np.concatenate((g_tf_off[1:], [int(tf_row_off[-1])]))

    gbs = row_blk_off[starts]            # group block start
    gbe = row_blk_off[ends]              # group block end
    g_df = np.add.reduceat(cols["df"].astype(np.int64), starts)
    g_nb = gbe - gbs
    needs_split = (g_df > cap) & (g_nb > 1)

    tb = cols["term_bucket"]
    fast = np.nonzero(~needs_split)[0]
    f_starts = starts[fast]
    f_ends = ends[fast]
    fb0 = gbs[fast]
    fb1 = gbe[fast]
    d_lo = g_doc_off[fb0]
    t_lo = g_tf_off[fb0]
    # the rebase below is only right if each group's first block starts
    # at its first row's first byte (blocks tile rows from offset 0)
    has = fb1 > fb0
    if not (
        np.array_equal(d_lo[has], doc_row_off[f_starts][has])
        and np.array_equal(t_lo[has], tf_row_off[f_starts][has])
    ):
        raise AssertionError(
            "merge fast path: a group's first block does not start at its "
            "first row's byte 0 (block tiling invariant broken)"
        )
    counts32 = counts.astype(np.int32)
    out = pd.DataFrame(
        {
            "term_bucket": tb[f_starts].astype(np.int32),
            "term": terms[f_starts],
            "chunk_id": chunks[f_starts],
            "slice": np.zeros(len(fast), dtype=np.int32),
            "df": g_df[fast].astype(np.int32),
            # single-copy payloads: one join of whole-row bytes per
            # group (b"".join returns the sole item itself for
            # singleton groups — zero copy)
            "doc_bytes": [
                b"".join(doc_bytes[s:e]) for s, e in zip(f_starts, f_ends)
            ],
            "tf_bytes": [
                b"".join(tf_bytes[s:e]) for s, e in zip(f_starts, f_ends)
            ],
            "block_first": [firsts[a:b] for a, b in zip(fb0, fb1)],
            "block_last": [lasts[a:b] for a, b in zip(fb0, fb1)],
            "block_count": [counts32[a:b] for a, b in zip(fb0, fb1)],
            "block_doc_off": [
                g_doc_off[a:b] - lo for a, b, lo in zip(fb0, fb1, d_lo)
            ],
            "block_tf_off": [
                g_tf_off[a:b] - lo for a, b, lo in zip(fb0, fb1, t_lo)
            ],
            "block_max_tf": [max_tf[a:b] for a, b in zip(fb0, fb1)],
            "block_min_dl": [min_dl[a:b] for a, b in zip(fb0, fb1)],
        }
    )
    split_rows: list[dict] = []
    for gi in np.nonzero(needs_split)[0]:
        s, e = starts[gi], ends[gi]
        g = {c: list(cols[c][s:e]) for c in (
            "doc_bytes", "tf_bytes", "block_first", "block_last",
            "block_count", "block_doc_off", "block_tf_off",
            "block_max_tf", "block_min_dl",
        )}
        split_rows.extend(
            _merge_group(
                g, str(terms[s]), int(chunks[s]), int(tb[s]), cap
            )
        )
    if split_rows:
        # re-sort so files stay strictly (term, chunk_id, slice)-ordered
        # — read_postings_for_terms/read_postings_arrow rely on term
        # ordering for parquet row-group min/max skipping. Split groups
        # are rare (salted stopwords), so this sort is nearly a no-op.
        out = pd.concat([out, pd.DataFrame(split_rows)], ignore_index=True)
        out = out.sort_values(
            ["term", "chunk_id", "slice"], kind="stable", ignore_index=True
        )
    return out


def _merge_iter_factory(config: EngineConfig):
    cap = config.max_row_postings

    def merge_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.runtime import limit_worker_threads

        limit_worker_threads()
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            # hold back the (possibly incomplete) final group
            last_term = pdf["term"].iloc[-1]
            last_chunk = pdf["chunk_id"].iloc[-1]
            in_last = (
                (pdf["term"].to_numpy() == last_term)
                & (pdf["chunk_id"].to_numpy() == last_chunk)
            )
            # groups are contiguous (sorted), so in_last is a suffix
            split = int(np.argmax(in_last)) if in_last.any() else len(pdf)
            head, carry = pdf.iloc[:split], pdf.iloc[split:]
            if len(head):
                yield _merge_batch(head, cap)
        if carry is not None and len(carry):
            yield _merge_batch(carry, cap)

    return merge_iter


def _merge_norms_kernel(config: EngineConfig):
    dpc = config.docs_per_chunk

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        (chunk_id,) = key
        base = int(chunk_id) * dpc
        pdf = pdf.sort_values("base_doc", kind="stable")
        hi = int((pdf["base_doc"] + pdf["n_slots"]).max())
        arr = np.zeros(max(hi - base, 0), dtype=np.int32)
        for b, n, raw in zip(pdf["base_doc"], pdf["n_slots"], pdf["dl_bytes"]):
            if n:
                lo = int(b) - base
                sl = arr[lo : lo + int(n)]
                # maximum-fill: ranged-build slices from interleaved
                # partitions can cover OVERLAPPING doc ranges where the
                # zero padding of one slice must not clobber another's
                # values. dl=0 means "no tokens" -> no postings -> never
                # scored, so max is exact for scoring.
                np.maximum(sl, np.frombuffer(raw, dtype=np.int32), out=sl)
        # exact per-chunk doc counts ride along (slices hold disjoint
        # doc SETS even when ranges interleave, so sums are exact);
        # compaction uses these to adjust corpus stats without ever
        # rescanning postings
        return pd.DataFrame(
            {
                "chunk_id": [int(chunk_id)],
                "base_doc": [base],
                "n_slots": [len(arr)],
                "dl_bytes": [arr.tobytes()],
                "n_docs": [int(pdf["n_docs"].sum())],
                "sum_dl": [int(pdf["sum_dl"].sum())],
            }
        )

    return kernel


def _merged_rows(spark, pre, config: EngineConfig):
    """The single merge shuffle. Keys are (term_bucket, chunk_id) —
    chunk_id is the built-in salt: a hot stopword term fans out across
    ALL chunks, so no reducer receives more than docs_per_chunk
    postings for one key. The partition id is COMPUTED as
    ``bucket * S + chunk % S`` (S = chunk sub-splits per bucket) so
    every reducer holds rows of ~one term_bucket: the partitionBy
    output then writes ~1 file per task instead of (tasks x buckets)
    files — at 64 reducers x 32 buckets the old layout produced ~2k
    small files whose serial job-commit (v1 committer renames, driver-
    side) dominated merge wall time and wrecked N-vs-4N scaling.
    Deterministic (no range-sampling pass), skew-bounded, and the
    output still lands partitioned by term_bucket for query pruning."""
    shuffle_parts = int(
        spark.conf.get("spark.sql.shuffle.partitions", "64")
    )
    s = max(1, shuffle_parts // config.term_buckets)
    pid = (
        F.col("term_bucket").cast("long") * s
        + F.pmod(F.col("chunk_id"), F.lit(s))
    )
    # RANGE partitioning on the computed pid: pids are dense 0..B*S-1
    # and uniform, so ranges assign ~one pid per reducer — balanced AND
    # bucket-aligned (plain hash repartition scatters the 64 pid values
    # unevenly: measured 2-3 buckets on some reducers = straggler tail).
    # The range sampler's scan is column-pruned to the pid inputs.
    return (
        pre.withColumn("_pid", pid)
        .repartitionByRange(config.term_buckets * s, "_pid")
        .drop("_pid")
        .sortWithinPartitions("term", "chunk_id", "seg_group", "sub")
        .mapInPandas(_merge_iter_factory(config), schema=POSTINGS_SCHEMA)
    )


def write_merged_delta(
    spark: SparkSession,
    store: IndexStore,
    config: EngineConfig,
    segs,
    build_norms,
    name: str,
) -> None:
    """Merge build-layer segment rows (SEGMENT_COLS) + norms rows
    (NORMS_COLS) into ONE atomically-published delta directory — the
    shared machinery behind incremental appends and delete compaction.
    Same single-shuffle plan as merge_segments; publication is a single
    directory rename, and an already-published delta is reused
    (idempotent crash recovery)."""
    import os
    import shutil

    if os.path.isdir(store.delta_path(name)):
        return
    spc = config.segments_per_chunk
    stage = store.delta_stage_path(name)
    shutil.rmtree(stage, ignore_errors=True)
    pre = (
        segs.withColumn("chunk_id", (F.col("seg_group") / spc).cast("long"))
        .withColumn(
            "term_bucket", term_bucket_col(F.col("term"), config.term_buckets)
        )
        .select(*_MERGE_IN_COLS)
    )
    merged = _merged_rows(spark, pre, config)
    (
        merged.write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(os.path.join(stage, "postings"))
    )
    (
        build_norms.withColumn(
            "chunk_id", (F.col("seg_group") / spc).cast("long")
        )
        .groupBy("chunk_id")
        .applyInPandas(_merge_norms_kernel(config), schema=CHUNK_NORMS_SCHEMA)
        .write.mode("overwrite")
        .parquet(os.path.join(stage, "norms"))
    )
    store.publish_delta(name)


def fold_deltas(spark: SparkSession, store: IndexStore) -> dict:
    """Force-merge analog (M6): fold the base + every visible delta +
    override into ONE compacted delta, then retire the originals. The
    reference's ForceMergesOnlyMergePolicy gives the driver explicit
    control of when segments collapse (ForceMergesOnlyMergePolicy.java:
    22-99); here the driver calls fold_deltas when the delta count
    makes per-query directory fan-out noticeable.

    Visible rows are ALREADY merged (chunk-disjoint), so folding never
    re-encodes: it re-partitions the rows into the bucket-aligned
    layout and rewrites them once. Visibility flips in the single
    stats.json swap (deltas=[folded], chunk_overrides={},
    base_retired=true); the dead base/delta files are GC'd after the
    swap, so a crash at any point leaves a consistent snapshot."""
    import hashlib as _hashlib
    import json as _json
    import os as _os
    import shutil as _shutil
    import time as _time

    stats, config = store.read_stats()
    if (
        len(stats.get("deltas", [])) <= 1
        and not stats.get("chunk_overrides")
        and stats.get("base_retired")
    ):
        return stats  # already a single folded layer
    # the folded delta's CONTENT is a function of the visible state at
    # fold time, so its NAME must be too: a bare fold_seq name could be
    # reused by a retried fold after a crash-then-append interleaving,
    # silently dropping the new delta's rows (round-2 ADVICE)
    visible = _hashlib.sha256(
        _json.dumps(
            [
                sorted(stats.get("deltas", [])),
                sorted(stats.get("chunk_overrides", {}).items()),
                bool(stats.get("base_retired")),
            ]
        ).encode()
    ).hexdigest()[:12]
    name = f"folded_{visible}"
    t0 = _time.perf_counter()
    if not _os.path.isdir(store.delta_path(name)):
        stage = store.delta_stage_path(name)
        _shutil.rmtree(stage, ignore_errors=True)
        rows = store.read_postings(spark, stats)
        shuffle_parts = int(
            spark.conf.get("spark.sql.shuffle.partitions", "64")
        )
        s = max(1, shuffle_parts // config.term_buckets)
        pid = (
            term_bucket_col(F.col("term"), config.term_buckets).cast("long") * s
            + F.pmod(F.col("chunk_id"), F.lit(s))
        )
        (
            rows.withColumn(
                "term_bucket",
                term_bucket_col(F.col("term"), config.term_buckets),
            )
            .withColumn("_pid", pid)
            .repartitionByRange(config.term_buckets * s, "_pid")
            .drop("_pid")
            .sortWithinPartitions("term", "chunk_id", "slice")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(_os.path.join(stage, "postings"))
        )
        store.read_norms(spark, stats).write.mode("overwrite").parquet(
            _os.path.join(stage, "norms")
        )
        store.publish_delta(name)

    old_deltas = set(stats.get("deltas", [])) | set(
        stats.get("chunk_overrides", {}).values()
    )
    base_was_live = not stats.get("base_retired")
    # compaction-rebuilt chunks stay on record: the integrity checker's
    # df-conservation invariant must keep excluding them after the
    # override mapping is folded away
    stats["rebuilt_chunks"] = sorted(
        set(stats.get("rebuilt_chunks", []))
        | {int(c) for c in stats.get("chunk_overrides", {})}
    )
    stats["deltas"] = [name]
    stats["chunk_overrides"] = {}
    stats["base_retired"] = True
    stats["fold_seq"] = int(stats.get("fold_seq", 0)) + 1
    stats.setdefault("merge_timings", {})["fold_sec"] = round(
        _time.perf_counter() - t0, 3
    )
    store.write_stats(stats, config)
    # GC: everything the new snapshot no longer references
    for d in old_deltas - {name}:
        _shutil.rmtree(store.delta_path(d), ignore_errors=True)
    if base_was_live:
        _shutil.rmtree(store.postings_path, ignore_errors=True)
        _shutil.rmtree(store.norms_path, ignore_errors=True)
    store.invalidate()
    return stats


def merge_segments(
    spark: SparkSession, store: IndexStore, config: EngineConfig = DEFAULT_CONFIG
) -> dict:
    """Merge the build layer into the global query index + dictionary +
    stats. Returns the merge report (also persisted in stats.json,
    including per-step wall times — the scaling bench uses them to
    attribute N-vs-4N efficiency loss to specific stages)."""
    import time

    t = {}
    t0 = time.perf_counter()
    segs = store.read_build_postings(spark)
    spc = config.segments_per_chunk

    pre = (
        segs.withColumn("chunk_id", (F.col("seg_group") / spc).cast("long"))
        .withColumn("term_bucket", term_bucket_col(F.col("term"), config.term_buckets))
        .select(_MERGE_IN_COLS)
    )
    merged = _merged_rows(spark, pre, config)
    (
        merged.write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(store.postings_path)
    )
    t["merge_postings_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()

    # global dictionary: two-stage exact df aggregation from partials,
    # written bucket-partitioned (same pruning as postings; at 10^12
    # turns the vocabulary is billions of terms — a single-partition
    # write would funnel them through one task). Skew stats piggyback
    # on the write job via an Observation — no second dictionary scan,
    # no extra driver barrier.
    import os

    from pyspark.sql import Observation

    obs = Observation("dict_skew")
    dictionary = (
        segs.groupBy("term")
        .agg(F.sum("df").alias("df"))
        .observe(
            obs,
            F.max("df").alias("max_df"),
            F.avg("df").alias("mean_df"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )
    n_waves = (
        len([d for d in os.listdir(store.build_path) if d.startswith("wave=")])
        if os.path.exists(store.build_path)
        else 0
    )
    dict_seq, dict_fresh = store.write_dictionary(
        dictionary, config, covers=f"full-wave{n_waves}"
    )
    t["merge_dictionary_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()

    # chunk norms
    norms = store.read_build_norms(spark)
    (
        norms.withColumn("chunk_id", (F.col("seg_group") / spc).cast("long"))
        .groupBy("chunk_id")
        .applyInPandas(_merge_norms_kernel(config), schema=CHUNK_NORMS_SCHEMA)
        .write.mode("overwrite")
        .parquet(store.norms_path)
    )
    t["merge_norms_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()

    # corpus stats from manifest partials (additive — the reference's
    # "refine, don't retrain" analog) + skew report
    man = store.read_manifest(spark)
    agg = man.agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("sum_dl").alias("sum_dl"),
        F.sum("n_postings").alias("n_postings"),
        F.sum("postings_bytes").alias("postings_bytes"),
        F.count("*").alias("n_segments"),
        F.max("seg_group").alias("max_seg"),
    ).collect()[0]
    if dict_fresh:
        skew = obs.get  # collected during the dictionary write job
    else:
        skew = (
            store.read_dictionary(spark)
            .agg(
                F.max("df").alias("max_df"),
                F.avg("df").alias("mean_df"),
                F.count("*").alias("n_terms"),
            )
            .collect()[0]
            .asDict()
        )
    n_docs = int(agg["n_docs"] or 0)
    stats = {
        "n_docs": n_docs,
        "sum_dl": int(agg["sum_dl"] or 0),
        "avgdl": (int(agg["sum_dl"] or 0) / n_docs) if n_docs else 0.0,
        "n_postings": int(agg["n_postings"] or 0),
        "postings_bytes": int(agg["postings_bytes"] or 0),
        "n_segments": int(agg["n_segments"]),
        "n_chunks": (
            int(agg["max_seg"]) // config.segments_per_chunk + 1
            if agg["max_seg"] is not None
            else 0
        ),
        "n_terms": int(skew["n_terms"] or 0),
        "max_df": int(skew["max_df"] or 0),
        "term_skew_ratio": (
            float(skew["max_df"]) / float(skew["mean_df"])
            if skew["mean_df"]
            else 1.0
        ),
        "dict_version": dict_seq,
    }
    t["merge_stats_sec"] = round(time.perf_counter() - t0, 3)
    stats["merge_timings"] = t
    store.write_stats(stats, config)
    store.gc_dictionaries(dict_seq)
    return stats
