"""Round-5 ADVICE fixes.

1. Swap-journal gating of read-path recovery: a query racing a LIVE
   compaction must never delete the staged ``.compact`` replacement
   (round-4 ADVICE medium — that race permanently lost a cell's
   surviving rows); recovery still runs when the journal's owner pid
   is provably dead, and when no journal exists at all (legacy crash).
2. Hash-mode PQ training sample stays order-unbiased in the
   pq_sample <= n < 2*pq_sample window (ceil, not floor).
3. Legacy stream batch tags: a checkpoint that published a batch under
   the pre-round-5 ``stream-{batch_id}`` spelling must not be
   double-appended when replayed under the checkpoint-scoped tag.
4. The merge fast path asserts the block tiling invariant it rebases
   offsets on, instead of silently mis-slicing a malformed row.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from opensearch_jvector_spark.operators import similarity as sim
from opensearch_jvector_spark.operators.similarity import (
    _pq_training_sample,
    _recover_cell_swaps,
    ivf_append,
    ivf_build,
    ivf_query,
)

SF01 = "/root/testdata/sf0.01/embeddings.parquet"


def _emb(spark):
    return spark.read.parquet(SF01)


def _qvec(spark, vid=0):
    row = _emb(spark).filter(F.col("vec_id") == vid).first()
    return [float(x) for x in row["embedding"]]


# ------------------------------------------------- swap journal gating


def _mk_swap_state(tmp_path):
    """cells tree mid-swap: cell=0 live is GONE (renamed to .trash),
    its staged replacement stands at .compact — exactly the window
    between the compactor's two renames."""
    cells = tmp_path / "cells"
    for name in ("cell=0.compact", "cell=0.trash", "cell=1"):
        (cells / name).mkdir(parents=True)
        (cells / name / "part-0.parquet").write_bytes(b"x")
    return str(cells)


def test_recovery_skips_while_owner_alive(tmp_path):
    cells = _mk_swap_state(tmp_path)
    sim._write_swap_journal(cells, [0])  # this live process owns it
    _recover_cell_swaps(cells)
    # nothing touched: the compactor will finish its own swap
    assert os.path.isdir(os.path.join(cells, "cell=0.compact"))
    assert os.path.isdir(os.path.join(cells, "cell=0.trash"))
    assert os.path.exists(os.path.join(cells, sim._SWAP_JOURNAL))


def test_recovery_rolls_forward_when_owner_dead(tmp_path):
    cells = _mk_swap_state(tmp_path)
    p = os.path.join(cells, sim._SWAP_JOURNAL)
    with open(p, "w") as f:
        json.dump({"pid": 2**22 + 12345, "start": 1, "cells": [0]}, f)
    _recover_cell_swaps(cells)
    # crash proven (pid dead): staged replacement promoted, leftovers
    # and journal cleared
    assert os.path.isdir(os.path.join(cells, "cell=0"))
    assert not os.path.isdir(os.path.join(cells, "cell=0.compact"))
    assert not os.path.isdir(os.path.join(cells, "cell=0.trash"))
    assert not os.path.exists(p)


def test_recovery_detects_pid_reuse_via_starttime(tmp_path):
    cells = _mk_swap_state(tmp_path)
    p = os.path.join(cells, sim._SWAP_JOURNAL)
    # live pid, wrong starttime => a REUSED pid, owner actually dead
    with open(p, "w") as f:
        json.dump({"pid": os.getpid(), "start": -1, "cells": [0]}, f)
    _recover_cell_swaps(cells)
    assert os.path.isdir(os.path.join(cells, "cell=0"))
    assert not os.path.exists(p)


def test_recovery_without_journal_still_recovers(tmp_path):
    # legacy crash (pre-journal layout): behave as before
    cells = _mk_swap_state(tmp_path)
    _recover_cell_swaps(cells)
    assert os.path.isdir(os.path.join(cells, "cell=0"))
    assert not os.path.isdir(os.path.join(cells, "cell=0.compact"))


def test_compaction_clears_journal_and_live_queries_pass(spark, tmp_path):
    from opensearch_jvector_spark.operators.similarity import (
        ivf_compact_deletes,
        ivf_delete,
    )

    d = str(tmp_path / "idx")
    ivf_build(_emb(spark), d, n_centroids=8, kmeans_iters=1)
    q = _qvec(spark)
    before = [
        (r["vec_id"], r["rank"])
        for r in ivf_query(spark, d, q, k=5, n_probe=8).collect()
    ]
    ivf_delete(d, [before[0][0]])
    ivf_compact_deletes(spark, d)
    assert not os.path.exists(
        os.path.join(d, "cells", sim._SWAP_JOURNAL)
    )
    after = [
        r["vec_id"] for r in ivf_query(spark, d, q, k=5, n_probe=8).collect()
    ]
    assert before[0][0] not in after


# ------------------------------------------- hash sample: ceil window


def test_pq_sample_hash_unbiased_in_ceil_window(spark):
    # n=500, pq_sample=400 -> the floor rule kept EVERY row and the
    # orderBy+limit took ids 0..399 exactly (first-N bias); ceil keeps
    # roughly half and the kept set must span the id range
    e = _emb(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = e.count()
    assert 400 <= n < 800  # the degenerate window for pq_sample=400
    sample = _pq_training_sample(e, 400)
    kept = (
        e.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(2)) == 0)
        .orderBy("vec_id").limit(400)
        .select("vec_id").collect()
    )
    kept_ids = [r["vec_id"] for r in kept]
    assert len(sample) == len(kept_ids) <= 400
    # spans the top quarter of the id range, which first-N never does
    assert max(kept_ids) > n * 0.75


# ----------------------------------------------- legacy stream tags


def test_ivf_append_legacy_tag_not_double_published(spark, tmp_path):
    d = str(tmp_path / "idx")
    base = _emb(spark).filter(F.col("vec_id") < 400)
    tail = _emb(spark).filter(F.col("vec_id") >= 400)
    ivf_build(base, d, n_centroids=8, kmeans_iters=1)

    # old-format run published the batch under stream-7
    r1 = ivf_append(spark, d, tail, batch_tag="stream-7")
    assert r1["files_moved"] > 0
    n_files = sum(len(fs) for _, _, fs in os.walk(os.path.join(d, "cells")))

    # upgraded replay of the SAME batch under the checkpoint-scoped tag
    r2 = ivf_append(
        spark, d, tail, batch_tag="stream-abcd1234-7",
        legacy_tags=("stream-7",),
    )
    assert r2["files_moved"] == 0
    assert r2["files_skipped"] > 0
    n_files2 = sum(len(fs) for _, _, fs in os.walk(os.path.join(d, "cells")))
    assert n_files2 == n_files
    # and the index answers without duplicates
    q = _qvec(spark, 450)
    got = ivf_query(spark, d, q, k=5, n_probe=8).collect()
    assert len({r["vec_id"] for r in got}) == 5


def test_append_index_legacy_tag_skips(spark, tmp_path):
    from opensearch_jvector_spark.config import TEST_CONFIG
    from opensearch_jvector_spark.operators.segment_build import build_index
    from opensearch_jvector_spark.sources.index_store import IndexStore
    from opensearch_jvector_spark.streaming.incremental import append_index

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    root = str(tmp_path / "store")
    build_index(spark, docs.filter(F.col("doc_id") < 80), root, TEST_CONFIG)
    store = IndexStore(root)
    tail = docs.filter(F.col("doc_id") >= 80).select(
        F.lit("c").alias("conv_id"), F.col("doc_id").alias("turn_idx"),
        "text",
    )
    s1 = append_index(spark, store, tail, batch_tag="stream-3")
    n_docs = s1["n_docs"]
    s2 = append_index(
        spark, store, tail, batch_tag="stream-beef00-3",
        legacy_tags=("stream-3",),
    )
    assert s2["n_docs"] == n_docs  # no double count


# ------------------------------------------ merge block tiling invariant


def _merge_row(first_doc_off: int) -> dict:
    return {
        "term": "t", "chunk_id": 0, "term_bucket": 0, "seg_group": 0,
        "sub": 0, "df": 2, "doc_bytes": b"\x00" * 8, "tf_bytes": b"\x00" * 4,
        "block_first": [0, 5], "block_last": [4, 9], "block_count": [1, 1],
        "block_doc_off": [first_doc_off, 5], "block_tf_off": [0, 2],
        "block_max_tf": [1, 1], "block_min_dl": [1, 1],
    }


def test_merge_fast_path_asserts_block_tiling():
    import pandas as pd

    from opensearch_jvector_spark.operators.merge import _merge_batch

    out = _merge_batch(pd.DataFrame([_merge_row(0)]), cap=1 << 20)
    assert list(out["block_doc_off"][0]) == [0, 5]
    with pytest.raises(AssertionError, match="tiling"):
        _merge_batch(pd.DataFrame([_merge_row(2)]), cap=1 << 20)
