"""Nested (parent-child) vector search.

Reference parity: the kNN plugin supports vector fields inside NESTED
documents — one parent doc owns many child vectors. A nested knn query
scores each parent by its BEST-scoring child vector and returns the
top-k parents (``InternalNestedKnnVectorQuery.java`` — Lucene's
diversifying-children kNN underneath), and the ``expand_nested_docs``
option additionally exact-scores EVERY child vector of those winning
parents so all nested docs come back scored, not only the best one
(``ExpandNestedDocsQuery.java:40-47``: ANN pass -> top-k parents ->
``getAllSiblings`` -> exact search with k = Integer.MAX_VALUE).

Layout invariant: Lucene block-join keeps a parent's child docs
CONTIGUOUS in docId order; we keep the same invariant on ``vec_id``
with a fixed fanout (children of parent ``p`` are ids
``[p*c, (p+1)*c)``), which turns the expand pass's sibling lookup into
parquet-pushable ``vec_id >= lo AND vec_id <= hi`` ranges — the Spark
analog of the parent-BitSet sibling walk
(``NestedPerFieldParentToDocIdIterator.java``).

Spark-first shapes:
  * per-parent best child = ``groupBy(parent).agg(max(struct(score,
    -vec_id)))`` — a hash aggregate with map-side partial combine (one
    surviving row per parent per task), NOT a window over all children
    (which would sort-shuffle the full child set);
  * top-k parents = TakeOrderedAndProject, same as every other top-k
    in this engine;
  * expand = the k winning parents become a handful of pushable id
    ranges; the sibling read prunes row groups instead of re-scanning
    the corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import (
    _all_cell_paths,
    _apply_allow,
    _apply_deny,
    _as_double,
    _cell_paths,
    _deny_info,
    _dot,
    _probe_cells,
    space_score_col,
)


def parent_col(cpp: int, id_col: str = "vec_id"):
    """Parent id of a child vector under the fixed-fanout contiguous
    layout (Lucene block-join's children-adjacent-to-parent invariant,
    ``ParentChildHelper.java``)."""
    if cpp <= 0:
        raise ValueError(f"children_per_parent must be positive, got {cpp}")
    return F.floor(F.col(id_col) / F.lit(int(cpp))).cast("long")


def sibling_range_pred(parent_ids, cpp: int, id_col: str = "vec_id"):
    """OR-of-ranges predicate selecting ALL children of the given
    parents. Plain comparisons on the stored id column, so the parquet
    reader gets PushedFilters and row-group min/max pruning applies —
    adjacent parents coalesce into one range."""
    ps = sorted({int(p) for p in parent_ids})
    if not ps:
        raise ValueError("no parent ids to expand")
    # coalesce adjacent parents into maximal contiguous id ranges
    ranges: list[tuple[int, int]] = []
    for p in ps:
        lo, hi = p * cpp, (p + 1) * cpp - 1
        if ranges and ranges[-1][1] + 1 == lo:
            ranges[-1] = (ranges[-1][0], hi)
        else:
            ranges.append((lo, hi))
    pred = None
    for lo, hi in ranges:
        r = (F.col(id_col) >= lo) & (F.col(id_col) <= hi)
        pred = r if pred is None else (pred | r)
    return pred


def _best_child(scored: DataFrame, score_name: str) -> DataFrame:
    """(parent_id, vec_id, <score>) — each parent's best-scoring child,
    ties to the lowest vec_id. max(struct(score, -vec_id)) orders
    lexicographically: highest score first, then highest -vec_id ==
    lowest vec_id; a hash aggregate with partial map-side combine."""
    best = scored.groupBy("parent_id").agg(
        F.max(
            F.struct(
                F.col(score_name).alias("s"),
                (-F.col("vec_id")).alias("nid"),
            )
        ).alias("b")
    )
    return best.select(
        "parent_id",
        (-F.col("b.nid")).cast("long").alias("vec_id"),
        F.col("b.s").alias(score_name),
    )


def _rank_parents(best: DataFrame, k: int, score_name: str) -> DataFrame:
    topk = best.orderBy(F.desc(score_name), F.asc("parent_id")).limit(k)
    w = Window.orderBy(F.desc(score_name), F.asc("parent_id"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "parent_id",
        "vec_id",
        F.round(score_name, 6).alias(score_name),
        "rank",
    )


def _score_children(
    embeddings: DataFrame,
    query_vec,
    cpp: int,
    space: str,
    id_col: str,
    vec_col: str,
    score_name: str,
    filter_ids,
) -> DataFrame:
    """(parent_id, vec_id, <score>) — one scan, exact scores."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    e = embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"),
        _as_double(F.col(vec_col)).alias("v"),
    )
    e = _apply_allow(e, filter_ids)
    return e.select(
        parent_col(cpp).alias("parent_id"),
        "vec_id",
        space_score_col(F.col("v"), q, space).alias(score_name),
    )


def nested_topk(
    embeddings: DataFrame,
    query_vec,
    k: int,
    children_per_parent: int,
    space: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_name: str = "score",
    filter_ids=None,
) -> DataFrame:
    """(parent_id, vec_id, <score>, rank) — top-k PARENTS, each scored
    by its best child vector (the nested knn query's diversified
    semantics); ``vec_id`` is that best child (the inner hit).
    ``filter_ids`` restricts which children may match (acceptDocs,
    same contract as the flat filtered search)."""
    scored = _score_children(
        embeddings, query_vec, children_per_parent, space,
        id_col, vec_col, score_name, filter_ids,
    )
    return _rank_parents(_best_child(scored, score_name), k, score_name)


def nested_expand(
    embeddings: DataFrame,
    query_vec,
    k: int,
    children_per_parent: int,
    space: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_name: str = "score",
    filter_ids=None,
) -> DataFrame:
    """(parent_id, vec_id, <score>, parent_rank, child_rank) — ALL
    children of the top-k parents, each exactly scored
    (``ExpandNestedDocsQuery``: after the kNN pass picks parents, every
    sibling gets a real score so nested inner hits are complete).
    ``filter_ids`` masks children in BOTH passes, mirroring the
    queryFilter handed to ``getAllSiblings``.

    Two passes, one corpus scan: pass 1 is the nested top-k; its k
    winning parents collect to the driver and pass 2 re-reads ONLY
    their sibling id ranges (coalesced pushable predicates on the
    stored id — k*cpp rows, not a second corpus-wide scoring pass,
    which is what a self-join of the scored frame would replan to)."""
    winners = nested_topk(
        embeddings, query_vec, k, children_per_parent, space,
        id_col, vec_col, score_name, filter_ids,
    )
    wrows = winners.select("parent_id", "rank").collect()
    spark = embeddings.sparkSession
    if not wrows:
        return spark.createDataFrame(
            [],
            f"parent_id long, vec_id long, {score_name} double, "
            "parent_rank int, child_rank int",
        )
    pred = sibling_range_pred(
        [r["parent_id"] for r in wrows], children_per_parent, id_col
    )
    scored = _score_children(
        embeddings.filter(pred), query_vec, children_per_parent, space,
        id_col, vec_col, score_name, filter_ids,
    )
    rank_df = F.broadcast(
        spark.createDataFrame(
            [(int(r["parent_id"]), int(r["rank"])) for r in wrows],
            "parent_id long, parent_rank int",
        )
    )
    w = Window.partitionBy("parent_id").orderBy(
        F.desc(score_name), F.asc("vec_id")
    )
    return (
        scored.join(rank_df, "parent_id")
        .withColumn("child_rank", F.row_number().over(w))
        .select(
            "parent_id",
            "vec_id",
            F.round(score_name, 6).alias(score_name),
            "parent_rank",
            "child_rank",
        )
    )


def _exact_scores(
    spark, paths, qv, space, score_name, extra_filter=None,
    filter_ids=None, deny=None,
) -> DataFrame:
    """(vec_id, <score>) Catalyst float64 scores of the child vectors
    under ``paths`` against ``qv``, allow-list and tombstones applied."""
    q = F.array(*[F.lit(float(x)) for x in qv])
    qn = F.lit(float(np.linalg.norm(qv)))
    df = spark.read.schema(
        "vec_id long, v array<double>, norm double"
    ).parquet(*paths)
    if extra_filter is not None:
        df = df.filter(extra_filter)
    df = _apply_deny(_apply_allow(df, filter_ids), deny)
    if space == "cosine":
        score = _dot(F.col("v"), q) / (F.col("norm") * qn)
    else:
        score = space_score_col(F.col("v"), q, space, vnorm=F.col("norm"))
    return df.select("vec_id", score.alias(score_name))


def ivf_query_nested(
    spark,
    index_dir: str,
    query_vec,
    k: int,
    children_per_parent: int,
    n_probe: int = 4,
    space: str = "cosine",
    expand: bool = False,
    filter_ids=None,
) -> DataFrame:
    """Nested search against the persisted IVF index: probe ``n_probe``
    cells, score their children exactly, rank parents by best child.
    Approximate in the same way flat IVF is — a parent whose best child
    lives outside the probed cells can be missed.

    ``expand=True`` adds the ExpandNestedDocsQuery second pass: the k
    winning parents collect to the driver (k rows) and their sibling
    sets are re-read from the FULL index via coalesced pushable
    ``vec_id`` ranges — children in non-probed cells are found by
    row-group pruning, not a corpus re-scan (the reference likewise
    leaves ANN for an exact sibling-iterator search in pass 2)."""
    qv = np.asarray(query_vec, dtype=np.float64)
    score_name = "cos" if space == "cosine" else "score"
    probe = _probe_cells(index_dir, qv, n_probe, space)
    paths = _cell_paths(index_dir, probe)
    if not paths:
        schema = (
            f"parent_id long, vec_id long, {score_name} double, "
            + ("parent_rank int, child_rank int" if expand else "rank int")
        )
        return spark.createDataFrame([], schema)
    deny = _deny_info(index_dir)
    scored = _exact_scores(
        spark, paths, qv, space, score_name, filter_ids=filter_ids,
        deny=deny,
    ).withColumn("parent_id", parent_col(children_per_parent))
    winners = _rank_parents(_best_child(scored, score_name), k, score_name)
    if not expand:
        return winners
    wrows = winners.select("parent_id", "rank").collect()
    if not wrows:
        return spark.createDataFrame(
            [],
            f"parent_id long, vec_id long, {score_name} double, "
            "parent_rank int, child_rank int",
        )
    pred = sibling_range_pred(
        [r["parent_id"] for r in wrows], children_per_parent
    )
    rank_df = F.broadcast(
        spark.createDataFrame(
            [(int(r["parent_id"]), int(r["rank"])) for r in wrows],
            "parent_id long, parent_rank int",
        )
    )
    sib = _exact_scores(
        spark,
        _all_cell_paths(index_dir),
        qv,
        space,
        score_name,
        extra_filter=pred,
        filter_ids=filter_ids,
        deny=deny,
    ).withColumn("parent_id", parent_col(children_per_parent))
    w = Window.partitionBy("parent_id").orderBy(
        F.desc(score_name), F.asc("vec_id")
    )
    return (
        sib.join(rank_df, "parent_id")
        .withColumn("child_rank", F.row_number().over(w))
        .select(
            "parent_id",
            "vec_id",
            F.round(score_name, 6).alias(score_name),
            "parent_rank",
            "child_rank",
        )
    )
