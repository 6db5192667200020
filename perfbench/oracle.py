"""The benchmark's own answers, computed without the program.

* BM25 over a numpy inverted index, from the formula in
  ``functions/bm25.py`` (k1=1.2, b=0.75, Lucene idf), the tokenizer
  spec (lowercase, split on ``[^a-z0-9]+``, drop empties) and doc_id as
  the dense rank of (conv_id, turn_idx).
* Brute-force cosine over live, allowed vectors.
* ``check`` compares a ranked answer with the oracle's full ranking:
  same length, every returned id a live allowed match carrying its
  oracle score, scores equal rank by rank, order (score desc, id asc).

``python3 perfbench/oracle.py`` runs the checker self-test: perturbed
answers (a swapped rank, a score off by 1e-6, a deleted doc) must each
be flagged, and the true answer must pass.
"""

from __future__ import annotations

import json
import re
import sys

import numpy as np

K1, B = 1.2, 0.75
TOL = 1e-9  # summation order differs between engines by ~1 ulp
_SPLIT = re.compile(r"[^a-z0-9]+")


def tokenize(text: str) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t]


def dense_rank(conv_id, turn_idx) -> np.ndarray:
    """doc_id of each row: rank of (conv_id, turn_idx) ascending."""
    order = sorted(range(len(conv_id)), key=lambda i: (conv_id[i], turn_idx[i]))
    rank = np.empty(len(order), dtype=np.int64)
    rank[np.asarray(order, dtype=np.int64)] = np.arange(len(order))
    return rank


class BM25:
    """Docs the index should hold; ``tombstone`` masks docs while
    corpus statistics keep counting them, as the engine documents for
    deletes before compaction."""

    def __init__(self, doc_ids, texts):
        self.ids = np.asarray(doc_ids, dtype=np.int64)
        self.texts = list(texts)
        self.dead = np.zeros(len(self.ids), dtype=bool)
        self._index()

    def add(self, doc_ids, texts) -> None:
        self.ids = np.concatenate((self.ids, np.asarray(doc_ids, dtype=np.int64)))
        self.texts += list(texts)
        self.dead = np.concatenate((self.dead, np.zeros(len(doc_ids), dtype=bool)))
        self._index()

    def tombstone(self, doc_ids) -> None:
        self.dead |= np.isin(self.ids, np.asarray(doc_ids, dtype=np.int64))

    def _index(self) -> None:
        toks = [tokenize(t) for t in self.texts]
        self.dl = np.array([len(t) for t in toks], dtype=np.float64)
        flat = np.array([w for t in toks for w in t])
        doc = np.repeat(np.arange(len(toks)), [len(t) for t in toks])
        terms, term_of = np.unique(flat, return_inverse=True)
        key, tf = np.unique(term_of * len(toks) + doc, return_counts=True)
        t_of, d_of = key // len(toks), key % len(toks)
        cuts = np.searchsorted(t_of, np.arange(len(terms) + 1))
        self.post = {
            str(w): (d_of[cuts[i]:cuts[i + 1]], tf[cuts[i]:cuts[i + 1]])
            for i, w in enumerate(terms)
        }
        self.n = float(len(toks))
        self.avgdl = float(self.dl.sum()) / self.n

    def live_ids(self) -> np.ndarray:
        return self.ids[~self.dead]

    def ranking(self, terms, allow=None) -> tuple[np.ndarray, np.ndarray]:
        """Every live (and allowed) doc matching a term, as
        (doc_ids, scores) sorted by score desc, doc_id asc."""
        acc = np.zeros(len(self.ids))
        hit = np.zeros(len(self.ids), dtype=bool)
        for t in sorted(set(terms)):
            if t not in self.post:
                continue
            d, tf = self.post[t]
            df = float(len(d))
            idf = np.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            tf = tf.astype(np.float64)
            acc[d] += idf * (tf * (K1 + 1.0)) / (
                tf + K1 * (1.0 - B + B * (self.dl[d] / self.avgdl))
            )
            hit[d] = True
        hit &= ~self.dead
        if allow is not None:
            hit &= np.isin(self.ids, allow)
        ids, s = self.ids[hit], acc[hit]
        order = np.lexsort((ids, -s))
        return ids[order], s[order]


class Cosine:
    """Brute-force cosine over the live vectors."""

    def __init__(self, ids, X):
        # kept in id order, so a stable sort by score breaks ties by id
        by_id = np.argsort(ids, kind="stable")
        self.ids = np.asarray(ids, dtype=np.int64)[by_id]
        self.X = np.asarray(X, dtype=np.float64)[by_id]
        n = np.linalg.norm(self.X, axis=1)
        self.norms = np.where(n == 0, 1.0, n)
        self.dead = np.zeros(len(self.ids), dtype=bool)

    def tombstone(self, ids) -> None:
        self.dead |= np.isin(self.ids, np.asarray(ids, dtype=np.int64))

    def ranking(self, q, allow=None) -> tuple[np.ndarray, np.ndarray]:
        q = np.asarray(q, dtype=np.float64)
        qn = float(np.sqrt(q @ q)) or 1.0
        s = (self.X @ q) / (self.norms * qn)
        keep = ~self.dead
        if allow is not None:
            keep &= np.isin(self.ids, allow)
        ids, s = self.ids[keep], s[keep]
        order = np.argsort(-s, kind="stable")
        return ids[order], s[order]


def check(got_ids, got_scores, exp_ids, exp_scores, k: int, exact: bool = True, tol: float = TOL):
    """None when the answer is right, else the reason it is wrong.

    ``exp_*`` is the oracle's full ranking of every eligible item.
    Exact answers must equal its top-k rank by rank (ties within
    ``tol`` may swap places); approximate ones must hold at most k
    eligible, distinct items, each with its true score, in (score
    desc, id asc) order. ``tol`` is relative above 1 and absolute
    below (answers rounded to 6 decimals use 5e-7)."""
    got_ids = np.asarray(got_ids, dtype=np.int64)
    got_scores = np.asarray(got_scores, dtype=np.float64)
    n_exp = min(k, len(exp_ids))
    if exact and len(got_ids) != n_exp:
        return f"{len(got_ids)} results, expected {n_exp}"
    if len(got_ids) > k:
        return f"{len(got_ids)} results for k={k}"
    if len(np.unique(got_ids)) != len(got_ids):
        return "duplicate ids"
    by_id = np.argsort(exp_ids, kind="stable")
    pos = np.searchsorted(exp_ids[by_id], got_ids)
    pos = np.minimum(pos, max(len(exp_ids) - 1, 0))
    if len(got_ids) and (
        not len(exp_ids) or (exp_ids[by_id][pos] != got_ids).any()
    ):
        return "an id that is deleted, filtered out or matches no term"
    true = exp_scores[by_id][pos] if len(got_ids) else got_scores
    if (np.abs(got_scores - true) > tol * np.maximum(1.0, np.abs(true))).any():
        return "a score differs from the oracle's"
    d = np.diff(got_scores)
    tie = (d == 0) & (np.diff(true) == 0)
    if (d > 0).any() or (tie & (np.diff(got_ids) < 0)).any():
        return "not ordered by score desc, id asc"
    if exact:
        ref = exp_scores[:n_exp]
        if (np.abs(got_scores - ref) > tol * np.maximum(1.0, np.abs(ref))).any():
            return "a better-scoring item is missing"
    return None


def recall(got_ids, exp_ids, k: int) -> float:
    """recall@k of an answer against the exact ranking (1.0 when the
    exact answer is empty)."""
    truth = set(np.asarray(exp_ids[:k]).tolist())
    if not truth:
        return 1.0
    return len(truth & set(np.asarray(got_ids[:k]).tolist())) / len(truth)


def selftest() -> dict:
    """Feed the checker perturbed answers; each must be flagged.
    Returns {case: flagged?}; 'true_answer' must be False."""
    texts = [
        "Alpha beta, gamma", "alpha alpha-beta", "beta. delta", "ALPHA",
        "gamma/gamma delta", "alpha beta gamma delta", "beta beta", "alpha",
    ]
    o = BM25(np.arange(len(texts)) * 3, texts)
    o.tombstone([9])  # doc_id 9 = "ALPHA": masked, still counted
    ids, s = o.ranking(["alpha", "beta"])
    k = 4
    good_ids, good_s = ids[:k].copy(), s[:k].copy()
    swapped_ids, swapped_s = good_ids.copy(), good_s.copy()
    swapped_ids[[0, 1]], swapped_s[[0, 1]] = good_ids[[1, 0]], good_s[[1, 0]]
    off_s = good_s.copy()
    off_s[1] += 1e-6
    deleted_ids = good_ids.copy()
    deleted_ids[-1] = 9
    cases = {
        "true_answer": (good_ids, good_s),
        "swapped_rank": (swapped_ids, swapped_s),
        "score_off_1e-6": (good_ids, off_s),
        "deleted_doc": (deleted_ids, good_s),
    }
    out = {}
    for name, (gi, gs) in cases.items():
        out[name] = check(gi, gs, ids, s, k) is not None
    # the ANN checker shares ``check``; perturb a cosine answer too
    rng = np.random.default_rng(0)
    c = Cosine(np.arange(50), rng.normal(size=(50, 8)))
    c.tombstone([7])
    q = rng.normal(size=8)
    cids, cs = c.ranking(q)
    alive = Cosine(np.arange(50), c.X)
    aids, as_ = alive.ranking(q)
    j = int(np.nonzero(aids == 7)[0][0])
    dead_in = np.concatenate((cids[:2], [7]))
    dead_s = np.concatenate((cs[:2], [as_[j]]))
    out["ann_deleted_vector"] = check(dead_in, dead_s, cids, cs, 10, exact=False) is not None
    return out


def selftest_ok(res: dict) -> bool:
    return not res["true_answer"] and all(v for n, v in res.items() if n != "true_answer")


if __name__ == "__main__":
    r = selftest()
    print(json.dumps(r))
    sys.exit(0 if selftest_ok(r) else 1)
