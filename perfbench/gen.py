"""Seeded input generators for the benchmark.

Every input the program sees is made here from the workload seed: the
transcript tables, the query streams and the embedding vectors. The
same seed gives byte-identical inputs. The program receives only what
these functions write (parquet files) or return (query terms, vectors).

Write one workload's inputs, exactly as a run of that workload uses
them, to a directory:

    python3 perfbench/gen.py bm25 --seed 7 --out inputs/
    python3 perfbench/gen.py ann --seed 7 --out inputs/

The tables the program reads go to ``<name>.parquet``; the query
streams the client sends go to ``queries.parquet`` (one row per query,
tagged with its stream).
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes of what the workloads read (recorded in perfbench/README.md) ----
TURNS = 10_000  # base transcript table
APPEND_TURNS = 2_000  # one appended table
VECTORS = 16_000  # above the program's small-index exact bypass (15,000)
MAX_ROUNDS = 12  # query streams hold this many rounds; a run stops there
ALLOW_SHARES = (0.01, 0.2)  # bm25 filter selectivities, one per round in turn
BM25_BATCHES = 4  # multi-query batches per bm25 round
ANN_LOCAL = 200  # LocalIvfSearcher queries per ann round
ANN_BATCH = 512  # queries in the ann round's one ivf_query_batch

# ---- corpus make-up ----
VOCAB = 5000  # terms w00000..w04999
ZIPF_S = 1.1  # term frequency ~ 1 / rank^s
MEAN_LEN = 12  # tokens per turn ~ 1 + Poisson(MEAN_LEN - 1)
MEAN_TURNS = 8  # turns per conversation ~ U{1 .. 2*MEAN_TURNS - 1}
UPPER_P = 0.1  # share of tokens written with a capital first letter
# separators between tokens; the tokenizer splits on [^a-z0-9]+
SEPS = np.array([" ", " ", " ", " ", ", ", ". ", "-", " / ", "? "])
ZERO_HIT_PREFIX = "zq"  # never a vocabulary word: zero-hit query terms

# query term classes by Zipf rank: name -> [lo, hi)
TERM_CLASSES = {"head": (0, 10), "torso": (10, 500), "tail": (500, VOCAB), "zero": None}
# one block of single queries: (term classes, k). Every block has the
# same mix (head 21%, torso 37%, tail 34%, zero-hit 8% of terms;
# k=100 for 30% of queries), so a run's latency median does not hang
# on how many cheap or costly queries its seed happened to draw.
QUERY_BLOCK = (
    (("head",), 10), (("torso",), 10), (("tail",), 10), (("zero",), 10),
    (("head",), 100), (("torso",), 100), (("tail",), 100),
    (("head", "torso"), 10), (("torso", "tail"), 10), (("head", "tail"), 10),
    (("torso", "zero"), 10), (("torso", "torso"), 10), (("tail", "tail"), 10),
    (("head", "torso"), 100), (("torso", "tail"), 100),
    (("head", "torso", "tail"), 10), (("torso", "torso", "tail"), 10),
    (("head", "tail", "tail"), 10), (("torso", "tail", "zero"), 10),
    (("head", "torso", "tail"), 100),
)
FILTERED_BLOCK = ((("torso", "tail"), 10),)
BATCH_SIZE = 2 * len(QUERY_BLOCK)  # two whole blocks per bm25 batch

# ---- embeddings make-up ----
DIM = 128
CLUSTERS = 32
SPREAD = 0.35  # norm of the noise around unit-norm cluster centres


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input kind, all from the workload seed."""
    tag = sum((i + 1) * ord(c) for i, c in enumerate(stream))
    return np.random.default_rng([int(seed), tag])


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    c = np.cumsum(w)
    return c / c[-1]


def vocab() -> np.ndarray:
    return np.array([f"w{i:05d}" for i in range(VOCAB)])


def transcripts(seed: int, n_turns: int, stream: str = "base") -> pa.Table:
    """A transcript table of about ``n_turns`` turns:
    (conv_id, turn_idx, role, text, tool, ts), rows in shuffled order.

    conv_id is a random hex string, so the dense doc_id rank of
    (conv_id, turn_idx) differs from the generation order; turn_idx is
    dense 0..n-1 within each conversation. ``stream`` names an
    independent table from the same seed (appended batches use it)."""
    rng = _rng(seed, "transcripts/" + stream)
    lens = []
    total = 0
    while total < n_turns:
        t = int(rng.integers(1, 2 * MEAN_TURNS))
        t = min(t, n_turns - total)
        lens.append(t)
        total += t
    n_convs = len(lens)
    ids = rng.choice(1 << 40, size=n_convs, replace=False)
    conv_names = np.array([f"{stream[:1]}{x:010x}" for x in ids])
    conv_of = np.repeat(np.arange(n_convs), lens)
    turn_idx = np.concatenate([np.arange(t) for t in lens]).astype(np.int32)

    n_tok = 1 + rng.poisson(MEAN_LEN - 1, size=n_turns)
    ranks = np.searchsorted(_zipf_cdf(VOCAB, ZIPF_S), rng.random(n_tok.sum()))
    ranks = np.minimum(ranks, VOCAB - 1)
    words = vocab()[ranks]
    upper = rng.random(len(words)) < UPPER_P
    words = np.where(upper, np.char.capitalize(words), words)
    seps = SEPS[rng.integers(0, len(SEPS), size=len(words))]
    bounds = np.concatenate(([0], np.cumsum(n_tok)))
    texts = []
    for i in range(n_turns):
        a, b = bounds[i], bounds[i + 1]
        parts = [None] * (2 * (b - a) - 1)
        parts[0::2] = words[a:b]
        parts[1::2] = seps[a:b - 1]
        texts.append("".join(parts))

    roles = np.array(["user", "assistant", "tool"])[turn_idx % 3]
    tools = np.array(["search", "python", "bash", "sql"])
    tool = [
        str(tools[j]) if r == "tool" else None
        for r, j in zip(roles, rng.integers(0, len(tools), size=n_turns))
    ]
    ts = 1_767_225_600_000_000 + np.arange(n_turns, dtype=np.int64) * 1_000_000
    order = rng.permutation(n_turns)
    return pa.table(
        {
            "conv_id": pa.array(conv_names[conv_of][order]),
            "turn_idx": pa.array(turn_idx[order], pa.int32()),
            "role": pa.array(roles[order]),
            "text": pa.array([texts[i] for i in order], pa.string()),
            "tool": pa.array([tool[i] for i in order], pa.string()),
            "ts": pa.array(ts[order], pa.timestamp("us", tz="UTC")),
        }
    )


def query_terms(seed: int, n: int, stream: str, block=QUERY_BLOCK) -> list[tuple[tuple[str, ...], int]]:
    """``n`` single queries: (sorted distinct terms, k), in blocks that
    each hold every shape of ``block`` once, in a seeded order. A term
    is Zipf-weighted within its class, as a user's vocabulary would
    be; a zero-hit term is a random non-vocabulary word."""
    rng = _rng(seed, "queries/" + stream)
    words = vocab()
    pmf = np.diff(np.concatenate(([0.0], _zipf_cdf(VOCAB, ZIPF_S))))

    def term(cls: str) -> str:
        if TERM_CLASSES[cls] is None:
            return ZERO_HIT_PREFIX + "".join(rng.choice(list("abcdefgh"), 6))
        lo, hi = TERM_CLASSES[cls]
        p = pmf[lo:hi] / pmf[lo:hi].sum()
        return str(words[lo + int(rng.choice(hi - lo, p=p))])

    out = []
    while len(out) < n:
        for i in rng.permutation(len(block)):
            classes, k = block[i]
            out.append((tuple(sorted({term(c) for c in classes})), k))
    return out[:n]


def allow_list(seed: int, doc_ids: np.ndarray, share: float, stream: str) -> np.ndarray:
    """A sorted random subset of ``doc_ids`` holding ``share`` of them."""
    rng = _rng(seed, "allow/" + stream)
    n = max(1, int(round(len(doc_ids) * share)))
    return np.sort(rng.choice(doc_ids, size=n, replace=False))


def embeddings(seed: int, n: int) -> tuple[pa.Table, np.ndarray]:
    """``n`` clustered DIM-d float64 vectors with vec_id 0..n-1, shuffled
    row order; also returns the cluster centres (for query making)."""
    rng = _rng(seed, "embeddings")
    centres = rng.normal(size=(CLUSTERS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    of = rng.integers(0, CLUSTERS, size=n)
    X = centres[of] + SPREAD * rng.normal(size=(n, DIM)) / np.sqrt(DIM)
    order = rng.permutation(n)
    tbl = pa.table(
        {
            "vec_id": pa.array(order.astype(np.int64)),
            "embedding": pa.array(list(X[order]), pa.list_(pa.float64())),
        }
    )
    return tbl, centres


def query_vectors(seed: int, centres: np.ndarray, n: int, stream: str) -> np.ndarray:
    """Query vectors near random cluster centres (same spread as data)."""
    rng = _rng(seed, "qvec/" + stream)
    of = rng.integers(0, len(centres), size=n)
    d = centres.shape[1]
    return centres[of] + SPREAD * rng.normal(size=(n, d)) / np.sqrt(d)


def bm25_inputs(seed: int) -> dict:
    """Everything the bm25 workload reads: the base and append tables,
    and its query streams ('read': each round's single-query block
    then its batches; 'filtered'; 'warmup': one batch)."""
    per_round = len(QUERY_BLOCK) + BM25_BATCHES * BATCH_SIZE
    return {
        "transcripts": transcripts(seed, TURNS),
        "append": transcripts(seed, APPEND_TURNS, "append"),
        "queries": {
            "read": query_terms(seed, MAX_ROUNDS * per_round, "read"),
            "filtered": query_terms(seed, MAX_ROUNDS, "filtered", FILTERED_BLOCK),
            "warmup": query_terms(seed, BATCH_SIZE, "read-warmup"),
        },
    }


def ann_inputs(seed: int) -> dict:
    """Everything the ann workload reads: the vector table, and its
    query vectors ('local', 'batch', and 'warmup': the untimed first
    local query and first batch)."""
    tbl, centres = embeddings(seed, VECTORS)
    return {
        "vectors": tbl,
        "queries": {
            "local": query_vectors(seed, centres, MAX_ROUNDS * ANN_LOCAL, "local"),
            "batch": query_vectors(seed, centres, MAX_ROUNDS * ANN_BATCH, "batch"),
            "warmup": query_vectors(seed, centres, 16, "warmup"),
        },
    }


INPUTS = {"bm25": bm25_inputs, "ann": ann_inputs}


def write_tables(inputs: dict, out: str) -> dict[str, str]:
    """Write every table of ``inputs`` to ``out/<name>.parquet``."""
    paths = {}
    for name, v in inputs.items():
        if isinstance(v, pa.Table):
            paths[name] = os.path.join(out, name + ".parquet")
            pq.write_table(v, paths[name])
    return paths


def write_queries(queries: dict, path: str) -> None:
    """The query streams as one parquet table: (stream, terms, k) for
    bm25, (stream, vector) for ann."""
    cols: dict[str, list] = {"stream": []}
    for stream, qs in queries.items():
        for q in qs:
            cols["stream"].append(stream)
            if isinstance(q, tuple):
                cols.setdefault("terms", []).append(list(q[0]))
                cols.setdefault("k", []).append(q[1])
            else:
                cols.setdefault("vector", []).append(q.tolist())
    pq.write_table(pa.table(cols), path)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="write one workload's inputs")
    ap.add_argument("workload", choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory to write into")
    args = ap.parse_args(argv)
    os.makedirs(args.out, exist_ok=True)
    inputs = INPUTS[args.workload](args.seed)
    write_tables(inputs, args.out)
    write_queries(inputs["queries"], os.path.join(args.out, "queries.parquet"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
