"""Generate the committed ANN backward-compatibility fixture
(tests/fixtures/ann_bwc_v1/): a tiny ANN_FORMAT_VERSION=1 index
carrying EVERY on-disk surface — cells with pq/sq/bq/msq code columns,
centroids, coarse + centroid_groups layers, a live tombstone ledger —
plus expected.json pinning query results over every read path.

Reference analog: qa/restart-upgrade (IndexingIT.java:46-358) proves an
old index answers identically after upgrade. tests/test_ann_bwc.py
re-reads THIS committed index with current code and asserts the pinned
answers; any layout-breaking change fails there instead of silently
corrupting user indexes.

Run from the repo root (only when intentionally regenerating — which
requires an ANN_FORMAT_VERSION bump and a new fixture dir):

    python tests/fixtures/make_ann_bwc_fixture.py
"""

import json
import os
import shutil
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

FIXTURE = os.path.join(REPO, "tests", "fixtures", "ann_bwc_v1")
DIM, N, CELLS = 8, 64, 4
#: the ivf_build options of the fixture index
BUILD_ARGS = dict(
    n_centroids=CELLS, kmeans_iters=1, pq_m=2, sq=True, bq=True, msq_bits=2,
    coarse=True,
)


def vectors():
    return [
        (
            i,
            np.random.default_rng(7000 + i).standard_normal(DIM).tolist(),
        )
        for i in range(N)
    ]


def main():
    from pyspark.sql import SparkSession

    from opensearch_jvector_spark.operators.similarity import (
        ivf_build,
        ivf_delete,
        ivf_query,
        ivf_query_local,
    )

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if os.path.isdir(FIXTURE):
        shutil.rmtree(FIXTURE)
    idx = os.path.join(FIXTURE, "index")
    df = spark.createDataFrame(
        vectors(), "vec_id long, embedding array<double>"
    )
    ivf_build(df, idx, **BUILD_ARGS)
    ivf_delete(idx, [5, 11])  # ledger must survive in the fixture

    q = np.random.default_rng(7001).standard_normal(DIM).tolist()
    expected = {"query_vec": q, "k": 5, "n_probe": CELLS, "paths": {}}

    def pin(name, df_result):
        expected["paths"][name] = [
            [int(r[0]), float(r[1]), int(r[2])] for r in df_result
        ]

    # approximate_threshold=0 everywhere: the fixture pins PROBED-path
    # behavior (the suite conftest replays with the same pin); the
    # engine default would bypass to exact on this tiny corpus
    pin("exact", ivf_query(spark, idx, q, 5, n_probe=CELLS,
                           approximate_threshold=0).collect())
    for flag in ("use_pq", "use_sq", "use_bq", "use_msq"):
        pin(
            flag,
            ivf_query(
                spark, idx, q, 5, n_probe=CELLS, overquery=50,
                approximate_threshold=0, **{flag: True}
            ).collect(),
        )
    loc = ivf_query_local(idx, q, 5, n_probe=CELLS,
                          approximate_threshold=0)
    pin("local", list(loc.itertuples(index=False)))

    with open(os.path.join(FIXTURE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    # parquet _SUCCESS / .crc noise keeps the fixture honest but bulky;
    # drop CRCs only (readers never need them)
    for base, _, files in os.walk(FIXTURE):
        for fn in files:
            if fn.endswith(".crc"):
                os.remove(os.path.join(base, fn))
    print("fixture written:", FIXTURE)
    spark.stop()


if __name__ == "__main__":
    main()
