"""ANN index-format backward compatibility: the committed
tests/fixtures/ann_bwc_v1 index (built at ANN_FORMAT_VERSION=1, every
on-disk surface present: pq/sq/bq/msq code columns, coarse +
centroid_groups layers, live tombstone ledger) must answer every query
path IDENTICALLY to the answers pinned at build time.

Reference analog: qa/restart-upgrade/IndexingIT.java:46-358 — an old
index answers identically after a code upgrade. A failure here means
the on-disk layout contract broke: either add a reader for the old
layout or bump ANN_FORMAT_VERSION with a migration and a NEW fixture.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as papq
import pytest

from opensearch_jvector_spark.operators.quantize import QUANTIZERS
from opensearch_jvector_spark.operators.similarity import (
    ANN_FORMAT_VERSION,
    ivf_build,
    ivf_query,
    ivf_query_local,
    read_index_manifest,
    write_index_manifest,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "ann_bwc_v1")


@pytest.fixture()
def bwc(tmp_path):
    idx = str(tmp_path / "index")
    shutil.copytree(os.path.join(FIXTURE, "index"), idx)
    with open(os.path.join(FIXTURE, "expected.json")) as f:
        exp = json.load(f)
    return idx, exp


def _rows(df_rows):
    return [[int(r[0]), float(r[1]), int(r[2])] for r in df_rows]


def test_manifest_is_version_1(bwc):
    idx, _ = bwc
    m = read_index_manifest(idx)
    assert m["format_version"] == 1 == ANN_FORMAT_VERSION
    assert set(m["quantizers"]) == {"pq", "sq", "bq", "msq"}
    assert m["coarse"] is True


def test_all_query_paths_answer_identically(spark, bwc):
    idx, exp = bwc
    q, k, n_probe = exp["query_vec"], exp["k"], exp["n_probe"]
    got = _rows(ivf_query(spark, idx, q, k, n_probe=n_probe).collect())
    assert got == exp["paths"]["exact"]
    for flag in ("use_pq", "use_sq", "use_bq", "use_msq"):
        got = _rows(
            ivf_query(
                spark, idx, q, k, n_probe=n_probe, overquery=50,
                **{flag: True},
            ).collect()
        )
        assert got == exp["paths"][flag], flag
    loc = ivf_query_local(idx, q, k, n_probe=n_probe)
    assert _rows(list(loc.itertuples(index=False))) == exp["paths"]["local"]


def test_future_format_version_is_refused(spark, bwc):
    idx, exp = bwc
    m = read_index_manifest(idx)
    m["format_version"] = ANN_FORMAT_VERSION + 1
    write_index_manifest(idx, **{k: v for k, v in m.items()
                                 if k != "format_version"})
    # write_index_manifest stamps the CURRENT version; force the future
    # one directly to simulate an index from a newer engine
    with open(os.path.join(idx, "index_manifest.json"), "w") as f:
        json.dump(m, f)
    from opensearch_jvector_spark.operators import similarity as sim

    # force a manifest re-check on both probe layers
    sim._CENTROID_CACHE.pop(idx)
    sim._COARSE_CACHE.pop(idx)
    with pytest.raises(ValueError, match="format_version"):
        ivf_query(spark, idx, exp["query_vec"], 3, n_probe=2).collect()


def _fixture_maker():
    spec = importlib.util.spec_from_file_location(
        "make_ann_bwc_fixture",
        os.path.join(os.path.dirname(FIXTURE), "make_ann_bwc_fixture.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _codes_by_id(idx):
    cols = ["vec_id"] + [c for q in QUANTIZERS.values()
                         for c in q.column_names]
    cells = os.path.join(idx, "cells")
    t = papq.read_table(cells, columns=cols).sort_by("vec_id")
    return t.to_pydict()


def test_rebuild_encodes_identically(spark, tmp_path):
    """Today's ivf_build, given the fixture's vectors and options,
    writes the committed fixture's code columns row for row, and trains
    the same PQ/BQ/MSQ states: the encoders kept the v1 contract."""
    maker = _fixture_maker()
    idx = str(tmp_path / "rebuilt")
    df = spark.createDataFrame(
        maker.vectors(), "vec_id long, embedding array<double>"
    )
    ivf_build(df, idx, **maker.BUILD_ARGS)
    assert _codes_by_id(idx) == _codes_by_id(os.path.join(FIXTURE, "index"))
    for q in QUANTIZERS.values():
        if q.load:
            want = q.load(os.path.join(FIXTURE, "index"))
            assert np.array_equal(q.load(idx), want), q.name
