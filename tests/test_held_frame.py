"""Driver-held query results (``session.arrow_frame``).

A result the driver already holds is a ``HeldFrame``: a DataFrame over
its typed Arrow table. The reads a caller makes of a query answer
(``toPandas``, ``toArrow``, ``collect``, ``count``, ``schema`` and a
``select`` of column names) come from the table with no Spark job and
must equal what Spark's own plan over the same table returns, dtypes
included. Every other operation runs on that plan, built once.
"""

from __future__ import annotations

import threading
import time

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opensearch_jvector_spark.operators.wand import _RANKED
from opensearch_jvector_spark.session import HeldFrame, arrow_frame


def _ann(score: str) -> pa.Schema:
    return pa.schema([
        ("query_id", pa.string()), ("vec_id", pa.int64()),
        (score, pa.float64()), ("rank", pa.int32()),
    ])


def _cols(schema: pa.Schema, n: int, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    q = rng.integers(0, 7, n)
    return {
        "query_id": pa.array([f"q{i}" for i in q], pa.string()),
        schema.names[1]: rng.integers(0, 1 << 40, n),
        schema.names[2]: rng.normal(size=n),
        "rank": rng.integers(1, 100, n).astype(np.int32),
    }


def _reads(df, cols: list[str]):
    return (
        df.toPandas(), df.toArrow(), df.collect(), df.count(), df.schema,
        df.select(*cols).toPandas(), df.select(cols).collect(),
    )


@pytest.mark.parametrize("schema,n", [
    (_RANKED, 400), (_ann("cos"), 512), (_ann("score"), 37), (_RANKED, 0),
], ids=["bm25", "ann-cos", "ann-score", "empty"])
def test_held_reads_equal_the_jvm_path(spark, spark_jobs, schema, n):
    cols = _cols(schema, n, n) if n else None
    held = arrow_frame(spark, schema, cols)
    jvm = spark.createDataFrame(pa.table(cols, schema=schema) if n else schema.empty_table())
    assert isinstance(held, DataFrame) and isinstance(held, HeldFrame)
    picked = ["rank", schema.names[1]]
    got, jobs = spark_jobs("held-reads", lambda: _reads(held, picked))
    assert jobs == [] and held._plan is None
    want = _reads(jvm, picked)
    for g, w in ((got[0], want[0]), (got[5], want[5])):
        assert g.equals(w) and list(g.dtypes) == list(w.dtypes)
    assert got[1].equals(want[1]) and got[1].schema == want[1].schema
    assert got[2:5] == want[2:5] and got[6] == want[6]
    assert isinstance(held.select(*picked), HeldFrame)

    # anything else runs on Spark's plan over the same table
    other = spark.createDataFrame([("q1", 5), ("q3", 6)], "query_id string, x int")

    def ops(df):
        return (
            df.join(other, "query_id").orderBy("rank", schema.names[1], "x").toPandas(),
            df.orderBy(F.desc(schema.names[2])).limit(5).collect(),
            df.filter(F.col("rank") < 50).count(),
            df.select(F.col("rank") + 1).collect(),
        )

    got, want = ops(held), ops(jvm)
    assert got[0].equals(want[0]) and list(got[0].dtypes) == list(want[0].dtypes)
    assert got[1:] == want[1:]
    assert held._plan is not None


def test_plan_is_built_once_across_threads(spark, monkeypatch):
    held = arrow_frame(spark, _RANKED, _cols(_RANKED, 20, 1))
    real, calls = spark.createDataFrame, []

    def create(data, *args, **kwargs):
        calls.append(data)
        time.sleep(0.05)  # widen the race
        return real(data, *args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", create)
    plans = []
    threads = [threading.Thread(target=lambda: plans.append(held._jdf)) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 1 and calls[0] is held._table
    assert len(plans) == 8 and all(p is plans[0] for p in plans)


def test_arrow_frame_holds_flat_columns_only(spark):
    nested = pa.schema([("v", pa.list_(pa.float64()))])
    with pytest.raises(TypeError, match="flat scalar"):
        arrow_frame(spark, nested)
