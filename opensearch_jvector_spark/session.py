"""SparkSession factory with the engine's recommended configuration,
and ``arrow_frame`` for query results the driver already holds."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "opensearch_jvector_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    # worker kernels must be single-threaded (Spark tasks are the
    # parallelism unit); python workers inherit this env from the JVM
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        # local mode: the driver JVM heap is ALL executor memory — size
        # it for the task-thread count or 32 concurrent tasks GC-thrash
        # an 8g heap (measured 3x build slowdown at local[32])
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # re-run stragglers: on shared hosts one stalled task otherwise
        # gates every stage barrier (same reason real clusters enable it)
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "2")
        .config("spark.speculation.quantile", "0.75")
        # local filesystem without Hadoop's .crc shadow files: they
        # double every committer file operation, and the serial v1 job
        # commit is wall-clock on the driver. Integrity is covered by
        # parquet page checksums + the manifests' sha256 lineage; a
        # cluster deployment writes to object stores where this knob is
        # moot.
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    )
    # NOT here deliberately: shuffle-compression-off + 1m file buffers
    # were A/B-tested against the round-2 merge-shuffle residual
    # (8->32 scaling) and REVERTED. Interleaved trials at 8M turns
    # showed no reproducible win and a plausible harm mechanism: with
    # bypass-merge shuffle (64 reducers, no map-side combine) the file
    # buffer is allocated PER REDUCER PER CONCURRENT MAP TASK —
    # 64 x 1m x 32 tasks ≈ 2 GB of write buffers + GC pressure — and
    # uncompressed shuffle doubles memory-bus traffic for the (highly
    # compressible) pre-merge text rows. Measurements in
    # BENCH/BASELINE.md note the external host load during this round.
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    else:
        n = os.cpu_count() or 8
        b = b.config("spark.sql.shuffle.partitions", str(min(64, max(8, n))))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def arrow_frame(spark: SparkSession, schema, cols=None) -> DataFrame:
    """A DataFrame over a result the driver already holds, built from one
    typed ``pyarrow.Table``. ``cols`` maps each field of the Arrow
    ``schema`` to an array, or is a pandas frame; None gives zero rows.
    Read back with ``toPandas()``, an empty frame built this way took
    ≈50 ms against ≈380 ms for ``createDataFrame([], ddl)`` (median of
    10, 4-core host, PySpark 4.1.2); the schema is the same."""
    import pandas as pd
    import pyarrow as pa

    if cols is None:
        tbl = schema.empty_table()
    elif isinstance(cols, pd.DataFrame):
        tbl = pa.Table.from_pandas(cols, schema=schema, preserve_index=False)
    else:
        tbl = pa.table(cols, schema=schema)
    return spark.createDataFrame(tbl)
