"""SparkSession factory with the engine's recommended configuration,
and ``arrow_frame`` for query results the driver already holds."""

from __future__ import annotations

import os
import threading
from functools import cached_property

from pyspark.sql import Row, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.types import StructType


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


class HeldFrame(ClassicDataFrame):
    """A DataFrame over a typed ``pyarrow.Table`` the driver already
    holds. Reads come from the table: ``toPandas()`` and ``toArrow()``
    run PySpark's own conversion over it (this class supplies its
    ``_collect_as_arrow``), and ``schema``, ``count()``, ``collect()``
    and a ``select`` of plain column names answer from it, so none of
    them runs a Spark job. Anything else (a join, filter, orderBy,
    write, ``withColumn``, ``show``...) reads ``_jdf``, the JVM plan,
    which ``createDataFrame(table)`` builds on first use, once per
    frame even when threads race for it."""

    def __new__(cls, *args, **kwargs):
        return object.__new__(cls)  # the parent's __new__ would __init__ twice

    def __init__(self, spark: SparkSession, table):
        # the parent's state, minus the JVM plan it would take here
        self._session = spark
        self._sc = spark.sparkContext
        self.is_cached = False
        self._support_repr_html = False
        self._table = table
        self._plan = None
        self._plan_lock = threading.Lock()

    @property
    def _jdf(self):
        if self._plan is None:
            with self._plan_lock:
                if self._plan is None:
                    self._plan = self._session.createDataFrame(self._table)._jdf
        return self._plan

    @cached_property
    def schema(self) -> StructType:
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(self._table.schema)

    def _collect_as_arrow(self, split_batches=False, empty_list_if_zero_records=True):
        """The held table as record batches in the Arrow types Spark's
        own collect would send. ``split_batches`` (self-destruct) has
        nothing to free: the frame keeps its table."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(
            self.schema,
            prefers_large_types=self._session._jconf.arrowUseLargeVarTypes(),
        )
        if self._table.num_rows:
            return self._table.cast(schema).to_batches()
        return [] if empty_list_if_zero_records else [pa.RecordBatch.from_pylist([], schema)]

    def count(self) -> int:
        return self._table.num_rows

    def collect(self) -> list[Row]:
        row = Row(*self._table.column_names)
        return [row(*v) for v in zip(*(c.to_pylist() for c in self._table.columns))]

    def select(self, *cols):
        names = cols[0] if len(cols) == 1 and isinstance(cols[0], list) else cols
        have = self._table.column_names
        plain = names and all(isinstance(c, str) and c in have for c in names)
        if plain and len(set(names)) == len(names):
            return HeldFrame(self._session, self._table.select(list(names)))
        return super().select(*cols)


def arrow_frame(spark: SparkSession, schema, cols=None) -> HeldFrame:
    """A query result the driver already holds, as a ``HeldFrame`` over
    one typed ``pyarrow.Table``: ``cols`` maps each field of the Arrow
    ``schema`` to an array, and None gives zero rows. The result stays
    on the driver for the reads a caller makes of a query answer
    (``toPandas``, ``toArrow``, ``collect``, ``count``, ``schema``,
    selecting columns), which run no Spark job: built and read back
    with ``toPandas()``, a 400-row BM25 batch took ≈3 ms against ≈65 ms
    through ``createDataFrame`` and Spark's collect (median of 20,
    4-core host, PySpark 4.1.2). Any other DataFrame operation builds
    the JVM plan from the table once, the ``createDataFrame(table)``
    plan every driver-held result had before.
    Fields are flat scalars (integer, floating, string, bool), whose
    Python values ``collect`` gives as Spark would."""
    import pyarrow as pa

    flat = (pa.types.is_integer, pa.types.is_floating, pa.types.is_string,
            pa.types.is_boolean)
    bad = [f.name for f in schema if not any(is_(f.type) for is_ in flat)]
    if bad:
        raise TypeError(f"arrow_frame holds flat scalar columns only, not {bad}")
    tbl = schema.empty_table() if cols is None else pa.table(cols, schema=schema)
    return HeldFrame(spark, tbl)
