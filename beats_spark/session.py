"""SparkSession factory tuned for the pipeline.

Local-mode defaults match the sandbox (one JVM, N threads); the same
configs are what we would pass to ``spark-submit`` on a real cluster —
AQE (incl. skew-join splitting), Arrow for pandas UDFs, UTC session
time zone (required for DuckDB-oracle comparison), and shuffle
partitions sized to parallelism instead of the 200 default.

``local_frame`` is the one way program code turns driver-side rows
(dims, manifest and metrics rows, query sets) into a DataFrame, and
``hadoop_fs`` the one way it deletes or renames output directories.
"""

from __future__ import annotations

import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: ``SPARK_GRAFT_CPUS``, else the cores this process may run on
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)


def build_session(
    app_name: str = "beats_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or DEFAULT_CPUS
    # Rule of thumb: shuffle partitions ≈ 2× cores locally. On a real
    # cluster this is executors × cores × 2-3, or left to AQE coalesce.
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("BEATS_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Dynamic partition overwrite: resume replaces only the sink
        # partitions it recomputes (idempotent fan-out, FIXTURES.md §6).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Multi-byte reader codecs (framing.decode_blob: gbk,
        # shift-jis, euc-*, big5, ebcdic-1047): Spark 4 restricts
        # decode() to 7 charsets unless the legacy JVM set is opened,
        # and ANSI decode aborts the job on malformed bytes — the
        # reference line reader replaces with U+FFFD instead.
        .config("spark.sql.legacy.javaCharsets", "true")
        .config("spark.sql.legacy.codingErrorAction", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: str | StructType
) -> DataFrame:
    """Driver-side rows as a JVM ``LocalRelation``.

    ``spark.createDataFrame(<python list>)`` is ``parallelize`` over a
    pickled PythonRDD (``Scan ExistingRDD``): every action that reads
    it — each dim broadcast, in every micro-batch, and each commit
    write — runs tasks that wait on Python workers (≈0.3–0.55 s per
    job on a 4-vCPU VM). An Arrow table crosses to the JVM once, at
    build time, and Spark 4.1 plans it as a ``LocalRelation`` whether
    or not ``spark.sql.execution.arrow.pyspark.enabled`` is set.

    ``schema`` is a DDL string or a ``StructType``; each row is a tuple
    in schema order (dicts for map columns, tuples for struct ones).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    width = len(arrow_schema)
    if any(len(r) != width for r in rows):
        raise ValueError(f"local_frame: every row needs {width} values")
    columns = list(zip(*rows)) if rows else [()] * width
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the JVM's Hadoop API.

    Directory deletes and renames go through the same filesystem layer
    as Spark's own writers, so a plain path, a ``file://`` URI or any
    cluster scheme behaves alike; Python's ``os``/``shutil`` would see
    only the driver's local disk."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath
