"""SparkSession factory tuned for the pipeline.

Local-mode defaults match the sandbox (one JVM, N threads); the same
configs are what we would pass to ``spark-submit`` on a real cluster —
AQE (incl. skew-join splitting), Arrow for pandas UDFs, UTC session
time zone (required for DuckDB-oracle comparison), and shuffle
partitions sized to parallelism instead of the 200 default.

``file:`` paths go through ``jvm/NioLocalFileSystem.java``, Hadoop's
checksummed local filesystem with modes set and link status read
through ``java.nio``, for ``FileSystem`` and ``FileContext`` (the
stream's checkpoint logs) alike. Without the native ``libhadoop`` the
stock one forks a ``chmod`` for every file, ``.crc`` sidecar and
directory a write creates (≈430 per ``Pipeline.run`` of the 16-bucket
job), and a ``readlink`` for both sides of every rename (24 per
stream micro-batch, from its offset, commit and source logs). The
class is compiled once with the JDK's ``javac`` into a jar under the
user cache directory, keyed by the source's hash, and put on the
driver classpath. Without a JDK, or when a driver JVM without the class is
already running (``spark-submit``), the session keeps the stock
filesystem and logs one warning.

``local_frame`` is the one way program code turns driver-side rows
(dims, manifest and metrics rows, query sets) into a DataFrame, and
``hadoop_fs`` the one way it deletes or renames output directories.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import pkgutil
import shutil
import subprocess
import tempfile
import zipfile
from pathlib import Path
from typing import Iterable

from pyspark import SparkConf, SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

log = logging.getLogger(__name__)

#: ``SPARK_GRAFT_CPUS``, else the cores this process may run on
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)

#: the Hadoop filesystem ``build_session`` sets for the ``file`` scheme
LOCAL_FS_CLASS = "beats_spark.jvm.NioLocalFileSystem"
#: the same, for Hadoop ``FileContext`` (streaming checkpoint logs)
LOCAL_ABSTRACT_FS_CLASS = LOCAL_FS_CLASS + "$Fs"
_CLASSPATH = "spark.driver.extraClassPath"


def build_session(
    app_name: str = "beats_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    conf = _session_conf(app_name, cores, shuffle_partitions, extra_conf)
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _session_conf(
    app_name: str,
    cores: int | None,
    shuffle_partitions: int | None,
    extra_conf: dict[str, str] | None,
) -> dict[str, str]:
    """Every conf ``build_session`` passes to the builder. A conf the
    launcher gave the driver JVM (``spark-submit --master``/``--conf``)
    beats a default derived here, since the builder's options would
    replace it; ``cores``, ``shuffle_partitions`` and ``extra_conf``
    beat the launcher."""
    n = cores or DEFAULT_CPUS
    # Rule of thumb: shuffle partitions ≈ 2× cores locally. On a real
    # cluster this is executors × cores × 2-3, or left to AQE coalesce.
    defaults = {
        "spark.master": f"local[{n}]",
        "spark.sql.shuffle.partitions": str(max(2 * n, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory": os.environ.get("BEATS_SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        # Dynamic partition overwrite: resume replaces only the sink
        # partitions it recomputes (idempotent fan-out, FIXTURES.md §6).
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # Multi-byte reader codecs (framing.decode_blob: gbk,
        # shift-jis, euc-*, big5, ebcdic-1047): Spark 4 restricts
        # decode() to 7 charsets unless the legacy JVM set is opened,
        # and ANSI decode aborts the job on malformed bytes — the
        # reference line reader replaces with U+FFFD instead.
        "spark.sql.legacy.javaCharsets": "true",
        "spark.sql.legacy.codingErrorAction": "true",
    }
    launcher = _launcher_conf()
    conf = {k: launcher.get(k, v) for k, v in defaults.items()}
    conf["spark.app.name"] = app_name
    if cores:
        conf["spark.master"] = f"local[{cores}]"
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    conf.update(_local_fs_conf(conf))
    return conf


def _launcher_conf() -> dict[str, str]:
    """The conf of the driver JVM a launcher (``spark-submit``, the
    ``pyspark`` shell) started this process from, else nothing. Without
    a launcher the JVM's system properties hold the first session's
    conf, not a launcher's."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def _local_fs_conf(conf: dict[str, str]) -> dict[str, str]:
    """The classpath, ``fs.file.impl`` and
    ``fs.AbstractFileSystem.file.impl`` that install
    ``NioLocalFileSystem``, or nothing (and one warning).

    An ``impl`` naming a class the driver JVM lacks would fail
    every file read and write, so it is set only after that JVM has
    loaded the class. A driver's classpath is fixed when its JVM
    starts: this starts it, with the jar, unless one already runs."""
    try:
        jar = _local_fs_jar()
    except (OSError, subprocess.CalledProcessError) as e:
        log.warning(
            "cannot build %s (%s): Hadoop forks a chmod per local file and "
            "directory and a readlink per rename",
            LOCAL_FS_CLASS, getattr(e, "stderr", None) or e,
        )
        return {}
    classpath = os.pathsep.join(filter(None, (conf.get(_CLASSPATH), jar)))
    launch = SparkConf(loadDefaults=False)
    launch.setAll({**conf, _CLASSPATH: classpath}.items())
    SparkContext._ensure_initialized(conf=launch)
    jvm = SparkContext._jvm
    if jvm.org.apache.spark.util.Utils.classIsLoadable(LOCAL_FS_CLASS):
        return {
            _CLASSPATH: classpath,
            "spark.hadoop.fs.file.impl": LOCAL_FS_CLASS,
            "spark.hadoop.fs.AbstractFileSystem.file.impl": LOCAL_ABSTRACT_FS_CLASS,
        }
    log.warning(
        "the running driver JVM has no %s: Hadoop forks a chmod per local "
        "file and directory and a readlink per rename",
        LOCAL_FS_CLASS,
    )
    return {}


def _javac() -> str | None:
    java_home = os.environ.get("JAVA_HOME")
    return (
        java_home and shutil.which("javac", path=os.path.join(java_home, "bin"))
    ) or shutil.which("javac")


def _local_fs_jar() -> str:
    """The jar of ``jvm/NioLocalFileSystem.java``, compiled on first
    use into the user cache directory."""
    from pyspark.find_spark_home import _find_spark_home

    source = pkgutil.get_data("beats_spark", "jvm/NioLocalFileSystem.java")
    cache = Path(
        os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache", "beats_spark"
    )
    jar = cache / f"nio-local-fs-{hashlib.sha256(source).hexdigest()[:16]}.jar"
    if jar.exists():
        return str(jar)
    javac = _javac()
    if javac is None:
        raise FileNotFoundError("no javac in $JAVA_HOME/bin or on PATH")
    api = glob.glob(
        os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")
    )
    cache.mkdir(parents=True, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=cache) as tmp:
        src, classes = Path(tmp, "NioLocalFileSystem.java"), Path(tmp, "classes")
        src.write_bytes(source)
        subprocess.run(
            [javac, "--release", "17", "-cp", os.pathsep.join(api),
             "-d", str(classes), str(src)],
            check=True, capture_output=True, text=True,
        )
        part = Path(tmp, jar.name)
        with zipfile.ZipFile(part, "w") as zf:
            for cls in sorted(classes.rglob("*.class")):
                zf.write(cls, cls.relative_to(classes).as_posix())
        # atomic: a concurrent session sees the old state or a whole jar
        os.replace(part, jar)
    return str(jar)


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
