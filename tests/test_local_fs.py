"""The local filesystem ``build_session`` installs for ``file:`` paths.

Without the native ``libhadoop``, stock ``RawLocalFileSystem`` sets
every file's, ``.crc``'s and directory's mode by forking ``chmod``;
``NioLocalFileSystem`` sets the same modes through ``java.nio``."""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
import textwrap
from pathlib import Path

from beats_spark import session
from beats_spark.operators.router import with_partition_id, write_fanout
from beats_spark.plans.headline import headline_pipeline
from beats_spark.session import LOCAL_ABSTRACT_FS_CLASS, LOCAL_FS_CLASS, hadoop_fs
from beats_spark.synth import synth_transcripts

REPO = Path(__file__).resolve().parents[1]

def _nio_fs(spark, path: str):
    fs, jpath = hadoop_fs(spark, path)
    assert fs.getClass().getName() == LOCAL_FS_CLASS
    return fs, jpath

def _modes(root: Path) -> dict[str, set[int]]:
    modes: dict[str, set[int]] = {"dir": set(), "file": set(), "crc": set()}
    for dirpath, dirnames, filenames in os.walk(root):
        modes["dir"].add(stat.S_IMODE(os.stat(dirpath).st_mode))
        for name in filenames:
            kind = "crc" if name.endswith(".crc") else "file"
            modes[kind].add(stat.S_IMODE(os.stat(os.path.join(dirpath, name)).st_mode))
    return modes

def test_shared_session_uses_nio_fs(spark):
    fs, _ = _nio_fs(spark, "file:///tmp")
    assert fs.getRawFileSystem().getClass().getName() == LOCAL_FS_CLASS + "$Raw"
    jvm = spark._jvm
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        jvm.java.net.URI("file:///tmp"), spark._jsc.hadoopConfiguration()
    )
    assert fc.getDefaultFileSystem().getClass().getName() == LOCAL_ABSTRACT_FS_CLASS

def test_written_modes_match_stock_hadoop(spark, tmp_path):
    """Stock Hadoop chmods files to 0666 and dirs to 0777 under its
    default umask 022, whatever the process umask made them."""
    _nio_fs(spark, tmp_path.as_uri())
    df = synth_transcripts(spark, 300, seed=5)
    pipe = headline_pipeline(spark, n_buckets=4)
    routed = with_partition_id(pipe.transform(df), 4)
    write_fanout(routed, str(tmp_path / "fanout"), mode="overwrite")
    pipe.run(spark, df, str(tmp_path / "run"), run_id="modes")
    for root in ("fanout", "run"):
        modes = _modes(tmp_path / root)
        assert modes == {"dir": {0o755}, "file": {0o644}, "crc": {0o644}}, root

def test_modes_nio_cannot_express_still_land(spark, tmp_path):
    fs, _ = _nio_fs(spark, tmp_path.as_uri())
    FsPermission = spark._jvm.org.apache.hadoop.fs.permission.FsPermission
    Path_ = spark._jvm.org.apache.hadoop.fs.Path
    (tmp_path / "shared").mkdir()
    (tmp_path / "f").write_text("x")
    fs.setPermission(Path_((tmp_path / "shared").as_uri()), FsPermission("1777"))
    fs.setPermission(Path_((tmp_path / "f").as_uri()), FsPermission("640"))
    assert stat.S_IMODE(os.stat(tmp_path / "shared").st_mode) == 0o1777
    assert stat.S_IMODE(os.stat(tmp_path / "f").st_mode) == 0o640

def test_no_javac_leaves_the_conf_stock(monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(session, "_javac", lambda: None)
    for caller_cp in (None, "/opt/udfs.jar"):
        extra = {"spark.driver.extraClassPath": caller_cp} if caller_cp else {}
        conf = session._session_conf("no-javac", 2, None, extra)
        assert "spark.hadoop.fs.file.impl" not in conf
        assert "spark.hadoop.fs.AbstractFileSystem.file.impl" not in conf
        assert conf.get("spark.driver.extraClassPath") == caller_cp
    assert not list(tmp_path.iterdir())

def test_jar_is_appended_to_a_callers_classpath(spark):
    conf = session._session_conf(
        "cp", 2, None, {"spark.driver.extraClassPath": "/opt/udfs.jar"}
    )
    assert conf["spark.hadoop.fs.file.impl"] == LOCAL_FS_CLASS
    assert conf["spark.hadoop.fs.AbstractFileSystem.file.impl"] == LOCAL_ABSTRACT_FS_CLASS
    caller, jar = conf["spark.driver.extraClassPath"].split(os.pathsep)
    assert caller == "/opt/udfs.jar" and jar == session._local_fs_jar()

_CHILD = textwrap.dedent(
    """
    import os, sys
    from beats_spark.plans.headline import headline_pipeline
    from beats_spark.session import build_session
    from beats_spark.streaming.job import run_stream
    from beats_spark.synth import synth_transcripts

    log, out = sys.argv[1], sys.argv[2]

    def forks():
        return sum(1 for _ in open(log)) if os.path.exists(log) else 0

    spark = build_session("chmod-count", cores=2)
    df = synth_transcripts(spark, 300, seed=9).cache()
    df.count()
    before = forks()
    headline_pipeline(spark, n_buckets=4).run(spark, df, out, run_id="c")
    run = forks() - before
    # two input files, drained by an availableNow stream: its
    # checkpoint logs go through Hadoop FileContext
    df.coalesce(1).write.parquet(out + "_in")
    df.coalesce(1).write.mode("append").parquet(out + "_in")
    before = forks()
    run_stream(
        spark, headline_pipeline(spark, n_buckets=4), out + "_in",
        out + "_stream", out + "_ckpt",
    ).awaitTermination()
    stream = forks() - before
    # the logging chmod sees stock Hadoop's forks
    jvm = spark._jvm
    raw = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    path = jvm.org.apache.hadoop.fs.Path(out + "/_SUCCESS_probe")
    raw.create(path).close()
    raw.setPermission(path, jvm.org.apache.hadoop.fs.permission.FsPermission("600"))
    print("FORKS", run, stream, forks() - before - stream)
    """
)

def test_pipeline_run_forks_no_chmod(tmp_path):
    """A ``build_session`` run in a fresh JVM, with a logging ``chmod``
    first on its PATH: neither a ``Pipeline.run`` nor a stream's
    micro-batches and checkpoint logs start one."""
    real = shutil.which("chmod")
    assert real is not None
    bindir, log = tmp_path / "bin", tmp_path / "chmod.log"
    bindir.mkdir()
    (bindir / "chmod").write_text(
        f'#!/bin/sh\necho "$*" >> "{log}"\nexec {real} "$@"\n'
    )
    (bindir / "chmod").chmod(0o755)
    env = dict(
        os.environ,
        PATH=f"{bindir}{os.pathsep}{os.environ['PATH']}",
        BEATS_SPARK_DRIVER_MEM="1g",
        PYTHONPATH=str(REPO),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, str(log), (tmp_path / "out").as_uri()],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("FORKS")]
    assert line, proc.stdout[-2000:]
    run_forks, stream_forks, stock_forks = map(int, line[-1].split()[1:])
    assert stock_forks >= 1
    assert (run_forks, stream_forks) == (0, 0)
