"""The local filesystem ``build_session`` installs for ``file:`` paths.

Without the native ``libhadoop``, stock ``RawLocalFileSystem`` sets
every file's, ``.crc``'s and directory's mode by forking ``chmod``,
and reads the link status of both sides of every rename by forking
``readlink``; ``NioLocalFileSystem`` sets the same modes and reports
the same link status through ``java.nio``."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import textwrap
from pathlib import Path

from py4j.protocol import Py4JJavaError

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

def _link_status(fs, path):
    """What ``fs.getFileLinkStatus(path)`` reports, or the exception
    class it raises."""
    try:
        st = fs.getFileLinkStatus(path)
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    target = st.getSymlink().toString() if st.isSymlink() else None
    return (
        st.isFile(), st.isDirectory(), st.isSymlink(), st.getLen(),
        st.getPath().toString(), target,
    )

def test_link_status_matches_stock_hadoop(spark, tmp_path):
    """Stock ``getFileLinkStatus`` forks ``readlink`` on the path's
    string; ours answers the same without one. A qualified ``file:``
    path names nothing to ``readlink``, so stock reports even a real
    symlink as its target's plain status there."""
    fs, _ = _nio_fs(spark, tmp_path.as_uri())
    ours = fs.getRawFileSystem()
    jvm = spark._jvm
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    (tmp_path / "f").write_text("abc")
    (tmp_path / "d").mkdir()
    (tmp_path / "link").symlink_to("f")
    (tmp_path / "dir link").symlink_to(tmp_path / "d")
    cases = {
        "file": tmp_path.joinpath("f").as_uri(),
        "dir": tmp_path.joinpath("d").as_uri(),
        "missing": tmp_path.joinpath("missing").as_uri(),
        "link": str(tmp_path / "link"),
        "qualified link": tmp_path.joinpath("link").as_uri(),
        "dir link": str(tmp_path / "dir link"),
    }
    got = {}
    for name, path in cases.items():
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        got[name] = _link_status(ours, jpath)
        assert got[name] == _link_status(stock, jpath), name
    assert got["file"][:4] == (True, False, False, 3)
    assert got["dir"][:3] == (False, True, False)
    assert got["missing"] == "java.io.FileNotFoundException"
    assert got["link"][2:] == (True, 3, str(tmp_path / "link"), f"file:{tmp_path}/f")
    assert got["dir link"][5] == f"file:{tmp_path}/d"
    assert got["qualified link"][:4] == (True, False, False, 3)

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
    import json, os, sys
    from beats_spark.plans.headline import headline_pipeline
    from beats_spark.session import build_session
    from beats_spark.streaming.job import run_stream
    from beats_spark.synth import synth_transcripts

    log, out, commands = sys.argv[1], sys.argv[2], sys.argv[3].split(",")

    def forks():
        counts = dict.fromkeys(commands, 0)
        if os.path.exists(log):
            for line in open(log):
                counts[line.split()[0]] += 1
        return counts

    def since(before):
        return {c: n - before[c] for c, n in forks().items()}

    spark = build_session("fork-count", cores=2)
    df = synth_transcripts(spark, 300, seed=9).cache()
    df.count()
    before = forks()
    headline_pipeline(spark, n_buckets=4).run(spark, df, out, run_id="c")
    got = {"run": since(before)}
    # two input files, drained by an availableNow stream: its
    # checkpoint logs go through Hadoop FileContext
    df.coalesce(1).write.parquet(out + "_in")
    df.coalesce(1).write.mode("append").parquet(out + "_in")
    before = forks()
    run_stream(
        spark, headline_pipeline(spark, n_buckets=4), out + "_in",
        out + "_stream", out + "_ckpt",
    ).awaitTermination()
    got["stream"] = since(before)
    # the logging commands see stock Hadoop's forks: a mode set and a
    # mode read through RawLocalFileSystem, and a checkpoint-log-style
    # rename through FileContext over the stock LocalFs
    before = forks()
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs
    conf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    raw = fs.RawLocalFileSystem()
    raw.initialize(jvm.java.net.URI("file:///"), conf)
    path = fs.Path(out + "/_SUCCESS_probe")
    raw.create(path).close()
    raw.setPermission(path, fs.permission.FsPermission("600"))
    raw.getFileStatus(path).getPermission()
    conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    fc = fs.FileContext.getFileContext(jvm.java.net.URI("file:///"), conf)
    fc.rename(
        path, fs.Path(out + "/_SUCCESS_renamed"),
        spark.sparkContext._gateway.new_array(fs.Options.Rename, 0),
    )
    got["stock"] = since(before)
    print("FORKS", json.dumps(got))
    """
)

#: the shell commands stock Hadoop forks on the local filesystem
#: without ``libhadoop``: modes set and read, link status
_SHELL_COMMANDS = ("chmod", "readlink", "stat", "ls")


def test_pipeline_run_forks_no_chmod(tmp_path):
    """A ``build_session`` run in a fresh JVM, with a logging ``chmod``,
    ``readlink``, ``stat`` and ``ls`` first on its PATH: neither a
    ``Pipeline.run`` nor a stream's micro-batches and checkpoint logs
    start one, while stock Hadoop in the same JVM does."""
    bindir, log = tmp_path / "bin", tmp_path / "forks.log"
    bindir.mkdir()
    for name in _SHELL_COMMANDS:
        real = shutil.which(name)
        assert real is not None, name
        # exec hands the real command's exit code back to Hadoop
        (bindir / name).write_text(
            f'#!/bin/sh\necho "{name} $*" >> "{log}"\nexec {real} "$@"\n'
        )
        (bindir / name).chmod(0o755)
    env = dict(
        os.environ,
        PATH=f"{bindir}{os.pathsep}{os.environ['PATH']}",
        BEATS_SPARK_DRIVER_MEM="1g",
        PYTHONPATH=str(REPO),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, str(log), (tmp_path / "out").as_uri(),
         ",".join(_SHELL_COMMANDS)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("FORKS")]
    assert line, proc.stdout[-2000:]
    got = json.loads(line[-1].split(" ", 1)[1])
    none = dict.fromkeys(_SHELL_COMMANDS, 0)
    assert got["run"] == none, got
    assert got["stream"] == none, got
    stock = got["stock"]
    assert stock["chmod"] >= 1 and stock["readlink"] >= 1, stock
    assert stock["stat"] + stock["ls"] >= 1, stock
