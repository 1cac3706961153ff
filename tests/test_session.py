"""``build_session``: the one session builder of the library and its
spark-submit jobs."""

from __future__ import annotations

import ast
import os
import subprocess
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_no_session_builder_outside_session_py():
    files = [
        *sorted((REPO / "beats_spark").rglob("*.py")),
        *sorted((REPO / "jobs").rglob("*.py")),
    ]
    assert len(files) > 20
    offenders = [
        f"{f.relative_to(REPO)}:{node.lineno}"
        for f in files
        if f != REPO / "beats_spark" / "session.py"
        for node in ast.walk(ast.parse(f.read_text(), filename=str(f)))
        if isinstance(node, ast.Attribute)
        and node.attr == "builder"
        and isinstance(node.value, ast.Name)
        and node.value.id == "SparkSession"
    ]
    assert offenders == [], (
        "sessions come from beats_spark.session.build_session, so every "
        f"job runs with the conf the benchmark measures: {offenders}"
    )


_SUBMITTED = textwrap.dedent(
    """
    from beats_spark.session import build_session

    for cores in (None, 3):
        spark = build_session("master-check", cores=cores)
        print(
            "MASTER", spark.sparkContext.master,
            spark.conf.get("spark.sql.shuffle.partitions"),
        )
        spark.stop()
    """
)


def test_spark_submit_master_is_kept(tmp_path):
    """Without ``cores`` the master ``spark-submit --master`` set
    stays; an explicit ``cores`` still sets ``local[cores]``. A
    ``--conf`` the launcher set beats the shuffle width derived from
    the cores, with or without ``cores``."""
    script = tmp_path / "master_check.py"
    script.write_text(_SUBMITTED)
    env = dict(os.environ, PYTHONPATH=str(REPO), BEATS_SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--driver-memory", "1g",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=16", str(script)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    masters = [
        tuple(ln.split()[1:]) for ln in proc.stdout.splitlines()
        if ln.startswith("MASTER ")
    ]
    assert masters == [("local[2]", "16"), ("local[3]", "16")]
