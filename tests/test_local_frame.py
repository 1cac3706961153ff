"""``session.local_frame``: driver-side rows as a JVM LocalRelation.

A list-backed ``spark.createDataFrame`` plans as ``Scan ExistingRDD``
over a pickled PythonRDD, so every action that reads it (each dim
broadcast, each micro-batch, each commit write) waits on Python
workers. These tests pin the replacement: same rows and schema as the
list path, a ``LocalRelation`` plan, no ``ExistingRDD`` left in the
production pipeline, and no list-backed ``createDataFrame`` creeping
back into program code.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beats_spark.operators.enrich import (
    ROLE_DIM_ROWS,
    ROLE_DIM_SCHEMA,
    TOOL_DIM_ROWS,
    TOOL_DIM_SCHEMA,
    dim_roles,
    dim_tools,
)
from beats_spark.schema import MANIFEST_SCHEMA, METRICS_SCHEMA
from beats_spark.session import local_frame
from beats_spark.synth import synth_transcripts
from jobs.parse_route_job import _default_pipeline

REPO = Path(__file__).resolve().parents[1]

MANIFEST_NO_TS = T.StructType(
    [f for f in MANIFEST_SCHEMA.fields if f.name != "updated_ts"]
)

CASES = {
    "metrics": (
        METRICS_SCHEMA,
        [("r1", "errors", 10, 2, 8, 0), ("r1", "tool-bash", 10, 2, 0, 0)],
    ),
    "manifest": (
        MANIFEST_NO_TS,
        [("r1", 0, "done", 5, 5, "FF"), ("r1", 3, "done", 0, 0, None)],
    ),
    "roles": (ROLE_DIM_SCHEMA, ROLE_DIM_ROWS + [("ghost", None, None)]),
    "tools": (TOOL_DIM_SCHEMA, TOOL_DIM_ROWS + [(None, "x", None, None)]),
}


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(CASES))
@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
def test_round_trip_matches_list_path(spark, name, empty):
    schema, rows = CASES[name]
    rows = [] if empty else rows
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    got_rows = [tuple(r) for r in got.collect()]
    assert got_rows == [tuple(r) for r in want.collect()] == rows


def test_builtin_dims_carry_their_rows(spark):
    assert [tuple(r) for r in dim_roles(spark).collect()] == ROLE_DIM_ROWS
    assert [tuple(r) for r in dim_tools(spark).collect()] == TOOL_DIM_ROWS


def test_nested_types_round_trip(spark):
    rows = [("a", {"k": "v"}, [1.0, None], (1, "x")), ("b", {}, None, None)]
    ddl = "id string, labels map<string,string>, v array<double>, s struct<n:int,t:string>"
    got = local_frame(spark, rows, ddl).collect()
    assert [tuple(r) for r in got] == [
        ("a", {"k": "v"}, [1.0, None], T.Row(n=1, t="x")),
        ("b", {}, None, None),
    ]


def test_plan_is_local_relation(spark):
    df = local_frame(spark, ROLE_DIM_ROWS, ROLE_DIM_SCHEMA)
    assert _optimized(df).startswith("LocalRelation")
    assert "ExistingRDD" not in _executed(df)


def test_null_in_non_nullable_column_rejected(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [("r1", None, 1, 0, 1, 0)], METRICS_SCHEMA)


def test_ragged_row_rejected(spark):
    with pytest.raises(ValueError, match="3 values"):
        local_frame(spark, [("user", "human")], ROLE_DIM_SCHEMA)


def test_default_pipeline_has_no_python_scan(spark):
    df = synth_transcripts(spark, 200, seed=5)
    plan = _executed(_default_pipeline(spark, 16).transform(df))
    # its two local_frame dims are literal maps in the plan, not joins
    assert "Join" not in plan and plan.count("element_at(map(") == 5
    assert "ExistingRDD" not in plan


@pytest.mark.parametrize("source", ["limit0", "empty_parquet"])
def test_run_on_empty_input_commits(spark, tmp_path, source):
    out = str(tmp_path / "out")
    df = synth_transcripts(spark, 50, seed=5).limit(0)
    if source == "empty_parquet":
        # a zero-row parquet scan runs no task, so the run's
        # Observations report no row at all
        df.write.parquet(str(tmp_path / "empty"))
        df = spark.read.parquet(str(tmp_path / "empty"))
    res = _default_pipeline(spark, 4).run(spark, df, out, run_id="empty")
    assert (res.events_total, res.events_published) == (0, 0)
    manifest = spark.read.parquet(f"{out}/_manifest")
    metrics = spark.read.parquet(f"{out}/_metrics")
    assert manifest.count() == 0 and metrics.count() == 0
    assert set(MANIFEST_SCHEMA.fieldNames()) == set(manifest.columns)
    assert METRICS_SCHEMA.fieldNames() == metrics.columns
    # the next run over the same root still resumes from that commit
    res = _default_pipeline(spark, 4).run(
        spark, synth_transcripts(spark, 50, seed=5), out, run_id="next", resume=True
    )
    assert res.events_published == 50
    assert spark.read.parquet(f"{out}/_manifest").where(
        F.col("run_id") == "next"
    ).count() > 0


def _python_row_set_calls(path: Path) -> list[str]:
    """``createDataFrame`` / ``parallelize`` calls in ``path`` that are
    not inside ``local_frame`` itself."""
    tree = ast.parse(path.read_text(), filename=str(path))
    allowed: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
            allowed.update(id(n) for n in ast.walk(node))
    return [
        f"{path.relative_to(REPO)}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("createDataFrame", "parallelize")
        and id(node) not in allowed
    ]


def test_no_python_row_sets_in_program_code():
    files = [
        *sorted((REPO / "beats_spark").rglob("*.py")),
        *sorted((REPO / "jobs").rglob("*.py")),
        REPO / "__spark_entry__.py",
    ]
    assert len(files) > 20
    offenders = [hit for f in files for hit in _python_row_set_calls(f)]
    assert offenders == [], (
        "driver-side rows must go through beats_spark.session.local_frame "
        f"(a JVM LocalRelation), not a Python-worker RDD: {offenders}"
    )
