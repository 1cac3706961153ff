"""End-to-end slice: synth transcripts → dissect parse → enrich →
route → fan-out write + metrics + manifest. Verifies per-sink counts
and per-turn text equality against a pure-pandas oracle of the same
compiled operators (SURVEY.md §7 step 2)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from beats_spark.functions.dissect import compile_tokenizer
from beats_spark.operators.actions import AddFields, Dissect, When
from beats_spark.operators.enrich import BroadcastLookup, dim_roles, dim_tools
from beats_spark.operators.selector import Rule
from beats_spark.plans.pipeline import Pipeline
from beats_spark.synth import TOK_LOGFMT, synth_transcripts

N_ROWS = 4000


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synth_transcripts(spark, N_ROWS, seed=42).cache()
    df.count()
    return df


def make_pipeline(spark) -> Pipeline:
    return Pipeline(
        processors=[
            Dissect(tokenizer=TOK_LOGFMT, field="text"),
            AddFields(fields={"pipeline_name": "t1", "ecs_version": "8.0.0"}),
            When(
                condition={"equals": {"role": "tool"}},
                then=AddFields(fields={"is_tool_turn": True}),
            ),
            BroadcastLookup(dim=dim_roles(spark), on=["role"]),
            BroadcastLookup(dim=dim_tools(spark), on=["tool"]),
        ],
        routes=[
            Rule(value="errors", when={"equals": {"level": "error"}}),
            Rule(value="%{[role]}-%{[tool]}", when={"equals": {"role": "tool"}}),
            Rule(
                value="%{[role]}",
                mappings={"user": "sink_user", "assistant": "sink_agent"},
                default="sink_other",
            ),
        ],
        default_sink="sink_other",
        n_buckets=16,
    )


def test_transform_schema_and_routing(spark, transcripts):
    routed = make_pipeline(spark).transform(transcripts)
    cols = set(routed.columns)
    assert {"conv_id", "turn_idx", "level", "caller", "message", "timestamp",
            "sink", "role_group", "tool_family", "log_flags"} <= cols
    sinks = {r["sink"] for r in routed.select("sink").distinct().collect()}
    assert "errors" in sinks
    assert any(s.startswith("tool-") for s in sinks)
    # every row routed somewhere
    assert routed.filter(F.col("sink").isNull()).count() == 0


def test_counts_match_pandas_oracle(spark, transcripts):
    """Per-sink counts must match a row-at-a-time oracle applying the
    same semantics in pandas (the reference-style expectation)."""
    routed = make_pipeline(spark).transform(transcripts)
    got = {
        r["sink"]: r["n"]
        for r in routed.groupBy("sink").agg(F.count("*").alias("n")).collect()
    }

    pdf = transcripts.toPandas()
    d = compile_tokenizer(TOK_LOGFMT)

    def oracle_sink(row) -> str:
        m = d.dissect(row["text"]) or {}
        level = m.get("level")
        if level == "error":
            return "errors"
        if row["role"] == "tool":
            return f"{row['role']}-{row['tool']}"
        return {"user": "sink_user", "assistant": "sink_agent"}.get(
            row["role"], "sink_other"
        )

    expected = pdf.apply(oracle_sink, axis=1).value_counts().to_dict()
    assert got == expected


def test_parse_failure_tagging(spark, transcripts):
    routed = make_pipeline(spark).transform(transcripts)
    tagged = routed.filter(
        F.array_contains("log_flags", "dissect_parsing_error")
    ).count()
    pdf = transcripts.toPandas()
    d = compile_tokenizer(TOK_LOGFMT)
    expected = int(sum(1 for t in pdf["text"] if d.dissect(t) is None))
    assert tagged == expected
    assert tagged > 0  # synth guarantees malformed rows exist


def test_run_writes_sinks_metrics_manifest(spark, transcripts, tmp_path):
    out = str(tmp_path / "out")
    res = make_pipeline(spark).run(spark, transcripts, out, run_id="t1")
    assert res.events_total == N_ROWS
    assert res.events_published == N_ROWS  # no drop processor configured
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == N_ROWS
    # stable ordering inside each sink file: check per-turn text equality
    # by re-deriving original text rows through the stable sort
    sample = (
        data.filter(F.col("sink") == "errors")
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .limit(50)
        .toPandas()
    )
    orig = (
        transcripts.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
        .set_index(["conv_id", "turn_idx"])
    )
    for _, r in sample.iterrows():
        assert orig.loc[(r.conv_id, r.turn_idx), "text"] == r.text

    metrics = spark.read.parquet(f"{out}/_metrics")
    tot = metrics.agg(F.sum("events_published")).collect()[0][0]
    assert tot == N_ROWS
    manifest = spark.read.parquet(f"{out}/_manifest")
    assert manifest.filter(F.col("status") == "done").count() > 0
    assert manifest.agg(F.sum("rows_routed")).collect()[0][0] == N_ROWS


def test_metrics_count_flagged_events_as_failed(spark, transcripts, tmp_path):
    """``events_failed`` is the published rows with a non-empty
    ``log_flags``, recounted here by DuckDB over the written sinks; a
    chain that flags nothing (no ``log_flags`` column) reports 0."""
    import duckdb

    out = str(tmp_path / "out")
    make_pipeline(spark).run(spark, transcripts, out, run_id="f1")
    (flagged,) = duckdb.sql(
        f"SELECT count_if(len(log_flags) > 0) FROM "
        f"parquet_scan('{out}/data/*/*/*.parquet', hive_partitioning=1)"
    ).fetchone()
    failed = {r[0] for r in duckdb.sql(
        f"SELECT events_failed FROM parquet_scan('{out}/_metrics/*.parquet')"
    ).fetchall()}
    assert flagged > 0 and failed == {flagged}

    bare = str(tmp_path / "bare")
    Pipeline(n_buckets=4).run(spark, transcripts, bare, run_id="f2")
    failed = {r[0] for r in duckdb.sql(
        f"SELECT events_failed FROM parquet_scan('{bare}/_metrics/*.parquet')"
    ).fetchall()}
    assert failed == {0}


def test_resume_is_idempotent(spark, transcripts, tmp_path):
    """Kill-and-rerun invariant (FIXTURES.md §6): after resume, per-sink
    counts equal a clean single run."""
    out = str(tmp_path / "out2")
    pipe = make_pipeline(spark)
    res1 = pipe.run(spark, transcripts, out, run_id="r1")
    # rerun with resume: all buckets done → nothing reprocessed
    res2 = pipe.run(spark, transcripts, out, run_id="r2", resume=True)
    assert res2.events_total == 0
    assert res2.skipped_parts == pipe.n_buckets or res2.skipped_parts > 0
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == N_ROWS  # unchanged, no duplicates


def test_partial_resume_commits_only_new_buckets(spark, transcripts, tmp_path):
    """A partial resume must not re-stamp untouched buckets with the
    new run_id, and its metrics must count only rows THIS run wrote
    (not the whole on-disk table re-attributed)."""
    from beats_spark.operators.router import PART_COL, with_partition_id

    out = str(tmp_path / "outp")
    pipe = make_pipeline(spark)
    bucketed = with_partition_id(transcripts, pipe.n_buckets)
    half = [p for p in range(pipe.n_buckets) if p % 2 == 0]
    first_input = bucketed.filter(F.col(PART_COL).isin(half)).drop(PART_COL)

    res1 = pipe.run(spark, first_input, out, run_id="p1")
    n_first = res1.events_published
    assert 0 < n_first < N_ROWS

    committed_p1 = {
        r["partition_id"]
        for r in spark.read.parquet(f"{out}/_manifest").collect()
    }
    assert committed_p1  # p1 committed some even buckets

    res2 = pipe.run(spark, transcripts, out, run_id="p2", resume=True)
    assert res2.skipped_parts == len(committed_p1)
    assert res2.events_published == N_ROWS - n_first

    # manifest: p1's buckets keep p1 attribution; p2 stamps only new ones
    manifest = spark.read.parquet(f"{out}/_manifest")
    stamped = {
        r["run_id"]
        for r in manifest.filter(
            F.col("partition_id").isin(list(committed_p1))
        ).collect()
    }
    assert stamped == {"p1"}
    # metrics for p2 count only this run's rows
    m2 = spark.read.parquet(f"{out}/_metrics").filter(F.col("run_id") == "p2")
    assert m2.agg(F.sum("events_published")).collect()[0][0] == N_ROWS - n_first
    # and the data itself is complete with no duplicates
    assert spark.read.parquet(f"{out}/data").count() == N_ROWS


def test_fresh_rerun_replaces_stale_partitions(spark, transcripts, tmp_path):
    """A resume=False rerun over an existing root is a FULL replace:
    partitions (and manifest/metrics rows) of the previous run must not
    survive — dynamic partition overwrite alone would keep buckets the
    new run doesn't produce."""
    from beats_spark.operators.router import PART_COL, with_partition_id

    out = str(tmp_path / "outf")
    pipe = make_pipeline(spark)
    pipe.run(spark, transcripts, out, run_id="f1")
    assert spark.read.parquet(f"{out}/data").count() == N_ROWS

    bucketed = with_partition_id(transcripts, pipe.n_buckets)
    subset = bucketed.filter(F.col(PART_COL) % 2 == 0).drop(PART_COL)
    res2 = pipe.run(spark, subset, out, run_id="f2")

    data = spark.read.parquet(f"{out}/data")
    assert data.count() == res2.events_published < N_ROWS
    manifest = spark.read.parquet(f"{out}/_manifest")
    assert {r["run_id"] for r in manifest.collect()} == {"f2"}
    metrics = spark.read.parquet(f"{out}/_metrics")
    assert {r["run_id"] for r in metrics.collect()} == {"f2"}
