"""Structured Streaming pipeline tests: availableNow micro-batch runs
must produce exactly the batch results (same router code path), and
windowed/sessionized aggregations respect event time."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beats_spark.operators.actions import Dissect
from beats_spark.operators.selector import Rule
from beats_spark.plans.pipeline import Pipeline
from beats_spark.streaming.job import (
    read_transcript_stream,
    run_stream,
    sessionized_multiline,
    windowed_sink_counts,
)
from beats_spark.synth import TOK_LOGFMT, synth_transcripts

N = 2000


@pytest.fixture(scope="module")
def input_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_in"))
    synth_transcripts(spark, N, seed=11).write.mode("overwrite").parquet(path)
    return path


def make_pipeline() -> Pipeline:
    return Pipeline(
        processors=[Dissect(tokenizer=TOK_LOGFMT, field="text")],
        routes=[Rule(value="errors", when={"equals": {"level": "error"}})],
        default_sink="misc",
        n_buckets=8,
    )


def test_stream_matches_batch(spark, input_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = run_stream(spark, make_pipeline(), input_dir, out, ckpt)
    q.awaitTermination(120)

    got = {
        r["sink"]: r["n"]
        for r in spark.read.parquet(f"{out}/data")
        .groupBy("sink")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    batch = make_pipeline().transform(spark.read.parquet(input_dir))
    expect = {
        r["sink"]: r["n"]
        for r in batch.groupBy("sink").agg(F.count("*").alias("n")).collect()
    }
    assert got == expect
    assert sum(got.values()) == N


def test_stream_restart_no_duplicates(spark, input_dir, tmp_path):
    """Checkpoint semantics: rerunning the finished stream with the
    same checkpoint must not re-emit rows (registrar resume)."""
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    q1 = run_stream(spark, make_pipeline(), input_dir, out, ckpt)
    q1.awaitTermination(120)
    n1 = spark.read.parquet(f"{out}/data").count()
    q2 = run_stream(spark, make_pipeline(), input_dir, out, ckpt)
    q2.awaitTermination(120)
    n2 = spark.read.parquet(f"{out}/data").count()
    assert n1 == n2 == N


def test_windowed_sink_counts(spark, input_dir, tmp_path):
    routed = make_pipeline().transform(read_transcript_stream(spark, input_dir))
    agg = windowed_sink_counts(routed, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    total = spark.sql(
        "SELECT sum(events_published) AS s FROM win_counts"
    ).collect()[0]["s"]
    assert total == N
    # window boundaries are aligned hours
    starts = spark.sql("SELECT DISTINCT window_start FROM win_counts").collect()
    assert all(r["window_start"].minute == 0 for r in starts)


def test_sessionized_multiline(spark, input_dir):
    stream = read_transcript_stream(spark, input_dir)
    # synth spaces turns 7s apart — use a 10s gap so a conversation's
    # turns merge into one session per burst
    sess = sessionized_multiline(stream, gap="10 seconds", watermark="1 minute")
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT sum(n_turns) AS s, count(*) AS c FROM sessions").collect()[0]
    assert rows["s"] == N
    assert rows["c"] > 0


class TestStreamingCms:
    def test_streamed_sketch_equals_batch_sketch(
        self, spark, input_dir, tmp_path
    ):
        """Linearity end-to-end: CMS registers accumulated over
        micro-batches merge (by sum) to exactly the registers one
        batch build produces over the same rows — and so do the
        point estimates."""
        from beats_spark.operators.heavyhitters import cms_registers
        from beats_spark.streaming.monitor import StreamingCms

        mon = StreamingCms(str(tmp_path / "cms"))
        stream = (
            spark.readStream.schema(
                spark.read.parquet(input_dir).schema
            )
            # one file per micro-batch → several batch partitions
            .option("maxFilesPerTrigger", 1)
            .parquet(input_dir)
        )
        q = mon.attach(stream, str(tmp_path / "ckpt_cms"))
        q.awaitTermination(120)

        merged = sorted(
            tuple(r) for r in mon.merged_registers(spark).collect()
        )
        whole = sorted(
            tuple(r)
            for r in cms_registers(spark.read.parquet(input_dir)).collect()
        )
        assert merged == whole
        n_batches = (
            spark.read.parquet(f"{tmp_path}/cms/registers")
            .select("batch_id")
            .distinct()
            .count()
        )
        assert n_batches >= 1

    def test_replayed_batch_is_idempotent(self, spark, input_dir, tmp_path):
        """Re-writing the same batch_id overwrites its partition
        instead of double-counting (at-least-once safety)."""
        from beats_spark.streaming.monitor import StreamingCms

        mon = StreamingCms(str(tmp_path / "cms2"))
        df = spark.read.parquet(input_dir)
        mon.process_batch(df, 0)
        once = sorted(
            tuple(r) for r in mon.merged_registers(spark).collect()
        )
        mon.process_batch(df, 0)  # replay
        twice = sorted(
            tuple(r) for r in mon.merged_registers(spark).collect()
        )
        assert once == twice


class TestStreamingHll:
    def test_streamed_estimate_equals_batch_sketch(self, spark, tmp_path):
        """Registers max-merged across micro-batches must equal the
        one-shot batch sketch on the union — and the estimate is
        replay-safe (rewriting a batch partition changes nothing)."""
        import time as _t
        from pyspark.sql import functions as F
        from beats_spark.operators.sketch import (
            hll_estimate_by,
            hll_registers_by,
        )
        from beats_spark.streaming.monitor import StreamingHll

        src = tmp_path / "in"
        src.mkdir()
        df1 = spark.range(0, 600).select(
            F.concat(F.lit("c"), F.col("id")).alias("conv_id")
        )
        df2 = spark.range(300, 900).select(
            F.concat(F.lit("c"), F.col("id")).alias("conv_id")
        )
        df1.coalesce(1).write.mode("append").parquet(str(src))

        mon = StreamingHll(str(tmp_path / "hll"))
        stream = (
            spark.readStream.schema("conv_id string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = mon.attach(stream, str(tmp_path / "ckpt"))
        q.awaitTermination(120)

        df2.coalesce(1).write.mode("append").parquet(str(src))
        q2 = mon.attach(
            spark.readStream.schema("conv_id string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src)),
            str(tmp_path / "ckpt"),
        )
        q2.awaitTermination(120)

        got = mon.estimate(spark).collect()[0]
        want = hll_estimate_by(
            hll_registers_by(df1.unionByName(df2), [], F.col("conv_id")), []
        ).collect()[0]
        assert got["estimate"] == want["estimate"]
        assert got["n_nonzero"] == want["n_nonzero"]
        # replay batch 0: identical partition bytes, estimate unmoved
        mon.process_batch(df1, 0)
        again = mon.estimate(spark).collect()[0]
        assert again["estimate"] == got["estimate"]


def test_module_ingest_pipeline_streams(spark, tmp_path):
    """A module ingest pipeline is pure map-side Column work
    (grok/dissect/painless/set/date + broadcast enriches), so the
    SAME compiled program runs unchanged over a streaming frame —
    the §2.10 form of the module tier. Drive the x-pack cisco/asa
    YAML pipeline (guarded dissects + painless) through readStream →
    availableNow → parquet and pin row-for-row equality with the
    batch run."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from beats_spark.operators.fileset import load_fileset_pipeline

    src = "/root/reference/x-pack/filebeat/module/cisco/asa/test/sample.log"
    if not os.path.exists(src):
        pytest.skip("x-pack corpus not present")
    lines = open(src).read().splitlines()
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    batch_df = spark.createDataFrame(
        [(i, ln, "2024-01-01T00:00:00.000Z") for i, ln in enumerate(lines)],
        "rowid long, message string, `@timestamp` string",
    )
    batch_df.write.parquet(str(in_dir), mode="overwrite")

    pipe = load_fileset_pipeline(
        "/root/reference/x-pack/filebeat/module/cisco/asa/ingest/"
        "pipeline.yml",
        {"convert_timezone": False, "log_level": 7},
        default_year=2019,
    )
    cols = ["rowid", "`cisco.asa.message_id`", "`event.outcome`",
            "`log.level`", "`error.message`"]

    batch_out = sorted(
        tuple(r)
        for r in pipe.apply(spark.read.parquet(str(in_dir)))
        .select(*[F.col(c) for c in cols])
        .collect()
    )

    stream = spark.readStream.schema(batch_df.schema).parquet(str(in_dir))
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        pipe.apply(stream)
        .select(*[F.col(c) for c in cols])
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_out = sorted(
        tuple(r) for r in spark.read.parquet(out_dir).collect()
    )
    assert stream_out == batch_out
    assert len(stream_out) == len(lines)
