"""Structured Streaming variant of the pipeline (SURVEY.md §2.10).

The reference is a continuous shipper: harvester tails files, the
memqueue batches (flush at 2048 events or 1 s), outputs ACK, the
registrar checkpoints. The Spark-native restatement:

  file/table stream source      ← harvester tailing
  micro-batch trigger           ← memqueue flush thresholds
  foreachBatch fan-out write    ← per-output workers + bulk sinks
  checkpointLocation            ← registrar data.json
  watermark + windowed aggs     ← ignore_older / metrics over time
  session windows               ← multiline timeout flush (5 s gap)

``foreachBatch`` reuses the exact batch router (one partitionBy write
per micro-batch), so batch and streaming share one code path. Every
micro-batch calls ``Pipeline.transform`` anew, but the expressions it
builds are memoized per config, input schema and JVM
(``functions/memo.py``), and every batch of a stream has the source's
one schema: from the second batch on, the transform issues only its
DataFrame operations. On a 4-vCPU VM a one-file (200-row) micro-batch
of the headline pipeline triggers in ≈ 200–250 ms, of which
``addBatch`` is ≈ 185–230 ms: the transform ≈ 30–45 ms (≈ 115 ms when
it rebuilt its expressions) and the fan-out write the rest, two Spark
jobs (the ``REBALANCE`` map stage and the write). Its two lookups read
their dims from literal maps in the scan's stage; as broadcast joins
they cost two more jobs and an AQE re-plan per batch (``addBatch``
≈ 255–310 ms; ``operators/enrich.py``). The offset, WAL and commit logs
take ≈ 8 ms together (≈ 70 ms while Hadoop forked a ``readlink`` for
each side of their renames; ``session.py``). The contract is weaker
than the batch job's: the checkpoint makes delivery at-least-once, but
``process_batch`` APPENDS and writes no manifest, so a micro-batch
replayed after a failure appends its rows a second time.
The batch job's idempotent replace (manifest-gated, per bucket) has no
streaming counterpart yet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.router import with_partition_id, write_fanout
from ..plans.pipeline import Pipeline
from ..schema import TRANSCRIPT_SCHEMA
from .sink import start_foreach_batch


def read_transcript_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """Parquet-directory stream source (the harvester analog: new files
    under the path are discovered per trigger, like scan_frequency)."""
    return spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_path)


def run_stream(
    spark: SparkSession,
    pipeline: Pipeline,
    input_path: str,
    output_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """parse → enrich → route each micro-batch, fan-out append to the
    per-sink layout. Returns the started StreamingQuery."""
    stream = read_transcript_stream(spark, input_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        routed = pipeline.transform(with_partition_id(batch_df, pipeline.n_buckets))
        write_fanout(routed, f"{output_root}/data", mode="append")

    return start_foreach_batch(
        stream, process_batch, checkpoint_dir, available_now
    )


def windowed_sink_counts(
    routed_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-sink tallies over event-time tumbling windows with a
    watermark bounding late data (the reference's ignore_older) —
    the streaming form of the pipeline observer counters."""
    return (
        routed_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "sink")
        .agg(F.count("*").alias("events_published"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "sink",
            "events_published",
        )
    )


def sessionized_multiline(
    stream: DataFrame,
    gap: str = "5 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Streaming multiline combine (multiline.go timeout flush): turns
    of one conversation within a session gap collapse into one
    document, emitted when the watermark passes the gap."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: s.text,
                ),
                "\n",
            ).alias("doc"),
            F.count("*").alias("n_turns"),
        )
        .select(
            "conv_id",
            F.col("sess.start").alias("session_start"),
            "n_turns",
            F.length("doc").alias("doc_chars"),
        )
    )
