"""The Pipeline plan: parse → enrich → route → aggregate.

This is the libbeat publisher pipeline re-expressed as one Spark job
(SURVEY.md §3.1 restatement):

  input scan            ← filebeat harvester/prospector
  processor chain       ← libbeat processors (client.go:67-135 order)
  enrich lookups        ← add_*_metadata cached lookups
  selector → sink col   ← outil.Selector (select.go:94-96)
  fan-out write         ← per-output workers + bulk sinks
  metrics + manifest    ← pipeline observer + registrar ACK/checkpoint

Everything before the write is lazily-composed Column expressions, so
Catalyst handles pushdown/pruning/reordering; the write is ONE pass
(partitioned by sink × bucket); the run's events-in, published and
failed counts ride on Observations (no extra scan); the per-sink
metrics and the per-bucket manifest come from one re-read of only 3
columns of the written parquet, with their schema given (column
pruning makes it ~free relative to the main pass, and no footer is read
to infer a schema), and each lands as one file.

Like the reference's processor chain, built once and run for every
event (processor.go:129-142), the expressions are built once:
``transform`` calls the same builders every time, and the hot ones (the
dissect kernel and its flag append, the selector, the bucket and row
hashes) are memoized per config, input schema and JVM
(``functions/memo.py``). A warm ``transform`` of the headline chain
issues 77 py4j calls (rebuilding its Columns took ≈ 710–740; 46 when
its lookups were joins, the rest is the column lists of their two
``select``s), and what is left is its DataFrame operations. A step
whose expression depends on the data is rebuilt every call
(``DnsEnrich``).

Scale notes (100 TB): the only shuffle is the pre-write AQE rebalance
by (sink, part_id), which is required anyway to control output file
counts. It keys on the bucket — not raw conv_id — and AQE sizes it
from the shuffle's map output: small (sink, bucket) partitions are
coalesced, and one above the advisory partition size (a bucket a hot
conversation dominates) is split over several writer tasks, so no
reducer carries a whole hot bucket and no setting has to predict it. No
enrich lookup shuffles either. The headline's dims are driver-side
``LocalRelation``s of a few rows (``session.local_frame``), read once
into literal maps that each row looks up inside the scan's own stage:
no join, no broadcast job and no extra AQE stage per run or
micro-batch (``BroadcastLookup``). A larger or table-backed dim is a
broadcast join, whose broadcast every action that plans it builds
again, once per run and once per micro-batch in a stream. The commit
rows are ``LocalRelation``s too; a list-backed ``createDataFrame``
makes each broadcast and each commit write a Python-worker job of
≈0.3–0.55 s on a 4-vCPU VM. Input→bucket mapping is a hash, so
rerunning any subset of buckets is deterministic.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field as dc_field
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.actions import Processor, apply_chain
from ..operators.manifest import append_manifest, read_done_parts
from ..operators.router import (
    PART_COL,
    ROW_HASH_COL,
    with_partition_id,
    with_row_hash,
    write_fanout,
)
from ..operators.selector import Rule, compile_selector
from ..session import hadoop_fs, local_frame


#: the written columns the commit re-reads (``sink`` and ``part_id``
#: are the partition directories)
_COMMIT_SCHEMA = f"{PART_COL} int, sink string, {ROW_HASH_COL} bigint"


def _clear_output(spark: SparkSession, output_root: str) -> None:
    """Delete a previous run's data/manifest/metrics under the root.

    A FRESH (resume=False) run means full replace: with dynamic
    partition overwrite now pinned in write_fanout, partitions the new
    run doesn't produce would otherwise survive on disk and the commit
    aggregation would attribute their rows to the new run_id — and a
    stale manifest would poison a later resume. Hadoop FS API, so any
    warehouse scheme works."""
    for sub in ("data", "_manifest", "_metrics"):
        fs, path = hadoop_fs(spark, f"{output_root}/{sub}")
        fs.delete(path, True)


@dataclass
class RunResult:
    run_id: str
    events_total: int
    events_filtered: int
    events_published: int
    sinks_root: str
    skipped_parts: int = 0


@dataclass
class Pipeline:
    """Compiled pipeline config (the reference's YAML surface)."""

    processors: Sequence[Processor] = dc_field(default_factory=tuple)
    routes: Sequence[Rule | Mapping] = dc_field(default_factory=tuple)
    default_sink: str = "default"
    n_buckets: int = 64

    # -- lazy plan ----------------------------------------------------------

    def transform(self, df: DataFrame) -> DataFrame:
        """parse + enrich + route: pure DataFrame transform, no action.
        Exposed separately so tests/bench can measure or explain() the
        plan without writing. Its memoized builders make a repeat call
        over a same-schema input (the next run, the next micro-batch)
        cost only its DataFrame operations."""
        df = apply_chain(df, self.processors)
        return df.withColumn(
            "sink",
            compile_selector(
                list(self.routes), default=self.default_sink, df=df
            ),
        )

    # -- materializing run --------------------------------------------------

    def run(
        self,
        spark: SparkSession,
        df: DataFrame,
        output_root: str,
        run_id: str | None = None,
        resume: bool = False,
    ) -> RunResult:
        run_id = run_id or uuid.uuid4().hex[:12]
        df = with_partition_id(df, self.n_buckets)

        skipped = 0
        done: list[int] = []
        if not resume:
            _clear_output(spark, output_root)
        if resume:
            done = read_done_parts(spark, output_root)
            if done:
                skipped = len(done)
                df = df.filter(~F.col(PART_COL).isin(*done))
                if df.isEmpty():
                    # everything already committed — don't launch a write
                    return RunResult(
                        run_id=run_id,
                        events_total=0,
                        events_filtered=0,
                        events_published=0,
                        sinks_root=f"{output_root}/data",
                        skipped_parts=skipped,
                    )

        # observation names must be unique within a SparkSession
        obs_in = Observation(f"events_in_{run_id}_{uuid.uuid4().hex[:6]}")
        df = df.observe(obs_in, F.count(F.lit(1)).alias("n"))

        routed = self.transform(df)
        routed = with_row_hash(routed)

        obs_out = Observation(f"events_out_{run_id}_{uuid.uuid4().hex[:6]}")
        # a failed event is a published row a processor flagged
        # (dissect/grok parse error, json decode error, truncation)
        failed = (
            F.count_if(F.size("log_flags") > 0)
            if "log_flags" in routed.columns
            else F.lit(0)
        )
        routed = routed.observe(
            obs_out, F.count(F.lit(1)).alias("n"), failed.alias("failed")
        )

        data_root = f"{output_root}/data"
        write_fanout(routed, data_root, mode="overwrite")

        # An Observation has no row when its subtree ran no task: a
        # zero-row parquet input plans a scan with no partitions, so
        # ``get`` raises; count that as 0 events. (``limit(0)`` and a
        # cached-empty input still run a task and report n = 0.)
        try:
            events_total = int(obs_in.get["n"])
        except Exception:
            events_total = 0
        try:
            out = obs_out.get
            events_published, events_failed = int(out["n"]), int(out["failed"])
        except Exception:
            events_published = events_failed = 0
        events_filtered = events_total - events_published

        # ONE column-pruned re-read of the written parquet feeds both
        # the manifest (per-bucket) and the metrics (per-sink): the
        # (part_id, sink) aggregate is at most buckets × sinks rows, so
        # both rollups happen on the driver.
        # rows_in ≈ routed rows per bucket; when the chain drops rows
        # the true rows_in is total pre-drop — tracked via the
        # observation; per-bucket pre-drop counts would need a second
        # input scan, so the manifest stores post-route counts and the
        # run-level metrics carry the drop tally.
        # A run that routed nothing wrote no file to re-read (and
        # parquet can't infer a schema from none): it commits empty.
        per = []
        if events_published:
            # an explicit schema: no footer read to infer one
            commit_src = spark.read.schema(_COMMIT_SCHEMA).parquet(data_root)
            if done:
                # a partial resume commits only the buckets THIS run
                # wrote: skipped buckets keep their original manifest
                # rows (their run_id stays attributable) and the
                # per-sink metrics count only rows published by this run
                commit_src = commit_src.filter(~F.col(PART_COL).isin(*done))
            per = (
                commit_src.groupBy(PART_COL, "sink")
                .agg(
                    F.count("*").alias("n"),
                    F.expr(f"bit_xor({ROW_HASH_COL})").alias("chk"),
                )
                .collect()
            )
        by_part: dict[int, list[int]] = {}
        by_sink: dict[str, int] = {}
        for r in per:
            rows, chk = by_part.setdefault(r[PART_COL], [0, 0])
            by_part[r[PART_COL]] = [rows + r["n"], chk ^ r["chk"]]
            by_sink[r["sink"]] = by_sink.get(r["sink"], 0) + r["n"]

        from pyspark.sql import types as T

        from ..schema import MANIFEST_SCHEMA, METRICS_SCHEMA

        manifest_schema = T.StructType(
            [f for f in MANIFEST_SCHEMA.fields if f.name != "updated_ts"]
        )
        manifest_rows = local_frame(
            spark,
            [
                # uppercase hex matches the conv(...,10,16) format of
                # pre-refactor manifest generations
                (run_id, int(p), "done", rows, rows, format(chk & (2**64 - 1), "X"))
                for p, (rows, chk) in sorted(by_part.items())
            ],
            manifest_schema,
        ).withColumn("updated_ts", F.current_timestamp())
        # one task, one file per commit (a LocalRelation splits over
        # the default parallelism otherwise)
        append_manifest(manifest_rows.coalesce(1), output_root)

        metrics = local_frame(
            spark,
            [
                (run_id, s, events_total, events_filtered, n, events_failed)
                for s, n in sorted(by_sink.items())
            ],
            METRICS_SCHEMA,
        )
        metrics.coalesce(1).write.mode("append").parquet(f"{output_root}/_metrics")

        return RunResult(
            run_id=run_id,
            events_total=events_total,
            events_filtered=events_filtered,
            events_published=events_published,
            sinks_root=data_root,
            skipped_parts=skipped,
        )
