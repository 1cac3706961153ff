"""Streaming sketch monitors: count-min and HyperLogLog registers over
a stream.

Both batch sketches rest on a MERGE property: count-min registers are
LINEAR (registers built on disjoint slices SUM to the whole-corpus
registers, operators/heavyhitters.py) and HLL registers merge by
element-wise MAX (operators/sketch.py). That is exactly the contract a
micro-batch stream needs: build the register frame per batch (one
map-side-combining agg, constant output size), keep it in a
``batch_id``-partitioned store, and at any point in time the store
answers "how often has this term streamed past so far"
(:class:`StreamingCms`) or "how many distinct conversations so far"
(:class:`StreamingHll`) without ever keying state by term or key (the
stateful-agg alternative — ``groupBy(term).count`` in update mode —
carries one state row per DISTINCT term forever; the sketch carries
d·w longs or 2^p registers per batch, period).

Each micro-batch writes its OWN registers to the ``batch_id=N``
partition through ``streaming/sink.write_batch`` (dynamic partition
overwrite, shared with the incremental curator), so an at-least-once
foreachBatch replay rewrites identical bytes instead of
double-counting. The merged view is a read-time SUM or MAX over
partitions — cheap (n_batches × register rows) and always consistent
with exactly the set of committed batches.

Reference analog: the pipeline observer's event tallies
(libbeat/monitoring/report/log/log.go:95-118 periodic metrics
snapshots); the sketches are the scale-safe form for per-TERM
frequencies and distinct counts rather than per-counter totals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.heavyhitters import CMS_DEPTH, CMS_WIDTH, cms_registers
from .sink import start_foreach_batch, write_batch


class _RegisterStore:
    """foreachBatch sink: per-batch registers into the idempotent
    ``batch_id``-partitioned store under ``output_root/registers``."""

    output_root: str

    def registers(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        write_batch(
            self.registers(batch_df), batch_id, f"{self.output_root}/registers"
        )

    def attach(self, stream_df: DataFrame, checkpoint: str):
        """Wire onto a streaming DataFrame; returns the query."""
        return start_foreach_batch(stream_df, self.process_batch, checkpoint)


class StreamingCms(_RegisterStore):
    """Count-min registers per batch; ``merged_registers`` reads back
    the running sketch."""

    def __init__(
        self,
        output_root: str,
        depth: int = CMS_DEPTH,
        width: int = CMS_WIDTH,
        text_col: str = "text",
    ) -> None:
        self.output_root = output_root
        self.depth = depth
        self.width = width
        self.text_col = text_col

    def registers(self, batch_df: DataFrame) -> DataFrame:
        return cms_registers(
            batch_df, depth=self.depth, width=self.width, text_col=self.text_col
        )

    def merged_registers(self, spark: SparkSession) -> DataFrame:
        """The running sketch: element-wise sum over all committed
        batch partitions (bounded: n_batches × d×w rows in, d×w out)."""
        return (
            spark.read.parquet(f"{self.output_root}/registers")
            .groupBy("i", "j")
            .agg(F.sum("cnt").alias("cnt"))
        )

    def estimates(
        self, spark: SparkSession, probe_terms: DataFrame
    ) -> DataFrame:
        """Point-query estimates against the merged sketch."""
        from ..operators.heavyhitters import cms_estimate

        return cms_estimate(
            self.merged_registers(spark),
            probe_terms,
            depth=self.depth,
            width=self.width,
        )


class StreamingHll(_RegisterStore):
    """HLL registers per batch — the continuous "distinct
    conversations/documents seen so far" companion to
    :class:`StreamingCms`.

    The read-time merge is a ``groupBy(register).max`` over committed
    batch partitions, and an at-least-once replay of a batch is
    DOUBLY harmless: the partition overwrite rewrites identical
    bytes, and even a hypothetical duplicate register row cannot
    move a max. State is ≤ 2^p longs per batch partition, never one
    row per distinct key."""

    def __init__(
        self,
        output_root: str,
        value_col: str = "conv_id",
        p: int = 8,
    ) -> None:
        self.output_root = output_root
        self.value_col = value_col
        self.p = p

    def registers(self, batch_df: DataFrame) -> DataFrame:
        from ..operators.sketch import hll_registers_by

        return hll_registers_by(batch_df, [], F.col(self.value_col), p=self.p)

    def merged_registers(self, spark: SparkSession) -> DataFrame:
        return (
            spark.read.parquet(f"{self.output_root}/registers")
            .groupBy("register")
            .agg(F.max("max_rho").alias("max_rho"))
        )

    def estimate(self, spark: SparkSession) -> DataFrame:
        """One-row (m, n_nonzero, estimate) over everything committed."""
        from ..operators.sketch import hll_estimate_by

        return hll_estimate_by(self.merged_registers(spark), [], p=self.p)
