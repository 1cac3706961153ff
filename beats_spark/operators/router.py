"""Router: fan-out routed rows to per-sink tables in ONE write pass.

The reference dispatches each batch to per-output workers
(libbeat/publisher/pipeline/output.go:26-71); the Spark-native
equivalent is a single ``partitionBy("sink", "part_id")`` parquet
write — every task splits its rows across sink directories, so N sinks
cost one scan, not N filtered scans. Dynamic partition overwrite means
a resumed run replaces exactly the (sink, part_id) directories it
recomputes (idempotent fan-out, FIXTURES.md §6).

Deterministic in-sink ordering (the per-turn text-equality invariant)
comes from one AQE ``REBALANCE`` exchange on (sink, part_id) and a sort
within partitions by (conv_id, turn_idx) — the same stable order the
reference gets from per-file byte order (SURVEY.md §2.9). AQE sizes
that exchange from its own map output, so a hot bucket is split over
several writer tasks without any configuration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.memo import memo

PART_COL = "part_id"
ROW_HASH_COL = "row_hash"


def with_partition_id(df: DataFrame, n_buckets: int) -> DataFrame:
    """Stable logical input partitioning: bucket of conv_id. This is the
    checkpoint unit (registrar state is keyed per source file; ours per
    conv_id bucket)."""
    part_id = memo(
        ("part_id", n_buckets),
        lambda: F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int"),
    )
    return df.withColumn(PART_COL, part_id)


def with_row_hash(df: DataFrame) -> DataFrame:
    """Order-insensitive per-row content hash over every payload column
    — summed per partition it forms the manifest checksum, and it lets
    the manifest pass re-read only (part_id, sink, row_hash) from the
    written parquet (column pruning) instead of the full payload."""
    # backticks: payload columns may be flat dotted keys (enricher
    # outputs like `container.name`) — bare F.col would read them as
    # struct paths and fail to resolve.  MAP columns (e.g. kv/label
    # maps) are prohibited inside hash functions (undefined entry
    # order), so hash their key-sorted entry list instead.
    schema = df.schema

    def build():
        exprs = []
        for f in schema.fields:
            if f.name == ROW_HASH_COL:
                continue
            c = F.col(f"`{f.name}`")
            if f.dataType.typeName() == "map":
                c = F.array_sort(F.map_entries(c))
            exprs.append(c)
        return F.xxhash64(*exprs)

    return df.withColumn(ROW_HASH_COL, memo(("row_hash", schema), build))


def sort_for_fanout(routed: DataFrame) -> DataFrame:
    """Co-locate each (sink, bucket) and fix the stable
    (conv_id, turn_idx) order inside every output file — the per-turn
    ordering invariant. Shared by the parquet and Iceberg writers.

    The one exchange is a ``REBALANCE`` on (sink, part_id), so AQE
    sizes it from the shuffle's own map-output statistics: it
    coalesces small (sink, bucket) partitions, and it splits any
    partition above ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
    into several sorted files. That split is the hot-key spread the
    kafka hash partitioner gets from its random fallback
    (outputs/kafka/partition.go:216-275): a bucket one run-away
    conversation dominates is written by several tasks, with no
    extra input pass. Reading a sink and sorting by
    (conv_id, turn_idx) is identical either way, which is what the
    per-turn equality invariant is defined over.

    Without AQE the hint plans no exchange at all, and every input
    task would write every (sink, bucket) it sees, so AQE off is an
    error here rather than a second plan.
    """
    spark = routed.sparkSession
    if spark.conf.get("spark.sql.adaptive.enabled").lower() != "true":
        raise ValueError(
            "the fan-out write needs spark.sql.adaptive.enabled=true: "
            "its REBALANCE exchange is planned only under AQE"
        )
    # Columns, built once: a name passed to sortWithinPartitions costs
    # about ten py4j calls per micro-batch to become one
    order = memo(
        "fanout_order",
        lambda: [F.col(c) for c in ("sink", PART_COL, "conv_id", "turn_idx")],
    )
    return routed.hint("rebalance", "sink", PART_COL).sortWithinPartitions(*order)


def write_fanout(routed: DataFrame, root: str, mode: str = "overwrite") -> None:
    """Single-pass fan-out write (parquet layout; see
    sources/tables.py for the Iceberg-backed variant).

    Requires columns ``sink`` and ``part_id``: every task splits its
    rows across sink directories, so N sinks cost one scan, not N
    filtered scans.
    """
    # dynamic overwrite is load-bearing for resume: static overwrite
    # would DELETE every previously-committed (sink, part_id) partition
    # the manifest still marks done. The per-write option pins it
    # regardless of the caller's session conf.
    sort_for_fanout(routed).write.mode(mode).option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("sink", PART_COL).parquet(root)
