"""Router: fan-out routed rows to per-sink tables in ONE write pass.

The reference dispatches each batch to per-output workers
(libbeat/publisher/pipeline/output.go:26-71); the Spark-native
equivalent is a single ``partitionBy("sink", "part_id")`` parquet
write — every task splits its rows across sink directories, so N sinks
cost one scan, not N filtered scans. Dynamic partition overwrite means
a resumed run replaces exactly the (sink, part_id) directories it
recomputes (idempotent fan-out, FIXTURES.md §6).

Deterministic in-sink ordering (the per-turn text-equality invariant)
comes from hash-distributing on conv_id and sorting within partitions
by (conv_id, turn_idx) — the same stable order the reference gets from
per-file byte order (SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PART_COL = "part_id"
ROW_HASH_COL = "row_hash"


def with_partition_id(df: DataFrame, n_buckets: int) -> DataFrame:
    """Stable logical input partitioning: bucket of conv_id. This is the
    checkpoint unit (registrar state is keyed per source file; ours per
    conv_id bucket)."""
    return df.withColumn(
        PART_COL, F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


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
    exprs = []
    for f in df.schema.fields:
        if f.name == ROW_HASH_COL:
            continue
        c = F.col(f"`{f.name}`")
        if f.dataType.typeName() == "map":
            c = F.array_sort(F.map_entries(c))
        exprs.append(c)
    return df.withColumn(ROW_HASH_COL, F.xxhash64(*exprs))


def sort_for_fanout(
    routed: DataFrame,
    partition_cols: tuple[str, str] = ("sink", PART_COL),
    salt: int | None = None,
) -> DataFrame:
    """Co-locate each (sink, bucket) and fix the stable
    (conv_id, turn_idx) order inside every output file — the per-turn
    ordering invariant. Shared by the parquet and Iceberg writers.

    ``salt`` handles hot conversations (the synth's Zipf head, or one
    run-away agent session at 100 TB): a bucket whose conv dominates
    the data would otherwise land on ONE writer task. Salting adds
    ``hash(conv_id, turn_idx) % salt`` to the SHUFFLE key only — the
    on-disk partitioning (sink, part_id) is unchanged, the hot bucket
    just arrives as ≤``salt`` sorted files instead of one. Reading a
    sink and sorting by (conv_id, turn_idx) is identical either way,
    which is what the per-turn equality invariant is defined over
    (mirrors the kafka hash-partitioner's random fallback for hot
    keys, outputs/kafka/partition.go:216-275).
    """
    keys = [F.col(c) for c in partition_cols]
    if salt and salt > 1:
        keys.append(F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(salt)))
    return routed.repartition(*keys).sortWithinPartitions(
        *partition_cols, "conv_id", "turn_idx"
    )


def recommend_salt(
    df: DataFrame,
    *key_cols: str,
    cap: int = 64,
) -> int:
    """Data-derived ``salt`` for :func:`sort_for_fanout`:
    ``ceil(max_cnt / mean_cnt)`` of the per-key count distribution
    (the factor that levels the hottest key with the average),
    clamped to [1, cap]. One map-side-combining keyed agg plus a
    1-row collect — run it on a sample or a prior batch when the
    extra input pass matters; the answer only needs to be
    order-of-magnitude right (heavyhitters.skew_report is the
    full diagnostic this is the one-number form of)."""
    keys = [F.col(c) for c in key_cols] or [F.col("conv_id")]
    row = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.max("cnt").alias("mx"),
            F.count(F.lit(1)).alias("nk"),
            F.sum("cnt").alias("n"),
        )
        .collect()[0]
    )
    if not row["n"]:
        return 1
    salt = -(-row["mx"] * row["nk"] // row["n"])  # ceil in exact ints
    return max(1, min(cap, int(salt)))


def write_fanout(
    routed: DataFrame,
    root: str,
    mode: str = "overwrite",
    salt: int | None = None,
) -> None:
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
    sort_for_fanout(routed, salt=salt).write.mode(mode).option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("sink", PART_COL).parquet(root)
