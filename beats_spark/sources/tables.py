"""Table IO: Iceberg-first storage adapter with parquet fallback.

The north-star deployment stores transcripts and sinks in Apache
Iceberg tables (atomic snapshot commits replace the reference's
per-item ACK — libbeat/outputs/elasticsearch/client.go:316-399 — and
snapshot-range incremental reads replace the prospector's
`scan_frequency` polling, filebeat/input/log/input.go:173-199).

This container ships no Iceberg runtime jar, so the adapter probes the
classpath at runtime: with Iceberg present every call lowers to
`format("iceberg")` + catalog tables; without it, the same API runs on
partitioned parquet directories, and the exactly-once contract is
carried by the manifest table (operators/manifest.py) instead of
Iceberg snapshot atomicity. Code written against this module does not
change between the two backends.

Cluster setup that activates the Iceberg path (standard OSS configs):

    spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
    spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.local.type=hadoop
    spark.sql.catalog.local.warehouse=<warehouse path>
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


@dataclass
class TableIO:
    """Backend-neutral table reader/writer.

    ``fmt``: "auto" (Iceberg when available), "iceberg", or "parquet".
    Iceberg targets are catalog table names; parquet targets are paths.
    """

    fmt: str = "auto"

    def resolve(self, spark: SparkSession) -> str:
        if self.fmt != "auto":
            return self.fmt
        return "iceberg" if iceberg_available(spark) else "parquet"

    # -- full-table scan ----------------------------------------------------

    def read(self, spark: SparkSession, target: str) -> DataFrame:
        if self.resolve(spark) == "iceberg":
            return spark.read.format("iceberg").load(target)
        return spark.read.parquet(target)

    # -- incremental scan (the prospector/scan_frequency analog) -----------

    def read_incremental(
        self,
        spark: SparkSession,
        target: str,
        start_snapshot_id: int | None = None,
        end_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Rows appended between two snapshots — Iceberg's incremental
        read replaces the reference's file-offset resume. Parquet has
        no snapshot lineage; resume there is bucket-level via the
        manifest table (read_done_parts), so asking for a snapshot
        range on parquet is a programming error, not a silent full
        scan."""
        if self.resolve(spark) != "iceberg":
            raise NotImplementedError(
                "snapshot-range incremental read requires the Iceberg "
                "backend; on parquet use manifest-based resume "
                "(Pipeline.run(resume=True))"
            )
        reader = spark.read.format("iceberg")
        if start_snapshot_id is not None:
            reader = reader.option("start-snapshot-id", str(start_snapshot_id))
        if end_snapshot_id is not None:
            reader = reader.option("end-snapshot-id", str(end_snapshot_id))
        return reader.load(target)

    # -- fan-out write ------------------------------------------------------

    def write_fanout(
        self, routed: DataFrame, target: str, mode: str = "overwrite"
    ) -> None:
        """Single-pass fan-out (see operators/router.py for the plan
        shape). Iceberg: ``overwritePartitions`` — an atomic snapshot
        replacing exactly the recomputed (sink, bucket) partitions.
        Parquet: ``router.write_fanout``, whose dynamic partition
        overwrite does the same directory-level replace, with
        atomicity carried by the manifest commit that follows."""
        from ..operators.router import sort_for_fanout, write_fanout

        if self.resolve(routed.sparkSession) != "iceberg":
            write_fanout(routed, target, mode)
            return
        writer = sort_for_fanout(routed).writeTo(target).using("iceberg")
        if mode == "overwrite":
            writer.overwritePartitions()
        else:
            writer.append()


# ---------------------------------------------------------------------------
# bucketed (co-located) tables


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist a table Hive-bucketed on ``bucket_cols``: every file
    holds one bucket's rows, sorted by the bucket key. Two tables
    bucketed the same way (same cols, same ``n_buckets``) join WITHOUT
    any exchange — the scan itself delivers co-partitioned,
    co-sorted inputs, so a repeated join key (conv_id joins against
    per-conversation dims, doc_id against per-doc feature tables)
    pays its shuffle ONCE at write time instead of per query. This is
    the parquet-warehouse analog of Iceberg's bucket partition
    transform (`bucket(N, col)`), which TableIO would use on an
    Iceberg catalog; the plan shape (zero Exchange, bucket-aligned
    scans) is pinned in tests/test_tables.py. In-task Sort nodes can
    remain: Spark trusts the written sort order only when each bucket
    is a single file.

    On a real cluster the same call against the metastore makes the
    layout visible to every reader; ``path`` keeps it external so the
    files outlive the local session catalog."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .option("path", path)
        .format("parquet")
        .saveAsTable(name)
    )
