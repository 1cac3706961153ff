"""Manifest: registrar-style checkpoint for idempotent resume.

The reference's registrar persists per-source offsets on ACK
(filebeat/registrar/registrar.go:277-313; state shape
filebeat/input/file/state.go:32-43) so a restart resumes without
re-shipping. Our unit of progress is the input conv_id bucket
(``part_id``): after the fan-out write commits, one manifest row per
bucket records (status, rows_in, rows_routed, checksum). A rerun
skips ``done`` buckets and dynamic-partition-overwrite replaces any
partially-written ones — at-least-once write + idempotent replace ≈
the reference's ACK + offset-dedup.

Storage is an append-only parquet directory (each flush = one commit,
like registrar's atomic data.json rewrite); latest status per
(run-scope, part_id) wins.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import hadoop_fs

STATUS_DONE = "done"


def manifest_path(root: str) -> str:
    return os.path.join(root, "_manifest")


def read_done_parts(spark: SparkSession, root: str) -> set[int]:
    """Buckets already committed by any previous run over this output."""
    path = manifest_path(root)
    try:
        m = spark.read.parquet(path)
    except Exception:
        return set()
    latest = (
        m.groupBy("partition_id")
        .agg(F.max_by("status", "updated_ts").alias("status"))
        .filter(F.col("status") == STATUS_DONE)
    )
    return {r["partition_id"] for r in latest.collect()}


def append_manifest(rows: DataFrame, root: str) -> None:
    rows.write.mode("append").parquet(manifest_path(root))


def gc_manifest(
    spark: SparkSession, root: str, keep_last_runs: int = 10
) -> int:
    """Registrar-style state GC (registrar.go:333+ / clean_inactive,
    input/log/config.go:84): the manifest is append-only, so long-lived
    outputs accumulate one generation per run. Compact to the newest
    ``keep_last_runs`` runs, keeping at least the latest row per
    bucket so resume still sees every committed partition. Returns the
    number of rows kept. Rewrite is atomic-enough for a maintenance
    op: write the compacted copy next to the manifest
    (``_manifest.gc_new``), then swap directories with Hadoop
    ``FileSystem`` renames, so executors and the driver agree on where
    it lives under any warehouse scheme.
    """
    path = manifest_path(root)
    try:
        m = spark.read.parquet(path)
    except Exception:
        return 0
    recent_runs = [
        r["run_id"]
        for r in m.groupBy("run_id")
        .agg(F.max("updated_ts").alias("t"))
        .orderBy(F.desc("t"))
        .limit(keep_last_runs)
        .collect()
    ]
    latest_per_part = (
        m.groupBy("partition_id")
        .agg(F.max_by(F.struct([F.col(c) for c in m.columns]), "updated_ts").alias("s"))
        .select("s.*")
    )
    kept = (
        m.filter(F.col("run_id").isin(recent_runs))
        .unionByName(latest_per_part)
        .dropDuplicates(["run_id", "partition_id", "updated_ts"])
    )
    new = f"{path}.gc_new"
    kept.write.mode("overwrite").parquet(new)
    n = spark.read.parquet(new).count()
    # rename old aside BEFORE installing the new dir — a crash between
    # the two steps must never leave the output with NO manifest (the
    # .gc_old copy is recoverable by hand; losing it only costs
    # recompute)
    fs, cur = hadoop_fs(spark, path)
    old = cur.suffix(".gc_old")
    fs.delete(old, True)
    if not (fs.rename(cur, old) and fs.rename(cur.suffix(".gc_new"), cur)):
        raise OSError(f"manifest GC could not swap {new} into {path}")
    fs.delete(old, True)
    return n
