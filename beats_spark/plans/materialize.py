"""Session-selected lineage-cut tier for multi-pass intermediates.

Iterative and multi-consumer operators (the LSH shingle table, the
connected-components frontier, k-means training tables, the
classifier feature table) must cut lineage between passes — both to
stop Catalyst re-inlining the expensive upstream chain into every
consumer and to keep iterative plans from growing without bound.

``localCheckpoint()`` does that by truncating lineage into
EXECUTOR-LOCAL storage blocks: fastest, and fine on ``local[N]``
where executors never die — but on a real cluster an executor loss
mid-job makes the truncated lineage unrecoverable (job FAILURE, not
recompute; r4 verdict finding #2). The tier is therefore read off the
session (:func:`lineage_tier`):

- ``reliable`` when a checkpoint dir is set (``sc.setCheckpointDir``
  to HDFS/S3): ``checkpoint()`` — lineage truncated into fault-tolerant
  storage. The cluster-scale tier for ITERATIVE operators, whose plans
  must truncate each round.
- ``local`` on a ``local``/``local[N]`` master: ``localCheckpoint()``
  — single-node / dev.
- ``disk`` otherwise: ``persist(DISK_ONLY)`` — no truncation, fully
  RECOMPUTABLE on executor loss. Right for single-reuse fan-in tables;
  iterative loops still grow their plans under this tier (bounded by
  each operator's ``max_iter``).

Usage: ``df.select(...).transform(materialize)``.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def lineage_tier(master: str, checkpoint_dir: str | None) -> str:
    """``reliable`` | ``local`` | ``disk`` for a session with this
    master URL and checkpoint dir (module docstring)."""
    if checkpoint_dir:
        return "reliable"
    if master == "local" or master.startswith("local["):
        return "local"
    return "disk"


def materialize(df: DataFrame) -> DataFrame:
    """Cut/park lineage for a frame consumed by multiple passes —
    tier per :func:`lineage_tier` of the frame's session."""
    sc = df.sparkSession.sparkContext
    tier = lineage_tier(sc.master, sc.getCheckpointDir())
    if tier == "reliable":
        return df.checkpoint()
    if tier == "local":
        return df.localCheckpoint()
    return df.persist(StorageLevel.DISK_ONLY)
