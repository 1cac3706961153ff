"""Snapshot diff: what changed between two corpus snapshots.

The recurring lakehouse question between crawls/ingests — which
documents are NEW, which disappeared, which ids kept their identity
but changed content — answered exactly: a full-outer equi-join on the
id plus a portable content-hash compare. The exact twin of the
sketch-overlap estimate (`sketch.hll_overlap_by`): use the sketch to
decide IF a diff is worth running, this to enumerate it.

100-TB shape: one keyed shuffle on the id for each side (or ZERO
exchanges when both snapshots are bucket-written on the id —
`tables.write_bucketed`, plan-pinned in tests/test_plans.py). The
content compare ships only the 32-hex md5, never the text, so the
join rows stay narrow. Status labels follow the diff convention:
'added' (id only in new), 'removed' (id only in old), 'changed'
(both, hash differs); unchanged rows are dropped by default — at
lake scale they are the overwhelming bulk and the diff's consumers
(re-embed queue, re-index queue, deletion propagation) only want the
delta.

Cross-engine: md5 on both sides (the portable-hash discipline); NULL
text hashes to NULL and compares as 'changed' only against a
non-NULL twin (null-safe equality — Spark `eqNullSafe`, DuckDB
``IS NOT DISTINCT FROM``).

No reference-repo counterpart (training-data extension per the
brief; the closest reference concept is the registrar's offset diff
deciding what to re-read, `filebeat/registrar/registrar.go`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_unchanged: bool = False,
) -> DataFrame:
    """(id, status) ∈ added | removed | changed [| unchanged]."""
    # presence must be its own flag: a PRESENT row with NULL text also
    # has a NULL hash, and inferring absence from the hash would call
    # a NULL→text transition 'added'
    o = old.select(
        F.col(id_col).alias("_id"),
        F.md5(text_col).alias("_oh"),
        F.lit(True).alias("_op"),
    )
    n = new.select(
        F.col(id_col).alias("_id"),
        F.md5(text_col).alias("_nh"),
        F.lit(True).alias("_np"),
    )
    j = o.join(n, "_id", "full_outer")
    status = (
        F.when(F.col("_op").isNull(), "added")
        .when(F.col("_np").isNull(), "removed")
        .when(~F.col("_oh").eqNullSafe(F.col("_nh")), "changed")
        .otherwise("unchanged")
    )
    out = j.select(F.col("_id").alias(id_col), status.alias("status"))
    if keep_unchanged:
        return out
    return out.where(F.col("status") != "unchanged")


def snapshot_diff_sql(
    old_sql: str,
    new_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_unchanged: bool = False,
) -> str:
    """DuckDB twin of :func:`snapshot_diff`."""
    where = "" if keep_unchanged else "WHERE status <> 'unchanged'"
    return f"""
SELECT {id_col}, status FROM (
  SELECT coalesce(o._id, n._id) AS {id_col},
         CASE
           WHEN o._op IS NULL THEN 'added'
           WHEN n._np IS NULL THEN 'removed'
           WHEN NOT (o._oh IS NOT DISTINCT FROM n._nh) THEN 'changed'
           ELSE 'unchanged'
         END AS status
  FROM (SELECT {id_col} AS _id, md5({text_col}) AS _oh, TRUE AS _op
        FROM ({old_sql})) o
  FULL OUTER JOIN
       (SELECT {id_col} AS _id, md5({text_col}) AS _nh, TRUE AS _np
        FROM ({new_sql})) n
  ON o._id = n._id
) {where}
"""


def snapshot_diff_counts(diff: DataFrame) -> DataFrame:
    """(status, n) roll-up of a diff — the audit line a scheduler
    reads before fanning re-processing out."""
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n"))
