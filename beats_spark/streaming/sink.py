"""The foreachBatch plumbing every stream in this package shares.

``start_foreach_batch`` attaches a per-micro-batch function to a
stream; ``write_batch`` is the idempotent per-batch sink.
foreachBatch delivery is AT-LEAST-ONCE: a crash between a batch's
writes and its checkpoint commit replays the batch under the same
``batch_id``. A sink that owns the ``batch_id=N`` partition and
replaces only that one (dynamic partition overwrite) rewrites
identical bytes on replay instead of appending a duplicate — the
standard Structured Streaming exactly-once recipe (deterministic
batch content + batch_id-keyed overwrite).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_batch(df: DataFrame, batch_id: int, path: str) -> None:
    """Write ``df`` as the ``batch_id=N`` partition of the parquet
    table at ``path``, replacing that partition only."""
    (
        df.withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def start_foreach_batch(
    stream: DataFrame,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint: str,
    available_now: bool = True,
):
    """Run ``process_batch(batch_df, batch_id)`` on every micro-batch
    of ``stream``, checkpointed at ``checkpoint``. With
    ``available_now`` the query drains the input present at start and
    terminates. Returns the started StreamingQuery."""
    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
