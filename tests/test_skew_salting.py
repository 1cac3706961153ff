"""Hot-bucket spread in the fan-out write (router.sort_for_fanout).

The writer's AQE rebalance splits any (sink, bucket) partition above
``spark.sql.adaptive.advisoryPartitionSizeInBytes`` over several
writer tasks — the kafka partitioner's random fallback for hot keys
(outputs/kafka/partition.go:216-275), sized from the shuffle's own
statistics. A small advisory size stands in for a 100 TB hot bucket.
"""

from __future__ import annotations

import glob
from contextlib import contextmanager

from pyspark.sql import functions as F

from beats_spark.operators.router import with_partition_id, write_fanout

ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def _skewed_df(spark, n=20_000, hot_frac=0.8):
    """One conversation owns hot_frac of all rows."""
    n_hot = int(n * hot_frac)
    df = spark.range(n).select(
        F.when(F.col("id") < n_hot, "conv-hot")
        .otherwise(F.concat(F.lit("conv-"), (F.col("id") % 50).cast("string")))
        .alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("text "), F.col("id")).alias("text"),
    )
    return with_partition_id(df, 8).withColumn("sink", F.lit("s"))


def _hot_bucket_files(root: str) -> dict[str, int]:
    out = {}
    for d in glob.glob(f"{root}/sink=*/part_id=*"):
        out[d] = len(glob.glob(f"{d}/*.parquet"))
    return out


@contextmanager
def _small_advisory_size(spark):
    spark.conf.set(ADVISORY, "16k")
    try:
        yield
    finally:
        spark.conf.unset(ADVISORY)


class TestSaltedFanout:
    def test_salt_spreads_hot_bucket(self, spark, tmp_path):
        df = _skewed_df(spark)
        whole = str(tmp_path / "u")
        split = str(tmp_path / "s")
        write_fanout(df, whole)
        with _small_advisory_size(spark):
            write_fanout(df, split)

        # the hot conversation's bucket: one file at the default
        # advisory size, several once it exceeds it — i.e. it was
        # written by multiple tasks
        assert max(_hot_bucket_files(whole).values()) == 1
        assert max(_hot_bucket_files(split).values()) > 1

    def test_salting_preserves_content_and_order(self, spark, tmp_path):
        df = _skewed_df(spark, n=5_000)
        split = str(tmp_path / "s2")
        with _small_advisory_size(spark):
            write_fanout(df, split)
        assert max(_hot_bucket_files(split).values()) > 1
        back = spark.read.parquet(split)
        assert back.count() == 5_000
        # the invariant is defined over (conv_id, turn_idx)-sorted
        # reads: same rows, same order, split or not
        got = [
            (r["conv_id"], r["turn_idx"])
            for r in back.orderBy("conv_id", "turn_idx").collect()
        ]
        want = [
            (r["conv_id"], r["turn_idx"])
            for r in df.orderBy("conv_id", "turn_idx").collect()
        ]
        assert got == want
