"""Manifest GC (registrar clean_inactive analog)."""

from __future__ import annotations

import pytest

from beats_spark.operators.actions import Dissect
from beats_spark.operators.manifest import gc_manifest, read_done_parts
from beats_spark.operators.selector import Rule
from beats_spark.plans.pipeline import Pipeline
from beats_spark.synth import TOK_LOGFMT, synth_transcripts


@pytest.mark.parametrize("as_uri", [False, True], ids=["path", "file_uri"])
def test_gc_compacts_but_preserves_resume(spark, tmp_path, as_uri):
    df = synth_transcripts(spark, 2_000, seed=7)
    # a scheme-qualified root must compact through the same Hadoop FS
    # the writers use, not the driver's local disk
    out = (tmp_path / "out").as_uri() if as_uri else str(tmp_path / "out")
    p = Pipeline(
        processors=[Dissect(tokenizer=TOK_LOGFMT, field="text")],
        routes=[Rule(value="errors", when={"equals": {"level": "error"}})],
        default_sink="misc",
        n_buckets=8,
    )
    # one real run, then three appended manifest generations (a fresh
    # run now CLEARS the root, so multi-generation history only arises
    # on long-lived resumed outputs — synthesize that history here)
    p.run(spark, df, out, run_id="r0")
    from pyspark.sql import functions as F

    base = spark.read.parquet(f"{out}/_manifest")
    for i in range(1, 4):
        gen = base.withColumn("run_id", F.lit(f"r{i}")).withColumn(
            "updated_ts",
            F.col("updated_ts") + F.expr(f"INTERVAL {i} SECONDS"),
        )
        from beats_spark.operators.manifest import append_manifest

        append_manifest(gen, out)

    done_before = read_done_parts(spark, out)
    before = spark.read.parquet(f"{out}/_manifest").count()
    kept = gc_manifest(spark, out, keep_last_runs=2)
    after = spark.read.parquet(f"{out}/_manifest").count()

    n_parts = len(done_before)
    assert before == 4 * n_parts
    assert kept == after == 2 * n_parts
    # the resume view is unchanged: every committed bucket still done
    assert read_done_parts(spark, out) == done_before

    # a resumed run over the compacted manifest skips everything
    res = p.run(spark, df, out, run_id="r9", resume=True)
    assert res.skipped_parts == n_parts
    assert res.events_published == 0


def test_gc_on_missing_manifest_is_noop(spark, tmp_path):
    assert gc_manifest(spark, str(tmp_path / "nope")) == 0
