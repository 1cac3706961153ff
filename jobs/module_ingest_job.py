"""spark-submit module-ingest job: run a filebeat module's ES ingest
pipeline (the JSON shipped under ``module/*/*/ingest/``) over a raw
log file, end to end, and write the flat-key documents as parquet.

    zip -qr beats_spark.zip beats_spark
    spark-submit --py-files beats_spark.zip jobs/module_ingest_job.py \\
        --pipeline <ingest pipeline JSON> --input <log file> \\
        --output <parquet dir> \\
        [--multiline-pattern RX [--multiline-negate] [--multiline-match after|before]] \\
        [--exclude-lines RX]

Mirrors the fileset path (reference: filebeat/fileset/pipelines.go
uploads the JSON; the harvester feeds it line events): the filebeat
side (multiline combine, empty-event drop, exclude_lines on the
ASSEMBLED message — input/log/harvester.go:308,403-421) runs first,
then the ingest pipeline executes as one column-expression chain,
including ``on_failure`` error routing.

Scale note: a module log scans as ordinary text — at 100 TB this is
thousands of natural file splits; line order within one file is scan
order, and the multiline chain id is computed per file exactly like
the docker/CRI reader. Prints one JSON line (sentinel
``MODULE_INGEST_RESULT``) with row/error counts.
"""

from __future__ import annotations

import argparse
import json
import time


def run(
    spark,
    pipeline_path: str,
    input_path: str,
    output_path: str,
    multiline: dict | None = None,
    exclude_lines: str | None = None,
) -> dict:
    from pyspark.sql import functions as F

    from beats_spark.operators.ingest import load_ingest_pipeline

    pipe = load_ingest_pipeline(open(pipeline_path, encoding="utf-8").read())

    raw = (
        spark.read.text(input_path)
        .select(
            F.input_file_name().alias("file"),
            F.monotonically_increasing_id().alias("rowid"),
            F.col("value").alias("message"),
        )
    )
    if multiline:
        from beats_spark.streaming.multiline import multiline_batch

        lines = raw.select(
            F.col("file").alias("conv_id"),
            F.col("rowid").cast("int").alias("turn_idx"),
            F.col("message").alias("text"),
        )
        events = multiline_batch(lines, **multiline)
        df = events.select(
            F.col("first_turn_idx").cast("long").alias("rowid"),
            F.col("doc").alias("message"),
            F.when(F.col("n_lines") > 1, F.array(F.lit("multiline"))).alias(
                "log.flags"
            ),
        )
    else:
        df = raw.select("rowid", "message")
    # harvester semantics: empty EVENTS dropped, exclude_lines applied
    # to the assembled message (harvester.go:308,403-421)
    df = df.filter(F.length("message") > 0)
    if exclude_lines:
        df = df.filter(~F.col("message").rlike(exclude_lines))
    df = df.withColumn("@timestamp", F.lit(None).cast("string"))

    out = pipe.apply(df)
    err_col = next((c for c in out.columns if c == "error.message"), None)
    agg = [F.count("*").alias("rows")]
    if err_col:
        agg.append(F.count(F.col(f"`{err_col}`")).alias("errors"))
    stats = out.agg(*agg).collect()[0].asDict()
    out.write.mode("overwrite").parquet(output_path)
    stats["output"] = output_path
    stats.setdefault("errors", 0)
    return stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pipeline", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--multiline-pattern")
    ap.add_argument("--multiline-negate", action="store_true")
    ap.add_argument("--multiline-match", default="after")
    ap.add_argument("--exclude-lines")
    ap.add_argument(
        "--cores", type=int, default=None,
        help="local[N] master (default: spark-submit's --master, else "
        "every core this process may use)",
    )
    args = ap.parse_args()

    from beats_spark.session import build_session

    spark = build_session("module-ingest", cores=args.cores)
    multiline = None
    if args.multiline_pattern:
        multiline = {
            "pattern": args.multiline_pattern,
            "negate": args.multiline_negate,
            "match": args.multiline_match,
        }
    t0 = time.time()
    stats = run(
        spark,
        args.pipeline,
        args.input,
        args.output,
        multiline=multiline,
        exclude_lines=args.exclude_lines,
    )
    stats["secs"] = round(time.time() - t0, 3)
    print("MODULE_INGEST_RESULT " + json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
