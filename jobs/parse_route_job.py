"""spark-submit entry point: parse → enrich → route → fan-out.

Deployment surface per the north rule:

    zip -qr beats_spark.zip beats_spark
    spark-submit --py-files beats_spark.zip jobs/parse_route_job.py \\
        --input <transcripts parquet/iceberg path> \\
        --output <output root> [--resume] [--buckets 64]

On a cluster, master/executors come from spark-submit conf; locally
the session falls back to local[*]. Prints one JSON summary line
(sentinel ``PARSE_ROUTE_RESULT``) for the caller to parse.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--resume", action="store_true")
    p.add_argument(
        "--buckets",
        type=int,
        default=None,
        help="input bucket count (default 64; an explicit flag also "
        "overrides a --config file's n_buckets)",
    )
    p.add_argument("--run-id", default=None)
    p.add_argument(
        "--config",
        default=None,
        help="YAML pipeline config (processors + output selector, "
        "beats_spark.config schema); overrides the built-in pipeline",
    )
    args = p.parse_args(argv)

    from beats_spark.session import build_session

    spark = build_session("beats-spark-parse-route")

    if args.config:
        from beats_spark.config import load_pipeline

        with open(args.config) as fh:
            pipeline = load_pipeline(fh.read())
        if args.buckets is not None:  # only an explicit flag overrides
            pipeline.n_buckets = args.buckets
    else:
        pipeline = _default_pipeline(spark, args.buckets or 64)

    df = spark.read.parquet(args.input)
    t0 = time.monotonic()
    res = pipeline.run(
        spark, df, args.output, run_id=args.run_id, resume=args.resume
    )
    elapsed = time.monotonic() - t0
    print(
        "PARSE_ROUTE_RESULT "
        + json.dumps(
            {
                "run_id": res.run_id,
                "events_total": res.events_total,
                "events_published": res.events_published,
                "skipped_parts": res.skipped_parts,
                "sec": round(elapsed, 3),
                "turns_per_sec": round(res.events_total / elapsed, 1)
                if elapsed > 0
                else None,
            }
        )
    )
    spark.stop()
    return 0


def _default_pipeline(spark, buckets: int):
    from beats_spark.plans.headline import headline_pipeline

    return headline_pipeline(spark, buckets)


if __name__ == "__main__":
    sys.exit(main())
