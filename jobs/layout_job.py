"""spark-submit entry point: data-layout lifecycle for a document lake.

    zip -qr beats_spark.zip beats_spark
    spark-submit --py-files beats_spark.zip jobs/layout_job.py \\
        --input <documents parquet> --output <layout root> \\
        [--dims n_chars,source] [--bits 10] [--files 16] \\
        [--compact-target-mb 128] [--audit-col n_chars --audit-lo 0 --audit-hi 256]

Three phases over ``operators/layout.py``:

1. **zorder**: Morton-code the requested dimensions (string dims are
   hashed to their portable word code first) and write the
   range-partitioned curve layout to ``<output>/zorder``;
2. **audit**: reconstruct the written files' min/max envelopes and
   report the skip-rate of a range predicate on each dimension;
3. **compact** (optional): coalesce to ``--compact-target-mb`` files
   in ``<output>/compact``, preserving the curve order, and re-audit.

Prints one JSON line (sentinel ``LAYOUT_RESULT``). The same code
path the `pack_sequences` driver row's 'zorder' variant verifies
against DuckDB at sf0.01.
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
    p.add_argument(
        "--dims",
        default="n_chars,source",
        help="comma-separated layout dimensions; non-numeric columns "
        "are hashed to their portable 32-bit word code",
    )
    p.add_argument("--bits", type=int, default=10)
    p.add_argument("--curve", default="zorder",
                   choices=["zorder", "hilbert"])
    p.add_argument("--files", type=int, default=16)
    p.add_argument("--compact-target-mb", type=int, default=0)
    p.add_argument("--audit-col", default=None)
    p.add_argument("--audit-lo", type=int, default=0)
    p.add_argument("--audit-hi", type=int, default=1 << 30)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F
    from pyspark.sql.types import NumericType

    from beats_spark.session import build_session

    spark = build_session("beats-spark-layout")
    t0 = time.monotonic()
    from beats_spark.functions.textstats import word_code
    from beats_spark.operators.layout import (
        compact_dataset,
        dataset_file_stats,
        file_skip_report,
        skip_rate,
        zorder_write,
    )

    df = spark.read.parquet(args.input)
    dim_names = [d.strip() for d in args.dims.split(",") if d.strip()]
    numeric = {
        f.name for f in df.schema.fields
        if isinstance(f.dataType, NumericType)
    }
    dims = [
        F.col(d) if d in numeric else word_code(F.col(d))
        for d in dim_names
    ]

    zpath = f"{args.output}/{args.curve}"
    zorder_write(
        df, zpath, dims, n_files=args.files, bits=args.bits,
        curve=args.curve,
    )
    n_files, n_bytes = dataset_file_stats(zpath)

    audit_cols = [d for d in dim_names if d in numeric and d in df.columns]
    rep = file_skip_report(spark, zpath, audit_cols) if audit_cols else None
    audits = {}
    if args.audit_col and args.audit_col not in audit_cols:
        raise SystemExit(
            f"--audit-col {args.audit_col!r} is not a numeric layout "
            f"dimension (have: {audit_cols}) — the skip audit would "
            "silently never run"
        )
    if rep is not None:
        acol = args.audit_col or (audit_cols[0] if audit_cols else None)
        if acol in audit_cols:
            audits[acol] = round(
                skip_rate(rep, acol, args.audit_lo, args.audit_hi), 4
            )

    compact_stats = None
    if args.compact_target_mb > 0:
        compact_stats = compact_dataset(
            spark,
            zpath,
            f"{args.output}/compact",
            order_col=args.curve,
            target_bytes=args.compact_target_mb << 20,
        )

    out = {
        "rows": df.count(),
        "curve": args.curve,
        "dims": dim_names,
        "n_files": n_files,
        "bytes": n_bytes,
        "skip_rates": audits,
        "compact": compact_stats,
        "secs": round(time.monotonic() - t0, 3),
        "output": args.output,
    }
    print("LAYOUT_RESULT " + json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
