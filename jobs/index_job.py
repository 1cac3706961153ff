"""spark-submit retrieval-index build + batch search: the serving
side of the training-data pipeline (eval-set mining, decontamination
probes, nearest-neighbor inspection of a curated corpus).

    zip -qr beats_spark.zip beats_spark
    spark-submit --py-files beats_spark.zip jobs/index_job.py \\
        --embeddings <embeddings parquet> --output <index root> \\
        [--documents <documents parquet>] \\
        [--cells 8] [--m 2] [--ks 8] [--iters 2] \\
        [--query-ids 0,1,2] [--terms "0:spark+join,1:sort+window"] \\
        [--k 10] [--rerank 30] [--nprobe 1]

Build stages (all bounded the way a 100-TB index build must be):

1. **Train** — `ivf_pq_train`: IVF coarse centroids and the m
   per-subspace PQ codebooks via the shared deterministic distributed
   k-means (`similarity._km_train`) over one materialized scaled
   corpus: the corpus is scanned map-side per iteration, only k×dim
   centroid literals ever reach the driver.
2. **Encode** — `ivf_pq_cells`: the PQ encoding is ONE map-only select
   (no shuffle, no Python); the IVF cell assignment is the same
   map-only shape.
3. **Write** — the index table (id, cell, codes) lands partitioned
   by cell, `sortWithinPartitions` leading with the partition column
   (the dynamic-partition writer inserts an unstable sort otherwise —
   CLAUDE.md gotcha); codebooks/centroids + build params land in
   `meta/` as plain rows, so ANY later job (or engine) can load the
   index without retraining.

Search stages (optional, when --query-ids is given):

4. **ANN** — `ivf_pq_search` over the index trained in 1. (no second
   training): probe nprobe cells per query (equi-join on cell),
   ADC-rank candidates by m integer LUT lookups, exact rerank of the
   top `--rerank` (the production refine step).
5. **Hybrid** — with --documents and --terms: BM25 postings retrieval
   fused with exact cosine by reciprocal-rank fusion
   (`hybrid.hybrid_rrf_topk`), the ES-style hybrid search.

Results land under `results/{ann,bm25,hybrid}/`. Prints one JSON
summary line (sentinel ``INDEX_RESULT``).

No reference-repo counterpart (training-data extension per the
brief; the closest reference concept is shipping events to the
search engine — libbeat/outputs/elasticsearch — whose index+query
duties this job re-expresses in-engine).
"""

from __future__ import annotations

import argparse
import json
import time


def _parse_terms(spec: str) -> dict[int, list[str]]:
    """``"0:spark+join,1:sort+window"`` → {0: [...], 1: [...]}."""
    out: dict[int, list[str]] = {}
    for part in spec.split(","):
        qid, terms = part.split(":", 1)
        out[int(qid)] = [t for t in terms.split("+") if t]
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--embeddings", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--documents", default=None)
    p.add_argument("--cells", type=int, default=8)
    p.add_argument("--m", type=int, default=2)
    p.add_argument("--ks", type=int, default=8)
    p.add_argument("--iters", type=int, default=2)
    p.add_argument("--query-ids", default=None)
    p.add_argument("--terms", default=None)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--rerank", type=int, default=0)
    p.add_argument("--nprobe", type=int, default=1)
    args = p.parse_args(argv)

    from beats_spark.session import build_session, local_frame

    spark = build_session("beats-spark-index")

    from pyspark.sql import functions as F

    from beats_spark.operators.pq import ivf_pq_cells, ivf_pq_search, ivf_pq_train

    t0 = time.monotonic()
    embs = spark.read.parquet(args.embeddings)

    # 1. train (once: the search in 4. reuses it) + 2. encode
    ix = ivf_pq_train(
        embs,
        n_cells=args.cells,
        ivf_iters=args.iters,
        m=args.m,
        ks=args.ks,
        pq_iters=args.iters,
    )
    index = ivf_pq_cells(ix).select(
        F.col("vid").alias("vec_id"), "codes", F.col("cell").cast("long")
    )

    # 3. write, clustered by the partition column (writer gotcha)
    (
        index.repartition("cell")
        .sortWithinPartitions("cell", "vec_id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{args.output}/index")
    )
    meta_rows = [
        (int(j), int(cell), [float(x) for x in cvec])
        for j, book in enumerate(ix.books)
        for cell, cvec in book
    ]
    local_frame(
        spark, meta_rows, "book int, cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{args.output}/meta")

    n_vecs = spark.read.parquet(f"{args.output}/index").count()
    summary: dict = {
        "n_vectors": n_vecs,
        "cells": args.cells,
        "m": args.m,
        "ks": args.ks,
    }

    # 4./5. optional batch search
    if args.query_ids:
        qids = [int(q) for q in args.query_ids.split(",")]
        ann = ivf_pq_search(
            ix, qids, k=args.k, nprobe=args.nprobe, rerank=args.rerank
        )
        ann.write.mode("overwrite").parquet(f"{args.output}/results/ann")
        summary["ann_rows"] = spark.read.parquet(
            f"{args.output}/results/ann"
        ).count()
        if args.documents and args.terms:
            from beats_spark.operators.bm25 import bm25_topk
            from beats_spark.operators.hybrid import hybrid_rrf_topk

            docs = spark.read.parquet(args.documents)
            terms = _parse_terms(args.terms)
            bm25_topk(docs, terms, k=args.k).write.mode(
                "overwrite"
            ).parquet(f"{args.output}/results/bm25")
            hybrid_rrf_topk(embs, docs, qids, terms, k=args.k).write.mode(
                "overwrite"
            ).parquet(f"{args.output}/results/hybrid")
            summary["hybrid_rows"] = spark.read.parquet(
                f"{args.output}/results/hybrid"
            ).count()

    summary["sec"] = round(time.monotonic() - t0, 3)
    print("INDEX_RESULT " + json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
