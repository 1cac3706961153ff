"""spark-submit training-data curation pipeline: the end-to-end path
a 100-TB pretraining corpus takes through this library.

    zip -qr beats_spark.zip beats_spark
    spark-submit --py-files beats_spark.zip jobs/curate_job.py \\
        --input <documents parquet> --output <output root> \\
        [--benchmark <eval-set parquet>] [--rates en=0.5,de=1.0] \\
        [--default-rate 0.5] [--budget 256] [--neardup-threshold 0.6]

Stage design is FLAGS-THEN-FILTER, not filter-then-filter: every
gate (optional URL keep-first + domain blocklist, exact-dup
canonical, near-dup canonical, quality keep, repetition keep,
optional duplicated-span keep, optional CCNet-style LM-perplexity
keep, optional trained-classifier keep, decontamination, stratified
sample) is computed as a boolean COLUMN over the full corpus, so

  * one aggregation pass yields the whole survival funnel (per-gate
    and cumulative counts) without re-running the chain once per
    stage, and
  * the audit trail (which gate dropped a document) is a queryable
    table (``<output>/flags``) instead of a log line — the thing a
    data-curation team actually debugs with.

The only operators that need the SURVIVING set (PII redaction of the
kept text, token-budget sequence packing — pack boundaries depend on
which neighbors survived) run after the single conjunction filter.

Scale notes: the dup gates are the library's bucketed paths (exact =
one hash groupBy; near-dup = banded minhash LSH + verify + pointer-
doubling connected components); decontamination broadcasts the
benchmark's distinct n-grams (TB:MB asymmetry); the sample gate is a
pure hash of the key column (map-side, reproducible across engines
and repartitioning); packing keys its one window on the same group
column the fan-out writer shuffles on anyway.

Prints one JSON summary line (sentinel ``CURATE_RESULT``).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _parse_rates(spec: str) -> dict[str, float]:
    rates: dict[str, float] = {}
    if spec:
        for part in spec.split(","):
            k, _, v = part.partition("=")
            rates[k.strip()] = float(v)
    return rates


def curate(
    spark,
    input_path: str,
    output_root: str,
    benchmark_path: str | None = None,
    rates: dict[str, float] | None = None,
    default_rate: float = 0.5,
    token_budget: int = 256,
    neardup_threshold: float = 0.6,
    max_perplexity: float | None = None,
    max_dup_span_frac: float | None = None,
    classifier_labels_path: str | None = None,
    classifier_threshold: float = 0.5,
    html: bool = False,
    url_col: str | None = None,
    blocklist_path: str | None = None,
    bpe_merges: int = 0,
    n_shards: int = 0,
):
    """Run the curation pipeline; returns the summary dict."""
    from pyspark.sql import functions as F

    from beats_spark.functions.textstats import (
        ngram_repetition_df,
        quality_filter_df,
        repetition_rules_over,
    )
    from beats_spark.operators.decontam import ngram_overlap
    from beats_spark.operators.dedup import (
        connected_components,
        exact_dedup_groups,
        minhash_lsh_pairs,
    )
    from beats_spark.operators.redact import redact_text
    from beats_spark.operators.sampling import (
        pack_sequences,
        stratified_sample,
    )
    from beats_spark.plans.materialize import materialize

    t0 = time.time()
    from beats_spark.operators.clean import clean_text, html_strip

    # -- normalization first (the fix-text pass every real pipeline
    # runs before quality/dedup: otherwise identical documents with
    # different invisible bytes hash apart) — map-side, no shuffle;
    # --html prepends the raw-crawl boilerplate strip to the chain
    fix = html_strip if html else clean_text
    docs = spark.read.parquet(input_path).withColumn(
        "text", fix(F.col("text"))
    )

    # -- gate columns over the FULL corpus ------------------------------
    if url_col is not None:
        # URL stage FIRST (C4/RefinedWeb order: dedupe by URL and drop
        # blocklisted domains before any content work): keep-first rank
        # within each canonical URL (one keyed exchange) + optional
        # broadcast blocklist; unparseable URLs pass the dedup half but
        # a NULL domain never matches the blocklist.
        from pyspark.sql import Window

        from beats_spark.operators.urltools import with_canonical_url

        cu = with_canonical_url(
            docs.select("doc_id", F.col(url_col).alias("url"))
        )
        w = Window.partitionBy("canon_url").orderBy(F.asc("doc_id"))
        cu = cu.withColumn("_rank", F.row_number().over(w)).select(
            "doc_id",
            "domain",
            (F.col("canon_url").isNull() | (F.col("_rank") == 1)).alias(
                "_url_first"
            ),
        )
        if blocklist_path is not None:
            blk = spark.read.parquet(blocklist_path).select(
                F.col("domain").alias("_blk")
            )
            cu = cu.join(
                F.broadcast(blk), F.col("domain") == F.col("_blk"), "left"
            ).withColumn("_blocked", F.col("_blk").isNotNull())
        else:
            cu = cu.withColumn("_blocked", F.lit(False))
        url_keep = cu.select(
            "doc_id",
            (F.col("_url_first") & ~F.col("_blocked")).alias("url_keep"),
        )
    else:
        url_keep = None

    exact_keep = (
        exact_dedup_groups(docs)
        .select(F.col("canonical_id").alias("doc_id"))
        .withColumn("exact_keep", F.lit(True))
    )
    pairs = minhash_lsh_pairs(docs, threshold=neardup_threshold)
    neardup_keep = connected_components(pairs, docs).select(
        "doc_id", (F.col("doc_id") == F.col("component_id")).alias(
            "neardup_keep"
        )
    )
    quality_keep = quality_filter_df(docs).select(
        "doc_id", F.col("keep").alias("quality_keep")
    )
    rep_stats = ngram_repetition_df(docs)
    rep_rules = repetition_rules_over(
        {name: F.col(name) for name in rep_stats.columns if name != "doc_id"}
    )
    repetition_keep = rep_stats.select(
        "doc_id", rep_rules["keep"].alias("repetition_keep")
    )

    flags = (
        docs.join(exact_keep, "doc_id", "left")
        .join(neardup_keep, "doc_id", "left")
        .join(quality_keep, "doc_id", "left")
        .join(repetition_keep, "doc_id", "left")
        .withColumn("exact_keep", F.coalesce("exact_keep", F.lit(False)))
    )
    if url_keep is not None:
        flags = flags.join(url_keep, "doc_id", "left").withColumn(
            "url_keep", F.coalesce("url_keep", F.lit(False))
        )
    else:
        flags = flags.withColumn("url_keep", F.lit(True))
    if max_dup_span_frac is not None:
        # exact duplicated-span gate (Lee et al. 2022 substring dedup,
        # operators/dedup.py duplicated_spans): drop documents whose
        # cross-corpus duplicated-span fraction exceeds the ceiling.
        # Documents shorter than the window carry no span row → keep
        # (nothing to deduplicate).
        from beats_spark.operators.dedup import duplicated_spans

        span = duplicated_spans(docs).select(
            "doc_id",
            (F.col("dup_span_frac") <= F.lit(max_dup_span_frac)).alias(
                "span_keep"
            ),
        )
        flags = flags.join(span, "doc_id", "left").withColumn(
            "span_keep", F.coalesce("span_keep", F.lit(True))
        )
    else:
        flags = flags.withColumn("span_keep", F.lit(True))
    if max_perplexity is not None:
        # CCNet-style LM gate (operators/lm.py): keep the low-
        # perplexity head. A document with no scorable tokens has no
        # LM row — it carries no trainable content, so it drops here
        # (the quality gate's min-length rule fires on it anyway).
        from beats_spark.operators.lm import bigram_lm_scores

        lm = bigram_lm_scores(docs).select(
            "doc_id",
            (F.col("perplexity") <= F.lit(max_perplexity)).alias("lm_keep"),
        )
        flags = flags.join(lm, "doc_id", "left").withColumn(
            "lm_keep", F.coalesce("lm_keep", F.lit(False))
        )
    else:
        flags = flags.withColumn("lm_keep", F.lit(True))
    if classifier_labels_path is not None:
        # trained-classifier gate (the CCNet/LLaMA-1 "reference-like"
        # filter this pipeline implements): train the fastText-style
        # logistic classifier ON THE LABELED DIM (a parquet of
        # doc_id + label — the curation team's seed judgments), score
        # the WHOLE corpus with the trained weights as plan literals
        # (operators/classifier.py score_documents: one scan, one
        # keyed groupBy, zero Python), keep score >= threshold. A
        # zero-gram document has no score row — no trainable content,
        # so it drops here (the quality gate fires on it anyway).
        from beats_spark.operators.classifier import (
            score_documents,
            train_logistic,
        )

        labels = spark.read.parquet(classifier_labels_path).select(
            "doc_id", F.col("label").cast("int").alias("label")
        )
        labeled = docs.join(F.broadcast(labels), "doc_id")
        w, b = train_logistic(labeled, F.col("label"))
        clf = score_documents(docs, w, b).select(
            "doc_id",
            (F.col("score") >= F.lit(classifier_threshold)).alias(
                "classifier_keep"
            ),
        )
        flags = flags.join(clf, "doc_id", "left").withColumn(
            "classifier_keep", F.coalesce("classifier_keep", F.lit(False))
        )
    else:
        flags = flags.withColumn("classifier_keep", F.lit(True))
    if benchmark_path is not None:
        bench = spark.read.parquet(benchmark_path)
        flags = flags.join(
            ngram_overlap(docs, bench).select(
                "doc_id", (~F.col("contaminated")).alias("decontam_keep")
            ),
            "doc_id",
            "left",
        )
    else:
        flags = flags.withColumn("decontam_keep", F.lit(True))
    # the sample gate is a pure function of (strata, key) — a column,
    # not a join
    sampled_ids = stratified_sample(
        docs.select("doc_id", "lang"), rates or {}, default_rate=default_rate
    ).withColumn("sample_keep", F.lit(True))
    flags = flags.join(
        sampled_ids.select("doc_id", "sample_keep"), "doc_id", "left"
    ).withColumn("sample_keep", F.coalesce("sample_keep", F.lit(False)))

    gate_order = [
        "url_keep",
        "exact_keep",
        "neardup_keep",
        "quality_keep",
        "repetition_keep",
        "span_keep",
        "lm_keep",
        "classifier_keep",
        "decontam_keep",
        "sample_keep",
    ]
    # flags feed one funnel agg + the audit write + the kept filter:
    # materialize once instead of re-running the dup machinery 3x
    flags = materialize(flags)

    # -- one pass: per-gate counts + cumulative funnel -------------------
    cum = None
    aggs = [F.count("*").alias("total")]
    for g in gate_order:
        aggs.append(F.sum(F.col(g).cast("long")).alias(f"pass_{g}"))
        cum = F.col(g) if cum is None else (cum & F.col(g))
        aggs.append(F.sum(cum.cast("long")).alias(f"cum_{g}"))
    funnel = flags.agg(*aggs).first().asDict()

    flags.select("doc_id", *gate_order).write.mode("overwrite").parquet(
        f"{output_root}/flags"
    )

    # -- surviving set: redact, pack, write ------------------------------
    kept_cond = None
    for g in gate_order:
        kept_cond = F.col(g) if kept_cond is None else (kept_cond & F.col(g))
    kept = flags.where(kept_cond).select(
        "doc_id", "lang", "source", redact_text(F.col("text")).alias("text")
    )
    if bpe_merges:
        # --bpe-merges N: train a real BPE vocab on the SURVIVING set
        # and pack on true token counts instead of the whitespace
        # estimate (training sees only the (word, count) table; the
        # corpus-side tokenize is a broadcast join — operators/bpe.py)
        from beats_spark.operators.bpe import (
            tokenize_documents,
            train_bpe,
        )

        merges = train_bpe(kept, n_merges=bpe_merges)
        counts = tokenize_documents(kept, merges).select(
            "doc_id", F.col("n_tokens").alias("_bpe_n")
        )
        kept = kept.join(counts, "doc_id", "left").withColumn(
            "_bpe_n", F.coalesce("_bpe_n", F.lit(0)).cast("long")
        )
        packs = pack_sequences(
            kept, token_budget=token_budget, n_tokens_col="_bpe_n"
        )
        kept = kept.drop("_bpe_n")
    else:
        packs = pack_sequences(kept, token_budget=token_budget)
    packed = kept.join(
        packs.select("doc_id", "n_tokens", "pack_id"), "doc_id"
    )
    packed.write.mode("overwrite").partitionBy("source").parquet(
        f"{output_root}/packed"
    )

    # -- dataset card: per-(source, lang) stats of the RELEASED set ------
    # the composition table every dataset release ships (docs, token
    # mass, packs, token share of the release). One groupBy whose key
    # domain is the strata (map-side combine collapses each partition
    # to <= #strata rows); the share window runs over the strata-sized
    # result, not the data. Rounded to 6 dp per the cross-engine rule.
    from pyspark.sql import Window as _W

    card = (
        packed.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
            F.countDistinct("pack_id").alias("n_packs"),
        )
        .withColumn(
            "token_share",
            F.round(
                F.col("n_tokens")
                / F.sum("n_tokens").over(_W.partitionBy(F.lit(1))),
                6,
            ),
        )
    )
    card.write.mode("overwrite").parquet(f"{output_root}/card")

    if n_shards:
        # trainer-facing output: deterministic global shuffle into
        # shard files. PACKS are the shuffled unit (a pack's documents
        # must stay contiguous — they form one training sequence), so
        # the shard key is the pack key and doc order breaks ties
        # inside a pack (sampling.write_shards).
        from beats_spark.operators.sampling import write_shards

        write_shards(
            packed.withColumn(
                "_pack_key",
                F.concat_ws("#", "source", F.col("pack_id").cast("string")),
            ),
            f"{output_root}/shards",
            n_shards,
            key_col="_pack_key",
            order_cols=("doc_id",),
        )

    n_packs = packed.select("source", "pack_id").distinct().count()
    return {
        "funnel": funnel,
        "kept": funnel[f"cum_{gate_order[-1]}"],
        "n_packs": n_packs,
        "n_shards": n_shards,
        "secs": round(time.time() - t0, 3),
        "output": output_root,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--benchmark", default=None)
    p.add_argument("--rates", default="")
    p.add_argument("--default-rate", type=float, default=0.5)
    p.add_argument("--budget", type=int, default=256)
    p.add_argument("--neardup-threshold", type=float, default=0.6)
    p.add_argument(
        "--max-perplexity",
        type=float,
        default=None,
        help="CCNet-style LM gate: drop documents whose bigram-LM "
        "perplexity exceeds this (default: gate off)",
    )
    p.add_argument(
        "--max-dup-span-frac",
        type=float,
        default=None,
        help="duplicated-span gate: drop documents whose cross-corpus "
        "duplicated n-token-span fraction exceeds this (default: gate off)",
    )
    p.add_argument(
        "--classifier-labels",
        default=None,
        help="trained-classifier gate: parquet of (doc_id, label) seed "
        "judgments; trains the in-engine logistic classifier on the "
        "labeled slice, scores the whole corpus, keeps score >= "
        "--classifier-threshold (default: gate off)",
    )
    p.add_argument(
        "--classifier-threshold",
        type=float,
        default=0.5,
        help="with --classifier-labels: minimum kept score",
    )
    p.add_argument(
        "--bpe-merges",
        type=int,
        default=0,
        help="train a BPE vocab of this many merges on the kept set "
        "and pack on true token counts (default: whitespace estimate)",
    )
    p.add_argument(
        "--shards",
        type=int,
        default=0,
        help="write a trainer-facing deterministically-shuffled copy "
        "as this many shard directories (packs stay contiguous; "
        "default: off)",
    )
    p.add_argument(
        "--url-col",
        default=None,
        help="URL gate: input column holding each document's source "
        "URL; keep-first per canonical URL (default: gate off)",
    )
    p.add_argument(
        "--blocklist",
        default=None,
        help="with --url-col: parquet of blocked registrable domains "
        "(one 'domain' column), broadcast anti-matched",
    )
    p.add_argument(
        "--html",
        action="store_true",
        help="input is raw crawl: strip HTML boilerplate (script/style/"
        "comments, tags, entities) before the fix-text normalization",
    )
    args = p.parse_args(argv)

    from beats_spark.session import build_session

    spark = build_session("curate")
    try:
        summary = curate(
            spark,
            args.input,
            args.output,
            benchmark_path=args.benchmark,
            rates=_parse_rates(args.rates),
            default_rate=args.default_rate,
            token_budget=args.budget,
            neardup_threshold=args.neardup_threshold,
            max_perplexity=args.max_perplexity,
            max_dup_span_frac=args.max_dup_span_frac,
            classifier_labels_path=args.classifier_labels,
            classifier_threshold=args.classifier_threshold,
            html=args.html,
            url_col=args.url_col,
            blocklist_path=args.blocklist,
            bpe_merges=args.bpe_merges,
            n_shards=args.shards,
        )
    finally:
        spark.stop()
    print("CURATE_RESULT " + json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
