"""BM25 lexical top-k search — the retrieval baseline every
training-data pipeline needs next to the embedding ANN stack (quality
slicing by query relevance, decontamination probes, eval-set mining).

Okapi BM25 with the Lucene idf (ln(1 + (N - df + 0.5)/(df + 0.5)),
always positive), k1=1.2, b=0.75. Implemented inverted-index-style so
only the postings for the QUERY terms ever move:

1. tokenize (lowercase, split on non-alphanumeric) and take per-doc
   length — map-side, token array materialized in its own select()
   (expression-reuse gotcha);
2. explode and FILTER to the query-term set before the first
   exchange: the shuffle carries |docs containing a query term| rows,
   not the corpus;
3. term document-frequencies are a COUNT WINDOW over the tf table
   partitioned by term — a separate groupBy lineage would re-expand
   to a third corpus scan (column pruning makes the subtrees differ,
   so ReuseExchange never fires); the window costs one exchange of
   the tiny postings table instead. Corpus N and Σdl ride a
   broadcast crossJoin of one agg row — the only other corpus scan
   (2 total, the same count as the brute-force ANN row);
4. score, rank per query, top-k.

Cross-engine determinism (the DuckDB twin must hash-match):

- the ONLY transcendental is ln, evaluated on ≤ |query vocab|
  distinct rationals and ROUNDED TO 6 dp at that narrowest point —
  downstream arithmetic (+ - * /) is correctly rounded by IEEE 754,
  so both engines proceed on bit-identical doubles (the classifier's
  rational-sigmoid reasoning, CLAUDE.md transcendentals gotcha);
- avgdl is Σdl/N as one division of exact longs, never a float avg
  (engine-order-dependent);
- per-term weights are quantized to integer MICRO-UNITS and summed
  as longs (the classifier's integer micro-unit pattern), so the
  per-(query, doc) sum is order-independent and exact.

At 100 TB: stage 2's filter is the whole story — a query set of a
few dozen terms turns the corpus scan into a postings extraction;
everything after it is vocabulary- or result-bounded.

No reference-repo counterpart (training-data extension per the
brief; the reference ships documents TO a search engine —
libbeat/outputs/elasticsearch — this is the ranking that engine
would run, re-expressed relationally).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_frame

#: Okapi defaults (the Lucene/ES values)
BM25_K1 = 1.2
BM25_B = 0.75
#: tokenizer: lowercase, split on runs of non-alphanumerics — the
#: same pattern string feeds both engines
BM25_TOKEN_SPLIT = "[^a-z0-9]+"
#: integer micro-unit scale for order-independent weight sums
_MICRO = 1_000_000


def bm25_topk(
    df: DataFrame,
    queries: dict[int, list[str]],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k docs per query by BM25. Returns
    (q_id, neighbor_id, score, rank) — the ANN top-k contract, so
    lexical and embedding retrieval unify under one schema."""
    spark = df.sparkSession
    all_terms = sorted({t for ts in queries.values() for t in ts})
    qdf = local_frame(
        spark,
        [(int(q), t) for q, ts in sorted(queries.items()) for t in ts],
        "q_id long, term string",
    )

    toks = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.col(text_col)), BM25_TOKEN_SPLIT),
            lambda t: t != F.lit(""),
        ).alias("_toks"),
    )
    lens = toks.select(
        id_col, "_toks", F.size("_toks").cast("long").alias("dl")
    )
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )
    postings = lens.select(
        id_col, "dl", F.explode("_toks").alias("term")
    ).where(F.col("term").isin(all_terms))
    tf = postings.groupBy(id_col, "dl", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    tf = tf.withColumn(
        "df_t",
        F.count(F.lit(1))
        .over(Window.partitionBy("term"))
        .cast("double"),
    )

    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n
    idf = F.round(
        F.log((n - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5) + 1.0), 6
    )
    w = (
        idf
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
    )
    weighted = (
        tf.crossJoin(F.broadcast(stats))
        .join(F.broadcast(qdf), "term")
        .select(
            "q_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(w * _MICRO, 0).cast("long").alias("_w_micro"),
        )
    )
    scored = weighted.groupBy("q_id", "neighbor_id").agg(
        (F.sum("_w_micro").cast("double") / _MICRO).alias("score")
    )
    win = Window.partitionBy("q_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "score", "rank")
    )


def bm25_topk_sql(
    table: str,
    queries: dict[int, list[str]],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`bm25_topk` — same tokenizer pattern, same
    6-dp idf quantization point, same micro-unit sums. Token arrays
    and the postings table stage through MATERIALIZED CTEs (DuckDB
    re-runs inlined expressions per reference)."""
    all_terms = sorted({t for ts in queries.values() for t in ts})
    term_list = ", ".join(f"'{t}'" for t in all_terms)
    qvalues = ",\n    ".join(
        f"({int(q)}, '{t}')" for q, ts in sorted(queries.items()) for t in ts
    )
    return f"""
WITH _bm_lens AS MATERIALIZED (
  SELECT {id_col},
         list_filter(string_split_regex(lower({text_col}),
                     '{BM25_TOKEN_SPLIT}'), t -> t <> '') AS _toks
  FROM {table}
),
_bm_dl AS MATERIALIZED (
  SELECT {id_col}, _toks, CAST(len(_toks) AS BIGINT) AS dl FROM _bm_lens
),
_bm_stats AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS sum_dl
  FROM _bm_dl
),
_bm_tf AS MATERIALIZED (
  SELECT *, CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df_t
  FROM (
    SELECT {id_col}, dl, term, CAST(count(*) AS DOUBLE) AS tf
    FROM (SELECT {id_col}, dl, unnest(_toks) AS term FROM _bm_dl)
    WHERE term IN ({term_list})
    GROUP BY 1, 2, 3
  )
),
_bm_q(q_id, term) AS (VALUES
    {qvalues}),
_bm_w AS MATERIALIZED (
  SELECT q.q_id, t.{id_col} AS neighbor_id,
         CAST(round(
           round(ln((CAST(s.n_docs AS DOUBLE) - t.df_t + 0.5)
                    / (t.df_t + 0.5) + 1.0), 6)
           * (t.tf * ({k1!r} + 1.0))
           / (t.tf + {k1!r} * (1.0 - {b!r}
              + {b!r} * t.dl / (CAST(s.sum_dl AS DOUBLE)
                                / CAST(s.n_docs AS DOUBLE))))
           * {_MICRO}, 0) AS BIGINT) AS _w_micro
  FROM _bm_tf t
  JOIN _bm_q q USING (term)
  CROSS JOIN _bm_stats s
)
SELECT q_id, neighbor_id, score, rank FROM (
  SELECT q_id, neighbor_id,
         CAST(sum(_w_micro) AS DOUBLE) / {_MICRO} AS score,
         CAST(row_number() OVER (
           PARTITION BY q_id
           ORDER BY CAST(sum(_w_micro) AS DOUBLE) / {_MICRO} DESC,
                    neighbor_id ASC) AS INTEGER) AS rank
  FROM _bm_w GROUP BY q_id, neighbor_id
)
WHERE rank <= {k}
"""
