"""Retrieval evaluation: recall@k, MRR@k, nDCG@k of a candidate
top-k list against an exact truth list.

The eval harness the ANN/BM25/hybrid stack needs to be TRUSTED at
scale: approximate retrieval (LSH, IVF, PQ) is only done when its
recall against the brute-force truth is measured, continuously, on
the same corpus it serves. Inputs are two top-k lists in the repo's
retrieval contract (q_id, neighbor_id, rank) — result-bounded
(|queries| × k rows), so every join here is broadcast-scale by
construction; the corpus never participates.

Cross-engine determinism (the DuckDB twin must hash-match):

- binary relevance: a candidate is relevant iff (q_id, neighbor_id)
  appears in the truth list — an equi-join, no floats;
- the ONLY transcendental (the nDCG log2 discount) is evaluated in
  PYTHON over the k possible ranks and injected into BOTH engines as
  integer MICRO-UNIT literals (a rank-keyed lookup table) — the
  trained-centroid/literal pattern, so neither engine ever calls a
  libm whose last ulp could differ;
- per-query sums run over integer micro-units (exact, order-free);
  the only divisions are floor((a·10^6)/b) on doubles well under
  2^53 — correctly rounded by IEEE 754, identical in both engines
  (the classifier/lm discipline);
- the macro average divides the per-query micro sum by the query
  count the same way.

No reference-repo counterpart (training-data extension per the
brief); metric definitions per Manning et al., Introduction to
Information Retrieval, ch. 8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

_MICRO = 1_000_000

#: metric labels, emitted in the `metric` column
METRICS = ("recall", "mrr", "ndcg")


def _discounts_micro(k: int) -> list[int]:
    """1/log2(rank+1) in micro-units for rank = 1..k — computed ONCE
    in Python, shipped to both engines as literals."""
    import math

    return [round(_MICRO / math.log2(r + 1)) for r in range(1, k + 1)]


def _ideal_micro(k: int) -> list[int]:
    """Ideal-DCG prefix sums: ideal[n] = Σ_{r≤n} disc[r] (micro)."""
    disc = _discounts_micro(k)
    out, acc = [], 0
    for d in disc:
        acc += d
        out.append(acc)
    return out


def _floordiv_micro(num, den):
    """floor((num·10^6)/den) with exact-integer doubles — the
    correctly-rounded-arithmetic path (see module docstring)."""
    return F.floor(
        num.cast("double") * F.lit(_MICRO) / den.cast("double")
    ).cast("long")


def eval_topk(truth: DataFrame, cand: DataFrame, k: int) -> DataFrame:
    """Per-query + macro metrics of ``cand`` against ``truth``.

    Both inputs carry (q_id, neighbor_id, rank). Returns
    (q_id, metric, micro, value): one row per query per metric plus a
    ``q_id = -1`` macro (mean over queries) row; ``micro`` is the
    exact integer the cross-engine contract hashes, ``value`` its
    /10^6 double rendering.
    """
    spark = truth.sparkSession
    disc = _discounts_micro(k)
    ideal = _ideal_micro(k)
    disc_df = local_frame(
        spark, [(r + 1, d) for r, d in enumerate(disc)], "rank int, disc long"
    )
    ideal_df = local_frame(
        spark, [(n + 1, v) for n, v in enumerate(ideal)], "n int, ideal long"
    )

    t = truth.where(F.col("rank") <= k).select(
        F.col("q_id").alias("tq"), F.col("neighbor_id").alias("tn")
    )
    c = cand.where(F.col("rank") <= k).select("q_id", "neighbor_id", "rank")

    truth_n = t.groupBy(F.col("tq").alias("q_id")).agg(
        F.count(F.lit(1)).alias("n_truth")
    )
    hits = c.join(
        t,
        (F.col("q_id") == F.col("tq"))
        & (F.col("neighbor_id") == F.col("tn")),
    ).join(F.broadcast(disc_df), "rank")
    per_q = (
        truth_n.join(
            hits.groupBy("q_id").agg(
                F.count(F.lit(1)).alias("n_hit"),
                F.min("rank").alias("first_rank"),
                F.sum("disc").alias("dcg_micro"),
            ),
            "q_id",
            "left",
        )
        .withColumn("n_hit", F.coalesce("n_hit", F.lit(0)))
        .withColumn("dcg_micro", F.coalesce("dcg_micro", F.lit(0)))
        .join(
            F.broadcast(ideal_df),
            F.least(F.col("n_truth"), F.lit(k)) == F.col("n"),
        )
    )

    recall = per_q.select(
        "q_id",
        F.lit("recall").alias("metric"),
        _floordiv_micro(F.col("n_hit"), F.col("n_truth")).alias("micro"),
    )
    mrr = per_q.select(
        "q_id",
        F.lit("mrr").alias("metric"),
        F.coalesce(
            _floordiv_micro(F.lit(1), F.col("first_rank")), F.lit(0)
        ).alias("micro"),
    )
    ndcg = per_q.select(
        "q_id",
        F.lit("ndcg").alias("metric"),
        _floordiv_micro(F.col("dcg_micro"), F.col("ideal")).alias("micro"),
    )
    all_q = recall.unionByName(mrr).unionByName(ndcg)
    macro = all_q.groupBy("metric").agg(
        _floordiv_micro(
            F.sum("micro"), F.count(F.lit(1)) * _MICRO
        ).alias("micro")
    ).select(F.lit(-1).cast("long").alias("q_id"), "metric", "micro")
    out = all_q.unionByName(macro)
    return out.select(
        "q_id",
        "metric",
        "micro",
        (F.col("micro").cast("double") / _MICRO).alias("value"),
    )


def eval_topk_sql(truth_sql: str, cand_sql: str, k: int) -> str:
    """DuckDB twin of :func:`eval_topk` — same literal discount
    tables, same floor((a·10^6)/b) arithmetic."""
    disc_rows = ", ".join(
        f"({r + 1}, {d}::BIGINT)"
        for r, d in enumerate(_discounts_micro(k))
    )
    ideal_rows = ", ".join(
        f"({n + 1}, {v}::BIGINT)" for n, v in enumerate(_ideal_micro(k))
    )
    fd = (
        "CAST(floor(CAST({num} AS DOUBLE) * 1000000"
        " / CAST({den} AS DOUBLE)) AS BIGINT)"
    )
    return f"""
WITH _ev_t AS MATERIALIZED (
  SELECT q_id AS tq, neighbor_id AS tn FROM ({truth_sql}) WHERE rank <= {k}
),
_ev_c AS MATERIALIZED (
  SELECT q_id, neighbor_id, rank FROM ({cand_sql}) WHERE rank <= {k}
),
_ev_disc(rank, disc) AS (VALUES {disc_rows}),
_ev_ideal(n, ideal) AS (VALUES {ideal_rows}),
_ev_n AS (SELECT tq AS q_id, count(*) AS n_truth FROM _ev_t GROUP BY 1),
_ev_h AS (
  SELECT c.q_id, count(*) AS n_hit, min(c.rank) AS first_rank,
         sum(d.disc) AS dcg_micro
  FROM _ev_c c
  JOIN _ev_t t ON c.q_id = t.tq AND c.neighbor_id = t.tn
  JOIN _ev_disc d ON c.rank = d.rank
  GROUP BY 1
),
_ev_q AS (
  SELECT n.q_id, n.n_truth,
         coalesce(h.n_hit, 0) AS n_hit, h.first_rank,
         coalesce(h.dcg_micro, 0) AS dcg_micro, i.ideal
  FROM _ev_n n
  LEFT JOIN _ev_h h ON n.q_id = h.q_id
  JOIN _ev_ideal i ON least(n.n_truth, {k}) = i.n
),
_ev_all AS (
  SELECT q_id, 'recall' AS metric,
         {fd.format(num='n_hit', den='n_truth')} AS micro
  FROM _ev_q
  UNION ALL
  SELECT q_id, 'mrr' AS metric,
         coalesce({fd.format(num='1', den='first_rank')}, 0) AS micro
  FROM _ev_q
  UNION ALL
  SELECT q_id, 'ndcg' AS metric,
         {fd.format(num='dcg_micro', den='ideal')} AS micro
  FROM _ev_q
)
SELECT q_id, metric, micro,
       CAST(micro AS DOUBLE) / 1000000 AS value
FROM _ev_all
UNION ALL
SELECT CAST(-1 AS BIGINT) AS q_id, metric,
       {fd.format(num='sum(micro)', den='count(*) * 1000000')} AS micro,
       CAST({fd.format(num='sum(micro)', den='count(*) * 1000000')}
            AS DOUBLE) / 1000000 AS value
FROM _ev_all GROUP BY metric
"""
