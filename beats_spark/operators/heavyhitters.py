"""Heavy hitters, count-min sketch, and hot-key skew diagnosis.

The 100-TB questions this module answers:

- "what are the k most frequent tokens/terms in the corpus?" — the
  vocabulary head that drives stopword lists, boilerplate detection,
  and BPE seeding. Two shapes:

  * :func:`top_k_terms` — the canonical Spark shape: one groupBy with
    map-side partial aggregation, then a TakeOrdered (never a full
    sort) on (count desc, term asc). The shuffle carries one row per
    DISTINCT term — fine up to ~10^9 terms.
  * :func:`top_k_terms_mg` — the two-pass Misra–Gries shape for when
    the distinct-term count itself is the bottleneck (10^11 shingles):
    pass 1 keeps ≤ ``cap`` candidate terms per partition in constant
    memory (Misra & Gries 1982; batched decrement), pass 2 recounts
    ONLY the candidates exactly (broadcast semi-join, shuffle bounded
    by n_partitions × cap instead of n_distinct). Any term with global
    frequency > N/(cap+1) is guaranteed to survive pass 1 — proof in
    the function docstring — so for Zipf-shaped data the final top-k
    is EXACT and equals :func:`top_k_terms` row-for-row (asserted in
    tests; the driver oracle is the same SQL for both variants).

- "how frequent is this term, without keying the shuffle by term?" —
  :func:`cms_registers` / :func:`cms_estimate`: a count-min sketch
  (Cormode & Muthukrishnan 2005) built by ONE map-side-combining
  aggregation over d×w counters. Register-for-register deterministic
  across engines: row hashes are the repo's portable two-hash scheme
  (md5 halves c1, c2; row i probes (c1 + i·c2) mod P mod w — the
  minhash affine family, dedup.py). Estimates only ever OVERCOUNT
  (point query = min over d rows), overshoot ≤ e·N/w w.h.p.

- "how skewed is this key column?" — :func:`skew_report`: per-key
  count distribution (max, mean, p50/p90/p99, top-1/top-10 share)
  plus ``rec_salt = ceil(max_cnt / mean_cnt)``, a diagnostic: the
  number of equal shares the hottest key would need to level it with
  the average. Nothing reads it as a setting; the fan-out write
  (router.sort_for_fanout) has AQE split an oversized hot bucket
  from the shuffle's own statistics instead.

No reference-repo counterpart (training-data extension per the
brief); the nearest beats concept is the fnv32a partition-hash
balance concern in the kafka output
(`/root/reference/libbeat/outputs/kafka/partition.go:64-73`).

Cross-engine determinism notes: counts and register sums are exact
integers; ranks tie-break on the term string; the only float ops are
single divisions of integer-valued operands (correctly rounded by
IEEE in both engines) rounded to 6 dp; percentiles use the shared
linear-interpolation method (Spark `percentile` ≡ DuckDB
`quantile_cont`) whose interpolation arithmetic is +-*/ on integer
operands.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FP_MOD = 2147483647  # 2^31 - 1, shared with the minhash affine family

#: count-min defaults: 4 rows × 1024 columns = 4k longs of state
CMS_DEPTH = 4
CMS_WIDTH = 1024

#: Misra–Gries per-partition candidate capacity. Guarantee: terms
#: with global frequency > N/(cap+1) always survive pass 1.
MG_CAP = 4096


def _terms(df: DataFrame, text: Column) -> DataFrame:
    """One row per lowercased whitespace token — the explode feeding
    every builder here. Lowering before split matches the SQL twin."""
    from ..functions.textstats import words

    return df.select(
        F.explode(words(F.lower(text))).alias("term")
    )


def _terms_sql(table: str, text_expr: str) -> str:
    from ..functions.textstats import WORDS_SQL

    w = WORDS_SQL.format(c=f"lower({text_expr})")
    return f"SELECT unnest({w}) AS term FROM {table}"


# ---------------------------------------------------------------------------
# exact top-k


def top_k_terms(df: DataFrame, k: int, text_col: str = "text") -> DataFrame:
    """Exact top-k most frequent tokens: (rank, term, cnt), rank 1-based
    by (cnt desc, term asc). One shuffle keyed by term (map-side
    combined); the final top-k is a TakeOrdered over the aggregated
    frame, never a global sort."""
    counts = (
        _terms(df, F.col(text_col))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _rank_top(counts, k)


def _rank_top(counts: DataFrame, k: int) -> DataFrame:
    """(rank, term, cnt) for the k most frequent: the limit compiles
    to TakeOrderedAndProject (per-partition top-k merged at the
    driver, never a single-partition sort of the counts frame); the
    rank window then runs over only the k survivors."""
    from pyspark.sql.window import Window

    top = counts.orderBy(F.col("cnt").desc(), F.col("term").asc()).limit(k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "term", "cnt"
    )


def top_k_terms_sql(
    table: str, k: int, text_expr: str = "text"
) -> str:
    return f"""
SELECT rank, term, cnt FROM (
  SELECT term, count(*) AS cnt,
         row_number() OVER (ORDER BY count(*) DESC, term ASC) AS rank
  FROM ({_terms_sql(table, text_expr)})
  GROUP BY term
) WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Misra–Gries two-pass top-k


def mg_candidates(
    terms: DataFrame, cap: int = MG_CAP, term_col: str = "term"
) -> DataFrame:
    """Pass 1: per-partition Misra–Gries candidate terms, ≤ ``cap``
    per partition in constant memory, via one Arrow `mapInPandas`
    (sanctioned: per-partition sequential state is inexpressible as
    Column work; the per-batch step is a vectorized value_counts, not
    per-row Python).

    Batched decrement: after merging a batch, if more than ``cap``
    terms are held, subtract the (cap+1)-th largest count v from ALL
    and drop ≤ 0. There are ≥ cap+1 terms with count ≥ v, so each
    decrement round removes ≥ (cap+1)·v total mass; any single term's
    cumulative decrement is therefore ≤ F_part/(cap+1), and a term
    with partition frequency > F_part/(cap+1) always survives. By
    pigeonhole a term with GLOBAL frequency > N/(cap+1) exceeds that
    bound in at least one partition. Output is the candidate term set
    (counts are lower bounds and intentionally NOT returned — pass 2
    recounts exactly)."""

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        counts: dict = {}
        for pdf in batches:
            vc = pdf[term_col].value_counts()
            for t, c in vc.items():
                counts[t] = counts.get(t, 0) + int(c)
            if len(counts) > cap:
                vals = sorted(counts.values(), reverse=True)
                v = vals[cap]  # (cap+1)-th largest
                counts = {
                    t: c - v for t, c in counts.items() if c - v > 0
                }
        yield pd.DataFrame({term_col: list(counts.keys())})

    return terms.mapInPandas(gen, schema=f"{term_col} string").distinct()


def top_k_terms_mg(
    df: DataFrame,
    k: int,
    cap: int = MG_CAP,
    text_col: str = "text",
) -> DataFrame:
    """Two-pass exact top-k for huge term cardinalities: Misra–Gries
    candidates (pass 1, constant state per partition), then an exact
    recount of candidates only (pass 2 — the candidate set is ≤
    n_partitions × cap rows, broadcast into a semi-join so the
    recount shuffle carries candidates instead of the full distinct
    vocabulary). Exact whenever the true k-th frequency > N/(cap+1)
    (guaranteed candidate retention, see :func:`mg_candidates`);
    equality with :func:`top_k_terms` is test-asserted and the driver
    oracle is the same SQL."""
    terms = _terms(df, F.col(text_col))
    cands = mg_candidates(terms, cap=cap)
    counts = (
        terms.join(F.broadcast(cands), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _rank_top(counts, k)


# ---------------------------------------------------------------------------
# count-min sketch


def _cms_pos(i: int, width: int) -> Column:
    """Register column j for row i from the staged c1/c2 halves."""
    return F.pmod(
        F.pmod(F.col("_cm_c1") + F.lit(i) * F.col("_cm_c2"), F.lit(FP_MOD)),
        F.lit(width),
    )


def cms_registers(
    df: DataFrame,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    text_col: str = "text",
) -> DataFrame:
    """Count-min register frame (i, j, cnt) over the token stream:
    one map-side-combining groupBy on (row, column) — d·w counter
    state, no term-keyed shuffle. The d probe positions per token are
    staged through materialized c1/c2 projections (expression-reuse
    gotcha) and exploded as an inline (i, j) array — a d× row
    expansion that partial aggregation collapses map-side."""
    staged = _terms(df, F.col(text_col)).select(
        "term", F.md5("term").alias("_cm_hx")
    ).select(
        F.conv(F.substring("_cm_hx", 1, 8), 16, 10)
        .cast("long")
        .alias("_cm_c1"),
        F.conv(F.substring("_cm_hx", 9, 8), 16, 10)
        .cast("long")
        .alias("_cm_c2"),
    )
    probes = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"), _cms_pos(i, width).alias("j")
            )
            for i in range(depth)
        ]
    )
    return (
        staged.select(F.explode(probes).alias("p"))
        .groupBy(F.col("p.i").alias("i"), F.col("p.j").alias("j"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    registers: DataFrame,
    probe_terms: DataFrame,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    term_col: str = "term",
) -> DataFrame:
    """Point-query estimates for a (small) probe-term frame: est =
    min over the d register rows the term hashes to. Probes are
    broadcast; the register frame is d·w rows of state."""
    staged = probe_terms.select(
        term_col, F.md5(term_col).alias("_cm_hx")
    ).select(
        term_col,
        F.conv(F.substring("_cm_hx", 1, 8), 16, 10)
        .cast("long")
        .alias("_cm_c1"),
        F.conv(F.substring("_cm_hx", 9, 8), 16, 10)
        .cast("long")
        .alias("_cm_c2"),
    )
    probes = staged.select(
        term_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), _cms_pos(i, width).alias("j")
                    )
                    for i in range(depth)
                ]
            )
        ).alias("p"),
    ).select(term_col, F.col("p.i").alias("i"), F.col("p.j").alias("j"))
    return (
        registers.join(F.broadcast(probes), ["i", "j"])
        .groupBy(term_col)
        .agg(F.min("cnt").alias("est"))
    )


def _cms_ctes(table: str, text_expr: str, depth: int, width: int) -> str:
    """DuckDB CTE chain terms → halves → probe rows → registers,
    lock-step with :func:`cms_registers`."""
    arms = "\nUNION ALL\n".join(
        f"SELECT {i} AS i, ((c1 + {i} * c2) % {FP_MOD}) % {width} AS j"
        " FROM _cm_cs"
        for i in range(depth)
    )
    return f"""
_cm_t AS (SELECT term, md5(term) AS hx FROM ({_terms_sql(table, text_expr)})),
_cm_cs AS (SELECT ('0x' || substr(hx, 1, 8))::BIGINT AS c1,
                  ('0x' || substr(hx, 9, 8))::BIGINT AS c2
           FROM _cm_t),
_cm_reg AS (SELECT i, j, count(*) AS cnt FROM ({arms}) GROUP BY i, j)
"""


def cms_estimate_sql(
    table: str,
    probe_sql: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    text_expr: str = "text",
) -> str:
    """DuckDB twin: estimates for the terms produced by ``probe_sql``
    (any query yielding a ``term`` column)."""
    arms = "\nUNION ALL\n".join(
        f"SELECT term, {i} AS i,"
        f" ((('0x' || substr(md5(term), 1, 8))::BIGINT"
        f" + {i} * ('0x' || substr(md5(term), 9, 8))::BIGINT)"
        f" % {FP_MOD}) % {width} AS j"
        f" FROM _cm_probe"
        for i in range(depth)
    )
    return f"""
WITH {_cms_ctes(table, text_expr, depth, width)},
_cm_probe AS ({probe_sql}),
_cm_pp AS ({arms})
SELECT p.term, CAST(min(r.cnt) AS BIGINT) AS est
FROM _cm_pp p JOIN _cm_reg r USING (i, j)
GROUP BY p.term
"""


# ---------------------------------------------------------------------------
# histogram quantiles


def histogram_bins(
    df: DataFrame,
    value: Column,
    lo: int,
    hi: int,
    n_bins: int = 256,
) -> DataFrame:
    """Fixed-bin histogram (bin, cnt) of a numeric column — the
    mergeable quantile sketch: Spark's exact ``percentile`` buffers
    every value per group and a full sort is a non-starter at 10^12
    rows, while this is ONE map-side-combining aggregation into
    ≤ n_bins counters that merge by SUM (tested). Values outside
    [lo, hi) clamp into the edge bins (documented estimator bias,
    never an error). Bin arithmetic is exact-integer scaled before
    one correctly-rounded divide, identical in DuckDB."""
    return (
        df.select(_bin(value, lo, hi, n_bins).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bin(value: Column, lo: int, hi: int, n_bins: int) -> Column:
    v = value.cast("long")
    b = F.floor(
        (v - F.lit(lo)).cast("double") * F.lit(n_bins) / F.lit(hi - lo)
    ).cast("long")
    return F.least(F.lit(n_bins - 1), F.greatest(F.lit(0), b))


def histogram_quantiles_by(
    df: DataFrame,
    group_cols: list[str],
    value: Column,
    qs: list[float],
    lo: int,
    hi: int,
    n_bins: int = 256,
) -> DataFrame:
    """Per-GROUP ``(group_cols..., q, est)`` histogram-interpolated
    quantiles (doc-length p50/p99 per language/source; the whole
    corpus with no ``group_cols``). The :func:`histogram_bins` sketch
    keyed (group, bin) — one map-side-combining agg, ≤ n_bins rows
    per group — with the cumulative window PARTITIONED by group
    (bounded per partition). pos = q·(N−1) as in the type-7
    estimator, located in the cumulative bin counts and linearly
    interpolated inside the containing bin:
    ``est = lo + width·(bin + (pos − cum_before)/cnt_bin)``, rounded
    to 6 dp after arithmetic both engines round identically."""
    from pyspark.sql.window import Window

    width = (hi - lo) / n_bins
    bins = (
        df.select(*group_cols, _bin(value, lo, hi, n_bins).alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy(*group_cols).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wall = Window.partitionBy(*group_cols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = bins.select(
        *group_cols,
        "bin",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum_before"),
        F.sum("cnt").over(wall).alias("n"),
    )
    probe = df.sparkSession.range(1).select(
        F.explode(
            F.array(*[F.struct(F.lit(float(x)).alias("q")) for x in qs])
        ).alias("s")
    ).select(F.col("s.q").alias("q"))
    pos = F.col("q") * (F.col("n") - 1)
    est = F.lit(float(lo)) + F.lit(width) * (
        F.col("bin") + (pos - F.col("cum_before")) / F.col("cnt")
    )
    return (
        cum.where(F.col("cnt") > 0)
        .crossJoin(F.broadcast(probe))
        .where(
            (F.col("cum_before") <= pos)
            & (pos < F.col("cum_before") + F.col("cnt"))
        )
        .select(*group_cols, "q", F.round(est, 6).alias("est"))
    )


def histogram_quantiles_by_sql(
    table: str,
    group_sql: list[str],
    value_expr: str,
    qs: list[float],
    lo: int,
    hi: int,
    n_bins: int = 256,
) -> str:
    """DuckDB twin of :func:`histogram_quantiles_by` (the whole table
    with no ``group_sql``)."""
    width = (hi - lo) / n_bins
    q_rows = ", ".join(f"({float(x)})" for x in qs)
    g = "".join(f"{c}, " for c in group_sql)
    part = f"PARTITION BY {', '.join(group_sql)}" if group_sql else ""
    return f"""
WITH _hq_b AS MATERIALIZED (
  SELECT {g}least({n_bins - 1}, greatest(0,
           CAST(floor(CAST(CAST({value_expr} AS BIGINT) - {lo} AS DOUBLE)
                      * {n_bins} / {hi - lo}) AS BIGINT))) AS bin,
         count(*) AS cnt
  FROM {table} GROUP BY ALL
),
_hq_c AS (
  SELECT {g}bin, cnt,
         coalesce(sum(cnt) OVER ({part} ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         sum(cnt) OVER ({part}) AS n
  FROM _hq_b
),
_hq_q AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES {q_rows}) v(q))
SELECT {g}q,
       round({float(lo)} + {width} * (bin + (q * (n - 1) - cum_before)
             / cnt), 6) AS est
FROM _hq_c, _hq_q
WHERE cnt > 0 AND cum_before <= q * (n - 1)
  AND q * (n - 1) < cum_before + cnt
"""


# ---------------------------------------------------------------------------
# skew report


def skew_report(df: DataFrame, key: Column) -> DataFrame:
    """Hot-key diagnosis for a prospective shuffle/partition key:
    (metric, value) rows — n_rows, n_keys, max_cnt, mean_cnt,
    p50/p90/p99 of the per-key count distribution, top-1 and top-10
    share of total rows, and ``rec_salt = ceil(max_cnt / mean_cnt)``
    — how many average-sized shares the hottest key holds. It is a
    diagnostic only: no writer takes it as a setting, because the
    fan-out write's AQE rebalance splits a hot bucket by itself.

    Shape: one keyed groupBy (map-side combined), then ALL statistics
    in one aggregation over the per-key count frame (n_keys rows —
    already small at any scale worth diagnosing); the top-10 share
    uses a bounded TakeOrdered, not a sort."""
    counts = df.select(key.alias("k")).groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    top10 = (
        counts.orderBy(F.col("cnt").desc(), F.col("k").asc())
        .limit(10)
        .agg(F.sum("cnt").alias("top10"))
    )
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.expr("percentile(cnt, 0.5)").alias("p50"),
        F.expr("percentile(cnt, 0.9)").alias("p90"),
        F.expr("percentile(cnt, 0.99)").alias("p99"),
    )
    row = stats.crossJoin(top10)
    mean = F.col("n_rows") / F.col("n_keys")
    metrics = [
        ("n_rows", F.col("n_rows").cast("double")),
        ("n_keys", F.col("n_keys").cast("double")),
        ("max_cnt", F.col("max_cnt").cast("double")),
        ("mean_cnt", F.round(mean, 6)),
        ("p50", F.round(F.col("p50"), 6)),
        ("p90", F.round(F.col("p90"), 6)),
        ("p99", F.round(F.col("p99"), 6)),
        (
            "top1_share",
            F.round(F.col("max_cnt") / F.col("n_rows"), 6),
        ),
        (
            "top10_share",
            F.round(F.col("top10") / F.col("n_rows"), 6),
        ),
        ("rec_salt", F.ceil(F.col("max_cnt") / mean).cast("double")),
    ]
    packed = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("metric"), expr.alias("value")
                    )
                    for name, expr in metrics
                ]
            )
        ).alias("m")
    )
    return packed.select("m.metric", "m.value")


def skew_report_sql(table: str, key_expr: str) -> str:
    """DuckDB twin of :func:`skew_report` (quantile_cont shares
    Spark `percentile`'s linear interpolation)."""
    return f"""
WITH _sk_c AS MATERIALIZED (
  SELECT {key_expr} AS k, count(*) AS cnt FROM {table} GROUP BY 1
),
_sk_top AS (
  SELECT sum(cnt) AS top10 FROM (
    SELECT cnt FROM _sk_c ORDER BY cnt DESC, k ASC LIMIT 10
  )
),
_sk_s AS (
  SELECT count(*) AS n_keys, sum(cnt) AS n_rows, max(cnt) AS max_cnt,
         quantile_cont(cnt, 0.5) AS p50,
         quantile_cont(cnt, 0.9) AS p90,
         quantile_cont(cnt, 0.99) AS p99
  FROM _sk_c
)
SELECT metric, value FROM (
  SELECT 'n_rows' AS metric, CAST(n_rows AS DOUBLE) AS value, 1 AS o
    FROM _sk_s, _sk_top
  UNION ALL SELECT 'n_keys', CAST(n_keys AS DOUBLE), 2 FROM _sk_s, _sk_top
  UNION ALL SELECT 'max_cnt', CAST(max_cnt AS DOUBLE), 3 FROM _sk_s, _sk_top
  UNION ALL SELECT 'mean_cnt',
    round(CAST(n_rows AS DOUBLE) / n_keys, 6), 4 FROM _sk_s, _sk_top
  UNION ALL SELECT 'p50', round(p50, 6), 5 FROM _sk_s, _sk_top
  UNION ALL SELECT 'p90', round(p90, 6), 6 FROM _sk_s, _sk_top
  UNION ALL SELECT 'p99', round(p99, 6), 7 FROM _sk_s, _sk_top
  UNION ALL SELECT 'top1_share',
    round(CAST(max_cnt AS DOUBLE) / n_rows, 6), 8 FROM _sk_s, _sk_top
  UNION ALL SELECT 'top10_share',
    round(CAST(top10 AS DOUBLE) / n_rows, 6), 9 FROM _sk_s, _sk_top
  UNION ALL SELECT 'rec_salt',
    CAST(ceil(CAST(max_cnt AS DOUBLE)
              / (CAST(n_rows AS DOUBLE) / n_keys)) AS DOUBLE), 10
    FROM _sk_s, _sk_top
)
"""
