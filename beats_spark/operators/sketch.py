"""Deterministic HyperLogLog cardinality sketch.

The 100-TB question "how many DISTINCT documents / shingles / URLs"
is, done exactly, a full shuffle on the key (`countDistinct`). The
HLL sketch (Flajolet et al. 2007) answers it with one map-side-
combining aggregation over m = 2^p registers — constant state, no
corpus shuffle, and registers from disjoint partitions MERGE by
element-wise max (the property that makes it a one-pass distributed
sketch). Spark ships an HLL (`approx_count_distinct`) but its
register hashing is engine-private; this implementation is built
from the repo's portable md5 primitives so a DuckDB oracle
reproduces the sketch REGISTER-FOR-REGISTER:

- 52-bit item hash = first 13 hex chars of ``md5(value)`` (52 bits
  keeps every intermediate exactly representable; the conv/'0x' cast
  idiom shared with minhash)
- register j   = top ``p`` bits (hex-prefix, so p % 4 == 0)
- rho          = leading zeros of the remaining B = 52-p bits, + 1;
  an all-zero remainder scores B+1 — bit lengths come from
  ``bin()`` string length (identical no-leading-zeros semantics in
  Spark and DuckDB), never ``floor(log2)`` (IEEE does not require
  correctly-rounded log2 — CLAUDE.md transcendental gotcha)
- the harmonic sum is snapped exact: each register contributes the
  INTEGER ``2^(B+1-M_j)`` (empty registers ``2^(B+1)``), so the sum
  is an order-free integer sum ≤ m·2^(B+1) < 2^53 and the only
  float ops are one multiply and one divide on identical operands —
  both engines round identically
- the raw estimator only (alpha_m · m² / Σ2^-M): HLL's small-range
  linear-counting correction needs ln(), which is not correctly
  rounded; at sketch-worthy cardinalities the raw estimator is the
  published one, and the oracle-checked register table lets any
  consumer apply corrections downstream.

No reference-repo counterpart (training-data extension per the
brief; the nearest beats concept is the registrar's "how much state
am I carrying" accounting, `filebeat/registrar/registrar.go`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: total hex chars of the item hash (52 bits)
_HEX_LEN = 13


def _alpha(m: int) -> float:
    """Bias constant alpha_m (Flajolet et al. 2007 fig. 3); driver-
    computed once and embedded as the SAME double literal in both
    engines."""
    if m >= 128:
        return 0.7213 / (1.0 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


def _check_p(p: int) -> tuple[int, int, int]:
    """(m, reg_hex_chars, remainder_bits)."""
    if p % 4 != 0 or not 4 <= p <= 16:
        raise ValueError(f"p must be a multiple of 4 in [4, 16], got {p}")
    rc = p // 4
    return 1 << p, rc, 4 * (_HEX_LEN - rc)


def hll_registers_by(
    df: DataFrame,
    group_cols: list[str],
    value: Column,
    p: int = 8,
) -> DataFrame:
    """The sketch itself: ``(group_cols..., register, max_rho)`` — one
    row per NON-EMPTY register, ≤ 2^p rows per group. One
    map-side-combining groupBy on (group, register); nothing
    corpus-sized ever shuffles. With no ``group_cols`` it is the
    whole-corpus sketch. Sketches of disjoint slices merge by register
    max — union the frames and re-aggregate. The per-sink "distinct
    conversations" question the observer wants, without a per-sink
    countDistinct shuffle of the corpus."""
    _, rc, bits = _check_p(p)
    hx = F.md5(value.cast("string"))
    reg = F.conv(F.substring(hx, 1, rc), 16, 10).cast("long")
    rem = F.conv(F.substring(hx, rc + 1, _HEX_LEN - rc), 16, 10).cast(
        "long"
    )
    rho = (
        F.when(rem == 0, F.lit(bits + 1))
        .otherwise(F.lit(bits + 1) - F.length(F.bin(rem)))
        .cast("int")
    )
    return (
        df.select(*group_cols, reg.alias("register"), rho.alias("rho"))
        .groupBy(*group_cols, "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate_by(
    registers: DataFrame, group_cols: list[str], p: int = 8
) -> DataFrame:
    """Per-group ``(group_cols..., m, n_nonzero, estimate)`` from a
    register table (raw HLL estimator, exact-integer harmonic sum — see
    module docstring). With no ``group_cols`` it is one row, also over
    an empty register table."""
    m, _, bits = _check_p(p)
    alpha = _alpha(m)
    unit = F.call_function(
        "shiftleft",
        F.lit(1).cast("long"),
        (F.lit(bits + 1) - F.col("max_rho")).cast("int"),
    )
    agg = registers.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_nonzero"),
        F.sum(unit).cast("long").alias("_present_units"),
    )
    empty_unit = 1 << (bits + 1)
    total_units = (
        F.col("_present_units")
        + (F.lit(m).cast("long") - F.col("n_nonzero")) * F.lit(empty_unit)
    )
    num = float(alpha) * float(m) * float(m) * float(1 << (bits + 1))
    # Empty register table (empty input corpus, possible only without
    # group columns): the raw harmonic-sum estimator would read α·m
    # (and an un-coalesced sum reads NULL, which Spark's greatest
    # SKIPS while DuckDB's propagates — the least/greatest null-skip
    # gotcha). Pin the empty case to 0.0 in BOTH engines so
    # overlap/inclusion–exclusion stays cross-engine deterministic.
    return agg.select(
        *group_cols,
        F.lit(m).cast("long").alias("m"),
        "n_nonzero",
        F.when(F.col("n_nonzero") == 0, F.lit(0.0))
        .otherwise(F.round(F.lit(num) / total_units.cast("double"), 6))
        .alias("estimate"),
    )


def hll_cardinality_by_sql(
    table: str, group_sql: list[str], value_sql: str, p: int = 8
) -> str:
    """DuckDB twin of hll_registers_by → hll_estimate_by."""
    m, rc, bits = _check_p(p)
    alpha = _alpha(m)
    num = float(alpha) * float(m) * float(m) * float(1 << (bits + 1))
    g = ", ".join(group_sql)
    return f"""
WITH g_regs AS (
  SELECT {g}, register, max(rho) AS max_rho FROM (
    SELECT {g},
           ('0x' || substr(md5(CAST({value_sql} AS VARCHAR)), 1, {rc}))::BIGINT
             AS register,
           CASE WHEN ('0x' || substr(md5(CAST({value_sql} AS VARCHAR)),
                      {rc + 1}, {_HEX_LEN - rc}))::BIGINT = 0
                THEN {bits + 1}
                ELSE {bits + 1}
                     - length(bin(('0x' || substr(
                           md5(CAST({value_sql} AS VARCHAR)),
                           {rc + 1}, {_HEX_LEN - rc}))::BIGINT))
           END AS rho
    FROM {table}
  ) GROUP BY ALL
),
g_agg AS (
  SELECT {g}, CAST(count(*) AS BIGINT) AS n_nonzero,
         CAST(sum(1::BIGINT << ({bits + 1} - max_rho)) AS BIGINT)
           AS present_units
  FROM g_regs GROUP BY ALL
)
SELECT {g}, CAST({m} AS BIGINT) AS m, n_nonzero,
       round({num!r} / CAST(present_units
             + ({m} - n_nonzero) * ({1 << (bits + 1)}::BIGINT)
             AS DOUBLE), 6) AS estimate
FROM g_agg
"""


def hll_registers_sql(
    table: str, value_sql: str, p: int = 8
) -> str:
    """DuckDB twin of :func:`hll_registers_by` with no group columns
    (register-for-register)."""
    _, rc, bits = _check_p(p)
    return f"""
SELECT register, max(rho) AS max_rho FROM (
  SELECT ('0x' || substr(md5(CAST({value_sql} AS VARCHAR)), 1, {rc}))::BIGINT
           AS register,
         CASE WHEN ('0x' || substr(md5(CAST({value_sql} AS VARCHAR)),
                    {rc + 1}, {_HEX_LEN - rc}))::BIGINT = 0
              THEN {bits + 1}
              ELSE {bits + 1}
                   - length(bin(('0x' || substr(
                         md5(CAST({value_sql} AS VARCHAR)),
                         {rc + 1}, {_HEX_LEN - rc}))::BIGINT))
         END AS rho
  FROM {table}
) GROUP BY register
"""


def hll_cardinality_sql(
    table: str, value_sql: str, p: int = 8
) -> str:
    """DuckDB twin of :func:`hll_registers_by` → :func:`hll_estimate_by`
    with no group columns (identical exact-integer harmonic sum and
    single-rounding estimator)."""
    m, _, bits = _check_p(p)
    alpha = _alpha(m)
    num = float(alpha) * float(m) * float(m) * float(1 << (bits + 1))
    regs = hll_registers_sql(table, value_sql, p=p)
    return f"""
WITH regs AS ({regs}),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nonzero,
         CAST(sum(1::BIGINT << ({bits + 1} - max_rho)) AS BIGINT)
           AS present_units
  FROM regs
)
SELECT CAST({m} AS BIGINT) AS m, n_nonzero,
       CASE WHEN n_nonzero = 0 THEN 0.0 ELSE
       round({num!r} / CAST(present_units
             + ({m} - n_nonzero) * ({1 << (bits + 1)}::BIGINT)
             AS DOUBLE), 6) END AS estimate
FROM agg
"""


# ---------------------------------------------------------------------------
# sketch-level set algebra: union / intersection / Jaccard of corpora


def _estimate_from_regs_sql(regs_cte: str, p: int = 8) -> str:
    """Estimator body over a named register CTE (shared by the
    cardinality and overlap twins)."""
    m, _, bits = _check_p(p)
    alpha = _alpha(m)
    num = float(alpha) * float(m) * float(m) * float(1 << (bits + 1))
    return f"""
SELECT CASE WHEN count(*) = 0 THEN 0.0 ELSE
       round({num!r} / CAST(
         CAST(sum(1::BIGINT << ({bits + 1} - max_rho)) AS BIGINT)
         + ({m} - CAST(count(*) AS BIGINT)) * ({1 << (bits + 1)}::BIGINT)
         AS DOUBLE), 6) END AS estimate
FROM {regs_cte}
"""


def hll_overlap_sql(
    table_a: str, value_a_sql: str, table_b: str, value_b_sql: str,
    p: int = 8,
) -> str:
    """DuckDB twin of :func:`hll_overlap_by` with no group columns
    (same register merge, same estimator, same inclusion–exclusion on
    the 6-dp estimates)."""
    ra = hll_registers_sql(table_a, value_a_sql, p=p)
    rb = hll_registers_sql(table_b, value_b_sql, p=p)
    return f"""
WITH _ra AS MATERIALIZED ({ra}),
_rb AS MATERIALIZED ({rb}),
_ru AS (
  SELECT register, max(max_rho) AS max_rho
  FROM (SELECT * FROM _ra UNION ALL SELECT * FROM _rb) GROUP BY 1
),
_ea AS ({_estimate_from_regs_sql("_ra", p)}),
_eb AS ({_estimate_from_regs_sql("_rb", p)}),
_eu AS ({_estimate_from_regs_sql("_ru", p)}),
_j AS (
  SELECT _ea.estimate AS est_a, _eb.estimate AS est_b,
         _eu.estimate AS est_union,
         greatest(round(_ea.estimate + _eb.estimate - _eu.estimate, 6),
                  0.0) AS est_inter
  FROM _ea, _eb, _eu
)
SELECT est_a, est_b, est_union, est_inter,
       round(est_inter / est_union, 6) AS jaccard
FROM _j
"""


def hll_overlap_by(
    df_a: DataFrame,
    df_b: DataFrame,
    group_cols: list[str],
    value: Column,
    p: int = 8,
) -> DataFrame:
    """Corpus-overlap estimate WITHOUT a corpus join, per group:
    |A|, |B|, |A ∪ B| from three sketches (the union sketch is the
    exact register max — the HLL merge property), then |A ∩ B| by
    inclusion–exclusion and Jaccard = inter/union — the standard HLL
    set-algebra (Flajolet et al. 2007 §4 merge; inclusion–exclusion
    per the original LogLog practice).

    The 100-TB use: "how much of the new crawl is already in the lake"
    (per language/source with ``group_cols``, whole-corpus without)
    costs two corpus scans and ZERO joins of anything corpus-sized —
    each side collapses to ≤ 2^p register rows per group before
    anything crosses; the final joins are group-keyed over estimate
    rows (one row each, joined without a key, when ungrouped).
    Groups present on only one side get est 0.0 for the missing side
    and inter 0 (coalesced, not NULL — a one-sided group IS fully
    novel). One row per group:
    (group_cols..., est_a, est_b, est_union, est_inter, jaccard), all
    rounded once at the end from exact-integer unit sums (the module
    determinism discipline; inclusion–exclusion arithmetic runs on the
    two engines' IDENTICAL 6-dp estimates)."""
    ra = hll_registers_by(df_a, group_cols, value, p=p)
    rb = hll_registers_by(df_b, group_cols, value, p=p)
    ru = (
        ra.unionByName(rb)
        .groupBy(*group_cols, "register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    ea = hll_estimate_by(ra, group_cols, p=p).select(
        *group_cols, F.col("estimate").alias("est_a")
    )
    eb = hll_estimate_by(rb, group_cols, p=p).select(
        *group_cols, F.col("estimate").alias("est_b")
    )
    eu = hll_estimate_by(ru, group_cols, p=p).select(
        *group_cols, F.col("estimate").alias("est_union")
    )
    on = group_cols or None
    j = (
        eu.join(ea, on, "left")
        .join(eb, on, "left")
        .withColumn("est_a", F.coalesce("est_a", F.lit(0.0)))
        .withColumn("est_b", F.coalesce("est_b", F.lit(0.0)))
    )
    inter = F.greatest(
        F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 6),
        F.lit(0.0),
    )
    return j.withColumn("est_inter", inter).withColumn(
        "jaccard", F.round(F.col("est_inter") / F.col("est_union"), 6)
    ).select(
        *group_cols, "est_a", "est_b", "est_union", "est_inter", "jaccard"
    )
