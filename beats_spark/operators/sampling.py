"""Deterministic sampling and sequence packing for training-data
pipelines (pure extensions per the brief — no reference analog).

Sampling uses the repo's portable md5 word-code (functions/textstats)
instead of Spark's ``sample()``: the decision is a pure function of
the row KEY, so it is reproducible across engines (DuckDB oracle),
across runs, and across repartitioning — ``df.sample`` is none of
those. Map-side only; composes with any downstream shuffle.

Sequence packing assigns documents to fixed-token-budget training
packs: contiguous fill in stable (group, order) sequence via a
windowed cumulative sum. A document that crosses a boundary belongs
to the pack its FIRST token falls in (documented greedy-contiguous
semantics; packers that split documents are a chunking concern —
operators/chunking.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textstats import token_count_ws, word_code
from ..session import local_frame

SAMPLE_MOD = 1_000_000


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (the data-mixing knob of a
    training pipeline: e.g. keep 100% of rare languages, 10% of the
    dominant one). Unlisted strata get ``default_rate``."""
    rate = None
    for stratum, r in rates.items():
        cond = F.col(strata_col) == stratum
        rate = (
            F.when(cond, F.lit(float(r)))
            if rate is None
            else rate.when(cond, F.lit(float(r)))
        )
    rate_col = (
        rate.otherwise(F.lit(float(default_rate)))
        if rate is not None
        else F.lit(float(default_rate))
    )
    # floor() before the long-cast on every engine: Spark's cast
    # truncates but DuckDB's BIGINT cast rounds, so a rate whose
    # rate·1e6 is inexact (0.29 → 289999.99…) would shift the boundary
    keep = F.pmod(
        word_code(F.col(key_col).cast("string")), F.lit(SAMPLE_MOD)
    ) < F.floor(rate_col * SAMPLE_MOD).cast("long")
    return df.where(keep)


def stratified_sample_sql(
    table: str,
    rates: dict[str, float],
    strata_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
) -> str:
    from ..functions.textstats import word_code_sql

    whens = " ".join(
        f"WHEN {strata_col} = '{s}' THEN {float(r)}" for s, r in rates.items()
    )
    code = word_code_sql(f"CAST({key_col} AS VARCHAR)")
    return f"""
SELECT * FROM {table}
WHERE {code} % {SAMPLE_MOD} <
      CAST(floor((CASE {whens} ELSE {float(default_rate)} END)
                 * {SAMPLE_MOD}) AS BIGINT)
"""


def domain_mix_rates(
    df: DataFrame,
    weights: dict[str, float],
    budget: int,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum sampling rates that hit a target TOKEN mixture
    (the Pile/Dolma-style mixing stage): stratum ``s`` with target
    weight ``w_s`` and observed token mass ``n_s`` gets rate
    ``min(1, w_s·budget / n_s)`` — clipped when the stratum cannot
    supply its share. Strata absent from ``weights`` get 0 (dropped).

    One map-side-combining aggregation over the corpus produces the
    strata-bounded count table; everything downstream is arithmetic on
    that small frame. Deterministic cross-engine: counts are exact
    longs, and the IEEE multiply/divide on them is identical on both
    engines (no order-dependent float aggregation anywhere)."""
    counts = df.groupBy(strata_col).agg(
        F.sum(token_count_ws(F.col(text_col)).cast("long")).alias("n_tokens")
    )
    w = None
    for stratum, wt in weights.items():
        cond = F.col(strata_col) == stratum
        w = (
            F.when(cond, F.lit(float(wt)))
            if w is None
            else w.when(cond, F.lit(float(wt)))
        )
    wcol = w.otherwise(F.lit(0.0)) if w is not None else F.lit(0.0)
    # guard BEFORE least: Spark's least() SKIPS nulls (CLAUDE.md
    # gotcha), so a 0-token stratum's NULL division would read 1.0
    rate = F.when(
        F.col("n_tokens") > 0,
        F.least(F.lit(1.0), wcol * F.lit(float(budget)) / F.col("n_tokens")),
    ).otherwise(F.lit(0.0))
    return counts.select(strata_col, "n_tokens", rate.alias("rate"))


def domain_mix(
    df: DataFrame,
    weights: dict[str, float],
    budget: int,
    strata_col: str = "source",
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministically sample the corpus to a target per-stratum
    TOKEN mixture: rates from :func:`domain_mix_rates`, keep-decision
    the same portable hash as :func:`stratified_sample`. Returns the
    kept (key, stratum) rows. 100-TB shape: one counting aggregation +
    one broadcast join of the strata-bounded rate table + a map-side
    filter — the corpus never shuffles."""
    rates = domain_mix_rates(
        df, weights, budget, strata_col=strata_col, text_col=text_col
    )
    joined = df.join(F.broadcast(rates), strata_col)
    keep = F.pmod(
        word_code(F.col(key_col).cast("string")), F.lit(SAMPLE_MOD)
    ) < F.floor(F.col("rate") * SAMPLE_MOD).cast("long")
    return joined.where(keep).select(key_col, strata_col)


def domain_mix_sql(
    table: str,
    weights: dict[str, float],
    budget: int,
    strata_col: str = "source",
    key_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`domain_mix`."""
    from ..functions.textstats import WORDS_SQL, word_code_sql

    toks = WORDS_SQL.format(c=text_col)
    whens = " ".join(
        f"WHEN {strata_col} = '{s}' THEN {float(w)}"
        for s, w in weights.items()
    )
    code = word_code_sql(f"CAST({key_col} AS VARCHAR)")
    return f"""
WITH counts AS (
  SELECT {strata_col},
         CAST(sum(len({toks})) AS BIGINT) AS n_tokens
  FROM {table} GROUP BY 1
),
rates AS (
  SELECT {strata_col},
         CASE WHEN n_tokens > 0
              THEN least(1.0, (CASE {whens} ELSE 0.0 END)
                              * {float(budget)} / n_tokens)
              ELSE 0.0 END AS rate
  FROM counts
)
SELECT d.{key_col}, d.{strata_col}
FROM {table} d JOIN rates USING ({strata_col})
WHERE {code} % {SAMPLE_MOD} <
      CAST(floor(rate * {SAMPLE_MOD}) AS BIGINT)
"""


#: micro-unit scale for temperature weights (the lm.py integer-sum
#: discipline: snap each per-stratum term to an integer BEFORE the
#: cross-stratum sum so the sum is order-free on every engine)
TEMP_UNIT = 1_000_000


def _sqrt_depth(alpha: float) -> int:
    """alpha must be 1/2^k (k ≥ 0): k correctly-rounded sqrt
    applications compute n^alpha DETERMINISTICALLY on every engine —
    IEEE does not require correctly-rounded pow() (CLAUDE.md: a
    last-ulp engine difference can flip a rounding), but sqrt IS
    correctly rounded, and a fixed composition of correctly-rounded
    ops is bit-identical everywhere."""
    k = 0
    a = float(alpha)
    while a < 1.0 and k < 16:
        a *= 2.0
        k += 1
    if a != 1.0:
        raise ValueError(
            f"alpha must be 1/2^k (1.0, 0.5, 0.25, ...), got {alpha!r}"
        )
    return k


def temperature_mix_rates(
    df: DataFrame,
    budget: int,
    alpha: float = 0.5,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-based mixture weights (the multilingual-LM /
    XLM-R-style sampling rule): target weight of stratum ``s`` is
    p_s ∝ n_s^alpha — alpha 1.0 keeps the natural distribution,
    alpha → 0 flattens toward uniform, 0.5/0.25 are the published
    sweet spots — then the same clipped token-budget rate rule as
    :func:`domain_mix_rates`: rate_s = min(1, p_s·budget / n_s).

    Unlike ``domain_mix`` the mixture is DERIVED from the corpus, not
    supplied: one map-side-combining token-mass aggregation, then
    arithmetic on the strata-bounded frame. Cross-engine determinism:
    n_s^alpha is computed as ``alpha = 1/2^k`` repeated sqrt (see
    :func:`_sqrt_depth`), snapped to integer micro-units before the
    normalizing sum (order-free), and every remaining op is a
    correctly-rounded +,*,/ on exact integers."""
    k = _sqrt_depth(alpha)
    counts = df.groupBy(strata_col).agg(
        F.sum(token_count_ws(F.col(text_col)).cast("long")).alias("n_tokens")
    )
    term = F.col("n_tokens").cast("double")
    for _ in range(k):
        term = F.sqrt(term)
    units = F.floor(term * F.lit(float(TEMP_UNIT))).cast("long")
    scored = counts.select(strata_col, "n_tokens", units.alias("units"))
    total = scored.agg(F.sum("units").alias("total_units"))
    joined = scored.crossJoin(F.broadcast(total))
    rate = F.when(
        (F.col("n_tokens") > 0) & (F.col("total_units") > 0),
        F.least(
            F.lit(1.0),
            (F.col("units").cast("double") / F.col("total_units"))
            * F.lit(float(budget))
            / F.col("n_tokens"),
        ),
    ).otherwise(F.lit(0.0))
    return joined.select(
        strata_col, "n_tokens", "units", rate.alias("rate")
    )


def temperature_mix(
    df: DataFrame,
    budget: int,
    alpha: float = 0.5,
    strata_col: str = "source",
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministically sample the corpus to the alpha-temperature
    token mixture. Same 100-TB shape as :func:`domain_mix`: one
    counting aggregation, broadcast of the strata-bounded rate table,
    map-side portable-hash keep filter — the corpus never shuffles."""
    rates = temperature_mix_rates(
        df, budget, alpha=alpha, strata_col=strata_col, text_col=text_col
    )
    joined = df.join(F.broadcast(rates), strata_col)
    keep = F.pmod(
        word_code(F.col(key_col).cast("string")), F.lit(SAMPLE_MOD)
    ) < F.floor(F.col("rate") * SAMPLE_MOD).cast("long")
    return joined.where(keep).select(key_col, strata_col)


def temperature_mix_sql(
    table: str,
    budget: int,
    alpha: float = 0.5,
    strata_col: str = "source",
    key_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`temperature_mix` (lock-step sqrt depth,
    micro-unit snap, integer normalizing sum)."""
    from ..functions.textstats import WORDS_SQL, word_code_sql

    k = _sqrt_depth(alpha)
    toks = WORDS_SQL.format(c=text_col)
    term = "CAST(n_tokens AS DOUBLE)"
    for _ in range(k):
        term = f"sqrt({term})"
    code = word_code_sql(f"CAST({key_col} AS VARCHAR)")
    return f"""
WITH counts AS (
  SELECT {strata_col},
         CAST(sum(len({toks})) AS BIGINT) AS n_tokens
  FROM {table} GROUP BY 1
),
scored AS (
  SELECT {strata_col}, n_tokens,
         CAST(floor({term} * {float(TEMP_UNIT)}) AS BIGINT) AS units
  FROM counts
),
rates AS (
  SELECT {strata_col},
         CASE WHEN n_tokens > 0
                   AND (SELECT sum(units) FROM scored) > 0
              THEN least(1.0,
                         (CAST(units AS DOUBLE)
                          / (SELECT sum(units) FROM scored))
                         * {float(budget)} / n_tokens)
              ELSE 0.0 END AS rate
  FROM scored
)
SELECT d.{key_col}, d.{strata_col}
FROM {table} d JOIN rates USING ({strata_col})
WHERE {code} % {SAMPLE_MOD} <
      CAST(floor(rate * {SAMPLE_MOD}) AS BIGINT)
"""


def pack_sequences(
    df: DataFrame,
    token_budget: int = 256,
    group_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Assign each document to a training pack: stable (group, order)
    sequence, contiguous fill of ``token_budget`` whitespace tokens —
    pack_id = floor(exclusive-prefix-tokens / budget). One window over
    the (group, order) sort the fan-out writer needs anyway; at scale
    the shuffle keys on the group column exactly like the router.
    ``n_tokens_col`` substitutes a precomputed token count (e.g. real
    BPE counts from operators/bpe.py) for the whitespace estimate."""
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_tok = (
        F.col(n_tokens_col)
        if n_tokens_col is not None
        else token_count_ws(F.col(text_col))
    ).cast("long")
    prefix = F.coalesce(F.sum(n_tok).over(w), F.lit(0).cast("long"))
    return df.select(
        group_col,
        order_col,
        n_tok.alias("n_tokens"),
        F.floor(prefix / token_budget).cast("long").alias("pack_id"),
    )


def pack_manifest(
    df: DataFrame,
    token_budget: int = 256,
    group_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """:func:`pack_sequences` plus the within-pack TOKEN OFFSETS —
    the attention-reset manifest: trainers that zero attention across
    document boundaries inside a packed sequence (the Llama-3 recipe;
    Kosec et al. 2021's "cross-contamination" masking) need
    ``(pack_id, tok_start, tok_end)`` per document, not just the pack
    assignment.

    ``tok_start`` = the doc's exclusive token prefix minus the pack's
    first prefix (one extra bounded window over ``(group, pack_id)``
    on the SAME partitioning the packing window already shuffled —
    no new corpus exchange); ``tok_end = tok_start + n_tokens``.
    GPT-style concat-and-chunk assigns a boundary-straddling doc to
    the pack where it STARTS, so the last doc's ``tok_end`` may
    exceed ``token_budget`` — the trainer's loader wraps it; the
    no-split guarantee lives in :func:`histogram_pack`."""
    wp = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_tok = (
        F.col(n_tokens_col)
        if n_tokens_col is not None
        else token_count_ws(F.col(text_col))
    ).cast("long")
    base = df.select(group_col, order_col, n_tok.alias("n_tokens"))
    pre = base.withColumn(
        "_prefix",
        F.coalesce(F.sum("n_tokens").over(wp), F.lit(0).cast("long")),
    ).withColumn(
        "pack_id", F.floor(F.col("_prefix") / token_budget).cast("long")
    )
    wmin = Window.partitionBy(group_col, "pack_id")
    return (
        pre.withColumn(
            "tok_start",
            (F.col("_prefix") - F.min("_prefix").over(wmin)).cast("long"),
        )
        .withColumn(
            "tok_end", (F.col("tok_start") + F.col("n_tokens")).cast("long")
        )
        .drop("_prefix")
    )


def pack_manifest_sql(
    table: str,
    token_budget: int = 256,
    group_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`pack_manifest` (exact long arithmetic
    end-to-end — no floats anywhere)."""
    from ..functions.textstats import WORDS_SQL

    toks = f"CAST(len({WORDS_SQL.format(c=text_col)}) AS BIGINT)"
    return f"""
WITH _pm_t AS (
  SELECT {group_col}, {order_col}, {toks} AS n_tokens FROM {table}
),
_pm_p AS (
  SELECT *, coalesce(sum(n_tokens) OVER (
              PARTITION BY {group_col} ORDER BY {order_col}
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0) AS prefix
  FROM _pm_t
),
_pm_q AS (
  SELECT *, CAST(floor(prefix / {token_budget}) AS BIGINT) AS pack_id
  FROM _pm_p
)
SELECT {group_col}, {order_col}, n_tokens, pack_id,
       CAST(prefix - min(prefix) OVER (
              PARTITION BY {group_col}, pack_id) AS BIGINT) AS tok_start,
       CAST(prefix - min(prefix) OVER (
              PARTITION BY {group_col}, pack_id)
            + n_tokens AS BIGINT) AS tok_end
FROM _pm_q
"""


def pack_sequences_sql(
    table: str,
    token_budget: int = 256,
    group_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    from ..functions.textstats import WORDS_SQL

    toks = f"CAST(len({WORDS_SQL.format(c=text_col)}) AS BIGINT)"
    return f"""
WITH t AS (
  SELECT {group_col}, {order_col}, {toks} AS n_tokens FROM {table}
)
SELECT {group_col}, {order_col}, n_tokens,
       CAST(floor(coalesce(sum(n_tokens) OVER (
              PARTITION BY {group_col} ORDER BY {order_col}
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {token_budget}) AS BIGINT) AS pack_id
FROM t
"""


# ---------------------------------------------------------------------------
# no-split histogram packing (NFD over the length histogram)


def _nfd_fold(hist: list[tuple[int, int]], budget: int) -> list[dict]:
    """Next-Fit-Decreasing solved on the LENGTH HISTOGRAM — the
    driver-side half of :func:`histogram_pack` (shared verbatim with
    its DuckDB twin, which runs the identical fold as a WITH RECURSIVE
    over the same ordered histogram).

    One closed-form state transition per distinct length (state =
    the open pack's id/remaining space + the next fresh pack id), so
    the solve costs O(#distinct lengths) ≤ budget regardless of corpus
    size — the histogram-packing insight of Kosec et al. 2021
    ("Efficient Sequence Packing without Cross-contamination",
    SPFHP §4.2): pack assignment needs only per-length slot ranges,
    never a per-document scan on the driver."""
    out: list[dict] = []
    open_id, open_rem, next_id = -1, 0, 0
    for ln, cnt in sorted(hist, key=lambda t: -t[0]):
        fit_open = min(cnt, open_rem // ln) if open_id >= 0 else 0
        open_rem -= fit_open * ln
        c2 = cnt - fit_open
        per_full = budget // ln
        n_new = -(-c2 // per_full) if c2 > 0 else 0
        first_new = next_id
        rec = {
            "len": ln,
            "prev_open_id": open_id if fit_open > 0 else -1,
            "fit_open": fit_open,
            "per_full": per_full,
            "first_new_id": first_new,
        }
        if c2 > 0:
            last_fill = c2 - (n_new - 1) * per_full
            open_id = first_new + n_new - 1
            open_rem = budget - last_fill * ln
            next_id += n_new
        out.append(rec)
    return out


def histogram_pack(
    df: DataFrame,
    token_budget: int = 256,
    order_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
    rank_buckets: int | None = None,
) -> DataFrame:
    """NO-SPLIT sequence packing: every document lands whole in
    exactly one pack and no pack exceeds ``token_budget`` — the
    packing family trainers use when examples must not
    cross-contaminate attention (Kosec et al. 2021), complementing
    :func:`pack_sequences`' GPT-style concat-and-chunk fill.

    Next-Fit-Decreasing, solved on the length HISTOGRAM: one
    map-side-combining ``groupBy(eff_len).count()`` (≤ budget rows —
    collected driver-side like the k-means centroids), a closed-form
    fold per distinct length (:func:`_nfd_fold`), then assignment is
    a broadcast join on eff_len + one rank window + integer math:
    rank r < fit_open rides the previously open pack, the rest go
    ``first_new_id + (r - fit_open) // per_full``. Documents longer
    than the budget are clamped to it (truncation is the chunking
    stage's concern); empty docs count as length 1.

    100-TB shape: the corpus shuffles ONCE, keyed by eff_len for the
    rank window. Common lengths are hot keys at extreme scale:
    ``rank_buckets=S`` switches to TWO-LEVEL ranking — rows salt into
    S deterministic hash buckets (portable word_code of the order
    key, so the oracle reproduces the exact assignment), per-(length,
    bucket) counts roll into prefix OFFSETS with one window over the
    (#lengths × S)-bounded counts table, and the global rank is
    ``offset + local row_number`` inside the (eff_len, bucket) window
    — the hot length now spreads over S reducers and no partition
    ever sees more than ~1/S of it. Same fold, same assignment
    formula; only the rank's total order changes (bucket-major
    instead of pure order_col)."""
    n_tok = (
        F.col(n_tokens_col)
        if n_tokens_col is not None
        else token_count_ws(F.col(text_col))
    ).cast("long")
    t = df.select(
        order_col,
        n_tok.alias("n_tokens"),
        F.greatest(
            F.lit(1).cast("long"),
            F.least(n_tok, F.lit(int(token_budget)).cast("long")),
        ).alias("eff_len"),
    )
    hist = [
        (r["eff_len"], r["cnt"])
        for r in t.groupBy("eff_len").agg(F.count("*").alias("cnt")).collect()
    ]
    slots = _nfd_fold(hist, token_budget)
    spark = df.sparkSession
    slot_df = local_frame(
        spark,
        [
            (
                s["len"],
                s["prev_open_id"],
                s["fit_open"],
                s["per_full"],
                s["first_new_id"],
            )
            for s in slots
        ],
        "eff_len long, prev_open_id long, fit_open long, "
        "per_full long, first_new_id long",
    )
    if rank_buckets is None:
        w = Window.partitionBy("eff_len").orderBy(order_col)
        ranked = t.withColumn(
            "r", (F.row_number().over(w) - 1).cast("long")
        )
    else:
        t = t.withColumn(
            "_rb",
            F.pmod(
                word_code(F.col(order_col).cast("string")),
                F.lit(int(rank_buckets)),
            ),
        )
        counts = t.groupBy("eff_len", "_rb").agg(
            F.count("*").alias("_cnt")
        )
        w_off = (
            Window.partitionBy("eff_len")
            .orderBy("_rb")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = counts.select(
            "eff_len",
            "_rb",
            F.coalesce(F.sum("_cnt").over(w_off), F.lit(0).cast("long"))
            .alias("_off"),
        )
        w_loc = Window.partitionBy("eff_len", "_rb").orderBy(order_col)
        ranked = (
            t.join(F.broadcast(offsets), ["eff_len", "_rb"])
            .withColumn(
                "r",
                (F.col("_off") + F.row_number().over(w_loc) - 1).cast(
                    "long"
                ),
            )
            .drop("_rb", "_off")
        )
    pack = F.when(F.col("r") < F.col("fit_open"), F.col("prev_open_id")).otherwise(
        F.col("first_new_id")
        + F.floor((F.col("r") - F.col("fit_open")) / F.col("per_full")).cast(
            "long"
        )
    )
    return ranked.join(F.broadcast(slot_df), "eff_len").select(
        order_col,
        "n_tokens",
        "eff_len",
        pack.cast("long").alias("pack_id"),
    )


def histogram_pack_sql(
    table: str,
    token_budget: int = 256,
    order_col: str = "doc_id",
    text_col: str = "text",
    rank_buckets: int | None = None,
) -> str:
    """DuckDB twin of :func:`histogram_pack`: the driver fold becomes
    a WITH RECURSIVE over the ordered histogram (≤ budget iterations,
    scalar state threaded through the recursive arm — the unrolled-
    loop precedent, but with real recursion since DuckDB has it),
    then the identical join + rank + integer assignment (two-level
    bucket-salted rank when ``rank_buckets`` is set, lock-step with
    the Spark side's portable word_code buckets)."""
    b = int(token_budget)
    from ..functions.textstats import WORDS_SQL, word_code_sql

    toks = f"CAST(len({WORDS_SQL.format(c=text_col)}) AS BIGINT)"
    if rank_buckets is None:
        ranked = f"""
  SELECT t.*, row_number() OVER (
           PARTITION BY eff_len ORDER BY {order_col}) - 1 AS r
  FROM t"""
    else:
        code = word_code_sql(f"CAST({order_col} AS VARCHAR)")
        ranked = f"""
  WITH tb AS (
    SELECT t.*, {code} % {int(rank_buckets)} AS rb FROM t
  ),
  offs AS (
    SELECT eff_len, rb,
           coalesce(CAST(sum(count(*)) OVER (
             PARTITION BY eff_len ORDER BY rb
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS BIGINT), 0) AS off
    FROM tb GROUP BY eff_len, rb
  )
  SELECT tb.* EXCLUDE (rb),
         off + row_number() OVER (
           PARTITION BY tb.eff_len, tb.rb ORDER BY {order_col}) - 1 AS r
  FROM tb JOIN offs ON offs.eff_len = tb.eff_len AND offs.rb = tb.rb"""
    return f"""
WITH RECURSIVE t AS MATERIALIZED (
  SELECT {order_col}, {toks} AS n_tokens,
         greatest(1, least({toks}, {b})) AS eff_len
  FROM {table}
),
hist AS MATERIALIZED (
  SELECT eff_len AS ln, count(*) AS cnt,
         row_number() OVER (ORDER BY eff_len DESC) AS i
  FROM t GROUP BY 1
),
fold AS (
  SELECT CAST(0 AS BIGINT) AS i, CAST(NULL AS BIGINT) AS ln,
         CAST(-1 AS BIGINT) AS prev_open_id,
         CAST(0 AS BIGINT) AS fit_open,
         CAST(1 AS BIGINT) AS per_full,
         CAST(0 AS BIGINT) AS first_new_id,
         CAST(-1 AS BIGINT) AS open_id,
         CAST(0 AS BIGINT) AS open_rem,
         CAST(0 AS BIGINT) AS next_id
  UNION ALL
  SELECT h.i, h.ln,
         CASE WHEN f.open_id >= 0
                   AND least(h.cnt, f.open_rem // h.ln) > 0
              THEN f.open_id ELSE -1 END,
         CASE WHEN f.open_id >= 0
              THEN least(h.cnt, f.open_rem // h.ln) ELSE 0 END,
         {b} // h.ln,
         f.next_id,
         CASE WHEN h.cnt - (CASE WHEN f.open_id >= 0
                 THEN least(h.cnt, f.open_rem // h.ln) ELSE 0 END) > 0
              THEN f.next_id
                   + CAST(ceil((h.cnt - (CASE WHEN f.open_id >= 0
                       THEN least(h.cnt, f.open_rem // h.ln) ELSE 0 END))
                       / CAST({b} // h.ln AS DOUBLE)) AS BIGINT) - 1
              ELSE f.open_id END,
         CASE WHEN h.cnt - (CASE WHEN f.open_id >= 0
                 THEN least(h.cnt, f.open_rem // h.ln) ELSE 0 END) > 0
              THEN {b} - ((h.cnt - (CASE WHEN f.open_id >= 0
                       THEN least(h.cnt, f.open_rem // h.ln) ELSE 0 END))
                   - (CAST(ceil((h.cnt - (CASE WHEN f.open_id >= 0
                       THEN least(h.cnt, f.open_rem // h.ln) ELSE 0 END))
                       / CAST({b} // h.ln AS DOUBLE)) AS BIGINT) - 1)
                     * ({b} // h.ln)) * h.ln
              ELSE f.open_rem - (CASE WHEN f.open_id >= 0
                 THEN least(h.cnt, f.open_rem // h.ln) ELSE 0 END) * h.ln END,
         CASE WHEN h.cnt - (CASE WHEN f.open_id >= 0
                 THEN least(h.cnt, f.open_rem // h.ln) ELSE 0 END) > 0
              THEN f.next_id
                   + CAST(ceil((h.cnt - (CASE WHEN f.open_id >= 0
                       THEN least(h.cnt, f.open_rem // h.ln) ELSE 0 END))
                       / CAST({b} // h.ln AS DOUBLE)) AS BIGINT)
              ELSE f.next_id END
  FROM fold f JOIN hist h ON h.i = f.i + 1
),
slots AS MATERIALIZED (
  SELECT ln AS eff_len, prev_open_id, fit_open, per_full, first_new_id
  FROM fold WHERE i > 0
),
ranked AS ({ranked}
)
SELECT {order_col}, n_tokens, eff_len,
       CAST(CASE WHEN r < fit_open THEN prev_open_id
            ELSE first_new_id + (r - fit_open) // per_full END
            AS BIGINT) AS pack_id
FROM ranked JOIN slots USING (eff_len)
"""


# ---------------------------------------------------------------------------
# deterministic global shuffle + shard assignment (training output)


def assign_shards(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    with_position: bool = True,
    epoch: int = 0,
) -> DataFrame:
    """Deterministic global shuffle + shard assignment — the final
    step of a training-data pipeline: examples must reach the trainer
    in pseudo-random order, split into a fixed number of shard files.

    ``shard = portable-hash(key) mod n_shards`` and the within-shard
    order key is the hash itself (ties → key): HASH ORDER *is* the
    random permutation, and unlike ``df.orderBy(rand())`` it is
    reproducible across engines (DuckDB oracle), across reruns, and
    across input repartitioning. ``epoch`` salts the hashed string
    (``key#eN``), yielding a fresh — equally deterministic —
    permutation per training epoch from the same input.

    100-TB shape: the shard id is map-side; ``shard_pos`` is one
    ``row_number`` window keyed on shard — the exact exchange + sort
    the shard writer (:func:`write_shards`) needs anyway, so the
    assignment adds ZERO shuffles to the write. Choose ``n_shards``
    ≫ executor count (real pipelines use thousands) so one shard
    never exceeds a task's memory.
    """
    keyed = (
        F.col(key_col).cast("string")
        if epoch == 0
        else F.concat(F.col(key_col).cast("string"), F.lit(f"#e{int(epoch)}"))
    )
    code = word_code(keyed)
    out = df.withColumn(
        "shard", F.pmod(code, F.lit(n_shards)).cast("int")
    ).withColumn("shuffle_key", code)
    if not with_position:
        return out
    w = Window.partitionBy("shard").orderBy("shuffle_key", key_col)
    return out.withColumn(
        "shard_pos", (F.row_number().over(w) - 1).cast("long")
    )


def assign_shards_sql(
    table: str, n_shards: int, key_col: str = "doc_id",
    cols: str = "*", epoch: int = 0,
) -> str:
    """DuckDB twin of :func:`assign_shards` (with_position=True)."""
    from ..functions.textstats import word_code_sql

    keyed = (
        f"CAST({key_col} AS VARCHAR)"
        if epoch == 0
        else f"CAST({key_col} AS VARCHAR) || '#e{int(epoch)}'"
    )
    code = word_code_sql(keyed)
    return f"""
WITH coded AS (
  SELECT {cols}, {code} AS shuffle_key,
         CAST({code} % {n_shards} AS INTEGER) AS shard
  FROM {table}
)
SELECT *, CAST(row_number() OVER (
            PARTITION BY shard ORDER BY shuffle_key, {key_col}
          ) - 1 AS BIGINT) AS shard_pos
FROM coded
"""


def write_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_col: str = "doc_id",
    order_cols: tuple[str, ...] = (),
    epoch: int = 0,
    fmt: str = "parquet",
) -> None:
    """Write the deterministically-shuffled corpus as one directory
    per shard (``shard=N/``), rows inside each file in shuffle order.

    One exchange: ``repartition(n_shards, shard)`` co-locates each
    shard, ``sortWithinPartitions`` realizes the permutation order,
    and the dynamic-partition write emits ``shard=`` directories —
    the same single-exchange shape as the fan-out router
    (operators/router.py). ``order_cols`` break ties when several
    rows share the shuffle key (e.g. all documents of one training
    pack sharded by pack key — the pack's internal order must stay
    deterministic too).

    ``fmt='jsonl'`` emits gzip'd JSON-lines instead of parquet — the
    format most training data-loaders stream — by folding each row
    into ``to_json(struct(<original columns>))`` after the sort (a
    projection, so the permutation order is untouched); the helper
    shuffle/shard columns stay out of the payload.

    The sort MUST lead with ``shard``: the dynamic-partition writer
    requires rows clustered by the partition column and inserts its
    own (unstable) sort when the incoming order doesn't satisfy it —
    which would scramble the permutation order inside each file.
    Leading with the partition column makes our sort satisfy the
    writer's requirement, so exactly this ordering reaches the files."""
    out = assign_shards(
        df, n_shards, key_col=key_col, with_position=False, epoch=epoch
    )
    sorted_out = out.repartition(n_shards, "shard").sortWithinPartitions(
        "shard", "shuffle_key", key_col, *order_cols
    )
    if fmt == "jsonl":
        (
            sorted_out.select(
                "shard",
                # keep NULL fields: the default omits them, giving
                # rows an inconsistent key set across a shard — a
                # fixed-schema trainer loader breaks on that
                F.to_json(
                    F.struct(*df.columns), {"ignoreNullFields": "false"}
                ).alias("value"),
            )
            .write.mode("overwrite")
            .partitionBy("shard")
            .option("compression", "gzip")
            .text(path)
        )
    elif fmt == "parquet":
        sorted_out.write.mode("overwrite").partitionBy("shard").parquet(path)
    else:
        raise ValueError(f"unsupported shard format: {fmt!r}")
