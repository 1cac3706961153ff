"""Deduplication operators for training-data pipelines.

The reference's only dedup surface is ES doc-id duplicate counting
(libbeat/outputs/elasticsearch/client.go:114,357); at 100 TB training
scale a real engine needs content dedup. Four tiers, cheapest first:

- exact        : normalize → hash-groupBy (one shuffle on the norm key)
- ngram_jaccard: word n-gram set similarity, PPJoin prefix-filtered at
                 every threshold (candidates must share a token in the
                 rarest-first prefix; hot shingles never join)
- minhash LSH  : k-perm signature → banded bucket join → verify.
                 The 100 TB path: candidate generation cost is
                 #docs × #bands, independent of pair count.
- simhash      : 32-bit sign-aggregated fingerprint; hamming-0 bucket
                 match plus banded ≤k-bit hamming matching

All hashing uses the portable md5-based word code
(functions/textstats.py) so every operator has a DuckDB oracle.
Scale notes: every operator shuffles on bounded-cardinality keys
(norm-hash, prefix shingle, band bucket) and all joins are equi-joins
AQE can re-plan; the Jaccard prefix is ordered by ascending document
frequency, so stopword-heavy hot shingles are excluded from candidate
generation rather than exploded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..plans.materialize import materialize as _materialize
from ..session import local_frame

from ..functions.textstats import (
    FP_MOD,
    WORDS_SQL,
    word_code,
    word_code_sql,
    words,
)

# ---------------------------------------------------------------------------
# normalization + exact dedup


def norm_text(c: Column) -> Column:
    """lower → trim → collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


NORM_SQL = "regexp_replace(lower(trim({c})), '\\s+', ' ', 'g')"


def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct normalized text,
    keeping the lowest id as canonical. At scale: group on
    xxhash64(norm) first so the shuffle key is fixed-width, then
    resolve rare hash collisions within groups — here SF is small so
    we group on the norm directly."""
    return (
        df.groupBy(norm_text(F.col(text_col)).alias("norm"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
        .select("canonical_id", "n_copies")
    )


def duplicated_spans(
    df: DataFrame,
    n: int = 8,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """Exact duplicated-SPAN detection — the substring-dedup modality
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": exact duplicate ≥50-token substrings across the
    corpus; ``n`` is the span length in whitespace tokens, small here
    for the synthetic corpus).  The suffix-array formulation is
    replaced by the shuffle-friendly fixed-window restatement: every
    n-token window of the normalized text is a span; a span appearing
    in ≥ ``min_df`` documents (per-document distinct) is duplicated.

    Per document, returns ``(doc_id, n_spans, n_dup_spans,
    dup_span_frac)`` — the removal policy (cut the spans, drop the
    doc, or threshold on the fraction) is the caller's, as in the
    paper's pipeline.  Documents shorter than ``n`` tokens carry no
    span and produce no row.

    100-TB shape: Σ(len-n+1) exploded span rows, one shuffle on the
    span for the document-frequency count, one join back on the same
    key, one groupBy on the doc id.  At real scale group on
    ``xxhash64(span)`` first so the shuffle key is fixed-width (the
    same refinement :func:`exact_dedup_groups` documents); SF is
    small here so the span text itself is the key, which keeps the
    DuckDB twin byte-identical.  The span table feeds both the
    frequency count and the join-back — materialized once
    (expression-reuse gotcha), disable with ``materialize=False`` on
    storage-constrained clusters.

    No reference-repo counterpart (training-data extension per the
    brief)."""
    toks = df.select(
        F.col(id_col), words(norm_text(F.col(text_col))).alias("_w")
    )
    if materialize:
        # the token array is referenced once per WINDOW by the slice
        # lambda below; CollapseProject inlines the regexp split into
        # every reference, turning one tokenization per doc into one
        # per window (measured 13× on sf0.1). Materialize the array
        # first, like minhash_signature's shingle table.
        toks = toks.transform(_materialize)
    # the window guard lives INSIDE the expression (when/otherwise,
    # like shingles()) — a row filter on size("_w") can be evaluated
    # after projection collapse in a join branch, letting sequence()
    # run descending into negatives and slice() see start 0
    spans = (
        toks.select(
            id_col,
            F.when(
                F.size("_w") >= n,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size("_w") - n),
                        lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i + 1, n)),
                    )
                ),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("_spans"),
        ).select(id_col, F.explode("_spans").alias("span"))
    )
    if materialize:
        spans = spans.transform(_materialize)
    dup = (
        spans.groupBy("span")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") >= min_df)
        .select("span", F.lit(1).alias("_dup"))
    )
    return (
        spans.join(dup, "span", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.count("_dup").alias("n_dup_spans"),
        )
        .select(
            id_col,
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6).alias(
                "dup_span_frac"
            ),
        )
    )


def duplicated_spans_sql(table: str, n: int = 8, min_df: int = 2) -> str:
    """DuckDB twin of :func:`duplicated_spans` (MATERIALIZED CTEs —
    an inlined span list would re-run regexp_split per element)."""
    w = WORDS_SQL.format(c=NORM_SQL.format(c="text"))
    return f"""
WITH dsp_toks AS MATERIALIZED (
  SELECT doc_id, {w} AS w FROM {table}
),
dsp_spans AS MATERIALIZED (
  SELECT t.doc_id, u.span
  FROM (
    SELECT doc_id,
           list_distinct(list_transform(range(0, len(w) - {n} + 1),
                         i -> array_to_string(w[i+1:i+{n}], ' '))) AS sp
    FROM dsp_toks WHERE len(w) >= {n}
  ) t, UNNEST(t.sp) AS u(span)
),
dsp_dup AS (
  SELECT span FROM dsp_spans GROUP BY span HAVING count(*) >= {min_df}
)
SELECT s.doc_id,
       count(*) AS n_spans,
       count(d.span) AS n_dup_spans,
       round(count(d.span) * 1.0 / count(*), 6) AS dup_span_frac
FROM dsp_spans s LEFT JOIN dsp_dup d ON s.span = d.span
GROUP BY s.doc_id
"""


# ---------------------------------------------------------------------------
# shingles


def shingles(c: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text."""
    w = words(norm_text(c))
    return F.array_distinct(
        F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - n),
                lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", w)))
    )


def shingles_sql(col_expr: str, n: int = 3) -> str:
    w = WORDS_SQL.format(c=NORM_SQL.format(c=col_expr))
    return f"""
    list_distinct(
      CASE WHEN len({w}) >= {n}
           THEN list_transform(range(1, len({w}) - {n} + 2),
                               i -> array_to_string(({w})[i:i+{n - 1}], ' '))
           ELSE [array_to_string({w}, ' ')] END)
    """


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (shingle-join blocked)


def _ranked_toks(sh: DataFrame) -> DataFrame:
    """(id, toks): each doc's shingles ordered by ascending global
    document frequency (shingle asc tie-break — identical across
    engines); shared by the Jaccard prefix filter and the containment
    probe/index frames."""
    ex = sh.select("id", F.explode("sh").alias("s"))
    dfreq = ex.groupBy("s").agg(F.count("*").alias("dfreq"))
    return (
        ex.join(dfreq, "s")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dfreq", "s"))),
                lambda x: x.s,
            ).alias("toks")
        )
    )


def _ppjoin_candidates(sh: DataFrame, threshold: float) -> DataFrame:
    """PPJoin-style candidate pairs (Xiao et al., WWW'08) from a
    ``(id, sh, sz)`` shingle-set frame.

    Order each doc's shingles by ascending document frequency (shingle
    asc tie-break — identical across engines); for Jaccard ≥ t two
    sets MUST share a token inside their first
    ``|s| - ceil(t·|s|) + 1`` tokens, so candidate generation only
    explodes that rarest-first prefix. A shingle shared by every doc
    (stopword trigram) sorts LAST and never enters any prefix once
    ``ceil(t·|s|) ≥ 2`` — the hot-key D² explosion disappears at any
    threshold. A length filter (``min_sz ≥ t · max_sz``, necessary for
    Jaccard ≥ t) prunes the survivors before dedup.

    POSITIONAL filtering (the "PP" in PPJoin) prunes further: tokens
    are ordered by the same global rank in every doc, so for a shared
    token at 0-based positions (p_a, p_b) the intersection is at most
    ``min(p_a, p_b) + min(sz_a - p_a, sz_b - p_b)`` (everything before
    it in the shorter prefix + everything from it on in the shorter
    suffix). Jaccard ≥ t needs overlap ≥ ceil(t/(1+t)·(sz_a+sz_b));
    occurrences whose bound can't reach that are dropped BEFORE the
    distinct and the exact-verify join. Measured honestly: on the
    uniform synthetic corpus the cut is ~0% (globally consistent
    ordering puts a shared token at SIMILAR relative positions in both
    docs, so the bound evaluates near the full size) — the filter's
    value is on position-asymmetric pairs (a token rare-ranked in one
    doc, deep-ranked in the other: e.g. length-skewed or
    domain-mixed corpora), where it is the standard defense, at the
    cost of one int carried through the prefix explode."""
    ordered = _ranked_toks(sh)
    # prefix length |s| - ceil(t*|s|) + 1 (valid for any t in (0, 1]);
    # sz is recovered as size(toks) here rather than threaded through
    # the explode/groupBy chain (measured ~30% slower when carried)
    pref = ordered.select(
        "id",
        F.size("toks").alias("sz"),
        F.slice(
            "toks",
            1,
            (F.size("toks") - F.ceil(F.size("toks") * F.lit(threshold)) + 1).cast(
                "int"
            ),
        ).alias("prefix"),
    )
    pex = pref.select("id", "sz", F.posexplode("prefix").alias("p", "s"))
    # minimum intersection size equivalent to Jaccard >= t; the 1e-9
    # slack keeps double rounding from ceil-ing past an exact integer
    # boundary and wrongly pruning a boundary pair (the bound only
    # loosens, never tightens)
    min_overlap = F.ceil(
        (F.col("a.sz") + F.col("b.sz")) * F.lit(threshold / (1.0 + threshold))
        - F.lit(1e-9)
    )
    ubound = F.least("a.p", "b.p") + F.least(
        F.col("a.sz") - F.col("a.p"), F.col("b.sz") - F.col("b.p")
    )
    return (
        pex.alias("a")
        .join(pex.alias("b"), "s")
        .where(
            (F.col("a.id") < F.col("b.id"))
            & (
                F.least("a.sz", "b.sz")
                >= F.ceil(F.greatest("a.sz", "b.sz") * F.lit(threshold))
            )
            & (ubound >= min_overlap)
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """EXACT pairs (id_a < id_b) with shingle-set Jaccard ≥ threshold.

    One physical strategy at every threshold: PPJoin prefix filtering
    (see :func:`_ppjoin_candidates`) followed by exact verification of
    the true Jaccard over the full sets. The prefix grows as t falls
    (``|s| - ceil(t·|s|) + 1``) but remains rarest-first, so the
    hottest shingles never generate candidates — the former blocked
    self-join alternative was quadratic in a hot shingle's document
    frequency and was removed (r1 verdict: classic hot-key blowup at
    100 TB; AQE can split the skewed partition but cannot shrink the
    candidate count)."""
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh")
    ).withColumn("sz", F.size("sh"))
    if materialize:
        # the shingle table is consumed FOUR times (dfreq, ordered,
        # and both verify sides) — tokenize once instead of four
        # times. At very large scale where executor storage is the
        # constraint, pass materialize=False to trade recompute for
        # storage.
        sh = sh.transform(_materialize)

    cand = _ppjoin_candidates(sh, threshold)

    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
                     F.col("sz").alias("sz_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                     F.col("sz").alias("sz_b"))
    verified = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.col("sz_a") + F.col("sz_b") - inter)
    return (
        verified.withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _ngram_jaccard_allpairs(
    df: DataFrame, threshold: float, n: int, text_col: str, id_col: str
) -> DataFrame:
    """TEST-ONLY exact reference: shingle-join all-pairs counting.
    Quadratic in a hot shingle's document frequency — never dispatched
    by :func:`ngram_jaccard_pairs`; kept as the independent
    implementation the parity test cross-checks PPJoin against."""
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh")
    ).withColumn("sz", F.size("sh"))
    ex = sh.select("id", "sz", F.explode("sh").alias("s"))
    pairs = (
        ex.alias("a")
        .join(ex.alias("b"), on="s")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_sql(
    table: str, threshold: float, n: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
) -> str:
    sh = shingles_sql(text_col, n)
    return f"""
WITH sh AS (
  SELECT {id_col} AS id, {sh} AS sh FROM {table}
),
ex AS (
  SELECT id, len(sh) AS sz, unnest(sh) AS s FROM sh
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
         count(*) AS inter
  FROM ex a JOIN ex b USING (s)
  WHERE a.id < b.id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(inter / (sz_a + sz_b - inter)::DOUBLE, 6) AS jaccard
FROM pairs
WHERE round(inter / (sz_a + sz_b - inter)::DOUBLE, 6) >= {threshold}
"""


def _containment_candidates(sh: DataFrame, threshold: float) -> DataFrame:
    """Candidate (id_a < id_b) pairs for max-containment ≥ t.

    Containment C(A→B) = |A∩B|/|A| bounds only the PROBING side: if
    C ≥ t, A must share a token inside its first
    ``|A| − ceil(t·|A|) + 1`` rarest-ordered tokens (same pigeonhole
    as the Jaccard prefix), but B contributes no length constraint —
    so the probe explodes A's prefix while the INDEX side explodes
    every token. Hot-shingle safety still holds: stopword shingles
    sort last and never enter any probe prefix (once ceil(t·|A|) ≥ 2),
    so the join key distribution is rare shingles only; the index
    side's hot rows simply never match. The positional bound
    ``min(p_a,p_b) + min(sz_a−p_a, sz_b−p_b) ≥ ceil(t·sz_a)`` prunes
    occurrences before the distinct (PPJoin's bound with the
    containment minimum on the probing size)."""
    ordered = _ranked_toks(sh)
    pref = ordered.select(
        "id",
        F.size("toks").alias("sz"),
        F.slice(
            "toks",
            1,
            (
                F.size("toks")
                - F.ceil(F.size("toks") * F.lit(threshold))
                + 1
            ).cast("int"),
        ).alias("prefix"),
    )
    probe = pref.select("id", "sz", F.posexplode("prefix").alias("p", "s"))
    index = ordered.select(
        "id", F.size("toks").alias("sz"), F.posexplode("toks").alias("p", "s")
    )
    min_overlap = F.ceil(F.col("a.sz") * F.lit(threshold) - F.lit(1e-9))
    ubound = F.least("a.p", "b.p") + F.least(
        F.col("a.sz") - F.col("a.p"), F.col("b.sz") - F.col("b.p")
    )
    return (
        probe.alias("a")
        .join(index.alias("b"), "s")
        .where((F.col("a.id") != F.col("b.id")) & (ubound >= min_overlap))
        .select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
        )
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """EXACT pairs (id_a < id_b) whose shingle-set CONTAINMENT
    ``max(|A∩B|/|A|, |A∩B|/|B|)`` ≥ threshold — Broder 1997's
    asymmetric resemblance. The case symmetric Jaccard structurally
    misses: a short document embedded verbatim in a much longer one
    has containment ≈ 1 from the short side while
    ``J ≤ |A|/|B| → 0`` as the size skew grows (quote farms,
    boilerplate wrappers, page-in-page scrapes).

    Same physical strategy as :func:`ngram_jaccard_pairs` — prefix
    candidates (:func:`_containment_candidates`, probing prefix vs
    full index since containment has no length filter), exact verify
    over the full sets. Returns (id_a, id_b, containment_ab,
    containment_ba) with containment_ab = inter/|A|, rounded 6 dp."""
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh")
    ).withColumn("sz", F.size("sh"))
    if materialize:
        sh = sh.transform(_materialize)
    cand = _containment_candidates(sh, threshold)
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
                     F.col("sz").alias("sz_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                     F.col("sz").alias("sz_b"))
    verified = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        verified.withColumn("_i", inter)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("_i") / F.col("sz_a"), 6).alias("containment_ab"),
            F.round(F.col("_i") / F.col("sz_b"), 6).alias("containment_ba"),
        )
        .where(
            F.greatest("containment_ab", "containment_ba")
            >= F.lit(threshold)
        )
    )


def containment_pairs_sql(
    table: str, threshold: float, n: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`containment_pairs` (exact all-pairs at
    oracle scale — the Spark prefix filter is lossless, so the twin
    skips it)."""
    sh = shingles_sql(text_col, n)
    return f"""
WITH _ct_sh AS MATERIALIZED (
  SELECT {id_col} AS id, {sh} AS sh FROM {table}
),
_ct_ex AS MATERIALIZED (
  SELECT id, len(sh) AS sz, unnest(sh) AS s FROM _ct_sh
),
_ct_pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
         count(*) AS inter
  FROM _ct_ex a JOIN _ct_ex b USING (s)
  WHERE a.id < b.id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(inter / sz_a::DOUBLE, 6) AS containment_ab,
       round(inter / sz_b::DOUBLE, 6) AS containment_ba
FROM _ct_pairs
WHERE greatest(round(inter / sz_a::DOUBLE, 6),
               round(inter / sz_b::DOUBLE, 6)) >= {threshold}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH

MINHASH_K = 8
LSH_ROWS_PER_BAND = 2  # 8 hashes → 4 bands


def minhash_signature(
    df: DataFrame, k: int = MINHASH_K, n: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """k-hash minhash signature, one column per hash (mh0..mh{k-1}).

    Two-hash scheme (Kirsch–Mitzenmacher): ONE md5 per shingle, split
    into two 32-bit halves (c1, c2); derived hash i is
    ``(c1 + i*c2) mod (2^31 - 1)`` and the signature is the per-hash
    min over the shingle set. This costs 1 digest per shingle instead
    of k, and the shingle/digest arrays are materialized in separate
    projections so codegen computes them once per row — inlining them
    into every signature column multiplies the regex+md5 work by k.
    All array expressions — no explode, no Python."""
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh")
    )
    return _signature_from_sh(sh, k)


def _signature_from_sh(sh: DataFrame, k: int) -> DataFrame:
    """Signature columns from an ``(id, sh)`` shingle frame (shared by
    the standalone signature op and the LSH pipeline, which
    materializes ``sh`` once for signature + verify)."""
    hx = sh.select("id", F.transform("sh", F.md5).alias("hx"))
    cs = hx.select(
        "id",
        F.transform(
            "hx", lambda x: F.conv(F.substring(x, 1, 8), 16, 10).cast("long")
        ).alias("c1"),
        F.transform(
            "hx", lambda x: F.conv(F.substring(x, 9, 8), 16, 10).cast("long")
        ).alias("c2"),
    )
    mins = [
        F.array_min(
            F.zip_with(
                "c1", "c2", _affine(i)
            )
        ).alias(f"mh{i}")
        for i in range(k)
    ]
    return cs.select("id", *mins)


def _affine(i: int):
    # binary on purpose — zip_with dispatches on lambda arity
    return lambda a, b: (a + F.lit(i) * b) % F.lit(FP_MOD)


def _signature_ctes(
    table: str, k: int, n: int, text_col: str, id_col: str
) -> str:
    """DuckDB CTE chain shv → hx → cs → sig mirroring
    :func:`minhash_signature` (lock-step)."""
    sh = shingles_sql(text_col, n)
    mins = ",\n  ".join(
        f"list_min(list_transform(list_zip(c1, c2),"
        f" p -> (p[1] + {i} * p[2]) % {FP_MOD})) AS mh{i}"
        for i in range(k)
    )
    return f"""
shv AS (SELECT {id_col} AS id, {sh} AS sh FROM {table}),
hx AS (SELECT id, list_transform(sh, s -> md5(s)) AS hx FROM shv),
cs AS (SELECT id,
         list_transform(hx, x -> ('0x' || substr(x, 1, 8))::BIGINT) AS c1,
         list_transform(hx, x -> ('0x' || substr(x, 9, 8))::BIGINT) AS c2
       FROM hx),
sig AS (SELECT id, {mins} FROM cs)
"""


def minhash_signature_sql(
    table: str, k: int = MINHASH_K, n: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
) -> str:
    return f"""
WITH {_signature_ctes(table, k, n, text_col, id_col)}
SELECT * FROM sig
"""


def with_band_keys(
    df: DataFrame,
    text: Column,
    out_col: str = "_band_keys",
    k: int = MINHASH_K,
    rows_per_band: int = LSH_ROWS_PER_BAND,
    n: int = 3,
) -> DataFrame:
    """``df`` plus an ``array<string>`` of LSH band keys per row — the
    MAP-SIDE form of :func:`minhash_lsh_pairs`' band table (same
    two-hash minhash scheme, same ``mh.._mh..`` key encoding with the
    band index folded in), for membership-style near-dup against an
    admitted-set Bloom filter where the band table itself must never
    materialize. Intermediate arrays (shingles, digests, c1/c2) are
    staged through separate projections (CLAUDE.md expression-reuse
    gotcha: inlining them into every signature column multiplies the
    regex+md5 work by k). A shingle-less document (shorter than the
    window) gets an EMPTY key array — no bands, never a candidate."""
    staged = (
        df.select("*", shingles(text, n).alias("_mh_sh"))
        .select(
            "*", F.transform("_mh_sh", F.md5).alias("_mh_hx")
        )
        .select(
            "*",
            F.transform(
                "_mh_hx",
                lambda x: F.conv(F.substring(x, 1, 8), 16, 10).cast("long"),
            ).alias("_mh_c1"),
            F.transform(
                "_mh_hx",
                lambda x: F.conv(F.substring(x, 9, 8), 16, 10).cast("long"),
            ).alias("_mh_c2"),
        )
    )
    staged = staged.select(
        "*",
        *[
            F.array_min(F.zip_with("_mh_c1", "_mh_c2", _affine(i))).alias(
                f"_mh{i}"
            )
            for i in range(k)
        ],
    )
    n_bands = k // rows_per_band
    keys = F.when(F.size("_mh_sh") == 0, F.array().cast("array<string>")).otherwise(
        F.array(
            *[
                F.concat_ws(
                    "_",
                    F.lit(b),
                    *[
                        F.col(f"_mh{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                )
                for b in range(n_bands)
            ]
        )
    )
    return staged.withColumn(out_col, keys).drop(
        "_mh_sh", "_mh_hx", "_mh_c1", "_mh_c2",
        *[f"_mh{i}" for i in range(k)],
    )


def explode_band_keys(
    df: DataFrame, out_col: str = "bk", keys_col: str = "_band_keys"
) -> DataFrame:
    """``F.explode`` of a :func:`with_band_keys` array that does NOT
    re-run the minhash chain at the scan.

    A plain ``explode`` lets ``InferFiltersFromGenerate`` add
    ``size(keys) > 0`` below the Generate; predicate pushdown then
    substitutes every staged alias and lands the ENTIRE
    shingles→md5→signature expression in the scan's DataFilters,
    where it is evaluated once per row on top of the projection's own
    evaluation — a measured 20x slowdown (97 s → 4.9 s at sf0.1).
    ``explode_outer`` is exempt from the inferred filter; the
    null-filter on the GENERATED attribute cannot be pushed below the
    Generate, so empty-array rows are still dropped with identical
    semantics. Same class as the dissect-filter-pushdown gotcha
    (CLAUDE.md), new costume."""
    return (
        df.select("*", F.explode_outer(keys_col).alias(out_col))
        .where(F.col(out_col).isNotNull())
        .drop(keys_col)
    )


LSH_BUCKET_CAP = 256  # anchors per (band, key) bucket — see below


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    k: int = MINHASH_K,
    rows_per_band: int = LSH_ROWS_PER_BAND,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Banded-LSH candidate pairs verified by true shingle Jaccard.

    Scale path: signatures are fixed-width, band keys have bounded
    fanout, and the verify join touches only candidate pairs. The
    band bucket join is the 100 TB-safe replacement for the
    all-pairs shingle join.

    Hot-bucket guard (``bucket_cap``): a degenerate band bucket of B
    near-identical documents (templated/boilerplate spam — common at
    crawl scale; exact dedup upstream removes only byte-identical
    docs) would emit B²/2 candidate rows from a bare self-join —
    quadratic OUTPUT no AQE skew split can shrink. Instead the left
    side of the candidate join is restricted to each bucket's first
    ``bucket_cap`` members by id (``row_number`` within the bucket),
    so a B-doc bucket emits O(B·cap) candidates. Buckets at or under
    the cap produce the IDENTICAL full pair set (every member is an
    anchor); oversized buckets keep duplicate-cluster connectivity —
    every member still pairs with the bucket's minimum-id anchor, so
    :func:`connected_components` groups the cluster exactly as
    before — and only drop non-anchor×non-anchor candidate edges,
    which are redundant for dedup. Same bounded-candidate contract
    as the PPJoin prefix filter."""
    # one tokenization: the shingle table feeds BOTH the signature
    # chain and the verify join
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh")
    ).transform(_materialize)
    sig = _signature_from_sh(sh, k)
    n_bands = k // rows_per_band
    bands = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"mh{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # anchors: first bucket_cap members of each (band, key) bucket by
    # id — one sort-based window over the band table (spills, never
    # collects); the anchor×member join reuses the (band, key)
    # partitioning the window installed.
    wb = Window.partitionBy("band", "key").orderBy("id")
    anchors = (
        bands.withColumn("_rk", F.row_number().over(wb))
        .where(F.col("_rk") <= bucket_cap)
        .drop("_rk")
    )
    cand = (
        anchors.alias("a")
        .join(bands.alias("b"), on=["band", "key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    joined = (
        cand.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        joined.withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs_sql(
    table: str,
    threshold: float = 0.6,
    k: int = MINHASH_K,
    rows_per_band: int = LSH_ROWS_PER_BAND,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = LSH_BUCKET_CAP,
) -> str:
    """DuckDB twin — identical hot-bucket anchor rule (row_number
    within (band, key) by id, left join side capped), so both engines
    emit the same candidate set even past the cap."""
    n_bands = k // rows_per_band
    band_rows = ", ".join(
        "({b}, {key})".format(
            b=b,
            key="||'_'||".join(
                f"mh{b * rows_per_band + r}::VARCHAR" for r in range(rows_per_band)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
WITH {_signature_ctes(table, k, n, text_col, id_col)},
bands AS (
  SELECT id, bk[1]::INTEGER AS band, bk[2] AS key
  FROM sig, unnest([{band_rows}]) AS t(bk)
),
anchors AS (
  SELECT id, band, key FROM (
    SELECT id, band, key,
           row_number() OVER (PARTITION BY band, key ORDER BY id) AS rk
    FROM bands
  ) WHERE rk <= {bucket_cap}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM anchors a JOIN bands b USING (band, key)
  WHERE a.id < b.id
),
verified AS (
  SELECT id_a, id_b,
         len(list_intersect(sa.sh, sb.sh)) AS inter,
         len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS uni
  FROM cand
  JOIN shv sa ON sa.id = cand.id_a
  JOIN shv sb ON sb.id = cand.id_b
)
SELECT id_a, id_b, round(inter / uni::DOUBLE, 6) AS jaccard
FROM verified
WHERE round(inter / uni::DOUBLE, 6) >= {threshold}
"""


# ---------------------------------------------------------------------------
# connected components over near-dup pairs


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate CLUSTERS from a pair list: the transitive closure of
    (id_a, id_b) edges, labeling every vertex with the minimum id
    reachable from it (the canonical document a dedup pipeline keeps).

    Min-label propagation WITH POINTER DOUBLING: each round every
    vertex takes the min of (its own label, its neighbors' labels,
    its label's label). The shortcut term halves remaining path
    lengths each round, so convergence is O(log diameter) instead of
    O(diameter) — a duplicate CHAIN of any realistic length (ADVICE
    r2: near-dup graphs grow long chains) converges in a handful of
    rounds where plain one-hop propagation would exhaust ``max_iter``
    (25 rounds now covers diameter ≈ 2^25). Each round is two joins +
    one groupBy on the vertex id — the standard scalable shape
    (Kiveris et al. "Connected Components in MapReduce", SoCC'14:
    large-star/small-star are exactly this min-label + shortcut loop).
    The shortcut preserves the invariant label(v) ∼ v because the
    symmetrized edge set makes reachability transitive. The
    convergence check is a driver-side count on a boolean aggregate,
    not a collect of data.

    Returns (id, component_id, component_size) for EVERY vertex;
    singletons are their own component.
    """
    e = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    # materialize the edge list ONCE — pairs is usually the tail of an
    # expensive pipeline (LSH banding + verify), and without this every
    # propagation round re-executes all of it
    edges = (
        e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .transform(_materialize)
    )
    comp = vertices.select(
        F.col(id_col).alias("v"), F.col(id_col).alias("comp")
    )
    # materialize the starting labels so each round's plan contains
    # ONE round, not the whole history (without this the lineage —
    # and Catalyst analysis time — grows exponentially with rounds)
    comp = comp.transform(_materialize)
    for _ in range(max_iter):
        nbr_min = (
            edges.join(comp, edges.src == comp.v)
            .select(F.col("dst").alias("v"), "comp")
        )
        # pointer doubling: v also adopts label(label(v)) — every
        # label IS a vertex id, so the lookup is a self-join on the
        # same key the groupBy shuffles anyway
        shortcut = (
            comp.alias("a")
            .join(comp.alias("b"), F.col("a.comp") == F.col("b.v"))
            .select(F.col("a.v").alias("v"), F.col("b.comp").alias("comp"))
        )
        new = (
            comp.union(nbr_min)
            .union(shortcut)
            .groupBy("v")
            .agg(F.min("comp").alias("comp"))
        ).transform(_materialize)
        # one cheap fixpoint probe per round (count of changed labels)
        changed = (
            new.alias("n")
            .join(comp.alias("o"), "v")
            .where(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        comp = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    sizes = comp.groupBy("comp").agg(F.count("*").alias("component_size"))
    return comp.join(sizes, "comp").select(
        F.col("v").alias(id_col),
        F.col("comp").alias("component_id"),
        "component_size",
    )


def connected_components_sql(
    pairs_sql: str, table: str, id_col: str = "doc_id"
) -> str:
    """DuckDB oracle for :func:`connected_components`: recursive
    transitive closure (fine at oracle scale), component = min
    reachable id."""
    return f"""
WITH RECURSIVE base AS ({pairs_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM base
  UNION
  SELECT id_b AS src, id_a AS dst FROM base
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
labeled AS (
  SELECT t.{id_col} AS id,
         least(t.{id_col}, coalesce(min(r.dst), t.{id_col}))
           AS component_id
  FROM {table} t LEFT JOIN reach r ON r.src = t.{id_col}
  GROUP BY t.{id_col}
)
SELECT id AS {id_col}, component_id,
       count(*) OVER (PARTITION BY component_id) AS component_size
FROM labeled
"""

def select_representatives(
    components: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    quality: Column | None = None,
) -> DataFrame:
    """Pick the document each near-dup cluster KEEPS: highest quality
    wins, ties break to the minimum id (deterministic). This is the
    keep-best policy of Dolma/FineWeb-style dedup — keep-first is the
    special case of a constant quality. Default quality = whitespace
    token count (keep the longest duplicate), any deterministic Column
    over ``docs`` substitutes.

    Input ``components`` is :func:`connected_components` output; the
    result adds ``rep_id`` (the kept doc) and ``is_representative``
    per row. 100-TB shape: one join on the doc id + one window keyed
    on ``component_id`` — the same key the component sizes already
    grouped on; quality is map-side."""
    from ..functions.textstats import token_count_ws

    q = (quality if quality is not None else token_count_ws(F.col("text"))).cast(
        "long"
    )
    qdf = docs.select(F.col(id_col), q.alias("_quality"))
    j = components.join(qdf, id_col)
    w = Window.partitionBy("component_id").orderBy(
        F.col("_quality").desc(), F.col(id_col)
    )
    rep = F.first(F.col(id_col)).over(w)
    return j.withColumn("rep_id", rep).withColumn(
        "is_representative", F.col(id_col) == F.col("rep_id")
    ).drop("_quality")


def select_representatives_sql(
    components_sql: str, table: str, id_col: str = "doc_id",
    quality_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`select_representatives` over the
    :func:`connected_components_sql` labeled output."""
    from ..functions.textstats import WORDS_SQL

    q = quality_sql or f"CAST(len({WORDS_SQL.format(c='text')}) AS BIGINT)"
    return f"""
WITH cc AS ({components_sql}),
q AS (SELECT {id_col} AS qid, {q} AS _quality FROM {table})
SELECT {id_col}, component_id, component_size,
       first_value({id_col}) OVER (
         PARTITION BY component_id
         ORDER BY _quality DESC, {id_col}
       ) AS rep_id,
       {id_col} = first_value({id_col}) OVER (
         PARTITION BY component_id
         ORDER BY _quality DESC, {id_col}
       ) AS is_representative
FROM cc JOIN q ON q.qid = cc.{id_col}
"""


SIMHASH_BITS = 32


def _simhash_from_codes(codes: Column, bits: int) -> Column:
    """Sign-aggregated simhash over an array of word codes: bit b is
    set iff sum over codes of (+1 if bit b set else -1) > 0."""
    out = F.lit(0).cast("long")

    def bit_vote(b: int):
        # keep the merge lambda binary (acc, x) — extra default args
        # change the arity PySpark dispatches on
        return lambda acc, x: acc + F.when(
            F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    for b in range(bits):
        vote = F.aggregate(codes, F.lit(0).cast("long"), bit_vote(b))
        out = out + F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return out


def simhash(c: Column, bits: int = SIMHASH_BITS) -> Column:
    """Scalar simhash over distinct whitespace tokens of the
    normalized text. NB: the token-code expression is inlined into
    every bit vote — prefer :func:`simhash_df`, which materializes the
    codes once, for anything bigger than a test fixture."""
    codes = F.transform(F.array_distinct(words(norm_text(c))), word_code)
    return _simhash_from_codes(codes, bits)


def simhash_df(
    df: DataFrame, bits: int = SIMHASH_BITS,
    text_col: str = "text", id_col: str = "doc_id",
    out_col: str = "simhash32",
) -> DataFrame:
    """DataFrame-level simhash with the token-code array materialized
    in its own projection — the scalar :func:`simhash` inlines the
    tokenize+md5 work into every one of the ``bits`` vote expressions,
    multiplying it 32×."""
    codes = df.select(
        F.col(id_col),
        F.transform(
            F.array_distinct(words(norm_text(F.col(text_col)))), word_code
        ).alias("_codes"),
    )
    return codes.select(
        F.col(id_col),
        _simhash_from_codes(F.col("_codes"), bits).alias(out_col),
    )


def simhash_hamming_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Pairs within hamming distance ``max_hamming`` of each other's
    simhash — the ≤k-bit matching the r1 hamming-0 grouping promised.

    Standard banding trick: split the ``bits``-bit fingerprint into
    ``n_bands`` equal bands; by pigeonhole any pair differing in at
    most ``n_bands - 1`` bits agrees exactly on ≥ 1 band, so an
    equi-join on (band, band_value) generates every candidate
    (requires ``max_hamming < n_bands``). Verification is
    ``bit_count(xor)`` on the full fingerprints. At 100 TB: candidate
    cost is #docs × n_bands exploded rows joined on bounded-width
    keys — never all-pairs, same shape as minhash LSH banding."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"banded matching needs max_hamming < n_bands "
            f"({max_hamming} >= {n_bands})"
        )
    if bits % n_bands:
        raise ValueError("bits must divide evenly into bands")
    width = bits // n_bands
    mask = (1 << width) - 1
    # fingerprint table is tiny (id + one long) and consumed three
    # times (banding + both verify sides) — compute the 32 bit-votes
    # once
    sh = (
        simhash_df(df, bits, text_col, id_col, out_col="fp")
        .select(F.col(id_col).alias("id"), "fp")
        .transform(_materialize)
    )
    bands = sh.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("fp", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # same hot-bucket anchor rule as minhash_lsh_pairs: identical
    # boilerplate docs share every band key, and a bare self-join
    # would emit B^2/2 candidates from one bucket.
    wb = Window.partitionBy("band", "key").orderBy("id")
    anchors = (
        bands.withColumn("_rk", F.row_number().over(wb))
        .where(F.col("_rk") <= bucket_cap)
        .drop("_rk")
    )
    cand = (
        anchors.alias("a")
        .join(bands.alias("b"), on=["band", "key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    fa = sh.select(F.col("id").alias("id_a"), F.col("fp").alias("fp_a"))
    fb = sh.select(F.col("id").alias("id_b"), F.col("fp").alias("fp_b"))
    verified = cand.join(fa, "id_a").join(fb, "id_b")
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long")
    return (
        verified.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_hamming_pairs_sql(
    table: str,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = LSH_BUCKET_CAP,
) -> str:
    """DuckDB twin of :func:`simhash_hamming_pairs` (lock-step,
    including the hot-bucket anchor rule)."""
    width = bits // n_bands
    mask = (1 << width) - 1
    fp = simhash_sql(text_col, bits)
    band_list = ",".join(str(b) for b in range(n_bands))
    return f"""
WITH sh AS (
  SELECT {id_col} AS id, {fp} AS fp FROM {table}
),
bands AS (
  SELECT id, b AS band, (fp >> (b * {width})) & {mask} AS key
  FROM sh, unnest([{band_list}]) AS t(b)
),
anchors AS (
  SELECT id, band, key FROM (
    SELECT id, band, key,
           row_number() OVER (PARTITION BY band, key ORDER BY id) AS rk
    FROM bands
  ) WHERE rk <= {bucket_cap}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b2.id AS id_b
  FROM anchors a JOIN bands b2 USING (band, key)
  WHERE a.id < b2.id
),
verified AS (
  SELECT id_a, id_b,
         CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS hamming
  FROM cand
  JOIN sh fa ON fa.id = cand.id_a
  JOIN sh fb ON fb.id = cand.id_b
)
SELECT id_a, id_b, hamming FROM verified WHERE hamming <= {max_hamming}
"""


def simhash_sql(col_expr: str, bits: int = SIMHASH_BITS) -> str:
    toks = f"list_distinct({WORDS_SQL.format(c=NORM_SQL.format(c=col_expr))})"
    codes = f"list_transform({toks}, t -> {word_code_sql('t')})"
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(codes, x -> "
        f"CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << b}::BIGINT ELSE 0 END)"
        for b in range(bits)
    )
    return f"(SELECT {terms} FROM (SELECT {codes} AS codes) _sh)"


# ---------------------------------------------------------------------------
# paragraph-level dedup (Dolma-style)


#: paragraph boundary — one or more newlines (same pattern text on
#: both engines)
PARA_SPLIT_RE = "\\n+"


def _paragraphs(
    df: DataFrame, text_col: str, id_col: str,
    split_re: str = PARA_SPLIT_RE,
) -> DataFrame:
    """(doc_id, pos, para): trimmed non-empty split segments, pos =
    position AMONG KEPT segments (relative order is all the
    reassembly needs, and it matches the SQL twin's filtered
    ordering). ``split_re`` picks the granularity: newline runs =
    paragraphs (default), ``SENT_SPLIT_RE`` = sentences."""
    ps = F.filter(
        F.transform(
            F.split(F.col(text_col), split_re), lambda p: F.trim(p)
        ),
        lambda p: p != F.lit(""),
    )
    return df.select(
        F.col(id_col), F.posexplode(ps).alias("pos", "para")
    )


def paragraph_stats(
    df: DataFrame,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    split_re: str = PARA_SPLIT_RE,
) -> DataFrame:
    """Paragraph-level duplication stats — the Dolma pipeline's
    paragraph dedup granularity (Soldaini et al. 2024, "Dolma": exact
    paragraph dedup between document-level and substring-level): a
    paragraph (trimmed newline-separated segment) is DUPLICATED when
    it appears in ≥ ``min_df`` distinct documents.

    Returns (doc_id, n_paras, n_dup_paras, dup_para_frac); documents
    with no non-empty paragraph emit no row.

    100-TB shape: one explode, one shuffle on the paragraph for the
    document-frequency count, one join back on the same key, one
    groupBy on the doc id — the duplicated_spans plan at paragraph
    granularity (group on a fixed-width hash of the paragraph at real
    scale, as exact_dedup_groups documents). ``split_re`` generalizes
    the granularity — :func:`sentence_stats` passes the sentence
    splitter (the CCNet dedup unit)."""
    paras = _paragraphs(df, text_col, id_col, split_re)
    dup = (
        paras.groupBy("para")
        .agg(F.countDistinct(id_col).alias("_df"))
        .where(F.col("_df") >= min_df)
        .select("para", F.lit(1).alias("_dup"))
    )
    return (
        paras.join(dup, "para", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_paras"),
            F.count("_dup").alias("n_dup_paras"),
        )
        .select(
            id_col,
            "n_paras",
            "n_dup_paras",
            F.round(F.col("n_dup_paras") / F.col("n_paras"), 6).alias(
                "dup_para_frac"
            ),
        )
    )


def drop_duplicated_paragraphs(
    df: DataFrame,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    split_re: str = PARA_SPLIT_RE,
) -> DataFrame:
    """The removal policy to go with :func:`paragraph_stats`:
    duplicated paragraphs survive only in their OWNER document (the
    lowest doc id containing them — deterministic keep-first, the
    exact_dedup_groups convention); unique paragraphs always survive.
    Returns (doc_id, text) with paragraphs rejoined by single
    newlines in original relative order; a document whose every
    paragraph was dropped emits no row (same convention as
    zero-paragraph inputs). ``split_re`` picks the granularity
    (sentence-level removal via ``SENT_SPLIT_RE``); note reassembly
    always rejoins with single newlines."""
    paras = _paragraphs(df, text_col, id_col, split_re)
    owner = paras.groupBy("para").agg(
        F.countDistinct(id_col).alias("_df"),
        F.min(id_col).alias("_own"),
    )
    kept = paras.join(owner, "para").where(
        (F.col("_df") < min_df) | (F.col(id_col) == F.col("_own"))
    )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            "\n",
        ).alias(text_col)
    )


def paragraph_stats_sql(
    table: str, min_df: int = 2, text_col: str = "text",
    id_col: str = "doc_id", split_re: str = PARA_SPLIT_RE,
) -> str:
    """DuckDB twin of :func:`paragraph_stats` (same split pattern,
    same distinct-document rule)."""
    return f"""
WITH _pp AS MATERIALIZED (
  SELECT {id_col} AS doc_id, trim(ps[i]) AS para
  FROM (SELECT {id_col}, regexp_split_to_array({text_col},
                                               '{split_re}') AS ps
        FROM {table}),
       unnest(generate_series(1, len(ps))) AS t(i)
  WHERE trim(ps[i]) <> ''
),
_pd AS MATERIALIZED (
  SELECT para FROM _pp GROUP BY para
  HAVING count(DISTINCT doc_id) >= {min_df}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_paras,
       CAST(sum(CASE WHEN d.para IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_paras,
       round(sum(CASE WHEN d.para IS NOT NULL THEN 1 ELSE 0 END)
             / count(*), 6) AS dup_para_frac
FROM _pp p LEFT JOIN _pd d USING (para)
GROUP BY doc_id
"""


#: sentence splitter: terminal-punctuation runs + whitespace — the
#: simple segmenter CCNet/C4-class pipelines use; RE2-safe (DuckDB's
#: regexp engine has no lookbehind, so the terminal punctuation stays
#: with the LEFT segment only implicitly: it is consumed by the split
#: and the dedup key is the sentence BODY, which is what should match
#: across '.'/'!' variants anyway)
SENT_SPLIT_RE = "[.!?]+\\s+"


def sentence_stats(
    df: DataFrame,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence-level duplication stats: :func:`paragraph_stats` at
    the CCNet dedup granularity (Wenzek et al. 2020 dedup by line/
    sentence hash). Columns keep the n_paras/n_dup_paras names — the
    unit is a naming convention, the machinery is identical and the
    driver-checked plan shape is the 'para' variant's."""
    return paragraph_stats(
        df, min_df=min_df, text_col=text_col, id_col=id_col,
        split_re=SENT_SPLIT_RE,
    )


def sentence_stats_sql(
    table: str, min_df: int = 2, text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`sentence_stats`."""
    return paragraph_stats_sql(
        table, min_df=min_df, text_col=text_col, id_col=id_col,
        split_re=SENT_SPLIT_RE,
    )


# ---------------------------------------------------------------------------
# Bloom-filter incremental dedup (new batch vs an already-ingested corpus)


BLOOM_M = 1 << 14   #: bits (test default; size ~10 bits/key at scale)
BLOOM_K = 4         #: probes per key


def _bloom_hashes(key: Column) -> tuple[Column, Column]:
    """Two independent 32-bit codes from one md5 (same split the
    minhash chain uses) — Kirsch-Mitzenmacher double hashing derives
    all k probe positions from (h1 + i*h2) without extra digests."""
    hx = F.md5(key)
    h1 = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return h1, h2


def bloom_positions(key: Column, m: int = BLOOM_M, k: int = BLOOM_K) -> Column:
    """array<long> of the k probe positions for a key. h1 + i·h2 stays
    < 2^36 (both halves are 32-bit), so the long arithmetic never
    overflows and DuckDB reproduces it bit-for-bit."""
    h1, h2 = _bloom_hashes(key)
    return F.array(*[(h1 + F.lit(i) * h2) % F.lit(m) for i in range(k)])


def bloom_build(
    df: DataFrame,
    key: Column,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> list[int]:
    """Build the filter over a corpus' keys; returns the bitmap as
    m/64 longs (driver-side list — FILTER-sized, never data-sized).

    100-TB shape: explode the k probe positions, fold into (word,
    mask) and ``bit_or``-aggregate on the word index. The group-key
    domain is m/64 rows, so hash aggregation collapses each input
    partition map-side to ≤ m/64 partial rows before the exchange —
    the corpus is read once and the shuffle carries #partitions ×
    m/64 tiny rows regardless of corpus size. A 1-billion-key corpus
    at 10 bits/key is a ~1.2 GB bitmap: broadcastable where the key
    set itself is not. (Spark's native ``bloom_filter_agg`` builds
    the same thing JVM-side; this portable md5 construction is used
    so the DuckDB oracle reproduces membership — including false
    positives — exactly.)"""
    n_words = (m + 63) // 64
    # a NULL key hashes to an array of NULL positions — explode emits
    # them as NULL rows; drop them (no bits to set) instead of letting
    # a NULL word index reach the driver fold
    pos = df.select(
        F.explode(bloom_positions(key, m, k)).alias("pos")
    ).where(F.col("pos").isNotNull())
    words = (
        pos.select(
            (F.col("pos") / 64).cast("long").alias("w"),
            # call_function: the Python DSL's shiftleft/shiftright only
            # take literal ints; the SQL expressions accept a Column
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    out = [0] * n_words
    for r in words:
        out[r["w"]] = r["bits"]
    return out


def bloom_maybe_contains(
    key: Column, bitmap: list[int], m: int = BLOOM_M, k: int = BLOOM_K
) -> Column:
    """Membership test against a built bitmap (all k probe bits set).
    The bitmap rides into the plan as an array literal — the same
    broadcast-as-literal pattern as the trained k-means centroids
    (operators/similarity.py); the test is pure Column bit arithmetic,
    map-side, zero joins. This is the ORACLE-CHECKABLE small-m form:
    past :data:`BLOOM_LITERAL_MAX_BITS` use :func:`bloom_flag_join`,
    which runs the identical probes against a broadcast words table
    instead of inlining m/64 literal nodes."""
    h1, h2 = _bloom_hashes(key)
    # explicit per-element long casts: lit() on a mixed int/long list
    # must not infer array<int> and truncate high words
    lit_words = F.array(*[F.lit(int(w)).cast("long") for w in bitmap])
    test = None
    for i in range(k):
        pos = (h1 + F.lit(i) * h2) % F.lit(m)
        word = F.element_at(lit_words, ((pos / 64).cast("long") + 1).cast("int"))
        bit = (
            F.call_function("shiftright", word, (pos % 64).cast("int"))
            .bitwiseAND(F.lit(1).cast("long"))
            == 1
        )
        test = bit if test is None else (test & bit)
    return test


#: above this bit count the bitmap stops riding into the plan as an
#: array literal (m/64 literal nodes — fine at test sizes, an
#: expression-tree/driver blowup at the docstring's 1-billion-key
#: example) and ships as a broadcast (word, bits) table instead
BLOOM_LITERAL_MAX_BITS = 1 << 20


def bloom_words_df(spark, bitmap: list[int]) -> DataFrame:
    """The broadcastable form of a built filter: one (w, bits) row per
    NONZERO bitmap word. Row count ≤ m/64 regardless of corpus size —
    a 2^24-bit filter is ≤ 256k rows (~4 MB), a 2^33-bit one (the
    1-billion-key example) ≤ 128M rows: past broadcast range the same
    join degrades gracefully to a shuffled hash join, still never
    joining the HISTORY itself."""
    return local_frame(
        spark,
        [(w, b) for w, b in enumerate(bitmap) if b != 0],
        "w long, bits long",
    )


def bloom_flag_join(
    df: DataFrame,
    key: Column,
    words: DataFrame,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    out_col: str = "maybe_dup",
) -> DataFrame:
    """Scale path of :func:`bloom_maybe_contains`: the SAME md5
    double-hash probes and the SAME bit tests, but the bitmap arrives
    as k broadcast equi-joins against the (w, bits) words table
    instead of a plan-literal array — all map-side (k
    BroadcastHashJoins, zero exchanges on ``df``), so membership at
    m ≥ 2^24 neither bloats the expression tree nor ships the bitmap
    per task. Results are bit-identical to the literal path (an absent
    word row IS a zero word). Returns ``df`` plus ``out_col``."""
    h1, h2 = _bloom_hashes(key)
    staged = df.select(
        "*",
        *[
            ((h1 + F.lit(i) * h2) % F.lit(m)).alias(f"_bl_pos{i}")
            for i in range(k)
        ],
    )
    out = staged.select(
        "*",
        *[
            (F.col(f"_bl_pos{i}") / 64).cast("long").alias(f"_bl_w{i}")
            for i in range(k)
        ],
    )
    for i in range(k):
        out = out.join(
            F.broadcast(
                words.select(
                    F.col("w").alias(f"_bl_w{i}"),
                    F.col("bits").alias(f"_bl_bits{i}"),
                )
            ),
            on=f"_bl_w{i}",
            how="left",
        )
    test = None
    for i in range(k):
        bit = (
            F.call_function(
                "shiftright",
                # an absent word row is a zero word — but only when the
                # probe itself exists (a NULL key must stay NULL, as on
                # the literal path)
                F.when(
                    F.col(f"_bl_pos{i}").isNotNull(),
                    F.coalesce(F.col(f"_bl_bits{i}"), F.lit(0).cast("long")),
                ),
                (F.col(f"_bl_pos{i}") % 64).cast("int"),
            ).bitwiseAND(F.lit(1).cast("long"))
            == 1
        )
        test = bit if test is None else (test & bit)
    drop = [
        c
        for i in range(k)
        for c in (f"_bl_pos{i}", f"_bl_w{i}", f"_bl_bits{i}")
    ]
    return out.withColumn(out_col, test).drop(*drop)


def bloom_dedup_flags(
    new_df: DataFrame,
    hist_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Incremental exact dedup: flag each NEW document whose
    normalized text is (probably) already in the HISTORICAL corpus —
    without ever joining or shuffling the historical corpus against
    the batch. One filter build over hist (see :func:`bloom_build`),
    then a map-side membership column over new. ``maybe_dup`` carries
    Bloom semantics: false positives possible (deterministic given m,
    k — the oracle reproduces them), false negatives impossible; a
    pipeline that must be exact re-checks only flagged rows with an
    (id-bounded) anti-join."""
    bitmap = bloom_build(hist_df, norm_text(F.col(text_col)), m, k)
    return new_df.select(
        F.col(id_col),
        bloom_maybe_contains(norm_text(F.col(text_col)), bitmap, m, k).alias(
            "maybe_dup"
        ),
    )


def bloom_dedup_sql(
    new_sql: str,
    hist_sql: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> str:
    """DuckDB twin of :func:`bloom_dedup_flags`. Membership in the
    position SET is definitionally the bitmap test (a bit is set iff
    some hist key probed it), so the oracle reproduces Bloom behavior
    exactly — false positives included."""
    norm = NORM_SQL.format(c=text_col)
    probes = ", ".join(
        f"(h1 + {i} * h2) % {m}" for i in range(k)
    )
    return f"""
WITH _bl_hist AS (
  SELECT ('0x' || substr(md5({norm}), 1, 8))::BIGINT AS h1,
         ('0x' || substr(md5({norm}), 9, 8))::BIGINT AS h2
  FROM ({hist_sql})
),
_bl_hp AS (
  -- a NULL hist text yields NULL probe positions; 'pos IN (set with
  -- NULL)' is NULL, not FALSE, and bool_and skips NULLs — which would
  -- flag genuinely novel docs. Spark's explode of the NULL-element
  -- array sets no bits, so the oracle must drop them too.
  SELECT DISTINCT unnest([{probes}]) AS pos FROM _bl_hist
  WHERE h1 IS NOT NULL
),
_bl_new AS (
  SELECT {id_col},
         ('0x' || substr(md5({norm}), 1, 8))::BIGINT AS h1,
         ('0x' || substr(md5({norm}), 9, 8))::BIGINT AS h2
  FROM ({new_sql})
),
_bl_np AS (
  SELECT {id_col}, unnest([{probes}]) AS pos FROM _bl_new
)
SELECT {id_col}, bool_and(pos IN (SELECT pos FROM _bl_hp)) AS maybe_dup
FROM _bl_np GROUP BY {id_col}
"""
