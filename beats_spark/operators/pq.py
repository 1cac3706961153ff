"""Product quantization (IVF-PQ's PQ half).

PQ (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
Search") is the compression every production-scale vector store runs:
split each vector into ``m`` subvectors, train an independent
``ks``-centroid codebook per subspace, and store each vector as ``m``
small codes — 64 float32 dims become m bytes, and asymmetric distance
needs only ``m`` table lookups per pair. It composes with the trained
IVF in similarity.py exactly the way FAISS composes IVF+PQ.

Spark shape (the part that matters at 100 TB):

* **Training** reuses the deterministic distributed Lloyd machinery
  (`similarity._km_train`) per subspace over ONE scaled, checkpointed
  corpus pass — per iteration a pure-map assignment (centroids are
  driver literals: m×ks×(dim/m) doubles — bytes, not data) plus a
  (cell, pos) integer aggregation. Production trainers codebook-train
  on a sample; pass a sampled df here and encode the full corpus.
* **Encoding** is ONE narrow select: all m argmins evaluate in a
  single stage — zero shuffle, zero join, no Python (plan-pinned in
  tests/test_pq.py). This is the pass that actually touches 100 TB.

Determinism (oracle lock-step): the scaled-integer space, the
(dist, cell) lexicographic tie-break, and the 6-dp dist rounding are
the same as `kmeans_ivf`, so the DuckDB twin is simply m
`kmeans_ivf_sql` trainings over `list_slice` subvectors joined on id
— no new SQL machinery.

No reference-repo counterpart (training-data extension per the
brief).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.materialize import materialize as _materialize

from .similarity import (
    KMEANS_SCALE,
    _centroid_scores,
    _km_assign,
    _km_scaled,
    _km_train,
    _scaled_sql,
    _sq_fold,
    _sq_fold_sql,
    _topk,
    _topk_sql,
    kmeans_ivf_sql,
)

_SCALE2 = float(KMEANS_SCALE) ** 2


def _subvectors(xq: DataFrame, m: int, d: int, id_alias: str = "vid") -> DataFrame:
    """``(id_alias, _s0 .. _s{m-1})``: the ``m`` width-``d`` slices of
    a scaled ``(vid, xq)`` frame, each materialized once per row."""
    return xq.select(
        F.col("vid").alias(id_alias),
        *[F.slice("xq", j * d + 1, d).alias(f"_s{j}") for j in range(m)],
    )


def _pq_books(xq: DataFrame, m: int, ks: int, iters: int) -> list:
    """:func:`pq_train` over a materialized scaled ``(vid, xq)`` frame."""
    dim = xq.select(F.size("xq").alias("d")).first()["d"]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    return [
        _km_train(
            xq.select("vid", F.slice("xq", j * d + 1, d).alias("xq")), ks, iters
        )
        for j in range(m)
    ]


def pq_train(
    df: DataFrame,
    m: int = 2,
    ks: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Train ``m`` per-subspace codebooks (``ks`` centroids each).
    Returns driver-side centroid literals, one book per subspace."""
    xq = _km_scaled(df, id_col, vec_col).transform(_materialize)
    return _pq_books(xq, m, ks, iters)


def _pq_codes(xq: DataFrame, books: list) -> DataFrame:
    """:func:`pq_encode` over a scaled ``(vid, xq)`` frame; rows
    ``(vid, codes, dists)``."""
    m = len(books)
    staged = _subvectors(xq, m, len(books[0][0][1]))
    # same argmin as _km_assign: min dist, then lowest cell
    picked = staged.select(
        "vid",
        *[
            F.array_min(_centroid_scores(F.col(f"_s{j}"), bk, _sq_fold)).alias(
                f"_b{j}"
            )
            for j, bk in enumerate(books)
        ],
    )
    return picked.select(
        "vid",
        F.array(
            *[F.col(f"_b{j}")["cell"].cast("long") for j in range(m)]
        ).alias("codes"),
        F.array(
            *[F.round(F.col(f"_b{j}")["d"] / F.lit(_SCALE2), 6) for j in range(m)]
        ).alias("dists"),
    )


def pq_encode(
    df: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<long>, dists array<double>): per-subspace
    nearest-centroid code + its squared-euclidean distance in original
    units (rounded 6 dp, `kmeans_ivf` discipline). One map-only stage:
    the subvector slices materialize once per row (expression-reuse
    gotcha — each book's ks distance folds scan its slice), then all
    m argmins evaluate together."""
    return _pq_codes(_km_scaled(df, id_col, vec_col), books).withColumnRenamed(
        "vid", id_col
    )


# -- ADC search ---------------------------------------------------------------


def _adc_lut(qxq: DataFrame, books: list) -> DataFrame:
    """``(q_id, j, cell, qdist)``: each query's m×ks table of subspace
    distances to every codebook centroid, from a scaled ``(vid, xq)``
    query frame. Every entry snaps to an integer (scaled space), so a
    candidate's sum over its m codes is order-free."""
    staged = _subvectors(qxq, len(books), len(books[0][0][1]), "q_id")
    entries = F.flatten(
        F.array(
            *[
                F.transform(
                    _centroid_scores(F.col(f"_s{j}"), book, _sq_fold),
                    lambda t: F.struct(
                        F.lit(j).alias("j"),
                        t["cell"].alias("cell"),
                        F.floor(t["d"] + F.lit(0.5)).cast("long").alias("qdist"),
                    ),
                )
                for j, book in enumerate(books)
            ]
        )
    )
    return staged.select("q_id", F.explode(entries).alias("e")).select(
        "q_id", "e.j", "e.cell", "e.qdist"
    )


def _adc_sum(pairs: DataFrame) -> DataFrame:
    """``(q_id, neighbor_id, adc_dist)``: the LUT entries a candidate's
    codes joined, summed and divided once."""
    return pairs.groupBy("q_id", "neighbor_id").agg(
        F.round(F.sum("qdist").cast("double") / F.lit(_SCALE2), 6).alias("adc_dist")
    )


def pq_topk(
    df: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the IVF-PQ
    search half: each query precomputes an m×ks lookup table of
    subspace distances to every codebook centroid, and a candidate's
    score is just ``sum_j lut[j, code_j]`` — m integer lookups per
    (query, candidate) pair, never a dim-wide fold. That asymmetry is
    the whole point of PQ search: at 100 TB the corpus contributes
    only its m-byte codes (posexplode → broadcast LUT join → partial
    agg); vectors are never touched after encoding.

    Determinism: every LUT entry snaps to an integer (scaled space —
    magnitudes ≈1e13, exact in a long), so the per-candidate sum is
    order-free; final distance divides once and rounds 6 dp; ranking
    ties break on neighbor id. Returns (q_id, neighbor_id, adc_dist,
    rank) with adc_dist the squared euclidean to the RECONSTRUCTION —
    approximate by construction."""
    codes = _pq_codes(_km_scaled(df, id_col, vec_col), books)
    ex = codes.select(
        F.col("vid").alias("neighbor_id"), F.posexplode("codes").alias("j", "cell")
    )
    lut = _adc_lut(
        _km_scaled(df.where(F.col(id_col).isin(query_ids)), id_col, vec_col), books
    )
    pairs = ex.join(F.broadcast(lut), ["j", "cell"]).where(
        F.col("neighbor_id") != F.col("q_id")
    )
    return _topk(_adc_sum(pairs), k, "adc_dist")


def ivf_pq_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 8,
    ivf_iters: int = 2,
    nprobe: int = 1,
    m: int = 2,
    ks: int = 8,
    pq_iters: int = 1,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full FAISS-style IVF-PQ composition: coarse-quantize the
    corpus into ``n_cells`` trained IVF cells (the k-means of
    similarity.kmeans_ivf), PQ-encode every vector, then answer a
    query by ADC-ranking ONLY the vectors in its ``nprobe`` nearest
    cells. Approximate on both axes (cell recall × code quantization)
    — the trade every production vector store makes.

    ``rerank=R`` (R ≥ k) adds the production refine step: the ADC
    pass keeps its top R candidates per query, and only those q×R
    rows re-join their ORIGINAL vectors for an exact distance — the
    fix for PQ's known failure mode (reconstruction error swamps the
    fine ordering inside a tight neighborhood; measured on clustered
    fixtures: cluster-recall 1.0 but exact-recall ~0.3 without
    rerank, ~1.0 with). The corpus-wide pass still never touches
    vectors; rerank touches exactly q×R.

    It is :func:`ivf_pq_search` over :func:`ivf_pq_train`; a caller
    that also writes the index (``jobs/index_job.py``) trains once and
    calls the two halves.

    Plan: candidate generation is an equi-join on ``cell`` (the r2
    verdict's ann_ivf fix — never array_contains in a join), scoring
    is the broadcast-LUT m-lookup sum from :func:`pq_topk`. Each
    component is oracle-checked on its own driver row; the
    composition is covered by recall floors in tests/test_pq.py."""
    ix = ivf_pq_train(df, n_cells, ivf_iters, m, ks, pq_iters, id_col, vec_col)
    return ivf_pq_search(ix, query_ids, k, nprobe, rerank)


class IvfPqIndex(NamedTuple):
    """A trained IVF-PQ index: the scaled corpus, materialized once,
    with the IVF centroids and the m PQ codebooks trained on it
    (driver-side literals, :func:`similarity._km_train` rows)."""

    xq: DataFrame
    cents: list
    books: list


def ivf_pq_train(
    df: DataFrame,
    n_cells: int = 8,
    ivf_iters: int = 2,
    m: int = 2,
    ks: int = 8,
    pq_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfPqIndex:
    """The training half of :func:`ivf_pq_topk`: scale the corpus once,
    materialize it once, and train the ``n_cells`` IVF centroids and
    the m codebooks on it (1 + m k-means trainings)."""
    xq = _km_scaled(df, id_col, vec_col).transform(_materialize)
    return IvfPqIndex(
        xq, _km_train(xq, n_cells, ivf_iters), _pq_books(xq, m, ks, pq_iters)
    )


def ivf_pq_cells(ix: IvfPqIndex) -> DataFrame:
    """``(vid, codes, dists, cell)``: every vector's PQ codes and its
    IVF cell — the index table, and the candidate set of a search."""
    return _pq_codes(ix.xq, ix.books).join(
        _km_assign(ix.xq, ix.cents).select("vid", "cell"), "vid"
    )


def ivf_pq_search(
    ix: IvfPqIndex,
    query_ids: list[int],
    k: int = 10,
    nprobe: int = 1,
    rerank: int = 0,
) -> DataFrame:
    """The search half of :func:`ivf_pq_topk` over a trained index:
    each query probes its ``nprobe`` nearest cells and ADC-ranks the
    vectors in them, with an optional exact ``rerank``."""
    if rerank and rerank < k:
        raise ValueError(f"rerank={rerank} < k={k}")
    xq, cents, books = ix

    # queries probe their nprobe nearest IVF cells: explode to
    # (q_id, cell) probe rows
    qonly = xq.where(F.col("vid").isin(query_ids))
    probe_scored = _centroid_scores(F.col("xq"), cents, _sq_fold)
    probes = qonly.select(
        F.col("vid").alias("q_id"),
        F.explode(F.slice(F.array_sort(probe_scored), 1, nprobe)).alias("p"),
    ).select("q_id", F.col("p.cell").alias("cell"))

    # candidates = probed cells only (equi-join on cell), then the ADC
    # m-lookup sum
    probed = ivf_pq_cells(ix).join(F.broadcast(probes), "cell").where(
        F.col("vid") != F.col("q_id")
    )
    ex = probed.select(
        "q_id",
        F.col("vid").alias("neighbor_id"),
        F.posexplode("codes").alias("j", "cell"),
    )
    lut = _adc_lut(qonly, books)
    scored = _adc_sum(ex.join(F.broadcast(lut), ["q_id", "j", "cell"]))
    if not rerank:
        return _topk(scored, k, "adc_dist")

    # refine: exact snapped distance for the surviving q×R rows only
    cand2 = _topk(scored, rerank, "adc_dist").select("q_id", "neighbor_id")
    nvec = xq.select(F.col("vid").alias("neighbor_id"), F.col("xq").alias("nxq"))
    qvec = qonly.select(F.col("vid").alias("q_id"), F.col("xq").alias("qxq"))
    exact = cand2.join(nvec, "neighbor_id").join(F.broadcast(qvec), "q_id")
    edist = F.round(
        F.floor(_sq_fold(F.col("qxq"), F.col("nxq")) + F.lit(0.5)).cast("double")
        / F.lit(_SCALE2),
        6,
    )
    return _topk(exact.select("q_id", "neighbor_id", edist.alias("dist")), k, "dist")


def pq_topk_sql(
    table: str,
    query_ids: list[int],
    m: int = 2,
    ks: int = 8,
    iters: int = 1,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`pq_topk`: codes + trained centroids both
    rebuilt from the data via the unrolled k-means twin, LUT and ADC
    sum recomputed independently."""
    d = dim // m
    ids = ",".join(str(i) for i in query_ids)

    def sub(j: int) -> str:
        return (
            f"(SELECT {id_col}, list_slice({vec_col}, {j * d + 1}, "
            f"{j * d + d}) AS {vec_col} FROM {table})"
        )

    code_ctes = ",\n".join(
        f"codes{j} AS ({kmeans_ivf_sql(sub(j), k=ks, iters=iters, id_col=id_col, vec_col=vec_col)})"
        for j in range(m)
    )
    cent_ctes = ",\n".join(
        f"cents{j} AS ({kmeans_ivf_sql(sub(j), k=ks, iters=iters, id_col=id_col, vec_col=vec_col, emit='centroids')})"
        for j in range(m)
    )
    lut_parts = "\nUNION ALL\n".join(
        f"""SELECT q.q_id, {j} AS j, c.cell,
       CAST(floor({_sq_fold_sql(f"list_slice(q.qxq, {j * d + 1}, {j * d + d})",
                                "c.cvec")} + 0.5) AS BIGINT) AS qdist
FROM q CROSS JOIN cents{j} c"""
        for j in range(m)
    )
    ex_parts = "\nUNION ALL\n".join(
        f"SELECT {id_col} AS neighbor_id, {j} AS j, cell FROM codes{j}"
        for j in range(m)
    )
    return f"""
WITH {code_ctes},
{cent_ctes},
q AS (
  SELECT {id_col} AS q_id, {_scaled_sql(vec_col)} AS qxq
  FROM {table} WHERE {id_col} IN ({ids})
),
lut AS (
{lut_parts}
),
ex AS (
{ex_parts}
),
scored AS (
  SELECT q_id, neighbor_id,
         round(CAST(sum(qdist) AS DOUBLE) / {_SCALE2:.1f}, 6) AS adc_dist
  FROM ex JOIN lut USING (j, cell)
  WHERE neighbor_id <> q_id
  GROUP BY q_id, neighbor_id
)
{_topk_sql("adc_dist", k)}
"""
