"""Product quantization (operators/pq.py): per-subspace codes match
the kmeans_ivf assignment run independently on each slice (Spark) AND
the unrolled DuckDB k-means twin; encode is one map-only stage."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from beats_spark.operators.pq import pq_encode, pq_train
from beats_spark.operators.similarity import kmeans_ivf, kmeans_ivf_sql

SF_DIR = "/root/testdata/sf0.001"
M, KS, ITERS = 2, 8, 1


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def encoded(spark, embs):
    books = pq_train(embs, m=M, ks=KS, iters=ITERS)
    return books, {
        r["vec_id"]: (list(r["codes"]), list(r["dists"]))
        for r in pq_encode(embs, books).collect()
    }


class TestPQ:
    def test_books_shape(self, encoded):
        books, _ = encoded
        assert len(books) == M
        for book in books:
            assert 1 <= len(book) <= KS  # empty cells may vanish
            assert all(len(cvec) == 64 // M for _, cvec in book)

    def test_codes_match_per_slice_kmeans(self, spark, embs, encoded):
        # the operator's one-pass argmin must equal kmeans_ivf run
        # independently on each subvector slice (same seeds, same
        # tie-breaks, same rounding)
        _, got = encoded
        d = 64 // M
        for j in range(M):
            sub = embs.select(
                "vec_id",
                F.slice("embedding", j * d + 1, d).alias("embedding"),
            )
            ref = {
                r["vec_id"]: (r["cell"], r["dist"])
                for r in kmeans_ivf(sub, k=KS, iters=ITERS).collect()
            }
            for vid, (codes, dists) in got.items():
                assert (codes[j], dists[j]) == ref[vid], (j, vid)

    def test_duckdb_parity(self, encoded):
        _, got = encoded
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM "
            f"'{SF_DIR}/embeddings.parquet'"
        )
        d = 64 // M
        for j in range(M):
            sql = kmeans_ivf_sql(
                f"(SELECT vec_id, list_slice(embedding, {j * d + 1}, "
                f"{j * d + d}) AS embedding FROM embeddings)",
                k=KS,
                iters=ITERS,
            )
            for vid, cell, dist in con.execute(sql).fetchall():
                codes, dists = got[vid]
                assert codes[j] == cell, (j, vid)
                assert dists[j] == pytest.approx(dist, abs=0), (j, vid)

    def test_encode_is_one_map_stage(self, spark, embs, encoded):
        books, _ = encoded
        plan = (
            pq_encode(embs, books)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert "Python" not in plan

    def test_dim_must_divide(self, embs):
        with pytest.raises(ValueError):
            pq_train(embs, m=7)


QUERY_IDS = [3, 17, 42]
K = 5


class TestADC:
    @pytest.fixture(scope="class")
    def topk(self, spark, embs):
        from beats_spark.operators.pq import pq_topk

        books = pq_train(embs, m=M, ks=KS, iters=ITERS)
        return [
            (r["q_id"], r["neighbor_id"], r["adc_dist"], r["rank"])
            for r in pq_topk(embs, books, QUERY_IDS, k=K)
            .orderBy("q_id", "rank")
            .collect()
        ]

    def test_shape_and_monotone(self, topk):
        by_q = {}
        for q_id, n_id, dist, rank in topk:
            assert n_id != q_id
            by_q.setdefault(q_id, []).append((rank, dist))
        assert sorted(by_q) == sorted(QUERY_IDS)
        for q, rows in by_q.items():
            assert [r for r, _ in rows] == list(range(1, K + 1)), q
            dists = [d for _, d in rows]
            assert dists == sorted(dists), q

    def test_duckdb_parity(self, topk):
        from beats_spark.operators.pq import pq_topk_sql

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM "
            f"'{SF_DIR}/embeddings.parquet'"
        )
        sql = pq_topk_sql(
            "embeddings", QUERY_IDS, m=M, ks=KS, iters=ITERS, k=K
        )
        duck = sorted(con.execute(sql).fetchall())
        assert sorted(topk) == duck


class TestIvfPqComposition:
    """FAISS-style IVF-PQ end-to-end on a CLUSTERED fixture (10
    well-separated centers, tight noise — deterministic seed). The
    documented behavior: without rerank every returned neighbor is in
    the query's true cluster but fine ordering is quantized away;
    with the exact-rerank refine step recall@k against exact
    euclidean is 1.0."""

    Q = [0, 1, 2, 13, 47]
    K = 5

    @pytest.fixture(scope="class")
    def clustered(self, spark):
        import random

        random.seed(7)
        centers = [
            [random.uniform(-1, 1) * 10 for _ in range(64)]
            for _ in range(10)
        ]
        rows = [
            (
                i,
                [
                    float(x + random.uniform(-0.1, 0.1))
                    for x in centers[i % 10]
                ],
            )
            for i in range(500)
        ]
        return rows, spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    @pytest.fixture(scope="class")
    def exact_truth(self, clustered):
        import pandas as pd

        rows, _ = clustered
        con = duckdb.connect()
        con.register(
            "e",
            pd.DataFrame(
                {
                    "vec_id": [r[0] for r in rows],
                    "embedding": [r[1] for r in rows],
                }
            ),
        )
        ids = ",".join(map(str, self.Q))
        return set(
            con.execute(f"""
WITH q AS (SELECT vec_id q_id, embedding qv FROM e WHERE vec_id IN ({ids})),
s AS (SELECT q.q_id, c.vec_id nid,
        list_sum(list_transform(list_zip(c.embedding, q.qv),
          p -> (p[1]::DOUBLE - p[2]::DOUBLE)*(p[1]::DOUBLE - p[2]::DOUBLE))) d
      FROM e c, q WHERE c.vec_id <> q.q_id)
SELECT q_id, nid FROM (SELECT *, row_number() OVER
  (PARTITION BY q_id ORDER BY d, nid) rk FROM s) WHERE rk <= {self.K}
""").fetchall()
        )

    def test_adc_only_stays_in_cluster(self, clustered):
        from beats_spark.operators.pq import ivf_pq_topk

        _, embs = clustered
        got = ivf_pq_topk(
            embs, self.Q, k=self.K, n_cells=16, nprobe=4,
            m=8, ks=16, ivf_iters=3,
        ).collect()
        assert len(got) == len(self.Q) * self.K
        for r in got:
            assert r["q_id"] % 10 == r["neighbor_id"] % 10

    def test_rerank_recovers_exact_topk(self, clustered, exact_truth):
        from beats_spark.operators.pq import ivf_pq_topk

        _, embs = clustered
        got = {
            (r["q_id"], r["neighbor_id"])
            for r in ivf_pq_topk(
                embs, self.Q, k=self.K, n_cells=16, nprobe=4,
                m=8, ks=16, ivf_iters=3, rerank=40,
            ).collect()
        }
        assert len(got & exact_truth) / len(exact_truth) == 1.0

    def test_setup_trains_and_materializes_once(self, clustered, monkeypatch):
        """One scaled corpus, materialized once, feeds one IVF training
        and the m codebook trainings; the rows are the ones the
        composition has always returned."""
        from beats_spark.operators import pq, similarity

        train, materialize = similarity._km_train, pq._materialize
        calls = {"train": 0, "materialize": 0}

        def counting_train(*a, **kw):
            calls["train"] += 1
            return train(*a, **kw)

        def counting_materialize(df):
            calls["materialize"] += 1
            return materialize(df)

        for mod in (similarity, pq):
            monkeypatch.setattr(mod, "_km_train", counting_train)
            monkeypatch.setattr(mod, "_materialize", counting_materialize)
        _, embs = clustered
        got = {}
        for rerank in (0, 40):
            calls.update(train=0, materialize=0)
            got[rerank] = sorted(
                tuple(r)
                for r in pq.ivf_pq_topk(
                    embs, self.Q, k=self.K, n_cells=16, nprobe=4,
                    m=8, ks=16, ivf_iters=3, rerank=rerank,
                ).collect()
            )
            assert calls == {"train": 1 + 8, "materialize": 1}, rerank
        assert got[0] == sorted(self.ADC_ROWS)
        assert got[40] == sorted(self.RERANK_ROWS)

    # (q_id, neighbor_id, dist, rank) of the setup above
    ADC_ROWS = [
        (0, 250, 0.175697, 1), (0, 330, 0.181186, 2), (0, 110, 0.182071, 3),
        (0, 170, 0.185407, 4), (0, 70, 0.194359, 5),
        (1, 261, 0.221351, 1), (1, 201, 0.221505, 2), (1, 371, 0.230332, 3),
        (1, 121, 0.232194, 4), (1, 461, 0.24004, 5),
        (2, 332, 0.166175, 1), (2, 382, 0.166175, 2), (2, 422, 0.171392, 3),
        (2, 452, 0.178394, 4), (2, 32, 0.192793, 5),
        (13, 393, 0.124162, 1), (13, 63, 0.14652, 2), (13, 373, 0.150576, 3),
        (13, 233, 0.157212, 4), (13, 293, 0.158358, 5),
        (47, 7, 0.193449, 1), (47, 17, 0.193449, 2), (47, 27, 0.193449, 3),
        (47, 37, 0.193449, 4), (47, 57, 0.193449, 5),
    ]
    RERANK_ROWS = [
        (0, 290, 0.335065, 1), (0, 220, 0.337929, 2), (0, 340, 0.338179, 3),
        (0, 110, 0.360827, 4), (0, 360, 0.362475, 5),
        (1, 261, 0.294842, 1), (1, 131, 0.364611, 2), (1, 31, 0.384081, 3),
        (1, 391, 0.385457, 4), (1, 41, 0.38891, 5),
        (2, 32, 0.324842, 1), (2, 452, 0.341459, 2), (2, 142, 0.341817, 3),
        (2, 72, 0.356312, 4), (2, 132, 0.359951, 5),
        (13, 93, 0.274192, 1), (13, 393, 0.275163, 2), (13, 433, 0.302657, 3),
        (13, 373, 0.315906, 4), (13, 333, 0.326356, 5),
        (47, 137, 0.305082, 1), (47, 177, 0.314677, 2), (47, 297, 0.329936, 3),
        (47, 27, 0.333734, 4), (47, 87, 0.349916, 5),
    ]

    def test_rerank_must_cover_k(self, clustered):
        from beats_spark.operators.pq import ivf_pq_topk

        _, embs = clustered
        with pytest.raises(ValueError):
            ivf_pq_topk(embs, self.Q, k=5, rerank=3).show()
