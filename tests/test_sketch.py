"""Deterministic HyperLogLog sketch (operators/sketch.py)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from beats_spark.operators.sketch import (
    hll_cardinality_sql,
    hll_estimate_by,
    hll_overlap_by,
    hll_registers_by,
    hll_registers_sql,
)


def _cardinality(df, value):
    """The whole-corpus sketch: the keyed forms with no group columns."""
    return hll_estimate_by(hll_registers_by(df, [], value), [])


class TestHLL:
    def test_estimate_accuracy_and_duplicate_invariance(self, spark):
        """~10k distinct values within the published error band for
        m=256 (σ ≈ 1.04/√m ≈ 6.5%); feeding every value 3× changes
        NOTHING — the sketch sees sets, not multisets."""
        once = spark.createDataFrame(
            [(f"item-{i}",) for i in range(10_000)], "v string"
        )
        thrice = spark.createDataFrame(
            [(f"item-{i % 10_000}",) for i in range(30_000)], "v string"
        )
        e1 = _cardinality(once, F.col("v")).collect()[0]
        e3 = _cardinality(thrice, F.col("v")).collect()[0]
        assert e1["estimate"] == e3["estimate"]
        assert abs(e1["estimate"] - 10_000) / 10_000 < 0.2

    def test_merge_is_register_max(self, spark):
        """Sketching two disjoint halves and merging by max equals
        sketching the union — the distributed-combine property."""
        a = spark.createDataFrame(
            [(f"item-{i}",) for i in range(0, 3_000)], "v string"
        )
        b = spark.createDataFrame(
            [(f"item-{i}",) for i in range(2_000, 6_000)], "v string"
        )
        merged = (
            hll_registers_by(a, [], F.col("v"))
            .unionByName(hll_registers_by(b, [], F.col("v")))
            .groupBy("register")
            .agg(F.max("max_rho").alias("max_rho"))
        )
        whole = _cardinality(a.unionByName(b), F.col("v"))
        assert (
            hll_estimate_by(merged, []).collect() == whole.collect()
        )

    def test_duckdb_parity_register_for_register(self, spark):
        rows = [(f"doc {i} text body",) for i in range(500)]
        df = spark.createDataFrame(rows, "v string")
        sregs = sorted(
            tuple(r) for r in hll_registers_by(df, [], F.col("v")).collect()
        )
        sest = tuple(_cardinality(df, F.col("v")).collect()[0])
        con = duckdb.connect()
        con.execute("CREATE TABLE t(v VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?)", rows)
        oregs = sorted(
            tuple(r) for r in con.sql(hll_registers_sql("t", "v")).fetchall()
        )
        oest = con.sql(hll_cardinality_sql("t", "v")).fetchall()[0]
        assert sregs == oregs and sest == oest

    def test_one_bounded_aggregation_no_corpus_shuffle(self, spark):
        df = spark.createDataFrame(
            [(f"item-{i}",) for i in range(200)], "v string"
        )
        plan = (
            _cardinality(df, F.col("v"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the only exchange keys on the 2^p-bounded register column,
        # with a map-side partial max ahead of it
        assert "hashpartitioning(register" in plan
        assert "partial_max" in plan
        assert "Join" not in plan

    def test_p_validation(self, spark):
        df = spark.createDataFrame([("x",)], "v string")
        with pytest.raises(ValueError, match="multiple of 4"):
            hll_registers_by(df, [], F.col("v"), p=10)


class TestGroupedHLL:
    def test_grouped_equals_per_group_filter(self, spark):
        """The per-group estimate must equal running the sketch with
        no group columns on that group's rows alone."""
        df = spark.createDataFrame(
            [(f"g{i % 3}", f"item-{i % 500}") for i in range(5_000)],
            "g string, v string",
        )
        grouped = {
            r["g"]: (r["n_nonzero"], r["estimate"])
            for r in hll_estimate_by(
                hll_registers_by(df, ["g"], F.col("v")), ["g"]
            ).collect()
        }
        for g in ("g0", "g1", "g2"):
            one = _cardinality(
                df.where(F.col("g") == g), F.col("v")
            ).collect()[0]
            assert grouped[g] == (one["n_nonzero"], one["estimate"])

    def test_duckdb_parity_grouped(self, spark):
        from beats_spark.operators.sketch import hll_cardinality_by_sql

        rows = [(f"g{i % 2}", f"item-{i % 200}") for i in range(2_000)]
        df = spark.createDataFrame(rows, "g string, v string")
        got = sorted(
            tuple(r)
            for r in hll_estimate_by(
                hll_registers_by(df, ["g"], F.col("v")), ["g"]
            ).collect()
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE t(g VARCHAR, v VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        want = sorted(
            con.execute(hll_cardinality_by_sql("t", ["g"], "v")).fetchall()
        )
        assert got == want


class TestHLLOverlap:
    def test_identical_corpora_jaccard_one(self, spark):
        df = spark.createDataFrame(
            [(f"doc{i}",) for i in range(500)], "v string"
        )
        row = hll_overlap_by(df, df, [], F.col("v")).collect()[0]
        # identical register tables: union estimate == each side's,
        # inclusion-exclusion gives inter == est_a EXACTLY
        assert row["est_union"] == row["est_a"] == row["est_b"]
        assert row["est_inter"] == row["est_a"]
        assert row["jaccard"] == 1.0

    def test_disjoint_corpora_small_jaccard(self, spark):
        a = spark.createDataFrame(
            [(f"a{i}",) for i in range(400)], "v string"
        )
        b = spark.createDataFrame(
            [(f"b{i}",) for i in range(400)], "v string"
        )
        row = hll_overlap_by(a, b, [], F.col("v")).collect()[0]
        # raw-estimator error at p=8 is ~6.5%; disjoint sets must
        # read near-zero overlap and a union near a+b
        assert row["jaccard"] < 0.15
        assert row["est_union"] > 0.8 * (row["est_a"] + row["est_b"])

    def test_half_overlap_estimate(self, spark):
        a = spark.createDataFrame(
            [(f"x{i}",) for i in range(600)], "v string"
        )
        b = spark.createDataFrame(
            [(f"x{i}",) for i in range(300, 900)], "v string"
        )
        row = hll_overlap_by(a, b, [], F.col("v")).collect()[0]
        # true jaccard = 300/900 = 1/3
        assert 0.15 < row["jaccard"] < 0.55

    def test_duckdb_parity(self, spark):
        import duckdb
        from beats_spark.operators.sketch import hll_overlap_sql
        from pyspark.sql import functions as F
        from tests.conftest import SF_DIR

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        a = docs.where("doc_id % 5 = 0")
        b = docs.where("doc_id % 5 <> 0")
        got = hll_overlap_by(a, b, [], F.col("text")).collect()[0]

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"parquet_scan('{SF_DIR}/documents.parquet')"
        )
        want = con.execute(
            hll_overlap_sql(
                "(SELECT * FROM documents WHERE doc_id % 5 = 0)",
                "text",
                "(SELECT * FROM documents WHERE doc_id % 5 <> 0)",
                "text",
            )
        ).fetchone()
        assert (
            got["est_a"], got["est_b"], got["est_union"],
            got["est_inter"], got["jaccard"],
        ) == want


class TestGroupedOverlap:
    def test_per_group_equals_filtered_ungrouped(self, spark):
        """Each group's row must equal the overlap with no group
        columns computed on that group's rows alone (the grouped-HLL
        equivalence that makes the per-language readout trustworthy)."""
        from pyspark.sql import functions as F

        a = spark.createDataFrame(
            [(f"l{i % 2}", f"x{i}") for i in range(400)], "g string, v string"
        )
        b = spark.createDataFrame(
            [(f"l{i % 2}", f"x{i}") for i in range(200, 600)],
            "g string, v string",
        )
        rows = {
            r["g"]: r
            for r in hll_overlap_by(a, b, ["g"], F.col("v")).collect()
        }
        assert set(rows) == {"l0", "l1"}
        for g in ("l0", "l1"):
            single = hll_overlap_by(
                a.where(F.col("g") == g), b.where(F.col("g") == g), [],
                F.col("v"),
            ).collect()[0]
            got = rows[g]
            for c in ("est_a", "est_b", "est_union", "est_inter", "jaccard"):
                assert got[c] == single[c], (g, c)

    def test_one_sided_group_is_fully_novel(self, spark):
        from pyspark.sql import functions as F

        a = spark.createDataFrame(
            [("only_a", f"x{i}") for i in range(100)], "g string, v string"
        )
        b = spark.createDataFrame(
            [("only_b", f"y{i}") for i in range(100)], "g string, v string"
        )
        rows = {
            r["g"]: r
            for r in hll_overlap_by(a, b, ["g"], F.col("v")).collect()
        }
        assert rows["only_a"]["est_b"] == 0.0
        assert rows["only_a"]["est_inter"] == 0.0
        assert rows["only_b"]["est_a"] == 0.0
        assert rows["only_b"]["jaccard"] == 0.0

    def test_empty_corpus_overlap_is_zero_both_engines(self, spark):
        """An EMPTY input corpus must read estimate 0.0, not NULL or
        the raw-estimator α·m: an un-coalesced empty register sum is
        NULL, and Spark's greatest SKIPS NULLs while DuckDB's
        propagates — the overlap row would diverge cross-engine
        (ADVICE r4)."""
        import duckdb
        from beats_spark.operators.sketch import hll_overlap_sql
        from pyspark.sql import functions as F

        empty = spark.createDataFrame([], "v string")
        full = spark.createDataFrame(
            [(f"z{i}",) for i in range(200)], "v string"
        )
        card = _cardinality(empty, F.col("v")).collect()[0]
        assert card["estimate"] == 0.0 and card["n_nonzero"] == 0

        row = hll_overlap_by(empty, full, [], F.col("v")).collect()[0]
        assert row["est_a"] == 0.0
        assert row["est_inter"] == 0.0
        assert row["jaccard"] == 0.0
        assert row["est_union"] == row["est_b"]

        con = duckdb.connect()
        con.execute("CREATE TABLE e(v VARCHAR)")
        con.execute("CREATE TABLE f(v VARCHAR)")
        con.executemany(
            "INSERT INTO f VALUES (?)", [(f"z{i}",) for i in range(200)]
        )
        dcard = con.execute(hll_cardinality_sql("e", "v")).fetchone()
        assert dcard[-1] == 0.0
        drow = con.execute(hll_overlap_sql("e", "v", "f", "v")).fetchone()
        srow = (row["est_a"], row["est_b"], row["est_union"],
                row["est_inter"], row["jaccard"])
        assert tuple(drow) == srow
