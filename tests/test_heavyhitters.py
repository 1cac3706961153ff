"""Heavy hitters / count-min / skew report (operators/heavyhitters.py)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from beats_spark.operators.heavyhitters import (
    cms_estimate,
    cms_estimate_sql,
    cms_registers,
    mg_candidates,
    skew_report,
    skew_report_sql,
    top_k_terms,
    top_k_terms_mg,
    top_k_terms_sql,
)


def _zipf_docs(spark, n_docs=200):
    """Deterministic Zipf-ish corpus: term t{j} appears ~N/j times."""
    rows = []
    for d in range(n_docs):
        toks = []
        for j in range(1, 40):
            if d % j == 0:
                toks.append(f"t{j}")
        rows.append((d, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestTopK:
    def test_exact_matches_duckdb(self, spark):
        df = _zipf_docs(spark)
        got = sorted(
            tuple(r) for r in top_k_terms(df, 10).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE d AS SELECT * FROM (VALUES "
            + ", ".join(
                f"({r['doc_id']}, '{r['text']}')" for r in df.collect()
            )
            + ") v(doc_id, text)"
        )
        want = sorted(con.execute(top_k_terms_sql("d", 10)).fetchall())
        assert got == want
        # rank 1 must be the universally-present term
        by_rank = {r[0]: r for r in got}
        assert by_rank[1][1] == "t1"

    def test_mg_equals_exact(self, spark):
        """Two-pass Misra–Gries returns the identical top-k — even
        with a capacity small enough that per-partition truncation
        fires (39 distinct terms, cap 8: k-th frequency N/k is far
        above N/(cap+1), the retention guarantee)."""
        df = _zipf_docs(spark).repartition(4)
        exact = top_k_terms(df, 5).collect()
        mg = top_k_terms_mg(df, 5, cap=8).collect()
        assert [tuple(r) for r in exact] == [tuple(r) for r in mg]

    def test_mg_candidate_bound(self, spark):
        """Pass 1 yields at most n_partitions × cap candidates."""
        df = _zipf_docs(spark).repartition(4)
        terms = df.select(
            F.explode(F.split("text", " ")).alias("term")
        )
        n = mg_candidates(terms, cap=8).count()
        assert n <= 4 * 8


class TestCMS:
    def test_overcount_only_and_exactness_without_collisions(self, spark):
        """CMS point estimates are ≥ the true count always, and equal
        to it when the width dwarfs the vocabulary (no collisions)."""
        df = _zipf_docs(spark)
        exact = {
            r["term"]: r["cnt"] for r in top_k_terms(df, 39).collect()
        }
        reg = cms_registers(df, depth=4, width=2048)
        probes = spark.createDataFrame(
            [(t,) for t in exact], "term string"
        )
        est = {
            r["term"]: r["est"]
            for r in cms_estimate(reg, probes, depth=4, width=2048).collect()
        }
        assert set(est) == set(exact)
        for t, c in exact.items():
            assert est[t] >= c
        assert est == exact  # width 2048 >> 39 distinct terms

    def test_register_merge_property(self, spark):
        """Registers built on disjoint halves SUM to the whole-corpus
        registers — the distributed-combine property (counters are
        linear, unlike HLL's max)."""
        df = _zipf_docs(spark)
        a = df.where(F.col("doc_id") % 2 == 0)
        b = df.where(F.col("doc_id") % 2 == 1)
        merged = sorted(
            tuple(r)
            for r in cms_registers(a)
            .unionByName(cms_registers(b))
            .groupBy("i", "j")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        )
        whole = sorted(tuple(r) for r in cms_registers(df).collect())
        assert merged == whole

    def test_duckdb_parity(self, spark):
        df = _zipf_docs(spark, n_docs=60)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE d AS SELECT * FROM (VALUES "
            + ", ".join(
                f"({r['doc_id']}, '{r['text']}')" for r in df.collect()
            )
            + ") v(doc_id, text)"
        )
        probes = top_k_terms(df, 10).select("term")
        got = sorted(
            tuple(r) for r in cms_estimate(cms_registers(df), probes).collect()
        )
        want = sorted(
            con.execute(
                cms_estimate_sql(
                    "d", f"SELECT term FROM ({top_k_terms_sql('d', 10)})"
                )
            ).fetchall()
        )
        assert got == want


class TestSkewReport:
    def test_values_and_duckdb_parity(self, spark):
        """One hot key (80% of rows) among uniform cold keys: the
        report sees it, and rec_salt ≈ max/mean."""
        rows = [(0,)] * 800 + [(k,) for k in range(1, 201)]
        df = spark.createDataFrame(rows, "k long")
        rep = {r["metric"]: r["value"] for r in skew_report(df, F.col("k")).collect()}
        assert rep["n_rows"] == 1000.0
        assert rep["n_keys"] == 201.0
        assert rep["max_cnt"] == 800.0
        assert rep["top1_share"] == 0.8
        assert rep["rec_salt"] == 161.0  # ceil(800 / (1000/201))
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t AS SELECT unnest(["
            + ",".join(str(k) for k, in rows)
            + "]) AS k"
        )
        want = dict(con.execute(skew_report_sql("t", "k")).fetchall())
        assert rep == want

    def test_uniform_needs_no_salt(self, spark):
        df = spark.createDataFrame(
            [(i % 50,) for i in range(1000)], "k long"
        )
        rep = {r["metric"]: r["value"] for r in skew_report(df, F.col("k")).collect()}
        assert rep["rec_salt"] == 1.0
        assert rep["p50"] == rep["p99"] == 20.0


class TestHistogramQuantiles:
    def test_interpolation_and_duckdb_parity(self, spark):
        from beats_spark.operators.heavyhitters import (
            histogram_quantiles_by,
            histogram_quantiles_by_sql,
        )

        vals = [(i % 97,) for i in range(1000)]
        df = spark.createDataFrame(vals, "v long")
        got = sorted(
            tuple(r)
            for r in histogram_quantiles_by(
                df, [], F.col("v"), [0.5, 0.9, 0.99], lo=0, hi=128
            ).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t AS SELECT unnest(["
            + ",".join(str(v) for v, in vals)
            + "]) AS v"
        )
        want = sorted(
            con.execute(
                histogram_quantiles_by_sql(
                    "t", [], "v", [0.5, 0.9, 0.99], 0, 128
                )
            ).fetchall()
        )
        assert got == want
        # with bin width 0.5 every value sits alone in its bin, so the
        # estimate is ~exact: values 0..29 appear 11x, 30..96 10x, so
        # position 499.5 of 1000 falls on value 46
        p50 = dict(got)[0.5]
        assert abs(p50 - 46.5) < 1.0

    def test_bins_merge_by_sum(self, spark):
        from beats_spark.operators.heavyhitters import histogram_bins

        df = spark.createDataFrame(
            [(i % 97,) for i in range(1000)], "v long"
        )
        a = df.where(F.col("v") % 2 == 0)
        b = df.where(F.col("v") % 2 == 1)
        merged = sorted(
            tuple(r)
            for r in histogram_bins(a, F.col("v"), 0, 128)
            .unionByName(histogram_bins(b, F.col("v"), 0, 128))
            .groupBy("bin")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        )
        whole = sorted(
            tuple(r)
            for r in histogram_bins(df, F.col("v"), 0, 128).collect()
        )
        assert merged == whole

    def test_out_of_range_clamps(self, spark):
        from beats_spark.operators.heavyhitters import histogram_bins

        df = spark.createDataFrame([(-5,), (999,)], "v long")
        bins = {
            r["bin"]: r["cnt"]
            for r in histogram_bins(df, F.col("v"), 0, 128, n_bins=8).collect()
        }
        assert bins == {0: 1, 7: 1}


class TestGroupedHistogramQuantiles:
    def test_grouped_equals_per_group_filter_and_duckdb(self, spark):
        """The per-group estimate must equal the sketch with no group
        columns on that group's rows; DuckDB twin matches row-for-row."""
        from beats_spark.operators.heavyhitters import (
            histogram_quantiles_by,
            histogram_quantiles_by_sql,
        )

        rows = [(f"g{i % 3}", (i * 7) % 97) for i in range(900)]
        df = spark.createDataFrame(rows, "g string, v long")
        got = sorted(
            tuple(r)
            for r in histogram_quantiles_by(
                df, ["g"], F.col("v"), [0.5, 0.99], lo=0, hi=128
            ).collect()
        )
        for g in ("g0", "g1", "g2"):
            solo = sorted(
                (g, r["q"], r["est"])
                for r in histogram_quantiles_by(
                    df.where(F.col("g") == g),
                    [],
                    F.col("v"),
                    [0.5, 0.99],
                    lo=0,
                    hi=128,
                ).collect()
            )
            assert [t for t in got if t[0] == g] == solo
        con = duckdb.connect()
        con.execute("CREATE TABLE t(g VARCHAR, v BIGINT)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        want = sorted(
            con.execute(
                histogram_quantiles_by_sql(
                    "t", ["g"], "v", [0.5, 0.99], 0, 128
                )
            ).fetchall()
        )
        assert got == want
