"""Training-data curation operators: PII redaction, quality filter,
connected components, decontamination, trained-IVF k-means."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beats_spark.operators.decontam import ngram_overlap
from beats_spark.operators.dedup import connected_components
from beats_spark.operators.redact import PII_PATTERNS, pii_counts, redact_text
from beats_spark.functions.textstats import QUALITY_RULES, quality_filter


class TestRedact:
    def test_each_kind_redacts(self, spark):
        df = spark.createDataFrame(
            [
                (1, "write to alice.smith+x@corp.example.org today"),
                (2, "card 4111 1111 1111 1111 on file"),
                (3, "ssn 123-45-6789 leaked"),
                (4, "call +1 (415) 555-0100 now"),
                (5, "host 192.168.10.250 down"),
                (6, "nothing sensitive here"),
            ],
            "id long, text string",
        )
        rows = {
            r["id"]: r["red"]
            for r in df.select(
                "id", redact_text(F.col("text")).alias("red")
            ).collect()
        }
        assert rows[1] == "write to [EMAIL] today"
        assert rows[2] == "card [CARD] on file"
        assert rows[3] == "ssn [SSN] leaked"
        assert rows[4] == "call [PHONE] now"
        assert rows[5] == "host [IPV4] down"
        assert rows[6] == "nothing sensitive here"

    def test_card_wins_over_phone(self, spark):
        # declaration order: a 16-digit card is not half-eaten as phone
        df = spark.createDataFrame(
            [("pay 4111-1111-1111-1111 ok",)], "text string"
        )
        out = df.select(redact_text(F.col("text")).alias("r")).first()["r"]
        assert out == "pay [CARD] ok"

    def test_counts_sum_to_substitutions(self, spark):
        df = spark.createDataFrame(
            [("a@b.co and c@d.io ip 1.2.3.4",)], "text string"
        )
        r = df.select(*pii_counts(F.col("text"))).first()
        assert r["n_email"] == 2 and r["n_ipv4"] == 1
        assert r["n_card"] == 0 and r["n_phone"] == 0 and r["n_ssn"] == 0

    def test_phone_never_matches_mid_digit_run(self, spark):
        # a serial number must not be half-redacted (leading digits
        # leaking around a [PHONE] tag)
        df = spark.createDataFrame(
            [("ref 91234-567-8901 is an order id",)], "text string"
        )
        out = df.select(redact_text(F.col("text")).alias("r")).first()["r"]
        assert out == "ref 91234-567-8901 is an order id"

    def test_patterns_are_re2_safe(self):
        # the DuckDB oracle runs the same strings through RE2: no
        # lookarounds or backreferences allowed
        for pat in PII_PATTERNS.values():
            assert "(?=" not in pat and "(?<" not in pat and "\\1" not in pat


class TestQualityFilter:
    def test_rules_and_keep(self, spark):
        good = "the quick brown fox jumps over the lazy dog again and again"
        df = spark.createDataFrame(
            [
                (1, good),
                (2, "word " * 2),             # too few tokens
                (3, "zz qq ww ee rr tt yy"),  # no stopwords
                (4, good + " !!!" * 40),      # punctuation soup
            ],
            "id long, text string",
        )
        rules = quality_filter(F.col("text"))
        rows = {
            r["id"]: r
            for r in df.select(
                "id", *[c.alias(n) for n, c in rules.items()]
            ).collect()
        }
        assert rows[1]["keep"] is True
        assert rows[2]["r_len"] is False and rows[2]["keep"] is False
        assert rows[3]["r_stop"] is False and rows[3]["keep"] is False
        assert rows[4]["r_punct"] is False and rows[4]["keep"] is False

    def test_df_variant_matches_and_materializes_once(self, spark):
        from beats_spark.functions.textstats import quality_filter_df

        good = "the quick brown fox jumps over the lazy dog again and again"
        df = spark.createDataFrame(
            [(1, good), (2, "word word")], "doc_id long, text string"
        )
        rules = quality_filter(F.col("text"))
        inline = {
            r["doc_id"]: tuple(r[n] for n in rules)
            for r in df.select(
                "doc_id", *[c.alias(n) for n, c in rules.items()]
            ).collect()
        }
        staged = {
            r["doc_id"]: tuple(r[n] for n in rules)
            for r in quality_filter_df(df).collect()
        }
        assert staged == inline
        # the staged plan tokenizes once per FEATURE; the inline form
        # re-inlines the feature subtrees into every rule AND keep
        def tokenizations(dfx) -> int:
            return str(dfx._jdf.queryExecution().optimizedPlan()).count(
                "split(trim"
            )

        staged_n = tokenizations(quality_filter_df(df))
        inline_n = tokenizations(
            df.select("doc_id", *[c.alias(n) for n, c in rules.items()])
        )
        assert staged_n < inline_n
        assert staged_n <= 5  # the feature projection's own tokenizations

    def test_thresholds_exported(self):
        assert set(QUALITY_RULES) == {
            "min_tokens", "max_tokens", "min_mean_token_len",
            "max_mean_token_len", "max_punct_ratio", "min_stopword_ratio",
        }


class TestConnectedComponents:
    def test_chain_and_singleton(self, spark):
        # 1-2, 2-3 chain plus isolated 9: one 3-cluster, one singleton
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "id_a long, id_b long"
        )
        verts = spark.createDataFrame(
            [(1,), (2,), (3,), (9,)], "doc_id long"
        )
        out = {
            r["doc_id"]: (r["component_id"], r["component_size"])
            for r in connected_components(pairs, verts).collect()
        }
        assert out[1] == (1, 3) and out[2] == (1, 3) and out[3] == (1, 3)
        assert out[9] == (9, 1)

    def test_long_chain_converges(self, spark):
        n = 12
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a long, id_b long"
        )
        verts = spark.createDataFrame([(i,) for i in range(n + 1)], "doc_id long")
        out = connected_components(pairs, verts).collect()
        assert {r["component_id"] for r in out} == {0}
        assert all(r["component_size"] == n + 1 for r in out)

    def test_chain_longer_than_round_budget_converges(self, spark):
        # ADVICE r2: a 60-hop duplicate chain needs 60 one-hop rounds —
        # pointer doubling must close it in ceil(log2(60))+O(1) ≈ 7
        n = 60
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a long, id_b long"
        )
        verts = spark.createDataFrame(
            [(i,) for i in range(n + 1)], "doc_id long"
        )
        out = connected_components(pairs, verts, max_iter=10).collect()
        assert {r["component_id"] for r in out} == {0}
        assert all(r["component_size"] == n + 1 for r in out)

    def test_nonconvergence_raises(self, spark):
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        verts = spark.createDataFrame([(1,), (2,)], "doc_id long")
        with pytest.raises(RuntimeError, match="converge"):
            connected_components(pairs, verts, max_iter=0)


class TestDecontam:
    def test_overlap_flags(self, spark):
        bench = spark.createDataFrame(
            [(100, "the capital of france is paris obviously")],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [
                (1, "we know the capital of france is paris"),  # shares 4-grams
                (2, "completely different words entirely here now"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (r["n_overlap"], r["contaminated"])
            for r in ngram_overlap(corpus, bench, n=4).collect()
        }
        assert out[1][0] >= 2 and out[1][1] is True
        assert out[2] == (0, False)

    def test_frac_rule_hand_computed(self, spark):
        from beats_spark.operators.decontam import ngram_overlap_frac

        # corpus doc 1: tokens a b c d e -> 2-grams {a b, b c, c d, d e}
        # bench shares exactly one of them ("c d") -> frac = 1/4
        bench = spark.createDataFrame(
            [(100, "x c d y")], "doc_id long, text string"
        )
        corpus = spark.createDataFrame(
            [(1, "a b c d e"), (2, "p q r s"), (3, "")],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in ngram_overlap_frac(
                corpus, bench, n=2, frac_num=1, frac_den=4
            ).collect()
        }
        assert out[1]["n_total"] == 4 and out[1]["n_overlap"] == 1
        assert out[1]["frac"] == 0.25 and out[1]["contaminated"] is True
        assert out[2]["n_overlap"] == 0 and out[2]["contaminated"] is False
        # empty text: shingles() yields ONE whole-text shingle ("") for
        # short docs (lock-step with the SQL twin), so n_total is 1 and
        # the doc is clean unless the bench holds that same shingle
        assert out[3]["n_total"] == 1 and out[3]["n_overlap"] == 0
        assert out[3]["contaminated"] is False
        # stricter threshold (1/2) un-flags doc 1; integer cross-multiply
        strict = {
            r["doc_id"]: r["contaminated"]
            for r in ngram_overlap_frac(
                corpus, bench, n=2, frac_num=1, frac_den=2
            ).collect()
        }
        assert strict[1] is False

    def test_frac_counts_distinct_grams(self, spark):
        from beats_spark.operators.decontam import ngram_overlap_frac

        # repeated gram "a b" counts ONCE in both total and overlap
        bench = spark.createDataFrame(
            [(9, "a b")], "doc_id long, text string"
        )
        corpus = spark.createDataFrame(
            [(1, "a b a b a b")], "doc_id long, text string"
        )
        row = ngram_overlap_frac(corpus, bench, n=2).collect()[0]
        # 2-grams of 'a b a b a b': {a b, b a} distinct
        assert row["n_total"] == 2 and row["n_overlap"] == 1

    def test_fuzzy_flags_paraphrase_not_exact_grams(self, spark):
        """A lightly edited benchmark copy shares most shingles (so it
        LSH-collides) while a genuinely different doc never does."""
        from beats_spark.operators.decontam import fuzzy_contamination

        bench_text = (
            "what is the boiling point of water at sea level in celsius"
        )
        bench = spark.createDataFrame(
            [(100, bench_text)], "doc_id long, text string"
        )
        corpus = spark.createDataFrame(
            [
                # near-copy: one appended word — shingle sets almost equal
                (1, bench_text + " today"),
                (2, "entirely unrelated prose about medieval castle sieges"
                    " and trebuchet engineering practices"),
                (3, ""),  # shingle-less: empty band-key array, never hits
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in fuzzy_contamination(corpus, bench).collect()
        }
        assert out[1]["contaminated"] is True and out[1]["n_band_hits"] >= 1
        assert out[2] is not None and out[2]["contaminated"] is False
        assert out[3]["n_band_hits"] == 0 and out[3]["contaminated"] is False

    def test_fuzzy_benchmark_side_broadcast(self, spark):
        """Plan shape: the benchmark band-key set must broadcast — the
        corpus is never re-keyed by band key in an exchange."""
        from beats_spark.operators.decontam import fuzzy_contamination

        bench = spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta")],
            "doc_id long, text string",
        )
        plan = fuzzy_contamination(corpus, bench)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestTemperatureMix:
    def test_units_and_rates_alpha_half(self, spark):
        from beats_spark.operators.sampling import (
            TEMP_UNIT,
            temperature_mix_rates,
        )

        # strata token masses: big=16 tokens over 4 docs, small=4 over 2
        rows = [(i, "big", "t t t t") for i in range(4)]
        rows += [(10 + i, "small", "t t") for i in range(2)]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        rates = {
            r["source"]: r
            for r in temperature_mix_rates(
                df, budget=10, alpha=0.5, strata_col="source"
            ).collect()
        }
        import math

        u_big = math.floor(math.sqrt(16.0) * TEMP_UNIT)
        u_small = math.floor(math.sqrt(4.0) * TEMP_UNIT)
        assert rates["big"]["units"] == u_big
        assert rates["small"]["units"] == u_small
        tot = u_big + u_small
        assert rates["big"]["rate"] == min(1.0, (u_big / tot) * 10.0 / 16)
        assert rates["small"]["rate"] == min(1.0, (u_small / tot) * 10.0 / 4)
        # temperature flattens: small stratum's rate exceeds big's
        assert rates["small"]["rate"] > rates["big"]["rate"]

    def test_alpha_one_is_natural_and_invalid_alpha_raises(self, spark):
        import pytest as _pytest

        from beats_spark.operators.sampling import (
            temperature_mix_rates,
        )

        rows = [(i, "a", "t t t") for i in range(3)]
        rows += [(10 + i, "b", "t") for i in range(9)]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        rates = {
            r["source"]: r["rate"]
            for r in temperature_mix_rates(
                df, budget=6, alpha=1.0, strata_col="source"
            ).collect()
        }
        # alpha=1: rate = (n_s/N)*budget/n_s = budget/N, equal everywhere
        assert rates["a"] == rates["b"]
        with _pytest.raises(ValueError):
            temperature_mix_rates(df, budget=6, alpha=0.3)

    def test_mix_membership_deterministic(self, spark):
        from beats_spark.operators.sampling import temperature_mix

        rows = [(i, "s%d" % (i % 3), "w " * (1 + i % 7)) for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        a = sorted(
            (r["doc_id"], r["source"])
            for r in temperature_mix(df, budget=40).collect()
        )
        b = sorted(
            (r["doc_id"], r["source"])
            for r in temperature_mix(df.repartition(7), budget=40).collect()
        )
        assert a == b and 0 < len(a) < 60


class TestSamplingPacking:
    def test_stratified_rates_and_determinism(self, spark):
        from beats_spark.operators.sampling import stratified_sample

        df = spark.createDataFrame(
            [(i, "en" if i % 2 == 0 else "fr") for i in range(2000)],
            "doc_id long, lang string",
        )
        out1 = stratified_sample(df, {"en": 0.2, "fr": 1.0})
        got = {
            r["lang"]: r["n"]
            for r in out1.groupBy("lang").agg(F.count("*").alias("n")).collect()
        }
        assert got["fr"] == 1000  # rate 1.0 keeps everything
        assert 120 <= got["en"] <= 280  # ~20% of 1000, hash-uniform
        # deterministic: identical keep-set on a rerun AND after a
        # repartition (df.sample guarantees neither)
        ids1 = {r["doc_id"] for r in out1.collect()}
        ids2 = {
            r["doc_id"]
            for r in stratified_sample(
                df.repartition(7), {"en": 0.2, "fr": 1.0}
            ).collect()
        }
        assert ids1 == ids2

    def test_nonrepresentable_rate_matches_oracle(self, spark):
        # ADVICE r2: 0.29 * 1e6 = 289999.99…; Spark's long-cast
        # truncates while DuckDB's BIGINT cast rounds half-to-even —
        # both sides must floor() explicitly for the same keep boundary
        import duckdb

        from beats_spark.operators.sampling import (
            stratified_sample,
            stratified_sample_sql,
        )

        df = spark.createDataFrame(
            [(i, "en") for i in range(5000)], "doc_id long, lang string"
        )
        spark_ids = sorted(
            r["doc_id"] for r in stratified_sample(df, {"en": 0.29}).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE docs AS SELECT range AS doc_id, 'en' AS lang"
            " FROM range(5000)"
        )
        sql = stratified_sample_sql("docs", {"en": 0.29})
        oracle_ids = sorted(
            r[0] for r in con.execute(
                f"SELECT doc_id FROM ({sql})"
            ).fetchall()
        )
        assert spark_ids == oracle_ids
        assert 1200 <= len(spark_ids) <= 1700

    def test_default_rate_zero_drops_unlisted(self, spark):
        from beats_spark.operators.sampling import stratified_sample

        df = spark.createDataFrame(
            [(1, "xx"), (2, "en")], "doc_id long, lang string"
        )
        out = stratified_sample(df, {"en": 1.0}).collect()
        assert [r["lang"] for r in out] == ["en"]

    def test_pack_sequences_contiguous_fill(self, spark):
        from beats_spark.operators.sampling import pack_sequences

        rows = [
            ("s1", 0, "a " * 100),  # 100 tokens -> pack 0 (prefix 0)
            ("s1", 1, "b " * 100),  # prefix 100 -> pack 0
            ("s1", 2, "c " * 100),  # prefix 200 -> pack 0 (crosses edge)
            ("s1", 3, "d " * 100),  # prefix 300 -> pack 1
            ("s2", 0, "e " * 10),   # fresh group -> pack 0
        ]
        df = spark.createDataFrame(rows, "source string, doc_id int, text string")
        out = {
            (r["source"], r["doc_id"]): r["pack_id"]
            for r in pack_sequences(df, token_budget=256).collect()
        }
        assert out[("s1", 0)] == 0 and out[("s1", 1)] == 0
        assert out[("s1", 2)] == 0  # first token inside budget
        assert out[("s1", 3)] == 1
        assert out[("s2", 0)] == 0

    def test_histogram_pack_no_split_invariants(self, spark):
        """NFD histogram packing: no pack over budget, every doc in
        exactly one pack, ids dense from 0, and a doc longer than the
        budget is clamped to a full pack of its own."""
        import random

        from beats_spark.operators.sampling import histogram_pack

        random.seed(5)
        rows = [(i, "w " * random.randint(0, 50)) for i in range(300)]
        rows.append((300, "w " * 99))  # over budget -> clamped to 32
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = histogram_pack(df, token_budget=32).collect()
        assert len(out) == 301 and len({r["doc_id"] for r in out}) == 301
        fills: dict[int, int] = {}
        for r in out:
            fills[r["pack_id"]] = fills.get(r["pack_id"], 0) + r["eff_len"]
        assert max(fills.values()) <= 32
        assert sorted(fills) == list(range(len(fills)))
        over = next(r for r in out if r["doc_id"] == 300)
        assert over["n_tokens"] == 99 and over["eff_len"] == 32
        assert fills[over["pack_id"]] == 32

    def test_histogram_pack_hand_case_and_fold(self, spark):
        """B=6, lengths [5,5,3,2,2,1] -> packs [5],[5],[3,2],[2,1]
        (hand-derived NFD), and the driver fold emits the matching
        per-length slot table."""
        from beats_spark.operators.sampling import _nfd_fold, histogram_pack

        assert _nfd_fold([(5, 2), (3, 1), (2, 2), (1, 1)], 6) == [
            {"len": 5, "prev_open_id": -1, "fit_open": 0,
             "per_full": 1, "first_new_id": 0},
            {"len": 3, "prev_open_id": -1, "fit_open": 0,
             "per_full": 2, "first_new_id": 2},
            {"len": 2, "prev_open_id": 2, "fit_open": 1,
             "per_full": 3, "first_new_id": 3},
            {"len": 1, "prev_open_id": 3, "fit_open": 1,
             "per_full": 6, "first_new_id": 4},
        ]
        lens = [5, 5, 3, 2, 2, 1]
        df = spark.createDataFrame(
            [(i, "w " * ln) for i, ln in enumerate(lens)],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["pack_id"]
               for r in histogram_pack(df, token_budget=6).collect()}
        assert out == {0: 0, 1: 1, 2: 2, 3: 2, 4: 3, 5: 3}

    def test_histogram_pack_duckdb_parity(self, spark):
        """The WITH RECURSIVE twin reproduces the Spark assignment
        hash-for-hash on randomized lengths."""
        import random

        import duckdb

        from beats_spark.operators.sampling import (
            histogram_pack,
            histogram_pack_sql,
        )

        random.seed(11)
        rows = [(i, " ".join(["w"] * random.randint(0, 40)))
                for i in range(400)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(
            (r["doc_id"], r["n_tokens"], r["eff_len"], r["pack_id"])
            for r in histogram_pack(df, token_budget=32).collect()
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?,?)", rows)
        ora = sorted(
            tuple(r)
            for r in con.sql(
                histogram_pack_sql("docs", token_budget=32)
            ).fetchall()
        )
        assert got == ora

    def test_histogram_pack_salted_rank(self, spark):
        """rank_buckets: the two-level hash-bucketed rank (the hot-
        length skew path) keeps every no-split invariant, matches its
        DuckDB twin hash-for-hash, and keys the corpus window by
        (eff_len, bucket) instead of bare eff_len."""
        import random

        import duckdb

        from beats_spark.operators.sampling import (
            histogram_pack,
            histogram_pack_sql,
        )

        random.seed(23)
        # hot length: half the corpus is exactly 7 tokens
        rows = [
            (i, "w " * (7 if i % 2 else random.randint(1, 30)))
            for i in range(300)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = histogram_pack(df, token_budget=32, rank_buckets=4)
        got = sorted(
            (r["doc_id"], r["n_tokens"], r["eff_len"], r["pack_id"])
            for r in out.collect()
        )
        fills: dict[int, int] = {}
        for _, _, el, p in got:
            fills[p] = fills.get(p, 0) + el
        assert max(fills.values()) <= 32
        assert sorted(fills) == list(range(len(fills)))
        con = duckdb.connect()
        con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?,?)", rows)
        ora = sorted(
            tuple(r)
            for r in con.sql(
                histogram_pack_sql("docs", token_budget=32, rank_buckets=4)
            ).fetchall()
        )
        assert got == ora
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(eff_len" in plan and "_rb" in plan


class TestKmeansIvf:
    def test_deterministic_and_partitions_all(self, spark):
        from beats_spark.operators.similarity import kmeans_ivf

        rows = [
            (i, [float((i * 7 + j * 3) % 13) / 13.0 for j in range(8)])
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        a = {(r["vec_id"], r["cell"]) for r in kmeans_ivf(df, k=4, iters=2).collect()}
        b = {(r["vec_id"], r["cell"]) for r in kmeans_ivf(df, k=4, iters=2).collect()}
        assert a == b  # bit-identical across runs
        assert len(a) == 40  # every vector assigned exactly once
        assert {c for _, c in a} <= {1, 2, 3, 4}

    def test_training_moves_centroids(self, spark):
        from beats_spark.operators.similarity import kmeans_ivf

        # two tight blobs far apart: after training, assignment must
        # split exactly along the blobs regardless of seed placement
        rows = [(i, [0.0 + (i % 3) * 0.01] * 4) for i in range(10)] + [
            (i, [100.0 + (i % 3) * 0.01] * 4) for i in range(10, 20)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = kmeans_ivf(df, k=2, iters=2).collect()
        cells_low = {r["cell"] for r in out if r["vec_id"] < 10}
        cells_high = {r["cell"] for r in out if r["vec_id"] >= 10}
        assert len(cells_low) == 1 and len(cells_high) == 1
        assert cells_low != cells_high


class TestMultiProbeIvf:
    def test_probe1_matches_assign_and_recall_grows(self, spark):
        from beats_spark.operators.dedup import norm_text  # noqa: F401
        from beats_spark.operators.similarity import (
            ann_ivf_topk_multi,
            brute_force_topk,
            ivf_assign,
            ivf_centroid,
            ivf_probe_cells,
        )

        rows = [
            (i, [float((i * 13 + j * 5) % 17) / 17.0 for j in range(8)])
            for i in range(120)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cents = [ivf_centroid(8, i) for i in range(4)]
        both = df.select(
            ivf_assign(F.col("embedding"), cents).alias("a"),
            ivf_probe_cells(F.col("embedding"), cents, 2).alias("p"),
        ).collect()
        for r in both:
            assert r["p"][0] == r["a"]  # first probe == the assignment
            assert len(r["p"]) == 2 and r["p"][1] != r["p"][0]

        qids = [0, 7, 33]
        exact = {
            (r["q_id"], r["neighbor_id"])
            for r in brute_force_topk(df, qids, k=5).collect()
        }

        def recall(nprobe: int) -> float:
            got = {
                (r["q_id"], r["neighbor_id"])
                for r in ann_ivf_topk_multi(
                    df, qids, k=5, nprobes=(nprobe,), n_centroids=4, dim=8
                ).collect()
            }
            return len(got & exact) / len(exact)

        r1, r2 = recall(1), recall(2)
        assert r2 >= r1  # more probes never lose recall
        assert r2 > 0


class TestRepetition:
    """Gopher repetition signals (Rae et al. 2021 Table A1;
    textstats.repetition_features / ngram_repetition_df)."""

    FIXTURE = [
        # 3 of 4 lines identical: dup_line 0.5, dup chars 9/15
        (1, "abc\nabc\ndef\nabc"),
        # heavy 2-gram repetition: top 'x y' 3x, dup capped at 1.0
        (2, "x y x y x y"),
        # too short for any 2-gram
        (3, "hello"),
        # empty doc: every fraction 0 (nc floor of 1 divides)
        (4, ""),
    ]

    def _fixture_df(self, spark):
        return spark.createDataFrame(self.FIXTURE, "doc_id long, text string")

    def test_hand_computed_fractions(self, spark):
        from beats_spark.functions.textstats import repetition_features

        feats = repetition_features(F.col("text"))
        rows = {
            r["doc_id"]: r
            for r in self._fixture_df(spark)
            .select("doc_id", *[c.alias(n) for n, c in feats.items()])
            .collect()
        }
        a = rows[1]
        assert a["dup_line_frac"] == 0.5           # 1 - 2/4
        assert a["dup_line_char_frac"] == 0.6      # 3 dup lines x 3 chars / 15
        assert a["top_2gram_char_frac"] == 0.466667  # all unique: 1 x 7 / 15
        assert a["dup_2gram_char_frac"] == 0.0
        b = rows[2]
        assert b["dup_line_frac"] == 0.0
        assert b["top_2gram_char_frac"] == 0.818182  # 'x y' 3x len 3 / 11
        assert b["dup_2gram_char_frac"] == 1.0       # 9 + 6 > 11, capped
        c = rows[3]
        assert c["top_2gram_char_frac"] == 0.0       # no 2-grams at all
        d = rows[4]
        assert all(d[n] == 0.0 for n in feats)

    def test_exploded_path_matches_column_path(self, spark):
        from beats_spark.functions.textstats import (
            ngram_repetition_df,
            repetition_features,
        )

        df = self._fixture_df(spark)
        feats = repetition_features(F.col("text"))
        names = sorted(feats)
        inline = {
            r["doc_id"]: tuple(r[n] for n in names)
            for r in df.select(
                "doc_id", *[c.alias(n) for n, c in feats.items()]
            ).collect()
        }
        exploded = {
            r["doc_id"]: tuple(r[n] for n in names)
            for r in ngram_repetition_df(df).collect()
        }
        assert exploded == inline

    def test_rules_and_keep(self, spark):
        from beats_spark.functions.textstats import (
            repetition_features,
            repetition_rules_over,
        )

        feats = repetition_features(F.col("text"))
        rules = repetition_rules_over(feats)
        rows = {
            r["doc_id"]: r
            for r in self._fixture_df(spark)
            .select("doc_id", *[c.alias(n) for n, c in rules.items()])
            .collect()
        }
        assert rows[1]["r_dup_line"] is False      # 0.5 > 0.30
        assert rows[1]["r_dup_line_chars"] is False
        assert rows[1]["keep"] is False
        assert rows[2]["r_top_2gram"] is False     # 0.818 > 0.20
        assert rows[2]["r_dup_2gram"] is False     # 1.0 > 0.30
        assert rows[3]["keep"] is True
        assert rows[4]["keep"] is True

    def test_duckdb_oracle_matches(self, spark, tmp_path):
        duckdb = pytest.importorskip("duckdb")
        from beats_spark.functions.textstats import (
            ngram_repetition_df,
            repetition_oracle,
            repetition_rules_over,
        )

        df = self._fixture_df(spark)
        path = str(tmp_path / "docs.parquet")
        df.coalesce(1).write.parquet(path)

        names = (
            "dup_line_frac",
            "dup_line_char_frac",
            "top_2gram_char_frac",
            "top_3gram_char_frac",
            "dup_2gram_char_frac",
        )
        stats = ngram_repetition_df(df)
        rules = repetition_rules_over({n: F.col(n) for n in names})
        got = {
            r["doc_id"]: tuple(r[c] for c in (*names, *rules))
            for r in stats.select(
                "doc_id", *names, *[c.alias(k) for k, c in rules.items()]
            ).collect()
        }
        sql = repetition_oracle(f"parquet_scan('{path}/*.parquet')")
        want = {row[0]: tuple(row[1:]) for row in duckdb.sql(sql).fetchall()}
        assert got == want


class TestRepresentatives:
    def test_keep_best_quality_ties_min_id(self, spark):
        from beats_spark.operators.dedup import select_representatives

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
        )
        docs = spark.createDataFrame(
            [
                (1, "a b"),            # 2 tokens
                (2, "a b c d e"),      # 5 tokens — cluster {1,2,3} rep
                (3, "a"),
                (5, "x y z"),          # ties with 6 at 3 tokens → min id 5
                (6, "p q r"),
                (9, "lone doc"),       # singleton: its own rep
            ],
            "doc_id long, text string",
        )
        comp = connected_components(pairs, docs)
        out = {
            r["doc_id"]: (r["rep_id"], r["is_representative"])
            for r in select_representatives(comp, docs).collect()
        }
        assert out[1] == (2, False) and out[2] == (2, True)
        assert out[3] == (2, False)
        assert out[5] == (5, True) and out[6] == (5, False)
        assert out[9] == (9, True)

    def test_custom_quality_column(self, spark):
        from beats_spark.operators.dedup import select_representatives

        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        docs = spark.createDataFrame(
            [(1, "long long long text", 1), (2, "short", 9)],
            "doc_id long, text string, score long",
        )
        comp = connected_components(pairs, docs)
        out = {
            r["doc_id"]: r["rep_id"]
            for r in select_representatives(
                comp, docs, quality=F.col("score")
            ).collect()
        }
        assert out[1] == 2 and out[2] == 2  # score beats length


class TestShards:
    def test_assign_deterministic_balanced_positions(self, spark):
        from beats_spark.operators.sampling import assign_shards

        df = spark.createDataFrame(
            [(i, f"text {i}") for i in range(2000)], "doc_id long, text string"
        )
        out = assign_shards(df, n_shards=8).collect()
        by_shard: dict[int, list] = {}
        for r in out:
            assert 0 <= r["shard"] < 8
            by_shard.setdefault(r["shard"], []).append(r)
        # hash-uniform balance: each shard within 2x of fair share
        for rows in by_shard.values():
            assert 125 <= len(rows) <= 500
        # positions are 0..n-1 contiguous and follow hash order
        for rows in by_shard.values():
            rows.sort(key=lambda r: r["shard_pos"])
            assert [r["shard_pos"] for r in rows] == list(range(len(rows)))
            keys = [(r["shuffle_key"], r["doc_id"]) for r in rows]
            assert keys == sorted(keys)
        # the permutation actually shuffles: within-shard hash order
        # is not the input doc_id order
        big = max(by_shard.values(), key=len)
        assert [r["doc_id"] for r in big] != sorted(r["doc_id"] for r in big)
        # deterministic across reruns and input partitioning
        again = {
            (r["doc_id"], r["shard"], r["shard_pos"])
            for r in assign_shards(df.repartition(7), n_shards=8).collect()
        }
        assert again == {(r["doc_id"], r["shard"], r["shard_pos"]) for r in out}

    def test_write_shards_files_in_shuffle_order(self, spark, tmp_path):
        import duckdb

        from beats_spark.operators.sampling import assign_shards, write_shards

        df = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(500)], "doc_id long, text string"
        )
        path = str(tmp_path / "shards")
        write_shards(df, path, n_shards=4)
        want = {
            (r["shard"], r["shard_pos"]): r["doc_id"]
            for r in assign_shards(df, n_shards=4).collect()
        }
        # independent reader: every shard directory holds exactly the
        # assigned docs, physically ordered by the permutation
        for shard in range(4):
            rows = duckdb.sql(
                f"SELECT doc_id, shuffle_key FROM"
                f" parquet_scan('{path}/shard={shard}/*.parquet',"
                f"   filename=1, file_row_number=1)"
                f" ORDER BY filename, file_row_number"
            ).fetchall()
            n = len(rows)
            assert [d for d, _ in rows] == [
                want[(shard, p)] for p in range(n)
            ]
            assert rows == sorted(rows, key=lambda t: (t[1], t[0]))


    def test_epoch_salt_fresh_permutation(self, spark, tmp_path):
        import duckdb

        from beats_spark.operators.sampling import (
            assign_shards,
            assign_shards_sql,
        )

        df = spark.createDataFrame(
            [(i, f"text {i}") for i in range(400)], "doc_id long, text string"
        )
        e0 = {
            r["doc_id"]: (r["shard"], r["shard_pos"])
            for r in assign_shards(df, n_shards=4, epoch=0).collect()
        }
        e1 = {
            r["doc_id"]: (r["shard"], r["shard_pos"])
            for r in assign_shards(df, n_shards=4, epoch=1).collect()
        }
        # a genuinely different permutation (most docs move)
        moved = sum(1 for k in e0 if e0[k] != e1[k])
        assert moved > 300
        # but each epoch is itself deterministic
        again = {
            r["doc_id"]: (r["shard"], r["shard_pos"])
            for r in assign_shards(df.repartition(5), n_shards=4, epoch=1)
            .collect()
        }
        assert again == e1
        # and cross-engine: DuckDB derives the identical epoch-1 layout
        path = str(tmp_path / "docs")
        df.write.parquet(path)
        sql = assign_shards_sql(
            f"parquet_scan('{path}/*.parquet')", n_shards=4,
            cols="doc_id, text", epoch=1,
        )
        want = {
            r[0]: (r[3], r[4])
            for r in duckdb.sql(
                f"SELECT doc_id, text, shuffle_key, shard, shard_pos"
                f" FROM ({sql})"
            ).fetchall()
        }
        assert want == e1


    def test_write_shards_jsonl_gzip(self, spark, tmp_path):
        import glob
        import gzip
        import json

        from beats_spark.operators.sampling import assign_shards, write_shards

        # row 0 carries a NULL text: the jsonl codec must still emit
        # the key (ignoreNullFields=false) so every line has the same
        # schema — a fixed-schema trainer loader breaks otherwise
        df = spark.createDataFrame(
            [(i, None if i == 0 else f"doc {i}") for i in range(300)],
            "doc_id long, text string",
        )
        path = str(tmp_path / "jl")
        write_shards(df, path, n_shards=3, fmt="jsonl")
        want = {}
        for r in assign_shards(df, n_shards=3).collect():
            want.setdefault(r["shard"], []).append((r["shard_pos"], r["doc_id"]))
        for shard, seq in want.items():
            rows = []
            for f in sorted(glob.glob(f"{path}/shard={shard}/*.txt.gz")):
                with gzip.open(f, "rt") as fh:
                    rows += [json.loads(line) for line in fh]
            # payload carries ONLY the original columns, in shuffle order
            assert all(set(r) == {"doc_id", "text"} for r in rows)
            assert [r["doc_id"] for r in rows] == [
                d for _, d in sorted(seq)
            ]

        with pytest.raises(ValueError):
            write_shards(df, path, n_shards=3, fmt="orc2")


class TestBloomDedup:
    def test_no_false_negatives_and_oracle_parity(self, spark):
        import duckdb

        from beats_spark.operators.dedup import (
            bloom_dedup_flags,
            bloom_dedup_sql,
        )

        hist = spark.createDataFrame(
            [(i, f"historical doc {i}") for i in range(300)],
            "doc_id long, text string",
        )
        # new batch: 0-49 are re-ingested hist docs (whitespace/case
        # variants — norm_text must equate them), 1000+ are novel
        new = spark.createDataFrame(
            [(1000 + i, f"  Historical DOC {i} ") for i in range(50)]
            + [(2000 + i, f"genuinely new doc {i}") for i in range(50)],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["maybe_dup"]
            for r in bloom_dedup_flags(new, hist).collect()
        }
        # Bloom guarantee: every true duplicate IS flagged
        assert all(got[1000 + i] for i in range(50))
        # novel docs are mostly clean (false positives allowed but
        # must be rare at 16K bits / 300 keys)
        fp = sum(1 for i in range(50) if got[2000 + i])
        assert fp <= 2
        # cross-engine: DuckDB reproduces the flags EXACTLY, false
        # positives included (position-set membership == bitmap test)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE hist AS SELECT range AS doc_id,"
            " 'historical doc ' || range AS text FROM range(300)"
        )
        con.execute(
            "CREATE TABLE newb AS "
            "SELECT 1000 + range AS doc_id,"
            " '  Historical DOC ' || range || ' ' AS text FROM range(50) "
            "UNION ALL SELECT 2000 + range,"
            " 'genuinely new doc ' || range FROM range(50)"
        )
        sql = bloom_dedup_sql("SELECT * FROM newb", "SELECT * FROM hist")
        want = dict(con.execute(sql).fetchall())
        assert got == want

    def test_bitmap_is_filter_sized(self, spark):
        from beats_spark.operators.dedup import BLOOM_M, bloom_build, norm_text

        df = spark.createDataFrame(
            [(i, f"d {i}") for i in range(100)], "doc_id long, text string"
        )
        words = bloom_build(df, norm_text(F.col("text")))
        assert len(words) == BLOOM_M // 64
        assert any(w != 0 for w in words)


class TestBloomJoinPath:
    """bloom_flag_join — the scale path for membership: same md5
    probes as the literal path, but the bitmap arrives as k broadcast
    equi-joins against the (w, bits) words table, so m >= 2^24 never
    becomes a plan-literal array."""

    def test_bit_identical_to_literal_path(self, spark):
        from beats_spark.operators.dedup import (
            bloom_build,
            bloom_flag_join,
            bloom_maybe_contains,
            bloom_words_df,
            norm_text,
        )
        from pyspark.sql import functions as F

        hist = spark.createDataFrame(
            [(i, f"historical doc {i}") for i in range(300)],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(1000 + i, f"historical doc {i}") for i in range(50)]
            + [(2000 + i, f"new doc {i}") for i in range(50)]
            + [(3000, None)],  # NULL key stays NULL on both paths
            "doc_id long, text string",
        )
        bitmap = bloom_build(hist, norm_text(F.col("text")))
        lit = {
            r["doc_id"]: r["maybe_dup"]
            for r in new.select(
                "doc_id",
                bloom_maybe_contains(norm_text(F.col("text")), bitmap).alias(
                    "maybe_dup"
                ),
            ).collect()
        }
        join = {
            r["doc_id"]: r["maybe_dup"]
            for r in bloom_flag_join(
                new,
                norm_text(F.col("text")),
                bloom_words_df(spark, bitmap),
            )
            .select("doc_id", "maybe_dup")
            .collect()
        }
        assert lit == join
        assert lit[3000] is None

    def test_big_m_membership_without_plan_literal(self, spark):
        from beats_spark.operators.dedup import (
            BLOOM_K,
            bloom_build,
            bloom_flag_join,
            bloom_words_df,
            norm_text,
        )
        from pyspark.sql import functions as F

        m = 1 << 24  # 16M bits: the literal path would inline 262k lits
        hist = spark.createDataFrame(
            [(i, f"historical doc {i}") for i in range(2000)],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(1000_0 + i, f"historical doc {i}") for i in range(200)]
            + [(2000_0 + i, f"fresh doc {i}") for i in range(200)],
            "doc_id long, text string",
        )
        bitmap = bloom_build(hist, norm_text(F.col("text")), m=m)
        out = bloom_flag_join(
            new, norm_text(F.col("text")), bloom_words_df(spark, bitmap), m=m
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the bitmap is NOT a plan literal: k broadcast joins instead,
        # and zero exchanges on the probe side
        assert plan.count("BroadcastHashJoin") == BLOOM_K
        assert "Exchange hashpartitioning" not in plan
        got = {r["doc_id"]: r["maybe_dup"] for r in out.collect()}
        assert all(got[1000_0 + i] for i in range(200))  # no false negs
        # at 16M bits / 2000 keys false positives are ~impossible
        assert not any(got[2000_0 + i] for i in range(200))

    def test_curator_picks_join_path_past_threshold(self, spark, tmp_path):
        import duckdb

        from beats_spark.streaming.curate import IncrementalCurator

        def good(i: int) -> str:
            # passes every quality rule (mirrors test_stream_curate.good)
            return (
                "the streaming curator admits the novel documents and "
                f"drops the duplicate entries for training corpus {i}"
            )

        m = 1 << 22  # > BLOOM_LITERAL_MAX_BITS -> join path
        out = str(tmp_path / "o")
        cur = IncrementalCurator(spark, m=m)
        b0 = spark.createDataFrame(
            [(i, good(i)) for i in range(4)], "doc_id long, text string"
        )
        cur.process_batch(b0, 0, out)
        # batch 1 re-sends doc 1's text (history dup) plus a novel doc
        b1 = spark.createDataFrame(
            [(100, good(1)), (101, good(50))], "doc_id long, text string"
        )
        cur.process_batch(b1, 1, out)
        row = duckdb.sql(
            "SELECT n_in, n_history_dup, n_admitted FROM"
            f" parquet_scan('{out}/stats/*/*.parquet', hive_partitioning=1)"
            " WHERE batch_id = 1"
        ).fetchone()
        assert row == (2, 1, 1)


class TestPackManifest:
    def test_offsets_hand_case(self, spark):
        """3-token docs, budget 5: prefixes 0/3/6 → docs 1,2 in pack 0
        at tok_start 0,3; doc 3 opens pack 1 at 0. The straddler
        (doc 2, span 3..6) legitimately overruns the budget —
        concat-and-chunk semantics, documented."""
        from beats_spark.operators.sampling import pack_manifest

        df = spark.createDataFrame(
            [("s", i, "a b c") for i in (1, 2, 3)],
            "source string, doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in pack_manifest(df, token_budget=5).collect()
        }
        assert (rows[1]["pack_id"], rows[1]["tok_start"], rows[1]["tok_end"]) == (0, 0, 3)
        assert (rows[2]["pack_id"], rows[2]["tok_start"], rows[2]["tok_end"]) == (0, 3, 6)
        assert (rows[3]["pack_id"], rows[3]["tok_start"], rows[3]["tok_end"]) == (1, 0, 3)

    def test_invariants_and_duckdb_parity(self, spark):
        import duckdb
        from beats_spark.operators.sampling import (
            pack_manifest,
            pack_manifest_sql,
            pack_sequences,
        )
        from tests.conftest import SF_DIR

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        got_rows = pack_manifest(docs, token_budget=256).collect()
        got = {
            (r["source"], r["doc_id"]): (
                r["n_tokens"], r["pack_id"], r["tok_start"], r["tok_end"]
            )
            for r in got_rows
        }
        # tok_end - tok_start == n_tokens; offsets start at 0 per pack;
        # pack assignment identical to pack_sequences
        packs = {
            (r["source"], r["doc_id"]): r["pack_id"]
            for r in pack_sequences(docs, token_budget=256).collect()
        }
        by_pack_min = {}
        for (s, d), (n, p, ts, te) in got.items():
            assert te - ts == n
            assert packs[(s, d)] == p
            by_pack_min[(s, p)] = min(by_pack_min.get((s, p), 1 << 60), ts)
        assert all(v == 0 for v in by_pack_min.values())

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"parquet_scan('{SF_DIR}/documents.parquet')"
        )
        want = {
            (s, d): (n, p, ts, te)
            for s, d, n, p, ts, te in con.execute(
                pack_manifest_sql("documents", token_budget=256)
            ).fetchall()
        }
        assert got == want
