"""Unit tests for the training-data-pipeline operators.

Spark results are checked against pure-Python oracles computed with
hashlib/math — independent of both Spark and the DuckDB oracle SQL
(which tools/check_correctness.py exercises separately).
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from beats_spark.functions.textstats import (
    FP_MOD,
    fingerprint,
    lang_id,
    quality_features,
    token_count_bpe,
    token_count_ws,
)
from beats_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
)
from beats_spark.operators.multimodal import extract_features, with_binary_payload
from beats_spark.operators.similarity import brute_force_topk


def wc(x: str) -> int:
    return int(hashlib.md5(x.encode()).hexdigest()[:8], 16)


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "The  Quick Brown Fox jumps over the lazy dog"),  # exact dup of 0 after norm
    (3, "completely different content here entirely"),
    (4, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


class TestTextStats:
    def test_token_counts(self, spark):
        df = spark.createDataFrame(
            [(0, "a b  c"), (1, "hello, world!"), (2, "")],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in df.select(
                "doc_id",
                token_count_ws(F.col("text")).alias("ws"),
                token_count_bpe(F.col("text")).alias("bpe"),
            ).collect()
        }
        assert rows[0]["ws"] == 3 and rows[0]["bpe"] == 3
        # hello , world ! → 4 BPE-ish tokens, 2 ws tokens
        assert rows[1]["ws"] == 2 and rows[1]["bpe"] == 4
        assert rows[2]["ws"] == 0 and rows[2]["bpe"] == 0

    def test_quality_features(self, spark):
        text = "The cat sat."
        feats = quality_features(F.col("text"))
        r = (
            spark.createDataFrame([(text,)], "text string")
            .select(*[c.alias(k) for k, c in feats.items()])
            .collect()[0]
        )
        assert r["n_chars"] == len(text)
        assert r["n_tokens"] == 3
        assert r["punct_ratio"] == round(1 / len(text), 6)
        assert r["stopword_ratio"] == round(1 / 3, 6)  # "the"
        assert r["upper_ratio"] == round(1 / len(text), 6)

    def test_fingerprint_matches_python(self, spark, docs):
        rows = docs.select("doc_id", "text", fingerprint(F.col("text")).alias("fp")).collect()
        for r in rows:
            toks = r["text"].split()
            expect = (
                sum(wc(w) * (i + 1) for i, w in enumerate(toks)) % FP_MOD
                if toks
                else None
            )
            if expect is not None:
                assert r["fp"] == expect, r["text"]

    def test_fingerprint_order_sensitive(self, spark):
        df = spark.createDataFrame(
            [(0, "alpha beta"), (1, "beta alpha")], "doc_id long, text string"
        )
        fps = [r["fp"] for r in df.select(fingerprint(F.col("text")).alias("fp")).collect()]
        assert fps[0] != fps[1]

    def test_lang_id_markers(self, spark):
        df = spark.createDataFrame(
            [
                (0, "the cat and the dog of the house"),
                (1, "el gato de la casa que ladra y"),
                (2, "der hund und die katze ist da"),
                (3, "xyzzy plugh"),
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r["lang"] for r in df.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()}
        assert rows[0] == "en"
        assert rows[1] == "es"
        assert rows[2] == "de"
        assert rows[3] == "und"


class TestDedup:
    def test_exact_dedup(self, spark, docs):
        groups = exact_dedup_groups(docs).collect()
        # docs 0 and 2 collapse (case+whitespace normalization)
        by_canon = {r["canonical_id"]: r["n_copies"] for r in groups}
        assert by_canon[0] == 2
        assert by_canon[1] == 1
        assert len(groups) == 4

    def test_duplicated_spans(self, spark):
        from beats_spark.operators.dedup import duplicated_spans

        # docs 0 and 1 share the 3-token span "b c d"; doc 2 shares
        # nothing; doc 3 is shorter than the window (no row)
        df = spark.createDataFrame(
            [
                (0, "a b c d e"),
                (1, "x b c d y"),
                (2, "p q r s t"),
                (3, "u v"),
            ],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in duplicated_spans(df, n=3, min_df=2, materialize=False).collect()
        }
        assert set(rows) == {0, 1, 2}  # doc 3 too short → absent
        assert rows[0]["n_spans"] == 3  # "a b c","b c d","c d e"
        assert rows[0]["n_dup_spans"] == 1 and rows[1]["n_dup_spans"] == 1
        assert rows[2]["n_dup_spans"] == 0
        assert rows[0]["dup_span_frac"] == pytest.approx(1 / 3, abs=1e-6)

    def test_duplicated_spans_within_doc_repeat_counts_once(self, spark):
        from beats_spark.operators.dedup import duplicated_spans

        # "a b c" occurs twice inside doc 0 — per-document DISTINCT, so
        # it is not duplicated unless another document carries it too
        df = spark.createDataFrame(
            [(0, "a b c a b c"), (1, "z z z z")],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in duplicated_spans(df, n=3, min_df=2, materialize=False).collect()
        }
        assert rows[0]["n_dup_spans"] == 0
        assert rows[1]["n_spans"] == 1  # distinct spans of "z z z z"

    def test_ngram_jaccard_pairs(self, spark, docs):
        pairs = ngram_jaccard_pairs(docs, threshold=0.5).collect()
        found = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
        # 0 vs 2: identical after norm → jaccard 1.0
        assert found[(0, 2)] == 1.0
        # 0 vs 1: differ in last word; 7 shingles each, 6 shared
        assert found[(0, 1)] == round(6 / 8, 6)
        assert (0, 3) not in found

    @pytest.mark.parametrize("t", [0.2, 0.6])
    def test_jaccard_strategies_agree(self, spark, docs, t):
        # the all-pairs reference join and the PPJoin prefix filter are
        # both exact — compare at a low and a high threshold
        from beats_spark.operators.dedup import _ngram_jaccard_allpairs

        prefix = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        allpairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in _ngram_jaccard_allpairs(docs, t, 3, "text", "doc_id").collect()
        }
        assert prefix == allpairs
        assert (0, 2) in prefix  # the exact-dup pair survives both

    def test_ppjoin_hot_shingle_candidates_bounded(self, spark):
        # Adversarial fixture from the r1 verdict: every doc shares one
        # stopword trigram ("the end of"); the rest of each doc is
        # unique. All-pairs blocking would generate N*(N-1)/2 = 1225
        # candidates from that one shingle; the dfreq-ordered PPJoin
        # prefix must exclude it entirely (it sorts last, and
        # ceil(t*|s|) >= 2 for these sizes), leaving zero candidates.
        from beats_spark.operators.dedup import _ppjoin_candidates, shingles

        n_docs = 50
        rows = [
            (
                i,
                " ".join(f"tok{i}x{j}" for j in range(10)) + " the end of",
            )
            for i in range(n_docs)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sh = docs.select(
            F.col("doc_id").alias("id"),
            shingles(F.col("text"), 3).alias("sh"),
        ).withColumn("sz", F.size("sh"))
        for t in (0.2, 0.5, 0.8):
            n_cand = _ppjoin_candidates(sh, t).count()
            assert n_cand == 0, f"t={t}: hot shingle leaked {n_cand} candidates"
        # and the full operator still returns no >=0.2 pairs (true
        # jaccard of any pair here is 1/21 < 0.2)
        assert ngram_jaccard_pairs(docs, threshold=0.2).count() == 0

    def test_minhash_signature_python_oracle(self, spark, docs):
        sig = {r["id"]: r for r in minhash_signature(docs).collect()}
        text = DOCS[0][1]
        toks = text.lower().split()
        sh = list(dict.fromkeys(
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        ))

        def halves(s: str) -> tuple[int, int]:
            h = hashlib.md5(s.encode()).hexdigest()
            return int(h[:8], 16), int(h[8:16], 16)

        codes = [halves(s) for s in sh]
        for i in range(8):
            assert sig[0][f"mh{i}"] == min(
                (c1 + i * c2) % FP_MOD for c1, c2 in codes
            )

    def test_identical_docs_same_signature(self, spark, docs):
        sig = {r["id"]: tuple(r[f"mh{i}"] for i in range(8)) for r in minhash_signature(docs).collect()}
        assert sig[0] == sig[2]
        assert sig[0] != sig[3]

    def test_lsh_hot_bucket_capped_pairs_bounded(self, spark):
        """A degenerate boilerplate bucket of B identical docs must
        emit O(B·cap) pairs, not B²/2 (r4 verdict #1): every band of
        every doc lands in ONE (band, key) bucket, and the anchor rule
        pairs each member with the bucket's first `cap` ids only —
        while connectivity (what dedup consumes) is fully preserved."""
        from beats_spark.operators.dedup import (
            connected_components,
            minhash_lsh_pairs,
        )

        B, cap = 2000, 8
        corpus = spark.createDataFrame(
            [(i, "identical boilerplate template text body here row") for i in range(B)],
            "doc_id long, text string",
        ).repartition(8)
        pairs = minhash_lsh_pairs(corpus, threshold=0.5, bucket_cap=cap)
        got = pairs.count()
        # exact: cap anchors × later members, minus anchor-anchor dupes
        assert got == cap * B - cap * (cap + 1) // 2
        assert got < B * (B - 1) // 2 / 10  # nowhere near quadratic
        comp = connected_components(pairs, corpus)
        assert comp.select("component_id").distinct().count() == 1
        assert comp.count() == B

    def test_simhash_hot_bucket_capped(self, spark):
        """Same degenerate-bucket guard on the simhash band join:
        identical docs share every band key; pairs stay O(B*cap) and
        the DuckDB twin applies the identical anchor rule."""
        import duckdb
        from beats_spark.operators.dedup import (
            simhash_hamming_pairs,
            simhash_hamming_pairs_sql,
        )

        B, cap = 500, 4
        corpus = spark.createDataFrame(
            [(i, "same boilerplate body every single row") for i in range(B)],
            "doc_id long, text string",
        )
        pairs = simhash_hamming_pairs(corpus, bucket_cap=cap)
        got = pairs.count()
        assert got == cap * B - cap * (cap + 1) // 2
        con = duckdb.connect()
        con.register("docs_v", corpus.toPandas())
        con.execute("CREATE TABLE documents AS SELECT * FROM docs_v")
        want = con.execute(
            simhash_hamming_pairs_sql("documents", bucket_cap=cap)
        ).fetchall()
        assert len(want) == got

    def test_lsh_cap_identity_under_cap_and_duckdb_parity(self, spark, docs):
        """Buckets at/under the cap produce the identical full pair
        set; past the cap the DuckDB twin applies the SAME anchor rule
        so the oracle still matches row-for-row."""
        import duckdb
        from beats_spark.operators.dedup import (
            minhash_lsh_pairs,
            minhash_lsh_pairs_sql,
        )

        uncapped = {
            tuple(r)
            for r in minhash_lsh_pairs(
                docs, threshold=0.5, bucket_cap=1 << 30
            ).collect()
        }
        capped = {
            tuple(r)
            for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
        }
        assert capped == uncapped  # no bucket exceeds 256 here

        # oversized bucket: 30 identical docs + the normal fixture,
        # cap 4 — Spark and DuckDB must agree on the reduced pair set
        rows = [(100 + i, "same same boiler plate text all over again") for i in range(30)]
        mixed = docs.select(
            F.col("doc_id"), F.col("text")
        ).unionByName(
            spark.createDataFrame(rows, "doc_id long, text string")
        )
        got = sorted(
            tuple(r)
            for r in minhash_lsh_pairs(
                mixed, threshold=0.5, bucket_cap=4
            ).collect()
        )
        con = duckdb.connect()
        con.register("documents_v", mixed.toPandas())
        con.execute("CREATE TABLE documents AS SELECT * FROM documents_v")
        want = sorted(
            tuple(r)
            for r in con.execute(
                minhash_lsh_pairs_sql("documents", 0.5, bucket_cap=4)
            ).fetchall()
        )
        assert got == want and len(got) > 0

    def test_simhash_python_oracle(self, spark, docs):
        out = {r["doc_id"]: r["sh"] for r in docs.select("doc_id", simhash(F.col("text")).alias("sh")).collect()}
        toks = sorted(set(DOCS[0][1].lower().split()))
        codes = [wc(t) for t in toks]
        expect = 0
        for b in range(32):
            vote = sum(1 if (c >> b) & 1 else -1 for c in codes)
            if vote > 0:
                expect |= 1 << b
        assert out[0] == expect
        assert out[0] == out[2]  # norm-identical docs agree
        # materialized DataFrame variant agrees with the scalar form
        from beats_spark.operators.dedup import simhash_df

        out2 = {
            r["doc_id"]: r["simhash32"] for r in simhash_df(docs).collect()
        }
        assert out2 == out

    def test_simhash_hamming_pairs_vs_brute_force(self, spark):
        # banding must find EXACTLY the pairs brute-force hamming does
        # (pigeonhole guarantees no candidate is missed at k < bands)
        from beats_spark.operators.dedup import (
            simhash_df,
            simhash_hamming_pairs,
        )

        rows = [
            (i, " ".join(f"w{j}" for j in range(12)) + f" extra{i % 4}")
            for i in range(24)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        fp = {r["doc_id"]: r["simhash32"] for r in simhash_df(df).collect()}
        expect = {
            (a, b, bin(fp[a] ^ fp[b]).count("1"))
            for a in fp
            for b in fp
            if a < b and bin(fp[a] ^ fp[b]).count("1") <= 3
        }
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_hamming_pairs(df, max_hamming=3).collect()
        }
        assert got == expect
        assert expect  # fixture produces at least one close pair

    def test_simhash_hamming_rejects_bad_bands(self, spark):
        from beats_spark.operators.dedup import simhash_hamming_pairs

        df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError):
            simhash_hamming_pairs(df, max_hamming=4, n_bands=4)


class TestSimilarity:
    def test_brute_force_topk(self, spark):
        vecs = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        out = brute_force_topk(df, [0], k=2).collect()
        assert [r["neighbor_id"] for r in out] == [1, 2]
        expect = 0.9 / math.sqrt(0.81 + 0.01)
        assert out[0]["cos_sim"] == round(expect, 6)
        assert [r["rank"] for r in out] == [1, 2]

    def test_ivf_assignment_deterministic_and_partitions(self, spark):
        from beats_spark.operators.similarity import (
            ann_ivf_topk_multi,
            ivf_assign,
            ivf_centroid,
        )

        dim, n_cent = 8, 4
        cents = [ivf_centroid(dim, i) for i in range(n_cent)]
        # a vector equal to a centroid must land in that centroid's cell
        vecs = [(i, [float(x) for x in cents[i % n_cent]]) for i in range(8)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        cells = {
            r["vec_id"]: r["cell"]
            for r in df.select(
                "vec_id", ivf_assign(F.col("embedding"), cents).alias("cell")
            ).collect()
        }
        for i, c in cells.items():
            assert 0 <= c < n_cent
        # identical vectors land in identical cells
        assert cells[0] == cells[4] and cells[1] == cells[5]

        # a query ranks only its own cell, by cosine, self excluded
        out = ann_ivf_topk_multi(
            df, [0], k=3, nprobes=(1,), n_centroids=n_cent, dim=dim
        ).collect()
        assert all(r["q_id"] == 0 for r in out)
        assert 0 not in {r["neighbor_id"] for r in out}
        assert 4 in {r["neighbor_id"] for r in out}  # same-cell twin
        assert out[0]["neighbor_id"] == 4 and out[0]["cos_sim"] == 1.0


    def test_ivf_multi_matches_duckdb_per_width(self, spark):
        # ann_ivf_topk_multi shares one corpus assignment + probe join
        # across widths; each width's slice must equal the DuckDB
        # oracle run at that width alone
        import duckdb

        from beats_spark.operators.similarity import (
            ann_ivf_topk_multi,
            ann_ivf_topk_sql,
        )

        dim, n_cent = 8, 4
        vecs = [
            (i, [float((i * 13 + j) % 11) - 5.0 for j in range(dim)])
            for i in range(60)
        ]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        multi = ann_ivf_topk_multi(
            df, [0, 1], k=3, nprobes=(1, 2), n_centroids=n_cent, dim=dim
        ).collect()
        con = duckdb.connect()
        con.execute("CREATE TABLE vecs(vec_id BIGINT, embedding FLOAT[])")
        con.executemany("INSERT INTO vecs VALUES (?, ?)", vecs)
        for p in (1, 2):
            got = sorted(
                (r["q_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
                for r in multi
                if r["nprobe"] == p
            )
            want = sorted(
                con.execute(
                    ann_ivf_topk_sql(
                        "vecs", [0, 1], k=3, n_centroids=n_cent, dim=dim,
                        nprobe=p,
                    )
                ).fetchall()
            )
            assert len(got) == 6 and got == want, p

    def test_full_width_ann_equals_brute_force(self, spark):
        # no hyperplanes put every vector in one LSH bucket, and probing
        # every IVF cell ranks the whole corpus: both ANN paths are then
        # exact, so any drift in their scoring or ranking shows here.
        # The vectors repeat every 11 ids, so the top-k holds cosine
        # ties that only the neighbor-id tie-break orders.
        import duckdb

        from beats_spark.operators.similarity import (
            ann_ivf_topk_multi,
            ann_ivf_topk_sql,
            ann_lsh_topk,
            brute_force_topk_sql,
        )

        dim, n_cent, qids, k = 8, 4, [0, 1, 17], 5
        vecs = [
            (i, [float((i * 13 + j) % 11) - 5.0 for j in range(dim)])
            for i in range(60)
        ]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        brute = sorted(tuple(r) for r in brute_force_topk(df, qids, k=k).collect())
        assert len(brute) == len(qids) * k
        lsh = ann_lsh_topk(df, qids, k=k, n_planes=0, dim=dim)
        assert sorted(tuple(r) for r in lsh.collect()) == brute
        ivf = ann_ivf_topk_multi(
            df, qids, k=k, nprobes=(n_cent,), n_centroids=n_cent, dim=dim
        ).drop("nprobe")
        assert sorted(tuple(r) for r in ivf.collect()) == brute

        con = duckdb.connect()
        con.execute("CREATE TABLE vecs(vec_id BIGINT, embedding FLOAT[])")
        con.executemany("INSERT INTO vecs VALUES (?, ?)", vecs)
        duck_ivf = con.execute(
            ann_ivf_topk_sql(
                "vecs", qids, k=k, n_centroids=n_cent, dim=dim, nprobe=n_cent
            )
        ).fetchall()
        duck_brute = con.execute(brute_force_topk_sql("vecs", qids, k=k)).fetchall()
        assert sorted(duck_ivf) == sorted(duck_brute) == brute


class TestMultimodal:
    def test_extract_features_fake_decoder(self, spark, docs):
        feats = {
            r["doc_id"]: r
            for r in extract_features(with_binary_payload(docs)).collect()
        }
        for doc_id, text in DOCS:
            digest = hashlib.md5(text.encode()).hexdigest()
            assert feats[doc_id]["n_bytes"] == 16
            assert feats[doc_id]["header_hex"] == digest[:8]
            assert feats[doc_id]["modality"] == "fake"

    def test_real_decoder_stubbed(self, spark, docs):
        with pytest.raises(Exception):
            extract_features(with_binary_payload(docs), decoder="image").collect()

    def test_resize_nearest_neighbor(self, spark, docs):
        from beats_spark.operators.multimodal import resize_payload

        out = {
            r["doc_id"]: r
            for r in resize_payload(with_binary_payload(docs), 8).collect()
        }
        for doc_id, text in DOCS:
            b = hashlib.md5(text.encode()).digest()
            want = bytes(b[(i * 16) // 8] for i in range(8))
            assert out[doc_id]["n_bytes_in"] == 16
            assert bytes(out[doc_id]["payload"]) == want

    def test_resize_upsample_and_empty(self, spark):
        from beats_spark.operators.multimodal import resize_payload

        df = spark.createDataFrame(
            [(1, bytearray(b"\x01\x02"), "fake"), (2, bytearray(b""), "fake")],
            "doc_id long, payload binary, modality string",
        )
        got = {r["doc_id"]: bytes(r["payload"]) for r in resize_payload(df, 4).collect()}
        # upsample repeats source bytes nearest-neighbor; empty stays empty
        assert got[1] == b"\x01\x01\x02\x02"
        assert got[2] == b""

    def test_frame_sample_stride(self, spark, docs):
        from beats_spark.operators.multimodal import frame_sample

        rows = frame_sample(with_binary_payload(docs), 4, stride=2).collect()
        by_doc: dict = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], {})[r["frame_idx"]] = bytes(r["frame"])
        for doc_id, text in DOCS:
            b = hashlib.md5(text.encode()).digest()
            # 16 bytes / 4 per frame = frames 0..3; stride 2 keeps 0 and 2
            assert sorted(by_doc[doc_id]) == [0, 2]
            assert by_doc[doc_id][0] == b[0:4]
            assert by_doc[doc_id][2] == b[8:12]

    def test_frame_sample_trailing_partial(self, spark):
        from beats_spark.operators.multimodal import frame_sample

        df = spark.createDataFrame(
            [(1, bytearray(b"\x01\x02\x03\x04\x05"), "fake")],
            "doc_id long, payload binary, modality string",
        )
        got = {
            r["frame_idx"]: bytes(r["frame"])
            for r in frame_sample(df, 2, stride=1).collect()
        }
        assert got == {0: b"\x01\x02", 1: b"\x03\x04", 2: b"\x05"}

    def test_parse_image_header_real_bytes(self, spark):
        """Genuine PNG/GIF header bytes parse to the right dims; junk
        yields NULLs instead of an ANSI abort."""
        import struct

        from beats_spark.operators.multimodal import parse_image_header

        png = (
            b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
            + struct.pack(">II", 640, 480) + b"\x08\x06"
        )
        gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00"
        junk = b"\x00\x01\x02\x03 not an image"
        df = spark.createDataFrame(
            [(1, png), (2, gif), (3, junk)], "doc_id long, payload binary"
        )
        got = {
            r["doc_id"]: (r["img_format"], r["img_width"], r["img_height"])
            for r in parse_image_header(df).collect()
        }
        assert got[1] == ("png", 640, 480)
        assert got[2] == ("gif", 320, 200)
        assert got[3] == (None, None, None)

    def test_image_meta_decode_jpeg_marker_scan(self, spark):
        """JPEG dims need a sequential SOF marker walk — the decoder
        tier's job. Crafted real JPEG byte stream: SOI, APP0, a
        DQT to skip, then SOF0 carrying height=480 width=640."""
        import struct

        from beats_spark.operators.multimodal import (
            image_meta_decode,
            image_meta_pandas,
        )

        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" * 65
        sof0 = (
            b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 480, 640) + b"\x01\x11\x00"
        )
        jpeg = b"\xff\xd8" + app0 + dqt + sof0 + b"\xff\xd9"
        assert image_meta_decode(jpeg) == ("jpeg", 640, 480)
        # progressive SOF2 also counts; C4 (huffman table) must not
        sof2 = (
            b"\xff\xc2" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 32, 64) + b"\x01\x11\x00"
        )
        dht = b"\xff\xc4" + struct.pack(">H", 5) + b"\x00" * 3
        assert image_meta_decode(b"\xff\xd8" + dht + sof2) == (
            "jpeg", 64, 32,
        )
        assert image_meta_decode(b"\xff\xd8\xff\xd9") is None
        assert image_meta_decode(b"not an image") is None
        df = spark.createDataFrame(
            [(1, jpeg), (2, b"junk")], "doc_id long, payload binary"
        )
        got = {
            r["doc_id"]: (r["img_format"], r["img_width"], r["img_height"])
            for r in image_meta_pandas(df).collect()
        }
        assert got == {1: ("jpeg", 640, 480), 2: (None, None, None)}

    def test_synth_png_roundtrip_and_duckdb_parity(self, spark):
        import duckdb

        from beats_spark.operators.multimodal import (
            image_dims_sql,
            parse_image_header,
            synth_png_payload,
        )

        ids = spark.createDataFrame([(i,) for i in range(64)], "doc_id long")
        got = sorted(
            (r["doc_id"], r["img_format"], r["img_width"], r["img_height"])
            for r in parse_image_header(synth_png_payload(ids)).collect()
        )
        assert all(
            f == "png" and w == i % 1024 + 1 and h == i * 7 % 1024 + 1
            for i, f, w, h in got
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE t AS SELECT range AS doc_id FROM range(64)")
        assert got == sorted(
            tuple(r) for r in con.sql(image_dims_sql("t")).fetchall()
        )


class TestQuantization:
    def test_roundtrip_error_bounded(self, spark):
        from beats_spark.operators.similarity import (
            dequantize_embedding,
            quantize_embedding,
        )

        vecs = [
            (0, [1.0, -0.5, 0.25, 0.0]),
            (1, [0.001, 0.002, -0.003, 0.0005]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector
        ]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        q, s = quantize_embedding(F.col("embedding"))
        out = df.select(
            "vec_id", "embedding", q.alias("q"), s.alias("s")
        ).withColumn(
            "deq", dequantize_embedding(F.col("q"), F.col("s"))
        ).collect()
        rows = {r["vec_id"]: r for r in out}
        # int8 range respected, error ≤ scale/2 per component
        for vid, r in rows.items():
            assert all(-127 <= x <= 127 for x in r["q"])
            for orig, back in zip(r["embedding"], r["deq"]):
                assert abs(orig - back) <= r["s"] / 2 + 1e-12
        # zero vector → zero scale, exact zeros
        assert rows[2]["s"] == 0.0 and rows[2]["deq"] == [0, 0, 0, 0]
        # max-magnitude component hits ±127 exactly
        assert max(abs(x) for x in rows[0]["q"]) == 127


class TestParagraphDedup:
    ROWS = [
        (1, "shared intro\nunique one\n\nshared outro"),
        (2, "shared intro\nunique two"),
        (3, "unique three\nshared outro"),
        (4, "   \n\n"),  # whitespace-only → no row
        (5, "unique five\nunique five"),  # within-doc repeat: NOT dup
    ]

    def test_paragraph_stats_hand_case(self, spark):
        from beats_spark.operators.dedup import paragraph_stats

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_paras"], r["n_dup_paras"], r["dup_para_frac"])
            for r in paragraph_stats(df).collect()
        }
        # 'shared intro' in docs 1,2; 'shared outro' in docs 1,3
        assert got[1] == (3, 2, round(2 / 3, 6))
        assert got[2] == (2, 1, 0.5)
        assert got[3] == (2, 1, 0.5)
        assert 4 not in got
        # within-doc repeat is ONE distinct doc → not duplicated
        assert got[5] == (2, 0, 0.0)

    def test_duckdb_twin(self, spark):
        import duckdb
        import pandas as pd

        from beats_spark.operators.dedup import (
            paragraph_stats,
            paragraph_stats_sql,
        )

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        got = sorted(tuple(r) for r in paragraph_stats(df).collect())
        con = duckdb.connect()
        con.register(
            "pdocs",
            pd.DataFrame(
                {
                    "doc_id": [r[0] for r in self.ROWS],
                    "text": [r[1] for r in self.ROWS],
                }
            ),
        )
        duck = sorted(con.execute(paragraph_stats_sql("pdocs")).fetchall())
        assert got == duck

    def test_drop_keeps_owner_and_order(self, spark):
        from beats_spark.operators.dedup import drop_duplicated_paragraphs

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        got = {
            r["doc_id"]: r["text"]
            for r in drop_duplicated_paragraphs(df).collect()
        }
        # doc 1 owns both shared paragraphs (lowest id) → intact,
        # rejoined with single newlines in original order
        assert got[1] == "shared intro\nunique one\nshared outro"
        assert got[2] == "unique two"
        assert got[3] == "unique three"
        assert 4 not in got
        assert got[5] == "unique five\nunique five"


class TestBM25:
    """BM25 lexical top-k (operators/bm25.py): hand-computed scores,
    DuckDB-twin parity, and the postings-extraction plan shape."""

    DOCS = [
        (0, "spark join spark merge"),       # dl=4, tf(spark)=2
        (1, "the quick brown fox jumps"),    # dl=5, no query terms
        (2, "spark Spark SPARK spark"),      # dl=4, tf(spark)=4 (case-fold)
        (3, "join the big table join"),      # dl=5, tf(join)=2
        (4, "merge, sort; merge!"),          # dl=3 (punct split), tf(merge)=2
    ]

    def _expect(self, queries, k1=1.2, b=0.75):
        import math

        toks = {
            i: [t for t in __import__("re").split(r"[^a-z0-9]+", s.lower()) if t]
            for i, s in self.DOCS
        }
        n = len(toks)
        avgdl = sum(len(v) for v in toks.values()) / n
        out = {}
        for q, terms in queries.items():
            scores = {}
            for d, ts in toks.items():
                micro = 0
                for t in set(terms):
                    tf = ts.count(t)
                    if not tf:
                        continue
                    df = sum(1 for v in toks.values() if t in v)
                    idf = round(math.log((n - df + 0.5) / (df + 0.5) + 1.0), 6)
                    w = idf * (tf * (k1 + 1)) / (
                        tf + k1 * (1 - b + b * len(ts) / avgdl)
                    )
                    micro += int(round(w * 1_000_000))
                if micro:
                    scores[d] = micro / 1_000_000
            ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
            out[q] = [(d, s, r + 1) for r, (d, s) in enumerate(ranked)]
        return out

    def test_hand_scores_and_duckdb_parity(self, spark):
        import duckdb

        from beats_spark.operators.bm25 import bm25_topk, bm25_topk_sql

        q = {0: ["spark"], 1: ["join", "merge"], 2: ["absentterm"]}
        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        got = sorted(
            (r["q_id"], r["neighbor_id"], r["score"], r["rank"])
            for r in bm25_topk(df, q, k=10).collect()
        )
        want_map = self._expect(q)
        want = sorted(
            (qid, d, s, r)
            for qid, rows in want_map.items()
            for (d, s, r) in rows
        )
        assert got == want
        # tf saturation + case folding: doc 2 (tf=4) outranks doc 0
        # (tf=2) but by less than 2x
        by_doc = {d: s for (qid, d, s, r) in got if qid == 0}
        assert by_doc[2] > by_doc[0] > by_doc[2] / 2
        # absent term -> no rows for q 2
        assert not [r for r in got if r[0] == 2]

        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM (VALUES "
            + ", ".join(f"({i}, '{s}')" for i, s in self.DOCS)
            + ") t(doc_id, text)"
        )
        duck = sorted(
            tuple(r)
            for r in con.execute(bm25_topk_sql("documents", q)).fetchall()
        )
        assert got == duck

    def test_plan_shape_postings_extraction(self, spark):
        # the query-term filter must run BEFORE the first exchange
        # (postings extraction), and the corpus must be scanned at
        # most twice (tf postings + corpus stats) with no Python
        from beats_spark.operators.bm25 import bm25_topk

        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = (
            bm25_topk(df, {0: ["spark"]})
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Scan parquet") <= 2
        assert "Python" not in plan
        pre_exchange = plan.split("Exchange")[-1]
        assert "INSET" in pre_exchange or "term" in pre_exchange


class TestHybridRRF:
    """Reciprocal-rank fusion (operators/hybrid.py): hand-derived
    fusion arithmetic + DuckDB parity of the composed hybrid query."""

    def test_rrf_hand_case(self, spark):
        from beats_spark.operators.hybrid import rrf_fuse

        # ranker A: doc 1 first, doc 2 second; ranker B: doc 2 first,
        # doc 3 second. RRF: doc2 = 1/62+1/61 > doc1 = 1/61 > doc3 = 1/62
        a = spark.createDataFrame(
            [(0, 1, 1), (0, 2, 2)], "q_id long, neighbor_id long, rank int"
        )
        b = spark.createDataFrame(
            [(0, 2, 1), (0, 3, 2)], "q_id long, neighbor_id long, rank int"
        )
        got = [
            (r["neighbor_id"], r["score"], r["rank"])
            for r in rrf_fuse([a, b], k=10)
            .orderBy("rank")
            .collect()
        ]
        nano = lambda r: round(1e9 / (60 + r))
        exp2 = (nano(2) + nano(1)) / 1e9
        exp1 = nano(1) / 1e9
        exp3 = nano(2) / 1e9
        assert got == [(2, exp2, 1), (1, exp1, 2), (3, exp3, 3)]

    def test_hybrid_duckdb_parity_on_corpus(self, spark):
        import duckdb

        from beats_spark.operators.hybrid import (
            hybrid_rrf_sql,
            hybrid_rrf_topk,
        )

        embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        terms = {0: ["spark", "join"], 1: ["sort", "window"]}
        got = sorted(
            (r["q_id"], r["neighbor_id"], r["score"], r["rank"])
            for r in hybrid_rrf_topk(embs, docs, [0, 1], terms, k=5).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            "parquet_scan('/root/testdata/sf0.001/embeddings.parquet')"
        )
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            "parquet_scan('/root/testdata/sf0.001/documents.parquet')"
        )
        want = sorted(
            tuple(r)
            for r in con.execute(
                hybrid_rrf_sql("embeddings", "documents", [0, 1], terms, 5)
            ).fetchall()
        )
        assert got == want
        assert len(got) == 10
        # fusion actually mixes modalities: some fused winner carries
        # contributions from both lists (score > max single contribution)
        assert any(s > (round(1e9 / 61) / 1e9) + 1e-12 for _, _, s, _ in got)
