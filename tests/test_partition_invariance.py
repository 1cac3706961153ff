"""Partition-invariance: operator RESULTS must not depend on the
physical partitioning of the input — the property that makes the
local[32] answers the SAME answers a 1000-executor cluster computes.
Each case runs one representative operator under three adversarial
layouts (single partition, fine round-robin repartition, range-
partitioned-by-an-unrelated-column) and asserts identical result
sets. Operators whose plans pin shuffles/broadcasts are covered by
tests/test_plans.py; this file pins the SEMANTICS under re-layout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _layouts(df):
    return [
        df.coalesce(1),
        df.repartition(13),
        df.repartitionByRange(5, F.col("doc_id") % 7),
    ]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


class TestPartitionInvariance:
    def test_exact_dedup_groups(self, docs):
        from beats_spark.operators.dedup import exact_dedup_groups

        want = _rows(exact_dedup_groups(_layouts(docs)[0]))
        for lay in _layouts(docs)[1:]:
            assert _rows(exact_dedup_groups(lay)) == want

    def test_minhash_lsh_pairs(self, docs):
        from beats_spark.operators.dedup import minhash_lsh_pairs

        want = _rows(minhash_lsh_pairs(_layouts(docs)[0], threshold=0.5))
        for lay in _layouts(docs)[1:]:
            assert _rows(minhash_lsh_pairs(lay, threshold=0.5)) == want

    def test_zorder_codes(self, docs):
        from beats_spark.functions.textstats import word_code
        from beats_spark.operators.layout import add_zorder

        dims = lambda: [F.col("n_chars"), word_code(F.col("source"))]
        want = _rows(
            add_zorder(_layouts(docs)[0], dims()).select("doc_id", "zorder")
        )
        for lay in _layouts(docs)[1:]:
            got = _rows(add_zorder(lay, dims()).select("doc_id", "zorder"))
            assert got == want

    def test_pack_manifest(self, docs):
        from beats_spark.operators.sampling import pack_manifest

        want = _rows(pack_manifest(_layouts(docs)[0], token_budget=256))
        for lay in _layouts(docs)[1:]:
            assert _rows(pack_manifest(lay, token_budget=256)) == want

    def test_hll_registers(self, docs):
        from beats_spark.operators.sketch import hll_registers_by

        want = _rows(hll_registers_by(_layouts(docs)[0], [], F.col("text")))
        for lay in _layouts(docs)[1:]:
            assert _rows(hll_registers_by(lay, [], F.col("text"))) == want

    def test_heavy_hitters_mg_two_pass(self, docs):
        """Misra–Gries per-partition candidate sets DIFFER by layout —
        the exact pass-2 recount must erase that difference."""
        from beats_spark.operators.heavyhitters import top_k_terms_mg

        want = _rows(top_k_terms_mg(_layouts(docs)[0], 10, cap=32))
        for lay in _layouts(docs)[1:]:
            assert _rows(top_k_terms_mg(lay, 10, cap=32)) == want

    def test_stratified_sample(self, docs):
        from beats_spark.operators.sampling import stratified_sample

        rates = {"en": 0.5, "es": 0.3, "fr": 0.7, "de": 0.2, "zh": 1.0}
        want = _rows(
            stratified_sample(
                _layouts(docs)[0], rates, strata_col="lang"
            ).select("doc_id")
        )
        assert want  # the rate map must actually keep something
        for lay in _layouts(docs)[1:]:
            got = _rows(
                stratified_sample(lay, rates, strata_col="lang")
                .select("doc_id")
            )
            assert got == want
