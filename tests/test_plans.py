"""Physical-plan regression tests — the 100 TB guarantees.

These assert the plan SHAPE, not results: enrich lookups must never
shuffle the fact table (a small driver-side dim is a literal map in
the scan's own projection, any other dim a broadcast join),
parse/filter columns must push down to the parquet scan, and the
fan-out transform must introduce exactly one exchange (the pre-write
AQE rebalance). A change that silently turns a broadcast into a
sort-merge join or defeats pushdown would still pass the value tests
at sf0.001 and then fall over at scale — this file is the guard.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from beats_spark.operators.actions import Dissect, apply_chain
from beats_spark.operators.enrich import BroadcastLookup, dim_roles, dim_tools
from beats_spark.operators.router import (
    sort_for_fanout,
    with_partition_id,
    write_fanout,
)
from beats_spark.operators.selector import Rule, compile_selector
from beats_spark.plans.pipeline import Pipeline
from beats_spark.synth import TOK_LOGFMT, synth_transcripts


@pytest.fixture(scope="module")
def transcripts_on_disk(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "t.parquet")
    synth_transcripts(spark, 2_000, seed=3).write.parquet(path)
    return path


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestEnrichIsBroadcast:
    def test_broadcast_hash_join(self, spark, transcripts_on_disk, tmp_path):
        # dims read from a table take the join path (only a small
        # driver-side LocalRelation is looked up inside the plan)
        dims = []
        for name, dim in (("roles", dim_roles(spark)), ("tools", dim_tools(spark))):
            dim.write.parquet(str(tmp_path / name))
            dims.append(spark.read.parquet(str(tmp_path / name)))
        df = spark.read.parquet(transcripts_on_disk)
        out = apply_chain(
            df,
            [
                BroadcastLookup(dim=dims[0], on=["role"]),
                BroadcastLookup(dim=dims[1], on=["tool"]),
            ],
        )
        plan = _plan(out)
        assert plan.count("BroadcastHashJoin") == 2
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan

    def test_headline_lookups_plan_no_join(self, spark, transcripts_on_disk):
        # the headline's 4-row local_frame dims are literal maps inside
        # the scan's projection: no join, no broadcast exchange
        df = spark.read.parquet(transcripts_on_disk)
        out = apply_chain(
            df,
            [
                BroadcastLookup(dim=dim_roles(spark), on=["role"]),
                BroadcastLookup(dim=dim_tools(spark), on=["tool"]),
            ],
        )
        plan = _plan(out)
        assert "Join" not in plan
        assert "BroadcastExchange" not in plan
        assert "Exchange" not in plan
        assert plan.count("element_at(map(") == 5  # one per dim column


class TestScanPushdown:
    def test_filter_and_projection_reach_scan(self, spark, transcripts_on_disk):
        df = spark.read.parquet(transcripts_on_disk)
        q = df.filter(F.col("role") == "user").select("conv_id", "turn_idx")
        plan = _plan(q)
        # predicate pushed into the parquet reader
        assert "PushedFilters: [IsNotNull(role), EqualTo(role,user)]" in plan
        # column pruning: text/tool/ts never read
        assert "text" not in plan.split("ReadSchema")[1]

    def test_dissect_native_tier_prunes_unused_keys(
        self, spark, transcripts_on_disk
    ):
        # parse 4 keys but consume 1 → optimizer must drop the other 3
        # value extractions entirely (projection pruning through the
        # parse stage; the delimiter offsets all stay, the match gate
        # needs them)
        df = spark.read.parquet(transcripts_on_disk)
        parsed = apply_chain(df, [Dissect(tokenizer=TOK_LOGFMT)])
        q = parsed.select("level")
        opt = _optimized(q)
        # one substr (for `level`) survives — the other three keys'
        # are pruned
        assert opt.count("substr(") == 1


class TestFanoutShuffleCount:
    def test_single_exchange_in_transform(self, spark, transcripts_on_disk):
        df = spark.read.parquet(transcripts_on_disk)
        p = Pipeline(
            processors=[
                Dissect(tokenizer=TOK_LOGFMT),
                BroadcastLookup(dim=dim_roles(spark), on=["role"]),
            ],
            routes=[Rule(value="errors", when={"equals": {"level": "error"}})],
            default_sink="misc",
            n_buckets=8,
        )
        routed = sort_for_fanout(with_partition_id(p.transform(df), 8))
        plan = _plan(routed)
        # exactly one shuffle: the writer's AQE rebalance on
        # (sink, part_id); parse/route/enrich must not add exchanges
        assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1
        assert re.search(
            r"Exchange hashpartitioning\(sink#\d+, part_id#\d+, \d+\), "
            r"REBALANCE_PARTITIONS_BY_COL",
            plan,
        ), plan

    def test_fanout_write_needs_aqe(self, spark, tmp_path):
        # without AQE the rebalance hint plans no exchange, so every
        # input task would write every (sink, bucket) it sees
        df = with_partition_id(synth_transcripts(spark, 100, seed=3), 4)
        out = tmp_path / "out"
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            with pytest.raises(ValueError, match="spark.sql.adaptive.enabled"):
                write_fanout(df.withColumn("sink", F.lit("s")), str(out))
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        assert not out.exists()

    def test_selector_folds_to_case(self, spark, transcripts_on_disk):
        # constant rules fold at plan time (outil does this by hand;
        # Catalyst's ConstantFolding gives it to us) — no UDFs anywhere
        df = spark.read.parquet(transcripts_on_disk)
        parsed = apply_chain(df, [Dissect(tokenizer=TOK_LOGFMT)])
        routed = parsed.withColumn(
            "sink", compile_selector([Rule(value="const-sink")], default="d")
        )
        opt = _optimized(routed)
        assert "const-sink" in opt
        assert "pythonUDF" not in opt.lower()


class TestWholeStageCodegen:
    def test_parse_route_stays_in_codegen(self, spark, transcripts_on_disk):
        df = spark.read.parquet(transcripts_on_disk)
        parsed = apply_chain(df, [Dissect(tokenizer=TOK_LOGFMT)])
        routed = parsed.withColumn(
            "sink",
            compile_selector(
                [Rule(value="errors", when={"equals": {"level": "error"}})],
                default="misc",
            ),
        )
        agg = routed.groupBy("sink").count()
        agg.collect()  # AQE annotates codegen stages only in the final plan
        plan = _plan(agg)
        assert "isFinalPlan=true" in plan
        # the parse+route projection runs inside WholeStageCodegen —
        # final plans mark codegen stages with "*(n)"; no
        # BatchEvalPython / ArrowEvalPython stage for the parse
        import re

        assert re.search(r"\*\(\d+\)", plan)
        assert "EvalPython" not in plan


class TestCurationPlans:
    """100-TB shape guards for the round-2 curation operators."""

    def test_decontam_benchmark_join_is_broadcast(self, spark):
        from beats_spark.operators.decontam import ngram_overlap

        docs = spark.createDataFrame(
            [(i, f"some text body number {i} with words") for i in range(50)],
            "doc_id long, text string",
        )
        out = ngram_overlap(docs, docs.limit(5), n=3)
        plan = _plan(out)
        # the benchmark-gram join must broadcast (the corpus is TBs,
        # the benchmark is MBs) — the corpus must NEVER be shuffled by
        # n-gram. The final hits join keys on the doc id (fixed-width;
        # AQE broadcasts small hit sets at runtime), which is fine.
        assert "BroadcastHashJoin" in plan
        assert "hashpartitioning(g" not in plan

    def test_kmeans_assignment_broadcasts_centroids(self, spark):
        from beats_spark.operators.similarity import kmeans_ivf

        vecs = spark.createDataFrame(
            [(i, [float(i % 7)] * 4) for i in range(40)],
            "vec_id long, embedding array<float>",
        )
        plan = _plan(kmeans_ivf(vecs, k=2, iters=1))
        # assignment embeds the k x dim centroids as literals, so the
        # final pass is a PURE MAP over the corpus: no join of any
        # kind, no exchange, no sort (the r1-style crossJoin+window
        # shuffled and sorted n*k rows per pass)
        assert "Join" not in plan
        assert "Exchange" not in plan
        assert "CartesianProduct" not in plan

    def test_ivf_probe_is_hash_join_on_cell(self, spark):
        from beats_spark.operators.similarity import ann_ivf_topk_multi

        vecs = spark.createDataFrame(
            [(i, [float((i * 13 + j) % 11) - 5.0 for j in range(8)])
             for i in range(60)],
            "vec_id long, embedding array<float>",
        )
        plan = _plan(ann_ivf_topk_multi(vecs, [0, 1], k=3, nprobes=(2,), dim=8))
        # the probe must be an EQUI-join on the cell id (queries explode
        # their nprobe cells to rows): r2's array_contains(q_cells, cell)
        # join condition degraded to BroadcastNestedLoop — every corpus
        # row scanned against every query, and no hash co-location on
        # `cell` at scale
        assert "BroadcastHashJoin [cell" in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_redaction_is_single_stage(self, spark, transcripts_on_disk):
        from beats_spark.operators.redact import pii_counts, redact_text

        df = spark.read.parquet(transcripts_on_disk)
        out = df.select(
            redact_text(F.col("text")).alias("r"),
            *pii_counts(F.col("text")),
        )
        plan = _plan(out)
        # pure map work: no exchange, no Python eval
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_repetition_column_path_is_single_stage(
        self, spark, transcripts_on_disk
    ):
        from beats_spark.functions.textstats import repetition_features

        df = spark.read.parquet(transcripts_on_disk)
        feats = repetition_features(F.col("text"))
        out = df.select(*[c.alias(n) for n, c in feats.items()])
        plan = _plan(out)
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_repetition_exploded_path_shape(self, spark, transcripts_on_disk):
        # the 100-TB path: per n, explode -> groupBy(id, gram) ->
        # groupBy(id) -> join back; exactly two hash exchanges per n,
        # nothing per-row Python
        from beats_spark.functions.textstats import ngram_repetition_df

        df = spark.read.parquet(transcripts_on_disk).withColumnRenamed(
            "turn_idx", "doc_id"
        )
        plan = _plan(ngram_repetition_df(df.select("doc_id", "text")))
        assert plan.count("Exchange hashpartitioning") == 4  # 2 per n
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_quality_filter_is_single_stage(self, spark, transcripts_on_disk):
        from beats_spark.functions.textstats import quality_filter

        df = spark.read.parquet(transcripts_on_disk)
        rules = quality_filter(F.col("text"))
        out = df.select(*[c.alias(n) for n, c in rules.items()])
        plan = _plan(out)
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestSourceReaderPlans:
    def test_docker_assembly_is_one_exchange_no_python(self, spark):
        from beats_spark.sources.docker import docker_logs

        df = spark.createDataFrame(
            [("f", 0, '{"log":"a\\n","stream":"stdout","time":"t"}')],
            "file string, seq long, line string",
        )
        plan = _plan(docker_logs(df))
        # window (chain ids) and groupBy (assembly) both key on `file`:
        # one hash exchange feeds both, nothing per-row Python
        assert plan.count("Exchange hashpartitioning") == 1
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_framing_is_map_side_only(self, spark):
        from beats_spark.functions.framing import frame_events

        df = spark.createDataFrame([("c", "a\nb\n")], "conn string, blob string")
        plan = _plan(frame_events(df, max_message_size=1024))
        # split + posexplode: a generator in the scan stage, no shuffle
        assert "Exchange" not in plan
        assert "Generate" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestDuplicatedSpansPlan:
    def test_three_exchanges_equi_join_only(self, spark):
        from beats_spark.operators.dedup import duplicated_spans

        df = spark.createDataFrame(
            [(i, f"tok{i % 7} a b c d e f g h") for i in range(200)],
            "doc_id long, text string",
        )
        plan = _plan(duplicated_spans(df, n=3, min_df=2, materialize=False))
        # span-keyed lhs exchange + dup-count exchange (the span agg's
        # partial combine rides the same key) + final doc_id groupBy —
        # and the frequency join must stay an equi-join on the span
        # (at 100 TB both sides are big: sort-merge is the right call,
        # broadcast/nested-loop would be wrong either way)
        assert plan.count("Exchange hashpartitioning") == 3
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestBloomMembershipPlan:
    def test_flag_projection_is_map_side_no_join(self, spark):
        from beats_spark.operators.dedup import bloom_maybe_contains, norm_text

        df = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(50)], "doc_id long, text string"
        )
        bitmap = [0] * 256  # filter-sized literal; contents irrelevant to shape
        plan = _plan(
            df.select(
                "doc_id",
                bloom_maybe_contains(norm_text(F.col("text")), bitmap, m=256 * 64)
                .alias("maybe_dup"),
            )
        )
        # the bitmap rides as a literal: membership must be a pure
        # projection — no join against the historical corpus, no
        # shuffle, no Python
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestShardAssignmentPlan:
    def test_one_exchange_shared_with_write_sort(self, spark):
        from beats_spark.operators.sampling import assign_shards

        df = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(100)], "doc_id long, text string"
        )
        plan = _plan(assign_shards(df, n_shards=8))
        # shard id is map-side; shard_pos's row_number window keys its
        # single exchange on the shard — the same exchange+sort the
        # shard writer performs, so assignment adds zero extra shuffles
        assert plan.count("Exchange hashpartitioning") == 1
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestIncrementalCuratePlan:
    def test_flag_pass_one_window_exchange_no_history_join(self, spark):
        from beats_spark.streaming.curate import IncrementalCurator

        cur = IncrementalCurator(spark)  # empty bitmap; shape-only
        df = spark.createDataFrame(
            [(i, f"doc body {i} with several tokens") for i in range(50)],
            "doc_id long, text string",
        )
        plan = _plan(cur.flag_batch(df))
        # within-batch keep-first is the ONLY exchange (the window);
        # the history rides in as the bitmap literal — no join, no
        # second shuffle, no Python anywhere in the gate pass
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestR4OperatorPlans:
    """100-TB shape guards for the round-4 additions."""

    def test_temperature_mix_corpus_never_shuffles(self, spark):
        from beats_spark.operators.sampling import temperature_mix

        df = spark.createDataFrame(
            [(i, f"s{i % 3}", "tok " * (1 + i % 5)) for i in range(60)],
            "doc_id long, source string, text string",
        )
        plan = _plan(temperature_mix(df, budget=40))
        # the rate table is strata-bounded and must BROADCAST back onto
        # the corpus; the keep-decision is then a map-side filter — the
        # corpus itself is never hash-partitioned by anything
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # the only exchanges feed the tiny aggregations (counts /
        # normalizing sum), never re-key the corpus by doc
        assert "hashpartitioning(doc_id" not in plan

    def test_histogram_pack_slots_broadcast_one_corpus_exchange(self, spark):
        from beats_spark.operators.sampling import histogram_pack

        df = spark.createDataFrame(
            [(i, "tok " * (1 + i % 7)) for i in range(80)],
            "doc_id long, text string",
        )
        plan = _plan(histogram_pack(df, token_budget=16))
        # the per-length slot table is histogram-bounded (≤ budget
        # rows) and must BROADCAST; the corpus shuffles exactly once,
        # keyed by eff_len for the rank window
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("hashpartitioning(eff_len") >= 1
        assert "hashpartitioning(doc_id" not in plan

    def test_decontam_frac_bench_join_is_broadcast(self, spark):
        from beats_spark.operators.decontam import ngram_overlap_frac

        docs = spark.createDataFrame(
            [(i, f"some text body number {i} with words") for i in range(50)],
            "doc_id long, text string",
        )
        plan = _plan(ngram_overlap_frac(docs, docs.limit(5), n=3))
        # same contract as ngram_overlap: benchmark grams broadcast;
        # the corpus keys only on the doc id (distinct + final agg),
        # never on the gram itself
        assert "BroadcastHashJoin" in plan
        assert "hashpartitioning(g" not in plan

    def test_fuzzy_band_explode_keeps_minhash_out_of_scan(self, spark):
        # InferFiltersFromGenerate on a bare explode of _band_keys
        # pushes size(keys)>0 to the scan with the WHOLE staged
        # shingles->md5->signature chain inlined (measured 20x at
        # sf0.1). explode_band_keys (explode_outer + null-filter on
        # the generated attribute) must keep the scan clean.
        import tempfile

        from beats_spark.operators.decontam import fuzzy_contamination

        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(60)],
                "doc_id long, text string",
            ).write.parquet(f"{d}/docs")
            docs = spark.read.parquet(f"{d}/docs")
            plan = _plan(fuzzy_contamination(docs, docs.limit(5)))
            scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
            assert scans
            for ln in scans:
                assert "array_distinct" not in ln  # shingles chain
                assert "zip_with" not in ln  # signature chain

    def test_multimodal_transforms_are_scan_aligned(self, spark):
        from beats_spark.operators.multimodal import (
            frame_sample,
            resize_payload,
            with_binary_payload,
        )

        df = with_binary_payload(
            spark.createDataFrame(
                [(i, f"payload text {i}") for i in range(20)],
                "doc_id long, text string",
            )
        )
        for out in (resize_payload(df, 8), frame_sample(df, 4, 2)):
            plan = _plan(out)
            # one Arrow-batched python stage, zero exchanges: payload
            # bytes never shuffle — the 100-TB media contract
            assert "ArrowEvalPython" in plan or "MapInPandas" in plan
            assert "Exchange" not in plan
            assert "Join" not in plan


class TestHeavyHitterPlans:
    def test_topk_is_take_ordered_never_global_sort(self, spark):
        """The top-k over the counts frame must compile to
        TakeOrderedAndProject (per-partition top-k, driver merge) —
        a row_number window over the whole counts frame would drag
        every distinct term into ONE partition."""
        from beats_spark.operators.heavyhitters import top_k_terms

        df = spark.createDataFrame(
            [(i, f"a{i % 7} b{i % 3}") for i in range(50)],
            "doc_id long, text string",
        )
        plan = _plan(top_k_terms(df, 5))
        assert "TakeOrderedAndProject" in plan
        # the only window runs over the k survivors (below the take),
        # so no exchange may sit between TakeOrdered and Window
        assert plan.index("Window") < plan.index("TakeOrderedAndProject")

    def test_cms_registers_one_exchange_partial_agg(self, spark):
        """Count-min build: one (i,j)-keyed exchange with map-side
        partial aggregation collapsing the d× probe expansion."""
        from beats_spark.operators.heavyhitters import cms_registers

        df = spark.createDataFrame(
            [(i, f"a{i % 7} b{i % 3}") for i in range(50)],
            "doc_id long, text string",
        )
        plan = _plan(cms_registers(df))
        assert plan.count("Exchange") == 1
        assert "partial_count" in plan
        assert "Python" not in plan and "Join" not in plan

    def test_mg_recount_join_is_broadcast(self, spark):
        """Pass-2 recount touches candidates via a broadcast join —
        the full term stream must never shuffle by term twice."""
        from beats_spark.operators.heavyhitters import top_k_terms_mg

        df = spark.createDataFrame(
            [(i, f"a{i % 7} b{i % 3}") for i in range(50)],
            "doc_id long, text string",
        )
        plan = _plan(top_k_terms_mg(df, 5, cap=8))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestRetrievalPlans:
    def test_bm25_postings_extraction_shape(self, spark, tmp_path):
        """BM25 (operators/bm25.py): the corpus is scanned exactly
        TWICE (N/Σdl stats + postings), the query-term IN filter runs
        in the scan stage BEFORE any exchange (the shuffle carries
        postings, not the corpus), corpus stats and the query table
        join by BROADCAST only, and no Python touches the row path."""
        from beats_spark.operators.bm25 import bm25_topk

        p = str(tmp_path / "docs")
        spark.createDataFrame(
            [(i, f"spark beats w{i % 11} w{i % 7}") for i in range(200)],
            "doc_id long, text string",
        ).write.parquet(p)
        docs = spark.read.parquet(p)
        plan = _plan(bm25_topk(docs, {0: ["spark"], 1: ["beats", "w3"]}))
        assert plan.count("Scan parquet") == 2
        assert " IN (" in plan  # the query-term postings filter
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "Python" not in plan


class TestLayoutAndEvalPlans:
    def test_zorder_code_is_map_only(self, spark, tmp_path):
        """add_zorder after the driver-side bounds agg: the per-row
        code is ONE map stage — no exchange, no Python (the PQ-encode
        contract for layout)."""
        from beats_spark.operators.layout import add_zorder

        p = str(tmp_path / "d")
        spark.range(500).selectExpr(
            "id AS doc_id", "id % 97 AS x", "id % 89 AS y"
        ).write.parquet(p)
        df = spark.read.parquet(p)
        plan = _plan(add_zorder(df, [F.col("x"), F.col("y")], bits=8))
        assert "Exchange" not in plan
        assert "Python" not in plan

    def test_hll_overlap_no_python_no_corpus_join(self, spark):
        """Three register aggs + 1-row crossJoins — the corpus never
        joins anything; no Python anywhere."""
        from beats_spark.operators.sketch import hll_overlap_by

        a = spark.range(300).selectExpr("CAST(id AS STRING) AS v")
        b = spark.range(200, 500).selectExpr("CAST(id AS STRING) AS v")
        plan = _plan(hll_overlap_by(a, b, [], F.col("v")))
        assert "Python" not in plan
        assert "SortMergeJoin" not in plan

    def test_containment_no_cartesian_no_python(self, spark):
        """Candidates come from the prefix×index equi-join on the
        shingle — never a cartesian/nested-loop product; verify joins
        are id-keyed."""
        from beats_spark.operators.dedup import containment_pairs

        df = spark.createDataFrame(
            [(i, f"w{i} w{i+1} w{i+2} w{i+3} common words here")
             for i in range(30)],
            "doc_id long, text string",
        )
        plan = _plan(containment_pairs(df, threshold=0.7,
                                       materialize=False))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Python" not in plan

    def test_eval_topk_joins_stay_result_bounded(self, spark):
        """The discount/ideal lookup tables join BROADCAST; no Python
        touches the metric arithmetic."""
        from beats_spark.operators.raneval import eval_topk

        t = spark.createDataFrame(
            [(0, i, i + 1) for i in range(5)],
            "q_id long, neighbor_id long, rank int",
        )
        c = spark.createDataFrame(
            [(0, i + 2, i + 1) for i in range(5)],
            "q_id long, neighbor_id long, rank int",
        )
        plan = _plan(eval_topk(t, c, k=5))
        assert "BroadcastHashJoin" in plan
        assert "Python" not in plan


class TestMaterializeTiers:
    @pytest.mark.parametrize(
        "master,checkpoint_dir,tier",
        [
            ("local", None, "local"),
            ("local[4]", None, "local"),
            ("local[*]", None, "local"),
            ("local-cluster[2,1,1024]", None, "disk"),
            ("yarn", None, "disk"),
            ("spark://host:7077", None, "disk"),
            ("local[4]", "file:/tmp/ckpt", "reliable"),
            ("yarn", "hdfs:///ckpt", "reliable"),
        ],
    )
    def test_tier_follows_session(self, master, checkpoint_dir, tier):
        """The lineage-cut tier is read off the session (r4 verdict
        #2: bare localCheckpoint is executor-storage-only on a real
        cluster): a checkpoint dir → reliable, a local master → local
        checkpoint, anything else → recomputable DISK_ONLY persist."""
        from beats_spark.plans.materialize import lineage_tier

        assert lineage_tier(master, checkpoint_dir) == tier

    def test_tiers_cut_lineage(self, spark, monkeypatch):
        from beats_spark.plans import materialize as m

        df = spark.range(100)
        # the shared session: local master, no checkpoint dir
        assert m.lineage_tier(
            spark.sparkContext.master, spark.sparkContext.getCheckpointDir()
        ) == "local"
        assert m.materialize(df).count() == 100
        monkeypatch.setattr(m, "lineage_tier", lambda master, ckpt: "disk")
        out = m.materialize(df)
        assert out.storageLevel.useDisk and not out.storageLevel.useMemory
        assert out.count() == 100
        out.unpersist()

    def test_no_lineage_cut_outside_materialize(self):
        """Program code cuts lineage only through ``materialize``, so
        the tier follows the session: a bare ``localCheckpoint()`` on a
        cluster fails the job on executor loss instead of recomputing."""
        import ast
        from pathlib import Path

        repo = Path(__file__).resolve().parents[1]
        files = [
            *sorted((repo / "beats_spark").rglob("*.py")),
            *sorted((repo / "jobs").rglob("*.py")),
            repo / "__spark_entry__.py",
        ]
        assert len(files) > 20
        home = repo / "beats_spark" / "plans" / "materialize.py"
        offenders = [
            f"{f.relative_to(repo)}:{node.lineno}"
            for f in files
            if f != home
            for node in ast.walk(ast.parse(f.read_text(), filename=str(f)))
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("localCheckpoint", "checkpoint")
        ]
        assert offenders == [], (
            "cut lineage with beats_spark.plans.materialize.materialize, "
            f"not a bare checkpoint: {offenders}"
        )


class TestHotBucketCapPlans:
    def test_lsh_anchor_window_shares_the_band_exchange(self, spark):
        """The r5 hot-bucket cap must not add a shuffle: the anchor
        window's (band, key) exchange is the only one keyed on the
        band table — the candidate join consumes it (or broadcasts),
        never re-exchanges on (band, key)."""
        import re
        from beats_spark.operators.dedup import minhash_lsh_pairs
        from tests.conftest import SF_DIR

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = (
            minhash_lsh_pairs(docs, threshold=0.5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        band_exchanges = [
            m.group(0)
            for m in re.finditer(
                r"Exchange hashpartitioning\(band#\d+, key#\d+", plan
            )
        ]
        assert len(band_exchanges) == 1, plan[:2000]

    def test_semdedup_window_never_sorts_embeddings(self, spark):
        """The hot-cell rank runs on the slim (id, cell, dist) table
        BEFORE vectors attach — no Sort node may carry the embedding
        array (the r5 fix that removed the array-shuffling window)."""
        import re
        from beats_spark.operators.similarity import semdedup
        from tests.conftest import SF_DIR

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        plan = (
            semdedup(emb, k=2, iters=1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for m in re.finditer(r"Sort \[([^\]]*)\]", plan):
            assert "embedding" not in m.group(1), m.group(1)
