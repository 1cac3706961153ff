"""Streaming INCREMENTAL curation: continuous document ingestion
against an already-curated corpus (SURVEY.md §2.10 + the Bloom
incremental-dedup operator).

The batch curate job (jobs/curate_job.py) is the full-corpus pass; a
production pipeline then runs FOREVER on deltas — a new crawl
snapshot lands every day and must be cleaned, quality-gated, and
deduplicated against 100 TB of already-admitted history WITHOUT
re-shuffling the history. The shape that survives that asymmetry:

  file stream source            ← crawl snapshots landing in a dir
  foreachBatch                  ← one curation pass per snapshot
  Bloom bitmap (driver state)   ← the admitted-corpus key set,
                                  filter-sized (~1.2 GB / 1e9 keys
                                  at 10 bits/key), membership is
                                  map-side Column bit math — the
                                  history is NEVER joined or scanned
                                  after the one build
  append sinks                  ← curated/data + curated/stats

Per micro-batch (flags-then-filter, same philosophy as the batch
job's funnel):

  1. fix-text normalization (map-side),
  2. ``first_seen``  — within-batch exact keep-first on the
     normalized text (one micro-batch-sized exchange),
  3. ``novel``       — NOT bloom_maybe_contains(norm) vs everything
     admitted so far (map-side; the bitmap rides in as a literal),
     optionally AND'd with a NEAR-dup membership (``near_min_hits``):
     the admitted set's LSH band keys in a second bitmap, a doc
     dropped when >= near_min_hits of its bands hit (map-side; the
     hit-count threshold is the verify — one Bloom FP can't drop a
     novel doc),
  4. ``quality_keep``— the Gopher-style rule conjunction (map-side),

then one aggregation yields the per-batch funnel row (written to
``stats/batch_id=N``), the conjunction's survivors land in
``data/batch_id=N``, and the survivors' keys are OR-ed into the
bitmap so the NEXT batch dedups against them. Bloom semantics are
inherited: a false positive drops a novel document (probability sized
by m/n; deterministic given the md5 construction), a true duplicate
is NEVER admitted twice.

Delivery contract: foreachBatch is AT-LEAST-ONCE — a crash between
the sink writes and the checkpoint commit replays the batch with the
same batch_id on restart. Both sinks are therefore IDEMPOTENT
per-batch (``streaming/sink.write_batch``): each write overwrites
only its own ``batch_id=N`` partition, so a replay rewrites
identical bytes instead of appending a duplicate funnel row /
duplicate documents.

Restart contract: the bitmap is driver memory, so a restarted job
rebuilds it from the curated output itself
(:meth:`IncrementalCurator.from_output` — the default when the output
already exists) — the analog of the batch manifest's resume. The
stream checkpoint skips already-committed files, the batch_id
overwrite absorbs the one possibly-uncommitted replay, so bitmap
rebuild + checkpoint replay converge to the same admitted set.

Reference framing: the shipper keeps a registrar of what it already
published (filebeat/registrar); this operator keeps a registrar of
what it already ADMITTED, compressed to a Bloom filter so it stays
broadcastable at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.clean import clean_text
from ..operators.dedup import (
    BLOOM_K,
    BLOOM_LITERAL_MAX_BITS,
    BLOOM_M,
    LSH_ROWS_PER_BAND,
    MINHASH_K,
    bloom_build,
    bloom_flag_join,
    bloom_maybe_contains,
    bloom_words_df,
    explode_band_keys,
    norm_text,
    with_band_keys,
)
from .sink import start_foreach_batch, write_batch


class IncrementalCurator:
    """Driver-side state (the Bloom bitmap) + the per-batch curation
    pass. Use :func:`run_incremental_curation` to wire it to a
    stream; the instance is also directly usable on batch DataFrames
    (``curator.process_batch(df, batch_id)``) for backfills."""

    def __init__(
        self,
        spark: SparkSession,
        history_df: DataFrame | None = None,
        text_col: str = "text",
        id_col: str = "doc_id",
        m: int = BLOOM_M,
        k: int = BLOOM_K,
        near_min_hits: int = 0,
    ) -> None:
        self.spark = spark
        self.text_col = text_col
        self.id_col = id_col
        self.m, self.k = m, k
        # near_min_hits > 0 turns on NEAR-dup membership: the admitted
        # set's LSH band keys (dedup.with_band_keys — same banding as
        # minhash_lsh_pairs) live in a SECOND Bloom bitmap, and a new
        # doc is a near-dup when >= near_min_hits of its bands are
        # already present. The hit-count threshold is the map-side
        # verify: one Bloom false positive can't drop a novel doc
        # (needs near_min_hits independent FPs), while a true
        # paraphrase at jaccard j hits each band w.p. j^rows_per_band
        # — the history itself still never joins.
        self.near_min_hits = near_min_hits
        if history_df is not None:
            # ONE aggregation over the history, ever (bloom_build:
            # map-side combine to <= m/64 partial rows per partition)
            self.bitmap = bloom_build(
                history_df, norm_text(F.col(text_col)), m, k
            )
            self.near_bitmap = (
                self._near_delta(history_df)
                if near_min_hits
                else [0] * ((m + 63) // 64)
            )
        else:
            self.bitmap = [0] * ((m + 63) // 64)
            self.near_bitmap = [0] * ((m + 63) // 64)

    def _near_delta(self, df: DataFrame) -> list[int]:
        """Band-key Bloom bitmap over ``df`` — nb keys per doc, one
        map-side-combining bit_or agg (the bloom_build shape)."""
        keyed = with_band_keys(df, F.col(self.text_col))
        # explode_band_keys, never bare F.explode: the inferred
        # size()>0 filter re-runs the minhash chain at the scan
        return bloom_build(
            explode_band_keys(keyed, out_col="_bk").select("_bk"),
            F.col("_bk"),
            self.m,
            self.k,
        )

    @classmethod
    def from_output(
        cls,
        spark: SparkSession,
        output_root: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        m: int = BLOOM_M,
        k: int = BLOOM_K,
        near_min_hits: int = 0,
    ) -> "IncrementalCurator":
        """Restart path: rebuild the admitted-set bitmap(s) from the
        curated output written by previous runs. Curated text is
        already fix-text-normalized, and ``norm_text`` / the band-key
        chain are idempotent over it, so the rebuilt keys equal the
        keys OR-ed in live."""
        hist = spark.read.parquet(f"{output_root}/data")
        return cls(
            spark,
            hist,
            text_col=text_col,
            id_col=id_col,
            m=m,
            k=k,
            near_min_hits=near_min_hits,
        )

    # -- per-batch pass --------------------------------------------------

    def flag_batch(self, batch_df: DataFrame) -> DataFrame:
        """The three gate columns over a cleaned batch; no filtering
        yet (flags-then-filter keeps the funnel one aggregation)."""
        from ..functions.textstats import quality_features, quality_rules_over

        cleaned = batch_df.withColumn(
            self.text_col, clean_text(F.col(self.text_col))
        ).withColumn("_norm", norm_text(F.col(self.text_col)))
        # within-batch exact keep-first: one exchange keyed on the
        # normalized text, micro-batch-sized
        w = Window.partitionBy("_norm").orderBy(F.asc(self.id_col))
        flagged = cleaned.withColumn(
            "first_seen", F.row_number().over(w) == 1
        )
        # map-side membership vs everything admitted so far — the
        # history itself is never in the plan. Small filters ride as a
        # plan-literal array (oracle-parity path); past
        # BLOOM_LITERAL_MAX_BITS the bitmap ships as a broadcast
        # (word, bits) table instead (k BroadcastHashJoins, still zero
        # exchanges on the batch) — same probes, bit-identical flags
        if self.m <= BLOOM_LITERAL_MAX_BITS:
            flagged = flagged.withColumn(
                "novel",
                ~bloom_maybe_contains(
                    F.col("_norm"), self.bitmap, self.m, self.k
                ),
            )
        else:
            flagged = bloom_flag_join(
                flagged,
                F.col("_norm"),
                bloom_words_df(self.spark, self.bitmap),
                self.m,
                self.k,
                out_col="_bl_hit",
            ).withColumn("novel", ~F.col("_bl_hit")).drop("_bl_hit")
        if self.near_min_hits:
            # NEAR-dup vs the admitted set: band keys map-side, each
            # tested against the band bitmap, hit count >= threshold
            # folds into `novel` (a near-dup IS a history dup for the
            # funnel). A shingle-less doc has no bands → never a
            # candidate. Zero extra exchanges: the plan pin holds.
            keyed = with_band_keys(flagged, F.col(self.text_col))
            nb = MINHASH_K // LSH_ROWS_PER_BAND
            if self.m <= BLOOM_LITERAL_MAX_BITS:
                hit_cols = [
                    F.coalesce(
                        bloom_maybe_contains(
                            F.get("_band_keys", i),
                            self.near_bitmap,
                            self.m,
                            self.k,
                        ),
                        F.lit(False),
                    )
                    for i in range(nb)
                ]
                keyed = keyed.withColumn(
                    "_near_hits",
                    sum(
                        (c.cast("int") for c in hit_cols[1:]),
                        hit_cols[0].cast("int"),
                    ),
                )
            else:
                words = bloom_words_df(self.spark, self.near_bitmap)
                for i in range(nb):
                    keyed = bloom_flag_join(
                        keyed.withColumn(f"_bk{i}", F.get("_band_keys", i)),
                        F.col(f"_bk{i}"),
                        words,
                        self.m,
                        self.k,
                        out_col=f"_bh{i}",
                    ).drop(f"_bk{i}")
                keyed = keyed.withColumn(
                    "_near_hits",
                    sum(
                        (
                            F.coalesce(F.col(f"_bh{i}"), F.lit(False)).cast(
                                "int"
                            )
                            for i in range(1, nb)
                        ),
                        F.coalesce(F.col("_bh0"), F.lit(False)).cast("int"),
                    ),
                ).drop(*[f"_bh{i}" for i in range(nb)])
            flagged = keyed.withColumn(
                "novel",
                F.col("novel")
                & (F.col("_near_hits") < F.lit(self.near_min_hits)),
            ).drop("_band_keys", "_near_hits")
        # quality rules map-side, features materialized once
        feats = quality_features(F.col(self.text_col))
        staged = flagged.select(
            "*", *[c.alias(f"_qf_{name}") for name, c in feats.items()]
        )
        keep = quality_rules_over(
            {name: F.col(f"_qf_{name}") for name in feats}
        )["keep"]
        return staged.withColumn("quality_keep", keep).drop(
            *[f"_qf_{name}" for name in feats]
        )

    def process_batch(
        self, batch_df: DataFrame, batch_id: int, output_root: str
    ) -> None:
        flagged = self.flag_batch(batch_df).persist()
        try:
            admitted = F.col("first_seen") & F.col("novel") & F.col(
                "quality_keep"
            )
            # one aggregation = the whole funnel (gates attributed in
            # order: batch-dup, then history-dup, then quality)
            # sums coalesced: an EMPTY micro-batch (possible on a
            # checkpoint-replay restart) must record a zero row, not
            # NULLs (sum over zero rows is NULL)
            def _n(c):
                return F.coalesce(F.sum(c.cast("long")), F.lit(0))

            row = flagged.agg(
                F.count("*").alias("n_in"),
                _n(~F.col("first_seen")).alias("n_batch_dup"),
                _n(F.col("first_seen") & ~F.col("novel")).alias(
                    "n_history_dup"
                ),
                _n(
                    F.col("first_seen")
                    & F.col("novel")
                    & ~F.col("quality_keep")
                ).alias("n_low_quality"),
                _n(admitted).alias("n_admitted"),
            )
            # idempotent per-batch sinks: an at-least-once replay of
            # the same batch_id rewrites rather than duplicates
            write_batch(row, batch_id, f"{output_root}/stats")
            kept = flagged.where(admitted)
            write_batch(
                kept.drop("_norm", "first_seen", "novel", "quality_keep"),
                batch_id,
                f"{output_root}/data",
            )
            # fold the admitted keys into the bitmap so the NEXT batch
            # (and the next snapshot, and tomorrow's run via
            # from_output) treats them as history
            delta = bloom_build(kept, F.col("_norm"), self.m, self.k)
            self.bitmap = [a | b for a, b in zip(self.bitmap, delta)]
            if self.near_min_hits:
                nd = self._near_delta(kept)
                self.near_bitmap = [
                    a | b for a, b in zip(self.near_bitmap, nd)
                ]
        finally:
            flagged.unpersist()


def run_incremental_curation(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    checkpoint_dir: str,
    curator: IncrementalCurator | None = None,
    schema=None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Wire an :class:`IncrementalCurator` to a parquet-directory
    stream (new snapshot files discovered per trigger). Returns the
    started StreamingQuery; with ``available_now`` the query drains
    the current file set and terminates (foreachBatch carries no
    processing-time state, so availableNow termination is safe —
    contrast the stateful-multiline gotcha in CLAUDE.md).

    ``curator=None`` resolves against the OUTPUT: if ``data/`` already
    exists this is a restart and the bitmap is rebuilt from it
    (:meth:`IncrementalCurator.from_output`) — a fresh empty bitmap
    here would silently disable history dedup, because the checkpoint
    skips the old files but knows nothing of what they admitted."""
    if curator is None:
        from pyspark.errors import AnalysisException

        try:
            curator = IncrementalCurator.from_output(spark, output_root)
        except AnalysisException:  # no prior output → genuinely fresh
            curator = IncrementalCurator(spark)
    if schema is None:
        schema = spark.read.parquet(input_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return start_foreach_batch(
        reader.parquet(input_path),
        lambda df, bid: curator.process_batch(df, bid, output_root),
        checkpoint_dir,
        available_now,
    )
