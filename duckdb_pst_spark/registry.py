"""Central query registry.

Every operator from SURVEY.md §2 registers a ``QuerySpec`` here; the
driver contract (``__spark_entry__.py``) and ``bench.py`` both read from
this one place. ``oracle`` is the ANSI-SQL equivalent DuckDB runs on the
same parquet views for the correctness gate (None → rows-only check for
genuinely non-SQL-expressible ops).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None = None
    tags: tuple[str, ...] = ()
    bench: bool = False  # include in bench.py headline set
    doc: str = ""
    # Per-query session-conf overrides a deployment should apply while
    # running this query (and ONLY this query — e.g. the 64 MB broadcast
    # threshold cures Q16/Q11 but was measured to REGRESS Q7, which is
    # why this is a per-query knob and not a session default). Applied
    # by bench.py via applied_confs(); never mutated mid-session without
    # restore. Results must be conf-independent — the driver's
    # correctness gate runs builders WITHOUT these overrides.
    confs: tuple[tuple[str, str], ...] = ()
    # Optional fixed corpus for the bench row (bench.py uses it instead
    # of $SPARK_GRAFT_SF_DIR and reports it under "bench_dir_overrides").
    # For queries whose full-sf cost would dominate the headline total
    # (q_triangle_count_pte: 38.6 s at sf0.1 vs 4.1 s at sf0.01) a capped
    # corpus keeps round-over-round regression visibility at fixed cost.
    bench_dir: str | None = None
    # Set when `oracle` is a constant-pinned VALUES golden generated at a
    # FIXED corpus (tools/pin_goldens.py): the oracle equality only holds
    # at this sf_dir, so the parity harness compares builder and oracle
    # there regardless of the ambient test corpus. The driver's gate runs
    # at sf0.01 — every pinned_sf is sf0.01. The media-fixture goldens
    # are registered WITHOUT pinned_sf: their input is the repo's own
    # deterministic fixture, not the sf corpus, so the golden holds at
    # any sf_dir.
    pinned_sf: str | None = None


REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in REGISTRY:
        raise ValueError(f"duplicate query name {spec.name!r}")
    REGISTRY[spec.name] = spec
    return spec


def query(
    name: str,
    *,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    confs: tuple[tuple[str, str], ...] = (),
    bench_dir: str | None = None,
    pinned_sf: str | None = None,
):
    """Decorator form: @query("q_x", oracle="SELECT ...")."""

    def deco(fn: Builder) -> Builder:
        register(
            QuerySpec(
                name, fn, oracle=oracle, tags=tags, bench=bench,
                doc=fn.__doc__ or "", confs=confs, bench_dir=bench_dir,
                pinned_sf=pinned_sf,
            )
        )
        return fn

    return deco


def applied_confs(spark: SparkSession, spec: QuerySpec):
    """Context manager: set the spec's session-conf overrides, restore
    the previous values (or unset) on exit. The shipped mechanism for
    per-query deployment knobs — bench.py wraps every run in it, so a
    spec's measured cure (e.g. Q16/Q11's 64 MB broadcast threshold)
    rides the artifact a user actually runs instead of a tools/ script."""
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        saved: list[tuple[str, str | None]] = []
        for k, v in spec.confs:
            try:
                saved.append((k, spark.conf.get(k)))
            except Exception:
                saved.append((k, None))
            spark.conf.set(k, v)
        try:
            yield spark
        finally:
            for k, old in reversed(saved):
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)

    return _cm()


# The driver's correctness gate checks a PREFIX of the registered queries
# (round 1 recorded exactly the first 50 in registration order). To get
# every declared query hash-verified across rounds, load_all() serves the
# registry re-ordered: names listed here come first (in this order), then
# the remaining oracle-bearing specs in registration order. (The rows-only
# class was emptied in round 10 — every formerly rows-only kernel now
# carries a constant-pinned VALUES golden, tools/pin_goldens.py.)
#
# Round 11 window (executes the rotation plan pre-queued at the end of
# round 10 — see the ROUND-11 PLAN comment below VERIFY_FIRST; this is
# the oldest-green-first sweep, arithmetic sums to exactly 50):
#   0. ROUND11_ADDITIONS (3): q_tpch_q3_bucketed (the eleventh twin —
#      whole-plan-exchange-free Q3 on the existing orderkey layout),
#      q_tpch_q13_bucketed (the twelfth — custkey layout, third
#      family, 0.30x at x100), and q_tpch_q22_bucketed (the
#      thirteenth — rides the same custkey layout, 0.48x at x100);
#      each needs its first hash-checked driver row and displaces one
#      r6 fill slot (q_struct_access, q_orderby_expr, q_union → r12).
#   1. The r4 stragglers (3) — the only greens older than r5 anywhere:
#      q_corpus_card, q_filter_cascade, q_media_dedup.
#   2. The full r5 block (29, registration order): q_tpch_q3, the
#      dedup/text/sketch r5 rows, the windows block, and the six
#      stream queries — after this, no green anywhere predates r6.
#   3. r6 greens in registration order (15 of 47 fit; the remaining 32
#      clear in round 12).
VERIFY_FIRST: tuple[str, ...] = (
    # round-11 additions (3) — first driver window for the new twins
    "q_tpch_q3_bucketed", "q_tpch_q13_bucketed", "q_tpch_q22_bucketed",
    # r4 stragglers (3) — last green round 4
    "q_corpus_card", "q_filter_cascade", "q_media_dedup",
    # r5 block (29) — last green round 5, registration order
    "q_tpch_q3", "q_dedup_minhash", "q_dedup_simhash_prod",
    "q_containment_prefix", "q_tfidf", "q_bigram_surprise",
    "q_char_diversity", "q_mad_outliers", "q_quality_linear",
    "q_heavy_hitters", "q_kmv_grouped", "q_window_count_distinct",
    "q_anomaly_zscore", "q_events_funnel", "q_retention_cohorts",
    "q_cdc_apply", "q_scd2_intervals", "q_merge_upsert",
    "q_skyline", "q_ohlc_bars", "q_regr_slope",
    "q_attribution_last_touch", "q_media_salvage_real",
    "q_stream_closed_windows", "q_stream_topk", "q_stream_cdc_merge",
    "q_stream_sessions_native", "q_stream_late_data", "q_stream_dedup_wm",
    # r6 fill (15 of 47, registration order; rest clear in round 12)
    "q_scan_project", "q_filter_eq", "q_filter_like", "q_filter_null",
    "q_count_star", "q_count_distinct", "q_groupby_count_order",
    "q_orderby_multi", "q_topn", "q_late_materialization",
    "q_distinct", "q_join_inner", "q_semi_join", "q_from_subquery",
    "q_case_when",
)

ROUND11_ADDITIONS: tuple[str, ...] = (
    # registered in round 11, windowed in round 11 (front slots)
    "q_tpch_q3_bucketed", "q_tpch_q13_bucketed", "q_tpch_q22_bucketed",
)

ROUND10_ADDITIONS: tuple[str, ...] = (
    "q_dedup_minhash_fast", "q_bpe_train", "q_bpe_encode",
    "q_knn_gemm", "q_dedup_semantic_gemm", "q_dedup_semantic_scaled",
    "q_image_decode", "q_audio_features", "q_media_phash_pairs",
    "q_media_scene_cuts", "q_pipeline_media", "q_media_audio_dup",
    "q_media_video_dup", "q_stream_pst_ingest", "q_tpch_q11_bucketed",
    "q_schema_evolution", "q_partition_pruning", "q_lake_ignore_corrupt",
    "q_tpch_q18_bucketed",
)

# Round-12 window plan (the rotation math, computed end of round 11
# from the aggregated CORRECTNESS last-green table minus the r11
# window):
#   0. Any round-12 registry additions + canaries for green plans
#      round 12 rewrites (front slots; truncate the fill to keep 50).
#   1. The 32 remaining r6 greens in registration order (the round-11
#      window took the first 15): q_struct_access, q_orderby_expr,
#      q_union, q_tpch_q1, q_join_agg_topn,
#      q_minhash_sig, q_ngram_jaccard, q_dedup_cluster,
#      q_dedup_cluster_star, q_dedup_keep_best, q_dedup_incremental,
#      q_lsh_recall, q_cluster_size_histogram, q_passage_dedup,
#      q_winnowing, q_chi2_terms, q_substring_spans, q_dsir_weights,
#      q_phrase_pmi, q_dsir_resample, q_token_gini,
#      q_pipeline_pretrain, q_hash_sample, q_knn_lsh,
#      q_dedup_semantic, q_hll_distinct, q_kmv_jaccard, q_countmin,
#      q_window_rank, q_sessionize, q_asof_join, q_media_decode_real.
#   2. r7 greens in registration order until the 50 slots are full
#      (49 candidates; ~18 fit absent round-12 additions; the rest
#      clear in round 13).
# Done = no green older than r7 anywhere; steady-state rotation
# (window 50 vs registry 277) keeps every green within ~6 rounds.

# Round-8 window (executed; all 50 green in CORRECTNESS_r08): the 16
# ROUND8_ADDITIONS + 34 registration-order fill slots — kept as a named
# tuple below (ROUND8_ADDITIONS) for the rotation arithmetic gate.

# ROUND5_PLANNED: the 39 oracle-bearing queries that had never been inside
# any driver window as of round 4 — all 39 occupy the first slots of the
# round-5 VERIFY_FIRST above. Kept as a named tuple so the rotation
# arithmetic stays test-gated (tests/test_oracle_parity.py).
ROUND5_PLANNED: tuple[str, ...] = (
    "q_zorder_stats", "q_jsonl_ingest", "q_except_all", "q_intersect_all",
    "q_orderby_nulls", "q_decimal_money", "q_hof_parity", "q_sequence_gaps",
    "q_benford",
    "q_window_count_distinct", "q_anomaly_zscore", "q_events_funnel",
    "q_retention_cohorts", "q_cdc_apply", "q_scd2_intervals", "q_merge_upsert",
    "q_skyline", "q_ohlc_bars", "q_regr_slope", "q_attribution_last_touch",
    "q_stream_closed_windows", "q_stream_topk", "q_stream_cdc_merge",
    "q_stream_sessions_native",
    # round-4 additions (oracle-bearing, never windowed)
    "q_media_decode_real", "q_media_salvage_real",
    "q_tpch_q3", "q_tpch_q18", "q_dedup_simhash_prod",
    "q_char_diversity", "q_token_gini", "q_mad_outliers",
    "q_cluster_size_histogram", "q_stream_late_data",
    "q_quality_linear", "q_stream_dedup_wm", "q_containment_prefix",
    "q_kmv_grouped", "q_profile_columns",
)

# Round-7 rotation inputs, test-gated (tests/test_oracle_parity.py)
# like ROUND5_PLANNED so the next window stays executable:
ROUND6_ADDITIONS: tuple[str, ...] = (
    "q_split_leakfree", "q_oov_rate", "q_ngram_novelty",
    "q_triangle_count", "q_knn_ivfpq", "q_lang_confusion",
    "q_ivf_nprobe_sweep", "q_dedup_threshold_sweep",
)
ROUND7_CANARIES: tuple[str, ...] = (
    # oracle-string refactor (green r3) + the two _lloyd_gemm
    # training migrations (green r4, md5-equal outputs at Zipf-100×)
    "q_lang_ngram", "q_kmeans_iter", "q_knn_ivf_trained",
)
ROUND7_ADDITIONS: tuple[str, ...] = (
    # registered in round 7, windowed in round 7 (front slots)
    "q_tpch_q5", "q_quality_ks", "q_tokenizer_fertility",
    "q_dedup_prefix_exact", "q_triangle_count_pte",
    "q_minhash_band_stats", "q_group_topk_freq", "q_tpch_q10",
    "q_tpch_q6",
)

ROUND9_ADDITIONS: tuple[str, ...] = (
    # registered in round 9, windowed in round 9 (front slots)
    "q_tpch_q4_bucketed", "q_tpch_q12_bucketed", "q_tpch_q9_bucketed",
    "q_tpch_q21_bucketed", "q_tpch_q5_bucketed", "q_tpch_q10_bucketed",
    "q_tpch_q7_bucketed", "q_tpch_q8_bucketed", "q_csv_ingest",
)
ROUND9_CANARIES: tuple[str, ...] = (
    # FLOOR-before-cast harmonization rewrote builder AND oracle
    "q_tpch_q9", "q_tpch_q11", "q_tpch_q17", "q_tpch_q18",
    "q_tpch_q20", "q_profile_columns",
)

ROUND8_ADDITIONS: tuple[str, ...] = (
    # registered in round 8, windowed in round 8 (front slots)
    "q_tpch_q4", "q_tpch_q12", "q_tpch_q14", "q_join_key_skew",
    "q_char_class_profile", "q_tpch_q17", "q_tpch_q15",
    # second round-8 batch: the TPC-H suite completion — all 22
    # reference-family queries now registered (adapted to the
    # testdata schema where it lacks partsupp / commit dates)
    "q_tpch_q7", "q_tpch_q8", "q_tpch_q9", "q_tpch_q2", "q_tpch_q11",
    "q_tpch_q16", "q_tpch_q20", "q_tpch_q21", "q_tpch_q22",
)

# Round-10 window plan (the rotation math, to finalize end of round 9):
#   0. Any round-10 registry additions (front slots).
#   1. Canaries for any green plan round 10 rewrites outside its own
#      window.
#   2. Continue the registration-order fill where round 9 stopped:
#      the r4 greens the round-9 front slots displaced
#      (text q_histogram_drift, dedup q_dedup_simhash_hamming
#      q_setsim_prefix, join_strategies q_bloom_prune
#      q_fuzzy_blocking, similarity
#      q_knn_recall_ivf q_ann_rerank q_knn_pq q_knn_recall_pq q_auc
#      q_embedding_drift, sketches q_source_overlap
#      q_exact_median_2pass, sampling q_source_mix q_source_cap
#      q_global_shuffle, recursive q_pagerank, relational
#      q_lateral_topk q_tpch_q19 q_tpch_q13 q_nullsafe_join
#      q_not_in_nulls), then the r5 greens in registration order
#      (ROUND5_PLANNED order) until the 50 slots are full.
# Done = every oracle-bearing query re-verified within ~3 rounds of its
# last plan change.
#
# Round-9 harmonization (DONE this round): Q17/Q18 AND the completion
# batch's Q9/Q11/Q20 (the round-8 claim that the batch already used
# FLOOR was wrong — caught by the round-8 advisor) all used the raw
# CAST(l_quantity AS BIGINT), which rounds half-away in DuckDB but
# truncates in Spark — latent on the integral-quantity generated
# corpora, divergent on any fractional corpus. All five builders and
# oracles (plus q_profile_columns' shared projection string) now use
# CAST(FLOOR(l_quantity) AS BIGINT) / F.floor(...).cast("long"), and
# tests/test_fuzz_oracle.py pins a fractional-quantity corpus where
# the old form measurably diverges. The five rewritten queries owe
# canary slots in the round-9 window (ROUND9_CANARIES below).


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module so its @query decorators run."""
    from duckdb_pst_spark.operators import (  # noqa: F401
        bucketed,
        dedup,
        join_strategies,
        pipeline,
        recursive,
        relational,
        sampling,
        similarity,
        sketches,
        text,
        windows,
    )
    from duckdb_pst_spark.multimodal import queries as _mm_queries  # noqa: F401
    from duckdb_pst_spark.sources.mspst import queries as _pstbin_queries  # noqa: F401
    from duckdb_pst_spark.streaming import events as _streaming_events  # noqa: F401
    from duckdb_pst_spark.streaming import stateful as _streaming_stateful  # noqa: F401

    missing = [n for n in VERIFY_FIRST if n not in REGISTRY]
    if missing:
        raise KeyError(f"VERIFY_FIRST names not registered: {missing}")
    head = {n: REGISTRY[n] for n in VERIFY_FIRST}
    rows_only_in_window = [n for n, s in head.items() if s.oracle is None]
    if rows_only_in_window:
        raise ValueError(
            f"rows-only specs may not occupy window slots: {rows_only_in_window}"
        )
    # Oracle-bearing specs before rows-only ones, each group in
    # registration order — rows-only specs can never produce a green
    # driver row, so they must sort behind every proveable query.
    tail = [(n, s) for n, s in REGISTRY.items() if n not in head]
    tail_oracle = {n: s for n, s in tail if s.oracle is not None}
    tail_rows_only = {n: s for n, s in tail if s.oracle is None}
    return {**head, **tail_oracle, **tail_rows_only}
