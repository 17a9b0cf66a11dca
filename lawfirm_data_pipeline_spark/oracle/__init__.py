"""Oracle-checked query registrations, one module per milestone.

Import order IS registration order, and the driver's correctness gate
evaluates the first 50 entries of ``queries()`` dict order.  Rotation
history: round 1 checked m0..m7-head in build order; round 2 rotated
m8-m13 + new m14-m16 heads in; round 3 front-loaded the never-checked
q79-q89, the events-ts-repaired families, and q50's new value gate.

ROUND 4 (this order) front-loads exactly 50 never-driver-checked
queries, biased by ARCHITECTURAL RISK per the r3 verdict (#1/#2): the
families where a driver-box/session-state divergence could hide from a
scalar groupBy go first — Spark-4 native surfaces (q202-q204), lake /
format / IO gates (q175/q176, q197/q198, q205-q207), streaming
(q104, q110, q152), iterative graph (q126-q128, q156, q208, q221) —
then the m18-m24 corpus/stats waves, closing with q223 at slot 50.

ROUND 6 no longer relies on import order for the window: the
``_ROTATION_FRONT`` list at the bottom of this module reorders the
registry dicts explicitly after every import has run, so a future
import reshuffle (or a helper import pulling a sibling module early)
cannot silently change which 50 queries the driver checks — the r5
verdict/advice flagged exactly that fragility in the (since deleted) m79
delegate trick.  Import order below is kept for history; the list is
the law.

ROUND 6 window (slots 1-50, all first-ever driver rows): q131-q151
(m26 tail, m27-m31), q157-q174 (m33-m38), q177-q187 (m40-m43 head) —
21 + 18 + 11 = 50 exactly, per the r5 verdict #1 and the README map.
ROUND 7 (plan) takes the remaining 49 never-driver-checked entries —
q188-q196, q199-q201, q209-q211, q213-q220, q222, q269, q271-q294
(9+3+3+8+1+1+24) — plus one spare slot used as a q270 re-check; after
round 7 every registered query has a driver CORRECTNESS row.  Until a
query's round arrives, the local oracle suite
(tests/test_oracle_queries.py) runs the identical comparison — every
registered query is green at BOTH sf0.01 and sf0.1 (BASELINE.md
two-scale records).
"""

# --- Round-5 window: slots 1-50 -------------------------------------------

# The 45 round-4 additions (q224-q268), first-ever driver rows.
from . import m61_curation_txn  # noqa: F401  q224-q227 (4)
from . import m62_er_privacy_multimodal  # noqa: F401  (4)
from . import m63_recovery_ivm_temporal  # noqa: F401  (3)
from . import m64_sql_surface2  # noqa: F401  (5)
from . import m65_subquery_surface  # noqa: F401  (2)
from . import m66_stream_source_geo  # noqa: F401  (2)
from . import m67_bmp_decode  # noqa: F401  q244 (1)
from . import m68_binary_ingest  # noqa: F401  (3)
from . import m69_bpe_shards  # noqa: F401  (2)
from . import m70_training_efficiency  # noqa: F401  (3)
from . import m71_eval_fairness  # noqa: F401  (3)
from . import m72_lake_integration  # noqa: F401  (2)
from . import m73_unicode_dv  # noqa: F401  (2)
from . import m74_stl  # noqa: F401  (1)
from . import m75_pq_schema  # noqa: F401  (2)
from . import m76_pq_adc  # noqa: F401  q263 (1)
from . import m77_featurization  # noqa: F401  (3)
from . import m78_masking_budget  # noqa: F401  (2)  — 45 so far

from . import m53_interval_join  # noqa: F401  q212 (1)  — 48
from . import m26_linkage_ivm  # noqa: F401  q129, q130 close the window
#   ... and q131/q132 land at slots 51/52 → round-6 front.

# --- Past the window: round-6/7 rotation backlog --------------------------
from . import m27_layout_paths  # noqa: F401
from . import m28_robust_stats  # noqa: F401
from . import m29_mlops_market  # noqa: F401
from . import m30_fusion_sampling  # noqa: F401
from . import m31_corpus_integrity  # noqa: F401
from . import m33_skew_layout  # noqa: F401
from . import m34_experiments  # noqa: F401
from . import m35_eval_chunking  # noqa: F401
from . import m36_engagement  # noqa: F401
from . import m37_distribution  # noqa: F401
from . import m38_decision_support  # noqa: F401
from . import m40_quality_bursts  # noqa: F401
from . import m41_mixture_card  # noqa: F401
from . import m42_cluster_bloom  # noqa: F401
from . import m43_governance_stats  # noqa: F401
from . import m44_seasonal_privacy  # noqa: F401
from . import m45_estimation  # noqa: F401
from . import m47_windows_ooo  # noqa: F401
from . import m51_zorder  # noqa: F401
from . import m52_sharding  # noqa: F401
from . import m54_linkpred_expect  # noqa: F401
from . import m55_segmentation  # noqa: F401
from . import m56_survival  # noqa: F401
from . import m57_fraud_ltv  # noqa: F401
from . import m59_reconciliation  # noqa: F401

# New in round 5 — registered AFTER the r6 backlog so they join the
# round-7 window without displacing the promised r6 coverage
# (r4 verdict #2).
from . import m80_png  # noqa: F401  q269 (1)
from . import m81_pipeline_composite  # noqa: F401  q270 (1)
from . import m82_decision_support2  # noqa: F401  q271 (1)
from . import m83_matryoshka  # noqa: F401  q272 (1)
from . import m84_governance2  # noqa: F401  q273-q274 (2)
from . import m85_stream_sessions_wap  # noqa: F401  q275-q276 (2)
from . import m86_backpressure_grouped  # noqa: F401  q277-q278 (2)
from . import m87_tokenize_bucket_split  # noqa: F401  q279-q281 (3)
from . import m88_incremental_watermark  # noqa: F401  q282-q283 (2)
from . import m89_dpp_pseudonym  # noqa: F401  q284-q285 (2)
from . import m90_groupedagg_bloom  # noqa: F401  q286-q287 (2)
from . import m91_paramsql_observe  # noqa: F401  q288-q289 (2)
from . import m92_repair_scd2  # noqa: F401  q290-q291 (2)
from . import m93_gbdt_stumps  # noqa: F401  q292 (1)
from . import m94_nb_auc  # noqa: F401  q293-q294 (2)
from . import m95_jpeg  # noqa: F401  q295 (1, round 10)

# --- Proven green in r1-r4 and unchanged: rotated to the back -------------
# (the full round-4 window — m48/m39/m46/m49/m32/m25/m18-m24/m50/m58/m60
# — is driver-green as of CORRECTNESS_r04 and joins the r1-r3 families.)
from . import m48_spark4_native  # noqa: F401
from . import m39_lake_gates  # noqa: F401
from . import m46_formats  # noqa: F401
from . import m49_mdm_timetravel  # noqa: F401
from . import m32_streams_estimates  # noqa: F401
from . import m25_graph_metrics  # noqa: F401
from . import m18_corpus_pipeline  # noqa: F401
from . import m19_frequency_index  # noqa: F401
from . import m20_behavior  # noqa: F401
from . import m21_integrity_lm  # noqa: F401
from . import m22_sketch_stats  # noqa: F401
from . import m23_drift_anomaly  # noqa: F401
from . import m24_training_order  # noqa: F401
from . import m50_recursive  # noqa: F401
from . import m58_textrank  # noqa: F401
from . import m60_psi  # noqa: F401
from . import m0_flagship  # noqa: F401
from . import m1_query_layer  # noqa: F401
from . import m2_relations  # noqa: F401
from . import m3_mutations  # noqa: F401
from . import m4_scalar  # noqa: F401
from . import m5_streaming  # noqa: F401
from . import m6_text  # noqa: F401
from . import m6_dedup  # noqa: F401
from . import m6_similarity  # noqa: F401
from . import m7_analytics  # noqa: F401
from . import m8_training_ops  # noqa: F401
from . import m9_raw_sql  # noqa: F401
from . import m10_profiling  # noqa: F401
from . import m11_sql_kit  # noqa: F401
from . import m12_graph_timeseries  # noqa: F401
from . import m13_query_surface  # noqa: F401
from . import m14_curation  # noqa: F401
from . import m15_scale_ops  # noqa: F401
from . import m16_weburl  # noqa: F401
from . import m17_retrieval_quality  # noqa: F401

# --- Explicit driver-window rotation (round 8) -----------------------------
# Applied AFTER all imports: reorders the registry dicts in place so the
# first 50 entries of queries()/oracle_sql() are exactly the round-8
# window, independent of import order.  Every name is checked present
# with an explicit raise (not assert — python -O must not disable the
# guard) so a renamed query fails loudly at import time.
#
# ROUND-13 WINDOW: CORRECTNESS_r12 greened the full r12 window (50/50,
# zero err), so the window advances.  The r12 VERDICT (optimization
# judge, task #4) directs this round's window to PRIORITIZE the 13
# query paths whose r12 operator rewrites the driver has not
# independently re-hashed — they were builder-verified only (sf1 hash +
# twice-run sf0.01 driver emulation) and a rewrite is exactly where a
# silent divergence would hide.  So the ordering rule for r13 is
# VERDICT-PRIORITY FIRST, STALEST FILL: the 13 priority re-checks
# (last green r9-r11), then the 37 stalest of the remaining registry
# (all r7-green: q188-q222 governance/estimation/velocity block +
# q269-q281).  The 13 tail entries of the old pre-staged list
# (q282-q294) slide to the r14 prestage.  All 50 slots are deliberate
# re-checks; test_rotation.py recomputes priority + fill from the
# on-disk CORRECTNESS files so neither list can silently rot.
_VERDICT_PRIORITY_R13 = [
    "q38_lsh_ann_topk", "q58_unigram_logprob", "q69b_ivf_ann_nprobe",
    "q85_shard_assignments", "q103_cross_source_overlap",
    "q106_boilerplate_filter", "q117_bigram_lm", "q118_cms_audit",
    "q127_triangle_count", "q155_market_share",
    "q221_textrank_keywords", "q231_er_clusters", "q239_kmv_union",
]
_ROTATION_FRONT = _VERDICT_PRIORITY_R13 + [
    "q188_jackknife_ci", "q189_dow_seasonality", "q190_ses_backtest",
    "q191_k_anonymity", "q192_benford_audit", "q193_neyman_allocation",
    "q194_capture_recapture", "q195_readability",
    "q196_join_card_estimate", "q199_event_velocity",
    "q200_grouping_sets", "q201_watermark_audit", "q209_zorder_audit",
    "q210_reshard_audit", "q211_salt_planner", "q213_link_prediction",
    "q214_expectations", "q215_rfm_segments", "q216_abc_classification",
    "q217_km_churn", "q218_position_attribution",
    "q219_duplicate_payments", "q220_cohort_ltv",
    "q222_order_reconciliation", "q269_png_decode",
    "q270_pipeline_composite", "q271_waiting_suppliers",
    "q272_matryoshka_audit", "q273_entropy_fd_profile",
    "q274_t_closeness", "q275_stream_session_windows",
    "q276_write_audit_publish", "q277_stream_backpressure",
    "q278_grouped_ols_slopes", "q279_greedy_wordpiece",
    "q280_bucketed_join_revenue", "q281_stratified_split",
]
if len(_ROTATION_FRONT) != 50:
    raise RuntimeError(f"rotation window must hold 50 slots, got {len(_ROTATION_FRONT)}")

# PRE-STAGED ROUND-14 WINDOW: the next-50 stalest after the r13 window
# (no verdict priority pending for r14 as of this commit) — the 13
# r7-green tail entries displaced by the r13 priority block
# (q282-q294), then the stalest r8-green block (q01-q34 head).  The
# r14 opener swaps it into _ROTATION_FRONT;
# test_rotation.py::test_prestaged_next_window_is_the_next_stalest
# recomputes it.
_ROTATION_NEXT_R14 = [
    "q282_incremental_minhash", "q283_watermark_drop",
    "q284_dynamic_partition_pruning", "q285_pseudonymized_join",
    "q286_grouped_agg_trimmed_mean", "q287_runtime_bloom_join",
    "q288_parameterized_sql", "q289_observed_metrics",
    "q290_fd_majority_repair", "q291_scd2_temporal_join",
    "q292_gbdt_stumps", "q293_naive_bayes_langid", "q294_exact_auc",
    "q01_pricing_summary", "q02_filter_predicates",
    "q03_string_predicates", "q04_pagination", "q04b_cursor_pagination",
    "q05_distinct", "q06_aggregate", "q07_groupby_having",
    "q08_tristate_queue", "q08b_not_null_semantics",
    "q09_hydration_join", "q10_relation_some", "q11_relation_none_anti",
    "q12_relation_every", "q13_mn_hydration", "q14_topk_per_group",
    "q14b_running_window", "q15_upsert", "q16_dedup_insert",
    "q17_connect_or_create", "q18_update_delete_queue",
    "q19_delete_cascade", "q20_scalar_kit", "q21_json_filters",
    "q22_stream_tumbling_window", "q23_sliding_window",
    "q24_session_window", "q25_stream_dedup", "q26_text_stats",
    "q27_token_counts", "q28_lang_id", "q29_fingerprint",
    "q30_quality_score", "q31_exact_dedup", "q32_ngram_jaccard",
    "q33_minhash_signatures", "q34_lsh_candidates",
]
if len(_ROTATION_NEXT_R14) != 50:
    raise RuntimeError(
        f"pre-staged r14 window must hold 50 slots, got {len(_ROTATION_NEXT_R14)}"
    )


def _apply_rotation() -> None:
    from .. import queries as _registry

    missing = [n for n in _ROTATION_FRONT if n not in _registry.QUERIES]
    if missing:
        raise RuntimeError(f"rotation names not registered: {missing}")
    front = set(_ROTATION_FRONT)
    for d in (_registry.QUERIES, _registry.ORACLE_SQL):
        head = {k: d[k] for k in _ROTATION_FRONT if k in d}
        tail = {k: v for k, v in d.items() if k not in front}
        d.clear()
        d.update(head)
        d.update(tail)


_apply_rotation()
