"""Declared query corpus (SURVEY.md §2B relational surface + §2C extensions).

Importing this package populates the registry; ``__spark_entry__.py`` and
``bench.py`` read from it.

The driver's correctness gate verifies only the FIRST 50 entries of
``queries()`` in registration order, so registration order is curated below:
``GATE_PRIORITY`` pins slots 0-49 to the queries that most need a fresh
driver verdict (every §2C/LLM-pipeline operator, the functions corpus,
streaming batch-equivalents, queries changed this round, plus one
representative per core relational capability). Redundant variants of
already-verified capabilities rotate behind slot 50.
"""

from .registry import REGISTRY, Query, oracle_sql, queries, query  # noqa: F401

# Import for side effect: each module registers its queries.
from . import relational  # noqa: E402,F401
from . import relational_ext  # noqa: E402,F401
from . import functions_corpus  # noqa: E402,F401
from . import extensions  # noqa: E402,F401
from . import streaming_batch  # noqa: E402,F401
from . import llm_prep  # noqa: E402,F401
from . import tpch_full  # noqa: E402,F401
from . import lifecycle  # noqa: E402,F401

# ROTATION — round 12 (optimization round 2): no new queries register in
# an optimization round, so the head slots are the changed-code
# re-verifies (policy rule 2) — queries whose BUILDING code changed this
# round (each displaces a tail canary back to NEXT_WINDOW_QUEUE head):
#   - graph_pagerank: the rank update now iterates on the rank frame
#     instead of re-deriving nodes+nstats per round (operators/graph.py;
#     bit-identical ranks, probe-asserted — commit 9286347, VERDICT.md
#     round 12 audit item 3).
#   - agg_tpch_q1: the unsplittable single-row-group scan is spread
#     before the 7 exact-DECIMAL partial aggregates (queries/relational.py;
#     DECIMAL sums are order-insensitive by construction).
# Infra changes shared by every query this round (catalog.load_table
# resolution memo) are covered by the 50/50 window in CORRECTNESS_r12.json
# and by the tier-1 suite, which loads every fixture through the memo;
# tests/test_caches.py pins the memo's hits and its rewrite invalidation.
# The remaining slots drain NEXT_WINDOW_QUEUE in verdict-age order
# (r7-aged block first) — after this window no verdict is older than r8,
# the round-10 directive's target.
#
# Vacuity audit (round 5, sf0.01): every window oracle returns >0 rows —
# checked by test_window_oracles_non_vacuous on every commit.
GATE_PRIORITY = [
    # changed-code re-verifies (this round)
    "graph_pagerank",
    "agg_tpch_q1",
    # age-ladder canaries (NEXT_WINDOW_QUEUE order, pre-staged in r11)
    "set_union_distinct",
    "set_intersect",
    "set_except",
    "window_lag_lead",
    "window_running_sum",
    "window_ntile",
    "sort_multi_key",
    "topk_limit",
    "prep_chunk_overlap",
    "join_anti",
    "agg_approx_count_distinct",
    "tpch_q6_forecast_revenue",
    "tpch_q4_order_priority",
    "tpch_q10_returned_items",
    "tpch_q12_conditional_agg",
    "tpch_q14_promo_ratio",
    "window_percent_cume",
    "window_moving_avg",
    "agg_string_agg",
    "agg_pivot",
    "agg_percentiles",
    "sample_deterministic_hash",
    "asof_join_events",
    "agg_variance_exact",
    "agg_array_collect",
    "agg_mode_deterministic",
    "window_range_frame",
    "agg_approx_quantile",
    "agg_corr_regression",
    "join_range_bucketed",
    "fn_string",
    "fn_datetime",
    "fn_math",
    "fn_json",
    "fn_array",
    "fn_explode_posexplode",
    "fn_null_semantics",
    "fn_array_setops",
    "fn_try_cast",
    "dedup_exact",
    "dedup_embedding_cosine",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "text_stats",
    "text_quality_score",
    "text_lang_id",
    "text_fingerprint",
    "multimodal_binary_meta",
]

GATE_WINDOW = 50

# STEADY-STATE ROTATION POLICY (round-5 VERDICT item 7) — with the
# registry closed out, each round's window is composed in this order:
#   1. any never-verified additions (new queries land HERE, inside the
#      window, the same round they are registered — growth stays gated
#      on the per-round budget);
#   2. a re-verify slot for every query whose building code changed this
#      round (even when the output is identical by construction);
#   3. canaries, least-recently-verified first (ties broken by
#      registration order), filling the window to 50.
# With 222 queries and ~40 canary slots per round, every query's verdict
# age stays <= ~4 rounds; the per-family representation guarantee is
# enforced structurally by test_every_capability_family_verified_or_
# inside_window. NEXT_WINDOW_QUEUE below pre-stages round 13 under this
# policy: every query NOT in the r12 window, ordered by verdict age
# (computed from CORRECTNESS_r01-r11 — the remaining r8 block first,
# then the oldest r8 rows), ties by registration order.
NEXT_WINDOW_QUEUE = [
    "stream_tumbling_hourly",
    "stream_sliding_windows",
    "stream_session_windows",
    "stream_watermark_recent",
    "stream_static_enrich",
    "mix_epoch_repeat",
    "vocab_bpe_merge_apply",
    "agg_histogram_bins",
    "window_first_last_nth",
    "agg_boolean",
    "agg_unpivot",
    "fn_conditional",
    "fn_string2",
    "fn_bitwise",
    "fn_datetime2",
    "join_nullsafe",
    "fn_greatest_least",
    "fn_levenshtein",
    "fn_format",
    "multimodal_image_decode",
    "funnel_stages",
    "retention_cohorts",
    "multimodal_audio_decode",
    "multimodal_video_frames",
    "dedup_incremental_ingest",
    "embed_random_projection",
    "rollup_approx_users_daily",
    "merge_scd1_upsert",
    "stream_dedup_first",
    "text_pii_scrub",
    "pack_sequences",
    "split_train_val_test",
    "ngram_topk",
    "embed_quantize_int8",
    "mix_domain_weights",
    "sample_stratified",
    "decontaminate_test_split",
    "text_repetition",
    "vocab_oov_rate",
    "filter_length_outliers",
    "decontaminate_ngram_overlap",
    "pack_sequences_text",
    "boilerplate_span_removal",
    "sample_quality_weighted",
    "corpus_pretraining_pipeline",

]


def _apply_gate_priority() -> None:
    """Reorder REGISTRY so GATE_PRIORITY occupies the first slots.

    Raises KeyError loudly if a pinned name disappears from the registry, so
    renames can never silently shrink the verified surface.
    """
    ordered = {name: REGISTRY[name] for name in GATE_PRIORITY}
    for name, q in REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    REGISTRY.clear()
    REGISTRY.update(ordered)


_apply_gate_priority()
