#!/usr/bin/env python
"""Generate PLANS.md: physical-plan audit of the headline catalog
queries — shuffle counts, broadcast placement, pushed filters, scan
widths — plus the full formatted plan for the flagship queries.

Run: python scripts/dump_plans.py [sf_dir]   (default sf0.01)

The session runs on local[32], the core count the catalog is
benchmarked at, whatever the host: some plans
(`operators/partitioning.spread`) depend on the default parallelism,
so an unpinned audit would differ between hosts.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from backend_etl_spark.catalog import REGISTRY  # noqa: E402
from backend_etl_spark.plans import quality  # noqa: E402
from backend_etl_spark.session import get_spark  # noqa: E402

# Entries whose fn() *executes* work at build time (streaming drains run
# foreachBatch micro-batches inside fn), so a plan dump of the returned
# static frame would not describe the interesting plan — their per-batch
# plans are the same batch entries audited below (docstrings say which).
SKIP_PREFIXES = ("streaming_",)

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q12_priority_split",
    "q14_promo_revenue",
    "join_region_revenue",
    "join_outer_customer_order_stats",
    "agg_rollup_lineitem",
    "rollup_multigrain_events",
    "window_top3_orders_per_customer",
    "window_sessionize_events",
    "topk_orders_by_price",
    "asof_purchase_last_click",
    "range_join_clicks_before_purchase",
    "range_join_binned_global",
    "dedup_exact_docs",
    "dedup_minhash_signatures",
    "dedup_lsh_candidates",
    "dedup_simhash",
    "knn_brute_force_cosine",
    "knn_ivf_label_pruned",
    "knn_lsh_bucketed",
    "skew_salted_agg_events",
    "higher_order_array_ops",
    "session_window_builtin",
    "window_range_frame_30d",
    "text_token_budget",
    "doc_rolling_hash",
    "dq_validation_checks",
    "scd2_user_value_history",
    "q18_large_volume_customers",
    "histogram_order_prices",
    "agg_quantile_family",
    "sentiment_lexicon",
    "agg_corr_covar",
    "q4_priority_with_late_lines",
    "q6_forecast_revenue",
    "join_full_outer_nation_presence",
    "knn_lsh_recall_at_5",
    "curation_length_band_filter",
    "ansi_safe_arithmetic",
    "asof_forward_next_click",
    "curation_token_budget_pack",
    "curation_stratified_sample",
    "unpivot_reaction_counts",
    # round 2
    "html_parse_trustpilot",
    "html_parse_feefo",
    "twitter_union_three_shapes",
    "multimodal_decode_ppm",
    "multimodal_decode_wav",
    # round 3
    "q7_volume_shipping",
    "q8_market_share",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q19_disjunctive_pushdown",
    "q21_waiting_orders",
    "q22_global_sales_opportunity",
    "dedup_incremental_snapshot",
    "split_leakage_safe",
    "quality_char_entropy",
    "emb_matryoshka_truncate",
    "quality_bigram_logprob",
    "emb_pq_codes",
    "knn_ivf_multiprobe",
    "knn_pq_adc",
    "multimodal_audio_chunks",
    "dataset_card_stats",
    "knn_ivf_recall_at_3",
    "pack_sequences_2048",
    # round 4
    "knn_ivfpq_adc",
    "knn_ivfpq_recall",
    "knn_ivfpq_rerank",
    "knn_ivfpq_residual",
    "dedup_semantic_semdedup",
    "corpus_drift_kl",
    "corpus_pipeline_funnel",
    "bucketed_sessionize_events",
    "partitioned_ship_year_revenue",
    "agg_approx_error_bounded",
    "instagram_flatten_fixture",
    "facebook_nested_fixture",
    "linkedin_struct_fixture",
    "gmaps_projection_fixture",
    "timeseries_gap_fill_hourly",
    "graph_pagerank_users",
    "bpe_encode_tokens",
    "agg_approx_quantile_bounded",
    # round 4, session 2
    "sketch_count_min_bounded",
    "join_bloom_runtime_filter",
    "quality_trigram_backoff",
    "curation_weighted_sample",
    "layout_zorder_key",
    # round 5
    "knn_ivfpq_build_persisted",
    "knn_ivfpq_search_persisted",
    "skew_salted_join_hot_user",
    "curation_unimax_mixture",
    "corpus_dsir_weights",
    "knn_cosine_range_search",
]

#: the catalog's benchmark core count; pinned so the audit is host-independent
AUDIT_CPUS = "32"

FULL_PLAN = ["q3_shipping_priority", "dedup_minhash_signatures", "knn_brute_force_cosine"]


def audit_names() -> list[str]:
    """Full registry in headline-first order, streaming entries skipped."""
    rest = sorted(
        n
        for n in REGISTRY
        if n not in HEADLINE and not n.startswith(SKIP_PREFIXES)
    )
    return HEADLINE + rest


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.environ["SPARK_GRAFT_CPUS"] = AUDIT_CPUS
    spark = get_spark("plan-audit")

    names = audit_names()
    lines = [
        "# PLANS — physical-plan audit of the full catalog",
        "",
        f"Generated by `scripts/dump_plans.py` against `{sf_dir}` on",
        f"`local[{AUDIT_CPUS}]`;",
        f"{len(names)} entries (every registry entry except the",
        "`streaming_*` drains, whose per-batch plans are the batch",
        "entries they reuse).",
        "",
        "For each headline query: the number of shuffle Exchanges, whether the",
        "join strategy is broadcast, which predicates reached the parquet scan",
        "(`PushedFilters`), and the widest scan's column count (pruning check).",
        "These are the properties `tests/test_plan_quality.py` gates on.",
        "",
        "| query | shuffles | broadcast join | pushed filters | widest scan (cols) |",
        "|---|---|---|---|---|",
    ]
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        shuffles = quality.num_shuffles(df)
        bcast = "yes" if quality.has_broadcast_join(df) else "—"
        pushed = quality.pushed_filters(df)
        pushed_s = "; ".join(p[:60] for p in pushed[:2]) or "—"
        widths = [len(s.split(",")) for s in quality.read_schemas(df) if s]
        width = max(widths) if widths else 0
        lines.append(f"| `{name}` | {shuffles} | {bcast} | {pushed_s} | {width} |")

    lines += [
        "",
        "Notes:",
        "- `dedup_*` plans hash-partition once on the doc key; every downstream",
        "  groupBy reuses that partitioning (no second wide shuffle).",
        "- `knn_brute_force_cosine` broadcasts the query set; the corpus never",
        "  shuffles. `knn_ivf_label_pruned` / `knn_lsh_bucketed` equi-join on the",
        "  cluster/signature key — linear in bucket size.",
        "- `skew_salted_agg_events` trades one extra tiny shuffle (|keys|×16",
        "  partial rows) for hot-key spread.",
        "- Bucketed co-located joins (zero-Exchange fact-to-fact merge) are",
        "  exercised in `tests/test_plan_quality.py::test_bucketed_join_has_no_shuffle`.",
        "",
    ]

    for name in FULL_PLAN:
        df = REGISTRY[name].fn(spark, sf_dir)
        lines += [f"## {name} — full formatted plan", "", "```", quality.plan_text(df).strip(), "```", ""]

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out}: {len(names)} queries audited")


if __name__ == "__main__":
    main()
