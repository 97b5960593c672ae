"""Driver-contract query registry, split by family (round-5 hygiene:
plans/driver_queries.py had grown past 2,800 lines).

Each family module registers its queries into `_base.REGISTRY` via the
`_q` decorator at import time; this package assembles the final REGISTRY
in a FROZEN canonical order (the pre-split declaration order), then
applies the per-round `_HEAD_FIRST` rotation. The per-round driver gate
emits CORRECTNESS rows for (at most) the first 50 entries in insertion
order, so:

- `_CANONICAL_ORDER` never changes for existing names (it IS the row
  cadence contract) — new queries are appended to it;
- `_HEAD_FIRST` is re-pointed each round at the names whose driver row
  is oldest (plus any brand-new queries), so every query has a row at
  most two rounds old.
"""

from __future__ import annotations

from ba_gepris_crawler_spark.plans.queries._base import REGISTRY as _DECLARED
from ba_gepris_crawler_spark.plans.queries._base import SparkFn  # noqa: F401

# importing the family modules populates _DECLARED (the _q decorator)
from ba_gepris_crawler_spark.plans.queries import (  # noqa: E402,F401
    crawl,
    dedup,
    dq,
    emb,
    events,
    mm,
    rel,
    text,
    tpch,
)

# Pre-split declaration order, frozen: append-only.
_CANONICAL_ORDER = [
    "crawl_frontier_anti_join",
    "crawl_url_canonicalize",
    "crawl_pagination_windows",
    "crawl_funding_term_cascade",
    "crawl_multivalue_split",
    "crawl_email_deobfuscate",
    "crawl_link_extract",
    "crawl_host_priority_queue",
    "crawl_seen_dedup_rate",
    "crawl_catalog_count_parse",
    "dq_referential_integrity",
    "dq_semantic_date_order",
    "dq_schema_coverage",
    "dq_population_coverage",
    "dq_year_validity",
    "tpch_q1_pricing_summary",
    "tpch_q3_top10_revenue",
    "tpch_top_customers_per_nation",
    "tpch_region_revenue",
    "text_token_stats",
    "text_quality_score",
    "text_lang_id",
    "text_fingerprint",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "emb_cosine_topk",
    "emb_ivf_assign",
    "emb_lsh_bucket_pairs",
    "emb_lsh_near_dups",
    "emb_neardup_pairs",
    "events_tumbling_window",
    "events_sessionize",
    "events_rolling_avg",
    "events_asof_join",
    "events_range_join",
    "mm_binary_meta",
    "dq_taxonomy_consistency",
    "dq_source_evidence_coverage",
    "dq_sample_audit",
    "dq_hash_sample",
    "rel_dictionary_encode",
    "crawl_span_adjacency",
    "crawl_address_assembly",
    "crawl_parent_hierarchy",
    "tpch_stats_summary",
    "tpch_rollup_revenue",
    "tpch_pivot_status_by_priority",
    "tpch_monthly_orders",
    "rel_string_functions",
    "tpch_cube_counts",
    "rel_intersect_except",
    "events_first_last_nav",
    "text_bigram_topk",
    "text_lm_score",
    "mm_extract_features",
    "mm_frame_sample",
    "crawl_json_api_parse",
    "crawl_robots_filter",
    "dq_url_liveness",
    "crawl_cookie_parse",
    "crawl_robots_allow_filter",
    "crawl_robots_distributed_parse",
    "crawl_robots_txt_parse",
    "crawl_crawl_delay_budget",
    "crawl_budget_relation_cut",
    "emb_ivf_probe_topk",
    "mm_caption_align",
    "mm_interleave_stats",
    "text_inverted_index",
    "crawl_trap_filter",
    "crawl_catalog_null_guard",
    "crawl_redirect_resolve",
    "crawl_sitemap_parse",
    "crawl_recrawl_schedule",
    "crawl_seed_url_recognizer",
    "crawl_robots_sitemap_discovery",
    "crawl_revalidate_etag",
    "crawl_current_version_view",
    "crawl_error_retry_schedule",
    "crawl_circuit_breaker",
    "dq_staleness",
    "crawl_refetch_lifecycle",
]

# Round-5 rotation: the 23 names rowed only in round 3 (the round-4 head
# displaced them past the 50-row cap) plus the brand-new round-5 query
# (catalog null guard). Every other registry query has a
# green round-4 row, so after this rotation every query has a driver row
# at most two rounds old.
_HEAD_FIRST = [
    "crawl_revalidate_etag",
    "crawl_current_version_view",
    "crawl_error_retry_schedule",
    "crawl_circuit_breaker",
    "dq_staleness",
    "crawl_refetch_lifecycle",
    "crawl_catalog_null_guard",
    "crawl_redirect_resolve",
    "crawl_sitemap_parse",
    "crawl_recrawl_schedule",
    "crawl_seed_url_recognizer",
    "crawl_robots_sitemap_discovery",
    "dedup_clusters",
    "emb_cosine_topk",
    "emb_ivf_assign",
    "emb_lsh_bucket_pairs",
    "emb_lsh_near_dups",
    "emb_neardup_pairs",
    "events_tumbling_window",
    "events_sessionize",
    "events_rolling_avg",
    "events_asof_join",
    "events_range_join",
    "mm_binary_meta",
    "dq_taxonomy_consistency",
    "dq_source_evidence_coverage",
    "dq_sample_audit",
    "dq_hash_sample",
    "rel_dictionary_encode",
    "crawl_span_adjacency",
    "crawl_address_assembly",
    "crawl_parent_hierarchy",
    "tpch_stats_summary",
    "tpch_rollup_revenue",
    "tpch_pivot_status_by_priority",
]

assert len(_CANONICAL_ORDER) == len(set(_CANONICAL_ORDER)), "dup in _CANONICAL_ORDER"
assert set(_CANONICAL_ORDER) == set(_DECLARED), (
    sorted(set(_CANONICAL_ORDER) ^ set(_DECLARED))
)
assert all(n in _DECLARED for n in _HEAD_FIRST), "stale name in _HEAD_FIRST"

REGISTRY: dict[str, tuple[SparkFn, str | None]] = {
    **{n: _DECLARED[n] for n in _HEAD_FIRST},
    **{n: _DECLARED[n] for n in _CANONICAL_ORDER if n not in set(_HEAD_FIRST)},
}
