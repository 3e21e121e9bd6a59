"""Query registry: name -> (spark, sf_dir) -> DataFrame, plus DuckDB oracle SQL.

Every operator from SURVEY.md §2 with a query id registers here; the driver
(and tests/test_oracle_parity.py) compares each Spark result against its
oracle at sf=0.01 on row count + schema + order-insensitive value hash.

Column-name contract: every computed column is aliased identically in the
Spark query and the oracle SQL (the driver sorts columns by name before
hashing).  Float aggregates are rounded (typically 4 dp) on BOTH sides so
summation-order differences between engines can't flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_QUERY_MODULES = (
    "queries.core",
    "queries.validation",
    "queries.iot",
    "queries.analytics",
    "queries.joins",
    "queries.dedup",
    "queries.incremental",
    "queries.text",
    "queries.similarity",
    "queries.multimodal",
    "queries.marts",
    "queries.windows",
    "queries.prep",
    "queries.curation",
    "queries.report",
    "queries.sketches",
    "queries.temporal",
    "queries.behavior",
    "queries.relational",
    "queries.relational2",
    "queries.ranking",
    "queries.corpus",
    "queries.serve",
    "queries.linkage",
    "queries.mining",
    "queries.lexical",
    "queries.stateful_twins",
    "queries.summaries",
    "queries.manifest",
    "queries.embedding_ops",
    "queries.relational3",
    "queries.quality",
    "queries.setjoin",
)

# The driver's correctness harness checks the FIRST 50 entries of queries()
# in insertion order.  Names listed here are re-ordered to the front after
# all modules load, so queries that still need a hard-signal CORRECTNESS row
# (new this round, or past the 50-cut in a previous round) are guaranteed to
# land inside the window.  Everything not listed follows in registration
# order; every query that falls outside the window as a result already
# holds a green driver row (CORRECTNESS_r01 and/or _r02).
_DRIVER_PRIORITY = (
    # round-14 rotation: CORRECTNESS_r13 certified all 50 round-13 slots
    # green (the 35 re-fronted after round-13 code changes included), so
    # the window goes oldest-cert-first: every query last certified in
    # round 6 (age 8) or round 7 (age 7), both past the 6-round cadence
    # bar, then the alphabetically-first round-8 query.
    # -- last driver-certified round 6:
    "q_pack_efficiency",
    "q_partition_plan",
    "q_price_elasticity",
    "q_price_index",
    "q_quantile_bins",
    "q_readability",
    "q_repeat_interval",
    "q_revenue_motifs",
    "q_shingle_profile",
    "q_simhash_pairs",
    "q_skew_report",
    "q_source_fingerprint",
    "q_stopword_profile",
    "q_supplier_herfindahl",
    "q_token_budget_plan",
    "q_tokenizer_fertility",
    "q_vocab_coverage",
    "q_weekday_anova",
    "q_welford_stats",
    # -- last driver-certified round 7:
    "q_abc_classes",
    "q_boilerplate",
    "q_c4_filters",
    "q_ccnet_buckets",
    "q_cdc_apply",
    "q_cms_heavy_hitters",
    "q_code_detect",
    "q_cosupply_triangles",
    "q_cross_corr",
    "q_decayed_counts",
    "q_editdist_refine",
    "q_gopher_rules",
    "q_holt_linear",
    "q_ivm_merge",
    "q_k_anonymity",
    "q_kmv_setops",
    "q_label_propagation",
    "q_lag_features",
    "q_local_clustering",
    "q_order_priority_exists",
    "q_pruning_audit",
    "q_rate_limit",
    "q_serve_analytics_hourly",
    "q_serve_request_audit",
    "q_serve_sensor_detail",
    "q_serve_sensors_page",
    "q_snapshot_diff",
    "q_url_dedup",
    "q_value_deciles",
    "q_volume_anomaly",
    # -- last driver-certified round 8 (first of 39):
    "q_batch_novelty",
)

# Rotation OVERFLOW queue: stale-certified queries that did not fit in this
# round's 50-slot window.  They order immediately after the window
# (positions 51+) and are the mandatory front of next round's rotation —
# the cadence guard (tests/test_oracle_parity.py) treats window+overflow as
# "scheduled for re-cert" when enforcing the <=6-round freshness bar.
_NEXT_ROUND_PRIORITY: tuple[str, ...] = (
    # -- last driver-certified round 8 (the other 38; age 6 at the r14
    # build, so they hit the cadence bar at r15 and queue here already):
    "q_bloom_join",
    "q_case_status",
    "q_cast",
    "q_city_avg_compare",
    "q_daily_agg",
    "q_dedup_exact",
    "q_dedup_exact_incremental",
    "q_filter_completeness",
    "q_filter_freshness",
    "q_filter_notnull",
    "q_filter_range",
    "q_filter_regex",
    "q_hash_partition",
    "q_hourly_agg",
    "q_join_anti",
    "q_join_broadcast",
    "q_join_inner",
    "q_join_salted",
    "q_location_agg",
    "q_null_policy",
    "q_outlier_flag",
    "q_project_rename",
    "q_quality_counts",
    "q_quality_ensemble",
    "q_quality_ratios",
    "q_rank_per_group",
    "q_rolling_7d",
    "q_salted_agg",
    "q_sort_limit",
    "q_source_scan",
    "q_sudden_change",
    "q_time_features",
    "q_to_timestamp",
    "q_token_budget_pack",
    "q_topk_per_group",
    "q_tumbling_agg",
    "q_validate_iot",
    "q_zscore_flag",
)


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; oracle=None means rows-only check (non-SQL-expressible)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query id: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import all query modules (idempotent) and apply the driver-priority
    ordering so the registry's insertion order puts unverified queries inside
    the driver's 50-query correctness window."""
    pkg = __name__.rsplit(".", 1)[0]
    for mod in _QUERY_MODULES:
        import_module(f"{pkg}.{mod}")
    front = [
        n
        for group in (_DRIVER_PRIORITY, _NEXT_ROUND_PRIORITY)
        for n in group
        if n in QUERIES
    ]
    rest = [n for n in QUERIES if n not in set(front)]
    ordered = front + rest
    for reg in (QUERIES, ORACLES):
        reordered = {n: reg[n] for n in ordered if n in reg}
        reg.clear()
        reg.update(reordered)
