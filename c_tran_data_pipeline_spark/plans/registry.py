"""Query registry: every operator from SURVEY.md §2 (+ north-star
extensions) registered as a named (Spark builder, DuckDB oracle SQL) pair.

The driver runs each builder at sf=0.01 and compares against the oracle SQL
(row-count + schema + order-insensitive value hash), so:

- every computed column is aliased identically on both sides;
- float aggregates are made bit-stable across engines by summing in exact
  DECIMAL and casting the result to DOUBLE (associativity-proof), or by
  rounding where the quantity is a per-row IEEE op (deterministic);
- timestamps compare exactly because the Spark session is pinned to UTC.

Oracles marked ``None`` are genuinely non-SQL-expressible (streaming,
probabilistic LSH banding) — the driver records a weaker rows-only check
and the pytest suite carries the real assertion.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB over the same parquet views
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in _REGISTRY:
        raise ValueError(f"duplicate query name: {spec.name}")
    _REGISTRY[spec.name] = spec
    return spec


def query(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator form: @query("q_x", "SELECT ...")."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        register(QuerySpec(name=name, builder=fn, oracle=oracle, doc=doc or fn.__doc__ or "", tags=tags))
        return fn

    return deco


# Names the external correctness gate should evaluate FIRST, in this
# order. The gate records rows for exactly the first 50 names of
# ``all_queries()`` ordering per round (a hard cap or time budget), so
# dict ordering decides which queries get hard evidence each round.
# Round 3 closed the never-gated backlog; from round 4 on the list
# ROTATES STALE EVIDENCE (VERDICT.md r3 item 3): each round gates the
# 50 queries whose latest driver row is oldest, with new registrations
# (evidence-free by construction) leading.
_GATE_FIRST: tuple[str, ...] = (
    # ROUND-11 ROTATION (the freshness test makes the stale cohort
    # mandatory). Order: (a) the four exact-oracle queries whose output
    # the 64-bit image-hash fix can change (integer aHash of the
    # incremental and cross-modal pair curation, and the two queries
    # built on q_pair_curation_crossmodal); then (b) every exact query
    # whose latest committed driver row is >5 rounds old (the r05
    # cohort — tests/test_evidence_freshness.py fails unless all are
    # here); then (c) the alphabetically-first 28 of the age-5 cohort,
    # filling the 50-row budget.
    # (a) exact queries the image-hash fix can change:
    "q_incremental_image_neardup",
    "q_pair_curation_crossmodal",
    "q_crossmodal_clusters",
    "q_corpus_prep_crossmodal",
    # (b) every exact query with evidence >5 rounds old:
    "q_lorenz_curve",
    "q_market_share",
    "q_pagerank",
    "q_phrase_search",
    "q_product_profit",
    "q_profile_events",
    "q_random_walk",
    "q_range_join_follows",
    "q_returned_revenue",
    "q_rollup_pricing",
    "q_stratified_sample",
    "q_text_fingerprint",
    "q_text_langid",
    "q_text_quality",
    "q_text_tokens",
    "q_train_split",
    "q_variant_props",
    "q_window_hourly",
    # (c) alphabetically-first 28 of the age-5 cohort:
    "q_ann_lsh_buckets",
    "q_ann_mrl_topk",
    "q_ann_neardup",
    "q_ann_topk",
    "q_ann_topk_arrow",
    "q_ann_topk_int8",
    "q_antijoin_absent",
    "q_asof_nearest_purchase",
    "q_asof_next_purchase",
    "q_boilerplate_scrub",
    "q_breadcrumb_conform",
    "q_ccnet_buckets",
    "q_chunk_documents",
    "q_cohort_retention",
    "q_conform_validate",
    "q_dataset_fingerprint",
    "q_decontaminate",
    "q_decontaminate_semantic",
    "q_dedup_lines",
    "q_distinct_tuples",
    "q_dominant_supplier",
    "q_dp_counts",
    "q_dsir_resample",
    "q_dsir_weights",
    "q_enrich_merge",
    "q_first_wins_dedup",
    "q_flagship_hotspot",
    "q_flagship_hotspot_pm",
)


def all_queries() -> dict[str, QuerySpec]:
    # Import side-effect modules that register their specs.
    from c_tran_data_pipeline_spark.plans import (  # noqa: F401
        analytics,
        curation_queries,
        decision_queries,
        dedup_queries,
        graph_queries,
        multimodal_queries,
        olap_queries,
        packing_queries,
        parity,
        scale_queries,
        similarity_queries,
        text_queries,
        warehouse_queries,
    )

    front = [n for n in _GATE_FIRST if n in _REGISTRY]
    rest = [n for n in _REGISTRY if n not in _GATE_FIRST]
    return {n: _REGISTRY[n] for n in [*front, *rest]}
