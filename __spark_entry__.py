"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001.
``queries()`` / ``oracle_sql()`` expose the engine's declared query
surface from :mod:`clickbom_spark.queries` — one entry per implemented
operator family from SURVEY.md §2 (plus the training-data extension
ops).  Column aliases match between the Spark side and the DuckDB
oracle side by construction (see clickbom_spark/queries/__init__.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from clickbom_spark.queries import REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def _status_rank() -> dict[str, int]:
    """Per-query verification status from committed CORRECTNESS_r*.json.

    The driver walks ``queries()`` in insertion order under a count
    budget, so order queries that still need a green row (erroring or
    hash-failed first, then never-checked) ahead of the already-green
    wave.  Latest round wins per query.
    """
    import glob
    import json
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    status: dict[str, dict] = {}
    last_green: dict[str, int] = {}
    for rnd, path in enumerate(
        sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))), 1
    ):
        try:
            with open(path) as f:
                payload = json.load(f)
        except (OSError, ValueError):
            continue
        status.update(payload)
        for name, e in payload.items():
            if not e.get("err") and e.get("hash_match") is True:
                last_green[name] = rnd
    ranks = {}
    for name in REGISTRY:
        e = status.get(name)
        if e is None:
            ranks[name] = (1, 0)  # never checked
        elif name in _REVERIFY_TOUCHED:
            # Queries whose implementation was REWRITTEN in the last
            # two optimization rounds (r14/r15) but whose oracle row
            # predates the rewrite: the staleness rotation would not
            # reach them for several rounds (they were recently green),
            # so their semantic-equivalence arguments would stay
            # uncertified.  Rank them right behind true failures /
            # never-checked so this round's budget certifies the
            # rewrites (VERDICT r14 item 2).
            ranks[name] = (1, 1)
        elif e.get("err") or e.get("hash_match") is not True:
            ranks[name] = (0, 0)  # erred / mismatched: re-verify first
        else:
            # green: re-verify last, STALEST green first, so the
            # budget's green slots rotate across rounds instead of
            # re-checking the same prefix every time
            ranks[name] = (2, last_green.get(name, 0))
    return ranks


# Every registry query (391) is registered with
# clickbom_spark.queries.query and carries a DuckDB oracle.  A new
# query is one @query in a module imported by queries/__init__.py; it
# has no CORRECTNESS row yet, so it ranks in the never-checked tier.

# Queries rewritten by the r14/r15 optimization rounds whose driver
# oracle row predates the rewrite (VERDICT r14 "Next round" item 2):
# ranked just behind never-checked so the r15 budget re-greens every
# semantic rewrite.  Grows as round 15 touches more queries.
_REVERIFY_TOUCHED = {
    # r14 semantic rewrites (minimum set named by the judge)
    "q_window_rank_orders", "q_theta_join_event_pairs",
    "q_triangle_count", "q_pagerank_parts", "q_minhash_lsh_dedup",
    "q_lake_stream_serving",
    # remaining r14-touched bench queries
    "q_ngram_redundancy", "q_hll_distinct", "q_curation_pipeline",
    "q_quantiles_weighted_by_group", "q_weighted_quantiles",
    "q_bootstrap_ci", "q_cosine_topk",
    # r15-touched (ADVICE fixes + non-bench hot-path sweep)
    "q_cdc_apply", "q_shingle_novelty", "q_token_pmi",
    "q_event_markov_matrix", "q_association_rules",
    "q_edit_distance_join", "q_setsim_prefix_join",
    "q_containment_join", "q_rfm_segments",
}

# Among never-checked queries, verify the highest-value operators
# first (the budget may cut the tail): multimodal + layout (flagged in
# round-1 review), streaming, then the flagship extension pipelines.
_PRIORITY = [
    "q_binary_metadata", "q_multimodal_features", "q_resize_media",
    "q_video_frame_sample", "q_zorder_cluster", "q_partition_pruned_scan",
    "q_dynamic_partition_pruning", "q_cohort_retention", "q_keep_latest_event",
    "q_cdc_stream_compaction", "q_dedup_stream_watermark",
    "q_theta_join_skewed", "q_sequence_packing", "q_curation_pipeline",
    "q_pagerank_parts", "q_agg_state_merge", "q_neardup_keep_one",
    "q_ivf_kmeans_ann", "q_scalar_quantization", "q_reachability_3hop",
    "q_mixture_weights", "q_mixture_resample", "q_table_checksum",
    "q_table_diff", "q_session_funnel", "q_stream_static_enrich",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    rank = _status_rank()
    prio = {n: i for i, n in enumerate(_PRIORITY)}
    names = list(REGISTRY)
    idx = {n: i for i, n in enumerate(names)}
    ordered = sorted(
        names, key=lambda n: (*rank[n], prio.get(n, len(_PRIORITY)), idx[n])
    )
    return {name: REGISTRY[name].fn for name in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (every registry query has one)."""
    return {name: spec.oracle for name, spec in REGISTRY.items()}
