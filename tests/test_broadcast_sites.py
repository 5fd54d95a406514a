"""Source-level lint for unconditional broadcast hints (r11 verdict).

A bare ``F.broadcast(...)`` is only correct on a frame whose
cardinality is BOUNDED by construction (a model, a codebook, a
per-source cap frame, a scalar total) — never on one that grows with
the dataset (a dimension table, a distinct-key aggregate). The r11
audit found six sf-proportional dim hints that would OOM at the
100 TB design point; they now go through
``operators/hints.broadcast_if_small``. This lint freezes that state:
every unconditional ``F.broadcast`` call site in the package must
appear in the whitelist below WITH a bounded-ness justification, so
a new site forces an explicit decision (bounded -> whitelist it with
a reason; dataset-sized -> use broadcast_if_small) instead of
silently re-introducing the weak class.

Pure AST — no Spark session.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "group_2_shopware_enterprise_data_engineering_project_spark",
)

#: (relative file, enclosing function) -> (allowed count, why bounded).
#: Counts are exact: adding an Nth site to a listed function also
#: trips the lint (the new hint still needs its own justification).
WHITELIST: dict[tuple[str, str], tuple[int, str]] = {
    # --- operators ---------------------------------------------------------
    ("operators/analytics.py", "sketch_accuracy_report"): (1, "exact-counts side capped at top_n"),
    ("operators/contamination.py", "contamination_report"): (1, "eval-set fingerprints (benchmark-sized by contract)"),
    ("operators/contamination.py", "contamination_report_bloom"): (1, "bloom bitset rows: fixed m bits / 64"),
    ("operators/er.py", "qgram_pairs"): (1, "stop-gram list: frequency-capped"),
    ("operators/hints.py", "broadcast_if_small"): (1, "THE gate itself (post size-check)"),
    ("operators/merge.py", "_scoped_merge"): (1, "touched-partition key list of one batch"),
    ("operators/merge.py", "read"): (1, "tombstones under data_bytes gate (in-function size check)"),
    ("operators/nbayes.py", "nb_predict"): (1, "model: (class, term) weights, vocab-capped"),
    ("operators/nbayes.py", "nb_train"): (2, "class priors + vocab frame, both capped"),
    ("operators/pagerank.py", "pagerank"): (2, "dangling-mass scalar + node-count scalar per iteration"),
    ("operators/prep.py", "budget_select"): (1, "per-source caps: source-cardinality"),
    ("operators/prep.py", "chunk_manifest"): (1, "per-shard base offsets: shards-cardinality"),
    ("operators/prep.py", "deterministic_downsample"): (1, "per-source thresholds: source-cardinality"),
    ("operators/prep.py", "doc_frequency"): (1, "doc-count scalar"),
    ("operators/prep.py", "group_quantile_filter"): (1, "per-group thresholds: group-cardinality dimension"),
    ("operators/prep.py", "negative_sample"): (1, "label pool capped by construction"),
    ("operators/prep.py", "temperature_resample"): (1, "per-source quotas: source-cardinality"),
    ("operators/prep.py", "token_budget_select"): (1, "per-source caps: source-cardinality"),
    ("operators/prep.py", "waterfill_from_totals"): (1, "waterline scalar"),
    ("operators/saltjoin.py", "salted_bipartite_tasks"): (1, "task frame: n_tasks rows by construction"),
    ("operators/saltjoin.py", "salted_pair_tasks"): (1, "task frame: n_tasks rows by construction"),
    ("operators/search.py", "bm25_topk"): (3, "query-term frame + df frame (vocab-capped) + corpus-stats scalar"),
    ("operators/similarity.py", "_adc_topk"): (1, "PQ codebook: m * 256 rows"),
    ("operators/similarity.py", "_assign_nearest"): (1, "centroid model: k rows"),
    ("operators/similarity.py", "_assign_nearest_l2"): (1, "centroid model: k rows"),
    ("operators/similarity.py", "_centroids"): (1, "seed centroids: k rows"),
    ("operators/similarity.py", "_ivf_candidates"): (1, "probed-list query frame: n_queries * nprobe"),
    ("operators/similarity.py", "_lsh_search"): (1, "query-bucket frame: n_queries * n_tables"),
    ("operators/similarity.py", "_pq_encode"): (1, "PQ codebook: m * 256 rows"),
    ("operators/similarity.py", "_query_corpus"): (1, "query vectors: n_queries rows"),
    ("operators/similarity.py", "_recall_curve"): (1, "curve settings: one row per setting"),
    ("operators/similarity.py", "ivf_topk"): (1, "query frame"),
    ("operators/similarity.py", "ivfpq_topk"): (2, "coarse centroids + probe table (n_queries * n_probe)"),
    ("operators/similarity.py", "pq_distortion"): (1, "PQ codebook: m * 256 rows"),
    ("operators/similarity.py", "pq_seed_codebook"): (1, "seed codebook: m * 256 rows"),
    ("operators/similarity.py", "pq_topk"): (1, "query frame"),
    ("operators/similarity.py", "quantized_topk"): (1, "query frame"),
    ("operators/similarity.py", "two_stage_topk"): (2, "query frame + stage-1 candidate ids (n_queries * k1)"),
    ("operators/skewjoin.py", "salted_sides"): (2, "hot-key list (top-n capped), both sides"),
    ("operators/stats.py", "benford_audit"): (1, "per-group totals: group-cardinality"),
    ("operators/stats.py", "count_min"): (1, "sketch parameter frame: d rows"),
    ("operators/stats.py", "drift_from_histogram"): (1, "totals: one row"),
    ("operators/stats.py", "equidepth_bucketize"): (1, "bucket bounds: one row of B-1 values per group"),
    ("operators/stats.py", "key_skew_profile"): (1, "table-total scalar"),
    ("operators/stats.py", "shuffle_skew_audit"): (1, "total-rows scalar"),
    ("operators/text.py", "source_overlap"): (2, "per-source vocab sizes (source-cardinality), twice aliased"),
    ("operators/text.py", "vocab_coverage"): (1, "vocabulary: top-V capped"),
    # --- queries -----------------------------------------------------------
    ("queries/batch_analytics.py", "a39_seasonality_index"): (1, "global totals: one row"),
    ("queries/embeddings_sim.py", "e15_ann_matryoshka"): (2, "query frames at two prefix widths"),
    ("queries/embeddings_sim.py", "e16_ann_filtered"): (2, "query frame + label-filter dim (label-cardinality)"),
    ("queries/ml_prep.py", "m25_transition_matrix"): (1, "per-state totals: state-cardinality"),
    ("queries/ml_prep.py", "m52_importance_selection"): (2, "hashed feature weights: fixed hash space"),
    ("queries/ml_prep.py", "m57_effective_mixture"): (1, "corpus-total scalar"),
    ("queries/multimodal_q.py", "mm6_contrastive_pairs"): (1, "per-media caption pool, capped"),
    ("queries/search_stats.py", "a18_anomaly_zscore"): (1, "global mean/std: one row"),
    ("queries/search_stats.py", "a19_regional_revenue"): (2, "region filter (5 rows) + nation dim (25 rows)"),
    ("queries/search_stats.py", "a23_share_of_total"): (1, "grand-total scalar"),
    ("queries/streaming_pipelines.py", "st13_stream_count_min"): (1, "sketch parameter frame"),
    ("queries/streaming_pipelines.py", "st20_stream_ann_index"): (1, "centroid model"),
    ("queries/streaming_pipelines.py", "st22_stream_purge"): (1, "purge-key batch (one erasure request)"),
    ("queries/streaming_pipelines.py", "st30_stream_interval_union"): (2, "txn scalar + per-user carry frame"),
    ("queries/streaming_pipelines.py", "st31_stream_budget_select"): (2, "per-source offsets + caps (source-cardinality)"),
    ("queries/warehouse_q.py", "a31_basket_lift"): (1, "basket-count scalar (item-support frames are gated)"),
    ("queries/warehouse_q.py", "j6_dynamic_partition_pruning"): (1, "pruned date dim: filter-selected handful of days"),
    ("queries/warehouse_q.py", "k33_retention_plan"): (1, "per-week max-version frame: catalog-cardinality"),
}


def _scan() -> Counter:
    found: Counter = Counter()
    for dirpath, _, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG)
            tree = ast.parse(open(path).read())
            funcs = sorted(
                (n.lineno, n.end_lineno or n.lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            )
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "F"
                ):
                    enc = next(
                        (
                            name
                            for s, e, name in funcs
                            if s <= node.lineno <= e
                        ),
                        "<module>",
                    )
                    found[(rel, enc)] += 1
    return found


def test_every_unconditional_broadcast_is_whitelisted_bounded():
    found = _scan()
    unlisted = {k: n for k, n in found.items() if k not in WHITELIST}
    assert not unlisted, (
        "unconditional F.broadcast on an un-whitelisted site — if the "
        "frame is bounded by construction, whitelist it here WITH a "
        "justification; if it grows with the dataset, use "
        f"operators/hints.broadcast_if_small instead: {unlisted}"
    )
    wrong_count = {
        k: (n, WHITELIST[k][0])
        for k, n in found.items()
        if n != WHITELIST[k][0]
    }
    assert not wrong_count, (
        "broadcast-site count changed (new hint needs its own "
        f"justification, removed hint should leave the list): {wrong_count}"
    )
    stale = set(WHITELIST) - set(found)
    assert not stale, f"whitelist entries with no matching site: {stale}"
