"""Regenerate PLANS.md: formatted physical plans for flagship queries.

The plan-pin tests (tests/test_plans.py) assert the properties; this
artifact shows the full plans those assertions run against, so scan
pruning / pushdown / broadcast / codegen spans can be inspected
without executing anything. Regenerate after plan-shape changes:
`python tools/dump_plans.py > PLANS.md`.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tugas_2_big_data_spark.session import get_spark  # noqa: E402
from tugas_2_big_data_spark import queries as q  # noqa: E402

SF = "/root/testdata/sf0.001"

SHOWCASE = [
    ("tpch_q1", "scan → project → hash agg → sort; pushdown + pruning"),
    ("tpch_q3", "broadcast dims, no cartesian"),
    ("tpch_q6", "full predicate pushdown into the parquet scan"),
    ("yf_agg_month", "36-expression stat matrix, map-side combine"),
    ("idx_flatten_ratios", "32-column contract as one pure projection"),
    ("win_topk_orders_per_customer", "WindowGroupLimit top-k pruning"),
    ("evt_asof_last_purchase", "union-sort-carry as-of join, one hash shuffle"),
    ("evt_range_join_30min", "interval bucketing → hash equi-join (no BNL)"),
    ("evt_tumbling_5min", "tumbling window aggregation"),
    ("dedup_minhash_signature", "map-only signature build (no Exchange)"),
    ("dedup_minhash_lsh_pairs", "band equi-join, candidate-first verify"),
    ("dedup_ngram_jaccard_exact_baseline", "length-filtered inverted index"),
    ("dedup_ngram_jaccard_prefix", "PPJoin prefix filter + exact verify"),
    ("dedup_semantic_clusters", "k-means cells + in-cell dot product"),
    ("ann_ivf_topk", "broadcast centroid state, cell equi-join"),
    ("txt_chunk_windows", "split-once projection + sequence/explode"),
    ("curate_top_by_source", "one group shuffle for rank + count"),
    ("pipeline_clean_corpus", "composed hygiene pipeline"),
    ("evt_value_zscore", "group stats broadcast back onto the fact"),
    ("txt_bigram_counts", "in-row zip bigrams, one combine-shuffle"),
    ("txt_hash_embed_topk", "feature-hashed vectors into cosine top-k"),
    ("sample_exact_n_per_lang", "literal-bound WindowGroupLimit sampling"),
    ("dedup_containment_prefix", "one-sided prefix filter, directed verify"),
    ("ann_pq_topk", "PQ encode projection + broadcast LUT scoring"),
    ("ann_ivfpq_topk", "cell equi-join × PQ codes (composed index)"),
    ("sketch_heavy_hitters", "shard top-k + residual bounds, tiny state"),
    ("sample_weighted_reservoir", "A-ES keys → TakeOrderedAndProject"),
    ("txt_quality_logreg", "map-only linear classifier (no Exchange)"),
    ("ann_ivf_topk_prebuilt", "artifact-served IVF: inverted file scan"),
    ("dedup_repeated_spans", "k-gram hash buckets → text verify → islands"),
    ("txt_char_entropy", "one sorted-codepoint pass, run-length fold"),
    ("dedup_incremental_near_dup", "batch bands vs seen LSH state"),
    ("pipeline_span_clean", "exact dedup ∘ keep-first span excision"),
    ("dedup_incremental_two_batches", "check → append-only merge → check"),
    ("ann_incremental_two_batches", "bucket gate loop, state evolved"),
    ("ann_ivfpq_rerank_topk", "ADC candidates → exact-cosine refine"),
    ("dedup_lsh_recall", "banding candidates vs exact-Jaccard truth"),
    ("txt_bpe_encode", "trained-merge replay: one-row broadcasts, 0 shuffles"),
    ("txt_bm25_from_postings", "term In-filter pushed into postings artifact"),
    ("graph_component_representatives", "ranks × closure → family window"),
    ("mix_token_budget", "one lang-keyed cumsum window + filter"),
    ("er_match_pairs", "block equi-join + codegen levenshtein verify"),
    ("layout_zorder_vs_linear", "morton interleave, broadcast extent row"),
    ("sketch_join_size_estimate", "two CM tables, sketch-sized inner product"),
    ("ann_kmeans_health", "one-row centroid broadcast + k-row aggregate"),
    ("txt_ppl_band_filter", "percentile reduce broadcast over LM scores"),
    ("emb_hard_negatives", "broadcast query block, two per-query argmaxes"),
]


def main() -> None:
    spark = get_spark(app_name="dump_plans", master="local[4]")
    reg = q.queries()
    print("# PLANS — formatted physical plans for flagship queries")
    print()
    print("Generated by `python tools/dump_plans.py > PLANS.md` at")
    print(f"sf0.001 on local[4]. The properties these plans exhibit are")
    print("regression-pinned in tests/test_plans.py.")
    for name, why in SHOWCASE:
        df = reg[name](spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        print(f"\n## {name} — {why}\n")
        print("```")
        print(buf.getvalue().rstrip())
        print("```")


if __name__ == "__main__":
    main()
