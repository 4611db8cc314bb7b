"""End-to-end training-corpus hygiene pipeline (extension surface —
the composition the individual dedup / text-analysis operators exist
for): exact dedup → near-dup removal → quality + language filters →
token accounting.

Stage order is part of the contract (the oracle mirrors it exactly):

1. EXACT dedup on the normalized-text fingerprint — keep the smallest
   doc_id per fingerprint. Cheapest first: hash-groupBy, removes
   byte-identical copies before any pairwise work.
2. NEAR-DUP removal on the survivors — minhash/LSH candidate pairs,
   exact-Jaccard verified (≥ threshold); every doc appearing as the
   LARGER id of a verified pair is dropped (one-hop canonical keep).
3. QUALITY + LANGUAGE filters — heuristic score and stopword-vote
   language ID (pure expressions / broadcast join).
4. TOKEN ACCOUNTING — whitespace + BPE-ish counts for budget tracking.

Scale: stage 1 is one hash shuffle; stage 2 is the LSH plan (band
equi-join, frequency-independent verify); stages 3-4 are ONE map-only
projection over the dedup survivors — the enrichments are inlined as
column expressions (`text_analysis.quality_exprs` / `lang_vote` /
token-count exprs), NOT computed as separate relations joined back by
id. Joining map-only enrichments by id would re-derive the survivor
lineage (including the whole LSH branch) once per join branch —
measured 19 s → 4.5 s warm at sf0.1 once flattened and the shared
shingle relation is checkpointed, and at 100 TB it is three
full-table shuffles avoided. Nothing pairwise ever leaves a
key-equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tugas_2_big_data_spark.operators import dedup, text_analysis
from tugas_2_big_data_spark.operators.partitioning import fan_out


def clean_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    min_quality: float = 0.55,
    langs: tuple[str, ...] = ("en",),
) -> DataFrame:
    """Returns the cleaned corpus: one row per surviving doc with
    (doc_id, text, lang_pred, quality_score, n_tokens_ws, n_tokens_bpe).
    """
    # 1. exact dedup (min id per normalized fingerprint). fan_out first:
    # the local single-split scan would otherwise run every map-side
    # expression in the whole pipeline on one core (no-op on wide scans)
    docs = fan_out(docs)
    fp = docs.withColumn("_fp", F.md5(dedup.normalized(text_col)))
    keep_exact = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    survivors = fp.join(keep_exact, [id_col, "_fp"], "left_semi").drop("_fp")

    # 2. near-dup removal among survivors (LSH + verified Jaccard).
    # Shingle sets are shared by the signature build and the Jaccard
    # verify — localCheckpoint materializes them once (the no-cache
    # fan-out would re-shingle the survivors three times; columnar
    # cache() of array<string> measured slower than recompute, see
    # dedup_minhash_lsh_pairs). On a cluster prefer persist(DISK_ONLY)
    # or a reliable checkpoint.
    # widen=False: survivors is post-shuffle (width already repaired by
    # the entry fan_out + AQE minPartitionSize; a fan_out probe here
    # would materialize the semi-join stages early)
    sets = dedup.shingle_sets(
        survivors, text_col, id_col, widen=False
    ).localCheckpoint()
    sig = dedup.minhash_signatures_from_sets(sets, k=8, id_col=id_col)
    cand = dedup.lsh_candidate_pairs(sig, k=8, bands=4, id_col=id_col)
    pairs = dedup.jaccard_verify_sets(
        sets, cand, threshold=jaccard_threshold, id_col=id_col
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    deduped = survivors.join(losers, id_col, "left_anti")

    # 3+4. quality / language / token enrichment + filter
    return enrich_and_filter(deduped, text_col, id_col, min_quality, langs)


def enrich_and_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.55,
    langs: tuple[str, ...] = ("en",),
) -> DataFrame:
    """Stages 3+4 as ONE map-only projection — zero Exchange, pinned by
    tests/test_plans.py (see module docstring for why not joins). The
    words array is projected to a real column first — lang_vote's HOF
    lambdas must not see an inline split (SCALE.md pitfall 1)."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    vote = text_analysis.lang_vote(F.col("_words"))
    lang_pred = F.when(vote["hits"] == 0, F.lit("und")).otherwise(
        vote["lang"]
    )
    return (
        docs.withColumn("_words", words)
        .select(
            id_col,
            text_col,
            lang_pred.alias("lang_pred"),
            text_analysis.quality_exprs(text_col)["quality_score"].alias(
                "quality_score"
            ),
            text_analysis.ws_token_count(text_col).alias("n_tokens_ws"),
            text_analysis.bpe_token_count(text_col).alias("n_tokens_bpe"),
        )
        .filter(
            (F.col("quality_score") >= min_quality)
            & F.col("lang_pred").isin(*langs)
        )
    )


def span_clean_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Exact dedup ∘ keep-one-copy span excision — the two removal
    passes a pretraining corpus runs in sequence (Lee et al.): drop
    byte-identical re-ingests first (cheap fingerprint groupBy, and it
    keeps the span stage from seeing N copies of every duplicated
    gram), then excise cross-document repeated spans from the
    survivors, keeping each span's occurrence in its lowest-id doc.
    Returns (doc_id, clean_text), one row per exact-dedup survivor.

    Stage order matters for cost, not correctness: exact dedup first
    shrinks the span stage's gram relation by the duplicate factor;
    running spans first would fingerprint every copy of every dup.
    The survivors relation is localCheckpointed once — the span finder
    and the excision re-tokenizer both consume it (the no-cache
    fan-out trap, SURVEY.md §4)."""
    docs = fan_out(docs)
    fp = docs.withColumn("_fp", F.md5(dedup.normalized(text_col)))
    keep_exact = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    survivors = (
        fp.join(keep_exact, [id_col, "_fp"], "left_semi")
        .select(id_col, text_col)
        .localCheckpoint()
    )
    return dedup.excise_repeated_spans(
        survivors, text_col, id_col, k=k, keep="first"
    )
