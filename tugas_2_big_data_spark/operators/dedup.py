"""Deduplication operators for training-data pipelines (extension surface;
BASELINE.json north-star — not present in the reference, which has no
dedup of any kind).

Strategies, all declarative DataFrame plans:

- exact:        hash-groupBy on the raw text (one shuffle)
- fingerprint:  hash-groupBy on normalized text (case/whitespace folded)
- minhash+LSH:  shingle → k seeded-md5 minhashes → band buckets →
                candidate pairs → exact-Jaccard verification
- n-gram Jaccard: inverted shingle index self-join (no O(n²) cross
                join), plus a PPJoin prefix-filter variant
- simhash:      16-bit signature from per-word md5 bit votes
- incremental:  new-batch fingerprint anti-join against the seen-corpus
                fingerprint state (continuous-ingest shape)
- contamination: benchmark n-gram overlap via one broadcast vocabulary

Scale design: every pairwise step goes through a key-equi-join
(band bucket or shingle), never a cross join; signatures are one
explode + hash-agg; at 1000 executors all stages are shuffle-parallel.
The md5-based hash families keep every value reproducible in the DuckDB
oracle (see tugas_2_big_data_spark/functions/hashing.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from tugas_2_big_data_spark.functions import hashing
from tugas_2_big_data_spark.operators.partitioning import fan_out
from tugas_2_big_data_spark.operators.skew import (
    hot_split_inner_join,
    hot_split_semi_join,
)


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct text: canonical (min) id + duplicate count."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("canonical_id", "n_copies")


def normalized(text_col: str = "text") -> F.Column:
    """Case-folded, whitespace-collapsed text."""
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def fingerprint_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Dedup groups keyed by md5 of normalized text."""
    return (
        df.withColumn("fp", F.md5(normalized(text_col)))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    widen: bool = True,
) -> DataFrame:
    """(id, shingles: array<string>) — each doc's DISTINCT shingle set.

    Set semantics come from ``array_distinct`` INSIDE the row, so this
    is a narrow projection: no explode, no shuffle. At 100 TB that is
    the difference between a map-only stage and shuffling a 50×-
    amplified (id, shingle) relation just to re-group it by id. Docs
    with fewer than n words (empty set) are dropped, matching the
    exploded representation where they simply have no rows.

    The words array is projected into a real column before shingling:
    higher-order lambdas re-evaluate inline outer expressions per
    element, so shingling directly off the split() expression costs
    O(words²) regex calls per doc (see hashing.word_shingles).

    Empty docs are dropped by filtering on the WORD count (shingle set
    is empty ⟺ fewer than n words), checked below the shingle
    projection: a filter on the shingles column itself would be
    predicate-pushed below the project, substituting the whole shingle
    expression (inline split included) into the condition and
    re-triggering the quadratic re-evaluation.

    ``widen=True`` (default) repairs scan parallelism first (fan_out —
    conditional, no-op on already-wide inputs); pass ``widen=False``
    for post-shuffle inputs whose width AQE already governs, since the
    fan-out probe would materialize upstream query stages.
    """
    if widen:
        df = fan_out(df)
    return (
        df.select(F.col(id_col), hashing.words(text_col).alias("_words"))
        .filter(F.size("_words") >= n)
        .select(
            F.col(id_col),
            F.array_distinct(
                hashing.word_shingles(F.col("_words"), n)
            ).alias("shingles"),
        )
    )


def hashed_shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    widen: bool = True,
) -> DataFrame:
    """(id, shingles: array<long>) — shingle sets with each shingle
    replaced by its 60-bit portable hash (`hashing.hash60`), still a
    map-only projection.

    The all-pairs dedup stages (prefix join, candidate distinct, exact
    verify) shuffle and intersect the shingle payload; as strings that
    payload is ~25 bytes + object overhead per element, and the verify
    join carries BOTH documents' full arrays per candidate row —
    measured 40+ GB of transient arrays (GC-bound) at the 100× probe
    tier. Fixed-width longs cut the payload ~5× and make sorts and
    intersections primitive comparisons. Collisions (~n²/2^61) are
    negligible AND reproduced exactly by the oracle, which applies the
    identical hash SQL (`hashing.hexn_sql(expr, 15)`).
    """
    sets = shingle_sets(df, text_col, id_col, n, widen=widen)
    # re-distinct AFTER hashing: a (vanishingly rare) in-doc collision
    # would otherwise leave a duplicate long in the array and desync
    # size() from the oracle's DISTINCT row count
    return sets.select(
        F.col(id_col),
        F.array_distinct(
            F.transform("shingles", hashing.hash60)
        ).alias("shingles"),
    )


def doc_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle) pairs, DISTINCT per doc (set semantics for Jaccard).

    Inverted-index representation used by the exhaustive n-gram Jaccard
    operator. Per-doc distinctness is established by ``array_distinct``
    BEFORE the explode (narrow), so no distinct-shuffle is needed after
    row amplification. Scan parallelism is repaired inside
    ``shingle_sets`` (conditional fan_out moving only the small
    un-exploded rows), so the explode itself is already wide.
    """
    return shingle_sets(df, text_col, id_col, n).select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    )


def minhash_signatures(
    shingled: DataFrame, k: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """k minhash values per doc from the (id, shingle) relation."""
    aggs = [
        hashing.minhash_agg(F.col("shingle"), seed).alias(f"h{seed}")
        for seed in range(k)
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def minhash_sig_cols(k: int = 8) -> list[Column]:
    """The k in-row minhash signature expressions over a `shingles`
    array column — min(md5(seed:shingle)) via array_min(transform(...))
    — exposed as raw Columns so callers that must KEEP other columns
    alongside the signature (the streaming near-dup carries the set
    through the band join) project them in one select."""
    def _hasher(seed: int):
        # 1-arg lambda factory: pyspark higher-order functions dispatch
        # on lambda arity (2 params would mean "(element, index)")
        return lambda s: hashing.seeded_md5(s, seed)

    return [
        F.array_min(F.transform(F.col("shingles"), _hasher(seed))).alias(
            f"h{seed}"
        )
        for seed in range(k)
    ]


def minhash_signatures_from_sets(
    sets: DataFrame, k: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """k minhash values per doc as a PURE PROJECTION over shingle sets.

    min(md5(seed:shingle)) is computed with array_min(transform(...))
    inside the row — the signature build is map-only (zero shuffle),
    embarrassingly parallel at any scale. Identical values to
    ``minhash_signatures`` on the exploded relation.
    """
    return sets.select(F.col(id_col), *minhash_sig_cols(k))


def band_exprs(k: int = 8, bands: int = 4) -> list[Column]:
    """The LSH band structs over h0..h{k-1} signature columns: k hashes
    split into `bands` groups of k/bands, band key = concatenation."""
    rows_per_band = k // bands
    out = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + i}") for i in range(rows_per_band)]
        out.append(
            F.struct(F.lit(b).alias("band_id"), F.concat_ws("|", *cols).alias("key"))
        )
    return out


def lsh_band_keys(
    signatures: DataFrame, k: int = 8, bands: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """(id, band_id, key) LSH bucket rows from minhash signatures —
    banding via `band_exprs`. This relation IS the persistable LSH
    state of a corpus (bands·1 short strings per doc):
    `lsh_candidate_pairs` self-joins it; `incremental_near_dup` joins a
    new batch's bands against a persisted copy of it."""
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_exprs(k, bands))).alias("band")
    ).select(id_col, "band.band_id", "band.key")


def lsh_candidate_pairs(
    signatures: DataFrame, k: int = 8, bands: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Docs sharing any band of minhashes → candidate pairs (id_a < id_b).

    The self-join on (band_id, band_key) replaces the O(n²) signature
    comparison with an equi-join Spark shuffles by key.
    """
    banded = lsh_band_keys(signatures, k, bands, id_col)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def lsh_candidate_recall(
    sets: DataFrame,
    thresholds: tuple[float, ...] = (0.5, 0.7, 0.9),
    k: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Measured CANDIDATE RECALL of the (k, bands) minhash banding
    scheme against exact Jaccard ground truth, one row per threshold:
    (threshold, n_truth, n_hits, recall) where n_truth = true pairs
    with Jaccard ≥ threshold and n_hits = those surfaced as LSH
    candidates. The banding trade (P[candidate] = 1-(1-s^(k/bands))^bands,
    s = true Jaccard) is usually asserted from the formula; this
    measures it on the actual corpus — the self-measurement query the
    ANN side already ships (`ann_ivf_recall`), for the text-dedup side.
    Operational use: run after retuning k/bands or when corpus shingle
    statistics drift; a recall drop at the operating threshold means
    the bands no longer match the duplicate profile.

    Cost shape: ground truth is the exhaustive length-filtered
    inverted-index join (`jaccard_pairs_from_sets`) — a measurement
    pass over a SAMPLE at 100 TB, exactly like `ann_ivf_recall` runs
    its exact leg on a query sample, never the full corpus."""
    truth = jaccard_pairs_from_sets(sets, id_col, min(thresholds))
    cand = lsh_candidate_pairs(
        minhash_signatures_from_sets(sets, k, id_col), k, bands, id_col
    ).withColumn("_hit", F.lit(1))
    th = sets.sparkSession.createDataFrame(
        [(float(t),) for t in thresholds], "threshold double"
    )
    return (
        truth.crossJoin(F.broadcast(th))
        .filter(F.col("jaccard") >= F.col("threshold"))
        .join(cand, ["id_a", "id_b"], "left")
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .withColumn("recall", F.col("n_hits") / F.col("n_truth"))
    )


def _prefix_pos_bound(sz: Column, threshold: float) -> Column:
    """Float-safe prefix length for PPJoin-style filtering.

    The textbook bound is sz − ⌈t·sz⌉ + 1, but two IEEE effects make a
    literal `ceil(t * sz)` drop TRUE pairs (silently — prefix filtering
    is supposed to be lossless):

    1. product overshoot: for t=0.55, sz=100 the double product is
       55.000000000000007, so ceil gives 56 where exact rational
       arithmetic gives 55 — one prefix position too few;
    2. verify round-to-threshold: the verify compares fl(n/sz) ≥ t, and
       fl rounds UP to exactly t for n/sz a hair below it (n=55,
       sz=100, t=0.55: 55/100 rounds to the same double as the 0.55
       literal) — so verify accepts pairs the real-arithmetic bound
       says the prefix may skip.

    The fix errs only LONGER: subtracting 1e-9 before the ceil kills
    the upward product error (and can only shrink the ceil near exact
    integers — the safe direction), and one extra slack position covers
    the fl(n/sz) = t round-up case (needs n ≥ ⌈t·sz⌉ − 1, i.e. one
    more reachable common shingle). Cost: ≤2 extra prefix shingles per
    doc; exactness guaranteed.
    """
    return (
        sz - F.ceil(F.lit(threshold) * sz - F.lit(1e-9)) + 2
    )


def jaccard_pairs(
    shingled: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for pairs sharing ≥1 shingle.

    Inverted-index self-join on the shingle; |A∩B| = per-pair match
    count, |A∪B| = |A| + |B| − |A∩B|. If `candidates` (id_a, id_b) is
    given, only those pairs are scored (LSH verification path).

    The two paths have very different cost shapes, so the plan differs:

    - no candidates (full n-gram Jaccard): inverted-index self-join on
      the shingle. A shingle appearing in f docs contributes O(f²)
      pre-aggregation rows — correct for the exhaustive operator, but
      quadratic in shingle frequency.
    - candidates given: intersections are computed candidate-FIRST —
      broadcast the (small) candidate set onto side A's shingles, then
      equi-join side B on (id_b, shingle). Work is O(|cand| · avg|A|),
      independent of shingle frequency, so hot shingles (common
      3-grams at corpus scale) never blow up the join.
    """
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    if candidates is not None:
        sh_a = shingled.select(F.col(id_col).alias("id_a"), "shingle")
        sh_b = shingled.select(F.col(id_col).alias("id_b"), "shingle")
        common = (
            candidates.join(sh_a, "id_a")
            .join(sh_b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
        sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
        scored = common.join(sa, "id_a").join(sb, "id_b")
    else:
        # Length filter (standard set-similarity-join pruning): jaccard
        # ≥ t implies min(|A|,|B|)/max(|A|,|B|) ≥ t, checked INSIDE the
        # join condition so disqualified pairs never reach the
        # aggregate. DIVISION form, not the t·sz product: j ≤ min/max
        # holds in reals and float division is monotone, so fl(j) ≥ t
        # implies fl(min/max) ≥ t — the filter can never drop a pair
        # the verify accepts (the product form can: t=0.55, sz=100
        # overshoots to 55.000000000000007). Sizes ride along on the
        # inverted index, making them grouping keys instead of two
        # extra post-agg joins.
        sized = shingled.join(sizes, id_col)
        a = sized.alias("a")
        b = sized.alias("b")
        scored = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                & (F.col("a.sz") / F.col("b.sz") >= F.lit(threshold))
                & (F.col("b.sz") / F.col("a.sz") >= F.lit(threshold)),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.sz").alias("sz_a"),
                F.col("b.sz").alias("sz_b"),
            )
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    return (
        scored.withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def jaccard_pairs_from_sets(
    sets: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exhaustive length-filtered inverted-index Jaccard, derived from
    the (id, shingles) SET relation in one pass.

    Same results as ``jaccard_pairs`` without candidates, but the set
    size rides along from ``size(shingles)`` in the same projection as
    the explode — no separate sizes aggregate joined back, so each
    self-join branch is a single projection and the branches' identical
    pre-join exchanges collapse into one via ReusedExchange.

    Requires the InferFiltersFromGenerate exclusion pinned in
    session.py: that rule would push a ``size(<full shingle expr>) > 0``
    filter below this projection and re-evaluate the shingle HOF chain
    per filter check on the narrow scan stage (measured 10.5 s → 2.9 s
    at sf0.1 for this operator alone).
    """
    ex = sets.select(
        F.col(id_col),
        F.size("shingles").alias("sz"),
        F.explode("shingles").alias("shingle"),
    )
    a = ex.alias("a")
    b = ex.alias("b")
    scored = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # division form — float-safe vs the verify (see jaccard_pairs)
            & (F.col("a.sz") / F.col("b.sz") >= F.lit(threshold))
            & (F.col("b.sz") / F.col("a.sz") >= F.lit(threshold)),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        scored.withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    materialize: bool = True,
    hashed: bool = True,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via PREFIX FILTERING (PPJoin-style).

    Identical results to the exhaustive inverted-index formulation, but
    the candidate join touches only each doc's PREFIX — its
    ``|A| − ⌈t·|A|⌉ + 1`` rarest shingles under a global canonical
    order (ascending document frequency, shingle as tie-break). Two
    sets with Jaccard ≥ t must share at least one prefix element, so
    no pair is lost; common shingles (the O(f²) blowup of the naive
    index) land at the END of the order and rarely enter any prefix.
    Candidates are then verified exactly with array_intersect.

    Scale shape: two linear shuffles to rank shingles by frequency, a
    prefix-only equi-join with the standard length filter, and an
    O(|candidates|·avg|A|) verify — the quadratic frequency term is
    gone entirely.

    WHEN TO USE: prefix filtering pays off when shingle document
    frequency is heavy-tailed (real-world text) and/or the threshold is
    high (t ≥ 0.7 → prefix ≤ 30% of the set). On corpora with a small
    vocabulary where every shingle is common — like the synthetic
    benchmark documents — the prefix cannot prune and the plain
    length-filtered inverted index (``jaccard_pairs``) measured ~2×
    faster. Both are exact; pick by data shape.

    The shingle-set relation feeds FOUR consumers (prefix side, full
    inverted index, frequency table, verify lookups); ``materialize``
    (default) localCheckpoints it once so the corpus is shingled once,
    not per consumer — measured ~2× wall and far lower run-to-run
    variance (each re-shingle is a fresh burst of regex splits + array
    churn for the GC). On a multi-node cluster swap for a reliable
    checkpoint (localCheckpoint dies with its executor). ``hashed``
    (default) runs the prefix join and the verify on 60-bit shingle
    hashes instead of strings (`hashed_shingle_sets`) — fixed-width
    payloads through every shuffle; counts are identical up to
    ~n²/2^61 collision probability and the oracle applies the same
    hash.
    """
    from pyspark.sql import Window

    mk_sets = hashed_shingle_sets if hashed else shingle_sets
    sets = mk_sets(df, text_col, id_col, n)
    if materialize:
        sets = sets.localCheckpoint()
    sized = sets.select(
        F.col(id_col), F.size("shingles").alias("sz"), "shingles"
    )
    ex = sized.select(id_col, "sz", F.explode("shingles").alias("shingle"))
    freq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("shingle_df"))
    w = Window.partitionBy(id_col).orderBy("shingle_df", "shingle")
    prefix = (
        # freq is hinted out of broadcast: the distinct-shingle count
        # GROWS with the corpus (2.7M rows / ~45 MB at the 100x probe
        # tier, billions at 100 TB), and the static planner's broadcast
        # pick both dies under driver memory pressure locally and is
        # the wrong plan at scale. Unlike the ARRAY-payload set joins
        # (merge-hinted — their hash build walled at the 1000x tier),
        # freq rows are two scalars, so the hash build stays bounded
        # for decades of growth provided shuffle partitions are sized
        # with the corpus; revisit if vocab per partition nears memory
        ex.join(freq.hint("shuffle_hash"), "shingle")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= _prefix_pos_bound(F.col("sz"), threshold))
        # pos rides along for the positional filter below: it is the
        # token's rank in the doc's FULL set under the global
        # (df, shingle) order, so sz − pos tokens can follow it
        .select(id_col, "sz", "pos", "shingle")
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"),
        "shingle",
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"),
        "shingle",
    )
    # POSITIONAL filter (PPJoin, Xiao et al. 2008), round 12: the
    # prefix filter alone barely prunes on small-vocabulary corpora
    # (measured 324k candidates → 256 verified pairs at sf0.1,
    # PPJOIN_STAGES.json — the verify join was 40+% of the query), so
    # bound the REACHABLE overlap from the first common prefix token
    # before the array-payload verify ever sees the pair. Both docs
    # sort their sets by the same global (df, shingle) key, so
    # positions are order-isomorphic: the match minimizing pos_a also
    # minimizes pos_b (one shared first common token t*), and every
    # other common token lies strictly after t* in BOTH sets (an
    # earlier common token would itself be a prefix match of both
    # sides). Hence |A∩B| ≤ 1 + min(sz_a − pos_a*, sz_b − pos_b*).
    # LOSSLESS by monotonicity THROUGH THE VERIFY'S OWN FLOAT SHAPE:
    # x/(sz_a+sz_b−x) is monotone in integer x and float rounding is
    # monotone, so fl(jaccard(c)) ≤ fl(jaccard(ubound)) — a pair
    # pruned here could never have passed the verify's
    # fl(c/(sa+sb−c)) ≥ t filter. Replaces the plain .distinct() with
    # a same-keyed groupBy (identical exchange), so the prune is free
    # shuffle-wise and the verify input shrinks 2.6× (323,651 →
    # 124,961 candidate pairs at sf0.1, same 256 verified pairs out).
    ubound = F.lit(1) + F.least(
        F.col("sz_a") - F.col("_pa"), F.col("sz_b") - F.col("_pb")
    )
    cand = (
        a.join(
            b,
            (a["shingle"] == b["shingle"])
            & (F.col("id_a") < F.col("id_b"))
            # division form — float-safe vs the verify (see jaccard_pairs)
            & (F.col("sz_a") / F.col("sz_b") >= F.lit(threshold))
            & (F.col("sz_b") / F.col("sz_a") >= F.lit(threshold)),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min("pos_a").alias("_pa"),
            F.min("pos_b").alias("_pb"),
            F.min("sz_a").alias("sz_a"),
            F.min("sz_b").alias("sz_b"),
        )
        .filter(
            ubound / (F.col("sz_a") + F.col("sz_b") - ubound)
            >= F.lit(threshold)
        )
        .select("id_a", "id_b")
    )
    return jaccard_verify_sets(sets, cand, threshold=threshold, id_col=id_col)


def jaccard_verify_sets(
    sets: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard for candidate pairs via per-row set intersection.

    Two lookups of the (id, shingles) table bring both sets onto the
    candidate row; |A∩B| = size(array_intersect). Cost is
    O(|candidates| · avg set size) with two equi-joins — independent of
    shingle document frequency, so corpus-hot shingles never amplify
    the join (the inverted-index formulation is quadratic in shingle
    frequency). Output schema matches ``jaccard_pairs``.

    The set-relation sides carry a MERGE hint — both alternatives are
    measured failure modes: their per-row array payload makes AQE's
    size estimate unreliable, and at the 100× probe tier AQE picked a
    driver-side BROADCAST of the 600k-row array relation and died
    building it; the SHUFFLE_HASH pin that replaced it then died at the
    1000× tier (6M docs), because a shuffled hash join's BUILD side
    cannot spill ("Can't acquire ... to build hash relation",
    SCALEPROBE1000). Sort-merge is the one strategy that is both
    shuffle-local (never broadcasts the arrays) and spill-safe at any
    size — and it measured FASTER than the hash build at the 100× tier
    (12.1 s vs 35.0 s) and equal-or-better at sf0.1.
    """
    a = sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(a.hint("merge"), "id_a")
        .join(b.hint("merge"), "id_b")
        .withColumn(
            "n_common", F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def containment_pairs_from_sets(
    sets: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.9,
) -> DataFrame:
    """Exhaustive DIRECTED near-containment pairs from the (id,
    shingles) set relation: emit (id_a, id_b) when |A∩B| / |A| ≥
    threshold with a ≠ b — "document A is (almost) contained in B".

    Containment is the asymmetric dedup relation Jaccard misses: a
    short doc quoted wholesale inside a long one has tiny Jaccard
    (|A∩B|/|A∪B| shrinks with |B|) and near-zero minhash collision
    probability, yet is exactly the redundancy a training corpus wants
    removed. Reference scope: the reference dedups only by exact text
    equality (iqplus_*_transform.py drop_duplicates shape); this
    family generalizes it.

    One-sided length filter: |A∩B| ≥ t·|A| needs |B| ≥ t·|A| but
    imposes NO upper bound on |B| — unlike the Jaccard index's
    two-sided filter. Exact ground-truth formulation, quadratic in
    shingle document frequency like its Jaccard sibling; the
    production plan is ``containment_pairs_prefix``.
    """
    ex = sets.select(
        F.col(id_col),
        F.size("shingles").alias("sz"),
        F.explode("shingles").alias("shingle"),
    )
    a = ex.alias("a")
    b = ex.alias("b")
    scored = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
            # division form — float-safe vs the verify: n ≤ sz_b with a
            # shared denominator and float division is monotone in the
            # numerator, so fl(n/sz_a) ≥ t ⇒ fl(sz_b/sz_a) ≥ t
            & (F.col("b.sz") / F.col("a.sz") >= F.lit(threshold)),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        scored.withColumn("containment", F.col("n_common") / F.col("sz_a"))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_common", "containment")
    )


def containment_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
    materialize: bool = True,
    hashed: bool = True,
) -> DataFrame:
    """Directed near-containment via ONE-SIDED prefix filtering —
    identical output to ``containment_pairs_from_sets``, production
    scale shape.

    Order A's shingles by global rarity (ascending document frequency,
    shingle tie-break). If B misses ALL of A's first
    ``|A| − ⌈t·|A|⌉ + 1`` shingles, then |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A| —
    so joining only A's prefix against the FULL inverted index loses no
    pair. Only the containee side is pruned (the container must expose
    every shingle — containment puts no ceiling on |B|), hence
    "one-sided": candidate volume is O(Σ|prefix_A| · df(shingle)) with
    the prefix built from the RAREST shingles, so corpus-hot shingles
    never enter the join. Verification is exact per-row
    ``array_intersect`` — two equi-joins, O(|candidates| · avg |set|).

    Same frequency-skew caveat as ``jaccard_pairs_prefix``: on a
    small-vocabulary synthetic corpus the prefix prunes poorly; on
    heavy-tailed real text (the 100 TB case) the prefix is a handful of
    near-unique shingles per doc and the join touches almost nothing.

    ``materialize`` (default) localCheckpoints the shingle-set relation
    — it feeds four consumers here (exploded index, frequency table,
    and both verify lookups), same rationale and caveat as
    ``jaccard_pairs_prefix``. ``hashed`` (default) runs the whole
    pipeline on 60-bit shingle hashes instead of strings
    (`hashed_shingle_sets`): the candidate join and verify carry
    fixed-width longs, measured ~2× wall and far lower GC pressure at
    the 100× probe tier; counts are unchanged up to ~n²/2^61 collision
    probability, and the oracle applies the identical hash.
    """
    from pyspark.sql import Window

    mk_sets = hashed_shingle_sets if hashed else shingle_sets
    sets = mk_sets(df, text_col, id_col, n)
    if materialize:
        sets = sets.localCheckpoint()
    ex = sets.select(
        F.col(id_col),
        F.size("shingles").alias("sz"),
        F.explode("shingles").alias("shingle"),
    )
    freq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("shingle_df"))
    w = Window.partitionBy(id_col).orderBy("shingle_df", "shingle")
    prefix = (
        # freq is hinted out of broadcast: the distinct-shingle count
        # GROWS with the corpus (2.7M rows / ~45 MB at the 100x probe
        # tier, billions at 100 TB), and the static planner's broadcast
        # pick both dies under driver memory pressure locally and is
        # the wrong plan at scale. Unlike the ARRAY-payload set joins
        # (merge-hinted — their hash build walled at the 1000x tier),
        # freq rows are two scalars, so the hash build stays bounded
        # for decades of growth provided shuffle partitions are sized
        # with the corpus; revisit if vocab per partition nears memory
        ex.join(freq.hint("shuffle_hash"), "shingle")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= _prefix_pos_bound(F.col("sz"), threshold))
        .select(
            F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), "shingle"
        )
    )
    full = ex.select(
        F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), "shingle"
    )
    cand = (
        prefix.join(
            full,
            (prefix["shingle"] == full["shingle"])
            & (F.col("id_a") != F.col("id_b"))
            # division form — float-safe vs the verify (see above)
            & (F.col("sz_b") / F.col("sz_a") >= F.lit(threshold)),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return containment_verify_sets(sets, cand, threshold=threshold, id_col=id_col)


def containment_verify_sets(
    sets: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact containment for DIRECTED candidate pairs: two lookups of
    the set relation bring both shingle sets onto the candidate row;
    containment = |A∩B| / |A| via per-row ``array_intersect`` — cost
    independent of shingle document frequency (same verify shape as
    ``jaccard_verify_sets``, including the MERGE hint keeping the
    array-payload sides out of AQE broadcast while staying spill-safe
    at the 1000x tier where a hash build walls)."""
    a = sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(a.hint("merge"), "id_a")
        .join(b.hint("merge"), "id_b")
        .withColumn(
            "n_common", F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        )
        .withColumn("containment", F.col("n_common") / F.size("sh_a"))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_common", "containment")
    )


def simhash16(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """16-bit simhash over the doc's DISTINCT words.

    Bit i of the signature is the sign of the sum over words of the
    (+1/−1) vote derived from bit i of md5(word). Ties (sum == 0) → 0.

    Pure projection: the distinct-word set and its md5s stay inside the
    row (array_distinct + transform), bit votes are ONE per-row
    ``aggregate`` fold with an array<long>(16) accumulator — zero
    shuffles, one md5 per word, one traversal of the word array. The
    earlier 16-separate-folds formulation walked the hash array 16
    times (once per bit) for the same values and measured 5.8× slower
    at sf0.1; the exploded formulation would shuffle a words×
    amplified relation twice.
    """
    # words projected to a column before the transform: higher-order
    # lambdas re-evaluate inline outer expressions per element
    hashes = (
        fan_out(df)
        .select(F.col(id_col), hashing.words(text_col).alias("_words"))
        .select(
            F.col(id_col),
            F.array_distinct(
                F.filter(F.col("_words"), lambda x: x != F.lit(""))
            ).alias("_dw"),
        )
        .select(F.col(id_col), F.transform("_dw", F.md5).alias("_h"))
        .filter(F.size("_h") > 0)
    )

    def _contribs16(h):
        # all 16 ±1 votes from one digest: 4 hex nibbles (chars 1..4),
        # 4 bits each, ordered bit0..bit15 to match
        # hashing.simhash_bit_contrib_from_md5(h, i) at every i
        return F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.lit(4)),
                lambda nib_i: F.transform(
                    F.sequence(F.lit(0), F.lit(3)),
                    lambda bit: (
                        (
                            F.floor(
                                (
                                    F.instr(
                                        F.lit("0123456789abcdef"),
                                        F.substring(h, nib_i, 1),
                                    )
                                    - 1
                                )
                                / F.pow(F.lit(2.0), bit.cast("double"))
                            ).cast("long")
                            % 2
                        )
                        * 2
                        - 1
                    ).cast("long"),
                ),
            )
        )

    votes = F.aggregate(
        "_h",
        F.array_repeat(F.lit(0).cast("long"), 16),
        lambda acc, h: F.zip_with(acc, _contribs16(h), lambda a, c: a + c),
    )
    v = hashes.select(F.col(id_col), votes.alias("_v"))
    sig = None
    for i in range(16):
        bit = F.when(F.element_at("_v", i + 1) > 0, F.lit(2**i)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return v.select(F.col(id_col), sig.cast("long").alias("simhash"))


def contamination_rates(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: for every training doc, the
    fraction of its n-gram shingle set that appears anywhere in the
    benchmark corpus.

    The standard pre-training hygiene step (the reference has no text
    dedup at all — its text surface is summarization only,
    iqplus_market_transform.py:28-89 — so this is part of the
    LLM-pipeline extension surface).

    Scale shape: the benchmark side is aggregated to ONE row holding
    its distinct shingle vocabulary (array<string>), broadcast cross-
    joined against the narrow per-doc shingle sets, and scored with
    ``array_intersect`` — the whole operator is map-only over the
    training corpus, no explode and no shuffle of the amplified
    (id, shingle) relation. This holds as long as the benchmark
    vocabulary fits in one task (benchmarks are ~10^3-10^6 items even
    when the training side is 100 TB); if it ever doesn't, fall back to
    exploded shingles broadcast-hash-joined against the benchmark
    vocabulary and re-grouped by id.
    """
    bench_vocab = (
        shingle_sets(benchmark, text_col, id_col, n)
        .select(F.explode("shingles").alias("shingle"))
        .agg(F.collect_set("shingle").alias("_bench"))
    )
    sets = shingle_sets(train, text_col, id_col, n)
    return (
        sets.join(F.broadcast(bench_vocab))
        .select(
            F.col(id_col),
            F.size("shingles").cast("long").alias("n_shingles"),
            F.size(F.array_intersect("shingles", "_bench"))
            .cast("long")
            .alias("n_contaminated"),
        )
        .withColumn(
            "contamination_rate", F.col("n_contaminated") / F.col("n_shingles")
        )
    )


def incremental_new_docs(
    batch: DataFrame,
    seen_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingest dedup: keep only batch docs whose normalized
    fingerprint is NOT already in the seen-corpus fingerprint set, then
    dedup within the batch itself (min id per fingerprint).

    The shape every continuously-ingesting corpus needs: the historical
    corpus is represented ONLY by its fingerprint column (16-byte md5
    per doc — ~2 TB of state for 100 TB of text, joinable), never
    rescanned. One left-anti equi-join on the fingerprint + one
    fp-partitioned window for the intra-batch keep-min; both shuffle
    the (fingerprint, id) pairs only, and both hash on the SAME key,
    so the window reuses the anti-join's partitioning. The earlier
    groupBy-then-semi-join formulation re-consumed the anti-join
    output twice, which recomputed the STATE scan/join 3× per batch —
    at a 2 TB state that triples the dominant per-batch cost.
    ``seen_fingerprints`` must have a ``fp`` column (build it with
    ``fingerprint_groups(...).select(col("fp"))``); fold accepted
    batches back in with ``merge_fingerprint_state``.
    """
    from pyspark.sql import Window

    b = batch.withColumn("fp", F.md5(normalized(text_col)))
    fresh = b.join(seen_fingerprints.select("fp"), "fp", "left_anti")
    w = Window.partitionBy("fp").orderBy(id_col)
    return (
        fresh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "fp")
    )


def merge_fingerprint_state(
    seen_fingerprints: DataFrame,
    accepted: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """State-merge half of the incremental exact-dedup loop: fold a
    batch's ACCEPTED docs into the fingerprint state, producing the
    state the NEXT batch is gated against (state₁ = state₀ ⊎
    fp(accepted)).

    APPEND-ONLY by design — no distinct, no reshuffle: the output of
    `incremental_new_docs` is already disjoint from the seen set (the
    anti-join) and fp-unique within the batch (the min-id keep), so a
    union suffices, and at 100 TB that matters: the state is a ~2 TB
    fingerprint table that gets a batch-sized parquet APPEND per
    ingest, never a state-sized rewrite. Per-batch cost is independent
    of state size."""
    return seen_fingerprints.select("fp").unionByName(
        accepted.select(F.md5(normalized(text_col)).alias("fp"))
    )


def _span_tokens(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, _w: array<string>) token arrays for the span-dedup family:
    normalized (case-folded, whitespace-collapsed) whitespace tokens,
    docs shorter than k tokens dropped (they can hold no k-token span).
    fan_out first — the per-position gram hashing downstream is the
    compute-dense part (same rationale as shingle_sets)."""
    return (
        fan_out(df)
        .filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col),
            F.split(normalized(text_col), " ").alias("_w"),
        )
        .filter(F.size("_w") >= k)
    )


def repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    keep: str = "none",
    materialize: bool = True,
    hot_grams: int = 1024,
) -> DataFrame:
    """Cross-document repeated-span identification — the ExactSubstr
    operation of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (the dedupe-any-repeated-k-token-span pass
    every LLM corpus pipeline runs): find every maximal token span
    that appears verbatim in ≥2 DISTINCT documents and emit the
    removal list (doc_id, span_start, span_len), token positions
    1-based, overlapping/adjacent duplicated k-grams merged into
    maximal spans per doc.

    `keep` picks the policy: "none" (default) lists every occurrence —
    full excision, the boilerplate-removal mode; "first" exempts each
    duplicated gram's occurrence in its LOWEST-id document — the
    keep-one-copy mode Lee et al. apply to training corpora (content
    survives once, position-level: a doc can be canonical for one gram
    and excised for another).

    Plan, bucketed end-to-end (never all-pairs):
    1. Map-only k-gram HASHING (xxhash64 of each k-token window) +
       posexplode → (doc, pos, gram-hash) — the only corpus-sized
       relation, carrying 8-byte hashes, not text. xxhash64, NOT the
       portable md5-based hash60: the prune hash never reaches the
       output or the oracle (step 3 re-verifies on gram TEXT), so the
       one stage that touches every gram can use the cheap JVM-native
       hash — the md5 formulation spent most of its 100×-probe wall
       here.
    2. Hot hashes: ONE hash-shuffle groupBy(gram_hash) keeping hashes
       seen in ≥2 distinct docs (min(doc)≠max(doc)) — Lee et al.'s
       suffix-array dup-range scan re-expressed as the scalable
       group-by; a hash collision can only ADD candidates here,
       never drop a true repeat (same text ⇒ same hash), so step 3
       makes the result EXACT, not probabilistic.
    3. Verify: candidates (semi-join on gram-hash) re-derive their
       gram by slicing the token array and fingerprint it with the
       INDEPENDENT portable 60-bit md5 hash (`hashing.hash60`) — the
       verify relation carries 8-byte longs, not k-token strings (the
       string formulation's verify shuffle + localCheckpoint was the
       single-box heap ceiling of the 1000× probe: 96 GB driver heap,
       SCALE.md). A false span now needs the same pair of DISTINCT
       grams to collide under BOTH xxhash64 AND md5-60 — independent
       hash families, ≈2^-124 per gram pair, ≲1e-20 expected false
       spans even at 100 TB gram counts — and the DuckDB oracle
       applies the IDENTICAL md5-60 fingerprint in its verify
       grouping, so outputs stay bit-identical by construction (any
       collision is reproduced, not diverged from). The token-array
       rejoin carries an array payload, so it pins MERGE (AQE
       broadcast of the arrays died at the 100× tier; a hash build
       cannot spill and walled at the 1000× tier — sort-merge is safe
       on both counts).
    4. Islands: per-doc gaps-and-islands window merge of overlapping
       k-gram positions into maximal spans — state is one cumulative
       max per doc partition.

    ``hot_grams``: the two joins keyed on gram identity (the candidate
    semi-join on gram HASH and the verified-gram join on gram TEXT)
    are the skew hot spots — a boilerplate gram appearing in most
    documents sends its ENTIRE occurrence list to one reducer (the
    26.6×-at-100× concentration measured on the boilerplate probe
    corpus; the hot-gram groupBys are immune — min/max partial-
    aggregate map-side). Mitigation is a HOT/COLD split, not salting:
    the top `hot_grams` duplicated keys by occurrence count (a bounded
    TopK — deterministic, count then key tiebreak) join via BROADCAST
    semi/inner joins (map-only over the checkpointed occurrence
    relation: no shuffle, so a hot key cannot concentrate anywhere),
    and the remaining cold keys keep the plain shuffle join — which
    REUSES the exchange of the hot-detection groupBy (both shuffle on
    the bare key). Salting was measured first and rejected: salting
    the join key to (key, salt) breaks that exchange reuse and forces
    two extra corpus-sized shuffles — the main-corpus 100× probe went
    11.6 s → 104.6 s (9×) under it, while the hot/cold split leaves
    the cold path's plan bit-identical to the unmitigated one.
    Results are identical by construction (the hot and cold key sets
    partition the duplicated-key set, so the union of the two legs'
    memberships is exactly the unsplit membership); 0 disables.

    The DuckDB oracle has no xxhash64 stage — the PRUNE is proven
    invisible (a pure optimization) — and groups its verify on the
    same md5-60 fingerprint this plan uses, so the gram-identity
    representation is identical on both sides.

    ``materialize`` (default) localCheckpoints the two reused
    relations — the token arrays (consumed by the gram leg AND the
    verify rejoin: without it the whole corpus is normalized+split
    twice) and the hashed gram relation (consumed by the hot-hash
    groupBy AND the candidate semi-join: without it every gram is
    xxhash64'd twice) — the same single-shingling policy as
    `jaccard_pairs_prefix`. On a multi-node cluster swap for
    persist(DISK_ONLY) or a reliable checkpoint (localCheckpoint dies
    with its executor)."""
    if keep not in ("none", "first"):
        raise ValueError(f"unknown keep policy: {keep!r}")
    toks = _span_tokens(df, text_col, id_col, k)
    if materialize:
        toks = toks.localCheckpoint()
    grams = toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("_w") - (k - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("_w", i, k))),
            )
        ).alias("_p0", "_gh"),
    ).select(F.col(id_col), (F.col("_p0") + 1).alias("pos"), "_gh")
    if materialize:
        grams = grams.localCheckpoint()
    hot = (
        grams.groupBy("_gh")
        .agg(
            F.min(id_col).alias("_lo"),
            F.max(id_col).alias("_hi"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_lo") != F.col("_hi"))
        .select("_gh", "_n")
    )
    cand = hot_split_semi_join(grams, hot, "_gh", "_n", hot_grams).select(
        id_col, "pos"
    )
    ctext = cand.join(toks.hint("merge"), id_col).select(
        F.col(id_col),
        F.col("pos"),
        hashing.hash60(
            F.concat_ws(" ", F.slice("_w", F.col("pos"), k))
        ).alias("_gt"),
    )
    if materialize:
        # consumed three ways (the verify groupBy + both split-join
        # legs); without this the candidate-join lineage re-executes
        # for the broadcast leg. 8-byte fingerprints, not gram strings
        # — this block store was the 1000×-probe heap ceiling
        ctext = ctext.localCheckpoint()
    vg = (
        ctext.groupBy("_gt")
        .agg(
            F.min(id_col).alias("_lo"),
            F.max(id_col).alias("_hi"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_lo") != F.col("_hi"))
    )
    if keep == "none":
        dup = hot_split_semi_join(
            ctext, vg.select("_gt", "_n"), "_gt", "_n", hot_grams
        ).select(id_col, "pos")
    else:
        dup = (
            hot_split_inner_join(
                ctext, vg.select("_gt", "_lo", "_n"), "_gt", "_n", hot_grams
            )
            .filter(F.col(id_col) != F.col("_lo"))
            .select(id_col, "pos")
        )

    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        F.col("pos") > F.coalesce(prev_end, F.lit(-1)), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        dup.withColumn("_brk", brk)
        .withColumn("_island", F.sum("_brk").over(w))
        .groupBy(id_col, "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k - F.min("pos")).cast("long").alias("span_len"),
        )
        .select(id_col, "span_start", "span_len")
    )


def excise_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    keep: str = "none",
    materialize: bool = True,
    hot_grams: int = 1024,
) -> DataFrame:
    """Apply the `repeated_spans` removal list: duplicated span
    occurrences are cut and the surviving tokens re-joined
    (normalized-token space, single spaces). `keep="none"` removes
    every occurrence (boilerplate removal); `keep="first"` leaves the
    lowest-id document's copy intact (Lee et al.'s keep-one training
    dedup). Docs with no removed span pass through with only
    normalization; a doc excised to nothing yields ''.

    Plan: the span list aggregates to one array per affected doc
    (collect_list — bounded by the doc's own span count), joins back
    to the corpus on doc id, and the cut is an in-row token filter —
    no exploded token shuffle.

    Unlike the span FINDER (which may drop sub-k docs — they can hold
    no span), the excision must return EVERY input row: a cleaning
    operator that silently loses empty/whitespace-only docs would
    shrink downstream corpus counts. Empty docs come back as ''."""
    return apply_span_removal(
        df,
        repeated_spans(df, text_col, id_col, k, keep, materialize, hot_grams),
        text_col,
        id_col,
    )


def apply_span_removal(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply any (doc_id, span_start, span_len) removal list to a
    corpus: covered token positions are cut and survivors re-joined
    (normalized-token space, single spaces) — the shared applier behind
    `excise_repeated_spans` and the benchmark-decontamination excision.
    Returns EVERY input row (empty docs as '').

    Plan: the span list aggregates to one array per affected doc
    (collect_list — bounded by the doc's own span count), joins back
    to the corpus on doc id, and the cut is an in-row token filter —
    no exploded token shuffle."""
    spans_by_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_len")).alias("_spans")
    )
    toks = fan_out(df).select(
        F.col(id_col), F.split(normalized(text_col), " ").alias("_w")
    )
    kept = F.filter(
        F.transform(
            F.col("_w"),
            lambda t, i: F.struct(
                t.alias("t"), (i + 1).cast("long").alias("p")
            ),
        ),
        lambda s: ~F.exists(
            F.col("_spans"),
            lambda sp: (s["p"] >= sp["span_start"])
            & (s["p"] < sp["span_start"] + sp["span_len"]),
        ),
    )
    return toks.join(spans_by_doc, id_col, "left").select(
        F.col(id_col),
        F.when(
            F.col("_spans").isNull(), F.concat_ws(" ", F.col("_w"))
        )
        .otherwise(
            F.concat_ws(" ", F.transform(kept, lambda s: s["t"]))
        )
        .alias("clean_text"),
    )


def incremental_near_dup(
    batch_sets: DataFrame,
    seen_sets: DataFrame,
    threshold: float = 0.5,
    k: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
    seen_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental NEAR-dup detection: which docs of a new ingest batch
    are near-duplicates (Jaccard ≥ threshold) of the already-ingested
    corpus — the fuzzy sibling of `incremental_new_docs`, which only
    catches byte-identical re-ingests. Every continuously-crawled
    corpus needs both: the same article re-crawled with a new timestamp
    or boilerplate is a NEAR dup of something already stored.

    Output: (new_id, seen_id, n_common, jaccard), one row per detected
    (batch doc, seen doc) near-dup relation. Filtering the batch is
    then a left-anti join on new_id.

    Scale shape — all work is BATCH-sized, never corpus-sized:
    1. The seen corpus is represented by two persistable state
       relations, never rescanned: its LSH band keys
       (`lsh_band_keys` — bands short strings per doc) and its shingle
       sets (for the exact verify; with `hashed_shingle_sets`, ~8
       bytes per distinct shingle). Pass `seen_bands` from the
       persisted state; it is derived from `seen_sets` only as a
       convenience when omitted.
    2. Candidates: the batch's band keys equi-join the seen band state
       — the bucket join touches only buckets the batch hashes into.
    3. Verify: exact Jaccard via two set lookups (MERGE-hinted —
       array payloads must never ride an AQE broadcast, and a hash
       build cannot spill at corpus scale), semi-joined down to
       candidate rows first, so only candidate seen-docs' sets are
       ever materialized.

    Batch-vs-batch duplicates are deliberately out of scope here (run
    `lsh_candidate_pairs` + verify within the batch for that; the
    composition mirrors `incremental_new_docs`' two-phase contract).

    The k/bands banding trade this gate inherits is MEASURED, not
    asserted: `lsh_candidate_recall` (registered as `dedup_lsh_recall`)
    reports candidate recall against exact Jaccard ground truth per
    threshold on the actual corpus. Fold accepted batches back into
    (seen_bands, seen_sets) with `merge_near_dup_state`.
    """
    if seen_bands is None:
        seen_bands = lsh_band_keys(
            minhash_signatures_from_sets(seen_sets, k, id_col), k, bands, id_col
        )
    new_bands = lsh_band_keys(
        minhash_signatures_from_sets(batch_sets, k, id_col), k, bands, id_col
    )
    cand = (
        new_bands.alias("n")
        .join(
            seen_bands.alias("s"),
            (F.col("n.band_id") == F.col("s.band_id"))
            & (F.col("n.key") == F.col("s.key")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"s.{id_col}").alias("seen_id"),
        )
        .distinct()
    )
    a = batch_sets.select(
        F.col(id_col).alias("new_id"), F.col("shingles").alias("sh_a")
    )
    b = seen_sets.select(
        F.col(id_col).alias("seen_id"), F.col("shingles").alias("sh_b")
    )
    return (
        cand.join(a.hint("merge"), "new_id")
        .join(b.hint("merge"), "seen_id")
        .withColumn(
            "n_common", F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "seen_id", "n_common", "jaccard")
    )


def merge_near_dup_state(
    seen_bands: DataFrame,
    seen_sets: DataFrame,
    accepted_sets: DataFrame,
    k: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """State-merge half of the incremental NEAR-dup loop: fold the
    ACCEPTED batch docs' shingle sets into the two persistable state
    relations `incremental_near_dup` gates against, returning
    (bands₁, sets₁) = (bands₀ ⊎ bands(accepted), sets₀ ⊎ accepted).

    APPEND-ONLY: the accepted docs' band keys are re-derived map-only
    from their (batch-sized) shingle sets — the same k/bands scheme as
    the check, so a doc accepted now is findable by every later batch
    — and both states grow by a union, never a reshuffle. At scale
    each is a parquet APPEND (band state partitioned by band_id/key
    bucket, set state by id), so per-batch merge cost is batch-sized
    and independent of how much corpus the state already covers."""
    new_bands = lsh_band_keys(
        minhash_signatures_from_sets(accepted_sets, k, id_col),
        k,
        bands,
        id_col,
    )
    return (
        seen_bands.unionByName(new_bands),
        seen_sets.unionByName(accepted_sets),
    )


def benchmark_span_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    materialize: bool = True,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Span-level benchmark DECONTAMINATION: every maximal token span
    of a training document that appears verbatim anywhere in the
    benchmark/eval corpus, as a (doc_id, span_start, span_len) removal
    list — the GPT-3/Lee-et-al. decontamination pass, at span rather
    than whole-doc granularity (`text_analysis.contamination_rates`
    flags documents by overlap RATE; this pinpoints the overlapping
    text itself so the doc can be kept with the leak excised).

    The bipartite form of `repeated_spans`, same bucketed shape: both
    sides k-gram-hash map-only (xxhash64 prune — never reaches the
    output), candidates = doc grams semi-joined against the DISTINCT
    benchmark hash set (benchmark side is typically tiny —
    broadcastable), survivors re-derive their gram on both sides and
    verify by matching the INDEPENDENT portable md5-60 fingerprint
    (`hashing.hash60` — 8-byte longs through the verify join instead
    of k-token strings; see `repeated_spans` step 3 for the joint-
    collision bound and the oracle's identical fingerprint), then the
    per-doc island merge. Benchmark positions are never emitted —
    only the training corpus is being cleaned.

    ``materialize`` (default) localCheckpoints every reused relation:
    both token-array sides (each feeds its gram leg AND its text
    rejoin), the benchmark gram relation (feeds the distinct-hash
    filter AND the benchmark candidate leg), and the corpus gram
    relation gd (feeds the candidate semi-join AND the benchmark-side
    distinct-hash filter — without it the whole corpus is gram-hashed
    twice, the repeated-lineage trap this family pays at the 100×
    probe tier). Cluster note as in `repeated_spans`."""
    toks_d = _span_tokens(docs, text_col, id_col, k)
    toks_b = _span_tokens(benchmark, text_col, id_col, k)
    if materialize:
        toks_d = toks_d.localCheckpoint()
        toks_b = toks_b.localCheckpoint()

    def grams_of(toks):
        return toks.select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_w") - (k - 1)),
                    lambda i: F.xxhash64(
                        F.concat_ws(" ", F.slice("_w", i, k))
                    ),
                )
            ).alias("_p0", "_gh"),
        ).select(F.col(id_col), (F.col("_p0") + 1).alias("pos"), "_gh")

    gd = grams_of(toks_d)
    gb = grams_of(toks_b)
    if materialize:
        gd = gd.localCheckpoint()
        gb = gb.localCheckpoint()
    # `broadcast_benchmark` (default): both corpus-side gram joins pin
    # a broadcast of the (distinct, benchmark-derived, small-by-
    # definition) key set, making them MAP-ONLY — a boilerplate gram
    # shared with the benchmark can never concentrate its occurrence
    # list in one reducer because nothing shuffles by gram. Disable
    # only for a benchmark too large to broadcast (then the shuffle
    # join applies and AQE skew handling is the fallback).
    def _bc(rel: DataFrame) -> DataFrame:
        return F.broadcast(rel) if broadcast_benchmark else rel

    gb_hashes = gb.select("_gh").distinct()
    cand = gd.join(_bc(gb_hashes), "_gh", "left_semi").select(id_col, "pos")
    ctext = cand.join(toks_d.hint("merge"), id_col).select(
        F.col(id_col),
        F.col("pos"),
        hashing.hash60(
            F.concat_ws(" ", F.slice("_w", F.col("pos"), k))
        ).alias("_gt"),
    )
    bench_cand = gb.join(gd.select("_gh").distinct(), "_gh", "left_semi")
    btext = (
        bench_cand.join(toks_b.hint("merge"), id_col)
        .select(
            hashing.hash60(
                F.concat_ws(" ", F.slice("_w", F.col("pos"), k))
            ).alias("_gt")
        )
        .distinct()
    )
    dup = ctext.join(_bc(btext), "_gt", "left_semi").select(id_col, "pos")

    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        F.col("pos") > F.coalesce(prev_end, F.lit(-1)), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        dup.withColumn("_brk", brk)
        .withColumn("_island", F.sum("_brk").over(w))
        .groupBy(id_col, "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k - F.min("pos")).cast("long").alias("span_len"),
        )
        .select(id_col, "span_start", "span_len")
    )


# ---------------------------------------------------------------------------
# blocked Bloom prefilter for the incremental exact-dedup gate
# ---------------------------------------------------------------------------

BLOOM_WORD_BITS = 63  # bits per block word; 63 keeps every mask a
# non-negative BIGINT so Spark and DuckDB agree without sign games


def _bloom_block_mask(
    key: Column, n_blocks: int, g: int
) -> tuple[Column, Column]:
    """(block_id, g-bit mask) for one key under the blocked-Bloom
    scheme (Putze et al.: all of a key's bits land in ONE word, so a
    membership probe touches one row). md5-seeded hashes keep every
    bit position reproducible in the DuckDB oracle."""
    import functools

    block = (
        hashing.hash60(F.concat(F.lit("blk:"), key)) % n_blocks
    ).cast("long")
    # F.shiftleft only takes a literal shift; the SQL function accepts
    # a column for it
    bits = [
        F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            (
                hashing.hash60(F.concat(F.lit(f"bit{i}:"), key))
                % BLOOM_WORD_BITS
            ).cast("int"),
        )
        for i in range(g)
    ]
    mask = functools.reduce(lambda a, b: a.bitwiseOR(b), bits)
    return block, mask


def bloom_state(
    seen_fingerprints: DataFrame,
    n_blocks: int = 4096,
    g: int = 3,
    key_col: str = "fp",
) -> DataFrame:
    """Build the blocked-Bloom state table over a fingerprint relation:
    `n_blocks` rows of (block_id, word) where word = bit_or of every
    member key's g-bit mask. 8 bytes/block — a 2 TB / ~10¹⁰-key state
    at 10 bits/key is a ~12 GB bloom table, which shards by block
    range if a single broadcast is too big; at the 10⁸-10⁹-key tier it
    broadcasts whole. The table is a MERGEABLE sketch: bit_or of two
    blooms with the same (n_blocks, g) is exactly the bloom of the
    union (`merge_bloom_state`), so it rides the same append-only
    ingest loop as the fingerprint state itself."""
    block, mask = _bloom_block_mask(F.col(key_col), n_blocks, g)
    return (
        seen_fingerprints.select(
            block.alias("block_id"), mask.alias("mask")
        )
        .groupBy("block_id")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )


def merge_bloom_state(bloom_a: DataFrame, bloom_b: DataFrame) -> DataFrame:
    """bloom(A) ⊔ bloom(B) = bloom(A ∪ B): union the block tables and
    bit_or colliding words. Per-merge cost is bounded by n_blocks, not
    by state size — the bloom twin of `merge_fingerprint_state`."""
    return (
        bloom_a.unionByName(bloom_b)
        .groupBy("block_id")
        .agg(F.expr("bit_or(word)").alias("word"))
    )


def route_batch_bloom(
    batch: DataFrame,
    bloom: DataFrame,
    seen_fingerprints: DataFrame,
    n_blocks: int = 4096,
    g: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Route each batch doc through the bloom prefilter:

    - ``bloom_fresh``   — bloom miss: DEFINITELY not in the seen state
      (no false negatives), accepted without ever joining the state;
    - ``verified_fresh``— bloom hit but the exact fingerprint anti-join
      clears it (a bloom false positive);
    - ``dup``           — bloom hit confirmed by the state.

    The point at 100 TB: the exact gate's anti-join must shuffle the
    batch against a ~2 TB fingerprint state; the bloom probe is a
    broadcast-join against the n_blocks-row word table, so only the
    bloom-HIT slice (true dups + the (1-e^{-gn/m})^g false-positive
    residue) reaches the state join. For a mostly-fresh crawl batch
    that cuts the state-join input by 10-100×. `bloom_fresh ∪
    verified_fresh` is exactly `incremental_new_docs`' fresh set
    before intra-batch keep-min (pinned by unit test)."""
    b = batch.withColumn("fp", F.md5(normalized(text_col)))
    block, mask = _bloom_block_mask(F.col("fp"), n_blocks, g)
    b = b.withColumn("block_id", block).withColumn("mask", mask)
    probed = b.join(F.broadcast(bloom), "block_id", "left")
    hit = F.col("word").isNotNull() & (
        F.col("word").bitwiseAND(F.col("mask")) == F.col("mask")
    )
    probed = probed.withColumn("_hit", hit)
    dup_ids = (
        probed.filter(F.col("_hit"))
        .join(seen_fingerprints.select("fp"), "fp", "left_semi")
        .select(id_col)
        .withColumn("_dup", F.lit(True))
    )
    return (
        probed.join(dup_ids, id_col, "left")
        .select(
            id_col,
            F.when(~F.col("_hit"), F.lit("bloom_fresh"))
            .when(F.col("_dup").isNotNull(), F.lit("dup"))
            .otherwise(F.lit("verified_fresh"))
            .alias("route"),
        )
    )
