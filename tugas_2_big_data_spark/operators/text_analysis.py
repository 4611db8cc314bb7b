"""Text-analysis operators for training-data pipelines (extension
surface; the reference's only text processing is the IQPLUS
summarization, SURVEY.md §2.10 — these are the corpus-hygiene ops a
100 TB pipeline needs).

All pure built-in expressions (regexp/split/aggregate) — JVM codegen,
no UDFs, map-only except lang-id's small broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tugas_2_big_data_spark.functions import hashing
from tugas_2_big_data_spark.operators.partitioning import fan_out

# tiny per-language stopword lists for the voting heuristic; order and
# contents are part of the spec (the oracle embeds the same lists)
STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "en": ["the", "a", "of", "and", "is", "in", "to", "it"],
    "es": ["el", "la", "de", "y", "es", "en", "un", "que"],
    "fr": ["le", "la", "de", "et", "est", "en", "un", "que"],
    "id": ["yang", "dan", "di", "ini", "itu", "dengan", "untuk", "tidak"],
}

# word-ish tokens OR single punctuation — a BPE-ish segmentation whose
# count approximates subword token counts without a model
BPE_ISH_PATTERN = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def ws_token_count(text_col: str = "text") -> F.Column:
    """Whitespace-token count expression (0 for empty/blank text)."""
    t = F.trim(F.col(text_col))
    return (
        F.when(F.length(t) == 0, F.lit(0))
        .otherwise(F.size(F.split(t, r"\s+")))
        .cast("long")
    )


def bpe_token_count(text_col: str = "text") -> F.Column:
    """BPE-ish token count expression."""
    t = F.trim(F.col(text_col))
    return F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_PATTERN), 0)).cast(
        "long"
    )


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens, BPE-ish tokens, chars, avg token length."""
    t = F.trim(F.col(text_col))
    ws_tokens = ws_token_count(text_col)
    no_space = F.regexp_replace(t, r"\s+", "")
    return df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("n_chars"),
        ws_tokens.alias("n_tokens_ws"),
        bpe_token_count(text_col).alias("n_tokens_bpe"),
        (F.length(no_space) / F.nullif(ws_tokens, F.lit(0))).alias("avg_token_len"),
    )


def quality_exprs(text_col: str = "text") -> dict[str, F.Column]:
    """Quality-signal expressions keyed by output column name — the
    single source of truth shared by `quality_scores` and the map-only
    pipeline composition (pipelines/corpus.py), which inlines these
    instead of joining a scored relation back by id."""
    t = F.trim(F.col(text_col))
    n = F.nullif(F.length(t).cast("double"), F.lit(0.0))
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    digits = F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    uppers = F.length(t) - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    words_arr = F.split(F.lower(t), r"\s+")
    en_stop = F.array([F.lit(w) for w in STOPWORDS["en"]])
    n_words = F.nullif(F.size(words_arr).cast("double"), F.lit(0.0))
    stop_hits = F.size(F.filter(words_arr, lambda w: F.array_contains(en_stop, w)))
    punct_ratio = punct / n
    digit_ratio = digits / n
    upper_ratio = uppers / n
    stop_ratio = stop_hits / n_words
    score = (
        F.lit(1.0)
        - F.least(F.lit(1.0), punct_ratio * 4)
        - F.least(F.lit(0.5), digit_ratio * 2)
    ) * (F.lit(0.5) + F.least(F.lit(0.5), stop_ratio))
    return {
        "punct_ratio": punct_ratio,
        "digit_ratio": digit_ratio,
        "upper_ratio": upper_ratio,
        "stopword_ratio": stop_ratio,
        "quality_score": score,
    }


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality signals: punctuation / digit / uppercase /
    stopword ratios and a composite score in [0, 1]."""
    exprs = quality_exprs(text_col)
    return df.select(
        F.col(id_col), *(c.alias(name) for name, c in exprs.items())
    )


def char_entropy(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Shannon entropy (bits/char) of each document's character
    distribution — the classic gibberish/boilerplate screen (Gopher-
    style quality rules): near-zero entropy = one repeated character,
    very high = random noise; natural language sits in a narrow band.

    MAP-ONLY in-row computation, ONE pass over the sorted chars:
    sort the char array once (O(len log len)), then read per-symbol
    counts as differences of run BOUNDARIES (positions where the
    sorted array changes symbol) instead of re-filtering the whole
    array per distinct symbol — the previous O(|alphabet|·len) form
    was the 2nd-slowest bench query for this avoidable reason
    (4.2 s → ~1 s at sf0.1). Boundaries ascend in sorted-symbol
    order, so the -Σ p·log2 p fold visits the exact same p values in
    the exact same order as the alphabet-ordered form — the
    floating-point sum is bit-identical on both engines. Empty docs
    yield NULL.
    """
    t = F.trim(F.col(text_col))
    # 1-based positions of the LAST occurrence of each distinct symbol
    # in the sorted char array (each intermediate is PROJECTED as a
    # column before reuse — referencing it twice inside a HOF would
    # re-evaluate the whole sort per reference, SCALE.md pitfall 1)
    bounds = F.filter(
        F.sequence(F.lit(1), F.size("_srt")),
        lambda i: (i == F.size("_srt"))
        | (F.get("_srt", i - 1) != F.get("_srt", i)),
    )
    counts = F.transform(
        F.col("_bounds"),
        lambda b, j: (
            b - F.coalesce(F.get("_bounds", j - 1), F.lit(0))
        ).cast("double"),
    )
    entropy = F.round(
        F.aggregate(
            F.transform(counts, lambda c: c / F.col("_n")),
            F.lit(0.0),
            lambda acc, p: acc - p * F.log2(p),
        ),
        9,
    )
    return (
        # length guard BEFORE building the boundary sequence: Spark's
        # sequence(1, 0) steps DOWNWARD ([1, 0]), it is not empty.
        # fan_out: the sort+fold projection is compute-dense and the
        # documents table is few-splits at small sf (parallelism floor)
        fan_out(df.filter(F.length(t) > 0))
        .select(F.col(id_col), t.alias("_t"))
        .select(
            F.col(id_col),
            F.length("_t").cast("double").alias("_n"),
            # split("") yields the char array directly (no per-index
            # substr HOF); sorting the integer CODE POINTS instead of
            # 1-char strings is the same order (binary string compare
            # = codepoint ascending) with far cheaper comparisons
            F.array_sort(
                F.transform(F.split("_t", ""), lambda c: F.ascii(c))
            ).alias("_srt"),
        )
        .select(F.col(id_col), F.col("_n"), bounds.alias("_bounds"))
        .select(F.col(id_col), entropy.alias("entropy_bits"))
    )


# Hand-set logistic weights for the quality classifier below. A real
# deployment would fit these offline (the model is linear — training
# does not belong in the scoring path); the ENGINE-side contract is
# only "dot product + sigmoid over cheap text features, map-only".
QUALITY_LOGREG = {
    "intercept": -0.5,
    "stopword_ratio": 3.0,
    "punct_ratio": -4.0,
    "digit_ratio": -2.0,
    "log1p_words": 0.15,
}


def quality_logreg(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Linear quality classifier: logit = w·features, prob = σ(logit).

    The fastText/DCLM-style curation primitive — a linear model over
    cheap per-doc text statistics deciding keep/drop — expressed
    entirely in built-in JVM expressions: regexp counts, one stopword
    membership fold, exp. MAP-ONLY, zero shuffles, no UDF; at 100 TB
    this runs at scan speed and the score feeds `weighted_keep` /
    `top_fraction_by_group` for the actual curation decision.

    Outputs are rounded to 9 decimals so the cross-engine value compare
    is stable; docs with no words yield NULL (ratio of NULLs), matching
    the SQL twin. Reference scope: generalizes the reference's absence
    of any quality gate (it ingests every row; SURVEY.md §2.10).
    """
    exprs = quality_exprs(text_col)
    t = F.trim(F.col(text_col))
    n_words = F.size(F.split(F.lower(t), r"\s+")).cast("double")
    z = (
        F.lit(QUALITY_LOGREG["intercept"])
        + F.lit(QUALITY_LOGREG["stopword_ratio"]) * exprs["stopword_ratio"]
        + F.lit(QUALITY_LOGREG["punct_ratio"]) * exprs["punct_ratio"]
        + F.lit(QUALITY_LOGREG["digit_ratio"]) * exprs["digit_ratio"]
        + F.lit(QUALITY_LOGREG["log1p_words"]) * F.log1p(n_words)
    )
    return df.select(
        F.col(id_col),
        F.round(z, 9).alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9).alias("prob"),
    )


def _contains(stop: F.Column):
    # closure factory: a bare 1-arg lambda in a loop both captures the
    # loop variable late AND risks the 2-param (element, index) dispatch
    # if ever given defaults (SCALE.md pitfall 2)
    return lambda w: F.array_contains(stop, w)


def lang_vote(words_col: F.Column) -> F.Column:
    """Stopword-vote winner as a struct column
    (neg_hits, lang, hits): `array_min` over per-language vote structs
    picks max hits with ties broken on language code ascending —
    identical semantics to `lang_id`'s join/window plan but as a pure
    per-row expression (no explode, no shuffle).

    `words_col` MUST be a projected column, not an inline `split`
    (SCALE.md pitfall 1: HOF lambdas re-evaluate inline outer
    expressions per element).
    """
    entries = []
    for lang, ws in sorted(STOPWORDS.items()):
        stop = F.array([F.lit(w) for w in ws])
        hits = F.size(F.filter(words_col, _contains(stop))).cast("long")
        entries.append(
            F.struct(
                (-hits).alias("neg_hits"),
                F.lit(lang).alias("lang"),
                hits.alias("hits"),
            )
        )
    return F.array_min(F.array(*entries))


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language ID: most stopword hits wins; ties break on
    language code ascending; zero hits everywhere → 'und' (undetermined).

    The stopword table is a broadcast dimension — at scale this is a
    map-side join against the exploded word stream.
    """
    vote_rows = [
        (lang, w) for lang, ws in sorted(STOPWORDS.items()) for w in ws
    ]
    spark = df.sparkSession
    votes_dim = spark.createDataFrame(vote_rows, ["cand_lang", "word"])
    doc_words = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("word"),
    )
    hits = (
        doc_words.join(F.broadcast(votes_dim), "word")
        .groupBy(id_col, "cand_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("hits"), F.asc("cand_lang"))
    best = (
        hits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col(id_col),
            F.col("cand_lang").alias("lang_pred"),
            F.col("hits").alias("lang_hits"),
        )
    )
    return (
        df.select(id_col)
        .join(best, id_col, "left")
        .na.fill({"lang_pred": "und", "lang_hits": 0})
    )


def tf_idf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-k terms per document by classic smoothed TF-IDF.

    tf = raw term count in the doc; idf = ln((N+1)/(df+1)) + 1 with
    N = total input docs, df = number of docs containing the term.
    Ties break on tfidf DESC, term ASC (deterministic top-k).

    Scale: the exploded (doc, term) relation is inherent — the idf
    aggregation is BY term. Shuffles: term-count agg, doc-freq agg,
    tf⋈idf equi-join on term (co-partitioned with the doc-freq agg),
    and the per-doc top-k window (WindowGroupLimit prunes rank>k
    map-side). N rides along as a one-row broadcast, never collected
    to the driver.
    """
    from pyspark.sql import Window

    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    terms = df.select(F.col(id_col), F.explode(words).alias("term")).filter(
        F.col("term") != ""
    )
    tf = terms.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("_n"))
    idf = docfreq.crossJoin(F.broadcast(n_docs)).select(
        "term",
        (F.log((F.col("_n") + 1) / (F.col("df") + 1)) + 1).alias("idf"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        tf.join(idf, "term")
        .withColumn("tfidf", F.col("tf") * F.col("idf"))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tf", "tfidf", "rk")
    )


def canonical_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Order-insensitive document fingerprint: md5 over the sorted set of
    distinct lowercase words (bag-of-words identity)."""
    words_arr = F.array_sort(
        F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    )
    return df.select(
        F.col(id_col),
        F.md5(F.array_join(words_arr, " ")).alias("canonical_fp"),
    )


ROLLING_BASE = 257
ROLLING_MOD = 1_000_000_007


def rolling_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowed Rabin-style rolling-hash fingerprints (one row per
    selected fingerprint): hash every k-char gram of the normalized
    text with a polynomial hash (base 257 mod 1e9+7), then keep the
    MINIMUM hash of each `window` consecutive grams (winnowing) —
    the standard local-fingerprint scheme whose selected hashes
    survive insertions/deletions outside the window.

    Pure per-row expressions (map-only until the final distinct):
    char-gram hashing and window minima are higher-order transforms
    over the normalized string held in a projected column (see
    SCALE.md pitfall 1 — never inline the normalization expression).
    Docs shorter than k chars produce no fingerprints.
    """
    pows = [pow(ROLLING_BASE, k - 1 - j, ROLLING_MOD) for j in range(k)]

    def gram_hash(s, i):
        acc = None
        for j in range(k):
            # explicit long math: ascii*pow exceeds int32 and non-ANSI
            # mode would wrap silently instead of erroring
            term = F.ascii(F.substr(s, i + F.lit(j), F.lit(1))).cast(
                "long"
            ) * F.lit(pows[j]).cast("long")
            acc = term if acc is None else acc + term
        return (acc % F.lit(ROLLING_MOD)).cast("long")

    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    # fan_out first: the O(len·k) per-char hash chain below is the most
    # compute-dense projection in the text family — a single-split scan
    # would run it serially (conditional; no-op on wide inputs)
    with_text = fan_out(df).select(F.col(id_col), normalized.alias("_t")).filter(
        F.length("_t") >= k
    )
    hseq = with_text.select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(1), F.length("_t") - (k - 1)),
            lambda i: gram_hash(F.col("_t"), i),
        ).alias("_h"),
    )
    mins = hseq.select(
        F.col(id_col),
        F.when(
            F.size("_h") >= window,
            F.transform(
                F.sequence(F.lit(1), F.size("_h") - (window - 1)),
                lambda i: F.array_min(F.slice("_h", i, window)),
            ),
        )
        .otherwise(F.array(F.array_min("_h")))
        .alias("_m"),
    )
    return mins.select(
        F.col(id_col), F.explode(F.array_distinct("_m")).alias("fingerprint")
    )


def repetition_exprs(words_col: F.Column) -> dict[str, F.Column]:
    """Gopher-style repetition signals over a projected words array:
    duplicate-word fraction and the most-frequent word's share.

    In-row only (transform/filter/aggregate HOFs) — map-only at any
    scale, like the other quality expressions. top_word_frac is the
    longest RUN in the sorted words array — an O(n log n) run-length
    fold replacing the original O(distinct·n) distinct×filter-count
    scan (same rewrite as ngram_char_fracs; the max occurrence count
    of any distinct word equals the longest run of equal words after
    sorting, so the value is identical by construction). It keeps the
    whole signal out of the shuffle path (the explode+groupBy
    formulation shuffles a words× amplified relation to compute a
    per-row statistic).

    Pass a materialized array column, not an inline split() (pitfall 1
    in SCALE.md: HOF lambdas re-evaluate inline outer expressions per
    element).

    Precondition: the array must not contain NULL elements (split()-
    derived arrays never do). The run-length fold uses eqNullSafe, so
    a NULL run would be counted as a word; the pre-rewrite
    formulation counted nulls as 0.
    """
    n = F.size(words_col)
    n_distinct = F.size(F.array_distinct(words_col))
    top_count = F.aggregate(
        F.array_sort(words_col),
        F.struct(
            F.lit(None).cast("string").alias("p"),
            F.lit(0).alias("r"),
            F.lit(0).alias("best"),
        ),
        lambda a, x: F.when(
            x.eqNullSafe(a["p"]),
            F.struct(
                a["p"].alias("p"),
                (a["r"] + 1).alias("r"),
                a["best"].alias("best"),
            ),
        ).otherwise(
            F.struct(
                x.alias("p"),
                F.lit(1).alias("r"),
                F.greatest(a["best"], a["r"]).alias("best"),
            )
        ),
        lambda a: F.greatest(a["best"], a["r"]),
    )
    return {
        "dup_word_frac": F.when(
            n > 0, 1.0 - n_distinct.cast("double") / n.cast("double")
        ).otherwise(F.lit(0.0)),
        "top_word_frac": F.when(
            n > 0, top_count.cast("double") / n.cast("double")
        ).otherwise(F.lit(0.0)),
    }


# Conservative cross-engine patterns: Java regex (Spark) and RE2
# (DuckDB) agree on these constructs (char classes, {m,n}, \d, \b).
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3,4}[- ]\d{3,4}[- ]\d{3,5}\b", "<PHONE>"),
]


def pii_scrub(text_col: F.Column | str) -> F.Column:
    """Mask emails / IPv4s / phone-shaped numbers with typed tags.
    Chained regexp_replace — pure projection, codegen'd, zero shuffle.
    Order matters: emails first (their local part can contain digits
    that the phone pattern would otherwise split)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    for pat, tag in PII_PATTERNS:
        col = F.regexp_replace(col, pat, tag)
    return col


def chunk_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Context-window chunking: split each document into whitespace-token
    windows of ``max_tokens`` with ``overlap`` tokens carried between
    consecutive chunks — the standard prep for fixed-context training /
    embedding corpora (generalizes the reference's greedy 1024-token
    packing, iqplus_market_transform.py:28-47, from per-doc sentences to
    corpus scale).

    Chunk i covers words [i·stride, i·stride + max_tokens) with
    stride = max_tokens − overlap; starts run while start < n so the
    final partial window is kept and every token lands in ≥1 chunk.
    Empty/blank docs produce no rows (same policy as shingle_sets).

    Scale shape: one fan_out-repaired narrow projection (split once into
    a real column — SCALE.md pitfall 1), then sequence+explode; the
    ~(1 + overlap/stride)× row amplification happens AFTER the split,
    map-only, no shuffle. Output: (id, chunk_idx, chunk_text, n_tokens).
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    t = fan_out(df).select(
        F.col(id_col),
        F.when(F.length(F.trim(F.col(text_col))) == 0, F.array().cast("array<string>"))
        .otherwise(words)
        .alias("_w"),
    )
    n = F.size("_w")
    n_chunks = F.ceil((n - F.lit(overlap)).cast("double") / F.lit(stride)).cast("int")
    t = t.select(
        F.col(id_col),
        F.col("_w"),
        F.greatest(F.when(n > 0, n_chunks).otherwise(F.lit(0)), F.when(n > 0, F.lit(1))).alias("_nc"),
    )
    return (
        t.select(
            F.col(id_col),
            F.col("_w"),
            # guard: explode(NULL) emits nothing; bare sequence(0, -1)
            # would DESCEND and emit phantom chunks for empty docs
            F.explode(
                F.when(
                    F.col("_nc") > 0, F.sequence(F.lit(0), F.col("_nc") - 1)
                )
            ).alias("chunk_idx"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            F.array_join(
                F.slice(F.col("_w"), F.col("chunk_idx") * stride + 1, max_tokens), " "
            ).alias("chunk_text"),
            F.size(
                F.slice(F.col("_w"), F.col("chunk_idx") * stride + 1, max_tokens)
            ).cast("long").alias("n_tokens"),
        )
    )


def normalize_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus text normalization — the standard pre-tokenization clean:

    1. strip HTML-ish tags (``<...>`` spans),
    2. strip C0/C1 control characters,
    3. collapse all whitespace runs to single spaces,
    4. trim.

    Emits (id, text_norm, n_chars_norm, changed). Pure regexp
    projection — JVM codegen'd, map-only, zero shuffles; at 100 TB this
    is a free rider on the first scan of the corpus. Regex patterns use
    only class/quantifier syntax that RE2/Java/DuckDB agree on, so the
    oracle replays them verbatim.
    """
    t = F.col(text_col)
    no_tags = F.regexp_replace(t, r"<[^>]*>", " ")
    no_ctl = F.regexp_replace(no_tags, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", " ")
    norm = F.trim(F.regexp_replace(no_ctl, r"\s+", " "))
    return df.select(
        F.col(id_col),
        norm.alias("text_norm"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        (norm != F.coalesce(t, F.lit(""))).alias("changed"),
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Perplexity-proxy quality signal: mean unigram −log₂ p(word) per
    document, where p is the corpus's own unigram distribution
    (count(word) / total words, over lowercased whitespace tokens).
    Low mean surprise ⇒ stopword-heavy/repetitive text; high ⇒ rare-
    token soup (OCR noise, code, lorem) — both ends are what a real
    perplexity filter trims, without shipping a language model.

    Scale shape: ONE explode+agg shuffle builds the (word, count)
    vocabulary; totals ride along via a window-free one-row broadcast
    cross join; the per-doc score is the exploded word stream hash-
    joined to the vocabulary and re-aggregated by id (shuffle 2).
    Vocabulary is Zipf-bounded (≪ corpus size), so the join's build
    side stays broadcastable far longer than the corpus stays small.
    """
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "word"
        ),
    ).filter(F.col("word") != "")
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("wc"))
    total = vocab.groupBy().agg(F.sum("wc").alias("tw"))
    return (
        words.join(F.broadcast(vocab.crossJoin(F.broadcast(total))), "word")
        .groupBy(id_col)
        .agg(
            F.avg(-F.log2(F.col("wc") / F.col("tw"))).alias("mean_logprob"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
    )


def boilerplate_sentences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 3,
) -> DataFrame:
    """C4-style boilerplate detection at the sentence level: a sentence
    appearing in ≥ min_docs DISTINCT documents is boilerplate (nav
    text, disclaimers, templated headers); emit per-doc counts and the
    boilerplate fraction.

    Scale shape: sentences are normalized in-row ('.'-split, trimmed,
    lowercased), exploded DISTINCT per doc, and aggregated to document
    frequency (shuffle 1 with map-side combine); the per-doc fraction
    re-joins the doc's distinct sentences to the frequency relation on
    the sentence hash (shuffle 2). No pairwise comparisons anywhere —
    document frequency is the whole signal.
    """
    sents = (
        fan_out(df)
        .select(
            F.col(id_col),
            F.array_distinct(
                F.filter(
                    F.transform(
                        F.split(F.lower(F.col(text_col)), r"\."),
                        lambda s: F.trim(s),
                    ),
                    lambda s: s != "",
                )
            ).alias("_s"),
        )
        .filter(F.size("_s") > 0)
    )
    ex = sents.select(F.col(id_col), F.explode("_s").alias("sentence"))
    freq = ex.groupBy("sentence").agg(
        F.countDistinct(id_col).cast("long").alias("df")
    )
    per_doc = (
        ex.join(freq, "sentence")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sentences"),
            F.sum((F.col("df") >= min_docs).cast("long"))
            .cast("long")
            .alias("n_boilerplate"),
        )
    )
    return per_doc.withColumn(
        "boilerplate_frac", F.col("n_boilerplate") / F.col("n_sentences")
    )


def bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Byte-pair-encoding tokenizer TRAINING as a declarative pipeline:
    returns the learned merge table (round, w1, w2, merged, pair_count)
    — the artifact a BPE tokenizer is.

    The at-scale structure (and why this is tractable on 100 TB): the
    corpus is touched ONCE, by the word-histogram aggregate. Every
    merge round after that operates on the (word, count) relation —
    Zipf-bounded vocabulary, ≪ corpus — so training cost is
    rounds × |vocab|, independent of corpus size. Each round:

    1. pair counts: in-row zip of each word's symbol array with its
       tail, exploded, hash-aggregated weighted by word count
       (map-side combine);
    2. best pair: rank-1 row (count desc, pair asc tie-break — fully
       deterministic), carried as a ONE-ROW broadcast — never a
       driver collect round-trip (the k-means state policy);
    3. merge: string replace of " w1 w2 " inside the padded symbol
       string, pattern built FROM the broadcast columns (leftmost
       non-overlapping, the reference BPE behavior) — a map-only
       projection over the vocab.

    The vocab and best-pair relations are materialized per round
    (tiny — they ARE the vocabulary) so lineage stays flat, same
    policy as the other iterative operators (connected_components,
    k-means): localCheckpoint by default, reliable checkpoint into
    `checkpoint_dir` on a cluster (checkpointing.materialize). The
    returned merge table is the union of the per-round best rows.
    """
    from tugas_2_big_data_spark.operators.checkpointing import materialize

    words = df.select(
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("word")
    ).filter(F.col("word") != "")
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
        .select(
            "word",
            "wc",
            F.trim(F.regexp_replace("word", "(.)", r"$1 ")).alias("sym"),
        )
    )
    merge_frames = []
    for rnd in range(1, n_merges + 1):
        # cut at the top of the round, so the last round's rewritten
        # vocab, which nothing reads, is never materialized
        vocab = materialize(vocab, checkpoint_dir)
        syms = vocab.select(
            "wc", F.split("sym", " ").alias("_s")
        ).filter(F.size("_s") >= 2)
        pairs = (
            syms.select(
                "wc",
                F.explode(
                    F.zip_with(
                        F.slice("_s", 1, F.size("_s") - 1),
                        F.slice("_s", 2, F.size("_s") - 1),
                        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                    )
                ).alias("p"),
            )
            .groupBy("p.w1", "p.w2")
            .agg(F.sum("wc").alias("n"))
        )
        best = materialize(
            pairs.orderBy(F.desc("n"), F.asc("w1"), F.asc("w2")).limit(1),
            checkpoint_dir,
        )
        if best.isEmpty():  # vocabulary fully merged before n_merges
            break
        merge_frames.append(
            best.select(
                F.lit(rnd).cast("long").alias("round"),
                "w1",
                "w2",
                F.concat("w1", "w2").alias("merged"),
                F.col("n").alias("pair_count"),
            )
        )
        vocab = (
            vocab.crossJoin(F.broadcast(best))
            .select(
                "word",
                "wc",
                F.trim(
                    F.replace(
                        F.concat(F.lit(" "), F.col("sym"), F.lit(" ")),
                        F.concat(
                            F.lit(" "), "w1", F.lit(" "), "w2", F.lit(" ")
                        ),
                        F.concat(F.lit(" "), "w1", "w2", F.lit(" ")),
                    )
                ).alias("sym"),
            )
        )
    if not merge_frames:
        return df.sparkSession.createDataFrame(
            [],
            "round long, w1 string, w2 string, merged string, pair_count long",
        )
    out = merge_frames[0]
    for f in merge_frames[1:]:
        out = out.unionByName(f)
    return out


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 8,
) -> DataFrame:
    """BPE tokenizer APPLICATION — the serving half `bpe_merges`
    learns the artifact for: encode every document with the trained
    merge table and return (id, n_words, n_tokens, tokens) — the
    token counts `pack_shards` / chunking consume are counts under
    the TRAINED tokenizer, not whitespace words (reference analog:
    the HF tokenizer's token counts gate the whole IQPLUS flow,
    iqplus_market_transform.py:52-55).

    Encoding is the training replay on the doc side: the doc is
    lowered, whitespace-split, words joined with a \\x01 sentinel
    (not producible by the corpus tokenizer, so merges can never
    cross a word boundary), every char space-separated, then each
    merge round applies the SAME leftmost non-overlapping padded
    string replace as training — merge i's row arrives as a ONE-ROW
    broadcast (never a collect), fixed merge count = fixed plan
    depth, the pagerank_fixed determinism argument. A round whose
    merge row is absent (vocab fully merged before n_merges) is an
    identity pass via the left-join coalesce. Map-only over the
    corpus: ONE scan, zero shuffles, cost = n_merges string passes
    per doc at any corpus size."""
    sep = "\x01"
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    enc = df.select(
        F.col(id_col),
        F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0))
        .otherwise(F.size(words))
        .cast("long")
        .alias("n_words"),
        F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(""))
        .otherwise(
            F.trim(
                F.regexp_replace(
                    F.concat_ws(sep, words), "(.)", r"$1 "
                )
            )
        )
        .alias("_sym"),
    )
    for rnd in range(1, n_merges + 1):
        m = merges.filter(F.col("round") == rnd).select(
            F.lit(1).alias("_k"),
            F.col("w1").alias("_w1"),
            F.col("w2").alias("_w2"),
        )
        enc = (
            enc.withColumn("_k", F.lit(1))
            .join(F.broadcast(m), "_k", "left")
            .select(
                F.col(id_col),
                "n_words",
                F.when(
                    F.col("_w1").isNull(), F.col("_sym")
                )
                .otherwise(
                    F.trim(
                        F.replace(
                            F.concat(F.lit(" "), "_sym", F.lit(" ")),
                            F.concat(
                                F.lit(" "),
                                "_w1",
                                F.lit(" "),
                                "_w2",
                                F.lit(" "),
                            ),
                            F.concat(
                                F.lit(" "), "_w1", "_w2", F.lit(" ")
                            ),
                        )
                    )
                )
                .alias("_sym"),
            )
        )
    toks = F.filter(
        F.split(F.col("_sym"), " "),
        lambda t: (t != sep) & (t != ""),
    )
    return enc.select(
        F.col(id_col),
        "n_words",
        F.size(toks).cast("long").alias("n_tokens"),
        F.concat_ws(" ", toks).alias("tokens"),
    )


def naive_bayes_langid(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multinomial Naive Bayes trained and served entirely in
    DataFrame aggregates — the classical trained counterpart to the
    stopword-vote `lang_id` heuristic.

    Train (three hash aggregates over the exploded train token
    stream): per-(label, word) counts, per-label token totals, doc
    priors, and the Laplace vocabulary size V as a 1-row frame
    (crossJoin-broadcast — never a driver-side scalar collect). Model
    size is O(V · n_labels) — a broadcast dimension at any corpus
    scale, which is the point: training cost is one corpus pass of
    map-side-combining aggregates, and scoring is a broadcast join.

    Score: log P(c) + Σ_w n_w · (ln(cnt(w,c)+1) − ln(tot_c+V)) via the
    test (doc, word, n) relation × label grid, left-joined to the
    count model (unseen words fall to the Laplace floor). The
    prediction is the ROW_NUMBER argmax with a label-ascending
    tie-break; raw double scores are compared, not emitted — summation
    order and libm last-ulp differences across engines move scores by
    ~1e-12, which cannot flip an argmax gap but could flip a rounded
    emitted digit (the float-portability rule the sampling operators
    follow).

    Returns (doc_id, pred_lang, lang, correct) for the test split.
    """
    from pyspark.sql import Window

    def toks(df: DataFrame, *keep: str) -> DataFrame:
        return df.select(
            *keep,
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("word"),
        )

    train_wc = (
        toks(train, label_col)
        .groupBy(label_col, "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = train_wc.groupBy(label_col).agg(F.sum("cnt").alias("tot"))
    vocab = train_wc.agg(
        F.countDistinct("word").cast("double").alias("v_size")
    )
    n_train = train.agg(F.count(F.lit(1)).cast("double").alias("n_train"))
    priors = (
        train.groupBy(label_col)
        .agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
        .crossJoin(F.broadcast(n_train))
        .select(
            F.col(label_col).alias("cand"),
            F.log(F.col("n_docs") / F.col("n_train")).alias("log_prior"),
        )
    )
    test_wc = (
        toks(test, id_col)
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    model = train_wc.select(
        F.col(label_col).alias("cand"), "word", "cnt"
    )
    grid = (
        test_wc.crossJoin(F.broadcast(priors.select("cand")))
        .join(F.broadcast(model), ["cand", "word"], "left")
        .join(
            F.broadcast(tot.select(F.col(label_col).alias("cand"), "tot")),
            "cand",
        )
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "term",
            F.col("n")
            * (
                F.log(F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1.0))
                - F.log(F.col("tot") + F.col("v_size"))
            ),
        )
    )
    scores = (
        grid.groupBy(id_col, "cand")
        .agg(F.sum("term").alias("_s"))
        .join(F.broadcast(priors), "cand")
        .withColumn("score", F.col("_s") + F.col("log_prior"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("cand"))
    pred = (
        scores.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(id_col, F.col("cand").alias("pred_lang"))
    )
    return pred.join(test.select(id_col, label_col), id_col).select(
        id_col,
        "pred_lang",
        label_col,
        (F.col("pred_lang") == F.col(label_col)).alias("correct"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    stats_over: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 retrieval: score every document against a fixed bag
    of query terms, return the top-k by (score DESC, id ASC).

    `stats_over` (optional): compute the corpus statistics N and avgdl
    from THIS docs relation instead of `df` — the staleness model of
    an append-only postings index whose one-row stats sidecar is only
    refreshed at rebuild time (posting rows and df reflect appends
    immediately; N/avgdl lag). `txt_bm25_stale_drift` measures the
    ranking drift this causes.

      idf(t)   = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)   [RSJ, +1: non-negative]
      score(D) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    with tf the raw term count in D, dl the whitespace token count,
    avgdl the corpus mean. The score is rounded to 9 decimals BEFORE
    ranking so the ordering is invariant to float association order —
    two engines summing the per-term contributions in different orders
    agree on the ranking and on the emitted score.

    Scale: the only corpus-sized stages are the tokenize + explode
    (map-only; the isin(query_terms) filter drops every non-query term
    BEFORE the shuffle) and the doc-length projection. df/N/avgdl are
    tiny aggregates broadcast back; the final top-k is a
    TakeOrderedAndProject, never a full sort. The reference has no
    retrieval operator (SURVEY §2 — transform-only pipelines); BM25 is
    the standard lexical ranking a curation pipeline pairs with ANN
    (`similarity.*`) for hybrid search."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    toks = df.select(F.col(id_col), words.alias("_w"))
    dl = toks.select(id_col, F.size("_w").cast("double").alias("dl"))
    stats_src = (
        dl
        if stats_over is None
        else stats_over.select(
            F.size(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            )
            .cast("double")
            .alias("dl")
        )
    )
    stats = stats_src.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg("dl").alias("_avgdl"),
    )
    tf = (
        toks.select(F.col(id_col), F.explode("_w").alias("term"))
        .filter(F.col("term").isin(list(query_terms)))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("_df"))
        .crossJoin(F.broadcast(stats.select("_n")))
        .select(
            "term",
            F.log(
                (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
                + 1.0
            ).alias("idf"),
        )
    )
    contrib = (
        tf.join(dl, id_col)
        .crossJoin(F.broadcast(stats.select("_avgdl")))
        .join(F.broadcast(idf), "term")
        .select(
            F.col(id_col),
            (
                F.col("idf")
                * F.col("tf")
                * F.lit(k1 + 1.0)
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / F.col("_avgdl")
                    )
                )
            ).alias("_c"),
        )
    )
    return (
        contrib.groupBy(id_col)
        .agg(F.round(F.sum("_c"), 9).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def postings_index_build(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the lexical serving artifact `bm25_topk_from_index`
    reads: the postings relation (word, doc, tf, positions), the
    doc-length table (the "norms" sidecar every real BM25 index
    carries), and the one-row corpus stats (N, avgdl). Built once per
    index cadence; at 100 TB the postings land bucketed by word
    (sources/bucketing.py) so term lookups prune — here plain parquet
    with the term filter pushed into the scan stands in (plan-pinned).
    """
    from tugas_2_big_data_spark.sources import sinks

    sinks.write_parquet(
        postings(df, text_col, id_col), f"{path}/postings", mode="overwrite"
    )
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    dl = df.select(F.col(id_col), F.size(words).cast("double").alias("dl"))
    sinks.write_parquet(dl, f"{path}/doclens", mode="overwrite")
    sinks.write_parquet(
        dl.agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            F.avg("dl").alias("_avgdl"),
        ),
        f"{path}/stats",
        mode="overwrite",
    )


def bm25_topk_from_index(
    spark,
    path: str,
    query_terms: list[str],
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 SERVING from the persisted postings artifact — what the
    `postings` docstring promises: query time never touches (or
    re-tokenizes) the corpus. The term filter reaches the postings
    parquet scan (PushedFilters), so only the query terms' posting
    rows are read; df/idf come from counting exactly those rows; the
    doc-length join brings in only matched docs (posting side
    broadcast); final top-k is TakeOrdered. Identical scores to the
    in-query `bm25_topk` — parquet round-trips the integers exactly
    and the 9-decimal rounding fixes association order."""
    post = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("word").isin(list(query_terms)))
        .select(
            F.col(id_col),
            F.col("word").alias("term"),
            F.col("tf").cast("double").alias("tf"),
        )
    )
    stats = spark.read.parquet(f"{path}/stats")
    dl = spark.read.parquet(f"{path}/doclens")
    idf = (
        post.groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("_df"))
        .crossJoin(F.broadcast(stats.select("_n")))
        .select(
            "term",
            F.log(
                (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
                + 1.0
            ).alias("idf"),
        )
    )
    contrib = (
        dl.join(F.broadcast(post), id_col)
        .crossJoin(F.broadcast(stats.select("_avgdl")))
        .join(F.broadcast(idf), "term")
        .select(
            F.col(id_col),
            (
                F.col("idf")
                * F.col("tf")
                * F.lit(k1 + 1.0)
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / F.col("_avgdl")
                    )
                )
            ).alias("_c"),
        )
    )
    return (
        contrib.groupBy(id_col)
        .agg(F.round(F.sum("_c"), 9).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def bigram_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.75,
) -> DataFrame:
    """CCNet-style LM quality filter, one model class up from
    `unigram_logprob`: per-document mean -log2 probability under an
    INTERPOLATED BIGRAM model trained on the corpus's own counts —
    P(w2|w1) = lam * c(w1 w2)/c(w1 ·) + (1-lam) * c(w2)/N, with
    c(w1 ·) the count of bigrams starting with w1 (so the
    interpolation is well-defined at every position that exists) and
    N the corpus token count. Low mean surprise = templated/repetitive
    text, high = rare-token soup; the bigram term additionally
    penalizes UNUSUAL WORD ORDER that unigram surprise cannot see.
    Output: (id, n_bigrams, mean_neg_log2_prob) for docs with >= 2
    tokens (a one-token doc has no bigram to score).

    Scale shape: the bigram stream is built IN-ROW (transform over
    positions, then one explode); corpus model = two hash aggregates
    (bigram counts; context counts derived from them by a second
    bounded groupBy) + the unigram relation; scoring joins the stream
    once on the bigram key and once on the context/unigram keys —
    hash-partitioned equi-joins, the same class as unigram_logprob's
    word join. lam is a Python literal, so Spark and the DuckDB
    oracle interpolate with the identical constant; the per-doc mean
    is rounded to 6 (summation-order policy)."""
    w = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    toks = df.select(F.col(id_col), w.alias("_w"))
    big = toks.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("_w") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("_w") - 1),
                    lambda i: F.struct(
                        F.element_at("_w", i).alias("w1"),
                        F.element_at("_w", i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("_b"),
    ).select(F.col(id_col), F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2"))
    cb = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("cb")
    )
    ctx = cb.groupBy("w1").agg(F.sum("cb").alias("c1"))
    uni = toks.select(F.explode("_w").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("cu")
    )
    n_tok = uni.agg(F.sum("cu").alias("_N"))
    p = (
        F.lit(lam) * F.col("cb") / F.col("c1")
        + F.lit(1.0 - lam) * F.col("cu") / F.col("_N")
    )
    scored = (
        big.join(cb, ["w1", "w2"])
        .join(ctx, "w1")
        .join(uni.withColumnRenamed("w", "w2"), "w2")
        .crossJoin(F.broadcast(n_tok))
        .select(F.col(id_col), (-F.log2(p)).alias("_nlp"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("_nlp"), 6).alias("mean_neg_log2_prob"),
    )


def ngram_char_fracs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 5,
    round_to: int = 9,
    with_counts: bool = False,
) -> DataFrame:
    """Gopher-style N-GRAM repetition signals (Rae et al. 2021 §A1.1,
    the n-gram half of the rule set whose word half is
    `repetition_exprs`):

    - top_ngram_char_frac: character share of the HEAVIEST top_n-gram,
      weight = occurrences x non-space characters (the
      occurrence-count argmax with char weight folded in, which keeps
      the statistic deterministic under count ties without a gram-text
      tiebreak);
    - dup_ngram_char_frac: character share of all dup_n-gram
      occurrences whose gram appears more than once (the standard
      occurrences-x-length approximation of Gopher's covered-character
      rule; overlapping occurrences are double-counted, so the value
      can exceed 1 on degenerate repetition — exactly the docs the
      rule exists to kill).

    Shares are of the doc's NON-SPACE character count. All in-row
    HOFs over a materialized words array — map-only at any scale, the
    per-row cost is O(distinct_grams x grams) like repetition_exprs.
    Empty/short docs yield 0.0 for fractions they cannot express.

    ``with_counts`` additionally emits (n_words, n_chars_nospace) —
    free columns already computed mid-pipeline, so a composite gate
    (txt_quality_gate) stays a single map-only pass instead of
    joining a second derivation of the same corpus.

    Per-gram occurrence counts come from a RUN-LENGTH fold over the
    SORTED gram array — O(n log n) per row — replacing the original
    distinct×filter-count formulation whose per-row cost was
    O(distinct_grams × grams): every distinct gram re-scanned the
    whole gram array (measured ~2× on the gate/gopher queries at
    sf0.1; the gap widens quadratically with document length, which
    is exactly what a long-doc 100 TB corpus feeds it). Counts per
    distinct gram are identical by construction — equal grams are
    adjacent after the sort and each run's (count × non-space chars)
    term enters the same max/sum — so emitted values are bit-equal
    and the DuckDB oracle is untouched.
    """
    # max over distinct grams of count·chars (the heaviest n-gram's
    # character mass) — boundary term fires when the run ends; the
    # finish lambda closes the last run. INT arithmetic, like the
    # original transform (c·l products), cast to double by the caller.
    _chars = "length(regexp_replace(a.p, '\\\\s', ''))"
    _best_fold = (
        "aggregate(array_sort({g}), "
        "named_struct('p', cast(null as string), 'r', 0, 'best', 0), "
        "(a, x) -> if(x <=> a.p, "
        "named_struct('p', a.p, 'r', a.r + 1, 'best', a.best), "
        "named_struct('p', x, 'r', 1, 'best', "
        f"greatest(a.best, if(a.p is null, 0, a.r * {_chars})))), "
        f"a -> greatest(a.best, if(a.p is null, 0, a.r * {_chars})))"
    )
    # double-accumulated sum of count·chars over grams occurring >1
    # time — the same acc + cast(c·l as double) fold as the original,
    # in first-occurrence order of the sorted array (int products are
    # exact in double and partial sums stay integer-representable —
    # far below 2^53 at realistic document sizes — so reordering the
    # additions cannot change the sum)
    _dup_term = (
        f"if(a.p is not null and a.r > 1, "
        f"cast(a.r * {_chars} as double), cast(0.0 as double))"
    )
    _dup_fold = (
        "aggregate(array_sort({g}), "
        "named_struct('p', cast(null as string), 'r', 0, "
        "'dup', cast(0.0 as double)), "
        "(a, x) -> if(x <=> a.p, "
        "named_struct('p', a.p, 'r', a.r + 1, 'dup', a.dup), "
        f"named_struct('p', x, 'r', 1, 'dup', a.dup + {_dup_term})), "
        f"a -> a.dup + {_dup_term})"
    )

    toks = df.select(
        F.col(id_col),
        hashing.words(F.lower(F.col(text_col))).alias("_w"),
        F.length(
            F.regexp_replace(F.trim(F.col(text_col)), r"\s", "")
        ).cast("double").alias("_nc"),
    )
    grams = toks.select(
        F.col(id_col),
        "_nc",
        F.size("_w").cast("long").alias("_nw"),
        hashing.word_shingles(F.col("_w"), top_n).alias("_gt"),
        hashing.word_shingles(F.col("_w"), dup_n).alias("_gd"),
    )
    top_frac = F.when(
        (F.col("_nc") > 0) & (F.size("_gt") > 0),
        F.expr(_best_fold.format(g="_gt")).cast("double") / F.col("_nc"),
    ).otherwise(F.lit(0.0))
    dup_frac = F.when(
        F.col("_nc") > 0,
        F.expr(_dup_fold.format(g="_gd")) / F.col("_nc"),
    ).otherwise(F.lit(0.0))
    extra = (
        [
            F.col("_nw").alias("n_words"),
            F.col("_nc").alias("n_chars_nospace"),
        ]
        if with_counts
        else []
    )
    return grams.select(
        F.col(id_col),
        F.round(top_frac, round_to).alias("top_ngram_char_frac"),
        F.round(dup_frac, round_to).alias("dup_ngram_char_frac"),
        *extra,
    )


def postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Inverted-index build: one posting row per (word, doc) with term
    frequency and the sorted in-doc positions array — the IR-side
    artifact a retrieval pipeline materializes next to the corpus
    (BM25/tf-idf serve FROM this instead of re-tokenizing).

    Plan: posexplode of the words array (1-based positions), ONE hash
    aggregate keyed (word, doc) with map-side partial combine —
    positions collect within the aggregate and are sort_array'd for
    cross-engine determinism. At 100 TB the output is stored
    bucketed/sorted by word so term lookups prune; the build itself is
    a single shuffle of (word, doc, pos) tuples."""
    w = df.select(
        F.col(id_col),
        F.posexplode(hashing.words(F.lower(F.col(text_col)))).alias(
            "_p", "word"
        ),
    ).filter(F.col("word") != "")
    return (
        w.groupBy("word", id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.sort_array(F.collect_list(F.col("_p") + 1)).alias("positions"),
        )
    )


def ppl_bands(
    scored: DataFrame,
    score_col: str = "mean_neg_log2_prob",
    keep_tail: bool = False,
) -> DataFrame:
    """CCNet-style perplexity banding: split the scored corpus into
    head / middle / tail thirds by the corpus's OWN exact terciles of
    LM surprise (self-calibrating — no magic absolute threshold
    survives a domain shift), and mark which bands a training run
    keeps (conventionally head+middle; the tail is rare-token soup).

    Scale shape: one exact-percentile aggregate over the score column
    (a single one-row reduce), broadcast back onto the scored
    relation, then a 3-row band aggregate — banding adds nothing
    data-sized beyond the scoring pass that feeds it. Tercile
    boundaries use strict `<` so a document exactly AT a boundary
    falls into the upper band on both engines (Spark `percentile` and
    DuckDB `quantile_cont` are both type-7, bit-identical)."""
    third = 1.0 / 3
    qs = scored.agg(
        F.percentile(score_col, third).alias("p33"),
        F.percentile(score_col, 2 * third).alias("p66"),
    )
    s = F.col(score_col)
    band = (
        F.when(s < F.col("p33"), F.lit("head"))
        .when(s < F.col("p66"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    banded = scored.crossJoin(F.broadcast(qs)).select(
        band.alias("band"), s.alias("score")
    )
    return banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("score"), 6).alias("mean_surprise"),
    ).withColumn(
        "kept",
        F.lit(True) if keep_tail else (F.col("band") != "tail"),
    )
