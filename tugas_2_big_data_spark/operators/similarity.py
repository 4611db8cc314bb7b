"""Similarity search over embedding columns (extension surface;
BASELINE.json north-star).

- brute-force cosine top-k: exact baseline. The query set is SMALL by
  construction (top-k against a handful of probes) and is broadcast, so
  the "cross join" is a broadcast nested loop over one pass of the big
  side — no shuffle of the corpus. At 100 TB the corpus side stays
  partition-parallel; cost is O(corpus × queries).
- LSH-bucketed near-dup pairs: random-hyperplane signs (deterministic
  seeded planes materialized as literals) bucket the corpus; exact
  cosine only within buckets — the scale path that avoids all-pairs.

All arithmetic in DOUBLE: the oracle (DuckDB list_cosine_similarity)
computes float32 when fed FLOAT[], so both sides cast to double first.
"""

from __future__ import annotations

import math
import os

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from tugas_2_big_data_spark.operators.partitioning import fan_out


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns (NULL on zero norm)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / F.nullif(na * nb, F.lit(0.0))


def cosine_sql(a: str, b: str) -> str:
    """SQL-string form of `cosine` — identical analyzed expression,
    one JVM parse instead of ~15 py4j round-trips (see the
    `_kmeans_state` docstring for why construction cost matters)."""
    dot = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "cast(0.0 as double), (acc, x) -> acc + x)"
    )
    na = (
        f"sqrt(aggregate({a}, cast(0.0 as double), "
        "(acc, x) -> acc + x * x))"
    )
    nb = (
        f"sqrt(aggregate({b}, cast(0.0 as double), "
        "(acc, x) -> acc + x * x))"
    )
    return f"({dot} / nullif({na} * {nb}, cast(0.0 as double)))"


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector (excluding self)."""
    from pyspark.sql import Window

    c = fan_out(corpus).select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).cast("array<double>").alias("nbr_vec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("query_vec"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("nbr_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("query_vec"), F.col("nbr_vec")))
        .select("query_id", "nbr_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        # rounded AFTER ranking: stable hash-compare across engines whose
        # fold order differs in the last float bit
        .withColumn("cosine", F.round("cosine", 9))
    )


def hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic random hyperplanes (literal constants — identical
    values are embedded in the oracle SQL)."""
    rng = np.random.default_rng(seed)
    return [[float(x) for x in rng.standard_normal(dim)] for _ in range(n_planes)]


def lsh_bucket(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket key: one char per hyperplane ('1' if v·p > 0).

    Built as ONE SQL-string parse: the Column-tree form paid
    n_planes·dim py4j literal round-trips (~0.6 s of driver time per
    use at 8×64; see the _kmeans_state docstring). Plane constants ride
    as cast('<repr>' as double) literals — exact IEEE round-trip,
    constant-folded at analysis, so the analyzed expression (and every
    output bit) is unchanged."""
    name = vec_col if isinstance(vec_col, str) else None
    if name is None:
        # Column input (tests / composed exprs): keep the tree form
        bits = []
        for p in planes:
            plane = F.array(*[F.lit(x) for x in p])
            dot = F.aggregate(
                F.zip_with(vec_col, plane, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bits.append(F.when(dot > 0, F.lit("1")).otherwise(F.lit("0")))
        return F.concat(*bits)
    parts = []
    for p in planes:
        arr = ", ".join(f"cast('{x!r}' as double)" for x in p)
        dot = (
            f"aggregate(zip_with(`{name}`, array({arr}), (x, y) -> x * y), "
            "cast(0.0 as double), (acc, x) -> acc + x)"
        )
        parts.append(f"case when {dot} > 0 then '1' else '0' end")
    return F.expr("concat(" + ", ".join(parts) + ")")


def ivf_ncentroids(corpus_rows: int) -> int:
    """Cell-count policy: nlist ≈ √N (floor 8). Cells then hold ~√N
    vectors each, so per-query search cost (nprobe·N/nlist) and the
    broadcast centroid state (nlist·dim doubles) BOTH grow as √N —
    neither the cell scan nor the quantizer becomes the bottleneck as
    the corpus grows. A fixed nlist instead fattens cells linearly
    (the measured 3.6× at 10× data that motivated this policy)."""
    return max(8, math.isqrt(corpus_rows))


IVF_TRAIN_SEED = 11


def ivf_train_stride(corpus_rows: int, n_centroids: int) -> int:
    """Quantizer-training sample stride: train k-means on ~max(2048,
    32·k) vectors instead of the full corpus (keep every vector whose
    portable md5 draw ≡ 0 mod stride). Standard ANN practice (Faiss
    trains coarse quantizers on samples): training cost drops from
    iters·N·k to iters·cap·k while centroid quality is statistically
    unchanged — 32 points per centroid estimate the cell means as well
    as the full corpus does. The one full-corpus pass that remains is
    the cell ASSIGNMENT (N·k), inherent to flat IVF. Stride 1 (no
    sampling) below ~2048 rows, so small tiers are bit-identical with
    or without this policy."""
    cap = max(2048, 32 * n_centroids)
    return max(1, math.ceil(corpus_rows / cap))


def _cell_assigner(centroids: DataFrame):
    """Build the map-only IVF cell-assignment function for a (cid,
    cvec) centroid relation: the centroid set is ONE broadcast row
    (cids + vectors in cid order), each input row picks its top-
    `probes` cells with an in-row sort expression — no crossJoin row
    amplification, no per-id window shuffle. Cell affinity = cosine
    desc, ties on cid ascending (matching the oracle's ORDER BY);
    null cosine (zero-norm vector) sorts last."""
    cents = centroids.select(
        F.col("cid"), F.col("cvec").cast("array<double>").alias("cvec")
    )
    srt = F.array_sort(F.collect_list(F.struct("cid", "cvec")))
    # NOT checkpointed: both assign calls broadcast this one-row state,
    # and identical broadcast-exchange subtrees are deduplicated by
    # ReuseExchangeAndSubquery within a job — an eager checkpoint here
    # measured NEUTRAL for plain IVF and ~1 s SLOWER for IVF-PQ (it
    # serializes the coarse chain ahead of the PQ chain instead of
    # letting one job schedule both)
    cstate = cents.groupBy().agg(
        F.transform(srt, lambda s: s["cid"]).alias("_cc"),
        F.transform(srt, lambda s: s["cvec"]).alias("_cv"),
    )

    def assign(
        df: DataFrame,
        idname: str,
        vecname: str,
        probes: int,
        rank_col: str | None = None,
    ) -> DataFrame:
        # any further columns of df (invfile metadata attributes) ride
        # along untouched
        others = [c for c in df.columns if c not in (idname, vecname)]
        # negated similarity so ascending struct sort = csim desc;
        # SQL-string construction (one parse) — see _kmeans_state
        scored = F.expr(
            "cast(transform(_cv, (c, i) -> struct(-coalesce("
            + cosine_sql(f"`{vecname}`", "c")
            + ", cast('-Infinity' as double)), cast(i as int))) "
            "as array<struct<ncs:double,idx:int>>)"
        )
        base = df.crossJoin(F.broadcast(cstate))
        if rank_col is None:
            return base.select(
                idname,
                vecname,
                *others,
                "_cc",
                F.explode(F.slice(F.array_sort(scored), 1, probes)).alias(
                    "_t"
                ),
            ).select(
                idname,
                vecname,
                *others,
                F.get(F.col("_cc"), F.col("_t.idx")).alias("cid"),
            )
        # rank_col exposes each probed cell's affinity rank (1-based):
        # the slice prefix of length n is EXACTLY the nprobe=n
        # assignment, so one max-probes pass serves a whole nprobe
        # sweep (ann_ivf_nprobe_curve) instead of one branch per point
        return base.select(
            idname,
            vecname,
            *others,
            "_cc",
            F.posexplode(F.slice(F.array_sort(scored), 1, probes)).alias(
                "_p", "_t"
            ),
        ).select(
            idname,
            vecname,
            *others,
            F.get(F.col("_cc"), F.col("_t.idx")).alias("cid"),
            (F.col("_p") + F.lit(1)).cast("int").alias(rank_col),
        )

    return assign


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int | None = None,
    quantizer: str = "kmeans",
    kmeans_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Train the IVF coarse quantizer: (cid, cvec) rows. The default
    is the production k-means quantizer with the √N `ivf_ncentroids`
    cell policy and the `ivf_train_stride` sample cap; `"seed"` is the
    k-lowest-id exact-baseline quantizer kept for tests. This is the
    INDEX-BUILD half of IVF, factored out so `ivf_build_index` can
    persist its output as an artifact and `ivf_topk` can run it
    in-query when no artifact exists."""
    if n_centroids is None or quantizer == "kmeans":
        n_rows = corpus.count()
    if n_centroids is None:
        n_centroids = ivf_ncentroids(n_rows)
    if quantizer == "kmeans":
        from tugas_2_big_data_spark.operators.sampling import hash_unit24

        stride = ivf_train_stride(n_rows, n_centroids)
        train = corpus
        if stride > 1:
            train = corpus.filter(
                hash_unit24(id_col, IVF_TRAIN_SEED) % stride == 0
            )
        return kmeans_centroids(
            train,
            k=n_centroids,
            iters=kmeans_iters,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
        )
    if quantizer == "seed":
        return corpus.orderBy(id_col).limit(n_centroids).select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).cast("array<double>").alias("cvec"),
        )
    raise ValueError(f"unknown quantizer: {quantizer!r}")


def ivf_build_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int | None = None,
    quantizer: str = "kmeans",
    kmeans_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Build the COMPLETE IVF index artifact at `path` — centroids at
    `{path}/centroids` AND the inverted file itself at
    `{path}/invfile` ((cid, nbr_id, nbr_vec), hive-partitioned by
    cid).

    Persisting only the centroids is NOT enough at scale: the
    dominant IVF cost is the full-corpus CELL-ASSIGNMENT pass
    (N·nlist distance evals + an nlist-wide in-row sort per vector —
    measured ~94 s serving-only at the 100× probe with a
    centroids-only artifact, i.e. no better than retraining, because
    the sample-capped training was never the expensive part). A real
    IVF index IS its inverted lists; assignment is index-BUILD work,
    paid here once per rebuild cadence. Serving
    (`ivf_topk_from_index`) then only assigns the QUERY batch and
    equi-joins on cid — and the cid partitioning lets dynamic
    partition pruning skip every unprobed cell's files. Parquet
    round-trips doubles exactly, so artifact-served results are
    bit-identical to in-query training. Rebuild on corpus change /
    recall regression (see `ann_ivf_recall`).

    ``meta_cols`` names FILTERABLE attribute columns of the corpus
    (label, lang, source, quality tier …) to carry INTO the inverted
    file: metadata-filtered vector search ("top-k among vectors whose
    doc satisfies P") then serves by pushing the predicate down to
    the invfile parquet scan itself (`ivf_topk_from_index(where=…)`)
    — no side lookup, no post-join filter over unfiltered candidates,
    and at 100 TB the filter prunes row groups inside each probed
    cell's files. This is how production vector stores handle
    attribute filters: the attributes live in the index."""
    import posixpath

    from tugas_2_big_data_spark.sources import sinks

    cents = train_ivf_centroids(
        corpus,
        n_centroids=n_centroids,
        quantizer=quantizer,
        kmeans_iters=kmeans_iters,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
    ).localCheckpoint()
    sinks.write_parquet(cents, posixpath.join(path, "centroids"))
    assign = _cell_assigner(cents)
    cells = assign(
        fan_out(corpus).select(
            F.col(id_col).alias("nbr_id"),
            F.col(vec_col).cast("array<double>").alias("nbr_vec"),
            *[F.col(c) for c in meta_cols],
        ),
        "nbr_id",
        "nbr_vec",
        1,
    )
    # repartition BY CID before the partitioned write: without it every
    # write task fans out a file into every cell directory (tasks ×
    # nlist tiny files); with it each cell's vectors coalesce into its
    # own file(s) — the contiguous inverted-list layout serving scans
    sinks.write_parquet(
        cells.select(
            "cid", "nbr_id", "nbr_vec", *meta_cols
        ).repartition(F.col("cid")),
        posixpath.join(path, "invfile"),
        partition_by=["cid"],
    )


def _ivf_rank(q_assigned: DataFrame, cells: DataFrame, k: int) -> DataFrame:
    """Shared IVF serve core: probed-cell equi-join + exact cosine +
    per-query top-k (ties on nbr_id). `cells` = (cid, nbr_id, nbr_vec)
    from either the in-query assignment or a persisted inverted file."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("nbr_id")
    )
    return (
        q_assigned.join(cells, "cid")
        .filter(F.col("nbr_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("query_vec"), F.col("nbr_vec")))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", "nbr_id", F.round("cosine", 9).alias("cosine"), "rk"
        )
    )


def ivf_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    where: Column | None = None,
) -> DataFrame:
    """Serve IVF top-k from an `ivf_build_index` artifact: assign the
    QUERY batch to its nprobe cells (broadcast one-row centroid state)
    and equi-join the persisted inverted file on cid — per-query work
    is O(nprobe·N/nlist) scoring, with NO full-corpus pass of any
    kind; the cid hive-partitioning makes unprobed cells prunable at
    the scan.

    ``where`` (over columns the index was built with via `meta_cols`)
    is metadata-FILTERED search: the predicate is applied directly to
    the invfile read, so it reaches the parquet scan as a pushed
    filter (pinned in tests/test_plans.py) and prunes row groups
    inside each probed cell — candidates are filtered BEFORE ranking,
    and top-k ranks among the vectors that satisfy the predicate."""
    import posixpath

    cents = spark.read.parquet(posixpath.join(path, "centroids"))
    inv = spark.read.parquet(posixpath.join(path, "invfile"))
    if where is not None:
        inv = inv.filter(where)
    cells = inv.select(F.col("cid").cast("long"), "nbr_id", "nbr_vec")
    assign = _cell_assigner(cents)
    q = assign(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("query_vec"),
        ),
        "query_id",
        "query_vec",
        nprobe,
    )
    return _ivf_rank(q, cells, k)


def ivf_probed_cells(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, cid) — the cells a query batch would probe against a
    persisted IVF artifact at a given nprobe: the capacity-planning
    relation behind the nprobe/recall operating curve
    (`ann_ivf_nprobe_curve`). Broadcast one-row centroid state, map-
    only over the batch — never touches the inverted file."""
    import posixpath

    cents = spark.read.parquet(posixpath.join(path, "centroids"))
    assign = _cell_assigner(cents)
    return assign(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("query_vec"),
        ),
        "query_id",
        "query_vec",
        nprobe,
    ).select("query_id", "cid")


def ivf_append_to_index(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: tuple[str, ...] = (),
    ingest_key: str | None = None,
) -> None:
    """INCREMENTAL index maintenance: fold a new vector batch into a
    persisted `ivf_build_index` artifact using the artifact's FROZEN
    centroids — assign only the batch (broadcast one-row centroid
    state, map-only) and APPEND its rows to the cid-partitioned
    inverted file. The quantizer is NOT retrained: this is the path a
    continuously-ingesting corpus runs between periodic retrains (the
    same append-only discipline as `dedup.merge_fingerprint_state` —
    per-batch cost depends on the BATCH, never on the index size), at
    the price every production vector store pays for it: frozen
    centroids drift from the data distribution as batches accumulate
    (`ann_incremental_add_recall` measures exactly that drift, and a
    recall regression there is the retrain signal).

    ``ingest_key`` makes the append IDEMPOTENT per key: the batch is
    staged with mode=overwrite (itself replay-safe), then each cell's
    single staged file is moved into the invfile under the
    DETERMINISTIC name `ingest-<key>.parquet` — replaying the same key
    (e.g. a foreachBatch checkpoint replay re-delivering a batch_id)
    atomically overwrites exactly its own files instead of
    double-writing. The move is a local-filesystem rename (same
    constraint as compact_index_relation); an object-store deployment
    keys appends under a table format's transaction instead. Without a
    key the write is a blind parquet append — non-idempotent on re-run
    (sinks.append's documented contract).

    Serving needs no new code: `ivf_topk_from_index` reads the invfile
    directory, so appended cells' files are discovered like built
    ones, and results are identical to an index whose BUILD had seen
    the appended vectors with the same centroids. A real deployment
    appends under a table format's transaction or keys appends by
    batch id (``ingest_key``). Compaction of the accumulated small per-batch
    files is the maintenance half: `compact_index_relation` rewrites
    the relation to one file per cell with serving provably invariant
    (`ann_ivf_compacted_topk` shares this loop's un-compacted
    oracle)."""
    import posixpath

    from tugas_2_big_data_spark.sources import sinks

    cents = spark.read.parquet(posixpath.join(path, "centroids"))
    assign = _cell_assigner(cents)
    cells = assign(
        fan_out(batch).select(
            F.col(id_col).alias("nbr_id"),
            F.col(vec_col).cast("array<double>").alias("nbr_vec"),
            *[F.col(c) for c in meta_cols],
        ),
        "nbr_id",
        "nbr_vec",
        1,
    )
    # same repartition-by-cid rationale as the build: each touched
    # cell's new vectors coalesce into one appended file, not one per
    # write task
    out = cells.select("cid", "nbr_id", "nbr_vec", *meta_cols).repartition(
        F.col("cid")
    )
    inv = posixpath.join(path, "invfile")
    if ingest_key is not None:
        import glob
        import shutil

        staging = posixpath.join(path, f"_ingest_{ingest_key}")
        sinks.write_parquet(
            out, staging, mode="overwrite", partition_by=["cid"]
        )
        # A replay must fully REPLACE this key's prior footprint, not
        # just overwrite matching names: if the earlier attempt wrote
        # more files in a cell (or touched a cell this attempt skips),
        # the leftovers would duplicate rows. Sweep every
        # ingest-<key>*.parquet across cells before moving staged files.
        # exact-name patterns, not ingest-<key>*: a bare prefix glob
        # would also sweep a DIFFERENT key that starts with this one
        # (ingest-b1* matches ingest-b10.parquet).
        for pat in (
            f"ingest-{ingest_key}.parquet",
            f"ingest-{ingest_key}-[0-9]*.parquet",
        ):
            for stale in glob.glob(posixpath.join(inv, "cid=*", pat)):
                os.remove(stale)
        # one task per cell (repartition by cid) -> exactly one staged
        # file per cid dir; frozen centroids make the cid set itself
        # deterministic for a given batch, so a replay regenerates and
        # atomically replaces the SAME target names.
        for cell_dir in sorted(glob.glob(posixpath.join(staging, "cid=*"))):
            files = sorted(glob.glob(posixpath.join(cell_dir, "*.parquet")))
            target_dir = posixpath.join(inv, posixpath.basename(cell_dir))
            os.makedirs(target_dir, exist_ok=True)
            for i, src in enumerate(files):
                suffix = f"-{i}" if i else ""
                os.replace(
                    src,
                    posixpath.join(
                        target_dir, f"ingest-{ingest_key}{suffix}.parquet"
                    ),
                )
        shutil.rmtree(staging)
    else:
        sinks.append(out, inv, partition_by=["cid"])


def ivfsq_append_to_index(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """`ivf_append_to_index`'s IVF-SQ twin: assign + SQ-encode the new
    batch with the artifact's FROZEN centroids and FROZEN quantization
    bounds, append to the cid-partitioned codes table. Frozen bounds
    add a second drift surface beyond frozen centroids: an appended
    vector whose component falls outside the trained [lo, hi] clamps
    to the edge code (sq_encode's least/greatest), so out-of-range
    drift degrades into saturation, not corruption — monitored by the
    same recall-drift query as the centroids."""
    import posixpath

    from tugas_2_big_data_spark.sources import sinks

    cents = spark.read.parquet(posixpath.join(path, "centroids"))
    bounds = spark.read.parquet(posixpath.join(path, "bounds"))
    assign = _cell_assigner(cents)
    cells = assign(
        fan_out(batch).select(
            F.col(id_col).alias("nbr_id"),
            F.col(vec_col).cast("array<double>").alias("nbr_vec"),
        ),
        "nbr_id",
        "nbr_vec",
        1,
    )
    codes = cells.join(F.broadcast(bounds)).select(
        "cid", "nbr_id", _sq_codes_expr(F.col("nbr_vec")).alias("codes")
    )
    sinks.append(
        codes.repartition(F.col("cid")),
        posixpath.join(path, "codes"),
        partition_by=["cid"],
    )


def ivfpq_append_to_index(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> None:
    """`ivf_append_to_index`'s IVF-PQ twin: assign + PQ-encode the new
    batch with the artifact's FROZEN coarse centroids and FROZEN
    codebooks, append to the cid-partitioned codes table. Both stages
    are broadcast-state map work over the batch; the codebooks freeze
    means appended vectors are quantized onto the original corpus's
    codeword geometry — the ADC error grows with distribution drift,
    which is the PQ-specific retrain signal."""
    import posixpath

    from tugas_2_big_data_spark.sources import sinks

    state, m, sub = _pq_serve_state(spark, path)
    coarse = spark.read.parquet(posixpath.join(path, "coarse"))
    assign = _cell_assigner(coarse)
    enc = (
        assign(
            fan_out(batch).select(
                F.col(id_col).alias("nbr_id"),
                F.col(vec_col).cast("array<double>").alias("_v"),
            ),
            "nbr_id",
            "_v",
            1,
        )
        .crossJoin(F.broadcast(state))
        .select("cid", "nbr_id", *_pq_code_cols(m, sub))
    )
    sinks.append(
        enc.repartition(F.col("cid")),
        posixpath.join(path, "codes"),
        partition_by=["cid"],
    )


def pq_build_index(
    corpus: DataFrame,
    path: str,
    m: int = 4,
    ks: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> None:
    """Build the COMPLETE PQ index artifact: codebooks (one-row
    `_cs{s}` state) at `{path}/codebooks` AND the encoded corpus
    (nbr_id, code0..code{m-1}) at `{path}/codes` — the compressed
    index itself (m small ints replace dim floats per vector; at
    100 TB of raw embeddings the codes table is the ~1.5 TB relation
    serving actually scans). Encoding is the full-corpus pass, so it
    belongs to index BUILD, not to every query batch. The persisted
    state also freezes the trained-codebook nondeterminism noted in
    `pq_codebooks`: one training run, bit-stable artifact thereafter.
    Serve with `pq_topk_from_index`."""
    import posixpath

    from tugas_2_big_data_spark.sources import sinks

    sub = dim // m
    state = pq_codebooks(
        corpus, m=m, ks=ks, iters=iters,
        id_col=id_col, vec_col=vec_col, dim=dim,
    ).localCheckpoint()
    sinks.write_parquet(state, posixpath.join(path, "codebooks"))
    encoded = (
        fan_out(corpus)
        .select(
            F.col(id_col).alias("nbr_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .crossJoin(F.broadcast(state))
        .select("nbr_id", *_pq_code_cols(m, sub))
    )
    sinks.write_parquet(encoded, posixpath.join(path, "codes"))


def _pq_serve_state(spark, path: str):
    """Read a PQ codebook artifact and derive (state, m, sub) — the
    subspace count from the `_cs{s}` column names, the subspace width
    from one codeword of the one-row state (a one-row collect)."""
    import posixpath

    state = spark.read.parquet(posixpath.join(path, "codebooks"))
    m = len([c for c in state.columns if c.startswith("_cs")])
    sub = state.select(F.size(F.get("_cs0", 0))).first()[0]
    return state, m, sub


def _pq_rank(encoded: DataFrame, qluts: DataFrame, m: int, k: int) -> DataFrame:
    """Shared PQ serve core: broadcast the per-query LUTs onto the
    codes relation, ADC-score (m array lookups per pair), per-query
    top-k ascending with nbr_id ties."""
    from pyspark.sql import Window

    dist = _pq_adc_dist(m)
    scored = (
        encoded.join(
            F.broadcast(qluts), F.col("nbr_id") != F.col("query_id")
        )
        .withColumn("adc_dist", dist)
        .select("query_id", "nbr_id", "adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "nbr_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .withColumn("adc_dist", F.round("adc_dist", 9))
        .select("query_id", "nbr_id", "adc_dist", "rk")
    )


def pq_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve PQ ADC top-k from a `pq_build_index` artifact: the only
    corpus-sized input is the CODES table (m small ints + id per
    vector — no raw-vector scan, no encode pass); the query batch
    computes its LUTs against the persisted codebooks and broadcasts
    them."""
    import posixpath

    state, m, sub = _pq_serve_state(spark, path)
    encoded = spark.read.parquet(posixpath.join(path, "codes"))
    qluts = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("_qv"),
        )
        .crossJoin(F.broadcast(state))
        .select("query_id", *_pq_lut_cols(m, sub))
    )
    return _pq_rank(encoded, qluts, m, k)


def ivfpq_build_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    m: int = 4,
    ks: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Build the COMPLETE IVF-PQ index artifact: coarse centroids at
    `{path}/coarse`, PQ codebooks at `{path}/codebooks`, and the
    cell-assigned encoded corpus (cid, nbr_id, code0..code{m-1}) at
    `{path}/codes` (hive-partitioned by cid — unprobed cells prune at
    the scan). Both full-corpus passes (cell assignment + PQ encode)
    are index-BUILD work; serving (`ivfpq_topk_from_index`) touches
    only the query batch and the probed slices of the codes table.

    ``meta_cols`` carries filterable attribute columns into the codes
    table (same contract as `ivf_build_index`) for
    `ivfpq_topk_from_index(where=…)` metadata-filtered search."""
    import posixpath

    from tugas_2_big_data_spark.sources import sinks

    sub = dim // m
    coarse = kmeans_centroids(
        corpus, k=n_centroids, iters=iters,
        id_col=id_col, vec_col=vec_col, dim=dim,
    ).localCheckpoint()
    sinks.write_parquet(coarse, posixpath.join(path, "coarse"))
    state = pq_codebooks(
        corpus, m=m, ks=ks, iters=iters,
        id_col=id_col, vec_col=vec_col, dim=dim,
    ).localCheckpoint()
    sinks.write_parquet(state, posixpath.join(path, "codebooks"))
    assign = _cell_assigner(coarse)
    enc = (
        assign(
            fan_out(corpus).select(
                F.col(id_col).alias("nbr_id"),
                F.col(vec_col).cast("array<double>").alias("_v"),
                *[F.col(c) for c in meta_cols],
            ),
            "nbr_id",
            "_v",
            1,
        )
        .crossJoin(F.broadcast(state))
        .select(
            "cid",
            "nbr_id",
            *_pq_code_cols(m, sub),
            *[F.col(c) for c in meta_cols],
        )
    )
    # same repartition-by-cid rationale as the IVF inverted file
    sinks.write_parquet(
        enc.repartition(F.col("cid")),
        posixpath.join(path, "codes"),
        partition_by=["cid"],
    )


def ivfpq_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    where: Column | None = None,
) -> DataFrame:
    """Serve IVF-PQ from an `ivfpq_build_index` artifact: assign the
    query batch to nprobe cells (persisted coarse centroids), compute
    its LUTs (persisted codebooks), equi-join the probed slices of the
    persisted codes table on cid, ADC-score — per-query cost
    O(nprobe/nlist · N) array lookups over the compressed index, with
    zero full-corpus passes at serve time.

    ``where`` (over `meta_cols` attributes) filters the codes scan
    BEFORE ADC scoring — same pushed-filter contract as
    `ivf_topk_from_index(where=…)`."""
    import posixpath

    from pyspark.sql import Window

    state, m, sub = _pq_serve_state(spark, path)
    coarse = spark.read.parquet(posixpath.join(path, "coarse"))
    codes = spark.read.parquet(posixpath.join(path, "codes"))
    if where is not None:
        codes = codes.filter(where)
    enc = codes.select(
        F.col("cid").cast("long"),
        "nbr_id",
        *[f"code{s}" for s in range(m)],
    )
    assign = _cell_assigner(coarse)
    qluts = (
        assign(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).cast("array<double>").alias("_qv"),
            ),
            "query_id",
            "_qv",
            nprobe,
        )
        .crossJoin(F.broadcast(state))
        .select("query_id", "cid", *_pq_lut_cols(m, sub))
    )
    dist = _pq_adc_dist(m)
    w = Window.partitionBy("query_id").orderBy("adc_dist", "nbr_id")
    return (
        qluts.join(enc, "cid")
        .filter(F.col("nbr_id") != F.col("query_id"))
        .withColumn("adc_dist", dist)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .withColumn("adc_dist", F.round("adc_dist", 9))
        .select("query_id", "nbr_id", "adc_dist", "rk")
    )


def ivfpq_residual_build_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    m: int = 4,
    ks: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> None:
    """Build a RESIDUAL IVF-PQ index (the true IVFADC of Jégou et al.,
    vs the no-residual variant `ivfpq_build_index` ships): PQ encodes
    each vector's residual (v − coarse centroid of its cell) instead
    of v itself. Residuals concentrate near the origin with far less
    of the coarse structure left in them, so the same m×ks code budget
    spends its codewords on LOCAL detail — measured recall uplift over
    the no-residual codes at identical index size
    (`ann_ivfpq_residual_recall` vs `ann_ivfpq_recall`).

    Artifact layout mirrors `ivfpq_build_index` (`coarse/`,
    `codebooks/`, cid-partitioned `codes/`); both full-corpus passes
    (assignment and residual encode) are build work. Codebooks are
    TRAINED on the residual relation (same joint-Lloyd machinery —
    `pq_codebooks` is corpus-agnostic)."""
    import posixpath

    from tugas_2_big_data_spark.sources import sinks

    sub = dim // m
    coarse = kmeans_centroids(
        corpus, k=n_centroids, iters=iters,
        id_col=id_col, vec_col=vec_col, dim=dim,
    ).localCheckpoint()
    sinks.write_parquet(coarse, posixpath.join(path, "coarse"))
    assign = _cell_assigner(coarse)
    assigned = assign(
        fan_out(corpus).select(
            F.col(id_col).alias("nbr_id"),
            F.col(vec_col).cast("array<double>").alias("_raw"),
        ),
        "nbr_id",
        "_raw",
        1,
    )
    resid = (
        assigned.join(
            F.broadcast(
                coarse.select(
                    "cid", F.col("cvec").cast("array<double>").alias("_cv")
                )
            ),
            "cid",
        )
        .select(
            "cid",
            "nbr_id",
            F.zip_with("_raw", "_cv", lambda x, y: x - y).alias("_v"),
        )
        .localCheckpoint()
    )
    state = pq_codebooks(
        resid, m=m, ks=ks, iters=iters,
        id_col="nbr_id", vec_col="_v", dim=dim,
    ).localCheckpoint()
    sinks.write_parquet(state, posixpath.join(path, "codebooks"))
    enc = (
        resid.crossJoin(F.broadcast(state))
        .select("cid", "nbr_id", *_pq_code_cols(m, sub))
    )
    sinks.write_parquet(
        enc.repartition(F.col("cid")),
        posixpath.join(path, "codes"),
        partition_by=["cid"],
    )


def ivfpq_residual_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve residual IVF-PQ (IVFADC): assign the query batch to its
    nprobe cells, build the ADC lookup tables from the query's
    PER-CELL RESIDUAL (q − that cell's centroid — the extra step the
    no-residual variant skips; LUTs are per (query, cell), still
    m·ks·nprobe doubles per query), and ADC-score the probed slices
    of the persisted residual-codes table. Zero full-corpus passes at
    serve time, same as the rest of the artifact-serving family."""
    import posixpath

    from pyspark.sql import Window

    state, m, sub = _pq_serve_state(spark, path)
    coarse = spark.read.parquet(posixpath.join(path, "coarse"))
    enc = spark.read.parquet(posixpath.join(path, "codes")).select(
        F.col("cid").cast("long"),
        "nbr_id",
        *[f"code{s}" for s in range(m)],
    )
    assign = _cell_assigner(coarse)
    qa = assign(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("_raw"),
        ),
        "query_id",
        "_raw",
        nprobe,
    )
    qluts = (
        qa.join(
            F.broadcast(
                coarse.select(
                    "cid", F.col("cvec").cast("array<double>").alias("_cv")
                )
            ),
            "cid",
        )
        .select(
            "query_id",
            "cid",
            F.zip_with("_raw", "_cv", lambda x, y: x - y).alias("_qv"),
        )
        .crossJoin(F.broadcast(state))
        .select("query_id", "cid", *_pq_lut_cols(m, sub))
    )
    dist = _pq_adc_dist(m)
    w = Window.partitionBy("query_id").orderBy("adc_dist", "nbr_id")
    return (
        qluts.join(enc, "cid")
        .filter(F.col("nbr_id") != F.col("query_id"))
        .withColumn("adc_dist", dist)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .withColumn("adc_dist", F.round("adc_dist", 9))
        .select("query_id", "nbr_id", "adc_dist", "rk")
    )


def ivfpq_rerank_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    vectors: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    rerank: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ serving with EXACT-COSINE RERANKING — the standard
    recall-recovery stage over a lossy ADC scorer (Jégou et al.'s
    IVFADC+R): take the ADC top-(k·rerank) candidates from the
    persisted index (`ivfpq_topk_from_index`), re-score ONLY those
    candidates against their full-precision vectors from `vectors`
    (the id-keyed raw store — at scale, k·rerank point lookups per
    query, never a corpus pass), and return the exact-cosine top-k.

    Output (query_id, nbr_id, cosine, rk) — the same contract as
    `ivf_topk`, so downstream consumers can swap scorers freely. The
    vector rejoin pins SHUFFLE_HASH (the array payload must never
    ride a broadcast). Vector rows are sub-KB fixed-width — an order
    of magnitude lighter than the shingle-set relations whose hash
    build walled at the 1000x tier and moved to MERGE — so the hash
    build stays bounded for another decade provided shuffle partitions
    are sized with the corpus (measured: the merge variant cost ~40%
    more at the 100x tier with no safety gain at reachable sizes);
    the query batch broadcasts onto its candidates."""
    from pyspark.sql import Window

    cand = ivfpq_topk_from_index(
        spark, path, queries, nprobe=nprobe, k=k * rerank,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "nbr_id")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("query_vec"),
    )
    v = vectors.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).cast("array<double>").alias("nbr_vec"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("nbr_id")
    )
    return (
        cand.join(v.hint("shuffle_hash"), "nbr_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine", cosine(F.col("query_vec"), F.col("nbr_vec")))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", "nbr_id", F.round("cosine", 9).alias("cosine"), "rk"
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int | None = None,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    quantizer: str = "kmeans",
    kmeans_iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus
    into cells, probe the `nprobe` closest cells per query, exact
    cosine only within probed cells.

    The DEFAULT quantizer is the production one: k-means centroids
    (`kmeans_centroids`, `kmeans_iters` Lloyd rounds over `dim`-wide
    vectors) with the cell count sized by the `ivf_ncentroids` √N
    policy when `n_centroids` is not given (one count() job to read N —
    quantizer training is index-build work, amortized across queries).
    Pass `centroids` (cid, cvec rows) to bring your own quantizer, or
    `quantizer="seed"` for the k-lowest-id seed set — a deliberately
    simple EXACT-BASELINE quantizer kept for tests/debugging; its
    untrained cells skew arbitrarily and it is not the scale path.

    Scale shape: cell assignment broadcasts the centroid set as ONE row
    and picks the top-`probes` cells with an in-row sort expression —
    map-only, no crossJoin row amplification, no per-id window shuffle
    (the same shape `_kmeans_state` uses; the windowed crossJoin it
    replaced shuffled corpus·k rows). The search join is a
    key-equi-join on cell id — never an all-pairs compare; with the √N
    policy the probed work is O(nprobe·√N) per query instead of
    O(corpus). Quantizer training runs on a deterministic capped
    sample (`ivf_train_stride`, portable md5 draw — Faiss practice),
    so index-build cost is one full-corpus assignment pass (N·k,
    inherent to flat IVF) plus a sample-bounded training loop. At
    100 TB, build the full index artifact ONCE (`ivf_build_index` —
    centroids AND inverted file; the assignment pass is the expensive
    part, so persisting centroids alone buys little) and serve with
    `ivf_topk_from_index`.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus,
            n_centroids=n_centroids,
            quantizer=quantizer,
            kmeans_iters=kmeans_iters,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
        )
        if quantizer == "kmeans":
            # materialize the trained quantizer once (k rows): without
            # this the whole Lloyd chain re-evaluates inside BOTH
            # assignment branches (corpus + queries) on every action —
            # measured 2.4 s → 0.6 s per materialization at sf0.1. This
            # is the in-operator form of "persist the centroids as an
            # index artifact"; callers with a real artifact store use
            # `ivf_build_index` + `centroids=` instead.
            centroids = centroids.localCheckpoint()
    assign = _cell_assigner(centroids)

    c = assign(
        fan_out(corpus).select(
            F.col(id_col).alias("nbr_id"),
            F.col(vec_col).cast("array<double>").alias("nbr_vec"),
        ),
        "nbr_id",
        "nbr_vec",
        1,
    )
    q = assign(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("query_vec"),
        ),
        "query_id",
        "query_vec",
        nprobe,
    )
    return _ivf_rank(q, c, k)


def _sq_l2_sql(a: str, b: str) -> str:
    """SQL-string form of `_sq_l2` (left-to-right DOUBLE fold) — same
    analyzed expression, parsed JVM-side in one call instead of ~10
    py4j round-trips per use (see the `_kmeans_state` docstring)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (acc, x) -> acc + x)"
    )


def _argmin_code_sql(vec: str, codebook: str) -> str:
    """SQL-string form of `_argmin_code`: index of the nearest codeword,
    ties on index ascending via (d2, cid) struct comparison."""
    return (
        f"array_min(cast(transform({codebook}, (c, i) -> "
        f"struct({_sq_l2_sql(vec, 'c')}, cast(i as bigint))) "
        "as array<struct<d2:double,cid:bigint>>)).cid"
    )


# argmin cell id of a point column `_v` against the one-row broadcast
# centroid state `_cs` — the Lloyd assignment expression
_ASSIGN_CID_SQL = _argmin_code_sql("_v", "_cs")


def _kmeans_state(
    vecs: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    dim: int,
):
    """Shared Lloyd-iteration core: returns (pts, one-row centroid
    state after `iters` rounds, argmin assignment Column).

    Deterministic spec (the DuckDB oracle mirrors it exactly):
    initial centroids = the k lowest-id vectors (cid 0..k-1 in id
    order); distance = squared L2 accumulated left-to-right in DOUBLE
    (identical FP result on both engines); argmin ties break on cid
    ascending; empty clusters keep their previous centroid. `iters`
    assign/update rounds, then a final assignment.

    Scale shape: the centroid state is a ONE-ROW DataFrame holding
    `array<array<double>>` (k·dim doubles), threaded lazily through
    the rounds — no driver action until the caller's. Assignment
    broadcasts that single row to the scan (broadcast nested loop over
    one row = map-only; argmin = `array_min` over struct(d2, cid), no
    crossJoin amplification, no per-id window shuffle — both the
    k-literal inline form and a collect-per-round loop were measured
    ~3× slower at sf0.1: codegen blows up on the literal tree, and
    per-round driver actions pay a plan-compile + job barrier each).
    The mean update is ONE hash aggregate keyed on the argmin with
    `dim` per-dimension avg columns — map-side combine shrinks the
    shuffle to k·(dim+1) values per partition. NOT posexplode: a
    Generate below the argmin projection re-evaluates the argmin per
    exploded element (measured 64× re-evaluation — pitfall #1 in
    SCALE.md), and the exploded shuffle is |corpus|·dim rows anyway.
    Empty clusters keep their previous centroid via a map lookup +
    coalesce against the prior state. Lineage nests across rounds —
    bounded here (iters is small); checkpoint per round on a cluster.

    Expressions are built as SQL strings parsed JVM-side (`F.expr`),
    not as Python Column trees: constructing the per-dim aggregate
    list through py4j costs ~0.75 s PER ROUND at dim=64 (one driver
    round-trip per F.avg/F.get/alias call) while one expr-string parse
    is ~2 ms — measured 2.85 s → 1.6 s per trained quantizer at
    sf0.1, bit-identical centroids (same analyzed aggregates; only the
    construction path changes). Driver-side work, so the win holds at
    every data scale (guide §5: the driver should do almost no work).
    """
    pts = fan_out(vecs).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )

    # initial state: the k lowest-id vectors, in id order, as one row
    # (TakeOrderedAndProject — never a full collect_list of the corpus)
    state = (
        pts.orderBy(id_col)
        .limit(k)
        .groupBy()
        .agg(
            F.expr(
                f"transform(array_sort(collect_list(struct(`{id_col}`, _v))),"
                " s -> s._v)"
            ).alias("_cs")
        )
    )

    # argmin_cid of squared L2 (left-to-right DOUBLE fold), ties on cid
    # ascending — struct comparison (d2 first, cid second) encodes both
    assign_col = F.expr(_ASSIGN_CID_SQL)

    avg_arr = (
        "array(" + ", ".join(f"avg(get(_v, {i}))" for i in range(dim)) + ")"
    )
    for _ in range(iters):
        means_map = (
            pts.crossJoin(F.broadcast(state))
            .groupBy(assign_col.alias("cid"))
            .agg(F.expr(avg_arr).alias("_mv"))
            .groupBy()
            .agg(
                F.expr(
                    "map_from_entries(collect_list(struct(cid, _mv)))"
                ).alias("_m")
            )
        )
        state = state.crossJoin(F.broadcast(means_map)).select(
            F.expr(
                f"transform(sequence(0, {k - 1}), "
                "i -> coalesce(element_at(_m, cast(i as bigint)), "
                "get(_cs, i)))"
            ).alias("_cs")
        )

    return pts, state, assign_col


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 of two array<double> columns, accumulated
    left-to-right in DOUBLE — the same deterministic fold the k-means
    spec uses, so cross-engine comparisons are bit-stable."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _argmin_code(vec: Column, codebook: Column) -> Column:
    """Index of the nearest codeword (array<array<double>>) to `vec`;
    ties break on index ascending via struct comparison."""
    return F.array_min(
        F.transform(
            codebook,
            lambda c, i: F.struct(_sq_l2(vec, c), i.cast("long")),
        ).cast("array<struct<d2:double,cid:bigint>>")
    )["cid"]


def pq_codebooks(
    vecs: DataFrame,
    m: int = 4,
    ks: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Product-quantization codebooks: the vector is cut into `m`
    contiguous subspaces of dim/m and each subspace gets its own
    k-means codebook (`ks` codewords, `iters` Lloyd rounds, the exact
    deterministic per-subspace spec of `_kmeans_state` — k-lowest-id
    seeds, left-to-right DOUBLE squared-L2, cid tie-break, empty
    clusters keep their previous codeword).

    Known residual nondeterminism: codeword UPDATES use F.avg over
    doubles, whose accumulation order follows physical partitioning
    and partial-merge order — so trained codebooks are deterministic
    only up to the last ulp across reruns/engines (unlike the DISTANCE
    math, which pins a left-to-right fold). In practice the oracle
    compare has never flipped on it (means of ≤ a few thousand values;
    rel_tol 1e-6 absorbs the ulp), and a code-assignment flip would
    need two codewords within an ulp of equidistant. Pinning the means
    would require sorted collect + in-row fold — a driver-sized
    materialization of every cluster, the wrong trade at scale. If a
    deployment needs bit-stable artifacts, train once and PERSIST the
    codebooks (see `pq_build_index`) rather than re-deriving them.

    Returns ONE one-row DataFrame holding every codebook:
    `_cs{s}: array<array<double>>` (ks × dim/m doubles each) —
    broadcast state, like the IVF centroids.

    The m Lloyd problems are trained JOINTLY, not as m separate
    chains: each round explodes every row into its m (subspace,
    codeword) assignments and runs ONE hash aggregate keyed on the
    composite s·ks+cid — identical arithmetic per subspace (the
    groups never mix), but one corpus-sized shuffle per round instead
    of m, and one stage chain instead of m. Measured ~2× on the
    m-chain formulation at sf0.1; at cluster scale it is also m× fewer
    scheduled stages per round. The shuffle carries (dim/m + 1) values
    per exploded row ⇒ m·(dim/m+1) ≈ dim per original row — the same
    bytes the separate chains moved in total.
    """
    sub = dim // m
    pts = fan_out(vecs).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )

    # seeds: the ks lowest-id vectors in id order (TakeOrderedAndProject,
    # same rule as _kmeans_state), sliced per subspace
    seeds = (
        pts.orderBy("_id")
        .limit(ks)
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_id", "_v"))),
                lambda s: s["_v"],
            ).alias("_seed")
        )
    )

    # expression construction via SQL strings (one JVM parse each)
    # instead of per-element py4j Column trees — see the
    # `_kmeans_state` docstring for the measured driver-side cost
    state = seeds.selectExpr(
        *[
            f"transform(_seed, v -> slice(v, {s * sub + 1}, {sub}))"
            f" AS _cs{s}"
            for s in range(m)
        ]
    )

    for _ in range(iters):
        entries = ", ".join(
            f"struct({s * ks} + "
            + _argmin_code_sql(f"slice(_v, {s * sub + 1}, {sub})", f"_cs{s}")
            + f" AS k, slice(_v, {s * sub + 1}, {sub}) AS sv)"
            for s in range(m)
        )
        ex = (
            pts.crossJoin(F.broadcast(state))
            .select(F.expr(f"explode(array({entries}))").alias("e"))
            .selectExpr(
                "e.k AS _k",
                *[f"get(e.sv, {i}) AS _x{i}" for i in range(sub)],
            )
        )
        means_map = (
            ex.groupBy("_k")
            .agg(
                F.expr(
                    "array("
                    + ", ".join(f"avg(_x{i})" for i in range(sub))
                    + ")"
                ).alias("_mv")
            )
            .groupBy()
            .agg(
                F.expr(
                    "map_from_entries(collect_list(struct(_k, _mv)))"
                ).alias("_m")
            )
        )

        state = state.crossJoin(F.broadcast(means_map)).selectExpr(
            *[
                f"transform(sequence(0, {ks - 1}), "
                f"i -> coalesce(element_at(_m, cast(i + {s * ks} as "
                f"bigint)), get(_cs{s}, i))) AS _cs{s}"
                for s in range(m)
            ]
        )
    return state


def _pq_code_cols(m: int, sub: int) -> list[Column]:
    """Per-subspace code columns (argmin against broadcast codebook
    `_cs{s}`) over the corpus vector column `_v` — the ONE copy of the
    encode expression shared by `pq_topk` and `ivfpq_topk`."""
    return [
        F.expr(
            _argmin_code_sql(f"slice(_v, {s * sub + 1}, {sub})", f"_cs{s}")
        ).alias(f"code{s}")
        for s in range(m)
    ]


def _pq_lut_cols(m: int, sub: int) -> list[Column]:
    """Per-subspace lookup tables over the query vector column `_qv`:
    the ks squared-L2s from the query slice to every codeword."""
    return [
        F.expr(
            f"transform(_cs{s}, c -> "
            + _sq_l2_sql(f"slice(_qv, {s * sub + 1}, {sub})", "c")
            + ")"
        ).alias(f"_lut{s}")
        for s in range(m)
    ]


def _pq_adc_dist(m: int) -> Column:
    """ADC distance: Σ_s lut_s[code_s], summed left-to-right (s
    ascending) to match the oracle's term order exactly."""
    return F.expr(
        " + ".join(f"get(_lut{s}, cast(code{s} as int))" for s in range(m))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 4,
    ks: int = 4,
    iters: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN: asymmetric-distance (ADC) top-k.
    Pass `codebooks` (the one-row `_cs{s}` state from `pq_build_index`)
    to serve from a persisted artifact instead of training in-query.

    The memory end of the ANN design space. IVF prunes WHICH vectors a
    query touches; PQ shrinks WHAT is stored per vector: m codes of
    log2(ks) bits replace dim floats (here 4 bytes vs 256 — 64×; at
    100 TB of raw embeddings the codes are ~1.5 TB, the difference
    between an in-memory index and re-scanning parquet per query).
    Composable with IVF (IVF-PQ) — this operator isolates the PQ leg.

    Plan shape, all broadcast-state:
    1. `pq_codebooks` — the m Lloyd problems trained jointly, one
       corpus shuffle per round.
    2. Encode: ONE map-only projection computes all m codes per corpus
       row (argmin over a broadcast codebook each — no join, no
       shuffle; this projection IS the compressed index build).
    3. Query LUTs: per query and subspace, the ks squared-L2s from the
       query's slice to every codeword — m·ks doubles per query,
       computed once on the (tiny, broadcast) query side. That
       asymmetry is ADC: the query stays full-precision, only corpus
       vectors are quantized.
    4. Score: broadcast-nested-loop corpus_codes × query LUTs;
       dist = Σ_s lut_s[code_s] — m array lookups per pair, NO
       per-pair distance arithmetic. Top-k per query by the window,
       ties on nbr_id; ADC distances are exactly reproducible (fold
       order pinned), so ranking is cross-engine deterministic.

    Self-pairs are excluded by id. `adc_dist` is the QUANTIZED squared
    L2 — an estimate; rank quality degrades gracefully with ks, which
    is the PQ trade. Output: (query_id, nbr_id, adc_dist, rk).
    """
    from pyspark.sql import Window

    sub = dim // m
    # the trained state is ONE row (m·ks·dim/m doubles); localCheckpoint
    # materializes the Lloyd chain once instead of once per consumer
    # branch (encode + LUTs). On a cluster this is the "persist the
    # trained codebooks as an index artifact" step — done for real by
    # pq_build_index + the codebooks parameter.
    state = codebooks
    if state is None:
        state = pq_codebooks(
            corpus, m=m, ks=ks, iters=iters,
            id_col=id_col, vec_col=vec_col, dim=dim,
        ).localCheckpoint()

    encoded = (
        fan_out(corpus)
        .select(
            F.col(id_col).alias("nbr_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .crossJoin(F.broadcast(state))
        .select("nbr_id", *_pq_code_cols(m, sub))
    )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).crossJoin(F.broadcast(state))

    qluts = q.select("query_id", *_pq_lut_cols(m, sub))
    return _pq_rank(encoded, qluts, m, k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 4,
    ks: int = 4,
    iters: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    coarse: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the two ANN legs composed — the production index shape
    for billion-vector search (what FAISS IndexIVFPQ ships).

    Pass `coarse` ((cid, cvec) rows) and `codebooks` (the one-row
    `_cs{s}` state) from `ivfpq_build_index` artifacts to serve
    without retraining — the 100-TB shape; omitted pieces train
    in-query.

    IVF prunes WHICH vectors a query touches (probe `nprobe` of
    `n_centroids` cells ⇒ ~nprobe/n_centroids of the corpus); PQ
    shrinks WHAT each touched vector costs (m codes + LUT lookups, no
    full-precision distance). Together the per-query cost is
    O(nprobe/n_centroids · N · m lookups) over a RAM-resident code
    table — at 100 TB of raw embeddings neither leg alone suffices.

    This is the no-residual IVF-PQ variant (codebooks trained on raw
    vectors, not per-cell residuals — FAISS's ``by_residual=False``):
    one shared PQ codebook set serves every cell, which keeps the
    codebooks reusable index artifacts and the oracle exactly
    composable. Cell affinity is cosine (matching `ivf_topk`); scoring
    inside probed cells is ADC squared-L2 (matching `pq_topk`), ranked
    ascending with nbr_id ties.

    Plan: coarse k-means (broadcast one-row state) → map-only cell
    assignment for corpus (1 cell) and queries (nprobe cells) →
    map-only PQ encode of the corpus → equi-join on cell id with
    per-query LUTs riding the (tiny) query side → windowed top-k.
    No all-pairs stage anywhere; the only data-sized shuffles are the
    Lloyd-round aggregates and the final cell equi-join.
    """
    from pyspark.sql import Window

    sub = dim // m
    if coarse is None:
        coarse = kmeans_centroids(
            corpus, k=n_centroids, iters=iters,
            id_col=id_col, vec_col=vec_col, dim=dim,
        )
    assign = _cell_assigner(coarse)

    state = codebooks
    if state is None:
        state = pq_codebooks(
            corpus, m=m, ks=ks, iters=iters,
            id_col=id_col, vec_col=vec_col, dim=dim,
        ).localCheckpoint()
    enc = (
        assign(
            fan_out(corpus).select(
                F.col(id_col).alias("nbr_id"),
                F.col(vec_col).cast("array<double>").alias("_v"),
            ),
            "nbr_id",
            "_v",
            1,
        )
        .crossJoin(F.broadcast(state))
        .select("nbr_id", "cid", *_pq_code_cols(m, sub))
    )

    q = assign(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("_qv"),
        ),
        "query_id",
        "_qv",
        nprobe,
    ).crossJoin(F.broadcast(state))

    qluts = q.select("query_id", "cid", *_pq_lut_cols(m, sub))

    dist = _pq_adc_dist(m)
    w = Window.partitionBy("query_id").orderBy("adc_dist", "nbr_id")
    return (
        qluts.join(enc, "cid")
        .filter(F.col("nbr_id") != F.col("query_id"))
        .withColumn("adc_dist", dist)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .withColumn("adc_dist", F.round("adc_dist", 9))
        .select("query_id", "nbr_id", "adc_dist", "rk")
    )


def kmeans_assign(
    vecs: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Lloyd's k-means cluster assignment over an embedding column as
    pure DataFrame ops — spec and scale notes in `_kmeans_state`."""
    pts, state, assign_col = _kmeans_state(
        vecs, k, iters, id_col, vec_col, dim
    )
    return pts.crossJoin(F.broadcast(state)).select(
        F.col(id_col), assign_col.alias("cluster")
    )


def kmeans_centroids(
    vecs: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """(cid, cvec) centroid rows after `iters` Lloyd rounds — the
    production coarse quantizer to hand to `ivf_topk(centroids=...)`.
    k rows total, so the posexplode here is k elements of one row —
    nothing like the corpus-sized Generate `_kmeans_state` avoids."""
    _, state, _ = _kmeans_state(vecs, k, iters, id_col, vec_col, dim)
    return state.select(
        F.posexplode("_cs").alias("cid", "cvec")
    ).select(F.col("cid").cast("long").alias("cid"), "cvec")


def near_dup_canonical(
    corpus: DataFrame, pairs: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Embedding-cosine near-dup DEDUP: map every vector to a canonical
    representative (one-hop min over its near-duplicate pairs; vectors
    with no near-dup map to themselves).

    One-hop, not full transitive closure — chains longer than one hop
    keep distinct canonicals (full closure is an iterative connected-
    components job; see GraphFrames or an iterated min-propagation
    join, deliberately out of scope for a single declarative query).
    """
    canon = pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("_canon")
    )
    return (
        corpus.select(id_col)
        .join(canon, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_canon"), F.col(id_col)).alias("canonical_id"),
        )
    )


def connected_components(
    vertices: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """FULL transitive closure of near-dup pairs: iterative min-label
    propagation until fixpoint → (id, component_id = min id reachable).

    This is the genuinely iterative algorithm ``near_dup_canonical``
    (one-hop) punts on: each round every vertex adopts the smallest
    label among itself and its neighbors; rounds needed = graph
    diameter (near-dup clusters are star-ish → 2-3). Each round is one
    equi-join + hash agg; lineage is truncated per round (see
    `checkpointing.materialize`: localCheckpoint by default, reliable
    checkpoint into `checkpoint_dir` on a cluster). Convergence is
    detected with a count of changed labels — checked every SECOND
    round (a propagation round applied at fixpoint is a no-op, so
    checking after pairs of rounds halves the count jobs at the cost
    of at most one idempotent extra round of tiny compute). The
    symmetrized edge relation is checkpointed once — callers that
    pass an unmaterialized `pairs` (an LSH-verify tail) would
    otherwise re-derive it in every round of the loop.
    """
    from tugas_2_big_data_spark.operators.checkpointing import materialize

    edges = materialize(
        pairs.selectExpr("id_a AS src", "id_b AS dst").unionAll(
            pairs.selectExpr("id_b AS src", "id_a AS dst")
        ),
        checkpoint_dir,
    )
    # not cut: a projection of `vertices` that only round 1 reads, and
    # round 1's output is cut
    labels = vertices.select(
        F.col(id_col).alias("v"), F.col(id_col).alias("label")
    )

    def _round(labels: DataFrame) -> DataFrame:
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["v"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # pointer jumping: also adopt the label OF my current label
        # (labels form a min-forest, label(v) <= v, so this halves
        # path lengths each round) — rounds needed drop from the
        # component DIAMETER to its log. Star-ish near-dup families
        # never noticed, but a chained-boilerplate component longer
        # than max_iter used to exhaust the loop silently.
        jump = labels.select(
            F.col("v").alias("_jv"), F.col("label").alias("_jl")
        )
        best = F.least(
            F.col("label"),
            F.coalesce("nbr_label", "label"),
            F.coalesce("_jl", "label"),
        )
        # the cut gives the next round's self-joins fresh exprIds
        return materialize(
            labels.join(nbr_min, labels["v"] == nbr_min["src"], "left")
            .join(jump, F.col("label") == jump["_jv"], "left")
            .select(
                F.col("v"),
                best.alias("label"),
                (best < F.col("label")).alias("_changed"),
            ),
            checkpoint_dir,
        )

    converged = False
    done = 0
    while done < max_iter:
        new_labels = labels
        for _ in range(min(2, max_iter - done)):
            new_labels = _round(new_labels.drop("_changed"))
            done += 1
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        # an unconverged closure is a WRONG closure (labels still
        # mid-propagation) — refuse rather than return it silently
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"rounds; with pointer jumping this needs a component of "
            f"diameter > 2^{max_iter} — raise max_iter"
        )
    return labels.select(
        F.col("v").alias(id_col), F.col("label").alias("component_id")
    )


def lsh_near_dup_pairs(
    corpus: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    threshold: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Near-duplicate vector pairs via hyperplane-LSH bucketing + exact
    cosine within buckets (id_a < id_b)."""
    planes = hyperplanes(n_planes, dim, seed)
    v = fan_out(corpus).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).withColumn("bucket", lsh_bucket("vec", planes))
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .withColumn("cosine", cosine(F.col("a.vec"), F.col("b.vec")))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round("cosine", 9).alias("cosine"),
        )
    )


def semdedup(
    corpus: DataFrame,
    k: int | None = None,
    iters: int = 2,
    threshold: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means-cluster the embeddings,
    then WITHIN each cluster drop every vector whose cosine to a
    lower-id cluster member is >= threshold. Returns the kept rows as
    (id, cluster).

    This is the semantic-dedup recipe for corpora where pairwise cosine
    over everything is impossible: the quadratic compare is confined to
    cluster cells (an equi-join on the cluster id), so cost is
    sum(|cell|²) instead of |corpus|² — the same cell-bucketing bet IVF
    makes for search, reused for dedup. The cluster assignment itself
    is the map-only broadcast-state k-means of `_kmeans_state`.

    Embeddings are unit-L2-normalized BEFORE clustering (zero vectors
    pass through unscaled): k-means cells are built by squared L2, and
    only on the unit sphere does L2 proximity coincide with the cosine
    geometry the dedup compares with — unnormalized, a scaled copy
    (cosine 1.0) can land cells away from its original and never be
    compared. Cosine itself is normalization-invariant, so thresholds
    keep their meaning.

    Caveat (inherent to SemDeDup, worth stating): near-duplicates that
    k-means splits across cell boundaries are NOT compared — recall is
    traded for the quadratic confinement; raise k for tighter cells
    (cheaper pairs, more boundary misses) or run the LSH-bucketed
    `lsh_near_dup_pairs` when boundary recall matters.
    """
    # cell count defaults to the same √N policy as IVF
    # (ivf_ncentroids): with k ≈ √N, cells hold ~√N vectors, so the
    # in-cell pairwise work Σ|cell|² ≈ k·(N/k)² = N²/k = N^1.5 —
    # versus N²/k at FIXED k, which stays quadratic in the corpus.
    # The cid-join parallelism floor also grows with the corpus
    # instead of staying a constant handful.
    if k is None:
        k = ivf_ncentroids(corpus.count())
    # norm projected to a real column before the division transform —
    # an inline outer expression re-evaluates per element (SCALE.md
    # pitfall 1: O(dim²) per row)
    v = F.col(vec_col).cast("array<double>")
    unit = (
        corpus.select(F.col(id_col), v.alias("_v0"))
        .select(
            F.col(id_col),
            F.col("_v0"),
            F.sqrt(
                F.aggregate("_v0", F.lit(0.0), lambda acc, x: acc + x * x)
            ).alias("_n"),
        )
        .select(
            F.col(id_col),
            F.when(F.col("_n") == 0, F.col("_v0"))
            .otherwise(F.transform("_v0", lambda x: x / F.col("_n")))
            .alias(vec_col),
        )
    )
    pts, state, assign_col = _kmeans_state(
        unit, k, iters, id_col, vec_col, dim
    )
    # materialize the assignment once: it feeds BOTH self-join branches
    # and the final anti-join — three consumers that would otherwise
    # re-run the Lloyd chain each (checkpointing.materialize:
    # localCheckpoint by default, reliable checkpoint via
    # `checkpoint_dir` on a cluster). ALSO the parallelism floor: the
    # pairwise join keys on cid, so k bounds its parallelism — size k
    # to the cluster (thousands of cells at 100 TB), never a handful.
    from tugas_2_big_data_spark.operators.checkpointing import materialize

    assigned = materialize(
        pts.crossJoin(F.broadcast(state)).select(
            F.col(id_col), F.col("_v"), assign_col.alias("cid")
        ),
        checkpoint_dir,
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    # vectors are unit-normalized above, so cosine degenerates to the
    # bare dot product: one fold per pair instead of three + a divide
    # (zero vectors pass through unscaled → dot 0 → never a dup)
    dot = F.aggregate(
        F.zip_with(F.col("a._v"), F.col("b._v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    losers = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col(f"a.{id_col}") > F.col(f"b.{id_col}")),
        )
        .withColumn("cos", dot)
        .filter(F.col("cos") >= threshold)
        .select(F.col(f"a.{id_col}").alias(id_col))
        .distinct()
    )
    return assigned.join(losers, id_col, "left_anti").select(
        F.col(id_col), F.col("cid").cast("long").alias("cluster")
    )


def hash_embed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
) -> DataFrame:
    """Feature-hashed bag-of-words document vectors (hashingTF):
    each lowercased whitespace token increments bucket
    md5_24(word) % dim of a dense `dim`-length count vector — the
    text → vector bridge that lets the ANN/dedup operators run over
    corpora with no model embeddings.

    Map-only: tokens, buckets, and the dense vector are built in-row
    (aggregate fold over the words array into a length-`dim`
    accumulator — no explode, no (doc, bucket) shuffle, no zero-fill
    join). The md5-derived bucket makes values portable to the DuckDB
    oracle bit-for-bit, unlike xxhash/murmur which DuckDB lacks.
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    t = (
        df.select(F.col(id_col), words.alias("_w"))
        .select(
            F.col(id_col),
            F.filter("_w", lambda w: w != F.lit("")).alias("_w"),
        )
        # token-less docs produce NO vector (not a zero vector) — the
        # same drop policy as shingle_sets, and what the oracle does
        .filter(F.size("_w") > 0)
    )
    bucket = lambda w: (  # noqa: E731
        F.conv(F.substring(F.md5(w), 1, 6), 16, 10).cast("long") % dim
    )
    t = t.select(
        F.col(id_col), F.transform("_w", bucket).alias("_b")
    )
    vec = F.aggregate(
        "_b",
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, b: F.transform(
            acc, lambda v, i: F.when(i == b.cast("int"), v + 1.0).otherwise(v)
        ),
    )
    return t.select(F.col(id_col).alias("vec_id"), vec.alias("embedding"))


def lsh_bucket_state(
    corpus: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """(id, vec, bucket) — the persistable hyperplane-LSH state of an
    embedding corpus: each vector with its sign-pattern bucket key.
    Map-only; at scale this is the artifact an embedding-ingest dedup
    gate keeps (write parquet partitioned/bucketed by `bucket`), the
    vector twin of the text family's `dedup.lsh_band_keys` +
    shingle-set state."""
    planes = hyperplanes(n_planes, dim, seed)
    return (
        fan_out(corpus)
        .select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        .withColumn("bucket", lsh_bucket("vec", planes))
    )


def lsh_bucket_recall(
    batch: DataFrame,
    seen_state: DataFrame,
    threshold: float = 0.999,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Measured recall of the hyperplane-bucket gate: of the TRUE
    near-dup pairs (exact cosine ≥ threshold, batch × seen), what
    fraction lands in the same sign-pattern bucket — i.e. what
    `incremental_embedding_near_dup` would actually catch. One row:
    (n_truth, n_hits, recall). The vector twin of
    `dedup.lsh_candidate_recall`; the n_planes trade
    (P[same bucket] = (1 − θ/π)^n_planes) measured on the real corpus
    instead of asserted from the formula.

    The exact truth leg is a broadcast-batch × state scan — a
    MEASUREMENT pass (run on a batch sample at 100 TB, like
    `ann_ivf_recall`'s exact leg), not a production path."""
    planes = hyperplanes(n_planes, dim, seed)
    b = batch.select(
        F.col(id_col).alias("new_id"),
        F.col(vec_col).cast("array<double>").alias("new_vec"),
    ).withColumn("new_bucket", lsh_bucket("new_vec", planes))
    s = seen_state.select(
        F.col(id_col).alias("seen_id"),
        F.col("vec").alias("seen_vec"),
        "bucket",
    )
    truth = s.join(
        F.broadcast(b),
        cosine(F.col("new_vec"), F.col("seen_vec")) >= threshold,
    )
    return (
        truth.agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("new_bucket") == F.col("bucket"), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_hits"),
        )
        # a corpus with NO true near-dup pairs must report recall 1.0
        # (the gate missed nothing), not a surprise null from 0/0
        .withColumn(
            "recall",
            F.when(F.col("n_truth") > 0, F.col("n_hits") / F.col("n_truth"))
            .otherwise(F.lit(1.0)),
        )
    )


def merge_bucket_state(
    seen_state: DataFrame,
    accepted: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """State-merge half of the incremental EMBEDDING near-dup loop:
    fold a batch's ACCEPTED vectors into the persisted
    `lsh_bucket_state`, producing the state the NEXT batch is gated
    against (state₁ = state₀ ⊎ bucket_state(accepted)). Same
    planes/seed as the state so later batches can find the newly
    accepted vectors.

    APPEND-ONLY: bucketing the accepted batch is map-only and
    batch-sized, and the merge is a union — at scale, a parquet APPEND
    to the bucket-partitioned state table — so per-batch cost is
    independent of state size."""
    return seen_state.unionByName(
        lsh_bucket_state(accepted, n_planes, dim, id_col, vec_col, seed)
    )


def incremental_embedding_near_dup(
    batch: DataFrame,
    seen_state: DataFrame,
    threshold: float = 0.999,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Incremental NEAR-dup detection for EMBEDDINGS: which vectors of
    a new ingest batch are near-duplicates (cosine ≥ threshold) of the
    already-ingested corpus — the vector-modality twin of
    `dedup.incremental_near_dup`, closing the incremental story across
    both modalities (a re-encoded or rescaled copy of a stored item
    lands in the same hyperplane bucket and cosine-matches exactly).

    Output: (new_id, seen_id, cosine). All per-batch work is
    batch-sized: the batch buckets map-only (same planes/seed as the
    state), then ONE equi-join against the persisted `lsh_bucket_state`
    touches only buckets the batch hashes into, and the exact cosine
    verify prices candidate rows only — never corpus × batch.

    The bucket join pins SHUFFLE_HASH on the state side: the state
    carries the full seen VECTORS (an array payload), and the repo's
    measured AQE hazard (a size-misestimated array relation riding a
    broadcast) applies exactly here — the state is the corpus-sized
    side, the one relation that must never broadcast. SHUFFLE_HASH
    (not MERGE, the pin the shingle-set verify joins moved to after
    their 1000x hash-build wall): vector rows are sub-KB fixed-width,
    so the build stays bounded for another decade with corpus-sized
    shuffle partitions, and the measured merge variant cost ~60% more
    at the 100x tier (24.4x -> 39.0x on ann_incremental_two_batches)
    because sorting the state forfeits the bucketed co-location that
    lets only the batch shuffle (tools/probe_incremental_state.py).
    """
    planes = hyperplanes(n_planes, dim, seed)
    b = (
        batch.select(
            F.col(id_col).alias("new_id"),
            F.col(vec_col).cast("array<double>").alias("new_vec"),
        )
        .withColumn("bucket", lsh_bucket("new_vec", planes))
    )
    s = seen_state.select(
        F.col(id_col).alias("seen_id"),
        F.col("vec").alias("seen_vec"),
        "bucket",
    )
    return (
        b.join(s.hint("shuffle_hash"), "bucket")
        .withColumn("cosine", cosine(F.col("new_vec"), F.col("seen_vec")))
        .filter(F.col("cosine") >= threshold)
        .select("new_id", "seen_id", F.round("cosine", 9).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# scalar quantization (SQ8): per-dimension uniform 8-bit codes
# ---------------------------------------------------------------------------


def sq_bounds(
    corpus: DataFrame, dim: int = 64, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension [min, max] over the corpus as ONE row of two
    length-`dim` arrays — the whole trained state of the SQ8
    quantizer. One map-side-combining aggregate, broadcastable
    everywhere (2·dim doubles ≈ 1 KB)."""
    v = corpus.select(F.col(vec_col).cast("array<double>").alias("_v"))
    # SQL-string construction (2 parses, not 2·dim py4j agg builds) —
    # see the _kmeans_state docstring
    return v.agg(
        F.expr(
            "array("
            + ", ".join(f"min(get(_v, {i}))" for i in range(dim))
            + ")"
        ).alias("mins"),
        F.expr(
            "array("
            + ", ".join(f"max(get(_v, {i}))" for i in range(dim))
            + ")"
        ).alias("maxs"),
    )


def sq_encode(
    corpus: DataFrame,
    bounds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to `dim` uniform 8-bit codes: code_i =
    floor((x_i - min_i) / (max_i - min_i) · 256), clamped to [0, 255]
    (x_i = max_i lands at 256 and clamps). Map-only over the corpus —
    the one full pass SQ build pays. 4× compression at dim float32 →
    dim bytes (the codes travel as ints here; a production sink packs
    them into a `binary` column — the plumbing, not the math)."""
    c = corpus.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    return c.join(F.broadcast(bounds)).select(
        "nbr_id", _sq_codes_expr(F.col("_v")).alias("codes")
    )


def _sq_codes_expr(v: Column) -> Column:
    """SQ8 code array for a double-vector column, against broadcast
    `mins`/`maxs` bounds columns in scope."""
    return F.transform(
        v,
        lambda x, i: F.when(
            F.get("maxs", i) == F.get("mins", i), F.lit(0)
        )
        .otherwise(
            F.least(
                F.lit(255),
                F.floor(
                    (x - F.get("mins", i))
                    / (F.get("maxs", i) - F.get("mins", i))
                    * F.lit(256.0)
                ),
            )
        )
        .cast("int"),
    )


def _sq_reconstruct() -> Column:
    """Midpoint decode of an SQ8 codes array against broadcast bounds
    columns: recon_i = min_i + (code_i + 0.5) · (max_i - min_i) / 256."""
    return F.transform(
        F.col("codes"),
        lambda cd, i: F.get("mins", i)
        + (cd + F.lit(0.5))
        * (F.get("maxs", i) - F.get("mins", i))
        / F.lit(256.0),
    )


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 ADC top-k: score every corpus vector from its 8-bit codes
    (midpoint reconstruction, squared-L2 to the full-precision query —
    the FAISS IndexScalarQuantizer SQ8 shape). Training is two
    length-`dim` arrays (no k-means — deterministic, one aggregate);
    the scan cost matches brute force in FLOPs but reads 4× fewer
    bytes, which is what an IO-bound 100 TB corpus scan actually pays
    for; compose with the IVF cell join when compute must shrink too.
    Per-dim fidelity is far higher than PQ at the same budget when dim
    is small; see `ann_sq_recall` for the measured number."""
    from pyspark.sql import Window

    # the one-row bounds aggregate feeds the encode projection AND
    # the reconstruction broadcast — cut it so the corpus pass runs once
    bounds = sq_bounds(corpus, dim, vec_col).localCheckpoint()
    codes = sq_encode(corpus, bounds, id_col, vec_col)
    recon = (
        fan_out(codes)
        .join(F.broadcast(bounds))
        .select("nbr_id", _sq_reconstruct().alias("_rv"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    scored = recon.join(
        F.broadcast(q), F.col("nbr_id") != F.col("query_id")
    ).withColumn("adc_dist", _sq_l2(F.col("_qv"), F.col("_rv")))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("nbr_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "nbr_id",
            F.round("adc_dist", 9).alias("adc_dist"),
            "rk",
        )
    )


def sq_build_index(
    corpus: DataFrame,
    path: str,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the complete SQ8 artifact: the one-row bounds state at
    `{path}/bounds` and the encoded corpus at `{path}/codes` — the 4×-
    compressed relation serving actually scans. The encode pass is the
    one full-corpus cost and belongs to BUILD; serving never touches
    raw vectors (same artifact-is-the-index rule as the IVF/PQ
    builders)."""
    import posixpath

    from tugas_2_big_data_spark.sources import sinks

    bounds = sq_bounds(corpus, dim, vec_col).localCheckpoint()
    sinks.write_parquet(bounds, posixpath.join(path, "bounds"))
    sinks.write_parquet(
        sq_encode(corpus, bounds, id_col, vec_col),
        posixpath.join(path, "codes"),
    )


def sq_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve SQ8 ADC top-k from the persisted artifact: broadcast the
    one-row bounds, reconstruct + score the codes scan — zero
    training, zero raw-vector reads at query time. Bit-identical to
    `sq_topk` (same decode, same fold), so it shares its oracle."""
    import posixpath

    from pyspark.sql import Window

    bounds = spark.read.parquet(posixpath.join(path, "bounds"))
    codes = spark.read.parquet(posixpath.join(path, "codes"))
    recon = codes.join(F.broadcast(bounds)).select(
        "nbr_id", _sq_reconstruct().alias("_rv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    scored = recon.join(
        F.broadcast(q), F.col("nbr_id") != F.col("query_id")
    ).withColumn("adc_dist", _sq_l2(F.col("_qv"), F.col("_rv")))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("nbr_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "nbr_id",
            F.round("adc_dist", 9).alias("adc_dist"),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# IVF-SQ: coarse cells for candidate pruning × SQ8 codes for compression
# ---------------------------------------------------------------------------


def _ivfsq_rank(q_assigned: DataFrame, recon: DataFrame, k: int) -> DataFrame:
    """Shared IVF-SQ serve core: probed-cell equi-join + squared-L2 ADC
    over midpoint-reconstructed SQ8 codes + per-query top-k (ADC asc,
    ties on nbr_id — the IVF-PQ ranking convention)."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("nbr_id")
    )
    return (
        q_assigned.join(recon, "cid")
        .filter(F.col("nbr_id") != F.col("query_id"))
        .withColumn("adc_dist", _sq_l2(F.col("query_vec"), F.col("_rv")))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "nbr_id",
            F.round("adc_dist", 9).alias("adc_dist"),
            "rk",
        )
    )


def ivfsq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 8,
    nprobe: int = 2,
    k: int = 5,
    kmeans_iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-SQ approximate top-k (the FAISS IndexIVFScalarQuantizer
    shape): coarse k-means cells prune candidates to O(nprobe·N/nlist)
    per query, SQ8 codes price them — 4× less IO than flat IVF inside
    every probed cell, far higher per-dim fidelity than PQ at this
    dim. Completes the quantization matrix: IVF (pruning only),
    SQ/PQ (compression only), IVF-SQ / IVF-PQ (both). Same coarse
    quantizer, assignment expression, and ADC conventions as the
    sibling operators — the oracle composes their proven CTE
    generators verbatim."""
    cents = train_ivf_centroids(
        corpus,
        n_centroids=n_centroids,
        quantizer="kmeans",
        kmeans_iters=kmeans_iters,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
    ).localCheckpoint()
    bounds = sq_bounds(corpus, dim, vec_col)
    assign = _cell_assigner(cents)
    cells = assign(
        fan_out(corpus).select(
            F.col(id_col).alias("nbr_id"),
            F.col(vec_col).cast("array<double>").alias("nbr_vec"),
        ),
        "nbr_id",
        "nbr_vec",
        1,
    )
    recon = (
        cells.join(F.broadcast(bounds))
        .select(
            "cid",
            "nbr_id",
            _sq_codes_expr(F.col("nbr_vec")).alias("codes"),
        )
        .join(F.broadcast(bounds))
        .select("cid", "nbr_id", _sq_reconstruct().alias("_rv"))
    )
    q = assign(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("query_vec"),
        ),
        "query_id",
        "query_vec",
        nprobe,
    )
    return _ivfsq_rank(q, recon, k)


def ivfsq_build_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    kmeans_iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Persist the complete IVF-SQ artifact: centroids, the one-row SQ
    bounds, and the cell-assigned CODES table ((cid, nbr_id, codes),
    hive-partitioned by cid, repartitioned by cid first so each cell's
    codes coalesce into contiguous files). The artifact IS the index:
    the full-corpus assignment + encode pass is build work, and what
    serving scans is the 4×-compressed inverted file with unprobed
    cells prunable at the parquet scan — the IO story of IVF and the
    compression story of SQ, multiplied.

    ``meta_cols`` carries filterable attribute columns into the codes
    table (same contract as `ivf_build_index`): metadata-filtered
    search then pushes its predicate down to the codes parquet scan
    (`ivfsq_topk_from_index(where=…)`) — filtered BEFORE decoding and
    ranking, pruning row groups inside each probed cell."""
    import posixpath

    from tugas_2_big_data_spark.sources import sinks

    cents = train_ivf_centroids(
        corpus,
        n_centroids=n_centroids,
        quantizer="kmeans",
        kmeans_iters=kmeans_iters,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
    ).localCheckpoint()
    sinks.write_parquet(cents, posixpath.join(path, "centroids"))
    bounds = sq_bounds(corpus, dim, vec_col).localCheckpoint()
    sinks.write_parquet(bounds, posixpath.join(path, "bounds"))
    assign = _cell_assigner(cents)
    cells = assign(
        fan_out(corpus).select(
            F.col(id_col).alias("nbr_id"),
            F.col(vec_col).cast("array<double>").alias("nbr_vec"),
            *[F.col(c) for c in meta_cols],
        ),
        "nbr_id",
        "nbr_vec",
        1,
    )
    codes = cells.join(F.broadcast(bounds)).select(
        "cid",
        "nbr_id",
        _sq_codes_expr(F.col("nbr_vec")).alias("codes"),
        *meta_cols,
    )
    sinks.write_parquet(
        codes.repartition(F.col("cid")),
        posixpath.join(path, "codes"),
        partition_by=["cid"],
    )


def ivfsq_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    where: Column | None = None,
) -> DataFrame:
    """Serve IVF-SQ from the persisted artifact: assign only the query
    batch (broadcast one-row centroid state), equi-join the probed
    cells' code partitions, decode + ADC — no training, no assignment,
    no encode, no raw-vector reads at query time. Bit-identical to
    `ivfsq_topk` (parquet round-trips the doubles and int codes
    exactly) — same oracle.

    ``where`` (over columns built in via `meta_cols`) is metadata-
    filtered search with the same contract as
    `ivf_topk_from_index(where=…)`: applied directly to the codes
    read, so it reaches the parquet scan as a pushed filter and
    candidates are filtered BEFORE decode + ranking — top-k ranks
    among vectors satisfying the predicate."""
    import posixpath

    cents = spark.read.parquet(posixpath.join(path, "centroids"))
    bounds = spark.read.parquet(posixpath.join(path, "bounds"))
    codes = spark.read.parquet(posixpath.join(path, "codes"))
    if where is not None:
        codes = codes.filter(where)
    recon = codes.join(F.broadcast(bounds)).select(
        F.col("cid").cast("long"),
        "nbr_id",
        _sq_reconstruct().alias("_rv"),
    )
    assign = _cell_assigner(cents)
    q = assign(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("query_vec"),
        ),
        "query_id",
        "query_vec",
        nprobe,
    )
    return _ivfsq_rank(q, recon, k)


def standardized_norm_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Distribution of row L2 norms AFTER per-dimension z-scoring —
    the isotropy diagnostic run before trusting cosine geometry: for
    an isotropic corpus the standardized norm concentrates at
    sqrt(d) (isotropy_ratio ≈ 1, small std); a heavy tail or a ratio
    far from 1 means a few dims or rows dominate and whitening (or
    emb_top_eigen's collapse check) is warranted. One summary row:
    (n_vectors, mean_norm, std_norm, min_norm, max_norm,
    isotropy_ratio = mean_norm / sqrt(d)).

    Plan: per-dim (mu, sigma_pop) from ONE posexplode + (dim) hash
    aggregate (map-side combine, d output rows); the d-row stats fold
    to a single ordered-array row and BROADCAST back onto the corpus;
    z-scoring and the norm are in-row zip_with/aggregate HOFs
    (map-only); one final 1-row aggregate. The corpus is scanned
    twice (stats, norms), shuffled never. sigma = 0 dims contribute 0
    (constant dims carry no geometry)."""
    v = fan_out(df).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    stats = (
        v.select(F.posexplode("_v").alias("_d", "_x"))
        .groupBy("_d")
        .agg(
            F.avg("_x").alias("_mu"),
            F.stddev_pop("_x").alias("_sigma"),
        )
    )
    packed = stats.agg(
        F.array_sort(
            F.collect_list(F.struct("_d", "_mu", "_sigma"))
        ).alias("_s")
    ).select(
        F.transform("_s", lambda s: s["_mu"]).alias("_mus"),
        F.transform("_s", lambda s: s["_sigma"]).alias("_sigmas"),
        F.size("_s").alias("_dim"),
    )
    z = (
        v.crossJoin(F.broadcast(packed))
        .select(
            F.zip_with(
                F.zip_with(
                    "_v", "_mus", lambda x, m: x - m
                ),
                "_sigmas",
                lambda c, s: F.when(s == 0, F.lit(0.0)).otherwise(c / s),
            ).alias("_z"),
            "_dim",
        )
        .select(
            F.sqrt(
                F.aggregate(
                    "_z", F.lit(0.0), lambda acc, x: acc + x * x
                )
            ).alias("_nrm"),
            "_dim",
        )
    )
    return z.groupBy("_dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(F.avg("_nrm"), round_to).alias("mean_norm"),
        F.round(F.stddev_samp("_nrm"), round_to).alias("std_norm"),
        F.round(F.min("_nrm"), round_to).alias("min_norm"),
        F.round(F.max("_nrm"), round_to).alias("max_norm"),
        F.round(
            F.avg("_nrm") / F.sqrt(F.first("_dim").cast("double")),
            round_to,
        ).alias("isotropy_ratio"),
    ).drop("_dim")


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Population covariance matrix of an embedding column as (i, j,
    cov) rows (full d x d, 0-based dims) — the statistic behind
    whitening / PCA preprocessing of embedding corpora before
    clustering or SemDeDup.

    The matrix is symmetric, so only the UPPER TRIANGLE (i <= j) is
    computed and emitted — d(d+1)/2 rows.

    Plan, one pass and ZERO joins over the corpus: each row explodes
    its own d(d+1)/2 (i, j, xi*xj) products IN-ROW (a single generator
    — no self-join, so the corpus is never shuffled by vec_id), and
    the (i, j) hash aggregate partial-aggregates map-side, shuffling
    only ~tasks * d^2/2 partial cells whatever the corpus size.
    Per-dim means ride the same cells: cov = E[xy] - E[x]E[y] with the
    mean relation (d rows, diagonal-derived) broadcast back onto the
    cells.

    cov is rounded to ``round_to`` decimals IN the operator (and the
    same in the oracle): near-zero covariances would otherwise
    hash-mismatch on summation-order last bits. Components are cast
    to double BEFORE multiplying — float*float underflows the
    products' low bits differently per engine.

    Scale note: for d in the hundreds, block the dims (e.g. 64x64
    tiles) to bound the per-row explosion; at d=64 the triangle is
    2080 cells."""
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # TWO chained generators instead of one explode over a nested
    # transform-of-transforms building d(d+1)/2 four-field structs
    # in-row: the struct-array construction dominated the expression's
    # codegen/JIT cost (first-run 7.7 s vs 2.5 s steady at sf0.1,
    # EMB_COV_VARIANCE.json) and its transient allocation. Row counts,
    # pair order (row-major: i ascending, then j), and the xi*xj
    # double products are identical, so every downstream partial sum
    # accumulates in the same order — bit-equal cells.
    prods = (
        df.select(F.posexplode(emb).alias("_i0", "x"), emb.alias("_e"))
        .select(
            F.col("_i0").alias("i"),
            F.col("x"),
            # only dims j >= i: slice element m (0-based) is j = i + m
            F.posexplode(
                F.slice(
                    F.col("_e"), F.col("_i0") + 1, F.size("_e") - F.col("_i0")
                )
            ).alias("_m", "_xj"),
        )
        .select(
            "i",
            (F.col("i") + F.col("_m")).alias("j"),
            (F.col("x") * F.col("_xj")).alias("p"),
            "x",
        )
    )
    cells = prods.groupBy("i", "j").agg(
        F.sum("p").alias("_sp"),
        F.count(F.lit(1)).alias("_n"),
        F.sum("x").alias("_sx"),
    )
    # per-dim means from the diagonal cells (i == j carries sum(x_i))
    means = cells.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("_d"),
        (F.col("_sx") / F.col("_n")).alias("_mean"),
    )
    return (
        cells.join(
            F.broadcast(means.select(F.col("_d").alias("i"), F.col("_mean").alias("_mi"))),
            "i",
        )
        .join(
            F.broadcast(means.select(F.col("_d").alias("j"), F.col("_mean").alias("_mj"))),
            "j",
        )
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            # + 0.0 normalizes IEEE signed zero: a covariance whose
            # true value straddles 0 can sum to a tiny NEGATIVE on one
            # engine and a tiny POSITIVE on the other; both round to
            # zero but -0.0 and +0.0 hash differently (seen live at
            # sf0.01, cell (5, 9)). -0.0 + 0.0 == +0.0 under
            # round-to-nearest, so both engines converge.
            (
                F.round(
                    F.col("_sp") / F.col("_n") - F.col("_mi") * F.col("_mj"),
                    round_to,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def rrf_fuse(
    ranked_legs: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.) of N ranked candidate
    lists: rrf(d) = Σ_legs 1/(c + rank_leg(d)) over the legs where d
    appears (the standard hybrid-retrieval combiner — rank-based, so
    BM25 scores and cosine similarities fuse without any score
    normalization). Each leg is (id_col, rank) with rank 1-based;
    output: (id_col, rrf_score, rank_1..rank_N nullable) top-k by
    (rrf DESC, id) — deterministic because ranks are integers and the
    reciprocal sum of identical rank sets is bit-identical on any
    engine.

    Scale: legs are top-N candidate lists (sketch-sized — the corpus
    work happened inside each leg's retrieval), so the fusion is a
    full-outer join of bounded relations; k-way fusion folds joins
    left-to-right."""
    fused = None
    for i, leg in enumerate(ranked_legs, start=1):
        l_i = leg.select(
            F.col(id_col),
            F.col("rank").cast("long").alias(f"rank_{i}"),
        )
        fused = l_i if fused is None else fused.join(l_i, id_col, "full")
    score = None
    for i in range(1, len(ranked_legs) + 1):
        term = F.when(
            F.col(f"rank_{i}").isNotNull(),
            1.0 / (F.lit(float(c)) + F.col(f"rank_{i}")),
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    return (
        fused.withColumn("rrf_score", score)
        .orderBy(F.desc("rrf_score"), F.col(id_col))
        .limit(k)
    )


def compact_index_relation(
    spark, path: str, relation: str = "invfile"
) -> None:
    """Maintenance half of the ANN append loop (the index twin of
    `bucketing.compact_appended_state`): after B frozen-centroid
    appends each cell directory of the cid-partitioned relation holds
    ~B small files; this rewrites the relation to ONE file per cell —
    one relation-sized shuffle (repartition by cid puts each cell in
    exactly one task, so dynamic partitioning emits exactly one file
    per cell), restoring scan efficiency while serving results stay
    bit-identical (pinned by unit test and by the registered query
    sharing the UN-compacted oracle).

    The rewrite goes to a sibling directory and is swapped in by
    renames — never an in-place overwrite of a path being lazily read.
    Crash recovery: the pre-compaction copy is kept at
    ``<relation>._precompact`` until the swapped-in relation has been
    VERIFIED readable (a fresh parquet read of the new directory), so
    a crash at any point leaves at least one complete copy on disk —
    between the two renames the data lives at `._precompact`; rename
    it back to recover. The swap is not transactional for CONCURRENT
    readers of the same artifact dir; the artifact store's mtime-keyed
    layout (queries_training._ann_artifact_dir) gives each corpus
    version its own key, and a production deployment compacts under a
    table format's transaction — same caveat as the append itself."""
    import posixpath
    import shutil

    rel = posixpath.join(path, relation)
    tmp = rel + "._compacting"
    old = rel + "._precompact"
    if not os.path.exists(rel) and os.path.exists(old):
        # a previous run crashed between the two renames: the served
        # path is missing and the data lives only in ._precompact —
        # restore it instead of letting the cleanup below delete the
        # sole surviving copy.
        os.rename(old, rel)
    df = spark.read.parquet(rel)
    part_cols = [c for c in ("cid",) if c in df.columns]
    if not part_cols:
        # repartition(*[]) raises TypeError; a relation without the
        # cell key has nothing to compact by — refuse loudly rather
        # than rewrite it into an unpartitioned layout.
        raise ValueError(
            f"relation {rel!r} has no 'cid' column; compact_index_relation "
            "only compacts cell-partitioned index relations"
        )
    (
        df.repartition(*[F.col(c) for c in part_cols])
        .write.mode("overwrite")
        .partitionBy(*part_cols)
        .parquet(tmp)
    )
    shutil.rmtree(old, ignore_errors=True)
    os.rename(rel, old)
    os.rename(tmp, rel)
    # verify the swapped-in relation is readable BEFORE deleting the
    # only remaining pre-compaction copy (ADVICE r6: a crash between
    # the renames used to leave the data solely in ._precompact while
    # the unconditional rmtree deleted it on the next run).
    spark.read.parquet(rel).schema
    shutil.rmtree(old)


def covariance_top_eigen(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """Dominant eigenvector of the embedding covariance matrix by
    FIXED-count power iteration -> (dim, loading, eigenvalue) rows:
    the first principal axis an embedding pipeline inspects before
    whitening/PCA (a single direction holding most variance means the
    encoder collapsed, and ANN recall targets are unreachable).

    Deterministic closed form (fixed iterations from the uniform
    start, like graph.pagerank_fixed) so the oracle replays every
    matvec; sign fixed by the loading with the largest |value| (ties
    by dim asc) being positive — eigenvectors are sign-ambiguous.
    eigenvalue = ||C v|| of the LAST matvec (the Rayleigh limit for a
    PSD covariance).

    Plan: the corpus is touched ONCE (embedding_covariance's single
    pass); every iteration is sketch-sized — a d^2-cell x d-row
    broadcast join and a d-row aggregate — so iterating costs nothing
    corpus-shaped. Loadings get the +0.0 signed-zero fold
    (emb_covariance lesson: near-zero loadings can round to -0.0 with
    engine-dependent sign)."""
    import math as _math

    if iters < 1:
        raise ValueError("covariance_top_eigen needs iters >= 1")
    tri = embedding_covariance(
        df, vec_col=vec_col, id_col=id_col, round_to=12
    )
    full = tri.unionByName(
        tri.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cov"
        )
        # the d²-cell sketch feeds the v init and all `iters` matvecs —
        # cut it so the corpus-sized covariance pass runs once
    ).localCheckpoint()
    v = (
        full.select(F.col("i").alias("d"))
        .distinct()
        .select("d", F.lit(1.0 / _math.sqrt(dim)).alias("x"))
    )
    for it in range(iters):
        y = (
            full.join(F.broadcast(v), full.j == v.d)
            .groupBy("i")
            .agg(F.sum(F.col("cov") * F.col("x")).alias("y"))
        )
        nrm = y.agg(
            F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("_nrm")
        )
        # the iterate carries its norm, so the final eigenvalue is read
        # from the last cut instead of re-deriving the last matvec
        v = y.crossJoin(F.broadcast(nrm)).select(
            F.col("i").alias("d"),
            (F.col("y") / F.col("_nrm")).alias("x"),
            "_nrm",
        )
        # cut every second iterate: each cut is one driver job on a
        # d-row relation, and the plan stays at most two matvecs deep
        if it % 2:
            v = v.localCheckpoint()
    # NOT F.signum: signum(0.0) = 0.0 would zero EVERY loading in the
    # degenerate all-zero-covariance case, while the DuckDB oracle's
    # CASE WHEN x < 0 THEN -1 ELSE 1 yields +1 — match the oracle.
    sign = (
        v.orderBy(F.abs(F.col("x")).desc(), F.col("d").asc())
        .limit(1)
        .select(
            F.when(F.col("x") < 0, F.lit(-1.0))
            .otherwise(F.lit(1.0))
            .alias("_s")
        )
    )
    return (
        v.crossJoin(F.broadcast(sign))
        .select(
            F.col("d").cast("int").alias("dim"),
            (F.round(F.col("x") * F.col("_s"), round_to) + F.lit(0.0)).alias(
                "loading"
            ),
            F.round(F.col("_nrm"), round_to).alias("eigenvalue"),
        )
    )


def kmeans_health(
    vecs: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Index-health profile of a trained coarse quantizer: per cell,
    the member count, corpus share, and mean member→centroid cosine
    (within-cell cohesion — the cosine analogue of k-means inertia).

    This is the measurement behind the retrain-cadence decision the
    frozen-centroid append family (`ivf_append_to_index`,
    `ann_incremental_add_recall`) creates: appends under frozen
    centroids degrade cohesion and skew cell shares long before
    recall visibly drops, and nprobe-vs-recall curves are per-query
    while this is per-CELL — it localizes WHICH cells rotted.

    Scale shape: same plan as assignment itself — the centroid state
    is one broadcast row, cohesion is an in-row fold, and the profile
    is ONE hash aggregate keyed by cell (k rows out) plus a one-row
    total broadcast back for shares. No windows, no self-joins."""
    pts, state, assign_col = _kmeans_state(
        vecs, k, iters, id_col, vec_col, dim
    )
    # the one-row state feeds TWO consumers (the centroid relation and
    # the assignment broadcast); without a checkpoint each would re-run
    # the whole Lloyd chain over the corpus — checkpoint the single row
    # so the iterations execute once (measured ~2x on the health
    # query)
    state = state.localCheckpoint()
    cents = state.select(F.posexplode("_cs").alias("cid", "cvec")).select(
        F.col("cid").cast("long").alias("cluster"), "cvec"
    )
    assigned = pts.crossJoin(F.broadcast(state)).select(
        F.col("_v").alias("vec"),  # pts carries the cast vector as _v
        assign_col.alias("cluster"),
    )
    scored = assigned.join(F.broadcast(cents), "cluster").select(
        "cluster", cosine(F.col("vec"), F.col("cvec")).alias("cos")
    )
    per = scored.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(F.avg("cos"), 6).alias("mean_cos"),
    )
    tot = per.agg(F.sum("n_vecs").alias("total"))
    return per.crossJoin(F.broadcast(tot)).select(
        "cluster",
        "n_vecs",
        F.round(F.col("n_vecs") / F.col("total"), 6).alias("share"),
        "mean_cos",
    )


def contrastive_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for
    each query vector, the best POSITIVE (most-similar corpus vector
    sharing its label, excluding itself) and the hardest NEGATIVE
    (most-similar vector with a DIFFERENT label), plus the margin
    between them. Small or negative margins are exactly the pairs a
    contrastive objective learns most from — and the rows a curation
    pipeline mines per training round. A query whose label has no
    other member (no positive exists) is dropped by the final inner
    join: a contrastive pair needs both legs.

    Scale shape: identical to cosine_topk — the query block broadcasts
    (hard-negative mining is done in query batches at any scale), the
    corpus streams through one scored projection, and the two argmax
    picks are per-query windows over that stream. For full-corpus
    mining, run batches of queries through this or swap the scored
    relation for the IVF-served candidates; the contract is the same."""
    from pyspark.sql import Window

    c = fan_out(corpus).select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
        F.col(label_col).alias("nlabel"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        F.col(label_col).alias("qlabel"),
    )
    scored = c.join(F.broadcast(q), F.col("nbr_id") != F.col("query_id")).select(
        "query_id", "qlabel", "nbr_id", "nlabel",
        cosine(F.col("qv"), F.col("nv")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("nbr_id")
    )

    def top1(rel: DataFrame, id_out: str, cos_out: str) -> DataFrame:
        return (
            rel.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                F.col("nbr_id").alias(id_out),
                F.round("cos", 9).alias(cos_out),
            )
        )

    pos = top1(scored.filter(F.col("nlabel") == F.col("qlabel")), "pos_id", "pos_cos")
    neg = top1(scored.filter(F.col("nlabel") != F.col("qlabel")), "neg_id", "neg_cos")
    return pos.join(neg, "query_id").select(
        "query_id", "pos_id", "pos_cos", "neg_id", "neg_cos",
        F.round(F.col("pos_cos") - F.col("neg_cos"), 9).alias("margin"),
    )
