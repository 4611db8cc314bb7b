"""Structured Streaming ingest of the events table (extension — the
reference is batch-only, SURVEY.md §2.9; this is the §7/M4 scale path).

Batch/stream parity: `tumbling_agg` is the same logical plan as the
batch query `evt_tumbling_5min` (queries.py), so results are directly
comparable — the engine's migration story from batch to incremental is
"swap read for readStream, add a watermark".

Scale notes: watermark bounds state (late rows beyond 10 min are
dropped); append output mode emits each window once, on watermark
passage. For exactly-once delivery to transactional sinks use
foreachBatch. sessionization uses session_window (gap-based), the
streaming-native replacement for lag()+cumsum sessionization in batch.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from tugas_2_big_data_spark.sources.catalog import TABLES


def _committed_batch_ids(checkpoint_dir: str) -> set[int]:
    """Batch ids this checkpoint has COMMITTED — one integer-named
    file per committed micro-batch under ``{checkpoint}/commits/``.
    The durable drains key their on-disk state by batch id, so this
    set is the authoritative scope of "this logical stream": a final
    read filtered to it cannot fold stale ``batch=N`` partitions left
    in a reused state_dir by an earlier aborted run that drained MORE
    batches (a foreign run's ids lie outside this checkpoint's commit
    log). Local-fs listing, same deployment constraint as the
    batch-keyed state writes themselves — and that constraint is
    enforced LOUDLY: a non-file checkpoint scheme raises
    NotImplementedError and an unreadable local path re-raises, so a
    mis-deployment surfaces as an error instead of an empty commit
    scope silently producing an empty (or zero-batch) result. Only a
    genuinely MISSING commits dir maps to the empty set — that is the
    legitimate "this checkpoint committed nothing yet" state."""
    import os as _os
    import re as _re

    path = checkpoint_dir
    scheme = _re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", path)
    if scheme is not None and scheme.group(1) != "file":
        raise NotImplementedError(
            "durable-state drains scope their final fold by listing "
            f"{{checkpoint}}/commits on the LOCAL filesystem; "
            f"checkpoint scheme {scheme.group(1)!r} is not supported "
            "— use a file:// checkpoint or key state by a table "
            "format's transaction log instead"
        )
    for prefix in ("file://", "file:"):
        if path.startswith(prefix):
            path = path[len(prefix):]
            break
    commits = _os.path.join(path, "commits")
    if not _os.path.isdir(commits):
        return set()
    # any OSError from an EXISTING-but-unreadable dir propagates: a
    # silent set() here would turn a permissions/IO fault into an
    # empty final result (data loss masquerading as success)
    names = _os.listdir(commits)
    return {int(n) for n in names if n.isdigit()}


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the events parquet (same explicit schema
    as the batch catalog loader; ts is parquet TIMESTAMP_MICROS)."""
    # the file-stream source requires a DIRECTORY; select just the events
    # parquet out of the sf dir with a glob filter
    return (
        spark.readStream.schema(TABLES["events"])
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def tumbling_agg(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window count/sum per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def tumbling_user_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window event count per user — the streaming
    PRE-AGGREGATION of a windowed leaderboard. Ranking cannot run
    inside the stream (window functions over streaming aggregates are
    unsupported, deliberately: a rank is non-monotone under late data),
    so the architecture is the standard split: the stream maintains
    per-(window, key) counts in watermark-bounded state; the serving
    layer ranks the drained table."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
        )
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based session windows per user (session_window)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("session_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, dropping
    re-deliveries that arrive within the watermark delay — the
    streaming counterpart of the batch `dedup_exact` hash-groupBy.

    Uses `dropDuplicatesWithinWatermark`, whose state store holds each
    key only until the watermark passes it. Plain `dropDuplicates` on a
    stream keeps EVERY key forever — an unbounded state store that OOMs
    a 100 TB ingest; bounded state is the whole point here, and the
    trade is explicit: duplicates separated by more than the watermark
    delay pass through. Size `watermark` to the sink's redelivery
    horizon, not the business key's lifetime.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + value total, one updated row per user per
    micro-batch.

    This is the escape hatch for stateful logic Spark's built-in
    windows can't express (cross-batch accumulators, custom session
    logic, model state). State is a single (n, total) tuple per
    user — O(users) store, bounded; use a timeout (ProcessingTimeTimeout
    / EventTimeTimeout) to expire idle keys when the key space is
    unbounded at production scale.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def purchases_joined_clicks(
    events: DataFrame,
    window: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding `window`.

    Both sides carry a watermark and the join condition bounds the
    event-time distance — the two things Spark needs to EXPIRE join
    state (without the time bound, every click is kept forever waiting
    for a possible future purchase; state grows without bound at
    ingest scale). The equi-key (user_id) keeps it a hash-partitioned
    stream-stream join, shuffle-parallel on the key.
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("value").alias("purchase_value"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("click_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") > F.col("purchase_ts") - F.expr(f"INTERVAL {window}")),
    ).select("purchase_id", "user_id", "purchase_value", "purchase_ts", "click_id", "click_ts")


def stream_to_parquet_partitions(
    stream_df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    checkpoint_dir: str,
    output_mode: str = "append",
):
    """foreachBatch → dynamic-partition-overwrite parquet sink.

    Structured Streaming delivers micro-batches at-least-once to
    foreachBatch; making the write IDEMPOTENT (replayed batch rewrites
    the same partitions instead of appending duplicates) upgrades the
    pipeline to effectively exactly-once. Correct when each partition's
    rows arrive batch-complete — true for watermark-closed windows in
    append mode partitioned by window start (each window is emitted
    exactly once, whole). For update-mode aggregates use a merge/upsert
    sink instead: partition overwrite would drop the partition's
    not-updated rows.

    Returns the started StreamingQuery (caller awaits/stops).
    """
    from tugas_2_big_data_spark.sources import sinks

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sinks.overwrite_partitions(batch_df, path, partition_by)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drive a streaming frame to completion against the in-memory sink
    (test/smoke harness — processAllAvailable drains the file source
    synchronously) and return the materialized result table.

    The sink's temp view is dropped once the frame is built: the frame
    holds the sink itself, while the view name would keep the sink's
    rows in driver memory for the life of the session."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql(f"SELECT * FROM {name}")
    spark.catalog.dropTempView(name)
    return out


def enrich_with_static_dim(
    events: DataFrame,
    dim: DataFrame,
    on_left: str = "user_id",
    on_right: str = "c_custkey",
) -> DataFrame:
    """Stream-STATIC join: each streaming event picks up the matching
    row of a batch dimension table (inner join on the key).

    The third join shape Structured Streaming supports (besides
    stream-stream and joins to broadcast literals): the static side is
    re-planned per micro-batch, needs NO watermark and holds NO state —
    at scale, broadcast the dim (or bucket both sides) exactly as in
    batch; the stream side never shuffles for a broadcast join."""
    return events.join(
        F.broadcast(dim), events[on_left] == dim[on_right], "inner"
    )


def read_documents_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the documents parquet — the
    continuous-ingest shape for text corpora (same explicit schema as
    the batch catalog loader)."""
    return (
        spark.readStream.schema(TABLES["documents"])
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def streaming_near_dup(
    stream_docs: DataFrame,
    seen_bands: DataFrame,
    seen_sets: DataFrame,
    threshold: float = 0.5,
    k: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Continuous-ingest NEAR-dup detection: each micro-batch of
    arriving documents is checked against the STATIC seen-corpus LSH
    state — the streaming form of `dedup.incremental_near_dup`, and
    the dedup gate a continuously-crawled training corpus puts in
    front of its ingest sink. Output per detected relation:
    (new_id, seen_id, n_common, jaccard).

    Streaming-specific plan shape (the batch operator cannot run as-is
    on a stream):
    - The shingle SET rides THROUGH the band join instead of being
      re-joined afterwards — the batch formulation's candidates⋈sets
      rejoin would be a stream-stream join (unbounded state); carrying
      the array costs band-match-sized duplication instead.
    - Candidate dedup is `dropDuplicates` on (new_id, seen_id) —
      streaming-stateful, exact; every row of a key carries the same
      set payload, so keep-first semantics are value-identical.
    - Both joins are stream-STATIC (band state, set state): stateless
      per micro-batch, re-planned against the static side, broadcast
      at scale exactly as in batch.
    - No fan_out / no localCheckpoint: width probes and eager actions
      are illegal on streaming DataFrames; the shingle/signature
      projections are map-only anyway.

    After a full drain the result set equals the batch operator's —
    the oracle gate enforces that parity with the same bipartite SQL.
    """
    from tugas_2_big_data_spark.operators import dedup

    sets = dedup.shingle_sets(stream_docs, id_col=id_col, widen=False)
    ex = sets.select(
        F.col(id_col).alias("new_id"),
        F.col("shingles").alias("sh_a"),
        *dedup.minhash_sig_cols(k),
    )
    banded = ex.select(
        "new_id",
        "sh_a",
        F.explode(F.array(*dedup.band_exprs(k, bands))).alias("band"),
    ).select("new_id", "sh_a", "band.band_id", "band.key")
    sbands = seen_bands.select(
        F.col(id_col).alias("seen_id"), "band_id", "key"
    )
    cand = (
        banded.join(sbands, ["band_id", "key"])
        .select("new_id", "sh_a", "seen_id")
        .dropDuplicates(["new_id", "seen_id"])
    )
    ssets = seen_sets.select(
        F.col(id_col).alias("seen_id"), F.col("shingles").alias("sh_b")
    )
    return (
        cand.join(ssets, "seen_id")
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


def write_ingest_batches(batches: Sequence[DataFrame], path: str) -> None:
    """Materialize a sequence of logical ingest batches as ONE parquet
    file each under `path`, in arrival order (b0001/, b0002/, …): a
    file-source stream over `path` with maxFilesPerTrigger=1 then
    delivers exactly one micro-batch per logical batch, in order —
    both of FileStreamSource's orderings (modification time from the
    sequential writes; lexical path as the tie-break) agree. The
    names are zero-padded so the lexical tie-break matches arrival
    order at ANY batch count (bare 'b10' would sort before 'b2').
    The coalesce(1) is batch-sized harness work (these are ingest
    deltas, not the corpus)."""
    for i, b in enumerate(batches, start=1):
        b.coalesce(1).write.mode("overwrite").parquet(f"{path}/b{i:04d}")


def run_evolving_near_dup(
    spark: SparkSession,
    batches_dir: str,
    seen_bands: DataFrame,
    seen_sets: DataFrame,
    checkpoint_dir: str,
    threshold: float = 0.5,
    k: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
    state_dir: str | None = None,
) -> DataFrame:
    """The CLOSED continuous-ingest near-dup loop as a streaming drain:
    each micro-batch of arriving documents is checked against the
    CURRENT band/set state, and its ACCEPTED docs are folded back into
    the state (dedup.merge_near_dup_state, append-only) BEFORE the
    next micro-batch is processed — so a near-dup of a doc accepted
    two micro-batches ago is caught, which the static-state
    `streaming_near_dup` gate cannot do.

    Mechanics: `foreachBatch` — the declarative stream-static join
    cannot observe state growth mid-stream, but foreachBatch hands
    each micro-batch to ordinary batch code, which is exactly where a
    production ingest loop updates its state store (here: the
    localCheckpointed state pair; at scale: parquet/Delta APPENDS of
    the accepted docs' band keys and shingle sets, the same
    batch-sized writes). Per-batch work is batch-sized on both halves.

    Returns (batch, doc_id) for every ACCEPTED doc, batch = 1-based
    micro-batch ordinal — the same contract as the registered batch
    twin `dedup_incremental_near_dup_two_batches`, whose oracle this
    streaming form shares (batch/stream parity for the EVOLVING loop,
    extending the static-state parity `stream_incremental_near_dup`
    established).

    ``state_dir`` switches this — the one streaming fold whose state
    is both evolving AND order-dependent — to the CRASH-SAFE layout:
    each micro-batch's accepted rows, shingle sets, and band keys land
    under ``{state_dir}/{accepted,accepted_sets,accepted_bands}/b{id}``
    as batch-id-keyed overwrites, and every fold gates against the
    initial state plus the persisted deltas of STRICTLY EARLIER batch
    ids. The strict-inequality read is what makes a checkpoint replay
    correct: a re-delivered batch must not see its own prior attempt's
    state (its docs would LSH-collide with themselves and every one
    would be rejected); excluding batch id ≥ self re-gates it against
    exactly the state the first attempt saw, and the overwrite
    replaces its footprint. A killed process restarts with nothing
    lost — earlier batches' deltas are on disk. Local-fs directory
    listing keys the deltas (same constraint as the ivf appends); an
    object-store deployment keys them under a table format's
    transaction instead."""
    import glob as _glob
    import os as _os

    from tugas_2_big_data_spark.operators import dedup

    state = {
        "bands": seen_bands.localCheckpoint(),
        "sets": seen_sets.localCheckpoint(),
    }
    accepted: list[DataFrame] = []

    def _delta_dirs(kind: str, before: int) -> list[str]:
        return sorted(
            d
            for d in _glob.glob(f"{state_dir}/{kind}/b*")
            if int(_os.path.basename(d)[1:]) < before
        )

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            if state_dir is not None:
                # an empty batch is still COMMITTED, so its id enters
                # the final fold's scope — claim the on-disk footprint
                # with empty overwrites or a same-id b-dir left by a
                # foreign run in a reused state_dir would fold its
                # rows into this run's result
                b0 = batch_df.select(id_col, "text").limit(0)
                s0 = dedup.shingle_sets(b0, id_col=id_col)
                bd0 = dedup.lsh_band_keys(
                    dedup.minhash_signatures_from_sets(s0, k, id_col),
                    k,
                    bands,
                    id_col,
                )
                tag = f"b{batch_id:06d}"
                s0.write.mode("overwrite").parquet(
                    f"{state_dir}/accepted_sets/{tag}"
                )
                bd0.write.mode("overwrite").parquet(
                    f"{state_dir}/accepted_bands/{tag}"
                )
                b0.select(
                    F.lit(batch_id + 1).cast("long").alias("batch"),
                    id_col,
                ).write.mode("overwrite").parquet(
                    f"{state_dir}/accepted/{tag}"
                )
            return
        b = batch_df.select(id_col, "text").localCheckpoint()
        b_sets = dedup.shingle_sets(b, id_col=id_col).localCheckpoint()
        if state_dir is not None:
            ss = batch_df.sparkSession
            sets_state, bands_state = seen_sets, seen_bands
            prior_sets = _delta_dirs("accepted_sets", batch_id)
            if prior_sets:
                sets_state = sets_state.unionByName(
                    ss.read.parquet(*prior_sets)
                )
                bands_state = bands_state.unionByName(
                    ss.read.parquet(
                        *_delta_dirs("accepted_bands", batch_id)
                    )
                )
        else:
            sets_state, bands_state = state["sets"], state["bands"]
        m = dedup.incremental_near_dup(
            b_sets,
            sets_state,
            threshold=threshold,
            k=k,
            bands=bands,
            id_col=id_col,
            seen_bands=bands_state,
        )
        acc = b.join(
            m.select(F.col("new_id").alias(id_col)).distinct(),
            id_col,
            "left_anti",
        ).localCheckpoint()
        acc_sets = b_sets.join(acc.select(id_col), id_col, "left_semi")
        if state_dir is not None:
            acc_bands = dedup.lsh_band_keys(
                dedup.minhash_signatures_from_sets(acc_sets, k, id_col),
                k,
                bands,
                id_col,
            )
            tag = f"b{batch_id:06d}"
            acc_sets.write.mode("overwrite").parquet(
                f"{state_dir}/accepted_sets/{tag}"
            )
            acc_bands.write.mode("overwrite").parquet(
                f"{state_dir}/accepted_bands/{tag}"
            )
            acc.select(
                F.lit(batch_id + 1).cast("long").alias("batch"), id_col
            ).write.mode("overwrite").parquet(
                f"{state_dir}/accepted/{tag}"
            )
            return
        nb, ns = dedup.merge_near_dup_state(
            state["bands"], state["sets"], acc_sets, k, bands, id_col
        )
        # checkpoint the merged state so the NEXT micro-batch gates
        # against materialized state, not a growing lineage chain
        state["bands"], state["sets"] = (
            nb.localCheckpoint(),
            ns.localCheckpoint(),
        )
        accepted.append(
            acc.select(
                F.lit(batch_id + 1).cast("long").alias("batch"), id_col
            )
        )

    src = (
        spark.readStream.schema(f"{id_col} long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(batches_dir)
    )
    q = (
        src.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if state_dir is not None:
        # scope the final fold to this checkpoint's committed batch
        # ids — a reused state_dir holding b-dirs from a foreign run
        # that drained MORE batches must not leak them into the result
        committed = _committed_batch_ids(checkpoint_dir)
        dirs = sorted(
            d
            for d in _glob.glob(f"{state_dir}/accepted/b*")
            if int(_os.path.basename(d)[1:]) in committed
        )
        if not dirs:
            return spark.createDataFrame([], f"batch long, {id_col} long")
        return spark.read.parquet(*dirs)
    if not accepted:
        return spark.createDataFrame([], f"batch long, {id_col} long")
    out = accepted[0]
    for a in accepted[1:]:
        out = out.unionByName(a)
    return out


def run_streaming_hll(
    spark: SparkSession,
    stream: DataFrame,
    checkpoint_dir: str,
    item_col: str = "user_id",
) -> DataFrame:
    """Streaming maintenance of the portable HyperLogLog: each
    micro-batch's register table merges (cell-wise max,
    sketches.merge_hll) into the running sketch state BEFORE the next
    micro-batch — the distinct-count member of the streaming
    mergeable-state loop (`run_evolving_near_dup` is the dedup member).
    State is bounded at <= 2^b rows whatever the stream length or
    micro-batching, and because max-merge is exact, the drained state
    is IDENTICAL to the batch-built whole-corpus registers — the
    batch/stream parity the registered query pins register-for-register.
    At scale the localCheckpointed state becomes a <=2^b-row parquet
    overwrite per micro-batch (sketch-sized, not corpus-sized).

    Returns the final register table (idx, r)."""
    from tugas_2_big_data_spark.operators import sketches

    state = {"reg": spark.createDataFrame([], "idx int, r int")}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        breg = sketches.hll_registers(batch_df, item_col)
        state["reg"] = sketches.merge_hll(
            state["reg"], breg
        ).localCheckpoint()

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return state["reg"]


def run_streaming_ann_append(
    spark: SparkSession,
    batches_dir: str,
    index_path: str,
    checkpoint_dir: str,
    schema: str = "vec_id long, embedding array<float>, label int",
) -> int:
    """Streaming half of the ANN index-maintenance loop
    (`similarity.ivf_append_to_index` is the batch half): each
    micro-batch of arriving vectors is assigned under the index's
    FROZEN centroids and appended to its cid-partitioned inverted
    file BEFORE the next micro-batch — per-batch cost independent of
    index size, the exact discipline of the dedup state merges. The
    final artifact content is the union of appends, so it is
    independent of HOW the stream was micro-batched — which is what
    lets the registered query share the batch two-batch oracle.
    Returns the number of non-empty micro-batches folded."""
    from tugas_2_big_data_spark.operators import similarity

    n = {"batches": 0}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # batch_id-keyed append: a checkpoint replay re-delivering
        # this batch overwrites its own files instead of duplicating
        # them (ivf_append_to_index's ingest_key contract)
        similarity.ivf_append_to_index(
            spark, index_path, batch_df, ingest_key=f"b{batch_id}"
        )
        n["batches"] += 1

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(batches_dir)
    )
    q = (
        src.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return n["batches"]


def run_streaming_cdc(
    spark: SparkSession,
    batches_dir: str,
    checkpoint_dir: str,
    schema: str,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """CDC ingest as a streaming drain — the streaming half of
    `snapshots.cdc_apply` (batch compaction): each micro-batch of
    changelog events folds into the running latest-per-key state via
    `snapshots.cdc_compact` BEFORE the next batch. The state KEEPS
    delete tombstones (cdc_compact's contract) so an older buffered
    event can never resurrect a deleted key; serving filters them.

    compact(compact(A) ∪ B) == compact(A ∪ B) — per-key max is
    associative — so the drained state equals the batch compaction of
    the whole changelog however the stream was micro-batched, which
    is what lets the registered query share the batch oracle
    (`cdc_apply_changelog`). Per-batch cost: one key-shuffle of
    (state ∪ batch); at 100 TB the state is a bucketed table and the
    fold a merge_upsert + tombstone append (the same batch-sized
    discipline as every other incremental loop here).

    Returns the final CURRENT state (tombstones filtered)."""
    from tugas_2_big_data_spark.operators import snapshots

    state = {"t": None}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merged = (
            batch_df
            if state["t"] is None
            else state["t"].unionByName(batch_df)
        )
        state["t"] = snapshots.cdc_compact(
            merged, key_cols, seq_col, op_col
        ).localCheckpoint()

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(batches_dir)
    )
    q = (
        src.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if state["t"] is None:
        raise RuntimeError("stream delivered no micro-batches")
    from pyspark.sql import functions as _F

    return state["t"].filter(_F.col(op_col) != delete_op)


def run_streaming_postings(
    spark: SparkSession,
    batches_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Inverted-index maintenance as a streaming drain — the lexical
    member of the streaming mergeable-state family (dedup bands, HLL
    registers, ANN cells, CDC state, and now postings): each
    micro-batch's posting rows (word, doc, tf, positions) APPEND into
    the running relation before the next batch. A (word, doc) posting
    derives from exactly ONE document and documents are disjoint
    across micro-batches, so append IS merge — the drained relation
    equals the batch build over the whole corpus however the stream
    was micro-batched (the registered query shares txt_postings'
    oracle). At 100 TB the per-batch append is a batch-sized
    bucketed-by-word parquet append (the ivf_append_to_index
    discipline) with periodic compaction
    (bucketing.compact_appended_state).

    Returns the final postings relation (word, id, tf, positions)."""
    from tugas_2_big_data_spark.operators import text_analysis

    src = (
        spark.readStream.schema(f"{id_col} long, {text_col} string")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(batches_dir)
    )
    state = {"p": None}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bp = text_analysis.postings(
            batch_df, text_col, id_col
        ).localCheckpoint()
        state["p"] = (
            bp if state["p"] is None else state["p"].unionByName(bp)
        )

    q = (
        src.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if state["p"] is None:
        raise RuntimeError("stream delivered no micro-batches")
    return state["p"]


def run_streaming_er(
    spark: SparkSession,
    batches_dir: str,
    checkpoint_dir: str,
    base: DataFrame,
    max_dist: int = 3,
    state_dir: str | None = None,
) -> DataFrame:
    """Entity resolution on the ingest stream: each micro-batch of
    dirty records block-joins the STATIC base registry and keeps its
    best levenshtein match (operators/entity_resolution.py). A
    record's match depends only on that record and the static base —
    no cross-record state — so append IS merge and the drained match
    relation equals the batch match however the stream was
    micro-batched (the registered query shares er_match_pairs'
    oracle). The stream-side twin of the stream-static enrich join,
    upgraded from exact-key to blocked fuzzy matching; at 100 TB the
    base side broadcasts or bucket-joins per micro-batch exactly as
    in batch.

    ``state_dir`` switches the fold from in-process accumulation to
    the CRASH-SAFE layout: each micro-batch's matches are written to
    ``{state_dir}/batch={id}`` with mode=overwrite, so (a) a process
    kill loses nothing already folded — a restart with the same
    checkpoint resumes at the first unconsumed file and the drained
    relation still equals the uninterrupted run, and (b) a checkpoint
    replay that re-delivers a batch overwrites its OWN partition
    instead of duplicating rows (same batch-id-keyed idempotence as
    the ANN appends). The in-process default stays for single-process
    drains (the registered query) where localCheckpoint is cheaper
    than a parquet round-trip per batch."""
    from tugas_2_big_data_spark.operators import entity_resolution as er

    src = (
        spark.readStream.schema(
            "d_id long, d_name string, d_acctbal double, block string"
        )
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(batches_dir)
    )
    state = {"m": None}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            if state_dir is not None:
                # an empty batch is still committed: claim its batch=
                # partition so a same-id dir from a foreign run in a
                # reused state_dir can't fold into the final result
                batch_df.sparkSession.createDataFrame(
                    [], "d_id long, matched_key long, dist long"
                ).write.mode("overwrite").parquet(
                    f"{state_dir}/batch={batch_id}"
                )
            return
        cand = er.blocked_candidates(batch_df, base)
        m = er.best_match(cand, max_dist=max_dist).select(
            F.col("d_id").cast("long").alias("d_id"),
            F.col("c_custkey").cast("long").alias("matched_key"),
            F.col("dist").cast("long").alias("dist"),
        )
        if state_dir is not None:
            m.write.mode("overwrite").parquet(
                f"{state_dir}/batch={batch_id}"
            )
            return
        m = m.localCheckpoint()
        state["m"] = m if state["m"] is None else state["m"].unionByName(m)

    q = (
        src.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if state_dir is not None:
        import glob as _glob
        import os as _os

        # fold only the batch= partitions this checkpoint committed —
        # a killed run resuming here IS committed; stale partitions
        # from a foreign aborted run (more batches, different
        # checkpoint) are outside the commit log and excluded
        committed = _committed_batch_ids(checkpoint_dir)
        dirs = sorted(
            d
            for d in _glob.glob(f"{state_dir}/batch=*")
            if int(_os.path.basename(d).split("=", 1)[1]) in committed
        )
        if not dirs:
            raise RuntimeError("streaming ER drained zero batches")
        return spark.read.parquet(*dirs)
    if state["m"] is None:
        raise RuntimeError("streaming ER drained zero batches")
    return state["m"]


def run_streaming_dq(
    spark: SparkSession,
    batches_dir: str,
    checkpoint_dir: str,
    parent: DataFrame,
    checks: list,
    key_col: str = "o_orderkey",
    fk_name: str = "fk_customer_exists",
    fk_child: str = "o_custkey",
    fk_parent: str = "c_custkey",
    unique_name: str = "pk_unique",
    state_dir: str | None = None,
) -> DataFrame:
    """The data-quality publish gate ON THE INGEST STREAM: each
    micro-batch folds its violation counts into the running report
    before the next batch lands, so the gate can reject a bad batch
    at arrival instead of at a nightly audit.

    Merge math, check by check: the scalar expectations (null counts,
    range/domain violations) and the FK probe are SUMS over rows, so
    per-batch counts add associatively. UNIQUENESS is the one
    non-decomposable check — count(k) − count(DISTINCT k) cannot be
    summed per batch once keys span batches — so it rides the same
    append-only key-state discipline as the dedup ingest loop:
    violations += (within-batch dups) + |distinct batch keys ∩ seen|,
    then seen ∪= batch keys. Summed over any batching this telescopes
    to total_nonnull − global_distinct, the batch definition exactly
    (pinned by the shared oracle and a planted cross-batch-dup test).
    The per-batch report collect is ONE row of counters — metrics-
    grade, like the reference's driver-side perf accumulation; the
    key state is a key-column relation, never the rows.

    ``state_dir`` switches the fold to the CRASH-SAFE layout: each
    micro-batch overwrites ``{state_dir}/counters/batch={id}`` (one
    row: scalar check counts, nonnull-key count, FK orphan count) and
    ``{state_dir}/keys/batch={id}`` (the batch's distinct keys), and
    the final report is assembled from the persisted artifacts —
    uniqueness as sum(nonnull) − |distinct ∪ keys|, the same value
    the in-memory telescoping reaches but ORDER-INDEPENDENT, so a
    kill/restart (earlier batches' artifacts survive on disk) or a
    checkpoint replay (a re-delivered batch overwrites its own
    partitions) cannot change the report. The in-process default
    stays for single-process drains (the registered query)."""
    from tugas_2_big_data_spark.sources.catalog import TABLES

    src = (
        spark.readStream.schema(TABLES["orders"])
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(batches_dir)
    )
    agg_checks = [(n, c) for n, c in checks if n != unique_name]
    totals = {n: 0 for n, _ in agg_checks}
    totals[unique_name] = 0
    totals[fk_name] = 0
    state = {"seen": None}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty() and state_dir is None:
            return
        # durable mode deliberately falls through on an empty batch:
        # the agg on zero rows yields the all-zero counters row and an
        # empty key set, which overwrite (claim) this committed batch
        # id's partitions — a same-id dir left by a foreign run in a
        # reused state_dir would otherwise survive into the report
        b = batch_df.localCheckpoint()
        if state_dir is not None:
            orphans = b.join(
                parent.select(F.col(fk_parent).alias(fk_child)),
                on=fk_child,
                how="left_anti",
            ).agg(F.count(F.lit(1)).cast("long").alias("_fk_orphans"))
            counters = b.agg(
                # coalesce: F.sum on a zero-row batch is NULL; the
                # claimed footprint of an empty batch must be all-zero
                *[
                    F.coalesce(c.cast("long"), F.lit(0)).alias(n)
                    for n, c in agg_checks
                ],
                F.count(key_col).cast("long").alias("_nonnull_keys"),
            ).crossJoin(orphans)
            counters.coalesce(1).write.mode("overwrite").parquet(
                f"{state_dir}/counters/batch={batch_id}"
            )
            (
                b.select(F.col(key_col).alias("k"))
                .filter(F.col("k").isNotNull())
                .distinct()
                .write.mode("overwrite")
                .parquet(f"{state_dir}/keys/batch={batch_id}")
            )
            return
        row = b.agg(
            *[c.cast("long").alias(n) for n, c in agg_checks],
            (F.count(key_col) - F.countDistinct(key_col))
            .cast("long")
            .alias("_within_dups"),
        ).collect()[0]
        for n, _ in agg_checks:
            totals[n] += row[n]
        totals[unique_name] += row["_within_dups"]
        keys = (
            b.select(F.col(key_col).alias("k"))
            .filter(F.col("k").isNotNull())
            .distinct()
        )
        if state["seen"] is not None:
            totals[unique_name] += (
                keys.join(state["seen"], "k", "left_semi").count()
            )
            state["seen"] = (
                state["seen"].unionByName(keys).distinct().localCheckpoint()
            )
        else:
            state["seen"] = keys.localCheckpoint()
        totals[fk_name] += (
            b.join(
                parent.select(F.col(fk_parent).alias(fk_child)),
                on=fk_child,
                how="left_anti",
            ).count()
        )

    q = (
        src.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if state_dir is not None:
        import glob as _glob
        import os as _os

        committed = _committed_batch_ids(checkpoint_dir)

        def _batch_dirs(kind: str) -> list[str]:
            # only this checkpoint's committed batches — stale
            # partitions from a foreign run in a reused state_dir are
            # outside the commit log and must not fold into the report
            return sorted(
                d
                for d in _glob.glob(f"{state_dir}/{kind}/batch=*")
                if int(_os.path.basename(d).split("=", 1)[1]) in committed
            )

        counter_dirs = _batch_dirs("counters")
        if not counter_dirs:
            # same explicit error the in-memory path raises, instead
            # of a raw PATH_NOT_FOUND/schema-inference failure
            raise RuntimeError("streaming DQ drained zero batches")
        counters = spark.read.parquet(*counter_dirs)
        sums = counters.agg(
            *[
                F.sum(n).cast("long").alias(n)
                for n, _ in agg_checks
            ],
            F.sum("_nonnull_keys").cast("long").alias("_nonnull_keys"),
            F.sum("_fk_orphans").cast("long").alias("_fk_orphans"),
        ).collect()[0]
        n_distinct = (
            spark.read.parquet(*_batch_dirs("keys"))
            .select("k")
            .distinct()
            .count()
        )
        for n, _ in agg_checks:
            totals[n] = int(sums[n])
        totals[unique_name] = int(sums["_nonnull_keys"]) - n_distinct
        totals[fk_name] = int(sums["_fk_orphans"])
    elif state["seen"] is None:
        raise RuntimeError("streaming DQ drained zero batches")
    order = [n for n, _ in agg_checks[:1]]  # pk_not_null first
    names = (
        order
        + [unique_name]
        + [n for n, _ in agg_checks[1:]]
        + [fk_name]
    )
    rows = [(n, int(totals[n]), totals[n] == 0) for n in names]
    return spark.createDataFrame(
        rows, "check_name string, observed long, passed boolean"
    )
