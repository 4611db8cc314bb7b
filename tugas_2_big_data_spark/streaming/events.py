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

Drain contract, for every bounded drain below:
- One drain. `_drain` starts a configured writer, runs
  `processAllAvailable`, and stops the query in a `finally`. The
  foreachBatch folds read their ingest deltas through one reader,
  `_batch_files`: one parquet file per micro-batch, in arrival order
  (`write_ingest_batches`).
- One state layout. The crash-safe folds (`run_evolving_near_dup`,
  `run_streaming_er`, `run_streaming_dq`, each given a ``state_dir``)
  keep state only through `_BatchStore`:
  ``{state_dir}/{kind}/b{batch_id:06d}``, one overwrite per kind and
  micro-batch. A checkpoint replay rewrites its own footprint instead
  of duplicating it, and a killed run resumes with the earlier batches
  on disk. The names are zero-padded, so lexical order is batch order,
  and no directory has the ``name=value`` form, so partition discovery
  never adds a column. An empty micro-batch is still committed, so a
  durable fold writes its (empty) footprint too.
- Reads scoped by the commit log. A fold's final result reads only the
  batch ids its checkpoint committed, so state a foreign run left in a
  reused ``state_dir`` never enters it.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import DataStreamWriter

from tugas_2_big_data_spark.sources.catalog import TABLES


def _committed_batch_ids(checkpoint_dir: str) -> set[int]:
    """Batch ids this checkpoint has COMMITTED — one integer-named
    file per committed micro-batch under ``{checkpoint}/commits/``:
    the scope of `_BatchStore.read_committed`. Local-fs listing, the
    same deployment constraint as the batch-keyed state writes
    themselves — and that constraint is enforced LOUDLY: a non-file
    checkpoint scheme raises NotImplementedError and an unreadable
    local path re-raises, so a mis-deployment surfaces as an error
    instead of an empty commit scope silently producing an empty (or
    zero-batch) result. Only a genuinely MISSING commits dir maps to
    the empty set — that is the legitimate "this checkpoint committed
    nothing yet" state."""
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


class _BatchStore:
    """The crash-safe folds' state: one parquet directory per kind and
    micro-batch, ``{root}/{kind}/b{batch_id:06d}`` (module docstring)."""

    def __init__(self, root: str) -> None:
        self.root = root

    def path(self, kind: str, batch_id: int) -> str:
        return f"{self.root}/{kind}/b{batch_id:06d}"

    def write(self, kind: str, batch_id: int, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self.path(kind, batch_id))

    def read_before(
        self, spark: SparkSession, kind: str, batch_id: int
    ) -> DataFrame | None:
        """The batches strictly before ``batch_id``: a replayed batch
        must not see its own earlier attempt."""
        return self._read(spark, kind, lambda i: i < batch_id)

    def read_committed(
        self, spark: SparkSession, kind: str, checkpoint_dir: str
    ) -> DataFrame | None:
        return self._read(
            spark, kind, _committed_batch_ids(checkpoint_dir).__contains__
        )

    def _read(self, spark, kind, keep) -> DataFrame | None:
        import os

        base = f"{self.root}/{kind}"
        names = sorted(os.listdir(base)) if os.path.isdir(base) else []
        dirs = [
            f"{base}/{n}"
            for n in names
            if n[:1] == "b" and n[1:].isdigit() and keep(int(n[1:]))
        ]
        return spark.read.parquet(*dirs) if dirs else None


def _drain(writer: DataStreamWriter) -> None:
    """Run a bounded stream to completion; the query never outlives
    the call, also when a batch fails."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _drain_batches(stream: DataFrame, fold, checkpoint_dir: str) -> None:
    _drain(
        stream.writeStream.foreachBatch(fold).option(
            "checkpointLocation", checkpoint_dir
        )
    )


def _batch_files(spark: SparkSession, batches_dir: str, schema) -> DataFrame:
    """The ingest deltas `write_ingest_batches` wrote, one micro-batch
    per file."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(batches_dir)
    )


def _union_all(frames: list[DataFrame]) -> DataFrame | None:
    return functools.reduce(DataFrame.unionByName, frames) if frames else None


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
    _drain(
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
    )
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

    ``state_dir``: None folds in process, which is faster; a path
    folds through the crash-safe store, which survives a kill. The
    durable fold gates each batch against the initial state plus the
    accepted sets and band keys of STRICTLY EARLIER batch ids, so a
    checkpoint replay re-gates a batch against exactly the state its
    first attempt saw (its own earlier attempt would LSH-collide with
    every one of its docs)."""
    from tugas_2_big_data_spark.operators import dedup

    store = _BatchStore(state_dir) if state_dir is not None else None
    state: dict[str, DataFrame] = {}
    if store is None:
        state["bands"] = seen_bands.localCheckpoint()
        state["sets"] = seen_sets.localCheckpoint()
    accepted: list[DataFrame] = []

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        if store is None and batch_df.isEmpty():
            return
        b = batch_df.select(id_col, "text").localCheckpoint()
        b_sets = dedup.shingle_sets(b, id_col=id_col).localCheckpoint()
        if store is None:
            sets_state, bands_state = state["sets"], state["bands"]
        else:
            ss = batch_df.sparkSession
            sets_state, bands_state = seen_sets, seen_bands
            prior_sets = store.read_before(ss, "accepted_sets", batch_id)
            if prior_sets is not None:
                sets_state = sets_state.unionByName(prior_sets)
                bands_state = bands_state.unionByName(
                    store.read_before(ss, "accepted_bands", batch_id)
                )
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
        acc_rows = acc.select(
            F.lit(batch_id + 1).cast("long").alias("batch"), id_col
        )
        if store is not None:
            acc_bands = dedup.lsh_band_keys(
                dedup.minhash_signatures_from_sets(acc_sets, k, id_col),
                k,
                bands,
                id_col,
            )
            store.write("accepted_sets", batch_id, acc_sets)
            store.write("accepted_bands", batch_id, acc_bands)
            store.write("accepted", batch_id, acc_rows)
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
        accepted.append(acc_rows)

    _drain_batches(
        _batch_files(spark, batches_dir, f"{id_col} long, text string"),
        gate,
        checkpoint_dir,
    )
    if store is not None:
        out = store.read_committed(spark, "accepted", checkpoint_dir)
    else:
        out = _union_all(accepted)
    if out is None:
        return spark.createDataFrame([], f"batch long, {id_col} long")
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

    _drain_batches(stream, fold, checkpoint_dir)
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

    _drain_batches(
        _batch_files(spark, batches_dir, schema), fold, checkpoint_dir
    )
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

    _drain_batches(
        _batch_files(spark, batches_dir, schema), fold, checkpoint_dir
    )
    if state["t"] is None:
        raise RuntimeError("stream delivered no micro-batches")
    return state["t"].filter(F.col(op_col) != delete_op)


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

    parts: list[DataFrame] = []

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        parts.append(
            text_analysis.postings(batch_df, text_col, id_col).localCheckpoint()
        )

    _drain_batches(
        _batch_files(spark, batches_dir, f"{id_col} long, {text_col} string"),
        fold,
        checkpoint_dir,
    )
    out = _union_all(parts)
    if out is None:
        raise RuntimeError("stream delivered no micro-batches")
    return out


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

    ``state_dir``: None folds in process, which is faster; a path
    folds through the crash-safe store, which survives a kill."""
    from tugas_2_big_data_spark.operators import entity_resolution as er

    store = _BatchStore(state_dir) if state_dir is not None else None
    matches: list[DataFrame] = []

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if store is None and batch_df.isEmpty():
            return
        cand = er.blocked_candidates(batch_df, base)
        m = er.best_match(cand, max_dist=max_dist).select(
            F.col("d_id").cast("long").alias("d_id"),
            F.col("c_custkey").cast("long").alias("matched_key"),
            F.col("dist").cast("long").alias("dist"),
        )
        if store is not None:
            store.write("matches", batch_id, m)
        else:
            matches.append(m.localCheckpoint())

    _drain_batches(
        _batch_files(
            spark,
            batches_dir,
            "d_id long, d_name string, d_acctbal double, block string",
        ),
        fold,
        checkpoint_dir,
    )
    if store is not None:
        out = store.read_committed(spark, "matches", checkpoint_dir)
    else:
        out = _union_all(matches)
    if out is None:
        raise RuntimeError("streaming ER drained zero batches")
    return out


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

    ``state_dir``: None folds in process, which is faster; a path
    folds through the crash-safe store, which survives a kill. The
    durable fold stores per batch one row of counters (scalar check
    counts, non-null keys, FK orphans) and the batch's distinct keys,
    and computes uniqueness as sum(non-null) − |∪ keys|: the value the
    in-process telescoping reaches, but independent of batch order."""
    from tugas_2_big_data_spark.sources.catalog import TABLES

    store = _BatchStore(state_dir) if state_dir is not None else None
    agg_checks = [(n, c) for n, c in checks if n != unique_name]
    totals = {n: 0 for n, _ in agg_checks}
    totals[unique_name] = 0
    totals[fk_name] = 0
    state = {"seen": None}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if store is None and batch_df.isEmpty():
            return
        b = batch_df.localCheckpoint()
        orphans = b.join(
            parent.select(F.col(fk_parent).alias(fk_child)),
            on=fk_child,
            how="left_anti",
        )
        keys = (
            b.select(F.col(key_col).alias("k"))
            .filter(F.col("k").isNotNull())
            .distinct()
        )
        if store is not None:
            counters = b.agg(
                # coalesce: F.sum on a zero-row batch is NULL; the
                # footprint of an empty batch must be all-zero
                *[
                    F.coalesce(c.cast("long"), F.lit(0)).alias(n)
                    for n, c in agg_checks
                ],
                F.count(key_col).cast("long").alias("_nonnull_keys"),
            ).crossJoin(
                orphans.agg(
                    F.count(F.lit(1)).cast("long").alias("_fk_orphans")
                )
            )
            store.write("counters", batch_id, counters.coalesce(1))
            store.write("keys", batch_id, keys)
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
        if state["seen"] is not None:
            totals[unique_name] += (
                keys.join(state["seen"], "k", "left_semi").count()
            )
            state["seen"] = (
                state["seen"].unionByName(keys).distinct().localCheckpoint()
            )
        else:
            state["seen"] = keys.localCheckpoint()
        totals[fk_name] += orphans.count()

    _drain_batches(
        _batch_files(spark, batches_dir, TABLES["orders"]),
        fold,
        checkpoint_dir,
    )
    if store is not None:
        counters = store.read_committed(spark, "counters", checkpoint_dir)
        if counters is None:
            raise RuntimeError("streaming DQ drained zero batches")
        sums = counters.agg(
            *[
                F.sum(n).cast("long").alias(n)
                for n, _ in agg_checks
            ],
            F.sum("_nonnull_keys").cast("long").alias("_nonnull_keys"),
            F.sum("_fk_orphans").cast("long").alias("_fk_orphans"),
        ).collect()[0]
        n_distinct = (
            store.read_committed(spark, "keys", checkpoint_dir)
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
