"""Streaming queries exposed through the oracle-checked registry.

Each entry drives a Structured Streaming plan to completion on the
bounded file source (memory sink, processAllAvailable) and returns the
materialized result — so the DRIVER's DuckDB oracle verifies the
streaming operator's values, not just that it runs. Because the input
is bounded and fully drained, no rows are watermark-dropped and the
streaming result must equal the equivalent batch query: batch/stream
parity is checked by the same gate as every batch operator.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tugas_2_big_data_spark.queries import register
from tugas_2_big_data_spark.session import scratch_dir
from tugas_2_big_data_spark.streaming import events as se

_COUNTER = itertools.count()


def _sink_name(prefix: str) -> str:
    # memory-sink table names are session-global; keep re-invocations
    # (driver retries, repeated tests) from colliding
    return f"{prefix}_{os.getpid()}_{next(_COUNTER)}"


def _stage(prefix: str, batches: list[DataFrame]) -> str:
    """A session-lived work dir holding ``batches`` as ingest files
    under ``{work}/batches``; a drain keeps its checkpoint at
    ``{work}/ckpt`` and its durable state at ``{work}/state``."""
    work = scratch_dir(prefix)
    se.write_ingest_batches(batches, f"{work}/batches")
    return work


_STREAM_TUMBLE_SQL = """
SELECT
  strftime(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)),
           '%Y-%m-%d %H:%M:%S')           AS window_start,
  event_type,
  CAST(count(*) AS BIGINT)                AS n_events,
  sum(value)                              AS total_value
FROM events
GROUP BY window_start, event_type
"""


@register("stream_tumbling_5min", _STREAM_TUMBLE_SQL)
def stream_tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 5-minute tumbling aggregation, executed as a real
    Structured Streaming query (file source → memory sink) and verified
    against the SAME oracle as the batch twin evt_tumbling_5min.

    Complete output mode: append emits a window only when the watermark
    passes it, so on a bounded drain the final windows (within the
    watermark of max event time) would be held back in state forever —
    complete mode emits the whole result table instead."""
    stream = se.read_events_stream(spark, sf_dir)
    out = se.run_to_memory(
        se.tumbling_agg(stream), _sink_name("q_stream_tumble"), "complete"
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        "total_value",
    )


_STREAM_JOIN_SQL = """
SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id
FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      WHERE event_type = 'purchase') p
JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 30 MINUTE
"""


@register("stream_join_purchase_clicks", _STREAM_JOIN_SQL)
def stream_join_purchase_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (both sides watermarked, event-time
    distance bounded in the join condition so state expires), drained
    on the bounded source and value-checked against the batch join."""
    stream = se.read_events_stream(spark, sf_dir)
    out = se.run_to_memory(
        se.purchases_joined_clicks(stream),
        _sink_name("q_stream_join"),
        "append",
    )
    return out.select("purchase_id", "user_id", "click_id")


_STREAM_SESSION_SQL = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
),
marked AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
ids AS (
  SELECT user_id, ts, value,
    sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
    ) AS sid
  FROM marked
)
SELECT user_id,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f')                    AS session_start,
  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
  CAST(count(*) AS BIGINT)                                     AS n_events,
  sum(value)                                                   AS session_value
FROM ids
GROUP BY user_id, sid
"""


@register("stream_sessionize_30min", _STREAM_SESSION_SQL)
def stream_sessionize_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session_window sessionization as a REAL streaming
    query, drained on the bounded source in complete mode and checked
    against the same lag+cumsum island oracle as the batch twin
    (evt_sessionize_30min) — proving streaming session merging yields
    byte-identical sessions to the batch formulation."""
    stream = se.read_events_stream(spark, sf_dir)
    out = se.run_to_memory(
        se.sessionize(stream), _sink_name("q_stream_session"), "complete"
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "user_id",
        F.date_format("session_start", fmt).alias("session_start"),
        F.date_format("session_end", fmt).alias("session_end"),
        F.col("n_events").cast("long").alias("n_events"),
        "session_value",
    )


_STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


@register("stream_dedup_keys", _STREAM_DEDUP_SQL)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming exact dedup
    (dropDuplicatesWithinWatermark): keep the first arrival per
    (user_id, event_type) key. Only the key columns are emitted —
    WHICH duplicate survives is arrival-order-dependent, the key set
    is not — so the drained result must equal batch DISTINCT exactly.
    The state store holds each key only until the watermark passes it
    (bounded state at ingest scale; plain dropDuplicates on a stream
    grows state forever)."""
    stream = se.read_events_stream(spark, sf_dir)
    deduped = se.dedup_stream(
        stream, keys=("user_id", "event_type"), watermark="10 minutes"
    ).select("user_id", "event_type")
    out = se.run_to_memory(deduped, _sink_name("q_stream_dedup"), "append")
    return out


_STREAM_TOTALS_SQL = """
SELECT user_id,
  CAST(count(*) AS BIGINT) AS n_events,
  sum(coalesce(value, 0)) AS total_value
FROM events
GROUP BY user_id
"""


@register("stream_running_user_totals", _STREAM_TOTALS_SQL)
def stream_running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) driven as a
    real streaming query: per-user running (count, sum) state updated
    each micro-batch, update-mode memory sink. The totals are
    monotonically non-decreasing, so max() over the emitted updates ==
    the final state for every user regardless of how the source was
    micro-batched — making the drained result equal the batch
    GROUP BY oracle deterministically."""
    stream = se.read_events_stream(spark, sf_dir)
    out = se.run_to_memory(
        se.running_user_totals(stream),
        _sink_name("q_stream_totals"),
        "update",
    )
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_value").alias("total_value"),
    )


_STREAM_STATIC_SQL = """
SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment,
  e.value AS purchase_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
"""


@register("stream_static_enrich", _STREAM_STATIC_SQL)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join (the third streaming join shape, alongside
    the stream-stream interval join and broadcast literals): streaming
    purchases enriched with the static customer dimension. The static
    side is re-planned per micro-batch, holds no state, and needs no
    watermark; broadcast at scale exactly as in batch."""
    from tugas_2_big_data_spark.sources.catalog import load_table

    stream = se.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    dim = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    joined = se.enrich_with_static_dim(stream, dim).select(
        "event_id",
        "user_id",
        "c_name",
        "c_mktsegment",
        F.col("value").alias("purchase_value"),
    )
    return se.run_to_memory(joined, _sink_name("q_stream_static"), "append")


_STREAM_TOPK_SQL = """
SELECT window_start, user_id, n_events, CAST(rk AS BIGINT) AS rk FROM (
  SELECT window_start, user_id, n_events,
    row_number() OVER (
      PARTITION BY window_start ORDER BY n_events DESC, user_id
    ) AS rk
  FROM (
    SELECT
      strftime(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)),
               '%Y-%m-%d %H:%M:%S')      AS window_start,
      user_id,
      CAST(count(*) AS BIGINT)           AS n_events
    FROM events
    GROUP BY 1, 2
  )
) WHERE rk <= 3
"""


@register("stream_topk_users_5min", _STREAM_TOPK_SQL)
def stream_topk_users_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed leaderboard: the STREAM maintains per-(window, user)
    counts in watermark-bounded state (se.tumbling_user_counts); the
    top-3 rank runs on the drained result — the standard streaming
    pre-agg + serving-layer-rank split, since a rank is non-monotone
    under late data and Spark (correctly) refuses window functions
    over streaming aggregates. Complete mode for the bounded drain,
    same rationale as stream_tumbling_5min."""
    from pyspark.sql import Window

    stream = se.read_events_stream(spark, sf_dir)
    out = se.run_to_memory(
        se.tumbling_user_counts(stream), _sink_name("q_stream_topk"), "complete"
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    return (
        out.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            "rk",
        )
    )


_STREAM_ANOMALY_SQL = """
SELECT e.event_id, e.user_id, e.event_type, e.value,
       round((e.value - s.mu) / s.sigma, 9) AS zscore
FROM events e
JOIN (
  SELECT event_type, avg(value) AS mu,
         nullif(stddev_samp(value), 0) AS sigma
  FROM events GROUP BY event_type
) s USING (event_type)
WHERE s.sigma IS NOT NULL
  AND abs((e.value - s.mu) / s.sigma) > 3.0
"""


@register("stream_anomaly_zscore", _STREAM_ANOMALY_SQL)
def stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly detection against HISTORICAL statistics: the
    static side is the per-type (mu, sigma) profile computed in batch
    (conceptually yesterday's model); each live event joins the tiny
    broadcastable profile and is flagged when |z| > 3. Stateless per
    micro-batch — no watermark, no state store — which is what makes
    it deployable at any event rate; the profile refresh cadence is a
    batch-job concern, not a streaming one. Sigma-degenerate types
    (constant value) are excluded via NULLIF on both engines
    (ADVICE round-2 divergence pattern)."""
    from tugas_2_big_data_spark.sources.catalog import load_table

    hist = load_table(spark, "events", sf_dir)
    # the profile's key is RENAMED (_etype): the stream side keeps its
    # own event_type column, so the joined row has no ambiguous names
    profile = (
        hist.groupBy(F.col("event_type").alias("_etype"))
        .agg(
            F.avg("value").alias("mu"),
            F.nullif(F.stddev_samp("value"), F.lit(0.0)).alias("sigma"),
        )
        .filter(F.col("sigma").isNotNull())
    )
    stream = se.read_events_stream(spark, sf_dir)
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    flagged = (
        se.enrich_with_static_dim(
            stream, profile, on_left="event_type", on_right="_etype"
        )
        .filter(F.abs(z) > 3.0)
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.round(z, 9).alias("zscore"),
        )
    )
    return se.run_to_memory(flagged, _sink_name("q_stream_anomaly"), "append")


# safe import: queries.py registers queries_training BEFORE this module
from tugas_2_big_data_spark.queries_training import (  # noqa: E402
    _INCR_NEAR_DUP_SQL,
)


@register(
    "stream_incremental_near_dup",
    # the BATCH bipartite oracle: after a full drain the streaming
    # result must equal dedup_incremental_near_dup's — batch/stream
    # parity enforced by the same value gate
    _INCR_NEAR_DUP_SQL,
)
def stream_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest near-dup gate as a REAL streaming query: the
    corpus's injected copies arrive as a document stream and each
    micro-batch is LSH-checked against the static seen-corpus band/set
    state (streaming.events.streaming_near_dup) — the dedup gate a
    continuously-crawled corpus puts in front of its ingest sink.
    Same oracle as the batch `dedup_incremental_near_dup`."""
    from tugas_2_big_data_spark.operators import dedup
    from tugas_2_big_data_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    seen_sets = dedup.shingle_sets(docs).localCheckpoint()
    seen_bands = dedup.lsh_band_keys(
        dedup.minhash_signatures_from_sets(seen_sets, 8), 8, 4
    )

    src = se.read_documents_stream(spark, sf_dir).select("doc_id", "text")
    batch = (
        src.filter(F.col("doc_id") % 7 == 0)
        .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
        .unionByName(
            src.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zzz qqq")).alias("text"),
            )
        )
    )
    out = se.streaming_near_dup(batch, seen_bands, seen_sets)
    return se.run_to_memory(
        out, _sink_name("q_stream_near_dup"), "append"
    )


from tugas_2_big_data_spark.queries_training import (  # noqa: E402
    _incr2_near_dup_sql,
    _rev_text_col,
)


def _evolving_two_batch_fixture(spark: SparkSession, sf_dir: str):
    """(b1, b2, seen_bands, seen_sets) for the evolving near-dup loop —
    the SAME constructions as the batch query
    `dedup_incremental_near_dup_two_batches`, shared by both streaming
    twins (in-memory and durable) and the 100x scale probe."""
    from tugas_2_big_data_spark.operators import dedup
    from tugas_2_big_data_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    b1 = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzz qqq")).alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                _rev_text_col().alias("text"),
            )
        )
    )
    b2 = (
        docs.filter(F.col("doc_id") % 13 == 0)
        .select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.concat(_rev_text_col(), F.lit(" zzz qqq")).alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 400000).alias("doc_id"), "text"
            )
        )
    )
    seen_sets = dedup.shingle_sets(docs).localCheckpoint()
    seen_bands = dedup.lsh_band_keys(
        dedup.minhash_signatures_from_sets(seen_sets), 8, 4
    )
    return b1, b2, seen_bands, seen_sets


def _evolving_two_batches(
    spark: SparkSession, sf_dir: str, durable: bool
) -> DataFrame:
    b1, b2, seen_bands, seen_sets = _evolving_two_batch_fixture(
        spark, sf_dir
    )
    work = _stage("tugas2_stream_ingest_", [b1, b2])
    return se.run_evolving_near_dup(
        spark,
        f"{work}/batches",
        seen_bands,
        seen_sets,
        checkpoint_dir=f"{work}/ckpt",
        state_dir=f"{work}/state" if durable else None,
    )


_INCR2_NEAR_DUP_SQL = _incr2_near_dup_sql()


@register(
    "stream_incremental_two_batches",
    # the batch two-batch oracle: the streaming drain with per-batch
    # state merges must equal the batch check→merge→check composition
    # value-for-value — batch/stream parity for the EVOLVING loop
    _INCR2_NEAR_DUP_SQL,
)
def stream_incremental_two_batches(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CLOSED ingest loop as a STREAM: two ingest deltas arrive as
    consecutive micro-batches (one file each, streamed with
    maxFilesPerTrigger=1); each is near-dup-gated against the CURRENT
    state and its accepted docs are merged back (foreachBatch +
    dedup.merge_near_dup_state) before the next micro-batch — so the
    batch-2 plants (near-dups of batch-1 accepted docs) are caught,
    which the static-state `stream_incremental_near_dup` gate cannot
    do. Same batch constructions and SAME ORACLE as
    `dedup_incremental_near_dup_two_batches`: the streaming loop is
    value-equal to the batch composition."""
    return _evolving_two_batches(spark, sf_dir, durable=False)


@register("stream_incremental_two_batches_durable", _INCR2_NEAR_DUP_SQL)
def stream_incremental_two_batches_durable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """stream_incremental_two_batches' CRASH-SAFE twin: the same
    EVOLVING near-dup loop drained through `state_dir`. The hardest of
    the crash-safe drains because its state is both evolving AND
    order-dependent; restart-equivalence chaos-tested in
    test_streaming.py. Shares the batch two-batch oracle verbatim."""
    return _evolving_two_batches(spark, sf_dir, durable=True)


def _stream_hll_sql() -> str:
    from tugas_2_big_data_spark.queries_analytics import (
        _HLL_EST_SQL,
        _hll_reg_sql,
    )

    return f"""
WITH reg AS ({_hll_reg_sql("user_id")}),
agg AS (SELECT sum(power(2.0, -r)) AS s, count(*) AS present FROM reg)
SELECT {_HLL_EST_SQL} AS estimate,
  CAST(0 AS BIGINT) AS n_register_mismatches
FROM agg
"""


@register("stream_hll_distinct", _stream_hll_sql())
def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The portable-HLL sketch maintained ACROSS micro-batches
    (streaming/events.run_streaming_hll): per-batch register tables
    fold into the running state by cell-wise max before the next batch
    arrives — bounded (<=256-row) state however long the stream. Since
    max-merge is exact, the drained state must equal the batch-built
    whole-corpus registers REGISTER-FOR-REGISTER: the emitted
    n_register_mismatches (two-way EXCEPT vs the batch registers,
    pinned 0 by the oracle) is the batch/stream parity check, and the
    estimate is value-compared against the oracle's full replay of the
    sketch math."""
    from tugas_2_big_data_spark.operators import sketches

    work = scratch_dir("tugas2_stream_hll_")
    streamed = se.run_streaming_hll(
        spark,
        se.read_events_stream(spark, sf_dir),
        checkpoint_dir=f"{work}/ckpt",
        item_col="user_id",
    )
    from tugas_2_big_data_spark.sources.catalog import load_table

    batch_reg = sketches.hll_registers(
        load_table(spark, "events", sf_dir), "user_id"
    )
    mism = (
        streamed.exceptAll(batch_reg)
        .unionByName(batch_reg.exceptAll(streamed))
        .agg(F.count(F.lit(1)).cast("long").alias("n_register_mismatches"))
    )
    est = sketches.hll_estimate(streamed)
    return est.crossJoin(F.broadcast(mism))


def _stream_ann_append_sql() -> str:
    from tugas_2_big_data_spark.queries_training import _ivf_incradd_sql

    return (
        "SELECT query_id, nbr_id, cosine, rk FROM ("
        + _ivf_incradd_sql(stages=(2,))
        + ")"
    )


@register("stream_ann_incremental_add", _stream_ann_append_sql())
def stream_ann_incremental_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN index-maintenance loop as a STREAMING drain — the
    vector twin of stream_incremental_two_batches, closing the
    streaming symmetry (every incremental loop now has a streaming
    form: exact dedup, LSH near-dup, embedding buckets, the HLL
    sketch, and the vector index). Batch 1 (even vec_ids) builds a
    fresh IVF index into a per-run work dir and freezes its quantizer;
    batch 2 (odd vec_ids) arrives as TWO micro-batch files, each
    folded in by `similarity.ivf_append_to_index` inside foreachBatch
    (streaming/events.run_streaming_ann_append). Serving after the
    drain must equal the batch build-then-append result — the shared
    stage-2 oracle: a frozen index that ignored the stream would miss
    every odd vector and hash-mismatch; appends that depended on the
    micro-batching would too."""
    from tugas_2_big_data_spark.operators import similarity
    from tugas_2_big_data_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    # two real micro-batches: odd halves split again by vec_id % 4
    work = _stage(
        "tugas2_stream_annadd_",
        [
            b2.filter(F.col("vec_id") % 4 == 1),
            b2.filter(F.col("vec_id") % 4 == 3),
        ],
    )
    index_path = f"{work}/index"
    similarity.ivf_build_index(b1, index_path)
    n = se.run_streaming_ann_append(
        spark, f"{work}/batches", index_path, f"{work}/ckpt"
    )
    if n != 2:  # not assert: stripped under python -O
        raise RuntimeError(f"expected 2 micro-batches, folded {n}")
    q = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk_from_index(
        spark, index_path, q, nprobe=2, k=5
    ).select("query_id", "nbr_id", "cosine", "rk")



# safe import: queries.py registers queries_analytics before this module
from tugas_2_big_data_spark.queries_analytics import (  # noqa: E402
    _CDC_SQL as _CDC_STREAM_SQL,
)


@register("stream_cdc_apply", _CDC_STREAM_SQL)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC ingest loop as a STREAMING drain
    (streaming/events.run_streaming_cdc): the orders changelog arrives
    as two micro-batch files, each folded into the latest-per-key
    state (tombstones kept) via snapshots.cdc_compact before the next;
    serving filters tombstones. compact(compact(A) ∪ B) ==
    compact(A ∪ B) — per-key max is associative — so the drained
    state equals batch compaction of the whole changelog however the
    stream was micro-batched, and the query shares
    cdc_apply_changelog's oracle verbatim. Closes the streaming
    symmetry for the warehouse-maintenance loop (every incremental
    loop in this engine has both batch and streaming forms)."""
    from tugas_2_big_data_spark.sources.catalog import load_table

    o = load_table(spark, "orders", sf_dir)
    changelog = o.select(
        F.col("o_custkey"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey"),
        F.when(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_orderkey") % 50 == 0),
            F.lit("D"),
        )
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_totalprice"),
    )
    work = _stage(
        "tugas2_stream_cdc_",
        [
            changelog.filter(F.col("o_orderkey") % 2 == 0),
            changelog.filter(F.col("o_orderkey") % 2 == 1),
        ],
    )
    final = se.run_streaming_cdc(
        spark,
        f"{work}/batches",
        f"{work}/ckpt",
        schema=(
            "o_custkey long, ts timestamp, o_orderkey long, "
            "op string, o_totalprice double"
        ),
        key_cols=["o_custkey"],
        seq_col="o_orderkey",
    )
    return final.select(
        "o_custkey", "ts", "o_orderkey", "op", "o_totalprice"
    )


from tugas_2_big_data_spark.queries_training import (  # noqa: E402
    _QUALITY_GATE_SQL,
    _quality_gate_over,
    _rep_transform,
)


@register("stream_quality_gate", _QUALITY_GATE_SQL)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite Gopher quality gate ON THE INGEST STREAM: the
    planted-repetition corpus arrives as a document stream and every
    micro-batch flows through the SAME stateless map-only gate
    projection as the batch `txt_quality_gate` (shared
    _quality_gate_over) — keep/drop verdicts with named failed rules,
    decided at ingest time before anything lands in the corpus. All
    signals are in-row HOFs, so the streaming form needs no state, no
    watermark, and no per-batch shuffle; after a full drain the result
    equals the batch gate value-for-value (same oracle). Completes the
    ingest-side streaming symmetry: dedup gates, ANN appends, CDC
    folds, and now quality gating all run as drains."""
    src = se.read_documents_stream(spark, sf_dir).select("doc_id", "text")
    out = _quality_gate_over(_rep_transform(src))
    return se.run_to_memory(
        out, _sink_name("q_stream_quality_gate"), "append"
    )


from tugas_2_big_data_spark.queries_training import (  # noqa: E402
    _POSTINGS_SQL as _POSTINGS_STREAM_SQL,
)


@register("stream_postings_build", _POSTINGS_STREAM_SQL)
def stream_postings_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverted index built as a STREAMING drain
    (streaming/events.run_streaming_postings): the corpus arrives as
    two document micro-batches; each batch's posting rows append into
    the running relation before the next. A (word, doc) posting
    derives from one document and documents are disjoint across
    batches, so append IS merge — the drained index equals the batch
    build however the stream was micro-batched, and the query shares
    txt_postings' oracle verbatim. The lexical member of the
    streaming mergeable-state family (dedup bands, HLL registers, ANN
    cells, CDC state)."""
    from tugas_2_big_data_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    work = _stage(
        "tugas2_stream_postings_",
        [
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
        ],
    )
    out = se.run_streaming_postings(
        spark, f"{work}/batches", f"{work}/ckpt"
    )
    return out.withColumn(
        "positions",
        F.concat_ws(",", F.col("positions").cast("array<string>")),
    )


# safe import: queries.py registers queries_analytics before this module
from tugas_2_big_data_spark.queries_analytics import (  # noqa: E402
    _ER_MATCH_OUT_SQL as _ER_STREAM_SQL,
    _er_base as _er_stream_base,
    _er_dirty as _er_stream_dirty,
)


def _er_two_batches(
    spark: SparkSession, sf_dir: str, durable: bool
) -> DataFrame:
    dirty = _er_stream_dirty(spark, sf_dir)
    work = _stage(
        "tugas2_stream_er_",
        [
            dirty.filter(F.col("d_id") % 2 == 0),
            dirty.filter(F.col("d_id") % 2 == 1),
        ],
    )
    return se.run_streaming_er(
        spark,
        f"{work}/batches",
        f"{work}/ckpt",
        _er_stream_base(spark, sf_dir),
        state_dir=f"{work}/state" if durable else None,
    )


@register("stream_er_match", _ER_STREAM_SQL)
def stream_er_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution ON THE INGEST STREAM
    (streaming/events.run_streaming_er): the dirty registry arrives
    as two micro-batches; each block-joins the static base and keeps
    its best levenshtein match before the next batch lands. A match
    depends only on its own record plus the static base — no
    cross-record state — so append IS merge and the drained relation
    equals the batch match, sharing er_match_pairs' oracle verbatim.
    Extends the streaming symmetry (dedup gates, ANN appends, CDC
    folds, quality gate, postings) to record linkage — the shape of
    a registry that must resolve entities as records arrive, not in
    a nightly batch."""
    return _er_two_batches(spark, sf_dir, durable=False)


@register("stream_er_match_durable", _ER_STREAM_SQL)
def stream_er_match_durable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_er_match's CRASH-SAFE twin: the same two-micro-batch ER
    drain run through `state_dir`, so a killed process resumes from
    its checkpoint with nothing lost (restart-equivalence chaos-tested
    in test_streaming.py). Shares er_match_pairs' oracle verbatim —
    the driver value-certifies that the durable path emits exactly the
    in-memory drain's relation."""
    return _er_two_batches(spark, sf_dir, durable=True)


# safe import: queries.py registers queries_analytics before this module
from tugas_2_big_data_spark.queries_analytics import (  # noqa: E402
    _DQ_ORDERS_SQL as _DQ_STREAM_SQL,
    _orders_dq_checks,
)


def _dq_two_batches(
    spark: SparkSession, sf_dir: str, durable: bool
) -> DataFrame:
    from tugas_2_big_data_spark.sources.catalog import load_table

    orders = load_table(spark, "orders", sf_dir)
    work = _stage(
        "tugas2_stream_dq_",
        [
            orders.filter(F.col("o_orderkey") % 2 == 0),
            orders.filter(F.col("o_orderkey") % 2 == 1),
        ],
    )
    return se.run_streaming_dq(
        spark,
        f"{work}/batches",
        f"{work}/ckpt",
        load_table(spark, "customer", sf_dir),
        _orders_dq_checks(),
        state_dir=f"{work}/state" if durable else None,
    )


@register("stream_dq_gate", _DQ_STREAM_SQL)
def stream_dq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-quality publish gate as a STREAMING drain
    (streaming/events.run_streaming_dq): the orders batch arrives as
    two micro-batches; every violation count folds into the running
    report before the next batch lands. Scalar checks and the FK
    probe sum associatively; UNIQUENESS rides the dedup loop's
    append-only key state (within-batch dups + seen-state hits
    telescopes to total − global distinct), so the drained report
    equals the batch gate however the stream was micro-batched —
    shared oracle with dq_expectations_orders. Completes the
    streaming symmetry for the warehouse-gate family: ingest dedup,
    ANN appends, CDC folds, quality gate, postings, ER, and now the
    publish gate."""
    return _dq_two_batches(spark, sf_dir, durable=False)


@register("stream_dq_gate_durable", _DQ_STREAM_SQL)
def stream_dq_gate_durable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_dq_gate's CRASH-SAFE twin: the DQ publish gate drained
    through `state_dir`, its uniqueness computed ORDER-INDEPENDENTLY
    from the stored per-batch keys (restart- and replay-proof by
    construction; chaos-tested in test_streaming.py). Shares
    dq_expectations_orders' oracle verbatim."""
    return _dq_two_batches(spark, sf_dir, durable=True)
