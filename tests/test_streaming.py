"""Structured Streaming tests: tumbling agg matches its batch twin;
sessionization produces sane sessions (memory-sink harness)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_UNIT
from tugas_2_big_data_spark.sources.catalog import load_table
from tugas_2_big_data_spark.streaming import events as se


@pytest.fixture(scope="module")
def stream_events(spark):
    return se.read_events_stream(spark, SF_UNIT)


def test_tumbling_agg_matches_batch(spark, stream_events):
    out = se.run_to_memory(
        se.tumbling_agg(stream_events), "t_tumbling", output_mode="append"
    ).collect()
    # batch twin over the same file
    from pyspark.sql import functions as F

    ev = load_table(spark, "events", SF_UNIT)
    batch = (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            F.round("total_value", 6).alias("total_value"),
        )
        .collect()
    )
    b = {(r["window_start"], r["event_type"]): (r["n_events"], r["total_value"]) for r in batch}
    s = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in out
    }
    # append mode emits only watermark-closed windows; every emitted
    # window must match the batch result exactly, and most windows close
    assert len(s) >= len(b) * 0.9
    for k, v in s.items():
        assert b[k] == v, k


def test_running_user_totals_stateful(spark, stream_events):
    """applyInPandasWithState totals must converge to the batch groupBy
    totals once the stream drains (last update per user wins)."""
    from pyspark.sql import functions as F

    out = se.run_to_memory(
        se.running_user_totals(stream_events), "t_state", output_mode="update"
    ).collect()
    assert len(out) > 0
    # memory sink in update mode appends every update; the final state
    # per user is the row with the max n_events
    final = {}
    for r in out:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
    ev = load_table(spark, "events", SF_UNIT)
    batch = {
        r["user_id"]: (r["n"], r["total"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("total"),
        )
        .collect()
    }
    assert set(final) == set(batch)
    for uid, (n, total) in final.items():
        assert batch[uid][0] == n, uid
        assert abs(batch[uid][1] - total) < 1e-6, uid


def test_foreachbatch_parquet_sink_idempotent(spark, stream_events, tmp_path):
    """Watermark-closed tumbling windows written via foreachBatch +
    dynamic partition overwrite must equal the memory-sink result; a
    second (replayed) run over the same source must NOT duplicate."""
    out_dir = str(tmp_path / "agg")
    for run in range(2):  # second run simulates full replay
        q = se.stream_to_parquet_partitions(
            se.tumbling_agg(stream_events).withColumn(
                "wday", __import__("pyspark").sql.functions.to_date("window_start")
            ),
            out_dir,
            ["wday"],
            str(tmp_path / f"ckpt{run}"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    written = spark.read.parquet(out_dir).drop("wday")
    mem = se.run_to_memory(
        se.tumbling_agg(stream_events), "t_fb_ref", output_mode="append"
    )
    w = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in written.collect()
    }
    m = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in mem.collect()
    }
    assert w == m  # same content, no replay duplicates


def test_dedup_stream_drops_redeliveries(spark, stream_events):
    """Union the stream with itself (every event delivered twice in the
    same micro-batch) — dedup_stream must emit each event_id exactly
    once, matching the batch table's row count."""
    out = se.run_to_memory(
        se.dedup_stream(stream_events.union(stream_events)),
        "t_dedup",
        output_mode="append",
    ).collect()
    ids = [r["event_id"] for r in out]
    assert len(ids) == len(set(ids))
    n_batch = load_table(spark, "events", SF_UNIT).count()
    assert len(ids) == n_batch


def test_registry_stream_query_leaves_no_sink_view(spark):
    """The memory-sink drain drops its temp view once the result frame
    is built; the frame still reads the sink's rows afterwards."""
    from tugas_2_big_data_spark.queries import queries

    runs = [
        queries()["stream_dedup_keys"](spark, SF_UNIT).collect()
        for _ in range(3)
    ]
    assert not [
        t.name
        for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith("q_stream_")
    ]
    expected = set(
        load_table(spark, "events", SF_UNIT)
        .select("user_id", "event_type")
        .distinct()
        .collect()
    )
    for rows in runs:
        assert len(rows) == len(expected)
        assert set(rows) == expected


def test_sessionize_runs(spark, stream_events):
    rows = se.run_to_memory(
        se.sessionize(stream_events, gap="30 minutes"), "t_sessions"
    ).collect()
    assert len(rows) > 0
    for r in rows[:50]:
        assert r["session_end"] > r["session_start"]
        assert r["n_events"] >= 1


def test_stream_stream_join_matches_batch(spark, stream_events):
    """The streaming interval join must produce exactly the rows the
    same join yields in batch (the file source delivers everything, so
    no matches are watermark-dropped for this bounded input)."""
    from pyspark.sql import functions as F

    out = se.run_to_memory(
        se.purchases_joined_clicks(stream_events), "t_ssjoin", output_mode="append"
    )
    got = sorted((r.purchase_id, r.click_id) for r in out.collect())

    ev = load_table(spark, "events", SF_UNIT)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user_id"),
        F.col("ts").alias("click_ts"),
    )
    expected = sorted(
        (r.purchase_id, r.click_id)
        for r in p.join(
            c,
            (F.col("user_id") == F.col("click_user_id"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (
                F.col("click_ts")
                > F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")
            ),
        ).collect()
    )
    assert got == expected and len(got) > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """Event-time correctness under late data: a row arriving AFTER the
    watermark has passed its window must be dropped, not aggregated.
    The source is drained in two explicit passes: pass 1 advances the
    watermark beyond the early window; pass 2 delivers a late row into
    that window plus a fresh row. The early window's emitted count must
    reflect pass 1 only."""
    import os
    from datetime import datetime

    from pyspark.sql import types as T

    from tugas_2_big_data_spark.streaming import events as se

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    d = str(tmp_path / "late_src")
    os.makedirs(d, exist_ok=True)

    def write_one(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        src_dir = tmp_path / name
        part = next(p for p in os.listdir(src_dir) if p.endswith(".parquet"))
        os.rename(src_dir / part, os.path.join(d, f"{name}.parquet"))

    t = lambda s: datetime.fromisoformat(s)  # noqa: E731
    write_one(
        "f1",
        [
            (1, t("2024-01-01T10:00:30"), 1, "click", 1.0, "{}"),
            (2, t("2024-01-01T10:01:00"), 1, "click", 1.0, "{}"),
            (3, t("2024-01-01T11:00:00"), 1, "click", 1.0, "{}"),
        ],
    )

    stream = spark.readStream.schema(schema).parquet(d)
    agg = se.tumbling_agg(stream, window="5 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_drop_probe")
        .start()
    )
    try:
        q.processAllAvailable()  # pass 1: watermark -> 10:50
        write_one(
            "f2",
            [
                (4, t("2024-01-01T10:02:00"), 1, "click", 1.0, "{}"),
                (5, t("2024-01-01T12:00:00"), 1, "click", 1.0, "{}"),
            ],
        )
        q.processAllAvailable()  # pass 2: late row vs closed window
    finally:
        q.stop()
    got = {
        str(r.window_start): r.n_events
        for r in spark.sql("SELECT * FROM late_drop_probe").collect()
    }
    # the 10:00 window closed at watermark 10:50 and was emitted with
    # pass-1 rows only; the late event_id=4 must NOT be counted
    assert got.get("2024-01-01 10:00:00") == 2, got


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Checkpoint RECOVERY, not just replay idempotency: drain half the
    input (time-ordered files), stop the query, add the rest, restart
    from the SAME checkpoint dir, drain. The combined parquet output
    must equal an uninterrupted run's — including tumbling windows that
    STRADDLE the restart boundary, whose counts are only right if the
    restarted query restored the first run's partial window state and
    watermark from the checkpoint (and did not re-emit already-written
    windows)."""
    import shutil

    from pyspark.sql import functions as F

    ev = load_table(spark, "events", SF_UNIT)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cutoff = lo + (hi - lo) / 2  # deliberately NOT window-aligned

    def stage(df, dst, prefix):
        tmp = str(tmp_path / f"_stage_{prefix}")
        df.coalesce(2).write.mode("overwrite").parquet(tmp)
        import os

        os.makedirs(dst, exist_ok=True)
        for i, f in enumerate(
            sorted(
                f for f in os.listdir(tmp) if f.endswith(".parquet")
            )
        ):
            shutil.copy(f"{tmp}/{f}", f"{dst}/{prefix}-{i}.parquet")

    def drain(src, out, ckpt):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = se.stream_to_parquet_partitions(
            se.tumbling_agg(stream).withColumn(
                "wday", F.to_date("window_start")
            ),
            out,
            ["wday"],
            ckpt,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # interrupted run: first half, stop, add second half, restart
    src_a = str(tmp_path / "src_interrupted")
    out_a = str(tmp_path / "out_interrupted")
    ckpt_a = str(tmp_path / "ckpt_interrupted")
    stage(ev.filter(F.col("ts") < cutoff), src_a, "00")
    drain(src_a, out_a, ckpt_a)
    stage(ev.filter(F.col("ts") >= cutoff), src_a, "01")
    drain(src_a, out_a, ckpt_a)  # restart from the same checkpoint

    # uninterrupted reference: same files, one continuous drain
    src_b = str(tmp_path / "src_reference")
    out_b = str(tmp_path / "out_reference")
    stage(ev.filter(F.col("ts") < cutoff), src_b, "00")
    stage(ev.filter(F.col("ts") >= cutoff), src_b, "01")
    drain(src_b, out_b, str(tmp_path / "ckpt_reference"))

    def rows(path):
        return {
            (r["window_start"], r["event_type"]): (
                r["n_events"],
                round(r["total_value"], 6),
            )
            for r in spark.read.parquet(path).collect()
        }

    a, b = rows(out_a), rows(out_b)
    assert len(a) > 0
    assert a == b


def test_streaming_near_dup_matches_batch(spark):
    """The streaming near-dup gate (set carried through the band join,
    dropDuplicates candidates, stream-static verify) must produce
    exactly the batch operator's rows after a full drain."""
    from pyspark.sql import functions as F

    from tugas_2_big_data_spark.operators import dedup

    docs = load_table(spark, "documents", SF_UNIT).select("doc_id", "text")
    seen_sets = dedup.shingle_sets(docs).localCheckpoint()
    seen_bands = dedup.lsh_band_keys(
        dedup.minhash_signatures_from_sets(seen_sets, 8), 8, 4
    )

    def as_batch(src):
        return (
            src.filter(F.col("doc_id") % 7 == 0)
            .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
            .unionByName(
                src.filter(F.col("doc_id") % 10 == 0).select(
                    (F.col("doc_id") + 100000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" zzz qqq")).alias("text"),
                )
            )
        )

    stream_src = se.read_documents_stream(spark, SF_UNIT).select(
        "doc_id", "text"
    )
    streamed = {
        (r.new_id, r.seen_id, r.n_common, round(r.jaccard, 9))
        for r in se.run_to_memory(
            se.streaming_near_dup(as_batch(stream_src), seen_bands, seen_sets),
            "t_near_dup_parity",
            "append",
        ).collect()
    }
    batch = {
        (r.new_id, r.seen_id, r.n_common, round(r.jaccard, 9))
        for r in dedup.incremental_near_dup(
            dedup.shingle_sets(as_batch(docs)), seen_sets, threshold=0.5
        ).collect()
    }
    assert streamed == batch and streamed


def test_rocksdb_state_store_batch_parity(spark):
    """The tumbling aggregation drained under the RocksDB state-store
    provider equals the batch GROUP BY value-for-value. HDFS-backed
    (in-memory) state is the local default, but RocksDB is the
    provider a 100-TB streaming deployment runs — state spills to
    local disk instead of executor heap — so the engine's streaming
    queries must be provider-agnostic. The conf is set for the
    duration of this drain and restored after (provider choice must
    never change RESULTS, only where state lives)."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = se.run_to_memory(
            se.tumbling_agg(se.read_events_stream(spark, SF_UNIT)),
            "t_rocksdb_parity",
            "complete",
        )
        got = {
            (r.window_start, r.event_type): (r.n_events, round(r.total_value, 6))
            for r in out.collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass"
            )
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    ev = load_table(spark, "events", SF_UNIT)
    batch = {
        (r.w, r.event_type): (r.n, round(r.s, 6))
        for r in ev.groupBy(
            F.window("ts", "5 minutes").start.alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == batch


def test_run_streaming_cdc_custom_delete_marker(spark, tmp_path):
    """ADVICE r7: run_streaming_cdc parameterized op_col but hardcoded
    the "D" delete marker in the serving filter — a changelog using a
    different marker would serve tombstones as current state. The
    delete_op parameter mirrors snapshots.cdc_apply's signature."""
    log = spark.createDataFrame(
        [
            (1, 1, "upsert", "a"),
            (1, 2, "del", None),
            (2, 1, "upsert", "x"),
            (2, 2, "upsert", "y"),
        ],
        "k long, seq long, op string, val string",
    )
    se.write_ingest_batches(
        [log.filter("seq = 1"), log.filter("seq = 2")],
        str(tmp_path / "batches"),
    )
    final = se.run_streaming_cdc(
        spark,
        str(tmp_path / "batches"),
        str(tmp_path / "ckpt"),
        schema="k long, seq long, op string, val string",
        key_cols=["k"],
        seq_col="seq",
        delete_op="del",
    )
    out = {r.k: r.val for r in final.collect()}
    assert out == {2: "y"}  # key 1's "del" tombstone is NOT served


def test_streaming_er_equals_batch_match(spark, tmp_path):
    """Drained streaming ER must equal the batch best-match relation
    regardless of micro-batching (3 batches here vs 2 in the
    registered query vs 1 in batch)."""
    from tugas_2_big_data_spark import queries as q  # noqa: F401
    from tugas_2_big_data_spark import queries_analytics as qa
    from tugas_2_big_data_spark.operators import entity_resolution as er
    from tugas_2_big_data_spark.streaming import events as se

    sf = SF_UNIT
    dirty = qa._er_dirty(spark, sf)
    base = qa._er_base(spark, sf)
    se.write_ingest_batches(
        [
            dirty.filter(F.col("d_id") % 3 == 0),
            dirty.filter(F.col("d_id") % 3 == 1),
            dirty.filter(F.col("d_id") % 3 == 2),
        ],
        str(tmp_path / "batches"),
    )
    streamed = se.run_streaming_er(
        spark, str(tmp_path / "batches"), str(tmp_path / "ckpt"), base
    )
    batch = er.best_match(
        er.blocked_candidates(dirty, base), max_dist=3
    ).select(
        F.col("d_id").cast("long").alias("d_id"),
        F.col("c_custkey").cast("long").alias("matched_key"),
        F.col("dist").cast("long").alias("dist"),
    )
    got = sorted(map(tuple, streamed.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want


def test_streaming_dq_uniqueness_telescopes_across_batches(spark, tmp_path):
    """Plant duplicate keys ACROSS micro-batches: per-batch
    count-distinct alone would miss them; the seen-state intersection
    must make the drained report equal the batch definition
    total_nonnull − global_distinct."""
    from tugas_2_big_data_spark import queries as q  # noqa: F401  (registers modules, avoids circular import)
    from tugas_2_big_data_spark.queries_analytics import _orders_dq_checks
    from tugas_2_big_data_spark.streaming import events as se2

    rows = [
        # (orderkey, custkey, status, totalprice, orderdate, priority)
        (1, 10, "O", 100.0, "1995-06-01", "2-HIGH"),
        (2, 10, "O", 100.0, "1995-06-01", "2-HIGH"),
        (2, 11, "O", 100.0, "1995-06-01", "2-HIGH"),  # within-batch dup
        (1, 11, "O", 100.0, "1995-06-01", "2-HIGH"),  # cross-batch dup
        (3, 99, "O", -5.0, "1980-01-01", "bogus"),    # fk+range+domain
    ]

    def mk(rs):
        df = spark.createDataFrame(
            rs,
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate string, o_orderpriority string",
        )
        return df.withColumn(
            "o_orderdate", F.col("o_orderdate").cast("timestamp")
        )

    batch1 = mk(rows[:3])
    batch2 = mk(rows[3:])
    parent = spark.createDataFrame([(10,), (11,)], ["c_custkey"])
    se2.write_ingest_batches([batch1, batch2], str(tmp_path / "b"))
    report = {
        r.check_name: r
        for r in se2.run_streaming_dq(
            spark,
            str(tmp_path / "b"),
            str(tmp_path / "ckpt"),
            parent,
            _orders_dq_checks(),
        ).collect()
    }
    # 5 non-null keys, 3 distinct -> 2 duplicate violations, one of
    # them visible only across batches
    assert report["pk_unique"].observed == 2
    assert report["fk_customer_exists"].observed == 1
    assert report["totalprice_nonneg"].observed == 1
    assert report["orderdate_in_range"].observed == 1
    assert report["priority_in_set"].observed == 1
    assert report["pk_not_null"].observed == 0 and report["pk_not_null"].passed


# ---------------------------------------------------------------------------
# Checkpoint kill/restart chaos (VERDICT r8 #8): the foreachBatch SINKS
# were already idempotency-tested; these pin the stateful FOLDS. A
# "kill" is simulated faithfully for a single-JVM suite: run the drain
# with only the first batch file present (process dies after batch 1 —
# all in-memory Python state lost), then invoke the drain FRESH with
# the same checkpoint + on-disk state dir after the second file lands.
# The file-source checkpoint resumes at the first unconsumed file; the
# drained result must equal the uninterrupted run. A second pass with a
# FRESH checkpoint re-delivers everything against the same state dir —
# the full-replay duplicate test (batch-id-keyed overwrites).
# ---------------------------------------------------------------------------


def _add_batch_file(df, path, ordinal):
    """Append one ingest batch WITHOUT rewriting earlier ones (a
    write_ingest_batches re-run would give b0001 a fresh filename and
    the resumed source would re-deliver it as new data)."""
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/b{ordinal:04d}")


def test_streaming_er_restart_equals_uninterrupted(spark, tmp_path):
    from tugas_2_big_data_spark import queries as q  # noqa: F401
    from tugas_2_big_data_spark import queries_analytics as qa
    from tugas_2_big_data_spark.operators import entity_resolution as er
    from tugas_2_big_data_spark.streaming import events as se

    dirty = qa._er_dirty(spark, SF_UNIT)
    base = qa._er_base(spark, SF_UNIT)
    b1 = dirty.filter(F.col("d_id") % 2 == 0)
    b2 = dirty.filter(F.col("d_id") % 2 == 1)
    batches = str(tmp_path / "batches")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")

    _add_batch_file(b1, batches, 1)
    first = se.run_streaming_er(spark, batches, ckpt, base, state_dir=state)
    n_first = first.count()
    assert 0 < n_first < dirty.count()

    # --- process "killed"; second batch lands; fresh invocation ---
    _add_batch_file(b2, batches, 2)
    resumed = se.run_streaming_er(spark, batches, ckpt, base, state_dir=state)

    batch = er.best_match(
        er.blocked_candidates(dirty, base), max_dist=3
    ).select(
        F.col("d_id").cast("long").alias("d_id"),
        F.col("c_custkey").cast("long").alias("matched_key"),
        F.col("dist").cast("long").alias("dist"),
    )
    want = sorted(map(tuple, batch.collect()))
    assert sorted(map(tuple, resumed.collect())) == want

    # --- full replay: fresh checkpoint, same state dir -> no dups ---
    replay = se.run_streaming_er(
        spark, batches, str(tmp_path / "ckpt2"), base, state_dir=state
    )
    assert sorted(map(tuple, replay.collect())) == want


def test_streaming_dq_restart_preserves_cross_batch_uniqueness(spark, tmp_path):
    """The telescoping-uniqueness fold across a KILL: the duplicate
    key pair is split across the restart boundary, so a fold that
    lost batch-1 state would undercount pk_unique by 1."""
    from tugas_2_big_data_spark import queries as q  # noqa: F401
    from tugas_2_big_data_spark.queries_analytics import _orders_dq_checks
    from tugas_2_big_data_spark.streaming import events as se

    rows = [
        (1, 10, "O", 100.0, "1995-06-01", "2-HIGH"),
        (2, 10, "O", 100.0, "1995-06-01", "2-HIGH"),
        (2, 11, "O", 100.0, "1995-06-01", "2-HIGH"),  # within-batch dup
        (1, 11, "O", 100.0, "1995-06-01", "2-HIGH"),  # cross-RESTART dup
        (3, 99, "O", -5.0, "1980-01-01", "bogus"),    # fk+range+domain
    ]

    def mk(rs):
        df = spark.createDataFrame(
            rs,
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate string, o_orderpriority string",
        )
        return df.withColumn(
            "o_orderdate", F.col("o_orderdate").cast("timestamp")
        )

    parent = spark.createDataFrame([(10,), (11,)], ["c_custkey"])
    batches = str(tmp_path / "b")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")

    def run(c):
        return {
            r.check_name: r
            for r in se.run_streaming_dq(
                spark, batches, c, parent, _orders_dq_checks(),
                state_dir=state,
            ).collect()
        }

    _add_batch_file(mk(rows[:3]), batches, 1)
    first = run(ckpt)
    assert first["pk_unique"].observed == 1  # within-batch dup only

    _add_batch_file(mk(rows[3:]), batches, 2)
    resumed = run(ckpt)
    assert resumed["pk_unique"].observed == 2
    assert resumed["fk_customer_exists"].observed == 1
    assert resumed["totalprice_nonneg"].observed == 1
    assert resumed["orderdate_in_range"].observed == 1
    assert resumed["priority_in_set"].observed == 1
    assert resumed["pk_not_null"].observed == 0

    # full replay with a fresh checkpoint: batch-keyed overwrites keep
    # every counter identical (no double-folding)
    replayed = run(str(tmp_path / "ckpt2"))
    assert {k: v.observed for k, v in replayed.items()} == {
        k: v.observed for k, v in resumed.items()
    }


def test_streaming_ann_append_restart_equals_uninterrupted(spark, tmp_path):
    """The ANN append drain is disk-backed by construction (the index
    IS the state, appends are ingest-keyed) — pin that a kill between
    micro-batches and a full checkpoint replay both serve the exact
    uninterrupted result."""
    from tugas_2_big_data_spark.operators import similarity
    from tugas_2_big_data_spark.sources.catalog import load_table
    from tugas_2_big_data_spark.streaming import events as se

    emb = load_table(spark, "embeddings", SF_UNIT)
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    batches = str(tmp_path / "batches")
    ckpt = str(tmp_path / "ckpt")

    def serve(path):
        return sorted(
            map(
                tuple,
                similarity.ivf_topk_from_index(
                    spark, path, emb.filter(F.col("vec_id") < 5),
                    nprobe=2, k=5,
                )
                .select("query_id", "nbr_id", "rk")
                .collect(),
            )
        )

    # uninterrupted twin: one build + both appends in one "process"
    ref_path = str(tmp_path / "index_ref")
    similarity.ivf_build_index(b1, ref_path)
    ref_b = str(tmp_path / "ref_batches")
    _add_batch_file(odd.filter(F.col("vec_id") % 4 == 1), ref_b, 1)
    _add_batch_file(odd.filter(F.col("vec_id") % 4 == 3), ref_b, 2)
    assert se.run_streaming_ann_append(
        spark, ref_b, ref_path, str(tmp_path / "ref_ckpt")
    ) == 2
    want = serve(ref_path)

    # killed-and-restarted twin
    idx = str(tmp_path / "index")
    similarity.ivf_build_index(b1, idx)
    _add_batch_file(odd.filter(F.col("vec_id") % 4 == 1), batches, 1)
    assert se.run_streaming_ann_append(spark, batches, idx, ckpt) == 1
    _add_batch_file(odd.filter(F.col("vec_id") % 4 == 3), batches, 2)
    assert se.run_streaming_ann_append(spark, batches, idx, ckpt) == 1
    assert serve(idx) == want

    # full replay: fresh checkpoint re-delivers BOTH files against the
    # already-complete index; ingest-keyed appends must not duplicate
    assert se.run_streaming_ann_append(
        spark, batches, idx, str(tmp_path / "ckpt2")
    ) == 2
    assert serve(idx) == want


def test_evolving_near_dup_restart_equals_uninterrupted(spark, tmp_path):
    """The EVOLVING near-dup fold across a kill: batch 2 contains a
    near-dup of a doc ACCEPTED in batch 1, so a restarted fold that
    lost batch-1 state would wrongly accept it. Also replays the whole
    stream from a fresh checkpoint against the same state dir — the
    strictly-earlier-batch read must re-gate each batch against
    exactly the state its first attempt saw (no self-collision, no
    double rows)."""
    from tugas_2_big_data_spark.operators import dedup
    from tugas_2_big_data_spark.sources.catalog import load_table
    from tugas_2_big_data_spark.streaming import events as se

    docs = load_table(spark, "documents", SF_UNIT).select("doc_id", "text")
    rev = F.expr("concat_ws(' ', reverse(split(text, ' ')))")
    # batch 1: reversed word order = genuinely fresh vs the seen corpus
    # (ACCEPTED). batch 2: the same docs reversed + a suffix = near-dups
    # of batch-1's ACCEPTED docs (must be REJECTED — catching them needs
    # batch-1 state to survive the kill), plus fresh reversed docs from
    # a disjoint id band (accepted).
    b1 = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), rev.alias("text")
    )
    b2 = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(rev, F.lit(" zzz qqq")).alias("text"),
    ).unionByName(
        docs.filter((F.col("doc_id") % 13 != 0) & (F.col("doc_id") % 7 == 3))
        .select((F.col("doc_id") + 400000).alias("doc_id"), rev.alias("text"))
    )
    seen_sets = dedup.shingle_sets(docs).localCheckpoint()
    seen_bands = dedup.lsh_band_keys(
        dedup.minhash_signatures_from_sets(seen_sets), 8, 4
    )
    batches = str(tmp_path / "batches")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")

    def drain(c, s):
        return se.run_evolving_near_dup(
            spark, batches, seen_bands, seen_sets,
            checkpoint_dir=c, state_dir=s,
        )

    _add_batch_file(b1, batches, 1)
    first = drain(ckpt, state)
    n_first = first.count()
    assert n_first > 0

    # --- kill; batch 2 lands; fresh invocation resumes ---
    _add_batch_file(b2, batches, 2)
    resumed = drain(ckpt, state)
    got = sorted(map(tuple, resumed.collect()))

    # uninterrupted in-memory twin over the same two batches
    ref_b = str(tmp_path / "ref_batches")
    _add_batch_file(b1, ref_b, 1)
    _add_batch_file(b2, ref_b, 2)
    want = sorted(
        map(
            tuple,
            se.run_evolving_near_dup(
                spark, ref_b, seen_bands, seen_sets,
                checkpoint_dir=str(tmp_path / "ref_ckpt"),
            ).collect(),
        )
    )
    assert got == want
    # the near-dup plants were caught ACROSS the restart boundary
    batch2_ids = {r[1] for r in got if r[0] == 2}
    planted = {r.doc_id + 100000 for r in b1.select("doc_id").collect()}
    assert not (batch2_ids & planted), "a near-dup of killed-run state was accepted"
    # and batch 2's genuinely fresh docs were still accepted
    assert any(i >= 400000 for i in batch2_ids)

    # --- full replay: fresh checkpoint, same state dir -> identical ---
    replay = drain(str(tmp_path / "ckpt2"), state)
    assert sorted(map(tuple, replay.collect())) == want


def test_streaming_er_durable_zero_batches_raises_explicitly(spark, tmp_path):
    """ADVICE r9: a durable drain that consumes zero batches must raise
    the same explicit RuntimeError as the in-memory path, not a raw
    PATH_NOT_FOUND/schema-inference AnalysisException from reading a
    state_dir that was never written."""
    from tugas_2_big_data_spark import queries as q  # noqa: F401
    from tugas_2_big_data_spark import queries_analytics as qa

    base = qa._er_base(spark, SF_UNIT)
    batches = tmp_path / "batches"
    batches.mkdir()  # exists but holds no *.parquet -> zero batches
    with pytest.raises(RuntimeError, match="drained zero batches"):
        se.run_streaming_er(
            spark,
            str(batches),
            str(tmp_path / "ckpt"),
            base,
            state_dir=str(tmp_path / "state"),
        )


def test_streaming_dq_durable_zero_batches_raises_explicitly(spark, tmp_path):
    from tugas_2_big_data_spark import queries as q  # noqa: F401
    from tugas_2_big_data_spark.queries_analytics import _orders_dq_checks

    parent = spark.createDataFrame([(10,)], ["c_custkey"])
    batches = tmp_path / "batches"
    batches.mkdir()
    with pytest.raises(RuntimeError, match="drained zero batches"):
        se.run_streaming_dq(
            spark,
            str(batches),
            str(tmp_path / "ckpt"),
            parent,
            _orders_dq_checks(),
            state_dir=str(tmp_path / "state"),
        )


def test_streaming_er_durable_ignores_foreign_stale_partitions(spark, tmp_path):
    """ADVICE r9: a reused state_dir holding batch-N state from an
    earlier ABORTED run that drained MORE batches than this stream must
    not leak those rows into the drained relation — the final fold is
    scoped to the batch ids THIS checkpoint committed."""
    from tugas_2_big_data_spark import queries as q  # noqa: F401
    from tugas_2_big_data_spark import queries_analytics as qa
    from tugas_2_big_data_spark.operators import entity_resolution as er

    dirty = qa._er_dirty(spark, SF_UNIT)
    base = qa._er_base(spark, SF_UNIT)
    batches = str(tmp_path / "batches")
    state = str(tmp_path / "state")

    # a foreign aborted run left a stale high-numbered partition
    spark.createDataFrame(
        [(999999, 999999, 0)], "d_id long, matched_key long, dist long"
    ).write.parquet(se._BatchStore(state).path("matches", 7))

    _add_batch_file(dirty, batches, 1)
    out = se.run_streaming_er(
        spark, batches, str(tmp_path / "ckpt"), base, state_dir=state
    )
    want = er.best_match(
        er.blocked_candidates(dirty, base), max_dist=3
    ).select(
        F.col("d_id").cast("long").alias("d_id"),
        F.col("c_custkey").cast("long").alias("matched_key"),
        F.col("dist").cast("long").alias("dist"),
    )
    got = sorted(map(tuple, out.collect()))
    assert (999999, 999999, 0) not in got
    assert got == sorted(map(tuple, want.collect()))


def test_streaming_dq_durable_ignores_foreign_stale_partitions(spark, tmp_path):
    """Stale counters/keys partitions beyond this checkpoint's commit
    log must not inflate the report."""
    from tugas_2_big_data_spark import queries as q  # noqa: F401
    from tugas_2_big_data_spark.queries_analytics import _orders_dq_checks

    rows = [
        (1, 10, "O", 100.0, "1995-06-01", "2-HIGH"),
        (2, 10, "O", 100.0, "1995-06-01", "2-HIGH"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    parent = spark.createDataFrame([(10,)], ["c_custkey"])
    batches = str(tmp_path / "b")
    state = str(tmp_path / "state")

    checks = _orders_dq_checks()
    agg_names = [n for n, _ in checks if n != "pk_unique"]
    # foreign run's stale batch 9: huge counters + a colliding key
    spark.createDataFrame(
        [tuple([50] * len(agg_names) + [50, 50])],
        ", ".join(f"{n} long" for n in agg_names)
        + ", _nonnull_keys long, _fk_orphans long",
    ).write.parquet(se._BatchStore(state).path("counters", 9))
    spark.createDataFrame([(1,)], "k long").write.parquet(
        se._BatchStore(state).path("keys", 9)
    )

    _add_batch_file(df, batches, 1)
    report = {
        r.check_name: r
        for r in se.run_streaming_dq(
            spark, batches, str(tmp_path / "ckpt"), parent, checks,
            state_dir=state,
        ).collect()
    }
    assert all(r.observed == 0 and r.passed for r in report.values()), {
        k: v.observed for k, v in report.items()
    }


def test_committed_batch_ids_handles_uri_prefixes(tmp_path):
    """The commit-log reader must resolve file:-prefixed checkpoint
    paths (Spark accepts URIs and plain paths interchangeably) and
    ignore non-integer entries like Hadoop .crc sidecars."""
    commits = tmp_path / "ckpt" / "commits"
    commits.mkdir(parents=True)
    (commits / "0").write_text("v1")
    (commits / "3").write_text("v1")
    (commits / ".3.crc").write_text("")
    base = str(tmp_path / "ckpt")
    assert se._committed_batch_ids(base) == {0, 3}
    assert se._committed_batch_ids("file:" + base) == {0, 3}
    assert se._committed_batch_ids("file://" + base) == {0, 3}
    assert se._committed_batch_ids(str(tmp_path / "missing")) == set()


def test_committed_batch_ids_rejects_non_file_scheme(tmp_path):
    """ADVICE r10: with a non-local checkpoint URI the local-fs commit
    listing cannot see the commit log; the old silent set() turned
    that mis-deployment into an empty final result. It must raise."""
    with pytest.raises(NotImplementedError, match="hdfs"):
        se._committed_batch_ids("hdfs://nn:8020/ckpt")
    with pytest.raises(NotImplementedError, match="s3a"):
        se._committed_batch_ids("s3a://bucket/ckpt")
    # the legitimate empty scope is still the empty set, not an error
    assert se._committed_batch_ids(str(tmp_path / "nope")) == set()


def test_streaming_er_durable_empty_batch_claims_same_id_footprint(
    spark, tmp_path
):
    """ADVICE r10: an EMPTY micro-batch is still committed, so its id
    enters the final fold's scope — a same-id batch dir left by a
    foreign run in a reused state_dir must be overwritten (claimed),
    not folded into the result through the early return."""
    from tugas_2_big_data_spark import queries as q  # noqa: F401
    from tugas_2_big_data_spark import queries_analytics as qa
    from tugas_2_big_data_spark.operators import entity_resolution as er

    dirty = qa._er_dirty(spark, SF_UNIT)
    base = qa._er_base(spark, SF_UNIT)
    batches = str(tmp_path / "batches")
    state = str(tmp_path / "state")

    # foreign aborted run left rows at batch 1 — the id our EMPTY
    # second file will be committed under
    spark.createDataFrame(
        [(999999, 999999, 0)], "d_id long, matched_key long, dist long"
    ).write.parquet(se._BatchStore(state).path("matches", 1))

    _add_batch_file(dirty, batches, 1)          # -> batch id 0
    _add_batch_file(dirty.limit(0), batches, 2)  # -> batch id 1, EMPTY
    out = se.run_streaming_er(
        spark, batches, str(tmp_path / "ckpt"), base, state_dir=state
    )
    want = er.best_match(
        er.blocked_candidates(dirty, base), max_dist=3
    ).select(
        F.col("d_id").cast("long").alias("d_id"),
        F.col("c_custkey").cast("long").alias("matched_key"),
        F.col("dist").cast("long").alias("dist"),
    )
    got = sorted(map(tuple, out.collect()))
    assert (999999, 999999, 0) not in got
    assert got == sorted(map(tuple, want.collect()))


def test_streaming_dq_durable_empty_batch_claims_same_id_footprint(
    spark, tmp_path
):
    from tugas_2_big_data_spark import queries as q  # noqa: F401
    from tugas_2_big_data_spark.queries_analytics import _orders_dq_checks

    rows = [
        (1, 10, "O", 100.0, "1995-06-01", "2-HIGH"),
        (2, 10, "O", 100.0, "1995-06-01", "2-HIGH"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    parent = spark.createDataFrame([(10,)], ["c_custkey"])
    batches = str(tmp_path / "b")
    state = str(tmp_path / "state")

    checks = _orders_dq_checks()
    agg_names = [n for n, _ in checks if n != "pk_unique"]
    # foreign run's batch 1: huge counters + a colliding key — exactly
    # the id our empty second file is committed under
    spark.createDataFrame(
        [tuple([50] * len(agg_names) + [50, 50])],
        ", ".join(f"{n} long" for n in agg_names)
        + ", _nonnull_keys long, _fk_orphans long",
    ).write.parquet(se._BatchStore(state).path("counters", 1))
    spark.createDataFrame([(1,)], "k long").write.parquet(
        se._BatchStore(state).path("keys", 1)
    )

    _add_batch_file(df, batches, 1)          # -> batch id 0
    _add_batch_file(df.limit(0), batches, 2)  # -> batch id 1, EMPTY
    report = {
        r.check_name: r
        for r in se.run_streaming_dq(
            spark, batches, str(tmp_path / "ckpt"), parent, checks,
            state_dir=state,
        ).collect()
    }
    assert all(r.observed == 0 and r.passed for r in report.values()), {
        k: v.observed for k, v in report.items()
    }


def test_evolving_near_dup_durable_empty_batch_claims_same_id_footprint(
    spark, tmp_path
):
    from tugas_2_big_data_spark.operators import dedup

    docs = load_table(spark, "documents", SF_UNIT).select("doc_id", "text")
    rev = F.expr("concat_ws(' ', reverse(split(text, ' ')))")
    b1 = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), rev.alias("text")
    )
    seen_sets = dedup.shingle_sets(docs).localCheckpoint()
    seen_bands = dedup.lsh_band_keys(
        dedup.minhash_signatures_from_sets(seen_sets), 8, 4
    )
    batches = str(tmp_path / "batches")
    state = str(tmp_path / "state")

    # foreign accepted rows under the id our empty file commits as
    spark.createDataFrame(
        [(2, 999999)], "batch long, doc_id long"
    ).write.parquet(se._BatchStore(state).path("accepted", 1))

    _add_batch_file(b1, batches, 1)          # -> batch id 0
    _add_batch_file(b1.limit(0), batches, 2)  # -> batch id 1, EMPTY
    out = se.run_evolving_near_dup(
        spark, batches, seen_bands, seen_sets,
        checkpoint_dir=str(tmp_path / "ckpt"), state_dir=state,
    )
    got = sorted(map(tuple, out.collect()))
    assert (2, 999999) not in got
    assert got and all(b == 1 for b, _ in got)


def test_scratch_dir_lives_under_the_spark_files_root(spark):
    """Stream queries stage their batches, checkpoints and state here;
    Spark deletes this root on stop(), so no work dir outlives the
    session."""
    import os

    from pyspark import SparkFiles

    from tugas_2_big_data_spark.session import scratch_dir

    root = os.path.realpath(SparkFiles.getRootDirectory())
    d = scratch_dir("tugas2_stream_test_")
    assert os.path.isdir(d)
    assert os.path.dirname(os.path.realpath(d)) == root
