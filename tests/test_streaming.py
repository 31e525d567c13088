"""Streaming windowed aggregation + stateful dedup + observability.

Strategy: run the same plan in batch mode as the oracle, then drive the
streaming version from a file source with availableNow and compare
after watermark closure (complete/update semantics permitting).
"""

import os
import time

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _events(spark):
    from dataingestionframework_spark.plans.tables import load

    return load(spark, SF_DIR, "events")


def test_tumbling_window_batch_oracle(spark):
    from dataingestionframework_spark.streaming.windows import tumbling_window_agg

    out = tumbling_window_agg(_events(spark)).collect()
    assert len(out) > 0
    byhour = [(r.window_start, r.event_type, r.n) for r in out]
    # cross-check one bucket against a direct filter count
    w0, et0, n0 = byhour[0]
    direct = (
        _events(spark)
        .filter(
            (F.col("event_type") == et0)
            & (F.date_trunc("hour", "ts") == w0)
        )
        .count()
    )
    assert direct == n0


def test_session_window_agg_batch(spark):
    from dataingestionframework_spark.streaming.windows import session_window_agg

    out = session_window_agg(_events(spark), gap="30 minutes")
    rows = out.collect()
    assert all(r.session_end >= r.session_start for r in rows)
    # session count should match the batch sessionizer's
    from dataingestionframework_spark.operators.windows import session_stats

    batch_sessions = session_stats(_events(spark), gap_minutes=30).count()
    assert len(rows) == batch_sessions


def test_streaming_tumbling_from_file_source(spark, tmp_root):
    from dataingestionframework_spark.streaming.windows import tumbling_window_agg
    from dataingestionframework_spark.streaming.observe import attach

    src = os.path.join(tmp_root, "stream_src")
    _events(spark).limit(500).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    rec = attach(spark)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    agg = tumbling_window_agg(stream, watermark="5 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumbling_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM tumbling_out").collect()
    expected = tumbling_window_agg(spark.read.parquet(src)).collect()
    assert len(got) == len(expected)
    g = {(r.window_start, r.event_type): (r.n, r.total_value) for r in got}
    e = {(r.window_start, r.event_type): (r.n, r.total_value) for r in expected}
    assert g == e
    # listener delivery is async — wait bounded, then assert
    assert rec.wait_for_progress(1)
    assert any(p["numInputRows"] > 0 for p in rec.progress)


def test_streaming_rollup_incremental_merge(spark, catalog, tmp_root):
    """Rollup table maintained by additive MERGE per micro-batch must
    equal the batch ground truth over the same data."""
    from dataingestionframework_spark.streaming.rollup import rollup_batch, streaming_rollup

    src = os.path.join(tmp_root, "rollup_src")
    ev = _events(spark).limit(400)
    # several files so availableNow sees multiple micro-batches
    ev.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema

    table = catalog.table("m.rollup")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    streaming_rollup(stream, table, checkpoint=os.path.join(tmp_root, "rollup_ckpt"))

    got = {
        (r.bucket, r.event_type): (r.n, round(r.total_value, 2))
        for r in table.read().collect()
    }
    expected = {
        (r.bucket, r.event_type): (r.n, round(r.total_value, 2))
        for r in rollup_batch(spark.read.parquet(src)).collect()
    }
    assert got == expected


def test_watermark_drops_late_events_append_mode(spark, tmp_root):
    """Append-mode windowed agg only emits watermark-closed windows, and
    events older than the watermark are excluded from state."""
    import pandas as pd

    src = os.path.join(tmp_root, "late_src")
    os.makedirs(src)
    base = pd.Timestamp("2024-01-01 00:00:00")
    # batch 1 advances the watermark to 02:30; batch 2 (hour-4 event)
    # makes the engine EVICT hours 0-2 from state; only then is the
    # hour-0 straggler in batch 3 genuinely late (micro-batch watermark
    # eviction is lazy — a 2-batch version would still merge it).
    a = pd.DataFrame({
        "event_id": range(4),
        "ts": [base + pd.Timedelta(hours=h) for h in range(4)],
        "value": [1.0] * 4,
    })
    c = pd.DataFrame({"event_id": [50], "ts": [base + pd.Timedelta(hours=4)], "value": [1.0]})
    b = pd.DataFrame({"event_id": [99], "ts": [base], "value": [1.0]})
    # micro-precision + UTC flag (pandas ns-naive reads as NTZ, which
    # watermarks reject; Spark's reader rejects NANOS outright); the
    # file source processes oldest-mtime first — force a < c < b.
    import time as time_mod

    now = time_mod.time()
    for i, (df_, name) in enumerate(((a, "a.parquet"), (c, "c.parquet"), (b, "b.parquet"))):
        df_["ts"] = df_["ts"].dt.tz_localize("UTC")
        df_.astype({"ts": "datetime64[us, UTC]"}).to_parquet(os.path.join(src, name))
        os.utime(os.path.join(src, name), (now - 120 + i * 30,) * 2)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .option("checkpointLocation", os.path.join(tmp_root, "late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {str(r.ws): r.n for r in spark.sql("SELECT * FROM late_out").collect()}
    # the hour-0 straggler was dropped by the watermark → n stays 1
    assert got == {
        "2024-01-01 00:00:00": 1,
        "2024-01-01 01:00:00": 1,
        "2024-01-01 02:00:00": 1,
    }
    # late-drop is observable in the progress metrics
    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped == 1


def test_streaming_dedup_within_watermark(spark, tmp_root):
    from dataingestionframework_spark.streaming.windows import streaming_dedup

    src = os.path.join(tmp_root, "dup_src")
    ev = _events(spark).limit(100)
    ev.union(ev).coalesce(1).write.parquet(src)  # every event twice
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_dedup(stream, keys=["event_id"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT count(DISTINCT event_id) AS k, count(*) AS n FROM dedup_out").first()
    assert n.n == n.k == 100


def test_stream_ignore_corrupt_files_option(spark, tmp_root):
    """ignoreCorruptFiles passthrough (cloudFiles analogue): a garbage
    .parquet in the source dir is skipped when the spec opts in, and
    fails the drain when it doesn't."""
    from dataingestionframework_spark.sources.stream import read_stream
    from dataingestionframework_spark.specs import ColumnSpec, IngestionSpec

    src = os.path.join(tmp_root, "corrupt_src")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").coalesce(
        1
    ).write.parquet(src)
    with open(os.path.join(src, "part-junk.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")

    def _spec(**kw):
        return IngestionSpec(
            header_id=99, source_name="c", table_name="main.c",
            source_path=src, file_format="parquet",
            columns=[ColumnSpec("id", "id", "bigint", 1),
                     ColumnSpec("v", "v", "string", 2)],
            **kw,
        )

    def _drain(spec, name):
        q = (
            read_stream(spark, spec)
            .writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.sql(f"SELECT count(*) AS n FROM {name}").first().n

    assert _drain(_spec(ignore_corrupt_files=True), "tolerant_out") == 2

    import pytest as _pytest

    with _pytest.raises(Exception):
        _drain(_spec(), "strict_out")


def test_stream_stream_interval_join_matches_batch(spark, tmp_root):
    """Stream-stream inner join with event-time bounds: purchases
    joined to same-user signups within 24h, both sides real file
    streams with watermarks. Oracle = the same operator over batch
    frames (one shared plan builder)."""
    from dataingestionframework_spark.streaming.joins import stream_interval_join

    ev = _events(spark).limit(2000)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_id")
    )
    psrc, ssrc = os.path.join(tmp_root, "p_src"), os.path.join(tmp_root, "s_src")
    purchases.coalesce(1).write.parquet(psrc)
    signups.coalesce(1).write.parquet(ssrc)

    expected = {
        (r.user_id, r.event_id, r.r_signup_id)
        for r in stream_interval_join(
            spark.read.parquet(psrc), spark.read.parquet(ssrc),
            on="user_id", within="24 hours",
        ).collect()
    }
    assert expected  # non-trivial join

    lp = spark.readStream.schema(spark.read.parquet(psrc).schema).parquet(psrc)
    ls = spark.readStream.schema(spark.read.parquet(ssrc).schema).parquet(ssrc)
    q = (
        stream_interval_join(lp, ls, on="user_id", within="24 hours")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .option("checkpointLocation", f"{tmp_root}/ssj_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.event_id, r.r_signup_id)
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }
    assert got == expected


def test_corpus_stream_prep_quality_and_dedup(spark, tmp_root):
    """Streaming corpus intake without chunking: the quality gate drops
    junk docs and dropDuplicatesWithinWatermark keeps one copy of each
    planted dup; result equals the batch form of the same builder."""
    from dataingestionframework_spark.ingest.corpus import (
        CorpusPrepSpec,
        corpus_stream_prep,
    )

    rows = [
        (1, "2024-01-01 10:00:00", "the quick brown fox jumps over the lazy dog again and again"),
        (2, "2024-01-01 10:05:00", "the quick brown fox jumps over the lazy dog again and again"),
        (3, "2024-01-01 10:10:00", "data stream batch row column table scan filter join agg sort"),
        (4, "2024-01-01 10:15:00", "a a a"),  # degenerate: <5 tokens, all stopwords
    ]
    src = os.path.join(tmp_root, "corpus_src")
    df = spark.createDataFrame(rows, "doc_id long, ts string, text string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    df.coalesce(1).write.parquet(src)

    spec = CorpusPrepSpec(min_quality=0.6, chunk_size=0)
    batch = corpus_stream_prep(spark.read.parquet(src), spec)
    batch_texts = {r.text for r in batch.collect()}
    assert len(batch_texts) == 2  # dup collapsed, degenerate dropped

    from dataingestionframework_spark.streaming.observe import attach

    rec = attach(spark)
    try:
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        q = (
            corpus_stream_prep(stream, spec, observe_prefix="corpus")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("corpus_clean_out")
            .option("checkpointLocation", f"{tmp_root}/corpus_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r.text for r in spark.sql("SELECT * FROM corpus_clean_out").collect()}
        assert got == batch_texts

        # Per-stage funnel metrics rode the micro-batch progress:
        # 4 in → 3 past the quality gate → 2 emitted after dedup.
        deadline = time.time() + 30
        while time.time() < deadline and not rec.observed("corpus_deduped"):
            time.sleep(0.5)  # listener events are async
        assert sum(m["n"] for m in rec.observed("corpus_input")) == 4
        assert sum(m["n"] for m in rec.observed("corpus_gated")) == 3
        assert sum(m["n"] for m in rec.observed("corpus_deduped")) == 2
        assert 0 < rec.observed("corpus_input")[0]["mean_quality"] <= 1.0
    finally:
        spark.streams.removeListener(rec)


def test_corpus_incremental_intake_dedups_across_restarts(spark, tmp_root):
    """Unbounded-horizon dedup: docs seen in ANY earlier run never
    re-enter the sink; a replayed batch is idempotent by construction."""
    from dataingestionframework_spark.ingest.corpus import corpus_incremental_intake

    src = os.path.join(tmp_root, "inc_src")
    sink = os.path.join(tmp_root, "inc_sink")
    ckpt = os.path.join(tmp_root, "inc_ckpt")
    schema = "doc_id long, ts string, text string"
    good = "data stream batch row column table scan filter join agg sort"
    alt = "the quick brown fox jumps over the lazy dog again and again"

    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", good), (2, "2024-01-01 10:01:00", alt)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    st = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    corpus_incremental_intake(st, sink, ckpt).awaitTermination(120)
    assert spark.read.parquet(sink).count() == 2

    # Second run: one dup of doc 1's text, one genuinely new doc.
    spark.createDataFrame(
        [(3, "2024-01-01 11:00:00", good),
         (4, "2024-01-01 11:01:00", "key agg row scan slow fast table value part hash merge")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    st2 = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    corpus_incremental_intake(st2, sink, ckpt).awaitTermination(120)

    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 3  # dup text never re-entered
    assert len({r.text for r in rows}) == 3
    assert sorted(r.doc_id for r in rows) == [1, 2, 4]


def test_corpus_stream_prep_full_funnel(spark, tmp_root):
    """Full streaming CorpusPrep: lang filter -> quality gate ->
    watermark dedup -> chunking in one incremental plan, with the
    per-stage observe() funnel riding the micro-batch progress."""
    from dataingestionframework_spark.ingest.corpus import (
        CorpusPrepSpec,
        corpus_stream_prep,
    )
    from dataingestionframework_spark.streaming.observe import attach

    rows = [
        (1, "en", "2024-01-01 10:00:00",
         "the quick brown fox jumps over the lazy dog again and again"),
        (2, "en", "2024-01-01 10:05:00",
         "the quick brown fox jumps over the lazy dog again and again"),
        (3, "de", "2024-01-01 10:10:00",
         "data stream batch row column table scan filter join agg sort"),
        (4, "en", "2024-01-01 10:15:00", "a a a"),
    ]
    src = os.path.join(tmp_root, "prep_src")
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, ts string, text string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.parquet(src)

    spec = CorpusPrepSpec(
        min_quality=0.6, lang_allow=["en"], dedup="exact",
        chunk_size=5, chunk_stride=5,
    )
    # batch form: doc 3 lang-filtered, doc 4 quality-gated, dup 1/2
    # collapsed -> one doc of 12 tokens -> 3 chunks of 5/5/2
    batch = corpus_stream_prep(spark.read.parquet(src), spec)
    got_b = sorted(
        (r.chunk_id, r.n_chunk_tokens) for r in batch.collect()
    )
    assert got_b == [(0, 5), (1, 5), (2, 2)]

    rec = attach(spark)
    try:
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = (
            corpus_stream_prep(stream, spec, observe_prefix="prep")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("prep_out")
            .option("checkpointLocation", f"{tmp_root}/prep_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got_s = sorted(
            (r.chunk_id, r.n_chunk_tokens)
            for r in spark.sql("SELECT * FROM prep_out").collect()
        )
        assert got_s == got_b

        deadline = time.time() + 30
        while time.time() < deadline and not rec.observed("prep_chunks"):
            time.sleep(0.5)
        assert sum(m["n"] for m in rec.observed("prep_input")) == 4
        assert sum(m["n"] for m in rec.observed("prep_lang")) == 3
        assert sum(m["n"] for m in rec.observed("prep_gated")) == 2
        assert sum(m["n"] for m in rec.observed("prep_deduped")) == 1
        assert sum(m["n"] for m in rec.observed("prep_chunks")) == 3
    finally:
        spark.streams.removeListener(rec)


def test_rocksdb_state_store_runs_stateful_agg(spark, tmp_root):
    """RocksDB state store provider (the state>>heap scale path): a
    stateful aggregation runs under it and reports RocksDB-specific
    custom metrics, proving the provider was actually engaged."""
    import os

    from dataingestionframework_spark.session import use_rocksdb_state

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    use_rocksdb_state(spark)
    try:
        src = os.path.join(tmp_root, "rdb_src")
        spark.createDataFrame(
            [(i, i % 3) for i in range(100)], "id long, k long"
        ).write.parquet(src)
        st = spark.readStream.schema("id long, k long").parquet(src)
        q = (
            st.groupBy("k")
            .count()
            .writeStream.format("memory")
            .queryName("rdb_agg")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(tmp_root, "rdb_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {(r.k, r["count"]) for r in spark.table("rdb_agg").collect()}
        assert got == {(0, 34), (1, 33), (2, 33)}
        metrics = q.lastProgress["stateOperators"][0]["customMetrics"]
        assert any("rocksdb" in k.lower() or "SnapshotLastUploaded" in k for k in metrics)
        q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_stream_interval_left_outer_join_null_extension(spark, tmp_root):
    """Left-outer stream-stream join: the unmatched left row is NOT
    emitted in the batch it arrives (a match could still come); it
    emits with null right columns only after a later batch advances the
    watermark past its join window."""
    import os
    from datetime import datetime, timedelta

    from dataingestionframework_spark.streaming.joins import stream_interval_join

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    lsrc = os.path.join(tmp_root, "lo_left")
    rsrc = os.path.join(tmp_root, "lo_right")
    out = os.path.join(tmp_root, "lo_out")
    ckpt = os.path.join(tmp_root, "lo_ckpt")
    spark.createDataFrame(
        [(1, t0 + timedelta(minutes=30), 100), (2, t0 + timedelta(minutes=30), 200)],
        "user_id long, ts timestamp, left_id long",
    ).write.parquet(lsrc)
    spark.createDataFrame(
        [(1, t0, 900)], "user_id long, ts timestamp, right_id long"
    ).write.parquet(rsrc)

    def run_once():
        lp = spark.readStream.schema("user_id long, ts timestamp, left_id long").parquet(lsrc)
        rp = spark.readStream.schema("user_id long, ts timestamp, right_id long").parquet(rsrc)
        q = (
            stream_interval_join(
                lp, rp, on="user_id", watermark="10 minutes",
                within="1 hour", how="left_outer",
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {
            (r.user_id, r.left_id, r.r_right_id)
            for r in spark.read.schema(
                "user_id long, ts timestamp, left_id long, r_ts timestamp, r_right_id long"
            ).parquet(out).collect()
        }

    first = run_once()
    assert first == {(1, 100, 900)}  # match emits; unmatched left held back
    # the GLOBAL watermark is the MIN across both inputs
    # (multipleWatermarkPolicy=min): BOTH streams must observe later
    # events before user 2's window can expire
    spark.createDataFrame(
        [(99, t0 + timedelta(days=2), 901)],
        "user_id long, ts timestamp, right_id long",
    ).write.mode("append").parquet(rsrc)
    spark.createDataFrame(
        [(98, t0 + timedelta(days=2), 101)],
        "user_id long, ts timestamp, left_id long",
    ).write.mode("append").parquet(lsrc)
    run_once()          # processes the late rows, advances the watermark
    third = run_once()  # no-data batch emits the expired unmatched left
    assert (2, 200, None) in third  # null-extended after expiry
    assert (1, 100, 900) in third


def test_stream_interval_full_outer_join_both_sides_extend(spark, tmp_root):
    """Full-outer stream-stream join: BOTH sides' unmatched rows emit
    null-extended once the global watermark passes their windows."""
    import os
    from datetime import datetime, timedelta

    from dataingestionframework_spark.streaming.joins import stream_interval_join

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    lsrc = os.path.join(tmp_root, "fo_left")
    rsrc = os.path.join(tmp_root, "fo_right")
    out = os.path.join(tmp_root, "fo_out")
    ckpt = os.path.join(tmp_root, "fo_ckpt")
    spark.createDataFrame(
        [(1, t0 + timedelta(minutes=30), 100), (2, t0 + timedelta(minutes=30), 200)],
        "user_id long, ts timestamp, left_id long",
    ).write.parquet(lsrc)
    spark.createDataFrame(
        [(1, t0, 900), (7, t0, 901)],  # user 7 purchase has no left row
        "user_id long, ts timestamp, right_id long",
    ).write.parquet(rsrc)

    def run_once():
        lp = spark.readStream.schema("user_id long, ts timestamp, left_id long").parquet(lsrc)
        rp = spark.readStream.schema("user_id long, ts timestamp, right_id long").parquet(rsrc)
        q = (
            stream_interval_join(
                lp, rp, on="user_id", watermark="10 minutes",
                within="1 hour", how="full_outer",
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {
            (r.user_id, r.left_id, r.r_right_id)
            for r in spark.read.schema(
                "user_id long, ts timestamp, left_id long, r_ts timestamp, r_right_id long"
            ).parquet(out).collect()
        }

    assert run_once() == {(1, 100, 900)}
    for src, row_schema, row in (
        (rsrc, "user_id long, ts timestamp, right_id long", (99, t0 + timedelta(days=2), 902)),
        (lsrc, "user_id long, ts timestamp, left_id long", (98, t0 + timedelta(days=2), 102)),
    ):
        spark.createDataFrame([row], row_schema).write.mode("append").parquet(src)
    run_once()
    final = run_once()
    assert (2, 200, None) in final       # unmatched left
    assert (7, None, 901) in final       # unmatched right


def test_corpus_incremental_near_dup_intake(spark, tmp_root):
    """Streaming near-dup intake over the bucketed LSH index: a later
    batch's near-duplicate (one token changed) of an earlier-ingested
    doc is dropped by joining the PERSISTED band index — batch 1 is
    never recomputed; genuinely new docs land; the index accumulates."""
    from dataingestionframework_spark.ingest.corpus import (
        corpus_incremental_near_dup_intake,
    )
    from dataingestionframework_spark.operators.bucketing import (
        drop_table_and_location,
    )

    src = os.path.join(tmp_root, "nd_src")
    sink = os.path.join(tmp_root, "nd_sink")
    ckpt = os.path.join(tmp_root, "nd_ckpt")
    idx = "dif_test_nd_intake_idx"
    drop_table_and_location(spark, idx)
    try:
        schema = "doc_id long, text string"
        base = ("data stream batch row column table scan filter join agg "
                "sort window group limit union merge insert update delete")
        other = ("the quick brown fox jumps over the lazy dog and then "
                 "runs far away into the deep dark quiet forest tonight")

        spark.createDataFrame(
            [(1, base), (2, other)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        st = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        corpus_incremental_near_dup_intake(
            st, sink, ckpt, idx, threshold=0.5
        ).awaitTermination(180)
        assert sorted(r.doc_id for r in spark.read.parquet(sink).collect()) == [1, 2]
        # foreachBatch runs in a CLONED session; this session's relation
        # cache doesn't see the clone's appends without a refresh
        spark.catalog.refreshTable(idx)
        n_idx_1 = spark.table(idx).count()
        assert n_idx_1 == 2 * 16  # one band row per (doc, band)

        # batch 2: near-dup of doc 1 (one token changed) + a new doc
        near = base.replace("window", "zzzchanged")
        fresh = ("completely novel content about ships harbors tides "
                 "storms lighthouses captains sailors maps compasses stars")
        spark.createDataFrame(
            [(10, near), (11, fresh)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        st2 = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        corpus_incremental_near_dup_intake(
            st2, sink, ckpt, idx, threshold=0.5
        ).awaitTermination(180)

        got = sorted(r.doc_id for r in spark.read.parquet(sink).collect())
        assert got == [1, 2, 11]  # near-dup 10 dropped, fresh 11 kept
        spark.catalog.refreshTable(idx)
        assert spark.table(idx).count() == n_idx_1 + 2 * 16  # index grew
    finally:
        drop_table_and_location(spark, idx)


def test_near_dup_intake_dropped_docs_block_across_batches(spark, tmp_root):
    """Cross-batch transitive blocking: a doc dropped in batch 1 must
    still block its own near-dups arriving in batch 2, exactly as a
    dropped doc blocks within one batch (the declarative contract the
    gate oracle states: survive iff NO smaller-id doc is >= t similar).

    Chain by construction (60 distinct tokens, changes >= 3 apart so
    each change kills exactly 3 trigrams): doc 5 = doc 1 with 2 tokens
    swapped -> J(1,5) = 52/64 = 0.8125; doc 9 = doc 5 with 2 MORE
    swapped -> J(5,9) = 0.8125 but J(1,9) = 46/70 ~ 0.657. At t = 0.75
    batch 1 drops 5 (vs 1); batch 2 must drop 9 (vs the DROPPED 5 —
    its only >= t blocker), even though 9 clears the surviving doc 1."""
    from dataingestionframework_spark.ingest.corpus import (
        corpus_incremental_near_dup_intake,
    )
    from dataingestionframework_spark.operators.bucketing import (
        drop_table_and_location,
    )

    src = os.path.join(tmp_root, "ndx_src")
    sink = os.path.join(tmp_root, "ndx_sink")
    ckpt = os.path.join(tmp_root, "ndx_ckpt")
    idx = "dif_test_nd_chain_idx"
    drop_table_and_location(spark, idx)
    try:
        schema = "doc_id long, text string"
        words = [f"tok{i:02d}" for i in range(60)]
        doc1 = " ".join(words)
        w5 = list(words)
        w5[10], w5[30] = "aaax", "bbbx"
        doc5 = " ".join(w5)
        w9 = list(w5)
        w9[20], w9[40] = "cccx", "dddx"
        doc9 = " ".join(w9)

        def run_batch(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            st = spark.readStream.schema(
                spark.read.parquet(src).schema
            ).parquet(src)
            corpus_incremental_near_dup_intake(
                st, sink, ckpt, idx, threshold=0.75
            ).awaitTermination(180)

        run_batch([(1, doc1), (5, doc5)])
        assert sorted(
            r.doc_id for r in spark.read.parquet(sink).collect()
        ) == [1]
        # the dropped doc's text is retained as a blocker
        assert sorted(
            r.doc_id for r in spark.read.parquet(sink + "_dropped").collect()
        ) == [5]

        run_batch([(9, doc9)])
        got = sorted(r.doc_id for r in spark.read.parquet(sink).collect())
        assert got == [1], (
            f"doc 9 must be blocked by DROPPED doc 5, sink has {got}"
        )
        gone = sorted(
            r.doc_id for r in spark.read.parquet(sink + "_dropped").collect()
        )
        assert gone == [5, 9]
    finally:
        drop_table_and_location(spark, idx)


def test_stream_interval_full_outer_join_both_null_extensions(spark, tmp_root):
    """Full-outer stream-stream join: BOTH sides get null extension —
    an unmatched left row emits with null right columns and an
    unmatched right row emits with null left columns, each only after
    the global (min-across-inputs) watermark proves its window closed."""
    import os
    from datetime import datetime, timedelta

    from dataingestionframework_spark.streaming.joins import stream_interval_join

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    lsrc = os.path.join(tmp_root, "fo_left")
    rsrc = os.path.join(tmp_root, "fo_right")
    out = os.path.join(tmp_root, "fo_out")
    ckpt = os.path.join(tmp_root, "fo_ckpt")
    spark.createDataFrame(
        [(1, t0 + timedelta(minutes=30), 100),   # will match right 900
         (2, t0 + timedelta(minutes=30), 200)],  # unmatched left
        "user_id long, ts timestamp, left_id long",
    ).write.parquet(lsrc)
    spark.createDataFrame(
        [(1, t0, 900), (7, t0, 901)],            # 901 unmatched right
        "user_id long, ts timestamp, right_id long",
    ).write.parquet(rsrc)

    def run_once():
        lp = spark.readStream.schema(
            "user_id long, ts timestamp, left_id long"
        ).parquet(lsrc)
        rp = spark.readStream.schema(
            "user_id long, ts timestamp, right_id long"
        ).parquet(rsrc)
        q = (
            stream_interval_join(
                lp, rp, on="user_id", watermark="10 minutes",
                within="1 hour", how="full_outer",
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {
            (r.user_id, r.left_id, r.r_right_id)
            for r in spark.read.schema(
                "user_id long, ts timestamp, left_id long, "
                "r_ts timestamp, r_right_id long"
            ).parquet(out).collect()
        }

    first = run_once()
    assert first == {(1, 100, 900)}  # only the match emits immediately
    # advance the min-watermark on BOTH inputs so both windows expire
    spark.createDataFrame(
        [(99, t0 + timedelta(days=2), 902)],
        "user_id long, ts timestamp, right_id long",
    ).write.mode("append").parquet(rsrc)
    spark.createDataFrame(
        [(98, t0 + timedelta(days=2), 102)],
        "user_id long, ts timestamp, left_id long",
    ).write.mode("append").parquet(lsrc)
    run_once()
    final = run_once()  # no-data batch flushes both expired sides
    assert (2, 200, None) in final   # left null-extension
    assert (7, None, 901) in final   # right null-extension


def test_forget_documents_removes_every_surface(spark, tmp_root):
    """Right-to-be-forgotten: after forget_documents the id is gone
    from the sink, the dropped store, and the LSH band index — and a
    re-submitted copy of the forgotten text is ADMITTED (index residue
    that still blocks a forgotten doc would be a privacy leak)."""
    from dataingestionframework_spark.ingest.corpus import (
        corpus_incremental_near_dup_intake,
        forget_documents,
    )
    from dataingestionframework_spark.operators.bucketing import (
        drop_table_and_location,
    )

    src = os.path.join(tmp_root, "fg_src")
    sink = os.path.join(tmp_root, "fg_sink")
    idx = "dif_test_forget_idx"
    drop_table_and_location(spark, idx)
    try:
        schema = "doc_id long, text string"
        t1 = ("data stream batch row column table scan filter join agg "
              "sort window group limit union merge insert update delete")
        t2 = ("the quick brown fox jumps over the lazy dog and then "
              "runs far away into the deep dark quiet forest tonight")
        near1 = t1.replace("window", "zzz")  # near-dup of t1 -> dropped

        def intake(rows):
            # one checkpoint across intakes: already-processed source
            # files are not replayed (matching production intake)
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            st = spark.readStream.schema(
                spark.read.parquet(src).schema
            ).parquet(src)
            corpus_incremental_near_dup_intake(
                st, sink, os.path.join(tmp_root, "fg_ck"), idx, threshold=0.5
            ).awaitTermination(180)

        intake([(1, t1), (2, t2), (3, near1)])
        assert sorted(r.doc_id for r in spark.read.parquet(sink).collect()) == [1, 2]
        assert [r.doc_id for r in spark.read.parquet(sink + "_dropped").collect()] == [3]

        removed = forget_documents(spark, [1, 3], sink, idx)
        assert removed == {"sink": 1, "dropped": 1, "index": 2 * 16}
        assert sorted(r.doc_id for r in spark.read.parquet(sink).collect()) == [2]
        assert spark.read.parquet(sink + "_dropped").count() == 0
        assert spark.table(idx).filter(F.col("doc_id").isin(1, 3)).count() == 0

        # a copy of the forgotten text must now be ADMITTED
        intake([(10, t1)])
        assert sorted(r.doc_id for r in spark.read.parquet(sink).collect()) == [2, 10]
    finally:
        drop_table_and_location(spark, idx)


def test_forget_vectors_removes_sink_and_ivf_blockers(spark, tmp_root):
    """Vector right-to-be-forgotten: after forget_vectors the id is
    gone from the embedding sink AND the bucketed IVF index, and a
    re-submitted copy of the forgotten vector is ADMITTED (a blocker
    left in the index would leak that the vector once existed)."""
    from dataingestionframework_spark.ingest.corpus import (
        embedding_incremental_ann_intake,
        forget_vectors,
    )
    from dataingestionframework_spark.operators.bucketing import (
        drop_table_and_location,
    )

    def vec(seed, dim=8):
        return [float((seed * 31 + i * 7) % 11 - 5) for i in range(dim)]

    v1, v2 = vec(1), vec(2)
    near1 = [x + 0.01 for x in v1]  # cos ~1 vs v1 -> dropped
    rows0 = [(1, v1), (2, v2), (3, near1)]
    src = os.path.join(tmp_root, "fv_src")
    sink = os.path.join(tmp_root, "fv_sink")
    idx = "dif_test_forget_vec_idx"
    drop_table_and_location(spark, idx)
    cents = [v1, v2]
    try:

        def intake(rows):
            spark.createDataFrame(
                rows, "vec_id long, embedding array<float>"
            ).coalesce(1).write.mode("append").parquet(src)
            st = spark.readStream.schema(
                "vec_id long, embedding array<float>"
            ).parquet(src)
            embedding_incremental_ann_intake(
                st, sink, os.path.join(tmp_root, "fv_ck"), idx, cents,
                threshold=0.99,
            ).awaitTermination(180)

        intake(rows0)
        assert sorted(
            r.vec_id for r in spark.read.parquet(sink).collect()
        ) == [1, 2]
        assert spark.table(idx).count() == 3  # dropped vec 3 still blocks

        removed = forget_vectors(spark, [1, 3], sink, idx)
        assert removed == {"sink": 1, "index": 2}
        assert [r.vec_id for r in spark.read.parquet(sink).collect()] == [2]
        assert (
            spark.table(idx).filter(F.col("right_id").isin(1, 3)).count() == 0
        )

        # a copy of the forgotten vector must now be admitted
        intake([(10, v1)])
        assert sorted(
            r.vec_id for r in spark.read.parquet(sink).collect()
        ) == [2, 10]
    finally:
        drop_table_and_location(spark, idx)


def test_embedding_intake_releases_batch_pins(spark, tmp_root):
    """Three files, one per trigger: the handler's batch pin is released
    inside each micro-batch, so the stream leaves no persistent RDD."""
    from dataingestionframework_spark.ingest.corpus import (
        embedding_incremental_ann_intake,
    )
    from dataingestionframework_spark.operators.bucketing import (
        drop_table_and_location,
    )

    def vec(seed, dim=8):
        return [float((seed * 31 + i * 7) % 11 - 5) for i in range(dim)]

    src = os.path.join(tmp_root, "pin_src")
    now = time.time()
    for i in range(3):
        p = os.path.join(src, f"b{i}.parquet")
        spark.createDataFrame(
            [(i * 10 + j, vec(i * 10 + j)) for j in range(4)],
            "vec_id long, embedding array<float>",
        ).coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (now - 600 + i * 60,) * 2)
    idx = "dif_test_emb_pin_idx"
    drop_table_and_location(spark, idx)
    base = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    try:
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(src, "*.parquet"))
        )
        q = embedding_incremental_ann_intake(
            stream, os.path.join(tmp_root, "pin_sink"),
            os.path.join(tmp_root, "pin_ck"), idx, [vec(1), vec(2)],
            threshold=0.99,
        )
        q.awaitTermination(180)
        assert len(q.recentProgress) >= 3
        assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - base == set()
        assert spark.table(idx).count() == 12
    finally:
        drop_table_and_location(spark, idx)
