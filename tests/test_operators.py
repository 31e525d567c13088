"""LLM-pipeline operators: dedup, similarity, text, windows."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_exact_dedup_detects_planted_dup(spark, docs):
    from dataingestionframework_spark.operators.dedup import (
        drop_exact_duplicates,
        exact_duplicates,
    )

    one = docs.limit(1).select("text").first().text
    with_dup = docs.union(
        spark.createDataFrame([(9999, one, "en", "dup", len(one))], docs.schema)
    )
    dups = exact_duplicates(with_dup).filter(F.col("n_copies") > 1).collect()
    assert len(dups) == 1 and dups[0].n_copies == 2
    kept = drop_exact_duplicates(with_dup)
    assert kept.count() == docs.count()
    assert kept.filter(F.col("doc_id") == 9999).count() == 0  # min-id kept


def test_minhash_finds_planted_near_dup(spark, docs):
    from dataingestionframework_spark.operators.dedup import near_duplicates_minhash

    base = docs.limit(1).select("text").first().text
    # near-dup: copy with one token changed
    toks = base.split()
    toks[len(toks) // 2] = "zzzchanged"
    near = " ".join(toks)
    with_near = docs.union(
        spark.createDataFrame([(8888, near, "en", "dup", len(near))], docs.schema)
    )
    pairs = near_duplicates_minhash(with_near, threshold=0.3).collect()
    assert any({p.id_a, p.id_b} == {0, 8888} or 8888 in (p.id_a, p.id_b) for p in pairs)


def test_jaccard_identity(spark, docs):
    from dataingestionframework_spark.operators.dedup import ngram_jaccard_pairs

    dup = docs.limit(1)
    both = dup.union(dup.withColumn("doc_id", F.lit(7777)))
    pairs = ngram_jaccard_pairs(both, threshold=0.99).collect()
    assert len(pairs) == 1 and pairs[0].jaccard_sim == 1.0


def test_simhash_identical_docs_zero_hamming(spark, docs):
    from dataingestionframework_spark.operators.dedup import simhash_pairs

    dup = docs.limit(1)
    both = dup.union(dup.withColumn("doc_id", F.lit(6666)))
    pairs = simhash_pairs(both, max_hamming=0).collect()
    assert any(p.hamming == 0 for p in pairs)


def test_cosine_topk_self_is_nearest(spark, emb):
    from dataingestionframework_spark.operators.similarity import cosine_topk

    q = emb.first()
    top = cosine_topk(emb, q.embedding, k=1).first()
    assert top.vec_id == q.vec_id and abs(top.cosine_sim - 1.0) < 1e-6


def test_knn_join(spark, emb):
    from dataingestionframework_spark.operators.similarity import knn_join_brute

    small = emb.limit(20)
    res = knn_join_brute(small, small, k=3).collect()
    by_left = {}
    for r in res:
        by_left.setdefault(r.left_id, []).append(r)
    assert all(len(v) == 3 for v in by_left.values())
    # rank-1 neighbour of each row is itself
    for left_id, rows in by_left.items():
        r1 = [r for r in rows if r.rank == 1][0]
        assert r1.right_id == left_id


def test_lsh_cosine_topk_contains_self(spark, emb):
    from dataingestionframework_spark.operators.similarity import lsh_cosine_topk

    q = emb.first()
    top = lsh_cosine_topk(emb, q.embedding, k=5, planes=4)
    ids = [r.vec_id for r in top.collect()]
    assert q.vec_id in ids


def test_text_stats_and_quality(spark, docs):
    from dataingestionframework_spark.operators.text import quality_score, with_text_stats

    out = with_text_stats(docs).withColumn("q", quality_score(F.col("text")))
    row = out.first()
    assert row.n_tokens > 0 and 0 <= row.ttr <= 1
    assert out.filter((F.col("q") < 0) | (F.col("q") > 1)).count() == 0


def test_lang_guess_on_known_samples(spark):
    from dataingestionframework_spark.operators.text import lang_guess

    df = spark.createDataFrame(
        [
            ("the cat sat on the mat and it was happy",),
            ("el perro y la casa de los gatos en un lugar",),
            ("le chat et les chiens de la maison en France",),
            ("der Hund und die Katze ist mit den Kindern",),
        ],
        "text string",
    ).withColumn("lang", lang_guess(F.col("text")))
    got = [r.lang for r in df.collect()]
    assert got == ["en", "es", "fr", "de"]


def test_sessionize_gap(spark):
    from dataingestionframework_spark.operators.windows import session_stats

    rows = [
        (1, "2024-01-01 00:00:00", 100),
        (2, "2024-01-01 00:10:00", 100),
        (3, "2024-01-01 01:00:00", 100),  # 50-min gap → new session
        (4, "2024-01-01 00:00:00", 200),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, user_id long").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = session_stats(df, gap_minutes=30).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(by_user[100]) == 2 and len(by_user[200]) == 1
    assert sorted(r.n_events for r in by_user[100]) == [1, 2]


def test_multimodal_plumbing(spark):
    from dataingestionframework_spark.operators.multimodal import (
        decode_stub_features,
        with_binary_metadata,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\n\x1a\nxxxx"), "image/png"),
         (2, bytearray(b"RIFFxxxxWAVE"), "audio/wav")],
        "id long, payload binary, mime string",
    )
    meta = with_binary_metadata(df, "payload")
    r = {x.id: x for x in meta.collect()}
    assert r[1].payload_size == 12 and r[1].payload_hash is not None

    feats = decode_stub_features(meta, "payload")
    f = {x.id: x for x in feats.collect()}
    assert len(f[1].features) == 8  # deterministic fake features


def test_binary_file_source_multimodal_ingest(spark, tmp_root):
    """Raw-file multimodal ingestion: binaryFile source → metadata →
    stub feature extraction, with glob pruning and a size guard."""
    import os

    from dataingestionframework_spark.operators.multimodal import (
        decode_stub_features,
        read_binary_files,
        with_binary_metadata,
    )

    d = os.path.join(tmp_root, "media")
    os.makedirs(d)
    with open(f"{d}/a.png", "wb") as f:
        f.write(b"\x89PNG\r\n" + b"\x01" * 100)
    with open(f"{d}/b.jpg", "wb") as f:
        f.write(b"\xff\xd8\xff\xe0" + b"\x02" * 50)
    with open(f"{d}/huge.png", "wb") as f:
        f.write(b"\x89PNG\r\n" + b"\x03" * 5000)
    with open(f"{d}/notes.txt", "w") as f:
        f.write("not media")

    df = read_binary_files(spark, d, glob="*.{png,jpg}", max_bytes=1000)
    rows = df.select("path", "length").collect()
    names = {os.path.basename(r.path) for r in rows}
    assert names == {"a.png", "b.jpg"}  # txt glob-pruned, huge size-guarded

    meta = with_binary_metadata(df, "content")
    feat = decode_stub_features(meta, "content", n_features=4)
    out = {os.path.basename(r.path): r for r in feat.collect()}
    assert out["a.png"].content_mime == "image/png"
    assert out["b.jpg"].content_mime == "image/jpeg"
    assert len(out["a.png"].features) == 4
    assert out["a.png"].content_size == 106


def test_chunking_expression_vs_udtf(spark, docs):
    """The pure-expression chunker and the Python UDTF produce the same
    chunks — the UDTF exists to demonstrate the lateral table-function
    surface; the expression form is the production path."""
    from dataingestionframework_spark.operators.text import (
        chunk_documents,
        make_chunk_udtf,
    )

    sub = docs.limit(30)
    expr_chunks = {
        (r.doc_id, r.chunk_id, r.chunk)
        for r in chunk_documents(sub, chunk_size=20, stride=15).collect()
    }

    spark.udtf.register("chunk_udtf", make_chunk_udtf(chunk_size=20, stride=15))
    sub.createOrReplaceTempView("chunk_src")
    udtf_chunks = {
        (r.doc_id, r.chunk_id, r.chunk)
        for r in spark.sql(
            "SELECT d.doc_id, c.chunk_id, c.chunk "
            "FROM chunk_src d, LATERAL chunk_udtf(d.text) c"
        ).collect()
    }
    assert expr_chunks == udtf_chunks and expr_chunks


def test_synthetic_corpus_datasource(spark):
    """Custom Python DataSource: deterministic sharded generation —
    same (seed, n_docs) = same corpus at any partition count, and the
    generated frame feeds the normal operator pipeline."""
    from dataingestionframework_spark.operators.text import quality_score
    from dataingestionframework_spark.sources.synthetic import (
        SyntheticCorpusDataSource,
    )

    spark.dataSource.register(SyntheticCorpusDataSource)

    def read(parts):
        return (
            spark.read.format("synthetic_corpus")
            .option("n_docs", 500)
            .option("numPartitions", parts)
            .option("seed", 7)
            .load()
        )

    df8 = read(8)
    assert df8.rdd.getNumPartitions() == 8
    assert df8.count() == 500
    rows8 = {r.doc_id: (r.text, r.lang) for r in df8.collect()}
    rows3 = {r.doc_id: (r.text, r.lang) for r in read(3).collect()}
    assert rows8 == rows3  # partitioning never changes the corpus

    # plugs into the operator pipeline like any other documents frame
    scored = df8.select("doc_id", quality_score(F.col("text")).alias("q"))
    assert scored.filter(F.col("q") > 0).count() == 500


def test_corpus_prep_pipeline_end_to_end(spark):
    """Config-driven corpus prep over the synthetic DataSource: lang
    filter → quality gate → exact + simhash dedup → chunking, with a
    faithful per-stage report."""
    from dataingestionframework_spark.ingest.corpus import CorpusPrep, CorpusPrepSpec
    from dataingestionframework_spark.sources.synthetic import (
        SyntheticCorpusDataSource,
    )

    spark.dataSource.register(SyntheticCorpusDataSource)
    base = (
        spark.read.format("synthetic_corpus")
        .option("n_docs", 200)
        .option("seed", 11)
        .load()
    )
    # plant exact duplicates with fresh ids
    dups = base.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    corpus = base.union(dups)

    spec = CorpusPrepSpec(
        lang_allow=["en", "de", "fr"],
        min_quality=0.4,
        dedup="simhash",
        simhash_max_hamming=3,
        chunk_size=30,
        chunk_stride=25,
    )
    res = CorpusPrep(spec).run(corpus)

    stages = {r.stage: (r.rows_in, r.rows_out) for r in res.report.collect()}
    assert stages["input"][1] == 210
    assert stages["lang_filter"][1] < 210
    # report chains: each stage's rows_in == previous stage's rows_out
    order = ["input", "lang_filter", "quality_gate", "dedup_exact", "dedup_simhash"]
    for prev, cur in zip(order, order[1:]):
        assert stages[cur][0] == stages[prev][1]

    clean_ids = {r.doc_id for r in res.clean.select("doc_id").collect()}
    # planted duplicates removed: no surviving pair with identical text
    n_texts = res.clean.select("text").distinct().count()
    assert len(clean_ids) == n_texts
    # exact-dedup keeps the EARLIEST id, so no planted +100000 id survives
    assert not {i for i in clean_ids if i >= 100000}

    # chunk invariants: every clean doc is covered, ids chain from 0
    chunk_docs_ids = {r.doc_id for r in res.chunks.select("doc_id").distinct().collect()}
    assert chunk_docs_ids == clean_ids
    assert res.chunks.filter(F.col("n_chunk_tokens") > 30).count() == 0

    # temperature-mix stage: downsampling to ~half reports its own
    # stage line, shrinks the corpus, and is deterministic
    target = len(clean_ids) // 2
    spec_mix = CorpusPrepSpec(
        lang_allow=["en", "de", "fr"], min_quality=0.4, dedup="simhash",
        simhash_max_hamming=3, mix_alpha=0.5, mix_target_total=target,
    )
    res_mix = CorpusPrep(spec_mix).run(corpus)
    mix_stages = {r.stage: (r.rows_in, r.rows_out) for r in res_mix.report.collect()}
    n_mixed = mix_stages["temperature_mix"][1]
    assert mix_stages["temperature_mix"][0] == stages["dedup_simhash"][1]
    assert 0 < n_mixed < len(clean_ids)
    mixed_ids = {r.doc_id for r in res_mix.clean.select("doc_id").collect()}
    assert mixed_ids <= clean_ids
    rerun_ids = {
        r.doc_id for r in CorpusPrep(spec_mix).run(corpus).clean.select("doc_id").collect()
    }
    assert rerun_ids == mixed_ids


def test_parse_media_headers_real_containers(spark):
    """PNG IHDR and WAV fmt headers parsed with pure byte arithmetic —
    values checked against handcrafted real container headers."""
    import struct

    from dataingestionframework_spark.operators.multimodal import parse_media_headers

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 640, 480) + b"\x08\x06\x00\x00\x00"
    )
    wav = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<IHH", 16, 1, 2)
        + struct.pack("<I", 44100) + struct.pack("<IHH", 176400, 4, 16)
    )
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(wav)), (3, bytearray(b"junkdata")), (4, None)],
        "id long, payload binary",
    )
    r = {x.id: x for x in parse_media_headers(df, "payload").collect()}
    assert r[1].media_kind == "png" and (r[1].img_width, r[1].img_height) == (640, 480)
    assert r[2].media_kind == "wav"
    assert (r[2].n_channels, r[2].sample_rate) == (2, 44100)
    assert r[3].media_kind == "other" and r[3].img_width is None
    assert r[4].media_kind is None


def test_synthetic_corpus_stream_source(spark, tmp_root):
    """Streaming Python DataSource: micro-batches walk the deterministic
    corpus in offset order; rows equal the batch reader's for the same
    (seed, ids); restart from checkpoint resumes, never duplicates."""
    import os

    from dataingestionframework_spark.sources.synthetic import (
        SyntheticCorpusDataSource,
    )

    spark.dataSource.register(SyntheticCorpusDataSource)
    ckpt = os.path.join(tmp_root, "syn_ckpt")
    sink = os.path.join(tmp_root, "syn_sink")

    def drain(min_rows):
        import time as t

        st = (
            spark.readStream.format("synthetic_corpus")
            .option("seed", 11)
            .option("docs_per_batch", 40)
            .load()
        )
        q = (
            st.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="1 second")
            .start()
        )
        # Generous deadline: under CPU contention (other Spark sessions on
        # the same box) micro-batches can take many seconds each; gate on
        # observed progress, not on an optimistic wall-clock guess.
        deadline = t.time() + 240
        n = 0
        while t.time() < deadline:
            try:
                n = spark.read.parquet(sink).count()
                if n >= min_rows:
                    break
            except Exception:
                pass
            t.sleep(0.5)
        q.stop()
        q.awaitTermination(60)
        assert n >= min_rows, f"stream drained only {n}/{min_rows} rows in 240s"
        return spark.read.parquet(sink).collect()

    got = drain(80)
    ids = sorted(r.doc_id for r in got)
    assert len(ids) == len(set(ids))          # no duplicates
    assert ids == list(range(ids[-1] + 1))    # contiguous from 0

    # values match the deterministic batch generator
    batch = (
        spark.read.format("synthetic_corpus")
        .option("n_docs", ids[-1] + 1)
        .option("seed", 11)
        .load()
        .collect()
    )
    assert {(r.doc_id, r.text) for r in got} == {(r.doc_id, r.text) for r in batch}

    # restart from the same checkpoint: continues, still no dups
    more = drain(len(ids) + 80)
    ids2 = sorted(r.doc_id for r in more)
    assert len(ids2) == len(set(ids2))
    assert ids2[0] == 0 and len(ids2) > len(ids)
    assert ids2 == list(range(ids2[-1] + 1))  # still contiguous


def test_asof_join_directions(spark):
    """backward / forward / nearest asof variants (pandas merge_asof
    semantics: nearest ties break backward)."""
    from datetime import datetime, timedelta

    from dataingestionframework_spark.operators.joins import asof_join

    t0 = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t0 + timedelta(seconds=s), s) for s in (40, 60, 50)],
        "k long, ts timestamp, lval long",
    )
    right = spark.createDataFrame(
        [(1, t0, 100), (1, t0 + timedelta(seconds=100), 200)],
        "k long, ts timestamp, rval long",
    )

    def run(direction, **kw):
        return {
            r.lval: r.rval_right
            for r in asof_join(
                left, right, on="k", left_ts="ts", right_ts="ts",
                direction=direction, **kw,
            ).collect()
        }

    assert run("backward") == {40: 100, 60: 100, 50: 100}
    assert run("forward") == {40: 200, 60: 200, 50: 200}
    # nearest: 40 -> backward(40<60); 60 -> forward(40<60... 60 vs 40) ->
    # deltas: |60-0|=60 vs |100-60|=40 -> forward; 50 is the tie -> backward
    assert run("nearest") == {40: 100, 60: 200, 50: 100}
    # tolerance drops far matches (backward within 45 s: only left@40)
    assert run("backward", tolerance_seconds=45) == {40: 100, 60: None, 50: None}


def test_bucketed_lsh_index_no_exchange_on_index_side(spark, docs):
    """The bucketed incremental LSH index joins each new batch against
    the accumulated index with NO shuffle of the index side: the
    bucket layout (bucketBy(16, bucket_key)) satisfies the join's hash
    distribution, so the only Exchange in the cross-join plan is the
    small new-batch side. This is the 100 TB shape — the index grows
    forever and is never reshuffled."""
    from dataingestionframework_spark.operators.dedup import (
        minhash_band_rows,
        minhash_signatures,
        update_lsh_index_bucketed,
        verify_pairs_jaccard,
    )

    from dataingestionframework_spark.operators.bucketing import (
        drop_table_and_location,
    )

    name = "dif_test_lsh_bucketed"
    drop_table_and_location(spark, name)
    try:
        batch1 = docs.filter(F.col("doc_id") < 60)
        update_lsh_index_bucketed(batch1, spark, name)
        assert spark.table(name).count() == batch1.count() * 16

        # batch 2 carries a near-dup of doc 0 (one token changed)
        base = docs.filter(F.col("doc_id") == 0).first().text
        toks = base.split()
        toks[len(toks) // 2] = "zzzchanged"
        near = spark.createDataFrame(
            [(7000, " ".join(toks), "en", "dup", len(base))], docs.schema
        )
        batch2 = (
            docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 80)).union(near)
        )

        # Plan shape of the incremental cross join at scale: with the
        # index too big to broadcast (forced via threshold=-1, its state
        # at 100 TB), the ONLY Exchange is the new-batch probe side —
        # the bucketed scan satisfies the join distribution as-is.
        prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe = spark.createDataFrame(
                [(9000 + i, i * 7919) for i in range(50)],
                "id_a long, bucket_key long",
            )
            joined = probe.join(
                spark.table(name).select(
                    F.col("doc_id").alias("id_b"), "bucket_key"
                ),
                "bucket_key",
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            n_exchange = plan.count("Exchange hashpartitioning")
            assert n_exchange == 1, f"want 1 Exchange (probe side only):\n{plan}"
            assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)

        # and the incremental candidates are still correct across batches
        p2 = update_lsh_index_bucketed(batch2, spark, name)
        cand = {(r.id_a, r.id_b) for r in p2.collect()}
        assert (0, 7000) in cand
        verified = verify_pairs_jaccard(
            p2.filter((F.col("id_a") == 0) & (F.col("id_b") == 7000)),
            docs.union(near),
            threshold=0.3,
        )
        assert verified.count() == 1
        assert not any(a < 60 and b < 60 for a, b in cand)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _n_cached(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def _pin_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_bucketed_lsh_index_pins_band_rows_and_caches_nothing(spark, docs):
    """update_lsh_index_bucketed pins the batch's band rows once,
    releases that pin after the index append and leaves nothing in the
    cache manager. Without ``consume`` the returned pairs are a pin of
    their own: collectable after the band-row pin is gone, with no
    InMemoryRelation in their plan. With ``consume`` the candidate
    frame it receives is uncached, and only its result stays pinned.
    Each call grows the index by exactly ``bands`` rows per new doc."""
    from dataingestionframework_spark.operators.bucketing import (
        drop_table_and_location,
    )
    from dataingestionframework_spark.operators.dedup import (
        update_lsh_index_bucketed,
    )
    from dataingestionframework_spark.session import release_checkpoint

    name = "dif_test_lsh_pins"
    bands = 16
    drop_table_and_location(spark, name)
    try:
        batch1 = docs.filter(F.col("doc_id") < 40)
        update_lsh_index_bucketed(batch1, spark, name, bands=bands)
        n_index = batch1.count() * bands
        assert spark.table(name).count() == n_index

        base = docs.filter(F.col("doc_id") == 0).first().text
        toks = base.split()
        toks[len(toks) // 2] = "zzzchanged"
        near = spark.createDataFrame(
            [(7000, " ".join(toks), "en", "dup", len(base))], docs.schema
        )
        batch2 = docs.filter(
            (F.col("doc_id") >= 40) & (F.col("doc_id") < 60)
        ).union(near)
        before, cached = _persistent_ids(spark), _n_cached(spark)
        p2 = update_lsh_index_bucketed(batch2, spark, name, bands=bands)
        n_index += batch2.count() * bands
        assert spark.table(name).count() == n_index
        assert _persistent_ids(spark) - before <= {_pin_id(p2)}
        assert _n_cached(spark) <= cached
        first = sorted((r.id_a, r.id_b) for r in p2.collect())
        assert (0, 7000) in first
        assert sorted((r.id_a, r.id_b) for r in p2.collect()) == first
        plan = p2._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" not in plan, plan
        release_checkpoint(p2)

        seen = {}

        def consume(pairs):
            seen["plan"] = pairs._jdf.queryExecution().optimizedPlan().toString()
            return pairs.localCheckpoint()

        batch3 = docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 80))
        before, cached = _persistent_ids(spark), _n_cached(spark)
        out = update_lsh_index_bucketed(
            batch3, spark, name, bands=bands, consume=consume
        )
        assert "InMemoryRelation" not in seen["plan"], seen["plan"]
        assert _persistent_ids(spark) - before <= {_pin_id(out)}
        assert _n_cached(spark) <= cached
        assert spark.table(name).count() == n_index + batch3.count() * bands
        assert all(r.id_a < r.id_b for r in out.collect())
        release_checkpoint(out)
    finally:
        drop_table_and_location(spark, name)


def test_funnel_conversions_releases_step_pins(spark):
    """funnel_conversions frees its per-step anchor checkpoints before
    returning: no persistent RDD outlives the call."""
    from dataingestionframework_spark.operators.behavior import funnel_conversions

    events = spark.createDataFrame(
        [(1, 1, "view"), (1, 2, "cart"), (2, 1, "view")],
        "user_id long, ts long, event_type string",
    )
    before = _persistent_ids(spark)
    rows = funnel_conversions(events, ["view", "cart", "buy"]).collect()
    assert [r.n_users for r in rows] == [2, 1, 0]
    assert _persistent_ids(spark) <= before


def test_bucketed_lsh_index_bucket_keys_are_stable(spark):
    """Bucket keys are the persisted index's format: an index written
    by an earlier build must keep matching new batches, so the keys of
    one fixed document are pinned here bit for bit."""
    from dataingestionframework_spark.operators.bucketing import (
        drop_table_and_location,
    )
    from dataingestionframework_spark.operators.dedup import (
        update_lsh_index_bucketed,
    )

    name = "dif_test_lsh_keys"
    drop_table_and_location(spark, name)
    try:
        d = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog again"),
             (2, "a completely different sentence about ingestion frameworks")],
            "doc_id long, text string",
        )
        update_lsh_index_bucketed(d, spark, name)
        rows = [(r.doc_id, r.bucket_key) for r in spark.table(name).collect()]
        assert len(rows) == 32
        assert sorted(k for i, k in rows if i == 1) == [
            -8642945185535306836, -8178867964612385109, -7840206145034373915,
            -7133922199412417531, -7108841817760907091, -5551507137828287492,
            -4393950739379649864, -4287243569173222957, -2862202065374156608,
            -2704875861562753907, -2174061546953136895, -101092434679223723,
            2739248779630258427, 4724666593656778044, 6501505556664335113,
            9098540411246082520,
        ]
        assert sum(k for _, k in rows) == -6385226772441742397
    finally:
        drop_table_and_location(spark, name)


def test_lsh_hot_bucket_candidates_bounded(spark):
    """Boilerplate-heavy corpus: one band bucket ≫ others. With
    max_bucket_size set, hot buckets emit linear STAR pairs instead of
    C(m,2) all-pairs — candidate count collapses from quadratic to
    linear while the hot cluster stays fully connected (transitively,
    via the representative) and cold-bucket near-dups are still found
    pairwise. AQE skew-join (on in session.tune) handles the shuffle
    side; this bounds the OUTPUT side."""
    from dataingestionframework_spark.operators.dedup import (
        minhash_lsh_candidates,
        verify_pairs_jaccard,
    )

    m = 300
    boiler = "all work and no play makes jack a dull boy " * 6
    rows = [(i, boiler, "en", "hot", len(boiler)) for i in range(m)]
    # cold docs: distinct texts + one planted near-dup pair (9000, 9001)
    rows += [
        (9000 + i, f"unique document number {i} with its own words "
                   f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}", "en",
         "cold", 80)
        for i in range(40)
    ]
    rows.append((9001, rows[m][1], "en", "cold", len(rows[m][1])))  # dup of 9000
    df = spark.createDataFrame(
        [r for r in rows if r[0] != 9001] + [rows[-1]],
        "doc_id long, text string, lang string, source string, n_chars long",
    )

    capped = minhash_lsh_candidates(df, max_bucket_size=50)
    got = [(r.id_a, r.id_b) for r in capped.collect()]
    hot = [(a, b) for a, b in got if a < m and b < m]
    # linear, not quadratic: star pairs only (C(300,2) would be 44,850)
    assert len(hot) == m - 1, f"expected {m-1} star pairs, got {len(hot)}"
    assert all(a == 0 for a, b in hot)           # rep = min id
    assert {b for _, b in hot} == set(range(1, m))  # every member connected
    assert (9000, 9001) in got                   # cold pairwise recall intact

    # the star pairs exact-verify at 1.0 (identical boilerplate), so the
    # downstream cluster canonicalization sees the full component
    v = verify_pairs_jaccard(capped, df, threshold=0.9)
    hot_v = v.filter((F.col("id_a") < m) & (F.col("id_b") < m))
    assert hot_v.count() == m - 1

    # AQE skew-join is armed for the shuffle side (session.tune default)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_knn_join_indexed_no_exchange_on_corpus_side(spark, emb):
    """Persisted bucketed IVF index: the serving-path kNN join shuffles
    ONLY the probe batch — the corpus scan is already bucket-partitioned
    on ivf_cell. Results are identical to the unindexed knn_join_bucketed
    with the same centroids (both exhaustive-probe => exact)."""
    from dataingestionframework_spark.operators.similarity import (
        ivf_fit,
        knn_join_bucketed,
        knn_join_indexed,
        save_ivf_index,
    )

    from dataingestionframework_spark.operators.bucketing import (
        drop_table_and_location,
    )

    name = "dif_test_ivf_index"
    drop_table_and_location(spark, name)
    try:
        left = emb.filter(F.col("vec_id") < 30)
        right = emb.filter(F.col("vec_id") >= 30)
        cents = ivf_fit(right, n_clusters=4)
        save_ivf_index(right, spark, name, n_clusters=4, centroids=cents)

        out = knn_join_indexed(left, spark, name, cents, k=3, nprobe=4)
        ref = knn_join_bucketed(left, right, k=3, n_clusters=4, nprobe=4,
                                centroids=cents)
        got = {(r.left_id, r.right_id, r.rank) for r in out.collect()}
        want = {(r.left_id, r.right_id, r.rank) for r in ref.collect()}
        assert got == want and len(got) == 30 * 3

        # plan shape with the corpus too big to broadcast: one Exchange
        # (probe side), none above the bucketed corpus scan
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe = spark.createDataFrame(
                [(i, i % 4) for i in range(20)], "left_id long, ivf_cell int"
            )
            joined = probe.join(spark.table(name), "ivf_cell")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Exchange hashpartitioning") == 1, plan
            assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_compact_bucketed_lsh_index_preserves_layout_and_results(spark, docs):
    """After many incremental appends the band index is one-file-per-
    bucket-per-batch; compaction rewrites it to one file per bucket,
    keeps the bucket layout (join still elides the index-side
    Exchange), and changes no candidate results."""
    from dataingestionframework_spark.operators.bucketing import (
        compact_bucketed_table,
        drop_table_and_location,
    )
    from dataingestionframework_spark.operators.dedup import (
        update_lsh_index_bucketed,
    )

    name = "dif_test_lsh_compact"
    drop_table_and_location(spark, name)
    try:
        for lo in range(0, 80, 20):  # 4 small appends
            update_lsh_index_bucketed(
                docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 20)),
                spark,
                name,
            )
        pre = {(r.doc_id, r.bucket_key) for r in spark.table(name).collect()}

        before, after = compact_bucketed_table(spark, name)
        assert before > 16 and after <= 16, (before, after)
        assert {(r.doc_id, r.bucket_key)
                for r in spark.table(name).collect()} == pre

        # bucket layout survived: probe join still leaves the index side
        # unshuffled with broadcast off
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe = spark.createDataFrame(
                [(i, i * 31) for i in range(10)], "id_a long, bucket_key long"
            )
            plan = (
                probe.join(spark.table(name), "bucket_key")
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert plan.count("Exchange hashpartitioning") == 1, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

        # and the index still works incrementally after the swap
        p = update_lsh_index_bucketed(
            docs.filter((F.col("doc_id") >= 80) & (F.col("doc_id") < 90)),
            spark, name,
        )
        assert p.count() >= 0  # executes against the compacted table
    finally:
        drop_table_and_location(spark, name)


def test_append_to_ivf_index_matches_full_rebuild(spark, emb):
    """Incremental IVF growth: index half the corpus, append the rest
    with the SAME centroids — serving results equal a one-shot index of
    the full corpus (exhaustive probe => exact either way), and the
    bucket layout survives the append."""
    from dataingestionframework_spark.operators.bucketing import (
        drop_table_and_location,
    )
    from dataingestionframework_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_fit,
        knn_join_indexed,
        save_ivf_index,
    )

    inc, full = "dif_test_ivf_inc", "dif_test_ivf_full"
    drop_table_and_location(spark, inc)
    drop_table_and_location(spark, full)
    try:
        left = emb.filter(F.col("vec_id") < 20)
        corpus = emb.filter(F.col("vec_id") >= 20)
        half1 = corpus.filter(F.col("vec_id") % 2 == 0)
        half2 = corpus.filter(F.col("vec_id") % 2 == 1)
        cents = ivf_fit(corpus, n_clusters=4)

        save_ivf_index(half1, spark, inc, n_clusters=4, centroids=cents)
        append_to_ivf_index(half2, spark, inc, cents)
        spark.catalog.refreshTable(inc)
        save_ivf_index(corpus, spark, full, n_clusters=4, centroids=cents)

        a = {(r.left_id, r.right_id, r.rank)
             for r in knn_join_indexed(left, spark, inc, cents, k=3, nprobe=4).collect()}
        b = {(r.left_id, r.right_id, r.rank)
             for r in knn_join_indexed(left, spark, full, cents, k=3, nprobe=4).collect()}
        assert a == b and len(a) == 20 * 3
    finally:
        drop_table_and_location(spark, inc)
        drop_table_and_location(spark, full)


def test_drop_duplicates_keep_best_prefers_longest(spark):
    """Keep-best dedup: case/whitespace variants group under the
    normalized key and the LONGEST raw copy survives (ties break on
    id); distinct docs pass through."""
    from dataingestionframework_spark.operators.dedup import (
        drop_duplicates_keep_best,
    )

    rows = [
        (1, "The Quick  Brown Fox"),
        (2, "the quick brown fox"),          # same normalized, shorter
        (3, "the  quick   brown    fox"),    # same normalized, longest
        (4, "a completely different doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "_k", F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    )
    out = drop_duplicates_keep_best(
        df, order_by=[F.length("text").desc(), F.col("doc_id")], key_cols=["_k"]
    )
    got = sorted(r.doc_id for r in out.collect())
    assert got == [3, 4]  # longest variant kept, unique doc kept


def test_set_similarity_join_exact_recall(spark):
    """Prefix filtering must have recall 1.0: every pair with trigram
    Jaccard >= t appears, none below t does — checked against brute
    force on a corpus with planted near-dups at several similarity
    levels (including one pair whose only shared grams are its
    COMMONEST ones, the case a rarest-first prefix must still catch
    via the theorem, not luck)."""
    from dataingestionframework_spark.functions import exploded_word_ngrams
    from dataingestionframework_spark.operators.dedup import (
        set_similarity_join_exact,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base.replace("theta", "lambda")),          # high sim to 1
        (3, base.replace("beta", "mu").replace("iota", "nu")),
        (4, "totally different words entirely here now"),
        (5, base),                                      # exact dup of 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    t = 0.3
    got = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in set_similarity_join_exact(df, threshold=t).collect()
    }
    # brute force ground truth
    g = (
        exploded_word_ngrams(df, "text", "doc_id", 3)
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_set("gram").alias("g"))
        .collect()
    )
    sets = {r.doc_id: set(r.g) for r in g}
    exp = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            j = round(
                len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 4
            )
            if j >= t:
                exp[(a, b)] = j
    assert got == exp and (1, 5) in got and got[(1, 5)] == 1.0


def test_bloom_anti_join_matches_plain_anti(spark):
    from dataingestionframework_spark.operators.joins import bloom_anti_join

    probe = spark.createDataFrame(
        [(i, f"v{i}") for i in range(500)] + [(None, "nullkey")],
        "k int, v string",
    )
    build = spark.createDataFrame([(i,) for i in range(0, 500, 3)], "k int")
    got = sorted(
        (r.k if r.k is not None else -1, r.v)
        for r in bloom_anti_join(probe, build, "k", m_bits=1 << 12).collect()
    )
    exp = sorted(
        (r.k if r.k is not None else -1, r.v)
        for r in probe.join(build, "k", "left_anti").collect()
    )
    assert got == exp
    assert (-1, "nullkey") in got  # NOT EXISTS semantics keeps NULL keys


def test_table_fingerprint_order_invariant_and_incremental(spark):
    """Same rows in any order/partitioning -> same fingerprint; the CDC
    maintenance identity holds: fp(T ∪ Δ) == (fp(T) + fp(Δ)) mod p."""
    from dataingestionframework_spark.operators.profile import (
        _FP_MOD,
        table_fingerprint,
    )

    rows = [(i, f"name{i}", i % 7) for i in range(200)]
    a = spark.createDataFrame(rows, ["id", "name", "grp"])
    b = spark.createDataFrame(list(reversed(rows)), ["id", "name", "grp"]).repartition(13)
    fa = table_fingerprint(a).first()
    fb = table_fingerprint(b).first()
    assert (fa.n_rows, fa.fingerprint) == (fb.n_rows, fb.fingerprint)

    delta = spark.createDataFrame([(999, "new", 1)], ["id", "name", "grp"])
    fd = table_fingerprint(delta).first()
    fu = table_fingerprint(a.unionByName(delta)).first()
    assert fu.fingerprint == (fa.fingerprint + fd.fingerprint) % _FP_MOD


def test_cusum_changepoint_finds_level_shift(spark):
    from dataingestionframework_spark.operators.windows import (
        cusum_changepoint,
    )

    rows = [("a", i, 10) for i in range(20)] + [("a", i, 50) for i in range(20, 40)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    out = cusum_changepoint(df, "v", ["k"], ["t"]).collect()
    assert len(out) == 1
    # |S'| peaks at the last pre-shift point (t = 19)
    assert out[0].t == 19 and out[0].n_points == 40


def test_vocab_coverage_exact_small_corpus(spark):
    from dataingestionframework_spark.operators.text import vocab_coverage

    # freqs: a=6, b=3, c=1 -> total 10; v50: a (6 >= 5); v90: a+b (9 >= 9)
    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a a a b")], ["doc_id", "text"]
    )
    r = vocab_coverage(df).first()
    assert (r.n_types, r.n_tokens, r.v50, r.v90, r.v99) == (3, 10, 1, 2, 3)


def test_autocorrelation_perfect_on_linear_series(spark):
    from dataingestionframework_spark.operators.windows import autocorrelation

    df = spark.createDataFrame(
        [("k", i, float(i)) for i in range(30)], ["g", "t", "v"]
    )
    r = autocorrelation(df, "v", ["g"], ["t"], lags=(1, 2)).first()
    # a linear series is perfectly correlated with any lag of itself
    assert r.n == 30 and r.acf_1 == 1.0 and r.acf_2 == 1.0


def test_decode_pcm16_real_bytes_roundtrip(spark):
    """decode_pcm16 must recover exact stats from genuine WAV bytes
    built independently in Python (struct-packed), including negative
    samples (two's complement) and the degenerate empty/None cases."""
    import struct

    from dataingestionframework_spark.operators.multimodal import (
        decode_pcm16,
        parse_media_headers,
    )

    samples = [0, 100, -100, 32767, -32768, 5]
    data = struct.pack("<" + "h" * len(samples), *samples)
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
        + b"data" + struct.pack("<I", len(data))
    )
    assert len(hdr) == 44
    df = spark.createDataFrame(
        [(1, bytearray(hdr + data)), (2, bytearray(b"")), (3, None)],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in decode_pcm16(df).collect()}
    r = out[1]
    assert (r.n_samples, r.sum_val, r.min_val, r.max_val) == (
        6, sum(samples), -32768, 32767,
    )
    assert r.sum_sq == sum(s * s for s in samples)
    assert out[2].n_samples == 0 and out[2].min_val is None
    assert out[3].n_samples == 0
    # the same bytes satisfy the header prober (consistent WAV layout)
    meta = parse_media_headers(df.filter("doc_id = 1"), "payload").first()
    assert meta.media_kind == "wav" and meta.sample_rate == 16000


def test_warc_parse_length_driven_framing(spark):
    """Length-driven WARC framing: payloads that CONTAIN the record
    separator bytes and even a fake 'WARC/1.0' line must not break
    record boundaries — only Content-Length advances the cursor."""
    from dataingestionframework_spark.sources.warc import (
        parse_warc_bytes,
        warc_parse,
    )

    def rec(rid: str, payload: str) -> bytes:
        body = payload.encode()
        return (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + f"WARC-Record-ID: <{rid}>\r\n".encode()
            + f"WARC-Target-URI: http://x/{rid}\r\n".encode()
            + f"Content-Length: {len(body)}\r\n\r\n".encode()
            + body
            + b"\r\n\r\n"
        )

    evil = "before\r\n\r\nWARC/1.0\r\nContent-Length: 0\r\n\r\nafter"
    blob = rec("a", "hello") + rec("b", evil) + rec("c", "world")
    rows = parse_warc_bytes(blob)
    assert [r[1] for r in rows] == ["<a>", "<b>", "<c>"]
    assert rows[1][5] == evil and rows[1][4] == len(evil.encode())

    df = spark.createDataFrame([(bytearray(blob),)], "content binary")
    got = warc_parse(df).collect()
    assert sorted(r.record_id for r in got) == ["<a>", "<b>", "<c>"]
    assert all(r.warc_type == "response" for r in got)


def test_cms_merge_equals_oneshot_and_one_sided_bound(spark):
    """Count-min invariants: (1) merging per-shard sketches equals the
    one-shot sketch of the union (additive mergeability — the 100 TB
    rollup property); (2) estimates never undercount (one-sided
    error); (3) a planted heavy hitter is estimated exactly (its
    counters dominate any collision noise at this width)."""
    from dataingestionframework_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    rows = [(i % 50,) for i in range(2000)] + [(999,)] * 400
    df = spark.createDataFrame(rows, ["k"])
    a, b = df.filter("k % 2 = 0"), df.filter("k % 2 = 1")
    merged = cms_merge(cms_build(a, "k"), cms_build(b, "k"))
    oneshot = cms_build(df, "k")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, oneshot.collect())
    )

    keys = spark.createDataFrame([(i,) for i in range(50)] + [(999,)], ["k"])
    est = {r.k: r.est_cnt for r in cms_estimate(oneshot, keys, "k").collect()}
    true = {r.k: r.cnt for r in df.groupBy("k").agg(F.count("*").alias("cnt")).collect()}
    assert all(est[k] >= true[k] for k in true)
    assert est[999] == 400  # heavy hitter exact at this width


def test_margin_bitext_hub_deflation_matches_reference(spark):
    """Ratio-margin mining must demote hub targets: a target that is
    close to EVERY source has its margin deflated by its own high
    local scale, so a source picks its true counterpart even when raw
    cosine prefers the hub. Verified against a numpy transcription of
    the formula, pair by pair."""
    import math

    import numpy as np

    from dataingestionframework_spark.operators.similarity import (
        margin_bitext_mine,
    )

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    # sources at 0, 32.26, 34.45 deg; targets: hub at 18.19 deg (close
    # to all sources), true counterpart of source 0 at -21.57 deg
    src = {0: unit(0.0), 2: unit(32.26), 4: unit(34.45)}
    tgt = {1: unit(18.19), 3: unit(-21.57)}
    k = 2

    sims = {
        (si, ti): round(float(np.dot(sv, tv)), 6)
        for si, sv in src.items()
        for ti, tv in tgt.items()
    }
    a_src = {
        si: np.mean(sorted((sims[si, ti] for ti in tgt), reverse=True)[:k])
        for si in src
    }
    a_tgt = {
        ti: np.mean(sorted((sims[si, ti] for si in src), reverse=True)[:k])
        for ti in tgt
    }
    margin = {
        p: round(sims[p] / ((a_src[p[0]] + a_tgt[p[1]]) / 2), 6) for p in sims
    }
    best = {
        si: min(tgt, key=lambda ti: (-margin[si, ti], ti)) for si in src
    }
    back = {
        ti: min(src, key=lambda si: (-margin[si, ti], si)) for ti in tgt
    }
    # true-intersection mutual: also needs the pair inside the
    # target's own backward top-k shortlist (by cosine)
    bwd_cand = {
        ti: set(sorted(src, key=lambda si: (-sims[si, ti], si))[:k])
        for ti in tgt
    }
    # the construction exercises the interesting case: raw cosine picks
    # the hub for source 0, margin picks the true counterpart
    assert max(tgt, key=lambda ti: sims[0, ti]) == 1 and best[0] == 3

    sdf = spark.createDataFrame(
        [(i, v) for i, v in src.items()], "vec_id long, embedding array<double>"
    )
    tdf = spark.createDataFrame(
        [(i, v) for i, v in tgt.items()], "vec_id long, embedding array<double>"
    )
    got = {
        r.src_id: r for r in margin_bitext_mine(sdf, tdf, k_margin=k).collect()
    }
    assert set(got) == set(src)
    for si, r in got.items():
        assert r.tgt_id == best[si]
        assert r.cosine_sim == pytest.approx(sims[si, r.tgt_id], abs=2e-6)
        assert r.margin == pytest.approx(margin[si, r.tgt_id], abs=2e-6)
        assert r.mutual == (
            back[r.tgt_id] == si and si in bwd_cand[r.tgt_id]
        )


def test_embedding_pca_project_matches_numpy(spark):
    """Distributed PCA (batch-partial Gram + driver eig + broadcast
    projection) must agree with numpy PCA on the collected data:
    projections equal up to the deterministic sign fix, component
    variances are the eigenvalues in descending order, and whitening
    yields unit variance per component."""
    import numpy as np

    from dataingestionframework_spark.operators.similarity import (
        embedding_pca_project,
    )
    from tests.conftest import SF_DIR

    df = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(300)
    )
    rows = sorted(df.collect(), key=lambda r: r.vec_id)
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    xc = x - x.mean(axis=0)
    evals, evecs = np.linalg.eigh(xc.T @ xc / (len(x) - 1))
    order = np.argsort(evals)[::-1][:4]
    w, v = evals[order], evecs[:, order]
    flip = np.sign(v[np.argmax(np.abs(v), axis=0), np.arange(4)])
    expect = xc @ (v * flip)

    got = embedding_pca_project(df, n_components=4)
    gm = {r.vec_id: np.array(r.components) for r in got.collect()}
    p = np.array([gm[r.vec_id] for r in rows])
    assert np.allclose(p, expect, atol=1e-8)
    # captured variance per component = eigenvalue, descending
    assert np.allclose(p.var(axis=0, ddof=1), w, rtol=1e-9)
    assert np.all(np.diff(w) <= 1e-12)

    white = embedding_pca_project(df, n_components=4, whiten=True)
    pw = np.array(
        [r.components for r in sorted(white.collect(), key=lambda r: r.vec_id)]
    )
    assert np.allclose(pw.var(axis=0, ddof=1), 1.0, rtol=1e-9)


def test_fim_transform_reassembles_and_is_deterministic(spark):
    """FIM pieces must be a lossless re-layout: prefix+middle+suffix
    re-concatenated equals the original text, every piece is non-empty
    for len>=3, short docs pass through, and cuts are stable across
    runs (hash-derived, not random)."""
    from dataingestionframework_spark.operators.corpus import fim_transform

    rows = [(1, "abcdefghij"), (2, "xy"), (3, "abc"), (4, "a b c d e")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in fim_transform(df).collect()}

    assert out[2].cut_a is None and out[2].fim_text == "xy"
    for i in (1, 3, 4):
        r = out[i]
        text = dict(rows)[i]
        assert 1 <= r.cut_a < r.cut_b <= len(text) - 1
        body = r.fim_text
        pre = body[len("<PRE>"):body.index("<SUF>")]
        suf = body[body.index("<SUF>") + 5:body.index("<MID>")]
        mid = body[body.index("<MID>") + 5:]
        assert pre and mid and suf
        assert pre + mid + suf == text

    again = {r.doc_id: r for r in fim_transform(df).collect()}
    assert {k: (v.cut_a, v.cut_b) for k, v in out.items()} == {
        k: (v.cut_a, v.cut_b) for k, v in again.items()
    }


def test_source_overlap_identical_sources_jaccard_one(spark):
    """A source that is an exact republication of another must show
    jaccard 1.0; a disjoint-vocabulary source shares nothing (no row)."""
    from dataingestionframework_spark.operators.corpus import source_overlap

    t1 = "alpha beta gamma delta epsilon zeta"
    t2 = "one two three four five six seven"
    df = spark.createDataFrame(
        [(1, t1, "a"), (2, t1, "b"), (3, t2, "c")],
        "doc_id long, text string, source string",
    )
    got = {(r.src_a, r.src_b): r for r in source_overlap(df).collect()}
    assert set(got) == {("a", "b")}
    assert got[("a", "b")].jaccard == 1.0


def test_psi_drift_zero_on_identical_and_flags_shift(spark):
    """PSI is ~0 when current == reference and large under a mean
    shift; empty buckets still appear (10-row spine)."""
    from dataingestionframework_spark.operators.profile import psi_drift

    base = spark.range(2000).select((F.col("id") % 100).cast("double").alias("v"))
    same = psi_drift(base, base, "v", 0.0, 100.0).collect()
    assert len(same) == 10
    assert abs(sum(r.psi_term for r in same)) < 1e-9

    shifted = base.select((F.col("v") + 50.0).alias("v"))
    drift = psi_drift(base, shifted, "v", 0.0, 100.0).collect()
    assert sum(r.psi_term for r in drift) > 0.25
