"""Round-5 operator tests: engine-proof blocklist, ADVICE fixes, MMR gate."""

import pytest
from pyspark.sql import functions as F


class TestBlocklistFilter:
    """blocklist_filter's replace-count contract (no \\b regex)."""

    def _run(self, spark, texts, phrases, max_hits=0):
        from dataingestionframework_spark.operators.text import blocklist_filter

        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, text string")
        rows = blocklist_filter(df, phrases, max_hits=max_hits).orderBy("id").collect()
        return [(r.n_blocked_hits, r.blocklist_pass) for r in rows]

    def test_word_boundaries_and_counts(self, spark):
        got = self._run(
            spark,
            [
                "please merge this",         # 1 hit
                "merged submerge merges",    # 0 — substrings don't match
                "merge merge merge",         # 3 — adjacent tokens all count
                "MERGE, (merge)!",           # 2 — case/punct insensitive
                "nothing here",              # 0
            ],
            ["merge"],
            max_hits=1,
        )
        assert got == [(1, True), (0, True), (3, False), (2, False), (0, True)]

    def test_multiword_phrase_and_delimiters(self, spark):
        got = self._run(
            spark,
            [
                "use window sort here",       # 1
                "window\tsort and window  sort",  # 2 — any delimiter run
                "window sorting",             # 0
                "windows sort",               # 0
                "window sort window sort",    # 2
            ],
            ["window sort"],
        )
        assert got == [(1, False), (2, False), (0, True), (0, True), (2, False)]

    def test_overlapping_multiword_counts_nonoverlapping(self, spark):
        # "a a a" contains "a a" twice overlapping; leftmost
        # non-overlapping semantics (same as regex engines) count 1
        got = self._run(spark, ["a a a", "a a a a"], ["a a"])
        assert got == [(1, False), (2, False)]

    def test_multiple_phrases_sum(self, spark):
        got = self._run(spark, ["merge the window sort merge"], ["merge", "window sort"])
        assert got == [(3, False)]

    def test_phrase_normalization(self, spark):
        # phrases themselves get the same [^a-z0-9]+ normalize
        got = self._run(spark, ["window sort now"], ["Window-Sort"])
        assert got == [(1, False)]

    def test_empty_phrase_raises(self, spark):
        from dataingestionframework_spark.operators.text import blocklist_filter

        df = spark.createDataFrame([(1, "x")], "id int, text string")
        with pytest.raises(ValueError):
            blocklist_filter(df, [])
        with pytest.raises(ValueError):
            blocklist_filter(df, ["!!!"])

    def test_matches_duckdb_twin_on_tricky_text(self, spark):
        """The exact oracle mechanism agrees with Spark on adversarial
        text — including non-ASCII, leading/trailing delimiters, and
        empty strings."""
        import duckdb

        texts = [
            "merge", " merge ", "", "   ", "merge—merge", "naïve merge café",
            "a a a merge a", "window  sort\nmerge", "9merge merge9 m3rge",
        ]
        got = self._run(spark, texts, ["merge"])
        con = duckdb.connect()
        exp = []
        for t in texts:
            (hits,) = con.execute(
                """
                SELECT CAST((length(p) - length(replace(p, ' merge ', '')))
                            // length(' merge ') AS BIGINT)
                FROM (SELECT '  ' || replace(trim(regexp_replace(lower(?),
                         '[^a-z0-9]+', ' ', 'g')), ' ', '  ') || '  ' AS p)
                """,
                [t],
            ).fetchone()
            exp.append(hits)
        assert [h for h, _ in got] == exp


def test_decode_pcm16_odd_length_payload_degrades(spark):
    """A truncated/odd-length data section must yield the usable whole
    samples (or the too-short shape), never fail the task — one
    malformed WAV in a 100 TB scan cannot kill the pass."""
    import struct

    from dataingestionframework_spark.operators.multimodal import decode_pcm16

    samples = [7, -9, 1000]
    data = struct.pack("<hhh", *samples)
    hdr = b"\x00" * 44
    df = spark.createDataFrame(
        [
            (1, bytearray(hdr + data + b"\x01")),  # trailing odd byte
            (2, bytearray(hdr + b"\x01")),          # 1 byte: no sample
            (3, bytearray(hdr + data[:5])),         # truncated mid-sample
        ],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in decode_pcm16(df).collect()}
    assert (out[1].n_samples, out[1].sum_val) == (3, sum(samples))
    assert out[2].n_samples == 0 and out[2].min_val is None
    assert (out[3].n_samples, out[3].sum_val) == (2, 7 - 9)


def test_margin_bitext_mutual_requires_backward_shortlist(spark):
    """mutual=true needs the pair in the TARGET's own backward top-k —
    a source the target never retrieved cannot be mutual even when it
    wins the forward-candidate backward rank (ADVICE r4)."""
    import math

    from dataingestionframework_spark.operators.similarity import (
        margin_bitext_mine,
    )

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    # k=1: tgt 1's backward shortlist is its single closest source.
    # src 0 -> closest tgt is 1 (forward best), but tgt 1's closest
    # source is 2 (2 deg away vs 10) -> pair (0,1) not in backward
    # shortlist -> mutual False. Pair (2,1): forward best of 2 is 1
    # and backward best of 1 is 2 -> mutual True.
    src = {0: unit(0.0), 2: unit(12.0)}
    tgt = {1: unit(10.0), 3: unit(85.0)}
    sdf = spark.createDataFrame(
        [(i, v) for i, v in src.items()], "vec_id long, embedding array<double>"
    )
    tdf = spark.createDataFrame(
        [(i, v) for i, v in tgt.items()], "vec_id long, embedding array<double>"
    )
    got = {r.src_id: r for r in margin_bitext_mine(sdf, tdf, k_margin=1).collect()}
    assert got[0].tgt_id == 1 and got[0].mutual is False
    assert got[2].tgt_id == 1 and got[2].mutual is True


def test_staged_parquet_swap_no_residue_and_correct(spark, tmp_path):
    """The RTBF parquet swap is the store commit protocol: it rewrites
    the path with the kept rows, the read side can stay lazy over the
    original files, the epoch is carried forward, and neither the
    __staging nor __old rotation dir survives."""
    import os

    from dataingestionframework_spark.session import (
        commit_store,
        recover_store,
        store_epoch,
    )

    p = str(tmp_path / "sink")
    commit_store(spark.range(100).withColumnRenamed("id", "doc_id"), p, 4)
    cur = spark.read.parquet(p)
    kept = cur.filter("doc_id % 2 = 0")  # lazy over the path being swapped
    commit_store(kept, p)
    assert spark.read.parquet(p).count() == 50
    assert store_epoch(spark, p) == 4
    assert recover_store(spark, p) == "ok"
    assert not os.path.exists(p + "__staging")
    assert not os.path.exists(p + "__old")


def test_avro_format_roundtrip_leg(spark, tmp_path):
    """Avro sink+source roundtrip — joins format_roundtrip_agg's
    orc/csv/json/xml legs when the external spark-avro module is
    present (tools/verify_env_extras.py runs this on a networked
    host; skipped in the DNS-less container, see DEPLOY.md)."""
    import os

    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    if not any(f.startswith("spark-avro") for f in os.listdir(jars)):
        pytest.skip("spark-avro module not installed in this container")
    src = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("grp")
    )
    p = str(tmp_path / "avro")
    src.write.format("avro").save(p)
    back = spark.read.format("avro").load(p)
    assert back.count() == 100
    got = {r.grp: r.n for r in back.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert got == {"0": 34, "1": 33, "2": 33}


def test_encoding_quality_counts_and_gate(spark):
    """Replacement-char and control-char counting, ratio gating, and
    the empty/clean edge cases."""
    from dataingestionframework_spark.operators.text import encoding_quality

    rows = [
        (1, "clean ascii text here"),
        (2, "bad �� decode �"),          # 3 replacement
        (3, "ctl\x01\x02\x07and\x1f\x7fmore"),          # 5 control
        (4, "tabs\tand\nnewlines\rok"),                 # whitespace exempt
        (5, ""),
        (6, "x" * 1000 + "�"),                     # 0.001 ratio: passes
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in encoding_quality(
        df, max_replacement_ratio=0.002, max_control_ratio=0.002
    ).collect()}
    assert (out[1].n_replacement, out[1].n_control, out[1].encoding_pass) == (0, 0, True)
    assert (out[2].n_replacement, out[2].encoding_pass) == (3, False)
    assert (out[3].n_control, out[3].encoding_pass) == (5, False)
    assert (out[4].n_control, out[4].encoding_pass) == (0, True)
    assert (out[5].n_chars, out[5].encoding_pass) == (0, True)
    assert (out[6].n_replacement, out[6].encoding_pass) == (1, True)


class TestTarWebdataset:
    """sources/tar.py: length-driven, checksum-verified ustar parsing."""

    def _tar(self, members):
        import io
        import tarfile

        buf = io.BytesIO()
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for name, data in members:
                ti = tarfile.TarInfo(name)
                ti.size = len(data)
                ti.mtime = 0
                tf.addfile(ti, io.BytesIO(data))
        return buf.getvalue()

    def test_roundtrip_against_cpython_tarfile(self):
        from dataingestionframework_spark.sources.tar import parse_tar_bytes

        blob = self._tar(
            [("0001.txt", b"hello"), ("0001.cls", b"en"),
             ("dir/0002.txt", b"x" * 513), ("0002.cls", b"")]
        )
        rows = parse_tar_bytes(blob)
        assert [(n, s) for n, s, _ in rows] == [
            ("0001.txt", 5), ("0001.cls", 2),
            ("dir/0002.txt", 513), ("0002.cls", 0),
        ]
        assert rows[2][2] == b"x" * 513

    def test_embedded_fake_header_cannot_break_framing(self):
        from dataingestionframework_spark.sources.tar import parse_tar_bytes

        evil = b"\x00" * 100 + b"ustar\x00fake" + b"\x00" * 400
        blob = self._tar([("a.bin", evil), ("b.txt", b"after-evil")])
        rows = parse_tar_bytes(blob)
        assert [n for n, _, _ in rows] == ["a.bin", "b.txt"]
        assert rows[0][2] == evil and rows[1][2] == b"after-evil"

    def test_checksum_corruption_skips_member_not_shard(self):
        from dataingestionframework_spark.sources.tar import parse_tar_bytes

        blob = bytearray(
            self._tar([("a.txt", b"aaaa"), ("b.txt", b"bbbb"),
                       ("c.txt", b"cccc")])
        )
        blob[512 * 2 + 3] ^= 0xFF  # flip a byte in b.txt's header
        rows = parse_tar_bytes(bytes(blob))
        assert [n for n, _, _ in rows] == ["a.txt", "c.txt"]

    def test_webdataset_grouping(self, spark):
        from dataingestionframework_spark.sources.tar import (
            tar_parse,
            webdataset_samples,
        )

        blob = self._tar(
            [("0001.txt", b"t1"), ("0001.seg.cls", b"c1"),
             ("0002.txt", b"t2")]
        )
        df = spark.createDataFrame([(bytearray(blob),)], "content binary")
        got = {
            r.sample_key: r
            for r in webdataset_samples(tar_parse(df)).collect()
        }
        assert got["0001"].n_members == 2
        # key splits at the FIRST dot: compound ext survives
        assert got["0001"].exts == ["seg.cls", "txt"]
        assert bytes(got["0001"].payloads[1]) == b"t1"
        assert got["0002"].exts == ["txt"] and got["0002"].total_bytes == 2


def test_pcm_energy_segments_rle_and_edges(spark):
    """Known byte-exact WAV: frame energies, thresholding, run-length
    boundaries, the partial final frame, and degenerate payloads."""
    import struct

    from dataingestionframework_spark.operators.multimodal import (
        pcm_energy_segments,
    )

    # frame=4: [loud x4][quiet x4][loud x4][quiet x2 partial]
    samples = [1000] * 4 + [1] * 4 + [1000] * 4 + [1] * 2
    data = struct.pack("<" + "h" * len(samples), *samples)
    hdr = b"\x00" * 44
    df = spark.createDataFrame(
        [(1, bytearray(hdr + data)), (2, bytearray(b"")), (3, None)],
        "doc_id long, payload binary",
    )
    out = pcm_energy_segments(
        df, frame_samples=4, energy_threshold=1_000_000
    ).orderBy("doc_id", "seg_id").collect()
    assert [r.doc_id for r in out] == [1, 1, 1, 1]
    got = [(r.seg_id, r.is_speech, r.start_frame, r.n_frames, r.energy_sum)
           for r in out]
    assert got == [
        (0, True, 0, 1, 4_000_000),
        (1, False, 1, 1, 4),
        (2, True, 2, 1, 4_000_000),
        (3, False, 3, 1, 2),   # partial final frame
    ]


def test_grouped_split_is_leak_free(spark):
    """group_col splits: every group wholly in one split; doc-keyed
    sharding unchanged; doc-keyed split DOES straddle (the contrast
    that makes the group key necessary)."""
    from dataingestionframework_spark.operators.corpus import train_split_shard

    df = spark.createDataFrame(
        [(i, f"src{i % 7}") for i in range(300)], "doc_id long, source string"
    )
    grouped = train_split_shard(df, group_col="source").join(df, "doc_id")
    per_group = grouped.groupBy("source").agg(
        F.count_distinct("split").alias("k")
    )
    assert all(r.k == 1 for r in per_group.collect())
    # same seed, doc-keyed: at 300 docs the split must straddle sources
    plain = train_split_shard(df).join(df, "doc_id")
    straddled = plain.groupBy("source").agg(
        F.count_distinct("split").alias("k")
    )
    assert any(r.k > 1 for r in straddled.collect())


def test_warc_gz_member_splitting_edges(spark):
    """gzip-member framing: payloads containing the gzip magic can't
    split members; a truncated trailing member (CRC unverifiable) is
    dropped; a corrupt member costs only itself and what follows in
    that file."""
    import gzip

    from dataingestionframework_spark.sources.warc import (
        split_gzip_members,
        warc_gz_parse,
    )

    def rec(rid, payload):
        body = payload.encode()
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            + f"WARC-Record-ID: <{rid}>\r\n".encode()
            + f"WARC-Target-URI: http://x/{rid}\r\n".encode()
            + f"Content-Length: {len(body)}\r\n\r\n".encode()
            + body + b"\r\n\r\n"
        )

    members = [rec("a", "hello"), rec("b", "wo\x1f\x8b\x08rld")]
    blob = b"".join(gzip.compress(m, mtime=0) for m in members)
    assert split_gzip_members(blob) == members
    assert split_gzip_members(blob[:-5]) == [members[0]]
    assert split_gzip_members(b"") == []
    assert split_gzip_members(b"plain not gzip") == []

    df = spark.createDataFrame([(bytearray(blob),)], "content binary")
    got = {r.record_id: r.text for r in warc_gz_parse(df).collect()}
    assert got == {"<a>": "hello", "<b>": "wo\x1f\x8b\x08rld"}


def test_parse_jpeg_bytes_marker_walk():
    """Marker-length-driven walk: fake SOF bytes inside a comment
    segment cannot be mistaken for the frame header; standalone
    markers, progressive SOF2, and truncation are handled."""
    from dataingestionframework_spark.operators.multimodal import (
        parse_jpeg_bytes,
    )

    def jpeg(w, h, prog=False, evil=False, fill=0):
        out = b"\xff\xd8"
        out += b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
        if evil:
            payload = b"\xff\xc0\x00\x11deadbeef"
            out += b"\xff\xfe" + (2 + len(payload)).to_bytes(2, "big") + payload
        out += b"\xff\x01"  # standalone TEM marker, no length
        out += b"\xff" * fill  # legal fill bytes before the marker
        m = b"\xff\xc2" if prog else b"\xff\xc0"
        out += (m + (17).to_bytes(2, "big") + b"\x08"
                + h.to_bytes(2, "big") + w.to_bytes(2, "big")
                + b"\x03" + b"\x00" * 9)
        return out + b"\xff\xd9"

    assert parse_jpeg_bytes(jpeg(640, 480)) == (640, 480, 3, False)
    # ITU T.81 B.1.1.2: markers may be preceded by 0xFF fill bytes
    assert parse_jpeg_bytes(jpeg(640, 480, fill=3)) == (640, 480, 3, False)
    assert parse_jpeg_bytes(jpeg(1920, 1080, prog=True, evil=True)) == (
        1920, 1080, 3, True,
    )
    assert parse_jpeg_bytes(b"\x89PNG\r\n") is None
    assert parse_jpeg_bytes(jpeg(10, 10)[:10]) is None  # truncated
    assert parse_jpeg_bytes(None if False else b"") is None


def test_webdataset_samples_scoped_per_shard(spark):
    """Two shards with the SAME member keys must yield two samples per
    key, never one merged corrupt one (WebDataset keys are unique per
    shard, not globally)."""
    import io
    import tarfile

    from dataingestionframework_spark.sources.tar import (
        tar_parse,
        webdataset_samples,
    )

    def tar_bytes(payload):
        buf = io.BytesIO()
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            ti = tarfile.TarInfo("000000.txt")
            ti.size = len(payload)
            tf.addfile(ti, io.BytesIO(payload))
        return bytearray(buf.getvalue())

    df = spark.createDataFrame(
        [("s1.tar", tar_bytes(b"one")), ("s2.tar", tar_bytes(b"two"))],
        "path string, content binary",
    )
    got = webdataset_samples(tar_parse(df, path_col="path")).collect()
    assert len(got) == 2
    by_shard = {r.shard: bytes(r.payloads[0]) for r in got}
    assert by_shard == {"s1.tar": b"one", "s2.tar": b"two"}
    assert all(r.n_members == 1 for r in got)


def test_blocklist_contract_guards(spark):
    """Content-bearing punctuation and oversized lists raise instead
    of silently degrading (review findings r5)."""
    from dataingestionframework_spark.operators.text import blocklist_filter

    df = spark.createDataFrame([(1, "c is a language")], "id int, text string")
    with pytest.raises(ValueError, match="punctuation"):
        blocklist_filter(df, ["C++"])
    with pytest.raises(ValueError, match="64"):
        blocklist_filter(df, [f"w{i}" for i in range(65)])
    # separator punctuation stays fine
    out = blocklist_filter(df, ["is-a"]).first()
    assert out.n_blocked_hits == 1


def test_forget_index_swap_window_recovers(spark, tmp_path):
    """A crash between the two index renames (live table moved aside,
    staged not yet promoted) must heal on the next forget call —
    promoting the completed __staged image — instead of reporting
    removed=0 with residue stranded (review finding r5)."""
    from dataingestionframework_spark.ingest.corpus import forget_documents
    from dataingestionframework_spark.operators.bucketing import (
        drop_table_and_location,
    )

    sink = str(tmp_path / "sink")
    idx = "r5_forget_recovery_idx"
    for t in (idx, f"{idx}__staged", f"{idx}__old"):
        drop_table_and_location(spark, t)
    spark.range(20).selectExpr(
        "id AS doc_id", "CAST(id % 4 AS STRING) AS bucket_key"
    ).write.parquet(sink)
    spark.range(20).selectExpr(
        "id AS doc_id", "CAST(id % 4 AS STRING) AS bucket_key"
    ).write.bucketBy(4, "bucket_key").sortBy("bucket_key").saveAsTable(idx)

    # simulate the crash window: a completed post-forget image sits
    # under __staged and the live name is gone
    spark.table(idx).filter("doc_id >= 5").write.bucketBy(
        4, "bucket_key"
    ).sortBy("bucket_key").saveAsTable(f"{idx}__staged")
    drop_table_and_location(spark, idx)
    assert not spark.catalog.tableExists(idx)

    removed = forget_documents(spark, [7], sink, index_table=idx)
    # recovery promoted the 15-row staged image, then forgot id 7
    assert spark.catalog.tableExists(idx)
    assert removed["index"] == 1
    assert spark.table(idx).count() == 14
    assert not spark.catalog.tableExists(f"{idx}__staged")
    for t in (idx, f"{idx}__staged", f"{idx}__old"):
        drop_table_and_location(spark, t)


def test_blocklist_lexicon_filter_semantics(spark):
    """Table-joined lexicon variant: n-gram widths, overlap counting
    (documented difference vs the replace-count variant), phrase
    normalization, and zero-hit passthrough."""
    from dataingestionframework_spark.operators.text import (
        blocklist_filter,
        blocklist_lexicon_filter,
    )

    docs = spark.createDataFrame(
        [(1, "visit united states now"), (2, "nothing here"),
         (3, "a a a"), (4, "")],
        "doc_id long, text string",
    )
    lex = spark.createDataFrame(
        [("United-States",), ("a a",)], "phrase string"
    )
    got = {r.doc_id: (r.n_blocked_hits, r.blocklist_pass)
           for r in blocklist_lexicon_filter(docs, lex).collect()}
    assert got[1] == (1, False)
    assert got[2] == (0, True)
    assert got[3] == (2, False)   # overlap-counted: positions 1 and 2
    assert got[4] == (0, True)
    # replace-count variant counts the same text leftmost-non-overlap
    rc = blocklist_filter(
        spark.createDataFrame([(3, "a a a")], "doc_id long, text string"),
        ["a a"],
    ).first()
    assert rc.n_blocked_hits == 1


def test_preference_pairs_tiebreaks_and_filters(spark):
    """Deterministic ties (best: lowest id; worst: highest id),
    singleton and zero-margin prompts dropped."""
    from dataingestionframework_spark.operators.corpus import preference_pairs

    df = spark.createDataFrame(
        [("p1", 1, 0.9), ("p1", 3, 0.9), ("p1", 2, 0.3),
         ("p2", 4, 0.5),
         ("p3", 5, 0.7), ("p3", 6, 0.7),
         ("p4", 7, 0.2), ("p4", 8, 0.8)],
        "prompt string, doc_id long, score double",
    )
    got = {r.prompt: r for r in preference_pairs(df).collect()}
    assert set(got) == {"p1", "p4"}
    assert (got["p1"].chosen_id, got["p1"].rejected_id) == (1, 2)
    assert (got["p4"].chosen_id, got["p4"].rejected_id) == (8, 7)
    assert got["p4"].margin == pytest.approx(0.6)


def test_kmeans_lloyd_contract(spark):
    """Deterministic trajectory: init = k lowest ids, argmax-cosine
    assignment with lower-cid ties, mean update, empty-cluster drop.
    Hand-checkable 2-D fixture: two tight groups on the axes."""
    from dataingestionframework_spark.operators.similarity import kmeans_lloyd

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [0.1, 0.9])],
        "vec_id long, embedding array<float>",
    )
    assigned, cents, counts = kmeans_lloyd(df, k=2, iters=2)
    got = {r.vec_id: r.cluster_id for r in assigned.collect()}
    # init c0=(1,0) c1=(0.9,0.1): ids 1,2 -> axis-x cluster 0; 3,4 -> 1
    assert got == {1: 0, 2: 0, 3: 1, 4: 1}
    assert set(cents) == {0, 1}
    assert cents[0][0] > 0.9 and cents[1][1] > 0.9
    # every sim is rounded to 6dp and positive for members
    assert all(r.cos_sim > 0.7 for r in assigned.collect())


def test_kmeans_lloyd_drops_empty_clusters(spark):
    """A duplicated init point leaves its twin cluster empty after the
    first update (lower-cid tie takes all members) — k shrinks, the
    survivor keeps its original cid, and no NaN centroid appears."""
    from dataingestionframework_spark.operators.similarity import kmeans_lloyd

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.95, 0.05])],
        "vec_id long, embedding array<float>",
    )
    assigned, cents, counts = kmeans_lloyd(df, k=2, iters=1)
    assert set(cents) == {0}
    assert {r.cluster_id for r in assigned.collect()} == {0}


def test_unicode_nfc_composes_and_passes_ascii(spark):
    from dataingestionframework_spark.operators.text import unicode_nfc

    df = spark.createDataFrame(
        [(1, "café"), (2, "plain ascii"), (3, None), (4, "é")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.text for r in unicode_nfc(df).collect()}
    assert got[1] == "café"          # decomposed -> composed
    assert got[2] == "plain ascii"        # ascii round-trips
    assert got[3] is None                 # null-safe
    assert got[4] == "é"             # already-NFC fixed point
    with pytest.raises(ValueError):
        unicode_nfc(df, form="NFX")


def test_dsir_importance_directionality(spark):
    """Docs made of target-only vocabulary must outweigh docs made of
    raw-only vocabulary; weights are finite under smoothing even for
    tokens absent from the target."""
    from dataingestionframework_spark.operators.corpus import dsir_importance

    raw = spark.createDataFrame(
        [(1, "aa aa aa"), (2, "bb bb bb"), (3, "aa bb")],
        "doc_id long, text string",
    )
    target = spark.createDataFrame([(10, "aa aa")], "doc_id long, text string")
    # low smoothing mass (64 buckets x 0.01) so the 8-token fixture's
    # signal isn't drowned; 'aa'/'bb' land in distinct buckets (39/16)
    got = {
        r.doc_id: r
        for r in dsir_importance(raw, target, buckets=64, alpha=0.01).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1].dsir_weight > 0 > got[2].dsir_weight
    assert got[2].dsir_weight < got[3].dsir_weight < got[1].dsir_weight
    assert got[3].n_tokens == 2


def test_chat_transcripts_mask_offsets(spark):
    """Hand-checked rendering and 1-based [start,end) assistant spans;
    a conversation with no assistant turns gets empty arrays."""
    from dataingestionframework_spark.operators.corpus import chat_transcripts

    df = spark.createDataFrame(
        [("c1", 1, "user", "hi"), ("c1", 2, "assistant", "hello"),
         ("c1", 3, "user", "bye"),
         ("c2", 1, "user", "lone")],
        "conv_id string, turn long, role string, text string",
    )
    got = {r.conv_id: r for r in chat_transcripts(df).collect()}
    c1 = got["c1"]
    # "<|user|>hi\n<|assistant|>hello\n<|user|>bye\n"
    assert c1.transcript == "<|user|>hi\n<|assistant|>hello\n<|user|>bye\n"
    assert c1.n_turns == 3
    assert c1.transcript_chars == len(c1.transcript)
    # assistant text "hello" occupies 1-based chars 25..29 -> [25, 30)
    assert list(c1.mask_starts) == [25] and list(c1.mask_ends) == [30]
    assert c1.transcript[24:29] == "hello"  # 0-based slice of the span
    c2 = got["c2"]
    assert list(c2.mask_starts) == [] and list(c2.mask_ends) == []


def test_table_diff_statuses(spark):
    """added / removed / changed / unchanged classification, including
    NULL-vs-value changes the \\N sentinel must catch."""
    from dataingestionframework_spark.operators.profile import table_diff

    prev = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        "id long, s string, v int",
    )
    cur = spark.createDataFrame(
        [(1, "a", 10),        # unchanged
         (2, "B", 20),        # changed value
         (3, "c", 30),        # NULL -> value is a change
         (5, "e", 50)],       # added (4 removed)
        "id long, s string, v int",
    )
    got = {r.id: r.diff_status for r in table_diff(cur, prev, ["id"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "changed",
                   4: "removed", 5: "added"}
    # compare_cols restricts the fingerprint: only v -> 2 is unchanged
    got_v = {
        r.id: r.diff_status
        for r in table_diff(cur, prev, ["id"], compare_cols=["v"]).collect()
    }
    assert got_v[2] == "unchanged" and got_v[3] == "changed"


def test_parquet_layout_report_matches_duckdb_metadata(spark, tmp_path):
    """Footer fields (row groups, rows, value counts, compressed bytes)
    agree with DuckDB's parquet_metadata over a Spark-written file —
    two independent footer readers on one artifact."""
    import glob

    import duckdb

    from dataingestionframework_spark.ingest.maintenance import (
        parquet_layout_report,
    )

    p = str(tmp_path / "t")
    spark.range(1000).selectExpr(
        "id", "CAST(id % 7 AS INT) AS grp",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('v', id) END AS s",
    ).coalesce(2).write.parquet(p)
    rep = parquet_layout_report(spark, p).collect()
    files = sorted(glob.glob(p + "/*.parquet"))
    assert {r.file_name for r in rep} == {f.rsplit("/", 1)[1] for f in files}
    con = duckdb.connect()
    exp = con.execute(
        f"""SELECT regexp_extract(file_name, '[^/]+$') AS fn, row_group_id,
                   path_in_schema, num_values, stats_null_count,
                   total_compressed_size
            FROM parquet_metadata('{p}/*.parquet')"""
    ).fetchall()
    exp_set = {t for t in exp}
    got_set = {
        (r.file_name, r.row_group_id, r.column_name, r.num_values,
         r.null_count, r.compressed_bytes)
        for r in rep
    }
    assert got_set == exp_set
    # stats agree with the data itself for the null-bearing column
    s_nulls = sum(r.null_count for r in rep if r.column_name == "s")
    assert s_nulls == 200


def test_kmeans_update_weighted_merge(spark):
    """Exact weighted-mean merge: folding a batch into (centroids,
    counts) equals refitting the mean over the union; untouched
    clusters keep state; counts accumulate."""
    from dataingestionframework_spark.operators.similarity import (
        kmeans_lloyd,
        kmeans_update,
    )

    base = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.8, 0.2]), (3, [0.0, 1.0]), (4, [0.2, 0.8])],
        "vec_id long, embedding array<float>",
    )
    assigned, cents, counts = kmeans_lloyd(base, k=2, iters=1)
    batch = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.9, 0.1])],
        "vec_id long, embedding array<float>",
    )
    new_assigned, cents2, counts2 = kmeans_update(batch, cents, counts)
    got = {r.vec_id: r.cluster_id for r in new_assigned.collect()}
    assert got == {10: 0, 11: 0}              # both join the x-axis cluster
    assert counts2[0] == counts[0] + 2 and counts2[1] == counts[1]
    assert cents2[1] == cents[1]              # untouched cluster unchanged
    # counts describe the update that PRODUCED the centroids (cluster 0
    # was {id1} at that stage), so the merge is an exact refit over
    # centroid members + batch: mean of (1,0), (1,0), (0.9,0.1)
    assert counts[0] == 1
    assert cents2[0] == [round(2.9 / 3, 6), round(0.1 / 3, 6)]


def test_mp4_box_walk_resilience():
    """Pure-function checks: evil payloads (fake moov/ftyp inside
    free/mdat), 64-bit largesize, v0/v1 mvhd, truncation, zero-size
    box to EOF, and non-BMFF rejection."""
    from dataingestionframework_spark.operators.multimodal import (
        build_mp4_bytes,
        parse_mp4_boxes,
    )

    b = build_mp4_bytes(1000, 777, 2, version=1, largesize_mdat=True)
    got = parse_mp4_boxes(b)
    assert got == {"n_top_boxes": 4, "major_brand": "isom",
                   "timescale": 1000, "duration": 777, "n_tracks": 2}
    # size==0 (to-EOF) on the last box parses
    tail = (0).to_bytes(4, "big") + b"skip" + b"\x00" * 12
    assert parse_mp4_boxes(b + tail)["n_top_boxes"] == 5
    # truncated mid-box and desynced input reject, never raise
    assert parse_mp4_boxes(b[: len(b) - 3]) is None
    assert parse_mp4_boxes(b"\x00\x00\x00\x08ftyp"[:7]) is None
    assert parse_mp4_boxes(b"RIFF" + b"\x00" * 40) is None
    # a file whose FIRST box is not ftyp is not claimed as mp4
    free = (16).to_bytes(4, "big") + b"free" + b"\x00" * 8
    assert parse_mp4_boxes(free + free) is None


def test_mp4_probe_drops_non_bmff(spark):
    from dataingestionframework_spark.operators.multimodal import (
        build_mp4_bytes,
        mp4_probe,
    )

    df = spark.createDataFrame(
        [(1, bytearray(build_mp4_bytes(600, 10, 1))),
         (2, bytearray(b"not a movie")), (3, None)],
        "doc_id long, payload binary",
    )
    got = mp4_probe(df).collect()
    assert [r.doc_id for r in got] == [1]
    assert got[0].duration == 10 and got[0].n_tracks == 1


def test_layout_report_proves_zorder_tightens_rowgroups(spark, tmp_path):
    """The composition the 100 TB story rests on: OPTIMIZE-style range
    clustering must SHOW UP in the parquet footers as tighter (in fact
    disjoint) per-file min/max ranges on the cluster key — measured by
    parquet_layout_report, not asserted by faith."""
    from dataingestionframework_spark.ingest.maintenance import (
        parquet_layout_report,
    )

    def spans(path):
        rep = parquet_layout_report(spark, path, columns=["k"]).collect()
        per_file = [(int(r.min_value), int(r.max_value)) for r in rep]
        return sorted(per_file)

    n, files = 40_000, 8
    base = spark.range(n).selectExpr("CAST(id * 2654435761 % 1000000 AS LONG) AS k", "id AS v")
    messy = str(tmp_path / "messy")
    base.repartition(files).write.parquet(messy)           # hash-scattered
    tidy = str(tmp_path / "tidy")
    base.repartitionByRange(files, "k").sortWithinPartitions("k").write.parquet(tidy)

    def overlap_pairs(sp):
        return sum(
            1
            for i, (lo1, hi1) in enumerate(sp)
            for lo2, hi2 in sp[i + 1 :]
            if not (hi1 < lo2 or hi2 < lo1)
        )

    messy_spans, tidy_spans = spans(messy), spans(tidy)
    assert len(messy_spans) >= 2 and len(tidy_spans) >= 2
    # scattered layout: every file spans ~the whole key range
    assert overlap_pairs(messy_spans) > 0
    # clustered layout: file ranges are pairwise DISJOINT -> a k-filter
    # scan can skip every non-matching file from the footer alone
    assert overlap_pairs(tidy_spans) == 0


def test_blocklist_lexicon_empty_raises(spark):
    """Empty or punctuation-only lexicons are a caller bug, not a
    pass-everything filter — same contract as blocklist_filter."""
    from dataingestionframework_spark.operators.text import (
        blocklist_lexicon_filter,
    )

    docs = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    with pytest.raises(ValueError):
        blocklist_lexicon_filter(docs, spark.createDataFrame([], "phrase string"))
    with pytest.raises(ValueError):
        blocklist_lexicon_filter(
            docs, spark.createDataFrame([("!!!",)], "phrase string")
        )


def test_kmeans_stats_store_order_invariant(spark, tmp_path):
    """Sufficient statistics commute: folding shards in opposite orders
    yields the identical derived model, and it equals the one-shot
    kmeans_update on the concatenated rows."""
    from dataingestionframework_spark.operators.similarity import (
        kmeans_from_stats,
        kmeans_stats_merge_into_store,
        kmeans_update,
    )

    cents = {0: [1.0, 0.0], 1: [0.0, 1.0]}
    counts = {0: 3, 1: 2}
    s1 = spark.createDataFrame(
        [(1, [0.9, 0.1]), (2, [0.1, 0.9])], "vec_id long, embedding array<float>"
    )
    s2 = spark.createDataFrame(
        [(3, [1.0, 0.05]), (4, [0.05, 1.0]), (5, [0.8, 0.3])],
        "vec_id long, embedding array<float>",
    )
    models = []
    for order in ((s1, s2), (s2, s1)):
        store = str(tmp_path / f"st{len(models)}")
        for shard in order:
            kmeans_stats_merge_into_store(shard, cents, store)
        models.append(kmeans_from_stats(spark, store, cents, counts))
    assert models[0] == models[1]
    _, c_once, n_once = kmeans_update(s1.unionByName(s2), cents, counts)
    assert models[0] == (c_once, n_once)


def test_distinct_ngram_ratio_flags_repetition(spark):
    from dataingestionframework_spark.operators.corpus import (
        distinct_ngram_ratio,
    )

    df = spark.createDataFrame(
        [(1, "a", "x y x y x y"),      # bigrams: xy yx xy yx xy -> 2/5
         (2, "b", "p q r s t")],       # 4 distinct bigrams / 4
        "doc_id long, source string, text string",
    )
    got = {r.source: r for r in distinct_ngram_ratio(df).collect()}
    assert (got["a"].n_grams, got["a"].n_distinct) == (5, 2)
    assert got["a"].distinct_ratio == 0.4
    assert got["b"].distinct_ratio == 1.0


def test_adaptive_length_filter_per_group_thresholds(spark):
    """Each group gets its OWN percentile cut — a doc length that
    passes in a long-form group fails in a short-form one."""
    from dataingestionframework_spark.operators.text import (
        adaptive_length_filter,
    )

    rows = [(i, "short", "w " * (i + 1)) for i in range(10)] + [
        (100 + i, "long", "w " * (50 + 10 * i)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = adaptive_length_filter(df, lo=0.2, hi=0.8).collect()
    by = {r.doc_id: r for r in out}
    assert by[0].length_pass is False       # 1 token: below short's p20
    assert by[5].length_pass is True
    assert by[100].length_pass is False     # 50 tokens: below long's p20
    assert by[105].length_pass is True
    # thresholds differ per group
    assert by[0].len_hi < by[100].len_lo


def test_bfs_distances_levels_cycles_unreachable(spark):
    """Hand-checked: shortest hop counts, cycle termination, and
    unreachable nodes absent; source at dist 0."""
    from dataingestionframework_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0),      # cycle back to source
         (1, 3), (3, 4),
         (9, 0),                       # in-edge only: 9 unreachable
         (5, 6)],                      # disconnected component
        "src long, dst long",
    )
    got = {r.node: r.dist for r in bfs_distances(edges, source=0).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 2, 4: 3}
    # max_iters truncates the frontier expansion
    short = {r.node: r.dist
             for r in bfs_distances(edges, source=0, max_iters=1).collect()}
    assert short == {0: 0, 1: 1}
