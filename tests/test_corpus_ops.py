"""Corpus-assembly operators (operators/corpus.py): packing,
decontamination, split/shard. Value-level parity with DuckDB is the
oracle gate's job; these tests check the algebraic invariants the
oracle can't see."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dataingestionframework_spark.operators.corpus import (
    decontaminate,
    pack_sequences,
    tfidf_top_terms,
    train_split_shard,
)
from dataingestionframework_spark.plans.tables import load

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, SF_DIR, "documents")


def test_pack_sequences_invariants(spark, docs):
    seq_len = 128
    packed = pack_sequences(docs, seq_len=seq_len, pack_key="lang").cache()
    # Every sequence is exactly full except the last one per group.
    fills = (
        packed.groupBy("pack_key", "seq_id")
        .agg(F.sum("slice_tokens").alias("fill"))
        .withColumn(
            "last_seq",
            F.col("seq_id")
            == F.max("seq_id").over(Window.partitionBy("pack_key")),
        )
    )
    bad = fills.filter(
        (~F.col("last_seq")) & (F.col("fill") != seq_len)
    ).count()
    assert bad == 0
    over = fills.filter(F.col("fill") > seq_len).count()
    assert over == 0
    # No tokens lost: per-doc slice sums equal the doc token count.
    from dataingestionframework_spark.functions import token_count

    per_doc = packed.groupBy("doc_id").agg(
        F.sum("slice_tokens").alias("packed_tok")
    )
    orig = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    lost = (
        orig.join(per_doc, "doc_id", "left")
        .filter(
            (F.col("packed_tok").isNull())
            | (F.col("packed_tok") != F.col("n_tok"))
        )
        .count()
    )
    assert lost == 0
    packed.unpersist()


def test_decontaminate_benchmark_docs_fully_flagged(spark, docs):
    # A corpus containing the benchmark itself: benchmark docs (with >=
    # n tokens) must all be flagged with overlap == their gram count.
    bench = docs.filter(F.col("doc_id") < 20)
    out = decontaminate(docs, bench, n=3, min_overlap=1)
    flagged = {
        r["doc_id"]
        for r in out.filter("contaminated").select("doc_id").collect()
    }
    assert set(range(20)) <= flagged


def test_tfidf_rank_is_dense_per_doc(spark, docs):
    out = tfidf_top_terms(docs.limit(50), k=3)
    counts = out.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.max("rank").alias("mr")
    )
    assert counts.filter(F.col("n") != F.col("mr")).count() == 0
    assert out.filter(F.col("rank") > 3).count() == 0


def test_train_split_shard_deterministic_and_balanced(spark, docs):
    a = train_split_shard(docs, n_shards=16, seed=7)
    b = train_split_shard(docs, n_shards=16, seed=7)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    total = docs.count()
    frac = {
        r["split"]: r["n"] / total
        for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    # 90/5/5 within loose binomial bounds at n=50.
    assert 0.7 < frac.get("train", 0) < 1.0
    # Different seed reassigns some documents.
    c = train_split_shard(docs, n_shards=16, seed=8)
    assert a.exceptAll(c).count() > 0


def test_seeded_shuffle_is_permutation_and_deterministic(spark, docs):
    from dataingestionframework_spark.operators.corpus import seeded_shuffle

    out = seeded_shuffle(docs.select("doc_id"), seed=3).cache()
    n = docs.count()
    # dense 0..n-1 permutation
    ranks = [r.shuffle_rank for r in out.select("shuffle_rank").collect()]
    assert sorted(ranks) == list(range(n))
    # deterministic across re-execution
    again = seeded_shuffle(docs.select("doc_id"), seed=3)
    assert out.orderBy("doc_id").collect() == again.orderBy("doc_id").collect()
    # a different seed produces a different order (overwhelmingly likely)
    other = seeded_shuffle(docs.select("doc_id"), seed=4)
    assert out.orderBy("doc_id").collect() != other.orderBy("doc_id").collect()
    out.unpersist()


def test_global_sort_rank_matches_single_partition_sort(spark):
    from dataingestionframework_spark.operators.corpus import global_sort_rank

    df = spark.range(0, 1000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("h")
    )
    got = {r.id: r.rank for r in global_sort_rank(df, "h").collect()}
    expect = {
        r.id: i
        for i, r in enumerate(df.orderBy("h").collect())
    }
    assert got == expect


def test_corpus_diff_statuses(spark):
    from dataingestionframework_spark.operators.corpus import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], "doc_id long, text string"
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_sample_frames_matches_python_reference(spark):
    import hashlib

    from dataingestionframework_spark.operators.multimodal import sample_frames

    rows = [(1, b"x" * 100), (2, b"abcdefgh" * 40), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = sample_frames(df, "payload", frame_bytes=32, stride=2).collect()
    expect = []
    for rid, payload in rows:
        if payload is None:
            continue
        n = (len(payload) + 31) // 32
        for i in range(0, n, 2):
            chunk = payload[i * 32 : (i + 1) * 32]
            expect.append(
                (rid, i, len(chunk), hashlib.md5(chunk.hex().encode()).hexdigest())
            )
    got = sorted((r.doc_id, r.frame_idx, r.frame_size, r.frame_md5) for r in out)
    assert got == sorted(expect)


def test_resize_stub_matches_python_reference(spark):
    import hashlib

    from dataingestionframework_spark.operators.multimodal import resize_stub

    rows = [(1, bytes(range(100))), (2, b"xy"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r.doc_id: (r.orig_size, r.resized_size, r.resized_md5)
        for r in resize_stub(df, "payload", stride=3).collect()
    }
    expect = {}
    for rid, payload in rows:
        if payload is None:
            continue
        resized = payload[::3]
        expect[rid] = (
            len(payload), len(resized),
            hashlib.md5(resized.hex().encode()).hexdigest(),
        )
    assert got == expect


def test_temperature_mix_rates_invariants(spark, docs):
    from dataingestionframework_spark.operators.corpus import temperature_mix_rates

    rates = temperature_mix_rates(docs, alpha=0.5, target_total=60).collect()
    # Weights sum to 1; expected docs sum to the target; rates in (0,1].
    assert abs(sum(r.mix_weight for r in rates) - 1.0) < 1e-6
    assert abs(sum(r.expected_docs for r in rates) - 60) < 1e-2
    assert all(0 < r.sample_rate <= 1.0 for r in rates)
    # alpha=0 is uniform: every group gets the same weight.
    uni = temperature_mix_rates(docs, alpha=0.0).collect()
    ws = {r.mix_weight for r in uni}
    assert len(ws) == 1
    # alpha<1 up-weights the smallest group vs natural frequency.
    nat = {r.group: r.mix_weight for r in temperature_mix_rates(docs, alpha=1.0).collect()}
    half = {r.group: r.mix_weight for r in temperature_mix_rates(docs, alpha=0.5).collect()}
    smallest = min(nat, key=nat.get)
    assert half[smallest] > nat[smallest]


def test_temperature_sample_deterministic_and_subset(spark, docs):
    from dataingestionframework_spark.operators.corpus import temperature_sample

    a = temperature_sample(docs, alpha=0.5, target_total=60, seed=7)
    b = temperature_sample(docs, alpha=0.5, target_total=60, seed=7)
    ids_a = sorted(r.doc_id for r in a.select("doc_id").collect())
    ids_b = sorted(r.doc_id for r in b.select("doc_id").collect())
    assert ids_a == ids_b  # pure function of (seed, id) — no RNG state
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert set(ids_a) <= all_ids
    # A different seed picks a different subset (overwhelmingly likely).
    ids_c = sorted(
        r.doc_id
        for r in temperature_sample(docs, alpha=0.5, target_total=60, seed=8)
        .select("doc_id")
        .collect()
    )
    assert ids_a != ids_c


def test_scrub_pii_redacts_and_counts(spark):
    from dataingestionframework_spark.operators.text import scrub_pii

    rows = [
        (1, "mail bob.smith+x@corp.example.org or 212-555-0143 home"),
        (2, "server at 10.0.42.7 and backup at 192.168.1.250"),
        (3, "no pii here at all"),
        (4, "two mails a@b.io c@d.net one phone 33-444-5555"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r for r in scrub_pii(df, "text").collect()}
    assert got[1].n_email == 1 and got[1].n_phone == 1 and got[1].n_ipv4 == 0
    assert got[1].text == "mail <email> or <phone> home"
    assert got[2].n_ipv4 == 2 and "<ipv4>" in got[2].text
    assert "10.0.42.7" not in got[2].text
    assert got[3].n_redactions == 0 and got[3].text == "no pii here at all"
    assert got[4].n_email == 2 and got[4].n_phone == 1 and got[4].n_redactions == 3


def test_llm_pipeline_composition_end_to_end(spark, tmp_path_factory):
    """The full LLM data-pipeline story composes: streaming intake with
    sink-horizon dedup → incremental LSH index across two batches →
    transitive clustering → token-budget selection → sequence packing →
    deterministic splits. Each hand-off is schema- and id-consistent."""
    import os

    from dataingestionframework_spark.ingest.corpus import corpus_incremental_intake
    from dataingestionframework_spark.operators.bucketing import (
        drop_table_and_location,
    )
    from dataingestionframework_spark.operators.corpus import (
        pack_sequences,
        select_within_token_budget,
        train_split_shard,
    )
    from dataingestionframework_spark.operators.dedup import update_lsh_index_bucketed
    from dataingestionframework_spark.operators.graph import dedup_clusters
    from dataingestionframework_spark.sources.synthetic import (
        SyntheticCorpusDataSource,
    )

    root = str(tmp_path_factory.mktemp("llm_e2e"))
    spark.dataSource.register(SyntheticCorpusDataSource)
    gen = (
        spark.read.format("synthetic_corpus")
        .option("n_docs", 120).option("seed", 5).load()
        .withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    )

    # 1. stream the corpus in (one exact-dup planted across batches)
    src, sink, ckpt = (os.path.join(root, d) for d in ("src", "sink", "ckpt"))
    b1 = gen.filter(F.col("doc_id") < 70)
    b1.write.mode("append").parquet(src)
    st = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    corpus_incremental_intake(st, sink, ckpt).awaitTermination(120)

    dup_of_3 = gen.filter(F.col("doc_id") == 3).withColumn(
        "doc_id", F.col("doc_id") + 5000
    )
    gen.filter((F.col("doc_id") >= 70)).union(dup_of_3).write.mode("append").parquet(src)
    st2 = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    corpus_incremental_intake(st2, sink, ckpt).awaitTermination(120)

    corpus = spark.read.parquet(sink).drop("_fp")
    assert corpus.count() == 120  # exact dup never re-entered

    # 2. incremental near-dup index over the two intake halves
    index = "dif_test_llm_e2e_lsh_idx"
    drop_table_and_location(spark, index)
    half1 = corpus.filter(F.col("doc_id") < 70)
    half2 = corpus.filter(F.col("doc_id") >= 70)
    pairs = update_lsh_index_bucketed(half1, spark, index).union(
        update_lsh_index_bucketed(half2, spark, index)
    )
    # both candidate frames are pinned: nothing below reads the index
    drop_table_and_location(spark, index)

    # 3. transitive clustering → canonical keep-set
    clusters = dedup_clusters(corpus, pairs)
    keep = corpus.join(
        clusters.filter(F.col("doc_id") == F.col("canonical_id")).select("doc_id"),
        "doc_id",
    )
    assert keep.count() <= 120

    # 4. budget selection → packing → splits, ids consistent throughout
    picked = select_within_token_budget(keep, budget_tokens=1500)
    picked_docs = keep.join(picked.select("doc_id"), "doc_id")
    packed = pack_sequences(picked_docs, seq_len=64)
    splits = train_split_shard(picked_docs, n_shards=8)

    picked_ids = {r.doc_id for r in picked.collect()}
    assert picked_ids  # budget admits something
    assert {r.doc_id for r in packed.select("doc_id").distinct().collect()} <= picked_ids
    assert {r.doc_id for r in splits.collect()} == picked_ids
    assert set(r.split for r in splits.collect()) <= {"train", "val", "test"}


def test_cap_per_group_cap_and_determinism(spark, docs):
    from dataingestionframework_spark.operators.corpus import cap_per_group

    capped = cap_per_group(docs, group_col="source", cap=7).cache()
    per_group = capped.groupBy("source").count().collect()
    assert per_group and all(r["count"] <= 7 for r in per_group)
    # groups with >= 7 docs are filled to exactly the cap
    sizes = {r["source"]: r["cnt"] for r in
             docs.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    for r in per_group:
        assert r["count"] == min(7, sizes[r["source"]])
    # deterministic: second run picks the identical id set
    again = cap_per_group(docs, group_col="source", cap=7)
    assert capped.select("doc_id").exceptAll(again.select("doc_id")).count() == 0
    capped.unpersist()


def test_remove_duplicate_segments_line_mode_and_reassembly(spark):
    from dataingestionframework_spark.operators.text import (
        remove_duplicate_segments,
    )

    rows = [
        (1, "unique prose one\nCOOKIE BANNER\nmore unique prose"),
        (2, "cookie banner\nsecond doc body"),
        (3, "third doc text\nCookie Banner \nthird doc tail"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = remove_duplicate_segments(
        df, delim="\n", max_docs=2
    ).orderBy("doc_id").collect()
    # normalized "cookie banner" appears in 3 docs -> dropped everywhere
    assert [r["dropped_segments"] for r in out] == [1, 1, 1]
    assert out[0]["clean_text"] == "unique prose one\nmore unique prose"
    assert out[1]["clean_text"] == "second doc body"
    assert out[2]["clean_text"] == "third doc text\nthird doc tail"
    # a doc that is ALL boilerplate keeps its row with empty clean_text
    df2 = spark.createDataFrame(
        [(1, "only banner"), (2, "only banner"), (3, "only banner")],
        ["doc_id", "text"],
    )
    out2 = remove_duplicate_segments(df2, delim="\n", max_docs=2).collect()
    assert all(r["clean_text"] == "" and r["kept_segments"] == 0 for r in out2)


def test_gopher_quality_flags_rules(spark):
    from dataingestionframework_spark.operators.text import (
        GOPHER_REQUIRED_WORDS,
        gopher_quality_flags,
    )

    prose = (
        "the quick brown fox jumps over that lazy dog and runs off to "
        "be with the pack of hounds that have gathered near the river "
        "bank with great enthusiasm while the sun sets slowly behind "
        "distant hills and evening light fades into a calm night that "
        "wraps the whole valley in stillness and quiet sounds of water"
    )
    bullets = "\n".join(f"- item {i} of the listing to be had" for i in range(10))
    salad = "zz qq ww ee rr tt yy uu ii oo pp " * 10
    symbols = ("the code ### uses ### many ### hashes " + "tag# " * 60).strip()
    df = spark.createDataFrame(
        [(1, prose), (2, bullets), (3, salad), (4, symbols)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in gopher_quality_flags(df, min_words=40).collect()
    }
    assert out[1]["pass_gopher"]
    assert out[1]["required_hits"] >= 2
    # bullet-heavy doc fails the line-shape rule specifically
    assert out[2]["bullet_line_frac"] == 1.0 and not out[2]["ok_line_shape"]
    # word salad has none of the 8 required words
    assert out[3]["required_hits"] == 0 and not out[3]["ok_required_words"]
    # hash-riddled doc fails the symbol-ratio rule
    assert out[4]["symbol_ratio"] > 0.1 and not out[4]["ok_symbol_ratio"]
    assert set(GOPHER_REQUIRED_WORDS) >= {"the", "and", "that"}


def test_c4_line_filter_real_lines(spark):
    from dataingestionframework_spark.operators.text import c4_line_filter

    doc1 = (
        "This is a complete sentence with enough words.\n"
        "too short.\n"
        "Menu Home About Contact\n"
        "Another proper sentence follows right here today.\n"
        "And a third full sentence closes the document nicely."
    )
    doc2 = "Lorem ipsum dolor sit amet and more filler text here.\nOk."
    df = spark.createDataFrame([(1, doc1), (2, doc2)], ["doc_id", "text"])
    out = c4_line_filter(
        df, delim="\n", min_words=5, require_terminal_punct=True,
        blocklist=("lorem ipsum",), min_kept_segments=2,
    ).collect()
    # doc2: its only long line is blocklisted, "Ok." is too short -> doc dropped
    assert [r["doc_id"] for r in out] == [1]
    r = out[0]
    # "too short." fails min_words; "Menu Home About Contact" lacks punctuation
    assert r["n_segments"] == 5 and r["kept_segments"] == 3
    assert r["clean_text"].count("\n") == 2
    assert "Menu Home" not in r["clean_text"]


def test_weighted_sample_biases_toward_heavy_rows(spark):
    from dataingestionframework_spark.operators.corpus import weighted_sample

    rows = [(i, 100.0 if i < 50 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = weighted_sample(df, weight_col="w", k=100, seed=7)
    ids = [r.doc_id for r in got.collect()]
    assert len(ids) == 100 and len(set(ids)) == 100
    # the 50 weight-100 rows are ~100x likelier per unit than the rest;
    # essentially all of them make a top-100 cut over 1000 rows
    heavy = sum(1 for i in ids if i < 50)
    assert heavy >= 40
    # reproducible: same seed -> same set; different seed -> different set
    again = {r.doc_id for r in weighted_sample(df, "w", 100, seed=7).collect()}
    assert again == set(ids)
    other = {r.doc_id for r in weighted_sample(df, "w", 100, seed=8).collect()}
    assert other != set(ids)


def test_hashed_linear_score_deterministic_and_bounded(spark):
    from dataingestionframework_spark.operators.text import hashed_linear_score

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in hashed_linear_score(df).collect()}
    assert out[1].score == out[2].score  # pure function of text
    assert all(0.0 <= r.score <= 1.0 for r in out.values())
    assert out[1].n_tokens == 3 and out[3].n_tokens == 1


def test_bm25_ranks_term_dense_docs_first(spark):
    from dataingestionframework_spark.operators.retrieval import bm25_topk

    rows = [
        (1, "spark spark spark fast engine"),
        (2, "spark is one word here among many other words today"),
        (3, "nothing relevant at all in this document"),
        (4, "spark spark distributed"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = bm25_topk(df, ["spark"], k=3).collect()
    assert [r.doc_id for r in got][:2] == [1, 4]  # tf-dense and short win
    assert got[0].score > got[1].score > got[2].score
    assert all(r.doc_id != 3 for r in got) or got[-1].score == 0.0


def test_inverted_index_postings_sorted_and_counted(spark):
    from dataingestionframework_spark.operators.retrieval import (
        build_inverted_index,
    )

    df = spark.createDataFrame(
        [(2, "b a b"), (1, "a b a")], ["doc_id", "text"]
    )
    idx = {r.term: r for r in build_inverted_index(df).collect()}
    assert idx["a"].df == 2 and idx["b"].df == 2
    assert [(p.doc, p.tf) for p in idx["a"].postings] == [(1, 2), (2, 1)]
    assert [(p.doc, p.tf) for p in idx["b"].postings] == [(1, 1), (2, 2)]
    assert build_inverted_index(df, min_df=3).count() == 0


def test_hashed_embedding_unit_norm_and_similarity(spark):
    """Feature-hashing embeddings: unit L2 norm per doc; identical texts
    map to identical vectors; disjoint vocabularies are (near-)
    orthogonal by construction (different buckets)."""
    from dataingestionframework_spark.operators.retrieval import hashed_embedding

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "epsilon zeta eta theta"),
        ],
        ["doc_id", "text"],
    )
    rows = hashed_embedding(df, dim=16).collect()
    vecs = {}
    for r in rows:
        vecs.setdefault(r.id, {})[r.dim] = r.value
    for vid, v in vecs.items():
        assert abs(sum(x * x for x in v.values()) - 1.0) < 1e-6, vid
    assert vecs[1] == vecs[2]
    dot13 = sum(vecs[1].get(d, 0.0) * vecs[3].get(d, 0.0) for d in range(16))
    assert abs(dot13) < 1.0  # distinct vocab: not the identical vector


def test_corpus_prep_spec_from_json(spark):
    import pytest as _pytest

    from dataingestionframework_spark.errors import SpecValidationError
    from dataingestionframework_spark.ingest.corpus import CorpusPrepSpec

    s = CorpusPrepSpec.from_json(
        {"min_quality": 0.4, "dedup": "minhash", "chunk_size": 40}
    )
    assert s.dedup == "minhash" and s.chunk_size == 40
    with _pytest.raises(SpecValidationError):
        CorpusPrepSpec.from_json({"dedup": "fuzzy"})
    with _pytest.raises(SpecValidationError):
        CorpusPrepSpec.from_json({"dedupe": "exact"})  # typo'd key
    with _pytest.raises(SpecValidationError):
        CorpusPrepSpec.from_json({"mix_alpha": -1.0})


def test_bigram_lm_score_separates_typical_from_noise(spark):
    from dataingestionframework_spark.operators.text import bigram_lm_score

    common = "the cat sat on the mat"
    rows = [(i, common) for i in range(8)] + [(99, "zq xv jk pw qa lz")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.id: r.lm_score for r in bigram_lm_score(df).collect()}
    # repeated prose bigrams dominate the corpus -> high (less negative)
    # score; the noise doc's bigrams are singletons -> much lower
    assert got[0] == got[7]             # identical docs, identical score
    assert got[0] > got[99] + 0.5
    n = {r.id: r.n_bigrams for r in bigram_lm_score(df).collect()}
    assert n[0] == 5 and n[99] == 5


def test_bigram_lm_score_survives_short_and_empty_docs(spark):
    """Docs with <2 tokens must not kill the job (ANSI element_at on an
    empty/1-token array is a runtime error) — they produce no bigrams
    and are absent from the output, matching the DuckDB oracle."""
    from dataingestionframework_spark.operators.text import bigram_lm_score

    rows = [
        (1, "the cat sat on the mat"),
        (2, ""),            # empty doc
        (3, "hello"),       # single token
        (4, "   "),         # whitespace only
        (5, "the cat sat"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.id: r.n_bigrams for r in bigram_lm_score(df).collect()}
    assert set(got) == {1, 5}           # short docs dropped, not crashed
    assert got[1] == 5 and got[5] == 2


def test_remove_duplicate_spans_unaligned_repeat(spark):
    """Sliding-window substring dedup: a 10-token passage shared at
    DIFFERENT offsets in two docs (which aligned segment dedup misses)
    is removed from both; unique surroundings survive; short docs pass
    through untouched."""
    from dataingestionframework_spark.operators.text import (
        remove_duplicate_spans,
    )

    passage = "the quick brown fox jumps over the lazy sleeping dog"  # 10 toks
    rows = [
        (1, "intro words here " + passage + " tail one"),
        (2, "a completely different and longer leading preamble "
            + passage + " other ending"),
        (3, "totally unique document with no shared windows at all ok"),
        (4, "tiny doc"),  # < k tokens: untouched
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.id: r for r in remove_duplicate_spans(df, k=8, min_docs=2).collect()}

    assert set(out) == {1, 2, 3, 4}
    # the shared passage is gone from both docs, at either offset
    for i in (1, 2):
        assert "quick brown fox" not in out[i].clean_text
        assert out[i].n_removed >= 10
    # unique surroundings survive
    assert "intro words here" in out[1].clean_text
    assert "other ending" in out[2].clean_text
    # untouched docs
    assert out[3].n_removed == 0 and out[3].clean_text.startswith("totally")
    assert out[4].n_removed == 0 and out[4].clean_text == "tiny doc"


def test_remove_duplicate_spans_hash_grams_equivalent(spark):
    """hash_grams=True (8-byte shuffle keys, the 100 TB config) produces
    byte-identical output to the string-gram reference on a real corpus
    slice with planted overlaps."""
    from dataingestionframework_spark.operators.text import (
        remove_duplicate_spans,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
    passage = " shared passage tokens one two three four five six seven eight"
    extra = spark.createDataFrame(
        [(9001, "left context" + passage), (9002, "other start" + passage + " tail")],
        ["doc_id", "text"],
    )
    df = docs.select("doc_id", "text").unionByName(extra)

    a = {r.id: (r.n_tokens, r.n_removed, r.clean_text)
         for r in remove_duplicate_spans(df, k=8).collect()}
    b = {r.id: (r.n_tokens, r.n_removed, r.clean_text)
         for r in remove_duplicate_spans(df, k=8, hash_grams=True).collect()}
    assert a == b
    assert a[9001][1] >= 8  # the planted overlap was actually removed


def test_bigram_lm_persisted_model_serves_and_generalizes(spark):
    """save_bigram_lm + bigram_lm_score_with: (1) scoring the training
    corpus through the persisted bucketed tables equals the in-plan
    scorer exactly; (2) a NEW doc with unseen bigrams scores via the
    add-k fallback (lower than typical corpus prose, no crash); (3) the
    serving joins leave the bucketed model tables unshuffled."""
    from dataingestionframework_spark.operators.bucketing import (
        drop_table_and_location,
    )
    from dataingestionframework_spark.operators.text import (
        bigram_lm_score,
        bigram_lm_score_with,
        save_bigram_lm,
    )

    common = "the cat sat on the mat"
    rows = [(i, common) for i in range(8)] + [(99, "zq xv jk pw qa lz")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    prefix = "dif_test_bigram_lm"
    try:
        save_bigram_lm(df, spark, prefix)
        served = {r.id: (r.n_bigrams, r.lm_score)
                  for r in bigram_lm_score_with(df, spark, prefix).collect()}
        inplan = {r.id: (r.n_bigrams, r.lm_score)
                  for r in bigram_lm_score(df).collect()}
        assert served == inplan

        novel = spark.createDataFrame(
            [(500, "the cat sat on the mat", ),       # all seen bigrams
             (501, "completely novel words never seen before anywhere")],
            ["doc_id", "text"],
        )
        out = {r.id: r for r in bigram_lm_score_with(novel, spark, prefix).collect()}
        assert out[500].lm_score == inplan[0][1]       # seen doc scores as trained
        assert out[501].n_bigrams == 6
        assert out[501].lm_score < out[500].lm_score   # unseen -> low, not crash

        # model side never reshuffles: only Exchanges in the serving plan
        # are on the batch's gram rows, none above the bucketed scans
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = (
                bigram_lm_score_with(novel, spark, prefix)
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        drop_table_and_location(spark, f"{prefix}_c12")
        drop_table_and_location(spark, f"{prefix}_c1")


def test_bpe_train_matches_reference_trainer(spark):
    """Distributed BPE trainer vs a pure-Python reference (same
    weighted pair counting on the word-frequency table, same
    (count DESC, pair ASC) tie-break, same left-to-right
    non-overlapping merge application): merge tables must be
    identical, and encoding with the learned table compresses the
    training corpus."""
    from collections import Counter

    from dataingestionframework_spark.operators.text import (
        bpe_encode,
        bpe_train,
    )

    texts = [
        "low lower lowest low low",
        "new newer newest new new",
        "wide wider widest low new",
        "low new lower newer",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )

    def reference(words: Counter, n: int):
        vocab = {w: list(w) for w in words}
        merges = []
        for _ in range(n):
            pairs: Counter = Counter()
            for w, cnt in words.items():
                syms = vocab[w]
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += cnt
            if not pairs:
                break
            best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            if best[1] < 2:
                break
            (p1, p2) = best[0]
            merges.append((p1, p2))
            for w, syms in vocab.items():
                out = []
                for sym in syms:
                    if out and out[-1] == p1 and sym == p2:
                        out[-1] = p1 + p2
                    else:
                        out.append(sym)
                vocab[w] = out
        return merges

    words = Counter(w for t in texts for w in t.split())
    exp = reference(words, 10)
    got = bpe_train(df, n_merges=10)
    assert got == exp and len(got) == 10

    enc = {r.doc_id: r.n_tokens for r in bpe_encode(df, got).collect()}
    # learned merges compress: fewer tokens than characters
    chars = {i: sum(len(w) for w in t.split()) for i, t in enumerate(texts)}
    assert all(enc[i] < chars[i] for i in enc)
