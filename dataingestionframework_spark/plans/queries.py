"""Driver-contract queries: one entry per operator family from SURVEY §2
plus the LLM-pipeline extensions. Each callable takes (spark, sf_dir) and
returns a DataFrame whose column names/values match the DuckDB oracle in
``oracles.py`` exactly (aggregates rounded in both engines so float
accumulation order can't flip the hash).
"""

from __future__ import annotations

import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import tune
from .tables import load, register_test_tables


def _t(spark, sf_dir):
    tune(spark)
    return lambda name: load(spark, sf_dir, name)


# Per-process suffix for gate-persisted warehouse tables: two
# concurrent sessions on one checkout (e.g. tools/check_oracle.py and
# pytest's plan audit) must not race on drop/recreate of shared fixed
# names. Tables this process created are best-effort dropped at exit
# so warehouse dirs don't accumulate across runs.
_SESSION_TOKEN = __import__("uuid").uuid4().hex[:8]
_GATE_TABLES: set[str] = set()


def _gate_name(base: str) -> str:
    name = f"{base}_{_SESSION_TOKEN}"
    _GATE_TABLES.add(name)
    return name


# Fitted-model cache (IVF centroids / PQ codebooks) — PROCESS-scoped.
# Fit-once-persist-reuse is these operators' documented production
# shape (the fit is a build step; serving loads the model), but the
# earlier cache lived in /tmp keyed only on the sf_dir, so one bench/
# oracle invocation could serve the NEXT invocation's fit precomputed —
# result caching across runs, not optimization. A fresh mkdtemp per
# process means every invocation fits from the parquet inputs before
# any serving; atexit removes the directory.
_MODEL_DIR: str | None = None
_MODEL_DIR_LOCK = __import__("threading").Lock()


def _model_path(tag: str) -> str:
    global _MODEL_DIR
    with _MODEL_DIR_LOCK:  # two concurrent first calls must share ONE dir
        if _MODEL_DIR is None:
            import shutil

            _MODEL_DIR = tempfile.mkdtemp(prefix="dif_models_")
            __import__("atexit").register(
                lambda d=_MODEL_DIR: shutil.rmtree(d, ignore_errors=True)
            )
    import hashlib

    return os.path.join(
        _MODEL_DIR, hashlib.sha1(tag.encode()).hexdigest() + ".json"
    )


def _model_diag(tag: str, warm: bool, secs: float | None = None) -> None:
    """One stderr line per model-backed query: whether this invocation
    FIT the model (cold, with the fit wall time) or SERVED a model fit
    earlier in this process — so bench medians that discard run 1
    cannot be mistaken for cold-path cost (round-10 verdict §8)."""
    import sys

    if warm:
        print(
            f"# model {tag}: serve (warm — fit paid earlier in this process)",
            file=sys.stderr,
        )
    else:
        print(
            f"# model {tag}: fit {secs:.3f}s (cold; later runs in this "
            "process serve it)",
            file=sys.stderr,
        )


def _drop_gate_tables() -> None:  # pragma: no cover — exit-time path
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            return
        from ..operators.bucketing import drop_table_and_location

        for name in list(_GATE_TABLES):
            drop_table_and_location(spark, name)
    except Exception:  # noqa: BLE001 — interpreter/JVM may be mid-teardown
        return


__import__("atexit").register(_drop_gate_tables)


# ---------------------------------------------------------------------------
# Relational core (SURVEY §2.3-2.9)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4/F7: wide aggregation — groupBy two keys, 8 aggregates."""
    t = _t(spark, sf_dir)
    l = t("lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 3-way join + filter + agg + deterministic top-k."""
    t = _t(spark, sf_dir)
    c, o, l = t("customer"), t("orders"), t("lineitem")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter((F.col("o_orderdate") < cutoff) & (F.col("l_shipdate") > cutoff))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way join through the star schema; small dims broadcast."""
    t = _t(spark, sf_dir)
    return (
        t("customer")
        .join(t("orders"), F.col("c_custkey") == F.col("o_custkey"))
        .join(t("lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            t("supplier"),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t("nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t("region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 equi-join with explicit broadcast of the dimension side."""
    t = _t(spark, sf_dir)
    return (
        t("orders")
        .join(F.broadcast(t("customer")), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def range_join_ship_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 range/theta join: equi key + BETWEEN on timestamps."""
    t = _t(spark, sf_dir)
    o, l = t("orders"), t("lineitem")
    return (
        o.join(
            l,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & F.col("l_shipdate").between(
                F.col("o_orderdate"), F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ),
        )
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("n_lines_60d"))
    )


def window_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 window functions: top-1 per group with deterministic ties."""
    from ..operators.windows import top_per_group

    t = _t(spark, sf_dir)
    top = top_per_group(t("orders"), ["o_custkey"], "o_totalprice", k=1, tiebreak="o_orderkey")
    return top.select("o_custkey", "o_orderkey", "o_totalprice")


def conditional_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 idiomatic replacement: conditional aggregation instead of
    union+group-by pivot."""
    t = _t(spark, sf_dir)
    e = t("events")
    return e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("last_signup_ts"),
        F.round(
            F.coalesce(F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))), F.lit(0.0)),
            2,
        ).alias("purchase_value"),
        F.count(F.when(F.col("event_type") == "error", F.lit(1))).alias("n_errors"),
    )


def union_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 deduplicating UNION across branches."""
    t = _t(spark, sf_dir)
    a = t("customer").select(F.col("c_nationkey").alias("nationkey"))
    b = t("supplier").select(F.col("s_nationkey").alias("nationkey"))
    return a.union(b).distinct()


def scalar_string_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F7: concat/substring/trim/lower/CASE/CAST/coalesce."""
    t = _t(spark, sf_dir)
    return (
        t("nation")
        .join(F.broadcast(t("region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "n_nationkey",
            F.concat(F.col("n_name"), F.lit("-"), F.col("r_name")).alias("nation_region"),
            F.substring("n_name", 1, 3).alias("prefix3"),
            F.lower("n_name").alias("lower_name"),
            F.trim(F.concat(F.lit("  "), F.col("n_name"), F.lit("  "))).alias("trimmed"),
            F.when(F.col("n_nationkey") < 10, "low").otherwise("high").alias("bucket"),
            F.coalesce(F.lit(None).cast("string"), F.col("r_name")).alias("coalesced"),
            F.col("n_nationkey").cast("bigint").alias("key_bigint"),
        )
    )


def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8-F13 date/time family."""
    t = _t(spark, sf_dir)
    epoch0 = F.unix_timestamp(F.lit("1995-01-01").cast("timestamp"))
    return (
        t("orders")
        .filter(F.col("o_orderkey") < 200)
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.dayofmonth("o_orderdate").alias("order_day"),
            F.date_format("o_orderdate", "yyyy/MM/dd").alias("formatted"),
            (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("plus_90d"),
            F.expr("timestampadd(SECOND, 600, o_orderdate)").alias("plus_600s"),
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
                "days_since_epoch0"
            ),
            F.floor((F.unix_timestamp("o_orderdate") - epoch0) / 60).cast("bigint").alias(
                "minutes_since_epoch0"
            ),
        )
    )


def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2 + top-k (TakeOrderedAndProject, no global sort)."""
    t = _t(spark, sf_dir)
    return (
        t("orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


def agg_scalar_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: scalar MAX/MIN + COALESCE guard + COUNT DISTINCT."""
    t = _t(spark, sf_dir)
    return t("orders").agg(
        F.coalesce(F.max("o_orderkey"), F.lit(0)).alias("max_key"),
        F.min("o_orderdate").alias("first_order"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


def distinct_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 distinct()."""
    t = _t(spark, sf_dir)
    return t("lineitem").select("l_returnflag", "l_linestatus").distinct()


def anti_join_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS)."""
    t = _t(spark, sf_dir)
    return (
        t("customer")
        .join(t("orders"), F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


def semi_join_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS)."""
    t = _t(spark, sf_dir)
    return (
        t("customer")
        .join(t("orders"), F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_nationkey")
    )


def filter_like_in_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P9 predicates: IN, LIKE, BETWEEN — all pushed to the scan."""
    t = _t(spark, sf_dir)
    return (
        t("orders")
        .filter(
            F.col("o_orderstatus").isin("F", "O")
            & F.col("o_orderpriority").like("1-%")
            & F.col("o_totalprice").between(1000, 50000)
        )
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )


def pii_mask_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 PII masking: redact + deterministic hash pseudonym."""
    from ..ingest.masking import mask_columns

    t = _t(spark, sf_dir)
    c = t("customer").select(
        "c_custkey",
        "c_name",
        F.sha2(F.col("c_mktsegment"), 256).alias("c_mktsegment_hash"),
    )
    return mask_columns(c, ["c_name"], "redact")


# ---------------------------------------------------------------------------
# LLM-pipeline extensions (SURVEY §7/M7)
# ---------------------------------------------------------------------------


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_duplicates

    t = _t(spark, sf_dir)
    return exact_duplicates(t("documents"))


def ngram_jaccard_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs (bounded all-pairs verifier)."""
    from ..operators.dedup import ngram_jaccard_pairs

    t = _t(spark, sf_dir)
    return ngram_jaccard_pairs(t("documents"), n=3, threshold=0.3, max_id=200)


def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates → exact-Jaccard verify. Oracled: the
    DuckDB twin computes exact all-pairs word-3-gram Jaccard and keeps
    pairs ≥ threshold, so banding recall AND the verifier math are both
    hash-checked against ground truth."""
    from ..operators.dedup import near_duplicates_minhash

    t = _t(spark, sf_dir)
    return near_duplicates_minhash(t("documents"), threshold=0.3)


def blocklist_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-blocklist screening (operators.text.blocklist_filter):
    word-boundary hit counts for a stand-in policy list, computed with
    an engine-proof replace-count contract (tokenize on [^a-z0-9]+,
    no \\b regex) — the cheap first gate before model-based content
    filters. Scan-only, zero shuffles before the final groupBy; the
    thousand-term lexicon scale path is blocklist_lexicon_docs, and
    test_blocklist_replace_count_equals_lexicon_join pins the two
    mechanisms equal on this very corpus+list. (Rounds 4-6 driver
    hash-fails on this query were an oracle output-type bug — DuckDB
    HUGEINT vs Spark bigint — fixed in plans/oracles._OUTPUT_CASTS,
    not a mechanism bug; the round-6 mechanism swap is reverted.)
    Aggregated to (lang, n_docs, n_passing, total_hits)."""
    from ..operators.text import blocklist_filter

    tune(spark)
    t = _t(spark, sf_dir)
    out = blocklist_filter(
        t("documents"), ["merge", "window sort"], max_hits=2
    )
    return out.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("blocklist_pass").cast("long")).alias("n_passing"),
        F.sum("n_blocked_hits").alias("total_hits"),
    )


def cms_frequency_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries (operators.sketches): order
    counts per customer estimated from a 4×1024 sketch vs exact truth.
    The sketch's portable md5 hashing lets the oracle REBUILD the
    identical sketch in SQL — even collisions hash-match — and the
    one-sided bound (est ≥ true) is visible in the overestimate
    column. The sketch table is additively mergeable (pytest proves
    shard-merge = one-shot), which is the 100 TB rollup story."""
    from ..operators.sketches import cms_build, cms_estimate

    tune(spark)
    t = _t(spark, sf_dir)
    occ = t("orders").select(F.col("o_custkey").alias("custkey"))
    sketch = cms_build(occ, "custkey")
    keys = t("customer").select(
        F.col("c_custkey").alias("custkey")
    ).filter(F.col("custkey") < 20)
    est = cms_estimate(sketch, keys, "custkey")
    true = occ.groupBy("custkey").agg(F.count("*").alias("true_cnt"))
    return (
        est.join(true, "custkey", "left")
        .select(
            "custkey",
            "est_cnt",
            F.coalesce("true_cnt", F.lit(0)).alias("true_cnt"),
            (F.col("est_cnt") - F.coalesce("true_cnt", F.lit(0))).alias(
                "overestimate"
            ),
        )
    )


def warc_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion under the hash gate: serialize documents into 8
    genuine multi-record WARC/1.0 file images in-plan (version line,
    headers, Content-Length, length-delimited payload), then parse them
    back with sources.warc.warc_parse — a real length-driven parser,
    not split-on-separator, so payloads containing the record separator
    cannot break framing. The oracle recomputes every record field
    directly from the documents table: equality proves parse∘build = id
    on the container format web-crawl corpora actually arrive in."""
    from ..sources.warc import warc_parse

    tune(spark)
    t = _t(spark, sf_dir)
    docs = t("documents").select("doc_id", "text").filter(F.col("doc_id") < 240)
    did = F.col("doc_id")
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:corpus:"),
        did.cast("string"),
        F.lit(">\r\nWARC-Target-URI: http://corpus.local/doc/"),
        did.cast("string"),
        F.lit("\r\nWARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: "),
        F.octet_length("text").cast("string"),
        F.lit("\r\n\r\n"),
        F.col("text"),
        F.lit("\r\n\r\n"),
    )
    files = (
        docs.select(F.pmod(did, 8).alias("f"), F.struct(did.alias("i"), rec.alias("r")).alias("s"))
        .groupBy("f")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")), lambda s: s["r"]),
                "",
            )
            .cast("binary")
            .alias("content")
        )
    )
    return warc_parse(files).select(
        "warc_type", "record_id", "target_uri", "content_length", "text"
    )


def hard_negatives_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators.similarity.hard_negative_mining)
    for the first 20 vectors: top-3 most-similar DIFFERENT-label
    vectors — the contrastive-training negatives closest to the
    decision boundary. Same-label columns are masked to −inf inside the
    BLAS scoring pass, so positives never crowd out negatives and the
    exact all-pairs oracle (label-filtered rank) hash-matches."""
    from ..operators.similarity import hard_negative_mining

    tune(spark)
    t = _t(spark, sf_dir)
    emb = t("embeddings")
    return hard_negative_mining(
        emb, emb.filter(F.col("vec_id") < 20), k=3
    )


def mmr_rerank_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity rerank (operators.similarity.mmr_rerank —
    Carbonell & Goldstein greedy maximal-marginal-relevance): 5 query
    vectors, a 30-vector ANN-style candidate pool each (relevance =
    6dp cosine from knn_join_brute, the pool broadcast once), k=4
    diversified picks at lam=0.7. The greedy selection is
    deterministic (9dp score rounding, ties by lowest cand_id), so the
    DuckDB twin unrolls the 4 picks as list-state CTE steps — the same
    proof pattern as pagerank's unrolled iterations."""
    from ..operators.similarity import knn_join_brute, mmr_rerank

    tune(spark)
    t = _t(spark, sf_dir)
    emb = t("embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    pool = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 130))
    rel = knn_join_brute(q, pool, k=30).select(
        F.col("left_id").alias("query_id"),
        F.col("right_id").alias("cand_id"),
        F.col("cosine_sim").alias("relevance"),
    )
    cand = rel.join(
        pool.select(F.col("vec_id").alias("cand_id"), "embedding"), "cand_id"
    )
    return mmr_rerank(cand, k=4, lam=0.7)


def margin_bitext_mine_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (operators.similarity.
    margin_bitext_mine — the LASER/CCMatrix ratio-margin recipe) with
    even-id vectors as the source pool and odd-id vectors as the
    target pool: each source's best target by cos/(local-scale)
    margin, plus the mutual-best flag. Two broadcast BLAS kNN passes +
    windows; the oracle recomputes the identical margin from all-pairs
    cosine in SQL."""
    from ..operators.similarity import margin_bitext_mine

    tune(spark)
    t = _t(spark, sf_dir)
    emb = t("embeddings")
    return margin_bitext_mine(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k_margin=4,
    )


def fim_transform_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle pretraining transform (operators.corpus.
    fim_transform): every document deterministically cut into
    prefix/middle/suffix and re-emitted in PSM layout
    (``<PRE>p<SUF>s<MID>m``) — the infilling augmentation code corpora
    get before tokenization. Cut points are portable md5 arithmetic,
    so the oracle rebuilds the exact strings; pure scan-side
    expressions, zero shuffles."""
    from ..operators.corpus import fim_transform

    tune(spark)
    t = _t(spark, sf_dir)
    return fim_transform(t("documents")).select(
        "doc_id", "cut_a", "cut_b", "fim_text"
    )


def source_overlap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix (operators.corpus.
    source_overlap): exact word-3-gram Jaccard between every pair of
    the corpus's sources — the audit for one subset republishing
    another before both are mixed as if independent. Grams explode
    once, the pair join keys on the gram (fan-out bounded by sources
    per gram), sizes broadcast back; the oracle recomputes the matrix
    from the same distinct gram sets."""
    from ..operators.corpus import source_overlap

    tune(spark)
    t = _t(spark, sf_dir)
    return source_overlap(t("documents"))


def psi_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring (operators.profile.psi_drift):
    Population Stability Index of the event value distribution,
    first half of January as the reference window vs the rest as the
    current window — per-bucket proportions and signed PSI terms over
    a static 10-bucket spine (empty buckets included). Two linear
    bucket-count aggregates + a 1-row totals broadcast; no global
    sort."""
    from ..operators.profile import psi_drift

    tune(spark)
    t = _t(spark, sf_dir)
    ev = t("events")
    cut = F.lit("2024-01-16").cast("timestamp")
    return psi_drift(
        ev.filter(F.col("ts") < cut),
        ev.filter(F.col("ts") >= cut),
        "value",
        lo=0.0,
        hi=500.0,
        n_buckets=10,
    )


def embedding_gram_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed centered scatter matrix (operators.similarity.
    embedding_gram) — the PCA/whitening input SemDeDup-style pipelines
    compute before clustering. One linear pass: each Arrow batch emits
    a d×d BLAS partial, partials merge in a d²-key groupBy (map-side
    combine; row data never shuffles). Upper triangle at 4dp; the
    oracle recomputes Σ(x−μ)(x−μ)ᵀ directly from unnested positions,
    proving the one-pass ΣxxᵀN−(Σx)(Σx)ᵀ/N identity was applied
    correctly."""
    from ..operators.similarity import embedding_gram

    tune(spark)
    t = _t(spark, sf_dir)
    g = embedding_gram(t("embeddings"), center=True)
    return g.filter(F.col("i") <= F.col("j")).select(
        "i", "j", F.round("val", 4).alias("val")
    )


def pcm_decode_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode under the hash gate: per doc, synthesize a
    genuine 44-byte-header WAV whose 16-bit LE PCM samples derive from
    doc_id (integer LCG, two's-complement packed), then decode with
    ``decode_pcm16`` — numpy.frombuffer over Arrow batches, an actual
    PCM decoder, not a stub. Output stats are integer-exact, so the
    oracle regenerates the sample series arithmetically and the hash
    match proves decode∘build = id on a real container layout."""
    from ..operators.multimodal import decode_pcm16

    tune(spark)
    t = _t(spark, sf_dir)
    return decode_pcm16(_wav_fixture(t))


def _wav_fixture(t) -> DataFrame:
    """Per-doc genuine 44-byte-header WAV payloads whose 16-bit LE PCM
    samples derive from doc_id (integer LCG) — shared by the PCM
    decode and energy-segmentation gate queries; the matching oracles
    regenerate the identical series arithmetically."""
    d = t("documents").select("doc_id").filter(F.col("doc_id") < 200)
    did = F.col("doc_id")
    n = (F.pmod(did, 64) + 64).cast("int")

    def le_hex(col, nbytes):
        return F.concat(
            *[
                F.lpad(
                    F.hex(F.shiftright(col, 8 * k).bitwiseAND(F.lit(255))),
                    2,
                    "0",
                )
                for k in range(nbytes)
            ]
        )

    header_hex = F.concat(
        F.lit("52494646"),                   # RIFF
        le_hex(F.lit(36) + n * 2, 4),        # chunk size
        F.lit("57415645666D7420"),           # WAVE + 'fmt '
        le_hex(F.lit(16), 4),                # fmt chunk size
        le_hex(F.lit(1), 2),                 # PCM
        le_hex(F.lit(1), 2),                 # mono
        le_hex(F.lit(16000), 4),             # sample rate
        le_hex(F.lit(32000), 4),             # byte rate
        le_hex(F.lit(2), 2),                 # block align
        le_hex(F.lit(16), 2),                # bits/sample
        F.lit("64617461"),                   # 'data'
        le_hex(n * 2, 4),                    # data size
    )
    samples_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: le_hex(
                F.pmod(
                    F.pmod(did * 31 + i * 17, 4096) - 2048 + 65536,
                    65536,
                ),
                2,
            ),
        ),
        "",
    )
    return d.select(
        "doc_id", F.unhex(F.concat(header_hex, samples_hex)).alias("payload")
    )


def pcm_energy_segments_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based audio segmentation under the hash gate
    (operators.multimodal.pcm_energy_segments): the same genuine WAV
    fixture as pcm_decode_stats_docs, framed at 32 samples, per-frame
    integer energy, threshold flags run-length-encoded into
    speech/silence segments. Integer-exact end to end, so the oracle
    regenerates the series, frames it with a window run-length
    (lag-change -> cumulative-sum segment ids), and hash-matches — a
    real VAD pipeline's framing/RLE mechanics proven against SQL."""
    from ..operators.multimodal import pcm_energy_segments

    tune(spark)
    t = _t(spark, sf_dir)
    return pcm_energy_segments(_wav_fixture(t))


def _hourly_counts(t) -> DataFrame:
    """Per-(event_type, hour) counts — the keyed series the time-series
    operators (ACF, CUSUM) run on. One shuffle reduces the fact table
    to ~|types|×|hours| rows before any window work."""
    return (
        # NULL-ts events are on no hourly timeline (and the window
        # operators downstream ORDER BY h, where engines disagree on
        # NULL placement) — missing-observation contract
        t("events")
        .filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").cast("long").alias("c"))
    )


def acf_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function per event type over its hourly-count
    series (operators.windows.autocorrelation): corr(x_t, x_{t-k}) for
    lags 1..3 — the seasonality/persistence probe. The window+corr
    composition runs on the PRE-AGGREGATED series (~3.4k rows at
    sf0.01), not the fact table."""
    from ..operators.windows import autocorrelation

    tune(spark)
    return autocorrelation(
        _hourly_counts(_t(spark, sf_dir)), "c", ["event_type"], ["h"]
    )


def cusum_changepoint_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point per event type (operators.windows.
    cusum_changepoint): the hour where cumulative deviation from the
    series mean peaks. The deviation statistic is integer-exact
    (n·cumsum − t·total — the mean's division scaled out), so argmax
    and tie-break hash-match any engine bit-for-bit."""
    from ..operators.windows import cusum_changepoint

    tune(spark)
    out = cusum_changepoint(
        _hourly_counts(_t(spark, sf_dir)), "c", ["event_type"], ["h"]
    )
    return out.select(
        "event_type", F.col("h").alias("cp_hour"), "max_dev", "n_points"
    )


def vocab_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage curve (operators.text.vocab_coverage):
    smallest frequency-ranked vocab covering 50/90/99% of corpus token
    mass — the statistic that sizes a tokenizer vocabulary. Corpus pass
    is one explode+groupBy; ranking runs on the type table; thresholds
    compare in integer arithmetic so boundary types are engine-stable."""
    from ..operators.text import vocab_coverage

    tune(spark)
    t = _t(spark, sf_dir)
    return vocab_coverage(t("documents"))


def bpe_encode_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-parity count (operators.text.bpe_encode + the
    committed merges.txt fixture): per-document token counts under a
    FIXED externally-supplied BPE merge table — the bring-your-own-
    tokenizer story (load a production tokenizer's published merges
    file, count tokens with ITS vocabulary before paying for real
    tokenization at 100 TB). One Arrow mapInPandas pass, merge table
    broadcast driver-side, scan partitioning preserved, no shuffle.
    Oracle: the same greedy encode expressed as rank-ordered
    non-overlapping replaces over a chr(31)-delimited symbol string —
    equivalent because a trained merge table only references symbols
    earlier merges (or single chars) created, so rank-order exhaustive
    application equals the lowest-rank-first greedy loop."""
    from ..operators.text import bpe_encode, default_merges_path, load_merges

    tune(spark)
    t = _t(spark, sf_dir)
    merges = load_merges(default_merges_path())
    return bpe_encode(t("documents"), merges).select("doc_id", "n_tokens")


def reconcile_fingerprint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table checksum (operators.profile.
    table_fingerprint): sum of portable per-row md5-prefix values mod
    2^61-1 — the one-scan, no-sort migration-audit primitive. Two
    independent Spark plans (direct scan; split-by-parity union) must
    produce the SAME fingerprint, and both must match DuckDB's
    recomputation — proving the checksum is plan-, order-, and
    engine-independent."""
    from ..operators.profile import table_fingerprint

    tune(spark)
    t = _t(spark, sf_dir)
    cols = ["o_orderkey", "o_custkey", "o_orderstatus"]
    orders = t("orders").select(*cols)
    direct = table_fingerprint(orders, cols).select(
        F.lit("direct").alias("derivation"), "n_rows", "fingerprint"
    )
    split = (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .unionByName(orders.filter(F.col("o_orderkey") % 2 == 1))
    )
    via_split = table_fingerprint(split, cols).select(
        F.lit("split_union").alias("derivation"), "n_rows", "fingerprint"
    )
    return direct.unionByName(via_split)


def bloom_anti_join_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned EXACT anti-join under the hash gate: lineitem rows
    whose part is NOT an oversized part (p_size > 40). The bloom bitmap
    rides a 1-row broadcast so bloom-definite-absent rows (the bulk)
    never shuffle; only maybe-present rows reach the exact anti-join —
    and the result still hash-matches the plain NOT EXISTS oracle, FP
    tail and all, because every maybe is exactly verified. Compact
    output: per-returnflag row count + quantity sum."""
    from ..operators.joins import bloom_anti_join

    tune(spark)
    t = _t(spark, sf_dir)
    build = t("part").filter(F.col("p_size") > 40).select("p_partkey")
    kept = bloom_anti_join(
        t("lineitem").withColumnRenamed("l_partkey", "p_partkey"),
        build,
        "p_partkey",
        m_bits=1 << 16,
    )
    return kept.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
    )


def set_similarity_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filter set-similarity self-join — EXACT recall by the
    prefix-filter theorem (rarest-gram prefixes of size
    |g| - ceil(t·|g|) + 1 must intersect when J ≥ t), so unlike
    MinHash-LSH there is no banding-miss probability to reason about.
    Same ground truth as minhash_near_dup: the oracle is the exact
    all-pairs word-3-gram Jaccard at the same threshold, hash-matched —
    two independent candidate-generation strategies, one verified set.
    Candidate buckets are each doc's rarest grams, so the self-join
    stays near-linear on natural corpora; max_prefix_df caps the
    adversarial case (one rare gram in many templated prefixes) with a
    recall-1.0 fallback to each doc's next-rarest gram — output is
    provably identical, which this oracle hash-checks."""
    from ..operators.dedup import set_similarity_join_exact

    t = _t(spark, sf_dir)
    return set_similarity_join_exact(
        t("documents"), threshold=0.3, max_prefix_df=64
    )


def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-distance near-dups, portable 60-bit md5 sketch.

    Pigeonhole blocking (9 bit-blocks for hamming ≤ 8) makes the plan a
    bucket-key hash join with EXACT recall, so the DuckDB oracle — the
    same sketch computed in pure SQL, compared all-pairs — matches
    bit-for-bit."""
    from ..operators.dedup import simhash_pairs

    t = _t(spark, sf_dir)
    return simhash_pairs(t("documents"), max_hamming=8, portable=True)


def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: SimHash pairs → distributed connected
    components → every document assigned a canonical representative
    (min doc id of its transitive cluster) and cluster size.

    This is the production dedup step the pair queries feed: keep rows
    where doc_id == canonical_id, drop the rest. The CC loop is
    min-label propagation + pointer jumping (O(log diameter) rounds,
    two shuffles per round, no driver-side data) — see
    operators/graph.py. Oracle: recursive-CTE min-reachability over
    the same portable SimHash pair graph."""
    from ..operators.dedup import simhash_pairs
    from ..operators.graph import dedup_clusters

    t = _t(spark, sf_dir)
    docs = t("documents")
    pairs = simhash_pairs(docs, max_hamming=8, portable=True)
    return dedup_clusters(docs, pairs)


def text_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import distinct_token_count, stopword_count, token_count

    t = _t(spark, sf_dir)
    d = t("documents")
    txt = F.col("text")
    n_tok = token_count(txt)
    return d.select(
        "doc_id",
        F.length(txt).alias("n_chars_calc"),
        n_tok.alias("n_tokens"),
        distinct_token_count(txt).alias("n_distinct_tokens"),
        # guard n_tok = 0 (empty/whitespace-only doc): NULL ratios on
        # both engines, and no ANSI divide-by-zero under Spark 4
        F.when(
            n_tok > 0,
            F.round(distinct_token_count(txt).cast("double") / n_tok, 4),
        ).alias("ttr"),
        F.when(
            n_tok > 0,
            F.round(stopword_count(txt).cast("double") / n_tok, 4),
        ).alias("stopword_ratio"),
    )


def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k against the vec_id=0 embedding."""
    from ..operators.similarity import cosine_topk

    t = _t(spark, sf_dir)
    emb = t("embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:  # empty corpus: no query vector, no neighbors
        return spark.createDataFrame([], "vec_id long, cosine_sim double")
    return cosine_topk(emb.filter(F.col("vec_id") != 0), qrow[0], k=10)


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via SRP-band LSH: candidate
    generation is an equi hash join on the (band_id, band_val) bucket
    key — NOT a BroadcastNestedLoop cross product — then exact cosine
    verification. The oracle stays the all-pairs SQL: equality proves
    banding recall was total on this corpus (miss ≈ 4e-11/pair at
    b=1 × 24 bands for sims ≥ 0.4)."""
    from ..operators.similarity import srp_near_dup_pairs

    t = _t(spark, sf_dir)
    e = t("embeddings").filter(F.col("vec_id") < 400).select("vec_id", "embedding")
    return srp_near_dup_pairs(e, threshold=0.4, planes_per_band=1, n_bands=24)


def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate NN (k-means cells + nprobe). Centroids are fit
    ONCE per corpus and persisted (``save_centroids``); every later call
    loads them — no ML fit job on the serving path. The oracle is the
    exact brute-force top-k: a green row proves recall 1.0 at the
    declared (k=10, nprobe=5 of 16 cells ≈ 37% of rows scanned) on this
    corpus; the recall-vs-nprobe sweep lives in
    tests/test_advanced_ops.py."""
    from ..operators.similarity import (
        ivf_assign,
        ivf_topk,
        load_centroids,
        save_centroids,
    )

    tune(spark)
    emb = load(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:  # empty corpus: no query vector, no neighbors
        return spark.createDataFrame([], "vec_id long, cosine_sim double")
    qvec = qrow[0]
    cpath = _model_path(f"{os.path.abspath(sf_dir)}|k=16|seed=42")
    centroids = load_centroids(cpath)
    _warm, _t0 = centroids is not None, time.perf_counter()
    assigned, centroids = ivf_assign(emb, n_clusters=16, centroids=centroids)
    save_centroids(cpath, centroids)
    _model_diag("ivf k=16", _warm, time.perf_counter() - _t0)
    # IVF pruning assumes corpus >> cells; on sub-1k corpora random
    # vectors spread the true top-k across most cells, so probe them
    # all (machinery unchanged, recall trivially total). At the gate
    # SF and above, nprobe=5 of 16 — the planted near-dup structure
    # keeps the true neighbours in the probed cells.
    nprobe = len(centroids) if emb.count() < 1000 else 5
    return ivf_topk(
        assigned.filter(F.col("vec_id") != 0), qvec, centroids, k=10, nprobe=nprobe
    )


def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, full production funnel: 64-dim vectors
    → 8 sub-codes of 16 centroids each (32 bits/vector, 64× smaller
    than raw float32), ADC shortlist scanned in the compressed domain,
    then exact L2 rerank on the shortlist. Codebooks are fit once and
    persisted like the IVF centroids. With the shortlist covering every
    true neighbour the rerank output EQUALS the exact top-10, so the
    oracle is the plain exact scan — a full hash-matched contract, not
    a tolerance verdict. At 100 TB the ADC stage scans 32-bit codes
    (no raw vectors) and stage 2 fetches only `shortlist` rows by id."""
    from ..operators.similarity import (
        load_centroids,
        pq_encode,
        pq_fit,
        pq_rerank_topk,
        save_centroids,
    )

    tune(spark)
    emb = load(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:  # empty corpus: no query vector, no neighbors
        return spark.createDataFrame([], "rank int, vec_id long")
    qvec = qrow[0]
    cpath = _model_path(f"{os.path.abspath(sf_dir)}|pq m=8 codes=16 seed=42")
    books = load_centroids(cpath)
    if books is None:
        _t0 = time.perf_counter()
        books = pq_fit(emb, m=8, n_codes=16, seed=42)
        save_centroids(cpath, books)
        _model_diag("pq m=8", False, time.perf_counter() - _t0)
    else:
        _model_diag("pq m=8", True)

    corpus = emb.filter(F.col("vec_id") != 0)
    topk = pq_rerank_topk(
        pq_encode(corpus, books), qvec, books, k=10, shortlist=250
    )
    w = Window.orderBy(F.col("l2_dist").asc(), F.col("vec_id"))
    return topk.select(
        F.row_number().over(w).alias("rank"), "vec_id"
    )


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming windowed agg)."""
    t = _t(spark, sf_dir)
    return (
        t("events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via lag + cumulative sum windows."""
    from ..operators.windows import session_stats

    t = _t(spark, sf_dir)
    return session_stats(t("events"), gap_minutes=30)


def ingest_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship ingest→audit→reconcile slice (SURVEY §7.1): batch-ingest
    lineitem through the pipeline into a managed table, then reconcile
    source vs loaded vs logged counts."""
    from ..catalog.table import TableCatalog
    from ..ingest.pipeline import IngestionPipeline
    from ..specs import ColumnSpec, IngestionSpec

    tune(spark)
    root = tempfile.mkdtemp(prefix="dif_ingest_")
    cat = TableCatalog(spark, root)
    pipe = IngestionPipeline(cat)
    cols = [
        ColumnSpec("l_orderkey", "l_orderkey", "bigint", 1),
        ColumnSpec("l_quantity", "l_quantity", "double", 2),
        ColumnSpec("l_extendedprice", "l_extendedprice", "double", 3),
        ColumnSpec("l_returnflag", "l_returnflag", "string", 4),
    ]
    spec = IngestionSpec(
        header_id=1,
        source_name="lineitem",
        table_name="main.lineitem",
        source_path=os.path.join(sf_dir, "lineitem.parquet"),
        file_format="parquet",
        columns=cols,
    )
    try:
        res = pipe.run_batch(spec)
        import pyarrow.parquet as pq

        source_rows = pq.ParquetFile(spec.source_path).metadata.num_rows
        loaded_rows = cat.table(spec.table_name).count()
    finally:
        import shutil

        shutil.rmtree(root, ignore_errors=True)  # everything needed is scalar now
    flag = (
        "PASS (Row count match)"
        if source_rows == loaded_rows == res.rows_loaded
        else "FAIL (Row count mismatch)"
    )
    return spark.createDataFrame(
        [(source_rows, loaded_rows, res.rows_loaded, flag)],
        "source_rows long, loaded_rows long, logged_rows long, row_count_match_flag string",
    )


def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (extension beyond the reference's flat
    GROUP BYs; Catalyst expands to a single shuffle with grouping ids)."""
    t = _t(spark, sf_dir)
    return (
        t("lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


def pivot_orders_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority × status (explicit value list so
    the plan is one pass, no distinct-values pre-query)."""
    t = _t(spark, sf_dir)
    return (
        t("orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


def percentiles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (interpolated, matches quantile_cont)."""
    t = _t(spark, sf_dir)
    return t("orders").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
    )


def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct. The sketch estimate is engine-specific,
    so the cross-engine contract is the exact count plus a 5% relative
    -error verdict on the HLL estimate (deterministic: Spark's HLL++ is
    seed-free). The sketch runs at rsd=0.01 so the 5% verdict is a 5-
    sigma bound, not the 1-sigma coin-flip the default rsd=0.05 gives —
    the skew fuzz corpus (10^4 fresh keys) caught exactly that flake."""
    t = _t(spark, sf_dir)
    # aggregate over the DISTINCT keys: mixing countDistinct with the
    # non-distinct HLL in one agg makes Spark keep a partial HLL buffer
    # PER KEY (1640 longs each at rsd=0.01 — a 260 MB aggregation state
    # for 20k parts, the whole cost of this query). HLL register
    # updates are idempotent (value → hash → register max), so the
    # sketch over distinct values is bit-identical to the sketch over
    # the raw scan, and count(key) over the distinct frame IS
    # countDistinct(key) (both skip NULLs — count() of a non-null
    # column; the lone NULL key row contributes to neither, as before).
    keys = t("lineitem").select("l_partkey").distinct()
    exact = F.count("l_partkey")
    approx = F.approx_count_distinct("l_partkey", 0.01)
    return keys.agg(
        exact.alias("exact_parts"),
        # empty population: the verdict is NULL, not a divide-by-zero
        F.when(
            exact > 0,
            (F.abs(approx - exact).cast("double") / exact) < 0.05,
        ).alias("within_5pct"),
    )


def hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — THE hierarchical distinct-count pattern
    at scale: per-group HLL sketches (one shuffle) are UNION-merged into
    the grand total instead of re-scanning the fact table, exactly how
    per-day distinct users roll into monthly without a second pass.
    Cross-engine contract: exact distincts + a 5% relative-error verdict
    on the merged estimate (Spark's HLL sketches are seed-free)."""
    t = _t(spark, sf_dir)
    o = t("orders")
    # aggregate over the DISTINCT (priority, custkey) pairs: the mixed
    # distinct + sketch agg otherwise keeps a partial HLL buffer per
    # (priority, custkey) — see approx_distinct_parts. Sketch updates
    # are idempotent, so the per-priority sketch over distinct custkeys
    # is bit-identical, and count(custkey) over the pairs IS the old
    # countDistinct (both skip NULLs).
    pairs = o.select("o_orderpriority", "o_custkey").distinct()
    per_group = pairs.groupBy("o_orderpriority").agg(
        # lgConfigK=14: rsd ~0.8%, so the 5% verdict is ~6 sigma
        # (the default 12 gives ~1.6% — too close to the bound under
        # adversarial cardinalities; see approx_distinct_parts)
        F.expr("hll_sketch_agg(o_custkey, 14)").alias("sk"),
        F.count("o_custkey").alias("exact_custs"),
    )
    merged = per_group.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("hll_total"),
        F.sum("exact_custs").alias("sum_group_exact"),
    )
    exact_total = o.agg(F.countDistinct("o_custkey").alias("exact_total"))
    return merged.join(F.broadcast(exact_total)).select(
        "exact_total",
        "sum_group_exact",  # > exact_total: customers span priorities
        # empty population: NULL verdict, not a divide-by-zero
        F.when(
            F.col("exact_total") > 0,
            (F.abs(F.col("hll_total") - F.col("exact_total")).cast("double")
             / F.col("exact_total")) < 0.05,
        ).alias("merged_within_5pct"),
    )


def approx_percentile_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL/GK sketch) vs exact: cross-engine contract
    is the exact interpolated percentile plus a 1%-relative-error
    verdict on the sketch (deterministic: Spark's sketch is seed-free)."""
    t = _t(spark, sf_dir)
    exact = F.expr("percentile(o_totalprice, 0.9)")
    # accuracy 10000: rank error <= 0.01% — the 1% VALUE verdict
    # holds with wide margin even on skewed price distributions
    approx = F.expr("approx_percentile(o_totalprice, 0.9, 10000)")
    return t("orders").agg(
        F.round(exact, 4).alias("exact_p90"),
        (F.abs(approx - exact) / exact < 0.01).alias("within_1pct"),
    )


def stratified_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixing: per-language stratified sampling
    (``sampleBy`` — Bernoulli per stratum, seeded). Sample counts are
    engine-specific, so the cross-engine contract is a per-language
    binomial-bounds verdict (±5σ) plus the containment invariant (every
    sampled id exists in its stratum) — both checked Spark-side, both
    deterministic under the fixed seed."""
    t = _t(spark, sf_dir)
    d = t("documents")
    fractions = {"en": 0.8, "es": 0.5, "fr": 0.5, "de": 0.5, "zh": 0.2}
    sampled = d.sampleBy("lang", fractions, seed=42)
    totals = d.groupBy("lang").agg(F.count("*").alias("total"))
    counts = sampled.groupBy("lang").agg(F.count("*").alias("n_sampled"))
    frac_map = F.create_map(*[F.lit(x) for kv in fractions.items() for x in kv])
    # strata NOT in the fractions map (incl. a NULL lang) are sampled
    # at rate 0 by sampleBy — coalesce so their bound is 0 ± 1, not NULL
    frac = F.coalesce(frac_map[F.col("lang")], F.lit(0.0))
    expected = F.col("total") * frac
    sigma = F.sqrt(expected * (1 - frac))
    return (
        totals.join(counts, "lang", "left")
        .select(
            "lang",
            "total",
            (
                F.abs(F.coalesce(F.col("n_sampled"), F.lit(0)) - expected)
                <= 5 * sigma + 1
            ).alias("within_bounds"),
        )
    )


def token_budget_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-greedy selection under a 2000-token budget per language:
    one windowed running sum per group — no global sort, no collect."""
    from ..operators.corpus import select_within_token_budget

    t = _t(spark, sf_dir)
    return select_within_token_budget(t("documents"), budget_tokens=2000)


def temperature_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language mixing (p ∝ n^alpha): the per-group
    rates plus the DETERMINISTIC hash-realized sample count — unlike
    ``sampleBy``, the keep set is a pure function of (seed, doc_id), so
    the oracle reproduces it exactly row-for-row."""
    from ..operators.corpus import temperature_mix_rates, temperature_sample

    t = _t(spark, sf_dir)
    d = t("documents")
    rates = temperature_mix_rates(d, alpha=0.5, target_total=300, group_col="lang")
    sampled = (
        temperature_sample(
            d, alpha=0.5, target_total=300, group_col="lang", seed=7
        )
        .groupBy(F.col("lang").alias("group"))
        .agg(F.count("*").alias("n_sampled"))
    )
    return rates.join(sampled, "group", "left").select(
        "group",
        "n_docs",
        "mix_weight",
        "sample_rate",
        "expected_docs",
        F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
    )


def scrub_pii_contacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: typed regex redaction (email/phone/ipv4) with
    per-kind counts, over a synthesized contact blob (name + phone +
    comment). Pure regexp_replace/regexp_count — map-only at any
    scale."""
    from ..operators.text import scrub_pii

    t = _t(spark, sf_dir)
    phone = F.format_string(
        "%02d-%03d-%04d",
        F.col("c_nationkey") + 10,
        F.pmod(F.col("c_custkey"), F.lit(1000)),
        F.pmod(F.col("c_custkey") * 7, F.lit(10000)),
    )
    email = F.concat(F.lit("user"), F.col("c_custkey"), F.lit("@example.com"))
    c = (
        t("customer")
        .filter(F.col("c_custkey") <= 300)
        .select(
            "c_custkey",
            F.concat_ws(" ", F.col("c_name"), email, phone, F.col("c_mktsegment")).alias(
                "contact"
            ),
        )
    )
    return scrub_pii(c, "contact").select(
        "c_custkey", "contact", "n_email", "n_phone", "n_ipv4", "n_redactions"
    )


def mad_outliers_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: per-priority median + MAD (median
    absolute deviation), counting orders beyond 3 MADs. Two grouped
    exact percentiles + broadcast joins back — the per-group frames are
    group-cardinality (tiny), so the big side never shuffles twice."""
    t = _t(spark, sf_dir)
    o = t("orders").select("o_orderpriority", "o_totalprice")
    meds = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    j = o.join(F.broadcast(meds), "o_orderpriority").withColumn(
        "adev", F.abs(F.col("o_totalprice") - F.col("med"))
    )
    mads = j.groupBy("o_orderpriority").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    return (
        j.join(F.broadcast(mads), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.first("med"), 4).alias("median_price"),
            F.round(F.first("mad"), 4).alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


def equi_depth_buckets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) binning — the scale-correct global-ntile
    replacement: exact quartile cut points reduce to ONE tiny row
    (grouped percentile agg), each doc's bucket is pure comparison
    arithmetic against the broadcast cuts, then a per-bucket agg. No
    global sort, no single-partition window — the shape that survives
    100 TB where ``ntile() OVER (ORDER BY …)`` cannot."""
    t = _t(spark, sf_dir)
    d = t("documents").select("doc_id", "n_chars")
    cuts = d.agg(
        F.expr("percentile(n_chars, 0.25)").alias("c1"),
        F.expr("percentile(n_chars, 0.5)").alias("c2"),
        F.expr("percentile(n_chars, 0.75)").alias("c3"),
    )
    bucketed = d.join(F.broadcast(cuts)).withColumn(
        "bucket",
        (
            F.lit(1)
            + (F.col("n_chars") > F.col("c1")).cast("int")
            + (F.col("n_chars") > F.col("c2")).cast("int")
            + (F.col("n_chars") > F.col("c3")).cast("int")
        ),
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


def media_header_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-header metadata decode round-trip: per doc, synthesize
    a REAL PNG IHDR (even ids) or WAV RIFF/fmt (odd ids) header whose
    fields derive from doc_id, then recover them with
    ``parse_media_headers`` (pure byte arithmetic — no codecs). The
    oracle recomputes the source fields directly, so equality proves
    parse∘build = id on genuine container layouts."""
    from ..operators.multimodal import parse_media_headers

    t = _t(spark, sf_dir)
    d = t("documents").select("doc_id")
    did = F.col("doc_id")
    w = (F.pmod(did, 1920) + 16).cast("bigint")
    h = (F.pmod(did, 1080) + 16).cast("bigint")
    rate = (F.lit(8000) + F.pmod(did, 8) * 4000).cast("bigint")
    ch = (F.lit(1) + F.pmod(did, 2)).cast("bigint")

    def be_hex(col, nbytes):
        return F.lpad(F.hex(col), 2 * nbytes, "0")

    def le_hex(col, nbytes):
        return F.concat(
            *[
                F.lpad(
                    F.hex(F.shiftright(col, 8 * k).bitwiseAND(F.lit(255))), 2, "0"
                )
                for k in range(nbytes)
            ]
        )

    png_hex = F.concat(
        F.lit("89504E470D0A1A0A"),      # magic
        F.lit("0000000D49484452"),      # IHDR length + tag
        be_hex(w, 4),
        be_hex(h, 4),
        F.lit("0806000000"),            # bit depth / color / etc
    )
    wav_hex = F.concat(
        F.lit("52494646"),              # RIFF
        F.lit("24000000"),              # chunk size (LE, dummy)
        F.lit("57415645666D7420"),      # WAVE + 'fmt '
        F.lit("10000000"),              # fmt size 16 (LE)
        F.lit("0100"),                  # PCM
        le_hex(ch, 2),
        le_hex(rate, 4),
        F.lit("10B102000400100000"),    # byte rate / align / bits + pad
    )
    payload = F.unhex(F.when(did % 2 == 0, png_hex).otherwise(wav_hex))
    return parse_media_headers(d.withColumn("payload", payload), "payload").select(
        "doc_id", "media_kind", "img_width", "img_height", "n_channels", "sample_rate"
    )


def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the events.props payload column.
    try_cast, not cast: a payload whose $.k is non-numeric must yield
    NULL (filtered) on both engines, not an ANSI cast error."""
    t = _t(spark, sf_dir)
    return (
        t("events")
        .select(
            "event_id",
            F.get_json_object("props", "$.k").try_cast("int").alias("k_value"),
        )
        .filter(F.col("k_value") > 50)
    )


def string_regex_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family: extract, replace, split-element."""
    t = _t(spark, sf_dir)
    return (
        t("orders")
        .filter(F.col("o_orderkey") < 500)
        .select(
            "o_orderkey",
            F.regexp_extract("o_orderpriority", r"(\d)-(\w+)", 1).cast("int").alias(
                "priority_num"
            ),
            F.regexp_extract("o_orderpriority", r"(\d)-([A-Z ]+)", 2).alias("priority_word"),
            F.regexp_replace("o_orderstatus", "[FP]", "X").alias("status_masked"),
            F.element_at(F.split("o_orderpriority", "-"), 2).alias("priority_tail"),
        )
    )


def quality_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + exact fingerprint + BPE-ish token estimate."""
    from ..operators.text import bpe_token_count, fingerprint, quality_score

    t = _t(spark, sf_dir)
    return t("documents").select(
        "doc_id",
        fingerprint(F.col("text")).alias("fingerprint"),
        F.round(quality_score(F.col("text")), 4).alias("quality"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID vs the labeled lang column (no SQL
    oracle — argmax tie-breaking is implementation-defined; accuracy is
    asserted in pytest)."""
    from ..operators.text import lang_guess

    t = _t(spark, sf_dir)
    return (
        t("documents")
        .select("doc_id", "lang", lang_guess(F.col("text")).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").alias("n"))
    )


def decimal_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal fidelity (SURVEY §7.4): exact, order-independent decimal
    sums — the correctness-critical money-math path vs the oracle.
    Both operands are cast to decimal BEFORE the multiply so the whole
    expression is exact decimal arithmetic (a double multiply cast to
    decimal afterwards rounds the conversion at the ulp differently
    across engines)."""
    t = _t(spark, sf_dir)
    price_dec = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_dec = F.col("l_discount").cast("decimal(4,2)")
    return (
        t("lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.sum(price_dec).alias("sum_price_dec"),
            F.sum(price_dec * (F.lit(1).cast("decimal(4,2)") - disc_dec)).alias(
                "sum_disc_dec"
            ),
        )
    )


def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator Spark lacks natively): each purchase matched
    to the user's most recent signup at-or-before it. Union+window
    formulation — one shuffle, no range explosion."""
    from ..operators.joins import asof_join

    t = _t(spark, sf_dir)
    e = t("events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_event")
    )
    return asof_join(
        purchases, signups, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["signup_event"],
    )


def asof_join_nearest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas merge_asof semantics, ties
    break backward): each purchase matched to the user's CLOSEST click
    in either direction. Same union+window machinery as backward —
    two window passes over one shuffle, still no range explosion. The
    oracle derives both candidates with DuckDB ASOF joins and picks
    the closer."""
    from ..operators.joins import asof_join

    tune(spark)
    t = _t(spark, sf_dir)
    e = t("events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event")
    )
    return asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["click_event"], direction="nearest",
    )


def knn_join_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN join: top-3 neighbours for each of the first 50 vectors
    (broadcast-kNN path: small right side collected + BLAS matmul)."""
    from ..operators.similarity import knn_join_brute

    t = _t(spark, sf_dir)
    emb = t("embeddings")
    left = emb.filter(F.col("vec_id") < 50)
    return knn_join_brute(left, emb.filter(F.col("vec_id") >= 50), k=3)


def knn_join_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed big-×-big k-NN join: IVF-cell equi-join + window
    top-k — no driver collect on either side (the 100 TB path when the
    right side outgrows a broadcast). Exhaustive-probe configuration
    (nprobe = n_clusters) is exact by construction, so the oracle is the
    same exact-kNN SQL as the broadcast form; the recall-vs-nprobe
    approximation sweep lives in tests/test_advanced_ops.py. Centroids
    are persisted/reloaded like ivf_ann_topk's — no k-means fit on the
    serving path."""
    from ..operators.similarity import (
        knn_join_bucketed,
        load_centroids,
        save_centroids,
    )

    t = _t(spark, sf_dir)
    emb = t("embeddings")
    left = emb.filter(F.col("vec_id") < 50)
    right = emb.filter(F.col("vec_id") >= 50)
    cpath = _model_path(f"{os.path.abspath(sf_dir)}|knn-right|k=8|seed=42")
    centroids = load_centroids(cpath)
    if centroids is None:
        from ..operators.similarity import ivf_fit

        _t0 = time.perf_counter()
        centroids = ivf_fit(right, n_clusters=8)
        save_centroids(cpath, centroids)
        _model_diag("knn-ivf k=8", False, time.perf_counter() - _t0)
    else:
        _model_diag("knn-ivf k=8", True)
    return knn_join_bucketed(
        left, right, k=3, n_clusters=8, nprobe=8, centroids=centroids
    )


def knn_join_indexed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving-path variant of knn_join_bucketed: the corpus is
    persisted once as a bucketBy(ivf_cell) catalog table
    (operators/similarity.py::save_ivf_index) and every query batch
    joins it with NO Exchange on the corpus side (plan asserted in
    test_knn_join_indexed_no_exchange_on_corpus_side). Exhaustive
    probing => exact, so the oracle is the same exact-kNN SQL."""
    from ..operators.similarity import (
        ivf_fit,
        knn_join_indexed,
        load_centroids,
        save_centroids,
        save_ivf_index,
    )

    tune(spark)
    t = _t(spark, sf_dir)
    emb = t("embeddings")
    left = emb.filter(F.col("vec_id") < 50)
    right = emb.filter(F.col("vec_id") >= 50)
    cpath = _model_path(f"{os.path.abspath(sf_dir)}|knn-right|k=8|seed=42")
    centroids = load_centroids(cpath)
    if centroids is None:
        _t0 = time.perf_counter()
        centroids = ivf_fit(right, n_clusters=8)
        save_centroids(cpath, centroids)
        _model_diag("knn-ivf k=8", False, time.perf_counter() - _t0)
    else:
        _model_diag("knn-ivf k=8", True)
    from ..operators.bucketing import drop_table_and_location

    name = _gate_name("dif_gate_ivf_index")
    drop_table_and_location(spark, name)  # also clears stale warehouse dirs
    save_ivf_index(right, spark, name, n_clusters=8, centroids=centroids)
    # index table must outlive the returned (lazy) DataFrame — it is
    # re-created from scratch on every run, so no cleanup needed here
    return knn_join_indexed(left, spark, name, centroids, k=3, nprobe=8)


def q4_exists_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS with a correlated non-equi predicate → left-semi join with
    compound condition (TPC-H Q4 shape)."""
    t = _t(spark, sf_dir)
    o, l = t("orders"), t("lineitem")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .join(
            l,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, decorrelated the Spark way: per-part
    average via aggregation + join (TPC-H Q17 shape)."""
    t = _t(spark, sf_dir)
    l, p = t("lineitem"), t("part")
    per_part = l.groupBy("l_partkey").agg((F.avg("l_quantity") * 0.5).alias("half_avg_qty"))
    return (
        l.join(F.broadcast(p.filter(F.col("p_type") == "PROMO")), F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_weekly_revenue"))
    )


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of orders per customer: left join + two-level
    aggregation (TPC-H Q13 shape; customers with 0 orders included)."""
    t = _t(spark, sf_dir)
    per_cust = (
        t("customer")
        .join(t("orders"), F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING on an aggregate subquery joined back (TPC-H Q18 shape)."""
    t = _t(spark, sf_dir)
    big = (
        t("lineitem")
        .groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        t("orders")
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_orderkey", "o_totalprice", "sum_qty")
    )


def q7_nation_year_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-nation × ship-year revenue (TPC-H Q7 shape)."""
    t = _t(spark, sf_dir)
    return (
        t("lineitem")
        .join(F.broadcast(t("supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t("nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


def collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-building aggregates (collect_set sorted for determinism).
    The set is emitted as a comma-joined string so the result row stays
    hashable for the driver's value comparison."""
    t = _t(spark, sf_dir)
    return (
        t("lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("l_linestatus"))).alias("statuses"),
            F.size(F.collect_set("l_suppkey")).alias("n_suppliers"),
        )
    )


def stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/correlation/covariance."""
    t = _t(spark, sf_dir)
    return t("lineitem").agg(
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("stddev_price"),
        F.round(F.var_samp("l_quantity"), 2).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_discount", "l_tax"), 6).alias("covar_disc_tax"),
    )


def regression_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression + robust-stats aggregate family: regr_slope/intercept/
    r2/count, skewness, kurtosis, median, mode. Spark's skewness/
    kurtosis are population moments — the oracle converts DuckDB's
    sample skewness with (n−2)/√(n(n−1)) and uses kurtosis_pop."""
    t = _t(spark, sf_dir)
    return t("orders").agg(
        F.round(F.expr("regr_slope(o_totalprice, o_custkey)"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(o_totalprice, o_custkey)"), 4).alias("intercept"),
        F.round(F.expr("regr_r2(o_totalprice, o_custkey)"), 6).alias("r2"),
        F.expr("regr_count(o_totalprice, o_custkey)").alias("n"),
        F.round(F.skewness("o_totalprice"), 6).alias("skew_pop"),
        F.round(F.kurtosis("o_totalprice"), 6).alias("kurt_pop"),
        F.round(F.median("o_totalprice"), 4).alias("med"),
        F.mode("o_orderstatus").alias("status_mode"),
    )


def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar family (abs/ceil/floor/sqrt/ln/exp/pow/mod/sign/
    greatest/least/nullif) — extension beyond the reference's +1 counters."""
    t = _t(spark, sf_dir)
    v = F.col("l_extendedprice")
    d = F.col("l_discount")
    return (
        t("lineitem")
        .filter(F.col("l_orderkey") < 300)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.abs(v - 50000).alias("abs_diff"),
            F.ceil(v).alias("ceil_price"),
            F.floor(v).alias("floor_price"),
            F.round(F.sqrt(v), 6).alias("sqrt_price"),
            F.round(F.log(v), 6).alias("ln_price"),
            F.round(F.exp(d), 6).alias("exp_disc"),
            F.round(F.pow(d + 1, 3), 6).alias("pow_disc"),
            (F.col("l_orderkey") % 7).alias("mod_key"),
            F.signum(v - 50000).alias("sign_diff"),
            F.greatest(F.col("l_quantity"), F.col("l_discount") * 100).alias("greatest_v"),
            F.least(F.col("l_quantity"), F.col("l_tax") * 100).alias("least_v"),
            F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag_or_null"),
        )
    )


def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column family over embeddings (size/element_at/slice/agg)."""
    t = _t(spark, sf_dir)
    e = F.col("embedding")
    return (
        t("embeddings")
        .filter(F.col("vec_id") < 300)
        .select(
            "vec_id",
            F.size(e).alias("dim"),
            F.round(F.element_at(e, 1).cast("double"), 6).alias("first_val"),
            F.round(F.array_max(e).cast("double"), 6).alias("max_val"),
            F.round(F.array_min(e).cast("double"), 6).alias("min_val"),
            F.round(
                F.aggregate(
                    F.slice(e, 1, 8), F.lit(0.0), lambda acc, x: acc + x.cast("double")
                ),
                6,
            ).alias("sum_first8"),
        )
    )


def sql_text_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-text front door (reference drives everything via SQL
    strings): q1 expressed through ``spark.sql`` over registered views —
    Catalyst produces the identical plan to the DataFrame form."""
    tune(spark)
    register_test_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)  AS sum_qty,
               count(*)                   AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """,
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure filter+agg — every predicate reaches the parquet scan
    (PushedFilters), no shuffle beyond the final 1-row agg (TPC-H Q6)."""
    t = _t(spark, sf_dir)
    return (
        t("lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.coalesce(F.sum(F.col("l_extendedprice") * F.col("l_discount")), F.lit(0.0)), 2
            ).alias("revenue")
        )
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue per customer: 4-way join, grouped top-20
    (TPC-H Q10 shape)."""
    t = _t(spark, sf_dir)
    return (
        t("customer")
        .join(t("orders"), F.col("c_custkey") == F.col("o_custkey"))
        .join(t("lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t("nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
            & (F.col("l_returnflag") == "R")
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
                ),
                2,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate ratio (TPC-H Q14 shape): promo revenue share."""
    t = _t(spark, sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t("lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(F.broadcast(t("part")), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc_price).otherwise(0.0))
                / F.sum(disc_price),
                4,
            ).alias("promo_revenue_pct")
        )
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery max: suppliers whose quarterly revenue equals the
    global max (TPC-H Q15 shape). The 1-row max is broadcast — no
    single-partition window."""
    t = _t(spark, sf_dir)
    rev = (
        t("lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(t("supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count aggregate over a filtered join (TPC-H Q16 shape,
    partsupp replaced by lineitem supplier links)."""
    t = _t(spark, sf_dir)
    return (
        t("lineitem")
        .join(
            F.broadcast(
                t("part").filter(
                    (F.col("p_type") != "PROMO") & F.col("p_size").isin(1, 5, 9, 12, 15, 20)
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs join predicate (TPC-H Q19 shape) — Catalyst extracts
    the common p_partkey equi-key; the disjunction becomes a post-join
    filter, not a nested-loop."""
    t = _t(spark, sf_dir)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        t("lineitem")
        .join(F.broadcast(t("part")), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.round(
                F.coalesce(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), F.lit(0.0)),
                2,
            ).alias("revenue")
        )
    )


def q22_wealthy_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar average + anti join (TPC-H Q22 shape): customers above the
    positive-balance average with no urgent orders, grouped by nation."""
    t = _t(spark, sf_dir)
    c = t("customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    urgent = t("orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-share ratio per year (TPC-H Q8 shape): the share of
    ASIA-customer revenue supplied by nation 5, as a conditional-sum /
    sum ratio grouped by order year."""
    t = _t(spark, sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t("customer")
        .join(t("orders"), F.col("c_custkey") == F.col("o_custkey"))
        .join(t("lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t("supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(t("nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(F.broadcast(t("region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("s_nationkey") == 5, disc_price).otherwise(0.0))
                / F.sum(disc_price),
                6,
            ).alias("mkt_share")
        )
    )


def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by supplier nation × year (TPC-H Q9 shape, p_retailprice
    as the cost proxy since the schema has no partsupp)."""
    t = _t(spark, sf_dir)
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.1) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        t("lineitem")
        .join(
            F.broadcast(t("part").filter(F.col("p_name").like("%a%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(t("supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t("nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year")
        )
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
    )


def q11_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING vs a global scalar (TPC-H Q11 shape): supplier nations
    whose lineitem value exceeds 4% of the total — per-group aggregate
    joined against a broadcast 1-row scalar, no second scan of the
    grouped data."""
    t = _t(spark, sf_dir)
    value = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    by_nation = (
        t("lineitem")
        .join(F.broadcast(t("supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(F.sum(value).alias("nation_value"))
    )
    total = by_nation.agg(F.sum("nation_value").alias("total_value"))
    return (
        by_nation.join(F.broadcast(total))
        .filter(F.col("nation_value") > F.col("total_value") * 0.04)
        .select("s_nationkey", F.round("nation_value", 2).alias("value"))
    )


def q21_last_shipper_multi_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double correlated EXISTS (TPC-H Q21 shape, shipdate standing in
    for receipt/commit): suppliers that shipped the LAST line of a
    multi-supplier order — exists(another supplier in the order) and
    not-exists(another supplier shipping later) — decorrelated into one
    per-order aggregate + semi-join instead of two correlated subqueries."""
    t = _t(spark, sf_dir)
    l = t("lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    per_order = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.max("l_shipdate").alias("last_ship"),
    )
    return (
        l.join(
            per_order.filter(F.col("n_suppliers") >= 2),
            ["l_orderkey"],
        )
        .filter(F.col("l_shipdate") == F.col("last_ship"))
        .join(F.broadcast(t("supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated MIN subquery (TPC-H Q2 shape; lineitem unit price
    stands in for ps_supplycost since the schema has no partsupp):
    for each SMALL mid-size part, the EUROPE supplier(s) offering the
    minimum unit price. The correlated scalar subquery is decorrelated
    into a per-part min aggregate joined back — one extra broadcast
    instead of a per-row subquery re-scan, the plan that survives at
    100 TB (the offers agg shuffles once on its grain; both the part
    dim and the per-part min are broadcast)."""
    t = _t(spark, sf_dir)
    parts = t("part").filter(
        (F.col("p_type") == "SMALL") & F.col("p_size").between(10, 20)
    )
    europe_supp = (
        t("supplier")
        .join(F.broadcast(t("nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t("region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = (
        t("lineitem")
        .join(
            F.broadcast(parts.select("p_partkey", "p_name")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(europe_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supp_cost"))
    )
    min_cost = offers.groupBy("p_partkey").agg(F.min("supp_cost").alias("min_cost"))
    return (
        offers.join(F.broadcast(min_cost), "p_partkey")
        .filter(F.col("supp_cost") == F.col("min_cost"))
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("supp_cost", 4).alias("supp_cost"),
        )
    )


def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way conditional counts (TPC-H Q12 shape; l_returnflag stands
    in for l_shipmode and shipped-after-order for the commit/receipt
    lateness test): per flag, how many late 1996 lines belong to
    high- vs low-priority orders. The ship-window filter is pushed to
    the lineitem scan before the join."""
    t = _t(spark, sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t("lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(t("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q20_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested IN + correlated aggregate (TPC-H Q20 shape; shipped share
    stands in for the ps_availqty excess test): suppliers that shipped
    more than 20% of the 1995 volume of some 'small%' part. Two-level
    aggregate — per (part, supplier) then per part — decorrelated into
    one reusable shuffle; the 5× multiply keeps the threshold compare
    in exact integer-valued doubles (quantities are integral), so the
    verdict can't flip on accumulation order."""
    t = _t(spark, sf_dir)
    small_parts = t("part").filter(F.col("p_name").like("small%")).select("p_partkey")
    l95 = (
        t("lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .join(F.broadcast(small_parts), F.col("l_partkey") == F.col("p_partkey"))
    )
    per_supp = l95.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    per_part = per_supp.groupBy("l_partkey").agg(F.sum("supp_qty").alias("part_qty"))
    excess = (
        per_supp.join(F.broadcast(per_part), "l_partkey")
        .filter(F.col("supp_qty") * 5 > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        t("supplier")
        .join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
    )


def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping_id — all 4 grouping combinations in a single
    shuffle (extension beyond the reference's flat GROUP BYs)."""
    t = _t(spark, sf_dir)
    return (
        t("lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): exactly two chosen
    grouping combinations in one shuffle — SQL text because the
    DataFrame API exposes only rollup/cube."""
    tune(spark)
    register_test_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))
        """,
    )


def window_value_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-window family: first_value/last_value/nth_value over a
    deterministic per-customer frame (completes §2.6 navigation set)."""
    from pyspark.sql import Window

    t = _t(spark, sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        t("orders")
        .filter(F.col("o_custkey") < 300)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.first_value("o_totalprice").over(w), 2).alias("first_price"),
            F.round(F.last_value("o_totalprice").over(w), 2).alias("last_price"),
            F.round(F.nth_value("o_totalprice", 2).over(w), 2).alias("second_price"),
        )
    )


def corpus_clean_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus cleaning slice: quality-filter →
    exact-dedup keep-list (min doc_id per fingerprint, semi-join) →
    per-language corpus stats. Composition of the text-quality and
    dedup operators in ONE plan: two hash-agg shuffles total, no
    collect — the shape a 100 TB pre-training cleanup job runs."""
    from ..operators.dedup import drop_exact_duplicates
    from ..operators.text import quality_score

    t = _t(spark, sf_dir)
    d = t("documents")
    kept = drop_exact_duplicates(d).withColumn(
        "quality", F.round(quality_score(F.col("text")), 4)
    ).filter(F.col("quality") >= 0.5)
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("quality"), 4).alias("mean_quality"),
        F.round(F.avg(F.length("text")).cast("double"), 2).alias("mean_chars"),
    )


def intersect_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): customers that have placed orders."""
    t = _t(spark, sf_dir)
    a = t("customer").select(F.col("c_custkey").alias("custkey"))
    b = t("orders").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


def except_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers that never placed an urgent order."""
    t = _t(spark, sf_dir)
    a = t("customer").select(F.col("c_custkey").alias("custkey"))
    b = (
        t("orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return a.subtract(b)


def time_travel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel through the commit log, in the graded gate: build a
    versioned table (create → append → delete), then read EVERY
    version's row count via ``read(version=n)``. The oracle recomputes
    each count from pure predicates over the source — equality proves
    the manifests reconstruct exact historical images."""
    from ..catalog.table import ManagedTable

    t = _t(spark, sf_dir)
    src = t("orders").filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="dif_tt_")
    table = ManagedTable(spark, os.path.join(root, "orders_tt"))
    table.append(src)                                   # v0 create, v1 append
    table.delete(F.col("o_orderstatus") == "F")         # v2 delete
    rows = [
        (h["version"], h["op"], table.read(version=h["version"]).count())
        for h in table.history()
    ]
    return spark.createDataFrame(rows, "version int, op string, n_rows long")


def cdc_changes_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed in the graded gate: after a delete on a
    versioned table, ``read_changes`` must emit exactly the deleted
    row images — the oracle recomputes them as a plain predicate."""
    from ..catalog.table import ManagedTable

    t = _t(spark, sf_dir)
    src = t("orders").filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey", "o_orderstatus"
    )
    root = tempfile.mkdtemp(prefix="dif_cdc_")
    table = ManagedTable(spark, os.path.join(root, "orders_cdc"))
    table.append(src)                                   # v0 create, v1 append
    table.delete(F.col("o_orderstatus") == "F")         # v2
    return table.read_changes(1).select("o_orderkey", "_change_type")


def scd2_customer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance in the graded gate: seed the
    dim at 2024-01-01, apply a second snapshot at 2024-06-01 that
    changes every third customer's segment and adds one new key; the
    full interval history must match the oracle's predicate recompute
    (closed rows keep their original values with valid_to set; new
    versions open at the effective date)."""
    from ..catalog.scd import scd2_apply
    from ..catalog.table import ManagedTable

    t = _t(spark, sf_dir)
    base = t("customer").filter(F.col("c_custkey") < 300).select(
        "c_custkey", "c_mktsegment"
    )
    root = tempfile.mkdtemp(prefix="dif_scd2_")
    dim = ManagedTable(spark, os.path.join(root, "cust_dim"))
    seed = base.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    dim.append(seed)
    snapshot2 = base.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 3 == 0, F.lit("UPDATED")).otherwise(
            F.col("c_mktsegment")
        ),
    ).unionByName(
        spark.createDataFrame([(99991, "NEWSEG")], "c_custkey long, c_mktsegment string")
    )
    scd2_apply(dim, snapshot2, ["c_custkey"], ["c_mktsegment"], "2024-06-01")
    return dim.read().select(
        "c_custkey", "c_mktsegment", "valid_from", "valid_to", "is_current"
    )


def lateral_topn_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with LIMIT — the SQL-text form of
    top-N-per-group (Catalyst decorrelates to a windowed join; no
    per-row re-execution). Ties broken by name for determinism."""
    t = _t(spark, sf_dir)
    for name in ("region", "nation", "customer"):
        t(name).createOrReplaceTempView(f"_lat_{name}")
    return spark.sql("""
        SELECT r.r_name, t.n_name, t.cnt
        FROM _lat_region r,
        LATERAL (
            SELECT n.n_name, count(*) AS cnt
            FROM _lat_nation n JOIN _lat_customer c
                 ON c.c_nationkey = n.n_nationkey
            WHERE n.n_regionkey = r.r_regionkey
            GROUP BY n.n_name
            ORDER BY cnt DESC, n.n_name
            LIMIT 2
        ) t
    """)


def null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics SQL inner
    joins silently drop."""
    t = _t(spark, sf_dir)
    key = F.when(F.col("o_orderkey") % 7 != 0, F.col("o_orderkey") % 5)
    o = t("orders")
    a = (
        o.filter(F.col("o_orderkey") < 500)
        .select(key.alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_a"))
    )
    b = (
        o.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1000))
        .select(key.alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_b"))
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k"), "n_a", "n_b"
    )


def incremental_agg_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-driven continuous aggregate in the graded gate: a fact table
    built in three commits (append, append, delete) with the aggregate
    refreshed INCREMENTALLY after each — signed ±delta merges only,
    never a fact-table rescan. The oracle recomputes the final
    aggregate from predicates; equality proves the staged deltas land
    exactly. Money math in decimal so staged addition is exact."""
    from ..catalog.table import ManagedTable
    from ..ingest.maintenance import incremental_agg_refresh
    from pyspark.sql import types as T

    t = _t(spark, sf_dir)
    src = t("orders").filter(F.col("o_orderkey") < 3000).select(
        "o_orderkey",
        "o_orderpriority",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    root = tempfile.mkdtemp(prefix="dif_inc_")
    facts = ManagedTable(spark, os.path.join(root, "facts"))
    agg = ManagedTable(spark, os.path.join(root, "agg"))
    agg.create(
        T.StructType(
            [
                T.StructField("o_orderpriority", T.StringType(), True),
                T.StructField("n", T.LongType(), True),
                T.StructField("total", T.DecimalType(28, 2), True),
            ]
        )
    )
    facts.append(src.filter(F.col("o_orderkey") < 1500))
    v = incremental_agg_refresh(facts, agg, ["o_orderpriority"], "price", 0)
    facts.append(src.filter(F.col("o_orderkey") >= 1500))
    v = incremental_agg_refresh(facts, agg, ["o_orderpriority"], "price", v)
    facts.delete(F.col("o_orderstatus") == "F")
    incremental_agg_refresh(facts, agg, ["o_orderpriority"], "price", v)
    return agg.read().filter(F.col("n") > 0).select(
        "o_orderpriority", "n", F.col("total").cast("decimal(18,2)").alias("total")
    )


def lsh_index_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH indexing in the graded gate
    (operators/dedup.py::update_lsh_index_bucketed): the corpus arrives
    in two batches, each joined against the persisted band index, then
    appended to it. The index is bucketBy(16, bucket_key), so each
    batch's cross join shuffles ONLY the new batch — no Exchange ever
    lands on the accumulated index side (plan asserted in
    test_bucketed_lsh_index_no_exchange_on_index_side). Exact-verified
    pairs from the two increments must equal the one-shot all-pairs
    answer (the same oracle as minhash_near_dup) — proof the
    incremental funnel loses nothing."""
    from ..operators.dedup import (
        update_lsh_index_bucketed,
        verify_pairs_jaccard_arrays,
    )

    tune(spark)
    t = _t(spark, sf_dir)
    docs = t("documents").filter(F.col("doc_id") < 300)
    from ..operators.bucketing import drop_table_and_location

    name = _gate_name("dif_gate_lsh_bucketed_bands")
    drop_table_and_location(spark, name)  # also clears stale warehouse dirs
    p1 = update_lsh_index_bucketed(docs.filter(F.col("doc_id") < 150), spark, name)
    p2 = update_lsh_index_bucketed(docs.filter(F.col("doc_id") >= 150), spark, name)
    # sample-bounded candidates → lazy array-shape verify. NO in-query
    # DROP TABLE: the returned plan is lazy and DROP would both uncache
    # the materialized p1/p2 (DropTableCommand uncaches every plan
    # referencing the table) and delete the files the recompute would
    # need — the _gate_name registry drops the table on the next
    # invocation and at exit instead.
    return verify_pairs_jaccard_arrays(
        p1.union(p2).distinct(), docs, threshold=0.3
    )


def argmax_agg_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-extremum + conditional-boolean aggregate family: max_by /
    min_by (DuckDB arg_max/arg_min), count_if, bool_or, bool_and.
    Tie-PROOF, not tie-lucky: the extremum key is the composite
    (totalprice, ±orderkey) struct, so equal prices resolve to the
    smallest orderkey on both engines — max_by/arg_max with a bare
    value column leave ties engine-defined (caught by the fuzz gate
    on duplicate-price rows)."""
    t = _t(spark, sf_dir)
    return (
        t("orders")
        .groupBy("o_orderpriority")
        .agg(
            F.expr(
                "max_by(o_orderkey, struct(o_totalprice, -o_orderkey))"
            ).alias("top_order"),
            F.expr(
                "min_by(o_orderkey, struct(o_totalprice, o_orderkey))"
            ).alias("bottom_order"),
            F.expr("count_if(o_orderstatus = 'F')").alias("n_f"),
            F.expr("bool_or(o_totalprice > 400000)").alias("any_big"),
            F.expr("bool_and(o_totalprice > 0)").alias("all_pos"),
        )
    )


def variant_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type: parse_json → variant_get path extraction —
    the semi-structured fast path (binary variant encoding beats
    re-parsing JSON text per access). Oracle is plain JSON extraction."""
    t = _t(spark, sf_dir)
    return (
        t("events")
        .select(
            "event_id",
            # try_variant_get: a non-numeric $.k yields NULL (filtered),
            # not an INVALID_VARIANT_CAST error
            F.expr(
                "try_variant_get(parse_json(props), '$.k', 'int')"
            ).alias("k_value"),
        )
        .filter(F.col("k_value") <= 50)
    )


def set_ops_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL (bag semantics — multiplicity-aware,
    unlike the distinct forms above): per flag-status pair, how many
    copies survive each bag operation between the two lineitem halves.
    Both are single-shuffle hash operations in Spark (no sort)."""
    t = _t(spark, sf_dir)
    l = t("lineitem").select("l_returnflag", "l_linestatus", "l_orderkey")
    a = l.filter(F.col("l_orderkey") % 2 == 0).select("l_returnflag", "l_linestatus")
    b = l.filter(F.col("l_orderkey") % 3 == 0).select("l_returnflag", "l_linestatus")
    inter = (
        a.intersectAll(b)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .withColumn("op", F.lit("intersect_all"))
    )
    exc = (
        a.exceptAll(b)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .withColumn("op", F.lit("except_all"))
    )
    return inter.unionByName(exc)


def window_lead_lag_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation + ranking window family: lag/lead/row_number/ntile/
    percent_rank/cume_dist over a fully deterministic per-customer order."""
    from pyspark.sql import Window

    t = _t(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t("orders")
        .filter(F.col("o_custkey") < 500)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
            F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
            F.row_number().over(w).alias("rn"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
    )


def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame windows: 3-row moving average + running total per
    customer — one shuffle, sorted within partitions only."""
    from pyspark.sql import Window

    t = _t(spark, sf_dir)
    order = [F.col("o_orderdate"), F.col("o_orderkey")]
    w3 = Window.partitionBy("o_custkey").orderBy(*order).rowsBetween(-2, 0)
    wrun = (
        Window.partitionBy("o_custkey").orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        t("orders")
        .filter(F.col("o_custkey") < 500)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.avg("o_totalprice").over(w3), 4).alias("moving_avg3"),
            F.round(F.sum("o_totalprice").over(wrun), 2).alias("running_total"),
        )
    )


def salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join (operators.joins.salted_join): semantics
    identical to the plain equi-join — the oracle is the unsalted SQL."""
    from ..operators.joins import salted_join

    t = _t(spark, sf_dir)
    l = t("lineitem").select("l_suppkey", "l_extendedprice", "l_discount")
    s = t("supplier").select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")
    return (
        salted_join(l, s, on="l_suppkey", salt=8)
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


def explode_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode → corpus-wide token frequency top-25. The
    explode+hash-agg plan is the 100 TB shape (map-side partial counts,
    one shuffle on token)."""
    t = _t(spark, sf_dir)
    return (
        t("documents")
        .select(F.explode(F.split(F.col("text"), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(25)
    )


def binary_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing with a real oracle: opaque binary payload
    column + typed metadata (size/sha256/mime sniff), all JVM-side
    (operators.multimodal.with_binary_metadata)."""
    from ..operators.multimodal import with_binary_metadata

    t = _t(spark, sf_dir)
    d = t("documents").select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    return with_binary_metadata(d, "payload").select(
        "doc_id",
        F.col("payload_size").cast("int").alias("payload_size"),
        "payload_hash",
        "payload_mime",
    )


def map_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: JSON payload parsed to map<string,int>, element
    lookup + key arity — all JVM-side (from_json, no Python)."""
    t = _t(spark, sf_dir)
    m = F.from_json(F.col("props"), "map<string,int>")
    return (
        t("events")
        .select(
            "event_id",
            F.element_at(m, "k").alias("k_value"),
            F.size(F.map_keys(m)).alias("n_keys"),
        )
        .filter(F.col("event_id") < 2000)
    )


def array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: transform/filter/exists/zip_with/
    aggregate — the lambda-expression family (whole-stage codegen'd)."""
    t = _t(spark, sf_dir)
    e = F.col("embedding")
    ed = F.transform(e, lambda x: x.cast("double"))
    return (
        t("embeddings")
        .filter(F.col("vec_id") < 300)
        .select(
            "vec_id",
            F.size(F.filter(ed, lambda x: x > 0)).alias("n_positive"),
            F.round(
                F.aggregate(F.zip_with(ed, ed, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x),
                6,
            ).alias("norm_sq"),
            (F.size(F.filter(ed, lambda x: x > 0.9)) > 0).alias("has_big"),
            F.round(
                F.aggregate(F.transform(ed, lambda x: F.abs(x)), F.lit(0.0), lambda a, x: a + x),
                6,
            ).alias("l1_norm"),
        )
    )


def string_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string family: lpad/reverse/repeat/instr/translate/
    levenshtein (fuzzy-match primitive for entity resolution)."""
    t = _t(spark, sf_dir)
    return (
        t("part")
        .filter(F.col("p_partkey") < 300)
        .select(
            "p_partkey",
            F.lpad("p_brand", 12, "*").alias("brand_padded"),
            F.reverse(F.col("p_name")).alias("name_rev"),
            F.repeat(F.lit("ab"), 3).alias("const_rep"),
            F.instr(F.col("p_name"), "a").alias("first_a"),
            F.translate("p_type", "AEO", "430").alias("type_l33t"),
            F.levenshtein("p_name", "p_brand").alias("lev_name_brand"),
        )
    )


def date_family2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second date/time family: quarter/dayofweek/weekofyear/last_day/
    add_months (calendar arithmetic beyond the reference's F8-F13)."""
    t = _t(spark, sf_dir)
    return (
        t("orders")
        .filter(F.col("o_orderkey") < 300)
        .select(
            "o_orderkey",
            F.quarter("o_orderdate").alias("order_quarter"),
            F.dayofweek("o_orderdate").alias("order_dow"),
            F.weekofyear("o_orderdate").alias("order_week"),
            F.last_day("o_orderdate").alias("month_end"),
            F.add_months("o_orderdate", 3).alias("plus_3_months"),
        )
    )


def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: one hash-agg pass over the bucket id —
    the distributed histogram plan (no sort, no collect)."""
    t = _t(spark, sf_dir)
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("bigint")
    return (
        t("orders")
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


def chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (LLM pipeline): 40-token chunks, stride
    30 — generator + slice expressions, no Python, no shuffle."""
    from ..operators.text import chunk_documents

    t = _t(spark, sf_dir)
    return chunk_documents(
        t("documents").filter(F.col("doc_id") < 100), chunk_size=40, stride=30
    )


def rolling_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (Rabin-Karp
    style): fold (acc·31 + token_hash) mod 2⁴⁰ over the token sequence
    — unlike the md5 content fingerprint this changes when tokens are
    REORDERED, and it's incrementally updatable. Pure fold expression
    (F.aggregate) both engines can compute bit-for-bit; token hash is
    the portable md5-prefix trick."""
    from ..functions import tokens

    t = _t(spark, sf_dir)
    mask = (1 << 40) - 1
    tok_hash = lambda x: F.conv(F.substring(F.md5(x), 1, 10), 16, 10).cast("long")  # noqa: E731
    roll = F.aggregate(
        tokens(F.col("text")),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + tok_hash(x)).bitwiseAND(F.lit(mask)),
    )
    return t("documents").select("doc_id", roll.alias("rolling_fp"))


def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (LLM pipeline): concat-and-chunk documents per
    language into 256-token training sequences; docs span boundaries,
    so zero padding. One window shuffle on the pack key, one explode —
    no global sort. Oracle: same running-sum + generate_series in SQL."""
    from ..operators.corpus import pack_sequences

    t = _t(spark, sf_dir)
    return pack_sequences(t("documents"), seq_len=256, pack_key="lang")


def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (LLM pipeline): docs from source
    'src0' play the eval suite; every other document is scored by
    distinct shared word-3-grams and flagged at ≥2. Benchmark gram set
    is broadcast — the corpus side never shuffles on the gram."""
    from ..operators.corpus import decontaminate

    t = _t(spark, sf_dir)
    docs = t("documents")
    return decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=3,
        min_overlap=2,
    )


def tfidf_top_terms_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. Ranking keyed on
    (tf desc, df asc, term) — integers + string, so engine float ulps
    can't flip the order; the float score is display-only (round 6)."""
    from ..operators.corpus import tfidf_top_terms

    t = _t(spark, sf_dir)
    return tfidf_top_terms(t("documents"), k=3)


def repeated_gram_ratio_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection (LLM pipeline): per-doc fraction of its
    distinct word-3-grams occurring in ≥2 documents; >0.5 flags
    template text. Linear in total grams — no pairwise joins."""
    from ..operators.corpus import repeated_gram_ratio

    t = _t(spark, sf_dir)
    return repeated_gram_ratio(t("documents"), n=3, boilerplate_threshold=0.5)


def train_split_shard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split + shard + shuffle key from
    engine-portable md5 hashes — zero shuffles, auditable in plain SQL
    (the oracle recomputes every assignment)."""
    from ..operators.corpus import train_split_shard

    t = _t(spark, sf_dir)
    return train_split_shard(t("documents"), n_shards=64, seed=42)


def grouped_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free grouped split (operators.corpus.train_split_shard
    with group_col='source'): the split hash keys on the document's
    source, so every source lands WHOLLY in one split and
    near-duplicates within a source can never straddle train/val —
    the split-contamination rule serious eval setups enforce. Output
    aggregates to (source, split, n_docs); n_splits_per_source == 1
    for every source is visible in the row count (one row per
    source)."""
    from ..operators.corpus import train_split_shard

    tune(spark)
    t = _t(spark, sf_dir)
    d = t("documents")
    assigned = train_split_shard(
        d, n_shards=64, seed=42, group_col="source"
    ).join(d.select("doc_id", "source"), "doc_id")
    return assigned.groupBy("source", "split").agg(
        F.count("*").alias("n_docs")
    )


def date_spine_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine generation + zero-fill (the reporting staple Spark
    expresses with sequence+explode): every day of 1996-01 with its
    order count, 0 where no orders — generator, not a table scan, on
    the spine side; left join + coalesce for the fill."""
    t = _t(spark, sf_dir)
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1996-01-01").cast("date"),
                F.lit("1996-01-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    per_day = (
        t("orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-02-01").cast("timestamp"))
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    return spine.join(per_day, "day", "left").select(
        "day", F.coalesce("n", F.lit(0)).alias("n_orders")
    )


def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling family: nullif-manufactured NULLs, null-safe
    equality (<=> / IS NOT DISTINCT FROM), NULL grouping keys,
    count(*) vs count(col) semantics."""
    t = _t(spark, sf_dir)
    n = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return (
        t("orders")
        .select(
            n.alias("status_or_null"),
            F.col("o_totalprice"),
            n.eqNullSafe(F.lit("F")).alias("is_f_nullsafe"),
        )
        .groupBy("status_or_null")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("status_or_null").alias("n_nonnull"),
            F.count(F.when(F.col("is_f_nullsafe"), 1)).alias("n_f"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


def misc_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding + bitwise families: base64, hex, and the bit_and/or/xor
    aggregates (all JVM-side; DuckDB twins exist for each)."""
    t = _t(spark, sf_dir)
    return (
        t("lineitem")
        .filter(F.col("l_orderkey") < 200)
        .groupBy("l_returnflag")
        .agg(
            F.bit_and("l_linenumber").alias("band"),
            F.bit_or("l_linenumber").alias("bor"),
            F.bit_xor("l_orderkey").alias("bxor"),
            F.max(F.base64(F.encode(F.col("l_linestatus"), "UTF-8"))).alias("b64_max"),
            F.max(F.hex(F.col("l_orderkey"))).alias("hex_max"),
        )
    )


def applyinpandas_group_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the per-group Python escape hatch,
    Arrow-batched): OLS slope of extendedprice ~ quantity per return
    flag. The oracle is SQL regr_slope — covariance/variance population
    form — so the Python path is value-checked against the relational
    one."""
    import pandas as pd

    def slope(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["l_quantity"].astype(float)
        y = pdf["l_extendedprice"].astype(float)
        cov = ((x - x.mean()) * (y - y.mean())).sum() / len(x)
        var = ((x - x.mean()) ** 2).sum() / len(x)
        return pd.DataFrame(
            {"l_returnflag": [pdf["l_returnflag"].iloc[0]], "slope": [round(cov / var, 4)]}
        )

    t = _t(spark, sf_dir)
    return (
        t("lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .groupBy("l_returnflag")
        .applyInPandas(slope, schema="l_returnflag string, slope double")
    )


def pandas_udf_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas_udf (the sanctioned Python hot
    path): z-score arithmetic over broadcast global stats. The stats
    come from one agg; the UDF does batch arithmetic only."""
    from pyspark.sql.functions import pandas_udf

    # lambda form: `from __future__ import annotations` stringifies type
    # hints, which the hinted pandas_udf signature parser can't resolve
    zscore = pandas_udf(lambda x, mu, sigma: ((x - mu) / sigma).round(6), "double")

    t = _t(spark, sf_dir)
    o = t("orders")
    stats = o.agg(
        F.avg("o_totalprice").alias("mu"), F.stddev_samp("o_totalprice").alias("sigma")
    )
    return (
        o.filter(F.col("o_orderkey") < 2000)
        .join(F.broadcast(stats))
        .select("o_orderkey", zscore(F.col("o_totalprice"), F.col("mu"), F.col("sigma")).alias("price_z"))
    )


def multimodal_stub_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing: Arrow-batched mapInPandas feature
    stub over binary payloads. Oracle-twinned — the byte-bucket math is
    rebuilt in SQL (corpus is pure ASCII, so char code points are the
    UTF-8 bytes), value-checking the Python batch path end to end."""
    from ..operators.multimodal import decode_stub_features, with_binary_metadata

    t = _t(spark, sf_dir)
    d = t("documents").select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    feat = decode_stub_features(with_binary_metadata(d, "payload"), "payload", n_features=4)
    return feat.select(
        "doc_id",
        "payload_size",
        F.round(F.element_at("features", 1), 4).alias("f0"),
        F.round(F.element_at("features", 4), 4).alias("f3"),
    )


def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long melt): three measure columns folded into
    (metric, val) rows — Spark's DataFrame.unpivot — then re-aggregated
    per flag × metric. Oracle: UNION-ALL melt."""
    t = _t(spark, sf_dir)
    return (
        t("lineitem")
        .unpivot(
            ids=["l_returnflag"],
            values=["l_quantity", "l_extendedprice", "l_discount"],
            variableColumnName="metric",
            valueColumnName="val",
        )
        .groupBy("l_returnflag", "metric")
        .agg(F.count("*").alias("n"), F.round(F.avg("val"), 4).alias("avg_val"))
    )


def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE window frame: per event, activity of the SAME
    user over the trailing hour — a value-based (not row-count) frame,
    exact integer arithmetic on epoch microseconds in both engines.
    One shuffle on the user key; the frame is evaluated by a sliding
    aggregate inside the sorted partition (no self-join explosion)."""
    from pyspark.sql import Window

    t = _t(spark, sf_dir)
    hour_us = 3600 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-hour_us, 0)
    )
    return t("events").select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_trailing_hour"),
        F.round(F.sum("value").over(w), 2).alias("value_trailing_hour"),
    )


def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile (ANALYZE-style): row/null/distinct counts
    + typed min/max for five columns in a SINGLE wide aggregate — one
    job however many columns are profiled
    (operators/profile.py::profile). Oracle: per-column UNION ALL."""
    from ..operators.profile import profile

    t = _t(spark, sf_dir)
    return profile(
        t("orders"),
        ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority"],
    )


def expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rules (not_null/unique/between/in_set/
    regex), ALL evaluated in one aggregate pass
    (ingest/expectations.py::evaluate) — the data-level validation layer
    next to the reference's config-level checks (C1/C2) and structural
    quarantine (T6)."""
    from ..ingest.expectations import Expectation, evaluate

    t = _t(spark, sf_dir)
    rules = [
        Expectation("orderkey_not_null", "o_orderkey", "not_null"),
        Expectation("orderkey_unique", "o_orderkey", "unique"),
        Expectation("totalprice_range", "o_totalprice", "between", lo=0.0, hi=450000.0),
        Expectation("status_domain", "o_orderstatus", "in_set", allowed=("F", "O", "P")),
        Expectation(
            "priority_format", "o_orderpriority", "matches", pattern="^[1-5]-[A-Z ]+$"
        ),
    ]
    return evaluate(t("orders"), rules)


def session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native dynamic-gap session windows (F.session_window) on a batch
    frame — the same operator the streaming path uses, so stream/batch
    share session semantics. Oracle: gaps-and-islands SQL (lag + running
    sum), with the session end = last event + gap convention."""
    from ..streaming.windows import session_window_agg

    t = _t(spark, sf_dir)
    return session_window_agg(t("events"), gap="30 minutes")


def seeded_shuffle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: dense 0-based rank
    in md5(seed:id) order via hash-prefix bucketing — no
    single-partition window, no driver sort, no sampled range
    boundaries (operators/corpus.py::seeded_shuffle). Oracle: plain
    row_number over the same portable hash."""
    from ..operators.corpus import seeded_shuffle

    t = _t(spark, sf_dir)
    return seeded_shuffle(t("documents").select("doc_id"), seed=7).select(
        "doc_id", "shuffle_rank"
    )


def frame_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: every 2nd 64-byte frame of each
    payload, one row per sampled frame with a deterministic frame
    fingerprint (operators/multimodal.py::sample_frames, Arrow-batched
    mapInPandas). Oracle: generate_series over the same frame grid with
    the fingerprint recomputed from hex(payload) slices."""
    from ..operators.multimodal import sample_frames

    t = _t(spark, sf_dir)
    d = t("documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return sample_frames(d, "payload", frame_bytes=64, stride=2)


def resize_stub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize/resample plumbing: keep every 4th payload byte
    (operators/multimodal.py::resize_stub — the PIL/librosa stand-in,
    same Arrow mapInPandas surface and output contract). Oracle:
    strided hex-slice reassembly + md5 in SQL."""
    from ..operators.multimodal import resize_stub

    t = _t(spark, sf_dir)
    d = t("documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return resize_stub(d, "payload", stride=4)


def corpus_diff_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (CDC shape): two synthetic versions of the
    documents table — old drops doc_id%7==0, new drops doc_id%11==0 and
    rewrites doc_id%5==0 — classified added/removed/changed/unchanged
    by content fingerprint over a FULL OUTER join of (id, md5) pairs
    (operators/corpus.py::corpus_diff)."""
    from ..operators.corpus import corpus_diff

    t = _t(spark, sf_dir)
    d = t("documents")
    old = d.filter(F.col("doc_id") % 7 != 0)
    new = d.filter(F.col("doc_id") % 11 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


def _events_stream(spark: SparkSession, sf_dir: str):
    """File-source stream over the events table: symlink the parquet
    file into a fresh directory (the streaming source requires one),
    coerce ``ts`` to TIMESTAMP (watermarks reject NTZ; session tz is
    UTC so the cast is value-preserving), save/restore the nanos conf.
    Returns (stream_df, cleanup_fn)."""
    import shutil

    prev_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    src_dir = tempfile.mkdtemp(prefix="dif_stream_src_")
    os.symlink(path, os.path.join(src_dir, "events.parquet"))

    def cleanup():
        shutil.rmtree(src_dir, ignore_errors=True)
        if prev_nanos is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev_nanos)

    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream, cleanup


def _drain_stream(df: DataFrame, name: str, output_mode: str):
    """Run a streaming frame to a memory sink with Trigger.AvailableNow
    and return the materialized result table."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    return df.sparkSession.table(name)


def stream_hourly_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming parity: the SAME windowed-agg plan as the
    batch form, run as a real stream (file source → tumbling window →
    memory sink, Trigger.AvailableNow) — the oracle is the batch SQL.
    Streams and batch share one logical plan; this proves it."""
    from ..streaming.windows import tumbling_window_agg

    tune(spark)
    stream, cleanup = _events_stream(spark, sf_dir)
    try:
        agg = tumbling_window_agg(stream, window="1 hour", watermark="10 minutes")
        return _drain_stream(agg, "stream_hourly_parity", "complete")
    finally:
        cleanup()


def stream_stateful_counters_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming (T8) in the correctness gate: per-user
    running counters via ``applyInPandasWithState`` — checkpointed
    per-key state, Arrow-batched callback, update mode — drained with
    Trigger.AvailableNow. After the drain the state equals the batch
    aggregate, so the oracle is the plain GROUP BY."""
    from ..streaming.stateful import running_user_counters

    tune(spark)
    stream, cleanup = _events_stream(spark, sf_dir)
    try:
        agg = running_user_counters(stream)
        return _drain_stream(agg, "stream_stateful_counters", "update")
    finally:
        cleanup()


def stream_rollup_merge_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained rollup in the correctness gate: stream
    events → foreachBatch partial aggregate → additive MERGE into a
    managed table (streaming/rollup.py) — the continuous-aggregate
    pattern where each batch costs O(batch), not O(table). After the
    AvailableNow drain the table EQUALS the batch rollup, so the oracle
    is the plain GROUP BY. Exercises K5 MERGE + T2 foreachBatch under
    the hash contract."""
    import shutil

    from ..catalog.table import TableCatalog
    from ..streaming.rollup import streaming_rollup

    tune(spark)
    stream, cleanup = _events_stream(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="dif_rollup_")
    try:
        cat = TableCatalog(spark, root)
        cat.create_schema("main")
        table = cat.table("main.events_rollup")
        streaming_rollup(
            stream, table, checkpoint=os.path.join(root, "ckpt")
        )
        out = table.read().select(
            "bucket",
            "event_type",
            "n",
            F.round("total_value", 2).alias("total_value"),
        )
        out = spark.createDataFrame(out.collect(), out.schema)  # detach from tmp files
        return out
    finally:
        cleanup()
        shutil.rmtree(root, ignore_errors=True)


def stream_cms_rollup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch maintained BY A STREAM under the hash gate:
    events arrive in three micro-batches (maxFilesPerTrigger=1),
    foreachBatch sketches each batch and additively merges it into a
    persisted parquet sketch store (operators.sketches.
    cms_merge_into_store) — each batch costs O(batch), the raw stream
    is never re-read. Counter addition commutes, so the drained store
    EQUALS the one-shot sketch of all events; the oracle rebuilds that
    one-shot sketch in SQL (portable md5 buckets), making even the
    sketch's collisions hash-checkable. Output: estimate vs true count
    per user_id < 40."""
    import shutil
    import time as _time

    from ..operators.sketches import cms_estimate, cms_merge_into_store

    tune(spark)
    t = _t(spark, sf_dir)
    ev = t("events").select("event_id", "user_id")
    root = tempfile.mkdtemp(prefix="dif_cms_stream_")
    src = os.path.join(root, "src")
    store = os.path.join(root, "sketch")
    os.makedirs(src)
    now = _time.time()
    for i in range(3):
        p = os.path.join(src, f"batch{i}.parquet")
        ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i).coalesce(
            1
        ).write.mode("overwrite").parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (now - 600 + i * 100,) * 2)
    try:
        stream = (
            spark.readStream.schema("event_id long, user_id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(src, "*.parquet"))
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda b, _id: cms_merge_into_store(
                    b, "user_id", store, batch_id=_id
                )
            )
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        sketch = spark.read.parquet(store)
        keys = ev.select("user_id").filter(F.col("user_id") < 40).distinct()
        true = (
            ev.filter(F.col("user_id") < 40)
            .groupBy("user_id")
            .agg(F.count("*").alias("true_cnt"))
        )
        out = (
            cms_estimate(sketch, keys, "user_id")
            .join(true, "user_id")
            .select(
                "user_id",
                "est_cnt",
                "true_cnt",
                (F.col("est_cnt") - F.col("true_cnt")).alias("overestimate"),
            )
        )
        return spark.createDataFrame(out.collect(), out.schema)  # detach from tmp files
    finally:
        shutil.rmtree(root, ignore_errors=True)


def stream_static_enrich_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join in the correctness gate: streaming
    events joined to the static customer dimension — stateless, the
    static side broadcast fresh each micro-batch (the standard dim
    enrichment shape; at 100 TB the stream side never shuffles and the
    dim refreshes per batch). Oracle: the same join in batch SQL."""
    tune(spark)
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    stream, cleanup = _events_stream(spark, sf_dir)
    try:
        joined = stream.join(
            F.broadcast(cust), stream["user_id"] == cust["c_custkey"]
        ).select("event_id", "user_id", "c_nationkey")
        return _drain_stream(joined, "stream_static_enrich", "append")
    finally:
        cleanup()


def stream_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` in the correctness gate: each
    (user_id, event_type) key emitted exactly once (append mode,
    state bounded by the watermark). Only the key columns are returned,
    so the result is independent of which duplicate arrived first —
    the oracle is SELECT DISTINCT."""
    from ..streaming.windows import streaming_dedup

    tune(spark)
    stream, cleanup = _events_stream(spark, sf_dir)
    try:
        dd = streaming_dedup(stream, keys=["user_id", "event_type"]).select(
            "user_id", "event_type"
        )
        return _drain_stream(dd, "stream_dedup_keys", "append")
    finally:
        cleanup()


def stream_dedup_rocksdb_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same watermarked stateful dedup, but with the RocksDB state
    store engaged (session.use_rocksdb_state) — proving the
    state≫heap provider under the hash gate, not just in pytest. The
    provider binds at query start; the prior provider is restored
    after."""
    from ..session import use_rocksdb_state
    from ..streaming.windows import streaming_dedup

    tune(spark)
    conf_keys = (
        "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
    )
    prev = {ck: spark.conf.get(ck, None) for ck in conf_keys}
    use_rocksdb_state(spark)
    stream, cleanup = _events_stream(spark, sf_dir)
    try:
        dd = streaming_dedup(stream, keys=["user_id", "event_type"]).select(
            "user_id", "event_type"
        )
        return _drain_stream(dd, "stream_dedup_rocksdb_keys", "append")
    finally:
        cleanup()
        # Restore EVERY conf use_rocksdb_state touched (provider AND
        # changelog checkpointing) so no session state leaks into
        # subsequent gate queries.
        for ck in conf_keys:
            if prev[ck] is None:
                spark.conf.unset(ck)
            else:
                spark.conf.set(ck, prev[ck])


def stats_regression_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance + least-squares aggregate family (var_pop/var_samp/
    stddev_samp, corr, regr_slope/intercept/r2/count) — definitions
    shared exactly with DuckDB. Values computed on a scaled column
    (price/1e5) so double summation-order differences between engines
    stay far below the rounding cut (the checker compares absolute
    decimals)."""
    tune(spark)
    t = _t(spark, sf_dir)
    s = (F.col("o_totalprice") / F.lit(100000.0)).alias("s")
    k = (F.col("o_orderkey").cast("double") / F.lit(100000.0)).alias("k")
    d = t("orders").select("o_orderstatus", s, k)
    return d.groupBy("o_orderstatus").agg(
        F.round(F.var_pop("s"), 6).alias("vpop"),
        F.round(F.var_samp("s"), 6).alias("vsamp"),
        F.round(F.stddev_samp("s"), 6).alias("sd"),
        F.round(F.corr("s", "k"), 6).alias("c"),
        F.round(F.expr("regr_slope(s, k)"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(s, k)"), 6).alias("icept"),
        F.round(F.expr("regr_r2(s, k)"), 6).alias("r2"),
        F.expr("regr_count(s, k)").alias("n"),
    )


def dedup_keep_best_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the BEST copy (longest text, id tie-break)
    per NORMALIZED-content group (lowercased, whitespace-collapsed) —
    production pipelines keep the least-truncated scrape, not the
    min id. One window over the fingerprint partition; no global
    sort."""
    from ..operators.dedup import drop_duplicates_keep_best

    tune(spark)
    t = _t(spark, sf_dir)
    d = t("documents").withColumn(
        "_k", F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    )
    out = drop_duplicates_keep_best(
        d,
        order_by=[F.length("text").desc(), F.col("doc_id")],
        key_cols=["_k"],
    )
    return out.select("doc_id", "n_chars")


def skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic: top-20 heaviest join/group keys with row
    share and cumulative share — the report you run BEFORE choosing
    salting vs AQE for a 100 TB join (one hash agg + a 20-row window;
    TakeOrderedAndProject keeps the top-k selection distributed)."""
    from pyspark.sql import Window

    tune(spark)
    t = _t(spark, sf_dir)
    ev = t("events")
    total = ev.count()  # scalar; parquet footer count at scan level
    counts = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("user_id"))
        .limit(20)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("user_id"))
    return counts.select(
        "user_id",
        "n",
        F.round(F.col("n") / F.lit(float(total)), 6).alias("share"),
        F.round(
            F.sum("n").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            / F.lit(float(total)),
            6,
        ).alias("cum_share"),
        F.row_number().over(w).alias("rank"),
    )


def char_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per doc — the
    compression-ratio-style junk detector (degenerate/repetitive text
    scores low, natural prose ~4 bits/char). Linear: explode to (doc,
    char) counts, one agg per doc; both shuffles on bounded keys."""
    tune(spark)
    t = _t(spark, sf_dir)
    chars = (
        t("documents")
        .select(
            F.col("doc_id").alias("id"),
            F.explode(F.split(F.col("text"), "")).alias("c"),
        )
        .filter(F.col("c") != "")
        .groupBy("id", "c")
        .agg(F.count("*").alias("k"))
    )
    # H = -Σ (k/N)·log2(k/N) = log2(N) - (Σ k·log2 k)/N — one agg, no
    # second pass for the per-doc total
    n = F.sum("k")
    s = F.sum(F.col("k") * F.log2("k"))
    return chars.groupBy("id").agg(
        n.alias("n_chars"),
        F.round(F.log2(n) - s / n, 4).alias("entropy_bits"),
    )


def ngram_novelty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal novelty: per doc, the share of its distinct
    word-3-grams found in no other doc (operators/text.py::
    ngram_novelty). The anti-boilerplate quality signal — complements
    bigram LM typicality in an ensemble. Linear gram-frequency funnel."""
    from ..operators.text import ngram_novelty

    tune(spark)
    t = _t(spark, sf_dir)
    return ngram_novelty(t("documents"), n=3)


def percentile_family_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentile family (Spark percentile == DuckDB
    quantile_cont, linear interpolation): p25/median/p90 of order value
    per status — the profiling aggregate approx_percentile shortcuts;
    exact is affordable per-group because the sort is within the hash
    aggregate's groups, not global."""
    tune(spark)
    t = _t(spark, sf_dir)
    return (
        t("orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.25)"), 2).alias("p25"),
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
            F.round(F.avg("o_totalprice"), 2).alias("mean"),
        )
    )


def resample_ffill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward fill: per-user hourly spine
    (sequence generator between the user's first and last hour), left
    join the hourly means, gap-fill with last-non-null over an ordered
    window — the standard sensor/metrics densification. Spine
    generation is a scan-side sequence (no join to a calendar table);
    the fill window partitions per user (bounded state)."""
    from pyspark.sql import Window

    tune(spark)
    t = _t(spark, sf_dir)
    ev = t("events").filter(F.col("user_id") < 20)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.round(F.avg("value"), 4).alias("v"))
    # bounded-state resample: the spine is clamped to the most recent
    # 90 days (2160 h) per user, anchored at the user's LATEST hour —
    # without the clamp one corrupt 1970 timestamp would materialize a
    # half-million-row dense spine for that user (fuzz-gate find); a
    # no-op on sane data, where user histories span days
    bounds = ev.groupBy("user_id").agg(
        F.greatest(
            F.date_trunc("hour", F.min("ts")),
            F.date_trunc("hour", F.max("ts"))
            - F.expr("INTERVAL 2160 HOURS"),
        ).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("h"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            "h",
            F.last("v", ignorenulls=True).over(w).alias("filled"),
            F.col("v").isNull().alias("is_gap"),
        )
    )


def substring_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al.): every SLIDING 8-token window
    occurring in ≥2 distinct docs marks its token span for removal;
    docs reassemble from surviving tokens. Catches cross-doc repeats at
    ANY offset — the memorization-removal pass line_dedup's aligned
    segments cannot express. Linear funnel: window explode →
    gram-frequency agg → join → positional anti-join → per-doc
    reassembly."""
    from ..operators.text import remove_duplicate_spans

    tune(spark)
    t = _t(spark, sf_dir)
    return remove_duplicate_spans(t("documents"), k=8, min_docs=2)


def line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level boilerplate dedup: drop every 8-word
    segment whose normalized form occurs in ≥2 distinct documents,
    reassemble the survivors in order. Linear funnel — explode →
    segment-frequency agg → equi-join → per-doc reassembly; no
    pairwise work, no Python."""
    from ..operators.text import remove_duplicate_segments

    tune(spark)
    t = _t(spark, sf_dir)
    return remove_duplicate_segments(
        t("documents"), words_per_segment=8, max_docs=2
    )


def cap_per_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency cap (web-crawl pipelines cap docs per
    domain so one site can't dominate the corpus): keep ≤15 docs per
    ``source``, chosen by a DETERMINISTIC portable-hash order
    (md5 of doc_id) so the kept set is a pure function of the data —
    reproducible across engines, unlike rand()-based sampling. One
    windowed rank per group; no global sort."""
    from ..operators.corpus import cap_per_group

    tune(spark)
    t = _t(spark, sf_dir)
    capped = cap_per_group(t("documents"), group_col="source", cap=15)
    return capped.select("doc_id", "source", "pick_rank")


def url_functions_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing family (host/path/query-param extraction + percent
    decoding) over synthesized crawl URLs — the normalization step
    before per-domain dedup. ``parse_url``/``url_decode`` are
    JVM-side; the oracle rebuilds the same parts with regexes."""
    tune(spark)
    t = _t(spark, sf_dir)
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc-"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=a%20b&page="),
        F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
        F.lit("#frag"),
    )
    d = t("documents").filter(F.col("doc_id") < 300).select(
        "doc_id", url.alias("url")
    )
    return d.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("page")).alias("page_param"),
        F.url_decode(F.parse_url("url", F.lit("QUERY"), F.lit("ref"))).alias(
            "ref_decoded"
        ),
        F.parse_url("url", F.lit("REF")).alias("fragment"),
    )


def stream_near_dup_intake_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup intake UNDER THE HASH GATE: two micro-batches
    (maxFilesPerTrigger=1 over two mtime-ordered files) flow through
    corpus_incremental_near_dup_intake — batch 2 joins batch 1 only via
    the persisted bucketed band index. With monotone ids, the survivor
    set has a declarative definition the oracle states directly: a doc
    survives iff NO smaller-id doc is ≥ 0.3 exact-Jaccard similar. The
    streaming machinery (foreachBatch, checkpoint, index appends) must
    reproduce that set exactly."""
    from ..ingest.corpus import corpus_incremental_near_dup_intake
    from ..operators.bucketing import drop_table_and_location

    tune(spark)
    root = tempfile.mkdtemp(prefix="dif_nd_parity_")
    src = os.path.join(root, "src")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src)
    idx = _gate_name("dif_gate_nd_intake_idx")
    drop_table_and_location(spark, idx)
    t = _t(spark, sf_dir)
    docs = t("documents").select("doc_id", "text").filter(F.col("doc_id") < 300)
    # two files = two micro-batches, ordered oldest-first by mtime
    import time as _time

    now = _time.time()
    for i, (lo, hi) in enumerate(((0, 150), (150, 300))):
        p = os.path.join(src, f"batch{i}.parquet")
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("overwrite").parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (now - 600 + i * 300,) * 2)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*.parquet"))
    )
    q = corpus_incremental_near_dup_intake(
        stream, sink, ckpt, idx, threshold=0.3
    )
    q.awaitTermination(300)
    drop_table_and_location(spark, idx)
    return spark.read.parquet(sink).select("doc_id")


def stream_near_dup_chain_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch TRANSITIVE blocking under the hash gate: three
    micro-batches where batch 1's docs (suffix-75% of each base doc,
    J≈0.74 vs base) are all DROPPED against batch 0, and batch 2's docs
    (suffix-55%, J≈0.72 vs the dropped batch-1 doc but only ≈0.53 vs
    the surviving base) are ≥-threshold-similar ONLY to already-dropped
    docs. The declarative survivor set counts dropped docs as blockers,
    so every batch-2 doc must be dropped — which the stream can only
    reproduce by keeping dropped texts queryable (the companion
    ``_dropped`` store beside the sink). bands=32 (r=2) makes banding
    recall at J≈0.72 deterministic-safe (miss ≈ 0.47^32 per pair);
    every candidate is still exact-verified."""
    from ..functions import tokens
    from ..ingest.corpus import corpus_incremental_near_dup_intake
    from ..operators.bucketing import drop_table_and_location

    tune(spark)
    root = tempfile.mkdtemp(prefix="dif_nd_chain_")
    src = os.path.join(root, "src")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src)
    idx = _gate_name("dif_gate_nd_chain_idx")
    drop_table_and_location(spark, idx)
    t = _t(spark, sf_dir)
    base = t("documents").select("doc_id", "text").filter(F.col("doc_id") < 60)
    ws = tokens(F.col("text"))

    def suffix_variant(frac: float, offset: int) -> DataFrame:
        start = (F.floor(F.size(ws) * F.lit(frac)) + F.lit(1)).cast("int")
        return base.select(
            (F.col("doc_id") + F.lit(offset)).alias("doc_id"),
            F.array_join(F.slice(ws, start, F.size(ws)), " ").alias("text"),
        )

    batches = [base, suffix_variant(0.25, 1000), suffix_variant(0.45, 2000)]
    import time as _time

    now = _time.time()
    for i, bdf in enumerate(batches):
        p = os.path.join(src, f"batch{i}.parquet")
        bdf.coalesce(1).write.mode("overwrite").parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (now - 900 + i * 300,) * 2)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*.parquet"))
    )
    q = corpus_incremental_near_dup_intake(
        stream, sink, ckpt, idx, threshold=0.65, bands=32
    )
    q.awaitTermination(300)
    drop_table_and_location(spark, idx)
    return spark.read.parquet(sink).select("doc_id")


def stream_corpus_prep_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL streaming CorpusPrep in the correctness gate: language
    filter → quality gate → dedup-within-watermark → context-window
    chunking, run as a real stream (file source, AvailableNow drain)
    and hash-matched against the batch SQL composition. ``doc_id`` is
    projected away: which duplicate survives depends on arrival order,
    but chunks are a pure function of the surviving TEXT, so the
    (chunk_id, tokens, chunk) multiset is deterministic."""
    from ..ingest.corpus import CorpusPrepSpec, corpus_stream_prep

    tune(spark)
    src_dir = tempfile.mkdtemp(prefix="dif_corpus_prep_src_")
    path = os.path.join(sf_dir, "documents.parquet")
    os.symlink(path, os.path.join(src_dir, "documents.parquet"))
    try:
        schema = spark.read.parquet(path).schema
        stream = (
            spark.readStream.schema(schema)
            .parquet(src_dir)
            .filter(F.col("doc_id") < 200)
            .withColumn(
                "ts",
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(secs=F.col("doc_id").cast("double")),
            )
        )
        spec = CorpusPrepSpec(
            min_quality=0.5,
            lang_allow=["en", "es"],
            dedup="exact",
            chunk_size=40,
            chunk_stride=30,
        )
        chunks = corpus_stream_prep(stream, spec).select(
            "chunk_id", "n_chunk_tokens", "chunk"
        )
        return _drain_stream(chunks, "stream_corpus_prep", "append")
    finally:
        import shutil

        shutil.rmtree(src_dir, ignore_errors=True)


def line_dedup_within_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition removal: keep only the first
    occurrence of each normalized 8-word segment WITHIN a document
    (template pages repeat blocks inside one page). No corpus-wide
    state — one shuffle on the doc id."""
    from ..operators.text import dedupe_segments_within_doc

    tune(spark)
    t = _t(spark, sf_dir)
    return dedupe_segments_within_doc(
        t("documents"), words_per_segment=8
    )


def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct-count sketch: per-nation customer
    bitmaps (bitmap_construct_agg over bit positions, bucketed) are
    OR-merged to the grand total — the exact-count twin of the HLL
    rollup (`hll_mergeable_rollup`): hierarchy levels come from
    merging per-group sketches, never a second scan of the fact data.
    At 100 TB the bitmap per (group, bucket) is ≤4 KB regardless of
    row count."""
    tune(spark)
    t = _t(spark, sf_dir)
    c = t("customer").join(
        F.broadcast(t("nation")), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("n_name", "c_custkey")
    buckets = c.groupBy(
        "n_name", F.bitmap_bucket_number("c_custkey").alias("bucket")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("c_custkey")).alias("bm"))
    per_nation = buckets.groupBy("n_name").agg(
        F.sum(F.bitmap_count("bm")).alias("distinct_customers")
    )
    grand = (
        buckets.groupBy("bucket")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .agg(F.sum(F.bitmap_count("bm")).alias("distinct_customers"))
        .select(F.lit("ALL").alias("n_name"), "distinct_customers")
    )
    return per_nation.unionByName(grand)


def gopher_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gate (operators/text.py::gopher_quality_flags)
    rolled up per source: every rule is a scan-side column expression,
    so the whole gate is one pass over the corpus — zero shuffles
    beyond the final per-source agg. Gate params tuned to the testdata
    distribution (word counts 10–99, 'the' in ~76% of docs) so both
    word-count and required-word rules actually discriminate."""
    from ..operators.text import gopher_quality_flags

    tune(spark)
    t = _t(spark, sf_dir)
    flags = gopher_quality_flags(
        t("documents"), min_words=30, min_required_hits=1
    )
    b = lambda c: F.sum((~F.col(c)).cast("int"))  # noqa: E731 — rule-failure count
    return flags.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        b("ok_word_count").alias("fail_word_count"),
        b("ok_mean_word_len").alias("fail_mean_word_len"),
        b("ok_symbol_ratio").alias("fail_symbol_ratio"),
        b("ok_alpha_words").alias("fail_alpha_words"),
        b("ok_required_words").alias("fail_required_words"),
        b("ok_line_shape").alias("fail_line_shape"),
        F.sum(F.col("pass_gopher").cast("int")).alias("n_pass"),
        F.round(F.avg("mean_word_len"), 4).alias("avg_mean_word_len"),
    )


def c4_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line cleaning (operators/text.py::c4_line_filter): keep
    segments with ≥5 words and no blocklisted phrase ('customer' here —
    the corpus has it, so the rule bites), then drop docs left with <3
    segments. Terminal-punctuation rule off: the testdata corpus has no
    punctuation (the real-line mode is pytest-covered). Explode →
    per-segment predicate → one per-doc reassembly shuffle."""
    from ..operators.text import c4_line_filter

    tune(spark)
    t = _t(spark, sf_dir)
    return c4_line_filter(
        t("documents"),
        words_per_segment=8,
        min_words=5,
        require_terminal_punct=False,
        blocklist=("customer",),
        min_kept_segments=3,
    )


def stream_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 stream-stream INTERVAL JOIN: clicks joined to same-user
    purchases within 30 minutes, both sides watermarked (1 h) so Spark
    can bound join state — the exact shape of a funnel-attribution
    stream at scale (state per user pruned as the watermark advances).
    AvailableNow drain; batch SQL range-join oracle proves parity.

    Stateful shuffle partitions are sized to STATE VOLUME, not CPU
    count: a stream-stream join opens 4 state stores per partition, so
    32 partitions means 128 store open/commit cycles per microbatch —
    measured 17 s at 32 partitions vs 4 s at 8 for the same data. On a
    real cluster this knob scales with state size, never defaulted."""
    from ..streaming.joins import stream_interval_join

    tune(spark)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    stream, cleanup = _events_stream(spark, sf_dir)
    try:
        purchases = stream.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.col("event_id").alias("purchase_id")
        )
        clicks = stream.filter(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("event_id").alias("click_id")
        )
        joined = stream_interval_join(
            purchases, clicks, on="user_id", within="30 minutes"
        ).select("user_id", F.col("r_click_id").alias("click_id"), "purchase_id")
        return _drain_stream(joined, "stream_join_pairs", "append")
    finally:
        cleanup()
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def format_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format coverage under the hash gate: the same orders slice is
    written to ORC, CSV, JSON and XML (built-in since Spark 4) sinks,
    read back through each source, and aggregated — one row per format,
    value-identical to the direct SQL aggregate. totalprice is carried
    as DECIMAL(12,2) so the text formats round-trip exactly. Each leg
    is a full sink+source proof; at scale all four writes are parallel
    partitioned writes. (Avro needs the external spark-avro module —
    absent from this pip distribution, documented env gap.)"""
    import shutil

    tune(spark)
    t = _t(spark, sf_dir)
    src = (
        t("orders")
        .filter(F.col("o_orderkey") < 5000)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
        )
    )
    root = tempfile.mkdtemp(prefix="dif_fmt_")
    schema = "o_orderkey bigint, o_orderstatus string, price decimal(12,2)"
    frames = []
    try:
        for fmt in ("orc", "csv", "json", "xml"):
            path = os.path.join(root, fmt)
            w = src.write.mode("overwrite").format(fmt)
            if fmt == "csv":
                w = w.option("header", "true")
            elif fmt == "xml":
                w = w.option("rootTag", "orders").option("rowTag", "order")
            w.save(path)
            r = spark.read.format(fmt)
            if fmt == "csv":
                r = r.option("header", "true")
            elif fmt == "xml":
                r = r.option("rowTag", "order")
            back = r.schema(schema).load(path)
            frames.append(
                back.agg(
                    F.lit(fmt).alias("fmt"),
                    F.count("*").alias("n_rows"),
                    F.sum("price").alias("total_price"),
                    F.count_distinct("o_orderstatus").alias("n_status"),
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        rows = out.collect()  # materialize before the temp dir is removed
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval: BM25 top-20 for a 3-term query
    (operators/retrieval.py::bm25_topk) — corpus stats collapse to one
    broadcast row, per-doc scores are scan-side expressions, top-k is
    TakeOrderedAndProject. The oracle recomputes the same closed-form
    BM25 in SQL."""
    from ..operators.retrieval import bm25_topk

    tune(spark)
    t = _t(spark, sf_dir)
    return bm25_topk(
        t("documents"), ["spark", "window", "merge"], k=20
    )


def inverted_index_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (operators/retrieval.py::
    build_inverted_index) summarized per term: document frequency,
    total tf, and the first posting. The full posting arrays are built
    (and verified through df/total/first-posting which are functions of
    them); two linear shuffles, no Python."""
    from ..operators.retrieval import build_inverted_index

    tune(spark)
    t = _t(spark, sf_dir)
    idx = build_inverted_index(t("documents"))
    return idx.select(
        "term",
        "df",
        F.aggregate(
            "postings", F.lit(0).cast("long"), lambda a, x: a + x["tf"]
        ).alias("total_tf"),
        F.element_at("postings", 1)["doc"].alias("first_doc"),
        F.element_at("postings", 1)["tf"].alias("first_tf"),
    )


def bigram_lm_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM quality scoring (operators/text.py::
    bigram_lm_score): the CCNet LM-filter shape without an external
    model. Counts ARE the model; scoring is joins + one mean — all
    linear. Oracle recomputes counts and add-k probabilities in SQL."""
    from ..operators.text import bigram_lm_score

    tune(spark)
    t = _t(spark, sf_dir)
    return bigram_lm_score(t("documents").filter(F.col("doc_id") < 300))


def bigram_lm_persisted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-model serving path of bigram LM filtering:
    save_bigram_lm writes the count tables bucketed (c12 by gram_key,
    c1 by w1), bigram_lm_score_with re-scores via joins whose keys ARE
    the bucket columns — the model side never reshuffles, each batch is
    O(batch). Trained on and scored over the same 300-doc slice, so the
    result (and oracle) is identical to the in-plan bigram_lm_score —
    proving build∘serve == train-in-plan. Unseen-bigram fallback is
    covered in pytest."""
    from ..operators.text import bigram_lm_score_with, save_bigram_lm

    tune(spark)
    t = _t(spark, sf_dir)
    docs = t("documents").filter(F.col("doc_id") < 300)
    prefix = _gate_name("dif_gate_bigram_lm")
    _GATE_TABLES.update({f"{prefix}_c12", f"{prefix}_c1"})
    save_bigram_lm(docs, spark, prefix)
    return bigram_lm_score_with(docs, spark, prefix)


def bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join UNDER THE HASH GATE: customer and
    orders are written bucketed by custkey (16 buckets) and joined with
    broadcast disabled — the physical plan contains no Exchange above
    either scan (asserted here, not just in pytest: the gate entry
    FAILS if a shuffle sneaks back in). The bucket layout is the 100 TB
    lever: the shuffle is paid once at write time, amortized over every
    later join."""
    from ..operators.bucketing import (
        bucketed_join,
        drop_table_and_location,
        write_bucketed,
    )

    tune(spark)
    t = _t(spark, sf_dir)
    tc, to = _gate_name("gate_bkt_cust"), _gate_name("gate_bkt_ord")
    drop_table_and_location(spark, tc)
    drop_table_and_location(spark, to)
    write_bucketed(
        t("customer").select("c_custkey", "c_mktsegment"), tc,
        "c_custkey", n_buckets=16,
    )
    write_bucketed(
        t("orders").select(
            F.col("o_custkey").alias("c_custkey"), "o_totalprice"
        ),
        to, "c_custkey", n_buckets=16,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, tc, to, "c_custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "Exchange hashpartitioning" in plan:
            raise AssertionError("bucketed join planned a shuffle Exchange")
        out = joined.groupBy("c_mktsegment").agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        rows = out.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {tc}")
        spark.sql(f"DROP TABLE IF EXISTS {to}")
    return spark.createDataFrame(rows, out.schema)


def funnel_stages_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (signup → click → purchase by FIRST
    occurrence time per user): one conditional-min aggregation per user
    — a single hash-agg shuffle regardless of funnel depth, no self-
    joins (the naive N-stage funnel is N-1 self-joins; conditional
    minima replace them all). Output: entered/completed counts per
    stage plus median hours signup→purchase for completers."""
    tune(spark)
    t = _t(spark, sf_dir)
    firsts = (
        t("events")
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
        )
    )
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & F.col("t_click").isNotNull() & (F.col("t_click") > F.col("t_signup"))
    s3 = s2 & F.col("t_purchase").isNotNull() & (F.col("t_purchase") > F.col("t_click"))
    hours = (
        F.col("t_purchase").cast("double") - F.col("t_signup").cast("double")
    ) / 3600.0
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.sum(s1.cast("int")).alias("n_signup"),
        F.sum(s2.cast("int")).alias("n_signup_click"),
        F.sum(s3.cast("int")).alias("n_full_funnel"),
        F.round(
            F.expr(
                "percentile(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup "
                "AND t_purchase > t_click THEN "
                "(cast(t_purchase AS double) - cast(t_signup AS double)) / 3600.0 END, 0.5)"
            ),
            4,
        ).alias("median_hours_to_purchase"),
    )


def hashed_embedding_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing embeddings (operators/retrieval.py::
    hashed_embedding): the deterministic text→vector link ahead of the
    ANN family. Long-format (id, dim, value) output keeps the hash gate
    array-free; the oracle recomputes bucket/sign/normalize in SQL."""
    from ..operators.retrieval import hashed_embedding

    tune(spark)
    t = _t(spark, sf_dir)
    return hashed_embedding(
        t("documents").filter(F.col("doc_id") < 300), dim=64
    )


def try_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode-safe arithmetic family: try_divide / try_cast /
    try_add / try_element_at return NULL where strict ANSI semantics
    would raise — the error-tolerant path ETL needs when a 100 TB scan
    must not die on one malformed row. Oracle: TRY_CAST + NULLIF
    equivalents."""
    tune(spark)
    t = _t(spark, sf_dir)
    o = t("orders").filter(F.col("o_orderkey") < 2000)
    return o.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") % 3).alias(
            "div_or_null"
        ),
        F.regexp_extract("o_orderpriority", r"^(\d+)", 1)
        .try_cast("int")
        .alias("prio_num"),
        F.col("o_orderstatus").try_cast("int").alias("status_as_int"),
        F.try_element_at(
            F.split("o_orderpriority", "-"), F.lit(2)
        ).alias("prio_word"),
    )


def cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (operators.behavior.
    cohort_retention, granularity='week'): users grouped by first-seen
    week, counted by distinct activity per week offset. Two hash-agg
    shuffles — no self-join of the event log with itself, which is the
    naive formulation and quadratic-prone at 100 TB. The operator's
    daily mode is pinned by TestBehaviorOps."""
    from ..operators.behavior import cohort_retention

    tune(spark)
    t = _t(spark, sf_dir)
    return cohort_retention(t("events"), granularity="week")


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-50 (lexical) and cosine top-50
    (semantic, the aligned embeddings table) fused by reciprocal-rank
    fusion (RRF, Cormack et al. 2009: Σ 1/(60+rank)). The two branches
    are the already-proven operators; fusion is a full-outer join of
    two 50-row frames — negligible at any scale, the cost lives in the
    branches. Top-20 of the fused score."""
    from ..operators.retrieval import bm25_topk
    from ..operators.similarity import cosine_topk

    tune(spark)
    t = _t(spark, sf_dir)
    lex = bm25_topk(t("documents"), ["spark", "window", "merge"], k=50)
    emb = t("embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:  # empty embeddings: semantic branch contributes nothing
        sem = spark.createDataFrame([], "vec_id long, cosine_sim double")
    else:
        sem = cosine_topk(emb.filter(F.col("vec_id") != 0), qrow[0], k=50)
    wl = Window.orderBy(F.desc("score"), F.col("doc_id"))
    ws = Window.orderBy(F.desc("cosine_sim"), F.col("vec_id"))
    lexr = lex.select("doc_id", F.row_number().over(wl).alias("lex_rank"))
    semr = sem.select(
        F.col("vec_id").alias("doc_id"), F.row_number().over(ws).alias("sem_rank")
    )
    fused = lexr.join(semr, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        F.round(
            F.coalesce(1.0 / (F.col("lex_rank") + 60), F.lit(0.0))
            + F.coalesce(1.0 / (F.col("sem_rank") + 60), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.col("doc_id")).limit(20)


def pagerank_doc_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative numeric fixpoint in the gate: 3 PageRank iterations
    (operators/graph.py::pagerank) over a deterministic functional
    graph derived from the documents table (doc_id → (31·doc_id+7) mod
    400). The oracle unrolls the same 3 iterations as chained CTEs —
    bit-comparable after round(,6)."""
    from ..operators.graph import pagerank

    tune(spark)
    t = _t(spark, sf_dir)
    edges = t("documents").select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 31 + 7, F.lit(400)).alias("dst"),
    )
    pr = pagerank(edges, iterations=3, damping=0.85)
    return pr.select("node", F.round("rank", 6).alias("rank"))


def pandas_grouped_agg_gmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 GROUPED_AGG Pandas UDF (the one UDF variant the other
    entries don't cover): per-priority geometric mean of order value as
    an Arrow-batched vectorized aggregate (AggregateInPandas — one
    batch per group partition, NOT row-at-a-time). Oracle:
    exp(avg(ln(x))). Production note: built-in exp/avg/ln expresses
    this exactly (and faster) — the entry exists to prove the custom-
    UDAF surface, the shape you reach for when the aggregate is NOT
    SQL-expressible."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    tune(spark)
    t = _t(spark, sf_dir)

    # explicit functionType: this module uses `from __future__ import
    # annotations`, so type-hint inference sees strings and fails
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def gmean(v):
        import numpy as np

        return float(np.exp(np.log(v).mean()))

    return (
        # geometric mean is defined on POSITIVE values: filter, don't
        # let a zero-price row make one engine error (DuckDB ln(0)) and
        # the other emit -inf-collapsed 0.0 (numpy log(0))
        t("orders")
        .filter(F.col("o_totalprice") > 0)
        .groupBy("o_orderpriority")
        .agg(F.round(gmean("o_totalprice"), 2).alias("gmean_price"))
    )


def binary_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal ingest front door: the ``binaryFile`` source reads
    opaque payloads as (path, length, content) — how image/audio blobs
    enter a Spark pipeline from object storage. Here 200 payload files
    are materialized from the documents slice (at scale they already
    sit in object storage; writing them is fixture setup), read back
    through binaryFile, and verified by sha256 + id parsed from the
    path — both scan-side expressions."""
    import shutil

    tune(spark)
    t = _t(spark, sf_dir)
    src = t("documents").filter(F.col("doc_id") < 200).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="dif_bin_")
    try:
        src_rows = src.collect()  # fixture creation, not the measured path
        if not src_rows:  # nothing to materialize: empty ingest
            return spark.createDataFrame(
                [], "doc_id long, n_bytes long, sha256 string"
            )
        for r in src_rows:
            with open(os.path.join(root, f"doc_{r['doc_id']}.bin"), "wb") as f:
                f.write(r["text"].encode("utf-8"))
        binf = spark.read.format("binaryFile").load(os.path.join(root, "*.bin"))
        out = binf.select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.sha2(F.col("content"), 256).alias("sha256"),
        )
        rows = out.collect()  # materialize before the temp dir is removed
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (A-ES; operators/
    corpus.py::weighted_sample): top-100 docs by u^(1/n_chars) with a
    portable unit hash — an exact, REPRODUCIBLE length-biased sample.
    Compiles to TakeOrderedAndProject (per-partition heaps); the oracle
    re-derives the identical set from the same formula."""
    from ..operators.corpus import weighted_sample

    tune(spark)
    t = _t(spark, sf_dir)
    return weighted_sample(
        t("documents"), weight_col="n_chars", k=100, seed=42
    ).select("doc_id", F.col("n_chars").alias("weight"))


def quality_classifier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based quality filtering (FineWeb-Edu shape) with the
    model as a hashing-trick linear scorer (operators/text.py::
    hashed_linear_score): featurize→score→threshold entirely in
    whole-stage codegen — one scan, no Python. Oracle recomputes the
    same hash/weights/sigmoid in SQL."""
    from ..operators.text import hashed_linear_score

    tune(spark)
    t = _t(spark, sf_dir)
    scored = hashed_linear_score(t("documents"), dim=1024)
    return scored.select(
        "doc_id", "n_tokens", "score", (F.col("score") >= 0.5).alias("keep")
    )


def recursive_cte_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 WITH RECURSIVE: multi-hop traversal of a 10-ary part
    hierarchy (parent = partkey div 10, roots < 10), rolled up per
    depth. Each recursion step is one distributed self-join against the
    frontier — frontier size, not corpus size, bounds the iteration
    state, the same shape as BOM/org-chart walks at scale. DuckDB runs
    the identical recursion."""
    tune(spark)
    register_test_tables(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE h(p_partkey, root, depth) AS (
          SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey < 10
          UNION ALL
          SELECT p.p_partkey, h.root, h.depth + 1
          FROM part p JOIN h ON p.p_partkey div 10 = h.p_partkey
          WHERE p.p_partkey >= 10
        )
        SELECT depth,
               count(*)       AS n_parts,
               sum(root)      AS sum_roots,
               min(p_partkey) AS min_key,
               max(p_partkey) AS max_key
        FROM h GROUP BY depth
        """,
    )


def approx_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the approx_top_k sketch (Spark 4.1): on a
    column whose cardinality fits maxItemsTracked the sketch is exact,
    so the cross-engine contract is plain GROUP BY counts. At 100 TB
    the sketch is the point: fixed-size state, partial-merge across
    executors, no full-cardinality shuffle."""
    tune(spark)
    t = _t(spark, sf_dir)
    return (
        t("orders")
        .agg(F.expr("approx_top_k(o_orderpriority, 5, 10000)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("priority"),
            F.col("e.count").alias("n_orders"),
        )
    )


def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 3.4+/4 SQL sugar): grouping keys inferred
    from the non-aggregate select expressions — compiles to the
    identical Catalyst plan as the explicit form (DuckDB shares the
    syntax, so the oracle is nearly verbatim). No ORDER BY: the gate
    compare is order-insensitive and an unbounded global sort is a
    plan-audit anti-pattern."""
    tune(spark)
    register_test_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               count(*)                   AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        WHERE o_orderkey < 5000
        GROUP BY ALL
        """,
    )


def sql_pipe_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4) front door: TPC-H Q6 predicates
    grouped by return flag, written as a |> chain — same Catalyst plan
    as the nested form, proving the front door is syntax-deep only."""
    tune(spark)
    register_test_tables(spark, sf_dir)
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.03 AND 0.07
           AND l_quantity < 24
        |> AGGREGATE round(sum(l_extendedprice * l_discount), 2) AS revenue,
                     count(*) AS n_items
           GROUP BY l_returnflag
        """,
    )


def ewma_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly detection: finite-window EWMA (α=0.5, 8
    lags) + self-excluding trailing z-score per user, flagging
    |z| > 3 events. Pure window algebra — fixed lag terms in a pinned
    arithmetic order, so the doubles match the oracle bit-for-bit
    before the 4-dp display rounding. One shuffle on user_id.

    Measurement envelope: |value| ≤ 1e9 (enforced identically on both
    engines). The 4-dp display contract needs 4 decimals INSIDE the
    double's ~15.9 significant digits; at 1e9 magnitude the EWMA uses
    at most 10 + 4 = 14, leaving headroom for last-ulp arithmetic
    noise. Beyond the envelope (the round-7 fuzz corpus carries
    9.99e12) the 4th decimal falls outside double precision and
    HALF_UP vs round-half-even diverge irreparably — such readings
    are trivially anomalous and belong to a range gate, not a z-score
    detector."""
    from ..functions import is_finite
    from ..operators.windows import ewma_finite, trailing_zscore

    t = _t(spark, sf_dir)
    # non-finite/NULL observations are MISSING (one NaN/±Inf would
    # poison every window it enters; DuckDB's stddev errors outright);
    # out-of-envelope magnitudes excluded per the display contract
    ev = t("events").filter(
        is_finite(F.col("value")) & (F.abs(F.col("value")) <= F.lit(1e9))
    )
    e = ewma_finite(
        ev, "value", ["user_id"], ["ts", "event_id"],
        alpha=0.5, window=8,
    )
    z = trailing_zscore(
        e, "value", ["user_id"], ["ts", "event_id"],
        lookback=12, min_periods=6,
    )
    return (
        z.filter(F.round(F.abs(F.col("z")), 6) > 3)
        .select(
            "event_id",
            "user_id",
            "value",
            F.round("ewma", 4).alias("ewma"),
            F.round("z", 4).alias("z"),
        )
    )


def entity_match_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution via blocking + edit distance: candidate pairs
    only within (nation, market segment) blocks, Levenshtein ≤ 1 on the
    name. Σ block² cost instead of n² — the record-linkage twin of the
    LSH bucket-then-verify dedup architecture."""
    from ..operators.linkage import blocked_fuzzy_pairs

    t = _t(spark, sf_dir)
    return blocked_fuzzy_pairs(
        t("customer"),
        id_col="c_custkey",
        name_col="c_name",
        block_cols=["c_nationkey", "c_mktsegment"],
        max_distance=1,
    )


def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: nearest-centroid clustering blocks the quadratic
    cosine search — near-identical pairs are only sought WITHIN a
    cluster; survivor = lowest id per neighborhood. Centroids here are
    a fixed seed set (vec_id < 8) so the oracle can replay the exact
    assignment; production fits them with ivf_fit and persists them.
    The within-cluster join is an equi hash join on cluster_id."""
    from ..operators.similarity import semantic_dedup

    t = _t(spark, sf_dir)
    e = t("embeddings").select("vec_id", "embedding")
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    return semantic_dedup(e, cents, threshold=0.4)


def int8_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization audit: per-dimension min/max codec
    (64-row broadcast stats table), reconstruction RMSE + max abs
    error per vector — the 4× storage-compression gate a 100 TB
    embedding corpus runs before committing to int8 ANN serving."""
    from ..operators.similarity import int8_quantize_error

    t = _t(spark, sf_dir)
    return int8_quantize_error(t("embeddings"))


def image_ahash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup: aHash over the stub decoder's
    64 deterministic pixels (engine-portable md5 byte arithmetic — a
    real codec swaps in as a mapInPandas stage emitting the same pixel
    rows), pigeonhole band blocking (4×16 bits ⇒ hamming ≤ 3 pairs
    always share a band), hamming verify on candidates only. The
    oracle rebuilds pixels, bits, and all-pairs hamming in SQL, so
    blocking recall is hash-proven total."""
    from ..operators.multimodal import ahash_near_dup_pairs

    t = _t(spark, sf_dir)
    # payload = first 80 chars rendered to bytes — a stand-in for "image
    # of the document header"; prefix collisions exist at every SF, so
    # the hamming-0 (identical-image) pairs are a non-empty result set.
    d = t("documents").select(
        "doc_id",
        F.encode(F.substring(F.col("text"), 1, 80), "UTF-8").alias("payload"),
    )
    return ahash_near_dup_pairs(d, col="payload", max_hamming=3)


def triangle_count_doc_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting (NodeIterator++: two equi hash joins
    over canonicalized a<b edges — each triangle found exactly once as
    a<b<c, no Cartesian) on a deterministic mixed-modulus graph derived
    from the documents table."""
    from ..operators.graph import triangle_counts

    tune(spark)
    t = _t(spark, sf_dir)
    edges = t("documents").select(
        F.pmod(F.col("doc_id"), F.lit(60)).alias("src"),
        F.pmod(F.pmod(F.col("doc_id"), F.lit(97)), F.lit(60)).alias("dst"),
    )
    return triangle_counts(edges)


def fuzzy_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination: src0 documents play the eval
    suite; corpus docs with word-3-gram Jaccard ≥ 0.3 to ANY benchmark
    doc are flagged with their strongest match. MinHash-LSH across the
    two sets — candidates from the (band_id, band_hash) equi-join
    (corpus×bucket, never corpus×benchmark), exact-Jaccard verify on
    candidates only. Oracle = exact all-pairs cross-set Jaccard, so
    banding recall is hash-proven."""
    from ..operators.corpus import fuzzy_decontaminate

    t = _t(spark, sf_dir)
    docs = t("documents")
    return fuzzy_decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        threshold=0.3,
    )


def stream_session_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION windows (dynamic gap-closed, state-store
    merged across micro-batches) in the correctness gate: the same
    session_window_agg the batch query uses, run as a real stream
    (complete mode — every closed-and-open session materialized at
    drain). Oracle = the batch gaps-and-islands SQL."""
    from ..streaming.windows import session_window_agg

    tune(spark)
    stream, cleanup = _events_stream(spark, sf_dir)
    try:
        agg = session_window_agg(stream, gap="30 minutes")
        return _drain_stream(agg, "stream_session_parity", "complete")
    finally:
        cleanup()


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lead() pairs each event with its successor, one count
    groupBy, transition probability = n / Σn over the source state (a
    25-row window — the matrix itself). Sequence modeling shape: one
    shuffle on user_id for ordering, one on the (from, to) key."""
    t = _t(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        # NULL-ts events have no position in a sequence (and engines
        # disagree where NULL sorts in a window ORDER BY) — drop them
        t("events")
        .filter(F.col("ts").isNotNull())
        .withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count("*").alias("n"))
    )
    wt = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wt), 4).alias("p"),
    )


def zipf_fit_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: token frequencies
    (one explode + count groupBy over the corpus — the only
    data-volume pass), then rank on the AGGREGATED type table (vocab ≪
    corpus; the rank window runs over thousands of rows, not the
    corpus) and an ln-rank/ln-freq least-squares fit via the regr_*
    aggregates. Output: vocabulary size, total tokens, slope (≈ -1 for
    natural text), intercept, r²."""
    from ..functions import tokens

    t = _t(spark, sf_dir)
    freqs = (
        t("documents")
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), F.col("tok").asc())
    ranked = freqs.withColumn("r", F.row_number().over(w))
    return ranked.agg(
        F.count("*").alias("n_types"),
        F.sum("c").alias("n_tokens"),
        F.round(F.expr("regr_slope(ln(c), ln(r))"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(ln(c), ln(r))"), 6).alias("icept"),
        F.round(F.expr("regr_r2(ln(c), ln(r))"), 6).alias("r2"),
    )


def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline): order dates whose daily max price
    strictly beats every earlier day's max — maximize price, minimize
    date. Scale shape: the dominance window runs on the PRE-AGGREGATED
    per-day table (one shuffle on the date key reduces the fact table
    to ~2.4k rows), never on raw orders — local-reduce-then-tiny-
    global-pass, the distributed skyline recipe."""
    t = _t(spark, sf_dir)
    daily = (
        t("orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.max("o_totalprice").alias("best_price"),
            F.count("*").alias("n_orders"),
        )
    )
    # one row per day after the agg, so a ROWS frame IS strict
    # date-dominance; the window runs single-partition over ~2.4k rows
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    return (
        daily.withColumn("prior_best", F.max("best_price").over(w))
        .filter(
            F.col("prior_best").isNull()
            | (F.col("best_price") > F.col("prior_best"))
        )
        .select("d", "best_price", "n_orders")
    )


def benford_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: leading significant digit
    via integer-cents string arithmetic (no log10 float edge cases —
    portable across engines), observed share vs the Benford expectation
    log10(1+1/d), absolute deviation. Scan + one 9-row groupBy."""
    t = _t(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    # zero totals have no leading SIGNIFICANT digit (and 1/0 is an
    # ANSI error in the expectation term) — Benford is defined on 1..9
    base = t("orders").select(digit.alias("digit")).filter(
        F.col("digit").between(1, 9)
    )
    # share = n / Σn over the 9-row digit table (a trivial window) — no
    # driver-side count job, no scalar broadcast
    return (
        base.groupBy("digit")
        .agg(F.count("*").alias("n"))
        .select(
            "digit",
            "n",
            F.round(
                F.col("n") / F.sum("n").over(Window.partitionBy()), 4
            ).alias("observed"),
            F.round(
                F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 4
            ).alias("expected"),
        )
    )


def incremental_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance in the gate: a fact table
    built in three commits (append, append, delete) with the
    orders⋈customer → per-segment aggregate refreshed after each via
    the delta rule ΔV = γ(ΔF ⋈ D) — broadcast dim join over CHANGED
    rows only, additive MERGE, never a fact rescan. Oracle recomputes
    the final view from scratch; equality proves the three deltas
    landed exactly. Money in decimal so staged addition is exact."""
    from pyspark.sql import types as T

    from ..catalog.table import ManagedTable
    from ..ingest.maintenance import incremental_join_agg_refresh

    t = _t(spark, sf_dir)
    src = t("orders").filter(F.col("o_orderkey") < 3000).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    dim = t("customer").select("c_custkey", "c_mktsegment")
    root = tempfile.mkdtemp(prefix="dif_incj_")
    facts = ManagedTable(spark, os.path.join(root, "facts"))
    mv = ManagedTable(spark, os.path.join(root, "mv"))
    mv.create(
        T.StructType(
            [
                T.StructField("c_mktsegment", T.StringType(), True),
                T.StructField("n", T.LongType(), True),
                T.StructField("total", T.DecimalType(28, 2), True),
            ]
        )
    )
    join_src = src.withColumnRenamed("o_custkey", "c_custkey")
    facts.append(join_src.filter(F.col("o_orderkey") < 1500))
    v = incremental_join_agg_refresh(
        facts, dim, "c_custkey", mv, ["c_mktsegment"], "price", 0
    )
    facts.append(join_src.filter(F.col("o_orderkey") >= 1500))
    v = incremental_join_agg_refresh(
        facts, dim, "c_custkey", mv, ["c_mktsegment"], "price", v
    )
    facts.delete(F.col("o_orderstatus") == "F")
    incremental_join_agg_refresh(
        facts, dim, "c_custkey", mv, ["c_mktsegment"], "price", v
    )
    return mv.read().filter(F.col("n") > 0).select(
        "c_mktsegment",
        "n",
        F.col("total").cast("decimal(18,2)").alias("total"),
    )


def bpe_pair_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training primitive: adjacent character-pair counts
    over the token stream (the statistic one BPE merge round maximizes)
    — explode + scan-side pair transform + count groupBy +
    TakeOrderedAndProject top-20."""
    from ..operators.text import bpe_pair_counts

    t = _t(spark, sf_dir)
    return bpe_pair_counts(t("documents"), top_k=20)


def spatial_radius_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked spatial radius self-join: deterministic planar
    coordinates from portable hashes of the customer key, cells of
    side = radius, 3×3 neighborhood explode on ONE side, equi-join on
    the cell key, exact distance verify on in-cell candidates only.
    Oracle = all-pairs distance filter, so grid recall is hash-proven
    total. Σ cell² cost, AQE splits hot cells."""
    from ..operators.spatial import radius_self_join

    t = _t(spark, sf_dir)

    def coord(salt: str):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col("c_custkey").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        return (h % 10000).cast("double") / F.lit(10.0)

    pts = t("customer").select(
        F.col("c_custkey").alias("id"),
        coord("x|").alias("x"),
        coord("y|").alias("y"),
    )
    return radius_self_join(pts, radius=15.0)


def window_rank_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining rank-family window functions: ntile (equi-count
    tiling), percent_rank, cume_dist — per-priority price ordering with
    a unique (price, key) sort so every rank is deterministic."""
    t = _t(spark, sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        t("orders")
        .filter(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
        )
    )


def resample_interp_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample + LINEAR interpolation (the ffill query's smarter
    sibling): per-user hourly spine; gaps take the time-weighted blend
    of the straddling hourly means, edges fall back to the available
    side. All window algebra — last/first ignore-nulls both directions
    over the per-user spine, fixed-order double arithmetic."""
    from pyspark.sql import Window

    tune(spark)
    t = _t(spark, sf_dir)
    ev = t("events").filter(F.col("user_id") < 20)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.round(F.avg("value"), 4).alias("v"))
    # bounded-state resample: the spine is clamped to the most recent
    # 90 days (2160 h) per user, anchored at the user's LATEST hour —
    # without the clamp one corrupt 1970 timestamp would materialize a
    # half-million-row dense spine for that user (fuzz-gate find); a
    # no-op on sane data, where user histories span days
    bounds = ev.groupBy("user_id").agg(
        F.greatest(
            F.date_trunc("hour", F.min("ts")),
            F.date_trunc("hour", F.max("ts"))
            - F.expr("INTERVAL 2160 HOURS"),
        ).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("h"),
    )
    j = spine.join(hourly, ["user_id", "h"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    vh = F.when(F.col("v").isNotNull(), F.col("h"))
    pv = F.last("v", ignorenulls=True).over(wb)
    ph = F.last(vh, ignorenulls=True).over(wb)
    nv = F.first("v", ignorenulls=True).over(wf)
    nh = F.first(vh, ignorenulls=True).over(wf)
    ratio = (F.col("h").cast("long") - ph.cast("long")) / (
        nh.cast("long") - ph.cast("long")
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(pv.isNotNull() & nv.isNotNull(), pv + (nv - pv) * ratio)
        .when(pv.isNotNull(), pv)
        .otherwise(nv)
    )
    # filled stays UNROUNDED: the raw doubles are bit-identical across
    # engines (fixed-order IEEE ops over identical inputs), while a 4-dp
    # display round diverges 1 ulp on decimal-boundary values (Spark
    # exact-decimal HALF_UP vs DuckDB multiply-round-divide)
    return j.select(
        "user_id",
        "h",
        interp.alias("filled"),
        F.col("v").isNull().alias("is_gap"),
    )


def dp_noisy_release_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy-STYLE noisy aggregate release: per-segment
    order counts + Laplace(b=20) noise via inverse-CDF over a
    DETERMINISTIC portable-hash uniform (auditable release, exact
    oracle twin — a production DP system swaps in a real RNG and this
    query becomes its calibration harness). Governance surface for
    sharing corpus statistics without row-level disclosure."""
    t = _t(spark, sf_dir)
    o, c = t("orders"), t("customer")
    agg = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_true"))
    )
    u = (
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("dp|"), F.col("c_mktsegment"))), 1, 15),
                16,
                10,
            ).cast("long")
            % 1000000
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(1000000.0)
    centered = u - F.lit(0.5)
    sign = F.when(centered < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    noise = (
        F.lit(-20.0) * sign * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    return agg.select(
        "c_mktsegment",
        F.round(F.col("n_true") + noise, 4).alias("released"),
    )


def stream_sliding_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SLIDING windows (1 h window, 30 min slide — each event
    lands in 2 overlapping windows) in the gate, complete-mode drain.
    Oracle: explode each event to its two window starts (floor-to-30min
    and the preceding one) and GROUP BY — the overlap law itself."""
    from ..streaming.windows import sliding_window_agg

    tune(spark)
    stream, cleanup = _events_stream(spark, sf_dir)
    try:
        agg = sliding_window_agg(stream, window="1 hour", slide="30 minutes")
        return _drain_stream(agg, "stream_sliding_parity", "complete")
    finally:
        cleanup()


def temporal_join_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS-OF against an SCD2 dimension) join: each order
    picks the dimension version whose [valid_from, valid_to) window
    covers the order date. Plan shape: equi hash join on the surrogate
    key carries the weight; the validity-window predicate is a cheap
    post-join filter (2 versions/key) — the standard warehouse PIT
    join, no range-join machinery needed when versions-per-key is
    bounded."""
    t = _t(spark, sf_dir)
    c = t("customer")
    # deterministic 2-version SCD2 dim: every customer has a v1 row;
    # every 3rd customer changed segment on 1996-01-01
    v1 = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1992-01-01").cast("date").alias("valid_from"),
        F.when(
            F.col("c_custkey") % 3 == 0, F.lit("1996-01-01").cast("date")
        ).alias("valid_to"),
    )
    v2 = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.concat(F.lit("NEW_"), F.col("c_mktsegment")).alias("segment"),
        F.lit("1996-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    o = t("orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        "o_totalprice",
    )
    j = (
        o.join(dim, o.o_custkey == dim.c_custkey)
        .filter(
            (F.col("od") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("od") < F.col("valid_to")))
        )
    )
    return j.groupBy("segment").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


def curriculum_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training: phase = difficulty quartile
    (doc length via broadcast exact cut points — no global ntile), and
    a deterministic within-phase shuffle key from a portable hash. The
    training reader consumes phases in order, each phase sorted by its
    key per shard — so the full curriculum needs zero global sorts at
    prep time."""
    t = _t(spark, sf_dir)
    d = t("documents").select("doc_id", "n_chars")
    cuts = d.agg(
        F.expr("percentile(n_chars, 0.25)").alias("c1"),
        F.expr("percentile(n_chars, 0.5)").alias("c2"),
        F.expr("percentile(n_chars, 0.75)").alias("c3"),
    )
    return (
        d.join(F.broadcast(cuts))
        .select(
            "doc_id",
            (
                F.lit(1)
                + (F.col("n_chars") > F.col("c1")).cast("int")
                + (F.col("n_chars") > F.col("c2")).cast("int")
                + (F.col("n_chars") > F.col("c3")).cast("int")
            ).alias("phase"),
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("cur|"), F.col("doc_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("order_key"),
        )
    )


def stream_ann_intake_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EMBEDDING intake with semantic near-dup dedup under
    the hash gate: two micro-batches flow through
    embedding_incremental_ann_intake — batch 2 sees batch 1 only via
    the persisted bucketed IVF index, exhaustive probing makes the
    drop check exact. Declarative oracle: a vector survives iff NO
    smaller-id vector has round(cosine, 6) ≥ 0.4."""
    from ..ingest.corpus import embedding_incremental_ann_intake
    from ..operators.bucketing import drop_table_and_location

    tune(spark)
    root = tempfile.mkdtemp(prefix="dif_ann_parity_")
    src = os.path.join(root, "src")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src)
    idx = _gate_name("dif_gate_ann_intake_idx")
    drop_table_and_location(spark, idx)
    t = _t(spark, sf_dir)
    emb = t("embeddings").select("vec_id", "embedding").filter(
        F.col("vec_id") < 300
    )
    cents = [
        list(r.embedding)
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    if not cents:  # empty corpus: no index cells, nothing to intake
        return spark.createDataFrame([], "vec_id long")
    import time as _time

    now = _time.time()
    for i, (lo, hi) in enumerate(((0, 150), (150, 300))):
        p = os.path.join(src, f"batch{i}.parquet")
        emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).coalesce(1).write.mode("overwrite").parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (now - 600 + i * 300,) * 2)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*.parquet"))
    )
    q = embedding_incremental_ann_intake(
        stream, sink, ckpt, idx, cents, threshold=0.4
    )
    q.awaitTermination(300)
    drop_table_and_location(spark, idx)
    return spark.read.parquet(sink).select("vec_id")


def video_frame_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup via shared frame fingerprints — the composition
    of the frame sampler (mapInPandas chunk decode, one row per
    sampled frame, payload bytes never leave the task) and a
    frame-hash inverted-index join: videos sharing ≥ 2 sampled frame
    hashes pair up. This is how video dedup actually runs at scale —
    frame-level hashes equi-joined, never payload×payload. Oracle
    rebuilds the frames from hex(payload) slices in SQL."""
    from ..operators.multimodal import sample_frames

    t = _t(spark, sf_dir)
    d = t("documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    fr = (
        sample_frames(d, "payload", frame_bytes=64, stride=2)
        .select("doc_id", "frame_md5")
        .distinct()
    )
    a = fr.select(F.col("doc_id").alias("id_a"), "frame_md5")
    b = fr.select(F.col("doc_id").alias("id_b"), "frame_md5")
    return (
        a.join(b, "frame_md5")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_frames"))
        .filter(F.col("shared_frames") >= 2)
    )


def udtf_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 Python UDTF IN THE GATE (previously pytest-only): the
    chunking table function applied via LATERAL, Arrow-batched
    (ArrowEvalPythonUDTF — the pickle evaluator is the banned
    row-at-a-time lane). Oracle = the same chunking in set-based SQL;
    production uses the pure-expression chunk_documents — the UDTF
    exists for logic that genuinely needs Python (a real tokenizer)."""
    from ..operators.text import make_chunk_udtf

    tune(spark)
    t = _t(spark, sf_dir)
    ch = make_chunk_udtf(chunk_size=32, stride=24, use_arrow=True)
    spark.udtf.register("dif_chunk_udtf", ch)
    t("documents").filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 200)
    ).select("doc_id", "text").createOrReplaceTempView("dif_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.n_chunk_tokens, c.chunk
        FROM dif_udtf_docs d, LATERAL dif_chunk_udtf(d.text) c
        """
    )


def restore_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE in the graded gate: build a versioned table, mutate it
    (delete + update), RESTORE back to the pre-mutation version, and
    aggregate the result. The oracle aggregates the original slice
    directly — equality proves restore reproduced the exact historical
    image as a NEW commit (history intact, asserted in-query)."""
    from ..catalog.table import ManagedTable

    t = _t(spark, sf_dir)
    src = t("orders").filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="dif_restore_")
    table = ManagedTable(spark, os.path.join(root, "orders_restore"))
    table.append(src)
    v_good = int(table.history()[-1]["version"])
    table.delete(F.col("o_orderstatus") == "F")
    table.update(
        F.col("o_orderkey") < 100, {"o_totalprice": F.lit(0.0)}
    )
    table.restore(version=v_good)
    hist = table.history()
    assert hist[-1]["op"] == "restore" and len(hist) >= 4  # new commit
    return (
        table.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


def listagg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``listagg`` (SQL:2023 string aggregation) with WITHIN
    GROUP ordering — deterministic by construction (DISTINCT + total
    order), so it can live under the hash gate."""
    t = _t(spark, sf_dir)
    t("orders").createOrReplaceTempView("dif_listagg_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(DISTINCT o_orderstatus, ',')
                   WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
               count(*) AS n
        FROM dif_listagg_orders
        GROUP BY o_orderpriority
        """
    )


def stream_ewma_state_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming TIME-SERIES state under the hash gate:
    per-user finite-window EWMA via applyInPandasWithState — the state
    is the last 8 values (bounded), carried across two time-split
    micro-batches. The final update row per user must equal the batch
    window-algebra EWMA at that user's last event (the oracle computes
    it from rank arithmetic)."""
    import shutil

    from ..streaming.stateful import running_user_ewma

    tune(spark)
    t = _t(spark, sf_dir)
    ev = t("events").select("event_id", "ts", "user_id", "value")
    root = tempfile.mkdtemp(prefix="dif_ewma_state_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    import time as _time

    now = _time.time()
    cut = F.lit("2024-01-16").cast("timestamp")
    for i, part in enumerate((ev.filter(F.col("ts") < cut),
                              ev.filter(F.col("ts") >= cut))):
        p = os.path.join(src, f"batch{i}.parquet")
        part.coalesce(1).write.mode("overwrite").parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (now - 600 + i * 300,) * 2)
    try:
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, value double"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(src, "*.parquet"))
        )
        drained = _drain_stream(
            running_user_ewma(stream), "stream_ewma_state", "update"
        )
        w = Window.partitionBy("user_id").orderBy(F.col("n_seen").desc())
        return (
            drained.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "n_seen", "ewma")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit before data release (pairs with the DP noisy
    release): k-anonymity (equivalence-class size over the
    quasi-identifiers nation × segment) and l-diversity (distinct
    sensitive values — account-balance sign band — per class). Classes
    with k < 5 or l < 2 are flagged for suppression/generalization.
    One groupBy; linear."""
    t = _t(spark, sf_dir)
    band = (
        F.when(F.col("c_acctbal") < 0, F.lit("neg"))
        .when(F.col("c_acctbal") < 5000, F.lit("low"))
        .otherwise(F.lit("high"))
    )
    return (
        t("customer")
        .select("c_nationkey", "c_mktsegment", band.alias("bal_band"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").alias("k_size"),
            F.count_distinct("bal_band").alias("l_div"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "k_size",
            "l_div",
            ((F.col("k_size") < 5) | (F.col("l_div") < 2)).alias("flagged"),
        )
    )


def rolling_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users — EXACT, computed scale-correctly:
    the corpus pass reduces to per-day user SETS (one groupBy; set
    sizes bounded by the user population), then the rolling union runs
    as a window over the ~30-row day table: flatten + distinct + size.
    The sketch alternative for unbounded key spaces is the HLL rollup
    (`hll_mergeable_rollup`); this is the exact-on-pre-agg form."""
    tune(spark)
    t = _t(spark, sf_dir)
    daily = (
        t("events")
        .filter(F.col("ts").isNotNull())  # NULL-ts: no day, no frame slot
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.collect_set("user_id").alias("users"))
    )
    w = Window.orderBy("d").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "d",
        F.size("users").alias("dau"),
        F.size(
            F.array_distinct(F.flatten(F.collect_list("users").over(w)))
        ).alias("wau7"),
    )


def stream_late_drop_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP semantics under the hash gate. Spark's
    streaming aggregation uses TWO watermarks (SPARK-39781): state
    eviction uses the wm from batches ≤ i−1, but the late-record
    filter lags one more batch (wm from batches ≤ i−2) — so an echo
    must arrive two batches after its original to be provably dropped.
    Four mtime-ordered files = four deterministic micro-batches:

    - b0: days 1-3 (sets M = max event time; wm becomes M−1h)
    - b1: days 10-12, on time
    - b2: echoes of (a) day-1 rows — window_end ≤ M−1h under b2's
      late-filter wm (= M−1h, from b0) → DROPPED; (b) rows in the last
      two in-state hours of b0 — window_end > M−1h → MERGED into
      still-open state (append mode emits those windows once, with the
      echo included)
    - b3: far-future sentinel pushing the wm past everything so the
      final no-data batch flushes all windows (its own window is
      filtered out of the result)

    The oracle restates the drop rule declaratively: an echo row
    contributes iff floor_hour(ts)+1h > M−1h. Exact hash parity proves
    drop/keep/merge all land on the documented boundaries."""
    import datetime as _dt
    import time as _time

    from ..streaming.windows import tumbling_window_agg

    tune(spark)
    root = tempfile.mkdtemp(prefix="dif_late_drop_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    t = _t(spark, sf_dir)
    ev = t("events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    b0 = ev.filter(F.col("ts") < F.lit("2024-01-04").cast("timestamp"))
    # fixture construction: one scalar (max event time) shapes the echo
    # batch; not part of the measured plan
    m0 = b0.agg(F.max("ts")).collect()[0][0]
    if m0 is None:  # empty seed batch: no windows can ever emit
        return spark.createDataFrame(
            [],
            "window_start timestamp, window_end timestamp, "
            "event_type string, n long, total_value double",
        )
    floor_m0 = m0.replace(minute=0, second=0, microsecond=0)
    b1 = ev.filter(
        (F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-13").cast("timestamp"))
    )
    b2 = ev.filter(
        F.col("ts") < F.lit("2024-01-02").cast("timestamp")
    ).unionByName(
        ev.filter(
            (F.col("ts") >= F.lit(floor_m0 - _dt.timedelta(hours=1)))
            & (F.col("ts") < F.lit("2024-01-04").cast("timestamp"))
        )
    )
    b3 = spark.range(1).select(
        F.lit(999_999_999).cast("long").alias("event_id"),
        F.lit("2024-02-15 00:00:00").cast("timestamp").alias("ts"),
        F.lit(0).cast("long").alias("user_id"),
        F.lit("sentinel").alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    now = _time.time()
    for i, b in enumerate([b0, b1, b2, b3]):
        p = os.path.join(src, f"b{i}.parquet")
        b.coalesce(1).write.mode("overwrite").parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (now - 1200 + i * 300,) * 2)
    schema = spark.read.parquet(os.path.join(src, "b0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*.parquet"))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = tumbling_window_agg(stream, window="1 hour", watermark="1 hour")
    out = _drain_stream(agg, "stream_late_drop", "append")
    return out.filter(
        F.col("window_start") < F.lit("2024-02-01").cast("timestamp")
    )


def dense_ids_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global ids WITHOUT the single-partition sort.
    ``row_number() OVER (ORDER BY ...)`` funnels the whole table
    through one task; ``dense_row_ids`` gets the identical numbering
    from bucket counts + cumulative offsets + per-bucket windows — the
    only global sort runs over the tiny bucket table and the data-side
    window is hash-partitioned by bucket (operators/ids.py). The
    oracle IS the naive global row_number, proving the two plans
    compute the same function."""
    from ..operators.ids import dense_row_ids

    t = _t(spark, sf_dir)
    d = t("documents").select("doc_id", "n_chars")
    out = dense_row_ids(
        d,
        ["n_chars", "doc_id"],
        F.floor(F.col("n_chars") / F.lit(64)),
    )
    return out.select("doc_id", "n_chars", "dense_id")


def html_extract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-side HTML field extraction (operators/web.py): title,
    hrefs, and visible text pulled out of markup with scan-side regexp
    and array expressions — zero UDFs, zero shuffles; at 100 TB this
    runs at read speed inside whole-stage codegen. The fixture wraps
    each doc in deterministic markup so the extraction is exercised
    end-to-end and the oracle rebuilds the identical pipeline with
    DuckDB's regexp family."""
    from ..operators.web import html_links, html_title, html_visible_text

    t = _t(spark, sf_dir)
    d = t("documents")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" ("),
        F.col("lang"),
        F.lit(")</title></head><body><p>"),
        F.col("text"),
        F.lit('</p><a href="https://'),
        F.col("source"),
        F.lit(".example.com/d/"),
        F.col("doc_id").cast("string"),
        F.lit('">more</a><a href="/local/'),
        F.col("lang"),
        F.lit('">l</a></body></html>'),
    )
    h = d.select("doc_id", html.alias("html"))
    links = html_links(F.col("html"))
    body = html_visible_text(F.col("html"))
    return h.select(
        "doc_id",
        html_title(F.col("html")).alias("title"),
        F.size(links).alias("n_links"),
        links.getItem(0).alias("first_link"),
        F.length(body).alias("body_chars"),
        F.substring(body, 1, 80).alias("body_prefix"),
    )


def url_canonical_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-URL dedup after canonicalization (operators/web.py): the
    fixture synthesizes the messy spellings crawls actually produce —
    scheme/host case, ``www.``, explicit ``:443``, tracking params,
    shuffled param order, fragments — and the canonical key collapses
    them so one groupBy yields the variant count + survivor per true
    URL. Canonicalization is scan-side column algebra; the shuffle
    carries canonical keys only. The oracle replays every
    normalization step in DuckDB string/list functions."""
    from ..operators.web import canonicalize_url

    t = _t(spark, sf_dir)
    d = t("documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https")).otherwise(
            F.lit("HTTPS")
        ),
        F.lit("://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.com"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p/"),
        F.pmod(F.col("doc_id"), F.lit(50)).cast("string"),
        F.when(
            F.col("doc_id") % 2 == 0, F.lit("?b=2&a=1&utm_source=feed")
        ).otherwise(F.lit("?a=1&b=2")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    u = d.select("doc_id", url.alias("url"))
    c = u.select(
        "doc_id", canonicalize_url(F.col("url")).alias("canonical_url")
    )
    return c.groupBy("canonical_url").agg(
        F.count("*").alias("n_variants"), F.min("doc_id").alias("keep_doc")
    )


def _warc_corpus_funnel(docs: DataFrame) -> DataFrame:
    """The crawl-to-corpus funnel body over a (doc_id, lang, source,
    text) frame — shared by the gate query below and the x10 scale
    sweep (tests/test_scale.py)."""
    from ..operators.text import quality_score
    from ..operators.web import canonicalize_url, html_visible_text
    from ..sources.warc import warc_parse

    did = F.col("doc_id")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        did.cast("string"),
        F.lit(" ("),
        F.col("lang"),
        F.lit(")</title></head><body><p>"),
        F.col("text"),
        F.lit('</p><a href="https://'),
        F.col("source"),
        F.lit(".example.com/d/"),
        did.cast("string"),
        F.lit('">more</a></body></html>'),
    )
    # messy crawl URI: case/www/:443/params/fragment variants that all
    # collapse to one canonical key per (doc_id % 120) path
    def uri(prefix: str):
        return F.concat(
            F.when(did % 2 == 0, F.lit("https")).otherwise(F.lit("HTTPS")),
            F.lit("://"),
            F.when(did % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
            F.lit("Example.com"),
            F.when(did % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit(prefix),
            F.pmod(did, F.lit(120)).cast("string"),
            F.when(did % 2 == 0, F.lit("?b=2&a=1&utm_source=crawl")).otherwise(
                F.lit("?a=1&b=2")
            ),
            F.when(did % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
        )

    def record(rid, uri_col):
        return F.concat(
            F.lit(
                "WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:corpus:"
            ),
            rid.cast("string"),
            F.lit(">\r\nWARC-Target-URI: "),
            uri_col,
            F.lit("\r\nWARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: "),
            F.octet_length(html).cast("string"),
            F.lit("\r\n\r\n"),
            html,
            F.lit("\r\n\r\n"),
        )

    orig = F.struct(did.alias("i"), record(did, uri("/p/")).alias("r"))
    # mirror-site record: identical content, different URL + record id
    mirror = F.struct(
        (did + 100000).alias("i"), record(did + 100000, uri("/m/")).alias("r")
    )
    recs = F.when(did % 4 == 0, F.array(orig, mirror)).otherwise(
        F.array(orig)
    )
    files = (
        docs.select(F.pmod(did, 8).alias("f"), F.explode(recs).alias("s"))
        .groupBy("f")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")), lambda s: s["r"]),
                "",
            )
            .cast("binary")
            .alias("content")
        )
    )
    body = html_visible_text(F.col("text"))
    staged = (
        warc_parse(files)
        .select(
            F.regexp_extract("record_id", "urn:corpus:(\\d+)", 1)
            .cast("long")
            .alias("doc_id"),
            canonicalize_url(F.col("target_uri")).alias("curl"),
            F.round(quality_score(body), 4).alias("quality"),
            F.md5(body).alias("fp"),
        )
        # materialize the parse+extract once (compact: 4 cols, no
        # text); the six stage aggregates below reuse it instead of
        # re-running the WARC scan per branch
        .localCheckpoint()
    )
    mod = F.lit(2305843009213693951).cast("decimal(38,0)")
    rowv = F.conv(
        F.substring(F.md5(did.cast("string")), 1, 15), 16, 10
    ).cast("decimal(38,0)")

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.select(rowv.alias("rv")).agg(
            F.lit(name).alias("stage"),
            F.count("*").alias("n_rows"),
            F.coalesce(F.pmod(F.sum("rv"), mod).cast("long"), F.lit(0)).alias(
                "id_checksum"
            ),
        )

    w_url = Window.partitionBy("curl").orderBy("doc_id")
    url_kept = (
        staged.withColumn("rn", F.row_number().over(w_url))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    qual = url_kept.filter(F.col("quality") >= 0.9)
    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    ded = (
        qual.withColumn("rn", F.row_number().over(w_fp))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    bucket = F.pmod(rowv, F.lit(10).cast("decimal(38,0)"))
    return (
        stage(staged, "parsed")
        .unionAll(stage(url_kept, "url_dedup"))
        .unionAll(stage(qual, "quality"))
        .unionAll(stage(ded, "exact_dedup"))
        .unionAll(stage(ded.filter(bucket < 8), "split_train"))
        .unionAll(stage(ded.filter(bucket >= 8), "split_val"))
    )


def stream_warc_intake_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous crawl ingestion UNDER THE HASH GATE
    (ingest.corpus.corpus_stream_warc_intake): two .warc.gz shards
    (one gzip member per record, stdlib-gzip-built) arrive as two
    binaryFile micro-batches; each batch is member-split, length-
    parsed, content-length gated, and appended to the corpus sink.
    The oracle states the result declaratively from documents — the
    streaming machinery (file-source checkpoint, foreachBatch,
    per-batch parse) must reproduce it exactly."""
    import gzip as _gzip

    from ..ingest.corpus import corpus_stream_warc_intake

    tune(spark)
    t = _t(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="dif_warc_stream_")
    src = os.path.join(root, "src")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src)
    docs = (
        t("documents").select("doc_id", "text")
        .filter(F.col("doc_id") < 240).collect()
    )  # fixture materialization: 240 small rows, driver-built shards

    def rec(rid: int, body: bytes) -> bytes:
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            + f"WARC-Record-ID: <urn:corpus:{rid}>\r\n".encode()
            + f"WARC-Target-URI: http://corpus.local/doc/{rid}\r\n".encode()
            + f"Content-Length: {len(body)}\r\n\r\n".encode()
            + body + b"\r\n\r\n"
        )

    import time as _time

    now = _time.time()
    halves = [[r for r in docs if r.doc_id < 120],
              [r for r in docs if r.doc_id >= 120]]
    for i, rows in enumerate(halves):
        shard = b"".join(
            _gzip.compress(rec(r.doc_id, r.text.encode()), mtime=0)
            for r in sorted(rows, key=lambda r: r.doc_id)
        )
        path = os.path.join(src, f"shard{i}.warc.gz")
        with open(path, "wb") as f:
            f.write(shard)
        os.utime(path, (now - 600 + i * 300,) * 2)

    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.warc.gz")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    q = corpus_stream_warc_intake(stream, sink, ckpt, min_content_length=100)
    q.awaitTermination(300)
    return spark.read.parquet(sink).select(
        "record_id", "target_uri", "content_length"
    )


def jpeg_dims_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG marker-walk dimension sniffing under the hash gate
    (operators.multimodal.parse_jpeg_dims): per doc, synthesize a
    genuine JPEG segment layout in-plan (SOI, APP0/JFIF, a COMMENT
    whose payload contains FAKE SOF bytes — the walk must not bite,
    only segment lengths advance the cursor — then SOF0/SOF2 with
    doc_id-derived dimensions, EOI). The oracle recomputes the
    dimensions arithmetically: equality proves the marker walk reads
    exactly the frame header on a real segment grammar."""
    from ..operators.multimodal import parse_jpeg_dims

    tune(spark)
    t = _t(spark, sf_dir)
    d = t("documents").select("doc_id").filter(F.col("doc_id") < 200)
    did = F.col("doc_id")
    w = (F.pmod(did, 1280) + 320).cast("int")
    h = (F.pmod(did, 720) + 240).cast("int")

    def be16(col):
        return F.lpad(F.hex(col), 4, "0")

    sof_marker = F.when(did % 4 == 0, F.lit("FFC2")).otherwise(F.lit("FFC0"))
    payload_hex = F.concat(
        F.lit("FFD8"),                                   # SOI
        F.lit("FFE000104A46494600"), F.lit("00" * 9),    # APP0/JFIF (16)
        # comment segment whose payload is a fake SOF0 header
        F.lit("FFFE000B"), F.lit("FFC000110812340ABC"),
        sof_marker, F.lit("0011"),                       # SOF, len 17
        F.lit("08"), be16(h), be16(w),                   # precision,h,w
        F.lit("03"), F.lit("00" * 9),                    # 3 components
        F.lit("FFD9"),                                   # EOI
    )
    jpegs = d.select("doc_id", F.unhex(payload_hex).alias("payload"))
    return parse_jpeg_dims(jpegs)


def warc_gz_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.warc.gz ingestion under the hash gate (sources/warc.py
    warc_gz_parse): 8 file images with ONE GZIP MEMBER PER RECORD —
    the exact Common Crawl delivery layout — built in-plan with stdlib
    gzip (an independent compressor), split at member boundaries via
    zlib unused_data (never magic-byte search: compressed payloads
    legally contain the gzip magic), decompressed, and run through the
    same length-driven record parser as plain WARC. The oracle
    recomputes every field straight from documents: equality proves
    decompress∘split∘parse∘build = id on the compressed container."""
    from ..sources.warc import warc_gz_parse

    tune(spark)
    t = _t(spark, sf_dir)
    docs = t("documents").select("doc_id", "text").filter(
        F.col("doc_id") < 240
    )

    def build(pdf):
        import gzip as _gzip

        import pandas as _pd

        pdf = pdf.sort_values("doc_id")
        parts = []
        for _, r in pdf.iterrows():
            body = str(r["text"]).encode()
            rec = (
                b"WARC/1.0\r\nWARC-Type: response\r\n"
                + f"WARC-Record-ID: <urn:corpus:{int(r['doc_id'])}>\r\n".encode()
                + f"WARC-Target-URI: http://corpus.local/doc/{int(r['doc_id'])}\r\n".encode()
                + b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
                + f"Content-Length: {len(body)}\r\n\r\n".encode()
                + body
                + b"\r\n\r\n"
            )
            parts.append(_gzip.compress(rec, mtime=0))
        return _pd.DataFrame({"content": [b"".join(parts)]})

    shards = (
        docs.withColumn("f", F.pmod(F.col("doc_id"), F.lit(8)))
        .groupBy("f")
        .applyInPandas(build, schema="content binary")
    )
    return warc_gz_parse(shards).select(
        "warc_type", "record_id", "target_uri", "content_length", "text"
    )


def tar_webdataset_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard ingestion under the hash gate
    (sources/tar.py): 8 genuine POSIX ustar shard images are built
    in-plan by CPython's ``tarfile`` — an INDEPENDENT canonical writer
    — then parsed back by our length-driven, checksum-verifying parser
    and grouped into {key}.txt/{key}.cls samples. Equality against the
    oracle (which recomputes every field straight from the documents
    table) proves parse∘build = id across two independent tar
    implementations, on the container format multimodal training
    corpora actually ship in."""
    from ..sources.tar import tar_parse, webdataset_samples

    tune(spark)
    t = _t(spark, sf_dir)
    docs = t("documents").select("doc_id", "lang", "text").filter(
        F.col("doc_id") < 240
    )

    def build(pdf):
        import io
        import tarfile

        import pandas as _pd

        pdf = pdf.sort_values("doc_id")
        buf = io.BytesIO()
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for _, r in pdf.iterrows():
                for ext, data in (
                    ("txt", str(r["text"]).encode()),
                    ("cls", str(r["lang"]).encode()),
                ):
                    ti = tarfile.TarInfo(f"{int(r['doc_id']):08d}.{ext}")
                    ti.size = len(data)
                    ti.mtime = 0
                    tf.addfile(ti, io.BytesIO(data))
        return _pd.DataFrame(
            {
                "path": [f"shard{int(pdf['f'].iloc[0])}.tar"],
                "content": [buf.getvalue()],
            }
        )

    shards = (
        docs.withColumn("f", F.pmod(F.col("doc_id"), F.lit(8)))
        .groupBy("f")
        .applyInPandas(build, schema="path string, content binary")
    )
    samples = webdataset_samples(tar_parse(shards, path_col="path"))
    return samples.select(
        F.col("sample_key").cast("long").alias("doc_id"),
        "n_members",
        F.element_at("exts", 1).alias("ext1"),   # ext-sorted: cls < txt
        F.element_at("exts", 2).alias("ext2"),
        F.element_at("payloads", 1).cast("string").alias("cls_payload"),
        F.octet_length(F.element_at("payloads", 2)).cast("long").alias(
            "txt_bytes"
        ),
        "total_bytes",
    )


def preference_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction (operators.corpus.preference_pairs
    — RLHF/DPO data prep): documents grouped into 50 synthetic prompts
    (doc_id % 50), responses scored by the 4dp quality heuristic, each
    prompt pairing its best response against its worst (deterministic
    struct-max/min tiebreaks, zero-margin groups dropped). One hash
    aggregation — no window sort, no self-join. The oracle restates
    the argmax/argmin as SQL windows with the matching tie order."""
    from ..operators.corpus import preference_pairs
    from ..operators.text import quality_score

    tune(spark)
    t = _t(spark, sf_dir)
    scored = t("documents").select(
        F.pmod(F.col("doc_id"), F.lit(50)).alias("prompt"),
        "doc_id",
        F.round(quality_score(F.col("text")), 4).alias("score"),
    )
    return preference_pairs(scored)


def blocklist_lexicon_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-lexicon blocklist (operators.text.blocklist_lexicon_filter
    — the documented scale path beyond the 64-phrase replace-count
    contract): phrases live in a TABLE joined against exploded
    positional token n-grams, so scan cost is independent of lexicon
    size. Mixed 1- and 2-word phrases exercise both gram widths; the
    oracle regenerates the n-grams with list slicing and joins the
    same VALUES lexicon. Aggregated per lang."""
    from ..operators.text import blocklist_lexicon_filter

    tune(spark)
    t = _t(spark, sf_dir)
    lex = spark.createDataFrame(
        [("merge",), ("window sort",), ("hash value",), ("big query",)],
        "phrase string",
    )
    out = blocklist_lexicon_filter(t("documents"), lex, max_hits=2)
    return out.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_blocked_hits").alias("total_hits"),
        F.sum(F.col("blocklist_pass").cast("long")).alias("n_passing"),
    )



def lang_id_metrics_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier eval loop (operators.profile.classification_metrics
    over operators.text.lang_id_ngram): per-class precision/recall/F1
    of the language-ID predictions against the trusted labels — the
    audit every classifier-based curation stage needs before its
    threshold ships. Integer confusion counts; exact divisions."""
    from ..operators.profile import classification_metrics
    from ..operators.text import lang_id_ngram

    tune(spark)
    t = _t(spark, sf_dir)
    preds = lang_id_ngram(t("documents"), n=3, dim=64)
    return classification_metrics(preds, "lang", "lang_pred")


def ks_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic (operators.profile.ks_statistic):
    click vs error value distributions — the binning-free drift
    monitor next to psi_drift_events. Cumulative ECDFs run over the
    aggregated distinct-value table, never the raw scan."""
    from ..operators.profile import ks_statistic

    tune(spark)
    t = _t(spark, sf_dir)
    ev = t("events").select(
        "event_type", F.round(F.col("value"), 3).alias("v")
    )
    return ks_statistic(ev, "v", "event_type", "click", "error")


def source_gini_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration (operators.profile.gini_concentration):
    Gini over per-source document counts — the one-number diversity
    red flag. Exact integer arithmetic until one final division."""
    from ..operators.profile import gini_concentration

    tune(spark)
    t = _t(spark, sf_dir)
    return gini_concentration(t("documents"), "source")


def padding_waste_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-shape planning (operators.corpus.padding_waste_report):
    padding cost and sequence counts at candidate fixed lengths
    (128/256/512/1024) — the report that picks max_len before GPU
    hours go to pad tokens; integers end to end."""
    from ..operators.corpus import padding_waste_report

    tune(spark)
    t = _t(spark, sf_dir)
    return padding_waste_report(t("documents"), [128, 256, 512, 1024])


def pmi_collocations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (operators.corpus.pmi_collocations,
    Church & Hanks): top-100 adjacent-bigram multiword expressions by
    pointwise mutual information with a min-count floor. Exact integer
    count ratios into one ln — deterministic doubles; ties ordered by
    the words."""
    from ..operators.corpus import pmi_collocations

    tune(spark)
    t = _t(spark, sf_dir)
    return pmi_collocations(t("documents"), min_count=5, top_k=100)


def robust_scale_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group robust scaling (operators.profile.robust_scale):
    median/IQR calibration of order totals within each order priority
    — the cross-source score-calibration step before any global
    threshold. Exact interpolated percentiles broadcast back; the scan
    side never shuffles."""
    from ..operators.profile import robust_scale

    tune(spark)
    t = _t(spark, sf_dir)
    o = t("orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price_d"),
    )
    out = robust_scale(o, "price_d", "o_orderpriority")
    return out.select(
        "o_orderkey",
        "o_orderpriority",
        F.round("med", 4).alias("med"),
        F.round("iqr", 4).alias("iqr"),
        "scaled",
    )


def xml_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML parsing (Spark 4 from_xml — the reference's format
    matrix covers csv/json/parquet/orc; XML is the enterprise-feed
    format it lacks): deterministic XML built from each event row is
    parsed back through the real parser — attribute (_-prefixed) and
    element extraction both exercised — and must reproduce the source
    fields exactly (parse ∘ build = id, the warc_roundtrip pattern)."""
    tune(spark)
    t = _t(spark, sf_dir)
    ev = t("events").filter(F.col("event_id") < 500)
    xml = F.concat(
        F.lit('<e id="'), F.col("event_id"),
        F.lit('"><u>'), F.col("user_id"),
        F.lit("</u><t>"), F.col("event_type"), F.lit("</t></e>"),
    )
    parsed = ev.select(
        "event_id",
        F.from_xml(xml, "_id long, u long, t string").alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p._id").alias("xml_id"),
        F.col("p.u").alias("xml_user"),
        F.col("p.t").alias("xml_type"),
    )


def seasonal_naive_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-seasonality triage (operators.windows.seasonal_naive_error,
    the MASE shape): hourly per-type series, lag-24 forecast MAE vs
    lag-1 naive MAE. Lags run over the tiny hourly table, never the
    raw scan; hourly sums are 6dp-stabilized before differencing."""
    from ..operators.windows import seasonal_naive_error

    tune(spark)
    t = _t(spark, sf_dir)
    return seasonal_naive_error(t("events"), period=24)


def funnel_steps_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered first-touch funnel (operators.behavior.
    funnel_conversions): users reaching view → click-after-view →
    purchase-after-that-click. Each stage is a filtered min-agg joined
    on the previous anchor — no window over the raw event table."""
    from ..operators.behavior import funnel_conversions

    tune(spark)
    t = _t(spark, sf_dir)
    return funnel_conversions(t("events"), ["view", "click", "purchase"])


def containment_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric set-containment self-join (operators.dedup.
    containment_join): ordered pairs where ≥40% of doc A's word
    3-grams appear in doc B — the quote/doc-in-doc detector Jaccard
    misses. Candidates come from the asymmetric prefix filter
    (contained side prunes to its rarest grams, containing side keeps
    all — recall 1.0); the oracle is exact all-pairs containment on
    the same bounded id range, so candidate recall AND the verify math
    are both hash-checked."""
    from ..operators.dedup import containment_join

    tune(spark)
    t = _t(spark, sf_dir)
    return containment_join(t("documents"), n=3, threshold=0.4, max_id=200)


def zipf_slope_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope PER LANGUAGE over each lang's top-100
    tokens (operators.corpus.zipf_slope) — the per-group sibling of
    zipf_fit_tokens (global fit over the full vocabulary): the
    per-group form is what a mixed-language corpus-health dashboard
    needs (one collapsed language hides inside a global fit), and the
    top-R cut fits the head where Zipf holds instead of the bending
    tail. Deterministic top-R ties so the regression set is
    engine-stable."""
    from ..operators.corpus import zipf_slope

    tune(spark)
    t = _t(spark, sf_dir)
    return zipf_slope(t("documents"), group_col="lang", top_r=100)


def oov_rate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per doc against the corpus's own top-50
    token vocabulary (operators.corpus.oov_rate) — the tokenizer-fit
    screen. Top-K cut is a distributed TakeOrderedAndProject, counts
    are occurrence-level integers, so the per-doc output is
    engine-exact."""
    from ..operators.corpus import oov_rate

    tune(spark)
    t = _t(spark, sf_dir)
    return oov_rate(t("documents"), vocab_k=50)


def sq8_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding table (operators.
    similarity.sq8_quantize, the FAISS-SQ8 serving compression):
    per-vector symmetric scale, round-to-int8 codes, reconstruction
    audit. The full code arrays plus integer checksums are
    hash-matched against DuckDB list arithmetic."""
    from ..operators.similarity import sq8_quantize

    tune(spark)
    t = _t(spark, sf_dir)
    return sq8_quantize(t("embeddings"))


def lang_id_ngram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID (operators.text.lang_id_ngram): hashed char-3-gram
    nearest-centroid classifier — the fastText-langid shape — trained
    on the corpus's own lang labels, cosine argmax with deterministic
    6dp/tie-break contract. Gate output is the (lang, lang_pred)
    confusion matrix; confidence is summed in integer basis points so
    the oracle hash has no float-summation order to disagree on."""
    from ..operators.text import lang_id_ngram

    tune(spark)
    t = _t(spark, sf_dir)
    out = lang_id_ngram(t("documents"), n=3, dim=64)
    return out.groupBy("lang", "lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.round(F.col("lang_confidence") * 10000).cast("long")
        ).alias("sum_conf_bp"),
    )


def kmeans_cluster_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic spherical Lloyd k-means (operators.similarity.
    kmeans_lloyd — cluster-based curation: SemDeDup-style pruning,
    cluster-balanced sampling, topic-stratified splits): init = the 4
    lowest-vec_id rows, 2 update iterations, argmax-rounded-cosine
    assignment (ties to the lower cid), 6dp rounding at every
    boundary. The oracle replays the identical trajectory as unrolled
    CTEs, the pagerank_doc_graph pattern. Per cluster: size, mean
    cosine to the final centroid, lowest member id."""
    from ..operators.similarity import kmeans_lloyd

    tune(spark)
    t = _t(spark, sf_dir)
    assigned, _, _ = kmeans_lloyd(t("embeddings"), k=4, iters=2)
    return assigned.groupBy("cluster_id").agg(
        F.count("*").alias("n_points"),
        F.round(F.avg("cos_sim"), 6).alias("avg_sim"),
        F.min("vec_id").alias("min_vec_id"),
    )



def unicode_nfc_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (operators.text.unicode_nfc — the
    Arrow-batched pandas_udf over CPython unicodedata): the fixture
    appends 0/1/2 decomposed combining pairs (e+U+0301, a+U+0300) per
    doc by doc_id%3, so NFC must compose exactly that many codepoints
    away. The oracle builds the identical decorated text with chr()
    concatenation and runs DuckDB's nfc_normalize — two independent
    normalizer implementations (unicodedata vs utf8proc) must agree
    on canonical composition. Per-lang char counts before/after +
    changed-doc count."""
    from ..operators.text import unicode_nfc

    tune(spark)
    t = _t(spark, sf_dir)
    decorated = F.concat(
        F.substring(F.col("text"), 1, 40),
        F.substr(
            F.lit("e\u0301a\u0300"),
            F.lit(1),
            F.pmod(F.col("doc_id"), F.lit(3)) * 2,
        ),
    )
    docs = t("documents").select("doc_id", "lang", decorated.alias("raw"))
    out = unicode_nfc(docs, text_col="raw", out_col="nfc")
    return out.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("raw")).alias("raw_chars"),
        F.sum(F.length("nfc")).alias("nfc_chars"),
        F.sum((F.col("raw") != F.col("nfc")).cast("long")).alias("n_changed"),
    )



def dsir_importance_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators.corpus.dsir_importance —
    Xie et al. 2023): every document scored by the mean hashed-unigram
    log-ratio ln(P_en(b)/P_raw(b)), target = the lang='en' slice, 1024
    portable-md5 buckets, add-0.5 smoothing. Two B-row distribution
    aggs + one broadcast-join scoring pass. The oracle rebuilds both
    smoothed distributions from the same md5 buckets — counts are
    exact integers, so only the final mean needs the 6dp round."""
    from ..operators.corpus import dsir_importance

    tune(spark)
    t = _t(spark, sf_dir)
    docs = t("documents")
    return dsir_importance(docs, docs.filter(F.col("lang") == "en"))



def chat_transcripts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT transcript assembly (operators.corpus.chat_transcripts):
    documents become 25 synthetic conversations (conv = doc_id%25,
    turn = doc_id, role alternating user/assistant per 25-block),
    rendered <|role|>text\n, concatenated turn-ordered, with 1-based
    [start,end) assistant loss-mask char spans from the running-offset
    window. The oracle rebuilds the transcript with ordered string_agg
    and the spans with the same cumulative-length window; md5 of the
    transcript proves exact equality, the span arrays hash directly."""
    from ..operators.corpus import chat_transcripts

    tune(spark)
    t = _t(spark, sf_dir)
    turns = t("documents").select(
        F.pmod(F.col("doc_id"), F.lit(25)).alias("conv_id"),
        F.col("doc_id").alias("turn"),
        F.when(
            F.pmod(F.floor(F.col("doc_id") / 25), 2) == 0, F.lit("user")
        ).otherwise(F.lit("assistant")).alias("role"),
        F.substring(F.col("text"), 1, 60).alias("text"),
    )
    out = chat_transcripts(turns)
    return out.select(
        "conv_id",
        "n_turns",
        F.md5("transcript").alias("transcript_md5"),
        "transcript_chars",
        "mask_starts",
        "mask_ends",
    )



def table_diff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (operators.profile.table_diff): prev =
    documents; cur drops doc_id%17==3, edits text where doc_id%13==5,
    and re-adds doc_id%29==11 rows under key+1000000. The operator
    classifies via md5 row fingerprints on each side of ONE full-outer
    key join; the oracle rebuilds cur and classifies by direct column
    comparison (IS DISTINCT FROM) — the two mechanisms must yield the
    identical status partition. Aggregated per status."""
    from ..operators.profile import table_diff

    tune(spark)
    t = _t(spark, sf_dir)
    prev = t("documents")
    base = prev.filter(F.pmod(F.col("doc_id"), F.lit(17)) != 3)
    edited = base.withColumn(
        "text",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(13)) == 5,
            F.concat(F.col("text"), F.lit(" [edited]")),
        ).otherwise(F.col("text")),
    )
    added = prev.filter(F.pmod(F.col("doc_id"), F.lit(29)) == 11).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    cur = edited.unionByName(added)
    d = table_diff(cur, prev, ["doc_id"])
    return d.groupBy("diff_status").agg(
        F.count("*").alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def parquet_footer_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet footer audit (ingest.maintenance.parquet_layout_report):
    distributed footer-only reads (pyarrow per task, data pages never
    touched) rolled up per column; the oracle recomputes the same
    counts and min/max FROM THE DATA — footer statistics must agree
    with a full scan, which is exactly the invariant data skipping
    relies on at 100 TB."""
    import os as _os

    from ..ingest.maintenance import parquet_layout_report

    tune(spark)
    rep = parquet_layout_report(
        spark,
        _os.path.join(sf_dir, "lineitem.parquet"),
        columns=["l_orderkey", "l_partkey", "l_suppkey"],
    )
    return rep.groupBy("column_name").agg(
        F.sum("num_values").alias("n_values"),
        # a zero-row file writes a row group with NO statistics object:
        # zero values provably contain zero nulls, so report 0 (the
        # full-scan oracle's count(*) - count(col)); stats missing on a
        # NON-empty group stays NULL (honestly unknown)
        F.when(F.sum("null_count").isNotNull(), F.sum("null_count"))
        .when(F.sum("num_values") == 0, F.lit(0))
        .alias("n_nulls"),
        F.min(F.col("min_value").cast("long")).alias("min_value"),
        F.max(F.col("max_value").cast("long")).alias("max_value"),
    )




def kmeans_incremental_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mini-batch k-means serving path (operators.similarity.
    kmeans_update): fit on the vec_id%5!=0 slice (1 Lloyd iteration),
    then fold the %5==0 batch into the frozen model with the exact
    weighted-mean merge c' = (c*n + sum_new)/(n+m) — recurring work is
    batch-sized, the state is k*d + k counts. The oracle unrolls fit,
    batch assignment, and the merge formula; untouched clusters fall
    out of the same expression with coalesce(0). Per cluster: batch
    rows, total rows, 6dp centroid-coordinate checksum."""
    from ..operators.similarity import kmeans_lloyd, kmeans_update

    tune(spark)
    t = _t(spark, sf_dir)
    emb = t("embeddings")
    base = emb.filter(F.pmod(F.col("vec_id"), F.lit(5)) != 0)
    batch = emb.filter(F.pmod(F.col("vec_id"), F.lit(5)) == 0)
    assigned, cents, counts = kmeans_lloyd(base, k=4, iters=1)
    new_assigned, cents2, counts2 = kmeans_update(batch, cents, counts)
    n_new = {
        r.cluster_id: r.n
        for r in new_assigned.groupBy("cluster_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    out = spark.createDataFrame(
        [
            (cid, n_new.get(cid, 0), counts2[cid], cents2[cid])
            for cid in sorted(cents2)
        ],
        "cluster_id int, n_new long, n_total long, c array<double>",
    )
    return out.select(
        "cluster_id",
        "n_new",
        "n_total",
        F.round(
            F.aggregate("c", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("c_sum"),
    )



def mp4_probe_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO BMFF (MP4) structural probe under the hash gate
    (operators.multimodal.parse_mp4_boxes / mp4_probe): per doc a
    minimal MP4 is built byte-level (ftyp + a free box whose payload
    is a FAKE moov header + moov[mvhd v0/v1 + n empty traks] + mdat
    with 64-bit largesize every 7th doc and a fake ftyp inside its
    payload), then parsed back by the length-driven box walk. The
    oracle recomputes timescale/duration/track-count arithmetically
    from doc_id: equality proves parse∘build = id and that embedded
    fake headers never desync the cursor."""
    import pandas as _pd  # noqa: F401 — used in the Arrow builder

    from ..operators.multimodal import build_mp4_bytes, mp4_probe

    tune(spark)
    t = _t(spark, sf_dir)
    d = t("documents").select("doc_id").filter(F.col("doc_id") < 150)

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            payloads = [
                build_mp4_bytes(
                    timescale=600 + (i % 4) * 300,
                    duration=i * 100 + 90,
                    n_tracks=1 + i % 3,
                    version=1 if i % 5 == 0 else 0,
                    largesize_mdat=(i % 7 == 0),
                )
                for i in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    movies = d.mapInPandas(build, schema="doc_id long, payload binary")
    return mp4_probe(movies)



def stream_kmeans_intake_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cluster-assignment intake under the hash gate (the
    18th stream parity; operators.similarity.kmeans_stats_merge_into_
    store): the vec_id%5==0 slice arrives in three micro-batches
    (maxFilesPerTrigger=1); foreachBatch assigns each batch to the
    FROZEN base model scan-side and additively merges per-(cluster,
    pos) sufficient statistics (coordinate sum, count) into a parquet
    store — sums commute, so the drained store equals the one-shot
    statistics regardless of shard order, and the derived model equals
    the batch kmeans_update exactly. The oracle is therefore the SAME
    SQL as kmeans_incremental_embeddings."""
    import shutil
    import time as _time

    from ..operators.similarity import (
        kmeans_from_stats,
        kmeans_lloyd,
        kmeans_stats_merge_into_store,
    )

    tune(spark)
    t = _t(spark, sf_dir)
    emb = t("embeddings")
    base = emb.filter(F.pmod(F.col("vec_id"), F.lit(5)) != 0)
    batch = emb.filter(F.pmod(F.col("vec_id"), F.lit(5)) == 0)
    _, cents, counts = kmeans_lloyd(base, k=4, iters=1)
    if not cents:  # empty base: no model, nothing to merge into
        return spark.createDataFrame(
            [], "cluster_id int, n_new long, n_total long, c_sum double"
        )

    root = tempfile.mkdtemp(prefix="dif_kmeans_stream_")
    src_dir = os.path.join(root, "src")
    store = os.path.join(root, "stats")
    os.makedirs(src_dir)
    now = _time.time()
    for i in range(3):
        p = os.path.join(src_dir, f"shard{i}.parquet")
        batch.filter(F.pmod(F.col("vec_id"), F.lit(3)) == i).coalesce(
            1
        ).write.mode("overwrite").parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (now - 600 + i * 100,) * 2)
    try:
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>, label int")
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(src_dir, "*.parquet"))
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda b, _id: kmeans_stats_merge_into_store(
                    b, cents, store, batch_id=_id
                )
            )
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        st = spark.read.parquet(store)
        n_new = {
            r.cluster_id: int(r.m)
            for r in st.filter(F.col("pos") == 0).collect()
        }
        cents2, counts2 = kmeans_from_stats(spark, store, cents, counts)
        out = spark.createDataFrame(
            [
                (cid, n_new.get(cid, 0), counts2[cid], cents2[cid])
                for cid in sorted(cents2)
            ],
            "cluster_id int, n_new long, n_total long, c array<double>",
        )
        return out.select(
            "cluster_id",
            "n_new",
            "n_total",
            F.round(
                F.aggregate("c", F.lit(0.0), lambda a, x: a + x), 6
            ).alias("c_sum"),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)



def distinct_ngram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity distinct-2 metric per source
    (operators.corpus.distinct_ngram_ratio — Li et al. 2016 applied as
    corpus QA): bigram occurrences vs distinct bigrams per source, one
    explode + one distinct-count aggregation. Oracle restates it with
    positional list slicing."""
    from ..operators.corpus import distinct_ngram_ratio

    tune(spark)
    t = _t(spark, sf_dir)
    return distinct_ngram_ratio(t("documents"), n=2, group_col="source")


def adaptive_length_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang adaptive length gate (operators.text.
    adaptive_length_filter): thresholds = each lang's own exact p05/p95
    token-count percentiles (grouped percentile agg broadcast back —
    the corpus side never shuffles). Oracle: quantile_cont, the same
    interpolation contract percentiles_orders proves. Aggregated pass/
    drop counts + rounded thresholds per lang."""
    from ..operators.text import adaptive_length_filter

    tune(spark)
    t = _t(spark, sf_dir)
    out = adaptive_length_filter(t("documents"))
    return out.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("length_pass").cast("long")).alias("n_pass"),
        F.round(F.min("len_lo"), 6).alias("len_lo"),
        F.round(F.min("len_hi"), 6).alias("len_hi"),
    )



def bfs_distances_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distances (operators.graph.bfs_distances)
    over the same deterministic functional graph pagerank_doc_graph
    uses (doc_id → (31·doc_id+7) mod 400), source node 0: per round one
    frontier⋈edges equi-join + settled anti-join, O(diameter) rounds.
    Oracle: DuckDB recursive CTE taking min(depth) per node — BFS
    levels are exactly the recursion depths."""
    from ..operators.graph import bfs_distances

    tune(spark)
    t = _t(spark, sf_dir)
    edges = t("documents").select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 31 + 7, F.lit(400)).alias("dst"),
    )
    return bfs_distances(edges, source=0, max_iters=30)


def encoding_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset/mojibake screen (operators.text.encoding_quality): the
    fixture injects U+FFFD replacement runs (every 3rd doc — the
    wrong-charset-decode signature) and C0 control bytes (every 5th —
    binary contamination), then aggregates pass/char counts per lang.
    Counting is replace-based + one explicit-hex character class, the
    engine-proof contract; the tight 0.2% tolerances fail the injected
    docs and pass the clean ones."""
    from ..operators.text import encoding_quality

    tune(spark)
    t = _t(spark, sf_dir)
    d = t("documents")
    dirty = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("���")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit("\x01\x02\x07")).otherwise(
            F.lit("")
        ),
    )
    out = encoding_quality(
        d.select("doc_id", "lang", dirty.alias("text")),
        max_replacement_ratio=0.002,
        max_control_ratio=0.002,
    )
    return out.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_replacement").alias("total_replacement"),
        F.sum("n_control").alias("total_control"),
        F.sum(F.col("encoding_pass").cast("long")).alias("n_passing"),
    )


def warc_to_corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-to-corpus FLAGSHIP integration: the whole web pipeline
    composed in one plan — WARC build+parse (sources/warc.py) -> HTML
    visible-text extraction + URL canonicalization (operators/web.py)
    -> per-URL dedup (min doc per canonical key) -> quality gate
    (operators/text.py, round-4dp score >= 0.9) -> exact content dedup
    (md5 fingerprint — every 4th doc also arrives as a MIRROR record
    with identical content under a different URL and record id, the
    mirror-site case URL dedup cannot catch) -> train/val split by
    portable hash. One stage row per funnel step: (stage, n_rows,
    id_checksum) where the checksum is the order-insensitive md5-sum
    fingerprint of the SURVIVING doc ids
    (operators/profile.py::table_fingerprint contract), so the oracle
    proves not just the counts but exactly WHICH documents each stage
    kept. The heavy parse+extract runs once (materialized compact:
    id/url/quality/fingerprint — 4 columns, no text) and six 1-row
    aggregates reuse it."""
    tune(spark)
    t = _t(spark, sf_dir)
    return _warc_corpus_funnel(
        t("documents").filter(F.col("doc_id") < 400).select(
            "doc_id", "lang", "source", "text"
        )
    )


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_volume": q5_region_volume,
    "join_broadcast_dim": join_broadcast_dim,
    "range_join_ship_window": range_join_ship_window,
    "window_top_order_per_customer": window_top_order_per_customer,
    "conditional_agg_events": conditional_agg_events,
    "union_nation_keys": union_nation_keys,
    "scalar_string_case": scalar_string_case,
    "scalar_datetime": scalar_datetime,
    "sort_limit_topk": sort_limit_topk,
    "agg_scalar_stats": agg_scalar_stats,
    "distinct_flag_status": distinct_flag_status,
    "anti_join_customers_no_orders": anti_join_customers_no_orders,
    "semi_join_customers_with_orders": semi_join_customers_with_orders,
    "filter_like_in_between": filter_like_in_between,
    "pii_mask_customers": pii_mask_customers,
    "dedup_exact_docs": dedup_exact_docs,
    "ngram_jaccard_bounded": ngram_jaccard_bounded,
    "minhash_near_dup": minhash_near_dup,
    "set_similarity_join_docs": set_similarity_join_docs,
    "bloom_anti_join_lineitem": bloom_anti_join_lineitem,
    "reconcile_fingerprint_orders": reconcile_fingerprint_orders,
    "acf_hourly_events": acf_hourly_events,
    "pcm_decode_stats_docs": pcm_decode_stats_docs,
    "hard_negatives_embeddings": hard_negatives_embeddings,
    "mmr_rerank_embeddings": mmr_rerank_embeddings,
    "margin_bitext_mine_embeddings": margin_bitext_mine_embeddings,
    "embedding_gram_embeddings": embedding_gram_embeddings,
    "fim_transform_docs": fim_transform_docs,
    "source_overlap_docs": source_overlap_docs,
    "psi_drift_events": psi_drift_events,
    "warc_roundtrip_docs": warc_roundtrip_docs,
    "cms_frequency_orders": cms_frequency_orders,
    "blocklist_filter_docs": blocklist_filter_docs,
    "cusum_changepoint_events": cusum_changepoint_events,
    "vocab_coverage_docs": vocab_coverage_docs,
    "bpe_encode_merges_docs": bpe_encode_merges_docs,
    "simhash_near_dup": simhash_near_dup,
    "dedup_cluster_canonical": dedup_cluster_canonical,
    "pq_ann_topk": pq_ann_topk,
    "text_stats_docs": text_stats_docs,
    "embedding_topk": embedding_topk,
    "embedding_near_dup": embedding_near_dup,
    "ivf_ann_topk": ivf_ann_topk,
    "events_hourly": events_hourly,
    "sessionize_events": sessionize_events,
    "ingest_reconcile": ingest_reconcile,
    "rollup_agg": rollup_agg,
    "pivot_orders_status": pivot_orders_status,
    "percentiles_orders": percentiles_orders,
    "approx_distinct_parts": approx_distinct_parts,
    "hll_mergeable_rollup": hll_mergeable_rollup,
    "approx_percentile_verdict": approx_percentile_verdict,
    "stratified_sample_mix": stratified_sample_mix,
    "temperature_mix_docs": temperature_mix_docs,
    "token_budget_select_docs": token_budget_select_docs,
    "scrub_pii_contacts": scrub_pii_contacts,
    "mad_outliers_orders": mad_outliers_orders,
    "media_header_probe": media_header_probe,
    "equi_depth_buckets_docs": equi_depth_buckets_docs,
    "json_extract_events": json_extract_events,
    "string_regex_orders": string_regex_orders,
    "quality_fingerprint_docs": quality_fingerprint_docs,
    "lang_id_docs": lang_id_docs,
    "knn_join_sample": knn_join_sample,
    "knn_join_bucketed": knn_join_bucketed_q,
    "knn_join_indexed": knn_join_indexed_q,
    "asof_join_events": asof_join_events,
    "asof_join_nearest_events": asof_join_nearest_events,
    "decimal_agg": decimal_agg,
    "q4_exists_priority": q4_exists_priority,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q13_order_distribution": q13_order_distribution,
    "q18_large_orders": q18_large_orders,
    "q7_nation_year_volume": q7_nation_year_volume,
    "math_functions": math_functions,
    "array_functions": array_functions,
    "collect_agg": collect_agg,
    "stats_agg": stats_agg,
    "regression_robust_stats": regression_robust_stats,
    "sql_text_q1": sql_text_q1,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q10_returned_items": q10_returned_items,
    "q14_promo_revenue": q14_promo_revenue,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_variety": q16_supplier_variety,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q22_wealthy_inactive": q22_wealthy_inactive,
    "q8_market_share": q8_market_share,
    "q9_profit_by_nation_year": q9_profit_by_nation_year,
    "q11_value_share": q11_value_share,
    "q21_last_shipper_multi_supplier": q21_last_shipper_multi_supplier,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q12_late_shipment_priority": q12_late_shipment_priority,
    "q20_excess_share_suppliers": q20_excess_share_suppliers,
    "session_window_batch": session_window_batch,
    "profile_orders": profile_orders,
    "expectations_orders": expectations_orders,
    "unpivot_lineitem_metrics": unpivot_lineitem_metrics,
    "window_range_interval": window_range_interval,
    "set_ops_all_variants": set_ops_all_variants,
    "argmax_agg_family": argmax_agg_family,
    "variant_json_events": variant_json_events,
    "time_travel_counts": time_travel_counts,
    "cdc_changes_orders": cdc_changes_orders,
    "incremental_agg_parity": incremental_agg_parity,
    "lsh_index_bucketed": lsh_index_bucketed,
    "lateral_topn_per_region": lateral_topn_per_region,
    "null_safe_join_counts": null_safe_join_counts,
    "scd2_customer_dim": scd2_customer_dim,
    "seeded_shuffle_docs": seeded_shuffle_docs,
    "frame_sample_docs": frame_sample_docs,
    "resize_stub_docs": resize_stub_docs,
    "corpus_diff_versions": corpus_diff_versions,
    "cube_agg": cube_agg,
    "grouping_sets_agg": grouping_sets_agg,
    "window_value_family": window_value_family,
    "corpus_clean_stats": corpus_clean_stats,
    "intersect_nation_keys": intersect_nation_keys,
    "except_nation_keys": except_nation_keys,
    "window_lead_lag_rank": window_lead_lag_rank,
    "window_moving_avg": window_moving_avg,
    "salted_join_agg": salted_join_agg,
    "explode_token_topk": explode_token_topk,
    "binary_payload_meta": binary_payload_meta,
    "map_json_events": map_json_events,
    "array_higher_order": array_higher_order,
    "string_advanced": string_advanced,
    "date_family2": date_family2,
    "histogram_totalprice": histogram_totalprice,
    "chunk_docs": chunk_docs,
    "rolling_fingerprint_docs": rolling_fingerprint_docs,
    "pack_sequences_docs": pack_sequences_docs,
    "decontaminate_docs": decontaminate_docs,
    "tfidf_top_terms_docs": tfidf_top_terms_docs,
    "repeated_gram_ratio_docs": repeated_gram_ratio_docs,
    "train_split_shard_docs": train_split_shard_docs,
    "grouped_split_docs": grouped_split_docs,
    "date_spine_zero_fill": date_spine_zero_fill,
    "null_semantics": null_semantics,
    "misc_functions": misc_functions,
    "applyinpandas_group_slope": applyinpandas_group_slope,
    "pandas_udf_zscore": pandas_udf_zscore,
    "multimodal_stub_features": multimodal_stub_features,
    "stream_hourly_parity": stream_hourly_parity,
    "stream_stateful_counters_parity": stream_stateful_counters_parity,
    "stream_dedup_parity": stream_dedup_parity,
    "stream_dedup_rocksdb_parity": stream_dedup_rocksdb_parity,
    "stream_static_enrich_parity": stream_static_enrich_parity,
    "stream_rollup_merge_parity": stream_rollup_merge_parity,
    "stream_cms_rollup_parity": stream_cms_rollup_parity,
    "line_dedup_docs": line_dedup_docs,
    "substring_dedup_docs": substring_dedup_docs,
    "ngram_novelty_docs": ngram_novelty_docs,
    "skew_report_events": skew_report_events,
    "dedup_keep_best_docs": dedup_keep_best_docs,
    "stats_regression_orders": stats_regression_orders,
    "ewma_anomaly_events": ewma_anomaly_events,
    "entity_match_customers": entity_match_customers,
    "semantic_dedup_embeddings": semantic_dedup_embeddings,
    "int8_quantize_embeddings": int8_quantize_embeddings,
    "image_ahash_near_dup": image_ahash_near_dup,
    "triangle_count_doc_graph": triangle_count_doc_graph,
    "fuzzy_decontaminate_docs": fuzzy_decontaminate_docs,
    "stream_session_parity": stream_session_parity,
    "event_transition_matrix": event_transition_matrix,
    "zipf_fit_tokens": zipf_fit_tokens,
    "pareto_frontier_orders": pareto_frontier_orders,
    "benford_orders": benford_orders,
    "incremental_join_parity": incremental_join_parity,
    "bpe_pair_stats_docs": bpe_pair_stats_docs,
    "spatial_radius_join_customers": spatial_radius_join_customers,
    "window_rank_extras": window_rank_extras,
    "resample_interp_events": resample_interp_events,
    "dp_noisy_release_orders": dp_noisy_release_orders,
    "stream_sliding_parity": stream_sliding_parity,
    "temporal_join_scd2": temporal_join_scd2,
    "curriculum_order_docs": curriculum_order_docs,
    "stream_ann_intake_parity": stream_ann_intake_parity,
    "video_frame_near_dup": video_frame_near_dup,
    "udtf_chunk_docs": udtf_chunk_docs,
    "restore_parity": restore_parity,
    "listagg_orders": listagg_orders,
    "stream_ewma_state_parity": stream_ewma_state_parity,
    "k_anonymity_customers": k_anonymity_customers,
    "rolling_unique_users": rolling_unique_users,
    "char_entropy_docs": char_entropy_docs,
    "percentile_family_orders": percentile_family_orders,
    "resample_ffill_events": resample_ffill_events,
    "cap_per_source_docs": cap_per_source_docs,
    "url_functions_docs": url_functions_docs,
    "line_dedup_within_doc": line_dedup_within_doc,
    "bitmap_distinct_rollup": bitmap_distinct_rollup,
    "stream_corpus_prep_parity": stream_corpus_prep_parity,
    "stream_near_dup_intake_parity": stream_near_dup_intake_parity,
    "stream_near_dup_chain_parity": stream_near_dup_chain_parity,
    "gopher_quality_docs": gopher_quality_docs,
    "c4_clean_docs": c4_clean_docs,
    "stream_join_parity": stream_join_parity,
    "format_roundtrip_agg": format_roundtrip_agg,
    "recursive_cte_rollup": recursive_cte_rollup,
    "approx_topk_orders": approx_topk_orders,
    "sql_pipe_q6": sql_pipe_q6,
    "sql_group_by_all": sql_group_by_all,
    "weighted_sample_docs": weighted_sample_docs,
    "quality_classifier_docs": quality_classifier_docs,
    "binary_file_ingest": binary_file_ingest,
    "pandas_grouped_agg_gmean": pandas_grouped_agg_gmean,
    "pagerank_doc_graph": pagerank_doc_graph,
    "bm25_search_docs": bm25_search_docs,
    "hybrid_search_rrf": hybrid_search_rrf,
    "funnel_stages_events": funnel_stages_events,
    "bucketed_join_agg": bucketed_join_agg,
    "bigram_lm_score_docs": bigram_lm_score_docs,
    "bigram_lm_persisted_docs": bigram_lm_persisted_docs,
    "cohort_retention_events": cohort_retention_events,
    "try_functions_orders": try_functions_orders,
    "hashed_embedding_docs": hashed_embedding_docs,
    "inverted_index_docs": inverted_index_docs,
    "stream_late_drop_parity": stream_late_drop_parity,
    "dense_ids_docs": dense_ids_docs,
    "html_extract_docs": html_extract_docs,
    "url_canonical_dedup_docs": url_canonical_dedup_docs,
    "warc_to_corpus_docs": warc_to_corpus_docs,
    "encoding_quality_docs": encoding_quality_docs,
    "blocklist_lexicon_docs": blocklist_lexicon_docs,
    "lang_id_ngram_docs": lang_id_ngram_docs,
    "containment_join_docs": containment_join_docs,
    "funnel_steps_events": funnel_steps_events,
    "xml_roundtrip_events": xml_roundtrip_events,
    "pmi_collocations_docs": pmi_collocations_docs,
    "padding_waste_docs": padding_waste_docs,
    "ks_drift_events": ks_drift_events,
    "source_gini_docs": source_gini_docs,
    "lang_id_metrics_docs": lang_id_metrics_docs,
    "robust_scale_orders": robust_scale_orders,
    "seasonal_naive_events": seasonal_naive_events,
    "zipf_slope_docs": zipf_slope_docs,
    "oov_rate_docs": oov_rate_docs,
    "sq8_quantize_embeddings": sq8_quantize_embeddings,
    "preference_pairs_docs": preference_pairs_docs,
    "kmeans_cluster_embeddings": kmeans_cluster_embeddings,
    "kmeans_incremental_embeddings": kmeans_incremental_embeddings,
    "stream_kmeans_intake_parity": stream_kmeans_intake_parity,
    "unicode_nfc_docs": unicode_nfc_docs,
    "dsir_importance_docs": dsir_importance_docs,
    "distinct_ngram_docs": distinct_ngram_docs,
    "adaptive_length_docs": adaptive_length_docs,
    "bfs_distances_docs": bfs_distances_docs,
    "chat_transcripts_docs": chat_transcripts_docs,
    "table_diff_docs": table_diff_docs,
    "parquet_footer_stats_lineitem": parquet_footer_stats_lineitem,
    "tar_webdataset_roundtrip_docs": tar_webdataset_roundtrip_docs,
    "warc_gz_roundtrip_docs": warc_gz_roundtrip_docs,
    "jpeg_dims_docs": jpeg_dims_docs,
    "mp4_probe_docs": mp4_probe_docs,
    "stream_warc_intake_parity": stream_warc_intake_parity,
    "pcm_energy_segments_docs": pcm_energy_segments_docs,
}


def winnowing_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint index (operators.dedup.
    winnowing_fingerprints; Schleimer et al., SIGMOD'03): per-doc
    fingerprint count and hash range from the guaranteed-recall local
    sketch (any shared run of ≥ w+k−1 tokens shares a fingerprint;
    density 2/(w+1)). All integer math off a portable md5 prefix, so
    the oracle rebuilds the identical window-min selection in SQL."""
    from ..operators.dedup import winnowing_fingerprints

    tune(spark)
    t = _t(spark, sf_dir)
    fps = winnowing_fingerprints(t("documents"), k=5, w=4)
    return fps.groupBy("doc_id").agg(
        F.count("*").alias("n_fp"),
        F.min("fp_hash").alias("min_fp"),
        F.max("fp_hash").alias("max_fp"),
    )


def winnowing_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-candidate pairs by shared winnowing fingerprints
    (operators.dedup.winnowing_candidate_pairs): equi-join on the
    fingerprint hash — the banded-join copy-detection shape, no
    all-pairs — with the hot-fingerprint cap (max_fp_df) documented
    and the oracle applying the identical cap."""
    from ..operators.dedup import winnowing_candidate_pairs, winnowing_fingerprints

    tune(spark)
    t = _t(spark, sf_dir)
    fps = winnowing_fingerprints(
        t("documents").filter(F.col("doc_id") < 300), k=5, w=4
    )
    return winnowing_candidate_pairs(fps, min_shared=2, max_fp_df=50)


def k_anonymity_histogram_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (operators.profile.
    k_anonymity_audit; Sweeney / Machanavajjhala et al.): class-size
    histogram over the (nation, market-segment) quasi-identifier with
    min distinct account-balance values per class size — the
    release-gate privacy report."""
    from ..operators.profile import k_anonymity_audit

    tune(spark)
    t = _t(spark, sf_dir)
    return k_anonymity_audit(
        t("customer"), ["c_nationkey", "c_mktsegment"], sensitive_col="c_acctbal"
    )


def skew_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key shuffle diagnostic (operators.profile.skew_profile):
    top-20 order-count customers with share and skew factor — the
    report read before salting / AQE-skew-join decisions on a 100 TB
    join. Scalar totals broadcast (plan-audit-sanctioned 1-row
    pattern); top-k compiles to TakeOrderedAndProject."""
    from ..operators.profile import skew_profile

    tune(spark)
    t = _t(spark, sf_dir)
    return skew_profile(t("orders"), "o_custkey", top_n=20)


QUERIES.update({
    "winnowing_fingerprint_docs": winnowing_fingerprint_docs,
    "winnowing_pairs_docs": winnowing_pairs_docs,
    "k_anonymity_histogram_customers": k_anonymity_histogram_customers,
    "skew_profile_orders": skew_profile_orders,
})


def mrl_prefix_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix-truncation audit (operators.similarity.
    prefix_dim_recall; Kusupati et al. NeurIPS'22): recall@10 of
    exact top-k under 8/16/32-dim prefixes vs the full 64-dim ranking,
    for three query vectors — the report read before shipping
    shortened embeddings. Query side is model-sized (3 rows,
    broadcast); corpus side scans, no quadratic stage."""
    from ..operators.similarity import prefix_dim_recall

    tune(spark)
    t = _t(spark, sf_dir)
    return prefix_dim_recall(
        t("embeddings"), query_ids=[0, 1, 2], prefix_dims=[8, 16, 32], k=10
    )


QUERIES["mrl_prefix_recall_embeddings"] = mrl_prefix_recall_embeddings


def cooccurrence_lift_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining (operators.behavior.
    cooccurrence_lift): part pairs sharing an order, support >= 2,
    lift vs independence. Self equi-join on the order key only
    (never cross-basket), per-basket hot cap, vocabulary-sized item
    totals shuffle-joined, 1-row basket-count broadcast."""
    from ..operators.behavior import cooccurrence_lift

    tune(spark)
    t = _t(spark, sf_dir)
    return cooccurrence_lift(
        t("lineitem"), "l_orderkey", "l_partkey",
        min_support=2, max_basket_size=1000, top_n=50,
    )


def hbos_outliers_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-Based Outlier Score (operators.profile.hbos_outliers):
    -ln density over a 10-bucket totalprice histogram plus the
    priority frequency — the linear-time anomaly scorer. Two
    model-sized histogram broadcasts + one scan; top-k compiles to
    TakeOrderedAndProject."""
    from ..operators.profile import hbos_outliers

    tune(spark)
    t = _t(spark, sf_dir)
    return hbos_outliers(
        t("orders"), "o_orderkey", "o_totalprice", "o_orderpriority",
        lo=0.0, hi=500000.0, n_buckets=10, top_n=50,
    )


def fd_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency audit (operators.profile.
    fd_profile, TANE g3 error): candidate A->B dependencies with
    violation counts and confidence — the schema-discovery profile
    run before declaring MERGE keys. Two hash aggregates per pair,
    second input |distinct A|."""
    from ..operators.profile import fd_profile

    tune(spark)
    t = _t(spark, sf_dir)
    return fd_profile(
        t("orders"),
        [
            ("o_custkey", "o_orderstatus"),
            ("o_orderpriority", "o_orderstatus"),
            ("o_orderkey", "o_totalprice"),
        ],
    )


def rbo_rank_agreement_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap (operators.retrieval.rbo_rank_agreement,
    Webber et al. TOIS'10) between the by-chars and the by-tokens
    ranking of each language's documents, truncated at depth 20 —
    the top-weighted agreement metric for comparing two scorers.
    Per-group windows + a broadcast 20-row weight spine; O(k) per
    group, shuffles only on lang."""
    from ..functions import token_count
    from ..operators.retrieval import rbo_rank_agreement

    tune(spark)
    t = _t(spark, sf_dir)
    scored = t("documents").select(
        "lang",
        "doc_id",
        F.col("n_chars").cast("double").alias("score_chars"),
        token_count(F.col("text")).cast("double").alias("score_tokens"),
    )
    return rbo_rank_agreement(
        scored, "lang", "doc_id", "score_chars", "score_tokens",
        k=20, p=0.9,
    )


QUERIES.update({
    "cooccurrence_lift_lineitem": cooccurrence_lift_lineitem,
    "hbos_outliers_orders": hbos_outliers_orders,
    "fd_profile_orders": fd_profile_orders,
    "rbo_rank_agreement_docs": rbo_rank_agreement_docs,
})


def stream_psi_intake_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DRIFT MONITOR under the hash gate (the 19th stream
    parity; operators.profile.psi_bucket_merge_into_store): events
    arrive in three micro-batches; foreachBatch reduces each to
    per-(side, bucket) counts — side split on the same 2024-01-16
    cutoff as psi_drift_events — and additively merges them into a
    parquet store. Counts commute, so the drained store equals the
    one-shot bucket counts and psi_from_store reproduces the batch
    psi_drift table EXACTLY; the oracle is therefore the identical SQL
    as psi_drift_events."""
    import datetime as _dt
    import shutil
    import time as _time

    from ..operators.profile import (
        psi_bucket_merge_into_store,
        psi_from_store,
    )

    tune(spark)
    t = _t(spark, sf_dir)
    ev = t("events").select("event_id", "ts", "value")
    cutoff = _dt.datetime(2024, 1, 16)

    root = tempfile.mkdtemp(prefix="dif_psi_stream_")
    src = os.path.join(root, "src")
    store = os.path.join(root, "buckets")
    os.makedirs(src)
    now = _time.time()
    for i in range(3):
        p = os.path.join(src, f"shard{i}.parquet")
        ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i).coalesce(
            1
        ).write.mode("overwrite").parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (now - 600 + i * 100,) * 2)
    try:
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(src, "*.parquet"))
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda b, _id: psi_bucket_merge_into_store(
                    b, store, "value", "ts", cutoff, lo=0.0, hi=500.0,
                    batch_id=_id,
                )
            )
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        out = psi_from_store(spark, store)
        rows = out.collect()  # materialize before the store dir is removed
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


QUERIES["stream_psi_intake_parity"] = stream_psi_intake_parity


def mi_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy / mutual-information audit (operators.profile.
    mi_profile) over the same candidate pairs as fd_profile_orders —
    the soft-dependency companion (H(B|A)=0 iff the FD is exact; MI
    measures approximate dependence / feature redundancy). One
    corpus-sized pair-count aggregate per pair; entropies from tiny
    regroupings via the H = ln n − Σ c·ln c / n identity."""
    from ..operators.profile import mi_profile

    tune(spark)
    t = _t(spark, sf_dir)
    return mi_profile(
        t("orders"),
        [
            ("o_orderpriority", "o_orderstatus"),
            ("o_orderstatus", "o_orderpriority"),
        ],
    )


QUERIES["mi_profile_orders"] = mi_profile_orders


def vector_quality_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding intake validation (operators.similarity.
    vector_quality_status): deterministic defects injected into the
    clean fixture — NaN element at vec_id%53==0, truncated dim at
    %59==1, zeroed at %61==2, NULL vector at %67==3 — then the intake
    report: count + id checksum per status class. The report every
    vector pipeline reads before ANN indexing; one scan, no UDF."""
    from ..operators.similarity import vector_quality_status

    tune(spark)
    t = _t(spark, sf_dir)
    emb = t("embeddings").select("vec_id", "embedding")
    corrupted = emb.select(
        "vec_id",
        F.when(
            F.pmod("vec_id", F.lit(67)) == 3, F.lit(None).cast("array<float>")
        )
        .when(
            F.pmod("vec_id", F.lit(53)) == 0,
            F.concat(
                F.array(F.lit(float("nan")).cast("float")),
                F.slice(F.col("embedding"), 2, 1_000_000),
            ),
        )
        .when(
            F.pmod("vec_id", F.lit(59)) == 1,
            F.slice(F.col("embedding"), 1, 10),
        )
        .when(
            F.pmod("vec_id", F.lit(61)) == 2,
            F.transform(F.col("embedding"), lambda x: F.lit(0.0).cast("float")),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    tagged = vector_quality_status(corrupted, "embedding", expected_dim=64)
    return tagged.groupBy("vec_status").agg(
        F.count("*").alias("n"),
        F.sum("vec_id").alias("id_sum"),
    )


QUERIES["vector_quality_embeddings"] = vector_quality_embeddings


def threshold_sweep_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-cutoff calibration (operators.profile.threshold_sweep):
    precision/recall/F1 of ``score >= t`` at 9 candidate thresholds —
    the table a curation pipeline reads to pick its quality filter.
    Deterministic fixture: score = portable-hash unit of the doc id,
    label = long-document flag. One scan: rows map-side exploded
    against the broadcast 9-row threshold spine into a single |T|-key
    hash aggregate."""
    from ..operators.profile import threshold_sweep

    tune(spark)
    t = _t(spark, sf_dir)
    d = t("documents").select(
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                   16, 10).cast("double") / F.lit(float(16 ** 8))
        ).alias("score"),
        (F.col("n_chars") > 400).alias("label"),
    )
    return threshold_sweep(
        d, "score", "label", [i / 10.0 for i in range(1, 10)]
    )


QUERIES["threshold_sweep_docs"] = threshold_sweep_docs


def attribution_last_touch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution (operators.behavior.
    attribution_last_touch): every purchase credits its value to the
    user's most recent strictly-earlier click/view; no eligible touch
    → the NULL 'direct' bucket. AS-OF-join shape — one shuffle per
    side on the user key, per-user candidate pairs only, deterministic
    (touch ts, touch id) tie-break."""
    from ..operators.behavior import attribution_last_touch

    tune(spark)
    t = _t(spark, sf_dir)
    return attribution_last_touch(
        t("events"), ["click", "view"], "purchase"
    )


def cohen_kappa_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement (operators.profile.cohen_kappa):
    κ between the trusted lang label and a synthetic second annotator
    (doc_id%7==0 relabeled 'xx') — the labeled-data QA gate; exact
    counts, NULL-safe marginals, chance-corrected."""
    from ..operators.profile import cohen_kappa

    tune(spark)
    t = _t(spark, sf_dir)
    d = t("documents").select(
        "lang",
        F.when(F.pmod("doc_id", F.lit(7)) == 0, F.lit("xx"))
        .otherwise(F.col("lang"))
        .alias("lang_b"),
    )
    return cohen_kappa(d, "lang", "lang_b")


QUERIES.update({
    "attribution_last_touch_events": attribution_last_touch_events,
    "cohen_kappa_docs": cohen_kappa_docs,
})
