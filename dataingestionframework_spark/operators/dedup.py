"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (100 TB): every variant is a shuffle-on-key plan —
exact dedup is one hash aggregation on the fingerprint; MinHash-LSH
shuffles once on (band_id, band_hash) buckets so candidate generation
is linear in corpus size instead of O(n²); the exact-Jaccard verifier
only runs on LSH candidates. No driver-side loops, no collect().
"""

from __future__ import annotations

from contextlib import nullcontext

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import jaccard, word_ngrams
from ..session import pinned
from .text import fingerprint

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts by md5 fingerprint.

    Returns (fingerprint, keep_id = min id, n_copies). One hash-agg
    shuffle on a 128-bit key — the canonical 100 TB exact-dedup plan.
    Reference analogue: ``distinct()`` pre-quarantine dedup
    (``modules/auto_loader_steps.py:289,303``), generalized.
    """
    return (
        df.select(fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (min id) per distinct text. Window-free:
    a semi-join on the kept ids — two shuffles, no global sort; AQE
    picks broadcast when the kept-id side is small enough."""
    keep = exact_duplicates(df, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, id_col, "left_semi")


def drop_duplicates_keep_best(
    df: DataFrame,
    order_by: list,
    key_cols: list[str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup keeping the BEST copy per duplicate group instead of
    the min id — what production pipelines actually want (the longest /
    highest-quality / most-recent duplicate survives; near-identical
    scrapes often differ in truncation). ``order_by`` are Column sort
    expressions; make them total (append the id) or the survivor is
    tie-nondeterministic. Group key defaults to the content fingerprint
    of ``text_col``.

    One window over the fingerprint partition — same single-shuffle
    cost as min-id dedup; no global sort.
    """
    from pyspark.sql import Window

    from .text import fingerprint

    keys = key_cols or ["_fp"]
    d = df if key_cols else df.withColumn("_fp", fingerprint(F.col(text_col)))
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", *([] if key_cols else ["_fp"]))
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (the verifier; quadratic — bound it or feed it LSH pairs)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_id: int | None = None,
) -> DataFrame:
    """All-pairs word-n-gram Jaccard ≥ threshold.

    The candidate set is the O(n²) id cross-product — bound it with
    ``max_id`` or feed LSH candidates via :func:`verify_pairs_jaccard`
    at scale — but the Jaccard math itself runs as the join-based
    set-algebra form (gram-level equi-joins + hash aggs), so cost
    scales with Σ grams of paired docs, not pair_count × array_size.
    Pairs with an empty intersection can't reach any threshold > 0 and
    are dropped by the inner joins (callers pass threshold > 0).
    """
    if threshold <= 0:
        raise ValueError(
            "ngram_jaccard_pairs requires threshold > 0: the join-based "
            "set algebra never materializes zero-intersection pairs"
        )
    base = df.select(F.col(id_col), F.col(text_col))
    if max_id is not None:
        base = base.filter(F.col(id_col) < max_id)
    ids = base.select(F.col(id_col))
    cand = ids.select(F.col(id_col).alias("id_a")).join(
        ids.select(F.col(id_col).alias("id_b")), F.col("id_a") < F.col("id_b")
    )
    return verify_pairs_jaccard(cand, base, text_col, id_col, n, threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash signatures as ``num_hashes`` columns ``h0..h{k-1}``.

    Shape matters at scale: grams are exploded to rows ONCE, then each
    signature position is ``min(xxhash64(gram, i))`` — ``num_hashes``
    independent hash functions via the seed column — in a single
    groupBy of cheap min aggregates, one shuffle.
    (Building an array of 64 ``array_min(transform(...))`` expressions
    instead re-inlines the n-gram construction 64×; measured 400+ s vs
    ~2 s on 5k docs. And the two-hash Carter-Wegman family
    ``h_i = h1 + i·h2`` is NOT usable under min: for large ``i`` the
    minimum is dominated by the gram with the smallest ``h2``, so all
    high-``i`` positions collapse onto one gram and a single differing
    gram between two near-identical docs corrupts most of the
    signature — measured est≈0.03 on a true-Jaccard-0.97 pair.)
    A row-local shape (per-doc ``transform``/``array_min``/``xxhash64``
    over the gram array, no shuffle) was also rejected: its lambdas run
    interpreted, 2.4× slower at 20k docs × 200 tokens (16.3 s vs 7.3 s).
    Columns come from SQL text: as ``F.min(F.xxhash64(…))`` objects they
    cost ~30 py4j round trips each (~4,500 with the band rows; ~600 now).
    """
    from ..functions import exploded_word_ngrams

    grams = exploded_word_ngrams(df, text_col, id_col, n).select(id_col, "gram")
    return grams.groupBy(id_col).agg(
        *[F.expr(f"min(xxhash64(gram, {i})) AS h{i}") for i in range(num_hashes)]
    )


def minhash_band_rows(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Signature columns → LSH band rows (id, band_id, band_hash): one
    row per (doc, band), the storable/joinable form of the index. Built
    from SQL text like :func:`minhash_signatures`."""
    rows_per_band = num_hashes // bands
    structs = ", ".join(
        f"named_struct('band_id', {b}, 'band_hash', xxhash64(concat_ws(',', "
        + ", ".join(f"h{j}" for j in range(b * rows_per_band, (b + 1) * rows_per_band))
        + ")))"
        for b in range(bands)
    )
    return sig.selectExpr(f"`{id_col}`", f"inline(array({structs}))")


# bucket count of the persisted LSH band index
LSH_INDEX_BUCKETS = 16


def update_lsh_index_bucketed(
    new_docs: DataFrame,
    spark,
    table_name: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    consume=None,
) -> DataFrame:
    """Incremental near-dup indexing — the streaming/batch-incremental
    shape of MinHash dedup at 100 TB, with the persisted index as a
    BUCKETED catalog table: each new batch's band rows join the index
    (cost = new×bucket-matches, never all×all), then the batch is
    appended to the index for future batches.

    The band rows are keyed by a single ``bucket_key`` =
    xxhash64(band_id, band_hash) (one column, so the equi-join key IS
    the bucket column) and the table is written
    ``bucketBy(LSH_INDEX_BUCKETS, bucket_key)``. Each incremental batch
    then joins the accumulated index with NO Exchange on the index
    side: the scan's bucket layout already satisfies the join's hash
    distribution, so only the (small) new batch shuffles — into exactly
    ``LSH_INDEX_BUCKETS`` partitions. At scale the index is the big
    side and grows forever; never reshuffling it turns recurring dedup
    from O(index) shuffle per batch into O(batch).

    Folding (band_id, band_hash) into one 64-bit key can collide two
    distinct buckets; a collision only ever ADDS a candidate pair, and
    every candidate is exact-verified downstream
    (:func:`verify_pairs_jaccard`), so correctness is unaffected.

    Returns distinct candidate pairs (id_a, id_b), id_a < id_b — cross
    (new × indexed) plus within-batch — then appends the batch's band
    rows to the index table for future batches; the band rows are
    pinned once and released after the append. With ``consume`` (a
    function that pins the lazy candidate frame — see the inline
    contract), returns ``consume``'s result instead: the caller owns
    that pin and runs its downstream work over it.

    Session note: Spark's table-relation cache is per-session — a
    DIFFERENT session (e.g. the driver session while foreachBatch
    appends from its cloned session) must ``spark.catalog.refreshTable``
    before re-reading the index, or it sees the pre-append file list.
    """
    sig = minhash_signatures(new_docs, text_col, id_col, n, num_hashes)
    band_rows = (
        minhash_band_rows(sig, id_col, num_hashes, bands)
        .withColumn("bucket_key", F.xxhash64("band_id", "band_hash"))
        .select(id_col, "bucket_key")
    )
    # the band rows are read by the candidate joins and the index
    # append; the append is their last read
    with pinned(band_rows) as bnew:
        cross = None
        if spark.catalog.tableExists(table_name):
            old = spark.table(table_name)
            cross = (
                bnew.select(F.col(id_col).alias("id_a"), "bucket_key")
                .join(
                    old.select(F.col(id_col).alias("id_b"), "bucket_key"),
                    "bucket_key",
                )
                .select(
                    F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                )
            )
        a = bnew.select(F.col(id_col).alias("id_a"), "bucket_key")
        b = bnew.select(F.col(id_col).alias("id_b"), "bucket_key")
        within = (
            a.join(b, "bucket_key")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        pairs = within if cross is None else cross.union(within)
        pairs = pairs.filter(F.col("id_a") != F.col("id_b")).distinct()
        # the candidate frame must be FULLY materialized before the append
        # grows the index (self-pair safety: a later scan of the lazy plan
        # would see the batch's own band rows), and nothing may read the
        # band-row pin after the block. ``consume`` must pin the ENTIRE
        # lazy frame and return that pin (the near-dup intake enters it
        # into its handler's ExitStack, so the pin is released with the
        # batch); the caller's verify then reads the small pin. Fusing the
        # verify into this action was measured slower: its pin planned a
        # 363-node tree that re-inlined the candidate join, index scan
        # included, five times. Without ``consume`` the pairs get their
        # own returned pin.
        out = consume(pairs) if consume is not None else pairs.localCheckpoint()
        (
            # repartition by the bucket column first: a bucketed write emits
            # one file per (task, bucket-present) pair, so writing from the
            # aggregate's ~core-count partitions appended ~500 tiny files
            # PER BATCH (measured) — the accumulated index then pays
            # listing/open cost on every later batch's scan (guide §6).
            # Hash-repartitioning on bucket_key into LSH_INDEX_BUCKETS
            # partitions uses the same Murmur3 pmod as the bucket
            # assignment, so each task holds exactly one bucket: one file
            # per bucket per append.
            bnew.repartition(LSH_INDEX_BUCKETS, "bucket_key")
            .write.mode("append")
            .bucketBy(LSH_INDEX_BUCKETS, "bucket_key")
            .sortBy("bucket_key")
            .saveAsTable(table_name)
        )
    return out


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    signatures: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash banding.

    signature → split into ``bands`` groups of ``num_hashes/bands``
    values → hash each band → self-join per (band_id, band_hash) bucket.
    The self-join shuffles on the bucket key only; AQE's skew-join
    splits hot SHUFFLE partitions, but it cannot cap the OUTPUT of a
    hot bucket — a boilerplate bucket of m docs still emits C(m,2)
    pairs. ``max_bucket_size`` bounds that: buckets over the cap emit
    STAR pairs (every member ↔ the bucket's min-id representative)
    instead of all-pairs — candidates per hot bucket fall from O(m²)
    to O(m), and for the dedup use-case nothing is lost: a hot bucket
    means near-identical boilerplate, the star keeps the whole bucket
    connected, and exact verification + connected-components
    canonicalization (operators/graph.py) recover the full cluster
    transitively. Pairwise-complete output within hot buckets is the
    one thing traded away; leave ``max_bucket_size=None`` when the
    caller needs every individual pair.
    Returns distinct (id_a, id_b) with id_a < id_b.

    Pass precomputed (pinned) ``signatures`` to share them with the
    estimate stage instead of recomputing.
    """
    sig = signatures if signatures is not None else minhash_signatures(
        df, text_col, id_col, n, num_hashes
    )
    banded = minhash_band_rows(sig, id_col, num_hashes, bands)
    if max_bucket_size is not None:
        sizes = banded.groupBy("band_id", "band_hash").agg(
            F.count("*").alias("_bsz"), F.min(id_col).alias("_rep")
        )
        banded_sz = banded.join(sizes, ["band_id", "band_hash"])
        cold = banded_sz.filter(F.col("_bsz") <= max_bucket_size)
        # hot buckets: linear star pairs (rep = min id ⇒ id_a < id_b)
        hot_star = (
            banded_sz.filter(
                (F.col("_bsz") > max_bucket_size) & (F.col(id_col) != F.col("_rep"))
            )
            .select(F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b"))
        )
        a = cold.select(F.col(id_col).alias("id_a"), "band_id", "band_hash")
        b = cold.select(F.col(id_col).alias("id_b"), "band_id", "band_hash")
        pairwise = (
            a.join(b, ["band_id", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        return pairwise.union(hot_star).distinct()
    a = banded.select(F.col(id_col).alias("id_a"), "band_id", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band_id", "band_hash")
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def verify_pairs_jaccard_arrays(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """LAZY array-shape twin of :func:`verify_pairs_jaccard` for
    BATCH-SIZED candidate sets: per-doc distinct-gram SETS are
    collected into arrays (one aggregation), attached to each pair by
    two id equi-joins, and |A∩B| is a per-pair ``array_intersect`` —
    no pair×gram shuffle, no persist, no checkpoint, ~3 stages.

    Scale split (both measured): at corpus-wide candidate counts the
    join shape wins (325k candidates: 3.5 s vs 4.4 s, round 10); at
    streaming-batch candidate counts the array shape wins (62
    candidates: 0.83 s vs 1.19 s median, round 11) because stage count,
    not data, is the cost. Use this from per-batch paths where
    candidates are O(batch); use :func:`verify_pairs_jaccard` for
    corpus-wide verification. Returns the identical
    (id_a, id_b, jaccard_sim) rows — equivalence is pinned by
    ``test_verify_pairs_jaccard_arrays_equivalence``.
    """
    if threshold <= 0:
        raise ValueError(
            "verify_pairs_jaccard_arrays requires threshold > 0: candidate "
            "pairs with an empty gram intersection are dropped by the "
            "inner joins"
        )
    from ..functions import exploded_word_ngrams

    ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    needed = df.join(ids, id_col, "left_semi")
    garr = (
        exploded_word_ngrams(needed, text_col, id_col, n)
        .groupBy(id_col)
        .agg(F.collect_set("gram").alias("_grams"))
    )
    # _ni referenced three times below: array_intersect is non-cheap,
    # so CollapseProject keeps the staging projection (SPARK-36718)
    # and the intersection is computed once per pair
    return (
        candidates.join(
            garr.select(F.col(id_col).alias("id_a"), F.col("_grams").alias("_ga")),
            "id_a",
        )
        .join(
            garr.select(F.col(id_col).alias("id_b"), F.col("_grams").alias("_gb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_ga", "_gb")).alias("_ni"),
            F.size("_ga").alias("_sa"),
            F.size("_gb").alias("_sb"),
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("_ni").cast("double")
                / (F.col("_sa") + F.col("_sb") - F.col("_ni")).cast("double")
            ).alias("_raw"),
        )
        # same unrounded-threshold contract as verify_pairs_jaccard
        .filter(F.col("_raw") >= threshold)
        .select("id_a", "id_b", F.round(F.col("_raw"), 4).alias("jaccard_sim"))
    )


def verify_pairs_jaccard(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs — set algebra
    as joins, no array materialization:

    |A∩B| from a gram-level equi-join restricted to candidate pairs,
    |A∪B| = |A| + |B| − |A∩B| from per-doc distinct-gram counts.
    Every step is a hash join / hash agg on (id, gram) keys — fully
    codegen'd, and cost scales with Σ grams of candidate docs, not with
    pair_count × array_size. Grams are built only for docs appearing in
    a candidate pair (semi-join first).

    Pass ``grams`` — a PINNED distinct (id, gram) table the caller
    already built (candidate generators derive one anyway) — to skip
    this function's own gram explode+distinct pass (~0.7 s/corpus-pass
    at sf0.1); the caller owns the pin and may release it as soon as
    this function returns (the result is localCheckpoint-ed, so
    return = materialized).

    Pairs with an empty intersection cannot reach any threshold > 0 and
    are dropped by the inner joins.
    """
    if threshold <= 0:
        raise ValueError(
            "verify_pairs_jaccard requires threshold > 0: candidate pairs "
            "with an empty gram intersection are dropped by the inner joins"
        )
    from ..functions import exploded_word_ngrams

    ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    if grams is not None:
        g_scope = nullcontext(grams.select(id_col, "gram").join(ids, id_col, "left_semi"))
    else:
        needed = df.join(ids, id_col, "left_semi")
        g_scope = pinned(exploded_word_ngrams(needed, text_col, id_col, n).distinct())
    with g_scope as g:
        sizes = g.groupBy(id_col).agg(F.count("*").alias("sz"))
        inter = (
            candidates.join(g.select(F.col(id_col).alias("id_a"), "gram"), "id_a")
            .join(g.select(F.col(id_col).alias("id_b"), "gram"), ["id_b", "gram"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
        out = (
            inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
            .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
            .select(
                "id_a",
                "id_b",
                (
                    F.col("n_inter").cast("double")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double")
                ).alias("_raw"),
            )
            # threshold the UNROUNDED similarity (candidate generators
            # only guarantee recall for raw >= threshold; a pair in
            # [t - 5e-5, t) must not round up into the result set),
            # round only for output
            .filter(F.col("_raw") >= threshold)
            .select(
                "id_a", "id_b", F.round(F.col("_raw"), 4).alias("jaccard_sim")
            )
        )
        return out.localCheckpoint()


def near_duplicates_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end near-dup detection, three-stage funnel:

    1. LSH banding → candidate pairs (linear in corpus)
    2. signature-estimate filter: est-Jaccard = matching sig fraction,
       computed from the pinned signatures (cheap long compares) —
       drops the large false-positive tail banding lets through, with a
       margin below ``threshold`` so recall is preserved
    3. exact n-gram Jaccard verification on the survivors only

    Signatures are computed ONCE and pinned; banding, the estimate,
    and the id-projections all reuse them. (Sharing a pinned
    distinct-gram table with the verify — the set_similarity_join_exact
    trick — was measured a LOSS here, 4.22 s → 4.95 s interleaved: the
    est-filtered candidate set is small, so verify's semi-join-pruned
    gram pass is cheaper than the corpus-wide distinct shuffle the
    sharing adds to the signature path.)"""
    with pinned(minhash_signatures(df, text_col, id_col, n, num_hashes)) as sigs:
        cands = minhash_lsh_candidates(
            df, text_col, id_col, n, num_hashes, bands, signatures=sigs,
            max_bucket_size=max_bucket_size,
        )
        sa = sigs.select(
            F.col(id_col).alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)]
        )
        sb = sigs.select(
            F.col(id_col).alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)]
        )
        matches = sum(
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(num_hashes)
        )
        est = (
            cands.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn("est_jaccard", matches / F.lit(float(num_hashes)))
            .filter(F.col("est_jaccard") >= threshold - 0.15)
            .select("id_a", "id_b")
        )
        with pinned(est) as pairs:
            return verify_pairs_jaccard(pairs, df, text_col, id_col, n, threshold)


def _prefix_pair_join(a_prefix: DataFrame, b_prefix: DataFrame, threshold: float) -> DataFrame:
    """Equi-join two prefix tables (id, sz, pos, gram) on gram with the
    PPJoin size + positional filters; returns (id_a, id_b), id_a < id_b.

    Positional filter: J ≥ t ⟺ overlap ≥ t/(1+t)·(|A|+|B|); at the
    FIRST shared gram (canonical order is global, so the first match
    minimizes both positions at once) the achievable overlap is at most
    1 + min(|A|−posA, |B|−posB). A pair survives iff ANY matched
    occurrence passes — which is exactly the first-match bound — so
    recall stays 1.0 while deep-prefix-only matches are pruned before
    the expensive exact verify. The 1e-9 slacks mean FP rounding can
    only ADD candidates, never drop a true pair.
    """
    a = a_prefix.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"),
        "gram",
    )
    b = b_prefix.select(
        F.col("id").alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"),
        "gram",
    )
    alpha = (
        F.lit(threshold / (1.0 + threshold)) * (F.col("sz_a") + F.col("sz_b"))
        - F.lit(1e-9)
    )
    ubound = F.lit(1) + F.least(
        F.col("sz_a") - F.col("pos_a"), F.col("sz_b") - F.col("pos_b")
    )
    return (
        a.join(b, "gram")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("sz_a", "sz_b").cast("double")
                >= F.lit(threshold) * F.greatest("sz_a", "sz_b") - F.lit(1e-9)
            )
            & (ubound.cast("double") >= alpha)
        )
        .select("id_a", "id_b")
    )


def _prefix_join_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    threshold: float,
    max_prefix_df: int | None,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs for the exact prefix-filter join,
    optionally with hot prefix-gram capping (``max_prefix_df``).

    Uncapped: classic prefix filter — each doc joins on its
    ``p = |g| - ceil(t·|g|) + 1`` rarest grams (ascending df, ties by
    gram). Capped: grams occupying more than ``max_prefix_df`` docs'
    prefixes are BANNED from normal docs' prefixes, each doc falling
    back to its next-rarest unbanned grams (same prefix length).

    Recall stays 1.0 — banned-universe prefix-filter argument: let H be
    the banned set, A a doc with h_A = |A ∩ H| ≤ α_A − 1
    (α_A = ceil(t·|A|); such docs are "normal"). For a qualifying pair
    of normal docs with disjoint unbanned prefixes, shared unbanned
    grams all rank after the earlier prefix end (≤ α_A − 1 − h_A of
    them) and shared banned grams number ≤ min(h_A, h_B) ≤ h_A, so
    overlap ≤ α_A − 1 < required α_A — contradiction. Docs with
    h_A ≥ α_A ("saturated" — templated docs made almost entirely of
    banned grams, where a banned gram alone can carry the overlap)
    keep their ORIGINAL full-universe prefix and join against every
    doc's original prefix, covered by the classic theorem. One banning
    round: occupancy is measured on the pre-ban prefixes, so a
    uniformly-templated corpus whose fallback grams are just as hot
    degrades gracefully to the uncapped plan for those docs — which is
    the regime where the OUTPUT itself is quadratic (the docs really
    are near-duplicates) and no candidate scheme can be smaller.
    """
    from pyspark.sql import Window

    from ..functions import exploded_word_ngrams

    # g feeds three subtrees (sizes, gram frequencies, the ranked
    # prefix table); a caller-pinned ``grams`` table turns those
    # into pin reads instead of three inline explode+distinct copies
    if grams is None:
        g = exploded_word_ngrams(df, text_col, id_col, n).distinct()
    else:
        g = grams.select(id_col, "gram")
    g = g.withColumnRenamed(id_col, "id")
    sz = g.groupBy("id").agg(F.count("*").alias("sz"))
    dfreq = g.groupBy("gram").agg(F.count("*").alias("gdf"))
    w = Window.partitionBy("id").orderBy(F.col("gdf").asc(), F.col("gram").asc())
    ranked = (
        g.join(dfreq, "gram")
        .withColumn("pos", F.row_number().over(w))
        .join(sz, "id")
    )
    alpha_doc = F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
    prefix_len = F.col("sz") - alpha_doc + F.lit(1)

    def prefix(r: DataFrame) -> DataFrame:
        return r.filter(F.col("pos") <= prefix_len).select("id", "sz", "pos", "gram")

    if max_prefix_df is None:
        prefix0 = prefix(ranked)
        return _prefix_pair_join(prefix0, prefix0, threshold).distinct()

    # capped path: one pass builds the ranked table, a cheap probe asks
    # whether ANY gram is hot — on natural corpora none is (rarest-first
    # prefixes disperse), and the classic plan runs unchanged instead of
    # paying the re-rank window + 3-way join for nothing
    with pinned(ranked) as ranked:
        prefix0 = prefix(ranked)
        # hot grams by PREFIX occupancy (not raw df): a gram is
        # pathological only when many docs carry it in their prefix
        hot = (
            prefix0.groupBy("gram")
            .agg(F.count("*").alias("_occ"))
            .filter(F.col("_occ") > max_prefix_df)
            .select("gram", F.lit(True).alias("_hot"))
        )
        if hot.limit(1).isEmpty():
            return (
                _prefix_pair_join(prefix0, prefix0, threshold)
                .distinct()
                .localCheckpoint()
            )
        marked = ranked.join(F.broadcast(hot), "gram", "left")
        h_per_doc = marked.groupBy("id").agg(
            F.sum(F.when(F.col("_hot"), 1).otherwise(0)).alias("_h")
        )
        marked = marked.join(h_per_doc, "id")
        saturated = F.col("_h") >= alpha_doc
        # normal docs: re-rank over unbanned grams, same prefix length
        # (guaranteed to fill: #unbanned = sz - h ≥ sz - α + 1 = len)
        w2 = Window.partitionBy("id").orderBy(
            F.col("gdf").asc(), F.col("gram").asc()
        )
        norm_prefix = (
            marked.filter(~saturated & F.col("_hot").isNull())
            .withColumn("pos", F.row_number().over(w2))
            .filter(F.col("pos") <= prefix_len)
            .select("id", "sz", "pos", "gram")
        )
        sat_prefix = marked.filter(
            saturated & (F.col("pos") <= prefix_len)
        ).select("id", "sz", "pos", "gram")
        nn = _prefix_pair_join(norm_prefix, norm_prefix, threshold)
        # pairs touching a saturated doc: classic full-universe prefixes
        # on BOTH sides (sat ⊆ prefix0, so id_a<id_b needs both orders)
        sa = _prefix_pair_join(sat_prefix, prefix0, threshold)
        as_ = _prefix_pair_join(prefix0, sat_prefix, threshold)
        return nn.union(sa).union(as_).distinct().localCheckpoint()


def set_similarity_join_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_prefix_df: int | None = None,
) -> DataFrame:
    """EXACT-recall set-similarity self-join via prefix filtering
    (Chaudhuri/Bayardo-style "ppjoin-lite") — the deterministic
    complement of MinHash-LSH: no banding-miss probability, every pair
    with word-``n``-gram Jaccard ≥ ``threshold`` is guaranteed in the
    output.

    Prefix-filter theorem: order the gram universe canonically (here:
    ascending document frequency, ties by gram — rarest first) and keep
    from each doc's sorted gram set only the first
    ``p = |g| - ceil(t·|g|) + 1`` grams. If J(A, B) ≥ t, the prefixes
    of A and B must intersect, so an equi-join on PREFIX grams has
    recall 1.0. Because prefixes are each doc's *rarest* grams, the
    join buckets are small by construction — candidate generation is
    near-linear on natural corpora. A size filter (J ≥ t ⇒
    t·|big| ≤ |small|) and the PPJoin positional filter prune further;
    every bound gets a 1e-9 slack so FP rounding can only ADD
    candidates, never drop a true pair. Exact verification runs on
    candidates only.

    ``max_prefix_df`` caps hot prefix grams (the worst case where many
    templated docs share one rare gram and its bucket alone emits
    C(m, 2) candidates): docs fall back to their next-rarest unbanned
    grams — recall provably stays 1.0 (see
    :func:`_prefix_join_candidates`), so output is IDENTICAL with or
    without the cap; only candidate-generation cost changes. The
    MinHash twin is ``minhash_lsh_candidates(max_bucket_size=)``, which
    trades pairwise completeness for star pairs — this path never does.

    Plan: gram explode + distinct (shuffle on id), gram-frequency agg
    (shuffle on gram), per-doc rank window (reuses the id partition),
    prefix self-join (shuffle on gram), then
    :func:`verify_pairs_jaccard`. All hash joins/aggs — no Cartesian,
    no Python. Returns (id_a, id_b, jaccard_sim), id_a < id_b.
    """
    from ..functions import exploded_word_ngrams

    # ONE pinned distinct-gram table feeds candidate generation
    # (three consumers there) AND the exact verify — each stage was
    # re-deriving it (guide §2.4). The verify returns a materialized
    # frame (localCheckpoint), so releasing the pin afterwards is safe.
    with pinned(exploded_word_ngrams(df, text_col, id_col, n).distinct()) as g0:
        cand = _prefix_join_candidates(
            df, text_col, id_col, n, threshold, max_prefix_df, grams=g0
        )
        return verify_pairs_jaccard(
            cand, df, text_col, id_col, n, threshold, grams=g0
        )


def containment_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_id: int | None = None,
) -> DataFrame:
    """ASYMMETRIC set-containment self-join: emit ordered pairs (a, b),
    a ≠ b, where containment(a→b) = |grams(a) ∩ grams(b)| / |grams(a)|
    ≥ ``threshold`` — the quote/subset detector Jaccard dedup misses: a
    paragraph fully embedded in a 100× longer doc has tiny Jaccard but
    containment 1.0. Standard uses: doc-in-doc (licensing boilerplate,
    quotation mining), train/eval leakage where the eval item is a
    snippet of a training doc.

    Candidate generation is the asymmetric prefix filter: if
    |A∩B| ≥ ceil(t·|A|), then A's rarest-first prefix of
    ``|A| - ceil(t·|A|) + 1`` grams must intersect B's FULL gram set
    (remove A's prefix and at most |A| - p < ceil(t·|A|) shared grams
    remain) — recall 1.0. So the join is prefix(A) ⋈ all-grams(B): the
    contained side prunes to its prefix, the containing side cannot
    (any of B's grams may carry the match). A size filter
    (|B| ≥ ceil(t·|A|) since the intersection fits inside B) prunes
    before verification; exact intersection counts run on candidates
    only, set-algebra joins — no arrays, no Python.

    Returns (id_a, id_b, containment), containment rounded to 4dp.
    """
    if threshold <= 0:
        raise ValueError(
            "containment_join requires threshold > 0: the join-based set "
            "algebra never materializes zero-intersection pairs"
        )
    from pyspark.sql import Window

    from ..functions import exploded_word_ngrams

    base = df.select(F.col(id_col), F.col(text_col))
    if max_id is not None:
        base = base.filter(F.col(id_col) < max_id)
    g = exploded_word_ngrams(base, text_col, id_col, n).distinct()
    with pinned(g.withColumnRenamed(id_col, "id")) as g:
        sz = g.groupBy("id").agg(F.count("*").alias("sz"))
        dfreq = g.groupBy("gram").agg(F.count("*").alias("gdf"))
        w = Window.partitionBy("id").orderBy(F.col("gdf").asc(), F.col("gram").asc())
        alpha = F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
        prefix = (
            g.join(dfreq, "gram")
            .withColumn("pos", F.row_number().over(w))
            .join(sz, "id")
            .filter(F.col("pos") <= F.col("sz") - alpha + F.lit(1))
            .select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), "gram")
        )
        b_all = g.join(sz, "id").select(
            F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "gram"
        )
        cand = (
            prefix.join(b_all, "gram")
            .filter(
                (F.col("id_a") != F.col("id_b"))
                & (
                    F.col("sz_b").cast("double")
                    >= F.lit(threshold) * F.col("sz_a") - F.lit(1e-9)
                )
            )
            .select("id_a", "id_b")
            .distinct()
        )
        inter = (
            cand.join(g.select(F.col("id").alias("id_a"), "gram"), "id_a")
            .join(g.select(F.col("id").alias("id_b"), "gram"), ["id_b", "gram"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
        out = (
            inter.join(
                sz.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")),
                "id_a",
            )
            .select(
                "id_a",
                "id_b",
                (
                    F.col("n_inter").cast("double") / F.col("sz_a").cast("double")
                ).alias("_raw"),
            )
            # threshold on the UNROUNDED ratio — the size/prefix filters
            # only guarantee recall for raw >= threshold, so a pair in
            # [t - 5e-5, t) must not round its way into the result set
            # (it could have been pruned from the candidates); round
            # only for output
            .filter(F.col("_raw") >= threshold)
            .select(
                "id_a", "id_b", F.round(F.col("_raw"), 4).alias("containment")
            )
        )
        return out.localCheckpoint()


# ---------------------------------------------------------------------------
# SimHash near-dup (Hamming distance on 64-bit sketches)
# ---------------------------------------------------------------------------


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole blocking with EXACT recall: the sketch is split into
    ``max_hamming + 1`` bit-blocks, so any pair within ``max_hamming``
    differing bits must agree on at least one whole block. Each doc
    explodes to one (block_id, block_value) row per block; the self-join
    is an equi hash join on that bucket key (one shuffle, AQE handles
    hot blocks), then survivors are verified with ``bit_count(xor)``.
    Unlike prefix blocking this misses nothing — output is identical to
    the all-pairs form, at bucketed-join cost.

    ``portable=True`` uses the 60-bit md5-derived sketch that a DuckDB
    oracle can reproduce bit-for-bit (see ``text.portable_gram_hash``).
    """
    from .text import PORTABLE_SIMHASH_BITS, simhash64_df

    bits = PORTABLE_SIMHASH_BITS if portable else 64
    n_blocks = max_hamming + 1
    bounds = [i * bits // n_blocks for i in range(n_blocks)] + [bits]

    def _block_val(k):
        width = bounds[k + 1] - bounds[k]
        shifted = F.shiftrightunsigned(F.col("sh"), bounds[k])
        if width >= 64:  # full sketch in one block; mask would overflow a long
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    # one small row per doc (id + sketch); materialized because the
    # block self-join would otherwise run the gram explode + sketch
    # aggregation once per side
    s = simhash64_df(df, text_col, id_col, n, portable=portable).localCheckpoint()
    blocks = F.array(
        *[
            F.struct(F.lit(k).alias("block_id"), _block_val(k).alias("block_val"))
            for k in range(n_blocks)
        ]
    )
    exploded = s.select(
        F.col(id_col), F.col("sh"), F.explode(blocks).alias("b")
    ).select(id_col, "sh", "b.block_id", "b.block_val")
    a = exploded.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"), "block_id", "block_val"
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"), "block_id", "block_val"
    )
    return (
        a.join(b, ["block_id", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.col("sh_a"), F.col("sh_b"))
        .distinct()  # a pair may agree on several blocks
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (robust local document fingerprinting)
# ---------------------------------------------------------------------------

_WINNOW_POS_BITS = 20  # fingerprint key = hash<<20 | gram_pos


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03) — the standard robust copy-detection sketch: unlike
    0-mod-p gram sampling, winnowing GUARANTEES that any shared token
    run of length ≥ w + k − 1 produces at least one shared fingerprint,
    at expected density 2/(w+1).

    Mechanism, all engine-portable integer math: positional word
    ``k``-grams (posexplode + lead window — ONE tokenize pass per doc,
    the documented O(tokens²) array-form pitfall avoided), each gram
    hashed to 40 bits via an md5 prefix (portable: DuckDB twin is
    ``('0x' || substring(md5(g), 1, 10))::UBIGINT``), then each of the
    doc's ``n_grams − w + 1`` full windows of ``w`` consecutive grams
    selects its minimum ``hash·2²⁰ + pos`` key — one long comparison,
    so the tie-break (leftmost minimal hash) is identical in every
    engine — and selected keys are deduplicated. Window selection is a
    frame min over the per-doc position order: the gram explode's
    hash(doc_id) shuffle is the ONLY shuffle and is reused by the
    frame window AND any downstream per-doc aggregate.

    Positions must fit 20 bits (1M grams/doc); longer docs should be
    segmented first (``text.segment_documents``).

    Returns (id, fp_hash, fp_pos) distinct — the fingerprint index.
    Join it to itself (or to a reference index) on ``fp_hash`` for
    copy-candidate pairs: :func:`winnowing_candidate_pairs`.
    """
    if k < 1 or w < 1:
        raise ValueError("winnowing requires k >= 1 and w >= 1")
    from pyspark.sql import Window

    from ..functions import tokens

    tok_rows = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    wo = Window.partitionBy(id_col).orderBy("pos")
    parts = ["tok"] + [F.lead("tok", i).over(wo) for i in range(1, k)]
    last = F.lead("tok", k - 1).over(wo) if k > 1 else F.col("tok")
    grams = (
        tok_rows.select(
            F.col(id_col),
            F.col("pos"),
            F.concat_ws(" ", *parts).alias("gram"),
            last.alias("_t"),
        )
        .filter(F.col("_t").isNotNull())
        .drop("_t")
    )
    h40 = F.conv(F.substring(F.md5(F.col("gram")), 1, 10), 16, 10).cast("long")
    # LOUD precondition: a position past 2^20 would silently bleed into
    # the hash bits of the packed key (corrupted fingerprints, silently
    # wrong candidate pairs). CaseWhen evaluates branches lazily, so
    # in-range rows never touch raise_error — one integer compare per
    # gram, nothing vs the md5 beside it.
    pos_ok = F.col("pos") < F.lit(1 << _WINNOW_POS_BITS)
    packed = F.when(
        pos_ok, F.shiftleft(h40, _WINNOW_POS_BITS) + F.col("pos")
    ).otherwise(
        F.raise_error(
            F.lit(
                "winnowing_fingerprints: gram position exceeds the "
                f"{1 << _WINNOW_POS_BITS}-gram/doc envelope — segment "
                "long documents first (text.segment_documents)"
            )
        ).cast("long")
    )
    keyed = grams.select(F.col(id_col), F.col("pos"), packed.alias("_key"))
    frame = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    )
    n_grams = Window.partitionBy(id_col)
    anchored = keyed.select(
        F.col(id_col),
        F.col("pos"),
        F.min("_key").over(frame).alias("_sel"),
        F.count("*").over(n_grams).alias("_g"),
    ).filter(F.col("pos") <= F.col("_g") - w)  # full windows only
    return (
        anchored.select(F.col(id_col), F.col("_sel"))
        .distinct()
        .select(
            F.col(id_col),
            F.shiftrightunsigned(F.col("_sel"), _WINNOW_POS_BITS).alias(
                "fp_hash"
            ),
            F.col("_sel")
            .bitwiseAND(F.lit((1 << _WINNOW_POS_BITS) - 1))
            .alias("fp_pos"),
        )
    )


def winnowing_candidate_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_fp_df: int | None = None,
) -> DataFrame:
    """Copy-candidate pairs from a winnowing fingerprint index: docs
    sharing ≥ ``min_shared`` distinct fingerprint HASHES (position
    ignored — moved text still matches, the point of local
    fingerprinting). Plain equi-join on ``fp_hash`` — banded-join
    shape, no all-pairs.

    ``max_fp_df`` drops fingerprints present in more than that many
    docs (boilerplate/license headers — the hot keys that would emit
    C(m,2) pairs). Documented recall trade, same contract as
    ``max_prefix_df`` in the set-similarity join: dropped grams are
    CHOSEN by document frequency, never silently truncated.
    """
    fph = fps.select(F.col(id_col).alias("id"), "fp_hash").distinct()
    if max_fp_df is not None:
        dfreq = fph.groupBy("fp_hash").agg(F.count("*").alias("_df"))
        fph = (
            fph.join(dfreq, "fp_hash")
            .filter(F.col("_df") <= max_fp_df)
            .drop("_df")
        )
    a = fph.select(F.col("id").alias("id_a"), "fp_hash")
    b = fph.select(F.col("id").alias("id_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
