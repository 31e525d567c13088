"""Config-driven training-corpus preparation pipeline.

The reference's pattern is config-driven ingestion (spec → pipeline →
report). This applies the same pattern to LLM corpus prep: one spec
declares quality gating, language filtering, dedup strategy, and
chunking; ``CorpusPrep.run`` composes the operators into ONE lazy plan
per output and reports per-stage row counts from a single checkpointed pass.

Scale shape: every stage is a narrow projection or a hash-agg/semi-join
the dedup operators already implement; nothing collects. At 100 TB the
near-dup stage dominates — it reuses the bucketed LSH funnels
(`operators/dedup.py`), so cost stays linear-ish in corpus size.
"""

from __future__ import annotations

from contextlib import ExitStack
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import pinned


@dataclass
class CorpusPrepSpec:
    """Declarative corpus-prep config (the LLM twin of IngestionSpec)."""

    text_col: str = "text"
    id_col: str = "doc_id"
    min_quality: float | None = 0.5       # None = no quality gate
    lang_allow: list[str] | None = None   # None = all languages
    lang_col: str = "lang"
    dedup: str = "exact"                  # exact | minhash | simhash | none
    minhash_threshold: float = 0.7
    simhash_max_hamming: int = 3
    mix_alpha: float | None = None        # temperature mix (None = off)
    mix_target_total: int | None = None   # defaults to surviving count
    mix_seed: int = 42
    chunk_size: int = 0                   # 0 = no chunking output
    chunk_stride: int = 0                 # defaults to chunk_size if 0


    _DEDUP_MODES = ("exact", "minhash", "simhash", "none")

    @classmethod
    def from_json(cls, doc: dict) -> "CorpusPrepSpec":
        """Load from a JSON document (the reference's config-driven
        ethos applied to the LLM pipeline: corpus-prep jobs ship as
        data, not code). Unknown keys and mode typos fail loudly —
        a silently-ignored config field is a misconfigured 100 TB run.
        """
        from ..errors import SpecValidationError

        known = set(cls.__dataclass_fields__)
        unknown = set(doc) - known
        if unknown:
            raise SpecValidationError(
                f"corpus-prep config: unknown fields {sorted(unknown)}"
            )
        spec = cls(**doc)
        if spec.dedup not in cls._DEDUP_MODES:
            raise SpecValidationError(
                f"corpus-prep config: dedup={spec.dedup!r} not in "
                f"{cls._DEDUP_MODES}"
            )
        if spec.chunk_size < 0 or spec.chunk_stride < 0:
            raise SpecValidationError("corpus-prep config: negative chunking")
        if spec.mix_alpha is not None and spec.mix_alpha <= 0:
            raise SpecValidationError("corpus-prep config: mix_alpha must be > 0")
        return spec


@dataclass
class CorpusPrepResult:
    clean: DataFrame                      # surviving documents
    chunks: DataFrame | None              # chunked output (if configured)
    report: DataFrame                     # stage, rows_in, rows_out


def corpus_stream_prep(
    stream: DataFrame,
    spec: CorpusPrepSpec,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    observe_prefix: str | None = None,
) -> DataFrame:
    """FULL streaming CorpusPrep: the whole batch pipeline — language
    filter → quality gate → exact-dedup (within the watermark) →
    context-window chunking — as ONE incremental plan, with a per-stage
    ``observe()`` funnel riding every micro-batch's progress when
    ``observe_prefix`` is set (input/lang/gated/deduped/chunks counts,
    zero extra passes).

    Near-dup (LSH) and temperature-mix stages are deliberately batch-
    only: both need corpus-global state (band tables / group counts)
    that a watermark can't bound — at scale they run as the periodic
    batch sweep over the accumulated sink (``CorpusPrep.run``) or the
    incremental index (``update_lsh_index_bucketed``), the standard
    lambda split. Works on batch frames too (same plan minus the
    watermark).

    Returns the chunk stream ``(id, chunk_id, n_chunk_tokens, chunk)``
    (or clean docs if ``spec.chunk_size == 0``); append-mode safe.
    """
    from ..operators.text import chunk_documents, fingerprint, quality_score

    s = spec

    def obs(frame: DataFrame, stage: str, *extra) -> DataFrame:
        if not observe_prefix:
            return frame
        return frame.observe(
            f"{observe_prefix}_{stage}", F.count(F.lit(1)).alias("n"), *extra
        )

    q = quality_score(F.col(s.text_col))
    cur = obs(stream, "input", F.round(F.avg(q), 6).alias("mean_quality"))
    if s.lang_allow is not None:
        cur = obs(cur.filter(F.col(s.lang_col).isin(s.lang_allow)), "lang")
    if s.min_quality is not None:
        cur = obs(
            cur.withColumn("_q", q).filter(F.col("_q") >= s.min_quality).drop("_q"),
            "gated",
        )
    cur = cur.withColumn("_fp", fingerprint(F.col(s.text_col)))
    if stream.isStreaming:
        cur = cur.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["_fp"]
        )
    else:
        cur = cur.dropDuplicates(["_fp"])
    cur = obs(cur.drop("_fp"), "deduped")
    if s.chunk_size > 0:
        cur = obs(
            chunk_documents(
                cur,
                s.text_col,
                s.id_col,
                chunk_size=s.chunk_size,
                stride=s.chunk_stride or s.chunk_size,
            ),
            "chunks",
        )
    return cur


def _read_landed(spark, paths: list[str], schema: StructType) -> DataFrame | None:
    """Union of the ``schema`` columns over the parquet stores in
    ``paths`` that exist; None when none does — what an intake's replay
    guard anti-joins a batch against. A left-anti join needs no
    distinct. ``schema`` types the guarded columns as the handler
    writes them, so the read runs no footer-schema job.

    Existence probe, not try/except: a transient read failure while a
    store EXISTS must fail the batch (foreachBatch retries it), not
    skip the guard and silently append duplicates.
    """
    from ..session import path_exists

    landed = None
    for path in paths:
        if path_exists(spark, path):
            part = spark.read.schema(schema).parquet(path)
            landed = part if landed is None else landed.unionByName(part)
    return landed


def corpus_incremental_intake(
    stream: DataFrame,
    sink_path: str,
    checkpoint: str,
    text_col: str = "text",
    min_quality: float | None = None,
):
    """Incremental corpus build with UNBOUNDED-horizon exact dedup:
    each micro-batch appends only fingerprint-new documents, anti-joined
    against the accumulated sink itself (vs the watermark-bounded state
    of :func:`corpus_stream_prep`).

    The fingerprint column ``_fp`` is persisted in the sink and IS the
    dedup index: the anti-join reads just that column (parquet column
    pruning), so each batch costs batch×sink-fingerprints, not
    batch×documents. The same shape makes epoch REPLAY idempotent —
    a crashed-and-replayed batch re-filters against what the failed
    attempt already wrote, so exactly-once lands for free without an
    epoch ledger. At 100 TB swap the append+anti-join for a Delta MERGE
    ``whenNotMatchedInsert`` on the same fingerprint key (one log scan
    instead of a footer listing), or bucket the sink by ``_fp`` prefix
    so the anti-join prunes to matching buckets.

    Returns the started StreamingQuery (caller awaits termination).
    """
    from ..operators.text import fingerprint, quality_score

    def handle(batch: DataFrame, _epoch: int) -> None:
        spark = batch.sparkSession
        b = batch
        if min_quality is not None:
            b = b.withColumn("_q", quality_score(F.col(text_col))).filter(
                F.col("_q") >= min_quality
            ).drop("_q")
        b = b.withColumn("_fp", fingerprint(F.col(text_col))).dropDuplicates(["_fp"])
        seen = _read_landed(spark, [sink_path], StructType([b.schema["_fp"]]))
        if seen is not None:
            b = b.join(seen, "_fp", "left_anti")
        b.write.mode("append").parquet(sink_path)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def corpus_incremental_near_dup_intake(
    stream: DataFrame,
    sink_path: str,
    checkpoint: str,
    index_table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
):
    """Incremental corpus build with UNBOUNDED-horizon NEAR-dup dedup:
    the streaming composition of :func:`corpus_incremental_intake`
    (exact fingerprints) and the bucketed MinHash-LSH index.

    Each micro-batch: (1) replay-guard anti-join against sink AND
    dropped-store ids, (2) :func:`~..operators.dedup.
    update_lsh_index_bucketed` joins the batch's band rows against the
    PERSISTED bucketed index — cost is new×bucket, the index side never
    reshuffles — and appends them, (3) candidates exact-verify (n-gram
    Jaccard) against batch + sink + DROPPED texts, (4) batch docs that
    verify against an earlier id are dropped (their (id, text) persists
    to ``<sink_path>_dropped``), survivors append to the sink.

    Dropped docs stay BLOCKERS: their band rows are already in the
    index, and keeping their texts queryable in the companion dropped
    store means a later near-dup of a dropped doc is itself dropped —
    the same transitive-blocking contract within-batch verification
    already has (and the declarative oracle states: a doc survives iff
    NO smaller-id doc is ≥ threshold similar, dropped or not). Without
    the dropped store, a chain 1→5→9 with sim(1,5) ≥ t ≥ sim(1,9) and
    sim(5,9) ≥ t would keep 9 once 5's text is gone. The embedding
    intake (:func:`embedding_incremental_ann_intake`) gets this for
    free by indexing whole batches; this is the text-side mirror.

    Assumes intake ids are monotone over time (append-log ids), so the
    larger id of a verified pair is always the newer doc. Replay is
    idempotent: re-appended band rows only produce duplicate candidates
    (distinct-ed), and the id anti-join — over sink ∪ dropped, so both
    outcomes are remembered — stops double writes.

    Returns the started StreamingQuery (caller awaits termination).
    """
    from ..operators.dedup import (
        update_lsh_index_bucketed,
        verify_pairs_jaccard_arrays,
    )

    dropped_path = sink_path.rstrip("/") + "_dropped"

    def handle(batch: DataFrame, _epoch: int) -> None:
        spark = batch.sparkSession
        b = batch.dropDuplicates([id_col])
        blockers = _read_landed(
            spark, [sink_path, dropped_path],
            StructType([batch.schema[id_col], batch.schema[text_col]]),
        )
        if blockers is not None:
            b = b.join(blockers.select(id_col), id_col, "left_anti")
        # every pin is released when the handler returns: the
        # sink/dropped appends are the durable record (the band-row pin
        # is released inside update_lsh_index_bucketed)
        with ExitStack() as pins:
            # pin the batch image: b's lineage reads the sink/dropped
            # stores through the anti-join and this handler appends to
            # both below; the pin also stops the dropDuplicates shuffle
            # re-running in every downstream action (measured: skipping
            # the pin on blocker-less batches was a net LOSS — the
            # recomputation costs more than the pin job)
            b = pins.enter_context(pinned(b))
            texts = b.select(id_col, text_col)
            if blockers is not None:
                texts = texts.unionByName(blockers)

            # the candidates are pinned before the index append grows
            # the index (update_lsh_index_bucketed's consume contract);
            # the verify and the drop set read that small pin, not the
            # candidate join and its index scan
            cand = update_lsh_index_bucketed(
                b, spark, index_table, text_col=text_col, id_col=id_col,
                num_hashes=num_hashes, bands=bands,
                consume=lambda pairs: pins.enter_context(pinned(pairs)),
            )
            # per-batch candidate sets are O(batch), so the lazy
            # array-shape verify wins (see verify_pairs_jaccard_arrays);
            # sims are only compared to the threshold here, and the drop
            # set is pinned because both writes below read it
            verified = verify_pairs_jaccard_arrays(
                cand, texts, text_col, id_col, threshold=threshold
            )
            drop = pins.enter_context(
                pinned(verified.select(F.col("id_b").alias(id_col)).distinct())
            )
            (
                b.join(drop, id_col, "left_semi")
                .select(id_col, text_col)
                .write.mode("append")
                .parquet(dropped_path)
            )
            b.join(drop, id_col, "left_anti").write.mode("append").parquet(sink_path)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


class CorpusPrep:
    def __init__(self, spec: CorpusPrepSpec):
        self.spec = spec

    # -- dedup keep-list ----------------------------------------------------

    def _near_dup_drop_ids(self, df: DataFrame) -> DataFrame:
        """Ids to DROP under near-dup policy 'keep the earliest id':
        any doc appearing as id_b of a qualifying pair (id_a < id_b by
        construction in the pair operators)."""
        from ..operators.dedup import near_duplicates_minhash, simhash_pairs

        s = self.spec
        if s.dedup == "minhash":
            pairs = near_duplicates_minhash(
                df, s.text_col, s.id_col, threshold=s.minhash_threshold
            )
        elif s.dedup == "simhash":
            pairs = simhash_pairs(
                df, s.text_col, s.id_col, max_hamming=s.simhash_max_hamming
            )
        else:
            raise ValueError(f"unknown near-dup strategy {s.dedup!r}")
        return pairs.select(F.col("id_b").alias(s.id_col)).distinct()

    def run(self, df: DataFrame) -> CorpusPrepResult:
        from pyspark.sql import Observation

        from ..operators.dedup import drop_exact_duplicates
        from ..operators.text import chunk_documents, quality_score

        s = self.spec

        # Per-stage row counts for the report WITHOUT per-stage count()
        # jobs: the linear stages (input → lang → quality) are tapped
        # with the Observation API — counters collected as rows flow
        # through ONE execution, not one full-lineage re-scan per stage
        # (at 100 TB the old shape re-read the corpus once per report
        # line). The dedup stages branch the lineage (LSH self-joins),
        # where observed counters would double-fire, so the gated frame
        # is checkpointed once — that job fires every observation — and
        # the remaining counts scan the checkpoint.
        taps: list[tuple[str, Observation]] = []

        def tap(name: str, frame: DataFrame) -> DataFrame:
            o = Observation()
            taps.append((name, o))
            return frame.observe(o, F.count(F.lit(1)).alias("n"))

        cur = tap("input", df)
        if s.lang_allow is not None:
            cur = tap("lang_filter", cur.filter(F.col(s.lang_col).isin(s.lang_allow)))

        if s.min_quality is not None:
            cur = tap(
                "quality_gate",
                cur.withColumn("_q", quality_score(F.col(s.text_col)))
                .filter(F.col("_q") >= s.min_quality)
                .drop("_q"),
            )

        cur = cur.localCheckpoint()
        stages: list[tuple[str, int]] = [(name, int(o.get["n"])) for name, o in taps]

        if s.dedup == "exact":
            cur = drop_exact_duplicates(cur, s.text_col, s.id_col)
            stages.append(("dedup_exact", cur.count()))
        elif s.dedup in ("minhash", "simhash"):
            # exact dedup first (cheap, shrinks the LSH input), then
            # near-dup on the survivors
            cur = drop_exact_duplicates(cur, s.text_col, s.id_col).localCheckpoint()
            stages.append(("dedup_exact", cur.count()))
            drops = self._near_dup_drop_ids(cur)
            cur = cur.join(drops, s.id_col, "left_anti")
            stages.append((f"dedup_{s.dedup}", cur.count()))
        elif s.dedup != "none":
            raise ValueError(f"unknown dedup strategy {self.spec.dedup!r}")

        if s.mix_alpha is not None:
            # temperature resampling AFTER dedup (so rates reflect the
            # clean corpus); deterministic portable-hash realization
            from ..operators.corpus import temperature_sample

            cur = temperature_sample(
                cur,
                alpha=s.mix_alpha,
                target_total=s.mix_target_total,
                group_col=s.lang_col,
                id_col=s.id_col,
                seed=s.mix_seed,
            )
            stages.append(("temperature_mix", cur.count()))

        chunks = None
        if s.chunk_size > 0:
            chunks = chunk_documents(
                cur,
                s.text_col,
                s.id_col,
                chunk_size=s.chunk_size,
                stride=s.chunk_stride or s.chunk_size,
            )

        spark = df.sparkSession
        report = spark.createDataFrame(
            [
                (name, stages[i - 1][1] if i else n, n)
                for i, (name, n) in enumerate(stages)
            ],
            "stage string, rows_in long, rows_out long",
        )
        return CorpusPrepResult(clean=cur, chunks=chunks, report=report)


def embedding_incremental_ann_intake(
    stream: DataFrame,
    sink_path: str,
    checkpoint: str,
    index_table: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    nprobe: int | None = None,
):
    """Incremental EMBEDDING corpus build with unbounded-horizon
    semantic near-dup dedup — the vector twin of
    :func:`corpus_incremental_near_dup_intake`.

    Each micro-batch: (1) replay-guard anti-join against sink ids,
    (2) the batch joins the PERSISTED bucketed IVF index on the
    ivf_cell key — probe rows explode to their ``nprobe`` cells, the
    index side never reshuffles — plus the batch's own assignment (so
    within-batch dups resolve in the same pass), (3) a batch vector
    with ANY smaller-id neighbor at round(cosine, 6) ≥ ``threshold``
    is dropped, (4) ALL batch vectors append to the index (dropped
    vectors still block future near-dups of their neighborhood — the
    declarative survivor rule counts them), survivors append to the
    sink.

    ``nprobe=None`` probes every cell: the drop check is then EXACT
    (each index vector lives in exactly one cell, so summing over all
    probed cells enumerates each candidate pair once — batch×corpus
    worst case, which the gate uses for provable parity). Production
    sets nprobe ≪ n_cells for the standard IVF recall/cost trade.

    Assumes monotone intake ids (append-log), like the text intake.
    """
    from ..operators.similarity import ivf_assign
    from ..functions import vec_dot, vec_norm

    k = len(centroids)
    probe_cells = list(range(k)) if nprobe is None else None

    def handle(batch: DataFrame, _epoch: int) -> None:
        spark = batch.sparkSession
        b = batch.dropDuplicates([id_col])
        seen = _read_landed(spark, [sink_path], StructType([batch.schema[id_col]]))
        if seen is not None:
            b = b.join(seen, id_col, "left_anti")
        with pinned(b) as b:
            assigned, _ = ivf_assign(b, vec_col=vec_col, centroids=centroids)
            batch_index = assigned.select(
                F.col(id_col).alias("right_id"),
                F.col(vec_col).alias("rvec"),
                "ivf_cell",
            )
            blockers = batch_index
            if spark.catalog.tableExists(index_table):
                blockers = spark.table(index_table).unionByName(batch_index)
            if probe_cells is not None:
                cells = F.array(*[F.lit(c) for c in probe_cells])
            else:
                from ..operators.similarity import _probe_cells_expr

                cells = _probe_cells_expr(vec_col, centroids, nprobe)
            probe = b.select(
                F.col(id_col),
                F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_pv"),
                vec_norm(F.col(vec_col)).alias("_pn"),
                F.explode(cells).alias("ivf_cell"),
            )
            rv = F.transform(F.col("rvec"), lambda x: x.cast("double"))
            denom = F.col("_pn") * vec_norm(F.col("rvec"))
            cos = F.when(denom > 0, vec_dot(F.col("_pv"), rv) / denom)
            drops = (
                probe.join(blockers, "ivf_cell")
                .filter(F.col("right_id") < F.col(id_col))
                .filter(F.round(cos, 6) >= F.lit(threshold))
                .select(id_col)
                .distinct()
            )
            surv = b.join(drops, id_col, "left_anti")
            # the WHOLE batch joins the index (dropped ids included); only
            # survivors reach the sink. Append mode creates a missing table.
            (
                batch_index.write.mode("append")
                .bucketBy(8, "ivf_cell")
                .sortBy("ivf_cell")
                .saveAsTable(index_table)
            )
            surv.write.mode("append").parquet(sink_path)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _forget_ids(spark, forget_ids, id_col: str) -> DataFrame:
    if isinstance(forget_ids, (list, tuple)):
        ids = spark.createDataFrame(
            [(int(i),) for i in forget_ids], f"{id_col} long"
        )
    else:
        ids = forget_ids.select(id_col)
    return ids.localCheckpoint()


def _forget_in_store(spark, ids: DataFrame, path: str, id_col: str) -> int:
    """Anti-join ``ids`` out of the parquet store at ``path`` through
    the store commit protocol (epoch carried forward); returns the
    removed-row count, 0 when no store exists."""
    from ..session import commit_store, recover_store

    # recovery first (heals a crashed prior swap), then a bare read so
    # real errors propagate instead of reporting 0
    if recover_store(spark, path) == "absent":
        return 0
    cur = spark.read.parquet(path)
    before = cur.count()
    commit_store(cur.join(ids, id_col, "left_anti"), path)
    return before - spark.read.parquet(path).count()


def _forget_in_index(
    spark, ids: DataFrame, index_table: str | None, key_col: str
) -> int:
    """Anti-join ``ids`` out of a bucketed index table through the
    bucketed-table replace protocol, keeping its bucket spec; returns
    the removed-row count, 0 when no index exists."""
    from ..operators.bucketing import (
        recover_bucketed_table,
        replace_bucketed_table,
    )

    if not index_table or recover_bucketed_table(spark, index_table) == "absent":
        return 0
    cur = spark.table(index_table)
    before = cur.count()
    replace_bucketed_table(spark, cur.join(ids, key_col, "left_anti"), index_table)
    return before - spark.table(index_table).count()


def forget_documents(
    spark,
    forget_ids,
    sink_path: str,
    index_table: str | None = None,
    id_col: str = "doc_id",
) -> dict[str, int]:
    """Right-to-be-forgotten across every surface the intake pipeline
    persists a document to: the corpus sink, the companion
    ``<sink>_dropped`` blocker store, and the bucketed LSH band index.
    After this call the documents are gone AND stop acting as near-dup
    blockers — a re-submitted copy of a forgotten text is admitted,
    which the pytest proves (deletion that leaves index residue behind
    is a silent privacy leak).

    ``forget_ids`` is a list of ids or a 1-column DataFrame. Parquet
    surfaces rewrite via anti-join →
    :func:`~dataingestionframework_spark.session.commit_store` (staged
    write + rename rotation; a crash mid-forget is repaired to the old
    or the new image by ``recover_store``, never an empty sink); the
    index table rewrites through
    :func:`~dataingestionframework_spark.operators.bucketing.replace_bucketed_table`,
    preserving the bucket spec so post-forget intake batches still join
    shuffle-free. At 100 TB swap the sink rewrites for Delta DELETE
    (file-level rewrite of only affected files); the index rewrite
    stays bucket-preserving either way.

    Returns per-surface removed-row counts.
    """
    ids = _forget_ids(spark, forget_ids, id_col)
    return {
        "sink": _forget_in_store(spark, ids, sink_path, id_col),
        "dropped": _forget_in_store(
            spark, ids, sink_path.rstrip("/") + "_dropped", id_col
        ),
        "index": _forget_in_index(spark, ids, index_table, id_col),
    }


def forget_vectors(
    spark,
    forget_ids,
    sink_path: str,
    index_table: str | None = None,
    id_col: str = "vec_id",
) -> dict[str, int]:
    """Right-to-be-forgotten for the EMBEDDING intake — the vector twin
    of :func:`forget_documents`: removes ids from the corpus sink and
    from the persisted bucketed IVF index (where every intake vector,
    dropped or not, lives as a blocker). After the call the vectors are
    gone AND stop vetoing semantic near-dups, so a re-submitted copy of
    a forgotten embedding is admitted — index residue that still blocks
    would leak that the vector once existed.

    Same two commit protocols as :func:`forget_documents`: the sink
    through ``commit_store``, the index through
    ``replace_bucketed_table``, preserving the index's ``bucketBy(…,
    ivf_cell)`` spec so post-forget intake batches keep their
    shuffle-free probe join. Returns per-surface removed-row counts.
    """
    ids = _forget_ids(spark, forget_ids, id_col)
    return {
        "sink": _forget_in_store(spark, ids, sink_path, id_col),
        "index": _forget_in_index(
            spark, ids.select(F.col(id_col).alias("right_id")), index_table,
            "right_id",
        ),
    }


def corpus_stream_warc_intake(
    stream: DataFrame,
    sink_path: str,
    checkpoint: str,
    min_content_length: int = 100,
):
    """Continuous crawl ingestion: a ``binaryFile`` STREAM of
    ``.warc.gz`` shards → per-batch gzip-member split + length-driven
    record parse (sources/warc.py) → cheap content-length gate →
    append to the corpus sink. The shard-arrival cadence IS the
    micro-batch cadence, and a corrupt shard costs only its own
    records — the properties a 100 TB continuous crawl feed needs.

    Exactly-once: ``foreachBatch`` is at-least-once (a batch that
    wrote but crashed before its epoch committed is REPLAYED), so the
    append is guarded by a ``record_id`` anti-join against the sink —
    the same replay-idempotence shape as
    :func:`corpus_incremental_intake`'s fingerprint guard. The guard
    reads one pruned column of the sink per batch; at 100 TB swap it
    for a Delta MERGE whenNotMatchedInsert on record_id.

    Downstream composition point: swap the append for
    :func:`corpus_incremental_near_dup_intake`'s foreachBatch body to
    get streaming near-dup dedup on top of the parsed records.
    """
    from ..sources.warc import warc_gz_parse

    def handle(batch_df: DataFrame, _epoch: int) -> None:
        spark = batch_df.sparkSession
        recs = warc_gz_parse(batch_df).filter(
            F.col("content_length") >= min_content_length
        )
        seen = _read_landed(
            spark, [sink_path], StructType([recs.schema["record_id"]])
        )
        if seen is not None:
            recs = recs.join(seen, "record_id", "left_anti")
        recs.write.mode("append").parquet(sink_path)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
