"""Text-analysis operators for LLM training-data pipelines.

All pure column expressions (JVM-side, codegen'd) — scale to 100 TB with
zero Python in the executor path. Capability extension beyond the
reference surface (reference has no text analytics; closest is the
string-function family in ``notebooks/Autoloader_daily_log_report.sql``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import (
    DEFAULT_STOPWORDS,
    bound,
    distinct_token_count,
    stopword_count,
    token_count,
    tokens,
)
from ..session import pinned, release_checkpoint

# Tiny per-language stopword profiles for the n-gram/stopword language
# heuristic. Deliberately deterministic + dependency-free.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"),
}


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add token/char/quality columns used for corpus quality filtering."""
    t = F.col(text_col)
    n_tok = token_count(t)
    return (
        df.withColumn("n_chars_calc", F.length(t))
        .withColumn("n_tokens", n_tok)
        .withColumn("n_distinct_tokens", distinct_token_count(t))
        .withColumn(
            "ttr",  # type-token ratio: crude repetition/quality signal
            F.when(n_tok > 0, distinct_token_count(t).cast("double") / n_tok.cast("double")),
        )
        .withColumn(
            "stopword_ratio",
            F.when(n_tok > 0, stopword_count(t).cast("double") / n_tok.cast("double")),
        )
        .withColumn(
            "mean_token_len",
            F.when(
                n_tok > 0,
                F.aggregate(
                    tokens(t), F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double")
                )
                / n_tok.cast("double"),
            ),
        )
    )


def quality_score(text_col: Column) -> Column:
    """Composite [0,1] quality score from length / repetition / stopwords.

    Heuristic in the Gopher/C4-rule tradition: reasonable doc length,
    non-degenerate type-token ratio, plausible stopword density.
    """
    n_tok = token_count(text_col).cast("double")
    ttr = distinct_token_count(text_col).cast("double") / F.greatest(n_tok, F.lit(1.0))
    sw = stopword_count(text_col).cast("double") / F.greatest(n_tok, F.lit(1.0))
    len_ok = F.when((n_tok >= 5) & (n_tok <= 100000), 1.0).otherwise(0.0)
    ttr_ok = F.when(ttr >= 0.2, 1.0).otherwise(ttr / 0.2)
    sw_ok = F.when(sw.between(0.01, 0.6), 1.0).otherwise(0.5)
    return (len_ok + ttr_ok + sw_ok) / 3.0


def lang_guess(text_col: Column) -> Column:
    """Stopword-profile language ID — picks the profile with most hits.

    Pure column expression: per-language hit counts via array
    intersection, argmax via ``array_sort`` over (count, lang) structs.
    """
    toks = F.array_distinct(tokens(F.lower(text_col)))
    scored = F.array(
        *[
            F.struct(
                F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in LANG_PROFILES.items()
        ]
    )
    best = F.element_at(F.reverse(F.array_sort(scored)), 1)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text_col: Column) -> Column:
    """Deterministic 128-bit content fingerprint (hex md5) for exact dedup."""
    return F.md5(text_col)


# PII redaction patterns. RE2-safe subset (no backrefs/lookaround) so
# the same pattern strings run under Java regex (Spark) and RE2-style
# engines (DuckDB/Go tooling) — redactions are auditable cross-engine.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # international-ish phone: 2-3 digit groups joined by - (TPC-H
    # c_phone shape 12-345-678-9012 included)
    "phone": r"\d{2,3}(-\d{3,4}){2,3}",
    "ipv4": r"\b(\d{1,3}\.){3}\d{1,3}\b",
}


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    token_format: str = "<{kind}>",
) -> DataFrame:
    """PII scrubbing for corpus text: redact every match of each
    pattern with a typed placeholder token and count redactions per
    kind (``n_<kind>`` columns) plus ``n_redactions`` total.

    Pure ``regexp_replace`` / ``regexp_count`` column expressions —
    JVM-side, codegen'd, zero Python in the executor path; at 100 TB
    this is a map-only pass fused into whatever scan precedes it.
    Patterns are applied in dict order; counts are computed on the
    original text so overlapping patterns report what each saw.
    """
    pats = patterns or PII_PATTERNS
    t = F.col(text_col)
    out = df
    scrubbed = t
    total = F.lit(0)
    for kind, pat in pats.items():
        n = F.regexp_count(t, F.lit(pat))
        out = out.withColumn(f"n_{kind}", n)
        total = total + n
        scrubbed = F.regexp_replace(scrubbed, pat, token_format.format(kind=kind))
    return out.withColumn("n_redactions", total).withColumn(text_col, scrubbed)


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_token_count(text_col: Column) -> Column:
    """BPE-ish token estimate: letter runs, single digits, and punctuation
    each count as a token (the pre-tokenization most BPE vocabularies
    apply). Pure regex — JVM-side ``regexp_extract_all``."""
    return F.size(F.regexp_extract_all(text_col, F.lit(BPE_ISH_PATTERN), 0))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Split documents into fixed-size token chunks with overlap — the
    context-window chunking step of an LLM training pipeline.

    Pure column expressions: chunk starts are a ``sequence`` (generator,
    no join), each start slices the token array and rejoins. One narrow
    projection + explode — no shuffle, no Python. Output: (id, chunk_id,
    n_chunk_tokens, chunk). Docs with no tokens yield no chunks.
    """
    # tokens λ-bound (functions.bound): one tokenization per document,
    # not one per chunk start
    chunk_arrays = bound(
        tokens(F.col(text_col)),
        lambda toks: F.transform(
            F.sequence(
                F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(stride)
            ),
            lambda s: F.slice(toks, s + 1, chunk_size),
        ),
    )
    chunked = df.select(
        F.col(id_col),
        F.posexplode(chunk_arrays).alias("chunk_id", "chunk_toks"),
    )
    return chunked.filter(F.size("chunk_toks") > 0).select(
        id_col,
        "chunk_id",
        F.size("chunk_toks").alias("n_chunk_tokens"),
        F.concat_ws(" ", "chunk_toks").alias("chunk"),
    )


def make_chunk_udtf(chunk_size: int = 50, stride: int = 40, use_arrow: bool = False):
    """The same chunking as a Python UDTF (lateral table function) —
    the §2.10 UDTF surface. Use ONLY when the chunking logic needs a
    real tokenizer; :func:`chunk_documents` is the production
    (pure-expression) path and the equality of the two is
    pytest-asserted. ``use_arrow=True`` plans the Arrow-batched
    evaluator (ArrowEvalPythonUDTF — the sanctioned Python lane; the
    default pickle evaluator is row-at-a-time)."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="chunk_id int, n_chunk_tokens int, chunk string",
        useArrow=use_arrow,
    )
    class ChunkUdtf:
        def eval(self, text: str):
            toks = [t for t in (text or "").split() if t]
            if not toks:
                return
            for i, s in enumerate(range(0, len(toks), stride)):
                part = toks[s : s + chunk_size]
                yield i, len(part), " ".join(part)

    return ChunkUdtf


PORTABLE_SIMHASH_BITS = 60


def portable_gram_hash(gram_col: Column) -> Column:
    """60-bit deterministic gram hash reproducible in any SQL engine:
    the top 15 hex chars of md5, read big-endian. (60 bits so the value
    fits a signed 64-bit int in engines without unsigned types;
    ``xxhash64`` is Spark-only, so the portable path pays one md5.)
    DuckDB twin: ``('0x' || substring(md5(g), 1, 15))::UBIGINT``.
    """
    return F.conv(F.substring(F.md5(gram_col), 1, 15), 16, 10).cast("long")


def simhash64_df(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    portable: bool = False,
):
    """SimHash per document → DataFrame (id, sh).

    Grams exploded to rows once, then one conditional-sum aggregate per
    sketch bit (+1/-1 votes from the gram hash's bit parity) in a single
    groupBy, sign bits packed into one long. One shuffle on the id, all
    hashing vectorized JVM-side.

    ``portable=False`` (default): 64-bit sketch from ``xxhash64`` — the
    fast path. ``portable=True``: 60-bit sketch from the md5-derived
    :func:`portable_gram_hash`, bit-for-bit reproducible in DuckDB — the
    oracle-checkable path (same plan shape, one md5 per gram extra).
    """
    from ..functions import exploded_word_ngrams

    bits = PORTABLE_SIMHASH_BITS if portable else 64
    hash_col = (
        portable_gram_hash(F.col("gram")) if portable else F.xxhash64("gram")
    )
    # One hash per gram; bit i of that hash is the vote for sketch bit i
    # (the classic SimHash construction — bits× less hashing than an
    # independent-hash-per-bit variant).
    grams = exploded_word_ngrams(df, text_col, id_col, n).select(
        F.col(id_col), hash_col.alias("h")
    )
    votes = grams.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    packed = F.lit(0).cast("long")
    for i in range(bits):
        packed = packed + F.shiftleft(
            F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")), i
        )
    return votes.select(F.col(id_col), packed.alias("sh"))


def segment_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_segment: int = 8,
    delim: str | None = None,
) -> DataFrame:
    """Documents → ``(id, seg_id, segment)`` rows.

    With ``delim`` (a split regex, e.g. ``"\\n"``) segments are real
    lines — the production mode for web-crawl text. Without it, fixed
    non-overlapping ``words_per_segment``-word windows stand in for
    lines (the testdata corpus has no newlines). Empty/whitespace
    segments are dropped. Pure expressions + one explode: no shuffle.
    """
    if delim is not None:
        segs = F.split(F.col(text_col), delim)
    else:
        # tokens λ-bound (functions.bound): one tokenization per doc,
        # not one per segment start
        segs = bound(
            tokens(F.col(text_col)),
            lambda toks: F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size(toks) - 1, F.lit(0)),
                    F.lit(words_per_segment),
                ),
                lambda s: F.concat_ws(
                    " ", F.slice(toks, s + 1, words_per_segment)
                ),
            ),
        )
    out = df.select(F.col(id_col), F.posexplode(segs).alias("seg_id", "segment"))
    return out.filter(F.length(F.trim(F.col("segment"))) > 0)


def remove_duplicate_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_segment: int = 8,
    max_docs: int = 2,
    delim: str | None = None,
    join_sep: str | None = None,
) -> DataFrame:
    """CCNet-style line-level dedup: drop every segment (line) whose
    normalized form appears in ``max_docs`` or more DISTINCT documents
    corpus-wide, then reassemble each document from its surviving
    segments in original order.

    This is the boilerplate-removal pass of a web-scale training
    pipeline (nav menus, cookie banners, footers repeat across pages;
    prose does not). Reference has no text analytics — capability
    extension per SURVEY §2 M7.

    Scale shape: one explode, one groupBy on the normalized segment
    string (frequency), one equi-join back (Catalyst shuffles on the
    same key — and at 100 TB the segment string can be replaced by its
    xxhash64 to shrink the shuffle; kept as the string here so the
    DuckDB oracle is engine-exact), one groupBy per doc to reassemble.
    All linear in total segments; no pairwise work, no Python.

    Output: (id, n_segments, kept_segments, dropped_segments,
    clean_text); docs whose every segment was boilerplate keep a row
    with ``clean_text = ''``.
    """
    sep = join_sep if join_sep is not None else ("\n" if delim is not None else " ")
    segs = segment_documents(df, text_col, id_col, words_per_segment, delim)
    segs = segs.withColumn("seg_norm", F.lower(F.trim(F.col("segment"))))
    freq = segs.groupBy("seg_norm").agg(
        F.count_distinct(id_col).alias("seg_docs")
    )
    kept = (
        segs.join(freq, "seg_norm")
        .filter(F.col("seg_docs") < max_docs)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("kept_segments"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg_id", "segment"))),
                    lambda x: x["segment"],
                ),
                sep,
            ).alias("clean_text"),
        )
    )
    totals = segs.groupBy(id_col).agg(F.count("*").alias("n_segments"))
    return totals.join(kept, id_col, "left").select(
        id_col,
        "n_segments",
        F.coalesce("kept_segments", F.lit(0)).alias("kept_segments"),
        (F.col("n_segments") - F.coalesce("kept_segments", F.lit(0))).alias(
            "dropped_segments"
        ),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def dedupe_segments_within_doc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_segment: int = 8,
    delim: str | None = None,
    join_sep: str | None = None,
) -> DataFrame:
    """Intra-document repetition removal: within each document, keep
    only the FIRST occurrence of each normalized segment (line) and
    reassemble. Complements :func:`remove_duplicate_segments` (which is
    corpus-wide): generated/TEMPLATE pages often repeat the same block
    many times inside one page, and intra-doc dedup needs no
    corpus-wide frequency table at all — the window is partitioned by
    (doc, segment), so it shuffles once on the doc id and never sees
    another document's data. Output: (id, n_segments, kept_segments,
    dropped_segments, clean_text).
    """
    sep = join_sep if join_sep is not None else ("\n" if delim is not None else " ")
    segs = segment_documents(df, text_col, id_col, words_per_segment, delim)
    segs = segs.withColumn("seg_norm", F.lower(F.trim(F.col("segment"))))
    from pyspark.sql import Window

    w = Window.partitionBy(id_col, "seg_norm").orderBy(F.col("seg_id").asc())
    first = segs.withColumn("occ", F.row_number().over(w))
    return (
        first.groupBy(id_col)
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.when(F.col("occ") == 1, 1).otherwise(0)).alias(
                "kept_segments"
            ),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("occ") == 1,
                                F.struct("seg_id", "segment"),
                            )
                        )
                    ),
                    lambda x: x["segment"],
                ),
                sep,
            ).alias("clean_text"),
        )
        .select(
            id_col,
            "n_segments",
            "kept_segments",
            (F.col("n_segments") - F.col("kept_segments")).alias(
                "dropped_segments"
            ),
            "clean_text",
        )
    )


# The 8 "required words" of the Gopher repetition/quality rules
# (Rae et al. 2021 §A1.1, public paper) — a document failing to contain
# at least 2 of these is very unlikely to be English prose.
GOPHER_REQUIRED_WORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_required_hits: int = 2,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, public) as
    pure column expressions — the standard pre-training quality gate.

    Adds one measured column and one boolean per rule plus the overall
    ``pass_gopher`` verdict; callers filter or audit on them. Every
    rule is a scan-side expression (tokenize once, reuse): zero
    shuffles, zero Python — the whole gate runs inside one
    WholeStageCodegen span over the scan, so at 100 TB its cost is the
    read itself. Capability extension (reference has no text
    analytics).
    """
    t = F.col(text_col)
    ws = tokens(t)
    n = F.size(ws)
    nd = F.greatest(n, F.lit(1)).cast("double")
    mean_wl = (
        F.aggregate(ws, F.lit(0.0), lambda a, x: a + F.length(x).cast("double")) / nd
    )
    sym = (F.regexp_count(t, F.lit("#")) + F.regexp_count(t, F.lit(r"\.\.\."))).cast(
        "double"
    ) / nd
    # "word contains a letter" via the caseless test lower(x) != upper(x)
    # — no per-token regex (measured ~4x whole-operator speedup at 1M
    # docs: 38.5s -> 9.9s incl. generation). Caseless scripts (CJK)
    # fail it, but the alpha-word rule is an English-prose heuristic to
    # begin with.
    alpha = F.size(
        F.filter(ws, lambda x: F.lower(x) != F.upper(x))
    ).cast("double") / nd
    req = F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS])
    hits = F.size(
        F.array_intersect(F.array_distinct(F.transform(ws, F.lower)), req)
    )
    lines = F.filter(F.split(t, "\n"), lambda l: F.length(F.trim(l)) > 0)
    nl = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet = (
        F.size(F.filter(lines, lambda l: F.trim(l).rlike("^[-*•]"))).cast("double")
        / nl
    )
    ellipsis = (
        F.size(
            F.filter(lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))
        ).cast("double")
        / nl
    )
    out = (
        df.withColumn("n_words", n)
        .withColumn("mean_word_len", F.round(mean_wl, 4))
        .withColumn("symbol_ratio", F.round(sym, 4))
        .withColumn("alpha_word_frac", F.round(alpha, 4))
        .withColumn("required_hits", hits)
        .withColumn("bullet_line_frac", F.round(bullet, 4))
        .withColumn("ellipsis_line_frac", F.round(ellipsis, 4))
        .withColumn(
            "ok_word_count", (n >= min_words) & (n <= max_words)
        )
        .withColumn(
            "ok_mean_word_len",
            (F.col("mean_word_len") >= min_mean_word_len)
            & (F.col("mean_word_len") <= max_mean_word_len),
        )
        .withColumn("ok_symbol_ratio", F.col("symbol_ratio") <= max_symbol_ratio)
        .withColumn("ok_alpha_words", F.col("alpha_word_frac") >= min_alpha_word_frac)
        .withColumn("ok_required_words", hits >= min_required_hits)
        .withColumn(
            "ok_line_shape",
            (F.col("bullet_line_frac") <= max_bullet_line_frac)
            & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac),
        )
    )
    return out.withColumn(
        "pass_gopher",
        F.col("ok_word_count")
        & F.col("ok_mean_word_len")
        & F.col("ok_symbol_ratio")
        & F.col("ok_alpha_words")
        & F.col("ok_required_words")
        & F.col("ok_line_shape"),
    )


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str | None = None,
    words_per_segment: int = 8,
    min_words: int = 3,
    require_terminal_punct: bool = True,
    blocklist: tuple[str, ...] = ("lorem ipsum", "{"),
    min_kept_segments: int = 1,
) -> DataFrame:
    """C4-style line cleaning (Raffel et al. 2020 §2.2, public): keep
    only lines with ≥ ``min_words`` words, (optionally) ending in
    terminal punctuation, and containing no blocklisted phrase; then
    drop documents left with fewer than ``min_kept_segments`` lines.

    With ``delim="\\n"`` segments are real lines (production mode);
    without it, fixed word windows stand in (the testdata corpus has no
    newlines — same convention as :func:`remove_duplicate_segments`).

    Scale shape: unlike corpus-wide line dedup, every rule here is a
    function of the segment alone — so the whole operator is ONE
    scan-side expression (array ``filter`` over the segment array +
    ``array_join``): zero shuffles, zero Python, fused into whatever
    scan precedes it. Rewritten from the explode+groupBy form:
    22.2 s → 16.4 s at 1M docs incl. generation (~1.7x on the operator
    itself, identical output), and the reassembly order is free
    (``filter`` preserves array order). Output: (id, n_segments,
    kept_segments, dropped_segments, clean_text).
    """
    sep = "\n" if delim is not None else " "
    if delim is not None:
        raw = F.split(F.col(text_col), delim)
    else:
        # tokens λ-bound (functions.bound): one tokenization per doc,
        # not one per segment start
        raw = bound(
            tokens(F.col(text_col)),
            lambda toks: F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size(toks) - 1, F.lit(0)),
                    F.lit(words_per_segment),
                ),
                lambda s: F.concat_ws(
                    " ", F.slice(toks, s + 1, words_per_segment)
                ),
            ),
        )

    def keep(s):
        t = F.trim(s)
        cond = F.size(tokens(t)) >= min_words
        if require_terminal_punct:
            cond = cond & t.rlike('[.!?"]$')
        low = F.lower(t)
        for phrase in blocklist:
            cond = cond & ~low.contains(phrase.lower())
        return cond

    # the raw segment array is λ-bound too: the output columns below
    # reference segs/kept four times, and each bare reference would
    # re-run segment construction + both filters over the row
    out = bound(
        raw,
        lambda r: bound(
            F.filter(r, lambda s: F.length(F.trim(s)) > 0),
            lambda segs: bound(
                F.filter(segs, keep),
                lambda kept: F.struct(
                    F.size(segs).alias("n_segments"),
                    F.size(kept).alias("kept_segments"),
                    (F.size(segs) - F.size(kept)).alias("dropped_segments"),
                    F.array_join(kept, sep).alias("clean_text"),
                ),
            ),
        ),
    )
    return (
        df.select(F.col(id_col), out.alias("_c4"))
        .select(
            F.col(id_col),
            F.col("_c4.n_segments").alias("n_segments"),
            F.col("_c4.kept_segments").alias("kept_segments"),
            F.col("_c4.dropped_segments").alias("dropped_segments"),
            F.col("_c4.clean_text").alias("clean_text"),
        )
        .filter(F.col("kept_segments") >= min_kept_segments)
    )


__all__ = [
    "DEFAULT_STOPWORDS",
    "LANG_PROFILES",
    "GOPHER_REQUIRED_WORDS",
    "with_text_stats",
    "quality_score",
    "lang_guess",
    "fingerprint",
    "simhash64_df",
    "gopher_quality_flags",
    "c4_line_filter",
]


def hashed_linear_score(
    df: DataFrame,
    text_col: str = "text",
    dim: int = 1024,
    score_col: str = "score",
) -> DataFrame:
    """FastText-style linear-classifier INFERENCE as pure column
    expressions: hashing-trick featurization (token → portable 60-bit
    hash mod ``dim``) and a fixed weight table w(b) = ((b·2654435761)
    mod 2000)/1000 − 1 ∈ [−1, 1), logit = mean token weight, score =
    sigmoid(logit).

    The weights are a deterministic stand-in for a trained model (the
    container has no ML runtime); the POINT is the serving plumbing —
    token→bucket→weight-lookup→pool→sigmoid runs entirely inside
    whole-stage codegen, so classifier-based quality filtering (the
    FineWeb-Edu shape) costs one scan at 100 TB, no Python, no shuffle.
    A real model swaps the weight expression for an ``F.element_at``
    into a broadcast weight array; everything else is unchanged.
    """
    ws = tokens(F.col(text_col))
    n = F.greatest(F.size(ws), F.lit(1)).cast("double")
    weight_of = lambda tok: (  # noqa: E731
        (F.pmod(portable_gram_hash(tok), F.lit(dim)) * F.lit(2654435761))
        % F.lit(2000)
    ).cast("double") / F.lit(1000.0) - F.lit(1.0)
    logit = F.aggregate(ws, F.lit(0.0), lambda a, x: a + weight_of(x)) / n
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return df.withColumn("n_tokens", F.size(ws)).withColumn(
        score_col, F.round(score, 4)
    )


def _bigram_pairs(text_col: str) -> Column:
    """array<struct<w1,w2>> of sliding lowercase bigrams — the shared
    expression under the in-plan LM scorer and the persisted-model
    build path. The token array is λ-bound (functions.bound) so
    tokenize+lower runs once per document; a bare reference inside the
    per-bigram lambda would re-evaluate it per element, O(tokens²)/doc.
    Empty result array (→ explode drops the doc) when size < 2: the
    naive sequence(0, greatest(size-2, 0)) always emits index 0, and
    element_at on an empty/1-token array is an ANSI runtime error —
    one empty doc would kill the whole job."""
    return bound(
        F.transform(tokens(F.col(text_col)), F.lower),
        lambda ws: F.when(
            F.size(ws) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - 2),
                lambda i: F.struct(
                    F.element_at(ws, i + 1).alias("w1"),
                    F.element_at(ws, i + 2).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>")),
    )


def bigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """Corpus-trained bigram language-model scoring — the CCNet-style
    LM quality filter with the LM trained on the corpus itself, no
    external model: P(w2|w1) = (c(w1,w2)+k) / (c(w1)+k·V) with add-k
    smoothing, doc score = mean ln P over its bigrams (higher = more
    typical of the corpus; boilerplate scores high, noise scores low).

    Scale shape: one explode to bigram rows, two count aggregations
    (bigram, unigram), two equi-joins back, one per-doc mean — all
    linear, shuffling on the bigram/unigram keys. V (vocab size) is a
    1-row broadcast. At web scale the count tables ARE the model; they
    persist as bucketed tables and re-score any new batch with joins
    alone.

    Output: (id, n_bigrams, lm_score) — docs with fewer than 2 tokens
    produce no bigrams and are absent from the output (matching the
    DuckDB oracle, which also drops them).
    """
    grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(_bigram_pairs(text_col)).alias("bg"),
    ).select("id", "bg.w1", "bg.w2")
    c12 = grams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = grams.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = grams.select(
        F.count_distinct("w1").alias("v")
    )  # conditioning-context vocabulary
    scored = (
        grams.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(F.broadcast(vocab))
        .withColumn(
            "lp",
            F.log(
                (F.col("c12") + F.lit(k))
                / (F.col("c1") + F.lit(k) * F.col("v"))
            ),
        )
    )
    return scored.groupBy("id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("lm_score"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
    hash_grams: bool = False,
) -> DataFrame:
    """Exact-substring dedup (the Lee-et-al. "Deduplicating Training
    Data" pass, word-token granularity): every SLIDING window of ``k``
    tokens that occurs in ``min_docs`` or more distinct documents marks
    its covered token positions for removal; each document is then
    reassembled from its surviving tokens in order.

    Differs from :func:`remove_duplicate_segments` (CCNet line dedup)
    in alignment: segments are fixed, aligned blocks — a repeated
    passage straddling a segment boundary escapes; sliding windows
    catch cross-doc repeats at ANY offset, which is why this is the
    memorization-removal pass of LM-corpus pipelines.

    Scale shape (all linear in total tokens, no pairwise work, no
    Python): one explode to (doc, pos, gram) windows, one groupBy on
    the gram (distinct-doc count), one equi-join back, one positional
    explode of the flagged windows, one anti-join on (doc, pos), one
    per-doc reassembly. By default the gram stays a STRING so the
    DuckDB oracle is engine-exact; ``hash_grams=True`` is the 100 TB
    configuration — grams shuffle as xxhash64 longs (8 bytes instead
    of ~50+), identical output short of a 2⁻⁶⁴-odds collision, which
    would only over-remove one window (equivalence pytest-asserted on
    the gate corpus).

    Output: (id, n_tokens, n_removed, clean_text) for EVERY input doc;
    docs shorter than ``k`` tokens pass through untouched.
    """
    ws = tokens(F.col(text_col))

    def gram_of(w, p):
        s = F.concat_ws(" ", F.slice(w, p, k))
        return F.xxhash64(s) if hash_grams else s

    gram_t = "bigint" if hash_grams else "string"
    # sliding k-token windows: (doc, start pos, gram), 1-based. The
    # token array is λ-bound (functions.bound) so tokenization runs
    # once per document — a bare `ws` reference inside the per-window
    # lambda re-tokenizes per start position, O(tokens²)/doc (measured
    # 3.9 s → 0.7 s for this pass alone at sf0.1).
    windows = bound(
        ws,
        lambda w: F.when(
            F.size(w) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - k + 1),
                lambda p: F.struct(p.alias("p"), gram_of(w, p).alias("gram")),
            ),
        ).otherwise(F.array().cast(f"array<struct<p:int,gram:{gram_t}>>")),
    )
    grams = df.select(
        F.col(id_col).alias("id"), F.explode(windows).alias("w")
    ).select("id", "w.p", "w.gram")
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram")
    )
    covered = (
        grams.join(dup, "gram")
        .select("id", F.explode(F.sequence(F.col("p"), F.col("p") + k - 1)).alias("pos"))
        .distinct()
    )
    toks = df.select(
        F.col(id_col).alias("id"), F.posexplode(ws).alias("pos0", "tok")
    ).select("id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = (
        toks.join(covered, ["id", "pos"], "left_anti")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"), F.size(ws).alias("n_tokens"))
        .join(kept, "id", "left")
        .select(
            "id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def _bigram_rows(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, w1, w2, gram_key) sliding bigrams — shared by the in-plan
    scorer and the persisted-model build/serve paths. gram_key =
    xxhash64(w1, w2): ONE join column, so the bigram-count table can be
    bucketed on it and serving joins never reshuffle the model."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(_bigram_pairs(text_col)).alias("bg"),
        )
        .select("id", "bg.w1", "bg.w2")
        .withColumn("gram_key", F.xxhash64("w1", "w2"))
    )


def save_bigram_lm(
    docs: DataFrame,
    spark,
    prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
) -> None:
    """Train-and-persist the corpus bigram LM as BUCKETED count tables —
    the "counts ARE the model" claim of :func:`bigram_lm_score` made
    concrete: ``<prefix>_c12`` (w1, w2, gram_key, c12) bucketed by
    gram_key and ``<prefix>_c1`` (w1, c1) bucketed by w1. Any later
    batch re-scores with two hash joins in which the MODEL side never
    shuffles (the bucket layout satisfies each join's distribution);
    only the incoming batch's bigram rows move. At web scale the model
    tables are billions of rows — this is what makes LM filtering an
    O(batch) recurring cost instead of O(model) per batch.
    """
    from .bucketing import drop_table_and_location

    grams = _bigram_rows(docs, text_col, id_col)
    drop_table_and_location(spark, f"{prefix}_c12")
    (
        grams.groupBy("gram_key", "w1", "w2")
        .agg(F.count("*").alias("c12"))
        .write.mode("overwrite")
        .bucketBy(n_buckets, "gram_key")
        .sortBy("gram_key")
        .saveAsTable(f"{prefix}_c12")
    )
    drop_table_and_location(spark, f"{prefix}_c1")
    (
        grams.groupBy("w1")
        .agg(F.count("*").alias("c1"))
        .write.mode("overwrite")
        .bucketBy(n_buckets, "w1")
        .sortBy("w1")
        .saveAsTable(f"{prefix}_c1")
    )


def bigram_lm_score_with(
    docs: DataFrame,
    spark,
    prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """Score a (new) batch against a :func:`save_bigram_lm` model:
    P(w2|w1) = (c12+k) / (c1 + k·V) with add-k smoothing; unseen
    bigrams/contexts fall back to c12=0 / c1=0 via left joins, so any
    batch scores — not just the training corpus. V is the c1 table's
    row count (1-row broadcast agg). Join keys equal the model tables'
    bucket columns, so neither model table ever reshuffles. Output:
    (id, n_bigrams, lm_score), short docs absent (same contract as
    :func:`bigram_lm_score`).
    """
    grams = _bigram_rows(docs, text_col, id_col)
    c12 = spark.table(f"{prefix}_c12")
    c1 = spark.table(f"{prefix}_c1")
    vocab = c1.agg(F.count("*").alias("v"))
    scored = (
        # join on [gram_key, w1, w2]: gram_key alone can (p ~ 2^-64)
        # collide two distinct bigrams, and a key-only left join would
        # then FAN OUT one gram row into several — inflating n_bigrams
        # even with a post-hoc c12 guard. The composite key keeps
        # exactly one output row per gram (c12 is unique on the
        # triple), while gram_key staying in the key set preserves the
        # bucket-aligned distribution of the model scan.
        grams.join(c12, ["gram_key", "w1", "w2"], "left")
        .join(c1, "w1", "left")
        .join(F.broadcast(vocab))
        .withColumn(
            "lp",
            F.log(
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(k))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(k) * F.col("v"))
            ),
        )
    )
    return scored.groupBy("id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("lm_score"),
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Corpus-internal novelty scoring: per doc, the fraction of its
    DISTINCT word n-grams that occur in no other document. Low novelty
    = boilerplate/templated text (near-dup candidates, SEO spam); high
    novelty = unique prose — the complement of :func:`bigram_lm_score`
    (which rewards typicality) in a quality-signal ensemble.

    Linear: per-doc distinct grams (one explode + distinct), gram
    document-frequency agg, join back, per-doc ratio. Shuffles on the
    gram key only; swap the gram string for xxhash64 at 100 TB like
    the other gram operators. Docs with fewer than ``n`` tokens have
    no grams and are absent from the output (oracle-matching).

    Output: (id, n_grams, n_novel, novelty).
    """
    from ..functions import exploded_word_ngrams

    g = exploded_word_ngrams(df, text_col, id_col, n).distinct()
    dfreq = g.groupBy("gram").agg(F.count_distinct(id_col).alias("gdf"))
    return (
        g.join(dfreq, "gram")
        .groupBy(F.col(id_col).alias("id"))
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("gdf") == 1).cast("long")).alias("n_novel"),
            F.round(
                F.sum((F.col("gdf") == 1).cast("double")) / F.count("*"), 4
            ).alias("novelty"),
        )
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """Adjacent character-pair frequencies over the token stream — the
    counting step of one BPE merge round (the pair a byte-pair-encoding
    tokenizer trainer would fuse next).

    Shape: tokens explode once, pairs are a scan-side array transform
    (Column.substr with column offsets — no Python), one count groupBy
    on the pair key, deterministic top-k via (count DESC, pair ASC) —
    compiles to TakeOrderedAndProject, no global sort. A full BPE
    trainer iterates this with the winning pair folded into the vocab;
    each round is this same linear plan.
    """
    words = df.select(F.explode(tokens(F.col(text_col))).alias("w"))
    # guard: Spark's sequence(1, 0) counts DOWN ([1, 0]) — 1-char words
    # must map to an empty pair list, not a bogus descending range
    idx = F.when(
        F.length(F.col("w")) >= 2,
        F.sequence(F.lit(1), F.length(F.col("w")) - 1),
    ).otherwise(F.array().cast("array<int>"))
    pairs = words.select(
        F.explode(
            F.transform(idx, lambda i: F.col("w").substr(i, F.lit(2)))
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(top_k)
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned BPE merge table: greedy lowest-rank merging per
    word (the standard BPE encode loop), characters as the base
    alphabet. Completes the tokenizer-training story started by
    :func:`bpe_pair_counts` (which computes one round's merge
    statistic): train offline, hold the merge list driver-side like
    the ANN centroid tables, encode the corpus with one Arrow-batched
    ``mapInPandas`` pass — merges broadcast, no shuffle, scan
    partitioning preserved.

    Output: (id, n_tokens, n_chars) — the token-budget numbers a real
    tokenizer feeds the packing/budget operators. Python is justified
    here: the merge loop is inherently sequential per word (each merge
    changes the next round's pair set), exactly the "genuinely needs
    Python" carve-out the UDTF docstring reserves.

    Pre-tokenization is the engine-portable ASCII ``\\s+`` split (the
    exact alphabet Java regex and RE2 give ``\\s``) rather than
    Python's Unicode-aware ``str.split()`` — so the same text
    tokenizes identically here, in :func:`~...functions.tokens`, and
    in a SQL oracle.
    """
    import re
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    ws = re.compile(r"\s+", re.ASCII)

    ranks = {pair: i for i, pair in enumerate(merges)}
    id_field = next(f for f in df.schema.fields if f.name == id_col)
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("n_tokens", T.LongType(), False),
            T.StructField("n_chars", T.LongType(), False),
        ]
    )

    def encode_word(word: str) -> int:
        syms = list(word)
        while len(syms) > 1:
            best, best_rank = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = i, r
            if best is None:
                break
            syms[best: best + 2] = [syms[best] + syms[best + 1]]
        return len(syms)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, toks, chars = [], [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in ws.split(text or "") if w]
                ids.append(rid)
                toks.append(sum(encode_word(w) for w in words))
                chars.append(len(text or ""))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "n_tokens": pd.Series(toks, dtype="int64"),
                    "n_chars": pd.Series(chars, dtype="int64"),
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def save_merges(merges: list[tuple[str, str]], path: str) -> None:
    """Write a BPE merge table in the published ``merges.txt`` wire
    format (tokenizer releases ship exactly this: an optional
    ``#version`` header, then one space-separated symbol pair per
    line in rank order) so tables trained here interoperate with
    standard tokenizer tooling."""
    with open(path, "w", encoding="utf-8") as f:
        f.write("#version: 0.2\n")
        for a, b in merges:
            f.write(f"{a} {b}\n")


def load_merges(path: str) -> list[tuple[str, str]]:
    """Load a ``merges.txt``-format BPE merge table (the format
    published tokenizers distribute — ``#`` header lines skipped, one
    ``p1 p2`` pair per line, file order = merge rank). The bring-your-
    own-tokenizer path: point this at a production tokenizer's merges
    file and :func:`bpe_encode` counts tokens with ITS vocabulary."""
    merges: list[tuple[str, str]] = []
    with open(path, encoding="utf-8") as f:
        for lineno, line in enumerate(f, 1):
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            parts = line.split(" ")
            if len(parts) != 2 or not parts[0] or not parts[1]:
                raise ValueError(
                    f"{path}:{lineno}: expected 'p1 p2', got {line!r}"
                )
            merges.append((parts[0], parts[1]))
    return merges


def default_merges_path() -> str:
    """The repo's committed merge-table fixture (trained once by
    :func:`bpe_train` on the sf0.001 documents corpus — regenerate
    with ``python -m tools.regen_bpe_fixture``)."""
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures",
        "bpe_merges.txt",
    )


def vocab_coverage(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Tokenizer-design statistic: the smallest vocabulary sizes (most
    frequent types first, ties by token) covering 50% / 90% / 99% of
    corpus token mass — the curve that decides vocab size vs OOV rate
    before training a tokenizer.

    Scale shape mirrors :func:`zipf law <..plans.queries.zipf_fit_tokens>`:
    the only corpus-volume pass is the explode + count groupBy; the
    rank/running-sum window runs on the AGGREGATED type table (vocab ≪
    corpus). Coverage thresholds compare in INTEGER arithmetic
    (run·100 ≥ total·99, not run ≥ 0.99·total) so boundary types are
    classified identically by any engine. Output: 1 row — (n_types,
    n_tokens, v50, v90, v99).
    """
    from pyspark.sql import Window

    freqs = (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), F.col("tok").asc())
    ranked = freqs.select(
        "c",
        F.row_number().over(w).alias("r"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("run"),
        F.sum("c").over(Window.partitionBy()).alias("total"),
    )
    return ranked.agg(
        F.count("*").alias("n_types"),
        F.max("total").alias("n_tokens"),
        F.min(F.when(F.col("run") * 2 >= F.col("total"), F.col("r"))).alias("v50"),
        F.min(
            F.when(F.col("run") * 10 >= F.col("total") * 9, F.col("r"))
        ).alias("v90"),
        F.min(
            F.when(F.col("run") * 100 >= F.col("total") * 99, F.col("r"))
        ).alias("v99"),
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 20,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Train a BPE merge table distributed — the iterative trainer that
    completes the tokenizer story (:func:`bpe_pair_counts` = one
    round's statistic, :func:`bpe_encode` = applying the result).

    Scale shape: the corpus is reduced ONCE to the word-frequency table
    (types weighted by counts — the classic BPE trainer state; types ≪
    corpus), and every merge round then runs on that small table: one
    weighted pair-count aggregate + deterministic argmax (count DESC,
    pair ASC — a 1-row TakeOrdered collect, the per-round driver
    traffic is a single pair), one Arrow ``mapInPandas`` pass folding
    the winning pair into the symbol arrays (the fold is inherently
    sequential per word — the sanctioned Python carve-out), and a
    ``localCheckpoint`` so lineage stays flat across rounds. The corpus
    itself is never rescanned after round 0.

    Driver-side loop of ``n_merges`` tiny jobs — iterative by nature
    (each round's statistic depends on the previous merge), hence
    pytest-proven against a reference implementation rather than
    SQL-oracled. Stops early when no pair reaches ``min_pair_count``.
    Returns merges in rank order, ready for :func:`bpe_encode`.
    """
    from typing import Iterator as _It

    import pandas as _pd

    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.col("w").substr(i, F.lit(1)),
            ).alias("syms"),
            "cnt",
        )
        .localCheckpoint()
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        s = F.col("syms")
        idx = F.when(
            F.size(s) >= 2, F.sequence(F.lit(0), F.size(s) - 2)
        ).otherwise(F.array().cast("array<int>"))
        best = (
            vocab.select(
                "cnt",
                F.explode(
                    F.transform(
                        idx,
                        lambda i: F.struct(
                            F.element_at(s, i + 1).alias("p1"),
                            F.element_at(s, i + 2).alias("p2"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.p1", "p.p2")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("p1").asc(), F.col("p2").asc())
            .limit(1)
            .collect()
        )
        if not best or best[0].n < min_pair_count:
            break
        p1, p2 = best[0].p1, best[0].p2
        merges.append((p1, p2))

        def apply(batches: _It[_pd.DataFrame], _p1=p1, _p2=p2):
            for pdf in batches:
                folded = []
                for syms in pdf["syms"]:
                    out: list[str] = []
                    for sym in syms:
                        # top-of-stack fold == left-to-right
                        # non-overlapping merge application
                        if out and out[-1] == _p1 and sym == _p2:
                            out[-1] = _p1 + _p2
                        else:
                            out.append(sym)
                    folded.append(out)
                yield _pd.DataFrame(
                    {"syms": folded, "cnt": pdf["cnt"].astype("int64")}
                )

        prev = vocab
        vocab = vocab.mapInPandas(
            apply, schema="syms array<string>, cnt long"
        ).localCheckpoint()
        # eager checkpoint: the previous round's vocab image feeds
        # nothing now — release it instead of leaking one checkpoint
        # per merge round
        release_checkpoint(prev)
    release_checkpoint(vocab)  # result is the driver-side merge list only
    return merges


def blocklist_filter(
    df: DataFrame,
    phrases: list[str],
    text_col: str = "text",
    max_hits: int = 0,
) -> DataFrame:
    """Phrase-blocklist content filter — the word-boundary screening
    pass (toxicity/NSFW/PII-term lists, licensing strings) every corpus
    pipeline runs before expensive model-based filters. The phrase list
    is domain policy and comes from the caller; this operator is the
    mechanism.

    Engine-proof mechanism (no ``\\b``): word-boundary regex semantics
    differ across regex engines/builds, so the contract is pure string
    algebra instead. Text is lowercased, every ``[^a-z0-9]+`` run is
    collapsed to one space (the same delimiter class as ``tokens()``),
    each inter-token boundary is then DOUBLED and the whole string is
    padded with two spaces — so every token is flanked by a space it
    shares with no neighbour. Each phrase, normalized the same way and
    rendered with double inner spaces, is counted with the classic
    ``(len(s) - len(replace(s, pat, ''))) / len(pat)`` trick. Leftmost
    non-overlapping ``replace`` is identical in every SQL engine; the
    only regex left is a character class, whose semantics do not vary.
    All scan-side JVM codegen, zero shuffles.

    Contract limits (both raise rather than silently degrade): phrases
    must already live in the tokenized alphabet — a phrase whose
    punctuation carries meaning (``C++``, ``A/B``) would be silently
    rewritten to bare tokens (``c``, ``a b``) and produce spurious
    hits, so anything beyond case/whitespace normalization is rejected.
    And the replace-count mechanism scans the text once per phrase, so
    lists are capped at 64 phrases (policy screens are dozens of terms;
    for thousand-term lexicons tokenize + join against a phrase table
    instead — a different shuffle shape, not a bigger loop here).

    Adds ``n_blocked_hits`` and ``blocklist_pass`` (hits ≤ ``max_hits``
    — a small tolerance absorbs quoted/incidental mentions).

    Counting contract: each phrase is counted INDEPENDENTLY with
    leftmost non-overlapping replace, so overlapping phrases both
    count — ``['cat', 'mad cat']`` on ``'the mad cat cat'`` yields 3
    hits (2×cat + 1×mad cat), not the 2 a single leftmost-alternation
    would give. Callers tuning ``max_hits`` against overlapping lists
    should count accordingly. NULL text counts as 0 hits and passes —
    the same NULL contract as ``encoding_quality`` and
    ``blocklist_lexicon_filter`` (absence of text is a length/schema
    problem for other gates, not a policy hit).
    """
    import re as _re

    if not phrases:
        raise ValueError("blocklist_filter needs at least one phrase")
    if len(phrases) > 64:
        raise ValueError(
            f"blocklist_filter: {len(phrases)} phrases — the per-phrase "
            "replace-count contract is for policy-sized lists (<= 64); "
            "for large lexicons tokenize and join against a phrase table"
        )
    norm_phrases = []
    for p in phrases:
        np = _re.sub(r"[^a-z0-9]+", " ", p.lower()).strip()
        if not np:
            raise ValueError(f"blocklist phrase normalizes to empty: {p!r}")
        # separator punctuation (space/hyphen/slash/underscore/dot)
        # tokenizes identically on the text side — benign; anything
        # else (C++, .NET, 100%) would silently degrade to bare tokens
        if np != _re.sub(r"[\s/_.,;:-]+", " ", p.lower()).strip():
            raise ValueError(
                f"blocklist phrase {p!r} carries punctuation the "
                "[^a-z0-9] token alphabet cannot represent; matching "
                f"would silently degrade to {np!r}"
            )
        norm_phrases.append(np)
    padded = F.concat(
        F.lit("  "),
        F.replace(
            F.trim(
                F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
            ),
            F.lit(" "),
            F.lit("  "),
        ),
        F.lit("  "),
    )
    hits = None
    for np in norm_phrases:
        pat = " " + np.replace(" ", "  ") + " "
        cnt = F.floor(
            (F.length(padded) - F.length(F.replace(padded, F.lit(pat), F.lit(""))))
            / F.lit(len(pat))
        ).cast("long")
        hits = cnt if hits is None else hits + cnt
    hits = F.coalesce(hits, F.lit(0).cast("long"))
    return df.withColumn("n_blocked_hits", hits).withColumn(
        "blocklist_pass", hits <= max_hits
    )


def encoding_quality(
    df: DataFrame,
    text_col: str = "text",
    max_replacement_ratio: float = 0.01,
    max_control_ratio: float = 0.01,
) -> DataFrame:
    """Charset/mojibake quality screen — the encoding-sanity gate
    (CCNet/ROOTS-style) web pipelines run before any text model sees a
    document: text that arrived through a wrong-charset decode is full
    of U+FFFD replacement characters, and binary-contaminated text is
    full of C0 control characters.

    Engine-proof counting (same contract philosophy as
    :func:`blocklist_filter`): U+FFFD is counted with plain
    ``replace`` (no regex at all); control characters (C0 minus
    tab/newline/CR, plus DEL) with a single explicit-hex character
    class — the one regex feature whose semantics do not vary across
    engines. All scan-side codegen, zero shuffles.

    Adds ``n_chars``, ``n_replacement``, ``n_control``, and
    ``encoding_pass`` (both ratios within tolerance; empty text
    passes).
    """
    s = F.coalesce(F.col(text_col), F.lit(""))  # NULL text = empty = pass
    n = F.length(s)
    n_rep = n - F.length(F.replace(s, F.lit("�"), F.lit("")))
    ctl = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"
    n_ctl = n - F.length(F.regexp_replace(s, ctl, ""))
    denom = F.greatest(n, F.lit(1)).cast("double")
    ok = (
        (n_rep.cast("double") / denom <= F.lit(max_replacement_ratio))
        & (n_ctl.cast("double") / denom <= F.lit(max_control_ratio))
    )
    return (
        df.withColumn("n_chars", n.cast("long"))
        .withColumn("n_replacement", n_rep.cast("long"))
        .withColumn("n_control", n_ctl.cast("long"))
        .withColumn("encoding_pass", ok)
    )


def blocklist_lexicon_filter(
    df: DataFrame,
    lexicon: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    phrase_col: str = "phrase",
    max_hits: int = 0,
) -> DataFrame:
    """Large-lexicon blocklist — the scale path :func:`blocklist_filter`
    documents for thousand-term lexicons: instead of scanning the text
    once per phrase, tokenize each document once ([^a-z0-9]+ alphabet,
    same contract), explode positional token n-grams up to the
    lexicon's widest phrase, and hash-join them against the phrase
    TABLE. Cost is one explode + one equi-join keyed on the gram
    string — independent of lexicon size on the scan side, and the
    lexicon side is a table like any other (broadcast when small,
    shuffle when not).

    Semantics note: hits count every matching n-gram POSITION
    (overlapping matches included) — e.g. text ``a a a`` with phrase
    ``a a`` counts 2 here but 1 under :func:`blocklist_filter`'s
    leftmost-non-overlapping replace-count. For a pass/fail screen at
    small ``max_hits`` the distinction rarely matters; pick the
    variant whose counting contract you need.

    Output: input columns + ``n_blocked_hits`` + ``blocklist_pass``.
    Docs with no tokens pass.
    """
    from pyspark.sql import functions as _F

    norm_phrase = _F.trim(
        _F.regexp_replace(_F.lower(_F.col(phrase_col)), "[^a-z0-9]+", " ")
    )
    lex = (
        lexicon.select(norm_phrase.alias("_phrase"))
        .filter(_F.col("_phrase") != "")
        .distinct()
        .withColumn("_w", _F.size(_F.split(_F.col("_phrase"), " ")))
    )
    widths = [r._w for r in lex.select("_w").distinct().collect()]  # config-cardinality
    if not widths:
        # mirror blocklist_filter's contract: an empty (or punctuation-
        # only, which normalizes to empty) lexicon is a caller bug, not
        # a pass-everything filter
        raise ValueError("lexicon contains no usable phrases after normalization")
    toks = _F.filter(
        _F.split(_F.regexp_replace(_F.lower(_F.col(text_col)), "[^a-z0-9]+", " "), " "),
        lambda t: t != "",
    )
    base = df.withColumn("_toks", toks)
    grams = None
    for w in sorted(widths):
        n_starts = _F.size("_toks") - (w - 1)
        # sequence(1, 0) counts DOWN to [1, 0] — short docs need an
        # explicit empty start list, not a descending one
        starts = _F.when(
            n_starts >= 1, _F.sequence(_F.lit(1), n_starts)
        ).otherwise(_F.array().cast("array<int>"))
        g = base.select(
            _F.col(id_col),
            _F.explode(
                _F.transform(
                    starts,
                    lambda p: _F.concat_ws(
                        " ", _F.slice(_F.col("_toks"), p, _F.lit(w))
                    ),
                )
            ).alias("_gram"),
        )
        grams = g if grams is None else grams.unionAll(g)
    hits = (
        grams.join(lex.select(_F.col("_phrase").alias("_gram")), "_gram")
        .groupBy(id_col)
        .agg(_F.count("*").alias("n_blocked_hits"))
    )
    out = base.drop("_toks").join(hits, id_col, "left")
    n = _F.coalesce(_F.col("n_blocked_hits"), _F.lit(0))
    return out.withColumn("n_blocked_hits", n).withColumn(
        "blocklist_pass", n <= max_hits
    )


def lang_id_ngram(
    df: DataFrame,
    train: DataFrame | None = None,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    n: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Language identification via a hashed char-n-gram
    nearest-centroid classifier — the public fastText langid shape
    (char-n-gram features, hashing trick, linear scoring) trained on
    the corpus's own labels instead of shipped weights (no ML runtime
    in scope; swap the centroid table for published weights and
    nothing else changes).

    Train: labeled rows' char-``n``-grams (lowercased, ``[^a-z0-9]+``
    collapsed — the shared token alphabet) hash into ``dim`` buckets
    (:func:`portable_gram_hash`, engine-portable); each language's
    centroid is its summed bucket-count vector. Predict: every doc's
    bucket-count vector is cosine-scored against every centroid;
    ``lang_pred`` = argmax (6dp-rounded cosine, ties to the
    lexicographically smaller language), ``lang_confidence`` = the
    winning cosine (4dp). Docs with no grams (NULL/empty text) get
    ``('und', 0.0)``.

    Scale shape: centroids are an L×dim table (broadcast); the corpus
    side is one gram explode + one (id, bucket) count + one broadcast
    join + one per-id argmax window — shuffles on id only, so cost is
    linear in corpus tokens at any L. Feeds the per-lang gates
    (:func:`adaptive_length_filter` with ``group_col='lang_pred'``)
    when no trusted label exists.
    """
    train = train if train is not None else df

    def bucket_counts(src, key_cols):
        # explode START POSITIONS, slice AFTER the Generate: slicing
        # inside the transform lambda would re-evaluate the full
        # regexp-normalization per gram — O(len²)/doc, measured 45×
        # slower (the char-gram twin of exploded_word_ngrams' pitfall)
        s = F.trim(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
        )
        n_starts = F.length("_s") - F.lit(n - 1)
        starts = F.when(
            n_starts >= 1, F.sequence(F.lit(1), n_starts)
        ).otherwise(F.array().cast("array<int>"))
        pos = src.select(*key_cols, s.alias("_s")).select(
            *key_cols, "_s", F.explode(starts).alias("_p")
        )
        exploded = pos.select(
            *key_cols,
            F.pmod(
                portable_gram_hash(F.col("_s").substr(F.col("_p"), F.lit(n))),
                F.lit(dim),
            ).alias("_b"),
        )
        return exploded.groupBy(*key_cols, "_b").agg(
            F.count("*").alias("_cnt")
        )

    # dv feeds THREE consumers (centroids, doc norms, the scoring join);
    # left lazy, the optimizer re-runs the full corpus explode+hash for
    # each — four Generate scans in the physical plan (guide §2.4:
    # duplicated subtrees are shuffles/passes to remove). Pin the
    # doc-cardinality agg once and every consumer reads the pinned rows.
    with pinned(bucket_counts(df, [id_col])) as dv:
        if train is df:
            # centroids are the label-wise sum of the SAME doc vectors —
            # derive them from dv (a doc-cardinality agg) instead of a
            # second full corpus explode+hash pass
            cent = (
                dv.join(
                    df.select(id_col, F.col(label_col).alias("_lang")), id_col
                )
                .filter(F.col("_lang").isNotNull())
                .groupBy("_lang", "_b")
                .agg(F.sum("_cnt").alias("_ccnt"))
            )
        else:
            cent = bucket_counts(
                train.filter(F.col(label_col).isNotNull()), [label_col]
            ).withColumnsRenamed({label_col: "_lang", "_cnt": "_ccnt"})
        cnorm = cent.groupBy("_lang").agg(
            F.sqrt(F.sum(F.col("_ccnt") * F.col("_ccnt"))).alias("_cn")
        )
        dnorm = dv.groupBy(id_col).agg(
            F.sqrt(F.sum(F.col("_cnt") * F.col("_cnt"))).alias("_dn")
        )
        scored = (
            dv.join(F.broadcast(cent), "_b")
            .groupBy(id_col, "_lang")
            .agg(F.sum(F.col("_cnt") * F.col("_ccnt")).alias("_dot"))
            .join(F.broadcast(cnorm), "_lang")
            .join(dnorm, id_col)
            .withColumn(
                "_cos", F.round(F.col("_dot") / (F.col("_cn") * F.col("_dn")), 6)
            )
        )
        # argmax via ONE hash aggregation (min_by over (-cos, lang) —
        # identical order to the former row_number window: cos desc,
        # ties to the lexicographically smaller language) instead of a
        # per-id sort window: partial aggregation halves the shuffled
        # rows and drops the Window sort (guide §2.3).
        best = (
            scored.groupBy(id_col)
            .agg(
                F.expr(
                    "min_by(struct(_lang, _cos), struct(-_cos, _lang))"
                ).alias("_best")
            )
            .select(
                id_col,
                F.col("_best._lang").alias("lang_pred"),
                F.round("_best._cos", 4).alias("lang_confidence"),
            )
        )
        # materialize the (doc-cardinality, 3-column) prediction table
        # before dv is released; the returned plan builds on it
        best = best.localCheckpoint()
    out = df.join(best, id_col, "left")
    return out.withColumn(
        "lang_pred", F.coalesce("lang_pred", F.lit("und"))
    ).withColumn(
        "lang_confidence", F.coalesce("lang_confidence", F.lit(0.0))
    )


def unicode_nfc(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    form: str = "NFC",
) -> DataFrame:
    """Unicode canonical normalization (NFC by default; NFD/NFKC/NFKD
    accepted) — the first text-pipeline step that makes every later
    exact/fuzzy dedup contract honest: ``é`` (U+00E9) and ``e`` +
    combining acute (U+0065 U+0301) are byte-different but canonically
    equal, so un-normalized corpora split dedup groups and double-count
    n-grams.

    Spark has no built-in normalizer expression, so this is the
    slow-path-done-right: ONE Arrow-batched ``pandas_udf`` (vectorized
    transfer, ``unicodedata.normalize`` per value — a C call in
    CPython), not a row-at-a-time ``F.udf``. It stays a scan-side
    projection: no shuffle, composes under whole-stage codegen
    boundaries like any other projected column. ASCII-only batches
    round-trip unchanged.

    The contract is engine-portable: DuckDB's ``nfc_normalize`` (and
    the gate query) agree with CPython's unicodedata on canonical
    composition, which is version-stable for assigned codepoints.
    """
    import pandas as pd  # noqa: F401 — signature typing only
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")

    @pandas_udf("string")
    def _norm(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize(form, x) if x is not None else None
        )

    return df.withColumn(out_col or text_col, _norm(F.col(text_col)))


def adaptive_length_filter(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group adaptive length gate: instead of one global min/max
    token count (wrong for every language at once — Chinese packs more
    content per token than Finnish), each group's thresholds are its
    own exact interpolated percentiles [lo, hi] of token count.

    Plan: one grouped percentile aggregation (group-cardinality rows)
    broadcast back onto the scan — the corpus side never shuffles.
    Exact `percentile` matches DuckDB's quantile_cont interpolation
    (the cross-engine contract percentiles_orders already proves).

    NULL groups are preserved, not dropped: the join back onto the
    percentile cuts is null-safe (<=>), so NULL-``group_col`` docs form
    their own cohort, get thresholds, and receive a ``length_pass``
    verdict — a filter operator must gate rows, never silently lose
    them.

    Output: input + n_tok, len_lo, len_hi, length_pass.
    """
    toks = df.withColumn("n_tok", token_count(F.col(text_col)))
    cuts = toks.groupBy(group_col).agg(
        F.expr(f"percentile(n_tok, {lo})").alias("len_lo"),
        F.expr(f"percentile(n_tok, {hi})").alias("len_hi"),
    )
    joined = toks.alias("t").join(
        F.broadcast(cuts).alias("c"),
        F.col(f"t.{group_col}").eqNullSafe(F.col(f"c.{group_col}")),
    )
    return joined.select("t.*", "c.len_lo", "c.len_hi").withColumn(
        "length_pass",
        (F.col("n_tok") >= F.col("len_lo")) & (F.col("n_tok") <= F.col("len_hi")),
    )
