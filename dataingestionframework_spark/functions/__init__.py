"""Scalar/array function helpers — all JVM-side ``pyspark.sql.functions``
compositions (no Python UDFs in any hot path).

Vector math uses ``F.zip_with`` + ``F.aggregate`` so the whole expression
stays inside whole-stage codegen; at 100 TB this is the difference between
an Arrow round-trip per batch and a pure columnar plan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Vector math over array<float>/array<double> columns
# ---------------------------------------------------------------------------


def vec_dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, computed JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vec_norm(a: Column) -> Column:
    """L2 norm of an array column."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns; NULL-safe on zero norms."""
    denom = vec_norm(a) * vec_norm(b)
    return F.when(denom > 0, vec_dot(a, b) / denom)


# ---------------------------------------------------------------------------
# SQL text
# ---------------------------------------------------------------------------


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier. Projections built
    from SQL text (``selectExpr``) parse on the JVM in one call; a
    ``Column`` per field costs several py4j round trips each."""
    return "`" + name.replace("`", "``") + "`"


# ---------------------------------------------------------------------------
# Numeric predicates
# ---------------------------------------------------------------------------


def is_finite(c: Column) -> Column:
    """True iff ``c`` is a finite number — the Spark twin of DuckDB's
    ``isfinite()``: NULL, NaN, and ±Infinity all fail. Every monitor
    that treats non-finite observations as MISSING rows (PSI, EWMA,
    seasonal-naive, streaming counters) filters through this one
    predicate so the Spark operator and its oracle share a single
    finiteness convention (round-7 advice: Spark excluded only
    NULL/NaN while the oracles used isfinite, so a ±Inf reading
    silently broke parity)."""
    d = c.cast("double")
    return d.isNotNull() & ~F.isnan(d) & (F.abs(d) != F.lit(float("inf")))


# ---------------------------------------------------------------------------
# Text helpers (whitespace tokenization; used by operators.text / dedup)
# ---------------------------------------------------------------------------

DEFAULT_STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "on", "for")


def bound(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE per row and pass its VALUE into ``fn``.

    Catalyst collapses projections, re-inlining an aliased expression
    into every consumer; referenced inside a higher-order-function
    lambda, the expression is then re-evaluated PER ARRAY ELEMENT — a
    token array used by a per-gram lambda re-tokenizes the document
    once per gram, O(tokens²)/doc (measured 5.7× on the sliding-window
    gram pass at sf0.1, guide §1.2 step 2). Routing the value through a
    single-element array makes it a bound lambda variable: evaluated
    once per row, referenced thereafter.
    """
    return F.element_at(F.transform(F.array(expr), fn), 1)


def tokens(text: Column) -> Column:
    """Whitespace tokens of a text column (empty strings removed)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def stopword_count(text: Column, stopwords: tuple[str, ...] = DEFAULT_STOPWORDS) -> Column:
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t)))


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Word n-gram array (space-joined shingles), distinct.

    Tokens are λ-bound (:func:`bound`) so tokenization runs once per
    row instead of once per gram."""
    return bound(
        tokens(text),
        lambda toks: F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        ),
    )


def exploded_word_ngrams(df, text_col: str, id_col: str, n: int = 3):
    """Word n-grams as ROWS (id, gram) — the scale path for sketching.

    posexplode + lead-window: tokenization runs once per document (the
    array-expression form re-evaluates it per gram — O(tokens²)/doc,
    measured 3.4× slower), and the window's hash(doc_id) partitioning is
    reused by any downstream groupBy(doc_id), so the sketch pipeline
    stays at ONE shuffle. Emits the n-gram multiset (no dedup): min/vote
    aggregates are duplicate-insensitive where it matters.
    """
    from pyspark.sql import Window

    tok_rows = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = ["tok"] + [F.lead("tok", k).over(w) for k in range(1, n)]
    last = F.lead("tok", n - 1).over(w) if n > 1 else F.col("tok")
    return (
        tok_rows.select(F.col(id_col), F.concat_ws(" ", *parts).alias("gram"), last.alias("_t"))
        .filter(F.col("_t").isNotNull())
        .drop("_t")
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array columns (treated as sets)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_distinct(F.concat(a, b)))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
