"""One-pass column profiling (ANALYZE-style table statistics).

The reference inspects data quality ad hoc (per-source count queries in
``notebooks/Autoloader_daily_log_report.sql``); this is the general
operator: per-column row/null/distinct counts and min/max, computed in
one wide aggregate plus (for exact distincts) one stacked
distinct-count pass — a fixed number of jobs over the table regardless
of how many columns are profiled. At 100 TB the alternative (one query
per column) multiplies full scans by the column count.

The 1-row aggregate result is pivoted driver-side into one report row
per column (driver data = #cols, not #rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import is_finite

_NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double", "decimal"}

# types whose cast-to-string is injective on DISTINCT values, so a
# stacked string-keyed countDistinct equals the native countDistinct:
# integers and decimals print canonically, float/double print with
# round-trip precision (-0.0 and 0.0 print differently, NaN is one
# value both ways), timestamps print at full micros precision
_STR_INJECTIVE = _NUMERIC | {"string", "boolean", "date", "timestamp", "timestamp_ntz"}


def profile(
    df: DataFrame, cols: list[str] | None = None, exact_distinct: bool = True
) -> DataFrame:
    """Profile ``cols`` (default: all non-complex columns).

    Output: one row per column —
    (column, n_rows, n_nonnull, n_distinct, min_num, max_num,
    min_str, max_str); min/max land in the ``_num`` pair for numeric
    columns and the ``_str`` pair for strings (binary collation in both
    Spark and the SQL oracle), NULL otherwise.

    ``exact_distinct=True`` uses exact distinct counts. N distinct
    aggregates in ONE wide agg force an Expand — each input row
    duplicated per distinct column, with the full null-padded column
    set carried through the shuffle (measured: 3.3 s vs 0.4 s for the
    non-distinct aggs alone on 150k rows × 5 columns). Columns whose
    type casts to string injectively are therefore counted in a second
    STACKED pass instead: one ``posexplode`` of the casted values into
    (column_idx, value) rows and a single two-phase
    ``countDistinct`` per idx — N× the rows, but 2 narrow columns
    instead of the Expand's padded width, and the base aggregate stays
    expand-free (measured 0.69 s for the same distinct counts). Types
    without a provably injective string cast (e.g. binary) stay in the
    wide agg. At 100 TB pass ``exact_distinct=False``:
    approx_count_distinct (HLL++, default 5% rsd) keeps the profile a
    single no-expand, no-restack pass, the standard ANALYZE trade.
    """
    dtypes = dict(df.dtypes)
    if cols is None:
        cols = [c for c, t in df.dtypes if not t.startswith(("array", "map", "struct"))]

    distinct_agg = F.countDistinct if exact_distinct else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("__n")]
    stacked: list[str] = []
    for c in cols:
        base = dtypes[c].split("(")[0]
        if exact_distinct and base in _STR_INJECTIVE:
            stacked.append(c)
        else:
            aggs.append(distinct_agg(c).alias(f"{c}__nd"))
        aggs.append(F.count(c).alias(f"{c}__nn"))
        if base in _NUMERIC:
            aggs.append(F.min(c).cast("double").alias(f"{c}__mn"))
            aggs.append(F.max(c).cast("double").alias(f"{c}__mx"))
        elif base == "string":
            aggs.append(F.min(c).alias(f"{c}__smn"))
            aggs.append(F.max(c).alias(f"{c}__smx"))
    row = df.agg(*aggs).first().asDict()
    if stacked:
        # NULL elements survive posexplode and are skipped by
        # countDistinct, exactly like countDistinct(col) on the wide
        # path; a column with no non-null values gets 0 either way.
        # float/double add +0.0 first: native distinct aggregation
        # normalizes -0.0 to 0.0 (NormalizeFloatingNumbers) while the
        # string cast would keep "-0.0" distinct — +0.0 is the same
        # normalization and the identity for every other value
        def _key(c: str):
            base = dtypes[c].split("(")[0]
            v = F.col(c)
            if base in ("float", "double"):
                v = v + F.lit(0.0)
            return v.cast("string")

        pairs = df.select(
            F.posexplode(F.array(*[_key(c) for c in stacked])).alias("_ci", "_v")
        )
        nd = {
            r["_ci"]: r["_nd"]
            for r in pairs.groupBy("_ci")
            .agg(F.countDistinct("_v").alias("_nd"))
            .collect()
        }
        for i, c in enumerate(stacked):
            row[f"{c}__nd"] = nd.get(i, 0)

    out = [
        (
            c,
            row["__n"],
            row[f"{c}__nn"],
            row[f"{c}__nd"],
            row.get(f"{c}__mn"),
            row.get(f"{c}__mx"),
            row.get(f"{c}__smn"),
            row.get(f"{c}__smx"),
        )
        for c in cols
    ]
    return df.sparkSession.createDataFrame(
        out,
        "column string, n_rows long, n_nonnull long, n_distinct long, "
        "min_num double, max_num double, min_str string, max_str string",
    )


_FP_MOD = 2305843009213693951  # 2^61 - 1: keeps the sum in BIGINT range


def table_fingerprint(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Order- and partitioning-insensitive table checksum for
    cross-system reconciliation: per row, a 60-bit integer from the md5
    of the ``|``-joined stringified columns (NULL → the ``\\N``
    sentinel, so NULL and '' don't collide); the table fingerprint is
    the SUM of row values mod 2^61-1 plus the row count.

    The sum is commutative and mergeable — per-partition partials
    combine map-side, two tables compare with ONE scan each and no
    sort, and incremental maintenance is add/subtract of changed rows'
    values (the CDC composition: fingerprint' = fingerprint + Σ inserts
    − Σ deletes, all mod p). That is what makes this the 100 TB
    migration-audit shape: "did the copy land bit-identical?" without
    ordering either side. The row hash is engine-portable (md5 of a
    canonical string), so any SQL engine can recompute it — the gate's
    DuckDB twin does.

    Canonicalization caveat: columns are compared via CAST(col AS
    STRING), which is stable for ints/strings/dates but
    engine-dependent for floats/timestamps — normalize those upstream
    (round/format) before fingerprinting.

    Output: 1 row (n_rows, fingerprint).
    """
    cols = cols or df.columns
    key = F.concat_ws(
        "|",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in cols],
    )
    rowv = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("decimal(38,0)")
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.pmod(F.sum(rowv), F.lit(_FP_MOD).cast("decimal(38,0)"))
        .cast("long")
        .alias("fingerprint"),
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    sample of ``value_col`` — the distribution-drift monitor quality
    pipelines run on every ingest window (rule of thumb: PSI < 0.1
    stable, 0.1–0.25 investigate, > 0.25 the upstream changed).

    Equi-width buckets over [lo, hi) with the edges clamped into the
    first/last bucket; proportions are floored at ``eps`` so empty
    buckets contribute a large-but-finite term instead of ±∞. Shape:
    two linear bucket-count aggregates (map-side combine onto
    ``n_buckets`` keys), a broadcast join against the static bucket
    spine so EMPTY buckets still appear, and a 1-row totals broadcast —
    no window-over-nothing, no global sort; at 100 TB each side is one
    scan. Returns one row per bucket: proportions and the signed PSI
    term ``(q−p)·ln(q/p)``; sum the column for the headline index.
    """
    width = (hi - lo) / n_buckets

    def counts(df: DataFrame, name: str) -> DataFrame:
        bucket = F.least(
            F.lit(n_buckets - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)),
            ),
        ).cast("int")
        return (
            # NULL / non-finite observations carry no distribution
            # information; NaN would land in an engine-defined bucket
            # (DuckDB refuses the cast outright) and ±Inf would hit
            # floor(±inf) — excluded via the shared isfinite twin
            df.filter(is_finite(F.col(value_col)))
            .select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias(name))
        )

    spark = ref.sparkSession
    spine = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    # n_buckets rows; materialized so the totals aggregate below does
    # not re-scan both inputs (Spark shares no common subplans — the
    # alternative is two full passes per side)
    j = (
        spine.join(counts(ref, "n_ref"), "bucket", "left")
        .join(counts(cur, "n_cur"), "bucket", "left")
        .na.fill({"n_ref": 0, "n_cur": 0})
        .localCheckpoint()
    )
    tot = j.agg(
        F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc")
    )
    # an EMPTY side has no distribution: proportions (and the PSI
    # term) are NULL rather than an ANSI divide-by-zero — the
    # empty-selection case every 100 TB monitor hits eventually
    p = F.when(
        F.col("_tr") > 0, F.greatest(F.col("n_ref") / F.col("_tr"), F.lit(eps))
    )
    q = F.when(
        F.col("_tc") > 0, F.greatest(F.col("n_cur") / F.col("_tc"), F.lit(eps))
    )
    return j.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_ref",
        "n_cur",
        F.round(p, 6).alias("p_ref"),
        F.round(q, 6).alias("p_cur"),
        F.round((q - p) * F.log(q / p), 6).alias("psi_term"),
    )


def table_diff(
    cur: DataFrame,
    prev: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Keyed snapshot diff — the regression audit between two versions
    of a table (yesterday's corpus vs today's, pre- vs post-migration):
    every key is classified ``added`` / ``removed`` / ``changed`` /
    ``unchanged``.

    ONE full-outer equi-join on the key. Each side is first collapsed
    to (key, md5 row fingerprint) with :func:`table_fingerprint`'s
    canonicalization (``|``-joined CAST-to-string, ``\\N`` NULL
    sentinel — same float/timestamp caveat), so the exchange carries
    keys + 32 hex chars per row no matter how wide the table is. At
    100 TB both sides shuffle once; if both tables are already
    bucketed by the key the exchange disappears entirely.

    Output: key columns + ``diff_status``. Aggregate for dashboards,
    filter ``!= 'unchanged'`` for audits.

    Keys must be UNIQUE on each side (the dbt snapshot contract) — a
    duplicated key turns the full-outer join into a small cross
    product and the statuses become ill-defined. Run the ``unique``
    expectation (ingest/expectations.py) on the key first when in
    doubt.
    """
    keys = list(key_cols)

    def fingerprinted(df: DataFrame, out: str) -> DataFrame:
        cols = list(compare_cols) if compare_cols else [
            c for c in df.columns if c not in keys
        ]
        canon = F.concat_ws(
            "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in cols]
        )
        return df.select(*keys, F.md5(canon).alias(out))

    j = fingerprinted(cur, "_cur_fp").join(
        fingerprinted(prev, "_prev_fp"), keys, "full"
    )
    status = (
        F.when(F.col("_prev_fp").isNull(), F.lit("added"))
        .when(F.col("_cur_fp").isNull(), F.lit("removed"))
        .when(F.col("_cur_fp") != F.col("_prev_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(*keys, status.alias("diff_status"))


def robust_scale(
    df: DataFrame,
    value_col: str,
    group_col: str,
    out_col: str = "scaled",
) -> DataFrame:
    """Per-group robust scaling (median/IQR — the outlier-immune
    z-score): scaled = (x − median_g) / IQR_g. The calibration step
    that makes scores comparable ACROSS groups before a global
    threshold — quality scores from different sources/classifiers, or
    prices across segments, live on different scales, and a single
    global cut silently over-prunes one group.

    Exact interpolated percentiles (the quantile_cont cross-engine
    contract) aggregated per group, broadcast back onto the scan —
    the data side never shuffles. Zero-IQR groups (constant values)
    yield scaled = 0.0 rather than a divide-by-null surprise.
    NULL groups are preserved, not dropped: the join back onto the
    cuts is null-safe, so NULL-group rows form their own cohort and
    get scaled like everyone else (the adaptive_length_filter lesson —
    a calibration operator must never silently lose rows).

    Output: input + (med, iqr, ``out_col`` 4dp).
    """
    from pyspark.sql import functions as F

    cuts = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med"),
        (
            F.expr(f"percentile({value_col}, 0.75)")
            - F.expr(f"percentile({value_col}, 0.25)")
        ).alias("iqr"),
    )
    joined = df.alias("d").join(
        F.broadcast(cuts).alias("c"),
        F.col(f"d.{group_col}").eqNullSafe(F.col(f"c.{group_col}")),
    )
    return joined.select("d.*", "c.med", "c.iqr").withColumn(
        out_col,
        F.when(F.col("iqr") > 0,
               F.round((F.col(value_col) - F.col("med")) / F.col("iqr"), 4)
        ).otherwise(F.lit(0.0)),
    )


def classification_metrics(
    df: DataFrame,
    label_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-class precision / recall / F1 from (label, prediction)
    pairs — the eval loop every classifier-based curation stage
    (quality filter, language ID, toxicity screen) needs before its
    threshold goes to production.

    One aggregate pass builds the confusion counts; per-class TP/FP/FN
    are integer sums over the tiny class-pair table, so the metric
    divisions are engine-exact. Classes appearing only in predictions
    (or only in labels) still get a row (their recall resp. precision
    is NULL — 0/0 is reported as NULL, not masked as 0). NULL is
    treated as a CLASS consistently: NULL labels/predictions group
    into one class row (null-safe join) and a NULL prediction of a
    NULL label counts as a true positive — not two disjoint half-rows.

    Output: (class, n_true, n_pred, tp, precision, recall, f1 — 4dp).
    """
    from pyspark.sql import functions as F

    pairs = df.groupBy(
        F.col(label_col).alias("_y"), F.col(pred_col).alias("_p")
    ).agg(F.count("*").alias("_n"))
    # One pass over the tiny class-pair table: each (label, pred, n)
    # row contributes a LABEL-role record (n_true, and tp when they
    # null-safe-match) and a PRED-role record (n_pred), then a single
    # groupBy(class) sums the roles. The former shape — separate
    # by-label and by-pred aggregations full-outer-joined back — made
    # ``pairs`` (and therefore the caller's whole prediction subtree)
    # a two-consumer branch the optimizer re-evaluates per side; this
    # keeps it single-consumer. NULL is still one class: grouping
    # collates NULLs exactly like the old eqNullSafe join condition.
    zero = F.lit(0).cast("long")
    both = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("_y").alias("class"),
                    F.col("_n").alias("n_true"),
                    zero.alias("n_pred"),
                    F.when(
                        F.col("_y").eqNullSafe(F.col("_p")), F.col("_n")
                    ).otherwise(zero).alias("tp"),
                ),
                F.struct(
                    F.col("_p").alias("class"),
                    zero.alias("n_true"),
                    F.col("_n").alias("n_pred"),
                    zero.alias("tp"),
                ),
            )
        ).alias("_r")
    ).select("_r.*")
    # sums are never NULL here (every group has rows, values are
    # non-null); the coalesce only restores the former non-nullable
    # schema so the cross-engine type gate sees an unchanged contract
    out = both.groupBy("class").agg(
        F.coalesce(F.sum("n_true"), F.lit(0)).alias("n_true"),
        F.coalesce(F.sum("n_pred"), F.lit(0)).alias("n_pred"),
        F.coalesce(F.sum("tp"), F.lit(0)).alias("tp"),
    )
    precision = F.when(
        F.col("n_pred") > 0, F.round(F.col("tp") / F.col("n_pred"), 4)
    )
    recall = F.when(
        F.col("n_true") > 0, F.round(F.col("tp") / F.col("n_true"), 4)
    )
    return (
        out.withColumn("precision", precision)
        .withColumn("recall", recall)
        .withColumn(
            "f1",
            F.when(
                (F.col("n_pred") > 0)
                & (F.col("n_true") > 0)
                & (F.col("tp") > 0),
                F.round(
                    2.0 * F.col("tp") / (F.col("n_pred") + F.col("n_true")), 4
                ),
            ).otherwise(
                F.when((F.col("n_pred") > 0) & (F.col("n_true") > 0), 0.0)
            ),
        )
    )


def ks_statistic(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between two
    groups' value distributions: D = max over values of
    |ECDF_a(v) − ECDF_b(v)| — the distribution-drift monitor that,
    unlike PSI (psi_drift), needs no binning choice and is sensitive
    to shape changes PSI's fixed buckets smear out. The pair covers
    the standard drift dashboard.

    Plan: one (value, group) count aggregate over the scan; the
    cumulative-ECDF window then runs over the aggregated DISTINCT-value
    table (values ≪ rows — the same aggregate-then-window discipline
    as the vocabulary rankings), never over the raw data. Ties are
    handled exactly: the ECDF steps once per distinct value with its
    full multiplicity.

    Output: 1 row (n_a, n_b, ks_stat 6dp).
    """
    from pyspark.sql import Window, functions as F

    tagged = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value_col).alias("_v"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("_a"),
        F.when(F.col(group_col) == group_b, 1).otherwise(0).alias("_b"),
    )
    per_val = tagged.groupBy("_v").agg(
        F.sum("_a").alias("_na"), F.sum("_b").alias("_nb")
    )
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_val.select(
        F.sum("_na").over(w).alias("_ca"),
        F.sum("_nb").over(w).alias("_cb"),
        F.sum("_na").over(Window.partitionBy()).alias("_ta"),
        F.sum("_nb").over(Window.partitionBy()).alias("_tb"),
    )
    return cum.agg(
        F.max("_ta").alias("n_a"),
        F.max("_tb").alias("n_b"),
        # an ABSENT side has no ECDF: the statistic is NULL, not an
        # ANSI divide-by-zero (DuckDB's x/0 is NULL, so the oracle
        # already lands there)
        F.round(
            F.max(
                F.when(
                    (F.col("_ta") > 0) & (F.col("_tb") > 0),
                    F.abs(
                        F.col("_ca") / F.col("_ta") - F.col("_cb") / F.col("_tb")
                    ),
                )
            ),
            6,
        ).alias("ks_stat"),
    )


def gini_concentration(
    df: DataFrame,
    group_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Gini coefficient of how concentrated the corpus is across
    groups (sources, domains, languages): 0 = perfectly even shares,
    →1 = one group dominates. The standard concentration red flag —
    a "diverse web corpus" whose Gini over domains is 0.98 is one
    crawler bug away from a single-site corpus.

    G = (2·Σ i·xᵢ) / (n·Σx) − (n+1)/n over ascending-sorted group
    weights (exact integer/sum arithmetic until one final division).
    The sort-rank window runs over the GROUP-cardinality table — tiny.

    Output: 1 row (n_groups, total_weight, gini 6dp).
    """
    from pyspark.sql import Window, functions as F

    wexpr = F.count("*") if weight_col is None else F.sum(weight_col)
    shares = df.groupBy(group_col).agg(wexpr.alias("_x"))
    w = Window.orderBy(F.col("_x").asc(), F.col(group_col).asc())
    ranked = shares.select(
        "_x", F.row_number().over(w).alias("_i")
    )
    return ranked.agg(
        F.count("*").alias("n_groups"),
        F.sum("_x").alias("total_weight"),
        F.round(
            (2.0 * F.sum(F.col("_i") * F.col("_x")))
            / (F.count("*") * F.sum("_x"))
            - (F.count("*") + F.lit(1.0)) / F.count("*"),
            6,
        ).alias("gini"),
    )


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str | None = None,
) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney, IJUFKS'02; Machanavajjhala
    et al., ICDE'06) — the privacy pre-check a release pipeline runs
    before publishing quasi-identifiable rows: every combination of the
    quasi-identifier columns forms an equivalence class; rows in small
    classes are re-identifiable.

    Output is the CLASS-SIZE HISTOGRAM (one row per distinct class
    size): (class_size, n_classes, n_rows, min_l) where ``min_l`` is
    the minimum number of distinct ``sensitive_col`` values across
    classes of that size (NULL when no sensitive column is given) —
    the table from which any k/l policy reads directly: rows below k
    = sum(n_rows) over class_size < k; l-diversity holds iff
    min(min_l) ≥ l.

    Two hash aggregates (QI-combination → class size, then size →
    histogram); the second input is |distinct QI combos|, so the plan
    is one real shuffle plus a tiny one. NULL QI values group as their
    own value (NULL ZIP is still a linkable value) — groupBy semantics,
    matched by the SQL oracle's GROUP BY.
    """
    aggs = [F.count("*").alias("_sz")]
    if sensitive_col is not None:
        aggs.append(F.count_distinct(F.col(sensitive_col)).alias("_l"))
    classes = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(*aggs)
    out = classes.groupBy(F.col("_sz").alias("class_size")).agg(
        F.count("*").alias("n_classes"),
        F.sum("_sz").alias("n_rows"),
        (
            F.min("_l") if sensitive_col is not None else F.lit(None).cast("long")
        ).alias("min_l"),
    )
    return out


def skew_profile(
    df: DataFrame,
    key_col: str,
    top_n: int = 20,
) -> DataFrame:
    """Hot-key report for shuffle/join planning — the diagnostic run
    BEFORE a 100 TB join to decide salting / AQE-skew-join / broadcast:
    the top-``top_n`` keys by row count with each key's share of the
    table and its skew factor (count ÷ mean count per key; >> 1 means
    that key's shuffle partition is the straggler).

    One hash aggregate on the key, a 1-row scalar broadcast of
    (total_rows, n_keys) — the plan-audit-sanctioned scalar pattern —
    and a top-k sort that compiles to TakeOrderedAndProject (no global
    sort materializes). NULL keys are profiled too (a hot NULL is the
    single most common real-world join skew).

    Output: (key[string], cnt, share 6dp, skew_factor 4dp, rank).
    """
    counts = df.groupBy(
        F.col(key_col).cast("string").alias("key")
    ).agg(F.count("*").alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("_total"), F.count("*").alias("_nkeys")
    )
    ranked = (
        counts.join(F.broadcast(totals))
        .select(
            "key",
            "cnt",
            F.round(F.col("cnt") / F.col("_total"), 6).alias("share"),
            F.round(
                F.col("cnt") * F.col("_nkeys") / F.col("_total"), 4
            ).alias("skew_factor"),
        )
        # asc_nulls_last: Spark's bare asc sorts NULL FIRST while the
        # DuckDB oracle's ASC is NULLS LAST — a hot NULL key tying
        # another key on cnt must rank identically on both engines
        # (round-7 advice)
        .orderBy(F.col("cnt").desc(), F.col("key").asc_nulls_last())
        .limit(top_n)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cnt").desc(), F.col("key").asc_nulls_last())
    return ranked.withColumn("rank", F.row_number().over(w).cast("int"))


def hbos_outliers(
    df: DataFrame,
    id_col: str,
    num_col: str,
    cat_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 10,
    top_n: int = 50,
    eps: float = 1e-6,
) -> DataFrame:
    """Histogram-Based Outlier Score (Goldstein & Dengel, KI'12) — the
    linear-time unsupervised anomaly scorer quality pipelines run where
    isolation forests are too expensive: per-feature density histograms,
    score = Σ_features −ln(p_feature(row)). Rows in thin buckets of
    EVERY feature score highest.

    Two features here, one numeric (equi-width buckets over [lo, hi),
    edges clamped — same static-bound convention as :func:`psi_drift`,
    so bucket membership is engine-portable) and one categorical
    (frequency = its share). Plan: two tiny aggregates (n_buckets and
    |categories| rows — genuinely model-sized, broadcast), one 1-row
    total, then a single scan scores every row; top-k compiles to
    TakeOrderedAndProject. Nothing quadratic, nothing Python.

    Non-finite numeric values are unscorable (no bucket) and excluded
    via the shared :func:`is_finite` contract. Probabilities are
    floored at ``eps`` like PSI so empty-ish buckets stay finite.

    Output: (id, num_bucket, cat_value, score 6dp) × top_n by
    (score desc, id).
    """
    width = (hi - lo) / n_buckets
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.greatest(F.lit(0), F.floor((F.col(num_col) - F.lit(lo)) / F.lit(width))),
    ).cast("int")
    base = df.filter(is_finite(F.col(num_col))).select(
        F.col(id_col).alias("id"),
        bucket.alias("num_bucket"),
        F.col(cat_col).alias("cat_value"),
    )
    tot = base.agg(F.count("*").alias("_n"))
    num_hist = base.groupBy("num_bucket").agg(F.count("*").alias("_nb"))
    cat_hist = base.groupBy("cat_value").agg(F.count("*").alias("_nc"))
    return (
        base.join(F.broadcast(num_hist), "num_bucket")
        .join(F.broadcast(cat_hist), "cat_value")
        .crossJoin(F.broadcast(tot))
        .select(
            "id",
            "num_bucket",
            "cat_value",
            F.round(
                -F.log(F.greatest(F.col("_nb") / F.col("_n"), F.lit(eps)))
                - F.log(F.greatest(F.col("_nc") / F.col("_n"), F.lit(eps))),
                6,
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(top_n)
    )


def fd_profile(
    df: DataFrame,
    pairs: list[tuple[str, str]],
) -> DataFrame:
    """Approximate functional-dependency audit (the g₃ error of Huhtala
    et al.'s TANE, Comput. J. 1999): for each candidate ``A → B``, the
    minimum number of rows to delete for the dependency to hold exactly
    is ``n_rows − Σ_a max_b count(a, b)``. confidence = kept/n_rows;
    1.0 means the FD holds, and a determinant with n_distinct == n_rows
    is a candidate key. The schema-discovery profile run before
    declaring MERGE keys or partition columns on an unfamiliar table.

    Plan per pair: groupBy(A, B) count → groupBy(A) max — two hash
    aggregates whose SECOND input is |distinct A| (the same linear
    shape as k-anonymity); pairs are unioned so Spark runs them as one
    job. NULL determinant/dependent values group as values (NULL → a
    class of its own), matching SQL GROUP BY on both engines.

    Output: one row per pair — (determinant, dependent, n_rows,
    n_distinct_det, n_violations, confidence 6dp).
    """
    if not pairs:
        raise ValueError("fd_profile needs at least one (det, dep) pair")
    outs = []
    for det, dep in pairs:
        per_ab = df.groupBy(
            F.col(det).alias("_a"), F.col(dep).alias("_b")
        ).agg(F.count("*").alias("_n"))
        per_a = per_ab.groupBy("_a").agg(
            F.max("_n").alias("_keep"), F.sum("_n").alias("_cnt")
        )
        outs.append(
            per_a.agg(
                F.lit(det).alias("determinant"),
                F.lit(dep).alias("dependent"),
                F.sum("_cnt").alias("n_rows"),
                F.count("*").alias("n_distinct_det"),
                (F.sum("_cnt") - F.sum("_keep")).alias("n_violations"),
                F.round(F.sum("_keep") / F.sum("_cnt"), 6).alias("confidence"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def psi_bucket_merge_into_store(
    batch_df: DataFrame,
    store_path: str,
    value_col: str,
    ts_col: str,
    cutoff,
    lo: float,
    hi: float,
    n_buckets: int = 10,
    batch_id: int | None = None,
) -> None:
    """foreachBatch sink body for a STREAMING drift monitor: reduce the
    micro-batch to per-(side, bucket) counts — side = reference if
    ``ts < cutoff`` else current, buckets exactly as :func:`psi_drift`
    (clamped equi-width, non-finite excluded via the shared
    :func:`is_finite` contract) — and additively merge them into a
    persisted parquet store. Counts COMMUTE, so any shard order / any
    trigger produces the identical store, and the drained store equals
    the one-shot bucket counts over all rows; :func:`psi_from_store`
    then yields the exact batch :func:`psi_drift` table. Each batch
    costs O(batch) + a ≤ 2·n_buckets-row merge; the raw stream is
    never re-read — the continuous-monitoring shape at 100 TB (same
    store discipline as kmeans_stats_merge_into_store / CMS rollup:
    explicit existence probe, atomic commit_store rotation).

    Pass the foreachBatch epoch id as ``batch_id``: foreachBatch is
    at-least-once, and an additive merge double-counts a redelivered
    batch — the in-store epoch marker (:func:`~dataingestionframework_spark.
    session.store_epoch`) makes retries no-ops so the drained store
    truly equals the one-shot counts.
    """
    from ..session import commit_store, path_exists, store_epoch

    spark = batch_df.sparkSession
    # store_epoch also repairs any interrupted commit rotation
    last = store_epoch(spark, store_path)
    if batch_id is not None and batch_id <= last:
        return  # at-least-once redelivery of an already-merged epoch
    width = (hi - lo) / n_buckets
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.greatest(
            F.lit(0), F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
        ),
    ).cast("int")
    counts = (
        # NULL-ts rows are droppable on BOTH sides: a measurement with
        # no timestamp cannot be sided against the cutoff (the batch
        # psi_drift query excludes them the same way — its ref/cur
        # split predicates are both NULL-false)
        batch_df.filter(
            is_finite(F.col(value_col)) & F.col(ts_col).isNotNull()
        )
        .select(
            F.when(F.col(ts_col) < F.lit(cutoff), F.lit("ref"))
            .otherwise(F.lit("cur"))
            .alias("side"),
            bucket.alias("bucket"),
        )
        .groupBy("side", "bucket")
        .agg(F.count("*").alias("n"))
    )
    if path_exists(spark, store_path):
        prev = spark.read.parquet(store_path)
        counts = (
            prev.unionByName(counts)
            .groupBy("side", "bucket")
            .agg(F.sum("n").alias("n"))
        )
    # stage-write + rename: data and epoch marker commit in ONE rename
    commit_store(counts, store_path, batch_id)


def psi_from_store(spark, store_path: str, n_buckets: int = 10,
                   eps: float = 1e-6) -> DataFrame:
    """Derive the :func:`psi_drift` output table from a drained bucket
    store: pivot the (side, bucket, n) counts onto the static bucket
    spine and apply the identical eps-floored ``(q−p)·ln(q/p)`` term —
    same NULL-proportions-on-empty-side contract. ≤ 2·n_buckets rows
    end to end."""
    st = spark.read.parquet(store_path)
    spine = spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    ref = st.filter(F.col("side") == "ref").select(
        "bucket", F.col("n").alias("n_ref")
    )
    cur = st.filter(F.col("side") == "cur").select(
        "bucket", F.col("n").alias("n_cur")
    )
    j = (
        spine.join(ref, "bucket", "left")
        .join(cur, "bucket", "left")
        .na.fill({"n_ref": 0, "n_cur": 0})
        .localCheckpoint()
    )
    tot = j.agg(F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc"))
    p = F.when(
        F.col("_tr") > 0, F.greatest(F.col("n_ref") / F.col("_tr"), F.lit(eps))
    )
    q = F.when(
        F.col("_tc") > 0, F.greatest(F.col("n_cur") / F.col("_tc"), F.lit(eps))
    )
    return j.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_ref",
        "n_cur",
        F.round(p, 6).alias("p_ref"),
        F.round(q, 6).alias("p_cur"),
        F.round((q - p) * F.log(q / p), 6).alias("psi_term"),
    )


def mi_profile(
    df: DataFrame,
    pairs: list[tuple[str, str]],
) -> DataFrame:
    """Entropy / mutual-information audit between column pairs — the
    SOFT companion to :func:`fd_profile`: an exact FD gives
    H(B|A) = 0; MI(A;B) measures how much of B's uncertainty A removes
    even when the dependency is approximate (feature redundancy,
    leakage screening between a feature and a label, pick-the-
    partition-column-that-actually-predicts-access). All quantities in
    nats from EXACT counts:

        H(X) = −Σ p ln p,  MI = H(A) + H(B) − H(A,B)

    Plan per pair: one groupBy(A, B) count (the only corpus-sized
    aggregate), then entropies from three tiny regroupings of that
    count table (|A|, |B|, |A,B| rows) and a 1-row total — the same
    two-level shape as k-anonymity/fd_profile; pairs union into one
    job. NULL values group as values (a NULL is information too).

    Output per pair: (col_a, col_b, n_rows, h_a, h_b, h_ab, mi — all
    6dp; mi is clamped at ≥ 0 against last-ulp negative noise on
    independent columns).
    """
    if not pairs:
        raise ValueError("mi_profile needs at least one (col_a, col_b) pair")

    outs = []
    for a, b in pairs:
        ab = df.groupBy(
            F.col(a).alias("_a"), F.col(b).alias("_b")
        ).agg(F.count("*").alias("_n"))

        # entropies via sum(c·ln c) identities so each needs only its
        # own count table and the shared scalar n:
        #   H = ln n − (Σ c·ln c) / n
        pa = ab.groupBy("_a").agg(F.sum("_n").alias("_c"))
        pb = ab.groupBy("_b").agg(F.sum("_n").alias("_c"))
        s_a = pa.agg(
            F.sum(F.col("_c") * F.log(F.col("_c"))).alias("_s"),
            F.sum("_c").alias("_n_rows"),
        )
        s_b = pb.agg(F.sum(F.col("_c") * F.log(F.col("_c"))).alias("_s"))
        s_ab = ab.agg(F.sum(F.col("_n") * F.log(F.col("_n"))).alias("_s"))
        h = (
            s_a.crossJoin(F.broadcast(s_b.withColumnRenamed("_s", "_sb")))
            .crossJoin(F.broadcast(s_ab.withColumnRenamed("_s", "_sab")))
            .select(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col("_n_rows").alias("n_rows"),
                (F.log(F.col("_n_rows")) - F.col("_s") / F.col("_n_rows"))
                .alias("_ha"),
                (F.log(F.col("_n_rows")) - F.col("_sb") / F.col("_n_rows"))
                .alias("_hb"),
                (F.log(F.col("_n_rows")) - F.col("_sab") / F.col("_n_rows"))
                .alias("_hab"),
            )
            .select(
                "col_a",
                "col_b",
                "n_rows",
                F.round("_ha", 6).alias("h_a"),
                F.round("_hb", 6).alias("h_b"),
                F.round("_hab", 6).alias("h_ab"),
                F.round(
                    F.greatest(
                        F.col("_ha") + F.col("_hb") - F.col("_hab"), F.lit(0.0)
                    ),
                    6,
                ).alias("mi"),
            )
        )
        outs.append(h)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def threshold_sweep(
    df: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: list[float],
) -> DataFrame:
    """Classifier-threshold calibration sweep — the report that picks a
    quality-filter cutoff before it ships: for every candidate
    threshold t, the confusion counts of the rule ``score >= t``
    against a boolean label, with precision/recall/F1. The curation
    question ("keep the top X% — what recall does that cost?") is read
    straight off this table.

    Plan: the row stream is map-side exploded against the broadcast
    threshold spine (|T| rows — a config constant), then ONE hash
    aggregate onto |T| keys with map-side combine, so the cost is one
    scan regardless of |T|; no per-threshold jobs, no driver loop.
    Rows with NULL score or NULL label carry no signal and are
    excluded up front (documented; count them via profile() if
    needed). 0/0 divisions are NULL (empty flag set / no positives),
    matching SQL semantics on both engines.

    Output per threshold: (threshold, n_flagged, tp, fp, fn,
    precision 6dp, recall 6dp, f1 6dp), ordered by threshold.
    """
    if not thresholds:
        raise ValueError("threshold_sweep needs at least one threshold")
    spark = df.sparkSession
    spine = spark.createDataFrame(
        [(float(t),) for t in sorted(thresholds)], "threshold double"
    )
    base = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("boolean").alias("_y"),
    )
    flag = F.col("_s") >= F.col("threshold")
    agg = (
        base.join(F.broadcast(spine))
        .groupBy("threshold")
        .agg(
            F.count(F.when(flag, 1)).alias("n_flagged"),
            F.count(F.when(flag & F.col("_y"), 1)).alias("tp"),
            F.count(F.when(flag & ~F.col("_y"), 1)).alias("fp"),
            F.count(F.when(~flag & F.col("_y"), 1)).alias("fn"),
        )
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp") / (F.col("tp") + F.col("fp")),
    )
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp") / (F.col("tp") + F.col("fn")),
    )
    return agg.select(
        "threshold",
        "n_flagged",
        "tp",
        "fp",
        "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            F.when(
                2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
                2 * F.col("tp")
                / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
            ),
            6,
        ).alias("f1"),
    ).orderBy("threshold")


def cohen_kappa(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Inter-annotator agreement (Cohen's κ, 1960) between two label
    columns — the labeled-data QA gate before training on human or
    model annotations: observed agreement p_o corrected by the
    chance agreement p_e of the two raters' marginal distributions,

        κ = (p_o − p_e) / (1 − p_e)

    κ ≈ 0 means the raters agree no better than chance even when raw
    accuracy looks high (the imbalanced-label trap). All from exact
    counts: one (a, b) pair-count aggregate over the scan, then the
    marginals are tiny regroupings joined NULL-SAFELY (an abstaining
    rater's NULL is a category of its own — dropping those rows would
    overstate agreement). κ is NULL when p_e = 1 (both raters constant
    — agreement is vacuous, not perfect).

    Output: 1 row (n_rows, po 6dp, pe 6dp, kappa 6dp).
    """
    cells = df.groupBy(
        F.col(col_a).alias("_a"), F.col(col_b).alias("_b")
    ).agg(F.count("*").alias("_n"))
    tot = cells.agg(
        F.sum("_n").alias("_tot"),
        F.sum(
            F.when(F.col("_a").eqNullSafe(F.col("_b")), F.col("_n"))
        ).alias("_agree"),
    )
    ma = cells.groupBy(F.col("_a").alias("_k")).agg(
        F.sum("_n").alias("_ma")
    )
    mb = cells.groupBy(F.col("_b").alias("_k")).agg(
        F.sum("_n").alias("_mb")
    )
    # full-outer null-safe join: a category only one rater ever used
    # contributes 0 to p_e (its other marginal is 0)
    pe_sum = (
        ma.join(mb, ma["_k"].eqNullSafe(mb["_k"]), "full_outer")
        .select(
            (
                F.coalesce(ma["_ma"], F.lit(0)).cast("double")
                * F.coalesce(mb["_mb"], F.lit(0)).cast("double")
            ).alias("_prod")
        )
        .agg(F.sum("_prod").alias("_pe_num"))
    )
    po = F.coalesce(F.col("_agree"), F.lit(0)) / F.col("_tot")
    pe = F.col("_pe_num") / (F.col("_tot") * F.col("_tot"))
    return (
        tot.crossJoin(F.broadcast(pe_sum))
        .filter(F.col("_tot") > 0)
        .select(
            F.col("_tot").alias("n_rows"),
            F.round(po, 6).alias("po"),
            F.round(pe, 6).alias("pe"),
            F.round(
                F.when(pe < 1.0, (po - pe) / (1.0 - pe)), 6
            ).alias("kappa"),
        )
    )
