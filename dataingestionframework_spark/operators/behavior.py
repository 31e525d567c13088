"""Event-sequence behavioral analytics: ordered funnels and cohort
retention — the two classic event-table rollups every product/ops
pipeline runs next to sessionization.

Reference parity: the reference's event surface stops at ingesting the
events table (``modules/auto_loader_steps.py`` streams it into Delta);
these are the standard downstream queries its users run on Databricks
SQL, re-expressed as engine operators so they gate like everything
else.

Both operators are pure joins/aggregations keyed on ``user_id`` — the
per-step funnel joins reuse one hash partitioning, and cohort math is
two aggregates — so cost is linear in events at any scale; no windows
over the full table, no Python.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import is_finite
from ..session import pinned


def funnel_conversions(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """ORDERED funnel: how many users performed step₁, then step₂
    STRICTLY AFTER their first step₁, then step₃ strictly after that
    earliest valid step₂, … (the standard first-touch funnel — each
    stage anchors at the earliest event that continues the sequence,
    which maximizes downstream conversions, so counts are the true
    ordered maximum, not an arbitrary-path sample).

    Plan: one filtered min-aggregate per step, each joined to the
    previous step's anchor times — L small hash joins all keyed on the
    user, reusing one partitioning; no per-user event sorting, no
    window over the raw table. The per-step anchor frames are
    pinned (they feed the next step), then ALL step counts are
    collected in ONE union-aggregate job — not L driver actions — and
    the pins are released before returning.

    Output: (step_idx, step_name, n_users), step_idx 1-based.
    """
    if not steps:
        raise ValueError("funnel_conversions needs at least one step")
    from functools import reduce

    spark = events.sparkSession
    anchors: DataFrame | None = None
    step_users: list[DataFrame] = []
    with ExitStack() as pins:
        for i, step in enumerate(steps):
            ev = events.filter(F.col(type_col) == step).select(
                F.col(user_col).alias("_u"), F.col(ts_col).alias("_ts")
            )
            if anchors is None:
                anchors = ev.groupBy("_u").agg(F.min("_ts").alias("_anchor"))
            else:
                anchors = (
                    ev.join(anchors, "_u")
                    .filter(F.col("_ts") > F.col("_anchor"))
                    .groupBy("_u")
                    .agg(F.min("_ts").alias("_anchor"))
                )
            anchors = pins.enter_context(pinned(anchors))  # L tiny user-level frames
            step_users.append(anchors.select(F.lit(i + 1).alias("step_idx")))
        union = reduce(DataFrame.unionByName, step_users)
        got = {
            int(r["step_idx"]): int(r["n"])
            for r in union.groupBy("step_idx")
            .agg(F.count("*").alias("n"))
            .collect()
        }
    counts = [(i + 1, s, got.get(i + 1, 0)) for i, s in enumerate(steps)]
    return spark.createDataFrame(
        counts, "step_idx int, step_name string, n_users long"
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "day",
    max_offset: int | None = None,
) -> DataFrame:
    """Cohort retention triangle: users are cohorted by their FIRST
    activity period (day or week); each later active period counts
    them at its offset from the cohort period — the classic retention
    matrix (cohort × offset → distinct active users).

    Two aggregates and one join on the user key (first-seen per user,
    then cohort×offset distinct count) — never the naive event-log
    self-join, which is quadratic-prone at 100 TB. Integers and
    dates/timestamps end to end, engine-exact.

    Output: daily → (cohort_day date, day_offset int, n_active long);
    weekly → (cohort_wk timestamp, week_offset int, n_active long).
    """
    if granularity == "day":
        period = F.to_date(ts_col)
        cohort_name, offset_name = "cohort_day", "day_offset"
    elif granularity == "week":
        period = F.date_trunc("week", F.col(ts_col))
        cohort_name, offset_name = "cohort_wk", "week_offset"
    else:
        raise ValueError(f"granularity must be day|week, got {granularity!r}")
    ev = events.select(F.col(user_col).alias("_u"), period.alias("_p"))
    first = ev.groupBy("_u").agg(F.min("_p").alias(cohort_name))
    joined = ev.join(first, "_u")
    if granularity == "day":
        offset = F.datediff("_p", cohort_name)
    else:
        # date-based, not timestamp-seconds/604800: date_trunc('week')
        # boundaries are 7d±1h apart across DST transitions, and
        # floor((7d-1h)/7d) = 0 would assign activity to the wrong
        # week. datediff on dates is calendar-exact in any timezone.
        offset = F.floor(
            F.datediff(F.to_date("_p"), F.to_date(cohort_name)) / 7
        ).cast("int")
    out = (
        joined.withColumn(offset_name, offset)
        .groupBy(cohort_name, offset_name)
        .agg(F.count_distinct("_u").alias("n_active"))
    )
    if max_offset is not None:
        out = out.filter(F.col(offset_name) <= max_offset)
    return out


def cooccurrence_lift(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_size: int | None = 1000,
    top_n: int = 50,
) -> DataFrame:
    """Pairwise co-occurrence mining with lift (the market-basket /
    item-affinity primitive behind "also bought", template detection
    across document sources, and co-click mining): items sharing a
    basket form candidate pairs; ``lift = P(a,b) / (P(a)·P(b))`` > 1
    means the pair co-occurs more than independence predicts.

    Plan, 100 TB-shaped: distinct (basket, item) once, a SELF
    EQUI-JOIN on the basket key with ``item_a < item_b`` (banded-join
    shape — never all-pairs across baskets), a hash aggregate on the
    pair, then shuffle-joins against the per-item totals (vocabulary-
    sized — NOT broadcast; only the 1-row basket count is, the
    plan-audit-sanctioned scalar pattern). The quadratic term
    is per-basket: ``max_basket_size`` drops pathological hot baskets
    (a basket with 1M items contributes 5·10¹¹ pairs — the same
    hot-bucket cap as LSH banding; dropped baskets are a documented
    recall trade, count them via the returned plan if needed).

    Output: top-``top_n`` pairs by (n_ab desc, item_a, item_b) —
    (item_a, item_b, n_ab, n_a, n_b, lift 6dp).
    """
    items = baskets.select(
        F.col(basket_col).alias("_bk"), F.col(item_col).alias("_it")
    ).distinct()
    if max_basket_size is not None:
        sizes = items.groupBy("_bk").agg(F.count("*").alias("_sz"))
        items = (
            items.join(sizes, "_bk")
            .filter(F.col("_sz") <= max_basket_size)
            .drop("_sz")
        )
    # `items` fans out to FOUR consumers (both self-join sides, the
    # per-item totals, the basket count) — materialize the distinct +
    # basket-cap subtree once instead of recomputing it per consumer
    # (same precedent as srp_band_rows; blocks reclaimed by the
    # periodic-GC cleaner — SPARK_GRAFT_PERIODIC_GC, default 3min —
    # once the frame leaves scope).
    items = items.localCheckpoint()
    n_baskets = items.agg(
        F.count_distinct("_bk").alias("_n_baskets")
    )
    totals = items.groupBy(F.col("_it").alias("_t_it")).agg(
        F.count("*").alias("_n_one")
    )
    a = items.select("_bk", F.col("_it").alias("item_a"))
    b = items.select("_bk", F.col("_it").alias("item_b"))
    pairs = (
        a.join(b, "_bk")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
    )
    # per-item totals are VOCABULARY-sized (could be billions of
    # items at 100 TB) — shuffle-join them on the item key; only the
    # 1-row basket count is broadcast
    out = (
        pairs.join(
            totals.withColumnRenamed("_n_one", "n_a"),
            F.col("item_a") == F.col("_t_it"),
        )
        .drop("_t_it")
        .join(
            totals.withColumnRenamed("_n_one", "n_b"),
            F.col("item_b") == F.col("_t_it"),
        )
        .drop("_t_it")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab") * F.col("_n_baskets")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), "item_a", "item_b")
        .limit(top_n)
    )
    return out


def attribution_last_touch(
    events: DataFrame,
    touch_types: list[str],
    conversion_type: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    window_hours: int | None = None,
) -> DataFrame:
    """Last-touch conversion attribution — the standard credit
    assignment between funnels and uplift models: every conversion
    event credits its value to the user's MOST RECENT preceding touch
    event of an eligible type (strictly earlier; optionally within a
    lookback window).

    Plan: an AS-OF-join shape without a dedicated operator — touches
    and conversions both shuffle once on the user key, a per-user sort
    ranks each (conversion, candidate-touch) pair and row_number picks
    the latest. Candidate pairs per user are |touches|·|conversions|
    WITHIN that user only (bounded by per-user activity, never
    corpus²); ties on touch time break by touch event id (newest id
    wins — deterministic on both engines). Conversions with NO
    eligible touch are attributed to the NULL channel (the 'direct'
    bucket every attribution report needs).

    Output: one row per channel — (channel, n_conversions,
    credited_value 2dp), channel NULL = unattributed.
    """
    from pyspark.sql import Window

    # NULL-ts touches are never "strictly earlier" than anything, so
    # drop them here — then `_tts IS NULL` below can ONLY mean an
    # unmatched left-join row (user with zero eligible touches), and a
    # user whose only touches carry NULL timestamps lands in the NULL
    # channel exactly like the oracle's inner join does.
    t = events.filter(
        F.col(type_col).isin(list(touch_types)) & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_tts"),
        F.col(type_col).alias("channel"),
        F.col("event_id").alias("_tid"),
    )
    c = events.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_cts"),
        F.col("event_id").alias("_cid"),
        F.col(value_col).alias("_val"),
    )
    cond = F.col("_tts") < F.col("_cts")
    if window_hours is not None:
        cond = cond & (
            F.col("_tts")
            >= F.col("_cts") - F.expr(f"INTERVAL {int(window_hours)} HOURS")
        )
    paired = c.join(t, "_u", "left").filter(cond | F.col("_tts").isNull())
    w = Window.partitionBy("_u", "_cid").orderBy(
        F.col("_tts").desc_nulls_last(), F.col("_tid").desc_nulls_last()
    )
    picked = (
        paired.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    # conversions whose ONLY join partners were filtered out (user has
    # touches, none eligible) must still appear: re-anchor on the
    # conversion set with a left join back
    base = c.select("_u", "_cid", "_val")
    attr = base.join(
        picked.select("_cid", "channel"), "_cid", "left"
    )
    return attr.groupBy("channel").agg(
        F.count("*").alias("n_conversions"),
        F.round(
            F.coalesce(
                F.sum(F.when(is_finite(F.col("_val")), F.col("_val"))),
                F.lit(0.0),
            ),
            2,
        ).alias("credited_value"),
    )
