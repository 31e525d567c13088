"""Join operators Spark lacks natively.

As-of join: for each left row, the most recent right row at-or-before
its timestamp, per key. Spark has no native ASOF JOIN (DuckDB/pandas
do); the scalable formulation is the union+window trick:

    tag both sides → union → window (key ORDER BY ts, right-first on
    ties) → last_value(right cols) ignoring nulls → keep left rows

One shuffle on the key, no range-explosion, no pandas. This beats both
the naive range-join (quadratic per key) and ``merge_asof`` inside
``applyInPandas`` (Python + full data through Arrow) at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Skew-safe equi-join: salt the (large, skewed) left side with a
    deterministic per-row salt, replicate the right side ``salt`` ways,
    join on (key, salt). A single hot key spreads over ``salt`` tasks.

    AQE's skew-join split (on by default here) handles most skew at
    runtime; explicit salting is for the pathological single-key case
    AQE can't split further, or for deterministic layout control.
    Deterministic salt (hash of all left columns) keeps retries stable.
    """
    salt_col = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    l = left.withColumn("_salt", salt_col.cast("int"))
    r = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return l.join(r, [on, "_salt"], how).drop("_salt")


def bloom_filter_words(
    keys: DataFrame, key_col: str, m_bits: int = 1 << 20, k: int = 5
) -> DataFrame:
    """Build a Bloom filter over ``keys[key_col]`` as a 1-row DataFrame
    holding a word-indexed bitmap map<long, long> (column ``_bloom``)
    plus its parameters — small enough to broadcast (m_bits/64 entries;
    the 2^20 default is 16 KiB of set words max).

    Hash family: position_i = xxhash64(key, i) mod m_bits for
    i < k — deterministic, engine-portable, no sampled seeds. Build is
    one explode (k rows per key), one groupBy on the word index
    (m_bits/64 distinct groups), one collect-to-map agg. Size m_bits
    for the build side's distinct-key count: FP rate ≈
    (1 - e^(-k·n/m))^k, so the default holds ~1e5 keys at < 1% FP;
    grow m_bits linearly with n (the map stays tiny relative to any
    table it prunes)."""
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits)
                    ).alias(f"p{i}")
                    for i in range(k)
                ]
            )
        ).alias("p")
    )
    words = pos.select(
        (F.col("p") / 64).cast("long").alias("w"),
        F.expr("shiftleft(1L, cast(p % 64 as int))").alias("bit"),
    )
    return (
        words.groupBy("w")
        .agg(F.bit_or("bit").alias("mask"))
        .agg(
            F.map_from_entries(F.collect_list(F.struct("w", "mask"))).alias(
                "_bloom"
            )
        )
    )


def bloom_anti_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """EXACT anti-join with a Bloom-filter pre-pass — the explicit,
    user-controlled form of Spark's runtime bloom pruning
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``), for when the
    optimizer can't inject it (non-join pipelines, foreachBatch, custom
    sinks) or the filter should be BUILT ONCE and reused across many
    probes.

    Result is exactly ``probe LEFT ANTI JOIN build ON probe.on =
    build.on``: rows the bloom proves absent (any of the k bits unset)
    pass through with NO shuffle at all — the bitmap rides a 1-row
    broadcast and the membership test is scan-side column arithmetic —
    and only "maybe present" rows (true matches + the small FP tail)
    reach the exact anti-join. At 100 TB this shrinks the anti-join
    shuffle from |probe| to |matches|·(1+fp); the probe relation is
    referenced by both branches (two scans of the same pruned columns —
    cheap next to the shuffle it removes; pin upstream if the probe
    is itself expensive to recompute).

    NULL probe keys never equal anything, so both branches keep them —
    anti-join (NOT EXISTS) semantics, not NOT IN."""
    bloom = bloom_filter_words(build.select(on), on, m_bits, k)
    probed = probe.crossJoin(F.broadcast(bloom))
    maybe = None
    for i in range(k):
        p = F.pmod(F.xxhash64(F.col(on), F.lit(i)), F.lit(m_bits))
        word = F.coalesce(
            F.element_at(F.col("_bloom"), (p / 64).cast("long")), F.lit(0)
        )
        hit = word.bitwiseAND(
            F.expr(f"shiftleft(1L, cast(pmod(xxhash64({on}, {i}), {m_bits}) % 64 as int))")
        ) != 0
        maybe = hit if maybe is None else (maybe & hit)
    definite_absent = probed.filter(~maybe).drop("_bloom")
    maybe_present = (
        probed.filter(maybe)
        .drop("_bloom")
        .join(build.select(on).distinct(), on, "left_anti")
    )
    return definite_absent.unionByName(maybe_present)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
    tolerance_seconds: float | None = None,
    suffix: str = "_right",
    direction: str = "backward",
) -> DataFrame:
    """For every left row, columns of the matching right row on the
    same key (NULLs if none):

    - ``backward`` (default): latest right with ``right.ts <= left.ts``
    - ``forward``: earliest right with ``right.ts >= left.ts``
    - ``nearest``: whichever of the two is closer (ties -> backward,
      pandas ``merge_asof`` convention)

    ``tolerance_seconds`` drops matches farther than the tolerance in
    the match direction. Union + per-key window (no range join, no
    per-row subquery): one shuffle on the key, linear in rows — the
    100 TB shape for sensor/trade alignment.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"asof_join: unknown direction {direction!r}")
    right_cols = right_cols or [c for c in right.columns if c not in (on, right_ts)]

    l = left.withColumn("_side", F.lit(1)).withColumn("_ts", F.col(left_ts))
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c) for c in right_cols],
    ).withColumn("_rts", F.col("_ts"))

    lcols = left.columns
    unioned = l.select(
        *[F.col(c) for c in lcols],
        "_side",
        "_ts",
        F.lit(None).cast("timestamp").alias("_rts"),
        *[F.lit(None).cast(dict(r.dtypes)[c]).alias(f"_r_{c}") for c in right_cols],
    ).unionByName(
        r.select(
            *[
                F.col(on) if c == on else F.lit(None).cast(dict(l.dtypes).get(c, "string")).alias(c)
                for c in lcols
            ],
            "_side",
            "_ts",
            "_rts",
            *[F.col(c).alias(f"_r_{c}") for c in right_cols],
        )
    )

    # right rows sort before left rows at the same instant (asof is
    # inclusive in both directions)
    wb = (
        Window.partitionBy(on)
        .orderBy(F.col("_ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(on)
        .orderBy(F.col("_ts").desc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want_b = direction in ("backward", "nearest")
    want_f = direction in ("forward", "nearest")
    proj = [*[F.col(c) for c in lcols], "_side", "_ts"]
    if want_b:
        proj.append(F.last("_rts", ignorenulls=True).over(wb).alias("_bts"))
        proj += [
            F.last(f"_r_{c}", ignorenulls=True).over(wb).alias(f"_b_{c}")
            for c in right_cols
        ]
    if want_f:
        proj.append(F.last("_rts", ignorenulls=True).over(wf).alias("_fts"))
        proj += [
            F.last(f"_r_{c}", ignorenulls=True).over(wf).alias(f"_f_{c}")
            for c in right_cols
        ]
    filled = unioned.select(*proj).filter(F.col("_side") == 1)

    sec = lambda c: F.col(c).cast("timestamp").cast("double")  # noqa: E731
    if direction == "backward":
        pick_b = F.lit(True)
    elif direction == "forward":
        pick_b = F.lit(False)
    else:
        db = sec("_ts") - sec("_bts")
        df_ = sec("_fts") - sec("_ts")
        pick_b = F.col("_bts").isNotNull() & (
            F.col("_fts").isNull() | (db <= df_)
        )
    mts = F.when(pick_b, F.col("_bts") if want_b else F.lit(None)).otherwise(
        F.col("_fts") if want_f else F.lit(None)
    )
    out_cols = [*[F.col(c) for c in lcols], mts.alias("_match_ts")]
    for c in right_cols:
        bcol = F.col(f"_b_{c}") if want_b else F.lit(None)
        fcol = F.col(f"_f_{c}") if want_f else F.lit(None)
        out_cols.append(F.when(pick_b, bcol).otherwise(fcol).alias(f"{c}{suffix}"))
    out = filled.select(*out_cols, F.col("_ts"))
    if tolerance_seconds is not None:
        delta = F.abs(sec("_ts") - sec("_match_ts"))
        in_tol = delta <= tolerance_seconds
        out = out.select(
            *[F.col(c) for c in lcols],
            F.when(in_tol, F.col("_match_ts")).alias("_match_ts"),
            *[
                F.when(in_tol, F.col(f"{c}{suffix}")).alias(f"{c}{suffix}")
                for c in right_cols
            ],
        )
    return out.withColumnRenamed("_match_ts", f"{right_ts}{suffix}").drop("_side", "_ts")
