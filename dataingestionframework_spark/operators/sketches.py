"""Mergeable frequency sketches (count-min) with engine-portable
hashing.

Complements the cardinality sketches already in the gate (HLL via
``hll_sketch_agg``, exact bitmaps): a count-min sketch answers "how
often did key k occur?" from O(depth × width) counters with a one-sided
error bound — est ≥ true always, est ≤ true + εN with probability
1−(1/2)^depth for width = ⌈e/ε⌉. The sketch TABLE (seed, bucket, cnt)
is additively mergeable: sum cnt on (seed, bucket) merges shards, days,
or streams — the property that lets 100 TB of per-partition sketches
roll up without ever re-touching raw data.

Hashing is the repo's portable md5-prefix trick (15 hex chars → 60-bit
int, mod width), so a SQL engine can rebuild the identical sketch —
the gate's DuckDB twin does, making even the sketch's collisions
hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(key: Column, seed: int, width: int) -> Column:
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(str(seed)), key.cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(width))


def cms_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Count-min sketch of ``key_col`` occurrences as a (seed, bucket,
    cnt) table — ``depth × width`` rows max, independent of input size.
    One explode (depth rows per occurrence) + one groupBy; merge two
    sketches by unioning and re-summing cnt on (seed, bucket)."""
    k = F.col(key_col)
    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seed"),
                        _bucket(k, s, width).alias("bucket"),
                    )
                    for s in range(depth)
                ]
            )
        ).alias("p")
    )
    return rows.groupBy("p.seed", "p.bucket").agg(F.count("*").alias("cnt"))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with identical (depth, width): counters add."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("seed", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-frequency estimates for ``keys``: min over the key's depth
    counters (absent bucket = 0). Output (key_col, est_cnt);
    est_cnt ≥ true count always (one-sided error)."""
    k = F.col(key_col)
    probes = keys.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seed"),
                        _bucket(k, s, width).alias("bucket"),
                    )
                    for s in range(depth)
                ]
            )
        ).alias("p"),
    ).select(key_col, "p.seed", "p.bucket")
    joined = probes.join(sketch, ["seed", "bucket"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt")
    )


def cms_merge_into_store(
    batch_df: DataFrame,
    key_col: str,
    store_path: str,
    depth: int = 4,
    width: int = 1024,
    batch_id: int | None = None,
) -> None:
    """foreachBatch sink body: sketch the micro-batch and additively
    merge it into a persisted parquet sketch table. Each batch costs
    O(batch) + a ≤ depth×width-row merge — the raw stream is never
    re-touched, which is what makes a count-min rollup viable on an
    unbounded 100 TB stream. Merge order cannot matter (counter
    addition commutes), so AvailableNow drains and live triggers
    produce the identical store; the stream parity query proves the
    drained store equals the one-shot batch sketch.

    Pass the foreachBatch epoch id as ``batch_id`` so an at-least-once
    redelivery merges as a no-op (in-store epoch marker, see
    :func:`~dataingestionframework_spark.session.store_epoch`).
    """
    from ..session import commit_store, path_exists, store_epoch

    spark = batch_df.sparkSession
    # store_epoch also repairs any interrupted commit rotation, so the
    # existence probe below sees a consistent store
    last = store_epoch(spark, store_path)
    if batch_id is not None and batch_id <= last:
        return  # already-merged epoch redelivered
    sk = cms_build(batch_df, key_col, depth, width)
    # explicit existence probe, not try/except: a bare except would
    # also swallow a transient read failure while the store EXISTS and
    # overwrite all accumulated counters with this one micro-batch
    if path_exists(spark, store_path):
        sk = cms_merge(spark.read.parquet(store_path), sk)
    # stage-write + rename: data and epoch marker commit in ONE rename
    # (no pre-write localCheckpoint needed — the plan reads the live
    # store while the write lands in the staging dir)
    commit_store(sk, store_path, batch_id)
