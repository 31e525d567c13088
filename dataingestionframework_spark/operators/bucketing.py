"""Bucketed tables: shuffle-free co-located joins.

The 100 TB lever the brief calls out: write both join sides bucketed by
the join key (``bucketBy`` + ``saveAsTable``), and Catalyst plans the
join without an Exchange on either side — the bucket layout IS the
shuffle, paid once at write time and amortized over every later join.

The reference never partitions or buckets anything (SURVEY §4); this is
the layout-management capability its 100 TB deployment would need.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# rotation names of replace_bucketed_table
_STAGED_SUFFIX = "__staged"
_OLD_SUFFIX = "__old"


def drop_table_and_location(spark: SparkSession, table_name: str) -> None:
    """DROP TABLE IF EXISTS *and* remove its default-warehouse
    directory. A fresh session's metastore does not know tables a
    previous session created, so DROP alone leaves the files behind and
    the next ``saveAsTable`` fails with LOCATION_ALREADY_EXISTS —
    anything that (re)creates a managed table at a well-known name
    should call this first.
    """
    import os
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for prefix in ("file://", "file:"):
        if wh.startswith(prefix):
            wh = wh[len(prefix):]
            break
    loc = os.path.join(wh, table_name.split(".")[-1].lower())
    shutil.rmtree(loc, ignore_errors=True)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str | list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a catalog table bucketed (and optionally
    sorted) by the join key (one column name or a list of them)."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def _rename_table(spark: SparkSession, src: str, dst: str) -> None:
    spark.sql(f"ALTER TABLE {src} RENAME TO {dst}")


def bucket_spec(
    spark: SparkSession, table_name: str
) -> tuple[list[str], int, list[str]]:
    """(bucket columns, bucket count, sort columns) of a live bucketed
    catalog table, from ``DESCRIBE TABLE EXTENDED`` — which prints them
    as ``'8'`` and ``'[`k`]'``."""
    info = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table_name}").collect()
    }

    def names(key: str) -> list[str]:
        inner = info.get(key, "[]").strip("[]")
        return [c.strip().strip("`") for c in inner.split(",") if c.strip()]

    return names("Bucket Columns"), int(info["Num Buckets"]), names("Sort Columns")


def recover_bucketed_table(spark: SparkSession, table_name: str) -> str:
    """Complete or roll back an interrupted :func:`replace_bucketed_table`
    — the catalog twin of :func:`~dataingestionframework_spark.session.
    recover_store`. Idempotent; assumes a single writer.

    States (table / ``__staged`` / ``__old``) and outcomes:
    - table present → leftover staged/old are debris from a crash
      before the first rename or after the commit point; drop them
      → ``"ok"``
    - table absent, staged present → the crash hit between the two
      renames (a catalog entry for staged exists only once its data is
      fully written); promote staged → ``"promoted"``
    - table absent, old present → restore old → ``"rolled_back"``
    - nothing present → ``"absent"``
    """
    staged, old = table_name + _STAGED_SUFFIX, table_name + _OLD_SUFFIX
    exists = spark.catalog.tableExists
    if exists(table_name):
        drop_table_and_location(spark, staged)
        drop_table_and_location(spark, old)
        return "ok"
    if exists(staged):
        _rename_table(spark, staged, table_name)
        drop_table_and_location(spark, old)
        return "promoted"
    if exists(old):
        _rename_table(spark, old, table_name)
        return "rolled_back"
    return "absent"


def replace_bucketed_table(
    spark: SparkSession, df: DataFrame, table_name: str
) -> None:
    """Replace the existing bucketed catalog table ``table_name`` with
    ``df``'s rows under the same bucket spec (read from the live table
    by :func:`bucket_spec`), so a crash at any step leaves one complete
    copy under SOME name and :func:`recover_bucketed_table` restores
    either the old or the new image, never a mix or nothing.

    ``df`` is written in full to ``<name>__staged`` first (it may
    still read the live table), then the names rotate: live →
    ``<name>__old``, staged → live; the second rename is the commit
    point, and the old copy is dropped last.
    """
    staged, old = table_name + _STAGED_SUFFIX, table_name + _OLD_SUFFIX
    bucket_cols, n_buckets, sort_cols = bucket_spec(spark, table_name)
    drop_table_and_location(spark, staged)
    drop_table_and_location(spark, old)
    write_bucketed(df, staged, bucket_cols, n_buckets, sort_cols)
    _rename_table(spark, table_name, old)
    _rename_table(spark, staged, table_name)
    drop_table_and_location(spark, old)
    spark.catalog.refreshTable(table_name)


def compact_bucketed_table(
    spark: SparkSession, table_name: str
) -> tuple[int, int]:
    """Compact a bucketed catalog table that has accreted small files —
    every append (e.g. each incremental-LSH batch, each IVF index
    refresh) adds one file per bucket per writer, and after thousands
    of batches the scan-side cost is file-open overhead, not bytes.

    Rewrites the full table once with the SAME bucket spec (one file
    per bucket afterwards) through :func:`replace_bucketed_table`, so
    bucket layout — and therefore every downstream shuffle-elision
    guarantee — is preserved, and a crash mid-compaction is repaired
    to the old or the compacted image by :func:`recover_bucketed_table`
    (which this runs first). Single-writer maintenance op: concurrent
    readers can briefly see the name resolve to nothing between the
    two renames (never to a half-written table).

    Returns (files_before, files_after).
    """
    import os

    def _count_files(name: str) -> int:
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {name}")
            .filter("col_name = 'Location'")
            .first()[1]
        )
        for prefix in ("file://", "file:"):
            if loc.startswith(prefix):
                loc = loc[len(prefix):]
                break
        return sum(
            1
            for root, _, fs in os.walk(loc)
            for f in fs
            if not f.startswith(("_", "."))
        )

    recover_bucketed_table(spark, table_name)
    before = _count_files(table_name)
    # Force the bucket-aligned scan: each task reads exactly one
    # bucket's files and writes them back as ONE file — a shuffle-free
    # compaction. Without this, autoBucketedScan reads plain byte
    # splits (nothing downstream "requires" the distribution — an
    # explicit repartition gets optimizer-elided because the table
    # metadata already claims it), every task holds many buckets, and
    # the rewrite EXPLODES the file count instead of shrinking it.
    conf_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "false")
    try:
        replace_bucketed_table(spark, spark.table(table_name), table_name)
    finally:
        spark.conf.set(conf_key, prev)
    return before, _count_files(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key.

    With matching bucket counts Catalyst elides both shuffle Exchanges
    (verify with ``.explain``: no ``Exchange hashpartitioning`` above
    the scans)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def with_zorder_key(
    df: DataFrame, cols: list[str], bits: int = 6, rel_err: float = 0.01
) -> DataFrame:
    """Add ``_zkey``: a Morton (Z-order) key interleaving the bits of
    per-column quantile-bucket ids — the multi-dimensional clustering
    key behind OPTIMIZE ZORDER, for the plain-parquet backend.

    Per column: ``approxQuantile`` yields 2^bits - 1 cut points (a tiny
    driver-side list — one GK-sketch pass, no shuffle), each row's
    bucket id is the count of cut points below its value (pure column
    arithmetic, scan-side), and the ids' bits are interleaved so files
    written in ``_zkey`` order cover small hyper-rectangles of the key
    space: parquet min/max stats then prune scans on EVERY clustered
    column, not just the leading one (a lexicographic sort only helps
    the first).

    Numeric/date columns only (quantile space); cast strings to a
    numeric surrogate (e.g. crc32) upstream if needed.
    """
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    n_bins = 1 << bits
    probs = [i / n_bins for i in range(1, n_bins)]
    num = df.select(
        *[F.col(c).cast("double").alias(c) for c in cols]
    )
    cuts = {
        c: bs
        for c, bs in zip(cols, num.stat.approxQuantile(cols, probs, rel_err))
    }

    def bucket(c: str) -> Column:
        b: Column = F.lit(0)
        prev = None
        for cut in cuts[c]:
            if prev is not None and cut == prev:
                continue  # collapsed quantiles on skewed data
            b = b + F.when(F.col(c).cast("double") > F.lit(cut), 1).otherwise(0)
            prev = cut
        return b

    z: Column = F.lit(0)
    for bit in range(bits):
        for ci, c in enumerate(cols):
            z = z + (
                F.shiftright(bucket(c).cast("bigint"), bit).bitwiseAND(F.lit(1))
                * F.lit(1 << (bit * len(cols) + ci))
            )
    return df.withColumn("_zkey", z.cast("bigint"))


def zorder_sort(
    df: DataFrame, cols: list[str], bits: int = 6, partitions: int | None = None
) -> DataFrame:
    """Cluster ``df`` for write: range-partition + sort by the Morton
    key from :func:`with_zorder_key`. Writing the result gives files
    that are disjoint Z-curve runs — balanced min/max pruning across
    all ``cols`` at any table size (the range exchange samples the
    key; no global sort bottleneck, no driver data)."""
    keyed = with_zorder_key(df, cols, bits)
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        keyed.repartitionByRange(n, "_zkey").sortWithinPartitions("_zkey").drop("_zkey")
    )
