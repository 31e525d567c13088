"""Layout-level scale levers: salted joins, bucketed shuffle-free joins."""

import pytest
from pyspark.sql import functions as F


def test_salted_join_matches_plain_join(spark):
    from dataingestionframework_spark.operators.joins import salted_join

    left = spark.range(0, 5000).selectExpr("id % 3 AS k", "id AS v")  # 3 hot keys
    right = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c"), (9, "z")], "k long, name string")
    plain = (
        left.join(right, "k")
        .groupBy("k", "name")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    )
    salted = (
        salted_join(left, right, "k", salt=4)
        .groupBy("k", "name")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    from dataingestionframework_spark.operators.joins import salted_join

    left = spark.createDataFrame([(1, "x"), (7, "y")], "k long, v string")
    right = spark.createDataFrame([(1, "r1")], "k long, r string")
    out = {(r.k, r.r) for r in salted_join(left, right, "k", how="left", salt=3).collect()}
    assert out == {(1, "r1"), (7, None)}


@pytest.fixture()
def warehouse(spark, tmp_root):
    # isolate catalog tables per test run
    names = []
    yield names
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_bucketed_join_elides_shuffle(spark, warehouse):
    from dataingestionframework_spark.operators.bucketing import bucketed_join, write_bucketed

    a = spark.range(0, 10000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 10000).selectExpr("id AS k", "id * 3 AS vb")
    write_bucketed(a, "bkt_a", "k", n_buckets=8)
    write_bucketed(b, "bkt_b", "k", n_buckets=8)
    warehouse += ["bkt_a", "bkt_b"]

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        joined = bucketed_join(spark, "bkt_a", "bkt_b", "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_forget_keeps_the_live_bucket_spec(spark, tmp_path):
    """replace_bucketed_table rewrites under the spec the live table
    has: a forget on a 4-bucket index, given no bucket count, leaves it
    4-bucketed and sorted by its bucket column."""
    from dataingestionframework_spark.ingest.corpus import forget_documents
    from dataingestionframework_spark.operators.bucketing import (
        bucket_spec,
        drop_table_and_location,
        write_bucketed,
    )

    sink = str(tmp_path / "sink")
    idx = "dif_test_forget_spec_idx"
    rows = spark.range(20).selectExpr(
        "id AS doc_id", "CAST(id % 4 AS STRING) AS bucket_key"
    )
    rows.write.parquet(sink)
    drop_table_and_location(spark, idx)
    try:
        write_bucketed(rows, idx, "bucket_key", 4, ["bucket_key"])
        removed = forget_documents(spark, [7], sink, index_table=idx)
        assert removed["index"] == 1
        n_buckets = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {idx}")
            .filter("col_name = 'Num Buckets'")
            .first()[1]
        )
        assert n_buckets == "4"
        assert bucket_spec(spark, idx) == (["bucket_key"], 4, ["bucket_key"])
    finally:
        drop_table_and_location(spark, idx)


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-join handling, proven at test scale by lowering the
    skew thresholds: one pathological key (100k rows vs ~10 per other
    key) makes AQE mark the sort-merge join 'skew=true' and split the
    hot partition — the runtime lever that saves skewed joins at 100 TB
    without manual salting."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 110_000).selectExpr(
            "CASE WHEN id < 100000 THEN 7 ELSE id % 1000 END AS k", "id AS v"
        )
        right = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS w")
        # global agg downstream (NOT grouped on the join key): a grouped
        # agg on k would re-require hash partitioning, and AQE then
        # skips the skew split unless forceOptimizeSkewedJoin is set.
        # v must survive the join — a hot partition of identical keys
        # alone compresses below any skew threshold.
        joined = left.join(right, "k").agg(F.sum(F.col("v") + F.col("w")).alias("s"))
        joined.collect()  # AQE final plan materializes on execution
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_plan_audit_all_queries_clean(spark):
    """Scale-hygiene gate: no query's physical plan may contain a
    cartesian product, a non-allowed nested-loop join, a row-at-a-time
    Python UDF, or an unbounded global sort. (Same audit as
    tools/plan_audit.py, over the fast sf0.001 data.)"""
    import importlib

    audit = importlib.import_module("tools.plan_audit")
    from dataingestionframework_spark.plans.queries import QUERIES

    flagged = {}
    for name, fn in QUERIES.items():
        plan = fn(spark, "/root/testdata/sf0.001")._jdf.queryExecution().executedPlan().toString()
        problems = audit.audit_one(name, plan)
        if problems:
            flagged[name] = problems
    assert not flagged, flagged


def test_zorder_sort_balances_pruning_across_columns(spark, tmp_root):
    """Files written in Z-order cover small ranges of BOTH cluster
    columns; a lexicographic sort only localizes the leading one."""
    import os

    from dataingestionframework_spark.operators.bucketing import zorder_sort

    n = 1 << 14
    df = spark.range(0, n).select(
        F.col("id").alias("x"),
        ((F.col("id") * 2654435761) % n).alias("y"),  # independent uniform dim
    )

    def mean_span(out_dir):
        per_file = (
            spark.read.parquet(out_dir)
            .groupBy(F.input_file_name())
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .agg(F.avg("sx").alias("mx"), F.avg("sy").alias("my"))
            .first()
        )
        return per_file.mx / n, per_file.my / n

    z_dir = os.path.join(tmp_root, "zorder")
    zorder_sort(df, ["x", "y"], bits=4, partitions=16).write.parquet(z_dir)
    zx, zy = mean_span(z_dir)

    lex_dir = os.path.join(tmp_root, "lex")
    (
        df.repartitionByRange(16, "x", "y")
        .sortWithinPartitions("x", "y")
        .write.parquet(lex_dir)
    )
    lx, ly = mean_span(lex_dir)

    # lexicographic: x tightly localized, y spans ~everything
    assert lx < 0.15 and ly > 0.8
    # z-order: BOTH dimensions localized well below the global span
    assert zx < 0.6 and zy < 0.6


def test_salted_join_spreads_hot_key_across_tasks(spark):
    """NOTES gap: demonstrate the salting win on pathological skew.
    One key owns 95% of rows; after salting, no single shuffle task
    holds more than ~1/salt of the hot key (unsalted: one task owns
    it all)."""
    from dataingestionframework_spark.operators.joins import salted_join

    hot = spark.range(0, 20000).selectExpr("0 AS k", "id AS v")
    cold = spark.range(0, 1000).selectExpr("1 + (id % 50) AS k", "id AS v")
    left = hot.union(cold)
    right = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(51)], "k long, name string"
    )

    def hot_key_layout(joined):
        """(max rows in any task, #tasks holding hot-key rows)."""
        sizes = (
            joined.filter(F.col("k") == 0)
            .groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        )
        return max(r["count"] for r in sizes), len(sizes)

    # pin off the optimizations that hide partition layout at toy size
    # (broadcast avoids the shuffle entirely; AQE re-merges the small
    # post-shuffle partitions) — at 100 TB the dim may exceed broadcast
    # size and a single hot partition exceeds what AQE can split when
    # one KEY is hot (split granularity is the map output, not the key)
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        salt = 8
        plain_max, plain_tasks = hot_key_layout(left.join(right, "k"))
        salted_max, salted_tasks = hot_key_layout(
            salted_join(left, right, "k", salt=salt)
        )
    finally:
        for k, v in conf.items():
            spark.conf.set(k, v)
    # unsalted: ALL hot-key rows in exactly one task
    assert plain_tasks == 1 and plain_max == 20000
    # salted: hot key spread over multiple tasks, none holding more
    # than half the key (salt buckets may co-hash into a partition,
    # so the spread is >= salt/2 tasks, not exactly salt)
    assert salted_tasks >= salt // 2
    assert salted_max <= 20000 / 2


def test_join_hints_steer_physical_strategy(spark):
    """Optimizer control: join hints override Catalyst's size-based
    choice — the lever for forcing a shuffle-hash join when one side is
    known-small-per-key but over the broadcast threshold, or a
    broadcast when statistics lie. Results are identical either way."""
    left = spark.range(0, 2000).selectExpr("id AS k", "id * 2 AS v")
    right = spark.range(0, 2000).selectExpr("id AS k", "id * 3 AS w")

    def physical(df):
        return df._jdf.queryExecution().executedPlan().toString()

    merged = left.join(right.hint("merge"), "k")
    assert "SortMergeJoin" in physical(merged)
    hashed = left.join(right.hint("shuffle_hash"), "k")
    assert "ShuffledHashJoin" in physical(hashed)
    bcast = left.join(F.broadcast(right), "k")
    assert "BroadcastHashJoin" in physical(bcast)

    rows = {(r.k, r.v, r.w) for r in hashed.collect()}
    assert rows == {(r.k, r.v, r.w) for r in merged.collect()}
    assert len(rows) == 2000


def test_analyze_stats_feed_cbo(spark, tmp_root):
    """SURVEY §4: table/column statistics (ANALYZE TABLE) reach the
    cost-based optimizer — rowCount/NDV/min/max are recorded and the
    optimized plan carries the exact row count. At scale this is what
    lets Catalyst pick broadcast sides and reorder joins from data, not
    guesses."""
    import os

    spark.range(10000).selectExpr("id", "id % 100 AS k").write.option(
        "path", os.path.join(tmp_root, "cbo_t1")
    ).saveAsTable("cbo_t1")
    prev = spark.conf.get("spark.sql.cbo.enabled")
    try:
        spark.sql("ANALYZE TABLE cbo_t1 COMPUTE STATISTICS FOR ALL COLUMNS")
        stats_row = [
            r
            for r in spark.sql("DESCRIBE EXTENDED cbo_t1").collect()
            if r.col_name == "Statistics"
        ]
        assert stats_row and "10000 rows" in stats_row[0].data_type
        col = {
            r.info_name: r.info_value
            for r in spark.sql("DESCRIBE EXTENDED cbo_t1 k").collect()
        }
        assert col["min"] == "0" and col["max"] == "99"
        assert col["num_nulls"] == "0"
        # NDV is a sketch estimate; 100 true distincts within 10%
        assert abs(int(col["distinct_count"]) - 100) <= 10
        spark.conf.set("spark.sql.cbo.enabled", "true")
        st = spark.table("cbo_t1")._jdf.queryExecution().optimizedPlan().stats()
        assert "10000" in st.rowCount().toString()
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)
        spark.sql("DROP TABLE IF EXISTS cbo_t1")


def test_parquet_bloom_filter_written_for_high_ndv_column(spark, tmp_root):
    """Parquet bloom filters (point-lookup row-group skipping on high-
    cardinality columns — the id-lookup path at 100 TB). parquet-mr
    only materializes the bloom when the column escapes full dictionary
    encoding, so the fixture uses 100k distinct md5 strings; presence
    is asserted via the on-disk footprint delta and the lookup path is
    verified for correctness."""
    import os

    def write(path, with_bloom):
        w = (
            spark.range(100000)
            .selectExpr("id", "md5(cast(id as string)) AS k")
            .coalesce(1)
            .write
        )
        if with_bloom:
            w = w.option("parquet.bloom.filter.enabled#k", "true").option(
                "parquet.bloom.filter.expected.ndv#k", "100000"
            )
        w.parquet(path)
        f = [x for x in os.listdir(path) if x.endswith(".parquet")][0]
        return os.path.getsize(os.path.join(path, f))

    bf = write(os.path.join(tmp_root, "bf"), True)
    nobf = write(os.path.join(tmp_root, "nobf"), False)
    assert bf - nobf > 50_000  # bloom bitsets are actually on disk
    import pyspark.sql.functions as F

    probe = spark.range(1).selectExpr("md5('7777') AS k").collect()[0].k
    got = (
        spark.read.parquet(os.path.join(tmp_root, "bf"))
        .filter(F.col("k") == probe)
        .collect()
    )
    assert [r.id for r in got] == [7777]


def test_parquet_aggregate_pushdown_to_footer_stats(spark, tmp_root):
    """Parquet aggregate pushdown (DSv2): COUNT/MIN/MAX answered from
    footer statistics — the scan node carries PushedAggregation and no
    row data flows. At 100 TB this turns full-table profiling queries
    into a metadata pass."""
    import os

    p = os.path.join(tmp_root, "aggpd")
    spark.range(100000).write.parquet(p)
    confs = {
        "spark.sql.sources.useV1SourceList": "",
        "spark.sql.parquet.aggregatePushdown": "true",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = spark.read.parquet(p).agg(
            F.count("*").alias("n"), F.min("id").alias("lo"), F.max("id").alias("hi")
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation: [COUNT(*), MIN(id), MAX(id)]" in plan, plan
        r = df.first()
        assert (r.n, r.lo, r.hi) == (100000, 0, 99999)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_join_probe_side(spark, tmp_root):
    """Runtime bloom-filter join (InjectRuntimeFilter): a selective
    filter on the dim side materializes a bloom filter that pre-prunes
    the fact scan (might_contain before the shuffle) — the
    shuffle-volume killer for selective star joins when the dim side
    is too big to broadcast. Thresholds lowered to trigger at test
    scale; results equal the unfiltered join."""
    import os

    fact_p = os.path.join(tmp_root, "bf_fact")
    dim_p = os.path.join(tmp_root, "bf_dim")
    spark.range(100000).write.parquet(fact_p)
    spark.range(50).withColumn("k", F.col("id") * 1000).write.parquet(dim_p)
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter(F.col("id") < 10)
        j = fact.join(dim, fact.id == dim.k)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan, plan
        got = sorted(r[0] for r in j.select(fact.id).collect())
        assert got == [i * 1000 for i in range(10)]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_static_and_dynamic_partition_pruning(spark, tmp_root):
    """Hive-style partition layout earns both pruning forms: a literal
    predicate prunes at PLAN time (PartitionFilters on the scan, only
    matching directories listed), and a join against a selectively
    filtered dim prunes at RUNTIME (dynamic partition pruning: the
    fact scan's partition filter is a subquery over the dim). At
    100 TB these are the difference between scanning one day and
    scanning the archive."""
    import os

    fact_p = os.path.join(tmp_root, "dpp_fact")
    (
        spark.range(20000)
        .withColumn("day", (F.col("id") % 20).cast("int"))
        .withColumn("v", F.col("id") * 2)
        .write.partitionBy("day")
        .parquet(fact_p)
    )
    fact = spark.read.parquet(fact_p)

    # static pruning: literal partition predicate reaches the scan
    q1 = fact.filter(F.col("day") == 3).agg(F.sum("v").alias("s"))
    plan1 = q1._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan1, plan1
    assert q1.first().s == sum(i * 2 for i in range(20000) if i % 20 == 3)

    # dynamic pruning: partition keys only known after filtering dim
    dim = spark.range(20).withColumn("day", F.col("id").cast("int")).filter(
        F.col("id") < 2
    )
    q2 = fact.join(dim.select("day"), "day").agg(F.count("*").alias("n"))
    plan2 = q2._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan2, plan2
    assert q2.first().n == 2000  # 2 of 20 partitions survive
