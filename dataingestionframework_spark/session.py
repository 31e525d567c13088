"""SparkSession construction and per-session tuning.

The reference configures its session implicitly via Databricks
(``notebooks/Data Ingestion Helper.py:43`` sets only the timezone).
We centralize session creation so every entry point — tests, bench,
driver contract — gets the same scale-aware defaults:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- shuffle partitions sized to the local core count (not the 200 default)
- UTC session timezone (oracle comparability; production: explicit TZ)
- Arrow enabled for the Pandas-UDF fast path
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Runtime-settable confs we also re-assert on sessions we did not create
# (the verify driver builds its own SparkSession).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "dataingestionframework_spark",
              cores: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the process-wide SparkSession with scale-aware defaults."""
    n = cores or default_parallelism()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # localCheckpoint blocks and shuffle files are reclaimed only
        # when ContextCleaner observes a driver GC; the 30 min default
        # exceeds any bench/test session, so block-manager state
        # accumulates across hundreds of queries and late queries
        # degrade 2-10x (NOTES.md round 8). A few minutes keeps session
        # state flat without paying a forced full-GC pause every 60 s —
        # session hygiene belongs here, not in a System.gc() loop
        # inside the benchmark harness. Env-overridable for A/B runs.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "3min"),
        )
        # Driver-metadata hygiene (guide §5: the driver should do almost
        # no data work — and should not HOLD data-sized metadata either).
        # Even with the UI disabled, AppStatusListener/SQLAppStatusListener
        # retain per-execution state for the status API; the defaults keep
        # 1000 SQL executions including their full physical-plan strings
        # (several MB each for the wide-aggregate plans here). Across a
        # few thousand query executions that pins hundreds of MB in the
        # old generation: measured on the round-10 baseline bench, the 8g
        # driver heap hit 99.9% old-gen occupancy mid-run with 24 s of GC
        # in one 5-minute window. Bounding retention keeps the heap flat;
        # these are the same bounds a long-lived production driver needs.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # release_checkpoint frees checkpoints on purpose; Spark WARNs on each
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.MapPartitionsRDD", jvm.org.apache.logging.log4j.Level.ERROR
    )
    return spark


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Re-assert runtime-settable confs on an externally-created session.

    The correctness driver constructs its own SparkSession; timezone and
    AQE settings are runtime-mutable, so every public query entry calls
    this first to guarantee oracle-comparable semantics.
    """
    if shuffle_partitions is None:
        shuffle_partitions = default_parallelism()
    confs = {**RUNTIME_CONFS, "spark.sql.shuffle.partitions": str(shuffle_partitions)}
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:
            # a conf that is static on this build keeps its startup value;
            # any other failure is a real one
            if e.getCondition() != "CANNOT_MODIFY_STATIC_CONFIG":
                raise
    return spark


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def use_rocksdb_state(spark: SparkSession, changelog: bool = True) -> SparkSession:
    """Switch stateful streaming to the RocksDB state store.

    The default HDFSBacked provider keeps every state row on the JVM
    heap — fine for demo state, fatal when stream-stream joins or
    dedup-within-watermark accumulate tens of GB per executor. RocksDB
    spills to local SSD and (with changelog checkpointing) uploads only
    per-batch deltas instead of full snapshots, so state size is bounded
    by disk, not heap. Runtime-settable; takes effect for queries
    STARTED after the call (running queries keep their provider).
    """
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true" if changelog else "false",
    )
    return spark


@contextmanager
def pinned(df):
    """Materialize ``df`` once (an eager ``localCheckpoint``), yield the
    pinned frame, and free its blocks when the block exits — normally
    or by an exception.

    The one way to share an intermediate between several reads inside
    one function or foreachBatch handler. Eager, not a lazy
    ``persist``: a cached relation puts its own nested AQE plan and
    query stage under every reference in the consumer's plan, and its
    fill job lands wherever the first reader happens to run. Only
    frames built from the yielded pin read it, and everything read
    from it must be materialized (collected, written, or itself
    checkpointed) before the block exits: lineage is truncated, so a
    lazy plan that still reads the pin fails once it is released. A
    pin that a returned lazy plan reads stays a plain
    ``localCheckpoint()``.
    """
    pin = df.localCheckpoint()
    try:
        yield pin
    finally:
        release_checkpoint(pin)


def release_checkpoint(df) -> bool:
    """Free the block-manager storage behind a ``localCheckpoint``-ed
    DataFrame NOW.

    A localCheckpoint lives as RDD storage referenced by the plan's
    ``LogicalRDD`` node, reclaimed only when the driver GCs the RDD
    handle and ContextCleaner notices — under the 3-minute periodic GC
    that means superseded per-round images in iterative operators (BFS
    frontier loop, label propagation, pagerank, BPE training) pile up
    for the whole query. Unpersisting the backing RDD directly drops
    the blocks immediately. ONLY call on checkpoints nothing will read
    again: lineage is truncated, so a later read would fail rather than
    recompute. Callers outside the rolling loops use :func:`pinned`.
    Returns False (and frees nothing) when the plan is not a
    materialized LogicalRDD — safe on non-checkpointed frames — or on
    a ``Py4JError`` (JVM internals moved; GC reclaims); others propagate.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        plan.rdd().unpersist(False)
        return True
    except Py4JError:
        return False


def path_exists(spark: SparkSession, path: str) -> bool:
    """Explicit Hadoop FileSystem existence probe.

    The honest alternative to ``try: spark.read...  except Exception``
    around "surface may not exist yet" reads: a bare except also
    swallows transient failures (permission blip, eventual-consistency
    listing, corrupt footer) while the surface EXISTS, silently turning
    a should-retry error into first-run initialization — which for an
    accumulating store means discarding all prior state. Probing
    existence first lets every real read error propagate so the caller
    (a foreachBatch body, a maintenance job) fails and retries.
    """
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


# in-store marker files. "_"-prefixed names are invisible to Spark's
# parquet reader, pyarrow dataset discovery, and DuckDB's *.parquet
# glob, so they can live INSIDE the store directory — which is what
# lets one directory rename commit data and epoch together.
_EPOCH_NAME = "_epoch"
_COMMIT_MARK = "_GRAFT_COMMITTED"
_STAGING_SUFFIX = "__staging"
_BACKUP_SUFFIX = "__old"


def _norm_store(store_path: str) -> str:
    return store_path.rstrip("/")


def _fs(spark: SparkSession, path: str):
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(sc._jsc.hadoopConfiguration()), jpath


def _jpath(spark: SparkSession, path: str):
    return spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)


def _read_text_file(spark: SparkSession, path: str) -> str | None:
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return None
    sc = spark.sparkContext
    stream = fs.open(jpath)
    try:
        reader = sc._jvm.java.io.BufferedReader(
            sc._jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        line = reader.readLine()
    finally:
        stream.close()
    return line


def _write_text_file(spark: SparkSession, path: str, content: str) -> None:
    fs, jpath = _fs(spark, path)
    out = fs.create(jpath, True)  # overwrite
    try:
        out.write(bytearray(content, "utf-8"))
    finally:
        out.close()


def recover_store(spark: SparkSession, store_path: str) -> str:
    """Complete or roll back an interrupted :func:`commit_store`
    rotation. Idempotent; assumes a SINGLE writer (foreachBatch
    serializes batches within one query — the store contract).

    States (store / staging / backup) and outcomes:
    - store present → leftover staging/backup are debris from a crash
      after the commit point; delete them → ``"ok"``
    - store absent, staging complete (has the commit mark) → the crash
      hit between the two renames; promote staging → ``"promoted"``
    - store absent, backup present → the crash hit before staging was
      complete; restore backup → ``"rolled_back"``
    - nothing present → ``"absent"``
    """
    norm = _norm_store(store_path)
    fs, jstore = _fs(spark, norm)
    jstaging = _jpath(spark, norm + _STAGING_SUFFIX)
    jbackup = _jpath(spark, norm + _BACKUP_SUFFIX)
    if fs.exists(jstore):
        if fs.exists(jstaging):
            fs.delete(jstaging, True)
        if fs.exists(jbackup):
            fs.delete(jbackup, True)
        return "ok"
    if fs.exists(jstaging) and fs.exists(
        _jpath(spark, norm + _STAGING_SUFFIX + "/" + _COMMIT_MARK)
    ):
        if not fs.rename(jstaging, jstore):
            raise IOError(f"recover_store: rename {norm}__staging -> {norm} failed")
        if fs.exists(jbackup):
            fs.delete(jbackup, True)
        return "promoted"
    if fs.exists(jbackup):
        if fs.exists(jstaging):  # incomplete staging: discard
            fs.delete(jstaging, True)
        if not fs.rename(jbackup, jstore):
            raise IOError(f"recover_store: rename {norm}__old -> {norm} failed")
        return "rolled_back"
    return "absent"


def store_epoch(spark: SparkSession, store_path: str) -> int:
    """Last foreachBatch epoch merged into an accumulating parquet
    store (``-1`` if never recorded). Durable record: a tiny
    ``_epoch`` text file INSIDE the store directory (invisible to
    parquet readers), written by :func:`commit_store` in the same
    directory rename that commits the data — data and epoch cannot
    disagree. Read from disk on every call, so a dropped-and-recreated
    store can never inherit a stale epoch.

    foreachBatch is at-least-once: a failed/retried trigger redelivers
    the SAME epoch id, and ids are monotonically increasing within one
    checkpoint lineage — so "merge only if batch_id > store_epoch" is
    exactly the dedup the Structured Streaming guide prescribes for
    idempotent sinks. One store is therefore coupled to ONE checkpoint
    lineage; recreate the store through :func:`drop_store` (never a
    bare directory delete) when starting a fresh checkpoint.
    """
    norm = _norm_store(store_path)
    recover_store(spark, norm)  # finish any interrupted rotation first
    line = _read_text_file(spark, norm + "/" + _EPOCH_NAME)
    if line is None or not line.strip():
        return -1
    return int(line.strip())


def commit_store(df, store_path: str, batch_id: int | None = None) -> None:
    """Atomically replace a parquet store AND its epoch marker.

    Closes the round-9 crash window where the data overwrite and the
    epoch write were two non-atomic steps: the new image is written to
    ``<store>__staging`` (so the plan may still be READING the live
    store — no pre-write localCheckpoint needed), the epoch marker and
    a commit mark are added inside it, and the store is swapped in via
    directory renames (atomic on HDFS/POSIX; on object stores without
    atomic rename, pair this with the Delta ``txn`` sink instead —
    DEPLOY.md). A crash at any point leaves a state
    :func:`recover_store` repairs to exactly-once: either the old
    store+epoch or the new store+epoch, never a mix.

    ``batch_id=None`` (non-streaming rewrite) carries the current
    epoch forward so a maintenance rewrite can't reopen already-merged
    batches for redelivery.
    """
    spark = df.sparkSession
    norm = _norm_store(store_path)
    epoch = int(batch_id) if batch_id is not None else store_epoch(spark, norm)
    staging = norm + _STAGING_SUFFIX
    backup = norm + _BACKUP_SUFFIX
    fs, jstore = _fs(spark, norm)
    jstaging = _jpath(spark, staging)
    jbackup = _jpath(spark, backup)
    if fs.exists(jstaging):
        fs.delete(jstaging, True)
    df.write.mode("overwrite").parquet(staging)
    _write_text_file(spark, staging + "/" + _EPOCH_NAME, f"{epoch}\n")
    _write_text_file(spark, staging + "/" + _COMMIT_MARK, "1\n")
    # rotation: [store -> backup], staging -> store, drop backup. The
    # commit point is the staging->store rename.
    if fs.exists(jstore):
        if fs.exists(jbackup):
            fs.delete(jbackup, True)
        if not fs.rename(jstore, jbackup):
            raise IOError(f"commit_store: rename {norm} -> {backup} failed")
    if not fs.rename(jstaging, jstore):
        raise IOError(f"commit_store: rename {staging} -> {norm} failed")
    if fs.exists(jbackup):
        fs.delete(jbackup, True)


def drop_store(spark: SparkSession, store_path: str) -> None:
    """Drop a store together with its staging/backup rotation dirs.
    The required teardown when retiring a store or restarting its
    stream under a fresh checkpoint — a bare directory delete can leave
    a ``__old`` backup behind, which :func:`recover_store` would roll
    back into place with its stale epoch, and the recreated store would
    then silently skip every epoch <= that value."""
    norm = _norm_store(store_path)
    fs, _ = _fs(spark, norm)
    for p in (norm, norm + _STAGING_SUFFIX, norm + _BACKUP_SUFFIX):
        jp = _jpath(spark, p)
        if fs.exists(jp):
            fs.delete(jp, True)
