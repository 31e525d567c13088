"""Reconciliation reporting — the daily log report as one aggregation.

Replaces the reference's 7-stage temp-view pipeline
(``notebooks/Autoloader_daily_log_report.sql``) with one
``groupBy(HeaderID)`` over one union of tagged rows: one header row per
spec, the specs' log rows, every source row and every target-table row.
Each report column aggregates its own kind of row:

- the per-config ``collect()`` + one-``spark.read.parquet().count()``-per-row
  N+1 driver loop (``:57-81``) becomes a ``sum`` over the tagged source
  and table rows, read through ``sources.batch.read_batch`` with the
  spec's declared schema, so CSV/JSON sources need no inference scan;
- the union+group-by pivot of per-phase timestamps (``:143-200``) becomes
  conditional aggregation (``max(when(LogEntryType='START', ts))``);
- PASS/FAIL/In-Progress flag semantics preserved verbatim (``:219-232``).

Building the report runs no Spark job on CSV/JSON sources (a parquet
source's footer-schema read is one); collecting it runs two, the
partial-aggregate map stage and one sorted result partition.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..catalog.system import SystemTables
from ..catalog.table import TableCatalog
from ..sources.batch import read_batch
from ..specs import IngestionSpec

PASS_FLAG = "PASS (Row count match)"          # notebooks/Autoloader_daily_log_report.sql:224
FAIL_FLAG = "FAIL (Row count mismatch)"
IN_PROGRESS_FLAG = "In Progress"

# the union's columns; each kind of row fills its own, the rest are NULL
_ROWS = {"HeaderID": "bigint", "LogEntryType": "string", "LogDescription": "string",
         "LogDateTime": "timestamp", "_src": "int", "_mtime": "timestamp", "_tbl": "int"}
_SPEC = "struct<HeaderID:bigint,SourceName:string,TableName:string,WarningDurationS:int>"


def _tagged(df: DataFrame, *keep: str, **cols: Column) -> DataFrame:
    cols.update({c: F.col(c) for c in keep})
    return df.select(*[cols.get(c, F.lit(None)).cast(t).alias(c) for c, t in _ROWS.items()])


def _logged_sum() -> Column:
    """SUM(CAST(COALESCE(desc,'0') AS INT)) over ROW_COUNT rows
    (``Autoloader_daily_log_report.sql:205-214``)."""
    return F.sum(F.when(
        F.col("LogEntryType") == "ROW_COUNT",
        F.coalesce(F.col("LogDescription"), F.lit("0")).cast("int"),
    )).alias("LoggedRowCount")


def logged_row_counts(logs: DataFrame) -> DataFrame:
    """LoggedRowCount per header of a logs frame, as in the report."""
    rows = logs.filter(F.col("LogEntryType") == "ROW_COUNT")
    return rows.groupBy("HeaderID").agg(_logged_sum())


def daily_report(
    catalog: TableCatalog,
    tables: SystemTables,
    specs: list[IngestionSpec],
    today_only: bool = False,
) -> DataFrame:
    """The reconciliation report: durations + count matching + flags."""
    spark = catalog.spark
    logs = tables.logs.read().filter(F.col("HeaderID").isin([s.header_id for s in specs]))
    if today_only:
        logs = logs.filter(F.col("LogDateTime").cast("date") == F.current_date())
    # one literal row per spec; the union gets its HeaderIDs, so every
    # spec has a group, and the report looks its other fields up by id
    # afterwards: string max() buffers in the aggregate would turn it
    # into a SortAggregate that sorts every source row
    spec_rows = F.array(*[
        F.struct(*[F.lit(v) for v in (s.header_id, s.source_name, s.table_name,
                                      s.job.warning_duration_s)])
        for s in specs
    ]).cast(f"array<{_SPEC}>")
    rows = [_tagged(spark.range(1).select(F.inline(spec_rows)), "HeaderID"),
            _tagged(logs, "HeaderID", "LogEntryType", "LogDescription", "LogDateTime")]
    for s in specs:
        hid = F.lit(s.header_id)
        rows.append(_tagged(read_batch(spark, s), HeaderID=hid, _src=F.lit(1),
                            _mtime=F.col("_metadata.file_modification_time")))
        t = catalog.table(s.table_name)
        if t.exists():
            rows.append(_tagged(t.read(), HeaderID=hid, _tbl=F.lit(1)))

    def phase(kind: str) -> Column:
        return F.max(F.when(F.col("LogEntryType") == kind, F.col("LogDateTime")))

    duration_min = F.round(
        (F.unix_timestamp(F.coalesce(F.col("EndTime"), F.current_timestamp()))
         - F.unix_timestamp("StartTime")) / 60.0,
        2,
    )
    counts = (
        reduce(DataFrame.unionByName, rows)
        .groupBy("HeaderID")
        .agg(
            phase("START").alias("StartTime"),
            phase("ROW_COUNT").alias("LoadTime"),
            phase("END").alias("EndTime"),
            phase("ERROR").alias("ErrorTime"),
            _logged_sum(),
            F.sum("_src").alias("SourceRowCount"),
            F.date_format(F.max("_mtime"), "MM/dd/yyyy hh:mm").alias("SourceFileModified"),
            F.sum("_tbl").alias("TableRowCount"),
        )
    )
    spec = F.filter(spec_rows, lambda h: h["HeaderID"] == F.col("HeaderID"))[0]
    return (
        counts.select("HeaderID",
                      *[spec[c].alias(c) for c in ("SourceName", "TableName", "WarningDurationS")],
                      *counts.columns[1:])
        .withColumn("DurationMinutes", duration_min)
        .withColumn(
            "JobTimeoutStatus",
            F.when(F.col("StartTime").isNull(), F.lit("Not Started"))
            .when(
                F.col("EndTime").isNull()
                & (F.unix_timestamp(F.current_timestamp()) - F.unix_timestamp("StartTime")
                   > F.col("WarningDurationS")),
                F.lit("WARN (Duration exceeded)"),
            )
            .otherwise(F.lit("OK")),
        )
        .withColumn(
            "RowCountMatchFlag",
            F.when(F.col("EndTime").isNull(), F.lit(IN_PROGRESS_FLAG))
            .when(
                (F.col("SourceRowCount") == F.col("TableRowCount"))
                & (F.col("TableRowCount") == F.col("LoggedRowCount")),
                F.lit(PASS_FLAG),
            )
            .otherwise(F.lit(FAIL_FLAG)),
        )
        .coalesce(1)
        .sortWithinPartitions("HeaderID")
    )
