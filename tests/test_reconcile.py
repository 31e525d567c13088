"""Reconciliation report: every column of ``daily_report`` on one small
catalog, its Spark job budget, and the empty-spec case."""

import os
import shutil
import tempfile
import time
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dataingestionframework_spark.catalog.table import TableCatalog
from dataingestionframework_spark.ingest.pipeline import IngestionPipeline
from dataingestionframework_spark.ingest.reconcile import (
    FAIL_FLAG,
    IN_PROGRESS_FLAG,
    PASS_FLAG,
    daily_report,
)
from dataingestionframework_spark.specs import ColumnSpec, IngestionSpec, JobSpec

REPORT_COLUMNS = [
    ("HeaderID", "bigint"), ("SourceName", "string"), ("TableName", "string"),
    ("WarningDurationS", "int"), ("StartTime", "timestamp"), ("LoadTime", "timestamp"),
    ("EndTime", "timestamp"), ("ErrorTime", "timestamp"), ("LoggedRowCount", "bigint"),
    ("SourceRowCount", "bigint"), ("SourceFileModified", "string"),
    ("TableRowCount", "bigint"), ("DurationMinutes", "double"),
    ("JobTimeoutStatus", "string"), ("RowCountMatchFlag", "string"),
]
CSV, JSON, PARQUET, EMPTY, FAILED, RUNNING, STALE = 1, 2, 3, 4, 5, 6, 7
LANDED_ROWS = {CSV: 3, JSON: 2, PARQUET: 4}
PHASES = {"StartTime": "START", "LoadTime": "ROW_COUNT", "EndTime": "END",
          "ErrorTime": "ERROR"}


def _spec(hid, name, src, fmt="csv", warn=600):
    return IngestionSpec(
        header_id=hid, source_name=name, table_name=f"main.{name}", source_path=src,
        file_format=fmt, columns=[ColumnSpec("Id", "Id", "int", 1),
                                  ColumnSpec("Item", "Item", "string", 2)],
        job=JobSpec(warning_duration_s=warn),
    )


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


@pytest.fixture(scope="module")
def landed(spark):
    """Three landed headers (CSV, JSON, parquet) plus four whose state
    is written straight into the logs table:

    - EMPTY: one 0-byte source file, no table, no log rows;
    - FAILED: START, ERROR, END 'failed' 90 s and 150 s after START;
    - RUNNING: START only, with a 1 s warning duration;
    - STALE: START, ROW_COUNT '5', END logged three days ago.
    """
    root = tempfile.mkdtemp(prefix="dif_reconcile_")
    catalog = TableCatalog(spark, root)
    pipe = IngestionPipeline(catalog)
    src = lambda name: os.path.join(root, "src", name)  # noqa: E731
    _write(os.path.join(src("csv"), "a.csv"), "Id,Item\n1,a\n2,b\n3,c\n")
    _write(os.path.join(src("json"), "a.json"), '{"Id": 1, "Item": "a"}\n{"Id": 2, "Item": "b"}\n')
    os.makedirs(src("parquet"))
    pq.write_table(pa.table({"Id": pa.array([1, 2, 3, 4], pa.int32()),
                             "Item": ["a", "b", "c", "d"]}),
                   os.path.join(src("parquet"), "a.parquet"))
    _write(os.path.join(src("empty"), "a.csv"), "")
    _write(os.path.join(src("failed"), "a.csv"), "Id,Item\n1,a\n2,b\n")
    specs = [
        _spec(CSV, "csv_src", src("csv")),
        _spec(JSON, "json_src", src("json"), "json"),
        _spec(PARQUET, "parquet_src", src("parquet"), "parquet"),
        _spec(EMPTY, "empty_src", src("empty")),
        _spec(FAILED, "failed_src", src("failed")),
        _spec(RUNNING, "running_src", src("failed"), warn=1),
        _spec(STALE, "stale_src", src("empty")),
    ]
    for s in specs[:3]:
        pipe.run_batch(s)

    now = datetime.now(timezone.utc).replace(tzinfo=None, microsecond=0)
    # today (UTC, the session time zone) and at least a few seconds past
    t0 = max(now.replace(hour=0, minute=0, second=1), now - timedelta(minutes=10))
    stale = now - timedelta(days=3)
    sec = lambda n: timedelta(seconds=n)  # noqa: E731
    entries = [
        (FAILED, "START", "batch ingest", t0), (FAILED, "ERROR", "Bad records", t0 + sec(90)),
        (FAILED, "END", "failed", t0 + sec(150)),
        (RUNNING, "START", "batch ingest", t0),
        (STALE, "START", "batch ingest", stale), (STALE, "ROW_COUNT", "5", stale + sec(30)),
        (STALE, "END", "succeeded", stale + sec(60)),
    ]
    pipe.tables.logs.append_rows([
        {"LogID": f"synthetic-{i}", "HeaderID": h, "BatchID": 1, "LogEntryType": kind,
         "LogDescription": desc, "StatusID": 1, "LogDateTime": ts}
        for i, (h, kind, desc, ts) in enumerate(entries)
    ])
    logs: dict[tuple[int, str], list[datetime]] = {}
    for r in pipe.tables.logs.read().collect():
        logs.setdefault((r.HeaderID, r.LogEntryType), []).append(r.LogDateTime)
    yield dict(catalog=catalog, tables=pipe.tables, specs=specs, logs=logs)
    shutil.rmtree(root, ignore_errors=True)


def _mtime(src_dir):
    newest = max(os.path.getmtime(os.path.join(src_dir, f)) for f in os.listdir(src_dir))
    return datetime.fromtimestamp(newest, timezone.utc).strftime("%m/%d/%Y %I:%M")


def _minutes(start, end):
    """DurationMinutes as the report computes it: whole epoch seconds."""
    return round((int(end.timestamp()) - int(start.timestamp())) / 60.0, 2)


def _expected(landed, stale_logged: bool) -> dict[int, dict]:
    logs, out = landed["logs"], {}
    for s in landed["specs"]:
        h = s.header_id
        visible = h != STALE or stale_logged
        row = dict(HeaderID=h, SourceName=s.source_name, TableName=s.table_name,
                   WarningDurationS=s.job.warning_duration_s)
        for col, kind in PHASES.items():
            row[col] = max(logs[(h, kind)]) if visible and (h, kind) in logs else None
        row.update(LoggedRowCount=None, SourceRowCount=None, SourceFileModified=None,
                   TableRowCount=None)
        if h in LANDED_ROWS:
            n = LANDED_ROWS[h]
            row.update(LoggedRowCount=n, SourceRowCount=n, TableRowCount=n,
                       SourceFileModified=_mtime(s.source_path))
        elif h in (FAILED, RUNNING):
            row.update(SourceRowCount=2, SourceFileModified=_mtime(s.source_path))
        elif h == STALE and visible:
            row["LoggedRowCount"] = 5
        out[h] = row
    return out


def _check(rows, want, t_before, t_after):
    assert [r.HeaderID for r in rows] == sorted(want)
    for r in rows:
        got, w = r.asDict(), dict(want[r.HeaderID])
        if w["StartTime"] is None:
            w.update(DurationMinutes=None, JobTimeoutStatus="Not Started")
        elif w["EndTime"] is not None:
            w.update(DurationMinutes=_minutes(w["StartTime"], w["EndTime"]),
                     JobTimeoutStatus="OK")
        else:
            # no END yet: the duration runs up to the report's own clock
            start = int(w["StartTime"].timestamp())
            assert (round((t_before - start) / 60.0, 2) <= got["DurationMinutes"]
                    <= round((t_after - start) / 60.0, 2)), got
            w.update(DurationMinutes=got["DurationMinutes"],
                     JobTimeoutStatus="WARN (Duration exceeded)")
        if w["EndTime"] is None:
            w["RowCountMatchFlag"] = IN_PROGRESS_FLAG
        elif w["SourceRowCount"] == w["TableRowCount"] == w["LoggedRowCount"] is not None:
            w["RowCountMatchFlag"] = PASS_FLAG
        else:
            w["RowCountMatchFlag"] = FAIL_FLAG
        assert got == w, r.HeaderID


def _report(landed, **kw):
    df = daily_report(landed["catalog"], landed["tables"], landed["specs"], **kw)
    t_before = int(time.time())
    rows = df.collect()
    return df, rows, t_before, int(time.time()) + 1


def test_daily_report_every_column(landed):
    df, rows, t0, t1 = _report(landed)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == REPORT_COLUMNS
    want = _expected(landed, stale_logged=True)
    _check(rows, want, t0, t1)
    by_id = {r.HeaderID: r for r in rows}
    assert by_id[FAILED].DurationMinutes == 2.5 and by_id[STALE].DurationMinutes == 1.0
    assert {h: by_id[h].RowCountMatchFlag for h in by_id} == {
        CSV: PASS_FLAG, JSON: PASS_FLAG, PARQUET: PASS_FLAG, EMPTY: IN_PROGRESS_FLAG,
        FAILED: FAIL_FLAG, RUNNING: IN_PROGRESS_FLAG, STALE: FAIL_FLAG}


def test_daily_report_today_only_drops_back_dated_rows(landed):
    _, rows, t0, t1 = _report(landed, today_only=True)
    _check(rows, _expected(landed, stale_logged=False), t0, t1)
    stale = next(r for r in rows if r.HeaderID == STALE)
    assert (stale.StartTime, stale.LoggedRowCount, stale.JobTimeoutStatus) == (
        None, None, "Not Started")


def _jobs(spark, group, fn):
    """Run ``fn`` under a job group; return its result and job count."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_daily_report_job_budget(spark, landed):
    """Building the report runs no job (declared-schema source reads);
    collecting it runs one shuffle-map job and one result job. A parquet
    source without a declared schema costs one footer-schema job at
    plan time, so the budget is taken over the other sources."""
    specs = [s for s in landed["specs"] if s.file_format != "parquet"]
    df, plan_jobs = _jobs(spark, "reconcile-plan", lambda: daily_report(
        landed["catalog"], landed["tables"], specs))
    rows, collect_jobs = _jobs(spark, "reconcile-collect", df.collect)
    assert len(rows) == len(specs)
    assert (plan_jobs, collect_jobs <= 2) == (0, True), (plan_jobs, collect_jobs)


def test_daily_report_no_specs_is_empty(landed):
    df = daily_report(landed["catalog"], landed["tables"], [])
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == REPORT_COLUMNS
    assert df.collect() == []
