"""Ingestion pipeline: batch + streaming, quarantine, PII, drift,
idempotent re-run, reconciliation report."""

import os

import pytest
from pyspark.sql import functions as F

from dataingestionframework_spark.catalog.system import SystemTables
from dataingestionframework_spark.errors import BadRecordsError
from dataingestionframework_spark.ingest.pipeline import IngestionPipeline
from dataingestionframework_spark.ingest.reconcile import PASS_FLAG, daily_report
from dataingestionframework_spark.specs import ColumnSpec, IngestionSpec

CSV_GOOD = "Id,Item,Dt,Value\n1,widget,2024-01-01,10.50\n2,gadget,2024-01-02,20.25\n"
CSV_BAD = "Id,Item,Dt,Value\n3,ok,2024-01-03,1.00\nnot-an-int,bad,xxxx,zz\n"
CSV_DRIFT = "Id,Item,Dt,Value,Color\n4,thing,2024-01-04,5.00,red\n"


def _cols():
    return [
        ColumnSpec("Id", "Id", "int", 1),
        ColumnSpec("Item", "ItemName", "string", 2, is_pii=True),
        ColumnSpec("Dt", "Dt", "date", 3),
        ColumnSpec("Value", "Value", "decimal(10,2)", 4),
    ]


def _spec(tmp_root, src_dir, **kw):
    defaults = dict(
        header_id=7,
        source_name="csvtest",
        table_name="main.csvtest",
        source_path=src_dir,
        file_format="csv",
        has_header=True,
        columns=_cols(),
        corrupt_location=os.path.join(tmp_root, "corrupt"),
        error_location=os.path.join(tmp_root, "errors"),
        pii_table_name="main.csvtest_pii",
    )
    defaults.update(kw)
    return IngestionSpec(**defaults)


@pytest.fixture()
def src_dir(tmp_root):
    d = os.path.join(tmp_root, "src")
    os.makedirs(d)
    with open(os.path.join(d, "f1.csv"), "w") as f:
        f.write(CSV_GOOD)
    return d


def test_batch_ingest_csv(spark, catalog, src_dir, tmp_root):
    pipe = IngestionPipeline(catalog)
    spec = _spec(tmp_root, src_dir)
    res = pipe.run_batch(spec)
    assert res.rows_loaded == 2 and res.batch_id == 1

    out = catalog.table("main.csvtest").read()
    assert set(out.columns) >= {"Id", "ItemName", "Dt", "Value", "BatchId", "InsertDate",
                                "ModifiedDateTime"}
    rows = {r.Id: r for r in out.collect()}
    assert str(rows[1].Value) == "10.50" and rows[2].ItemName == "gadget"
    assert rows[1].BatchId == 1

    # PII table exists with redacted column; main table is clear
    pii = catalog.table("main.csvtest_pii").read().collect()
    assert all(r.ItemName == "xxxxxxx" for r in pii)

    # batch id advances on re-run
    res2 = pipe.run_batch(spec)
    assert res2.batch_id == 2
    assert catalog.table("main.csvtest").count() == 4


def test_quarantine_bad_records(spark, catalog, tmp_root):
    d = os.path.join(tmp_root, "srcbad")
    os.makedirs(d)
    with open(os.path.join(d, "bad.csv"), "w") as f:
        f.write(CSV_BAD)
    pipe = IngestionPipeline(catalog)
    spec = _spec(tmp_root, d, header_id=8, table_name="main.badtest",
                 source_name="badtest", pii_table_name="")
    with pytest.raises(BadRecordsError):
        pipe.run_batch(spec)
    # whole batch quarantined
    q = spark.read.parquet(spec.corrupt_location)
    assert q.count() == 2
    # offending file moved to the error location
    assert len(os.listdir(spec.error_location)) == 1
    assert not os.path.exists(os.path.join(d, "bad.csv"))
    # failure logged with status 3
    logs = pipe.tables.logs.read()
    assert logs.filter((F.col("LogEntryType") == "ERROR") & (F.col("StatusID") == 3)).count() == 1


def test_schema_drift_adds_string_column(spark, catalog, tmp_root):
    d = os.path.join(tmp_root, "srcdrift")
    os.makedirs(d)
    with open(os.path.join(d, "f1.csv"), "w") as f:
        f.write(CSV_GOOD)
    pipe = IngestionPipeline(catalog)
    spec = _spec(tmp_root, d, header_id=9, table_name="main.drifttest",
                 source_name="drifttest", pii_table_name="", corrupt_location="")
    pipe.run_batch(spec)

    with open(os.path.join(d, "f2.csv"), "w") as f:
        f.write(CSV_DRIFT)
    # next batch run sniffs the new header column, evolves the spec
    # (string-typed, like the reference's addNewColumns), and loads it
    pipe.run_batch(spec)
    out = catalog.table("main.drifttest").read()
    assert "Color" in out.columns
    vals = {r.Id: r.Color for r in out.collect()}
    assert vals[4] == "red" and vals[1] is None
    drift_logged = pipe.tables.logs.read().filter(F.col("LogEntryType") == "SCHEMA_DRIFT")
    assert drift_logged.count() >= 1


def test_overwrite_mode(spark, catalog, src_dir, tmp_root):
    pipe = IngestionPipeline(catalog)
    spec = _spec(tmp_root, src_dir, header_id=10, overwrite=True,
                 table_name="main.ow", source_name="ow", pii_table_name="")
    pipe.run_batch(spec)
    pipe.run_batch(spec)
    assert catalog.table("main.ow").count() == 2  # overwritten, not appended


def test_streaming_available_now(spark, catalog, src_dir, tmp_root):
    pipe = IngestionPipeline(catalog)
    spec = _spec(tmp_root, src_dir, header_id=11, table_name="main.stream1",
                 source_name="stream1", pii_table_name="", corrupt_location="",
                 checkpoint_location=os.path.join(tmp_root, "ckpt"))
    q = pipe.run_stream(spec, bounded=True, timeout_s=120)
    assert catalog.table("main.stream1").count() == 2
    # second file arrives; a new bounded run picks up ONLY the new file
    with open(os.path.join(src_dir, "f2.csv"), "w") as f:
        f.write("Id,Item,Dt,Value\n5,late,2024-01-05,1.00\n")
    pipe.run_stream(spec, bounded=True, timeout_s=120)
    out = catalog.table("main.stream1").read()
    assert out.count() == 3
    assert out.filter(F.col("Id") == 5).count() == 1


def test_stream_drift_restarts_with_evolved_schema(spark, catalog, src_dir, tmp_root):
    """T7: mid-stream drift aborts the epoch pre-commit, records the new
    column, and the automatic restart reprocesses the drift file with
    the evolved schema — no rows lost, no rows duplicated."""
    pipe = IngestionPipeline(catalog)
    spec = _spec(tmp_root, src_dir, header_id=14, table_name="main.sdrift",
                 source_name="sdrift", pii_table_name="", corrupt_location="",
                 checkpoint_location=os.path.join(tmp_root, "sdrift_ckpt"))
    pipe.run_stream(spec, bounded=True, timeout_s=120)
    assert catalog.table("main.sdrift").count() == 2

    with open(os.path.join(src_dir, "f2_drift.csv"), "w") as f:
        f.write(CSV_DRIFT)
    pipe.run_stream(spec, bounded=True, timeout_s=120)

    out = catalog.table("main.sdrift").read()
    assert "Color" in out.columns
    assert out.count() == 3
    vals = {r.Id: r.Color for r in out.collect()}
    assert vals[4] == "red" and vals[1] is None
    logs = pipe.tables.logs.read()
    assert logs.filter(F.col("LogEntryType") == "SCHEMA_DRIFT").count() == 1
    assert logs.filter(F.col("LogEntryType") == "RESTART").count() == 1


def test_parquet_stream_drift_restarts_with_evolved_schema(spark, catalog, tmp_root):
    """A parquet stream is read with the declared schema, which hides
    new columns from the batch frame, so drift is found by reading the
    batch files' footers: one SCHEMA_DRIFT, one RESTART, and the new
    column filled for the new row and NULL for the old ones."""
    from datetime import date
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(tmp_root, "srcpq")
    os.makedirs(d)
    cols = {
        "Id": pa.array([1, 2], pa.int32()),
        "Item": pa.array(["widget", "gadget"]),
        "Dt": pa.array([date(2024, 1, 1), date(2024, 1, 2)]),
        "Value": pa.array([Decimal("10.50"), Decimal("20.25")], pa.decimal128(10, 2)),
    }
    pq.write_table(pa.table(cols), os.path.join(d, "f1.parquet"))

    pipe = IngestionPipeline(catalog)
    spec = _spec(tmp_root, d, header_id=15, table_name="main.pqdrift",
                 source_name="pqdrift", file_format="parquet",
                 pii_table_name="", corrupt_location="",
                 checkpoint_location=os.path.join(tmp_root, "pqdrift_ckpt"))
    pipe.run_stream(spec, bounded=True, timeout_s=120)
    assert catalog.table("main.pqdrift").count() == 2

    drift = {
        "Id": pa.array([4], pa.int32()),
        "Item": pa.array(["thing"]),
        "Dt": pa.array([date(2024, 1, 4)]),
        "Value": pa.array([Decimal("5.00")], pa.decimal128(10, 2)),
        "Color": pa.array(["red"]),
    }
    pq.write_table(pa.table(drift), os.path.join(d, "f2_drift.parquet"))
    pipe.run_stream(spec, bounded=True, timeout_s=120)

    out = catalog.table("main.pqdrift").read()
    assert "Color" in out.columns
    assert out.count() == 3
    vals = {r.Id: r.Color for r in out.collect()}
    assert vals[4] == "red" and vals[1] is None and vals[2] is None
    logs = pipe.tables.logs.read().filter(F.col("HeaderID") == 15)
    assert logs.filter(F.col("LogEntryType") == "SCHEMA_DRIFT").count() == 1
    assert logs.filter(F.col("LogEntryType") == "RESTART").count() == 1


def test_parquet_batch_passes_the_corrupt_gate(spark, catalog, tmp_root):
    """A parquet batch run with a corrupt location: the gate groups the
    pinned batch by its source_file_path lineage column."""
    from datetime import date
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(tmp_root, "srcpqbatch")
    os.makedirs(d)
    pq.write_table(pa.table({
        "Id": pa.array([1, 2], pa.int32()),
        "Item": pa.array(["widget", "gadget"]),
        "Dt": pa.array([date(2024, 1, 1), date(2024, 1, 2)]),
        "Value": pa.array([Decimal("10.50"), Decimal("20.25")], pa.decimal128(10, 2)),
    }), os.path.join(d, "f1.parquet"))
    pipe = IngestionPipeline(catalog)
    spec = _spec(tmp_root, d, header_id=16, table_name="main.pqbatch",
                 source_name="pqbatch", file_format="parquet", pii_table_name="")
    res = pipe.run_batch(spec)
    assert (res.rows_loaded, res.n_corrupt) == (2, 0)
    assert catalog.table("main.pqbatch").count() == 2


def test_daily_report_pass(spark, catalog, src_dir, tmp_root):
    pipe = IngestionPipeline(catalog)
    spec = _spec(tmp_root, src_dir, header_id=12, table_name="main.rpt",
                 source_name="rpt", pii_table_name="", corrupt_location="")
    pipe.run_batch(spec)
    rep = daily_report(catalog, pipe.tables, [spec]).collect()
    assert len(rep) == 1
    r = rep[0]
    assert r.SourceRowCount == r.TableRowCount == r.LoggedRowCount == 2
    assert r.RowCountMatchFlag == PASS_FLAG
    assert r.JobTimeoutStatus == "OK"
    # newest source-file mtime surfaced in the reference's report format
    # (MM/dd/yyyy hh:mm — Autoloader_daily_log_report.sql:71)
    import re

    assert re.fullmatch(r"\d{2}/\d{2}/\d{4} \d{2}:\d{2}", r.SourceFileModified)


def test_expectations_gate_routes_bad_rows(spark, catalog, tmp_root):
    from dataingestionframework_spark.ingest.expectations import Expectation

    d = os.path.join(tmp_root, "srcexp")
    os.makedirs(d)
    with open(os.path.join(d, "f1.csv"), "w") as f:
        f.write(
            "Id,Item,Dt,Value\n"
            "1,widget,2024-01-02,10.50\n"
            "2,gadget,2024-01-03,-3.00\n"   # violates value_nonneg
            "3,,2024-01-04,7.25\n"          # violates item_not_null
        )
    pipe = IngestionPipeline(catalog)
    spec = _spec(
        tmp_root, d,
        header_id=31, table_name="main.exptest", source_name="exptest",
        pii_table_name="",
        expectations=[
            Expectation("value_nonneg", "Value", "between", lo=0.0, hi=1e9),
            Expectation("item_not_null", "ItemName", "not_null"),
        ],
    )
    res = pipe.run_batch(spec)
    assert res.rows_loaded == 1  # only the clean row lands

    kept = catalog.table("main.exptest").read().collect()
    assert [r.Id for r in kept] == [1]

    viol = spark.read.parquet(os.path.join(spec.error_location, "_expectations"))
    got = {r.Id: r._failed_rules for r in viol.collect()}
    assert got == {2: "value_nonneg", 3: "item_not_null"}

    logs = pipe.tables.logs.read()
    assert (
        logs.filter(F.col("LogEntryType") == "EXPECTATION").count() == 1
    )


def _count_py4j(monkeypatch, fn):
    """Run ``fn``; return its result and the py4j round trips it made."""
    from py4j.java_gateway import GatewayClient

    sent = []
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        sent.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    try:
        out = fn()
    finally:
        monkeypatch.undo()
    return out, len(sent)


def test_landing_projections_build_in_few_py4j_round_trips(spark, monkeypatch):
    """The audit projection, the PII mask and the append conform are
    each one ``selectExpr`` of SQL text (~140-380 round trips each when
    built one ``Column.cast`` at a time), with the schemas they had."""
    from pyspark.sql import types as T

    from dataingestionframework_spark.catalog.table import ManagedTable
    from dataingestionframework_spark.ingest.audit import project_rename_audit
    from dataingestionframework_spark.ingest.masking import mask_columns
    from dataingestionframework_spark.specs import AUDIT_FIELDS

    spec = _spec("/unused", "/unused", columns=[
        ColumnSpec("Id", "Id", "int", 1),
        ColumnSpec("Email", "Email", "string", 2, is_pii=True),
        ColumnSpec("Amount", "Amount", "decimal(10,2)", 3),
        ColumnSpec("Cat`egory", "Category", "string", 4),
        ColumnSpec("Dt", "Dt", "date", 5),
    ])
    raw = spark.createDataFrame(
        [("1", "a@x", "1.50", "c", "2024-01-01", None, "f")],
        "Id string, Email string, Amount string, `Cat``egory` string, Dt string, "
        "_rescued_data string, source_file_path string",
    )
    raw.schema  # noqa: B018 — resolve before counting
    # the first build in a process also resolves JVM classes through
    # py4j; count a micro-batch's steady state
    project_rename_audit(raw, spec, 3)
    mask_columns(ManagedTable._conform(raw, raw.schema, raw.schema), ["Email"], "hash")

    out, n = _count_py4j(monkeypatch, lambda: project_rename_audit(raw, spec, 3))
    assert n <= 30, n
    want = [(f.name, f.dataType) for f in spec.target_schema().fields]
    assert [(f.name, f.dataType) for f in out.schema.fields] == want
    assert [f.nullable for f in out.schema.fields][-3:] == [False] * 3

    out.schema  # noqa: B018
    masked, n = _count_py4j(monkeypatch, lambda: mask_columns(out, ["Email", "Id"], "hash"))
    assert n <= 30, n
    assert masked.dtypes[:2] == [("Id", "string"), ("Email", "string")]
    nulled = mask_columns(out, ["Email"], "nullify")
    assert nulled.schema["Email"].dataType == T.NullType()

    stored = T.StructType(
        [T.StructField("Id", T.LongType()), T.StructField("Email", T.StringType()),
         T.StructField("Region", T.StringType())] + AUDIT_FIELDS
    )
    incoming = out.schema
    conformed, n = _count_py4j(
        monkeypatch, lambda: ManagedTable._conform(out, incoming, stored))
    assert n <= 30, n
    assert conformed.schema == T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in stored.fields[:3]]
        + [T.StructField(f.name, f.dataType, False) for f in AUDIT_FIELDS]
    )
    row = conformed.first()
    assert (row.Id, row.Email, row.Region, row.BatchId) == (1, "a@x", None, 3)

    # a missing nested column keeps the stored nested nullability
    tags = T.StructField("Tags", T.ArrayType(T.StringType(), containsNull=False))
    wider = T.StructType(stored.fields + [tags])
    assert ManagedTable._conform(out, incoming, wider).schema["Tags"] == tags


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


def test_process_batch_is_one_pinned_pass(spark, catalog, src_dir, tmp_root):
    """Corrupt gate, a row expectation and a PII fork: the pin's job
    observes the gate and the expectation count, so the batch runs
    three jobs (the pin, the PII append, the main append)."""
    from dataingestionframework_spark.ingest.expectations import Expectation
    from dataingestionframework_spark.sources.batch import read_batch, with_file_metadata

    pipe = IngestionPipeline(catalog)
    spec = _spec(tmp_root, src_dir, header_id=40, table_name="main.onepass",
                 source_name="onepass", pii_table_name="main.onepass_pii",
                 expectations=[Expectation("value_nonneg", "Value", "between",
                                           lo=0.0, hi=1e9)])
    target = pipe.prepare(spec)
    batch = with_file_metadata(read_batch(spark, spec))
    res, jobs = _jobs(spark, "one_pinned_pass",
                      lambda: pipe.process_batch(batch, spec, target, 1))
    assert (res.rows_loaded, res.n_corrupt) == (2, 0)
    assert jobs <= 3, jobs
    assert catalog.table("main.onepass_pii").count() == 2


def test_pii_and_main_rows_carry_the_same_audit_values(spark, catalog, src_dir, tmp_root):
    """The audit time is taken once per batch, so both copies agree."""
    pipe = IngestionPipeline(catalog)
    spec = _spec(tmp_root, src_dir, header_id=41, table_name="main.audit",
                 source_name="audit", pii_table_name="main.audit_pii",
                 corrupt_location="")
    pipe.run_batch(spec)
    cols = ["Id", "BatchId", "InsertDate", "ModifiedDateTime"]
    main = catalog.table("main.audit").read().select(*cols).collect()
    pii = catalog.table("main.audit_pii").read().select(*cols).collect()
    assert sorted(main) == sorted(pii) and len(main) == 2
    assert len({r.ModifiedDateTime for r in main}) == 1


def test_stream_corrupt_batch_is_quarantined_and_not_committed(spark, catalog, tmp_root):
    """A corrupt file fails its micro-batch through run_stream: the
    whole batch lands in the corrupt location, the corrupt file (only)
    moves to the error location, and the epoch commits nothing."""
    from pyspark.errors import StreamingQueryException

    d = os.path.join(tmp_root, "src_scorrupt")
    os.makedirs(d)
    with open(os.path.join(d, "a_good.csv"), "w") as f:
        f.write(CSV_GOOD)
    with open(os.path.join(d, "b_bad.csv"), "w") as f:
        f.write(CSV_BAD)
    pipe = IngestionPipeline(catalog)
    spec = _spec(tmp_root, d, header_id=42, table_name="main.scorrupt",
                 source_name="scorrupt", pii_table_name="main.scorrupt_pii",
                 max_files_per_trigger=2, checkpoint_location=os.path.join(tmp_root, "scorrupt_ckpt"))
    with pytest.raises(StreamingQueryException, match="Bad records"):
        pipe.run_stream(spec, bounded=True, timeout_s=120)
    assert spark.read.parquet(spec.corrupt_location).count() == 4
    assert [n.split("-", 1)[1] for n in os.listdir(spec.error_location)] == ["b_bad.csv"]
    assert os.listdir(d) == ["a_good.csv"]
    assert catalog.table("main.scorrupt").count() == 0
    logs = pipe.tables.logs.read().filter(F.col("HeaderID") == 42)
    assert logs.filter(F.col("LogEntryType") == "EPOCH_COMMIT").count() == 0
    assert logs.filter(F.col("LogEntryType") == "ERROR").count() == 1


def test_stream_expectation_on_renamed_column(spark, catalog, tmp_root):
    """Stream rules name target columns (Item lands as ItemName); the
    observed count and the routed rows agree."""
    from dataingestionframework_spark.ingest.expectations import Expectation

    d = os.path.join(tmp_root, "src_sexp")
    os.makedirs(d)
    with open(os.path.join(d, "f1.csv"), "w") as f:
        f.write("Id,Item,Dt,Value\n1,widget,2024-01-02,10.50\n2,,2024-01-03,1.00\n")
    pipe = IngestionPipeline(catalog)
    spec = _spec(tmp_root, d, header_id=43, table_name="main.sexp", source_name="sexp",
                 pii_table_name="", corrupt_location="",
                 checkpoint_location=os.path.join(tmp_root, "sexp_ckpt"),
                 expectations=[Expectation("item_not_null", "ItemName", "not_null")])
    pipe.run_stream(spec, bounded=True, timeout_s=120)
    assert [r.Id for r in catalog.table("main.sexp").read().collect()] == [1]
    viol = spark.read.parquet(os.path.join(spec.error_location, "_expectations"))
    assert {r.Id: r._failed_rules for r in viol.collect()} == {2: "item_not_null"}
    logs = pipe.tables.logs.read().filter(F.col("LogEntryType") == "EXPECTATION")
    assert [r.LogDescription for r in logs.collect()] == ["1 rows failed expectations"]


def test_json_corrupt_record_goes_through_the_observed_gate(spark, catalog, tmp_root):
    d = os.path.join(tmp_root, "src_json")
    os.makedirs(d)
    with open(os.path.join(d, "good.json"), "w") as f:
        f.write('{"Id": 1, "Item": "a", "Dt": "2024-01-01", "Value": 1.5}\n')
    with open(os.path.join(d, "bad.json"), "w") as f:
        f.write('{"Id": 2, "Item": "b", "Dt": "2024-01-02", "Value": 2.5}\n{"Id": 3, "Item\n')
    pipe = IngestionPipeline(catalog)
    spec = _spec(tmp_root, d, header_id=44, table_name="main.jcorrupt",
                 source_name="jcorrupt", file_format="json", pii_table_name="")
    with pytest.raises(BadRecordsError) as e:
        pipe.run_batch(spec)
    assert e.value.n_bad == 1
    assert spark.read.parquet(spec.corrupt_location).count() == 3
    assert sorted(os.listdir(d)) == ["good.json"]
    assert catalog.table("main.jcorrupt").count() == 0
