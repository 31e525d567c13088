"""The ingestion pipeline — reference EP1 re-expressed as a library.

Stages (SURVEY §3/EP1): prepare (table create + idempotent re-run
delete) → read (batch or stream) → drift detect → corrupt gate →
project/rename/audit → expectations → PII fork → write → log + control
updates → reconcile. Bounded streaming runs drain with
``Trigger.AvailableNow`` instead of the reference's
poll-the-control-table-then-stop loop
(``modules/auto_loader_steps.py:500-528``).

Each batch is read from its source once. A batch with more than one
reader is pinned once (:func:`observed_pin`), and that pin's job also
observes what the stages decide on: the batch's source files (drift),
its corrupt rows and their files (gate) and its expectation
violations. After it, the writes are projections and filters of the
pin: a streaming micro-batch runs the pin, the PII append and the main
append, plus a quarantine or violation write when one is needed.
"""

from __future__ import annotations

import os
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog.system import OpsLog, SystemTables
from ..catalog.table import ManagedTable, TableCatalog
from ..errors import BadRecordsError
from ..session import pinned
from ..sources.batch import read_batch, with_file_metadata
from ..sources.stream import read_stream
from ..specs import IngestionSpec
from .audit import project_rename_audit, typed_columns
from .drift import detect_new_columns, evolve_spec
from .expectations import row_rules, split_valid, violation_count
from .masking import mask_columns
from .quarantine import _local_path, corrupt_metrics, quarantine_batch


@dataclass
class IngestResult:
    header_id: int
    batch_id: int
    rows_loaded: int
    n_corrupt: int
    table_name: str


@dataclass
class ObservedBatch:
    """A batch and what the job that pinned it observed. An unpinned
    batch (a single reader, nothing to gate) observes nothing."""

    df: DataFrame
    files: list[str] = field(default_factory=list)  # local source files with rows
    n_corrupt: int = 0
    corrupt_files: list[str] = field(default_factory=list)
    n_violations: int = 0


@contextmanager
def observed_pin(batch_df: DataFrame, spec: IngestionSpec, files: bool = False):
    """Pin ``batch_df`` once (``session.pinned``) with an observation
    riding the pin's job: the source files (with ``files``), the
    corrupt-gate metrics when the spec has a corrupt location, and the
    row-expectation violations, evaluated on the spec's typed columns
    so they match the rules on the projected batch. Yields an
    :class:`ObservedBatch`; the pin is released on exit."""
    metrics = []
    if files and "source_file_path" in batch_df.columns:
        metrics.append(F.collect_set("source_file_path").alias("files"))
    if spec.corrupt_location:
        metrics += corrupt_metrics(batch_df)
    if row_rules(spec.expectations):
        metrics.append(
            violation_count(spec.expectations, typed_columns(spec)).alias("n_violations")
        )
    obs = Observation() if metrics else None
    with pinned(batch_df.observe(obs, *metrics) if obs else batch_df) as pin:
        got = obs.get if obs else {}
        yield ObservedBatch(
            pin,
            files=sorted(_local_path(p) for p in got.get("files", [])),
            n_corrupt=got.get("n_corrupt", 0),
            corrupt_files=got.get("corrupt_files", []),
            n_violations=got.get("n_violations", 0),
        )


class IngestionPipeline:
    def __init__(self, catalog: TableCatalog, tables: SystemTables | None = None):
        self.catalog = catalog
        self.spark: SparkSession = catalog.spark
        self.tables = tables or SystemTables(catalog).create_all()
        self.log = OpsLog(self.tables)
        self.active_streams: dict[int, object] = {}

    # -- stage 2: table preparation (EP1 step 2) ---------------------------

    def prepare(self, spec: IngestionSpec, idempotent_rerun: bool = False) -> ManagedTable:
        schema_name = spec.table_name.split(".")[0] if "." in spec.table_name else None
        if schema_name:
            self.catalog.create_schema(schema_name)
        target = self.catalog.table(spec.table_name)
        if not target.exists():
            target.create(spec.target_schema(), partition_cols=spec.partition_columns or None)
        elif idempotent_rerun and not spec.overwrite:
            # reference: DELETE WHERE InsertDate=CURRENT_DATE() on bounded
            # re-runs (notebooks/Data Ingestion Helper.py:139-142)
            target.delete(F.col("InsertDate") == F.current_date())
        self._ensure_control_row(spec)
        return target

    def _ensure_control_row(self, spec: IngestionSpec) -> None:
        """Control insert-if-absent (reference: modules/insert_config.py:443-468)."""
        import pyarrow.parquet as pq

        ctl = pq.read_table(self.tables.control.data_dir()).to_pandas()
        if not (ctl["HeaderID"] == spec.header_id).any():
            from datetime import datetime, timezone

            self.tables.control.append_rows(
                [
                    {
                        "HeaderID": spec.header_id,
                        "StatusID": 0,
                        "PreviousBatchID": 0,
                        "LatestBatchID": 0,
                        "JobID": None,
                        "LastUpdateTime": datetime.now(timezone.utc).replace(tzinfo=None),
                    }
                ]
            )

    # -- per-batch core (shared by batch + foreachBatch) -------------------

    def _next_batch_id(self, spec: IngestionSpec) -> int:
        import pyarrow.parquet as pq

        ctl = pq.read_table(self.tables.control.data_dir()).to_pandas()
        mine = ctl[ctl["HeaderID"] == spec.header_id]
        if len(mine) and mine["LatestBatchID"].notna().iloc[0]:
            return int(mine["LatestBatchID"].iloc[0]) + 1
        return 1

    def process_batch(
        self,
        batch_df: DataFrame,
        spec: IngestionSpec,
        target: ManagedTable,
        batch_id: int,
        check_drift: bool = False,
    ) -> IngestResult:
        """Gate, project, mask and land one batch. ``check_drift`` (the
        stream handler) sniffs the batch's files for new columns first
        and aborts before any write."""
        pii_cols = spec.pii_columns() if spec.pii_table_name else []
        rules = row_rules(spec.expectations)
        # more than one reader: the drift files, the gate and the
        # expectation count are observed on the pin's job, and the
        # writes read the pin
        if check_drift or spec.corrupt_location or rules or pii_cols:
            one_pass = observed_pin(batch_df, spec, files=check_drift)
        else:
            one_pass = nullcontext(ObservedBatch(batch_df))
        with one_pass as batch:
            # schema drift: run_batch evolved the spec from its source
            # sniff before reading; a stream aborts the epoch here
            if check_drift:
                self._check_stream_drift(batch.files, spec)

            # corrupt gate → quarantine + structured failure
            if spec.corrupt_location:
                try:
                    quarantine_batch(batch.df, batch.n_corrupt, batch.corrupt_files,
                                     spec.corrupt_location, spec.error_location)
                except BadRecordsError:
                    self.log.write(spec.header_id, "ERROR", "Bad records", 3, batch_id)
                    raise

            out = project_rename_audit(batch.df, spec, batch_id)

            # data-level expectations gate (extension beyond the
            # reference's config-only validation): row-level rules route
            # violating rows to the error location with the failed rule
            # names attached; the batch continues with the valid rows
            if rules:
                out, viol = split_valid(out, rules)
                if batch.n_violations:
                    if spec.error_location:
                        viol.write.mode("append").parquet(
                            os.path.join(spec.error_location, "_expectations")
                        )
                    self.log.write(
                        spec.header_id, "EXPECTATION",
                        f"{batch.n_violations} rows failed expectations", 2, batch_id,
                    )

            # PII fork: masked copy to the PII table, clear data to the main
            # table (reference polarity, modules/auto_loader_steps.py:345-371)
            if pii_cols:
                masked = mask_columns(out, pii_cols, spec.mask_strategy)
                pii_target = self.catalog.table(spec.pii_table_name)
                if spec.overwrite:
                    pii_target.overwrite(masked)
                else:
                    pii_target.append(masked)

            if spec.overwrite:
                target.overwrite(out)
                rows = target.count()  # footer metadata, no scan
            else:
                # backend-neutral appended-row count (parquet: footer diff;
                # Delta: commit operationMetrics) — no data scan either way
                rows = target.append_counted(out)
            self.log.write(spec.header_id, "ROW_COUNT", str(rows), 1, batch_id)
            return IngestResult(spec.header_id, batch_id, rows, batch.n_corrupt,
                                spec.table_name)

    # -- batch entry point --------------------------------------------------

    def run_batch(self, spec: IngestionSpec, idempotent_rerun: bool = False) -> IngestResult:
        target = self.prepare(spec, idempotent_rerun)
        batch_id = self._next_batch_id(spec)
        self.log.write(spec.header_id, "START", f"batch ingest {spec.source_name}", 1, batch_id)
        # drift: sniff actual source columns (declared-schema reads can't
        # see new columns), evolve the spec, then read with the wider schema
        new_cols = detect_new_columns(self.spark, spec, [spec.source_path])
        if new_cols:
            spec = evolve_spec(spec, new_cols)
            self.log.write(spec.header_id, "SCHEMA_DRIFT",
                           f"new columns: {','.join(new_cols)}", 1, batch_id)
        # lineage columns for every format, as in run_stream: the corrupt
        # gate reads source_file_path from its pinned batch, where
        # _metadata no longer resolves
        df = with_file_metadata(read_batch(self.spark, spec))
        try:
            result = self.process_batch(df, spec, target, batch_id)
        except Exception:
            self.log.write(spec.header_id, "END", "failed", 3, batch_id)
            raise
        self.log.write(spec.header_id, "END", "succeeded", 2, batch_id)
        return result

    # -- streaming entry point ---------------------------------------------

    def _last_committed_epoch(self, header_id: int) -> int:
        """Highest foreachBatch epoch already committed for a pipeline
        (from EPOCH_COMMIT log rows — the exactly-once replay guard)."""
        import pyarrow.parquet as pq

        logs = pq.read_table(
            self.tables.logs.data_dir(), columns=["HeaderID", "LogEntryType", "LogDescription"]
        ).to_pandas()
        mine = logs[(logs["HeaderID"] == header_id) & (logs["LogEntryType"] == "EPOCH_COMMIT")]
        return int(mine["LogDescription"].astype(int).max()) if len(mine) else -1

    def run_stream(
        self,
        spec: IngestionSpec,
        bounded: bool = True,
        processing_time: str = "0.5 seconds",
        timeout_s: int | None = None,
    ):
        """Streaming ingest via ``foreachBatch``.

        ``bounded=True`` → ``Trigger.AvailableNow``: process everything
        currently in the directory, then stop — the idiomatic
        replacement for the reference's drain-poll (T5).

        Exactly-once: after a crash between the data write and the
        checkpoint commit, Structured Streaming REPLAYS the last epoch
        into ``foreachBatch``. The EPOCH_COMMIT log row (written after
        the batch lands) makes the handler idempotent — a replayed
        epoch ≤ the last committed one is skipped, the same guard
        Delta's ``txnAppId``/``txnVersion`` write options implement.
        """
        target = self.prepare(spec)
        self.log.write(spec.header_id, "START", f"stream ingest {spec.source_name}", 1)
        stream = with_file_metadata(read_stream(self.spark, spec))

        def handle(batch_df: DataFrame, epoch_id: int) -> None:
            if epoch_id <= self._last_committed_epoch(spec.header_id):
                return  # replayed epoch — already landed
            # a read of the control table: a drift abort inside
            # process_batch leaves the next id unchanged
            batch_id = self._next_batch_id(spec)
            self.process_batch(batch_df, spec, target, batch_id, check_drift=True)
            self.log.write(spec.header_id, "EPOCH_COMMIT", str(epoch_id), 1,
                           batch_id, update_control=False)

        writer = stream.writeStream.foreachBatch(handle).outputMode("append")
        checkpoint = spec.checkpoint_location or os.path.join(
            self.catalog.root, "_checkpoints", f"header_{spec.header_id}"
        )
        writer = writer.option("checkpointLocation", checkpoint)
        if bounded:
            q = writer.trigger(availableNow=True).start()
            try:
                q.awaitTermination(timeout_s)
            except StreamingQueryException as e:
                if "schema drift on header" in str(e):
                    # epoch aborted pre-commit: restart reprocesses the
                    # drift files with the evolved (string-typed) schema
                    evolved = self._evolved_from_store(spec)
                    self.log.write(spec.header_id, "RESTART",
                                   "stream restart after schema drift", 1)
                    return self.run_stream(evolved, bounded, processing_time, timeout_s)
                raise
            self.log.write(spec.header_id, "END", "succeeded", 2)
            return q
        q = writer.trigger(processingTime=processing_time).start()
        self.active_streams[spec.header_id] = q
        return q

    def _check_stream_drift(self, files: list[str], spec: IngestionSpec) -> None:
        """Sniff the batch's source files for columns the spec lacks.

        Streams read with a declared schema can never *show* new columns
        in the batch DataFrame, whatever the format, so the check goes
        back to the files (driver-side header/footer sniff of just this
        batch's files). ``files`` is the batch's observed file set: the
        files that hold rows, learnt on the pin's job, so the check runs
        no job of its own. On drift: record the new columns in
        column_config, then abort the epoch BEFORE its commit (T7
        semantics — restart reprocesses).
        """
        from ..errors import StreamRestartRequired

        new = detect_new_columns(self.spark, spec, files)
        if new:
            self.log.write(spec.header_id, "SCHEMA_DRIFT",
                           f"new columns: {','.join(new)}", 1)
            self._record_drift_columns(spec, new)
            raise StreamRestartRequired(spec.header_id, new)

    def _record_drift_columns(self, spec: IngestionSpec, new_cols: list[str]) -> None:
        """Append drift columns (string-typed, like the reference's
        addNewColumns) to column_config so a reload sees them."""
        next_order = max((c.order for c in spec.columns), default=0) + 1
        self.tables.columns.append_rows(
            [
                {
                    "HeaderID": spec.header_id,
                    "SourceColumnName": c,
                    "DeltaColumnName": c,
                    "DeltaDataType": "string",
                    "ColumnOrder": next_order + i,
                    "IsPII": 0,
                    "ZOrder": 0,
                    "IsCurrent": 1,
                }
                for i, c in enumerate(new_cols)
            ]
        )

    def _evolved_from_store(self, spec: IngestionSpec) -> IngestionSpec:
        """Rebuild the spec with any drift columns recorded in column_config."""
        from dataclasses import replace

        from ..specs import ColumnSpec

        rows = (
            self.tables.columns.read()
            .filter((F.col("HeaderID") == spec.header_id) & (F.col("IsCurrent") == 1))
            .collect()
        )
        if not rows:
            return spec
        # merge: stored rows extend/override the in-memory spec (the
        # store may hold ONLY drift rows when sync() was never called)
        by_name = {c.source_name: c for c in spec.columns}
        for r in rows:
            by_name[r.SourceColumnName] = ColumnSpec(
                source_name=r.SourceColumnName,
                target_name=r.DeltaColumnName,
                data_type=r.DeltaDataType,
                order=r.ColumnOrder,
                is_pii=bool(r.IsPII),
                zorder=bool(r.ZOrder),
            )
        return replace(spec, columns=sorted(by_name.values(), key=lambda c: c.order))

    def cancel_stream(self, header_id: int) -> bool:
        """Stop a continuous run (reference ``Run jobs.py`` SLA cancel,
        ``notebooks/Run jobs.py:187-202``); logs the cancellation."""
        q = self.active_streams.pop(header_id, None)
        if q is None or not q.isActive:
            return False
        q.stop()
        self.log.write(header_id, "END", "cancelled (SLA)", 3)
        return True
