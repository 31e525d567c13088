"""Schema-drift detection and propagation.

Reference behavior (``modules/auto_loader_steps.py:189-275``): per
micro-batch, diff ``batch_df.dtypes`` against the column config; new
source columns are inserted into ``column_config`` (typed STRING,
``:231-235``), the target table gets ``ALTER TABLE ADD COLUMNS``, and
physical position is forced with ``CHANGE COLUMN … AFTER``.

Ours: one set-difference on ``df.columns``, a single spec update (new
columns appended at the end of ColumnOrder, typed string), and the
write path relies on mergeSchema — no per-column ALTER loop, no
physical reordering (column order stays logical, SURVEY §7.4).
"""

from __future__ import annotations

import os
from dataclasses import replace

from ..sources.batch import RESCUED
from ..specs import ColumnSpec, IngestionSpec

AUDIT_COLS = {"BatchId", "InsertDate", "ModifiedDateTime"}


def sniff_source_columns(spark, spec: IngestionSpec, path: str | None = None) -> list[str]:
    """Discover the actual column set of the source directory.

    A declared-schema read can never *see* extra columns, so drift
    detection needs a schema-only sniff first: CSV reads just the
    header lines (no inferSchema → no data scan); JSON reads a sample;
    a single parquet/ORC file has its footer read on the driver (no
    Spark job), a directory goes through a mergeSchema read. At 100 TB
    the sniff should target only new files — the streaming path gets
    that for free from the file-source listing.
    """
    src = path or spec.source_path
    fmt = spec.file_format.lower()
    if fmt == "csv":
        # Spark's CSV reader takes the header from the FIRST file only,
        # so a union of per-file headers needs a direct header read.
        # Local-FS implementation; on object stores the streaming file
        # listing supplies per-file paths and the same logic applies.
        import glob

        paths = (
            sorted(glob.glob(os.path.join(src, "*"))) if os.path.isdir(src) else [src]
        )
        cols: list[str] = []
        max_fields = 0
        for p in paths:
            if os.path.isdir(p):
                continue
            try:
                with open(p, "r", errors="replace") as f:
                    first = f.readline().rstrip("\r\n")
            except OSError:
                continue
            fields = first.split(spec.delimiter)
            max_fields = max(max_fields, len(fields))
            if spec.has_header:
                for name in fields:
                    if name not in cols:
                        cols.append(name)
        if not spec.has_header:
            cols = [f"_c{i}" for i in range(max_fields)]
        return cols
    if fmt == "json":
        return spark.read.json(src).columns
    if os.path.isfile(src):
        if fmt == "orc":
            from pyarrow import orc

            return orc.ORCFile(src).schema.names
        import pyarrow.parquet as pq

        return pq.read_schema(src).names
    if fmt == "orc":
        return spark.read.option("mergeSchema", "true").orc(src).columns
    return spark.read.option("mergeSchema", "true").parquet(src).columns


def detect_new_columns(spark, spec: IngestionSpec, paths: list[str]) -> list[str]:
    """Source columns the spec lacks, sniffed file by file (or directory
    by directory) with :func:`sniff_source_columns`, in first-seen
    order. Every format goes through the sniff: a declared-schema read
    drops unknown columns, so the batch DataFrame never shows them."""
    known = {c.source_name for c in spec.columns} | {RESCUED}
    new: list[str] = []
    for p in paths:
        for c in sniff_source_columns(spark, spec, path=p):
            if c not in known and c not in new:
                new.append(c)
    return new


def reconcile_spec_with_table(spec: IngestionSpec, table) -> dict[str, list[str]]:
    """Bidirectional config↔table reconciliation at job start
    (reference: ``notebooks/Data Ingestion Helper.py:193-283``).

    - columns the spec declares but the table lacks → added to the
      table (NULL-backfilled via schema merge)
    - columns the table has but the spec lacks → appended to the spec
      caller-side via :func:`evolve_spec` (string-typed)

    Returns {"added_to_table": [...], "missing_from_spec": [...]}.
    """
    from pyspark.sql import types as T

    if not table.exists():
        return {"added_to_table": [], "missing_from_spec": []}
    stored = table.schema()
    table_cols = set(stored.fieldNames())
    spec_cols = {c.target_name for c in spec.ordered_columns()}
    audit = AUDIT_COLS

    add_to_table = [
        c for c in spec.ordered_columns() if c.target_name not in table_cols
    ]
    if add_to_table:
        merged = T.StructType(
            list(stored.fields)
            + [T.StructField(c.target_name, c.spark_type(), True) for c in add_to_table]
        )
        table.evolve_schema(merged)  # old files read the new columns as NULL

    missing_from_spec = [
        c for c in table_cols - spec_cols - audit if c != RESCUED
    ]
    return {
        "added_to_table": [c.target_name for c in add_to_table],
        "missing_from_spec": sorted(missing_from_spec),
    }


def evolve_spec(spec: IngestionSpec, new_cols: list[str]) -> IngestionSpec:
    """Append drift columns to the spec (STRING-typed, like the reference)."""
    if not new_cols:
        return spec
    next_order = max((c.order for c in spec.columns), default=0) + 1
    added = [
        ColumnSpec(source_name=c, target_name=c, data_type="string", order=next_order + i)
        for i, c in enumerate(new_cols)
    ]
    return replace(spec, columns=list(spec.columns) + added)
