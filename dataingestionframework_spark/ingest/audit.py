"""Audit columns + projection/rename in spec order.

Reference semantics: three audit columns added per micro-batch
(``modules/auto_loader_steps.py:423-425``), projection of configured
columns in ColumnOrder (``:166-177,340``) and rename source→target
(``:342-343``). We do projection+rename+audit in one ``select`` so
Catalyst sees a single narrow projection it can push into the scan.

The projection is SQL text (one ``selectExpr``): a ``Column.cast``
per field costs dozens of py4j round trips each. The audit time is
taken once on the driver and projected as a literal, so every copy of
a batch (main table, PII table) carries the same ``InsertDate`` and
``ModifiedDateTime`` — ``current_timestamp()`` is evaluated per query.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame

from ..functions import sql_ident
from ..specs import IngestionSpec


def typed_columns(spec: IngestionSpec) -> dict[str, str]:
    """Target column name → the SQL expression that produces it from
    the source batch (``CAST(source AS type)``), in spec order."""
    return {
        c.target_name: f"CAST({sql_ident(c.source_name)} AS {c.spark_type().simpleString()})"
        for c in spec.ordered_columns()
    }


def project_rename_audit(df: DataFrame, spec: IngestionSpec, batch_id: int) -> DataFrame:
    stamp = f"timestamp_micros({time.time_ns() // 1000})"
    return df.selectExpr(
        *[f"{e} AS {sql_ident(name)}" for name, e in typed_columns(spec).items()],
        f"CAST({int(batch_id)} AS INT) AS BatchId",
        f"CAST({stamp} AS DATE) AS InsertDate",
        f"{stamp} AS ModifiedDateTime",
    )
