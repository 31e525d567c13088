"""Corrupt-record gate + quarantine.

Reference behavior (``modules/auto_loader_steps.py:277-315``): if any
row has ``_rescued_data`` non-null, write the *whole batch* to the
corrupt location, move the offending source files to the error
location, and raise ``'Bad records'``.

Fixes over the reference (documented, SURVEY §7.4): it scans the batch
twice (count then collect) and its file-move loop raises after the
first file so later files never move — we compute the per-file corrupt
counts in ONE aggregation and move every file.

Implementation note: Spark refuses queries whose referenced columns
from a raw CSV/JSON scan are only the corrupt-record column
(QUERY_ONLY_CORRUPT_RECORD_COLUMN), and ``_metadata`` can't resolve
through a pinned plan — so the gate aggregates on the materialized
``source_file_path`` lineage column instead.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import BadRecordsError
from ..sources.batch import RESCUED


def _local_path(p: str) -> str:
    """file:/x, file:///x, or /x → /x (Spark URI forms vary)."""
    from urllib.parse import unquote, urlparse

    if p.startswith("file:"):
        return unquote(urlparse(p).path)
    return p


def corrupt_summary(df: DataFrame, file_col: str = "source_file_path") -> tuple[int, list[str]]:
    """(corrupt-row count, distinct offending files) in one aggregation.

    NOTE: the caller must pass a pinned ``df`` (``session.pinned``) —
    Spark disallows queries referencing only the corrupt-record column
    on a raw CSV/JSON scan, and the pinned relation lifts that
    restriction."""
    if RESCUED not in df.columns:
        return 0, []
    key = F.col(file_col) if file_col in df.columns else F.col("_metadata.file_path")
    per_file = (
        df.filter(F.col(RESCUED).isNotNull())
        .groupBy(key.alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    return sum(r.n for r in per_file), [r.p for r in per_file]


def quarantine_batch(
    df: DataFrame,
    corrupt_location: str,
    error_location: str | None = None,
    raise_on_bad: bool = True,
) -> int:
    """Gate a batch on corrupt rows. Returns the corrupt-row count.

    If any corrupt rows exist: whole batch → ``corrupt_location``
    (parquet), offending source files → ``error_location``, then raise
    :class:`BadRecordsError` (unless ``raise_on_bad=False``).
    """
    n_bad, bad_files = corrupt_summary(df)
    if not n_bad:
        return 0
    df.write.mode("overwrite").parquet(corrupt_location)
    if error_location:
        os.makedirs(error_location, exist_ok=True)
        for p in bad_files:
            local = _local_path(p)
            if os.path.exists(local):
                dest = os.path.join(
                    error_location, f"{uuid.uuid4().hex[:8]}-{os.path.basename(local)}"
                )
                shutil.move(local, dest)
    if raise_on_bad:
        raise BadRecordsError(n_bad, corrupt_location)
    return n_bad
