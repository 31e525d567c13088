"""Corrupt-record gate + quarantine.

Reference behavior (``modules/auto_loader_steps.py:277-315``): if any
row has ``_rescued_data`` non-null, write the *whole batch* to the
corrupt location, move the offending source files to the error
location, and raise ``'Bad records'``.

Fixes over the reference (documented, SURVEY §7.4): it scans the batch
twice (count then collect) and its file-move loop raises after the
first file so later files never move — we move every file, and the
gate costs no scan of its own: :func:`corrupt_metrics` are observed
(``DataFrame.observe``) on the job that pins the batch, which returns
the corrupt-row count and the offending files with the pin.

Implementation note: Spark refuses queries whose referenced columns
from a raw CSV/JSON scan are only the corrupt-record column
(QUERY_ONLY_CORRUPT_RECORD_COLUMN). The observation sits on the pinned
plan, which reads every column, so the restriction does not apply.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import BadRecordsError
from ..sources.batch import RESCUED


def _local_path(p: str) -> str:
    """file:/x, file:///x, or /x → /x (Spark URI forms vary)."""
    from urllib.parse import unquote, urlparse

    if p.startswith("file:"):
        return unquote(urlparse(p).path)
    return p


def corrupt_metrics(df: DataFrame, file_col: str = "source_file_path") -> list[Column]:
    """Observed metrics of the gate: ``n_corrupt`` (rows with rescued
    data) and ``corrupt_files`` (their distinct source files). Empty
    when ``df`` has no corrupt-record column."""
    if RESCUED not in df.columns:
        return []
    bad = F.col(RESCUED).isNotNull()
    key = F.col(file_col) if file_col in df.columns else F.col("_metadata.file_path")
    return [
        F.count_if(bad).alias("n_corrupt"),
        F.collect_set(F.when(bad, key)).alias("corrupt_files"),
    ]


def quarantine_batch(
    df: DataFrame,
    n_bad: int,
    bad_files: list[str],
    corrupt_location: str,
    error_location: str | None = None,
) -> None:
    """Act on a batch's observed :func:`corrupt_metrics`: nothing when
    ``n_bad`` is 0. Otherwise the whole batch → ``corrupt_location``
    (parquet), offending source files → ``error_location``, then raise
    :class:`BadRecordsError`. ``df`` is the pinned batch the metrics
    were observed on.
    """
    if not n_bad:
        return
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
    raise BadRecordsError(n_bad, corrupt_location)
