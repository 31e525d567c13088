"""PII masking strategies.

The reference overwrites every ``IsPII=1`` column with ``lit('xxxxxxx')``
into a parallel table (``modules/auto_loader_steps.py:345-371``). We keep
that as the ``redact`` strategy and generalize with deterministic
``hash`` (sha256 — joinable pseudonym) and ``nullify``.
All strategies are pure column expressions — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions import sql_ident

REDACT_TOKEN = "xxxxxxx"  # reference constant, modules/auto_loader_steps.py:351

# strategy → SQL text of the masked value of a quoted column
_MASKS = {
    "redact": lambda c: f"'{REDACT_TOKEN}'",
    "hash": lambda c: f"sha2(CAST({c} AS STRING), 256)",
    "nullify": lambda c: "NULL",
}


def mask_columns(df: DataFrame, pii_cols: list[str], strategy: str = "redact") -> DataFrame:
    """Return a masked copy of ``df``: redact/hash produce strings, as
    the reference does; nullify produces an untyped NULL column. One
    ``selectExpr`` of SQL text, not one py4j-built ``Column`` per
    field."""
    if not pii_cols:
        return df
    if strategy not in _MASKS:
        raise ValueError(f"unknown mask strategy: {strategy!r}")
    mask = _MASKS[strategy]
    exprs = []
    for c in df.columns:
        q = sql_ident(c)
        exprs.append(f"{mask(q)} AS {q}" if c in pii_cols else q)
    return df.selectExpr(*exprs)
