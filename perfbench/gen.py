"""Deterministic input generator for the ingestion benchmark.

Every function here is a pure function of its arguments (the seed
included): the same seed writes byte-identical files with the same
explicit, strictly ascending modification times, so the file stream
source forms the same micro-batches on every run. The program under
test only ever sees the files written here.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Fixed base modification time (2023-11-14): file N gets MTIME0 + N s,
# so batch composition never depends on when the files were written.
MTIME0 = 1_700_000_000
CATEGORIES = ("retail", "online", "wholesale", "partner", "internal")
REGIONS = ("north", "south", "east", "west")
BASE_COLUMNS = ("Id", "Email", "Amount", "Category", "Dt")
DRIFT_COLUMN = "Region"
# A row fails the benchmark's expectation when its amount is negative.
AMOUNT_LO, AMOUNT_HI = 0, 1_000_000
_DAY0 = dt.date(2024, 1, 1)

# Vocabulary for synthetic documents: 3-gram overlap between two
# unrelated 40+ token documents over 400 words is effectively nil, so
# only the planted variants are near duplicates.
_VOCAB = [
    a + b for a in ("ba", "ce", "di", "fo", "gu", "ha", "ji", "ko", "lu", "me",
                    "ni", "po", "qu", "ra", "si", "tu", "vo", "we", "xa", "yo")
    for b in ("n", "r", "s", "t", "l", "m", "k", "p", "d", "x",
              "nd", "rt", "st", "lk", "mp", "sk", "nt", "rd", "lt", "ng")
]


def set_mtime(path: str, index: int) -> None:
    t = MTIME0 + index
    os.utime(path, (t, t))


def _rows(rng: np.random.Generator, first_id: int, n: int, bad_share: float = 0.0) -> dict:
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    cents = rng.integers(0, 100 * AMOUNT_HI // 10, n)
    if bad_share:
        bad = rng.random(n) < bad_share
        cents = np.where(bad, -cents - 1, cents)
    days = rng.integers(0, 365, n) + (_DAY0 - dt.date(1970, 1, 1)).days
    cat = rng.integers(0, len(CATEGORIES), n)
    return {
        "Id": ids,
        "Email": [f"user{i}.{k}@example.com" for i, k in zip(ids, rng.integers(0, 10**6, n))],
        "Amount": cents,
        "Category": [CATEGORIES[c] for c in cat],
        "Dt": days,
    }


def _arrow(rows: dict, drift: bool, rng: np.random.Generator) -> pa.Table:
    cols = {
        "Id": pa.array(rows["Id"], pa.int64()),
        "Email": pa.array(rows["Email"], pa.string()),
        "Amount": pa.array(rows["Amount"] / 100.0, pa.float64()),
        "Category": pa.array(rows["Category"], pa.string()),
        "Dt": pa.array(rows["Dt"].astype("int32"), pa.int32()).cast(pa.date32()),
    }
    t = pa.table(cols)
    if drift:
        reg = rng.integers(0, len(REGIONS), t.num_rows)
        t = t.append_column(DRIFT_COLUMN, pa.array([REGIONS[r] for r in reg], pa.string()))
    return t


def _write_csv(table: pa.Table, path: str) -> None:
    # The header line is written unquoted: the drift sniff reads it raw.
    with open(path, "wb") as f:
        f.write((",".join(table.column_names) + "\n").encode())
        pacsv.write_csv(
            table, f,
            pacsv.WriteOptions(include_header=False, quoting_style="none"),
        )


def _write_json(table: pa.Table, path: str) -> None:
    # Values never hold quotes or backslashes, so plain formatting is
    # valid JSON (and several times faster than a generic encoder).
    cols = [(name, table.column(name).to_pylist()) for name in table.column_names]
    quoted = {name for name in table.column_names if name not in ("Id", "Amount")}
    with open(path, "w") as f:
        for i in range(table.num_rows):
            f.write("{" + ",".join(
                f'"{name}":"{vals[i]}"' if name in quoted else f'"{name}":{vals[i]}'
                for name, vals in cols
            ) + "}\n")


def write_files(
    out_dir: str,
    fmt: str,
    seed: int,
    n_files: int,
    rows_per_file: int,
    first_id: int = 1,
    drift_from: int | None = None,
    bad_share: float = 0.0,
) -> dict:
    """Write ``n_files`` landing files of one format into ``out_dir``.

    Files from index ``drift_from`` on carry the extra drift column.
    Returns the generator's counts, the oracle the checks compare to.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, n_files, rows_per_file, first_id])
    total = bad = 0
    next_id = first_id
    for i in range(n_files):
        drift = drift_from is not None and i >= drift_from
        rows = _rows(rng, next_id, rows_per_file, bad_share)
        bad += int((rows["Amount"] < 0).sum())
        table = _arrow(rows, drift, rng)
        path = os.path.join(out_dir, f"part-{i:05d}.{fmt}")
        if fmt == "csv":
            _write_csv(table, path)
        elif fmt == "json":
            _write_json(table, path)
        else:
            pq.write_table(table, path)
        set_mtime(path, i)
        next_id += rows_per_file
        total += rows_per_file
    return {"rows": total, "bad_rows": bad}


def write_corrupt_csv(out_dir: str, name: str, mtime_index: int) -> int:
    """One CSV file whose second row does not parse (non-integer Id).
    Returns its row count."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, name)
    with open(path, "w") as f:
        f.write(",".join(BASE_COLUMNS) + "\n")
        f.write("900000001,a@example.com,1.00,retail,2024-01-01\n")
        f.write("not-an-id,b@example.com,zz,retail,xxxx\n")
        f.write("900000003,c@example.com,3.00,retail,2024-01-03\n")
    set_mtime(path, mtime_index)
    return 3


# -- documents -------------------------------------------------------------


def _doc(rnd: random.Random) -> list[str]:
    return [rnd.choice(_VOCAB) for _ in range(rnd.randint(40, 80))]


def document_file(f: int) -> str:
    return f"docs-{f:05d}.parquet"


def write_documents(
    out_dir: str,
    seed: int,
    n_files: int,
    docs_per_file: int,
    variant_share: float = 0.3,
) -> list[tuple[int, str]]:
    """Write ``n_files`` parquet files of (doc_id long, text string).

    File ``f`` holds ids ``f * 100_000 + j`` (ids ascend with time).
    From the second file on, ``variant_share`` of a file's docs are
    suffix variants of docs from earlier files: the 90 % suffix of a
    fresh doc (word-3-gram Jaccard ~0.89 to it) or the 80 % suffix of a
    fresh doc whose 90 % suffix already landed (~0.88 to that dropped
    variant, ~0.79 to the survivor). At a 0.85 threshold later batches
    drop docs against the persisted index, some only through dropped
    docs.
    Returns every (doc_id, text) written.
    """
    os.makedirs(out_dir, exist_ok=True)
    rnd = random.Random(seed * 1_000_003 + n_files * 1009 + docs_per_file)
    fresh: list[list[str]] = []       # token lists of fresh docs so far
    first_variant: list[int] = []     # indexes into ``fresh`` with a 90 % variant
    out: list[tuple[int, str]] = []
    for f in range(n_files):
        ids, texts = [], []
        n_var = int(docs_per_file * variant_share) if f else 0
        variants = []
        for _ in range(n_var):
            if first_variant and rnd.random() < 0.5:
                toks = fresh[rnd.choice(first_variant)]
                variants.append(toks[int(len(toks) * 0.2):])
            else:
                k = rnd.randrange(len(fresh))
                first_variant.append(k)
                toks = fresh[k]
                variants.append(toks[int(len(toks) * 0.1):])
        new = []
        for _ in range(docs_per_file - n_var):
            new.append(_doc(rnd))
        docs = variants + new
        rnd.shuffle(docs)
        for j, toks in enumerate(docs):
            ids.append(f * 100_000 + j)
            texts.append(" ".join(toks))
        fresh.extend(new)
        path = os.path.join(out_dir, document_file(f))
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}),
            path,
        )
        set_mtime(path, f)
        out.extend(zip(ids, texts))
    return out
