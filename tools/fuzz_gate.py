"""Differential fuzz gate — the oracle parity sweep on ADVERSARIAL data.

The standard gate (tools/check_oracle.py) proves Spark == DuckDB on the
fixed sf0.001/sf0.01 corpora; a data-DEPENDENT divergence (a NULL path
one engine takes and the other doesn't, a tie only broken on duplicate
rows, a rounding boundary only certain sums hit — the class the
seasonal_naive 74.48225 bug lived in) stays invisible until the data
changes. This tool builds a perturbed copy of the sf0.001 tables with
deliberately hostile rows, then runs the full 264-pair gate against it:

  documents  — empty text, whitespace-only, NULL-free but single-token,
               exact duplicates of existing docs (new ids), a long
               repeated-token doc, punctuation-only, unicode (NFC/NFD
               mixed), CRLF/newline soup
  events     — duplicate timestamps, value=0 rows, a burst of identical
               (user, ts) rows, events at hour boundaries
  orders     — duplicate o_totalprice ties, zero-price orders
  embeddings — a zero vector, exact-duplicate vectors, a one-hot vector
  customer   — duplicate names (entity-match ties), negative balances

Schema-identical to the source (types validated against the originals),
so every oracle runs unmodified. Approximate-family queries whose
oracle is the exact answer (minhash/LSH banding recall, IVF/PQ recall,
SemDeDup) are dataset-contingent by design: their expected-fail list is
declared below and they are reported as `waived` rather than FAIL.

Usage: python tools/fuzz_gate.py [out_dir] [query ...]
Exit 0 if every non-waived query passes.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.001"

# Approximate operators whose oracle is the EXACT answer: equality is a
# property of the shipped corpus (probed and documented there), not an
# identity — perturbed data may legitimately break it. Everything else
# must stay green on ANY data.
DATASET_CONTINGENT = {
    # PROBABILISTIC recall only: LSH banding (minhash family), ANN
    # shortlist coverage (IVF/PQ), and centroid-sensitive clustering.
    # Everything exact-mechanism (pigeonhole simhash/ahash blocking,
    # brute-force scans, prefix filters) must stay green on ANY data —
    # the round-7 fuzz run proved all of those DO (21/22 passed on the
    # hostile corpus; only kmeans drifted), so they are NOT waived.
    # (``lsh_index_incremental`` is retired — ``lsh_index_bucketed`` gates
    # the same contract — but its name stays: the waiver list is part of
    # the committed fuzz artifact's corpus fingerprint, and a name with
    # no query waives nothing.)
    "minhash_near_dup", "lsh_index_incremental", "lsh_index_bucketed",
    "stream_near_dup_intake_parity", "stream_near_dup_chain_parity",
    "fuzzy_decontaminate_docs",
    "ivf_ann_topk", "pq_ann_topk", "semantic_dedup_embeddings",
    "kmeans_cluster_embeddings", "kmeans_incremental_embeddings",
    "stream_kmeans_intake_parity",
}


def _read(t):
    return pq.read_table(f"{SRC}/{t}.parquet")


def _append_rows(tbl: pa.Table, rows: list[dict]) -> pa.Table:
    cols = {f.name: [r.get(f.name) for r in rows] for f in tbl.schema}
    add = pa.Table.from_pydict(cols, schema=tbl.schema)
    return pa.concat_tables([tbl, add])


def build(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    from datetime import datetime

    docs = _read("documents")
    base_texts = docs.column("text").to_pylist()[:3]
    doc_rows = [
        {"doc_id": 90001, "text": "", "lang": "en", "source": "src0",
         "n_chars": 0},
        {"doc_id": 90002, "text": "   \t  \n ", "lang": "en",
         "source": "src1", "n_chars": 8},
        {"doc_id": 90003, "text": "solo", "lang": "de", "source": "src1",
         "n_chars": 4},
        {"doc_id": 90004, "text": base_texts[0], "lang": "en",
         "source": "src2", "n_chars": len(base_texts[0])},
        {"doc_id": 90005, "text": base_texts[0], "lang": "fr",
         "source": "src0", "n_chars": len(base_texts[0])},
        {"doc_id": 90006, "text": ("spam " * 400).strip(), "lang": "en",
         "source": "src2", "n_chars": 1999},
        {"doc_id": 90007, "text": "!!! ??? ... ;;; :::", "lang": "en",
         "source": "src1", "n_chars": 19},
        {"doc_id": 90008,
         "text": "café café straße Ångström",
         "lang": "de", "source": "src0", "n_chars": 27},
        {"doc_id": 90009, "text": "line one\r\nline two\n\n\nline three",
         "lang": "en", "source": "src2", "n_chars": 31},
        {"doc_id": 90010, "text": base_texts[1] + " tail appended here",
         "lang": "en", "source": "src1",
         "n_chars": len(base_texts[1]) + 19},
        # NULL profile: key columns (doc_id) stay non-null — a
        # documented precondition — but every value column may be NULL
        {"doc_id": 90011, "text": None, "lang": "en", "source": "src0",
         "n_chars": 0},
        {"doc_id": 90012, "text": "null lang and source doc",
         "lang": None, "source": None, "n_chars": 24},
    ]
    pq.write_table(_append_rows(docs, doc_rows),
                   f"{out_dir}/documents.parquet")

    ev = _read("events")
    t0 = datetime(2024, 1, 20, 12, 0, 0)
    ev_rows = [
        {"event_id": 90001, "ts": t0, "user_id": 7, "event_type": "click",
         "value": 0.0, "props": "{}"},
        {"event_id": 90002, "ts": t0, "user_id": 7, "event_type": "click",
         "value": 0.0, "props": "{}"},
        {"event_id": 90003, "ts": t0, "user_id": 7, "event_type": "view",
         "value": 123.456, "props": '{"k":"v"}'},
        {"event_id": 90004, "ts": datetime(2024, 1, 21, 0, 0, 0),
         "user_id": 8, "event_type": "purchase", "value": 999.99,
         "props": "{}"},
        {"event_id": 90005, "ts": datetime(2024, 1, 21, 23, 59, 59),
         "user_id": 8, "event_type": "signup", "value": 0.001,
         "props": "{}"},
        # NULL/NaN profile: NaN values are the classic cross-engine
        # trap (Spark groups NaN==NaN and sorts it largest; DuckDB
        # likewise but aggregates differ), NULL props/value hit every
        # coalesce path
        {"event_id": 90006, "ts": datetime(2024, 1, 22, 6, 30, 0),
         "user_id": 9, "event_type": "view", "value": float("nan"),
         "props": "{}"},
        {"event_id": 90007, "ts": datetime(2024, 1, 22, 7, 30, 0),
         "user_id": 9, "event_type": "view", "value": None,
         "props": None},
        {"event_id": 90008, "ts": datetime(2024, 1, 22, 8, 30, 0),
         "user_id": None, "event_type": "click", "value": -50.5,
         "props": "{}"},
        # temporal-boundary profile: epoch start, leap day, exact
        # midnight, ISO-week boundary (Sunday->Monday), far future —
        # date_trunc / interval / window-frame semantics at the edges
        {"event_id": 90009, "ts": datetime(1970, 1, 1, 0, 0, 0),
         "user_id": 11, "event_type": "view", "value": 1.0,
         "props": "{}"},
        {"event_id": 90010, "ts": datetime(2024, 2, 29, 12, 0, 0),
         "user_id": 11, "event_type": "view", "value": 2.0,
         "props": "{}"},
        {"event_id": 90011, "ts": datetime(2024, 1, 28, 23, 59, 59),
         "user_id": 12, "event_type": "click", "value": 3.0,
         "props": "{}"},
        {"event_id": 90012, "ts": datetime(2024, 1, 29, 0, 0, 0),
         "user_id": 12, "event_type": "click", "value": 4.0,
         "props": "{}"},
        {"event_id": 90013, "ts": datetime(2150, 6, 15, 6, 0, 0),
         "user_id": 13, "event_type": "purchase", "value": 9.99e12,
         "props": "{}"},
        # ±Infinity profile (round-7 advice): representable in the
        # double column, excluded by DuckDB's isfinite but NOT by a
        # bare NaN filter — the monitor family must treat ±Inf as a
        # missing observation on BOTH engines
        {"event_id": 90014, "ts": datetime(2024, 1, 23, 9, 0, 0),
         "user_id": 14, "event_type": "view", "value": float("inf"),
         "props": "{}"},
        {"event_id": 90015, "ts": datetime(2024, 1, 23, 10, 0, 0),
         "user_id": 14, "event_type": "view", "value": float("-inf"),
         "props": "{}"},
        {"event_id": 90016, "ts": datetime(2024, 1, 23, 11, 0, 0),
         "user_id": 14, "event_type": "view", "value": 7.25,
         "props": "{}"},
        # in-range LARGE pair (round-7 advice): two adjacent hours of
        # ~1e7-magnitude sums exercise the seasonal-naive micro-unit
        # path near (but inside) its |hourly sum| <= 1e8 envelope, and
        # one hour beyond it exercises the envelope exclusion
        {"event_id": 90017, "ts": datetime(2024, 1, 24, 1, 15, 0),
         "user_id": 15, "event_type": "view", "value": 4.9999e7,
         "props": "{}"},
        {"event_id": 90018, "ts": datetime(2024, 1, 24, 2, 15, 0),
         "user_id": 15, "event_type": "view", "value": 4.8888e7,
         "props": "{}"},
        {"event_id": 90019, "ts": datetime(2024, 1, 24, 3, 15, 0),
         "user_id": 15, "event_type": "view", "value": 2.5e8,
         "props": "{}"},
        # NULL-ts profile (round-8 advice): a NULL timestamp is never
        # "strictly earlier" than anything — user 16's only touch has
        # ts NULL, so their purchase must land in the NULL (direct)
        # attribution channel on BOTH engines; every ts-ordered
        # operator must treat the row as a missing observation
        {"event_id": 90020, "ts": None, "user_id": 16,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 90021, "ts": datetime(2024, 1, 25, 10, 0, 0),
         "user_id": 16, "event_type": "purchase", "value": 77.0,
         "props": "{}"},
    ]
    pq.write_table(_append_rows(ev, ev_rows), f"{out_dir}/events.parquet")

    orders = _read("orders")
    od_rows = [
        {"o_orderkey": 900001, "o_custkey": 1, "o_orderstatus": "O",
         "o_totalprice": 0.0, "o_orderdate": datetime(2024, 2, 1),
         "o_orderpriority": "1-URGENT"},
        {"o_orderkey": 900002, "o_custkey": 1, "o_orderstatus": "O",
         "o_totalprice": 0.0, "o_orderdate": datetime(2024, 2, 1),
         "o_orderpriority": "1-URGENT"},
        {"o_orderkey": 900003, "o_custkey": 2, "o_orderstatus": "F",
         "o_totalprice": 12345.67, "o_orderdate": datetime(2024, 2, 2),
         "o_orderpriority": "5-LOW"},
        # temporal-boundary profile: epoch start and leap days, one
        # inside the TPC-H 1996 window — date_trunc/BETWEEN/interval
        # edges for every orderdate-filtered query
        {"o_orderkey": 900004, "o_custkey": 3, "o_orderstatus": "F",
         "o_totalprice": 100.0, "o_orderdate": datetime(1970, 1, 1),
         "o_orderpriority": "3-MEDIUM"},
        {"o_orderkey": 900005, "o_custkey": 3, "o_orderstatus": "O",
         "o_totalprice": 200.0, "o_orderdate": datetime(2024, 2, 29),
         "o_orderpriority": "2-HIGH"},
        {"o_orderkey": 900006, "o_custkey": 4, "o_orderstatus": "F",
         "o_totalprice": 300.0, "o_orderdate": datetime(1996, 2, 29),
         "o_orderpriority": "1-URGENT"},
    ]
    pq.write_table(_append_rows(orders, od_rows),
                   f"{out_dir}/orders.parquet")

    li = _read("lineitem")
    li_rows = [
        # shipdate exactly AT the q1/q6/q12 window boundaries: the
        # >= edge must be IN, one second before must be OUT, on both
        # engines (timestamp comparison, not date truncation)
        {"l_orderkey": 900006, "l_partkey": 1, "l_suppkey": 1,
         "l_linenumber": 1, "l_quantity": 10.0, "l_extendedprice": 1000.0,
         "l_discount": 0.05, "l_tax": 0.02, "l_returnflag": "N",
         "l_linestatus": "O", "l_shipdate": datetime(1996, 1, 1, 0, 0, 0)},
        {"l_orderkey": 900006, "l_partkey": 1, "l_suppkey": 1,
         "l_linenumber": 2, "l_quantity": 10.0, "l_extendedprice": 1000.0,
         "l_discount": 0.05, "l_tax": 0.02, "l_returnflag": "N",
         "l_linestatus": "O",
         "l_shipdate": datetime(1995, 12, 31, 23, 59, 59)},
        {"l_orderkey": 900006, "l_partkey": 1, "l_suppkey": 1,
         "l_linenumber": 3, "l_quantity": 23.999, "l_extendedprice": 500.0,
         "l_discount": 0.07, "l_tax": 0.0, "l_returnflag": "R",
         "l_linestatus": "F", "l_shipdate": datetime(1996, 2, 29, 12, 0, 0)},
    ]
    pq.write_table(_append_rows(li, li_rows),
                   f"{out_dir}/lineitem.parquet")

    cust = _read("customer")
    c_rows = [
        {"c_custkey": 90001, "c_name": "Customer#000000001",
         "c_nationkey": 1, "c_acctbal": -999.99, "c_mktsegment": "BUILDING"},
        {"c_custkey": 90002, "c_name": "Customer#000000001",
         "c_nationkey": 1, "c_acctbal": -999.99, "c_mktsegment": "BUILDING"},
        {"c_custkey": 90003, "c_name": None, "c_nationkey": 1,
         "c_acctbal": None, "c_mktsegment": "BUILDING"},
    ]
    pq.write_table(_append_rows(cust, c_rows),
                   f"{out_dir}/customer.parquet")

    emb = _read("embeddings")
    dim = len(emb.column("embedding")[0].as_py())
    first = emb.column("embedding")[1].as_py()
    e_rows = [
        {"vec_id": 90001, "embedding": [0.0] * dim, "label": 0},
        {"vec_id": 90002, "embedding": first, "label": 1},
        {"vec_id": 90003, "embedding": [1.0] + [0.0] * (dim - 1),
         "label": 2},
    ]
    pq.write_table(_append_rows(emb, e_rows),
                   f"{out_dir}/embeddings.parquet")

    for t in ("region", "nation", "supplier", "part"):
        pq.write_table(_read(t), f"{out_dir}/{t}.parquet")

    # schema fidelity: every perturbed table must keep the exact source
    # schema or the fuzz run tests the wrong thing
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        assert pq.read_schema(f"{out_dir}/{t}.parquet").equals(
            pq.read_schema(f"{SRC}/{t}.parquet")
        ), t


ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

# Fact tables emptied/singled by the degenerate profiles. Dimension
# spines (region/nation/part/supplier/customer) stay intact: an empty
# DIMENSION is a broken catalog, not a data condition; empty FACT
# partitions happen on every filtered 100 TB read.
DEGENERATE_TABLES = ("orders", "lineitem", "events", "documents",
                     "embeddings")


def build_empty(out_dir: str) -> None:
    """Zero-row fact tables (schema preserved): the empty-partition /
    empty-input semantics sweep — global aggregates over nothing,
    windows over nothing, driver-side seeds (centroid init, cut-point
    collects) with nothing to collect. An operator that crashes here
    crashes on a fully-filtered selection at 100 TB."""
    os.makedirs(out_dir, exist_ok=True)
    for t in ALL_TABLES:
        tbl = _read(t)
        pq.write_table(
            tbl.slice(0, 0) if t in DEGENERATE_TABLES else tbl,
            f"{out_dir}/{t}.parquet",
        )


def build_single(out_dir: str) -> None:
    """One-row fact tables: the no-pair / no-lag / single-partition
    degenerate — self-joins with no second row, stddev of one sample,
    lags with no predecessor."""
    os.makedirs(out_dir, exist_ok=True)
    for t in ALL_TABLES:
        tbl = _read(t)
        pq.write_table(
            tbl.slice(0, 1) if t in DEGENERATE_TABLES else tbl,
            f"{out_dir}/{t}.parquet",
        )


def build_skew(out_dir: str) -> None:
    """Adversarial-skew profile (round-8 verdict item 6): one key per
    fact table holding >= 50% of its rows, one hot LSH bucket (a block
    of byte-identical docs — every minhash band collides), one
    10^4-item basket (the cooccurrence hot-basket cap), one hot IVF
    cell (duplicate vectors). Correctness must hold AND the sweep must
    finish inside the profile wall envelope — the profile exists to
    prove the documented hot-key/hot-bucket caps actually engage
    instead of letting one key go quadratic."""
    os.makedirs(out_dir, exist_ok=True)
    from datetime import datetime, timedelta

    # events: user 777 ends up holding ~55% of all rows
    ev = _read("events")
    t0 = datetime(2024, 1, 15, 0, 0, 0)
    ev_rows = [
        {"event_id": 500000 + i,
         "ts": t0 + timedelta(minutes=7 * i),
         "user_id": 777,
         "event_type": ("view", "click", "purchase")[i % 3],
         "value": float((i * 13) % 997) / 4.0,
         "props": "{}"}
        for i in range(int(ev.num_rows * 1.2))
    ]
    pq.write_table(_append_rows(ev, ev_rows), f"{out_dir}/events.parquet")

    # documents: one hot LSH/dedup bucket — 80 byte-identical docs
    docs = _read("documents")
    base = docs.column("text")[0].as_py()
    doc_rows = [
        {"doc_id": 500000 + i, "text": base, "lang": "en",
         "source": f"src{i % 3}", "n_chars": len(base)}
        for i in range(80)
    ]
    pq.write_table(_append_rows(docs, doc_rows),
                   f"{out_dir}/documents.parquet")

    # lineitem: ONE basket with 10^4 distinct items (uncapped, this
    # basket alone emits C(10^4,2) ~ 5*10^7 candidate pairs) and a hot
    # supplier on every appended row
    li = _read("lineitem")
    li_rows = [
        {"l_orderkey": 4999999, "l_partkey": 5000000 + j, "l_suppkey": 7,
         "l_linenumber": j % 7 + 1, "l_quantity": float(j % 50 + 1),
         "l_extendedprice": float((j * 17) % 9000 + 100),
         "l_discount": 0.04, "l_tax": 0.03,
         "l_returnflag": "N", "l_linestatus": "O",
         "l_shipdate": datetime(1996, 3, 1, 0, 0, 0)
         + timedelta(hours=j % 480)}
        for j in range(10_000)
    ]
    pq.write_table(_append_rows(li, li_rows), f"{out_dir}/lineitem.parquet")

    # orders: customer 1 holds ~55% of all orders
    orders = _read("orders")
    od_rows = [
        {"o_orderkey": 5000000 + i, "o_custkey": 1,
         "o_orderstatus": "OF"[i % 2],
         "o_totalprice": float((i * 31) % 90000 + 1000) / 7.0,
         "o_orderdate": datetime(1995, 1, 1) + timedelta(days=i % 700),
         "o_orderpriority": ("1-URGENT", "3-MEDIUM", "5-LOW")[i % 3]}
        for i in range(int(orders.num_rows * 1.2))
    ]
    pq.write_table(_append_rows(orders, od_rows),
                   f"{out_dir}/orders.parquet")

    # embeddings: one hot IVF cell / cosine bucket — 100 duplicates of
    # one vector under fresh ids
    emb = _read("embeddings")
    v = emb.column("embedding")[2].as_py()
    e_rows = [
        {"vec_id": 500000 + i, "embedding": v, "label": i % 3}
        for i in range(100)
    ]
    pq.write_table(_append_rows(emb, e_rows), f"{out_dir}/embeddings.parquet")

    for t in ("region", "nation", "customer", "supplier", "part"):
        pq.write_table(_read(t), f"{out_dir}/{t}.parquet")

    for t in ALL_TABLES:
        assert pq.read_schema(f"{out_dir}/{t}.parquet").equals(
            pq.read_schema(f"{SRC}/{t}.parquet")
        ), t


PROFILES = {
    "hostile": build,
    "empty": build_empty,
    "single": build_single,
    "skew": build_skew,
}

# Wall envelope per profile (seconds, full registry sweep): the skew
# profile's REASON TO EXIST is that the hot-key caps keep the sweep
# flat — a cap regression shows up as a quadratic blow-through of this
# budget long before it shows up as a wrong answer. Budgets are ~2x
# the measured wall on this VM (NOTES.md round 9).
PROFILE_WALL_BUDGET_SEC: dict[str, float] = {
    "skew": 1200.0,
}

# Per-FAMILY wall envelopes for the skew profile (round-9 verdict
# item 5): the whole-sweep budget would let one cap-carrying family
# regress ~3x while the other 270 queries absorb the slack. Each
# family below carries a documented hot-key/hot-bucket/hot-cell cap
# that the skew corpus is built to stress; its envelope is ~2.5x the
# measured family wall on this VM (calibrated round 10, recorded in
# NOTES.md), so a cap that stops engaging fails the gate on ITS
# queries, not on the aggregate. Families are disjoint query lists —
# parsed from the per-query `t=..s` timings ORACLE_TIMINGS=1 emits.
SKEW_FAMILY_BUDGET_SEC: dict[str, tuple[float, tuple[str, ...]]] = {
    "lsh": (300.0, (
        "minhash_near_dup", "simhash_near_dup", "embedding_near_dup",
        "image_ahash_near_dup", "video_frame_near_dup",
        "lsh_index_bucketed",
        "stream_near_dup_intake_parity", "stream_near_dup_chain_parity",
    )),
    "set_similarity": (60.0, ("set_similarity_join_docs",)),
    "containment": (60.0, ("containment_join_docs",)),
    "cooccurrence": (60.0, ("cooccurrence_lift_lineitem",)),
    "ivf": (150.0, (
        "ivf_ann_topk", "pq_ann_topk", "kmeans_cluster_embeddings",
        "kmeans_incremental_embeddings", "stream_kmeans_intake_parity",
    )),
}


def corpus_fingerprint() -> str:
    """Content hash of the fuzz-corpus DEFINITION (every profile
    builder's source plus the waiver list). Printed in the artifact
    header and recomputed by tests/test_artifacts.py at HEAD — editing
    a corpus or the waivers without re-running the sweep makes the
    committed artifact stale and fails the suite (round-7 verdict
    item 2: the final snapshot expanded the corpus, fixed two queries
    it broke, and shipped a FUZZ artifact that had never seen
    either)."""
    import hashlib
    import inspect

    payload = "".join(
        inspect.getsource(PROFILES[p]) for p in sorted(PROFILES)
    ) + "|".join(sorted(DATASET_CONTINGENT))
    return hashlib.sha256(payload.encode()).hexdigest()[:12]


_TIMING_RE = None


def _query_wall(line: str) -> tuple[str, float] | None:
    """(query, seconds) from a `PASS name ... t=1.23s` verdict line."""
    global _TIMING_RE
    import re

    if _TIMING_RE is None:
        _TIMING_RE = re.compile(
            r"^(?:PASS|FAIL|weak)\s+(\S+?):?\s.*\st=([0-9.]+)s$"
        )
    m = _TIMING_RE.match(line)
    return (m.group(1), float(m.group(2))) if m else None


def run_profile(profile: str, out_dir: str, only: list[str]) -> int:
    import time

    PROFILES[profile](out_dir)
    print(f"# fuzz profile={profile} corpus at {out_dir} "
          f"corpus_fp={corpus_fingerprint()}")
    t0 = time.perf_counter()
    env = dict(os.environ, ORACLE_TIMINGS="1")
    proc = subprocess.run(
        [sys.executable, "tools/check_oracle.py", out_dir, *only],
        capture_output=True, text=True, env=env)
    wall = time.perf_counter() - t0
    n_waived = n_fail = 0
    walls: dict[str, float] = {}
    for line in proc.stdout.splitlines():
        qw = _query_wall(line)
        if qw:
            walls[qw[0]] = qw[1]
        if line.startswith("FAIL"):
            name = line.split()[1].rstrip(":")
            if name in DATASET_CONTINGENT:
                n_waived += 1
                print("waived(approx) " + line[len("FAIL  "):])
                continue
            n_fail += 1
        print(line)
    budget = PROFILE_WALL_BUDGET_SEC.get(profile)
    if budget is not None and not only and wall > budget:
        # full-sweep wall blow-through = a hot-key cap stopped engaging
        n_fail += 1
        print(f"FAIL  {profile}-wall-envelope: sweep took {wall:.0f}s "
              f"> budget {budget:.0f}s — a documented cap is no longer "
              "bounding the skewed key")
    # per-family envelopes (skew only, full sweeps only): each
    # cap-carrying family must stay inside ITS budget — the aggregate
    # can no longer hide a single-family 3x regression
    if profile == "skew" and not only:
        for fam, (fam_budget, members) in SKEW_FAMILY_BUDGET_SEC.items():
            fam_wall = sum(walls.get(q, 0.0) for q in members)
            missing = [q for q in members if q not in walls]
            verdict = "PASS" if fam_wall <= fam_budget else "FAIL"
            if verdict == "FAIL":
                n_fail += 1
            print(f"{verdict}  skew-family-envelope {fam}: "
                  f"{fam_wall:.0f}s of {fam_budget:.0f}s budget "
                  f"({len(members) - len(missing)}/{len(members)} queries"
                  f"{'; missing: ' + ','.join(missing) if missing else ''})")
    print(f"# fuzz verdict profile={profile}: {n_fail} real failures, "
          f"{n_waived} dataset-contingent waived, wall={wall:.0f}s")
    return n_fail


def main():
    args = sys.argv[1:]
    profiles = list(PROFILES)
    if args and args[0].startswith("--profile="):
        profiles = args.pop(0).split("=", 1)[1].split(",")
    out_base = args.pop(0) if args else "/tmp/fuzz_sf"
    only = args
    total_fail = 0
    for p in profiles:
        suffix = "" if p == "hostile" else f"_{p}"
        total_fail += run_profile(p, out_base + suffix, only)
    print(f"# fuzz verdict: {total_fail} real failures, "
          f"profiles={','.join(profiles)}")
    sys.exit(1 if total_fail else 0)


if __name__ == "__main__":
    main()
