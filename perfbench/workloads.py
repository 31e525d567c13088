"""The benchmark workloads: inputs, one pass of measured work, checks.

A workload's inputs depend only on ``--seed``, and its passes run in
a fixed order, so two versions of the program are always measured on
identical work. A landing pass drains a fresh hard-linked copy of the
inputs into fresh roots; a corpus pass adds the next file to one
growing intake. A workload is driven through the package's public
entry points; names the tracer patches are looked up through their
modules at call time.
"""

from __future__ import annotations

import os
import shutil
import time

import gen
from dataingestionframework_spark.catalog.table import TableCatalog
from dataingestionframework_spark.errors import BadRecordsError
from dataingestionframework_spark.ingest import corpus as corpus_mod
from dataingestionframework_spark.ingest import reconcile
from dataingestionframework_spark.ingest.expectations import Expectation
from dataingestionframework_spark.ingest.pipeline import IngestionPipeline
from dataingestionframework_spark.operators.bucketing import drop_table_and_location
from dataingestionframework_spark.specs import ColumnSpec, IngestionSpec
from pyspark.sql import functions as F

FILES_PER_TRIGGER = 2
ROWS_PER_SMALL_FILE = 200
# With the intake's default 64 hashes in 16 bands, a planted pair at
# Jaccard >= 0.88 shares no band with probability < 1e-6, and no pair
# sits within 0.03 of the threshold, so the survivors are deterministic.
NEAR_DUP_THRESHOLD = 0.85


def _columns() -> list[ColumnSpec]:
    return [
        ColumnSpec("Id", "Id", "int", 1),
        ColumnSpec("Email", "Email", "string", 2, is_pii=True),
        ColumnSpec("Amount", "Amount", "decimal(10,2)", 3),
        ColumnSpec("Category", "Category", "string", 4),
        ColumnSpec("Dt", "Dt", "date", 5),
    ]


def _spec(root: str, header_id: int, src: str, fmt: str, **kw) -> IngestionSpec:
    d = dict(
        header_id=header_id,
        source_name=f"{fmt}_{header_id}",
        table_name=f"landing.h{header_id}",
        source_path=src,
        file_format=fmt,
        columns=_columns(),
        corrupt_location=os.path.join(root, f"corrupt_{header_id}"),
        error_location=os.path.join(root, f"error_{header_id}"),
        checkpoint_location=os.path.join(root, f"checkpoint_{header_id}"),
        pii_table_name=f"pii.h{header_id}",
        mask_strategy="hash",
        expectations=[Expectation("amount_range", "Amount", "between",
                                  lo=gen.AMOUNT_LO, hi=gen.AMOUNT_HI)],
    )
    d.update(kw)
    return IngestionSpec(**d)


def clone_tree(src: str, dst: str) -> None:
    """Hard-link copy of an input tree: same bytes and mtimes, and a
    quarantine move in the copy leaves the template untouched."""
    shutil.copytree(src, dst, copy_function=os.link)


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


# -- landing_small_files ---------------------------------------------------


class SmallFiles:
    name = "landing_small_files"
    # the first pass is cold (class loading, JIT); per-batch time then
    # keeps falling for about two more passes
    WARM_PASSES = 2
    BATCHES = 4  # micro-batches per drain
    FILES = FILES_PER_TRIGGER * BATCHES
    # the drift file starts a micro-batch: every earlier batch holds only
    # old-header files, so each drain pays exactly one restart
    DRIFT_FROM = FILES_PER_TRIGGER * (BATCHES // 2)

    def make_inputs(self, inputs: str, seed: int, passes: int) -> None:
        self.counts = gen.write_files(
            inputs, "csv", seed, self.FILES, ROWS_PER_SMALL_FILE, drift_from=self.DRIFT_FROM,
        )

    def one_pass(self, spark, inputs: str, root: str, listener) -> dict:
        """One drain of the landing files, then one ``daily_report``."""
        src = os.path.join(root, "src")
        clone_tree(inputs, src)
        setup_s, (pipe, spec) = _timed(lambda: (
            IngestionPipeline(TableCatalog(spark, os.path.join(root, "catalog"))),
            _spec(root, 1, src, "csv", max_files_per_trigger=FILES_PER_TRIGGER),
        ))
        n0 = len(listener.batches)
        drain_s, q = _timed(lambda: pipe.run_stream(spec, bounded=True, timeout_s=170))
        listener.wait_terminated(str(q.runId))
        batches = listener.batches[n0:]
        report_s, report = _timed(
            lambda: reconcile.daily_report(pipe.catalog, pipe.tables, [spec]).collect())
        n = self.counts["rows"]
        return dict(
            setup_s=setup_s, drain_s=drain_s, report_s=[report_s], rows=n, files=self.FILES,
            committed=n, latencies_ms=[b["duration_ms"]["triggerExecution"] for b in batches
                                       if b["rows"]],
            stream_batches=batches, pipe=pipe, spec=spec, report=report,
        )

    def check(self, spark, m: dict, ck: "Checks") -> None:
        n = self.counts["rows"]
        pipe, spec, report = m["pipe"], m["spec"], m["report"][0]
        main = pipe.catalog.table(spec.table_name).read()
        pii = pipe.catalog.table(spec.pii_table_name).read()
        _count_checks(ck, pipe, spec, report, n, n, n)
        _pii_check(ck, main, pii, n)
        first_drift_id = 1 + self.DRIFT_FROM * ROWS_PER_SMALL_FILE
        drift = main.groupBy(
            (F.col("Id") >= first_drift_id).alias("after"), F.col("Region").isNull().alias("null")
        ).count().collect()
        ck.expect("drift column (after drift file, is NULL) -> rows",
                  {(False, True): first_drift_id - 1, (True, False): n - first_drift_id + 1},
                  {(r["after"], r["null"]): r["count"] for r in drift})
        ck.expect("drift restarts", 1, pipe.tables.logs.read().filter(
            F.col("LogEntryType") == "RESTART").count())
        ck.expect("micro-batches", self.BATCHES, len(m["latencies_ms"]))
        ck.expect("report flag", reconcile.PASS_FLAG, report["RowCountMatchFlag"])


# -- landing_bulk ------------------------------------------------------------


class Bulk:
    name = "landing_bulk"
    WARM_PASSES = 1
    FORMATS = ((1, "csv", 0.01), (2, "json", 0.0), (3, "parquet", 0.0))
    FILES_PER_HEADER = 3
    ROWS_PER_FILE = 33_000
    QUARANTINE_HEADER = 4
    QUARANTINE_GOOD_FILES, QUARANTINE_ROWS_PER_FILE = 2, 100

    def make_inputs(self, inputs: str, seed: int, passes: int) -> None:
        counts = {}
        for hid, fmt, bad in self.FORMATS:
            counts[hid] = gen.write_files(
                os.path.join(inputs, f"h{hid}"), fmt, seed + hid, self.FILES_PER_HEADER,
                self.ROWS_PER_FILE, first_id=hid * 10**8, bad_share=bad,
            )
        q = os.path.join(inputs, f"h{self.QUARANTINE_HEADER}")
        counts[self.QUARANTINE_HEADER] = gen.write_files(
            q, "csv", seed + self.QUARANTINE_HEADER, self.QUARANTINE_GOOD_FILES,
            self.QUARANTINE_ROWS_PER_FILE, first_id=self.QUARANTINE_HEADER * 10**8,
        )
        counts["corrupt_rows"] = gen.write_corrupt_csv(
            q, "part-zz-corrupt.csv", self.QUARANTINE_GOOD_FILES
        )
        self.counts = counts

    def _specs(self, root: str, src: str) -> list[IngestionSpec]:
        specs = [_spec(root, hid, os.path.join(src, f"h{hid}"), fmt) for hid, fmt, _ in self.FORMATS]
        q = self.QUARANTINE_HEADER
        specs.append(_spec(root, q, os.path.join(src, f"h{q}"), "csv"))
        return specs

    def one_pass(self, spark, inputs: str, root: str, listener) -> dict:
        """One ``run_batch`` per header, then one ``daily_report`` over all."""
        src = os.path.join(root, "src")
        clone_tree(inputs, src)
        setup_s, (pipe, specs) = _timed(lambda: (
            IngestionPipeline(TableCatalog(spark, os.path.join(root, "catalog"))),
            self._specs(root, src),
        ))
        latencies, quarantined = [], None
        for spec in specs:
            t = time.perf_counter()
            try:
                pipe.run_batch(spec)
            except BadRecordsError as e:
                if spec.header_id != self.QUARANTINE_HEADER:
                    raise
                quarantined = e  # the expected outcome for this header
            latencies.append((time.perf_counter() - t) * 1e3)
        report_s, report = _timed(
            lambda: reconcile.daily_report(pipe.catalog, pipe.tables, specs).collect())
        c = self.counts
        rows = sum(c[h]["rows"] for h, _, _ in self.FORMATS) + c[self.QUARANTINE_HEADER]["rows"] \
            + c["corrupt_rows"]
        committed = sum(c[h]["rows"] - c[h]["bad_rows"] for h, _, _ in self.FORMATS)
        return dict(
            setup_s=setup_s, drain_s=sum(latencies) / 1e3, report_s=[report_s], rows=rows,
            files=len(self.FORMATS) * self.FILES_PER_HEADER + self.QUARANTINE_GOOD_FILES + 1,
            committed=committed, latencies_ms=latencies, stream_batches=[], pipe=pipe,
            specs=specs, report=report, quarantined=quarantined,
        )

    def check(self, spark, m: dict, ck: "Checks") -> None:
        pipe, c = m["pipe"], self.counts
        report = {r["HeaderID"]: r for r in m["report"]}
        for spec in m["specs"][: len(self.FORMATS)]:
            h = spec.header_id
            good = c[h]["rows"] - c[h]["bad_rows"]
            _count_checks(ck, pipe, spec, report[h], c[h]["rows"], good, good)
            main = pipe.catalog.table(spec.table_name).read()
            _pii_check(ck, main, pipe.catalog.table(spec.pii_table_name).read(), good)
            # source rows that fail the expectation leave source != table
            flag = reconcile.PASS_FLAG if c[h]["bad_rows"] == 0 else reconcile.FAIL_FLAG
            ck.expect(f"header {h} report flag", flag, report[h]["RowCountMatchFlag"])
            viol = os.path.join(spec.error_location, "_expectations")
            ck.expect(f"header {h} expectation-failed rows", c[h]["bad_rows"],
                      spark.read.parquet(viol).count() if os.path.isdir(viol) else 0)
        spec = m["specs"][-1]
        q, n_good = spec.header_id, c[spec.header_id]["rows"]
        ck.expect(f"header {q} raised BadRecordsError", True, m["quarantined"] is not None)
        ck.expect(f"header {q} quarantined rows", n_good + c["corrupt_rows"],
                  spark.read.parquet(spec.corrupt_location).count()
                  if os.path.isdir(spec.corrupt_location) else 0)
        moved = os.listdir(spec.error_location) if os.path.isdir(spec.error_location) else []
        ck.expect(f"header {q} files moved to the error location", ["part-zz-corrupt.csv"],
                  [f.split("-", 1)[1] for f in moved])
        r = report[q]
        # nothing committed: the report has no table or logged count
        ck.expect(f"header {q} report (source, table, logged, flag)",
                  (n_good, None, None, reconcile.FAIL_FLAG),
                  (r["SourceRowCount"], r["TableRowCount"], r["LoggedRowCount"],
                   r["RowCountMatchFlag"]))


# -- corpus_near_dup ---------------------------------------------------------


class CorpusNearDup:
    """One intake over a growing landing directory: each pass lands the
    next document file and restarts the intake on the same checkpoint,
    sink and persisted index, so every pass is one trigger that drops
    docs against everything taken in before."""

    name = "corpus_near_dup"
    # the first pass is cold and finds no index; the second is the
    # first to join the persisted index
    WARM_PASSES = 2
    DOCS_PER_FILE = 100
    READ_BACKS = 10  # a read-back takes ~0.15 s: many calls for a steady median

    def __init__(self) -> None:
        self.landed: dict[str, int] = {}  # files landed, per intake

    def make_inputs(self, inputs: str, seed: int, passes: int) -> None:
        # one file per warm-up and measured pass
        self.docs = gen.write_documents(inputs, seed, self.WARM_PASSES + passes,
                                        self.DOCS_PER_FILE)

    def one_pass(self, spark, inputs: str, root: str, listener) -> dict:
        """Land one more file, drain it, then read the survivors back.
        The passes whose roots share a parent directory share one intake."""
        state = os.path.join(os.path.dirname(root), "corpus")
        src, sink = os.path.join(state, "src"), os.path.join(state, "sink")
        landed = self.landed.setdefault(state, 0)
        index = f"near_dup_index_{list(self.landed).index(state)}"

        def define():
            if landed == 0:
                os.makedirs(src)
                drop_table_and_location(spark, index)
            name = gen.document_file(landed)
            os.link(os.path.join(inputs, name), os.path.join(src, name))
            return (spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", "1").parquet(src))

        setup_s, stream = _timed(define)
        self.landed[state] = landed + 1
        n0 = len(listener.batches)

        def drain():
            q = corpus_mod.corpus_incremental_near_dup_intake(
                stream, sink, os.path.join(state, "checkpoint"), index,
                threshold=NEAR_DUP_THRESHOLD,
            )
            q.awaitTermination(170)
            if q.exception() is not None:
                raise RuntimeError(f"near-dup intake failed: {q.exception()}")
            return q

        drain_s, q = _timed(drain)
        listener.wait_terminated(str(q.runId))
        batches = listener.batches[n0:]
        reads = [_timed(lambda: spark.read.parquet(sink).select("doc_id").collect())
                 for _ in range(self.READ_BACKS)]
        return dict(
            setup_s=setup_s, drain_s=drain_s, report_s=[t for t, _ in reads],
            rows=self.DOCS_PER_FILE, files=1, committed=self.DOCS_PER_FILE,
            latencies_ms=[b["duration_ms"]["triggerExecution"] for b in batches if b["rows"]],
            stream_batches=batches, survivors=sorted(r.doc_id for r in reads[-1][1]),
            landed=landed + 1,
        )

    def check(self, spark, m: dict, ck: "Checks") -> None:
        docs = self.docs[: m["landed"] * self.DOCS_PER_FILE]
        want = near_dup_survivors(docs, NEAR_DUP_THRESHOLD)
        ck.expect(f"near-dup survivors of {len(docs)} docs "
                  "(count, ids not in oracle, oracle ids missing)",
                  (len(want), [], []),
                  (len(m["survivors"]), sorted(set(m["survivors"]) - set(want))[:5],
                   sorted(set(want) - set(m["survivors"]))[:5]))
        ck.expect("micro-batches", 1, len(m["latencies_ms"]))


def near_dup_survivors(docs: list[tuple[int, str]], threshold: float) -> list[int]:
    """The declarative survivor set in DuckDB: a doc survives iff no
    smaller-id doc is >= ``threshold`` word-3-gram Jaccard similar
    (dropped docs block too). Tokens and grams are defined exactly as
    in the registry oracle for ``stream_near_dup_intake_parity``; only
    pairs sharing a gram are compared, which changes no result."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    try:
        con.register("documents", pa.table({
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
        }))
        rows = con.execute(f"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
                FROM documents),
            grams AS (
                SELECT DISTINCT doc_id, gram FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               range(0, len(ts) - 2),
                               i -> array_to_string(list_slice(ts, i + 1, i + 3), ' ')
                           )) AS gram
                    FROM toks WHERE len(ts) >= 3)),
            sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
            shared AS (
                SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n
                FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
            dropped AS (
                SELECT DISTINCT s.b AS doc_id
                FROM shared s JOIN sizes sa ON sa.doc_id = s.a JOIN sizes sb ON sb.doc_id = s.b
                WHERE CAST(s.n AS DOUBLE) / CAST(sa.n + sb.n - s.n AS DOUBLE) >= {threshold})
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
            ORDER BY doc_id
        """).fetchall()
    finally:
        con.close()
    return [r[0] for r in rows]


# -- shared checks -----------------------------------------------------------


class Checks:
    """Output checks of one run: every ``expect`` is one attempted
    check, and a mismatch is one failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def expect(self, what: str, want, got) -> None:
        self.attempted += 1
        if want != got:
            self.failures.append(f"{what}: want {want!r}, got {got!r}")


def _count_checks(ck: Checks, pipe, spec, report_row, source: int, table: int,
                  logged: int) -> None:
    """Table, PII-table and logged counts, and the report's counts."""
    lg = reconcile.logged_row_counts(pipe.tables.logs.read()).filter(
        F.col("HeaderID") == spec.header_id).collect()
    ck.expect(
        f"header {spec.header_id} counts (table, pii, logged, report source/table/logged)",
        (table, table, logged, source, table, logged),
        (pipe.catalog.table(spec.table_name).count(),
         pipe.catalog.table(spec.pii_table_name).count(),
         lg[0]["LoggedRowCount"] if lg else 0,
         report_row["SourceRowCount"], report_row["TableRowCount"],
         report_row["LoggedRowCount"]),
    )


def _pii_check(ck: Checks, main, pii, n: int) -> None:
    """Every PII-table Email is sha2(clear Email, 256) of the same Id."""
    joined = pii.select("Id", F.col("Email").alias("masked")).join(
        main.select("Id", "Email"), "Id")
    agg = joined.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("masked") == F.sha2(F.col("Email"), 256), 1).otherwise(0)).alias("ok"),
    ).collect()[0]
    ck.expect("PII column is sha2(clear, 256) (joined rows, matching)", (n, n),
              (agg["n"], agg["ok"]))


WORKLOADS = {w.name: w for w in (SmallFiles, Bulk, CorpusNearDup)}
