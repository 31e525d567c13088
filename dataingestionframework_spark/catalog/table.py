"""Parquet-backed managed tables with Delta-like DML semantics.

The reference stores everything in Databricks Delta tables and mutates
them with SQL-text ``MERGE``/``UPDATE``/``DELETE``
(``modules/insert_config.py``, ``modules/log_table_control_table_upsert.py``).
This container has no Delta/Iceberg jars, so we provide the same
*semantics* over plain parquet:

- **append** — Spark parquet append into the current version directory
  (no rewrite; the 100 TB fast path).
- **overwrite / update / delete / merge** — copy-on-write: compute the
  new table image, write it to a fresh version directory, atomically
  swap a ``_current`` pointer file (``os.replace``). Readers resolve the
  pointer first, so they never see a half-written version.

The API is deliberately shaped like ``delta.tables.DeltaTable``
(``merge(...).whenMatchedUpdate()...`` collapsed into keyword args) so a
Delta implementation can be swapped in unchanged on a real cluster —
that is the production path; this class is the dependency-free fallback
and the unit-test substrate.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import TableNotFoundError
from ..functions import sql_ident

_META = "_meta.json"
_CURRENT = "_current"
_HISTORY = "_history.jsonl"


def _col(expr: Column | str) -> Column:
    return expr if isinstance(expr, Column) else F.expr(expr)


class ManagedTable:
    """One parquet-backed table under ``root`` with versioned snapshots."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # -- version plumbing ---------------------------------------------------

    def _pointer(self) -> str:
        return os.path.join(self.root, _CURRENT)

    def exists(self) -> bool:
        return os.path.exists(self._pointer())

    def _pointer_lines(self) -> list[str]:
        try:
            with open(self._pointer()) as f:
                return f.read().splitlines()
        except FileNotFoundError:
            raise TableNotFoundError(self.root)

    def _current_version(self) -> str:
        lines = self._pointer_lines()
        return lines[0].strip() if lines else ""

    def _txns(self) -> dict[str, int]:
        """Application transaction versions riding the commit pointer
        (Delta's ``txn`` appId/version pattern). Stored on line 2 of
        the pointer file, so a txn commits in the SAME ``os.replace``
        as the data it describes — an idempotent streaming sink
        (epoch <= txn_version → skip) gets exactly-once with no
        crash window between data write and bookkeeping write."""
        try:
            lines = self._pointer_lines()
        except TableNotFoundError:
            return {}
        if len(lines) < 2 or not lines[1].strip():
            return {}
        return {k: int(v) for k, v in json.loads(lines[1]).items()}

    def txn_version(self, app_id: str) -> int:
        """Last committed transaction version for ``app_id`` (-1 if
        never recorded — including when the table does not exist, so a
        dropped-and-recreated table can never inherit a stale epoch)."""
        return self._txns().get(app_id, -1)

    def data_dir(self) -> str:
        return os.path.join(self.root, self._current_version())

    def _new_version_dir(self) -> tuple[str, str]:
        v = f"v-{uuid.uuid4().hex[:12]}"
        return v, os.path.join(self.root, v)

    def _swap(
        self,
        version: str,
        schema: T.StructType,
        txn: tuple[str, int] | None = None,
        clear_txns: bool = False,
    ) -> None:
        os.makedirs(self.root, exist_ok=True)
        self._write_meta(schema)
        txns = {} if clear_txns else self._txns() if self.exists() else {}
        if txn is not None:
            txns[str(txn[0])] = int(txn[1])
        tmp = self._pointer() + f".tmp-{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            f.write(version)
            if txns:
                f.write("\n" + json.dumps(txns, sort_keys=True))
        os.replace(tmp, self._pointer())  # atomic on POSIX

    def _meta(self) -> dict:
        try:
            with open(os.path.join(self.root, _META)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _write_meta(
        self,
        schema: T.StructType,
        partition_cols: list[str] | None = None,
        constraints: dict | None = None,
        tags: dict | None = None,
        generated: dict | None = None,
    ) -> None:
        prev = self._meta()
        if partition_cols is None:
            partition_cols = self.partition_cols()
        if constraints is None:
            constraints = prev.get("constraints") or {}
        if tags is None:
            tags = prev.get("tags") or {}
        if generated is None:
            generated = prev.get("generated") or {}
        tmp = os.path.join(self.root, _META + f".tmp-{uuid.uuid4().hex[:6]}")
        with open(tmp, "w") as f:
            json.dump(
                {
                    "schema": schema.jsonValue(),
                    "partition_cols": partition_cols,
                    "constraints": constraints,
                    "tags": tags,
                    "generated": generated,
                },
                f,
            )
        os.replace(tmp, os.path.join(self.root, _META))

    # -- CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT parity) --------

    def constraints(self) -> dict[str, str]:
        return dict(self._meta().get("constraints") or {})

    def add_check_constraint(self, name: str, expr: str) -> None:
        """Register a CHECK constraint (SQL predicate over the row).
        Existing data is validated first — exactly Delta's ALTER TABLE
        ADD CONSTRAINT semantics (the scan is the price of the
        guarantee); subsequent Spark-path writes are validated in one
        aggregate pass per write. The driver-side Arrow fast path
        (control-plane tables) is exempt by design — control tables
        define no constraints."""
        cons = self.constraints()
        cons[name] = expr
        if self.exists():
            self._validate_constraints(self.read(), cons={name: expr})
        self._write_meta(self.schema() if self.exists() else T.StructType(), constraints=cons)

    def drop_check_constraint(self, name: str) -> None:
        cons = self.constraints()
        cons.pop(name, None)
        self._write_meta(self.schema(), constraints=cons)

    def _validate_constraints(self, df: DataFrame, cons: dict | None = None) -> None:
        from ..errors import ConstraintViolationError

        cons = self.constraints() if cons is None else cons
        if not cons:
            return
        # one aggregate job counts every constraint's violations at once
        counts = df.agg(
            *[
                F.sum((~F.expr(e)).cast("long")).alias(n)
                for n, e in cons.items()
            ]
        ).first()
        bad = {n: int(counts[n] or 0) for n in cons if (counts[n] or 0) > 0}
        if bad:
            raise ConstraintViolationError(self.root, bad)

    def schema(self) -> T.StructType:
        with open(os.path.join(self.root, _META)) as f:
            return T.StructType.fromJson(json.load(f)["schema"])

    def partition_cols(self) -> list[str]:
        try:
            with open(os.path.join(self.root, _META)) as f:
                return json.load(f).get("partition_cols") or []
        except FileNotFoundError:
            return []

    def evolve_schema(self, merged: T.StructType) -> None:
        """Admit new columns (NULL-backfilled on read) — the parquet
        backend just records the union schema; Delta ALTERs the table."""
        self._write_meta(self._merged_schema(merged))

    def restore(self, version: int | None = None, tag: str | None = None) -> None:
        """Delta ``RESTORE TABLE`` analogue: roll the table forward to
        a NEW version whose content equals the given historical
        version (or tag). History is preserved — the restore is itself
        a commit, exactly Delta's semantics — so a bad restore can be
        restored away again. Optimistic-concurrency-guarded like every
        other copy-on-write DML."""
        # capture the base BEFORE resolving the historical image so a
        # commit landing during the read conflicts (Delta: RESTORE is a
        # transaction like any other)
        base = self._current_version()
        base_commits = len(self._history_lines())
        df = self.read(version=version, tag=tag)
        self.overwrite(
            df, _op="restore", expect_version=base, expect_commits=base_commits
        )

    def vacuum(self, keep_current: bool = True) -> int:
        """Drop non-current version directories (Delta VACUUM analogue).
        Version dirs referenced by a TAG are pinned and survive."""
        if not self.exists():
            return 0
        current = self._current_version()
        pinned = {current} if keep_current else set()
        tags = self._meta().get("tags") or {}
        if tags:
            by_v = {e["version"]: e["dir"] for e in self._history_lines()}
            pinned |= {by_v[v] for v in tags.values() if v in by_v}
        n = 0
        for d in os.listdir(self.root):
            if d.startswith("v-") and d not in pinned:
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
                n += 1
        return n

    # -- tags (named, vacuum-pinned snapshots — Iceberg-tag analogue) -------

    def tags(self) -> dict[str, int]:
        return dict(self._meta().get("tags") or {})

    def tag(self, name: str, version: int | None = None) -> int:
        """Name a snapshot (default: the latest committed version).
        Tagged versions are PINNED: vacuum will not delete their files,
        so ``read(tag=...)`` keeps working — the reproducibility anchor
        a training run records ('trained on corpus@v2024-08')."""
        if version is None:
            entries = self._history_lines()
            if not entries:
                raise TableNotFoundError(f"{self.root}: no commits to tag")
            version = entries[-1]["version"]
        tags = self.tags()
        tags[name] = version
        self._write_meta(self.schema(), tags=tags)
        return version

    def untag(self, name: str) -> None:
        tags = self.tags()
        tags.pop(name, None)
        self._write_meta(self.schema(), tags=tags)

    # -- generated columns (Delta GENERATED ALWAYS AS (expr) parity) --------

    def generated_columns(self) -> dict[str, str]:
        return dict(self._meta().get("generated") or {})

    def set_generated_column(self, name: str, expr: str) -> None:
        """Declare ``name`` as GENERATED ALWAYS AS (expr): appends that
        omit the column get it computed server-side; appends that supply
        it are validated against the expression (Delta's rule — a
        caller may not disagree with the generator). The standard use
        is derived partition keys (``dt = to_date(ts)``) so writers
        never hand-maintain them."""
        gen = self.generated_columns()
        gen[name] = expr
        self._write_meta(self.schema(), generated=gen)

    def _apply_generated(self, df: DataFrame) -> DataFrame:
        from ..errors import ConstraintViolationError

        gen = self.generated_columns()
        for name, expr in gen.items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
            else:
                n_bad = df.filter(
                    ~(F.col(name).eqNullSafe(F.expr(expr)))
                ).count()
                if n_bad:
                    raise ConstraintViolationError(
                        self.root, {f"generated:{name}": n_bad}
                    )
        return df

    # -- commit log (time travel / DESCRIBE HISTORY analogue) --------------
    #
    # Every committed operation appends one JSON line: ordinal, op,
    # version dir, the RELATIVE file list of the table image at that
    # point, and the schema — a miniature Delta transaction log.
    # ``read(version=n)`` reconstructs any past image from its manifest
    # (appends share a version dir, so the file list — not the dir — is
    # the source of truth). The Delta backend maps these to native
    # ``versionAsOf`` / ``DeltaTable.history()`` instead.
    #
    # Concurrency: the pointer swap is atomic for readers, and
    # copy-on-write commits carry their base version — a raced commit
    # fails with ConcurrentWriteError rather than clobbering (see
    # overwrite()). Remaining gap: two APPENDS in the same instant interleave
    # log lines benignly (both files land; counts stay right). Full
    # multi-writer arbitration is what the Delta backend's transaction
    # log provides on a cluster.

    def _history_path(self) -> str:
        return os.path.join(self.root, _HISTORY)

    def _log_commit(self, op: str) -> None:
        from datetime import datetime, timezone

        entry = {
            "version": len(self._history_lines()),
            "op": op,
            "dir": self._current_version(),
            "files": sorted(self.data_files()),
            "schema": self.schema().jsonValue(),
            "ts": datetime.now(timezone.utc).isoformat(),
        }
        with open(self._history_path(), "a") as f:
            f.write(json.dumps(entry) + "\n")

    def _history_lines(self) -> list[dict]:
        try:
            with open(self._history_path()) as f:
                return [json.loads(ln) for ln in f if ln.strip()]
        except FileNotFoundError:
            return []

    def history(self) -> list[dict]:
        """Commit history, oldest first: version / op / ts / n_files —
        the ``DESCRIBE HISTORY`` analogue."""
        return [
            {"version": e["version"], "op": e["op"], "ts": e["ts"],
             "n_files": len(e["files"])}
            for e in self._history_lines()
        ]

    def read_changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change Data Feed analogue: rows that changed AFTER
        ``from_version`` up to and including ``to_version`` (default:
        latest), tagged ``_change_type`` ∈ {insert, delete} (an update
        appears as delete+insert of the row images).

        Two physical paths, picked from the commit log:

        - **append-only range** → file-level CDC: read exactly the
          files added in the range (manifest set difference) — zero
          diff computation; this is the 100 TB incremental-consumption
          fast path and costs only the new data.
        - **any rewrite in range** → row-level diff of the two images
          (``exceptAll`` both ways — one shuffle each on full rows),
          correct for every op at bag semantics.
        """
        entries = self._history_lines()
        by_v = {e["version"]: e for e in entries}
        if to_version is None:
            to_version = max(by_v)
        for v in (from_version, to_version):
            if v not in by_v:
                raise TableNotFoundError(f"{self.root}: version {v} not in history")
        rng = [e for e in entries if from_version < e["version"] <= to_version]
        frm, to = by_v[from_version], by_v[to_version]
        append_only = all(e["op"] == "append" for e in rng) and frm["dir"] == to["dir"]
        if append_only:
            new_files = sorted(set(to["files"]) - set(frm["files"]))
            schema = T.StructType.fromJson(to["schema"])
            if not new_files:
                empty = self.spark.createDataFrame([], schema)
                return empty.withColumn("_change_type", F.lit("insert"))
            vdir = os.path.join(self.root, to["dir"])
            return (
                self.spark.read.schema(schema)
                .option("basePath", vdir)
                .parquet(*[os.path.join(vdir, f) for f in new_files])
                .withColumn("_change_type", F.lit("insert"))
            )
        old, new = self.read(version=from_version), self.read(version=to_version)
        cols = [c for c in new.columns if c in old.columns]
        inserted = new.select(cols).exceptAll(old.select(cols))
        deleted = old.select(cols).exceptAll(new.select(cols))
        return inserted.withColumn("_change_type", F.lit("insert")).unionByName(
            deleted.withColumn("_change_type", F.lit("delete"))
        )

    # -- reads --------------------------------------------------------------

    def read(self, version: int | None = None, tag: str | None = None) -> DataFrame:
        # Explicit stored schema: files written before a schema evolution
        # lack the new columns; the parquet reader fills them with NULL.
        # (Partition columns in the schema resolve from directory names.)
        if tag is not None:
            if version is not None:
                raise ValueError("read: pass version OR tag, not both")
            tags = self.tags()
            if tag not in tags:
                raise TableNotFoundError(
                    f"{self.root}: unknown tag {tag!r} (have {sorted(tags)})"
                )
            version = tags[tag]
        if version is None:
            return self.spark.read.schema(self.schema()).parquet(self.data_dir())
        entries = self._history_lines()
        by_v = {e["version"]: e for e in entries}
        if version not in by_v:
            raise TableNotFoundError(
                f"{self.root}: version {version} not in history "
                f"(have {sorted(by_v)}; older versions may be vacuumed)"
            )
        e = by_v[version]
        vdir = os.path.join(self.root, e["dir"])
        schema = T.StructType.fromJson(e["schema"])
        paths = [os.path.join(vdir, f) for f in e["files"]]
        if not paths:
            return self.spark.createDataFrame([], schema)
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise TableNotFoundError(
                f"{self.root}: version {version} files vacuumed ({missing[:3]}…)"
            )
        # basePath keeps partition-directory columns resolving when
        # individual files are listed instead of the table root.
        return (
            self.spark.read.schema(schema)
            .option("basePath", vdir)
            .parquet(*paths)
        )

    def read_stream(self) -> DataFrame:
        """The table as a STREAMING source (Delta ``readStream`` parity
        for the append path): downstream consumers incrementally process
        rows as appends land, with checkpointed exactly-once file
        tracking. Valid for append-only usage — copy-on-write DML swaps
        the version directory out from under a running stream (Delta
        raises the same way without ``skipChangeCommits``); restart the
        stream after DML, or consume DML via ``read_changes``."""
        return (
            self.spark.readStream.schema(self.schema())
            .option("maxFilesPerTrigger", "64")
            .parquet(self.data_dir())
        )

    def count(self) -> int:
        """Row count from parquet footers — no scan, no Spark job."""
        return self._dir_rows(self.data_dir())

    @staticmethod
    def _dir_rows(d: str, only_files: set[str] | None = None) -> int:
        import pyarrow.parquet as pq

        total = 0
        for base, dirs, files in os.walk(d):
            # Spark stages in-flight output under _temporary/ and commits
            # by atomic rename — only committed files are countable
            # (in-flight part files read as 0-byte parquet and crash the
            # footer reader when a stream appends concurrently)
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                p = os.path.join(base, f)
                rel = os.path.relpath(p, d)
                if f.endswith(".parquet") and (only_files is None or rel in only_files):
                    total += pq.ParquetFile(p).metadata.num_rows
        return total

    def data_files(self) -> set[str]:
        d = self.data_dir()
        out: set[str] = set()
        for base, dirs, files in os.walk(d):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            out |= {
                os.path.relpath(os.path.join(base, f), d)
                for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            }
        return out

    def _writer(self, df: DataFrame, mode: str):
        w = df.write.mode(mode)
        pcols = self.partition_cols()
        if pcols:
            w = w.partitionBy(*pcols)
        return w

    # -- writes -------------------------------------------------------------

    def create(
        self,
        schema: T.StructType,
        overwrite: bool = False,
        partition_cols: list[str] | None = None,
    ) -> "ManagedTable":
        if self.exists() and not overwrite:
            return self
        v, path = self._new_version_dir()
        os.makedirs(path, exist_ok=True)
        self._write_meta(schema, partition_cols or [])
        self._swap(v, schema)
        if partition_cols:
            self._log_commit("create")
            return self  # partitioned: empty dir IS the empty table
        try:
            # Arrow fast path: an empty parquet file without a Spark job
            import pyarrow as pa
            import pyarrow.parquet as pq

            aschema = self._arrow_schema()
            pq.write_table(
                pa.Table.from_pydict({f.name: [] for f in aschema}, schema=aschema),
                os.path.join(path, "part-empty.parquet"),
            )
        except ValueError:
            # types the fast path doesn't map (nested structs, …) → Spark
            self.spark.createDataFrame([], schema).write.mode("overwrite").parquet(path)
        self._log_commit("create")
        return self

    def _merged_schema(self, incoming: T.StructType) -> T.StructType:
        """Union of stored + incoming columns (mergeSchema semantics)."""
        if not self.exists():
            return incoming
        stored = self.schema()
        names = {f.name for f in stored.fields}
        fields = list(stored.fields) + [f for f in incoming.fields if f.name not in names]
        return T.StructType(fields)

    @staticmethod
    def _conform(df: DataFrame, incoming: T.StructType, schema: T.StructType) -> DataFrame:
        """``df`` (whose schema is ``incoming``) projected onto ``schema``:
        one ``selectExpr`` of SQL text — a field already of its stored
        type passes as is, an atomic one is CAST, a missing one is NULL.
        Nested types that differ go through ``Column.cast``, whose
        ``DataType`` keeps the stored nested nullability that SQL type
        text cannot express."""
        have = {f.name: f.dataType for f in incoming.fields}
        exprs, recast = [], {}
        for f in schema.fields:
            q, got = sql_ident(f.name), have.get(f.name)
            if got == f.dataType:
                exprs.append(q)
            elif isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType,
                                         T.UserDefinedType)):
                exprs.append(q if got is not None else f"NULL AS {q}")
                recast[f.name] = F.col(f.name).cast(f.dataType)
            else:
                value = q if got is not None else "NULL"
                exprs.append(f"CAST({value} AS {f.dataType.simpleString()}) AS {q}")
        out = df.selectExpr(*exprs)
        return out.withColumns(recast) if recast else out

    def append(self, df: DataFrame, merge_schema: bool = True) -> None:
        """Parquet append into the current version dir — no rewrite.

        With ``merge_schema`` new columns are admitted (older files read
        back as NULL for them), matching Delta ``mergeSchema``; without,
        the frame is conformed to the stored schema.
        """
        df = self._apply_generated(df)
        self._validate_constraints(df)
        if not self.exists():
            self.create(df.schema)
            # append (not overwrite) into the created dir: the create
            # commit's manifest references its empty file — clobbering
            # it would break read(version=0)
            self._writer(df, "append").parquet(self.data_dir())
            self._log_commit("append")
            return
        incoming = df.schema
        schema = self._merged_schema(incoming) if merge_schema else self.schema()
        out = self._conform(df, incoming, schema)
        self._writer(out, "append").parquet(self.data_dir())
        if merge_schema:
            self._write_meta(schema)
        self._log_commit("append")

    def append_counted(self, df: DataFrame, merge_schema: bool = True) -> int:
        """Append and return the number of rows written — the
        backend-neutral ingest-count API (the pipeline logs it as
        ROW_COUNT). Parquet backend: diff the file set and sum the new
        files' footer row counts (no scan); the Delta backend reads the
        commit's ``operationMetrics`` instead.
        """
        before = self.data_files() if self.exists() else set()
        self.append(df, merge_schema)
        return self._dir_rows(self.data_dir(), self.data_files() - before)

    def overwrite(
        self,
        df: DataFrame,
        _op: str = "overwrite",
        expect_version: str | None = None,
        expect_commits: int | None = None,
        txn: tuple[str, int] | None = None,
        _clear_txns: bool = False,
    ) -> None:
        # UPDATE/MERGE expressions can break constraints just as inserts
        # can; every Spark-path write funnels through here or append()
        self._validate_constraints(df)
        if expect_version is None and self.exists():
            expect_version = self._current_version()
        if expect_commits is None and self.exists():
            expect_commits = len(self._history_lines())
        v, path = self._new_version_dir()
        self._writer(df, "overwrite").parquet(path)
        # optimistic concurrency (Delta commit-conflict analogue): the
        # new image was computed FROM expect_version — if another writer
        # swapped the pointer meanwhile, committing would silently drop
        # their write, so fail instead. The pointer alone is blind to
        # APPENDS (they add files without moving the version — Delta's
        # ConcurrentAppendException case), so the commit COUNT is
        # checked too: any commit of any kind landing after the base
        # was captured conflicts. The loser recomputes and retries.
        if expect_version is not None and self.exists():
            now = self._current_version()
            now_commits = len(self._history_lines())
            if now != expect_version or (
                expect_commits is not None and now_commits != expect_commits
            ):
                from ..errors import ConcurrentWriteError

                shutil.rmtree(path, ignore_errors=True)
                raise ConcurrentWriteError(self.root, expect_version, now)
        self._swap(v, df.schema, txn=txn, clear_txns=_clear_txns)
        self._log_commit(_op)

    def truncate(self) -> None:
        # truncation voids any streaming-sink bookkeeping too: a rollup
        # restarted on the emptied table under a fresh checkpoint sees
        # epoch ids from 0 again, and a stale txn would silently skip
        # them all (round-9 ADVICE)
        self.overwrite(
            self.spark.createDataFrame([], self.schema()),
            _op="truncate",
            _clear_txns=True,
        )

    def replace_where(self, df: DataFrame, condition: Column | str) -> None:
        """Delta ``replaceWhere`` analogue: atomically replace exactly
        the rows matching ``condition`` with ``df``. Incoming rows are
        validated against the condition first (as Delta does) so a bad
        predicate can't silently leak rows into foreign partitions.
        The scale pattern this serves is idempotent partition reloads:
        re-run yesterday's ingest, replace only ``dt = yesterday``.
        Copy-on-write here; the Delta backend maps to a native
        replaceWhere overwrite that rewrites only matching files.
        """
        cond = _col(condition)
        # NULL-safe in both directions (Delta semantics): only rows where
        # the predicate is TRUE are replaced — NULL-cond existing rows are
        # RETAINED, and NULL-cond incoming rows count as violations. A bare
        # filter(~cond) would silently delete the former and admit the
        # latter.
        cond_true = cond.eqNullSafe(F.lit(True))
        n_bad = df.filter(~cond_true).count()
        if n_bad:
            raise ValueError(
                f"replace_where: {n_bad} incoming rows do not match the "
                "replacement condition"
            )
        base = self._current_version()
        base_commits = len(self._history_lines())
        merged = self.read().filter(~cond_true).unionByName(df)
        self.overwrite(
            merged,
            _op="replace_where",
            expect_version=base,
            expect_commits=base_commits,
        )

    # -- DML (copy-on-write; Delta swaps in transparently on a cluster) -----

    def delete(self, condition: Column | str) -> None:
        base = self._current_version()
        base_commits = len(self._history_lines())
        self.overwrite(
            self.read().filter(~_col(condition)),
            _op="delete",
            expect_version=base,
            expect_commits=base_commits,
        )

    def update(self, condition: Column | str, set: Mapping[str, Column | str]) -> None:
        cond = _col(condition)
        base = self._current_version()
        base_commits = len(self._history_lines())
        df = self.read()
        cols = [
            F.when(cond, _col(set[c])).otherwise(F.col(c)).alias(c) if c in set else F.col(c)
            for c in df.columns
        ]
        self.overwrite(
            df.select(*cols),
            _op="update",
            expect_version=base,
            expect_commits=base_commits,
        )

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        when_matched_update: Mapping[str, Column | str] | str | None = None,
        when_not_matched_insert: bool = True,
        when_not_matched_by_source_update: Mapping[str, Column | str] | None = None,
        matched_condition: Column | str | None = None,
        merge_schema: bool = False,
        return_metrics: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> dict | None:
        """Delta-style MERGE on equality keys ``on``.

        Emulated as one full-outer join + per-column CASE — a single
        shuffle on the merge keys, the same physical shape Delta's own
        merge produces. Covers the reference's five merge variants
        (``modules/insert_config.py:146-468``) including the
        ``WHEN NOT MATCHED BY SOURCE THEN UPDATE`` soft-delete.

        ``when_matched_update``: dict of target column -> expr over the
        joined frame (source cols as ``src.<c>``), or "all" to take every
        source column.

        ``merge_schema=True`` = Delta ``withSchemaEvolution()``: source
        columns absent from the target are admitted first (NULL-backfilled
        on historic rows), so upstream producers can add fields without a
        migration step. ``return_metrics=True`` returns Delta-operation-
        metrics-style counts {n_matched, n_inserted, n_not_matched_by_
        source} at the cost of one extra aggregate job over the join;
        ``n_matched`` follows Delta's numTargetRowsUpdated — rows the
        matched-UPDATE clause applied to (0 when no update clause), NOT
        raw join matches — so both backends report identical metrics.
        """
        if merge_schema:
            known = set(self.schema().fieldNames())
            if any(f.name not in known for f in source.schema.fields):
                self.evolve_schema(source.schema)
        # Capture the base version BEFORE read() resolves the data path so
        # the optimistic-concurrency check covers a base that moves between
        # read and commit (same protection as delete/update/replace_where).
        base_version = self._current_version()
        base_commits = len(self._history_lines())
        target = self.read()
        tcols = target.columns
        # Presence sentinels survive the full-outer join where key columns
        # are coalesced; aliases applied last so tgt.c / src.c resolve.
        t2 = target.withColumn("_tgt_flag", F.lit(1)).alias("tgt")
        s2 = source.withColumn("_src_flag", F.lit(1)).alias("src")
        joined = t2.join(s2, on, "full_outer")
        tgt_present = F.col("_tgt_flag").isNotNull()
        src_present = F.col("_src_flag").isNotNull()

        if when_matched_update == "all":
            when_matched_update = {c: F.col(f"src.{c}") for c in source.columns if c not in on}
        matched = tgt_present & src_present
        if matched_condition is not None:
            matched = matched & _col(matched_condition)

        out_cols = []
        for c in tcols:
            in_src = c in source.columns
            tgt_c = F.col(c) if c in on else F.col(f"tgt.{c}")
            src_c = (F.col(c) if c in on else F.col(f"src.{c}")) if in_src else F.lit(None)
            expr = tgt_c
            if when_matched_update and c in when_matched_update:
                expr = F.when(matched, _col(when_matched_update[c])).otherwise(expr)
            if when_not_matched_by_source_update and c in when_not_matched_by_source_update:
                expr = F.when(
                    tgt_present & ~src_present, _col(when_not_matched_by_source_update[c])
                ).otherwise(expr)
            if when_not_matched_insert and in_src:
                expr = F.when(~tgt_present & src_present, src_c).otherwise(expr)
            out_cols.append(expr.alias(c))

        metrics = None
        if return_metrics:
            # Delta operationMetrics semantics: n_matched mirrors
            # numTargetRowsUpdated — rows the matched-UPDATE clause
            # actually applied to, 0 when no update clause is configured.
            updated = matched if when_matched_update else F.lit(False)
            m = joined.agg(
                F.sum(updated.cast("long")).alias("n_matched"),
                F.sum((src_present & ~tgt_present).cast("long")).alias("n_inserted"),
                F.sum((tgt_present & ~src_present).cast("long")).alias(
                    "n_not_matched_by_source"
                ),
            ).first()
            metrics = {k: (m[k] or 0) for k in m.asDict()}
        base = joined if when_not_matched_insert else joined.filter(tgt_present)
        self.overwrite(
            base.select(*out_cols),
            _op="merge",
            expect_version=base_version,
            expect_commits=base_commits,
            txn=txn,
        )
        return metrics

    # -- Arrow fast path for tiny control-plane tables ----------------------
    #
    # System tables (control, logs) see one-row appends and single-row
    # updates per pipeline step. Running those through Spark jobs costs
    # ~0.5-1 s each in scheduler overhead; Delta solves this with driver-
    # side transaction-log writes. Our analogue: direct pyarrow parquet
    # I/O on the same files Spark reads. Only valid for small tables —
    # data-path writes still go through Spark.

    def _arrow_schema(self):
        """Arrow schema derived from the STORED Spark schema (not a file
        footer): timestamps must carry tz=UTC so Spark reads them back as
        TimestampType, not TIMESTAMP_NTZ."""
        import pyarrow as pa

        def conv(dt: T.DataType) -> pa.DataType:
            mapping = {
                T.LongType(): pa.int64(),
                T.IntegerType(): pa.int32(),
                T.ShortType(): pa.int16(),
                T.ByteType(): pa.int8(),
                T.StringType(): pa.string(),
                T.DoubleType(): pa.float64(),
                T.FloatType(): pa.float32(),
                T.BooleanType(): pa.bool_(),
                T.BinaryType(): pa.binary(),
                T.DateType(): pa.date32(),
                T.TimestampType(): pa.timestamp("us", tz="UTC"),
            }
            if dt in mapping:
                return mapping[dt]
            if isinstance(dt, T.DecimalType):
                return pa.decimal128(dt.precision, dt.scale)
            if isinstance(dt, T.ArrayType):
                return pa.list_(conv(dt.elementType))
            raise ValueError(f"arrow fast path: unsupported type {dt}")

        return pa.schema([pa.field(f.name, conv(f.dataType), True) for f in self.schema().fields])

    def append_rows(self, rows: list[dict]) -> None:
        """Driver-side append of a few rows (no Spark job).
        Unpartitioned tables only (control-plane tables never partition)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self.partition_cols():
            raise ValueError("append_rows: not supported on partitioned tables")
        schema = self._arrow_schema()
        cols = {f.name: [r.get(f.name) for r in rows] for f in schema}
        table = pa.Table.from_pydict(cols, schema=schema)
        out = os.path.join(self.data_dir(), f"part-arrow-{uuid.uuid4().hex}.parquet")
        pq.write_table(table, out)
        self._log_commit("append")

    def update_rows(self, key_col: str, key_val, sets: Mapping[str, object]) -> None:
        """Driver-side single-key update (read-all → mutate → swap).

        ``sets`` values are plain Python values, not Column exprs."""
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from datetime import datetime, timezone

        schema = self._arrow_schema()
        pdf = pq.read_table(self.data_dir()).to_pandas()
        mask = pdf[key_col] == key_val
        for c, v in sets.items():
            if isinstance(v, datetime):
                if v.tzinfo is None:
                    v = v.replace(tzinfo=timezone.utc)  # match tz-aware dtype
                # make the column tz-aware BEFORE assignment — setting a
                # tz-aware value into naive datetime64[ns] is deprecated
                pdf[c] = pd.to_datetime(pdf[c], utc=True)
            elif pdf[c].dtype == object or v is None:
                pdf[c] = pdf[c].astype(object)
            pdf.loc[mask, c] = v
        for f in schema:
            if pa.types.is_timestamp(f.type):
                pdf[f.name] = pd.to_datetime(pdf[f.name], utc=True)
        v_name, path = self._new_version_dir()
        os.makedirs(path, exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
            os.path.join(path, f"part-arrow-{uuid.uuid4().hex}.parquet"),
        )
        self._swap(v_name, self.schema())
        self._log_commit("update")

    def optimize(self, target_partitions: int | None = None) -> None:
        """Compact small files (Delta OPTIMIZE analogue): rewrite the
        current image into ``target_partitions`` files."""
        df = self.read()
        n = target_partitions or max(1, self.spark.sparkContext.defaultParallelism // 4)
        self.overwrite(df.coalesce(n), _op="optimize")


class TableCatalog:
    """Filesystem-rooted namespace of :class:`ManagedTable`s.

    ``schema.table`` names map to nested directories — the analogue of
    the reference's ``CREATE SCHEMA``/``USE`` registry
    (``schema/schemas/1_schemas.py:40-42`` + ``config/schemas_tables.json``).

    ``backend='delta'`` swaps in :class:`~.delta.DeltaManagedTable`
    (requires delta-spark on the cluster); the default parquet backend
    is dependency-free with the same semantics.
    """

    def __init__(self, spark: SparkSession, root: str, backend: str = "parquet"):
        if backend not in ("parquet", "delta"):
            raise ValueError(f"unknown backend {backend!r}; use 'parquet' or 'delta'")
        self.spark = spark
        self.root = root
        self.backend = backend
        os.makedirs(root, exist_ok=True)

    def create_schema(self, name: str) -> None:
        os.makedirs(os.path.join(self.root, name), exist_ok=True)

    def table(self, name: str):
        rel = os.path.join(*name.split("."))
        path = os.path.join(self.root, rel)
        if self.backend == "delta":
            from .delta import DeltaManagedTable

            return DeltaManagedTable(self.spark, path)
        return ManagedTable(self.spark, path)

    def table_exists(self, name: str) -> bool:
        return self.table(name).exists()

    def drop(self, name: str) -> None:
        path = os.path.join(self.root, *name.split("."))
        shutil.rmtree(path, ignore_errors=True)
        # a dropped table takes its store rotation dirs with it —
        # otherwise recover_store could roll a leftover backup into
        # place, and a table recreated at this path under a fresh
        # checkpoint lineage would inherit its stale epoch and silently
        # skip every batch. Table txns need no cleanup: they live in
        # the pointer file that was just removed.
        from ..session import drop_store

        drop_store(self.spark, path)
