"""Crash-point matrix for the two rename-based commit protocols.

- Parquet store directory: ``session.commit_store`` /
  ``session.recover_store``, driven through ``cms_merge_into_store``
  (a streaming merge with an epoch) and ``forget_documents`` (a
  rewrite that carries the epoch forward).
- Bucketed catalog table: ``bucketing.replace_bucketed_table`` /
  ``bucketing.recover_bucketed_table``.

Each test first counts the mutating steps one commit performs
(Hadoop FS ``create``/``rename``/``delete`` through ``session._fs``;
catalog drop/write/rename through the bucketing module), then for
every step k crashes the commit once just BEFORE step k runs and once
just AFTER it ran. Recovery must land on exactly the old image with
the old epoch or the new image with the new epoch, and a redelivery
of the same commit must then end on the new image (exactly-once).
"""

import contextlib
import os
import shutil

import pytest

from dataingestionframework_spark import session as S
from dataingestionframework_spark.operators import bucketing as B


class Crash(Exception):
    pass


class Steps:
    """Counts mutating steps; raises :class:`Crash` at step ``fail_at``
    (before it runs, or right after it ran when ``after``)."""

    def __init__(self, fail_at=None, after=False):
        self.n = 0
        self.fail_at = fail_at
        self.after = after

    def run(self, fn, *args):
        self.n += 1
        if self.n == self.fail_at and not self.after:
            raise Crash(f"before step {self.n}")
        out = fn(*args)
        if self.n == self.fail_at:
            if hasattr(out, "close"):  # a created file: crash after closing it empty
                out.close()
            raise Crash(f"after step {self.n}")
        return out


class FaultyFS:
    """Hadoop FileSystem proxy routing create/rename/delete through
    :class:`Steps`; every other call passes through."""

    def __init__(self, fs, steps):
        self._fs = fs
        self._steps = steps

    def __getattr__(self, name):
        attr = getattr(self._fs, name)
        if name not in ("create", "rename", "delete"):
            return attr
        return lambda *a: self._steps.run(attr, *a)


@contextlib.contextmanager
def faulty_fs(monkeypatch, steps):
    real = S._fs

    def fs(spark, path):
        handle, jpath = real(spark, path)
        return FaultyFS(handle, steps), jpath

    with monkeypatch.context() as m:
        m.setattr(S, "_fs", fs)
        yield


@contextlib.contextmanager
def faulty_catalog(monkeypatch, steps):
    with monkeypatch.context() as m:
        for name in ("drop_table_and_location", "write_bucketed", "_rename_table"):
            real = getattr(B, name)
            m.setattr(B, name, lambda *a, _f=real: steps.run(_f, *a))
        yield


def crash_points(n):
    return [(k, after) for k in range(1, n + 1) for after in (False, True)]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _store_state(spark, store):
    """(rows, epoch) after recovery; rows is None when no store exists."""
    S.recover_store(spark, store)
    rows = _rows(spark.read.parquet(store)) if os.path.exists(store) else None
    return rows, S.store_epoch(spark, store)


def _copy(src, dst):
    if os.path.exists(src):
        shutil.copytree(src, dst)
    return dst


@pytest.mark.parametrize("first_commit", [False, True])
def test_commit_store_crash_matrix_through_cms_merge(
    spark, tmp_path, monkeypatch, first_commit
):
    from dataingestionframework_spark.operators.sketches import cms_merge_into_store

    b0 = spark.createDataFrame([(i % 7,) for i in range(30)], "user_id long")
    b1 = spark.createDataFrame([(i % 5,) for i in range(20)], "user_id long")

    def merge(store, batch, epoch):
        cms_merge_into_store(batch, "user_id", store, depth=2, width=32, batch_id=epoch)

    # every run starts from a copy of one epoch-0 store, or from no
    # store at all (a first commit has no backup to roll back to)
    base = str(tmp_path / "base")
    if not first_commit:
        merge(base, b0, 0)
    old = _store_state(spark, base)
    ref = _copy(base, str(tmp_path / "ref"))
    counted = Steps()
    with faulty_fs(monkeypatch, counted):
        merge(ref, b1, 1)
    new = _store_state(spark, ref)
    assert old[1] == (-1 if first_commit else 0) and new[1] == 1
    assert old[0] != new[0]
    # 2 marker creates + staging rename, and for a replace also the
    # store -> backup rename and the backup delete
    assert counted.n >= (3 if first_commit else 5)

    for k, after in crash_points(counted.n):
        store = _copy(base, str(tmp_path / f"s{k}_{int(after)}"))
        with pytest.raises(Crash), faulty_fs(monkeypatch, Steps(k, after)):
            merge(store, b1, 1)
        assert _store_state(spark, store) in (old, new), (k, after)
        merge(store, b1, 1)  # redelivery: merges iff recovery rolled back
        assert _store_state(spark, store) == new, (k, after)


def test_commit_store_crash_matrix_through_forget_documents(spark, tmp_path, monkeypatch):
    from dataingestionframework_spark.ingest.corpus import forget_documents

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], "doc_id long, text string"
    )
    base = str(tmp_path / "base")
    S.commit_store(docs, base, 5)
    old = _store_state(spark, base)
    ref = _copy(base, str(tmp_path / "ref"))
    counted = Steps()
    with faulty_fs(monkeypatch, counted):
        assert forget_documents(spark, [3, 7], ref)["sink"] == 2
    new = _store_state(spark, ref)
    assert new == ([r for r in old[0] if r[0] not in (3, 7)], 5)
    assert counted.n >= 5

    for k, after in crash_points(counted.n):
        sink = _copy(base, str(tmp_path / f"s{k}_{int(after)}"))
        with pytest.raises(Crash), faulty_fs(monkeypatch, Steps(k, after)):
            forget_documents(spark, [3, 7], sink)
        state = _store_state(spark, sink)
        assert state in (old, new), (k, after)
        removed = forget_documents(spark, [3, 7], sink)["sink"]
        assert removed == (2 if state == old else 0), (k, after)
        assert _store_state(spark, sink) == new, (k, after)


def test_replace_bucketed_table_crash_matrix(spark, monkeypatch):
    name = "crash_matrix_idx"
    names = (name, f"{name}__staged", f"{name}__old")

    def reset():
        for t in names:
            B.drop_table_and_location(spark, t)
        B.write_bucketed(
            spark.range(24).selectExpr("id AS doc_id", "CAST(id % 4 AS STRING) AS bucket_key"),
            name, "bucket_key", 4, ["bucket_key"],
        )

    def replace():
        kept = spark.table(name).filter("doc_id % 3 <> 0")
        B.replace_bucketed_table(spark, kept, name)

    def state():
        assert B.recover_bucketed_table(spark, name) != "absent"
        buckets = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {name}")
            .filter("col_name = 'Num Buckets'")
            .first()[1]
        )
        return _rows(spark.table(name)), buckets

    try:
        reset()
        old = state()
        counted = Steps()
        with faulty_catalog(monkeypatch, counted):
            replace()
        new = state()
        assert old[1] == new[1] == "4" and len(new[0]) == 16
        assert counted.n == 6  # drop staged, drop old, write, 2 renames, drop old

        for k, after in crash_points(counted.n):
            reset()
            with pytest.raises(Crash), faulty_catalog(monkeypatch, Steps(k, after)):
                replace()
            got = state()
            assert got in (old, new), (k, after)
            for t in names[1:]:
                assert not spark.catalog.tableExists(t), (k, after, t)
            if got == old:
                replace()
            assert state() == new, (k, after)
    finally:
        for t in names:
            B.drop_table_and_location(spark, t)
