"""Session tuning: a static conf is skipped, every other failure raises."""

import pytest
from pyspark.errors import AnalysisException

from dataingestionframework_spark import session


def _tune(spark):
    return session.tune(spark, int(spark.conf.get("spark.sql.shuffle.partitions")))


def test_tune_skips_a_static_conf_and_keeps_going(spark, monkeypatch):
    confs = {"spark.sql.warehouse.dir": "ignored", **session.RUNTIME_CONFS}
    monkeypatch.setattr(session, "RUNTIME_CONFS", confs)
    assert _tune(spark) is spark
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_tune_raises_on_a_spark_core_conf(spark, monkeypatch):
    monkeypatch.setitem(session.RUNTIME_CONFS, "spark.executor.memory", "1g")
    with pytest.raises(AnalysisException) as e:
        _tune(spark)
    assert e.value.getCondition() == "CANNOT_MODIFY_CONFIG"


def test_tune_propagates_a_failed_conf_set():
    class _Conf:
        def set(self, key, value):
            raise RuntimeError(f"cannot set {key}")

    class _Session:
        conf = _Conf()

    with pytest.raises(RuntimeError):
        session.tune(_Session(), 4)


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_pinned_releases_the_pin_on_exit(spark):
    base = _persistent_ids(spark)
    with session.pinned(spark.range(100)) as df:
        assert len(_persistent_ids(spark) - base) == 1
        assert df.count() == 100
    assert _persistent_ids(spark) - base == set()


def test_pinned_releases_the_pin_when_the_body_raises(spark):
    base = _persistent_ids(spark)
    with pytest.raises(ValueError, match="boom"):
        with session.pinned(spark.range(10)):
            assert len(_persistent_ids(spark) - base) == 1
            raise ValueError("boom")
    assert _persistent_ids(spark) - base == set()


# (module, function, method) calls that may stay: release_checkpoint
# frees a checkpoint's blocks through its backing RDD
LAZY_PIN_EXCEPTIONS = {("session.py", "release_checkpoint", "unpersist")}
# pinned plus the loops that release each round's superseded checkpoint
RELEASE_CALLERS = {
    ("session.py", "pinned"),
    ("operators/graph.py", "connected_components"),
    ("operators/graph.py", "pagerank"),
    ("operators/graph.py", "bfs_distances"),
    ("operators/text.py", "bpe_train"),
}


def _calls(attr_names: set[str]) -> set[tuple[str, str, str]]:
    """(module path, enclosing top-level function, called name) for every
    call in the package whose callee name is in ``attr_names``."""
    import ast
    from pathlib import Path

    root = Path(session.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            scope = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in attr_names:
                    found.add((path.relative_to(root).as_posix(), scope, name))
    return found


def test_one_pin_mechanism_in_the_package():
    assert _calls({"persist", "cache", "unpersist"}) == LAZY_PIN_EXCEPTIONS
    assert {(m, f) for m, f, _ in _calls({"release_checkpoint"})} == RELEASE_CALLERS


def test_checkpoint_release_warning_is_silenced(spark):
    """Each release_checkpoint would log one MapPartitionsRDD WARN;
    get_spark raises only that logger to ERROR."""
    jvm = spark.sparkContext._jvm
    log = jvm.org.apache.logging.log4j.LogManager.getLogger(
        "org.apache.spark.rdd.MapPartitionsRDD"
    )
    assert not log.isWarnEnabled()
    assert log.isErrorEnabled()
    assert jvm.org.apache.logging.log4j.LogManager.getLogger(
        "org.apache.spark.rdd.RDD"
    ).isWarnEnabled()
