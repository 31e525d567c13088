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
