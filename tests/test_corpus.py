"""ingest.corpus: the near-dup intake's micro-batch and the replay guard."""

import os
import time

import pytest
from pyspark.sql import functions as F

INDEX = "dif_test_corpus_nd_idx"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta token{i % 9} eta theta iota")
         for i in range(40)],
        "doc_id long, text string",
    )


@pytest.fixture(scope="module")
def landing(docs, tmp_path_factory):
    """Two parquet files of 20 docs, oldest first: two micro-batches."""
    src = tmp_path_factory.mktemp("corpus_src")
    now = time.time()
    for i, lo in enumerate((0, 20)):
        p = str(src / f"b{i}.parquet")
        docs.filter(F.col("doc_id").between(lo, lo + 19)).coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (now - 600 + i * 300,) * 2)
    return str(src / "*.parquet")


def test_near_dup_handler_verifies_over_pinned_candidates(
    spark, landing, tmp_path, monkeypatch
):
    """The verify reads the candidate pin, not the lazy candidate join:
    no candidate plan scans the index, once the index exists too."""
    from dataingestionframework_spark.ingest.corpus import (
        corpus_incremental_near_dup_intake,
    )
    from dataingestionframework_spark.operators import dedup
    from dataingestionframework_spark.operators.bucketing import (
        drop_table_and_location,
    )

    plans = []
    verify = dedup.verify_pairs_jaccard_arrays

    def recording(candidates, *args, **kwargs):
        plans.append(str(candidates._jdf.queryExecution().optimizedPlan()))
        return verify(candidates, *args, **kwargs)

    monkeypatch.setattr(dedup, "verify_pairs_jaccard_arrays", recording)
    drop_table_and_location(spark, INDEX)
    try:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        q = corpus_incremental_near_dup_intake(
            stream, str(tmp_path / "sink"), str(tmp_path / "ckpt"), INDEX,
            threshold=0.5,
        )
        q.awaitTermination(300)
        assert q.exception() is None
        assert len(plans) == 2
        assert [p.split(" ")[0] for p in plans] == ["LogicalRDD"] * 2, plans
        assert not [p for p in plans if INDEX in p], plans
        assert spark.read.parquet(str(tmp_path / "sink")).count() > 0
    finally:
        drop_table_and_location(spark, INDEX)


def test_replay_guard_build_runs_no_job(spark, docs, tmp_path):
    """The guard reads its stores with the declared schema of the
    guarded columns: no footer-schema job while the plan is built."""
    from dataingestionframework_spark.ingest.corpus import _read_landed

    store = str(tmp_path / "sink")
    docs.write.parquet(store)
    schema = docs.select("doc_id").schema
    sc = spark.sparkContext
    group = "corpus-replay-guard"
    sc.setJobGroup(group, group)
    try:
        guard = _read_landed(spark, [store, str(tmp_path / "absent")], schema)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert guard.dtypes == [("doc_id", "bigint")]
    assert sorted(r.doc_id for r in guard.collect()) == list(range(40))
