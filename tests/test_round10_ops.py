"""Round-10 hardening tests.

1. Iterative operators release superseded localCheckpoint blocks
   (round-9 verdict item 1: BFS leaked 2×diameter block sets for the
   query lifetime because DataFrame.unpersist() is a no-op for
   checkpoints — blocks are RDD storage, not cache-manager entries).
2. Epoch store hardening: normalized cache keys, -1 for missing
   stores, atomic data+epoch commits, drop-path invalidation
   (round-9 ADVICE medium + verdict items 2/4).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _edges(spark, n=400):
    # deterministic functional graph: doc_id -> (31*doc_id + 7) mod n
    return spark.range(n).select(
        F.col("id").alias("src"),
        F.pmod(F.col("id") * 31 + 7, F.lit(n)).alias("dst"),
    )


def test_release_checkpoint_frees_blocks(spark):
    from dataingestionframework_spark.session import release_checkpoint

    base = _n_persistent(spark)
    df = spark.range(50).localCheckpoint()
    assert _n_persistent(spark) == base + 1
    # DataFrame.unpersist does NOT free checkpoint storage — the reason
    # release_checkpoint exists
    df.unpersist()
    assert _n_persistent(spark) == base + 1
    assert release_checkpoint(df) is True
    assert _n_persistent(spark) == base
    # non-checkpointed plans are a safe no-op
    assert release_checkpoint(spark.range(3)) is False


def test_release_checkpoint_swallows_only_py4j_errors():
    """A Py4JError (JVM internals moved) reads as "nothing to release";
    any other failure propagates instead of silently returning False.
    (True on a checkpoint, False on a plain frame: the test above.)"""
    from py4j.protocol import Py4JError

    from dataingestionframework_spark.session import release_checkpoint

    class _Broken:
        def __init__(self, exc):
            self._jdf, self._exc = self, exc

        def queryExecution(self):
            raise self._exc

    assert release_checkpoint(_Broken(Py4JError("moved"))) is False
    with pytest.raises(RuntimeError):
        release_checkpoint(_Broken(RuntimeError("boom")))


def test_bfs_releases_superseded_checkpoints(spark):
    from dataingestionframework_spark.operators.graph import bfs_distances

    base = _n_persistent(spark)
    out = bfs_distances(_edges(spark), source=0, max_iters=30)
    rows = {r.node: r.dist for r in out.collect()}
    # correctness unchanged: source at 0, successor chain at +1 hops
    assert rows[0] == 0
    assert rows[7] == 1  # (31*0+7) % 400
    assert rows[(31 * 7 + 7) % 400] <= 2
    # storage hygiene: only the result image (and at most the final
    # frontier) may remain — the per-round ~2*diameter leak is gone
    assert _n_persistent(spark) - base <= 2


def test_connected_components_and_pagerank_release_blocks(spark):
    from dataingestionframework_spark.operators.graph import (
        connected_components,
        pagerank,
    )

    base = _n_persistent(spark)
    cc = connected_components(_edges(spark, 60), src="src", dst="dst")
    cc.collect()
    assert _n_persistent(spark) - base <= 2
    pr = pagerank(_edges(spark, 60), iterations=4)
    assert pr.count() == 60
    # one live image per returned result, none per iteration
    assert _n_persistent(spark) - base <= 3


# ---------------------------------------------------------------------------
# Epoch-store hardening: normalized cache keys, missing-store -1,
# atomic data+epoch commit, drop-path invalidation
# ---------------------------------------------------------------------------


def _mk_df(spark, n=40):
    return spark.createDataFrame(
        [(i, i % 5) for i in range(n)], "event_id long, user_id long"
    )


def test_store_epoch_path_spellings_share_one_entry(spark, tmp_path):
    """Round-9 verdict item 2: 'store' and 'store/' must resolve to the
    same epoch through BOTH the cache and the durable marker."""
    from dataingestionframework_spark import session as S
    from dataingestionframework_spark.operators.sketches import (
        cms_merge_into_store,
    )

    store = str(tmp_path / "cms")
    cms_merge_into_store(_mk_df(spark), "user_id", store, batch_id=3)
    assert S.store_epoch(spark, store) == 3
    assert S.store_epoch(spark, store + "/") == 3  # same store
    assert S.store_epoch(spark, store + "/") == 3  # same durable marker


def test_store_epoch_missing_store_is_minus_one_and_uncached(spark, tmp_path):
    """Round-9 ADVICE (medium): a recreated store must never inherit a
    stale epoch from the cache or a leftover sidecar."""
    import shutil

    from dataingestionframework_spark import session as S
    from dataingestionframework_spark.operators.sketches import (
        cms_estimate,
        cms_merge_into_store,
    )

    store = str(tmp_path / "cms")
    cms_merge_into_store(_mk_df(spark), "user_id", store, batch_id=7)
    assert S.store_epoch(spark, store) == 7

    shutil.rmtree(store)  # bare delete (the discouraged path)
    assert S.store_epoch(spark, store) == -1  # store gone -> no epoch

    # a fresh lineage writing epoch 0 must MERGE, not be skipped
    cms_merge_into_store(_mk_df(spark), "user_id", store, batch_id=0)
    keys = spark.createDataFrame([(2,)], "user_id long")
    est = cms_estimate(spark.read.parquet(store), keys, "user_id").collect()[0]
    assert int(est.est_cnt) == 8


def test_drop_store_clears_all_bookkeeping(spark, tmp_path):
    import os

    from dataingestionframework_spark import session as S
    from dataingestionframework_spark.operators.sketches import (
        cms_merge_into_store,
    )

    store = str(tmp_path / "cms")
    cms_merge_into_store(_mk_df(spark), "user_id", store, batch_id=5)
    S.drop_store(spark, store)
    assert not os.path.exists(store)
    assert not os.path.exists(store + "__epoch")
    assert not os.path.exists(store + "__staging")
    assert S.store_epoch(spark, store) == -1


def test_commit_store_recovers_from_kill_between_writes(spark, tmp_path):
    """Round-9 verdict item 4: data and epoch commit in ONE rename.
    Simulate kills at each rotation stage and assert recover_store
    lands on a consistent (data, epoch) pair every time."""
    import os
    import shutil

    from dataingestionframework_spark import session as S
    from dataingestionframework_spark.operators.sketches import (
        cms_merge_into_store,
    )

    store = str(tmp_path / "cms")
    cms_merge_into_store(_mk_df(spark), "user_id", store, batch_id=0)
    old_files = sorted(os.listdir(store))

    # Build a COMPLETE staging image for epoch 1 (as commit_store does),
    # without rotating — the "crashed before the first rename" state.
    staging = store + "__staging"
    shutil.copytree(store, staging)
    # Hadoop's LocalFileSystem is checksummed: write markers through
    # the session helper so stale .crc files from the copied image
    # don't poison the read-back
    S._write_text_file(spark, os.path.join(staging, "_epoch"), "1\n")
    S._write_text_file(spark, os.path.join(staging, "_GRAFT_COMMITTED"), "1\n")
    # crash state A: store intact + complete staging -> old store wins,
    # debris removed, epoch stays 0
    assert S.store_epoch(spark, store) == 0
    assert not os.path.exists(staging)
    assert sorted(os.listdir(store)) == old_files

    # crash state B: mid-rotation — store renamed to backup, staging
    # complete. Recovery must PROMOTE staging (epoch 1 data+marker).
    shutil.copytree(store, staging)
    S._write_text_file(spark, os.path.join(staging, "_epoch"), "1\n")
    S._write_text_file(spark, os.path.join(staging, "_GRAFT_COMMITTED"), "1\n")
    os.rename(store, store + "__old")
    assert S.store_epoch(spark, store) == 1  # promoted atomically
    assert os.path.exists(store)
    assert not os.path.exists(store + "__old")
    assert not os.path.exists(staging)

    # crash state C: staging incomplete (no commit mark), store renamed
    # away. Recovery must ROLL BACK to the backup (epoch 1 image).
    shutil.copytree(store, staging)
    os.remove(os.path.join(staging, "_GRAFT_COMMITTED"))
    for crc in (".._GRAFT_COMMITTED.crc", "._GRAFT_COMMITTED.crc"):
        cp = os.path.join(staging, crc)
        if os.path.exists(cp):
            os.remove(cp)
    os.rename(store, store + "__old")
    assert S.store_epoch(spark, store) == 1  # rolled back, not promoted
    assert os.path.exists(store)
    assert not os.path.exists(staging)

    # after every recovery the store still merges new epochs correctly
    cms_merge_into_store(_mk_df(spark), "user_id", store, batch_id=2)
    assert S.store_epoch(spark, store) == 2


def test_rollup_txn_rides_the_merge_commit(spark, tmp_path):
    """The rollup epoch is a table txn in the commit pointer — one
    os.replace commits data AND epoch; truncate/drop void it."""
    import datetime as dt

    from dataingestionframework_spark.catalog.table import TableCatalog
    from dataingestionframework_spark.streaming.rollup import (
        merge_rollup,
        rollup_batch,
    )

    ev = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 10, i % 24), f"t{i % 2}", float(i))
         for i in range(50)],
        "event_id long, ts timestamp, event_type string, value double",
    )
    cat = TableCatalog(spark, str(tmp_path / "cat"))
    table = cat.table("rollup")
    merge_rollup(table, rollup_batch(ev), txn=("streaming_rollup", 0))
    assert table.txn_version("streaming_rollup") == 0
    # txn and data share the pointer file (same atomic os.replace)
    lines = open(table._pointer()).read().splitlines()
    assert len(lines) == 2 and "streaming_rollup" in lines[1]

    # a non-txn commit PRESERVES recorded txns
    table.delete(F.lit(False))
    assert table.txn_version("streaming_rollup") == 0

    # truncate voids the bookkeeping with the data (round-9 ADVICE)
    table.truncate()
    assert table.txn_version("streaming_rollup") == -1

    merge_rollup(table, rollup_batch(ev), txn=("streaming_rollup", 4))
    assert table.txn_version("streaming_rollup") == 4
    cat.drop("rollup")
    table2 = cat.table("rollup")
    assert table2.txn_version("streaming_rollup") == -1  # fresh lineage


def test_fuzz_family_envelope_parsing_and_membership():
    """Round-9 verdict item 5: the skew profile's per-family wall
    envelopes. Pin the timing-line parser and that every budgeted
    family member still exists in the registry (a rename would
    silently hollow out the envelope)."""
    import sys

    sys.path.insert(0, ".")
    from tools.fuzz_gate import SKEW_FAMILY_BUDGET_SEC, _query_wall

    assert _query_wall("PASS  minhash_near_dup (25 rows) t=1.23s") == (
        "minhash_near_dup", 1.23)
    assert _query_wall("FAIL  set_similarity_join_docs: values differ t=0.50s") == (
        "set_similarity_join_docs", 0.50)
    assert _query_wall("weak  some_query: rows-only (3 rows) t=2.00s") == (
        "some_query", 2.00)
    assert _query_wall("PASS  minhash_near_dup (25 rows)") is None  # no timing
    assert _query_wall("# fuzz verdict: 0 real failures") is None

    import __spark_entry__ as entry

    registry = set(entry.queries())
    seen: set[str] = set()
    for fam, (budget, members) in SKEW_FAMILY_BUDGET_SEC.items():
        assert budget > 0
        for q in members:
            assert q in registry, f"{fam} envelope member {q} not in registry"
            assert q not in seen, f"{q} budgeted in two families"
            seen.add(q)


def test_merges_file_roundtrip_and_format(tmp_path):
    """merges.txt wire-format compatibility: header skipped, one
    space-separated pair per line in rank order, malformed lines
    raise instead of silently truncating a vocabulary."""
    from dataingestionframework_spark.operators.text import (
        load_merges,
        save_merges,
    )

    merges = [("e", "r"), ("a", "r"), ("p", "ar")]
    p = str(tmp_path / "merges.txt")
    save_merges(merges, p)
    first = open(p, encoding="utf-8").readline()
    assert first.startswith("#version")
    assert load_merges(p) == merges

    bad = str(tmp_path / "bad.txt")
    with open(bad, "w") as f:
        f.write("#version: 0.2\na b c\n")
    with pytest.raises(ValueError):
        load_merges(bad)


def test_bpe_fixture_matches_retraining(spark):
    """The committed fixture IS bpe_train's deterministic output on the
    sf0.001 documents corpus — an edited-but-not-regenerated fixture
    (or a trainer determinism regression) fails here."""
    from dataingestionframework_spark.operators.text import (
        bpe_train,
        default_merges_path,
        load_merges,
    )
    from dataingestionframework_spark.plans.tables import load

    fixture = load_merges(default_merges_path())
    assert len(fixture) == 32
    docs = load(spark, "/root/testdata/sf0.001", "documents")
    assert bpe_train(docs, n_merges=32) == fixture


def test_delta_prop_name_validation():
    from dataingestionframework_spark.catalog.delta import DeltaManagedTable

    assert DeltaManagedTable._check_prop_name("ok-name_1.2") == "ok-name_1.2"
    for bad in ("", "a'b", 'a"b', "a b", "a;drop"):
        with pytest.raises(ValueError):
            DeltaManagedTable._check_prop_name(bad)


# ---------------------------------------------------------------------------
# Round-10 optimization internals (OPTIMIZATION_r10.md): each change to an
# operator's internals carries a focused equivalence test.
# ---------------------------------------------------------------------------


def test_bound_evaluates_like_direct_application(spark):
    """functions.bound routes a value through a single-element array so
    lambdas see a bound variable instead of a re-inlined expression —
    the RESULT must equal direct application, including NULL inputs."""
    from dataingestionframework_spark.functions import bound, tokens

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, ""), (3, None), (4, "  x  ")],
        "id long, text string",
    )
    direct = df.select(
        "id", F.size(F.array_distinct(tokens(F.col("text")))).alias("v")
    )
    via_bound = df.select(
        "id",
        bound(
            tokens(F.col("text")), lambda t: F.size(F.array_distinct(t))
        ).alias("v"),
    )
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, via_bound.collect())
    )


def test_blocked_fuzzy_pairs_threshold_levenshtein_equivalence(spark):
    """The 3-arg (banded) levenshtein swap: pairs kept and their dist
    values must equal the full-DP form, including dist=0 exact ties and
    just-over-threshold pairs."""
    from dataingestionframework_spark.operators.linkage import blocked_fuzzy_pairs

    rows = [
        (1, "alpha", "b1"),
        (2, "alpha", "b1"),   # dist 0
        (3, "alphb", "b1"),   # dist 1 to alpha
        (4, "alpxy", "b1"),   # dist 2 -> dropped at max_distance=1
        (5, "gamma", "b2"),
        (6, "gamm", "b2"),    # dist 1 (deletion)
        (7, "delta", "b3"),   # alone in block
    ]
    df = spark.createDataFrame(rows, "id long, name string, blk string")
    got = sorted(
        map(
            tuple,
            blocked_fuzzy_pairs(
                df, id_col="id", name_col="name", block_cols=["blk"],
                max_distance=1,
            ).collect(),
        )
    )
    # naive full-DP reference
    naive = sorted(
        map(
            tuple,
            df.alias("l")
            .join(
                df.alias("r"),
                (F.col("l.blk") == F.col("r.blk"))
                & (F.col("l.id") < F.col("r.id")),
            )
            .select(
                F.col("l.id").alias("id_a"),
                F.col("r.id").alias("id_b"),
                F.levenshtein(F.col("l.name"), F.col("r.name")).alias("dist"),
            )
            .filter(F.col("dist") <= 1)
            .collect(),
        )
    )
    assert got == naive and got  # non-empty: dist 0 and dist 1 pairs exist


def test_assign_to_centroids_array_min_equivalence(spark):
    """array_min + single-materialization rewrite must pick the same
    (cluster, cos_sim) as the round-9 array_sort form — including zero
    vectors (NULL cosine everywhere -> NULL-first ordering -> lowest
    cid) and NULL vectors."""
    from dataingestionframework_spark.functions import cosine_similarity
    from dataingestionframework_spark.operators.similarity import (
        assign_to_centroids,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.5, 0.5]), (4, None),
         (5, [-1.0, 0.0]), (6, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = {0: [1.0, 0.0], 1: [0.0, 1.0], 2: [1.0, 1.0]}
    new = assign_to_centroids(df, cents, "embedding").orderBy("vec_id").collect()
    scored = F.array(
        *[
            F.struct(
                (
                    -F.round(
                        cosine_similarity(
                            F.col("embedding"), F.array(*[F.lit(x) for x in c])
                        ),
                        6,
                    )
                ).alias("nsim"),
                F.lit(cid).alias("cid"),
            )
            for cid, c in sorted(cents.items())
        ]
    )
    best = F.element_at(F.array_sort(scored), 1)
    old = (
        df.withColumn("cluster_id", best["cid"])
        .withColumn("cos_sim", -best["nsim"])
        .orderBy("vec_id")
        .collect()
    )
    assert [tuple(r) for r in new] == [tuple(r) for r in old]


def test_model_cache_is_process_scoped():
    """Fitted-model caches (IVF centroids / PQ codebooks) must live in a
    per-process directory: a path keyed only on the sf_dir would let one
    bench/oracle invocation serve the next one's fit precomputed."""
    import tempfile

    from dataingestionframework_spark.plans import queries as q

    p1 = q._model_path("tag-a")
    p2 = q._model_path("tag-a")
    p3 = q._model_path("tag-b")
    assert p1 == p2 and p1 != p3
    d = q._MODEL_DIR
    assert d and d.startswith(tempfile.gettempdir()) and "dif_models_" in d
    # the directory name embeds mkdtemp randomness, not a fixed name
    assert d != tempfile.gettempdir()
