"""Embedding similarity search over ``array<float>`` columns.

Two tiers, per the standard ANN playbook:

- :func:`cosine_topk` — brute-force exact scan. At 100 TB this is one
  pass over the corpus with a broadcast 1-row query side and a top-k
  (``ORDER BY … LIMIT k``) that Spark executes as per-partition top-k +
  driver merge (TakeOrderedAndProject) — no global sort shuffle.
- :func:`lsh_cosine_topk` — random-hyperplane (SRP) LSH bucketing: only
  rows whose sign-sketch shares a bucket with the query are scored.
  Sub-linear scan at the cost of recall; bucket key is pushed to the
  parquet scan as an equality filter when the sketch is materialized.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cosine_similarity, vec_dot
from ..session import pinned


def _query_lit(query_vec: Sequence[float]):
    return F.array(*[F.lit(float(x)) for x in query_vec])


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``.

    Deterministic ordering: (rounded sim DESC, id ASC) so ties are stable
    across engines and runs.
    """
    q = _query_lit(query_vec)
    scored = df.select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), q), 6).alias("cosine_sim"),
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def with_srp_sketch(
    df: DataFrame,
    vec_col: str = "embedding",
    planes: int = 16,
    dim: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Add a signed-random-projection bucket id (``srp_bucket``).

    Hyperplanes are generated deterministically from ``seed`` with a
    splitmix-style integer mix (no numpy state on executors); the dot
    products are pure column expressions.
    """
    import math

    def mix(i: int) -> float:
        # deterministic pseudo-gaussian-ish value in [-1, 1)
        x = (i * 6364136223846793005 + seed * 1442695040888963407) & (2**64 - 1)
        x ^= x >> 33
        x = (x * 0xFF51AFD7ED558CCD) & (2**64 - 1)
        x ^= x >> 33
        u = x / 2**64
        return math.cos(2 * math.pi * u)  # bounded, symmetric around 0

    bucket = F.lit(0).cast("long")
    for p in range(planes):
        plane = F.array(*[F.lit(mix(p * dim + d)) for d in range(dim)])
        bit = F.when(vec_dot(F.col(vec_col), plane) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + F.shiftleft(bit, p)
    return df.withColumn("srp_bucket", bucket)


def srp_band_rows(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes_per_band: int = 1,
    n_bands: int = 24,
    dim: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Explode each vector into one (id, band_id, band_val) row per SRP
    band — the LSH-banding bucket keys for cosine similarity.

    Bands of ``b`` hyperplane sign bits: two vectors at angle θ share a
    band with probability (1 − θ/π)^b, and a pair is a candidate if ANY
    band matches — per-pair miss = (1 − p^b)^n_bands. Narrow bands
    (b=1) + many bands ⇒ near-total recall even at low thresholds (0.4:
    miss ≈ 4e-11 with b=1, 24 bands); wide bands (b=8..16) prune hard
    for high-sim dedup (0.9+). Tune per threshold.
    """
    import math

    def mix(i: int) -> float:
        x = (i * 6364136223846793005 + seed * 1442695040888963407) & (2**64 - 1)
        x ^= x >> 33
        x = (x * 0xFF51AFD7ED558CCD) & (2**64 - 1)
        x ^= x >> 33
        return math.cos(2 * math.pi * (x / 2**64))

    bands = []
    for k in range(n_bands):
        val = F.lit(0).cast("long")
        for j in range(planes_per_band):
            p = k * planes_per_band + j
            plane = F.array(*[F.lit(mix(p * dim + d)) for d in range(dim)])
            bit = F.when(
                vec_dot(F.col(vec_col), plane) >= 0, F.lit(1).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            val = val + F.shiftleft(bit, j)
        bands.append(
            F.struct(F.lit(k).alias("band_id"), val.alias("band_val"))
        )
    return df.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("b")
    ).select(id_col, "b.band_id", "b.band_val")


def srp_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes_per_band: int = 1,
    n_bands: int = 24,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, bucketed: SRP-band candidate
    generation (equi hash join on the band key — never a nested-loop
    cross product) + exact cosine verification of the survivors.

    Returns (id_a, id_b, cosine_sim rounded to 6) with id_a < id_b —
    identical output to the all-pairs form whenever banding recall is
    total (see :func:`srp_band_rows` for the miss-probability math).
    """
    dim_row = df.select(F.size(F.col(vec_col))).first()
    if dim_row is None:  # empty corpus: no pairs, declared schema
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine_sim double"
        )
    dim = dim_row[0]
    # n·n_bands small rows; materialized because the self-join would
    # otherwise evaluate the SRP plane dot products once PER SIDE
    bands = srp_band_rows(
        df, vec_col, id_col, planes_per_band, n_bands, dim, seed
    ).localCheckpoint()
    a = bands.select(F.col(id_col).alias("id_a"), "band_id", "band_val")
    b = bands.select(F.col(id_col).alias("id_b"), "band_id", "band_val")
    cands = (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_similarity(F.col("va"), F.col("vb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def lsh_cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only rows in the query's SRP bucket.

    With a pre-materialized ``srp_bucket`` column (and files sorted or
    partitioned by it), the bucket equality predicate prunes at the scan.
    """
    dim = len(query_vec)
    sketched = with_srp_sketch(df, vec_col, planes, dim, seed)
    qdf = with_srp_sketch(
        df.sparkSession.createDataFrame([(list(map(float, query_vec)),)], f"{vec_col}: array<double>"),
        vec_col,
        planes,
        dim,
        seed,
    )
    qbucket = qdf.select("srp_bucket").first()[0]
    return cosine_topk(
        sketched.filter(F.col("srp_bucket") == qbucket), query_vec, k, vec_col, id_col
    )


def ivf_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
    sample_fraction: float = 1.0,
) -> list[list[float]]:
    """Fit the IVF coarse quantizer (k-means on a sample) → centroids.

    Fit ONCE per corpus, persist with :func:`save_centroids` beside the
    table, and reuse via :func:`load_centroids` — re-fitting per query
    is a driver-side ML job a 100 TB serving path can't afford.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    fit_df = df if sample_fraction >= 1.0 else df.sample(sample_fraction, seed=seed)
    # NULL vectors carry no geometry — drop them BEFORE counting so
    # the n==0/n==1 fast paths see only fittable rows (a lone NULL row
    # previously reached the n==1 first()[0] fetch and raised).
    fit_df = fit_df.filter(F.col(vec_col).isNotNull())
    train = fit_df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    # model-fit path: one count job is fine here (never on serving).
    # Empty input -> no cells; fewer rows than clusters -> clamp k
    # (Spark ML KMeans requires k <= n).
    n = train.count()
    if n == 0:
        return []
    if n == 1:  # ML KMeans requires k >= 2; the model IS the row
        return [
            [float(x) for x in fit_df.select(vec_col).first()[0]]
        ]
    model = KMeans(k=min(n_clusters, n), seed=seed).fit(train)
    return [list(map(float, c)) for c in model.clusterCenters()]


def save_centroids(path: str, centroids: list[list[float]]) -> None:
    """Persist fitted centroids as JSON beside the table (local/posix
    path; on an object store write the same payload with the cluster's
    filesystem client)."""
    import json
    import os

    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(centroids, f)
    os.replace(tmp, path)


def load_centroids(path: str) -> list | None:
    """Load persisted centroids; None if absent. Handles arbitrarily
    nested float lists (IVF centroid matrices AND 3-level PQ codebooks)."""
    import json
    import os

    def _floats(x):
        return [_floats(v) for v in x] if isinstance(x, list) else float(x)

    if not os.path.exists(path):
        return None
    with open(path) as f:
        return _floats(json.load(f))


def ivf_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
    sample_fraction: float = 1.0,
    centroids: list[list[float]] | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: each row assigned to its nearest centroid
    (``ivf_cell``). Pass persisted ``centroids`` to skip the k-means
    fit entirely (no ML job); otherwise they are fit here once.

    Assignment is a pure column expression — argmin over the broadcast
    centroid array — so it runs scan-side with no shuffle. At 100 TB
    the cell column is materialized and the table partitioned by it, so
    a probe reads only ``nprobe`` cells' files.
    """
    if centroids is None:
        centroids = ivf_fit(df, vec_col, n_clusters, seed, sample_fraction)
    if not centroids:  # empty corpus fit: no cells, no assignments
        empty = df.filter(F.lit(False)).withColumn(
            "ivf_cell", F.lit(None).cast("int")
        )
        return empty, centroids

    # argmin_{c} ||v - c||² via the smallest (distance, cell) struct
    scored = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        F.array(*[F.lit(x) for x in c]),
                        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    # least (dist, cell) struct == argmin with ties to the lower cell —
    # array_min shares array_sort's ordering without sorting the struct
    # array per row
    assigned = df.withColumn("ivf_cell", F.array_min(scored)["cell"])
    return assigned, centroids


def ivf_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the ``nprobe`` nearest IVF cells, brute-force within them.

    ``df`` must carry ``ivf_cell`` (from :func:`ivf_assign`). The cell
    filter is a plain equality-IN predicate → partition pruning when the
    table is laid out by cell.
    """
    q = list(map(float, query_vec))
    dists = [
        (sum((a - b) ** 2 for a, b in zip(q, c)), i) for i, c in enumerate(centroids)
    ]
    probe_cells = [i for _, i in sorted(dists)[:nprobe]]
    return cosine_topk(
        df.filter(F.col("ivf_cell").isin(probe_cells)), q, k, vec_col, id_col
    )


def knn_join_brute(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """k-NN join: for each left row, top-k right rows by cosine.

    The right side is collected to a numpy matrix and broadcast; each
    left partition scores an Arrow batch at a time with one BLAS matmul
    (``mapInPandas`` — the vectorized path; the pure-expression
    ``zip_with`` form is ~5× slower at 64 dims). Partitioning of the
    left side is preserved — no shuffle.

    The right side MUST fit on the driver: ``max_broadcast_rows`` guards
    against an unbounded collect (1M × 64-dim float64 ≈ 0.5 GB). For
    big-×-big use :func:`knn_join_bucketed` — IVF-cell equi-join, both
    sides distributed.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # single-action guard: collect max+1 rows — one scan proves both
    # "fits under the cap" and fetches the payload (a separate count()
    # would scan the right side twice).
    r_rows = (
        right.select(F.col(right_id), F.col(vec_col))
        .limit(max_broadcast_rows + 1)
        .collect()
    )
    if len(r_rows) > max_broadcast_rows:
        raise ValueError(
            f"knn_join_brute right side exceeds "
            f"max_broadcast_rows={max_broadcast_rows}; it must be "
            "collected to the driver and broadcast — use "
            "knn_join_bucketed for a distributed big-by-big kNN join"
        )
    if not r_rows:  # empty right side: no neighbors for anyone
        return left.sparkSession.createDataFrame(
            [], "left_id long, right_id long, cosine_sim double, rank int"
        )
    r_ids = np.array([row[0] for row in r_rows], dtype=np.int64)
    r_mat = np.array([row[1] for row in r_rows], dtype=np.float64)
    r_norm = r_mat / np.maximum(np.linalg.norm(r_mat, axis=1, keepdims=True), 1e-12)
    bc = left.sparkSession.sparkContext.broadcast((r_ids, r_norm))

    out_schema = T.StructType(
        [
            T.StructField("left_id", T.LongType()),
            T.StructField("right_id", T.LongType()),
            T.StructField("cosine_sim", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            l_mat = np.array(list(pdf["lvec"]), dtype=np.float64)
            l_norm = l_mat / np.maximum(np.linalg.norm(l_mat, axis=1, keepdims=True), 1e-12)
            sims = np.round(l_norm @ mat.T, 6)
            # top-k with deterministic ties: sort by (-sim, right_id)
            order = np.lexsort((np.broadcast_to(ids, sims.shape), -sims), axis=1)[:, :k]
            kk = order.shape[1]  # right side may hold fewer than k rows
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "left_id": np.repeat(pdf["left_id"].to_numpy(), kk),
                    "right_id": ids[order].ravel(),
                    "cosine_sim": np.take_along_axis(sims, order, axis=1).ravel(),
                    "rank": np.tile(np.arange(1, kk + 1), n),
                }
            )

    l = left.select(F.col(left_id).alias("left_id"), F.col(vec_col).alias("lvec"))
    return l.mapInPandas(score, schema=out_schema)


def knn_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Distributed big-×-big k-NN join: IVF-cell equi-join, no driver
    collect on either side.

    The right side is bucketed by nearest centroid (``ivf_assign`` —
    scan-side argmin, no shuffle); each left row explodes to its
    ``nprobe`` nearest cells; the join is a plain equi hash join on the
    cell id, so comparisons are ``|left| × nprobe/n_clusters`` of the
    right side instead of the full cross product. Top-k per left row is
    one window over the joined pairs. Approximate like any IVF probe —
    exact when the probed cells cover every true neighbour (recall
    follows the same sweep as :func:`ivf_topk`). Pass persisted
    ``centroids`` to skip the k-means fit.

    Output: (left_id, right_id, cosine_sim rounded to 6, rank 1..k) with
    deterministic (sim DESC, right_id) tie-breaks.
    """
    assigned, centroids = ivf_assign(
        right, vec_col=vec_col, n_clusters=n_clusters, centroids=centroids
    )
    r = assigned.select(
        F.col(right_id).alias("right_id"), F.col(vec_col).alias("rvec"), "ivf_cell"
    )
    return _probe_join_topk(left, r, centroids, k, left_id, vec_col, nprobe)


def _probe_cells_expr(vec_col: str, centroids: list[list[float]], nprobe: int):
    """Each row's ``nprobe`` nearest IVF cells — pure column expression
    (argmin over the broadcast centroid literals), no shuffle."""
    scored = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        F.array(*[F.lit(x) for x in c]),
                        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.transform(F.slice(F.array_sort(scored), 1, nprobe), lambda s: s["cell"])


def _probe_join_topk(
    left: DataFrame,
    r: DataFrame,
    centroids: list[list[float]],
    k: int,
    left_id: str,
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """Shared tail of the IVF kNN joins: explode probe cells, equi-join
    on ivf_cell, window top-k per left row."""
    from pyspark.sql import Window

    if not centroids:  # empty corpus index: no cells to probe
        return left.sparkSession.createDataFrame(
            [], "left_id long, right_id long, cosine_sim double, rank int"
        )
    l = left.select(
        F.col(left_id).alias("left_id"),
        F.col(vec_col).alias("lvec"),
        F.explode(_probe_cells_expr(vec_col, centroids, nprobe)).alias("ivf_cell"),
    )
    w = Window.partitionBy("left_id").orderBy(
        F.col("cosine_sim").desc(), F.col("right_id")
    )
    return (
        l.join(r, "ivf_cell")
        .select(
            "left_id",
            "right_id",
            F.round(cosine_similarity(F.col("lvec"), F.col("rvec")), 6).alias(
                "cosine_sim"
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def save_ivf_index(
    right: DataFrame,
    spark,
    table_name: str,
    vec_col: str = "embedding",
    right_id: str = "vec_id",
    n_clusters: int = 8,
    centroids: list[list[float]] | None = None,
    n_buckets: int = 8,
) -> list[list[float]]:
    """Persist the corpus as a BUCKETED IVF index: rows assigned to
    their nearest centroid (scan-side argmin), written
    ``bucketBy(n_buckets, ivf_cell)``. Every later
    :func:`knn_join_indexed` equi-joins probe rows against this table
    with NO Exchange on the corpus side — the bucket layout is the
    shuffle, paid once at index-build time and amortized over every
    query batch. At 100 TB the corpus is the big side; never
    reshuffling it is what makes recurring retrieval O(batch), not
    O(corpus). Returns the (fitted or passed-through) centroids —
    persist them beside the table with :func:`save_centroids`.
    """
    assigned, centroids = ivf_assign(
        right, vec_col=vec_col, n_clusters=n_clusters, centroids=centroids
    )
    (
        assigned.select(
            F.col(right_id).alias("right_id"),
            F.col(vec_col).alias("rvec"),
            "ivf_cell",
        )
        .write.mode("overwrite")
        .bucketBy(n_buckets, "ivf_cell")
        .sortBy("ivf_cell")
        .saveAsTable(table_name)
    )
    return centroids


def append_to_ivf_index(
    new_vecs: DataFrame,
    spark,
    table_name: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    right_id: str = "vec_id",
    n_buckets: int = 8,
) -> None:
    """Incremental corpus growth for a :func:`save_ivf_index` table:
    assign the new batch to the EXISTING centroids (scan-side argmin —
    no k-means on the ingest path) and append with the same bucket
    spec, so the layout and every shuffle-elision guarantee survive.
    Cost is O(batch); the accumulated corpus is never rewritten
    (compact small files periodically with
    :func:`~..operators.bucketing.compact_bucketed_table`).

    Centroids are a routing structure, not ground truth: as the data
    distribution drifts, cells skew and recall-per-nprobe degrades
    gracefully rather than breaking. Monitor cell occupancy and
    re-fit + rebuild (:func:`save_ivf_index`) when it skews — the
    rebuild is one linear pass.
    """
    assigned, _ = ivf_assign(new_vecs, vec_col=vec_col, centroids=centroids)
    (
        assigned.select(
            F.col(right_id).alias("right_id"),
            F.col(vec_col).alias("rvec"),
            "ivf_cell",
        )
        .write.mode("append")
        .bucketBy(n_buckets, "ivf_cell")
        .sortBy("ivf_cell")
        .saveAsTable(table_name)
    )


def knn_join_indexed(
    left: DataFrame,
    spark,
    table_name: str,
    centroids: list[list[float]],
    k: int = 5,
    left_id: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """k-NN join against a persisted :func:`save_ivf_index` table: the
    serving path for recurring retrieval. Probe rows explode to their
    ``nprobe`` nearest cells and hash-join the bucketed corpus on
    ivf_cell — only the (small) probe batch shuffles; the corpus scan
    is already bucket-partitioned
    (test_knn_join_indexed_no_exchange_on_corpus_side asserts the
    plan). Same output contract and approximation semantics as
    :func:`knn_join_bucketed`; exhaustive probing (nprobe =
    n_clusters) is exact by construction.
    """
    return _probe_join_topk(
        left, spark.table(table_name), centroids, k, left_id, vec_col, nprobe
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-domain ANN tier
# ---------------------------------------------------------------------------


def pq_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
    seed: int = 42,
    sample_fraction: float = 1.0,
) -> list[list[list[float]]]:
    """Fit PQ codebooks: the vector is split into ``m`` contiguous
    subspaces and an independent ``n_codes``-centroid k-means is fit on
    each slice. Returns ``m × n_codes × (dim/m)`` floats.

    Like :func:`ivf_fit`, fit ONCE per corpus and persist (the JSON
    payload round-trips through :func:`save_centroids` /
    :func:`load_centroids` unchanged — both are plain nested lists);
    encoding and ADC search never refit. A PQ code is ``m·log2(n_codes)``
    bits per vector (e.g. 8×4 = 32 bits vs 64-dim float32 raw = 64×
    smaller) — the tier that lets 100 TB of embeddings fit a scan budget.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    fit_df = df if sample_fraction >= 1.0 else df.sample(sample_fraction, seed=seed)
    # drop NULL vectors before the dim probe / n==1 path (see ivf_fit)
    fit_df = fit_df.filter(F.col(vec_col).isNotNull())
    dim_row = fit_df.select(vec_col).first()
    if dim_row is None:  # nothing to quantize: no codebooks
        return []
    dim = len(dim_row[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    slices = fit_df.select(
        *[
            array_to_vector(
                F.slice(F.col(vec_col).cast("array<double>"), j * sub + 1, sub)
            ).alias(f"s{j}")
            for j in range(m)
        ]
    )
    # the m subspace fits are INDEPENDENT jobs over the same pinned
    # frame — submit them from driver threads so each fit's scheduling
    # gaps and stage tails back-fill with the next fit's tasks (guide
    # §2.6). Determinism unchanged: same per-subspace seed, and results
    # are collected in subspace order. Measured ~2× on the m=8 fit at
    # sf0.1 (sequential ≈ 13–15 s inside a cold pq_ann_topk run vs
    # 7.9 s cold / 3.3 s warm parallel, fit in isolation).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with pinned(slices) as slices:
        # fewer rows than codes: clamp k per subspace (ML KMeans needs
        # k <= n); fit-path count job, never on serving
        n = slices.count()
        if n == 1:  # ML KMeans requires k >= 2; each codebook IS the slice
            v = [float(x) for x in dim_row[0]]
            return [[v[j * sub:(j + 1) * sub]] for j in range(m)]

        def fit_one(j: int) -> list[list[float]]:
            model = KMeans(
                k=min(n_codes, n), seed=seed + j, featuresCol=f"s{j}"
            ).fit(slices)
            return [list(map(float, c)) for c in model.clusterCenters()]

        # session-arg form: propagates job tags / local properties
        # (scheduler pool, cancellation groups) to the fit threads and
        # avoids the PySpark 4 'Tags will not be inherited' warning
        wrapped = inheritable_thread_target(fit_df.sparkSession)(fit_one)
        with ThreadPoolExecutor(max_workers=min(m, 4)) as pool:
            return list(pool.map(wrapped, range(m)))


def _sub_argmin(vec_col: str, book: list[list[float]], j: int, sub: int):
    """Column expr: nearest-centroid code for subspace ``j`` — argmin
    over ``n_codes`` (distance, code) structs, scan-side, no shuffle."""
    sl = F.slice(F.col(vec_col), j * sub + 1, sub)
    scored = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        sl,
                        F.array(*[F.lit(x) for x in c]),
                        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                F.lit(code).alias("code"),
            )
            for code, c in enumerate(book)
        ]
    )
    # least (dist, code) struct == argmin with ties to the lower code;
    # array_min shares array_sort's ordering without sorting 16 structs
    # per subspace per row
    return F.array_min(scored)["code"]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to its ``m`` nearest-subcentroid codes
    (``pq_code`` array<int>). Pure column expressions — at 100 TB this
    is a map-only pass whose output is what gets stored/scanned."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    return df.withColumn(
        "pq_code",
        F.array(*[_sub_argmin(vec_col, codebooks[j], j, sub) for j in range(m)]),
    )


def _adc_expr(query_vec: Sequence[float], codebooks: list[list[list[float]]]):
    """ADC column expr: approximate squared L2 distance of each row's
    ``pq_code`` to the (unquantized) query. Per subspace an exact
    query-slice → sub-centroid distance table is computed driver-side
    (``m × n_codes`` floats, broadcast as literals); the row cost is
    ``m`` array lookups — the scan never touches raw vectors."""
    q = list(map(float, query_vec))
    m = len(codebooks)
    sub = len(codebooks[0][0])
    luts = [
        [
            sum((q[j * sub + t] - c[t]) ** 2 for t in range(sub))
            for c in codebooks[j]
        ]
        for j in range(m)
    ]
    adc = None
    for j in range(m):
        term = F.element_at(
            F.array(*[F.lit(d) for d in luts[j]]),
            F.element_at("pq_code", j + 1) + 1,
        )
        adc = term if adc is None else adc + term
    return adc


def pq_adc_topk(
    encoded: DataFrame,
    query_vec: Sequence[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes only — the pure
    compressed-domain scan. Deterministic (rounded dist ASC, id ASC)
    ordering; executes as TakeOrderedAndProject (per-partition top-k),
    no global sort. Lossy: use :func:`pq_rerank_topk` when exact final
    ranking is required."""
    scored = encoded.select(
        F.col(id_col), F.round(_adc_expr(query_vec, codebooks), 6).alias("adc_dist")
    )
    return scored.orderBy(F.col("adc_dist").asc(), F.col(id_col)).limit(k)


def pq_rerank_topk(
    encoded: DataFrame,
    query_vec: Sequence[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    shortlist: int = 200,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The production PQ funnel: ADC shortlist → exact rerank.

    Stage 1 scans only codes (compressed domain) and keeps the
    ``shortlist`` best candidates via TakeOrderedAndProject; stage 2
    computes exact L2 on just those rows and returns the final top-k
    (euclidean ``l2_dist`` rounded to 6, ties broken by id). When the
    shortlist covers every true neighbour the output EQUALS the exact
    top-k — which is what the driver oracle asserts. At 100 TB the raw
    vectors for stage 2 are fetched by id from the (tiny) shortlist,
    not scanned.
    """
    q = list(map(float, query_vec))
    cand = (
        encoded.select(
            F.col(id_col),
            F.col(vec_col),
            F.round(_adc_expr(q, codebooks), 6).alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(shortlist)
    )
    qlit = F.array(*[F.lit(float(x)) for x in q])
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                qlit,
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        cand.select(F.col(id_col), F.round(l2, 6).alias("l2_dist"))
        .orderBy(F.col("l2_dist").asc(), F.col(id_col))
        .limit(k)
    )


def assign_nearest_centroid_df(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cent_id_col: str = "cid",
    cent_vec_col: str = "cvec",
    out_col: str = "cluster_id",
) -> DataFrame:
    """Nearest-centroid assignment with the centroid set as a (small)
    DataFrame: broadcast join × K rows per vector, dot product per
    pair, ``max_by`` argmax per vector.

    Returns (id, out_col, _v, _vn): the assignment plus the pre-cast
    double vector and its L2 norm, so downstream pair joins (SemDeDup's
    verify stage) never recompute either.

    Differs from :func:`ivf_assign` (which inlines driver-held centroid
    lists as literal expressions): here centroids stay a DataFrame, so
    the assignment is re-runnable from a persisted centroid table and
    the argmax is on ROUNDED cosine (6 dp) with centroid-id tiebreak —
    deterministic across engines, which the SemDeDup oracle requires.

    Plan shape for the N×K pair space: both sides pre-project to
    double arrays WITH their norms (norms computed once per row/
    centroid, never per pair — only the dot product is per-pair), and
    the argmax is a ``max_by`` groupBy, which partial-aggregates
    map-side — no shuffle/sort of the N×K scored rows (the row_number
    window form shuffled all of them; measured 12× at a ×10 sweep,
    this form is linear).
    """
    from ..functions import vec_dot, vec_norm

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    lhs = df.select(
        F.col(id_col), v.alias("_v"), vec_norm(F.col(vec_col)).alias("_vn")
    )
    cv = F.transform(F.col(cent_vec_col), lambda x: x.cast("double"))
    c = centroids.select(
        F.col(cent_id_col).alias("_cid"),
        cv.alias("_cv"),
        vec_norm(F.col(cent_vec_col)).alias("_cn"),
    )
    denom = F.col("_vn") * F.col("_cn")
    cos = F.round(
        F.when(denom > 0, vec_dot(F.col("_v"), F.col("_cv")) / denom), 6
    )
    scored = lhs.join(F.broadcast(c)).select(
        F.col(id_col), "_v", "_vn", F.col("_cid"), cos.alias("_cos")
    )
    return scored.groupBy(id_col).agg(
        F.max_by(
            F.col("_cid"), F.struct(F.col("_cos"), (-F.col("_cid")).alias("_t"))
        ).alias(out_col),
        F.first("_v").alias("_v"),
        F.first("_vn").alias("_vn"),
    )


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cent_id_col: str = "cid",
    cent_vec_col: str = "cvec",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup over embeddings —
    cluster, then drop near-identical pairs WITHIN each cluster only.

    The cluster assignment is the blocking step: the quadratic
    cosine-pair search never crosses cluster boundaries, so cost is
    Σ cluster_size² — with K ∝ N so clusters hold ~1-10k vectors, that
    is the tractable diagonal of an intractable n² problem. Both
    stages run Arrow-vectorized: assignment is the
    :func:`knn_join_brute` BLAS matmul (k=1, broadcast centroids, no
    shuffle), and the within-cluster verify is one numpy matmul per
    cluster under ``applyInPandas`` (one shuffle on cluster_id, the
    blocking key). The declarative expression forms of both stages
    (``assign_nearest_centroid_df`` + a self-join with per-pair
    ``zip_with`` dots) are ~20× slower at 64 dims — lambda-expression
    interpretation per pair, measured in the ×10 scale sweep. Survivor
    rule = lowest-id vector of each ≥-threshold neighborhood, matching
    the keep-one-per-duplicate-set convention of the text dedup stack.

    Production note: fit centroids with :func:`ivf_fit` (k-means) and
    persist via :func:`save_centroids`; any fixed centroid set works —
    determinism of the PLAN does not depend on centroid quality, only
    recall/efficiency does.

    Returns surviving (id, cluster_id) rows.
    """
    from typing import Iterator  # noqa: F401  (mirrors knn_join_brute)

    import numpy as np
    import pandas as pd  # noqa: F401

    # Stage 1 — assignment: the Arrow/BLAS matmul path (knn_join_brute
    # with k=1). Same determinism contract as the declarative
    # assign_nearest_centroid_df: cosine rounded to 6 dp, ties to the
    # smallest centroid id. N×K flops at BLAS speed, no shuffle.
    asn = knn_join_brute(
        df,
        centroids.select(
            F.col(cent_id_col), F.col(cent_vec_col).alias(vec_col)
        ),
        k=1,
        left_id=id_col,
        right_id=cent_id_col,
        vec_col=vec_col,
    ).select(
        F.col("left_id").alias(id_col), F.col("right_id").alias("cluster_id")
    )
    with_vec = df.select(F.col(id_col), F.col(vec_col)).join(asn, id_col)

    # Stage 2 — within-cluster verify: one numpy matmul per cluster
    # (applyInPandas groups by cluster_id — the blocking shuffle), row-
    # blocked so sims never exceed block×cluster memory. Survivor rule:
    # no smaller-id neighbor with round(cos, 6) ≥ threshold.
    out_schema = f"{id_col} long, cluster_id long"

    def survivors(pdf):
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        mat = mat / np.maximum(
            np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
        )
        n = len(pdf)
        dup = np.zeros(n, dtype=bool)
        block = 1024
        for s in range(0, n, block):
            e = min(s + block, n)
            sims = np.round(mat[s:e] @ mat.T, 6)
            for i in range(s, e):
                if i > 0 and (sims[i - s, :i] >= threshold).any():
                    dup[i] = True
        keep = pdf.loc[~dup, [id_col, "cluster_id"]]
        return keep

    return with_vec.groupBy("cluster_id").applyInPandas(
        survivors, schema=out_schema
    )


def int8_quantize_error(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 255,
) -> DataFrame:
    """Per-dimension scalar int8 quantization + reconstruction error.

    The storage play for 100 TB embedding corpora: 4×+ compression
    (float32 → uint8) before ANN indexing. Codes are
    ``floor((x - min_d) / scale_d + 0.5)`` with per-dimension
    min/max — the stats table is ``dim`` rows (a broadcast), built by
    one posexplode + groupBy pass (linear, one shuffle on the dim key).

    Returns (id, rmse, max_abs_err) of the dequantized reconstruction,
    rounded — the audit report that decides whether int8 is safe for a
    given corpus, and the oracle-checkable surface of the codec.
    """
    ex = df.select(
        F.col(id_col),
        F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))),
    ).select(id_col, (F.col("pos") + 1).alias("dim"), F.col("col").alias("x"))
    stats = ex.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    scale = (F.col("mx") - F.col("mn")) / F.lit(float(levels))
    j = ex.join(F.broadcast(stats), "dim")
    code = F.when(
        F.col("mx") > F.col("mn"),
        F.floor((F.col("x") - F.col("mn")) / scale + F.lit(0.5)),
    ).otherwise(F.lit(0))
    recon = F.when(
        F.col("mx") > F.col("mn"), F.col("mn") + code * scale
    ).otherwise(F.col("mn"))
    err = F.col("x") - recon
    return (
        j.withColumn("_e", err)
        .groupBy(id_col)
        .agg(
            F.round(F.sqrt(F.avg(F.col("_e") * F.col("_e"))), 6).alias("rmse"),
            F.round(F.max(F.abs(F.col("_e"))), 6).alias("max_abs_err"),
        )
    )


def hard_negative_mining(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """Hard-negative mining for contrastive training data: for each
    query vector, the top-k most-cosine-similar corpus vectors with a
    DIFFERENT label — the negatives that sit closest to the decision
    boundary, which is what makes a contrastive batch informative
    (random negatives are trivially separable).

    Same execution shape as :func:`knn_join_brute` — corpus (ids,
    labels, L2-normalized matrix) broadcast once, each query partition
    scores with one BLAS matmul per Arrow batch, zero shuffles — plus a
    vectorized label mask: same-label columns (which include the query
    itself) are dropped to −inf before the top-k lexsort, so positives
    can never crowd negatives out of k and no over-fetch factor needs
    guessing. Sims round to 6dp before ranking; ties break by id — the
    deterministic order the SQL oracle reproduces. Queries with fewer
    than k different-label candidates emit fewer rows (the −inf tail is
    filtered, not emitted).

    The corpus side must fit the driver (``max_broadcast_rows`` guard,
    as in the brute join); at larger scale mine from an IVF over-fetch
    (:func:`knn_join_indexed` with k·fetch, then filter labels) and
    accept approximate negatives.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # single-action guard: limit(max+1).collect() proves the cap AND
    # fetches the payload in one scan (count()+collect() scanned twice).
    rows = (
        df.select(F.col(id_col), F.col(vec_col), F.col(label_col))
        .limit(max_broadcast_rows + 1)
        .collect()
    )
    if len(rows) > max_broadcast_rows:
        raise ValueError(
            f"hard_negative_mining corpus exceeds "
            f"max_broadcast_rows={max_broadcast_rows}; use an IVF "
            "over-fetch + label filter for the distributed form"
        )
    if not rows:  # empty corpus: no negatives exist
        return df.sparkSession.createDataFrame(
            [], "query_id long, neg_id long, cosine_sim double, rank int"
        )
    c_ids = np.array([r[0] for r in rows], dtype=np.int64)
    c_mat = np.array([r[1] for r in rows], dtype=np.float64)
    c_lab = np.array([r[2] for r in rows])
    c_norm = c_mat / np.maximum(
        np.linalg.norm(c_mat, axis=1, keepdims=True), 1e-12
    )
    bc = df.sparkSession.sparkContext.broadcast((c_ids, c_norm, c_lab))

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neg_id", T.LongType()),
            T.StructField("cosine_sim", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )

    def mine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, labs = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            q_mat = np.array(list(pdf["qvec"]), dtype=np.float64)
            q_norm = q_mat / np.maximum(
                np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-12
            )
            sims = np.round(q_norm @ mat.T, 6)
            same = labs[None, :] == pdf["qlab"].to_numpy()[:, None]
            sims = np.where(same, -np.inf, sims)
            order = np.lexsort(
                (np.broadcast_to(ids, sims.shape), -sims), axis=1
            )[:, :k]
            kk = order.shape[1]  # corpus may hold fewer than k rows
            picked = np.take_along_axis(sims, order, axis=1)
            n = len(pdf)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(pdf["query_id"].to_numpy(), kk),
                    "neg_id": ids[order].ravel(),
                    "cosine_sim": picked.ravel(),
                    "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), n),
                }
            )
            yield out[np.isfinite(out["cosine_sim"])]

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col(label_col).alias("qlab"),
    )
    return q.mapInPandas(mine, schema=out_schema)


def margin_bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    k_margin: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk ratio margin — the
    LASER/CCMatrix recipe for harvesting parallel sentence pairs from
    two monolingual embedding pools): for source x and target y,

        margin(x, y) = cos(x, y) / ((avgNN_k(x) + avgNN_k(y)) / 2)

    where avgNN_k(x) is the mean cosine of x's k nearest targets (and
    symmetrically for y over sources). Dividing by the local similarity
    scale cancels hubness — a y that is "close to everything" gets its
    margin deflated, which raw cosine thresholding cannot do.

    Execution shape: two :func:`knn_join_brute` passes (src→tgt and
    tgt→src; each is one broadcast + one BLAS matmul per Arrow batch,
    zero shuffles), two k-row averages, then margins over the src→tgt
    candidate pairs and one window per direction. Candidates are x's
    top-k by cosine — the standard restriction; a pair outside both
    top-k lists is never a credible translation. At larger-than-
    broadcast pools swap each brute pass for :func:`knn_join_indexed`
    over a persisted IVF index; margins and windows are unchanged.

    Returns one row per source: (src_id, tgt_id, cosine_sim, margin,
    mutual) — its best target by margin (6dp, ties by tgt id), with
    ``mutual`` true iff the pair is also the target's best source AND
    the pair appears in the target's own backward top-k candidate set
    (the true "intersection" mining strategy — a source the target
    never shortlisted cannot be mutual; filter on ``mutual`` for
    precision, on margin alone for recall).
    """
    from pyspark.sql import Window

    # candidate-sized (n·k rows); materialized because each feeds two
    # plan branches and Spark would otherwise rerun the BLAS kNN pass
    # per branch (no common-subplan sharing)
    fwd = knn_join_brute(
        src, tgt, k=k_margin, left_id=id_col, right_id=id_col,
        vec_col=vec_col, max_broadcast_rows=max_broadcast_rows,
    ).localCheckpoint()
    # also feeds two branches (a_tgt averages + the backward candidate
    # membership check), so materialize for the same reason as fwd
    bwd = knn_join_brute(
        tgt, src, k=k_margin, left_id=id_col, right_id=id_col,
        vec_col=vec_col, max_broadcast_rows=max_broadcast_rows,
    ).localCheckpoint()
    a_src = fwd.groupBy("left_id").agg(F.avg("cosine_sim").alias("a_src"))
    a_tgt = bwd.groupBy("left_id").agg(F.avg("cosine_sim").alias("a_tgt"))
    cand = (
        fwd.select(
            F.col("left_id").alias("src_id"),
            F.col("right_id").alias("tgt_id"),
            "cosine_sim",
        )
        .join(a_src.withColumnRenamed("left_id", "src_id"), "src_id")
        .join(a_tgt.withColumnRenamed("left_id", "tgt_id"), "tgt_id")
        .withColumn(
            "margin",
            F.round(
                F.col("cosine_sim")
                / ((F.col("a_src") + F.col("a_tgt")) / F.lit(2.0)),
                6,
            ),
        )
    )
    w_fwd = Window.partitionBy("src_id").orderBy(
        F.col("margin").desc(), F.col("tgt_id")
    )
    w_bwd = Window.partitionBy("tgt_id").orderBy(
        F.col("margin").desc(), F.col("src_id")
    )
    # the target's backward shortlist: (tgt_id, src_id) pairs tgt
    # itself retrieved — candidate-sized, joins on the picked pairs only
    bwd_pairs = bwd.select(
        F.col("left_id").alias("tgt_id"),
        F.col("right_id").alias("src_id"),
        F.lit(True).alias("_in_bwd"),
    )
    return (
        cand.withColumn("_fr", F.row_number().over(w_fwd))
        .withColumn("_br", F.row_number().over(w_bwd))
        .filter(F.col("_fr") == 1)
        .join(bwd_pairs, ["tgt_id", "src_id"], "left")
        .select(
            "src_id",
            "tgt_id",
            "cosine_sim",
            "margin",
            (
                (F.col("_br") == 1)
                & F.coalesce(F.col("_in_bwd"), F.lit(False))
            ).alias("mutual"),
        )
    )


def embedding_gram(
    df: DataFrame,
    vec_col: str = "embedding",
    center: bool = True,
) -> DataFrame:
    """Distributed Gram / scatter matrix of an embedding column: the
    d×d matrix Σᵢ (xᵢ−μ)(xᵢ−μ)ᵀ as (i, j, val) rows — the input to
    PCA/whitening (the preprocessing SemDeDup-style pipelines run
    before clustering, so dominant directions don't drown the rest).

    Scale shape: each Arrow batch contributes ONE d×d partial via a
    BLAS ``XᵀX`` matmul (``mapInPandas``), and partials merge with a
    tiny groupBy over d² keys — the map-side-combine pattern that makes
    this a single linear pass at 100 TB with a shuffle of only
    O(partitions·d²) matrix entries, never row data. Centering uses the
    algebraic identity ``Σ(x−μ)(x−μ)ᵀ = ΣxxᵀN − (Σx)(Σx)ᵀ/N`` applied
    per output row: every (i, j) key carries its batch's ``XᵀX`` entry
    AND the batch column sums for dimensions i and j plus the batch row
    count, so after ONE aggregation the correction is plain row
    arithmetic — no rejoin, which matters because Spark does not share
    common subplans and a join-back would recompute the whole scan per
    branch.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            g = x.T @ x
            s = x.sum(axis=0)
            d = g.shape[0]
            i = np.repeat(np.arange(d), d)
            j = np.tile(np.arange(d), d)
            yield pd.DataFrame(
                {
                    "i": i.astype(np.int32),
                    "j": j.astype(np.int32),
                    "xx": g.ravel(),
                    "si": s[i],
                    "sj": s[j],
                    "n": np.int64(len(x)),
                }
            )

    parts = df.select(vec_col).mapInPandas(
        partial,
        schema="i int, j int, xx double, si double, sj double, n long",
    )
    agg = parts.groupBy("i", "j").agg(
        F.sum("xx").alias("xx"),
        F.sum("si").alias("si"),
        F.sum("sj").alias("sj"),
        F.sum("n").alias("n"),
    )
    if not center:
        return agg.select("i", "j", F.col("xx").alias("val"))
    return agg.select(
        "i",
        "j",
        (F.col("xx") - F.col("si") * F.col("sj") / F.col("n")).alias("val"),
    )


def embedding_pca_project(
    df: DataFrame,
    n_components: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    whiten: bool = False,
) -> DataFrame:
    """PCA projection of an embedding column: eigendecompose the
    centered Gram matrix (d×d — driver-side numpy on the
    :func:`embedding_gram` output, the one part that is NOT data-sized)
    and project every row onto the top components with one broadcast
    BLAS matmul per Arrow batch. ``whiten=True`` scales each component
    to unit variance — the whitening SemDeDup applies before cosine
    clustering. Component signs are fixed deterministically (largest-
    magnitude loading positive) so output is reproducible across runs.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    gram = embedding_gram(df, vec_col=vec_col, center=True)
    rows = gram.collect()  # d² entries — model-sized, not data-sized
    d = max(r.i for r in rows) + 1
    cov = np.zeros((d, d))
    for r in rows:
        cov[r.i, r.j] = r.val
    n = df.count()
    cov /= max(n - 1, 1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:n_components]
    w, v = evals[order], evecs[:, order]
    flip = np.sign(v[np.argmax(np.abs(v), axis=0), np.arange(v.shape[1])])
    v = v * flip
    if whiten:
        v = v / np.sqrt(np.maximum(w, 1e-12))
    # distributed mean: posexplode → d-key partial-agg groupBy (the
    # map-side combine keeps the shuffle at O(partitions·d))
    mu = np.zeros(d)
    for r in (
        df.select(F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.avg("x").alias("m"))
        .collect()
    ):
        mu[r.pos] = r.m
    bc = df.sparkSession.sparkContext.broadcast((mu, v))

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m, vv = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64) - m
            p = x @ vv
            yield pd.DataFrame(
                {"out_id": pdf["_id"], "components": list(map(list, p))}
            )

    out = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col)
    ).mapInPandas(project, schema="out_id long, components array<double>")
    return out.select(F.col("out_id").alias(id_col), "components")


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    query_col: str = "query_id",
    id_col: str = "cand_id",
    rel_col: str = "relevance",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998,
    public): diversified top-k over an ANN candidate set.

    Greedy selection per query: first pick the most relevant candidate,
    then repeatedly the one maximizing
    ``lam·relevance − (1−lam)·max_cosine(candidate, already_selected)``
    — the standard dedup-aware retrieval step between ANN recall and a
    cross-encoder (retrieval-augmented corpus construction uses it to
    avoid feeding near-identical passages).

    Scale shape: the candidate set per query is ANN-bounded (tens to
    hundreds), so the greedy loop is a per-group numpy kernel under
    ``applyInPandas`` — queries are hash-partitioned and processed in
    parallel; cost per group is O(k·n·d) BLAS, never corpus-sized.
    Deterministic: ties broken by lowest candidate id; scores rounded
    before comparison so float noise can't flip a pick.
    """
    import numpy as np
    import pandas as pd

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        norm = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = np.round(norm @ norm.T, 9)
        n = len(ids)
        kk = min(k, n)
        selected: list[int] = []
        picked_scores: list[float] = []
        # -inf marks "nothing selected yet": the diversity term is 0
        # for the first pick and the TRUE max (possibly negative)
        # afterwards — clamping negatives to 0 would under-reward
        # anti-correlated candidates
        max_sim = np.full(n, -np.inf)
        remaining = np.ones(n, dtype=bool)
        for _ in range(kk):
            diversity = np.where(np.isneginf(max_sim), 0.0, max_sim)
            score = np.round(lam * rel - (1.0 - lam) * diversity, 9)
            score_masked = np.where(remaining, score, -np.inf)
            best = np.lexsort((ids, -score_masked))[0]
            selected.append(best)
            picked_scores.append(float(score[best]))
            remaining[best] = False
            max_sim = np.maximum(max_sim, sims[:, best])
        sel = np.array(selected)
        return pd.DataFrame(
            {
                query_col: pdf[query_col].iloc[0],
                id_col: ids[sel],
                "mmr_rank": np.arange(1, kk + 1),
                # already 9dp-rounded; a coarser re-round would sit a
                # 9dp value on a half-way tie ~1/1000 of the time and
                # diverge across engines' rounding modes
                "mmr_score": np.round(picked_scores, 9),
            }
        )

    out_schema = (
        f"{query_col} long, {id_col} long, mmr_rank int, mmr_score double"
    )
    return candidates.groupBy(query_col).applyInPandas(rerank, schema=out_schema)


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iters: int = 2,
    round_dp: int = 6,
    checkpoint: bool = True,
) -> tuple[DataFrame, dict[int, list[float]], dict[int, int]]:
    """Deterministic distributed Lloyd k-means (spherical: assignment is
    argmax COSINE to the centroids — the one vector primitive this repo
    already proves cross-engine everywhere, unlike engine-specific
    Euclidean builtins). Cluster-based curation is the modern pipeline
    workhorse (SemDeDup-style pruning, cluster-balanced sampling,
    topic-stratified eval splits); unlike :func:`ivf_fit`'s Spark-ML
    KMeans (seeded, engine-opaque) this contract is reproducible in
    plain SQL, so the gate can unroll it the way ``pagerank_doc_graph``
    unrolls its 3 iterations.

    Determinism contract (each piece mirrors the oracle exactly):
    - init: the ``k`` rows with the smallest ``id_col`` (top-k, a
      TakeOrderedAndProject — never a global sort);
    - assignment: argmax over round(cos, ``round_dp``), ties to the
      lower cluster id — a pure scan-side expression over the
      broadcast centroid literals, zero shuffle;
    - update: elementwise mean via ONE hash aggregation of
      (cluster, pos) cells; coordinates re-rounded to ``round_dp`` at
      every boundary so float accumulation order can't drift the
      trajectory between engines;
    - empty clusters are DROPPED (k shrinks), not re-seeded — the
      SQL twin gets this for free from its GROUP BY.

    Driver state is the k×d centroid matrix only (model-sized, the
    same budget :func:`ivf_assign` spends). Each iteration costs one
    scan + one k·d-cell agg; ``checkpoint`` truncates the base lineage
    once so iteration plans stay O(1) like :func:`pagerank`. Returns
    (assignments vs the FINAL centroids: id, cluster_id, cos_sim,
    plus the input columns; centroid dict keyed by surviving cid;
    member counts of the assignment that PRODUCED those centroids —
    the state :func:`kmeans_update` needs for an exact weighted-mean
    merge, which the final re-assignment's counts would not give).
    Requires ``iters >= 1``.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1 (the counts describe an update)")
    base = df
    if checkpoint:
        base = base.localCheckpoint()

    # rounding happens in-engine (F.round, HALF_UP) on BOTH init and
    # update so the SQL twin's round() sees bit-identical inputs — a
    # driver-side python round() would be banker's rounding
    init = (
        base.select(
            id_col,
            F.transform(
                F.col(vec_col), lambda x: F.round(x.cast("double"), round_dp)
            ).alias("_v"),
        )
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    if not init:  # empty input: no clusters, schema-correct empty frames
        empty = (
            base.withColumn("cluster_id", F.lit(None).cast("int"))
            .withColumn("cos_sim", F.lit(None).cast("double"))
            .filter(F.lit(False))
        )
        return empty, {}, {}
    cents: dict[int, list[float]] = {
        i: [float(x) for x in r._v] for i, r in enumerate(init)
    }

    def assign(frame: DataFrame) -> DataFrame:
        return assign_to_centroids(frame, cents, vec_col, round_dp)

    for _ in range(iters):
        cells = (
            assign(base)
            .select("cluster_id", F.posexplode(F.col(vec_col).cast("array<double>")))
            .groupBy("cluster_id", "pos")
            .agg(
                F.round(F.avg("col"), round_dp).alias("mx"),
                F.count("*").alias("m"),
            )
            .collect()  # k×d cells — model-sized, the only driver data
        )
        nxt: dict[int, dict[int, float]] = {}
        counts: dict[int, int] = {}
        for r in cells:
            nxt.setdefault(r.cluster_id, {})[r.pos] = float(r.mx)
            counts[r.cluster_id] = int(r.m)
        cents = {
            cid: [by_pos[p] for p in sorted(by_pos)] for cid, by_pos in nxt.items()
        }
    return assign(base), cents, counts


def kmeans_update(
    df_new: DataFrame,
    centroids: dict[int, list[float]],
    counts: dict[int, int],
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> tuple[DataFrame, dict[int, list[float]], dict[int, int]]:
    """Mini-batch k-means update — the SERVING-PATH companion to
    :func:`kmeans_lloyd`, the same shape as the incremental LSH /
    IVF indexes this repo persists: the fitted model (centroids +
    member counts) is the state; a new batch is assigned scan-side
    (identical argmax-rounded-cosine expression, ties to the lower
    cid) and folded in with the exact weighted-mean merge
    c' = (c·n + Σ_new) / (n + m). Recurring work is new-batch-sized,
    never corpus-sized; the only aggregation is k·d cells.

    Same determinism contract as the fitter: rounded-cosine
    assignment, centroid coordinates re-rounded to ``round_dp`` after
    the merge (in-engine F.round), so the trajectory replays in plain
    SQL. Clusters the batch never touches keep their centroid and
    count unchanged. Returns (assigned batch, centroids', counts').
    """
    assigned = assign_to_centroids(df_new, centroids, vec_col, round_dp)
    if not centroids:  # no model to update: state passes through
        return assigned, {}, dict(counts)
    cells = (
        assigned.select(
            "cluster_id", F.posexplode(F.col(vec_col).cast("array<double>"))
        )
        .groupBy("cluster_id", "pos")
        .agg(F.sum("col").alias("_s"), F.count("*").alias("_m"))
        .collect()  # k×d cells — model-sized
    )
    sums: dict[int, dict[int, float]] = {}
    batch_n: dict[int, int] = {}
    for r in cells:
        sums.setdefault(r.cluster_id, {})[r.pos] = float(r._s)
        batch_n[r.cluster_id] = int(r._m)

    merged, new_counts = _merge_stats(
        df_new.sparkSession, sums, batch_n, centroids, counts, round_dp
    )
    return assigned, merged, new_counts


def assign_to_centroids(
    df: DataFrame,
    centroids: dict[int, list[float]],
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Scan-side assignment against frozen centroids: argmax over
    round(cosine, ``round_dp``), ties to the lower cluster id — the
    shared expression under :func:`kmeans_lloyd`, :func:`kmeans_update`
    and the streaming intake. Pure projection over broadcast centroid
    literals: zero shuffle, composes into any plan. Adds
    ``cluster_id`` and ``cos_sim``.
    """
    if not centroids:  # no model: nothing is assignable
        return (
            df.withColumn("cluster_id", F.lit(None).cast("int"))
            .withColumn("cos_sim", F.lit(None).cast("double"))
            .filter(F.lit(False))
        )
    scored = F.array(
        *[
            F.struct(
                (
                    -F.round(
                        cosine_similarity(
                            F.col(vec_col), F.array(*[F.lit(x) for x in c])
                        ),
                        round_dp,
                    )
                ).alias("nsim"),
                F.lit(cid).alias("cid"),
            )
            for cid, c in sorted(centroids.items())
        ]
    )
    # array_min = least struct under the SAME (nsim, cid) ordering
    # array_sort used (struct fields compare in order, NULL first), so
    # the winner is identical — without materializing a sorted copy.
    # The winner lands in ONE column first: projecting best["cid"] and
    # -best["nsim"] directly would re-evaluate the whole k-cosine
    # scoring array once per output field (the k×|vec| dot products are
    # the operator's entire cost). The _best alias is expensive and
    # referenced twice, so CollapseProject (SPARK-36718) keeps it
    # materialized rather than re-inlining.
    best = "_best"
    while best in df.columns:  # never clobber a caller's column
        best += "_"
    return (
        df.withColumn(best, F.array_min(scored))
        .withColumn("cluster_id", F.col(best)["cid"])
        .withColumn("cos_sim", -F.col(best)["nsim"])
        .drop(best)
    )


def kmeans_stats_merge_into_store(
    batch_df: DataFrame,
    centroids: dict[int, list[float]],
    store_path: str,
    vec_col: str = "embedding",
    round_dp: int = 6,
    batch_id: int | None = None,
) -> None:
    """foreachBatch sink body for a streaming cluster-assignment
    intake: assign the micro-batch to the FROZEN centroids scan-side,
    reduce it to per-(cluster, pos) SUFFICIENT STATISTICS (coordinate
    sum, member count), and additively merge them into a persisted
    parquet store — the :func:`~dataingestionframework_spark.operators.
    sketches.cms_merge_into_store` shape. Each batch costs O(batch) +
    a ≤ k·d-row merge; the raw stream is never re-read.

    Sums and counts COMMUTE, so AvailableNow drains, live triggers,
    and any shard order produce the identical store, and the drained
    store equals the one-shot statistics of all rows — which is what
    lets the stream parity gate hash-check the final model. Unlike
    per-batch centroid re-rounding (which would drift with batch
    boundaries), statistics stay full-precision in the store; rounding
    happens once, in :func:`kmeans_from_stats`.

    Pass the foreachBatch epoch id as ``batch_id`` so an at-least-once
    redelivery merges as a no-op (in-store epoch marker, see
    :func:`~dataingestionframework_spark.session.store_epoch`).
    """
    from ..session import commit_store, store_epoch

    spark = batch_df.sparkSession
    # store_epoch also repairs any interrupted commit rotation
    last = store_epoch(spark, store_path)
    if batch_id is not None and batch_id <= last:
        return  # already-merged epoch redelivered
    stats = (
        assign_to_centroids(batch_df, centroids, vec_col, round_dp)
        .select("cluster_id", F.posexplode(F.col(vec_col).cast("array<double>")))
        .groupBy("cluster_id", "pos")
        .agg(F.sum("col").alias("s"), F.count("*").alias("m"))
    )
    # explicit existence probe, NOT try/except around the read: a bare
    # except would also swallow a transient read failure while the
    # store EXISTS and overwrite it with only this micro-batch —
    # permanent loss of all accumulated sufficient statistics. With the
    # probe, any real read error propagates and the batch retries.
    from ..session import path_exists

    if path_exists(spark, store_path):
        prev = spark.read.parquet(store_path)
        stats = (
            prev.unionByName(stats)
            .groupBy("cluster_id", "pos")
            .agg(F.sum("s").alias("s"), F.sum("m").alias("m"))
        )
    # stage-write + rename: data and epoch marker commit in ONE rename
    # (no pre-write localCheckpoint — the plan reads the live store
    # while the write lands in the staging dir)
    commit_store(stats, store_path, batch_id)


def kmeans_from_stats(
    spark,
    store_path: str,
    centroids: dict[int, list[float]],
    counts: dict[int, int],
    round_dp: int = 6,
) -> tuple[dict[int, list[float]], dict[int, int]]:
    """Fold a drained sufficient-statistics store into the model —
    identical weighted-mean merge (and F.round rounding mode) as
    :func:`kmeans_update`, so streaming intake and batch update yield
    the same model for the same rows. Returns (centroids', counts').
    """
    rows = spark.read.parquet(store_path).collect()  # ≤ k·d cells
    sums: dict[int, dict[int, float]] = {}
    batch_n: dict[int, int] = {}
    for r in rows:
        sums.setdefault(r.cluster_id, {})[r.pos] = float(r.s)
        batch_n[r.cluster_id] = int(r.m)
    return _merge_stats(spark, sums, batch_n, centroids, counts, round_dp)


def _merge_stats(
    spark,
    sums: dict[int, dict[int, float]],
    batch_n: dict[int, int],
    centroids: dict[int, list[float]],
    counts: dict[int, int],
    round_dp: int,
) -> tuple[dict[int, list[float]], dict[int, int]]:
    """Shared weighted-mean merge c' = (c·n + Σ)/(n + m). The rounding
    happens through Spark's F.round (HALF_UP) on a k·d-row local frame
    so the SQL oracle sees the identical rounding mode — a driver-side
    python round() would be banker's rounding."""
    merged: dict[int, list[float]] = dict(centroids)
    new_counts: dict[int, int] = dict(counts)
    if batch_n:
        # one round() expression over a k·d-row local frame, NOT one
        # round() expression PER CELL: analyzing/folding 256 literal
        # round trees cost 2.15 s per merge — the entire cost of
        # kmeans_update — vs 0.38 s for this shape (identical values;
        # same in-engine F.round HALF_UP on the same double arithmetic)
        rows = []
        for cid, by_pos in sorted(sums.items()):
            n, m = counts.get(cid, 0), batch_n[cid]
            for p in sorted(by_pos):
                rows.append(
                    (cid, p, centroids[cid][p], float(n), by_pos[p], float(m))
                )
        cells = spark.createDataFrame(
            rows, "cid int, p int, c double, n double, s double, m double"
        ).select(
            "cid",
            "p",
            F.round(
                (F.col("c") * F.col("n") + F.col("s"))
                / (F.col("n") + F.col("m")),
                round_dp,
            ).alias("v"),
        )
        out: dict[int, dict[int, float]] = {}
        for r in cells.collect():
            out.setdefault(r.cid, {})[r.p] = float(r.v)
        for cid, by_pos in out.items():
            merged[cid] = [by_pos[p] for p in sorted(by_pos)]
            new_counts[cid] = counts.get(cid, 0) + batch_n[cid]
    return merged, new_counts


def sq8_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scalar int8 quantization (FAISS SQ8 shape, per-vector symmetric
    scaling): scale = max|x| / 127, codes = round(x / scale) ∈
    [-127, 127] — 4× smaller than float32, the standard first
    compression step for billion-vector ANN serving (PQ's cheaper,
    higher-fidelity sibling; ``pq_*`` covers the codebook path).

    Pure column expressions over the array — ``transform`` +
    ``aggregate``, scan-side, no shuffle, no Python. Emits the codes
    plus the reconstruction audit a deployment gate needs: ``sq_scale``
    (6dp), ``max_abs_err`` = max |x − code·scale| (6dp), and exact
    integer ``sum_codes`` / ``sum_abs_codes`` (engine-portable
    checksums of the code vector). All-zero vectors quantize to
    all-zero codes with scale 0.
    """
    x = F.col(vec_col).cast("array<double>")
    max_abs = F.aggregate(
        x, F.lit(0.0), lambda a, v: F.greatest(a, F.abs(v))
    )
    scale = max_abs / F.lit(127.0)
    codes = F.when(max_abs > 0, F.transform(
        x, lambda v: F.round(v / scale).cast("int")
    )).otherwise(F.transform(x, lambda v: F.lit(0)))
    out = df.withColumn("_scale", scale).withColumn("sq_codes", codes)
    err = F.zip_with(
        x,
        F.col("sq_codes"),
        lambda v, c: F.abs(v - c.cast("double") * F.col("_scale")),
    )
    return out.select(
        id_col,
        "sq_codes",
        # 9dp: embedding magnitudes of 1e-2/dim give scales near 1e-4;
        # 6dp rounding would zero out legitimately tiny scales
        F.round("_scale", 9).alias("sq_scale"),
        F.round(
            F.aggregate(err, F.lit(0.0), lambda a, v: F.greatest(a, v)), 9
        ).alias("max_abs_err"),
        F.aggregate(
            F.col("sq_codes"), F.lit(0).cast("long"), lambda a, c: a + c
        ).alias("sum_codes"),
        F.aggregate(
            F.col("sq_codes"),
            F.lit(0).cast("long"),
            lambda a, c: a + F.abs(c),
        ).alias("sum_abs_codes"),
    )


def prefix_dim_recall(
    df: DataFrame,
    query_ids: Sequence[int],
    prefix_dims: Sequence[int],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka/prefix-truncation quality audit (Kusupati et al.,
    "Matryoshka Representation Learning", NeurIPS'22): before shipping
    shortened vectors, measure what ANN quality each prefix length
    keeps — recall@k of the prefix-dim exact top-k against the full-dim
    exact top-k, per query.

    Plan shape: the query vectors (|query_ids| rows, model-sized) are
    broadcast against the corpus once; each (query, prefix) scoring is
    a scan-side array expression (``slice`` + the same fused
    dot/norm aggregate as ``cosine_topk``), ranks come from one window
    per (query, prefix) partition over the scored table, and recall is
    a self-join of the two rank-k sets on (query, neighbor). Nothing
    quadratic in corpus size; the corpus is scanned once per prefix
    length (prefix slices can't share one pass because norms differ).

    Cross-engine determinism: similarities rounded to 6dp before
    ranking, ties broken by neighbor id — the repo-wide embedding
    ordering contract.

    Output: (query_id, prefix_dim, n_overlap, recall — n_overlap/k).
    """
    if not query_ids or not prefix_dims:
        raise ValueError("query_ids and prefix_dims must be non-empty")
    dims = sorted(set(int(d) for d in prefix_dims))
    full = df.select(
        F.col(id_col).alias("nbr"), F.col(vec_col).alias("_v")
    )
    qs = df.filter(F.col(id_col).isin(*[int(q) for q in query_ids])).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_q")
    )
    scored = (
        full.join(F.broadcast(qs), F.col("nbr") != F.col("query_id"))
        .select(
            "query_id",
            "nbr",
            F.round(cosine_similarity(F.col("_v"), F.col("_q")), 6).alias(
                "_cs_full"
            ),
            *[
                F.round(
                    cosine_similarity(
                        F.slice(F.col("_v"), 1, d), F.slice(F.col("_q"), 1, d)
                    ),
                    6,
                ).alias(f"_cs_{d}")
                for d in dims
            ],
        )
    )
    from pyspark.sql import Window

    wf = Window.partitionBy("query_id").orderBy(
        F.col("_cs_full").desc(), F.col("nbr").asc()
    )
    base = (
        scored.withColumn("_rf", F.row_number().over(wf))
        .filter(F.col("_rf") <= k)
        .select("query_id", "nbr")
    )
    outs = []
    for d in dims:
        wd = Window.partitionBy("query_id").orderBy(
            F.col(f"_cs_{d}").desc(), F.col("nbr").asc()
        )
        topd = (
            scored.withColumn("_rd", F.row_number().over(wd))
            .filter(F.col("_rd") <= k)
            .select("query_id", "nbr")
        )
        ov = (
            base.join(topd, ["query_id", "nbr"])
            .groupBy("query_id")
            .agg(F.count("*").alias("_n"))
        )
        outs.append(
            # left join from the query universe: a prefix length whose
            # top-k shares NOTHING with the full ranking must report
            # recall 0, not vanish from the report
            qs.select("query_id")
            .join(ov, "query_id", "left")
            .select(
                "query_id",
                F.lit(d).alias("prefix_dim"),
                F.coalesce(F.col("_n"), F.lit(0).cast("long")).alias(
                    "n_overlap"
                ),
                F.round(
                    F.coalesce(F.col("_n"), F.lit(0).cast("long"))
                    / F.lit(float(k)),
                    4,
                ).alias("recall"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def vector_quality_status(
    df: DataFrame,
    vec_col: str = "embedding",
    expected_dim: int | None = None,
    status_col: str = "vec_status",
) -> DataFrame:
    """Embedding intake validation — the pre-filter every vector
    pipeline runs before ANN indexing: encoders emit NaN/Inf rows on
    bad inputs, upstream joins produce NULLs, truncation bugs produce
    wrong dimensions, and a zero vector has no direction (cosine is
    undefined). One scan-side expression tags each row:

        'null'       — the vector itself is NULL
        'wrong_dim'  — size != expected_dim (when given)
        'non_finite' — any element NULL/NaN/±Inf
        'zero_norm'  — all elements exactly 0.0
        'ok'         — usable

    Pure array expressions inside whole-stage codegen (F.exists /
    F.aggregate — no UDF); filter on ``status == 'ok'`` for the clean
    stream and aggregate the column for the intake report. The checks
    are ordered most-fundamental-first, so a NULL vector is 'null',
    not 'wrong_dim'. At 100 TB this is one projection on the scan —
    the cost of NOT running it is an index poisoned by NaN similarity
    (NaN sorts above every real score in Spark's DESC order).
    """
    v = F.col(vec_col)
    x_bad = lambda x: (  # noqa: E731 — tiny predicate, local by design
        x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf")))
    )
    status = F.when(v.isNull(), F.lit("null"))
    if expected_dim is not None:
        status = status.when(
            F.size(v) != F.lit(expected_dim), F.lit("wrong_dim")
        )
    status = (
        status.when(F.exists(v, x_bad), F.lit("non_finite"))
        .when(
            ~F.exists(v, lambda x: x.cast("double") != F.lit(0.0)),
            F.lit("zero_norm"),
        )
        .otherwise(F.lit("ok"))
    )
    return df.withColumn(status_col, status)
