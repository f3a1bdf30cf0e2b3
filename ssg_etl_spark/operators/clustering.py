"""Distributed k-means (Lloyd's) over embedding columns — the iterative
clustering stage of a training-data pipeline (semantic domain discovery,
coreset construction, diversity-balanced mixing all start from a k-means
assignment over document embeddings).

Spark-first shape (the same one MLlib uses, restated on DataFrames): the
MODEL is driver-sized, the DATA never leaves the cluster. Each Lloyd
iteration is

  1. broadcast the k×dim centroid table into the assignment expression
     (literal arrays — Catalyst folds them; no join, no shuffle), and
  2. one map-side-combined ``groupBy(cluster_id)`` whose output is k rows
     of per-dimension sufficient statistics (sum, count).

So an iteration costs one scan + one k-row shuffle, independent of corpus
size; at 100 TB the input is persisted once (MEMORY_AND_DISK) and every
iteration re-reads the cached columnar blocks.

Engine-portable determinism (the DuckDB oracle replays every step):

- Seeding: the k vectors with the LOWEST ids, cluster_id = rank order —
  no RNG, same seeds in any engine.
- Distances: squared L2 decomposed as ``xx - 2·xc + cc`` from
  left-to-right dot-product folds (the same fold DuckDB's
  ``list_dot_product`` uses), so doubles match bit-for-bit.
- Assignment: argmin with ties broken by cluster_id ASC.
- Centroid update: per-dimension DECIMAL(38,12) sums (order-independent
  regardless of partitioning) cast to DOUBLE before the division; empty
  clusters keep their previous centroid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ssg_etl_spark.cache import persist_tracked
from ssg_etl_spark.operators.similarity import _to_double, dot
from ssg_etl_spark.partitioning import VECTOR_BYTES_PER_TASK, fan_out
from ssg_etl_spark.session import local_frame

# Wide enough that summing billions of unit-scale components cannot
# overflow the integral part (38-12 = 26 digits) while keeping 12
# fractional digits — the same cross-engine-exact sufficient-statistic
# pattern as analytics.correlation_matrix.
VEC_DEC = "decimal(38,12)"


def _sq_dist(xx: Column, v: Column, centroid: list[float]) -> Column:
    """Squared L2 distance of vector column ``v`` (with its precomputed
    self-dot ``xx``) to a driver-side centroid, as ``xx - 2*xc + cc``.
    ``cc`` folds left-to-right in Python — IEEE doubles, the identical
    fold order the engines use — so every term is engine-portable."""
    cc = 0.0
    for c in centroid:
        cc += c * c
    xc = dot(v, F.array(*[F.lit(float(c)) for c in centroid]))
    return xx - 2.0 * xc + F.lit(cc)


def _assign(
    vecs: DataFrame, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """Add ``cluster_id`` (argmin of squared L2, ties → lowest id) and
    ``d2``. Pure projection: the centroid table rides inside the
    expression as folded literals — no join, no shuffle.

    The argmin rides through an INTERMEDIATE ``_best`` projection: field
    extraction from one aliased evaluation. Extracting ``best["cid"]``
    and ``best["d2"]`` directly in one projection duplicated the whole
    k-dot array_sort per output column (2 ``array_sort`` nodes in the
    executed plan — the k×dim distance work per row, twice); the
    two-step form evaluates it once (CollapseProject keeps the split:
    it does not inline non-cheap expressions consumed more than once).
    Same rows bit-for-bit — it is one evaluation of the identical
    deterministic expression."""
    best = F.array_sort(
        F.array(
            *[
                F.struct(
                    _sq_dist(F.col("_xx"), F.col("_v"), c).alias("d2"),
                    F.lit(int(cid)).alias("cid"),
                )
                for cid, c in centroids
            ]
        )
    )[0]
    cols = vecs.columns
    return vecs.withColumn("_best", best).select(
        *cols,
        F.col("_best")["cid"].alias("cluster_id"),
        F.col("_best")["d2"].alias("d2"),
    )


def _prep(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Normalized working shape: (_id, _v double[], _xx self-dot).

    Size-aware fan (r13): k-means per-row work is a handful of
    dim-length dot products — proportional to bytes — so the fan width
    derives from the estimated input size instead of the blanket
    default-parallelism fan (which shredded the small-corpus regime into
    sub-KB tasks whose fixed cost tripled every Lloyd-iteration job;
    measured 1.8 s → 0.6 s per iteration at sf0.1). Multi-split
    production inputs are unaffected (the fan no-ops either way)."""
    return fan_out(
        embeddings.select(
            F.col(id_col).alias("_id"),
            _to_double(F.col(vec_col)).alias("_v"),
        ),
        bytes_per_task=VECTOR_BYTES_PER_TASK,
    ).withColumn("_xx", dot(F.col("_v"), F.col("_v")))


def _fit_on(vecs: DataFrame, k: int, n_iter: int) -> list[tuple[int, list[float]]]:
    """Lloyd iterations over a prepared (persisted) vector table."""
    if k < 1 or n_iter < 1:
        raise ValueError("k and n_iter must be positive")

    # Materialize the persisted working table BEFORE any partial read
    # (r13): limit/first short-circuit partition iterators, and a
    # partition whose iterator is not drained is NOT cached — so the
    # dimension probe and the seed TakeOrdered each re-ran the whole
    # feature pipeline (stage metrics showed the TF/embedding prep
    # stages duplicated in every kmeans query). One count() drains and
    # caches every partition; the seed collect and all Lloyd iterations
    # then read the cached blocks. The count is also the emptiness probe.
    if vecs.count() == 0:
        raise ValueError("cannot fit k-means on an empty input DataFrame")
    # Deterministic seeding: the k lowest-id vectors, cluster_id in id
    # order. k rows to the driver — model-sized, like MLlib's init.
    seed_rows = vecs.select("_id", "_v").orderBy("_id").limit(k).collect()
    dim = len(seed_rows[0]["_v"])
    if len(seed_rows) < k:
        raise ValueError(f"k={k} exceeds corpus size {len(seed_rows)}")
    centroids = [(i, list(r["_v"])) for i, r in enumerate(seed_rows)]

    sum_cols = [
        F.sum(F.col("_v")[i].cast(VEC_DEC)).cast("double").alias(f"_s{i}")
        for i in range(dim)
    ] + [F.count(F.lit(1)).cast("double").alias("_n")]

    for _ in range(n_iter):
        stats = (
            _assign(vecs, centroids)
            .groupBy("cluster_id")
            .agg(*sum_cols)
            .collect()
        )
        by_cid = {r["cluster_id"]: r for r in stats}
        centroids = [
            (
                cid,
                [by_cid[cid][f"_s{i}"] / by_cid[cid]["_n"] for i in range(dim)]
                if cid in by_cid
                else prev,  # empty cluster keeps its previous centroid
            )
            for cid, prev in centroids
        ]
    return centroids


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 4,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Train centroids with ``n_iter`` fixed Lloyd iterations (a fixed
    budget is the deterministic, oracle-replayable contract;
    convergence-based stopping is a trivial driver-side wrapper).
    Returns the model: ``[(cluster_id, centroid), ...]`` — k×dim doubles,
    driver-sized. The data path per iteration is one persisted scan +
    one k-row-output shuffle of DECIMAL sufficient statistics."""
    vecs = persist_tracked(_prep(embeddings, id_col, vec_col))
    return _fit_on(vecs, k, n_iter)


def kmeans_assign_precomputed(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign vectors to PRE-TRAINED centroids — the serving path: the
    model rides the expression as folded literals, so assignment is a
    pure scan+project with ZERO shuffles. Train once (on a sample, a
    previous snapshot, yesterday's corpus), then label 100 TB in a
    single embarrassingly parallel map."""
    vecs = _prep(embeddings, id_col, vec_col)
    rounded = F.round("d2", 6)
    # round() of a tiny negative (float error near an exact centroid hit)
    # yields -0.0 in some engines and +0.0 in others; pin the zero.
    return _assign(vecs, centroids).select(
        F.col("_id").alias(id_col),
        "cluster_id",
        F.when(rounded == 0, F.lit(0.0)).otherwise(rounded).alias("d2"),
    )


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 4,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fit + assign on the same corpus (the persisted working table is
    shared between training and the final labeling pass): one row per
    input vector, ``(id, cluster_id int, d2 double)`` — the final
    assignment and its squared distance to the final centroid."""
    vecs = persist_tracked(_prep(embeddings, id_col, vec_col))
    centroids = _fit_on(vecs, k, n_iter)
    rounded = F.round("d2", 6)
    return _assign(vecs, centroids).select(
        F.col("_id").alias(id_col),
        "cluster_id",
        F.when(rounded == 0, F.lit(0.0)).otherwise(rounded).alias("d2"),
    )


def kmeans_profile(
    embeddings: DataFrame,
    k: int = 4,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-level summary of a k-means run: size and inertia (DECIMAL
    sum of squared distances — order-independent) per cluster."""
    assigned = kmeans_assign(embeddings, k, n_iter, id_col, vec_col)
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.col("d2").cast(VEC_DEC)).cast("double").alias("inertia"),
        )
        .select(
            "cluster_id", "n_points", F.round("inertia", 6).alias("inertia")
        )
    )


def cluster_balanced_sample(
    embeddings: DataFrame,
    per_cluster: int = 25,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversity-balanced (coreset-style) sampling: k-means the corpus,
    then take ``per_cluster`` items from EVERY cluster — equal semantic
    coverage instead of frequency-weighted coverage, the mixing move that
    keeps a dominant domain from swamping a training sample.

    Within-cluster selection orders by ``md5(id)`` (deterministic
    pseudo-random, partitioning-independent, engine-replayable) with the
    id as tie-break. The rank is a per-cluster window + rank filter —
    Spark executes it as WindowGroupLimit (per-partition top-k push-down),
    never a global sort."""
    from pyspark.sql.window import Window

    assigned = kmeans_assign(embeddings, k, n_iter, id_col, vec_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.md5(F.col(id_col).cast("string").cast("binary")), F.col(id_col)
    )
    return (
        assigned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_cluster)
        .select(id_col, "cluster_id")
    )


CENTROIDS_SCHEMA = "cluster_id INT, centroid ARRAY<DOUBLE>"


def save_centroids(
    spark, centroids: list[tuple[int, list[float]]], path: str
) -> None:
    """Persist a trained model as a tiny parquet table (cluster_id,
    centroid) — the cross-session / cross-engine handoff: train in one
    job, label corpora from any later job or stream."""
    rows = [(int(cid), [float(x) for x in c]) for cid, c in centroids]
    local_frame(spark, rows, CENTROIDS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def load_centroids(spark, path: str) -> list[tuple[int, list[float]]]:
    """Load a model saved by :func:`save_centroids` (ordered by id)."""
    rows = spark.read.parquet(path).orderBy("cluster_id").collect()
    return [(r["cluster_id"], list(r["centroid"])) for r in rows]


def kmeans_silhouette(
    embeddings: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster: for each point,
    ``a`` = distance to its own centroid, ``b`` = distance to the nearest
    OTHER centroid, ``s = (b - a) / max(a, b)`` (0 when both are 0);
    reported as the per-cluster mean — the standard cheap clustering
    quality signal (full silhouette is O(N²); the centroid form is the
    one that scales, the same simplification MLlib ships).

    Same determinism story as the assignment: both distances come from
    the sorted literal-centroid array, sqrt is IEEE-exact, and the mean
    runs on DECIMAL(28,12) intermediates."""
    if k < 2:
        # ranked[1] (nearest OTHER centroid) would be out of bounds —
        # NULL under non-ANSI, INVALID_ARRAY_INDEX under ANSI; silhouette
        # is undefined for a single cluster anyway.
        raise ValueError("silhouette requires k >= 2 clusters")
    vecs = persist_tracked(_prep(embeddings, id_col, vec_col))
    centroids = _fit_on(vecs, k, n_iter)
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    _sq_dist(F.col("_xx"), F.col("_v"), c).alias("d2"),
                    F.lit(int(cid)).alias("cid"),
                )
                for cid, c in centroids
            ]
        )
    )
    # Three-step projection so the k-dot array_sort evaluates ONCE per
    # row (same fix as _assign): inlining `ranked[...]` into the `s`
    # expression repeated the whole ranked-distance array once per
    # reference — 7 evaluations per row in the single-projection form.
    # The sqrt/greatest legs are likewise named once and extracted.
    ranked_pt = vecs.withColumn("_ranked", ranked).select(
        F.col("_ranked")[0]["cid"].alias("cluster_id"),
        F.col("_ranked")[0]["d2"].alias("_d2a"),
        F.col("_ranked")[1]["d2"].alias("_d2b"),
    )
    ab = ranked_pt.select(
        "cluster_id",
        F.sqrt(F.greatest(F.col("_d2a"), F.lit(0.0))).alias("_a"),
        F.sqrt(F.greatest(F.col("_d2b"), F.lit(0.0))).alias("_b"),
    )
    a, b = F.col("_a"), F.col("_b")
    s = F.when(F.greatest(a, b) == 0.0, F.lit(0.0)).otherwise(
        (b - a) / F.greatest(a, b)
    )
    per_point = ab.select("cluster_id", s.alias("_s"))
    return (
        per_point.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.col("_s").cast("decimal(28,12)"))
            .cast("double")
            .alias("_sum"),
        )
        .select(
            "cluster_id",
            "n_points",
            F.round(
                F.col("_sum") / F.col("n_points").cast("double"), 4
            ).alias("mean_silhouette"),
        )
    )
