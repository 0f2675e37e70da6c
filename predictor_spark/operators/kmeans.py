"""Distributed Lloyd's k-means over embedding columns — the iterative-ML
family representative (reference analog: the coarse quantizer the IVF
path fakes with lowest-id vectors, similarity.py:ivf_cosine_topk; this
is the real training loop a 100 TB ANN index build needs).

Topology per iteration:
- assignment is map-side: the K x dim centroid table is a broadcast
  literal, nearest-centroid is an array-expression argmin (no Python,
  no shuffle);
- update is ONE aggregate: dim per-dimension avgs + count per cluster —
  the shuffle carries K x dim numbers per task, nothing else;
- the driver holds only the K x dim centroid matrix between iterations
  (the inherently sequential part of Lloyd's, same as any parameter
  server).

Determinism: init = the K lowest-id vectors (no RNG), ties in the argmin
break to the lowest centroid id — so runs are bit-reproducible and the
single-step query has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from predictor_spark.operators.localrel import collect_bounded
from predictor_spark.operators.similarity import as_double_vec


def _sqdist(v: Column, cent: list[float]) -> Column:
    """Squared L2 distance to a literal centroid, as one fold over the
    let-bound vector (zip_with against an array literal)."""
    lit = F.array(*[F.lit(float(x)) for x in cent])
    return F.aggregate(
        F.zip_with(v, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = None,
) -> DataFrame:
    """(id, cluster, v, dist) — nearest centroid by squared L2, ties to
    the lowest cluster id. Pure projection (centroids are literals).
    ``round_dp`` rounds distances BEFORE the argmin so a SQL oracle with
    a different fold order makes identical choices (engine convention:
    rank over rounded measures)."""
    v = as_double_vec(vec_col)
    out = df.select(F.col(id_col), v.alias("v"))
    dists = [_sqdist(F.col("v"), c) for c in centroids]
    if round_dp is not None:
        dists = [F.round(d, round_dp) for d in dists]
    out = out.select(id_col, "v", F.array(*dists).alias("__d"))
    # argmin with lowest-index tie-break: array_position returns the FIRST
    # index holding the minimum
    return out.select(
        id_col, "v",
        (F.array_position(F.col("__d"), F.array_min("__d")) - 1)
        .cast("int").alias("cluster"),
        F.array_min("__d").alias("dist"),
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 4,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    assign_dp: int | None = None,
    centroid_dp: int | None = None,
) -> tuple[list[list[float]], DataFrame]:
    """Lloyd's iterations with deterministic lowest-id init. Returns the
    final centroids and the assignment computed FROM those centroids (one
    extra assignment pass after the last update, so the returned pair is
    internally consistent). Empty clusters keep their previous centroid
    (classical convention).

    ``assign_dp`` rounds distances before the argmin and ``centroid_dp``
    rounds updated centroid coordinates — set both when a SQL oracle must
    replay the fit bit-exactly: rounding pins the centroids across
    engines, so partial-aggregation summation-order ulps cannot cascade
    into different assignments (engine convention: rank over rounded
    measures)."""
    # bounds from the schema: k centroids, one row per cluster
    init = collect_bounded(
        df.orderBy(id_col).limit(k).select(as_double_vec(vec_col).alias("v")),
        k, "kmeans init centroids")
    centroids = [list(r["v"]) for r in init]
    for _ in range(n_iter):
        assigned = assign_clusters(df, centroids, id_col, vec_col, round_dp=assign_dp)
        aggs = [F.avg(F.element_at("v", d + 1)).alias(f"m{d}") for d in range(dim)]
        if centroid_dp is not None:
            aggs = [F.round(F.avg(F.element_at("v", d + 1)), centroid_dp).alias(f"m{d}")
                    for d in range(dim)]
        rows = collect_bounded(assigned.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n"), *aggs,
        ), k, "kmeans centroid update")
        new = {r["cluster"]: [r[f"m{d}"] for d in range(dim)] for r in rows}
        centroids = [new.get(c, centroids[c]) for c in range(k)]
    return centroids, assign_clusters(df, centroids, id_col, vec_col, round_dp=assign_dp)
