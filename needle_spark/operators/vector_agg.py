"""Vector aggregations: group-wise centroids, medoids, spread,
distance distributions, and centroid outliers.

Reference: /root/reference/src/experimental/vector_aggregation.rs —
compute_centroid (:91-114), compute_medoid (:117-160: argmin of summed
pairwise distance), compute_spread (:163-184: mean squared distance to
the centroid), compute_distribution (:296-352: centroid-distance
histogram + stats), detect_outliers (:381-424: z-score on centroid
distance), AggregationOp/execute_aggregation (:426-540).

Spark mapping, two centroid engines:

- `group_centroids` — the exact path: posexplode to (group, pos, x),
  ORDER-EXACT fixed-point per-dimension mean, reassemble sorted.  Bit
  reproducible across partitionings and engines (it backs the
  `vector_centroids` oracle query); shuffles n*d skinny rows.
- `group_centroids_ml` — the throughput path: pyspark.ml Summarizer
  over dense vectors, one partial aggregate of d-width sums per
  partition per group (no n*d explosion).  Float addition order is
  partition-dependent (documented); agrees with the exact path to
  float tolerance.

Spread / distribution / outliers are second passes joining the
centroid back and folding distances as scan expressions.  Medoid is
genuinely all-pairs inside a group, so it runs per group in
`applyInArrow` with a documented group-size cap — same cost shape as
the reference's in-memory loop."""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from needle_spark.operators.knn_arrow import vector_matrix

_FX = 1_000_000.0  # fixed-point scale for order-exact float sums


def _sorted_array(pairs_col: str = "__pv") -> Column:
    return F.transform(F.array_sort(F.col(pairs_col)), lambda s: s["v"])


def group_centroids(df: DataFrame, group_col: str = "label",
                    vector_col: str = "vector") -> DataFrame:
    """Exact per-group centroid: (group, centroid array<double>, count).
    Fixed-point sums make the result independent of partitioning."""
    per = df.select(
        F.col(group_col).alias("group"),
        F.posexplode(F.col(vector_col)).alias("pos", "x"))
    dim = per.groupBy("group", "pos").agg(
        (F.sum(F.round(F.col("x") * _FX).cast("long")).cast("double") / _FX
         / F.count(F.lit(1))).alias("v"),
        F.count(F.lit(1)).alias("n"))
    return (dim.groupBy("group")
            .agg(F.collect_list(F.struct(F.col("pos"), F.col("v")))
                 .alias("__pv"),
                 F.max("n").alias("count"))
            .select("group", _sorted_array().alias("centroid"),
                    F.col("count").cast("long").alias("count")))


def group_centroids_ml(df: DataFrame, group_col: str = "label",
                       vector_col: str = "vector") -> DataFrame:
    """Summarizer path: d-width partial sums, map-side combined — the
    100 TB shape (no per-element row explosion)."""
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    v = array_to_vector(F.col(vector_col).cast("array<double>"))
    out = df.groupBy(F.col(group_col).alias("group")).agg(
        Summarizer.mean(v).alias("__m"), F.count(F.lit(1)).alias("count"))
    return out.select("group", vector_to_array(F.col("__m")).alias("centroid"),
                      F.col("count").cast("long").alias("count"))


def _sq_dist_to(centroid_col: str, vector_col: str) -> Column:
    return F.aggregate(
        F.zip_with(F.col(vector_col), F.col(centroid_col),
                   lambda x, c: (x.cast("double") - c) *
                                (x.cast("double") - c)),
        F.lit(0.0), lambda acc, t: acc + t)


def centroid_distances(df: DataFrame, centroids: DataFrame,
                       group_col: str = "label",
                       vector_col: str = "vector") -> DataFrame:
    """Each row with its Euclidean distance to its group centroid
    (broadcast join — centroids are one row per group)."""
    joined = df.join(
        F.broadcast(centroids.select(F.col("group").alias(group_col),
                                     "centroid")), group_col)
    return joined.withColumn(
        "centroid_distance", F.sqrt(_sq_dist_to("centroid", vector_col)))


def group_spread(df: DataFrame, group_col: str = "label",
                 vector_col: str = "vector",
                 centroids: DataFrame | None = None) -> DataFrame:
    """compute_spread: mean SQUARED distance to the group centroid,
    order-exact (fixed-point over d^2)."""
    cents = centroids if centroids is not None else \
        group_centroids(df, group_col, vector_col)
    d2 = _sq_dist_to("centroid", vector_col)
    joined = df.join(
        F.broadcast(cents.select(F.col("group").alias(group_col),
                                 "centroid")), group_col)
    return (joined
            .select(F.col(group_col).alias("group"),
                    F.round(d2 * _FX).cast("long").alias("__d2fx"))
            .groupBy("group")
            .agg((F.sum("__d2fx").cast("double") / _FX /
                  F.count(F.lit(1))).alias("spread"),
                 F.count(F.lit(1)).cast("long").alias("count")))


def group_distribution(df: DataFrame, group_col: str = "label",
                       vector_col: str = "vector",
                       num_bins: int = 10) -> DataFrame:
    """compute_distribution per group: centroid-distance stats + a
    fixed-width histogram.  Two passes (stats, then bin counts folded
    into one row per group)."""
    cents = group_centroids(df, group_col, vector_col)
    with_d = centroid_distances(df, cents, group_col, vector_col).select(
        F.col(group_col).alias("group"), F.col("centroid_distance").alias("d"))
    stats = with_d.groupBy("group").agg(
        F.min("d").alias("min_distance"), F.max("d").alias("max_distance"),
        F.avg("d").alias("mean_distance"),
        F.stddev_pop("d").alias("std_distance"))
    j = with_d.join(F.broadcast(stats), "group")
    width = F.when(F.col("max_distance") - F.col("min_distance") < 1e-10,
                   F.lit(1.0)).otherwise(
        (F.col("max_distance") - F.col("min_distance")) / num_bins)
    binned = j.withColumn(
        "bin", F.least(((F.col("d") - F.col("min_distance")) / width)
                       .cast("int"), F.lit(num_bins - 1)))
    counts = (binned.groupBy("group", "bin").count()
              .groupBy("group")
              .agg(F.collect_list(F.struct(F.col("bin").alias("pos"),
                                           F.col("count").alias("v")))
                   .alias("__pv"))
              .select("group", F.col("__pv")))
    full = counts.select(
        "group",
        F.transform(F.sequence(F.lit(0), F.lit(num_bins - 1)), lambda b:
                    F.coalesce(
                        F.element_at(F.map_from_entries("__pv"), b), F.lit(0)))
        .alias("bin_counts"))
    return stats.join(full, "group")


def centroid_outliers(df: DataFrame, group_col: str = "label",
                      vector_col: str = "vector", id_col: str = "id",
                      threshold: float = 2.0) -> DataFrame:
    """detect_outliers: rows whose centroid distance z-score exceeds
    `threshold` (z over the group's distance distribution)."""
    cents = group_centroids(df, group_col, vector_col)
    with_d = centroid_distances(df, cents, group_col, vector_col)
    stats = with_d.groupBy(group_col).agg(
        F.avg("centroid_distance").alias("__mu"),
        F.stddev_pop("centroid_distance").alias("__sd"))
    j = with_d.join(F.broadcast(stats), group_col)
    z = F.when(F.col("__sd") > 0,
               (F.col("centroid_distance") - F.col("__mu")) / F.col("__sd")
               ).otherwise(F.lit(0.0))
    return (j.withColumn("z_score", z)
            .filter(F.col("z_score") > float(threshold))
            .select(id_col, group_col, "centroid_distance", "z_score"))


def group_medoid(df: DataFrame, group_col: str = "label",
                 vector_col: str = "vector", id_col: str = "id",
                 metric: str = "euclidean",
                 max_group_rows: int = 5000) -> DataFrame:
    """compute_medoid per group: the member minimizing summed distance
    to all other members.  All-pairs by definition -> runs inside each
    group via applyInArrow; groups larger than `max_group_rows` raise
    (sample first, or use the centroid as the proxy)."""
    m = metric.lower()
    if m not in ("euclidean", "cosine", "manhattan"):
        raise ValueError(f"unsupported medoid metric: {metric!r}")

    out_schema = (f"group string, medoid_id string, "
                  f"medoid array<double>, total_distance double")

    def _medoid(key, tbl):
        import pyarrow as pa

        group = key[0].as_py()
        if tbl.num_rows > max_group_rows:
            raise ValueError(
                f"group {group!r} has {tbl.num_rows} rows > medoid cap "
                f"{max_group_rows}; sample first")
        X = vector_matrix(tbl.column(vector_col), np.float64, vector_col)
        if m == "euclidean":
            sq = (X * X).sum(axis=1)
            D2 = np.maximum(sq[:, None] - 2.0 * (X @ X.T) + sq[None, :], 0.0)
            D = np.sqrt(D2)
        elif m == "manhattan":
            D = np.abs(X[:, None, :] - X[None, :, :]).sum(axis=2)
        else:
            norms = np.linalg.norm(X, axis=1)
            denom = np.where(norms == 0, 1.0, norms)
            Xn = X / denom[:, None]
            D = 1.0 - (Xn @ Xn.T)
        totals = D.sum(axis=1)
        best = int(np.argmin(totals))
        return pa.table({
            "group": [str(group)],
            "medoid_id": [str(tbl.column(id_col)[best].as_py())],
            "medoid": [X[best].tolist()],
            "total_distance": [float(totals[best])],
        })

    return (df.select(F.col(group_col), F.col(id_col), F.col(vector_col))
            .groupBy(group_col).applyInArrow(_medoid, out_schema))
