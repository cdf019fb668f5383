"""Anomaly / outlier detection over vector collections (reference:
/root/reference/src/observe/anomaly.rs — LocalOutlierFactor :34-227,
IsolationForest :230-440, DistanceOutlierDetector :442-512,
StatisticalOutlierDetector :514-640).

Spark-first mapping:
- statistical z-score / IQR outliers: per-dimension moments and exact
  quartiles from ONE aggregation, then a map-only flag expression —
  the reference's O(n·d) driver loops become scan expressions.
- distance outliers (avg distance to the k nearest neighbors): the
  kNN-pairs frame from operators/knn.batch_knn (broadcast queries ⋈
  docs, rank window), aggregated per point.  Self-join is quadratic in
  compute like the reference's, but distributed; at cluster scale,
  pre-bucket with plans/ivf.py and run per-cell.
- Local Outlier Factor: three joins over the SAME kNN-pairs frame
  (k-distance lookup, reachability sum, neighbor-LRD average) — no
  per-point driver loops, LOF for every point in one lineage.
- IsolationForest: trees fit driver-side on a deterministic seeded
  sample (the reference also subsamples, :241), scored distributed via
  a broadcast tree table in one Arrow map stage.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from needle_spark.operators.knn import batch_knn
from needle_spark.operators.knn_arrow import vector_matrix


# ------------------------------------------------- statistical (z/IQR) --

def zscore_outliers(df: DataFrame, vector_col: str = "vector",
                    threshold: float = 3.0,
                    id_col: str = "id") -> DataFrame:
    """Rows where ANY dimension's z-score exceeds `threshold`
    (anomaly.rs zscore_outliers :571-589; population std like the
    reference's fit :548-555).  One stats aggregation + one map-only
    flag pass."""
    first = df.select(vector_col).first()
    dims = len(first[0])
    aggs = []
    for i in range(dims):
        x = F.col(vector_col)[i].cast("double")
        aggs += [F.avg(x).alias(f"m{i}"), F.var_pop(x).alias(f"v{i}")]
    r = df.agg(*aggs).first()
    conds = []
    for i in range(dims):
        std = math.sqrt(r[f"v{i}"] or 0.0)
        if std > 0.0:
            z = (F.col(vector_col)[i].cast("double") - F.lit(r[f"m{i}"])) \
                / F.lit(std)
            conds.append(F.abs(z) > threshold)
    flag = conds[0] if conds else F.lit(False)
    for c in conds[1:]:
        flag = flag | c
    return df.filter(flag).select(id_col)


def iqr_outliers(df: DataFrame, vector_col: str = "vector",
                 multiplier: float = 1.5,
                 id_col: str = "id") -> DataFrame:
    """Rows where any dimension leaves [Q1 - m*IQR, Q3 + m*IQR]
    (anomaly.rs iqr_outliers :591-606).  Exact quartiles via
    percentile (index quantiles like the reference's values[n/4])."""
    first = df.select(vector_col).first()
    dims = len(first[0])
    n = df.count()
    if n == 0:
        return df.select(id_col)
    # reference quartiles are 0-indexed order statistics values[n/4] and
    # values[3n/4]; percentile's linear interpolation at fraction
    # idx/(n-1) lands exactly on that order statistic
    aggs = []
    for i in range(dims):
        x = F.col(vector_col)[i].cast("double")
        aggs += [
            F.percentile(x, F.lit(min(1.0, (n // 4) / max(1, n - 1))))
            .alias(f"q1_{i}"),
            F.percentile(x, F.lit(min(1.0, (3 * n // 4) / max(1, n - 1))))
            .alias(f"q3_{i}"),
        ]
    r = df.agg(*aggs).first()
    conds = []
    for i in range(dims):
        q1, q3 = r[f"q1_{i}"], r[f"q3_{i}"]
        iqr = q3 - q1
        lo, hi = q1 - multiplier * iqr, q3 + multiplier * iqr
        x = F.col(vector_col)[i].cast("double")
        conds.append((x < lo) | (x > hi))
    flag = conds[0]
    for c in conds[1:]:
        flag = flag | c
    return df.filter(flag).select(id_col)


# ------------------------------------------------------ distance-based --

def knn_pairs(df: DataFrame, k: int, metric: str = "euclidean",
              vector_col: str = "vector", id_col: str = "id") -> DataFrame:
    """Every point's k nearest OTHER points: (query_id, id, distance,
    rank) — the shared frame the distance/LOF detectors aggregate.
    Physical shape: broadcast(points-as-queries) ⋈ points."""
    q = df.select(F.col(id_col).alias("query_id"),
                  F.col(vector_col).alias("__qv"))
    pairs = batch_knn(
        df, q, k=k + 1, metric=metric, doc_vector_col=vector_col,
        doc_id_col=id_col, query_vector_col="__qv",
    )
    return pairs.filter(F.col("query_id") != F.col(id_col)) \
        .withColumn("rank", F.row_number().over(
            Window.partitionBy("query_id").orderBy("distance", id_col))) \
        .filter(F.col("rank") <= k)


def avg_knn_distance(df: DataFrame, k: int = 5, metric: str = "euclidean",
                     vector_col: str = "vector",
                     id_col: str = "id") -> DataFrame:
    """(id, avg_knn_distance) per point
    (anomaly.rs avg_knn_distances :462-483)."""
    return (
        knn_pairs(df, k, metric, vector_col, id_col)
        .groupBy(F.col("query_id").alias(id_col))
        .agg(F.avg("distance").alias("avg_knn_distance"))
    )


def distance_outliers_percentile(
    df: DataFrame, k: int = 5, percentile: float = 95.0,
    metric: str = "euclidean", vector_col: str = "vector",
    id_col: str = "id",
) -> DataFrame:
    """Points whose avg-kNN distance exceeds the given percentile of
    all points' (anomaly.rs find_outliers_percentile :495-511, with
    the same index-quantile threshold semantics)."""
    d = avg_knn_distance(df, k, metric, vector_col, id_col)
    n = d.count()
    if n == 0:
        return d
    idx = min(int(percentile / 100.0 * n), n - 1)
    thr = (d.orderBy("avg_knn_distance")
           .select("avg_knn_distance")
           .offset(idx).limit(1).first()[0])
    return d.filter(F.col("avg_knn_distance") > thr)


def lof_scores(df: DataFrame, k: int = 5, metric: str = "euclidean",
               vector_col: str = "vector", id_col: str = "id") -> DataFrame:
    """Local Outlier Factor per point (anomaly.rs :54-133) as joins
    over ONE kNN-pairs frame:

      k_dist(p)      = max distance among p's kNN
      reach(p, o)    = max(d(p, o), k_dist(o))
      lrd(p)         = |kNN| / Σ reach(p, o)
      LOF(p)         = avg_o lrd(o) / lrd(p)

    Scores ≈ 1 inside uniform regions, > 1 for outliers.  Returns
    (id, lof).  All distributed; the pairs frame is reused through one
    cached lineage."""
    pairs = knn_pairs(df, k, metric, vector_col, id_col).persist()
    try:
        kd = pairs.groupBy("query_id").agg(
            F.max("distance").alias("__kdist"))
        # reach(p, o): join each pair's NEIGHBOR to its k-distance
        reach = (
            pairs.join(kd.withColumnRenamed("query_id", id_col), id_col)
            .withColumn("__reach", F.greatest("distance", "__kdist"))
        )
        lrd = reach.groupBy("query_id").agg(
            (F.count(F.lit(1)) / F.sum("__reach")).alias("__lrd"))
        # LOF(p) = mean lrd of neighbors / lrd(p)
        nbr_lrd = pairs.join(
            lrd.withColumnRenamed("query_id", id_col), id_col
        ).groupBy("query_id").agg(F.avg("__lrd").alias("__nbr_lrd"))
        out = (
            nbr_lrd.join(lrd, "query_id")
            .select(F.col("query_id").alias(id_col),
                    (F.col("__nbr_lrd") / F.col("__lrd")).alias("lof"))
        )
        out = out.localCheckpoint(eager=True)
        return out
    finally:
        pairs.unpersist()


# ----------------------------------------------------- isolation forest --

@dataclass
class IsolationForest:
    """Seeded isolation forest (anomaly.rs :230-440): trees fit
    driver-side on a deterministic hash-ordered sample, scoring runs
    distributed against the broadcast trees in one Arrow map stage.
    Score ~ 2^(-avg_path/c(n)): > 0.6 is anomalous, ~0.5 ordinary."""

    n_trees: int = 100
    sample_size: int = 256
    seed: int = 7
    trees: list | None = None
    _c_n: float = 1.0

    @staticmethod
    def _avg_path_length(n: int) -> float:
        """c(n) (anomaly.rs :313-320)."""
        if n <= 1:
            return 0.0
        h = math.log(n - 1) + 0.5772156649
        return 2.0 * h - 2.0 * (n - 1) / n

    def _build_node(self, x: np.ndarray, depth: int, max_depth: int,
                    rng: np.random.Generator):
        n = x.shape[0]
        if depth >= max_depth or n <= 1:
            return {"leaf": True, "n": int(n)}
        dim = int(rng.integers(0, x.shape[1]))
        lo, hi = float(x[:, dim].min()), float(x[:, dim].max())
        if lo == hi:
            return {"leaf": True, "n": int(n)}
        split = float(rng.uniform(lo, hi))
        mask = x[:, dim] < split
        return {
            "leaf": False, "dim": dim, "split": split,
            "left": self._build_node(x[mask], depth + 1, max_depth, rng),
            "right": self._build_node(x[~mask], depth + 1, max_depth, rng),
        }

    def fit(self, df: DataFrame, vector_col: str = "vector",
            id_col: str = "id") -> "IsolationForest":
        sample = (
            df.select(F.col(vector_col))
            .orderBy(F.xxhash64(F.col(id_col).cast("string"),
                                F.lit(self.seed)).asc())
            .limit(self.sample_size * 4)
            .collect()
        )
        if not sample:
            raise ValueError("cannot fit IsolationForest on an empty dataset")
        x = np.array([list(r[0]) for r in sample], dtype=np.float64)
        rng = np.random.default_rng(self.seed)
        size = min(self.sample_size, x.shape[0])
        max_depth = int(math.ceil(math.log2(max(2, size))))
        self.trees = []
        for _ in range(self.n_trees):
            idx = rng.choice(x.shape[0], size=size, replace=False)
            self.trees.append(
                self._build_node(x[idx], 0, max_depth, rng))
        self._c_n = self._avg_path_length(size)
        return self

    def _path(self, node: dict, v: np.ndarray, depth: int) -> float:
        if node["leaf"]:
            return depth + self._avg_path_length(node["n"])
        if v[node["dim"]] < node["split"]:
            return self._path(node["left"], v, depth + 1)
        return self._path(node["right"], v, depth + 1)

    def score(self, df: DataFrame, vector_col: str = "vector",
              score_col: str = "anomaly_score") -> DataFrame:
        """Distributed scoring: trees broadcast inside the Arrow kernel
        closure; one map stage, no shuffle."""
        if self.trees is None:
            raise ValueError("fit() before score()")
        trees, c_n = self.trees, self._c_n
        path = self._path

        @F.arrow_udf(T.DoubleType())
        def kernel(vectors):
            import pyarrow as pa

            scores = []
            for row in vector_matrix(vectors, np.float64, vector_col):
                avg = sum(path(t, row, 0) for t in trees) / len(trees)
                scores.append(2.0 ** (-avg / c_n) if c_n > 0 else 0.5)
            return pa.array(scores, pa.float64())

        return df.withColumn(score_col, kernel(F.col(vector_col)))
