"""Dimensionality reduction: PCA, random projection, and sampled
neighbor embedding (reference: /root/reference/src/ml/dimreduce.rs —
PCA fit/transform :29-120, RandomProjection :150+, NeighborEmbedding
:358-530).

Scale design:
- PCA fit: the d x d scatter matrix accumulates DISTRIBUTED — each
  Arrow batch contributes (count, sum, X^T X) partials, the driver sums
  a handful of d^2-sized rows and eigendecomposes locally.  No row data
  reaches the driver; cost is one scan.
- transforms: map-only projections.  Small output dims compile to pure
  Catalyst dot-product folds (oracle-checkable in SQL); larger ones use
  an Arrow-batched matmul kernel.
- RandomProjection matrices derive from a counter-hash PRNG, so the
  same seed yields the same matrix in any engine/process — the SQL twin
  embeds identical literals.
- NeighborEmbedding: the reference's t-SNE is O(n^2) per iteration —
  driver-bound by construction — so the Spark version fits on a
  DETERMINISTIC landmark sample (hash-ordered, <= max_landmarks rows
  collected once) and places every other row distributively by
  inverse-distance interpolation over its nearest landmarks (one
  Arrow-batched map stage against the broadcast landmark matrix).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from needle_spark.functions.distance import array_literal
from needle_spark.operators.knn_arrow import vector_matrix


def _dot_expr(vec: Column, weights: list[float]) -> Column:
    """Fixed-order dot product of an array column with literal weights."""
    w = array_literal(weights)
    return F.aggregate(
        F.zip_with(vec, w, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _duckdb_dot_sql(vec: str, weights: list[float]) -> str:
    lits = ", ".join(repr(float(x)) for x in weights)
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(list_zip({vec}, [{lits}]), "
        f"z -> CAST(z[1] AS DOUBLE) * z[2])), (acc, x) -> acc + x)"
    )


# ------------------------------------------------------ random projection --

def _hash_unit(seed: int, i: int, j: int) -> float:
    """Deterministic uniform(-1,1) from a counter hash (engine-portable,
    no RNG state)."""
    h = (seed * 1_000_003 + i * 8191 + j * 127) * 2654435761 % (1 << 32)
    return h / float((1 << 32) - 1) * 2.0 - 1.0


@dataclass
class RandomProjection:
    """Seeded JL projection (dimreduce.rs RandomProjection): matrix
    entries uniform(-1,1)/sqrt(out_dim), reproducible from the seed."""

    in_dim: int
    out_dim: int
    seed: int = 7

    def matrix(self) -> list[list[float]]:
        s = math.sqrt(self.out_dim)
        return [
            [_hash_unit(self.seed, i, j) / s for i in range(self.in_dim)]
            for j in range(self.out_dim)
        ]

    def transform(self, df: DataFrame, vector_col: str = "vector",
                  out_prefix: str = "p") -> DataFrame:
        cols = [
            _dot_expr(F.col(vector_col), row).alias(f"{out_prefix}{j}")
            for j, row in enumerate(self.matrix())
        ]
        return df.select("*", *cols)

    def duckdb_transform_sql(self, vec: str = "embedding",
                             out_prefix: str = "p") -> list[str]:
        """One SQL expression per output dim (identical literals)."""
        return [
            f"{_duckdb_dot_sql(vec, row)} AS {out_prefix}{j}"
            for j, row in enumerate(self.matrix())
        ]


# ------------------------------------------------------------------- PCA --

@dataclass
class PCA:
    """PCA fitted distributively; transform is a map-only projection.

    Attributes mirror dimreduce.rs PCA: components (rows = PCs), mean,
    explained_variance (descending), total_variance."""

    components: np.ndarray        # (k, d)
    mean: np.ndarray              # (d,)
    explained_variance: np.ndarray
    total_variance: float

    @classmethod
    def fit(cls, df: DataFrame, n_components: int,
            vector_col: str = "vector") -> "PCA":
        import pyarrow as pa

        first = df.select(vector_col).first()
        if first is None or first[0] is None:
            raise ValueError("cannot fit PCA on an empty dataset")
        d_probe = len(first[0])

        def partials(batches):
            for batch in batches:
                x = vector_matrix(batch.column(0), np.float64, vector_col)
                if x.size == 0:
                    continue
                yield pa.RecordBatch.from_pydict({
                    "n": [float(x.shape[0])],
                    "s": [x.sum(axis=0).tolist()],
                    "ss": [(x.T @ x).reshape(-1).tolist()],
                })

        parts = df.select(vector_col).mapInArrow(
            partials, schema="n double, s array<double>, ss array<double>"
        ).collect()
        if not parts:
            raise ValueError("cannot fit PCA on an empty dataset")
        n = sum(r["n"] for r in parts)
        s = np.sum([np.array(r["s"]) for r in parts], axis=0)
        ss = np.sum([np.array(r["ss"]) for r in parts], axis=0).reshape(
            d_probe, d_probe)
        mean = s / n
        # scatter -> covariance via E[xx^T] - mu mu^T (population)
        cov = ss / n - np.outer(mean, mean)
        evals, evecs = np.linalg.eigh(cov)       # ascending
        order = np.argsort(evals)[::-1][:n_components]
        return cls(
            components=evecs[:, order].T.copy(),
            mean=mean,
            explained_variance=np.maximum(evals[order], 0.0),
            total_variance=float(np.maximum(evals, 0.0).sum()),
        )

    def explained_variance_ratio(self) -> np.ndarray:
        if self.total_variance <= 0:
            return np.zeros_like(self.explained_variance)
        return self.explained_variance / self.total_variance

    def transform(self, df: DataFrame, vector_col: str = "vector",
                  out_prefix: str = "pc") -> DataFrame:
        """Map-only (x - mean) @ components^T as Catalyst folds."""
        centered_dot = []
        for j, row in enumerate(self.components):
            # (x - mean) . row == x . row - mean . row (constant folded)
            const = float(np.dot(self.mean, row))
            centered_dot.append(
                (_dot_expr(F.col(vector_col), row.tolist()) - F.lit(const))
                .alias(f"{out_prefix}{j}")
            )
        return df.select("*", *centered_dot)


# ------------------------------------------------- neighbor embedding --

@dataclass
class NeighborEmbedding:
    """Sampled t-SNE-style 2-d/3-d layout (dimreduce.rs:358-530:
    perplexity-calibrated Gaussian affinities, student-t low-dim
    kernel, momentum gradient descent, centered output).

    fit(): deterministic landmark sample -> driver-side vectorized
    t-SNE (O(L^2) with L <= max_landmarks).  transform(): every row
    interpolates the fitted landmark positions — weights are inverse
    squared distance to its `interp_k` nearest landmarks — in one
    Arrow-batched map stage (landmark matrix broadcast, no shuffle, no
    driver row traffic).  Seeded init (counter-hash RNG) makes the
    whole layout reproducible."""

    output_dims: int = 2
    perplexity: float = 30.0
    learning_rate: float = 200.0
    n_iter: int = 500
    seed: int = 7
    max_landmarks: int = 512
    interp_k: int = 8

    landmarks_hd: np.ndarray | None = None   # (L, d) fitted high-dim
    landmarks_ld: np.ndarray | None = None   # (L, output_dims)

    # ------------------------------------------------------- driver fit --
    def _affinities(self, d2: np.ndarray) -> np.ndarray:
        """Perplexity-calibrated P matrix (binary search on sigma per
        point, dimreduce.rs:486-530)."""
        n = d2.shape[0]
        target = math.log(max(2.0, min(self.perplexity, (n - 1) / 3.0)))
        p = np.zeros((n, n))
        for i in range(n):
            lo, hi, beta = 1e-10, 1e10, 1.0   # beta = 1/(2 sigma^2)
            row = np.delete(d2[i], i)
            for _ in range(50):
                w = np.exp(-row * beta)
                s = w.sum()
                if s <= 0:
                    h = 0.0
                    pr = np.zeros_like(row)
                else:
                    pr = w / s
                    nz = pr[pr > 1e-12]
                    h = float(-(nz * np.log(nz)).sum())
                if abs(h - target) < 1e-5:
                    break
                if h > target:     # too flat -> sharpen (raise beta)
                    lo = beta
                    beta = beta * 2 if hi >= 1e10 else (beta + hi) / 2
                else:
                    hi = beta
                    beta = beta / 2 if lo <= 1e-10 else (beta + lo) / 2
            p[i, np.arange(n) != i] = pr
        p = (p + p.T) / (2.0 * n)
        return np.maximum(p, 1e-12)

    def _fit_local(self, x: np.ndarray) -> np.ndarray:
        n = x.shape[0]
        if n == 1:
            # a single landmark has no neighbors: its layout is the
            # origin (gradient descent on an empty P would divide by 0)
            return np.zeros((1, self.output_dims))
        # ||a-b||^2 = a^2 - 2ab + b^2 — never materialize the
        # (L, L, d) difference tensor (1.6 GB at L=512, d=768)
        sq = (x ** 2).sum(1)
        d2 = np.maximum(sq[:, None] - 2.0 * (x @ x.T) + sq[None, :], 0.0)
        p = self._affinities(d2)
        rng = np.random.default_rng(self.seed)
        y = (rng.random((n, self.output_dims)) - 0.5) * 0.01
        vel = np.zeros_like(y)
        momentum = 0.8
        for it in range(self.n_iter):
            yd2 = ((y[:, None, :] - y[None, :, :]) ** 2).sum(-1)
            num = 1.0 / (1.0 + yd2)
            np.fill_diagonal(num, 0.0)
            q = np.maximum(num / num.sum(), 1e-12)
            pq = (p - q) * num
            grad = 4.0 * ((pq.sum(1)[:, None] * y) - pq @ y)
            vel = momentum * vel - self.learning_rate * grad
            y = y + vel
        return y - y.mean(0)

    def fit(self, df: DataFrame, vector_col: str = "vector",
            id_col: str = "id") -> "NeighborEmbedding":
        """Deterministic landmark sample: order by xxhash64(id, seed),
        take max_landmarks — stable across partitionings/engines."""
        sample = (
            df.select(F.col(id_col), F.col(vector_col))
            .orderBy(F.xxhash64(F.col(id_col).cast("string"),
                                F.lit(self.seed)).asc(),
                     F.col(id_col).asc())
            .limit(self.max_landmarks)
            .collect()
        )
        if not sample:
            raise ValueError("cannot fit NeighborEmbedding on an empty dataset")
        x = np.array([list(r[vector_col]) for r in sample], dtype=np.float64)
        self.landmarks_hd = x
        self.landmarks_ld = self._fit_local(x)
        return self

    # ------------------------------------------- distributed transform --
    def transform(self, df: DataFrame, vector_col: str = "vector",
                  out_col: str = "layout") -> DataFrame:
        """One Arrow map stage: squared distances to the broadcast
        landmark matrix, inverse-distance weights over the interp_k
        nearest, weighted sum of landmark 2-d positions.  A row that IS
        a landmark lands exactly on its fitted position (its distance-0
        weight saturates the normalization)."""
        if self.landmarks_hd is None:
            raise ValueError("fit() before transform()")
        hd, ld = self.landmarks_hd, self.landmarks_ld
        k = min(self.interp_k, hd.shape[0])
        out_dims = self.output_dims
        h_sq = (hd ** 2).sum(1)

        @F.arrow_udf(T.ArrayType(T.DoubleType()))
        def layout(vectors):
            import pyarrow as pa

            x = vector_matrix(vectors, np.float64, vector_col)
            if len(x) == 0:
                return pa.array([], pa.list_(pa.float64()))
            d2 = np.maximum(
                (x ** 2).sum(1)[:, None] - 2.0 * (x @ hd.T) + h_sq[None, :],
                0.0,
            )
            idx = np.argpartition(d2, k - 1, axis=1)[:, :k]
            nd = np.take_along_axis(d2, idx, axis=1)
            w = 1.0 / (nd + 1e-9)
            w = w / w.sum(1, keepdims=True)
            pos = np.ascontiguousarray((w[:, :, None] * ld[idx]).sum(1)[:, :out_dims])
            return pa.FixedSizeListArray.from_arrays(
                pa.array(pos.ravel()), pos.shape[1])

        return df.withColumn(out_col, layout(F.col(vector_col)))

    def fit_transform(self, df: DataFrame, vector_col: str = "vector",
                      id_col: str = "id", out_col: str = "layout") -> DataFrame:
        return self.fit(df, vector_col, id_col).transform(
            df, vector_col, out_col)
