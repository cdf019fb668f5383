"""Arrow-vectorized batch kNN — the high-throughput path.

The expression-based batch kNN (knn.batch_knn) is exact and
oracle-checkable, but scores each (doc, query) pair through interpreted
higher-order functions.  This module is the throughput twin: a single
`mapInArrow` kernel receives Arrow batches of doc vectors, reshapes the
list-array values buffer straight into a (n, d) matrix (no per-row
Python), computes the whole distance matrix against the in-closure
query matrix with one BLAS call, and keeps a vectorized per-partition
top-k across batches.  A final window rank merges the per-partition
candidates.

Scale shape (the part that matters at 100 TB):
- the doc table is never shuffled — the kernel is map-only;
- the shuffle input is partitions x Q x k candidate rows, independent of
  doc count;
- the query matrix rides inside the serialized function (tiny), an
  explicit broadcast is unnecessary;
- numpy BLAS inside Arrow batches ≈ the SIMD kernels of the reference
  (src/distance.rs:218-295) — this is Spark's idiomatic replacement;
- `BatchKnnIndex` pins the doc side in Spark memory once (the analogue
  of the reference's in-process index build, which its published batch
  latencies also exclude) so repeated batches pay scan-from-memory, not
  parquet decode.

Distances match needle's semantics (src/distance.rs:43-73).  Float64
BLAS accumulation differs from the oracle's left-to-right fold by
O(1e-15) — far below the 1e-6 hash rounding, but queries that must be
bit-exact should use knn.batch_knn.  `dtype=np.float32` is an opt-in
for compute-dominated scales (1M x 384-d sgemm is ~2x dgemm) where the
~1e-6 relative error is acceptable for ranking.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _distance_matrix(V: np.ndarray, Q: np.ndarray, metric: str) -> np.ndarray:
    """V: (n, d) doc vectors; Q: (q, d) query vectors -> (n, q) distances."""
    m = metric.lower()
    if m in ("cosine", "cosine_normalized"):
        dot = V @ Q.T
        if m == "cosine":
            nv = np.linalg.norm(V, axis=1, keepdims=True)
            nq = np.linalg.norm(Q, axis=1, keepdims=True)
            denom = nv @ nq.T
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = np.where(denom == 0.0, 0.0, dot / np.where(denom == 0.0, 1.0, denom))
            return 1.0 - sim
        return 1.0 - dot
    if m in ("euclidean", "l2"):
        # |v-q|^2 = |v|^2 - 2 v.q + |q|^2, clipped for fp noise
        sq = (
            np.sum(V * V, axis=1, keepdims=True)
            - 2.0 * (V @ Q.T)
            + np.sum(Q * Q, axis=1, keepdims=True).T
        )
        return np.sqrt(np.clip(sq, 0.0, None))
    if m in ("dot", "dotproduct", "dot_product", "ip"):
        return -(V @ Q.T)
    if m in ("manhattan", "l1"):
        return np.abs(V[:, None, :] - Q[None, :, :]).sum(axis=2)
    if m in ("chebyshev", "linf"):
        return np.abs(V[:, None, :] - Q[None, :, :]).max(axis=2)
    if m == "hamming":
        return ((V[:, None, :] != 0) != (Q[None, :, :] != 0)).sum(axis=2).astype(np.float64)
    raise ValueError(f"unknown distance metric: {metric!r}")


def vector_matrix(arr, dtype, column: str) -> np.ndarray:
    """Arrow list / large_list / fixed_size_list vector column -> (n, d).

    The one way every kernel turns a vector column into a matrix: the
    flattened values buffer is reshaped (slice offsets honoured), with
    no per-row Python.  A chunked array is combined first.  A collection
    holds fixed-width finite vectors (needle rejects NaN at insert,
    src/collection/mod.rs:126-164), so any of these raises ValueError
    naming `column`: a null cell, a null element, rows of differing
    widths, a NaN or ±Inf component."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if arr.null_count:
        raise ValueError(f"{column}: null vector")
    if pa.types.is_fixed_size_list(arr.type):
        d = arr.type.list_size
    else:
        widths = np.diff(arr.offsets.to_numpy())
        d = int(widths[0]) if n else 0
        bad = np.flatnonzero(widths != d)
        if bad.size:
            raise ValueError(f"{column}: rows of differing widths "
                             f"{d} and {int(widths[bad[0]])}")
    vals = arr.flatten()
    if vals.null_count:
        raise ValueError(f"{column}: null vector element")
    X = np.ascontiguousarray(vals.to_numpy(zero_copy_only=False),
                             dtype=dtype).reshape(n, d)
    if not np.isfinite(X).all():
        raise ValueError(f"{column}: NaN or infinite vector component")
    return X


def _resolve_queries(queries, query_id_col: str, query_vector_col: str):
    """Accept a queries DataFrame OR in-process vectors.

    In-process forms (no Spark job — the reference's batch API also
    takes query vectors in-process):
      - (ids_sequence, matrix_like)
      - sequence of (id, vector) pairs
    """
    if isinstance(queries, DataFrame):
        tbl = queries.select(query_id_col, query_vector_col).toArrow()
        if not tbl.num_rows:
            raise ValueError("empty query set")
        q_ids = tbl.column(0).to_pylist()
        Q = vector_matrix(tbl.column(1), np.float64, query_vector_col)
        qid_type = queries.schema[query_id_col].dataType
        return q_ids, Q, qid_type
    if isinstance(queries, tuple) and len(queries) == 2:
        q_ids = list(queries[0])
        Q = np.asarray(queries[1], dtype=np.float64)
    else:
        q_ids = [q[0] for q in queries]
        Q = np.asarray([list(q[1]) for q in queries], dtype=np.float64)
    if not q_ids:
        raise ValueError("empty query set")
    first = q_ids[0]
    if isinstance(first, str):
        qid_type = T.StringType()
    elif isinstance(first, (int, np.integer)):
        qid_type = T.LongType()
        q_ids = [int(i) for i in q_ids]
    else:
        qid_type = T.DoubleType()
    return q_ids, Q, qid_type


def _topk_map_stage(
    docs: DataFrame,
    q_ids: list,
    Q: np.ndarray,
    qid_type,
    k: int,
    metric: str,
    doc_vector_col: str,
    doc_id_col: str,
    query_id_col: str,
    distance_col: str,
    dtype=np.float64,
) -> DataFrame:
    """One mapInArrow pass: per-partition top-k for every query at once."""
    from pyspark.sql.pandas.types import to_arrow_schema

    doc_id_type = docs.schema[doc_id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(query_id_col, qid_type),
            T.StructField(doc_id_col, doc_id_type),
            T.StructField(distance_col, T.DoubleType()),
        ]
    )
    arrow_schema = to_arrow_schema(out_schema)
    Qd = np.ascontiguousarray(Q, dtype=dtype)
    q_arr = np.asarray(q_ids)
    kk = k

    def kernel(batches) -> Iterator:
        import pyarrow as pa

        bD = None  # (m, q) accumulated candidate distances, m <= k
        bI = None  # (m, q) accumulated candidate doc ids
        for batch in batches:
            names = batch.schema.names
            vec = batch.column(names.index(doc_vector_col))
            V = vector_matrix(vec, dtype, doc_vector_col)
            if V.size == 0:
                continue
            ids = batch.column(names.index(doc_id_col)).to_numpy(zero_copy_only=False)
            D = _distance_matrix(V, Qd, metric)  # (n, q)
            # batch-local top-k FIRST — id selection stays a cheap fancy
            # index on the 1-d ids array, never an (n, q) materialization
            if D.shape[0] > kk:
                idx = np.argpartition(D, kk - 1, axis=0)[:kk]  # (k, q)
                Dk = np.take_along_axis(D, idx, axis=0)
                Ik = ids[idx]
            else:
                Dk, Ik = D, np.broadcast_to(ids[:, None], D.shape)
            if bD is not None:  # merge with carried top-k: tiny (2k, q)
                Dk = np.concatenate([bD, Dk], axis=0)
                Ik = np.concatenate([bI, Ik], axis=0)
                if Dk.shape[0] > kk:
                    idx = np.argpartition(Dk, kk - 1, axis=0)[:kk]
                    Dk = np.take_along_axis(Dk, idx, axis=0)
                    Ik = np.take_along_axis(Ik, idx, axis=0)
            bD, bI = Dk, np.asarray(Ik)
        if bD is None or bD.size == 0:
            return
        width = bD.shape[0]
        qcol = np.repeat(q_arr, width)  # (q * width) after transpose below
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(qcol, type=arrow_schema.field(0).type),
                pa.array(bI.T.ravel(), type=arrow_schema.field(1).type),
                pa.array(bD.T.ravel().astype(np.float64), type=arrow_schema.field(2).type),
            ],
            schema=arrow_schema,
        )

    return docs.select(doc_id_col, doc_vector_col).mapInArrow(kernel, out_schema)


def _merge_topk(
    partial: DataFrame,
    k: int,
    query_id_col: str,
    doc_id_col: str,
    distance_col: str,
    rank_col: str,
) -> DataFrame:
    """Window-rank merge of the per-partition candidates.  Input is at
    most partitions x Q x k rows — tiny and independent of doc count."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(distance_col).asc(), F.col(doc_id_col).asc()
    )
    return (
        partial.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .select(query_id_col, doc_id_col, distance_col, rank_col)
    )


def batch_knn_arrow(
    docs: DataFrame,
    queries,
    k: int = 10,
    metric: str = "cosine",
    doc_vector_col: str = "vector",
    doc_id_col: str = "id",
    query_vector_col: str = "vector",
    query_id_col: str = "query_id",
    distance_col: str = "distance",
    rank_col: str = "rank",
    dtype=np.float64,
) -> DataFrame:
    """Per-query top-k over a large doc table for a small-to-medium query
    set.  Output: (query_id, doc_id, distance, rank).

    `queries` may be a DataFrame or in-process vectors — (ids, matrix)
    or [(id, vector), ...] — which skips the query-collect Spark job
    entirely (one job total: map-stage + tiny merge)."""
    q_ids, Q, qid_type = _resolve_queries(queries, query_id_col, query_vector_col)
    partial = _topk_map_stage(
        docs, q_ids, Q, qid_type, k, metric,
        doc_vector_col, doc_id_col, query_id_col, distance_col, dtype=dtype,
    )
    return _merge_topk(partial, k, query_id_col, doc_id_col, distance_col, rank_col)


class BatchKnnIndex:
    """Reusable doc-side state for repeated batch-kNN calls.

    The reference's published batch latency (BASELINE.md: 1.8 ms/query
    at 1M x 384-d) queries a prebuilt in-memory HNSW index; this is the
    Spark analogue: pin the (id, vector) projection in executor memory
    once, then every `search` is a single scan-from-memory map stage
    plus a candidate merge over partitions x Q x k rows.  Unlike HNSW
    the scan is EXACT (recall 1.0), and it scales out by partitioning
    instead of growing one node's graph.
    """

    def __init__(
        self,
        docs: DataFrame,
        vector_col: str = "vector",
        id_col: str = "id",
        metric: str = "cosine",
        dtype=np.float64,
    ):
        self.vector_col = vector_col
        self.id_col = id_col
        self.metric = metric
        self.dtype = dtype
        self.docs = docs.select(id_col, vector_col).persist()
        self.docs.count()  # materialize the cache now, not on first search

    def search(
        self,
        queries,
        k: int = 10,
        metric: str | None = None,
        query_id_col: str = "query_id",
        query_vector_col: str = "vector",
        distance_col: str = "distance",
        rank_col: str = "rank",
    ) -> DataFrame:
        return batch_knn_arrow(
            self.docs, queries, k=k, metric=metric or self.metric,
            doc_vector_col=self.vector_col, doc_id_col=self.id_col,
            query_vector_col=query_vector_col, query_id_col=query_id_col,
            distance_col=distance_col, rank_col=rank_col, dtype=self.dtype,
        )

    def search_local(
        self,
        queries,
        k: int = 10,
        metric: str | None = None,
        query_id_col: str = "query_id",
        distance_col: str = "distance",
        rank_col: str = "rank",
    ):
        """Low-latency batch search: one map-stage job, then the
        candidate merge happens on the DRIVER — the same pattern as
        Spark's own `RDD.takeOrdered` / `TakeOrderedAndProject`.  The
        map stage returns at most partitions x Q x k rows, so the
        driver merge is O(P*Q*k) independent of the doc count; at 1000
        executors x 100 queries x k=10 that is 1M tiny rows, still
        driver-safe.  Returns a pandas DataFrame
        (query_id, <id_col>, distance, rank) sorted by (query, rank)."""
        import pandas as pd  # noqa: F401 (documented dependency of the local path)

        q_ids, Q, qid_type = _resolve_queries(queries, query_id_col, "vector")
        partial = _topk_map_stage(
            self.docs, q_ids, Q, qid_type, k, metric or self.metric,
            self.vector_col, self.id_col, query_id_col, distance_col,
            dtype=self.dtype,
        )
        pdf = partial.toPandas()
        pdf = pdf.sort_values([query_id_col, distance_col, self.id_col],
                              kind="mergesort", ignore_index=True)
        pdf = pdf.groupby(query_id_col, sort=False).head(k).reset_index(drop=True)
        pdf[rank_col] = pdf.groupby(query_id_col, sort=False).cumcount() + 1
        return pdf

    def unpersist(self) -> None:
        self.docs.unpersist()
