"""IVF (inverted-file) approximate nearest neighbor — the Spark-native
ANN index.

The reference's ANN stack is HNSW (+ IVF variants, /root/reference/src/
indexing/{hnsw.rs,ivf.rs}).  HNSW is a pointer-chasing graph — wrong
shape for a distributed columnar engine.  IVF is the natural Spark
mapping (SURVEY §4.2): KMeans centroids become a partition-prunable
`centroid_id` column; a query probes its `nprobe` nearest centroids and
scans only those rows.

At 100 TB: write the indexed table partitioned by `centroid_id`
(`.write.partitionBy("centroid_id")`) so the probe filter becomes
partition pruning — the scan reads nprobe/nlist of the data.  Recall is
tunable with nprobe and measured against the exact oracle (recall
harness below, mirroring src/recall_benchmark.rs).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from needle_spark.operators.knn_arrow import vector_matrix


class IvfIndex:
    """KMeans-centroid IVF index over an array<float> column."""

    def __init__(self, centroids: np.ndarray, vector_col: str, id_col: str):
        self.centroids = centroids  # (nlist, dim) float64
        self.vector_col = vector_col
        self.id_col = id_col

    @property
    def nlist(self) -> int:
        return len(self.centroids)

    # -- build --------------------------------------------------------
    @classmethod
    def fit(
        cls,
        df: DataFrame,
        nlist: int = 64,
        vector_col: str = "vector",
        id_col: str = "id",
        seed: int = 42,
        max_iter: int = 20,
        sample_fraction: float | None = None,
    ) -> "IvfIndex":
        """Train centroids with MLlib KMeans (distributed, seeded).

        `sample_fraction` trains on a sample — at 100 TB you fit on ~1e6
        sampled rows; assignment is still exact over everything.
        """
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = df
        if sample_fraction is not None:
            train = df.sample(fraction=sample_fraction, seed=seed)
        feats = train.select(array_to_vector(F.col(vector_col).cast("array<double>")).alias("features"))
        model = KMeans(k=nlist, seed=seed, maxIter=max_iter).fit(feats)
        centroids = np.asarray([np.asarray(c, dtype=np.float64) for c in model.clusterCenters()])
        return cls(centroids, vector_col, id_col)

    # -- assign -------------------------------------------------------
    def assign(self, df: DataFrame, out_col: str = "centroid_id") -> DataFrame:
        """Attach the nearest-centroid id (L2) to each row via an Arrow
        kernel — one map-only pass; write partitioned by this column."""
        C = self.centroids
        vector_col = self.vector_col

        @F.arrow_udf("int")
        def _nearest(s):
            import pyarrow as pa

            V = vector_matrix(s, np.float64, vector_col)
            if len(V) == 0:
                return pa.array([], pa.int32())
            d = (
                (V * V).sum(axis=1, keepdims=True)
                - 2.0 * (V @ C.T)
                + (C * C).sum(axis=1)[None, :]
            )
            return pa.array(d.argmin(axis=1).astype(np.int32))

        return df.withColumn(out_col, _nearest(F.col(vector_col)))

    # -- search -------------------------------------------------------
    def probe_ids(self, query_vector: Sequence[float], nprobe: int) -> list[int]:
        q = np.asarray(query_vector, dtype=np.float64)
        d = ((self.centroids - q) ** 2).sum(axis=1)
        return [int(i) for i in np.argsort(d, kind="stable")[:nprobe]]

    def search(
        self,
        indexed_df: DataFrame,
        query_vector: Sequence[float],
        k: int = 10,
        nprobe: int = 8,
        metric: str = "cosine",
        centroid_col: str = "centroid_id",
        filter=None,
        **knn_kwargs,
    ) -> DataFrame:
        """Approximate kNN: restrict the scan to nprobe nearest centroid
        buckets, then run the exact kNN pipeline inside them.  The
        centroid_id IN (...) predicate partition-prunes a
        partitionBy(centroid_id) table."""
        from needle_spark.operators.knn import knn

        probes = self.probe_ids(query_vector, nprobe)
        pruned = indexed_df.filter(F.col(centroid_col).isin(probes))
        return knn(
            pruned, query_vector, k=k, metric=metric, filter=filter,
            vector_col=self.vector_col, id_col=self.id_col, **knn_kwargs,
        )


def recall_at_k(
    df: DataFrame,
    index: IvfIndex,
    indexed_df: DataFrame,
    queries: Sequence[Sequence[float]],
    k: int = 10,
    nprobe: int = 8,
    metric: str = "cosine",
) -> float:
    """Recall harness vs the exact oracle (src/recall_benchmark.rs:1-50):
    |approx ∩ exact| / k averaged over queries."""
    from needle_spark.operators.knn import knn

    total = 0.0
    for qv in queries:
        exact = {
            r[index.id_col]
            for r in knn(
                df, qv, k=k, metric=metric,
                vector_col=index.vector_col, id_col=index.id_col,
            ).collect()
        }
        approx = {
            r[index.id_col]
            for r in index.search(indexed_df, qv, k=k, nprobe=nprobe, metric=metric).collect()
        }
        total += len(exact & approx) / k
    return total / len(queries)


# ---------------------------------------------------------------------------
# IVF + SQ8-residual batch serving
# ---------------------------------------------------------------------------

def _l2_normalize(M: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(M, axis=1, keepdims=True)
    return M / np.where(n == 0.0, 1.0, n)


def _kmeans_fit(X: np.ndarray, nlist: int, seed: int, max_iter: int) -> np.ndarray:
    """Driver-side Lloyd's over a bounded sample (float32 BLAS).

    The sample is capped (IvfBatchKnnIndex.sample_rows), so this is
    O(sample x nlist x d) on the driver regardless of table size — the
    same fit-on-sample contract as IvfIndex.fit, without an MLlib
    vector-conversion pass."""
    rng = np.random.default_rng(seed)
    n = X.shape[0]
    k = min(nlist, n)
    C = X[rng.choice(n, size=k, replace=False)].astype(np.float32).copy()
    Xf = np.ascontiguousarray(X, dtype=np.float32)
    xsq = (Xf * Xf).sum(axis=1, keepdims=True)
    for _ in range(max_iter):
        d = xsq - 2.0 * (Xf @ C.T) + (C * C).sum(axis=1)[None, :]
        assign = d.argmin(axis=1)
        newC = C.copy()
        empty = []
        for c in range(k):
            members = Xf[assign == c]
            if len(members):
                newC[c] = members.mean(axis=0)
            else:
                empty.append(c)
        if empty:
            # re-seed empty cells from DISTINCT farthest points: one
            # shared argmax would plant duplicate centroids that
            # permanently collapse cells (argmin ties pick one index)
            far = np.argsort(d.min(axis=1))[::-1]
            for j, c in enumerate(empty):
                newC[c] = Xf[int(far[j % len(far)])]
        if np.allclose(newC, C, atol=1e-7):
            C = newC
            break
        C = newC
    return C.astype(np.float64)


def _bytes_matrix_from_arrow(arr, width: int) -> np.ndarray:
    """Arrow binary column of uniform `width` -> (n, width) uint8 view."""
    import pyarrow as pa

    n = len(arr)
    if n == 0:
        return np.empty((0, width), dtype=np.uint8)
    if pa.types.is_fixed_size_binary(arr.type):
        buf = arr.buffers()[1]
        flat = np.frombuffer(buf, dtype=np.uint8)
        start = arr.offset * width
        return flat[start:start + n * width].reshape(n, width)
    # variable-width binary (Spark BinaryType): offsets + data buffers
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[arr.offset:arr.offset + n + 1]
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    if arr.null_count or (np.diff(offs) != width).any():
        raise ValueError(f"binary column: values of width other than {width}")
    return data[offs[0]:offs[-1]].reshape(n, width)


def _pq_encode(res, books):
    """Residuals -> PQ codes + decoded reconstruction.

    res: (n, dim) float32 residuals; books: (m, 256, sub) float32.
    Per subspace one (n, 256) distance matrix picks the nearest
    codeword (quantization.rs PQ encode).  Returns (codes uint8 (n, m),
    decoded float32 (n, dim))."""
    n, dim = res.shape
    m, _, sub = books.shape
    R = np.ascontiguousarray(res, dtype=np.float32).reshape(n, m, sub)
    codes = np.empty((n, m), dtype=np.uint8)
    dec = np.empty((n, m, sub), dtype=np.float32)
    for j in range(m):
        Bj = books[j]
        d = ((R[:, j, :] ** 2).sum(axis=1, keepdims=True)
             - 2.0 * (R[:, j, :] @ Bj.T) + (Bj * Bj).sum(axis=1)[None, :])
        cj = d.argmin(axis=1)
        codes[:, j] = cj.astype(np.uint8)
        dec[:, j, :] = Bj[cj]
    return codes, dec.reshape(n, dim)


def _assign_cells(V, C32, csq, normalize: bool):
    """The cell assignment every encode path runs (the `_encode` Arrow
    kernel, `_encode_np` and the sq8_cell range fit), in float32, so a
    row near a cell boundary lands in the same cell at fit and at
    encode time.  V: raw float32 rows.  Returns (V in scoring space —
    l2-normalized for cosine —, squared norms of the input, int32
    cell ids)."""
    nsq = (V * V).sum(axis=1)
    if normalize:
        norms = np.sqrt(nsq)
        V = V / np.where(norms == 0.0, 1.0, norms)[:, None]
        nsq = np.ones_like(nsq)
    d = ((V * V).sum(axis=1, keepdims=True)
         - 2.0 * (V @ C32.T) + csq[None, :])
    return V, nsq, d.argmin(axis=1).astype(np.int32)


def _cell_ranges(V, C32, csq, normalize: bool):
    """Per-cell member count and per-dimension min/max of the float32
    residuals `_encode` quantizes, over the raw float32 rows V: the
    sq8_cell range fit.  Returns (count (nlist,), lo (nlist, d),
    hi (nlist, d)); an empty cell has lo = +inf and hi = -inf, so
    partial results merge with np.minimum / np.maximum."""
    V, _, assign = _assign_cells(V, C32, csq, normalize)
    res = V - C32[assign]
    nlist, d = C32.shape
    cnt = np.bincount(assign, minlength=nlist)
    lo = np.full((nlist, d), np.inf, dtype=np.float32)
    hi = np.full((nlist, d), -np.inf, dtype=np.float32)
    cells = np.flatnonzero(cnt)
    if cells.size:
        res = res[np.argsort(assign, kind="stable")]
        starts = np.concatenate(([0], np.cumsum(cnt[cells])[:-1]))
        lo[cells] = np.minimum.reduceat(res, starts, axis=0)
        hi[cells] = np.maximum.reduceat(res, starts, axis=0)
    return cnt, lo, hi


def _cell_ranges_spark(docs: DataFrame, vector_col: str, C32, normalize: bool):
    """`_cell_ranges` over every row of `docs`: one map-only job whose
    partitions each return one (cell, n, lo, hi) row per cell they hold,
    merged on the driver (partitions x nlist rows at most)."""
    import pyarrow as pa

    csq = (C32 * C32).sum(axis=1)
    nlist, d = C32.shape

    def kernel(batches) -> Iterator:
        cnt = np.zeros(nlist, dtype=np.int64)
        lo = np.full((nlist, d), np.inf, dtype=np.float32)
        hi = np.full((nlist, d), -np.inf, dtype=np.float32)
        for batch in batches:
            V = vector_matrix(batch.column(0), np.float32, vector_col)
            if V.size == 0:
                continue
            c, l, h = _cell_ranges(V, C32, csq, normalize)
            cnt += c
            np.minimum(lo, l, out=lo)
            np.maximum(hi, h, out=hi)
        cells = np.flatnonzero(cnt)
        if cells.size:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cells, type=pa.int32()),
                 pa.array(cnt[cells], type=pa.int64()),
                 pa.array([r.tobytes() for r in lo[cells]], type=pa.binary()),
                 pa.array([r.tobytes() for r in hi[cells]], type=pa.binary())],
                names=["cell", "n", "lo", "hi"])

    part = docs.select(vector_col).mapInArrow(
        kernel, "cell int, n long, lo binary, hi binary").toArrow()
    cnt = np.zeros(nlist, dtype=np.int64)
    lo = np.full((nlist, d), np.inf, dtype=np.float32)
    hi = np.full((nlist, d), -np.inf, dtype=np.float32)
    cells = part.column("cell").to_numpy()
    np.add.at(cnt, cells, part.column("n").to_numpy())
    for col, out, op in (("lo", lo, np.minimum), ("hi", hi, np.maximum)):
        rows = _bytes_matrix_from_arrow(part.column(col).combine_chunks(),
                                        4 * d).view(np.float32)
        op.at(out, cells, rows)
    return cnt, lo, hi


def _sq_for_cell(SQ, step2, QT, cell):
    """Per-cell step-scaled query block: the global (dim, nq) SQ when
    the quantizer is global (sq8/float32) — or the ('pq', LUT) marker,
    which is cell-independent too — or step2[cell]-scaled QT for the
    per-cell quantizer (sq8_cell)."""
    if SQ is not None:
        return SQ
    return np.ascontiguousarray(step2[cell][:, None] * QT)


def _dist_from_dot(dot, nsq, qsq, metric: str):
    """Distances from the (n_rows, n_queries) dot block, each row's
    decoded norm nsq (n_rows,) and each query's qsq (n_queries,)."""
    if metric == "cosine":
        # renormalize by the DECODED vector's norm (stored in nsq for
        # quantized code tiers; exactly 1.0 for float32 codes): the
        # quantized x_hat is not unit-length, and cos = dot/|x_hat| —
        # skipping the division biases ranking by each row's
        # quantization norm drift (measured recall@10 0.855 -> 0.978
        # on a unit-norm 128-d corpus, PLANS.md round 8)
        return 1.0 - dot / np.sqrt(
            np.maximum(np.asarray(nsq), 1e-24))[:, None]
    if metric == "dot":
        return -dot
    return np.sqrt(np.clip(  # euclidean
        np.asarray(nsq)[:, None] - 2.0 * dot + qsq[None, :], 0.0, None))


#: rows scored per block by the filtered single-query pass: its float32
#: working set is O(FILTERED_BLOCK_ROWS x dim) whatever the nprobe or
#: the predicate's selectivity
FILTERED_BLOCK_ROWS = 4096


def _score_rows(codes, nsq, cells, SQ, step2, QT, base, qsq, metric: str):
    """Score gathered rows of MANY cells (`cells` sorted, one per row)
    against one query: each row takes its own cell's terms (base[cell],
    and for the per-cell quantizer step2[cell]).  Same decomposition
    as _score_cell_block, with the same float32 arithmetic: each run
    of one cell's rows is one BLAS gemv against that cell's step-scaled
    query, so every distance is bit-identical to the per-cell kernel's
    (a row's gemv result does not depend on the rows beside it, but
    an elementwise dot rounds differently and reorders near-ties).
    Returns (n_rows,) distances."""
    if isinstance(SQ, tuple):  # ('pq', LUT (1, m, 256) f32)
        L = SQ[1][0]
        dot = np.zeros(len(codes), dtype=np.float32)
        for j in range(codes.shape[1]):
            dot += L[j][codes[:, j]]
    else:
        Cf = codes if codes.dtype == np.float32 \
            else codes.astype(np.float32)
        dot = np.empty(len(Cf), dtype=np.float32)
        cuts = np.flatnonzero(np.diff(cells)) + 1
        for a, b in zip(np.r_[0, cuts], np.r_[cuts, len(cells)]):
            dot[a:b] = Cf[a:b] @ (SQ[:, 0] if SQ is not None
                                  else step2[cells[a]] * QT[:, 0])
    dot += base[cells, 0]
    return _dist_from_dot(dot[:, None], nsq, qsq, metric)[:, 0]


def _score_cell_block(codes_u8, ids_cell, nsq_cell, qidx, SQ, base_row, qsq,
                      metric: str, k: int, return_sel: bool = False):
    """Score one cell's rows against the queries probing it.

    dist decomposes over the SQ8 codes without decoding:
    dot(v, q) = c.q + mn.q + codes_f32 . (step*q); the uint8->float32
    cast plus one sgemm is the whole inner loop.

    return_sel (the refine tier) additionally returns the selected
    block-row indices so the caller can thread packed row references
    through the top-k reduce; the exact float32-sidecar re-rank then
    runs ONCE post-merge over the surviving candidates (per-cell
    re-ranking measured ~350 us of small-gather overhead per probed
    cell — PLANS.md 'Refine cost engineering').

    SQ = ('pq', LUT) switches the dot computation to PQ's asymmetric
    distance: dot(v, q) = c.q + sum_j LUT[q][j, code_j], one (m, 256)
    table per query built once per batch — the bytes read per scored
    row drop to m (e.g. 48 for 384-d), the IvfPQ capacity tier."""
    if isinstance(SQ, tuple):  # ('pq', LUT (nq, m, 256) f32)
        LUT = SQ[1]
        codes_i = codes_u8 if codes_u8.dtype == np.uint8 \
            else codes_u8.astype(np.int64)
        m_sub = codes_i.shape[1]
        Lq = LUT[qidx]
        acc = np.zeros((len(qidx), codes_i.shape[0]), dtype=np.float32)
        for j in range(m_sub):
            acc += np.take(Lq[:, j, :], codes_i[:, j], axis=1)
        dot = acc.T  # (n_cell, n_probing)
    else:
        Cf = codes_u8 if codes_u8.dtype == np.float32 \
            else codes_u8.astype(np.float32)
        dot = Cf @ SQ[:, qidx]  # (n_cell, n_probing)
    dot += base_row[qidx][None, :]
    D = _dist_from_dot(dot, nsq_cell, qsq[qidx], metric)
    if D.shape[0] > k:
        sel = np.argpartition(D, k - 1, axis=0)[:k]
        if return_sel:
            return (np.take_along_axis(D, sel, axis=0),
                    np.asarray(ids_cell)[sel], sel)
        return (np.take_along_axis(D, sel, axis=0),
                np.asarray(ids_cell)[sel])
    I = np.broadcast_to(np.asarray(ids_cell)[:, None], D.shape)
    if return_sel:
        return D, I, np.broadcast_to(
            np.arange(D.shape[0])[:, None], D.shape)
    return D, I


def _exact_rows(vecs, rows, Qq, metric: str):
    """Exact float64 distances for candidate rows vs their own queries.

    vecs: (n, dim) float32 sidecar (mmap or RAM); rows: candidate row
    indices (one per candidate); Qq: (n_cand, dim) float64 — each
    candidate's query.  One gather (sorted for mmap locality) + one
    vectorized scoring pass."""
    rows = np.asarray(rows, dtype=np.int64)
    order = np.argsort(rows, kind="stable")
    inv = np.empty_like(order)
    inv[order] = np.arange(len(order))
    V = np.asarray(vecs[rows[order]], dtype=np.float64)[inv]
    dots = (V * Qq).sum(axis=1)
    if metric == "cosine":
        # rows are stored l2-normalized in float32; dividing by the
        # float64 norm removes the residual float32 rounding so ties
        # match a float64-normalized oracle
        nrm = np.sqrt((V * V).sum(axis=1))
        return 1.0 - dots / np.maximum(nrm, 1e-24)
    if metric == "dot":
        return -dots
    vsq = (V * V).sum(axis=1)
    qsq = (Qq * Qq).sum(axis=1)
    return np.sqrt(np.clip(vsq - 2.0 * dots + qsq, 0.0, None))


def _partition_topk(acc_d, acc_i, q_arr, k: int, acc_r=None):
    """Reduce per-query candidate lists to top-k before the rows leave
    the worker — the map-side combine that keeps the driver merge at
    partitions x Q x k rows.  acc_r optionally carries packed row
    references through the same cut (the refine tier's post-merge
    rerank needs the surviving rows' sidecar locations)."""
    out_q, out_i, out_d, out_r = [], [], [], []
    for qi in range(len(acc_d)):
        if not acc_d[qi]:
            continue
        dcat = np.concatenate(acc_d[qi])
        icat = np.concatenate(acc_i[qi])
        rcat = np.concatenate(acc_r[qi]) if acc_r is not None else None
        if len(dcat) > k:
            sel = np.argpartition(dcat, k - 1)[:k]
            dcat, icat = dcat[sel], icat[sel]
            if rcat is not None:
                rcat = rcat[sel]
        out_q.append(np.full(len(dcat), q_arr[qi]))
        out_i.append(icat)
        out_d.append(dcat)
        if rcat is not None:
            out_r.append(rcat)
    if not out_q:
        return None
    res = (np.concatenate(out_q), np.concatenate(out_i),
           np.concatenate(out_d).astype(np.float64))
    if acc_r is not None:
        return (*res, np.concatenate(out_r))
    return res


class IvfBatchKnnIndex:
    """IVF + scalar-quantized residual codes: the batch-ANN serving path.

    Mirrors the reference's IVF index (src/indexing/ivf.rs:1-11 — coarse
    quantizer + inverted lists) and its recall harness
    (src/recall_benchmark.rs), re-shaped for Spark's execution model.
    The profile of the exact path (scripts/profile_batch1m.py) shows the
    1M x 384 batch scan is ARROW-TRANSFER-bound (0.51 s of 0.75 s), not
    compute-bound — so acceleration must cut bytes crossing the
    JVM->Python boundary, not just FLOPs:

    - **SQ8 residual codes**: each vector is stored as uint8 codes of
      (v - centroid) — 384 B instead of ~1.5 KB of list<float>, a 4x
      transfer cut.  Residuals span a far narrower range than raw
      values, so the 8-bit step is small: quantization error stays well
      under typical neighbor-gap scales (measured recall printed by
      bench.py).  dist(v, q) decomposes as c.q + r.q, so the kernel
      never decodes: one uint8->float32 cast and a small sgemm against
      (step * q).
    - **Per-cell query masking**: each query probes `nprobe` of `nlist`
      cells; the kernel groups a partition's rows by centroid_id and
      scores each cell only against the queries that probe it —
      compute drops by ~nprobe/nlist.
    - **Map-only serving**: like knn_arrow, the doc side never
      shuffles; per-partition candidates (<= cells x probing-queries x
      k rows) merge on the driver, the `takeOrdered` pattern.

    At 100 TB the codes table is written `partitionBy("centroid_id")`
    (see `to_partitioned_parquet`), so low-fanout query sets prune the
    scan to nprobe/nlist of the files — proven by plan test
    (tests/test_ivf_batch.py).  Build (KMeans fit + encode) is one
    sample collect plus one map-only pass; `sq8_cell` codes over a
    table larger than the sample add one map-only per-cell min/max
    pass.
    """

    CODE_COL = "__sq8"
    VEC_COL = "__vec32"

    def __init__(
        self,
        docs: DataFrame,
        nlist: int = 256,
        vector_col: str = "vector",
        id_col: str = "id",
        metric: str = "cosine",
        seed: int = 42,
        kmeans_max_iter: int = 10,
        sample_rows: int = 65536,
        persist: bool = True,
        cluster_partitions: int | None = None,
        meta_cols: Sequence[str] = (),
        code_dtype: str = "sq8",
        refine: bool = False,
        refine_factor: int = 4,
        pq_m: int | None = None,
        max_pending_ids: int | None = 2_000_000,
    ):
        if code_dtype not in ("sq8", "sq8_cell", "float32", "pq"):
            raise ValueError(
                f"code_dtype must be 'sq8', 'sq8_cell', 'float32' or "
                f"'pq', got {code_dtype!r}")
        if refine and code_dtype == "float32":
            raise ValueError(
                "refine=True pairs a QUANTIZED code tier with an exact "
                "float32 sidecar; float32 codes already rank exactly")
        # refine tier: quantized codes stay the scan (RAM/bandwidth-
        # sized), and an exact float32 sidecar — pinned as mmap files,
        # touched only for the refine_factor*k survivors per query —
        # removes the quantization recall ceiling.  This is the
        # reference's coarse-then-exact-rerank shape
        # (src/collection/search_methods.rs:146-177: candidate_k =
        # k * oversample coarse hits, then "Phase 2: Re-rank with full
        # dimensions") and FAISS's IndexRefineFlat posture.  At 100 TB
        # the sidecar lives on disk next to the segments; the random
        # gather reads O(k x factor x dim) bytes per query, not the
        # corpus.
        self.refine = bool(refine)
        self.refine_factor = max(1, int(refine_factor))
        # driver-memory guard (VERDICT r8 #4): the incremental-id masks
        # (_tombstones/_superseded/_delta_ids) are Python sets on the
        # driver, O(churn) until merge_delta.  Past this many pending
        # ids an add()/delete() forces merge_delta() so unbounded churn
        # cannot grow driver memory without bound; None disables.
        self.max_pending_ids = max_pending_ids
        self._auto_merges = 0
        # re-entrancy latch (ADVICE r9): merge_delta() calls
        # flush_local(), whose own churn-cap check must not start a
        # NESTED merge — the outer merge is already folding everything
        # the nested one would, so the second full repartition/persist/
        # count is pure waste (correct, but two Spark rewrites for one
        # merge).
        self._in_merge = False
        # capability vs policy: `refine` pins the sidecar (capability);
        # this flag sets what refine=None per-call resolves to, letting
        # one index serve both quantized-score and exact-rerank traffic
        self.refine_by_default = True
        m = metric.lower()
        if m in ("l2",):
            m = "euclidean"
        if m not in ("cosine", "dot", "euclidean"):
            raise ValueError(
                f"IvfBatchKnnIndex supports cosine/dot/euclidean, got {metric!r}")
        self.metric = m
        self.vector_col = vector_col
        self.id_col = id_col
        self.nlist = nlist
        self.seed = seed
        # metadata columns carried through encode + pinned next to the
        # segments: the filtered-serving path (search_one/_many_local
        # `where=`) evaluates predicates on these DURING the scan —
        # the reference's filter-during-ANN-walk shape
        self.meta_cols = tuple(meta_cols)

        # -- fit: centroids + residual quantizer params, on a bounded sample
        sample_df = docs.select(vector_col)
        # sample without a full count when possible: limit() is cheap and
        # biased toward leading partitions, acceptable for quantizer fit;
        # use an explicit fraction sample when the caller wants one.
        sample = vector_matrix(
            sample_df.limit(sample_rows).toArrow().column(0), np.float64,
            vector_col)
        if sample.size == 0:
            raise ValueError("cannot build an IVF index over an empty table")
        raw = sample
        if m == "cosine":
            sample = _l2_normalize(sample)
        self.dim = sample.shape[1]
        self.centroids = _kmeans_fit(sample, nlist, seed, kmeans_max_iter)
        self.nlist = len(self.centroids)
        # residual range per dimension (padded: the sample is not the
        # full table; out-of-range residuals clip, adding bounded error)
        C = self.centroids
        d2 = ((sample * sample).sum(axis=1, keepdims=True)
              - 2.0 * (sample @ C.T) + (C * C).sum(axis=1)[None, :])
        res = sample - C[d2.argmin(axis=1)]
        lo, hi = res.min(axis=0), res.max(axis=0)
        pad = 0.10 * (hi - lo) + 1e-9
        self.mn = (lo - pad).astype(np.float64)
        self.step = ((hi + pad - self.mn) / 255.0).astype(np.float64)
        # code_dtype='float32' is the IVF-Flat tier: residuals stored as
        # exact float32 (4x the bytes of SQ8, zero quantization error).
        # The scoring math collapses to the identity quantizer (mn=0,
        # step=1: dot = c.q + codes.q exactly), so every kernel is
        # shared.  Use it when true neighbor gaps are smaller than the
        # SQ8 step — e.g. SIFT-like integer descriptors, where global
        # SQ8 plateaus at recall@10 0.934 past nprobe 32 (round-8 grid,
        # measured AFTER the decoded-norm fix below; the pre-fix 0.72
        # plateau was the norm-mismatch defect, not quantization);
        # sq8_cell or float32 codes recover the remaining points.
        # plans/tuning.py::recommend_ann_codes measures this per-corpus.
        self.code_dtype = code_dtype
        self._code_np = np.float32 if code_dtype == "float32" else np.uint8
        self._code_width = self.dim * (4 if code_dtype == "float32" else 1)
        # product-quantized residual codes (the reference's IvfPQ /
        # quantization.rs PQ variant): dim splits into m subspaces,
        # each residual sub-vector snaps to the nearest of 256 learned
        # codewords — 1 byte per subspace, dim/m x smaller than SQ8.
        # Scoring is ADC via a per-query (m, 256) lookup table (built
        # once per batch, shared across cells: dot(v,q) = c.q +
        # sum_j codebook[j, code_j].q_j).  The capacity tier for 100 TB
        # corpora: pair with refine=True to buy back the recall the
        # coarse codes give up.
        self._pq = None
        if code_dtype == "pq":
            m_sub = pq_m
            if m_sub is None:
                for sd in (8, 4, 2):
                    if self.dim % sd == 0:
                        m_sub = self.dim // sd
                        break
                else:
                    raise ValueError(
                        f"dim {self.dim} has no even subspace split; "
                        "pass pq_m explicitly")
            if self.dim % m_sub != 0:
                raise ValueError(f"pq_m {m_sub} must divide dim {self.dim}")
            sub = self.dim // m_sub
            # codebooks over the UNROTATED residuals: every pre-rotation
            # tried before the subspace split (PCA eigen-allocation, a
            # random rotation, OPQ, per-cell OPQ) was measured worse than
            # none at every probe depth on the 1M grid and deleted
            # (PLANS.md "PQ pre-rotation", round-11 autopsy;
            # ANN_RECALL.json rows tagged with a rotation)
            fit_rows = min(len(res), 16384)
            Rr = np.ascontiguousarray(res[:fit_rows], dtype=np.float64) \
                .reshape(fit_rows, m_sub, sub)
            books = np.empty((m_sub, 256, sub), dtype=np.float64)
            for j in range(m_sub):
                bj = _kmeans_fit(np.ascontiguousarray(Rr[:, j, :]),
                                 256, seed + j, 4)
                if len(bj) < 256:
                    # _kmeans_fit returns min(256, sample) centroids;
                    # tile so small-sample builds still produce a full
                    # 256-entry codebook (extra entries are harmless —
                    # encode only ever picks the nearest).
                    reps = -(-256 // len(bj))
                    bj = np.tile(bj, (reps, 1))[:256]
                books[j] = bj
            self._pq = np.ascontiguousarray(books)
            self._code_width = m_sub
            self.mn = np.zeros(self.dim, dtype=np.float64)
            self.step = np.ones(self.dim, dtype=np.float64)
        elif code_dtype == "float32":
            self.mn = np.zeros(self.dim, dtype=np.float64)
            self.step = np.ones(self.dim, dtype=np.float64)
        elif code_dtype == "sq8_cell":
            # per-CELL quantizer ranges (mn/step shaped (nlist, dim)):
            # residual spread WITHIN a cell is much tighter than the
            # global residual envelope, so the same 8 bits buy a finer
            # step at identical code bytes (tests/test_ivf_batch.py's
            # clustered corpus, seed 3: mean step 0.0026 against 0.0037;
            # full-probe hits 198-200 of 200 against 196-198 for global
            # SQ8 over seeds 1-5).  Each cell's range is fit from the
            # cell's FULL membership, with the float32 assignment
            # `_encode` runs, so no build row clips: from the sample
            # when the sample is the whole table (no Spark job), else
            # from one map-only min/max pass.  The pad is the global
            # fit's 10%: it is left only for rows add() encodes later
            # with the frozen quantizer.  Cells under 8 members keep the
            # global row — their range says little of later adds.
            C32 = np.ascontiguousarray(C, dtype=np.float32)
            if len(sample) < sample_rows:
                cnt, lo_c, hi_c = _cell_ranges(
                    raw.astype(np.float32), C32, (C32 * C32).sum(axis=1),
                    m == "cosine")
            else:
                cnt, lo_c, hi_c = _cell_ranges_spark(
                    docs, vector_col, C32, m == "cosine")
            fit = cnt >= 8
            lo_c = lo_c[fit].astype(np.float64)
            hi_c = hi_c[fit].astype(np.float64)
            pad_c = 0.10 * (hi_c - lo_c) + 1e-9
            mn_c = np.tile(self.mn, (self.nlist, 1))
            step_c = np.tile(self.step, (self.nlist, 1))
            mn_c[fit] = lo_c - pad_c
            step_c[fit] = (hi_c + pad_c - mn_c[fit]) / 255.0
            self.mn, self.step = mn_c, step_c

        # cluster the codes by cell: each cell lands whole in one
        # partition, contiguous after the sort — the serving kernel
        # scores cells as contiguous slices (few large sgemms instead of
        # thousands of scattered gathers), and a cell filter skips whole
        # partitions' Arrow transfer.  One build-time shuffle; the same
        # layout `partitionBy("centroid_id")` gives on disk.
        n_parts = cluster_partitions or docs.sparkSession.sparkContext.defaultParallelism
        # remembered so merge_delta() rewrites into the SAME layout the
        # caller tuned, not defaultParallelism
        self._cluster_partitions = cluster_partitions
        self.codes = (
            self._encode(docs)
            .repartition(n_parts, F.col("centroid_id"))
            .sortWithinPartitions("centroid_id")
        )
        self._persisted = persist
        self.n_main = None
        if persist:
            self.codes = self.codes.persist()
            self.n_main = self.codes.count()
        self._segments: tuple[str, int] | None = None
        self._seg_cells: dict[int, np.ndarray] | None = None
        self._seg_rows: dict[int, int] | None = None
        self._seg_tmp = False
        # incremental state (src/indexing/incremental.rs IncrementalIndex):
        # new rows encode with the FROZEN centroids/quantizer into a delta
        # frame that search merges in; deletes tombstone until merge_delta
        self._delta: DataFrame | None = None
        self._delta_ids: set = set()  # live delta ids (upsert/delete-accurate)
        self._tombstones: set = set()
        # ids whose MAIN row is stale because a newer row lives in the
        # delta (delete-then-add, or upsert-style re-add): masked on the
        # main scan only, still served from the delta
        self._superseded: set = set()
        # every add() persists its encoded batch; merge_delta must
        # unpersist each child (the union frame itself is never cached)
        self._delta_parts: list = []
        # bumped on every add/delete/merge so driver-side serving
        # caches (search_one) know when to refresh
        self._mut_ver = 0
        self._drv = None
        self._drv_delta = None
        # hot-cell float32 cache for search_one: probed cells keep
        # their decoded codes in RAM (evicted under the budget),
        # cutting the per-query mmap-copy + uint8->float32 cost (the
        # profiled majority of single-query latency).  The default
        # budget holds a fully-decoded 1M x 384 index (~1.5 GB) — the
        # same residency class as the reference's in-process HNSW;
        # shrink it for memory-constrained drivers.
        self.serving_cache_mb: int = 2048
        self._cellf32: dict = {}
        self._cellf32_bytes = 0
        # driver-local write buffer (add_local): encoded rows held
        # in-process for sub-ms single-insert serving latency (the
        # reference's 0.8 ms p50 insert path is in-memory too), made
        # durable by a WAL in the segment dir and folded into the
        # distributed delta by flush_local()
        self._local_buf: list = []
        self._local_n = 0
        # mirror of every id in _local_buf: the per-insert duplicate
        # probe must be O(1), not a scan that rebuilds a set per
        # buffered record — at a few thousand buffered rows that scan
        # was the p99 insert tail (r7, VERDICT r6 ask #6)
        self._local_ids: set = set()
        self._main_ids_sorted = None
        self._wal_written: set = set()
        # persistent append handle: open-per-insert costs a path
        # lookup + fd churn on every add_local; the handle is closed
        # whenever the WAL is rewritten, truncated, or re-pointed
        self._wal_fh = None
        self._wal_fh_path: str | None = None

    # -- encode ---------------------------------------------------------
    def _encode(self, docs: DataFrame) -> DataFrame:
        """One map-only pass: (id, vector) -> (id, centroid_id, norm_sq,
        uint8 residual codes).  No shuffle; write partitionBy(centroid_id)
        for pruned serving at rest."""
        import pyarrow as pa

        C32 = np.ascontiguousarray(self.centroids, dtype=np.float32)
        csq = (C32 * C32).sum(axis=1)
        mn32 = self.mn.astype(np.float32)
        step32 = self.step.astype(np.float32)
        inv_step = (1.0 / self.step).astype(np.float32)
        normalize = self.metric == "cosine"
        vector_col, id_col = self.vector_col, self.id_col
        dim = self.dim
        flat_codes = self.code_dtype == "float32"
        pq_books = (np.ascontiguousarray(self._pq, dtype=np.float32)
                    if self._pq is not None else None)
        byte_w = self._code_width

        meta_cols = self.meta_cols
        refine = self.refine
        vec_col = self.VEC_COL
        id_type = docs.schema[id_col].dataType
        out_schema = T.StructType([
            T.StructField(id_col, id_type),
            T.StructField("centroid_id", T.IntegerType()),
            T.StructField("norm_sq", T.FloatType()),
            T.StructField(self.CODE_COL, T.BinaryType()),
            *([T.StructField(vec_col, T.BinaryType())] if refine else []),
            *[T.StructField(mc, docs.schema[mc].dataType)
              for mc in meta_cols],
        ])
        from pyspark.sql.pandas.types import to_arrow_schema
        arrow_schema = to_arrow_schema(out_schema)

        def kernel(batches) -> Iterator:
            for batch in batches:
                names = batch.schema.names
                V = vector_matrix(batch.column(names.index(vector_col)),
                                  np.float32, vector_col)
                if V.size == 0:
                    continue
                V, nsq, assign = _assign_cells(V, C32, csq, normalize)
                res = V - C32[assign]
                if flat_codes:
                    codes = res.astype(np.float32)
                elif pq_books is not None:
                    codes, dec = _pq_encode(res, pq_books)
                elif mn32.ndim == 2:  # per-cell quantizer (sq8_cell)
                    codes = np.clip(
                        np.rint((res - mn32[assign]) * inv_step[assign]),
                        0.0, 255.0).astype(np.uint8)
                else:
                    codes = np.clip(
                        np.rint((res - mn32) * inv_step), 0.0, 255.0
                    ).astype(np.uint8)
                if not flat_codes:
                    # store the DECODED vector's squared norm, not the
                    # true one: euclidean ranks by nsq - 2*(q.decoded)
                    # and cosine renormalizes dot by sqrt(nsq), so a
                    # true-norm nsq injects the mismatch term 2 x.eps
                    # (eps = quant error) into the ordering — measured
                    # recall@10 0.906 -> 0.988 (euclidean, fashion-like
                    # 784-d) and 0.855 -> 0.978 (cosine, unit-norm
                    # 128-d) at identical bytes (asymmetric-distance
                    # consistency; PLANS.md round 8)
                    if pq_books is None:  # PQ's dec came with its codes
                        dec = (codes.astype(np.float32) * step32[assign]
                               + mn32[assign] if mn32.ndim == 2 else
                               codes.astype(np.float32) * step32 + mn32)
                    dec = dec + C32[assign]
                    nsq = (dec.astype(np.float64) ** 2).sum(axis=1)
                n = codes.shape[0]
                offs = pa.array(
                    np.arange(0, (n + 1) * byte_w, byte_w, dtype=np.int32),
                    type=pa.int32())
                flat = pa.py_buffer(np.ascontiguousarray(codes).tobytes())
                code_arr = pa.Array.from_buffers(
                    pa.binary(), n, [None, offs.buffers()[1], flat])
                vec_arrs = []
                if refine:
                    # exact float32 sidecar rows (l2-normalized for
                    # cosine — the space every tier scores in)
                    vw = dim * 4
                    voffs = pa.array(
                        np.arange(0, (n + 1) * vw, vw, dtype=np.int32),
                        type=pa.int32())
                    vflat = pa.py_buffer(
                        np.ascontiguousarray(V, dtype=np.float32).tobytes())
                    vec_arrs = [pa.Array.from_buffers(
                        pa.binary(), n, [None, voffs.buffers()[1], vflat])]
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column(names.index(id_col)),
                        pa.array(assign, type=pa.int32()),
                        pa.array(nsq.astype(np.float32), type=pa.float32()),
                        code_arr,
                        *vec_arrs,
                        *[batch.column(names.index(mc))
                          for mc in meta_cols],
                    ],
                    schema=arrow_schema,
                )

        return docs.select(id_col, vector_col, *meta_cols).mapInArrow(
            kernel, out_schema)

    def to_partitioned_parquet(self, path: str) -> None:
        """Lay the codes out partitioned by centroid_id: the at-rest form
        whose probe filter becomes partition pruning (the 100 TB shape)."""
        self.codes.write.mode("overwrite").partitionBy("centroid_id").parquet(path)

    # -- pinned serving segments ----------------------------------------
    def pin_segments(self, seg_dir: str | None = None,
                     decoded: bool = False) -> int:
        """Write the clustered codes once as mmap-able segment files and
        serve from them: the Spark analogue of the reference's prebuilt
        in-memory/mmap'd index (its 1.8 ms/query batch number queries an
        index that lives in process memory — src/indexing/ivf.rs inverted
        lists, README.md:83).

        Why this exists: the profile (scripts/profile_batch1m.py) shows
        the steady-state cost of DataFrame serving is re-shipping the
        SAME immutable codes across the JVM->Python boundary on every
        query batch (~0.34 s per batch at 1M x 384 — more than compute +
        merge combined).  An index is write-once/read-many, so serving
        tasks instead mmap per-partition segment files (ids / norms /
        uint8 codes / cell directory) written by one build-time job; a
        query batch is then a map stage over one-row partitions that
        touches ONLY probed cells' byte ranges, page-cache-resident
        after first use — no per-batch data motion at all.

        Cluster posture: each serving task reads the segment for its own
        partition — on a multi-node cluster the segments belong on
        shared or executor-local storage (this is exactly the
        partitionBy(centroid_id) at-rest layout, stripped to raw
        arrays); the DataFrame `search` path remains the shuffle-free
        cluster-wide variant.  Returns the number of rows pinned.

        decoded=True additionally writes each partition's codes as
        float32 (`codes32_<pid>.npy`, 4x the uint8 bytes on disk).
        Serving kernels then mmap the decoded tier and skip the
        per-query uint8->float32 cast — profiling shows that cast is
        ~half of query latency — and the OS page cache shares ONE copy
        across the driver and every worker (unlike per-process RAM
        caches).  This is the residency class of the reference's
        in-process float32 HNSW, spelled as files."""
        import tempfile

        # re-pinning truncates the very files any live driver cache
        # mmaps (np.save opens 'wb'): drop every driver-side handle
        # BEFORE writing, or search_one serves stale/corrupt pages and
        # never sees a newly added decoded tier
        self._drv = None
        self._cellf32 = {}
        self._cellf32_bytes = 0
        self._main_ids_sorted = None

        if seg_dir is None:
            seg_dir = tempfile.mkdtemp(prefix="ivf_segments_")
            self._seg_tmp = True
        n_parts = self.codes.rdd.getNumPartitions()
        dim = self.dim
        id_col, code_col = self.id_col, self.CODE_COL
        meta_cols = self.meta_cols
        byte_w, code_np = self._code_width, self._code_np
        refine, vec_col = self.refine, self.VEC_COL
        # float32 codes ARE the decoded tier; writing codes32 would
        # double the disk for identical bytes.  PQ codes are codeword
        # INDICES — a float32 copy of indices is meaningless to the
        # LUT kernel, so the decoded tier doesn't apply there either.
        decoded = decoded and code_np is np.uint8 and self._pq is None

        def write_part(batches) -> Iterator:
            import pyarrow as pa
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            ids_l, cent_l, nsq_l, code_l, vec_l = [], [], [], [], []
            meta_l: dict[str, list] = {mc: [] for mc in meta_cols}
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                names = batch.schema.names
                ids_l.append(batch.column(names.index(id_col)).to_numpy(zero_copy_only=False))
                cent_l.append(batch.column(names.index("centroid_id")).to_numpy(zero_copy_only=False))
                nsq_l.append(batch.column(names.index("norm_sq")).to_numpy(zero_copy_only=False))
                code_l.append(_bytes_matrix_from_arrow(
                    batch.column(names.index(code_col)), byte_w)
                    .view(code_np))
                if refine:
                    vec_l.append(_bytes_matrix_from_arrow(
                        batch.column(names.index(vec_col)), dim * 4)
                        .view(np.float32))
                for mc in meta_cols:
                    meta_l[mc].append(batch.column(names.index(mc))
                                      .to_numpy(zero_copy_only=False))
            vecs = None
            if ids_l:
                ids = np.concatenate(ids_l)
                cent = np.concatenate(cent_l).astype(np.int64)
                nsq = np.concatenate(nsq_l).astype(np.float32)
                codes = np.concatenate(code_l, axis=0) if len(code_l) > 1 else code_l[0]
                if refine:
                    vecs = np.concatenate(vec_l, axis=0) \
                        if len(vec_l) > 1 else vec_l[0]
                metas = {mc: np.concatenate(meta_l[mc]) for mc in meta_cols}
                if not (np.diff(cent) >= 0).all():
                    order = np.argsort(cent, kind="stable")
                    ids, cent, nsq, codes = ids[order], cent[order], nsq[order], codes[order]
                    if refine:
                        vecs = vecs[order]
                    metas = {mc: v[order] for mc, v in metas.items()}
                if ids.dtype == object:  # string ids -> fixed-width unicode (mmap-able)
                    ids = np.asarray(ids, dtype=str)
                cells, starts = np.unique(cent, return_index=True)
                starts = np.append(starts, len(cent))
                n = len(ids)
            else:
                ids = np.empty(0, dtype=np.int64)
                nsq = np.empty(0, dtype=np.float32)
                codes = np.empty((0, dim), dtype=code_np)
                if refine:
                    vecs = np.empty((0, dim), dtype=np.float32)
                cells = np.empty(0, dtype=np.int64)
                starts = np.zeros(1, dtype=np.int64)
                metas = {mc: np.empty(0) for mc in meta_cols}
                n = 0
            np.save(f"{seg_dir}/ids_{pid}.npy", ids)
            np.save(f"{seg_dir}/nsq_{pid}.npy", nsq)
            np.save(f"{seg_dir}/codes_{pid}.npy", np.ascontiguousarray(codes))
            if refine:
                np.save(f"{seg_dir}/vecs32_{pid}.npy",
                        np.ascontiguousarray(vecs, dtype=np.float32))
            if decoded:
                np.save(f"{seg_dir}/codes32_{pid}.npy",
                        np.ascontiguousarray(codes, dtype=np.float32))
            np.save(f"{seg_dir}/cells_{pid}.npy", cells)
            np.save(f"{seg_dir}/starts_{pid}.npy", starts)
            for mc, v in metas.items():
                if v.dtype == object:  # strings -> fixed-width unicode
                    v = np.asarray(v, dtype=str)
                np.save(f"{seg_dir}/meta_{mc}_{pid}.npy", v)
            yield pa.RecordBatch.from_arrays(
                [pa.array([pid], type=pa.int32()),
                 pa.array([n], type=pa.int64()),
                 pa.array([cells.astype(np.int64).tolist()],
                          type=pa.list_(pa.int64()))],
                names=["pid", "n", "cells"])

        import os

        os.makedirs(seg_dir, exist_ok=True)
        rows = self.codes.mapInArrow(
            write_part, "pid int, n long, cells array<long>").collect()
        # every partition writes a file set (even empty ones), so the
        # serving kernel can treat a missing file as a REAL failure
        # (lost/unshared segment dir) instead of silently skipping
        self._segments = (seg_dir, n_parts, {int(r["pid"]) for r in rows})
        # driver-side directory of which cells live in which segment and
        # how many rows each holds — lets a query batch's map stage (a)
        # skip segments none of its probes touch and (b) size its task
        # count to the actual probe workload instead of one-task-per-
        # partition (round 6: scheduling floor was the distributed batch
        # bottleneck, ~17 ms per no-op task wave at local[32])
        self._seg_cells = {int(r["pid"]): np.asarray(r["cells"] or [],
                                                     dtype=np.int64)
                           for r in rows}
        self._seg_rows = {int(r["pid"]): int(r["n"]) for r in rows}
        self._seg_decoded = decoded
        self._main_ids_sorted = None
        # crash recovery: local adds WAL'd against this segment dir by
        # a previous process replay into the buffer (masking included)
        self._replay_wal()
        return int(sum(r["n"] for r in rows))

    # target scored rows per serving task: small enough that the scan
    # parallelizes across memory channels (the kernel is bandwidth-
    # bound: ~1.5 KB read per scored row), large enough that the
    # per-task scheduling + python-worker round trip doesn't dominate.
    # Swept at 1M x 384 / 100 queries / nprobe=6 (~1.2M scored rows):
    # 1 task 5.7 ms/q, 2t 4.0, 6-8t 2.86-2.89, 16t 3.4, 32t 4.1 —
    # the round-5 one-task-per-partition default sat on the wrong end.
    SERVE_ROWS_PER_TASK = 160_000

    def _partial_segments(self, q_ids, Q, qid_type, cell2q, k: int,
                          use_refine: bool = False) -> DataFrame:
        """Map stage over pinned segments: each task mmaps its segments
        and scores only the cells its queries probe.  Input rows carry
        no data — the scan never crosses the JVM boundary.

        Two driver-side plan decisions (round 6), both from the pin-time
        segment directory: segments whose cells no query probes are
        dropped from the stage entirely (partition pruning for the
        serving tier — a 1-query call touches nprobe cells' segments,
        not all of them), and the task count is sized to the probe
        workload rather than one-task-per-partition (for a batch the
        work per partition is a few ms of BLAS; the task wave itself was
        the dominant cost at local[32])."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        seg_dir, n_parts, written = self._segments  # type: ignore[misc]
        metric, dim, kk = self.metric, self.dim, k
        SQ, step2, QT, base = self._quant_parts(Q)
        Q64 = np.ascontiguousarray(Q, dtype=np.float64) \
            if use_refine else None
        qsq = (Q * Q).sum(axis=1).astype(np.float32)
        q_arr = np.asarray(q_ids)
        qpos = {v: i for i, v in enumerate(q_arr.tolist())} \
            if use_refine else None
        nq = len(q_ids)
        id_type = self.codes.schema[self.id_col].dataType
        out_schema = T.StructType([
            T.StructField("query_id", qid_type),
            T.StructField(self.id_col, id_type),
            T.StructField("distance", T.DoubleType()),
        ])
        arrow_schema = to_arrow_schema(out_schema)

        # plan: prune unprobed segments + size the task wave to the work
        probed = np.flatnonzero(np.asarray(
            [cell2q[c] is not None and len(cell2q[c]) > 0
             for c in range(self.nlist)]))
        spark = self.codes.sparkSession
        if self._seg_cells is not None:
            pid_list = [pid for pid in sorted(written)
                        if np.isin(self._seg_cells.get(pid, ()),
                                   probed).any()]
        else:  # pinned by an older build without the directory
            pid_list = list(range(n_parts))
        if not pid_list:
            return spark.createDataFrame([], out_schema)
        if self._seg_rows:
            total_rows = sum(self._seg_rows.values())
            qcell_pairs = sum(len(cell2q[c]) for c in probed)
            work_rows = qcell_pairs * (total_rows / max(1, self.nlist))
            n_tasks = min(len(pid_list),
                          max(1, -(-int(work_rows) // self.SERVE_ROWS_PER_TASK)))
        else:
            n_tasks = len(pid_list)

        def kernel(batches) -> Iterator:
            for batch in batches:
                for idx in batch.column(0).to_pylist():
                    pid = pid_list[idx]
                    try:
                        cells = np.load(f"{seg_dir}/cells_{pid}.npy")
                    except FileNotFoundError:
                        if pid in written:
                            # pinned at build time but unreadable now:
                            # the segment dir is not visible to this
                            # executor (local tmp on another node, or
                            # cleaned up) — partial silent results
                            # would masquerade as "no neighbors"
                            raise FileNotFoundError(
                                f"pinned segment {seg_dir}/cells_{pid}.npy "
                                f"is missing on this executor; pin to "
                                f"shared storage for multi-node serving")
                        continue
                    if cells.size == 0:
                        continue
                    starts = np.load(f"{seg_dir}/starts_{pid}.npy")
                    ids = np.load(f"{seg_dir}/ids_{pid}.npy", mmap_mode="r")
                    nsq = np.load(f"{seg_dir}/nsq_{pid}.npy", mmap_mode="r")
                    try:
                        # decoded float32 tier: BLAS reads the mmap
                        # directly, no per-query uint8 cast; page cache
                        # shares one copy across every worker
                        codes = np.load(f"{seg_dir}/codes32_{pid}.npy",
                                        mmap_mode="r")
                        pre_decoded = True
                    except FileNotFoundError:
                        codes = np.load(f"{seg_dir}/codes_{pid}.npy",
                                        mmap_mode="r")
                        pre_decoded = False
                    vecs = (np.load(f"{seg_dir}/vecs32_{pid}.npy",
                                    mmap_mode="r")
                            if use_refine else None)
                    acc_d: list[list[np.ndarray]] = [[] for _ in range(nq)]
                    acc_i: list[list[np.ndarray]] = [[] for _ in range(nq)]
                    acc_r: list[list[np.ndarray]] | None = \
                        [[] for _ in range(nq)] if use_refine else None
                    for ci, cell in enumerate(cells):
                        qidx = cell2q[int(cell)]
                        if qidx is None or len(qidx) == 0:
                            continue
                        s, e = int(starts[ci]), int(starts[ci + 1])
                        block = codes[s:e] if pre_decoded \
                            else np.asarray(codes[s:e])
                        out = _score_cell_block(
                            block, ids[s:e], nsq[s:e], qidx,
                            _sq_for_cell(SQ, step2, QT, int(cell)),
                            base[int(cell)], qsq, metric, kk,
                            return_sel=use_refine)
                        if use_refine:
                            Dk, Ik, SELk = out
                        else:
                            Dk, Ik = out
                        for j, qi in enumerate(qidx):
                            acc_d[qi].append(Dk[:, j])
                            acc_i[qi].append(Ik[:, j])
                            if use_refine:
                                acc_r[qi].append(
                                    s + SELk[:, j].astype(np.int64))
                    reduced = _partition_topk(acc_d, acc_i, q_arr, kk,
                                              acc_r)
                    if reduced is None:
                        continue
                    dist = reduced[2]
                    if use_refine:
                        # candidates leave the task exactly ranked: one
                        # sidecar gather + one float64 pass per task
                        qi_pos = np.fromiter(
                            (qpos[v] for v in reduced[0].tolist()),
                            dtype=np.int64, count=len(reduced[0]))
                        dist = _exact_rows(vecs, reduced[3],
                                           Q64[qi_pos], metric)
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(reduced[0], type=arrow_schema.field(0).type),
                         pa.array(reduced[1], type=arrow_schema.field(1).type),
                         pa.array(dist, type=arrow_schema.field(2).type)],
                        schema=arrow_schema,
                    )

        return (spark.range(0, len(pid_list), 1, n_tasks)
                .mapInArrow(kernel, out_schema))

    # -- search ---------------------------------------------------------
    def _quant_parts(self, Q):
        """(SQ, step2, QT, base) for a query matrix.

        base is always (nlist, nq) = c.q + mn.q (mn.q is per-cell when
        mn is (nlist, dim)).  SQ is the global (dim, nq) step-scaled
        query block, or None for the per-cell quantizer — kernels then
        derive each cell's block via _sq_for_cell(step2, QT) — or the
        ('pq', LUT) marker: LUT[q][j, c] = codebook[j, c] . q_j, built
        once per batch and shared by every cell (the PQ asymmetric-
        distance table)."""
        mnq = self.mn @ Q.T
        base = np.ascontiguousarray(
            (self.centroids @ Q.T)
            + (mnq if self.mn.ndim == 2 else mnq[None, :]),
            dtype=np.float32)
        QT = np.ascontiguousarray(Q.T, dtype=np.float32)
        if self._pq is not None:
            books = self._pq  # (m, 256, sub)
            m_sub, _, sub = books.shape
            Qs = np.ascontiguousarray(Q, dtype=np.float32) \
                .reshape(len(Q), m_sub, sub)
            # LUT[q, j, c] = q_j . codebook[j, c]
            LUT = np.ascontiguousarray(np.einsum(
                "qjs,jcs->qjc", Qs, books.astype(np.float32)))
            return ("pq", LUT), None, QT, base
        if self.step.ndim == 2:
            return None, self.step.astype(np.float32), QT, base
        SQ = np.ascontiguousarray(self.step[:, None] * Q.T,
                                  dtype=np.float32)
        return SQ, None, QT, base

    def _prep_queries(self, queries, nprobe: int):
        from needle_spark.operators.knn_arrow import _resolve_queries

        q_ids, Q, qid_type = _resolve_queries(queries, "query_id", "vector")
        Q = np.ascontiguousarray(Q, dtype=np.float64)
        if self.metric == "cosine":
            Q = _l2_normalize(Q)
        # per-query probe cells (L2 to centroids, exact)
        dq = ((Q * Q).sum(axis=1, keepdims=True)
              - 2.0 * (Q @ self.centroids.T)
              + (self.centroids * self.centroids).sum(axis=1)[None, :])
        nprobe = min(nprobe, self.nlist)
        probes = np.argsort(dq, axis=1, kind="stable")[:, :nprobe]  # (q, nprobe)
        # invert: cell -> indices of queries probing it
        cell2q: list[np.ndarray] = [None] * self.nlist  # type: ignore[list-item]
        flat_cells = probes.ravel()
        flat_q = np.repeat(np.arange(len(Q)), nprobe)
        order = np.argsort(flat_cells, kind="stable")
        fc, fq = flat_cells[order], flat_q[order]
        bounds = np.searchsorted(fc, np.arange(self.nlist + 1))
        for c in range(self.nlist):
            s, e = bounds[c], bounds[c + 1]
            cell2q[c] = fq[s:e] if e > s else None  # type: ignore[assignment]
        return q_ids, Q, qid_type, cell2q, probes

    def _partial(self, q_ids, Q, qid_type, cell2q, k: int,
                 source: DataFrame | None = None, use_vec: bool = False):
        """mapInArrow stage: per-partition, per-cell masked scoring ->
        at most (cells x probing-queries x k) candidate rows.

        use_vec (refine tier): additionally ships the exact float32
        sidecar column so the kernel can rerank the quantized top-k
        survivors exactly — right for the (small) delta frame; the
        pinned-segment path reads the sidecar from mmap instead of
        shipping it."""
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        metric = self.metric
        dim = self.dim
        byte_w, code_np = self._code_width, self._code_np
        id_col, code_col = self.id_col, self.CODE_COL
        vec_col = self.VEC_COL
        Q64 = np.ascontiguousarray(Q, dtype=np.float64) if use_vec else None
        qpos = {v: i for i, v in enumerate(np.asarray(q_ids).tolist())} \
            if use_vec else None
        # per-query precomputed pieces:
        #   dot(v, q) = c.q + mn.q + codes_f32 . (step*q)
        SQ, step2, QT, base = self._quant_parts(Q)
        qsq = (Q * Q).sum(axis=1).astype(np.float32)  # (q,)
        q_arr = np.asarray(q_ids)
        docs = source if source is not None else self.codes
        id_type = docs.schema[id_col].dataType
        out_schema = T.StructType([
            T.StructField("query_id", qid_type),
            T.StructField(id_col, id_type),
            T.StructField("distance", T.DoubleType()),
        ])
        arrow_schema = to_arrow_schema(out_schema)
        kk = k

        nq = len(q_ids)

        def kernel(batches) -> Iterator:
            ids_l, cent_l, nsq_l, code_l, vec_l = [], [], [], [], []
            for batch in batches:
                names = batch.schema.names
                n = batch.num_rows
                if n == 0:
                    continue
                ids_l.append(batch.column(names.index(id_col)).to_numpy(zero_copy_only=False))
                cent_l.append(batch.column(names.index("centroid_id")).to_numpy(zero_copy_only=False))
                nsq_l.append(batch.column(names.index("norm_sq")).to_numpy(zero_copy_only=False))
                code_l.append(_bytes_matrix_from_arrow(
                    batch.column(names.index(code_col)), byte_w)
                    .view(code_np))
                if use_vec:
                    vec_l.append(_bytes_matrix_from_arrow(
                        batch.column(names.index(vec_col)), dim * 4)
                        .view(np.float32))
            if not ids_l:
                return
            ids = np.concatenate(ids_l)
            cent = np.concatenate(cent_l).astype(np.int64)
            nsq = np.concatenate(nsq_l).astype(np.float32)
            codes = np.concatenate(code_l, axis=0) if len(code_l) > 1 else code_l[0]
            vecs = None
            if use_vec:
                vecs = np.concatenate(vec_l, axis=0) \
                    if len(vec_l) > 1 else vec_l[0]
            # build-time layout guarantees cells arrive sorted; argsort is
            # then O(n) bookkeeping and every cell is a contiguous slice
            if not (np.diff(cent) >= 0).all():
                order = np.argsort(cent, kind="stable")
                ids, cent, nsq = ids[order], cent[order], nsq[order]
                codes = codes[order]
                if use_vec:
                    vecs = vecs[order]
            cells, starts = np.unique(cent, return_index=True)
            starts = np.append(starts, len(cent))
            # per-query candidate accumulators across this partition's
            # cells; reduced to top-k per query before leaving the worker
            acc_d: list[list[np.ndarray]] = [[] for _ in range(nq)]
            acc_i: list[list[np.ndarray]] = [[] for _ in range(nq)]
            acc_r: list[list[np.ndarray]] | None = \
                [[] for _ in range(nq)] if use_vec else None
            for ci, cell in enumerate(cells):
                qidx = cell2q[int(cell)]
                if qidx is None or len(qidx) == 0:
                    continue
                s, e = starts[ci], starts[ci + 1]
                out = _score_cell_block(
                    codes[s:e], ids[s:e], nsq[s:e], qidx,
                    _sq_for_cell(SQ, step2, QT, int(cell)),
                    base[int(cell)], qsq, metric, kk,
                    return_sel=use_vec)
                if use_vec:
                    Dk, Ik, SELk = out
                else:
                    Dk, Ik = out
                for j, qi in enumerate(qidx):
                    acc_d[qi].append(Dk[:, j])
                    acc_i[qi].append(Ik[:, j])
                    if use_vec:
                        acc_r[qi].append(s + SELk[:, j].astype(np.int64))
            reduced = _partition_topk(acc_d, acc_i, q_arr, kk, acc_r)
            if reduced is None:
                return
            dist = reduced[2]
            if use_vec:
                qi_pos = np.fromiter(
                    (qpos[v] for v in reduced[0].tolist()),
                    dtype=np.int64, count=len(reduced[0]))
                dist = _exact_rows(vecs, reduced[3], Q64[qi_pos], metric)
            yield pa.RecordBatch.from_arrays(
                [pa.array(reduced[0], type=arrow_schema.field(0).type),
                 pa.array(reduced[1], type=arrow_schema.field(1).type),
                 pa.array(dist, type=arrow_schema.field(2).type)],
                schema=arrow_schema,
            )

        cols = [id_col, "centroid_id", "norm_sq", code_col]
        if use_vec:
            cols.append(vec_col)
        return docs.select(*cols).mapInArrow(kernel, out_schema)

    def _pruned_source(self, source: DataFrame | None, probes: np.ndarray) -> DataFrame | None:
        """JVM-side cell filter ahead of the Arrow kernel.

        The 1M x 384 profile (scripts/profile_batch1m.py) shows the batch
        scan is transfer-bound: rows that no query probes must be dropped
        BEFORE they cross the JVM->Python boundary.  `centroid_id IN
        (probe union)` is a Catalyst filter — against the in-memory codes
        cache it is a cheap JVM predicate; against a
        partitionBy("centroid_id") parquet layout it becomes partition
        pruning and the excluded cells are never read at all."""
        union = sorted({int(c) for c in probes.ravel()})
        if len(union) >= self.nlist:
            return source
        docs = source if source is not None else self.codes
        return docs.filter(F.col("centroid_id").isin(union))

    def search(self, queries, k: int = 10, nprobe: int = 16,
               source: DataFrame | None = None,
               refine: bool | None = None) -> DataFrame:
        """Distributed merge variant: returns a DataFrame
        (query_id, <id>, distance, rank).  `source` overrides the scanned
        codes table — pass a pruned partitionBy(centroid_id) read to get
        partition pruning on disk.  On refine-capable indexes the
        candidates leave each task exactly re-ranked (segments read the
        sidecar from mmap; the delta ships its sidecar column — small
        by construction).  A caller-provided `source` serves quantized
        (no sidecar travels with an arbitrary source)."""
        from needle_spark.operators.knn_arrow import _merge_topk

        use_refine = self._resolve_refine(refine, source)
        if self._local_buf:
            self.flush_local()  # distributed scans read the Spark delta
        q_ids, Q, qid_type, cell2q, probes = self._prep_queries(queries, nprobe)
        fetch = self._fetch_k(k)
        if use_refine:
            fetch = max(fetch, k * self.refine_factor)
        if source is None and self._segments is not None:
            partial = self._partial_segments(q_ids, Q, qid_type, cell2q, fetch,
                                             use_refine=use_refine)
        else:
            partial = self._partial(q_ids, Q, qid_type, cell2q, fetch,
                                    source=self._pruned_source(source, probes),
                                    use_vec=use_refine)
        main_mask = self._tombstones | self._superseded
        if main_mask:
            partial = partial.filter(
                ~F.col(self.id_col).isin(sorted(main_mask)))
        if source is None and self._delta is not None:
            dpart = self._partial(
                q_ids, Q, qid_type, cell2q, fetch,
                source=self._pruned_source(self._delta, probes),
                use_vec=use_refine)
            if self._tombstones:
                dpart = dpart.filter(
                    ~F.col(self.id_col).isin(sorted(self._tombstones)))
            partial = partial.unionByName(dpart)
        return _merge_topk(partial, k, "query_id", self.id_col, "distance", "rank")

    def search_local(self, queries, k: int = 10, nprobe: int = 16,
                     source: DataFrame | None = None,
                     refine: bool | None = None):
        """Low-latency batch path: one map-stage job + driver merge of
        <= partitions x Q x k candidates (the takeOrdered pattern) —
        mirrors BatchKnnIndex.search_local."""
        import pandas as pd

        use_refine = self._resolve_refine(refine, source)
        if self._local_buf:
            self.flush_local()  # distributed scans read the Spark delta
        q_ids, Q, qid_type, cell2q, probes = self._prep_queries(queries, nprobe)
        fetch = self._fetch_k(k)
        if use_refine:
            fetch = max(fetch, k * self.refine_factor)
        if source is None and self._segments is not None:
            partial = self._partial_segments(q_ids, Q, qid_type, cell2q, fetch,
                                             use_refine=use_refine)
        else:
            partial = self._partial(q_ids, Q, qid_type, cell2q, fetch,
                                    source=self._pruned_source(source, probes),
                                    use_vec=use_refine)
        pdf = partial.toPandas()
        main_mask = self._tombstones | self._superseded
        if main_mask:
            pdf = pdf[~pdf[self.id_col].isin(main_mask)]
        if source is None and self._delta is not None:
            dpdf = self._partial(
                q_ids, Q, qid_type, cell2q, fetch,
                source=self._pruned_source(self._delta, probes),
                use_vec=use_refine).toPandas()
            if self._tombstones:
                dpdf = dpdf[~dpdf[self.id_col].isin(self._tombstones)]
            pdf = pd.concat([pdf, dpdf], ignore_index=True)
        pdf = pdf.sort_values(["query_id", "distance", self.id_col],
                              kind="mergesort", ignore_index=True)
        pdf = pdf.groupby("query_id", sort=False).head(k).reset_index(drop=True)
        pdf["rank"] = pdf.groupby("query_id", sort=False).cumcount() + 1
        return pdf

    def probe_union(self, queries, nprobe: int = 16) -> list[int]:
        """Distinct cells probed by a query set — the pruning predicate
        for a partitionBy(centroid_id) table."""
        _, _, _, _, probes = self._prep_queries(queries, nprobe)
        return sorted({int(c) for c in probes.ravel()})

    # -- single-query online serving (no Spark job) ----------------------
    def _driver_cache(self):
        """mmap every pinned segment on the DRIVER once and build the
        cell -> (segment, start, end) directory — the reference's
        in-process index shape (src/indexing/ivf.rs inverted lists).
        Requires pin_segments() on storage the driver can read (true in
        local mode and for shared/NFS/object-store segment dirs).  The
        arrays are mmap'd, so 'loading' costs page faults on first
        touch only; the directory is O(nlist)."""
        if self._segments is None:
            raise ValueError("call pin_segments() before search_one()")
        seg_dir, n_parts, written = self._segments
        if getattr(self, "_drv", None) is not None \
                and self._drv[0] == seg_dir:
            return self._drv[1], self._drv[2]
        segs, cell_dir, spans = [], {}, []
        for pid in sorted(written):
            cells = np.load(f"{seg_dir}/cells_{pid}.npy")
            if cells.size == 0:
                continue
            starts = np.load(f"{seg_dir}/starts_{pid}.npy")
            try:
                codes = np.load(f"{seg_dir}/codes32_{pid}.npy",
                                mmap_mode="r")  # decoded tier
            except FileNotFoundError:
                codes = np.load(f"{seg_dir}/codes_{pid}.npy",
                                mmap_mode="r")
            metas = {
                mc: np.load(f"{seg_dir}/meta_{mc}_{pid}.npy",
                            mmap_mode="r")
                for mc in self.meta_cols
            }
            vecs = (np.load(f"{seg_dir}/vecs32_{pid}.npy", mmap_mode="r")
                    if self.refine else None)
            seg = (np.load(f"{seg_dir}/ids_{pid}.npy", mmap_mode="r"),
                   np.load(f"{seg_dir}/nsq_{pid}.npy", mmap_mode="r"),
                   codes, metas, vecs)
            si = len(segs)
            segs.append(seg)
            for ci, cell in enumerate(cells):
                cell_dir[int(cell)] = (si, int(starts[ci]),
                                       int(starts[ci + 1]))
            # the same directory as (nlist,) start/end arrays, so a
            # filtered search gathers every probed cell's rows at once
            start = np.zeros(self.nlist, dtype=np.int64)
            end = np.zeros(self.nlist, dtype=np.int64)
            start[cells], end[cells] = starts[:-1], starts[1:]
            spans.append((start, end))
        self._drv = (seg_dir, segs, cell_dir, spans)
        self._cellf32 = {}
        self._cellf32_bytes = 0
        return segs, cell_dir

    def memory_bytes(self) -> int:
        """Resident serving bytes: the pinned segment arrays the driver
        maps (ids, norms, codes, metadata, refine sidecar) plus the
        decoded-cell cache of search_one."""
        if self._segments is None:
            return 0
        segs, _ = self._driver_cache()
        pinned = sum(
            ids.nbytes + nsq.nbytes + codes.nbytes
            + sum(v.nbytes for v in metas.values())
            + (0 if vecs is None else vecs.nbytes)
            for ids, nsq, codes, metas, vecs in segs)
        return int(pinned + self._cellf32_bytes)

    def _driver_delta(self):
        """Bounded driver mirror of the delta frame (adds since the
        last merge), refreshed only when the incremental state
        changes."""
        ver = getattr(self, "_mut_ver", 0)
        cached = getattr(self, "_drv_delta", None)
        if cached is not None and cached[0] == ver:
            return cached[1]
        if self._delta is None:
            out = None
        else:
            import pandas as pd  # noqa: F401

            pdf = self._delta.select(
                self.id_col, "centroid_id", "norm_sq", self.CODE_COL,
                *([self.VEC_COL] if self.refine else []),
                *self.meta_cols,
            ).toPandas()
            if len(pdf) == 0:
                out = None
            else:
                out = (
                    pdf[self.id_col].to_numpy(),
                    pdf["centroid_id"].to_numpy(dtype=np.int64),
                    pdf["norm_sq"].to_numpy(dtype=np.float32),
                    np.asarray([np.frombuffer(b, dtype=self._code_np)
                                for b in pdf[self.CODE_COL]]),
                    {mc: pdf[mc].to_numpy() for mc in self.meta_cols},
                    (np.asarray([np.frombuffer(b, dtype=np.float32)
                                 for b in pdf[self.VEC_COL]])
                     if self.refine else None),
                )
        # merge the driver-local write buffer (add_local); local rows
        # win on id collisions (add_local already filtered the Spark
        # delta, the isin here only defends stale lineage)
        local = self._local_delta_arrays()
        if local is not None:
            if out is not None:
                keep = ~np.isin(out[0], local[0])
                if not keep.any():
                    out = local
                else:
                    out = (
                        np.concatenate([out[0][keep], local[0]]),
                        np.concatenate([out[1][keep], local[1]]),
                        np.concatenate([out[2][keep], local[2]]),
                        np.concatenate([np.asarray(out[3])[keep],
                                        local[3]]),
                        {mc: np.concatenate([out[4][mc][keep],
                                             local[4][mc]])
                         for mc in self.meta_cols},
                        (np.concatenate([np.asarray(out[5])[keep],
                                         local[5]])
                         if self.refine else None),
                    )
            else:
                out = local
        self._drv_delta = (ver, out)
        return out

    @staticmethod
    def _where_mask(metas: dict, where: dict, sel=None):
        """Evaluate a conjunctive predicate over pinned metadata
        arrays (indexed by `sel` — a slice or row indices — when
        given).  Per column: bare value or
        {"$eq"}, {"$in"}, {"$gt"/"$gte"/"$lt"/"$lte"} — the shapes the
        reference's filtered ANN search evaluates during its walk."""
        mask = None
        for col, spec in where.items():
            if col not in metas:
                raise ValueError(
                    f"column {col!r} is not pinned; build the index "
                    f"with meta_cols=[{col!r}] for filtered serving")
            vals = np.asarray(metas[col] if sel is None
                              else metas[col][sel])
            if not isinstance(spec, dict):
                m = vals == spec
            else:
                m = np.ones(len(vals), dtype=bool)
                for op, arg in spec.items():
                    if op == "$eq":
                        m &= vals == arg
                    elif op == "$in":
                        m &= np.isin(vals, list(arg))
                    elif op == "$gte":
                        m &= vals >= arg
                    elif op == "$lte":
                        m &= vals <= arg
                    elif op == "$gt":
                        m &= vals > arg
                    elif op == "$lt":
                        m &= vals < arg
                    else:
                        raise ValueError(f"unsupported where op {op!r}")
            mask = m if mask is None else (mask & m)
        return mask

    def search_many_local(self, queries, k: int = 10, nprobe: int = 16,
                          where: dict | None = None,
                          refine: bool | None = None):
        """Driver-local BATCH serving over the pinned segments: the
        whole query batch is answered in-process — per-cell query
        grouping (one sgemm per probed cell against the queries that
        probe it), no Spark job, no per-query loop.  This is the
        apples-to-apples shape for the reference's in-process batch
        number (its HNSW answers batches from process memory too); the
        distributed `search`/`search_local` paths remain the
        cluster-wide variants for corpora that outgrow one node's
        storage bandwidth.  Returns a pandas DataFrame
        (query_id, id, distance, rank) like search_local.

        refine: on a refine-capable index (built with refine=True) the
        default reranks the refine_factor*k quantized survivors per
        (query, cell) by exact float64 distance against the pinned
        float32 sidecar — quantization then cannot cost recall within
        the probed cells; pass refine=False to serve quantized scores
        from the same index."""
        import pandas as pd

        use_refine = self._resolve_refine(refine)
        segs, cell_dir = self._driver_cache()
        q_ids, Q, _, cell2q, probes = self._prep_queries(queries, nprobe)
        SQ, step2, QT, base = self._quant_parts(Q)
        qsq = (Q * Q).sum(axis=1).astype(np.float32)
        q_arr = np.asarray(q_ids)
        nq = len(q_ids)
        fetch = self._fetch_k(k)
        if use_refine:
            fetch = max(fetch, k * self.refine_factor)
        # refine: the quantized cut only accumulates PACKED ROW REFS
        # ((seg+1) << 40 | row; delta rows use seg token 0); the exact
        # re-rank runs ONCE post-merge over the surviving candidates —
        # a per-cell rerank costs ~350 us x probed-cells of small-
        # gather overhead (measured; PLANS.md), the post-merge pass is
        # one gather + one vectorized float64 scoring per batch
        qpos = {v: i for i, v in enumerate(q_arr.tolist())}

        def run(cell_iter, acc_d, acc_i, acc_r):
            for block, ids_cell, nsq_cell, cell, qidx, refmap in cell_iter:
                out = _score_cell_block(
                    block, ids_cell, nsq_cell, qidx,
                    _sq_for_cell(SQ, step2, QT, int(cell)),
                    base[int(cell)], qsq, self.metric, fetch,
                    return_sel=use_refine)
                if use_refine:
                    Dk, Ik, SELk = out
                    refs = refmap[SELk]
                else:
                    Dk, Ik = out
                for j, qi in enumerate(qidx):
                    acc_d[qi].append(Dk[:, j])
                    acc_i[qi].append(Ik[:, j])
                    if use_refine:
                        acc_r[qi].append(refs[:, j])

        def main_cells():
            for cell in np.unique(probes.ravel()):
                qidx = cell2q[int(cell)]
                hit = cell_dir.get(int(cell))
                if qidx is None or len(qidx) == 0 or hit is None:
                    continue
                si, s, e = hit
                ids, nsq, codes, metas, vecs = segs[si]
                ids_c, nsq_c = ids[s:e], nsq[s:e]
                tok = np.int64(si + 1) << np.int64(40)
                if where:
                    # filter DURING the scan: only matching rows are
                    # decoded/scored (10% selectivity -> ~10% of the
                    # sgemm), the reference's filtered-ANN shape
                    wm = self._where_mask(metas, where, slice(s, e))
                    if wm is not None and not wm.all():
                        if not wm.any():
                            continue
                        block = np.asarray(codes[s:e])[wm]
                        if block.dtype != np.float32 \
                                and self._pq is None:
                            block = block.astype(np.float32)
                        refmap = ((s + np.flatnonzero(wm)) + tok) \
                            if use_refine else None
                        yield block, np.asarray(ids_c)[wm], \
                            np.asarray(nsq_c)[wm], cell, qidx, refmap
                        continue
                block = codes[s:e] if codes.dtype == np.float32 \
                    else np.asarray(codes[s:e])
                refmap = (np.arange(s, e, dtype=np.int64) + tok) \
                    if use_refine else None
                yield block, ids_c, nsq_c, cell, qidx, refmap

        acc_d: list[list] = [[] for _ in range(nq)]
        acc_i: list[list] = [[] for _ in range(nq)]
        acc_r: list[list] | None = [[] for _ in range(nq)] \
            if use_refine else None
        run(main_cells(), acc_d, acc_i, acc_r)
        reduced = _partition_topk(acc_d, acc_i, q_arr, fetch, acc_r)
        delta = self._driver_delta()
        d_vecs = delta[5] if delta is not None else None
        frames = []
        if reduced is not None:
            if use_refine:
                dist = self._rerank_merged(reduced[0], reduced[3], Q,
                                           qpos, segs, d_vecs)
            else:
                dist = reduced[2]
            main_pdf = pd.DataFrame({"query_id": reduced[0],
                                     self.id_col: reduced[1],
                                     "distance": dist})
            # the MAIN scan masks tombstones AND superseded ids (the
            # delta holds the only live copy of a superseded id)
            main_mask = self._tombstones | self._superseded
            if main_mask:
                main_pdf = main_pdf[
                    ~main_pdf[self.id_col].isin(main_mask)]
            frames.append(main_pdf)
        if delta is not None:
            d_ids, d_cent, d_nsq, d_codes, d_metas, d_vecs = delta
            sel = np.isin(d_cent, probes.ravel())
            if self._tombstones:
                sel &= ~np.isin(d_ids, list(self._tombstones))
            if where:
                wm = self._where_mask(d_metas, where)
                if wm is not None:
                    sel &= wm
            dacc_d: list[list] = [[] for _ in range(nq)]
            dacc_i: list[list] = [[] for _ in range(nq)]
            dacc_r: list[list] | None = [[] for _ in range(nq)] \
                if use_refine else None
            run(((d_codes[m], d_ids[m], d_nsq[m], cell,
                  cell2q[int(cell)],
                  (np.flatnonzero(m).astype(np.int64)
                   if use_refine else None))
                 for cell in np.unique(d_cent[sel])
                 if cell2q[int(cell)] is not None
                 and len(cell2q[int(cell)]) > 0
                 for m in [sel & (d_cent == cell)]),
                dacc_d, dacc_i, dacc_r)
            dreduced = _partition_topk(dacc_d, dacc_i, q_arr, fetch,
                                       dacc_r)
            if dreduced is not None:
                if use_refine:
                    ddist = self._rerank_merged(dreduced[0], dreduced[3],
                                                Q, qpos, segs, d_vecs)
                else:
                    ddist = dreduced[2]
                frames.append(pd.DataFrame(
                    {"query_id": dreduced[0], self.id_col: dreduced[1],
                     "distance": ddist}))
        if not frames:
            return pd.DataFrame(
                {"query_id": [], self.id_col: [], "distance": [],
                 "rank": []})
        pdf = pd.concat(frames, ignore_index=True)
        pdf = pdf.sort_values(["query_id", "distance", self.id_col],
                              kind="mergesort", ignore_index=True)
        pdf = pdf.groupby("query_id", sort=False).head(k) \
                 .reset_index(drop=True)
        pdf["rank"] = pdf.groupby("query_id", sort=False).cumcount() + 1
        return pdf

    def search_one(self, query_vector, k: int = 10, nprobe: int = 16,
                   where: dict | None = None,
                   refine: bool | None = None):
        """Millisecond single-query serving over the pinned segments —
        the reference's online path (README.md:78-82, 3.2 ms p50): no
        Spark job, no collect; probe-cell selection, per-cell SQ8
        scoring, and the top-k merge all run in-process against the
        mmap'd (page-cache-resident) segment arrays.  Results equal the
        distributed search at the same nprobe (asserted by
        tests/test_ivf_batch.py).  Cluster posture: run this inside a
        serving process colocated with shared segment storage; the
        DataFrame `search` path remains the cluster-wide variant.

        `where` filters on pinned metadata columns (see _where_mask):
        the probed rows that match are gathered and scored in one
        vectorized pass (_filtered_candidates) instead of the per-cell
        loop; the ids equal search_many_local's at the same nprobe.

        Returns [(id, distance), ...] sorted ascending, length <= k."""
        use_refine = self._resolve_refine(refine)
        segs, cell_dir = self._driver_cache()
        q = np.asarray(query_vector, dtype=np.float64).reshape(1, -1)
        if self.metric == "cosine":
            q = _l2_normalize(q)
        dq = (((q * q).sum()) - 2.0 * (q @ self.centroids.T)
              + (self.centroids * self.centroids).sum(axis=1)[None, :])
        nprobe = min(nprobe, self.nlist)
        probes = np.argpartition(dq[0], nprobe - 1)[:nprobe]
        SQ, step2, QT, base = self._quant_parts(q)
        qsq = (q * q).sum(axis=1).astype(np.float32)
        qidx = np.array([0])
        fetch = self._fetch_k(k)
        if use_refine:
            fetch = max(fetch, k * self.refine_factor)
        if where:
            cand_d, cand_i, cand_r = self._filtered_candidates(
                segs, probes, where, (SQ, step2, QT, base, qsq), fetch,
                use_refine)
        else:
            cand_d, cand_i, cand_r = [], [], []
            for cell in probes:
                hit = cell_dir.get(int(cell))
                if hit is None:
                    continue
                si, s, e = hit
                ids, nsq, codes, _metas, vecs = segs[si]
                if self._pq is not None:
                    # PQ codes are LUT indices: the kernel reads the uint8
                    # rows directly (no float32 cast, no decoded cache)
                    Cf = np.asarray(codes[s:e])
                elif codes.dtype == np.float32:
                    # decoded segment tier (pin_segments(decoded=True)):
                    # BLAS reads the page-cached mmap directly
                    Cf = codes[s:e]
                else:
                    key = (si, s, e)
                    Cf = self._cellf32.get(key)
                    if Cf is not None:
                        # LRU touch: re-insert so insertion order == recency
                        self._cellf32[key] = self._cellf32.pop(key)
                    else:
                        Cf = np.asarray(codes[s:e]).astype(np.float32)
                        budget = self.serving_cache_mb * 1024 * 1024
                        if Cf.nbytes <= budget:
                            while self._cellf32_bytes + Cf.nbytes > budget \
                                    and self._cellf32:
                                # evict LEAST-recently-used (front of the
                                # insertion order), not the newest entry
                                lru = next(iter(self._cellf32))
                                self._cellf32_bytes -= \
                                    self._cellf32.pop(lru).nbytes
                            self._cellf32[key] = Cf
                            self._cellf32_bytes += Cf.nbytes
                out = _score_cell_block(
                    Cf, ids[s:e], nsq[s:e], qidx,
                    _sq_for_cell(SQ, step2, QT, int(cell)),
                    base[int(cell)], qsq, self.metric, fetch,
                    return_sel=use_refine)
                if use_refine:
                    Dk, Ik, SELk = out
                    cand_r.append((np.int64(si + 1) << np.int64(40))
                                  + s + SELk[:, 0].astype(np.int64))
                else:
                    Dk, Ik = out
                cand_d.append(Dk[:, 0])
                cand_i.append(Ik[:, 0])
        main_mask = self._tombstones | self._superseded
        if cand_d and main_mask:
            di = np.concatenate(cand_d)
            ii = np.concatenate(cand_i)
            keep = ~np.isin(ii, list(main_mask))
            cand_d, cand_i = [di[keep]], [ii[keep]]
            if use_refine:
                cand_r = [np.concatenate(cand_r)[keep]]
        delta = self._driver_delta()
        d_vecs = delta[5] if delta is not None else None
        if delta is not None:
            d_ids, d_cent, d_nsq, d_codes, d_metas, d_vecs = delta
            sel = np.isin(d_cent, probes)
            if self._tombstones:
                sel &= ~np.isin(d_ids, list(self._tombstones))
            if where:
                sel &= self._where_mask(d_metas, where)
            if sel.any():
                # delta rows scored per their own cell's base term
                for cell in np.unique(d_cent[sel]):
                    m = sel & (d_cent == cell)
                    out = _score_cell_block(
                        d_codes[m], d_ids[m], d_nsq[m], qidx,
                        _sq_for_cell(SQ, step2, QT, int(cell)),
                        base[int(cell)], qsq, self.metric,
                        fetch, return_sel=use_refine)
                    if use_refine:
                        Dk, Ik, SELk = out
                        cand_r.append(np.flatnonzero(m).astype(np.int64)
                                      [SELk[:, 0]])
                    else:
                        Dk, Ik = out
                    cand_d.append(Dk[:, 0])
                    cand_i.append(Ik[:, 0])
        if not cand_d:
            return []
        D = np.concatenate(cand_d)
        I = np.concatenate(cand_i)
        if use_refine:
            # ONE exact pass over every surviving candidate (<= probes
            # x fetch rows): same post-merge shape as the batch path
            R = np.concatenate(cand_r)
            D = self._rerank_merged(
                np.zeros(len(R), dtype=np.int64), R,
                q, {0: 0}, segs, d_vecs)
        if I.dtype == object:  # mixed mmap-unicode + delta str ids
            I = np.asarray(I, dtype=str)
        if len(D) > k:
            sel = np.argpartition(D, k - 1)[:k]
            D, I = D[sel], I[sel]
        order = np.lexsort((I, D))
        return [(I[j].item() if hasattr(I[j], "item") else I[j],
                 float(D[j])) for j in order[:k]]

    def _filtered_candidates(self, segs, probes, where, terms,
                             fetch: int, use_refine: bool):
        """The main-segment scan of a filtered search_one: per segment,
        the rows of every probed cell are gathered with one repeat +
        arange, `where` is evaluated once over their pinned metadata,
        and only the matching rows are cast and scored, in blocks of
        FILTERED_BLOCK_ROWS (each row against its own cell's terms).
        Returns search_one's (cand_d, cand_i, cand_r) lists holding
        the quantized top-`fetch` across all segments — the cut
        search_many_local takes before its tombstone mask and refine
        pass; cand_r carries packed (seg+1) << 40 | row refs on a
        refine pass."""
        SQ, step2, QT, base, qsq = terms
        probes = np.sort(probes)  # ascending rows: mmap locality
        cand_d, cand_i, cand_r = [], [], []
        for si, (start, end) in enumerate(self._drv[3]):
            lens = end[probes] - start[probes]
            n = int(lens.sum())
            if n == 0:
                continue
            rows = np.repeat(start[probes] - (np.cumsum(lens) - lens),
                             lens) + np.arange(n)
            cells = np.repeat(probes, lens)
            ids, nsq, codes, metas, _vecs = segs[si]
            wm = self._where_mask(metas, where, rows)
            rows, cells = rows[wm], cells[wm]
            for b in range(0, len(rows), FILTERED_BLOCK_ROWS):
                r = rows[b:b + FILTERED_BLOCK_ROWS]
                D = _score_rows(codes[r], nsq[r],
                                cells[b:b + FILTERED_BLOCK_ROWS], SQ,
                                step2, QT, base, qsq, self.metric)
                if len(D) > fetch:
                    sel = np.argpartition(D, fetch - 1)[:fetch]
                    D, r = D[sel], r[sel]
                cand_d.append(D)
                cand_i.append(ids[r])
                if use_refine:
                    cand_r.append((np.int64(si + 1) << np.int64(40)) + r)
        if len(cand_d) <= 1:
            return cand_d, cand_i, cand_r
        D, I = np.concatenate(cand_d), np.concatenate(cand_i)
        R = np.concatenate(cand_r) if use_refine else None
        if len(D) > fetch:
            sel = np.argpartition(D, fetch - 1)[:fetch]
            D, I = D[sel], I[sel]
            R = R[sel] if use_refine else None
        return [D], [I], ([R] if use_refine else [])

    def _rerank_merged(self, q_vals, refs, Q64, qpos, segs, d_vecs):
        """Post-merge exact re-rank: one sidecar gather + one
        vectorized float64 scoring pass for a whole batch's surviving
        candidates.  refs pack ((seg+1) << 40 | row); token 0 rows
        index the delta's in-RAM vec32 array.  Returns exact distances
        aligned with refs."""
        n = len(refs)
        refs = np.asarray(refs, dtype=np.int64)
        tok = refs >> np.int64(40)
        row = refs & np.int64((1 << 40) - 1)
        qi = np.fromiter((qpos[v] for v in q_vals.tolist()),
                         dtype=np.int64, count=n)
        out = np.empty(n, dtype=np.float64)
        for t in np.unique(tok):
            m = tok == t
            src = d_vecs if t == 0 else segs[int(t) - 1][4]
            out[m] = _exact_rows(src, row[m], Q64[qi[m]], self.metric)
        return out

    def _resolve_refine(self, refine: bool | None,
                        source: DataFrame | None = None) -> bool:
        """Per-call refine override: None = the index's capability;
        True on a non-capable index is an error (no sidecar to read).
        True with a caller-provided `source` is also an error — an
        arbitrary source carries no sidecar, so the scores would be
        silently quantized, not exact-reranked."""
        if refine is None:
            return self.refine and self.refine_by_default \
                and source is None
        if refine and not self.refine:
            raise ValueError(
                "this index was built without refine=True: no exact "
                "float32 sidecar is pinned to rerank against")
        if refine and source is not None:
            raise ValueError(
                "refine=True cannot serve a caller-provided `source`: "
                "no exact sidecar travels with an arbitrary source, so "
                "results would be quantized, not exact-reranked — pass "
                "source=None (the index's own codes) or refine=False")
        return bool(refine)

    # -- incremental maintenance (incremental.rs IncrementalIndex) ------
    def _fetch_k(self, k: int) -> int:
        """Over-fetch per partition so tombstone filtering cannot
        under-fill the final top-k; bounded — a large delete backlog
        should merge_delta() instead (needs_optimization flags it)."""
        return k + min(len(self._tombstones) + len(self._superseded), 64)

    def add(self, rows: DataFrame) -> int:
        """Insert without rebuilding (incremental.rs:331 insert): encode
        with the frozen centroids/quantizer (one map-only pass) into the
        delta frame; searches merge it in immediately.  Centroids do NOT
        refit — like the reference, drifted data degrades recall until
        merge/rebuild, which stats() makes visible."""
        enc = self._encode(rows).persist()
        self._delta_parts.append(enc)
        # ONE job: the collected id column is also the row count
        id_rows = enc.select(self.id_col).collect()
        n = len(id_rows)
        new_ids = {r[0] for r in id_rows}
        # a re-added tombstoned id must NOT unmask its stale main row:
        # the main copy stays masked (superseded) and the delta serves
        # the new row.  Ids re-added over an existing delta row replace
        # it (upsert semantics) rather than duplicating.
        revived = self._tombstones & new_ids
        self._tombstones -= revived
        self._superseded |= revived
        # adds over LIVE main rows are upserts too (ADVICE r4): mask the
        # stale main copy, or search serves the id twice and merge_delta
        # persists the duplicate.  One pushdown-filtered probe of the
        # (persisted) codes table per add batch, bounded by |new_ids|.
        unresolved = new_ids - revived
        if unresolved:
            in_main = {
                r[0] for r in self.codes.filter(
                    F.col(self.id_col).isin(sorted(unresolved)))
                .select(self.id_col).collect()
            }
            self._superseded |= in_main
        if self._delta is not None and new_ids:
            self._delta = self._delta.filter(
                ~F.col(self.id_col).isin(sorted(new_ids)))
        self._delta = enc if self._delta is None \
            else self._delta.unionByName(enc)
        self._delta_ids |= new_ids
        self._mut_ver += 1
        self._maybe_auto_merge()
        return n

    def _pending_ids(self) -> int:
        """Driver-resident id-mask cardinality (the O(churn) state) —
        includes the online write buffer's ids (add_local), which live
        on the driver just the same."""
        return (len(self._tombstones) + len(self._superseded)
                + len(self._delta_ids) + len(self._local_ids))

    def _maybe_auto_merge(self) -> None:
        """Force merge_delta() once the driver-side id masks exceed
        max_pending_ids (VERDICT r8 #4): merge folds the delta into the
        cell layout and CLEARS the masks, so driver memory for
        incremental state is bounded by the threshold, not by total
        churn.  Search results are unchanged by construction —
        merge_delta serves the identical live-row set."""
        if self.max_pending_ids is None or self._in_merge:
            return
        if self._pending_ids() > self.max_pending_ids:
            self.merge_delta()
            self._auto_merges += 1

    # -- driver-local write path (online single-insert serving) ---------

    def _encode_np(self, V: "np.ndarray"):
        """Numpy mirror of _encode's Arrow kernel — bit-identical math
        (same normalize, argmin assignment, rint residual codes).
        Returns (assign, nsq, codes, V_norm): V_norm is the float32
        input in scoring space (l2-normalized for cosine) — the exact
        rows the refine sidecar stores."""
        C32 = np.ascontiguousarray(self.centroids, dtype=np.float32)
        V = np.ascontiguousarray(np.atleast_2d(V), dtype=np.float32)
        V, nsq, assign = _assign_cells(V, C32, (C32 * C32).sum(axis=1),
                                       self.metric == "cosine")
        res = V - C32[assign]
        if self.code_dtype == "float32":
            return assign, nsq.astype(np.float32), res.astype(np.float32), V
        if self._pq is not None:
            codes, dec = _pq_encode(
                res, np.ascontiguousarray(self._pq, dtype=np.float32))
            dec = dec + C32[assign]
            nsq = (dec.astype(np.float64) ** 2).sum(axis=1)
            return assign, nsq.astype(np.float32), codes, V
        mn32 = self.mn.astype(np.float32)
        step32 = self.step.astype(np.float32)
        inv32 = (1.0 / self.step).astype(np.float32)
        if mn32.ndim == 2:  # per-cell quantizer (sq8_cell)
            mn32, step32, inv32 = mn32[assign], step32[assign], inv32[assign]
        codes = np.clip(
            np.rint((res - mn32) * inv32),
            0.0, 255.0).astype(np.uint8)
        # decoded-norm consistency (see _encode): euclidean ranks with
        # |decoded|^2 next to the quantized dot; cosine renormalizes
        # the quantized dot by sqrt(nsq)
        dec = codes.astype(np.float32) * step32 + mn32 + C32[assign]
        nsq = (dec.astype(np.float64) ** 2).sum(axis=1)
        return assign, nsq.astype(np.float32), codes, V

    def _main_id_index(self):
        """Sorted pinned-main ids for O(log n) driver-side membership
        probes (the upsert mask check without a Spark job)."""
        if self._main_ids_sorted is None:
            segs, _ = self._driver_cache()
            parts = [np.asarray(s[0]) for s in segs if len(s[0])]
            self._main_ids_sorted = (np.sort(np.concatenate(parts))
                                     if parts else np.array([]))
        return self._main_ids_sorted

    def _wal_path(self) -> str | None:
        if self._segments is None:
            return None
        return f"{self._segments[0]}/local_wal.pkl"

    def _close_wal_fh(self) -> None:
        if self._wal_fh is not None:
            try:
                self._wal_fh.close()
            except OSError:
                pass
            self._wal_fh = None
            self._wal_fh_path = None

    def _rewrite_wal(self) -> None:
        """Mirror the current local buffer into the WAL (atomic
        replace).  Called when delete() drops buffered rows: the WAL
        must forget them too, or a crash replay resurrects deleted
        rows.  An empty buffer removes the WAL files outright."""
        import os
        import pickle

        path = self._wal_path()
        if path is None:
            return
        # the cached append handle points at the inode being replaced
        # (or removed); appends through it would be silently lost
        self._close_wal_fh()
        if not self._local_buf:
            for p in {path} | self._wal_written:
                if p and os.path.exists(p):
                    os.unlink(p)
            self._wal_written = set()
            return
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            for rec in self._local_buf:
                pickle.dump(rec, f, protocol=4)
        os.replace(tmp, path)
        self._wal_written.add(path)

    def add_local(self, ids, vectors, metas: dict | None = None,
                  durable: bool = True, fsync: bool = False) -> int:
        """Driver-local insert for online serving (the reference's
        in-process insert path, README.md:84 0.8 ms p50 — its
        durability is a WAL too, persistence/wal.rs): encode with the
        frozen centroids/quantizer IN-PROCESS, append to the local
        buffer that search_one/search_many_local merge in immediately,
        and append a WAL record under the pinned segment dir for crash
        recovery.  No Spark job.  flush_local() folds the buffer into
        the distributed delta; the distributed search paths call it
        automatically.  Upsert semantics match add(): stale main/delta
        copies are masked, a re-added tombstone revives from the
        buffer.

        Durability tiers: durable=True (default) appends the WAL record
        at call time — the row survives a PROCESS crash (replayed on
        re-pin).  fsync=True additionally fsyncs the append so the row
        survives a HOST crash, at ~1 ms extra per call; leave it off
        and call flush_local() at checkpoints if host-crash loss of the
        in-flight buffer is acceptable (the reference's WAL has the
        same buffered-vs-synced split)."""
        import pickle

        if self._segments is None:
            raise ValueError("add_local() serves over pinned segments; "
                             "call pin_segments() first (use add() for "
                             "the distributed path)")
        ids = np.asarray(ids).reshape(-1)
        V = np.atleast_2d(np.asarray(vectors, dtype=np.float32))
        if V.shape[1] != self.dim:
            raise ValueError(f"vector dims {V.shape[1]} != index "
                             f"dims {self.dim}")
        assign, nsq, codes, v_norm = self._encode_np(V)
        if len(ids) != len(codes):
            raise ValueError("ids and vectors length mismatch")
        metas = metas or {}
        missing = [mc for mc in self.meta_cols if mc not in metas]
        if missing:
            raise ValueError(f"meta_cols {missing} required by this "
                             "index are missing from metas=")
        marr = {mc: np.asarray(metas[mc]).reshape(-1)
                for mc in self.meta_cols}
        bad = [mc for mc in self.meta_cols if len(marr[mc]) != len(ids)]
        if bad:
            raise ValueError(f"metas {bad} length != number of ids "
                             f"({len(ids)}); a short meta array would "
                             "mis-filter serving and wedge flush_local")
        rec = (ids, assign, nsq, codes, marr,
               v_norm if self.refine else None)
        # WAL FIRST: a failed durable write (ENOSPC, fsync EIO) must
        # raise BEFORE the row becomes visible to serving, or the
        # caller sees an error for an insert that searches then return
        if durable:
            import os

            path = self._wal_path()
            f = self._wal_fh
            if f is None or f.closed or self._wal_fh_path != path:
                self._close_wal_fh()
                existed = os.path.exists(path)
                f = open(path, "ab")
                self._wal_fh, self._wal_fh_path = f, path
            else:
                existed = True
            pickle.dump(rec, f, protocol=4)
            # flush to the OS so the record survives a PROCESS crash
            # (the durable=True contract); fsync upgrades to host-crash
            f.flush()
            if fsync:
                os.fsync(f.fileno())
            if fsync and not existed:
                # a brand-new WAL's directory entry needs its own fsync
                # or the file itself can vanish on host crash
                dfd = os.open(os.path.dirname(path), os.O_RDONLY)
                try:
                    os.fsync(dfd)
                finally:
                    os.close(dfd)
            # flush_local unlinks every file actually written, even if
            # segments were re-pinned into a different dir meanwhile
            # (a stale WAL would double-add on a later replay there)
            self._wal_written.add(path)
        self._apply_local_record(rec)
        # churn cap on the ONLINE path too (review r9): the one insert
        # that crosses max_pending_ids pays a flush (whose own cap
        # check then merges) — classic compaction amortization; every
        # other insert keeps the sub-ms contract.
        if self.max_pending_ids is not None \
                and self._pending_ids() > self.max_pending_ids:
            self.flush_local()
        return len(ids)

    def _apply_local_record(self, rec) -> None:
        """Masking ladder (same as add()) + buffer append for one
        encoded local record — runs only after the WAL append
        succeeded, and for WAL replay."""
        if len(rec) < 6:
            # WAL record from a pre-refine build: pad the sidecar slot
            rec = (*rec, None)
        if self.refine and rec[5] is None:
            # refine-capable index replaying a record without exact
            # rows (pre-refine WAL): the decoded reconstruction is the
            # best available stand-in — its rerank equals the quantized
            # ranking for these rows instead of failing the whole tier
            _ids, assign, _nsq, codes, _m, _v = rec
            if self._pq is not None:
                books = np.ascontiguousarray(self._pq, dtype=np.float32)
                ci = np.asarray(codes, dtype=np.int64)
                dec = (books[np.arange(len(books))[None, :], ci]
                       .reshape(len(ci), self.dim)
                       + self.centroids[assign]).astype(np.float32)
            else:
                mn, step = self.mn, self.step
                if np.asarray(mn).ndim == 2:
                    mn, step = mn[assign], step[assign]
                dec = (np.asarray(codes, dtype=np.float32) * step + mn
                       + self.centroids[assign]).astype(np.float32)
            rec = (*rec[:5], dec)
        ids = rec[0]
        new_ids = set(np.asarray(ids).tolist())
        revived = self._tombstones & new_ids
        self._tombstones -= revived
        self._superseded |= revived
        unresolved = new_ids - revived
        if unresolved:
            main_ids = self._main_id_index()
            if main_ids.size:
                probe = np.asarray(sorted(unresolved))
                pos = np.searchsorted(main_ids, probe)
                pos = np.clip(pos, 0, main_ids.size - 1)
                hit = probe[main_ids[pos] == probe]
                self._superseded |= set(hit.tolist())
        # a local re-add replaces any older buffered copy (O(1) probe
        # against the maintained id mirror — a buffer scan here was the
        # growing per-insert tail)...
        if self._local_ids & new_ids:
            self._drop_from_local(new_ids)
        # ...and masks same-id rows already in the Spark delta
        if self._delta is not None:
            self._delta = self._delta.filter(
                ~F.col(self.id_col).isin(sorted(new_ids)))
        self._local_buf.append(rec)
        self._local_n += len(ids)
        self._local_ids |= new_ids
        self._mut_ver += 1

    def _drop_from_local(self, drop_ids: set) -> None:
        buf = []
        for t in self._local_buf:
            keep = ~np.isin(np.asarray(t[0]), list(drop_ids))
            if keep.all():
                buf.append(t)
            elif keep.any():
                buf.append((t[0][keep], t[1][keep], t[2][keep],
                            t[3][keep],
                            {mc: t[4][mc][keep] for mc in self.meta_cols},
                            (t[5][keep] if len(t) > 5 and t[5] is not None
                             else None)))
        self._local_buf = buf
        self._local_n = sum(len(t[0]) for t in buf)
        self._local_ids -= {i.item() if hasattr(i, "item") else i
                            for i in drop_ids}

    def _local_delta_arrays(self):
        if not self._local_buf:
            return None
        ids = np.concatenate([np.asarray(t[0]) for t in self._local_buf])
        cent = np.concatenate([t[1] for t in self._local_buf])
        nsq = np.concatenate([t[2] for t in self._local_buf])
        codes = np.concatenate([t[3] for t in self._local_buf])
        metas = {mc: np.concatenate([t[4][mc] for t in self._local_buf])
                 for mc in self.meta_cols}
        vecs = (np.concatenate([t[5] for t in self._local_buf])
                if self.refine else None)
        return ids, cent.astype(np.int64), nsq, codes, metas, vecs

    def _replay_wal(self) -> int:
        """Recover local adds WAL'd by a previous process against this
        segment dir (crash between add_local and flush_local).  A torn
        trailing record — the normal artifact of a crash mid-append —
        ends the replay but keeps every complete record before it."""
        import os
        import pickle

        path = self._wal_path()
        if not path or not os.path.exists(path) or self._local_buf:
            return 0
        n, torn = 0, False
        recs = []
        with open(path, "rb") as f:
            while True:
                try:
                    rec = pickle.load(f)
                except EOFError:
                    break
                except (pickle.UnpicklingError, ValueError,
                        AttributeError, MemoryError):
                    torn = True
                    break  # torn tail: everything before it is intact
                recs.append(rec)
        for rec in recs:
            self._apply_local_record(rec)
            n += len(np.asarray(rec[0]))
        if torn:
            # rewrite the WAL without the garbage tail, or future
            # appends land AFTER it and become unreachable to replay
            tmp = path + ".tmp"
            with open(tmp, "wb") as f:
                for rec in recs:
                    pickle.dump(rec, f, protocol=4)
            os.replace(tmp, path)
        if n or torn:
            # records replayed into the buffer still live in this WAL;
            # flush_local must unlink it after folding them
            self._wal_written.add(path)
        return n

    def flush_local(self) -> int:
        """Fold the driver-local buffer into the distributed delta (one
        createDataFrame of already-encoded rows — no re-encode) and
        truncate the WAL.  Distributed search paths call this
        automatically so every tier serves the same rows."""
        import os

        import pandas as pd

        local = self._local_delta_arrays()
        if local is None:
            # delete() may have emptied the buffer AFTER records were
            # WAL'd: drop those WAL files or a later replay resurrects
            # the deleted rows
            self._close_wal_fh()
            for path in self._wal_written:
                if path and os.path.exists(path):
                    os.unlink(path)
            self._wal_written = set()
            return 0
        ids, cent, nsq, codes, metas, vecs = local
        pdf = pd.DataFrame({
            self.id_col: ids,
            "centroid_id": cent.astype(np.int32),
            "norm_sq": nsq,
            self.CODE_COL: [c.tobytes() for c in codes],
            **({self.VEC_COL: [np.ascontiguousarray(v, dtype=np.float32)
                               .tobytes() for v in vecs]}
               if self.refine else {}),
            **{mc: metas[mc] for mc in self.meta_cols},
        })
        enc = self.codes.sparkSession.createDataFrame(
            pdf, schema=self.codes.schema).persist()
        n = enc.count()
        self._delta_parts.append(enc)
        self._delta = enc if self._delta is None \
            else self._delta.unionByName(enc)
        self._delta_ids |= {i.item() if hasattr(i, "item") else i
                            for i in ids}
        self._local_buf = []
        self._local_n = 0
        self._local_ids = set()
        self._mut_ver += 1
        self._close_wal_fh()
        for path in {self._wal_path()} | self._wal_written:
            if path and os.path.exists(path):
                os.unlink(path)
        self._wal_written = set()
        # the online write path grows the same driver-side id masks as
        # add()/delete() — the churn cap must bound it too (review r9).
        # Checked here, not in add_local: merge is a Spark job and
        # would blow the sub-ms single-insert latency contract; every
        # distributed search calls flush_local, so the cap engages at
        # the next serving boundary after the threshold is crossed.
        self._maybe_auto_merge()
        return int(n)

    def delete(self, ids) -> int:
        """Tombstone ids (incremental.rs:513): delta rows drop
        immediately, main rows are masked at search until merge_delta."""
        ids = set(ids)
        if self._delta is not None and ids:
            self._delta = self._delta.filter(
                ~F.col(self.id_col).isin(sorted(ids)))
        self._delta_ids -= ids
        if self._local_buf and ids:
            self._drop_from_local(ids)
            # keep the WAL a mirror of the buffer: a crash replay must
            # not resurrect rows deleted after their WAL append
            self._rewrite_wal()
        self._tombstones |= ids
        self._superseded -= ids  # fully deleted again, not superseded
        self._mut_ver += 1
        self._maybe_auto_merge()
        return len(ids)

    def merge_delta(self) -> dict:
        """Fold the delta into the main codes table (incremental.rs:423):
        one repartition of (main ∪ delta) minus tombstones back into the
        cell-contiguous layout; re-pins mmap segments if they were
        pinned.  At rest this is a partition-localized rewrite — only
        cells that received delta rows change files."""
        if self._in_merge:  # paranoia: never nest (see _maybe_auto_merge)
            return {"merged_rows": 0, "deleted": 0,
                    "main_rows": self.n_main, "repinned_segments": False}
        self._in_merge = True
        try:
            return self._merge_delta_inner()
        finally:
            self._in_merge = False

    def _merge_delta_inner(self) -> dict:
        if self._local_buf:
            self.flush_local()
        main = self.codes
        main_mask = self._tombstones | self._superseded
        if main_mask:
            main = main.filter(
                ~F.col(self.id_col).isin(sorted(main_mask)))
        merged = main
        if self._delta is not None:
            delta = self._delta
            if self._tombstones:
                delta = delta.filter(
                    ~F.col(self.id_col).isin(sorted(self._tombstones)))
            merged = merged.unionByName(delta)
        n_parts = (self._cluster_partitions
                   or merged.sparkSession.sparkContext.defaultParallelism)
        new_codes = (merged.repartition(n_parts, F.col("centroid_id"))
                     .sortWithinPartitions("centroid_id"))
        if self._persisted:
            new_codes = new_codes.persist()
            n = new_codes.count()
        else:
            n = new_codes.count()
        old = self.codes
        self.codes = new_codes
        if self._persisted:
            old.unpersist()
        for part in self._delta_parts:
            part.unpersist()
        self._delta_parts = []
        deleted = len(self._tombstones)
        merged_rows = len(self._delta_ids)
        self._delta, self._delta_ids, self._tombstones = None, set(), set()
        self._superseded = set()
        # drop driver-side serving caches: segments are re-pinned
        # (possibly into the SAME dir) and the delta is folded in
        self._mut_ver += 1
        self._drv = None
        self._drv_delta = None
        self._main_ids_sorted = None
        self._cellf32 = {}
        self._cellf32_bytes = 0
        was_pinned = self._segments is not None
        if was_pinned:
            import shutil

            old_dir = self._segments[0]
            was_tmp = self._seg_tmp
            was_decoded = getattr(self, "_seg_decoded", False)
            self._segments = None
            self._seg_cells = None
            self._seg_rows = None
            self._seg_tmp = False
            # wipe stale segment files (partition count may shrink)
            shutil.rmtree(old_dir, ignore_errors=True)
            self.pin_segments(None if was_tmp else old_dir,
                              decoded=was_decoded)
        self.n_main = n
        return {"merged_rows": merged_rows, "deleted": deleted,
                "main_rows": n, "repinned_segments": was_pinned}

    def incremental_stats(self) -> dict:
        """incremental.rs:207 IncrementalStats."""
        main = self.n_main if self.n_main is not None else self.codes.count()
        total = main + len(self._delta_ids) + self._local_n
        return {
            "main_rows": main,
            "delta_rows": len(self._delta_ids),
            "local_pending_rows": self._local_n,
            "deleted_pending": len(self._tombstones),
            "fragmentation": len(self._tombstones) / total if total else 0.0,
        }

    def needs_optimization(self, delta_threshold: int = 10_000,
                           max_fragmentation: float = 0.2) -> bool:
        """incremental.rs:624: merge when the delta outgrows its brute
        regime or tombstones fragment the main table."""
        s = self.incremental_stats()
        return (s["delta_rows"] >= delta_threshold
                or s["fragmentation"] >= max_fragmentation)

    def unpersist(self) -> None:
        if self._persisted:
            self.codes.unpersist()
        for part in self._delta_parts:  # the persisted delta blocks
            part.unpersist()
        self._delta_parts = []
        if self._delta is not None:
            self._delta.unpersist()
        self._drv = None
        self._drv_delta = None
        self._cellf32 = {}
        self._cellf32_bytes = 0
        if self._segments is not None and self._seg_tmp:
            import shutil

            shutil.rmtree(self._segments[0], ignore_errors=True)
            self._segments = None
            self._seg_cells = None
            self._seg_rows = None
