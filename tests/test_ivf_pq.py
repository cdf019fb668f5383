"""IVF-PQ code tier (plans/ivf.py code_dtype='pq').

The reference's PQ variant (src/indexing/quantization.rs:300+ Product
Quantizer — per-subspace codebooks, encode/decode; paired with the
coarse-then-exact-rerank of src/collection/search_methods.rs:146-177).
Spark-first shape: codes are 1 byte per subspace (dim/m x smaller than
SQ8), ADC scoring via a per-query (m, 256) LUT built once per batch
and shared across cells, and the exact-refine sidecar buys back the
recall the coarse codes give up — the capacity tier for corpora whose
codes must fit in RAM at 100 TB.

Contract under test:

- PQ + refine at full probe with a cell-sized overfetch EQUALS the
  float64 brute-force oracle (ids, order, distances to 1e-5) for all
  three metrics — quantization can only CUT rows that the exact
  re-rank restores;
- every serving tier agrees (search_one / search_many_local /
  search_local / distributed search);
- the incremental surface (add_local + WAL replay) encodes with the
  same codebooks and stays exact under refine;
- codes are genuinely m bytes per row; pq_m must divide dim.
"""

import numpy as np
import pandas as pd
import pytest

from needle_spark.plans.ivf import IvfBatchKnnIndex

DIM = 32
N = 2000


def _corpus(seed=11):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((16, DIM))
    V = (centers[rng.integers(0, 16, N)]
         + 0.3 * rng.standard_normal((N, DIM))).astype(np.float32)
    return V, rng


def _brute(V, q, metric, k=10, subset=None):
    idxs = np.arange(len(V)) if subset is None else np.asarray(subset)
    X = V[idxs].astype(np.float64)
    q = np.asarray(q, dtype=np.float64)
    if metric == "cosine":
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        D = 1.0 - Xn @ (q / np.linalg.norm(q))
    elif metric == "dot":
        D = -(X @ q)
    else:
        D = np.sqrt(((X - q) ** 2).sum(axis=1))
    order = np.lexsort((idxs, D))[:k]
    return [(int(idxs[j]), float(D[j])) for j in order]


def _df(spark, V, ids=None):
    ids = np.arange(len(V)) if ids is None else ids
    return spark.createDataFrame(pd.DataFrame(
        {"id": ids, "vector": [v.tolist() for v in V]}))


@pytest.mark.parametrize("metric", ["cosine", "euclidean", "dot"])
def test_pq_refine_full_probe_equals_brute_force(spark, metric):
    V, rng = _corpus()
    idx = IvfBatchKnnIndex(_df(spark, V), nlist=8, vector_col="vector",
                           id_col="id", metric=metric, seed=1,
                           code_dtype="pq", pq_m=8,
                           refine=True, refine_factor=N)
    idx.pin_segments()
    try:
        assert idx._code_width == 8  # 8 bytes/row vs 32 for SQ8
        for _ in range(3):
            q = rng.standard_normal(DIM) * 2
            want = _brute(V, q, metric)
            got = idx.search_one(q, k=10, nprobe=idx.nlist)
            assert [g[0] for g in got] == [w[0] for w in want]
            assert all(abs(g[1] - w[1]) < 1e-5
                       for g, w in zip(got, want))
    finally:
        idx.unpersist()


def test_pq_tiers_agree(spark):
    V, rng = _corpus()
    idx = IvfBatchKnnIndex(_df(spark, V), nlist=8, vector_col="vector",
                           id_col="id", metric="euclidean", seed=1,
                           code_dtype="pq", pq_m=8,
                           refine=True, refine_factor=N)
    idx.pin_segments()
    try:
        Q = rng.standard_normal((4, DIM)) * 2
        q_ids = list(range(4))
        many = idx.search_many_local((q_ids, Q), k=10, nprobe=idx.nlist)
        local = idx.search_local((q_ids, Q), k=10, nprobe=idx.nlist)
        dist = idx.search((q_ids, Q), k=10, nprobe=idx.nlist).toPandas() \
            .sort_values(["query_id", "rank"], ignore_index=True)
        for qi in q_ids:
            want = _brute(V, Q[qi], "euclidean")
            for pdf in (many, local, dist):
                rows = pdf[pdf.query_id == qi].sort_values("rank")
                assert list(rows.id) == [w[0] for w in want]
                assert np.allclose(rows.distance, [w[1] for w in want],
                                   atol=1e-5)
    finally:
        idx.unpersist()


def test_pq_unrefined_is_approximate_but_served(spark):
    """Without refine PQ is honestly lossy: results come back (the
    quantized ordering serves) but need not equal exact — pinned so a
    future change can't silently make unrefined PQ pretend exactness."""
    V, rng = _corpus()
    idx = IvfBatchKnnIndex(_df(spark, V), nlist=8, vector_col="vector",
                           id_col="id", metric="euclidean", seed=1,
                           code_dtype="pq", pq_m=4)
    idx.pin_segments()
    try:
        hits = 0
        for i in range(10):
            q = V[i * 7].astype(np.float64)
            got = {g[0] for g in idx.search_one(q, k=10, nprobe=idx.nlist)}
            assert len(got) == 10
            hits += len(got & {w[0] for w in _brute(V, q, "euclidean")})
        # 4-byte codes on 32-d: recall well below 1 but far above random
        assert 10 <= hits <= 95
    finally:
        idx.unpersist()


def test_pq_incremental_and_wal(spark, tmp_path):
    V, rng = _corpus()
    seg = str(tmp_path / "segs")
    idx = IvfBatchKnnIndex(_df(spark, V[:N - 50]), nlist=8,
                           vector_col="vector", id_col="id",
                           metric="cosine", seed=1, code_dtype="pq",
                           pq_m=8, refine=True, refine_factor=N)
    idx.pin_segments(seg)
    idx.add_local(np.arange(N - 50, N), V[N - 50:])
    q = V[N - 5] + 0.01 * rng.standard_normal(DIM).astype(np.float32)
    want = _brute(V, q, "cosine")
    got = idx.search_one(q, k=10, nprobe=idx.nlist)
    assert [g[0] for g in got] == [w[0] for w in want]
    # crash replay: a fresh index over the same main re-pins the dir
    idx2 = IvfBatchKnnIndex(_df(spark, V[:N - 50]), nlist=8,
                            vector_col="vector", id_col="id",
                            metric="cosine", seed=1, code_dtype="pq",
                            pq_m=8, refine=True, refine_factor=N)
    idx2.pin_segments(seg)
    try:
        assert idx2._local_n == 50
        got2 = idx2.search_one(q, k=10, nprobe=idx2.nlist)
        assert [g[0] for g in got2] == [w[0] for w in want]
    finally:
        idx.unpersist()
        idx2.unpersist()


def test_pq_m_validation(spark):
    V, _ = _corpus()
    with pytest.raises(ValueError, match="divide"):
        IvfBatchKnnIndex(_df(spark, V[:100]), nlist=4,
                         vector_col="vector", id_col="id",
                         code_dtype="pq", pq_m=5)


def test_pq_small_sample_codebook_pads(spark):
    """ADVICE r8: _kmeans_fit returns min(256, n) centroids, so a PQ
    build over a table whose fit sample has < 256 rows used to crash
    with a numpy broadcast ValueError.  The codebook now tiles to the
    full 256 entries and the build + search path works end-to-end."""
    rng = np.random.default_rng(3)
    V = rng.standard_normal((120, DIM)).astype(np.float32)  # < 256 rows
    idx = IvfBatchKnnIndex(_df(spark, V), nlist=2,
                           vector_col="vector", id_col="id",
                           metric="euclidean", seed=1,
                           code_dtype="pq", pq_m=8,
                           refine=True, refine_factor=64)
    idx.pin_segments()
    try:
        assert idx._pq.shape == (8, 256, DIM // 8)
        q = rng.standard_normal(DIM)
        got = [r[0] for r in idx.search_one(q, k=5, nprobe=2)]
        expect = [r[0] for r in _brute(V, q, "euclidean", k=5)]
        assert got == expect  # full probe + refine == brute force
    finally:
        idx.unpersist()


def test_pq_encode_np_matches_build_kernel(spark):
    """The driver-local encode (_encode_np, the add_local path) and the
    Arrow build kernel agree row for row on the PQ codes: same cell,
    same code bytes, same stored norm.  The stored nsq is the DECODED
    row's norm (asymmetric-distance consistency), and the decoded
    residual is closer to the true one than zero is."""
    V, _ = _corpus()
    idx = IvfBatchKnnIndex(_df(spark, V), nlist=8, vector_col="vector",
                           id_col="id", metric="euclidean", seed=1,
                           code_dtype="pq", pq_m=8)
    try:
        built = idx.codes.filter("id < 64").toPandas().sort_values("id")
        assign, nsq, codes, Vn = idx._encode_np(V[:64])
        assert (built["centroid_id"].to_numpy() == assign).all()
        assert [bytes(b) for b in built[idx.CODE_COL]] \
            == [c.tobytes() for c in codes]
        assert np.array_equal(built["norm_sq"].to_numpy(np.float32), nsq)
        books = np.ascontiguousarray(idx._pq, dtype=np.float32)
        ci = np.asarray(codes, dtype=np.int64)
        dec = books[np.arange(len(books))[None, :], ci].reshape(len(ci), DIM)
        res = Vn - idx.centroids[assign].astype(np.float32)
        assert np.linalg.norm(res - dec) / np.linalg.norm(res) < 0.9
        full = dec + idx.centroids[assign].astype(np.float32)
        assert np.allclose(nsq, (full.astype(np.float64) ** 2).sum(1),
                           rtol=1e-3)
    finally:
        idx.unpersist()
