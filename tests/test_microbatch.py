"""Micro-batch queueing front (VERDICT r9 ask #1): concurrent singles
amortize the flat tier's DRAM pass through one batch kernel call."""

import threading
import time

import numpy as np
import pytest

from needle_spark.plans.flat import FlatKnnIndex
from needle_spark.plans.microbatch import (MicroBatchSearcher,
                                           poisson_load_run)


@pytest.fixture(scope="module")
def flat_idx():
    rng = np.random.default_rng(11)
    n, d = 50_000, 32
    X = rng.standard_normal((n, d)).astype(np.float32)
    return FlatKnnIndex(np.arange(n, dtype=np.int64), X,
                        metric="cosine"), X


def test_results_equal_search_one(flat_idx):
    """Every queued result must be IDENTICAL to the unqueued
    search_one — the front changes scheduling, never answers."""
    idx, X = flat_idx
    mb = MicroBatchSearcher(idx, k=10)
    try:
        qs = [X[i * 97].astype(np.float64) for i in range(20)]
        futs = [mb.submit(q) for q in qs]  # burst -> batched
        for q, f in zip(qs, futs):
            got = f.result(timeout=30)
            want = idx.search_one(q, k=10)
            assert [i for i, _ in got] == [i for i, _ in want]
            # f32 sgemm summation order differs between the GEMV and
            # batched shapes; ids are pinned equal, distances to ~1e-6
            assert np.allclose([d for _, d in got],
                               [d for _, d in want], atol=1e-5)
    finally:
        mb.close()


def test_burst_actually_batches(flat_idx):
    """A concurrent burst must form multi-query batches (the whole
    point); total batch-size mass equals the request count."""
    idx, X = flat_idx
    mb = MicroBatchSearcher(idx, k=5, window_ms=20.0, max_batch=16)
    try:
        qs = [X[i].astype(np.float64) for i in range(32)]
        futs = []
        threads = [threading.Thread(
            target=lambda q=q: futs.append(mb.submit(q))) for q in qs]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        for f in list(futs):
            assert len(f.result(timeout=30)) == 5
        assert sum(mb.batch_sizes) == 32
        assert max(mb.batch_sizes) > 1
    finally:
        mb.close()


def test_per_request_k_and_error_propagation(flat_idx):
    idx, X = flat_idx
    mb = MicroBatchSearcher(idx, k=10)
    try:
        got = mb.search(X[5].astype(np.float64), k=3)
        assert len(got) == 3
        # a malformed vector fails ITS future, not the dispatcher
        bad = mb.submit(np.ones(7))  # wrong dims
        with pytest.raises(Exception):
            bad.result(timeout=30)
        again = mb.search(X[9].astype(np.float64), k=2)
        assert len(again) == 2  # dispatcher survived
    finally:
        mb.close()


def test_close_rejects_new_work(flat_idx):
    idx, X = flat_idx
    mb = MicroBatchSearcher(idx, k=5)
    mb.close()
    with pytest.raises(RuntimeError):
        mb.submit(X[0])


def test_poisson_load_run_shape(flat_idx):
    """The load driver reports sane, internally-consistent stats."""
    idx, X = flat_idx
    mb = MicroBatchSearcher(idx, k=10)
    try:
        qs = [X[i * 31].astype(np.float64) for i in range(60)]
        rep = poisson_load_run(mb, qs, qps=500.0, k=10, warmup=4)
        assert rep["n"] == 60
        assert rep["p50_ms"] <= rep["p99_ms"]
        assert rep["mean_batch"] >= 1.0
        assert rep["achieved_qps"] > 0

        class StallOnce:
            """Delegates to the real front; the 10th submit blocks."""

            def __init__(self, inner, at=10, stall_s=0.4):
                self.inner, self.at, self.stall_s = inner, at, stall_s
                self.calls = 0

            def __getattr__(self, name):
                return getattr(self.inner, name)

            def submit(self, q, k=10):
                self.calls += 1
                if self.calls == self.at:
                    time.sleep(self.stall_s)
                return self.inner.submit(q, k=k)

        # the 50 requests due after the stalled one all fall due within
        # ~0.1 s at 500/s, i.e. while submit is blocked: timed from
        # their due time they carry most of the 0.4 s stall, so it
        # lands in the median, not only in the one stalled request
        rep = poisson_load_run(StallOnce(mb), qs, qps=500.0, k=10,
                               warmup=4)
        assert rep["p50_ms"] >= 200.0, rep
    finally:
        mb.close()


def test_gemm8_kernels_match_numpy():
    """Fused 8-query kernels (round 10): f16/vnni gemm8 variants and
    the threshold-bit variant reproduce the numpy reference on padded
    and remainder dims; skipped when no toolchain."""
    import pytest as _pytest

    from needle_spark.plans.native import gemv_f16_kernel

    lib = gemv_f16_kernel()
    if lib is None:
        _pytest.skip("no C toolchain in this environment")
    rng = np.random.default_rng(4)
    for d in (64, 200, 37):
        n, B = 500, 16
        X16 = rng.standard_normal((n, d)).astype(np.float16)
        U8 = rng.integers(0, 256, (n, d)).astype(np.uint8)
        Qf = np.ascontiguousarray(
            rng.standard_normal((B, d)), dtype=np.float32)
        Qc = np.ascontiguousarray(
            rng.integers(-127, 128, (B, d)), dtype=np.int8)
        out = np.empty((n, B), dtype=np.float32)
        lib.gemm8_f16(X16.ctypes.data, Qf.ctypes.data, out.ctypes.data,
                      0, n, d, B)
        assert np.allclose(out, X16.astype(np.float32) @ Qf.T,
                           rtol=1e-4, atol=1e-3)
        outi = np.empty((n, B), dtype=np.int32)
        lib.gemm8vnni_u8(U8.ctypes.data, Qc.ctypes.data,
                         outi.ctypes.data, 0, n, d, B)
        wanti = U8.astype(np.int64) @ Qc.astype(np.int64).T
        assert (outi.astype(np.int64) == wanti).all()
        # threshold-bit variant: bits == (dot > thr) exactly
        thr = np.ascontiguousarray(
            np.percentile(wanti, 95, axis=0).astype(np.int32))
        bits = np.empty((n, B // 8), dtype=np.uint8)
        lib.gemm8vnni_thr(U8.ctypes.data, Qc.ctypes.data,
                          thr.ctypes.data, bits.ctypes.data,
                          0, n, d, B)
        got = np.unpackbits(bits, axis=1, bitorder="little")[:, :B] \
            .astype(bool)
        assert (got == (wanti > thr.astype(np.int64)[None, :])).all()
        # r0 offset
        lib.gemm8vnni_u8(U8.ctypes.data, Qc.ctypes.data,
                         outi[:n - 100].ctypes.data, 100, n, d, B)
        assert (outi[:n - 100].astype(np.int64) == wanti[100:]).all()
