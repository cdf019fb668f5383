"""Flat exact serving tier (plans/flat.py) — VERDICT r6 ask #2.

Pins: exact parity with a float64 brute-force oracle on every metric,
on BOTH kernel paths (direct argpartition and sampled-threshold), with
and without where-filters; tie determinism; DataFrame pinning parity;
and the auto-tier rule's calibration on the ANN twins.
"""

import numpy as np
import pandas as pd
import pytest

from needle_spark.plans.flat import FlatKnnIndex
from needle_spark.plans.tuning import (
    FLAT_TIER_RC_CUTOFF, recommend_ann_tier, relative_contrast,
)

RNG = np.random.default_rng(7)
N, D, Q, K = 5000, 32, 17, 5
X = RNG.standard_normal((N, D)).astype(np.float32)
IDS = RNG.permutation(N * 3)[:N]          # non-contiguous ids
QUERIES = RNG.standard_normal((Q, D))
METAS = {"grp": RNG.integers(0, 4, N)}


def brute(metric, wm=None, k=K):
    t = X.astype(np.float64)
    q = QUERIES.astype(np.float64)
    if metric == "cosine":
        t = t / np.linalg.norm(t, axis=1, keepdims=True)
        q = q / np.linalg.norm(q, axis=1, keepdims=True)
        dist = 1 - q @ t.T
    elif metric == "dot":
        dist = -(q @ t.T)
    else:
        dist = np.sqrt(np.maximum(
            (q * q).sum(1)[:, None] - 2 * q @ t.T + (t * t).sum(1)[None],
            0))
    if wm is not None:
        dist = np.where(wm[None, :], dist, np.inf)
    out = []
    for i in range(Q):
        order = np.lexsort((IDS, dist[i]))[:k]
        out.append(([int(IDS[j]) for j in order],
                    [dist[i, j] for j in order]))
    return out


def check_parity(idx, metric, where=None, wm=None):
    res = idx.search_many_local((list(range(Q)), QUERIES), k=K,
                                where=where)
    exp = brute(metric, wm)
    for i in range(Q):
        got = res[res.query_id == i]
        assert list(got["id"]) == exp[i][0], (metric, i)
        assert np.allclose(got["distance"], exp[i][1], atol=1e-4)
        assert list(got["rank"]) == list(range(1, len(got) + 1))


@pytest.mark.parametrize("metric", ["cosine", "dot", "euclidean"])
def test_direct_path_parity(metric):
    idx = FlatKnnIndex(IDS, X, metric=metric, metas=METAS)
    check_parity(idx, metric)
    check_parity(idx, metric, where={"grp": 2}, wm=METAS["grp"] == 2)
    idx.unpersist()


@pytest.mark.parametrize("metric", ["cosine", "dot", "euclidean"])
def test_threshold_path_parity(metric, monkeypatch):
    # force the sampled-threshold kernel (normally >= 200k rows)
    monkeypatch.setattr(FlatKnnIndex, "THRESHOLD_MIN_ROWS", 100)
    idx = FlatKnnIndex(IDS, X, metric=metric, metas=METAS)
    check_parity(idx, metric)
    check_parity(idx, metric, where={"grp": 2}, wm=METAS["grp"] == 2)
    # range-op where on the threshold path too
    wm = (METAS["grp"] >= 1) & (METAS["grp"] <= 2)
    check_parity(idx, metric, where={"grp": {"$gte": 1, "$lte": 2}},
                 wm=wm)
    idx.unpersist()


def test_threshold_fallback_under_k(monkeypatch):
    """A where-filter matching fewer rows than the threshold expects
    exercises the <k-survivors fallback; results must stay exact."""
    monkeypatch.setattr(FlatKnnIndex, "THRESHOLD_MIN_ROWS", 100)
    # 12 matching rows, k=5: the sampled threshold sees almost no
    # matching rows, so most queries take the per-query fallback
    metas = {"grp": np.where(np.arange(N) % 417 == 0, 9, 0)}
    idx = FlatKnnIndex(IDS, X, metric="cosine", metas=metas)
    res = idx.search_many_local((list(range(Q)), QUERIES), k=K,
                                where={"grp": 9})
    wm = metas["grp"] == 9
    exp = brute("cosine", wm)
    for i in range(Q):
        got = res[res.query_id == i]
        assert list(got["id"]) == exp[i][0]
    idx.unpersist()


def _coarse_paths():
    """The compiled coarse paths this host serves, with the sidecar
    attribute each one builds; skips without a C toolchain."""
    from needle_spark.plans.native import gemv_f16_kernel

    lib = gemv_f16_kernel()
    if lib is None:
        pytest.skip("no C toolchain in this environment")
    return [("f16", "_f16")] + ([("vnni", "_sq8")] if lib.has_vnni() else [])


@pytest.mark.parametrize("metric", ["cosine", "dot", "euclidean"])
def test_coarse_opt_in_path_parity(metric, monkeypatch):
    """path='f16' / path='vnni' route low-q searches through a compiled
    coarse cut + exact re-rank; with fetch covering most of this small
    corpus the result must match brute force exactly, filtered too, and
    distances are exact by construction (float32 re-rank).  The default
    path never builds either sidecar."""
    monkeypatch.setattr(FlatKnnIndex, "THRESHOLD_MIN_ROWS", 100)
    idx = FlatKnnIndex(IDS, X, metric=metric, metas=METAS)
    exp = brute(metric)
    expf = brute(metric, METAS["grp"] == 2)
    for path, sidecar in _coarse_paths():
        for qi in (0, 3):
            res = idx.search_many_local(([0], QUERIES[qi:qi + 1]), k=K,
                                        path=path)
            assert list(res["id"]) == exp[qi][0], (metric, path, qi)
            assert np.allclose(res["distance"], exp[qi][1], atol=1e-4)
        # default path never builds the sidecar
        assert getattr(idx, sidecar) is not None
        setattr(idx, sidecar, None)
        res = idx.search_many_local(([0], QUERIES[:1]), k=K)
        assert list(res["id"]) == exp[0][0]
        assert getattr(idx, sidecar) is None
        # filtered coarse
        res = idx.search_many_local(([0], QUERIES[:1]), k=K,
                                    where={"grp": 2}, path=path)
        assert list(res["id"]) == expf[0][0], (metric, path)
    idx.unpersist()


def test_coarse_under_k_fallback(monkeypatch):
    """A filter so selective the coarse threshold keeps fewer than k
    survivors must fall back to the exact per-query column scan
    (_rerank_exact): 12 matching rows and k=12, while the cut always
    drops at least the lowest-scoring one."""
    monkeypatch.setattr(FlatKnnIndex, "THRESHOLD_MIN_ROWS", 5)
    calls = []
    rerank = FlatKnnIndex._rerank_exact
    monkeypatch.setattr(FlatKnnIndex, "_rerank_exact",
                        lambda self, *a: calls.append(1) or rerank(self, *a))
    metas = {"grp": np.where(np.arange(N) % 417 == 0, 9, 0)}
    idx = FlatKnnIndex(IDS, X, metric="cosine", metas=metas)
    exp = brute("cosine", metas["grp"] == 9, k=12)
    for path, _sidecar in _coarse_paths():
        res = idx.search_many_local(([0], QUERIES[:1]), k=12,
                                    where={"grp": 9}, path=path)
        assert calls, path  # the coarse path ran, not the exact scan
        calls.clear()
        assert list(res["id"]) == exp[0][0], path
        assert np.allclose(res["distance"], exp[0][1], atol=1e-4)
    idx.unpersist()


@pytest.mark.parametrize("path", ["coarse", "bin", "bogus"])
def test_unknown_path_rejected(path):
    """Only exact/f16/vnni are served; any other path raises rather
    than silently serving the exact scan."""
    idx = FlatKnnIndex(IDS, X, metric="cosine")
    with pytest.raises(ValueError, match="path must be one of"):
        idx.search_many_local(([0], QUERIES[:1]), k=K, path=path)
    with pytest.raises(ValueError, match="path must be one of"):
        idx.search_one(QUERIES[0], k=K, path=path)


def test_k_larger_than_corpus():
    idx = FlatKnnIndex(IDS[:3], X[:3], metric="cosine")
    r = idx.search_one(QUERIES[0], k=10)  # [(id, dist), ...] like IVF
    assert len(r) == 3
    assert [d for _, d in r] == sorted(d for _, d in r)


def test_empty_where_result():
    idx = FlatKnnIndex(IDS, X, metric="cosine", metas=METAS)
    res = idx.search_many_local((list(range(Q)), QUERIES), k=K,
                                where={"grp": 99})
    assert len(res) == 0


def test_where_without_metas_raises():
    idx = FlatKnnIndex(IDS, X, metric="cosine")
    with pytest.raises(ValueError, match="meta columns"):
        idx.search_many_local(([0], QUERIES[:1]), k=K, where={"grp": 1})


def test_unknown_metric_rejected():
    with pytest.raises(ValueError, match="unsupported metric"):
        FlatKnnIndex(IDS, X, metric="hamming")


def test_deterministic_across_calls():
    idx = FlatKnnIndex(IDS, X, metric="cosine")
    a = idx.search_many_local((list(range(Q)), QUERIES), k=K)
    b = idx.search_many_local((list(range(Q)), QUERIES), k=K)
    pd.testing.assert_frame_equal(a, b)
    idx.unpersist()


def test_from_df_parity(spark):
    rows = [(int(IDS[i]), [float(v) for v in X[i]], int(METAS["grp"][i]))
            for i in range(300)]
    df = spark.createDataFrame(rows, "id long, vector array<float>, "
                                     "grp int")
    idx = FlatKnnIndex.from_df(df, vector_col="vector", id_col="id",
                               metric="cosine", meta_cols=["grp"])
    twin = FlatKnnIndex(IDS[:300], X[:300], metric="cosine",
                        metas={"grp": METAS["grp"][:300]})
    a = idx.search_many_local((list(range(Q)), QUERIES), k=K)
    b = twin.search_many_local((list(range(Q)), QUERIES), k=K)
    assert list(a["id"]) == list(b["id"])
    a = idx.search_many_local((list(range(Q)), QUERIES), k=K,
                              where={"grp": 2})
    b = twin.search_many_local((list(range(Q)), QUERIES), k=K,
                               where={"grp": 2})
    assert list(a["id"]) == list(b["id"])
    idx.unpersist()
    twin.unpersist()


def test_ivf_serving_frame_shape_matches():
    """The flat tier is drop-in for IvfBatchKnnIndex serving: same
    column names, same ordering contract."""
    idx = FlatKnnIndex(IDS, X, metric="cosine", id_col="vec_id")
    res = idx.search_many_local((list(range(2)), QUERIES[:2]), k=3)
    assert list(res.columns) == ["query_id", "vec_id", "distance",
                                 "rank"]
    assert res.groupby("query_id")["distance"].apply(
        lambda s: (s.diff().dropna() >= -1e-12).all()).all()


# -- auto-tier rule -------------------------------------------------

def test_relative_contrast_separates_twins():
    from needle_spark.plans.ann_datasets import glove_like, sift_like

    tr, q = glove_like(20_000, n_queries=25)
    rc_glove = relative_contrast(tr, q, "cosine")
    tr, q = sift_like(20_000, n_queries=25)
    rc_sift = relative_contrast(tr, q, "euclidean")
    assert rc_glove < FLAT_TIER_RC_CUTOFF < rc_sift


def test_recommend_ann_tier():
    from needle_spark.plans.ann_datasets import glove_like, sift_like

    tr, q = glove_like(20_000, n_queries=25)
    assert recommend_ann_tier(tr, q, "cosine")["tier"] == "flat"
    tr, q = sift_like(20_000, n_queries=25)
    assert recommend_ann_tier(tr, q, "euclidean")["tier"] == "ivf"


def test_recommend_ann_codes():
    """Measured code-tier rule: after the decoded-norm consistency fix
    (plans/ivf.py round 8) sq8_cell clears 0.95 on all three ANN twins
    — fashion-like included (real-index recall 0.994, was 0.902) — so
    the sample-SQ8 measurement recommends sq8_cell there; a corpus
    whose per-dim ranges are outlier-stretched (step >> neighbor
    margin) must flip to float32 codes."""
    from needle_spark.plans.ann_datasets import fashion_like, sift_like
    from needle_spark.plans.tuning import recommend_ann_codes

    tr, q = fashion_like(8_000, n_queries=20)
    r = recommend_ann_codes(tr, q, "euclidean")
    assert r["codes"] == "sq8_cell" and r["sq8_sample_recall"] >= 0.95
    assert r["refine"] is False
    tr, q = sift_like(8_000, n_queries=20)
    assert recommend_ann_codes(tr, q, "euclidean")["codes"] == "sq8_cell"
    rng = np.random.default_rng(0)
    t = rng.standard_normal((4_000, 32))
    t[:4] *= 1000  # outliers stretch every dim's range ~1000x
    q2 = rng.standard_normal((20, 32))
    r = recommend_ann_codes(t, q2, "euclidean")
    assert r["codes"] == "float32" and r["sq8_sample_recall"] < 0.5
    # even the refine simulation cannot rescue a collapsed quantized
    # ordering: a factor-4 cut loses the true neighbors outright
    assert r["refine"] is False and r["refined_sample_recall"] < 0.5
    # the middle band (SQ8 recall under target, but the quantized
    # ordering still CUTS reliably): serve quantized codes + the
    # exact-refine sidecar instead of escalating to 4x-resident
    # float32 codes
    t = rng.standard_normal((4_000, 32))
    t[:4] *= 30  # moderate range stretch: sq8 ~0.85-0.93 on a sample
    r = recommend_ann_codes(t, q2, "euclidean")
    assert r["codes"] == "sq8_cell" and r["refine"] is True
    assert r["sq8_sample_recall"] < 0.95
    assert r["refined_sample_recall"] >= 0.95


def test_recommend_ann_codes_budget_picks_pq():
    """Capacity-constrained code rule: a byte budget below SQ8's
    dim-bytes/row fits PQ at the budgeted subspace count, simulates
    the PQ+refine serving path on the sample, and returns the smallest
    refine factor clearing the target (measured, not guessed)."""
    from needle_spark.plans.ann_datasets import sift_like
    from needle_spark.plans.tuning import recommend_ann_codes

    tr, q = sift_like(8_000, n_queries=20)
    r = recommend_ann_codes(tr, q, "euclidean", budget_bytes_per_row=16)
    assert r["codes"] == "pq" and r["pq_m"] == 16 and r["refine"] is True
    assert r["refine_factor"] in (4, 16, 32, 64, 128)
    assert r["refined_sample_recall"] >= 0.95
    # budget >= dim: the budget is not binding, the normal rule runs
    r2 = recommend_ann_codes(tr, q, "euclidean",
                             budget_bytes_per_row=128)
    assert r2["codes"] == "sq8_cell"


def test_recommend_ann_codes_budget_blocks_float32():
    """ADVICE r8: a budget in [dim, 4*dim) must never be answered with
    float32 codes (4*dim B/row).  The outlier-stretched corpus that
    normally escalates to float32 instead stays on SQ8 + a widened
    refine cut, or reports the measured ceiling — either way the
    recommendation respects the stated capacity."""
    from needle_spark.plans.tuning import recommend_ann_codes

    rng = np.random.default_rng(0)
    t = rng.standard_normal((4_000, 32))
    t[:4] *= 1000  # collapses the quantized ordering (float32 corpus)
    q = rng.standard_normal((20, 32))
    r = recommend_ann_codes(t, q, "euclidean")
    assert r["codes"] == "float32"  # unbudgeted rule escalates
    # budget 64 B/row: dim(32) <= 64 < 4*dim(128) — float32 is out
    rb = recommend_ann_codes(t, q, "euclidean", budget_bytes_per_row=64)
    assert rb["codes"] == "sq8_cell" and rb["refine"] is True
    assert "budget" in rb["reason"]
    # the wide-refine rescue on a CUT-able corpus inside the same band
    t2 = rng.standard_normal((4_000, 32))
    t2[:4] *= 30
    rb2 = recommend_ann_codes(t2, q, "euclidean", budget_bytes_per_row=64)
    assert rb2["codes"] == "sq8_cell" and rb2["refine"] is True
    assert rb2["refined_sample_recall"] >= 0.95


def test_f16_path_matches_exact_and_degrades_gracefully():
    """path='f16' (VERDICT r8 #4): the compiled half-precision coarse
    pass must return the SAME ids and EXACT distances as the f32 scan
    (the f16 resolution only cuts candidates; survivors re-rank
    against the f32 matrix), and a missing toolchain must fall back to
    the exact scan, not crash."""
    from unittest import mock

    from needle_spark.plans import native
    from needle_spark.plans.flat import FlatKnnIndex

    rng = np.random.default_rng(44)
    n, d = 260_000, 32  # above THRESHOLD_MIN_ROWS -> coarse-eligible
    centers = rng.standard_normal((32, d))
    X = (centers[rng.integers(0, 32, n)]
         + 0.2 * rng.standard_normal((n, d))).astype(np.float32)
    for metric in ("cosine", "euclidean"):
        idx = FlatKnnIndex(np.arange(n, dtype=np.int64), X, metric=metric)
        try:
            if not idx.enable_f16():
                pytest.skip("no C toolchain in this environment")
            for qi in (1, 7, 13):
                q = X[qi * 31].astype(np.float64)
                exact = idx.search_one(q, k=10)
                f16 = idx.search_one(q, k=10, path="f16")
                assert [i for i, _ in f16] == [i for i, _ in exact], metric
                assert np.allclose([dd for _, dd in f16],
                                   [dd for _, dd in exact], atol=1e-6)
            # toolchain-absent fallback: routes to the exact scan
            with mock.patch.object(native, "_cache", {"lib": None}):
                assert idx.enable_f16() is False
                got = idx.search_one(X[5].astype(np.float64), k=10,
                                     path="f16")
                assert len(got) == 10
        finally:
            pass


def test_f16_sidecar_invalidated_by_writes():
    """Review r9: add_local must drop the f16 sidecar like it drops
    _sq8 — a stale half-precision matrix would silently omit new rows
    from path='f16' results (and index out of bounds under filters)."""
    from needle_spark.plans.flat import FlatKnnIndex

    rng = np.random.default_rng(45)
    n, d = 210_000, 16
    X = rng.standard_normal((n, d)).astype(np.float32)
    idx = FlatKnnIndex(np.arange(n, dtype=np.int64), X, metric="cosine")
    if not idx.enable_f16():
        pytest.skip("no C toolchain in this environment")
    q = rng.standard_normal(d)
    idx.search_one(q, k=5, path="f16")  # builds + uses the sidecar
    nv = (q / np.linalg.norm(q)).astype(np.float32)  # exact hit
    idx.add_local([n + 1], nv[None, :])
    got = idx.search_one(q, k=5, path="f16")
    assert got[0][0] == n + 1  # the new row wins rank 1 via f16 path
    idx.unpersist()
    assert idx._f16 is None


def test_f16_declined_on_out_of_range_data():
    """ADVICE r9: enable_f16 cast to float16 with no finite-range
    guard — components with |x| > 65504 become inf (and NaN rows fail
    every threshold compare), silently dropping rows from path='f16'
    results despite the exact-rerank membership contract.  Such data
    must DECLINE the sidecar; path='f16' then serves the exact scan."""
    from needle_spark.plans.flat import FlatKnnIndex

    rng = np.random.default_rng(46)
    n, d = 1000, 8
    X = rng.standard_normal((n, d)).astype(np.float32)
    X[7, 3] = 70000.0  # overflows f16
    idx = FlatKnnIndex(np.arange(n, dtype=np.int64), X,
                       metric="euclidean")
    assert idx.enable_f16() is False or idx._f16 is None
    assert idx._f16 is None
    got = idx.search_one(X[7].astype(np.float64), k=3, path="f16")
    assert got[0][0] == 7  # exact fallback still finds the row

    Xn = X.copy()
    Xn[7, 3] = np.nan
    idx2 = FlatKnnIndex(np.arange(n, dtype=np.int64),
                        np.nan_to_num(Xn, nan=0.0), metric="euclidean")
    idx2._X[3, 2] = np.nan  # post-hoc NaN (euclidean keeps raw X)
    assert idx2.enable_f16() is False or idx2._f16 is None
    assert idx2._f16 is None


def test_recommended_single_path_canary_gate():
    """r9 ask #7: the startup A/B flips the serving path ONLY in a
    clean canary window; a dirty window keeps 'exact' and says so,
    and the decision carries the measurements either way."""
    from unittest import mock

    from needle_spark.plans.flat import FlatKnnIndex

    rng = np.random.default_rng(47)
    n, d = 260_000, 32
    X = rng.standard_normal((n, d)).astype(np.float32)
    idx = FlatKnnIndex(np.arange(n, dtype=np.int64), X, metric="cosine")

    # dirty window: no probing at all, safe default
    with mock.patch.object(FlatKnnIndex, "_host_canary_ms",
                           staticmethod(lambda: 5000.0)):
        dec = idx.recommended_single_path()
    assert dec["path"] == "exact" and "dirty" in dec["reason"]
    assert "sample_ms" not in dec

    # clean window: measured decision with per-path sample timings
    with mock.patch.object(FlatKnnIndex, "_host_canary_ms",
                           staticmethod(lambda: 10.0)):
        dec = idx.recommended_single_path(sample_q=8)
    assert dec["path"] in dec["sample_ms"]
    assert "exact" in dec["sample_ms"]
    assert dec["sample_ms"][dec["path"]] == min(dec["sample_ms"].values())

    # window turns dirty mid-probe: measurements kept, flip refused
    vals = iter([10.0, 9000.0])
    with mock.patch.object(FlatKnnIndex, "_host_canary_ms",
                           staticmethod(lambda: next(vals))):
        dec = idx.recommended_single_path(sample_q=8)
    assert dec["path"] == "exact" and "mid-probe" in dec["reason"]


def test_vnni_path_matches_exact():
    """path='vnni' (int8-arithmetic coarse + exact re-rank): ids pinned
    equal to the exact scan on a clustered corpus; toolchain-absent
    hosts fall back to the exact scan."""
    from unittest import mock

    from needle_spark.plans import native
    from needle_spark.plans.flat import FlatKnnIndex

    rng = np.random.default_rng(48)
    n, d = 260_000, 32
    centers = rng.standard_normal((32, d))
    X = (centers[rng.integers(0, 32, n)]
         + 0.2 * rng.standard_normal((n, d))).astype(np.float32)
    for metric in ("cosine", "dot", "euclidean"):
        idx = FlatKnnIndex(np.arange(n, dtype=np.int64), X, metric=metric)
        if not idx.enable_vnni():
            pytest.skip("no VNNI toolchain in this environment")
        Q = np.asarray([X[i * 31].astype(np.float64) for i in range(12)])
        ids = list(range(12))
        exact = idx.search_many_local((ids, Q), k=10, path="exact")
        vn = idx.search_many_local((ids, Q), k=10, path="vnni")
        for qid in ids:
            e = set(exact[exact.query_id == qid][idx.id_col])
            v = set(vn[vn.query_id == qid][idx.id_col])
            assert e == v, (metric, qid)
    # toolchain-absent: enable_vnni False, path falls back to exact
    idx2 = FlatKnnIndex(np.arange(n, dtype=np.int64), X, metric="cosine")
    with mock.patch.object(native, "_cache", {"lib": None}):
        assert idx2.enable_vnni() is False
        got = idx2.search_one(X[5].astype(np.float64), k=10,
                              path="vnni")
        assert len(got) == 10
