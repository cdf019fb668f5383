"""Filtered single-query serving: `IvfBatchKnnIndex.search_one(where=)`.

A filtered search_one gathers the matching rows of every probed cell and
scores them in one vectorized pass (plans/ivf.py `_filtered_candidates`).
The contract under test:

- the ids equal filtered `search_many_local` (the batch path, which keeps
  its per-cell loop) at the same nprobe, with distances within float32
  rounding, on every code tier: sq8 (uint8 and decoded float32 segments),
  sq8_cell, float32, pq and the exact-refine tier;
- at full probe the answer is the filtered top-k of the tier: exact
  tiers equal the numpy brute force, quantized tiers equal the
  post-filtered unfiltered full-probe answer of the same index;
- delta rows (`add`, `add_local`), tombstones and superseded ids follow
  the unfiltered path's merge-on-read rules;
- no matching row gives [], an unpinned column raises ValueError, and
  the batch path is not called.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from needle_spark.plans.ivf import IvfBatchKnnIndex

DIM = 32
N_CLUSTERS = 20
PER_CLUSTER = 100
K = 10

WHERES = [
    {"label": 3},
    {"label": {"$eq": 7}},
    {"label": {"$in": [1, 4]}},
    {"label": {"$gte": 2, "$lt": 5}},
    {"label": {"$in": [1, 2, 3, 6]}, "tag": "t1"},
    {"tag": {"$in": ["t0", "t2"]}},
]


def _allowed(where, ids):
    label, tag = ids % 10, np.array([f"t{i % 4}" for i in ids])
    cols = {"label": label, "tag": tag}
    return IvfBatchKnnIndex._where_mask(cols, where)


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((N_CLUSTERS, DIM))
    pts = np.repeat(centers, PER_CLUSTER, axis=0) + 0.3 * rng.standard_normal(
        (N_CLUSTERS * PER_CLUSTER, DIM))
    pts = pts.astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]]) for i in range(len(pts))],
        "id long, vector array<float>",
    ).withColumn("label", (F.col("id") % 10).cast("int")) \
     .withColumn("tag", F.concat(F.lit("t"), (F.col("id") % 4).cast("string"))) \
     .repartition(4).persist()
    df.count()
    queries = centers[:6] + 0.2 * rng.standard_normal((6, DIM))
    yield df, pts, queries
    df.unpersist()


TIERS = {
    "sq8": dict(code_dtype="sq8"),
    "sq8_decoded": dict(code_dtype="sq8"),
    "sq8_cell": dict(code_dtype="sq8_cell"),
    "float32": dict(code_dtype="float32"),
    "pq": dict(code_dtype="pq", pq_m=8),
    "sq8_cell_refine": dict(code_dtype="sq8_cell", refine=True),
}
EXACT = {"float32", "sq8_cell_refine"}


def _index(df, tier, seg_dir, metric="euclidean"):
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, metric=metric, seed=3,
                           meta_cols=["label", "tag"], **TIERS[tier])
    idx.pin_segments(str(seg_dir), decoded=tier == "sq8_decoded")
    return idx


def _batch(idx, q, k, nprobe, where):
    pdf = idx.search_many_local(([0], np.asarray(q)[None, :]), k=k,
                                nprobe=nprobe, where=where)
    return [i.item() if hasattr(i, "item") else i
            for i in pdf[idx.id_col]], list(pdf["distance"])


def _assert_matches_batch(idx, queries, nprobe, wheres=WHERES, k=K):
    for where in wheres:
        for q in queries:
            got = idx.search_one(q, k=k, nprobe=nprobe, where=where)
            ids, dist = _batch(idx, q, k, nprobe, where)
            assert [i for i, _ in got] == ids, where
            np.testing.assert_allclose([d for _, d in got], dist,
                                       rtol=1e-5, atol=1e-6)


@pytest.mark.parametrize("tier", sorted(TIERS))
def test_filtered_search_one_matches_batch_and_brute_force(
        spark, corpus, tmp_path, tier):
    df, pts, queries = corpus
    idx = _index(df, tier, tmp_path / tier)
    try:
        _assert_matches_batch(idx, queries, nprobe=4)
        _assert_matches_batch(idx, queries, nprobe=N_CLUSTERS)
        P = pts.astype(np.float64)
        ids = np.arange(len(P))
        for where in WHERES:
            ok = _allowed(where, ids)
            for q in queries:
                got = idx.search_one(q, k=K, nprobe=N_CLUSTERS, where=where)
                got_ids = [i for i, _ in got]
                assert all(ok[i] for i in got_ids)
                if tier in EXACT:
                    d = np.sqrt(((P - q) ** 2).sum(axis=1))
                    want = ids[ok][np.argsort(d[ok], kind="stable")[:K]]
                    assert got_ids == want.tolist(), (tier, where)
                else:
                    # the quantized tier's own ranking, post-filtered
                    full = idx.search_one(q, k=len(P), nprobe=N_CLUSTERS)
                    want = [i for i, _ in full if ok[i]][:K]
                    assert got_ids == want, (tier, where)
    finally:
        idx.unpersist()


@pytest.mark.parametrize("tier", ["sq8_cell", "sq8_cell_refine", "pq"])
def test_filtered_search_one_merges_delta_tombstones_superseded(
        spark, corpus, tmp_path, tier):
    df, pts, queries = corpus
    idx = _index(df, tier, tmp_path / tier)
    try:
        q0 = queries[0]
        # add(): new rows next to q0 plus an upsert over live main id 5
        # (label 5): its main copy is superseded by the delta copy
        idx.add(spark.createDataFrame(
            [(90_003, [float(x) for x in q0], 3, "t3"),
             (90_004, [float(x) + 0.01 for x in q0], 4, "t0"),
             (5, [float(x) + 0.02 for x in q0], 5, "t1")],
            "id long, vector array<float>, label int, tag string"))
        # add_local(): a driver-buffered row with its own metadata
        idx.add_local([90_013], (q0 + 0.005)[None, :],
                      metas={"label": [3], "tag": ["t1"]})
        # tombstones: one main row and one delta row
        near = [i for i, _ in idx.search_one(q0, k=5, nprobe=N_CLUSTERS,
                                             where={"label": 3})]
        victim = next(i for i in near if i < 90_000)
        idx.delete([victim, 90_004])
        wheres = WHERES + [{"label": 5}, {"label": {"$in": [3, 4]}}]
        _assert_matches_batch(idx, queries, nprobe=4, wheres=wheres)
        _assert_matches_batch(idx, queries, nprobe=N_CLUSTERS,
                              wheres=wheres)
        got = [i for i, _ in idx.search_one(q0, k=5, nprobe=N_CLUSTERS,
                                            where={"label": 3})]
        assert 90_003 in got and 90_013 in got
        assert victim not in got
        got = [i for i, _ in idx.search_one(q0, k=5, nprobe=N_CLUSTERS,
                                            where={"label": 4})]
        assert 90_004 not in got
        # the upserted id is served once, from its new (delta) vector
        got = idx.search_one(q0, k=3, nprobe=N_CLUSTERS,
                             where={"label": 5})
        assert got[0][0] == 5 and [i for i, _ in got].count(5) == 1
        got = idx.search_one(q0, k=3, nprobe=N_CLUSTERS,
                             where={"tag": "t3"})
        assert got[0][0] == 90_003
    finally:
        idx.unpersist()


def test_filtered_search_one_edges_and_no_batch_detour(
        spark, corpus, tmp_path, monkeypatch):
    df, _, queries = corpus
    idx = _index(df, "sq8_cell", tmp_path / "edges", metric="cosine")
    try:
        q = queries[1]
        assert idx.search_one(q, k=K, nprobe=N_CLUSTERS,
                              where={"label": 99}) == []
        # id % 10 == 3 makes the id odd, so id % 4 is never 0
        assert idx.search_one(q, k=K, where={"label": 3, "tag": "t0"}) \
            == []
        with pytest.raises(ValueError, match="not pinned"):
            idx.search_one(q, k=3, where={"missing": 1})
        with pytest.raises(ValueError, match="not pinned"):
            idx.search_one(q, k=3, where={"label": 3, "missing": 1})
        want = idx.search_one(q, k=K, nprobe=8, where={"label": 2})

        def boom(*a, **kw):
            raise AssertionError("filtered search_one took the batch path")

        monkeypatch.setattr(IvfBatchKnnIndex, "search_many_local", boom)
        got = idx.search_one(q, k=K, nprobe=8, where={"label": 2})
        assert len(got) == K and got == want
        assert all(i % 10 == 2 for i, _ in got)
    finally:
        idx.unpersist()
