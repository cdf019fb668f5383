"""IVF + SQ8-residual batch serving (plans/ivf.py IvfBatchKnnIndex).

The reference serves batch ANN from an in-process index
(src/indexing/ivf.rs coarse quantizer + inverted lists; recall harness
src/recall_benchmark.rs).  Here the contract under test is:

- recall@10 >= 0.95 against the exact oracle on CLUSTERED data (the
  data shape ANN indexes are for) at a modest nprobe;
- at nprobe == nlist the only error left is SQ8 quantization (>= 0.98);
- the distributed `search` and driver-merge `search_local` agree;
- a partitionBy(centroid_id) layout turns the probe filter into real
  partition pruning (the 100 TB claim).
"""

from fractions import Fraction

import numpy as np
import pytest
from pyspark.sql import functions as F

from needle_spark.operators.knn_arrow import BatchKnnIndex
from needle_spark.plans.ivf import IvfBatchKnnIndex
from needle_spark.plans.planner import explain_text

DIM = 32
N_CLUSTERS = 20
PER_CLUSTER = 100


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((N_CLUSTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = np.repeat(centers, PER_CLUSTER, axis=0) + 0.15 * rng.standard_normal(
        (N_CLUSTERS * PER_CLUSTER, DIM))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]]) for i in range(len(pts))],
        "id long, vector array<float>",
    ).repartition(8).persist()
    df.count()
    queries = centers + 0.05 * rng.standard_normal(centers.shape)
    yield df, pts, queries
    df.unpersist()


def _recall(exact_pdf, approx_pdf, q_ids, k=10):
    """Recall@k as an exact rational: hits are counted as integers, so
    196 of 200 compares >= 0.98 without float summation error."""
    hits = 0
    for qid in q_ids:
        e = set(exact_pdf[exact_pdf.query_id == qid].id)
        a = set(approx_pdf[approx_pdf.query_id == qid].id)
        hits += len(e & a)
    return Fraction(hits, k * len(q_ids))


@pytest.fixture(scope="module")
def exact_top10(spark, clustered):
    df, _, queries = clustered
    q_ids = list(range(len(queries)))
    exact = BatchKnnIndex(df, vector_col="vector", id_col="id", metric="cosine")
    pdf = exact.search_local((q_ids, queries), k=10)
    exact.unpersist()
    return q_ids, pdf


def test_recall_clustered(spark, clustered, exact_top10):
    df, _, queries = clustered
    q_ids, exact_pdf = exact_top10
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=3)
    approx = idx.search_local((q_ids, queries), k=10, nprobe=4)
    assert _recall(exact_pdf, approx, q_ids) >= 0.95
    idx.unpersist()


def test_sq8_error_only_at_full_probe(spark, clustered, exact_top10):
    df, _, queries = clustered
    q_ids, exact_pdf = exact_top10
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=3)
    approx = idx.search_local((q_ids, queries), k=10, nprobe=idx.nlist)
    assert _recall(exact_pdf, approx, q_ids) >= 0.98
    idx.unpersist()


@pytest.mark.parametrize("metric", ["euclidean", "dot"])
def test_metrics_against_numpy(spark, clustered, metric):
    df, pts, queries = clustered
    q_ids = list(range(len(queries)))
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric=metric, seed=3)
    approx = idx.search_local((q_ids, queries), k=10, nprobe=idx.nlist)
    P = pts.astype(np.float32).astype(np.float64)
    hits = 0
    for qi in q_ids:
        q = queries[qi]
        if metric == "euclidean":
            d = np.linalg.norm(P - q, axis=1)
        else:
            d = -(P @ q)
        true10 = set(np.argsort(d, kind="stable")[:10].tolist())
        got = set(approx[approx.query_id == qi].id)
        hits += len(true10 & got)
    assert Fraction(hits, 10 * len(q_ids)) >= 0.95
    idx.unpersist()


def test_distributed_search_matches_local(spark, clustered):
    df, _, queries = clustered
    q_ids = list(range(len(queries)))
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=3)
    local = idx.search_local((q_ids, queries), k=5, nprobe=4)
    dist = idx.search((q_ids, queries), k=5, nprobe=4).toPandas()
    dist = dist.sort_values(["query_id", "rank"], ignore_index=True)
    local = local.sort_values(["query_id", "rank"], ignore_index=True)
    assert list(dist["id"]) == list(local["id"])
    assert np.allclose(dist["distance"], local["distance"], atol=1e-9)
    idx.unpersist()


def test_partitioned_layout_prunes(spark, clustered, tmp_path):
    df, _, queries = clustered
    q_ids = [0, 1]
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=3)
    path = str(tmp_path / "codes")
    idx.to_partitioned_parquet(path)
    at_rest = spark.read.parquet(path)

    union = idx.probe_union((q_ids, queries[:2]), nprobe=2)
    assert 0 < len(union) < idx.nlist
    pruned = at_rest.filter(F.col("centroid_id").isin(union))
    plan = explain_text(pruned.select("id"))
    assert "PartitionFilters" in plan and "centroid_id" in plan

    # search over the at-rest layout == search over the in-memory cache
    mem = idx.search_local((q_ids, queries[:2]), k=5, nprobe=2)
    rest = idx.search_local((q_ids, queries[:2]), k=5, nprobe=2, source=at_rest)
    assert list(mem["id"]) == list(rest["id"])
    idx.unpersist()


def test_pinned_segments_match_dataframe_path(spark, clustered, tmp_path):
    df, _, queries = clustered
    q_ids = list(range(len(queries)))
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=3)
    via_df = idx.search_local((q_ids, queries), k=10, nprobe=4)
    n = idx.pin_segments(str(tmp_path / "segments"))
    assert n == N_CLUSTERS * PER_CLUSTER
    via_seg = idx.search_local((q_ids, queries), k=10, nprobe=4)
    assert list(via_seg["id"]) == list(via_df["id"])
    assert np.allclose(via_seg["distance"], via_df["distance"], atol=1e-9)
    # distributed search also serves from segments once pinned
    via_seg_dist = idx.search((q_ids, queries), k=10, nprobe=4).toPandas()
    via_seg_dist = via_seg_dist.sort_values(["query_id", "rank"], ignore_index=True)
    assert list(via_seg_dist["id"]) == list(via_df["id"])
    idx.unpersist()


def test_empty_and_validation(spark):
    empty = spark.createDataFrame([], "id long, vector array<float>")
    with pytest.raises(ValueError, match="empty"):
        IvfBatchKnnIndex(empty, nlist=4, vector_col="vector", id_col="id")
    one = spark.createDataFrame([(1, [0.1, 0.2])], "id long, vector array<float>")
    with pytest.raises(ValueError, match="cosine"):
        IvfBatchKnnIndex(one, vector_col="vector", id_col="id", metric="hamming")


# ===================================================================
# Incremental maintenance (incremental.rs IncrementalIndex)
# ===================================================================

def test_incremental_add_serves_immediately(spark, clustered):
    df, pts, queries = clustered
    rng = np.random.default_rng(11)
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="euclidean", seed=1)
    try:
        # a brand-new point very close to query 0
        q0 = queries[0]
        new_vec = q0 + 0.001 * rng.standard_normal(DIM)
        delta = spark.createDataFrame(
            [(999_001, [float(x) for x in new_vec])],
            "id long, vector array<float>")
        assert idx.add(delta) == 1
        st = idx.incremental_stats()
        assert st["delta_rows"] == 1 and st["main_rows"] == len(pts)

        got = idx.search_local(([0], q0[None, :]), k=5, nprobe=N_CLUSTERS)
        assert got.iloc[0]["id"] == 999_001  # the new point wins rank 1
        # the distributed merge variant sees the delta too
        dist = idx.search(([0], q0[None, :]), k=5,
                          nprobe=N_CLUSTERS).toPandas()
        assert 999_001 in set(dist["id"])
    finally:
        idx.unpersist()


def test_incremental_delete_then_merge(spark, clustered):
    df, pts, queries = clustered
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="euclidean", seed=1)
    try:
        q0 = queries[0]
        before = idx.search_local(([0], q0[None, :]), k=5, nprobe=N_CLUSTERS)
        victim = int(before.iloc[0]["id"])
        idx.delete([victim])
        after = idx.search_local(([0], q0[None, :]), k=5, nprobe=N_CLUSTERS)
        assert victim not in set(after["id"])
        assert len(after) == 5  # over-fetch kept the page full

        st = idx.incremental_stats()
        assert st["deleted_pending"] == 1

        res = idx.merge_delta()
        assert res["deleted"] == 1
        assert res["main_rows"] == len(pts) - 1
        st2 = idx.incremental_stats()
        assert st2["deleted_pending"] == 0 and st2["delta_rows"] == 0
        merged = idx.search_local(([0], q0[None, :]), k=5, nprobe=N_CLUSTERS)
        assert victim not in set(merged["id"])
    finally:
        idx.unpersist()


def test_incremental_readd_revives_tombstone(spark, clustered):
    df, pts, queries = clustered
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="euclidean", seed=1)
    try:
        q0 = queries[0]
        before = idx.search_local(([0], q0[None, :]), k=3, nprobe=N_CLUSTERS)
        victim = int(before.iloc[0]["id"])
        idx.delete([victim])
        revive = spark.createDataFrame(
            [(victim, [float(x) for x in pts[victim]])],
            "id long, vector array<float>")
        idx.add(revive)
        assert idx.incremental_stats()["deleted_pending"] == 0
        got = idx.search_local(([0], q0[None, :]), k=3, nprobe=N_CLUSTERS)
        assert victim in set(got["id"])
    finally:
        idx.unpersist()


def test_incremental_merge_with_pinned_segments(spark, clustered):
    df, pts, queries = clustered
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="euclidean", seed=1)
    try:
        idx.pin_segments()
        q0 = queries[0]
        new_vec = q0 * 1.0
        idx.add(spark.createDataFrame(
            [(999_002, [float(x) for x in new_vec])],
            "id long, vector array<float>"))
        # delta merges into the pinned path too (segments + delta pass)
        got = idx.search_local(([0], q0[None, :]), k=3, nprobe=N_CLUSTERS)
        assert 999_002 in set(got["id"])
        res = idx.merge_delta()
        assert res["repinned_segments"] is True
        got2 = idx.search_local(([0], q0[None, :]), k=3, nprobe=N_CLUSTERS)
        assert 999_002 in set(got2["id"])
        assert idx.incremental_stats()["main_rows"] == len(pts) + 1
    finally:
        idx.unpersist()


def test_needs_optimization_thresholds(spark, clustered):
    df, pts, _ = clustered
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="euclidean", seed=1)
    try:
        assert idx.needs_optimization() is False
        idx.delete(range(0, len(pts) // 4))  # 25% tombstoned
        assert idx.needs_optimization(max_fragmentation=0.2) is True
        assert idx.needs_optimization(max_fragmentation=0.9,
                                      delta_threshold=10) is False
    finally:
        idx.unpersist()


def test_delete_then_readd_serves_only_new_row(spark, clustered):
    # review finding: removing the tombstone on re-add must NOT unmask
    # the stale main row — the delta's new vector is the only copy that
    # serves, and merge_delta must not persist a duplicate id
    import pandas as pd

    df, pts, queries = clustered
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=3)
    victim = 0
    old_vec = pts[victim]
    idx.delete([victim])
    # re-add id 0 with a vector near cluster 5 (far from its old home)
    new_vec = pts[5 * PER_CLUSTER] * 0.99
    idx.add(spark.createDataFrame(
        [(victim, [float(x) for x in new_vec])],
        "id long, vector array<float>"))
    res = idx.search_local(([0], np.asarray([old_vec])), k=10,
                           nprobe=N_CLUSTERS)
    ids = list(res["id"])
    assert ids.count(victim) <= 1  # never the stale AND the new copy
    # searching near the NEW location finds the re-added row
    res2 = idx.search_local(([0], np.asarray([new_vec])), k=3,
                            nprobe=N_CLUSTERS)
    assert victim in set(res2["id"])
    # searching near the OLD location must NOT surface the stale row
    res3 = idx.search_local(([0], np.asarray([old_vec])), k=3,
                            nprobe=2)
    assert victim not in set(res3["id"])
    # the merge keeps exactly one copy
    stats = idx.merge_delta()
    dup = (idx.codes.groupBy("id").count().filter("count > 1").count())
    assert dup == 0
    assert stats["main_rows"] == N_CLUSTERS * PER_CLUSTER
    res4 = idx.search_local(([0], np.asarray([new_vec])), k=3,
                            nprobe=N_CLUSTERS)
    assert victim in set(res4["id"])
    idx.unpersist()


def test_repeated_add_is_upsert(spark, clustered):
    df, pts, _ = clustered
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=3)
    nid = 10_000  # brand-new id, added twice with different vectors
    for scale in (1.0, 0.5):
        idx.add(spark.createDataFrame(
            [(nid, [float(x * scale) for x in pts[0]])],
            "id long, vector array<float>"))
    assert idx._delta.filter(F.col("id") == nid).count() == 1
    idx.merge_delta()
    assert idx.codes.filter(F.col("id") == nid).count() == 1
    idx.unpersist()


def test_add_over_live_main_id_is_upsert(spark, clustered):
    """ADVICE r4: add() of an id already LIVE in the main codes (no
    prior delete) must mask the stale main row — search may not serve
    the id twice and merge_delta may not persist a duplicate."""
    import numpy as np

    df, pts, _ = clustered
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=3)
    victim = 0
    old_vec = [float(x) for x in pts[victim]]
    new_vec = [float(-x) for x in pts[victim]]
    idx.add(spark.createDataFrame([(victim, new_vec)],
                                  "id long, vector array<float>"))
    # stale main row masked: id appears at most once, at its NEW spot
    res = idx.search_local(([0], np.asarray([old_vec])), k=10,
                           nprobe=N_CLUSTERS)
    assert list(res["id"]).count(victim) <= 1
    res2 = idx.search_local(([0], np.asarray([new_vec])), k=3,
                            nprobe=N_CLUSTERS)
    assert victim in set(res2["id"])
    idx.merge_delta()
    assert idx.codes.filter(F.col("id") == victim).count() == 1
    idx.unpersist()


def test_search_one_matches_search_local(spark, clustered, tmp_path):
    """Single-query driver-local serving (VERDICT r4 Missing #2): no
    Spark job, same results as search_local at the same nprobe, and
    incremental adds/deletes are visible immediately."""
    import numpy as np

    df, pts, queries = clustered
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=3)
    idx.pin_segments(str(tmp_path / "segs"))
    for qi in (0, 3, 7):
        got = idx.search_one(queries[qi], k=10, nprobe=4)
        want = idx.search_local(([qi], np.asarray([queries[qi]])),
                                k=10, nprobe=4)
        assert [i for i, _ in got] == list(want["id"])
        assert np.allclose([d for _, d in got], want["distance"],
                           atol=1e-9)
    # no Spark job: the same answer arrives with the scheduler off
    # (search_one never touches the session) — proxy: repeated calls
    # are pure numpy, sub-10ms even on this tiny index
    import time
    t0 = time.perf_counter()
    for _ in range(20):
        idx.search_one(queries[0], k=10, nprobe=4)
    assert (time.perf_counter() - t0) / 20 < 0.05
    # incremental visibility: add a point right at query 0
    new_vec = [float(x) for x in queries[0]]
    idx.add(spark.createDataFrame([(777_000, new_vec)],
                                  "id long, vector array<float>"))
    got = idx.search_one(queries[0], k=3, nprobe=N_CLUSTERS)
    assert 777_000 in [i for i, _ in got]
    idx.delete([777_000])
    got = idx.search_one(queries[0], k=3, nprobe=N_CLUSTERS)
    assert 777_000 not in [i for i, _ in got]
    # after merge_delta + re-pin the cache refreshes correctly
    idx.merge_delta()
    got = idx.search_one(queries[0], k=10, nprobe=4)
    want = idx.search_local(([0], np.asarray([queries[0]])), k=10,
                            nprobe=4)
    assert [i for i, _ in got] == list(want["id"])
    idx.unpersist()


def test_decoded_segment_tier_identical(spark, clustered, tmp_path):
    """pin_segments(decoded=True) writes a float32 tier; both the
    distributed batch path and search_one serve from it with results
    identical to the uint8 tier."""
    import numpy as np

    df, _, queries = clustered
    q_ids = list(range(len(queries)))
    a = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                         id_col="id", metric="cosine", seed=3)
    a.pin_segments(str(tmp_path / "u8"))
    b = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                         id_col="id", metric="cosine", seed=3)
    b.pin_segments(str(tmp_path / "f32"), decoded=True)
    import os
    assert any(f.startswith("codes32_")
               for f in os.listdir(tmp_path / "f32"))
    ra = a.search_local((q_ids, queries), k=10, nprobe=4)
    rb = b.search_local((q_ids, queries), k=10, nprobe=4)
    assert list(ra["id"]) == list(rb["id"])
    assert np.allclose(ra["distance"], rb["distance"], atol=1e-9)
    for qi in (0, 5):
        ga = a.search_one(queries[qi], k=10, nprobe=4)
        gb = b.search_one(queries[qi], k=10, nprobe=4)
        assert ga == gb
    a.unpersist(); b.unpersist()


def test_search_many_local_matches_search_local(spark, clustered, tmp_path):
    """Driver-local batch serving: identical results to the
    distributed search_local at the same nprobe, incl. after
    incremental add/delete (mask semantics preserved)."""
    import numpy as np

    df, pts, queries = clustered
    q_ids = list(range(len(queries)))
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=3)
    idx.pin_segments(str(tmp_path / "segs"), decoded=True)
    a = idx.search_local((q_ids, queries), k=10, nprobe=4)
    b = idx.search_many_local((q_ids, queries), k=10, nprobe=4)
    assert list(a["id"]) == list(b["id"])
    assert np.allclose(a["distance"], b["distance"], atol=1e-9)
    # upsert over a live main id: the stale main copy must not appear
    victim = 0
    new_vec = [float(-x) for x in pts[victim]]
    idx.add(spark.createDataFrame([(victim, new_vec)],
                                  "id long, vector array<float>"))
    idx.delete([1])
    a = idx.search_local((q_ids, queries), k=10, nprobe=N_CLUSTERS)
    b = idx.search_many_local((q_ids, queries), k=10, nprobe=N_CLUSTERS)
    assert list(a["id"]) == list(b["id"])
    assert np.allclose(a["distance"], b["distance"], atol=1e-9)
    assert 1 not in set(b["id"])
    idx.unpersist()


def test_filtered_serving_where(spark, clustered, tmp_path):
    """Filtered serving (the reference's filter-during-ANN shape):
    predicates over pinned metadata columns evaluate during the scan,
    every hit satisfies the filter, and full-probe results match the
    numpy brute-force filtered top-k (SQ8-level agreement)."""
    import numpy as np

    df, pts, queries = clustered
    labeled = df.withColumn("label", (F.col("id") % 10).cast("int"))
    idx = IvfBatchKnnIndex(labeled, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=3,
                           meta_cols=["label"])
    idx.pin_segments(str(tmp_path / "segs"), decoded=True)
    q = queries[0]
    got = idx.search_one(q, k=10, nprobe=N_CLUSTERS,
                         where={"label": {"$in": [3, 4]}})
    assert len(got) == 10
    assert all(i % 10 in (3, 4) for i, _ in got)
    # numpy brute force over the filtered subset (cosine)
    P = pts.astype(np.float32).astype(np.float64)
    P = P / np.linalg.norm(P, axis=1, keepdims=True)
    qn = np.asarray(q) / np.linalg.norm(q)
    d = 1.0 - P @ qn
    allowed = np.array([i % 10 in (3, 4) for i in range(len(P))])
    true10 = set(np.argsort(np.where(allowed, d, np.inf),
                            kind="stable")[:10].tolist())
    assert len(true10 & {i for i, _ in got}) >= 9  # SQ8-only error
    # range predicate + batch path agree with per-query calls
    pdf = idx.search_many_local(([0, 1], queries[:2]), k=5,
                                nprobe=N_CLUSTERS,
                                where={"label": {"$gte": 5}})
    assert set(pdf["id"] % 10) <= {5, 6, 7, 8, 9}
    one = idx.search_one(queries[1], k=5, nprobe=N_CLUSTERS,
                         where={"label": {"$gte": 5}})
    assert [i for i, _ in one] == list(pdf[pdf.query_id == 1]["id"])
    # delta rows respect the filter too
    idx.add(spark.createDataFrame(
        [(50_003, [float(x) for x in q], 3),
         (50_007, [float(x) for x in q], 7)],
        "id long, vector array<float>, label int"))
    got = idx.search_one(q, k=3, nprobe=N_CLUSTERS,
                         where={"label": 3})
    assert 50_003 in [i for i, _ in got]
    assert 50_007 not in [i for i, _ in got]
    # unpinned column -> loud error
    with pytest.raises(ValueError, match="not pinned"):
        idx.search_one(q, k=3, where={"missing": 1})
    idx.unpersist()


def test_add_local_serves_immediately_and_flushes(spark, clustered, tmp_path):
    """Driver-local insert (add_local): visible to search_one /
    search_many_local with NO Spark job, sub-ms per insert; the
    distributed paths auto-flush the buffer and serve the same rows."""
    import time

    df, pts, queries = clustered
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=5)
    idx.pin_segments(str(tmp_path / "segs_al"))
    try:
        q0 = queries[0]
        n = idx.add_local([888_000], q0[None, :])
        assert n == 1
        assert idx.incremental_stats()["local_pending_rows"] == 1
        got = idx.search_one(q0, k=3, nprobe=N_CLUSTERS)
        assert 888_000 in [i for i, _ in got]
        pdf = idx.search_many_local(([0], q0[None, :]), k=3,
                                    nprobe=N_CLUSTERS)
        assert 888_000 in set(pdf["id"])
        # insert latency: pure numpy + one WAL append
        t0 = time.perf_counter()
        for j in range(20):
            idx.add_local([888_100 + j], q0[None, :])
        assert (time.perf_counter() - t0) / 20 < 0.05
        # the distributed path flushes the buffer and agrees
        dist = idx.search_local(([0], q0[None, :]), k=3,
                                nprobe=N_CLUSTERS)
        assert 888_000 in set(dist["id"])
        assert idx.incremental_stats()["local_pending_rows"] == 0
        assert idx.incremental_stats()["delta_rows"] == 21
        # ...and post-flush local serving still sees the rows
        got = idx.search_one(q0, k=3, nprobe=N_CLUSTERS)
        assert 888_000 in [i for i, _ in got]
    finally:
        idx.unpersist()


def test_add_local_upsert_and_delete_semantics(spark, clustered, tmp_path):
    df, pts, queries = clustered
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=5)
    idx.pin_segments(str(tmp_path / "segs_ups"))
    try:
        q0, q1 = queries[0], queries[1]
        # move an EXISTING main id (0) onto query 1's location: the
        # main copy must be masked, the local row served
        n_before = len(idx.search_many_local(
            ([0], q1[None, :]), k=2000, nprobe=N_CLUSTERS))
        idx.add_local([0], q1[None, :])
        pdf = idx.search_many_local(([0], q1[None, :]), k=3,
                                    nprobe=N_CLUSTERS)
        assert pdf.iloc[0]["id"] == 0  # moved row wins at its new home
        far = idx.search_many_local(([0], q0[None, :]), k=2000,
                                    nprobe=N_CLUSTERS)
        assert list(far[far["id"] == 0]["distance"]) != []  # served once
        assert (far["id"] == 0).sum() <= 1  # never twice
        # re-add over the local copy replaces it (still once)
        idx.add_local([0], q1[None, :])
        pdf = idx.search_many_local(([0], q1[None, :]), k=2000,
                                    nprobe=N_CLUSTERS)
        assert (pdf["id"] == 0).sum() == 1
        assert len(pdf) == n_before  # no duplicate rows appeared
        # delete drops the buffered copy immediately
        idx.delete([0])
        pdf = idx.search_many_local(([0], q1[None, :]), k=2000,
                                    nprobe=N_CLUSTERS)
        assert 0 not in set(pdf["id"])
    finally:
        idx.unpersist()


def test_add_local_wal_replay_after_crash(spark, clustered, tmp_path):
    """Durability: a second index over the same corpus re-pinning the
    same segment dir replays the WAL — add_local rows survive a
    process crash that happened before flush_local."""
    df, pts, queries = clustered
    seg_dir = str(tmp_path / "segs_wal")
    q0 = queries[0]
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=5)
    idx.pin_segments(seg_dir)
    idx.add_local([999_500], q0[None, :])
    # simulate a crash: no flush_local, the object is dropped
    idx.unpersist()
    del idx

    idx2 = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                            id_col="id", metric="cosine", seed=5)
    idx2.pin_segments(seg_dir)
    try:
        assert idx2.incremental_stats()["local_pending_rows"] == 1
        got = idx2.search_one(q0, k=3, nprobe=N_CLUSTERS)
        assert 999_500 in [i for i, _ in got]
        # flush folds the replayed rows and truncates the WAL
        idx2.flush_local()
        import os
        assert not os.path.exists(os.path.join(seg_dir, "local_wal.pkl"))
        got = idx2.search_one(q0, k=3, nprobe=N_CLUSTERS)
        assert 999_500 in [i for i, _ in got]
    finally:
        idx2.unpersist()


def test_add_local_matches_distributed_encoding(spark, clustered, tmp_path):
    """The numpy encoder must be bit-identical to the Arrow kernel:
    the same vector added via add() and add_local() lands in the same
    cell with the same codes -> identical serving distances."""
    df, pts, queries = clustered
    rng = np.random.default_rng(23)
    vecs = rng.standard_normal((5, DIM)).astype(np.float32)
    ids_a = [910_000 + i for i in range(5)]
    ids_b = [920_000 + i for i in range(5)]

    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=5)
    idx.pin_segments(str(tmp_path / "segs_enc"))
    try:
        idx.add(spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in zip(ids_a, vecs)],
            "id long, vector array<float>"))
        idx.add_local(ids_b, vecs)
        for qi in (0, 4):
            pdf = idx.search_many_local(
                ([0], vecs[qi][None, :]), k=4000, nprobe=N_CLUSTERS)
            da = float(pdf[pdf["id"] == ids_a[qi]]["distance"].iloc[0])
            db = float(pdf[pdf["id"] == ids_b[qi]]["distance"].iloc[0])
            assert da == db  # identical codes => identical distance
    finally:
        idx.unpersist()


def test_add_local_decoded_tier_and_filtered_serving(spark, clustered, tmp_path):
    """Local adds serve correctly when the main tier is decoded
    float32 (mixed-dtype delta) and under metadata filters evaluated
    on the local buffer's meta arrays."""
    df, pts, queries = clustered
    src = df.withColumn("tag", (F.col("id") % 3).cast("int"))
    idx = IvfBatchKnnIndex(src, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=5,
                           meta_cols=["tag"])
    idx.pin_segments(str(tmp_path / "segs_dec"), decoded=True)
    try:
        q0 = queries[0]
        idx.add_local([777_700], q0[None, :], metas={"tag": [2]})
        hit = idx.search_many_local(([0], q0[None, :]), k=3,
                                    nprobe=N_CLUSTERS,
                                    where={"tag": {"$eq": 2}})
        assert 777_700 in set(hit["id"])
        miss = idx.search_many_local(([0], q0[None, :]), k=3,
                                     nprobe=N_CLUSTERS,
                                     where={"tag": {"$eq": 1}})
        assert 777_700 not in set(miss["id"])
        got = idx.search_one(q0, k=3, nprobe=N_CLUSTERS)
        assert 777_700 in [i for i, _ in got]
    finally:
        idx.unpersist()


def test_add_local_wal_torn_tail_replay(spark, clustered, tmp_path):
    """A crash mid-append leaves a truncated pickle at the WAL tail;
    replay must keep every complete record, compact the garbage away,
    and stay appendable afterwards."""
    import os

    df, pts, queries = clustered
    seg_dir = str(tmp_path / "segs_torn")
    q0, q1 = queries[0], queries[1]
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=5)
    idx.pin_segments(seg_dir)
    idx.add_local([991_000], q0[None, :])
    idx.add_local([991_001], q1[None, :])
    wal = os.path.join(seg_dir, "local_wal.pkl")
    size = os.path.getsize(wal)
    with open(wal, "r+b") as f:  # tear the SECOND record's tail
        f.truncate(size - 20)
    idx.unpersist()
    del idx

    idx2 = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                            id_col="id", metric="cosine", seed=5)
    idx2.pin_segments(seg_dir)
    try:
        # first record recovered; torn second record dropped
        assert idx2.incremental_stats()["local_pending_rows"] == 1
        got = idx2.search_one(q0, k=3, nprobe=N_CLUSTERS)
        assert 991_000 in [i for i, _ in got]
        # the compacted WAL accepts appends that a later replay can read
        idx2.add_local([991_002], q1[None, :])
        idx2.unpersist()
        idx3 = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                                id_col="id", metric="cosine", seed=5)
        idx3.pin_segments(seg_dir)
        assert idx3.incremental_stats()["local_pending_rows"] == 2
        idx3.unpersist()
    finally:
        pass


def test_add_local_rejects_short_metas(spark, clustered, tmp_path):
    df, pts, queries = clustered
    src = df.withColumn("tag", (F.col("id") % 3).cast("int"))
    idx = IvfBatchKnnIndex(src, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=5,
                           meta_cols=["tag"])
    idx.pin_segments(str(tmp_path / "segs_shortmeta"))
    try:
        import pytest as _pt

        with _pt.raises(ValueError, match="length"):
            idx.add_local([1, 2], np.stack([queries[0], queries[1]]),
                          metas={"tag": [5]})
        # the rejected record is NOT in the buffer or the WAL
        assert idx.incremental_stats()["local_pending_rows"] == 0
    finally:
        idx.unpersist()


def test_wal_forgets_deleted_local_adds(spark, clustered, tmp_path):
    """delete() after add_local must reach the WAL: a crash replay
    must NOT resurrect the deleted row, and a delete that empties the
    buffer removes the WAL outright (no leak for the next process)."""
    import os

    df, pts, queries = clustered
    seg_dir = str(tmp_path / "segs_waldel")
    q0, q1 = queries[0], queries[1]
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=5)
    idx.pin_segments(seg_dir)
    idx.add_local([555_001], q0[None, :])
    idx.add_local([555_002], q1[None, :])
    idx.delete([555_001])
    # crash before flush: replay must see ONLY the surviving row
    idx.unpersist()
    del idx

    idx2 = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                            id_col="id", metric="cosine", seed=5)
    idx2.pin_segments(seg_dir)
    try:
        assert idx2.incremental_stats()["local_pending_rows"] == 1
        got = [i for i, _ in idx2.search_one(q0, k=5, nprobe=N_CLUSTERS)]
        assert 555_001 not in got
        got = [i for i, _ in idx2.search_one(q1, k=5, nprobe=N_CLUSTERS)]
        assert 555_002 in got
        # deleting the last buffered row unlinks the WAL immediately
        idx2.delete([555_002])
        assert not os.path.exists(os.path.join(seg_dir, "local_wal.pkl"))
    finally:
        idx2.unpersist()


def test_delta_stats_track_upserts_and_deletes(spark, clustered):
    """delta_rows reflects LIVE delta ids: re-upserting one id many
    times or deleting delta rows must not inflate the count (an
    inflated count falsely trips needs_optimization)."""
    df, pts, queries = clustered
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=5)
    try:
        row = spark.createDataFrame(
            [(700_700, [float(x) for x in queries[0]])],
            "id long, vector array<float>")
        for _ in range(3):
            idx.add(row)
        assert idx.incremental_stats()["delta_rows"] == 1
        idx.delete([700_700])
        assert idx.incremental_stats()["delta_rows"] == 0
        assert not idx.needs_optimization(delta_threshold=2,
                                          max_fragmentation=0.9)
    finally:
        idx.unpersist()


def test_merge_delta_keeps_cluster_partitions(spark, clustered):
    """merge_delta rewrites into the layout the caller tuned, not
    defaultParallelism."""
    df, pts, queries = clustered
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=5,
                           cluster_partitions=3)
    try:
        assert idx.codes.rdd.getNumPartitions() == 3
        idx.add(spark.createDataFrame(
            [(700_800, [float(x) for x in queries[0]])],
            "id long, vector array<float>"))
        idx.merge_delta()
        assert idx.codes.rdd.getNumPartitions() == 3
    finally:
        idx.unpersist()


def test_unpersist_releases_delta_parts(spark, clustered):
    """unpersist() must release the persisted per-add delta blocks,
    not just the (uncached) union frame."""
    df, pts, queries = clustered
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=5)
    idx.add(spark.createDataFrame(
        [(700_900, [float(x) for x in queries[0]])],
        "id long, vector array<float>"))
    parts = list(idx._delta_parts)
    assert parts and all(p.storageLevel.useMemory for p in parts)
    idx.unpersist()
    assert all(not p.storageLevel.useMemory for p in parts)


def test_kmeans_empty_cells_reseed_distinct():
    """Empty-cell re-seeding must plant DISTINCT points: duplicate
    centroids permanently collapse cells."""
    from needle_spark.plans.ivf import _kmeans_fit

    rng = np.random.default_rng(3)
    # two tight blobs + k=8: most cells go empty on iteration 1
    X = np.concatenate([rng.standard_normal((50, 4)) * 0.01,
                        rng.standard_normal((50, 4)) * 0.01 + 10.0])
    C = _kmeans_fit(X, nlist=8, seed=1, max_iter=10)
    uniq = np.unique(np.round(C, 9), axis=0)
    assert len(uniq) == len(C), "duplicate centroids after reseed"


def test_repin_refreshes_driver_cache(spark, clustered, tmp_path):
    """Re-pinning into the SAME dir (e.g. to add the decoded tier)
    must drop the driver's mmap cache: stale handles point at
    truncated inodes and the new tier would never be used."""
    df, pts, queries = clustered
    seg_dir = str(tmp_path / "segs_repin")
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=5)
    try:
        idx.pin_segments(seg_dir)
        before = idx.search_one(queries[0], k=5, nprobe=N_CLUSTERS)
        idx.pin_segments(seg_dir, decoded=True)
        segs, _ = idx._driver_cache()
        assert any(s[2].dtype == np.float32 for s in segs if len(s[0]))
        after = idx.search_one(queries[0], k=5, nprobe=N_CLUSTERS)
        assert [i for i, _ in before] == [i for i, _ in after]
    finally:
        idx.unpersist()


def test_float32_codes_exact_at_full_probe(spark, clustered, exact_top10):
    """code_dtype='float32' (IVF-Flat, round 6): residuals stored as
    exact float32, so at nprobe == nlist the index IS the exact scan —
    recall 1.0, no SQ8 allowance.  The sweep that motivated it: on
    integer-valued SIFT-like data SQ8 caps recall@10 at ~0.80 at ANY
    nprobe because true neighbor gaps sit below the quantization step
    (scripts/ann_benchmark.py, ANN_RECALL.json)."""
    df, _, queries = clustered
    q_ids, exact_pdf = exact_top10
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=3,
                           code_dtype="float32")
    approx = idx.search_local((q_ids, queries), k=10, nprobe=idx.nlist)
    assert _recall(exact_pdf, approx, q_ids) == 1.0
    idx.unpersist()


def test_float32_codes_full_serving_stack(spark, clustered, tmp_path):
    """The float32 tier must ride every serving path untouched:
    pinned-segment batch (search_local), driver serving
    (search_one / search_many_local), the distributed DataFrame path,
    and the add_local delta — all agreeing with each other."""
    df, _, queries = clustered
    q_ids = list(range(len(queries)))
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=3,
                           code_dtype="float32")
    try:
        idx.pin_segments(str(tmp_path / "f32segs"), decoded=True)
        via_segments = idx.search_local((q_ids, queries), k=5, nprobe=6)
        via_serving = idx.search_many_local((q_ids, queries), k=5, nprobe=6)
        assert via_segments[["query_id", "id", "rank"]].values.tolist() == \
            via_serving[["query_id", "id", "rank"]].values.tolist()
        one = idx.search_one(queries[0], k=5, nprobe=6)
        want = via_serving[via_serving.query_id == 0]["id"].tolist()
        assert [i for i, _ in one] == want
        # distributed DataFrame path agrees on ids
        dist = idx.search((q_ids[:3], queries[:3]), k=5, nprobe=6) \
            .orderBy("query_id", "rank").collect()
        for r in dist:
            sub = via_serving[via_serving.query_id == r["query_id"]]
            assert r["id"] == sub["id"].tolist()[r["rank"] - 1]
        # incremental add through the float32 delta: a planted exact
        # query vector must come back as its own nearest neighbor
        new_vec = np.asarray(queries[0], dtype=np.float64)
        idx.add_local([999_999], new_vec[None, :])
        got = idx.search_one(new_vec, k=1, nprobe=N_CLUSTERS)
        assert got[0][0] == 999_999
    finally:
        idx.unpersist()


def test_sq8_cell_codes_tighter_than_global(spark, clustered, exact_top10):
    """code_dtype='sq8_cell' (round 6): per-cell quantizer ranges at
    identical code bytes.  Contract: (a) full-probe recall at least
    matches global SQ8, (b) reconstruction error strictly shrinks
    (measured via distance agreement with the exact oracle), (c) the
    whole serving stack (segments, search_one, delta adds) works."""
    df, _, queries = clustered
    q_ids, exact_pdf = exact_top10
    cell = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                            id_col="id", metric="cosine", seed=3,
                            code_dtype="sq8_cell")
    approx = cell.search_local((q_ids, queries), k=10, nprobe=cell.nlist)
    assert _recall(exact_pdf, approx, q_ids) >= 0.98
    # distance agreement at full probe: per-cell codes must reconstruct
    # the exact distances to ~1e-3 on this smooth corpus
    merged = approx.merge(exact_pdf, on=["query_id", "id"],
                          suffixes=("_q", "_e"))
    assert (merged["distance_q"] - merged["distance_e"]).abs().max() < 5e-3
    cell.unpersist()


def test_sq8_cell_ranges_cover_every_build_row(spark, clustered):
    """A table larger than the fit sample (2,000 rows, sample_rows=500):
    the per-cell ranges still come from each cell's full membership, so
    no build row's code clips to 0 or 255 and every decoded residual is
    within step/2 of the true residual."""
    df, _, _ = clustered
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=3,
                           code_dtype="sq8_cell", sample_rows=500)
    try:
        got = idx.codes.select("id", "centroid_id", idx.CODE_COL).toPandas()
        vecs = df.toPandas().set_index("id").loc[got["id"], "vector"]
        V = np.stack(vecs.to_numpy()).astype(np.float32)
        V = V / np.sqrt((V * V).sum(axis=1))[:, None]
        cell = got["centroid_id"].to_numpy()
        res = V - idx.centroids.astype(np.float32)[cell]
        codes = np.frombuffer(b"".join(got[idx.CODE_COL]),
                              dtype=np.uint8).reshape(len(got), DIM)
        mn = idx.mn.astype(np.float32)[cell]
        step = idx.step.astype(np.float32)[cell]
        assert codes.min() > 0 and codes.max() < 255
        err = np.abs(codes.astype(np.float32) * step + mn - res)
        assert (err <= 0.5 * step * (1 + 1e-3) + 1e-7).all()
    finally:
        idx.unpersist()


def test_sq8_cell_fit_from_whole_table_sample_starts_no_job(
        spark, clustered, spark_jobs):
    """When the fit sample is the whole table the per-cell ranges come
    from it: an sq8_cell build runs the same Spark jobs as a global sq8
    build."""
    df, _, _ = clustered
    counts = {}
    for cd in ("sq8", "sq8_cell"):
        with spark_jobs() as jobs:
            idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                                   id_col="id", metric="cosine", seed=3,
                                   code_dtype=cd)
        idx.unpersist()
        counts[cd] = jobs.n
    assert counts["sq8_cell"] == counts["sq8"]


def test_sq8_cell_full_serving_stack(spark, clustered, tmp_path):
    df, _, queries = clustered
    q_ids = list(range(len(queries)))
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=3,
                           code_dtype="sq8_cell")
    try:
        idx.pin_segments(str(tmp_path / "sq8cell"), decoded=True)
        via_segments = idx.search_local((q_ids, queries), k=5, nprobe=6)
        via_serving = idx.search_many_local((q_ids, queries), k=5,
                                            nprobe=6)
        assert via_segments[["query_id", "id", "rank"]].values.tolist() \
            == via_serving[["query_id", "id", "rank"]].values.tolist()
        one = idx.search_one(queries[0], k=5, nprobe=6)
        assert [i for i, _ in one] == \
            via_serving[via_serving.query_id == 0]["id"].tolist()
        idx.add_local([888_888], np.asarray(queries[0])[None, :])
        got = idx.search_one(queries[0], k=1, nprobe=N_CLUSTERS)
        assert got[0][0] == 888_888
    finally:
        idx.unpersist()


@pytest.mark.parametrize("cd", ["sq8_cell", "float32"])
def test_filtered_serving_where_new_code_tiers(spark, clustered, tmp_path, cd):
    """`where=` filtered serving must evaluate predicates during the
    scan on the NEW code tiers too (they share the kernel, but the
    pinned-metadata path and per-cell SQ interact here)."""
    df, _, queries = clustered
    labeled = df.withColumn("label", (F.col("id") % 5).cast("int"))
    idx = IvfBatchKnnIndex(labeled, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="cosine", seed=3,
                           code_dtype=cd, meta_cols=["label"])
    try:
        idx.pin_segments(str(tmp_path / f"wsegs_{cd}"), decoded=True)
        got = idx.search_many_local(
            (list(range(3)), queries[:3]), k=5, nprobe=idx.nlist,
            where={"label": {"$in": [1, 3]}})
        assert len(got) > 0
        assert all(int(i) % 5 in (1, 3) for i in got["id"])
        # parity with post-filtering the unfiltered full-probe results
        full = idx.search_many_local((list(range(3)), queries[:3]),
                                     k=50, nprobe=idx.nlist)
        for qi in range(3):
            want = [int(i) for i in full[full.query_id == qi]["id"]
                    if int(i) % 5 in (1, 3)][:5]
            assert [int(i) for i in got[got.query_id == qi]["id"]] == want
    finally:
        idx.unpersist()


def test_quantized_nsq_is_decoded_norm(spark, clustered):
    """Euclidean ranks by nsq - 2*(q . decoded): nsq MUST be the
    decoded vector's squared norm, not the true one, or the mismatch
    term 2 x.eps corrupts ordering on large-norm corpora (measured
    recall@10 0.906 -> 0.988/0.994 on the fashion-like 784-d twin —
    PLANS.md round 8 'decoded-norm consistency')."""
    df, _, _ = clustered
    for metric in ("euclidean", "cosine"):
        for cd in ("sq8", "sq8_cell"):
            idx = IvfBatchKnnIndex(df, nlist=8, vector_col="vector",
                                   id_col="id", metric=metric, seed=1,
                                   code_dtype=cd)
            rng = np.random.default_rng(3)
            V = rng.standard_normal((40, DIM)).astype(np.float32) * 50.0
            assign, nsq, codes, _vn = idx._encode_np(V)
            mn, step = idx.mn, idx.step
            if mn.ndim == 2:
                mn, step = mn[assign], step[assign]
            dec = (codes.astype(np.float64) * step + mn
                   + idx.centroids[assign])
            assert np.allclose(nsq, (dec ** 2).sum(axis=1),
                               rtol=1e-4), (metric, cd)
            idx.unpersist()


def test_large_norm_corpus_sq8_recall(spark):
    """End-to-end pin for the decoded-norm fix: a pixel-scale corpus
    (values ~0..255, like fashion-mnist) must not show a quantization
    recall ceiling at full probe."""
    rng = np.random.default_rng(11)
    base = rng.uniform(0, 255, (12, 64))
    pts = np.clip(np.repeat(base, 150, axis=0)
                  + 12.0 * rng.standard_normal((1800, 64)), 0, 255)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]]) for i in range(len(pts))],
        "id long, vector array<float>").repartition(4)
    queries = pts[rng.permutation(1800)[:15]] \
        + 2.0 * rng.standard_normal((15, 64))
    t = pts.astype(np.float64)
    exact = []
    for q in queries:
        d = np.linalg.norm(t - q, axis=1)
        exact.append(set(np.argsort(d, kind="stable")[:10]))
    idx = IvfBatchKnnIndex(df, nlist=12, vector_col="vector",
                           id_col="id", metric="euclidean", seed=1,
                           code_dtype="sq8_cell")
    res = idx.search_local((list(range(15)), queries), k=10, nprobe=12)
    hit = 0
    for qi in range(15):
        got = set(int(v) for v in res[res.query_id == qi]["id"])
        hit += len(got & exact[qi])
    assert hit / 150 >= 0.97, hit / 150
    idx.unpersist()


def test_auto_merge_caps_driver_id_state(spark, clustered):
    """VERDICT r8 #4: the driver-side incremental-id masks
    (_tombstones/_superseded/_delta_ids) must not grow O(churn)
    forever.  Past max_pending_ids, add()/delete() force merge_delta(),
    which folds the delta into the cell layout and clears the masks —
    and the served results are identical to an index that never
    auto-merged."""
    df, pts, queries = clustered
    rng = np.random.default_rng(23)
    ADD = 60
    vecs = queries[0] + 0.01 * rng.standard_normal((ADD, DIM))
    rows = [(int(800_000 + j), [float(x) for x in vecs[j]])
            for j in range(ADD)]
    delta_df = spark.createDataFrame(rows, "id long, vector array<float>")

    capped = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                              id_col="id", metric="euclidean", seed=1,
                              max_pending_ids=50)
    free = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                            id_col="id", metric="euclidean", seed=1,
                            max_pending_ids=None)
    try:
        assert capped.add(delta_df) == ADD  # 60 pending > cap 50
        assert free.add(delta_df) == ADD
        # the cap engaged: masks cleared, rows folded into main
        assert capped._auto_merges == 1
        assert capped._pending_ids() == 0
        st = capped.incremental_stats()
        assert st["delta_rows"] == 0
        assert st["main_rows"] == len(pts) + ADD
        # the uncapped twin still carries driver state
        assert free._auto_merges == 0
        assert free._pending_ids() == ADD

        # served results identical to the never-merged twin
        q = queries[:4]
        q_ids = list(range(4))
        got_c = capped.search_local((q_ids, q), k=10, nprobe=N_CLUSTERS)
        got_f = free.search_local((q_ids, q), k=10, nprobe=N_CLUSTERS)
        for qid in q_ids:
            c = got_c[got_c.query_id == qid].sort_values("rank")
            f = got_f[got_f.query_id == qid].sort_values("rank")
            assert list(c.id) == list(f.id)
            assert np.allclose(c.distance, f.distance, atol=1e-5)

        # deletes trip the cap too
        capped.delete(range(800_000, 800_000 + 51))
        assert capped._auto_merges == 2
        assert capped._pending_ids() == 0
    finally:
        capped.unpersist()
        free.unpersist()


def test_auto_merge_caps_online_write_path(spark, clustered, tmp_path):
    """Review r9: the churn cap must bound the ONLINE path too —
    add_local grows the same driver-side masks, and a workload that
    never runs a distributed search would otherwise grow them without
    bound.  The insert crossing the cap pays one flush (whose own cap
    check merges); results keep serving the full row set."""
    df, pts, queries = clustered
    rng = np.random.default_rng(31)
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="euclidean", seed=1,
                           max_pending_ids=40)
    idx.pin_segments(str(tmp_path / "segs"))
    try:
        vecs = (queries[1] + 0.01 * rng.standard_normal((45, DIM))
                ).astype(np.float32)
        for j in range(45):  # 45 single inserts > cap 40
            idx.add_local([int(700_000 + j)], vecs[j][None, :])
        assert idx._auto_merges >= 1
        assert idx._pending_ids() <= 40
        st = idx.incremental_stats()
        assert st["main_rows"] >= len(pts) + 41  # folded into main
        got = idx.search_one(queries[1], k=5, nprobe=N_CLUSTERS)
        assert got[0][0] >= 700_000  # planted rows keep serving
    finally:
        idx.unpersist()


def test_auto_merge_not_reentrant(spark, clustered, tmp_path):
    """ADVICE r9: delete() over the cap -> merge_delta() ->
    flush_local() (local buffer non-empty) -> _maybe_auto_merge() used
    to run a complete NESTED merge_delta, then the outer merge resumed
    and repartitioned/persisted/counted the already-merged table a
    second time — correct but two full Spark rewrites for one merge.
    The in-merge latch must keep it to exactly one inner merge."""
    from unittest import mock

    df, pts, queries = clustered
    rng = np.random.default_rng(77)
    idx = IvfBatchKnnIndex(df, nlist=N_CLUSTERS, vector_col="vector",
                           id_col="id", metric="euclidean", seed=1,
                           max_pending_ids=None)
    idx.pin_segments(str(tmp_path / "segs"))
    try:
        # fill the DRIVER-LOCAL buffer past a cap enabled afterwards:
        # the delete() below then finds pending > cap with a non-empty
        # local buffer — the exact re-entry shape from the advice
        vecs = (queries[0] + 0.01 * rng.standard_normal((15, DIM))
                ).astype(np.float32)
        for j in range(15):
            idx.add_local([int(800_000 + j)], vecs[j][None, :])
        idx.max_pending_ids = 10
        inner = IvfBatchKnnIndex._merge_delta_inner
        calls = {"n": 0}

        def counting(self):
            calls["n"] += 1
            return inner(self)

        with mock.patch.object(IvfBatchKnnIndex, "_merge_delta_inner",
                               counting):
            idx.delete([int(800_000)])
        assert calls["n"] == 1  # no nested second rewrite
        assert idx._auto_merges == 1
        assert idx._pending_ids() == 0
        got = idx.search_one(queries[0], k=5, nprobe=N_CLUSTERS)
        assert got[0][0] > 800_000  # planted rows serve, deleted masked
    finally:
        idx.unpersist()
