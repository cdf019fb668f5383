#!/usr/bin/env python3
"""ann-benchmarks-style recall/QPS grid for the IVF index (VERDICT r5
ask #3; reference grid: scripts/ann-benchmark-docker/run_benchmark.py —
M x efConstruction x efSearch for HNSW; the IVF analogue swept here is
nlist x nprobe).

Usage:
    python scripts/ann_benchmark.py [--n 1000000] [--dataset sift-like]
    python scripts/ann_benchmark.py --dataset sift-128-euclidean \
        --hdf5 /path/to/sift-128-euclidean.hdf5   # real file, needs h5py

Prints a markdown table (recall@10 and serving-tier QPS per grid cell)
and one JSON line, and writes ANN_RECALL.json at the repo root.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from needle_spark import get_spark  # noqa: E402
from needle_spark.plans.ann_datasets import (  # noqa: E402
    exact_ground_truth, fashion_like, glove_like, load_ann_benchmarks_hdf5,
    sift_like,
)
from needle_spark.plans.ivf import IvfBatchKnnIndex  # noqa: E402

NLIST_VALUES = [256, 512, 1024]
NPROBE_VALUES = [1, 2, 4, 8, 16, 32, 64]
#: keys an IVF grid row of this script carries; any other key on a
#: prior row is a tag of a retired option (e.g. a deleted PQ rotation)
_IVF_ROW_KEYS = {"nlist", "nprobe", "codes", "refine", "refine_factor",
                 "recall_at_10", "qps", "ms_per_query", "build_s"}


def _artifact_path(dataset: str) -> str:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fname = "ANN_RECALL.json" if dataset == "sift-like" \
        else f"ANN_RECALL_{dataset.replace('-', '_')}.json"
    return os.path.join(root, fname)


def _write_artifact(args, rows, n, dims, metric, note=None):
    """Write the grid artifact, merging with a prior run of the OTHER
    index family (flat rows carry tier='flat'; IVF rows nlist/nprobe)
    so one file holds the full recall/QPS picture per dataset."""
    path = _artifact_path(args.dataset)
    merged = list(rows)
    cur_fam = "flat" if args.index == "flat" else (
        f"ivf:{args.codes}"
        + (f"+refine{getattr(args, 'refine_factor', 4)}"
           if getattr(args, "refine", False) else ""))
    if os.path.exists(path):
        try:
            with open(path) as f:
                prior = json.load(f)
            if prior.get("n") == n and prior.get("dims") == dims:
                def fam(r):
                    if r.get("tier") == "flat":
                        return "flat"
                    # a retired option's tag (other than its "none"
                    # default) keeps its rows in their own family, so
                    # a re-run never drops the recorded evidence
                    tags = "".join(f"+{k}-{v}" for k, v in sorted(r.items())
                                   if k not in _IVF_ROW_KEYS
                                   and v != "none")
                    return (f"ivf:{r.get('codes', prior.get('codes'))}"
                            + (f"+refine{r.get('refine_factor', 4)}"
                               if r.get("refine") else "") + tags)
                merged = [r for r in prior.get("grid", [])
                          if fam(r) != cur_fam] + merged
            else:
                # an off-scale run (e.g. a quick --n smoke) must not
                # clobber the canonical full-scale grid: divert it to
                # a size-suffixed sibling file instead
                path = path[:-len(".json")] + f"_n{n}.json"
        except (json.JSONDecodeError, OSError):
            pass
    out = {"dataset": args.dataset, "n": n, "dims": dims, "k": args.k,
           "metric": metric, "codes": args.codes, "grid": merged}
    if note:
        out["note"] = note
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    return merged


def run_flat(args, train, queries, thr, metric) -> None:
    """One-row 'grid' for the exact flat tier: recall is 1.0 by
    construction (plans/flat.py threshold exactness guarantee) but is
    measured anyway against the same distance-threshold definition."""
    from needle_spark.plans.flat import FlatKnnIndex

    n, dims = train.shape
    t0 = time.perf_counter()
    idx = FlatKnnIndex(np.arange(n, dtype=np.int64), train, metric=metric)
    build_s = time.perf_counter() - t0
    q_ids = list(range(len(queries)))
    idx.search_many_local((q_ids, queries), k=args.k)  # warm
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        res = idx.search_many_local((q_ids, queries), k=args.k)
        best = min(best, time.perf_counter() - t0)
    hits = []
    qf = np.ascontiguousarray(queries, dtype=np.float32)
    if metric == "cosine":
        qf = qf / np.maximum(
            np.linalg.norm(qf, axis=1, keepdims=True), 1e-12)
    got = res.groupby("query_id")["id"].apply(list).to_dict()
    for i in range(len(queries)):
        vids = got.get(i, [])
        if not vids:
            hits.append(0.0)
            continue
        V = train[np.asarray(vids, dtype=np.int64)]
        if metric == "cosine":
            Vn = V / np.maximum(
                np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            d = 1.0 - Vn @ qf[i]
        else:
            d = np.linalg.norm(
                V.astype(np.float64) - qf[i].astype(np.float64), axis=1)
        hits.append(min(args.k, int((d <= thr[i]).sum())) / args.k)
    # single-query serving: default path is the exact scan (recall 1.0
    # by construction — the floor is one DRAM pass over the matrix)
    def single_hit(i, vids):
        if not vids:
            return 0.0
        V = train[np.asarray(vids, dtype=np.int64)]
        if metric == "cosine":
            Vn = V / np.maximum(
                np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            d = 1.0 - Vn @ qf[i]
        else:
            d = np.linalg.norm(
                V.astype(np.float64) - qf[i].astype(np.float64), axis=1)
        return min(args.k, int((d <= thr[i]).sum())) / args.k

    idx.search_one(queries[0], k=args.k)  # warm
    lats = []
    for i in range(min(100, len(queries))):
        t0 = time.perf_counter()
        idx.search_one(queries[i], k=args.k)
        lats.append(time.perf_counter() - t0)
    # f16 coarse pass (compiled F16C kernel, plans/native.py): halves
    # the single-query DRAM floor; distances exact-reranked, membership
    # recall measured against the exact ground truth.  Only emitted
    # when the routing actually engages (rows above THRESHOLD_MIN_ROWS) — below
    # it path="f16" silently serves the exact scan and the row would
    # mislabel exact-scan latencies as the f16 path's (review r9)
    f16_row = {}
    if n > FlatKnnIndex.THRESHOLD_MIN_ROWS and idx.enable_f16():
        idx.search_one(queries[0], k=args.k, path="f16")  # warm sidecar
        lats_f, f_hits = [], []
        for i in range(min(100, len(queries))):
            t0 = time.perf_counter()
            r1 = idx.search_one(queries[i], k=args.k, path="f16")
            lats_f.append(time.perf_counter() - t0)
            f_hits.append(single_hit(i, [p[0] for p in r1]))
        f16_row = {
            "single_f16_p50_ms": round(
                float(np.percentile(lats_f, 50)) * 1000, 2),
            "single_f16_p99_ms": round(
                float(np.percentile(lats_f, 99)) * 1000, 2),
            "single_f16_min_ms": round(float(np.min(lats_f)) * 1000, 2),
            "single_f16_recall_at_10": round(float(np.mean(f_hits)), 4),
        }
    row = {
        "tier": "flat", "recall_at_10": round(float(np.mean(hits)), 4),
        "qps": round(len(queries) / best, 1),
        "ms_per_query": round(best * 1000 / len(queries), 3),
        "single_p50_ms": round(float(np.percentile(lats, 50)) * 1000, 2),
        "single_p99_ms": round(float(np.percentile(lats, 99)) * 1000, 2),
        "single_path": "exact_scan",
        "single_min_ms": round(float(np.min(lats)) * 1000, 2),
        **f16_row,
        "build_s": round(build_s, 1),
    }
    print(f"flat: recall@10={row['recall_at_10']} {row['qps']} qps "
          f"(exact single p50 {row['single_p50_ms']} ms min "
          f"{row['single_min_ms']})", flush=True)
    _write_artifact(
        args, [row], n, dims, metric,
        note="flat = exact driver-serving tier (plans/flat.py): the "
             "posture for distance-concentrated angular corpora where "
             "IVF recall-per-probed-row collapses (see grid rows) and "
             "lossy sketches cannot resolve the neighbor margin")
    print(json.dumps({"dataset": args.dataset, "n": n,
                      "best_recall": row["recall_at_10"], "cells": 1}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=None,
                help="corpus rows (default: 1M; 60k for fashion-like)")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--queries", type=int, default=100)
    ap.add_argument("--dataset", default="sift-like")
    ap.add_argument("--hdf5", default=None)
    ap.add_argument("--nlist", type=int, nargs="*", default=NLIST_VALUES)
    ap.add_argument("--nprobe", type=int, nargs="*", default=NPROBE_VALUES)
    ap.add_argument("--codes", default="float32",
                    choices=["sq8", "sq8_cell", "float32", "pq"],
                    help="float32 = IVF-Flat (exact codes; the right "
                         "tier for tight-margin integer descriptors); "
                         "sq8_cell = per-cell quantizer ranges (same "
                         "bytes as sq8, ~3x less error); sq8 = global "
                         "ranges, 4x smaller than float32, lossy")
    ap.add_argument("--pq-m", dest="pq_m", type=int, default=None,
                    help="PQ subspace count (codes=pq): 1 byte per "
                         "subspace; must divide dim (default dim/8)")
    ap.add_argument("--refine-factor", dest="refine_factor", type=int,
                    default=4,
                    help="quantized overfetch multiple per cell before "
                         "the exact re-rank (refine tier); PQ codes "
                         "need larger factors than SQ8 — the cut, not "
                         "the probes, bounds refined recall")
    ap.add_argument("--refine", action="store_true",
                    help="pair the quantized codes with an exact "
                         "float32 mmap sidecar: serving reranks the "
                         "refine_factor*k quantized survivors per cell "
                         "by exact float64 distance, removing the "
                         "quantization recall ceiling at the scan "
                         "bandwidth of the codes (sq8/sq8_cell only)")
    ap.add_argument("--index", default="ivf", choices=["ivf", "flat"],
                    help="ivf = nlist x nprobe grid; flat = the exact "
                         "driver-serving tier (plans/flat.py) — the "
                         "right family for distance-concentrated "
                         "angular corpora where IVF recall-per-probe "
                         "collapses (one row, recall 1.0 by "
                         "construction, QPS measured)")
    args = ap.parse_args()

    if args.hdf5:
        train, queries, _gt = load_ann_benchmarks_hdf5(args.hdf5)
        train, queries = train[:args.n], queries[:args.queries]
        metric = "cosine" if "angular" in args.dataset else "euclidean"
        # recompute GT distances over the (possibly truncated) train set
        _, gt_d = exact_ground_truth(train, queries, k=args.k,
                                     metric=metric, return_distances=True)
    elif args.dataset == "glove-like":
        train, queries = glove_like(args.n or 1_000_000,
                                    n_queries=args.queries)
        metric = "cosine"
        t0 = time.perf_counter()
        _, gt_d = exact_ground_truth(train, queries, k=args.k,
                                     metric=metric, return_distances=True)
        print(f"# exact ground truth: {time.perf_counter()-t0:.1f}s",
              flush=True)
    elif args.dataset == "fashion-like":
        # real fashion-mnist-784-euclidean is 60k rows; default to that
        train, queries = fashion_like(
            min(args.n, 1_000_000) if args.n is not None else 60_000,
            n_queries=args.queries)
        metric = "euclidean"
        t0 = time.perf_counter()
        _, gt_d = exact_ground_truth(train, queries, k=args.k,
                                     metric=metric, return_distances=True)
        print(f"# exact ground truth: {time.perf_counter()-t0:.1f}s",
              flush=True)
    else:
        train, queries = sift_like(args.n or 1_000_000,
                                   n_queries=args.queries)
        metric = "euclidean"
        t0 = time.perf_counter()
        _, gt_d = exact_ground_truth(train, queries, k=args.k,
                                     metric=metric, return_distances=True)
        print(f"# exact ground truth: {time.perf_counter()-t0:.1f}s",
              flush=True)
    # ann-benchmarks recall definition: a returned neighbor counts iff
    # its TRUE distance is within the k-th exact distance (+fp slack) —
    # id-set recall under-reads on datasets with exact distance ties
    thr = gt_d[:, args.k - 1] * (1 + 1e-9) + 1e-6

    if args.index == "flat":
        run_flat(args, train, queries, thr, metric)
        return

    spark = get_spark()
    import pyarrow as pa

    n, dims = train.shape
    # broadcast rather than close over the corpus: at 1M x 128 `train`
    # is ~512 MB — in the closure it would be pickled into the task
    # binary; as a broadcast it ships once via the torrent path and is
    # shared by every executor (review r6)
    train_bc = spark.sparkContext.broadcast(train)

    def emit(batches):
        per = 50_000
        tr = train_bc.value
        for b in batches:
            for pid in b.column(0).to_pylist():
                s, e = pid * per, min((pid + 1) * per, n)
                if s >= e:
                    continue
                ids = pa.array(np.arange(s, e, dtype=np.int64))
                flat = pa.array(tr[s:e].ravel(), type=pa.float32())
                offs = pa.array(
                    np.arange(0, (e - s + 1) * dims, dims, dtype=np.int32))
                yield pa.RecordBatch.from_arrays(
                    [ids, pa.ListArray.from_arrays(offs, flat)],
                    names=["vec_id", "embedding"])

    n_parts = (n + 49_999) // 50_000
    df = spark.range(0, n_parts, 1, min(32, n_parts)).mapInArrow(
        emit, "vec_id long, embedding array<float>")

    q_ids = list(range(len(queries)))
    rows = []
    for nlist in args.nlist:
        t0 = time.perf_counter()
        idx = IvfBatchKnnIndex(df, nlist=nlist, vector_col="embedding",
                               id_col="vec_id", metric=metric, seed=42,
                               kmeans_max_iter=6, sample_rows=65536,
                               code_dtype=args.codes, refine=args.refine,
                               refine_factor=args.refine_factor,
                               pq_m=args.pq_m)
        idx.pin_segments(decoded=True)
        build_s = time.perf_counter() - t0
        print(f"# built nlist={nlist} in {build_s:.1f}s", flush=True)
        for nprobe in args.nprobe:
            if nprobe > nlist:
                continue
            idx.search_many_local((q_ids, queries), k=args.k,
                                  nprobe=nprobe)  # warm
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                res = idx.search_many_local((q_ids, queries), k=args.k,
                                            nprobe=nprobe)
                best = min(best, time.perf_counter() - t0)
            got: dict[int, list] = {}
            for qid, vid in zip(res["query_id"], res["vec_id"]):
                got.setdefault(int(qid), []).append(int(vid))
            hits = []
            qf = np.ascontiguousarray(queries, dtype=np.float32)
            if metric == "cosine":
                qf = qf / np.maximum(
                    np.linalg.norm(qf, axis=1, keepdims=True), 1e-12)
            for i in range(len(queries)):
                vids = got.get(i, [])
                if not vids:
                    hits.append(0.0)
                    continue
                V = train[np.asarray(vids, dtype=np.int64)]
                if metric == "cosine":
                    Vn = V / np.maximum(
                        np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
                    d = 1.0 - Vn @ qf[i]
                else:
                    d = np.linalg.norm(
                        V.astype(np.float64) - qf[i].astype(np.float64),
                        axis=1)
                hits.append(min(args.k, int((d <= thr[i]).sum())) / args.k)
            recall = float(np.mean(hits))
            rows.append({
                "nlist": nlist, "nprobe": nprobe,
                "codes": args.codes,
                **({"refine": True,
                    "refine_factor": args.refine_factor}
                   if args.refine else {}),
                "recall_at_10": round(recall, 4),
                "qps": round(len(queries) / best, 1),
                "ms_per_query": round(best * 1000 / len(queries), 3),
                "build_s": round(build_s, 1),
            })
            print(f"nlist={nlist} nprobe={nprobe}: "
                  f"recall@10={recall:.4f} "
                  f"{rows[-1]['qps']} qps", flush=True)
        idx.unpersist()

    print("\n| nlist | nprobe | recall@10 | QPS | ms/query |")
    print("|---|---|---|---|---|")
    for r in rows:
        print(f"| {r['nlist']} | {r['nprobe']} | {r['recall_at_10']} "
              f"| {r['qps']} | {r['ms_per_query']} |")
    _write_artifact(args, rows, n, dims, metric)
    print(json.dumps({"dataset": args.dataset, "n": n,
                      "best_recall": max(r["recall_at_10"] for r in rows),
                      "cells": len(rows)}))


if __name__ == "__main__":
    main()
