#!/usr/bin/env python3
"""One-off profile: where does the 1M x 384 batch-kNN time go?
Transfer (Arrow serialize/deserialize) vs compute (sgemm + topk)."""
import os
import sys
import time

sys.path.insert(0, "/root/repo")
import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from needle_spark import get_spark
from needle_spark.operators.knn_arrow import BatchKnnIndex, vector_matrix

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

spark = get_spark(app_name="profile-1m")
spark.sparkContext.setLogLevel("ERROR")

emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
q_rows = emb.filter(F.col("vec_id") < 100).select("vec_id", "embedding").collect()
q_ids = [r[0] for r in q_rows]
Q = np.asarray([list(r[1]) for r in q_rows], dtype=np.float64)

all_rows = emb.select("vec_id", "embedding").collect()
V64 = np.asarray([list(r[1]) for r in all_rows], dtype=np.float32)
n_base = V64.shape[0]
V384 = np.hstack([V64 * c for c in (1.0, 0.7, -0.5, 0.3, -0.9, 0.2)])
repl = max(1, 1_000_000 // n_base)


def _tile(batches):
    for b in batches:
        for rr in b.column(0).to_pylist():
            ids = pa.array(np.arange(n_base, dtype=np.int64) + n_base * rr, type=pa.int64())
            flat = pa.array((V384 * np.float32(1.0 + rr * 1e-4)).ravel(), type=pa.float32())
            offs = pa.array(np.arange(0, (n_base + 1) * 384, 384, dtype=np.int32), type=pa.int32())
            yield pa.RecordBatch.from_arrays([ids, pa.ListArray.from_arrays(offs, flat)],
                                             names=["vec_id", "embedding"])


big = spark.range(0, repl, 1, 32).mapInArrow(_tile, "vec_id long, embedding array<float>")
idx = BatchKnnIndex(big, vector_col="embedding", id_col="vec_id", metric="cosine", dtype=np.float32)
Q384 = np.hstack([Q.astype(np.float32) * c for c in (1.0, 0.7, -0.5, 0.3, -0.9, 0.2)])


def timeit(name, thunk, n=3):
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        thunk()
        best = min(best, time.perf_counter() - t0)
    print(f"{name}: {best:.4f}s")
    return best


# (a) JVM-only scan of the cache
timeit("jvm_count", lambda: idx.docs.count())

# (b) Arrow transfer only: consume batches, no math
def _consume(batches):
    tot = 0
    for b in batches:
        V = vector_matrix(b.column(1), np.float32, "embedding")
        tot += V.shape[0]
    yield pa.RecordBatch.from_arrays([pa.array([tot], type=pa.int64())], names=["n"])

consume_df = idx.docs.mapInArrow(_consume, "n long")
timeit("arrow_consume_only", lambda: consume_df.collect())

# (c) full exact search
idx.search_local((q_ids, Q384), k=10)
timeit("full_exact_100q", lambda: idx.search_local((q_ids, Q384), k=10))

# (d) compute only, local: single-thread sgemm of one partition's share
part = 1_000_000 // 32
Vp = np.ascontiguousarray(np.tile(V384, (part // n_base + 1, 1))[:part])
Qp = np.ascontiguousarray(Q384)
t0 = time.perf_counter()
d = Vp @ Qp.T
print(f"local_sgemm_one_partition ({part}x384 @ 384x100): {time.perf_counter()-t0:.4f}s")

spark.stop()
