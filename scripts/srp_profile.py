#!/usr/bin/env python3
"""Attribute the SRP near-dup per-row constant (VERDICT r8 #6).

Builds the same planted-twin corpus bench.py uses (sf0.1 embeddings,
Walsh replica groups + one perturbed twin per vector) and times the
three pipeline stages separately:

  1. signatures   — mapInArrow sign-projection kernel (n x bands rows)
  2. banding      — _pairs_from_banded groupBy (band, bucket) -> pairs
  3. verification — role-explode + join vectors + exact distance filter

Stage deltas attribute the 0.3 ms/row constant measured at 200k rows.
Writes SRP_PROFILE.json at the repo root.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from needle_spark import get_spark  # noqa: E402
from needle_spark.operators.dedup import (  # noqa: E402
    _pairs_from_banded, srp_lsh_neardup_pairs)
from needle_spark.operators.knn_arrow import vector_matrix  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _walsh_flip(r):
    return F.transform(
        F.col("embedding"),
        lambda x, i: F.when(
            ((i % 2) * (r & 1)
             + ((i / 2).cast("int") % 2) * ((r >> 1) & 1)
             + ((i / 4).cast("int") % 2) * ((r >> 2) & 1)
             + ((i / 8).cast("int") % 2) * ((r >> 3) & 1)
             + ((i / 16).cast("int") % 2) * ((r >> 4) & 1)
             + ((i / 32).cast("int") % 2) * ((r >> 5) & 1)) % 2 == 1,
            -x).otherwise(x))


def _with_twins(frame):
    noisy = F.transform(
        F.col("embedding"),
        lambda x, i: x + F.lit(0.01) * F.sin(
            (F.col("vec_id") % 9973).cast("double") * (i + 1)))
    nrm = F.sqrt(F.aggregate(noisy, F.lit(0.0), lambda a, v: a + v * v))
    twin = frame.withColumn("embedding", F.transform(
        noisy, lambda x: x / nrm)) \
        .withColumn("vec_id", F.col("vec_id") + F.lit(500_000_000))
    return frame.unionByName(twin)


def main() -> None:
    spark = get_spark(app_name="srp-profile",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = {}
    for scale in (1, 4):
        parts = [emb]
        for r in range(1, scale):
            parts.append(
                emb.withColumn("vec_id", F.col("vec_id") + F.lit(r * 10_000_000))
                .withColumn("embedding", _walsh_flip(r)))
        corpus = parts[0]
        for p in parts[1:]:
            corpus = corpus.unionByName(p)
        corpus = _with_twins(corpus).repartition(32).persist()
        n = corpus.count()

        def best2(thunk):
            b = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                thunk()
                b = min(b, time.perf_counter() - t0)
            return round(b, 3)

        # full pipeline broken at the natural DataFrame boundaries;
        # band width MUST match the operator's auto-sizing rule
        # (r = clamp(ceil(log2 n)+4, 16, 62)) or the staged deltas
        # attribute a different pipeline than t_full runs (review r9)
        import math

        from pyspark.sql import types as T
        dim = 64
        rng = np.random.default_rng(42)
        id_type = corpus.schema["vec_id"].dataType
        rpb = min(62, max(16, math.ceil(math.log2(max(n, 2))) + 4))
        n_bits = rpb * 8
        R = rng.standard_normal((dim, n_bits)).astype(np.float32)
        weights = (1 << np.arange(rpb, dtype=np.int64))

        def signatures(batches):
            import pyarrow as pa
            for batch in batches:
                if not batch.num_rows:
                    continue
                V = vector_matrix(batch.column(1), np.float32, "embedding")
                bits = (V @ R) > 0
                ou = [bits[:, b * rpb:(b + 1) * rpb].astype(np.int64) @ weights
                      for b in range(8)]
                yield pa.RecordBatch.from_arrays([
                    pa.concat_arrays([batch.column(0)] * 8),
                    pa.array(np.repeat(np.arange(8, dtype=np.int32), len(V))),
                    pa.array(np.concatenate(ou)),
                ], names=["vec_id", "band", "bucket"])

        band_schema = T.StructType([
            T.StructField("vec_id", id_type),
            T.StructField("band", T.IntegerType()),
            T.StructField("bucket", T.LongType())])
        banded = corpus.select("vec_id", "embedding").mapInArrow(
            signatures, band_schema)
        t_sig = best2(lambda: banded.count())
        pairs = _pairs_from_banded(banded, "vec_id", 256, None)
        t_pairs = best2(lambda: pairs.count())
        t_full = best2(lambda: srp_lsh_neardup_pairs(
            corpus, threshold=0.05, metric="cosine", id_col="vec_id",
            vector_col="embedding").count())
        out[f"{scale}x"] = {
            "rows": n,
            "signatures_s": t_sig,
            "through_banding_s": t_pairs,
            "full_s": t_full,
            "banding_delta_s": round(t_pairs - t_sig, 3),
            "verify_delta_s": round(t_full - t_pairs, 3),
            "ms_per_row_full": round(t_full / n * 1000, 4),
        }
        print(f"{scale}x rows={n}: sig {t_sig}s, +banding "
              f"{out[f'{scale}x']['banding_delta_s']}s, +verify "
              f"{out[f'{scale}x']['verify_delta_s']}s, full {t_full}s",
              flush=True)
        corpus.unpersist()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SRP_PROFILE.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
