"""Multi-vector (ColBERT-style) MaxSim scoring.

Reference: /root/reference/src/indexing/multivec.rs — one document = many
token vectors; score(doc) = sum over query tokens of (max over doc
tokens of similarity) (:243 maxsim; two-stage centroid prefilter :275).

Spark shape (the classic exact decomposition): doc tokens exploded as
rows ⋈ broadcast query tokens -> per-(doc, query-token) max -> per-doc
sum -> top-k.  Two hash aggregations with map-side partial max/sum; the
doc-token table is scanned once and never shuffled at full width (only
(doc_id, qtok, sim) triples move).  The centroid prefilter of the
reference maps to the IVF planner at scale.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from needle_spark.functions.distance import array_literal, distance_expr


def maxsim_scores(
    doc_tokens: DataFrame,
    query_vectors: Sequence[Sequence[float]],
    doc_id_col: str = "doc_id",
    vector_col: str = "vector",
    score_col: str = "score",
) -> DataFrame:
    """Exact MaxSim: (doc_id, score) for every doc.

    Similarity is the dot product (ColBERT convention).  Deterministic:
    per-token max is exact; the final sum is over <= |query tokens|
    values (tiny, noise ~1e-16).
    """
    if not query_vectors:
        raise ValueError("empty query token set")
    q = F.array(*[
        F.struct(
            F.lit(i).alias("qtok"),
            array_literal(qv).alias("qvec"),
        )
        for i, qv in enumerate(query_vectors)
    ])
    exploded = doc_tokens.select(
        F.col(doc_id_col), F.col(vector_col), F.explode(q).alias("__q")
    )
    # the dot metric is -dot; negation is exact
    sim = -distance_expr("dot", vector_col, "__q.qvec")
    per_qtok = (
        exploded.select(F.col(doc_id_col), F.col("__q.qtok").alias("qtok"), sim.alias("__sim"))
        .groupBy(doc_id_col, "qtok")
        .agg(F.max("__sim").alias("__m"))
    )
    return per_qtok.groupBy(doc_id_col).agg(F.sum("__m").alias(score_col))


def maxsim_two_stage(
    doc_tokens: DataFrame,
    query_vectors: Sequence[Sequence[float]],
    k: int = 10,
    prefilter_factor: int = 4,
    nlist: int = 16,
    nprobe: int = 4,
    doc_id_col: str = "doc_id",
    vector_col: str = "vector",
    score_col: str = "score",
    seed: int = 42,
) -> DataFrame:
    """Two-stage MaxSim with centroid prefilter (multivec.rs:275-332):

    1. coarse: pool each doc's tokens (mean) and each query's tokens;
       keep the top (k * prefilter_factor) docs by pooled similarity
       through an IVF probe over the pooled vectors;
    2. exact MaxSim on the surviving docs' full token sets.

    At scale stage 1 reads one pooled vector per doc (a tiny side table)
    instead of every token row; stage 2's explode-join touches only
    candidates.
    """
    from needle_spark.plans.ivf import IvfIndex

    # mean-pool via posexplode + avg (works for any dim, stays JVM-side)
    pooled = (
        doc_tokens.select(doc_id_col, F.posexplode(vector_col).alias("__p", "__x"))
        .groupBy(doc_id_col, "__p")
        .agg(F.avg("__x").alias("__m"))
        .groupBy(doc_id_col)
        .agg(F.array_sort(F.collect_list(F.struct("__p", "__m"))).alias("__pm"))
        .select(
            doc_id_col,
            F.transform(F.col("__pm"), lambda s: s["__m"].cast("float")).alias("__pooled"),
        )
    )
    q_pooled = [
        sum(qv[i] for qv in query_vectors) / len(query_vectors)
        for i in range(len(query_vectors[0]))
    ]
    ivf = IvfIndex.fit(pooled, nlist=nlist, vector_col="__pooled", id_col=doc_id_col, seed=seed)
    indexed = ivf.assign(pooled)
    candidates = ivf.search(
        indexed, q_pooled, k=k * prefilter_factor, nprobe=nprobe, metric="cosine"
    ).select(doc_id_col)
    survivors = doc_tokens.join(F.broadcast(candidates), doc_id_col)
    return maxsim_topk(
        survivors, query_vectors, k=k,
        doc_id_col=doc_id_col, vector_col=vector_col, score_col=score_col,
    )


def maxsim_topk(
    doc_tokens: DataFrame,
    query_vectors: Sequence[Sequence[float]],
    k: int = 10,
    rounding: int | None = 9,
    doc_id_col: str = "doc_id",
    vector_col: str = "vector",
    score_col: str = "score",
) -> DataFrame:
    scored = maxsim_scores(doc_tokens, query_vectors, doc_id_col, vector_col, score_col)
    key = F.round(F.col(score_col), rounding) if rounding else F.col(score_col)
    return scored.orderBy(key.desc(), F.col(doc_id_col).asc()).limit(k)
