"""Top-k similarity search — the reference engine's fundamental query.

Mirrors the SearchBuilder pipeline (/root/reference/src/collection/
pipeline.rs:252-447): validate -> TTL filter -> as-of filter -> pre-filter
-> score -> (post-filter) -> top-k, and the search-method surface
(search_methods.rs: knn :53, radius :715, batch :32 in batch.rs,
recommend in server/handlers/search.rs:1062-1077).

Spark-first physical story:

- Single-query kNN is `filter -> withColumn(distance) -> orderBy(distance,
  id) -> limit(k)`.  Catalyst plans that as TakeOrderedAndProject: each
  partition keeps a local k-heap and the driver merges — no full sort, no
  shuffle of the data, and the pre-filter is pushed into the Parquet scan.
  This is the exact-semantics plan that scales linearly with scan
  bandwidth; needle's oversampling heuristics (pipeline.rs:467-481) exist
  only to patch ANN recall and vanish on this path.
- Pre-filter vs post-filter are *different queries* (pre restricts the
  candidate universe; post takes global top-(k*factor) then filters) —
  both modes are kept, as both are part of the reference contract
  (pipeline.rs:262-301).
- Batch kNN broadcasts the (small) query set, scores the cross product,
  and ranks per query with a window.  The docs side streams through the
  broadcast join without a shuffle; the only exchange is the window's
  hash-partition on query_id of the scored rows.  At very large scale the
  IVF planner (needle_spark.plans) prunes the scored set first.
- Ties always break on (distance ASC, id ASC) for determinism across
  partitionings (FIXTURES.md rule).
"""

from __future__ import annotations

import math
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from needle_spark.filters import compile_filter
from needle_spark.functions.distance import distance_expr

DEFAULT_LIMIT = 10  # needleql default limit (needleql_executor.rs:375-386)
POST_FILTER_FACTOR = 3  # pipeline.rs POST_FILTER multiplier default


def validate_query_vector(qv: Sequence[float], dims: int | None = None) -> list[float]:
    """Reject NaN/Inf and dimension mismatches up front (pipeline.rs:450-458,
    tests/edge_cases.rs:173-191)."""
    out = [float(x) for x in qv]
    if dims is not None and len(out) != dims:
        raise ValueError(f"dimension mismatch: expected {dims}, got {len(out)}")
    if any(math.isnan(x) or math.isinf(x) for x in out):
        raise ValueError("query vector contains NaN or Inf")
    return out


def _pred(df: DataFrame, flt: dict[str, Any] | Column | None, meta_col: str | None) -> Column | None:
    if flt is None:
        return None
    if isinstance(flt, Column):
        return flt
    return compile_filter(flt, df=df, meta_col=meta_col)


def knn(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = DEFAULT_LIMIT,
    metric: str = "cosine",
    filter: dict[str, Any] | Column | None = None,
    post_filter: dict[str, Any] | Column | None = None,
    post_filter_factor: int = POST_FILTER_FACTOR,
    vector_col: str = "vector",
    id_col: str = "id",
    dims: int | None = None,
    as_of: int | None = None,
    inserted_at_col: str = "inserted_at",
    now: int | None = None,
    expires_at_col: str = "expires_at",
    meta_col: str | None = None,
    distance_col: str = "distance",
) -> DataFrame:
    """Exact top-k similarity search with needle's full pipeline semantics.

    Returns the input columns plus `distance_col`, ordered by
    (distance, id), at most k rows (post-filter mode may return fewer —
    same as the reference).
    """
    qv = validate_query_vector(query_vector, dims)
    out = df

    # TTL lazy filter (pipeline.rs:501-514): expired rows are invisible.
    from needle_spark.filters import ttl_filter
    out = ttl_filter(out, now, expires_at_col)
    # as-of / time travel (pipeline.rs:516-532): inserted_at <= ts.
    if as_of is not None:
        out = out.filter(F.col(inserted_at_col) <= F.lit(as_of))

    pre = _pred(df, filter, meta_col)
    if pre is not None:
        out = out.filter(pre)

    out = out.withColumn(distance_col, distance_expr(metric, vector_col, qv))

    if post_filter is not None:
        # post-filter semantics: global top-(k*factor) FIRST, then filter,
        # then truncate to k (pipeline.rs:277-301) — deliberately different
        # from pre-filtering.
        fetch = k * max(post_filter_factor, 1)
        # asc_nulls_last: a null/ragged vector evaluates to NULL
        # distance, and Spark's plain asc is NULLS FIRST — malformed
        # rows would displace the real nearest neighbors
        out = out.orderBy(F.col(distance_col).asc_nulls_last(),
                          F.col(id_col).asc()).limit(fetch)
        out = out.filter(_pred(df, post_filter, meta_col))

    return out.orderBy(F.col(distance_col).asc_nulls_last(),
                       F.col(id_col).asc()).limit(k)


def radius_search(
    df: DataFrame,
    query_vector: Sequence[float],
    radius: float,
    limit: int | None = None,
    metric: str = "cosine",
    filter: dict[str, Any] | Column | None = None,
    vector_col: str = "vector",
    id_col: str = "id",
    meta_col: str | None = None,
    distance_col: str = "distance",
) -> DataFrame:
    """All rows with distance <= radius, sorted, optionally capped
    (search_methods.rs:715,789)."""
    qv = validate_query_vector(query_vector)
    out = df
    pre = _pred(df, filter, meta_col)
    if pre is not None:
        out = out.filter(pre)
    out = out.withColumn(distance_col, distance_expr(metric, vector_col, qv))
    out = out.filter(F.col(distance_col) <= F.lit(float(radius)))
    out = out.orderBy(F.col(distance_col).asc(), F.col(id_col).asc())
    return out.limit(limit) if limit is not None else out


def batch_knn(
    docs: DataFrame,
    queries: DataFrame,
    k: int = DEFAULT_LIMIT,
    metric: str = "cosine",
    filter: dict[str, Any] | Column | None = None,
    doc_vector_col: str = "vector",
    doc_id_col: str = "id",
    query_vector_col: str = "vector",
    query_id_col: str = "query_id",
    meta_col: str | None = None,
    distance_col: str = "distance",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query top-k for a batch of queries (batch.rs:32,:108).

    Physical shape: broadcast(queries) ⋈ docs (no shuffle of the big
    side), score JVM-side, then one exchange on query_id for the rank
    window.  Output: (query_id, doc id, distance, rank<=k).
    """
    pre = _pred(docs, filter, meta_col)
    d = docs.filter(pre) if pre is not None else docs
    d = d.select(F.col(doc_id_col), F.col(doc_vector_col).alias("__doc_vec"))
    q = queries.select(
        F.col(query_id_col), F.col(query_vector_col).alias("__q_vec")
    )
    # enforce the single-query contract (validate_query_vector /
    # pipeline.rs:450-458) in-plan on the small queries side: a NaN/Inf
    # or null query must raise, not silently return id-ordered junk
    bad_q = (F.col("__q_vec").isNull()
             | F.exists(F.col("__q_vec"),
                        lambda x: F.isnan(x) | (F.abs(x)
                                                == float("inf"))))
    q = q.withColumn(
        "__q_vec",
        F.when(~bad_q, F.col("__q_vec")).otherwise(F.raise_error(F.lit(
            "query vector is null or contains NaN/Inf"))))
    scored = d.join(F.broadcast(q)).withColumn(
        distance_col, distance_expr(metric, "__doc_vec", "__q_vec")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(distance_col).asc_nulls_last(), F.col(doc_id_col).asc()
    )
    return (
        scored.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .select(query_id_col, doc_id_col, distance_col, rank_col)
    )


def knn_after(
    df: DataFrame,
    query_vector: Sequence[float],
    cursor: tuple[float, Any],
    k: int = DEFAULT_LIMIT,
    metric: str = "cosine",
    filter: dict[str, Any] | Column | None = None,
    vector_col: str = "vector",
    id_col: str = "id",
    meta_col: str | None = None,
    distance_col: str = "distance",
) -> DataFrame:
    """Keyset pagination (`search_after`, server/types.rs:216-219): the
    next page after cursor=(distance, id), using the (distance, id)
    total order — stable and O(k) regardless of page depth, unlike
    OFFSET which rescans."""
    cd, cid = cursor
    qv = validate_query_vector(query_vector)
    out = df
    pre = _pred(df, filter, meta_col)
    if pre is not None:
        out = out.filter(pre)
    out = out.withColumn(distance_col, distance_expr(metric, vector_col, qv))
    after = (F.col(distance_col) > F.lit(float(cd))) | (
        (F.col(distance_col) == F.lit(float(cd))) & (F.col(id_col) > F.lit(cid))
    )
    return (
        out.filter(after)
        .orderBy(F.col(distance_col).asc(), F.col(id_col).asc())
        .limit(k)
    )


def recommend(
    df: DataFrame,
    positive_ids: Sequence[Any],
    negative_ids: Sequence[Any] = (),
    k: int = DEFAULT_LIMIT,
    metric: str = "cosine",
    filter: dict[str, Any] | Column | None = None,
    vector_col: str = "vector",
    id_col: str = "id",
    exclude_examples: bool = True,
    **knn_kwargs,
) -> DataFrame:
    """Recommend-by-examples (server/handlers/search.rs:1062-1077):
    query = mean(positive vectors) - mean(negative vectors), then kNN.

    The example lookup is a tiny collect (|pos|+|neg| rows by key) — the
    scan itself is the distributed part.
    """
    ids = list(positive_ids) + list(negative_ids)
    rows = (
        df.filter(F.col(id_col).isin(ids))
        .select(id_col, vector_col)
        .collect()
    )
    by_id = {r[0]: r[1] for r in rows}
    missing = [i for i in ids if i not in by_id]
    if missing:
        raise KeyError(f"example ids not found: {missing}")

    def mean(vecs: list[list[float]]) -> list[float] | None:
        if not vecs:
            return None
        dims = len(vecs[0])
        return [sum(float(v[i]) for v in vecs) / len(vecs) for i in range(dims)]

    if not positive_ids:
        raise ValueError("recommend() requires at least one positive "
                         "example id")
    dims = {len(by_id[i]) for i in ids}
    if len(dims) > 1:
        raise ValueError(f"example vectors have mixed dims: {sorted(dims)}")
    pos = mean([by_id[i] for i in positive_ids])
    neg = mean([by_id[i] for i in negative_ids])
    qv = [p - (neg[j] if neg else 0.0) for j, p in enumerate(pos)]

    base = df
    if exclude_examples:
        base = base.filter(~F.col(id_col).isin(ids))
    return knn(
        base, qv, k=k, metric=metric, filter=filter,
        vector_col=vector_col, id_col=id_col, **knn_kwargs,
    )
