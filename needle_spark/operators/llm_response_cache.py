"""Semantic caching of LLM responses (reference:
/root/reference/src/experimental/llm_cache.rs — LlmCacheConfig :51-120,
normalize_query :233-244, put :247-297, get_exact :299-340,
get_semantic :342-420, clear_expired :478-500, LlmCacheStats :157-180,
find_similar :568-586, CachedLlm :642-697, CacheWarmingConfig
:699-730, AdaptiveThresholdConfig :732-759, EnhancedLlmCache
:761-1020).

Two altitudes, matching how the thing is actually used:

* **Driver-side cache** (`LlmCache` / `EnhancedLlmCache` /
  `CachedLlm`): the per-process prompt->response store the reference
  implements.  Caches hold 1e2-1e5 entries by config — driver scale
  by construction — and the expensive thing being saved is an LLM API
  call, so a numpy argmax over the cached embedding matrix is the
  right altitude (same reasoning as operators/semantic_cache.py).

* **Distributed batch lookup** (`cache_lookup_batch`): the 100 TB
  shape the reference cannot express — given a DataFrame of incoming
  prompts (a batch inference job), split hit/miss against a cache
  TABLE in one scan: exact matches by normalized-text equi-join,
  semantic matches by broadcasting the (small) cache and taking the
  per-prompt arg-max similarity above threshold.  No shuffle of the
  batch side, no driver loop; misses flow straight to the model UDF.

`now_s` is injectable everywhere so TTL behavior is deterministic
under test.
"""

from __future__ import annotations

import math
import re
import time as _time
from dataclasses import dataclass, field
from typing import Any, Callable, Sequence

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from needle_spark.operators.knn_arrow import vector_matrix

_WS = re.compile(r"\s+")


def normalize_query(q: str) -> str:
    """Lowercase, trim, collapse internal whitespace
    (llm_cache.rs:233-244)."""
    return _WS.sub(" ", q.strip().lower())


def normalize_query_col(c: F.Column | str) -> F.Column:
    """The same normalization as a Catalyst expression, so batch
    lookups and the driver cache agree on exact-match keys."""
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


# ---------------------------------------------------------------------------
# Config / stats


@dataclass
class LlmCacheConfig:
    """llm_cache.rs:51-120 (builder methods collapsed to fields)."""

    dimensions: int
    max_entries: int = 10_000
    similarity_threshold: float = 0.95
    ttl_seconds: float = 3600.0
    metric: str = "cosine"
    cost_per_query: float = 0.0


@dataclass
class LlmCacheStats:
    total_queries: int = 0
    hits: int = 0
    misses: int = 0
    exact_matches: int = 0
    semantic_matches: int = 0
    semantic_similarity_sum: float = 0.0
    evictions: int = 0

    @property
    def hit_rate(self) -> float:
        return self.hits / self.total_queries if self.total_queries else 0.0

    @property
    def avg_semantic_similarity(self) -> float:
        return (self.semantic_similarity_sum / self.semantic_matches
                if self.semantic_matches else 0.0)

    def cost_saved(self, cost_per_query: float) -> float:
        return self.hits * cost_per_query


@dataclass
class CacheHit:
    response: str
    cached_query: str
    similarity: float
    metadata: Any = None
    age_seconds: float = 0.0


@dataclass
class _Entry:
    query: str
    embedding: np.ndarray
    response: str
    metadata: Any
    created_at: float
    access_count: int = 0
    last_accessed: float = 0.0
    ttl_seconds: float | None = None  # per-entry override of config.ttl_seconds


# ---------------------------------------------------------------------------
# Driver-side cache


class LlmCache:
    """LRU-evicting semantic response cache (llm_cache.rs:183-586)."""

    def __init__(self, config: LlmCacheConfig):
        self.config = config
        self._entries: dict[str, _Entry] = {}      # normalized query -> entry
        self._lru: list[str] = []                  # insertion/eviction order
        self.stats = LlmCacheStats()

    @staticmethod
    def _now(now_s: float | None) -> float:
        return _time.time() if now_s is None else float(now_s)

    def _similarity(self, a: np.ndarray, b: np.ndarray) -> float:
        if self.config.metric == "cosine":
            na, nb = np.linalg.norm(a), np.linalg.norm(b)
            if na == 0.0 or nb == 0.0:
                return 0.0
            return float(np.dot(a, b) / (na * nb))
        if self.config.metric == "dot":
            return float(np.dot(a, b))
        if self.config.metric == "euclidean":
            return 1.0 / (1.0 + float(np.linalg.norm(a - b)))
        raise ValueError(f"unsupported cache metric {self.config.metric!r}")

    def put(self, query: str, embedding: Sequence[float], response: str,
            metadata: Any = None, now_s: float | None = None,
            ttl_seconds: float | None = None) -> None:
        emb = np.asarray(embedding, dtype=np.float32)
        if emb.shape != (self.config.dimensions,):
            raise ValueError(
                f"embedding dim {emb.shape} != configured "
                f"({self.config.dimensions},)")
        now = self._now(now_s)
        key = normalize_query(query)
        if key in self._entries:           # update-in-place (llm_cache.rs:256-271)
            e = self._entries[key]
            e.response, e.embedding, e.metadata = response, emb, metadata
            e.created_at = now
            e.ttl_seconds = ttl_seconds
            return
        while len(self._entries) >= self.config.max_entries and self._lru:
            evict = self._lru.pop(0)
            self._entries.pop(evict, None)
            self.stats.evictions += 1
        self._entries[key] = _Entry(key, emb, response, metadata, now, 0, now,
                                    ttl_seconds)
        self._lru.append(key)

    def _fresh(self, e: _Entry, now: float) -> bool:
        ttl = e.ttl_seconds if e.ttl_seconds is not None \
            else self.config.ttl_seconds
        return (now - e.created_at) <= ttl

    def _touch(self, e: _Entry, now: float) -> None:
        e.access_count += 1
        e.last_accessed = now

    def get_exact(self, query: str, now_s: float | None = None) -> CacheHit | None:
        self.stats.total_queries += 1
        hit = self._exact(query, self._now(now_s))
        if hit is None:
            self.stats.misses += 1
        return hit

    def _exact(self, query: str, now: float) -> CacheHit | None:
        e = self._entries.get(normalize_query(query))
        if e is None or not self._fresh(e, now):
            return None
        self._touch(e, now)
        self.stats.hits += 1
        self.stats.exact_matches += 1
        return CacheHit(e.response, e.query, 1.0, e.metadata, now - e.created_at)

    def get_semantic(self, query: str, query_embedding: Sequence[float],
                     now_s: float | None = None,
                     threshold: float | None = None) -> CacheHit | None:
        """Exact first, then best unexpired match >= threshold
        (llm_cache.rs:342-420)."""
        self.stats.total_queries += 1
        now = self._now(now_s)
        hit = self._exact(query, now)
        if hit is not None:
            return hit
        thr = self.config.similarity_threshold if threshold is None else threshold
        q = np.asarray(query_embedding, dtype=np.float32)
        best: tuple[float, _Entry] | None = None
        for e in self._entries.values():
            if not self._fresh(e, now):
                continue
            sim = self._similarity(q, e.embedding)
            if sim >= thr and (best is None or sim > best[0]):
                best = (sim, e)
        if best is None:
            self.stats.misses += 1
            return None
        sim, e = best
        self._touch(e, now)
        self.stats.hits += 1
        self.stats.semantic_matches += 1
        self.stats.semantic_similarity_sum += sim
        return CacheHit(e.response, e.query, sim, e.metadata, now - e.created_at)

    def find_similar(self, query_embedding: Sequence[float],
                     limit: int = 10) -> list[tuple[str, float]]:
        q = np.asarray(query_embedding, dtype=np.float32)
        scored = sorted(
            ((e.query, self._similarity(q, e.embedding))
             for e in self._entries.values()),
            key=lambda t: -t[1])
        return scored[:limit]

    def clear_expired(self, now_s: float | None = None) -> int:
        now = self._now(now_s)
        dead = [k for k, e in self._entries.items() if not self._fresh(e, now)]
        for k in dead:
            del self._entries[k]
        self._lru = [k for k in self._lru if k in self._entries]
        return len(dead)

    def cached_queries(self) -> list[str]:
        return list(self._entries)

    def clear(self) -> None:
        self._entries.clear()
        self._lru.clear()

    def __len__(self) -> int:
        return len(self._entries)

    def to_df(self, spark) -> DataFrame:
        """Export as a cache TABLE for `cache_lookup_batch` — the
        bridge from per-process cache to cluster-wide batch reuse."""
        rows = [
            (e.query, [float(x) for x in e.embedding], e.response,
             float(e.created_at), int(e.access_count))
            for e in self._entries.values()
        ]
        return spark.createDataFrame(
            rows, "cached_query string, embedding array<float>, "
                  "response string, created_at double, access_count long")


# ---------------------------------------------------------------------------
# Adaptive threshold + warming (llm_cache.rs:699-1020)


@dataclass
class AdaptiveThresholdConfig:
    initial_threshold: float = 0.95
    min_threshold: float = 0.80
    max_threshold: float = 0.99
    target_hit_rate: float = 0.30
    adjustment_step: float = 0.01
    window_size: int = 100


class EnhancedLlmCache:
    """Adaptive-threshold wrapper: below-target hit rate lowers the
    threshold (more permissive), above-target raises it, clamped to
    [min, max] (llm_cache.rs:860-940)."""

    def __init__(self, config: LlmCacheConfig,
                 adaptive: AdaptiveThresholdConfig | None = None):
        self.inner = LlmCache(config)
        self.adaptive = adaptive
        self.current_threshold = (
            adaptive.initial_threshold if adaptive
            else config.similarity_threshold)
        self._recent: list[bool] = []

    def put(self, *args, **kwargs) -> None:
        self.inner.put(*args, **kwargs)

    def warm(self, seed: Sequence[tuple[str, Sequence[float], str]],
             now_s: float | None = None) -> int:
        for query, embedding, response in seed:
            self.inner.put(query, embedding, response, now_s=now_s)
        return len(seed)

    def get(self, query: str, embedding: Sequence[float],
            now_s: float | None = None) -> CacheHit | None:
        hit = self.inner.get_semantic(query, embedding, now_s=now_s,
                                      threshold=self.current_threshold)
        if self.adaptive is not None:
            self._recent.append(hit is not None)
            if len(self._recent) > self.adaptive.window_size:
                self._recent.pop(0)
            if len(self._recent) >= 10:
                rate = sum(self._recent) / len(self._recent)
                a = self.adaptive
                if rate < a.target_hit_rate:
                    self.current_threshold = max(
                        a.min_threshold,
                        self.current_threshold - a.adjustment_step)
                elif rate > a.target_hit_rate:
                    self.current_threshold = min(
                        a.max_threshold,
                        self.current_threshold + a.adjustment_step)
        return hit

    def popular_queries(self, min_access_count: int = 5) -> list[tuple[str, int]]:
        """Refresh candidates (llm_cache.rs:941-1000)."""
        return sorted(
            ((e.query, e.access_count)
             for e in self.inner._entries.values()
             if e.access_count >= min_access_count),
            key=lambda t: -t[1])


class CachedLlm:
    """Wrap an LLM callable with the cache (llm_cache.rs:642-697):
    `query()` embeds the prompt, serves a semantic hit if one exists,
    otherwise calls the model and stores the answer."""

    def __init__(self, config: LlmCacheConfig,
                 llm_fn: Callable[[str], str],
                 embed_fn: Callable[[str], Sequence[float]]):
        self.cache = LlmCache(config)
        self._llm = llm_fn
        self._embed = embed_fn
        self.llm_calls = 0

    def query(self, prompt: str, now_s: float | None = None) -> str:
        emb = self._embed(prompt)
        hit = self.cache.get_semantic(prompt, emb, now_s=now_s)
        if hit is not None:
            return hit.response
        self.llm_calls += 1
        response = self._llm(prompt)
        self.cache.put(prompt, emb, response, now_s=now_s)
        return response


# ---------------------------------------------------------------------------
# Distributed batch lookup


def cache_lookup_batch(batch: DataFrame, cache: DataFrame,
                       threshold: float, metric: str = "cosine",
                       now_s: float | None = None,
                       ttl_seconds: float | None = None,
                       query_col: str = "query",
                       vector_col: str = "embedding") -> DataFrame:
    """Split a prompt batch into cache hits and misses in ONE pass.

    `batch`: (.., query_col, vector_col); `cache`: (cached_query,
    embedding, response[, created_at]).  Exact hits match on the
    normalized text; remaining rows take the arg-max-similarity cache
    entry at or above `threshold` (llm_cache.rs get_semantic, with the
    exact-first shortcut).  Output adds (hit_type, cached_query,
    response, similarity); hit_type NULL = miss -> route to the model.

    Scale shape: the batch — arbitrarily large — is scanned ONCE with
    zero shuffles: exact hits come from a broadcast equi-join on the
    normalized text; the semantic arg-max runs as one Arrow-vectorized
    map stage against the in-closure cache matrix (bounded by
    max_entries — the same serialize-with-the-task-closure pattern as
    operators/knn_arrow.py).  No groupBy, no window, no anti-join.
    """
    from pyspark.sql import types as T

    if ttl_seconds is not None:
        now = _time.time() if now_s is None else float(now_s)
        cache = cache.filter(
            (F.lit(now) - F.col("created_at")) <= F.lit(float(ttl_seconds)))
    c_rows = cache.select("cached_query", "embedding", "response").collect()
    c_queries = [r["cached_query"] for r in c_rows]
    c_resps = [r["response"] for r in c_rows]
    if c_rows:
        c_mat = np.asarray([r["embedding"] for r in c_rows], dtype=np.float64)
        if metric == "cosine":
            norms = np.linalg.norm(c_mat, axis=1)
        elif metric in ("dot", "euclidean"):
            norms = None
        else:
            raise ValueError(f"unsupported batch-cache metric {metric!r}")
    # deterministic tie-break: among equal similarities pick the
    # lexicographically smallest cached_query (mirrors the SQL twin)
    order = sorted(range(len(c_rows)), key=lambda i: c_queries[i])

    thr = float(threshold)

    _out_t = T.StructType([
        T.StructField("cached_query", T.StringType()),
        T.StructField("response", T.StringType()),
        T.StructField("similarity", T.DoubleType()),
    ])

    def _best_match(embs):
        import pyarrow as pa

        n = len(embs)
        out_q = [None] * n
        out_r = [None] * n
        out_s = [None] * n
        if c_rows and n:
            Q = vector_matrix(embs, np.float64, vector_col)
            if metric == "cosine":
                qn = np.linalg.norm(Q, axis=1)
                denom = np.outer(qn, norms)
                with np.errstate(divide="ignore", invalid="ignore"):
                    S = np.where(denom == 0.0, 0.0, (Q @ c_mat.T) / denom)
            elif metric == "dot":
                S = Q @ c_mat.T
            else:  # euclidean -> similarity = 1/(1+d)
                d = np.sqrt(np.maximum(
                    (Q * Q).sum(1)[:, None] - 2.0 * (Q @ c_mat.T)
                    + (c_mat * c_mat).sum(1)[None, :], 0.0))
                S = 1.0 / (1.0 + d)
            So = S[:, order]
            best = np.argmax(So, axis=1)
            for i in range(n):
                s = float(So[i, best[i]])
                if s >= thr:
                    j = order[int(best[i])]
                    out_q[i], out_r[i], out_s[i] = c_queries[j], c_resps[j], s
        return pa.StructArray.from_arrays(
            [pa.array(out_q, pa.string()), pa.array(out_r, pa.string()),
             pa.array(out_s, pa.float64())],
            names=["cached_query", "response", "similarity"])

    best_match = F.arrow_udf(_best_match, _out_t)

    exact = cache.select(
        normalize_query_col("cached_query").alias("__norm"),
        F.col("cached_query").alias("__ex_query"),
        F.col("response").alias("__ex_resp"))

    b = batch.withColumn("__norm", normalize_query_col(query_col))
    joined = (
        b.join(F.broadcast(exact), "__norm", "left")
        .withColumn(
            "__sem",
            F.when(F.col("__ex_resp").isNull(), best_match(F.col(vector_col))))
    )
    out_cols = list(batch.columns) + [
        "hit_type", "cached_query", "response", "similarity"]
    return joined.select(
        *[F.col(f) for f in batch.columns],
        F.when(F.col("__ex_resp").isNotNull(), "exact")
        .when(F.col("__sem.response").isNotNull(), "semantic")
        .alias("hit_type"),
        F.coalesce(F.col("__ex_query"), F.col("__sem.cached_query"))
        .alias("cached_query"),
        F.coalesce(F.col("__ex_resp"), F.col("__sem.response"))
        .alias("response"),
        F.when(F.col("__ex_resp").isNotNull(), F.lit(1.0))
        .otherwise(F.col("__sem.similarity")).alias("similarity"),
    ).select(*out_cols)


def duckdb_cache_lookup_sql(batch_sql: str, cache_sql: str,
                            threshold: float,
                            metric_sql: Callable[[str, str], str]) -> str:
    """DuckDB twin of the semantic arm of `cache_lookup_batch` for
    batches with no exact-text hits: per query, arg-max similarity at
    or above threshold, ties broken by cached_query."""
    sim = f"1.0 - ({metric_sql('b.embedding', 'c.embedding')})"
    return f"""
WITH b AS ({batch_sql}), c AS ({cache_sql}),
scored AS (
  SELECT b.query_id, c.cached_query, c.response, {sim} AS similarity,
         row_number() OVER (
           PARTITION BY b.query_id
           ORDER BY {sim} DESC, c.cached_query ASC) AS rn
  FROM b, c
  WHERE {sim} >= {threshold}
)
SELECT b.query_id,
       CASE WHEN s.cached_query IS NULL THEN NULL
            ELSE 'semantic' END AS hit_type,
       s.cached_query, s.response, s.similarity
FROM b LEFT JOIN (SELECT * FROM scored WHERE rn = 1) s USING (query_id)
"""
