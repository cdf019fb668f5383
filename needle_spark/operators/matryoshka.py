"""Matryoshka (MRL) embedding search: variable-dimension prefixes with
coarse-to-fine refinement (reference: /root/reference/src/ml/
matryoshka.rs — truncate+renormalize :243-257, search_at_dimension
:387, search_coarse_to_fine :447-519, adaptive tier choice :520+,
standard tiers :58).

Spark shape: both phases are scan-level Catalyst expressions.  The
coarse pass computes distance on a renormalized dim-prefix (a fraction
of the FLOP cost; with a materialized truncated column it is also a
fraction of the scan bytes) and TakeOrdereds k*multiplier candidates;
the fine pass rescores only those rows at full/fine dimension.  No
shuffles beyond the two top-k reductions.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from needle_spark.functions.distance import (
    col_sql,
    distance_expr,
    l2_normalize_sql,
)

STANDARD_TIERS = (64, 128, 256, 384, 512, 768, 1024)


def truncate_expr(vec: Column | str, dim: int) -> Column:
    """Prefix-truncate to `dim` and L2-renormalize (matryoshka.rs
    truncate: MRL prefixes need renormalization to stay comparable)."""
    return F.expr(l2_normalize_sql(f"slice({col_sql(vec)}, 1, {int(dim)})"))


def truncate_py(v, dim: int) -> list[float]:
    """Driver-side twin of truncate_expr for query vectors."""
    t = [float(x) for x in v[:dim]]
    n = math.sqrt(sum(x * x for x in t))
    return [x / n for x in t] if n > 0 else t


@dataclass
class MatryoshkaConfig:
    """Tier policy (matryoshka.rs MatryoshkaConfig)."""

    full_dim: int
    tiers: tuple[int, ...] = field(default_factory=lambda: STANDARD_TIERS)
    # estimated per-(row·dim) scoring cost used by the adaptive policy;
    # calibrate from observed runs when available
    cost_per_row_dim_ns: float = 0.5

    def valid_tiers(self) -> list[int]:
        return sorted(d for d in self.tiers if d <= self.full_dim)

    def choose_tier(self, target_latency_ms: float, corpus_rows: int,
                    parallelism: int = 32) -> int:
        """Largest tier whose estimated coarse-pass latency fits the
        budget (search_adaptive's accuracy-vs-latency rule): cost ~
        rows x dim x unit / parallelism."""
        budget_ns = target_latency_ms * 1e6
        tiers = self.valid_tiers()
        if not tiers:  # every configured tier exceeds full_dim
            return self.full_dim
        best = tiers[0]
        for d in tiers:
            est = corpus_rows * d * self.cost_per_row_dim_ns / max(parallelism, 1)
            if est <= budget_ns:
                best = d
        return best


def search_at_dimension(
    df: DataFrame,
    query_vector,
    k: int = 10,
    dim: int = 64,
    metric: str = "cosine",
    vector_col: str = "vector",
    id_col: str = "id",
) -> DataFrame:
    """Single-phase search on a renormalized dim-prefix: (id, distance)."""
    qd = truncate_py(query_vector, dim)
    return (
        df.select(F.col(id_col), truncate_expr(vector_col, dim).alias("__trunc"))
        .select(F.col(id_col),
                distance_expr(metric, "__trunc", qd).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


def coarse_to_fine_search(
    df: DataFrame,
    query_vector,
    k: int = 10,
    coarse_dim: int = 64,
    fine_dim: int | None = None,
    candidate_multiplier: int = 4,
    metric: str = "cosine",
    vector_col: str = "vector",
    id_col: str = "id",
) -> DataFrame:
    """Two-phase MRL search (matryoshka.rs:447-519): coarse top
    k*multiplier on the coarse prefix, exact rescore on the fine
    prefix, top-k.  Output: (id, coarse_distance, distance) ordered by
    fine distance.

    Recall note (same tradeoff as the reference): the fine-rank answer
    is exact only within the coarse candidate set; raise
    `candidate_multiplier` to trade compute for recall."""
    full = len(list(query_vector))
    fine = fine_dim or full
    qc = truncate_py(query_vector, coarse_dim)
    qf = truncate_py(query_vector, fine) if fine < full else [
        float(x) for x in query_vector]

    cand = (
        df.select(F.col(id_col), F.col(vector_col),
                  truncate_expr(vector_col, coarse_dim).alias("__trunc"))
        .select(F.col(id_col), F.col(vector_col),
                distance_expr(metric, "__trunc", qc).alias("coarse_distance"))
        .orderBy(F.col("coarse_distance").asc(), F.col(id_col).asc())
        .limit(k * candidate_multiplier)
    )
    fvec = vector_col
    if fine < full:
        cand = cand.withColumn("__trunc", truncate_expr(vector_col, fine))
        fvec = "__trunc"
    return (
        cand.select(F.col(id_col), "coarse_distance",
                    distance_expr(metric, fvec, qf).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


def duckdb_truncate_sql(vec: str, dim: int) -> str:
    """DuckDB twin of truncate_expr (slice, L2-renormalize, float32
    round-trip matching the Spark float cast)."""
    sliced = f"{vec}[1:{dim}]"
    norm = (f"sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform({sliced}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
            f"(acc, x) -> acc + x))")
    return (
        f"CASE WHEN {norm} > 0.0 THEN "
        f"list_transform({sliced}, x -> CAST(CAST(x AS DOUBLE) / {norm} AS FLOAT)) "
        f"ELSE {sliced} END"
    )
