"""Named vector fields: documents carrying SEVERAL embeddings (title,
body, image, ...) searched per-field or fused.

Reference: /root/reference/src/services/collection/vector_namespace.rs —
VectorFieldDef/NamespaceSchema (:51-146: per-field dims + metric,
duplicate-field rejection, field validation), search_field (:228-266:
dimension-checked single-field search), fusion_search (:271-305:
per-field over-fetch k*3, reciprocal-rank fusion weight/(rank+60) with
0-based ranks, top-k by fused score).

Spark shape: each named field is just an array<float> column, so a
field search is the ordinary kNN plan on that column, and fusion is a
union of per-field rank windows + one groupBy sum — all lazy, no new
machinery."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class NamespaceError(ValueError):
    pass


@dataclass
class VectorFieldDef:
    """vector_namespace.rs:51-63."""

    name: str
    dimensions: int
    metric: str = "cosine"


class NamespaceSchema:
    """vector_namespace.rs:66-146."""

    def __init__(self, collection: str):
        self.collection = collection
        self.fields: dict[str, VectorFieldDef] = {}

    def add_field(self, field: VectorFieldDef) -> "NamespaceSchema":
        if field.name in self.fields:
            raise NamespaceError(f"duplicate field: {field.name!r}")
        if field.dimensions <= 0:
            raise NamespaceError("dimensions must be positive")
        self.fields[field.name] = field
        return self

    def get_field(self, name: str) -> VectorFieldDef | None:
        return self.fields.get(name)

    def field_names(self) -> list[str]:
        return list(self.fields)

    def validate_fields(self, provided: Sequence[str]) -> None:
        unknown = [f for f in provided if f not in self.fields]
        if unknown:
            raise NamespaceError(f"unknown fields: {unknown}")


def search_field(
    df: DataFrame,
    schema: NamespaceSchema,
    field: str,
    query_vector: Sequence[float],
    k: int = 10,
    id_col: str = "id",
    flt=None,
) -> DataFrame:
    """Dimension-checked single-field search (search_field :228):
    (id, distance, field)."""
    fd = schema.get_field(field)
    if fd is None:
        raise NamespaceError(f"unknown field: {field!r}")
    if len(query_vector) != fd.dimensions:
        raise NamespaceError(
            f"dimension mismatch for {field!r}: expected {fd.dimensions}, "
            f"got {len(query_vector)}")
    from needle_spark.operators.knn import knn

    return knn(
        df.filter(F.col(field).isNotNull()), query_vector, k=k,
        metric=fd.metric, filter=flt, vector_col=field, id_col=id_col,
    ).select(id_col, "distance", F.lit(field).alias("field"))


def fusion_search(
    df: DataFrame,
    schema: NamespaceSchema,
    queries: Sequence[tuple[str, Sequence[float], float]],
    k: int = 10,
    id_col: str = "id",
) -> DataFrame:
    """Weighted RRF across fields (fusion_search :271-305): each
    (field, vector, weight) query over-fetches k*3, contributes
    weight/(rank+60) with 0-based ranks, fused per document.  Returns
    (id, score) top-k."""
    if not queries:
        raise NamespaceError("fusion_search needs at least one field query")
    schema.validate_fields([f for f, _, _ in queries])
    per_field_k = k * 3
    parts = []
    for field, qv, weight in queries:
        hits = search_field(df, schema, field, qv, k=per_field_k, id_col=id_col)
        w = Window.orderBy(F.col("distance").asc(), F.col(id_col).asc())
        parts.append(hits.select(
            F.col(id_col),
            (F.lit(float(weight))
             / (F.row_number().over(w).cast("double") - 1.0 + 60.0)
             ).alias("__c"),
        ))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy(id_col).agg(F.sum("__c").alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


FUSION_STRATEGIES = ("weighted_sum", "min_distance", "max_distance",
                     "rrf", "concatenate")


def multimodal_fusion_search(
    df: DataFrame,
    schema: NamespaceSchema,
    queries: Sequence[tuple[str, Sequence[float], float]],
    k: int = 10,
    strategy: str = "weighted_sum",
    id_col: str = "id",
) -> DataFrame:
    """Late multi-modal fusion (src/indexing/multimodal_fusion.rs
    FusionStrategy :173-186, compute_fusion_score :402-449): fuse
    per-modality distances into one score, lower = better.

    Spark shape — BETTER than the reference's per-doc loop: every
    modality is a column of the same row, so all per-modality distances
    AND the fused score compute in ONE scan expression; no unions, no
    shuffles, one TakeOrdered for the top-k.  Missing modalities are
    NULL columns: weighted_sum renormalizes over the present weights,
    min/max skip NULLs, rrf sums 1/(60+d) over present.  `concatenate`
    requires every queried field present (rows missing one drop —
    documented deviation from the reference's shared-subset concat)."""
    if strategy not in FUSION_STRATEGIES:
        raise NamespaceError(f"unknown fusion strategy: {strategy!r}")
    if not queries:
        raise NamespaceError("multimodal_fusion_search needs >= 1 query")
    schema.validate_fields([f for f, _, _ in queries])
    from needle_spark.functions.distance import distance_expr

    dcols, weights = [], []
    for field, qv, weight in queries:
        fd = schema.get_field(field)
        if len(qv) != fd.dimensions:
            raise NamespaceError(
                f"dimension mismatch for {field!r}: expected "
                f"{fd.dimensions}, got {len(qv)}")
        d = F.when(F.col(field).isNotNull(),
                   distance_expr(fd.metric, field, [float(x) for x in qv]))
        dcols.append(d.alias(f"d_{field}"))
        weights.append(float(weight))

    out = df.select(id_col, *dcols)
    ds = [F.col(f"d_{f}") for f, _, _ in queries]
    present = [d.isNotNull() for d in ds]

    if strategy == "weighted_sum":
        wsum = None
        wtot = None
        for d, p, w in zip(ds, present, weights):
            term = F.when(p, d * w).otherwise(F.lit(0.0))
            wterm = F.when(p, F.lit(w)).otherwise(F.lit(0.0))
            wsum = term if wsum is None else wsum + term
            wtot = wterm if wtot is None else wtot + wterm
        score = F.when(wtot > 0, wsum / wtot)
    elif strategy == "min_distance":
        score = F.least(*ds) if len(ds) > 1 else ds[0]
    elif strategy == "max_distance":
        score = F.greatest(*ds) if len(ds) > 1 else ds[0]
    elif strategy == "rrf":
        acc = None
        for d, p in zip(ds, present):
            term = F.when(p, 1.0 / (60.0 + d)).otherwise(F.lit(0.0))
            acc = term if acc is None else acc + term
        score = F.when(acc > 0, 1.0 / acc)
    else:  # concatenate
        fields = [f for f, _, _ in queries]
        fd0 = schema.get_field(fields[0])
        concat_q = [float(x) for _, qv, _ in queries for x in qv]
        out = df
        for f in fields:
            out = out.filter(F.col(f).isNotNull())
        out = out.withColumn(
            "__concat_v", F.concat(*[F.col(f) for f in fields])
        ).select(
            id_col, *dcols,
            distance_expr(fd0.metric, "__concat_v", concat_q).alias("__concat_d"))
        score = F.col("__concat_d")

    present_arr = F.filter(
        F.array(*[F.when(p, F.lit(f)) for (f, _, _), p
                  in zip(queries, present)]),
        lambda x: x.isNotNull())
    return (out.withColumn("score", score)
            .withColumn("modalities_present", present_arr)
            .filter(F.col("score").isNotNull())
            .orderBy(F.col("score").asc(), F.col(id_col).asc())
            .limit(int(k)))
