"""Insert-time semantic-dedup policies (VERDICT r9 missing #1).

The reference gates every insert through a 1-NN near-duplicate check
and applies a configurable policy when one fires
(src/collection/dedup.rs:80-161 ``check_dedup`` / ``apply_dedup_policy``,
wired into the insert path at src/collection/insert.rs:147; presets at
src/collection/config.rs:175-190):

- **Reject**   — refuse the insert (default).
- **MergeMetadata** — keep the existing vector, shallow-merge the new
  row's metadata JSON into it (dedup.rs:230 ``merge_json_values``:
  overlay keys overwrite; non-objects replace).
- **Version**  — store the new vector under ``{id}-v{N}`` where N is
  the collection length at insert time (dedup.rs:152).

Reference semantics are SEQUENTIAL: each insert sees the collection as
mutated by all earlier inserts, so within one batch an earlier accepted
row can be the duplicate target of a later one.  The Spark-first split:

- The batch-vs-EXISTING 1-NN is distributed — ONE scan of the
  collection with the (API-payload-sized) batch broadcast, partial
  min aggregation map-side.  This is the piece that must scale to
  100 TB, and it shuffles only (batch_id, best-so-far) pairs.
- The batch-vs-BATCH resolution is driver-local: insert batches are
  request payloads (bounded by construction), their pairwise distances
  are one numpy kernel, and the greedy policy walk is O(batch + pairs)
  driver state.  No semantics are approximated.

The accepted-set under the Reject policy is DuckDB-expressible (a
recursive-CTE greedy over the same distances) — oracle row
``insert_dedup_reject`` in __spark_entry__.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from needle_spark.functions.distance import distance_expr
from needle_spark.operators.knn_arrow import _distance_matrix, vector_matrix

_POLICIES = ("reject", "merge_metadata", "version")


@dataclass
class SemanticDedupConfig:
    """Mirror of the reference's SemanticDedupConfig
    (config.rs:152-199): enabled flag, distance threshold (cosine by
    default, 0.0 == identical), and the on-duplicate policy."""

    enabled: bool = False
    distance_threshold: float = 0.02
    policy: str = "reject"
    metric: str = "cosine"

    def __post_init__(self) -> None:
        if self.policy not in _POLICIES:
            raise ValueError(f"policy must be one of {_POLICIES}")
        if not 0.0 < float(self.distance_threshold):
            raise ValueError("distance_threshold must be positive")

    # presets (config.rs:175-190) — all Reject, thresholds 0.01/.05/.1
    @classmethod
    def strict(cls) -> "SemanticDedupConfig":
        return cls(enabled=True, distance_threshold=0.01)

    @classmethod
    def moderate(cls) -> "SemanticDedupConfig":
        return cls(enabled=True, distance_threshold=0.05)

    @classmethod
    def relaxed(cls) -> "SemanticDedupConfig":
        return cls(enabled=True, distance_threshold=0.1)

    @classmethod
    def new(cls, threshold: float, policy: str) -> "SemanticDedupConfig":
        return cls(enabled=True, distance_threshold=threshold,
                   policy=policy)

    def to_manifest(self) -> dict:
        return {"enabled": self.enabled,
                "distance_threshold": float(self.distance_threshold),
                "policy": self.policy, "metric": self.metric}

    @classmethod
    def from_manifest(cls, d: dict | None) -> "SemanticDedupConfig":
        if not d:
            return cls()
        return cls(enabled=bool(d.get("enabled", False)),
                   distance_threshold=float(
                       d.get("distance_threshold", 0.02)),
                   policy=str(d.get("policy", "reject")),
                   metric=str(d.get("metric", "cosine")))


@dataclass
class InsertDedupResult:
    """Per-batch outcome of the policy walk."""

    accepted: "DataFrame"          # rows to append (ids/meta resolved)
    outcomes: list[dict] = field(default_factory=list)
    # existing_id -> merged metadata JSON string (MergeMetadata hits
    # whose target is an EXISTING collection row)
    meta_updates: dict[str, str] = field(default_factory=dict)
    counts: dict = field(default_factory=dict)


def merge_json_str(existing: str | None, new: str | None) -> str | None:
    """Shallow JSON merge (dedup.rs:230): object+object merges keys
    with the new side winning; anything else is replaced by new (a
    null new value keeps existing, matching the reference's
    ``if let Some(new_meta)`` gate)."""
    if new is None:
        return existing
    try:
        b = json.loads(existing) if existing is not None else {}
    except (TypeError, ValueError):
        b = None
    try:
        o = json.loads(new)
    except (TypeError, ValueError):
        return new
    if isinstance(b, dict) and isinstance(o, dict):
        b.update(o)
        return json.dumps(b, sort_keys=True, separators=(",", ":"))
    return new


def _nn_vs_existing(existing: DataFrame, bids: list, V: np.ndarray, cfg,
                    id_col: str, vector_col: str):
    """Distributed 1-NN of each batch row against the existing
    collection: broadcast the batch (API-payload-sized), one scan of
    the collection, map-side partial min — shuffles only (batch_id,
    min-struct) per partition.  Returns {batch_id: (distance,
    existing_id)} for rows with a within-threshold nearest (plus the
    exact 1-NN beyond threshold is irrelevant — reference only acts
    under the threshold, dedup.rs:96)."""
    spark = existing.sparkSession
    if not bids:
        return {}
    bdf = spark.createDataFrame(
        [(str(b), v) for b, v in zip(bids, V.tolist())],
        schema="__bid string, __bvec array<float>")
    d = distance_expr(cfg.metric, F.col(vector_col), F.col("__bvec"))
    nn = (existing.select(F.col(id_col).alias("__eid"),
                          F.col(vector_col))
          .crossJoin(F.broadcast(bdf))
          .select("__bid",
                  F.struct(d.cast("double").alias("d"),
                           F.col("__eid").alias("eid")).alias("__s"))
          .groupBy("__bid").agg(F.min("__s").alias("__s"))
          .select("__bid", "__s.d", "__s.eid"))
    return {r["__bid"]: (float(r["d"]), r["eid"]) for r in nn.collect()}


def _pairwise(V: np.ndarray, metric: str) -> np.ndarray:
    """Within-batch pairwise distance matrix (driver-local numpy —
    batches are request payloads, bounded by construction)."""
    if len(V) == 0:
        return np.zeros((0, 0))
    return _distance_matrix(V, V, metric)


def apply_insert_dedup(existing: DataFrame, batch: DataFrame,
                       cfg: SemanticDedupConfig, *,
                       id_col: str = "id", vector_col: str = "vector",
                       metadata_col: str = "metadata",
                       existing_count: int | None = None,
                       order_col: str | None = None) -> InsertDedupResult:
    """Run the reference's sequential insert-dedup gate over a batch.

    Batch order (the reference's insert order) is ``order_col`` if
    given, else ascending ``id_col`` — documented and oracle-visible.
    Returns the accepted frame (schema == batch schema; versioned ids
    substituted, batch-target metadata merges applied), per-row
    outcomes in batch order, and metadata patches for EXISTING rows
    (MergeMetadata whose 1-NN was already in the collection)."""
    if not cfg.enabled:
        return InsertDedupResult(
            accepted=batch, outcomes=[],
            counts={"inserted": batch.count(), "rejected": 0,
                    "merged": 0, "versioned": 0, "checked": 0})
    cols = batch.columns
    if cfg.policy == "version":
        # versioned ids are "{id}-v{N}" STRINGS (dedup.rs:152); on a
        # numeric id column the rebuild would fail or coerce-corrupt
        id_t = batch.schema[id_col].dataType.simpleString()
        if id_t != "string":
            raise ValueError(
                "policy='version' requires a string id column "
                f"(got {id_t}): versioned ids are '{{id}}-v{{N}}' strings")
    has_meta = metadata_col in cols
    sort_key = order_col or id_col
    sel = batch.orderBy(sort_key).select(
        F.col(id_col).cast("string").alias("__bid"),
        F.col(vector_col).cast("array<float>").alias("__bvec"),
        *(F.col(c) for c in cols))
    tbl = sel.toArrow()
    thr = float(cfg.distance_threshold)
    V = vector_matrix(tbl.column("__bvec"), np.float64, vector_col)
    bids = tbl.column("__bid").to_pylist()
    nn_exist = _nn_vs_existing(existing, bids, V, cfg, id_col, vector_col)
    D = _pairwise(V, cfg.metric)
    n_exist = (existing_count if existing_count is not None
               else existing.count())

    coll_len = n_exist
    # accepted batch rows: list of (row_index, served_id)
    accepted: list[tuple[int, str]] = []
    # pending per-row overrides for the accepted frame
    id_override: dict[int, str] = {}
    meta_override: dict[int, str] = {}
    meta_updates: dict[str, str] = {}
    outcomes: list[dict] = []
    counts = {"inserted": 0, "rejected": 0, "merged": 0,
              "versioned": 0, "checked": len(bids)}

    metas = (tbl.column(metadata_col).to_pylist() if has_meta
             else [None] * len(bids))

    for i, bid in enumerate(bids):
        # global 1-NN over the CURRENT collection = min of the
        # existing-side 1-NN and the accepted-so-far batch rows;
        # ties break on (distance, id) for determinism
        best: tuple[float, str] | None = None
        e = nn_exist.get(bid)
        if e is not None and e[0] < thr:
            best = e
        for j, jid in accepted:
            dij = float(D[i, j])
            if dij < thr and (best is None or (dij, jid) < best):
                best = (dij, jid)
        if best is None:
            accepted.append((i, bid))
            coll_len += 1
            counts["inserted"] += 1
            outcomes.append({"id": bid, "action": "inserted"})
            continue
        dist, target = best
        if cfg.policy == "reject":
            counts["rejected"] += 1
            outcomes.append({"id": bid, "action": "rejected",
                             "existing_id": target, "distance": dist})
        elif cfg.policy == "merge_metadata":
            counts["merged"] += 1
            outcomes.append({"id": bid, "action": "merged",
                             "existing_id": target, "distance": dist})
            if metas[i] is None:
                continue  # reference: no new metadata -> nothing merged
            tgt_idx = next((j for j, jid in accepted if jid == target),
                           None)
            if tgt_idx is not None:
                base = meta_override.get(
                    tgt_idx, metas[tgt_idx] if has_meta else None)
                meta_override[tgt_idx] = merge_json_str(base, metas[i])
            else:
                base = meta_updates.get(target)
                if base is None and has_meta:
                    row = (existing
                           .filter(F.col(id_col).cast("string")
                                   == target)
                           .select(metadata_col).collect())
                    base = row[0][0] if row else None
                meta_updates[target] = merge_json_str(base, metas[i])
        else:  # version (dedup.rs:152: "{id}-v{len}")
            vid = f"{bid}-v{coll_len}"
            accepted.append((i, vid))
            id_override[i] = vid
            coll_len += 1
            counts["versioned"] += 1
            outcomes.append({"id": bid, "action": "versioned",
                             "versioned_id": vid,
                             "existing_id": target, "distance": dist})

    # build the accepted frame on the driver (same bounded batch) with
    # overrides applied, preserving the batch's column schema
    keep_idx = [i for i, _ in accepted]
    out = tbl.select(cols).take(pa.array(keep_idx, pa.int64())).to_pydict()
    if id_override:
        out[id_col] = [id_override.get(i, bids[i]) for i in keep_idx]
    if meta_override and has_meta:
        out[metadata_col] = [
            meta_override.get(i, metas[i]) for i in keep_idx]
    acc_df = batch.sparkSession.createDataFrame(
        list(zip(*(out[c] for c in cols))), schema=batch.schema)
    return InsertDedupResult(accepted=acc_df, outcomes=outcomes,
                             meta_updates=meta_updates, counts=counts)


def insert_dedup_reject_ids(existing: DataFrame, batch: DataFrame,
                            threshold: float, *, id_col: str = "id",
                            vector_col: str = "vector",
                            metric: str = "cosine") -> DataFrame:
    """Oracle-shaped wrapper: the ACCEPTED id set under the Reject
    policy (the surviving inserts), as a one-column DataFrame sorted
    by id — DuckDB twin is a recursive-CTE greedy over the identical
    distances (see __spark_entry__._insert_dedup_reject_sql)."""
    cfg = SemanticDedupConfig.new(threshold, "reject")
    cfg.metric = metric
    res = apply_insert_dedup(existing, batch, cfg, id_col=id_col,
                             vector_col=vector_col)
    return res.accepted.select(id_col).orderBy(id_col)
