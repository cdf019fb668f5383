"""Multi-replica CRDT vector collections over distributed op logs
(reference: /root/reference/src/experimental/crdt.rs — HLC :65-120,
Operation :124-143, VectorCRDT apply/LWW :294-436, Delta/merge
:448-541, Merkle anti-entropy :831-1063; collaborative layer
/root/reference/src/search/collaborative_search.rs — annotations
:433-447, AnnotationStore :563-660).

Spark-first mapping.  The reference replays a per-replica BTreeMap op
log through a sequential `apply_operation` loop; a Spark engine keeps
each replica's log as an ordinary append-only DataFrame/Parquet table
and computes the CONVERGED state as one distributed arg-max: union
the logs, take per id (and per metadata key) the operation with the
greatest HLC `(physical, logical, replica)`, and let a trailing
delete tombstone the row.  That is the LWW fixpoint every replica
reaches after full anti-entropy, computed in a single hash
aggregation — no sequential replay, no driver state, and it scales to
a 100 TB log exactly like any other groupBy.

Semantics note (documented deviation): the reference's sequential
`apply_operation` is apply-order-sensitive for update-after-delete
races (a delete observed first suppresses a later-arriving but
older-stamped update; crdt.rs:395-435).  The distributed merge here
computes the order-INDEPENDENT closure — the state all replicas
converge to regardless of delivery order: newest add/update wins
unless an even newer delete exists; a newer add revives (matching
Add's replace semantics, crdt.rs:300-316).

Anti-entropy: `merkle_digests` buckets ids with a stable hash and
folds each bucket to one digest in a single aggregation; two replicas
exchange ONLY the digest tables (O(buckets) rows) and then ship ops
for the buckets whose digests differ — the reference's MerkleTree
diff (crdt.rs:932-967) as a broadcast join instead of a tree walk.

HLC clock logic (tick/receive) is inherently a driver/ingest-side
scalar — kept as a tiny pure-Python class, property-tested.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# Hybrid Logical Clock (crdt.rs:65-120)


@dataclass(frozen=True, order=True)
class HLC:
    """Hybrid logical clock timestamp; totally ordered by
    (physical, logical, replica) exactly like the Rust derive(Ord)."""

    physical: int
    logical: int
    replica: int


@dataclass
class HlcClock:
    """Per-replica clock: `tick` for local events, `receive` to fold a
    remote timestamp in (crdt.rs:93-119).  `now_ms` is injected so
    tests and deterministic pipelines control physical time."""

    replica: int
    physical: int = 0
    logical: int = 0

    def tick(self, now_ms: int) -> HLC:
        if now_ms > self.physical:
            self.physical = now_ms
            self.logical = 0
        else:
            self.logical += 1
        return HLC(self.physical, self.logical, self.replica)

    def receive(self, remote: HLC, now_ms: int) -> HLC:
        if now_ms > self.physical and now_ms > remote.physical:
            self.physical = now_ms
            self.logical = 0
        elif self.physical > remote.physical:
            self.logical += 1
        elif remote.physical > self.physical:
            self.physical = remote.physical
            self.logical = remote.logical + 1
        else:
            self.logical = max(self.logical, remote.logical) + 1
        return HLC(self.physical, self.logical, self.replica)


# ---------------------------------------------------------------------------
# Op-log schema (Operation, crdt.rs:124-143, flattened to columns)

OP_LOG_SCHEMA = T.StructType([
    T.StructField("id", T.StringType(), False),
    T.StructField("op", T.StringType(), False),          # add|update|update_meta|delete
    T.StructField("vector", T.ArrayType(T.FloatType()), True),
    T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    T.StructField("meta_key", T.StringType(), True),     # update_meta only
    T.StructField("meta_value", T.StringType(), True),   # None => remove key
    T.StructField("physical", T.LongType(), False),
    T.StructField("logical", T.IntegerType(), False),
    T.StructField("replica", T.LongType(), False),
])

_VALUE_OPS = ("add", "update")          # ops that set the vector value
_HLC_COLS = ("physical", "logical", "replica")


def _hlc_struct(prefix: str = "") -> F.Column:
    return F.struct(*[F.col(prefix + c).alias(c) for c in _HLC_COLS])


def make_op(id: str, op: str, hlc: HLC, *, vector: Sequence[float] | None = None,
            metadata: dict[str, str] | None = None,
            meta_key: str | None = None, meta_value: str | None = None) -> dict:
    """One op-log row (TimestampedOp, crdt.rs:145-163).  A NaN or ±Inf
    vector component raises ValueError: needle rejects it at insert."""
    if op not in ("add", "update", "update_meta", "delete"):
        raise ValueError(f"unknown CRDT op {op!r}")
    if vector is not None:
        vector = list(map(float, vector))
        if not all(math.isfinite(x) for x in vector):
            raise ValueError(f"CRDT op {id!r}: NaN or infinite vector component")
    return {
        "id": id, "op": op,
        "vector": vector,
        "metadata": dict(metadata) if metadata is not None else None,
        "meta_key": meta_key, "meta_value": meta_value,
        "physical": hlc.physical, "logical": hlc.logical, "replica": hlc.replica,
    }


def op_log_df(spark: SparkSession, ops: Iterable[dict]) -> DataFrame:
    # JVM-resident local relation (see session.local_df): op logs are
    # merged and re-scanned by several downstream actions, and a
    # Python-resident relation re-ships its rows through a Python
    # worker on every one of them
    from needle_spark.session import local_df

    return local_df(spark, list(ops), OP_LOG_SCHEMA)


# ---------------------------------------------------------------------------
# Convergent merge (the distributed LWW fixpoint)


def merge_op_logs(*logs: DataFrame) -> DataFrame:
    """Union per-replica op logs into one log; duplicate deliveries of
    the same (HLC, id, op) collapse — HLCs are unique per origin event,
    so dropDuplicates is the idempotent-delivery guard the reference's
    `operation_log.contains_key` check provides (crdt.rs:503-506)."""
    out = logs[0]
    for l in logs[1:]:
        out = out.unionByName(l)
    return out.dropDuplicates(["id", "op", "meta_key", *_HLC_COLS])


def crdt_state(op_log: DataFrame) -> DataFrame:
    """Converged collection state from a (merged) op log — ONE hash
    aggregation per id plus one per (id, metadata key), both map-side
    combined.  Output: (id, vector, metadata, updated_physical,
    updated_logical, updated_replica) for live rows only
    (tombstoned ids are dropped, crdt.rs:440-445 `list`).

    LWW rules (convergent closure of apply_operation, crdt.rs:394-436):
      * value   = vector of the max-HLC add/update op
      * deleted = max-HLC delete op outranks the max-HLC value op
      * metadata per key = max-HLC among update_meta ops and add-op
        initial metadata (add metadata is stamped with the add's HLC);
        a NULL meta_value removes the key; metadata attached to a
        value op older than the winning add is discarded (Add replaces
        the whole entry, crdt.rs:300-316).
    """
    hlc = _hlc_struct()

    # -- per-id winner among value ops, and the newest delete ---------------
    per_id = op_log.groupBy("id").agg(
        F.max_by(
            F.struct(F.col("vector"), F.col("metadata"), hlc.alias("hlc")),
            F.when(F.col("op").isin(*_VALUE_OPS), hlc),
        ).alias("win"),
        F.max(F.when(F.col("op") == "delete", hlc)).alias("del_hlc"),
        F.max(F.when(F.col("op") == "add", hlc)).alias("add_hlc"),
    )
    live = per_id.filter(
        F.col("win").isNotNull()
        & (F.col("del_hlc").isNull() | (F.col("del_hlc") < F.col("win.hlc")))
    )

    # -- per-(id, key) metadata winner --------------------------------------
    # add ops contribute their whole initial map; update_meta ops one key.
    meta_src = op_log.filter(
        ((F.col("op") == "add") & F.col("metadata").isNotNull())
        | (F.col("op") == "update_meta")
    )
    kv = meta_src.select(
        "id", *_HLC_COLS,
        F.explode(
            F.when(F.col("op") == "add", F.col("metadata"))
            .otherwise(F.create_map(F.col("meta_key"), F.col("meta_value")))
        ).alias("k", "v"),
    )
    meta_win = kv.groupBy("id", "k").agg(
        F.max_by(F.struct(F.col("v"), _hlc_struct().alias("hlc")), _hlc_struct())
        .alias("w"),
    )
    meta_map = (
        meta_win
        .join(live.select("id", F.col("add_hlc")), "id", "inner")
        # keys whose winning write predates the winning add were replaced
        .filter(F.col("add_hlc").isNull() | (F.col("w.hlc") >= F.col("add_hlc")))
        .filter(F.col("w.v").isNotNull())
        .groupBy("id")
        .agg(F.map_from_entries(
            F.array_sort(F.collect_list(F.struct(F.col("k"), F.col("w.v").alias("v"))))
        ).alias("metadata"))
    )

    return (
        live.join(meta_map, "id", "left")
        .select(
            "id",
            F.col("win.vector").alias("vector"),
            F.col("metadata"),
            F.col("win.hlc.physical").alias("updated_physical"),
            F.col("win.hlc.logical").alias("updated_logical"),
            F.col("win.hlc.replica").alias("updated_replica"),
        )
    )


def delta_since(op_log: DataFrame, since: HLC | None) -> DataFrame:
    """Ops strictly after `since` (crdt.rs:448-468) — a pushdown-able
    range predicate on the physical column plus the exact HLC tuple
    compare for the boundary millisecond."""
    if since is None:
        return op_log
    bound = F.struct(
        F.lit(since.physical).alias("physical"),
        F.lit(since.logical).alias("logical"),
        F.lit(since.replica).alias("replica"),
    )
    # coarse pushdown filter first, exact tuple compare second
    return op_log.filter(F.col("physical") >= since.physical).filter(
        _hlc_struct() > bound
    )


def merge_stats(local_log: DataFrame, delta: DataFrame, replica_id: int) -> DataFrame:
    """MergeResult counts (crdt.rs:477-541) as one aggregation over the
    incoming delta joined against the local log: applied (new foreign
    ops), skipped (own ops + already-seen HLCs), conflicts (same id,
    same physical ms, different replica than the local winner)."""
    seen = (local_log.select(*_HLC_COLS).dropDuplicates()
            .withColumn("__seen", F.lit(True)))
    local_win = crdt_state(local_log).select(
        "id", F.col("updated_physical"), F.col("updated_replica"))
    d = (
        delta
        .join(seen, list(_HLC_COLS), "left")
        .withColumn("__seen", F.coalesce(F.col("__seen"), F.lit(False)))
        .join(local_win, "id", "left")
    )
    return d.agg(
        F.sum(F.when((F.col("replica") != replica_id) & ~F.col("__seen"), 1)
              .otherwise(0)).cast("long").alias("applied"),
        F.sum(F.when((F.col("replica") == replica_id) | F.col("__seen"), 1)
              .otherwise(0)).cast("long").alias("skipped"),
        F.sum(F.when(
            (F.col("replica") != replica_id) & ~F.col("__seen")
            & F.col("op").isin("update", "delete")
            & (F.col("updated_physical") == F.col("physical"))
            & (F.col("updated_replica") != F.col("replica")), 1)
            .otherwise(0)).cast("long").alias("conflicts"),
    )


# ---------------------------------------------------------------------------
# Merkle anti-entropy (crdt.rs:831-1063)


def merkle_digests(state: DataFrame, buckets: int = 256) -> DataFrame:
    """Per-bucket content digest of a converged state — ONE map-side
    combined aggregation.  Bucket = stable hash of id; digest = XOR of
    per-row hashes (commutative/associative, so partitioning never
    changes it, and overflow-free under ANSI mode).  Two replicas
    compare these O(buckets)-row tables instead of shipping full logs
    (MerkleTree::diff, crdt.rs:932-955)."""
    # the metadata map rides in the hash as canonical JSON (entries
    # are array_sort'ed in crdt_state, so the rendering is replica-
    # independent): update_meta ops do NOT bump the value HLC, so an
    # HLC-only digest would report metadata-divergent replicas as
    # in-sync and anti-entropy would never converge them
    row_hash = F.xxhash64(
        F.col("id"), F.col("updated_physical"), F.col("updated_logical"),
        F.col("updated_replica"), F.to_json(F.col("metadata")))
    return (
        state
        .withColumn("bucket", F.pmod(F.xxhash64("id"), F.lit(buckets)).cast("int"))
        .groupBy("bucket")
        .agg(F.bit_xor(row_hash).alias("digest"),
             F.count(F.lit(1)).alias("n"))
    )


def merkle_changed_buckets(local_dig: DataFrame, remote_dig: DataFrame) -> DataFrame:
    """Buckets whose digests differ (including buckets present on only
    one side) — a full-outer join on O(buckets) rows."""
    l = local_dig.select("bucket", F.col("digest").alias("l_digest"))
    r = remote_dig.select("bucket", F.col("digest").alias("r_digest"))
    return (
        l.join(r, "bucket", "full_outer")
        .filter(
            F.col("l_digest").isNull() | F.col("r_digest").isNull()
            | (F.col("l_digest") != F.col("r_digest")))
        .select("bucket")
    )


def merkle_delta(op_log: DataFrame, changed_buckets: DataFrame,
                 buckets: int = 256) -> DataFrame:
    """Ops belonging to out-of-sync buckets only (crdt.rs:1016-1063):
    the changed-bucket set is tiny — broadcast semi-join against the
    log, so the exchange ships only what actually differs."""
    tagged = op_log.withColumn(
        "bucket", F.pmod(F.xxhash64("id"), F.lit(buckets)).cast("int"))
    return tagged.join(
        F.broadcast(changed_buckets), "bucket", "left_semi").drop("bucket")


# ---------------------------------------------------------------------------
# Collaborative annotations (collaborative_search.rs:433-447,563-660)


ANNOTATION_SCHEMA = T.StructType([
    T.StructField("document_id", T.StringType(), False),
    T.StructField("annotation_id", T.StringType(), False),
    T.StructField("user_id", T.StringType(), False),
    T.StructField("content", T.StringType(), True),   # None => tombstone
    T.StructField("physical", T.LongType(), False),
    T.StructField("logical", T.IntegerType(), False),
    T.StructField("replica", T.LongType(), False),
])


def merged_annotations(*logs: DataFrame) -> DataFrame:
    """Add-wins annotation merge: per annotation_id keep the max-HLC
    write; NULL content tombstones.  Same arg-max shape as the vector
    state — one aggregation, convergent under any delivery order."""
    log = logs[0]
    for l in logs[1:]:
        log = log.unionByName(l)
    win = log.groupBy("document_id", "annotation_id").agg(
        F.max_by(
            F.struct(F.col("user_id"), F.col("content"), _hlc_struct().alias("hlc")),
            _hlc_struct()).alias("w"))
    return win.filter(F.col("w.content").isNotNull()).select(
        "document_id", "annotation_id",
        F.col("w.user_id").alias("user_id"),
        F.col("w.content").alias("content"),
        F.col("w.hlc.physical").alias("physical"),
        F.col("w.hlc.logical").alias("logical"),
        F.col("w.hlc.replica").alias("replica"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twin


def duckdb_crdt_state_sql(op_log_sql: str) -> str:
    """ANSI-SQL twin of `crdt_state` (vector-value + tombstone part)
    over a relation with the op-log columns.  Metadata map resolution
    is exercised by pytest (DuckDB's map ordering differs); the oracle
    pins id/value/HLC winners, which is where the merge logic lives."""
    return f"""
WITH log AS ({op_log_sql}),
val AS (
  SELECT id, vector, physical, logical, replica,
         row_number() OVER (PARTITION BY id
                            ORDER BY physical DESC, logical DESC, replica DESC) AS rn
  FROM log WHERE op IN ('add', 'update')
),
del AS (
  SELECT id, max(struct_pack(physical := physical, logical := logical,
                             replica := replica)) AS d
  FROM log WHERE op = 'delete' GROUP BY id
)
SELECT v.id, v.vector,
       v.physical AS updated_physical,
       v.logical  AS updated_logical,
       v.replica  AS updated_replica
FROM val v LEFT JOIN del ON v.id = del.id
WHERE v.rn = 1
  AND (del.d IS NULL
       OR struct_pack(physical := v.physical, logical := v.logical,
                      replica := v.replica) > del.d)
"""
