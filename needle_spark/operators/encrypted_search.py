"""Encrypted (LSH-coded) vector search: approximate similarity search over
sign-random-projection binary codes, so the serving tier never sees raw
vectors.

Reference: /root/reference/src/services/search/encrypted_search.rs —
EncryptionConfig (:29-48: dims, hash_bits, num_tables, seed),
SecurityLevel presets (:51-69: Standard/High/Maximum -> hash_bits
min(dims, 64/128/256), tables 2/4/8), EncryptedVector (:72-77: packed
u64 hash codes + original norm), encrypted_search (:111-127: Hamming
distance over codes, estimated_similarity = 1 - hamming/total_bits,
sort by hamming), compute_lsh_codes (:196-212: bit b set iff
dot(vector, hyperplane_b) >= 0, packed 64 bits/word little-endian),
generate_hyperplanes (:219-233: seeded LCG, uniform [-1, 1)),
rotate_key (:164-186), estimate_accuracy (:188-194).

Spark shape (100 TB posture):
* **Encryption is a map-only Arrow kernel** — one numpy matmul per
  batch projects vectors onto the seeded hyperplanes and packs sign
  bits into int64 words.  No shuffle; the output is a narrow
  (id, codes, norm) table that is ~32x smaller than the vectors, so
  the encrypted serving table scans fast and the raw vectors never
  leave the trusted writer.
* **Search is pure JVM expressions** — Hamming distance is
  `bit_count(code XOR query_code)` folded across the code words
  (whole-stage codegen, no Python), and top-k plans as
  TakeOrderedAndProject: per-partition partial top-k, single driver
  merge, no global sort and no hash exchange.
* Hyperplanes are derived from (dims, bits, seed) alone, so every
  executor and the DuckDB oracle regenerate them bit-identically;
  nothing is broadcast but the ~total_bits x dims float matrix that
  rides the serialized kernel closure.

The LCG multiplier/increment are Knuth's MMIX constants (public,
also used by the reference verbatim).
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from needle_spark.operators.knn_arrow import vector_matrix

_MMIX_MUL = 6364136223846793005
_MMIX_ADD = 1442695040888963407
_U64 = 1 << 64
_U32_MAX = 0xFFFFFFFF


class EncryptedSearchError(ValueError):
    pass


@dataclass(frozen=True)
class EncryptionConfig:
    """encrypted_search.rs:29-48."""

    dimensions: int
    hash_bits: int
    num_tables: int = 4
    seed: int = 42

    def __post_init__(self):
        if self.dimensions <= 0:
            raise EncryptedSearchError("dimensions must be positive")
        if self.hash_bits <= 0:
            raise EncryptedSearchError("hash_bits must be positive")
        if self.num_tables <= 0:
            raise EncryptedSearchError("num_tables must be positive")

    @property
    def total_bits(self) -> int:
        return self.hash_bits * self.num_tables

    @property
    def num_words(self) -> int:
        return (self.total_bits + 63) // 64


#: SecurityLevel presets — encrypted_search.rs:51-69,140-155.
SECURITY_LEVELS = {
    "standard": (64, 2),
    "high": (128, 4),
    "maximum": (256, 8),
}


def config_for_level(dimensions: int, level: str, seed: int = 42) -> EncryptionConfig:
    """with_security_level — encrypted_search.rs:140-155."""
    try:
        cap, tables = SECURITY_LEVELS[level]
    except KeyError:
        raise EncryptedSearchError(
            f"unknown security level {level!r}; one of {sorted(SECURITY_LEVELS)}"
        )
    return EncryptionConfig(dimensions, min(dimensions, cap), tables, seed)


from functools import lru_cache


@lru_cache(maxsize=64)
def _hyperplanes_cached(dims: int, count: int, seed: int) -> np.ndarray:
    state = seed % _U64
    n = count * dims
    out = np.empty(n, dtype=np.float64)
    for i in range(n):
        state = (state * _MMIX_MUL + _MMIX_ADD) % _U64
        out[i] = (state >> 32) / _U32_MAX * 2.0 - 1.0
    return out.reshape(count, dims)


def generate_hyperplanes(dims: int, count: int, seed: int) -> np.ndarray:
    """Seeded LCG hyperplanes, float64 (count, dims) —
    encrypted_search.rs:219-233: count*dims LCG draws in row order.

    Deliberate deviation: the reference maps each draw with
    `(state >> 33) / u32::MAX * 2 - 1`, but `state >> 33` is only 31
    bits so that lands in [-1, 0) — every hyperplane entry negative,
    which makes all sign bits of a vector correlate (hash quality
    collapses to sign(sum(v))).  We shift by 32 so entries cover
    [-1, 1) and the codes are a real sign-random-projection LSH."""
    # a pure function of (dims, count, seed): cached, so the serving
    # path does not re-run count*dims Python LCG steps per query
    # (config_for_level(768, "maximum") is ~1.6M iterations)
    return _hyperplanes_cached(int(dims), int(count), int(seed)).copy()


def _pack_bits(signs: np.ndarray, num_words: int) -> np.ndarray:
    """(n, total_bits) bool -> (n, num_words) int64; bit b of the
    concatenated stream lands in word b//64 at position b%64
    (encrypted_search.rs:196-212)."""
    n, total_bits = signs.shape
    codes = np.zeros((n, num_words), dtype=np.uint64)
    for b in range(total_bits):
        codes[:, b // 64] |= signs[:, b].astype(np.uint64) << np.uint64(b % 64)
    return codes.view(np.int64)


def lsh_codes(vectors: np.ndarray, config: EncryptionConfig) -> np.ndarray:
    """compute_lsh_codes for a batch — encrypted_search.rs:196-212."""
    planes = generate_hyperplanes(config.dimensions, config.total_bits, config.seed)
    dots = vectors.astype(np.float64) @ planes.T
    return _pack_bits(dots >= 0.0, config.num_words)


def encrypt_vectors(
    df: DataFrame,
    config: EncryptionConfig,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
) -> DataFrame:
    """encrypt_and_insert / batch_insert — encrypted_search.rs:103-109,157-163.

    Map-only mapInArrow: (id, codes array<bigint>, original_norm float).
    The raw vector column does NOT survive into the output."""
    planes = generate_hyperplanes(config.dimensions, config.total_bits, config.seed)
    num_words = config.num_words
    id_field = df.schema[id_col].dataType.simpleString()
    src = df.select(F.col(id_col).alias("id"), F.col(vector_col).alias("vector"))
    out_schema = (
        f"id {id_field}, codes array<bigint>, original_norm float"
    )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            vecs = vector_matrix(batch.column("vector"), np.float64, vector_col)
            if not len(vecs):
                continue
            if vecs.shape[1] != planes.shape[1]:
                raise EncryptedSearchError(
                    f"expected {planes.shape[1]}-dim vectors, got shape {vecs.shape}"
                )
            dots = vecs @ planes.T
            codes = _pack_bits(dots >= 0.0, num_words)
            norms = np.sqrt((vecs * vecs).sum(axis=1)).astype(np.float32)
            yield pa.RecordBatch.from_pydict(
                {
                    "id": batch.column("id"),
                    "codes": codes.tolist(),
                    "original_norm": norms,
                }
            )

    return src.mapInArrow(kernel, out_schema)


def query_codes(query: Sequence[float], config: EncryptionConfig) -> list[int]:
    """Driver-side code computation for one query vector."""
    q = np.asarray(query, dtype=np.float64)
    if q.shape != (config.dimensions,):
        raise EncryptedSearchError(
            f"query must have {config.dimensions} dims, got {q.shape}"
        )
    return [int(w) for w in lsh_codes(q.reshape(1, -1), config)[0]]


def hamming_expr(codes_col: str, qcodes: Sequence[int]) -> F.Column:
    """bit_count(a XOR b) folded over code words — pure JVM, codegen-able
    (hamming_distance_multi, encrypted_search.rs:214-217)."""
    qarr = F.array(*[F.lit(int(c)).cast("long") for c in qcodes])
    return F.aggregate(
        F.zip_with(F.col(codes_col), qarr,
                   lambda a, b: F.bit_count(a.bitwiseXOR(b))),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def encrypted_search(
    encrypted: DataFrame,
    query: Sequence[float],
    config: EncryptionConfig,
    k: int = 10,
    *,
    id_col: str = "id",
    codes_col: str = "codes",
) -> DataFrame:
    """encrypted_search.rs:111-127.  Top-k by Hamming distance over the
    coded table; ties broken by id for determinism.  Plans as
    TakeOrderedAndProject over a single scan of the (narrow) encrypted
    table."""
    qcodes = query_codes(query, config)
    total_bits = float(config.total_bits)
    # in-plan width guard: a mismatched config (dims agree, hash_bits
    # differ) otherwise dies deep in codegen with an opaque
    # ArrowVectorAccessor error.  raise_error keeps it ONE job — an
    # up-front .first() probe would recompute the whole encoding.
    guard = F.when(
        F.size(codes_col) == F.lit(len(qcodes)),
        hamming_expr(codes_col, qcodes),
    ).otherwise(F.raise_error(F.concat(
        F.lit("stored codes have "), F.size(codes_col).cast("string"),
        F.lit(f" words but this config produces {len(qcodes)} "
              "(hash_bits/num_tables mismatch)"))).cast("long"))
    return (
        encrypted.select(
            F.col(id_col).alias("id"),
            guard.alias("hamming_distance"),
        )
        .withColumn(
            "estimated_similarity",
            (F.lit(1.0) - F.col("hamming_distance") / F.lit(total_bits)),
        )
        .orderBy("hamming_distance", "id")
        .limit(k)
    )


def rotate_key(
    df: DataFrame,
    config: EncryptionConfig,
    new_seed: int,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
) -> tuple[DataFrame, EncryptionConfig]:
    """Key rotation — encrypted_search.rs:164-186.  Unlike the
    reference (which discards originals and can only regenerate
    hyperplanes), we re-encrypt from the trusted source-of-truth
    table, so rotation yields a complete, consistent new code table."""
    new_config = replace(config, seed=new_seed)
    return encrypt_vectors(
        df, new_config, id_col=id_col, vector_col=vector_col
    ), new_config


def estimate_accuracy(config: EncryptionConfig) -> float:
    """Recall heuristic — encrypted_search.rs:188-194."""
    return min(0.99, 1.0 - float(np.exp(-0.02 * config.total_bits)))


def duckdb_encrypted_search_sql(
    table: str,
    id_col: str,
    vector_col: str,
    query_sql: str,
    config: EncryptionConfig,
    k: int = 10,
) -> str:
    """DuckDB twin: regenerate the hyperplanes, emit one row per hash
    bit as a VALUES list, derive the query's bits from `query_sql` (a
    scalar subquery yielding the query vector) the same way, and count
    sign mismatches per vector.  Bit-exact with the Spark path up to
    float64 summation order."""
    planes = generate_hyperplanes(config.dimensions, config.total_bits, config.seed)
    rows = ", ".join(
        "({b}, [{plane}]::DOUBLE[])".format(
            b=b,
            plane=", ".join(repr(float(x)) for x in planes[b]),
        )
        for b in range(config.total_bits)
    )
    return f"""
WITH h(bit, plane) AS (VALUES {rows}),
qb AS (
  SELECT bit,
         CASE WHEN list_dot_product(({query_sql})::DOUBLE[], plane) >= 0
              THEN 1 ELSE 0 END AS q_bit
  FROM h
),
bits AS (
  SELECT e.{id_col} AS id, h.bit,
         CASE WHEN list_dot_product(e.{vector_col}::DOUBLE[], h.plane) >= 0
              THEN 1 ELSE 0 END AS d_bit
  FROM {table} e CROSS JOIN h
)
SELECT id,
       SUM(CASE WHEN d_bit <> q_bit THEN 1 ELSE 0 END)::INT AS hamming_distance,
       1.0 - SUM(CASE WHEN d_bit <> q_bit THEN 1 ELSE 0 END)::DOUBLE
             / {float(config.total_bits)!r} AS estimated_similarity
FROM bits JOIN qb USING (bit)
GROUP BY id
ORDER BY hamming_distance ASC, id ASC LIMIT {k}
"""
