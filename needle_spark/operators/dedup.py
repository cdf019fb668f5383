"""Deduplication operators for large-scale training-data pipelines.

The reference has a semantic-dedup scan (/root/reference/src/collection/
dedup.rs:163 — near-duplicate pairs above a similarity threshold, with
keep-first/keep-last policies in collection/config.rs:137-199).  This
module generalizes that into the standard dedup toolbox a 100 TB corpus
pipeline needs:

- exact_dedup / exact_duplicate_groups : hash-groupBy; one shuffle on the
  hash key, map-side combined.
- ngram_jaccard_pairs : exact word-shingle Jaccard by shingle grouping —
  the oracle-checkable truth for MinHash.
- minhash_lsh_candidates : MinHash signatures (k affine minima over
  crc32 shingle hashes; shingling, signatures and banding in one Arrow
  kernel) banded into LSH buckets; candidates verified with exact
  Jaccard.  The scale path: shuffle is (doc, band) -> bucket, never
  doc x doc.
- simhash_candidates : 64-bit SimHash per doc (tf-weighted bit-majority
  of md5 token hashes, which DuckDB reproduces bit for bit) +
  hamming-distance candidate pairing on band blocks.
- embedding_neardup_pairs : ε-similarity self-join on vectors via an
  Arrow kernel (block-broadcast), exact at test scale; at cluster scale,
  pre-bucket with IVF/LSH (see needle_spark.plans).
- neardup_components / neardup_dedup : connected components over any
  pair frame (large-star / small-star) and the keep-one-per-group step.

Each text operator has one implementation; the shared pieces are
py_shingles, _group_pairs (streamed pair expansion), _pairs_from_banded
(LSH bucket pairs) and _pair_values / _jaccard_verify (exact verify).

Every operator is deterministic: hash seeds are fixed, tie-breaks are on
ids.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from needle_spark.operators.knn_arrow import _distance_matrix, vector_matrix
from needle_spark.session import materialize

# MinHash works over the Mersenne field p = 2^31 - 1 with base hashes
# reduced into the field.  The modulus MUST be close to the base-hash
# domain: with 32-bit hashes under a 2^61 modulus, a*x+b wraps at most a
# few times, the map stays near-monotonic in x, and "min of affine
# hashes" degenerates to "min of base hashes" (agreement no longer ≈
# Jaccard).  With p = 2^31-1, products a*x reach 2^62 and wrap ~2^31
# times — a well-mixed universal family — while still fitting in int64.
MINHASH_PRIME = (1 << 31) - 1


# ------------------------------------------------------------- exact ---

def exact_duplicate_groups(
    df: DataFrame, cols: Sequence[str], id_col: str = "id"
) -> DataFrame:
    """Groups of rows identical on `cols`: (group_hash, cnt, ids).

    Hashing is per-column over (null flag, value), composed from the
    fixed-width per-column digests: concat_ws alone SKIPS nulls and is
    ambiguous when a value contains the separator, which reported
    distinct rows as duplicates (a dedup pipeline would then destroy
    real documents)."""
    parts = [
        F.sha2(F.when(F.col(c).isNull(), F.lit("\x00"))
               .otherwise(F.concat(F.lit("v:"),
                                   F.col(c).cast("string"))), 256)
        for c in cols
    ]
    h = F.sha2(F.concat(*parts) if len(parts) > 1 else parts[0], 256)
    return (
        df.groupBy(h.alias("group_hash"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.col("cnt") > 1)
    )


def exact_dedup(
    df: DataFrame, cols: Sequence[str], id_col: str = "id", keep: str = "first"
) -> DataFrame:
    """Keep one row per distinct `cols` value — lowest id for keep='first',
    highest for keep='last' (dedup policies, config.rs:137-199)."""
    from pyspark.sql import Window

    order = F.col(id_col).asc() if keep == "first" else F.col(id_col).desc()
    w = Window.partitionBy(*[F.col(c) for c in cols]).orderBy(order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ----------------------------------------------------------- shingles ---

def py_shingles(text: str, n: int = 3) -> list[str]:
    """Distinct word n-gram shingles of one text, in order of first
    occurrence (tokenize with no stop words, min_len=1).  The one
    shingler: the Arrow kernels and shingles_udf call it, and
    duckdb_shingles_sql is its oracle twin."""
    from needle_spark.functions.text import tokenize_py

    toks = tokenize_py(text, stop_words=None, min_len=1)
    seen: dict[str, None] = {}
    for i in range(len(toks) - n + 1):
        seen.setdefault(" ".join(toks[i:i + n]), None)
    return list(seen)


def shingles_udf(n: int = 3):
    """Arrow-batched pandas UDF: text -> distinct word n-gram shingles
    (py_shingles per row)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _sh(s: pd.Series) -> pd.Series:
        return s.apply(lambda t: py_shingles(t, n) if t is not None else [])

    # non-deterministic so the optimizer cannot duplicate the UDF when
    # it pushes the size(__sh) > 0 filter below the projection — the
    # pushed copy re-ran the whole shingle kernel once per scan
    # (ArrowEvalPython appeared twice in every consumer's plan)
    return _sh.asNondeterministic()


def _shingle_frame(df: DataFrame, id_col: str, text_col: str,
                   n: int) -> DataFrame:
    """(id, __sh) for the docs with at least one shingle."""
    out = df.select(F.col(id_col),
                    shingles_udf(n)(F.col(text_col)).alias("__sh"))
    return out.filter(F.size("__sh") > 0)


def duckdb_shingles_sql(tokens_expr: str = "t", n: int = 3) -> str:
    """DuckDB twin of py_shingles, over a token-list expression."""
    parts = " || ' ' || ".join(f"{tokens_expr}[i + {j}]" for j in range(n))
    return (
        f"list_distinct(CASE WHEN len({tokens_expr}) >= {n} THEN "
        f"list_transform(range(1, len({tokens_expr}) - {n} + 2), i -> {parts}) "
        f"ELSE [] END)"
    )


def _group_pairs(frame: DataFrame, keys: Sequence[Column], id_col: str,
                 payload: str) -> DataFrame:
    """(id1, id2, __p1, __p2): every pair of rows that share a `keys`
    group, id1 < id2, with each row's `payload` column riding along.
    Shared by ngram_jaccard_pairs (shingle groups) and
    simhash_candidates (band blocks).

    Pairs come from GROUPING, not a self-equi-join: the join referenced
    its input twice, so the kernel producing it ran once per side;
    grouping scans it ONCE and expands each group's sorted member list
    in place (id1 < id2 by the sort).

    The expansion is STREAMED: a single flatten(transform(...))
    expression built all k*(k-1)/2 pair structs of a group inside ONE
    array value, so a group shared by k rows hit the 2^31-element array
    limit near k ~ 65k (or OOMed the task first).  posexplode plus a
    suffix-slice explode emits the same pairs — element x_i with every
    later element of the member list — with O(k) peak per-row state."""
    grouped = (
        frame.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(F.struct(
            F.col(id_col).alias("i"), F.col(payload).alias("p")))).alias("__m"))
        .filter(F.size("__m") > 1)
    )
    pos = grouped.select(
        F.posexplode("__m").alias("__i", "__x"), F.col("__m"))
    return (
        pos.select(
            F.col("__x")["i"].alias("id1"), F.col("__x")["p"].alias("__p1"),
            F.explode(
                F.slice(F.col("__m"), F.col("__i") + 2, F.size("__m"))
            ).alias("__y"))
        .select("id1", "__p1", F.col("__y")["i"].alias("id2"),
                F.col("__y")["p"].alias("__p2"))
        # no-op for well-formed inputs; excludes the self-pairs a
        # duplicate-id input would emit (equal ids sort adjacent)
        .filter(F.col("id1") != F.col("id2"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact near-duplicate pairs by word-n-gram Jaccard >= threshold.

    Physical shape: explode shingles -> (optional hot-shingle pruning) ->
    group by shingle and expand member pairs -> count intersections.
    All integer counts + one division: bit-exact across engines.

    `max_shingle_df` drops shingles appearing in more than that many docs
    (stop-shingles): at corpus scale the pair expansion would otherwise
    explode on boilerplate. NB: pruning can only *miss* pairs whose
    overlap is all boilerplate — document the tradeoff when using it.
    """
    sh = _shingle_frame(df, id_col, text_col, n)
    # carry the doc's shingle-set size THROUGH the explode: the
    # intersection groups then already hold both sizes, so no separate
    # size frame and no size joins
    e = sh.select(
        F.col(id_col), F.size("__sh").alias("__sz"),
        F.explode("__sh").alias("__g"),
    )
    if max_shingle_df is not None:
        hot = (
            e.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_shingle_df)
            .select("__g")
        )
        e = e.join(F.broadcast(hot), "__g")
        # sizes must be recomputed over the SURVIVING shingles: the
        # pre-prune sizes in the denominator deflate jaccard for any
        # pair whose overlap contains a pruned shingle — the result is
        # then exact jaccard in the pruned universe, matching the
        # docstring's guarantee
        from pyspark.sql import Window as _W

        e = e.withColumn(
            "__sz", F.count(F.lit(1)).over(_W.partitionBy(id_col)))
    # ids are unique within a shingle group because shingle sets are
    # distinct per doc, so each pair's row count is its intersection
    inter = (
        _group_pairs(e, [F.col("__g")], id_col, "__sz")
        .groupBy("id1", "id2")
        .agg(
            F.count(F.lit(1)).cast("double").alias("__c"),
            F.min("__p1").alias("__s1"),   # constant within the group
            F.min("__p2").alias("__s2"),
        )
    )
    return (
        inter.withColumn(
            "jaccard", F.col("__c") / (F.col("__s1") + F.col("__s2") - F.col("__c"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


# ------------------------------------------------------------ minhash ---

def _minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod (2^31-1)
    with a, b, x all inside the field — products stay under 2^62."""
    import random

    rnd = random.Random(42)
    return [
        (rnd.randrange(1, MINHASH_PRIME), rnd.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def _banded_buckets_arrow_text(
    df: DataFrame, id_col: str, text_col: str, n: int,
    num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bucket) straight from (id, text): shingling, MinHash
    signatures and banding in ONE Arrow kernel, one JVM<->Python
    crossing of just (id, text).  Each shingle is hashed once (crc32,
    low 31 bits); the num_hashes family is derived arithmetically
    ((a_i*x + b_i) mod 2^31-1, min per hash) and each band's slice of
    the signature is crc32-hashed into its bucket.  Docs with no
    shingles emit no rows."""
    import zlib

    params = _minhash_params(num_hashes)
    A = np.array([a for a, _ in params], dtype=np.uint64)
    B = np.array([b for _, b in params], dtype=np.uint64)
    rows_per_band = num_hashes // bands
    id_type = df.schema[id_col].dataType
    schema = T.StructType([
        T.StructField(id_col, id_type),
        T.StructField("band", T.IntegerType()),
        T.StructField("bucket", T.LongType()),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_band, out_bucket = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                shingles = py_shingles(text, n) if text is not None else []
                if not shingles:
                    continue
                X = np.array(
                    [zlib.crc32(s.encode("utf-8")) & 0x7FFFFFFF
                     for s in shingles],
                    dtype=np.uint64,
                )
                sig = ((A[:, None] * X[None, :] + B[:, None])
                       % np.uint64(MINHASH_PRIME)).min(axis=1)
                for b in range(bands):
                    chunk = sig[b * rows_per_band:(b + 1) * rows_per_band]
                    out_id.append(did)
                    out_band.append(b)
                    out_bucket.append(zlib.crc32(chunk.tobytes()))
            if out_id:
                yield pd.DataFrame({id_col: out_id, "band": out_band,
                                    "bucket": out_bucket})

    return df.select(id_col, text_col).mapInPandas(kernel, schema)


def _pairs_from_banded(banded: DataFrame, id_col: str,
                       max_bucket_size: int | None,
                       bucket_stats: dict | None) -> DataFrame:
    """Pair generation by bucket GROUPING, not a self-join: one scan of
    the banded (id, band, bucket) frame, one shuffle of those rows,
    pairs expanded per bucket from the sorted member list (id1 < id2 by
    construction).  Grouping keeps a bucket in one task with no
    join-side duplication of the signature scan; the hot-bucket chunk
    guard bounds that task's work when a bucket degenerates (see
    minhash_lsh_candidates' docstring for the exact accounting
    semantics).  Shared by the MinHash (text) and SRP (embedding) LSH
    paths."""
    bucket_ids = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("__ids"))
        .filter(F.size("__ids") > 1)
    )

    def _combos(ids: Column) -> Column:
        """All ordered pairs (id1 < id2) from a sorted member array."""
        return F.flatten(
            F.transform(
                ids,
                lambda x, i: F.transform(
                    F.slice(ids, i + 2, F.size(ids)),
                    lambda y: F.struct(x.alias("id1"), y.alias("id2")),
                ),
            )
        )

    if max_bucket_size is not None:
        cap = int(max_bucket_size)
        if cap < 2:
            raise ValueError("max_bucket_size must be >= 2")
        n_ids = F.size("__ids")
        # overlapping chunks: chunk i covers [i*cap, i*cap + cap], one
        # element shared with the next chunk so the bucket's duplicate
        # component stays connected through the boundary members
        n_chunks = F.ceil((n_ids - 1) / F.lit(cap)).cast("int")
        chunk_pairs = F.flatten(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: _combos(F.slice(F.col("__ids"), i * cap + 1, cap + 1)),
            )
        )
        combos = F.when(n_ids > cap, chunk_pairs).otherwise(
            _combos(F.col("__ids"))
        )
        if bucket_stats is not None:
            # exact accounting of the capped expansion (one cheap agg
            # over the bucket frame, opt-in so the common path adds no
            # job).  Per oversized bucket: emitted = Σ C(len_i, 2) over
            # its chunks, suppressed = C(n, 2) − emitted.
            chunk_lens = F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.least(n_ids - i * cap, F.lit(cap + 1)),
            )
            emitted = F.aggregate(
                chunk_lens, F.lit(0).cast("long"),
                lambda acc, ln: acc + (ln * (ln - 1) / 2).cast("long"),
            )
            total = (n_ids.cast("long") * (n_ids - 1) / 2).cast("long")
            stats_row = (
                bucket_ids.filter(n_ids > cap)
                .agg(
                    F.count(F.lit(1)).alias("oversized_buckets"),
                    F.coalesce(F.sum(n_ids), F.lit(0)).alias("capped_members"),
                    F.coalesce(F.sum(total - emitted), F.lit(0)).alias(
                        "suppressed_pairs"),
                )
                .first()
            )
            bucket_stats.update({
                "oversized_buckets": int(stats_row["oversized_buckets"]),
                "capped_members": int(stats_row["capped_members"]),
                "suppressed_pairs": int(stats_row["suppressed_pairs"]),
            })
    else:
        combos = _combos(F.col("__ids"))
    return (
        bucket_ids.select(F.explode(combos).alias("__p"))
        .select(F.col("__p.id1").alias("id1"), F.col("__p.id2").alias("id2"))
        .dropDuplicates(["id1", "id2"])
    )


def _pair_values(pairs: DataFrame, values: DataFrame,
                 name: str) -> DataFrame:
    """(id1, id2) -> (id1, id2, {name}1, {name}2): role-explode the
    pairs, join `values` — (__rid, {name}) rows — ONCE, reunite per
    pair.  The values table shuffles once; two plain joins would
    shuffle it twice, the wrong trade at scale.  Shared by the LSH
    verify paths (MinHash shingle sets, SRP vectors).

    (r12 measured-and-declined: broadcasting the role rows of the
    MinHash verify was A/B'd and read neutral-to-slower at sf0.1 — the
    candidate shingle frame is already small, and the extra count job +
    broadcast build cost what the saved exchange returned.)"""
    roles = pairs.select(
        "id1", "id2",
        F.explode(F.array(
            F.struct(F.col("id1").alias("rid"), F.lit(1).alias("role")),
            F.struct(F.col("id2").alias("rid"), F.lit(2).alias("role")),
        )).alias("__r"),
    ).select("id1", "id2", F.col("__r.rid").alias("__rid"),
             F.col("__r.role").alias("__role"))
    j = roles.join(values, "__rid")
    return j.groupBy("id1", "id2").agg(
        F.first(F.when(F.col("__role") == 1, F.col(name)),
                ignorenulls=True).alias(f"{name}1"),
        F.first(F.when(F.col("__role") == 2, F.col(name)),
                ignorenulls=True).alias(f"{name}2"),
    )


def _jaccard_verify(pairs: DataFrame, docs: DataFrame, id_col: str,
                    text_col: str, n: int, threshold: float) -> DataFrame:
    """Exact word-n-gram Jaccard of candidate pairs: (id1, id2) ->
    (id1, id2, jaccard) for the pairs at or above `threshold`.  `docs`
    holds both sides' text — callers semi-join it down to the candidate
    ids — and is shingled in ONE scan.  Shared by minhash_lsh_candidates
    and IncrementalMinHashDedup."""
    sh = _shingle_frame(docs, id_col, text_col, n)
    both = _pair_values(
        pairs, sh.select(F.col(id_col).alias("__rid"), "__sh"), "__sh")
    inter = F.size(F.array_intersect("__sh1", "__sh2")).cast("double")
    union = (F.size("__sh1") + F.size("__sh2")).cast("double") - inter
    return (
        both.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    verify_threshold: float | None = 0.6,
    max_bucket_size: int | None = 256,
    bucket_stats: dict | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding.

    Defaults (128 hashes, 32 bands, 4 rows/band): candidate probability
    for Jaccard j is 1-(1-j^4)^32 — ≈0.99 at j=0.6, 1-5e-8 at j=0.8 —
    while unrelated pairs (j~0.1) almost never band together.  Shuffles
    only (doc, band, bucket) rows — doc payloads and shingle arrays never
    ride the shuffle; this is the 100 TB path.  If `verify_threshold` is
    set, candidates are verified with exact Jaccard by re-joining the
    shingle-set table (pairs-only join, cheap), so — WHEN no bucket
    exceeds `max_bucket_size` — the output equals the exact
    ngram_jaccard_pairs result up to banding misses.  On corpora where a
    bucket does exceed the cap, cross-chunk pairs of that bucket are
    deliberately suppressed (accounted, never silent — see below), so
    exact-parity callers on degenerate corpora must raise the cap or
    disable the guard.

    Signatures, shingling and banding run in one Arrow kernel
    (_banded_buckets_arrow_text: crc32 shingle hashes, affine family
    mod 2^31-1).

    Hot-bucket guard (on by default): a degenerate bucket — e.g. a
    boilerplate-heavy corpus where thousands of docs share one
    signature — would otherwise expand C(n,2) pairs in ONE task.  When a
    bucket exceeds `max_bucket_size` members, pair expansion switches to
    overlapping chunks of `max_bucket_size` (each chunk shares one
    boundary element with the next), which bounds per-bucket work to
    O(n·chunk) while keeping every bucket's duplicate component
    CONNECTED — dedup-by-connected-components still groups all members.
    The cap is never silent: pass `bucket_stats={}` to receive
    {"oversized_buckets", "capped_members", "suppressed_pairs"}, where
    suppressed_pairs counts exactly the cross-chunk pairs each oversized
    bucket did not emit (C(n,2) − Σ C(len_i,2); the 1-element overlap
    never double-counts a pair because a pair needs two shared members).
    Note this is per-bucket accounting — a pair suppressed in one band's
    bucket is still emitted if any OTHER band buckets it within a chunk.
    Set `max_bucket_size=None` to disable the guard.
    """
    assert num_hashes % bands == 0
    banded = _banded_buckets_arrow_text(df, id_col, text_col, n,
                                        num_hashes, bands)
    pairs = _pairs_from_banded(banded, id_col, max_bucket_size,
                               bucket_stats)
    if verify_threshold is None:
        return pairs
    # verify candidates with exact Jaccard — against the CANDIDATE DOCS
    # ONLY.  Candidates are a tiny fraction of the corpus, so shingling
    # just them is the "decide with small rows" shape.  The pair frame
    # is materialized once (materialize() — localCheckpoint by default,
    # reliable checkpoint via spark.needle.checkpoint.mode) because it
    # feeds the candidate-id semi-join, the broadcast-size count AND the
    # verify join — without that, the whole banding subtree would
    # execute three times.
    pairs = materialize(pairs)
    cand = pairs.select(
        F.explode(F.array(F.col("id1"), F.col("id2"))).alias(id_col)
    ).distinct()
    return _jaccard_verify(
        pairs, df.join(F.broadcast(cand), id_col, "leftsemi"),
        id_col, text_col, n, verify_threshold)


# ------------------------------------------------------------ simhash ---

def _simhash_arrow(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __sim) via a numpy kernel: tf-weighted bit-majority over
    64-bit token hashes.  A token's hash is the first 8 bytes of its md5
    digest, big-endian — bit-identical to DuckDB's
    ('0x'||substr(md5(t),1,16))::UBIGINT, so the oracle's `sim` CTE
    (__spark_entry__._SIMHASH_MD5_SQL) recomputes every signature."""
    import hashlib
    from collections import Counter

    from needle_spark.functions.text import tokenize_py

    id_type = df.schema[id_col].dataType
    schema = T.StructType([
        T.StructField(id_col, id_type),
        T.StructField("__sim", T.LongType()),
    ])
    shifts = np.arange(64, dtype=np.uint64)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sims = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = tokenize_py(text or "", stop_words=None)
                if not toks:
                    continue
                counts = Counter(toks)
                H = np.array(
                    [int.from_bytes(hashlib.md5(t.encode()).digest()[:8],
                                    "big") for t in counts],
                    dtype=np.uint64,
                )
                W = np.array(list(counts.values()), dtype=np.int64)
                bits = ((H[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
                votes = ((bits * 2 - 1) * W[:, None]).sum(axis=0)
                ids.append(did)
                sims.append(((votes > 0).astype(np.uint64) << shifts).sum())
            if ids:
                # same 64 bits, reinterpreted as signed (Spark LongType)
                yield pd.DataFrame({id_col: ids, "__sim": np.array(
                    sims, dtype=np.uint64).view(np.int64)})

    return df.select(id_col, text_col).mapInPandas(kernel, schema)


def simhash_candidates(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup candidates by SimHash: docs agreeing on >=1 of `bands`
    16-bit blocks (pigeonhole: any pair within hamming distance
    `bands-1` must share a block), verified by exact hamming distance.
    Signatures come from _simhash_arrow (md5 token hashes, checked
    against DuckDB by the `simhash_candidates` oracle).

    Recall contract: candidates are COMPLETE only for pairs within
    hamming <= bands-1; a larger `max_hamming` still verifies exactly
    but may miss pairs whose differing bits spread across every block
    (standard banded-LSH semantics — raise `bands` for completeness at
    higher distances, at quadratic bucket cost)."""
    s = _simhash_arrow(df, id_col, text_col)
    block_bits = 64 // bands
    banded = s.select(
        F.col(id_col), F.col("__sim"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("__sim"), b * block_bits)
                    .bitwiseAND(F.lit((1 << block_bits) - 1)).alias("block"),
                )
                for b in range(bands)
            ])
        ).alias("__b"),
    )
    # a doc emits one block per band, so ids are unique within a group
    keys = [F.col("__b.band").alias("band"), F.col("__b.block").alias("block")]
    hamming = F.bit_count(F.col("__p1").bitwiseXOR(F.col("__p2")))
    return (
        _group_pairs(banded, keys, id_col, "__sim")
        .dropDuplicates(["id1", "id2"])
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


# ------------------------------------------------- embedding near-dup ---

# metrics where cell assignment can run in a euclidean proxy space with a
# guaranteed-exact epsilon (see embedding_neardup_pairs docstring)
_CELL_METRICS = {"cosine", "cosine_normalized", "euclidean", "l2", "manhattan",
                 "l1", "chebyshev", "linf"}
# inner-product "distances" (-x.y) ride the same cell path through the
# public norm-augmentation (ALSH / simple-LSH) reduction — see the
# dot-product paragraph in embedding_neardup_pairs
_DOT_METRICS = {"dot", "dotproduct", "dot_product", "ip"}


def _pairs_schema(df: DataFrame, id_col: str) -> T.StructType:
    id_type = df.schema[id_col].dataType
    return T.StructType([
        T.StructField("id1", id_type),
        T.StructField("id2", id_type),
        T.StructField("distance", T.DoubleType()),
    ])


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float,
    metric: str = "cosine",
    id_col: str = "id",
    vector_col: str = "vector",
    num_cells: int = 32,
) -> DataFrame:
    """All pairs (id1 < id2) with distance <= threshold — the semantic
    dedup scan (dedup.rs:163) as an ε-self-join, EXACT and fully
    distributed (no driver-side collect of the vector table).

    Shape: centroid cells with ε-replication.
    1. Sample `num_cells` centroid vectors (deterministic hash order —
       the only driver materialization, O(num_cells)).
    2. Assign each vector to its nearest centroid AND replicate it into
       every centroid within `d_nearest + ε` (one map-only Arrow pass).
       Triangle inequality guarantees any pair within ε co-occurs in the
       primary cell of whichever member sits closer to its centroid:
       for d(x,y)<=ε and d(x,cx)<=d(y,cy), d(y,cx) <= ε + d(x,cx)
       <= ε + d(y,cy), so y replicates into cx.
    3. Per-cell pairwise verification in an Arrow kernel emits only
       pairs under the threshold; cross-cell duplicates collapse with
       one dropDuplicates.

    Cell assignment runs in euclidean space; non-euclidean metrics map
    to a guaranteed-superset ε: cosine works on normalized vectors with
    ε = sqrt(2t) (||x̂-ŷ||² = 2·cosdist); manhattan uses ε = t (‖·‖₂ ≤
    ‖·‖₁); chebyshev ε = t·√d (‖·‖₂ ≤ √d‖·‖∞).  Verification always
    uses the requested metric on the raw vectors.

    Dot product (distance = -x·y) is not a metric, but the public
    norm-augmentation reduction (Bachrach et al. 2014; Neyshabur &
    Srebro's simple-LSH, 2015) makes the candidate step one: with
    M = max‖x‖ over the table (one distributed agg), augment
    x̂ = [x/M; sqrt(1-‖x/M‖²)] so every x̂ is unit-norm and
    x̂·ŷ = x·y/M² + a(x)a(y) ≥ x·y/M² (a ≥ 0).  Then x·y ≥ s implies
    ‖x̂-ŷ‖² = 2-2·x̂·ŷ ≤ 2-2s/M², i.e. ε = sqrt(2(1-s/M²)) with
    s = -threshold is a guaranteed candidate superset in augmented
    euclidean space — the SAME grid-cell path, no quadratic block-pair
    join (VERDICT r5 ask #2).  s > M² is impossible (Cauchy-Schwarz)
    → empty result without a scan.

    Scale notes: shuffle volume = n·(1 + replicas) rows; replicas stay
    small when ε ≪ typical centroid spacing (true for near-dup
    thresholds); size num_cells ≈ n / rows-per-task so each cell's
    pairwise block fits an executor.
    """
    m = metric.lower()
    dot_mode = m in _DOT_METRICS
    if (m not in _CELL_METRICS and not dot_mode) or num_cells <= 1:
        return blockpair_neardup_pairs(
            df, threshold, metric=metric, id_col=id_col, vector_col=vector_col)

    spark = df.sparkSession
    schema = _pairs_schema(df, id_col)

    max_norm = 1.0
    if dot_mode:
        row = df.select(F.max(F.sqrt(F.aggregate(
            F.col(vector_col).cast("array<double>"), F.lit(0.0),
            lambda acc, v: acc + v * v))).alias("m")).first()
        max_norm = float(row["m"] or 0.0)
        if max_norm <= 0.0:
            # degenerate all-zero table: every pairwise dot is 0, the
            # augmentation is undefined — the block-pair join is exact
            # and the table is tiny in information content anyway
            return blockpair_neardup_pairs(
                df, threshold, metric=metric,
                id_col=id_col, vector_col=vector_col)
        s = -float(threshold)
        if s > max_norm * max_norm + 1e-9:
            return spark.createDataFrame([], schema)

    # deterministic pseudo-random sample.  NOTE: the OUTPUT pair set is
    # invariant to which centroids get picked (the eps-replication rule
    # guarantees every pair within eps co-occurs in some cell for ANY
    # centroid set, and verification computes the exact metric) — but
    # partitioning QUALITY is not: hashing the raw array column (6x
    # cheaper sample job) was measured to pick a worse-spread centroid
    # set on the replicated bench corpora (embedding_neardup_4x 1.2 ->
    # 3.1 s), so the original string-hash order is kept deliberately.
    C = vector_matrix(
        df.select(vector_col)
        .orderBy(F.xxhash64(F.col(vector_col).cast("array<float>").cast("string")))
        .limit(num_cells)
        .toArrow().column(0), np.float64, vector_col)
    if not len(C):
        return spark.createDataFrame([], schema)
    dims = C.shape[1]

    def _augment(X: np.ndarray) -> np.ndarray:
        Xs = X / max_norm
        resid = np.sqrt(np.clip(1.0 - np.sum(Xs * Xs, axis=1), 0.0, None))
        return np.concatenate([Xs, resid[:, None]], axis=1)

    normalize = m in ("cosine", "cosine_normalized")
    if dot_mode:
        s = -float(threshold)
        eps = float(np.sqrt(max(
            0.0, 2.0 * (1.0 - s / (max_norm * max_norm)))))
        C = _augment(C)
    elif normalize:
        eps = float(np.sqrt(2.0 * max(0.0, min(threshold, 2.0))))
        norms = np.linalg.norm(C, axis=1, keepdims=True)
        C = C / np.where(norms == 0.0, 1.0, norms)
    elif m in ("euclidean", "l2", "manhattan", "l1"):
        eps = float(threshold)
    else:  # chebyshev
        eps = float(threshold) * float(np.sqrt(dims))

    assign_schema = T.StructType([
        T.StructField("__cell", T.IntegerType()),
        T.StructField("__primary", T.BooleanType()),
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField(vector_col, df.schema[vector_col].dataType),
    ])

    def assign(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            X = vector_matrix(batch.column(1), np.float64, vector_col)
            if dot_mode:
                Xa = _augment(X)
            elif normalize:
                n = np.linalg.norm(X, axis=1, keepdims=True)
                Xa = X / np.where(n == 0.0, 1.0, n)
            else:
                Xa = X
            # euclidean distances to all centroids: (rows, cells)
            D = _distance_matrix(Xa, C, "euclidean")
            dmin = D.min(axis=1, keepdims=True)
            # small fp slack: the exactness proof is a non-strict bound,
            # so boundary pairs must not be lost to rounding noise
            ri, ci = np.where(D <= dmin + eps + 1e-9)
            take = pa.array(ri)
            yield pa.RecordBatch.from_arrays([
                pa.array(ci.astype(np.int32)),
                pa.array(D[ri, ci] <= (dmin[ri, 0] + 1e-12)),
                batch.column(0).take(take),
                batch.column(1).take(take),
            ], names=assign_schema.names)

    assigned = df.select(id_col, vector_col).mapInArrow(assign, assign_schema)
    pairs_arrow = to_arrow_schema(schema)

    def verify(tbl: pa.Table) -> pa.Table:
        # Every pair within ε co-occurs in the PRIMARY cell of (at least)
        # one member, so checking primary×all per cell sees each pair
        # while cutting the per-cell cost from |all|² to |primary|·|all|
        # (duplication stops multiplying with the replica factor).
        V = vector_matrix(tbl.column(vector_col), np.float64, vector_col)
        ids = tbl.column(id_col).to_numpy()
        pi = np.where(tbl.column("__primary").to_numpy())[0]
        D = _distance_matrix(V[pi], V, m)
        ri, qi = np.where(D <= threshold)
        ida, idb = ids[pi][ri], ids[qi]
        keep = ida != idb
        lo = np.where(ida[keep] < idb[keep], ida[keep], idb[keep])
        hi = np.where(ida[keep] < idb[keep], idb[keep], ida[keep])
        return pa.table(
            {"id1": lo, "id2": hi, "distance": D[ri[keep], qi[keep]]},
            schema=pairs_arrow)

    return (
        assigned.groupBy("__cell")
        .applyInArrow(verify, schema)
        .dropDuplicates(["id1", "id2"])
    )


def srp_lsh_neardup_pairs(
    df: DataFrame,
    threshold: float,
    metric: str = "cosine",
    id_col: str = "id",
    vector_col: str = "vector",
    n_bits: int | None = None,
    bands: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = 256,
    bucket_stats: dict | None = None,
) -> DataFrame:
    """Sign-random-projection (hyperplane) LSH near-dup for embeddings —
    the APPROXIMATE 100 TB tier for tight thresholds, the exact analogue
    of minhash_lsh_candidates for text.

    Why it exists: the exact grid-cell ε-join (embedding_neardup_pairs)
    prunes only while ε is comparable to point-to-centroid distances.
    On high-dimensional corpora WITHOUT tight cluster structure,
    distance concentration makes every point's replication radius
    (d_nearest + ε) cover most cells, and the exact join degenerates
    toward all-pairs — measured on the 10x Walsh-replica bench corpus
    as an 11-19x time ratio.  That wall is the curse of dimensionality,
    not an implementation defect; production systems switch to LSH
    candidates there (same trade the reference's text dedup makes).

    Shape: one map-side Arrow kernel computes sign bits of V_norm @ R
    (R = seeded Gaussian hyperplanes) and emits only (id, band, bucket)
    rows; pair generation groups buckets (shared _pairs_from_banded,
    incl. the hot-bucket chunk guard); candidates are verified with the
    EXACT requested metric by a pairs-only join against the vector
    table, so false positives never escape.  The only loss is banding
    misses: P(candidate) = 1-(1-p^r)^b with p = 1 - θ/π
    (Goemans-Williamson) and r = n_bits/bands.  Defaults (128 bits, 8
    bands of 16): recall ≈ 0.97 at cos-sim 0.98, ≈ 0.998 at 0.99, while
    a random unrelated pair collides in a band with P ≈ (1/2)^16.

    Band WIDTH is the bucket-resolution knob: a band of r bits yields
    2^r buckets, so random collisions per band scale n^2/2^r — size
    r ≳ log2(n) + 4 (the first r6 run with r=8, i.e. 256 buckets,
    measured an 11x superlinear ratio at 40k rows from collision pairs
    alone).  Raise `bands` (not width) for recall at a given width.

    n_bits=None (default) AUTO-SIZES that rule from one count() of the
    input: r = clamp(ceil(log2 n) + 4, 16, 62), n_bits = r * bands —
    so collision pairs stay ~n·bands/16, LINEAR in n by construction.
    The r8 200k bench corpus had outgrown the old fixed 128-bit
    default (r=16 at n=200k ⇒ 4.8M collision candidates vs 100k
    planted pairs; the verify join on those collisions WAS the
    measured 0.3 ms/row 'constant' — PLANS.md round 9 'SRP per-row
    constant').  Auto r=22 there cuts candidates ~40x at planted
    recall 0.9997 (p^r curve; measured 1.0).  Pass n_bits explicitly
    to pin the width (prior behavior).

    Supports cosine (threshold on 1 - sim) and dot on unit-ish vectors
    (threshold on -x·y; signatures are direction-only, verification is
    exact dot).  Scale: shuffle = n x bands rows, verify = candidate
    pairs only — both linear when duplicate structure is.
    """
    m = metric.lower()
    if m not in {"cosine", "cosine_normalized"} | _DOT_METRICS:
        # review r6: SRP signatures are DIRECTION-only (sign of v.R), so
        # they carry no information about magnitudes — a euclidean pair
        # like [0.01, 0] / [-0.01, 0] is 0.02 apart but opposite-signed
        # on every hyperplane and would silently never bucket together.
        # Angular metrics only; magnitude metrics keep the exact tiers.
        raise ValueError(
            f"srp_lsh_neardup_pairs supports angular metrics only "
            f"(cosine / dot); got {m!r} — use embedding_neardup_pairs "
            f"for magnitude metrics")
    # ONE prep job (count, column-pruned — never touches the vector
    # column).  The old dim-probe first() job is gone: the hyperplane
    # matrix R is now built INSIDE the kernel from the first batch's
    # vector width — np.default_rng(seed) is deterministic, so every
    # task derives the identical R (~100 KB of throwaway work per task),
    # and one full Spark job disappears from every invocation.  A
    # merged agg(count, first(vector)) stays rejected: it forces a
    # full-corpus scan OF THE VECTOR COLUMN (measured +0.3-0.5 s on
    # every srp bench row in r11 before being reverted).
    if n_bits is None:
        # auto band width (see docstring): collisions scale n^2/2^r
        # per band, so r tracks log2(n)
        import math

        n_rows = df.count()
        r = min(62, max(16, math.ceil(math.log2(max(n_rows, 2))) + 4))
        n_bits = r * bands
    if n_bits % bands:
        raise ValueError("n_bits must be divisible by bands")
    rows_per_band = n_bits // bands
    if rows_per_band > 62:
        # buckets pack into a signed int64; 63+ bits would overflow
        raise ValueError("n_bits/bands (band width) must be <= 62 bits")
    if bucket_stats is not None:
        bucket_stats["band_bits"] = rows_per_band
        bucket_stats["n_bits"] = n_bits

    id_type = df.schema[id_col].dataType
    band_schema = T.StructType([
        T.StructField(id_col, id_type),
        T.StructField("band", T.IntegerType()),
        T.StructField("bucket", T.LongType()),
    ])
    # per-band bucket = the band's bit block packed into an int64
    weights = (1 << np.arange(rows_per_band, dtype=np.int64))
    _n_bits = int(n_bits)

    def signatures(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        R = None  # built from the first batch's dim; same seed -> same R everywhere
        for batch in batches:
            if not batch.num_rows:
                continue
            V = vector_matrix(batch.column(1), np.float32, vector_col)
            if R is None:
                R = np.random.default_rng(seed).standard_normal(
                    (V.shape[1], _n_bits)).astype(np.float32)
            elif V.shape[1] != R.shape[0]:
                raise ValueError(f"{vector_col}: rows of differing widths "
                                 f"{R.shape[0]} and {V.shape[1]}")
            bits = (V @ R) > 0  # (n, n_bits); sign of the projection
            n = len(V)
            buckets = [bits[:, b * rows_per_band:(b + 1) * rows_per_band]
                       .astype(np.int64) @ weights for b in range(bands)]
            yield pa.RecordBatch.from_arrays([
                pa.concat_arrays([batch.column(0)] * bands),
                pa.array(np.repeat(np.arange(bands, dtype=np.int32), n)),
                pa.array(np.concatenate(buckets)),
            ], names=band_schema.names)

    # a null vector has no signature and pairs with nothing (filtered
    # here, not an error).  Widths are checked within each batch and
    # against the first batch of each task; two partitions of uniform
    # but different widths are NOT detected — that needs a scan of the
    # vector column (+0.3-0.5 s per srp bench row in r11), so none runs.
    banded = (df.select(id_col, vector_col)
              .filter(F.col(vector_col).isNotNull())
              .mapInArrow(signatures, band_schema))
    pairs = _pairs_from_banded(banded, id_col, max_bucket_size,
                               bucket_stats)
    # exact verification: role-explode + ONE join against the vector
    # table (pairs-only traffic, see _pair_values).  Distance evaluates in an Arrow-vectorized float64
    # kernel, NOT the shared zip_with/aggregate column exprs: Spark's
    # higher-order functions are interpreted (no whole-stage codegen),
    # and the r9 profile attributed ~40% of the whole SRP pipeline to
    # that eval.  (r12 measured-and-declined: a map-only broadcast
    # verify — semi-join candidate vectors out, collect, broadcast a
    # lookup, score pairs in place — read +0.3 s at 1x and +0.95 s at
    # 10x in an interleaved A/B: the collect + rebroadcast round trip
    # costs more than the exchanges it removes at this scale, and at
    # 100 TB the candidate set can exceed any broadcast budget.)
    both = _pair_values(pairs, df.select(
        F.col(id_col).alias("__rid"), F.col(vector_col).alias("__v")),
        "__v")
    return (
        both.withColumn(
            "distance", _pair_distance_udf(m, vector_col)(
                F.col("__v1"), F.col("__v2")))
        .filter(F.col("distance") <= float(threshold))
        .select("id1", "id2", "distance")
    )


def _pair_distance_udf(metric: str, vector_col: str):
    """Arrow-batched float64 pair distance for the verify joins.
    Semantics mirror functions/distance.distance_expr for the angular
    metrics the LSH tiers serve (cosine / cosine_normalized / dot);
    summation order differs from the JVM left-fold (numpy pairwise),
    so distances can differ in the last float64 ulps — thresholds in
    practice sit far from any candidate's distance."""
    m = metric.lower()

    @F.arrow_udf("double")
    def _dist(v1, v2):
        A = vector_matrix(v1, np.float64, vector_col)
        B = vector_matrix(v2, np.float64, vector_col)
        if A.shape != B.shape:
            raise ValueError(f"{vector_col}: rows of differing widths "
                             f"{A.shape[1]} and {B.shape[1]}")
        dot = (A * B).sum(axis=1)
        if m in _DOT_METRICS:
            out = -dot
        elif m == "cosine_normalized":
            out = 1.0 - dot
        else:  # cosine
            na = np.linalg.norm(A, axis=1)
            nb = np.linalg.norm(B, axis=1)
            out = 1.0 - dot / np.maximum(na * nb, 1e-300)
            out[(na == 0.0) | (nb == 0.0)] = 1.0
        return pa.array(out, pa.float64())

    return _dist


def blockpair_neardup_pairs(
    df: DataFrame,
    threshold: float,
    metric: str = "cosine",
    id_col: str = "id",
    vector_col: str = "vector",
    num_blocks: int = 8,
) -> DataFrame:
    """Exact distributed all-pairs ε-join via unordered block pairs: row
    with block b replicates into the B groups {(min(b,q), max(b,q))};
    each group verifies only its cross-block (or within-block) pairs, so
    every pair is computed exactly once.  O(n²) compute but spread over
    B(B+1)/2 bounded tasks with O(n·B) shuffle — the honest fallback for
    non-metric spaces (dot product) where cell pruning can't be exact."""
    schema = _pairs_schema(df, id_col)
    blk = F.pmod(
        F.xxhash64(F.col(vector_col).cast("array<float>").cast("string")),
        F.lit(num_blocks),
    ).cast("int")
    rows = df.select(F.col(id_col), F.col(vector_col), blk.alias("__b"))
    groups = F.array_distinct(F.array(*[
        F.struct(
            F.least(F.col("__b"), F.lit(q)).alias("gi"),
            F.greatest(F.col("__b"), F.lit(q)).alias("gj"),
        )
        for q in range(num_blocks)
    ]))
    replicated = rows.select(
        id_col, vector_col, "__b", F.explode(groups).alias("__g")
    ).select(id_col, vector_col, "__b", "__g.gi", "__g.gj")

    pairs_arrow = to_arrow_schema(schema)

    def verify(key, tbl):
        gi, gj = (k.as_py() for k in key)
        V = vector_matrix(tbl.column(vector_col), np.float64, vector_col)
        ids = tbl.column(id_col).to_numpy()
        b = tbl.column("__b").to_numpy()
        li = np.where(b == gi)[0]
        rj = np.where(b == gj)[0]
        D = _distance_matrix(V[li], V[rj], metric)
        ri, qi = np.where(D <= threshold)
        id1, id2 = ids[li][ri], ids[rj][qi]
        if gi == gj:
            # self-block: each unordered pair appears twice in the
            # oriented matrix; id1 < id2 keeps exactly one copy
            keep = id1 < id2
            lo, hi, dist = id1[keep], id2[keep], D[ri[keep], qi[keep]]
        else:
            # cross-block: each unordered pair appears ONCE, in
            # whatever orientation the block hash dealt — filtering
            # id1 < id2 here silently dropped ~half of all
            # cross-block pairs.  Normalize instead.
            lo = np.where(id1 < id2, id1, id2)
            hi = np.where(id1 < id2, id2, id1)
            dist = D[ri, qi]
        return pa.table({"id1": lo, "id2": hi, "distance": dist},
                        schema=pairs_arrow)

    return replicated.groupBy("gi", "gj").applyInArrow(verify, schema)


def neardup_components(pairs: DataFrame, id_col: str = "id",
                       max_iter: int = 30,
                       stats: dict | None = None) -> DataFrame:
    """Near-duplicate connected components over a candidate-pair frame:
    (id1, id2, ...) -> (id, component), where `component` is the
    SMALLEST id reachable in the pair graph — the canonical group id
    every fuzzy-dedup pipeline needs between "pairs found" and "keep
    one per group" (reference: the dedup flow's group assignment).

    Alternating large-star / small-star (Kiveris et al., 'Connected
    Components in MapReduce and Beyond', §3).  Edge frames are kept
    canonically oriented (__a > __b); the fixpoint is the union of star
    graphs, each centered at its component's minimum node — so the
    final labels read directly off the edge list.

    large-star: every node u connects its LARGER neighbors to
    m = min(N(u) ∪ {u}).  small-star: every node u (over edges it
    owns, i.e. pointing to smaller ids) connects its smaller neighbors
    AND itself to their minimum.  Both emit (big, small)-oriented
    edges; each halves the height of the implicit forest, giving
    O(log n) total rounds on ANY graph shape — a 4097-node duplicate
    chain takes ~12 rounds, not 4097.  Per round: two groupBy-min +
    join stages over the edge list only.

    Raises RuntimeError instead of returning partial labels when
    max_iter is hit without convergence.  `stats`, when given, receives
    {"algorithm": "star", "rounds"}.

    At 100 TB the only shuffled state is (node, edge) — never document
    payloads; lineage is flattened per round with localCheckpoint so
    plans do not grow with iterations."""
    edges = (pairs.select(F.col("id1").alias("__a"),
                          F.col("id2").alias("__b"))
             .filter(F.col("__a") != F.col("__b")))
    # canonical orientation: (__a=big, __b=small); nodes fixed up front
    cur = (edges.select(F.greatest("__a", "__b").alias("__a"),
                        F.least("__a", "__b").alias("__b"))
           .distinct().localCheckpoint())
    nodes = (cur.select(F.col("__a").alias(id_col))
             .unionByName(cur.select(F.col("__b").alias(id_col)))
             .distinct().localCheckpoint())
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # -- large-star: group by u over the SYMMETRIC view ----------
        sym = cur.unionByName(
            cur.select(F.col("__b").alias("__a"),
                       F.col("__a").alias("__b")))
        mins = (sym.groupBy("__a")
                .agg(F.min("__b").alias("__m"))
                .select(F.col("__a").alias("__u"),
                        F.least("__m", "__a").alias("__m")))
        large = (sym.join(mins, sym["__a"] == mins["__u"])
                 .filter(F.col("__b") > F.col("__a"))
                 .select(F.col("__b").alias("__a"),
                         F.col("__m").alias("__b"))
                 .distinct().localCheckpoint())
        # -- small-star: group by u over OWNED (big->small) edges ----
        smins = (large.groupBy("__a").agg(F.min("__b").alias("__m")))
        joined = large.join(smins, "__a")
        nxt = (joined.select(F.col("__b").alias("__a"),
                             F.col("__m").alias("__b"))
               .unionByName(joined.select(F.col("__a"),
                                          F.col("__m").alias("__b")))
               .filter(F.col("__a") != F.col("__b"))
               .distinct().localCheckpoint())
        # fixpoint test: same canonical edge set as last round
        if (nxt.count() == cur.count()
                and nxt.exceptAll(cur).limit(1).count() == 0):
            cur = nxt
            converged = True
            break
        cur = nxt
    if stats is not None:
        stats.update({"algorithm": "star", "rounds": rounds})
    if not converged:
        raise RuntimeError(
            f"neardup_components did not converge in {max_iter} "
            "rounds; raise max_iter (expected O(log n) — this is "
            "unexpected for any real pair graph)")
    # stars: every non-center node has exactly one edge to its
    # component min; centers (and only centers) appear solely as __b
    return (nodes.join(cur.select(F.col("__a").alias(id_col),
                                  F.col("__b").alias("component")),
                       id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("component", F.col(id_col))
                    .alias("component")))


def neardup_dedup(df: DataFrame, pairs: DataFrame,
                  id_col: str = "id", max_iter: int = 30) -> DataFrame:
    """Keep ONE representative per near-dup component (the smallest
    id); rows that appear in no pair pass through untouched.  The
    standard fuzzy-dedup keeper step: pairs from any LSH/exact tier
    (minhash_lsh_candidates, ngram_jaccard_pairs, srp_lsh_neardup_pairs,
    embedding_neardup_pairs) compose directly."""
    comps = neardup_components(pairs, id_col=id_col, max_iter=max_iter)
    losers = comps.filter(F.col(id_col) != F.col("component")) \
        .select(id_col)
    return df.join(losers, on=id_col, how="left_anti")
