"""Scalar quantization (SQ8) with exact rescoring.

Reference: /root/reference/src/indexing/quantization.rs (SQ8 = 4x
compression, int8 codes + per-collection min/max scale; PQ/binary are
further variants).  Spark mapping: a `array<tinyint>` codes column plus
(lo, hi) scale stored table-wide.  Search runs two stages:

1. coarse: distance on dequantized codes (cheap, scan-friendly — reads
   the 1-byte column instead of the 4-byte float column);
2. rescore: exact distance on the float column for the top
   (k * rescore_factor) coarse candidates only.

At 100 TB the win is IO: the coarse pass reads 1/4 the bytes; the exact
pass touches only candidates.  Recall is governed by rescore_factor and
measured with plans.ivf.recall_at_k-style comparison in tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from needle_spark.operators.knn_arrow import vector_matrix


class SQ8:
    """Symmetric per-collection scalar quantizer."""

    def __init__(self, lo: float, hi: float, vector_col: str = "vector",
                 codes_col: str = "codes"):
        if hi <= lo:
            hi = lo + 1.0
        self.lo, self.hi = float(lo), float(hi)
        self.vector_col, self.codes_col = vector_col, codes_col

    @classmethod
    def fit(cls, df: DataFrame, vector_col: str = "vector", **kw) -> "SQ8":
        row = df.select(
            F.min(F.array_min(vector_col)).alias("lo"),
            F.max(F.array_max(vector_col)).alias("hi"),
        ).first()
        return cls(row["lo"], row["hi"], vector_col=vector_col, **kw)

    def _scale(self) -> float:
        return (self.hi - self.lo) / 255.0

    def encode(self, df: DataFrame) -> DataFrame:
        """Attach int8 codes: round((x - lo) / scale) - 128."""
        s = self._scale()
        codes = F.transform(
            F.col(self.vector_col),
            lambda x: (
                F.round((x.cast("double") - self.lo) / s).cast("int") - 128
            ).cast("tinyint"),
        )
        return df.withColumn(self.codes_col, codes)

    def dequantize_expr(self, codes=None):
        """codes -> approximate float64 array."""
        c = codes if codes is not None else F.col(self.codes_col)
        s = self._scale()
        return F.transform(c, lambda b: (b.cast("double") + 128.0) * s + self.lo)

    def search(
        self,
        encoded_df: DataFrame,
        query_vector,
        k: int = 10,
        rescore_factor: int = 4,
        metric: str = "euclidean",
        id_col: str = "id",
        filter=None,
    ) -> DataFrame:
        """Two-stage quantized search: coarse top-(k*factor) on codes,
        exact rescore + top-k on floats."""
        from needle_spark.functions.distance import distance_expr
        from needle_spark.operators.knn import knn, validate_query_vector

        qv = validate_query_vector(query_vector)
        candidates = (
            (encoded_df.filter(filter) if filter is not None else encoded_df)
            .withColumn("__deq", self.dequantize_expr())
            .withColumn("__coarse", distance_expr(metric, "__deq", qv))
            .orderBy(F.col("__coarse").asc(), F.col(id_col).asc())
            .limit(k * rescore_factor)
            .drop("__deq", "__coarse")
        )
        return knn(candidates, qv, k=k, metric=metric,
                   vector_col=self.vector_col, id_col=id_col)


class BinaryQuantizer:
    """1-bit quantization (quantization.rs Binary variant, 32x):
    vectors become sign bitmaps packed into array<bigint> words; coarse
    search uses Hamming distance on the packed words (bit_count of XOR),
    exact rescoring recovers precision — the classic binary-sketch
    two-stage."""

    def __init__(self, vector_col: str = "vector", codes_col: str = "bits"):
        self.vector_col, self.codes_col = vector_col, codes_col

    def encode(self, df: DataFrame) -> DataFrame:
        """Pack sign bits (x > 0) into 64-bit words.

        Arrow-batched numpy packbits kernel (like the SQ8 path): the
        previous column-expression version built a 64-deep
        bitwiseOR(when(...)) fold per word, which Janino refuses to
        compile ("isNull is not an rvalue"), silently dropping the
        whole encode scan to interpreted per-row eval — correct but an
        anti-pattern on a 100 TB encode.  packbits(bitorder='little')
        + a little-endian uint64 view reproduces the identical layout:
        bit b of word w == (vector[w*64+b] > 0)."""
        import numpy as np
        import pandas as pd

        dim = len(df.select(self.vector_col).first()[0])
        n_words = (dim + 63) // 64

        @F.pandas_udf("array<long>")
        def _pack(vs: pd.Series) -> pd.Series:
            if not len(vs):
                return pd.Series([], dtype=object)
            # null vectors pack to all-zero words — the same result the
            # replaced column expression produced (null > 0.0 -> null
            # -> otherwise(0)); crashing the stage on one null row is
            # not an option on a large encode.  Ragged vectors likewise
            # (ADVICE r9): the expression padded missing tail elements
            # with null->0, so short rows zero-fill (and long rows
            # truncate) to the probed dim instead of crashing np.stack.
            X = np.zeros((len(vs), dim), dtype=np.float64)
            for i, v in enumerate(vs):
                if v is None:
                    continue
                a = np.asarray(v, dtype=np.float64)[:dim]
                X[i, :len(a)] = a
            # NaN semantics match the Spark expression this kernel
            # replaced: Spark's total ordering has NaN > 0.0 == true,
            # so NaN components pack bit 1 (numpy's NaN > 0.0 is False)
            bits = np.packbits((X > 0.0) | np.isnan(X), axis=1,
                               bitorder="little")
            pad = n_words * 8 - bits.shape[1]
            if pad:
                bits = np.pad(bits, ((0, 0), (0, pad)))
            # uint64 -> int64 is a C cast: two's-complement wrap gives
            # the same negative longs the JVM bitwise build produced
            words = bits.view("<u8").astype(np.int64)
            return pd.Series(list(words))

        return df.withColumn(self.codes_col, _pack(F.col(self.vector_col)))

    def hamming_expr(self, query_vector) -> "F.Column":
        """Hamming distance between stored bitmaps and the query's sign
        bitmap: sum of bit_count(word XOR q_word)."""
        dim = len(query_vector)
        n_words = (dim + 63) // 64
        q_words = []
        for w in range(n_words):
            acc = 0
            for b in range(min(64, dim - w * 64)):
                if float(query_vector[w * 64 + b]) > 0.0:
                    acc |= 1 << b
            if acc >= 1 << 63:
                acc -= 1 << 64
            q_words.append(acc)
        total = F.lit(0).cast("long")
        for w, qw in enumerate(q_words):
            total = total + F.bit_count(
                F.element_at(F.col(self.codes_col), w + 1).bitwiseXOR(F.lit(qw).cast("long"))
            )
        return total

    def search(self, encoded_df: DataFrame, query_vector, k: int = 10,
               rescore_factor: int = 8, metric: str = "cosine",
               id_col: str = "id") -> DataFrame:
        from needle_spark.operators.knn import knn, validate_query_vector

        qv = validate_query_vector(query_vector)
        candidates = (
            encoded_df.withColumn("__h", self.hamming_expr(qv))
            .orderBy(F.col("__h").asc(), F.col(id_col).asc())
            .limit(k * rescore_factor)
            .drop("__h")
        )
        return knn(candidates, qv, k=k, metric=metric,
                   vector_col=self.vector_col, id_col=id_col)


class ProductQuantizer:
    """Product quantization (quantization.rs PQ variant): split the
    vector into M subspaces, k-means each subspace into 256 codewords,
    store one byte per subspace (dim*4 / M compression).

    Search uses ADC (asymmetric distance computation): per query build an
    (M x 256) table of squared subdistances to every codeword; the coarse
    score of a stored code is a table-lookup sum — numpy gather inside an
    Arrow kernel, no decode.  Exact rescoring on the float column
    restores precision for the top candidates.

    Codebooks are trained driver-side with seeded Lloyd's iterations on a
    sample (codebooks are tiny: M x 256 x dim/M floats); at 100 TB you
    sample ~100k rows for training, encoding/search stay distributed.
    """

    def __init__(self, codebooks: "np.ndarray", vector_col: str = "vector",
                 codes_col: str = "pq_codes"):
        self.codebooks = codebooks  # (M, 256, sub_dim)
        self.vector_col, self.codes_col = vector_col, codes_col

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def sub_dim(self) -> int:
        return self.codebooks.shape[2]

    @classmethod
    def fit(cls, df: DataFrame, m: int = 8, n_codewords: int = 256,
            vector_col: str = "vector", sample_limit: int = 10_000,
            iters: int = 15, seed: int = 42, **kw) -> "ProductQuantizer":


        rows = df.select(vector_col).limit(sample_limit).collect()
        X = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
        dim = X.shape[1]
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        sub = dim // m
        rng = np.random.RandomState(seed)
        books = []
        for j in range(m):
            S = X[:, j * sub:(j + 1) * sub]
            k = min(n_codewords, len(S))
            C = S[rng.choice(len(S), size=k, replace=False)].copy()
            for _ in range(iters):  # Lloyd's
                d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                assign = d.argmin(axis=1)
                for c in range(k):
                    pts = S[assign == c]
                    if len(pts):
                        C[c] = pts.mean(axis=0)
            if k < n_codewords:  # pad (tiny collections)
                C = np.vstack([C, np.repeat(C[:1], n_codewords - k, axis=0)])
            books.append(C)
        return cls(np.asarray(books), vector_col=vector_col, **kw)

    def encode(self, df: DataFrame) -> DataFrame:
        B, m, sub = self.codebooks, self.m, self.sub_dim
        vector_col = self.vector_col

        @F.arrow_udf("array<int>")
        def _enc(s):
            import pyarrow as pa

            V = vector_matrix(s, np.float64, vector_col)
            codes = np.empty((len(V), m), dtype=np.int32)
            if len(V):
                for j in range(m):
                    S = V[:, j * sub:(j + 1) * sub]
                    d = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
                    codes[:, j] = d.argmin(axis=1)
            return pa.FixedSizeListArray.from_arrays(
                pa.array(codes.ravel()), m)

        return df.withColumn(self.codes_col, _enc(F.col(self.vector_col)))

    def search(self, encoded_df: DataFrame, query_vector, k: int = 10,
               rescore_factor: int = 8, metric: str = "euclidean",
               id_col: str = "id") -> DataFrame:
        from needle_spark.operators.knn import knn, validate_query_vector

        qv = np.asarray(validate_query_vector(query_vector), dtype=np.float64)
        B, m, sub = self.codebooks, self.m, self.sub_dim
        # ADC table: (M, 256) squared subdistances of the query
        table = np.stack([
            ((B[j] - qv[j * sub:(j + 1) * sub][None, :]) ** 2).sum(axis=1)
            for j in range(m)
        ])

        codes_col = self.codes_col

        @F.arrow_udf("double")
        def _adc(codes):
            import pyarrow as pa

            C = vector_matrix(codes, np.int64, codes_col)
            if len(C) == 0:
                return pa.array([], pa.float64())
            return pa.array(table[np.arange(m)[None, :], C].sum(axis=1))

        candidates = (
            encoded_df.withColumn("__adc", _adc(F.col(self.codes_col)))
            .orderBy(F.col("__adc").asc(), F.col(id_col).asc())
            .limit(k * rescore_factor)
            .drop("__adc")
        )
        return knn(candidates, list(qv), k=k, metric=metric,
                   vector_col=self.vector_col, id_col=id_col)


class HalfQuantizer:
    """Half-precision vector storage: IEEE float16 or bfloat16 — 2x
    compression with near-zero accuracy loss.

    Reference: /root/reference/src/indexing/float16.rs (F16Vector /
    Bf16Vector: from_f32/to_f32 + reduced-precision distances).  Spark
    mapping: a `binary` column of packed 16-bit words written by one
    Arrow-batched map pass.  float16 keeps 10 mantissa bits (better
    precision); bfloat16 keeps float32's 8-bit exponent (full dynamic
    range, 7 mantissa bits — the truncation round, float16.rs:202).
    Search scores the half-precision codes directly in a vectorized
    Arrow kernel (numpy decodes a whole batch at once), then exact
    floats rescore the short candidate page like the SQ8 path."""

    def __init__(self, fmt: str = "float16", vector_col: str = "vector",
                 codes_col: str = "half"):
        if fmt not in ("float16", "bfloat16"):
            raise ValueError(f"unknown half format: {fmt!r}")
        self.fmt = fmt
        self.vector_col = vector_col
        self.codes_col = codes_col

    # -- pack/unpack (vectorized over whole Arrow batches) -------------
    def _pack(self, x: np.ndarray) -> bytes:
        if self.fmt == "float16":
            return x.astype(np.float16).tobytes()
        # bfloat16 = top 16 bits of the float32 pattern (truncation,
        # float16.rs:202 from_f32)
        u = x.astype(np.float32).view(np.uint32)
        return (u >> 16).astype(np.uint16).tobytes()

    def _unpack(self, raw: bytes) -> np.ndarray:
        if self.fmt == "float16":
            return np.frombuffer(raw, dtype=np.float16).astype(np.float32)
        u = np.frombuffer(raw, dtype=np.uint16).astype(np.uint32) << 16
        return u.view(np.float32)

    def encode(self, df: DataFrame) -> DataFrame:
        """One Arrow map pass: adds the packed `binary` column (keep the
        float column for exact rescoring, or drop it for 2x at rest)."""
        pack = self._pack

        @F.pandas_udf("binary")
        def _enc(vs: pd.Series) -> pd.Series:
            return vs.apply(lambda v: pack(np.asarray(v, dtype=np.float32)))

        return df.withColumn(self.codes_col, _enc(F.col(self.vector_col)))

    def decode_udf(self):
        pack_fmt, unpack = self.fmt, self._unpack

        @F.pandas_udf("array<float>")
        def _dec(bs: pd.Series) -> pd.Series:
            return bs.apply(lambda b: [float(x) for x in unpack(b)])

        return _dec

    def search(self, encoded_df: DataFrame, query_vector, k: int = 10,
               rescore_factor: int = 2, metric: str = "cosine",
               id_col: str = "id") -> DataFrame:
        """Coarse half-precision scoring (Arrow-vectorized) + exact
        float rescore of the top (k * rescore_factor)."""
        from needle_spark.operators.knn import knn, validate_query_vector

        qv = np.asarray(validate_query_vector(query_vector),
                        dtype=np.float32)
        unpack = self._unpack
        m = metric.lower()

        @F.pandas_udf("double")
        def _coarse(bs: pd.Series) -> pd.Series:
            X = np.stack([unpack(b) for b in bs]) if len(bs) else \
                np.zeros((0, len(qv)), dtype=np.float32)
            if m == "cosine":
                nx = np.linalg.norm(X, axis=1)
                nq = float(np.linalg.norm(qv))
                denom = np.where((nx == 0) | (nq == 0), 1.0, nx * nq)
                d = 1.0 - (X @ qv) / denom
                d = np.where((nx == 0) | (nq == 0), 1.0, d)
            elif m == "dot":
                d = -(X @ qv)
            else:  # euclidean
                diff = X - qv[None, :]
                d = np.sqrt((diff * diff).sum(axis=1))
            return pd.Series(d.astype(np.float64))

        candidates = (
            encoded_df.withColumn("__h", _coarse(F.col(self.codes_col)))
            .orderBy(F.col("__h").asc(), F.col(id_col).asc())
            .limit(k * rescore_factor)
            .drop("__h")
        )
        return knn(candidates, qv.tolist(), k=k, metric=metric,
                   vector_col=self.vector_col, id_col=id_col)


def compression_ratio(kind: str = "sq8", dim: int = 64, m: int = 8) -> float:
    """float32 -> fp16/bf16 (2x), int8 (4x), sign bits (32x), or PQ
    (dim*4/m bytes)."""
    if kind == "pq":
        return dim * 4.0 / m
    return {"sq8": 4.0, "binary": 32.0, "float16": 2.0, "bfloat16": 2.0}[kind]
