"""Distance metric semantics vs the reference (src/distance.rs:43-73)
and bit-exactness vs the DuckDB oracle twin."""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from needle_spark.functions.distance import (
    distance_expr,
    duckdb_distance_sql,
    l2_normalize_expr,
)

A = [1.0, 0.0, 0.0]
B = [0.0, 1.0, 0.0]
METRICS = ["cosine", "cosine_normalized", "euclidean", "dot", "manhattan", "hamming", "chebyshev"]


def one(spark, metric, a, b):
    df = spark.createDataFrame([(a, b)], "a array<float>, b array<float>")
    return df.select(distance_expr(metric, F.col("a"), F.col("b")).alias("d")).first()["d"]


def test_orthogonal_cosine(spark):
    assert abs(one(spark, "cosine", A, B) - 1.0) < 1e-9


def test_identical_cosine_zero(spark):
    assert abs(one(spark, "cosine", A, A)) < 1e-9


def test_zero_vector_cosine_is_one(spark):
    # norm==0 -> distance 1.0 (distance.rs:159-160)
    assert one(spark, "cosine", [0.0, 0.0, 0.0], A) == 1.0


def test_euclidean(spark):
    assert abs(one(spark, "euclidean", A, B) - math.sqrt(2)) < 1e-12


def test_dot_is_negated(spark):
    assert one(spark, "dot", [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]) == -32.0


def test_manhattan(spark):
    assert one(spark, "manhattan", [1.0, 2.0], [4.0, 0.0]) == 5.0


def test_hamming_binarizes(spark):
    # (0,1,2,0) vs (1,0,2,0) -> binary (0,1,1,0) vs (1,0,1,0) -> 2 diffs
    assert one(spark, "hamming", [0.0, 1.0, 2.0, 0.0], [1.0, 0.0, 2.0, 0.0]) == 2.0


def test_chebyshev(spark):
    assert one(spark, "chebyshev", [1.0, 5.0], [4.0, 3.0]) == 3.0


def test_query_literal_accepted(spark):
    df = spark.createDataFrame([(A,)], "a array<float>")
    d = df.select(distance_expr("cosine", F.col("a"), B).alias("d")).first()["d"]
    assert abs(d - 1.0) < 1e-9


def test_l2_normalize(spark):
    df = spark.createDataFrame([([3.0, 4.0],), ([0.0, 0.0],)], "v array<float>")
    rows = df.select(l2_normalize_expr(F.col("v")).alias("n")).collect()
    assert [round(x, 6) for x in rows[0]["n"]] == [0.6, 0.8]
    assert list(rows[1]["n"]) == [0.0, 0.0]  # zero vector passes through


@pytest.mark.parametrize("metric", METRICS)
def test_bitexact_vs_duckdb(spark, embeddings, metric):
    """The Spark expression and its DuckDB-SQL twin must agree bit-for-bit
    on real float32 data — this is what makes the oracle hash check sound."""
    qv = embeddings.orderBy("vec_id").first()["embedding"]
    # NB: a float-literal list in DuckDB SQL goes through a decimal->FLOAT
    # cast that is not correctly rounded; oracle queries must source the
    # query vector from the same parquet via a scalar subquery instead.
    q_sql = (
        "(SELECT embedding FROM '/root/testdata/sf0.001/embeddings.parquet' WHERE vec_id = 0)"
    )
    spark_rows = (
        embeddings.withColumn("d", distance_expr(metric, F.col("embedding"), [float(x) for x in qv]))
        .select("vec_id", "d")
        .orderBy("vec_id")
        .limit(50)
        .collect()
    )
    dsql = duckdb_distance_sql(metric, "embedding", q_sql)
    duck = duckdb.connect().execute(
        f"SELECT vec_id, {dsql} AS d FROM '/root/testdata/sf0.001/embeddings.parquet' "
        "ORDER BY vec_id LIMIT 50"
    ).fetchall()
    for (sid, sd), (did, dd) in zip([(r["vec_id"], r["d"]) for r in spark_rows], duck):
        assert sid == did
        assert sd == dd, f"{metric}: spark {sd!r} != duckdb {dd!r} (vec {sid})"


# Exponent-form literals (repr prints them as 1e-05 / 3.4e+38), a zero
# query, and rows with a zero vector and a null vector.
_EXP_Q = [1e-05, 3.4e+38, -2.5e-07, 0.5]
_ZERO_Q = [0.0, 0.0, 0.0, 0.0]
_ROWS = [
    (0, [0.25, -1.5, 3.0, 1e-3]),
    (1, [0.0, 0.0, 0.0, 0.0]),
    (2, None),
    (3, [-7.0, 0.125, 2.0, -0.0]),
    (4, [1e-05, 3.4e+38, -2.5e-07, 0.5]),
]


@pytest.mark.parametrize("metric", METRICS)
def test_bitexact_vs_duckdb_edge_rows(spark, metric):
    """distance_expr against its DuckDB twin, bit for bit: column vs
    column and column vs literal, with exponent-form literals, zero
    vectors and null vector rows.  DuckDB reads the query vectors as
    DOUBLE[] columns — its float literals are not correctly rounded."""
    import pyarrow as pa

    ids = [i for i, _ in _ROWS]
    vecs = [v for _, v in _ROWS]
    tbl = pa.table({
        "id": pa.array(ids, pa.int64()),
        "a": pa.array(vecs, pa.list_(pa.float32())),
        "b": pa.array(list(reversed(vecs)), pa.list_(pa.float32())),
        "qe": pa.array([_EXP_Q] * len(ids), pa.list_(pa.float64())),
        "qz": pa.array([_ZERO_Q] * len(ids), pa.list_(pa.float64())),
    })
    df = spark.createDataFrame(
        [(i, v, w) for i, v, w in zip(ids, vecs, reversed(vecs))],
        "id long, a array<float>, b array<float>")
    got = df.select(
        "id",
        distance_expr(metric, "a", "b").alias("ab"),
        distance_expr(metric, F.col("a"), _EXP_Q).alias("ae"),
        distance_expr(metric, _EXP_Q, "a").alias("ea"),
        distance_expr(metric, "a", _ZERO_Q).alias("az"),
    ).orderBy("id").collect()
    con = duckdb.connect()
    con.register("t", tbl)
    want = con.execute(
        f"SELECT id, {duckdb_distance_sql(metric, 'a', 'b')}, "
        f"{duckdb_distance_sql(metric, 'a', 'qe')}, "
        f"{duckdb_distance_sql(metric, 'qe', 'a')}, "
        f"{duckdb_distance_sql(metric, 'a', 'qz')} FROM t ORDER BY id"
    ).fetchall()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert got[2]["ab"] is None and got[2]["ae"] is None


def test_sql_literal_spelling(spark):
    """Literals go into SQL text as repr + D (DOUBLE, never DECIMAL);
    NaN and +-Inf keep their values through CAST spellings."""
    from needle_spark.functions.distance import (
        array_literal, col_sql, sql_double,
    )

    assert sql_double(1e-05) == "1e-05D"
    assert sql_double(3.4e+38) == "3.4e+38D"
    assert sql_double(0.5) == "0.5D"
    assert sql_double(float("nan")) == "CAST('NaN' AS DOUBLE)"
    assert sql_double(float("-inf")) == "CAST('-Infinity' AS DOUBLE)"
    assert col_sql("we`ird.x") == "`we``ird`.`x`"
    vals = [1e-05, 3.4e+38, -0.0, 0.1, 1 / 3, float("inf"),
            float("-inf"), float("nan")]
    df = spark.range(1).select(
        array_literal(vals).alias("s"),
        F.array(*[F.lit(v) for v in vals]).alias("c"))
    # a CAST may yield null, so only the finite literal keeps the
    # non-nullable element type of F.lit's
    assert df.schema["s"].dataType.elementType == df.schema["c"].dataType.elementType
    finite = spark.range(1).select(array_literal(vals[:5]).alias("s"),
                                   F.array(*[F.lit(v) for v in vals[:5]]))
    assert finite.schema[0].dataType == finite.schema[1].dataType
    s, c = df.first()
    assert [math.copysign(1, x) for x in s] == [math.copysign(1, x) for x in c]
    assert s[:-1] == c[:-1] and math.isnan(s[-1]) and math.isnan(c[-1])


def test_computed_column_must_be_named(spark):
    with pytest.raises(TypeError, match="withColumn"):
        distance_expr("cosine", F.slice(F.col("a"), 1, 2), [1.0, 0.0])
