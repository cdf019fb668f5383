"""Arrow batch-kNN fast path must agree with the exact expression path."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from needle_spark.operators.knn import batch_knn
from needle_spark.operators.knn_arrow import batch_knn_arrow, vector_matrix

METRICS = ["cosine", "euclidean", "dot", "manhattan", "chebyshev"]


@pytest.mark.parametrize("metric", METRICS)
def test_arrow_matches_exact(spark, embeddings, metric):
    queries = embeddings.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    exact = batch_knn(
        embeddings, queries, k=5, metric=metric,
        doc_vector_col="embedding", doc_id_col="vec_id",
    ).collect()
    fast = batch_knn_arrow(
        embeddings.repartition(7), queries, k=5, metric=metric,
        doc_vector_col="embedding", doc_id_col="vec_id",
    ).collect()
    key = lambda rows: [(r["query_id"], r["rank"], r["vec_id"]) for r in
                        sorted(rows, key=lambda r: (r["query_id"], r["rank"]))]
    assert key(exact) == key(fast)
    ed = {(r["query_id"], r["vec_id"]): r["distance"] for r in exact}
    # euclidean uses the |v|^2 - 2v.q + |q|^2 expansion -> ~1e-8 noise;
    # the engine's documented accuracy contract is 1e-6.
    for r in fast:
        assert abs(ed[(r["query_id"], r["vec_id"])] - r["distance"]) < 1e-6


# ---------------------------------------------- vector_matrix contract ---

_LAYOUTS = ["list", "large_list", "fixed_size_list"]


def _arrow(rows, layout, width, value_type=pa.float32()):
    if layout == "fixed_size_list":
        return pa.array(rows, pa.list_(value_type, width))
    make = pa.large_list if layout == "large_list" else pa.list_
    return pa.array(rows, make(value_type))


@settings(max_examples=60, deadline=None)
@given(
    n=st.integers(0, 6),
    d=st.integers(0, 5),
    start=st.integers(0, 3),
    layout=st.sampled_from(_LAYOUTS),
    data=st.data(),
)
def test_vector_matrix_matches_row_reference(n, d, start, layout, data):
    finite = st.floats(-1e6, 1e6, allow_nan=False, width=32)
    rows = data.draw(st.lists(st.lists(finite, min_size=d, max_size=d),
                              min_size=n + start, max_size=n + start))
    arr = _arrow(rows, layout, d).slice(start)
    got = vector_matrix(arr, np.float64, "vector")
    # an empty variable-width list carries no width
    width = d if n or layout == "fixed_size_list" else 0
    # the per-row conversion every kernel used to spell out by hand
    want = np.asarray([np.asarray(v, dtype=np.float64)
                       for v in arr.to_pylist()]).reshape(n, width)
    assert got.shape == (n, width) and got.flags.c_contiguous
    assert np.array_equal(got, want)
    assert np.array_equal(vector_matrix(pa.chunked_array([arr], arr.type),
                                        np.float64, "vector"), want)


_BAD = {
    "null cell": ([[1.0, 2.0], None], "null vector"),
    "null element": ([[1.0, 2.0], [None, 1.0]], "null vector element"),
    "ragged": ([[1.0, 2.0], [1.0, 2.0, 3.0]], "differing widths 2 and 3"),
    "nan": ([[1.0, 2.0], [float("nan"), 1.0]], "NaN or infinite"),
    "inf": ([[1.0, 2.0], [float("-inf"), 1.0]], "NaN or infinite"),
}


# a fixed_size_list cannot hold two widths
@pytest.mark.parametrize("case,layout", [
    (c, lay) for c in sorted(_BAD) for lay in _LAYOUTS
    if not (c == "ragged" and lay == "fixed_size_list")])
def test_vector_matrix_rejects_bad_input(case, layout):
    rows, msg = _BAD[case]
    # a leading good row sliced away keeps the bad rows at offset 1
    arr = _arrow([[0.0, 0.0]] + rows, layout, 2).slice(1)
    with pytest.raises(ValueError, match=f"^emb: .*{msg}"):
        vector_matrix(arr, np.float32, "emb")
