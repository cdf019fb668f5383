"""BM25 + RRF semantics vs hand-rolled python oracles
(reference: hybrid.rs score_document :344-383, reciprocal_rank_fusion :540-599)."""

import math

import pytest
from pyspark.sql import functions as F

from needle_spark.functions.text import tokenize_py
from needle_spark.operators.hybrid import (
    bm25_scores,
    bm25_topk,
    hybrid_search,
    normalize_scores,
    rerank_by_field,
    rrf_fuse,
)

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "a fast brown fox leaps over sleeping dogs"),
    (3, "slow green turtle walks under the table"),
    (4, "fox fox fox everywhere fox"),
    (5, "completely unrelated text about spark engines"),
]


def py_bm25(corpus, query, k1=1.5, b=0.75):
    docs = {i: tokenize_py(t) for i, t in corpus}
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    q_terms = tokenize_py(query)
    dfreq = {}
    for t in set(q_terms):
        dfreq[t] = sum(1 for toks in docs.values() if t in toks)
    out = {}
    for i, toks in docs.items():
        s = 0.0
        for t in q_terms:
            tf = toks.count(t)
            df = dfreq[t]
            if tf == 0 or df == 0:
                continue
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(toks) / avgdl))
        if s > 0:
            out[i] = s
    return out


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(CORPUS, "id long, text string")


def test_bm25_matches_python_oracle(corpus_df):
    got = {
        r["id"]: r["score"]
        for r in bm25_scores(corpus_df, "brown fox", id_col="id").collect()
    }
    want = py_bm25(CORPUS, "brown fox")
    assert set(got) == set(want)
    for i in want:
        assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i])


def test_bm25_duplicate_query_terms_count_twice(corpus_df):
    once = {r["id"]: r["score"] for r in bm25_scores(corpus_df, "fox", id_col="id").collect()}
    twice = {r["id"]: r["score"] for r in bm25_scores(corpus_df, "fox fox", id_col="id").collect()}
    for i in once:
        assert abs(twice[i] - 2 * once[i]) < 1e-12


def test_bm25_stemmed_mode(corpus_df):
    # "leaps" stems to "leap": querying "leaping" matches doc 2 only
    # through the stemmed index
    got = {r["id"] for r in bm25_scores(corpus_df, "leaping", id_col="id", stem=True).collect()}
    assert 2 in got
    unstemmed = {r["id"] for r in bm25_scores(corpus_df, "leaping", id_col="id").collect()}
    assert 2 not in unstemmed  # literal token "leaping" appears nowhere


def test_bm25_empty_query(corpus_df):
    assert bm25_scores(corpus_df, "the and of", id_col="id").count() == 0  # all stop words


def test_bm25_topk_order(corpus_df):
    rows = bm25_topk(corpus_df, "fox", limit=2, id_col="id").collect()
    want = sorted(py_bm25(CORPUS, "fox").items(), key=lambda t: (-t[1], t[0]))[:2]
    assert [r["id"] for r in rows] == [w[0] for w in want]


def py_rrf(vec, bm, k=60.0, vw=0.5, bw=0.5):
    scores = {}
    for rank, (i, _) in enumerate(vec):
        scores[i] = scores.get(i, 0.0) + vw / (k + rank + 1)
    for rank, (i, _) in enumerate(bm):
        scores[i] = scores.get(i, 0.0) + bw / (k + rank + 1)
    return scores


def test_rrf_fusion(spark):
    vec = spark.createDataFrame(
        [("a", 0.1), ("b", 0.2), ("c", 0.3)], "id string, distance double"
    )
    bm = spark.createDataFrame(
        [("b", 9.0), ("d", 5.0), ("a", 1.0)], "id string, score double"
    )
    rows = rrf_fuse(vec, bm, limit=10).collect()
    want = py_rrf([("a", 0), ("b", 0), ("c", 0)], [("b", 0), ("d", 0), ("a", 0)])
    got = {r["id"]: r["score"] for r in rows}
    assert set(got) == set(want)
    for i in want:
        assert abs(got[i] - want[i]) < 1e-12
    by_id = {r["id"]: r for r in rows}
    # ranks are 1-based; absent signal -> null
    assert by_id["b"]["vector_rank"] == 2 and by_id["b"]["bm25_rank"] == 1
    assert by_id["c"]["bm25_rank"] is None
    assert by_id["d"]["vector_rank"] is None
    assert abs(by_id["a"]["vector_score"] - 1.0 / 1.1) < 1e-12
    # sorted by fused score desc
    assert [r["id"] for r in rows] == sorted(got, key=lambda i: (-got[i], i))


def test_hybrid_end_to_end(spark, embeddings, documents):
    qv = [float(x) for x in embeddings.orderBy("vec_id").first()["embedding"]]
    emb = embeddings.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    docs = documents.select(F.col("doc_id").alias("id"), "text")
    joined = emb.join(docs, "id")
    out = hybrid_search(joined, qv, "fast merge sort join", k=10, fetch_n=30).collect()
    assert 0 < len(out) <= 10
    assert out[0]["score"] >= out[-1]["score"]


def test_rerank_by_field(spark):
    df = spark.createDataFrame(
        [("a", 0.1, 1.0), ("b", 0.2, 9.0), ("c", 0.3, 5.0), ("d", 0.9, 99.0)],
        "id string, distance double, rating double",
    )
    # fetch top-3 by distance (a,b,c) then reorder by rating desc, keep 2
    rows = rerank_by_field(df, "rating", k=2, fetch_k=3).collect()
    assert [r["id"] for r in rows] == ["b", "c"]


def test_normalize_scores(spark):
    df = spark.createDataFrame([("a", 1.0), ("b", 2.0), ("c", 4.0)], "id string, score double")
    mm = {r["id"]: r["score"] for r in normalize_scores(df, "min_max").collect()}
    assert mm == {"a": 0.0, "b": 1 / 3, "c": 1.0}
    sm = {r["id"]: r["score"] for r in normalize_scores(df, "softmax").collect()}
    assert abs(sum(sm.values()) - 1.0) < 1e-12
    zs = {r["id"]: r["score"] for r in normalize_scores(df, "z_score").collect()}
    assert abs(sum(zs.values())) < 1e-12


def test_bm25_bitexact_vs_duckdb(spark, corpus_df):
    """bm25_scores against its DuckDB twin, bit for bit, with a repeated
    query term and a stop word (which must score nothing)."""
    import duckdb
    import pandas as pd

    from needle_spark.operators.hybrid import duckdb_bm25_sql

    query = "the fox fox dog"
    got = sorted(tuple(r) for r in bm25_scores(corpus_df, query).collect())
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(CORPUS, columns=["id", "text"]))
    want = sorted(con.execute(duckdb_bm25_sql(
        query, table="docs", id_col="id", text_col="text")).fetchall())
    assert got == want
    assert {i for i, _ in got} == {1, 2, 4}
