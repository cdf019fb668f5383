"""NeedleQL end-to-end: parse + execute against the engine, matching the
operator-level results (reference grammar: docs/needleql.md; parser
tests modeled on query_lang/parser.rs:950+, lexer.rs:404+)."""

import pytest
from pyspark.sql import functions as F

from needle_spark.catalog import Database
from needle_spark.ql import QueryExecutor, parse
from needle_spark.ql import ast
from needle_spark.ql.executor import ExecError, parse_duration
from needle_spark.ql.lexer import LexError, tokenize
from needle_spark.ql.parser import ParseError


# ----------------------------------------------------------- parsing ---

def test_lexer_shapes():
    toks = tokenize("SELECT * FROM docs WHERE a != 'it''s' AND b >= 1.5e2 LIMIT 3")
    kinds = [(t.kind, t.value) for t in toks[:4]]
    assert kinds == [("KEYWORD", "SELECT"), ("PUNCT", "*"), ("KEYWORD", "FROM"), ("IDENT", "docs")]
    s = next(t for t in toks if t.kind == "STRING")
    assert s.value == "it's"
    with pytest.raises(LexError):
        tokenize("SELECT 'unterminated")


def test_parse_select_full():
    q = parse(
        "SELECT id, distance FROM docs WHERE vector SIMILAR TO $q "
        "AND category = 'x' AND price BETWEEN 1 AND 10 "
        "OR tag IN ('a','b') ORDER BY distance ASC LIMIT 5 OFFSET 2;"
    )
    assert isinstance(q, ast.SelectStmt)
    assert q.columns == ["id", "distance"]
    assert q.limit == 5 and q.offset == 2
    assert isinstance(q.where, ast.Or)


def test_parse_errors():
    with pytest.raises(ParseError):
        parse("SELECT FROM docs")
    with pytest.raises(ParseError):
        parse("SELECT * docs")
    with pytest.raises(ParseError):
        parse("SELECT * FROM docs WHERE vector SIMILAR $q")
    with pytest.raises(ParseError):
        parse("FROBNICATE everything")


def test_parse_duration():
    assert parse_duration("7d") == 604800
    assert parse_duration("2h") == 7200
    assert parse_duration("30 m") == 1800
    with pytest.raises(ValueError):
        parse_duration("yesterday")


# --------------------------------------------------------- execution ---

@pytest.fixture(scope="module")
def ex(spark, embeddings, documents):
    emb = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector"),
        "label",
    ).withColumn("inserted_at", (F.col("id") * 10).cast("long"))
    docs = documents.select(F.col("doc_id").alias("id"), "text", "lang")
    joined = emb.join(docs, "id")
    return QueryExecutor(
        spark, tables={"embeddings": emb, "documents": docs, "corpus": joined}
    )


@pytest.fixture(scope="module")
def qv(embeddings):
    return [float(x) for x in embeddings.orderBy("vec_id").first()["embedding"]]


def test_ql_knn_matches_operator(spark, ex, embeddings, qv):
    from needle_spark.operators.knn import knn

    got = ex.execute(
        "SELECT id, distance FROM embeddings WHERE vector SIMILAR TO $q LIMIT 10",
        {"q": qv},
    ).collect()
    want = knn(
        embeddings, qv, k=10, vector_col="embedding", id_col="vec_id"
    ).select("vec_id", "distance").collect()
    assert [(r["id"], r["distance"]) for r in got] == [
        (r["vec_id"], r["distance"]) for r in want
    ]


def test_ql_filtered_knn(ex, qv):
    rows = ex.execute(
        "SELECT id, label, distance FROM embeddings "
        "WHERE vector SIMILAR TO $q AND label IN (1, 2, 3) LIMIT 5",
        {"q": qv},
    ).collect()
    assert len(rows) == 5 and all(r["label"] in (1, 2, 3) for r in rows)


def test_ql_relational_scan(ex):
    rows = ex.execute(
        "SELECT id, lang FROM documents WHERE lang = 'en' AND id < 50"
    ).collect()
    assert all(r["lang"] == "en" and r["id"] < 50 for r in rows)


def test_ql_text_match(ex):
    rows = ex.execute(
        "SELECT id, score FROM documents WHERE text MATCH 'fast merge sort' LIMIT 5"
    ).collect()
    assert 0 < len(rows) <= 5
    assert rows[0]["score"] >= rows[-1]["score"]


def test_ql_hybrid(ex, qv):
    rows = ex.execute(
        "SELECT id, score FROM corpus WHERE vector SIMILAR TO $q "
        "AND text MATCH 'fast merge sort' "
        "ORDER BY hybrid_score(vector_score, text_score, 0.7) LIMIT 5",
        {"q": qv},
    ).collect()
    assert 0 < len(rows) <= 5
    assert rows[0]["score"] >= rows[-1]["score"]


@pytest.mark.parametrize("stmt,budget", [
    ("SELECT id, distance FROM docs WHERE vector SIMILAR TO $q "
     "AND tag = 't1' LIMIT 10", 200),
    ("SELECT id, score FROM docs WHERE vector SIMILAR TO $q "
     "AND text MATCH 'beta beta gamma the' LIMIT 10", 500),
])
def test_ql_statement_build_py4j_budget(spark, py4j_calls, stmt, budget):
    """Building a kNN or hybrid statement (everything before its
    action) costs a fixed number of py4j calls: generated columns go to
    the JVM as one SQL string each, so the count does not grow with the
    query vector's dimension."""
    counts = []
    for d in (8, 512):
        docs = spark.createDataFrame(
            [(f"d{i}", [float(i + j) for j in range(d)],
              f"alpha beta gamma{i}", f"t{i % 2}") for i in range(4)],
            "id string, vector array<float>, text string, tag string")
        ex = QueryExecutor(spark, tables={"docs": docs})
        q = {"q": [0.5] * d}
        ex.execute(stmt, q)  # warm-up: first-use lookups are not per statement
        with py4j_calls() as calls:
            ex.execute(stmt, q)
        counts.append(calls.n)
    assert counts[0] == counts[1], counts
    assert counts[0] <= budget, counts


def test_ql_hybrid_post_stages(spark, ex, qv):
    """Hybrid (SIMILAR + MATCH) must APPLY trailing stages instead of
    silently dropping them (ADVICE r1): RERANK BY field reorders the
    fused pool; TIME_DECAY rescales the fused score."""
    reranked = ex.execute(
        "SELECT id, label, score FROM corpus WHERE vector SIMILAR TO $q "
        "AND text MATCH 'fast merge sort' RERANK BY label LIMIT 5",
        {"q": qv},
    ).collect()
    assert 0 < len(reranked) <= 5
    labels = [r["label"] for r in reranked]
    assert labels == sorted(labels, reverse=True)  # actually reordered

    decayed = ex.execute(
        "SELECT id, score FROM corpus "
        "WITH TIME_DECAY(function = 'exponential', half_life_seconds = 100) "
        "WHERE vector SIMILAR TO $q AND text MATCH 'fast merge sort' "
        "LIMIT 5",
        {"q": qv, "now": 100000},
    ).collect()
    assert 0 < len(decayed) <= 5
    assert decayed[0]["score"] >= decayed[-1]["score"]


def test_ql_rag_dedup_by_text(spark, qv):
    """RAG deduplicate drops near-identical TEXT chunks even when their
    distances differ (reference deduplicate_chunks, pipeline.rs:855)."""
    dup = spark.createDataFrame(
        [("a", [1.0, 0.0], "the quick brown fox jumps over the lazy dog"),
         ("a2", [0.9, 0.1], "the quick brown fox jumps over the lazy dog!"),
         ("b", [0.0, 1.0], "an entirely different document about spark sql")],
        "id string, vector array<float>, text string",
    )
    ex2 = QueryExecutor(spark, tables={"dup": dup})
    got = [r["id"] for r in ex2.execute(
        "SELECT id FROM dup USING RAG(top_k = 5, deduplicate = true) "
        "WHERE vector SIMILAR TO $q",
        {"q": [1.0, 0.0]},
    ).collect()]
    assert got == ["a", "b"]  # a2: same text, different distance — collapsed


def test_ql_offset_with_rerank(ex, qv):
    """OFFSET + RERANK must return a FULL page starting at offset, not
    limit-offset rows (ADVICE r1)."""
    full = ex.execute(
        "SELECT id FROM embeddings WHERE vector SIMILAR TO $q "
        "RERANK BY label LIMIT 8",
        {"q": qv},
    ).collect()
    page = ex.execute(
        "SELECT id FROM embeddings WHERE vector SIMILAR TO $q "
        "RERANK BY label LIMIT 5 OFFSET 3",
        {"q": qv},
    ).collect()
    assert len(page) == 5
    assert [r["id"] for r in page] == [r["id"] for r in full[3:8]]


def test_ql_as_of_and_decay(ex, qv):
    rows = ex.execute(
        "SELECT id, distance FROM embeddings AS OF 990 "
        "WHERE vector SIMILAR TO $q LIMIT 10",
        {"q": qv},
    ).collect()
    assert all(r["id"] * 10 <= 990 for r in rows)

    decayed = ex.execute(
        "SELECT id, distance FROM embeddings "
        "WITH TIME_DECAY(function = 'exponential', half_life_seconds = 1000) "
        "WHERE vector SIMILAR TO $q LIMIT 5",
        {"q": qv, "now": 5000},
    ).collect()
    assert len(decayed) == 5


def test_ql_offset(ex, qv):
    full = ex.execute(
        "SELECT id FROM embeddings WHERE vector SIMILAR TO $q LIMIT 10", {"q": qv}
    ).collect()
    shifted = ex.execute(
        "SELECT id FROM embeddings WHERE vector SIMILAR TO $q LIMIT 5 OFFSET 3",
        {"q": qv},
    ).collect()
    assert [r["id"] for r in shifted] == [r["id"] for r in full[3:8]]


def test_ql_using_rag(spark, ex, qv):
    # top_k acts as the default limit
    rows = ex.execute(
        "SELECT id, distance FROM embeddings USING RAG(top_k = 3) "
        "WHERE vector SIMILAR TO $q",
        {"q": qv},
    ).collect()
    assert len(rows) == 3
    # explicit LIMIT wins over top_k
    rows = ex.execute(
        "SELECT id FROM embeddings USING RAG(top_k = 3) "
        "WHERE vector SIMILAR TO $q LIMIT 7",
        {"q": qv},
    ).collect()
    assert len(rows) == 7
    # deduplicate collapses identically-scored duplicates
    dup = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("a2", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "id string, vector array<float>",
    )
    from needle_spark.ql import QueryExecutor

    ex2 = QueryExecutor(spark, tables={"dup": dup})
    got = [r["id"] for r in ex2.execute(
        "SELECT id FROM dup USING RAG(top_k = 5, deduplicate = true) "
        "WHERE vector SIMILAR TO $q",
        {"q": [1.0, 0.0]},
    ).collect()]
    assert got == ["a", "b"]  # a2 (identical chunk) collapsed
    # unknown option rejected at parse time
    from needle_spark.ql.parser import ParseError

    with pytest.raises(ParseError, match="RAG option"):
        ex.execute("SELECT id FROM embeddings USING RAG(frob = 1) "
                   "WHERE vector SIMILAR TO $q LIMIT 1", {"q": qv})


def test_ql_search_near(spark, ex, qv, embeddings):
    from needle_spark.operators.knn import knn

    got = ex.execute("SEARCH NEAR $q FROM embeddings LIMIT 5", {"q": qv}).collect()
    want = knn(embeddings, qv, k=5, vector_col="embedding", id_col="vec_id").collect()
    assert [r["id"] for r in got] == [r["vec_id"] for r in want]

    filtered = ex.execute(
        "SEARCH NEAR $q FROM embeddings WHERE label IN (1, 2) LIMIT 4", {"q": qv}
    ).collect()
    assert len(filtered) == 4 and all(r["label"] in (1, 2) for r in filtered)

    # RERANK BY MMR(lambda): diversified pick, query vec itself first
    mmr = ex.execute(
        "SEARCH NEAR $q FROM embeddings RERANK BY MMR(0.5) LIMIT 5", {"q": qv}
    ).collect()
    assert len(mmr) == 5 and mmr[0]["id"] == 0


def test_ql_execution_stats(ex, qv):
    """QueryResponse{results, plan, stats} with executor.rs:77-90
    vocabulary: stats present and plausible."""
    resp = ex.execute_with_stats(
        "SELECT id, distance FROM embeddings WHERE vector SIMILAR TO $q "
        "AND label IN (1, 2, 3) LIMIT 5",
        {"q": qv}, with_plan=True,
    )
    assert len(resp.results) == 5
    s = resp.stats
    assert s.vectors_matched == 5
    assert s.vectors_scanned >= 5  # full source scan feeds the search
    assert s.total_time_ms >= s.search_time_ms > 0.0
    assert s.filter_time_ms == 0.0  # fused into the scan by Catalyst
    assert "VectorSearch" in resp.plan and "MetadataFilter" in resp.plan

    with pytest.raises(ExecError, match="plain SELECT"):
        ex.execute_with_stats("EXPLAIN SELECT id FROM embeddings LIMIT 1")


def test_ql_unbound_param(ex):
    with pytest.raises(ExecError, match="unbound"):
        ex.execute("SELECT * FROM embeddings WHERE vector SIMILAR TO $nope LIMIT 1")


def test_ql_explain(ex, qv):
    txt = ex.execute(
        "EXPLAIN SELECT id FROM embeddings WHERE vector SIMILAR TO $q "
        "AND label = 1 LIMIT 5",
        {"q": qv},
    )
    assert "strategy:" in txt and "VectorSearch" in txt and "MetadataFilter" in txt
    analyzed = ex.execute(
        "EXPLAIN ANALYZE SELECT id FROM embeddings WHERE vector SIMILAR TO $q LIMIT 5",
        {"q": qv},
    )
    assert "physical plan" in analyzed


def test_ql_views(ex, qv):
    ex.execute("CREATE VIEW en_docs AS SELECT id, text FROM documents WHERE lang = 'en'")
    n = len(ex.execute("SELECT id FROM en_docs WHERE id < 100").collect())
    assert n > 0
    ex.execute("DROP VIEW en_docs")
    with pytest.raises(ExecError):
        ex.execute("SELECT id FROM en_docs")


def test_ql_stats_over_view_and_materialized(ex):
    """Regression: execute_with_stats over a view / materialized view used
    to deadlock — the Observation-wrapped source went into self.tables but
    _resolve preferred views/materialized, so the observed dataset never
    ran and obs.get blocked forever.  The override registry fixes it."""
    ex.execute("CREATE VIEW sv_docs AS SELECT id, text FROM documents WHERE lang = 'en'")
    resp = ex.execute_with_stats("SELECT id FROM sv_docs WHERE id < 100 LIMIT 5")
    assert len(resp.results) == 5
    assert resp.stats.vectors_scanned > 0
    ex.execute("DROP VIEW sv_docs")

    ex.execute(
        "CREATE MATERIALIZED VIEW mv_docs AS "
        "SELECT id, text FROM documents WHERE lang = 'en'"
    )
    resp = ex.execute_with_stats("SELECT id FROM mv_docs WHERE id < 100 LIMIT 5")
    assert len(resp.results) == 5
    assert resp.stats.vectors_scanned > 0
    ex.execute("DROP VIEW mv_docs")
    # override cleaned up even on the happy path
    assert ex._overrides == {}


def test_ql_ddl_and_dml(spark, tmp_path, qv):
    db = Database(spark, str(tmp_path / "qldb"))
    ex = QueryExecutor(spark, database=db)
    ex.execute("CREATE COLLECTION things (dims = 2)")
    assert "things" in ex.execute("SHOW COLLECTIONS")["collections"]
    r = ex.execute(
        "INSERT INTO things (id, vector) VALUES ('a', $v)", {"v": [1.0, 0.0]}
    )
    assert r == {"inserted": 1}
    ex.execute("INSERT INTO things (id, vector) VALUES ('b', $v)", {"v": [0.0, 1.0]})
    got = ex.execute(
        "SELECT id, distance FROM things WHERE vector SIMILAR TO $q LIMIT 2",
        {"q": [1.0, 0.0]},
    ).collect()
    assert [r["id"] for r in got] == ["a", "b"]
    assert ex.execute("DELETE FROM things WHERE id = 'a'") == {"deleted": 1}
    assert db.collection("things").count() == 1
    ex.execute("DROP COLLECTION things")
    assert ex.execute("SHOW COLLECTIONS")["collections"] == []


def test_order_by_score_asc_is_applied(ex):
    """ADVICE r5: BM25/hybrid pages arrive score DESC, so a plain
    `ORDER BY score` (ASC by default) must RE-SORT rather than being
    swallowed by the natural-order shortcut; `ORDER BY score DESC`
    remains the no-op fast path."""
    asc = ex.execute(
        "SELECT id, score FROM documents WHERE text MATCH "
        "'fast merge sort' ORDER BY score ASC LIMIT 5").collect()
    scores = [r["score"] for r in asc]
    assert len(scores) > 1 and scores == sorted(scores)
    desc = ex.execute(
        "SELECT id, score FROM documents WHERE text MATCH "
        "'fast merge sort' ORDER BY score DESC LIMIT 5").collect()
    dscores = [r["score"] for r in desc]
    assert dscores == sorted(dscores, reverse=True)


def test_hybrid_order_by_distance_resorts(ex, qv):
    """Review r6: the hybrid branch emits pages ordered score DESC but
    carries a distance column too — a plain ORDER BY distance must
    re-sort the page, and a typo'd sort key must error on EVERY branch
    (natural-order guessing used to swallow both)."""
    rows = ex.execute(
        "SELECT id, distance, score FROM corpus WHERE vector SIMILAR TO "
        "$q AND text MATCH 'fast merge sort' ORDER BY distance LIMIT 5",
        {"q": qv}).collect()
    dists = [r["distance"] for r in rows]
    assert len(dists) > 1 and dists == sorted(dists)
    from needle_spark.ql.executor import ExecError
    with pytest.raises(ExecError, match="not in result"):
        ex.execute(
            "SELECT id FROM embeddings WHERE vector SIMILAR TO $q "
            "ORDER BY score DESC LIMIT 5", {"q": qv}).collect()
