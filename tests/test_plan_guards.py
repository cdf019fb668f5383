"""Physical-plan regression guards (VERDICT r2 next-round #9).

PLANS.md documents the plan shapes that make the engine scale-safe at
100 TB; these tests pin them in CI so a refactor can't silently
regress them:

- batch kNN: no hash-partition shuffle, no sort-merge join — the query
  side broadcasts / fuses, docs stream through their scan;
- indexed BM25 search: ZERO joins above the cached postings — a query
  is a literal-map lookup over one InMemoryTableScan;
- TTL read path: the expiry filter is a codegen'd scan predicate, not
  a Python UDF;
- lazy graph traversal: every per-hop join broadcasts the frontier,
  never sort-merges the edge table;
- filtered kNN: predicate pushed to the Parquet scan + top-k planned
  as TakeOrderedAndProject (per-partition heaps, no global sort);
- aggregation: map-side partial aggregation before the shuffle;
- text near-dup: each operator runs its one Python kernel once — the
  MinHash banding kernel and candidate shingle UDF, the SimHash kernel,
  the n-gram shingle UDF;
- embedding near-dup: the verification kernel is a distributed
  FlatMapGroupsInArrow over cells, not a driver-side loop.
"""

import ast
import collections
import re

import pytest
from pyspark.sql import functions as F

from needle_spark.plans.planner import explain_text

from conftest import load


def plan_of(df) -> str:
    return explain_text(df, mode="formatted")


def test_batch_knn_no_shuffle_no_smj(spark, embeddings):
    from needle_spark.operators.knn import batch_knn

    q = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector"))
    p = plan_of(batch_knn(embeddings, q, k=5,
                          doc_vector_col="embedding", doc_id_col="vec_id"))
    assert "Exchange hashpartitioning" not in p
    assert "SortMergeJoin" not in p


def test_bm25_index_search_zero_joins_above_cache(spark, sf_dir):
    from needle_spark.operators.hybrid import Bm25Index

    docs = load(spark, "documents", sf_dir).limit(200)
    idx = Bm25Index(docs, id_col="doc_id", text_col="text")
    p = plan_of(idx.search("data pipeline quality", limit=10))
    assert "InMemoryTableScan" in p  # reads the cached postings...
    # ...and nothing joins ABOVE them: the tree below InMemoryRelation
    # is the build-time plan, paid once at index construction — only
    # the operators above the cache run per query
    above_cache = p.split("InMemoryTableScan", 1)[0]
    assert "Join" not in above_cache
    assert "Scan parquet" not in above_cache  # no re-read of the corpus


def test_ttl_filter_is_codegen_not_python(spark, tmp_path):
    from needle_spark.catalog import Database

    db = Database(spark, str(tmp_path / "db"))
    c = db.create_collection(
        "ephemeral", dims=2,
        schema="id string, vector array<float>, category string",
        default_ttl_seconds=100,
    )
    c.insert(spark.createDataFrame(
        [("a", [1.0, 0.0], "x")],
        "id string, vector array<float>, category string"), now_ms=1_000_000)
    p = plan_of(c.df(now=1050))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in p
    assert "expires_at" in p  # the expiry predicate is in the scan plan


def test_graph_traverse_broadcasts_every_hop(spark):
    from needle_spark.operators.graph import traverse

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
        "src string, dst string")
    p = plan_of(traverse(edges, ["a"], max_hops=4))
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_filtered_knn_pushdown_and_topk_heap(spark, embeddings):
    from needle_spark.operators.knn import knn

    p = plan_of(knn(embeddings, [0.1] * 64, k=10,
                    filter={"label": {"$in": [1, 2, 3]}},
                    vector_col="embedding", id_col="vec_id"))
    assert "TakeOrderedAndProject" in p  # no global sort for top-k
    assert "PushedFilters" in p and "In(label" in p.replace(", [", ", [")


def test_groupby_agg_is_map_side_partial(spark, sf_dir):
    li = load(spark, "lineitem", sf_dir)
    p = plan_of(li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("c")))
    assert "partial_sum" in p or "partial" in p.lower()
    assert p.count("HashAggregate") >= 2  # partial + final


def test_embedding_neardup_is_distributed_kernel(spark, embeddings):
    from needle_spark.operators.dedup import embedding_neardup_pairs

    pairs = embedding_neardup_pairs(
        embeddings.limit(300), threshold=0.15, metric="euclidean",
        vector_col="embedding", id_col="vec_id")
    p = plan_of(pairs)
    assert "FlatMapGroupsInArrow" in p  # per-cell verification kernel
    assert "Scan parquet" in p           # source scan retained (no collect)


def _python_nodes(p: str) -> tuple:
    """(MapInPandas, ArrowEvalPython) tree entries of a formatted plan
    (the detail section repeats each name as "(n) Name")."""
    return p.count("MapInPandas ("), p.count("ArrowEvalPython (")


def test_minhash_one_banding_kernel_one_shingle_udf(spark, documents):
    """The banding kernel runs inside the materialized pair frame, the
    candidate shingle UDF in the verify plan above it: one of each."""
    from unittest import mock

    from needle_spark.operators import dedup

    banding_plans = []
    real = dedup.materialize

    def spy(df):
        banding_plans.append(plan_of(df))
        return real(df)

    with mock.patch.object(dedup, "materialize", spy):
        out = dedup.minhash_lsh_candidates(documents, id_col="doc_id",
                                           text_col="text")
    assert len(banding_plans) == 1
    assert _python_nodes(banding_plans[0]) == (1, 0)
    assert _python_nodes(plan_of(out)) == (0, 1)


def test_simhash_one_kernel_no_udf(spark, documents):
    from needle_spark.operators.dedup import simhash_candidates

    p = plan_of(simhash_candidates(documents, id_col="doc_id"))
    assert _python_nodes(p) == (1, 0)


def test_ngram_jaccard_one_shingle_udf(spark, documents):
    from needle_spark.operators.dedup import ngram_jaccard_pairs

    p = plan_of(ngram_jaccard_pairs(documents, id_col="doc_id"))
    assert _python_nodes(p) == (0, 1)


def test_snapshot_diff_single_join_no_python(spark, embeddings):
    """VCS diff must stay one join on the id key with every comparison
    a scan expression — no Python, no second pass."""
    from needle_spark.vcs import snapshot_diff

    target = embeddings.filter(F.col("vec_id") % 2 == 0)
    p = plan_of(snapshot_diff(embeddings, target, id_col="vec_id",
                              vector_col="embedding"))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in p
    import re

    joins = re.findall(
        r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", p)
    assert len(joins) == 1  # ONE full-outer join on the id key


def test_lineage_summary_single_aggregation(spark):
    """Per-vector lineage is ONE hash aggregation over the CDC log
    (map-side partial + final), nothing Python, no join."""
    from needle_spark.operators.lineage import lineage_from_cdc

    ev = spark.createDataFrame(
        [(0, 10, "insert", "x", None)],
        "sequence long, timestamp_ms long, event_type string, "
        "vector_id string, metadata string")
    p = plan_of(lineage_from_cdc(ev))
    assert "Join" not in p
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in p
    import re

    # partial + final (sort-based: min_by/max_by are TypedImperative),
    # one exchange between them — map-side combine is intact
    aggs = re.findall(r"\(\d+\) (?:Sort|Hash)Aggregate", p)
    assert len(aggs) >= 2
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1


def test_schema_adapted_read_map_only(spark, tmp_path):
    """Lazy schema adaptation is pure scan projection: no exchange, no
    Python, on top of the collection's merge-on-read view."""
    from needle_spark.catalog import Database

    db = Database(spark, str(tmp_path / "seplandb"))
    c = db.create_collection(
        "docs", dims=2, schema="id string, vector array<float>, category string")
    c.insert(spark.createDataFrame(
        [("a", [1.0, 0.0], "x")],
        "id string, vector array<float>, category string"), now_ms=1000)
    reg = c.schema_registry()
    reg.apply_change({"kind": "add_field", "name": "q",
                      "dtype": "double", "default": 0.5})
    reg.apply_change({"kind": "change_dimension", "to": 4,
                      "strategy": "zero_pad"})
    base = plan_of(c.df())
    adapted = plan_of(reg.adapted_df())
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in adapted
    # adaptation adds NO exchanges beyond the base read's own plan
    assert adapted.count("Exchange") == base.count("Exchange")


def test_chunk_semantic_map_only(spark, sf_dir):
    """Semantic chunking (operators/rag.py chunk_semantic_expr) is a pure
    scan expression: no exchange, no Python UDF — chunking a 100 TB
    corpus is map-only work."""
    from needle_spark.operators.rag import chunk_semantic_expr

    docs = load(spark, "documents", sf_dir)
    df = docs.select(
        "doc_id",
        F.posexplode(chunk_semantic_expr(F.col("text"), 200, 50))
         .alias("chunk_index", "chunk"))
    p = plan_of(df)
    assert "Exchange" not in p
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in p


def test_chunk_semantic_arrow_map_only(spark, sf_dir):
    """The Arrow twin (r12, used by the declared chunk_semantic query)
    stays map-only too: ONE ArrowEvalPython, zero exchanges — chunking
    a 100 TB corpus remains a single scan either way."""
    from needle_spark.operators.rag import chunk_semantic_arrow

    docs = load(spark, "documents", sf_dir)
    df = docs.select(
        "doc_id",
        F.posexplode(chunk_semantic_arrow(F.col("text"), 200, 50))
         .alias("chunk_index", "chunk"))
    p = plan_of(df)
    assert "Exchange" not in p
    # one tree entry "ArrowEvalPython (n)" (the formatted detail section
    # repeats the node name as "(n) ArrowEvalPython")
    assert p.count("ArrowEvalPython (") == 1


def test_multi_query_search_single_rank_exchange(spark, embeddings):
    """Multi-query fusion rides the fused batch-kNN broadcast join: the
    doc side never hash-partitions before ranking; only the per-query
    rank window and the final merge aggregate exchange."""
    from needle_spark.operators.rag import multi_query_search

    docs = embeddings.select(F.col("vec_id").alias("id"),
                             F.col("embedding").alias("vector"))
    qv = [[float(i == j) for j in range(64)] for i in range(3)]
    p = plan_of(multi_query_search(docs, qv, k=5))
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_cf_similarity_no_cartesian(spark, sf_dir):
    """Item-item CF similarity joins on user_id: co-occurring pairs
    only — no CartesianProduct / BroadcastNestedLoopJoin of items."""
    from needle_spark.operators.collab_filter import (
        interaction_matrix,
        item_similarity,
    )

    ev = load(spark, "events", sf_dir).withColumn(
        "item_id", F.get_json_object("props", "$.k").cast("long"))
    p = plan_of(item_similarity(interaction_matrix(ev, item_col="item_id")))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_centroids_ml_no_explode(spark, embeddings):
    """The Summarizer centroid path must aggregate dense vectors —
    no Generate/posexplode of n*d element rows."""
    from needle_spark.operators.vector_agg import group_centroids_ml

    df = embeddings.select("label", F.col("embedding").alias("vector"))
    p = plan_of(group_centroids_ml(df))
    import re

    assert "Generate" not in p  # the explode operator
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 1  # one agg exchange


def test_zscore_outliers_single_scan_no_python(spark, embeddings):
    """zscore_outliers = ONE stats aggregation job + ONE map-only flag
    pass: the returned plan is a codegen'd filter over the scan (no
    join, no Python, no exchange beyond the agg already executed)."""
    from needle_spark.operators.anomaly import zscore_outliers

    p = plan_of(zscore_outliers(embeddings, vector_col="embedding",
                                threshold=2.5, id_col="vec_id"))
    assert "BatchEvalPython" not in p and "FlatMapGroupsInPandas" not in p
    assert "Join" not in p
    assert "* Filter" in p  # the flag pass is whole-stage codegen'd


def test_iqr_outliers_single_scan_no_python(spark, embeddings):
    from needle_spark.operators.anomaly import iqr_outliers

    p = plan_of(iqr_outliers(embeddings, vector_col="embedding",
                             multiplier=1.5, id_col="vec_id"))
    assert "BatchEvalPython" not in p and "FlatMapGroupsInPandas" not in p
    assert "Join" not in p


def test_sq8_roundtrip_is_scan_expression(spark, embeddings):
    """encode + dequantize compile to array_transform scan expressions:
    no Python, no shuffle — quantization rides the scan at any scale."""
    from needle_spark.plans.quantization import SQ8

    sq = SQ8.fit(embeddings, vector_col="embedding")
    enc = sq.encode(embeddings).withColumn("deq", sq.dequantize_expr())
    p = plan_of(enc)
    assert "BatchEvalPython" not in p
    assert "Exchange" not in p


def test_insert_dedup_nn_broadcasts_batch_partial_agg(spark, embeddings):
    """Insert-time dedup's batch-vs-existing 1-NN (round 10) must scan
    the collection ONCE with the API-payload batch BROADCAST and
    aggregate the per-row min map-side — a shuffled/sort-merge shape
    here would re-shuffle the corpus per insert batch at 100 TB."""
    from needle_spark.operators.insert_dedup import (SemanticDedupConfig,
                                                     apply_insert_dedup)
    from needle_spark.operators.insert_dedup import _nn_vs_existing

    existing = embeddings.select(
        F.col("vec_id").cast("string").alias("id"),
        F.col("embedding").alias("vector"))
    import pandas as pd
    import numpy as np

    batch_pdf = pd.DataFrame({
        "__bid": ["b1", "b2"],
        "__bvec": [np.zeros(64, dtype=np.float32),
                   np.ones(64, dtype=np.float32)],
    })
    cfg = SemanticDedupConfig.new(0.5, "reject")
    # capture the physical plan of the nn frame by rebuilding it
    bdf = spark.createDataFrame(batch_pdf,
                                schema="__bid string, __bvec array<float>")
    from needle_spark.functions.distance import distance_expr
    d = distance_expr(cfg.metric, F.col("vector"), F.col("__bvec"))
    nn = (existing.select(F.col("id").alias("__eid"), F.col("vector"))
          .crossJoin(F.broadcast(bdf))
          .select("__bid", F.struct(d.cast("double").alias("d"),
                                    F.col("__eid").alias("eid"))
                  .alias("__s"))
          .groupBy("__bid").agg(F.min("__s").alias("__s")))
    p = plan_of(nn)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "SortMergeJoin" not in p
    # partial (map-side) min before the exchange
    assert p.count("HashAggregate") >= 2 or "partial_min" in p
    # end-to-end result sanity through the real API
    res = _nn_vs_existing(existing, batch_pdf["__bid"].tolist(),
                          np.stack(batch_pdf["__bvec"]), cfg, "id", "vector")
    assert set(res) == {"b1", "b2"}


# operators a window's input may pass through on its way down to the
# limit that bounds it (single-child, row-count preserving)
_PASS_THROUGH = {"Sort", "Project", "Exchange", "WholeStageCodegen",
                 "InputAdapter", "AQEShuffleRead", "ColumnarToRow"}
_LIMITS = {"TakeOrderedAndProject", "GlobalLimit", "LocalLimit",
           "CollectLimit"}


def _windows_above_limits(df) -> int:
    """Walk the physical plan tree; for every Window follow its input
    down through pass-through operators and require a limit there.
    Returns the number of windows checked."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = []
    for line in plan.splitlines():
        m = re.match(r"^([ :|]*(?:[+:]- )?)\*?(?:\(\d+\) )?([A-Za-z]\w*)", line)
        if m:
            nodes.append((len(m.group(1)), m.group(2)))
    checked = 0
    for i, (depth, name) in enumerate(nodes):
        if name != "Window":
            continue
        j = i + 1
        while j < len(nodes) and nodes[j][1] in _PASS_THROUGH:
            j += 1
        assert j < len(nodes) and nodes[j][0] > depth, plan
        assert nodes[j][1] in _LIMITS, (
            f"Window input is not limited (found {nodes[j][1]}):\n{plan}")
        checked += 1
    return checked


def test_hybrid_rrf_windows_rank_limited_legs(spark):
    """rrf_fuse ranks with unpartitioned row_number windows.  That is
    safe only because every caller hands it top-k legs: each Window in
    the NeedleQL hybrid plan and in hybrid_search must sit above a
    Limit / TakeOrderedAndProject, never above a corpus-sized input."""
    from needle_spark.operators.hybrid import hybrid_search
    from needle_spark.ql.executor import QueryExecutor

    docs = spark.createDataFrame(
        [(f"d{i}", [float(i), 1.0], f"alpha beta w{i % 4}")
         for i in range(40)],
        "id string, vector array<float>, text string")
    ex = QueryExecutor(spark, tables={"docs": docs})
    ql = ex.execute(
        "SELECT id, score FROM docs WHERE vector SIMILAR TO $q "
        "AND text MATCH 'alpha w1' LIMIT 5", {"q": [1.0, 0.0]})
    assert _windows_above_limits(ql) == 2
    hs = hybrid_search(docs, [1.0, 0.0], "alpha w1", k=5, fetch_n=20)
    assert _windows_above_limits(hs) == 2


# ------------------------------------------ no per-row vector copies ---
#
# Kernels read vector columns through knn_arrow.vector_matrix (one
# reshape of the Arrow values buffer, one rule for null / width / NaN).
# This scan finds the hand-written per-row conversion that rule replaced:
# np.asarray / np.array / np.stack fed by a comprehension over a column
# (`for v in pdf[col]`, `arr.to_pylist()`, a UDF's Series argument) or
# by `pdf[col].tolist()`, and a `for v in <column>` loop converting
# each row with np.asarray.

_NP_MATRIX_FNS = {"asarray", "array", "stack"}

# qualified name -> why it may convert row by row
_PER_ROW_ALLOWED = {
    # documented rule: null vectors pack zero words, ragged rows zero-pad
    # or truncate, NaN packs 1 (tests/test_nl_quant.py)
    "BinaryQuantizer.encode._pack",
    # vectors from a request payload / caller-supplied (id, vector)
    # pairs, on the driver, not a column
    "RestServer._index_add",
    "_resolve_queries",
    # applyInPandasWithState has no Arrow twin; documented rule drops
    # null and off-width vectors instead of failing the stream
    "streaming_centroids.fn",
}


def _np_matrix_call(node) -> bool:
    f = getattr(node, "func", None)
    return (isinstance(node, ast.Call) and isinstance(f, ast.Attribute)
            and f.attr in _NP_MATRIX_FNS and isinstance(f.value, ast.Name)
            and f.value.id == "np")


def _row_of(expr, var: set) -> bool:
    """expr is the loop variable, a subscript of it, or a list() /
    np conversion of one of those."""
    if isinstance(expr, ast.Name):
        return expr.id in var
    if isinstance(expr, ast.Subscript):
        return _row_of(expr.value, var)
    if isinstance(expr, ast.Call) and expr.args and (
            _np_matrix_call(expr) or getattr(expr.func, "id", None) == "list"):
        return _row_of(expr.args[0], var)
    return False


def _column(it, params: set) -> bool:
    if isinstance(it, ast.Call) and getattr(it.func, "id", None) == "enumerate":
        it = it.args[0]
    if isinstance(it, ast.Subscript):
        return True
    if isinstance(it, ast.Call) and isinstance(it.func, ast.Attribute):
        return it.func.attr in ("to_pylist", "tolist")
    return isinstance(it, ast.Name) and it.id in params


def _names(target) -> set:
    return {n.id for n in ast.walk(target) if isinstance(n, ast.Name)}


def _per_row_copies(tree) -> list:
    """(qualified name, line) of each per-row vector conversion."""
    found = []

    def visit(node, scope, params):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                inner = set(params)
                if not isinstance(child, ast.ClassDef):
                    inner |= {a.arg for a in child.args.args
                              + child.args.kwonlyargs}
                visit(child, scope + [child.name], inner)
                continue
            hit = False
            if _np_matrix_call(child) and child.args:
                a = child.args[0]
                if isinstance(a, (ast.ListComp, ast.GeneratorExp)):
                    g = a.generators[0]
                    hit = (_column(g.iter, params)
                           and _row_of(a.elt, _names(g.target)))
                elif getattr(a, "func", None) is not None:
                    hit = (getattr(a.func, "attr", None) == "tolist"
                           and isinstance(a.func.value, ast.Subscript))
            elif isinstance(child, ast.For) and _column(child.iter, params):
                var = _names(child.target)
                hit = any(_np_matrix_call(n) and n.args and _row_of(n.args[0], var)
                          for stmt in child.body for n in ast.walk(stmt))
            if hit:
                found.append((".".join(scope), child.lineno))
            visit(child, scope, params)

    visit(tree, [], set())
    return found


def test_per_row_scan_catches_the_replaced_copies():
    src = '''
def kernel(batches):
    for pdf in batches:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        Y = np.array(pdf["v"].tolist(), dtype=np.float64)
        Z = np.asarray([np.asarray(v) for v in arr.to_pylist()])

def udf(s):
    return np.stack([np.asarray(x, dtype=np.float64) for x in s])

def rows_loop(vs):
    for i, v in enumerate(vs):
        a = np.asarray(v, dtype=np.float64)
'''
    assert [q for q, _ in _per_row_copies(ast.parse(src))] == [
        "kernel", "kernel", "kernel", "udf", "rows_loop"]


def test_no_per_row_vector_copies():
    import pathlib

    import needle_spark

    root = pathlib.Path(needle_spark.__file__).parent
    found = {}
    for path in sorted(root.rglob("*.py")):
        for qual, line in _per_row_copies(ast.parse(path.read_text())):
            found.setdefault(qual, []).append(
                f"{path.relative_to(root.parent)}:{line}")
    extra = {q: where for q, where in found.items()
             if q not in _PER_ROW_ALLOWED}
    assert not extra, (
        "per-row vector conversion outside knn_arrow.vector_matrix: "
        f"{extra}")
    # an allowlist entry whose code is gone must leave the list too
    assert set(found) == _PER_ROW_ALLOWED


# ----------------------------------------------- no dead private helpers ---
#
# A module-level `_private` function or class in needle_spark/ that no
# program file names — needle_spark/, __spark_entry__.py, bench.py or
# perfbench/ — is dead code.  Tests do not count as callers, and a
# helper naming itself (recursion) does not keep it alive.

_PROGRAM_PATHS = ("needle_spark", "__spark_entry__.py", "bench.py",
                  "perfbench")


def _names_in(tree) -> collections.Counter:
    """Every identifier a tree names: variables, attributes, imported
    names and identifier-shaped string constants (getattr-style)."""
    names = collections.Counter()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            names[n.id] += 1
        elif isinstance(n, ast.Attribute):
            names[n.attr] += 1
        elif isinstance(n, ast.alias):
            names[n.name.rsplit(".", 1)[-1]] += 1
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier()):
            names[n.value] += 1
    return names


def _dead_private_helpers(sources: dict) -> list:
    """'path:name' of each module-level _private def or class of a
    needle_spark/ source that no source names outside its own body.
    `sources` maps repo-relative paths to source text."""
    defs, used = [], collections.Counter()
    for path, text in sources.items():
        tree = ast.parse(text)
        used.update(_names_in(tree))
        if path.startswith("needle_spark/"):
            defs += [(path, n) for n in tree.body
                     if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                                       ast.ClassDef))
                     and n.name.startswith("_") and not n.name.endswith("__")]
    return sorted(f"{path}:{node.name}" for path, node in defs
                  if used[node.name] == _names_in(node)[node.name])


def test_dead_helper_scan_catches_an_unused_helper():
    sources = {
        "needle_spark/m.py": (
            "def _used():\n    return 1\n"
            "def _dead():\n    return 2\n"
            "def _recursive(n):\n    return _recursive(n - 1)\n"
            "class _Cls:\n    pass\n"
            "def public():\n    return _Cls()\n"),
        "bench.py": "from needle_spark.m import _used\n",
    }
    assert _dead_private_helpers(sources) == [
        "needle_spark/m.py:_dead", "needle_spark/m.py:_recursive"]


def test_no_dead_private_helpers():
    import pathlib

    import needle_spark

    repo = pathlib.Path(needle_spark.__file__).parent.parent
    sources = {}
    for name in _PROGRAM_PATHS:
        p = repo / name
        for path in sorted(p.rglob("*.py")) if p.is_dir() else [p]:
            sources[str(path.relative_to(repo))] = path.read_text()
    dead = _dead_private_helpers(sources)
    assert not dead, f"module-level private helpers with no caller: {dead}"


#: a C function definition at the start of a line (static ones are
#: file-local helpers, not exported kernels)
_C_EXPORT = re.compile(r"^(?!static\b)[A-Za-z_][\w \t]*?\**\b(\w+)\s*\(",
                       re.M)


def _dead_kernels(c_source: str, sources: dict) -> list:
    """Exported functions of `c_source` that no Python source in
    `sources` (repo-relative path -> text) names."""
    used = collections.Counter()
    for text in sources.values():
        used.update(_names_in(ast.parse(text)))
    return sorted({n for n in _C_EXPORT.findall(c_source) if not used[n]})


def test_dead_kernel_scan_catches_an_unused_kernel():
    c_source = (
        "#include <stdint.h>\n"
        "static float helper(uint16_t h) { return h; }\n"
        "void used_kernel(const float *x, long n) {}\n"
        "void probed_kernel(void) {}\n"
        "int dead_kernel(void) { return 0; }\n")
    sources = {"needle_spark/m.py": (
        "def f(lib):\n"
        "    lib.used_kernel(0, 1)\n"
        "    return hasattr(lib, 'probed_kernel')\n")}
    assert _dead_kernels(c_source, sources) == ["dead_kernel"]


def test_no_dead_native_kernels():
    """Every kernel compiled by plans/native.py has a caller in a
    program file other than native.py itself (tests do not count)."""
    import pathlib

    import needle_spark
    from needle_spark.plans import native

    repo = pathlib.Path(needle_spark.__file__).parent.parent
    sources = {}
    for name in _PROGRAM_PATHS + ("scripts",):
        p = repo / name
        for path in sorted(p.rglob("*.py")) if p.is_dir() else [p]:
            rel = str(path.relative_to(repo))
            if rel != "needle_spark/plans/native.py":
                sources[rel] = path.read_text()
    c_source = "".join(v for k, v in vars(native).items()
                       if k.startswith("_SRC") and isinstance(v, str))
    dead = _dead_kernels(c_source, sources)
    assert not dead, f"native kernels with no caller: {dead}"
