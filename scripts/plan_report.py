#!/usr/bin/env python3
"""Generate PLANS.md: physical-plan quality evidence for the headline
operators — pushdown reaching the Parquet scan, broadcast joins where a
side is small, TakeOrderedAndProject for top-k, map-side partial
aggregation.  Run: python scripts/plan_report.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")


def main() -> None:
    from pyspark.sql import functions as F

    from needle_spark import get_spark
    from needle_spark.operators.hybrid import bm25_scores
    from needle_spark.operators.knn import batch_knn, knn
    from needle_spark.plans.planner import explain_text

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    checks: list[tuple[str, str, dict[str, bool | str]]] = []

    def grab(plan: str, *patterns: str) -> dict:
        out: dict = {}
        for p in patterns:
            m = re.search(p + r"[^\n]*", plan)
            out[p] = m.group(0)[:120] if m else "ABSENT"
        return out

    p = explain_text(knn(emb, [0.1] * 64, k=10, filter={"label": {"$in": [1, 2, 3]}},
                         vector_col="embedding", id_col="vec_id"))
    checks.append((
        "filtered kNN (exact top-k)",
        "filter -> distance -> orderBy+limit must plan as a pushed scan + "
        "per-partition top-k heap (no full sort, no shuffle of data rows)",
        grab(p, "TakeOrderedAndProject", "PushedFilters", "ReadSchema"),
    ))

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector"))
    p = explain_text(batch_knn(emb, q, k=5, doc_vector_col="embedding", doc_id_col="vec_id"))
    checks.append((
        "batch kNN (exact)",
        "query side broadcast; docs stream through without a pre-join shuffle",
        grab(p, "BroadcastNestedLoopJoin|BroadcastExchange", "Exchange hashpartitioning"),
    ))

    p = explain_text(li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity"), F.count(F.lit(1))))
    checks.append((
        "group-by aggregation",
        "map-side partial aggregation + column-pruned scan",
        grab(p, "partial_sum", "ReadSchema"),
    ))

    p = explain_text(bm25_scores(docs, "fast merge sort join", id_col="doc_id", text_col="text"))
    sm = p.count("SortMergeJoin")
    bh = p.count("BroadcastHashJoin")
    checks.append((
        "BM25 scoring",
        "every stats join must broadcast (no sort-merge joins of small sides)",
        {"BroadcastHashJoin count": str(bh), "SortMergeJoin count": str(sm)},
    ))

    from needle_spark.operators.hybrid import Bm25Index

    idx = Bm25Index(docs, id_col="doc_id", text_col="text")
    p = explain_text(idx.search("hash join", limit=10))
    checks.append((
        "indexed BM25 single query (one job)",
        "a query against the cached index is filter + literal-map lookup + "
        "agg + TakeOrdered — zero joins, zero per-query DataFrames",
        {
            "InMemoryTableScan": grab(p, "InMemoryTableScan")["InMemoryTableScan"],
            "TakeOrderedAndProject": grab(p, "TakeOrderedAndProject")["TakeOrderedAndProject"],
            # joins above the cache boundary (the cached relation's own
            # build plan legitimately contains the one-off df join)
            "Join count above cache": str(p.split("InMemoryRelation")[0].count("Join")),
        },
    ))
    idx.unpersist()

    from needle_spark.operators.dedup import embedding_neardup_pairs

    p = explain_text(embedding_neardup_pairs(
        emb, threshold=0.6, metric="cosine", id_col="vec_id",
        vector_col="embedding"))
    checks.append((
        "embedding near-dup epsilon-join (distributed)",
        "centroid-cell replication + per-cell Arrow verification: the plan "
        "keeps the source scan (nothing collected to the driver) and "
        "shuffles only cell-tagged rows",
        {
            "Scan parquet": grab(p, "Scan parquet")["Scan parquet"],
            "FlatMapGroupsInArrow": grab(p, "FlatMapGroupsInArrow")["FlatMapGroupsInArrow"],
            "MapInArrow": grab(p, "MapInArrow")["MapInArrow"],
        },
    ))

    from needle_spark.operators.graph import traverse

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    edges = orders.limit(1000).select(
        F.col("o_orderkey").cast("string").alias("src"),
        F.col("o_custkey").cast("string").alias("dst"),
        F.lit("placed_by").alias("edge_type"))
    p = explain_text(traverse(edges, ["1", "2"], max_hops=2))
    checks.append((
        "bounded graph traversal (lazy chain)",
        "short *..N walks compile to ONE job of broadcast hop joins "
        "(no per-hop eager checkpoints); frontier/visited sides broadcast",
        {
            "BroadcastHashJoin count": str(p.count("BroadcastHashJoin")),
            "SortMergeJoin count": str(p.count("SortMergeJoin")),
        },
    ))

    from needle_spark.filters import ttl_filter

    with_ttl = emb.withColumn("expires_at", (F.col("vec_id") + 1000).cast("long"))
    p = explain_text(ttl_filter(with_ttl, now=123).select("vec_id"))
    checks.append((
        "TTL lazy filter",
        "expiry is a pure Catalyst predicate — it reaches the scan as a "
        "pushed/codegen filter, never a UDF",
        {
            "codegen": grab(p, r"codegen id")["codegen id"],
            "Filter": grab(p, "Filter")["Filter"],
            "PythonUDF": "ABSENT" if "pythonUDF" not in p else "PRESENT",
        },
    ))

    from needle_spark.operators.llm_hygiene import (
        decontaminate, stratified_sample,
    )

    bench_docs = docs.filter(F.col("doc_id") % 10 == 0)
    corpus_docs = docs.filter(F.col("doc_id") % 10 != 0)
    p = explain_text(decontaminate(corpus_docs, bench_docs, n=8))
    checks.append((
        "benchmark decontamination (n-gram overlap)",
        "benchmark n-grams distinct + broadcast; corpus-side exploded "
        "n-grams never shuffle into a sort-merge join; no Python UDFs",
        {
            "BroadcastHashJoin count": str(p.count("BroadcastHashJoin")),
            "SortMergeJoin count": str(p.count("SortMergeJoin")),
            "PythonUDF": "ABSENT" if "pythonUDF" not in p else "PRESENT",
        },
    ))

    p = explain_text(stratified_sample(docs, "source", {"src0": 0.5}))
    checks.append((
        "stratified mixing sample",
        "md5-threshold keep decision is a scan-level filter: map-only, "
        "zero shuffles",
        {
            "Exchange count": str(p.count("Exchange")),
            "Filter": grab(p, "Filter")["Filter"],
        },
    ))

    from needle_spark.operators.dedup import (
        minhash_lsh_candidates, ngram_jaccard_pairs,
    )

    p = explain_text(ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.6))
    checks.append((
        "n-gram Jaccard pairs (exact)",
        "shingle-set sizes ride through the explode: the shingle kernel "
        "evaluates on exactly the two self-join scans, with no separate "
        "size frame",
        {"unique scan nodes": str(len(set(re.findall(r"\((\d+)\) Scan parquet", p)))),
         "SortMergeJoin count": str(p.count("SortMergeJoin"))},
    ))

    p = explain_text(minhash_lsh_candidates(
        docs, id_col="doc_id", text_col="text", n=3, verify_threshold=0.6))
    checks.append((
        "MinHash LSH dedup",
        "bucket-grouped pair expansion (no banded self-join) + single "
        "role-exploded verification join: the signature/shingle kernel "
        "evaluates on two scans total",
        {"unique scan nodes": str(len(set(re.findall(r"\((\d+)\) Scan parquet", p)))),
         "SortMergeJoin count": str(p.count("SortMergeJoin"))},
    ))

    lines = [
        "# PLANS — physical-plan evidence (generated by scripts/plan_report.py)",
        "",
        f"Scale factor dir: `{sf_dir}`; Spark {spark.version}; AQE on.",
        "",
    ]
    for title, why, facts in checks:
        lines += [f"## {title}", "", why, ""]
        for k, v in facts.items():
            lines.append(f"- `{k}`: `{v}`")
        lines.append("")
    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print("\n".join(lines))


if __name__ == "__main__":
    main()
