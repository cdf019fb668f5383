"""needle_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the `needle` embedded vector database
(reference: /root/reference, josedab/needle).

Architecture is Spark-first: every operator is declared with the
DataFrame/SQL API so Catalyst/Tungsten choose the physical strategy
(predicate pushdown, column pruning, broadcast joins, TakeOrderedAndProject
top-k, whole-stage codegen).  Python UDFs appear only where the semantics
genuinely cannot be expressed with built-in functions and are
Arrow-batched pandas UDFs / mapInPandas kernels.

Quick start:

    from needle_spark import get_spark, knn, compile_filter
    spark = get_spark()
    docs = spark.read.parquet(".../embeddings.parquet")
    top = knn(docs, query_vec, k=10, filter={"label": {"$in": [1, 2]}},
              vector_col="embedding", id_col="vec_id")

Layout:
    session      - SparkSession factory tuned for the engine
    filters      - MongoDB-style filter-JSON -> Column compiler
    catalog      - Database/Collection (versioned parquet, CDC, txns)
    functions/   - distance metrics, text tokenization, time decay
    operators/   - kNN, analytics, hybrid/BM25, dedup, text analysis, ...
    plans/       - access-path planner, IVF, quantization, EXPLAIN
    streaming/   - Structured Streaming ingestion + CDC change streams
    ql/          - NeedleQL lexer/parser/executor
"""

from needle_spark.session import get_spark

__version__ = "0.1.0"


# lazy re-exports: keep `import needle_spark` light (no SparkSession or
# operator imports until actually used) — public name -> (module, attr)
_LAZY = {
    "compile_filter": ("needle_spark.filters", "compile_filter"),
    "distance_expr": ("needle_spark.functions.distance", "distance_expr"),
    "knn": ("needle_spark.operators.knn", "knn"),
    "batch_knn": ("needle_spark.operators.knn", "batch_knn"),
    "batch_knn_arrow": ("needle_spark.operators.knn_arrow", "batch_knn_arrow"),
    "radius_search": ("needle_spark.operators.knn", "radius_search"),
    "recommend": ("needle_spark.operators.knn", "recommend"),
    "hybrid_search": ("needle_spark.operators.hybrid", "hybrid_search"),
    "bm25_scores": ("needle_spark.operators.hybrid", "bm25_scores"),
    "Bm25Index": ("needle_spark.operators.hybrid", "Bm25Index"),
    "rrf_fuse": ("needle_spark.operators.hybrid", "rrf_fuse"),
    "AnalyticsQuery": ("needle_spark.operators.analytics", "AnalyticsQuery"),
    "Database": ("needle_spark.catalog", "Database"),
    "Collection": ("needle_spark.catalog", "Collection"),
    "QueryExecutor": ("needle_spark.ql", "QueryExecutor"),
    "IvfIndex": ("needle_spark.plans.ivf", "IvfIndex"),
    "run_pipeline": ("needle_spark.operators.pipeline_dsl", "run_pipeline"),
    "ttl_filter": ("needle_spark.filters", "ttl_filter"),
    "KafkaSourceConfig": ("needle_spark.streaming.cdc", "KafkaSourceConfig"),
    "cdc_pipeline": ("needle_spark.streaming.cdc", "cdc_pipeline"),
    "parse_debezium": ("needle_spark.streaming.cdc", "parse_debezium"),
    "parse_mongo_change": ("needle_spark.streaming.cdc", "parse_mongo_change"),
    "TextCollection": ("needle_spark.operators.text_collection", "TextCollection"),
    "PitrService": ("needle_spark.pitr", "PitrService"),
    "PitrConfig": ("needle_spark.pitr", "PitrConfig"),
    "NamespaceSchema": ("needle_spark.operators.namespaces", "NamespaceSchema"),
    "fusion_search": ("needle_spark.operators.namespaces", "fusion_search"),
    "QueryRecorder": ("needle_spark.operators.query_replay", "QueryRecorder"),
    "QueryReplayer": ("needle_spark.operators.query_replay", "QueryReplayer"),
    "AdaptiveOptimizer": ("needle_spark.plans.adaptive", "AdaptiveOptimizer"),
    "AdaptiveSelector": ("needle_spark.plans.index_selector", "AdaptiveSelector"),
    "graphrag_search": ("needle_spark.operators.graphrag", "graphrag_search"),
    "pagerank_fixed": ("needle_spark.operators.graphrag", "pagerank_fixed"),
    "CohereRerankClient": ("needle_spark.operators.model_clients",
                           "CohereRerankClient"),
    "CohereEmbedClient": ("needle_spark.operators.model_clients",
                          "CohereEmbedClient"),
    "CrossEncoderClient": ("needle_spark.operators.model_clients",
                           "CrossEncoderClient"),
    "CodecRegistry": ("needle_spark.operators.multimodal", "CodecRegistry"),
    "DEFAULT_CODECS": ("needle_spark.operators.multimodal", "DEFAULT_CODECS"),
    "probe_codecs": ("needle_spark.operators.multimodal", "probe_codecs"),
    "BranchManager": ("needle_spark.branches", "BranchManager"),
    "MergeResult": ("needle_spark.branches", "MergeResult"),
    "decontaminate": ("needle_spark.operators.llm_hygiene", "decontaminate"),
    "gopher_quality": ("needle_spark.operators.llm_hygiene", "gopher_quality"),
    "stratified_sample": ("needle_spark.operators.llm_hygiene",
                          "stratified_sample"),
    "redact_pii": ("needle_spark.operators.llm_hygiene", "redact_pii"),
    "RetryPolicy": ("needle_spark.streaming.reliability", "RetryPolicy"),
    "reliable_ingest_sink": ("needle_spark.streaming.reliability",
                             "reliable_ingest_sink"),
    "IngestionMetrics": ("needle_spark.streaming.reliability",
                         "IngestionMetrics"),
    # round-4 extension families
    "RagPipeline": ("needle_spark.operators.rag", "RagPipeline"),
    "RagConfig": ("needle_spark.operators.rag", "RagConfig"),
    "RecursiveTextSplitter": ("needle_spark.operators.rag",
                              "RecursiveTextSplitter"),
    "multi_query_search": ("needle_spark.operators.rag",
                           "multi_query_search"),
    "auto_tune": ("needle_spark.plans.tuning", "auto_tune"),
    "profile_vectors": ("needle_spark.plans.tuning", "profile_vectors"),
    "advise_compression": ("needle_spark.plans.tuning",
                           "advise_compression"),
    "what_if_analysis": ("needle_spark.plans.tuning", "what_if_analysis"),
    "IvfBatchKnnIndex": ("needle_spark.plans.ivf", "IvfBatchKnnIndex"),
    "HalfQuantizer": ("needle_spark.plans.quantization", "HalfQuantizer"),
    "VisualQueryBuilder": ("needle_spark.operators.nl_query_builder",
                           "VisualQueryBuilder"),
    "CollectionProfile": ("needle_spark.operators.nl_query_builder",
                          "CollectionProfile"),
    "CollaborativeFilter": ("needle_spark.operators.collab_filter",
                            "CollaborativeFilter"),
    "item_similarity": ("needle_spark.operators.collab_filter",
                        "item_similarity"),
    "group_centroids": ("needle_spark.operators.vector_agg",
                        "group_centroids"),
    "group_medoid": ("needle_spark.operators.vector_agg", "group_medoid"),
    "sequence_trends": ("needle_spark.operators.temporal_vectors",
                        "sequence_trends"),
    "trajectory_search": ("needle_spark.operators.temporal_vectors",
                          "trajectory_search"),
    "FeedbackConfig": ("needle_spark.operators.relevance_feedback",
                       "FeedbackConfig"),
    "compute_adjustments": ("needle_spark.operators.relevance_feedback",
                            "compute_adjustments"),
    "KnowledgeGraph": ("needle_spark.operators.knowledge_graph",
                       "KnowledgeGraph"),
    "QueryPrewarmer": ("needle_spark.operators.prewarming",
                       "QueryPrewarmer"),
    "AnalyticsDashboard": ("needle_spark.plans.analytics_dashboard",
                           "AnalyticsDashboard"),
    "AgentMemory": ("needle_spark.operators.agent_memory", "AgentMemory"),
    "MemoryConfig": ("needle_spark.operators.agent_memory",
                     "MemoryConfig"),
    "TriggerRegistry": ("needle_spark.streaming.triggers",
                        "TriggerRegistry"),
    "multimodal_fusion_search": ("needle_spark.operators.namespaces",
                                 "multimodal_fusion_search"),
    "TieredCollection": ("needle_spark.plans.tiering",
                         "TieredCollection"),
    "KMeansModel": ("needle_spark.plans.clustering", "KMeansModel"),
    "cluster_vectors": ("needle_spark.plans.clustering",
                        "cluster_vectors"),
    "EmbeddingRouter": ("needle_spark.operators.embedding_router",
                        "EmbeddingRouter"),
    "IncrementalBackupService": ("needle_spark.pitr",
                                 "IncrementalBackupService"),
    "EncryptionConfig": ("needle_spark.operators.encrypted_search",
                         "EncryptionConfig"),
    "encrypt_vectors": ("needle_spark.operators.encrypted_search",
                        "encrypt_vectors"),
    "encrypted_search": ("needle_spark.operators.encrypted_search",
                         "encrypted_search"),
    "AclEngine": ("needle_spark.operators.acl", "AclEngine"),
    "AclPolicy": ("needle_spark.operators.acl", "AclPolicy"),
    "RbacPolicyEngine": ("needle_spark.operators.acl", "PolicyEngine"),
    "MigrationEngine": ("needle_spark.operators.live_migration",
                        "MigrationEngine"),
    "MigrationConfig": ("needle_spark.operators.live_migration",
                        "MigrationConfig"),
    "SyncEngine": ("needle_spark.sync", "SyncEngine"),
    "SyncConfig": ("needle_spark.sync", "SyncConfig"),
    "SyncVectorClock": ("needle_spark.sync", "VectorClock"),
    "QuerySession": ("needle_spark.ql.session", "QuerySession"),
    "MetricsRegistry": ("needle_spark.observe", "MetricsRegistry"),
    "PrivacyMechanism": ("needle_spark.operators.privacy",
                         "PrivacyMechanism"),
    "PrivacyPolicyRegistry": ("needle_spark.operators.privacy",
                              "PrivacyPolicyRegistry"),
    "TransactionManager": ("needle_spark.transactions",
                           "TransactionManager"),
    "TxOperation": ("needle_spark.transactions", "TxOperation"),
    "TenantManager": ("needle_spark.tenancy", "TenantManager"),
    "TenantConfig": ("needle_spark.tenancy", "TenantConfig"),
    "SparkVectorStore": ("needle_spark.integrations", "SparkVectorStore"),
    "VectorStoreConfig": ("needle_spark.integrations",
                          "VectorStoreConfig"),
    "WorkflowEngine": ("needle_spark.operators.agentic_workflow",
                       "WorkflowEngine"),
    "AutoScaler": ("needle_spark.plans.autoscaler", "AutoScaler"),
    "WebhookService": ("needle_spark.streaming.webhooks",
                       "WebhookService"),
    "VectorEncryptor": ("needle_spark.operators.encryption",
                        "VectorEncryptor"),
    "KeyManager": ("needle_spark.operators.encryption", "KeyManager"),
    "LifecyclePolicy": ("needle_spark.lifecycle", "LifecyclePolicy"),
    "LifecyclePolicyEngine": ("needle_spark.lifecycle",
                              "LifecyclePolicyEngine"),
}


def __getattr__(name):
    if name in _LAZY:
        import importlib

        mod, attr = _LAZY[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module 'needle_spark' has no attribute {name!r}")


__all__ = [
    "get_spark", "compile_filter", "distance_expr", "knn", "batch_knn",
    "batch_knn_arrow", "radius_search", "recommend", "hybrid_search",
    "bm25_scores", "Bm25Index", "rrf_fuse", "AnalyticsQuery", "Database",
    "Collection", "QueryExecutor", "IvfIndex", "run_pipeline", "ttl_filter",
    "KafkaSourceConfig", "cdc_pipeline", "parse_debezium",
    "parse_mongo_change", "TextCollection", "PitrService", "PitrConfig",
    "NamespaceSchema", "fusion_search", "QueryRecorder", "QueryReplayer",
    "AdaptiveOptimizer", "AdaptiveSelector", "graphrag_search",
    "pagerank_fixed", "CohereRerankClient", "CohereEmbedClient",
    "CrossEncoderClient", "CodecRegistry", "DEFAULT_CODECS", "probe_codecs",
    "BranchManager", "MergeResult", "decontaminate", "gopher_quality",
    "stratified_sample", "redact_pii", "RetryPolicy", "reliable_ingest_sink",
    "IngestionMetrics", "EncryptionConfig", "encrypt_vectors",
    "encrypted_search", "AclEngine", "AclPolicy", "RbacPolicyEngine",
    "MigrationEngine", "MigrationConfig", "SyncEngine", "SyncConfig",
    "SyncVectorClock", "QuerySession", "MetricsRegistry",
    "PrivacyMechanism", "PrivacyPolicyRegistry", "TransactionManager",
    "TxOperation", "TenantManager", "TenantConfig", "SparkVectorStore",
    "VectorStoreConfig", "WorkflowEngine", "AutoScaler", "WebhookService",
    "VectorEncryptor", "KeyManager",
    "LifecyclePolicy", "LifecyclePolicyEngine",
    "__version__",
]
