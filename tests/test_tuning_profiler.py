"""Auto-tuning, data profiling, what-if previews, compression advisor,
and the query profiler / plan-hint analyzer (reference: src/tuning.rs,
src/indexing/compression_advisor.rs, src/observe/profiler.rs)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from needle_spark.plans.profiler import QueryProfiler, analyze_plan
from needle_spark.plans.tuning import (
    DataProfile,
    TuningConstraints,
    advise_compression,
    auto_tune,
    profile_stats_df,
    profile_vectors,
    recommended_nprobe,
    smart_select,
    what_if_analysis,
)


# ===================================================================
# Data profiling
# ===================================================================

@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.default_rng(7)
    rows = []
    # four separated blobs -> interior modes in the distance histogram
    # (the reference's mode counter skips the edge bins, tuning.rs:1296)
    for c, center in enumerate([0.0, 10.0, 20.0, 30.0]):
        for i in range(45):
            v = (rng.normal(center, 0.3, size=8)).tolist()
            rows.append((f"c{c}_{i}", [float(x) for x in v]))
    return spark.createDataFrame(rows, "id string, vector array<float>")


def test_profile_stats_normalized_detection(spark):
    rng = np.random.default_rng(3)
    rows = []
    for i in range(50):
        v = rng.normal(size=16)
        v = v / np.linalg.norm(v)
        rows.append((str(i), [float(x) for x in v]))
    df = spark.createDataFrame(rows, "id string, vector array<float>")
    s = profile_stats_df(df).first()
    assert s["dimensions"] == 16 and s["sample_size"] == 50
    assert abs(s["mean_magnitude"] - 1.0) < 0.01
    assert s["appears_normalized"] is True
    assert s["sparsity_ratio"] < 0.1


def test_profile_stats_sparsity(spark):
    df = spark.createDataFrame(
        [("a", [0.0, 0.0, 0.0, 5.0]), ("b", [0.0, 0.0, 1.0, 2.0])],
        "id string, vector array<float>")
    s = profile_stats_df(df).first()
    assert s["sparsity_ratio"] == pytest.approx(5 / 8)
    assert s["appears_normalized"] is False


def test_profile_stats_partition_invariant(spark, clustered):
    a = profile_stats_df(clustered.repartition(1)).first()
    b = profile_stats_df(clustered.repartition(13)).first()
    assert a.asDict() == b.asDict()  # fixed-point sums: bit-exact


def test_profile_vectors_clusters(clustered):
    p = profile_vectors(clustered)
    assert isinstance(p, DataProfile)
    assert p.dimensions == 8 and p.sample_size == 180
    # three well-separated blobs: multimodal pairwise distances
    assert p.estimated_clusters >= 2
    assert p.mean_pairwise_distance > 1.0
    assert 1.0 <= p.intrinsic_dimensionality <= 8.0


def test_profile_vectors_empty(spark):
    df = spark.createDataFrame([], "id string, vector array<float>")
    p = profile_vectors(df)
    assert p.sample_size == 0 and p.dimensions == 0


# ===================================================================
# auto_tune
# ===================================================================

def test_auto_tune_small_corpus_exact():
    r = auto_tune(TuningConstraints(50_000, 64))
    assert r.strategy == "exact_scan"
    assert r.estimated_recall == 1.0
    assert r.ivf_cells == 0


def test_auto_tune_large_corpus_ivf():
    r = auto_tune(TuningConstraints(10_000_000, 384))
    assert r.strategy == "ivf"
    assert 16 <= r.ivf_cells <= 65_536
    assert 1 <= r.nprobe <= r.ivf_cells
    assert r.estimated_total_memory == 4 * 384 * 10_000_000
    assert r.shuffle_partitions >= 64  # 2x parallelism floor


def test_auto_tune_memory_budget_steps_down_quantization():
    n, d = 10_000_000, 384
    budget = 2 * d * n  # fp32 needs 4dn -> sq8 dn fits
    r = auto_tune(TuningConstraints(n, d, max_memory_bytes=budget))
    assert r.quantization == "sq8"
    assert r.strategy == "ivf_sq8"
    assert r.estimated_total_memory <= budget
    tight = auto_tune(TuningConstraints(n, d, max_memory_bytes=d * n // 2))
    assert tight.quantization == "pq"


def test_auto_tune_high_recall_raises_probes():
    base = auto_tune(TuningConstraints(1_000_000, 128, min_recall=0.9))
    high = auto_tune(TuningConstraints(1_000_000, 128, min_recall=0.99))
    assert high.nprobe > base.nprobe
    assert high.estimated_recall > base.estimated_recall


def test_auto_tune_latency_target_lowers_probes():
    slow = auto_tune(TuningConstraints(50_000_000, 384, parallelism=32))
    fast = auto_tune(TuningConstraints(50_000_000, 384, parallelism=32,
                                       target_latency_ms=500.0))
    assert fast.nprobe < slow.nprobe
    assert fast.estimated_latency_ms <= 500.0 + 1e-6
    assert any("target latency" in e for e in fast.explanation)


def test_auto_tune_low_memory_profile_quantizes():
    r = auto_tune(TuningConstraints(1_000_000, 128, profile="low_memory"))
    assert r.quantization == "sq8"
    with pytest.raises(ValueError):
        auto_tune(TuningConstraints(1000, 8, profile="bogus"))


def test_auto_tune_empty():
    r = auto_tune(TuningConstraints(0, 0))
    assert r.strategy == "exact_scan" and r.estimated_total_memory == 0


def test_recommended_nprobe_monotone():
    cells = 1024
    probes = [recommended_nprobe(cells, t) for t in (0.8, 0.9, 0.95, 0.99)]
    assert probes == sorted(probes)
    assert recommended_nprobe(cells, 1.0) == cells
    assert recommended_nprobe(0, 0.9) == 0


# ===================================================================
# what-if analysis
# ===================================================================

def test_what_if_analysis_rows():
    rows = what_if_analysis(10_000_000, 384)
    by = {r.strategy: r for r in rows}
    assert set(by) == {"exact_scan", "ivf", "ivf_sq8", "ivf_pq",
                       "binary_rescore"}
    assert by["exact_scan"].estimated_recall == 1.0
    # memory strictly shrinks down the quantization ladder
    assert by["ivf_sq8"].estimated_memory_bytes < by["ivf"].estimated_memory_bytes
    assert by["ivf_pq"].estimated_memory_bytes < by["ivf_sq8"].estimated_memory_bytes
    # probing beats scanning on latency at this size
    assert by["ivf"].estimated_latency_ms < by["exact_scan"].estimated_latency_ms


# ===================================================================
# smart selection
# ===================================================================

def test_smart_select_reports_profile_rules(clustered):
    sel = smart_select(clustered, expected_total=180)
    assert sel.recommended == "exact_scan"  # tiny corpus
    assert sel.profile.estimated_clusters >= 2
    assert sel.reasoning and sel.reasoning[0].startswith("Base recommendation")
    # the clustered-data rule needs > 5 estimated clusters (tuning.rs:1369)
    if sel.profile.estimated_clusters > 5:
        assert any("clustered" in r for r in sel.reasoning)
    assert 0.0 < sel.confidence <= 1.0
    assert sel.tuning is not None


def test_smart_select_normalized_hint(spark):
    rng = np.random.default_rng(5)
    rows = []
    for i in range(40):
        v = rng.normal(size=8)
        v = v / np.linalg.norm(v)
        rows.append((str(i), [float(x) for x in v]))
    df = spark.createDataFrame(rows, "id string, vector array<float>")
    sel = smart_select(df)
    assert any("normalized" in r for r in sel.reasoning)


# ===================================================================
# compression advisor (measured recall)
# ===================================================================

def test_advise_compression_measures_and_recommends(spark, embeddings):
    df = embeddings.select(F.col("vec_id").cast("string").alias("id"),
                           F.col("embedding").alias("vector"))
    report = advise_compression(df, sample_size=120, num_test_queries=5,
                                recall_k=5, target_recalls=(0.9, 0.5))
    by = {r.strategy: r for r in report.results}
    assert by["fp32"].measured_recall == 1.0
    assert by["sq8"].compression_ratio == 4.0
    assert by["binary"].compression_ratio == 32.0
    # rescored quantized search should stay close to exact on this data
    assert by["sq8"].measured_recall >= 0.8
    # recommendations pick the most compressed strategy clearing each bar
    for target, strat in report.recommendations.items():
        assert by[strat].measured_recall >= target
    s = report.summary()
    assert "sq8" in s and "target recall" in s
    proj = report.project_memory_savings(1_000_000)
    assert any(p["saved_bytes"] > 0 for p in proj)


# ===================================================================
# plan hints + profiler
# ===================================================================

def test_analyze_plan_flags_smj_and_python(spark, embeddings):
    a = embeddings.select(F.col("vec_id").alias("id"), "label")
    b = embeddings.select(F.col("vec_id").alias("id"), "embedding")
    smj = a.join(b.hint("merge"), "id")
    cats = {h.category: h for h in analyze_plan(smj)}
    assert "join" in cats and "SortMergeJoin" in cats["join"].message

    from pyspark.sql.functions import udf
    slow = embeddings.withColumn("x", udf(lambda v: len(v))("embedding"))
    hints = analyze_plan(slow)
    assert any(h.severity == "critical" and h.category == "python"
               for h in hints)

    clean = embeddings.filter(F.col("label") == 1).select("vec_id")
    clean_hints = analyze_plan(clean)
    assert not any(h.severity == "critical" for h in clean_hints)


def test_analyze_plan_flags_cartesian(spark):
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hints = analyze_plan(a.crossJoin(b))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert any(h.severity == "critical" and h.category == "join"
               for h in hints)


def test_query_profiler_end_to_end(spark, embeddings):
    prof = QueryProfiler(max_profiles=2)
    p = prof.profile(
        embeddings.groupBy("label").count(), query_id="agg1",
        query_desc="label histogram")
    assert p.result_count > 0
    assert p.total_time_us > 0
    assert p.stages and sum(s.num_tasks for s in p.stages) > 0
    assert "Execution Plan" in p.explain()
    assert "Detailed Metrics" in p.explain_analyze()
    assert p.metrics["wall_ms"] > 0

    # bounded history
    prof.profile(embeddings.limit(1), query_id="q2")
    prof.profile(embeddings.limit(2), query_id="q3")
    assert len(prof.history) == 2
    assert prof.slowest(1)[0].total_time_us >= prof.history[-1].total_time_us \
        or len(prof.slowest(1)) == 1


# ===================================================================
# Half-precision quantization (float16.rs) + adaptive probe tuner
# ===================================================================

def test_half_quantizer_roundtrip_and_search(spark, embeddings):
    from needle_spark.plans.quantization import HalfQuantizer, compression_ratio

    df = embeddings.select(F.col("vec_id").cast("string").alias("id"),
                           F.col("embedding").alias("vector")).limit(200)
    for fmt in ("float16", "bfloat16"):
        hq = HalfQuantizer(fmt)
        enc = hq.encode(df)
        row = enc.first()
        assert len(row["half"]) == 2 * len(row["vector"])  # 2 bytes/dim
        dec = enc.select("vector", hq.decode_udf()(F.col("half"))
                         .alias("back")).first()
        err = max(abs(a - b) for a, b in zip(dec["vector"], dec["back"]))
        assert err < (2e-3 if fmt == "float16" else 2e-2)

    from needle_spark.operators.knn import knn

    hq = HalfQuantizer("float16")
    enc = hq.encode(df).cache()
    q = [float(x) for x in df.first()["vector"]]
    exact = [r["id"] for r in knn(df, q, k=5).collect()]
    got = [r["id"] for r in hq.search(enc, q, k=5).collect()]
    assert len(set(exact) & set(got)) >= 4  # near-lossless
    enc.unpersist()
    assert compression_ratio("float16") == 2.0
    with pytest.raises(ValueError):
        HalfQuantizer("fp8")


def _half_bytes_per_row(fmt, v):
    """The codes one vector packed on its own (the row-by-row rule)."""
    x = np.asarray(v, dtype=np.float32)
    if fmt == "float16":
        return x.astype(np.float16).tobytes()
    return (x.view(np.uint32) >> 16).astype(np.uint16).tobytes()


@pytest.mark.filterwarnings("ignore:overflow encountered in cast")
def test_half_quantizer_batch_codes_match_per_row(spark):
    import pyarrow as pa

    from needle_spark.plans.quantization import HalfQuantizer

    rng = np.random.default_rng(7)
    V = np.concatenate([
        rng.standard_normal((30, 6)) * 10.0 ** rng.integers(-8, 6, (30, 1)),
        # subnormal, signed zero, float16 overflow, bfloat16 truncation
        [[1e-7, -0.0, 7e4, -7e4, 1.0 + 2 ** -10, 3.4e38]],
    ]).astype(np.float32)
    rows = V.tolist()
    layouts = {
        "list": pa.array(rows, pa.list_(pa.float32())),
        "fixed": pa.array(rows, pa.list_(pa.float32(), 6)),
        "sliced": pa.array([[0.0] * 6] * 3 + rows,
                           pa.list_(pa.float32())).slice(3),
        "chunked": pa.chunked_array([pa.array(rows[:11], pa.list_(pa.float64())),
                                     pa.array(rows[11:], pa.list_(pa.float64()))]),
    }
    df = spark.createDataFrame([(i, v) for i, v in enumerate(rows)],
                               "id long, vector array<float>").repartition(3)
    for fmt in ("float16", "bfloat16"):
        hq = HalfQuantizer(fmt)
        want = [_half_bytes_per_row(fmt, v) for v in rows]
        for name, arr in layouts.items():
            got = hq._encode_batch(arr)
            assert got.type == pa.binary(12), name
            assert got.to_pylist() == want, (fmt, name)
        out = {r["id"]: bytes(r["half"]) for r in hq.encode(df).collect()}
        assert [out[i] for i in range(len(rows))] == want, fmt
        assert hq._encode_batch(pa.array([], pa.list_(pa.float32()))) \
            .to_pylist() == []


def test_adaptive_probe_tuner():
    from needle_spark.plans.tuning import AdaptiveProbeTuner

    t = AdaptiveProbeTuner(initial_nprobe=32, target_latency_ms=100.0)
    t.record_feedback(250.0)  # too slow -> shrink
    assert t.recommended_nprobe() < 32
    before = t.recommended_nprobe()
    t.record_feedback(20.0)  # far under target -> grow back
    assert t.recommended_nprobe() > before
    t.record_feedback(80.0)  # inside the band -> hold
    held = t.recommended_nprobe()
    t.record_feedback(60.0)
    assert t.recommended_nprobe() == held
    # floors and history bookkeeping
    t2 = AdaptiveProbeTuner(2, 1.0, min_probe=1)
    for _ in range(10):
        t2.record_feedback(500.0)
    assert t2.recommended_nprobe() == 1
    assert t2.observation_count() == 10
    assert t2.avg_latency_ms() == 500.0


def test_advise_compression_includes_pq(spark, embeddings):
    """PQ joins the measured strategy menu (quantization.rs PQ): its
    compression ratio reflects 1 byte/subspace, its recall is measured
    like every other strategy, and recommendations still only pick
    strategies that clear their bar."""
    df = embeddings.select(F.col("vec_id").cast("string").alias("id"),
                           F.col("embedding").alias("vector"))
    report = advise_compression(df, sample_size=400, num_test_queries=4,
                                recall_k=5, target_recalls=(0.9, 0.3))
    by = {r.strategy: r for r in report.results}
    assert "pq" in by
    dim = report.dimensions
    assert by["pq"].bytes_per_vector == dim // 8
    assert by["pq"].compression_ratio == pytest.approx(32.0)
    assert 0.0 <= by["pq"].measured_recall <= 1.0
    for target, strat in report.recommendations.items():
        assert by[strat].measured_recall >= target
