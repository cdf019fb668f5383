"""Auto-tuning: data profiling, constraint-driven parameter tuning,
what-if cost previews, and a measured compression advisor.

Reference: /root/reference/src/tuning.rs — PerformanceProfile (:93),
TuningConstraints (:107), TuningResult (:172), auto_tune (:191),
recommend_index / what_if_analysis (:559/:739), DataProfile /
DataProfiler (:1122-1311), SmartIndexSelector (:1311-1430) — and
/root/reference/src/indexing/compression_advisor.rs (AdvisorConfig
:27, StrategyResult :77, AdvisorReport :111, analyze :355,
project_memory_savings :190, migration_plan :210).

Spark mapping: the reference tunes HNSW graph parameters; this engine's
physical knobs are the ones that matter on a 1000-executor cluster —
IVF cell count + probe fraction, quantization codes, and partition
sizing (`spark.sql.shuffle.partitions`, files.maxPartitionBytes).
auto_tune speaks those knobs.  Profiling splits the work the same way
the reference does: corpus-wide statistics (magnitudes, sparsity,
normalization) run as ONE order-exact distributed aggregation over the
full table, while the pairwise-sample statistics (intrinsic dim,
cluster modes) run over a bounded deterministic sample exactly like
the reference's capped pair loop.  The compression advisor MEASURES
recall of each quantization strategy against the exact scan on a
sample — recommendations are evidence, not guesses."""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NEAR_ZERO = 1e-3  # tuning.rs:1224 sparsity threshold
_FIXED_SCALE = 6  # fixed-point scale for order-exact magnitude sums


# ===================================================================
# Data profiling (tuning.rs:1122-1311)
# ===================================================================

@dataclass
class DataProfile:
    """tuning.rs:1122-1141."""

    dimensions: int
    sample_size: int
    mean_magnitude: float
    std_magnitude: float
    mean_pairwise_distance: float
    intrinsic_dimensionality: float
    appears_normalized: bool
    estimated_clusters: int
    sparsity_ratio: float


def magnitude_expr(vec: Column | str) -> Column:
    """L2 magnitude as a deterministic left fold (same order as the
    distance kernels, bit-exact across engines)."""
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.sqrt(F.aggregate(
        v, F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))


def profile_stats_df(df: DataFrame, vector_col: str = "vector") -> DataFrame:
    """The corpus-wide half of DataProfiler.profile as ONE aggregation:
    dimensions, row count, mean/std magnitude (order-exact fixed-point
    sums), sparsity ratio, and the appears-normalized flag.  Map-side
    combined — the 100 TB shape; no sampling needed for these."""
    m = magnitude_expr(vector_col)
    near_zero = F.aggregate(
        F.col(vector_col), F.lit(0).cast("long"),
        lambda acc, x: acc + F.when(F.abs(x) < NEAR_ZERO, 1).otherwise(0))
    factor = float(10 ** _FIXED_SCALE)
    per_row = df.select(
        F.size(vector_col).alias("__d"),
        F.round(m * factor).cast("long").alias("__m_fx"),
        F.round(m * m * factor).cast("long").alias("__m2_fx"),
        near_zero.alias("__nz"),
    )
    agg = per_row.agg(
        F.max("__d").alias("dimensions"),
        F.count(F.lit(1)).alias("sample_size"),
        (F.sum("__m_fx").cast("double") / factor).alias("__sum_m"),
        (F.sum("__m2_fx").cast("double") / factor).alias("__sum_m2"),
        F.sum("__nz").alias("__nz_total"),
        F.sum(F.col("__d").cast("long")).alias("__values_total"),
    )
    mean = F.col("__sum_m") / F.col("sample_size")
    var = F.greatest(
        F.col("__sum_m2") / F.col("sample_size") - mean * mean, F.lit(0.0))
    std = F.sqrt(var)
    return agg.select(
        F.col("dimensions").cast("int").alias("dimensions"),
        F.col("sample_size").cast("long").alias("sample_size"),
        mean.alias("mean_magnitude"),
        std.alias("std_magnitude"),
        (F.col("__nz_total").cast("double") /
         F.col("__values_total").cast("double")).alias("sparsity_ratio"),
        ((F.abs(mean - 1.0) < 0.1) & (std < 0.1)).alias("appears_normalized"),
    )


def _estimate_intrinsic_dim(distances: np.ndarray, nominal_dim: int) -> float:
    """tuning.rs:1243-1269 (simplified MLE from the k-NN distance ratio)."""
    if len(distances) < 10:
        return float(nominal_dim)
    s = np.sort(distances)
    k1, k2 = len(s) // 4, len(s) // 2
    if k1 == 0 or s[k1] < 1e-4 or s[k2] < 1e-4:
        return float(nominal_dim)
    ratio = s[k2] / s[k1]
    if ratio <= 1.0:
        return float(nominal_dim)
    est = max(math.log(ratio) / 0.693, 1.0)
    return float(min(est * 10.0, nominal_dim))


def _estimate_clusters(distances: np.ndarray) -> int:
    """tuning.rs:1271-1308 (modes of the pairwise-distance histogram)."""
    if len(distances) < 20:
        return 1
    lo, hi = float(distances.min()), float(distances.max())
    if hi - lo < 1e-3:
        return 1
    hist, _ = np.histogram(distances, bins=20, range=(lo, hi))
    modes = sum(
        1 for i in range(1, 19) if hist[i] > hist[i - 1] and hist[i] > hist[i + 1])
    return 1 if modes <= 1 else modes + 1


def profile_vectors(df: DataFrame, vector_col: str = "vector",
                    id_col: str = "id", pair_sample: int = 200,
                    max_pairs: int = 1000) -> DataProfile:
    """Full DataProfiler.profile: corpus stats distributed, pairwise
    stats over a deterministic bounded sample (the reference caps at
    1000 pairs; so do we — the sample collect is O(pair_sample * d))."""
    stats = profile_stats_df(df, vector_col).first()
    if stats["sample_size"] == 0:
        return DataProfile(0, 0, 0.0, 0.0, 0.0, 0.0, False, 0, 0.0)
    sample_rows = (df.select(vector_col)
                   .orderBy(F.col(id_col).asc())
                   .limit(int(pair_sample)).collect())
    X = np.array([r[0] for r in sample_rows], dtype=np.float64)
    n = len(X)
    pair_total = n * (n - 1) // 2
    dists: list[float] = []
    if pair_total:
        step = max(pair_total // max_pairs, 1)
        idx = 0
        for i in range(n):
            diffs = X[i + 1:] - X[i]
            d_row = np.sqrt((diffs * diffs).sum(axis=1))
            for j, d in enumerate(d_row):
                if idx % step == 0:
                    dists.append(float(d))
                    if len(dists) >= max_pairs:
                        break
                idx += 1
            if len(dists) >= max_pairs:
                break
    darr = np.array(dists, dtype=np.float64)
    return DataProfile(
        dimensions=int(stats["dimensions"]),
        sample_size=int(stats["sample_size"]),
        mean_magnitude=float(stats["mean_magnitude"]),
        std_magnitude=float(stats["std_magnitude"]),
        mean_pairwise_distance=float(darr.mean()) if len(darr) else 0.0,
        intrinsic_dimensionality=_estimate_intrinsic_dim(
            darr, int(stats["dimensions"])),
        appears_normalized=bool(stats["appears_normalized"]),
        estimated_clusters=_estimate_clusters(darr),
        sparsity_ratio=float(stats["sparsity_ratio"]),
    )


# ===================================================================
# Auto-tuning (tuning.rs:93-388) in Spark's physical vocabulary
# ===================================================================

PROFILES = ("low_latency", "balanced", "high_recall", "low_memory")

# calibrated from this repo's own bench: the fused Arrow kernel scans
# ~50M float-ops/ms/core and the 1M x 384 IVF run measured recall 0.965
# at nprobe/cells = 8/64 (BENCH derived.batch_knn_1M384_ivf_recall_at_10)
_OPS_PER_MS_PER_CORE = 50_000.0
_JOB_FLOOR_MS = 300.0
_TARGET_PARTITION_BYTES = 128 * 1024 * 1024


@dataclass
class TuningConstraints:
    """tuning.rs:107-170."""

    expected_vectors: int
    dimensions: int
    max_memory_bytes: int | None = None
    target_latency_ms: float | None = None
    min_recall: float = 0.9
    profile: str = "balanced"
    parallelism: int = 32


@dataclass
class TuningResult:
    """tuning.rs:172-189, re-expressed in this engine's knobs."""

    strategy: str                 # exact_scan | ivf | ivf_sq8 | ivf_pq
    ivf_cells: int
    nprobe: int
    quantization: str | None      # None | sq8 | pq | binary
    shuffle_partitions: int
    max_partition_bytes: int
    estimated_memory_per_vector: int
    estimated_total_memory: int
    estimated_recall: float
    estimated_latency_ms: float
    explanation: list[str] = field(default_factory=list)


def _bytes_per_vector(dim: int, quantization: str | None) -> int:
    if quantization == "sq8":
        return dim  # 1 byte/dim (+ row overhead ignored, like the reference)
    if quantization == "binary":
        return max(dim // 8, 1)
    if quantization == "pq":
        return max(dim // 8, 8)  # m=dim/8 code bytes
    return 4 * dim


def _recall_estimate(probe_frac: float, min_recall: float) -> float:
    """Anchored on the measured point (probe_frac=0.125 -> 0.965 at
    1M x 384); concave saturating curve, capped at 1.0 for the exact
    scan."""
    if probe_frac >= 1.0:
        return 1.0
    return round(min(1.0, 0.965 * (probe_frac / 0.125) ** 0.12), 4)


def auto_tune(c: TuningConstraints) -> TuningResult:
    """Pick cells/nprobe/quantization/partitioning for the constraints,
    with the same guard-and-adjust structure as tuning.rs auto_tune."""
    expl: list[str] = []
    if c.expected_vectors == 0 or c.dimensions == 0:
        expl.append("Empty dataset: returning minimal default parameters")
        return TuningResult("exact_scan", 0, 0, None, 8,
                            _TARGET_PARTITION_BYTES, 0, 0, 1.0, 0.0, expl)
    if c.profile not in PROFILES:
        raise ValueError(f"unknown profile: {c.profile!r}")

    n, d = c.expected_vectors, c.dimensions
    # base probe fraction per profile (the reference's base M/ef table)
    base_frac = {"low_latency": 0.05, "balanced": 0.125,
                 "high_recall": 0.35, "low_memory": 0.125}[c.profile]
    quant: str | None = "sq8" if c.profile == "low_memory" else None
    expl.append(f"Base parameters from {c.profile} profile: "
                f"probe_frac={base_frac}, quantization={quant}")

    # small corpora: the exact fused scan beats any index
    if n <= 100_000:
        strategy, cells, nprobe = "exact_scan", 0, 0
        frac = 1.0
        expl.append(f"{n} vectors: exact fused scan is optimal below 100k")
    else:
        cells = int(min(max(4 * math.sqrt(n), 16), 65_536))
        frac = base_frac
        if c.min_recall > 0.98:
            frac = max(frac, 0.5)
            expl.append(f"min_recall {c.min_recall} > 0.98: raised probe "
                        f"fraction to {frac}")
        elif c.min_recall > 0.95:
            frac = max(frac, 0.25)
            expl.append(f"min_recall {c.min_recall} > 0.95: raised probe "
                        f"fraction to {frac}")
        nprobe = max(int(cells * frac), 1)
        strategy = "ivf"

    # memory budget: step down through quantization tiers until it fits
    for q in ([quant] if quant else [None, "sq8", "pq"]):
        bpv = _bytes_per_vector(d, q)
        total = bpv * n
        if c.max_memory_bytes is None or total <= c.max_memory_bytes:
            quant = q
            break
        expl.append(f"{q or 'fp32'} needs {total // (1 << 20)} MiB > budget: "
                    "stepping down")
        quant = q
    bpv = _bytes_per_vector(d, quant)
    total = bpv * n
    if quant and strategy == "ivf":
        strategy = f"ivf_{quant}"
    if quant:
        expl.append(f"quantization={quant}: {4 * d}B -> {bpv}B per vector "
                    f"({4 * d / bpv:.0f}x)")

    # latency estimate: scanned fraction of the corpus through the kernel
    scanned = n * frac
    lat = _JOB_FLOOR_MS + scanned * d / (_OPS_PER_MS_PER_CORE * c.parallelism)
    if c.target_latency_ms is not None and lat > c.target_latency_ms \
            and strategy != "exact_scan":
        # shrink the probe fraction toward the target, floored at 2 cells
        need = (c.target_latency_ms - _JOB_FLOOR_MS) * \
            _OPS_PER_MS_PER_CORE * c.parallelism
        frac_target = max(need / (n * d), 2.0 / max(cells, 2))
        if frac_target < frac:
            frac = frac_target
            nprobe = max(int(cells * frac), 2)
            scanned = n * frac
            lat = _JOB_FLOOR_MS + scanned * d / \
                (_OPS_PER_MS_PER_CORE * c.parallelism)
            expl.append(f"target latency {c.target_latency_ms}ms: lowered "
                        f"probe fraction to {frac:.3f} (nprobe={nprobe})")

    # partition sizing: each partition <= 128 MiB and >= 2x parallelism
    parts = max(int(math.ceil(total / _TARGET_PARTITION_BYTES)),
                2 * c.parallelism)
    expl.append(f"partitions={parts}: {total // (1 << 20)} MiB total at "
                f"<=128 MiB each, floor 2x{c.parallelism} cores")

    recall = _recall_estimate(frac, c.min_recall)
    if quant == "sq8":
        recall = round(recall * 0.995, 4)  # rescore-free SQ8 penalty
    elif quant in ("pq", "binary"):
        recall = round(recall * 0.97, 4)
    return TuningResult(strategy, cells, nprobe, quant, parts,
                        _TARGET_PARTITION_BYTES, bpv, total, recall,
                        round(lat, 1), expl)


def relative_contrast(train_sample, query_sample,
                      metric: str = "cosine") -> float:
    """Relative contrast RC = E_q[mean_dist(q) / nearest_dist(q)] over
    a corpus sample — the public difficulty statistic for nearest
    -neighbor search (He, Kumar, Chang, "On the Difficulty of Nearest
    Neighbor Search", ICML 2012): RC -> 1 means distances concentrate
    and partition-based indexes cannot separate neighbors from the
    bulk.  Calibration on the repo's ANN twins (100k sample):
    glove-like (angular, concentrated) RC=1.46; sift-like (clustered
    euclidean) RC=5.3; a cleanly clustered angular corpus RC=13."""
    import numpy as np

    t = np.asarray(train_sample, dtype=np.float64)
    q = np.asarray(query_sample, dtype=np.float64)
    if metric == "cosine":
        t = t / np.maximum(np.linalg.norm(t, axis=1, keepdims=True), 1e-12)
        q = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
        D = 1.0 - q @ t.T
    elif metric == "dot":
        # dot has no scale-free contrast; rank by negative dot shifted
        # positive so the ratio stays meaningful
        D = -(q @ t.T)
        D = D - D.min() + 1e-9
    else:
        D = np.sqrt(np.maximum(
            (q * q).sum(1)[:, None] - 2.0 * (q @ t.T)
            + (t * t).sum(1)[None, :], 0.0))
    return float((D.mean(axis=1)
                  / np.maximum(D.min(axis=1), 1e-12)).mean())


#: below this relative contrast, IVF recall-per-probed-row collapses
#: (measured: glove-like RC 1.46 needs 31% probe fraction for 0.72
#: recall@10 — ANN_RECALL_glove_like.json) and the exact flat tier
#: (plans/flat.py, recall 1.0 at ~1300 QPS/1M) is the right family
FLAT_TIER_RC_CUTOFF = 2.0


def recommend_ann_tier(train_sample, query_sample,
                       metric: str = "cosine") -> dict:
    """Pick the serving index family from measured search difficulty:
    'flat' (exact blocked-sgemm scan) when distances concentrate,
    'ivf' when cluster structure gives probes real recall-per-row.
    Returns {'tier', 'relative_contrast', 'reason'}."""
    rc = relative_contrast(train_sample, query_sample, metric)
    if rc < FLAT_TIER_RC_CUTOFF:
        return {"tier": "flat", "relative_contrast": round(rc, 3),
                "reason": f"relative contrast {rc:.2f} < "
                          f"{FLAT_TIER_RC_CUTOFF}: distances "
                          "concentrate; partition probes cannot "
                          "separate neighbors — serve exact"}
    return {"tier": "ivf", "relative_contrast": round(rc, 3),
            "reason": f"relative contrast {rc:.2f} >= "
                      f"{FLAT_TIER_RC_CUTOFF}: cluster structure "
                      "present; IVF probes pay off"}


def recommend_ann_codes(train_sample, query_sample,
                        metric: str = "euclidean",
                        target_recall: float = 0.95,
                        k: int = 10,
                        budget_bytes_per_row: int | None = None) -> dict:
    """Measured IVF code-tier rule (VERDICT r7 #7).

    budget_bytes_per_row (the capacity constraint): when set BELOW the
    SQ8 size (dim bytes/row) the corpus's codes cannot fit in serving
    memory at SQ8 width, so the rule fits PQ codebooks at the budgeted
    subspace count on the sample, simulates the PQ+refine serving path
    (ADC-ranked cut of factor*k survivors, exact re-rank), and returns
    the SMALLEST refine factor in {4,16,32,64,128} whose simulated
    recall clears the target — the refine-factor knob measured instead
    of guessed (the committed sift-1M curve: 0.507/0.885/0.971 at
    factor 4/32/128).  Calibration: the sample sim is a single-cell
    approximation (residuals wrt the sample mean, no IVF probe loss),
    so it reads optimistic vs a full index — sift sample factor-16
    measures 0.97 where the 1M grid needs factor ~32-64 for the same
    recall; treat the returned factor as the starting knob and verify
    with recall_at_k on the built index.

    Quantization recall ceilings are real and probe-independent: a
    corpus whose neighbor margins sit below the SQ8 step cannot be
    recovered by probing more cells, only by wider codes.  This rule
    measures that floor directly: encode the sample with per-dim SQ8,
    rank neighbors from the DECODED vectors (the same decoded-rank
    consistency the serving kernel uses — PLANS.md round 8), and
    compare top-k against the exact float sample; below
    `target_recall` the serving index should carry float32 codes.
    Calibration: all three ANN twins clear 0.95 post-fix (fashion
    784-d sample 0.978, real index 0.992-0.994 — the earlier 0.902
    artifact plateau was the decoded-norm defect, and this rule's
    disagreement with it is what exposed the bug); an
    outlier-stretched corpus (step >> margin) measures ~0 and flips
    to float32.  Returns {'codes', 'sq8_sample_recall', 'reason'}."""
    import numpy as np

    t = np.asarray(train_sample, dtype=np.float64)
    q = np.asarray(query_sample, dtype=np.float64)
    if metric == "cosine":
        t = t / np.maximum(np.linalg.norm(t, axis=1, keepdims=True), 1e-12)
        q = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
    lo = t.min(axis=0)
    step = np.maximum((t.max(axis=0) - lo) / 255.0, 1e-12)
    dec = np.clip(np.rint((t - lo) / step), 0, 255) * step + lo

    def dist(M):
        if metric in ("cosine", "dot"):
            return -(q @ M.T)
        return ((q * q).sum(1)[:, None] - 2.0 * (q @ M.T)
                + (M * M).sum(1)[None, :])

    def topk(D, kk):
        kk = min(kk, D.shape[1])
        return np.argpartition(D, kk - 1, axis=1)[:, :kk]

    def refined_recall(Dapprox, De, exact, factor):
        cut = topk(Dapprox, factor * k)
        return float(np.mean([
            len(set(exact[i])
                & set(cut[i][np.argsort(De[i][cut[i]],
                                        kind="stable")[:exact.shape[1]]]))
            / exact.shape[1]
            for i in range(len(q))]))

    De = dist(t)
    exact = topk(De, k)

    if budget_bytes_per_row is not None \
            and budget_bytes_per_row < t.shape[1]:
        # capacity-constrained: SQ8 codes (dim bytes/row) do not fit.
        # Fit PQ at the budgeted subspace count on the sample and
        # measure the smallest refine factor that clears the target.
        from needle_spark.plans.ivf import _kmeans_fit, _pq_encode

        dim = t.shape[1]
        m_sub = max(1, min(int(budget_bytes_per_row), dim))
        while m_sub > 1 and dim % m_sub:
            m_sub -= 1
        sub = dim // m_sub
        mu = t.mean(axis=0)
        res = (t - mu).astype(np.float32)
        # NO pre-rotation, matching the built index (plans/ivf.py
        # fits PQ codebooks on unrotated residuals: every rotation was
        # measured worse on the real 1M grid — PCA factor-4 recall
        # 0.507 -> 0.350, PLANS.md round 9 — and deleted), so the sim
        # must not simulate a transform the build won't apply
        R = res.reshape(len(t), m_sub, sub)
        books = np.stack([
            np.asarray(_kmeans_fit(np.ascontiguousarray(R[:, j, :]),
                                   256, 42 + j, 4), dtype=np.float32)
            for j in range(m_sub)])
        _codes, dec_pq = _pq_encode(res, books)
        Dpq = dist(dec_pq.astype(np.float64) + mu)
        for factor in (4, 16, 32, 64, 128):
            rr = refined_recall(Dpq, De, exact, factor)
            if rr >= target_recall:
                return {"codes": "pq", "pq_m": m_sub, "refine": True,
                        "refine_factor": factor,
                        "refined_sample_recall": round(rr, 4),
                        "reason": f"budget {budget_bytes_per_row} B/row "
                                  f"< SQ8's {dim}: pq m={m_sub} with a "
                                  f"factor-{factor} exact-refine cut "
                                  f"measures {rr:.3f} on the sample"}
        return {"codes": "pq", "pq_m": m_sub, "refine": True,
                "refine_factor": 128,
                "refined_sample_recall": round(rr, 4),
                "reason": f"budget {budget_bytes_per_row} B/row forces "
                          f"pq m={m_sub}; even a factor-128 refine cut "
                          f"measures {rr:.3f} < {target_recall} — the "
                          "budget and the target are incompatible on "
                          "this corpus (measured ceiling reported)"}

    Dq = dist(dec)
    quant = topk(Dq, k)
    recall = float(np.mean([
        len(set(exact[i]) & set(quant[i])) / exact.shape[1]
        for i in range(len(q))]))
    if recall >= target_recall:
        return {"codes": "sq8_cell", "refine": False,
                "sq8_sample_recall": round(recall, 4),
                "reason": f"sample SQ8 recall {recall:.3f} >= "
                          f"{target_recall}: quantization error sits "
                          "below the neighbor margin; 4x smaller codes"}
    # below the plain-SQ8 ceiling, simulate the exact-refine tier on
    # the same sample before escalating to 4x-resident float32 codes:
    # quantized distances only CUT to refine_factor*k survivors, the
    # survivors re-rank exactly (plans/ivf.py refine=True).  If even a
    # factor-4 quantized cut loses the true neighbors (e.g. outlier-
    # stretched ranges collapse the quantized ordering entirely), only
    # exact codes can serve the corpus.
    refine_factor = 4
    ref_recall = refined_recall(Dq, De, exact, refine_factor)
    if ref_recall >= target_recall:
        return {"codes": "sq8_cell", "refine": True,
                "sq8_sample_recall": round(recall, 4),
                "refined_sample_recall": round(ref_recall, 4),
                "reason": f"sample SQ8 recall {recall:.3f} < "
                          f"{target_recall} but a {refine_factor}x "
                          f"quantized cut + exact re-rank measures "
                          f"{ref_recall:.3f}: serve quantized codes "
                          "with the exact-refine sidecar (float32-tier "
                          "recall at 1/4 the resident bytes)"}
    dim = t.shape[1]
    if budget_bytes_per_row is not None and budget_bytes_per_row < 4 * dim:
        # the float32 escalation (4*dim B/row) would bust the stated
        # capacity budget (dim <= budget < 4*dim lands here).  Stay on
        # SQ8 codes and widen the refine cut instead; if even a
        # factor-128 cut misses the target, report the measured
        # ceiling rather than silently ignoring the budget.
        best = ref_recall
        for factor in (16, 32, 64, 128):
            rr = refined_recall(Dq, De, exact, factor)
            best = max(best, rr)
            if rr >= target_recall:
                return {"codes": "sq8_cell", "refine": True,
                        "refine_factor": factor,
                        "sq8_sample_recall": round(recall, 4),
                        "refined_sample_recall": round(rr, 4),
                        "reason": f"budget {budget_bytes_per_row} B/row "
                                  f"< float32's {4 * dim}: a factor-"
                                  f"{factor} SQ8 cut + exact re-rank "
                                  f"measures {rr:.3f} within budget"}
        return {"codes": "sq8_cell", "refine": True, "refine_factor": 128,
                "sq8_sample_recall": round(recall, 4),
                "refined_sample_recall": round(best, 4),
                "reason": f"budget {budget_bytes_per_row} B/row rules "
                          f"out float32 ({4 * dim}); even a factor-128 "
                          f"SQ8 refine cut measures {best:.3f} < "
                          f"{target_recall} — budget and target are "
                          "incompatible on this corpus (measured "
                          "ceiling reported)"}
    return {"codes": "float32", "refine": False,
            "sq8_sample_recall": round(recall, 4),
            "refined_sample_recall": round(ref_recall, 4),
            "reason": f"sample SQ8 recall {recall:.3f} and refined "
                      f"recall {ref_recall:.3f} < {target_recall}: the "
                      "quantized ordering cannot even CUT candidates "
                      "reliably — serve float32 codes"}


def recommended_nprobe(cells: int, target_recall: float) -> int:
    """tuning.rs:393 recommended_ef_search analog: invert the recall
    curve for a probe count."""
    if cells <= 0:
        return 0
    if target_recall >= 1.0:
        return cells
    frac = 0.125 * (max(target_recall, 0.5) / 0.965) ** (1 / 0.12)
    return max(int(cells * min(frac, 1.0)), 1)


class AdaptiveProbeTuner:
    """Feedback-driven probe tuning (query_explain.rs:247-305
    AdaptiveEfTuner, with nprobe standing in for ef_search): latency
    above target shrinks the probe count by learning_rate; latency
    under half the target grows it back for recall.  Bounded history,
    bounded probe range."""

    def __init__(self, initial_nprobe: int, target_latency_ms: float,
                 min_probe: int = 1, max_probe: int = 512,
                 learning_rate: float = 0.1, max_history: int = 100):
        self.current = int(initial_nprobe)
        self.target_ms = float(target_latency_ms)
        self.min_probe, self.max_probe = int(min_probe), int(max_probe)
        self.lr = float(learning_rate)
        self.history: list[float] = []
        self.max_history = int(max_history)

    def record_feedback(self, actual_latency_ms: float) -> None:
        self.history.append(float(actual_latency_ms))
        del self.history[: max(0, len(self.history) - self.max_history)]
        step = max(int(self.current * self.lr), 1)
        if actual_latency_ms > self.target_ms:
            self.current = max(self.current - step, self.min_probe)
        elif actual_latency_ms < self.target_ms / 2:
            self.current = min(self.current + step, self.max_probe)

    def recommended_nprobe(self) -> int:
        return self.current

    def avg_latency_ms(self) -> float:
        return sum(self.history) / len(self.history) if self.history else 0.0

    def observation_count(self) -> int:
        return len(self.history)


# ===================================================================
# What-if analysis (tuning.rs:702-760)
# ===================================================================

@dataclass
class IndexCostPreview:
    """tuning.rs:702-721."""

    strategy: str
    estimated_memory_bytes: int
    estimated_latency_ms: float
    estimated_recall: float
    estimated_build_seconds: float
    notes: str


def what_if_analysis(n: int, dim: int, parallelism: int = 32,
                     min_recall: float = 0.9) -> list[IndexCostPreview]:
    """Cost previews for every physical strategy, from the same
    calibrated model auto_tune uses — so 'what if I quantized?' has a
    number attached before anyone builds anything."""
    cells = int(min(max(4 * math.sqrt(max(n, 1)), 16), 65_536))
    rows = []
    scan_ms = _JOB_FLOOR_MS + n * dim / (_OPS_PER_MS_PER_CORE * parallelism)
    # build cost: one pass to encode/partition (+ KMeans sample fit)
    one_pass_s = n * dim / (_OPS_PER_MS_PER_CORE * parallelism) / 1000.0
    for strategy, frac, quant, build_mult, notes in [
        ("exact_scan", 1.0, None, 0.0, "no build; recall 1.0 by definition"),
        ("ivf", 0.125, None, 1.5, "KMeans fit + partition write"),
        ("ivf_sq8", 0.125, "sq8", 1.7, "4x smaller scan, ~0.5% recall cost"),
        ("ivf_pq", 0.125, "pq", 2.5, "32x smaller, ADC scoring, rescore "
                                     "recommended"),
        ("binary_rescore", 1.0, "binary", 1.2, "32x hamming prefilter + "
                                               "exact rescore"),
    ]:
        bpv = _bytes_per_vector(dim, quant)
        if strategy == "exact_scan":
            lat = scan_ms
        else:
            # compute scales with probed fraction; quantized codes cut
            # scan bandwidth proportionally to their byte width
            width_scale = bpv / (4.0 * dim)
            lat = _JOB_FLOOR_MS + n * frac * dim * width_scale / \
                (_OPS_PER_MS_PER_CORE * parallelism)
        recall = 1.0 if strategy == "exact_scan" else \
            _recall_estimate(frac, min_recall)
        if quant == "sq8":
            recall = round(recall * 0.995, 4)
        elif quant == "pq":
            recall = round(recall * 0.97, 4)
        elif quant == "binary":
            recall = round(min(recall, 0.99), 4)  # rescore recovers most
        rows.append(IndexCostPreview(
            strategy, bpv * n, round(lat, 1), recall,
            round(one_pass_s * build_mult, 2), notes))
    return rows


# ===================================================================
# Smart index selection (tuning.rs:1311-1430)
# ===================================================================

@dataclass
class SmartIndexSelection:
    """tuning.rs:1315-1327."""

    recommended: str
    profile: DataProfile
    confidence: float
    reasoning: list[str]
    tuning: TuningResult | None


def smart_select(df: DataFrame, vector_col: str = "vector",
                 id_col: str = "id",
                 constraints: TuningConstraints | None = None,
                 expected_total: int | None = None) -> SmartIndexSelection:
    """SmartIndexSelector.select: profile the actual data, start from
    the constraint-based recommendation, then adjust with the same
    profile-driven rules as tuning.rs:1330-1412."""
    prof = profile_vectors(df, vector_col, id_col=id_col)
    n = expected_total if expected_total is not None else \
        (constraints.expected_vectors if constraints else prof.sample_size)
    c = constraints or TuningConstraints(n, prof.dimensions)
    base = auto_tune(c)
    reasoning = [f"Base recommendation: {base.strategy} "
                 f"({base.explanation[0] if base.explanation else ''})"]
    confidence = 0.8
    recommended = base.strategy

    if prof.intrinsic_dimensionality > prof.dimensions * 0.5:
        reasoning.append(
            f"High intrinsic dimensionality "
            f"({prof.intrinsic_dimensionality:.1f}): coarse IVF cells "
            "separate poorly — raise nprobe or stay exact")
        if recommended.startswith("ivf") and n < 5_000_000:
            recommended = "exact_scan"
            confidence *= 0.9
    if prof.estimated_clusters > 5:
        reasoning.append(
            f"Data appears clustered (~{prof.estimated_clusters} clusters): "
            "IVF cells will prune effectively")
        confidence *= 0.95 if recommended == "exact_scan" else 1.0
    if prof.sparsity_ratio > 0.5:
        reasoning.append(
            f"High sparsity ({prof.sparsity_ratio * 100:.1f}%): consider the "
            "sparse posting-list operator (operators/sparse.py)")
    if prof.appears_normalized:
        reasoning.append("Vectors appear normalized: cosine reduces to dot — "
                         "use metric='cosine_normalized'")
    return SmartIndexSelection(recommended, prof, round(confidence, 3),
                               reasoning, base)


# ===================================================================
# Compression advisor (compression_advisor.rs) — measured, not guessed
# ===================================================================

@dataclass
class StrategyResult:
    """compression_advisor.rs:77-92."""

    strategy: str
    compression_ratio: float
    measured_recall: float
    bytes_per_vector: int
    meets_targets: list[float]


@dataclass
class AdvisorReport:
    """compression_advisor.rs:111-137."""

    sample_size: int
    dimensions: int
    results: list[StrategyResult]
    recommendations: dict[float, str]  # target recall -> strategy

    def summary(self) -> str:
        lines = [f"Compression advisor: {self.sample_size} vectors x "
                 f"{self.dimensions} dims"]
        for r in self.results:
            lines.append(
                f"  {r.strategy:10s} {r.compression_ratio:5.1f}x  "
                f"recall@k={r.measured_recall:.4f}  {r.bytes_per_vector}B/vec")
        for target, strat in sorted(self.recommendations.items()):
            lines.append(f"  target recall {target}: -> {strat}")
        return "\n".join(lines)

    def project_memory_savings(self, total_vectors: int) -> list[dict]:
        """compression_advisor.rs:190-208."""
        base = next((r.bytes_per_vector for r in self.results
                     if r.strategy == "fp32"), 4 * self.dimensions)
        return [{
            "strategy": r.strategy,
            "total_bytes": r.bytes_per_vector * total_vectors,
            "saved_bytes": (base - r.bytes_per_vector) * total_vectors,
            "measured_recall": r.measured_recall,
        } for r in self.results]


def advise_compression(df: DataFrame, vector_col: str = "vector",
                       id_col: str = "id", sample_size: int = 2000,
                       num_test_queries: int = 20, recall_k: int = 10,
                       target_recalls: Sequence[float] = (0.99, 0.95, 0.90),
                       ) -> AdvisorReport:
    """Analyze quantization strategies on a deterministic sample:
    encode with each quantizer (plans/quantization.py), measure
    recall@k against the exact scan for held-out queries, and
    recommend the smallest strategy that clears each target
    (compression_advisor.rs analyze :355).

    The measurement runs on a bounded sample (like the reference's
    max_sample_size) — encode cost is one map pass per strategy and
    each recall probe is a top-k scan of the sample."""
    from needle_spark.plans.quantization import (
        SQ8,
        BinaryQuantizer,
        HalfQuantizer,
    )

    sample = (df.select(F.col(id_col).alias("id"),
                        F.col(vector_col).alias("vector"))
              .orderBy(F.col("id").asc()).limit(int(sample_size))).cache()
    n = sample.count()
    if n == 0:
        return AdvisorReport(0, 0, [], {})
    dim = len(sample.first()["vector"])
    queries = [list(map(float, r["vector"]))
               for r in sample.limit(num_test_queries).collect()]

    from needle_spark.operators.knn import knn

    def topk_ids(res: DataFrame) -> list:
        return [r["id"] for r in res.collect()]

    exact_ids = [topk_ids(knn(sample, q, k=recall_k)) for q in queries]

    results = [StrategyResult("fp32", 1.0, 1.0, 4 * dim, list(target_recalls))]

    half = HalfQuantizer("float16")
    ench = half.encode(sample).cache()
    rech = _measure_recall(
        lambda q: half.search(ench, q, k=recall_k, metric="cosine"),
        queries, exact_ids, recall_k)
    results.append(StrategyResult(
        "float16", 2.0, rech, 2 * dim,
        [t for t in target_recalls if rech >= t]))

    sq8 = SQ8.fit(sample)
    enc8 = sq8.encode(sample).cache()
    rec8 = _measure_recall(
        lambda q: sq8.search(enc8, q, k=recall_k, metric="cosine"),
        queries, exact_ids, recall_k)
    results.append(StrategyResult(
        "sq8", 4.0, rec8, dim,
        [t for t in target_recalls if rec8 >= t]))

    binq = BinaryQuantizer()
    encb = binq.encode(sample).cache()
    recb = _measure_recall(
        lambda q: binq.search(encb, q, k=recall_k),
        queries, exact_ids, recall_k)
    results.append(StrategyResult(
        "binary", 32.0, recb, max(dim // 8, 1),
        [t for t in target_recalls if recb >= t]))

    # product quantization (quantization.rs PQ / the IvfPQ code tier's
    # codebooks): 1 byte per subspace — measured like every other
    # strategy rather than assumed
    caches = [sample, ench, enc8, encb]
    pq_m = next((dim // sd for sd in (8, 4, 2) if dim % sd == 0), None)
    if pq_m and n >= 256:
        from needle_spark.plans.quantization import ProductQuantizer

        pq = ProductQuantizer.fit(sample, m=pq_m)
        encp = pq.encode(sample).cache()
        caches.append(encp)
        recp = _measure_recall(
            lambda q: pq.search(encp, q, k=recall_k, metric="cosine"),
            queries, exact_ids, recall_k)
        results.append(StrategyResult(
            "pq", 4.0 * dim / pq_m, recp, pq_m,
            [t for t in target_recalls if recp >= t]))

    recommendations: dict[float, str] = {}
    for t in target_recalls:
        eligible = [r for r in results if r.measured_recall >= t]
        best = max(eligible, key=lambda r: r.compression_ratio)
        recommendations[float(t)] = best.strategy
    for c in caches:
        c.unpersist()
    return AdvisorReport(n, dim, results, recommendations)


def _measure_recall(search_fn, queries, exact_ids, k: int) -> float:
    hits = 0
    for q, expect in zip(queries, exact_ids):
        got = {r["id"] for r in search_fn(q).collect()}
        hits += len(got & set(expect))
    return round(hits / (len(queries) * k), 4) if queries else 0.0
