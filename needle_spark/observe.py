"""Operational metrics: Prometheus-format counters/gauges/histograms
with operation timers, Grafana dashboard + alerting-rule generation,
and a rolling sigma-threshold anomaly detector.

Reference: /root/reference/src/metrics.rs — NeedleMetrics metric
families + bucket sets (:357-470: needle_operations_total,
needle_errors_total, needle_operation_duration_seconds,
needle_search_result_count, collection gauges, memory gauges),
operation timer (:505-517, :600-614: records duration on exit),
error/record_search_results/update_collection/update_memory
(:520-586), Prometheus text export (:588-597),
generate_grafana_dashboard (:921-1030: 7 panels with the exact
PromQL), GrafanaDashboardConfig (:1033-1060),
generate_alerting_rules (:1131-1200: 5 rules), AlertingConfig
(:1204-1222: 5% errors / 100ms p95 / 8 GiB defaults),
AnomalyDetector (:1253-1316: rolling window, z-score vs sigma
threshold, warmup passes), AnomalyResult (:1319-1331).
IngestionMetrics counters (:150-261) are covered by
streaming/reliability.py.

Altitude: metrics are O(metric-series), not O(data) — the registry is
plain driver-side state (a Spark job's executors report through the
SparkListener/accumulator machinery, which plans/profiler.py taps).
The only data-touching helper, `update_from_collection`, derives the
collection gauges from ONE count aggregation."""

from __future__ import annotations

import json
import math
import time
from collections import deque
from contextlib import contextmanager
from dataclasses import dataclass, field
from types import SimpleNamespace

#: Histogram bucket sets — metrics.rs:393-414.
DURATION_BUCKETS = (0.0001, 0.0005, 0.001, 0.005, 0.01, 0.05, 0.1, 0.5, 1.0)
SEARCH_RESULT_BUCKETS = (1.0, 5.0, 10.0, 20.0, 50.0, 100.0, 500.0, 1000.0)


class _Histogram:
    def __init__(self, buckets):
        self.buckets = tuple(buckets)
        self.counts = [0] * (len(self.buckets) + 1)  # +inf tail
        self.total = 0.0
        self.n = 0

    def observe(self, v: float) -> None:
        self.total += v
        self.n += 1
        for i, b in enumerate(self.buckets):
            if v <= b:
                self.counts[i] += 1
                return
        self.counts[-1] += 1


class MetricsRegistry:
    """NeedleMetrics — metrics.rs:357-586, Prometheus text export
    :588-597."""

    def __init__(self):
        self.counters: dict[tuple, float] = {}
        self.gauges: dict[tuple, float] = {}
        self.histograms: dict[tuple, _Histogram] = {}

    # -- recording --

    def inc(self, name: str, labels: dict[str, str], by: float = 1.0) -> None:
        key = (name, tuple(sorted(labels.items())))
        self.counters[key] = self.counters.get(key, 0.0) + by

    def set_gauge(self, name: str, labels: dict[str, str], value: float) -> None:
        self.gauges[(name, tuple(sorted(labels.items())))] = float(value)

    def observe(self, name: str, labels: dict[str, str], value: float,
                buckets=DURATION_BUCKETS) -> None:
        key = (name, tuple(sorted(labels.items())))
        if key not in self.histograms:
            self.histograms[key] = _Histogram(buckets)
        self.histograms[key].observe(value)

    @contextmanager
    def operation(self, collection: str, operation: str):
        """metrics.rs:505-517, :600-614 — counts the op on entry and
        records its duration on exit (a context manager instead of
        Drop), also when the body raises."""
        labels = {"collection": collection, "operation": operation}
        self.inc("needle_operations_total", labels)
        start = time.monotonic()
        try:
            yield
        finally:
            self.observe("needle_operation_duration_seconds", labels,
                         time.monotonic() - start)

    def error(self, collection: str, operation: str, error_type: str) -> None:
        """metrics.rs:520-526."""
        self.inc("needle_errors_total",
                 {"collection": collection, "operation": operation,
                  "error_type": error_type})

    def record_search_results(self, collection: str, count: int) -> None:
        """metrics.rs:528-534."""
        self.observe("needle_search_result_count",
                     {"collection": collection}, float(count),
                     buckets=SEARCH_RESULT_BUCKETS)

    def update_collection(self, collection: str, vectors: int, deleted: int,
                          dims: int) -> None:
        """metrics.rs:552-564."""
        lbl = {"collection": collection}
        self.set_gauge("needle_collection_vectors_total", lbl, vectors)
        self.set_gauge("needle_collection_deleted_vectors", lbl, deleted)
        self.set_gauge("needle_collection_dimensions", lbl, dims)

    def update_memory(self, collection: str, vectors: int, metadata: int,
                      index: int) -> None:
        """metrics.rs:574-586."""
        for kind, v in (("vectors", vectors), ("metadata", metadata),
                        ("index", index)):
            self.set_gauge("needle_collection_memory_bytes",
                           {"collection": collection, "kind": kind}, v)

    def update_from_collection(self, collection) -> None:
        """Derive the collection gauges from the real catalog state —
        one count aggregation, no data collected."""
        self.update_collection(
            collection.path.rstrip("/").rsplit("/", 1)[-1],
            vectors=collection.count(), deleted=0, dims=collection.dims)

    # -- export --

    def export(self) -> str:
        """Prometheus text exposition format — metrics.rs:588-597."""
        out: list[str] = []

        def esc(v) -> str:
            return (str(v).replace("\\", "\\\\")
                    .replace('"', '\\"').replace("\n", "\\n"))

        def fmt_labels(label_items) -> str:
            if not label_items:
                return ""
            inner = ",".join(f'{k}="{esc(v)}"' for k, v in label_items)
            return "{" + inner + "}"

        typed: set[str] = set()

        def num(v) -> str:
            # %g truncates to 6 significant digits — a 12,345,678
            # counter would export as 1.23457e+07 and rate() staircases
            f = float(v)
            if f.is_integer() and abs(f) < 2**63:
                return str(int(f))
            return repr(f)

        def type_line(name: str, kind: str) -> None:
            # expfmt allows at most ONE TYPE line per metric name
            if name not in typed:
                typed.add(name)
                out.append(f"# TYPE {name} {kind}")

        for (name, labels), v in sorted(self.counters.items()):
            type_line(name, "counter")
            out.append(f"{name}{fmt_labels(labels)} {num(v)}")
        for (name, labels), v in sorted(self.gauges.items()):
            type_line(name, "gauge")
            out.append(f"{name}{fmt_labels(labels)} {num(v)}")
        for (name, labels), h in sorted(self.histograms.items()):
            type_line(name, "histogram")
            cum = 0
            for b, c in zip(h.buckets, h.counts):
                cum += c
                out.append(
                    f'{name}_bucket{fmt_labels(tuple(labels) + (("le", f"{b:g}"),))} {cum}')
            cum += h.counts[-1]
            out.append(
                f'{name}_bucket{fmt_labels(tuple(labels) + (("le", "+Inf"),))} {cum}')
            out.append(f"{name}_sum{fmt_labels(labels)} {num(h.total)}")
            out.append(f"{name}_count{fmt_labels(labels)} {h.n}")
        return "\n".join(out) + "\n"


# ------------------------------------------------------------- grafana


@dataclass
class GrafanaDashboardConfig:
    """metrics.rs:1033-1060."""

    title: str = "Needle Vector Database"
    uid: str = "needle-dashboard"
    datasource_uid: str = "prometheus"
    refresh_interval: str = "30s"


#: (id, title, expr, panel type, gridPos) — metrics.rs:922-980.
_PANELS = (
    (1, "Operations per Second", "rate(needle_operations_total[5m])",
     "timeseries", (0, 0, 12, 8)),
    (2, "Error Rate", "rate(needle_errors_total[5m])",
     "timeseries", (12, 0, 12, 8)),
    (3, "Operation Latency (p95)",
     "histogram_quantile(0.95, rate(needle_operation_duration_seconds_bucket[5m]))",
     "timeseries", (0, 8, 12, 8)),
    (4, "Total Vectors", "sum(needle_collection_vectors_total)",
     "stat", (12, 8, 6, 8)),
    (5, "Memory Usage", "sum(needle_collection_memory_bytes)",
     "gauge", (18, 8, 6, 8)),
    # Deviation from metrics.rs:967: the reference's panel queries
    # needle_search_results_total, a series its own registry never
    # emits; we point at the histogram that actually exists.
    (6, "Search Results per Query",
     "rate(needle_search_result_count_sum[5m]) / rate(needle_search_result_count_count[5m])",
     "timeseries", (0, 16, 12, 8)),
    # Deviation from metrics.rs: needle_http_requests_total is a
    # server-layer series neither the reference registry nor this port
    # emits; operations/sec is the series that exists.
    (7, "Operations per Second by Type",
     "sum by (operation) (rate(needle_operations_total[5m]))",
     "timeseries", (12, 16, 12, 8)),
)


def generate_grafana_dashboard(
    config: GrafanaDashboardConfig | None = None,
) -> str:
    """metrics.rs:921-1030 — same panels, PromQL, and templating."""
    config = config or GrafanaDashboardConfig()
    panels = [
        {
            "id": pid,
            "title": title,
            "type": ptype,
            "gridPos": {"x": x, "y": y, "w": w, "h": h},
            "datasource": {"type": "prometheus",
                           "uid": config.datasource_uid},
            "targets": [{"expr": expr, "refId": "A"}],
        }
        for pid, title, expr, ptype, (x, y, w, h) in _PANELS
    ]
    dashboard = {
        "annotations": {"list": []},
        "editable": True,
        "panels": panels,
        "refresh": config.refresh_interval,
        "schemaVersion": 38,
        "tags": ["needle", "vector-db"],
        "templating": {"list": [{
            "datasource": {"type": "prometheus",
                           "uid": config.datasource_uid},
            "definition": "label_values(needle_operations_total, collection)",
            "includeAll": True,
            "label": "Collection",
            "multi": True,
            "name": "collection",
            "query": {
                "query": "label_values(needle_operations_total, collection)"},
            "type": "query",
        }]},
        "time": {"from": "now-1h", "to": "now"},
        "title": config.title,
        "uid": config.uid,
        "version": 1,
    }
    return json.dumps(dashboard, indent=2)


# ------------------------------------------------------------ alerting


@dataclass
class AlertingConfig:
    """metrics.rs:1204-1222."""

    error_rate_threshold: float = 0.05
    latency_threshold_ms: float = 100.0
    memory_threshold_bytes: int = 8 * 1024 * 1024 * 1024


def generate_alerting_rules(config: AlertingConfig | None = None) -> str:
    """metrics.rs:1131-1200 — the same 5 rules as Prometheus YAML."""
    c = config or AlertingConfig()
    rules = (
        # sum by(): the error series carries an extra error_type
        # label, and PromQL one-to-one matching over mismatched label
        # sets returns empty — the alert would never fire
        ("NeedleHighErrorRate",
         f"sum by (collection, operation) "
         f"(rate(needle_errors_total[5m])) / "
         f"sum by (collection, operation) "
         f"(rate(needle_operations_total[5m]))"
         f" > {c.error_rate_threshold}",
         "5m", "warning", "High error rate in Needle operations"),
        ("NeedleHighLatency",
         "histogram_quantile(0.95, "
         "rate(needle_operation_duration_seconds_bucket[5m]))"
         f" > {c.latency_threshold_ms / 1000.0}",
         "5m", "warning", "High latency in Needle operations"),
        ("NeedleHighMemoryUsage",
         f"sum(needle_collection_memory_bytes) > {c.memory_threshold_bytes}",
         "10m", "warning", "High memory usage in Needle"),
        ("NeedleNoOperations",
         "rate(needle_operations_total[10m]) == 0",
         "15m", "info", "No Needle operations detected"),
        # Deviation: needle_index_health is never emitted (reference
        # included); gate on sustained total failure of searches instead
        ("NeedleIndexUnhealthy",
         'sum(rate(needle_errors_total{operation="search"}[5m])) > 0 and '
         'sum(rate(needle_operations_total{operation="search"}[5m])) == 0',
         "5m", "critical", "Needle index is unhealthy"),
    )
    body = "\n".join(
        f"""      - alert: {name}
        expr: {expr}
        for: {dur}
        labels:
          severity: {sev}
        annotations:
          summary: "{summary}\""""
        for name, expr, dur, sev, summary in rules
    )
    return f"groups:\n  - name: needle_alerts\n    rules:\n{body}\n"


# ------------------------------------------------------------- anomaly


@dataclass
class AnomalyResult:
    """metrics.rs:1319-1331."""

    is_anomaly: bool
    value: float
    mean: float
    std_dev: float
    z_score: float


class AnomalyDetector:
    """metrics.rs:1253-1316 — rolling-window z-score.  During warmup
    (window not yet full) nothing is anomalous; afterwards the window
    stats EXCLUDE the value under test (matching the reference's
    check-then-slide order)."""

    def __init__(self, window_size: int, threshold_sigmas: float):
        self.window: deque[float] = deque()
        self.window_size = window_size
        self.threshold_sigmas = threshold_sigmas

    def check(self, value: float) -> AnomalyResult:
        if len(self.window) < self.window_size:
            self.window.append(value)
            return AnomalyResult(False, value, value, 0.0, 0.0)
        mean = sum(self.window) / len(self.window)
        var = sum((x - mean) ** 2 for x in self.window) / len(self.window)
        std = math.sqrt(var)
        z = (value - mean) / std if std > 0 else 0.0
        self.window.popleft()
        self.window.append(value)
        return AnomalyResult(abs(z) > self.threshold_sigmas, value, mean,
                             std, z)

    def reset(self) -> None:
        self.window.clear()


# -------------------------------------------------- observability suite


#: Default latency bucket boundaries (µs) — observability.rs:13-16.
LATENCY_BUCKETS_US = (100.0, 500.0, 1_000.0, 2_500.0, 5_000.0, 10_000.0,
                      25_000.0, 50_000.0, 100_000.0)


class LatencyHistogram:
    """Cumulative latency histogram with interpolated percentiles —
    observability.rs:23-120."""

    def __init__(self, boundaries=LATENCY_BUCKETS_US):
        self.buckets = [[b, 0] for b in boundaries]
        self.total_count = 0
        self.sum_us = 0
        self.min_us = float("inf")
        self.max_us = 0

    def observe(self, latency_us: int) -> None:
        self.total_count += 1
        self.sum_us += latency_us
        self.min_us = min(self.min_us, latency_us)
        self.max_us = max(self.max_us, latency_us)
        for b in self.buckets:  # cumulative: every bound >= value counts
            if latency_us <= b[0]:
                b[1] += 1

    def percentile(self, p: float) -> float:
        """Linear interpolation across cumulative counts —
        observability.rs:66-90; beyond the last bucket returns the max
        observed."""
        if self.total_count == 0:
            return 0.0
        target = p * self.total_count
        prev_count, prev_bound = 0, 0.0
        for bound, count in self.buckets:
            if count >= target:
                in_bucket = count - prev_count
                if in_bucket == 0:
                    return prev_bound
                frac = (target - prev_count) / in_bucket
                return prev_bound + frac * (bound - prev_bound)
            prev_count, prev_bound = count, bound
        return float(self.max_us)

    def mean(self) -> float:
        return self.sum_us / self.total_count if self.total_count else 0.0

    def reset(self) -> None:
        for b in self.buckets:
            b[1] = 0
        self.total_count = 0
        self.sum_us = 0
        self.min_us = float("inf")
        self.max_us = 0


class RecallEstimator:
    """Jaccard-overlap recall of approximate vs exact result ids —
    observability.rs:124-188 (both-empty = 1.0, one-empty = 0.0)."""

    def __init__(self, sample_size: int = 100):
        self.sample_size = sample_size
        self.estimated_recall = 0.0
        self.confidence = 0.0
        self.last_measured: float | None = None

    def estimate(self, approximate, exact, *, now: float | None = None):
        ts = time.monotonic() if now is None else now
        self.last_measured = ts
        if not exact and not approximate:
            self.estimated_recall, self.confidence = 1.0, 1.0
        elif not exact or not approximate:
            self.estimated_recall, self.confidence = 0.0, 1.0
        else:
            a, e = set(approximate), set(exact)
            self.estimated_recall = len(a & e) / len(a | e)
            self.confidence = min(
                1.0, min(len(approximate), len(exact)) / self.sample_size)
        return self.estimated_recall

    def is_stale(self, max_age: float, *, now: float | None = None) -> bool:
        if self.last_measured is None:
            return True
        return ((time.monotonic() if now is None else now)
                - self.last_measured) > max_age


@dataclass
class AlertRule:
    """observability.rs:264-274.  metric one of query_latency_p99 |
    recall_estimate | fragmentation | memory_usage | drift_score |
    error_rate; condition ('gt'|'lt', x) or ('range', lo, hi)."""

    name: str
    metric: str
    condition: tuple
    severity: str = "warning"
    cooldown_seconds: float = 0.0
    last_fired: float | None = None


class ObservabilitySuite:
    """observability.rs:278-440: histograms + recall + health + alert
    evaluation with cooldowns."""

    def __init__(self):
        self.latency_histograms: dict[str, LatencyHistogram] = {}
        self.recall_estimator = RecallEstimator(100)
        # per-collection health (observability.rs:191-222, the
        # fields this port derives): fragmentation_ratio,
        # vector_count, memory_usage_bytes
        self.index_health: dict[str, SimpleNamespace] = {}
        self.alerts: list[dict] = []
        self.alert_rules: list[AlertRule] = []
        self.error_counts: dict[str, int] = {}
        self.drift_score: float | None = None

    def record_query_latency(self, collection: str, latency_us: int):
        self.latency_histograms.setdefault(
            collection, LatencyHistogram()).observe(latency_us)

    def record_error(self, collection: str, error_type: str) -> None:
        key = f"{collection}:{error_type}"
        self.error_counts[key] = self.error_counts.get(key, 0) + 1

    def update_index_health(self, collection: str,
                            health: SimpleNamespace) -> None:
        self.index_health[collection] = health

    def health_from_collection(self, collection) -> SimpleNamespace:
        """Derive real health from the catalog: fragmentation = delta
        segments beyond the first per version entry (auto-compaction's
        own trigger signal)."""
        entry = collection._entry(collection.version)
        segs = len(entry.get("segments", []) or [])
        dels = len(entry.get("tombstones", []) or [])
        frag = (segs + dels - 1) / (segs + dels) if segs + dels > 1 else 0.0
        h = SimpleNamespace(fragmentation_ratio=frag,
                            vector_count=collection.count(),
                            memory_usage_bytes=0)
        self.index_health[collection.path] = h
        return h

    def estimate_recall(self, approx, exact, *, now=None) -> float:
        return self.recall_estimator.estimate(approx, exact, now=now)

    def add_alert_rule(self, rule: AlertRule) -> None:
        self.alert_rules.append(rule)

    def set_drift_score(self, score: float) -> None:
        self.drift_score = score

    def _metric_value(self, metric: str) -> float | None:
        """observability.rs:345-379: p99/fragmentation = max across
        collections, memory = sum, error_rate = total count."""
        if metric == "query_latency_p99":
            vals = [h.percentile(0.99)
                    for h in self.latency_histograms.values()]
            return max(vals) if vals else None
        if metric == "recall_estimate":
            return self.recall_estimator.estimated_recall
        if metric == "fragmentation":
            vals = [h.fragmentation_ratio
                    for h in self.index_health.values()]
            return max(vals) if vals else None
        if metric == "memory_usage":
            vals = [h.memory_usage_bytes for h in self.index_health.values()]
            return float(sum(vals)) if vals else None
        if metric == "drift_score":
            return self.drift_score
        if metric == "error_rate":
            return float(sum(self.error_counts.values()))
        return None

    def check_alerts(self, *, now: float | None = None) -> list[dict]:
        """observability.rs:335-440 — evaluate every rule, respecting
        cooldowns; triggered alerts accumulate until acknowledged."""
        ts = time.monotonic() if now is None else now
        fired = []
        for rule in self.alert_rules:
            if (rule.last_fired is not None
                    and ts - rule.last_fired < rule.cooldown_seconds):
                continue
            value = self._metric_value(rule.metric)
            if value is None:
                continue
            kind = rule.condition[0]
            if kind == "gt":
                triggered, threshold = value > rule.condition[1], rule.condition[1]
            elif kind == "lt":
                triggered, threshold = value < rule.condition[1], rule.condition[1]
            elif kind == "range":
                lo, hi = rule.condition[1], rule.condition[2]
                triggered = value < lo or value > hi
                threshold = lo if value < lo else hi
            else:
                raise ValueError(f"unknown condition {kind!r}")
            if triggered:
                rule.last_fired = ts
                alert = {
                    "alert_id": f"{rule.name}-{len(self.alerts)}",
                    "severity": rule.severity,
                    "message": (f"Rule '{rule.name}' triggered: current "
                                f"value {value:.4f} crossed threshold "
                                f"{threshold:.4f}"),
                    "metric_name": rule.metric,
                    "current_value": value,
                    "threshold": threshold,
                    "triggered_at": ts,
                    "acknowledged": False,
                }
                self.alerts.append(alert)
                fired.append(alert)
        return fired

    def acknowledge_alert(self, alert_id: str) -> None:
        for a in self.alerts:
            if a["alert_id"] == alert_id:
                a["acknowledged"] = True


# ------------------------------------------------- embedded dashboard


@dataclass
class DashboardConfig:
    """observe/dashboard.rs:37-55."""

    window_size: int = 10_000
    slow_query_threshold_us: int = 50_000
    max_slow_queries: int = 100
    aggregation_interval_secs: int = 5
    enable_query_explain: bool = True


class MetricsAggregator:
    """Rolling-window metrics for the embedded dashboard —
    observe/dashboard.rs:191-382: record_query with bounded window +
    slow-query capture, insert/delete counters, exact window
    percentiles (sorted index, reference's formulas), QPS over the
    last aggregation interval, bounded explain log, snapshot."""

    def __init__(self, config: DashboardConfig | None = None):
        self.config = config or DashboardConfig()
        self._latencies: deque[tuple[float, str, int, str]] = deque()
        # timestamped so rates are computed over the interval, not as
        # lifetime totals; bounded like the latency window
        self._inserts: deque[float] = deque()
        self._deletes: deque[float] = deque()
        self.slow_queries: deque[dict] = deque()
        self.explains: deque[dict] = deque()
        self.query_count = 0
        self.insert_count = 0
        self.delete_count = 0

    def record_query(self, collection: str, latency_us: int,
                     result_count: int = 0,
                     *, now: float | None = None) -> None:
        ts = time.monotonic() if now is None else now
        self._latencies.append((ts, "search", latency_us, collection))
        while len(self._latencies) > self.config.window_size:
            self._latencies.popleft()
        self.query_count += 1
        if latency_us > self.config.slow_query_threshold_us:
            self.slow_queries.append({
                "timestamp": ts, "collection": collection,
                "duration_us": latency_us, "result_count": result_count,
            })
            while len(self.slow_queries) > self.config.max_slow_queries:
                self.slow_queries.popleft()

    def record_insert(self, collection: str,
                      *, now: float | None = None) -> None:
        self.insert_count += 1
        self._inserts.append(time.monotonic() if now is None else now)
        while len(self._inserts) > self.config.window_size:
            self._inserts.popleft()

    def record_delete(self, collection: str,
                      *, now: float | None = None) -> None:
        self.delete_count += 1
        self._deletes.append(time.monotonic() if now is None else now)
        while len(self._deletes) > self.config.window_size:
            self._deletes.popleft()

    def record_explain(self, explain: dict) -> None:
        if self.config.enable_query_explain:
            self.explains.append(explain)
            while len(self.explains) > 50:
                self.explains.popleft()

    def latency_percentiles(self) -> dict:
        """observe/dashboard.rs:279-310 — exact over the window."""
        vals = sorted(v for _, _, v, _ in self._latencies)
        if not vals:
            return {k: 0 for k in ("min_us", "p50_us", "p90_us", "p95_us",
                                   "p99_us", "max_us", "avg_us", "count")}
        n = len(vals)
        return {
            "min_us": vals[0],
            "p50_us": vals[n // 2],
            "p90_us": vals[int(n * 0.9)] if int(n * 0.9) < n else vals[-1],
            "p95_us": vals[int(n * 0.95)] if int(n * 0.95) < n else vals[-1],
            "p99_us": vals[min(int(n * 0.99), n - 1)],
            "max_us": vals[-1],
            "avg_us": sum(vals) // n,
            "count": n,
        }

    def current_qps(self, *, now: float | None = None) -> dict:
        """observe/dashboard.rs:313-340 — searches in the last
        aggregation interval / interval length."""
        ts = time.monotonic() if now is None else now
        window = float(self.config.aggregation_interval_secs)
        recent = sum(1 for t, op, _, _ in self._latencies
                     if t >= ts - window and op == "search")
        ins = sum(1 for t in self._inserts if t >= ts - window)
        dels = sum(1 for t in self._deletes if t >= ts - window)
        return {"timestamp": ts, "qps": recent / window,
                "insert_rate": ins / window,
                "delete_rate": dels / window}

    def snapshot(self, *, now: float | None = None) -> dict:
        return {
            "latency": self.latency_percentiles(),
            "qps": self.current_qps(now=now),
            "slow_queries": list(self.slow_queries),
            "explains": list(self.explains),
            "totals": {"queries": self.query_count,
                       "inserts": self.insert_count,
                       "deletes": self.delete_count},
        }


def generate_dashboard_html(snapshot: dict) -> str:
    """Self-contained single-page dashboard (no external CDN) —
    observe/dashboard.rs:385+."""
    import html as _html

    lat = snapshot["latency"]
    qps = snapshot["qps"]
    rows = "".join(
        f"<tr><td>{_html.escape(str(q['collection']))}</td>"
        f"<td>{int(q['duration_us'])}</td>"
        f"<td>{int(q['result_count'])}</td></tr>"
        for q in snapshot["slow_queries"][-20:])
    return f"""<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>needle-spark dashboard</title>
<style>
body{{font-family:system-ui,sans-serif;margin:2rem;background:#fafafa}}
.card{{display:inline-block;margin:.5rem;padding:1rem 1.5rem;
background:#fff;border:1px solid #ddd;border-radius:8px}}
.metric{{font-size:1.6rem;font-weight:600}}
table{{border-collapse:collapse;background:#fff}}
td,th{{border:1px solid #ddd;padding:.3rem .8rem;font-size:.9rem}}
</style></head><body>
<h1>needle-spark</h1>
<div class="card"><div>QPS</div><div class="metric">{qps['qps']:.1f}</div></div>
<div class="card"><div>p50 &micro;s</div><div class="metric">{lat['p50_us']}</div></div>
<div class="card"><div>p99 &micro;s</div><div class="metric">{lat['p99_us']}</div></div>
<div class="card"><div>queries</div><div class="metric">{snapshot['totals']['queries']}</div></div>
<h2>Slow queries</h2>
<table><tr><th>collection</th><th>&micro;s</th><th>results</th></tr>{rows}</table>
</body></html>"""
