"""Operational metrics: one registry of Prometheus-format counters,
gauges and histograms that also keeps the embedded dashboard's rolling
window, Grafana dashboard + alerting-rule generation, and a rolling
sigma-threshold anomaly detector.

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
threshold, warmup passes), AnomalyResult (:1319-1331).  Embedded
dashboard: src/observe/dashboard.rs (:37-55 defaults, :191-340
window, slow-query log, exact percentiles, QPS; :385+ HTML).
IngestionMetrics counters (:150-261) are covered by
streaming/reliability.py.

Altitude: metrics are O(metric-series), not O(data) — the registry is
plain driver-side state.  The only data-touching helper,
`update_from_collection`, derives the collection gauges in-process, with
no Spark job: the live count from the segments' id columns, the deleted
count from the tombstones' Parquet footers."""

from __future__ import annotations

import json
import math
import os
import threading
import time
from collections import deque
from contextlib import contextmanager
from dataclasses import dataclass
from types import SimpleNamespace

#: Histogram bucket sets — metrics.rs:393-414.
DURATION_BUCKETS = (0.0001, 0.0005, 0.001, 0.005, 0.01, 0.05, 0.1, 0.5, 1.0)
SEARCH_RESULT_BUCKETS = (1.0, 5.0, 10.0, 20.0, 50.0, 100.0, 500.0, 1000.0)

#: Embedded-dashboard defaults — observe/dashboard.rs:37-55: searches
#: kept for the percentiles, the slow-search threshold, the slow-query
#: log bound and the QPS interval.
DASHBOARD_WINDOW = 10_000
SLOW_QUERY_US = 50_000
MAX_SLOW_QUERIES = 100
QPS_INTERVAL_S = 5


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
    :588-597 — plus the embedded dashboard's window of recent searches
    and slow-query log (observe/dashboard.rs:191-340).  One lock guards
    every recording, the dashboard snapshot and the export: the REST
    server records from many handler threads at once."""

    #: time source of operation durations and dashboard timestamps
    clock = staticmethod(time.monotonic)

    def __init__(self):
        self._lock = threading.RLock()
        self.counters: dict[tuple, float] = {}
        self.gauges: dict[tuple, float] = {}
        self.histograms: dict[tuple, _Histogram] = {}
        # (timestamp, latency_us) of recent searches; slow searches
        self._searches: deque[tuple[float, int]] = deque(
            maxlen=DASHBOARD_WINDOW)
        self.slow_queries: deque[dict] = deque(maxlen=MAX_SLOW_QUERIES)
        self.search_total = 0

    # -- recording --

    def inc(self, name: str, labels: dict[str, str], by: float = 1.0) -> None:
        key = (name, tuple(sorted(labels.items())))
        with self._lock:
            self.counters[key] = self.counters.get(key, 0.0) + by

    def set_gauge(self, name: str, labels: dict[str, str], value: float) -> None:
        key = (name, tuple(sorted(labels.items())))
        with self._lock:
            self.gauges[key] = float(value)

    def observe(self, name: str, labels: dict[str, str], value: float,
                buckets=DURATION_BUCKETS) -> None:
        key = (name, tuple(sorted(labels.items())))
        with self._lock:
            if key not in self.histograms:
                self.histograms[key] = _Histogram(buckets)
            self.histograms[key].observe(value)

    @contextmanager
    def operation(self, collection: str, operation: str):
        """metrics.rs:505-517, :600-614 — times the body (a context
        manager instead of Drop) and records it on exit, also when the
        body raises: needle_operations_total, the duration histogram
        and, for a raise, needle_errors_total by exception type.  A
        search body sets `op.results` to its result count, which feeds
        needle_search_result_count and the dashboard window.  A failure
        while recording never changes the body's outcome."""
        op = SimpleNamespace(results=None)
        error = None
        start = self.clock()
        try:
            yield op
        except Exception as e:
            error = type(e).__name__
            raise
        finally:
            try:
                self._record(collection, operation, op.results, error,
                             start, self.clock())
            except Exception:  # noqa: BLE001 — metrics must not fail ops
                pass

    def _record(self, collection: str, operation: str, results: int | None,
                error: str | None, start: float, end: float) -> None:
        labels = {"collection": collection, "operation": operation}
        with self._lock:
            self.inc("needle_operations_total", labels)
            if error is not None:
                self.error(collection, operation, error)
            self.observe("needle_operation_duration_seconds", labels,
                         end - start)
            if results is None:
                return
            self.record_search_results(collection, results)
            us = round((end - start) * 1e6)
            self._searches.append((end, us))
            self.search_total += 1
            if us > SLOW_QUERY_US:
                self.slow_queries.append({
                    "timestamp": end, "collection": collection,
                    "duration_us": us, "result_count": results})

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

    def update_memory(self, collection: str, index: int) -> None:
        """metrics.rs:574-586, kind="index" only.  Deviation: the
        reference also reports kind="vectors" and kind="metadata", the
        bytes of its in-memory collection; here a collection's rows live
        in Parquet segments, not in process memory, so only a serving
        index's resident bytes are reported."""
        self.set_gauge("needle_collection_memory_bytes",
                       {"collection": collection, "kind": "index"}, index)

    def update_from_collection(self, collection, index=None) -> None:
        """Derive the collection gauges from the real catalog state,
        in-process and with no Spark job: the live count reads the
        segments' id columns (Collection._live_count), and deleted
        vectors are the rows of the current version's tombstone
        objects, which await compaction, counted from Parquet footers.
        `index` is the collection's serving index, if any: its
        memory_bytes() is the kind="index" memory gauge (0 without)."""
        import pyarrow.dataset as ds

        tombs = collection._entry(collection.version)["tombstones"]
        deleted = sum(
            ds.dataset(os.path.join(collection.path, t),
                       format="parquet").count_rows()
            for t, _ in tombs)
        name = collection.path.rstrip("/").rsplit("/", 1)[-1]
        self.update_collection(name, vectors=collection._live_count(),
                               deleted=deleted, dims=collection.dims)
        self.update_memory(
            name, 0 if index is None else index.memory_bytes())

    # -- export --

    def dashboard(self) -> dict:
        """What /dashboard shows — observe/dashboard.rs:279-340: exact
        p50/p99 over the window (the reference's index formulas),
        searches per second over the last QPS interval, the search
        total and the slow-query log."""
        with self._lock:
            now = self.clock()
            vals = sorted(us for _, us in self._searches)
            recent = sum(1 for t, _ in self._searches
                         if t >= now - QPS_INTERVAL_S)
            total, slow = self.search_total, list(self.slow_queries)
        n = len(vals)
        return {"qps": recent / QPS_INTERVAL_S,
                "p50_us": vals[n // 2] if n else 0,
                "p99_us": vals[min(int(n * 0.99), n - 1)] if n else 0,
                "queries": total, "slow_queries": slow}

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

        with self._lock:
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


def generate_dashboard_html(snapshot: dict) -> str:
    """Self-contained single-page dashboard (no external CDN) over
    `MetricsRegistry.dashboard()` — observe/dashboard.rs:385+."""
    import html as _html

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
<div class="card"><div>QPS</div><div class="metric">{snapshot['qps']:.1f}</div></div>
<div class="card"><div>p50 &micro;s</div><div class="metric">{snapshot['p50_us']}</div></div>
<div class="card"><div>p99 &micro;s</div><div class="metric">{snapshot['p99_us']}</div></div>
<div class="card"><div>queries</div><div class="metric">{snapshot['queries']}</div></div>
<h2>Slow queries</h2>
<table><tr><th>collection</th><th>&micro;s</th><th>results</th></tr>{rows}</table>
</body></html>"""
