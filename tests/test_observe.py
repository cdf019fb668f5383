"""Operational metrics — metrics.rs parity: registry + timers +
Prometheus export, the embedded dashboard's window (dashboard.rs),
Grafana/alerting generation, anomaly detection."""

import json
import sys
import threading

import pytest

from needle_spark.catalog import Collection
from needle_spark.observe import (
    DASHBOARD_WINDOW,
    MAX_SLOW_QUERIES,
    QPS_INTERVAL_S,
    SLOW_QUERY_US,
    AlertingConfig,
    AnomalyDetector,
    GrafanaDashboardConfig,
    MetricsRegistry,
    generate_alerting_rules,
    generate_dashboard_html,
    generate_grafana_dashboard,
)


def test_counters_and_errors_export():
    m = MetricsRegistry()
    with m.operation("docs", "insert"):
        pass
    with m.operation("docs", "insert"):
        pass
    m.error("docs", "insert", "dimension_mismatch")
    text = m.export()
    assert 'needle_operations_total{collection="docs",operation="insert"} 2' in text
    assert ('needle_errors_total{collection="docs",'
            'error_type="dimension_mismatch",operation="insert"} 1') in text
    assert "# TYPE needle_operations_total counter" in text


def test_histogram_buckets_cumulative():
    m = MetricsRegistry()
    m.record_search_results("docs", 3)
    m.record_search_results("docs", 7)
    m.record_search_results("docs", 5000)  # beyond the largest bucket
    text = m.export()
    # buckets are cumulative; 3 <= 5, 7 <= 10, 5000 -> +Inf only
    assert 'le="5"} 1' in text
    assert 'le="10"} 2' in text
    assert 'le="+Inf"} 3' in text
    assert 'needle_search_result_count_count{collection="docs"} 3' in text


def test_operation_timer_records_duration():
    m = MetricsRegistry()
    with m.operation("docs", "search"):
        pass
    key = next(k for k in m.histograms
               if k[0] == "needle_operation_duration_seconds")
    h = m.histograms[key]
    assert h.n == 1 and h.total >= 0.0


def test_collection_gauges_from_real_collection(spark, tmp_path):
    coll = Collection.create(spark, str(tmp_path / "c"), dims=3)
    coll.insert(spark.createDataFrame(
        [("a", [1.0, 0.0, 0.0]), ("b", [0.0, 1.0, 0.0])],
        "id string, vector array<float>"))
    m = MetricsRegistry()
    m.update_from_collection(coll)
    text = m.export()
    assert 'needle_collection_vectors_total{collection="c"} 2' in text
    assert 'needle_collection_dimensions{collection="c"} 3' in text


def test_grafana_dashboard_shape():
    out = json.loads(generate_grafana_dashboard(
        GrafanaDashboardConfig(title="T", uid="u1", datasource_uid="ds",
                               refresh_interval="5s")))
    assert out["title"] == "T" and out["uid"] == "u1"
    assert out["refresh"] == "5s"
    assert len(out["panels"]) == 7
    exprs = [p["targets"][0]["expr"] for p in out["panels"]]
    assert "rate(needle_operations_total[5m])" in exprs
    assert any("histogram_quantile(0.95" in e for e in exprs)
    tmpl = out["templating"]["list"][0]
    assert tmpl["name"] == "collection"
    assert tmpl["datasource"]["uid"] == "ds"


def test_alerting_rules_yaml():
    yaml = generate_alerting_rules(AlertingConfig(
        error_rate_threshold=0.1, latency_threshold_ms=250.0,
        memory_threshold_bytes=1024))
    assert "NeedleHighErrorRate" in yaml and "> 0.1" in yaml
    assert "NeedleHighLatency" in yaml and "> 0.25" in yaml
    assert "NeedleHighMemoryUsage" in yaml and "> 1024" in yaml
    assert "NeedleNoOperations" in yaml and "NeedleIndexUnhealthy" in yaml
    assert yaml.startswith("groups:")
    # default thresholds — metrics.rs:1215-1221
    dflt = generate_alerting_rules()
    assert "> 0.05" in dflt and "> 0.1\n" in dflt.replace("for: ", "")


def test_anomaly_detector_warmup_and_flag():
    det = AnomalyDetector(window_size=5, threshold_sigmas=3.0)
    # warmup: never anomalous — metrics.rs:1274-1283
    for v in (10.0, 10.5, 9.5, 10.2, 9.8):
        assert det.check(v).is_anomaly is False
    normal = det.check(10.1)
    assert normal.is_anomaly is False and abs(normal.z_score) < 3
    spike = det.check(100.0)
    assert spike.is_anomaly is True and spike.z_score > 3
    assert spike.mean == pytest.approx(10.02, abs=0.2)
    det.reset()
    assert det.check(1000.0).is_anomaly is False  # warmup again


def test_anomaly_zero_variance():
    det = AnomalyDetector(window_size=3, threshold_sigmas=2.0)
    for _ in range(3):
        det.check(5.0)
    r = det.check(5.0)
    assert r.std_dev == 0.0 and r.z_score == 0.0 and not r.is_anomaly


def test_export_single_type_line_and_escaping():
    m = MetricsRegistry()
    m.inc("needle_operations_total", {"collection": "a", "operation": "x"})
    m.inc("needle_operations_total", {"collection": "b", "operation": "x"})
    m.inc("needle_operations_total", {"collection": 'we"ird\\nm'})
    text = m.export()
    assert text.count("# TYPE needle_operations_total counter") == 1
    assert 'we\\"ird' in text  # quotes escaped


def test_fragmentation_counts_tombstones(spark, tmp_path):
    """needle_collection_deleted_vectors is the row count of the current
    version's tombstones: the deletes awaiting compaction."""
    coll = Collection.create(spark, str(tmp_path / "tf"), dims=2)
    coll.insert(spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "id string, vector array<float>"))
    coll.compact()
    coll.delete(ids=["a"])  # tombstone-only mutation
    m = MetricsRegistry()
    m.update_from_collection(coll)
    text = m.export()
    assert 'needle_collection_deleted_vectors{collection="tf"} 1' in text
    assert 'needle_collection_vectors_total{collection="tf"} 1' in text
    coll.compact()
    m.update_from_collection(coll)
    assert ('needle_collection_deleted_vectors{collection="tf"} 0'
            in m.export())


def test_concurrent_recording_keeps_every_increment():
    """The REST server records from many handler threads: no counter
    increment, histogram sample or dashboard search may be lost."""
    m = MetricsRegistry()
    threads, n = 8, 20_000
    labels = {"collection": "c", "operation": "x"}

    def work():
        for _ in range(n):
            m.inc("needle_operations_total", labels)
        for _ in range(n // 10):
            with m.operation("c", "search") as op:
                op.results = 1

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        pool = [threading.Thread(target=work) for _ in range(threads)]
        for t in pool:
            t.start()
        for t in pool:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in pool)
    assert m.counters[("needle_operations_total",
                       tuple(sorted(labels.items())))] == threads * n
    text = m.export()
    ops = threads * n // 10
    assert (f'needle_operations_total{{collection="c",operation="search"}}'
            f' {ops}') in text
    assert (f'needle_operation_duration_seconds_count{{collection="c",'
            f'operation="search"}} {ops}') in text
    assert f'needle_search_result_count_count{{collection="c"}} {ops}' in text
    assert m.dashboard()["queries"] == ops


def test_operation_counts_errors_and_reraises():
    m = MetricsRegistry()
    with pytest.raises(KeyError):
        with m.operation("docs", "search") as op:
            raise KeyError("vector")
    assert op.results is None
    text = m.export()
    assert 'needle_operations_total{collection="docs",operation="search"} 1' \
        in text
    assert ('needle_errors_total{collection="docs",error_type="KeyError",'
            'operation="search"} 1') in text
    assert ('needle_operation_duration_seconds_count{collection="docs",'
            'operation="search"} 1') in text
    assert m.dashboard()["queries"] == 0  # failed searches stay out


def test_operation_recording_failure_keeps_outcome(monkeypatch):
    m = MetricsRegistry()

    def boom(*a, **k):
        raise RuntimeError("metrics bug")

    monkeypatch.setattr(m, "observe", boom)
    with m.operation("docs", "search") as op:
        op.results = 3
    with pytest.raises(ValueError, match="bad body"):
        with m.operation("docs", "search"):
            raise ValueError("bad body")


def test_dashboard_queries_reference_real_series():
    out = generate_grafana_dashboard()
    assert "needle_search_results_total" not in out  # never-emitted series
    assert "needle_search_result_count_sum" in out


# ------------------------------------------------- embedded dashboard


def _search(reg, us, *, at, coll="docs", results=0):
    """Record one search of `us` microseconds that ends at clock `at`."""
    ticks = iter((at - us / 1e6, at))
    reg.clock = lambda: next(ticks)
    with reg.operation(coll, "search") as op:
        op.results = results


def _dashboard(reg, now):
    reg.clock = lambda: now
    return reg.dashboard()


def test_metrics_aggregator_window_and_slow_log():
    reg = MetricsRegistry()
    for i, us in enumerate((100, 200, 5000, 9000, 7000)):
        _search(reg, us, at=float(i), results=i)
    d = _dashboard(reg, 10.0)
    # exact window percentiles, the reference's index formulas
    assert d["p50_us"] == 5000 and d["p99_us"] == 9000
    assert d["queries"] == 5 and d["slow_queries"] == []

    # the slow log keeps the newest MAX_SLOW_QUERIES searches strictly
    # above SLOW_QUERY_US; the window keeps the newest DASHBOARD_WINDOW
    reg = MetricsRegistry()
    _search(reg, SLOW_QUERY_US, at=0.0)  # at the threshold: not slow
    slow = [SLOW_QUERY_US + 1 + i for i in range(MAX_SLOW_QUERIES + 2)]
    for us in slow:
        _search(reg, us, at=1.0, results=us % 7)
    for _ in range(DASHBOARD_WINDOW):
        _search(reg, 100, at=2.0)
    d = _dashboard(reg, 2.0)
    assert d["queries"] == 1 + len(slow) + DASHBOARD_WINDOW
    assert [q["duration_us"] for q in d["slow_queries"]] == slow[2:]
    assert d["slow_queries"][-1] == {
        "timestamp": 1.0, "collection": "docs",
        "duration_us": slow[-1], "result_count": slow[-1] % 7}
    # every slow search has left the window
    assert d["p50_us"] == 100 and d["p99_us"] == 100


def test_qps_over_interval():
    reg = MetricsRegistry()
    for t in (0.0, 1.0, 2.0, 100.0, 101.0):
        _search(reg, 10, at=t, coll="c")
    d = _dashboard(reg, 102.0)
    assert d["qps"] == pytest.approx(2 / QPS_INTERVAL_S)  # the last two


def test_snapshot_and_html():
    reg = MetricsRegistry()
    _search(reg, 90_000, at=1.0, results=7)
    snap = _dashboard(reg, 2.0)
    assert snap["queries"] == 1
    assert snap["slow_queries"][0]["result_count"] == 7
    html = generate_dashboard_html(snap)
    assert html.startswith("<!DOCTYPE html>")
    assert "needle-spark" in html and "90000" in html
    assert "http://" not in html and "https://" not in html  # no CDN


def test_dashboard_html_escapes_names():
    reg = MetricsRegistry()
    _search(reg, SLOW_QUERY_US + 1, at=1.0, coll="<script>evil()</script>")
    html = generate_dashboard_html(_dashboard(reg, 2.0))
    assert "<script>evil" not in html
    assert "&lt;script&gt;" in html
