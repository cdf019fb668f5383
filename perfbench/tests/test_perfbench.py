"""Tests of the benchmark's own logic: the percentile rule, self time of
nested spans, lateness accounting of the open-loop generator, event
log parsing (on a fixture cut from a real traced run), the operation
error ratio, the exact-distance oracle and the declared metric names.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
import threading
import time
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import common  # noqa: E402
import eventlog  # noqa: E402
import layers  # noqa: E402
import loadgen  # noqa: E402
import tracing  # noqa: E402

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_sample.jsonl"


# ------------------------------------------------------- percentile rule --

def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert common.percentile(xs, 50) == 50
    assert common.percentile(xs, 99) == 99
    assert common.percentile(xs, 100) == 100
    assert common.percentile([7.0], 99.9) == 7.0
    with pytest.raises(ValueError):
        common.percentile([], 50)


@pytest.mark.parametrize("n, expected", [
    (10_000, 99.9), (1000, 99.0), (999, 95.0), (200, 95.0), (199, 90.0),
    (100, 90.0), (40, 75.0), (39, 50.0), (20, 50.0), (19, None), (1, None),
])
def test_tail_is_highest_ladder_percentile_with_ten_beyond(n, expected):
    assert common.tail_percentile(n) == expected
    if expected is not None:
        rank = -(-int(expected * 10) * n // 1000)  # ceil(p/100 * n)
        assert n - rank >= common.TAIL_MIN_BEYOND


def test_tail_falls_back_to_max_with_label():
    assert common.tail([3.0, 1.0, 2.0]) == (3.0, "max")
    xs = [float(i) for i in range(1000)]
    assert common.tail(xs) == (989.0, "p99")
    s = common.summarize(xs)
    assert s["n"] == 1000 and s["tail_pct"] == "p99"
    assert s["p50"] == pytest.approx(499.5)


# ------------------------------------------------------------- self time --

def span(sid, parent, t0, t1, layer="x"):
    return {"id": sid, "parent": parent, "t0": t0, "t1": t1,
            "layer": layer, "name": sid}


def test_self_time_subtracts_union_of_children():
    spans = [span("r", None, 0, 10, "root"),
             span("a", "r", 1, 4, "catalog"),
             span("b", "r", 3, 6, "plans.ivf"),   # overlaps a
             span("g", "a", 2, 3, "catalog")]
    st = tracing.self_times(spans)
    assert st["r"] == pytest.approx(5.0)   # 10 - |[1,6]|
    assert st["a"] == pytest.approx(2.0)   # 3 - 1
    assert st["b"] == pytest.approx(3.0)
    assert st["g"] == pytest.approx(1.0)


def test_layer_breakdown_adds_up_to_root_wall():
    spans = [span("r", None, 0.0, 10.0, "loadgen"),
             span("d", "r", 1.0, 9.0, "server"),
             span("c", "d", 2.0, 6.0, "catalog"),
             span("i", "d", 6.5, 9.5, "plans.ivf"),  # outlasts its parent
             span("x", "c", 3.0, 4.0, "catalog")]
    out = tracing.layer_breakdown(spans)
    assert set(out) == {"r"}
    parts = out["r"]
    assert sum(parts.values()) == pytest.approx(10.0)
    assert parts["unattributed"] == pytest.approx(2.0)
    assert parts["catalog"] == pytest.approx(4.0)
    assert parts["plans.ivf"] == pytest.approx(2.5)   # clipped to 9.0
    assert parts["server"] == pytest.approx(1.5)


def test_tracer_nests_by_thread_and_explicit_parent():
    tr = tracing.Tracer(prefix="t")

    class Owner:
        def outer(self):
            return self.inner()

        def inner(self):
            return 42

    tr.wrap(Owner, "outer", "outer", "a")
    tr.wrap(Owner, "inner", "inner", "b")
    assert Owner().outer() == 42
    with tr.span("root", "loadgen", parent="c7"):
        pass
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["inner"]["parent"] == by_name["outer"]["id"]
    assert by_name["outer"]["parent"] is None
    assert by_name["root"]["parent"] == "c7"
    assert all(s["t1"] >= s["t0"] for s in tr.spans)


def test_tracer_restores_spark_tag_of_enclosing_span():
    tags = [None]

    def set_tag(v):
        prev = tags[-1]
        tags.append(v)
        return prev

    tr = tracing.Tracer(prefix="t", set_spark_tag=set_tag)
    with tr.span("outer", "a", tag_spark=True) as o:
        with tr.span("inner", "b", tag_spark=True) as i:
            assert tags[-1] == i["id"]
        assert tags[-1] == o["id"]
    assert tags[-1] is None
    assert all(s.get("spark") for s in tr.spans)


# ---------------------------------------------------- lateness accounting --

class SlowClient:
    """Stands in for loadgen.Client: every call takes `service` s."""

    def __init__(self, service: float):
        self.service = service
        self._n = 0
        self._lock = threading.Lock()

    def next_rid(self):
        with self._lock:
            self._n += 1
            return self._n

    def call(self, method, path, body=None, rid=None):
        time.sleep(self.service)
        return 200, {}, 0


def test_open_loop_charges_queueing_to_requests_behind_a_stall():
    service = 0.05
    schedule = [{"due": 0.0} for _ in range(4)]
    t0 = time.perf_counter() + 0.05
    recs = loadgen.run_open_loop(
        SlowClient(service), schedule, lambda it: ("op", "GET", "/", None),
        workers=1, t0=t0, keep_going=lambda due: True)
    recs.sort(key=lambda r: r["sent"])
    late = loadgen.lateness(recs)
    lat = loadgen.latency_from_due(recs)
    # one worker, all due at once: the i-th request waits i services
    for i, (lt, la) in enumerate(zip(late, lat)):
        assert lt == pytest.approx(i * service, abs=0.03)
        assert la == pytest.approx(lt + service, abs=0.03)
        assert la >= (i + 1) * service * 0.9


def test_open_loop_on_time_when_capacity_suffices():
    schedule = [{"due": 0.02 * i} for i in range(5)]
    t0 = time.perf_counter() + 0.05
    recs = loadgen.run_open_loop(
        SlowClient(0.001), schedule, lambda it: ("op", "GET", "/", None),
        workers=2, t0=t0, keep_going=lambda due: True)
    assert len(recs) == 5
    assert max(loadgen.lateness(recs)) < 0.015


def test_open_loop_stops_when_told():
    schedule = [{"due": 0.001 * i} for i in range(10)]
    recs = loadgen.run_open_loop(
        SlowClient(0.0), schedule, lambda it: ("op", "GET", "/", None),
        workers=2, t0=time.perf_counter(),
        keep_going=lambda due: due < 0.005)
    assert len(recs) == 5


# -------------------------------------------------------------- event log --

def test_event_log_fixture_parses_to_stage_records():
    events = list(eventlog.read_events(FIXTURE))
    stages = eventlog.stage_records(events)
    jobs = eventlog.job_records(events)
    assert stages and jobs
    tagged = [s for s in stages if s["span"]]
    assert tagged, "the fixture holds jobs tagged with a span id"
    for s in stages:
        assert s["job"] is not None
        assert s["complete_ms"] >= s["submit_ms"]
        assert s["tasks"] >= 1
        assert s["executor_run_ms"] >= 0 and s["cpu_ms"] >= 0
        assert s["failed_tasks"] == 0
    # the fixture's kernels run in Arrow Python workers
    assert sum(s["python_run_ms"] for s in stages) > 0
    assert sum(s["python_bytes_sent"] for s in stages) > 0
    # every job in the fixture reaches at least one completed stage
    assert {s["job"] for s in stages} <= {j["job"] for j in jobs}


def test_event_log_counts_failed_tasks_and_skips_torn_line(tmp_path):
    lines = FIXTURE.read_text().splitlines()
    first = next(eventlog.stage_records(
        eventlog.read_events(FIXTURE)).__iter__())
    failed = ('{"Event":"SparkListenerTaskEnd","Stage ID":%d,'
              '"Task End Reason":{"Reason":"ExceptionFailure"}}'
              % first["stage"])
    p = tmp_path / "log"
    p.write_text("\n".join(lines + [failed]) + '\n{"Event": "Spark')
    stages = eventlog.stage_records(eventlog.read_events(p))
    again = next(s for s in stages if s["stage"] == first["stage"])
    assert again["failed_tasks"] == 1


def test_stages_attributed_to_tagged_span_or_enclosing_capable_span():
    spans = [{"id": "e1", "t0": 10.0, "t1": 12.0, "spark": True},
             {"id": "e2", "t0": 10.5, "t1": 11.0, "spark": True},
             {"id": "e3", "t0": 20.0, "t1": 21.0}]
    stages = [{"span": "e1", "submit_ms": 99_000.0},
              {"span": None, "submit_ms": 10_700.0},   # inside e1 and e2
              {"span": None, "submit_ms": 20_500.0}]   # e3 cannot run Spark
    got = layers.attribute_stages(stages, spans, epoch_minus_perf=0.0)
    assert [s["submit_ms"] for s in got["e1"]] == [99_000.0]
    assert [s["submit_ms"] for s in got["e2"]] == [10_700.0]
    assert "e3" not in got


# ------------------------------------------------------------ checks, oracle --

def test_error_ratio_counts_failed_operations_not_checks():
    import run

    c = run.Checks()
    c.op(1, True, "ok")
    c.op(2, False, "HTTP 500")
    c.op(3, True, "ok")
    c.op(3, False, "row outside the filter")  # a second check of op 3
    c.op(3, False, "wrong order")             # still one failed operation
    c.op(4, True, "ok")
    c.expect(False, "recall too low")         # a whole-run check
    assert c.error_ratio() == pytest.approx(2 / 4)
    assert (c.attempted(), c.failed()) == (5, 3)
    assert len(c.notes) == 4


def test_exact_kth_matches_brute_force_with_and_without_tag():
    import numpy as np

    import workloads

    rng = np.random.default_rng(0)
    X = rng.integers(0, 256, (500, 16)).astype(np.float32)
    Q = rng.integers(0, 256, (5, 16)).astype(np.float32)
    tags = rng.integers(0, 3, 500)
    keys = {(q, tag) for q in range(5) for tag in (None, 0, 2)}
    got = workloads.exact_kth_l2(X, Q, tags, keys, k=10, chunk=2)
    for q, tag in keys:
        d = np.sqrt(((X.astype(np.float64) - Q[q]) ** 2).sum(axis=1))
        if tag is not None:
            d = d[tags == tag]
        assert got[(q, tag)] == np.sort(d)[9]


def test_per_layer_metrics_are_exactly_the_declared_ones():
    m, breakdown = layers.compute([], [], [], [], 0.0, (0.0, 1.0), None, {})
    assert list(m) == list(common.metric_units("per_layer"))
    assert breakdown == {}


def test_phase_lengths_follow_time_order():
    import run

    got = run.phase_lengths({"b": 3.0, "a": 1.0, "c": 3.5})
    assert got == {"a..b": 2.0, "b..c": 0.5}
