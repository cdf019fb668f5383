"""Per-layer metrics of a traced run.

Input: the run's root spans (one per user operation: REST requests
timed by the load generator, or the in-process batch client's calls),
the engine's spans and the per-stage records parsed from Spark's event
log.  Output: the flat per-layer metric dict the benchmark prints, and
a per-op-class breakdown ("where the time goes") kept in the artifact.
"""

from __future__ import annotations

from common import median_or_zero, metric_units, tail
from eventlog import STAGE_FIELDS
from tracing import clip_to_parents, layer_breakdown, union_length
from workloads import BATCH_OPS, WRITE_CYCLE as WRITE_OPS

def _ms(spans, name, roots=None) -> list[float]:
    """Durations (ms) of the spans called `name`, optionally only those
    under root operations of the kinds in `roots` (a dict span id ->
    root op kind, and the kinds)."""
    if roots is None:
        return [(s["t1"] - s["t0"]) * 1e3 for s in spans if s["name"] == name]
    op_of_span, kinds = roots
    return [(s["t1"] - s["t0"]) * 1e3 for s in spans
            if s["name"] == name and op_of_span.get(s["id"]) in kinds]


def _tail_ms(values) -> float:
    return tail(values)[0] if values else 0.0


def attribute_stages(stages, spans, epoch_minus_perf: float) -> dict:
    """span id -> stage records.  A stage goes to the span id its job
    was tagged with; an untagged stage goes to the shortest Spark-capable
    span (one that tagged jobs) open when it was submitted."""
    by_id = {s["id"]: s for s in spans}
    capable = [s for s in spans if s.get("spark")]
    out: dict[str, list] = {}
    for st in stages:
        sid = st.get("span")
        if sid not in by_id:
            t = st["submit_ms"] / 1e3 - epoch_minus_perf
            cands = [s for s in capable if s["t0"] <= t <= s["t1"]]
            if not cands:
                continue
            sid = min(cands, key=lambda s: s["t1"] - s["t0"])["id"]
        out.setdefault(sid, []).append(st)
    return out


def compute(roots: list[dict], engine_spans: list[dict], stages: list[dict],
            jobs: list[dict], epoch_minus_perf: float,
            window: tuple[float, float],
            state: dict | None, extra: dict) -> tuple[dict, dict]:
    """(per-layer metrics, per-op-class breakdown).  `roots` are the
    measured operations (id, op, t0, t1); `extra` carries counts known
    only to the load generator (errors, served_by ratio, payload bytes,
    lateness, rates, table rows)."""
    root_ids = {r["id"] for r in roots}
    parents = {s["id"]: s.get("parent") for s in engine_spans}

    def root_of(sid):
        for _ in range(100):
            if sid in root_ids:
                return sid
            sid = parents.get(sid)
            if sid is None:
                return None
        return None

    tree = [s for s in engine_spans if root_of(s["id"]) is not None]
    spans = clip_to_parents(roots + tree)
    op_of = {r["id"]: r["op"] for r in roots}
    span_root = {s["id"]: root_of(s["id"]) for s in tree}
    for r in roots:
        span_root[r["id"]] = r["id"]

    # layer self times per root, averaged per op class
    breakdown: dict[str, dict] = {}
    per_root = layer_breakdown(spans)
    for rid, layers_ in per_root.items():
        if rid not in op_of:
            continue
        cls = breakdown.setdefault(op_of[rid], {"n": 0, "wall_ms": 0.0,
                                                "self_ms": {},
                                                "spark": {}})
        cls["n"] += 1
        for layer, v in layers_.items():
            cls["self_ms"][layer] = cls["self_ms"].get(layer, 0.0) + v * 1e3
    for r in roots:
        if r["id"] in op_of and r["op"] in breakdown:
            breakdown[r["op"]]["wall_ms"] += (r["t1"] - r["t0"]) * 1e3

    # Spark stages per root and per op class
    by_span = attribute_stages(stages, spans, epoch_minus_perf)
    root_stages: dict[str, list] = {}
    for sid, sts in by_span.items():
        rid = span_root.get(sid)
        if rid is not None:
            root_stages.setdefault(rid, []).extend(sts)
    root_iv = {r["id"]: (r["t0"], r["t1"]) for r in roots}
    for rid, sts in root_stages.items():
        cls = breakdown[op_of[rid]]["spark"]
        cls["jobs"] = cls.get("jobs", 0) + len({s["job"] for s in sts})
        cls["stages"] = cls.get("stages", 0) + len(sts)
        for f in STAGE_FIELDS:
            cls[f] = cls.get(f, 0.0) + sum(s[f] for s in sts)
    for rid in op_of:
        t0, t1 = root_iv[rid]
        ivs = [(max(t0, s["submit_ms"] / 1e3 - epoch_minus_perf),
                min(t1, s["complete_ms"] / 1e3 - epoch_minus_perf))
               for s in root_stages.get(rid, ())]
        busy = union_length(iv for iv in ivs if iv[1] > iv[0])
        cls = breakdown[op_of[rid]]["spark"]
        cls["driver_ms"] = cls.get("driver_ms", 0.0) + (t1 - t0 - busy) * 1e3
    for cls in breakdown.values():
        n = cls["n"]
        cls["wall_ms"] /= n
        cls["self_ms"] = {k: v / n for k, v in cls["self_ms"].items()}
        cls["spark"] = {k: v / n for k, v in cls["spark"].items()}

    names = metric_units("per_layer")
    m = dict.fromkeys(names, 0.0)
    by_name = lambda n: _ms(spans, n)  # noqa: E731
    kind_of = {sid: op_of[r] for sid, r in span_root.items() if r in op_of}

    def under(name, *kinds):
        return _ms(spans, name, (kind_of, kinds))

    for kind in ("search", "filtered_search"):
        d = under("server.dispatch", kind)
        m[f"server.dispatch_{kind}_ms_p50"] = median_or_zero(d)
        m[f"server.dispatch_{kind}_ms_tail"] = _tail_ms(d)
        one = under(f"ivf.{kind}_one", kind)
        m[f"ivf.{kind}_one_ms_p50"] = median_or_zero(one)
        m[f"ivf.{kind}_one_ms_tail"] = _tail_ms(one)
    m["server.dispatch_search_under_writes_ms_p50"] = median_or_zero(
        under("server.dispatch", "search_under_writes"))
    m["ivf.search_one_under_writes_ms_p50"] = median_or_zero(
        under("ivf.search_one", "search_under_writes"))
    m["server.dispatch_write_ms_p50"] = median_or_zero(
        under("server.dispatch", *WRITE_OPS))
    # client latency minus the dispatch span, on the read phase's searches
    overhead = []
    for s in spans:
        r = span_root.get(s["id"])
        if (s["name"] == "server.dispatch" and s.get("parent") == r
                and op_of.get(r) in ("search", "filtered_search")):
            t0, t1 = root_iv[r]
            overhead.append((t1 - t0 - (s["t1"] - s["t0"])) * 1e3)
    m["server.http_overhead_ms_p50"] = median_or_zero(overhead)
    m["server.index_served_ratio"] = extra.get("index_served_ratio", 0.0)
    m["server.errors"] = float(extra.get("errors", 0))

    m["ivf.add_ms_p50"] = median_or_zero(
        by_name("ivf.add") + by_name("ivf.add_local"))
    m["ivf.delete_ms_p50"] = median_or_zero(by_name("ivf.delete"))
    for name in ("insert", "upsert", "delete", "df"):
        m[f"catalog.{name}_ms_p50"] = median_or_zero(by_name(f"catalog.{name}"))
    n_writes = sum(1 for r in roots if r["op"] in WRITE_OPS)
    if n_writes:
        m["catalog.jobs_per_write"] = sum(
            len({s["job"] for s in root_stages.get(r["id"], ())})
            for r in roots if r["op"] in WRITE_OPS) / n_writes
    if state:
        m["ivf.delta_rows_end"] = float(state["delta_rows"])
        m["ivf.auto_merges"] = float(state["auto_merges"])
        m["catalog.segments_end"] = float(state["segments"])
        m["catalog.tombstones_end"] = float(state["tombstones"])
        if extra.get("payload_bytes"):
            m["catalog.bytes_written_per_user_byte"] = (
                (state["dir_bytes"] - extra["dir_bytes_start"])
                / extra["payload_bytes"])

    m["ql.parse_ms_p50"] = median_or_zero(by_name("ql.parse"))
    m["ql.plan_ms_p50"] = median_or_zero(by_name("ql.execute"))
    m["ql.action_ms_p50"] = median_or_zero(by_name("ql.collect"))
    if extra.get("ql_results"):
        m["ql.rows_scanned_per_result"] = (
            extra["table_rows"] * extra["ql_statements"] / extra["ql_results"])
    m["dedup.minhash_ms"] = median_or_zero(
        [(r["t1"] - r["t0"]) * 1e3 for r in roots if r["op"] == "minhash"])
    m["dedup.srp_ms"] = median_or_zero(
        [(r["t1"] - r["t0"]) * 1e3 for r in roots if r["op"] == "srp"])

    # Spark totals over every stage submitted in the window, per op of
    # the classes that run Spark (writes; every batch op)
    w0, w1 = window
    in_window = [s for s in stages
                 if w0 <= s["submit_ms"] / 1e3 - epoch_minus_perf <= w1]
    spark_ops = sum(1 for r in roots if r["op"] in WRITE_OPS + BATCH_OPS) \
        or len(roots) or 1
    m["spark.jobs"] = len({s["job"] for s in in_window}) / spark_ops
    m["spark.stages"] = len(in_window) / spark_ops
    for f in STAGE_FIELDS:
        m[f"spark.{f}"] = sum(s[f] for s in in_window) / spark_ops
    driver = [breakdown[c]["spark"]["driver_ms"] * breakdown[c]["n"]
              for c in breakdown
              if c in WRITE_OPS + BATCH_OPS]
    n_driver = sum(breakdown[c]["n"] for c in breakdown
                   if c in WRITE_OPS + BATCH_OPS)
    m["spark.driver_ms"] = sum(driver) / n_driver if n_driver else 0.0
    if "read_phase" in extra:
        r0, r1 = extra["read_phase"]
        m["spark.read_phase_jobs"] = float(sum(
            1 for j in jobs
            if r0 <= j["submit_ms"] / 1e3 - epoch_minus_perf <= r1))

    late = extra.get("late_ms", [])
    m["loadgen.late_ms_tail"] = _tail_ms(late)
    m["loadgen.offered_rate"] = extra.get("offered_rate", 0.0)
    m["loadgen.achieved_rate"] = extra.get("achieved_rate", 0.0)
    unknown = set(m) - set(names)
    if unknown:
        raise KeyError(f"per-layer metrics not in BENCHMARK.json: {unknown}")
    return m, breakdown
