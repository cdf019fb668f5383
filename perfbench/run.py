"""needle-spark benchmark: one command, two workloads.

    python3 perfbench/run.py --workload serve|spark_batch \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Each run starts the engine in its own process (perfbench/engine.py: a
SparkSession on local[nproc]; for serve, a RestServer over a Database
with an IVF index), drives one seeded workload from this process with at
most nproc threads and connections, checks the engine's answers against
numpy oracles, and prints as its LAST stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}.

Workloads:
  serve        25k x 128 SIFT-like corpus, IVF index of 256 lists; read
               phase (S seconds): open-loop Poisson searches at 50/s, 20%
               with a tag filter of 10% selectivity, all served by the
               index (no Spark job); mixed phase: the same stream
               plus one closed-loop REST writer doing one cycle of insert,
               100-row batch insert, upsert and delete-batch
  spark_batch  in-process closed loop for S seconds, and at least five
               rounds (engine.MIN_ROUNDS): filtered NeedleQL kNN,
               NeedleQL hybrid, an aggregation, MinHash-LSH and SRP-LSH
               dedup, round after round

End-to-end metrics (--trace 0), the names BENCHMARK.json declares; a
name joined by "_or_" is one operation kind's median on serve (before
"_or_") and another's on spark_batch (after it):
  setup_s                 Spark start, then corpus load and index build
                          (serve) or the median of 3 table loads
                          (spark_batch), then the warm-up
  search_or_ql_knn_p50_ms
                          unfiltered search of the read phase, timed from
                          its due time | NeedleQL filtered kNN
  filtered_search_or_ql_hybrid_p50_ms
                          tag-filtered search of the read phase, timed
                          from its due time | NeedleQL hybrid query
  insert_or_minhash_p50_ms
                          REST single and 100-row batch insert of the
                          mixed phase | MinHash-LSH dedup
  modify_or_srp_p50_ms    REST upsert and delete-batch of the mixed phase
                          | SRP-LSH dedup
  recall                  recall@10 against numpy exact top-10 (serve) |
                          planted near-duplicate pairs found (spark_batch)
The per-operation metrics (search_p50_ms, write_p50_ms,
ingest_rows_per_s, ql_p50_ms, minhash_dedup_s, error_ratio, ...) are
printed above the JSON line with their units.  Tails (the highest
percentile with at least ten samples beyond it, else the maximum) are
printed with their percentile and sample count; they are not bounded,
because on a shared 4-core host they swing by more than any usable bound
from run to run.

--trace 1 runs the same workload with every layer's public functions
wrapped in spans and Spark's event log on, and reports the per-layer
metrics BENCHMARK.json declares instead; its artifact under
.perfbench_work/results/ feeds perfbench/report.py.

Exit status: 0 when every check passed; 1 when a check failed (the JSON
line still reports it); 2 when the engine cannot run at all (no result
line).
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import queue  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent))
from common import (BENCH_DIR, REPO_ROOT, WORK_DIR, canary,  # noqa: E402
                    engine_env, host_cpus, metric_units, summarize)
import layers  # noqa: E402

sys.path.insert(1, str(REPO_ROOT))

WORKLOADS = ("serve", "spark_batch")
READY_TIMEOUT_S = 150.0
RECALL_MIN = 0.8
DEDUP_RECALL_MIN = 0.9
# the end-to-end latency metrics: each is one operation kind's median,
# and its name says which kind on serve and which on spark_batch
E2E_SLOTS = ("search_or_ql_knn_p50_ms", "filtered_search_or_ql_hybrid_p50_ms",
             "insert_or_minhash_p50_ms", "modify_or_srp_p50_ms")


class EngineError(RuntimeError):
    pass


class Engine:
    """The engine subprocess and its line protocol."""

    def __init__(self, work: Path, mode: str, trace: bool):
        self.work = work
        self.log = open(work / "engine.log", "w")
        cmd = [sys.executable, str(BENCH_DIR / "engine.py"),
               "--work", str(work), "--mode", mode,
               "--launch-t", repr(time.perf_counter())]
        if trace:
            cmd.append("--trace")
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, env=engine_env(work), cwd=work, text=True,
            start_new_session=True)
        self.ready = False  # set once the engine reads commands
        self.lines: queue.Queue = queue.Queue()
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.proc.stdout:
            line = line.strip()
            if line.startswith("{"):
                self.lines.put(json.loads(line))
        self.lines.put(None)

    def expect(self, key: str, timeout: float) -> dict:
        """Wait for the reply carrying `key`."""
        deadline = time.monotonic() + timeout
        while True:
            try:
                msg = self.lines.get(
                    timeout=max(0.1, deadline - time.monotonic()))
            except queue.Empty:
                raise EngineError(f"engine sent no {key!r} in {timeout:.0f}s")
            if msg is None:
                raise EngineError(f"engine exited before {key!r} "
                                  f"(see {self.work / 'engine.log'})")
            if key in msg:
                self.ready = True
                return msg

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def close(self, timeout: float = 30.0) -> None:
        """STOP and wait, if the engine reads commands; then terminate
        the whole process group (the JVM and Spark's Python workers) and
        wait for it."""
        try:
            if self.ready and self.proc.poll() is None:
                self.send("STOP")
                self.proc.stdin.close()
                self.proc.wait(timeout=timeout)
        except (OSError, subprocess.TimeoutExpired):
            pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                continue
            # the group may outlive its leader: give stragglers a moment
            time.sleep(0.2)
        self.log.close()


class Checks:
    """Correctness checks.  Each operation (a request or call of the
    workload, or an end-of-run probe) is checked on its own and fails
    when its request failed or any check of its answer did; error_ratio
    is failed over attempted operations.  Checks over the whole run
    (recall, the index-served share) are counted apart.  Every failure
    is described."""

    def __init__(self):
        self.ops: dict = {}  # operation key -> passed all its checks
        self.run_total = 0
        self.run_failed = 0
        self.notes: list[str] = []

    def op(self, key, ok: bool, what: str) -> bool:
        self.ops[key] = self.ops.get(key, True) and ok
        if not ok:
            self.notes.append(what)
        return ok

    def expect(self, ok: bool, what: str) -> bool:
        self.run_total += 1
        if not ok:
            self.run_failed += 1
            self.notes.append(what)
        return ok

    def failed_ops(self) -> int:
        return sum(not ok for ok in self.ops.values())

    def attempted(self) -> int:
        return len(self.ops) + self.run_total

    def failed(self) -> int:
        return self.failed_ops() + self.run_failed

    def error_ratio(self) -> float:
        return self.failed_ops() / max(1, len(self.ops))


# ---------------------------------------------------------------- serve --

def run_serve(args, work: Path) -> dict:
    """The serve workload: a read phase (the search stream alone, for
    the run's seconds), then a mixed phase (the same stream plus the
    writer, for WRITE_CYCLES whole writer cycles)."""
    import numpy as np

    import loadgen
    import workloads as W

    inputs = W.serve_inputs(args.seed)
    np.savez(work / "serve_inputs.npz", X=inputs["X"], tags=inputs["tags"])
    marks = {"launch": time.perf_counter()}
    eng = Engine(work, "serve", args.trace)
    try:
        ready = eng.expect("ready", READY_TIMEOUT_S)
        marks["ready"] = time.perf_counter()
        client = loadgen.Client(ready["url"])
        base = f"/collections/{ready['collection']}"
        Q = inputs["Q"]
        cpus = host_cpus()
        suffix = {"read": "", "mixed": "_under_writes"}

        def requester(phase):
            def make_request(item):
                body = {"vector": Q[item["q"]].tolist(), "k": W.K}
                op = "search"
                if item["tag"] is not None:
                    body["filter"] = {"tag": f"t{item['tag']}"}
                    op = "filtered_search"
                return op + suffix[phase], "POST", base + "/search", body
            return make_request

        def next_op(cycle, step):
            if step >= len(W.WRITE_CYCLE):
                return None
            op, route, body, effect = W.write_op(args.seed, cycle, step)
            return op, "POST", f"{base}/{route}", body, effect

        # HTTP warm-up, not recorded
        for item in W.search_schedule(args.seed + 2, 1.0):
            client.call(*requester("read")(item)[1:])

        read_s = args.seconds
        t_read = time.perf_counter() + 0.1
        read_records = loadgen.run_open_loop(
            client, W.search_schedule(args.seed, read_s), requester("read"),
            workers=cpus, t0=t_read, keep_going=lambda due: True)

        # the search stream keeps going until the writer's cycles have
        # finished
        writer_done = threading.Event()
        t_mixed = time.perf_counter() + 0.1
        write_records: list = []

        def writer():
            try:
                write_records.extend(
                    loadgen.run_writer(client, next_op, W.WRITE_CYCLES,
                                       t_mixed))
            finally:
                writer_done.set()

        wt = threading.Thread(target=writer, daemon=True)
        wt.start()
        mixed_records = loadgen.run_open_loop(
            client, W.search_schedule(args.seed + 1, 150.0),
            requester("mixed"), workers=max(1, cpus - 1), t0=t_mixed,
            keep_going=lambda due: not writer_done.is_set())
        wt.join(timeout=170)
        marks["mixed_done"] = time.perf_counter()
        search_records = read_records + mixed_records
        t_end = max(r["done"] for r in search_records + write_records)
        eng.send("STATE")
        state = eng.expect("state", 60)["state"]
        checks = Checks()
        named, recall, payload = check_serve(
            args, client, base, inputs, search_records, write_records,
            checks)
        marks["checked"] = time.perf_counter()
    finally:
        eng.close()
    marks["closed"] = time.perf_counter()

    ok = [r for r in search_records + write_records
          if 200 <= r["status"] < 300]
    # searches are timed from their due time; a write (closed loop) is
    # due when it is sent
    kinds = ("search", "filtered_search", "search_under_writes",
             "filtered_search_under_writes") + W.WRITE_CYCLE
    lat = {op: [x * 1e3 for x in loadgen.latency_from_due(
        [r for r in ok if r["op"] == op])] for op in kinds}
    late = [x * 1e3 for x in loadgen.lateness(search_records)]
    named.update({
        "late_ms_p50": (statistics.median(late), "ms"),
        "offered_rate": (len(search_records) / (
            read_s + max(r["due"] for r in mixed_records) - t_mixed
            if mixed_records else read_s), "1/s"),
    })
    return {"ready": ready, "state": state, "t0": t_read, "t_end": t_end,
            "t_mixed": t_mixed, "search_records": search_records,
            "write_records": write_records, "checks": checks,
            "named": named, "recall": recall, "late_ms": late, "lat": lat,
            "payload_bytes": payload,
            "phases_s": phase_lengths(marks | {"read": t_read,
                                               "mixed": t_mixed}),
            "slots": dict(zip(E2E_SLOTS, (
                lat["search"], lat["filtered_search"],
                lat["insert"] + lat["batch_insert"],
                lat["upsert"] + lat["delete_batch"])))}


def check_serve(args, client, base, inputs, search_records, write_records,
                checks: Checks):
    """recall@10 against numpy exact top-10, every read-phase search
    served by the index, the final row count and GETs of sampled ids;
    returns (named metrics, recall, acknowledged payload bytes)."""
    import numpy as np

    import workloads as W

    X, Q, tags = inputs["X"], inputs["Q"], inputs["tags"]
    id_to_row = {f"v{i}": i for i in range(len(X))}
    kth = W.exact_kth_l2(X, Q, tags, {(r["item"]["q"], r["item"]["tag"])
                                      for r in search_records})
    recalls, served, n_read = [], 0, 0
    for r in search_records:
        read_phase = r["op"] in ("search", "filtered_search")
        n_read += read_phase
        if not checks.op(r["rid"], 200 <= r["status"] < 300,
                         f"search {r['rid']}: HTTP {r['status']}"):
            continue
        item = r["item"]
        key = (item["q"], item["tag"])
        ids = [h["id"] for h in r["reply"].get("results", [])]
        if item["tag"] is not None:
            checks.op(r["rid"], all(tags[id_to_row[i]] == item["tag"]
                                    for i in ids if i in id_to_row),
                      f"search {r['rid']}: row outside the tag filter")
        recalls.append(W.recall_by_distance(X, id_to_row, Q[item["q"]],
                                            ids, kth[key]))
        served += read_phase and str(
            r["reply"].get("served_by", "")).startswith("index")
    recall = float(np.mean(recalls)) if recalls else 0.0
    checks.expect(recall >= RECALL_MIN,
                  f"recall@10 {recall:.3f} < {RECALL_MIN}")
    # the read phase must never fall back to the exact Spark path
    checks.expect(served == n_read,
                  f"{n_read - served} of {n_read} read-phase searches "
                  "not served by the index")

    # writes: acknowledged effects must be visible afterwards
    expected_rows = len(X)
    acked_rows, payload = 0, 0
    last_vec: dict = {}
    deleted: set = set()
    # replay the acknowledged ops in order: final row count, each id's
    # last vector and the deleted ids
    for i, r in enumerate(write_records):
        if not checks.op(r["rid"], 200 <= r["status"] < 300,
                         f"{r['op']}: HTTP {r['status']} {r['reply']}"):
            continue
        expected_rows += r["effect"]["rows"]
        acked_rows += max(0, r["effect"]["rows"])
        payload += r["bytes"]
        op, _, body, _ = W.write_op(args.seed, *divmod(i, len(W.WRITE_CYCLE)))
        if op in ("insert", "upsert"):
            last_vec[body["id"]] = body["vector"]
        elif op == "delete_batch":
            deleted.update(body["ids"])
    status, reply, _ = client.call("GET", base)
    checks.op("count", status == 200 and reply.get("count") == expected_rows,
              f"count {reply.get('count')} != expected {expected_rows}")
    rng = np.random.default_rng(args.seed + 99)
    row = int(rng.integers(len(X)))
    probes = [(f"v{row}", X[row].tolist())]
    probes += [(k, last_vec[k]) for k in sorted(last_vec)[:1]]
    probes += [(k, None) for k in sorted(deleted)[:1]]  # must be gone
    # each GET is a Spark lookup: send them together
    with ThreadPoolExecutor(len(probes)) as pool:
        replies = list(pool.map(
            lambda p: client.call("GET", f"{base}/vectors/{p[0]}"), probes))
    for (vid, vec), (status, reply, _) in zip(probes, replies):
        if vec is None:
            checks.op(f"GET {vid}", status == 404,
                      f"GET deleted {vid}: HTTP {status}")
        else:
            checks.op(f"GET {vid}", status == 200 and np.allclose(
                reply.get("vector", []), vec, atol=1e-4),
                f"GET {vid}: HTTP {status} or wrong vector")

    writes_ok = [r for r in write_records if 200 <= r["status"] < 300]
    named = {"recall_at_10": (recall, "ratio"),
             "index_served_ratio": (served / max(1, n_read), "ratio")}
    if writes_ok:
        wall = max(r["done"] for r in writes_ok) - min(
            r["sent"] for r in writes_ok)
        named["ingest_rows_per_s"] = (acked_rows / wall, "1/s")
    return named, recall, payload


# ---------------------------------------------------------------- batch --

def run_batch(args, work: Path) -> dict:
    import numpy as np

    import workloads as W

    inputs = W.batch_inputs(args.seed)
    marks = {"launch": time.perf_counter()}
    np.savez(work / "batch_inputs.npz", V=inputs["V"],
             queries=inputs["queries"], price=inputs["price"])
    (work / "batch_inputs.json").write_text(json.dumps(
        {k: inputs[k] for k in ("ids", "texts", "tags", "terms", "qtags")}))
    eng = Engine(work, "batch", args.trace)
    try:
        ready = eng.expect("ready", READY_TIMEOUT_S)
        marks["ready"] = time.perf_counter()
        eng.send(f"RUN {args.seconds}")
        eng.expect("ran", 170)
        marks["ran"] = time.perf_counter()
        results = json.loads((work / "batch_results.json").read_text())
    finally:
        eng.close()
    marks["closed"] = time.perf_counter()
    checks = Checks()
    named, dedup_recall = check_batch(inputs, results, checks)
    lat = {op: [(r["t1"] - r["t0"]) * 1e3 for r in results if r["op"] == op]
           for op in W.BATCH_OPS}
    return {"ready": ready, "results": results, "checks": checks, "lat": lat,
            "named": named, "recall": dedup_recall,
            "phases_s": phase_lengths(marks),
            "slots": dict(zip(E2E_SLOTS, (lat["ql_knn"], lat["ql_hybrid"],
                                          lat["minhash"], lat["srp"]))),
            "t0": min(r["t0"] for r in results),
            "t_end": max(r["t1"] for r in results)}


def check_batch(inputs, results, checks: Checks):
    """NeedleQL kNN equals the numpy exact filtered top-10; hybrid
    results are ranked; the aggregation equals pandas; dedup recall on
    the planted pairs.  Returns (named metrics, dedup recall)."""
    import numpy as np
    import pandas as pd

    import workloads as W

    V = inputs["V"]
    row_of = {vid: k for k, vid in enumerate(inputs["ids"])}
    tags = np.asarray(inputs["tags"])
    n_knn = 0
    for i, r in enumerate(results):
        op, out = r["op"], r["out"]
        if op == "ql_knn":
            # round i of the engine uses query i (mod the query count)
            j = n_knn % len(inputs["queries"])
            n_knn += 1
            d = W.cosine_distances(V, inputs["queries"][j])
            d[tags != inputs["qtags"][j]] = np.inf
            kth = np.sort(d)[W.K - 1]
            rows = [row_of.get(o[0]) for o in out]
            # any exact top-k is right: ties at the k-th distance may
            # swap; every returned row must be in the filter, no farther
            # than the true k-th neighbour, and carry its true distance
            checks.op(
                i, len(out) == W.K and None not in rows
                and all(d[k] <= kth + 1e-6 for k in rows)
                and np.allclose([o[1] for o in out], d[rows], atol=1e-4),
                f"ql_knn query {j}: not an exact top-{W.K}")
        elif op == "ql_hybrid":
            scores = [o[1] for o in out]
            checks.op(i, 0 < len(out) <= W.K
                      and scores == sorted(scores, reverse=True),
                      "ql_hybrid: empty or unranked result")
        elif op == "analytics_agg":
            pdf = pd.DataFrame({"tag": inputs["tags"],
                                "price": inputs["price"]})
            want = pdf[pdf.price > 0.5].groupby("tag").price.agg(
                ["count", "mean"]).sort_index()
            checks.op(
                i, [g[0] for g in out] == list(want.index)
                and [g[1] for g in out] == list(want["count"])
                and np.allclose([g[2] for g in out], want["mean"],
                                rtol=1e-9),
                "analytics_agg: differs from pandas")
    planted = {tuple(p) for p in inputs["planted"]}
    recalls = {}
    for op in ("minhash", "srp"):
        found = []
        for i, r in enumerate(results):
            if r["op"] != op:
                continue
            found.append(len(planted & {tuple(p) for p in r["out"]})
                         / len(planted))
            checks.op(i, found[-1] >= DEDUP_RECALL_MIN,
                      f"{op} planted-pair recall {found[-1]:.3f}")
        recalls[op] = statistics.mean(found) if found else 0.0
    dedup_recall = (recalls["minhash"] + recalls["srp"]) / 2
    named = {"dedup_recall": (dedup_recall, "ratio")}
    for op in ("minhash", "srp"):
        s = [r["t1"] - r["t0"] for r in results if r["op"] == op]
        named[f"{op}_dedup_s"] = (statistics.median(s), "s")
    return named, dedup_recall



# -------------------------------------------------------------- metrics --

def phase_lengths(marks: dict) -> dict:
    """Seconds from each mark to the next, in time order: where a run's
    wall time goes."""
    order = sorted(marks.items(), key=lambda kv: kv[1])
    return {f"{a}..{b}": round(tb - ta, 3)
            for (a, ta), (b, tb) in zip(order, order[1:])}


def end_to_end(res: dict) -> dict:
    """The bounded metrics, in BENCHMARK.json's order: set-up time, the
    median latency of each of the workload's three slot kinds (see
    E2E_SLOTS) and the recall of its answers."""
    values = {"setup_s": res["ready"]["setup_s"], "recall": res["recall"],
              **{k: statistics.median(v) for k, v in res["slots"].items()}}
    return {k: (values[k], unit)
            for k, unit in metric_units("end_to_end").items()}


def named_metrics(workload: str, res: dict, checks: Checks) -> dict:
    """Per-operation metrics of this workload, with units; tails
    carry their percentile and sample count."""
    import workloads as W

    lat = res["lat"]
    if workload == "serve":
        groups = {"search": lat["search"],
                  "filtered_search": lat["filtered_search"],
                  "search_under_writes": lat["search_under_writes"],
                  "filtered_search_under_writes":
                      lat["filtered_search_under_writes"],
                  "write": [x for k in W.WRITE_CYCLE for x in lat[k]]}
    else:
        groups = {"ql": lat["ql_knn"] + lat["ql_hybrid"],
                  "analytics": lat["analytics_agg"],
                  "dedup": lat["minhash"] + lat["srp"]}
    out = {"setup_s": (res["ready"]["setup_s"], "s")}
    for key, values in groups.items():
        if values:
            sm = summarize(values)
            out[f"{key}_p50_ms"] = (sm["p50"], "ms")
            out[f"{key}_tail_ms[{sm['tail_pct']},n={sm['n']}]"] = (
                sm["tail"], "ms")
    if workload == "serve":
        for k in W.WRITE_CYCLE:
            if lat[k]:
                out[f"{k}_p50_ms"] = (statistics.median(lat[k]), "ms")
    out.update(res["named"])
    out["error_ratio"] = (checks.error_ratio(), "ratio")
    return out


def per_layer(workload: str, res: dict, work: Path) -> tuple[dict, dict]:
    import workloads as W

    trace = json.loads((work / "engine_trace.json").read_text())
    offset = trace["clock"]["epoch_minus_perf"]
    if workload == "serve":
        recs = res["search_records"] + res["write_records"]
        roots = [{"id": f"c{r['rid']}", "parent": None, "name": r["op"],
                  "layer": "loadgen", "op": r["op"], "t0": r["sent"],
                  "t1": r["done"]} for r in recs]
        extra = {
            "errors": sum(1 for r in recs if not 200 <= r["status"] < 300),
            "index_served_ratio": res["named"]["index_served_ratio"][0],
            "late_ms": res["late_ms"],
            "offered_rate": res["named"]["offered_rate"][0],
            "achieved_rate": sum(1 for r in res["search_records"]
                                 if 200 <= r["status"] < 300)
            / (res["t_end"] - res["t0"]),
            "dir_bytes_start": res["ready"]["dir_bytes"],
            "payload_bytes": res["payload_bytes"],
            "read_phase": (res["t0"], res["t_mixed"]),
        }
        engine_spans = trace["spans"]
    else:
        roots = [dict(s, op=s["name"]) for s in trace["spans"]
                 if s.get("root")]
        root_ids = {r["id"] for r in roots}
        engine_spans = [s for s in trace["spans"] if s["id"] not in root_ids]
        ql = [r for r in res["results"] if r["op"] in ("ql_knn", "ql_hybrid")]
        rate = len(res["results"]) / (res["t_end"] - res["t0"])
        extra = {"table_rows": W.DOC_ROWS + W.PLANTED_PAIRS,
                 "ql_statements": len(ql),
                 "ql_results": sum(len(r["out"]) for r in ql),
                 "offered_rate": rate, "achieved_rate": rate}
    return layers.compute(roots, engine_spans, trace["stages"],
                          trace["jobs"], offset, (res["t0"], res["t_end"]),
                          trace.get("state"), extra)


# ------------------------------------------------------------------ main --

def run_one(args) -> tuple[dict, int]:
    work = WORK_DIR / f"{args.workload}-s{args.seed}-t{int(args.trace)}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    canary_before = canary()
    if args.workload == "spark_batch":
        res = run_batch(args, work)
    else:
        res = run_serve(args, work)
    canary_after = canary()
    checks: Checks = res["checks"]
    e2e = end_to_end(res)
    artifact = {"workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": bool(args.trace),
                "cpus": host_cpus(), "canary": [canary_before, canary_after],
                "ready": res["ready"], "phases_s": res["phases_s"],
                "end_to_end": e2e,
                "latencies_ms": res["lat"]}
    if args.trace:
        metrics, breakdown = per_layer(args.workload, res, work)
        if args.workload == "serve":
            checks.expect(metrics["spark.read_phase_jobs"] == 0,
                          f"{metrics['spark.read_phase_jobs']:.0f} Spark "
                          "jobs in the read phase")
        units = metric_units("per_layer")
        metrics = {k: (v, units[k]) for k, v in metrics.items()}
        artifact["breakdown"] = breakdown
    else:
        metrics = e2e
    artifact["metrics"] = metrics
    results_dir = WORK_DIR / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    named = named_metrics(args.workload, res, checks)
    artifact.update({"named": named, "check_failures": checks.notes})
    (results_dir / f"{args.workload}_seed{args.seed}_trace{int(args.trace)}"
     ".json").write_text(json.dumps(artifact, indent=1, default=str))
    shutil.rmtree(work, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} trace={int(args.trace)} "
          f"cpus={host_cpus()} canary={canary_before}")
    print(f"# phases (s): {res['phases_s']}")
    for k, (v, unit) in named.items():
        print(f"  {k:<36} {v:>14.4f} {unit}")
    for note in checks.notes[:10]:
        print(f"  CHECK FAILED: {note}")
    failed = checks.failed()
    result = {"correct": failed == 0, "attempted": max(1, checks.attempted()),
              "failed": failed,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}}
    return result, 0 if failed == 0 else 1


def main() -> int:
    # a terminated run still stops its engine (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (REPO_ROOT / "needle_spark" / "__init__.py").is_file():
        print(f"needle_spark not found under {REPO_ROOT}", file=sys.stderr)
        return 2
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    status, results = 0, {}
    for name in names:
        one = argparse.Namespace(**{**vars(args), "workload": name})
        try:
            result, code = run_one(one)
        except EngineError as e:
            print(f"{name}: {e}", file=sys.stderr)
            return 2
        status = max(status, code)
        results[name] = result
    print(json.dumps(results[names[0]] if len(names) == 1 else {
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items()
                    for k, v in r["metrics"].items()}}))
    return status


if __name__ == "__main__":
    sys.exit(main())
