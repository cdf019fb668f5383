"""Engine process of the benchmark: one SparkSession on local[nproc].

    python3 perfbench/engine.py --work DIR --mode serve|batch \
        --launch-t T [--trace]

serve: a RestServer over a Database, corpus loaded and an IVF index
built (once: one load and build takes ~20 s).  batch: the
spark_batch corpus as a cached table (set up BATCH_SETUP_REPS times; the
last one is used); on "RUN <seconds>" one closed-loop client
calls the library in-process, round after round.

Protocol on stdin/stdout, one JSON line per reply: after set-up the
engine prints {"ready": ...}; then it reads commands: "RUN <seconds>"
(batch), "STATE" (end-of-window state) and "STOP" (shut down, write the
trace artifact, print {"done": ...}).  End of input counts as STOP.

With --trace, calls into each layer's public functions are timed as
spans (tracing.Tracer), Spark jobs carry the id of the span that started
them, Spark writes its event log, and at STOP the spans and the
per-stage records go to DIR/engine_trace.json.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

import numpy as np  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent))
from common import REPO_ROOT  # noqa: E402
import workloads as W  # noqa: E402
from tracing import SPARK_SPAN_PROPERTY, Tracer  # noqa: E402

sys.path.insert(0, str(REPO_ROOT))

BATCH_SETUP_REPS = 3
# measured spark_batch rounds per run, at least: the first measured
# round's NeedleQL calls run ~25% slow (on a 4-core host the kNN took 257,
# 199, 190 ms in rounds 1-3 even after three warm-up rounds), and a median
# of five outvotes that round and one more slow call
MIN_ROUNDS = 5
COLLECTION = "bench"
INDEX_BODY = {"tier": "ivf", "codes": "sq8_cell", "nlist": W.SERVE_NLIST,
              "meta_fields": ["tag"]}
DOC_SCHEMA = ("id string, vector array<float>, text string, tag string, "
              "price double")


def emit(obj) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def start_spark(work: Path, trace: bool):
    from needle_spark import get_spark

    conf = {
        # Spark's Python workers import needle_spark from the repo root
        "spark.executorEnv.PYTHONPATH": str(REPO_ROOT),
        # temp files inside the work dir; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = work / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": log_dir.as_uri(),
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def install_tracing(spark) -> Tracer:
    """Wrap the public entry points of each layer (server, catalog,
    plans.ivf, ql, operators.dedup, operators.analytics)."""
    from needle_spark import catalog, server
    from needle_spark.operators import analytics, dedup
    from needle_spark.plans import ivf
    from needle_spark.ql import executor

    sc = spark.sparkContext

    def set_tag(value):
        prev = sc.getLocalProperty(SPARK_SPAN_PROPERTY)
        sc.setLocalProperty(SPARK_SPAN_PROPERTY, value)
        return prev

    tr = Tracer(prefix="e", set_spark_tag=set_tag)

    def rid_parent(args, kwargs):
        rid = (args[4] if len(args) > 4 else kwargs.get("query") or {}) \
            .get("_rid")
        return f"c{rid}" if rid is not None else None

    def dispatch_writes(args, kwargs):
        return not str(args[2]).endswith("/search")

    tr.wrap(server.RestServer, "dispatch", "server.dispatch", "server",
            parent_from=rid_parent, tag_spark=dispatch_writes)
    for name in ("insert", "upsert", "delete", "df"):
        tr.wrap(catalog.Collection, name, f"catalog.{name}", "catalog",
                tag_spark=True)
    tr.wrap(ivf.IvfBatchKnnIndex, "search_one", "ivf.search_one",
            "plans.ivf",
            classify=lambda a, k: "ivf.filtered_search_one"
            if k.get("where") else None)
    for name in ("add", "add_local", "delete", "merge_delta"):
        tr.wrap(ivf.IvfBatchKnnIndex, name, f"ivf.{name}", "plans.ivf",
                tag_spark=True)
    tr.wrap(executor, "parse", "ql.parse", "ql")
    tr.wrap(executor.QueryExecutor, "execute", "ql.execute", "ql",
            tag_spark=True)
    for name in ("minhash_lsh_candidates", "srp_lsh_neardup_pairs"):
        tr.wrap(dedup, name, f"dedup.{name}", "operators.dedup",
                tag_spark=True)
    tr.wrap(analytics.AnalyticsQuery, "to_df", "analytics.to_df",
            "operators.analytics", tag_spark=True)
    return tr


def dir_bytes(path: Path) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class ServeEngine:
    """serve: a RestServer over a Database holding the corpus, with an
    IVF index (sq8_cell codes, the tag pinned for filtered search)."""

    def __init__(self, spark, work: Path):
        from needle_spark.catalog import Database
        from needle_spark.server import RestServer

        self.spark = spark
        self.db = Database(spark, str(work / "db"))
        self.server = RestServer(self.db)
        data = np.load(work / "serve_inputs.npz")
        self.X, self.tags = data["X"], data["tags"]

    def _load_and_index(self, name: str) -> dict:
        """Create, load and index the collection; returns the seconds
        each step took."""
        import pandas as pd

        from needle_spark.server import META_SCHEMA

        t0 = time.perf_counter()
        coll = self.db.create_collection(
            name, dims=self.X.shape[1], metric="euclidean",
            schema=META_SCHEMA)
        t1 = time.perf_counter()
        pdf = pd.DataFrame({
            "id": [f"v{i}" for i in range(len(self.X))],
            "vector": list(self.X),
            "metadata": [json.dumps({"tag": f"t{t}"}) for t in self.tags]})
        coll.insert(self.spark.createDataFrame(pdf, META_SCHEMA))
        t2 = time.perf_counter()
        status, out = self.server.dispatch(
            "POST", f"/collections/{name}/index", dict(INDEX_BODY), {})
        if status not in (200, 201):
            raise RuntimeError(f"index build failed: {out}")
        return {"create_s": t1 - t0, "load_s": t2 - t1,
                "index_s": time.perf_counter() - t2}

    def setup(self) -> list[float]:
        t0 = time.perf_counter()
        self.steps_s = self._load_and_index(COLLECTION)
        reps = [time.perf_counter() - t0]
        self.server.start()
        return reps

    def warmup(self) -> None:
        """A few in-process searches of both kinds, so lazy set-up is
        paid before the measured window.  Writes are not warmed: their
        first call is no slower than later ones (on a 4-core host at 100k
        rows, one cycle of insert, batch insert, upsert and delete-batch
        took 3.1, 3.3, 2.3, 2.5 s first and 4.0, 4.2, 1.9, 3.4 s next),
        and a warm-up cycle would add ~10 s to every run."""
        path = f"/collections/{COLLECTION}"
        for i in range(20):
            body = {"vector": self.X[i].tolist(), "k": W.K}
            if i % 2:
                body["filter"] = {"tag": f"t{i % W.N_TAGS}"}
            self.server.dispatch("POST", path + "/search", body, {})

    def state(self) -> dict:
        coll = self.db.collection(COLLECTION)
        entry = coll._manifest["versions"][str(coll.version)]
        idx = self.server._indexes[COLLECTION][0]
        stats = idx.incremental_stats()
        return {"dir_bytes": dir_bytes(Path(coll.path)),
                "segments": len(entry["segments"]),
                "tombstones": len(entry["tombstones"]),
                "delta_rows": stats["delta_rows"]
                + stats["local_pending_rows"],
                "auto_merges": int(getattr(idx, "_auto_merges", 0))}

    def close(self) -> None:
        self.server.stop()


class BatchEngine:
    """spark_batch: the corpus as one cached table; each round runs a
    filtered NeedleQL kNN, a NeedleQL hybrid query, an aggregation,
    MinHash-LSH text dedup and SRP-LSH vector dedup (W.BATCH_OPS)."""

    def __init__(self, spark, work: Path, tracer: Tracer | None):
        self.spark = spark
        self.tracer = tracer
        arrays = np.load(work / "batch_inputs.npz")
        meta = json.loads((work / "batch_inputs.json").read_text())
        self.V, self.queries = arrays["V"], arrays["queries"]
        self.price = arrays["price"]
        self.meta = meta
        self.df = None
        self.ex = None

    def setup(self) -> list[float]:
        import pandas as pd

        from needle_spark.ql.executor import QueryExecutor

        reps = []
        for _ in range(BATCH_SETUP_REPS):
            t0 = time.perf_counter()
            pdf = pd.DataFrame({"id": self.meta["ids"],
                                "vector": list(self.V),
                                "text": self.meta["texts"],
                                "tag": self.meta["tags"],
                                "price": self.price})
            df = self.spark.createDataFrame(pdf, DOC_SCHEMA).cache()
            df.count()
            if self.df is not None:
                self.df.unpersist()
            self.df = df
            self.ex = QueryExecutor(self.spark, tables={"docs": df})
            reps.append(time.perf_counter() - t0)
        return reps

    def _op(self, op: str, fn, layer: str, results: list) -> None:
        t0 = time.perf_counter()
        if self.tracer is None:
            out = fn(None)
        else:
            with self.tracer.span(op, "loadgen", tag_spark=True,
                                  op=op) as rec:
                out = fn(layer)
            rec["root"] = True
        results.append({"op": op, "t0": t0, "t1": time.perf_counter(),
                        "out": out})

    def _collect(self, df, layer):
        if layer is None:
            return df.collect()
        with self.tracer.span(f"{layer}.collect", layer, tag_spark=True):
            return df.collect()

    def round(self, i: int, results: list) -> None:
        from needle_spark.operators import dedup
        from needle_spark.operators.analytics import AnalyticsQuery

        m = self.meta
        j = i % len(self.queries)
        q = [float(x) for x in self.queries[j]]
        self._op("ql_knn", lambda layer: [
            (r["id"], float(r["distance"])) for r in self._collect(
                self.ex.execute(
                    "SELECT id, distance FROM docs WHERE vector SIMILAR TO "
                    f"$q AND tag = '{m['qtags'][j]}' LIMIT {W.K}",
                    {"q": q}), layer)], "ql", results)
        self._op("ql_hybrid", lambda layer: [
            (r["id"], float(r["score"])) for r in self._collect(
                self.ex.execute(
                    "SELECT id, score FROM docs WHERE vector SIMILAR TO $q "
                    f"AND text MATCH '{m['terms'][j]}' LIMIT {W.K}",
                    {"q": q}), layer)], "ql", results)
        self._op("analytics_agg", lambda layer: [
            (r["tag"], int(r["cnt"]), float(r["avg_price"]))
            for r in self._collect(
                AnalyticsQuery(self.df).where({"price": {"$gt": 0.5}})
                .group_by("tag")
                .agg(("count", "*", "cnt"), ("avg", "price", "avg_price"))
                .order_by("tag").to_df(), layer)],
            "operators.analytics", results)
        self._op("minhash", lambda layer: [
            sorted((r[0], r[1])) for r in self._collect(
                dedup.minhash_lsh_candidates(
                    self.df, id_col="id", text_col="text", n=3,
                    verify_threshold=W.MINHASH_THRESHOLD), layer)],
            "operators.dedup", results)
        self._op("srp", lambda layer: [
            sorted((r[0], r[1])) for r in self._collect(
                dedup.srp_lsh_neardup_pairs(
                    self.df, threshold=W.SRP_THRESHOLD, metric="cosine",
                    id_col="id", vector_col="vector"), layer)],
            "operators.dedup", results)

    def run(self, seconds: float) -> list:
        """Closed loop: rounds back to back, a new one starting while
        `seconds` have not passed, so every run holds whole rounds; and
        at least MIN_ROUNDS."""
        results: list = []
        t_end = time.perf_counter() + seconds
        i = 0
        while i < MIN_ROUNDS or time.perf_counter() < t_end:
            self.round(i, results)
            i += 1
        return results


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--mode", choices=("serve", "batch"), required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--launch-t", type=float, required=True)
    args = ap.parse_args()
    work = Path(args.work)

    spark = start_spark(work, args.trace)
    spark_start_s = time.perf_counter() - args.launch_t
    tracer = install_tracing(spark) if args.trace else None
    if args.mode == "serve":
        eng = ServeEngine(spark, work)
        reps = eng.setup()
        t0 = time.perf_counter()
        eng.warmup()
        warmup_s = time.perf_counter() - t0
        extra = {"url": eng.server.url, "collection": COLLECTION,
                 "dir_bytes": eng.state()["dir_bytes"], **eng.steps_s}
    else:
        eng = BatchEngine(spark, work, tracer)
        reps = eng.setup()
        t0 = time.perf_counter()
        eng.round(0, [])
        warmup_s = time.perf_counter() - t0
        extra = {}
    if tracer is not None:
        tracer.spans.clear()  # the trace covers the measured window only
    clock = {"epoch_minus_perf": time.time() - time.perf_counter()}
    emit({"ready": True, "spark_start_s": spark_start_s,
          "setup_reps_s": reps, "warmup_s": warmup_s,
          "setup_s": spark_start_s + statistics.median(reps) + warmup_s,
          "cpus": spark.sparkContext.defaultParallelism, **extra})

    state = None
    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        if cmd[0] == "RUN" and args.mode == "batch":
            results = eng.run(float(cmd[1]))
            (work / "batch_results.json").write_text(json.dumps(results))
            emit({"ran": len(results)})
        elif cmd[0] == "STATE" and args.mode == "serve":
            state = eng.state()
            emit({"state": state})
        elif cmd[0] == "STOP":
            break
    if args.mode == "serve":
        eng.close()
    spark.stop()
    if tracer is not None:
        import eventlog

        log = eventlog.find_log(work / "eventlog")
        events = list(eventlog.read_events(log)) if log else []
        (work / "engine_trace.json").write_text(json.dumps({
            "spans": tracer.spans, "clock": clock, "state": state,
            "stages": eventlog.stage_records(events),
            "jobs": eventlog.job_records(events)}))
    emit({"done": True})
    return 0


if __name__ == "__main__":
    sys.exit(main())
