"""Spark jobs on the REST write path: serving-index adds for pinned meta
fields run in-process, Collection.df() reads object schemas from the
Parquet footers, and insert checks its batch in one action under the
commit lock without losing any of its four rejections."""

import json
import math
import os
import time
import urllib.error
import urllib.request

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import needle_spark.catalog as catalog
from needle_spark.catalog import Collection, CollectionError, Database
from needle_spark.server import RestServer, _pinned_values, _rows_table

SCHEMA = "id string, vector array<float>, metadata string"


@pytest.fixture(scope="module")
def srv(spark, tmp_path_factory):
    db = Database(spark, str(tmp_path_factory.mktemp("writepath")))
    s = RestServer(db).start()
    yield s
    s.stop()


def call(srv, method, path, body=None, expect=200):
    req = urllib.request.Request(
        srv.url + path,
        data=None if body is None else json.dumps(body).encode(),
        headers={"Content-Type": "application/json"}, method=method)
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            status, payload = resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        status, payload = e.code, json.loads(e.read())
    assert status == expect, (status, payload)
    return payload


def _vec(i):
    return [math.cos(i * .37), math.sin(i * .37),
            math.cos(i * .11), math.sin(i * .11)]


def _indexed(srv, name, n=60):
    call(srv, "POST", "/collections", {"name": name, "dimensions": 4},
         expect=201)
    call(srv, "POST", f"/collections/{name}/vectors/batch",
         {"vectors": [{"id": f"p{i}", "vector": _vec(i),
                       "metadata": {"tag": "even" if i % 2 else "odd"}}
                      for i in range(n)]}, expect=201)
    return call(srv, "POST", f"/collections/{name}/index",
                {"nprobe": 4, "meta_fields": ["tag"]})


def _tag_search(srv, name, built, vec, tag, k=3):
    res = call(srv, "POST", f"/collections/{name}/search",
               {"vector": vec, "k": k, "filter": {"tag": tag},
                "nprobe": built["nlist"]})
    assert res.get("served_by") == "index"
    return [r["id"] for r in res["results"]]


@pytest.fixture
def index_add_jobs(srv, spark_jobs, monkeypatch):
    """Records, per _index_add call, the Spark jobs it started and
    whether the index took the in-process add_local path."""
    calls = []
    orig = srv._index_add

    def counted(name, payload):
        if name not in srv._indexes:  # writes before the index build
            return orig(name, payload)
        idx = srv._indexes[name][0]
        before = idx._local_n
        with spark_jobs() as jobs:
            orig(name, payload)
        calls.append({"jobs": jobs.n, "local": idx._local_n > before})

    monkeypatch.setattr(srv, "_index_add", counted)
    return calls


def test_pinned_string_writes_add_in_process(srv, index_add_jobs):
    built = _indexed(srv, "pin_rest")
    call(srv, "POST", "/collections/pin_rest/vectors",
         {"id": "n1", "vector": _vec(101), "metadata": {"tag": "new"}},
         expect=201)
    assert _tag_search(srv, "pin_rest", built, _vec(101), "new") == ["n1"]
    call(srv, "POST", "/collections/pin_rest/vectors/batch",
         {"vectors": [{"id": f"b{i}", "vector": _vec(200 + i),
                       "metadata": {"tag": "batch"}} for i in range(3)]},
         expect=201)
    assert _tag_search(srv, "pin_rest", built, _vec(201), "batch",
                       k=1) == ["b1"]
    call(srv, "POST", "/collections/pin_rest/vectors/upsert",
         {"id": "p3", "vector": _vec(3), "metadata": {"tag": "moved"}},
         expect=201)
    assert _tag_search(srv, "pin_rest", built, _vec(3), "moved") == ["p3"]
    assert "p3" not in _tag_search(srv, "pin_rest", built, _vec(3),
                                   "even", k=60)
    call(srv, "POST", "/collections/pin_rest/vectors/p8/metadata",
         {"metadata": {"tag": "patched"}})
    assert _tag_search(srv, "pin_rest", built, _vec(8),
                       "patched") == ["p8"]
    assert index_add_jobs == [{"jobs": 0, "local": True}] * 4


def test_numeric_pinned_value_keeps_dataframe_path(srv, index_add_jobs):
    built = _indexed(srv, "pin_num")
    call(srv, "POST", "/collections/pin_num/vectors",
         {"id": "num", "vector": _vec(77), "metadata": {"tag": 5}},
         expect=201)
    assert [c["local"] for c in index_add_jobs] == [False]
    # pinned as get_json_object's text, exactly as a rebuild would
    assert _tag_search(srv, "pin_num", built, _vec(77), "5") == ["num"]
    call(srv, "POST", "/collections/pin_num/index",
         {"nprobe": 4, "meta_fields": ["tag"]})
    assert _tag_search(srv, "pin_num", built, _vec(77), "5") == ["num"]


def test_pinned_values_match_get_json_object(srv, spark):
    payload = [
        {"id": "s", "vector": [0.0], "metadata": {"tag": "x \"é\""}},
        {"id": "missing", "vector": [0.0], "metadata": {"other": "y"}},
        {"id": "null", "vector": [0.0], "metadata": {"tag": None}},
        {"id": "list", "vector": [0.0], "metadata": ["tag"]},
        {"id": "str", "vector": [0.0], "metadata": "tag"},
        {"id": "none", "vector": [0.0]},
    ]
    got = _pinned_values(payload, ["tag"])["__mf_tag"].tolist()
    want = [r[0] for r in spark.createDataFrame(_rows_table(payload)).select(
        F.get_json_object("metadata", "$.tag")).collect()]
    assert got == want == ["x \"é\"", None, None, None, None, None]
    for value in (5, 1.5, True, {"a": "b"}, ["a"]):
        assert _pinned_values(
            [{"id": "v", "vector": [0.0], "metadata": {"tag": value}}],
            ["tag"]) is None
    # JSON-path field names are not plain key lookups
    assert _pinned_values(payload, ["a.b"]) is None


# ------------------------------------------------- footer-schema reads --

def _assert_same_as_inference(coll, monkeypatch, spark_jobs, **kw):
    with spark_jobs() as jobs:
        fast = coll.df(**kw)
    assert jobs.n == 0
    with monkeypatch.context() as m, spark_jobs() as inference_jobs:
        m.setattr(catalog, "_footer_schema", lambda path: None)
        inferred = coll.df(**kw)
    assert inference_jobs.n >= 1  # one schema-inference job per object
    assert fast.schema == inferred.schema

    def rows(d):
        return sorted(map(repr, d.collect()))

    assert rows(fast) == rows(inferred)


def test_df_reads_footer_schema(spark, tmp_path, monkeypatch, spark_jobs):
    coll = Collection.create(spark, str(tmp_path / "c"), dims=2,
                             schema=SCHEMA)
    _assert_same_as_inference(coll, monkeypatch, spark_jobs)  # empty seg-0
    coll.insert(spark.createDataFrame(
        [(f"r{i}", [float(i), 1.0], json.dumps({"i": i}))
         for i in range(6)], SCHEMA))
    # a segment carrying an extra column, plus tombstones
    coll.update_metadata({"id": "r1"}, {"color": "red"})
    coll.delete(ids=["r2", "r3"])
    _assert_same_as_inference(coll, monkeypatch, spark_jobs)
    assert "color" in coll.df().columns and coll.count() == 4


def test_df_reads_footer_schema_ttl(spark, tmp_path, monkeypatch,
                                    spark_jobs):
    coll = Collection.create(spark, str(tmp_path / "t"), dims=2,
                             schema=SCHEMA, default_ttl_seconds=3600)
    coll.insert(spark.createDataFrame(
        [("a", [1.0, 0.0], None), ("b", [0.0, 1.0], None)], SCHEMA),
        now_ms=0)
    _assert_same_as_inference(coll, monkeypatch, spark_jobs, now=10)
    _assert_same_as_inference(coll, monkeypatch, spark_jobs,
                              include_expired=True)
    assert coll.df(now=10).count() == 2
    assert coll.df().count() == 0  # expired by the wall clock


def test_pyarrow_object_falls_back_to_inference(spark, tmp_path):
    path = str(tmp_path / "pa")
    coll = Collection.create(spark, path, dims=2, schema=SCHEMA)
    os.makedirs(os.path.join(path, "seg-9"))
    pq.write_table(pa.table({
        "id": ["x", "y"],
        "vector": pa.array([[1.0, 0.0], [0.0, 1.0]],
                           type=pa.list_(pa.float32())),
        "metadata": [None, "{}"]}),
        os.path.join(path, "seg-9", "part-00000.parquet"))
    assert catalog._footer_schema(os.path.join(path, "seg-9")) is None
    m = coll._read_manifest()
    m["versions"]["1"] = {"segments": ["seg-0", "seg-9"],
                          "tombstones": []}
    m["version"] = 1
    Collection._write_manifest_static(path, m)
    got = Collection(spark, path).df()
    assert sorted(r["id"] for r in got.collect()) == ["x", "y"]
    assert got.schema["vector"].dataType.simpleString() == "array<float>"


# ------------------------------------------------- insert rejections --

def _batch(spark, rows, form):
    """The same rows as a DataFrame or as a pyarrow.Table (float32
    vectors, like the REST row builder)."""
    if form == "df":
        return spark.createDataFrame(rows, SCHEMA)
    ids, vecs, metas = zip(*rows)
    return pa.table({"id": pa.array(ids, pa.string()),
                     "vector": pa.array(vecs, pa.list_(pa.float32())),
                     "metadata": pa.array(metas, pa.string())})


def test_insert_rejections_keep_message_and_version(spark, tmp_path):
    path = str(tmp_path / "rej")
    coll = Collection.create(spark, path, dims=2, schema=SCHEMA)
    coll.insert(spark.createDataFrame([("a", [1.0, 0.0], None)], SCHEMA))
    req = Collection.create(spark, str(tmp_path / "req"), dims=2,
                            schema=SCHEMA)
    req.set_metadata_schema({"metadata": {"type": "string",
                                          "required": True}})
    cases = [
        (coll, [("b", [1.0, 0.0, 0.0], None)],
         "dimension mismatch: expected 2"),
        (coll, [("b", None, None)], "dimension mismatch: expected 2"),
        (coll, [("b", [float("nan"), 0.0], None)],
         "vector contains NaN or Inf"),
        (coll, [("b", [float("inf"), 0.0], None)],
         "vector contains NaN or Inf"),
        # float32 overflow: stored as Inf, so rejected
        (coll, [("b", [1e39, 0.0], None)], "vector contains NaN or Inf"),
        (coll, [("b", [1.0, 0.0], None), ("b", [0.0, 1.0], None)],
         "duplicate ids within batch"),
        (coll, [("a", [0.0, 1.0], None), ("c", [0.0, 1.0], None)],
         "1 ids already exist"),
        (req, [("b", [1.0, 0.0], "{}"), ("c", [0.0, 1.0], None)],
         "1 null values in required field 'metadata'"),
    ]
    for form in ("df", "table"):
        for target, rows, msg in cases:
            version = target.version
            with pytest.raises(CollectionError, match=msg):
                target.insert(_batch(spark, rows, form))
            assert Collection(spark, target.path).version == version
            assert target.version == version
    # an id committed by another instance between parse and commit
    for form in ("df", "table"):
        rows = _batch(spark, [(f"late_{form}", [0.0, 1.0], None)], form)
        Collection(spark, path).insert(spark.createDataFrame(
            [(f"late_{form}", [1.0, 1.0], None)], SCHEMA))
        version = Collection(spark, path).version
        with pytest.raises(CollectionError, match="1 ids already exist"):
            coll.insert(rows)
        assert Collection(spark, path).version == version
    assert coll.count() == 3
    assert coll.insert(spark.createDataFrame(
        [("d", [1.0, 1.0], None), ("e", [1.0, 2.0], None)], SCHEMA)) == 2
    assert coll.insert(_batch(
        spark, [("f", [1.0, 1.0], None), ("g", [1.0, 2.0], None)],
        "table")) == 2


def test_table_and_dataframe_batches_write_the_same(spark, tmp_path):
    rows = [(f"r{i}", [float(i), 1.5], json.dumps({"i": i, "t": "x"}))
            for i in range(7)] + [("none", [0.25, -1.0], None)]
    colls, t0 = {}, int(time.time()) * 1000
    for form in ("df", "table"):
        c = Collection.create(spark, str(tmp_path / form), dims=2,
                              schema=SCHEMA, default_ttl_seconds=3600)
        assert c.insert(_batch(spark, rows, form), now_ms=t0) == 8
        assert c.upsert(_batch(spark, [("r3", [9.0, 9.0], '{"u": 1}')],
                               form), now_ms=t0 + 1) == 1
        assert c.delete(ids=["r1", "r5", "missing"], now_ms=t0 + 2) == 2
        colls[form] = c

    def state(c):
        cdc = c.cdc_events().select("sequence", "timestamp_ms",
                                    "event_type", "vector_id", "metadata")
        return (c.version, c.df(now=t0 // 1000).schema.simpleString(),
                sorted(map(repr, c.df(now=t0 // 1000).collect())),
                sorted(map(repr, cdc.collect())))

    assert state(colls["df"]) == state(colls["table"])
    assert colls["table"].df(now=t0 // 1000).count() == 6


# ------------------------------------------------- jobs per REST write --

@pytest.fixture
def rest_write_jobs(srv, spark, spark_jobs, monkeypatch):
    """Dispatches one REST write in this thread and returns (status,
    total Spark jobs, jobs started before the first Parquet write)."""
    from pyspark.sql.readwriter import DataFrameWriter

    sc = spark.sparkContext
    orig = DataFrameWriter.parquet
    before_write = []

    def parquet(self, *args, **kwargs):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        group = sc.getLocalProperty("spark.jobGroup.id")
        before_write.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)

    def run(path, body):
        before_write.clear()
        with spark_jobs() as jobs:
            status, out = srv.dispatch("POST", path, body, {})
        assert status in (200, 201), out
        return jobs.n, before_write[0]

    return run


def test_rest_writes_start_no_job_before_first_write(srv, rest_write_jobs):
    name = "jobs_rest"
    base = f"/collections/{name}/vectors"
    srv.dispatch("POST", "/collections", {"name": name, "dimensions": 4}, {})
    for lo, hi in ((0, 40), (40, 80)):  # two segments ...
        srv.dispatch("POST", base + "/batch", {"vectors": [
            {"id": f"p{i}", "vector": _vec(i), "metadata": {"i": i}}
            for i in range(lo, hi)]}, {})
    srv.dispatch("POST", base + "/delete-batch",  # ... and a tombstone
                 {"ids": ["p1", "p41"]}, {})
    batch = [{"id": f"n{i}", "vector": _vec(300 + i)} for i in range(20)]
    got = {
        "insert": rest_write_jobs(base, {"id": "one", "vector": _vec(200)}),
        "batch_insert": rest_write_jobs(base + "/batch", {"vectors": batch}),
        "upsert": rest_write_jobs(base + "/upsert",
                                  {"id": "p2", "vector": _vec(201)}),
        "delete_batch": rest_write_jobs(
            base + "/delete-batch",
            {"ids": [b["id"] for b in batch] + ["p1", "gone"]}),
    }
    # (total jobs, jobs before the first Parquet write): the segment or
    # tombstone write, then the CDC append, and nothing before them
    assert got == {"insert": (3, 0), "batch_insert": (3, 0),
                   "upsert": (4, 0), "delete_batch": (3, 0)}
    c = srv.db.collection(name)
    assert c.count() == 80 - 2 + 1
    assert c.get("p2")["vector"] == pytest.approx(_vec(201))


def test_rest_write_rejections(srv):
    name = "rej_rest"
    base = f"/collections/{name}/vectors"
    srv.dispatch("POST", "/collections", {"name": name, "dimensions": 4}, {})
    cases = [
        ([1.0, None, 0.0, 0.0], "vector components must be numbers"),
        ([1e39, 0.0, 0.0, 0.0], "vector contains NaN or Inf"),
        (None, "dimension mismatch: expected 4"),
        ([1.0, 0.0], "dimension mismatch: expected 4"),
    ]
    for vec, msg in cases:
        assert srv.dispatch("POST", base, {"id": "x", "vector": vec},
                            {}) == (400, {"error": msg})
    assert srv.db.collection(name).version == 0


# ------------------------------------------- _live_ids vs merge-on-read --

_POOL = 8  # ids 0..7; the probe adds two that are never written


def _live_ids_ops():
    ids = st.lists(st.integers(0, _POOL - 1), min_size=1, max_size=4,
                   unique=True)
    return st.lists(st.one_of(
        st.tuples(st.just("insert"), ids, st.sampled_from(["df", "table"]),
                  st.booleans()),
        st.tuples(st.just("upsert"), ids, st.sampled_from(["df", "table"]),
                  st.booleans()),
        st.tuples(st.just("delete_ids"), ids),
        st.tuples(st.just("delete_filter"), st.integers(0, 2)),
        st.tuples(st.just("update_metadata"), st.integers(0, 2),
                  st.integers(0, 2)),
        st.tuples(st.just("compact")),
    ), min_size=3, max_size=6)


@pytest.mark.parametrize("kind", ["string_id", "long_id", "default_ttl"])
def test_live_ids_matches_df(spark, tmp_path_factory, kind):
    """After every step of a random mutation sequence, _live_ids(probe)
    is exactly the probe ids df() shows — across segments, tombstones,
    compaction, and (default TTL) rows inserted both already expired
    and unexpired."""
    id_type = "long" if kind == "long_id" else "string"
    schema = f"id {id_type}, vector array<float>, g long"
    key = int if kind == "long_id" else (lambda i: f"v{i}")
    probe = [key(i) for i in range(_POOL + 2)]

    def batch(ids, form):
        rows = [(key(i), [float(i), 1.0], i % 3) for i in ids]
        if form == "df":
            return spark.createDataFrame(rows, schema)
        return pa.table({
            "id": pa.array([r[0] for r in rows],
                           pa.int64() if kind == "long_id" else pa.string()),
            "vector": pa.array([r[1] for r in rows],
                               pa.list_(pa.float32())),
            "g": pa.array([r[2] for r in rows], pa.int64())})

    @settings(max_examples=3, deadline=None, derandomize=True,
              suppress_health_check=list(HealthCheck))
    @given(ops=_live_ids_ops())
    def run(ops):
        coll = Collection.create(
            spark, str(tmp_path_factory.mktemp(kind)), dims=2,
            schema=schema,
            default_ttl_seconds=3600 if kind == "default_ttl" else None)
        now_ms = int(time.time() * 1000)
        # every sequence starts from rows stamped expired and unexpired,
        # from both batch forms, in two segments
        start = [("insert", [0, 1, 2], "table", True),
                 ("insert", [3, 4, 5], "df", False)]
        for op in start + ops:
            # expired = stamped an hour and more before the wall clock
            stamp = lambda expired: 0 if expired else now_ms  # noqa: E731
            if op[0] == "insert":
                try:
                    coll.insert(batch(op[1], op[2]), now_ms=stamp(op[3]))
                except CollectionError as e:
                    assert "ids already exist" in str(e)
            elif op[0] == "upsert":
                coll.upsert(batch(op[1], op[2]), now_ms=stamp(op[3]))
            elif op[0] == "delete_ids":
                coll.delete(ids=[key(i) for i in op[1]])
            elif op[0] == "delete_filter":
                coll.delete({"g": op[1]})
            elif op[0] == "update_metadata":
                coll.update_metadata({"g": op[1]}, {"g": op[2]})
            else:
                coll.compact()
            want = {r[0] for r in coll.df().select("id").collect()}
            assert coll._live_ids(probe) == want, op

    run()
