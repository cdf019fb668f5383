"""Spark jobs on the REST write path: serving-index adds for pinned meta
fields run in-process, Collection.df() reads object schemas from the
Parquet footers, and insert checks its batch in one action under the
commit lock without losing any of its four rejections."""

import json
import math
import os
import urllib.error
import urllib.request

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import needle_spark.catalog as catalog
from needle_spark.catalog import Collection, CollectionError, Database
from needle_spark.server import RestServer, _pinned_values

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
    want = [r[0] for r in srv._rows_df(payload).select(
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

def test_insert_rejections_keep_message_and_version(spark, tmp_path):
    path = str(tmp_path / "rej")
    coll = Collection.create(spark, path, dims=2, schema=SCHEMA)
    coll.insert(spark.createDataFrame([("a", [1.0, 0.0], None)], SCHEMA))
    cases = [
        ([("b", [1.0, 0.0, 0.0], None)], "dimension mismatch: expected 2"),
        ([("b", [float("nan"), 0.0], None)], "vector contains NaN or Inf"),
        ([("b", [float("inf"), 0.0], None)], "vector contains NaN or Inf"),
        ([("b", [1.0, 0.0], None), ("b", [0.0, 1.0], None)],
         "duplicate ids within batch"),
        ([("a", [0.0, 1.0], None), ("c", [0.0, 1.0], None)],
         "1 ids already exist"),
    ]
    for rows, msg in cases:
        with pytest.raises(CollectionError, match=msg):
            coll.insert(spark.createDataFrame(rows, SCHEMA))
        assert Collection(spark, path).version == coll.version == 1
    # an id committed by another instance between parse and commit
    rows = spark.createDataFrame([("late", [0.0, 1.0], None)], SCHEMA)
    Collection(spark, path).insert(
        spark.createDataFrame([("late", [1.0, 1.0], None)], SCHEMA))
    with pytest.raises(CollectionError, match="1 ids already exist"):
        coll.insert(rows)
    assert Collection(spark, path).version == 2
    assert coll.count() == 2
    assert coll.insert(spark.createDataFrame(
        [("d", [1.0, 1.0], None), ("e", [1.0, 2.0], None)], SCHEMA)) == 2
