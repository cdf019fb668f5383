"""What the REST server's /metrics shows about serving, and what a scrape
costs: index-to-Spark fallbacks of search are counted by reason, a scrape
starts no Spark job and reads the live count from the segments' id
columns, and a serving index's resident bytes are the kind="index"
memory gauge."""

import re
import time

import pyarrow as pa
import pytest

from needle_spark.catalog import Database
from needle_spark.server import RestServer


def _scrape(srv) -> str:
    status, out = srv.dispatch("GET", "/metrics", None, {})
    assert status == 200
    return out.body


def _value(text: str, name: str, **labels) -> float | None:
    want = ",".join(f'{k}="{v}"' for k, v in sorted(labels.items()))
    m = re.search(rf"^{name}\{{{re.escape(want)}\}} (\S+)$", text, re.M)
    return None if m is None else float(m.group(1))


def _call(srv, method, path, body=None, expect=200):
    status, out = srv.dispatch(method, path, body, {})
    assert status == expect, (status, out)
    return out


@pytest.fixture(scope="module")
def indexed(spark, tmp_path_factory):
    srv = RestServer(Database(spark, str(tmp_path_factory.mktemp("obs"))))
    _call(srv, "POST", "/collections", {"name": "c", "dimensions": 4},
          expect=201)
    _call(srv, "POST", "/collections/c/vectors/batch",
          {"vectors": [{"id": f"p{i}",
                        "vector": [1.0, i / 40, (i % 7) / 7, 0.5],
                        "metadata": {"tag": "even" if i % 2 else "odd",
                                     "lang": "en" if i % 3 else "fr"}}
                       for i in range(40)]}, expect=201)
    built = _call(srv, "POST", "/collections/c/index",
                  {"tier": "ivf", "codes": "sq8", "nlist": 4, "nprobe": 4,
                   "meta_fields": ["tag"]})
    return srv, built


def test_search_fallbacks_counted_by_reason(indexed):
    srv, built = indexed
    vec = [1.0, 0.2, 0.3, 0.5]

    def search(**extra):
        return _call(srv, "POST", "/collections/c/search",
                     {"vector": vec, "k": 3, **extra})

    res = search(filter={"tag": "odd"})
    assert res["served_by"] == "index"
    assert _value(_scrape(srv), "needle_search_fallbacks_total",
                  collection="c", reason="filter") is None
    # an unpinned field is answered by the Spark path, and counted
    res = search(filter={"lang": "fr"})
    assert "served_by" not in res and len(res["results"]) == 3
    assert _value(_scrape(srv), "needle_search_fallbacks_total",
                  collection="c", reason="filter") == 1
    search(filter={"tag": "odd"})  # a pinned tag again: not counted
    last = search()["results"][-1]
    search(search_after={"distance": last["distance"], "id": last["id"]})
    search(post_filter={"lang": "en"})
    search(include_vectors=True)
    search(distance="dot")
    text = _scrape(srv)
    for reason in ("filter", "search_after", "post_filter",
                   "include_vectors", "metric"):
        assert _value(text, "needle_search_fallbacks_total",
                      collection="c", reason=reason) == 1, reason


def test_index_memory_gauge(indexed):
    srv, _ = indexed
    idx = srv._indexes["c"][0]
    _call(srv, "POST", "/collections/c/search",
          {"vector": [1.0, 0.2, 0.3, 0.5], "k": 3})
    got = _value(_scrape(srv), "needle_collection_memory_bytes",
                 collection="c", kind="index")
    assert got == idx.memory_bytes() > 0


def test_scrape_starts_no_job_and_counts_like_df(spark, tmp_path,
                                                 spark_jobs):
    srv = RestServer(Database(spark, str(tmp_path / "db")))
    db = srv.db
    coll = db.create_collection(
        "ttl", dims=2, schema="id string, vector array<float>",
        default_ttl_seconds=3600)
    plain = db.create_collection(
        "plain", dims=2, schema="id long, vector array<float>")

    def rows(ids, long_ids=False):
        return pa.table({
            "id": pa.array(ids, pa.int64() if long_ids else pa.string()),
            "vector": pa.array([[float(i), 1.0] for i in range(len(ids))],
                               pa.list_(pa.float32()))})

    now_ms = int(time.time() * 1000)
    coll.insert(rows(["a", "b", "c"]), now_ms=now_ms)
    coll.insert(rows(["x", "y"]), now_ms=0)  # expired an hour ago
    coll.upsert(rows(["b", "d"]), now_ms=now_ms)
    coll.delete(ids=["c", "x"])
    plain.insert(spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(6)],
        "id long, vector array<float>"))
    plain.upsert(rows([4, 5, 6], long_ids=True))
    plain.delete(ids=[0])
    empty = db.create_collection("empty", dims=2)
    want = {c.path.rstrip("/").rsplit("/", 1)[-1]: c.df().count()
            for c in (coll, plain, empty)}
    assert want == {"ttl": 3, "plain": 6, "empty": 0}
    with spark_jobs() as jobs:
        text = _scrape(srv)
    assert jobs.n == 0
    for name, n in want.items():
        assert _value(text, "needle_collection_vectors_total",
                      collection=name) == n, name
        assert _value(text, "needle_collection_memory_bytes",
                      collection=name, kind="index") == 0
