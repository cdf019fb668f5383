"""End-to-end REST shim tests (needle_spark/server.py): real HTTP over
an ephemeral port against a real Database — every handler is exercised
through urllib, mirroring how a needle user would hit the reference's
server routes (src/server/mod.rs:462-568)."""

import json
import urllib.error
import urllib.request

import pytest

from needle_spark.catalog import Database
from needle_spark.server import RestServer, distance_to_score


@pytest.fixture(scope="module")
def srv(spark, tmp_path_factory):
    db = Database(spark, str(tmp_path_factory.mktemp("restdb")))
    s = RestServer(db).start()
    yield s
    s.stop()


def call(srv, method, path, body=None, expect=None):
    req = urllib.request.Request(
        srv.url + path,
        data=None if body is None else json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method=method)
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            status, payload = resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        status, payload = e.code, json.loads(e.read())
    if expect is not None:
        assert status == expect, (status, payload)
    return payload


def test_health_and_collection_lifecycle(srv):
    assert call(srv, "GET", "/health", expect=200) == {"status": "ok"}
    call(srv, "POST", "/collections",
         {"name": "docs", "dimensions": 3}, expect=201)
    assert "docs" in call(srv, "GET", "/collections")["collections"]
    info = call(srv, "GET", "/collections/docs", expect=200)
    assert info == {"name": "docs", "dimensions": 3, "count": 0}
    # duplicate create -> 400; unknown collection -> 404
    call(srv, "POST", "/collections",
         {"name": "docs", "dimensions": 3}, expect=400)
    call(srv, "GET", "/collections/nope", expect=404)
    call(srv, "POST", "/collections", {"name": "x"}, expect=400)


def test_vector_crud_and_search(srv):
    call(srv, "POST", "/collections",
         {"name": "vecs", "dimensions": 2}, expect=201)
    call(srv, "POST", "/collections/vecs/vectors",
         {"id": "a", "vector": [1.0, 0.0],
          "metadata": {"lang": "en", "n": 1}}, expect=201)
    call(srv, "POST", "/collections/vecs/vectors/batch",
         {"vectors": [
             {"id": "b", "vector": [0.9, 0.1], "metadata": {"lang": "en"}},
             {"id": "c", "vector": [0.0, 1.0], "metadata": {"lang": "fr"}},
             {"id": "d", "vector": [-1.0, 0.0]},
         ]}, expect=201)
    assert call(srv, "GET", "/collections/vecs")["count"] == 4

    got = call(srv, "GET", "/collections/vecs/vectors/a", expect=200)
    assert got["metadata"] == {"lang": "en", "n": 1}
    call(srv, "GET", "/collections/vecs/vectors/zz", expect=404)

    # search: nearest to [1, 0] is a, then b; scores follow the
    # reference's distance_to_score mapping
    res = call(srv, "POST", "/collections/vecs/search",
               {"vector": [1.0, 0.0], "k": 2}, expect=200)
    ids = [r["id"] for r in res["results"]]
    assert ids == ["a", "b"]
    for r in res["results"]:
        assert r["score"] == pytest.approx(
            distance_to_score(r["distance"], "cosine"))
    # metadata filter narrows to lang=fr
    res = call(srv, "POST", "/collections/vecs/search",
               {"vector": [1.0, 0.0], "k": 10,
                "filter": {"lang": "fr"}}, expect=200)
    assert [r["id"] for r in res["results"]] == ["c"]
    # cursor pagination: page 2 continues after page 1's last hit
    p1 = call(srv, "POST", "/collections/vecs/search",
              {"vector": [1.0, 0.0], "k": 2})
    p2 = call(srv, "POST", "/collections/vecs/search",
              {"vector": [1.0, 0.0], "k": 2,
               "search_after": p1["next_cursor"]})
    assert [r["id"] for r in p2["results"]] == ["c", "d"]

    # batch search: one list of results per query, ranked
    res = call(srv, "POST", "/collections/vecs/search/batch",
               {"queries": [[1.0, 0.0], [0.0, 1.0]], "k": 1}, expect=200)
    assert [[r["id"] for r in page] for page in res["results"]] == \
        [["a"], ["c"]]

    # radius search
    res = call(srv, "POST", "/collections/vecs/search/radius",
               {"vector": [1.0, 0.0], "radius": 0.02}, expect=200)
    assert [r["id"] for r in res["results"]] == ["a", "b"]

    # metadata query + count
    res = call(srv, "POST", "/collections/vecs/query",
               {"filter": {"lang": "en"}}, expect=200)
    assert [r["id"] for r in res["results"]] == ["a", "b"]
    assert call(srv, "POST", "/collections/vecs/count",
                {"filter": {"lang": {"$exists": True}}})["count"] == 3
    assert call(srv, "POST", "/collections/vecs/count", {})["count"] == 4

    # recommend: positive a,b -> nearest non-example
    res = call(srv, "POST", "/collections/vecs/recommend",
               {"positive": ["a", "b"], "k": 1}, expect=200)
    assert [r["id"] for r in res["results"]] == ["c"]

    # delete by filter, then by id, then batch
    assert call(srv, "DELETE", "/collections/vecs/vectors/filter",
                {"filter": {"lang": "fr"}})["deleted"] == 1
    assert call(srv, "DELETE", "/collections/vecs/vectors/a",
                expect=200)["deleted"] == 1
    call(srv, "DELETE", "/collections/vecs/vectors/a", expect=404)
    assert call(srv, "POST", "/collections/vecs/vectors/delete-batch",
                {"ids": ["b", "d"]})["deleted"] == 2
    assert call(srv, "GET", "/collections/vecs")["count"] == 0


def test_changes_snapshots_aliases(srv):
    call(srv, "POST", "/collections",
         {"name": "feed", "dimensions": 2}, expect=201)
    call(srv, "POST", "/collections/feed/vectors/batch",
         {"vectors": [{"id": f"v{i}", "vector": [float(i), 0.0]}
                      for i in range(5)]}, expect=201)
    ch = call(srv, "GET", "/collections/feed/changes?since=-1&limit=3",
              expect=200)
    assert len(ch["changes"]) == 3
    assert [c["sequence"] for c in ch["changes"]] == [0, 1, 2]
    ch2 = call(srv, "GET",
               f"/collections/feed/changes?since={ch['next_since']}")
    assert [c["sequence"] for c in ch2["changes"]] == [3, 4]
    assert all(c["event_type"] == "insert" for c in ch2["changes"])

    call(srv, "POST", "/collections/feed/snapshots",
         {"name": "before"}, expect=200)
    call(srv, "POST", "/collections/feed/vectors",
         {"id": "extra", "vector": [9.0, 9.0]}, expect=201)
    assert call(srv, "GET", "/collections/feed")["count"] == 6
    call(srv, "POST", "/collections/feed/snapshots/before/restore",
         expect=200)
    assert call(srv, "GET", "/collections/feed")["count"] == 5
    snaps = call(srv, "GET", "/collections/feed/snapshots")["snapshots"]
    assert "before" in snaps

    call(srv, "POST", "/aliases",
         {"alias": "current", "target": "feed"}, expect=200)
    assert call(srv, "GET", "/aliases")["aliases"] == {"current": "feed"}
    assert call(srv, "GET", "/collections/current")["count"] == 5
    call(srv, "DELETE", "/aliases/current", expect=200)
    assert call(srv, "GET", "/aliases")["aliases"] == {}

    # clear + drop
    call(srv, "POST", "/collections/feed/clear", expect=200)
    assert call(srv, "GET", "/collections/feed")["count"] == 0
    call(srv, "DELETE", "/collections/feed", expect=200)
    call(srv, "GET", "/collections/feed", expect=404)


def test_bad_requests(srv):
    call(srv, "POST", "/collections",
         {"name": "errs", "dimensions": 2}, expect=201)
    call(srv, "POST", "/collections/errs/search", {"k": 5}, expect=400)
    call(srv, "POST", "/collections/errs/vectors",
         {"vector": [1.0, 0.0]}, expect=400)
    call(srv, "POST", "/collections/errs/vectors/delete-batch",
         {"ids": []}, expect=400)
    call(srv, "DELETE", "/collections/errs/vectors/filter", {}, expect=400)
    call(srv, "GET", "/nope", expect=404)
    # dimension mismatch surfaces as 400, not a hang/500
    call(srv, "POST", "/collections/errs/vectors",
         {"id": "x", "vector": [1.0, 0.0, 3.0]}, expect=400)


def test_text_routes_and_stats(srv):
    call(srv, "POST", "/collections",
         {"name": "texts", "dimensions": 8}, expect=201)
    call(srv, "POST", "/collections/texts/texts",
         {"id": "t1", "text": "the quick brown fox",
          "metadata": {"lang": "en"}}, expect=201)
    call(srv, "POST", "/collections/texts/texts/batch",
         {"texts": [{"id": "t2", "text": "jumps over the lazy dog"},
                    {"id": "t3", "text": "the quick brown foxes"}]},
         expect=201)
    # text search: identical text embeds identically -> distance 0 hit
    res = call(srv, "POST", "/collections/texts/texts/search",
               {"text": "the quick brown fox", "k": 2}, expect=200)
    assert res["results"][0]["id"] == "t1"
    assert res["results"][0]["distance"] == pytest.approx(0.0, abs=1e-6)
    # stored text rides in metadata
    got = call(srv, "GET", "/collections/texts/vectors/t1")
    assert got["metadata"]["text"] == "the quick brown fox"
    assert got["metadata"]["lang"] == "en"

    stats = call(srv, "GET", "/collections/texts/stats/fields", expect=200)
    assert stats["count"] == 3
    assert stats["fields"]["text"] == 3 and stats["fields"]["lang"] == 1

    exp = call(srv, "GET", "/collections/texts/export?limit=2", expect=200)
    assert exp["count"] == 2 and len(exp["vectors"][0]["vector"]) == 8

    ttl = call(srv, "GET", "/collections/texts/ttl-stats", expect=200)
    assert ttl == {"total": 3, "with_ttl": 0, "expired": 0}
    assert call(srv, "POST", "/collections/texts/expire",
                {})["expired"] == 0

    # near-dup scan finds no pairs at tiny threshold, then the
    # duplicate pair when we insert an exact copy
    call(srv, "POST", "/collections/texts/texts",
         {"id": "t1copy", "text": "the quick brown fox"}, expect=201)
    pairs = call(srv, "POST", "/collections/texts/dedup/scan",
                 {"threshold": 1e-6}, expect=200)["pairs"]
    assert [(p["id1"], p["id2"]) for p in pairs] == [("t1", "t1copy")]

    # method=lsh (round 6): SRP-banded candidates + exact verify must
    # find the identical-text pair too, and bad methods 400 cleanly
    lsh = call(srv, "POST", "/collections/texts/dedup/scan",
               {"threshold": 1e-6, "method": "lsh"}, expect=200)["pairs"]
    assert [(p["id1"], p["id2"]) for p in lsh] == [("t1", "t1copy")]
    call(srv, "POST", "/collections/texts/dedup/scan",
         {"method": "nope"}, expect=400)

    audit = call(srv, "GET", "/collections/texts/audit-log", expect=200)
    ins = [b for b in audit["buckets"] if b["event_type"] == "insert"]
    assert sum(b["n_events"] for b in ins) == 4


def test_serving_index_lifecycle(srv):
    import math
    call(srv, "POST", "/collections",
         {"name": "idx", "dimensions": 4}, expect=201)
    vecs = [{"id": f"p{i}",
             "vector": [math.cos(i * 0.37), math.sin(i * 0.37),
                        math.cos(i * 0.11), math.sin(i * 0.11)]}
            for i in range(60)]
    call(srv, "POST", "/collections/idx/vectors/batch",
         {"vectors": vecs}, expect=201)
    assert call(srv, "GET", "/collections/idx/index/status") == \
        {"indexed": False}
    built = call(srv, "POST", "/collections/idx/index",
                 {"nprobe": 4}, expect=200)
    assert built["rows"] == 60
    st = call(srv, "GET", "/collections/idx/index/status")
    assert st["indexed"] and st["main_rows"] == 60

    # indexed search serves driver-local and agrees with the exact
    # path at full probe
    qv = vecs[7]["vector"]
    fast = call(srv, "POST", "/collections/idx/search",
                {"vector": qv, "k": 5, "nprobe": built["nlist"]})
    assert fast.get("served_by") == "index"
    assert fast["results"][0]["id"] == "p7"
    # a filtered search bypasses the index (exact path)
    slow = call(srv, "POST", "/collections/idx/search",
                {"vector": qv, "k": 5, "filter": {"id": {"$exists": False}}})
    assert "served_by" not in slow

    # incremental: REST writes flow into the index
    call(srv, "POST", "/collections/idx/vectors",
         {"id": "new", "vector": qv}, expect=201)
    st = call(srv, "GET", "/collections/idx/index/status")
    # REST single inserts take the driver-local write path (add_local)
    # and sit in the local buffer until a distributed path flushes them
    assert st["delta_rows"] + st["local_pending_rows"] >= 1
    fast = call(srv, "POST", "/collections/idx/search",
                {"vector": qv, "k": 2, "nprobe": built["nlist"]})
    assert {r["id"] for r in fast["results"]} == {"p7", "new"}
    call(srv, "DELETE", "/collections/idx/vectors/new", expect=200)
    fast = call(srv, "POST", "/collections/idx/search",
                {"vector": qv, "k": 2, "nprobe": built["nlist"]})
    assert "new" not in {r["id"] for r in fast["results"]}
    st = call(srv, "GET", "/collections/idx/index/status")
    assert st["deleted_pending"] >= 1

    # bulk rewrite invalidates; drop removes
    call(srv, "POST", "/collections/idx/clear", expect=200)
    assert call(srv, "GET", "/collections/idx/index/status") == \
        {"indexed": False}
    assert call(srv, "DELETE", "/collections/idx/index")["dropped"] is False


def test_ql_route(srv):
    call(srv, "POST", "/ql",
         {"ql": "CREATE COLLECTION qldocs (dims=2)"}, expect=200)
    call(srv, "POST", "/collections/qldocs/vectors/batch",
         {"vectors": [
             {"id": "a", "vector": [1.0, 0.0], "metadata": {"lang": "en"}},
             {"id": "b", "vector": [0.0, 1.0], "metadata": {"lang": "fr"}},
         ]}, expect=201)
    res = call(srv, "POST", "/ql",
               {"ql": "SELECT id, distance FROM qldocs "
                      "WHERE vector SIMILAR TO $q LIMIT 1",
                "params": {"q": [1.0, 0.0]}}, expect=200)
    assert [r["id"] for r in res["rows"]] == ["a"]
    shown = call(srv, "POST", "/ql", {"ql": "SHOW COLLECTIONS"})
    assert "qldocs" in shown["collections"]
    call(srv, "POST", "/ql", {"ql": "DROP COLLECTION qldocs"}, expect=200)
    call(srv, "POST", "/ql", {"ql": "SELECT * FRO"}, expect=400)
    call(srv, "POST", "/ql", {}, expect=400)


def test_sse_change_stream(srv):
    call(srv, "POST", "/collections",
         {"name": "sse", "dimensions": 2}, expect=201)
    call(srv, "POST", "/collections/sse/vectors/batch",
         {"vectors": [{"id": f"e{i}", "vector": [float(i), 0.0]}
                      for i in range(3)]}, expect=201)
    req = urllib.request.Request(
        srv.url + "/collections/sse/changes/stream?since=-1&timeout=2")
    with urllib.request.urlopen(req, timeout=30) as resp:
        assert resp.headers["Content-Type"] == "text/event-stream"
        body = resp.read().decode()
    frames = [json.loads(line[len("data: "):])
              for line in body.split("\n") if line.startswith("data: ")]
    assert [f["sequence"] for f in frames] == [0, 1, 2]
    assert all(f["event_type"] == "insert" for f in frames)
    # unknown collection -> 404, not a hang
    try:
        urllib.request.urlopen(
            srv.url + "/collections/nope/changes/stream?timeout=1",
            timeout=30)
        assert False, "expected 404"
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_estimate_benchmark_save(srv):
    call(srv, "POST", "/collections",
         {"name": "est", "dimensions": 2}, expect=201)
    call(srv, "POST", "/collections/est/vectors/batch",
         {"vectors": [{"id": f"x{i}", "vector": [float(i), 1.0]}
                      for i in range(30)]}, expect=201)
    est = call(srv, "POST", "/collections/est/search/estimate",
               {"vector": [1.0, 1.0]}, expect=200)
    assert est["strategy"] == "exact_scan" and est["rows"] == 30
    call(srv, "POST", "/collections/est/index", {"nprobe": 2}, expect=200)
    est = call(srv, "POST", "/collections/est/search/estimate",
               {"vector": [1.0, 1.0]}, expect=200)
    assert est["strategy"] == "ivf_index"
    assert est["estimated_candidates"] < 30
    # filtered searches fall back to the exact scan
    est = call(srv, "POST", "/collections/est/search/estimate",
               {"vector": [1.0, 1.0], "filter": {"id": "x1"}})
    assert est["strategy"] == "exact_scan"

    bm = call(srv, "POST", "/collections/est/benchmark",
              {"queries": 5, "k": 3}, expect=200)
    assert bm["queries"] == 5 and bm["p50_ms"] > 0
    # indexed path served these: sub-100ms even on a cold JVM
    assert bm["p50_ms"] < 1000

    assert call(srv, "POST", "/save", {}, expect=200)["saved"] is True
    call(srv, "DELETE", "/collections/est/index", expect=200)


def test_batch_search_served_by_index(srv):
    import math
    call(srv, "POST", "/collections",
         {"name": "bidx", "dimensions": 3}, expect=201)
    call(srv, "POST", "/collections/bidx/vectors/batch",
         {"vectors": [{"id": f"v{i}",
                       "vector": [math.cos(i), math.sin(i), 1.0]}
                      for i in range(40)]}, expect=201)
    slow = call(srv, "POST", "/collections/bidx/search/batch",
                {"queries": [[math.cos(3), math.sin(3), 1.0],
                             [math.cos(9), math.sin(9), 1.0]], "k": 2})
    assert "served_by" not in slow
    built = call(srv, "POST", "/collections/bidx/index", {}, expect=200)
    fast = call(srv, "POST", "/collections/bidx/search/batch",
                {"queries": [[math.cos(3), math.sin(3), 1.0],
                             [math.cos(9), math.sin(9), 1.0]], "k": 2,
                 "nprobe": built["nlist"]})
    assert fast["served_by"] == "index"
    assert [p[0]["id"] for p in fast["results"]] == \
        [p[0]["id"] for p in slow["results"]]
    call(srv, "DELETE", "/collections/bidx/index", expect=200)


def test_filtered_search_served_by_index(srv):
    import math
    call(srv, "POST", "/collections",
         {"name": "fidx", "dimensions": 3}, expect=201)
    call(srv, "POST", "/collections/fidx/vectors/batch",
         {"vectors": [{"id": f"w{i}",
                       "vector": [math.cos(i * .31), math.sin(i * .31), 1.0],
                       "metadata": {"lang": "en" if i % 2 else "fr"}}
                      for i in range(50)]}, expect=201)
    built = call(srv, "POST", "/collections/fidx/index",
                 {"meta_fields": ["lang"]}, expect=200)
    assert built["meta_fields"] == ["lang"]
    qv = [math.cos(7 * .31), math.sin(7 * .31), 1.0]
    # tag filter routes through the index and only matching docs return
    fast = call(srv, "POST", "/collections/fidx/search",
                {"vector": qv, "k": 5, "filter": {"lang": "en"},
                 "nprobe": built["nlist"]}, expect=200)
    assert fast.get("served_by") == "index"
    ids = [r["id"] for r in fast["results"]]
    assert ids[0] == "w7" and all(int(i[1:]) % 2 for i in ids)
    # agreement with the exact Spark path on the same filter
    slow = call(srv, "POST", "/collections/fidx/search",
                {"vector": qv, "k": 5, "filter": {"lang": "en"},
                 "post_filter_factor": 1, "post_filter": None,
                 "include_vectors": True})  # include_vectors forces exact
    assert "served_by" not in slow
    assert [r["id"] for r in slow["results"]] == ids
    # unindexed field or non-tag spec falls back to the exact path
    other = call(srv, "POST", "/collections/fidx/search",
                 {"vector": qv, "k": 5, "filter": {"missing": "x"}})
    assert "served_by" not in other
    # incremental adds are filter-visible
    call(srv, "POST", "/collections/fidx/vectors",
         {"id": "new_en", "vector": qv, "metadata": {"lang": "en"}},
         expect=201)
    fast = call(srv, "POST", "/collections/fidx/search",
                {"vector": qv, "k": 2, "filter": {"lang": "en"},
                 "nprobe": built["nlist"]})
    assert "new_en" in [r["id"] for r in fast["results"]]
    fr = call(srv, "POST", "/collections/fidx/search",
              {"vector": qv, "k": 50, "filter": {"lang": "fr"},
               "nprobe": built["nlist"]})
    assert "new_en" not in [r["id"] for r in fr["results"]]
    call(srv, "DELETE", "/collections/fidx/index", expect=200)


def test_server_matrix_parity(srv):
    """Mirrors the reference's server test matrix
    (tests/server_tests.rs): info/root endpoints, duplicate-id insert
    rejection, list_vectors paging, metadata merge-patch, empty-
    collection search, nonexistent-collection search, compact."""
    assert call(srv, "GET", "/", expect=200)["status"] == "ok"
    info = call(srv, "GET", "/info", expect=200)
    assert info["name"] == "needle-spark" and "collections" in info

    call(srv, "POST", "/collections",
         {"name": "matrix", "dimensions": 4}, expect=201)
    # search over an empty collection returns empty, not an error
    res = call(srv, "POST", "/collections/matrix/search",
               {"vector": [1.0, 0.0, 0.0, 0.0]}, expect=200)
    assert res["results"] == []
    call(srv, "POST", "/collections/ghost/search",
         {"vector": [1.0]}, expect=404)

    call(srv, "POST", "/collections/matrix/vectors",
         {"id": "vec1", "vector": [0.1, 0.2, 0.3, 0.4],
          "metadata": {"version": 1}}, expect=201)
    # duplicate id rejected (server_tests.rs:345)
    call(srv, "POST", "/collections/matrix/vectors",
         {"id": "vec1", "vector": [0.5, 0.5, 0.5, 0.5]}, expect=400)
    call(srv, "POST", "/collections/matrix/vectors/batch",
         {"vectors": [{"id": f"v{i:02d}",
                       "vector": [float(i), 0.0, 0.0, 1.0]}
                      for i in range(15)]}, expect=201)

    # list_vectors pages in id order
    page = call(srv, "GET",
                "/collections/matrix/vectors?limit=5&offset=2",
                expect=200)
    assert page["count"] == 16 and len(page["ids"]) == 5
    assert page["ids"] == ["v02", "v03", "v04", "v05", "v06"]

    # metadata merge-patch: new keys merge in, old keys survive
    call(srv, "POST", "/collections/matrix/vectors/vec1/metadata",
         {"metadata": {"version": 2, "updated": True}}, expect=200)
    got = call(srv, "GET", "/collections/matrix/vectors/vec1")
    assert got["metadata"] == {"version": 2, "updated": True}
    call(srv, "POST", "/collections/matrix/vectors/nope/metadata",
         {"metadata": {"a": 1}}, expect=404)

    # upsert updates in place (server_tests.rs:821)
    call(srv, "POST", "/collections/matrix/vectors/upsert",
         {"id": "vec1", "vector": [9.0, 0.0, 0.0, 0.0]}, expect=201)
    assert call(srv, "GET",
                "/collections/matrix/vectors/vec1")["vector"][0] == 9.0
    assert call(srv, "GET", "/collections/matrix")["count"] == 16

    call(srv, "POST", "/collections/matrix/compact", expect=200)
    assert call(srv, "GET", "/collections/matrix")["count"] == 16


def test_concurrent_readers_and_writers(srv):
    """Mirrors tests/concurrent_tests.rs (readers, mixed read/write,
    delete-during-search): parallel HTTP clients never see errors or
    torn state — searches return consistent top-k while inserts and
    deletes commit, and the final count is exact."""
    import threading

    call(srv, "POST", "/collections",
         {"name": "conc", "dimensions": 2}, expect=201)
    call(srv, "POST", "/collections/conc/vectors/batch",
         {"vectors": [{"id": f"base{i}", "vector": [float(i), 1.0]}
                      for i in range(20)]}, expect=201)
    errors: list = []

    def reader():
        for _ in range(8):
            try:
                res = call(srv, "POST", "/collections/conc/search",
                           {"vector": [3.0, 1.0], "k": 5})
                assert 1 <= len(res["results"]) <= 5
                assert all("id" in r and "distance" in r
                           for r in res["results"])
            except Exception as e:  # pragma: no cover
                errors.append(e)

    def writer(wid):
        try:
            call(srv, "POST", "/collections/conc/vectors/batch",
                 {"vectors": [{"id": f"w{wid}_{j}",
                               "vector": [float(j), 2.0]}
                              for j in range(5)]}, expect=201)
            call(srv, "POST", "/collections/conc/vectors/delete-batch",
                 {"ids": [f"w{wid}_0"]}, expect=200)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(4)] + \
              [threading.Thread(target=writer, args=(w,)) for w in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert errors == []
    # 20 base + 3 writers x (5 - 1 deleted)
    assert call(srv, "GET", "/collections/conc")["count"] == 32


# ---------------------------------------------------------------------------
# round-5 server-matrix parity: search variants, cache, memory, diffs,
# webhooks, MCP, status surfaces (server/mod.rs:483-577)


def raw_call(srv, path, expect=200):
    """GET a non-JSON route (metrics text / dashboard HTML)."""
    req = urllib.request.Request(srv.url + path, method="GET")
    with urllib.request.urlopen(req, timeout=60) as resp:
        assert resp.status == expect
        return resp.headers.get("Content-Type", ""), resp.read().decode()


@pytest.fixture(scope="module")
def seeded(srv):
    """A 4-dim collection with links metadata, used across variants."""
    call(srv, "POST", "/collections",
         {"name": "var", "dimensions": 4}, expect=201)
    call(srv, "POST", "/collections/var/vectors/batch", {"vectors": [
        {"id": "a", "vector": [1, 0, 0, 0],
         "metadata": {"name": "A", "links": ["b", "c"]}},
        {"id": "b", "vector": [0.9, 0.1, 0, 0], "metadata": {"name": "B"}},
        {"id": "c", "vector": [0, 0, 1, 0], "metadata": {"name": "C"}},
        {"id": "d", "vector": [0, 0, 0, 1]}]}, expect=201)
    return "var"


def test_search_matryoshka(srv, seeded):
    out = call(srv, "POST", f"/collections/{seeded}/search/matryoshka",
               {"vector": [1, 0, 0, 0], "k": 2, "coarse_dims": 2},
               expect=200)
    assert out["count"] == 2 and out["coarse_dims"] == 2
    assert out["results"][0]["id"] == "a"
    assert "coarse_distance" in out["results"][0]
    assert out["results"][0]["metadata"]["name"] == "A"
    call(srv, "POST", f"/collections/{seeded}/search/matryoshka",
         {"vector": [1, 0, 0, 0], "coarse_dims": 99}, expect=400)


def test_search_graph(srv, seeded):
    out = call(srv, "POST", f"/collections/{seeded}/search/graph",
               {"vector": [1, 0, 0, 0], "k": 2, "max_hops": 2},
               expect=200)
    ids = {r["id"]: r for r in out["results"]}
    assert "a" in ids and ids["a"]["hop_count"] == 0
    assert ids["a"]["name"] == "A" and ids["a"]["path"] == ["a"]


def test_search_multimodal(srv, seeded):
    out = call(srv, "POST", f"/collections/{seeded}/search/multimodal",
               {"queries": {"text": [1, 0, 0, 0], "image": [0, 0, 1, 0]},
                "weights": {"text": 3.0}, "k": 2}, expect=200)
    assert out["modalities"] == 2 and out["count"] == 2
    # text weight 3x -> its top hit outranks image's
    assert out["results"][0]["id"] == "a"
    call(srv, "POST", f"/collections/{seeded}/search/multimodal",
         {"queries": {}}, expect=400)


def test_search_time_travel(srv):
    call(srv, "POST", "/collections",
         {"name": "tt", "dimensions": 2}, expect=201)
    call(srv, "POST", "/collections/tt/vectors/batch", {"vectors": [
        {"id": "x", "vector": [1, 0]}, {"id": "y", "vector": [0, 1]}]},
        expect=201)
    call(srv, "POST", "/collections/tt/snapshots", {"name": "before"},
         expect=200)
    call(srv, "DELETE", "/collections/tt/vectors/y", expect=200)
    # snapshot mode sees the deleted vector; "now" does not
    old = call(srv, "POST", "/collections/tt/search/time-travel",
               {"vector": [0, 1], "k": 1, "snapshot": "before"},
               expect=200)
    assert old["results"][0]["id"] == "y" and old["snapshot"] == "before"
    now = call(srv, "POST", "/collections/tt/search/time-travel",
               {"vector": [0, 1], "k": 1, "as_of_expression": "now"},
               expect=200)
    assert now["results"][0]["id"] == "x"
    call(srv, "POST", "/collections/tt/search/time-travel",
         {"vector": [0, 1], "k": 1, "snapshot": "nope"}, expect=404)
    call(srv, "POST", "/collections/tt/search/time-travel",
         {"vector": [0, 1], "k": 1}, expect=400)


def test_cache_store_and_lookup(srv, seeded):
    call(srv, "POST", f"/collections/{seeded}/cache/store",
         {"query": "what is needle", "response": "a vector db"},
         expect=200)
    hit = call(srv, "POST", f"/collections/{seeded}/cache/lookup",
               {"query": "what is needle"}, expect=200)
    assert hit["hit"] and hit["response"] == "a vector db"
    assert hit["similarity"] == 1.0
    miss = call(srv, "POST", f"/collections/{seeded}/cache/lookup",
                {"query": "entirely unrelated zq"}, expect=200)
    assert not miss["hit"]
    assert miss["stats"]["total_entries"] == 1


def test_ingest_and_auto_text(srv, seeded):
    out = call(srv, "POST", f"/collections/{seeded}/ingest",
               {"vectors": [{"id": "e", "vector": [1, 1, 1, 1]},
                            {"id": "bad", "vector": [1]},
                            {"vector": [2, 2, 2, 2]}],
                "sequence_id": 7}, expect=200)
    assert out["accepted"] == 1 and out["total"] == 3
    assert len(out["errors"]) == 2 and out["sequence_id"] == 7
    assert out["collection_size"] >= 5 and not out["backpressure"]
    call(srv, "POST", f"/collections/{seeded}/texts/auto",
         {"id": "t1", "text": "hello auto"}, expect=201)
    got = call(srv, "GET", f"/collections/{seeded}/vectors/t1",
               expect=200)
    assert got["metadata"]["text"] == "hello auto"


def test_snapshot_diff_and_vector_diff(srv):
    call(srv, "POST", "/collections",
         {"name": "dl", "dimensions": 2}, expect=201)
    call(srv, "POST", "/collections/dl/vectors/batch", {"vectors": [
        {"id": "p", "vector": [1, 0]}, {"id": "q", "vector": [0, 1]}]},
        expect=201)
    call(srv, "POST", "/collections/dl/snapshots", {"name": "v1"},
         expect=200)
    call(srv, "DELETE", "/collections/dl/vectors/q", expect=200)
    call(srv, "POST", "/collections/dl/vectors/upsert",
         {"id": "p", "vector": [0.5, 0.5]}, expect=201)
    call(srv, "POST", "/collections/dl/vectors",
         {"id": "r", "vector": [1, 1]}, expect=201)
    call(srv, "POST", "/collections/dl/snapshots", {"name": "v2"},
         expect=200)
    out = call(srv, "POST", "/collections/dl/snapshots/diff",
               {"from": "v1", "to": "v2"}, expect=200)
    assert out["summary"] == {"added": 1, "removed": 1, "modified": 1}
    assert out["added"] == ["r"] and out["removed"] == ["q"] \
        and out["modified"] == ["p"]
    call(srv, "POST", "/collections/dl/snapshots/diff",
         {"from": "v1", "to": "zz"}, expect=404)
    # cross-collection diff: dl vs a copy with one drift
    call(srv, "POST", "/collections",
         {"name": "dr", "dimensions": 2}, expect=201)
    call(srv, "POST", "/collections/dr/vectors/batch", {"vectors": [
        {"id": "p", "vector": [0.5, 0.5]}, {"id": "s", "vector": [2, 2]}]},
        expect=201)
    out = call(srv, "POST", "/collections/dl/diff",
               {"other_collection": "dr"}, expect=200)
    assert out["only_in_source"] == ["r"]
    assert out["only_in_target"] == ["s"]
    assert out["summary"]["modified"] == 0 and out["shared_count"] == 1


def test_memory_lifecycle(srv):
    call(srv, "POST", "/collections",
         {"name": "mem", "dimensions": 2}, expect=201)
    st = call(srv, "POST", "/collections/mem/memory/remember",
              {"content": "likes spark", "vector": [1, 0],
               "tier": "long_term", "importance": 0.9,
               "session_id": "s1"}, expect=201)
    assert st["stored"] and st["memory_id"].startswith("mem_")
    call(srv, "POST", "/collections/mem/memory/remember",
         {"content": "scratch note", "vector": [0, 1],
          "tier": "short_term", "importance": 0.1}, expect=201)
    rec = call(srv, "POST", "/collections/mem/memory/recall",
               {"vector": [1, 0], "k": 5, "tier": "long_term",
                "min_importance": 0.5}, expect=200)
    assert rec["count"] == 1
    assert rec["memories"][0]["content"] == "likes spark"
    assert rec["memories"][0]["session_id"] == "s1"
    call(srv, "DELETE",
         f"/collections/mem/memory/{st['memory_id']}/forget",
         expect=200)
    rec = call(srv, "POST", "/collections/mem/memory/recall",
               {"vector": [1, 0], "k": 5, "tier": "long_term"},
               expect=200)
    assert rec["count"] == 0
    call(srv, "DELETE", "/collections/mem/memory/ghost/forget",
         expect=404)


def test_advise_sync_delta_admin_audit(srv, seeded):
    adv = call(srv, "GET", f"/collections/{seeded}/advise", expect=200)
    assert adv["dimensions"] == 4
    strategies = {p["strategy"] for p in adv["previews"]}
    assert "exact_scan" in strategies and "ivf" in strategies
    delta = call(srv, "GET", "/sync/delta?from=0&replica_id=r1",
                 expect=200)
    assert delta["replica_id"] == "r1"
    assert delta["entry_count"] == len(delta["entries"]) > 0
    assert {"collection", "sequence", "event_type", "vector_id",
            "timestamp_ms"} <= set(delta["entries"][0])
    audit = call(srv, "GET", "/admin/audit-log?limit=10", expect=200)
    assert 0 < len(audit["events"]) <= 10
    only_ins = call(srv, "GET", "/admin/audit-log?action=insert",
                    expect=200)
    assert all(e["action"] == "insert" for e in only_ins["events"])


def test_webhook_routes(srv):
    wh = call(srv, "POST", "/webhooks",
              {"url": "http://example.invalid/hook",
               "event_types": ["insert"], "secret": "s3"}, expect=201)
    assert wh["active"]
    lst = call(srv, "GET", "/webhooks", expect=200)["webhooks"]
    assert any(w["id"] == wh["id"] and w["event_types"] == ["insert"]
               for w in lst)
    call(srv, "POST", "/webhooks", {"url": "ftp://nope"}, expect=400)
    out = call(srv, "DELETE", f"/webhooks/{wh['id']}", expect=200)
    assert out["deleted"]
    assert call(srv, "DELETE", f"/webhooks/{wh['id']}",
                expect=200)["deleted"] is False


def test_alias_get_and_update(srv, seeded):
    call(srv, "POST", "/aliases",
         {"alias": "prod", "target": seeded}, expect=200)
    assert call(srv, "GET", "/aliases/prod",
                expect=200)["target"] == seeded
    call(srv, "PUT", "/aliases/prod", {"target": seeded}, expect=200)
    call(srv, "GET", "/aliases/ghost", expect=404)
    call(srv, "PUT", "/aliases/ghost", {"target": seeded}, expect=404)


def test_vector_ttl_routes(srv):
    call(srv, "POST", "/collections",
         {"name": "ttlc", "dimensions": 2, "default_ttl_seconds": 3600},
         expect=201)
    call(srv, "POST", "/collections/ttlc/vectors",
         {"id": "v", "vector": [1, 0]}, expect=201)
    got = call(srv, "GET", "/collections/ttlc/vectors/v/ttl",
               expect=200)
    assert got["expiration_timestamp"] is not None
    call(srv, "PUT", "/collections/ttlc/vectors/v/ttl",
         {"ttl_seconds": 60}, expect=200)
    # clearing: null ttl_seconds removes expiry
    call(srv, "PUT", "/collections/ttlc/vectors/v/ttl",
         {"ttl_seconds": None}, expect=200)
    got = call(srv, "GET", "/collections/ttlc/vectors/v/ttl",
               expect=200)
    assert got["expiration_timestamp"] is None
    call(srv, "PUT", "/collections/ttlc/vectors/ghost/ttl",
         {"ttl_seconds": 60}, expect=404)
    # collections without a TTL column reject the write cleanly
    call(srv, "PUT", "/collections/var/vectors/a/ttl",
         {"ttl_seconds": 60}, expect=400)


def test_stats_memory(srv, seeded):
    out = call(srv, "GET", f"/collections/{seeded}/stats/memory",
               expect=200)
    assert out["vector_count"] > 0 and out["dimensions"] == 4
    assert out["vectors_bytes"] == out["vector_count"] * 4 * 4
    assert out["total_bytes"] >= out["vectors_bytes"]


def test_status_surfaces(srv, seeded):
    assert call(srv, "GET", "/health/live",
                expect=200) == {"status": "alive"}
    ready = call(srv, "GET", "/health/ready", expect=200)
    assert ready["status"] == "ready" and ready["total_vectors"] > 0
    cl = call(srv, "GET", "/cluster/status", expect=200)
    assert cl["cluster"]["role"] == "standalone"
    assert any(s["collection"] == seeded for s in cl["shards"])
    gr = call(srv, "GET", "/grpc/schema", expect=200)
    assert {s["name"] for s in gr["services"]} == {"NeedleService",
                                                   "MemoryService"}
    tr = call(srv, "GET", "/tracing/status", expect=200)
    assert "search" in tr["instrumented_operations"]
    rt = call(srv, "GET", "/embeddings/router/status", expect=200)
    assert "priority_chain" in rt["router"]["available_strategies"]
    pl = call(srv, "GET", "/plugins", expect=200)
    assert pl["plugins"] == []
    call(srv, "GET", "/plugins/anything", expect=404)


def test_mcp_jsonrpc(srv):
    init = call(srv, "POST", "/mcp",
                {"jsonrpc": "2.0", "id": 1, "method": "initialize"},
                expect=200)
    assert init["result"]["serverInfo"]["name"] == "needle-spark"
    tools = call(srv, "POST", "/mcp",
                 {"jsonrpc": "2.0", "id": 2, "method": "tools/list"},
                 expect=200)["result"]["tools"]
    names = {t["name"] for t in tools}
    assert {"needle_create_collection", "needle_insert",
            "needle_search"} <= names
    out = call(srv, "POST", "/mcp",
               {"jsonrpc": "2.0", "id": 3, "method": "tools/call",
                "params": {"name": "needle_create_collection",
                           "arguments": {"name": "mcp_made",
                                         "dimensions": 16}}},
               expect=200)["result"]
    assert not out["isError"]
    assert "mcp_made" in call(srv, "GET", "/collections")["collections"]
    bad = call(srv, "POST", "/mcp",
               {"jsonrpc": "2.0", "id": 4, "method": "nope"},
               expect=200)
    assert bad["error"]["code"] == -32601
    cfg = call(srv, "GET", "/mcp/config", expect=200)
    assert cfg["mcpServers"]["needle-spark"]["url"].endswith("/mcp")


def test_openapi_and_raw_surfaces(srv, seeded):
    spec = call(srv, "GET", "/openapi.json", expect=200)
    assert spec["openapi"].startswith("3.")
    assert "/collections/{collection}/search" in spec["paths"]
    assert "post" in spec["paths"]["/collections/{collection}/search"]
    ctype, text = raw_call(srv, "/metrics")
    assert ctype.startswith("text/plain")
    assert "needle_collection_vectors_total" in text
    assert "needle_operations_total" in text
    ctype, html = raw_call(srv, "/dashboard")
    assert ctype.startswith("text/html") and "<html" in html
    ctype, html = raw_call(srv, "/playground")
    assert ctype.startswith("text/html") and "/ql" in html


def test_failed_requests_are_counted(srv, monkeypatch):
    """A 4xx is counted and timed like any operation, with its
    needle_errors_total line, and a failure inside the metrics code
    changes no response."""
    call(srv, "POST", "/collections",
         {"name": "merr", "dimensions": 2}, expect=201)
    bad = ("POST", "/collections/merr/search", {"k": 5})
    missing = ("GET", "/collections/merr_missing", None)
    got_bad = call(srv, *bad, expect=400)
    got_missing = call(srv, *missing, expect=404)
    _, text = raw_call(srv, "/metrics")
    for coll, op in (("merr", "search"), ("merr_missing", "get_collection")):
        lbl = f'collection="{coll}",operation="{op}"'
        assert f"needle_operations_total{{{lbl}}} 1" in text
        assert f"needle_operation_duration_seconds_count{{{lbl}}} 1" in text
    assert ('needle_errors_total{collection="merr",error_type="ApiError",'
            'operation="search"} 1') in text
    assert ('needle_errors_total{collection="merr_missing",'
            'error_type="CollectionError",operation="get_collection"} 1'
            ) in text

    def boom(*a, **k):
        raise RuntimeError("metrics bug")

    monkeypatch.setattr(srv._metrics, "observe", boom)
    assert call(srv, *bad, expect=400) == got_bad
    assert call(srv, *missing, expect=404) == got_missing
    assert call(srv, "GET", "/collections/merr", expect=200) == {
        "name": "merr", "dimensions": 2, "count": 0}


def test_micro_batch_serving_front(srv):
    """VERDICT r10 ask #4: the micro-batch dispatcher mounts behind
    the single-search route — N concurrent HTTP clients batch through
    one fused pass (mean/max batch observable in status) with results
    IDENTICAL to the serial path."""
    import math
    from concurrent.futures import ThreadPoolExecutor

    call(srv, "POST", "/collections",
         {"name": "mbx", "dimensions": 8}, expect=201)
    vecs = [{"id": f"m{i:04d}",
             "vector": [math.cos(i * f * 0.137) for f in range(1, 9)]}
            for i in range(300)]
    call(srv, "POST", "/collections/mbx/vectors/batch",
         {"vectors": vecs}, expect=201)
    built = call(srv, "POST", "/collections/mbx/index",
                 {"tier": "flat", "micro_batch": True}, expect=200)
    assert built["tier_decision"].get("micro_batch") is True
    st = call(srv, "GET", "/collections/mbx/index/status")
    assert "micro_batch" in st and st["micro_batch"]["served"] == 0

    queries = [vecs[i * 7 % 300]["vector"] for i in range(48)]
    # serial ground truth THROUGH the same route
    serial = [call(srv, "POST", "/collections/mbx/search",
                   {"vector": qv, "k": 5})["results"]
              for qv in queries]
    assert all(r.get("served_by") == "index.micro_batch"
               for r in (call(srv, "POST", "/collections/mbx/search",
                              {"vector": queries[0], "k": 5}),))

    # concurrent clients: same answers, batched dispatch
    def one(qv):
        return call(srv, "POST", "/collections/mbx/search",
                    {"vector": qv, "k": 5})["results"]

    with ThreadPoolExecutor(max_workers=16) as ex:
        for _ in range(3):  # several waves to let batches form
            concurrent = list(ex.map(one, queries))
    # ids/ranks identical; distances agree to f32-accumulation
    # tolerance (sgemm sums associate differently per batch width)
    for got, want in zip(concurrent, serial):
        assert [r["id"] for r in got] == [r["id"] for r in want]
        for rg, rw in zip(got, want):
            assert abs(rg["distance"] - rw["distance"]) < 1e-5
    st = call(srv, "GET", "/collections/mbx/index/status")
    mb = st["micro_batch"]
    assert mb["served"] >= 48 * 3 + 49
    assert mb["max_batch"] > 1, mb
    assert mb["mean_batch"] > 1, mb  # batched dispatch, on average too

    # filtered searches keep the direct path (dispatcher serves only
    # unfiltered singles)
    flt = call(srv, "POST", "/collections/mbx/search",
               {"vector": queries[0], "k": 5,
                "filter": {"x": {"$eq": "y"}}})
    assert flt.get("served_by") != "index.micro_batch"

    # drop closes the dispatcher; status loses the stats block
    call(srv, "DELETE", "/collections/mbx/index", expect=200)
    assert call(srv, "GET", "/collections/mbx/index/status") == \
        {"indexed": False}


def test_micro_batch_auto_on_for_big_flat(srv, monkeypatch):
    """The dispatcher mounts AUTOMATICALLY for flat tiers above the
    coarse-eligibility threshold (no build flag needed) and stays off
    below it."""
    import math

    from needle_spark.plans.flat import FlatKnnIndex

    call(srv, "POST", "/collections",
         {"name": "mbauto", "dimensions": 4}, expect=201)
    vecs = [{"id": f"a{i:03d}",
             "vector": [math.cos(i * f * 0.21) for f in range(1, 5)]}
            for i in range(120)]
    call(srv, "POST", "/collections/mbauto/vectors/batch",
         {"vectors": vecs}, expect=201)
    # below threshold: no dispatcher by default
    call(srv, "POST", "/collections/mbauto/index",
         {"tier": "flat"}, expect=200)
    st = call(srv, "GET", "/collections/mbauto/index/status")
    assert "micro_batch" not in st
    # "big" corpus (threshold monkeypatched down): auto-on
    monkeypatch.setattr(FlatKnnIndex, "THRESHOLD_MIN_ROWS", 50)
    call(srv, "POST", "/collections/mbauto/index",
         {"tier": "flat"}, expect=200)
    st = call(srv, "GET", "/collections/mbauto/index/status")
    assert st["micro_batch"]["path"] in ("exact", "f16", "vnni")
    # explicit opt-out wins over auto-on
    call(srv, "POST", "/collections/mbauto/index",
         {"tier": "flat", "micro_batch": False}, expect=200)
    st = call(srv, "GET", "/collections/mbauto/index/status")
    assert "micro_batch" not in st
    call(srv, "DELETE", "/collections/mbauto/index", expect=200)
