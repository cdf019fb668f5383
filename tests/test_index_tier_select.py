"""E2E: the serving-index lifecycle measures relative contrast and
picks the index FAMILY automatically (VERDICT r7 ask #8).

A glove-like (distance-concentrated angular) collection must come up
on the exact flat tier; a sift-like (clustered euclidean) collection
on IVF — plans/tuning.py::recommend_ann_tier, calibrated against the
committed ANN_RECALL_{glove,sift}-like grids.  The decision must be
visible in the build response and index status, the flat tier must
actually serve searches (served_by=index, exact agreement with the
Spark path), and the REST write path must maintain it incrementally.
"""

import json
import urllib.error
import urllib.request

import numpy as np
import pytest

from needle_spark.catalog import Database
from needle_spark.plans.ann_datasets import glove_like, sift_like
from needle_spark.server import RestServer


@pytest.fixture(scope="module")
def srv(spark, tmp_path_factory):
    db = Database(spark, str(tmp_path_factory.mktemp("tierdb")))
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
        with urllib.request.urlopen(req, timeout=120) as resp:
            status, payload = resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        status, payload = e.code, json.loads(e.read())
    if expect is not None:
        assert status == expect, (status, payload)
    return payload


def _load(srv, name, vectors, metric):
    call(srv, "POST", "/collections",
         {"name": name, "dimensions": vectors.shape[1],
          "distance": metric}, expect=201)
    for s in range(0, len(vectors), 500):
        call(srv, "POST", f"/collections/{name}/vectors/batch",
             {"vectors": [{"id": f"v{s + i}",
                           "vector": [float(x) for x in v]}
                          for i, v in enumerate(vectors[s:s + 500])]},
             expect=201)


@pytest.fixture(scope="module")
def corpora(srv):
    gt, _ = glove_like(3000, n_queries=1)
    st, _ = sift_like(3000, n_queries=1)
    _load(srv, "glv", gt.astype(np.float64), "cosine")
    _load(srv, "sft", st.astype(np.float64), "euclidean")
    return gt, st


def test_auto_picks_flat_for_angular(srv, corpora):
    built = call(srv, "POST", "/collections/glv/index", {}, expect=200)
    assert built["tier"] == "flat", built
    dec = built["tier_decision"]
    assert dec["tier"] == "flat" and dec["relative_contrast"] < 2.0
    st = call(srv, "GET", "/collections/glv/index/status")
    assert st["indexed"] and st["tier"] == "flat"
    assert st["tier_decision"]["relative_contrast"] < 2.0
    est = call(srv, "POST", "/collections/glv/search/estimate",
               {"vector": [0.0] * 200}, expect=200)
    assert est["strategy"] == "flat_index"
    assert est["estimated_candidates"] == est["rows"]  # exact scan


def test_auto_picks_ivf_for_clustered(srv, corpora):
    built = call(srv, "POST", "/collections/sft/index", {}, expect=200)
    assert built["tier"] == "ivf", built
    assert built["tier_decision"]["relative_contrast"] >= 2.0
    st = call(srv, "GET", "/collections/sft/index/status")
    assert st["tier"] == "ivf"
    call(srv, "DELETE", "/collections/sft/index", expect=200)


def test_auto_picks_measured_codes(srv, corpora):
    """codes=auto measures decoded-rank SQ8 recall on the sample and
    picks the code tier; the decision is visible in the response."""
    built = call(srv, "POST", "/collections/sft/index", {}, expect=200)
    assert built["codes"] == "sq8_cell", built
    dec = built["tier_decision"]
    assert dec["codes"] == "sq8_cell"
    assert dec["sq8_sample_recall"] >= 0.95
    call(srv, "DELETE", "/collections/sft/index", expect=200)
    built = call(srv, "POST", "/collections/sft/index",
                 {"codes": "float32"}, expect=200)
    assert built["codes"] == "float32"
    assert built["tier_decision"]["codes_reason"] == "pinned by request"
    call(srv, "DELETE", "/collections/sft/index", expect=200)
    err = call(srv, "POST", "/collections/sft/index",
               {"codes": "pq4"}, expect=400)
    assert "codes" in json.dumps(err)


def test_tier_pin_overrides_measurement(srv, corpora):
    built = call(srv, "POST", "/collections/sft/index",
                 {"tier": "flat"}, expect=200)
    assert built["tier"] == "flat"
    assert built["tier_decision"]["reason"] == "pinned by request"
    call(srv, "DELETE", "/collections/sft/index", expect=200)
    err = call(srv, "POST", "/collections/sft/index",
               {"tier": "hnsw"}, expect=400)
    assert "tier" in json.dumps(err)


def test_flat_tier_serves_and_matches_exact(srv, corpora):
    gt, _ = corpora
    qv = [float(x) for x in gt[7]]
    fast = call(srv, "POST", "/collections/glv/search",
                {"vector": qv, "k": 5}, expect=200)
    assert fast.get("served_by") == "index"
    assert fast["results"][0]["id"] == "v7"      # self-match
    call(srv, "DELETE", "/collections/glv/index", expect=200)
    slow = call(srv, "POST", "/collections/glv/search",
                {"vector": qv, "k": 5}, expect=200)
    assert "served_by" not in slow
    assert [r["id"] for r in fast["results"]] == \
        [r["id"] for r in slow["results"]]       # flat tier is exact
    # rebuild for the incremental test
    call(srv, "POST", "/collections/glv/index", {}, expect=200)


def test_flat_tier_incremental_write_path(srv, corpora):
    gt, _ = corpora
    nv = [float(x) for x in gt[11]]
    call(srv, "POST", "/collections/glv/vectors",
         {"id": "fresh", "vector": nv}, expect=201)
    got = call(srv, "POST", "/collections/glv/search",
               {"vector": nv, "k": 2}, expect=200)
    assert got.get("served_by") == "index"
    ids = [r["id"] for r in got["results"]]
    assert "fresh" in ids and "v11" in ids       # dup + original
    call(srv, "DELETE", "/collections/glv/vectors/fresh", expect=200)
    got = call(srv, "POST", "/collections/glv/search",
               {"vector": nv, "k": 2}, expect=200)
    assert got.get("served_by") == "index"
    assert "fresh" not in [r["id"] for r in got["results"]]
    st = call(srv, "GET", "/collections/glv/index/status")
    assert st["deleted_pending"] >= 1
    call(srv, "DELETE", "/collections/glv/index", expect=200)


def test_refine_lifecycle_e2e(srv, corpora):
    """Exact-refine through the REST lifecycle: a pinned sq8+refine
    index builds, the decision is visible, search serves from the
    refined index and agrees with the exact Spark path at full probe,
    and the float32+refine conflict is rejected."""
    _, st = corpora
    built = call(srv, "POST", "/collections/sft/index",
                 {"codes": "sq8", "refine": True, "nlist": 8,
                  "nprobe": 8}, expect=200)
    assert built["tier_decision"]["refine"] is True, built
    assert built["codes"] == "sq8"
    q = [float(x) for x in st[7]]
    got = call(srv, "POST", "/collections/sft/search",
               {"vector": q, "k": 5}, expect=200)
    assert got.get("served_by") == "index"
    assert got["results"][0]["id"] == "v7"  # self-match, exact rank
    call(srv, "DELETE", "/collections/sft/index", expect=200)
    err = call(srv, "POST", "/collections/sft/index",
               {"codes": "float32", "refine": True}, expect=400)
    assert "refine" in json.dumps(err)


def test_recall_target_one_enables_refine(srv, corpora):
    """VERDICT r8 #8 e2e: with recall_target=1.0 the measured code rule
    cannot clear the target with bare SQ8 codes on any corpus whose
    sample recall is below 1.0, so the auto build must come up
    refine-enabled (quantized codes + exact float32 sidecar), and the
    decision — target, codes, refine — must be visible in the build
    response AND the index status."""
    built = call(srv, "POST", "/collections/sft/index",
                 {"recall_target": 1.0}, expect=200)
    dec = built["tier_decision"]
    assert dec["recall_target"] == 1.0
    assert dec["refine"] is True, dec
    assert dec["codes"] in ("sq8_cell", "float32")
    if dec["codes"] == "sq8_cell":
        assert dec["refined_sample_recall"] >= dec["sq8_sample_recall"]
    st = call(srv, "GET", "/collections/sft/index/status")
    assert st["tier_decision"]["refine"] is True
    # refined serving actually runs (exact sidecar pinned)
    got = call(srv, "POST", "/collections/sft/search",
               {"vector": [float(x) for x in corpora[1][3]],
                "k": 5}, expect=200)
    assert len(got["results"]) == 5
    call(srv, "DELETE", "/collections/sft/index", expect=200)


def test_budget_bytes_flows_to_pq_build(srv, corpora):
    """A capacity budget below SQ8's dim-bytes/row flows through the
    REST contract into the measured PQ rule: the build comes up on PQ
    codes at the budgeted subspace count with the measured refine
    factor, decision visible in status."""
    built = call(srv, "POST", "/collections/sft/index",
                 {"budget_bytes_per_row": 16}, expect=200)
    dec = built["tier_decision"]
    assert dec["codes"] == "pq", dec
    assert dec["pq_m"] == 16 and dec["refine"] is True
    assert dec["refine_factor"] in (4, 16, 32, 64, 128)
    st = call(srv, "GET", "/collections/sft/index/status")
    assert st["tier_decision"]["pq_m"] == 16
    got = call(srv, "POST", "/collections/sft/search",
               {"vector": [float(x) for x in corpora[1][5]],
                "k": 5}, expect=200)
    assert len(got["results"]) == 5
    call(srv, "DELETE", "/collections/sft/index", expect=200)


def test_recall_target_validation(srv, corpora):
    for bad in (0, -1, 1.5, "high"):
        err = call(srv, "POST", "/collections/sft/index",
                   {"recall_target": bad}, expect=400)
        assert "recall_target" in json.dumps(err)
    err = call(srv, "POST", "/collections/sft/index",
               {"budget_bytes_per_row": -4}, expect=400)
    assert "budget_bytes_per_row" in json.dumps(err)


def test_budget_with_flat_tier_conflicts(srv, corpora):
    """Review r9: a capacity budget is unserveable on the flat tier
    (full float32 rows).  Pinned flat + budget must 400; auto-flat
    corpora force the coded ivf family with the decision recorded."""
    err = call(srv, "POST", "/collections/glv/index",
               {"tier": "flat", "budget_bytes_per_row": 16}, expect=400)
    assert "budget" in json.dumps(err)
    built = call(srv, "POST", "/collections/glv/index",
                 {"budget_bytes_per_row": 25}, expect=200)
    dec = built["tier_decision"]
    assert built["tier"] == "ivf" and dec["codes"] == "pq"
    assert "budget" in dec["reason"]
    call(srv, "DELETE", "/collections/glv/index", expect=200)
    # rebuild the flat index other tests in this module rely on
    call(srv, "POST", "/collections/glv/index", {}, expect=200)


def test_recall_target_budget_reject_booleans(srv, corpora):
    """Review r9: JSON true must 400, not parse as 1.0 / 1 (consistent
    with the handler's strict boolean check on 'refine')."""
    for body in ({"recall_target": True}, {"budget_bytes_per_row": True},
                 {"recall_target": "0.9"}, {"budget_bytes_per_row": "16"}):
        err = call(srv, "POST", "/collections/sft/index", body, expect=400)
        assert "must be" in json.dumps(err)


def test_budget_enforced_on_pinned_codes(srv, corpora):
    """ADVICE r9: budget_bytes_per_row was only enforced for tier and
    codes='auto' — explicitly pinned codes silently bust the stated
    capacity.  Pinned codes whose resident bytes/row exceed the budget
    must 400 (mirroring the pinned-flat check); pinned codes inside
    the budget build normally with the budget echoed in the
    decision."""
    dim = len(corpora[1][0])  # corpus vectors (dim bytes/row for sq8)
    # float32 = 4*dim B/row: busts any budget below that
    err = call(srv, "POST", "/collections/sft/index",
               {"codes": "float32", "budget_bytes_per_row": 2 * dim},
               expect=400)
    assert "budget_bytes_per_row" in json.dumps(err)
    # sq8 = dim B/row: busts a sub-dim budget
    err = call(srv, "POST", "/collections/sft/index",
               {"codes": "sq8", "budget_bytes_per_row": dim // 2},
               expect=400)
    assert "budget_bytes_per_row" in json.dumps(err)
    # sq8 within budget builds, decision records the honored budget
    built = call(srv, "POST", "/collections/sft/index",
                 {"codes": "sq8_cell", "budget_bytes_per_row": dim},
                 expect=200)
    assert built["tier_decision"]["budget_bytes_per_row"] == dim
    call(srv, "DELETE", "/collections/sft/index", expect=200)


def test_recall_target_one_never_returns_bare_sq8():
    """A 64-query sample that shows no SQ8 miss proves nothing at a
    recall target of 1.0: over 30 random samples of the sift-like
    corpus, most of which read sample SQ8 recall 1.000, the code rule
    returns the exact-refine tier every time."""
    from needle_spark.plans.tuning import recommend_ann_codes

    st, _ = sift_like(3000, n_queries=1)
    s = st.astype(np.float64)
    rng = np.random.default_rng(0)
    perfect = 0
    for _ in range(30):
        p = s[rng.permutation(len(s))]
        r = recommend_ann_codes(p[64:], p[:64], "euclidean",
                                target_recall=1.0)
        assert r["refine"] is True, r
        perfect += r["sq8_sample_recall"] == 1.0
    assert perfect > 0
