"""Multi-replica CRDT merge: LWW convergence, deltas, Merkle
anti-entropy, annotations (reference crdt.rs / collaborative_search.rs)."""

import math
import random

import pytest

from needle_spark.crdt import (
    ANNOTATION_SCHEMA,
    HLC,
    HlcClock,
    crdt_state,
    delta_since,
    duckdb_crdt_state_sql,
    merge_op_logs,
    merge_stats,
    merged_annotations,
    merkle_changed_buckets,
    merkle_delta,
    merkle_digests,
    make_op,
    op_log_df,
)


def _state_rows(df):
    return {
        r["id"]: r.asDict()
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def logs(spark):
    """Two replicas with overlapping writes, a concurrent update race,
    a delete-vs-update race, and metadata key races."""
    c1, c2 = HlcClock(replica=1), HlcClock(replica=2)
    r1 = [
        make_op("a", "add", c1.tick(1000), vector=[1.0, 0.0],
                metadata={"color": "red", "size": "s"}),
        make_op("b", "add", c1.tick(1001), vector=[0.0, 1.0]),
        make_op("a", "update", c1.tick(1005), vector=[2.0, 0.0]),
        make_op("c", "add", c1.tick(1006), vector=[1.0, 1.0]),
        make_op("c", "delete", c1.tick(1010)),
    ]
    r2 = [
        # same millisecond as r1's a-update: replica 2 wins the tie
        make_op("a", "update", HLC(1005, 0, 2), vector=[3.0, 0.0]),
        make_op("b", "update_meta", c2.tick(1007), meta_key="color",
                meta_value="blue"),
        make_op("b", "update_meta", c2.tick(1008), meta_key="color",
                meta_value=None),  # remove
        make_op("d", "add", c2.tick(1009), vector=[5.0, 5.0],
                metadata={"k": "v"}),
        # delete older than r1's latest c? no — newer: c stays dead
    ]
    return op_log_df(spark, r1), op_log_df(spark, r2)


def test_lww_convergence_and_tombstones(spark, logs):
    l1, l2 = logs
    merged = merge_op_logs(l1, l2)
    st = _state_rows(crdt_state(merged))
    # replica 2 wins the equal-timestamp race on 'a' (higher replica id)
    assert st["a"]["vector"] == [3.0, 0.0]
    assert st["a"]["updated_replica"] == 2
    # 'c' was deleted after its add: tombstoned out
    assert "c" not in st
    assert set(st) == {"a", "b", "d"}
    # merge is commutative: other delivery order, same state
    st2 = _state_rows(crdt_state(merge_op_logs(l2, l1)))
    assert st == st2


def test_metadata_lww_and_removal(spark, logs):
    l1, l2 = logs
    st = _state_rows(crdt_state(merge_op_logs(l1, l2)))
    # add-time metadata survives on 'a'
    assert st["a"]["metadata"] == {"color": "red", "size": "s"}
    # on 'b': color set then removed by a newer op -> gone entirely
    assert st["b"]["metadata"] is None or "color" not in st["b"]["metadata"]
    assert st["d"]["metadata"] == {"k": "v"}


def test_newer_add_revives_and_replaces_metadata(spark):
    c = HlcClock(replica=1)
    ops = [
        make_op("x", "add", c.tick(10), vector=[1.0], metadata={"old": "1"}),
        make_op("x", "update_meta", c.tick(11), meta_key="tag", meta_value="t"),
        make_op("x", "delete", c.tick(12)),
        # re-add after delete: revives, old metadata replaced
        make_op("x", "add", c.tick(13), vector=[9.0], metadata={"new": "2"}),
    ]
    st = _state_rows(crdt_state(op_log_df(spark, ops)))
    assert st["x"]["vector"] == [9.0]
    assert st["x"]["metadata"] == {"new": "2"}


def test_idempotent_redelivery(spark, logs):
    l1, l2 = logs
    once = crdt_state(merge_op_logs(l1, l2))
    twice = crdt_state(merge_op_logs(l1, l2, l2, l1))
    assert _state_rows(once) == _state_rows(twice)


def test_delta_since_and_merge_stats(spark, logs):
    l1, l2 = logs
    d = delta_since(l2, HLC(1007, 0, 2))
    ops = sorted((r["id"], r["op"]) for r in d.collect())
    assert ops == [("b", "update_meta"), ("d", "add")]
    # strict bound: the op AT the HLC is excluded
    assert delta_since(l2, HLC(1005, 0, 2)).count() == l2.count() - 1

    stats = merge_stats(l1, l2, replica_id=1).collect()[0]
    assert stats["applied"] == l2.count()
    assert stats["skipped"] == 0
    # the same-millisecond 'a' race is the one conflict
    assert stats["conflicts"] == 1
    # re-delivering our own log: everything skipped
    stats2 = merge_stats(l1, l1, replica_id=1).collect()[0]
    assert stats2["applied"] == 0 and stats2["skipped"] == l1.count()


def test_hlc_clock_monotone_and_receive():
    c = HlcClock(replica=7)
    t1 = c.tick(100)
    t2 = c.tick(100)   # same physical ms -> logical bump
    t3 = c.tick(101)
    assert t1 < t2 < t3 and t2.logical == 1 and t3.logical == 0
    # receive a remote ahead of us: jump past it
    r = HLC(500, 3, 9)
    t4 = c.receive(r, now_ms=101)
    assert (t4.physical, t4.logical) == (500, 4) and t4 > r


def test_merkle_anti_entropy_ships_only_diff(spark, logs):
    l1, l2 = logs
    full = merge_op_logs(l1, l2)
    s_full, s_l1 = crdt_state(full), crdt_state(l1)
    d_full = merkle_digests(s_full, buckets=32)
    d_l1 = merkle_digests(s_l1, buckets=32)
    changed = merkle_changed_buckets(d_l1, d_full)
    # replica 1 is missing d and has stale a -> at least their buckets differ
    nb = changed.count()
    assert 1 <= nb <= 32
    delta = merkle_delta(full, changed, buckets=32)
    ids = {r["id"] for r in delta.select("id").distinct().collect()}
    assert {"a", "d"} <= ids
    # applying the bucket delta converges replica 1 to the full state
    conv = crdt_state(merge_op_logs(l1, delta))
    assert _state_rows(conv) == _state_rows(s_full)
    # identical states -> zero changed buckets
    assert merkle_changed_buckets(d_full, merkle_digests(s_full, buckets=32)) \
        .count() == 0


def test_merkle_digest_partition_invariant(spark, logs):
    l1, l2 = logs
    st = crdt_state(merge_op_logs(l1, l2))
    a = {(r["bucket"], r["digest"]) for r in merkle_digests(st, 16).collect()}
    b = {(r["bucket"], r["digest"])
         for r in merkle_digests(st.repartition(13), 16).collect()}
    assert a == b


def test_random_interleavings_converge(spark):
    """Property: any partition of one op set across replicas and any
    delivery order converge to the same state."""
    rng = random.Random(42)
    clocks = {r: HlcClock(replica=r) for r in (1, 2, 3)}
    ops = []
    for i in range(60):
        r = rng.choice([1, 2, 3])
        ts = 1000 + rng.randrange(20)
        kind = rng.choice(["add", "add", "update", "update_meta", "delete"])
        oid = f"v{rng.randrange(8)}"
        if kind == "add":
            ops.append(make_op(oid, "add", clocks[r].tick(ts),
                               vector=[float(i)], metadata={"i": str(i)}))
        elif kind == "update":
            ops.append(make_op(oid, "update", clocks[r].tick(ts),
                               vector=[float(-i)]))
        elif kind == "update_meta":
            ops.append(make_op(oid, "update_meta", clocks[r].tick(ts),
                               meta_key=f"k{i % 3}", meta_value=str(i)))
        else:
            ops.append(make_op(oid, "delete", clocks[r].tick(ts)))
    ref = None
    for _ in range(3):
        shuffled = ops[:]
        rng.shuffle(shuffled)
        cut = rng.randrange(1, len(ops) - 1)
        la = op_log_df(spark, shuffled[:cut])
        lb = op_log_df(spark, shuffled[cut:])
        st = _state_rows(crdt_state(merge_op_logs(la, lb)))
        if ref is None:
            ref = st
        else:
            assert st == ref


def test_duckdb_oracle_parity(spark, logs):
    import duckdb

    l1, l2 = logs
    merged = merge_op_logs(l1, l2)
    spark_rows = sorted(
        (r["id"], [float(x) for x in r["vector"]], r["updated_physical"],
         r["updated_logical"], r["updated_replica"])
        for r in crdt_state(merged).collect())
    pdf = merged.drop("metadata").toPandas()
    con = duckdb.connect()
    con.register("oplog", pdf)
    sql = duckdb_crdt_state_sql("SELECT * FROM oplog")
    oracle = sorted(
        (r[0], [float(x) for x in r[1]], r[2], r[3], r[4])
        for r in con.execute(sql).fetchall())
    assert spark_rows == oracle


def test_annotations_add_wins_merge(spark):
    c1, c2 = HlcClock(replica=1), HlcClock(replica=2)
    def ann(doc, aid, user, content, hlc):
        return {"document_id": doc, "annotation_id": aid, "user_id": user,
                "content": content, "physical": hlc.physical,
                "logical": hlc.logical, "replica": hlc.replica}
    l1 = spark.createDataFrame([
        ann("d1", "a1", "alice", "first", c1.tick(10)),
        ann("d1", "a2", "alice", "note", c1.tick(11)),
        ann("d1", "a2", "alice", None, c1.tick(12)),       # tombstone
    ], ANNOTATION_SCHEMA)
    l2 = spark.createDataFrame([
        ann("d1", "a1", "bob", "edited", c2.tick(15)),      # newer wins
        ann("d2", "a3", "bob", "other-doc", c2.tick(16)),
    ], ANNOTATION_SCHEMA)
    out = {r["annotation_id"]: r for r in merged_annotations(l1, l2).collect()}
    assert out["a1"]["content"] == "edited" and out["a1"]["user_id"] == "bob"
    assert "a2" not in out
    assert out["a3"]["document_id"] == "d2"


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_make_op_rejects_non_finite_vector(bad):
    # needle rejects a non-finite component at insert
    with pytest.raises(ValueError, match="NaN or infinite"):
        make_op("a", "add", HLC(1, 0, 1), vector=[1.0, bad])
    assert make_op("a", "delete", HLC(1, 0, 1))["vector"] is None


def test_local_df_falls_back_only_on_conversion_errors(spark, monkeypatch):
    import pyspark.sql.pandas.types as arrow_types

    from needle_spark.session import local_df

    # Arrow rejects an int in a string column (ArrowTypeError); the
    # classic path takes the raw rows as they are
    rows = [(5, 1), (6, None)]
    got = local_df(spark, rows, "s string, n long").collect()
    want = spark.createDataFrame(rows, "s string, n long").collect()
    assert got == want == [("5", 1), ("6", None)]

    def boom(*a, **k):
        raise RuntimeError("boom")

    monkeypatch.setattr(arrow_types, "to_arrow_schema", boom)
    with pytest.raises(RuntimeError, match="boom"):
        local_df(spark, rows, "s string, n long")


def test_local_df_keeps_values_exact(spark, spark_jobs):
    from needle_spark.crdt import op_log_df
    from needle_spark.session import local_df

    big = 2 ** 53 + 1  # float64 would round it to 2**53
    rows = [("a", big, [1.0, float("nan")]), ("b", None, None)]
    with spark_jobs() as jobs:
        df = local_df(spark, rows, "s string, n long, v array<double>")
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert jobs.n == 0 and "LocalRelation" in plan
    got = df.collect()
    assert got[0]["n"] == big and got[1]["n"] is None
    assert got[0]["v"][0] == 1.0 and math.isnan(got[0]["v"][1])
    ops = [make_op("x", "add", HLC(1, 0, big), vector=[0.5, 2.0],
                   metadata={"k": "v"}),
           make_op("x", "delete", HLC(2, 0, big))]
    back = sorted(op_log_df(spark, ops).collect(), key=lambda r: r["physical"])
    assert [r["replica"] for r in back] == [big, big]
    assert back[0]["metadata"] == {"k": "v"} and back[1]["vector"] is None
