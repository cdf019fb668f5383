"""Catalog fsck — format_validator.rs parity at this engine's actual
format: version compatibility, structural validation, corruption
detection, orphan GC."""

import json
import os
import shutil

import pytest

from needle_spark.catalog import Collection
from needle_spark.fsck import (
    FORMAT_VERSION,
    gc_orphans,
    is_compatible,
    migration_path,
    spec_doc,
    validate_collection,
)


@pytest.fixture()
def coll(spark, tmp_path):
    c = Collection.create(spark, str(tmp_path / "c"), dims=2)
    c.insert(spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "id string, vector array<float>"))
    c.delete(ids=["b"])
    c.create_snapshot("s1")
    return c


def test_version_compatibility_rules():
    # format_validator.rs:36-46 — same major, minor <= reader's
    assert is_compatible((1, 0), (1, 0))
    assert is_compatible((1, 0), (1, 2))
    assert not is_compatible((1, 3), (1, 2))
    assert not is_compatible((2, 0), (1, 9))
    assert not is_compatible((0, 9), (1, 0))


def test_migration_path():
    assert migration_path((1, 0), (1, 0)) == []
    assert len(migration_path((0, 9), (1, 0))) == 1
    with pytest.raises(ValueError, match="no migration path"):
        migration_path((2, 0), (1, 0))


def test_spec_doc_mentions_layout():
    doc = spec_doc()
    for token in ("manifest.json", "seg-N", "del-N", "_cdc",
                  "merge-on-read", f"v{FORMAT_VERSION[0]}"):
        assert token in doc


def test_healthy_collection_validates(spark, coll):
    rep = validate_collection(spark, coll.path)
    assert rep.valid, rep.errors
    assert rep.stats["retained_versions"] >= 3
    assert rep.stats["cdc_events"] == 3  # 2 inserts + 1 delete
    assert rep.stats["sampled_rows"] == 1
    # freshly created collections carry an explicit format_version
    assert not any("format_version" in w for w in rep.warnings)
    # legacy manifests (no format_version) validate with a migration
    # warning instead of failing
    mpath = os.path.join(coll.path, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["format_version"]
    with open(mpath, "w") as f:
        json.dump(m, f)
    legacy = validate_collection(spark, coll.path)
    assert legacy.valid
    assert any("format_version" in w for w in legacy.warnings)


def test_missing_segment_detected(spark, coll):
    seg = next(f for f in os.listdir(coll.path) if f.startswith("seg-"))
    shutil.rmtree(os.path.join(coll.path, seg))
    rep = validate_collection(spark, coll.path)
    assert not rep.valid
    assert any(f"segment {seg} missing" in e for e in rep.errors)


def test_corrupt_manifest_detected(spark, coll):
    mpath = os.path.join(coll.path, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    # snapshot bound to a pruned version + missing key + bad cdc_seq
    m["snapshots"]["s1"] = 999
    del m["metric"]
    with open(mpath, "w") as f:
        json.dump(m, f)
    rep = validate_collection(spark, coll.path)
    assert not rep.valid
    assert any("missing required key 'metric'" in e for e in rep.errors)

    with open(mpath, "w") as f:
        f.write("{not json")
    rep2 = validate_collection(spark, coll.path)
    assert not rep2.valid and "unreadable" in rep2.errors[0]


def test_incompatible_format_version(spark, coll):
    mpath = os.path.join(coll.path, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["format_version"] = [2, 0]
    with open(mpath, "w") as f:
        json.dump(m, f)
    rep = validate_collection(spark, coll.path)
    assert not rep.valid and "incompatible" in rep.errors[0]


def test_cdc_mismatch_detected(spark, coll):
    mpath = os.path.join(coll.path, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["cdc_seq"] = 99  # claims more events than the log holds
    with open(mpath, "w") as f:
        json.dump(m, f)
    # a SHORT CDC tail is the commit protocol's documented crash
    # artifact (manifest flips before the CDC append): warn, stay valid
    rep = validate_collection(spark, coll.path)
    assert rep.valid
    assert any("tail gap" in w for w in rep.warnings)
    # sequences BEYOND the manifest's allocation are real corruption
    m["cdc_seq"] = 1
    with open(mpath, "w") as f:
        json.dump(m, f)
    rep = validate_collection(spark, coll.path)
    assert not rep.valid
    assert any("cdc_seq" in e for e in rep.errors)


def test_orphan_gc_after_compaction(spark, coll):
    coll.compact(keep_versions=1)
    rep = validate_collection(spark, coll.path)
    assert rep.valid, rep.errors
    # compaction may leave pre-compaction objects unreferenced
    victims = gc_orphans(spark, coll.path, dry_run=True)
    assert victims == rep.stats["orphans"]
    for v in victims:  # dry run removed nothing
        assert os.path.exists(os.path.join(coll.path, v))
    removed = gc_orphans(spark, coll.path, dry_run=False)
    for v in removed:
        assert not os.path.exists(os.path.join(coll.path, v))
    # the collection still reads and re-validates clean
    assert coll.count() == 1
    rep2 = validate_collection(spark, coll.path)
    assert rep2.valid and rep2.stats["orphan_objects"] == 0


def test_gc_refuses_invalid_collection(spark, coll):
    seg = next(f for f in os.listdir(coll.path) if f.startswith("seg-"))
    shutil.rmtree(os.path.join(coll.path, seg))
    with pytest.raises(ValueError, match="refusing"):
        gc_orphans(spark, coll.path, dry_run=False)


def test_empty_cdc_log_with_claimed_events(spark, coll):
    # review finding: a present-but-empty _cdc log must fail when the
    # manifest claims events
    import glob
    cdc = os.path.join(coll.path, "_cdc")
    for f in glob.glob(os.path.join(cdc, "*.parquet")) + \
            glob.glob(os.path.join(cdc, "*/*.parquet")):
        os.remove(f)
    # rewrite an empty parquet dir with the right schema
    spark.createDataFrame(
        [], "sequence long, timestamp_ms long, event_type string, "
            "vector_id string, metadata string"
    ).write.mode("overwrite").parquet(cdc)
    # empty log + claimed events = first-commit crash artifact: warn
    rep = validate_collection(spark, coll.path, check_data=False)
    assert rep.valid
    assert any("empty" in w for w in rep.warnings)


def test_table_commit_crash_before_cdc_leaves_tail_gap(spark, coll,
                                                       monkeypatch):
    """A pyarrow.Table commit keeps the manifest-before-CDC order: a
    crash in its CDC append leaves the committed version and a short
    CDC tail (a warning), never events for an uncommitted version."""
    import pyarrow as pa

    import needle_spark.catalog as catalog

    orig = catalog._write_parquet

    def crash_on_cdc(table, path, append=False):
        if os.path.basename(path) == "_cdc":
            raise OSError("crash before the CDC append")
        orig(table, path, append)

    monkeypatch.setattr(catalog, "_write_parquet", crash_on_cdc)
    version = coll.version
    batch = pa.table({"id": ["z"],
                      "vector": pa.array([[0.5, 0.5]], pa.list_(pa.float32()))})
    with pytest.raises(OSError, match="crash before the CDC append"):
        coll.insert(batch)
    assert Collection(spark, coll.path).version == version + 1
    rep = validate_collection(spark, coll.path)
    assert rep.valid, rep.errors
    assert any("tail gap" in w for w in rep.warnings)
    assert rep.stats["cdc_events"] == 3
