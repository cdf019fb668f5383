"""Streaming / incremental near-duplicate detection (VERDICT r9 #8).

The batch MinHash pipeline (operators/dedup.py) re-bands the WORLD on
every run; a training-data ingest that appends a few thousand documents
per micro-batch cannot afford an O(corpus) re-shingle per batch.  The
incremental shape:

1. PERSIST the banded LSH index — the (id, band, bucket) frame, ~12
   bytes/row, 32 rows/doc — as a parquet state table.  This is the only
   derived state; it is append-only between compactions.
2. Per incoming batch: band ONLY the batch (O(|batch| x hashes)), probe
   its (band, bucket) keys against the state table for candidate
   (new, old) pairs, band-join the batch against itself for
   within-batch pairs, then EXACT-verify candidates by fetching just
   the candidate docs' text (pairs-only semi-join against the corpus).
3. Keep-first policy: a new doc near an existing doc drops; within the
   batch the smallest id of a verified group survives (the same
   keeper rule as neardup_dedup).  Survivors' band rows APPEND to the
   state table, so the next batch sees them.

Per-batch cost: banding + verification scale with |batch| and the
candidate count, never with corpus size.  The probe is PRUNED at the
file level (VERDICT r10 Next #6): ``compact()`` rewrites the state
range-partitioned and sorted by ``bucket``, and each probe reads the
parquet footers' per-file bucket min/max (Iceberg-style data
skipping) to open ONLY the files whose bucket range intersects the
batch's bucket set — O(|batch| * bands) keys against narrow sorted
ranges, not an O(corpus-bands) scan.  Un-compacted appends have wide
ranges and are always read; they stay small between compactions.  The
batch side is broadcast, so there is no corpus-side shuffle either.

Composes with Structured Streaming via ``foreach_batch_handler`` —
wrap it in ``stream.writeStream.foreachBatch(...)`` next to
streaming/ingestion.py's sinks.  Delivery semantics are AT-LEAST-ONCE
on the state append: a replayed batch re-appends duplicate (id, band,
bucket) rows.  Probe RESULTS are unaffected (the candidate join
dedups via ``distinct()``), but the state table grows on retries —
``compact()`` drops the duplicates, and callers needing exact
replay-idempotence should compact on a schedule or key appends by
epoch.  Keeper rule: vs-corpus hits always drop the new row;
WITHIN-batch resolution is keep-FIRST in id order (a row whose only
near-neighbor was itself dropped survives) — intentionally matching
insert_dedup's sequential walk, NOT neardup_dedup's connected-
component keeper (a chain a~b~c keeps {a, c} here but {a} there).

Reference posture: the reference applies insert-time semantic dedup
per insert (collection/dedup.rs); this is the TEXT-corpus twin at
micro-batch granularity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from needle_spark.operators.dedup import (_banded_buckets_arrow_text,
                                          _jaccard_verify)


class IncrementalMinHashDedup:
    """Persistent banded-LSH dedup state + per-batch probe."""

    def __init__(self, spark: SparkSession, state_path: str, *,
                 id_col: str = "id", text_col: str = "text",
                 n: int = 3, num_hashes: int = 128, bands: int = 32,
                 threshold: float = 0.6):
        assert num_hashes % bands == 0
        self.spark = spark
        self.state_path = state_path
        self.id_col, self.text_col = id_col, text_col
        self.n, self.num_hashes, self.bands = n, num_hashes, bands
        self.threshold = float(threshold)
        # per-file (size, mtime) -> bucket range, for footer skipping
        self._range_cache: dict = {}

    # ------------------------------------------------------- state --

    def _band(self, df: DataFrame) -> DataFrame:
        # fused shingle+signature+banding kernel: one Python crossing
        # of (id, text) per micro-batch instead of shingle UDF then
        # signature kernel (bit-identical (band, bucket) values)
        return _banded_buckets_arrow_text(df, self.id_col, self.text_col,
                                          self.n, self.num_hashes,
                                          self.bands)

    def _state(self) -> DataFrame | None:
        if not os.path.exists(self.state_path):
            return None
        return self.spark.read.parquet(self.state_path)

    def _state_files(self) -> list[str]:
        if not os.path.isdir(self.state_path):
            return []
        return sorted(
            os.path.join(self.state_path, f)
            for f in os.listdir(self.state_path)
            if f.endswith(".parquet") and not f.startswith("."))

    def _file_bucket_ranges(self) -> list[tuple[str, int | None,
                                                int | None]]:
        """(path, bucket_min, bucket_max) per state file from the
        parquet FOOTER statistics — no data read.  (None, None) when a
        file lacks stats (it is then never skipped).  Cached by
        (size, mtime) so steady-state probes cost one listdir."""
        import pyarrow.parquet as pq

        out = []
        for p in self._state_files():
            st = os.stat(p)
            key = (st.st_size, st.st_mtime_ns)
            hit = self._range_cache.get(p)
            if hit is not None and hit[0] == key:
                out.append((p, hit[1], hit[2]))
                continue
            lo, hi = None, None
            try:
                md = pq.ParquetFile(p).metadata
                ci = md.schema.names.index("bucket")
                for rg in range(md.num_row_groups):
                    s = md.row_group(rg).column(ci).statistics
                    if s is None or not s.has_min_max:
                        lo = hi = None
                        break
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
            except Exception:
                lo = hi = None
            self._range_cache[p] = (key, lo, hi)
            out.append((p, lo, hi))
        return out

    def _probe_state(self, buckets: list[int]):
        """Pruned state read: keep only the files whose footer bucket
        range intersects the batch's (sorted) bucket list.  Returns
        (DataFrame | None, files_scanned, files_total)."""
        import bisect

        ranges = self._file_bucket_ranges()
        if not ranges:
            return None, 0, 0
        keep = []
        for p, lo, hi in ranges:
            if lo is None:          # no stats -> cannot skip
                keep.append(p)
                continue
            i = bisect.bisect_left(buckets, lo)
            if i < len(buckets) and buckets[i] <= hi:
                keep.append(p)
        if not keep:
            return None, 0, len(ranges)
        return (self.spark.read.parquet(*keep), len(keep), len(ranges))

    def compact(self, num_files: int | None = None) -> dict:
        """Rewrite the append-only state range-partitioned and SORTED
        by ``bucket`` so probe-time footer skipping has narrow per-file
        ranges, and drop duplicate (id, band, bucket) rows left by
        at-least-once replays.  The one O(state) maintenance step —
        run it on a schedule, not per batch."""
        import shutil

        state = self._state()
        if state is None:
            return {"rows": 0, "files": 0}
        n = num_files or max(1, self.spark.sparkContext.defaultParallelism)
        compacted = (state.dropDuplicates([self.id_col, "band", "bucket"])
                     .repartitionByRange(n, "bucket")
                     .sortWithinPartitions("bucket"))
        tmp = self.state_path.rstrip("/") + ".__compact_tmp"
        old = self.state_path.rstrip("/") + ".__compact_old"
        compacted.write.mode("overwrite").parquet(tmp)
        # crash-safe swap: the live state is never deleted before its
        # replacement is in place (a kill between rmtree and rename
        # would silently lose the whole dedup index)
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(self.state_path, old)
        os.rename(tmp, self.state_path)
        shutil.rmtree(old)
        self._range_cache.clear()
        return {"rows": self.spark.read.parquet(self.state_path).count(),
                "files": len(self._state_files())}

    def bootstrap(self, corpus: DataFrame) -> int:
        """Band an existing corpus once and write the state table.
        The ONE O(corpus) step; every later batch is incremental."""
        banded = self._band(corpus)
        banded.write.mode("overwrite").parquet(self.state_path)
        return self.spark.read.parquet(self.state_path).count()

    # ------------------------------------------------------- batch --

    def dedup_batch(self, batch: DataFrame, corpus: DataFrame | None,
                    update_state: bool = True) -> dict:
        """Dedup one micro-batch against the persisted corpus index
        AND itself.  Returns {"kept": DataFrame, "dropped":
        [(new_id, matched_id, jaccard), ...], "candidates": int}.

        `corpus` supplies text for exact verification of vs-corpus
        candidates (semi-joined down to just the candidate ids); pass
        None to trust banding alone (signature-only mode — candidates
        drop unverified)."""
        batch = batch.persist()
        b_band = self._band(batch).persist()
        b_band.count()
        # the batch's bucket key set is driver-sized (<= |batch|*bands)
        # and drives the file-skipping probe
        buckets = sorted(r["bucket"] for r in
                         b_band.select("bucket").distinct().collect())
        state, files_scanned, files_total = self._probe_state(buckets)

        # vs-corpus candidates: broadcast the SMALL batch band frame
        # against ONLY the footer-intersecting state files — probe cost
        # scales with the batch's bucket set, not corpus size
        drops: dict = {}
        if state is not None:
            cand_old = (state.join(
                F.broadcast(b_band.select(
                    F.col(self.id_col).alias("__nid"),
                    "band", "bucket")),
                ["band", "bucket"])
                .filter(F.col(self.id_col) != F.col("__nid"))
                .select(F.col("__nid").alias("id1"),
                        F.col(self.id_col).alias("id2"))
                .distinct())
            if corpus is not None:
                old_ids = cand_old.select(
                    F.col("id2").alias(self.id_col)).distinct()
                old_docs = corpus.join(F.broadcast(old_ids),
                                       self.id_col, "left_semi") \
                    .select(self.id_col, self.text_col)
                docs = old_docs.unionByName(
                    batch.select(self.id_col, self.text_col))
                verified = _jaccard_verify(
                    cand_old, docs, self.id_col, self.text_col, self.n,
                    self.threshold)
            else:
                verified = cand_old.withColumn(
                    "jaccard", F.lit(None).cast("double"))
            for r in verified.collect():
                cur = drops.get(r["id1"])
                if cur is None or (r["id2"], ) < (cur[0], ):
                    drops[r["id1"]] = (r["id2"], r["jaccard"])
        n_cand_old = len(drops)

        # within-batch pairs — keep-FIRST in id order (insert_dedup's
        # sequential walk; NOT neardup_dedup's component keeper)
        wb = (b_band.alias("a").join(
            b_band.alias("b"),
            [F.col(f"a.band") == F.col("b.band"),
             F.col(f"a.bucket") == F.col("b.bucket"),
             F.col(f"a.{self.id_col}") < F.col(f"b.{self.id_col}")])
            .select(F.col(f"a.{self.id_col}").alias("id1"),
                    F.col(f"b.{self.id_col}").alias("id2"))
            .distinct())
        wb_v = _jaccard_verify(
            wb, batch.select(self.id_col, self.text_col), self.id_col,
            self.text_col, self.n, self.threshold)
        wb_rows = wb_v.collect()
        # sequential keep-first over the (small, driver-sized) batch
        # pair list: a row near an already-DROPPED row still survives
        batch_ids = sorted(
            r[0] for r in batch.select(self.id_col).collect())
        nbrs: dict = {}
        for r in wb_rows:
            nbrs.setdefault(r["id2"], []).append(
                (r["id1"], r["jaccard"]))
        for bid in batch_ids:
            if bid in drops:
                continue
            for oid, jac in sorted(nbrs.get(bid, [])):
                if oid not in drops:
                    drops[bid] = (oid, jac)
                    break

        kept = batch.filter(~F.col(self.id_col).isin(list(drops))) \
            if drops else batch
        if update_state:
            add = b_band
            if drops:
                add = b_band.filter(
                    ~F.col(self.id_col).isin(list(drops)))
            add.write.mode("append").parquet(self.state_path)
        out = {
            "kept": kept,
            "dropped": sorted(
                (k, v[0], v[1]) for k, v in drops.items()),
            "candidates": int(n_cand_old + len(wb_rows)),
            "state_files_scanned": files_scanned,
            "state_files_total": files_total,
        }
        b_band.unpersist()
        batch.unpersist()
        return out

    # --------------------------------------------------- streaming --

    def foreach_batch_handler(self, corpus_provider, sink):
        """``writeStream.foreachBatch`` adapter: dedup each micro-batch
        against the persisted index, hand survivors to `sink(df,
        epoch_id)`.  `corpus_provider()` returns the current corpus
        frame for verification (e.g. ``collection.df``), or None for
        signature-only mode."""
        def handle(batch_df: DataFrame, epoch_id: int) -> None:
            corpus = corpus_provider() if corpus_provider else None
            res = self.dedup_batch(batch_df, corpus)
            sink(res["kept"], epoch_id)
        return handle
