"""Partition-granular checkpoint / lineage / resume (SURVEY §4.2, north rule).

The reference saves its workbook after every page (`backend.py:998-1003`) so
an interrupted run resumes where it stopped. The engine's scale analogue:

* the doc keyspace is split into ``n_buckets`` deterministic partitions
  (``pmod(hash(doc_id), n)`` — the same bucketing an Iceberg
  ``bucket(n, doc_id)`` table gives for free);
* buckets are processed in sequential batches, each batch ONE plan and
  one write; every bucket's write is IDEMPOTENT (output dir keyed by bucket
  id, overwrite mode);
* a checkpoint table records, per bucket: status, input snapshot id, row
  counts and extraction metrics (lineage);
* a resumed run reads the checkpoint table and skips buckets already DONE.

No custom Catalyst machinery — ordinary application code around idempotent
writes, exactly what a production lakehouse job does. On Iceberg the
checkpoint table would be MERGE'd; on plain parquet we write one small
checkpoint file per bucket (atomic enough at bucket granularity because the
data write completes before the checkpoint row appears).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F


def _layout_bucket_count(docs: DataFrame) -> int | None:
    """Bucket count of the directory-bucketed layout a scan reads. The
    AUTHORITATIVE source is the ``_bucket_layout.json`` marker recorded at
    write time (catalog.write_layout_marker — the parquet analogue of an
    Iceberg partition spec): inferring the width from observed ``bucket=N``
    directories under-reports when trailing buckets are empty, and a
    wrong-but-divisible inferred width would silently route docs to wrong
    output buckets. The file-listing inference remains only as a fallback
    for pre-marker layouts, None when the paths carry no ``bucket=N``
    partition directories (e.g. the column was computed in-flight), in
    which case the caller must not trust the column."""
    import re

    from micro_lab_ocr_spark.sources.catalog import read_layout_marker

    buckets = set()
    try:
        files = docs.inputFiles()
    except Exception:
        return None
    roots = set()
    for f in files:
        m = re.search(r"/bucket=(\d+)/", f)
        if not m:
            return None
        buckets.add(int(m.group(1)))
        roots.add(re.sub(r"^file:/*", "/", f[: m.start()]))
    if len(roots) == 1:
        marked = read_layout_marker(next(iter(roots)))
        if marked is not None:
            return marked
    return (max(buckets) + 1) if buckets else None


@dataclass
class BucketLineage:
    bucket: int
    status: str               # RUNNING | DONE
    snapshot_id: str          # input snapshot identifier
    n_docs: int
    n_spans: int
    wall_sec: float
    # driver wall from batch (or corrections bucket) start until
    # normalize_spans returned: the per-plan fixed cost, no task runs in it
    plan_sec: float
    finished_at: str


class CheckpointedExtraction:
    def __init__(
        self,
        checkpoint_dir: str,
        output_dir: str,
        n_buckets: int = 16,
        media_join: str = "broadcast",
        media_copartitioned: bool = False,
        bucket_batch_size: int = 8,
    ):
        self.checkpoint_dir = checkpoint_dir
        self.output_dir = output_dir
        self.n_buckets = n_buckets
        # per checkpoint batch the span-ref projection is bounded by the
        # batch's buckets, so broadcast is the right default; pass
        # "shuffle_refs" for very large buckets / bucketed media tables (see
        # pipeline.extract.normalize_spans). "auto" would fire a media count
        # per batch — counted once here instead if requested.
        self.media_join = media_join
        # Set ONLY when the media table was written co-partitioned with the
        # docs layout (catalog.write_media_copartitioned: media rows bucketed
        # by their OWNING doc_id). Each batch then prunes the media scan to
        # its buckets' partition directories instead of re-reading the whole
        # media table once per batch. Never set it for media
        # bucketed on any other key — pruning on a non-owner bucketing would
        # silently degrade matched spans to pass-throughs.
        self.media_copartitioned = media_copartitioned
        # buckets run in sequential batches of this size: ONE plan + ONE
        # dynamic-partition-overwrite write per batch (pays the plan build
        # once per batch, not once per bucket; see run_batch). It also bounds
        # the crash re-work (a crash redoes the whole unfinished batch) and
        # the broadcast span-ref side (refs of one batch). A batch of 1 is
        # bucket-at-a-time.
        if bucket_batch_size < 1:
            raise ValueError("bucket_batch_size must be >= 1")
        self.bucket_batch_size = bucket_batch_size
        os.makedirs(checkpoint_dir, exist_ok=True)

    # -- checkpoint table ---------------------------------------------------

    def _ckpt_path(self, bucket: int) -> str:
        return os.path.join(self.checkpoint_dir, f"bucket_{bucket:05d}.json")

    def done_buckets(self) -> set[int]:
        done = set()
        for bucket in range(self.n_buckets):
            p = self._ckpt_path(bucket)
            if os.path.exists(p):
                with open(p) as f:
                    if json.load(f).get("status") == "DONE":
                        done.add(bucket)
        return done

    def lineage(self) -> list[dict]:
        rows = []
        for bucket in range(self.n_buckets):
            p = self._ckpt_path(bucket)
            if os.path.exists(p):
                with open(p) as f:
                    rows.append(json.load(f))
        return rows

    # -- run ------------------------------------------------------------------

    def run(
        self,
        spark: SparkSession,
        docs: DataFrame,
        media: DataFrame,
        snapshot_id: str = "unversioned",
        fail_at_bucket: int | None = None,
    ) -> list[BucketLineage]:
        """Process all not-yet-done buckets in ascending order, in batches of
        ``bucket_batch_size``; each bucket's write is idempotent (per-bucket
        output dir, overwrite). ``fail_at_bucket`` injects a failure for
        resume tests: the buckets before it run, then the run raises."""
        from micro_lab_ocr_spark.pipeline.extract import normalize_spans
        from micro_lab_ocr_spark.sources.catalog import bucket_expr

        # If the docs table carries the catalog layout's `bucket` partition
        # column (sources/catalog.write_docs), filtering on it gives
        # PARTITION PRUNING — each batch scans only its buckets' directories
        # (Iceberg bucket(N, doc_id) metadata pruning on a real cluster).
        # The layout's bucket count may DIFFER from this checkpoint's
        # n_buckets (write_docs defaults to 64, jobs default to 16):
        # trusting `bucket == b` for b in range(n_buckets) would then
        # silently drop every doc in layout buckets >= n_buckets while
        # recording DONE checkpoints. Detect the layout width from the scan's
        # file listing; when it is a multiple of n_buckets, pmod folds each
        # layout bucket onto exactly one checkpoint bucket (h mod KN mod N =
        # h mod N) and the filter STAYS a partition-prunable expression of
        # the partition column; otherwise fall back to re-hashing doc_id
        # (full scan per batch, but correct).
        pruned = "bucket" in docs.columns
        layout_n = _layout_bucket_count(docs) if pruned else None
        if pruned and layout_n == self.n_buckets:
            bucket_col = F.col("bucket")
        elif pruned and layout_n is not None and layout_n % self.n_buckets == 0:
            bucket_col = F.pmod(F.col("bucket"), F.lit(self.n_buckets))
        else:
            pruned = False
            bucket_col = bucket_expr("doc_id", self.n_buckets)
        if "bucket" in docs.columns and not pruned:
            docs = docs.drop("bucket")
        # media-side pruning: only under the co-partitioned layout (see
        # __init__), with the same divisible-fold rule as the docs side
        media_bucket_col = None
        if (
            self.media_copartitioned
            and media is not None
            and "bucket" in media.columns
        ):
            m_layout = _layout_bucket_count(media)
            if m_layout == self.n_buckets:
                media_bucket_col = F.col("bucket")
            elif m_layout is not None and m_layout % self.n_buckets == 0:
                media_bucket_col = F.pmod(F.col("bucket"), F.lit(self.n_buckets))
        if media is not None and "bucket" in media.columns and media_bucket_col is None:
            media = media.drop("bucket")
        # probe the media side ONCE — normalize_spans would otherwise fire a
        # driver-side isEmpty() action per batch (one eager scan each);
        # under media_join="auto" the same single pass supplies the count.
        media_join, media_count = self.media_join, None
        if media_join == "auto":
            media_count = 0 if media is None else media.count()
            media_present = media_count > 0
        else:
            media_present = media is not None and not media.isEmpty()

        def run_batch(batch: list[int]) -> list[BucketLineage]:
            """ONE Spark plan + ONE dynamic-partition-overwrite write for a
            batch of buckets (the only write path; a batch of one is
            bucket-at-a-time). The plan build is driver work during which no
            task runs, recorded per batch as ``plan_sec``; the expressions
            are built once per JVM, so a repeat build is only DataFrame
            wiring and analysis. Batching pays it once per batch instead of
            once per bucket; dynamic overwrite keeps per-bucket output dirs +
            idempotency, and per-bucket lineage rows come from one observed
            aggregate on the write. A crash mid-batch
            leaves NO checkpoint rows for the batch (resume redoes the whole
            batch, not just the unfinished bucket) — the batch size bounds
            that re-work."""
            t0 = time.perf_counter()
            batch_docs = docs.where(bucket_col.isin([int(b) for b in batch]))
            if pruned:
                batch_docs = batch_docs.drop("bucket")
            batch_media = media
            if media_bucket_col is not None:
                batch_media = media.where(
                    media_bucket_col.isin([int(b) for b in batch])
                ).drop("bucket")
            out = normalize_spans(
                batch_docs, batch_media, media_present=media_present,
                media_join=media_join, media_count=media_count,
            )
            plan_sec = round(time.perf_counter() - t0, 3)
            out = out.withColumn("bucket", bucket_expr("doc_id", self.n_buckets))
            # per-bucket lineage metrics ride the WRITE itself (Observation /
            # CollectMetrics) — re-reading the written output for stats would
            # cost a second full decompress pass over every output byte
            obs = Observation(f"bucket_stats_{batch[0]}")
            aggs = []
            for b in batch:
                is_b = F.col("bucket") == int(b)
                aggs.append(F.sum(is_b.cast("long")).alias(f"docs_{b}"))
                aggs.append(
                    F.sum(F.when(is_b, F.size("spans")).otherwise(0)).alias(f"spans_{b}")
                )
            out = out.observe(obs, aggs[0], *aggs[1:])
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(self.output_dir)
            )
            wall = round(time.perf_counter() - t0, 3)
            m = obs.get
            # dynamic overwrite only replaces partitions that RECEIVE rows: a
            # batch bucket producing zero output would leave a previous run's
            # stale bucket=N files on disk while its checkpoint row records
            # DONE with n_docs=0 — clear them so an emptied bucket reads empty
            for b in batch:
                if int(m.get(f"docs_{b}") or 0) == 0:
                    stale = os.path.join(self.output_dir, f"bucket={b}")
                    if os.path.exists(stale):
                        shutil.rmtree(stale)
            rows = []
            for b in batch:
                row = BucketLineage(
                    bucket=b,
                    status="DONE",
                    snapshot_id=snapshot_id,
                    n_docs=int(m.get(f"docs_{b}") or 0),
                    n_spans=int(m.get(f"spans_{b}") or 0),
                    wall_sec=wall,  # shared batch wall (documented)
                    plan_sec=plan_sec,  # shared batch plan build
                    finished_at=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                )
                with open(self._ckpt_path(b), "w") as f:
                    json.dump(asdict(row), f)
                rows.append(row)
            return rows

        done = self.done_buckets()
        todo = [b for b in range(self.n_buckets) if b not in done]
        failing = fail_at_bucket is not None and fail_at_bucket in todo
        if failing:
            # run everything scheduled before the injected failure, in the
            # same batches, then die — mirrors a mid-job crash for resume tests
            todo = todo[: todo.index(fail_at_bucket)]
        results: list[BucketLineage] = []
        size = self.bucket_batch_size
        for i in range(0, len(todo), size):
            results.extend(run_batch(todo[i : i + size]))
        if failing:
            raise RuntimeError(f"injected failure at bucket {fail_at_bucket}")
        return results

    # -- S11: keyed corrections upsert ---------------------------------------

    def apply_corrections(
        self,
        spark: SparkSession,
        corrected_docs: DataFrame,
        media: DataFrame,
        snapshot_id: str = "corrections",
    ) -> list[BucketLineage]:
        """Re-extract CHANGED documents and replace them in place, keyed on
        doc_id — the scale analogue of the reference's same-test# sheet
        replacement (`backend_preservation.py:1953-1956`: an existing sheet
        for the test number is deleted and rewritten, not duplicated).

        Only the buckets containing corrected docs are touched (everything
        else keeps its bytes and its checkpoint row). Within a touched
        bucket: prior output rows for corrected doc_ids are dropped, the
        corrected docs re-extract, the bucket rewrites via a
        write-rename-swap (crash mid-swap leaves either the old or the new
        complete bucket, never a mix), and the lineage row records the
        corrected counts. Re-applying the same corrections is idempotent.
        On Iceberg this whole method is one ``MERGE INTO … WHEN MATCHED
        THEN UPDATE`` keyed on doc_id.
        """
        from micro_lab_ocr_spark.pipeline.extract import normalize_spans
        from micro_lab_ocr_spark.sources.catalog import bucket_expr

        keyed = corrected_docs.withColumn(
            "_bucket", bucket_expr("doc_id", self.n_buckets)
        )
        affected = sorted(
            r["_bucket"] for r in keyed.select("_bucket").distinct().collect()
        )
        media_present = media is not None and not media.isEmpty()
        results: list[BucketLineage] = []
        for bucket in affected:
            t0 = time.perf_counter()
            path = os.path.join(self.output_dir, f"bucket={bucket}")
            bak = path + ".old"
            # recover an interrupted swap BEFORE reading: a crash between
            # rename(path→bak) and rename(tmp→path) leaves path absent with
            # the complete old bucket stranded in .old — merging against a
            # missing path would then permanently drop every non-corrected
            # doc in the bucket. Restoring .old first makes the swap's
            # "old or new complete bucket, never a mix" contract hold across
            # crashes at ANY point (tmp/.old remnants are re-derivable).
            if not os.path.exists(path) and os.path.exists(bak):
                os.rename(bak, path)
            bucket_corrected = keyed.where(F.col("_bucket") == bucket).drop("_bucket")
            new_rows = normalize_spans(
                bucket_corrected, media,
                media_present=media_present, media_join=self.media_join,
            )
            plan_sec = round(time.perf_counter() - t0, 3)
            if os.path.exists(path):
                old = spark.read.parquet(path)
                kept = old.join(
                    F.broadcast(bucket_corrected.select("doc_id")), "doc_id", "left_anti"
                )
                merged = kept.unionByName(new_rows)
            else:
                merged = new_rows
            # lineage counts ride the write (as in run_batch), not a re-read
            obs = Observation(f"corrections_{bucket}_{snapshot_id}")
            merged = merged.observe(
                obs,
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.size("spans")).alias("n_spans"),
            )
            tmp = path + ".tmp"
            merged.write.mode("overwrite").parquet(tmp)
            if os.path.exists(bak):
                shutil.rmtree(bak)
            if os.path.exists(path):
                os.rename(path, bak)
            os.rename(tmp, path)
            if os.path.exists(bak):
                shutil.rmtree(bak)
            stats = obs.get
            row = BucketLineage(
                bucket=bucket,
                status="DONE",
                snapshot_id=snapshot_id,
                n_docs=int(stats["n_docs"] or 0),
                n_spans=int(stats["n_spans"] or 0),
                wall_sec=round(time.perf_counter() - t0, 3),
                plan_sec=plan_sec,
                finished_at=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            )
            with open(self._ckpt_path(bucket), "w") as f:
                json.dump(asdict(row), f)
            results.append(row)
        return results
