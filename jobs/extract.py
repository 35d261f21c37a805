#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline (SURVEY §7.4).

    spark-submit --py-files dist/micro_lab_ocr_spark.zip jobs/extract.py \
        --docs <parquet/iceberg path> --media <parquet path> \
        --output <dir> --checkpoint <dir> [--buckets 512] [--batch-size 8] \
        [--resume]

Runs the full interleaved extraction with partition-granular checkpoint /
lineage; a rerun with --resume skips DONE buckets. Buckets run in sequential
batches of --batch-size (default 8), one Spark plan and one write per batch.
A larger batch pays the per-plan build less often; a smaller one bounds what
a crash re-does (resume re-runs the whole unfinished batch) and the broadcast
span-ref side, which holds one batch's refs. The plan's expressions are built
once per JVM, so only the first batch pays the full build (about 5 s of
driver time on a 4-core box); each later batch pays only the wiring and
analysis (about 1-1.5 s). Each batch's cost is its lineage row's
``plan_sec``. On a cluster the
same file is submitted unchanged — master/cores come from spark-submit, and
bucket count should be sized ≈ corpus_bytes / (executor_mem / 4).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# Python WORKERS spawn with PYTHONPATH from the environment, not the driver's
# sys.path — without this, running the job from any other cwd fails inside
# mapInPandas with ModuleNotFoundError. On a real cluster `spark-submit
# --py-files dist/micro_lab_ocr_spark.zip` ships the package instead.
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True)
    ap.add_argument("--media", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--media-join", default="broadcast",
                    choices=["broadcast", "shuffle_refs", "auto"],
                    help="how span refs meet media content (content bytes never "
                         "shuffle or broadcast in any mode): broadcast refs onto "
                         "the media scan (default; refs bounded per batch), "
                         "shuffle the narrow refs to a bucketed media table, or "
                         "auto-pick from a one-time media count")
    ap.add_argument("--media-copartitioned", action="store_true",
                    help="media was written by catalog.write_media_copartitioned "
                         "(bucketed by OWNING doc_id): prune the media scan per "
                         "bucket instead of re-reading the whole table N times")
    ap.add_argument("--batch-size", type=int, default=8,
                    help="process buckets in sequential batches of N (default "
                         "8): one plan + one dynamic-partition-overwrite write "
                         "per batch. Larger N pays the plan build (~5 s for "
                         "the first batch, ~1-1.5 s for each later one on 4 "
                         "cores; lineage plan_sec) less often; smaller N "
                         "bounds crash re-work (a resume redoes the whole "
                         "unfinished batch) and the broadcast refs side (one "
                         "batch's span refs). 1 = bucket-at-a-time")
    ap.add_argument("--snapshot-id", default="unversioned")
    ap.add_argument("--resume", action="store_true",
                    help="skip buckets already DONE in the checkpoint table")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from micro_lab_ocr_spark.pipeline.checkpoint import CheckpointedExtraction
    from micro_lab_ocr_spark.sources.catalog import read_docs

    # on a cluster spark-submit provides master/conf; locally fall back
    spark = SparkSession.builder.appName("micro-lab-ocr-extract").getOrCreate()
    # keep_bucket: when the input carries the catalog bucket layout
    # (write_docs / Iceberg bucket(N, doc_id)), per-bucket runs partition-prune
    docs = read_docs(spark, args.docs, keep_bucket=True)
    media = spark.read.parquet(args.media)

    ck = CheckpointedExtraction(
        args.checkpoint, args.output, n_buckets=args.buckets,
        media_join=args.media_join, media_copartitioned=args.media_copartitioned,
        bucket_batch_size=args.batch_size,
    )
    if not args.resume:
        for bucket in list(ck.done_buckets()):
            os.remove(ck._ckpt_path(bucket))
    results = ck.run(spark, docs, media, snapshot_id=args.snapshot_id)
    print(json.dumps({
        "processed_buckets": len(results),
        "skipped_buckets": args.buckets - len(results),
        "lineage": ck.lineage(),
    }, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
