"""Paired A/B of session-level confs / plan flags on the PRODUCTION job.

Session confs (spark.io.compression.codec) are fixed at session build and
plan-construction env flags (SPARK_GRAFT_*) are read when the DAG is built,
so variants alternate SESSIONS (fresh warmup each) rather than passes; walls
are paired round-by-round so host weather hits both variants. Stage metrics
(shuffle bytes, executor run core-s) ride along via the event log — they are
far more stable than walls on this box and are the primary verdict signal.

Usage: python BENCH/probes/ab_conf.py [cores] [rounds]
Env:   AB_VARIANTS — comma list; each item is one of
       * a codec name ("lz4", "zstd" → spark.io.compression.codec)
       * "KEY=VALUE" — process env var set before the session/plan is
         built (plan-construction flags; README.md lists the ones the
         package still reads)
       * "conf:spark.key=value" — arbitrary session conf.
"""
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")
os.chdir("/root/repo")

from micro_lab_ocr_spark.pipeline.checkpoint import CheckpointedExtraction
from micro_lab_ocr_spark.session import get_spark
from micro_lab_ocr_spark.sources import catalog

CORES = int(sys.argv[1]) if len(sys.argv) > 1 else 16
ROUNDS = int(sys.argv[2]) if len(sys.argv) > 2 else 2
VARIANTS = os.environ.get("AB_VARIANTS", "lz4,zstd").split(",")


def run_session(variant: str, timed_passes: int = 2) -> dict:
    extra = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    env_key = None
    env_prev = None
    if variant.startswith("conf:"):  # arbitrary session conf
        k, v = variant[len("conf:"):].split("=", 1)
        extra[k] = v
    elif "=" in variant:  # plan-construction env flag
        env_key, env_val = variant.split("=", 1)
        env_prev = os.environ.get(env_key)
        os.environ[env_key] = env_val
    else:  # io codec shorthand
        extra["spark.io.compression.codec"] = variant
    ev_dir = tempfile.mkdtemp(prefix="ab_ev_")
    extra["spark.eventLog.dir"] = f"file://{ev_dir}"
    spark = get_spark(f"ab-{variant}", parallelism=CORES, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    docs = catalog.read_docs(spark, ".bench_corpus/docs_bucketed", keep_bucket=True)
    media = spark.read.parquet(".bench_corpus/media_cp")

    def one_pass():
        work = tempfile.mkdtemp(prefix="ab_")
        try:
            ck = CheckpointedExtraction(
                os.path.join(work, "ckpt"), os.path.join(work, "out"),
                n_buckets=8, media_copartitioned=True, bucket_batch_size=8,
            )
            w0 = int(time.time() * 1000)
            t0 = time.perf_counter()
            ck.run(spark, docs, media)
            return round(time.perf_counter() - t0, 2), (w0, int(time.time() * 1000))
        finally:
            shutil.rmtree(work, ignore_errors=True)

    try:
        one_pass()  # warmup (codegen + python workers + codec)
        walls, best = [], None
        for _ in range(timed_passes):
            w, win = one_pass()
            walls.append(w)
            if best is None or w < best[0]:
                best = (w, win)
        spark.stop()
    finally:
        # restore (not delete): the flag may have been exported by the caller
        # for ALL variants/rounds — deleting it would strip it for later
        # variants and corrupt the paired A/B. The flag must stay set through
        # the passes (it's read at plan-construction time inside ck.run), so
        # restore only here, exception-proof.
        if env_key is not None:
            if env_prev is None:
                os.environ.pop(env_key, None)
            else:
                os.environ[env_key] = env_prev
    import bench
    stages = bench._parse_event_log(ev_dir, best[1])
    shutil.rmtree(ev_dir, ignore_errors=True)
    tot = {
        "run": round(sum(g["run"] for g in stages), 1),
        "cpu": round(sum(g["cpu"] for g in stages), 1),
        "gc": round(sum(g["gc"] for g in stages), 1),
        "shuffle_gb": round(sum(g["shr"] + g["shw"] for g in stages) / 1e9, 3),
        "io_gb": round(sum(g["inb"] + g["outb"] for g in stages) / 1e9, 3),
    }
    return {"variant": variant, "walls": walls, "best": best[0], "totals": tot,
            "top_stages": stages[:3]}


if __name__ == "__main__":
    results = {v: [] for v in VARIANTS}
    for rnd in range(ROUNDS):
        for v in VARIANTS:
            r = run_session(v)
            results[v].append(r)
            print(json.dumps({"round": rnd, **r}), flush=True)
    for v in VARIANTS:
        allw = [w for r in results[v] for w in r["walls"]]
        print(json.dumps({"variant": v, "min_wall": min(allw), "all_walls": allw,
                          "totals_best": min(results[v], key=lambda r: r["best"])["totals"]}),
              flush=True)
