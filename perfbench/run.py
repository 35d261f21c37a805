#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload text_interleaved --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run generates its corpus from the seed,
computes the oracle's expected spans, sets up (three times, reporting the
median), makes one warm-up pass, then makes timed passes back to back (a
closed loop with one client, ``local[4]``) until ``--seconds`` have passed
and the workload's fixed number of passes has run.
Every pass's output is checked against the oracle. ``--trace 1`` also turns
on Spark's event log, records spans around the benchmark's calls into each
layer, times each Arrow kernel body directly, and reports per-layer metrics
instead of end-to-end ones.

Human-readable lines go first; the last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. Everything the
run writes stays under ``.perfbench/`` in the checkout; spans of a traced run
are kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARALLELISM = 4
DRIVER_MEMORY = "2g"
SETUP_REPS = 3


def _ms() -> int:
    return int(time.time() * 1000)


def _quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


class Run:
    """One benchmark run of one workload. Holds the session, the tracer and
    the operation counts; ``main`` drives it."""

    def __init__(self, spec, seed: int, seconds: float, traced: bool, work: str):
        from perfbench.trace import Tracer

        self.spec = spec
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.tracer = Tracer(f"{spec.name}-seed{seed}", enabled=traced)
        self.ev_dir = os.path.join(work, "eventlog")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.docs_path = os.path.join(work, "input", "docs")
        self.media_path = os.path.join(work, "input", "media")

    # -- operations --------------------------------------------------------

    def record(self, what: str, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            for e in errors:
                print(f"FAILED {what}: {e}", file=sys.stderr)

    @staticmethod
    def attempt(fn):
        """Run one operation: (result, []) or, if it raised, (None, [traceback])."""
        try:
            return fn(), []
        except Exception:  # a failed operation is a measured outcome
            return None, [traceback.format_exc()]

    # -- set-up --------------------------------------------------------------

    def session(self):
        from micro_lab_ocr_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.ev_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark(f"perfbench-{self.spec.name}", parallelism=PARALLELISM,
                          extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def write_inputs(self, corpus) -> None:
        from pyspark.sql import functions as F

        from micro_lab_ocr_spark.sources import catalog
        from perfbench.workloads import MEDIA_SCHEMA, docs_frame

        docs = docs_frame(self.spark, corpus.docs)
        if not self.spec.n_buckets:
            docs.write.mode("overwrite").parquet(self.docs_path)
            return
        catalog.write_docs(self.spark, docs, self.docs_path, n_buckets=self.spec.n_buckets,
                           row_group_bytes=4 * 1024 * 1024)
        media = self.spark.createDataFrame(
            [(ref, bytearray(content)) for ref, content in corpus.media.items()], MEDIA_SCHEMA)
        catalog.write_media_copartitioned(
            self.spark, media, self.media_path,
            owner_doc_id=F.split(F.col("media_ref"), "/").getItem(2),
            n_buckets=self.spec.n_buckets, row_group_bytes=8 * 1024 * 1024,
        )

    def read_inputs(self, n_docs: int):
        from micro_lab_ocr_spark.sources import catalog

        if not self.spec.n_buckets:
            docs, media = self.spark.read.parquet(self.docs_path), None
        else:
            docs = catalog.read_docs(self.spark, self.docs_path, keep_bucket=True)
            media = self.spark.read.parquet(self.media_path)
        if docs.count() != n_docs:
            raise RuntimeError("input read-back does not hold every doc")
        return docs, media

    def setup(self, corpus) -> tuple[list[float], dict[str, list[float]]]:
        """SETUP_REPS set-ups: start the session (the first launches the
        JVM; later ones restart the SparkContext on it), write the inputs,
        read them back."""
        walls: list[float] = []
        parts: dict[str, list[float]] = {"session": [], "catalog.write": [], "catalog.read": []}
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("setup"):
                t = time.perf_counter()
                with self.tracer.span("session"):
                    self.spark = self.session()
                parts["session"].append(time.perf_counter() - t)
                t = time.perf_counter()
                with self.tracer.span("catalog.write"):
                    self.write_inputs(corpus)
                parts["catalog.write"].append(time.perf_counter() - t)
                t = time.perf_counter()
                with self.tracer.span("catalog.read"):
                    self.inputs = self.read_inputs(len(corpus.docs))
                parts["catalog.read"].append(time.perf_counter() - t)
            walls.append(time.perf_counter() - t0)
        return walls, parts

    # -- passes --------------------------------------------------------------

    def one_pass(self, name: str) -> dict:
        """One pass of the program over the inputs into a fresh output dir."""
        from micro_lab_ocr_spark.pipeline import extract
        from micro_lab_ocr_spark.pipeline.checkpoint import CheckpointedExtraction
        from perfbench import procstat

        docs, media = self.inputs
        out = os.path.join(self.work, "out", name)
        ck = os.path.join(self.work, "ckpt", name)
        rec = {"name": name, "out": out, "ck": ck}
        pid = os.getpid()
        cpu0 = procstat.tree_cpu_s(pid)
        with procstat.RssPeak(pid) as rss, self.tracer.span("pass") as span:
            rec["t0_ms"], t0 = _ms(), time.perf_counter()
            if not self.spec.n_buckets:
                result = extract.normalize_spans(docs, None)
                with self.tracer.span("sink.write"):
                    result.write.mode("overwrite").parquet(out)
            else:
                job = CheckpointedExtraction(
                    ck, out, n_buckets=self.spec.n_buckets, media_copartitioned=True,
                    bucket_batch_size=self.spec.n_buckets,
                )
                with self.tracer.span("checkpoint.run"):
                    job.run(self.spark, docs, media)
                rec["lineage"] = job.lineage()
            rec["wall"] = time.perf_counter() - t0
            rec["t1_ms"] = _ms()
        rec["cpu"] = procstat.tree_cpu_s(pid) - cpu0
        rec["peak_mb"] = rss.peak_mb
        rec["span"] = span
        return rec

    def trace_normalize_spans(self) -> None:
        """Record a span around every ``normalize_spans`` call, including
        the ones ``CheckpointedExtraction`` makes, by wrapping the module
        attribute it imports at call time."""
        from micro_lab_ocr_spark.pipeline import extract

        original = extract.normalize_spans

        def traced(*args, **kwargs):
            with self.tracer.span("extract.normalize_spans"):
                return original(*args, **kwargs)

        extract.normalize_spans = traced

    def check_pass(self, rec: dict, corpus) -> list[str]:
        from perfbench import workloads as W

        errors = W.check_output(W.read_output(rec["out"]), corpus.expected)
        if "lineage" in rec:
            errors += W.check_lineage(rec["lineage"], corpus.expected)
        return errors

    def upsert(self, rec: dict, corpus) -> dict:
        """apply_corrections over edited docs from several buckets of the
        last pass's output; every doc is then checked again."""
        from micro_lab_ocr_spark.oracle.extract import normalize_document
        from micro_lab_ocr_spark.pipeline.checkpoint import CheckpointedExtraction
        from perfbench import workloads as W

        edited = W.corrections(corpus, rec["out"], self.spec.n_corrections, self.seed)
        job = CheckpointedExtraction(
            rec["ck"], rec["out"], n_buckets=self.spec.n_buckets, media_copartitioned=True,
            bucket_batch_size=self.spec.n_buckets,
        )
        corrected = W.docs_frame(self.spark, edited)
        media = self.inputs[1].drop("bucket")
        t0 = time.perf_counter()
        with self.tracer.span("checkpoint.apply_corrections"):
            rows = job.apply_corrections(self.spark, corrected, media)
        wall = time.perf_counter() - t0
        expected = dict(corpus.expected)
        for d in edited:
            expected[d["doc_id"]] = [
                W.span_key(s) for s in normalize_document(d["doc_id"], d["spans"], corpus.media)
            ]
        errors = W.check_output(W.read_output(rec["out"]), expected)
        errors += W.check_lineage(job.lineage(), expected)
        return {"wall": wall, "buckets": len(rows), "errors": errors}

    def stop(self) -> None:
        """Stop Spark, shut the JVM down and wait for every process this run
        started to end."""
        from pyspark import SparkContext

        from perfbench import procstat

        started = set(procstat.snapshot(os.getpid())) - {os.getpid()}
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 60
        while any(procstat.alive(p) for p in started) and time.time() < deadline:
            time.sleep(0.1)


def environment(run: Run, corpus) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    jvm = run.spark.sparkContext._jvm
    return {
        "workload": run.spec.name,
        "seed": run.seed,
        "n_docs": len(corpus.docs),
        "n_spans": sum(len(d["spans"]) for d in corpus.docs),
        "n_media": len(corpus.media),
        "n_buckets": run.spec.n_buckets,
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 1e6, 1),
        "parallelism": PARALLELISM,
        "driver_memory": DRIVER_MEMORY,
        "jvm_max_heap_mb": round(jvm.java.lang.Runtime.getRuntime().maxMemory() / 1e6),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "java": jvm.java.lang.System.getProperty("java.version"),
    }


def traced_metrics(run: Run, corpus, passes: list[dict], setup_parts: dict,
                   warmup_s: float, stored: tuple[int, int],
                   upsert: dict | None) -> dict[str, float]:
    """Per-layer metrics of a traced run. ``stored`` is (bytes, files) of the
    last pass's output and checkpoint, taken before any upsert."""
    from collections import Counter

    from perfbench import eventlog, plancount, workloads as W
    from perfbench.metrics import SELF_TIMED
    from perfbench.trace import self_times

    med = statistics.median
    m: dict[str, float] = {
        "session.start_s": setup_parts["session"][0],
        "setup.warmup_s": warmup_s,
        "catalog.write_s": med(setup_parts["catalog.write"]),
        "catalog.read_s": med(setup_parts["catalog.read"]),
        "catalog.scan_files_per_bucket":
            W.dir_bytes(run.docs_path)[1] / max(run.spec.n_buckets, 1),
        "trace.docs_per_s": med(len(corpus.docs) / p["wall"] for p in passes),
        "trace.core_s": med(p["cpu"] for p in passes),
    }

    # Spark's own execution layer, per timed pass (median over passes)
    log = eventlog.read_dir(run.ev_dir)
    per_pass = [eventlog.window(log, p["t0_ms"], p["t1_ms"]) for p in passes]
    for key in per_pass[0]:
        m[f"spark.{key}"] = med(w[key] for w in per_pass)
    m["catalog.input_bytes"] = m.pop("spark.input_bytes")
    m.pop("spark.output_bytes")
    last = passes[-1]
    counts = {"docs_scans": 0, "exchanges": 0, "broadcast_exchanges": 0, "python_maps": 0}
    for plan in eventlog.plans_in(log, last["t0_ms"], last["t1_ms"]):
        for k, v in plancount.count(plan, run.docs_path).items():
            counts[k] += v
    m.update({f"extract.plan.{k}": v for k, v in counts.items()})
    for p in passes:
        for s in log.stages.values():
            if p["t0_ms"] <= s.submit_ms <= p["t1_ms"]:
                run.tracer.add("spark.stage", s.submit_ms / 1e3, s.complete_ms / 1e3,
                               p["span"].id)

    # spans in and out, pass-throughs: exact counts from inputs and oracle
    m.update({f"extract.{k}": v for k, v in W.span_counts(corpus).items()})

    # Arrow kernel bodies, called directly on this pass's own inputs
    kernel_s = 0.0
    for name, inputs in W.kernel_inputs(corpus).items():
        fn = W.KERNELS[name]
        with run.tracer.span(f"kernels.{name}"):
            t0 = time.perf_counter()
            ok = sum(fn(x) for x in inputs)
            took = time.perf_counter() - t0
        kernel_s += took
        m[f"kernels.{name}.calls"] = len(inputs)
        m[f"kernels.{name}.us_per_call"] = took / len(inputs) * 1e6 if inputs else 0.0
        m[f"kernels.{name}.ok_ratio"] = ok / len(inputs) if inputs else 0.0
    m["kernels.share_of_core_s"] = kernel_s / m["trace.core_s"]

    # layer spans: normalize_spans call walls and mean self times
    spans = run.tracer.spans
    pass_ids = {p["span"].id for p in passes}
    plan_walls = [s.end - s.start for s in spans
                  if s.name == "extract.normalize_spans" and s.parent is not None
                  and (s.parent in pass_ids or spans[s.parent].parent in pass_ids)]
    m["extract.plan_s"] = sum(plan_walls) / len(passes)
    selfs = self_times(spans)
    n_of = Counter(s.name for s in spans)
    for name in SELF_TIMED:
        m[f"self_s.{name}"] = selfs.get(name, 0.0) / n_of[name] if name in n_of else 0.0

    # checkpoint layer
    ck = {"run_s": 0.0, "bucket_s_p50": 0.0, "bucket_s_p90": 0.0, "output_bytes": 0,
          "output_files": 0, "upsert_s": 0.0, "upsert_buckets": 0, "upsert_s_per_bucket": 0.0}
    if run.spec.n_buckets:
        ck["run_s"] = med(p["wall"] for p in passes)
        bucket_walls = [r["wall_sec"] for r in last["lineage"]]
        ck["bucket_s_p50"] = _quantile(bucket_walls, 0.5)
        ck["bucket_s_p90"] = _quantile(bucket_walls, 0.9)
        ck["output_bytes"], ck["output_files"] = stored
    if upsert:
        ck["upsert_s"] = upsert["wall"]
        ck["upsert_buckets"] = upsert["buckets"]
        ck["upsert_s_per_bucket"] = upsert["wall"] / max(upsert["buckets"], 1)
    m.update({f"checkpoint.{k}": v for k, v in ck.items()})
    return m


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path[:0] = [ROOT]
    try:
        from perfbench import metrics, workloads as W
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in W.SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.SPECS)}", file=sys.stderr)
        return 2
    spec = W.SPECS[args.workload]
    traced = bool(args.trace)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{spec.name}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # the JVM and the Python workers it starts inherit these
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    run = Run(spec, args.seed, args.seconds, traced, work)
    try:
        return execute(run, args, metrics, W, base)
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)


def execute(run: Run, args, metrics, W, base: str) -> int:
    med = statistics.median
    t0 = time.perf_counter()
    with run.tracer.span("loadgen"):
        corpus = W.make_corpus(run.spec, args.seed)
    loadgen_s = time.perf_counter() - t0

    if run.traced:
        run.trace_normalize_spans()
    setup_walls, setup_parts = run.setup(corpus)
    env = environment(run, corpus)

    warm, errors = run.attempt(lambda: run.one_pass("warmup"))
    if warm is not None:
        errors = run.check_pass(warm, corpus)
        shutil.rmtree(warm["out"], ignore_errors=True)
    run.record("warm-up pass", errors)
    warmup_s = warm["wall"] if warm else 0.0

    passes: list[dict] = []
    start = time.perf_counter()
    i = 0
    while i < run.spec.passes or time.perf_counter() - start < run.seconds:
        rec, errors = run.attempt(lambda: run.one_pass(f"pass{i}"))
        if rec is not None:
            errors = run.check_pass(rec, corpus)
            if not errors:
                if passes:  # only the last pass's output is kept
                    shutil.rmtree(passes[-1]["out"], ignore_errors=True)
                    shutil.rmtree(passes[-1]["ck"], ignore_errors=True)
                passes.append(rec)
        run.record(f"pass {i}", errors)
        i += 1
    if not passes:
        print("perfbench: no timed pass succeeded", file=sys.stderr)
        return 1
    last = passes[-1]

    stored = tuple(map(sum, zip(W.dir_bytes(last["out"]), W.dir_bytes(last["ck"]))))
    # the upsert runs in traced runs only: at 13-16 s per touched bucket
    # it would not fit the untraced runs' time budget
    upsert = None
    if run.traced and run.spec.n_corrections:
        upsert, errors = run.attempt(lambda: run.upsert(last, corpus))
        run.record("upsert", errors or (upsert["errors"] if upsert else []))

    n_docs = len(corpus.docs)
    if run.traced:
        values = traced_metrics(run, corpus, passes, setup_parts, warmup_s, stored, upsert)
    else:
        values = {
            "docs_per_s": med(n_docs / p["wall"] for p in passes),
            "core_s": med(p["cpu"] for p in passes),
            "peak_rss_mb": max(p["peak_mb"] for p in passes),
            "stored_bytes_per_doc": stored[0] / n_docs,
            "setup_s": med(setup_walls),
        }
    units = metrics.units(run.traced)

    print("env " + json.dumps(env, sort_keys=True))
    print(f"loadgen_s = {loadgen_s:.3f} s (corpus and oracle, outside every timed region)")
    print(f"phases (s): set-ups {sum(setup_walls):.1f}, warm-up {warmup_s:.1f}, "
          f"timed passes and checks {time.perf_counter() - start:.1f}")
    print(f"timed passes = {len(passes)}; wall s, core-s, peak MB per pass = "
          + ", ".join(f"({p['wall']:.3f}, {p['cpu']:.2f}, {p['peak_mb']:.0f})" for p in passes))
    if upsert:
        print(f"upsert_s = {upsert['wall']:.3f} s over {upsert['buckets']} buckets")
    print(f"error_rate = {run.failed / run.attempted:.4f} ratio "
          f"({run.failed} of {run.attempted} operations failed)")
    for name, unit in units.items():
        print(f"{name} = {values[name]:.6g} {unit}")
    if run.traced:
        from perfbench.trace import self_times

        print("self time by span (s, summed over the run):")
        for name, s in sorted(self_times(run.tracer.spans).items(), key=lambda kv: -kv[1]):
            print(f"  {name} = {s:.3f}")
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        path = os.path.join(base, "traces", f"{run.spec.name}-seed{run.seed}.jsonl")
        run.tracer.write(path)
        with open(path, "a") as f:
            f.write(json.dumps({"env": env}) + "\n")
        print(f"spans written to {os.path.relpath(path, ROOT)}")

    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
