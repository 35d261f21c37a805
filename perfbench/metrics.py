"""Every metric the benchmark reports, with its unit, direction and, for a
per-layer metric, the end-to-end metric and workload it should move.

``BENCHMARK.json`` lists the same names; ``tests/test_metrics.py`` keeps the
two in step.
"""

from __future__ import annotations

TEXT, MEDIA, ALL = "text_interleaved", "media_job_upsert", "all"
# the upsert runs in traced runs only, so no end-to-end metric covers it
NONE = "none"

# name, unit, better, bound (share of the parent's median). On a shared
# 4-core host the run-to-run spread (q3 - q1) / median of the first four
# reads 0.02-0.13 with ten seeds, so each gets the largest bound allowed.
END_TO_END = [
    ("docs_per_s", "docs/s", "higher", 0.25),
    ("core_s", "core-s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("stored_bytes_per_doc", "B/doc", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

_KERNEL_ON = {"html": TEXT, "upstage": TEXT, "ocr": MEDIA, "pdf": MEDIA}
_ROLES = ("kernel", "write", "exchange", "scan")

# name, unit, better, moves (end-to-end metric), on (workload)
PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s", ALL),
    ("setup.warmup_s", "s", "lower", "setup_s", ALL),
    ("catalog.write_s", "s", "lower", "setup_s", ALL),
    ("catalog.read_s", "s", "lower", "setup_s", ALL),
    ("catalog.scan_files_per_bucket", "count", "lower", "docs_per_s", MEDIA),
    ("catalog.input_bytes", "bytes", "lower", "core_s", MEDIA),
    ("extract.plan_s", "s", "lower", "docs_per_s", MEDIA),
    *[(f"extract.plan.{n}", "count", "lower", "core_s", TEXT)
      for n in ("docs_scans", "exchanges", "broadcast_exchanges", "python_maps")],
    *[(f"extract.spans_in.{k}", "count", "lower", "error_rate", ALL)
      for k in ("text", "html", "table_html", "image", "pdf")],
    *[(f"extract.spans_out.{k}", "count", "lower", "error_rate", ALL)
      for k in ("text", "table", "image", "pdf")],
    *[(f"extract.passthrough.{c}", "count", "lower", "error_rate", MEDIA)
      for c in ("missing_ref", "undecodable", "decode_failed", "unknown_kind")],
    ("extract.media_decoded_ratio", "ratio", "higher", "error_rate", MEDIA),
    *[(f"kernels.{k}.{m}", u, b, "core_s", on)
      for k, on in _KERNEL_ON.items()
      for m, u, b in (("us_per_call", "us", "lower"), ("calls", "count", "lower"),
                      ("ok_ratio", "ratio", "higher"))],
    ("kernels.share_of_core_s", "ratio", "lower", "core_s", ALL),
    ("spark.jobs", "count", "lower", "docs_per_s", MEDIA),
    ("spark.stages", "count", "lower", "docs_per_s", MEDIA),
    ("spark.tasks", "count", "lower", "docs_per_s", MEDIA),
    ("spark.idle_s", "s", "lower", "docs_per_s", MEDIA),
    *[(f"spark.{m}", "core-s", "lower", "core_s", ALL)
      for m in ("run_core_s", "cpu_core_s", "gc_core_s")],
    *[(f"spark.{m}.{r}", "core-s", "lower", "core_s", ALL)
      for m in ("run_core_s", "cpu_core_s", "gc_core_s") for r in _ROLES],
    ("spark.shuffle_write_bytes", "bytes", "lower", "core_s", TEXT),
    ("spark.shuffle_read_bytes", "bytes", "lower", "core_s", TEXT),
    ("spark.spill_bytes", "bytes", "lower", "core_s", TEXT),
    ("spark.task_skew", "ratio", "lower", "docs_per_s", MEDIA),
    ("checkpoint.run_s", "s", "lower", "docs_per_s", MEDIA),
    ("checkpoint.bucket_s_p50", "s", "lower", "docs_per_s", MEDIA),
    ("checkpoint.bucket_s_p90", "s", "lower", "docs_per_s", MEDIA),
    ("checkpoint.output_bytes", "bytes", "lower", "stored_bytes_per_doc", MEDIA),
    ("checkpoint.output_files", "count", "lower", "stored_bytes_per_doc", MEDIA),
    ("checkpoint.upsert_s", "s", "lower", NONE, MEDIA),
    ("checkpoint.upsert_buckets", "count", "lower", NONE, MEDIA),
    ("checkpoint.upsert_s_per_bucket", "s", "lower", NONE, MEDIA),
    ("trace.docs_per_s", "docs/s", "higher", "docs_per_s", ALL),
    ("trace.core_s", "core-s", "lower", "core_s", ALL),
]

# spans whose mean self time is reported as self_s.<name>
_SELF = [
    ("session", "setup_s", ALL),
    ("catalog.write", "setup_s", ALL),
    ("catalog.read", "setup_s", ALL),
    ("pass", "docs_per_s", ALL),
    ("extract.normalize_spans", "docs_per_s", MEDIA),
    ("sink.write", "docs_per_s", TEXT),
    ("checkpoint.run", "docs_per_s", MEDIA),
    ("checkpoint.apply_corrections", NONE, MEDIA),
    ("spark.stage", "core_s", ALL),
]
SELF_TIMED = tuple(name for name, _, _ in _SELF)
PER_LAYER += [(f"self_s.{n}", "s", "lower", moves, on) for n, moves, on in _SELF]


def units(traced: bool) -> dict[str, str]:
    rows = PER_LAYER if traced else END_TO_END
    return {row[0]: row[1] for row in rows}
