"""The flagship pipeline: interleaved spans → normalized spans per doc_id.

Dataflow (SURVEY §3.1 lifecycle, Spark-first):

    docs(doc_id, spans) ──explode──► span rows ──route by kind──►
      text        → pass-through
      html        → mapInPandas(main-content kernel)            [no shuffle]
      pdf         → DRM detect → media scan ⋈ broadcast(refs) →
                    mapInPandas(XY-cut kernel)                  [no content shuffle]
      image       → media scan ⋈ broadcast(refs) →
                    mapInPandas(OCR kernel: MLIMG/PNG/JPEG,
                    decode failure → ok=false) ──►
                    grid_extract (pure Catalyst)                [1 shuffle: page]
      table_html  → mapInPandas(Upstage page kernel) ──►
                    W2 date-carry window over (doc_id, offset)  [1 shuffle: doc_id]
    ──unionByName──► groupBy(doc_id) collect+sort → dense offsets [1 shuffle: doc_id]

Scale notes: media CONTENT never enters a shuffle OR a broadcast — under
``media_join="broadcast"`` the narrow span-ref projection broadcasts onto the
media scan and the decode kernels run in the scan's own stage (right when the
refs side is bounded, e.g. per checkpoint bucket); under ``"shuffle_refs"``
nothing is force-broadcast and the narrow refs exchange to meet a
media table stored bucketed on media_ref (catalog.write_media_bucketed /
Iceberg ``bucket(N, media_ref)`` + SPJ), whose scan plans NO exchange;
``"auto"`` picks by a measured media count. With the docs table bucketed by
doc_id (Iceberg ``bucket(N, doc_id)``) the W2 window and the final reassembly
reuse storage partitioning (SPJ) too. The Upstage page kernel is an Arrow-batched
mapInPandas (one page per row — batch-level vectorization; per SURVEY §4.3 the
FIFO fallback state is doc-local and deterministic). The Azure grid path is
pure Catalyst — see operators/grid_extract.py. Arrow batches are capped at
512 rows (session.py) so media batches stay cache-friendly.
"""

from __future__ import annotations

from collections.abc import Iterator
from types import SimpleNamespace

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from micro_lab_ocr_spark import spanspec
from micro_lab_ocr_spark.functions.cached import per_jvm
from micro_lab_ocr_spark.operators import drm, grid_extract

SPAN_SCHEMA = "doc_id string, offset int, kind string, text string, media_ref string"
OUT_FIELDS = ["doc_id", "offset", "kind", "text", "media_ref"]
KNOWN_KINDS = ("text", "html", "table_html", "image", "pdf")


def _sort_spans(arr: Column) -> Column:
    """array_sort over span structs by their unique leading ``offset`` key.

    ``offset`` is the struct's FIRST field and unique per doc after branch
    union (each span keeps its source offset exactly once), so the default
    lexicographic struct compare short-circuits at the int field on every
    comparison and never reads the text payload. A comparator-lambda variant
    over the offset alone was considered and rejected: it buys nothing (the
    tail fields only act on offset ties, which cannot occur) and replaces
    the codegen'd ordering with per-comparison interpreted lambda eval."""
    return F.array_sort(arr)


# ---------------------------------------------------------------------------
# Arrow kernels (mapInPandas iterators — the only Python in the plan)
# ---------------------------------------------------------------------------


def _html_main_content(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from micro_lab_ocr_spark.kernels import html as hk

    for pdf in it:
        pdf = pdf.copy()
        pdf["text"] = pdf["text"].map(hk.extract_main_content)
        pdf["kind"] = "text"
        pdf["media_ref"] = ""
        yield pdf[OUT_FIELDS]


def _pdf_layout(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from micro_lab_ocr_spark.kernels import pdf as pk

    for pdf in it:
        kinds, texts = [], []
        for content, orig_text in zip(pdf["content"], pdf["text"]):
            try:
                texts.append(pk.layout_text(bytes(content)))
                kinds.append("text")
            except ValueError:
                # real %PDF with no recoverable text layer (image-only /
                # exotic filters): pass the span through unchanged rather
                # than dropping it — mirrors the undecodable-container route
                texts.append(orig_text)
                kinds.append("pdf")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "offset": pdf["offset"],
                "kind": kinds,
                "text": texts,
                "media_ref": pdf["media_ref"],
            }
        )


def _ocr_grids(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """OCR decode with per-row failure routing: magic-valid bytes whose
    payload fails to decode (truncated PNG/JPEG, progressive JPEG, corrupt
    MLIMG) yield ``ok=false`` and carry the ORIGINAL span text, so the
    pipeline routes them to the pass-through arm — one corrupt blob must
    never fail a 10^12-doc job (same contract as the pdf branch's
    no-text-layer fallback)."""
    from micro_lab_ocr_spark.kernels import ocr as ok

    prof_dir = __import__("os").environ.get("SPARK_GRAFT_KERNEL_PROF")
    if prof_dir:
        yield from _profiled(_ocr_grids_body, it, ok, prof_dir)
        return
    yield from _ocr_grids_body(it, ok)


def _profiled(body, it: Iterator[pd.DataFrame], ok, prof_dir: str):
    """Wrap a kernel body with per-task timing: splits the task's Python wall
    into fetch (blocked in next(it): JVM feed + Arrow→pandas), decode (our
    loop body), and emit (time between our yield and resumption: pandas→Arrow
    output serialization by the consumer + the gap before the next fetch).
    One JSON line per task at generator exhaustion — diagnostic only, off
    unless SPARK_GRAFT_KERNEL_PROF names a directory (see
    BENCH/probes/stage_prof.py)."""
    import json
    import os
    import time

    t_fetch = t_decode = t_emit = 0.0
    rows = 0
    cpu0 = time.process_time()
    wall0 = time.monotonic()

    def timed_it():
        nonlocal t_fetch, rows
        src = iter(it)
        while True:
            t0 = time.monotonic()
            try:
                pdf = next(src)
            except StopIteration:
                t_fetch += time.monotonic() - t0
                return
            t_fetch += time.monotonic() - t0
            rows += len(pdf)
            yield pdf

    gen = body(timed_it(), ok)
    while True:
        t0 = time.monotonic()
        try:
            out = next(gen)
        except StopIteration:
            t_decode += time.monotonic() - t0
            break
        t_decode += time.monotonic() - t0
        t1 = time.monotonic()
        yield out
        t_emit += time.monotonic() - t1
    # every next(src) the body performs runs INSIDE one of our next(gen)
    # windows, so t_fetch is strictly nested in t_decode — subtract it so
    # fetch/decode/emit are disjoint splits of the task wall (max() guards
    # sub-ms clock jitter only)
    rec = {
        "pid": os.getpid(),
        "rows": rows,
        "wall": round(time.monotonic() - wall0, 3),
        "cpu": round(time.process_time() - cpu0, 3),
        "fetch": round(t_fetch, 3),
        "decode": round(max(0.0, t_decode - t_fetch), 3),
        "emit": round(t_emit, 3),
    }
    with open(os.path.join(prof_dir, f"{os.getpid()}.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")


def _ocr_grids_body(it: Iterator[pd.DataFrame], ok) -> Iterator[pd.DataFrame]:
    for pdf in it:
        cells, oks = [], []
        for content in pdf["content"]:
            try:
                cells.append(
                    [
                        {"row": r, "col": c, "text": t}
                        for r, c, t in ok.decode_image(bytes(content))
                    ]
                )
                oks.append(True)
            except ok.DECODE_ERRORS:
                cells.append([])
                oks.append(False)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "offset": pdf["offset"],
                "media_ref": pdf["media_ref"],
                "span_text": pdf["span_text"],
                "ok": oks,
                "cells": cells,
            }
        )


def _upstage_pages(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One Upstage page per row: first-table parse → records + own-date.

    Returns serialized record lines (sans dates) + the page's own parsed date
    (nullable) — the W2 carry happens downstream in a Spark window.
    """
    from micro_lab_ocr_spark.kernels import html as hk
    from micro_lab_ocr_spark.kernels import upstage as uk

    for pdf in it:
        lines_out, d0, d7, d14, d28 = [], [], [], [], []
        ok = []
        for html in pdf["text"]:
            rows = hk.parse_first_table(html)
            if not rows or len(rows) < 3:
                lines_out.append("")
                d0.append(None); d7.append(None); d14.append(None); d28.append(None)
                ok.append(False)
                continue
            ok.append(True)
            date_found = uk.date_header(rows)
            records = uk.parse_page_records(rows)
            lines_out.append(
                "\n".join(
                    "|".join(str(r[f]) for f in spanspec.RECORD_FIELDS) for r in records
                )
            )
            d0.append(date_found.get("date_0"))
            d7.append(date_found.get("date_7"))
            d14.append(date_found.get("date_14"))
            d28.append(date_found.get("date_28"))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "offset": pdf["offset"],
                "lines": lines_out,
                "ok": ok,
                "d0": d0, "d7": d7, "d14": d14, "d28": d28,
            }
        )


# ---------------------------------------------------------------------------
# serialization helpers (Catalyst mirror of spanspec.serialize_table)
# ---------------------------------------------------------------------------


def _dates_line(date_struct: Column) -> Column:
    return F.when(
        date_struct.isNull(), F.lit(",,,")
    ).otherwise(
        F.concat_ws(
            ",",
            date_struct.getField("date_0"),
            date_struct.getField("date_7"),
            date_struct.getField("date_14"),
            date_struct.getField("date_28"),
        )
    )


def _with_dates(dates_line: Column, lines: Column) -> Column:
    body = F.concat(F.lit("dates="), dates_line)
    return F.when(
        F.coalesce(lines, F.lit("")) == "", body
    ).otherwise(F.concat(body, F.lit("\n"), lines))


@per_jvm
def _exprs() -> SimpleNamespace:
    """Every Column :func:`normalize_spans` wires, built once per JVM (see
    :mod:`~micro_lab_ocr_spark.functions.cached`). Per call remain only the
    DataFrame wiring, the kernel UDFs and reads of the session conf."""
    kind = F.col("kind")
    ok = F.col("ok")
    # W2 — cross-page date carry within a doc: carry the last page that
    # actually parsed a date (`backend.py:256-307`); min-row gate failures
    # (ok=false) neither carry nor consume (`backend.py:235-238`).
    w2 = Window.partitionBy("doc_id").orderBy("offset").rowsBetween(
        Window.unboundedPreceding, 0
    )
    own_date = F.when(
        F.col("d0").isNotNull(),
        F.concat_ws(",", "d0", "d7", "d14", "d28"),
    )
    span_struct = F.struct("offset", "kind", "text", "media_ref")
    return SimpleNamespace(
        span_row=F.explode("spans").alias("s"),
        span_fields=(
            F.col("s.offset").alias("offset"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
        ),
        is_kind={k: kind == k for k in KNOWN_KINDS},
        is_unknown_kind=~kind.isin(*KNOWN_KINDS),
        text_out=(F.lit("text").alias("kind"), "text", F.lit("").alias("media_ref")),
        has_content=F.col("content").isNotNull(),
        pdf_decodable=drm.is_decodable(F.col("content")),
        img_decodable=drm.is_decodable_image(F.col("content")),
        span_text=F.col("text").alias("span_text"),
        image_out=(
            F.when(ok, F.lit("table")).otherwise(F.lit("image")).alias("kind"),
            F.when(
                ok, _with_dates(_dates_line(F.col("date_info")), F.col("lines")),
            ).otherwise(F.col("span_text")).alias("text"),
        ),
        carried={"carried": F.last(own_date, ignorenulls=True).over(w2)},
        table_out=(
            F.lit("table").alias("kind"),
            F.when(~ok, F.lit("dates=,,,"))
            .otherwise(
                _with_dates(F.coalesce(F.col("carried"), F.lit(",,,")), F.col("lines"))
            )
            .alias("text"),
            F.lit("").alias("media_ref"),
        ),
        span_struct=span_struct,
        ordered=_sort_spans(F.collect_list(span_struct)).alias("ordered"),
        dense_spans=F.transform(
            F.col("ordered"),
            lambda s, i: F.struct(
                s.getField("kind").alias("kind"),
                s.getField("text").alias("text"),
                s.getField("media_ref").alias("media_ref"),
                i.alias("offset"),
            ),
        ).alias("spans"),
        spans_or_empty=F.coalesce(
            "spans",
            F.array().cast(
                "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
            ),
        ).alias("spans"),
    )


# ---------------------------------------------------------------------------
# the pipeline
# ---------------------------------------------------------------------------


def normalize_spans(
    docs: DataFrame,
    media: DataFrame | None,
    salt_buckets: int = 0,
    media_present: bool | None = None,
    media_join: str = "auto",
    broadcast_ref_limit: int = 10_000_000,
    media_count: int | None = None,
) -> DataFrame:
    """docs(doc_id, spans:array<struct<kind,text,media_ref,offset>>) +
    media(media_ref, content:binary) → (doc_id, spans) normalized.

    ``salt_buckets``: >0 enables skew-salted reassembly for heavy-tailed docs
    (see _assemble). ``media_present``: pass False for text-only corpora to
    prune the media branches WITHOUT the driver-side ``isEmpty()`` action
    (None = unknown → probe once; an eager action at plan-construction time
    is acceptable only when the caller can't know).

    ``media_join`` picks how span refs meet media content (the content bytes
    NEVER shuffle or broadcast under any mode):

    * ``"broadcast"`` — the narrow span-ref projection broadcasts onto the
      media scan; decode kernels run in the scan's own stage. Right when the
      refs side is bounded (per checkpoint bucket). UNBOUNDED refs through
      the driver is the round-2 flagged risk — hence:
    * ``"shuffle_refs"`` — no forced broadcast: the refs side (still narrow)
      shuffles to meet the media scan. With media stored as a bucketed table
      on media_ref (``catalog.write_media_bucketed`` / Iceberg
      ``bucket(N, media_ref)``), the media side needs NO exchange — content
      flows scan→join→decode within one stage; only ref rows cross the wire.
    * ``"auto"`` (default) — probe the media-table row count (one
      column-pruned action, parquet metadata-cheap; pass ``media_count`` to
      skip it) and pick: ≤ ``broadcast_ref_limit`` → broadcast, else
      shuffle_refs. The boundedness assumption becomes a measured fact.
      (Media rows bound the MATCHED ref set; a corpus where vastly many
      spans share few media rows would under-estimate the spans-side
      projection — such sharing is outside this engine's data model, where
      each media row is referenced by one span.)"""
    x = _exprs()
    spans = docs.select("doc_id", x.span_row).select("doc_id", *x.span_fields)

    text_out = spans.where(x.is_kind["text"]).select("doc_id", "offset", *x.text_out)

    # Unknown span kinds pass through unchanged — never silently dropped
    # (a 10^12-doc run must not lose data on schema drift).
    other_out = spans.where(x.is_unknown_kind).select(
        "doc_id", "offset", "kind", "text", "media_ref"
    )

    html_out = (
        spans.where(x.is_kind["html"])
        .select("doc_id", "offset", "kind", "text", "media_ref")
        .mapInPandas(_html_main_content, SPAN_SCHEMA)
    )

    # Media routing. The content column is the dominant bytes of the whole
    # job — it must NEVER enter a shuffle (this box's memory-bandwidth
    # calibration shows byte-moving work scales at ~0.1 efficiency 8→32
    # cores; a real cluster pays the same tax in network+spill). So instead
    # of a spans⋈media shuffle join, the narrow (doc_id, offset, kind, text,
    # media_ref) span projection BROADCASTS onto the media scan and the
    # decode kernels run in the very same stage as that scan. Missing-ref
    # pass-throughs route via a column-pruned media_ref key scan (tiny).
    # At 10^12 docs the refs side is bounded per checkpoint bucket
    # (pipeline/checkpoint.py); a whole-corpus single pass would instead
    # co-locate via bucket(media_ref) storage (SPJ) — same no-content-shuffle
    # property.
    if media is None:
        media_is_empty = True
    elif media_present is not None:
        media_is_empty = not media_present
    else:
        media_is_empty = media.isEmpty()

    span_cols = ["doc_id", "offset", "kind", "text", "media_ref"]
    pdf_spans = spans.where(x.is_kind["pdf"]).select(*span_cols)
    image_spans = spans.where(x.is_kind["image"]).select(*span_cols)
    if media_is_empty:
        pdf_out = pdf_spans
        image_out = image_spans
        return _assemble(
            docs, text_out, html_out, pdf_out, image_out, _table_html_branch(spans),
            other_out, salt_buckets=salt_buckets,
        )

    # A media row with NULL content is a dangling ref: the decode kernels
    # must never see it (bytes(None) would fail the whole job) — the span
    # passes through unchanged via the *_missing arms, never lost.
    media = media.where(x.has_content)

    if media_join == "auto":
        n_media = media_count if media_count is not None else media.count()
        media_join = "broadcast" if n_media <= broadcast_ref_limit else "shuffle_refs"
    if media_join not in ("broadcast", "shuffle_refs"):
        raise ValueError(f"media_join must be broadcast|shuffle_refs|auto, got {media_join!r}")
    # b() marks the SMALL side of every ref join. In broadcast mode it pins a
    # BroadcastHashJoin (refs ride onto the media scan — zero exchanges); in
    # shuffle_refs mode the hint is dropped and the narrow refs exchange to
    # meet the media scan instead — with media stored bucketed on media_ref
    # (catalog.write_media_bucketed / Iceberg bucket(N, media_ref)) the media
    # side plans NO exchange, so content still never crosses the wire.
    b = F.broadcast if media_join == "broadcast" else (lambda df: df)
    media_keys = b(media.select("media_ref"))  # pruned key scan

    # ---- pdf branch: DRM detect → XY-cut layout kernel --------------------
    # S2 DRM detect (`drm_utils.py:19-134`): only decodable containers reach
    # the layout kernel; DRM-flagged / undecodable bytes pass through
    # unchanged (S3 external decrypt is a non-goal — visible, never lost),
    # exactly like dangling media refs.
    pdf_missing = pdf_spans.join(media_keys, "media_ref", "left_anti")
    pdf_matched = media.join(b(pdf_spans), "media_ref")
    pdf_undecodable = pdf_matched.where(~x.pdf_decodable).select(*span_cols)
    pdf_out = (
        pdf_matched.where(x.pdf_decodable)
        # "text" rides along (tiny for media spans) so the kernel's
        # no-text-layer fallback can pass the span through unchanged
        .select("doc_id", "offset", "media_ref", "text", "content")
        .mapInPandas(_pdf_layout, SPAN_SCHEMA)
        .unionByName(pdf_undecodable)
        .unionByName(pdf_missing)
    )

    # ---- image branch: OCR → Catalyst grid extraction ---------------------
    # Only decodable-magic rasters (MLIMG fixture container, real PNG, real
    # baseline JPEG — stdlib codecs) reach the OCR kernel; other bytes
    # (TIFF, junk) pass through unchanged like dangling refs, and
    # magic-valid-but-corrupt payloads come back from the kernel with
    # ok=false and pass through too — a 10^12-doc run must not crash on one
    # undecodable blob.
    image_missing = image_spans.join(media_keys, "media_ref", "left_anti")
    image_undecodable = (
        media.where(~x.img_decodable)
        .select("media_ref")
        .join(b(image_spans), "media_ref")
        .select(*span_cols)
    )
    grids = (
        media.where(x.img_decodable)
        .join(b(image_spans.select("doc_id", "offset", "media_ref", "text")), "media_ref")
        .select("doc_id", "offset", "media_ref", x.span_text, "content")
        .mapInPandas(
            _ocr_grids,
            "doc_id string, offset int, media_ref string, span_text string, "
            "ok boolean, cells array<struct<row:int,col:int,text:string>>",
        )
    )
    # The kernel output feeds grid_extract ONLY; span identity, the original
    # text and the decode-failure flag ride THROUGH the grid DAG as
    # page-constant grouping keys (grid_extract passthrough mode). The fused
    # extract_page_lines is the page-key exchange's SINGLE consumer: per-row
    # enrichment windows feed one groupBy(page) that emits the serialized
    # record block + page metadata together. The previous two-consumer shape
    # (records→page_text groupBy ⋈ pages groupBy) read the exchange twice and
    # ran the cells→rows aggregate twice — 654 MB shuffle read vs 338 MB
    # written on the 36k-doc scaling corpus, in the memory-traffic-bound
    # stage that caps scaling efficiency (BENCH/BASELINE.md).
    paged = grid_extract.extract_page_lines(grids)
    # `paged` covers every matched decodable-magic row 1:1 (explode_outer in
    # grid_extract keeps failed/empty pages) and carries span identity plus
    # the ok flag, so the whole image output — table spans AND decode-failure
    # pass-throughs — is one CASE over it (no join, no further shuffle)
    image_out = (
        paged
        .select("doc_id", "offset", *x.image_out, "media_ref")
        .unionByName(image_missing)
        .unionByName(image_undecodable)
    )

    return _assemble(
        docs, text_out, html_out, pdf_out, image_out, _table_html_branch(spans),
        other_out, salt_buckets=salt_buckets,
    )


def _table_html_branch(spans: DataFrame) -> DataFrame:
    """Upstage page kernel + W2 date-carry window (see :func:`_exprs`)."""
    x = _exprs()
    upstage = (
        spans.where(x.is_kind["table_html"])
        .select("doc_id", "offset", "text")
        .mapInPandas(
            _upstage_pages,
            "doc_id string, offset int, lines string, ok boolean, "
            "d0 string, d7 string, d14 string, d28 string",
        )
    )
    return upstage.withColumns(x.carried).select("doc_id", "offset", *x.table_out)


def _assemble(
    docs: DataFrame, *branches: DataFrame, salt_buckets: int = 0
) -> DataFrame:
    """Reassembly: per-doc ordered spans with dense offsets; docs with zero
    spans still appear (empty array, not silently lost).

    ``salt_buckets > 0`` enables skew salting for heavy-tailed docs (SURVEY
    §4.2): spans first aggregate per (doc_id, pmod(offset, K)) — a mega-doc's
    collect spreads over K tasks — then the K partial lists merge and the
    final array_sort on (offset) restores content order, so determinism never
    depends on task order (SURVEY §7.3 risk 4).
    """
    x = _exprs()
    all_spans = branches[0]
    for b in branches[1:]:
        all_spans = all_spans.unionByName(b)
    if salt_buckets > 0:
        partial = (
            all_spans.withColumn("salt", F.pmod("offset", F.lit(salt_buckets)))
            .groupBy("doc_id", "salt")
            .agg(F.collect_list(x.span_struct).alias("part"))
        )
        assembled = (
            partial.groupBy("doc_id")
            .agg(_sort_spans(F.flatten(F.collect_list("part"))).alias("ordered"))
        )
    else:
        assembled = all_spans.groupBy("doc_id").agg(x.ordered)
    assembled = assembled.select("doc_id", x.dense_spans)
    return (
        docs.select("doc_id")
        .join(assembled, "doc_id", "left")
        .select("doc_id", x.spans_or_empty)
    )
