"""The benchmark's workloads: seeded inputs, the program calls a pass makes,
and the checks of every output against the repo's pure-Python oracle.

Generating the corpus and computing the oracle's expected spans are the load
generator's work; they run before set-up and outside every timed region.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow.parquet as pq

from micro_lab_ocr_spark.kernels import html, jpeg, ocr, pdf, png, upstage
from micro_lab_ocr_spark.oracle.extract import normalize_document
from micro_lab_ocr_spark.sources import fixtures

DOCS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
MEDIA_SCHEMA = "media_ref string, content binary"
KNOWN_KINDS = ("text", "html", "table_html", "image", "pdf")
IMAGE_MAGICS = (ocr.MAGIC, png.PNG_MAGIC, jpeg.JPEG_MAGIC)


@dataclass(frozen=True)
class Spec:
    name: str
    n_docs: int
    skew: bool
    mix: tuple[float, float, float, float]
    # 0: plain parquet input, normalize_spans into a parquet sink.
    # >0: catalog layout with this many buckets (docs and co-partitioned
    # media), one batched CheckpointedExtraction.run per pass; a traced run
    # then makes one apply_corrections over n_corrections edited docs.
    n_buckets: int
    n_corrections: int
    # timed passes per run, at least: the JVM keeps getting faster for about
    # a minute, so a fixed pass count keeps every run at the same point of
    # that curve, whatever --seconds is. A media pass costs about 15 s, so
    # that workload gets one.
    passes: int


SPECS = {
    "text_interleaved": Spec(
        "text_interleaved", n_docs=2000, skew=False, mix=(0.6, 0.8, 1.0, 1.0),
        n_buckets=0, n_corrections=0, passes=3,
    ),
    # skew off: at this corpus size one heavy-tail doc (10-100x the spans)
    # changes a seed's total work by up to 2x, which would swamp the bounds
    "media_job_upsert": Spec(
        "media_job_upsert", n_docs=100, skew=False, mix=fixtures.MEDIA_HEAVY_MIX,
        n_buckets=8, n_corrections=2, passes=1,
    ),
}


def span_key(span: dict) -> tuple:
    return (span["kind"], span["text"], span["media_ref"], span["offset"])


@dataclass
class Corpus:
    docs: list[dict]
    media: dict[str, bytes]
    expected: dict[str, list[tuple]]      # doc_id -> oracle span sequence


def make_corpus(spec: Spec, seed: int) -> Corpus:
    docs, media, _ = fixtures.generate_corpus(spec.n_docs, seed, spec.skew, spec.mix)
    media_map = {m["media_ref"]: m["content"] for m in media}
    expected = {
        d["doc_id"]: [span_key(s) for s in normalize_document(d["doc_id"], d["spans"], media_map)]
        for d in docs
    }
    return Corpus(docs, media_map, expected)


def docs_frame(spark, docs: list[dict]):
    return spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
         for d in docs],
        DOCS_SCHEMA,
    )


# ---------------------------------------------------------------------------
# span accounting (exact counts, from the inputs and the oracle's outputs)
# ---------------------------------------------------------------------------


def _media_route(kind: str, content: bytes | None) -> str:
    """Which arm of the pipeline a media span takes, by the same byte tests
    the oracle and ``operators.drm`` apply."""
    if content is None:
        return "missing_ref"
    if kind == "image":
        return "kernel" if content.startswith(IMAGE_MAGICS) else "undecodable"
    decodable = content.startswith(pdf.MAGIC) or (
        content.startswith(b"%PDF") and b"/Encrypt" not in content
    )
    return "kernel" if decodable else "undecodable"


def span_counts(corpus: Corpus) -> dict[str, float]:
    """Spans in and out by kind, pass-throughs by cause, and the share of
    media spans that decoded."""
    out: dict[str, float] = {f"spans_in.{k}": 0 for k in KNOWN_KINDS}
    out.update({f"spans_out.{k}": 0 for k in ("text", "table", "image", "pdf")})
    causes = ("missing_ref", "undecodable", "decode_failed", "unknown_kind")
    out.update({f"passthrough.{c}": 0 for c in causes})
    media_spans = decoded = 0
    for d in corpus.docs:
        result = corpus.expected[d["doc_id"]]
        for span, (out_kind, *_rest) in zip(sorted(d["spans"], key=lambda s: s["offset"]), result):
            kind = span["kind"]
            if kind not in KNOWN_KINDS:
                out["passthrough.unknown_kind"] += 1
                continue
            out[f"spans_in.{kind}"] += 1
            if kind in ("image", "pdf"):
                media_spans += 1
                route = _media_route(kind, corpus.media.get(span["media_ref"]))
                if route != "kernel":
                    out[f"passthrough.{route}"] += 1
                elif out_kind == kind:
                    out["passthrough.decode_failed"] += 1
                else:
                    decoded += 1
        for out_kind, *_rest in result:
            if f"spans_out.{out_kind}" in out:
                out[f"spans_out.{out_kind}"] += 1
    out["media_decoded_ratio"] = decoded / media_spans if media_spans else 0.0
    return out


def kernel_inputs(corpus: Corpus) -> dict[str, list]:
    """The inputs each Arrow kernel body receives in one pass."""
    got: dict[str, list] = {"html": [], "upstage": [], "ocr": [], "pdf": []}
    for d in corpus.docs:
        for s in d["spans"]:
            kind = s["kind"]
            if kind == "html":
                got["html"].append(s["text"])
            elif kind == "table_html":
                got["upstage"].append(s["text"])
            elif kind in ("image", "pdf"):
                content = corpus.media.get(s["media_ref"])
                if _media_route(kind, content) == "kernel":
                    got["ocr" if kind == "image" else "pdf"].append(content)
    return got


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


def read_output(out_dir: str) -> dict[str, list[tuple]]:
    """doc_id -> span sequence, from a parquet output directory (plain, or
    hive-partitioned by ``bucket``)."""
    table = pq.read_table(out_dir, columns=["doc_id", "spans"])
    got: dict[str, list[tuple]] = {}
    for row in table.to_pylist():
        spans = sorted(row["spans"] or [], key=lambda s: s["offset"])
        got.setdefault(row["doc_id"], [])
        got[row["doc_id"]].extend(span_key(s) for s in spans)
    return got


def check_output(got: dict[str, list[tuple]], expected: dict[str, list[tuple]]) -> list[str]:
    """Span-sequence equality of every doc; returns one message per failure."""
    errors = []
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    if missing:
        errors.append(f"{len(missing)} docs missing, e.g. {sorted(missing)[:3]}")
    if extra:
        errors.append(f"{len(extra)} unexpected docs, e.g. {sorted(extra)[:3]}")
    wrong = sorted(k for k in expected.keys() & got.keys() if got[k] != expected[k])
    if wrong:
        errors.append(f"{len(wrong)} docs differ from the oracle, e.g. {wrong[:3]}")
    return errors


def check_lineage(rows: list[dict], expected: dict[str, list[tuple]]) -> list[str]:
    n_docs = sum(r["n_docs"] for r in rows)
    n_spans = sum(r["n_spans"] for r in rows)
    want_spans = sum(len(v) for v in expected.values())
    if (n_docs, n_spans) != (len(expected), want_spans):
        return [f"lineage totals {n_docs} docs / {n_spans} spans, "
                f"input has {len(expected)} / {want_spans}"]
    return []


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total, files


# ---------------------------------------------------------------------------
# corrections (the upsert's input)
# ---------------------------------------------------------------------------


def corrections(corpus: Corpus, out_dir: str, n: int, seed: int) -> list[dict]:
    """``n`` edited copies of docs taken from ``n`` different output buckets.
    The edit appends a word to the doc's first text span, or appends a text
    span when it has none."""
    table = pq.read_table(out_dir, columns=["doc_id", "bucket"]).to_pylist()
    by_bucket: dict[int, list[str]] = {}
    for row in table:
        by_bucket.setdefault(int(row["bucket"]), []).append(row["doc_id"])
    rng = random.Random(seed)
    buckets = rng.sample(sorted(by_bucket), min(n, len(by_bucket)))
    docs = {d["doc_id"]: d for d in corpus.docs}
    edited = []
    for b in buckets:
        doc = docs[rng.choice(sorted(by_bucket[b]))]
        spans = [dict(s) for s in doc["spans"]]
        text = [s for s in spans if s["kind"] == "text"]
        if text:
            text[0]["text"] += " corrected"
        else:
            spans.append({"kind": "text", "text": "corrected", "media_ref": "",
                          "offset": max((s["offset"] for s in spans), default=-1) + 1})
        edited.append({"doc_id": doc["doc_id"], "spans": spans})
    return edited


# ---------------------------------------------------------------------------
# kernel bodies, called directly (single thread) on a pass's own inputs
# ---------------------------------------------------------------------------


def _html(text: str) -> bool:
    html.extract_main_content(text)
    return True


def _upstage(text: str) -> bool:
    """The page kernel of ``pipeline.extract._upstage_pages``: a page with
    fewer than three table rows yields no records (ok=false)."""
    rows = html.parse_first_table(text)
    if not rows or len(rows) < 3:
        return False
    upstage.date_header(rows)
    upstage.parse_page_records(rows)
    return True


def _ocr(content: bytes) -> bool:
    try:
        ocr.decode_image(content)
    except ocr.DECODE_ERRORS:
        return False
    return True


def _pdf(content: bytes) -> bool:
    try:
        pdf.layout_text(content)
    except ValueError:
        return False
    return True


KERNELS = {"html": _html, "upstage": _upstage, "ocr": _ocr, "pdf": _pdf}
