"""The shipped ``spark-submit --py-files`` artifact must match the source tree.

``dist/micro_lab_ocr_spark.zip`` is committed; rebuild it with
``scripts/package.sh`` after any change under ``micro_lab_ocr_spark/``.
"""

from __future__ import annotations

import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
ZIP = REPO / "dist" / "micro_lab_ocr_spark.zip"


def _source_files() -> set[str]:
    pkg = REPO / "micro_lab_ocr_spark"
    return {
        p.relative_to(REPO).as_posix()
        for p in pkg.rglob("*.py")
        if "__pycache__" not in p.parts
    }


def test_dist_zip_matches_source():
    with zipfile.ZipFile(ZIP) as zf:
        entries = {n for n in zf.namelist() if not n.endswith("/")}
        source = _source_files()
        assert not source - entries, f"missing from zip: {sorted(source - entries)}"
        assert not entries - source, f"not in source: {sorted(entries - source)}"
        stale = sorted(n for n in entries if zf.read(n) != (REPO / n).read_bytes())
        assert not stale, f"zip entries differ from source: {stale}"
