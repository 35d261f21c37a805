"""Checkpoint/lineage/resume + salted reassembly tests (SURVEY §4.2)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from micro_lab_ocr_spark.oracle import extract as ox
from micro_lab_ocr_spark.pipeline.checkpoint import CheckpointedExtraction
from micro_lab_ocr_spark.sources import fixtures

DOCS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


@pytest.fixture(scope="module")
def small_corpus(spark):
    docs, media, _ = fixtures.generate_corpus(n_docs=20, seed=7)
    docs_df = spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
         for d in docs],
        DOCS_SCHEMA,
    )
    media_df = spark.createDataFrame(
        [(m["media_ref"], bytearray(m["content"])) for m in media],
        "media_ref string, content binary",
    )
    return docs, media, docs_df, media_df


def test_checkpoint_resume(spark, small_corpus, tmp_path):
    docs, media, docs_df, media_df = small_corpus
    ck = CheckpointedExtraction(str(tmp_path / "ckpt"), str(tmp_path / "out"), n_buckets=4)

    # first run dies at bucket 2 (injected)
    with pytest.raises(RuntimeError, match="injected failure"):
        ck.run(spark, docs_df, media_df, snapshot_id="snap1", fail_at_bucket=2)
    done_before = ck.done_buckets()
    assert done_before == {0, 1}

    # resume: only the remaining buckets run
    results = ck.run(spark, docs_df, media_df, snapshot_id="snap1")
    assert sorted(r.bucket for r in results) == [2, 3]
    assert ck.done_buckets() == {0, 1, 2, 3}

    # lineage rows carry metrics
    lineage = ck.lineage()
    assert len(lineage) == 4
    assert all(row["status"] == "DONE" and row["snapshot_id"] == "snap1" for row in lineage)
    assert sum(row["n_docs"] for row in lineage) == len(docs)
    # the per-batch plan build is part of the batch wall
    assert all(0 <= row["plan_sec"] <= row["wall_sec"] for row in lineage)

    # the union of bucket outputs equals the oracle over all docs
    out = spark.read.parquet(str(tmp_path / "out"))
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in out.collect()}
    media_map = {m["media_ref"]: m["content"] for m in media}
    assert set(got) == {d["doc_id"] for d in docs}
    for d in docs:
        assert got[d["doc_id"]] == ox.normalize_document(d["doc_id"], d["spans"], media_map)


def test_batch_size_must_be_positive(tmp_path):
    """--batch-size comes from the job's command line; a non-positive size
    would otherwise make run() crash or silently skip every bucket."""
    for bad in (0, -1):
        with pytest.raises(ValueError, match="bucket_batch_size"):
            CheckpointedExtraction(
                str(tmp_path / "ck"), str(tmp_path / "out"), bucket_batch_size=bad
            )


def test_checkpoint_over_bucketed_catalog_layout(spark, small_corpus, tmp_path):
    """catalog.write_docs layout → checkpoint filters on the partition column
    (scan pruning, not a full-corpus hash filter per bucket) and the resumed
    output still matches the oracle."""
    from micro_lab_ocr_spark.sources import catalog

    docs, media, docs_df, media_df = small_corpus
    path = str(tmp_path / "docs_bucketed")
    catalog.write_docs(spark, docs_df, path, n_buckets=4)
    bucketed = catalog.read_docs(spark, path, keep_bucket=True)
    assert "bucket" in bucketed.columns

    # partition pruning is visible in the scan
    one = bucketed.where(F.col("bucket") == 2)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan

    ck = CheckpointedExtraction(str(tmp_path / "ck2"), str(tmp_path / "out2"), n_buckets=4)
    results = ck.run(spark, bucketed, media_df, snapshot_id="snap2")
    assert len(results) == 4
    out = spark.read.parquet(str(tmp_path / "out2"))
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in out.collect()}
    media_map = {m["media_ref"]: m["content"] for m in media}
    assert set(got) == {d["doc_id"] for d in docs}
    for d in docs:
        assert got[d["doc_id"]] == ox.normalize_document(d["doc_id"], d["spans"], media_map)


def test_salted_reassembly_matches_oracle(spark, small_corpus):
    """normalize_spans with skew-salted reassembly must produce byte-identical
    span sequences (content-order sort, never task order)."""
    from micro_lab_ocr_spark.pipeline.extract import normalize_spans

    docs, media, docs_df, media_df = small_corpus
    out = normalize_spans(docs_df, media_df, salt_buckets=8).collect()
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in out}
    media_map = {m["media_ref"]: m["content"] for m in media}
    for d in docs:
        assert got[d["doc_id"]] == ox.normalize_document(d["doc_id"], d["spans"], media_map)


def _oracle_check(spark, out_path, docs, media):
    out = spark.read.parquet(out_path)
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in out.collect()}
    media_map = {m["media_ref"]: m["content"] for m in media}
    assert set(got) == {d["doc_id"] for d in docs}
    for d in docs:
        assert got[d["doc_id"]] == ox.normalize_document(d["doc_id"], d["spans"], media_map)


@pytest.mark.parametrize("layout_n", [8, 6])
def test_checkpoint_layout_bucket_mismatch_no_data_loss(
    spark, small_corpus, tmp_path, layout_n
):
    """Layout written with MORE buckets than the checkpoint's n_buckets must
    not silently drop docs in layout buckets >= n_buckets (round-2 advisory,
    high). layout_n=8 exercises the divisible pmod-fold (still partition-
    prunable); layout_n=6 the re-hash fallback."""
    from micro_lab_ocr_spark.sources import catalog

    docs, media, docs_df, media_df = small_corpus
    path = str(tmp_path / f"docs_l{layout_n}")
    catalog.write_docs(spark, docs_df, path, n_buckets=layout_n)
    bucketed = catalog.read_docs(spark, path, keep_bucket=True)

    ck = CheckpointedExtraction(
        str(tmp_path / f"ck_l{layout_n}"), str(tmp_path / f"out_l{layout_n}"), n_buckets=4
    )
    results = ck.run(spark, bucketed, media_df, snapshot_id="snapX")
    assert sum(r.n_docs for r in results) == len(docs)
    _oracle_check(spark, str(tmp_path / f"out_l{layout_n}"), docs, media)


def test_checkpoint_single_media_probe(spark, small_corpus, tmp_path, monkeypatch):
    """The media isEmpty() probe must fire once per job, not once per bucket
    (round-2 verdict item 4)."""
    docs, media, docs_df, media_df = small_corpus
    # patch the CONCRETE class (Spark 4's classic DataFrame overrides the
    # pyspark.sql.DataFrame base method, so patching the base misses)
    cls = type(media_df)
    calls = {"n": 0}
    orig = cls.isEmpty

    def counted(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(cls, "isEmpty", counted)
    ck = CheckpointedExtraction(str(tmp_path / "ck_p"), str(tmp_path / "out_p"), n_buckets=4)
    ck.run(spark, docs_df, media_df, snapshot_id="snapP")
    assert calls["n"] == 1


def test_corrections_upsert_keyed_replace(spark, small_corpus, tmp_path):
    """S11: re-running changed docs REPLACES their rows (keyed on doc_id —
    the reference's same-test# sheet replacement analogue), inserts brand-new
    docs, leaves everything else byte-identical, and is idempotent."""
    docs, media, docs_df, media_df = small_corpus
    ck = CheckpointedExtraction(str(tmp_path / "ck_u"), str(tmp_path / "out_u"), n_buckets=4)
    ck.run(spark, docs_df, media_df, snapshot_id="base")
    out_path = str(tmp_path / "out_u")
    base = {r["doc_id"]: [s.asDict() for s in r["spans"]]
            for r in spark.read.parquet(out_path).collect()}

    # correct one existing doc (replace its spans) and add one new doc
    target = docs[3]["doc_id"]
    new_spans = [{"kind": "text", "text": "corrected body", "media_ref": "", "offset": 0},
                 {"kind": "text", "text": "second line", "media_ref": "", "offset": 1}]
    corrected = [
        {"doc_id": target, "spans": new_spans},
        {"doc_id": "dnew1", "spans": [{"kind": "text", "text": "fresh", "media_ref": "", "offset": 0}]},
    ]
    corr_df = spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
         for d in corrected],
        DOCS_SCHEMA,
    )
    results = ck.apply_corrections(spark, corr_df, media_df, snapshot_id="fix1")
    assert 1 <= len(results) <= 2   # only affected buckets rewritten
    # lineage counts are observed on the write; they must equal a re-read
    lineage = {row["bucket"]: row for row in ck.lineage()}
    for r in results:
        written = spark.read.parquet(os.path.join(out_path, f"bucket={r.bucket}"))
        n_spans = written.select(F.sum(F.size("spans"))).collect()[0][0]
        assert (r.n_docs, r.n_spans) == (written.count(), n_spans)
        assert lineage[r.bucket]["n_docs"] == r.n_docs
        assert lineage[r.bucket]["n_spans"] == r.n_spans
        assert 0 <= lineage[r.bucket]["plan_sec"] <= lineage[r.bucket]["wall_sec"]

    after = {r["doc_id"]: [s.asDict() for s in r["spans"]]
             for r in spark.read.parquet(out_path).collect()}
    media_map = {m["media_ref"]: m["content"] for m in media}
    assert len(after) == len(base) + 1                      # no duplicates
    assert after[target] == ox.normalize_document(target, new_spans, media_map)
    assert after["dnew1"][0]["text"] == "fresh"
    for doc_id, spans in base.items():
        if doc_id != target:
            assert after[doc_id] == spans                   # untouched

    # idempotent: re-applying the same corrections changes nothing
    ck.apply_corrections(spark, corr_df, media_df, snapshot_id="fix1-again")
    again = {r["doc_id"]: [s.asDict() for s in r["spans"]]
             for r in spark.read.parquet(out_path).collect()}
    assert again == after
    # lineage rows for affected buckets carry the corrections snapshot
    snap_ids = {row["snapshot_id"] for row in ck.lineage()}
    assert "fix1-again" in snap_ids and "base" in snap_ids

    # crash recovery: a crash BETWEEN the two swap renames leaves the bucket
    # path absent with the complete old bucket in .old — a re-run must
    # restore it before merging, not fall into the new-rows-only branch and
    # drop every non-corrected doc in the bucket
    affected = [row.bucket for row in results]
    crash_bucket = affected[0]
    bpath = os.path.join(out_path, f"bucket={crash_bucket}")
    os.rename(bpath, bpath + ".old")
    ck.apply_corrections(spark, corr_df, media_df, snapshot_id="fix1-crash")
    recovered = {r["doc_id"]: [s.asDict() for s in r["spans"]]
                 for r in spark.read.parquet(out_path).collect()}
    assert recovered == after
    assert not os.path.exists(bpath + ".old")


def test_batch_zero_output_bucket_clears_stale_files(spark, small_corpus, tmp_path):
    """Dynamic partition overwrite only replaces partitions that receive
    rows — a run whose input no longer populates a bucket must still clear
    that bucket's previous files, or readers see deleted docs resurrected."""
    from pyspark.sql import functions as F

    from micro_lab_ocr_spark.sources.catalog import bucket_expr

    docs, media, docs_df, media_df = small_corpus
    out = str(tmp_path / "out_z")
    ck1 = CheckpointedExtraction(
        str(tmp_path / "ck_z1"), out, n_buckets=4, bucket_batch_size=4
    )
    ck1.run(spark, docs_df, media_df, snapshot_id="full")
    b = docs_df.select(bucket_expr("doc_id", 4).alias("b")).collect()[0]["b"]
    assert os.path.exists(os.path.join(out, f"bucket={b}"))
    # second run (fresh checkpoint dir, same output): bucket b now empty
    pruned = docs_df.where(bucket_expr("doc_id", 4) != b)
    ck2 = CheckpointedExtraction(
        str(tmp_path / "ck_z2"), out, n_buckets=4, bucket_batch_size=4
    )
    rows = ck2.run(spark, pruned, media_df, snapshot_id="pruned")
    by_bucket = {r.bucket: r for r in rows}
    assert by_bucket[int(b)].n_docs == 0
    assert not os.path.exists(os.path.join(out, f"bucket={b}"))
    survivors = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert survivors == {r["doc_id"] for r in pruned.select("doc_id").collect()}


def test_iceberg_contract(spark):
    """No Iceberg jar ships here, so the cluster path can't execute — but the
    contract it relies on CAN be checked: both DDLs must PARSE through
    Spark's own SQL parser (CREATE TABLE ... USING iceberg PARTITIONED BY
    (bucket(N, col)) is generic DSv2 syntax), and every Spark-side SPJ conf
    key must exist in this Spark build (round-2 verdict item 7)."""
    from micro_lab_ocr_spark.sources import catalog

    parser = spark._jsparkSession.sessionState().sqlParser()
    for ddl, key in (
        (catalog.ICEBERG_DOCS_DDL, "doc_id"),
        (catalog.ICEBERG_MEDIA_DDL, "media_ref"),
    ):
        sql = ddl.format(catalog="spark_catalog", db="default", n_buckets=64)
        plan = parser.parsePlan(sql)  # raises ParseException on bad syntax
        s = plan.toString()
        assert "iceberg" in s.lower()
        assert f"bucket(64, {key})" in s.replace("'", "")
    # Spark-side SPJ confs must be real knobs in this build
    for k in catalog.ICEBERG_SPJ_CONFS:
        if k.startswith("spark.sql.iceberg."):
            continue  # provided by the Iceberg runtime, absent locally
        assert spark.conf.get(k) is not None, f"conf {k} unknown to this Spark"


def test_media_copartitioned_pruning(spark, small_corpus, tmp_path):
    """Media written co-partitioned with the docs layout: per-bucket runs
    prune the media scan (PartitionFilters on the media side) and the output
    still matches the oracle exactly."""
    from micro_lab_ocr_spark.sources import catalog

    docs, media, docs_df, media_df = small_corpus
    dpath = str(tmp_path / "docs_cp")
    mpath = str(tmp_path / "media_cp")
    catalog.write_docs(spark, docs_df, dpath, n_buckets=4)
    # media_ref is m://<doc_id>/<n> — derive the owning doc key
    catalog.write_media_copartitioned(
        spark, media_df, mpath,
        owner_doc_id=F.split(F.col("media_ref"), "/").getItem(2), n_buckets=4,
    )
    bucketed_docs = catalog.read_docs(spark, dpath, keep_bucket=True)
    bucketed_media = spark.read.parquet(mpath)
    assert "bucket" in bucketed_media.columns

    ck = CheckpointedExtraction(
        str(tmp_path / "ck_cp"), str(tmp_path / "out_cp"), n_buckets=4,
        media_copartitioned=True,
    )
    results = ck.run(spark, bucketed_docs, bucketed_media, snapshot_id="cp")
    assert sum(r.n_docs for r in results) == len(docs)
    _oracle_check(spark, str(tmp_path / "out_cp"), docs, media)


def test_batched_checkpoint_matches_oracle_and_resumes(spark, small_corpus, tmp_path):
    """bucket_batch_size>1: one dynamic-partition-overwrite write per batch,
    per-bucket lineage rows, identical output to the oracle; a later resume
    over the same checkpoint dir skips everything."""
    docs, media, docs_df, media_df = small_corpus
    ck = CheckpointedExtraction(
        str(tmp_path / "ck_b"), str(tmp_path / "out_b"), n_buckets=4,
        bucket_batch_size=4,
    )
    results = ck.run(spark, docs_df, media_df, snapshot_id="batch1")
    assert sorted(r.bucket for r in results) == [0, 1, 2, 3]
    assert sum(r.n_docs for r in results) == len(docs)
    _oracle_check(spark, str(tmp_path / "out_b"), docs, media)
    # resume: nothing to do
    again = ck.run(spark, docs_df, media_df, snapshot_id="batch1")
    assert again == []
    # partial resume: drop one bucket's checkpoint row -> only that bucket
    # (one single-bucket batch) reruns, and the output still matches
    os.remove(ck._ckpt_path(2))
    redo = ck.run(spark, docs_df, media_df, snapshot_id="batch2")
    assert [r.bucket for r in redo] == [2]
    _oracle_check(spark, str(tmp_path / "out_b"), docs, media)
