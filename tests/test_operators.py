"""Operator-level tests: dedup recall on planted near-dups, SimHash pairing,
ANN recall of the LSH path vs brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from micro_lab_ocr_spark.operators import ann, dedup


@pytest.fixture(scope="module")
def doc_df(spark):
    import random

    rng = random.Random(5)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(200):
        text = " ".join(rng.choice(words) for _ in range(80))
        rows.append((i, text))
        if i % 10 == 0:
            # near-dup: drop the last 10%
            rows.append((i + 10000, " ".join(text.split()[:72])))
        if i % 25 == 0:
            rows.append((i + 20000, text))  # exact dup
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_dedup_exact_finds_planted(doc_df):
    groups = dedup.dedup_exact(doc_df).collect()
    keepers = {r["keeper_id"] for r in groups}
    assert keepers == {i for i in range(0, 200, 25)}
    assert all(r["n_docs"] == 2 for r in groups)


def test_minhash_lsh_recall(doc_df):
    pairs = dedup.minhash_lsh_pairs(doc_df, jaccard_threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    # all planted near-dup pairs (90% prefix) must be found
    expected_near = {(i, i + 10000) for i in range(0, 200, 10)}
    expected_exact = {(i, i + 20000) for i in range(0, 200, 25)}
    missing = (expected_near | expected_exact) - found
    assert not missing, f"missed planted pairs: {sorted(missing)[:5]}"


def test_simhash_pairs_find_exact_dups(doc_df):
    pairs = dedup.simhash_pairs(doc_df, max_hamming=8).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    expected_exact = {(i, i + 20000) for i in range(0, 200, 25)}
    assert expected_exact <= found
    # exact dups have identical simhash → hamming 0
    zero = {(r["id_a"], r["id_b"]) for r in pairs if r["hamming"] == 0}
    assert expected_exact <= zero


def test_simhash_recall_vs_brute(doc_df):
    """Pin simhash_pairs recall against brute-force Hamming: exactly 1.0 in
    the pigeonhole-guaranteed band (d ≤ 3, the default), and in the
    best-effort band (4 ≤ d ≤ 8) exactly the pairs that share ≥1 16-bit
    chunk — so the operator's documented contract is the measured one."""
    from micro_lab_ocr_spark.operators.dedup import simhash_signatures

    sigs = {
        r["id"]: r["simhash"] & 0xFFFFFFFFFFFFFFFF
        for r in simhash_signatures(doc_df).collect()
    }
    ids = sorted(sigs)
    brute = {}  # (a, b) -> (hamming, shares_chunk)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            x = sigs[a] ^ sigs[b]
            d = bin(x).count("1")
            if d <= 8:
                shares = any((x >> (16 * k)) & 0xFFFF == 0 for k in range(4))
                brute[(a, b)] = (d, shares)
    for max_h in (3, 8):
        found = {
            (r["id_a"], r["id_b"])
            for r in dedup.simhash_pairs(doc_df, max_hamming=max_h).collect()
        }
        reachable = {p for p, (d, s) in brute.items() if d <= max_h and s}
        assert found == reachable, f"max_hamming={max_h}: blocking contract broken"
        truth = {p for p, (d, _) in brute.items() if d <= max_h}
        recall = len(found & truth) / len(truth) if truth else 1.0
        if max_h <= 3:
            assert recall == 1.0, "guaranteed band must have full recall"
        else:
            # best-effort band: every miss must be a no-shared-chunk pair
            assert truth - found == {p for p, (d, s) in brute.items()
                                     if d <= max_h and not s}


PARITY_TEXTS = [
    "",
    None,
    "alpha beta gamma alpha beta gamma delta",
    "The QUICK brown-fox; jumps_over 42 lazy dogs!!",
    "한국어 문서 with mixed 스크립트 and punctuation, 보존력 시험 결과",
    "x",
    "one two",
    "repeat repeat repeat repeat repeat",
]


def test_simhash_kernel_matches_catalyst(spark):
    """The numpy kernel must be bit-identical to the Catalyst simhash64
    definition (which the DuckDB oracle SQL restates)."""
    from micro_lab_ocr_spark.functions import text as T
    from micro_lab_ocr_spark.kernels import texthash as TH

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(PARITY_TEXTS)], "doc_id long, text string"
    )
    catalyst = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", T.simhash64(F.col("text")).alias("sh")).collect()
    }
    for i, t in enumerate(PARITY_TEXTS):
        assert TH.simhash64_py(t) == catalyst[i], f"simhash mismatch on {t!r}"


def test_minhash_kernel_matches_catalyst(spark):
    """Shingle sets + band keys from the numpy kernel == the Catalyst
    minhash_signature/lsh_bands construction."""
    from micro_lab_ocr_spark.functions import text as T
    from micro_lab_ocr_spark.kernels import texthash as TH

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(PARITY_TEXTS)], "doc_id long, text string"
    )
    sh = F.array_distinct(T.word_shingles(F.col("text"), 3))
    cat = {
        r["doc_id"]: (r["shingles"], [b["key"] for b in r["bands"]])
        for r in df.select(
            "doc_id",
            sh.alias("shingles"),
            T.lsh_bands(T.minhash_signature(sh, 8), 4, 2).alias("bands"),
        ).collect()
    }
    for i, t in enumerate(PARITY_TEXTS):
        shingles = TH.word_shingles_py(t, 3)
        assert sorted(shingles) == sorted(cat[i][0]), f"shingles mismatch on {t!r}"
        if shingles:
            assert TH.minhash_buckets_py(shingles, 8, 4) == cat[i][1], f"bands mismatch on {t!r}"


def test_minhash_oversize_bucket_guard(spark):
    """Degenerate buckets are dropped AND counted — never silent. 60 docs
    with identical text all share every band bucket; max_bucket=10 must drop
    them (no pairs) and report the 4 oversized band keys."""
    same = [(i, "common stop shingle storm text repeated everywhere") for i in range(60)]
    df = spark.createDataFrame(same, "doc_id long, text string")
    stats: dict = {}
    pairs = dedup.minhash_lsh_pairs(df, max_bucket=10, stats=stats)
    assert pairs.count() == 0
    assert stats["oversize_buckets"] == 4  # all 4 bands degenerate


def test_ann_lsh_recall_vs_brute(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    queries = emb.where(F.col("vec_id") % 60 == 0)
    brute = ann.brute_force_topk(emb, queries, k=5)
    lsh = ann.lsh_topk(emb, queries, dim=16, k=5, n_planes=4, n_tables=8)
    b = {(r["query_id"], r["corpus_id"]) for r in brute.collect()}
    l = {(r["query_id"], r["corpus_id"]) for r in lsh.collect()}
    # LSH returns a subset quality-wise; require ≥40% recall of true top-5
    recall = len(b & l) / len(b)
    assert recall >= 0.6, f"LSH recall too low: {recall}"
    # brute force: every query has exactly 5 ranked neighbors
    per_q = {}
    for r in brute.collect():
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_ann_brute_force_empty_query_side(spark):
    """An empty query side is a defined empty result, not a crash in every
    corpus task (a 0-row query matrix must stay 2-D for the kernel's
    einsum)."""
    rows = [(i, [float(i), 1.0, 0.5]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    brute = ann.brute_force_topk(emb, emb.where(F.lit(False)), k=5)
    assert brute.columns == ["query_id", "corpus_id", "cosine", "rank"]
    assert brute.collect() == []


def test_embedding_cosine_pairs_block_bound(spark):
    """Block sizing is enforced: B derives from n/max_block_rows so packed
    rows stay bounded, an explicit undersized n_blocks raises loudly (not an
    Arrow limit error mid-job), and the multi-block result is still exact
    (identical to the single-block matmul)."""
    import random

    import pytest as _pytest

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    with _pytest.raises(ValueError, match="n_blocks=2 .* LSH"):
        ann.embedding_cosine_pairs(emb, n_blocks=2, max_block_rows=10)
    multi = ann.embedding_cosine_pairs(emb, threshold=0.2, max_block_rows=10)
    single = ann.embedding_cosine_pairs(emb, threshold=0.2, n_blocks=1)
    m = {(r["id_a"], r["id_b"], round(r["cosine"], 4)) for r in multi.collect()}
    s = {(r["id_a"], r["id_b"], round(r["cosine"], 4)) for r in single.collect()}
    assert m == s and len(m) > 0


def test_embedding_cosine_block_parallelism_floor():
    """Default block sizing must satisfy BOTH bounds: never a block above
    max_block_rows (memory), and never a grid so coarse that one task scores
    the whole corpus while the cluster idles (a 2000-row corpus under the
    4096 memory cap collapsed to ONE cell before the floor: 6.1 s -> 1.3 s
    at 32 cores). Floor backs off below ~64 rows/block."""
    from micro_lab_ocr_spark.operators.ann import _choose_blocks

    # memory bound dominates at scale: 1M rows / 4096 cap -> >= 245 blocks
    assert _choose_blocks(1_000_000, 4096, 32) >= 245
    # parallelism floor dominates under the cap: 2000 rows, 32 slots ->
    # B = ceil(sqrt(4*32)) = 12 -> 78 cells ~ 2.4 tasks/slot
    assert _choose_blocks(2000, 4096, 32) == 12
    b = _choose_blocks(2000, 4096, 8)
    assert b * (b + 1) // 2 >= 2 * 8
    # tiny corpora: don't shred below ~64 rows/block
    assert _choose_blocks(100, 4096, 32) == 2
    assert _choose_blocks(40, 4096, 32) == 1

def test_ann_ivf_recall_vs_brute(spark):
    import random

    from pyspark.sql import functions as F

    from micro_lab_ocr_spark.operators import ann

    rng = random.Random(13)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    queries = emb.where(F.col("vec_id") % 60 == 0)
    brute = ann.brute_force_topk(emb, queries, k=5)
    ivf = ann.ivf_topk(emb, queries, k=5, centroid_stride=20, n_probe=4)
    b = {(r["query_id"], r["corpus_id"]) for r in brute.collect()}
    v = {(r["query_id"], r["corpus_id"]) for r in ivf.collect()}
    recall = len(b & v) / len(b)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # returned pairs are a SUBSET of exact scoring (candidates are scored
    # exactly; only unprobed cells lose pairs) and every hit keeps the exact
    # cosine — compare scores on the intersection
    bs = {(r["query_id"], r["corpus_id"]): r["cosine"] for r in brute.collect()}
    vs = {(r["query_id"], r["corpus_id"]): r["cosine"] for r in ivf.collect()}
    assert all(bs[p] == vs[p] for p in (b & v))


def test_ann_ivf_probe_widens_recall(spark):
    """More probed cells can only add candidates: results at n_probe=1 are a
    subset of n_probe=4's for the same corpus/queries."""
    import random

    from pyspark.sql import functions as F

    from micro_lab_ocr_spark.operators import ann

    rng = random.Random(17)
    rows = [(i, [rng.gauss(0, 1) for _ in range(12)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    queries = emb.where(F.col("vec_id") % 40 == 0)
    # k above the corpus size: no top-k truncation, so the result sets ARE
    # the candidate sets and the nesting property is exact
    narrow = ann.ivf_topk(emb, queries, k=10_000, centroid_stride=20, n_probe=1)
    wide = ann.ivf_topk(emb, queries, k=10_000, centroid_stride=20, n_probe=4)
    n = {(r["query_id"], r["corpus_id"]) for r in narrow.collect()}
    w = {(r["query_id"], r["corpus_id"]) for r in wide.collect()}
    assert n <= w and len(w) > len(n)


def test_connected_components_chains_and_islands(spark):
    # two chained clusters (A~B, B~C must land with A even though A!~C),
    # one pair cluster; labels = min id reachable
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["comp"] for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(pairs).count() == 0


def test_connected_components_max_iter_is_loud(spark):
    # a 10-node path needs ~9 propagation rounds: max_iter=3 must raise,
    # never return a wrong (partially propagated) partition
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=3)
    # and the same graph converges with an adequate budget
    got = {r["id"]: r["comp"] for r in dedup.connected_components(pairs).collect()}
    assert set(got.values()) == {0} and len(got) == 10


# ---------------------------------------------------------------------------
# deterministic hash sampling (operators/sampling.py)
# ---------------------------------------------------------------------------


def test_hash_sample_deterministic_and_near_rate(spark):
    from micro_lab_ocr_spark.operators import sampling

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", "1a").collect()}
    b = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", "1a").collect()}
    # pure function of the data: identical selection across runs (rand()/
    # TABLESAMPLE would not be — that is the operator's whole point)
    assert a == b
    # md5 prefix is uniform: rate within ±25% relative of 26/256
    expected = 4000 * 26 / 256
    assert 0.75 * expected <= len(a) <= 1.25 * expected
    # widening the threshold strictly grows the sample (prefix monotonicity)
    wider = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", "40").collect()}
    assert a < wider


def test_stratified_summary_counts_consistent(spark):
    from micro_lab_ocr_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", 100 + i) for i in range(500)],
        "doc_id long, lang string, n_chars long",
    )
    out = {r["stratum"]: r for r in
           sampling.stratified_sample_summary(df, "lang", "doc_id", "20", "n_chars").collect()}
    assert set(out) == {"en", "de"}
    assert out["en"]["n_total"] == out["de"]["n_total"] == 250
    flat = sampling.hash_sample(df, "doc_id", "20")
    n_by_lang = {r["lang"]: r["n"] for r in flat.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang in ("en", "de"):
        assert out[lang]["n_sampled"] == n_by_lang.get(lang, 0)


# ---------------------------------------------------------------------------
# int8 embedding quantization (operators/ann.quantize_int8)
# ---------------------------------------------------------------------------


def test_quantize_int8_roundtrip_bounds(spark):
    rows = [
        (0, [0.5, -1.0, 0.25, 0.0]),
        (1, [0.001, 0.002, -0.003, 0.004]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # all-zero: scale guard, never NaN
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in ann.quantize_int8(df).collect()}
    # codes live in [-127, 127]; the absmax element maps to exactly ±127
    assert out[0]["qvec"] == [64, -127, 32, 0]
    assert max(abs(c) for c in out[1]["qvec"]) == 127
    # all-zero vector → all-zero codes, zero error, zero scale
    assert out[2]["qvec"] == [0, 0, 0, 0]
    assert out[2]["absmax"] == 0.0 and out[2]["max_err"] == 0.0
    # reconstruction error ≤ scale/2 + rounding slack, for every vector
    for r in out.values():
        scale = r["absmax"] / 127.0
        assert r["max_err"] <= scale / 2 + 1e-4
    # integer audit columns are exact
    assert out[0]["q_sum"] == 64 - 127 + 32 + 0
    assert out[0]["n_zero"] == 1
