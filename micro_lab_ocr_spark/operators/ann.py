"""Approximate-nearest-neighbor search over an embedding column.

* brute-force cosine top-k — the exact baseline: broadcast the (small) query
  set against the corpus; one narrow pass + per-query top-k via window.
* LSH-bucketed variant (random hyperplane signs) — the scale path: corpus and
  queries hash to sign-pattern buckets; only same-bucket candidates are
  scored. Probes > 1 multiply recall by scoring neighboring buckets.

All arithmetic in doubles with explicit rounding so the DuckDB oracle matches
bit-for-bit at the rounded precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from micro_lab_ocr_spark.functions import text as T


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _cosine_np(pairs: DataFrame) -> DataFrame:
    """Score (query_id, corpus_id, qvec, cvec) pairs with a vectorized numpy
    kernel (mapInPandas): row-wise einsum dot products in float64, rounded to
    4 dp — Catalyst higher-order-function dots are ~10× slower per pair.
    """
    from collections.abc import Iterator

    import pandas as pd

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            if len(pdf) == 0:
                continue
            q = np.stack(pdf["qvec"].to_numpy()).astype(np.float64)
            c = np.stack(pdf["cvec"].to_numpy()).astype(np.float64)
            dots = np.einsum("ij,ij->i", q, c)
            cos = dots / (np.sqrt(np.einsum("ij,ij->i", q, q))
                          * np.sqrt(np.einsum("ij,ij->i", c, c)))
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "corpus_id": pdf["corpus_id"],
                    "cosine": np.round(cos, 4),
                }
            )

    return pairs.mapInPandas(score, "query_id long, corpus_id long, cosine double")


def _cosine_np_closure(pairs: DataFrame, qids, qmat) -> DataFrame:
    """Score (query_id, corpus_id, cvec) pairs against a bounded query
    matrix carried in the kernel closure — the qvec side never crosses the
    Arrow boundary per pair (half the pair bytes of :func:`_cosine_np`, no
    query-vector broadcast join). Per-row einsum with identical operation
    order to ``_cosine_np``, so rounded cosines are bit-identical.
    ``qids`` must be sorted; rows whose query_id is unknown never occur
    (candidates derive from the same query set)."""
    from collections.abc import Iterator

    import pandas as pd

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            if len(pdf) == 0:
                continue
            idx = np.searchsorted(qids, pdf["query_id"].to_numpy())
            q = qmat[idx]
            c = np.stack(pdf["cvec"].to_numpy()).astype(np.float64)
            dots = np.einsum("ij,ij->i", q, c)
            cos = dots / (np.sqrt(np.einsum("ij,ij->i", q, q))
                          * np.sqrt(np.einsum("ij,ij->i", c, c)))
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "corpus_id": pdf["corpus_id"],
                    "cosine": np.round(cos, 4),
                }
            )

    return pairs.mapInPandas(score, "query_id long, corpus_id long, cosine double")


def _collect_query_matrix(
    queries: DataFrame, id_col: str, vec_col: str, limit: int | None = None
):
    """(sorted ids, float64 matrix) of the bounded query side, at most
    ``limit`` rows. An empty side is a (0, 0) matrix, not numpy's 1-D
    ``(0,)``, so the kernels' row-wise einsums stay well-formed."""
    import numpy as np

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec")
    )
    rows = (q if limit is None else q.limit(limit)).collect()
    rows.sort(key=lambda r: r["query_id"])
    ids = np.array([r["query_id"] for r in rows], dtype=np.int64)
    mat = (
        np.array([r["qvec"] for r in rows], dtype=np.float64)
        if rows
        else np.zeros((0, 0))
    )
    return ids, mat


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_closure_queries: int = 131072,
) -> DataFrame:
    """Exact cosine top-k. queries is expected to be small (same bounded-side
    assumption as a broadcast dimension); the query matrix rides into a
    mapInPandas kernel over the corpus, which scores one BLAS matmul per
    Arrow batch and emits ONLY each batch's per-query top-k candidates. The
    Python boundary therefore carries O(n_batches · |Q| · k) narrow rows
    instead of O(|corpus| · |Q|) vector pairs (the previous join-then-score
    shape moved every corpus vector |Q| times through Arrow — 8.2 GB and
    64 s at 20k×400; this form moves each vector once). The final window
    ranks the candidate union — exact, because every true global top-k row
    is in its own batch's top-k under the same (cosine DESC, corpus_id ASC)
    total order. A query side above ``max_closure_queries`` falls back to
    the pair-join shape rather than materializing an unbounded matrix."""
    import numpy as np

    qids, qmat = _collect_query_matrix(
        queries, id_col, vec_col, limit=max_closure_queries + 1
    )
    if len(qids) > max_closure_queries:
        return _brute_force_topk_pairs(corpus, queries, k, id_col, vec_col)
    # STORED width on the wire: the kernel's astype(float64) of a float32
    # value is exact, so rounding is identical at half the Arrow bytes
    c = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec"))

    from collections.abc import Iterator

    import pandas as pd

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qnorm = np.sqrt(np.einsum("ij,ij->i", qmat, qmat))
        for pdf in it:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            order = np.argsort(pdf["corpus_id"].to_numpy(), kind="stable")
            cids = pdf["corpus_id"].to_numpy()[order]
            cm = np.stack(pdf["cvec"].to_numpy()[order]).astype(np.float64)
            cnorm = np.sqrt(np.einsum("ij,ij->i", cm, cm))
            cos = np.round((cm @ qmat.T) / (cnorm[:, None] * qnorm[None, :]), 4)
            cos[cids[:, None] == qids[None, :]] = -np.inf  # self-pairs excluded
            kk = min(k, len(cids))
            # rows pre-sorted by corpus_id ⇒ stable argsort on -cos realizes
            # the exact (cosine DESC, corpus_id ASC) total order per query
            top = np.argsort(-cos, axis=0, kind="stable")[:kk, :]
            sel = np.take_along_axis(cos, top, axis=0)
            keep = np.isfinite(sel).reshape(-1)
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qids, kk)[keep],
                    "corpus_id": cids[top].reshape(-1)[keep],
                    "cosine": sel.reshape(-1)[keep],
                }
            )

    scored = c.mapInPandas(kernel, "query_id long, corpus_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _brute_force_topk_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Pair-join brute force — fallback when the query side is too large to
    carry as a kernel closure (still exact, costs a |corpus|·|Q| Arrow pass)."""
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), _as_double(F.col(vec_col)).alias("cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec")
    )
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("corpus_id")).select(
        "query_id", "corpus_id", "qvec", "cvec"
    )
    scored = _cosine_np(pairs)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def hyperplane_signature(vec, planes: list[list[float]]):
    """Sign pattern of the vector against fixed hyperplanes → bucket string."""
    bits = []
    for p in planes:
        dot = None
        for i, w in enumerate(p):
            term = F.element_at(vec, i + 1).cast("double") * F.lit(w)
            dot = term if dot is None else dot + term
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def deterministic_planes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Fixed pseudo-random hyperplanes (seeded, reproducible across engines)."""
    import random

    rng = random.Random(seed)
    return [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n_planes)]


def multi_table_buckets(vec, dim: int, n_tables: int, n_planes: int):
    """(table, bucket) pairs for multi-table sign LSH → array<struct>."""
    entries = []
    for t in range(n_tables):
        planes = deterministic_planes(dim, n_planes, seed=42 + t)
        entries.append(
            F.struct(
                F.lit(t).alias("table"),
                hyperplane_signature(vec, planes).alias("bucket"),
            )
        )
    return F.array(*entries)


def _signatures_np(df: DataFrame, id_out: str, dim: int, n_tables: int, n_planes: int,
                   id_col: str, vec_col: str) -> DataFrame:
    """(id, table, bucket) rows via one numpy matmul over all tables' planes
    — the Catalyst expression form (n_tables·n_planes·dim terms) blows past
    Janino's 64 KB method limit and falls back to slow interpreted eval."""
    from collections.abc import Iterator

    import pandas as pd

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        planes = np.array(
            [p for t in range(n_tables) for p in deterministic_planes(dim, n_planes, seed=42 + t)],
            dtype=np.float64,
        ).T  # dim × (n_tables·n_planes)
        for pdf in it:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            signs = (v @ planes) >= 0  # n × (n_tables·n_planes)
            ids, tables, buckets = [], [], []
            chars = np.where(signs, "1", "0")
            for t in range(n_tables):
                block = chars[:, t * n_planes:(t + 1) * n_planes]
                keys = ["".join(row) for row in block]
                ids.extend(pdf["id"].tolist())
                tables.extend([t] * len(pdf))
                buckets.extend(keys)
            yield pd.DataFrame({"id": ids, "table": tables, "bucket": buckets})

    # stored width on the wire; astype(float64) in the kernel is exact
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    out = base.mapInPandas(kernel, "id long, table int, bucket string")
    return out.select(F.col("id").alias(id_out), "table", "bucket")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table LSH cosine top-k: a pair is a candidate when its sign
    pattern matches in ANY of ``n_tables`` hash tables (the classical
    recall-boosting construction). At 100 TB this avoids the full cross
    product — fan-in per query ≈ n_tables · corpus / 2^n_planes."""
    c = _signatures_np(corpus, "corpus_id", dim, n_tables, n_planes, id_col, vec_col)
    q = _signatures_np(queries, "query_id", dim, n_tables, n_planes, id_col, vec_col)
    # dedup candidates as bare id pairs FIRST (don't shuffle vectors through
    # the distinct), then re-attach vectors and score with the numpy kernel
    candidates = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .where(F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id")
        .dropDuplicates(["query_id", "corpus_id"])
    )
    corpus_vecs = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec")
    )  # stored width; the scoring kernel widens exactly
    # query matrix rides the scoring kernel's closure (bounded, same
    # assumption as the broadcast it replaces): pair rows carry only the
    # corpus vector — half the Arrow bytes, one join fewer. (Broadcasting
    # the bare candidate pairs onto the corpus scan was A/B'd and LOST —
    # building a ~500k-row broadcast relation costs more than the narrow
    # equi-join it removes: 6.8 s vs 2.6 s at sf1.0.)
    qids, qmat = _collect_query_matrix(queries, id_col, vec_col)
    pairs = candidates.join(corpus_vecs, "corpus_id")
    scored = _cosine_np_closure(
        pairs.select("query_id", "corpus_id", "cvec"), qids, qmat
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _choose_blocks(n: int, max_block_rows: int, slots: int) -> int:
    """Block count for the triangle-grid kernel: the larger of the MEMORY
    bound (no block above max_block_rows) and a PARALLELISM floor sized so
    the B·(B+1)/2 grid cells give every default-parallelism slot ~2 tasks.
    The floor never shreds below ~64 rows/block — python-worker + Arrow
    overhead would dominate the per-cell matmul on tiny corpora."""
    import math

    mem_blocks = max(1, math.ceil(n / max_block_rows))
    par_blocks = min(math.ceil(n / 64), math.ceil(math.sqrt(4 * slots)))
    return max(mem_blocks, par_blocks, 1)


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
    max_block_rows: int = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — EXACT: every (id_a < id_b)
    with round(cosine, 4) ≥ threshold (the correctness baseline the LSH path
    is judged against, task brief §dedup).

    A self theta-join would plan as a BroadcastNestedLoopJoin pushing O(n²)
    rows through Catalyst. Instead the classic triangle-grid matmul: ids
    hash into B blocks; each row map-side replicates to the B unordered
    block-pairs its block belongs to (``explode`` over pair keys — diagonal
    once), ONE hash shuffle groups the grid cells, and a numpy kernel scores
    each of the B×(B+1)/2 groups as a single matrix product. Compute stays
    O(n²) — exactness requires it — but it's distributed over block pairs
    with bounded-size matrices and zero per-pair Catalyst rows.

    Scale guards: no broadcast and no packed mega-rows — vectors travel as
    plain rows through exactly one shuffle (replication factor B, i.e. total
    shuffle volume n·B rows ≈ n²/max_block_rows), and neither the driver nor
    any executor ever holds the corpus: a task holds one group of ≤
    2·max_block_rows vectors. B defaults to the larger of (a) the memory
    bound ceil(n / max_block_rows) and (b) a parallelism floor sized so the
    B·(B+1)/2 grid cells give every default-parallelism slot ~2 tasks —
    without (b) a corpus under max_block_rows collapses to ONE cell and one
    task scores the whole n×n matrix while the rest of the cluster idles
    (measured 6.1 s → 1.3 s at n=2000 / 32 cores from the floor alone). An
    explicit ``n_blocks`` below the memory bound raises instead of failing
    later with executor OOM. Vectors keep their STORED
    width on the wire (float stays float — widening to float64 happens in
    the kernel and is exact, same values as a Spark-side cast at half the
    shuffle bytes). At web scale you run the LSH candidates + this kernel on
    candidates only."""
    import math

    import pandas as pd

    idtype = emb.schema[id_col].dataType.simpleString()
    n = emb.count()
    min_blocks = max(1, math.ceil(n / max_block_rows))
    if n_blocks is None:
        slots = emb.sparkSession.sparkContext.defaultParallelism
        n_blocks = _choose_blocks(n, max_block_rows, slots)
    elif n_blocks < min_blocks:
        raise ValueError(
            f"n_blocks={n_blocks} packs ~{math.ceil(n / n_blocks)} rows/block "
            f"(> max_block_rows={max_block_rows}) — raise n_blocks to "
            f"≥ {min_blocks}, or use the LSH candidate path "
            f"(ann.lsh_topk / dedup.minhash_lsh_pairs) for corpora this size"
        )
    B = n_blocks
    v = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int"))
    # a row in block k belongs to grid cell (min(k, o), max(k, o)) for every
    # block o: each unordered pair receives both its blocks' rows exactly
    # once, the diagonal (k, k) exactly once
    grid = v.select(
        "blk",
        "id",
        "vec",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.least(F.col("blk"), F.lit(o)).alias("pa"),
                        F.greatest(F.col("blk"), F.lit(o)).alias("pb"),
                    )
                    for o in range(B)
                ]
            )
        ).alias("pk"),
    ).select(F.col("pk.pa").alias("pa"), F.col("pk.pb").alias("pb"), "blk", "id", "vec")

    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pa, pb = int(key[0]), int(key[1])
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        if len(pdf) == 0:
            return empty
        blk = pdf["blk"].to_numpy()
        ids = pdf["id"].to_numpy()
        M = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        if pa == pb:
            S = np.round(Mn @ Mn.T, 4)
            ii, jj = np.nonzero(S >= threshold)
            keep = ii < jj  # symmetric matrix: each unordered pair once
            ids_a, ids_b = ids, ids
        else:
            a_side = blk == pa
            ids_a, ids_b = ids[a_side], ids[~a_side]
            if len(ids_a) == 0 or len(ids_b) == 0:
                return empty
            S = np.round(Mn[a_side] @ Mn[~a_side].T, 4)
            ii, jj = np.nonzero(S >= threshold)
            keep = np.ones(len(ii), dtype=bool)
        out_a, out_b, out_c = [], [], []
        for i, j, k in zip(ii, jj, keep):
            if not k:
                continue
            a, b = ids_a[i], ids_b[j]
            if a == b:
                continue
            lo, hi = (a, b) if a < b else (b, a)
            out_a.append(lo)
            out_b.append(hi)
            out_c.append(S[i, j])
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "cosine": out_c})

    return grid.groupBy("pa", "pb").applyInPandas(
        score, f"id_a {idtype}, id_b {idtype}, cosine double"
    )


# ---------------------------------------------------------------------------
# IVF-flat (inverted-file) variant — the cell-partitioned scale path
# ---------------------------------------------------------------------------


def sampled_centroids(corpus: DataFrame, stride: int,
                      id_col: str = "vec_id", vec_col: str = "embedding"):
    """Deterministic coarse quantizer: every ``stride``-th corpus vector (by
    id) becomes a centroid. Classic IVF initializes centroids by sampling
    and refines with Lloyd iterations; the refinement is an offline model
    artifact, so the engine takes the centroid set as INPUT — sampling by id
    keeps it reproducible across engines (the DuckDB oracle regenerates the
    identical set with a WHERE clause). Returns (ids, matrix) sorted by id:
    a bounded driver-side artifact (C centroids ≈ KBs), never the corpus."""
    import numpy as np

    rows = (
        corpus.where(F.col(id_col) % stride == 0)
        .select(F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("v"))
        .collect()
    )
    rows.sort(key=lambda r: r["cid"])
    ids = [r["cid"] for r in rows]
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    return ids, mat


def _cells_np(df: DataFrame, id_out: str, cent_ids, cent_mat, n_probe: int,
              id_col: str, vec_col: str) -> DataFrame:
    """(id, cell) rows: each vector's ``n_probe`` nearest centroids by
    cosine, rounded to 4 dp with ties broken toward the LOWEST centroid id —
    the exact argsort the DuckDB oracle's ROW_NUMBER expresses, so cell
    assignment is engine-portable. One numpy matmul per Arrow batch; the
    centroid matrix rides into the workers via the closure (bounded)."""
    from collections.abc import Iterator

    import pandas as pd

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cnorm = np.sqrt(np.einsum("ij,ij->i", cent_mat, cent_mat))
        cids = np.array(cent_ids, dtype=np.int64)
        for pdf in it:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            vnorm = np.sqrt(np.einsum("ij,ij->i", v, v))
            cos = np.round((v @ cent_mat.T) / (vnorm[:, None] * cnorm[None, :]), 4)
            # stable argsort on -cos: rounded ties keep centroid-id order
            top = np.argsort(-cos, axis=1, kind="stable")[:, :n_probe]
            ids = np.repeat(pdf["id"].to_numpy(), top.shape[1])
            cells = cids[top].reshape(-1)
            yield pd.DataFrame({"id": ids, "cell": cells})

    # stored width on the wire; astype(float64) in the kernel is exact
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    out = base.mapInPandas(kernel, "id long, cell long")
    return out.select(F.col("id").alias(id_out), "cell")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_stride: int = 25,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat cosine top-k — the cell-partitioned ANN scale path next to
    the sign-LSH variant: corpus vectors assign to their nearest centroid
    cell (an inverted file), queries probe their ``n_probe`` nearest cells,
    and only same-cell pairs are scored.

    Scale shape: the centroid set is a bounded model artifact (driver +
    closure, like any broadcast dimension); the corpus takes ONE narrow
    (id, cell) pass and ONE shuffle on the cell key; per-query fan-in ≈
    n_probe/C of the corpus — at 10^12 docs C grows with the corpus so cells
    stay bounded, and the inverted file would persist bucketed by cell so
    repeated query batches join shuffle-free (same storage trick as the
    bucketed media table). Exactness: recall < 1 when a true neighbor lives
    in an unprobed cell (pinned by the recall-vs-brute test); candidates are
    already unique (one cell per corpus vector, distinct probe cells per
    query), so no dedup pass is needed."""
    cent_ids, cent_mat = sampled_centroids(corpus, centroid_stride, id_col, vec_col)
    if not cent_ids:
        raise ValueError(
            f"centroid_stride={centroid_stride} sampled zero centroids (no "
            f"corpus {id_col} divisible by it) — lower the stride so the "
            "coarse quantizer has at least one cell")
    c_cells = _cells_np(corpus, "corpus_id", cent_ids, cent_mat, 1, id_col, vec_col)
    q_cells = _cells_np(queries, "query_id", cent_ids, cent_mat, n_probe, id_col, vec_col)
    candidates = (
        c_cells.join(F.broadcast(q_cells), "cell")
        .where(F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id")
    )
    corpus_vecs = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec")
    )  # stored width; the scoring kernel widens exactly
    # same closure-scored shape as lsh_topk: pair rows carry only cvec
    qids, qmat = _collect_query_matrix(queries, id_col, vec_col)
    pairs = candidates.join(corpus_vecs, "corpus_id")
    scored = _cosine_np_closure(
        pairs.select("query_id", "corpus_id", "cvec"), qids, qmat
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the storage /
    transfer compressor a 100-TB vector corpus needs before the ANN index
    (4× smaller than float32, 8× smaller than the float64 scoring width).

    Per vector: ``scale = max|x| / 127``; ``q_i = round(x_i / scale)`` (half
    away from zero — Spark ROUND and ANSI SQL agree); reconstruction is
    ``q_i * scale``. Emits the quantized vector plus the audit columns a
    curation run publishes:

    * ``absmax``   — the per-vector scale numerator (rounded, 4 dp)
    * ``q_sum``    — integer checksum of the quantized codes (exact — no
      float summation crosses the oracle boundary)
    * ``n_zero``   — codes collapsed to 0 (post-quantization sparsity)
    * ``max_err``  — worst per-element |x − q·scale| (rounded, 4 dp; a max
      over per-element doubles is order-independent, so it oracle-matches
      where a float SUM might drift)

    Pure per-row Catalyst expressions — no shuffle, no UDF; at scale this is
    a map-only pass that pipelines into the writer. All-zero vectors quantize
    to all-zero codes (scale guard), never NaN.

    STAGED projections, not one nested Column tree: higher-order functions
    evaluate interpreted, and Catalyst inlines every reference to a
    subexpression — the nested form re-evaluated ``absmax`` (an O(dim) scan)
    INSIDE each element's lambda of ``q`` and inlined ``q`` itself four
    times, i.e. O(dim²)-per-use interpreted work per row (observed 38.9 s
    for 20k×64-dim vectors). Materializing ``v``/``absmax``/``q`` as stage
    attributes makes each an O(dim) single evaluation; CollapseProject keeps
    the stages because each attribute is non-cheap and multiply-referenced.
    The arithmetic per element is operation-for-operation identical, so the
    outputs are bit-identical to the nested form.
    """
    s1 = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_qz_v"))
    s2 = s1.select(
        "*", F.array_max(F.transform(F.col("_qz_v"), F.abs)).alias("_qz_absmax")
    )
    scale = F.col("_qz_absmax") / F.lit(127.0)
    s3 = s2.select(
        "*",
        F.transform(
            F.col("_qz_v"),
            lambda x: F.when(F.col("_qz_absmax") == 0, F.lit(0).cast("int"))
            .otherwise(F.round(x / scale).cast("int")),
        ).alias("_qz_q"),
    )
    err = F.zip_with(
        F.col("_qz_v"), F.col("_qz_q"), lambda x, c: F.abs(x - c.cast("double") * scale)
    )
    return s3.select(
        F.col(id_col),
        F.col("_qz_q").cast("array<tinyint>").alias("qvec"),
        F.round(F.col("_qz_absmax"), 4).alias("absmax"),
        F.aggregate(
            F.col("_qz_q"), F.lit(0).cast("long"), lambda acc, c: acc + c
        ).alias("q_sum"),
        F.aggregate(
            F.col("_qz_q"), F.lit(0).cast("long"),
            lambda acc, c: acc + F.when(c == 0, 1).otherwise(0),
        ).alias("n_zero"),
        F.round(F.array_max(err), 4).alias("max_err"),
    )
