"""Azure-engine grid → records, as pure Catalyst (the flagship rewrite).

Re-creates `backend_preservation.py`'s imperative page loop declaratively:

* W8 header detect (`:737-806`)      → per-page conditional aggregates
* column map + A7 spec vote (`:808-923`) → per-cell classification + max/min
  aggregates + ordinal-window vote
* W1 fill-down (`:467-491`)          → ``last(ignoreNulls)`` window
* F-chain cell cleaning (`:1503-1543`) → Column expressions (parity-tested)
* A2 strain-group sort (`:546-578`)  → change-detection window + sort keys
* F19 date extraction (`:294-414`)   → per-row date collection + min structs

Scale design: ONE shuffle — everything is keyed by page = (doc_id, offset);
the input is repartitioned once on that key and every groupBy/window/join
below reuses the partitioning (verified via ``.explain``: single Exchange).
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from micro_lab_ocr_spark.functions import cleaners as C
from micro_lab_ocr_spark.functions.cached import apply_steps, per_jvm

_HEADER_KEYWORDS = ["CHALLENGED ORGANISM", "BULK NAME", "SPECIFICATION"]
_STRAIN_KEYWORDS = [
    "E.COLI", "ESCHERICHIA", "P.AERUGINOSA", "PSEUDOMONAS",
    "S.AUREUS", "STAPHYLOCOCCUS", "C.ALBICANS", "CANDIDA",
    "A.BRASILIENSIS", "ASPERGILLUS", "균주", "STRAIN",
]
_CFU_VALUE_RE = r"\d+\.?\d*\s*[×xX]\s*10[\^]?\d+"
_SPEC_VALUE_RE = r"^(≤[0-9]+[°cC]?|[0-9]{1,2}[°cC]?|SI)$"

PAGE = ["doc_id", "offset"]


def _contains_any(col: Column, keywords: list[str]) -> Column:
    out = F.lit(False)
    for k in keywords:
        out = out | col.contains(k)
    return out


def extract(grids: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``grids(doc_id, offset, cells: array<struct<row:int,col:int,text:string>>)``
    → (records, pages).

    records: the 9 extraction fields + deterministic output ordering columns
    (group_id, strain_rank, row). pages: one row per input page with
    ``date_info`` (nullable struct) and ``header_row`` — dates are extracted
    even for pages that yield no records (`backend_preservation.py:284-292`).

    PASSTHROUGH MODE: when ``grids`` additionally carries page-constant
    columns ``media_ref``, ``span_text``, ``ok`` (the pipeline's OCR-kernel
    output with decode-failure routing), they ride through as extra grouping
    keys — constant per page, so the groups are unchanged — and come back on
    ``pages``. ``explode_outer`` (not explode) keeps failed/empty pages
    present in ``pages`` so the pipeline can route them.

    Both outputs are views over ONE shared per-row frame
    (:func:`_enriched_rows`): records filters it, pages aggregates it. The
    production pipeline consumes :func:`extract_page_lines` instead — the
    fully fused single-aggregate form.
    """
    r, keys = _enriched_rows(grids)
    x = _exprs()
    records = r.where(x.is_record).select(
        *PAGE,
        "row",
        "test_number",
        "prescription_number",
        "strain",
        "cfu_0day",
        "cfu_7day",
        "cfu_14day",
        "cfu_28day",
        "judgment",
        "final_judgment",
        "group_id",
        "strain_rank",
    )
    pages = r.groupBy(*keys).agg(*x.page_meta)
    return records, pages


def extract_page_lines(grids: DataFrame) -> DataFrame:
    """Fused page-level extraction for the production pipeline: ONE consumer
    of the page-key exchange — per-row enrichment (windows) feeding a single
    groupBy(page) that emits the serialized record block and the page-constant
    metadata together.

    Output: ``(*keys, date_info, header_row, lines)`` where ``lines`` is the
    "|"-serialized records joined by "\\n" ("" for pages with no records).

    Why fused: the previous shape (records → page_text groupBy) ⋈ (pages
    groupBy) read the cells exchange TWICE and ran the cells→rows
    ObjectHashAggregate twice — measured 654 MB shuffle read vs 338 MB
    written on the 36k-doc scaling corpus, in the stage whose memory traffic
    caps scaling efficiency (BENCH/BASELINE.md). One consumer reads the
    exchange once, aggregates once, and needs no join.

    The 9 record fields are pre-concatenated into the final line BEFORE
    collect_list so the sort/agg carries a 4-field struct instead of 12
    (measured 13% lower wall on the production job at local[16]). The sort
    key (group_id, strain_rank, row) is unique per page, so the line never
    acts as a tie-breaker.
    """
    r, keys = _enriched_rows(grids)
    x = _exprs()
    return r.groupBy(*keys).agg(x.lines, *x.page_meta)


def _enriched_rows(grids: DataFrame) -> tuple[DataFrame, list[str]]:
    """The shared per-row grid frame: cells → per-row rollup → header detect /
    column classification / spec vote / fill-down / clean chain / A2 grouping,
    ALL as window functions over the single page-key partitioning — no
    filtering, so page-level consumers (pages metadata, fused page lines) see
    every page including empty/failed ones. Only the DataFrame wiring runs
    per call; the expressions come from the per-JVM :func:`_exprs`, and the
    conf-derived partition count is read here, per plan.
    """
    n_part = int(grids.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    passthrough = [c for c in ("media_ref", "span_text", "ok") if c in grids.columns]
    keys = [*PAGE, *passthrough]
    x = _exprs()
    cells = (
        # explicit page-key not-null filter BELOW the exchange: consumers
        # infer different IsNotNull constraints, which would canonicalize
        # re-used copies of this exchange differently — the explicit superset
        # filter subsumes the inferences, keeping one exchange
        grids.where(x.page_not_null)
        .repartition(n_part, *PAGE)
        .select(*keys, x.cell)
        .select(*keys, *x.cell_fields)
    )
    rows = (
        cells.withColumns(x.date_parts)
        .groupBy(*keys, "row")
        .agg(*x.row_aggs)
        .withColumns(x.row_text_u)
    )
    return apply_steps(rows, x.row_steps), keys


@per_jvm
def _exprs() -> SimpleNamespace:
    """Every Column of the grid DAG, built once per JVM (see
    :mod:`~micro_lab_ocr_spark.functions.cached`): a pure function of column
    names, ~14k py4j round trips to build.

    Row-level predicates become flags instead of filters:

    * ``is_data``   — the row is below the header with a resolvable strain
      column (the old ``data`` filter). Fill-down sources are guarded by it,
      so ``last(ignorenulls)`` over the unfiltered frame picks up exactly the
      values the filtered frame used to see.
    * ``is_record`` — ``is_data`` AND the strain cell is non-empty after
      normalization (the old post-fill-down filter). The A2 lag becomes
      ``last(when(is_record, test_number))`` over ``(unboundedPreceding, -1)``
      — the previous RECORD row's value, identical to ``lag`` over the
      filtered frame.

    ``row_steps`` is one ``withColumns`` per dependency level (see
    :func:`~micro_lab_ocr_spark.functions.cached.apply_steps`).
    """
    from micro_lab_ocr_spark import spanspec

    # ---- per-row rollup -------------------------------------------------
    fixed = C.fix_date_cell(F.trim(F.col("text")))
    date_m = F.coalesce(
        F.nullif(F.regexp_extract(fixed, r"^(\d{1,2})[/\-.](\d{1,2})$", 1), F.lit("")),
        F.nullif(F.regexp_extract(fixed, r"^(\d{1,2})\s+(\d{1,2})$", 1), F.lit("")),
    )
    date_d = F.coalesce(
        F.nullif(F.regexp_extract(fixed, r"^(\d{1,2})[/\-.](\d{1,2})$", 2), F.lit("")),
        F.nullif(F.regexp_extract(fixed, r"^(\d{1,2})\s+(\d{1,2})$", 2), F.lit("")),
    )
    # cell structs wrapped in when(col IS NOT NULL): the explode_outer null
    # row of an empty/failed page must not reach map_from_entries (null map
    # key) — collect_list skips the null structs, real cells always have col
    cell_struct = F.when(F.col("col").isNotNull(), F.struct("col", "text"))
    row_aggs = (
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(cell_struct)), lambda x: x["text"]
            ),
            " ",
        ).alias("row_text"),
        F.map_from_entries(
            F.array_sort(F.collect_list(cell_struct))
        ).alias("row_map"),
        F.max(
            (F.regexp_like(F.trim("text"), F.lit(_CFU_VALUE_RE))
             | F.trim("text").rlike(r"^\d{4,}$")).cast("int")
        ).alias("has_cfu"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("date_m").isNotNull(),
                       F.struct("col", "date_m", "date_d"))
            )
        ).alias("date_cells"),
    )

    # ---- page metadata: W8 header detect + F19 dates, as WINDOW aggregates
    # over the same (PAGE, row) partitioning as everything else — one
    # exchange read, one sort shared by every window, zero joins (the
    # groupBy-branches-joined-back shape measured ~6× read amplification on
    # the cells exchange before the window rewrite).
    wp = Window.partitionBy(*PAGE)
    wfull = (
        Window.partitionBy(*PAGE).orderBy("row")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wcum = (
        Window.partitionBy(*PAGE).orderBy("row")
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    def _is_strain_cell(v: Column) -> Column:
        vu = F.upper(F.trim(v))
        return (v.contains("균주") | vu.contains("STRAIN")
                | vu.contains("E.COLI") | vu.contains("ORGANISM"))

    def _is_spec_cell(v: Column) -> Column:
        vu = F.upper(F.trim(v))
        return vu.contains("SPECIFICATION") | vu.contains("SPEC")

    def _cfu_class(v: Column) -> Column:
        vu = F.upper(F.trim(v))
        day_base = v.contains("일") | vu.contains("DAY") | vu.contains("CFU")
        return (
            F.when(v.contains("0") & (day_base | v.contains("접종")), F.lit(0))
            .when(v.contains("7") & day_base, F.lit(7))
            .when(v.contains("14") & day_base, F.lit(14))
            .when(v.contains("28") & day_base, F.lit(28))
        )

    def _is_judg_cell(v: Column) -> Column:
        return v.contains("판정") | F.upper(F.trim(v)).contains("JUDGMENT")

    def _is_final_cell(v: Column) -> Column:
        return _is_judg_cell(v) & (v.contains("최종") | F.upper(F.trim(v)).contains("FINAL"))

    def _cols_where(m: Column, pred) -> Column:
        """Keys of map ``m`` whose value satisfies ``pred`` (header-cell
        classification over the header row's col→text map)."""
        return F.transform(
            F.filter(F.map_entries(m), lambda e: pred(e["value"])), lambda e: e["key"]
        )

    steps: list = [
        {
            "hdr1": F.min(F.when(
                (F.col("row") < 5) & _contains_any(F.col("row_text_u"), _HEADER_KEYWORDS),
                F.col("row"))).over(wp),
            "cand": F.min(F.when(
                (F.col("row") < 15) & _contains_any(F.col("row_text_u"), _STRAIN_KEYWORDS),
                F.struct("row", "has_cfu"))).over(wp),
            # F19 pass 1: first row (<5) with ≥4 date cells; pass 2: first date cell
            "pass1": F.min(F.when(
                (F.col("row") < 5) & (F.size("date_cells") >= 4),
                F.struct("row", "date_cells"))).over(wp),
            "pass2": F.min(F.when(
                (F.col("row") < 5) & (F.size("date_cells") >= 1),
                F.struct(
                    "row",
                    F.element_at("date_cells", 1).getField("col").alias("col"),
                    F.element_at("date_cells", 1).getField("date_m").alias("m"),
                    F.element_at("date_cells", 1).getField("date_d").alias("d"),
                ))).over(wp),
        },
        {
            "header_row": F.when(F.col("hdr1").isNotNull(), F.col("hdr1")).otherwise(
                F.when(F.col("cand").isNotNull(),
                       F.when(F.col("cand.has_cfu") == 1, F.lit(-1))
                       .otherwise(F.col("cand.row")))
            ),
        },
    ]

    # ---- date_info struct (F17/F19/F21), page-constant ---------------------
    def _zp(i: int) -> Column:
        dc = F.element_at(F.col("pass1.date_cells"), i + 1)
        return F.concat(F.lpad(dc.getField("date_m"), 2, "0"), F.lit("/"),
                        F.lpad(dc.getField("date_d"), 2, "0"))

    p2m = F.col("pass2.m").try_cast("int")
    p2d = F.col("pass2.d").try_cast("int")
    ladder_ok = (
        F.col("pass2").isNotNull() & p2m.between(1, 12) & p2d.between(1, 28)
    )  # mirrors the reference's try/except datetime(2024, m, d) on the
    # fixture-reachable domain (all fixture days ≤ 28)
    steps += [
        {
            "header_eff": F.when(F.col("header_row") == -1, F.lit(0))
            .otherwise(F.col("header_row")),
            "date_info": F.when(
                F.col("pass1").isNotNull(),
                F.struct(_zp(0).alias("date_0"), _zp(1).alias("date_7"),
                         _zp(2).alias("date_14"), _zp(3).alias("date_28")),
            ).when(ladder_ok, C.date_ladder(p2m, p2d)),
        },
        ("pass1", "pass2"),
    ]

    # ---- header-column classification, ONCE PER PAGE ---------------------
    # The classifiers read only the header row's col→text map, so their
    # results are page-constant — but as plain projections over a window-
    # carried header map they re-ran the interpreted _cols_where lambdas on
    # EVERY row of the page (8 classifiers × map entries × every row: the
    # dominant interpreted cost of the binding stage, measured on the
    # BENCH/probes decomposition). Each classifier now evaluates on the one
    # row WHERE row == header_eff — when() short-circuits everywhere else —
    # and first(ignorenulls) broadcasts the resulting column INDEX over the
    # page frame, so the header map itself never rides the window payload.
    # Value-identical: only the header row can be non-null, so ignorenulls
    # picks exactly the value the hdr_map projection used to compute, and a
    # classifier that finds no column stays null through the same path.
    def _page_col(expr: Column) -> Column:
        return F.first(
            F.when(F.col("row") == F.col("header_eff"), expr), ignorenulls=True
        ).over(wfull)

    rm = F.col("row_map")
    steps.append({
        "strain_col": _page_col(F.array_max(_cols_where(rm, _is_strain_cell))),
        "spec_col0": _page_col(F.array_max(_cols_where(rm, _is_spec_cell))),
        "cfu0_k": _page_col(F.array_max(_cols_where(rm, lambda v: _cfu_class(v) == 0))),
        "cfu7_k": _page_col(F.array_max(_cols_where(rm, lambda v: _cfu_class(v) == 7))),
        "cfu14_k": _page_col(F.array_max(_cols_where(rm, lambda v: _cfu_class(v) == 14))),
        "cfu28_k": _page_col(F.array_max(_cols_where(rm, lambda v: _cfu_class(v) == 28))),
        "judg_k": _page_col(F.array_min(
            _cols_where(rm, lambda v: _is_judg_cell(v) & ~_is_final_cell(v)))),
        "final_k": _page_col(F.array_max(_cols_where(rm, _is_final_cell))),
    })
    # A7 — Specification inference by value-pattern vote over the first 5
    # rows (after the header) that HAVE the strain_col+1 column: the rank
    # among qualifying rows is a cumulative count, the vote a page window sum.
    # val1 is projected ONCE before the vote windows — a short string instead
    # of two map lookups riding through their frames.
    val1 = F.col("val1")
    qual = (
        F.col("strain_col").isNotNull()
        & val1.isNotNull()
        & (F.col("row") > F.col("header_eff"))
    )
    steps += [
        {"val1": F.try_element_at("row_map", F.col("strain_col") + 1)},
        {"vote_rn": F.sum(qual.cast("int")).over(wcum)},
        {"spec_votes": F.sum(
            F.when(qual & (F.col("vote_rn") <= 5)
                   & F.trim(val1).rlike(_SPEC_VALUE_RE), 1).otherwise(0)
        ).over(wp)},
        {"spec_col": F.coalesce(
            F.col("spec_col0"),
            F.when(F.col("spec_votes") >= 3, F.col("strain_col") + 1),
            F.lit(-1),
        )},
        {"cfu_start": F.when(F.col("spec_col") > F.col("strain_col"), F.col("spec_col") + 1)
         .otherwise(F.col("strain_col") + 1)},
        {
            "cfu_0_col": F.coalesce("cfu0_k", F.col("cfu_start")),
            "cfu_7_col": F.coalesce("cfu7_k", F.col("cfu_start") + 1),
            "cfu_14_col": F.coalesce("cfu14_k", F.col("cfu_start") + 2),
            "cfu_28_col": F.coalesce("cfu28_k", F.col("cfu_start") + 3),
            "judgment_col": F.coalesce("judg_k", F.col("cfu_start") + 4),
            "final_judgment_col": F.coalesce("final_k", F.col("cfu_start") + 5),
        },
    ]

    def cell_at(col_key: str) -> Column:
        return F.coalesce(F.try_element_at("row_map", F.col(col_key)), F.lit(""))

    # Every row_map lookup happens HERE, the moment the column indices are
    # resolved — so the map (the widest column in the frame) is dropped
    # before the fill-down / lag window passes below and their per-partition
    # buffers carry six short strings instead of the full col→text map.
    steps += [
        {
            "bulk": F.trim(F.coalesce(F.try_element_at("row_map", F.lit(0)), F.lit(""))),
            "strain_raw": F.trim(cell_at("strain_col")),
            "c0_raw": cell_at("cfu_0_col"),
            "c7_raw": cell_at("cfu_7_col"),
            "c14_raw": cell_at("cfu_14_col"),
            "c28_raw": cell_at("cfu_28_col"),
            "judg_raw": cell_at("judgment_col"),
            "final_raw": cell_at("final_judgment_col"),
        },
        ("row_map",),
    ]

    # ---- data rows: W1 fill-down + clean chain, flag-gated ----------------
    # ``is_data`` replaces the old row filter (below-header + resolvable
    # strain column). Every fill-down SOURCE is guarded by it, so
    # last(ignorenulls) over the unfiltered frame sees exactly the values the
    # filtered frame used to — non-data rows contribute nothing and merely
    # carry (unused) filled values.
    is_data = F.col("is_data")
    has_bulk = is_data & (F.col("bulk") != "")
    steps += [
        {"is_data": F.coalesce(
            F.col("header_row").isNotNull()
            & ((F.col("header_row") == -1) | (F.col("row") > F.col("header_row")))
            & F.col("strain_col").isNotNull(),
            F.lit(False),
        )},
        {
            "t_ext": F.when(has_bulk, C.extract_test_number(F.col("bulk"))),
            "p_ext": F.when(has_bulk, C.extract_prescription_number(F.col("bulk"))),
        },
        {
            "test_number": F.coalesce(
                F.last(F.nullif("t_ext", F.lit("")), True).over(wcum), F.lit("")),
            "prescription_number": F.coalesce(
                F.last(F.nullif("p_ext", F.lit("")), True).over(wcum), F.lit("")),
            "strain": F.when(is_data, C.normalize_strain(F.col("strain_raw"))),
        },
        # strain cell must exist (reference: col in row) and normalize non-empty
        {"is_record": F.coalesce(
            is_data & (F.col("strain_raw") != "") & (F.col("strain") != ""),
            F.lit(False),
        )},
    ]
    final_raw = F.col("final_raw")
    rec = F.col("is_record")
    # staged projections (see cleaners.clean_cfu_stages): the four day-column
    # clean chains run in whole-stage codegen instead of interpreted let()
    # HOF eval — this is the flagship/production path's per-row hot loop.
    # Inputs gated on is_record: when() short-circuits the chains on header /
    # pre-header / strain-less rows, whose outputs nothing consumes.
    steps += C.clean_cfu_stages(
        {
            "c0": F.when(rec, F.col("c0_raw")),
            "c7": F.when(rec, F.col("c7_raw")),
            "c14": F.when(rec, F.col("c14_raw")),
            "c28": F.when(rec, F.col("c28_raw")),
        },
        [
            ("c0", "0", "cfu_0day"),
            ("c7", "7", "cfu_7day"),
            ("c14", "14", "cfu_14day"),
            ("c28", "28", "cfu_28day"),
        ],
    )
    steps.append({
        "judgment": F.when(rec, C.extract_judgment(F.col("judg_raw"))),
        "final_judgment": F.when(
            rec,
            F.when(final_raw == "", F.lit("")).otherwise(C.extract_judgment(final_raw)),
        ),
    })

    # ---- A2 — strain-group sort within consecutive test groups ----------
    # lag over the old filtered frame = the previous RECORD row's value here:
    # last(when(is_record, …), ignorenulls) over (unboundedPreceding, -1).
    wprev = Window.partitionBy(*PAGE).orderBy("row").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev_test = F.last(F.when(rec, F.col("test_number")), True).over(wprev)
    steps += [
        {"new_group": F.when(
            rec & (prev_test.isNull() | (prev_test != F.col("test_number"))),
            F.lit(1),
        ).otherwise(F.lit(0))},
        {
            "group_id": F.sum("new_group").over(wcum),
            "strain_rank": F.when(rec, C.strain_rank(F.col("strain"))),
        },
        ("new_group",),
    ]

    rec_struct = F.struct(
        "group_id", "strain_rank", "row",
        F.concat_ws("|", *spanspec.RECORD_FIELDS).alias("line"),
    )
    return SimpleNamespace(
        page_not_null=F.col(PAGE[0]).isNotNull() & F.col(PAGE[1]).isNotNull(),
        cell=F.explode_outer("cells").alias("cell"),
        cell_fields=(F.col("cell.row").alias("row"), F.col("cell.col").alias("col"),
                     F.col("cell.text").alias("text")),
        date_parts={"date_m": date_m, "date_d": date_d},
        row_aggs=row_aggs,
        row_text_u={"row_text_u": F.upper("row_text")},
        row_steps=tuple(steps),
        is_record=rec,
        page_meta=(
            F.first("date_info").alias("date_info"),
            F.first("header_row").alias("header_row"),
        ),
        lines=F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(rec, rec_struct))
                ),
                lambda s: s.getField("line"),
            ),
            "\n",
        ).alias("lines"),
    )
