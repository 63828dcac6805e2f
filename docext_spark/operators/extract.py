"""Extraction operators — Arrow-batched pandas UDF carriers for the pure
core kernels (X1-X7). No per-row Python outside the Arrow batch boundary;
no driver-side loops.

Every UDF here is ``Iterator[pd.Series] → Iterator[pd.DataFrame/Series]``
(SCALAR_ITER), so setup inside a UDF body runs once per task, not per batch.
Python workers are reused across tasks, but each task still pays PySpark's
per-task worker protocol before the body runs: unpickling the UDF command and
``importlib.invalidate_caches()``, which on CPython < 3.13 re-reads every zip
archive on the worker path. ``docext_spark/pyworker.py`` keeps Spark's
archives off that path for local masters.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from docext_spark.schema import EXTRACTION_STRUCT


@pandas_udf(EXTRACTION_STRUCT)
def turn_extract_udf(texts: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """X1/X2/X3/X5-dispatch per-turn markdown conversion (core.convert)."""
    from docext_spark.core.convert import turn_to_markdown
    for batch in texts:
        rows = [turn_to_markdown(t if t is not None else "") for t in batch]
        yield pd.DataFrame({
            "md": [r["md"] for r in rows],
            "kind": [r["kind"] for r in rows],
            "blocks_kept": pd.array([r["blocks_kept"] for r in rows], dtype="int32"),
            "blocks_dropped": pd.array([r["blocks_dropped"] for r in rows], dtype="int32"),
            "classifier_decisions": pd.array(
                [r["classifier_decisions"] for r in rows], dtype="int32"),
            "spans": [
                [{"label": s[0], "start": s[1], "end": s[2]} for s in r["spans"]]
                for r in rows],
            "parse_ok": [r["parse_ok"] for r in rows],
        })


def extract_turns(transcripts: DataFrame) -> DataFrame:
    """Flagship extraction: one row per turn with markdown + lineage columns.

    Column pruning note: only ``text`` feeds the pUDF, so Catalyst prunes the
    scan to the referenced columns (SURVEY.md §4).
    """
    return (transcripts
            .withColumn("ext", turn_extract_udf(F.col("text")))
            .select("conv_id", "turn_idx", "role", "tool", "ts",
                    F.col("ext.md").alias("md"),
                    F.col("ext.kind").alias("kind"),
                    F.col("ext.blocks_kept").alias("blocks_kept"),
                    F.col("ext.blocks_dropped").alias("blocks_dropped"),
                    F.col("ext.classifier_decisions").alias("classifier_decisions"),
                    F.col("ext.spans").alias("spans"),
                    F.col("ext.parse_ok").alias("parse_ok")))


def make_fields_udf(field_names: list[str]):
    """X4/X6 — KIE extraction for a fixed request schema.

    The request schema (a runtime-dynamic user config in the reference,
    app/app.py:24-76) parameterizes the generated UDF; output is long
    format: array of {field, answer, answers, confidence}, one element per
    requested field in request order (extract.py:85-94).
    """
    out_type = T.ArrayType(T.StructType([
        T.StructField("field", T.StringType(), False),
        T.StructField("answer", T.StringType(), False),
        T.StructField("answers", T.ArrayType(T.StringType()), False),
        T.StructField("confidence", T.StringType(), False),
    ]))
    names = list(field_names)

    @pandas_udf(out_type)
    def fields_udf(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from docext_spark.core.fields import extract_fields
        for batch in texts:
            yield pd.Series([extract_fields(t or "", names) for t in batch])

    return fields_udf


def extract_fields_long(df: DataFrame, field_names: list[str],
                        text_col: str = "text",
                        key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
                        ordered: bool = False) -> DataFrame:
    """KIE long-format output: (keys..., field, answer, confidence).

    Mirrors the reference's per-document frame assembly
    (extract.py:83-97) with document_index → the composite key.

    ``ordered=True`` adds the reference's deterministic display sort
    (extract.py:160-162) — a TOTAL sort, so it belongs only at a display or
    sink boundary; at 10^12 turns the default path must stay sort-free
    (the oracle harness sorts rows itself before hashing).
    """
    udf = make_fields_udf(field_names)
    exploded = (df.withColumn("f", F.explode(udf(F.col(text_col))))
                  .select(*key_cols,
                          F.col("f.field").alias("field"),
                          F.col("f.answer").alias("answer"),
                          F.col("f.answers").alias("answers"),
                          F.col("f.confidence").alias("confidence")))
    if ordered:
        return exploded.orderBy(*key_cols, "field")
    return exploded


def make_classify_udf(labels: list[str]):
    """X7 — closed-vocabulary classification."""
    vocab = list(labels)

    @pandas_udf(T.StringType())
    def classify_udf(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from docext_spark.core.classify import classify
        for batch in texts:
            yield pd.Series([classify(t or "", vocab) for t in batch])

    return classify_udf


PIPE_ROWS_TYPE = T.ArrayType(T.StructType([
    T.StructField("row_idx", T.IntegerType(), False),
    T.StructField("col_name", T.StringType(), False),
    T.StructField("cell", T.StringType(), False),
]))


@pandas_udf(PIPE_ROWS_TYPE)
def pipe_table_udf(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """X5 — markdown pipe-table → long-format cells (extract.py:118-119
    slice semantics + mdpd-style parse, via core.tables)."""
    from docext_spark.core.tables import parse_pipe_table
    for batch in texts:
        out = []
        for t in batch:
            parsed = parse_pipe_table(t or "")
            cells = []
            for ri, row in enumerate(parsed["rows"]):
                for cn, cell in zip(parsed["columns"], row):
                    cells.append({"row_idx": ri, "col_name": cn, "cell": cell})
            out.append(cells)
        yield pd.Series(out)


@pandas_udf(T.DoubleType())
def grits_con_udf(gt_html: pd.Series, pred_html: pd.Series) -> pd.Series:
    """A7 — GRITS_Con table similarity per (gt, pred) HTML pair."""
    from docext_spark.core.grits import grits_con_from_html
    return pd.Series([
        grits_con_from_html(g or "", p or "")
        for g, p in zip(gt_html, pred_html)])


@pandas_udf(T.BooleanType())
def grits_clipped_udf(gt_html: pd.Series, pred_html: pd.Series) -> pd.Series:
    """Lineage flag beside the GRITS scores: True when either table's grid
    hit the MAX_GRID bound and the pair was scored on a truncated grid.
    Sum it per partition for the clipped-pair counter (the decode-bomb
    guards' observability pattern)."""
    from docext_spark.core.grits import grits_grid_clipped
    return pd.Series([grits_grid_clipped(g or "") or grits_grid_clipped(p or "")
                      for g, p in zip(gt_html, pred_html)])


@pandas_udf(T.DoubleType())
def grits_top_udf(gt_html: pd.Series, pred_html: pd.Series) -> pd.Series:
    """GRITS_Top topology similarity per (gt, pred) HTML pair
    (relative-span grids, grits.py:410-428)."""
    from docext_spark.core.grits import grits_top_from_html
    return pd.Series([
        grits_top_from_html(g or "", p or "")
        for g, p in zip(gt_html, pred_html)])


@pandas_udf(T.DoubleType())
def grits_loc_udf(gt_grid: pd.Series, pred_grid: pd.Series) -> pd.Series:
    """GRITS_Loc per (gt, pred) bbox-grid pair (reference grits.py:431-436:
    factored 2D-MSS with IoU reward over cell bounding boxes). Grids are
    array<array<array<double>>> columns: rows × cols × [x1,y1,x2,y2]."""
    from docext_spark.core.grits import grits_loc

    def as_grid(g):
        return [[tuple(c) for c in row] for row in (g if g is not None else [])]

    return pd.Series([grits_loc(as_grid(g), as_grid(p))
                      for g, p in zip(gt_grid, pred_grid)])


@pandas_udf(T.LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    from docext_spark.core.textstats import simhash64
    return pd.Series([simhash64(t or "") for t in texts], dtype="int64")


@pandas_udf(T.ArrayType(T.LongType()))
def winnow_udf(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Rolling-hash winnowing fingerprints (core.textstats, MOSS-style):
    any shared substring of length >= k+window-1 guarantees a shared
    fingerprint — the join key for substring-level near-dup detection."""
    from docext_spark.core.textstats import winnow_fingerprints
    for batch in texts:
        yield pd.Series([winnow_fingerprints(t or "") for t in batch])
