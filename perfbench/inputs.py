"""Seeded benchmark inputs, built without Spark.

Every workload's input is a list of transcript rows from
``docext_spark.synth.generate_transcripts`` and the parquet bytes cut
from it. The same seed gives byte-identical files; the engine only ever
sees the files.
"""
from __future__ import annotations

import io

import pyarrow as pa
import pyarrow.parquet as pq

from docext_spark.synth import generate_transcripts

# the engine's TRANSCRIPT_SCHEMA in Arrow terms (int32 turn_idx, UTC
# timestamps), so Spark reads the files with that schema unchanged
ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

# extract_batch: the synth payload mix (40% html, 20% pdf_text, 15%
# md_table, 10% json, 15% plain), one hot conversation of 50x median turns
EXTRACT_CONVS, EXTRACT_MEDIAN, EXTRACT_HOT = 400, 8, 50
EXTRACT_FILES = 4

# stream_feed: small files, one per micro-batch
STREAM_ROWS_PER_FILE = 128
STREAM_MEDIAN = 8


def split_rows(rows: list[dict], n_files: int) -> list[list[dict]]:
    n = len(rows)
    return [rows[i * n // n_files:(i + 1) * n // n_files]
            for i in range(n_files)]


def parquet_bytes(rows: list[dict]) -> bytes:
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pylist(rows, schema=ARROW_SCHEMA), buf)
    return buf.getvalue()


def extract_rows(seed: int) -> list[dict]:
    return generate_transcripts(n_convs=EXTRACT_CONVS,
                                median_turns=EXTRACT_MEDIAN, seed=seed,
                                hot_factor=EXTRACT_HOT)


def stream_rows(seed: int, n_files: int) -> list[list[dict]]:
    """``n_files`` files of STREAM_ROWS_PER_FILE rows each, the synth mix."""
    need = n_files * STREAM_ROWS_PER_FILE
    # ~median_turns turns per conversation; over-generate, then cut
    rows = generate_transcripts(n_convs=need // STREAM_MEDIAN + 8,
                                median_turns=STREAM_MEDIAN, seed=seed,
                                hot_factor=1)
    if len(rows) < need:
        raise ValueError(f"synth gave {len(rows)} rows, need {need}")
    return split_rows(rows[:need], n_files)


def batch_files(workload: str, seed: int, n_stream_files: int = 0) -> dict:
    """All input files of a workload as {relative path: parquet bytes},
    plus the rows behind them (the oracle side of the output checks)."""
    if workload == "extract_batch":
        rows = extract_rows(seed)
        files = {f"in/part-{i:03d}.parquet": parquet_bytes(p)
                 for i, p in enumerate(split_rows(rows, EXTRACT_FILES))}
        return {"rows": rows, "files": files}
    if workload == "stream_feed":
        parts = stream_rows(seed, n_stream_files)
        rows = [r for p in parts for r in p]
        files = {f"feed/part-{i:05d}.parquet": parquet_bytes(p)
                 for i, p in enumerate(parts)}
        return {"rows": rows, "files": files}
    raise ValueError(f"unknown workload {workload!r}")
