"""The traced run's layer pass: each layer driven on its own, through the
engine's public functions, over the workload's own input. Spans are
recorded here, around the calls into each layer; the Python-UDF and
shuffle figures come from the SQL status store of the executions a span
ran. The pass also checks what the resume protocol commits and
reassembles."""
from __future__ import annotations

import json
import os
import time

from docext_spark.core.convert import conversation_markdown, turn_to_markdown
from docext_spark.operators.extract import extract_turns
from docext_spark.operators.reassemble import reassemble_conversations
from docext_spark.plans.pipeline import lineage_metrics
from docext_spark.sources.checkpoint import CheckpointedResults
from docext_spark.streaming.extract_stream import start_extraction_stream
from pyspark.sql import functions as F

from perfbench.probes import StatusStore, median, summed
from perfbench.workloads import expected_turns, noop, read_input

KINDS = ("html", "pdf_text", "md_table", "json_payload", "plain")
STREAM_FIELDS = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
                 "latest_offset_ms": "latestOffset",
                 "wal_commit_ms": "walCommit",
                 "commit_offsets_ms": "commitOffsets",
                 "query_planning_ms": "queryPlanning"}
UDF_FIELDS = {"udf_boot_ms": "time to start Python workers",
              "udf_init_ms": "time to initialize Python workers",
              "udf_exec_ms": "time to run Python workers",
              "udf_arrow_sent_mb": "data sent to Python workers",
              "udf_arrow_recv_mb": "data returned from Python workers"}
SPAN_REPEATS = 3
# the per-turn columns run_pipeline commits
COMMITTED_COLS = ["conv_id", "turn_idx", "role", "md", "kind", "blocks_kept",
                  "blocks_dropped", "classifier_decisions", "parse_ok"]


def span(fn):
    """(milliseconds, result) of one call."""
    t = time.perf_counter()
    out = fn()
    return (time.perf_counter() - t) * 1e3, out


def kernel_us_per_turn(texts, min_s: float = 0.2) -> dict[str, float]:
    """The kernel called directly, per payload kind, on the given texts."""
    by_kind: dict[str, list[str]] = {k: [] for k in KINDS}
    for t in texts:
        by_kind[turn_to_markdown(t)["kind"]].append(t)
    out = {}
    for kind, group in by_kind.items():
        calls, spent = 0, 0.0
        while group and spent < min_s:
            t = time.perf_counter()
            for x in group:
                turn_to_markdown(x)
            spent += time.perf_counter() - t
            calls += len(group)
        out[f"core.convert.us_per_turn.{kind}"] = \
            spent / calls * 1e6 if calls else 0.0
    return out


def scan_and_extract(spark, in_dir) -> dict[str, float]:
    store = StatusStore(spark)
    scan = [span(lambda: noop(read_input(spark, in_dir)))[0]
            for _ in range(SPAN_REPEATS)]
    ops, udf = [], {k: [] for k in UDF_FIELDS}
    for _ in range(SPAN_REPEATS):
        before = store.count()
        ops.append(span(lambda: noop(extract_turns(
            read_input(spark, in_dir))))[0])
        execs = store.metrics_since(before)
        for key, name in UDF_FIELDS.items():
            udf[key].append(summed(execs, name))
    out = {"sources.scan_ms": median(scan),
           "operators.extract.op_ms": median(ops)}
    out.update({f"operators.extract.{k}": median(v) for k, v in udf.items()})
    return out


def _dir_mb(path) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / 2**20


def resume_mismatches(committed, convs, rows) -> list[str]:
    """Committed turns equal the input turns through the kernel, and each
    conversation's markdown equals ``conversation_markdown`` over its
    turns in ``turn_idx`` order."""
    want = expected_turns(rows)
    got = {(c["conv_id"], c["turn_idx"]): c["md"] for c in committed}
    bad = []
    if len(got) != len(committed) or set(got) != set(want):
        bad.append(f"{len(committed)} committed rows, {len(want)} input rows")
    elif any(got[k] != w["md"] for k, w in want.items()):
        bad.append("a committed turn's markdown differs")
    by_conv: dict[str, list] = {}
    for (conv, idx), w in want.items():
        by_conv.setdefault(conv, []).append((idx, w["md"]))
    conv_md = {c["conv_id"]: c["conv_md"] for c in convs}
    if conv_md != {conv: conversation_markdown([md for _, md in sorted(t)])
                   for conv, t in by_conv.items()}:
        bad.append("reassembled conversation markdown differs")
    return bad


def checkpoint_layers(spark, in_dir, root, rows) -> tuple[dict, list[str]]:
    """The resume protocol step by step on a half-committed table: the
    anti-join, the commit, the re-read of all commits, lineage and the
    segmented reassembly, each materialized and timed on its own."""
    store = StatusStore(spark)
    src = read_input(spark, in_dir)
    ckpt = CheckpointedResults(root)
    half = src.filter(F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(2)) == 0)
    n_done = ckpt.commit(extract_turns(half).select(*COMMITTED_COLS))
    n_todo = len(rows) - n_done

    remaining_ms, todo = span(lambda: ckpt.remaining(spark, src))
    remaining_ms += span(lambda: noop(todo))[0]
    extracted = extract_turns(todo).persist()
    extracted.count()
    before_dirs = set(os.listdir(root))
    commit_ms, written = span(
        lambda: ckpt.commit(extracted.select(*COMMITTED_COLS)))
    new = [d for d in os.listdir(root) if d not in before_dirs
           and os.path.isdir(os.path.join(root, d))]
    committed_ms, all_turns = span(lambda: ckpt.committed(spark))
    committed_ms += span(lambda: noop(all_turns))[0]
    lineage_ms = span(lambda: noop(lineage_metrics(extracted)))[0]
    convs = reassemble_conversations(all_turns)
    before = store.count()
    reassemble_ms = span(lambda: noop(convs))[0]
    shuffle_mb = summed(store.metrics_since(before), "shuffle bytes written")
    extracted.unpersist()
    bad = resume_mismatches(all_turns.select("conv_id", "turn_idx", "md")
                            .collect(), convs.collect(), rows)
    return {"sources.checkpoint.remaining_ms": remaining_ms,
            "sources.checkpoint.commit_ms": commit_ms,
            "sources.checkpoint.commit_mb": sum(
                _dir_mb(os.path.join(root, d)) for d in new),
            "sources.checkpoint.committed_ms": committed_ms,
            "plans.pipeline.lineage_ms": lineage_ms,
            "operators.reassemble.ms": reassemble_ms,
            "operators.reassemble.shuffle_mb": shuffle_mb,
            "plans.pipeline.useful_frac": written / n_todo if n_todo else 1.0
            }, bad


def stream_layers(progress) -> dict[str, float]:
    """Medians over micro-batches that carried rows."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {f"streaming.{k}": median([p["durationMs"].get(v, 0.0)
                                     for p in data])
           for k, v in STREAM_FIELDS.items()}
    out["streaming.rows_per_batch"] = median(
        [p["numInputRows"] for p in data])
    return out


def drain_stream(spark, in_dir, work) -> list[dict]:
    """One file per trigger over ``in_dir`` until it is drained."""
    q = start_extraction_stream(
        spark, in_dir, os.path.join(work, "layer_ck"),
        os.path.join(work, "layer_out"), max_files_per_trigger=1,
        available_now=True)
    q.awaitTermination()
    return [json.loads(p.json) for p in q.recentProgress]


def layer_pass(spark, work, in_dir, rows,
               progress=None) -> tuple[dict, list[str]]:
    """Every per-layer metric, and the resume protocol's mismatches.
    ``progress`` is the workload's own stream progress when it has one;
    otherwise a stream drains ``in_dir``."""
    out = kernel_us_per_turn([r["text"] for r in rows])
    out.update(scan_and_extract(spark, in_dir))
    ckpt, bad = checkpoint_layers(spark, in_dir,
                                  os.path.join(work, "layer_results"), rows)
    out.update(ckpt)
    if progress is None:
        progress = drain_stream(spark, in_dir, work)
    out.update(stream_layers(progress))
    return out, bad
