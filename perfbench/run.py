"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_batch --seed 1 \\
        --seconds 15 --trace 0

Runs one workload against the engine from the root of a checkout and
prints, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a ``detail`` record with host and
input facts. See perfbench/README.md.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("extract_batch", "stream_feed")
GEN_REPEATS = 3
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
# a timed window whose last-quarter op median is off its first-quarter
# one by more than the op_ms_p50 bound is reported as unsteady
DRIFT_BOUND = next(m["bound"] for m in SPEC["end_to_end"]
                   if m["name"] == "op_ms_p50")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def write_inputs(work, workload, seed, seconds) -> tuple[dict, str]:
    """Generate and write the workload's input; (data, sha256 of files)."""
    from perfbench.inputs import batch_files
    from perfbench.workloads import StreamFeed
    data = batch_files(workload, seed, StreamFeed.files_needed(seconds))
    digest = hashlib.sha256()
    for rel, payload in sorted(data["files"].items()):
        digest.update(rel.encode() + payload)
        if workload == "stream_feed":
            continue   # published one by one during the run
        path = os.path.join(work, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(payload)
    return data, digest.hexdigest()


def input_facts(rows, files, seed) -> dict:
    import pyarrow
    import pyspark
    from docext_spark.core.convert import detect_payload_kind
    kinds: dict[str, int] = {}
    per_conv: dict[str, int] = {}
    for r in rows:
        k = detect_payload_kind(r["text"])
        kinds[k] = kinds.get(k, 0) + 1
        per_conv[r["conv_id"]] = per_conv.get(r["conv_id"], 0) + 1
    return {"seed": seed, "turns": len(rows),
            "text_bytes": sum(len(r["text"].encode()) for r in rows),
            "files_generated": len(files),
            "file_bytes_generated": sum(len(b) for b in files.values()),
            "turns_per_kind": kinds, "conversations": len(per_conv),
            "hot_conversation_turns": max(per_conv.values()),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def measure(args, spark, work, detail) -> tuple[dict, int, int]:
    """Set-up after the session, warm-up, timed window, checks and (with
    ``--trace 1``) the layer pass; (metrics, attempted, failed)."""
    from perfbench import probes, workloads
    from perfbench.layers import layer_pass

    gen_s, digests = [], set()
    for _ in range(GEN_REPEATS):
        t = time.perf_counter()
        data, digest = write_inputs(work, args.workload, args.seed,
                                    args.seconds)
        gen_s.append(time.perf_counter() - t)
        digests.add(digest)
    stream = args.workload == "stream_feed"
    wl = (workloads.StreamFeed if stream
          else workloads.ExtractBatch)(spark, work, data)
    t = time.perf_counter()
    wl.cold()
    cold_s = time.perf_counter() - t
    detail["setup"].update(gen_write_s=gen_s, cold_op_s=cold_s)

    wl.warmup()
    steal = probes.cpu_steal_s()
    res = wl.run(args.seconds)
    steal = probes.cpu_steal_s() - steal
    if stream:
        detail["feed"] = {"rate_per_s": wl.rate_per_s, "files": res["files"],
                          "gen_late_ms_max": res["gen_late_ms_max"]}
    mismatches = wl.check()
    if len(digests) != 1:
        mismatches.append("the same seed gave different input bytes")
    d = workloads.drift(res["lags_ms"])
    detail["window"] = {"ops": len(res["op_ms"]),
                        "samples": len(res["lags_ms"]),
                        "wall_s": res["wall_s"], "drift": d,
                        "steady": abs(d) <= DRIFT_BOUND,
                        "cpu_steal_s": steal, "mismatches": mismatches}
    rows = wl.published_rows()
    detail["input"] = input_facts(rows, data["files"], args.seed)

    metrics = dict(workloads.summary(res), setup_s=detail["setup"][
        "session_s"] + probes.median(gen_s) + cold_s)
    if args.trace:
        t = time.perf_counter()
        layers, bad = layer_pass(spark, work, wl.in_dir, rows,
                                 res.get("progress"))
        mismatches += bad
        layers["feed.gen_late_ms_max"] = res.get("gen_late_ms_max", 0.0)
        layers["bench.trace_s"] = time.perf_counter() - t
        layers["bench.window_op_ms_p50"] = metrics["op_ms_p50"]
        layers["bench.window_lag_ms_p50"] = metrics["lag_ms_p50"]
        metrics = layers
    # the full output check is one more attempt
    return metrics, len(res["lags_ms"]) + 1, res["failed"] + bool(mismatches)


def run(args, work) -> tuple[dict, dict, int, int]:
    from perfbench import probes

    detail: dict = {"workload": args.workload, "host": probes.host_facts()}
    steal = probes.cpu_steal_s()
    with probes.PeakRss() as rss:
        t = time.perf_counter()
        spark = probes.start_spark(work)
        detail["setup"] = {"session_s": time.perf_counter() - t}
        try:
            metrics, attempted, failed = measure(args, spark, work, detail)
        finally:
            probes.stop_spark(spark)
    detail["host"]["run_cpu_steal_s"] = probes.cpu_steal_s() - steal
    if not args.trace:
        metrics["peak_rss_mb"] = rss.peak_mb
    return detail, metrics, attempted, failed


def result_line(metrics, attempted, failed, correct) -> str:
    units = {m["name"]: m["unit"]
             for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()}})


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401  (host-load readers)
        import docext_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    parent = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(parent, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        detail, metrics, attempted, failed = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:   # another run still uses it
            pass
    correct = failed == 0
    print("detail " + json.dumps(detail), flush=True)
    print(result_line(metrics, attempted, failed, correct), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
