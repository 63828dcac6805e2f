"""The workloads. Each drives the engine through its public
functions only; the inputs are the seeded files of ``inputs``.

Both expose ``cold()`` (the first op, part of set-up), ``warmup()`` (a
fixed, untimed amount of the same work), ``run(seconds)`` (the timed
window) and ``check()`` (the full output check, run outside the timed
ops; returns a list of mismatches).
"""
from __future__ import annotations

import json
import math
import os
import sys
import time

from docext_spark.core.convert import turn_to_markdown
from docext_spark.operators.extract import extract_turns
from docext_spark.schema import TRANSCRIPT_SCHEMA
from docext_spark.streaming.extract_stream import (RESULT_COLS,
                                                   start_extraction_stream)

from perfbench.probes import median, quantile, wait_until

class CheckFailed(Exception):
    pass


def read_input(spark, path):
    return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)


def noop(df):
    df.write.mode("overwrite").format("noop").save()


def expected_turns(rows) -> dict:
    """(conv_id, turn_idx) → turn_to_markdown of its text: the oracle."""
    return {(r["conv_id"], r["turn_idx"]): turn_to_markdown(r["text"])
            for r in rows}


def compare_turns(got, rows) -> list[str]:
    """Per-turn md/kind/spans of Spark rows against the kernel; reports
    the first five mismatching turns."""
    want = expected_turns(rows)
    bad = []
    if len(got) != len(want):
        bad.append(f"{len(got)} turns out, {len(want)} in")
    for g in got:
        w = want.get((g["conv_id"], g["turn_idx"]))
        spans = [(s["label"], s["start"], s["end"]) for s in g["spans"]]
        if w is None or (g["md"], g["kind"], spans) != \
                (w["md"], w["kind"], [tuple(s) for s in w["spans"]]):
            bad.append(f"turn {g['conv_id']}/{g['turn_idx']} differs")
            if len(bad) >= 5:
                break
    return bad


class ExtractBatch:
    """Closed loop, one client: scan the table, extract every turn into a
    noop sink."""

    warmup_ops = 16

    def __init__(self, spark, work, data):
        self.spark, self.rows = spark, data["rows"]
        self.in_dir = os.path.join(work, "in")

    def op(self) -> int:
        noop(extract_turns(read_input(self.spark, self.in_dir)))
        return len(self.rows)

    cold = op

    def warmup(self):
        for _ in range(self.warmup_ops):
            self.op()

    def published_rows(self) -> list[dict]:
        return self.rows

    def run(self, seconds: float) -> dict:
        """Ops back to back for ``seconds``."""
        op_ms, turns, failed = [], 0, 0
        start = time.perf_counter()
        while time.perf_counter() - start < seconds:
            t = time.perf_counter()
            try:
                turns += self.op()
            except Exception as e:   # a failed op is counted, not fatal
                failed += 1
                print(f"op failed: {e!r}", file=sys.stderr, flush=True)
            op_ms.append((time.perf_counter() - t) * 1e3)
        return {"op_ms": op_ms, "lags_ms": op_ms, "turns": turns,
                "wall_s": time.perf_counter() - start, "failed": failed}

    def check(self) -> list[str]:
        got = (extract_turns(read_input(self.spark, self.in_dir))
               .select("conv_id", "turn_idx", "md", "kind", "spans")
               .collect())
        return compare_turns(got, self.rows)


class StreamFeed:
    """Open loop: the benchmark's main thread publishes one small parquet
    file per tick (tmp + rename) into the stream's input directory, while
    the query runs on Spark's threads and takes one file per trigger. A
    file's lag runs from its scheduled publish time to the commit of the
    micro-batch holding it."""

    rate_per_s = 0.6     # files/s, about half of what the stream drains
    warmup_files = 20
    drain_timeout_s = 60.0

    def __init__(self, spark, work, data):
        self.spark, self.rows = spark, data["rows"]
        self.files = sorted(data["files"].items())
        self.per_file = len(self.rows) // len(self.files)
        self.in_dir = os.path.join(work, "stream_in")
        self.ck = os.path.join(work, "stream_ck")
        self.out = os.path.join(work, "stream_out")
        os.makedirs(self.in_dir)
        self.next_file = 0
        self.due: dict[str, float] = {}    # file name → scheduled epoch s
        self.late: list[float] = []        # publish − schedule, s
        self.query = None

    @staticmethod
    def files_needed(seconds: float) -> int:
        return 1 + StreamFeed.warmup_files + \
            math.ceil(seconds * StreamFeed.rate_per_s)

    # -- feed -------------------------------------------------------------
    def _publish(self, due: float):
        rel, payload = self.files[self.next_file]
        self.next_file += 1
        name = os.path.basename(rel)
        tmp = os.path.join(self.in_dir, f".{name}.tmp")
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, os.path.join(self.in_dir, name))
        self.due[name] = due
        self.late.append(time.time() - due)
        return name

    def _feed(self, n: int, t0: float) -> list[str]:
        """Publish ``n`` files on the fixed schedule from epoch ``t0``;
        the schedule never slows down when the stream does."""
        names = []
        for k in range(n):
            due = t0 + k / self.rate_per_s
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            names.append(self._publish(due))
        return names

    # -- checkpoint log -----------------------------------------------------
    def _batch_of_file(self) -> dict[str, int]:
        src = os.path.join(self.ck, "sources", "0")
        out = {}
        if not os.path.isdir(src):
            return out
        for log in os.listdir(src):
            if log.startswith(".") or log.endswith(".tmp"):
                continue
            try:
                with open(os.path.join(src, log)) as f:
                    lines = f.read().splitlines()[1:]
            except FileNotFoundError:
                continue
            for line in lines:
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
        return out

    def _commit_times(self) -> dict[int, float]:
        commits = os.path.join(self.ck, "commits")
        out = {}
        for name in os.listdir(commits) if os.path.isdir(commits) else ():
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(commits, name)).st_mtime
        return out

    def _committed(self, names) -> bool:
        batches = self._batch_of_file()
        done = self._commit_times()
        return all(batches.get(n) in done for n in names)

    def _wait(self, names):
        if not wait_until(lambda: self._committed(names),
                          self.drain_timeout_s):
            raise CheckFailed(f"{len(names)} files not committed within "
                              f"{self.drain_timeout_s}s")

    # -- phases -------------------------------------------------------------
    def cold(self) -> int:
        """Start the query and push the first file through it."""
        self.query = start_extraction_stream(
            self.spark, self.in_dir, self.ck, self.out,
            max_files_per_trigger=1, available_now=False)
        self._wait(self._feed(1, time.time()))
        return self.per_file

    def warmup(self):
        """The warm-up files go in at once: it warms the same code paths,
        in less time than the schedule would take."""
        now = time.time()
        self._wait([self._publish(now) for _ in range(self.warmup_files)])

    def run(self, seconds: float) -> dict:
        """The timed window: ``seconds`` worth of files on the schedule,
        then the wait until the last one is committed."""
        late_before = len(self.late)
        names = self._feed(math.ceil(seconds * self.rate_per_s), time.time())
        self._wait(names)
        batches = self._batch_of_file()
        commit_at = self._commit_times()
        lags = [(commit_at[batches[n]] - self.due[n]) * 1e3 for n in names]
        window = {batches[n] for n in names}
        # a batch reports its progress just after its commit file lands
        wait_until(lambda: window <= {p["batchId"] for p in self.progress()},
                   self.drain_timeout_s)
        progress = [p for p in self.progress() if p["batchId"] in window]
        wall = max(commit_at[b] for b in window) - self.due[names[0]]
        return {"lags_ms": lags, "op_ms": [p["durationMs"]["triggerExecution"]
                                           for p in progress],
                "turns": self.per_file * len(names), "wall_s": wall,
                "files": len(names), "progress": progress, "failed": 0,
                "gen_late_ms_max": 1e3 * max(self.late[late_before:])}

    def published_rows(self) -> list[dict]:
        """The rows of the files published so far (files are published in
        order and hold the same number of rows)."""
        return self.rows[:self.next_file * self.per_file]

    def progress(self) -> list[dict]:
        return [json.loads(p.json) for p in self.query.recentProgress]

    def stop(self):
        if self.query is not None:
            self.query.stop()
            self.query.awaitTermination()

    def check(self) -> list[str]:
        """Committed stream output equals the batch extraction of the
        same files, row for row."""
        self.stop()
        streamed = self.spark.read.parquet(self.out).select(*RESULT_COLS)
        batch = extract_turns(read_input(self.spark, self.in_dir)) \
            .select(*RESULT_COLS)
        bad = []
        n_pub = len(self.published_rows())
        n_out = streamed.count()
        if n_out != n_pub:
            bad.append(f"{n_out} turns committed, {n_pub} published")
        for a, b, what in ((streamed, batch, "stream"), (batch, streamed,
                                                         "batch")):
            extra = a.exceptAll(b).count()
            if extra:
                bad.append(f"{extra} {what}-only rows")
        return bad


def drift(xs) -> float:
    """Median of the last quarter over the first, minus one."""
    q = len(xs) // 4
    if q == 0:
        return 0.0
    return median(xs[-q:]) / median(xs[:q]) - 1.0


def summary(res: dict) -> dict:
    return {"op_ms_p50": median(res["op_ms"]),
            "op_ms_p90": quantile(res["op_ms"], 0.9),
            "lag_ms_p50": median(res["lags_ms"]),
            "lag_ms_p90": quantile(res["lags_ms"], 0.9),
            "turns_per_s": res["turns"] / res["wall_s"]}
