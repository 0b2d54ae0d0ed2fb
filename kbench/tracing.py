"""Spans and counters of the traced run.

Spans are recorded in the benchmark's own code, around its calls into
the program's public functions; they stay in memory and are written out
once at the end. A span is (id, name, start, end, parent) with times in
epoch seconds. A span name's self time is the sum over its spans of the
duration minus the part of it that child spans cover.
"""

from __future__ import annotations

import json
import os
import sqlite3
import time
import urllib.request
from datetime import datetime

# The order in which MicroBatchExecution runs the phases of a trigger.
# Progress reports only their durations, so child spans are laid out in
# this order from the trigger start.
TRIGGER_PHASES = [
    "latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets",
]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, **attrs})
        return sid

    def add_trigger(self, progress: dict, parent: int | None) -> dict[str, int]:
        """One span per micro-batch and one child per durationMs phase;
        returns the span ids by phase, the batch span under "batch"."""
        start = progress_start(progress)
        dur = progress["durationMs"]
        ids = {"batch": self.add("streaming.micro_batch", start,
                                 start + dur.get("triggerExecution", 0) / 1000, parent,
                                 batch_id=progress["batchId"])}
        t = start
        for phase in TRIGGER_PHASES:
            if phase in dur:
                ids[phase] = self.add(f"streaming.{phase}", t, t + dur[phase] / 1000,
                                      ids["batch"])
                t += dur[phase] / 1000
        return ids

    def self_times_ms(self) -> dict[str, float]:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(children.get(s["id"], []), s["start"], s["end"])
            own = max(0.0, s["end"] - s["start"] - covered)
            out[s["name"]] = out.get(s["name"], 0.0) + own * 1000
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_ms": self.self_times_ms()}, f)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def progress_start(progress: dict) -> float:
    """Trigger start in epoch seconds (the progress timestamp is ISO-8601
    UTC with millisecond precision)."""
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def progress_listener(events: list[dict]):
    """A StreamingQueryListener appending every progress event, as a
    dict, to `events`."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


class CountingConnect:
    """Picklable sqlite connect factory: every connection and every
    executemany is appended to a log file, one JSON line each, because
    the sink calls it inside Python workers, not in the Spark driver."""

    def __init__(self, path: str, log: str):
        self.path, self.log = path, log

    def __call__(self):
        _append(self.log, {"kind": "connect", "t": time.time()})
        return _Conn(sqlite3.connect(self.path, timeout=60), self.log)


def _append(path: str, record: dict) -> None:
    fd = os.open(path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
    try:
        os.write(fd, (json.dumps(record) + "\n").encode())
    finally:
        os.close(fd)


class _Conn:
    def __init__(self, conn, log):
        self._conn, self._log = conn, log

    def cursor(self):
        return _Cursor(self._conn.cursor(), self._log)

    def commit(self):
        self._conn.commit()

    def close(self):
        self._conn.close()


class _Cursor:
    def __init__(self, cur, log):
        self._cur, self._log = cur, log

    def execute(self, sql, *args):
        return self._cur.execute(sql, *args)

    def executemany(self, sql, rows):
        rows = list(rows)
        start = time.time()
        out = self._cur.executemany(sql, rows)
        end = time.time()
        kind = "delete" if sql.lstrip().upper().startswith("DELETE") else "upsert"
        _append(self._log, {"kind": kind, "rows": len(rows), "start": start, "end": end})
        return out


def read_log(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _rest(spark, endpoint: str):
    port = spark.sparkContext.uiWebUrl.rstrip("/").rsplit(":", 1)[1]
    app = spark.sparkContext.applicationId
    url = f"http://localhost:{port}/api/v1/applications/{app}/{endpoint}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


STAGE_FIELDS = {
    "spark.executor_cpu_ms": "executorCpuTime",
    "spark.jvm_gc_ms": "jvmGcTime",
    "spark.executor_run_ms": "executorRunTime",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.tasks": "numCompleteTasks",
}


def stage_totals(spark) -> dict[str, float]:
    """Totals over the completed stages so far, from Spark's REST API
    (the UI is on in the traced run). CPU time is reported in ns."""
    stages = _rest(spark, "stages?status=complete")
    out = {k: float(sum(s.get(f, 0) for s in stages)) for k, f in STAGE_FIELDS.items()}
    out["spark.executor_cpu_ms"] /= 1e6
    out["spark.spill_bytes"] = float(
        sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages))
    return out


def jobs_in_group(spark, group: str) -> int:
    """Spark jobs run under a job group; a streaming query runs each
    micro-batch's jobs under its run id."""
    return sum(j.get("jobGroup") == group for j in _rest(spark, "jobs"))


def proc_stats() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name
    (index 1 is the parent, 2 the process group, 11 and 12 user and
    system CPU ticks) of every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    return out


def descendants(root: int, stats: dict[int, list[str]]) -> list[int]:
    """`root` and every live descendant of it."""
    kids: dict[int, list[int]] = {}
    for p, fields in stats.items():
        kids.setdefault(int(fields[1]), []).append(p)
    found, todo = [], [root]
    while todo:
        p = todo.pop()
        found.append(p)
        todo += kids.get(p, [])
    return found


def tree_cpu_ms(root: int) -> float:
    """User + system CPU time of `root` and every live descendant."""
    stats = proc_stats()
    total = sum(int(stats[p][11]) + int(stats[p][12])
                for p in descendants(root, stats) if p in stats)
    return total * 1000 / os.sysconf("SC_CLK_TCK")
