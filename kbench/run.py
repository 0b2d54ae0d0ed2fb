"""Run one workload of the benchmark and print its metrics.

    python3 kbench/run.py --workload cdc_upsert --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object {"correct", "attempted", "failed", "metrics"}; the line
before it records the run context (seed, program identity, CPUs, Spark
task slots, driver heap, load and CPU steal). With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones of a traced
run. A wrong answer prints "correct": false, counts every operation as
failed and exits 1. NOTES.md defines every metric.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kbench import gen, reference  # noqa: E402
from kbench.tracing import descendants, proc_stats, progress_start, read_log  # noqa: E402
from kbench.workloads import BACKFILL_QUERIES, BATCH, STREAMING, WORKLOADS  # noqa: E402

# Largest Spark driver heap of the program process (get_spark's default
# is 24g, more than a 15 GB machine has to spare). With 2g the traced
# runs spend a small share of executor time in GC (NOTES.md). The
# initial heap is left to the JVM, so peak_rss_mb follows heap use.
DRIVER_MEM = "2g"
# JVM options of the program's driver. The JIT compiler stops at its
# first tier (C1): in a JVM that lives under a minute, the optimising
# tier compiled concurrently with the measured work and had got to
# different points in different runs. The young generation has a fixed
# size: G1 sized it from its pause times, so the heap it committed, and
# with it peak_rss_mb, varied from run to run; the old generation still
# grows with what the program keeps. NOTES.md has the measurements.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -Xmn256m"
# The program process is stopped after this long, so that a run ends
# within 180 s even when the program hangs.
WORKER_TIMEOUT_S = 160
WORK_DIR = ".kbench"

PROGRAM_FILES = ("kspp_spark/session.py", "__spark_entry__.py")


def program_identity() -> str:
    """The commit when the checkout is a git repository, else a digest of
    the program's sources."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except OSError:
            pass
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, names in os.walk(os.path.join(ROOT, "kspp_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0" + fh.read())
    return "sources-sha256:" + h.hexdigest()[:16]


def cpu_probe_ms() -> float:
    """Time of a fixed piece of single-threaded Python work, best of
    three: a record of how fast the machine ran, not a metric."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        sum(i * i for i in range(300_000))
        best = min(best, time.perf_counter() - t)
    return 1000 * best


def steal_pct(window_s: float = 0.25) -> float:
    """Share of CPU time stolen by the hypervisor over a short window."""
    def snap():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v)
    s0, t0 = snap()
    time.sleep(window_s)
    s1, t1 = snap()
    return 100 * (s1 - s0) / max(1, t1 - t0)


# --------------------------------------------------------------------------
# the program process and its memory
# --------------------------------------------------------------------------


def _memory_kb(pid: int, comm: str) -> int:
    """Resident memory of a process. A Python process counts its
    proportional set size: a page a forked worker shares with its daemon
    counts once, split between them. The JVM shares next to nothing (its
    RSS and PSS differed by 0.2%), and reading its smaps_rollup walks its
    page tables (22-53 ms a read, at 1.3 GB), so it counts its RSS."""
    path, field = ((f"/proc/{pid}/status", "VmRSS:") if comm == "java"
                   else (f"/proc/{pid}/smaps_rollup", "Pss:"))
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory of the program process tree: the Spark driver
    JVM and every Python process under `pid`, except the load generator.
    Every 0.2 s the resident memory of the tree is summed (polled so
    that short-lived Python workers are seen too); the peak is the
    largest sum."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak_kb = 0
        self.peaks: dict[int, int] = {}
        self.names: dict[int, str] = {}
        self.halt = threading.Event()

    def sample(self) -> None:
        total = 0
        for p in descendants(self.pid, proc_stats()):
            try:
                with open(f"/proc/{p}/comm") as f:
                    comm = f.read().strip()
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            if (not comm.startswith(("java", "python")) or b"kbench.gen" in cmd
                    or b"org.apache.spark.launcher.Main" in cmd):
                continue
            kb = _memory_kb(p, comm)
            total += kb
            self.names[p] = comm
            self.peaks[p] = max(self.peaks.get(p, 0), kb)
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self.halt.wait(0.2):
            self.sample()

    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    def breakdown(self) -> list[tuple[str, int]]:
        return [(self.names[p], kb // 1024) for p, kb in sorted(self.peaks.items())]


def _kill_group(pgid: int) -> None:
    """Kill every process of the group and wait until none is left. The
    program process has written its results by then, or has hung."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 10
    while time.time() < deadline and any(int(f[2]) == pgid for f in proc_stats().values()):
        time.sleep(0.05)


def run_program(spec: dict, tmp: str) -> tuple[dict, float, float]:
    """Start the program process, let it run the spec, and return its
    results, its set-up time measured from process start, and the peak
    RSS of its tree in MB."""
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": os.path.join(tmp, "tmp"),
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={os.path.join(tmp, "tmp")}'
            f' -XX:-UsePerfData {JVM_OPTS}" pyspark-shell'
        ),
    })
    spec_path = os.path.join(tmp, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    log_path = os.path.join(tmp, "program.log")
    with open(log_path, "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen([sys.executable, "-m", "kbench.program", spec_path],
                                cwd=tmp, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            sampler.halt.set()
            sampler.join()
            _kill_group(proc.pid)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(spec["result"]):
        kept = os.path.join(ROOT, WORK_DIR, "out",
                            f"{spec['workload']}-s{spec['seed']}-t{int(spec['trace'])}.log")
        shutil.copyfile(log_path, kept)
        raise RuntimeError(f"program process failed (exit {proc.returncode}); log: {kept}")
    with open(spec["result"]) as f:
        res = json.load(f)
    res["walls"] = {"spawn": t_spawn, "exited": time.time()}
    res["rss"] = sampler.breakdown()
    return res, res["phases"][0]["setup"]["ready"] - t_spawn, sampler.peak_mb()


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def pct(values, q: float) -> float:
    """Percentile with linear interpolation between order statistics."""
    values = sorted(values)
    if not values:
        return 0.0
    k = (len(values) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(values) - 1)
    return values[lo] + (values[hi] - values[lo]) * (k - lo)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# --------------------------------------------------------------------------
# streaming queries
# --------------------------------------------------------------------------


def make_query(spec: dict, tmp: str, pipeline: str, name: str, live: bool,
               traced: bool, batches: int | None = None) -> dict:
    """Directories of one streaming query of `pipeline`, its spool holding
    a copy of the first `batches` micro-batches of the pipeline's backlog
    (all of it by default; hard links keep the files' modification
    times)."""
    d = os.path.join(tmp, name)
    q = {"pipeline": pipeline, "name": name, "live": live, "traced": traced, "dir": d,
         "sqlite": os.path.join(d, "sink.db"), "dbapi_log": os.path.join(d, "dbapi.log")}
    for sub in ("spool", "spool_tmp", "ckpt", "out"):
        q[sub] = os.path.join(d, sub)
        os.makedirs(q[sub])
    master = os.path.join(tmp, f"backlog-{pipeline}")
    if not os.path.isdir(master):
        os.makedirs(master)
        gen.write_backlog(pipeline, spec["seed"], master, os.path.join(tmp, "tmp"))
    names = sorted(os.listdir(master))
    if batches is not None:
        names = names[:batches * STREAMING[pipeline]["files_per_trigger"]]
    for n in names:
        os.link(os.path.join(master, n), os.path.join(q["spool"], n))
    q["backlog_files"] = len(names)
    return q


def file_rows(pipeline: str, name: str) -> int:
    return gen.file_rows(pipeline, int(name[2:8]))


def score_query(seconds: float, q: dict, res: dict) -> dict:
    """Check one streaming query's answer and measure its catch-up and,
    for a live query, the latency of every live file."""
    w = q["pipeline"]
    p = STREAMING[w]
    nb = q["backlog_files"]
    fb = res["file_batches"]
    ends = {b: end for b, _, end in res["calls"]}
    per_batch: dict[int, list[str]] = {}
    for name, b in fb.items():
        per_batch.setdefault(b, []).append(name)
    wb, cb, f = p["warmup_batches"], p["catchup_batches"], p["files_per_trigger"]
    if any(len(per_batch.get(b, [])) != f for b in range(nb // f)):
        raise RuntimeError(f"{q['name']}: a backlog batch does not hold {f} files")
    rows, catchup_s = 0, float("nan")
    if nb // f >= wb + cb:
        rows = sum(file_rows(w, n) for b in range(wb, wb + cb) for n in per_batch[b])
        # from the sink return of the last warm-up batch to that of the
        # last catch-up batch: every catch-up batch's whole cycle, stalls
        # included
        catchup_s = ends[wb + cb - 1] - ends[wb - 1]

    files = (res["gen_log"] or {}).get("files", [])
    latencies, failed = [], 0
    for lf in files:
        end = ends.get(fb.get(lf["name"]))
        if end is None or (end - lf["due"]) * 1000 > p["latency_limit_ms"]:
            failed += 1
        if end is not None:
            latencies.append((end - lf["due"]) * 1000)
    if q["live"]:
        failed += gen.live_file_count(w, seconds) - len(files)

    # correctness gate, outside every timed region
    consumed = pq.read_table(q["spool"]).to_pandas()
    if w == "cdc_upsert":
        mismatches = reference.multiset_mismatches(reference.sqlite_rows(q["sqlite"]),
                                                   reference.changelog_expected(consumed))
    else:
        mismatches = reference.multiset_mismatches(reference.join_output_rows(q["out"]),
                                                   reference.join_expected(consumed))
    return {"q": q, "res": res, "rows": rows, "rps": rows / catchup_s if rows else 0.0,
            "catchup_s": catchup_s,
            "latencies": latencies, "failed": failed,
            "attempted": nb + len(files) if q["live"] else nb, "mismatches": mismatches,
            "per_batch": per_batch, "ends": ends,
            "lags": [(lf["renamed"] - lf["due"]) * 1000 for lf in files]}


def query_layers(runs: dict, slots: int) -> dict[str, float]:
    """Per-layer metrics of the traced streaming pipeline: `traced` the
    traced query, `untraced` an untraced catch-up after it, `single_core`
    the single-core catch-up. The small batches after the catch-up (the
    live batches of cdc_upsert, the tail batches of the enrich_join
    replay) give the fixed cost per micro-batch."""
    t, u, s = runs["traced"], runs["untraced"], runs["single_core"]
    w = t["q"]["pipeline"]
    p = STREAMING[w]
    res = t["res"]
    progress = {pr["batchId"]: pr for pr in res["progress"]}
    rows = {b: sum(file_rows(w, n) for n in names) for b, names in t["per_batch"].items()}
    wb, cb = p["warmup_batches"], p["catchup_batches"]
    catchup = [b for b in range(wb, wb + cb) if b in progress]
    small = sorted({b for b in t["per_batch"] if b >= wb + cb and b in progress})

    def dur(batches, key):
        return [progress[b]["durationMs"].get(key, 0) for b in batches]

    def state(b, key):
        return sum(op.get(key, 0) for op in progress[b].get("stateOperators", []))

    d_rows = median(rows[b] for b in catchup) - median(rows[b] for b in small)
    d_ms = median(dur(catchup, "triggerExecution")) - median(dur(small, "triggerExecution"))
    last = max(progress)
    qn, kind = ("streaming.core", "live") if w == "cdc_upsert" else ("streaming.stateful", "tail")
    m = {
        f"{qn}.batch_ms_{kind}_p50": median(dur(small, "triggerExecution")),
        f"{qn}.us_per_row_catchup": 1000 * d_ms / d_rows,
        f"{qn}.trigger_ms_p95": pct(dur(small, "triggerExecution"), 95),
        f"{qn}.planning_ms": median(dur(small, "queryPlanning")),
        f"{qn}.wal_commit_ms": median(dur(small, "walCommit")),
        f"{qn}.commit_offsets_ms": median(dur(small, "commitOffsets")),
        f"{qn}.add_batch_ms": median(dur(small, "addBatch")),
        f"{qn}.jobs_per_batch": res["jobs"] / len(progress),
        f"{qn}.state_rows_total": float(state(last, "numRowsTotal")),
        f"{qn}.state_memory_bytes": float(state(last, "memoryUsedBytes")),
        f"{qn}.state_commit_ms": median(state(b, "commitTimeMs") for b in catchup),
        f"{qn}.state_update_ms": median(state(b, "allUpdatesTimeMs") for b in catchup),
        f"{qn}.catchup_rps_1core": s["rps"],
        f"{qn}.parallel_efficiency": u["rps"] / (slots * s["rps"]),
    }
    if w == "cdc_upsert":
        fb = res["file_batches"]
        read_lag = [(progress_start(progress[fb[lf["name"]]]) - lf["renamed"]) * 1000
                    for lf in res["gen_log"]["files"] if fb.get(lf["name"]) in progress]
        log = read_log(t["q"]["dbapi_log"])
        sink_ms = [(end - start) * 1000 for b, start, end in res["calls"] if b >= wb]
        rows_in = sum(state(b, "numRowsUpdated") for b in progress)
        up = sum(c["rows"] for c in log if c["kind"] == "upsert")
        dl = sum(c["rows"] for c in log if c["kind"] == "delete")
        calls = [c for c in log if c["kind"] != "connect"]
        m.update({
            "sources.files.latest_offset_ms": median(dur(small, "latestOffset")),
            "sources.files.get_batch_ms": median(dur(small, "getBatch")),
            "sources.files.files_per_batch": median(len(t["per_batch"][b]) for b in small),
            "sources.files.rows_per_batch": median(rows[b] for b in small),
            "sources.files.read_lag_ms": median(read_lag),
            "generator.lag_ms_p95": pct(t["lags"], 95),
            "sinks.jdbc.write_ms_p50": pct(sink_ms, 50),
            "sinks.jdbc.write_ms_p95": pct(sink_ms, 95),
            "sinks.jdbc.rows_in": float(rows_in),
            "sinks.jdbc.rows_upserted": float(up),
            "sinks.jdbc.rows_deleted": float(dl),
            "sinks.jdbc.write_ratio": (up + dl) / rows_in,
            "sinks.jdbc.connections": sum(c["kind"] == "connect" for c in log) / len(progress),
            "sinks.jdbc.dbapi_calls": len(calls) / len(progress),
            "sinks.jdbc.dbapi_ms": sum((c["end"] - c["start"]) * 1000 for c in calls)
            / len(progress),
        })
    return m


def session_layers(res: dict) -> dict[str, float]:
    t = res["phases"][0]["setup"]
    return {"session.import_s": t["imported"] - t["start"],
            "session.get_spark_s": t["spark"] - t["imported"],
            "session.first_job_s": t["ready"] - t["spark"]}


# --------------------------------------------------------------------------
# backfill passes
# --------------------------------------------------------------------------


def pass_s(timings: dict) -> float:
    return max(t2 for _, _, t2 in timings.values()) - min(t0 for t0, _, _ in timings.values())


def score_backfill(workload: str, data_dir: str, ph: dict) -> dict:
    """Check every backfill answer against DuckDB (outside every timed
    region) and time the passes."""
    import __spark_entry__ as entry

    sqls = {**reference.BACKFILL_SQL, "curate_documents": entry.oracle_sql()["curate_docs"]}
    expected = reference.backfill_digests(data_dir, sqls)
    bad = sorted(n for n in BACKFILL_QUERIES if ph["digests"].get(n) != expected[n])
    tables = {t: pq.read_metadata(os.path.join(data_dir, f"{t}.parquet")).num_rows
              for t in ("history", "documents")}
    runs_per_query = (BATCH[workload]["warmup_passes"] + len(ph["passes"])
                      + len(ph["traced_passes"]))
    return {"bad": bad, "tables": tables,
            "pass_rows": sum(tables["documents" if layer == "functions" else "history"]
                             for layer in BACKFILL_QUERIES.values()),
            "steady": [pass_s(t) for t in ph["passes"]],
            "traced": [pass_s(t) for t in ph["traced_passes"]],
            "attempted": len(BACKFILL_QUERIES) * runs_per_query}


def backfill_layers(b: dict, ph: dict) -> dict[str, float]:
    traced = ph["traced_passes"]
    m = {f"{layer}.{n}_s": median(t[n][2] - t[n][0] for t in traced)
         for n, layer in BACKFILL_QUERIES.items()}
    m.update({
        "plans.topology.build_ms": median(
            1000 * sum(t1 - t0 for t0, t1, _ in t.values()) for t in traced),
        "functions.docs_in": float(b["tables"]["documents"]),
        "functions.docs_kept": float(ph["out_rows"]["curate_documents"]),
    })
    return m


# --------------------------------------------------------------------------
# a run
# --------------------------------------------------------------------------


def plan_phases(args, spec: dict, tmp: str) -> list[dict]:
    """The program's phases: each is a Spark context (the first with
    `slots` task slots, a traced run's last with one) running, in order,
    the backfill gate pass if it has one, its streaming queries, and the
    timed backfill passes."""
    slots = spec["cpus"]
    if args.workload in STREAMING:
        p = STREAMING[args.workload]

        def q(name, live=False, traced=False, batches=None):
            return make_query(spec, tmp, args.workload, name, live, traced, batches)
        if not args.trace:
            return [{"cpus": slots, "queries": [q("main", live=True)]}]
        # the warm-up query only warms the JVM up: without it the traced
        # query ran 19% faster than an untraced one after it
        return [{"cpus": slots, "queries": [q("warm_up", batches=p["warmup_batches"]),
                                            q("traced", live=True, traced=True),
                                            q("untraced")]},
                {"cpus": 1, "queries": [q("single_core")]}]

    os.makedirs(spec["data_dir"])
    gen.write_backfill(args.workload, args.seed, spec["data_dir"], os.path.join(tmp, "tmp"))
    replay = BATCH[args.workload]["replay"]
    p = STREAMING[replay]
    # only the traced replay reads the small tail batches
    catchup = p["warmup_batches"] + p["catchup_batches"]

    def r(name, traced=False):
        return make_query(spec, tmp, replay, name, False, traced, None if traced else catchup)
    if not args.trace:
        return [{"cpus": slots, "backfill": True, "queries": [r("main")]}]
    return [{"cpus": slots, "backfill": True, "queries": [r("traced", True), r("untraced")]},
            {"cpus": 1, "queries": [r("single_core")]}]


def spark_layers(parts: list[dict], records: int) -> dict[str, float]:
    """Stage totals and program CPU time summed over the traced parts
    (queries or backfill passes)."""
    stages: dict[str, float] = {}
    for part in parts:
        for k, v in part["stages"].items():
            stages[k] = stages.get(k, 0.0) + v
    cpu_ms = sum(part["cpu_ms"] for part in parts)
    return {**stages, "process.cpu_ms_per_krec": cpu_ms / (records / 1000)}


def run(args, spec: dict, tmp: str) -> tuple[dict, dict, dict, dict]:
    spec["phases"] = plan_phases(args, spec, tmp)
    res, setup_s, rss = run_program(spec, tmp)
    runs = {q["name"]: score_query(args.seconds, q, r)
            for ph, rph in zip(spec["phases"], res["phases"])
            for q, r in zip(ph["queries"], rph["queries"])}
    out = {"correct": all(r["mismatches"] == 0 for r in runs.values()),
           "attempted": sum(r["attempted"] for r in runs.values()),
           "failed": sum(r["failed"] for r in runs.values())}
    ph = res["phases"][0]
    ready = ph["setup"]["ready"]
    detail = {n: {"catchup_rps": r["rps"], "catchup_s": r["catchup_s"],
                  "live_files": len(r["latencies"]), "mismatches": r["mismatches"],
                  "batch_s": [round(end - ready, 2) for _, _, end in r["res"]["calls"]],
                  "marks": {k: round(v - ready, 2) for k, v in r["res"]["marks"].items()}}
              for n, r in runs.items()}
    detail["rss"] = res["rss"]
    b = None
    if args.workload in BATCH:
        b = score_backfill(args.workload, spec["data_dir"], ph)
        out["correct"] = out["correct"] and not b["bad"]
        out["attempted"] += b["attempted"]
        detail.update(bad_queries=b["bad"], out_rows=ph["out_rows"], pass_s=b["steady"],
                      traced_pass_s=b["traced"],
                      query_s={n: [round(t[n][2] - t[n][0], 3) for t in ph["passes"]]
                               for n in BACKFILL_QUERIES},
                      backfill_marks={k: round(v - ready, 2)
                                      for k, v in {**ph["marks"], **ph["steady_marks"]}.items()})

    if args.trace:
        t, u = runs["traced"], runs["untraced"]
        metrics = query_layers(runs, spec["cpus"])
        metrics.update(session_layers(res))
        traced_rows = sum(sum(file_rows(t["q"]["pipeline"], n) for n in names)
                          for names in t["per_batch"].values())
        untraced_s, traced_s = u["catchup_s"], t["catchup_s"]
        parts = [t["res"]]
        if b:
            metrics.update(backfill_layers(b, ph))
            untraced_s += sum(b["steady"])
            traced_s += sum(b["traced"])
            traced_rows += b["pass_rows"] * len(b["traced"])
            parts.append(ph)
        metrics.update(spark_layers(parts, traced_rows))
        # untraced and traced time over the same work
        metrics["trace.overhead_pct"] = 100 * (1 - untraced_s / traced_s)
        metrics["trace.spans"] = float(res["spans"])
    else:
        main = runs["main"]
        metrics = {"setup_s": setup_s, "peak_rss_mb": rss}
        if b:
            # replayed rows over the time they took, for a fixed mix of
            # mix_passes steady passes (at their mean time) and the join
            # replay's catch-up, so the weight of each part does not
            # change with the number of passes that fit in --seconds;
            # latency is a steady pass's time
            k = BATCH[args.workload]["mix_passes"]
            metrics["throughput_rps"] = ((k * b["pass_rows"] + main["rows"])
                                         / (k * statistics.mean(b["steady"])
                                            + main["catchup_s"]))
            latencies = [1000 * s for s in b["steady"]]
        else:
            metrics["throughput_rps"] = main["rps"]
            latencies = main["latencies"]
        metrics["latency_p50_ms"] = pct(latencies, 50)
        metrics["latency_p95_ms"] = pct(latencies, 95)
    return out, metrics, detail, res["walls"]


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the `end_to_end` or `per_layer` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_begin = time.time()
    missing = [f for f in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"program files {missing} not found under {ROOT}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    slots = max(1, nproc // 2)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    tmp = os.path.join(ROOT, WORK_DIR, "tmp", f"{run_id}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(tmp, sub))
    os.makedirs(os.path.join(ROOT, WORK_DIR, "out"), exist_ok=True)
    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "program": program_identity(), "nproc": nproc,
            "spark_task_slots": slots, "driver_heap": DRIVER_MEM, "jvm_opts": JVM_OPTS,
            "loadavg_1m_start": os.getloadavg()[0], "steal_pct_start": steal_pct(),
            "cpu_probe_ms_start": cpu_probe_ms()}
    spec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "cpus": slots, "root": ROOT,
            "result": os.path.join(tmp, "result.json"),
            "data_dir": os.path.join(tmp, "data"),
            "trace_out": os.path.join(ROOT, WORK_DIR, "out", f"{run_id}-spans.json")}
    try:
        out, metrics, detail, walls = run(args, spec, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    units = metric_units("per_layer" if args.trace else "end_to_end")
    if args.trace:
        metrics = {**{k: 0.0 for k in units}, **metrics}
    unknown = set(metrics) - set(units)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    if not out["correct"]:
        out["failed"] = out["attempted"]
    out["metrics"] = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    info.update(loadavg_1m_end=os.getloadavg()[0], steal_pct_end=steal_pct(),
                cpu_probe_ms_end=cpu_probe_ms(),
                program_spawn_s=walls["spawn"] - t_begin, program_exit_s=walls["exited"] - t_begin,
                wall_s=time.time() - t_begin)
    with open(os.path.join(ROOT, WORK_DIR, "out", f"{run_id}.json"), "w") as f:
        json.dump({"info": info, "detail": detail, "result": out}, f, indent=1)
    print(json.dumps({"info": info}))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
