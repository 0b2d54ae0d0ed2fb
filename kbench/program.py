"""The process that hosts the program under test.

It starts Spark through `kspp_spark.session.get_spark`, runs one
workload through the package's public functions, and writes what it
observed to a JSON file. The benchmark process (`run.py`) made the
inputs, starts this process, samples its memory and checks the answers.

    python3 -m kbench.program SPEC.json
"""

from __future__ import annotations

import time

T_START = time.time()

import functools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402


def setup(cpus: int, ui: bool, t0: float) -> tuple:
    """Start a Spark context with `cpus` task slots. The first call of
    the process also starts the JVM; a later one reuses it."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from kspp_spark.session import get_spark

    imported = time.time()
    spark = get_spark("kbench", metrics_prometheus=ui)
    started = time.time()
    spark.range(1000).selectExpr("sum(id)").collect()
    ready = time.time()
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    return spark, {"start": t0, "imported": imported, "spark": started, "ready": ready}


# --------------------------------------------------------------------------
# streaming
# --------------------------------------------------------------------------


def _timed(sink, calls: list):
    """foreachBatch wrapper recording when each call started and returned;
    a live event's latency ends when the call of its batch returns."""
    def call(batch, batch_id):
        start = time.time()
        sink(batch, batch_id)
        calls.append((batch_id, start, time.time()))
    return call


def _cdc_writer(spark, q: dict, p: dict, traced: bool, calls: list):
    """Changelog -> ktable_stream (JVM state) -> DBAPI upsert into sqlite."""
    import sqlite3

    from pyspark.sql import functions as F

    from kbench.gen import STREAM_DDL
    from kspp_spark.sinks.jdbc import dbapi_upsert_sink
    from kspp_spark.sources.files import stream_files
    from kspp_spark.streaming.core import ktable_stream

    src = stream_files(spark, q["spool"], STREAM_DDL, "parquet",
                       max_files_per_trigger=p["files_per_trigger"])
    # seq after event_time in the LWW struct breaks event-time ties.
    # event_time is bound as epoch ms: the sqlite3 module inside a Python
    # worker cannot bind a TimestampType value.
    out = ktable_stream(src, "key", ["seq", "value"], "event_time").select(
        "key", "value", "seq", F.unix_millis("event_time").alias("event_time"))
    if traced:
        from kbench.tracing import CountingConnect

        connect = CountingConnect(q["sqlite"], q["dbapi_log"])
    else:
        connect = functools.partial(sqlite3.connect, q["sqlite"], timeout=60)
    sink = dbapi_upsert_sink(connect, out.schema, "kv", ["key"], ["value", "seq"],
                             "event_time", dialect="sqlite")
    return out.writeStream.outputMode("update").foreachBatch(_timed(sink, calls))


def _join_writer(spark, q: dict, p: dict, traced: bool, calls: list):
    """Events (S) joined with the dimension changelog (D) in Python group
    state; every micro-batch's output goes to its own parquet directory."""
    from pyspark.sql import functions as F

    from kbench.gen import STREAM_DDL
    from kspp_spark.sources.files import stream_files
    from kspp_spark.streaming.stateful import stream_table_join_stream

    src = stream_files(spark, q["spool"], STREAM_DDL, "parquet",
                       max_files_per_trigger=p["files_per_trigger"])
    cols = ["key", "value", "event_time", "seq"]
    out = stream_table_join_stream(src.filter(F.col("side") == "S").select(*cols),
                                   src.filter(F.col("side") == "D").select(*cols), how="left")

    def sink(batch, batch_id):
        batch.write.mode("overwrite").parquet(os.path.join(q["out"], f"b{batch_id:06d}"))

    return out.writeStream.outputMode("append").foreachBatch(_timed(sink, calls))


def file_batches(ckpt: str) -> dict[str, int]:
    """File name -> batch id from the file source's metadata log (plain
    and compacted entries alike)."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _run_generator(spec: dict, q: dict) -> dict:
    """The open-loop generator runs as its own process for --seconds."""
    log = os.path.join(q["dir"], "gen.json")
    gen = subprocess.Popen(
        [sys.executable, "-m", "kbench.gen", "--workload", q["pipeline"],
         "--seed", str(spec["seed"]), "--seconds", str(spec["seconds"]),
         "--spool", q["spool"], "--tmp", q["spool_tmp"], "--log", log],
        cwd=spec["root"], env=dict(os.environ, PYTHONPATH=spec["root"]),
    )
    try:
        gen.wait(timeout=spec["seconds"] + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    with open(log) as f:
        return json.load(f)


def run_stream_query(spark, spec: dict, q: dict, tracer) -> dict:
    """Drain the backlog (closed loop), then, for a live query, let the
    generator add files for --seconds (open loop) and drain them too."""
    from kbench.workloads import STREAMING

    p = STREAMING[q["pipeline"]]
    traced = tracer is not None
    events: list[dict] = []
    if traced:
        from kbench.tracing import progress_listener, stage_totals, tree_cpu_ms

        listener = progress_listener(events)
        spark.streams.addListener(listener)
        stages0, cpu0 = stage_totals(spark), tree_cpu_ms(os.getpid())
    calls: list = []
    build = _cdc_writer if q["pipeline"] == "cdc_upsert" else _join_writer
    t_build = time.time()
    query = (build(spark, q, p, traced, calls)
             .option("checkpointLocation", q["ckpt"]).queryName(q["name"]).start())
    t_start = time.time()
    query.processAllAvailable()
    t_caught = time.time()
    gen_log = None
    if q["live"]:
        gen_log = _run_generator(spec, q)
        query.processAllAvailable()
    query.stop()
    t_stop = time.time()
    out = {"calls": calls, "file_batches": file_batches(q["ckpt"]), "gen_log": gen_log,
           "marks": {"build": t_build, "start": t_start, "caught_up": t_caught, "stop": t_stop}}
    if traced:
        from kbench.tracing import jobs_in_group

        # listener events arrive asynchronously: wait for the last ones
        expected = len(query.recentProgress)
        deadline = time.time() + 10
        while len(events) < expected and time.time() < deadline:
            time.sleep(0.05)
        spark.streams.removeListener(listener)
        stages1 = stage_totals(spark)
        out.update(
            progress=list(events),
            stages={k: v - stages0[k] for k, v in stages1.items()},
            cpu_ms=tree_cpu_ms(os.getpid()) - cpu0,
            jobs=jobs_in_group(spark, str(query.runId)),
        )
        _stream_spans(tracer, q["name"], out, calls)
    return out


def _stream_spans(tracer, name: str, out: dict, calls: list) -> None:
    m = out["marks"]
    root = tracer.add(f"streaming.query.{name}", m["build"], m["stop"])
    tracer.add("streaming.start", m["build"], m["start"], root)
    add_batch = {}
    for pr in out["progress"]:
        ids = tracer.add_trigger(pr, root)
        add_batch[pr["batchId"]] = ids.get("addBatch", ids["batch"])
    for batch_id, start, end in calls:
        tracer.add("sink.foreach_batch", start, end, add_batch.get(batch_id, root),
                   batch_id=batch_id)
    for f in (out["gen_log"] or {}).get("files", []):
        tracer.add("generator.file", f["due"], f["renamed"], root)


# --------------------------------------------------------------------------
# batch
# --------------------------------------------------------------------------


def backfill_queries(spark, data_dir: str) -> dict:
    """Name -> zero-argument function that builds the query's DataFrame."""
    from pyspark.sql import functions as F

    from kbench.workloads import WINDOW
    from kspp_spark.functions.pipeline import curate_documents
    from kspp_spark.operators.joins import changelog_stream_table_join
    from kspp_spark.plans.topology import Topology
    from kspp_spark.sources.files import read_parquet

    history = os.path.join(data_dir, "history.parquet")
    documents = os.path.join(data_dir, "documents.parquet")
    cols = ["key", "value", "event_time", "seq"]

    def ktable():
        t = Topology(spark).source(read_parquet(spark, history))
        return t.filter(F.col("side") == "C").ktable("key", ["value"], seq="seq").df

    def changelog_join():
        h = read_parquet(spark, history)
        return changelog_stream_table_join(h.filter(F.col("side") == "S").select(*cols),
                                           h.filter(F.col("side") == "D").select(*cols))

    def windowed_count():
        t = Topology(spark).source(read_parquet(spark, history))
        return t.windowed_count("event_time", WINDOW, key="side").df

    def curate():
        return curate_documents(read_parquet(spark, documents))

    return {"ktable": ktable, "changelog_join": changelog_join,
            "windowed_count": windowed_count, "curate_documents": curate}


def _pass(queries: dict, tracer) -> dict:
    """One pass: every query's plan build, then its action into the noop
    sink. Returns name -> (start, built, done)."""
    from kspp_spark.sinks.writers import null_sink

    timings = {}
    start = time.time()
    for name, build in queries.items():
        t0 = time.time()
        df = build()
        t1 = time.time()
        null_sink(df)
        timings[name] = (t0, t1, time.time())
    if tracer:
        root = tracer.add("backfill.pass", start, time.time())
        for name, (t0, t1, t2) in timings.items():
            qs = tracer.add(f"backfill.query.{name}", t0, t2, root)
            tracer.add("plans.build", t0, t1, qs)
            tracer.add("backfill.action", t1, t2, qs)
    return timings


def _steady(spark, queries: dict, spec: dict, tracer) -> dict:
    """Whole passes until --seconds have passed and at least the minimum
    number ran. With a tracer every pass is followed by a traced one:
    later passes of a process run slower, so alternating keeps that drift
    out of the tracing overhead. Stage totals and CPU time are summed
    over the traced passes only."""
    from kbench.workloads import BATCH

    least = BATCH[spec["workload"]]["min_steady_passes"]
    out = {"passes": [], "traced_passes": []}
    if tracer:
        from kbench.tracing import stage_totals, tree_cpu_ms

        out["stages"], out["cpu_ms"] = {}, 0.0
    t0 = time.time()
    while len(out["passes"]) < least or time.time() - t0 < spec["seconds"]:
        out["passes"].append(_pass(queries, None))
        if tracer:
            stages0, cpu0 = stage_totals(spark), tree_cpu_ms(os.getpid())
            out["traced_passes"].append(_pass(queries, tracer))
            cpu1 = tree_cpu_ms(os.getpid())
            for k, v in stage_totals(spark).items():
                out["stages"][k] = out["stages"].get(k, 0.0) + v - stages0[k]
            out["cpu_ms"] += cpu1 - cpu0
    return out


def check_backfill(spark, spec: dict) -> dict:
    """The first pass collects every answer for the correctness gate. It
    is not timed."""
    from kbench.reference import canon_digest

    queries = backfill_queries(spark, spec["data_dir"])
    marks = {"start": time.time()}
    digests, out_rows = {}, {}
    for name, build in queries.items():
        pdf = build().toPandas()
        digests[name] = canon_digest(pdf)
        out_rows[name] = len(pdf)
    marks["checked"] = time.time()
    return {"digests": digests, "out_rows": out_rows, "marks": marks}


def steady_backfill(spark, spec: dict, tracer) -> dict:
    """warmup_passes - 1 untimed passes into the noop sink, then the
    steady passes."""
    from kbench.workloads import BATCH

    queries = backfill_queries(spark, spec["data_dir"])
    t0 = time.time()
    for _ in range(BATCH[spec["workload"]]["warmup_passes"] - 1):
        _pass(queries, None)
    t1 = time.time()
    out = _steady(spark, queries, spec, tracer)
    out["steady_marks"] = {"warm_start": t0, "steady_start": t1, "steady_end": time.time()}
    return out


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------


def main() -> None:
    """Run the spec's phases in order. A phase is one Spark context (the
    first one of the process pays the JVM start). A backfill phase checks
    and warms its batch queries, replays its streaming queries one after
    another, then times the batch passes: the replay warms the JVM up
    for them."""
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    tracer = None
    if spec["trace"]:
        from kbench.tracing import Tracer

        tracer = Tracer()
    results, t0 = [], T_START
    for phase in spec["phases"]:
        spark, timing = setup(phase["cpus"], spec["trace"], t0)
        if tracer:
            root = tracer.add("session.setup", t0, timing["ready"])
            tracer.add("session.import", t0, timing["imported"], root)
            tracer.add("session.get_spark", timing["imported"], timing["spark"], root)
            tracer.add("session.first_job", timing["spark"], timing["ready"], root)
        res = {"setup": timing}
        if phase.get("backfill"):
            res.update(check_backfill(spark, spec))
        res["queries"] = [run_stream_query(spark, spec, q, tracer if q["traced"] else None)
                          for q in phase["queries"]]
        if phase.get("backfill"):
            res.update(steady_backfill(spark, spec, tracer))
        results.append(res)
        if len(results) < len(spec["phases"]):
            spark.stop()
        t0 = time.time()
    if tracer:
        tracer.dump(spec["trace_out"])
    with open(spec["result"] + ".part", "w") as f:
        json.dump({"phases": results, "spans": len(tracer.spans) if tracer else 0}, f)
    os.rename(spec["result"] + ".part", spec["result"])
    # Every query has stopped and its output is written; the benchmark
    # process stops the JVM and the Python workers with the whole group.
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
