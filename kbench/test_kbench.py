"""Tests of the benchmark's own parts: seeded inputs, the references and
the correctness gate. They start no Spark session:

    python3 -m pytest kbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kbench import gen, reference
from kbench.tracing import descendants, proc_stats
from kbench.workloads import BATCH, STREAMING

BACKFILL = next(iter(BATCH))
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _stream_bytes(workload: str, seed: int, tmp_path, tag: str) -> dict[str, bytes]:
    spool, tmp = tmp_path / f"{tag}-spool", tmp_path / f"{tag}-tmp"
    spool.mkdir()
    tmp.mkdir()
    gen.write_backlog(workload, seed, str(spool), str(tmp))
    assert not os.listdir(tmp), "every file is renamed out of the temporary directory"
    if "live_files_per_s" in STREAMING[workload]:
        live = gen.backlog_files(workload)
        gen.write_atomic(gen.stream_file(workload, seed, live), str(spool / "live.parquet"),
                         str(tmp))
    return {n: (spool / n).read_bytes() for n in sorted(os.listdir(spool))}


def _backfill_bytes(seed: int, tmp_path, tag: str) -> dict[str, bytes]:
    out, tmp = tmp_path / f"{tag}-data", tmp_path / f"{tag}-tmp"
    out.mkdir()
    tmp.mkdir()
    gen.write_backfill(BACKFILL, seed, str(out), str(tmp))
    return {n: (out / n).read_bytes() for n in sorted(os.listdir(out))}


@pytest.mark.parametrize("workload", [*STREAMING, BACKFILL])
def test_same_seed_gives_identical_bytes(workload, tmp_path):
    if workload in STREAMING:
        def make(seed, tag):
            return _stream_bytes(workload, seed, tmp_path, tag)
    else:
        def make(seed, tag):
            return _backfill_bytes(seed, tmp_path, tag)
    a, b, c = make(7, "a"), make(7, "b"), make(8, "c")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


@pytest.mark.parametrize("workload", list(STREAMING))
def test_backlog_layout(workload, tmp_path):
    """Modification times follow file order, so the file source drains the
    backlog in order; every catch-up batch has the same size, and so has
    every tail batch."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    rows = gen.write_backlog(workload, 1, str(tmp_path), str(tmp))
    p = STREAMING[workload]
    paths = sorted(tmp_path.glob("b-*.parquet"))
    f = p["files_per_trigger"]
    big = (p["warmup_batches"] + p["catchup_batches"]) * f
    assert len(paths) == big + p["tail_batches"] * f
    assert rows == big * p["backlog_file_rows"] + (len(paths) - big) * p["live_file_rows"]
    assert [pq.read_metadata(q).num_rows for q in paths] == [
        gen.file_rows(workload, i) for i in range(len(paths))]
    mtimes = [q.stat().st_mtime for q in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    seqs = pd.concat([pq.read_table(q).to_pandas() for q in paths])["seq"].sort_values()
    assert (seqs.to_numpy() == range(rows)).all(), "seq runs over every file without gaps"
    if "live_files_per_s" in p:
        live = gen.stream_file(workload, 1, len(paths)).to_pandas()
        assert len(live) == p["live_file_rows"] and (live["created_ms"] == 0).all()
    sides = {"C"} if workload == "cdc_upsert" else {"S", "D"}
    assert set(pd.concat([pq.read_table(q).to_pandas() for q in paths])["side"]) == sides


# --------------------------------------------------------------------------
# the references agree with hand-worked examples, and the gate fails on a
# corrupted answer
# --------------------------------------------------------------------------


def _events(rows):
    return pd.DataFrame(rows, columns=["side", "key", "value", "event_time", "seq"]).assign(
        event_time=lambda d: pd.to_datetime(d["event_time"], unit="ms", utc=True))


def test_changelog_reference_is_last_write_wins():
    ev = _events([
        ("C", "a", "1", 10, 0), ("C", "a", "2", 10, 1),   # tie on time: seq decides
        ("C", "b", "x", 20, 2), ("C", "b", None, 30, 3),  # tombstone deletes b
        ("C", "c", "new", 40, 5), ("C", "c", "late", 5, 4),
    ])
    exp = reference.changelog_expected(ev)
    assert sorted(exp) == [("a", "2", 1, 10), ("c", "new", 5, 40)]
    assert reference.multiset_mismatches(list(exp), exp) == 0
    assert reference.multiset_mismatches([("a", "1", 0, 10), ("c", "new", 5, 40)], exp) == 2
    assert reference.multiset_mismatches(exp[:1], exp) == 1


def test_join_reference_replays_stream_table_join():
    ev = _events([
        ("S", "a", "s0", 5, 0),     # before any table row: right is null
        ("D", "a", "t1", 10, 2),
        ("S", "a", "s1", 10, 1),    # same time as the table row: table first
        ("D", "a", None, 20, 3),    # tombstone clears the state
        ("S", "a", "s2", 30, 4),
        ("S", "a", None, 31, 5),    # stream tombstone emits nothing
        ("S", "b", "s3", 40, 6),    # another key never sees a's table
    ])
    rows = reference.join_expected(ev)
    assert sorted(rows) == [("a", 5, "s0", None), ("a", 10, "s1", "t1"),
                            ("a", 30, "s2", None), ("b", 40, "s3", None)]
    bad = [r if r[1] != 10 else (r[0], r[1], r[2], "t0") for r in rows]
    assert reference.multiset_mismatches(bad, rows) == 2


def test_join_output_rows_reads_every_batch(tmp_path):
    for b, rows in enumerate([[("a", 5, "s0", None)], [("a", 10, "s1", "t1")], []]):
        d = tmp_path / f"b{b:06d}"
        d.mkdir()
        cols = list(zip(*rows)) if rows else [[], [], [], []]
        pq.write_table(pa.table({
            "key": pa.array(cols[0], pa.string()),
            "event_time": pa.array(cols[1], pa.timestamp("ms", tz="UTC")),
            "left": pa.array(cols[2], pa.string()), "right": pa.array(cols[3], pa.string()),
            "tombstone": pa.array([False] * len(rows))}), str(d / "part-0.parquet"))
    got = reference.join_output_rows(str(tmp_path))
    assert sorted(got, key=lambda r: r[1]) == [("a", 5, "s0", None), ("a", 10, "s1", "t1")]


def _history(tmp_path, rows) -> str:
    ev = _events(rows)
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False),
                   str(tmp_path / "history.parquet"))
    pq.write_table(pa.table({"doc_id": pa.array([0], pa.int64()), "text": ["x"]}),
                   str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_backfill_sql_matches_hand_worked_answers(tmp_path):
    minute = 60_000
    data = _history(tmp_path, [
        ("C", "a", "1", 10, 0), ("C", "a", "2", 10, 1), ("C", "b", "x", 20, 2),
        ("C", "b", None, 30, 3),
        ("D", "a", "t1", minute, 4), ("S", "a", "s1", minute, 5), ("S", "a", "s0", 5, 6),
        ("D", "a", None, minute + 1, 7), ("S", "a", "s2", minute + 2, 8),
    ])
    got = reference.backfill_digests(data, reference.BACKFILL_SQL)

    def ts(ms):
        return pd.to_datetime(ms, unit="ms")

    expected = {
        "ktable": pd.DataFrame({"key": ["a"], "value": ["2"], "event_time": ts([10])}),
        "changelog_join": pd.DataFrame({
            "key": ["a"] * 3, "event_time": ts([5, minute, minute + 2]),
            "left": ["s0", "s1", "s2"], "right": [None, "t1", None],
            "tombstone": [False] * 3}),
        "windowed_count": pd.DataFrame({
            "window_start": ts([0, 0, minute, minute]),
            "window_end": ts([minute, minute, 2 * minute, 2 * minute]),
            "side": ["C", "S", "D", "S"], "cnt": [4, 1, 2, 2]}),
    }
    for name, df in expected.items():
        assert got[name] == reference.canon_digest(df), name


def test_digest_is_order_free_and_exact():
    df = pd.DataFrame({"b": [1.5, 0.1 + 0.2, None], "a": ["x", "y", None],
                       "t": pd.to_datetime([1, 2, None], unit="s")})
    d = reference.canon_digest(df)
    assert reference.canon_digest(df.iloc[::-1][["t", "a", "b"]]) == d
    off_by_one_ulp = df.copy()
    off_by_one_ulp.loc[1, "b"] = 0.3
    assert reference.canon_digest(off_by_one_ulp) != d


def test_descendants_walks_the_process_tree():
    # fields after the command name: state, parent, ...
    stats = {1: ["S", "0"], 10: ["S", "1"], 11: ["S", "10"], 12: ["S", "11"], 20: ["S", "1"]}
    assert sorted(descendants(10, stats)) == [10, 11, 12]
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in descendants(os.getpid(), proc_stats())
    finally:
        child.kill()
        child.wait()


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the benchmark exits
    non-zero and prints no result."""
    shutil.copytree(os.path.join(ROOT, "kbench"), tmp_path / "kbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run([sys.executable, "kbench/run.py", "--workload", BACKFILL, "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=60)
    assert r.returncode != 0
    assert r.stdout == ""
