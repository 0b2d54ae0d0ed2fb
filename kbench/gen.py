"""Seeded inputs, and the open-loop live generator.

Every file is a pure function of (seed, workload, file index), so the
benchmark process and the live generator process build identical bytes
independently. Files are written under a temporary name and renamed
into place, so a reader never sees a partial file.

Run as a program it is the open-loop live generator: it writes file j
of the live phase at start + j / rate whatever the program under test
does, and logs when each file was due and when it appeared:

    python3 -m kbench.gen --workload cdc_upsert --seed 1 --seconds 8 \\
        --spool SPOOL --tmp TMP --log LOG.json
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from kbench.workloads import BATCH, INPUT_STREAMS, STREAMING

# 2025-01-01T00:00:00Z: event-time origin of every changelog.
T0_MS = 1_735_689_600_000
# Event times of streaming file i fall in [i, i + 1) seconds after T0,
# so each key's events are time-ordered across files.
FILE_SPAN_MS = 1_000
# The backfill history spans two hours of event time.
HISTORY_SPAN_MS = 2 * 3_600_000

STREAM_DDL = (
    "side string, key string, value string, event_time timestamp, seq long, created_ms long"
)


def _rng(seed: int, workload: str, *parts: int) -> np.random.Generator:
    return np.random.default_rng([seed, INPUT_STREAMS.index(workload), *parts])


def _prefixed(prefix: str, ids: np.ndarray, width: int) -> pa.Array:
    digits = pc.utf8_lpad(pa.array(ids).cast(pa.string()), width, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


def write_atomic(table: pa.Table, path: str, tmp_dir: str) -> None:
    tmp = os.path.join(tmp_dir, os.path.basename(path))
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, path)


def _changelog(rng: np.random.Generator, n: int, sides: np.ndarray, keys: int, zipf_a: float,
               tombstone_share: float, seq0: int, et: np.ndarray) -> dict[str, pa.Array]:
    """Rows of the canonical changelog shape. C (upserts) and S (stream
    events) keys are Zipf-skewed, D (dimension) keys uniform; a NULL
    value is a tombstone: it deletes on C and D, and on S it is a stream
    tombstone that a join drops."""
    zipf = (rng.zipf(zipf_a, n) - 1) % keys
    key_ids = np.where(sides == "D", rng.integers(0, keys, n), zipf)
    tomb = rng.random(n) < np.where(sides == "S", 0.01, tombstone_share)
    values = _prefixed("v", rng.integers(0, 1 << 30, n), 10)
    return {
        "side": pa.array(sides),
        "key": _prefixed("k", key_ids, 7),
        "value": pc.if_else(pa.array(tomb), pa.scalar(None, pa.string()), values),
        "event_time": pa.array(et, pa.timestamp("ms", tz="UTC")),
        "seq": pa.array(np.arange(seq0, seq0 + n, dtype=np.int64)),
    }


# --------------------------------------------------------------------------
# streaming spool
# --------------------------------------------------------------------------


def catchup_files(workload: str) -> int:
    """Backlog files of backlog_file_rows rows: warm-up and catch-up."""
    s = STREAMING[workload]
    return (s["warmup_batches"] + s["catchup_batches"]) * s["files_per_trigger"]


def backlog_files(workload: str) -> int:
    """Every file in the spool before the query starts, the small tail
    batches included."""
    s = STREAMING[workload]
    return catchup_files(workload) + s["tail_batches"] * s["files_per_trigger"]


def live_file_count(workload: str, seconds: float) -> int:
    return int(round(STREAMING[workload]["live_files_per_s"] * seconds))


def file_rows(workload: str, i: int) -> int:
    """Rows of file i: catch-up backlog files are large, tail and live
    files small."""
    s = STREAMING[workload]
    return s["backlog_file_rows"] if i < catchup_files(workload) else s["live_file_rows"]


def _file_layout(workload: str, i: int) -> tuple[int, int, int]:
    """(rows, first seq, created_ms) of file i: backlog files first, then
    live files. created_ms is the due time on the schedule clock, in ms
    from the start of the live phase (negative for the backlog)."""
    spec = STREAMING[workload]
    nc, nb = catchup_files(workload), backlog_files(workload)
    rb, rl = spec["backlog_file_rows"], spec["live_file_rows"]
    seq0 = i * rb if i < nc else nc * rb + (i - nc) * rl
    if i < nb:
        return file_rows(workload, i), seq0, (i - nb) * FILE_SPAN_MS
    return rl, seq0, int(round((i - nb) * 1000 / spec["live_files_per_s"]))


def stream_file(workload: str, seed: int, i: int) -> pa.Table:
    spec = STREAMING[workload]
    rng = _rng(seed, workload, i)
    n, seq0, created = _file_layout(workload, i)
    sides = np.where(rng.random(n) < spec["dim_share"], "D",
                     "S" if spec["dim_share"] else "C")
    et = T0_MS + i * FILE_SPAN_MS + rng.integers(0, FILE_SPAN_MS, n)
    cols = _changelog(rng, n, sides, spec["keys"], spec["zipf_a"], spec["tombstone_share"],
                      seq0, et)
    cols["created_ms"] = pa.array(np.full(n, created, dtype=np.int64))
    return pa.table(cols).take(pa.array(rng.permutation(n)))


def stream_file_name(workload: str, i: int) -> str:
    kind = "b" if i < backlog_files(workload) else "l"
    return f"{kind}-{i:06d}.parquet"


def write_backlog(workload: str, seed: int, spool: str, tmp_dir: str) -> int:
    """Write the backlog into `spool`, with modification times one second
    apart in file order (the file source takes the oldest files first);
    returns the rows written."""
    n = backlog_files(workload)
    base = time.time() - 2 * n
    rows = 0
    for i in range(n):
        path = os.path.join(spool, stream_file_name(workload, i))
        t = stream_file(workload, seed, i)
        write_atomic(t, path, tmp_dir)
        os.utime(path, (base + i, base + i))
        rows += t.num_rows
    return rows


def run_live(workload: str, seed: int, seconds: float, spool: str, tmp_dir: str) -> dict:
    """Open loop: the files are built before the clock starts, then file j
    is renamed into the spool at start + j / rate."""
    spec = STREAMING[workload]
    nb = backlog_files(workload)
    n = live_file_count(workload, seconds)
    tables = [stream_file(workload, seed, nb + j) for j in range(n)]
    interval = 1.0 / spec["live_files_per_s"]
    start = time.time() + 0.05
    files = []
    for j, table in enumerate(tables):
        due = start + j * interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = stream_file_name(workload, nb + j)
        write_atomic(table, os.path.join(spool, name), tmp_dir)
        files.append({"name": name, "due": due, "renamed": time.time()})
    return {"start": start, "files": files}


# --------------------------------------------------------------------------
# backfill tables
# --------------------------------------------------------------------------

WORDS = (
    "spark stream table window merge column vector value data small join filter"
    " big group hash customer sort order slow line part fast row agg key query"
    " scan batch index state"
).split()
STOPWORDS = {
    "en": ["the", "and", "of", "is", "with"],
    "de": ["der", "und", "die", "nicht", "ist"],
    "fr": ["le", "la", "les", "est", "dans"],
    "es": ["el", "los", "es", "una", "que"],
    "zh": ["数据", "表格", "查询", "窗口", "流"],
}
LANGS = list(STOPWORDS)
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def history_table(workload: str, seed: int) -> pa.Table:
    spec = BATCH[workload]
    rng = _rng(seed, workload, 0)
    n = spec["changelog_rows"]
    names, shares = zip(*spec["side_shares"].items())
    sides = np.array(names)[rng.choice(len(names), n, p=shares)]
    et = T0_MS + rng.integers(0, HISTORY_SPAN_MS, n)
    return pa.table(_changelog(rng, n, sides, spec["keys"], spec["zipf_a"],
                               spec["tombstone_share"], 0, et))


def corpus_table(workload: str, seed: int) -> pa.Table:
    """Documents in five languages (one the curation rejects), short and
    long, one- and multi-line, with a share of exact duplicates."""
    spec = BATCH[workload]
    rng = _rng(seed, workload, 1)
    n = spec["docs"]
    texts: list[str] = []
    for d in range(n):
        if d > 10 and rng.random() < spec["exact_dup_share"]:
            texts.append(texts[int(rng.integers(0, d))])
            continue
        lang = str(rng.choice(LANGS, p=LANG_P))
        ntok = int(rng.integers(10, 90))
        stop = rng.random(ntok) < 0.2
        toks = np.where(stop, rng.choice(STOPWORDS[lang], ntok), rng.choice(WORDS, ntok)).tolist()
        if rng.random() < 0.3:
            lines = [" ".join(toks[p:p + 10]) for p in range(0, len(toks), 10)]
            texts.append("\n".join(lines))
        else:
            texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
    })


def write_backfill(workload: str, seed: int, out_dir: str, tmp_dir: str) -> None:
    for name, make in (("history", history_table), ("documents", corpus_table)):
        write_atomic(make(workload, seed), os.path.join(out_dir, f"{name}.parquet"), tmp_dir)


def main() -> None:
    ap = argparse.ArgumentParser(description="open-loop live file generator")
    ap.add_argument("--workload", required=True,
                    choices=[w for w, s in STREAMING.items() if "live_files_per_s" in s])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--spool", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()
    # one process, and no more threads than it needs
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
    log = run_live(a.workload, a.seed, a.seconds, a.spool, a.tmp)
    with open(a.log + ".part", "w") as f:
        json.dump(log, f)
    os.rename(a.log + ".part", a.log)


if __name__ == "__main__":
    main()
