"""Independent references for the correctness gate.

Nothing here imports pyspark. The streaming references replay the
generated changelogs in pandas; the backfill references run DuckDB SQL
over the generated parquet files. Every check returns a mismatch count,
0 when the answer is right.
"""

from __future__ import annotations

import hashlib
import os
import sqlite3
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

NULL = "\x00NULL"


def _ms(s: pd.Series) -> pd.Series:
    """Epoch milliseconds of a timestamp column (naive values are UTC)."""
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[ms]").astype("int64")


def multiset_mismatches(actual, expected) -> int:
    """Rows present on one side only, counting duplicates (a changed row
    counts twice)."""
    diff = Counter(actual)
    diff.subtract(Counter(expected))
    return sum(abs(v) for v in diff.values())


# --------------------------------------------------------------------------
# cdc_upsert: the final sqlite table
# --------------------------------------------------------------------------


def changelog_expected(events: pd.DataFrame) -> list[tuple]:
    """Last write wins per key by (event_time, seq); a tombstone (NULL
    value) as the last write deletes the key. Rows are
    (key, value, seq, event_time epoch ms), the sqlite table's shape."""
    ev = events.assign(et=_ms(events["event_time"]))
    last = ev.sort_values(["et", "seq"], kind="mergesort").drop_duplicates("key", keep="last")
    live = last[last["value"].notna()]
    return list(zip(live["key"], live["value"], live["seq"].astype(int), live["et"].astype(int)))


def sqlite_rows(db_path: str) -> list[tuple]:
    con = sqlite3.connect(db_path)
    try:
        return con.execute("SELECT key, value, seq, event_time FROM kv").fetchall()
    finally:
        con.close()


# --------------------------------------------------------------------------
# enrich_join: the joined rows written by every micro-batch
# --------------------------------------------------------------------------


def join_expected(events: pd.DataFrame) -> list[tuple]:
    """Replay of stream_table_join_stream(how="left"): per key, events in
    (event_time, table before stream, seq) order; a table event (side D)
    sets the key's state, a tombstone clears it; each non-tombstone
    stream event (side S) emits (key, event_time ms, left=value,
    right=state)."""
    ev = events.assign(et=_ms(events["event_time"]), pri=(events["side"] == "S").astype(int))
    ev = ev.sort_values(["key", "et", "pri", "seq"], kind="mergesort").reset_index(drop=True)
    pos = np.where(ev["side"] == "D", np.arange(len(ev)), -1)
    last_d = pd.Series(pos).groupby(ev["key"]).cummax().to_numpy()
    right = np.where(last_d >= 0, ev["value"].to_numpy()[np.maximum(last_d, 0)], None)
    out = ev.assign(right=right)
    out = out[(out["side"] == "S") & out["value"].notna()]
    return list(zip(out["key"], out["et"].astype(int), out["value"],
                    [None if v is None or v != v else v for v in out["right"]]))


def join_output_rows(out_dir: str) -> list[tuple]:
    """Every row the join's sink wrote, in the reference's shape."""
    rows: list[tuple] = []
    for d in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, d)
        if not os.path.isdir(path):
            continue
        df = pq.read_table(path).to_pandas()
        if df.empty:
            continue
        rows += zip(df["key"], _ms(df["event_time"]).astype(int), df["left"],
                    [None if v is None or v != v else v for v in df["right"]])
    return rows


# --------------------------------------------------------------------------
# changelog_backfill: DuckDB answers, reduced to digests
# --------------------------------------------------------------------------

BACKFILL_SQL = {
    # operators.aggregates.ktable(seq="seq"): latest C row per key by
    # (event_time, seq); keys whose latest row is a tombstone vanish
    "ktable": """
        SELECT key, value, event_time FROM (
            SELECT key, value, event_time,
                   row_number() OVER (PARTITION BY key ORDER BY event_time DESC, seq DESC) AS rn
            FROM history WHERE side = 'C'
        ) WHERE rn = 1 AND value IS NOT NULL
    """,
    # operators.joins.changelog_stream_table_join(how="left"): each
    # non-tombstone S event with the latest D value of its key at or
    # before it (D first at equal event_time); '!' marks a tombstone so
    # that IGNORE NULLS skips only the S rows
    "changelog_join": """
        WITH ev AS (
            SELECT key, event_time, seq, side, value,
                   CASE WHEN side = 'S' THEN 1 ELSE 0 END AS pri,
                   CASE WHEN side = 'D' THEN coalesce('=' || value, '!') END AS dv
            FROM history WHERE side IN ('S', 'D')
        ), st AS (
            SELECT *, last_value(dv IGNORE NULLS) OVER (
                PARTITION BY key ORDER BY event_time, pri, seq
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rstate
            FROM ev
        )
        SELECT key, event_time, value AS "left",
               CASE WHEN rstate LIKE '=%' THEN substr(rstate, 2) END AS "right",
               false AS tombstone
        FROM st WHERE side = 'S' AND value IS NOT NULL
    """,
    # operators.aggregates.windowed_count(WINDOW, key="side")
    "windowed_count": """
        SELECT date_trunc('minute', event_time::TIMESTAMP) AS window_start,
               date_trunc('minute', event_time::TIMESTAMP) + INTERVAL 1 MINUTE AS window_end,
               side, COUNT(*) AS cnt
        FROM history GROUP BY ALL
    """,
}


def _canon_column(s: pd.Series) -> list[str]:
    if pd.api.types.is_datetime64_any_dtype(s):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        us = s.astype("datetime64[us]")
        return us.astype("int64").astype(str).where(us.notna(), NULL).tolist()
    if pd.api.types.is_float_dtype(s):
        # repr of a float round-trips its exact bits
        return [NULL if v != v else repr(float(v)) for v in s]
    if pd.api.types.is_bool_dtype(s) or pd.api.types.is_integer_dtype(s):
        return s.astype(str).tolist()
    return [NULL if v is None or (isinstance(v, float) and v != v) else str(v) for v in s]


def canon_digest(pdf: pd.DataFrame) -> dict:
    """Order-free exact digest of a result: columns sorted by name,
    every cell rendered exactly, rows sorted, then hashed."""
    cols = sorted(pdf.columns)
    parts = [_canon_column(pdf[c].reset_index(drop=True)) for c in cols]
    rows = sorted("\x1f".join(cells) for cells in zip(*parts)) if len(pdf) else []
    return {"cols": cols, "rows": len(rows),
            "digest": hashlib.sha256("\n".join(rows).encode()).hexdigest()}


def backfill_digests(data_dir: str, sqls: dict[str, str]) -> dict[str, dict]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute("SET threads TO 2")
        for t in ("history", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return {name: canon_digest(con.sql(sql).df()) for name, sql in sqls.items()}
    finally:
        con.close()
