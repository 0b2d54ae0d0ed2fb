"""Fixed parameters of every workload.

These numbers define the benchmark: changing one changes what is
measured, so a change here is a benchmark change and never part of a
change that claims a gain. NOTES.md says why each value was chosen.
"""

from __future__ import annotations

# Streaming pipelines. Every input file is a changelog chunk in the
# canonical kspp shape (key, value, event_time, seq; NULL value =
# tombstone) plus a `side` tag and `created_ms`, its creation time on
# the schedule clock. The spool starts with (warmup_batches +
# catchup_batches) * files_per_trigger backlog files of backlog_file_rows
# rows, then tail_batches * files_per_trigger files of live_file_rows
# rows; the program reads it with maxFilesPerTrigger = files_per_trigger,
# so every backlog batch has the same size (closed loop). The first
# warmup_batches batches are not timed. cdc_upsert is a workload of its
# own: after the backlog a separate generator process adds
# live_files_per_s files per second of live_file_rows rows for --seconds
# seconds (open loop), far below the catch-up rate. A live event not
# committed within latency_limit_ms of its due time is a failed
# operation. enrich_join has no live phase: changelog_backfill replays
# its spool from the beginning, and its small tail batches give the
# join's fixed cost per micro-batch.
STREAMING = {
    # changelog -> streaming.core.ktable_stream -> sinks.jdbc (sqlite)
    "cdc_upsert": {
        "keys": 1_000_000,
        "zipf_a": 1.2,
        "dim_share": 0.0,
        "tombstone_share": 0.05,
        "files_per_trigger": 60,
        "backlog_file_rows": 70,
        "warmup_batches": 2,
        "catchup_batches": 4,
        "tail_batches": 0,
        "live_files_per_s": 20,
        "live_file_rows": 10,
        "latency_limit_ms": 15_000,
    },
    # Zipf event stream (side S) + dimension changelog (side D) ->
    # streaming.stateful.stream_table_join_stream -> parquet files
    "enrich_join": {
        "keys": 20_000,
        "zipf_a": 1.3,
        "dim_share": 0.2,
        "tombstone_share": 0.1,
        "files_per_trigger": 30,
        "backlog_file_rows": 8,
        "warmup_batches": 2,
        "catchup_batches": 4,
        "tail_batches": 1,
        "live_file_rows": 2,
    },
}

# Batch workload: a bounded changelog history of the streaming shape
# (sides C, S and D as above) and a document corpus. A first untimed
# pass collects every answer for the correctness gate; then the
# enrich_join spool is replayed from the beginning by the streaming
# join; then warmup_passes - 1 more untimed passes and steady passes
# for --seconds.
BATCH = {
    "changelog_backfill": {
        "changelog_rows": 80_000,
        "keys": 50_000,
        "zipf_a": 1.3,
        "side_shares": {"C": 0.5, "S": 0.4, "D": 0.1},
        "tombstone_share": 0.05,
        "docs": 1_000,
        "exact_dup_share": 0.1,
        "warmup_passes": 2,
        "min_steady_passes": 3,
        # throughput_rps counts this many steady passes per join replay
        "mix_passes": 4,
        "replay": "enrich_join",
    },
}

# The backfill queries and the layer that implements each.
BACKFILL_QUERIES = {
    "ktable": "operators",
    "changelog_join": "operators",
    "windowed_count": "operators",
    "curate_documents": "functions",
}

# Tumbling window of the backfill windowed_count.
WINDOW = "1 minute"

# The workloads, each one command of the benchmark.
WORKLOADS = ["cdc_upsert", "changelog_backfill"]

# Seeds every input: the index of a name here is part of the random
# stream of its files, so that each pipeline's inputs differ.
INPUT_STREAMS = ["cdc_upsert", "enrich_join", "changelog_backfill"]
