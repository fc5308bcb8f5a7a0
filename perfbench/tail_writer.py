"""Open-loop commit generator for the tail phase of the ``cdc`` workload.

Runs as its own process beside the streaming reader. Commit ``k`` is due
at ``schedule[k - FIRST_K]`` (``time.monotonic`` seconds, shared by every
process on the host; the benchmark writes the schedule as a JSON list). The
generator sleeps until the due time, writes one
64-row parquet file with pyarrow into the partition the seeded rotation
picks, and commits it through ``DeltaTable.commit_external_adds``. It
never waits for the reader, so a slow reader builds a backlog instead of
slowing the offered load.

Row ``i`` of commit ``k`` has ``event_id = ID_BASE + k * ROWS + i``; the
benchmark maps delivered messages back to their commit through that id.
Stamps (due, start, write and commit times, version) are kept in memory
and written as one JSON document when the generator ends.

    python3 perfbench/tail_writer.py TABLE_PATH SCHEDULE_JSON STAMPS_JSON SEED FIRST_K
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

ROWS = 64
ID_BASE = 10_000_000


def main(argv: list[str]) -> int:
    table_path, schedule_path, stamps_path = argv[0], argv[1], argv[2]
    seed, first_k = int(argv[3]), int(argv[4])
    with open(schedule_path) as fh:
        schedule = json.load(fh)
    sys.path.insert(0, os.getcwd())
    import numpy as np
    import pyarrow.parquet as pq

    from perfbench.datagen import EVENT_TYPES, events_table
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    rng = np.random.default_rng([seed, 7, first_k])
    table = DeltaTable(table_path)
    schema_json = table.snapshot().schema_string
    rotation = rng.permutation(len(EVENT_TYPES))
    stamps = []
    for k, due in enumerate(schedule, start=first_k):
        now = time.monotonic()
        if due > now:
            time.sleep(due - now)
        start = time.monotonic()
        kind = EVENT_TYPES[rotation[k % len(rotation)]]
        rows = events_table(rng, ROWS, id_base=ID_BASE + k * ROWS).drop_columns(["event_type"])
        rel = f"event_type={kind}/part-{k:05d}-{uuid.uuid4().hex}.parquet"
        pq.write_table(rows, os.path.join(table_path, rel))
        written = time.monotonic()
        version = table.commit_external_adds(
            [
                {
                    "path": rel,
                    "partitionValues": {"event_type": kind},
                    "size": os.path.getsize(os.path.join(table_path, rel)),
                    "modificationTime": int(time.time() * 1000),
                    "dataChange": True,
                }
            ],
            operation="WRITE",
            schema_json=schema_json,
        )
        end = time.monotonic()
        stamps.append(
            {"k": k, "version": version, "event_type": kind, "due": due,
             "start": start, "written": written, "end": end}
        )
    with open(stamps_path, "w") as fh:
        json.dump(stamps, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
