"""Columnar metadata plane (round 9): checkpoint replay keeps add rows
inside one arrow table and data skipping runs as vectorized masks over
a once-parsed stats index. These tests pin two things:

1. PARITY — `prune_files` (vectorized) returns byte-identical file
   lists to `_prune_files_scalar` (the per-file reference semantics)
   across stats types, partition filters, missing stats, column
   mapping, checkpoint/tail overlay shadowing, and spec-dialect
   checkpoints.
2. LAZINESS — a pruned read of an N-file checkpointed table touches
   only the pruned files' add dicts; `snapshot()` does no per-file
   python work (the 100 TB planning-latency guarantee: reference
   bounds replay with the same checkpoint device, DeltaReader.java:
   301-303, but its per-file dict explosion is what we must not do).
"""

import json
import os

import pyspark.sql.functions as F
import pytest

from pulsar_io_delta_spark.sources.delta_log import (
    DeltaTable,
    Snapshot,
    _LiveStore,
)


def _write_ranges(spark, path, ranges):
    t = DeltaTable(path)
    for lo, hi in ranges:
        df = spark.range(lo, hi).select(
            F.col("id").alias("event_id"),
            (F.col("id") * 2.0).alias("value"),
            F.concat(F.lit("k"), F.lpad(F.col("id") % 7, 3, "0")).alias("cat"),
        )
        t.write(df.coalesce(1))
    return t


FILTER_SETS = [
    [("event_id", ">", 250)],
    [("event_id", ">=", 300)],
    [("event_id", "<", 100)],
    [("event_id", "<=", 99)],
    [("event_id", "=", 150)],
    [("value", ">", 500.0)],
    [("cat", "=", "k003")],
    [("cat", ">", "k004")],
    [("event_id", ">", 100), ("event_id", "<", 300)],
    [("event_id", ">", 100), ("cat", "<", "k002")],
    [("missing_col", ">", 5)],
    [("event_id", ">", "not_a_number")],  # incomparable → admit all
]


def test_vector_scalar_parity_plain(spark, tmp_path):
    t = _write_ranges(
        spark, str(tmp_path / "t"), [(0, 100), (100, 200), (200, 300), (300, 400)]
    )
    snap = t.snapshot()
    assert snap._data_skipping_index() is not None
    for filters in FILTER_SETS:
        assert t.prune_files(snap, filters) == t._prune_files_scalar(snap, filters), filters


def test_vector_scalar_parity_after_checkpoint_and_tail(spark, tmp_path):
    """Checkpoint base + tail adds + a remove + an overlay SHADOW (same
    path re-added with different stats) — the index must reflect the
    overlay row, not the stale checkpoint row."""
    t = _write_ranges(spark, str(tmp_path / "t"), [(0, 100), (100, 200), (200, 300)])
    t.checkpoint()
    # tail: one more range
    _write_ranges(spark, str(tmp_path / "t"), [(300, 400)])
    snap0 = t.snapshot()
    # remove one checkpointed file and re-add its path with shifted stats
    victim = snap0.files[0]
    old_add = dict(snap0.adds[victim])
    shifted = {
        "numRecords": 10,
        "minValues": {"event_id": 9000},
        "maxValues": {"event_id": 9009},
    }
    new_add = dict(old_add)
    new_add["stats"] = json.dumps(shifted)
    t._commit(
        snap0,
        [
            {"remove": {"path": victim, "dataChange": True}},
            {"add": {**new_add, "dataChange": True}},
        ],
        "MANUAL",
    )
    snap = t.snapshot()
    for filters in FILTER_SETS + [[("event_id", ">", 8000)]]:
        assert t.prune_files(snap, filters) == t._prune_files_scalar(snap, filters), filters
    # the shadow is effective: only the re-added file matches > 8000
    assert t.prune_files(snap, [("event_id", ">", 8000)]) == [victim]
    # and a plain remove actually drops the file from every view
    t._commit(
        snap,
        [{"remove": {"path": snap.files[1], "dataChange": True}}],
        "MANUAL",
    )
    snap2 = t.snapshot()
    assert snap.files[1] not in snap2.files
    assert snap.files[1] not in snap2.adds
    assert t.prune_files(snap2, []) == list(snap2.files)


def test_vector_scalar_parity_partitioned(spark, tmp_path):
    t = DeltaTable(str(tmp_path / "t"))
    df = spark.range(200).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("string").alias("bucket"),
    )
    t.write(df, partition_by=["bucket"])
    snap = t.snapshot()
    for filters in (
        [("bucket", "=", "1")],
        [("bucket", "=", 1)],  # non-string value goes through str()
        [("bucket", "=", "nope")],
        [("bucket", ">", "0")],  # non-eq partition op: partition part skipped
        [("bucket", "=", "2"), ("event_id", ">", 100)],
    ):
        got = t.prune_files(snap, filters)
        assert got == t._prune_files_scalar(snap, filters), filters
    assert 0 < len(t.prune_files(snap, [("bucket", "=", "1")])) < len(snap.files)


def test_vector_scalar_parity_missing_stats(spark, tmp_path):
    """Files with no stats at all admit everything (conservative)."""
    t = _write_ranges(spark, str(tmp_path / "t"), [(0, 100), (100, 200)])
    snap0 = t.snapshot()
    victim = snap0.files[0]
    stripped = dict(snap0.adds[victim])
    stripped.pop("stats", None)
    t._commit(
        snap0,
        [
            {"remove": {"path": victim, "dataChange": True}},
            {"add": {**stripped, "dataChange": True}},
        ],
        "MANUAL",
    )
    snap = t.snapshot()
    for filters in FILTER_SETS:
        assert t.prune_files(snap, filters) == t._prune_files_scalar(snap, filters), filters
    # the stats-stripped file is always admitted
    assert victim in t.prune_files(snap, [("event_id", ">", 10**9)])


def test_vector_scalar_parity_column_mapping(spark, tmp_path):
    """Mapped tables prune on PHYSICAL names (stats are keyed by the
    parquet column names, filters arrive pre-translated)."""
    t = _write_ranges(spark, str(tmp_path / "t"), [(0, 100), (100, 200)])
    t.enable_column_mapping()
    _write_ranges(spark, str(tmp_path / "t"), [(200, 300)])
    snap = t.snapshot()
    assert t._mapping_of(snap) is not None
    # upgrade semantics keep physicalName == current name; the prune
    # index resolves through the mapping either way
    phys = t._phys_filters(snap, [("event_id", ">", 150)])
    assert t.prune_files(snap, phys) == t._prune_files_scalar(snap, phys)
    df = t.read(spark, filters=[("event_id", ">", 150)])
    assert df.count() == 149


def test_snapshot_store_is_lazy_and_dict_identical(tmp_path):
    """Compact-checkpoint adds materialize per path, equal to the
    historical eager dicts; snapshot() itself stays O(1) in python."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "t")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": False, "metadata": {}}
            ],
        }
    )
    n = 500
    cols = {
        "action_type": ["metaData", "protocol"] + ["add"] * n,
        "path": [None, None] + [f"part-{i:05d}.parquet" for i in range(n)],
        "partitionValues": [None, None] + ["{}"] * n,
        "modificationTime": [None, None] + [1000 + i for i in range(n)],
        "stats": [None, None]
        + [
            json.dumps(
                {
                    "numRecords": 10,
                    "minValues": {"id": i * 10},
                    "maxValues": {"id": i * 10 + 9},
                }
            )
            for i in range(n)
        ],
        "schemaString": [schema_string] + [None] * (n + 1),
        "partitionColumns": ["[]"] + [None] * (n + 1),
        "configuration": ["{}"] + [None] * (n + 1),
        "minReaderVersion": [None, 1] + [None] * n,
        "minWriterVersion": [None, 2] + [None] * n,
        "readerFeatures": [None] * (n + 2),
        "writerFeatures": [None] * (n + 2),
        "deletionVector": [None] * (n + 2),
        "baseRowId": [None] * (n + 2),
        "defaultRowCommitVersion": [None] * (n + 2),
        "txn_appId": [None] * (n + 2),
        "txn_version": [None] * (n + 2),
        "domainMetadata": [None] * (n + 2),
        "commit_timestamp": [1700000000000] * (n + 2),
    }
    pq.write_table(pa.table(cols), os.path.join(log, f"{0:020d}.checkpoint.parquet"))
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1700000000000}}) + "\n")
        f.write(
            json.dumps(
                {
                    "metaData": {
                        "id": "t",
                        "schemaString": schema_string,
                        "partitionColumns": [],
                        "configuration": {},
                        "format": {"provider": "parquet", "options": {}},
                    }
                }
            )
            + "\n"
        )
        f.write(
            json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
            + "\n"
        )
    t = DeltaTable(root)
    snap = t.snapshot()
    assert isinstance(snap.adds, _LiveStore)
    assert len(snap.files) == n
    # lazy materialization matches the historical eager dict exactly
    p = snap.files[3]
    assert snap.adds[p] == {
        "path": p,
        "partitionValues": {},
        "modificationTime": 1003,
        "stats": cols["stats"][5],
    }
    assert snap.partition_values[p] == {}
    assert snap.add_times[p] == 1003
    assert max(snap.add_times.values()) == 1000 + n - 1
    # pruning never touches files outside the admitted range
    kept = t.prune_files(snap, [("id", ">=", (n - 3) * 10)])
    assert kept == sorted(snap.files[-3:])
    assert t._prune_files_scalar(snap, [("id", ">=", (n - 3) * 10)]) == kept
    # checkpoint-load cache: a second snapshot is served from memory
    assert t.snapshot().files == snap.files


def test_spec_checkpoint_dialect_parity(spark, tmp_path):
    """Spec-layout (delta-spark-style nested struct) checkpoints go
    through the same columnar store; prune parity holds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = _write_ranges(spark, str(tmp_path / "t"), [(0, 100), (100, 200)])
    snap = t.snapshot()
    # rewrite the checkpoint in SPEC layout by hand
    add_type = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ]
    )
    meta_type = pa.struct(
        [
            ("id", pa.string()),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
        ]
    )
    proto_type = pa.struct(
        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
    )
    adds = [
        {
            "path": p,
            "partitionValues": [],
            # true size: the committer's .crc validates the replayed
            # byte total against any checkpoint base
            "size": snap.adds[p].get("size", 1),
            "modificationTime": snap.add_times[p],
            "dataChange": True,
            "stats": snap.adds[p].get("stats"),
        }
        for p in snap.files
    ]
    rows = pa.table(
        {
            "add": pa.array(adds + [None, None], type=add_type),
            "metaData": pa.array(
                [None] * len(adds)
                + [
                    {
                        "id": "x",
                        "schemaString": snap.schema_string,
                        "partitionColumns": [],
                        "configuration": [],
                    },
                    None,
                ],
                type=meta_type,
            ),
            "protocol": pa.array(
                [None] * (len(adds) + 1)
                + [{"minReaderVersion": 1, "minWriterVersion": 2}],
                type=proto_type,
            ),
        }
    )
    v = t.latest_version()
    pq.write_table(rows, os.path.join(t.log_dir, f"{v:020d}.checkpoint.parquet"))
    with open(os.path.join(t.log_dir, "_last_checkpoint"), "w") as f:
        f.write(json.dumps({"version": v}))
    t2 = DeltaTable(str(tmp_path / "t"))
    snap2 = t2.snapshot()
    assert snap2.files == snap.files
    assert snap2.adds[snap.files[0]]["stats"] == snap.adds[snap.files[0]].get("stats")
    for filters in FILTER_SETS:
        assert t2.prune_files(snap2, filters) == t2._prune_files_scalar(
            snap2, filters
        ), filters


def test_prune_property_random(spark, tmp_path):
    """Hypothesis-style randomized parity without the fixture cost:
    many random filter combinations over one committed table."""
    import itertools
    import random

    t = _write_ranges(
        spark,
        str(tmp_path / "t"),
        [(0, 50), (50, 120), (120, 121), (121, 300), (300, 400)],
    )
    snap = t.snapshot()
    rng = random.Random(9)
    cols = ["event_id", "value", "cat", "ghost"]
    ops = ["=", "<", "<=", ">", ">="]
    vals = [0, 49, 50, 120, 299, 400, -1, 10**12, 3.5, "k001", "zzz", None, True]
    for _ in range(200):
        filters = [
            (rng.choice(cols), rng.choice(ops), rng.choice(vals))
            for _ in range(rng.randint(1, 3))
        ]
        try:
            want = t._prune_files_scalar(snap, filters)
        except Exception as e:  # scalar raises → vector must raise too
            with pytest.raises(type(e)):
                t.prune_files(snap, filters)
            continue
        assert t.prune_files(snap, filters) == want, filters
    del itertools


def test_empty_and_filterless(spark, tmp_path):
    t = _write_ranges(spark, str(tmp_path / "t"), [(0, 10)])
    snap = t.snapshot()
    assert t.prune_files(snap, []) == list(snap.files)
    empty = Snapshot(version=0, store=_LiveStore([], {}, set()))
    assert empty.files == []
    assert DeltaTable(str(tmp_path / "t")).prune_files(empty, [("x", "=", 1)]) == []
