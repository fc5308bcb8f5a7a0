"""Checkpoint interop (round 8): reading checkpoints OTHER
implementations write — the SPEC classic layout (nested struct columns,
what delta-spark / delta-rs produce) and V2 spec checkpoints (UUID-named
parquet or json, file actions inline or in _sidecars/ parquet files) —
plus this engine's own V2 write path (auto-selected when the protocol
demands the v2Checkpoint writer feature).

Format authority: the public Delta protocol spec (delta-io/delta
PROTOCOL.md "Checkpoints" / "V2 Spec Checkpoints"). The reference
(DeltaReader.java:301-303 era) delegates checkpoint parsing to
delta-standalone; this engine parses all three dialects itself.
"""

import glob
import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pulsar_io_delta_spark.sources.delta_log import (
    DeltaTable,
    _parse_v2_checkpoint_name,
)

ADD_T = pa.struct(
    [
        ("path", pa.string()),
        ("partitionValues", pa.map_(pa.string(), pa.string())),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("stats", pa.string()),
        ("deletionVector", pa.struct(
            [
                ("storageType", pa.string()),
                ("pathOrInlineDv", pa.string()),
                ("offset", pa.int32()),
                ("sizeInBytes", pa.int32()),
                ("cardinality", pa.int64()),
            ]
        )),
    ]
)
METADATA_T = pa.struct(
    [
        ("id", pa.string()),
        ("format", pa.struct(
            [("provider", pa.string()), ("options", pa.map_(pa.string(), pa.string()))]
        )),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", pa.map_(pa.string(), pa.string())),
    ]
)
PROTOCOL_T = pa.struct(
    [
        ("minReaderVersion", pa.int32()),
        ("minWriterVersion", pa.int32()),
        ("readerFeatures", pa.list_(pa.string())),
        ("writerFeatures", pa.list_(pa.string())),
    ]
)
TXN_T = pa.struct([("appId", pa.string()), ("version", pa.int64())])
CKMETA_T = pa.struct([("version", pa.int64())])
SIDECAR_T = pa.struct(
    [("path", pa.string()), ("sizeInBytes", pa.int64()), ("modificationTime", pa.int64())]
)


def _events(spark, n=20, start=0):
    return spark.createDataFrame(
        [(i, "click" if i % 2 else "view", float(i)) for i in range(start, start + n)],
        "event_id long, event_type string, value double",
    )


def _spec_table(cols: dict, num_rows: int) -> pa.Table:
    """Build a spec-layout checkpoint table: each action column filled
    with None except where that row carries the action."""
    arrays, names = [], []
    types = {
        "txn": TXN_T, "add": ADD_T, "metaData": METADATA_T,
        "protocol": PROTOCOL_T, "checkpointMetadata": CKMETA_T,
        "sidecar": SIDECAR_T,
    }
    for name, typ in types.items():
        vals = cols.get(name, [None] * num_rows)
        arrays.append(pa.array(vals, type=typ))
        names.append(name)
    return pa.table(dict(zip(names, arrays)))


def _write_spec_classic_checkpoint(t: DeltaTable, v: int) -> None:
    """Handwrite a SPEC classic checkpoint for version v of table t, as
    a foreign engine would: one row per action, nested struct columns."""
    snap = t.snapshot(v)
    n = 2 + len(snap.files)
    rows_add = [None, None] + [
        {
            "path": p,
            "partitionValues": snap.partition_values.get(p, {}),
            # true size: the committer's <v>.crc validates the replayed
            # byte total, so a sloppy dummy here is caught loudly
            "size": snap.adds.get(p, {}).get("size", 1),
            "modificationTime": snap.add_times.get(p, 0),
            "dataChange": False,
            "stats": snap.adds.get(p, {}).get("stats"),
            "deletionVector": snap.adds.get(p, {}).get("deletionVector"),
        }
        for p in snap.files
    ]
    tbl = _spec_table(
        {
            "metaData": [
                {
                    "id": "spec-fixture",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": snap.schema_string,
                    "partitionColumns": snap.partition_columns,
                    "configuration": snap.configuration,
                },
                None,
            ] + [None] * len(snap.files),
            "protocol": [
                None,
                {
                    "minReaderVersion": snap.protocol.get("minReaderVersion", 1),
                    "minWriterVersion": snap.protocol.get("minWriterVersion", 2),
                    "readerFeatures": snap.protocol.get("readerFeatures"),
                    "writerFeatures": snap.protocol.get("writerFeatures"),
                },
            ] + [None] * len(snap.files),
            "add": rows_add,
        },
        n,
    )
    pq.write_table(tbl, os.path.join(t.log_dir, f"{v:020d}.checkpoint.parquet"))


def _expire_json_le(t: DeltaTable, horizon: int) -> None:
    for fp in glob.glob(os.path.join(t.log_dir, "*.json")):
        stem = os.path.basename(fp)[: -len(".json")]
        if stem.isdigit() and int(stem) <= horizon:
            os.remove(fp)


def test_spec_classic_checkpoint_read(spark, tmp_path):
    """A classic checkpoint written by a FOREIGN engine (nested struct
    layout) bootstraps the snapshot after its JSON commits expire."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark, 10).coalesce(1))
    t.write(_events(spark, 10, start=10).coalesce(1))
    _write_spec_classic_checkpoint(t, 1)
    _expire_json_le(t, 1)
    t2 = DeltaTable(t.path)
    assert t2.checkpoint_versions() == [1]
    assert {r.event_id for r in t2.read(spark).collect()} == set(range(20))
    # post-checkpoint commits still replay on top
    t2.write(_events(spark, 5, start=20).coalesce(1))
    assert t2.read(spark).count() == 25


def test_spec_classic_checkpoint_preserves_dv(spark, tmp_path):
    """A foreign classic checkpoint carrying deletionVector descriptors
    keeps deleted rows hidden after log expiry."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark, 20).coalesce(1))
    t.delete_where_dv(spark, "event_id >= 15")
    _write_spec_classic_checkpoint(t, 1)
    _expire_json_le(t, 1)
    assert {r.event_id for r in DeltaTable(t.path).read(spark).collect()} == set(range(15))


def test_v2_parquet_checkpoint_with_sidecars(spark, tmp_path):
    """A V2 parquet checkpoint whose file actions live in _sidecars/
    parquet files (the at-scale layout: the manifest stays tiny, adds
    shard across sidecars)."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark, 10).coalesce(1))
    t.write(_events(spark, 10, start=10).coalesce(1))
    snap = t.snapshot(1)
    side_dir = os.path.join(t.log_dir, "_sidecars")
    os.makedirs(side_dir)
    # shard the adds across two sidecar files
    files = sorted(snap.files)
    for i, chunk in enumerate((files[::2], files[1::2])):
        adds = [
            {
                "path": p,
                "partitionValues": {},
                # true size: the <v>.crc byte-total validation is loud
                "size": snap.adds.get(p, {}).get("size", 1),
                "modificationTime": snap.add_times.get(p, 0),
                "dataChange": False,
                "stats": snap.adds.get(p, {}).get("stats"),
                "deletionVector": None,
            }
            for p in chunk
        ]
        pq.write_table(
            _spec_table({"add": adds}, len(adds)),
            os.path.join(side_dir, f"sc-{i}.parquet"),
        )
    manifest = _spec_table(
        {
            "checkpointMetadata": [{"version": 1}, None, None, None],
            "protocol": [
                None,
                {"minReaderVersion": 3, "minWriterVersion": 7,
                 "readerFeatures": ["v2Checkpoint"],
                 "writerFeatures": ["v2Checkpoint"]},
                None, None,
            ],
            "metaData": [
                None, None,
                {
                    "id": "v2-fixture",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": snap.schema_string,
                    "partitionColumns": [],
                    "configuration": {},
                },
                None,
            ],
            "sidecar": [None, None, None, None],
        },
        4,
    )
    # sidecar refs as separate rows
    refs = _spec_table(
        {
            "sidecar": [
                {"path": "sc-0.parquet", "sizeInBytes": 1, "modificationTime": 0},
                {"path": "sc-1.parquet", "sizeInBytes": 1, "modificationTime": 0},
            ]
        },
        2,
    )
    full = pa.concat_tables([manifest, refs])
    pq.write_table(
        full,
        os.path.join(
            t.log_dir,
            f"{1:020d}.checkpoint.3a3f8a9e-1111-4222-8333-444455556666.parquet",
        ),
    )
    _expire_json_le(t, 1)
    t2 = DeltaTable(t.path)
    assert t2.checkpoint_versions() == [1]
    assert {r.event_id for r in t2.read(spark).collect()} == set(range(20))


def test_v2_json_checkpoint_roundtrip(spark, tmp_path):
    """Engine-written V2 json checkpoint: UUID-named, survives full log
    expiry, carries txns and DV descriptors."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark, 20).coalesce(1), txn=("app-1", 7))
    t.delete_where_dv(spark, "event_id < 4")
    v = t.checkpoint(v2=True)
    (name,) = [
        n for n in os.listdir(t.log_dir) if _parse_v2_checkpoint_name(n)
    ]
    assert re.match(rf"^{v:020d}\.checkpoint\.[0-9a-f-]{{36}}\.json$", name)
    _expire_json_le(t, v)
    t2 = DeltaTable(t.path)
    assert {r.event_id for r in t2.read(spark).collect()} == set(range(4, 20))
    assert t2.last_txn_version("app-1") == 7  # idempotent sink survives expiry


def test_v2_auto_selected_when_protocol_demands(spark, tmp_path):
    """checkpoint() on a table whose writerFeatures include v2Checkpoint
    must produce a v2 checkpoint even without the flag (spec forbids
    classic checkpoints there)."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark, 6).coalesce(1))
    snap = t.snapshot()
    t._commit(
        snap,
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["v2Checkpoint"],
                       "writerFeatures": ["appendOnly", "invariants", "v2Checkpoint"]}}],
        operation="UPGRADE",
        read_version=snap.version,
    )
    v = t.checkpoint()
    names = os.listdir(t.log_dir)
    assert any(_parse_v2_checkpoint_name(n) for n in names)
    assert not any(n == f"{v:020d}.checkpoint.parquet" for n in names)
    _expire_json_le(t, v)
    assert DeltaTable(t.path).read(spark).count() == 6


def test_v2_sidecar_writing_roundtrip(spark, tmp_path):
    """Round 9 (VERDICT r8 #9): OUR writer shards V2 checkpoint file
    actions into _sidecars/*.parquet. The manifest carries sidecar refs
    and NO inline adds; the reader reassembles the snapshot (stats, DV
    descriptors, txns included) after full log expiry."""
    t = DeltaTable(str(tmp_path / "t"))
    for s in (0, 20, 40):
        t.write(_events(spark, 20, start=s).coalesce(1), txn=("app-1", s))
    t.delete_where_dv(spark, "event_id < 4")
    pre = t.snapshot()
    v = t.checkpoint(v2=True, sidecars=2)
    (name,) = [n for n in os.listdir(t.log_dir) if _parse_v2_checkpoint_name(n)]
    manifest = [
        json.loads(line)
        for line in open(os.path.join(t.log_dir, name))
        if line.strip()
    ]
    side_refs = [a for a in manifest if "sidecar" in a]
    assert len(side_refs) == 2
    assert not any("add" in a for a in manifest)  # nothing inline
    side_files = os.listdir(os.path.join(t.log_dir, "_sidecars"))
    assert {r["sidecar"]["path"] for r in side_refs} <= set(side_files)
    # sidecars are spec-layout parquet our own split_spec consumes
    st = pq.read_table(
        os.path.join(t.log_dir, "_sidecars", side_refs[0]["sidecar"]["path"])
    )
    assert "add" in st.column_names
    _expire_json_le(t, v)
    t2 = DeltaTable(t.path)
    snap2 = t2.snapshot()
    assert snap2.files == pre.files
    for p in pre.files:
        assert snap2.adds[p].get("stats") == pre.adds[p].get("stats")
        assert snap2.adds[p].get("deletionVector") == pre.adds[p].get(
            "deletionVector"
        )
    assert {r.event_id for r in t2.read(spark).collect()} == set(range(4, 60))
    assert t2.last_txn_version("app-1") == 40
    # data skipping works off the sidecar-fed columnar index
    kept = t2.prune_files(snap2, [("event_id", ">=", 40)])
    assert kept == t2._prune_files_scalar(snap2, [("event_id", ">=", 40)])
    assert 0 < len(kept) < len(snap2.files)


def test_v2_sidecar_auto_sharding(spark, tmp_path, monkeypatch):
    """Above the auto threshold checkpoint(v2=True) shards without
    being asked — the no-unbounded-manifest guarantee."""
    import pulsar_io_delta_spark.sources.delta_log as dl

    monkeypatch.setattr(dl, "_V2_SIDECAR_AUTO_ROWS", 2)
    t = DeltaTable(str(tmp_path / "t"))
    for s in (0, 10, 20, 30, 40):
        t.write(_events(spark, 10, start=s).coalesce(1))
    v = t.checkpoint(v2=True)
    (name,) = [n for n in os.listdir(t.log_dir) if _parse_v2_checkpoint_name(n)]
    manifest = [
        json.loads(line)
        for line in open(os.path.join(t.log_dir, name))
        if line.strip()
    ]
    assert not any("add" in a for a in manifest)
    assert len([a for a in manifest if "sidecar" in a]) == 3  # ceil(5/2)
    _expire_json_le(t, v)
    assert DeltaTable(t.path).read(spark).count() == 50


def test_v2_checkpoint_name_parser_rejects_non_uuid():
    assert _parse_v2_checkpoint_name("00000000000000000001.checkpoint.parquet") is None
    assert _parse_v2_checkpoint_name(
        "00000000000000000001.checkpoint.0000000001.0000000002.parquet"
    ) is None
    assert _parse_v2_checkpoint_name(
        "00000000000000000001.checkpoint.deadbeef-dead-beef-dead-beefdeadbeef.parquet"
    ) == (1, "00000000000000000001.checkpoint.deadbeef-dead-beef-dead-beefdeadbeef.parquet")
    assert _parse_v2_checkpoint_name("00000000000000000001.checkpoint.notauuid.json") is None


def test_domain_metadata_preserved_across_checkpoints(spark, tmp_path):
    """domainMetadata actions (liquid-clustering state lives here)
    survive snapshot replay AND both checkpoint dialects we write —
    the spec's writer obligation for the domainMetadata feature."""
    t = DeltaTable(str(tmp_path / "dm"))
    t.write(_events(spark, 6).coalesce(1))
    snap = t.snapshot()
    t._commit(
        snap,
        [
            {"domainMetadata": {"domain": "delta.clustering",
                                "configuration": "{\"cols\":[\"event_id\"]}",
                                "removed": False}},
            {"domainMetadata": {"domain": "app.custom",
                                "configuration": "v1", "removed": False}},
        ],
        operation="SET DOMAIN",
        read_version=snap.version,
    )
    assert set(t.snapshot().domain_metadata) == {"delta.clustering", "app.custom"}
    # removal drops the domain
    t._commit(
        t.snapshot(),
        [{"domainMetadata": {"domain": "app.custom", "configuration": "",
                             "removed": True}}],
        operation="SET DOMAIN",
        read_version=t.snapshot().version,
    )
    assert set(t.snapshot().domain_metadata) == {"delta.clustering"}
    # compact checkpoint + expiry: domain survives
    t.checkpoint()
    t.expire_log()
    snap = DeltaTable(t.path).snapshot()
    assert set(snap.domain_metadata) == {"delta.clustering"}
    assert "event_id" in snap.domain_metadata["delta.clustering"]["configuration"]
    # v2 checkpoint + expiry: domain still survives
    t.write(_events(spark, 3, start=100).coalesce(1))
    t.checkpoint(v2=True)
    t.expire_log()
    snap = DeltaTable(t.path).snapshot()
    assert set(snap.domain_metadata) == {"delta.clustering"}
    assert snap.version >= 0 and len(snap.files) == 2
