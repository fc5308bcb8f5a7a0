"""Deletion-vector tests (VERDICT r7 #2): the on-disk format units
(Z85, portable RoaringBitmapArray, DV file layout, corruption gates) and
the delete_where_dv / read / cdc integration on both FS backends —
converting the round-7 DV component from shipped-but-unevidenced to
test-covered.

Format authority: the public Delta protocol spec (delta-io/delta
PROTOCOL.md "Deletion Vectors") and ZeroMQ spec 32 (Z85). The reference
reader (DeltaReader.java:301-303) predates DVs entirely.
"""

import json
import os
import struct
import zlib

import pytest
import pyspark.sql.functions as F

from pulsar_io_delta_spark.sources.deletion_vectors import (
    _serialize_rb32,
    deserialize_bitmap,
    dv_relative_path,
    inline_descriptor,
    resolve_dv,
    serialize_bitmap,
    write_dv_file,
    z85_decode,
    z85_encode,
)
from pulsar_io_delta_spark.sources.delta_log import (
    DeltaProtocolError,
    DeltaTable,
)
from pulsar_io_delta_spark.sources.fs import InMemoryFileSystem, LocalFileSystem


# ---------------------------------------------------------------------------
# Z85


def test_z85_round_trip_all_byte_values():
    data = bytes(range(256)) * 2  # 512 bytes, multiple of 4
    assert z85_decode(z85_encode(data)) == data


def test_z85_reference_vector():
    # ZeroMQ spec 32's canonical test vector
    assert z85_encode(bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])) == "HelloWorld"
    assert z85_decode("HelloWorld") == bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])


def test_z85_rejects_bad_input():
    with pytest.raises(ValueError, match="multiple of 4"):
        z85_encode(b"abc")
    with pytest.raises(ValueError, match="multiple of 5"):
        z85_decode("abcd")
    with pytest.raises(ValueError, match="invalid z85"):
        z85_decode('abcd"')
    with pytest.raises(ValueError, match="out of range"):
        z85_decode("#####")  # 84,84,84,84,84 > 2^32-1


# ---------------------------------------------------------------------------
# Portable RoaringBitmapArray


@pytest.mark.parametrize(
    "indexes",
    [
        [],
        [0],
        [0, 1, 2, 65535, 65536, 131072],  # spans array containers
        list(range(5000)),  # > 4096 → bitmap container
        [2**32 - 1, 2**32, 2**33 + 7],  # spans 32-bit buckets
        list(range(0, 100000, 3)),  # mixed container types
    ],
)
def test_bitmap_round_trip(indexes):
    assert deserialize_bitmap(serialize_bitmap(indexes)) == sorted(set(indexes))


def test_bitmap_rejects_negative_and_bad_magic():
    with pytest.raises(ValueError, match="non-negative"):
        serialize_bitmap([-1, 3])
    with pytest.raises(ValueError, match="magic"):
        deserialize_bitmap(struct.pack("<iq", 99, 0))


def _run_format_rb32(runs_by_key):
    """Hand-build a RUN-format RoaringBitmap (cookie 12347) — our writer
    never emits one, but external writers (RoaringBitmap's Java
    runOptimize) do, so the reader must parse it."""
    keys = sorted(runs_by_key)
    n = len(keys)
    cookie = ((n - 1) << 16) | 12347
    out = struct.pack("<I", cookie & 0xFFFFFFFF)  # same bytes as signed pack
    # run flag bitset: every container is a run container here
    nflag = (n + 7) // 8
    flags = bytearray(nflag)
    for i in range(n):
        flags[i >> 3] |= 1 << (i & 7)
    out += bytes(flags)
    desc = b""
    bodies = b""
    for k in keys:
        runs = runs_by_key[k]
        card = sum(length for _start, length in runs)
        desc += struct.pack("<HH", k, card - 1)
        body = struct.pack("<H", len(runs))
        for start, length in runs:
            body += struct.pack("<HH", start, length - 1)
        bodies += body
    if n >= 4:  # offsets present at/above the no-offset threshold
        pos = 4 + nflag + 4 * n + 4 * n
        offs = b""
        for k in keys:
            offs += struct.pack("<i", pos)
            pos += 2 + 4 * len(runs_by_key[k])
        return out + desc + offs + bodies
    return out + desc + bodies


def test_bitmap_reader_accepts_run_containers():
    body = _run_format_rb32({0: [(10, 3)], 2: [(0, 2), (100, 1)]})
    data = struct.pack("<iq", 1681511377, 1) + body
    assert deserialize_bitmap(data) == [
        10, 11, 12, (2 << 16) | 0, (2 << 16) | 1, (2 << 16) | 100,
    ]


def test_bitmap_run_cookie_unsigned_shift():
    """ADVICE r7 #4: with ≥ 32769 run containers the signed int32 cookie
    is negative; the container count must come from an UNSIGNED shift."""
    n = 33000  # (n-1) << 16 overflows int32 sign bit
    runs = {k: [(0, 1)] for k in range(n)}
    body = _run_format_rb32(runs)
    data = struct.pack("<iq", 1681511377, 1) + body
    out = deserialize_bitmap(data)
    assert len(out) == n
    assert out[0] == 0 and out[-1] == (n - 1) << 16


# ---------------------------------------------------------------------------
# DV files + descriptors


@pytest.mark.parametrize("fs_kind", ["local", "memory"])
def test_write_dv_file_and_resolve(tmp_path, fs_kind):
    fs = LocalFileSystem() if fs_kind == "local" else InMemoryFileSystem()
    root = str(tmp_path / "t")
    dvs = [[1, 5, 9], list(range(0, 9000, 2)), [2**33, 2**33 + 1]]
    descs = write_dv_file(root, dvs, fs=fs)
    assert [d["storageType"] for d in descs] == ["u", "u", "u"]
    # all three share one .bin file (real writers pack a commit's DVs)
    assert len({d["pathOrInlineDv"] for d in descs}) == 1
    for d, idx in zip(descs, dvs):
        assert d["cardinality"] == len(set(idx))
        assert resolve_dv(d, root, fs=fs) == sorted(set(idx))


def test_inline_descriptor_round_trip():
    d = inline_descriptor([3, 1, 4, 1, 5])
    assert d["storageType"] == "i"
    assert d["cardinality"] == 4
    assert resolve_dv(d, "/nonexistent") == [1, 3, 4, 5]


def test_dv_relative_path_prefix():
    import uuid

    u = uuid.uuid4()
    enc = z85_encode(u.bytes)
    assert dv_relative_path(enc) == f"deletion_vector_{u}.bin"
    assert dv_relative_path("ab" + enc) == os.path.join("ab", f"deletion_vector_{u}.bin")


def test_resolve_dv_corruption_gates(tmp_path):
    """A corrupt DV must fail loudly — silently under- or over-deleting
    rows is a wrong answer, not a degraded mode."""
    root = str(tmp_path / "t")
    (desc,) = write_dv_file(root, [[1, 2, 3]], fs=LocalFileSystem())
    fp = os.path.join(root, dv_relative_path(desc["pathOrInlineDv"]))
    blob = bytearray(open(fp, "rb").read())

    # cardinality mismatch
    bad = dict(desc, cardinality=99)
    with pytest.raises(ValueError, match="cardinality mismatch"):
        resolve_dv(bad, root)
    # size mismatch
    bad = dict(desc, sizeInBytes=desc["sizeInBytes"] - 4)
    with pytest.raises(ValueError, match="size mismatch"):
        resolve_dv(bad, root)
    # CRC mismatch: flip one payload byte, keep stored CRC
    corrupted = bytearray(blob)
    corrupted[desc["offset"] + 4 + 2] ^= 0xFF
    open(fp, "wb").write(bytes(corrupted))
    with pytest.raises(ValueError, match="checksum mismatch"):
        resolve_dv(desc, root)
    # bad version byte
    corrupted = bytearray(blob)
    corrupted[0] = 9
    open(fp, "wb").write(bytes(corrupted))
    with pytest.raises(ValueError, match="version"):
        resolve_dv(desc, root)
    # unknown storage type
    with pytest.raises(ValueError, match="storageType"):
        resolve_dv(dict(desc, storageType="x"), root)


def test_dv_file_layout_matches_spec(tmp_path):
    """Byte-level: [version=1] then per DV [size int32 BE][data][crc32 BE];
    offset points at the size field; sizeInBytes is the data length."""
    root = str(tmp_path / "t")
    descs = write_dv_file(root, [[7], [8, 9]], fs=LocalFileSystem())
    fp = os.path.join(root, dv_relative_path(descs[0]["pathOrInlineDv"]))
    blob = open(fp, "rb").read()
    assert blob[0] == 1
    pos = 1
    for d in descs:
        assert d["offset"] == pos
        (size,) = struct.unpack_from(">i", blob, pos)
        assert size == d["sizeInBytes"]
        data = blob[pos + 4 : pos + 4 + size]
        (crc,) = struct.unpack_from(">I", blob, pos + 4 + size)
        assert crc == (zlib.crc32(data) & 0xFFFFFFFF)
        assert deserialize_bitmap(data) == sorted(
            {7} if d is descs[0] else {8, 9}
        )
        pos += 4 + size + 4


# ---------------------------------------------------------------------------
# delete_where_dv / read / cdc integration


def _events(spark, n=40):
    return spark.createDataFrame(
        [(i, "click" if i % 2 else "view", float(i)) for i in range(n)],
        "event_id long, event_type string, value double",
    )


def test_delete_where_dv_round_trip(spark, tmp_path):
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark))
    v = t.delete_where_dv(spark, "event_id >= 30")
    assert v == 1
    left = t.read(spark)
    assert left.count() == 30
    assert left.agg(F.max("event_id")).first()[0] == 29
    # merge-on-read: the data file SET is unchanged (no rewrite) and the
    # touched files carry DV descriptors summing to the deleted count
    snap0, snap1 = t.snapshot(0), t.snapshot()
    assert set(snap0.files) == set(snap1.files)
    cards = [
        int(snap1.adds[p].get("deletionVector", {}).get("cardinality") or 0)
        for p in snap1.files
    ]
    assert sum(cards) == 10
    # time travel to v0 still sees every row
    assert t.read(spark, version=0).count() == 40


def test_delete_where_dv_union_on_redelete(spark, tmp_path):
    """Re-deleting from an already-DV-carrying file must UNION the old
    DV in (descriptors replace, they do not stack) — and re-deletion of
    the same rows is idempotent."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark).coalesce(1))
    t.delete_where_dv(spark, "event_id < 5")
    assert t.read(spark).count() == 35
    t.delete_where_dv(spark, "event_id >= 35")
    assert t.read(spark).count() == 30
    snap = t.snapshot()
    (path,) = snap.files
    dv = snap.adds[path]["deletionVector"]
    assert dv["cardinality"] == 10  # 0-4 ∪ 35-39
    # idempotent re-delete (already-deleted rows re-match the predicate)
    t.delete_where_dv(spark, "event_id < 5")
    assert t.read(spark).count() == 30
    assert t.snapshot().adds[path]["deletionVector"]["cardinality"] == 10


def test_delete_where_dv_non_local_fs_executor_staging(spark, tmp_path):
    """Object-store backend (r9 verdict #7, graduating r8 #8's
    fixture-scale shim): executors serialize the bitmaps — including
    the union with an existing DV, whose raw bytes ship to them — and
    the driver persists ONE packed .bin through the FileSystem
    abstraction. Row indexes never reach the driver; delete + re-delete
    union + idempotence must all hold on the in-memory object-store
    fake exactly as on the local backend."""
    root = str(tmp_path / "t")
    df = _events(spark, 40)
    os.makedirs(root, exist_ok=True)
    sub = os.path.join(root, "d0")
    df.coalesce(1).write.parquet(sub)
    (part,) = [f for f in os.listdir(sub) if f.endswith(".parquet")]
    mem = InMemoryFileSystem()
    mem.makedirs(os.path.join(root, "_delta_log"))
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "x", "schemaString": df.schema.json(),
                      "partitionColumns": [], "configuration": {}}},
        {"add": {"path": f"d0/{part}", "partitionValues": {}, "size": 1,
                 "modificationTime": 1, "dataChange": True}},
    ]
    mem.write_text(
        os.path.join(root, "_delta_log", f"{0:020d}.json"),
        "".join(json.dumps(a) + "\n" for a in actions),
    )
    t = DeltaTable(root, fs=mem)
    t.delete_where_dv(spark, "event_id >= 30")
    assert t.read(spark).count() == 30
    # the packed .bin lives on the object-store backend, not local disk
    dv_blobs = [p for p in mem.walk_files(root) if "deletion_vector_" in p]
    assert len(dv_blobs) == 1
    assert not [f for f in os.listdir(root) if f.startswith("deletion_vector_")]
    # re-delete unions the old bitmap in (old bytes → executors → union)
    t.delete_where_dv(spark, "event_id < 5")
    assert t.read(spark).count() == 25
    snap = t.snapshot()
    (path,) = snap.files
    assert snap.adds[path]["deletionVector"]["cardinality"] == 15
    # idempotent re-delete of already-DV-deleted rows
    t.delete_where_dv(spark, "event_id >= 30")
    assert t.read(spark).count() == 25


def test_delete_where_dv_protocol_merges_existing_features(spark, tmp_path):
    """ADVICE r7 #1: the DV protocol upgrade must not DROP pre-existing
    features (spec forbids removal) — timestampNtz must survive."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark))
    # hand-upgrade the table to a features protocol carrying timestampNtz
    with open(os.path.join(t.log_dir, f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1, "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["timestampNtz"],
            "writerFeatures": ["timestampNtz"]}}) + "\n")
    t.delete_where_dv(spark, "event_id = 0")
    p = t.snapshot().protocol
    assert "timestampNtz" in p["readerFeatures"]
    assert "deletionVectors" in p["readerFeatures"]
    assert "timestampNtz" in p["writerFeatures"]
    assert "deletionVectors" in p["writerFeatures"]


def test_legacy_upgrade_enumerates_implied_writer_features(spark, tmp_path):
    """Upgrading a legacy (1,2) table to table-features must enumerate
    the features version 2 implied (appendOnly, invariants)."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark))
    t.delete_where_dv(spark, "event_id = 0")
    p = t.snapshot().protocol
    assert p["minReaderVersion"] == 3 and p["minWriterVersion"] == 7
    assert set(p["writerFeatures"]) >= {"appendOnly", "invariants", "deletionVectors"}


def test_cdc_with_dv_filters_per_variant(spark, tmp_path):
    """cdc() over a DV lifecycle: the add carrying a DV contributes only
    LIVE rows; the remove of the pre-DV file carries no DV and re-emits
    all its rows as 'r'. Exercises the executor-side expansion path
    (VERDICT r7 #3)."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark, 20).coalesce(1))          # v0: 20 'c'
    t.delete_where_dv(spark, "event_id >= 15")       # v1: remove(no DV) + add(DV 5)
    cdc = t.cdc(spark, start_version=0)
    by = {(r["op"], r["_commit_version"]): r["cnt"]
          for r in cdc.groupBy("op", "_commit_version").agg(F.count("*").alias("cnt")).collect()}
    assert by[("c", 0)] == 20
    assert by[("r", 1)] == 20   # pre-DV file removed: all rows
    assert by[("c", 1)] == 15   # re-added with DV: live rows only


def test_remove_carries_dv_after_rewrite_delete(spark, tmp_path):
    """ADVICE r7 #2: delete_where (file rewrite) of a DV-carrying file
    must copy the DV onto its remove action, so cdc() does not
    double-report the already-deleted rows as removed."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark, 20).coalesce(1))
    t.delete_where_dv(spark, "event_id >= 15")       # v1: DV deletes 5
    t.delete_where(spark, "event_id < 3")            # v2: rewrite
    assert t.read(spark).count() == 12
    # the v2 remove action must carry the v1 DV descriptor
    removes = [a["remove"] for a in t.actions(2) if "remove" in a]
    assert any(r.get("deletionVector") for r in removes)
    cdc = t.cdc(spark, start_version=2)
    by = {r["op"]: r["cnt"] for r in cdc.groupBy("op").agg(F.count("*").alias("cnt")).collect()}
    assert by["r"] == 15        # only the 15 live rows, not 20
    assert by["c"] == 12


def test_merge_remove_carries_dv(spark, tmp_path):
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark, 20).coalesce(1))
    t.delete_where_dv(spark, "event_id >= 15")
    src = spark.createDataFrame(
        [(0, "click", 99.0)], "event_id long, event_type string, value double"
    )
    t.merge_upsert(spark, src, ["event_id"])
    assert t.read(spark).count() == 15
    assert t.read(spark).where("event_id = 0").first()["value"] == 99.0
    removes = [a["remove"] for a in t.actions(t.latest_version()) if "remove" in a]
    assert any(r.get("deletionVector") for r in removes)


@pytest.mark.parametrize("fs_kind", ["local", "memory"])
def test_handwritten_dv_table_read(spark, tmp_path, fs_kind):
    """Read a handwritten 2023+-style Delta table: u-file DV on one
    file, inline DV on another, third file clean — the exact shape an
    external DV-writing engine produces."""
    root = str(tmp_path / "hand_dv")
    df = _events(spark, 30)
    fs = LocalFileSystem()
    os.makedirs(root, exist_ok=True)
    parts = []
    for lo in (0, 10, 20):
        sub = os.path.join(root, f"d{lo}")
        df.where(f"event_id >= {lo} AND event_id < {lo + 10}").coalesce(1).write.parquet(sub)
        (pq,) = [f for f in os.listdir(sub) if f.endswith(".parquet")]
        parts.append(f"d{lo}/{pq}")
    (udesc,) = write_dv_file(root, [[0, 1]], fs=fs)  # first 2 rows of file 0
    idesc = inline_descriptor([9])                   # last row of file 1
    target_fs = fs if fs_kind == "local" else InMemoryFileSystem()
    if fs_kind == "memory":
        # mirror the control-plane files into the shim (data files stay
        # on disk — Spark reads them directly)
        with open(os.path.join(root, dv_relative_path(udesc["pathOrInlineDv"])), "rb") as f:
            blob = f.read()
        target_fs.makedirs(root)
        with target_fs.open_write(
            os.path.join(root, dv_relative_path(udesc["pathOrInlineDv"]))
        ) as f:
            f.write(blob)
    os.makedirs(os.path.join(root, "_delta_log"), exist_ok=True)
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "x", "schemaString": df.schema.json(),
                      "partitionColumns": [],
                      "configuration": {}}},
        {"add": {"path": parts[0], "partitionValues": {}, "size": 1,
                 "modificationTime": 1, "dataChange": True,
                 "deletionVector": udesc}},
        {"add": {"path": parts[1], "partitionValues": {}, "size": 1,
                 "modificationTime": 1, "dataChange": True,
                 "deletionVector": idesc}},
        {"add": {"path": parts[2], "partitionValues": {}, "size": 1,
                 "modificationTime": 1, "dataChange": True}},
    ]
    log_body = "".join(json.dumps(a) + "\n" for a in actions)
    target_fs.makedirs(os.path.join(root, "_delta_log"))
    target_fs.write_text(os.path.join(root, "_delta_log", f"{0:020d}.json"), log_body)
    t = DeltaTable(root, fs=target_fs)
    out = t.read(spark)
    assert out.count() == 27
    ids = {r.event_id for r in out.collect()}
    assert ids == set(range(30)) - {0, 1, 19}


def test_writer_feature_gate_rejects_unknown(spark, tmp_path):
    """ADVICE r7 #3: a table advertising an unimplemented writerFeature
    (e.g. icebergCompatV2 — rowTracking graduated to supported in
    round 8) must refuse DELETE/MERGE/overwrite commits."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark))
    with open(os.path.join(t.log_dir, f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1, "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["icebergCompatV2"]}}) + "\n")
    with pytest.raises(DeltaProtocolError, match="icebergCompatV2"):
        t.delete_where(spark, "event_id = 0")
    with pytest.raises(DeltaProtocolError, match="icebergCompatV2"):
        t.delete_where_dv(spark, "event_id = 0")
    with pytest.raises(DeltaProtocolError, match="icebergCompatV2"):
        t.write(_events(spark, 5), mode="overwrite")
    # reads are unaffected (reader protocol is fine)
    assert t.read(spark).count() == 40


def test_legacy_writer_versions_accepted_unknown_rejected(spark, tmp_path):
    """Round 8 lifted the legacy 3-6 gate: every implied feature
    (checkConstraints / CDF / generatedColumns / columnMapping /
    identityColumns) is implemented and enforced through its activation
    switch regardless of protocol version — so a legacy mwv=4 table is
    writable. A version NEWER than the table-features era still refuses
    (it could imply semantics we cannot honor)."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark))
    with open(os.path.join(t.log_dir, f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1, "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}}) + "\n")
    t.delete_where(spark, "event_id = 0")
    assert t.read(spark).count() == 39
    with open(os.path.join(t.log_dir, f"{3:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1, "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 9}}) + "\n")
    with pytest.raises(DeltaProtocolError, match="minWriterVersion=9"):
        t.delete_where(spark, "event_id = 1")


def test_append_only_table_refuses_data_changing_removes(spark, tmp_path):
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark))
    t2 = DeltaTable(str(tmp_path / "t"))
    # arm appendOnly via configuration (the spec's activation switch)
    snap = t2.snapshot()
    md = {"metaData": {"id": "x", "schemaString": snap.schema_string,
                       "partitionColumns": [],
                       "format": {"provider": "parquet", "options": {}},
                       "configuration": {"delta.appendOnly": "true"}}}
    t2._commit(snap, [md], operation="SET TBLPROPERTIES", read_version=snap.version)
    with pytest.raises(DeltaProtocolError, match="appendOnly"):
        t2.delete_where(spark, "event_id = 0")
    with pytest.raises(DeltaProtocolError, match="appendOnly"):
        t2.write(_events(spark, 3), mode="overwrite")
    # appends and OPTIMIZE stay legal
    t2.write(_events(spark, 3))
    t2.compact(spark, target_files=1)
    assert t2.read(spark).count() == 43


def test_column_mapping_plus_dv_read(spark, tmp_path):
    """The mapping+DV combination: a name-mode mapped table whose file
    carries a deletion vector — the DV anti-join runs on the PHYSICAL
    scan (row indexes address physical rows) and the rename to logical
    names happens after."""
    root = str(tmp_path / "cm_dv")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "c_aa long, c_bb double"
    )
    df.repartition(1).sortWithinPartitions("c_aa").write.parquet(os.path.join(root, "d"))
    (pq,) = [f for f in os.listdir(os.path.join(root, "d")) if f.endswith(".parquet")]
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "event_id", "type": "long", "nullable": True,
                 "metadata": {"delta.columnMapping.physicalName": "c_aa"}},
                {"name": "value", "type": "double", "nullable": True,
                 "metadata": {"delta.columnMapping.physicalName": "c_bb"}},
            ],
        }
    )
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors", "columnMapping"],
                      "writerFeatures": ["deletionVectors", "columnMapping"]}},
        {"metaData": {"id": "x", "schemaString": schema, "partitionColumns": [],
                      "configuration": {"delta.columnMapping.mode": "name"}}},
        {"add": {"path": f"d/{pq}", "partitionValues": {}, "size": 1,
                 "modificationTime": 1, "dataChange": True,
                 "deletionVector": inline_descriptor([0, 4, 9])}},
    ]
    os.makedirs(os.path.join(root, "_delta_log"))
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    out = DeltaTable(root).read(spark)
    assert set(out.columns) == {"event_id", "value"}
    assert {r.event_id for r in out.collect()} == {1, 2, 3, 5, 6, 7, 8}


def test_vacuum_reclaims_superseded_dv_files(spark, tmp_path):
    """A re-delete supersedes the file's previous DV descriptor; the old
    .bin becomes unreferenced and must age out under vacuum, while the
    live DV file survives ANY retention (never mtime-aged away)."""
    import glob

    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark, 30).coalesce(1))
    t.delete_where_dv(spark, "event_id < 5")    # DV file A
    t.delete_where_dv(spark, "event_id >= 25")  # DV file B (A∪new), A now stale
    bins = glob.glob(str(tmp_path / "t" / "deletion_vector_*.bin"))
    assert len(bins) == 2
    # retention larger than the files' age: nothing reclaimed
    assert t.vacuum(retention_ms=3_600_000) == []
    # zero retention: the superseded file goes, the live one stays
    gone = t.vacuum(retention_ms=0)
    assert len(gone) == 1 and gone[0].startswith("deletion_vector_")
    live_bins = glob.glob(str(tmp_path / "t" / "deletion_vector_*.bin"))
    assert len(live_bins) == 1
    out = t.read(spark)
    assert out.count() == 20
    assert {r.event_id for r in out.collect()} == set(range(5, 25))
    # another vacuum is a no-op (the live DV is referenced)
    assert t.vacuum(retention_ms=0) == []


def test_vacuum_protocol_check_feature(spark, tmp_path):
    """vacuumProtocolCheck (2023+ delta-spark tables carry it alongside
    deletionVectors): the table reads and vacuums normally — the
    feature's mandate is the full protocol gate BEFORE vacuum touches a
    file, which refuses when an unsupported writer feature appears."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_events(spark))
    with open(os.path.join(t.log_dir, f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1, "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["vacuumProtocolCheck"],
            "writerFeatures": ["vacuumProtocolCheck"]}}) + "\n")
    assert t.read(spark).count() == 40
    assert t.vacuum(retention_ms=-1) == []  # nothing unreferenced; gate passes
    # an unsupported writer feature makes vacuum refuse BEFORE deleting
    with open(os.path.join(t.log_dir, f"{2:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 2, "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["vacuumProtocolCheck"],
            "writerFeatures": ["vacuumProtocolCheck", "icebergCompatV2"]}}) + "\n")
    with pytest.raises(DeltaProtocolError, match="vacuum refused"):
        t.vacuum(retention_ms=-1)


def test_dv_readds_declare_untight_bounds(spark, tmp_path):
    """A DV-carrying add keeps physical numRecords and valid min/max,
    declared via stats.tightBounds=false (spec) — and pruning on the
    table still works (the bounds remain VALID, deletion only removes
    rows)."""
    import json

    t = DeltaTable(str(tmp_path / "tb"))
    t.write(_events(spark, 100).repartition(2))
    t.delete_where_dv(spark, "event_id % 10 = 1")
    snap = t.snapshot()
    dv_files = [p for p in snap.files
                if (snap.adds[p].get("deletionVector") or {}).get("cardinality")]
    assert dv_files
    for p in dv_files:
        s = json.loads(snap.adds[p]["stats"])
        assert s["tightBounds"] is False
        assert s["numRecords"] == 50  # physical, not post-delete
    # data skipping still exact on the DV table
    kept = t.prune_files(snap, [("event_id", ">=", 90)])
    assert t.read(spark, filters=[("event_id", ">=", 90)]).count() == 9
    assert len(kept) >= 1
