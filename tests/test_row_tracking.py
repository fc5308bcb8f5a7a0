"""Row tracking (Delta PROTOCOL.md "Row Tracking"): every add carries
baseRowId + defaultRowCommitVersion, fresh ids never collide (the
delta.rowTracking domain's rowIdHighWaterMark only advances), and a
row keeps its id across DV deletes, OPTIMIZE, PURGE, and DELETE-rewrite
survival, UPDATE, and MERGE — rewrites carry identity through the
spec's materialized columns; modified rows take the mutating commit's
version. v1 limits (MIGRATION.md): column-mapped tables refuse row-id
reads; enablement is creating-write-only.
"""

import json

import pytest
from pyspark.sql import functions as F

from pulsar_io_delta_spark.sources.delta_log import (
    DeltaConcurrentCommit,
    DeltaProtocolError,
    DeltaTable,
)

RT = {"delta.enableRowTracking": "true"}


def _mk(spark, n, lo=0):
    return spark.range(lo, lo + n).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )


@pytest.fixture()
def tbl(spark, tmp_path):
    t = DeltaTable(str(tmp_path / "rt"))
    t.write(_mk(spark, 10).coalesce(1).sortWithinPartitions("k"), configuration=RT)
    return t


def _ids(spark, t):
    return {
        r.k: (r.row_id, r.row_commit_version)
        for r in t.read_with_row_ids(spark).collect()
    }


def test_fresh_assignment_and_hwm_advance(spark, tbl):
    assert _ids(spark, tbl) == {k: (k, 0) for k in range(10)}
    # protocol declares the writer features; ids continue past the hwm
    p = tbl.snapshot().protocol
    assert {"rowTracking", "domainMetadata"} <= set(p["writerFeatures"])
    tbl.write(_mk(spark, 5, lo=100).coalesce(1).sortWithinPartitions("k"))
    ids = _ids(spark, tbl)
    assert sorted(i for i, _ in ids.values()) == list(range(15))
    assert all(rcv == 1 for k, (_, rcv) in ids.items() if k >= 100)


def test_ids_survive_dv_delete_optimize_purge_and_rewrite(spark, tbl):
    before = _ids(spark, tbl)
    tbl.delete_where_dv(spark, "k % 3 = 0")  # DV: file untouched
    after_dv = _ids(spark, tbl)
    assert after_dv == {k: v for k, v in before.items() if k % 3 != 0}
    tbl.reorg_purge(spark)  # materializes ids into clean files
    assert _ids(spark, tbl) == after_dv
    tbl.compact(spark)  # OPTIMIZE preserves via materialized cols
    assert _ids(spark, tbl) == after_dv
    tbl.delete_where(spark, "k = 4")  # rewrite: survivors keep ids
    assert _ids(spark, tbl) == {k: v for k, v in after_dv.items() if k != 4}


def test_ids_survive_checkpoint_and_clone(spark, tbl, tmp_path):
    before = _ids(spark, tbl)
    tbl.checkpoint()
    assert _ids(spark, tbl) == before
    # hwm survives the checkpoint: the next append must not collide
    tbl.write(_mk(spark, 3, lo=50).coalesce(1))
    ids = sorted(i for i, _ in _ids(spark, tbl).values())
    assert ids == list(range(13))
    # a shallow clone keeps ids AND the high-water mark
    c = DeltaTable(str(tmp_path / "cl"))
    c.clone_from(tbl)
    assert _ids(spark, c) == _ids(spark, tbl)
    c.write(_mk(spark, 2, lo=90).coalesce(1))
    assert sorted(i for i, _ in _ids(spark, c).values()) == list(range(15))


def test_lost_race_restamps_instead_of_colliding(spark, tbl):
    # a snapshot-dependent commit that loses its race must come back
    # UNSTAMPED so the caller's retry re-derives ids from the racer's
    # high-water mark
    adds = [
        a["add"]
        for a in tbl.actions(0)
        if "add" in a
    ]
    fresh = {k: v for k, v in adds[0].items() if k not in ("baseRowId", "defaultRowCommitVersion")}
    fresh["path"] = adds[0]["path"]  # same file re-added (shape only)
    with pytest.raises(DeltaConcurrentCommit):
        tbl._commit(
            tbl.snapshot(),
            [{"add": dict(fresh)}],
            operation="APPEND",
            read_version=tbl.snapshot().version + 5,  # guaranteed stale
        )
    assert "baseRowId" not in fresh


def test_row_id_read_refused_without_feature(spark, tmp_path):
    t = DeltaTable(str(tmp_path / "plain"))
    t.write(_mk(spark, 4))
    with pytest.raises(DeltaProtocolError, match="row tracking"):
        t.read_with_row_ids(spark)


def test_hwm_domain_matches_assignment(spark, tbl):
    dm = tbl.snapshot().domain_metadata["delta.rowTracking"]
    assert json.loads(dm["configuration"])["rowIdHighWaterMark"] == 9
    tbl.write(_mk(spark, 7, lo=30).coalesce(1))
    dm = tbl.snapshot().domain_metadata["delta.rowTracking"]
    assert json.loads(dm["configuration"])["rowIdHighWaterMark"] == 16


def test_update_where_preserves_ids_and_bumps_rcv(spark, tbl):
    before = _ids(spark, tbl)
    v = tbl.update_where(spark, "k % 2 = 0", {"v": "v + 1000"})
    ids = _ids(spark, tbl)
    assert {k: i for k, (i, _) in ids.items()} == {
        k: i for k, (i, _) in before.items()
    }
    # modified rows carry THIS commit's version; untouched-by-predicate
    # rows (same rewritten file) keep their original one
    assert all(rcv == v for k, (_, rcv) in ids.items() if k % 2 == 0)
    assert all(rcv == 0 for k, (_, rcv) in ids.items() if k % 2 == 1)
    got = {r.k: r.v for r in tbl.read(spark).collect()}
    assert got[2] == 1004.0 and got[3] == 6.0


def test_merge_preserves_matched_ids_freshens_inserts(spark, tbl):
    before = _ids(spark, tbl)
    src = spark.createDataFrame(
        [(4, 400.0), (7, 700.0), (1000, 1.0)], "k long, v double"
    )
    v = tbl.merge_upsert(spark, src, key_cols=["k"])
    ids = _ids(spark, tbl)
    # matched rows keep their ids, at the merge commit's version
    assert ids[4] == (before[4][0], v) and ids[7] == (before[7][0], v)
    # survivors in rewritten files keep id AND original version
    assert ids[3] == before[3]
    # the insert gets a FRESH id past every previously-assigned one
    # (baseRowId + its position in the new file — above the old hwm)
    assert ids[1000][0] > max(i for i, _ in before.values())
    assert ids[1000][1] == v
    assert len({i for i, _ in ids.values()}) == len(ids)


def test_in_place_enablement_backfills_existing_files(spark, tmp_path):
    t = DeltaTable(str(tmp_path / "up"))
    t.write(_mk(spark, 10).coalesce(1).sortWithinPartitions("k"))   # plain v0
    t.write(_mk(spark, 5, lo=50).coalesce(1).sortWithinPartitions("k"))  # v1
    v = t.enable_row_tracking(spark)
    ids = _ids(spark, t)
    # every existing row got a unique id; ids cover 0..14
    assert sorted(i for i, _ in ids.values()) == list(range(15))
    # backfilled rows carry the UPGRADE commit's version
    assert {rcv for _i, rcv in ids.values()} == {v}
    assert json.loads(
        t.snapshot().domain_metadata["delta.rowTracking"]["configuration"]
    )["rowIdHighWaterMark"] == 14
    # idempotent; later lifecycle behaves like a born-tracked table
    assert t.enable_row_tracking(spark) == v
    t.delete_where_dv(spark, "k % 5 = 0")
    t.compact(spark)
    after = _ids(spark, t)
    assert after == {k: i for k, i in ids.items() if k % 5 != 0}
    t.write(_mk(spark, 3, lo=200).coalesce(1))
    final = _ids(spark, t)
    # appended rows take fresh ids ABOVE the hwm (which also advanced
    # through the compact rewrite — ids are never reused), old rows
    # keep theirs, and everything stays unique
    assert {k: v for k, v in final.items() if k < 200} == after
    assert all(i > 14 for k, (i, _) in final.items() if k >= 200)
    assert len({i for i, _ in final.values()}) == len(final)
