"""Shallow clone (Delta PROTOCOL.md absolute-path adds).

The clone is one metadata commit referencing the SOURCE table's data
files by absolute path — zero data copied — after which the two tables
evolve independently. Reference parity note: the reference connector
resolves add paths against the table root only (DeltaReader.java) —
absolute adds are the spec's extension of that surface, required for
any 2023+ cloned table.
"""

import os

import pytest
from pyspark.sql import functions as F

from pulsar_io_delta_spark.sources.delta_log import DeltaProtocolError, DeltaTable
from pulsar_io_delta_spark.tables import table


@pytest.fixture()
def src(spark, sf_dir, tmp_path):
    e = table(spark, str(sf_dir), "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = DeltaTable(str(tmp_path / "src"))
    t.write(e, partition_by=["event_type"])
    return t


def test_clone_equals_source_with_live_dv(spark, tmp_path, src):
    src.delete_where_dv(spark, "value < 0.1")
    clone = DeltaTable(str(tmp_path / "cl"))
    clone.clone_from(src)
    a, b = src.read(spark), clone.read(spark)
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # zero data copied: no parquet under the clone root
    data_files = [
        f
        for f in __import__("glob").glob(str(tmp_path / "cl" / "**" / "*.parquet"), recursive=True)
        if "_delta_log" not in f
    ]
    assert data_files == []


def test_clone_is_independent_and_vacuum_safe(spark, tmp_path, src):
    n_src = src.read(spark).count()
    clone = DeltaTable(str(tmp_path / "cl"))
    clone.clone_from(src)
    # delete inside the clone: removes of source-owned files are
    # metadata-only; the source is untouched
    clone.delete_where(
        spark, "event_type = 'error'", filters=[("event_type", "=", "error")]
    )
    assert clone.read(spark).where(F.col("event_type") == "error").count() == 0
    assert src.read(spark).count() == n_src
    # vacuum with retention -1 must NOT reach outside the clone root
    assert clone.vacuum(retention_ms=-1) == []
    assert src.read(spark).count() == n_src
    # and local writes mix with absolute adds in one scan
    extra = src.read(spark).limit(5).withColumn("event_type", F.lit("backfill"))
    clone.write(extra, mode="append", partition_by=["event_type"])
    assert clone.read(spark, filters=[("event_type", "=", "backfill")]).count() == 5
    # clone time travel: v0 is the clone commit
    assert clone.read(spark, version=0).count() == n_src


def test_clone_at_version_and_guards(spark, tmp_path, src):
    n0 = src.read(spark).count()
    src.delete_where_dv(spark, "value < 0.5")
    clone0 = DeltaTable(str(tmp_path / "cl0"))
    clone0.clone_from(src, version=0)  # pre-delete snapshot
    assert clone0.read(spark).count() == n0
    # non-empty target refuses
    with pytest.raises(DeltaProtocolError, match="already has a delta log"):
        clone0.clone_from(src)
    # clone-of-clone keeps absolute paths absolute (no double rebase)
    clone1 = DeltaTable(str(tmp_path / "cl1"))
    clone1.clone_from(clone0)
    assert clone1.read(spark).count() == n0
    for p in clone1.snapshot().files:
        assert os.path.isabs(p)
        assert str(tmp_path / "src") in p  # still the ORIGINAL owner's files


def test_clone_cdf_derives_inserts_with_dv_applied(spark, tmp_path, src):
    src.delete_where_dv(spark, "value < 0.1")
    live = src.read(spark).count()
    clone = DeltaTable(str(tmp_path / "cl"))
    clone.clone_from(src)
    tc = clone.table_changes(spark, 0, 0)
    assert tc.count() == live  # DV-deleted rows never surface as inserts
    assert tc.select("_change_type").distinct().collect()[0][0] == "insert"


def test_clone_dml_on_source_owned_files(spark, tmp_path, src):
    """UPDATE, DV DELETE and MERGE on a clone find the source-owned
    files their predicates touch by the logged absolute path: the clone
    changes, the source does not."""
    before = sorted(tuple(r) for r in src.read(spark).collect())
    clone = DeltaTable(str(tmp_path / "cl"))
    clone.clone_from(src)
    ids = [r.event_id for r in src.read(spark).orderBy("event_id").limit(3).collect()]
    clone.update_where(spark, f"event_id = {ids[0]}", {"value": "-1.0"})
    clone.delete_where_dv(spark, f"event_id = {ids[1]}")
    upsert = clone.read(spark).where(F.col("event_id") == ids[2]).withColumn("value", F.lit(-2.0))
    clone.merge_upsert(spark, upsert, ["event_id"])
    got = {r.event_id: r.value for r in clone.read(spark).where(F.col("event_id").isin(ids)).collect()}
    assert got == {ids[0]: -1.0, ids[2]: -2.0}
    assert clone.read(spark).count() == len(before) - 1
    assert sorted(tuple(r) for r in src.read(spark).collect()) == before
