"""Connector lifecycle: config validation, checkpoint ordering,
instance assignment, bootstrap vs incremental semantics."""

import json

import pytest
import pyspark.sql.functions as F
from pyspark.sql.types import StructType

from pulsar_io_delta_spark.connector import (
    FULL_COPY,
    INCREMENTAL_COPY,
    LATEST,
    Checkpoint,
    ConfigError,
    ConnectorConfig,
    DeltaCdcConnector,
    assigned_partitions,
)
from pulsar_io_delta_spark.functions.murmur3 import partition_id_for
from pulsar_io_delta_spark.operators.pipeline import to_pulsar_wire
from pulsar_io_delta_spark.sources.datasource import ENVELOPE_FIELDS
from pulsar_io_delta_spark.sources.delta_log import DeltaTable


def test_config_rules():
    c = ConnectorConfig.load({"tablePath": "/t", "startingVersion": "latest"})
    assert c.starting_version == LATEST and c.include_history_data is False
    c2 = ConnectorConfig.load({"tablePath": "/t", "startingTimestamp": "2024-01-01T00:00:00Z"})
    assert c2.starting_timestamp_ms == 1704067200000
    with pytest.raises(ConfigError):
        ConnectorConfig.load({})
    with pytest.raises(ConfigError):
        ConnectorConfig.load({"tablePath": "/t", "startingVersion": 1, "startingTimestamp": "2024-01-01"})
    with pytest.raises(ConfigError):
        ConnectorConfig.load({"tablePath": "/t", "startingTimestamp": "not-a-date"})


def test_checkpoint_total_order():
    """FULL_COPY precedes INCREMENTAL_COPY; then version/file/row —
    the intended fix of SURVEY §2.4 #7."""
    assert Checkpoint(FULL_COPY, 5, 0, 0) < Checkpoint(INCREMENTAL_COPY, 0, 0, 0)
    assert Checkpoint(INCREMENTAL_COPY, 1, 0, 0) < Checkpoint(INCREMENTAL_COPY, 1, 0, 1)
    assert Checkpoint(INCREMENTAL_COPY, 1, 2, 0) < Checkpoint(INCREMENTAL_COPY, 2, 0, 0)
    # value equality, not object identity (ref compared boxed Longs with !=)
    assert Checkpoint(INCREMENTAL_COPY, 1000, 0, 0) == Checkpoint(INCREMENTAL_COPY, 1000, 0, 0)


def test_assigned_partitions_round_robin():
    """Intended semantics of the inverted guard (SURVEY §2.4 #2)."""
    assert assigned_partitions(8, 0, 3) == [0, 3, 6]
    assert assigned_partitions(8, 1, 3) == [1, 4, 7]
    assert assigned_partitions(8, 2, 3) == [2, 5]
    allp = sorted(p for i in range(3) for p in assigned_partitions(8, i, 3))
    assert allp == list(range(8))  # complete, disjoint cover
    with pytest.raises(ConfigError):
        assigned_partitions(8, 3, 3)


@pytest.fixture()
def populated(spark, tmp_path):
    path = str(tmp_path / "tbl")
    t = DeltaTable(path)
    df = spark.createDataFrame(
        [(i, "click" if i % 2 == 0 else "buy", float(i)) for i in range(20)],
        "event_id long, event_type string, value double",
    )
    t.write(df, partition_by=["event_type"])                      # v0: 20 rows
    t.write(df.where("event_id >= 18").withColumn("value", F.col("value") * 10),
            partition_by=["event_type"])                          # v1: +2 rows
    return path


def test_full_copy_bootstrap_plus_tail(spark, populated):
    cfg = ConnectorConfig.load(
        {"tablePath": populated, "startingVersion": 0, "includeHistoryData": True}
    )
    conn = DeltaCdcConnector(cfg)
    out = conn.read(spark)
    assert conn.start.state == FULL_COPY
    # bootstrap 20 (v0 snapshot) + 2 incremental adds from v1
    assert out.count() == 22
    assert set(out.select("op").distinct().toPandas()["op"]) == {"c"}
    # one envelope schema: the stream source's, with no routing column
    envelope = StructType.fromJson({"type": "struct", "fields": json.loads(f"[{ENVELOPE_FIELDS}]")})
    for frame in (out, conn.bootstrap(spark), conn.tail(spark, 1)):
        assert "partition_id" not in frame.columns
        assert {f.name: frame.schema[f.name].dataType for f in envelope} == {
            f.name: f.dataType for f in envelope
        }
    # the slot is computed once, at the producer boundary
    wire = to_pulsar_wire(out, "partition_value", F.col("event_id").cast("string"), 8)
    rows = wire.select("key", "partition_id").collect()
    assert len(rows) == 22
    for r in rows:
        assert r.partition_id == partition_id_for(r.key, 8)


def test_connector_plans_without_spark_jobs(spark, populated):
    """Building the bootstrap and poll frames is planning only: no
    eager Spark job runs until the caller executes them."""
    conn = DeltaCdcConnector(
        ConnectorConfig.load({"tablePath": populated, "startingVersion": 0, "includeHistoryData": True})
    )
    conn.open()
    sc = spark.sparkContext
    for i, build in enumerate((
        lambda: conn.bootstrap(spark),
        lambda: conn.poll(spark, Checkpoint(INCREMENTAL_COPY, 0))[0],
    )):
        group = f"connector-plan-{i}"
        sc.setJobGroup(group, "plan only")
        try:
            df = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert df is not None
        assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_poll_delivers_racing_commit_once(spark, populated, monkeypatch):
    """A commit that lands between ``poll``'s read of the head and its
    change read belongs to the next poll only: across two polls every
    id is delivered exactly once."""
    t = DeltaTable(populated)
    rows = lambda lo: spark.createDataFrame(  # noqa: E731
        [(i, "click", float(i)) for i in range(lo, lo + 3)],
        "event_id long, event_type string, value double",
    )
    t.write(rows(100), partition_by=["event_type"])  # v2
    conn = DeltaCdcConnector(ConnectorConfig.load({"tablePath": populated, "startingVersion": 1}))
    latest = DeltaTable.latest_version

    def racing(self):
        v = latest(self)
        monkeypatch.setattr(DeltaTable, "latest_version", latest)
        DeltaTable(populated).write(rows(200), partition_by=["event_type"])  # v3
        return v

    monkeypatch.setattr(DeltaTable, "latest_version", racing)
    ids = []
    cursor = Checkpoint(INCREMENTAL_COPY, 1)
    for _ in range(2):
        df, cursor = conn.poll(spark, cursor)
        ids += [r.event_id for r in df.select("event_id").collect()]
    assert cursor.snapshot_version == 3
    assert sorted(ids) == [100, 101, 102, 200, 201, 202]


def test_incremental_only(spark, populated):
    cfg = ConnectorConfig.load({"tablePath": populated, "startingVersion": 1})
    conn = DeltaCdcConnector(cfg)
    out = conn.read(spark)
    assert conn.start.state == INCREMENTAL_COPY
    assert out.count() == 2  # only the v1 adds
    assert {r._commit_version for r in out.select("_commit_version").collect()} == {1}


def test_latest_resolution(spark, populated):
    cfg = ConnectorConfig.load({"tablePath": populated, "startingVersion": "latest"})
    conn = DeltaCdcConnector(cfg)
    conn.open()
    assert conn.start.snapshot_version == 1
