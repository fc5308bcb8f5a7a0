"""Egress semantics against the fake in-process broker: murmur3 slot
parity end-to-end, per-partition ordering, batching, event time
(reference terminal stage: DeltaLakeConnectorSource.java:97-100,
DeltaRecord.java:195-234)."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from pulsar_io_delta_spark.functions.murmur3 import partition_id_for
from pulsar_io_delta_spark.operators.pipeline import to_pulsar_wire
from pulsar_io_delta_spark.streaming.fake_pulsar import FakeBroker, publish
from pulsar_io_delta_spark.tables import table

N_PART = 8


def test_wire_frame_routes_by_murmur3_end_to_end(spark, sf_dir):
    """Every message lands in the partition murmur3-seed-0 assigns its
    key — the frame's partition_id column and the producer agree."""
    d = table(spark, sf_dir, "documents")
    value = F.concat(F.lit('{"doc_id":'), F.col("doc_id").cast("string"), F.lit("}"))
    wire = to_pulsar_wire(d, "source", value, num_partitions=N_PART).orderBy("key")
    broker = FakeBroker()
    publish(wire, broker, "docs", N_PART)
    assert broker.total_messages("docs") == d.count()
    for p in range(N_PART):
        for msg in broker.partition_log("docs", p):
            assert partition_id_for(msg.key, N_PART) == p
    # the frame's own partition_id column matches the broker placement
    frame_slots = {r.key: r.partition_id for r in wire.select("key", "partition_id").collect()}
    for p in range(N_PART):
        for msg in broker.partition_log("docs", p):
            assert frame_slots[msg.key] == p


def test_per_partition_ordering_preserved(spark):
    """Rows published in frame order stay ordered within each partition
    (sequence ids strictly increasing per partition log)."""
    rows = [(f"key-{i % 20}", i) for i in range(1000)]
    df = spark.createDataFrame(rows, "key string, seq long").orderBy("seq")
    wire = df.select("key", F.col("seq").cast("string").cast("binary").alias("value"))
    broker = FakeBroker()
    publish(wire.coalesce(1), broker, "ordered", N_PART, batch_max=7)
    seen = 0
    for p in range(N_PART):
        log = broker.partition_log("ordered", p)
        seen += len(log)
        seqs = [m.sequence_id for m in log]
        assert seqs == sorted(seqs)  # broker order == producer order
        per_key: dict = {}
        for m in log:
            v = int(m.value.decode())
            assert per_key.get(m.key, -1) < v  # per-key monotone
            per_key[m.key] = v
    assert seen == 1000


def test_batching_flush_boundaries_and_event_time(spark):
    df = spark.createDataFrame(
        [(f"k{i}", f"v{i}", 1_700_000_000_000 + i) for i in range(25)],
        "key string, value string, ts long",
    )
    wire = df.select("key", F.col("value").cast("binary").alias("value"), "ts").orderBy("ts")
    broker = FakeBroker()
    producer = publish(wire, broker, "batched", 4, batch_max=10, event_time_col="ts")
    # 25 messages / batch_max 10 → 3 flushes (10, 10, 5-tail on close)
    assert producer.flushes == 3
    all_msgs = [m for p in range(4) for m in broker.partition_log("batched", p)]
    assert len(all_msgs) == 25
    by_seq = sorted(all_msgs, key=lambda m: m.sequence_id)
    assert [m.batch_id for m in by_seq] == [0] * 10 + [1] * 10 + [2] * 5
    for m in by_seq:
        assert m.event_time_ms == 1_700_000_000_000 + m.sequence_id
        assert m.properties["TS"] == str(m.event_time_ms)


def test_explicit_partition_overrides_routing():
    broker = FakeBroker()
    broker.create_topic("explicit", 4)
    from pulsar_io_delta_spark.streaming.fake_pulsar import FakePulsarProducer

    producer = FakePulsarProducer(broker, "explicit", batch_max=2)
    producer.send("any-key", b"x", partition=3)
    producer.close()
    assert len(broker.partition_log("explicit", 3)) == 1


def _reference_publish(wire, num_partitions, batch_max, event_time_col=None):
    """Row-by-row reference egress: ``partition_id_for`` per message over
    ``wire.collect()``, with the producer's sequence/batch numbering."""
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    logs = [[] for _ in range(num_partitions)]
    for seq, row in enumerate(wire.collect()):
        et = row[event_time_col] if event_time_col else None
        if isinstance(et, dt.datetime):
            et = (et.astimezone(dt.timezone.utc) - epoch) // dt.timedelta(milliseconds=1)
        slot = partition_id_for(row["key"], num_partitions)
        logs[slot].append((
            row["key"], bytes(row["value"]), slot, seq, seq // batch_max, et,
            {"TS": str(et)} if et is not None else {},
        ))
    return logs


def _broker_logs(broker, topic, num_partitions):
    return [
        [(m.key, m.value, m.partition, m.sequence_id, m.batch_id, m.event_time_ms, m.properties)
         for m in broker.partition_log(topic, p)]
        for p in range(num_partitions)
    ]


def test_publish_equals_rowwise_reference(spark, sf_dir):
    """The columnar drain of a multi-partition, sorted wire frame puts
    exactly what a per-row send loop over ``collect()`` would put into
    every slot log: same key, bytes, slot, sequence, batch and event time."""
    d = table(spark, sf_dir, "documents")
    value = F.concat(F.lit('{"doc_id":'), F.col("doc_id").cast("string"), F.lit("}"))
    wire = (
        to_pulsar_wire(d, "source", value, num_partitions=N_PART)
        .withColumn("ts", F.col("partition_id") * 10_000 + F.length("value"))
        .orderBy("key", "value")
    )
    # keep the sort's range partitions apart: the drain must reassemble them
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert wire.rdd.getNumPartitions() > 1
        broker = FakeBroker()
        producer = publish(wire, broker, "eq", N_PART, batch_max=13, event_time_col="ts")
        want = _reference_publish(wire, N_PART, 13, "ts")
    finally:
        spark.conf.set(key, prev)
    n = sum(map(len, want))
    assert n == d.count() > 13
    assert _broker_logs(broker, "eq", N_PART) == want
    assert producer.flushes == -(-n // 13)


def test_timestamp_event_time_col(spark):
    """A TimestampType event time becomes epoch ms (floored) and the TS
    property; a null timestamp carries neither."""
    df = spark.createDataFrame(
        [("a", "x", 1_700_000_000_123_456), ("b", "y", 1_700_000_000_999_999), ("c", "z", None)],
        "key string, value string, us long",
    )
    wire = df.select(
        "key",
        F.col("value").cast("binary").alias("value"),
        F.timestamp_micros("us").alias("ts"),
    ).orderBy("key")
    broker = FakeBroker()
    publish(wire, broker, "ts", 4, event_time_col="ts")
    got = _broker_logs(broker, "ts", 4)
    assert got == _reference_publish(wire, 4, 100, "ts")
    by_key = {m[0]: m for log in got for m in log}
    assert by_key["a"][5] == 1_700_000_000_123
    assert by_key["b"][5] == 1_700_000_000_999
    assert by_key["c"][5:] == (None, {})


def test_empty_frame_creates_topic_without_messages(spark):
    wire = spark.createDataFrame([], "key string, value binary")
    broker = FakeBroker()
    producer = publish(wire, broker, "empty", 4)
    assert broker.num_partitions("empty") == 4
    assert broker.total_messages("empty") == 0
    assert producer.flushes == 0


def test_one_broker_append_per_message(spark):
    """Flushes hand messages to the broker one ``append`` at a time, so a
    broker that observes appends (delivery stamping) sees every message."""

    class CountingBroker(FakeBroker):
        def __init__(self):
            super().__init__()
            self.appends = 0

        def append(self, topic, partition, msg):
            super().append(topic, partition, msg)
            self.appends += 1

    df = spark.createDataFrame([(f"k{i % 5}", str(i)) for i in range(47)], "key string, v string")
    wire = df.select("key", F.col("v").cast("binary").alias("value"))
    broker = CountingBroker()
    publish(wire, broker, "counted", 4, batch_max=10)
    assert broker.appends == broker.total_messages("counted") == 47


def test_null_key_fails_before_any_send(spark):
    df = spark.createDataFrame([("a", "1"), (None, "2"), ("b", "3"), (None, "4")], "key string, v string")
    wire = df.select("key", F.col("v").cast("binary").alias("value"))
    broker = FakeBroker()
    with pytest.raises(ValueError, match=r"'nullkeys'.*2 row"):
        publish(wire, broker, "nullkeys", 4)
    assert broker.total_messages("nullkeys") == 0
