"""In-process fake Pulsar broker + producer: the terminal egress stage.

The reference's last hop hands every CDC record to a Pulsar producer —
``DeltaLakeConnectorSource.java:97-100`` enqueues ``DeltaRecord``s whose
schema/event-time/partition-index the broker consumes
(``DeltaRecord.java:195-234``): event time from the TS property, the
partition index from murmur3-seed-0 over the canonical partition value.
No broker or client library exists in this sandbox, so this module
closes the egress semantic with an in-process test double:

- ``FakeBroker`` — topic → fixed partition list, each an append-only,
  per-partition-ordered message log (what a single-consumer reader of
  that partition would observe);
- ``FakePulsarProducer`` — key-routed ``send()`` with murmur3-seed-0
  slot assignment (`DeltaReader.java:60-63` parity via
  ``functions.murmur3``), client-side batching (``batch_max`` messages
  per flush, batch id recorded per message, order preserved across
  flushes), and per-message event time + properties;
- ``publish`` — drives a DataFrame through the producer.

Scale note: the broker object is driver-side, so ``publish`` collects
the frame's key, value and event-time columns with one ``toArrow()`` —
every partition in one job, in frame order — and routes in the driver,
hashing each distinct key once. The whole frame then sits on the
driver, which the in-memory broker holds anyway; this is the right
shape for a TEST double. The production analog keeps the exact same
frame and send() sequence but runs ``df.foreachPartition`` with one
real client per executor task; per-partition ordering then holds per
producer, which is Pulsar's own guarantee for key-routed sends from a
single producer.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame

from pulsar_io_delta_spark.functions.murmur3 import partition_id_for, slots_for


@dataclass
class FakeMessage:
    key: str
    value: bytes
    partition: int
    sequence_id: int  # producer-assigned, gapless per producer
    batch_id: int  # flush batch the message shipped in
    event_time_ms: int | None = None
    properties: dict = field(default_factory=dict)


class FakeBroker:
    """Partitioned topics as append-only in-memory logs."""

    def __init__(self) -> None:
        self._topics: dict[str, list[list[FakeMessage]]] = {}
        self._lock = threading.Lock()

    def create_topic(self, topic: str, partitions: int) -> None:
        with self._lock:
            if topic in self._topics and len(self._topics[topic]) != partitions:
                raise ValueError(f"topic {topic} exists with different partitions")
            self._topics.setdefault(topic, [[] for _ in range(partitions)])

    def num_partitions(self, topic: str) -> int:
        return len(self._topics[topic])

    def append(self, topic: str, partition: int, msg: FakeMessage) -> None:
        with self._lock:
            self._topics[topic][partition].append(msg)

    def partition_log(self, topic: str, partition: int) -> list[FakeMessage]:
        """Messages in broker arrival order — what a consumer reads."""
        return list(self._topics[topic][partition])

    def total_messages(self, topic: str) -> int:
        return sum(len(p) for p in self._topics[topic])


class FakePulsarProducer:
    """Key-routed batching producer against a FakeBroker.

    ``send()`` buffers; a buffer reaching ``batch_max`` flushes to the
    broker in send order (Pulsar's batch container semantics: batching
    never reorders). ``close()`` flushes the tail."""

    def __init__(self, broker: FakeBroker, topic: str, batch_max: int = 100) -> None:
        broker_partitions = broker.num_partitions(topic)
        self.broker = broker
        self.topic = topic
        self.num_partitions = broker_partitions
        self.batch_max = batch_max
        self._buffer: list[FakeMessage] = []
        self._seq = 0
        self._batch = 0
        self.flushes = 0

    def send(
        self,
        key: str,
        value: bytes,
        event_time_ms: int | None = None,
        properties: dict | None = None,
        partition: int | None = None,
    ) -> int:
        """Route by murmur3-seed-0 over the key (reference parity)
        unless an explicit partition is given. Returns the sequence id."""
        slot = partition_id_for(key, self.num_partitions) if partition is None else partition
        msg = FakeMessage(
            key=key,
            value=bytes(value),
            partition=slot,
            sequence_id=self._seq,
            batch_id=self._batch,
            event_time_ms=event_time_ms,
            properties=dict(properties or {}),
        )
        self._seq += 1
        self._buffer.append(msg)
        if len(self._buffer) >= self.batch_max:
            self.flush()
        return msg.sequence_id

    def flush(self) -> None:
        if not self._buffer:
            return
        for msg in self._buffer:
            self.broker.append(self.topic, msg.partition, msg)
        self._buffer.clear()
        self._batch += 1
        self.flushes += 1

    def close(self) -> None:
        self.flush()


def wire_payload(wire: DataFrame, event_time_col: str | None = None) -> DataFrame:
    """The columns ``publish`` reads from a wire frame: key, value and,
    when the frame has it, the event-time column. Routing is computed
    from ``key``, so a ``partition_id`` column is pruned from the plan."""
    cols = ["key", "value"]
    if event_time_col and event_time_col in wire.columns:
        cols.append(event_time_col)
    return wire.select(*cols)


def _event_times_ms(col: pa.ChunkedArray) -> list[int | None]:
    """Epoch milliseconds per row; timestamps (collected as micros)
    floor to the millisecond, other types are taken as ms already."""
    if pa.types.is_timestamp(col.type):
        return [None if v is None else v // 1000 for v in col.cast(pa.int64()).to_pylist()]
    return [None if v is None else int(v) for v in col.to_pylist()]


def publish(
    wire: DataFrame,
    broker: FakeBroker,
    topic: str,
    num_partitions: int,
    batch_max: int = 100,
    event_time_col: str | None = None,
) -> FakePulsarProducer:
    """Drive a wire frame (key string, value binary[, event time]) into
    the fake broker, preserving the frame's row order (sort upstream for
    deterministic per-partition sequences). A null key raises
    ``ValueError`` before anything is sent."""
    broker.create_topic(topic, num_partitions)
    producer = FakePulsarProducer(broker, topic, batch_max=batch_max)
    frame = wire_payload(wire, event_time_col).toArrow()
    nulls = frame.column("key").null_count
    if nulls:
        raise ValueError(f"publish to topic {topic!r}: {nulls} row(s) with a null key")
    keys = frame.column("key").to_numpy()
    slots = slots_for(keys, producer.num_partitions).tolist()
    values = frame.column("value").to_numpy()
    times = (
        _event_times_ms(frame.column(event_time_col))
        if frame.num_columns == 3
        else [None] * frame.num_rows
    )
    for key, value, slot, et in zip(keys, values, slots, times):
        producer.send(
            key=key,
            value=value if isinstance(value, (bytes, bytearray)) else str(value).encode(),
            event_time_ms=et,
            properties={"TS": str(et)} if et is not None else {},
            partition=slot,
        )
    producer.close()
    return producer


__all__ = ["FakeBroker", "FakePulsarProducer", "FakeMessage", "publish", "wire_payload"]
