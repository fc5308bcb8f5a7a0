"""CDC envelope + canonical partition-value encoding.

Rebuilds the reference's record envelope (SURVEY §1.4) as ordinary
DataFrame columns:

- ``op``: 'c' (insert / AddFile), 'r' (delete / RemoveFile),
  'm' (schema change / Metadata) — reference ``DeltaRecord.java:60-99``.
- ``partition_value``: TreeMap-sorted ``k=v`` concatenation with **no
  separator between pairs** — the reference's quirk is preserved
  byte-for-byte (``DeltaReader.java:290-299``); a null value renders as
  ``null``. This module owns the format: ``partition_value_expr`` builds
  it from columns, ``partition_value_str`` from a file's log-recorded
  partition values.
- ``ts``: event time (file modification / deletion timestamp);
  ``capture_ts`` (processing time) exists as an optional column but is
  excluded from verified outputs (non-deterministic).

All transforms are narrow (no shuffle). The murmur3-seed-0 routing slot
(``DeltaReader.java:60-63``) is not an envelope column: it is computed
once, at the producer boundary (``operators/pipeline.to_pulsar_wire``,
``streaming/fake_pulsar.publish``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


OP_INSERT = "c"
OP_DELETE = "r"
OP_METADATA = "m"


def partition_value_expr(partition_cols: dict[str, Column]) -> Column:
    """Canonical partition-value string: keys sorted, ``k=v`` pairs
    concatenated with no separator (reference `DeltaReader.java:290-299`).

    A NULL partition value encodes as the literal ``null`` — the
    StringBuilder.append behavior of the reference — rather than
    nulling the whole string (F.concat is null-propagating)."""
    pieces: list[Column] = []
    for key in sorted(partition_cols):
        pieces.append(F.lit(f"{key}="))
        pieces.append(F.coalesce(partition_cols[key].cast("string"), F.lit("null")))
    return F.concat(*pieces)


def partition_value_str(partition_values: dict[str, str | None]) -> str:
    """``partition_value_expr`` for a file's log-recorded (protocol-form)
    partition values: the same ``k=v`` string, a null rendering as
    ``null``."""
    return "".join(
        f"{k}={'null' if v is None else v}" for k, v in sorted(partition_values.items())
    )


def cdc_envelope(
    df: DataFrame,
    op: str,
    partition_cols: dict[str, Column],
    event_time: Column | None = None,
    with_capture_ts: bool = False,
) -> DataFrame:
    """Attach the CDC envelope columns to a batch of rows."""
    out = df.withColumn("op", F.lit(op)).withColumn(
        "partition_value", partition_value_expr(partition_cols)
    )
    if event_time is not None:
        out = out.withColumn("ts", event_time)
    if with_capture_ts:
        out = out.withColumn("capture_ts", F.current_timestamp())
    return out
