"""Murmur3 x86 32-bit, seed 0, over UTF-8 bytes — routing-parity hash.

The reference routes records to topic partitions with
``Murmur3_32Hash(partition_value_string) & MAX_INT % numPartitions``
(reference ``DeltaReader.java:60-63``; vendored algorithm
``Murmur32Hash.java:29-99``). Spark's built-in ``hash()`` is murmur3
with seed 42 over typed values, so byte-exact parity needs this
implementation. It is used only where slot-number parity matters: at
the producer boundary (``to_pulsar_wire``'s ``partition_id`` column and
``fake_pulsar.publish``, the one place a CDC record gets its slot), in
``q_hash_route`` and in the DuckDB oracles. Internal repartitioning
uses plain ``repartition(n, col)``, which is already murmur3-based.

Scale note: no per-row Python. ``slots_for`` hashes each batch's
distinct keys with the column-at-a-time numpy kernel and maps the
slots back to the rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Pure-python murmurhash3_x86_32 (public-domain algorithm)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    length = len(data)
    rounded = length & ~0x3
    for i in range(0, rounded, 4):
        k = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16) | (data[i + 3] << 24)
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = length & 0x3
    if tail >= 3:
        k ^= data[rounded + 2] << 16
    if tail >= 2:
        k ^= data[rounded + 1] << 8
    if tail >= 1:
        k ^= data[rounded]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= length
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def partition_id_for(value: str, num_partitions: int) -> int:
    """Slot id per the reference: hash & Integer.MAX_VALUE % n."""
    return (murmur3_32(value.encode("utf-8")) & 0x7FFFFFFF) % num_partitions


def murmur3_32_batch(values: "pd.Series | list[str]") -> np.ndarray:
    """Vectorized murmurhash3_x86_32 seed-0 over UTF-8 strings.

    Column-at-a-time numpy kernel: rows are zero-padded into an
    [n, ceil(max_len/4)] little-endian uint32 block matrix, then the
    mix loop runs once per BLOCK COLUMN (vectorized across all rows,
    masked to rows long enough to own that block) instead of once per
    row — ~max_len/4 numpy passes regardless of row count. Byte-exact
    with ``murmur3_32`` (asserted in test_murmur3.py)."""
    if isinstance(values, pd.Series):
        values = values.tolist()
    n = len(values)
    if n == 0:
        return np.empty(0, dtype=np.uint32)
    bufs = [v.encode("utf-8") for v in values]
    lengths = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n)
    max_len = int(lengths.max())
    width = ((max_len + 3) // 4) * 4 if max_len else 4
    flat = np.zeros(n * width, dtype=np.uint8)
    # one fancy-indexed scatter for the whole batch (no per-row loop):
    # byte g of the concatenation, belonging to row i at intra-row
    # offset (g - start_i), lands at i*width + g - start_i
    src = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    if src.size:
        starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
        dst = np.repeat(np.arange(n, dtype=np.int64) * width - starts, lengths)
        dst += np.arange(src.size, dtype=np.int64)
        flat[dst] = src
    blocks = flat.view("<u4").reshape(n, width // 4)
    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)
    h = np.zeros(n, dtype=np.uint32)
    full_blocks = (lengths // 4).astype(np.int64)
    with np.errstate(over="ignore"):
        for j in range(blocks.shape[1]):
            mask = full_blocks > j
            if not mask.any():
                break
            k = blocks[mask, j] * c1
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k *= c2
            hm = h[mask] ^ k
            hm = (hm << np.uint32(13)) | (hm >> np.uint32(19))
            h[mask] = hm * np.uint32(5) + np.uint32(0xE6546B64)
        # tail: the last partial block, masked per tail length
        tail_len = lengths & 3
        has_tail = tail_len > 0
        if has_tail.any():
            tail_block = blocks[np.arange(n), full_blocks.clip(max=blocks.shape[1] - 1)]
            # zero-padded matrix means the tail block already holds the
            # 1-3 tail bytes little-endian with zero fill — mask to width
            keep = (np.uint64(1) << (np.uint64(8) * tail_len.astype(np.uint64))) - np.uint64(1)
            k = (tail_block.astype(np.uint64) & keep).astype(np.uint32)
            k *= c1
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k *= c2
            h = np.where(has_tail, h ^ k, h)
        h ^= lengths.astype(np.uint32)
        h ^= h >> np.uint32(16)
        h *= np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h *= np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
    return h


def slots_for(keys: "pd.Series | np.ndarray | list[str]", num_partitions: int) -> np.ndarray:
    """Routing slot per key (int64), ``partition_id_for`` over a batch:
    each distinct key is hashed once with ``murmur3_32_batch`` and the
    slots are mapped back to every row. Keys must not be null."""
    codes, uniques = pd.factorize(np.asarray(keys, dtype=object))
    if (codes < 0).any():
        raise ValueError("slots_for: null key")
    hashed = murmur3_32_batch(list(uniques)) & np.uint32(0x7FFFFFFF)
    return (hashed % np.uint32(num_partitions)).astype(np.int64)[codes]


def murmur3_route_col(col: Column, num_partitions: int) -> Column:
    """Column of routing slot ids (BIGINT), Arrow-batched + numpy-
    vectorized (no per-row Python in the sink-edge routing path)."""

    @pandas_udf("long")
    def _route(s: pd.Series) -> pd.Series:
        # null keys route to null (callers encode null partition values
        # as the literal 'null' upstream — see partition_value_expr)
        out = pd.Series([pd.NA] * len(s), index=s.index, dtype="Int64")
        mask = s.notna()
        if mask.any():
            out[mask] = slots_for(s[mask], num_partitions)
        return out

    return _route(col)


_LOWCARD_MAX_DISTINCT = 10_000


def with_route_lowcard(df, value: Column, num_partitions: int):
    """Attach a ``partition_id`` routing slot for a LOW-CARDINALITY key
    (a partition value — the reference's actual routing input,
    DeltaReader.java:60-63) without moving the full column through
    Arrow: collect the distinct keys at plan time (map-side-combined —
    only the key set reaches the driver, like a broadcast dim), hash
    them with the numpy kernel, and emit a LITERAL map lookup. The
    per-row path is one narrow JVM projection — no Python round trip,
    no extra exchange. The collect is an eager job, paid even when
    ``partition_id`` is pruned later. Falls back to the vectorized UDF
    column above ``_LOWCARD_MAX_DISTINCT`` keys or on a null key."""
    keyed = df.withColumn("_route_key", value)
    rows = keyed.select("_route_key").distinct().limit(_LOWCARD_MAX_DISTINCT + 1).collect()
    keys = [r._route_key for r in rows]
    if len(keys) > _LOWCARD_MAX_DISTINCT or any(k is None for k in keys):
        return keyed.drop("_route_key").withColumn(
            "partition_id", murmur3_route_col(value, num_partitions)
        )
    slots = slots_for(keys, num_partitions).tolist()
    pairs = [x for k, s in zip(keys, slots) for x in (F.lit(k), F.lit(s))]
    lut = F.create_map(*pairs) if pairs else F.create_map()
    return keyed.withColumn(
        "partition_id", F.element_at(lut, F.col("_route_key")).cast("long")
    ).drop("_route_key")


def murmur3_duckdb_ctes(source_cte: str, num_partitions: int) -> str:
    """DuckDB CTE chain computing the murmur3-seed-0 routing slot for
    the distinct ``pv`` values of ``source_cte`` (which must expose a
    ``pv`` VARCHAR column of ASCII text — partition values are).

    Byte-exact with ``murmur3_32``: 32-bit wrapping arithmetic via
    UBIGINT ``% 2^32``, rotations as shift-pairs, the 4-byte-block body
    as a ``list_reduce``, tail and finalizer mirrored from the scalar
    kernel. Exists so the driver's DuckDB oracle can verify routing
    parity (reference ``DeltaReader.java:60-63``) instead of settling
    for a rows-only check. Returns CTEs ending in ``mm3_slot(pv,
    partition_id)``."""
    M = 1 << 32

    def rotl(x: str, s: int) -> str:
        return f"((({x}) * {1 << s} % {M}) + (({x}) // {1 << (32 - s)}))"

    def idx(e: str) -> str:
        return f"b[CAST({e} AS BIGINT)]"

    k_raw = (
        f"({idx('4*j+1')} + 256*{idx('4*j+2')}"
        f" + 65536*{idx('4*j+3')} + 16777216*{idx('4*j+4')})"
    )
    k1 = f"({k_raw} * 3432918353 % {M})"
    k3 = f"(({rotl(k1, 15)}) * 461845907 % {M})"
    step = f"((({rotl(f'xor(h, {k3})', 13)}) * 5 + 3864292196) % {M})"
    kt_raw = (
        f"(CASE WHEN n%4>=1 THEN {idx('4*(n//4)+1')} ELSE 0 END"
        f" + CASE WHEN n%4>=2 THEN 256*{idx('4*(n//4)+2')} ELSE 0 END"
        f" + CASE WHEN n%4>=3 THEN 65536*{idx('4*(n//4)+3')} ELSE 0 END)"
    )
    kt1 = f"({kt_raw} * 3432918353 % {M})"
    kt3 = f"(({rotl(kt1, 15)}) * 461845907 % {M})"
    return f"""
mm3_d AS (SELECT DISTINCT pv FROM {source_cte}),
mm3_bs AS (SELECT pv,
    [unicode(c)::UBIGINT FOR c IN list_filter(string_split_regex(pv, ''), x -> x <> '')] AS b
  FROM mm3_d),
mm3_body AS (SELECT pv, b, len(b)::UBIGINT AS n,
    list_reduce(list_prepend(0::UBIGINT, range(0, len(b)//4)), (h, j) -> {step}) AS hbody
  FROM mm3_bs),
mm3_tail AS (SELECT pv, n,
    CASE WHEN n % 4 = 0 THEN hbody ELSE xor(hbody, {kt3}) END AS ht
  FROM mm3_body),
mm3_f1 AS (SELECT pv, xor(ht, n) AS h FROM mm3_tail),
mm3_f2 AS (SELECT pv, (xor(h, h // 65536) * 2246822507) % {M} AS h FROM mm3_f1),
mm3_f3 AS (SELECT pv, (xor(h, h // 8192) * 3266489909) % {M} AS h FROM mm3_f2),
mm3_slot AS (SELECT pv,
    CAST((xor(h, h // 65536) & 2147483647) % {num_partitions} AS BIGINT) AS partition_id
  FROM mm3_f3)"""


__all__ = [
    "murmur3_32",
    "murmur3_32_batch",
    "murmur3_duckdb_ctes",
    "partition_id_for",
    "slots_for",
    "murmur3_route_col",
    "with_route_lowcard",
]
