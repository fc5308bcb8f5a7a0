"""Murmur3-seed-0 parity vectors (reference routing, DeltaReader.java:60-63)."""

from pulsar_io_delta_spark.functions.murmur3 import murmur3_32, partition_id_for

# Standard murmurhash3_x86_32 seed-0 vectors (public test vectors).
KNOWN = {
    b"": 0,
    b"hello": 0x248BFA47,
    b"abc": 0xB3DD93FA,
    b"Hello, world!": 0xC0363E43,
    b"The quick brown fox jumps over the lazy dog": 0x2E4FF723,
}


def test_known_vectors():
    for data, expect in KNOWN.items():
        assert murmur3_32(data) == expect, data


def test_partition_id_range_and_determinism():
    values = [f"event_type={t}" for t in ("click", "purchase", "signup", "error")]
    for v in values:
        pid = partition_id_for(v, 8)
        assert 0 <= pid < 8
        assert pid == partition_id_for(v, 8)


def test_tail_lengths():
    # exercise 1/2/3-byte tails of the algorithm
    for s in (b"a", b"ab", b"abc", b"abcd", b"abcde"):
        h = murmur3_32(s)
        assert 0 <= h <= 0xFFFFFFFF


def test_batch_kernel_byte_parity():
    """numpy batch kernel == scalar reference, all tail lengths +
    unicode + empty + long strings, in one mixed batch."""
    import random

    import numpy as np

    from pulsar_io_delta_spark.functions.murmur3 import murmur3_32_batch

    rng = random.Random(7)
    values = ["", "a", "ab", "abc", "abcd", "abcde", "héllo wörld", "日本語テキスト"]
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789=_-é日"
    values += ["".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 67)))
               for _ in range(500)]
    got = murmur3_32_batch(values)
    expect = np.array([murmur3_32(v.encode("utf-8")) for v in values], dtype=np.uint32)
    assert got.dtype == np.uint32
    assert (got == expect).all()
    assert (murmur3_32_batch([]) == np.empty(0)).all()


def test_slots_for_matches_scalar_routing():
    """slots_for hashes each distinct key once and maps the slot back
    to every row: equal to partition_id_for per row, repeats included."""
    import pytest

    from pulsar_io_delta_spark.functions.murmur3 import slots_for

    keys = [f"event_type={i % 7}" for i in range(100)] + ["", "héllo", "a"]
    for n in (1, 8, 13):
        assert slots_for(keys, n).tolist() == [partition_id_for(k, n) for k in keys]
    assert slots_for([], 8).tolist() == []
    with pytest.raises(ValueError):
        slots_for(["a", None], 8)


def test_duckdb_sql_kernel_parity():
    """The DuckDB oracle expression (murmur3_duckdb_ctes) must be
    byte-exact with the scalar kernel across tail lengths and slots."""
    import duckdb

    from pulsar_io_delta_spark.functions.murmur3 import (
        murmur3_duckdb_ctes,
        partition_id_for,
    )

    values = ["", "a", "ab", "abc", "abcd", "abcde", "hello",
              "event_type=click", "event_type=purchase", "source=web-01",
              "The quick brown fox jumps over the lazy dog"]
    inlist = ", ".join(f"'{v}'" for v in values)
    sql = f"""
WITH e AS (SELECT unnest([{inlist}]) AS pv),
{murmur3_duckdb_ctes("e", 8)}
SELECT pv, partition_id FROM mm3_slot
"""
    got = dict(duckdb.connect().execute(sql).fetchall())
    for v in values:
        assert got[v] == partition_id_for(v, 8), v


def test_route_col_null_safe(spark):
    import pyspark.sql.functions as F

    from pulsar_io_delta_spark.functions.murmur3 import murmur3_route_col

    df = spark.createDataFrame([("a",), (None,), ("b",)], "k string")
    rows = {r.k: r.slot for r in df.select(
        "k", murmur3_route_col(F.col("k"), 8).alias("slot")).collect()}
    assert rows[None] is None
    assert rows["a"] == partition_id_for("a", 8)
    assert rows["b"] == partition_id_for("b", 8)


def test_with_route_lowcard_matches_scalar(spark):
    """The literal-map LUT routes every key like the scalar kernel; a
    null key takes the UDF fallback and routes to null."""
    import pyspark.sql.functions as F

    from pulsar_io_delta_spark.functions.murmur3 import with_route_lowcard

    def executed(df):
        return df._jdf.queryExecution().executedPlan().toString()

    keys = [f"k={i}" for i in range(50)]
    df = spark.createDataFrame([(k,) for k in keys], "partition_value string")
    routed = with_route_lowcard(df, F.col("partition_value"), 8)
    assert "ArrowEvalPython" not in executed(routed)
    rows = routed.collect()
    assert sorted(r.partition_value for r in rows) == sorted(keys)
    for r in rows:
        assert r.partition_id == partition_id_for(r.partition_value, 8)
    with_null = df.unionByName(spark.createDataFrame([(None,)], "partition_value string"))
    routed = with_route_lowcard(with_null, F.col("partition_value"), 8)
    assert "ArrowEvalPython" in executed(routed)
    slots = {r.partition_value: r.partition_id for r in routed.collect()}
    assert slots.pop(None) is None
    assert slots == {k: partition_id_for(k, 8) for k in keys}
