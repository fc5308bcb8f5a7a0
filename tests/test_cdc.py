"""CDC envelope + canonical partition-value encoding golden cases."""

import pyspark.sql.functions as F

from pulsar_io_delta_spark.operators.cdc import (
    OP_INSERT,
    cdc_envelope,
    partition_value_expr,
)


def test_partition_value_no_separator_and_sorted(spark):
    """Reference quirk: TreeMap-sorted k=v pairs, NO separator between
    pairs (DeltaReader.java:290-299)."""
    df = spark.createDataFrame([("us", "2024-01-01", "click")], ["country", "dt", "etype"])
    pv = partition_value_expr(
        {"dt": F.col("dt"), "country": F.col("country"), "etype": F.col("etype")}
    )
    row = df.select(pv.alias("pv")).first()
    assert row.pv == "country=usdt=2024-01-01etype=click"


def test_envelope_columns(spark):
    df = spark.createDataFrame([(1, "click")], ["id", "etype"])
    out = cdc_envelope(df, OP_INSERT, {"etype": F.col("etype")})
    row = out.first()
    assert row.op == "c"
    assert row.partition_value == "etype=click"


def test_partition_value_null_encodes_as_literal_null(spark):
    df = spark.createDataFrame([("a", None)], "k1 string, k2 string")
    out = df.select(
        partition_value_expr({"k1": F.col("k1"), "k2": F.col("k2")}).alias("pv")
    ).first()
    assert out.pv == "k1=ak2=null"
