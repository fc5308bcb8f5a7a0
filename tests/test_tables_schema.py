"""The process-level parquet schema map behind ``tables.table()``:
a hit is exactly Spark's own inference, a changed file or inference
conf is inferred again, and a warm fixture read runs no Spark job."""

import ast
import pathlib
import threading

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from pulsar_io_delta_spark import tables
from pulsar_io_delta_spark.tables import parquet_schema, table

PACKAGE = pathlib.Path(tables.__file__).parent


def _write(path, **cols):
    pq.write_table(pa.table(cols), str(path))
    return str(path)


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = _write(tmp_path / "t.parquet", a=[1, 2])
    assert parquet_schema(spark, path).fieldNames() == ["a"]
    _write(tmp_path / "t.parquet", a=[1, 2], b=["x", "y"])
    assert parquet_schema(spark, path).fieldNames() == ["a", "b"]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    path = _write(tmp_path / "t.parquet", ts=pa.array([1_700_000_000_000_000], pa.timestamp("us")))
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    try:
        spark.conf.set(key, "false")
        assert isinstance(parquet_schema(spark, path)["ts"].dataType, TimestampType)
        spark.conf.set(key, "true")
        assert isinstance(parquet_schema(spark, path)["ts"].dataType, TimestampNTZType)
    finally:
        spark.conf.unset(key)


def test_warm_table_runs_no_spark_job(spark, sf_dir):
    table(spark, sf_dir, "orders")
    sc = spark.sparkContext
    sc.setJobGroup("warm-table", "schema from the map")
    try:
        df = table(spark, sf_dir, "orders")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert "o_orderdate" in df.columns
    assert sc.statusTracker().getJobIdsForGroup("warm-table") == []


def test_hit_equals_fresh_inference(spark, tmp_path):
    """A Spark-written directory: its footer schema carries field
    metadata, which a hit returns as a fresh inference does."""
    path = str(tmp_path / "spark_written")
    spark.range(3).select(F.col("id").alias("k", metadata={"note": "kept"})).write.parquet(path)
    parquet_schema(spark, path)
    hit = parquet_schema(spark, path)
    fresh = spark.read.parquet(path).schema
    assert hit.jsonValue() == fresh.jsonValue()
    assert hit["k"].metadata == {"note": "kept"}


def test_concurrent_misses_agree(spark, tmp_path):
    path = _write(tmp_path / "t.parquet", a=[1], b=["x"])
    gate = threading.Barrier(2)
    got = []

    def miss():
        gate.wait()
        got.append(parquet_schema(spark, path))

    threads = [threading.Thread(target=miss) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert len(got) == 2 and got[0] == got[1]
    assert sum(1 for k in tables._schemas if k[0] == path) == 1


def test_uri_paths_bypass_and_map_is_bounded(spark, tmp_path, monkeypatch):
    path = _write(tmp_path / "t.parquet", a=[1])
    before = len(tables._schemas)
    assert parquet_schema(spark, f"file://{path}").fieldNames() == ["a"]
    assert len(tables._schemas) == before
    monkeypatch.setattr(tables, "_SCHEMA_CACHE_MAX", 2)
    monkeypatch.setattr(tables, "_schemas", {})
    for i in range(3):
        parquet_schema(spark, _write(tmp_path / f"n{i}.parquet", a=[i]))
    assert [k[0] for k in tables._schemas] == [str(tmp_path / "n1.parquet"), str(tmp_path / "n2.parquet")]


def test_one_schema_inference_path():
    """Every ``<session>.read.parquet(...)`` in the package (a read
    that infers its schema) sits in ``parquet_schema`` or in
    ``convert_from_parquet``, which infers a lake's partition columns."""
    sites = set()
    for f in PACKAGE.rglob("*.py"):
        tree = ast.parse(f.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                    and isinstance(node.func.value, ast.Attribute)
                    and node.func.value.attr in ("read", "readStream")
                ):
                    sites.add(fn.name)
    assert sites == {"parquet_schema", "convert_from_parquet"}

