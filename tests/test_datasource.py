"""pulsar_delta_cdc Python DataSource: batch/stream reads, exactly-once
restart, agreement with the DeltaTable.cdc DataFrame path."""

import os

import pyspark.sql.functions as F
import pytest

from pulsar_io_delta_spark.sources.datasource import register_delta_cdc
from pulsar_io_delta_spark.sources.delta_log import DeltaTable


@pytest.fixture()
def cdc_table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    t = DeltaTable(path)
    mk = lambda lo, hi, et: spark.createDataFrame(  # noqa: E731
        [(i, et, i * 1.5) for i in range(lo, hi)],
        "event_id long, event_type string, value double",
    )
    t.write(mk(0, 10, "click"), partition_by=["event_type"])
    t.write(mk(10, 14, "buy"), partition_by=["event_type"])
    t.delete_where(spark, "event_type = 'buy'")
    # v3: several files, each with its own modificationTime, one of them
    # under the null partition
    ticks = iter(range(1, 100))
    real_mtime = t.fs.mtime_ms
    t.fs.mtime_ms = lambda p: real_mtime(p) + 1000 * next(ticks)
    t.write(
        mk(20, 24, "click").unionByName(mk(24, 26, None)).repartition(2),
        partition_by=["event_type"],
    )
    del t.fs.mtime_ms
    register_delta_cdc(spark)
    return path


_ENVELOPE = ("event_id", "op", "event_type", "partition_value", "ts", "_commit_version")


def _rows(df, cols=_ENVELOPE):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_batch_read_matches_cdc(spark, cdc_table):
    """The source, DeltaTable.cdc and the connector's tail emit the same
    records, event time and partition column included, and route them
    to the same Pulsar slot (the null partition too)."""
    from pulsar_io_delta_spark.connector import ConnectorConfig, DeltaCdcConnector
    from pulsar_io_delta_spark.operators.pipeline import to_pulsar_wire

    ds = (
        spark.read.format("pulsar_delta_cdc")
        .option("tablePath", cdc_table)
        .option("startingVersion", 0)
        .load()
    )
    ref = DeltaTable(cdc_table).cdc(spark, start_version=0)
    tail = DeltaCdcConnector(ConnectorConfig.load({"tablePath": cdc_table})).tail(spark, 0)
    v3 = DeltaTable(cdc_table).actions(3)
    assert len({a["add"]["modificationTime"] for a in v3 if "add" in a}) > 1
    a = _rows(ds)
    assert a == _rows(ref) == _rows(tail) and len(a) > 0
    assert {r[2:4] for r in a if r[0] >= 24} == {(None, "event_type=null")}

    def wire(df):
        return _rows(
            to_pulsar_wire(df, "partition_value", F.col("event_id").cast("string"), 8),
            ("key", "value", "partition_id"),
        )

    assert wire(ds) == wire(tail)


def test_partition_values_round_trip(spark, tmp_path):
    """Partition values null, 'a:b', 'x y' and 'a/b' are logged in the
    protocol's form (raw value, null as JSON null) and come back
    unchanged through read(), cdc(), the source (batch and stream), a
    shallow clone and the sink."""
    register_delta_cdc(spark)
    vals = {0: None, 1: "a:b", 2: "x y", 3: "a/b"}
    want = set(vals.items())
    canon = {(i, v, "event_type=" + ("null" if v is None else v)) for i, v in vals.items()}
    df = spark.createDataFrame(list(vals.items()), "event_id long, event_type string")
    path = str(tmp_path / "pv")
    t = DeltaTable(path)
    t.write(df, partition_by=["event_type"])
    logged = [a["add"]["partitionValues"]["event_type"] for a in t.actions(0) if "add" in a]
    assert sorted(logged, key=str) == sorted(vals.values(), key=str)

    cols = ("event_id", "event_type")
    assert _rows(t.read(spark), cols) == want
    assert _rows(t.cdc(spark, 0), cols + ("partition_value",)) == canon
    ds = spark.read.format("pulsar_delta_cdc").option("tablePath", path).load()
    assert _rows(ds, cols + ("partition_value",)) == canon
    streamed = set()
    q = (
        spark.readStream.format("pulsar_delta_cdc")
        .option("tablePath", path)
        .load()
        .writeStream.foreachBatch(
            lambda b, _i: streamed.update(_rows(b, cols + ("partition_value",)))
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    assert streamed == canon

    clone = DeltaTable(str(tmp_path / "clone"))
    clone.clone_from(t)
    assert _rows(clone.read(spark), cols) == want
    assert _rows(clone.cdc(spark, 0), cols + ("partition_value",)) == canon

    sink = str(tmp_path / "sink")
    (
        df.write.format("pulsar_delta_cdc")
        .option("tablePath", sink)
        .option("partitionBy", "event_type")
        .mode("append")
        .save()
    )
    sunk = DeltaTable(sink)
    logged = [a["add"]["partitionValues"]["event_type"] for a in sunk.actions(0) if "add" in a]
    assert sorted(logged, key=str) == sorted(vals.values(), key=str)
    assert _rows(sunk.read(spark), cols) == want


def _stream_rows(spark, path, ck, cols, **opts):
    got = set()
    reader = spark.readStream.format("pulsar_delta_cdc").option("tablePath", path)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.foreachBatch(lambda b, _i: got.update(_rows(b, cols)))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    assert q.exception() is None
    return got


def test_decimal_and_timestamp_round_trip(spark, tmp_path):
    """A decimal and a timestamp column come back unchanged through the
    batch read, a prefetched stream batch, an executor-read stream batch
    and the sink: the source and the sink map Spark types to Arrow with
    pyspark's own to_arrow_schema."""
    import shutil
    from datetime import datetime, timedelta, timezone
    from decimal import Decimal

    from pulsar_io_delta_spark.sources import datasource

    register_delta_cdc(spark)
    t0 = datetime(2024, 3, 1, 12, 30, tzinfo=timezone.utc)
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], Decimal(i) + Decimal("0.25"), t0 + timedelta(hours=i))
         for i in range(6)],
        "event_id long, event_type string, amount decimal(10,2), event_time timestamp",
    )
    path = str(tmp_path / "dec")
    t = DeltaTable(path)
    t.write(df, partition_by=["event_type"])
    cols = ("event_id", "event_type", "amount", "event_time")
    want = _rows(t.read(spark), cols)
    assert len(want) == 6 and Decimal("5.25") in {r[2] for r in want}

    ds = spark.read.format("pulsar_delta_cdc").option("tablePath", path).load()
    assert _rows(ds, cols) == want
    assert _stream_rows(spark, path, str(tmp_path / "ck0"), cols) == want

    # v1 re-adds v0's files with no logged size: that batch is never
    # prefetched, executors read it
    adds = [a["add"] for a in t.actions(0) if "add" in a]
    for a in adds:
        copy = a["path"].replace(".parquet", "-unsized.parquet")
        shutil.copy(os.path.join(path, a["path"]), os.path.join(path, copy))
        a.update(path=copy, size=0)
    t.commit_external_adds(
        adds, operation="WRITE", schema_json=t.snapshot().schema_string,
        partition_by=["event_type"],
    )
    reader = datasource.DeltaCdcDataSource({"tablePath": path}).streamReader(ds.schema)
    assert not datasource._prefetchable(
        reader._admitted_slices({"version": 1, "index": 0}, {"version": 2, "index": 0})
    )
    assert _stream_rows(
        spark, path, str(tmp_path / "ck1"), cols, startingVersion=1
    ) == want

    sink = str(tmp_path / "sink")
    (
        df.write.format("pulsar_delta_cdc")
        .option("tablePath", sink)
        .option("partitionBy", "event_type")
        .mode("append")
        .save()
    )
    assert _rows(DeltaTable(sink).read(spark), cols) == want


_SINK_TABLES = {
    "evolve": {"delta.enableChangeDataFeed": "true", "delta.constraints.pos": "value >= 0"},
    "ict": {"delta.enableInCommitTimestamps": "true"},
    "row_tracking": {"delta.enableRowTracking": "true"},
}


@pytest.mark.parametrize("kind", list(_SINK_TABLES))
def test_sink_commit_inherits_table_metadata(spark, tmp_path, kind):
    """A pulsar_delta_cdc batch write commits under the table's own
    metadata: an evolving append keeps the change-feed flag and CHECK
    constraints, an in-commit-timestamp table gets its monotonic
    ``inCommitTimestamp``, and a row-tracked table gets ``baseRowId``
    ranges that advance the high-water mark."""
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    rows = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(i, "click", float(i)) for i in range(lo, hi)],
        "event_id long, event_type string, value double",
    )
    t.write(rows(0, 4).coalesce(1), configuration=_SINK_TABLES[kind])
    register_delta_cdc(spark)
    df = rows(4, 7).coalesce(1)
    if kind == "evolve":
        df = df.withColumn("tag", F.lit("x"))
    df.write.format("pulsar_delta_cdc").option("tablePath", path).mode("append").save()

    snap = t.snapshot()
    assert snap.version == 1
    assert snap.configuration.items() >= t.snapshot(0).configuration.items()
    actions = t.actions(1)
    (info,) = [a["commitInfo"] for a in actions if "commitInfo" in a]
    adds = [a["add"] for a in actions if "add" in a]
    if kind == "evolve":
        assert "tag" in snap.schema_string
    if kind == "ict":
        assert info["inCommitTimestamp"] > t.commit_timestamp_ms(0)
    if kind == "row_tracking":
        assert [a["baseRowId"] for a in adds] == [4]
        assert t.snapshot().domain_metadata["delta.rowTracking"]["configuration"] == (
            '{"rowIdHighWaterMark": 6}'
        )
        ids = sorted(r.row_id for r in t.read_with_row_ids(spark).collect())
        assert ids == list(range(7))
    assert sorted(r.event_id for r in t.read(spark).collect()) == list(range(7))


def test_sink_append_keeps_table_partitioning(spark, tmp_path):
    """A pulsar_delta_cdc append without ``partitionBy`` into a
    partitioned table stages hive directories by the table's columns
    and keeps them; a conflicting ``partitionBy`` is refused, as
    ``write()`` refuses it."""
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, g string"), partition_by=["g"])
    register_delta_cdc(spark)
    new = spark.createDataFrame([(3, "a")], "id long, g string").coalesce(1)
    new.write.format("pulsar_delta_cdc").option("tablePath", path).mode("append").save()

    assert t.snapshot().partition_columns == ["g"]
    (add,) = [a["add"] for a in t.actions(1) if "add" in a]
    assert add["partitionValues"] == {"g": "a"} and add["path"].startswith("g=a/")
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [(1, "a"), (2, "b"), (3, "a")]
    with pytest.raises(Exception, match="conflicts with the table's partitioning"):
        (
            new.write.format("pulsar_delta_cdc").option("tablePath", path)
            .option("partitionBy", "id").mode("append").save()
        )
    assert t.latest_version() == 1


def test_append_refuses_null_into_not_null_column(spark, tmp_path):
    """A column the log declares non-nullable refuses a null before
    commit (Delta's NOT NULL invariant), so the source can still read
    the table. The check is one probe job, paid only by tables that
    declare such a column."""
    import json

    from pulsar_io_delta_spark.sources.delta_log import DeltaConstraintViolation

    register_delta_cdc(spark)
    sc = spark.sparkContext

    def append_jobs(t, frame, group):
        sc.setJobGroup(group, "append")
        try:
            t.write(frame)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker lags the bus
        return len(sc.statusTracker().getJobIdsForGroup(group))

    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("event_id"), F.lit("click").alias("event_type")
    )
    path = str(tmp_path / "nn")
    t = DeltaTable(path)
    t.write(mk(0, 3), partition_by=["event_type"])
    fields = json.loads(t.snapshot().schema_string)["fields"]
    assert [f["nullable"] for f in fields] == [False, False]
    null_row = spark.createDataFrame([(9, None)], "event_id long, event_type string")
    with pytest.raises(DeltaConstraintViolation, match="event_type"):
        t.write(null_row)
    assert t.latest_version() == 0
    ds = spark.read.format("pulsar_delta_cdc").option("tablePath", path).load()
    assert ds.count() == 3

    nullable = DeltaTable(str(tmp_path / "nullable"))
    nullable.write(null_row, partition_by=["event_type"])
    base = append_jobs(nullable, null_row, "append-nullable")
    assert append_jobs(t, mk(3, 4), "append-not-null") == base + 1
    assert t.latest_version() == 1


def test_batch_version_bounds(spark, cdc_table):
    ds = (
        spark.read.format("pulsar_delta_cdc")
        .option("tablePath", cdc_table)
        .option("startingVersion", 1)
        .option("endingVersion", 1)
        .load()
    )
    assert {r._commit_version for r in ds.select("_commit_version").collect()} == {1}


def test_envelope_and_pushdown_columns(spark, cdc_table):
    ds = spark.read.format("pulsar_delta_cdc").option("tablePath", cdc_table).load()
    assert {"op", "partition_value", "ts", "_commit_version"} <= set(ds.columns)
    ops = {r.op for r in ds.select("op").distinct().collect()}
    assert ops == {"c", "r"}
    pvs = {r.partition_value for r in ds.select("partition_value").distinct().collect()}
    assert pvs == {"event_type=click", "event_type=buy", "event_type=null"}


def test_batch_write_through_datasource(spark, tmp_path):
    register_delta_cdc(spark)
    path = str(tmp_path / "w1")
    src = spark.range(20).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 2 == 0, "click").otherwise("buy").alias("event_type"),
    )
    (
        src.write.format("pulsar_delta_cdc")
        .option("tablePath", path)
        .option("partitionBy", "event_type")
        .mode("append")
        .save()
    )
    t = DeltaTable(path)
    assert t.read(spark).count() == 20
    assert t.snapshot().partition_columns == ["event_type"]
    assert {r.event_type for r in t.read(spark).select("event_type").distinct().collect()} == {
        "click",
        "buy",
    }


def test_stream_write_exactly_once(spark, tmp_path):
    register_delta_cdc(spark)
    path, ck = str(tmp_path / "w2"), str(tmp_path / "ck2")
    src_dir = str(tmp_path / "in")
    spark.range(50).select(F.col("id").alias("event_id")).coalesce(2).write.parquet(src_dir)

    def run():
        q = (
            spark.readStream.schema("event_id long")
            .parquet(src_dir)
            .writeStream.format("pulsar_delta_cdc")
            .option("tablePath", path)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    run()
    assert DeltaTable(path).read(spark).count() == 50
    run()  # restart without new input: txn marker suppresses re-commit
    assert DeltaTable(path).read(spark).count() == 50


def test_stream_exactly_once_restart(spark, cdc_table, tmp_path):
    ck = str(tmp_path / "ck")
    counts = []

    def run():
        q = (
            spark.readStream.format("pulsar_delta_cdc")
            .option("tablePath", cdc_table)
            .load()
            .writeStream.foreachBatch(lambda b, _i: counts.append(b.count()))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    run()
    total_first = sum(counts)
    assert total_first == DeltaTable(cdc_table).cdc(spark, 0).count()
    run()  # no new commits → no duplicate delivery
    assert sum(counts) == total_first
    DeltaTable(cdc_table).write(
        spark.range(100, 103).select(
            F.col("id").alias("event_id"),
            F.lit("click").alias("event_type"),
            (F.col("id") * 1.5).alias("value"),
        ),
        partition_by=["event_type"],
    )
    run()
    assert sum(counts) == total_first + 3


def test_compact_invisible_through_datasource(spark, cdc_table):
    before = (
        spark.read.format("pulsar_delta_cdc")
        .option("tablePath", cdc_table)
        .load()
        .count()
    )
    DeltaTable(cdc_table).compact(spark)
    after_df = spark.read.format("pulsar_delta_cdc").option("tablePath", cdc_table).load()
    assert after_df.count() == before
    compact_v = DeltaTable(cdc_table).latest_version()
    assert after_df.filter(F.col("_commit_version") == compact_v).count() == 0


def test_stream_max_versions_per_trigger(spark, tmp_path):
    register_delta_cdc(spark)
    path, ck = str(tmp_path / "rl"), str(tmp_path / "ck_rl")
    t = DeltaTable(path)
    for lo in range(0, 25, 5):  # 5 commits of 5 rows each
        t.write(
            spark.range(lo, lo + 5).select(
                F.col("id").alias("event_id"), F.lit("click").alias("event_type")
            ),
            partition_by=["event_type"],
        )
    batches = []

    def sink(b, _i):
        rows = b.select("event_id", "_commit_version").collect()
        if rows:
            batches.append(rows)

    # availableNow captures one target offset up front (no per-batch
    # admission for Python sources), so drive ordinary micro-batches.
    q = (
        spark.readStream.format("pulsar_delta_cdc")
        .option("tablePath", path)
        .option("maxVersionsPerTrigger", 2)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    deadline = time.time() + 180
    while time.time() < deadline and sum(len(b) for b in batches) < 25:
        time.sleep(1)
    q.stop()
    assert len(batches) >= 3  # 5 versions / 2 per trigger
    seen = [r.event_id for b in batches for r in b]
    assert sorted(seen) == list(range(25))  # exactly-once, no overlap
    for b in batches:
        assert len({r._commit_version for r in b}) <= 2


@pytest.fixture()
def cdf_table(spark, tmp_path):
    """A CDF-armed table with an append (derived), a merge (cdc files
    with pre/post images) and a DV delete (cdc files)."""
    path = str(tmp_path / "cdf_tbl")
    t = DeltaTable(path)
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("event_id"),
        (F.col("id") * 1.5).alias("value"),
    )
    t.write(mk(0, 8).coalesce(1),
            configuration={"delta.enableChangeDataFeed": "true"})   # v0
    src = spark.createDataFrame(
        [(2, 200.0), (99, 99.0)], "event_id long, value double"
    )
    t.merge_upsert(spark, src, key_cols=["event_id"])               # v1
    t.delete_where_dv(spark, "event_id = 5")                        # v2
    register_delta_cdc(spark)
    return path


def test_batch_read_change_feed(spark, cdf_table):
    ds = (
        spark.read.format("pulsar_delta_cdc")
        .option("tablePath", cdf_table)
        .option("readChangeFeed", "true")
        .option("startingVersion", 0)
        .load()
    )
    assert "_change_type" in ds.columns and "op" not in ds.columns
    by = {}
    for r in ds.collect():
        by.setdefault(r["_change_type"], set()).add((r.event_id, r.value))
    assert by["update_preimage"] == {(2, 3.0)}
    assert by["update_postimage"] == {(2, 200.0)}
    assert by["delete"] == {(5, 7.5)}
    assert {(99, 99.0)} <= by["insert"]          # merge insert (cdc file)
    assert {(0, 0.0), (1, 1.5)} <= by["insert"]  # v0 append (derived)
    # agreement with the DataFrame CDF path
    ref = DeltaTable(cdf_table).table_changes(spark, start_version=0)
    a = {(r.event_id, r.value, r["_change_type"], r["_commit_version"])
         for r in ds.collect()}
    b = {(r.event_id, r.value, r["_change_type"], r["_commit_version"])
         for r in ref.collect()}
    assert a == b


def test_stream_read_change_feed(spark, cdf_table, tmp_path):
    rows = []

    def sink(b, _i):
        rows.extend(b.select("event_id", "_change_type", "_commit_version").collect())

    q = (
        spark.readStream.format("pulsar_delta_cdc")
        .option("tablePath", cdf_table)
        .option("readChangeFeed", "true")
        .option("stopAfterVersion", 2)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck_cdf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.event_id, r["_change_type"]) for r in rows}
    assert (2, "update_preimage") in got and (2, "update_postimage") in got
    assert (5, "delete") in got
    assert {r["_commit_version"] for r in rows} == {0, 1, 2}


def test_derived_dv_slice_refuses_loudly(spark, tmp_path):
    """Without CDF, a DV-carrying add cannot be derived by the arrow
    whole-file reader — loud error, never resurrected rows."""
    path = str(tmp_path / "dv_tbl")
    t = DeltaTable(path)
    t.write(
        spark.range(6).select(F.col("id").alias("event_id")).coalesce(1)
    )
    t.delete_where_dv(spark, "event_id = 0")
    register_delta_cdc(spark)
    ds = spark.read.format("pulsar_delta_cdc").option("tablePath", path).load()
    with pytest.raises(Exception, match="deletion-vector"):
        ds.collect()


def test_mapped_table_refused_by_datasource(spark, tmp_path):
    path = str(tmp_path / "cm_tbl")
    t = DeltaTable(path)
    t.write(spark.range(3).select(F.col("id").alias("event_id")))
    t.enable_column_mapping()
    register_delta_cdc(spark)
    with pytest.raises(Exception, match="column-mapped"):
        spark.read.format("pulsar_delta_cdc").option("tablePath", path).load().collect()


# ---------------------------------------------------------------------------
# File/byte-granular admission (maxFilesPerTrigger / maxBytesPerTrigger):
# sub-commit offsets {"version": v, "index": i} split WITHIN a commit, so
# one huge commit drains as bounded micro-batches. Offset math is pinned
# by driving the planner directly (deterministic, no engine clock).


def _stream_reader(path, **opts):
    from pulsar_io_delta_spark.sources.datasource import _CdcStreamReader

    return _CdcStreamReader(None, {"tablePath": path, **{k: str(v) for k, v in opts.items()}})


@pytest.fixture()
def two_commit_table(spark, tmp_path):
    path = str(tmp_path / "mft")
    t = DeltaTable(path)
    ids = spark.range(8).select(F.col("id").alias("event_id"))
    t.write(ids.repartition(4))            # v0: 4 files, 2 rows each
    t.write(ids.limit(4).repartition(2))   # v1: 2 files
    return path


def test_max_files_splits_within_a_commit(two_commit_table):
    r = _stream_reader(two_commit_table, maxFilesPerTrigger=3)
    o0 = r.initialOffset()
    assert o0 == {"version": 0, "index": 0}
    o1 = r.latestOffset()
    assert o1 == {"version": 0, "index": 3}  # mid-commit
    p1 = r._admitted_slices(o0, o1)
    assert [s.version for s in p1] == [0, 0, 0]
    o2 = r.latestOffset()  # 1 leftover of v0 + both of v1
    assert o2 == {"version": 2, "index": 0}
    p2 = r._admitted_slices(o1, o2)
    assert [s.version for s in p2] == [0, 1, 1]
    # no new commits: offset holds, zero partitions
    o3 = r.latestOffset()
    assert o3 == o2 and r._admitted_slices(o2, o3) == []
    # exactly-once across the split: every file slice seen exactly once
    seen = [(s.version, s.rel_path) for s in p1 + p2]
    assert len(seen) == len(set(seen)) == 6


def test_max_bytes_admits_at_least_one_slice(two_commit_table):
    # every file is bigger than 1 byte → soft cap admits exactly one
    # slice per trigger, and the stream still progresses
    r = _stream_reader(two_commit_table, maxBytesPerTrigger=1)
    offsets = [r.initialOffset()]
    for _ in range(6):
        offsets.append(r.latestOffset())
    for a, b in zip(offsets, offsets[1:]):
        assert len(r._admitted_slices(a, b)) == 1
    assert offsets[-1] == {"version": 2, "index": 0}


def test_max_bytes_packs_by_log_size(two_commit_table):
    from pulsar_io_delta_spark.sources.datasource import _plan_slices

    sizes = [s.size for s in _plan_slices(two_commit_table, 0, 0)]
    assert all(sz > 0 for sz in sizes)
    # budget for exactly the first two v0 files
    r = _stream_reader(two_commit_table, maxBytesPerTrigger=sizes[0] + sizes[1])
    r.initialOffset()
    assert r.latestOffset() == {"version": 0, "index": 2}


def test_restart_resumes_mid_commit(two_commit_table):
    # a fresh planner (post-restart) re-seeded from the checkpointed
    # offset continues from the sub-commit position, no overlap
    r = _stream_reader(two_commit_table, maxFilesPerTrigger=10)
    r.commit({"version": 0, "index": 2})
    o = r.latestOffset()
    assert o == {"version": 2, "index": 0}
    parts = r._admitted_slices({"version": 0, "index": 2}, o)
    assert [s.version for s in parts] == [0, 0, 1, 1]
    # legacy checkpoint form (no index key) still resolves
    assert len(r._admitted_slices({"version": 0}, {"version": 2})) == 6


def test_caps_compose_with_max_versions(two_commit_table):
    # version cap bounds the walk even when the file budget is larger
    r = _stream_reader(
        two_commit_table, maxFilesPerTrigger=100, maxVersionsPerTrigger=1
    )
    r.initialOffset()
    assert r.latestOffset() == {"version": 1, "index": 0}


def test_partitions_group_small_batch_fan_out_large(two_commit_table, monkeypatch):
    from pulsar_io_delta_spark.sources import datasource

    r = _stream_reader(two_commit_table)
    start, end = {"version": 0, "index": 0}, {"version": 2, "index": 0}
    slices = r._admitted_slices(start, end)
    assert len(slices) == 6
    total = sum(s.size for s in slices)
    assert total <= datasource._PREFETCH_MAX_BYTES
    # at the bound: one partition carrying every slice, in order
    monkeypatch.setattr(datasource, "_PREFETCH_MAX_BYTES", total)
    parts = r.partitions(start, end)
    assert len(parts) == 1
    assert isinstance(parts[0], datasource._SliceGroup)
    assert list(parts[0].slices) == slices
    # one byte over the bound: one partition per file slice
    monkeypatch.setattr(datasource, "_PREFETCH_MAX_BYTES", total - 1)
    assert r.partitions(start, end) == slices
    assert r.partitions(end, end) == []


def test_stream_max_files_per_trigger_end_to_end(spark, two_commit_table, tmp_path):
    register_delta_cdc(spark)
    batches = []

    def sink(b, _i):
        rows = b.select("event_id", "_commit_version").collect()
        if rows:
            batches.append(rows)

    q = (
        spark.readStream.format("pulsar_delta_cdc")
        .option("tablePath", two_commit_table)
        .option("maxFilesPerTrigger", 1)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck_mft"))
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    deadline = time.time() + 180
    while time.time() < deadline and sum(len(b) for b in batches) < 12:
        time.sleep(1)
    q.stop()
    assert sum(len(b) for b in batches) == 12  # 8 (v0) + 4 (v1), exactly once
    assert len(batches) == 6  # one file slice per micro-batch
    for b in batches:
        assert len({(r._commit_version) for r in b}) == 1


def test_change_walk_stops_at_end(spark, tmp_path, monkeypatch):
    """A file-capped latestOffset and an endingVersion-bounded batch
    read parse only the commits of their range, never the log up to
    its head."""
    path = str(tmp_path / "walk")
    t = DeltaTable(path)
    for lo in range(0, 12, 2):  # v0..v5, one file each
        t.write(spark.range(lo, lo + 2).select(F.col("id").alias("event_id")).coalesce(1))
    parsed = []
    real_actions = DeltaTable.actions
    monkeypatch.setattr(
        DeltaTable, "actions", lambda self, v: parsed.append(v) or real_actions(self, v)
    )
    r = _stream_reader(path, maxFilesPerTrigger=2)
    r.initialOffset()
    assert r.latestOffset() == {"version": 2, "index": 0}
    assert parsed == [0, 1, 2]  # v2 is read to find it over the cap
    parsed.clear()
    b = _batch_reader(path, startingVersion=1, endingVersion=2)
    assert {p.version for p in b.partitions()} == {1, 2}
    assert parsed == [1, 2]


def test_one_change_log_walk():
    """DeltaTable.change_log is the one walk of commit actions for
    change reads: cdc(), table_changes(), their one scan builder
    (_scan_changes, which also scans _change_data files),
    schema_changes() and the source's planner consume its records and
    neither read commits nor dispatch on action keys themselves."""
    import ast
    import inspect

    from pulsar_io_delta_spark.sources import datasource, delta_log

    consumers = {
        delta_log: {"cdc", "table_changes", "_scan_changes", "schema_changes"},
        datasource: {"_plan_slices"},
    }
    walk_calls = {"changes", "actions", "json_versions", "_commit_carried_ms"}
    action_keys = {"add", "remove", "cdc", "metaData", "commitInfo"}
    offenders, seen = [], set()
    for module, names in consumers.items():
        tree = ast.parse(inspect.getsource(module))
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef) or fn.name not in names:
                continue
            seen.add(fn.name)
            for n in ast.walk(fn):
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr in walk_calls
                ):
                    offenders.append(f"{fn.name}:{n.lineno} .{n.func.attr}()")
                if isinstance(n, ast.Constant) and n.value in action_keys:
                    offenders.append(f"{fn.name}:{n.lineno} {n.value!r}")
    assert seen == set().union(*consumers.values())
    assert offenders == []
    assert not hasattr(DeltaTable, "changes")
    assert not hasattr(DeltaTable, "_scan_change_files")
    assert "versions" not in inspect.signature(DeltaTable.cdc).parameters
    assert not hasattr(datasource, "_canonical_pv")


# ---------------------------------------------------------------------------
# Batch filter pushdown (Spark 4.1 Python DataSource API): comparison
# filters prune file slices via log partitionValues + footer stats before
# any parquet opens; _commit_version bounds shrink the version walk. All
# filters are returned for post-scan re-evaluation, so results are exact.


def _batch_reader(path, **opts):
    from pulsar_io_delta_spark.sources.datasource import _CdcBatchReader

    return _CdcBatchReader(
        None, {"tablePath": path, **{k: str(v) for k, v in opts.items()}}
    )


@pytest.fixture()
def pruned_table(spark, tmp_path):
    path = str(tmp_path / "pr")
    t = DeltaTable(path)
    df = spark.range(100).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 2 == 0, "click").otherwise("view").alias("event_type"),
    )
    t.write(df.coalesce(1), partition_by=["event_type"])            # v0: 2 files
    t.write(df.limit(10).coalesce(1), partition_by=["event_type"])  # v1: 2 files
    return path


def test_pushdown_prunes_by_partition_value(spark, pruned_table):
    from pyspark.sql.datasource import EqualTo

    r = _batch_reader(pruned_table)
    remaining = list(r.pushFilters([EqualTo(("event_type",), "click")]))
    assert len(remaining) == 1  # everything re-evaluated by Spark
    parts = r.partitions()
    assert len(parts) == 2  # click file per commit; view files pruned
    assert all(dict(p.partition_values)["event_type"] == "click" for p in parts)


def test_pushdown_prunes_by_footer_stats(spark, pruned_table):
    from pyspark.sql.datasource import GreaterThan

    r = _batch_reader(pruned_table)
    list(r.pushFilters([GreaterThan(("event_id",), 50)]))
    parts = r.partitions()
    # v1's files hold event_id 0..9 only — their max stats exclude them
    assert all(p.version == 0 for p in parts)


def test_pushdown_bounds_version_walk(spark, pruned_table):
    from pyspark.sql.datasource import EqualTo, LessThanOrEqual

    r = _batch_reader(pruned_table)
    list(r.pushFilters([EqualTo(("_commit_version",), 1)]))
    assert {p.version for p in r.partitions()} == {1}
    r2 = _batch_reader(pruned_table)
    list(r2.pushFilters([LessThanOrEqual(("_commit_version",), 0)]))
    assert {p.version for p in r2.partitions()} == {0}
    r3 = _batch_reader(pruned_table)
    list(r3.pushFilters([EqualTo(("_commit_version",), 7)]))
    assert r3.partitions() == []


def test_pushdown_end_to_end_exact(spark, pruned_table):
    register_delta_cdc(spark)
    ds = spark.read.format("pulsar_delta_cdc").option("tablePath", pruned_table).load()
    full = {(r.event_id, r._commit_version) for r in ds.collect()
            if r.event_type == "click" and r.event_id > 10}
    got = {
        (r.event_id, r._commit_version)
        for r in ds.where(
            (F.col("event_type") == "click") & (F.col("event_id") > 10)
        ).collect()
    }
    assert got == full and got  # identical results through the pruned plan


def test_batch_timestamp_bounds_ict(spark, tmp_path):
    """startingTimestamp/endingTimestamp (delta-spark CDF spellings,
    ISO-8601): starting → first commit AT OR AFTER T, ending → last
    commit at or before T; on an in-commit-timestamps table both
    resolve by the commit-carried clock, not file mtimes. Out-of-range
    bounds refuse loudly."""
    from datetime import datetime, timezone

    path = str(tmp_path / "tbl")
    t = DeltaTable(path)
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("event_id"), (F.col("id") * 1.5).alias("value")
    )
    t.write(mk(0, 3), configuration={"delta.enableInCommitTimestamps": "true"})
    t.write(mk(3, 7))
    t.write(mk(7, 9))
    register_delta_cdc(spark)
    iso = lambda ms: datetime.fromtimestamp(  # noqa: E731
        ms / 1000, tz=timezone.utc
    ).isoformat()
    ict = {v: t.commit_timestamp_ms(v) for v in (0, 1, 2)}
    ds = (
        spark.read.format("pulsar_delta_cdc")
        .option("tablePath", path)
        .option("startingTimestamp", iso(ict[1]))
        .option("endingTimestamp", iso(ict[1]))
        .load()
    )
    got = {r._commit_version for r in ds.collect()}
    assert got == {1}
    # starting after the last commit refuses loudly
    with pytest.raises(Exception, match="no commits at or after"):
        (
            spark.read.format("pulsar_delta_cdc")
            .option("tablePath", path)
            .option("startingTimestamp", iso(ict[2] + 60_000))
            .load()
            .collect()
        )
    # exclusive spellings refuse loudly
    with pytest.raises(Exception, match="exclusive"):
        (
            spark.read.format("pulsar_delta_cdc")
            .option("tablePath", path)
            .option("startingVersion", 0)
            .option("startingTimestamp", iso(ict[0]))
            .load()
            .collect()
        )


def test_stream_rejects_ending_bounds(spark, cdc_table, tmp_path):
    """endingVersion/endingTimestamp are a BATCH CDF concept: a stream
    silently reading past the requested end (or eagerly erroring on a
    future endingTimestamp) is worse than refusing up front
    (delta-spark refuses them on streams too)."""
    for opt, val in (
        ("endingVersion", "1"),
        ("endingTimestamp", "2999-01-01T00:00:00"),
    ):
        reader = (
            spark.readStream.format("pulsar_delta_cdc")
            .option("tablePath", cdc_table)
            .option(opt, val)
        )
        with pytest.raises(Exception, match="not supported on.*streaming"):
            q = (
                reader.load()
                .writeStream.format("memory")
                .queryName(f"reject_{opt}")
                .option(
                    "checkpointLocation", str(tmp_path / f"ck_{opt}")
                )
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination(60)
            finally:
                q.stop()


# ---------------------------------------------------------------------------
# Prefetched micro-batches: a small stream batch is read once by pyspark's
# driver-side stream source runner and served to every scan from the block
# manager; larger or unsized batches fan out to executors per file.


@pytest.fixture()
def ts_table(spark, tmp_path):
    """Partitioned table with a timestamp data column: two appends (20 +
    10 rows) and a partition delete that rewrites every file (30 rows
    removed, 20 re-added), so the feed carries 80 rows of adds and
    removes."""
    path = str(tmp_path / "ts")
    t = DeltaTable(path)
    mk = lambda lo, hi, et: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("event_id"),
        F.lit(et).alias("event_type"),
        F.timestamp_seconds(F.col("id") * 3601 + 1_700_000_000).alias("event_time"),
    )
    t.write(mk(0, 20, "click"), partition_by=["event_type"])
    t.write(mk(20, 30, "buy"), partition_by=["event_type"])
    t.delete_where(spark, "event_type = 'buy'")
    register_delta_cdc(spark)
    return path


def _run_partitions_func(reader, source, schema, start, end):
    """Drive pyspark's stream source runner for one batch the way the
    JVM does: two offsets in; the partitions, the prefetch flag and, when
    prefetched, an Arrow stream out."""
    import io
    import json

    import pyarrow as pa
    from pyspark.serializers import SpecialLengths, read_int, write_with_length
    from pyspark.sql.streaming import python_streaming_source_runner as runner

    infile = io.BytesIO()
    for offset in (start, end):
        write_with_length(json.dumps(offset).encode("utf-8"), infile)
    infile.seek(0)
    out = io.BytesIO()
    runner.partitions_func(reader, source, schema, 10_000, infile, out)
    out.seek(0)
    parts = [runner.pickleSer._read_with_length(out) for _ in range(read_int(out))]
    flag = read_int(out)
    block = None
    if flag == runner.NON_EMPTY_PYARROW_RECORD_BATCHES:
        assert read_int(out) == SpecialLengths.START_ARROW_STREAM
        block = pa.ipc.open_stream(out).read_all()
    assert out.read() == b""
    return parts, flag, block


def test_stream_runner_prefetch_contract(spark, ts_table, monkeypatch):
    """Pins the private pyspark hook the prefetch rides on: the runner
    asks ``getCache`` only of ``_SimpleStreamReaderWrapper`` instances,
    and the JVM asserts one partition and an Arrow schema equal to the
    output schema. If pyspark renames the hook or tightens the check,
    this fails here instead of as a bare JVM assertion."""
    import shutil

    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
    from pyspark.sql.streaming import python_streaming_source_runner as runner

    from pulsar_io_delta_spark.sources import datasource

    source = datasource.DeltaCdcDataSource({"tablePath": ts_table})
    schema = source.schema()
    reader = source.streamReader(schema)
    start = reader.initialOffset()
    end = reader.latestOffset()
    slices = reader._admitted_slices(start, end)
    assert {s.op for s in slices} == {"c", "r"}

    parts, flag, block = _run_partitions_func(reader, source, schema, start, end)
    assert flag == runner.NON_EMPTY_PYARROW_RECORD_BATCHES
    assert len(parts) == 1 and list(parts[0].slices) == slices
    assert block.schema == to_arrow_schema(schema)
    assert from_arrow_schema(block.schema) == schema
    assert block.schema.field("ts").type == pa.timestamp("us", tz="UTC")
    assert block.schema.field("event_time").type == pa.timestamp("us", tz="UTC")
    assert not block.schema.field("op").nullable
    assert not block.schema.field("_commit_version").nullable
    # the group's own read() (the executor fallback) yields the same rows
    fallback = pa.Table.from_batches(list(reader.read(parts[0])))
    assert block.num_rows == 80
    assert fallback.cast(block.schema).equals(block)

    # over the bound: executors read it, one partition per file
    monkeypatch.setattr(datasource, "_PREFETCH_MAX_BYTES", sum(s.size for s in slices) - 1)
    parts, flag, block = _run_partitions_func(reader, source, schema, start, end)
    assert flag == runner.PREFETCHED_RECORDS_NOT_FOUND and block is None
    assert parts == slices
    monkeypatch.undo()

    # a slice whose size the log does not record always takes the executor path
    t = DeltaTable(ts_table)
    sized = slices[0]
    rel_path = sized.rel_path.replace(".parquet", "-unsized.parquet")
    shutil.copy(
        os.path.join(ts_table, sized.rel_path), os.path.join(ts_table, rel_path)
    )
    t.commit_external_adds(
        [
            {
                "path": rel_path,
                "partitionValues": dict(sized.partition_values),
                "size": 0,
                "modificationTime": sized.ts_ms,
                "dataChange": True,
            }
        ],
        operation="WRITE",
        schema_json=t.snapshot().schema_string,
        partition_by=["event_type"],
    )
    newer = reader.latestOffset()
    parts, flag, block = _run_partitions_func(reader, source, schema, start, newer)
    assert flag == runner.PREFETCHED_RECORDS_NOT_FOUND and block is None
    assert parts == reader._admitted_slices(start, newer)
    assert len(parts) == len(slices) + 1 and parts[-1].size == 0


def test_stream_matches_batch_under_non_utc_session_tz(spark, ts_table, tmp_path):
    """A prefetched stream and the executor-read batch source deliver the
    same wire messages, timestamps included, with a non-UTC session zone
    rendering them."""
    from pulsar_io_delta_spark.operators.pipeline import to_pulsar_wire
    from pulsar_io_delta_spark.streaming.fake_pulsar import FakeBroker, publish

    n_part = 4

    def deliver(df, broker):
        wire = to_pulsar_wire(
            df.orderBy("_commit_version", "event_id"),
            "partition_value",
            F.to_json(F.struct(*df.columns)),
            num_partitions=n_part,
        )
        publish(wire, broker, "cdc", n_part)

    def messages(broker):
        return sorted(
            (m.key, m.value) for p in range(n_part) for m in broker.partition_log("cdc", p)
        )

    saved_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        streamed = FakeBroker()
        q = (
            spark.readStream.format("pulsar_delta_cdc")
            .option("tablePath", ts_table)
            .option("startingVersion", 0)
            .load()
            .writeStream.foreachBatch(lambda b, _i: deliver(b, streamed))
            .option("checkpointLocation", str(tmp_path / "ck_tz"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None
        batch = FakeBroker()
        deliver(
            spark.read.format("pulsar_delta_cdc")
            .option("tablePath", ts_table)
            .option("startingVersion", 0)
            .option("endingVersion", DeltaTable(ts_table).latest_version())
            .load(),
            batch,
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved_tz)
    got, want = messages(streamed), messages(batch)
    assert len(want) == len(set(want)) == 80
    assert got == want
    # event_id 0 is 1_700_000_000 s = 2023-11-14T22:13:20Z, shown in LA time
    assert any(
        b'"event_id":0,' in v and b'"event_time":"2023-11-14T14:13:20.000-08:00"' in v
        for _k, v in got
    )
