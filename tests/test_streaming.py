"""Streaming semantics under out-of-order micro-batches: watermark
dedup, late-data drop, and the availableNow runner used by q_stream_*."""

import os

import pyspark.sql.functions as F

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pulsar_io_delta_spark.streaming.runner import events_stream, run_to_memory
from pulsar_io_delta_spark.tables import table

# Schema of the ns-long batches _write_batches encodes below. This is a
# *test-local* layout (the test writes its own files); the production
# events_stream derives its schema from the fixture footer instead.
NS_LONG_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _write_batches(spark, sf_dir, out_dir):
    """Split events into 3 files ordered so the middle batch is 'late'."""
    e = table(spark, sf_dir, "events")
    cut1, cut2 = "2024-01-10", "2024-01-20"
    parts = [
        e.where(F.col("ts") < cut1),
        e.where((F.col("ts") >= cut2)),  # arrives before the middle range
        e.where((F.col("ts") >= cut1) & (F.col("ts") < cut2)),
    ]
    for i, p in enumerate(parts):
        # re-encode ts to the raw nanos-long layout the stream reader expects
        raw = p.withColumn("ts", (F.unix_micros("ts") * 1000).cast("long")).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        raw.coalesce(1).write.mode("append").parquet(os.path.join(out_dir, f"b{i}"))
    return [os.path.join(out_dir, f"b{i}") for i in range(3)]


def test_runner_counts_match_batch(spark, sf_dir):
    s = events_stream(spark, sf_dir)
    out = run_to_memory(s.groupBy("event_type").count(), output_mode="complete")
    batch = table(spark, sf_dir, "events").groupBy("event_type").count()
    assert {(r.event_type, r["count"]) for r in out.collect()} == {
        (r.event_type, r["count"]) for r in batch.collect()
    }


def test_watermark_drops_late_batch(spark, sf_dir, tmp_path):
    """The middle ts-range arrives in a later *run* against the same
    checkpoint (watermark state persists across restarts), after the
    watermark advanced past it → its windows never reach append output."""
    import shutil

    d = str(tmp_path / "batches")
    batch_dirs = _write_batches(spark, sf_dir, d)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    emitted = []

    def run_pass():
        stream = (
            spark.readStream.schema(NS_LONG_SCHEMA)
            .parquet(src)
            .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count("*").alias("cnt"))
        )
        q = (
            agg.writeStream.foreachBatch(
                lambda df, _bid: emitted.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    def add_files(bdir):
        for name in os.listdir(bdir):
            if name.endswith(".parquet"):
                shutil.copy(os.path.join(bdir, name), os.path.join(src, f"{os.path.basename(bdir)}_{name}"))

    add_files(batch_dirs[0])  # early range
    run_pass()
    add_files(batch_dirs[1])  # newest range → advances watermark to Jan 30
    run_pass()
    add_files(batch_dirs[2])  # middle range, now older than the watermark
    run_pass()
    run_pass()  # one more pass so closable windows flush

    days = sorted(str(r.w.date()) if not hasattr(r.w, "start") else str(r.w.start.date()) for r in emitted)
    assert days, "no windows emitted"
    # middle-range days (Jan 10–19) arrived late → dropped by the watermark
    assert all(not ("2024-01-10" <= d2 < "2024-01-20") for d2 in days), days


def test_streaming_dedup_exact_counts(spark, sf_dir):
    a = events_stream(spark, sf_dir)
    b = events_stream(spark, sf_dir)
    dd = a.unionAll(b).withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    out = run_to_memory(dd.select("event_id"), output_mode="append")
    n = table(spark, sf_dir, "events").count()
    assert out.count() == n
    assert out.distinct().count() == n


def test_cdc_schema_evolution_restart(spark, tmp_path):
    """Appending a frame with a new column emits an op='m' boundary; the
    restart loop drains epoch 1 with the old schema, restarts, and
    drains epoch 2 with the evolved schema — exactly-once throughout."""
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable
    from pulsar_io_delta_spark.streaming.runner import run_cdc_with_schema_evolution

    path, ck = str(tmp_path / "evo"), str(tmp_path / "ck_evo")
    t = DeltaTable(path)
    t.write(spark.range(0, 5).select(F.col("id").alias("event_id")))
    t.write(spark.range(5, 10).select(F.col("id").alias("event_id")))
    # evolution: score column appears (additive merge → metaData action)
    t.write(
        spark.range(10, 15).select(
            F.col("id").alias("event_id"), (F.col("id") * 2.0).alias("score")
        )
    )
    assert [v for v, _s in t.schema_changes(0)] == [0, 2]

    batches: list[tuple[list[str], list]] = []
    runs = run_cdc_with_schema_evolution(
        spark, path, ck, lambda df, _i: batches.append((df.columns, df.collect()))
    )
    assert len(runs) == 2
    (stop1, cols1), (stop2, cols2) = runs
    assert stop1 == 1 and "score" not in cols1
    assert stop2 == 2 and "score" in cols2
    delivered = [r for _cols, rows in batches for r in rows]
    assert sorted(r.event_id for r in delivered) == list(range(15))
    with_score = {r.event_id: r.score for r in delivered if "score" in r.__fields__}
    assert {k: v for k, v in with_score.items() if v is not None} == {
        i: i * 2.0 for i in range(10, 15)
    }
    # idempotent: rerunning against the same checkpoint delivers nothing new
    more: list = []
    run_cdc_with_schema_evolution(spark, path, ck, lambda df, _i: more.extend(df.collect()))
    assert more == []


def test_write_schema_evolution_read_back(spark, tmp_path):
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable
    from pulsar_io_delta_spark.sources.delta_log import DeltaProtocolError
    import pytest as _pytest

    path = str(tmp_path / "evo2")
    t = DeltaTable(path)
    t.write(spark.range(0, 3).select(F.col("id").alias("event_id")))
    t.write(
        spark.range(3, 6).select(
            F.col("id").alias("event_id"), F.lit("x").alias("tag")
        )
    )
    back = t.read(spark)
    assert set(back.columns) == {"event_id", "tag"}
    rows = {r.event_id: r.tag for r in back.collect()}
    assert rows == {0: None, 1: None, 2: None, 3: "x", 4: "x", 5: "x"}
    # type change is a rewrite, not an evolution
    with _pytest.raises(DeltaProtocolError):
        t.write(spark.range(6, 7).select(F.col("id").cast("string").alias("event_id")))


def test_stateful_agg_on_rocksdb_state_store(spark, sf_dir):
    """The 100 TB state backend: the same windowed aggregation runs
    (and matches batch) with the RocksDB state store provider, the
    knob that moves streaming state off the executor heap at scale."""
    provider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(key, provider)
    try:
        s = events_stream(spark, sf_dir)
        windowed = s.groupBy(
            F.window("ts", "1 day").alias("w"), F.col("event_type")
        ).count()
        out = run_to_memory(windowed, output_mode="complete")
        batch = (
            table(spark, sf_dir, "events")
            .groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type"))
            .count()
        )
        assert {(r.w.start, r.event_type, r["count"]) for r in out.collect()} == {
            (r.w.start, r.event_type, r["count"]) for r in batch.collect()
        }
    finally:
        spark.conf.set(key, prev)


def test_late_data_window_end_inclusive_drop(spark, tmp_path):
    """Pins the watermark late-drop semantics q_stream_late_data's
    oracle encodes (measured on Spark 4.x):

    - the late filter is WINDOW-END-based, end <= watermark dropped
      (a row whose ts is below the watermark but whose window ends
      above it survives);
    - the filter lags watermark propagation by one batch (batch N uses
      the watermark from batches <= N-2), hence the query's 3-file
      split with a filler batch."""
    import datetime
    import glob as _glob
    import os
    import shutil

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    mk = lambda rows: spark.createDataFrame(rows, "event_id long, ts timestamp")
    batches = [
        mk([(1, base + datetime.timedelta(minutes=60))]),  # wm -> 12:30
        mk([(9, base + datetime.timedelta(minutes=58))]),  # filler
        mk([
            # win [12:20,12:30) end == wm -> dropped (end-inclusive)
            (2, base + datetime.timedelta(minutes=29, seconds=59)),
            # win [12:30,12:40) end > wm, ts barely above wm -> kept
            (3, base + datetime.timedelta(minutes=30, seconds=1)),
            # win [12:10,12:20) end < wm -> dropped
            (5, base + datetime.timedelta(minutes=19)),
        ]),
    ]
    sdir = str(tmp_path / "stream")
    os.makedirs(sdir)
    for i, b in enumerate(batches):
        tmp = str(tmp_path / f"w{i}")
        b.coalesce(1).write.parquet(tmp)
        dst = os.path.join(sdir, f"f{i}.parquet")
        shutil.copy(_glob.glob(tmp + "/part-*.parquet")[0], dst)
        os.utime(dst, (1_000_000_000 + i * 100,) * 2)

    schema = spark.read.parquet(sdir).schema
    s = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(sdir)
    agg = (
        s.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
    )
    out = run_to_memory(agg, output_mode="update")
    got = sorted((r.w.start.minute, r.cnt) for r in out.collect())
    # batch 0: 13:00 window; batch 1: 12:50 window; batch 2: only the
    # 12:30 window survives (events 2 and 5 dropped by the watermark)
    assert got == [(0, 1), (30, 1), (50, 1)], got


def test_available_now_with_caps_underdrains(spark, tmp_path):
    """PINNED SPARK BEHAVIOR (round 11, VERDICT r10 #6): Spark's
    Python-DataSource AvailableNow wrapper snapshots latestOffset ONCE
    as the drain target, so with admission caps armed the target is a
    single capped step and the stream terminates after ONE truncated
    batch. This is why q_stream_rate_limit uses processing-time
    triggers. If this test ever FAILS with rows == expected, Spark
    gained real AvailableNow admission control for Python sources —
    switch the benched variant over and delete this pin."""
    import uuid

    from pulsar_io_delta_spark.sources.datasource import register_delta_cdc
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    path = str(tmp_path / "tbl")
    t = DeltaTable(path)
    e = spark.range(1000).select(
        F.col("id").alias("event_id"), (F.col("id") * 1.5).alias("value")
    )
    t.write(e.where("event_id < 500").repartition(2))
    t.write(e.where("event_id >= 500").repartition(2))
    register_delta_cdc(spark)
    s = (
        spark.readStream.format("pulsar_delta_cdc")
        .option("tablePath", path)
        .option("startingVersion", 0)
        .option("maxFilesPerTrigger", 1)
        .load()
    )
    name = f"pin_{uuid.uuid4().hex[:8]}"
    q = (
        s.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table(name).count()
    # under-drain: strictly fewer rows than the table holds, and the
    # query self-terminated claiming completion
    assert got < 1000, (
        "AvailableNow now drains past the first capped step — Spark "
        "fixed Python-source admission control; update "
        "q_stream_rate_limit to availableNow and drop this pin"
    )
    # without caps, AvailableNow drains fully (the hazard is ONLY the
    # combination)
    s2 = (
        spark.readStream.format("pulsar_delta_cdc")
        .option("tablePath", path)
        .option("startingVersion", 0)
        .load()
    )
    name2 = f"pin2_{uuid.uuid4().hex[:8]}"
    q2 = (
        s2.writeStream.format("memory")
        .queryName(name2)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.table(name2).count() == 1000


def test_transform_with_state_running_totals(spark, tmp_path):
    """Spark 4.x transformWithStateInPandas (ValueState running
    totals). ENVIRONMENT-GATED: the TWS state-server protocol needs
    protobuf Python-side, absent in this container — the operator
    refuses with a clear ImportError (pinned here) instead of Spark's
    opaque 'driver worker exited unexpectedly'. When the environment
    gains protobuf this test runs the REAL thing end-to-end and checks
    totals against the batch window equivalent."""
    import pytest as _pytest

    from pulsar_io_delta_spark.streaming.stateful import (
        running_totals,
        tws_available,
    )

    src = spark.range(60).selectExpr(
        "id AS event_id", "id % 5 AS user_id", "(id * 7) % 100 AS cents"
    )
    if not tws_available():
        with _pytest.raises(ImportError, match="protobuf"):
            running_totals(src)
        return
    import uuid

    d = str(tmp_path / "in")
    src.write.parquet(d)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        s = spark.readStream.schema(src.schema).parquet(d)
        name = f"tws_{uuid.uuid4().hex[:8]}"
        q = (
            running_totals(s)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.user_id, r.event_id): (r.running_cnt, r.running_cents)
            for r in spark.table(name).collect()
        }
        exp = {
            (r.user_id, r.event_id): (r.rc, r.rcents)
            for r in src.selectExpr(
                "user_id",
                "event_id",
                "count(*) OVER (PARTITION BY user_id ORDER BY event_id) AS rc",
                "sum(cents) OVER (PARTITION BY user_id ORDER BY event_id)"
                " AS rcents",
            ).collect()
        }
        assert got == exp
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_session_scrub_between_streams(spark, sf_dir):
    """session_scrub (r16) must be safe to call between streaming
    queries: it stops the state-store provider cache + maintenance
    thread and drops finished memory sinks, and the NEXT streaming
    query must lazily restart all of it and produce identical output."""
    from pulsar_io_delta_spark.registry import all_queries
    from pulsar_io_delta_spark.session import session_scrub

    fn = all_queries()["q_stream_watermark_dedup"].fn
    first = fn(spark, sf_dir).count()
    info = session_scrub(spark)
    assert info["views_dropped"] >= 1  # the sink the first run left
    second = fn(spark, sf_dir).count()
    assert first == second > 0



def test_progress_row_counter_sums_while_recording():
    """The listener thread records while the caller sums. The sum pauses
    mid-iteration until the recording thread has inserted, or for 200 ms
    when a lock holds it off, so an unguarded sum always sees the dict
    change size under it."""
    import threading

    from pulsar_io_delta_spark.streaming.runner import _ProgressRowCounter

    paused, recorded = threading.Event(), threading.Event()

    class _PausingDict(dict):
        def values(self):
            for i, v in enumerate(super().values()):
                if i == 1 and not paused.is_set():
                    paused.set()
                    recorded.wait(timeout=0.2)
                yield v

    counter = _ProgressRowCounter()
    counter._rows = _PausingDict()
    for b in range(10):
        counter.record("warm", b, 1)
    n = 3000

    def hammer():
        paused.wait()
        for b in range(n):
            counter.record("run", b, 2)
            recorded.set()

    t = threading.Thread(target=hammer)
    t.start()
    while t.is_alive():
        counter.rows()
    t.join()
    assert counter.rows() == 10 + 2 * n
