"""Streaming query surface (SURVEY.md §2.3, "Streaming surface").

Each query executes through the real micro-batch engine
(``readStream`` → windowed aggregation / stateful dedup →
``Trigger.AvailableNow`` → memory sink) and returns the materialized
result, so the driver's batch-SQL oracle checks genuine streaming
output. Watermark semantics are exercised harder in tests/, where the
fixture is split into out-of-order micro-batches.

Scale notes: tumbling/sliding/session windows keep state per
(window, key) — bounded by watermark; dedup state is bounded by the
watermark horizon. All state is distributed by groupBy key; nothing
accumulates on the driver.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pulsar_io_delta_spark.queries._util import dsum, epoch_s, r4, sql_dsum, sql_epoch
from pulsar_io_delta_spark.registry import register
from pulsar_io_delta_spark.streaming.runner import (
    events_stream,
    late_split_stream_dir,
    run_to_memory,
    sized_shuffle,
)
from pulsar_io_delta_spark.tables import parquet_schema


@register(
    "q_stream_tumbling",
    oracle=f"""
SELECT {sql_epoch("time_bucket(INTERVAL '1 hour', ts)")} AS window_start,
       event_type, count(*) AS cnt,
       round({sql_dsum("value", "18,2")}, 4) AS sum_value
FROM events GROUP BY 1, 2
""",
)
def q_stream_tumbling(spark, sf_dir):
    s = events_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count("*").alias("cnt"),
        r4(dsum("value", "18,2")).alias("sum_value"),
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(
        epoch_s(F.col("w.start")).alias("window_start"), "event_type", "cnt", "sum_value"
    )


@register(
    "q_stream_sliding",
    oracle=f"""
SELECT {sql_epoch("time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes'")}
         AS window_start,
       count(*) AS cnt,
       round({sql_dsum("value", "18,2")}, 4) AS sum_value
FROM events, range(2) t(k) GROUP BY 1
""",
)
def q_stream_sliding(spark, sf_dir):
    """1h windows sliding every 30min: every event lands in exactly two
    windows; the DuckDB oracle replays that membership with range(2)."""
    s = events_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w")).agg(
        F.count("*").alias("cnt"),
        r4(dsum("value", "18,2")).alias("sum_value"),
    )
    # r17 (VERDICT r16 #6): state = a few hundred sliding windows —
    # size the state-store partitioning to the state, not the batch
    # conf (the r16 watermark_dedup/late_data recipe; output is
    # partitioning-invariant, oracle-gated).
    out = run_to_memory(agg, output_mode="complete", state_partitions=8)
    return out.select(epoch_s(F.col("w.start")).alias("window_start"), "cnt", "sum_value")


@register(
    "q_stream_session",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL '10 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events),
sessions AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged)
SELECT user_id, {sql_epoch("min(ts)")} AS session_start, count(*) AS cnt
FROM sessions GROUP BY user_id, sid
""",
)
def q_stream_session(spark, sf_dir):
    """Gap-based session windows (10 min). Spark merges events whose gap
    is < 10 min; the oracle rebuilds the same islands with lag/cumsum."""
    s = events_stream(spark, sf_dir)
    agg = s.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id").agg(
        F.count("*").alias("cnt")
    )
    # r17 (VERDICT r16 #6): session state is user-keyed and small at
    # the correctness scale — the r16 state-sizing recipe applies.
    out = run_to_memory(agg, output_mode="complete", state_partitions=8)
    return out.select(
        "user_id", epoch_s(F.col("w.start")).alias("session_start"), "cnt"
    )


@register(
    "q_stream_stream_join",
    oracle=f"""
SELECT a.event_id AS purchase_id, b.event_id AS click_id, a.user_id,
       {sql_epoch("a.ts")} AS purchase_ts, {sql_epoch("b.ts")} AS click_ts
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'purchase' AND b.event_type = 'click'
 AND b.ts BETWEEN a.ts - INTERVAL 30 MINUTE AND a.ts + INTERVAL 30 MINUTE
""",
)
def q_stream_stream_join(spark, sf_dir):
    """Stream-stream inner join with a time-range condition: purchases
    matched to clicks by the same user within ±30 min. Watermarks on
    both sides bound the join state (without the time bound + watermark,
    stream-stream join state grows forever — the 100 TB failure mode)."""
    purchases = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    # r17 (VERDICT r16 #6): join state = watermark-bounded event rows,
    # thousands at the correctness scale — state-sizing recipe.
    out = run_to_memory(joined, output_mode="append", state_partitions=8)
    return out.select(
        "purchase_id",
        "click_id",
        "user_id",
        epoch_s("p_ts").alias("purchase_ts"),
        epoch_s("c_ts").alias("click_ts"),
    )


@register(
    "q_stream_watermark_dedup",
    oracle=f"""
SELECT event_id, user_id, event_type, {sql_epoch("ts")} AS ts_epoch, value
FROM events
""",
)
def q_stream_watermark_dedup(spark, sf_dir):
    """Watermarked streaming dedup: the stream is unioned with itself
    (every event arrives twice) and dropDuplicates on event_id restores
    exactly-once output. Dedup state is bounded by the 1h watermark —
    the 100 TB-scale property the reference's unbounded queue lacks.

    State partitioning is sized to the state (r16, VERDICT r15 #1): the
    sf0.1 dedup holds ~240k keys, and inheriting the batch-oriented
    32-partition conf made per-partition state machinery (provider
    init, delta-file fsync, one task per partition per batch) the
    dominant wall cost — the family's apparent 'drift' decomposed into
    exactly this fixed machinery priced on rigs of varying quality
    (the query's code had been byte-identical since r13). 8 partitions
    ≈ 30k keys each; a 100 TB deployment sizes this up at checkpoint
    creation — the parameter is that decision, output is partitioning-
    invariant."""
    a = events_stream(spark, sf_dir)
    b = events_stream(spark, sf_dir)
    doubled = a.unionAll(b)
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type", epoch_s("ts").alias("ts_epoch"), "value")
    )
    return run_to_memory(deduped, output_mode="append", state_partitions=8)


@register(
    "q_stream_late_data",
    oracle="""
WITH mx AS (SELECT max(ts) AS m FROM events),
e AS (SELECT ts, time_bucket(INTERVAL '10 minutes', ts) AS w FROM events),
f0 AS (SELECT w FROM e, mx WHERE ts > m - INTERVAL 10 MINUTE),
f1 AS (SELECT w FROM e, mx
       WHERE ts <= m - INTERVAL 10 MINUTE AND ts > m - INTERVAL 20 MINUTE),
f2 AS (SELECT w FROM e, mx
       WHERE ts <= m - INTERVAL 20 MINUTE
         AND w + INTERVAL 10 MINUTE
             > date_trunc('milliseconds', m) - INTERVAL 30 MINUTE),
b0 AS (SELECT w, count(*) AS cnt FROM f0 GROUP BY w),
b1 AS (SELECT u.w, count(*) AS cnt
       FROM (SELECT w FROM f0 UNION ALL SELECT w FROM f1) u
       WHERE u.w IN (SELECT w FROM f1) GROUP BY u.w),
b2 AS (SELECT u.w, count(*) AS cnt
       FROM (SELECT w FROM f0 UNION ALL SELECT w FROM f1
             UNION ALL SELECT w FROM f2) u
       WHERE u.w IN (SELECT w FROM f2) GROUP BY u.w)
SELECT CAST(floor(epoch(w)) AS BIGINT) AS window_start, CAST(cnt AS BIGINT) AS cnt
FROM (SELECT * FROM b0 UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2)
""",
)
def q_stream_late_data(spark, sf_dir):
    """Watermark late-data semantics through REAL out-of-order
    micro-batches: the event log is split into (fresh sliver, near-
    fresh filler, everything-else-arriving-late) files consumed one
    batch each (maxFilesPerTrigger=1). Batch 0 pins the watermark at
    ``max(ts) − 30min``; the bulk of the log then arrives in batch 2
    as late data, where windows ending at or below the watermark MUST
    be dropped (measured end-inclusive on the state input) and fresher
    windows survive. Update-mode memory sink: the output is the exact
    multiset of per-batch window updates, so the oracle replays batch
    arithmetic cumulatively — batch 0's counts, batch 1's f0+f1
    counts on windows f1 touched, batch 2's surviving cumulative
    counts. The watermark term is ms-floored exactly like Spark's
    EventTimeStats. Reference parity: the ordering/late-data contract
    of SURVEY §4.2 (DeltaCheckpoint.java:66-82 resume filter), which
    the reference enforces by refusing out-of-order checkpoints; the
    Spark-native equivalent is watermark-bounded state."""
    d = late_split_stream_dir(spark, sf_dir)
    s = (
        spark.readStream.schema(parquet_schema(spark, d))
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = (
        s.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
    )
    # State = a few hundred 10-minute windows; 8 partitions (the r16
    # state-sizing decomposition — see q_stream_watermark_dedup) keep
    # the 3-batch run from paying 32 partitions × 3 batches of state
    # machinery for kilobytes of state. Output is partitioning-
    # invariant; the update-mode multiset depends only on batch
    # boundaries, which maxFilesPerTrigger=1 pins.
    out = run_to_memory(agg, output_mode="update", state_partitions=8)
    return out.select(epoch_s(F.col("w.start")).alias("window_start"), "cnt")


@register(
    "q_stream_join_outer",
    oracle=f"""
WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
      FROM events WHERE event_type = 'click'),
wm AS (SELECT least(date_trunc('milliseconds', (SELECT max(p_ts) FROM p)),
                    date_trunc('milliseconds', (SELECT max(c_ts) FROM c)))
              - INTERVAL 1 HOUR AS w),
matched AS (
  SELECT p.purchase_id, c.click_id, p.user_id, p.p_ts, c.c_ts
  FROM p JOIN c ON p.user_id = c.user_id
   AND c.c_ts BETWEEN p.p_ts - INTERVAL 30 MINUTE
                  AND p.p_ts + INTERVAL 30 MINUTE),
unmatched AS (
  SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id, p.user_id,
         p.p_ts, CAST(NULL AS TIMESTAMP) AS c_ts
  FROM p, wm
  WHERE p.purchase_id NOT IN (SELECT purchase_id FROM matched)
    AND p.p_ts + INTERVAL 30 MINUTE < wm.w)
SELECT purchase_id, click_id, user_id,
       {sql_epoch("p_ts")} AS purchase_ts,
       CASE WHEN c_ts IS NULL THEN NULL
            ELSE {sql_epoch("c_ts")} END AS click_ts
FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
""",
)
def q_stream_join_outer(spark, sf_dir):
    """LEFT OUTER stream-stream join — the state-EVICTION semantics the
    inner version never exercises: a purchase with no click in ±30 min
    emits its null row only once the global watermark (the MIN of both
    sides' watermarks, measured) passes strictly beyond its match
    window; fresher unmatched purchases stay in state and, under
    AvailableNow, never emit — exactly the bounded-state behavior that
    keeps a 100 TB outer join from leaking null rows for in-flight
    matches. The oracle replays all three cohorts: matched pairs,
    evicted-unmatched (upper bound strictly below the ms-floored
    min-side watermark), and the held tail (absent)."""
    purchases = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    )
    # r17: same state-sizing recipe as q_stream_stream_join (the outer
    # variant holds the same watermark-bounded state). Eviction/emit
    # semantics depend only on watermarks, never on partition count.
    out = run_to_memory(joined, output_mode="append", state_partitions=8)
    return out.select(
        "purchase_id",
        "click_id",
        "user_id",
        epoch_s("p_ts").alias("purchase_ts"),
        epoch_s("c_ts").alias("click_ts"),
    )


@register(
    "q_stream_enrich",
    oracle="""
SELECT e.event_id, e.user_id, n.n_name AS region_name,
       round(e.value, 4) AS value_r
FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
""",
)
def q_stream_enrich(spark, sf_dir):
    """Stream-static enrichment: the canonical streaming dimension
    join. The static side (nation, 25 rows) is broadcast and re-read
    per micro-batch by the engine; the join is stateless (no
    watermark, no state store), so throughput is map-side — at 100 TB
    the stream never shuffles, only the dim table ships to executors.
    Inner stream-static joins support append mode natively."""
    from pulsar_io_delta_spark.tables import table

    s = events_stream(spark, sf_dir)
    dim = F.broadcast(
        table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    enriched = (
        s.withColumn("nk", (F.col("user_id") % 25))
        .join(dim, F.col("nk") == F.col("n_nationkey"))
        .select(
            "event_id",
            "user_id",
            F.col("n_name").alias("region_name"),
            r4(F.col("value")).alias("value_r"),
        )
    )
    return run_to_memory(enriched, output_mode="append")


@register(
    "q_stream_cdc",
    oracle="""
SELECT event_id, user_id, event_type, value, 'c' AS op,
       'event_type=' || event_type AS partition_value,
       CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS BIGINT)
         AS _commit_version
FROM events
""",
)
def q_stream_cdc(spark, sf_dir):
    """The reference connector's ACTUAL job, end-to-end as a stream
    under the oracle gate: events split into two Delta commits (v0 =
    everything but clicks, v1 = the clicks) → readStream.format(
    'pulsar_delta_cdc') → Trigger.AvailableNow drain. Each row must
    carry the op code, canonical partition_value, and the commit
    version it was observed at — the version labels prove the stream
    delivered per-commit batches in order, not one flattened snapshot
    (reference ops #5/#9/#21; batch twin: q_cdc_source).

    Scale shape: the stream reader plans one file-slice per (commit,
    file) — admission is bounded by maxVersionsPerTrigger, state is the
    version cursor only, and rows never shuffle (stateless append)."""
    import tempfile

    from pulsar_io_delta_spark.sources.datasource import register_delta_cdc
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable
    from pulsar_io_delta_spark.tables import table

    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = tempfile.mkdtemp(prefix="pids_stream_cdc_") + "/tbl"
    t = DeltaTable(path)
    t.write(e.where(F.col("event_type") != "click"), partition_by=["event_type"])
    t.write(e.where(F.col("event_type") == "click"), partition_by=["event_type"])
    register_delta_cdc(spark)
    s = (
        spark.readStream.format("pulsar_delta_cdc")
        .option("tablePath", path)
        .option("startingVersion", 0)
        .load()
    )
    out = run_to_memory(
        s.select(
            "event_id", "user_id", "event_type", "value", "op",
            "partition_value", "_commit_version",
        ),
        output_mode="append",
    )
    return out


@register(
    "q_stream_cdf",
    oracle="""
SELECT event_id, value, _change_type, _commit_version FROM (
  SELECT event_id, value, 'insert' AS _change_type,
         CAST(0 AS BIGINT) AS _commit_version
  FROM events
  UNION ALL
  SELECT event_id, value, 'update_preimage', CAST(1 AS BIGINT)
  FROM events WHERE event_id % 12 = 7
  UNION ALL
  SELECT event_id, value * 2 AS value, 'update_postimage', CAST(1 AS BIGINT)
  FROM events WHERE event_id % 12 = 7
  UNION ALL
  SELECT event_id, value, 'delete', CAST(2 AS BIGINT)
  FROM events WHERE event_id % 12 != 7 AND event_id % 19 = 5
)
""",
)
def q_stream_cdf(spark, sf_dir):
    """STREAMING Change Data Feed (round 8): append → MERGE (cdc files
    with exact pre/post images) → merge-on-read DV delete, drained as a
    readChangeFeed=true stream under Trigger.AvailableNow. Per-row
    _commit_version labels prove per-commit batch delivery; the DV
    commit is streamable only because its cdc actions carry the exact
    rows (the derived path refuses DV files loudly). Batch twin:
    q_cdf_source.

    Scale shape: identical to q_stream_cdc — file-slice planning,
    version-cursor state, stateless append, no shuffle."""
    import tempfile

    from pulsar_io_delta_spark.sources.datasource import register_delta_cdc
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable
    from pulsar_io_delta_spark.tables import table

    e = table(spark, sf_dir, "events").select("event_id", "value")
    path = tempfile.mkdtemp(prefix="pids_stream_cdf_") + "/tbl"
    t = DeltaTable(path)
    t.write(e, configuration={"delta.enableChangeDataFeed": "true"})     # v0
    t.merge_upsert(                                                      # v1
        spark,
        e.where(F.col("event_id") % 12 == 7).withColumn("value", F.col("value") * 2),
        ["event_id"],
    )
    t.delete_where_dv(spark, "event_id % 12 != 7 AND event_id % 19 = 5")  # v2
    register_delta_cdc(spark)
    s = (
        spark.readStream.format("pulsar_delta_cdc")
        .option("tablePath", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", 0)
        .load()
    )
    return run_to_memory(
        s.select("event_id", "value", "_change_type", "_commit_version"),
        output_mode="append",
    )


@register(
    "q_stream_rate_limit",
    oracle="""
SELECT event_id, user_id, event_type, value,
       CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS BIGINT)
         AS _commit_version
FROM events
""",
)
def q_stream_rate_limit(spark, sf_dir):
    """Admission-controlled ingest: the same two-commit CDC stream as
    q_stream_cdc, but drained under ``maxFilesPerTrigger=1`` with real
    micro-batch triggers — every batch admits ONE file slice (the
    sub-commit offset {"version", "index"} splits inside a commit), and
    the accumulated result must still equal plain SQL over events:
    throttling changes batch boundaries, never content, and the
    checkpointed offsets make the split exactly-once.

    Scale shape: this is the backpressure a 100 TB backfill needs — a
    10k-file initial commit drains as 10k/N bounded batches sized by
    log-recorded file counts/bytes, not one giant batch; planning reads
    the log only (no filesystem stats) and rows never shuffle.

    Why wall-clock triggers, not Trigger.AvailableNow (VERDICT r10 #6,
    measured round 11): Spark's Python-source AvailableNow wrapper
    snapshots latestOffset ONCE as the drain target, so with admission
    caps armed the "target" is one capped step and the stream
    terminates after a single truncated batch (pinned:
    tests/test_streaming.py::test_available_now_with_caps_underdrains).
    The trigger interval itself is NOT the floor: 50 ms vs 200 ms moves
    the sf1 drain ≤1 s (11.1 vs 12.2 s) — the cost is 4 micro-batch
    plan/execute cycles + the memory sink collecting 1M rows.

    r17 (VERDICT r16 #5): completion is detected from progress events
    (a StreamingQueryListener summing numInputRows per batchId), not by
    polling ``spark.table(name).count()`` — the old 100 ms count-poll
    launched a distributed count over the ever-growing memory sink per
    poll (up to ~1,700 such jobs racing the drain itself across the
    173 s sf10 tail — self-inflicted measurement load, the §1.4
    mistake). One exact count still gates the row-conservation assert
    after the stream stops."""
    import tempfile
    import time as _t

    from pulsar_io_delta_spark.sources.datasource import register_delta_cdc
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable
    from pulsar_io_delta_spark.streaming.runner import progress_row_counter
    from pulsar_io_delta_spark.tables import table

    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    expected = e.count()
    path = tempfile.mkdtemp(prefix="pids_rate_") + "/tbl"
    t = DeltaTable(path)
    # two commits × two files each → exactly 4 rate-limited batches
    t.write(e.where(F.col("event_type") != "click").repartition(2))
    t.write(e.where(F.col("event_type") == "click").repartition(2))
    register_delta_cdc(spark)
    s = (
        spark.readStream.format("pulsar_delta_cdc")
        .option("tablePath", path)
        .option("startingVersion", 0)
        .option("maxFilesPerTrigger", 1)
        .load()
        .select("event_id", "user_id", "event_type", "value", "_commit_version")
    )
    import uuid as _uuid

    name = f"pids_rate_{_uuid.uuid4().hex[:12]}"
    with progress_row_counter(spark) as counter:
        q = (
            s.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            deadline = _t.time() + 240
            while _t.time() < deadline and counter.rows() < expected:
                _t.sleep(0.1)
        finally:
            q.stop()
    n_batches = sum(
        1 for pr in q.recentProgress if pr and pr["numInputRows"] > 0
    )
    out = spark.table(name)
    assert out.count() == expected, "rate-limited drain lost or duplicated rows"
    assert n_batches >= 4, f"expected >=4 one-file batches, saw {n_batches}"
    return out


@register(
    "q_stream_rate_limit_drain",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(4 AS BIGINT) AS n_batches
FROM events
""",
)
def q_stream_rate_limit_drain(spark, sf_dir):
    """Sink-cost-isolated twin of q_stream_rate_limit (VERDICT r11
    #5): the same two-commit, four-file, ``maxFilesPerTrigger=1``
    drain, but the sink is a count-only ``foreachBatch`` — each
    micro-batch runs a DISTRIBUTED count() and the driver keeps one
    integer per batch, so the measured cost is the source (offset
    planning, file-slice admission, trigger cycles), never the memory
    sink materializing sf×10M rows driver-side. Benchmarking both
    variants makes the sink's share of q_stream_rate_limit's wall time
    a measured number instead of an attribution argument (PERF.md).

    n_batches is deterministic: two commits × two files each under
    maxFilesPerTrigger=1 admit exactly one file slice per non-empty
    batch → exactly 4."""
    import tempfile
    import time as _t

    from pulsar_io_delta_spark.sources.datasource import register_delta_cdc
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable
    from pulsar_io_delta_spark.tables import table

    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    expected = e.count()
    path = tempfile.mkdtemp(prefix="pids_rate_drain_") + "/tbl"
    t = DeltaTable(path)
    t.write(e.where(F.col("event_type") != "click").repartition(2))
    t.write(e.where(F.col("event_type") == "click").repartition(2))
    register_delta_cdc(spark)
    s = (
        spark.readStream.format("pulsar_delta_cdc")
        .option("tablePath", path)
        .option("startingVersion", 0)
        .option("maxFilesPerTrigger", 1)
        .load()
        .select("event_id", "user_id", "event_type", "value")
    )
    counts: list[int] = []

    def _fb(batch_df, _epoch_id):
        n = batch_df.count()
        if n:
            counts.append(n)

    q = (
        s.writeStream.foreachBatch(_fb)
        .outputMode("append")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = _t.time() + 240
        while _t.time() < deadline and sum(counts) < expected:
            _t.sleep(0.1)
    finally:
        q.stop()
    total, n_batches = sum(counts), len(counts)
    assert total == expected, "rate-limited drain lost or duplicated rows"
    assert n_batches == 4, f"expected exactly 4 one-file batches, saw {n_batches}"
    return spark.createDataFrame(
        [(total, n_batches)], "n_rows long, n_batches long"
    )


@register(
    "q_stream_sketch_kmv",
    oracle=__import__(
        "pulsar_io_delta_spark.operators.sketch", fromlist=["kmv_oracle_sql"]
    ).kmv_oracle_sql(),
)
def q_stream_sketch_kmv(spark, sf_dir):
    """Incremental KMV sketch maintenance over a stream — the rollup-
    store shape: each micro-batch's per-type sketch MERGES into a
    persistent parquet sketch store (union-then-retruncate, state
    bounded at types×k longs forever), and mergeability guarantees the
    final store equals the batch-rebuilt sketch — which is exactly what
    the oracle computes, so the 'approximate streaming' answer still
    value-hash-matches SQL. HLL state would give the same union but no
    intersections downstream; the KMV store keeps the set-operation
    algebra available (q_sketch_kmv_intersect).

    Shape: the fixture is written as 4 parquet files and admitted one
    file per trigger (>=4 real merge steps asserted); per batch the
    merge reads types×k rows, unions the batch sketch, re-truncates and
    OVERWRITE-commits into the repo's own DeltaTable (VERDICT r13 #3:
    the former loose-parquet store grew one orphan generation per
    batch forever; the Delta log gives the store checkpointed state
    with an idempotent txn marker per batch — exactly-once across
    micro-batch retries — plus time travel over past sketch
    generations and bounded retention via the table's own
    vacuum/log-compaction machinery, dogfooding the log layer)."""
    import tempfile
    import time as _t

    from pulsar_io_delta_spark.operators import sketch as sk
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable
    from pulsar_io_delta_spark.tables import table

    e = table(spark, sf_dir, "events").select("event_type", "user_id")
    root = tempfile.mkdtemp(prefix="pids_kmv_stream_")
    src = root + "/src"
    e.repartition(4).write.parquet(src)
    expected = e.count()

    store_t = DeltaTable(root + "/store")
    state = {"rows": 0, "batches": 0}

    def _fb(batch_df, epoch_id):
        n = batch_df.count()
        if not n:
            return
        new = sk.kmv_topk(batch_df, "event_type", "user_id")
        if store_t.exists() and store_t.versions():
            prev = store_t.read(spark)
            new = sk.kmv_merge(prev, new, "event_type")
        committed = store_t.write(
            new, mode="overwrite", txn=("kmv_store", int(epoch_id))
        )
        if committed == -1:
            # ADVICE r15: a Spark batch RETRY re-enters foreachBatch for
            # an epoch the idempotent txn already committed — the store
            # is correct (no-op write), but counting n again would make
            # the rows == expected assertion fail spuriously. The first
            # attempt already counted this epoch.
            return
        state["rows"] += n
        state["batches"] += 1

    s = (
        spark.readStream.schema("event_type string, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # r17 (VERDICT r16 #6): the foreachBatch aggregate groups a
    # 3-4-group frame — size its shuffle to the group count for the
    # stream's duration instead of inheriting the 32-partition batch
    # conf (per-batch per-partition machinery ×>=4 triggers). The
    # sketch is sort/truncate-based, so output is partitioning-
    # invariant (oracle-gated).
    with sized_shuffle(spark, 4):
        q = (
            s.writeStream.foreachBatch(_fb)
            .outputMode("append")
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            deadline = _t.time() + 240
            while _t.time() < deadline and state["rows"] < expected:
                _t.sleep(0.1)
        finally:
            q.stop()
    assert state["rows"] == expected, "stream lost or duplicated rows"
    assert state["batches"] >= 4, f"merge path unexercised: {state['batches']} batches"

    store = store_t.read(spark)
    est = sk.kmv_estimate(store, "event_type")
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        "kmv_est",
        F.round(
            F.abs(F.col("kmv_est").cast("double") - F.col("exact_distinct").cast("double"))
            / F.col("exact_distinct").cast("double"),
            4,
        ).alias("rel_err"),
    )


def _stream_quantile_oracle() -> str:
    from pulsar_io_delta_spark.operators.sketch import quantile_oracle_sql

    return quantile_oracle_sql()


@register("q_stream_sketch_quantile", oracle=_stream_quantile_oracle())
def q_stream_sketch_quantile(spark, sf_dir):
    """Incremental QUANTILE sketch maintenance over a stream — the
    quantile side of the rollup store q_stream_sketch_kmv pins for
    distinct counts: each micro-batch's bottom-k hash-sample sketch
    MERGES into a Delta-table sketch store (union-then-retruncate,
    state bounded at groups×k (hash, value) pairs forever; idempotent
    txn per batch, so exactly-once across retries and bounded retention
    via the table's own log machinery). Bottom-k composition makes the
    merge EXACT — the final store IS the batch-rebuilt sketch, so the
    streaming answer value-hash-matches the same oracle as the batch
    query, including the DKW in_bounds contract columns.

    Shape: 4 parquet files admitted one per trigger (>=4 real merges
    asserted); per batch the merge reads groups×k rows, never raw
    history."""
    import tempfile
    import time as _t

    from pulsar_io_delta_spark.operators import sketch as sk
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable
    from pulsar_io_delta_spark.tables import table

    from pulsar_io_delta_spark.queries.pipeline3 import _quantile_contract

    e = table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    root = tempfile.mkdtemp(prefix="pids_qsk_stream_")
    src = root + "/src"
    e.repartition(4).write.parquet(src)
    expected = e.count()

    store_t = DeltaTable(root + "/store")
    state = {"rows": 0, "batches": 0}

    def _fb(batch_df, epoch_id):
        n = batch_df.count()
        if not n:
            return
        new = sk.quantile_sketch(batch_df, "event_type", "value", "event_id")
        if store_t.exists() and store_t.versions():
            prev = store_t.read(spark)
            new = sk.quantile_sketch_merge(prev, new, "event_type")
        committed = store_t.write(
            new, mode="overwrite", txn=("qsk_store", int(epoch_id))
        )
        if committed == -1:
            # ADVICE r15: a Spark batch RETRY re-enters foreachBatch for
            # an epoch the idempotent txn already committed — the store
            # is correct (no-op write), but counting n again would make
            # the rows == expected assertion fail spuriously. The first
            # attempt already counted this epoch.
            return
        state["rows"] += n
        state["batches"] += 1

    s = (
        spark.readStream.schema("event_type string, event_id bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # r17 (VERDICT r16 #6): the foreachBatch aggregate groups a
    # 3-4-group frame — size its shuffle to the group count for the
    # stream's duration instead of inheriting the 32-partition batch
    # conf (per-batch per-partition machinery ×>=4 triggers). The
    # sketch is sort/truncate-based, so output is partitioning-
    # invariant (oracle-gated).
    with sized_shuffle(spark, 4):
        q = (
            s.writeStream.foreachBatch(_fb)
            .outputMode("append")
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            deadline = _t.time() + 240
            while _t.time() < deadline and state["rows"] < expected:
                _t.sleep(0.1)
        finally:
            q.stop()
    assert state["rows"] == expected, "stream lost or duplicated rows"
    assert state["batches"] >= 4, f"merge path unexercised: {state['batches']} batches"

    ps_pm = list(sk.PS_PM_DEFAULT)
    est = sk.quantile_estimate(store_t.read(spark), "event_type", ps_pm)
    return _quantile_contract(spark, sf_dir, est, ps_pm, sk.QEPS_PM)


def _stream_wsample_oracle() -> str:
    from pulsar_io_delta_spark.operators.sketch import wsample_oracle_sql

    return wsample_oracle_sql()


@register("q_stream_sketch_wsample", oracle=_stream_wsample_oracle())
def q_stream_sketch_wsample(spark, sf_dir):
    """Incremental WEIGHTED-SAMPLE sketch maintenance over a stream —
    the corpus-mixing side of the rollup store q_stream_sketch_kmv /
    q_stream_sketch_quantile pin for their legs: each micro-batch's
    priority-sample sketch MERGES into a Delta-table sketch store
    (union-then-retruncate, state bounded at groups×(k+1) rows forever;
    idempotent txn per batch, exactly-once across retries). Bottom-(k+1)
    composition makes the merge EXACT — the final store IS the
    batch-rebuilt sketch, so the streaming answer value-hash-matches
    the same oracle as q_sketch_wsample, including the estimator
    contract columns.

    Shape: 4 parquet files admitted one per trigger (>=4 real merges
    asserted); per batch the merge reads groups×(k+1) rows, never raw
    history."""
    import tempfile
    import time as _t

    from pulsar_io_delta_spark.operators import sketch as sk
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable
    from pulsar_io_delta_spark.queries.pipeline3 import (
        _wsample_contract,
        _wsample_weighted_docs,
    )

    d = _wsample_weighted_docs(spark, sf_dir).select("lang", "doc_id", "wt")
    root = tempfile.mkdtemp(prefix="pids_wsk_stream_")
    src = root + "/src"
    d.repartition(4).write.parquet(src)
    expected = d.count()

    store_t = DeltaTable(root + "/store")
    state = {"rows": 0, "batches": 0}

    def _fb(batch_df, epoch_id):
        n = batch_df.count()
        if not n:
            return
        new = sk.wsample_sketch(batch_df, "lang", "wt", "doc_id")
        if store_t.exists() and store_t.versions():
            prev = store_t.read(spark)
            new = sk.wsample_merge(prev, new, "lang")
        committed = store_t.write(
            new, mode="overwrite", txn=("wsk_store", int(epoch_id))
        )
        if committed == -1:
            # ADVICE r15: a Spark batch RETRY re-enters foreachBatch for
            # an epoch the idempotent txn already committed — the store
            # is correct (no-op write), but counting n again would make
            # the rows == expected assertion fail spuriously. The first
            # attempt already counted this epoch.
            return
        state["rows"] += n
        state["batches"] += 1

    s = (
        spark.readStream.schema("lang string, doc_id bigint, wt bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # r17 (VERDICT r16 #6): the foreachBatch aggregate groups a
    # 3-4-group frame — size its shuffle to the group count for the
    # stream's duration instead of inheriting the 32-partition batch
    # conf (per-batch per-partition machinery ×>=4 triggers). The
    # sketch is sort/truncate-based, so output is partitioning-
    # invariant (oracle-gated).
    with sized_shuffle(spark, 4):
        q = (
            s.writeStream.foreachBatch(_fb)
            .outputMode("append")
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            deadline = _t.time() + 240
            while _t.time() < deadline and state["rows"] < expected:
                _t.sleep(0.1)
        finally:
            q.stop()
    assert state["rows"] == expected, "stream lost or duplicated rows"
    assert state["batches"] >= 4, f"merge path unexercised: {state['batches']} batches"

    est = sk.wsample_estimate(store_t.read(spark), "lang")
    exact = d.groupBy("lang").agg(F.sum("wt").alias("exact_total_w"))
    return _wsample_contract(est, exact, sk.WERR_PM)
