"""Reference-surface (ingestion/CDC) queries — SURVEY.md §2.3 table 1.

These re-express what the reference connector computes (snapshot scan,
CDC envelope, canonical partition encoding, murmur3 routing, time-travel
bounds, type widening) over the driver fixtures.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pulsar_io_delta_spark.operators.cdc import OP_INSERT, cdc_envelope, partition_value_expr
from pulsar_io_delta_spark.queries._util import epoch_s, sql_epoch
from pulsar_io_delta_spark.registry import register
from pulsar_io_delta_spark.tables import table


@register(
    "q_snapshot_scan",
    oracle="""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity FROM lineitem
""",
)
def q_snapshot_scan(spark, sf_dir):
    """Full-copy snapshot scan + projection (reference op #4/#7,
    `DeltaReader.java:174-184`, `ParquetReaderUtils.java:72-91`).
    Column pruning reaches the parquet footer (ReadSchema shows only the
    5 projected columns)."""
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )


@register(
    "q_cdc_envelope",
    oracle=f"""
SELECT event_id, 'c' AS op, 'event_type=' || event_type AS partition_value,
       {sql_epoch("ts")} AS ts_epoch, value
FROM events
""",
)
def q_cdc_envelope(spark, sf_dir):
    """CDC envelope derivation (reference op #15, `DeltaRecord.java:75-99`):
    op code + canonical partition_value + event time."""
    e = table(spark, sf_dir, "events")
    enveloped = cdc_envelope(
        e, OP_INSERT, partition_cols={"event_type": F.col("event_type")}
    )
    return enveloped.select(
        "event_id", "op", "partition_value", epoch_s("ts").alias("ts_epoch"), "value"
    )


@register(
    "q_partition_encode",
    oracle="""
SELECT event_id,
       'dt=' || strftime(ts, '%Y-%m-%d') || 'event_type=' || event_type
         AS partition_value
FROM events
""",
)
def q_partition_encode(spark, sf_dir):
    """Canonical partition-value string: TreeMap key order, `k=v` pairs,
    no pair separator (reference op #12, `DeltaReader.java:290-299`)."""
    e = table(spark, sf_dir, "events")
    pv = partition_value_expr(
        {
            "dt": F.date_format("ts", "yyyy-MM-dd"),
            "event_type": F.col("event_type"),
        }
    )
    return e.select("event_id", pv.alias("partition_value"))


def _hash_route_oracle() -> str:
    """murmur3-seed-0 IS expressible in DuckDB (UBIGINT wrapping
    arithmetic + list_reduce over 4-byte blocks) — full value-hash
    parity for reference op #11 instead of a rows-only check."""
    from pulsar_io_delta_spark.functions.murmur3 import murmur3_duckdb_ctes

    return f"""
WITH e AS (SELECT event_id, 'event_type=' || event_type AS pv FROM events),
{murmur3_duckdb_ctes("e", 8)}
SELECT e.event_id, e.pv AS partition_value, s.partition_id
FROM e JOIN mm3_slot s USING (pv)
"""


@register("q_hash_route", oracle=_hash_route_oracle())
def q_hash_route(spark, sf_dir):
    """Murmur3-seed-0 routing parity (reference op #11,
    `DeltaReader.java:60-63`): slot = hash(partition_value) & MAX_INT % 8.
    The slot is computed on the DISTINCT partition values (numpy batch
    kernel over a handful of strings) and broadcast-joined back, so the
    150k-row path is pure JVM — no full-column Python round trip."""
    from pulsar_io_delta_spark.functions.murmur3 import with_route_lowcard

    e = table(spark, sf_dir, "events")
    pv = partition_value_expr({"event_type": F.col("event_type")})
    return with_route_lowcard(
        e.select("event_id", pv.alias("partition_value")),
        F.col("partition_value"),
        8,
    ).select("event_id", "partition_value", "partition_id")


@register(
    "q_time_travel_filter",
    oracle=f"""
SELECT event_id, {sql_epoch("ts")} AS ts_epoch, event_type, value
FROM events
WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
""",
)
def q_time_travel_filter(spark, sf_dir):
    """Version/timestamp-bounded read (reference ops #2/#3,
    `DeltaReader.java:134-164`) modeled as an event-time range; the
    predicate pushes down to the parquet scan (PushedFilters)."""
    e = table(spark, sf_dir, "events")
    return e.where((F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-20")).select(
        "event_id", epoch_s("ts").alias("ts_epoch"), "event_type", "value"
    )


@register(
    "q_cdc_source",
    oracle="""
SELECT event_id, user_id, event_type, value,
       'c' AS op, 'event_type=' || event_type AS partition_value,
       CAST(0 AS BIGINT) AS _commit_version
FROM events
""",
)
def q_cdc_source(spark, sf_dir):
    """End-to-end CDC through the registered Python DataSource: events →
    partitioned Delta table (our writer) → spark.read.format(
    'pulsar_delta_cdc') — the reference connector's whole read path as
    one Spark query. (ts is file-mtime and excluded from verified
    output.)"""
    import tempfile

    from pulsar_io_delta_spark.sources.datasource import register_delta_cdc
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    e = table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="pids_cdc_src_") + "/tbl"
    DeltaTable(path).write(e, partition_by=["event_type"])
    register_delta_cdc(spark)
    cdc = (
        spark.read.format("pulsar_delta_cdc")
        .option("tablePath", path)
        .option("startingVersion", 0)
        .load()
    )
    return cdc.select(
        "event_id", "user_id", "event_type", "value", "op", "partition_value", "_commit_version"
    )


@register(
    "q_type_widening",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(l_linenumber AS BIGINT) AS ln_long,
       CAST(l_linenumber AS DOUBLE) AS ln_dbl,
       CAST(l_orderkey AS VARCHAR) AS ok_str,
       CAST(l_shipdate AS DATE) AS ship_date
FROM lineitem
""",
)
def q_type_widening(spark, sf_dir):
    """Type conversion surface (reference ops #13/#14,
    `DeltaRecord.java:101-191`), minus the reference's lossy
    decimal→double defect (SURVEY §2.4 #10)."""
    l = table(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_linenumber").cast("long").alias("ln_long"),
        F.col("l_linenumber").cast("double").alias("ln_dbl"),
        F.col("l_orderkey").cast("string").alias("ok_str"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )


@register(
    "q_dv_read",
    oracle="""
WITH ranked AS (
  SELECT event_id, event_type, value,
         CAST(event_id % 4 AS BIGINT) AS file_k,
         row_number() OVER (PARTITION BY event_id % 4 ORDER BY event_id) - 1 AS ridx
  FROM events
)
SELECT event_id, event_type, value, file_k
FROM ranked
WHERE NOT (file_k = 0 AND ridx < 3)
  AND NOT (file_k = 1 AND ridx < 5)
  AND event_id % 7 != 3
  AND event_id % 11 != 5
""",
)
def q_dv_read(spark, sf_dir):
    """Deletion-vector read over the full descriptor surface a 2023+
    Delta writer produces (Delta PROTOCOL.md "Deletion Vectors"; the
    reference reader, DeltaReader.java:301-303, predates DVs):

    - events split into 4 files (event_id % 4, each sorted by event_id
      so the parquet row index is the within-file rank — what the SQL
      oracle reconstructs with row_number());
    - file 0 gets a handwritten INLINE ('i') DV deleting row idx {0,1,2};
    - file 1 gets a handwritten u-FILE ('u') DV deleting row idx {0..4};
    - two delete_where_dv commits (merge-on-read delete: DV write + same
      path re-add, NO data-file rewrite) whose second predicate overlaps
      the first — exercising the DV∪DV union on re-delete, including
      union with the handwritten descriptors.

    Scale shape: bitmap→row-index expansion runs on executors
    (mapInPandas over descriptors), the deleted-index side broadcasts
    under the exact log-recorded cardinality, and the delete itself is
    O(touched bitmaps), not a file rewrite."""
    import tempfile
    import time as _t

    from pulsar_io_delta_spark.sources.delta_log import (
        DeltaTable,
        _dv_upgraded_protocol,
    )
    from pulsar_io_delta_spark.sources.deletion_vectors import (
        inline_descriptor,
        write_dv_file,
    )

    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = tempfile.mkdtemp(prefix="pids_dv_") + "/tbl"
    t = DeltaTable(path)
    for k in range(4):
        part = (
            e.where(F.col("event_id") % 4 == k)
            .repartition(1)
            .sortWithinPartitions("event_id")
        )
        t.write(part)
    snap = t.snapshot()
    adds = {v: next(a["add"] for a in t.actions(v) if "add" in a) for v in range(4)}
    (udesc,) = write_dv_file(path, [[0, 1, 2, 3, 4]])
    now_ms = int(_t.time() * 1000)
    actions = [{"protocol": _dv_upgraded_protocol(snap.protocol)}]
    for v, desc in ((0, inline_descriptor([0, 1, 2])), (1, udesc)):
        add = dict(adds[v])
        actions.append(
            {
                "remove": {
                    "path": add["path"],
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                    "partitionValues": {},
                }
            }
        )
        add["deletionVector"] = desc
        add["dataChange"] = True
        actions.append({"add": add})
    t._commit(snap, actions, operation="DELETE", read_version=snap.version)
    t.delete_where_dv(spark, "event_id % 7 = 3")
    # overlapping predicate: DV∪DV union per file, idempotent re-delete
    t.delete_where_dv(spark, "event_id % 7 = 3 OR event_id % 11 = 5")
    return t.read(spark).select(
        "event_id",
        "event_type",
        "value",
        (F.col("event_id") % 4).cast("long").alias("file_k"),
    )


@register(
    "q_column_mapping_read",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events
WHERE event_type = 'click'
""",
)
def q_column_mapping_read(spark, sf_dir):
    """Name-mode column-mapping read (Delta PROTOCOL.md "Column
    Mapping"): the table's parquet files and hive partition dirs use
    PHYSICAL column names (c_xxxx, the delta.columnMapping.physicalName
    of each schema field), including a MAPPED PARTITION column; the
    reader renames physical → logical and translates the pruning filter
    logical → physical so partition pruning still happens on the
    physically-named directories (only the event_type='click' files are
    scanned — the other four partitions are pruned from the file list
    before Spark ever sees them)."""
    import json as _json
    import tempfile
    import uuid as _uuid

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = tempfile.mkdtemp(prefix="pids_cm_") + "/tbl"
    phys = e.select(
        F.col("event_id").alias("c_7f3a"),
        F.col("user_id").alias("c_9b21"),
        F.col("value").alias("c_44de"),
        F.col("event_type").alias("c_e5c0"),
    )
    phys.write.partitionBy("c_e5c0").parquet(root)
    logical = [
        ("event_id", "c_7f3a", "long"),
        ("user_id", "c_9b21", "long"),
        ("value", "c_44de", "double"),
        ("event_type", "c_e5c0", "string"),
    ]
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": name,
                    "type": typ,
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": i + 1,
                        "delta.columnMapping.physicalName": pname,
                    },
                }
                for i, (name, pname, typ) in enumerate(logical)
            ],
        }
    )
    actions = [
        {"commitInfo": {"timestamp": 1700000000000, "operation": "WRITE"}},
        # legacy reader version 2 IS the column-mapping era
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": str(_uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema,
                # partitionColumns stay LOGICAL; partitionValues keys and
                # dir names are physical
                "partitionColumns": ["event_type"],
                "configuration": {"delta.columnMapping.mode": "name"},
            }
        },
    ]
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, fn), root)
            pdir = os.path.basename(os.path.dirname(os.path.join(dirpath, fn)))
            k, _, v = pdir.partition("=")
            actions.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {k: v},
                        "size": os.path.getsize(os.path.join(dirpath, fn)),
                        "modificationTime": 1700000000000,
                        "dataChange": True,
                    }
                }
            )
    os.makedirs(os.path.join(root, "_delta_log"))
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")
    t = DeltaTable(root)
    # the filter is LOGICAL; pruning translates it to the physical
    # partition key before consulting partitionValues
    return t.read(spark, filters=[("event_type", "=", "click")]).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "q_column_mapping_write",
    oracle="""
SELECT event_id, event_type, value
FROM events
WHERE event_id % 5 != 0
  AND NOT (event_id % 7 = 1 AND event_type = 'click')
""",
)
def q_column_mapping_write(spark, sf_dir):
    """Name-mode column-mapping WRITE lifecycle (round 8; Delta
    PROTOCOL.md "Column Mapping" — the reference writer,
    DeltaReader.java:301-303 era, predates mapping entirely): every
    staging path of this engine renames logical → physical before
    touching disk, so data files and hive partition dirs of a mapped
    table never contain logical names.

    Lifecycle on a handwritten EMPTY mapped table (physical names
    c_xxxx, mapped PARTITION column):
    - append all events via write(partition_by=['event_type']);
    - delete_where_dv('event_id % 5 = 0') — merge-on-read DV delete,
      logical predicate over physical row ordinals;
    - delete_where('event_id % 7 = 1', filters=[event_type='click']) —
      rewrite path, partition pruning translated logical → physical
      (only the click partition's files are rewritten; the DV survives
      the rewrite via _live_rows);
    - compact(target_files=2) — dataChange=false physical re-staging.

    Scale shape: identical to the unmapped paths (the rename is a
    zero-cost projection); pruning still happens on partitionValues
    before any file is opened."""
    import json as _json
    import tempfile

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    root = tempfile.mkdtemp(prefix="pids_cmw_") + "/tbl"
    logical = [
        ("event_id", "c_11aa", "long"),
        ("event_type", "c_22bb", "string"),
        ("value", "c_33cc", "double"),
    ]
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": name,
                    "type": typ,
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": i + 1,
                        "delta.columnMapping.physicalName": pname,
                    },
                }
                for i, (name, pname, typ) in enumerate(logical)
            ],
        }
    )
    actions = [
        {"commitInfo": {"timestamp": 1700000000000, "operation": "CREATE TABLE"}},
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["columnMapping"],
                      "writerFeatures": ["columnMapping"]}},
        {"metaData": {"id": "cmw-fixture", "schemaString": schema,
                      "partitionColumns": ["event_type"],
                      "format": {"provider": "parquet", "options": {}},
                      "configuration": {"delta.columnMapping.mode": "name"}}},
    ]
    os.makedirs(os.path.join(root, "_delta_log"))
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")
    t = DeltaTable(root)
    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t.write(e, partition_by=["event_type"])
    t.delete_where_dv(spark, "event_id % 5 = 0")
    t.delete_where(spark, "event_id % 7 = 1", filters=[("event_type", "=", "click")])
    t.compact(spark, target_files=2)
    # staged files must be physically named — assert, don't assume
    snap = t.snapshot()
    for rel in snap.files:
        if "c_22bb=" not in rel:
            raise AssertionError(f"logical name leaked into data path: {rel}")
    return t.read(spark).select("event_id", "event_type", "value")


@register(
    "q_mapping_upgrade",
    oracle="""
SELECT event_id, event_type, value, src FROM (
  SELECT event_id, event_type, value, CAST(NULL AS VARCHAR) AS src
  FROM events
  UNION ALL
  SELECT event_id, event_type, value, 'v2' AS src
  FROM events WHERE event_type = 'click'
)
WHERE event_id % 6 != 2
""",
)
def q_mapping_upgrade(spark, sf_dir):
    """Column-mapping UPGRADE lifecycle (round 8): an existing unmapped
    table is ALTERed to name-mode mapping in place — per spec upgrade
    semantics every existing column keeps its current name as its
    physicalName, so the files already on disk are never rewritten —
    then evolves (new column gets a col-<uuid> physical name and bumps
    delta.columnMapping.maxColumnId) and takes a merge-on-read DV
    delete across the mixed pre/post-upgrade file population.

    Scale shape: the upgrade is a metadata-only commit (zero data I/O
    regardless of table size); evolution null-fills old files at scan
    time via the pinned physical schema, no backfill rewrite."""
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable
    import tempfile

    root = tempfile.mkdtemp(prefix="pids_cmu_") + "/tbl"
    t = DeltaTable(root)
    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t.write(e)                      # v0: plain, unmapped
    t.enable_column_mapping()       # v1: metadata-only upgrade
    t.write(                        # v2: schema evolution under mapping
        e.where(F.col("event_type") == "click").withColumn("src", F.lit("v2"))
    )
    t.delete_where_dv(spark, "event_id % 6 = 2")  # v3: DV over the mix
    return t.read(spark).select("event_id", "event_type", "value", "src")


@register(
    "q_checkpoint_v2",
    oracle="""
SELECT event_id, event_type, value
FROM events
WHERE event_id % 9 != 4
""",
)
def q_checkpoint_v2(spark, sf_dir):
    """V2 spec checkpoint lifecycle (round 8; Delta PROTOCOL.md "V2
    Spec Checkpoints" — the reference's delta-standalone era,
    DeltaReader.java:301-303, predates them): the table upgrades to the
    v2Checkpoint feature, takes a DV delete, checkpoints — checkpoint()
    auto-selects the UUID-named v2 form because the protocol demands it
    — and then the whole JSON history expires. The final read is served
    ENTIRELY from the v2 checkpoint: live adds (sharded into sidecar
    parquet files since round 9), the DV descriptor, and the
    table-features protocol all survive expiry.

    Scale shape: checkpoint bootstrap is O(live files), not O(commits)
    — the difference between opening a 10^6-commit table in seconds vs
    replaying a year of JSON. The reader also accepts foreign v2
    parquet checkpoints with _sidecars/ shards (test_checkpoint_interop
    covers that dialect on handwritten fixtures)."""
    import tempfile

    from pulsar_io_delta_spark.sources.delta_log import (
        DeltaTable,
        _upgraded_protocol,
    )

    root = tempfile.mkdtemp(prefix="pids_v2ck_") + "/tbl"
    t = DeltaTable(root)
    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t.write(e)
    snap = t.snapshot()
    t._commit(
        snap,
        [{"protocol": _upgraded_protocol(
            snap.protocol, ("v2Checkpoint",), ("v2Checkpoint",)
        )}],
        operation="UPGRADE",
        read_version=snap.version,
    )
    t.delete_where_dv(spark, "event_id % 9 = 4")
    # auto-v2 (the protocol demands it), file actions sharded into
    # _sidecars/*.parquet (round 9: our writer produces the sidecar
    # form too — the no-unbounded-manifest layout a 10^6-file table
    # needs; the reader reassembles them columnar)
    v = t.checkpoint(sidecars=2)
    t.expire_log()
    # the log is now checkpoint-only; bootstrap must come from v2
    t2 = DeltaTable(root)
    if t2.json_versions():
        raise AssertionError("expiry left JSON commits behind")
    if t2.checkpoint_versions() != [v]:
        raise AssertionError("v2 checkpoint not discovered after expiry")
    if not t2.fs.listdir(os.path.join(t2.log_dir, "_sidecars")):
        raise AssertionError("sidecar shards missing")
    return t2.read(spark).select("event_id", "event_type", "value")


@register(
    "q_cdf_merge",
    oracle="""
SELECT event_id, event_type, value, _change_type FROM (
  SELECT event_id, event_type, value, 'update_preimage' AS _change_type
  FROM events WHERE event_id % 10 = 0
  UNION ALL
  SELECT event_id, event_type, value * 2 AS value, 'update_postimage'
  FROM events WHERE event_id % 10 = 0
  UNION ALL
  SELECT -event_id - 1 AS event_id, event_type, value + 0.5 AS value,
         'insert'
  FROM events WHERE event_id % 13 = 0
)
""",
)
def q_cdf_merge(spark, sf_dir):
    """Change Data Feed over a MERGE (round 8; Delta PROTOCOL.md
    "Change Data Feed"): the table is created with
    delta.enableChangeDataFeed armed, a merge updates every 10th event
    (value doubled) and inserts offset copies of every 13th; the commit
    writes _change_data files + cdc actions (and the feature-merging
    changeDataFeed protocol upgrade), and table_changes() reads the
    commit EXCLUSIVELY from those files — yielding the exact
    update_preimage / update_postimage pairs that the reference's
    add/remove-derived change stream (DeltaReader.java:196-247)
    fundamentally cannot express.

    Scale shape: change files are written partitioned alongside the
    data (one bounded extra write per touched partition); the read is
    one scan per schema epoch with commit metadata attached by a
    broadcast lookup join — no change row ever touches the driver."""
    import tempfile

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    root = tempfile.mkdtemp(prefix="pids_cdf_") + "/tbl"
    t = DeltaTable(root)
    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t.write(e, configuration={"delta.enableChangeDataFeed": "true"})
    updates = e.where(F.col("event_id") % 10 == 0).withColumn(
        "value", F.col("value") * 2
    )
    # negative-id inserts are disjoint from the fixture's non-negative
    # id domain at ANY scale factor (a fixed +1e7 offset would collide
    # once events outgrows 10M rows — caught by the round-9 sf1 gate)
    inserts = e.where(F.col("event_id") % 13 == 0).select(
        (-F.col("event_id") - 1).alias("event_id"),
        "event_type",
        (F.col("value") + 0.5).alias("value"),
    )
    v = t.merge_upsert(spark, updates.unionByName(inserts), ["event_id"])
    return t.table_changes(spark, start_version=v).select(
        "event_id", "event_type", "value", "_change_type"
    )


@register(
    "q_cdf_source",
    oracle="""
SELECT event_id, value, _change_type, _commit_version FROM (
  SELECT event_id, value, 'insert' AS _change_type,
         CAST(0 AS BIGINT) AS _commit_version
  FROM events
  UNION ALL
  SELECT event_id, value, 'update_preimage', CAST(1 AS BIGINT)
  FROM events WHERE event_id % 11 = 0
  UNION ALL
  SELECT event_id, value * 3 AS value, 'update_postimage', CAST(1 AS BIGINT)
  FROM events WHERE event_id % 11 = 0
  UNION ALL
  SELECT event_id, value, 'delete', CAST(2 AS BIGINT)
  FROM events WHERE event_id % 11 != 0 AND event_id % 17 = 3
)
""",
)
def q_cdf_source(spark, sf_dir):
    """Change Data Feed through the registered Python DataSource
    (option readChangeFeed=true, round 8): append (derived inserts) →
    MERGE (cdc files, exact pre/post images) → merge-on-read DV delete
    (cdc files; the DV commit is readable ONLY because cdc actions
    carry the exact rows — the arrow whole-file reader refuses derived
    DV slices loudly). The schema swaps op for _change_type, matching
    delta-spark CDF consumers.

    Scale shape: planning stays file-granular (one input partition per
    change file); change rows stream from parquet as Arrow batches on
    executors — no driver materialization."""
    import tempfile

    from pulsar_io_delta_spark.sources.datasource import register_delta_cdc
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    e = table(spark, sf_dir, "events").select("event_id", "value")
    path = tempfile.mkdtemp(prefix="pids_cdf_src_") + "/tbl"
    t = DeltaTable(path)
    t.write(e, configuration={"delta.enableChangeDataFeed": "true"})   # v0
    t.merge_upsert(                                                    # v1
        spark,
        e.where(F.col("event_id") % 11 == 0).withColumn("value", F.col("value") * 3),
        ["event_id"],
    )
    t.delete_where_dv(spark, "event_id % 11 != 0 AND event_id % 17 = 3")  # v2
    register_delta_cdc(spark)
    cdf = (
        spark.read.format("pulsar_delta_cdc")
        .option("tablePath", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", 0)
        .load()
    )
    return cdf.select("event_id", "value", "_change_type", "_commit_version")


@register(
    "q_update_where",
    oracle="""
SELECT event_id, event_type,
       CASE WHEN event_type = 'click' AND event_id % 7 = 2
            THEN value * 10 + 1 ELSE value END AS value,
       CASE WHEN event_type = 'click' AND event_id % 7 = 2
            THEN 'promo' ELSE event_type END AS tag
FROM events
""",
)
def q_update_where(spark, sf_dir):
    """UPDATE ... SET (round 8): rewrite ONLY the files containing
    matching rows, applying SQL-expression assignments to matched rows
    and keeping FALSE/NULL-predicate rows byte-identical — the last
    missing DML verb beside MERGE/DELETE. The partition filter prunes
    the click partition's files before any scan; touch detection
    collects file paths only.

    Scale shape: same class as delete_where — prune → path-only touch
    probe → one rewrite of touched files; the assignment expressions
    stay in whole-stage codegen."""
    import tempfile

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    root = tempfile.mkdtemp(prefix="pids_upd_") + "/tbl"
    t = DeltaTable(root)
    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t.write(
        e.withColumn("tag", F.col("event_type")), partition_by=["event_type"]
    )
    t.update_where(
        spark,
        "event_id % 7 = 2",
        {"value": "value * 10 + 1", "tag": "'promo'"},
        filters=[("event_type", "=", "click")],
    )
    return t.read(spark).select("event_id", "event_type", "value", "tag")


@register(
    "q_generated_columns",
    oracle="""
SELECT event_id, event_type,
       CASE WHEN event_id % 8 = 1 THEN value + 100 ELSE value END AS value,
       upper(event_type) AS etype_upper
FROM events
""",
)
def q_generated_columns(spark, sf_dir):
    """Generated columns (round 8; Delta PROTOCOL.md "Generated
    Columns"): a table born with etype_upper GENERATED ALWAYS AS
    upper(event_type) — appends omitting the column get it computed at
    write time inside whole-stage codegen, a provided-but-wrong value
    refuses loudly, and UPDATE recomputes it over the post-assignment
    row. The invariant every downstream reader relies on (column ==
    expression) is enforced at the only place it can be: the writer."""
    import json as _json
    import tempfile

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    root = tempfile.mkdtemp(prefix="pids_gen_") + "/tbl"
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "event_id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "event_type", "type": "string", "nullable": True, "metadata": {}},
                {"name": "value", "type": "double", "nullable": True, "metadata": {}},
                {"name": "etype_upper", "type": "string", "nullable": True,
                 "metadata": {"delta.generationExpression": "upper(event_type)"}},
            ],
        }
    )
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                      "writerFeatures": ["appendOnly", "invariants",
                                         "generatedColumns"]}},
        {"metaData": {"id": "gen-fixture", "schemaString": schema,
                      "partitionColumns": [],
                      "format": {"provider": "parquet", "options": {}},
                      "configuration": {}}},
    ]
    os.makedirs(os.path.join(root, "_delta_log"))
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")
    t = DeltaTable(root)
    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t.write(e)  # etype_upper computed on write
    t.update_where(spark, "event_id % 8 = 1", {"value": "value + 100"})
    return t.read(spark).select("event_id", "event_type", "value", "etype_upper")


@register(
    "q_column_defaults",
    oracle="""
SELECT event_id, value, 'landed' AS src FROM events WHERE event_id % 2 = 0
UNION ALL
SELECT event_id, value, NULL AS src FROM events WHERE event_id % 2 = 1
""",
)
def q_column_defaults(spark, sf_dir):
    """Default column values (round 9; Delta PROTOCOL.md "Default
    columns", writer feature allowColumnDefaults): rows written BEFORE
    the default keep NULL (write-time-only semantics — no backfill),
    then ALTER COLUMN SET DEFAULT is a metadata-only commit and the
    next append that OMITS the column gets the expression evaluated
    inside whole-stage codegen. The oracle encodes exactly that
    history: odd event_ids landed pre-default (NULL), even ones after
    ('landed')."""
    import tempfile

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    root = tempfile.mkdtemp(prefix="pids_dflt_") + "/tbl"
    t = DeltaTable(root)
    e = table(spark, sf_dir, "events").select("event_id", "value")
    t.write(
        e.where(F.col("event_id") % 2 == 1).withColumn(
            "src", F.lit(None).cast("string")
        )
    )
    t.set_column_default("src", "'landed'")
    t.write(e.where(F.col("event_id") % 2 == 0))  # src omitted -> default
    return t.read(spark).select("event_id", "value", "src")


@register(
    "q_column_mapping_id",
    oracle="""
SELECT event_id, user_id, value FROM events
WHERE event_id % 3 = 1
""",
)
def q_column_mapping_id(spark, sf_dir):
    """'id'-mode column mapping, read AND write (round 8, write round
    9; Delta PROTOCOL.md "Column Mapping", mode=id): the table's
    foreign data file stores column names that match neither the
    logical nor the physical names — only the parquet field ids (what
    a UniForm/converted table or an id-preserving engine produces) —
    and the OTHER half of the rows arrives through our writer, whose
    staging stamps ``parquet.field.id`` on every physically-named
    column (distributed JVM parquet write, VERDICT r8 #4). One scan
    resolves both file generations by field id and surfaces logical
    names. Filter pushdown still reaches the scan under the resolved
    schema."""
    import json as _json
    import tempfile

    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    root = tempfile.mkdtemp(prefix="pids_cmid_") + "/tbl"
    e = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    w_schema = StructType([
        StructField("fx_1", LongType(), True, {"parquet.field.id": 1}),
        StructField("fx_2", LongType(), True, {"parquet.field.id": 2}),
        StructField("fx_3", DoubleType(), True, {"parquet.field.id": 3}),
    ])
    foreign = spark.createDataFrame(
        e.where(F.col("event_id") % 2 == 0).rdd, schema=w_schema
    )
    foreign.write.parquet(os.path.join(root, "d"))
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "event_id", "type": "long", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 1,
                              "delta.columnMapping.physicalName": "c_aa"}},
                {"name": "user_id", "type": "long", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 2,
                              "delta.columnMapping.physicalName": "c_bb"}},
                {"name": "value", "type": "double", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 3,
                              "delta.columnMapping.physicalName": "c_cc"}},
            ],
        }
    )
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "cmid", "schemaString": schema,
                      "partitionColumns": [],
                      "configuration": {"delta.columnMapping.mode": "id"}}},
    ]
    for fn in os.listdir(os.path.join(root, "d")):
        if fn.endswith(".parquet"):
            actions.append(
                {"add": {"path": f"d/{fn}", "partitionValues": {}, "size": 1,
                         "modificationTime": 1, "dataChange": True}}
            )
    os.makedirs(os.path.join(root, "_delta_log"))
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")
    t = DeltaTable(root)
    # round 9: the odd half goes through OUR id-mode writer
    t.write(e.where(F.col("event_id") % 2 == 1))
    return t.read(spark).where(F.col("event_id") % 3 == 1).select(
        "event_id", "user_id", "value"
    )


@register(
    "q_identity_columns",
    oracle="""
SELECT event_id, event_type,
       CAST(1 AS BOOLEAN) AS sk_unique,
       CAST(1 AS BOOLEAN) AS sk_on_lattice,
       CAST(1 AS BOOLEAN) AS sk_past_watermark
FROM events
""",
)
def q_identity_columns(spark, sf_dir):
    """Identity columns (round 8; Delta PROTOCOL.md "Identity
    Columns"): a GENERATED ALWAYS AS IDENTITY (START 1000 STEP 3)
    surrogate key assigned distributedly across two appends. Assigned
    VALUES are partitioning-dependent (gaps are legal), so the oracle
    is the identity CONTRACT per row: uniqueness (window count over
    row_sk == 1), lattice membership ((row_sk-1000) % 3 == 0), and
    second-append values strictly beyond the first append's recorded
    highWaterMark. Watermark advance costs zero extra jobs — it is read
    from the staged files' footer stats."""
    import json as _json
    import tempfile

    from pyspark.sql import Window

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    root = tempfile.mkdtemp(prefix="pids_ident_") + "/tbl"
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "event_id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "event_type", "type": "string", "nullable": True, "metadata": {}},
                {"name": "row_sk", "type": "long", "nullable": True,
                 "metadata": {"delta.identity.start": 1000,
                              "delta.identity.step": 3,
                              "delta.identity.allowExplicitInsert": False}},
            ],
        }
    )
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                      "writerFeatures": ["appendOnly", "invariants",
                                         "identityColumns"]}},
        {"metaData": {"id": "ident-fixture", "schemaString": schema,
                      "partitionColumns": [],
                      "format": {"provider": "parquet", "options": {}},
                      "configuration": {}}},
    ]
    os.makedirs(os.path.join(root, "_delta_log"))
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")
    t = DeltaTable(root)
    e = table(spark, sf_dir, "events").select("event_id", "event_type")
    half = e.where(F.col("event_id") % 2 == 0)
    t.write(half)                                   # v1: first assignment
    hw = next(
        int(fld["metadata"]["delta.identity.highWaterMark"])
        for fld in _json.loads(t.snapshot().schema_string)["fields"]
        if fld["name"] == "row_sk"
    )
    t.write(e.where(F.col("event_id") % 2 == 1))    # v2: past the watermark
    out = t.read(spark)
    w = Window.partitionBy("row_sk")
    return out.select(
        "event_id",
        "event_type",
        (F.count("*").over(w) == 1).alias("sk_unique"),
        ((F.col("row_sk") - 1000) % 3 == 0).alias("sk_on_lattice"),
        (
            (F.col("event_id") % 2 == 0) | (F.col("row_sk") > hw)
        ).alias("sk_past_watermark"),
    )


@register(
    "q_nested_mapping",
    oracle="""
SELECT event_id, event_type AS etype, value AS val,
       CAST(2 AS BIGINT) AS xs_n,
       upper(event_type) AS xs1_etype,
       value * 2 AS xs1_val
FROM events
WHERE event_id % 4 != 2
""",
)
def q_nested_mapping(spark, sf_dir):
    """Nested-struct column mapping read (round 8, widened round 9): a
    name-mode mapped table whose STRUCT column carries physical names
    at BOTH nesting levels (p_info.p_t / p_info.p_v on disk) AND an
    ARRAY-OF-STRUCT column whose element fields are physically renamed
    (the UniForm / Iceberg-converted shape — VERDICT r8 #3). The
    reader renames recursively, rebuilding array elements with a
    codegen-side `transform`; logical subfields (info.etype,
    xs[1].val) are directly queryable. NULL-struct / null-element
    preservation is pinned by tests/test_column_mapping_writes.py;
    here the oracle verifies the value surface hash-exactly."""
    import json as _json
    import tempfile

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    root = tempfile.mkdtemp(prefix="pids_nest_") + "/tbl"
    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    phys = e.select(
        F.col("event_id").alias("p_id"),
        F.struct(
            F.col("event_type").alias("p_t"), F.col("value").alias("p_v")
        ).alias("p_info"),
        F.array(
            F.struct(
                F.col("event_type").alias("p_t"), F.col("value").alias("p_v")
            ),
            F.struct(
                F.upper("event_type").alias("p_t"),
                (F.col("value") * 2).alias("p_v"),
            ),
        ).alias("p_xs"),
    )
    phys.write.parquet(os.path.join(root, "d"))
    elem = {"type": "struct", "fields": [
        {"name": "etype", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "p_t"}},
        {"name": "val", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "p_v"}},
    ]}
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "event_id", "type": "long", "nullable": True,
                 "metadata": {"delta.columnMapping.physicalName": "p_id"}},
                {"name": "info", "nullable": True,
                 "metadata": {"delta.columnMapping.physicalName": "p_info"},
                 "type": elem},
                {"name": "xs", "nullable": True,
                 "metadata": {"delta.columnMapping.physicalName": "p_xs"},
                 "type": {"type": "array", "containsNull": True,
                          "elementType": elem}},
            ],
        }
    )
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "nest-fixture", "schemaString": schema,
                      "partitionColumns": [],
                      "format": {"provider": "parquet", "options": {}},
                      "configuration": {"delta.columnMapping.mode": "name"}}},
    ]
    for fn in os.listdir(os.path.join(root, "d")):
        if fn.endswith(".parquet"):
            actions.append(
                {"add": {"path": f"d/{fn}", "partitionValues": {}, "size": 1,
                         "modificationTime": 1, "dataChange": True}}
            )
    os.makedirs(os.path.join(root, "_delta_log"))
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")
    t = DeltaTable(root)
    return (
        t.read(spark)
        .where(F.col("event_id") % 4 != 2)
        .select(
            "event_id",
            F.col("info.etype").alias("etype"),
            F.col("info.val").alias("val"),
            F.size("xs").cast("bigint").alias("xs_n"),
            F.col("xs").getItem(1).getField("etype").alias("xs1_etype"),
            F.col("xs").getItem(1).getField("val").alias("xs1_val"),
        )
    )


@register(
    "q_variant",
    oracle="""
SELECT event_id, event_type AS vt, value AS vv
FROM events
WHERE event_id % 5 != 3
""",
)
def q_variant(spark, sf_dir):
    """VARIANT columns (round 8; Delta PROTOCOL.md "Variant Data
    Type"): semi-structured payloads stored in the open variant binary
    encoding. The table is created by our writer from parse_json rows —
    write() auto-upgrades the protocol to the variantType table feature
    — rows are deleted through a variant-path predicate, and the read
    extracts typed fields with variant_get. Spark decodes the physical
    struct<metadata,value> natively through the same pinned-schema scan
    every other read uses; the oracle reconstructs the extracted
    scalars from the source columns."""
    import tempfile

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    root = tempfile.mkdtemp(prefix="pids_var_") + "/tbl"
    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    e.createOrReplaceTempView("ev_for_variant")
    df = spark.sql(
        "SELECT event_id, parse_json(to_json(named_struct("
        "'t', event_type, 'v', value))) AS payload FROM ev_for_variant"
    )
    t = DeltaTable(root)
    t.write(df)
    if "variantType" not in t.snapshot().protocol["readerFeatures"]:
        raise AssertionError("variant table missing the variantType feature")
    t.delete_where(spark, "variant_get(payload, '$.t', 'string') IS NOT NULL "
                          "AND event_id % 5 = 3")
    return t.read(spark).selectExpr(
        "event_id",
        "variant_get(payload, '$.t', 'string') AS vt",
        "variant_get(payload, '$.v', 'double') AS vv",
    )


@register(
    "q_schema_widening",
    oracle="""
SELECT event_id, CAST(event_id * 100 AS BIGINT) AS metric
FROM events
UNION ALL
SELECT event_id + 10000000 AS event_id, CAST(event_id AS BIGINT) + 3000000000 AS metric
FROM events WHERE event_id % 6 = 0
""",
)
def q_schema_widening(spark, sf_dir):
    """Type widening (round 8; Delta PROTOCOL.md "Type Widening"): the
    table starts with an INT metric column, is ALTERed to BIGINT
    (typeWidening feature + delta.typeChanges metadata), then receives
    values beyond int range. Pre-widening files keep their narrow
    physical encoding on disk — the reader pins the widened log schema
    and Spark's parquet reader upconverts per file, so the mixed file
    population reads as one BIGINT column with zero rewrites. That
    zero-rewrite property is the entire point at 100 TB: ALTER COLUMN
    TYPE is a metadata commit, not a table rewrite."""
    import json as _json
    import tempfile

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable, _metadata

    root = tempfile.mkdtemp(prefix="pids_tw_") + "/tbl"
    e = table(spark, sf_dir, "events").select("event_id")
    t = DeltaTable(root)
    t.write(
        e.select(
            "event_id", (F.col("event_id") * 100).cast("int").alias("metric")
        )
    )
    snap = t.snapshot()
    s = _json.loads(snap.schema_string)
    (mf,) = [f for f in s["fields"] if f["name"] == "metric"]
    mf["type"] = "long"
    mf["metadata"] = {
        "delta.typeChanges": [{"fromType": "integer", "toType": "long"}]
    }
    t._commit(
        snap,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["typeWidening"],
                          "writerFeatures": ["appendOnly", "invariants",
                                             "typeWidening"]}},
            _metadata(snap, schema_string=_json.dumps(s)),
        ],
        operation="ALTER COLUMN",
        read_version=snap.version,
    )
    t.write(  # beyond-int values land in wide files
        e.where(F.col("event_id") % 6 == 0).select(
            (F.col("event_id") + 10000000).alias("event_id"),
            (F.col("event_id") + 3000000000).cast("long").alias("metric"),
        )
    )
    return t.read(spark).select("event_id", "metric")


@register(
    "q_reorg_purge",
    oracle="""
SELECT event_id, user_id, event_type, value FROM events
WHERE value >= 0.2
""",
)
def q_reorg_purge(spark, sf_dir):
    """REORG ... APPLY (PURGE) — the third step of the merge-on-read
    lifecycle (the reference reader, DeltaReader.java:301-303, predates
    all of it): DELETE writes the bitmap, PURGE rewrites ONLY the
    DV-carrying files into clean files (dataChange=false, like
    OPTIMIZE), VACUUM reclaims the superseded data files and the DV
    ``.bin``. After the sequence no live add carries a descriptor and
    the read must equal plain SQL over events — the same rows three
    physical layouts ago.

    Scale shape: PURGE cost is O(files-with-DVs), never O(table); the
    vacuum horizon check walks the log's remove actions, not the data."""
    import tempfile

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = DeltaTable(tempfile.mkdtemp(prefix="pids_reorg_") + "/tbl")
    t.write(e, partition_by=["event_type"])
    t.delete_where_dv(spark, "value < 0.2")
    t.reorg_purge(spark)
    t.vacuum(retention_ms=-1)
    snap = t.snapshot()
    assert not any(
        (snap.adds.get(p, {}).get("deletionVector")) for p in snap.files
    ), "purge left a live deletion vector"
    return t.read(spark).select("event_id", "user_id", "event_type", "value")


@register(
    "q_row_tracking",
    oracle="""
WITH ranked AS (
  SELECT event_id, value,
         row_number() OVER (ORDER BY event_id) - 1 AS row_id
  FROM events
)
SELECT event_id, value, CAST(row_id AS BIGINT) AS row_id,
       CAST(0 AS BIGINT) AS row_commit_version
FROM ranked
WHERE value >= 0.3
""",
)
def q_row_tracking(spark, sf_dir):
    """Row tracking end-to-end (Delta PROTOCOL.md "Row Tracking"; the
    reference predates it): events written sorted into a row-tracked
    table (fresh ids = assignment order = event_id rank), a DV delete
    (ids of survivors untouched — the file is untouched), then OPTIMIZE
    (rewrite preserving identity through the spec's materialized
    columns). The surviving (event_id, row_id, row_commit_version)
    tuples must equal the rank computed by plain SQL — three physical
    layouts later.

    Scale shape: id derivation is baseRowId + parquet row_index (no
    counting job), per-file bases broadcast from the log (O(live
    files)), and the high-water mark advances from footer stats — zero
    extra Spark jobs per commit."""
    import tempfile

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    e = table(spark, sf_dir, "events").select("event_id", "value")
    t = DeltaTable(tempfile.mkdtemp(prefix="pids_rt_") + "/tbl")
    t.write(
        e.coalesce(1).sortWithinPartitions("event_id"),
        configuration={"delta.enableRowTracking": "true"},
    )
    t.delete_where_dv(spark, "value < 0.3")
    t.compact(spark)
    return t.read_with_row_ids(spark).select(
        "event_id", "value", "row_id", "row_commit_version"
    )


@register(
    "q_log_compaction",
    oracle="""
SELECT event_id, user_id, event_type, value FROM events
WHERE NOT (event_type = 'error' AND value < 0.5)
""",
)
def q_log_compaction(spark, sf_dir):
    """Minor log compaction under the gate (Delta PROTOCOL.md "Log
    Compaction Files"): events lands across five commits (4 per-type
    appends + a pruned DELETE), ``compact_log(1, 4)`` reconciles the
    tail into one range file, and the read — whose snapshot replay now
    reads ONE file for versions 1-4 — must equal plain SQL over events.

    Scale shape: a streaming-fed table takes thousands of small commits
    between checkpoints; compaction makes the replay tail O(ranges)
    file reads instead of O(commits), with commit files untouched
    (foreign readers ignore the range file). The reconciliation itself
    is driver-side O(actions in range) — metadata, never data."""
    import tempfile

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = DeltaTable(tempfile.mkdtemp(prefix="pids_logc_") + "/tbl")
    types = ["click", "view", "purchase", "error", "signup"]
    t.write(e.where(F.col("event_type") == "click"), partition_by=["event_type"])
    for et in types[1:]:
        t.write(e.where(F.col("event_type") == et), partition_by=["event_type"])
    t.delete_where(
        spark, "event_type = 'error' AND value < 0.5",
        filters=[("event_type", "=", "error")],
    )  # v5
    t.compact_log(1, 4)
    return t.read(spark).select("event_id", "user_id", "event_type", "value")


@register(
    "q_column_rename_drop",
    oracle="""
SELECT event_id, event_type, value AS score FROM events
""",
)
def q_column_rename_drop(spark, sf_dir):
    """Metadata-only schema surgery on a mapped table (the operation
    column mapping exists for; the reference reader,
    DeltaReader.java:301-303, predates mapping entirely): events →
    mapped table → RENAME value→score + DROP user_id — two O(1)
    metadata commits, zero files touched — then the read (physical
    names in files, new logical names out) must equal plain SQL with
    the rename applied and the dropped column gone.

    Scale shape: at 100 TB a rename/drop is two log writes; the scan
    plan afterwards is byte-identical to the pre-surgery plan minus the
    dropped column's ReadSchema entry."""
    import tempfile

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = DeltaTable(tempfile.mkdtemp(prefix="pids_ren_") + "/tbl")
    t.write(e)
    t.enable_column_mapping()
    t.rename_column("value", "score")
    t.drop_column("user_id")
    return t.read(spark).select("event_id", "event_type", "score")


@register(
    "q_time_travel_ict",
    oracle="""
SELECT event_id, event_type, value FROM events WHERE event_id % 3 IN (0, 1)
""",
)
def q_time_travel_ict(spark, sf_dir):
    """Timestamp time travel on an in-commit-timestamps table (Delta
    PROTOCOL.md "In-Commit Timestamps"; the reference resolves
    timestamps via delta-standalone, DeltaReader.java:134-146): v0
    (events ≡0 mod 3) predates ICT, ALTER arms it mid-life (stamping
    the enablement provenance properties), v2 appends ≡1 mod 3 under
    ICT, v3 deletes rows. Reading AT v2's in-commit timestamp must
    resolve by the COMMIT-CARRIED clock — not file mtimes, which are
    all 'now' and would resolve everything to latest — and roll back
    the delete. The ICT suffix is binary-searched (O(log n) commit
    reads), the metadata-plane shape that keeps timestamp resolution
    cheap on a 10^5-commit table."""
    import tempfile

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t = DeltaTable(tempfile.mkdtemp(prefix="pids_ict_") + "/tbl")
    t.write(e.where(F.col("event_id") % 3 == 0))
    t.set_properties({"delta.enableInCommitTimestamps": "true"})
    t.write(e.where(F.col("event_id") % 3 == 1), mode="append")
    t.delete_where(spark, "event_id % 2 = 0")
    return t.read(spark, timestamp_ms=t.commit_timestamp_ms(2)).select(
        "event_id", "event_type", "value"
    )


@register(
    "q_convert_delta",
    oracle=f"""
SELECT event_id, event_type, value, {sql_epoch("ts")} AS ts_epoch
FROM events
""",
)
def q_convert_delta(spark, sf_dir):
    """CONVERT TO DELTA (delta-spark surface the reference lacks —
    `DeltaReader.java:301-303` can only OPEN Delta tables): a
    hive-partitioned parquet lake gains a _delta_log IN PLACE — zero
    data rewritten, O(files) metadata, footer stats on every add — and
    the converted table must read back exactly the source rows through
    the normal snapshot scan. At 100 TB conversion is the only sane
    migration: a rewrite would copy the lake."""
    import tempfile

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    e = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "ts"
    )
    root = tempfile.mkdtemp(prefix="pids_conv_") + "/lake"
    e.write.partitionBy("event_type").parquet(root)
    t = DeltaTable(root)
    t.convert_from_parquet(spark)
    return t.read(spark).select(
        "event_id", "event_type", "value", epoch_s("ts").alias("ts_epoch")
    )
