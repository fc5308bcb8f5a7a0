"""One append commit: ``DeltaTable.write``, ``commit_external_adds`` and
the ``pulsar_delta_cdc`` sink plan through ``_plan_append`` and commit
through ``_commit_append``, so every append meets the same table rules."""

import ast
import json
import inspect
import os

import pyspark.sql.functions as F
import pytest

from pulsar_io_delta_spark.sources import delta_log
from pulsar_io_delta_spark.sources.datasource import _CdcBatchWriter, register_delta_cdc
from pulsar_io_delta_spark.sources.delta_log import DeltaConcurrentCommit, DeltaTable


def _sink(frame, path):
    frame.write.format("pulsar_delta_cdc").option("tablePath", path).mode("append").save()


def _stream_sink(spark, frame, path, tmp_path):
    """Append ``frame`` through a one-trigger pulsar_delta_cdc stream."""
    src = str(tmp_path / "stream_in")
    frame.coalesce(1).write.mode("overwrite").parquet(src)
    q = (
        spark.readStream.schema(frame.schema).parquet(src)
        .writeStream.format("pulsar_delta_cdc")
        .option("tablePath", path)
        .option("checkpointLocation", str(tmp_path / "stream_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _kv(spark, rows, ddl="k long, v double"):
    return spark.createDataFrame(rows, ddl).coalesce(1)


@pytest.mark.parametrize("via", ["batch", "stream"])
def test_sink_enforces_check_constraint(spark, tmp_path, via):
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    t.write(_kv(spark, [(1, 1.0)]), configuration={"delta.constraints.pos": "v >= 0"})
    register_delta_cdc(spark)
    bad = _kv(spark, [(2, -7.0)])
    with pytest.raises(Exception, match="CHECK constraint 'pos'"):
        if via == "batch":
            _sink(bad, path)
        else:
            _stream_sink(spark, bad, path, tmp_path)
    assert t.latest_version() == 0
    _sink(_kv(spark, [(3, 3.0)]), path)
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [(1, 1.0), (3, 3.0)]


def test_sink_enforces_not_null(spark, tmp_path):
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    t.write(_kv(spark, [(1, 1.0)], "k long not null, v double"))
    register_delta_cdc(spark)
    with pytest.raises(Exception, match="NOT NULL constraint on \\['k'\\]"):
        _sink(_kv(spark, [(None, 2.0)]), path)
    assert t.latest_version() == 0
    assert [tuple(r) for r in t.read(spark).collect()] == [(1, 1.0)]


@pytest.mark.parametrize("via", ["batch", "stream"])
def test_sink_writes_physical_names_after_rename(spark, tmp_path, via):
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    t.write(spark.createDataFrame([(1, 10)], "k long, v long"))
    t.enable_column_mapping()
    t.rename_column("v", "w")
    register_delta_cdc(spark)
    new = spark.createDataFrame([(2, 20)], "k long, w long")
    if via == "batch":
        _sink(new, path)
    else:
        _stream_sink(spark, new, path, tmp_path)
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [(1, 10), (2, 20)]
    (add,) = [a["add"] for a in t.actions(t.latest_version()) if "add" in a]
    assert "minValues" in add["stats"] and '"w"' not in add["stats"]


def test_sink_stamps_field_ids_on_id_mode_table(spark, tmp_path):
    import json

    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    fields = [
        {"name": c, "type": t, "nullable": True,
         "metadata": {"delta.columnMapping.id": i, "delta.columnMapping.physicalName": f"p_{i}"}}
        for i, (c, t) in enumerate([("k", "long"), ("v", "double")], start=1)
    ]
    DeltaTable(path)._commit(None, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "idm", "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps({"type": "struct", "fields": fields}),
                      "partitionColumns": [],
                      "configuration": {"delta.columnMapping.mode": "id"}}},
    ], "CREATE")
    register_delta_cdc(spark)
    _sink(_kv(spark, [(7, 7.5)]), path)
    t = DeltaTable(path)
    assert [tuple(r) for r in t.read(spark).collect()] == [(7, 7.5)]
    (add,) = [a["add"] for a in t.actions(1) if "add" in a]
    schema = pq.read_schema(os.path.join(path, add["path"]))
    assert schema.names == ["p_1", "p_2"]
    assert [f.metadata[b"PARQUET:field_id"] for f in schema] == [b"1", b"2"]


def test_sink_generated_column_refused_or_validated(spark, tmp_path):
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    gen = F.col("g").alias("g", metadata={"delta.generationExpression": "k * 2"})
    t.write(spark.createDataFrame([(1, 2)], "k long, g long").select("k", gen))
    register_delta_cdc(spark)
    with pytest.raises(Exception, match="\\['g'\\]"):
        _sink(spark.createDataFrame([(5,)], "k long"), path)
    with pytest.raises(Exception, match="generated column 'g'"):
        _sink(spark.createDataFrame([(5, 11)], "k long, g long"), path)
    assert t.latest_version() == 0
    _sink(spark.createDataFrame([(5, 10)], "k long, g long"), path)
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [(1, 2), (5, 10)]


def test_sink_files_carry_footer_stats(spark, tmp_path):
    """A sink-written file carries min/max stats, so a pruning read
    past its range skips it."""
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    t.write(_kv(spark, [(500, 1.0)]))
    register_delta_cdc(spark)
    _sink(_kv(spark, [(1, 1.0), (2, 2.0)]), path)
    (sunk,) = [a["add"]["path"] for a in t.actions(1) if "add" in a]
    snap = t.snapshot()
    assert sunk in snap.files
    assert sunk not in t.prune_files(snap, [("k", ">", 100)])
    assert [r.k for r in t.read(spark, filters=[("k", ">", 100)]).collect()] == [500]


def _staged_writer(spark, path, rows, ddl):
    """A sink writer planned against the table now, with its rows
    staged as its executors would stage them."""
    frame = spark.createDataFrame(rows, ddl)
    w = _CdcBatchWriter(frame.schema, {"tablePath": path})
    return w, w.write(iter(frame.collect()))


def test_sink_commit_after_racing_rename_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    t.write(spark.createDataFrame([(1, 10)], "k long, v long"))
    t.enable_column_mapping()
    w, msg = _staged_writer(spark, path, [(2, 20)], "k long, v long")
    t.rename_column("v", "w")
    v = t.latest_version()
    with pytest.raises(DeltaConcurrentCommit):
        w.commit([msg])
    assert t.latest_version() == v
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [(1, 10)]


def test_sink_commit_after_racing_append_lands(spark, tmp_path):
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    t.write(_kv(spark, [(1, 1.0)]), configuration={"delta.constraints.pos": "v >= 0"})
    w, msg = _staged_writer(spark, path, [(2, 2.0)], "k long, v double")
    t.write(_kv(spark, [(3, 3.0)]))
    w.commit([msg])
    assert t.latest_version() == 2
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2, 3]


def test_stream_writer_plan_outlives_its_first_commit(spark, tmp_path):
    """A stream writer is planned once per query. Its first batch
    creates the table; later batches re-plan against the table it made
    and are checked against that table's NOT NULL column."""
    from pyspark.sql import Row

    from pulsar_io_delta_spark.sources.datasource import _CdcStreamWriter
    from pulsar_io_delta_spark.sources.delta_log import DeltaConstraintViolation

    path = str(tmp_path / "t")
    schema = spark.createDataFrame([], "k long not null, v double").schema
    w = _CdcStreamWriter(schema, {"tablePath": path})

    def batch(bid, rows):
        w.commit([w.write(iter(spark.createDataFrame(rows, schema).collect()))], bid)

    batch(0, [(1, 1.0)])
    batch(1, [(2, 2.0)])
    with pytest.raises(DeltaConstraintViolation, match="NOT NULL"):
        w.commit([w.write(iter([Row(k=None, v=3.0)]))], 2)
    t = DeltaTable(path)
    assert t.latest_version() == 1
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2]


def test_stream_writer_keeps_explicit_identity_values(spark, tmp_path):
    """Explicit identity values stay valid while the high-water mark
    moves: a long-lived writer keeps committing, and the mark follows."""
    import json

    from pulsar_io_delta_spark.sources.datasource import _CdcStreamWriter

    path = str(tmp_path / "t")
    t = DeltaTable(path)
    t.write(_kv(spark, [(1, 1.0)]))
    snap = t.snapshot()
    s = json.loads(snap.schema_string)
    s["fields"].append({"name": "sk", "type": "long", "nullable": True, "metadata": {
        "delta.identity.start": 1, "delta.identity.step": 1,
        "delta.identity.allowExplicitInsert": True}})
    t._commit(snap, [delta_log._metadata(snap, schema_string=json.dumps(s))], "UPGRADE",
              read_version=snap.version)
    schema = spark.createDataFrame([], "k long, v double, sk long").schema
    w = _CdcStreamWriter(schema, {"tablePath": path})
    for bid, sk in enumerate([10, 20]):
        rows = spark.createDataFrame([(bid, 0.0, sk)], schema).collect()
        w.commit([w.write(iter(rows))], bid)
    marks = [
        f["metadata"].get("delta.identity.highWaterMark")
        for f in json.loads(t.snapshot().schema_string)["fields"] if f["name"] == "sk"
    ]
    assert marks == [20]
    assert t.latest_version() == 3


def test_one_append_commit():
    """In delta_log.py one function commits a freshly built txn marker
    and one re-checks the delivered txns (``delivered``, on the head
    snapshot) after a lost race: both are ``_commit_append``."""
    tree = ast.parse(inspect.getsource(delta_log))
    markers, rechecks = set(), set()
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        nodes = list(ast.walk(fn))
        commits = any(
            isinstance(n, ast.Attribute) and n.attr == "_commit" for n in nodes
        )
        if commits and any(
            isinstance(n, ast.Dict)
            and any(isinstance(k, ast.Constant) and k.value == "txn" for k in n.keys)
            and any(isinstance(v, ast.Dict) for v in n.values)
            for n in nodes
        ):
            markers.add(fn.name)
        for n in nodes:
            if (
                isinstance(n, ast.ExceptHandler)
                and isinstance(n.type, ast.Name)
                and n.type.id == "DeltaConcurrentCommit"
                and any(
                    isinstance(m, ast.Name) and m.id == "delivered"
                    for m in ast.walk(n)
                )
            ):
                rechecks.add(fn.name)
    assert markers == {"_commit_append"}
    assert rechecks == {"_commit_append"}
    callers = {
        fn.name
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        and any(
            isinstance(n, ast.Attribute) and n.attr == "_commit_append"
            for n in ast.walk(fn)
        )
    }
    assert callers == {"write", "commit_external_adds", "convert_from_parquet"}


def test_txn_append_parses_each_commit_once(tmp_path, monkeypatch):
    """A txn append reads the delivered versions and the post-commit
    checksum from the snapshot it plans against: on an 800-commit log
    with no checkpoint, each JSON commit is parsed at most once."""
    log_dir = tmp_path / "_delta_log"
    log_dir.mkdir()
    schema = '{"type":"struct","fields":[{"name":"k","type":"long","nullable":true,"metadata":{}}]}'

    def add(i):
        return {"add": {"path": f"f{i}.parquet", "partitionValues": {}, "size": 10,
                        "modificationTime": 0, "dataChange": True, "stats": '{"numRecords": 1}'}}

    head = [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "t", "format": {"provider": "parquet", "options": {}},
                          "schemaString": schema, "partitionColumns": [], "configuration": {}}}]
    for v in range(800):
        acts = (head if v == 0 else [{"txn": {"appId": "app", "version": v}}]) + [add(v)]
        (log_dir / f"{v:020d}.json").write_text("".join(json.dumps(a) + "\n" for a in acts))
    parsed = []
    real = DeltaTable.actions
    monkeypatch.setattr(DeltaTable, "actions", lambda self, v: parsed.append(v) or real(self, v))
    t = DeltaTable(str(tmp_path))
    for txn_version, committed in ((799, -1), (800, 800)):
        parsed.clear()
        assert t.commit_external_adds(
            [add(800)["add"]], "STREAMING UPDATE", schema, txn=("app", txn_version)
        ) == committed
        assert sorted(parsed) == list(range(800))
    assert DeltaTable(str(tmp_path)).last_txn_version("app") == 800
