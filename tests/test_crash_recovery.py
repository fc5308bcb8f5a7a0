"""Write-path crash-recovery fault injection (VERDICT r6 #5 / r7 #5).

The Delta commit protocol's exactly-once claim is only as good as its
behavior when the process dies BETWEEN data-file publication and log
commit: staged files are moved into the table directory first, then the
commit JSON is published atomically (``create_exclusive``). A crash in
the window leaves orphaned data files that no snapshot references; the
idempotent txn marker (app_id, batch_id) makes the retried batch land
exactly once. These tests kill the writer at each window via fs-shim
fault injection and assert exactly-once after restart, on both FS
backends (reference parity target: the reference's per-instance
checkpoint restore, DeltaLakeConnectorSource.java — its intent, with
the crash actually exercised)."""

import pytest
import pyspark.sql.functions as F

from pulsar_io_delta_spark.sources.delta_log import DeltaTable
from pulsar_io_delta_spark.sources.fs import InMemoryFileSystem, LocalFileSystem


class CrashingFS(LocalFileSystem):
    """LocalFileSystem with armable crash points: ``crash_on_commit``
    kills the next log-JSON publish AFTER data files are already moved
    into the table dir; ``crash_on_move_after`` kills the (n+1)-th
    data-file move, leaving a partially-published batch."""

    def __init__(self):
        self.crash_on_commit = False
        self.crash_on_move_after = None
        self._moves = 0

    def create_exclusive(self, path: str, data: str) -> None:
        if self.crash_on_commit and path.endswith(".json"):
            self.crash_on_commit = False
            raise RuntimeError("injected crash: died before commit publish")
        super().create_exclusive(path, data)

    def move(self, src: str, dst: str) -> None:
        if self.crash_on_move_after is not None:
            if self._moves >= self.crash_on_move_after:
                self.crash_on_move_after = None
                raise RuntimeError("injected crash: died mid data-file publish")
            self._moves += 1
        super().move(src, dst)


def _batch(spark, lo, hi):
    return spark.createDataFrame(
        [(i, float(i)) for i in range(lo, hi)], "event_id long, value double"
    )


def test_crash_between_publish_and_commit_then_retry(spark, tmp_path):
    """Die after data files are in the table dir, before the log JSON
    exists. Restart + idempotent retry must deliver the batch exactly
    once — the orphans stay invisible forever."""
    path = str(tmp_path / "t")
    fs = CrashingFS()
    t = DeltaTable(path, fs=fs)
    assert t.write(_batch(spark, 0, 10), txn=("app", 0)) == 0

    fs.crash_on_commit = True
    with pytest.raises(RuntimeError, match="injected crash"):
        t.write(_batch(spark, 10, 20), txn=("app", 1))
    # the crash window is real: data files landed, log did not advance
    t_restart = DeltaTable(path)  # fresh handle = restarted process
    assert t_restart.latest_version() == 0
    n_files_on_disk = sum(
        1 for p in LocalFileSystem().walk_files(path) if p.endswith(".parquet")
    )
    assert n_files_on_disk > len(t_restart.snapshot().files)  # orphans exist

    # restart retries the batch (same txn) — exactly once
    assert t_restart.write(_batch(spark, 10, 20), txn=("app", 1)) == 1
    out = t_restart.read(spark)
    assert out.count() == 20
    assert out.groupBy("event_id").count().where("count > 1").count() == 0
    # replaying the delivered batch is a no-op
    assert t_restart.write(_batch(spark, 10, 20), txn=("app", 1)) == -1
    assert t_restart.read(spark).count() == 20


def test_crash_mid_data_file_publish_then_retry(spark, tmp_path):
    """Die while MOVING staged files (some of the batch's files are in
    the table dir, some are not, nothing committed). The retried batch
    re-stages everything under fresh uuid names; the half-published
    files are permanent orphans, never data."""
    path = str(tmp_path / "t")
    fs = CrashingFS()
    t = DeltaTable(path, fs=fs)
    t.write(_batch(spark, 0, 10), txn=("app", 0))

    fs.crash_on_move_after = 1  # let one file through, then die
    with pytest.raises(RuntimeError, match="injected crash"):
        t.write(_batch(spark, 10, 30).repartition(4), txn=("app", 1))
    t_restart = DeltaTable(path)
    assert t_restart.latest_version() == 0
    t_restart.write(_batch(spark, 10, 30).repartition(4), txn=("app", 1))
    out = t_restart.read(spark)
    assert out.count() == 30
    assert out.agg(F.count_distinct("event_id")).first()[0] == 30


def test_crash_before_commit_inmemory_external_adds(spark):
    """Same window on the object-store-model backend (conditional-PUT
    CAS): external writer stages files, dies before the commit CAS;
    the retried commit with the same txn lands exactly once."""
    fs = InMemoryFileSystem()
    root = "/mem/tbl"
    schema = '{"type":"struct","fields":[{"name":"event_id","type":"long","nullable":true,"metadata":{}}]}'

    def add(rel, mod=1000):
        return {
            "path": rel,
            "partitionValues": {},
            "size": 1,
            "modificationTime": mod,
            "dataChange": True,
        }

    t = DeltaTable(root, fs=fs)
    t.commit_external_adds([add("a.parquet")], "WRITE", schema_json=schema, txn=("sink", 0))

    boom = {"armed": True}

    def crash(path, data):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected crash: died at the commit CAS")

    fs.on_create_exclusive = crash
    with pytest.raises(RuntimeError, match="injected crash"):
        t.commit_external_adds(
            [add("b.parquet", 2000)], "WRITE", schema_json=schema, txn=("sink", 1)
        )
    fs.on_create_exclusive = None
    t_restart = DeltaTable(root, fs=fs)
    assert t_restart.latest_version() == 0
    v = t_restart.commit_external_adds(
        [add("b.parquet", 2000)], "WRITE", schema_json=schema, txn=("sink", 1)
    )
    assert v == 1
    assert set(t_restart.snapshot().files) == {"a.parquet", "b.parquet"}
    # replay of the delivered batch: idempotent no-op
    assert (
        t_restart.commit_external_adds(
            [add("b.parquet", 2000)], "WRITE", schema_json=schema, txn=("sink", 1)
        )
        == -1
    )
    assert t_restart.latest_version() == 1


def test_streaming_sink_replay_after_crash(spark, tmp_path):
    """The foreachBatch sink shape end-to-end: batch 1 is delivered,
    the 'engine' restarts from its checkpoint and REPLAYS batch 1 (the
    at-least-once upstream), then continues with batch 2 — table holds
    each batch exactly once."""
    from pulsar_io_delta_spark.sources.delta_log import delta_sink

    path = str(tmp_path / "t")
    sink = delta_sink(path, app_id="stream")
    sink(_batch(spark, 0, 5), 0)
    sink(_batch(spark, 5, 10), 1)
    # crash + restart: engine re-delivers the last uncommitted-offset batch
    sink(_batch(spark, 5, 10), 1)
    sink(_batch(spark, 10, 15), 2)
    out = DeltaTable(path).read(spark)
    assert out.count() == 15
    assert out.groupBy("event_id").count().where("count > 1").count() == 0


def test_occ_concurrent_committers_no_lost_commit():
    """16 threads blind-append against one table on the object-store
    fake (conditional-PUT CAS is the only mutex): every commit must
    land exactly once — no lost, duplicated, or gapped version — and
    each committer's txn marker must end at its final sequence number.
    The measured axis (retry distribution, latency percentiles) lives
    in tools/scale_smoke.py occ; this pins the invariant."""
    import json
    import threading

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable
    from pulsar_io_delta_spark.sources.fs import InMemoryFileSystem

    fs = InMemoryFileSystem()
    root = "/occ/tbl"
    schema_string = json.dumps(
        {"type": "struct", "fields": [
            {"name": "x", "type": "long", "nullable": True, "metadata": {}}]}
    )
    DeltaTable(root, fs=fs)._commit(
        None,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "m0", "format": {"provider": "parquet", "options": {}},
                          "schemaString": schema_string, "partitionColumns": [],
                          "configuration": {}}},
        ],
        operation="CREATE",
    )
    n, each = 16, 4
    errors: list[str] = []

    def committer(cid: int) -> None:
        t = DeltaTable(root, fs=fs)
        for seq in range(each):
            try:
                t._commit(
                    None,
                    [
                        {"txn": {"appId": f"c{cid}", "version": seq}},
                        {"add": {"path": f"part-{cid}-{seq}.parquet",
                                 "partitionValues": {}, "size": 1,
                                 "modificationTime": 1, "dataChange": True}},
                    ],
                    operation=f"WRITE-{cid}",
                    # default retry budget: the rule is progress-based
                    # (r10 verdict #8), so width needs no override
                )
            except Exception as exc:  # noqa: BLE001
                errors.append(f"c{cid}#{seq}: {exc}")
                return

    threads = [threading.Thread(target=committer, args=(i,)) for i in range(n)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    t = DeltaTable(root, fs=fs)
    assert t.latest_version() == n * each
    for cid in range(n):
        assert t.last_txn_version(f"c{cid}") == each - 1
    # every add landed exactly once
    assert len(t.snapshot().files) == n * each


def test_commit_stall_detection_still_bounded():
    """The progress-based retry rule must still terminate on a genuine
    stall: an orphan commit file that create_exclusive keeps colliding
    with while versions() never advances (no .json listing for it) is
    livelock, not contention — bounded by max_retries consecutive
    no-progress attempts."""
    import json as _json

    import pytest

    from pulsar_io_delta_spark.sources.delta_log import (
        DeltaProtocolError,
        DeltaTable,
    )
    from pulsar_io_delta_spark.sources.fs import InMemoryFileSystem

    fs = InMemoryFileSystem()
    root = "/stall/tbl"
    schema_string = _json.dumps(
        {"type": "struct", "fields": [
            {"name": "x", "type": "long", "nullable": True, "metadata": {}}]}
    )
    t = DeltaTable(root, fs=fs)
    t._commit(
        None,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "m0",
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": schema_string,
                          "partitionColumns": [], "configuration": {}}},
        ],
        operation="CREATE",
    )
    # wedge the filesystem: every exclusive create collides, but the
    # log listing never advances — no progress is possible
    orig = fs.create_exclusive

    def wedged(path, data):
        raise FileExistsError(path)

    fs.create_exclusive = wedged
    try:
        with pytest.raises(DeltaProtocolError, match="stalled"):
            t._commit(
                t.snapshot(),
                [{"add": {"path": "p.parquet", "partitionValues": {},
                          "size": 1, "modificationTime": 1,
                          "dataChange": True}}],
                operation="WRITE",
                max_retries=5,
            )
    finally:
        fs.create_exclusive = orig
