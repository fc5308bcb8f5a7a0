"""Change Data Feed (round 8; Delta PROTOCOL.md "Change Data Feed"):
writer-side cdc actions + _change_data files on MERGE/DELETE when
delta.enableChangeDataFeed is armed, and the table_changes() reader —
cdc-file commits contribute exact rows (incl. update_preimage /
update_postimage, which no add/remove derivation can express); other
data-changing commits derive insert/delete per spec.

The reference connector (DeltaReader.java:196-247) derives its change
stream purely from add/remove actions — CDF is the modern surface its
users migrate onto.
"""

import os

from pulsar_io_delta_spark.sources.delta_log import DeltaTable

CDF = {"delta.enableChangeDataFeed": "true"}


def _rows(spark, ids, cat="a"):
    return spark.createDataFrame(
        [(i, cat, float(i)) for i in ids],
        "event_id long, category string, value double",
    )


def _by_type(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["_change_type"], set()).add((r.event_id, r.value))
    return out


def test_merge_writes_pre_post_images(spark, tmp_path):
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_rows(spark, range(6)), configuration=CDF)
    src = spark.createDataFrame(
        [(2, "a", 200.0), (4, "a", 400.0), (10, "a", 10.0)],
        "event_id long, category string, value double",
    )
    v = t.merge_upsert(spark, src, key_cols=["event_id"])
    ch = t.table_changes(spark, start_version=v)
    by = _by_type(ch)
    assert by["update_preimage"] == {(2, 2.0), (4, 4.0)}
    assert by["update_postimage"] == {(2, 200.0), (4, 400.0)}
    assert by["insert"] == {(10, 10.0)}
    # exclusively from cdc files: no derived rows for this commit (the
    # rewrite's add/remove would have claimed 7 inserts + 6 deletes)
    assert ch.count() == 5
    assert {r["_commit_version"] for r in ch.collect()} == {v}
    # commit carries cdc actions + the changeDataFeed feature upgrade
    acts = t.actions(v)
    assert any("cdc" in a for a in acts)
    (proto,) = [a["protocol"] for a in acts if "protocol" in a]
    assert "changeDataFeed" in proto["writerFeatures"]
    # change files live under _change_data/ and are NOT table data
    assert t.read(spark).count() == 7
    cdc_paths = [a["cdc"]["path"] for a in acts if "cdc" in a]
    assert all(p.startswith("_change_data/") for p in cdc_paths)
    assert all(not a["cdc"]["dataChange"] for a in acts if "cdc" in a)


def test_delete_where_cdf_exact_rows(spark, tmp_path):
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_rows(spark, range(8)), configuration=CDF)
    v = t.delete_where(spark, "event_id >= 5")
    ch = t.table_changes(spark, start_version=v)
    assert _by_type(ch) == {"delete": {(5, 5.0), (6, 6.0), (7, 7.0)}}


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """A row whose DELETE predicate is NULL is not deleted (SQL DELETE):
    the rewrite keeps it as delete_where_dv does, and the change feed
    reports only the row the predicate matched."""
    rows = spark.createDataFrame([(1, 5), (2, None), (3, 50)], "id long, x long")
    kept = {}
    for op in ("delete_where", "delete_where_dv"):
        t = DeltaTable(str(tmp_path / op))
        t.write(rows.coalesce(1), configuration=CDF)
        v = getattr(t, op)(spark, "x > 10")
        kept[op] = sorted(r.id for r in t.read(spark).collect())
        ch = t.table_changes(spark, start_version=v).collect()
        assert [(r.id, r._change_type) for r in ch] == [(3, "delete")]
    assert kept == {"delete_where": [1, 2], "delete_where_dv": [1, 2]}


def test_delete_where_dv_cdf_no_double_report(spark, tmp_path):
    """A re-delete whose predicate overlaps an existing DV must report
    only the NEWLY deleted live rows."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_rows(spark, range(10)).coalesce(1), configuration=CDF)
    v1 = t.delete_where_dv(spark, "event_id < 3")
    v2 = t.delete_where_dv(spark, "event_id < 5")  # 0-2 already gone
    ch1 = t.table_changes(spark, start_version=v1, end_version=v1)
    assert _by_type(ch1) == {"delete": {(0, 0.0), (1, 1.0), (2, 2.0)}}
    ch2 = t.table_changes(spark, start_version=v2)
    assert _by_type(ch2) == {"delete": {(3, 3.0), (4, 4.0)}}


def test_derived_inserts_for_appends(spark, tmp_path):
    """Appends carry no cdc files; the reader derives insert rows from
    add actions — and a mixed range unions derived + cdc commits."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_rows(spark, range(3)), configuration=CDF)       # v0 derived
    t.write(_rows(spark, range(3, 5)))                        # v1 derived
    src = spark.createDataFrame(
        [(0, "a", 100.0)], "event_id long, category string, value double"
    )
    v2 = t.merge_upsert(spark, src, key_cols=["event_id"])    # v2 cdc
    ch = t.table_changes(spark, start_version=0)
    by = _by_type(ch)
    assert by["insert"] == {(i, float(i)) for i in range(5)}
    assert by["update_preimage"] == {(0, 0.0)}
    assert by["update_postimage"] == {(0, 100.0)}
    vs = {r["_commit_version"] for r in ch.collect()}
    assert vs == {0, 1, v2}
    # end_version bounds the feed
    early = t.table_changes(spark, start_version=0, end_version=1)
    assert _by_type(early) == {"insert": {(i, float(i)) for i in range(5)}}


def test_cdf_on_partitioned_table(spark, tmp_path):
    """cdc files of a partitioned table land under
    _change_data/<pcol>=v/ and read back with the partition column."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(
        _rows(spark, range(4), "a").unionByName(_rows(spark, range(4, 8), "b")),
        partition_by=["category"],
        configuration=CDF,
    )
    v = t.delete_where(spark, "event_id = 6", filters=[("category", "=", "b")])
    ch = t.table_changes(spark, start_version=v)
    (row,) = ch.collect()
    assert (row.event_id, row.category, row["_change_type"]) == (6, "b", "delete")
    acts = t.actions(v)
    (c,) = [a["cdc"] for a in acts if "cdc" in a]
    assert c["partitionValues"] == {"category": "b"}
    assert "category=b" in c["path"]


def test_cdf_without_config_stays_derived(spark, tmp_path):
    """No config switch → no cdc files (spec: CDF is opt-in), and
    table_changes still derives insert/delete."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_rows(spark, range(4)))
    v = t.delete_where(spark, "event_id = 1")
    assert not any("cdc" in a for a in t.actions(v))
    ch = t.table_changes(spark, start_version=v)
    by = _by_type(ch)
    # derivation over a rewrite commit: old file rows out, kept rows in
    assert by["delete"] == {(i, float(i)) for i in range(4)}
    assert by["insert"] == {(0, 0.0), (2, 2.0), (3, 3.0)}


def test_vacuum_reclaims_orphaned_change_files(spark, tmp_path):
    """cdc files referenced by surviving commits survive ANY retention;
    once their commit JSON expires they age out by mtime."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_rows(spark, range(6)).coalesce(1), configuration=CDF)
    t.delete_where(spark, "event_id = 1")
    cd = os.path.join(t.path, "_change_data")

    def cdc_files():
        return [
            os.path.join(dp, n) for dp, _d, ns in os.walk(cd) for n in ns
            if n.endswith(".parquet")
        ]

    assert cdc_files()
    # referenced: survives even at zero retention
    t.checkpoint()
    t.vacuum(retention_ms=0)
    assert cdc_files()
    # expire the log → the reference disappears → ages out
    t.expire_log()
    t.vacuum(retention_ms=0)
    assert not cdc_files()


def test_update_where_rewrites_and_reports_images(spark, tmp_path):
    """UPDATE ... SET: matched rows transformed, NULL-predicate rows
    kept (SQL semantics), untouched files not rewritten, and CDF
    carries exact pre/post images."""
    t = DeltaTable(str(tmp_path / "t"))
    rows = spark.createDataFrame(
        [(0, "a", 0.0), (1, "a", 1.0), (2, "a", None), (3, "a", 3.0)],
        "event_id long, category string, value double",
    )
    t.write(rows.coalesce(1), configuration=CDF)
    t.write(_rows(spark, range(100, 103)).coalesce(1))  # no rows match below
    files_before = set(t.snapshot().files)
    v = t.update_where(
        spark,
        "value >= 1 AND value < 50",
        {"value": "value * 10", "category": "upper(category)"},
    )
    got = {(r.event_id, r.category, r.value) for r in t.read(spark).collect()}
    assert (1, "A", 10.0) in got and (3, "A", 30.0) in got
    assert (0, "a", 0.0) in got          # predicate FALSE: unchanged
    assert (2, "a", None) in got          # predicate NULL: unchanged
    assert (100, "a", 100.0) in got       # untouched file intact
    # the no-match file survived un-rewritten
    removed = {a["remove"]["path"] for a in t.actions(v) if "remove" in a}
    assert len(removed) == 1 and removed < files_before
    ch = t.table_changes(spark, start_version=v)
    by = _by_type(ch)
    assert by["update_preimage"] == {(1, 1.0), (3, 3.0)}
    assert by["update_postimage"] == {(1, 10.0), (3, 30.0)}
    assert set(by) == {"update_preimage", "update_postimage"}


def test_update_where_unknown_column_is_loud(spark, tmp_path):
    from pulsar_io_delta_spark.sources.delta_log import DeltaProtocolError
    import pytest

    t = DeltaTable(str(tmp_path / "t"))
    t.write(_rows(spark, range(3)))
    with pytest.raises(DeltaProtocolError, match="unknown columns"):
        t.update_where(spark, "event_id = 0", {"nope": "1"})


def test_cdf_replay_reconstructs_table_state(spark, tmp_path):
    """Conservation law: replaying table_changes() from v0 — apply
    inserts, drop deletes, swap update pre→post — must reconstruct
    exactly the final read() state, across a randomized op sequence
    (seeded: appends, merges, rewrite deletes, DV deletes, updates)."""
    import random

    for seed in (0, 1):
        rng = random.Random(seed)
        t = DeltaTable(str(tmp_path / f"replay{seed}"))
        t.write(_rows(spark, range(20)).coalesce(1), configuration=CDF)
        next_id = 20
        for _step in range(4):
            op = rng.choice(["append", "merge", "delete", "dv_delete", "update"])
            if op == "append":
                t.write(_rows(spark, range(next_id, next_id + 5)).coalesce(1))
                next_id += 5
            elif op == "merge":
                upd = rng.sample(range(next_id), 3)
                src = spark.createDataFrame(
                    [(i, "a", i * 100.0) for i in upd]
                    + [(next_id, "a", float(next_id))],
                    "event_id long, category string, value double",
                )
                t.merge_upsert(spark, src, key_cols=["event_id"])
                next_id += 1
            elif op == "delete":
                t.delete_where(spark, f"event_id % 13 = {rng.randrange(13)}")
            elif op == "dv_delete":
                t.delete_where_dv(spark, f"event_id % 11 = {rng.randrange(11)}")
            else:
                t.update_where(
                    spark, f"event_id % 7 = {rng.randrange(7)}",
                    {"value": "value + 0.5"},
                )
        ch = t.table_changes(spark, start_version=0)
        state: dict = {}
        rows = sorted(
            ch.collect(),
            key=lambda r: (r["_commit_version"],
                           0 if r["_change_type"] == "update_preimage" else 1),
        )
        for r in rows:
            key = r.event_id
            ct = r["_change_type"]
            if ct == "insert" or ct == "update_postimage":
                state[key] = (r.category, r.value)
            elif ct == "delete":
                state.pop(key, None)
            elif ct == "update_preimage":
                assert key in state, (seed, key)
        final = {r.event_id: (r.category, r.value) for r in t.read(spark).collect()}
        assert state == final, (seed, len(state), len(final))


def test_cdf_commit_timestamp_uses_ict(spark, tmp_path, monkeypatch):
    """On an in-commit-timestamps table, table_changes must stamp
    _commit_timestamp from the commit-carried clock (authoritative over
    wall timestamps / file mtimes) for BOTH the cdc-file path and the
    derived-commit path — the same rule time travel follows. The
    pulsar_delta_cdc change feed stamps a cdc-file commit's rows with
    that same clock."""
    from pulsar_io_delta_spark.sources.datasource import register_delta_cdc

    t = DeltaTable(str(tmp_path / "t"))
    t.write(
        _rows(spark, range(6)),
        configuration={**CDF, "delta.enableInCommitTimestamps": "true"},
    )
    # v1's in-commit timestamp runs ahead of its wall timestamp, as
    # after a predecessor commit from a faster clock
    monkeypatch.setattr(DeltaTable, "_last_ict", lambda self: 3_999_999_999_999)
    t.delete_where(spark, "event_id < 2")  # v1: writes _change_data files
    monkeypatch.undo()
    icts = {v: t.commit_timestamp_ms(v) for v in (0, 1)}
    assert icts[1] == 4_000_000_000_000
    ch = t.table_changes(spark, 0)
    got = {
        (r._commit_version, int(r._commit_timestamp.timestamp() * 1000))
        for r in ch.select("_commit_version", "_commit_timestamp").distinct().collect()
    }
    assert got == {(0, icts[0]), (1, icts[1])}, (got, icts)
    register_delta_cdc(spark)
    feed = (
        spark.read.format("pulsar_delta_cdc")
        .option("tablePath", t.path)
        .option("readChangeFeed", "true")
        .option("startingVersion", 1)
        .load()
    )
    got = {
        (r._commit_version, int(r.ts.timestamp() * 1000))
        for r in feed.select("_commit_version", "ts").distinct().collect()
    }
    assert got == {(1, icts[1])}


def test_merge_with_schema_evolution(spark, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION (delta-spark surface): source-only
    columns are appended to the table schema in the same commit;
    survivors and untouched files read back with the new column
    null-filled, matched rows update, unmatched insert. Without the
    flag the merge still refuses loudly; on a column-mapped table
    evolution refuses (new columns need physical names)."""
    import pytest

    from pulsar_io_delta_spark.sources.delta_log import DeltaProtocolError

    t = DeltaTable(str(tmp_path / "t"))
    t.write(_rows(spark, range(4)).repartition(2), configuration=CDF)
    src = spark.createDataFrame(
        [(2, "a", 200.0, "beta"), (9, "a", 900.0, "gamma")],
        "event_id long, category string, value double, tag string",
    )
    with pytest.raises(DeltaProtocolError, match="schema_evolution=True"):
        t.merge_upsert(spark, src, ["event_id"])
    t.merge_upsert(spark, src, ["event_id"], schema_evolution=True)
    snap = t.snapshot()
    import json as _json

    names = [f["name"] for f in _json.loads(snap.schema_string)["fields"]]
    assert names == ["event_id", "category", "value", "tag"]
    got = {(r.event_id, r.value, r.tag) for r in t.read(spark).collect()}
    assert got == {
        (0, 0.0, None), (1, 1.0, None), (3, 3.0, None),  # survivors/untouched
        (2, 200.0, "beta"), (9, 900.0, "gamma"),
    }
    # CDF rows for the merge carry the widened schema too
    ch = _by_type(t.table_changes(spark, 1))
    assert ch["insert"] == {(9, 900.0)}
    assert ch["update_postimage"] == {(2, 200.0)}
    # mapped tables refuse evolution loudly
    t2 = DeltaTable(str(tmp_path / "m"))
    t2.write(_rows(spark, range(2)))
    t2.enable_column_mapping()
    with pytest.raises(DeltaProtocolError, match="column-mapped"):
        t2.merge_upsert(spark, src, ["event_id"], schema_evolution=True)
