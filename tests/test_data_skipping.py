"""File-stats data skipping: footer min/max collected at write time,
files pruned at read time, results still exact."""

import pyspark.sql.functions as F
import pytest

from pulsar_io_delta_spark.sources.delta_log import (
    DeltaProtocolError,
    DeltaTable,
    _metadata,
)


def _commit_ranges(spark, path, ranges):
    t = DeltaTable(path)
    for lo, hi in ranges:
        df = spark.range(lo, hi).select(
            F.col("id").alias("event_id"), (F.col("id") * 2.0).alias("value")
        )
        t.write(df.coalesce(1))
    return t


def test_stats_collected_on_write(spark, tmp_path):
    t = _commit_ranges(spark, str(tmp_path / "t"), [(0, 100)])
    import json

    add = next(iter(t.snapshot().adds.values()))
    stats = json.loads(add["stats"])
    assert stats["numRecords"] == 100
    assert stats["minValues"]["event_id"] == 0
    assert stats["maxValues"]["event_id"] == 99


def test_pruning_skips_files_and_stays_exact(spark, tmp_path):
    # 4 commits covering disjoint id ranges → 4 single-file ranges
    t = _commit_ranges(
        spark, str(tmp_path / "t2"), [(0, 100), (100, 200), (200, 300), (300, 400)]
    )
    snap = t.snapshot()
    assert len(snap.files) == 4
    kept = t.prune_files(snap, [("event_id", ">=", 250)])
    assert len(kept) == 2  # only the [200,300) and [300,400) files
    df = t.read(spark, filters=[("event_id", ">=", 250)])
    assert df.count() == 150
    assert df.agg(F.min("event_id")).first()[0] == 250


def test_pruning_equality_and_partition_values(spark, tmp_path):
    t = DeltaTable(str(tmp_path / "t3"))
    df = spark.range(100).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 2 == 0, "click").otherwise("buy").alias("event_type"),
    )
    t.write(df, partition_by=["event_type"])
    snap = t.snapshot()
    kept = t.prune_files(snap, [("event_type", "=", "buy")])
    assert 0 < len(kept) < len(snap.files)
    out = t.read(spark, filters=[("event_type", "=", "buy")])
    assert out.count() == 50


def test_pruning_survives_checkpoint(spark, tmp_path):
    t = _commit_ranges(spark, str(tmp_path / "t4"), [(0, 100), (100, 200)])
    t.checkpoint()
    t.expire_log()
    snap = t.snapshot()
    kept = t.prune_files(snap, [("event_id", "<", 50)])
    assert len(kept) == 1
    assert t.read(spark, filters=[("event_id", "<", 50)]).count() == 50


def test_string_stats_truncated_and_sound(spark, tmp_path):
    """Long string columns keep only a 32-char stats prefix (a 1 KB
    text would otherwise land ~2 KB in EVERY add action — GBs of log
    at 10^6 files). Truncation must stay SOUND: min prefix <= true
    min, max gets its last char bumped >= true max, and pruning on the
    column still never drops a matching file."""
    import json

    from pulsar_io_delta_spark.sources.delta_log import _truncated_string_max

    t = DeltaTable(str(tmp_path / "s"))
    rows = [
        (0, "aaaa" + "x" * 500),
        (1, "mmmm" + "y" * 500),
    ]
    t.write(spark.createDataFrame(rows, "doc_id long, text string").coalesce(1))
    t.write(
        spark.createDataFrame(
            [(2, "zzzz" + "z" * 500)], "doc_id long, text string"
        ).coalesce(1)
    )
    snap = t.snapshot()
    for p in snap.files:
        s = json.loads(snap.adds[p]["stats"])
        assert len(s["minValues"]["text"]) <= 32
        assert len(s["maxValues"]["text"]) <= 32
    # bounds sound: the bumped max is > any value sharing the prefix
    assert _truncated_string_max("a" * 100) == "a" * 31 + "b"
    assert _truncated_string_max("short") == "short"
    assert _truncated_string_max(chr(0x10FFFF) * 40) is None
    # pruning stays exact on the truncated column
    kept = t.prune_files(snap, [("text", ">=", "zzz")])
    hit = t.read(spark, filters=[("text", ">=", "zzz")])
    assert hit.count() == 1 and len(kept) >= 1
    assert t.read(spark, filters=[("text", "<", "b")]).count() == 1


def test_generated_column_partition_pruning(spark, tmp_path):
    """delta-spark's generated-column partition pruning: the table is
    partitioned by event_date = CAST(ts AS DATE); a filter on ts alone
    must prune partitions (monotone derivation, strict ops weakened to
    inclusive) while results stay exactly right. Date partition values
    are 'yyyy-MM-dd' — lexicographically order-safe — so the derived
    range predicate applies at the partitionValues level, before any
    footer is consulted."""
    import datetime as dt
    import json

    from pulsar_io_delta_spark.sources.delta_log import (
        DeltaTable,
        _generated_partition_filters,
    )

    path = str(tmp_path / "gp")
    df = spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1 + (i % 5), 6 + i % 12), float(i))
            for i in range(50)
        ],
        "event_id long, ts timestamp, value double",
    ).withColumn("event_date", F.col("ts").cast("date"))
    t = DeltaTable(path)
    t.write(df, partition_by=["event_date"])
    # stamp the generation expression (our writer takes precomputed
    # values; the metadata is what the pruner reads)
    snap = t.snapshot()
    s = json.loads(snap.schema_string)
    for f in s["fields"]:
        if f["name"] == "event_date":
            f.setdefault("metadata", {})["delta.generationExpression"] = (
                "CAST(ts AS DATE)"
            )
    t._commit(
        snap,
        [_metadata(snap, schema_string=json.dumps(s))],
        operation="UPGRADE", read_version=snap.version,
    )
    snap = t.snapshot()
    flt = [("ts", ">=", dt.datetime(2024, 1, 4))]
    derived = _generated_partition_filters(snap, flt)
    assert derived == [("event_date", ">=", dt.date(2024, 1, 4))]
    pruned = t.prune_files(snap, flt + derived)
    assert 0 < len(pruned) < len(snap.files)
    assert all("event_date=2024-01-0" in p for p in pruned)
    assert not [p for p in pruned if "2024-01-01" in p or "2024-01-02" in p
                or "2024-01-03" in p]
    # end-to-end read: derivation applied internally, rows exact
    got = t.read(spark, filters=flt)
    assert got.count() == sum(1 for i in range(50) if 1 + (i % 5) >= 4)
    # equality on ts derives equality on the date partition
    flt_eq = [("ts", "=", dt.datetime(2024, 1, 3, 8))]
    d2 = _generated_partition_filters(snap, flt_eq)
    assert d2 == [("event_date", "=", dt.date(2024, 1, 3))]
    # scalar fallback path agrees with the index path
    scalar = t._prune_files_scalar(snap, flt + derived)
    assert sorted(scalar) == sorted(pruned)


def _date_partitioned_table(spark, path):
    """5 single-date partitions (2024-01-01..05) on a DATE column."""
    import datetime as dt

    df = spark.createDataFrame(
        [(i, dt.date(2024, 1, 1 + (i % 5)), float(i)) for i in range(50)],
        "event_id long, event_date date, value double",
    )
    t = DeltaTable(path)
    t.write(df.repartition("event_date"), partition_by=["event_date"])
    return t


def test_datetime_filter_on_date_partition_never_over_prunes(spark, tmp_path):
    """A datetime filter value against a DATE partition must not be
    compared via str(): '2024-01-05 00:00:00' > '2024-01-05'
    lexicographically, so a naive string compare under '>=' would deny
    the very file whose event_date = 2024-01-05 rows satisfy the
    predicate after Spark's date→timestamp coercion. The canonical
    encoding (_canon_pv_filter) weakens to the inclusive date bound."""
    import datetime as dt

    t = _date_partitioned_table(spark, str(tmp_path / "dp"))
    snap = t.snapshot()
    assert len(snap.files) == 5, snap.files

    # midnight datetime: exactly the hazard value from the advisory
    flt = [("event_date", ">=", dt.datetime(2024, 1, 5))]
    kept = t.prune_files(snap, flt)
    assert any("event_date=2024-01-05" in p for p in kept), (
        "the boundary-date file was wrongly pruned"
    )
    assert not any("event_date=2024-01-02" in p for p in kept)
    # scalar fallback agrees
    assert sorted(t._prune_files_scalar(snap, flt)) == sorted(kept)

    # non-midnight datetime under '<': floor-date weakening is sound
    flt2 = [("event_date", "<", dt.datetime(2024, 1, 2, 13, 30))]
    kept2 = t.prune_files(snap, flt2)
    assert any("event_date=2024-01-01" in p for p in kept2)
    assert any("event_date=2024-01-02" in p for p in kept2)  # over-admit ok
    assert not any("event_date=2024-01-04" in p for p in kept2)

    # plain date values keep exact-range pruning (no weakening)
    flt3 = [("event_date", ">", dt.date(2024, 1, 3))]
    kept3 = t.prune_files(snap, flt3)
    assert sorted(kept3) == sorted(
        p for p in snap.files
        if "2024-01-04" in p or "2024-01-05" in p
    )


def test_canon_pv_filter_unit():
    """Type-aware canonicalization table: datetimes weaken against date
    partitions, tz-aware and cross-type comparisons skip (None =
    admit-all, always sound), bools use the canonical lowercase."""
    import datetime as dt

    from pulsar_io_delta_spark.sources.delta_log import _canon_pv_filter

    d = dt.date(2024, 1, 5)
    mid = dt.datetime(2024, 1, 5)
    noon = dt.datetime(2024, 1, 5, 12)
    aware = dt.datetime(2024, 1, 5, tzinfo=dt.timezone.utc)

    assert _canon_pv_filter(">=", mid, "date") == ("2024-01-05", ">=")
    assert _canon_pv_filter(">", noon, "date") == ("2024-01-05", ">=")
    assert _canon_pv_filter("<", noon, "date") == ("2024-01-05", "<=")
    assert _canon_pv_filter("=", mid, "date") == ("2024-01-05", "=")
    assert _canon_pv_filter("=", noon, "date") is None
    assert _canon_pv_filter(">=", aware, "date") is None
    assert _canon_pv_filter("=", d, "date") == ("2024-01-05", "=")
    assert _canon_pv_filter("=", "2024-01-05", "date") == ("2024-01-05", "=")
    assert _canon_pv_filter("=", "2024-01-05 00:00:00", "date") is None
    # temporal value on a NON-date partition: no sound string compare
    assert _canon_pv_filter("=", mid, "timestamp") is None
    assert _canon_pv_filter("=", noon, "string") is None
    # canonical boolean encoding is lowercase
    assert _canon_pv_filter("=", True, "boolean") == ("true", "=")
    assert _canon_pv_filter("=", 7, "long") == ("7", "=")


def test_generated_pruning_skips_tz_aware_values(spark, tmp_path):
    """tz-aware datetimes were CAST in the SESSION timezone — deriving
    event_date >= val.date() in the value's own zone can land a day
    high and prune a matching file. No-derive is the sound choice."""
    import datetime as dt
    import json

    from pulsar_io_delta_spark.sources.delta_log import (
        _generated_partition_filters,
    )

    path = str(tmp_path / "gptz")
    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1 + (i % 5), 6), float(i)) for i in range(20)],
        "event_id long, ts timestamp, value double",
    ).withColumn("event_date", F.col("ts").cast("date"))
    t = DeltaTable(path)
    t.write(df, partition_by=["event_date"])
    snap = t.snapshot()
    s = json.loads(snap.schema_string)
    for f in s["fields"]:
        if f["name"] == "event_date":
            f.setdefault("metadata", {})["delta.generationExpression"] = (
                "CAST(ts AS DATE)"
            )
    t._commit(
        snap,
        [_metadata(snap, schema_string=json.dumps(s))],
        operation="UPGRADE", read_version=snap.version,
    )
    snap = t.snapshot()
    # UTC+14: own-zone date is a day AHEAD of most session zones
    aware = dt.datetime(
        2024, 1, 4, 0, 30, tzinfo=dt.timezone(dt.timedelta(hours=14))
    )
    assert _generated_partition_filters(snap, [("ts", ">=", aware)]) == []
    # naive values still derive
    naive = dt.datetime(2024, 1, 4)
    assert _generated_partition_filters(snap, [("ts", ">=", naive)]) == [
        ("event_date", ">=", dt.date(2024, 1, 4))
    ]
    # YEAR() equality: same tz guard
    for f in s["fields"]:
        if f["name"] == "event_date":
            f["metadata"]["delta.generationExpression"] = "YEAR(ts)"
    t._commit(
        snap,
        [_metadata(snap, schema_string=json.dumps(s))],
        operation="UPGRADE", read_version=snap.version,
    )
    snap = t.snapshot()
    assert _generated_partition_filters(snap, [("ts", "=", aware)]) == []
    assert _generated_partition_filters(snap, [("ts", "=", naive)]) == [
        ("event_date", "=", 2024)
    ]


def test_stats_column_limiting(spark, tmp_path):
    """delta.dataSkippingNumIndexedCols / dataSkippingStatsColumns
    (delta-spark parity): add-action stats carry min/max ONLY for the
    indexed columns — at 10^6 files x 1000 columns this is the
    difference between a replayable log and a gigabyte of JSON.
    numRecords always collected; non-indexed filters admit
    conservatively (correctness via scan, skipping via indexed)."""
    import json as _json

    import pyspark.sql.functions as _F

    # 40 columns, default NumIndexedCols=32 -> c32..c39 unindexed
    wide = spark.range(100).select(
        *[ (_F.col("id") * (i + 1)).alias(f"c{i}") for i in range(40)]
    )
    t = DeltaTable(str(tmp_path / "wide"))
    t.write(wide.coalesce(1))
    add = next(iter(t.snapshot().adds.values()))
    stats = _json.loads(add["stats"])
    assert stats["numRecords"] == 100
    assert "c0" in stats["minValues"] and "c31" in stats["minValues"]
    assert "c32" not in stats["minValues"] and "c39" not in stats["maxValues"]
    # filters on unindexed columns stay exact (admit-all + scan filter)
    assert t.read(spark, filters=[("c39", ">=", 40 * 99)]).count() == 1

    # explicit NumIndexedCols=3 on the creating write
    t2 = DeltaTable(str(tmp_path / "n3"))
    t2.write(
        wide.coalesce(1),
        configuration={"delta.dataSkippingNumIndexedCols": "3"},
    )
    s2 = _json.loads(next(iter(t2.snapshot().adds.values()))["stats"])
    assert set(s2["minValues"]) == {"c0", "c1", "c2"}
    # appends inherit the table policy
    t2.write(wide.coalesce(1))
    snaps = [_json.loads(a["stats"]) for a in t2.snapshot().adds.values()]
    assert all(set(s["minValues"]) == {"c0", "c1", "c2"} for s in snaps)

    # explicit column list overrides the count
    t3 = DeltaTable(str(tmp_path / "cols"))
    t3.write(
        wide.coalesce(1),
        configuration={"delta.dataSkippingStatsColumns": "c7, c39"},
    )
    s3 = _json.loads(next(iter(t3.snapshot().adds.values()))["stats"])
    assert set(s3["minValues"]) == {"c7", "c39"}
    # indexed column still prunes: two disjoint files, filter on c7
    t3.write(
        spark.range(100, 200).select(
            *[ (_F.col("id") * (i + 1)).alias(f"c{i}") for i in range(40)]
        ).coalesce(1)
    )
    snap3 = t3.snapshot()
    kept = t3.prune_files(snap3, [("c7", ">=", 8 * 100)])
    assert len(kept) == 1 and len(snap3.files) == 2


def test_stats_limiting_keeps_identity_columns(spark, tmp_path):
    """Identity high-water marks advance from add stats (zero extra
    jobs) — the limiter must never blind them, even past position N."""
    import json as _json

    from pulsar_io_delta_spark.sources.delta_log import _stats_index_cols

    fields = [
        {"name": f"c{i}", "type": "long", "nullable": True, "metadata": {}}
        for i in range(35)
    ]
    fields.append(
        {"name": "rid", "type": "long", "nullable": True,
         "metadata": {"delta.identity.start": 1, "delta.identity.step": 1,
                      "delta.identity.allowExplicitInsert": False}}
    )
    schema = _json.dumps({"type": "struct", "fields": fields})
    idx = _stats_index_cols(schema, {})
    assert idx is not None and "rid" in idx and "c34" not in idx


def test_stats_cols_survive_rename_then_write_then_prune(spark, tmp_path):
    """Compound case (VERDICT r11 #6): mapped table +
    dataSkippingStatsColumns naming a logical column that is then
    RENAMED. The rename commit rewrites the property to the new
    logical name (physical stats keys are untouched), so later writes
    still index the column and pruning never goes blind."""
    import json as _json

    import pyspark.sql.functions as _F

    t = DeltaTable(str(tmp_path / "t"))
    t.write(
        spark.range(50).select(
            _F.col("id").alias("k"),
            (_F.col("id") * 2).alias("v"),
            _F.lit("x").alias("tag"),
        ).coalesce(1),
        configuration={"delta.dataSkippingStatsColumns": "v"},
    )
    t.enable_column_mapping()
    t.rename_column("v", "score")
    snap = t.snapshot()
    assert snap.configuration["delta.dataSkippingStatsColumns"] == "score"
    # post-rename write: stats land under the stable PHYSICAL name
    t.write(
        spark.range(1000, 1050).select(
            _F.col("id").alias("k"),
            (_F.col("id") * 2).alias("score"),
            _F.lit("y").alias("tag"),
        ).coalesce(1)
    )
    snap = t.snapshot()
    stats = [_json.loads(a["stats"]) for a in snap.adds.values()]
    assert all("numRecords" in s for s in stats)
    phys = {
        f["name"]: (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        for f in _json.loads(snap.schema_string)["fields"]
    }
    score_phys = phys["score"]
    assert all(score_phys in s["minValues"] for s in stats)
    # tag is NOT in the allowlist: no stats for it
    assert all(phys["tag"] not in s["minValues"] for s in stats)
    # pruning on the RENAMED logical column skips the low file (the
    # read path maps logical -> physical via _phys_filters)
    kept = t.prune_files(snap, t._phys_filters(snap, [("score", ">=", 2000)]))
    assert len(kept) == 1 and len(snap.files) == 2
    # and the data stays exact
    assert t.read(spark, filters=[("score", ">=", 2000)]).count() == 50


def test_drop_column_refuses_when_stats_col(spark, tmp_path):
    import pyspark.sql.functions as _F

    t = DeltaTable(str(tmp_path / "t"))
    t.write(
        spark.range(10).select(
            _F.col("id").alias("k"), (_F.col("id") * 2).alias("v")
        ),
        configuration={"delta.dataSkippingStatsColumns": "v"},
    )
    t.enable_column_mapping()
    with pytest.raises(DeltaProtocolError, match="dataSkippingStatsColumns"):
        t.drop_column("v")


def test_unknown_stats_column_refuses(spark, tmp_path):
    """ADVICE r11: a typo'd delta.dataSkippingStatsColumns used to be
    silently intersected away, shrinking the allowlist to
    identity-only with no signal; delta-spark validates and errors."""
    import pyspark.sql.functions as _F

    t = DeltaTable(str(tmp_path / "t"))
    with pytest.raises(DeltaProtocolError, match="not in the table schema"):
        t.write(
            spark.range(10).select(_F.col("id").alias("k")),
            configuration={"delta.dataSkippingStatsColumns": "k, oops"},
        )


def test_nested_stats_column_paths_accepted(spark, tmp_path):
    """ADVICE r12: delta.dataSkippingStatsColumns legitimately accepts
    dotted paths into nested structs ('addr.city'); the r12 typo guard
    over-rejected them by matching only top-level names, making a
    validly-configured table unwritable. Dotted paths must resolve
    through the schema tree (write succeeds, top-level stats intact);
    a genuinely unresolvable path still refuses loudly."""
    import json as _json

    import pyspark.sql.functions as _F

    from pulsar_io_delta_spark.sources.delta_log import _stats_index_cols

    nested = spark.range(20).select(
        _F.col("id").alias("k"),
        _F.struct(
            _F.concat(_F.lit("c"), _F.col("id")).alias("city"),
            (_F.col("id") % 5).alias("zip"),
        ).alias("addr"),
    )
    t = DeltaTable(str(tmp_path / "nested"))
    # must not raise: 'addr.city' is a valid nested path
    t.write(
        nested.coalesce(1),
        configuration={"delta.dataSkippingStatsColumns": "addr.city, k"},
    )
    stats = _json.loads(next(iter(t.snapshot().adds.values()))["stats"])
    assert "k" in stats["minValues"]  # top-level entry still indexed
    # appends inherit the policy without raising
    t.write(nested.coalesce(1))
    assert t.read(spark).count() == 40

    # the resolver emits the dotted physical path
    idx = _stats_index_cols(t.snapshot().schema_string, t.snapshot().configuration)
    assert idx is not None and "addr.city" in idx and "k" in idx

    # unresolvable nested leaf still refuses (typo guard intact)
    t2 = DeltaTable(str(tmp_path / "bad"))
    with pytest.raises(DeltaProtocolError, match="not in the table schema"):
        t2.write(
            nested.coalesce(1),
            configuration={"delta.dataSkippingStatsColumns": "addr.nope"},
        )
    # non-struct first segment with a dotted tail refuses too
    t3 = DeltaTable(str(tmp_path / "bad2"))
    with pytest.raises(DeltaProtocolError, match="not in the table schema"):
        t3.write(
            nested.coalesce(1),
            configuration={"delta.dataSkippingStatsColumns": "k.city"},
        )
