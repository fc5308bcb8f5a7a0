"""Scale smoke: run headline operator shapes on a 16× blow-up of
lineitem (~9.6M rows from sf0.1) and report wall times + per-row cost
vs the 1× run. The point is not absolute speed but *flat per-row cost*
and no driver-side blow-ups as data grows — evidence for the
"would this survive 100×?" question.

Usage: python tools/scale_smoke.py [multiplier]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from pulsar_io_delta_spark.session import get_spark  # noqa: E402
from pulsar_io_delta_spark.tables import table  # noqa: E402


def blow_up(df, k: int):
    """k× the rows with perturbed keys (keeps key cardinality growing —
    a pure duplicate would make joins quadratically heavier than real
    data growth)."""
    reps = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_rep")
    out = df.select("*", reps)
    return out.withColumn(
        "l_orderkey", F.col("l_orderkey") + F.col("_rep") * 10_000_000
    ).drop("_rep")


def metadata_axis(n_files: int) -> None:
    """FILE-COUNT axis (round 9, VERDICT r8 #1): the data-plane smokes
    scale rows; this scales the number of LIVE FILES the driver-side
    metadata plane must replay and prune. A synthetic compact
    checkpoint with ``n_files`` add actions (realistic per-file stats)
    plus a 10-commit tail is planned end-to-end: snapshot() (columnar
    checkpoint load), first pruned read (stats index build + mask),
    then steady-state prunes. A real 100 TB table is ~10^5-10^6 files
    at 128-1024 MB each — planning must stay in seconds there."""
    import json
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    root = tempfile.mkdtemp(prefix="meta_axis_") + "/tbl"
    log = root + "/_delta_log"
    import os

    os.makedirs(log)
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": False, "metadata": {}},
                {"name": "ts", "type": "long", "nullable": True, "metadata": {}},
                {"name": "cat", "type": "string", "nullable": True, "metadata": {}},
                {"name": "p", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1700000000000}}) + "\n")
        f.write(
            json.dumps(
                {
                    "metaData": {
                        "id": "t",
                        "schemaString": schema_string,
                        "partitionColumns": ["p"],
                        "configuration": {},
                        "format": {"provider": "parquet", "options": {}},
                    }
                }
            )
            + "\n"
        )
        f.write(
            json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
            + "\n"
        )
    rpf = 1000
    n = n_files
    pad = [None, None]
    cols = {
        "action_type": ["metaData", "protocol"] + ["add"] * n,
        "path": pad + [f"p={i%64}/part-{i:08d}.parquet" for i in range(n)],
        "partitionValues": pad + [json.dumps({"p": str(i % 64)}) for i in range(n)],
        "modificationTime": pad + [1700000000000 + i for i in range(n)],
        "stats": pad
        + [
            json.dumps(
                {
                    "numRecords": rpf,
                    "minValues": {"id": i * rpf, "ts": 1700000000 + i, "cat": "a"},
                    "maxValues": {
                        "id": (i + 1) * rpf - 1,
                        "ts": 1700000500 + i,
                        "cat": "z",
                    },
                }
            )
            for i in range(n)
        ],
        "schemaString": [schema_string, None] + [None] * n,
        "partitionColumns": [json.dumps(["p"]), None] + [None] * n,
        "configuration": [json.dumps({}), None] + [None] * n,
        "minReaderVersion": [None, 1] + [None] * n,
        "minWriterVersion": [None, 2] + [None] * n,
        "readerFeatures": [None] * (n + 2),
        "writerFeatures": [None] * (n + 2),
        "deletionVector": [None] * (n + 2),
        "baseRowId": [None] * (n + 2),
        "defaultRowCommitVersion": [None] * (n + 2),
        "txn_appId": [None] * (n + 2),
        "txn_version": [None] * (n + 2),
        "domainMetadata": [None] * (n + 2),
        "commit_timestamp": [1700000000000] * (n + 2),
    }
    pq.write_table(pa.table(cols), os.path.join(log, f"{0:020d}.checkpoint.parquet"))
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        f.write(json.dumps({"version": 0, "parts": 1}))
    for v in range(1, 11):
        with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
            f.write(json.dumps({"commitInfo": {"timestamp": 1700000001000 + v}}) + "\n")
            for j in range(5):
                i = n + v * 5 + j
                f.write(
                    json.dumps(
                        {
                            "add": {
                                "path": f"p={i%64}/part-{i:08d}.parquet",
                                "partitionValues": {"p": str(i % 64)},
                                "modificationTime": 1700000000000 + i,
                                "dataChange": True,
                                "stats": json.dumps(
                                    {
                                        "numRecords": rpf,
                                        "minValues": {"id": i * rpf},
                                        "maxValues": {"id": (i + 1) * rpf - 1},
                                    }
                                ),
                            }
                        }
                    )
                    + "\n"
                )
    tbl = DeltaTable(root)
    t0 = time.time()
    snap = tbl.snapshot()
    t_snap = time.time() - t0
    t0 = time.time()
    kept = tbl.prune_files(snap, [("id", ">", (n - 100) * rpf)])
    t_first = time.time() - t0  # includes the one-time stats index build
    t0 = time.time()
    kept2 = tbl.prune_files(snap, [("id", "<", 50 * rpf)])
    t_steady = time.time() - t0
    t0 = time.time()
    kept3 = tbl.prune_files(snap, [("p", "=", 3)])
    t_pv = time.time() - t0
    t0 = time.time()
    scal = tbl._prune_files_scalar(snap, [("id", "<", 50 * rpf)])
    t_scalar = time.time() - t0
    assert scal == kept2
    print(
        f"{'metadata':10s} n_files={n:>9,d} snapshot={t_snap:6.3f}s "
        f"first_prune={t_first:6.3f}s steady_prune={t_steady*1000:7.1f}ms "
        f"pv_prune={t_pv*1000:7.1f}ms scalar_ref={t_scalar:6.3f}s "
        f"kept={len(kept)}/{len(kept2)}/{len(kept3)}"
    )
    shutil.rmtree(os.path.dirname(root), ignore_errors=True)


def fuzzy_axis(multipliers: list[int]) -> None:
    """Targeted fuzzy_pairs re-measure (round 9, VERDICT r8 #6 /
    PERF.md's own commitment): the 10× point rose ~1.9× in per-row
    cost, explained as a one-time broadcast→shuffle strategy step —
    this runs the same shape at 1×/10×/20× so the step hypothesis is
    testable (flat 10×→20× = step; rising = real superlinearity)."""
    from pulsar_io_delta_spark.session import get_spark
    from pulsar_io_delta_spark.tables import table

    spark = get_spark(app_name="fuzzy-axis")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    docs = table(spark, sf, "documents").select("doc_id", "text")
    n_docs = docs.count()

    def blow_docs(df, n):
        reps = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("_rep")
        return df.select("*", reps).select(
            (F.col("doc_id") + F.col("_rep") * 100_000_000).alias("doc_id"),
            F.concat(
                F.lit("v"), F.col("_rep").cast("string"), F.lit(" "), F.col("text")
            ).alias("text"),
        )

    def fuzzy(df):
        b = df.select(
            "doc_id",
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 3)).alias("blk"),
            F.substring("text", 1, 40).alias("probe"),
        )
        a, c = b.alias("a"), b.alias("c")
        return (
            a.join(
                c,
                (F.col("a.blk") == F.col("c.blk"))
                & (F.col("a.doc_id") < F.col("c.doc_id")),
            )
            .where(F.levenshtein(F.col("a.probe"), F.col("c.probe")) <= 10)
            .select(F.col("a.doc_id").alias("id_a"), F.col("c.doc_id").alias("id_b"))
        )

    for mult in multipliers:
        df = docs if mult == 1 else blow_docs(docs, mult)
        rows = n_docs * mult
        fuzzy(df).write.mode("overwrite").format("noop").save()  # warm
        t0 = time.time()
        fuzzy(df).write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        print(
            f"{'fuzzy_pairs':11s} {mult}x rows={rows:>9,d} wall={dt:6.2f}s "
            f"ns/row={dt/rows*1e9:8.1f}"
        )
    spark.stop()


def liquid_axis(multipliers: list[int]) -> None:
    """Liquid clustering at scale (round 9): optimize_clustered is one
    range exchange on the Hilbert index — per-row cost should stay
    flat as rows grow (the pandas-UDF bit-twiddle is O(bits·d) vector
    ops per batch; bucketing is codegen'd). Also reports the
    box-predicate skipping ratio, which should stay HIGH as files
    subdivide the same key space."""
    import tempfile

    from pulsar_io_delta_spark.operators.layout import skipping_ratio
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    spark = get_spark(app_name="liquid-axis")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        F.col("l_quantity").cast("double").alias("l_quantity"),
    )
    n1 = li.count()
    for mult in multipliers:
        df = li if mult == 1 else blow_up(li, mult)
        rows = n1 * mult
        root = tempfile.mkdtemp(prefix=f"liq{mult}_") + "/tbl"
        t = DeltaTable(root)
        t.write(df.repartition(16), cluster_by=["l_partkey", "l_suppkey"])
        t0 = time.time()
        t.optimize_clustered(spark, target_files=16 * mult)
        dt = time.time() - t0
        box = [("l_partkey", "<=", 5000), ("l_suppkey", "<=", 250)]
        ratio = skipping_ratio(t, box)
        print(
            f"{'liquid_opt':11s} {mult}x rows={rows:>10,d} wall={dt:6.2f}s "
            f"ns/row={dt/rows*1e9:8.1f} box_skip={ratio:.2f}"
        )
    spark.stop()


def occ_axis(n_committers: int = 16, commits_each: int = 8) -> None:
    """OCC CONTENTION axis (round 10, VERDICT r9 #9): ``n_committers``
    threads blind-append concurrently against ONE table on the
    object-store fake, whose conditional-PUT CAS (create_exclusive) is
    the only mutex — the S3-style protocol in sources/fs.py. Reports
    the per-commit attempt distribution and latency percentiles, and
    asserts NO LOST COMMIT: every (committer, seq) txn marker must land
    exactly once in the final log.

    At 100 TB the committers are independent jobs (compaction, GC,
    streaming sinks) hitting one table; what must hold is linear-ish
    retry cost and zero lost/duplicated commits — not low absolute
    latency, which a real backend dominates with network RTT anyway."""
    import collections
    import json
    import statistics
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
    attempts: collections.Counter = collections.Counter()
    att_lock = threading.Lock()

    def count_attempt(path: str, data: str) -> None:
        cid = data.split('"operation": "WRITE-', 1)[1].split('"', 1)[0]
        with att_lock:
            attempts[cid] += 1

    fs.on_create_exclusive = count_attempt
    latencies: dict[str, list[float]] = {}
    errors: list[str] = []

    def committer(cid: int) -> None:
        t = DeltaTable(root, fs=fs)  # own handle, shared backend
        lat = latencies.setdefault(f"c{cid}", [])
        for seq in range(commits_each):
            t0 = time.time()
            try:
                t._commit(
                    None,  # blind append: the table has no configuration to arm
                    [
                        {"txn": {"appId": f"c{cid}", "version": seq}},
                        {"add": {"path": f"part-{cid}-{seq}.parquet",
                                 "partitionValues": {}, "size": 1,
                                 "modificationTime": 1, "dataChange": True}},
                    ],
                    operation=f"WRITE-{cid}",
                    # DEFAULT budget (VERDICT r10 #8): the retry rule is
                    # progress-based, so no width-scaled override needed
                )
            except Exception as exc:  # noqa: BLE001
                errors.append(f"c{cid}#{seq}: {exc}")
                return
            lat.append(time.time() - t0)

    threads = [threading.Thread(target=committer, args=(i,)) for i in range(n_committers)]
    t0 = time.time()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    wall = time.time() - t0
    assert not errors, errors
    t = DeltaTable(root, fs=fs)
    latest = t.latest_version()
    assert latest == n_committers * commits_each, latest  # no lost commit
    # every (committer, seq) marker exactly once, at its final value
    for cid in range(n_committers):
        assert t.last_txn_version(f"c{cid}") == commits_each - 1, cid
    all_lat = sorted(x for v in latencies.values() for x in v)
    per_commit_attempts = sum(attempts.values()) / (n_committers * commits_each)
    print(
        f"{'occ':10s} committers={n_committers} commits={n_committers * commits_each} "
        f"wall={wall:6.2f}s attempts/commit={per_commit_attempts:5.2f} "
        f"lat p50={statistics.median(all_lat) * 1e3:6.1f}ms "
        f"p99={all_lat[int(len(all_lat) * 0.99)] * 1e3:6.1f}ms "
        f"max={all_lat[-1] * 1e3:6.1f}ms lost=0"
    )


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "occ":
        occ_axis(
            int(sys.argv[2]) if len(sys.argv) > 2 else 16,
            int(sys.argv[3]) if len(sys.argv) > 3 else 8,
        )
        return
    if len(sys.argv) > 1 and sys.argv[1] == "liquid":
        liquid_axis(
            [int(x) for x in sys.argv[2:]] if len(sys.argv) > 2 else [1, 10]
        )
        return
    if len(sys.argv) > 1 and sys.argv[1] == "fuzzy":
        fuzzy_axis(
            [int(x) for x in sys.argv[2:]] if len(sys.argv) > 2 else [1, 10, 20]
        )
        return
    if len(sys.argv) > 1 and sys.argv[1] == "metadata":
        for n in (
            [int(x) for x in sys.argv[2:]] if len(sys.argv) > 2 else [10_000, 100_000, 1_000_000]
        ):
            metadata_axis(n)
        return
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    sf = "/root/testdata/sf0.1"
    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    l1 = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders")

    def q1(l):
        disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        return (
            l.where(F.col("l_shipdate") <= "2000-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("sq"),
                F.sum(disc_price.cast("decimal(24,6)")).alias("sd"),
                F.count("*").alias("c"),
            )
        )

    def join_agg(l):
        return (
            l.join(o, l.l_orderkey % 10_000_000 == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("cnt"))
        )

    def topk(l):
        return l.orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber").limit(100)

    shapes = {"q1_agg": q1, "join_agg": join_agg, "topk": topk}
    for name, fn in shapes.items():
        for label, df, rows in (("1x", l1, 600_000), (f"{k}x", blow_up(l1, k), 600_000 * k)):
            fn(df).write.mode("overwrite").format("noop").save()  # warm
            t0 = time.time()
            fn(df).write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            print(f"{name:10s} {label:4s} rows={rows:>9,d} wall={dt:6.2f}s ns/row={dt/rows*1e9:7.1f}")

    # Round-4 scale shapes: MinHash+LSH candidate generation over a
    # corpus blow-up (doc ids + texts perturbed so dup DENSITY stays
    # constant — a pure duplicate would measure the degenerate-bucket
    # path, not growth), and the sign-LSH bucketed cosine join over an
    # embeddings blow-up (perturbed first dim keeps buckets spread).
    from pulsar_io_delta_spark.operators import dedup as dd
    from pulsar_io_delta_spark.operators import similarity as sim

    docs = table(spark, sf, "documents").select("doc_id", "text")
    kd = max(2, k // 2)

    def blow_docs(df, n):
        reps = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("_rep")
        return (
            df.select("*", reps)
            .select(
                (F.col("doc_id") + F.col("_rep") * 100_000_000).alias("doc_id"),
                F.concat(F.lit("v"), F.col("_rep").cast("string"), F.lit(" "), F.col("text")).alias("text"),
            )
        )

    def lsh_cands(df):
        return dd.lsh_candidate_pairs(dd.minhash_signature(df, "doc_id", "text"), "doc_id")

    emb = table(spark, sf, "embeddings")

    def blow_emb(df, n):
        reps = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("_rep")
        return (
            df.select("*", reps)
            .select(
                (F.col("vec_id") + F.col("_rep") * 100_000_000).alias("vec_id"),
                F.expr(
                    "transform(embedding, (x, i) -> CASE WHEN i = 0 "
                    "THEN x + cast(_rep as float) * 0.37 ELSE x END)"
                ).alias("embedding"),
            )
        )

    def emb_bucket_join(df, n_planes=8):
        # Bucket count MUST scale with corpus size: sign-LSH bucket
        # occupancy is n/2^planes, and the in-bucket self-join is
        # quadratic in occupancy — with planes FIXED, a 10× corpus costs
        # 100× (measured: 0.6 s → 47 s). The deployment rule is
        # planes ≈ log2(n / target_bucket_size); the smoke applies it
        # (8 planes at 1×, 8 + log2(k) at k×) and the per-row cost is
        # flat again. Same knob as LSH bands / fuzzy blocks: candidate
        # generators are only linear if block size is held constant.
        planes = sim.hyperplanes(64, n_planes)
        e = sim.with_norm2(df).withColumn("bucket", sim.lsh_bucket_col("v", planes))
        a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("av"),
                     F.col("v_n2").alias("an2"), "bucket")
        b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("bv"),
                     F.col("v_n2").alias("bn2"), "bucket")
        j = a.join(b, ["bucket"]).where(F.col("id_a") < F.col("id_b"))
        cos = F.expr(sim.DOT.format(a="av", b="bv")) / F.sqrt(F.col("an2") * F.col("bn2"))
        return j.where(cos >= 0.25).select("id_a", "id_b")

    n_docs, n_emb = docs.count(), emb.count()
    import math

    extra_planes = max(1, round(math.log2(kd)))
    for name, fn, base, base_rows in (
        ("lsh_cands", lsh_cands, docs, n_docs),
        ("emb_bucket", emb_bucket_join, emb, n_emb),
    ):
        blow = blow_docs if name == "lsh_cands" else blow_emb
        for label, df, rows in (("1x", base, base_rows), (f"{kd}x", blow(base, kd), base_rows * kd)):
            kwargs = (
                {"n_planes": 8 + (extra_planes if label != "1x" else 0)}
                if name == "emb_bucket"
                else {}
            )
            fn(df, **kwargs).write.mode("overwrite").format("noop").save()  # warm
            t0 = time.time()
            fn(df, **kwargs).write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            print(f"{name:10s} {label:4s} rows={rows:>9,d} wall={dt:6.2f}s ns/row={dt/rows*1e9:7.1f}")

    # Round-5 shapes: sessionization/funnel over an events blow-up
    # (user ids perturbed so USER cardinality grows with data — keeping
    # per-user event counts constant measures growth, not a degenerate
    # single-partition window), and char-entropy over the docs blow-up.
    from pulsar_io_delta_spark.operators.sessionize import funnel_counts, session_stats
    from pulsar_io_delta_spark.operators.text import with_char_entropy

    ev = table(spark, sf, "events")

    def blow_events(df, n):
        reps = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("_rep")
        return (
            df.select("*", reps)
            .withColumn("user_id", F.col("user_id") + F.col("_rep") * 10_000_000)
            .withColumn("event_id", F.col("event_id") + F.col("_rep") * 100_000_000)
            .drop("_rep")
        )

    def sessions(df):
        return session_stats(df)

    def funnel(df):
        return funnel_counts(df, ["view", "click", "purchase"])

    def entropy(df):
        return with_char_entropy(df).select("doc_id", "entropy")

    n_ev = ev.count()
    for name, fn, base, base_rows, blow in (
        ("sessions", sessions, ev, n_ev, blow_events),
        ("funnel", funnel, ev, n_ev, blow_events),
        ("entropy", entropy, docs, n_docs, blow_docs),
    ):
        for label, df, rows in (("1x", base, base_rows), (f"{kd}x", blow(base, kd), base_rows * kd)):
            fn(df).write.mode("overwrite").format("noop").save()  # warm
            t0 = time.time()
            fn(df).write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            print(f"{name:10s} {label:4s} rows={rows:>9,d} wall={dt:6.2f}s ns/row={dt/rows*1e9:7.1f}")

    # Round-6 shape: TF-IDF over a STOPWORD-HEAVY docs blow-up — every
    # doc shares an injected stopword prefix, so one token's (doc,token)
    # rows ≈ the whole corpus. The r6 groupBy(token) document-frequency
    # rewrite partial-aggregates that skew map-side; the rejected
    # count-window form funneled it into a single reducer. clearCache
    # between warm and timed runs so the timed number includes the
    # persist()ed tf materialization, not a cache hit.
    from pulsar_io_delta_spark.queries.pipeline2 import tfidf_topterms

    def blow_docs_stop(df, n):
        return blow_docs(df, n).withColumn(
            "text", F.concat(F.lit("the of and to in a is it that for "), F.col("text"))
        )

    for label, df, rows in (
        ("1x", blow_docs_stop(docs, 1), n_docs),
        (f"{kd}x", blow_docs_stop(docs, kd), n_docs * kd),
    ):
        tfidf_topterms(df).write.mode("overwrite").format("noop").save()  # warm
        spark.catalog.clearCache()
        t0 = time.time()
        tfidf_topterms(df).write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        spark.catalog.clearCache()
        print(f"{'tfidf_stop':10s} {label:4s} rows={rows:>9,d} wall={dt:6.2f}s ns/row={dt/rows*1e9:7.1f}")


    # Late-round-6 shapes: CC dedup clustering over a replicated
    # block graph (component count grows with data, diameter constant —
    # so superstep COUNT must stay flat and total cost linear), blocked
    # fuzzy matching (block count grows, block size constant), and BM25
    # (one corpus-sized tf shuffle + broadcast stats).
    from pulsar_io_delta_spark.operators import graph
    from pulsar_io_delta_spark.queries.llm import q_fuzzy_pairs  # noqa: F401
    from pulsar_io_delta_spark.queries.pipeline2 import q_bm25_topdocs  # noqa: F401

    def cc_rows(name, make_graph):
        """Both multipliers fit under graph._LOCAL_ROWS and finish on the
        driver; the `_dist` rows force the bound to 0 so the distributed
        supersteps (the path a large graph takes) stay measured too."""
        for suffix, bound in (("", graph._LOCAL_ROWS), ("_dist", 0)):
            for label, nb in (("1x", 400), (f"{kd}x", 400 * kd)):
                rows = nb * 25
                nodes, edges = make_graph(nb)
                stats: dict = {}
                saved, graph._LOCAL_ROWS = graph._LOCAL_ROWS, bound
                try:
                    t0 = time.time()
                    graph.connected_components(nodes, edges, stats=stats).write.mode(
                        "overwrite"
                    ).format("noop").save()
                    dt = time.time() - t0
                finally:
                    graph._LOCAL_ROWS = saved
                print(
                    f"{name + suffix:12s} {label:4s} rows={rows:>9,d} wall={dt:6.2f}s "
                    f"ns/row={dt/rows*1e9:7.1f} rounds={stats['rounds']}"
                )

    def chain_graph(n_blocks):
        ids = spark.range(n_blocks * 25).select(F.col("id"))
        e = ids.where(F.col("id") % 25 != 0).select(
            F.col("id").alias("src"), (F.col("id") - 1).alias("dst")
        )
        return ids, e

    cc_rows("cc_cluster", chain_graph)

    # BM25 over the docs blow-up (round 8): ONE corpus-sized (doc,token)
    # shuffle + broadcast stats — the ns/row must stay flat since the
    # only growing exchange is the tf build.
    from pulsar_io_delta_spark.queries.pipeline2 import _bm25_shape

    for label, df, rows in (("1x", docs, n_docs), (f"{kd}x", blow_docs(docs, kd), n_docs * kd)):
        _bm25_shape(df).write.mode("overwrite").format("noop").save()  # warm
        spark.catalog.clearCache()
        t0 = time.time()
        _bm25_shape(df).write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        spark.catalog.clearCache()
        print(f"{'bm25':10s} {label:4s} rows={rows:>9,d} wall={dt:6.2f}s ns/row={dt/rows*1e9:7.1f}")

    def fuzzy(df):
        b = df.select(
            "doc_id",
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 3)).alias("blk"),
            F.substring("text", 1, 40).alias("probe"),
        )
        a, c = b.alias("a"), b.alias("c")
        return (
            a.join(c, (F.col("a.blk") == F.col("c.blk")) & (F.col("a.doc_id") < F.col("c.doc_id")))
            .where(F.levenshtein(F.col("a.probe"), F.col("c.probe")) <= 10)
            .select(F.col("a.doc_id").alias("id_a"), F.col("c.doc_id").alias("id_b"))
        )

    for name, fn in (("fuzzy_pairs", fuzzy),):
        for label, df, rows in (("1x", docs, n_docs), (f"{kd}x", blow_docs(docs, kd), n_docs * kd)):
            fn(df).write.mode("overwrite").format("noop").save()  # warm
            t0 = time.time()
            fn(df).write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            print(f"{name:10s} {label:4s} rows={rows:>9,d} wall={dt:6.2f}s ns/row={dt/rows*1e9:7.1f}")

    # PageRank: the block graph grows with data (component count up,
    # diameter flat) — per-row cost must fall as fixed per-iteration
    # costs amortize; a superlinear trend would mean the edge⋈rank
    # join shape degraded.
    from pulsar_io_delta_spark.operators.graph import pagerank_fixed

    def pr_graph(n_blocks):
        ids = spark.range(n_blocks * 25).select(F.col("id"))
        e0 = ids.where(F.col("id") % 25 != 0).select(
            F.col("id").alias("src"), (F.col("id") - 1).alias("dst")
        )
        return e0.unionAll(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    for label, nb in (("1x", 400), (f"{kd}x", 400 * kd)):
        rows = nb * 25
        t0 = time.time()
        pagerank_fixed(pr_graph(nb)).write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        print(f"{'pagerank':10s} {label:4s} rows={rows:>9,d} wall={dt:6.2f}s ns/row={dt/rows*1e9:7.1f}")

    # Round-8 shapes (VERDICT r6 #4 / r7 #4): POWER-LAW SKEW stress for
    # the graph family. The uniform block graphs above never test the
    # hub-node case; here ~10% of ALL edges touch node 0 (every 10th
    # node links to the hub), which (a) merges 10% of the blocks into
    # one giant component — the worst case for label propagation — and
    # (b) gives the dst-aggregations and the src-keyed joins one key
    # carrying 10% of the rows. Why this is expected to hold without
    # salting, and what the numbers must confirm:
    #   - both groupBys (neighbor-min, contribution-sum) are ALGEBRAIC
    #     aggregates → map-side partial combine reduces the hub key to
    #     one row per map partition before the shuffle;
    #   - the src-keyed joins funnel the hub's edge rows into one
    #     reducer under plain SMJ → AQE's OptimizeSkewedJoin (pinned on
    #     in session.py / tests/test_runtime_opts.py) splits that
    #     partition at runtime.
    # Flat-or-falling ns/row at kx ⇒ no salting needed; a blow-up here
    # is the trigger for a salted two-phase variant.
    def hub_graph(n_blocks):
        ids = spark.range(n_blocks * 25).select(F.col("id"))
        chain = ids.where(F.col("id") % 25 != 0).select(
            F.col("id").alias("src"), (F.col("id") - 1).alias("dst")
        )
        hub = ids.where((F.col("id") % 10 == 0) & (F.col("id") != 0)).select(
            F.col("id").alias("src"), F.lit(0).alias("dst")
        )
        return ids, chain.unionAll(hub)

    cc_rows("cc_skew", hub_graph)

    for label, nb in (("1x", 400), (f"{kd}x", 400 * kd)):
        rows = nb * 25
        _ids, e = hub_graph(nb)
        sym = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        t0 = time.time()
        pagerank_fixed(sym).write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        print(f"{'pr_skew':10s} {label:4s} rows={rows:>9,d} wall={dt:6.2f}s ns/row={dt/rows*1e9:7.1f}")

    # pipeline3 shapes: unigram-LM scoring (vocab groupBy + broadcast
    # join-back — the vocab blow-up keeps growing vocabulary with data,
    # the hard direction for the broadcast), and histogram-quantile
    # winsorize over the events blow-up (user perturbation leaves
    # event_type cardinality at 5 — the histogram table's size is
    # types × distinct cents regardless of row count; ns/row must FALL
    # as rows grow because the quantile stage is constant-cost).
    from pulsar_io_delta_spark.queries.pipeline3 import _winsorize_shape, _lm_shape

    for name, fn, base, base_rows, blow in (
        ("lm_score", _lm_shape, docs, n_docs, blow_docs),
        ("winsorize", _winsorize_shape, ev, n_ev, blow_events),
    ):
        for label, df, rows in (("1x", base, base_rows), (f"{kd}x", blow(base, kd), base_rows * kd)):
            fn(df).write.mode("overwrite").format("noop").save()  # warm
            t0 = time.time()
            fn(df).write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            print(f"{name:10s} {label:4s} rows={rows:>9,d} wall={dt:6.2f}s ns/row={dt/rows*1e9:7.1f}")

    # Round-8 shape: Change Data Feed read as COMMIT COUNT grows (the
    # scale axis that breaks naive per-commit union plans — a 10×
    # commit-count feed must plan the same handful of scans, so wall
    # time grows with data volume only, never with plan size).
    import tempfile

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    for label, n_commits in (("1x", 8), (f"{kd}x", 8 * kd)):
        root = tempfile.mkdtemp(prefix="smoke_cdf_") + "/tbl"
        tt = DeltaTable(root)
        base = spark.range(2000).select(
            F.col("id").alias("event_id"), (F.col("id") * 1.5).alias("value")
        )
        tt.write(base.coalesce(4),
                 configuration={"delta.enableChangeDataFeed": "true"})
        for i in range(n_commits):
            tt.delete_where_dv(spark, f"event_id % {n_commits * 3} = {i}")
        t0 = time.time()
        out = tt.table_changes(spark, start_version=1)
        out.write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        rows = out.count()
        print(f"{'cdf_read':10s} {label:4s} rows={rows:>9,d} wall={dt:6.2f}s ns/row={dt/rows*1e9:7.1f} commits={n_commits}")

    # Round-8 shape: substring-span dedup over the docs blow-up — the
    # explode amplifies ~20× per char, so this is the shape the fan-out
    # guard (operators/par.py) exists for; per-row cost must stay flat
    # once the explode is spread.
    from pulsar_io_delta_spark.operators.dedup import duplicated_spans

    for label, df, rows in (("1x", docs, n_docs), (f"{kd}x", blow_docs(docs, kd), n_docs * kd)):
        duplicated_spans(df, "doc_id", "text").write.mode("overwrite").format("noop").save()
        t0 = time.time()
        duplicated_spans(df, "doc_id", "text").write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        print(f"{'substr':10s} {label:4s} rows={rows:>9,d} wall={dt:6.2f}s ns/row={dt/rows*1e9:7.1f}")

    # Round-8 shape: row-tracked table lifecycle at k× — write (id
    # assignment is O(files) driver work from footer stats, rows never
    # counted), DV delete, then a read_with_row_ids (per-file bases
    # BROADCAST from the log, ids derived from parquet row_index with no
    # counting job). Per-row cost of the id-bearing read must stay flat.
    for label, mult in (("1x", 1), (f"{kd}x", kd)):
        root = tempfile.mkdtemp(prefix="smoke_rt_") + "/tbl"
        tt = DeltaTable(root)
        src = blow_events(ev, mult) if mult > 1 else ev
        src = src.select("event_id", "value")
        tt.write(src.repartition(8 * mult),
                 configuration={"delta.enableRowTracking": "true"})
        tt.delete_where_dv(spark, "value < 0.1")
        out = tt.read_with_row_ids(spark)
        out.write.mode("overwrite").format("noop").save()  # warm
        t0 = time.time()
        out.write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        rows = n_ev * mult
        print(f"{'rt_read':10s} {label:4s} rows={rows:>9,d} wall={dt:6.2f}s ns/row={dt/rows*1e9:7.1f}")

    spark.stop()


if __name__ == "__main__":
    main()
