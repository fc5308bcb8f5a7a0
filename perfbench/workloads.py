"""The two workloads and the metrics they report.

Each workload measures the system from outside, timing calls into its
public functions; spans wrap the same calls when tracing is on.

- ``cdc``: the connector lifecycle on copies of one seeded 30k-row
  Delta table. FULL_COPY bootstraps go through ``DeltaCdcConnector`` →
  ``to_pulsar_wire`` → ``publish``, half before and half after the tail:
  a separate generator process commits 64-row appends open-loop while a
  ``pulsar_delta_cdc`` stream tails another copy into the broker through
  ``foreachBatch``.
- ``curation_mix``: registry queries in one session (an iterative
  connected-components loop and a SQL control), each run back to back
  into a noop sink after an unmeasured cold phase; outputs are
  collected untimed and checked against their DuckDB oracles.

Metric names and units live in ``BENCHMARK.json``; ``run.py`` checks
that a workload reports exactly the metrics listed there.
"""

from __future__ import annotations

import ast
import gc
import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyspark.sql.functions as F

from perfbench import datagen, stats
from perfbench.tail_writer import ID_BASE, ROWS
from perfbench.trace import fold_jobs, read_event_log
from pulsar_io_delta_spark.connector import ConnectorConfig, DeltaCdcConnector
from pulsar_io_delta_spark.functions.murmur3 import partition_id_for
from pulsar_io_delta_spark.operators.pipeline import to_pulsar_wire
from pulsar_io_delta_spark.registry import all_queries
from pulsar_io_delta_spark.sources.datasource import register_delta_cdc
from pulsar_io_delta_spark.sources.delta_log import DeltaTable
from pulsar_io_delta_spark.streaming.fake_pulsar import FakeBroker, publish
from pulsar_io_delta_spark.tables import table

N_PART = 8
TOPIC = "events-cdc"
SETUP_REPEATS = 3

BOOT_ROWS = 30_000

TAIL_RATE = 0.5  # commits per second, open loop
TAIL_WARM_COMMITS = 3
TAIL_WARM_GAP = 1.5  # seconds between warm-up commits
TAIL_DRAIN_TIMEOUT = 60.0
TAIL_LEAD = 2.0  # seconds for a generator process to start before its first due time

DEDUP, Q18 = "q_dedup_cc", "q_sql_tpch_q18"
CURATION_QUERIES = (DEDUP, Q18)
CURATION_DOCS = 5_000  # sf0.1
CURATION_ORDERS = 150_000  # sf0.1
# Q18's first run takes ~9 s, its second ~1.7 s. Fewer or more Q18 runs
# before the first dedup leave the cold phase at ~28 s: they warm code
# the dedup loop shares.
COLD_Q18 = 2
# the measured runs of a phase: the dedup run sits mid-phase, so Q18 is
# sampled on both sides of it on a host whose speed drifts
PHASE = (Q18, Q18, Q18, DEDUP, Q18, Q18, Q18)

SPARK_LAYERS = (
    "delta_log.seed_write",
    "connector.bootstrap_plan",
    "fake_pulsar.publish",
    "tail.egress",
    "queries.plan",
    "queries.exec",
)
PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
          "triggerExecution")

@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    seconds: float
    work_dir: str
    tmp_dir: str
    root: str
    session_s: float
    t_process: float

    def log(self, what: str) -> None:
        print(f"perfbench: {time.monotonic() - self.t_process:7.1f}s {what}", file=sys.stderr, flush=True)


@dataclass
class Result:
    e2e: dict
    attempted: int
    failed: int
    samples_ms: list
    query_runs: dict = field(default_factory=dict)  # measured runs per query
    layer: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _rng(ctx: Context, stream: int) -> np.random.Generator:
    return np.random.default_rng([ctx.seed, stream])


def _write_events_delta(ctx: Context, src: str, tag: str) -> tuple[float, str]:
    """The seeded events parquet at ``src`` → a partitioned Delta table
    (5 files); only ``DeltaTable.write`` is timed."""
    path = os.path.join(ctx.work_dir, f"tbl-{tag}")
    df = table(ctx.spark, src, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).repartition("event_type")
    t = time.monotonic()
    with ctx.tracer.span("delta_log.seed_write"):
        DeltaTable(path).write(df, partition_by=["event_type"])
    return time.monotonic() - t, path


class StampingBroker(FakeBroker):
    """FakeBroker whose appends are stamped with ``time.monotonic`` (the
    tail's delivery times)."""

    def __init__(self) -> None:
        super().__init__()
        self.appends: list = []

    def append(self, topic, partition, msg) -> None:
        super().append(topic, partition, msg)
        self.appends.append((time.monotonic(), msg))


def _egress_value():
    return F.to_json(F.struct("event_id", "event_type", "op", "_commit_version"))


def _all_messages(broker) -> list[tuple[int, object]]:
    """``(slot, msg)`` for every message, each slot's log in arrival order."""
    return [(p, m) for p in range(N_PART) for m in broker.partition_log(TOPIC, p)]


# ---------------------------------------------------------------- cdc


def _bootstrap_once(ctx: Context, path: str) -> tuple[float, object, dict]:
    lay = {}
    gc.collect()  # the previous delivery's garbage is not this one's cost
    if ctx.tracer.enabled:
        t = time.monotonic()
        with ctx.tracer.span("delta_log.snapshot"):
            DeltaTable(path).snapshot()
        lay["delta_log.snapshot_ms"] = (time.monotonic() - t) * 1000
    broker = FakeBroker()
    t0 = time.monotonic()
    with ctx.tracer.span("connector.bootstrap_plan"):
        conn = DeltaCdcConnector(ConnectorConfig.load({"tablePath": path, "includeHistoryData": True}))
        conn.open()
        df = conn.bootstrap(ctx.spark)
    t1 = time.monotonic()
    with ctx.tracer.span("wire.plan"):
        wire = to_pulsar_wire(df, "partition_value", _egress_value(), num_partitions=N_PART)
    t2 = time.monotonic()
    with ctx.tracer.span("fake_pulsar.publish"):
        producer = publish(wire, broker, TOPIC, N_PART)
    t3 = time.monotonic()
    lay.update({
        "connector.bootstrap_plan_ms": (t1 - t0) * 1000,
        "wire.plan_ms": (t2 - t1) * 1000,
        "fake_pulsar.publish_s": t3 - t2,
        "fake_pulsar.messages": broker.total_messages(TOPIC),
        "fake_pulsar.flushes": producer.flushes,
    })
    return t3 - t0, broker, lay


def _bootstraps(ctx: Context, path: str, seconds: float, runs: list, problems: list) -> None:
    """FULL_COPY bootstraps of ``path`` until ``seconds`` of them are
    measured, appended to ``runs``; each delivery is audited for
    exactly-once + routing, and a failed audit appended to ``problems``."""
    expected = set(range(BOOT_ROWS))
    spent = 0.0
    while spent < seconds:
        secs, broker, lay = _bootstrap_once(ctx, path)
        spent += secs
        runs.append((secs, broker.total_messages(TOPIC), lay))
        bad = stats.check_bootstrap(_all_messages(broker), expected, N_PART, partition_id_for)
        if any(bad.values()):
            problems.append({"bootstrap": len(runs) - 1, **bad})


def _tail(ctx: Context, path: str) -> dict:
    """Tail ``path`` with the pulsar_delta_cdc stream while the generator
    process commits open-loop; returns latencies, audit and layer figures."""
    first_version = DeltaTable(path).latest_version() + 1
    broker = StampingBroker()
    egress_calls: list = []

    def egress(batch_df, batch_id):
        t = time.monotonic()
        with ctx.tracer.span("tail.egress", batch=batch_id):
            wire = to_pulsar_wire(
                batch_df.orderBy("_commit_version", "event_id"), "partition_value",
                _egress_value(), num_partitions=N_PART,
            )
            publish(wire, broker, TOPIC, N_PART)
        egress_calls.append((batch_id, t, time.monotonic()))

    register_delta_cdc(ctx.spark)
    query = (
        ctx.spark.readStream.format("pulsar_delta_cdc")
        .option("tablePath", path)
        .option("startingVersion", first_version)
        .load()
        .writeStream.foreachBatch(egress)
        .option("checkpointLocation", os.path.join(ctx.work_dir, "ck"))
        .start()
    )

    def delivered_last() -> dict[int, float]:
        last: dict[int, float] = {}
        for t, msg in list(broker.appends):
            k = (json.loads(msg.value)["event_id"] - ID_BASE) // ROWS
            last[k] = max(t, last.get(k, 0.0))
        return last

    def generate(first_k: int, due: list[float], tag: str) -> list[dict]:
        """One generator process over ``due``; its stamps once it exits,
        and once the stream has delivered every commit it made."""
        sched = os.path.join(ctx.work_dir, f"{tag}-schedule.json")
        stamps = os.path.join(ctx.work_dir, f"{tag}-stamps.json")
        with open(sched, "w") as fh:
            json.dump(due, fh)
        gen = subprocess.Popen(
            [sys.executable, os.path.join(ctx.root, "perfbench", "tail_writer.py"),
             path, sched, stamps, str(ctx.seed), str(first_k)],
            cwd=ctx.root,
        )
        try:
            gen.wait(timeout=due[-1] - time.monotonic() + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        if gen.returncode != 0:
            raise RuntimeError(f"tail generator exited with {gen.returncode}")
        with open(stamps) as fh:
            made = json.load(fh)
        want = set(range(first_k + len(made)))
        deadline = time.monotonic() + TAIL_DRAIN_TIMEOUT
        while time.monotonic() < deadline:
            if want <= set(delivered_last()) and len(broker.appends) >= ROWS * len(want):
                break
            time.sleep(0.05)
        return made

    try:
        # The stream's first triggers are cold and fall behind; the
        # open-loop schedule starts only once the warm-up has drained.
        t0 = time.monotonic()
        warm = generate(0, [t0 + k * TAIL_WARM_GAP for k in range(TAIL_WARM_COMMITS)], "warm")
        # one more paced commit settles the trigger loop; it is discarded
        n_meas = max(1, int(round(ctx.seconds * TAIL_RATE)))
        t1 = time.monotonic() + TAIL_LEAD
        commits = warm + generate(
            len(warm), [t1 + k / TAIL_RATE for k in range(n_meas + 1)], "tail"
        )
    finally:
        query.stop()
    ctx.log("tail drained")
    progress = list(query.recentProgress)
    last = delivered_last()

    made = {c["version"]: (c["event_type"],
                           set(range(ID_BASE + c["k"] * ROWS, ID_BASE + (c["k"] + 1) * ROWS)))
            for c in commits}
    msgs = _all_messages(broker)
    bad = stats.check_tail(msgs, made, N_PART, partition_id_for)
    per_version: dict[int, int] = {}
    for _, m in msgs:
        v = json.loads(m.value)["_commit_version"]
        per_version[v] = per_version.get(v, 0) + 1
    measured = stats.after_warmup(commits, t1 + 1 / TAIL_RATE)
    # a fault the checker sees anywhere in the log fails every measured commit
    failed_k = sorted(c["k"] for c in measured if any(bad.values())
                      or c["k"] not in last or per_version.get(c["version"]) != ROWS)

    lat_ms = [(last[c["k"]] - c["due"]) * 1000 for c in measured if c["k"] in last]
    ctx.log("tail latencies ms (warm-up first): "
            + " ".join(str(round((last.get(c["k"], 0) - c["due"]) * 1000)) for c in commits))
    meas_calls = [c for c in egress_calls if c[1] >= measured[0]["due"]]
    meas_batches = {c[0] for c in meas_calls}
    prog = [p for p in progress if p["batchId"] in meas_batches and p["numInputRows"] > 0]

    def offset(o) -> dict:
        # progress reports carry a Python source's offsets as dict reprs
        if not o:
            return {"version": first_version}
        return ast.literal_eval(o) if isinstance(o, str) else o

    def versions(p) -> int:
        src = p["sources"][0]
        return int(offset(src["endOffset"])["version"]) - int(offset(src["startOffset"])["version"])

    layer = {
        "delta_log.commit_ms": _median((c["end"] - c["written"]) * 1000 for c in measured),
        "tail.file_write_ms": _median((c["written"] - c["start"]) * 1000 for c in measured),
        "tail.egress_ms": _median((c[2] - c[1]) * 1000 for c in meas_calls),
        "tail.generator_late_ms": max(stats.lateness_ms(measured)),
        "tail.backlog_versions_max": stats.max_backlog(
            [c[1] for c in meas_calls], [c["end"] for c in measured],
            [last.get(c["k"], float("inf")) for c in measured]),
        **{f"streaming.{ph}_ms": _median(p["durationMs"].get(ph, 0) for p in prog) for ph in PHASES},
        "streaming.triggers": len(prog),
        "streaming.versions_per_trigger": statistics.fmean(versions(p) for p in prog) if prog else 0,
        "streaming.input_rows": sum(p["numInputRows"] for p in prog),
    }
    if ctx.tracer.enabled:
        snaps = []
        for _ in range(SETUP_REPEATS):
            t = time.monotonic()
            with ctx.tracer.span("delta_log.snapshot"):
                DeltaTable(path).snapshot()
            snaps.append((time.monotonic() - t) * 1000)
        layer["delta_log.tail_snapshot_ms"] = _median(snaps)
    return {"latencies_ms": lat_ms, "measured": len(measured), "failed": len(failed_k),
            "problems": [{**bad, "failed_commits": failed_k}] if failed_k else [],
            "layer": layer}


def cdc(ctx: Context) -> Result:
    """The connector lifecycle on identical seeded tables: FULL_COPY
    bootstraps of one, half of them before and half after the incremental
    tail of another (host speed drifts; spreading the samples over the run
    steadies their median)."""
    src = datagen.write_tables(
        os.path.join(ctx.work_dir, "src"), {"events": datagen.events_table(_rng(ctx, 1), BOOT_ROWS)}
    )
    seed_times, paths = zip(*(_write_events_delta(ctx, src, f"boot{i}") for i in range(SETUP_REPEATS)))
    ctx.log("seed tables written")
    with ctx.tracer.paused():
        _bootstrap_once(ctx, paths[-2])
    runs, problems = [], []
    _bootstraps(ctx, paths[-2], ctx.seconds / 2, runs, problems)
    tail = _tail(ctx, paths[-1])
    ctx.log(f"tail done ({tail['measured']} measured commits)")
    _bootstraps(ctx, paths[-2], ctx.seconds / 2, runs, problems)
    ctx.log("bootstraps done: " + " ".join(f"{r[0]:.2f}s" for r in runs))

    layer = {k: _median(lay[k] for _, _, lay in runs) for k in runs[0][2]}
    layer.update(tail["layer"])
    layer.update({"session.start_s": ctx.session_s, "delta_log.seed_write_s": _median(seed_times)})
    return Result(
        e2e={"setup_s": ctx.session_s + _median(seed_times),
             "latency_p50_ms": _median(tail["latencies_ms"]),
             "throughput_rows_per_s": _median(n / s for s, n, _ in runs)},
        attempted=len(runs) + tail["measured"], failed=len(problems) + tail["failed"],
        samples_ms=tail["latencies_ms"], layer=layer,
        problems=problems + tail["problems"],
    )


# ---------------------------------------------------------------- curation_mix


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total / 2**20


def _run_query(ctx: Context, specs: dict, data: str, q: str, group: str,
               collect: bool = False) -> tuple[object, float, float]:
    """One run of ``q``: ``(output, plan_s, exec_s)``. The output goes to a
    noop sink, or, with ``collect``, to pandas for the oracle check (a
    collected run is never a measured one). The JVM collects garbage
    first, untimed, so a run pays for its own garbage and not for the
    previous query's."""
    gc.collect()
    ctx.spark._jvm.java.lang.System.gc()
    ctx.spark.sparkContext.setJobGroup("check" if collect else group, q)
    t0 = time.monotonic()
    with ctx.tracer.span("queries.plan", query=q):
        df = specs[q].fn(ctx.spark, data)
    t1 = time.monotonic()
    with ctx.tracer.span("queries.exec", query=q):
        out = df.toPandas() if collect else df.write.format("noop").mode("overwrite").save()
    return out, t1 - t0, time.monotonic() - t1


def _oracle_problems(specs: dict, data: str, outputs: list[tuple]) -> list[dict]:
    """Every collected ``(query, output)`` against its registered DuckDB
    oracle, compared the way ``tools/verify_local.py`` compares them."""
    import duckdb

    from tools.verify_local import canon_df

    con = duckdb.connect()
    for t in ("documents", "customer", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracle = {q: canon_df(con.sql(specs[q].oracle).df()) for q in CURATION_QUERIES}
    con.close()
    return [
        {"output": i, "query": q, "rows": len(pdf), "oracle_rows": len(oracle[q])}
        for i, (q, pdf) in enumerate(outputs) if not canon_df(pdf).equals(oracle[q])
    ]


def curation_mix(ctx: Context) -> Result:
    """A cold phase, unmeasured: Q18 until it is near its warm time, then
    the first ``q_dedup_cc``; the last run of each is collected and
    checked. Then measured phases until ``seconds`` are measured: one Q18
    run that is collected and checked, unmeasured, then the PHASE runs.
    ``latency_p50_ms``
    is the median time of a Q18 run; ``throughput_rows_per_s`` the
    documents per second through ``q_dedup_cc`` at its median time."""
    rng = _rng(ctx, 2)
    data = datagen.write_tables(
        os.path.join(ctx.work_dir, "data"),
        {"documents": datagen.documents_table(rng, CURATION_DOCS),
         **datagen.tpch_tables(rng, CURATION_ORDERS)},
    )
    specs = all_queries()
    ctx.log("inputs written")
    tmp_before = _dir_mb(ctx.tmp_dir)
    outputs = []
    with ctx.tracer.paused():
        for q, n in ((Q18, COLD_Q18), (DEDUP, 1)):
            for i in range(n):
                out, _, _ = _run_query(ctx, specs, data, q, "warm-up", collect=i == n - 1)
            outputs.append((q, out))
    ctx.log("cold phase done")
    runs: dict[str, list] = {DEDUP: [], Q18: []}
    while not runs[Q18] or sum(a + b for rs in runs.values() for a, b in rs) < ctx.seconds:
        # Q18's first run after the dedup loop is 20-40% slower than the
        # next ones: it is the one checked, unmeasured
        with ctx.tracer.paused():
            outputs.append((Q18, _run_query(ctx, specs, data, Q18, Q18, collect=True)[0]))
        for q in PHASE:
            runs[q].append(_run_query(ctx, specs, data, q, q)[1:])
    settle_runs = len(outputs) - 2  # one collected Q18 run per phase
    n_runs = COLD_Q18 + 1 + settle_runs + sum(len(rs) for rs in runs.values())
    leaked = (_dir_mb(ctx.tmp_dir) - tmp_before) / n_runs
    ctx.log("measured: " + " ".join(
        f"{q}=" + "/".join(f"{a + b:.2f}" for a, b in rs) for q, rs in runs.items()))

    problems = _oracle_problems(specs, data, outputs)
    q18_ms = [(a + b) * 1000 for a, b in runs[Q18]]
    layer = {
        "session.start_s": ctx.session_s,
        "queries.leaked_tmp_mb": leaked,
        **{f"queries.{q}.plan_s": _median(a for a, _ in rs) for q, rs in runs.items()},
        **{f"queries.{q}.exec_s": _median(b for _, b in rs) for q, rs in runs.items()},
    }
    return Result(
        e2e={"setup_s": ctx.session_s, "latency_p50_ms": _median(q18_ms),
             "throughput_rows_per_s": CURATION_DOCS / _median(a + b for a, b in runs[DEDUP])},
        attempted=len(outputs), failed=len(problems), samples_ms=q18_ms,
        query_runs={q: len(rs) for q, rs in runs.items()}, layer=layer, problems=problems,
    )


WORKLOADS = {"cdc": cdc, "curation_mix": curation_mix}


def per_layer(result: Result, tracer, events_dir: str, names: list[str]) -> dict:
    """Every per-layer metric in ``names``; a layer the workload does not
    exercise reads 0."""
    out = dict.fromkeys(names, 0.0)
    out.update(result.layer)
    jobs = read_event_log(events_dir)
    spans = tracer.closed()
    folded = fold_jobs([s for s in spans if s["name"] in SPARK_LAYERS], jobs)
    for layer, vals in folded.items():
        for f, v in vals.items():
            out[f"spark.{layer}.{f}"] = v
    for q, n in result.query_runs.items():
        out[f"queries.{q}.jobs"] = sum(1 for j in jobs if j["group"] == q) / n
    pct, hi, n = stats.tail_percentile(result.samples_ms)
    out.update({"e2e.samples": n, "e2e.hi_pct": pct, "e2e.hi_ms": hi})
    out.update({f"traced.{k}": v for k, v in result.e2e.items()})
    return out
