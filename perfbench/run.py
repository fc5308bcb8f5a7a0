"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. One invocation is one fresh
process: it starts a Spark session on ``local[<cpus>]``, builds its
inputs from ``--seed``, measures the workload for ``--seconds``, checks
every output, and prints one JSON object as the last line of stdout.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (spans + the Spark event log); their names and units are the ones
``BENCHMARK.json`` lists. Scratch space lives under
``.perfbench/`` in the checkout and is removed at exit; traces are kept
in ``.perfbench/traces``.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

DRIVER_MEM = "2g"


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for every process this
    run started (the JVM's Python workers exit when it does)."""
    from perfbench.trace import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a hung JVM is killed, never left behind
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _manifest(root: str) -> dict[str, dict[str, str]]:
    """``{"end_to_end": {name: unit}, "per_layer": {name: unit}}`` from
    BENCHMARK.json, the one list of what a run reports."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        m = json.load(fh)
    return {k: {x["name"]: x["unit"] for x in m[k]} for k in ("end_to_end", "per_layer")}


def main(argv: list[str]) -> int:
    args = _parse(argv)
    # a terminated run still stops its JVM and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pulsar_io_delta_spark", "__init__.py")):
        print("perfbench: run from the root of a source checkout "
              "(pulsar_io_delta_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    manifest = _manifest(root)
    # the benchmark's own modules (numpy, pyarrow) load before setup is
    # timed: setup_s starts at the program's first import
    import perfbench.datagen  # noqa: F401

    t_setup = time.monotonic()
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = os.path.join(root, ".perfbench")
    run_dir = os.path.join(base, "runs", run_id)
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "jtmp", "events", "work")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = None

    from perfbench.trace import MemSampler, Tracer

    sampler = MemSampler() if args.trace else None
    if sampler:
        sampler.start()
    tracer = Tracer(enabled=bool(args.trace), run_id=run_id)
    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(dirs["work"], "warehouse"),
        # a heap fixed at its maximum keeps G1's adaptive sizing, and the
        # GC counts that follow from it, from varying run to run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={dirs['jtmp']}",
    }
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + dirs["events"],
                     "spark.eventLog.compress": "false"})
    spark = None
    try:
        with tracer.span("session.start"):
            from pulsar_io_delta_spark.session import get_spark

            spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus, extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Context(
            spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
            work_dir=dirs["work"], tmp_dir=dirs["tmp"], root=root,
            session_s=time.monotonic() - t_setup, t_process=T_PROCESS,
        )
        ctx.log("session ready")
        result = workloads.WORKLOADS[args.workload](ctx)
        _stop_spark(spark)
        spark = None
        ctx.log("session stopped")
        if args.trace:
            result.layer.update({"mem.peak_pss_mb": sampler.stop(),
                                 "mem.jvm_peak_mb": sampler.jvm_peak_mb,
                                 "mem.python_peak_mb": sampler.python_peak_mb})
            metrics = workloads.per_layer(result, tracer, dirs["events"],
                                          list(manifest["per_layer"]))
            trace_dir = os.path.join(base, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.write(os.path.join(trace_dir, f"{run_id}.json"))
        else:
            metrics = result.e2e
    finally:
        if spark is not None:
            _stop_spark(spark)
        if sampler and sampler.is_alive():
            sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    units = manifest["per_layer" if args.trace else "end_to_end"]
    if set(metrics) != set(units):
        raise RuntimeError(f"reported metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
    out = {
        "correct": result.failed == 0 and result.attempted > 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())},
    }
    if result.problems:
        print("perfbench: check failures: " + json.dumps(result.problems), file=sys.stderr)
    print(json.dumps(out), flush=True)
    print(f"perfbench: {time.monotonic() - T_PROCESS:7.1f}s done", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
