"""Tracing overhead: the traced end-to-end metrics minus the untraced ones.

    python3 perfbench/overhead.py --workload cdc --seed 3 --seconds 8

Runs ``perfbench/run.py`` twice on the same inputs, once with
``--trace 0`` and once with ``--trace 1`` (spans + Spark event log), and
prints one JSON object: for each end-to-end metric the untraced value,
the traced value and their difference.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys


def _run(args: argparse.Namespace, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args(argv)
    plain, traced = _run(args, 0), _run(args, 1)
    report = {}
    for name, m in plain.items():
        t = traced[f"traced.{name}"]["value"]
        report[name] = {"unit": m["unit"], "untraced": m["value"], "traced": t,
                        "overhead": t - m["value"]}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "overhead": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
