"""bench.py compares a run's per-query timings against the newest
committed freeze measured the same way."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def test_previous_freeze_matches_suffixed_names_and_protocol(tmp_path):
    freezes = {
        "BENCH_local_r16.json": {"sf": 0.1},  # predates the protocol stamp
        "BENCH_local_r16_a.json": {"protocol": "scrub-v1", "sf": 0.1},
        "BENCH_local_r17_scrub_on.json": {"protocol": "scrub-v1", "sf": 0.1},
        "BENCH_local_r17_scrub_off.json": {"protocol": "warm-v0", "sf": 0.1},
        "BENCH_local_r18_sf1.json": {"protocol": "scrub-v1", "sf": 1.0},
        "BENCH_r19.json": {"protocol": "scrub-v1", "sf": 0.1},  # not a local freeze
    }
    for name, payload in freezes.items():
        (tmp_path / name).write_text(json.dumps({**payload, "queries": {"q": name}}))

    def pick(protocol, sf):
        prev = bench.previous_freeze(str(tmp_path), protocol, sf)
        return None if prev is None else prev["queries"]["q"]

    assert pick("scrub-v1", 0.1) == "BENCH_local_r17_scrub_on.json"
    assert pick("warm-v0", 0.1) == "BENCH_local_r17_scrub_off.json"
    assert pick("scrub-v1", 1.0) == "BENCH_local_r18_sf1.json"
    assert pick("warm-v1", 0.1) is None
