"""Benchmark accounting: percentile rule, warm-up discard, generator
lateness, backlog and the exactly-once checkers.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import json
from dataclasses import dataclass

import pytest

from perfbench.stats import (
    after_warmup,
    check_bootstrap,
    check_tail,
    lateness_ms,
    max_backlog,
    tail_percentile,
)


@dataclass
class Msg:
    key: str
    value: bytes


KINDS = ["click", "view", "error"]


def route(key: str, n: int) -> int:
    return sum(key.encode()) % n


def msg(eid: int, kind: str, version: int = 0, key: str | None = None,
        slot: int | None = None) -> tuple[int, Msg]:
    """``(slot, msg)`` as the broker holds it: routed correctly unless
    ``key`` or ``slot`` overrides it."""
    value = json.dumps({"event_id": eid, "event_type": kind, "_commit_version": version}).encode()
    key = f"event_type={kind}" if key is None else key
    return (route(key, 4) if slot is None else slot), Msg(key, value)


@pytest.mark.parametrize(
    "n,pct",
    [(1, 50.0), (19, 50.0), (20, 50.0), (40, 75.0), (100, 90.0), (199, 90.0),
     (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    got_pct, value, count = tail_percentile(range(n))
    assert (got_pct, count) == (pct, n)
    if n >= 20:
        assert sum(1 for x in range(n) if x > value) >= 10


def test_tail_percentile_nearest_rank_value():
    assert tail_percentile(range(1, 101)) == (90.0, 90, 100)
    assert tail_percentile([5.0, 1.0, 3.0]) == (50.0, 3.0, 3)
    with pytest.raises(ValueError):
        tail_percentile([])


def test_warmup_discard_is_by_due_time():
    stamps = [{"k": k, "due": 10.0 + k} for k in range(6)]
    kept = after_warmup(stamps, warm_until=13.0)
    assert [s["k"] for s in kept] == [3, 4, 5]
    assert after_warmup(stamps, warm_until=0.0) == stamps
    assert after_warmup(stamps, warm_until=99.0) == []


def test_generator_lateness_counts_late_starts_only():
    stamps = [
        {"due": 1.0, "start": 1.0},
        {"due": 2.0, "start": 2.25},
        {"due": 3.0, "start": 2.999},  # clock jitter: never negative
    ]
    assert lateness_ms(stamps) == pytest.approx([0.0, 250.0, 0.0])


def test_max_backlog_counts_committed_undelivered():
    committed = [1.0, 2.0, 3.0, 4.0]
    delivered = [1.5, 3.5, 3.6, 4.5]
    assert max_backlog([1.2], committed, delivered) == 1
    assert max_backlog([3.2], committed, delivered) == 2
    assert max_backlog([0.5, 3.2, 5.0], committed, delivered) == 2
    assert max_backlog([], committed, delivered) == 0


def good_bootstrap():
    return [msg(i, KINDS[i % 3]) for i in range(30)]


def test_bootstrap_checker_clean():
    assert check_bootstrap(good_bootstrap(), set(range(30)), 4, route) == {
        "dropped": 0, "duplicated": 0, "misrouted": 0}


def test_bootstrap_checker_flags_drop_duplicate_and_misroute():
    msgs = good_bootstrap()
    dropped = msgs[:7] + msgs[8:]
    assert check_bootstrap(dropped, set(range(30)), 4, route)["dropped"] == 1
    duplicated = msgs + [msgs[3]]
    assert check_bootstrap(duplicated, set(range(30)), 4, route)["duplicated"] == 1
    slot, m = msgs[5]
    wrong_slot = msgs[:5] + [((slot + 1) % 4, m)] + msgs[6:]
    assert check_bootstrap(wrong_slot, set(range(30)), 4, route)["misrouted"] == 1
    stray = msgs + [msg(999, KINDS[0])]
    assert check_bootstrap(stray, set(range(30)), 4, route)["duplicated"] == 1


def test_bootstrap_checker_flags_a_wrong_key_even_in_its_own_slot():
    # the key is not the row's partition value, though the message sits
    # where that (wrong) key routes: a bad partition_value upstream
    msgs = good_bootstrap()
    wrong_key = msgs[:4] + [msg(4, KINDS[4 % 3], key="event_type=nope")] + msgs[5:]
    assert check_bootstrap(wrong_key, set(range(30)), 4, route)["misrouted"] == 1


def tail_fixture():
    commits = {v: (KINDS[v % 3], set(range(4 * (v - 5), 4 * (v - 4)))) for v in (5, 6, 7)}
    msgs = [msg(i, kind, v) for v, (kind, ids) in sorted(commits.items()) for i in sorted(ids)]
    return commits, msgs


def test_tail_checker_clean():
    commits, msgs = tail_fixture()
    assert set(check_tail(msgs, commits, 4, route).values()) == {0}


def test_tail_checker_flags_injected_faults():
    commits, msgs = tail_fixture()
    assert check_tail(msgs[1:], commits, 4, route)["dropped"] == 1
    assert check_tail(msgs + [msgs[-1]], commits, 4, route)["duplicated"] == 1
    slot, m = msgs[2]
    bad = msgs[:2] + [((slot + 1) % 4, m)] + msgs[3:]
    assert check_tail(bad, commits, 4, route)["misrouted"] == 1
    relabel = msgs[:-1] + [msg(11, KINDS[7 % 3], 6)]
    assert check_tail(relabel, commits, 4, route)["wrong_version"] == 1


def test_tail_checker_flags_a_row_under_the_wrong_partition():
    # consistent key and slot, but not the event_type the commit wrote
    commits, msgs = tail_fixture()
    moved = msgs[:-1] + [msg(11, "signup", 7)]
    assert check_tail(moved, commits, 4, route)["misrouted"] == 1
    wrong_key = msgs[:-1] + [msg(11, commits[7][0], 7, key="event_type=nope")]
    assert check_tail(wrong_key, commits, 4, route)["misrouted"] == 1


def test_tail_checker_flags_version_going_back_in_a_partition():
    commits = {1: ("click", {0}), 2: ("click", {1})}
    late = [msg(1, "click", 2), msg(0, "click", 1)]
    assert check_tail(late, commits, 4, route)["reordered"] == 1
    # the same order across different partitions is not a reordering
    one = {1: ("click", {0}), 2: ("view", {1})}
    split = [msg(1, "view", 2), msg(0, "click", 1)]
    assert route("event_type=view", 4) != route("event_type=click", 4)
    assert check_tail(split, one, 4, route)["reordered"] == 0
