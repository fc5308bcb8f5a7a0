"""Pure accounting used by the workloads: percentiles, warm-up discard,
generator lateness, backlog and exactly-once delivery checks.

Nothing here touches Spark, so ``perfbench/tests`` pins it directly.
"""

from __future__ import annotations

import json
import math
import statistics
from collections import Counter
from collections.abc import Callable, Iterable

# Candidate percentiles, highest first; the reported tail is the highest
# one that still has at least MIN_BEYOND samples above it.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def _rank(pct: float, n: int) -> int:
    """1-based nearest rank; the epsilon keeps 99.9% of 10000 at 9990."""
    return max(1, math.ceil(pct * n / 100.0 - 1e-9))


def tail_percentile(values: Iterable[float]) -> tuple[float, float, int]:
    """``(pct, value, n)``: the highest of PERCENTILES with at least
    MIN_BEYOND samples strictly beyond its rank. Too few samples for any
    of them falls back to the median, reported as pct 50."""
    xs = sorted(values)
    n = len(xs)
    if not n:
        raise ValueError("no samples")
    for pct in PERCENTILES:
        rank = _rank(pct, n)
        if n - rank >= MIN_BEYOND:
            return pct, xs[rank - 1], n
    return 50.0, statistics.median(xs), n


def after_warmup(samples: Iterable[dict], warm_until: float, key: str = "due") -> list[dict]:
    """Drop samples whose ``key`` time falls before ``warm_until``."""
    return [s for s in samples if s[key] >= warm_until]


def lateness_ms(stamps: Iterable[dict]) -> list[float]:
    """How late the open-loop generator started each commit, in ms
    (0 when it started on time; it never starts early)."""
    return [max(0.0, s["start"] - s["due"]) * 1000.0 for s in stamps]


def max_backlog(trigger_starts: Iterable[float], committed: list[float], delivered: list[float]) -> int:
    """Largest number of commits visible in the log but not yet fully
    delivered at any trigger start. ``committed[k]``/``delivered[k]`` are
    commit k's commit-end and last-append times."""
    best = 0
    for t in trigger_starts:
        best = max(best, sum(1 for c, d in zip(committed, delivered) if c <= t < d))
    return best


def _decode(msg) -> dict:
    return json.loads(bytes(msg.value).decode())


def expected_key(rec: dict) -> str:
    """The routing key a record must carry: the table's canonical
    partition value, rebuilt from the record's own ``event_type``."""
    return f"event_type={rec['event_type']}"


def _memo(route: Callable[[str, int], int]) -> Callable[[str, int], int]:
    """Routing is a pure function of (key, n); keys repeat per partition."""
    cache: dict = {}

    def routed(key: str, n: int) -> int:
        if (key, n) not in cache:
            cache[key, n] = route(key, n)
        return cache[key, n]

    return routed


def check_bootstrap(
    slotted: Iterable[tuple[int, object]],
    expected_ids: set[int],
    num_partitions: int,
    route: Callable[[str, int], int],
) -> dict[str, int]:
    """Exactly-once + routing audit of a FULL_COPY delivery.

    ``slotted`` holds ``(slot, msg)`` for every message in the broker:
    the partition log it sits in, and the message (``key``, ``value``
    JSON with ``event_id`` and ``event_type``). A message is misrouted
    when its key is not the one its row's ``event_type`` gives, or when
    it sits in a slot other than ``route`` of that key."""
    seen: Counter = Counter()
    misrouted = 0
    route = _memo(route)
    for slot, msg in slotted:
        rec = _decode(msg)
        seen[rec["event_id"]] += 1
        key = expected_key(rec)
        if msg.key != key or route(key, num_partitions) != slot:
            misrouted += 1
    return {
        "dropped": len(expected_ids - set(seen)),
        "duplicated": sum(c - 1 for c in seen.values()) + len(set(seen) - expected_ids),
        "misrouted": misrouted,
    }


def check_tail(
    slotted: Iterable[tuple[int, object]],
    commits: dict[int, tuple[str, set[int]]],
    num_partitions: int,
    route: Callable[[str, int], int],
) -> dict[str, int]:
    """Exactly-once audit of the incremental tail.

    ``commits`` maps each committed version to the ``event_type`` its
    file was written under and the event ids it added. ``slotted`` is as
    for ``check_bootstrap``, each partition's messages in arrival order.
    Counts ids dropped or delivered twice, messages carrying the wrong
    version, misrouted messages (wrong ``event_type``, key or slot), and
    places where ``_commit_version`` decreases along one broker
    partition's log."""
    seen: Counter = Counter()
    wrong_version = misrouted = reordered = 0
    last: dict[int, int] = {}
    owner = {i: v for v, (_, ids) in commits.items() for i in ids}
    route = _memo(route)
    for slot, msg in slotted:
        rec = _decode(msg)
        eid, ver = rec["event_id"], rec["_commit_version"]
        seen[eid] += 1
        if owner.get(eid) != ver:
            wrong_version += 1
        key = expected_key(rec)
        kind = commits[owner[eid]][0] if eid in owner else None
        if rec["event_type"] != kind or msg.key != key or route(key, num_partitions) != slot:
            misrouted += 1
        if ver < last.get(slot, -1):
            reordered += 1
        last[slot] = max(ver, last.get(slot, -1))
    return {
        "dropped": len(set(owner) - set(seen)),
        "duplicated": sum(c - 1 for c in seen.values()) + len(set(seen) - set(owner)),
        "wrong_version": wrong_version,
        "misrouted": misrouted,
        "reordered": reordered,
    }
