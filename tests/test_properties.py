"""Property-based tests (hypothesis) for the pure-Python kernels."""

from hypothesis import given, settings
from hypothesis import strategies as st

from pulsar_io_delta_spark.connector import (
    FULL_COPY,
    INCREMENTAL_COPY,
    Checkpoint,
)
from pulsar_io_delta_spark.functions.murmur3 import murmur3_32, partition_id_for
from pulsar_io_delta_spark.operators.text import FP_MOD, fingerprint_py


@given(st.binary(max_size=256))
def test_murmur3_range_and_determinism(data):
    h = murmur3_32(data)
    assert 0 <= h <= 0xFFFFFFFF
    assert h == murmur3_32(data)


@given(st.text(max_size=64), st.integers(min_value=1, max_value=1024))
def test_partition_id_in_range(value, n):
    assert 0 <= partition_id_for(value, n) < n


@given(st.binary(min_size=1, max_size=64), st.binary(min_size=1, max_size=64))
def test_murmur3_tail_sensitivity(a, b):
    # differing inputs should (essentially always) differ; equal must match
    if a == b:
        assert murmur3_32(a) == murmur3_32(b)


checkpoints = st.builds(
    Checkpoint,
    state=st.sampled_from([FULL_COPY, INCREMENTAL_COPY]),
    snapshot_version=st.integers(min_value=0, max_value=10),
    file_index=st.integers(min_value=0, max_value=10),
    row_num=st.integers(min_value=0, max_value=10),
)


@given(checkpoints, checkpoints, checkpoints)
@settings(max_examples=200)
def test_checkpoint_total_order_properties(a, b, c):
    # totality
    assert (a < b) or (b < a) or (a == b)
    # antisymmetry
    assert not ((a < b) and (b < a))
    # transitivity
    if a < b and b < c:
        assert a < c
    # bootstrap-before-incremental invariant
    if a.state == FULL_COPY and b.state == INCREMENTAL_COPY:
        assert a < b


@given(st.text(max_size=512))
def test_fingerprint_stable_and_bounded(text):
    fp = fingerprint_py(text)
    assert 0 <= fp < FP_MOD
    assert fp == fingerprint_py(text)


@given(st.integers(min_value=0, max_value=3_000_000_000))
def test_hash_sample_nested_fractions(k):
    """sample(f1) ⊆ sample(f2) for f1 ≤ f2 — the bucket is fixed per id,
    only the threshold moves (stable incremental sampling)."""
    from pulsar_io_delta_spark.operators.pipeline import KNUTH32, M32

    bucket = (k * KNUTH32) % M32
    assert 0 <= bucket < M32
    in_10 = bucket < int(M32 * 0.10)
    in_25 = bucket < int(M32 * 0.25)
    assert not in_10 or in_25


@given(st.text(max_size=200))
@settings(max_examples=60, deadline=None)
def test_redact_idempotent(text):
    """redact(redact(x)) == redact(x): placeholders contain no digits or
    '@', so a second pass never rewrites."""
    import re

    from pulsar_io_delta_spark.operators.pipeline import EMAIL_RE, PHONE_RE

    def redact(s: str) -> str:
        return re.sub(PHONE_RE, "<PHONE>", re.sub(EMAIL_RE, "<EMAIL>", s))

    once = redact(text)
    assert redact(once) == once


@given(st.lists(st.text(max_size=80), min_size=0, max_size=40))
@settings(max_examples=200, deadline=None)
def test_murmur3_batch_matches_scalar(values):
    """The numpy column kernel is byte-exact with the scalar reference
    for arbitrary unicode batches (all tail lengths, empty strings,
    mixed lengths in one padded matrix)."""
    import numpy as np

    from pulsar_io_delta_spark.functions.murmur3 import murmur3_32_batch

    got = murmur3_32_batch(values)
    expect = np.array(
        [murmur3_32(v.encode("utf-8")) for v in values], dtype=np.uint64
    )
    assert (got.astype(np.uint64) == expect).all()


@given(st.text(max_size=64))
@settings(max_examples=200, deadline=None)
def test_duckdb_murmur3_matches_scalar_ascii(value):
    """The DuckDB oracle murmur3 expression matches the scalar kernel
    for any ASCII routing key (partition values are ASCII)."""
    import duckdb

    from pulsar_io_delta_spark.functions.murmur3 import murmur3_duckdb_ctes

    if not value.isascii():
        return
    sql = f"""
WITH e AS (SELECT ?::VARCHAR AS pv),
{murmur3_duckdb_ctes("e", 1024)}
SELECT partition_id FROM mm3_slot
"""
    got = duckdb.connect().execute(sql, [value]).fetchone()[0]
    assert got == partition_id_for(value, 1024)


def test_run_length_counts_match_counter_property(spark):
    """Run-length kernel vs collections.Counter on a batch of random
    arrays (incl. empty, singleton, all-equal, unicode): the counts
    multiset must equal the element-frequency multiset, and the sum of
    counts the array length. One Spark job for the whole batch."""
    import random
    from collections import Counter

    import pyspark.sql.functions as F

    from pulsar_io_delta_spark.operators.text import with_run_length_counts

    rng = random.Random(13)
    alphabet = ["a", "b", "ab", "", "ü", "z" * 5]
    cases = [[], ["x"], ["y"] * 7]
    for _ in range(60):
        cases.append([rng.choice(alphabet) for _ in range(rng.randrange(0, 12))])
    df = spark.createDataFrame(
        [(i, arr) for i, arr in enumerate(cases)], "i long, arr array<string>"
    )
    out, col = with_run_length_counts(df, F.col("arr"))
    got = {r.i: sorted(r[col]) for r in out.collect()}
    for i, arr in enumerate(cases):
        assert got[i] == sorted(Counter(arr).values()), (i, arr, got[i])
        assert sum(got[i]) == len(arr)


def test_late_split_dir_rebuilds_on_fixture_change(spark, tmp_path):
    """late_split_stream_dir keys its cache on the fixture file's
    mtime+size: regenerating events.parquet (the driver does this every
    round) must produce a NEW split dir, never stale batches."""
    import os
    import shutil

    from pulsar_io_delta_spark.streaming.runner import late_split_stream_dir

    fixture_dir = str(tmp_path / "sf")
    os.makedirs(fixture_dir)
    shutil.copy("/root/testdata/sf0.001/events.parquet", fixture_dir + "/events.parquet")
    d1 = late_split_stream_dir(spark, fixture_dir)
    assert os.path.exists(os.path.join(d1, "_SPLIT_DONE"))
    assert late_split_stream_dir(spark, fixture_dir) == d1  # cached
    os.utime(fixture_dir + "/events.parquet", (1_700_000_000, 1_700_000_000))
    d2 = late_split_stream_dir(spark, fixture_dir)
    assert d2 != d1, "split dir must rebuild when the fixture changes"


def test_late_split_dir_does_not_outlive_its_process(spark, sf_dir, tmp_path):
    """The split is built under the process's own temp dir, which
    the process removes at exit: no ``pids_late_events_*`` dir survives
    the process that made it."""
    import os
    import shutil
    import subprocess
    import sys

    from pulsar_io_delta_spark.streaming import runner

    fixture_dir = str(tmp_path / "sf")
    os.makedirs(fixture_dir)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), fixture_dir + "/events.parquet")
    d = runner.late_split_stream_dir(spark, fixture_dir)
    assert os.path.basename(d).startswith("pids_late_events_")
    assert os.path.dirname(d) == runner._process_dir()
    # a child process's dir, with a split-named dir inside, is gone
    # once the child exits
    made = subprocess.run(
        [sys.executable, "-c",
         "import os\n"
         "from pulsar_io_delta_spark.streaming.runner import _process_dir\n"
         "d = os.path.join(_process_dir(), 'pids_late_events_x')\n"
         "os.makedirs(d)\n"
         "print(d)\n"],
        capture_output=True, text=True, check=True, cwd=os.getcwd(),
    ).stdout.strip()
    assert os.path.basename(made) == "pids_late_events_x"
    assert not os.path.exists(os.path.dirname(made))


def _interleave(b1: int, b2: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((b1 >> i) & 1) << (2 * i)
        z |= ((b2 >> i) & 1) << (2 * i + 1)
    return z


@given(st.integers(0, 65535), st.integers(0, 65535))
def test_interleave_is_bijective(a, b):
    """Morton interleave (operators/layout.py kernel, mirrored here) is
    invertible — no two (a, b) cells share a z-value — and the top 2k
    bits are exactly the coordinates' top k bits (tile-prefix
    property that makes z-ranges contiguous tiles)."""
    z = _interleave(a, b)
    da = sum(((z >> (2 * i)) & 1) << i for i in range(16))
    db = sum(((z >> (2 * i + 1)) & 1) << i for i in range(16))
    assert (da, db) == (a, b)
    assert (z >> 8) == _interleave(a >> 4, b >> 4, 12)


@given(st.lists(st.integers(0, 10_000), min_size=1, max_size=300))
@settings(max_examples=200)
def test_histogram_quantile_equals_sorted_indexing(vals):
    """The winsorize threshold rule (min value whose cumulative count
    reaches ceil(q·n) over the value histogram) must agree with direct
    sorted-array indexing for every q used — the identity both the
    Spark plan and the DuckDB oracle implement."""
    import collections

    n = len(vals)
    hist = sorted(collections.Counter(vals).items())
    s = sorted(vals)
    for pct in (5, 95):
        target = (n * pct + 99) // 100
        cum = 0
        by_hist = None
        for v, c in hist:
            cum += c
            if cum >= target and by_hist is None:
                by_hist = v
        assert by_hist == s[target - 1]


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=120,
    )
)
@settings(max_examples=100, deadline=None)
def test_pagerank_integer_recurrence_is_bounded(pairs):
    """The integer PageRank recurrence (operators/graph.py) only loses
    mass to floor division: total rank stays within (0, scale] and
    every node's rank is at least the teleport base — no overflow, no
    negative drift, for arbitrary symmetrized graphs."""
    edges = set()
    for a, b in pairs:
        if a != b:
            edges.add((a, b))
            edges.add((b, a))
    if not edges:
        return
    nodes = sorted({u for e in edges for u in e})
    scale = 10**12
    n = len(nodes)
    deg = {v: sum(1 for s_, _ in edges if s_ == v) for v in nodes}
    nbrs = {v: [s_ for s_, d in edges if d == v] for v in nodes}
    pr = {v: scale // n for v in nodes}
    base = (15 * (scale // n)) // 100
    for _ in range(3):
        pr = {
            v: base + (85 * sum(pr[u] // deg[u] for u in nbrs[v])) // 100
            for v in nodes
        }
    total = sum(pr.values())
    assert 0 < total <= scale
    assert all(p >= base for p in pr.values())


# ---------------------------------------------------------------------------
# round 8: on-disk format kernels (DV bitmaps, Z85, JPEG/PNG codecs)


@given(st.binary(max_size=256).filter(lambda b: len(b) % 4 == 0))
def test_z85_round_trip(data):
    from pulsar_io_delta_spark.sources.deletion_vectors import z85_decode, z85_encode

    assert z85_decode(z85_encode(data)) == data


@given(
    st.sets(
        st.integers(min_value=0, max_value=2**40),
        max_size=300,
    )
)
@settings(max_examples=60, deadline=None)
def test_roaring_bitmap_round_trip(indexes):
    from pulsar_io_delta_spark.sources.deletion_vectors import (
        deserialize_bitmap,
        serialize_bitmap,
    )

    assert deserialize_bitmap(serialize_bitmap(indexes)) == sorted(indexes)


@given(
    st.sets(st.integers(min_value=0, max_value=100_000), min_size=1, max_size=200)
)
@settings(max_examples=30, deadline=None)
def test_inline_dv_descriptor_round_trip(indexes):
    from pulsar_io_delta_spark.sources.deletion_vectors import (
        inline_descriptor,
        resolve_dv,
    )

    assert resolve_dv(inline_descriptor(indexes), "/unused") == sorted(indexes)


@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_png_round_trip_arbitrary_images(w, h, seed):
    import numpy as np

    from pulsar_io_delta_spark.operators.png import decode_png, encode_png

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


@given(st.integers(min_value=0, max_value=127))
@settings(max_examples=30, deadline=None)
def test_jpeg_solid_even_level_exact(offset):
    """Every even level-shift offset round-trips exactly (DC multiple of
    the quant step, zero AC) — the invariant q_multimodal_jpeg's oracle
    depends on."""
    import numpy as np

    from pulsar_io_delta_spark.operators.jpeg import decode_jpeg, encode_jpeg

    level = 128 + 2 * (offset - 64)
    if not 0 <= level <= 255:
        return
    img = np.full((9, 13), level, dtype=np.uint8)
    assert np.all(decode_jpeg(encode_jpeg(img)) == level)


@given(
    st.lists(st.integers(-32768, 32767), min_size=1, max_size=300),
    st.sampled_from([1, 2]),
    st.sampled_from([16, 48, 4096]),
)
@settings(max_examples=60, deadline=None)
def test_flac_roundtrip_lossless_property(xs, channels, block_size):
    """decode(encode(x)) == x for arbitrary int16 signals, any channel
    count and block split — the lossless contract that makes the FLAC
    fixtures hash-exact by construction."""
    import numpy as np

    from pulsar_io_delta_spark.operators.flac import decode_flac, encode_flac

    x = np.array(xs, np.int16)
    if channels == 2:
        x = np.stack([x, x[::-1]], axis=1)
    rate, ch, y = decode_flac(encode_flac(x, 8000, block_size=block_size))
    assert (rate, ch) == (8000, channels)
    want = x.astype(np.int64)
    assert np.array_equal(y, want if channels == 2 else want[:, None].reshape(-1, 1))
