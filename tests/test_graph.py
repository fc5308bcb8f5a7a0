"""connected_components vs a brute-force Python union-find on random
graphs, plus edge cases (isolated nodes, chains, non-convergence guard),
and the structural pin that every iterative operator runs through the
one ``Supersteps`` loop.

Every connected_components and bfs_distances case runs through the
``sides`` fixture: once at the default driver row bound, where these
small graphs finish on the driver, and once with the bound at 0, where
they take the distributed rounds. Both runs must agree on rows, schema,
``stats["rounds"]`` and any raise.
"""

from __future__ import annotations

import ast
import os
import random
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pulsar_io_delta_spark import operators
from pulsar_io_delta_spark.operators import graph
from pulsar_io_delta_spark.operators.graph import bfs_distances, connected_components


@pytest.fixture()
def sides(monkeypatch, tmp_path):
    """``sides(op, *args, **kw)`` runs the graph operator ``op`` on both
    sides of the driver row bound, each with its own ``work_dir``, and
    returns ``(sorted rows, stats)`` once both sides agree on rows,
    schema, stats and any raise. The driver side must leave its
    ``work_dir`` empty and the distributed side must not, which shows
    that each took its own path."""

    def run(op, *args, **kw):
        got, left = [], []
        for name, bound in (("driver", graph._LOCAL_ROWS), ("distributed", 0)):
            monkeypatch.setattr(graph, "_LOCAL_ROWS", bound)
            work_dir = tmp_path / f"{len(os.listdir(tmp_path))}_{name}"
            work_dir.mkdir()
            stats: dict = {}
            try:
                df = op(*args, work_dir=str(work_dir), stats=stats, **kw)
                got.append((df.schema, sorted(map(tuple, df.collect())), stats))
            except RuntimeError as e:
                got.append((type(e), str(e), stats))
            left.append(bool(os.listdir(work_dir)))
        monkeypatch.undo()
        assert got[0] == got[1]
        assert left == [False, True]
        if isinstance(got[0][1], str):
            raise got[0][0](got[0][1])
        return got[0][1], got[0][2]

    return run


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id of the component
    comp = {}
    for v in range(n_nodes):
        r = find(v)
        comp.setdefault(r, []).append(v)
    return {v: min(members) for r, members in comp.items() for v in members}


def _run(sides, spark, n_nodes, edges):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    rows, _ = sides(connected_components, nodes, e)
    return dict(rows)


def test_random_graphs_match_union_find(spark, sides):
    rng = random.Random(20260814)
    for trial in range(3):
        n = rng.randrange(40, 160)
        m = rng.randrange(0, 2 * n)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]  # self-loops allowed: must be harmless
        assert _run(sides, spark, n, edges) == _union_find(n, edges)


def test_isolated_nodes_are_singletons(spark, sides):
    got = _run(sides, spark, 5, [(0, 1)])
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 4}


def test_long_chain_converges_logarithmically(spark, sides):
    # A 64-node chain has diameter 63; pointer jumping must converge
    # well inside 50 rounds (≈ log2(63) + slack), and the labels must
    # all collapse to 0.
    n = 64
    got = _run(sides, spark, n, [(i, i - 1) for i in range(1, n)])
    assert got == {i: 0 for i in range(n)}


def test_nonconvergence_raises(spark, sides):
    nodes = spark.createDataFrame([(i,) for i in range(8)], "id long")
    e = spark.createDataFrame([(i, i - 1) for i in range(1, 8)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        sides(connected_components, nodes, e, max_iter=1)


def test_edges_outside_nodes_are_ignored(spark, sides):
    """Edges touching ids that are not in ``nodes`` join no label row:
    they neither add vertices nor link the nodes they touch (here 1-99-2
    and 3-100). Int ids keep their type on both sides."""
    nodes = spark.createDataFrame([(i,) for i in range(5)], "id int")
    e = spark.createDataFrame(
        [(0, 1), (1, 99), (99, 2), (3, 100), (100, 101)], "src int, dst int"
    )
    rows, stats = sides(connected_components, nodes, e)
    assert dict(rows) == {0: 0, 1: 0, 2: 2, 3: 3, 4: 4}
    assert stats["rounds"] >= 1


def test_driver_path_leaves_nothing_under_work_dir(spark, tmp_path):
    """Below the bound both operators close their superstep run: a
    caller-given ``work_dir`` is left empty, and the returned frame
    does not depend on it."""
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    e = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "src long, dst long")
    cc = connected_components(nodes, e, work_dir=str(tmp_path))
    bfs = bfs_distances(e, source=0, work_dir=str(tmp_path))
    assert os.listdir(tmp_path) == []
    assert sorted(map(tuple, cc.collect())) == [
        (0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 4)
    ]
    assert sorted(map(tuple, bfs.collect())) == [(0, 0), (1, 1), (2, 2)]


def test_nodes_none_evaluates_edges_once(spark, sides):
    """``nodes=None`` takes the vertex set from the edge barrier, so an
    expensive edge lineage (here: a counting Python UDF) runs once per
    edge row on each side of the bound, and the labels cover exactly
    the edge endpoints."""
    calls = spark.sparkContext.accumulator(0)

    def counted(x):
        calls.add(1)
        return x

    rng = random.Random(20261017)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(50)]
    e = spark.createDataFrame(edges, "src long, dst long").select(
        F.udf(counted, "long")("src").alias("src"), "dst"
    )
    rows, _ = sides(connected_components, None, e)
    got = dict(rows)
    assert calls.value == 2 * len(edges)
    uf = _union_find(n, edges)
    assert got == {v: uf[v] for edge in edges for v in edge}


def test_duplicate_and_reversed_edges_collapse(spark, sides):
    edges = [(0, 1), (1, 0), (0, 1), (2, 1)]
    got = _run(sides, spark, 4, edges)
    assert got == {0: 0, 1: 0, 2: 0, 3: 3}


def test_convergence_round_bound(spark, sides):
    """Pointer jumping + hub feedback keep rounds O(log diameter):
    a 256-node chain (diameter 255) must converge in ~log2(255)+1
    rounds (measured 9, incl. the final no-change confirmation), far
    under the linear 255 a plain propagate would need."""
    n = 256
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame([(i, i - 1) for i in range(1, n)], "src long, dst long")
    rows, stats = sides(connected_components, nodes, e)
    assert {c for _, c in rows} == {0}
    assert stats["rounds"] <= 10, stats


def test_pagerank_fixed_matches_hand_computation(spark):
    """Path graph a-b-c (symmetrized): replay the exact integer
    recurrence in Python and compare bit-for-bit; also pin the
    structural facts (center outranks leaves, leaves tie)."""
    from pulsar_io_delta_spark.operators.graph import pagerank_fixed

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    got = {r.id: r.pr for r in pagerank_fixed(edges, iterations=3).collect()}

    scale = 10**12
    deg = {1: 1, 2: 2, 3: 1}
    pr = {v: scale // 3 for v in (1, 2, 3)}
    base = (15 * (scale // 3)) // 100
    nbrs = {1: [2], 2: [1, 3], 3: [2]}
    for _ in range(3):
        contrib = {v: sum(pr[u] // deg[u] for u in nbrs[v]) for v in pr}
        pr = {v: base + (85 * contrib[v]) // 100 for v in pr}
    assert got == pr
    assert got[2] > got[1] == got[3]


def test_hub_skew_graph_correct_and_bounded_rounds(spark, sides):
    """Power-law skew regression (VERDICT r7 #4): a hub node touching
    ~10% of all edges — the giant-component worst case for label
    propagation and a single hot key for the dst-aggregations and
    src-keyed joins. Correctness: every block linked to the hub must
    collapse into ONE component labeled 0; unlinked blocks stay
    separate. Convergence must stay logarithmic — hub feedback +
    pointer jumping make the giant star flat in O(log diameter), not
    O(members)."""
    from pulsar_io_delta_spark.operators.graph import pagerank_fixed

    n_blocks, blk = 80, 25
    n = n_blocks * blk
    ids = spark.range(n).select(F.col("id"))
    chain = ids.where(F.col("id") % blk != 0).select(
        F.col("id").alias("src"), (F.col("id") - 1).alias("dst")
    )
    hub = ids.where((F.col("id") % 10 == 0) & (F.col("id") != 0)).select(
        F.col("id").alias("src"), F.lit(0).alias("dst")
    )
    cc_rows, stats = sides(connected_components, ids, chain.unionAll(hub))
    rows = dict(cc_rows)
    # every 10th node links to the hub; a block whose chain contains any
    # such node joins component 0 — with blk=25 and hub spacing 10,
    # every block contains one (all ids ≡ 0 mod 10 link in), so the
    # whole graph is ONE giant component
    assert set(rows.values()) == {0}
    assert stats["rounds"] <= 10  # log-ish, not linear in members
    # pagerank over the symmetrized hub graph: mass conservation holds
    # (integer floor division only loses < 1 unit per node per step)
    e = chain.unionAll(hub)
    sym = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    pr = pagerank_fixed(sym)
    got = {r.id: r.pr for r in pr.collect()}
    assert len(got) == n
    total = sum(got.values())
    assert abs(total - 10**12) < 20 * n  # ≈ scale, floor-loss bounded
    # the hub must hold the highest rank (it absorbs 10% of all mass)
    assert got[0] == max(got.values())


def _brute_triangles(edges):
    """Per-node triangle counts by literal enumeration over the
    canonical undirected edge set."""
    import itertools

    eset = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = sorted({v for e in eset for v in e})
    deg = {v: 0 for v in nodes}
    for a, b in eset:
        deg[a] += 1
        deg[b] += 1
    tri = {v: 0 for v in nodes}
    for x, y, z in itertools.combinations(nodes, 3):
        if (x, y) in eset and (x, z) in eset and (y, z) in eset:
            tri[x] += 1
            tri[y] += 1
            tri[z] += 1
    return {v: (deg[v], tri[v]) for v in nodes}


def _run_triangles(spark, edges):
    from pulsar_io_delta_spark.operators.graph import triangle_counts

    e = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: (r["deg"], r["tri_cnt"]) for r in triangle_counts(e).collect()
    }


def test_triangle_counts_match_brute_force_random(spark):
    rng = random.Random(20260816)
    for _ in range(3):
        n = rng.randrange(20, 60)
        m = rng.randrange(n, 4 * n)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        assert _run_triangles(spark, edges) == _brute_triangles(edges)


def test_triangle_counts_canonicalizes_input(spark):
    # duplicates, self-loops, and both directions must not inflate
    # counts: the graph is one triangle {0,1,2}
    edges = [(0, 1), (1, 0), (0, 1), (1, 2), (2, 0), (0, 0), (2, 0)]
    assert _run_triangles(spark, edges) == {
        0: (2, 1),
        1: (2, 1),
        2: (2, 1),
    }


def test_triangle_counts_star_is_triangle_free(spark):
    # A hub star has wedges everywhere but zero closures; the
    # degree-ordered orientation must also keep the hub's out-list
    # EMPTY (every edge points low-degree leaf → high-degree hub), so
    # the wedge stage never enumerates C(hub_degree, 2).
    edges = [(0, i) for i in range(1, 40)]
    got = _run_triangles(spark, edges)
    assert got[0] == (39, 0)
    assert all(got[i] == (1, 0) for i in range(1, 40))


def test_triangle_counts_clique(spark):
    # K6: every node sits in C(5,2) = 10 triangles.
    edges = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    got = _run_triangles(spark, edges)
    assert got == {v: (5, 10) for v in range(6)}


def test_bfs_distances_hand_graph(spark, sides):
    """Path + branch + unreachable island: 0-1-2-3 chain, 1-4 branch,
    island 7-8. From source 0: exact hop counts, island absent."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (1, 4), (7, 8)], "src long, dst long"
    )
    rows, stats = sides(bfs_distances, edges, source=0)
    got = dict(rows)
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 2}
    # eccentricity of 0 is 3 -> frontier empties on round 4
    assert stats["rounds"] == 4


def test_bfs_default_source_is_min_node(spark, sides):
    edges = spark.createDataFrame([(5, 3), (3, 9)], "src long, dst long")
    rows, _ = sides(bfs_distances, edges)
    assert dict(rows) == {3: 0, 5: 1, 9: 1}


def test_bfs_nonconvergence_raises(spark, sides):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        sides(bfs_distances, edges, source=0, max_iter=2)


def test_bfs_degenerate_graphs_agree(spark, sides):
    """No edges: no default source and an empty result; a source the
    edges never touch is its own one-node result; self-loops and null
    endpoints are not edges. Int ids come back as longs on both sides."""
    empty = spark.createDataFrame([], "src int, dst int")
    assert sides(bfs_distances, empty) == ([], {})
    assert sides(bfs_distances, empty, source=7) == ([(7, 0)], {"rounds": 1})
    loops = spark.createDataFrame([(1, 1), (2, None), (2, 3)], "src int, dst int")
    assert sides(bfs_distances, loops, source=1) == ([(1, 0)], {"rounds": 1})
    rows, _ = sides(bfs_distances, loops)
    assert rows == [(2, 0), (3, 1)]


def _on_writer(expr) -> bool:
    """True iff the call chain ``expr`` goes through a ``.write``."""
    while isinstance(expr, (ast.Attribute, ast.Call)):
        if isinstance(expr, ast.Attribute):
            if expr.attr == "write":
                return True
            expr = expr.value
        else:
            expr = expr.func
    return False


def _loop_sites(tree):
    """(node, kind) for every temp-dir creation, parquet write or
    Dataset checkpoint under ``tree``."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name = getattr(node.func, "attr", getattr(node.func, "id", None))
        if name in ("mkdtemp", "localCheckpoint", "checkpoint"):
            yield node, name
        elif name == "parquet" and _on_writer(node.func.value):
            yield node, "parquet write"


def test_one_superstep_loop():
    """Only ``graph.Supersteps`` may create a temp dir, write a parquet
    barrier or checkpoint a Dataset under operators/: every iterative
    operator goes through that one loop helper."""
    outside, inside = [], set()
    for path in sorted(Path(operators.__file__).parent.glob("*.py")):
        tree = ast.parse(path.read_text())
        helper = {
            id(n)
            for c in tree.body
            if isinstance(c, ast.ClassDef) and c.name == "Supersteps"
            for n in ast.walk(c)
        }
        for node, kind in _loop_sites(tree):
            if id(node) in helper:
                inside.add(kind)
            else:
                outside.append(f"{path.name}:{node.lineno} {kind}")
    assert outside == []
    assert inside == {"mkdtemp", "parquet write"}


def test_barrier_runs_one_job(spark, tmp_path):
    """A barrier costs its write job alone: the table is read back with
    the written frame's schema instead of a schema-inference job, and
    the observed count rides that same job."""
    sc = spark.sparkContext
    steps = graph.Supersteps(spark, str(tmp_path))
    df = spark.range(40).select((F.col("id") % 7).alias("id"), F.col("id").alias("comp"))
    try:
        for i, run in enumerate((
            lambda: steps.barrier(df, "plain"),
            lambda: steps.counted(df, "counted", F.col("id") == 0)[0],
        )):
            group = f"barrier-{i}"
            sc.setJobGroup(group, "one barrier")
            out = run()
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
            sc.setJobGroup(f"read-{i}", "read back")
            assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        steps.close()
