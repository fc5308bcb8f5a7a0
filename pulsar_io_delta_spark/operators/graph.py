"""Distributed connected components over candidate-pair edge lists.

The last stage of every real near-dup pipeline: pair finders (exact
hash, MinHash-LSH banding, SimHash pigeonholes — `operators/dedup.py`)
emit EDGES, but the keep/drop decision needs CLUSTERS — a doc that is
a near-dup of A under one band and of B under another must transitively
collapse A, B and itself into one group with a single canonical
survivor. The reference connector has no graph stage (it is a CDC
source); this operator exists for the training-data-pipeline surface
(SURVEY.md §2.3 north star), where multi-key blocking + union-find is
the standard entity-resolution / dedup-clustering shape.

Algorithm: synchronized min-label propagation with two accelerators
per round, the combination MapReduce CC schemes (Kiveris et al.'s
star-contraction family, GraphFrames' default) rely on:

1. neighbor min — lab(v) ← min(lab(v), min over graph-neighbors);
2. hub feedback — the node h that v POINTED TO last round learns
   min over its former children's new labels. This is what kills the
   linear tail: when a low label enters a converged star through one
   member, the hub learns it the NEXT round instead of waiting for it
   to crawl the component one graph-hop at a time;
3. pointer jump — lab(v) ← lab(lab(v)), halving pointer depth.

All three are node-table-sized hash joins / partial aggregates, and
the per-round shuffle is O(|edges| + |nodes|) × 16 bytes regardless of
document payload size. Measured on the fixture dedup graph (25-chains
× exact-dup stars): 6 rounds, per-round cost flat.

The looping operators (connected_components, bfs_distances here and
bpe_train in ``operators/text.py``) run their rounds through one
helper, ``Supersteps``: each round is written to parquet and read
back. Its docstring holds the measured reason. pagerank_fixed is
unrolled and has no barrier.

Small graphs finish on the driver. A Spark round costs a dozen jobs
whatever its size, so a graph with fewer than ``_LOCAL_ROWS`` edge +
node rows is read back once from its first barriers with ``toArrow()``
and runs the SAME rounds in numpy (``_cc_rounds``, ``_bfs_rounds``):
labels, distances, ``stats["rounds"]``, the ``max_iter`` raise and the
handling of edges that touch ids outside ``nodes`` are identical on
both sides of the bound. Larger graphs keep the distributed rounds and
hold no driver-side graph state.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import LongType, StructField, StructType

# Graphs with fewer edge + node rows than this finish on the driver.
# 2^19 rows of int64 ids are 8 MiB as one Arrow column pair; with the
# few same-length numpy temporaries a round allocates, that stays a
# small fraction of a 1-2 GB driver heap. Larger graphs run the
# distributed rounds.
_LOCAL_ROWS = 1 << 19


class Supersteps:
    """One run of parquet-barrier supersteps, the loop shared by
    connected_components, bfs_distances and text.bpe_train. Each round's
    table is written to parquet under the work dir and read back, so
    round k's plan starts at a file scan instead of at round 0.

    The barrier is deliberate, not an optimization miss:
    Dataset.checkpoint/localCheckpoint in an iterative loop was measured
    to RE-EXECUTE prior rounds (cost doubled per round from ~round 16,
    82 s/round by round 22, on constant-size plans — both local and
    reliable variants); a parquet barrier holds ~0.5 s/round flat for
    25+ rounds. It is also the fault-tolerance story at 100 TB: each
    round is a durable, resumable superstep (pass a ``work_dir`` on
    HDFS/S3 on a real cluster), exactly how MapReduce CC
    implementations iterate.

    ``work_dir`` defaults to a fresh temp dir. ``close()`` deletes every
    table the run still holds, and the dir itself only if the run
    created it. Operators whose returned frame is backed by their last
    round do not close.

    connected_components and bfs_distances count the rows of their
    first barriers with ``counted(..., F.lit(True))``. Below
    ``_LOCAL_ROWS`` they read those tables back once, run the rounds in
    numpy and close the run, so no table outlives the call.
    """

    def __init__(self, spark: SparkSession, work_dir: str | None = None):
        self._spark = spark
        self._owned = work_dir is None
        self._dir = work_dir or tempfile.mkdtemp(prefix="pids_steps_")
        self._held: set[str] = set()

    def barrier(
        self, df: DataFrame, name: str, *, drop: str | None = None
    ) -> DataFrame:
        """Write ``df`` as table ``name`` and return it read back. Once
        the write is durable, the superseded table ``drop`` (if any) is
        deleted: a round's input is dead when its output is on disk.
        The read back takes the written frame's schema, so the barrier
        costs the write job alone, with no schema-inference job."""
        path = os.path.join(self._dir, name)
        self._held.add(name)
        df.write.mode("overwrite").parquet(path)
        if drop is not None:
            shutil.rmtree(os.path.join(self._dir, drop), ignore_errors=True)
            self._held.discard(drop)
        return self._spark.read.schema(df.schema).parquet(path)

    def counted(
        self, df: DataFrame, name: str, where: Column, *, drop: str | None = None
    ) -> tuple[DataFrame, int]:
        """``barrier()`` that also returns how many written rows satisfy
        ``where`` — the round's convergence count. It rides the write via
        observe(), so it costs no extra job re-reading the parquet just
        written. Task retries can only INFLATE an observed count, never
        zero a non-zero one, so a caller's ``== 0`` test stays exact."""
        obs = Observation(name)
        out = self.barrier(
            df.observe(obs, F.sum(F.when(where, 1).otherwise(0)).alias("n")),
            name,
            drop=drop,
        )
        # A sum over zero rows is NULL.
        return out, obs.get["n"] or 0

    def close(self) -> None:
        for name in self._held:
            shutil.rmtree(os.path.join(self._dir, name), ignore_errors=True)
        self._held.clear()
        if self._owned:
            shutil.rmtree(self._dir, ignore_errors=True)


def connected_components(
    nodes: DataFrame | None,
    edges: DataFrame,
    *,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 50,
    work_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Return ``(id, component)`` where component = min node id reachable
    from ``id`` over the undirected edge set.

    ``nodes`` supplies the full vertex set (isolated vertices become
    singleton components); ``edges`` is directed input and is
    symmetrized here; edges referencing ids outside ``nodes`` are
    ignored by the joins. ``nodes=None`` means the distinct endpoints of
    the symmetrized edge list, read from its barrier — never derive
    ``nodes`` from the same lazy frame as ``edges``, which evaluates
    that lineage twice. Labels are monotone non-increasing and every
    assigned label is the id of a node in the same component, so the
    fixpoint (no label changed in a full round) is exactly
    component-min. Raises if ``max_iter`` rounds pass without
    convergence — never silently-partial labels.

    ``work_dir`` receives one small parquet table per round
    (``Supersteps``; the final one backs the returned DataFrame, so it
    must outlive the caller's consumption). A graph with fewer than
    ``_LOCAL_ROWS`` edge + node rows runs the same rounds on the driver
    (``_cc_rounds``) after the first two barriers, returns a frame
    built from Arrow with the same schema, and leaves nothing under
    ``work_dir``. Pass a dict as ``stats`` to receive {'rounds': k},
    equal on both sides of the bound — tests pin the O(log diameter)
    convergence bound through it.
    """
    steps = Supersteps(edges.sparkSession, work_dir)
    # Both directions come from ONE reference to `edges`: a unionAll of
    # the two directions evaluates the caller's edge lineage twice.
    s, d = F.col(src_col), F.col(dst_col)
    both = F.array(
        F.struct(s.alias("src"), d.alias("dst")), F.struct(d.alias("src"), s.alias("dst"))
    )
    sym, n_edges = steps.counted(
        edges.select(F.inline(both)).distinct(), "edges", F.lit(True)
    )
    # NOT pre-partitioned/persisted by src (r16 A/B, 7 variants × 4
    # trials at sf0.1): the label side is node-sized and joins
    # broadcast here, so the edge side never re-shuffles per round to
    # begin with — a repartition("src").persist() of sym ADDED a full
    # edge shuffle + cache materialization and measured ~1.5× slower.
    # On a cluster where labels outgrow the broadcast threshold, the
    # parquet barrier is the place to add bucketing — noted in
    # OPTIMIZATION_r16.md "left alone".
    if nodes is None:
        nodes, id_col = sym, "src"
    labels, n_nodes = steps.counted(
        nodes.select(F.col(id_col).alias("id"))
        .distinct()
        .withColumn("lab", F.col("id")),
        "labels_0",
        F.lit(True),
    )
    if n_edges + n_nodes < _LOCAL_ROWS:
        try:
            return _cc_on_driver(labels, sym, max_iter, stats)
        finally:
            steps.close()
    for i in range(max_iter):
        # (1) min label over graph neighbors; map-side combine keeps
        # the shuffle at one (dst, partial-min) row per partition
        # per dst.
        nbr = (
            sym.join(labels, sym.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lab").alias("nlab"))
        )
        stepped = labels.join(nbr, "id", "left").select(
            "id",
            F.col("lab").alias("prev"),
            F.least("lab", F.coalesce("nlab", "lab")).alias("lab"),
        )
        # (2) hub feedback: group the new labels by LAST round's
        # pointer.
        child_min = stepped.groupBy(F.col("prev").alias("id")).agg(
            F.min("lab").alias("clab")
        )
        # (3) pointer jump: every label IS a node id, so the inner
        # self-join is total. `fed` feeds both sides of the
        # self-join; a per-round persist was A/B-tested (r16) and
        # did NOT beat the recompute — the chain is node-sized and
        # broadcast-joined, so caching paid more in materialization
        # than the second evaluation costs.
        fed = stepped.join(child_min, "id", "left").select(
            "id", "prev", F.least("lab", F.coalesce("clab", "lab")).alias("lab")
        )
        jumped = (
            fed.alias("a")
            .join(
                fed.select(
                    F.col("id").alias("_jid"), F.col("lab").alias("_jlab")
                ).alias("b"),
                F.col("a.lab") == F.col("b._jid"),
            )
            .select("a.id", "a.prev", F.col("b._jlab").alias("lab"))
        )
        out, changed = steps.counted(
            jumped,
            f"labels_{i + 1}",
            F.col("lab") != F.col("prev"),
            drop=f"labels_{i}",
        )
        labels = out.select("id", "lab")
        if changed == 0:
            if stats is not None:
                stats["rounds"] = i + 1
            return labels.select("id", F.col("lab").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def _cc_on_driver(
    labels: DataFrame, sym: DataFrame, max_iter: int, stats: dict | None
) -> DataFrame:
    """connected_components' rounds on the driver over its ``labels_0``
    and ``edges`` barriers. Ids become positions in their sorted
    distinct array, so a min over positions is a min over ids, and
    every label stays a node id as on the distributed side. A null id
    drops out there at the first pointer-jump join and an edge whose
    endpoint is not a node matches no label row, so both are dropped
    up front."""
    id_type = labels.schema["id"].dataType
    ids = np.unique(labels.select("id").toArrow().column(0).drop_null().to_numpy())
    e = sym.toArrow().drop_null()
    src = _positions(ids, e.column("src").to_numpy())
    dst = _positions(ids, e.column("dst").to_numpy())
    inside = (src >= 0) & (dst >= 0)
    lab = _cc_rounds(len(ids), src[inside], dst[inside], max_iter, stats)
    schema = StructType([StructField("id", id_type), StructField("component", id_type)])
    out = pa.table({"id": ids, "component": ids[lab]})
    return labels.sparkSession.createDataFrame(out, schema)


def _positions(ids: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Index of each of ``values`` in the sorted ``ids``, -1 if absent."""
    if not len(ids):
        return np.full(len(values), -1)
    pos = np.minimum(np.searchsorted(ids, values), len(ids) - 1)
    return np.where(ids[pos] == values, pos, -1)


def _cc_rounds(
    n: int, src: np.ndarray, dst: np.ndarray, max_iter: int, stats: dict | None
) -> np.ndarray:
    """The three steps of a connected_components round over node
    positions ``0..n-1`` and symmetric position edges; returns each
    node's label position at the fixpoint."""
    lab = np.arange(n)
    for i in range(max_iter):
        prev = lab
        # (1) neighbour min
        stepped = prev.copy()
        np.minimum.at(stepped, dst, prev[src])
        # (2) hub feedback: each node learns its former children's min
        fed = stepped.copy()
        np.minimum.at(fed, prev, stepped)
        # (3) pointer jump
        lab = fed[fed]
        if not np.count_nonzero(lab != prev):
            if stats is not None:
                stats["rounds"] = i + 1
            return lab
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def pagerank_fixed(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = 10**12,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer arithmetic: ranks are
    BIGINT "probability × scale" and every step uses floor division
    (`div`), so the result is bit-identical on any engine that floors
    integer division — the determinism trick that lets a float-free
    oracle hash-match power iteration (float PageRank cannot cross
    engines: summation order changes the bits).

    ``edges`` must be the SYMMETRIZED edge list (src, dst) — with both
    directions present every connected node has outdegree ≥ 1, so there
    is no dangling-mass term. Nodes are the distinct edge endpoints.

    Scale shape per iteration: one join of the edge list against the
    current rank vector (shuffle on src — at 100 TB pre-partition both
    by src to make it exchange-free) + one map-side-combined groupBy on
    dst; the rank and degree tables are node-sized. Same O(E) supersteps
    as connected_components, without the barrier (the loop is unrolled
    into one DAG for small fixed k; use parquet barriers as in
    connected_components when k grows)."""
    # The unrolled DAG references the edge list 1 + iterations times
    # (degree seed, each contrib join). r11 persisted it coalesced to
    # the session shuffle width (−24% wall); r16 goes the rest of the
    # way the docstring promises: persist it HASH-PARTITIONED BY src —
    # the key of the degree aggregate AND of every iteration's contrib
    # join — so the cached partitioning replaces one exchange of the
    # full edge list per iteration plus the degree-seed exchange with
    # ONE exchange at build time (guide §2.4; InMemoryTableScan
    # reports its child's partitioning to the planner). Only the
    # node-sized rank vector moves per iteration.
    n_shuffle = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    e = edges.select("src", "dst").repartition(n_shuffle, "src").persist()
    # Node table WITH outdegree attached (one groupBy does both —
    # every node appears as a src in the symmetrized list), persisted:
    # carrying outdeg inside the rank vector saves a second per-
    # iteration join against a separate degree table.
    deg = (
        e.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("outdeg"))
        .persist()
    )
    n_nodes = deg.agg(F.count("*").alias("nn"))
    base_expr = f"(({100 - damping_pct} * ({scale} div nn)) div 100)"
    pr = deg.crossJoin(F.broadcast(n_nodes)).select(
        "id", "outdeg", F.expr(f"{scale} div nn").alias("pr")
    )
    for _ in range(iterations):
        contrib = (
            e.join(
                pr.select(
                    F.col("id").alias("src"), F.expr("pr div outdeg").alias("c")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("c").alias("m"))
        )
        pr = (
            deg.join(contrib, "id", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "id",
                "outdeg",
                F.expr(
                    f"{base_expr} + (({damping_pct} * coalesce(m, 0)) div 100)"
                ).alias("pr"),
            )
        )
    return pr.select("id", "pr")


def triangle_counts(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Per-node triangle participation over an undirected edge list —
    (node, deg, tri_cnt) for every distinct endpoint, zero-filled.

    Algorithm: degree-ordered edge orientation (Schank's compact-
    forward / the Suri–Vassilvitskii MR-node-iterator bound): orient
    every undirected edge from the endpoint with the SMALLER
    (degree, id) rank to the larger, enumerate wedges as pairs of
    out-neighbors of a common source, and close each wedge with an
    equi-join back against the oriented edge list. Orientation bounds
    every out-degree by O(sqrt(|E|)) regardless of skew — a celebrity
    node of degree d contributes wedges from its LOW-degree neighbors'
    short out-lists, never C(d, 2) from its own — so wedge volume is
    O(|E|^1.5) worst-case and the plan is three hash-partitioned
    equi-joins + one map-side-combined count. No windows (a window
    keyed on the hub would single-reduce its whole adjacency), no
    nested-loop joins, no driver-side graph state.

    Input edges may carry duplicates / self-loops / both directions;
    they are canonicalized (a < b, distinct) first. Triangle set is
    orientation-invariant, so a plain a<b<c SQL oracle can recompute
    it without replicating the degree ranking."""
    a, b = F.col(src_col), F.col(dst_col)
    e = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        # The canonical edge list feeds the degree agg, two orientation
        # joins, and the closure probe: persist so the distinct() runs
        # once (MEMORY_AND_DISK — edge lists are id-pairs, spill-safe).
        .persist()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        # Node-sized after the map-side combine; reused by both
        # orientation joins and the final zero-fill.
        .persist()
    )
    # Orientation rank = (deg, id): join each endpoint's degree, point
    # the edge at the larger rank. rs/rd travel with the edge so wedge
    # ordering and closure need no further degree lookups.
    ranked = (
        e.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            "a",
            "b",
            F.struct(F.col("da").alias("d"), F.col("a").alias("i")).alias("ra"),
            F.struct(F.col("db").alias("d"), F.col("b").alias("i")).alias("rb"),
        )
    )
    # A repartition-by-u before this persist (so the wedge self-join
    # could reuse the cached partitioning) was A/B-tested in r16 and
    # measured flat at sf0.1 (4.37 vs 4.26 s) — the wedge join's sides
    # are bucket-bounded and broadcast-eligible here; kept simple.
    oriented = ranked.select(
        F.when(F.col("ra") < F.col("rb"), F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(F.col("ra") < F.col("rb"), F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(F.col("ra") < F.col("rb"), F.col("rb")).otherwise(F.col("ra")).alias("rv"),
    ).persist()
    # Wedges: pairs of out-neighbors of u, ordered by the carried rank
    # so each unordered pair appears once; closure = the oriented edge
    # (v, w) existing (it must point v→w because rank(v) < rank(w)).
    w1 = oriented.select("u", F.col("v").alias("v1"), F.col("rv").alias("rv1"))
    w2 = oriented.select("u", F.col("v").alias("v2"), F.col("rv").alias("rv2"))
    wedges = w1.join(w2, "u").where(F.col("rv1") < F.col("rv2"))
    # Inner (not semi) so u survives; oriented is distinct, so each
    # wedge matches its closing edge at most once — no multiplicity.
    tris = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
    ).select("u", "v1", "v2")
    per_node = (
        tris.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("tri_cnt"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        F.col("deg").cast("long").alias("deg"),
        F.coalesce(F.col("tri_cnt"), F.lit(0)).cast("long").alias("tri_cnt"),
    )


_DIST_SCHEMA = StructType([StructField("node", LongType()), StructField("dist", LongType())])


def bfs_distances(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    source: int | None = None,
    max_iter: int = 20,
    work_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Single-source unweighted BFS: ``(node, dist)`` hop distances from
    ``source`` (default: the minimum node id in the edge set) over the
    undirected edge set. Unreached nodes are absent from the result —
    callers LEFT-join if they want NULL-distance rows.

    Frontier supersteps, not whole-table relaxation: each round joins
    ONLY the newly-discovered frontier against the adjacency (one hash
    equi-join), anti-joins the visited set, and appends. Every edge is
    therefore relaxed exactly once over the whole run — total work
    O(|E| + |V|·diameter) with no per-round full-graph pass, the
    Pregel/GraphX BFS shape. Rounds barrier to parquet through
    ``Supersteps``, like connected_components. With fewer than
    ``_LOCAL_ROWS`` symmetrized edge rows, the same frontier rounds run
    on the driver (``_bfs_rounds``) over the edge barrier read back
    once, the default source is taken from those rows, and nothing is
    left under ``work_dir``. Raises if the frontier is still non-empty
    after ``max_iter`` rounds — never silently-partial distances. Pass
    ``stats`` to receive {'rounds': k} (== eccentricity of the source +
    1), equal on both sides of the bound."""
    spark = edges.sparkSession
    steps = Supersteps(spark, work_dir)
    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    sym, n_edges = steps.counted(
        e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct(),
        "edges",
        F.lit(True),
    )
    if n_edges < _LOCAL_ROWS:
        try:
            return _bfs_on_driver(sym, source, max_iter, stats)
        finally:
            steps.close()
    # NOT pre-partitioned/persisted by `a` (r16 A/B on the cc twin):
    # the frontier side is broadcast-sized every round, so the
    # adjacency never re-shuffles — pre-partitioning only added cost.
    if source is None:
        source = sym.agg(F.min("a")).first()[0]
        if source is None:
            return spark.createDataFrame([], _DIST_SCHEMA)
    frontier = steps.barrier(
        spark.createDataFrame([(int(source), 0)], _DIST_SCHEMA),
        "frontier_0",
    )
    dist = steps.barrier(frontier, "dist_0")
    for i in range(max_iter):
        reached = (
            sym.join(frontier, sym.a == frontier.node)
            .select(F.col("b").alias("node"), (F.col("dist") + 1).alias("dist"))
            .distinct()
        )
        frontier, n_new = steps.counted(
            reached.join(dist.select("node"), "node", "left_anti"),
            f"frontier_{i + 1}",
            F.lit(True),
            drop=f"frontier_{i}",
        )
        if n_new == 0:
            if stats is not None:
                stats["rounds"] = i + 1
            return dist
        dist = steps.barrier(
            dist.unionAll(frontier), f"dist_{i + 1}", drop=f"dist_{i}"
        )
    raise RuntimeError(f"bfs_distances did not converge in {max_iter} rounds")


def _bfs_on_driver(
    sym: DataFrame, source: int | None, max_iter: int, stats: dict | None
) -> DataFrame:
    """bfs_distances' rounds on the driver over its ``edges`` barrier,
    whose ``a != b`` filter already dropped null endpoints."""
    e = sym.toArrow()
    a, b = e.column("a").to_numpy(), e.column("b").to_numpy()
    spark = sym.sparkSession
    if source is None:
        if not len(a):
            return spark.createDataFrame([], _DIST_SCHEMA)
        source = a.min()
    nodes = np.unique(np.concatenate([a, b, [int(source)]]))
    dist = _bfs_rounds(
        len(nodes),
        np.searchsorted(nodes, a),
        np.searchsorted(nodes, b),
        int(np.searchsorted(nodes, int(source))),
        max_iter,
        stats,
    )
    reached = dist >= 0
    out = pa.table({"node": nodes[reached], "dist": dist[reached]})
    return spark.createDataFrame(out, _DIST_SCHEMA)


def _bfs_rounds(
    n: int,
    a: np.ndarray,
    b: np.ndarray,
    source: int,
    max_iter: int,
    stats: dict | None,
) -> np.ndarray:
    """bfs_distances' frontier rounds over node positions ``0..n-1``
    and symmetric position edges ``a → b``; returns each node's hop
    distance from ``source``, -1 where unreached."""
    dist = np.full(n, -1)
    dist[source] = 0
    frontier = np.zeros(n, dtype=bool)
    frontier[source] = True
    for i in range(max_iter):
        reached = np.zeros(n, dtype=bool)
        reached[b[frontier[a]]] = True
        frontier = reached & (dist < 0)
        if not frontier.any():
            if stats is not None:
                stats["rounds"] = i + 1
            return dist
        dist[frontier] = i + 1
    raise RuntimeError(f"bfs_distances did not converge in {max_iter} rounds")
