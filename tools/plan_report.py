"""Generate PLANS.md: formatted physical plans for the queries whose
plan SHAPE is the scale argument (one exchange, map-side combine,
broadcast sides, no cartesian), so the "is this the plan you'd want
at 100 TB" question is answerable by reading, not re-running.

Usage: python tools/plan_report.py [sf_dir] [query ...]

With no query names it rewrites PLANS.md at the root of the tree this
script lives in. With names it prints each query's executed plan to
stdout instead, so plans of two trees (say a parent checkout and the
change) are compared by running each tree's own copy of this script.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pulsar_io_delta_spark.registry import all_queries  # noqa: E402
from pulsar_io_delta_spark.session import get_spark  # noqa: E402

# query -> one-line claim the plan below should evidence
CLAIMS = {
    "q_scd2_dim": "ONE user-key exchange + ONE sort drive all three window passes",
    "q_sessionize": "one user-key exchange shared by break-detect, run-sum and aggregation",
    "q_tfidf_topterms": "document frequency via partial-aggregated groupBy + broadcast join-back; ONE persisted corpus aggregation, no token window",
    "q_bm25_topdocs": "TWO corpus exchanges total: (doc,token) tf build, then ONE doc_id exchange feeding the dl window, corpus stats and the already-co-partitioned score aggregate (r13 restructure); stats broadcast; rank on rounded score",
    "q_dedup_minhash": "explode -> map-side partial_min combine; exchange carries docs x 32 longs, not shingles",
    "q_join_bucketed": "co-located sort-merge join with zero Exchange",
    "q_join_skew_salted": "salted hot key stays a hash equi-join",
    "q_agg_groupby": "partial_sum map-side combine before the exchange",
    "q_anomaly_zscore": "three window aggregates share one frame over one exchange",
    "q_hampel_filter": "bounded frame lists + codegen array kernels, one exchange",
    "q_fuzzy_pairs": "exact-group hash aggregate caps replica densification; star + rep-rep edges are hash equi-joins; levenshtein inside codegen",
    "q_dedup_embcos": "corpus-sized LSH bucket id is the ONLY join key (adaptive_planes); no all-pairs anywhere",
    "q_sql_tpch_q1": "scan -> partial agg -> exchange -> final agg, whole-stage codegen",
    "q_lm_score": "vocab groupBy (map-side combine) + BROADCAST join-back; no sort-merge of the token stream",
    "q_winsorize": "quantile windows consume the (group, cents) histogram exchange, never raw rows; thresholds broadcast",
    "q_zorder_scan": "pure interleave projection: zero exchange, box predicate pushed to the scan",
    "q_pit_join": "interval match rides a user_id equi-join; dim built on ONE user-key exchange",
    "q_curation_pipeline": "quality gate fused into the scan; dedup = digest groupBy + equi-join; two bounded shuffles total",
    "q_pagerank": "per iteration: edge-against-rank shuffle + map-side-combined dst agg; node scalars broadcast",
    "q_dedup_substr": "window hashes JVM-side inside the explode (fan-out exchange carries RAW docs); interval merge on one doc-key exchange",
    "q_clone_shallow": "absolute-path scan + BROADCAST partition-value join from the log; no hive inference outside the table root",
    "q_row_tracking": "row ids = baseRowId + parquet row_index; per-file bases BROADCAST; DV anti-join after id derivation",
    "q_liquid_cluster": "post-OPTIMIZE read: box predicate pruned to O(selectivity) files via footer stats, zero shuffle (the Hilbert rewrite itself is ONE range exchange, pinned in test_plan_shapes)",
    "q_pii_scrub": "five-class redaction is a narrow JVM regex chain in whole-stage codegen: zero exchange, zero Python",
    "q_html_extract": "comment/tag/script/style strip + density in one codegen projection: zero exchange, zero Python",
    "q_multimodal_audio_probe": "blob scan coalesced to ~2 tasks/core before ONE Arrow stage: no 1500-task Python round-trip storm on tiny files",
    "q_line_dedup": "boilerplate detection shuffles only (xxhash64, doc_id) pairs; full rows move once, in the per-doc reassembly",
    "q_dedup_url": "canonicalize is a narrow codegen map; ONE exchange total (the grouped aggregate)",
    "q_knn_graph": "broadcast sample scorer widened to full parallelism; mutual filter is a hash EQUI-join on the reversed key pair, O(n*k) edge rows",
    "q_rank_fusion": "lexical side is the bm25 two-exchange shape; dense side broadcasts ONE query vector; fusion full-join touches <=100 rows",
    "q_bloom_prune": "bloom probe is a Filter of codegen'd blob-literal byte tests BELOW the big side's exchange; exact semi-join sees only survivors",
    "q_tokenize_bpe": "corpus reduces to (word,count) FIRST (vocabulary-width shuffle); BPE string work runs once per distinct word, zero Python",
    "q_graph_bfs": "per-round frontier-adjacency hash equi-join + visited anti-join; no full-graph pass, no cartesian",
    "q_sketch_kmv": "ONE (type,user) distinct combine; per-group top-k window over hashes; estimate in exact decimal integer math",
    "q_sketch_kmv_intersect": "pair algebra over k-long sketches (10 pairs x <=128 rows); corpus touched once in the distinct combine",
    "q_sketch_quantile": "sketch build = map-side Partial WindowGroupLimit BELOW the single per-group exchange (shuffle carries <= k x tasks rows/group); estimate rank + sample size share ONE window exchange; 3-row permille table broadcast",
    "q_sketch_quantile_merge": "per-(type,day) shards truncate map-side; the merge consumes shards x k sketch rows, never the corpus; merged and direct estimates share the broadcast permille join",
    "q_sketch_wsample": "priority-sample build = map-side Partial WindowGroupLimit BELOW the single per-group exchange (shuffle carries <= (k+1) x tasks rows/group); threshold + ranks from ONE window exchange; shard-merge consumes shards x (k+1) sketch rows, never the corpus",
    "q_tokenize_bpe_e2e": "train + apply share the SAME vocabulary-width (word,count) frame; supersteps barrier to parquet (one argmax row/round to the driver); the learned-table apply is n chained codegen replaces, zero Python",
}


def elide_literals(plan: str) -> str:
    """Giant constants (e.g. the bloom blob prints as a 512 KB hex
    literal) carry no plan-shape information — elide them so the
    document stays readable and diffable."""
    return re.sub(
        r"0x[0-9A-Fa-f]{512,}",
        lambda m: f"0x<{len(m.group(0)) // 2 - 1}-byte literal elided>",
        plan,
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:]
    spark = get_spark(app_name="plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    def plan(name: str) -> str:
        df = specs[name].fn(spark, sf_dir)
        return elide_literals(df._jdf.queryExecution().executedPlan().toString())

    if names:
        for name in names:
            print(f"## {name}\n\n```\n{plan(name).rstrip()}\n```\n")
        spark.stop()
        return
    out = ["# PLANS — physical plans for the scale-critical queries",
           "",
           f"Generated by tools/plan_report.py at {os.path.basename(sf_dir)};",
           "regenerate after plan-affecting changes. Each section states the",
           "shape claim the plan evidences (also pinned by",
           "tests/test_plan_shapes.py where load-bearing).", ""]
    for name, claim in CLAIMS.items():
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Claim:** {claim}")
        out.append("")
        out.append("```")
        out.append(plan(name).rstrip())
        out.append("```")
        out.append("")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(CLAIMS)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
