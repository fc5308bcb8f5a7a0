"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: median sec, ...}, "sf": <float>,
     "trials": N, "spread": {name: max-min sec, ...}}

Each query is forced end-to-end with the noop sink (full computation,
no driver materialization cost). A warmup query amortizes JVM/session
startup out of the numbers.

Methodology (round-4 fix): per-query time is the MEDIAN of
``SPARK_GRAFT_TRIALS`` (default 5) runs after a first discarded run
that absorbs one-time whole-stage-codegen compilation; ``spread``
(max − min over the timed runs) is reported so a claimed effect can be
judged against run-to-run variance — round-3's ±25–75% swings on
unchanged code came from best-of-2 sampling. ``SPARK_GRAFT_TRIALS=0``
times one run per query and discards none: the single-session headline
sweep at a large scale factor."""

from __future__ import annotations

import glob
import json
import math
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pulsar_io_delta_spark.registry import all_queries  # noqa: E402
from pulsar_io_delta_spark.session import get_spark, session_scrub  # noqa: E402

HEADLINE = [
    # reference surface
    "q_snapshot_scan",
    "q_cdc_envelope",
    "q_hash_route",
    # relational core
    "q_agg_groupby",
    "q_agg_rollup",
    "q_join_inner",
    "q_join_broadcast",
    "q_join_range",
    "q_window_rank",
    "q_topk",
    # SQL front door (round 4: TPC-H suite completed)
    "q_sql_tpch_q1",
    "q_sql_tpch_q18",
    # streaming
    "q_stream_tumbling",
    "q_stream_watermark_dedup",
    # round 6: watermark late-drop through out-of-order micro-batches
    "q_stream_late_data",
    # LLM pipeline
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_dedup_embcos",
    "q_text_tokens",
    "q_text_quality",
    "q_sim_topk",
    # training-data pipeline (round 2)
    "q_sample_hash",
    "q_repetition_metrics",
    "q_domain_cap",
    "q_pulsar_wire",
    # round-5 pipeline ops (sessionize/funnel/embedding column/chunk/tfidf)
    "q_sessionize",
    "q_funnel",
    "q_emb_quantize",
    "q_chunk_docs",
    "q_tfidf_topterms",
    "q_retention_cohort",
    # round-6 ops (co-located join, continuous aggregate, GK quantiles)
    "q_join_bucketed",
    "q_time_rollup_multires",
    "q_agg_approx_quantiles",
    # late-round-6 ops: dedup clustering (iterative parquet-barrier
    # supersteps — the 100 TB fault-tolerant shape, so its wall time IS
    # multiple materialized rounds), ER fuzzy matching, BM25, decimal
    # EWMA fold, SCD2 history
    "q_dedup_cc",
    "q_fuzzy_pairs",
    "q_bm25_topdocs",
    "q_ewma",
    "q_scd2_dim",
    "q_anomaly_zscore",
    "q_hampel_filter",
    "q_markov_transitions",
    "q_profile_stats",
    "q_dedup_incremental",
    # late round 6: curation + maintenance surface (pipeline3)
    "q_lm_score",
    "q_winsorize",
    "q_snapshot_diff",
    "q_zorder_scan",
    "q_pit_join",
    "q_curation_pipeline",
    "q_geohash",
    "q_geo_join",
    "q_pagerank",
    # round 8: real JPEG entropy-decode pipeline (two chained Arrow
    # mapInPandas stages) and the DV merge-on-read read path
    "q_multimodal_jpeg",
    "q_dv_read",
    # round 8: span-level exact-substring dedup (rolling-hash windows,
    # hash-only shuffle)
    "q_dedup_substr",
    # round 8: PNG codec pipeline, shallow clone, DV purge, and the
    # rate-limited stream drain (each includes its table-write fixture
    # setup — the cost measured is the full lifecycle, not just a read)
    "q_multimodal_png",
    "q_clone_shallow",
    "q_reorg_purge",
    "q_stream_rate_limit",
    # round 12: the sink-cost-isolated drain twin — the gap between
    # these two IS the memory sink's share of the rate-limit wall time
    "q_stream_rate_limit_drain",
    # round 12: C4-style cross-doc line dedup (hash-only boilerplate
    # shuffle + per-doc reassembly) and URL-canonicalization dedup
    # (narrow canonicalize map + one grouped aggregate)
    "q_line_dedup",
    "q_dedup_url",
    # round 11: MPEG frame probe (metadata without decode) and the two
    # curation regex chains (PII scrub / boilerplate extraction)
    "q_multimodal_audio_probe",
    "q_pii_scrub",
    "q_html_extract",
    # round 13: mutual k-NN graph construction (broadcast sample topk +
    # reversed-key equi-join) and RRF hybrid retrieval (BM25 ⊕ cosine)
    "q_knn_graph",
    "q_rank_fusion",
    # round 13: bloom-pruned semi-join (blob-literal probe pre-shuffle)
    # and vocabulary-level BPE tokenizer apply
    "q_bloom_prune",
    "q_tokenize_bpe",
    # round 13: mergeable KMV distinct sketch + its set-operation algebra
    "q_sketch_kmv",
    "q_sketch_kmv_intersect",
    # round 14 (VERDICT r13 #2): the nine r13 queries the budget
    # machinery could not yet see — led by the two graph heavyweights
    # (the cc/pagerank precedent: graph queries dominate the tail, so a
    # regression there must be budget-visible). q_domain_metadata and
    # q_constraints_lifecycle are metadata-plane-sized; included rather
    # than exempted so EVERY registered-and-benchable query family has
    # a frozen number.
    "q_graph_triangles",
    "q_graph_bfs",
    "q_inverted_index",
    "q_dedup_containment",
    "q_line_dedup_nl",
    "q_source_xml",
    "q_stream_sketch_kmv",
    "q_domain_metadata",
    "q_constraints_lifecycle",
    # round 14: the quantile sketch family (batch build, shard merge,
    # streaming Delta store) and BPE merge-table training (10 iterative
    # supersteps — its wall time IS the materialized rounds, the
    # dedup_cc precedent)
    "q_sketch_quantile",
    "q_sketch_quantile_merge",
    "q_stream_sketch_quantile",
    "q_tokenize_bpe_train",
    # round 15: the weighted-sample sketch pair (batch build + estimate
    # + shard-merge replay; streaming Delta store) and train-then-apply
    # BPE (the full production tokenizer path — supersteps plus the
    # learned-table apply, so its wall subsumes q_tokenize_bpe_train's)
    "q_sketch_wsample",
    "q_stream_sketch_wsample",
    "q_tokenize_bpe_e2e",
    # round 16: the wsample application — subset-sum mixture allocation
    # from the priority sample (sketch-sized frames after one labeled
    # broadcast join)
    "q_corpus_mix",
]


def _read_proc_stat() -> dict[str, int]:
    """Aggregate cpu jiffies from /proc/stat (user nice system idle
    iowait irq softirq steal)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
        return dict(zip(names, (int(x) for x in parts[1:9])))
    except (OSError, ValueError):
        return {}


def _proc_tree_jiffies() -> int:
    """utime+stime jiffies of THIS process and every live descendant
    (the py4j-launched Spark JVM and its children), by one /proc scan.
    Used to split busy_frac into self vs EXTERNAL load: the bench's own
    Spark work puts total busy_frac at ~0.2 on a 32-cpu rig even on an
    otherwise idle machine (round 13 — r12 misread that as external)."""
    me = os.getpid()
    ppid: dict[int, int] = {}
    cpu: dict[int, int] = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        # field 2 (comm) may contain spaces/parens — split after ')'
        rest = raw.rsplit(")", 1)[-1].split()
        pid = int(ent)
        ppid[pid] = int(rest[1])  # field 4
        cpu[pid] = int(rest[11]) + int(rest[12])  # utime+stime
    kids: dict[int, list[int]] = {}
    for p, pp in ppid.items():
        kids.setdefault(pp, []).append(p)
    total, stack = 0, [me]
    while stack:
        p = stack.pop()
        total += cpu.get(p, 0)
        stack.extend(kids.get(p, ()))
    return total


def rig_fingerprint(
    stat_before: dict[str, int] | None = None, self_before: int | None = None
) -> dict:
    """Machine-state provenance for the bench payload (VERDICT r9 #4:
    a 35% total swing on unchanged plans needs to be attributable to
    the rig, not argued from spreads after the fact). Records load
    average, cpu count, frequency governor, and — when a before-run
    /proc/stat snapshot is given — the busy and steal fractions over
    the run itself. ``ext_busy_frac`` (round 13) subtracts the bench's
    OWN process tree from the busy time: the number a quiet-rig gate
    must read (total busy_frac is ~0.2 from self-load alone)."""
    rig: dict = {"cpus": os.cpu_count()}
    try:
        rig["load1"], rig["load5"], rig["load15"] = (
            round(x, 2) for x in os.getloadavg()
        )
    except OSError:
        pass
    try:
        with open("/sys/devices/system/cpu/cpu0/cpufreq/scaling_governor") as fh:
            rig["governor"] = fh.read().strip()
    except OSError:
        rig["governor"] = None
    if stat_before:
        after = _read_proc_stat()
        delta = {k: after.get(k, 0) - stat_before.get(k, 0) for k in stat_before}
        total = sum(delta.values())
        if total > 0:
            busy = total - delta.get("idle", 0) - delta.get("iowait", 0)
            rig["busy_frac"] = round(busy / total, 3)
            rig["steal_frac"] = round(delta.get("steal", 0) / total, 4)
            if self_before is not None:
                try:
                    self_delta = _proc_tree_jiffies() - self_before
                    rig["ext_busy_frac"] = round(
                        max(busy - self_delta, 0) / total, 3
                    )
                except OSError:
                    pass
    return rig


def previous_freeze(root: str, protocol: str, sf: float) -> dict | None:
    """The newest committed ``BENCH_local_r<N>[_<suffix>].json`` freeze
    measured under ``protocol`` at scale factor ``sf``, or None. A
    freeze of another protocol (or an unstamped one) is never compared
    against: its timings measure a different session regime."""
    best: tuple[int, str] | None = None
    for p in glob.glob(os.path.join(root, "BENCH_local_r*.json")):
        m = re.search(r"BENCH_local_r(\d+)(?:_[\w-]+)?\.json$", p)
        if m is None:
            continue
        with open(p) as fh:
            freeze = json.load(fh)
        if freeze.get("protocol") != protocol:
            continue
        if abs(sf - float(freeze.get("sf", 0.1))) >= 1e-9:
            continue
        if best is None or (int(m.group(1)), p) > best:
            best = (int(m.group(1)), p)
    if best is None:
        return None
    with open(best[1]) as fh:
        return json.load(fh)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    budgets_name = None
    argv = sys.argv[1:]
    headline = HEADLINE
    if "--only" in argv:
        # focused re-measure of a query subset (same protocol: noop
        # sink, discarded compile run, median of N trials). Diagnostic
        # only — the driver invokes bench.py with no flags, so the
        # official payload is always the full HEADLINE list.
        names = argv[argv.index("--only") + 1].split(",")
        unknown = [n for n in names if n not in HEADLINE]
        if unknown:
            raise SystemExit(f"--only: not in HEADLINE: {unknown}")
        headline = names
    if "--budgets" in argv:
        # --budgets sf1 → check against BENCH_budgets_sf1.json (a second
        # frozen table so SCALE regressions are per-query-visible, not
        # only in the sf0.1-vs-sf1 total); default stays BENCH_budgets.json
        budgets_name = argv[argv.index("--budgets") + 1]
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0
    spark = get_spark(app_name="pids-bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    stat_before = _read_proc_stat()
    self_before = _proc_tree_jiffies()

    def run(name: str) -> float:
        # q_tfidf_topterms persist()s its tf subplan (the aggregate-once
        # scale contract); without this, trials 2..N would hit the warm
        # cache and the median would measure a partial pipeline.
        spark.catalog.clearCache()
        t0 = time.time()
        df = specs[name].fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        return time.time() - t0

    # Warmup: session/parquet caches + Python UDF worker pool (pandas-UDF
    # queries otherwise pay ~1-2 s one-time worker startup in their timing).
    from pyspark.sql.functions import col, pandas_udf

    try:
        run("q_filter_project")
        identity = pandas_udf("long")(lambda s: s)
        spark.range(1000).select(identity(col("id"))).write.mode("overwrite").format(
            "noop"
        ).save()
    except Exception as exc:  # noqa: BLE001 — warm-up failure is not fatal
        print(f"# warmup failed: {type(exc).__name__}: {exc}", file=sys.stderr)

    # Median of N trials after one discarded compile run: the first
    # execution pays one-time whole-stage-codegen compilation (~4 s for
    # the 7-aggregate Q1 tree); steady-state is what a resident engine
    # delivers, and the median over >=5 runs keeps run-to-run variance
    # out of cross-round comparisons.
    trials = int(os.environ.get("SPARK_GRAFT_TRIALS", "5"))
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    errors: dict[str, str] = {}
    query_rig: dict[str, dict[str, float]] = {}
    for name in headline:
        # Round-4 lesson: one failing query must cost ONE entry, not the
        # whole bench (the events-ts fixture drift crashed the warm-up
        # and left the round with no numbers at all).
        try:
            # Measurement fix (r16, declared in OPTIMIZATION_r16.md):
            # scrub session debris BETWEEN queries — outside any timed
            # window — so each median prices the query, not the 88
            # queries before it. The 89-query session accumulates
            # driver-held memory-sink tables, loaded state-store
            # providers and GC-pending checkpoint/broadcast blocks;
            # measured at sf0.1 this inflated q_dedup_substr (position
            # 57) from 1.10 s isolated to 6.89 s in-session with ZERO
            # external load (per-query ext_busy 0.0). Same mechanism
            # the r15 sf10 sweep OOM'd on; session_scrub is the
            # documented long-running-driver hygiene. Trials still run
            # back-to-back with only clearCache between them.
            session_scrub(spark)
            if trials:
                run(name)  # discarded: codegen compile + cache warm
            # Per-query rig attribution (r16, VERDICT r15 #1): the
            # whole-run ext_busy mean cannot see BURSTS — a host-steal
            # spike during one query's 3 s window vanishes into a
            # 100 s average, and the streaming family (latency-bound
            # micro-batch machinery) is precisely the set it hits
            # hardest. Record external-busy and steal over each
            # query's own trial window so a slow sample is
            # attributable without a re-run.
            q_stat = _read_proc_stat()
            q_self = _proc_tree_jiffies()
            # SPARK_GRAFT_TRIALS=0: one timed run, none discarded
            samples = [run(name) for _ in range(max(trials, 1))]
            after = _read_proc_stat()
            delta = {k: after.get(k, 0) - q_stat.get(k, 0) for k in q_stat}
            qtot = sum(delta.values())
            if qtot > 0:
                qbusy = qtot - delta.get("idle", 0) - delta.get("iowait", 0)
                try:
                    self_d = _proc_tree_jiffies() - q_self
                except OSError:
                    self_d = 0
                query_rig[name] = {
                    "ext_busy": round(max(qbusy - self_d, 0) / qtot, 3),
                    "steal": round(delta.get("steal", 0) / qtot, 4),
                }
            timings[name] = round(statistics.median(samples), 3)
            spreads[name] = round(max(samples) - min(samples), 3)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline query wall time (noop sink, local)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "trials": trials,
        "spread": spreads,
        "rig": rig_fingerprint(stat_before, self_before),
        "query_rig": query_rig,
        # measurement-protocol stamp (ADVICE r16 #4): "scrub-v1" is the
        # r16+ between-queries session_scrub protocol; "warm-v0" is the
        # pre-r16 warm-session protocol the r7 anchors were frozen under.
        "protocol": "scrub-v1",
    }
    if errors:
        payload["errors"] = errors
        payload["value"] = None  # partial totals are not comparable

    # Per-query budget check (BASELINE.md "Per-query budget table"):
    # each query is held to 2× its round-7 frozen median, so a per-query
    # regression fails visibly even when the TOTAL stays inside the
    # global envelope. Budgets are sf0.1-calibrated — at other SFs the
    # check is informational only.
    over_budget: dict[str, list[float]] = {}
    no_budget: list[str] = []
    budget_ratios: dict[str, float] = {}
    fname = (
        f"BENCH_budgets_{budgets_name}.json" if budgets_name else "BENCH_budgets.json"
    )
    budgets_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), fname)
    try:
        with open(budgets_path) as fh:
            budget_spec = json.load(fh)
        budgets = budget_spec.get("budget_sec", {})
        if abs(sf - float(budget_spec.get("sf", 0.1))) < 1e-9:
            for name, sec in timings.items():
                b = budgets.get(name)
                if b is None:
                    no_budget.append(name)
                else:
                    budget_ratios[name] = round(sec / b, 2)
                    if sec > b:
                        over_budget[name] = [sec, b]
            payload["over_budget"] = over_budget
            if no_budget:
                payload["no_budget"] = sorted(no_budget)
    except (OSError, ValueError) as exc:
        print(f"# budget check skipped: {exc}", file=sys.stderr)

    # Anchor-drift report (VERDICT r10 #3): budgets get re-frozen each
    # round (2× current medians), which silently absorbs slow creep —
    # q_pagerank drifted 2.69 s (r7) → 3.54 s (r10) without ever going
    # over a refreshed budget. BENCH_anchor_r7.json is the IMMUTABLE
    # round-7 median table; every run reports its ratio to it so
    # cross-round creep stays visible without a judge diff. Rig load
    # shifts the ratios uniformly — read them against rig.busy_frac.
    anchor_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_anchor_r7.json"
    )
    try:
        with open(anchor_path) as fh:
            anchor_spec = json.load(fh)
        if abs(sf - float(anchor_spec.get("sf", 0.1))) < 1e-9:
            anchor = anchor_spec.get("median_sec", {})
            drift = {
                name: round(timings[name] / anchor[name], 2)
                for name in timings
                if name in anchor and anchor[name] > 0
            }
            if drift:
                payload["drift_vs_r7"] = drift
                ratios = sorted(drift.values())
                payload["drift_vs_r7_summary"] = {
                    "n": len(ratios),
                    "median": ratios[len(ratios) // 2],
                    "max": ratios[-1],
                    "n_gt_2x": sum(r > 2.0 for r in ratios),
                }
    except (OSError, ValueError) as exc:
        print(f"# anchor drift skipped: {exc}", file=sys.stderr)

    # Birth-anchor drift (VERDICT r15 #6): queries younger than the r7
    # table are held to their BIRTH-round frozen median
    # (BENCH_anchor_birth.json, generated once per query by
    # tools/make_birth_anchors.py and immutable by provenance), so
    # creep on them is visible from their first frozen round — the
    # same discipline the r7 anchor enforces on the original 53.
    birth_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_anchor_birth.json"
    )
    try:
        with open(birth_path) as fh:
            birth_spec = json.load(fh)
        if abs(sf - float(birth_spec.get("sf", 0.1))) < 1e-9:
            banchor = birth_spec.get("median_sec", {})
            bdrift = {
                name: round(timings[name] / banchor[name], 2)
                for name in timings
                if name in banchor and banchor[name] > 0
            }
            if bdrift:
                payload["drift_vs_birth"] = bdrift
                ratios = sorted(bdrift.values())
                payload["drift_vs_birth_summary"] = {
                    "n": len(ratios),
                    "median": ratios[len(ratios) // 2],
                    "max": ratios[-1],
                    "n_gt_2x": sum(r > 2.0 for r in ratios),
                }
    except (OSError, ValueError) as exc:
        print(f"# birth anchor drift skipped: {exc}", file=sys.stderr)

    # Round-7 fix (VERDICT r6 #1): the full payload (53 queries + spreads,
    # ~2.6 KB) overflows the driver's 2000-char tail capture, so round 6
    # recorded parsed=null and lost the official bench number.  Emit the
    # full detail first (humans / logs / BENCH_detail.json), then ONE
    # compact summary line LAST — guaranteed < 500 bytes — so the tail
    # capture always ends with a parseable JSON line.
    print(json.dumps(payload))
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH_detail_only.json" if headline is not HEADLINE else "BENCH_detail.json",
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(payload, fh, indent=1)
    except OSError as exc:
        print(f"# could not write {detail_path}: {exc}", file=sys.stderr)
    # VERDICT r16 #4: the driver's per-query PERF comparison has been
    # structurally empty every round (the full payload is ~10× the
    # 2000-char tail capture). Spend the summary line's spare bytes on
    # the top-3 now/budget ratios ("worst") and the top-3 |log-ratio|
    # movers vs the previous committed freeze ("top_moves") so the
    # official record names the worst per-query movers.
    worst = dict(sorted(budget_ratios.items(), key=lambda kv: -kv[1])[:3])
    top_moves: dict[str, float] = {}
    try:
        prev = previous_freeze(
            os.path.dirname(os.path.abspath(__file__)), payload["protocol"], sf
        )
        if prev is not None:
            prev_q = prev.get("queries", {})
            moves = {
                n: round(max(sec / prev_q[n], 0.01), 2)
                for n, sec in timings.items()
                if prev_q.get(n)
            }
            top_moves = dict(
                sorted(moves.items(), key=lambda kv: -abs(math.log(kv[1])))[:3]
            )
    except (OSError, ValueError):
        pass
    rig = payload["rig"]
    summary = {
        "metric": "headline query wall time (noop sink, local)",
        "value": payload["value"],
        "unit": "sec",
        "n_queries": len(timings),
        "n_errors": len(errors),
        "n_over_budget": len(over_budget),
        "sf": sf,
        "trials": trials,
        "load1": rig.get("load1"),
        "busy_frac": rig.get("busy_frac"),
        "drift_r7": payload.get("drift_vs_r7_summary"),
        "worst": worst,
        "top_moves": top_moves,
        "detail": "BENCH_detail.json",
    }
    line = json.dumps(summary)
    # tail-capture safety must hold under `python -O` too (an assert
    # would be stripped, and failing after results are computed would
    # lose the run) — shed the new fields first, then degrade to the
    # minimal parseable summary.
    for field in ("top_moves", "worst", "drift_r7"):
        if len(line) >= 500:
            summary.pop(field, None)
            line = json.dumps(summary)
    if len(line) >= 500:
        line = json.dumps({"metric": summary["metric"], "value": summary["value"],
                           "unit": "sec", "sf": sf})
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
