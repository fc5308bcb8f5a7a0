"""Training-data pipeline operators beyond the reference's surface:
deterministic sampling, PII redaction, repetition (quality) metrics,
stratified domain capping, and the Pulsar wire-format boundary.

All hot paths are built-in Spark SQL expressions (JVM-side, codegen'd);
murmur3 routing is the one pandas UDF, at the producer boundary only.
Every operator is a narrow transform or a single keyed aggregate — the
shapes that scale linearly with input splits at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pulsar_io_delta_spark.functions.murmur3 import murmur3_route_col
from pulsar_io_delta_spark.operators.text import TOKEN_SPLIT_RE

# Knuth's multiplicative hash constant (2^32 / golden ratio): spreads
# sequential ids uniformly over the 32-bit ring with plain integer
# arithmetic, so the SAME expression runs on any SQL engine — the
# cross-engine-verifiable default. For arbitrary (non-sequential,
# 64-bit) keys prefer hash_sample_xx below.
KNUTH32 = 2654435761
M32 = 1 << 32


def hash_sample_predicate(id_col: Column, fraction: float) -> Column:
    """Deterministic, partitioning-independent sampling predicate:
    keep iff multiplicative-hash bucket < fraction of the 32-bit ring.

    Unlike ``df.sample()`` (seeded per-partition → resample on any
    repartition), the decision is a pure function of the id: stable
    across runs, cluster sizes, and engines. Caller guarantees
    ``id * KNUTH32`` stays in int64 (ids < ~3.4e9; true for every
    fixture id)."""
    threshold = int(M32 * fraction)
    return F.pmod(id_col.cast("long") * F.lit(KNUTH32), F.lit(M32)) < F.lit(threshold)


def hash_sample_xx(id_col: Column, fraction: float) -> Column:
    """Production variant for arbitrary keys: xxhash64 bucket. Not
    SQL-oracle-expressible (engine-specific hash) — semantics otherwise
    identical to hash_sample_predicate."""
    threshold = int(M32 * fraction)
    return F.pmod(F.xxhash64(id_col), F.lit(M32)) < F.lit(threshold)


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def redact_pii(text: Column) -> Column:
    """Mask emails then phone-number-shaped spans (narrow, codegen'd).
    The pattern set is deliberately small and deterministic — the
    contract is 'same bytes on every engine', not NLP-grade recall."""
    no_email = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(no_email, PHONE_RE, "<PHONE>")


def word_bigram_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals per document: total / distinct
    word bigrams, duplicate-bigram fraction, top-bigram fraction.

    Shape: entirely row-local — a narrow map fused into the scan (ZERO
    shuffles; the earlier explode + double groupBy version shuffled xW
    rows twice). The distinct/max-multiplicity stats come from sorted
    run-length counts (operators/text.py with_run_length_counts),
    O(len·log len) per row — the earlier O(distinct×total)
    array_distinct + per-bigram filter form also re-inlined its
    subexpressions per lambda reference. Documents with fewer than two
    tokens are excluded (no bigrams)."""
    from pulsar_io_delta_spark.operators.text import with_run_length_counts

    toks = F.filter(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != "")
    with_toks = df.select(F.col(id_col), toks.alias("t")).where(F.size("t") >= 2)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("t") - 1),
        lambda i: F.concat_ws(" ", F.slice("t", i, 2)),
    )
    b = with_toks.select(F.col(id_col), bigrams.alias("bg"))
    b, counts_col = with_run_length_counts(b, F.col("bg"), prefix="_bm")
    counts = F.col(counts_col)
    total = F.size("bg").cast("long")
    distinct = F.size(counts).cast("long")
    max_c = F.array_max(counts)
    return b.select(
        F.col(id_col),
        total.alias("total_bigrams"),
        distinct.alias("distinct_bigrams"),
        F.round(F.lit(1.0) - distinct * F.lit(1.0) / total, 4).alias("dup_frac"),
        F.round(max_c * F.lit(1.0) / total, 4).alias("top_frac"),
    )


def stratified_cap(
    df: DataFrame, strata_col: str, order_col: str, cap: int
) -> DataFrame:
    """Domain mixing: keep at most ``cap`` rows per stratum, chosen by a
    deterministic total order — the 'cap each source, keep the rest'
    step of a data-mixing recipe. One shuffle on the stratum key; a
    skewed stratum is bounded by ``cap`` at the reducer."""
    w = Window.partitionBy(strata_col).orderBy(order_col)
    return (
        df.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= cap)
    )


def split_assign(id_col: Column, fractions: dict[str, float]) -> Column:
    """Deterministic train/val/test assignment: the multiplicative-hash
    bucket of the id lands in cumulative fraction ranges. A pure
    function of the id — membership survives reshuffles, engine swaps,
    and incremental corpus growth (new ids never move old ones)."""
    bucket = F.pmod(id_col.cast("long") * F.lit(KNUTH32), F.lit(M32))
    expr = None
    acc = 0.0
    for name, frac in fractions.items():
        acc += frac
        cond = bucket < F.lit(int(M32 * acc))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return expr.otherwise(list(fractions)[-1])


def decontaminate_overlap(
    df: DataFrame,
    bench_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Eval-set decontamination: per-document fraction of distinct word
    ``n``-grams that also occur in the benchmark corpus.

    Scale shape: the benchmark's distinct gram set is aggregated to a
    single array row and BROADCAST; each corpus document then computes
    `array_intersect` locally — a narrow map over the 100 TB side, no
    explode-shuffle of the corpus. (Eval benchmarks are ~10^5 grams;
    if the set ever outgrows a broadcast, fall back to the exploded
    gram equi-join.) Documents with fewer than ``n`` tokens are
    excluded (no grams)."""

    def grams(col: Column) -> Column:
        t = F.filter(F.split(F.lower(col), TOKEN_SPLIT_RE), lambda x: x != "")
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            )
        )

    tok_guard = F.size(
        F.filter(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE), lambda x: x != "")
    )
    bench = (
        bench_df.where(tok_guard >= n)
        .select(F.explode(grams(F.col(text_col))).alias("gram"))
        .agg(F.array_distinct(F.collect_list("gram")).alias("bench_grams"))
    )
    docs = df.where(tok_guard >= n).select(
        F.col(id_col), grams(F.col(text_col)).alias("g")
    )
    joined = docs.crossJoin(F.broadcast(bench))
    return joined.select(
        F.col(id_col),
        F.size("g").cast("long").alias("n_grams"),
        F.size(F.array_intersect("g", "bench_grams")).cast("long").alias("n_hit"),
        F.round(
            F.size(F.array_intersect("g", "bench_grams"))
            * F.lit(1.0)
            / F.size("g"),
            4,
        ).alias("overlap_frac"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 30,
    min_alpha: float = 0.81,
    min_distinct: float = 0.40,
) -> DataFrame:
    """Composed FineWeb/Dolma-shape quality gate: per-document signals
    plus the first failed rule ('ok' = document kept).

    Rules, in precedence order:
      too_short   n_tokens < min_tokens
      low_alpha   alphabetic-char ratio < min_alpha
      repetitive  distinct-token ratio < min_distinct  (cheap narrow
                  proxy for Gopher repetition; the exact bigram metrics
                  live in word_bigram_metrics)

    Entirely narrow, codegen'd built-ins — no shuffle, no Python; at
    100 TB this is a pure map stage fused into the scan."""
    t = F.col(text_col)
    toks = F.filter(F.split(F.lower(t), "[^a-z0-9]+"), lambda x: x != "")
    nt = F.size(toks).cast("long")
    ar = F.length(F.regexp_replace(t, "[^a-z]", "")) * F.lit(1.0) / F.greatest(
        F.length(t), F.lit(1)
    )
    dr = F.size(F.array_distinct(toks)) * F.lit(1.0) / F.greatest(
        F.size(toks), F.lit(1)
    )
    reason = (
        F.when(nt < min_tokens, "too_short")
        .when(ar < min_alpha, "low_alpha")
        .when(dr < min_distinct, "repetitive")
        .otherwise("ok")
    )
    return df.select(
        "*",
        nt.alias("n_tokens"),
        F.round(ar, 4).alias("alpha_ratio"),
        F.round(dr, 4).alias("distinct_ratio"),
        reason.alias("fail_reason"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count: Column,
    budget: int,
    shards: int = 8,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing (the LLM-pretraining
    layout): documents are laid head-to-tail in a deterministic order
    and cut into fixed ``budget``-token packs; a document that straddles
    a cut emits one fragment row per pack it touches.

    Output: (id, shard, pack_id, pack_offset, frag_tokens) — enough for
    a writer to materialize each pack by concatenating fragments in
    (pack_id, pack_offset) order.

    Scale shape: the running-offset window is PARTITIONED BY a
    deterministic shard key (id % shards), so no global single-reducer
    sort exists; each shard packs independently and ``shards`` is sized
    to cluster parallelism. Cross-engine determinism comes from the
    id-based shard + order (no seeded RNG, no partition dependence)."""
    base = df.select(
        F.col(id_col),
        F.pmod(F.col(id_col), F.lit(shards)).cast("long").alias("shard"),
        token_count.cast("long").alias("n_tok"),
    ).where(F.col("n_tok") > 0)
    w = Window.partitionBy("shard").orderBy(id_col)
    cum = base.withColumn("end_off", F.sum("n_tok").over(w)).withColumn(
        "start_off", F.col("end_off") - F.col("n_tok")
    )
    first_p = F.floor(F.col("start_off") * F.lit(1.0) / budget).cast("long")
    last_p = F.floor((F.col("end_off") - 1) * F.lit(1.0) / budget).cast("long")
    spans = cum.withColumn("pack_id", F.explode(F.sequence(first_p, last_p)))
    frag_start = F.greatest(F.col("start_off"), F.col("pack_id") * budget)
    frag_end = F.least(F.col("end_off"), (F.col("pack_id") + 1) * budget)
    return spans.select(
        F.col(id_col),
        "shard",
        "pack_id",
        (frag_start - F.col("pack_id") * budget).cast("long").alias("pack_offset"),
        (frag_end - frag_start).cast("long").alias("frag_tokens"),
    )


def to_pulsar_wire(
    df: DataFrame, key_col: str, value: Column, num_partitions: int
) -> DataFrame:
    """The producer boundary frame: (key, value binary, partition_id).

    The reference hands each record to a Pulsar producer keyed by the
    canonical partition value with murmur3-seed-0 routing
    (`DeltaLakeConnectorSource.java:97-100`, `DeltaReader.java:60-63`);
    no broker/client exists in this environment, so this operator stops
    at the exact wire-format frame a producer would consume — key bytes,
    serialized value bytes, and the reference-parity partition id.

    ``partition_id`` is there for frame consumers and the oracle;
    ``fake_pulsar.publish`` routes from ``key`` and never reads it, so
    the routing UDF drops out of the plan it executes."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        value.cast("binary").alias("value"),
        murmur3_route_col(F.col(key_col).cast("string"), num_partitions).alias(
            "partition_id"
        ),
    )
