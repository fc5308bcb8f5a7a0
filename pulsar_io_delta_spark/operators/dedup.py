"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All variants stay JVM-side — no Python in the hot path, and (r17) no
higher-order lambdas in the gram/shingle/token stages either: those
evaluate on the interpreted expression path, which the r16 in-session
diagnosis proved session-age-sensitive (JIT deopt churn), so every hot
stage is explode-a-primitive-sequence + codegen'd builtins. Standard
scale shapes:

- exact: hash-groupBy (one shuffle on the dedup key);
- MinHash+LSH: per-row signature (narrow) → explode bands (xB rows) →
  groupBy/self-join on (band, band_hash). Candidate generation cost is
  proportional to bucket collisions, never O(n²);
- SimHash: 64 bit-majority aggregates per doc → near-dup candidates via
  banding 4×16-bit chunks (any chunk equal ⇒ hamming candidates);
- n-gram Jaccard: explode distinct n-grams → equi-join on gram →
  count-based Jaccard. Used on small candidate subsets; at 100 TB it is
  the *verify* stage after MinHash banding, not a global join;
- keep list: connected components over the verified pairs, through
  ``graph.connected_components`` and its superstep loop.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pulsar_io_delta_spark.operators.graph import connected_components
from pulsar_io_delta_spark.operators.par import fan_out
from pulsar_io_delta_spark.operators.text import tokens_col

# 31-bit Mersenne prime: keeps a*x + b within int64 under ANSI mode
# (a, x < 2^31 ⇒ a*x < 2^62), so the universal hash never overflows.
MERSENNE31 = (1 << 31) - 1


def exact_dedup(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Keep one row per key-set (all columns when keys is None)."""
    return df.dropDuplicates(keys) if keys else df.dropDuplicates()


def exact_content_groups(
    df: DataFrame, id_col: str, text_col: str, include_null: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Exact-content pre-collapse (the r15 sf10 keep-list fix, hoisted
    into a shared primitive in r16 so the minhash/simhash candidate
    generators get the same shape): group rows by byte-identical text
    and represent each group by its MINIMUM id.

    Returns ``(reps, members)``:

    - ``reps``:    (id, text) — one row per distinct non-NULL text,
                   id = min id of the group (so the representative IS
                   a real corpus row, and min-over-reps == min-over-
                   members for any downstream component labeling);
    - ``members``: (id, rid) — every non-NULL-text row mapped to its
                   representative. NULL texts are excluded by default
                   (callers with an every-row output contract route
                   them explicitly, as near_dedup_keep_list does);
                   ``include_null=True`` instead groups all NULL texts
                   as ONE content group (digest coalesced to a sentinel
                   that cannot collide with 64-hex sha2 output). The
                   pair generators need that: the row-level MinHash
                   path coalesces a NULL token array to the single
                   shingle ``""`` (concat_ws over a NULL slice), so
                   NULL-text rows DO sketch — identically to
                   empty-text rows — and must survive the collapse for
                   the pair set to stay byte-identical. Whether the
                   group actually emits pairs is then decided the same
                   way as every other group: by whether its
                   representative produces a sketch row (it does for
                   MinHash, it does not for SimHash's token explode).

    Grouping key is sha2-256 of the UTF-8 bytes, not md5 (ADVICE r15:
    chosen-prefix MD5 collisions are practical, and a curation pipeline
    ingests untrusted content — an adversarial pair must not silently
    collapse into one group). Same shuffle shape, collision-resistant.

    Scale shape: one groupBy on the digest (map-side partial; shuffle
    carries digest + id + one text per group-per-partition) and one
    digest equi-join to label members. Every downstream cost that was
    quadratic IN REPLICAS becomes quadratic in distinct CONTENT —
    the difference between 73 GB of spill and 36.9 s at sf10.

    CACHING CONTRACT (ADVICE r16): the returned frames (and the
    signature frames the pair generators build on them) are persist()ed
    with no unpersist — consumption outlives the operator. A long-lived
    session invoking these operators repeatedly must reclaim executor
    storage itself (``spark.catalog.clearCache()`` or
    ``session_scrub``), exactly as bench.py does between trials."""
    rows = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    if not include_null:
        rows = rows.where(F.col("text").isNotNull())
    hashed = rows.withColumn(
        "h",
        F.coalesce(F.sha2(F.encode("text", "UTF-8"), 256), F.lit("null")),
    )
    reps = hashed.groupBy("h").agg(
        F.min("id").alias("id"), F.min_by("text", "id").alias("text")
    )
    members = hashed.select("id", "h").join(
        reps.select(F.col("id").alias("rid"), "h"), "h"
    ).select("id", "rid")
    # Materialize the collapse ONCE (r16 plan audit): every consumer
    # fans reps/members into several branches (signature build, pair
    # expansion, label map-back), and without a persist Spark re-runs
    # the corpus scan + sha2 groupBy per branch — the static plan for
    # q_dedup_minhash showed 54 parquet scans / 26 sha2 aggregates of
    # the SAME subtree and zero ReusedExchange. One cached copy is
    # exactly what a 100 TB pipeline does with its collapsed corpus
    # (guide §5: reuse + recompute-cost justify the persist; spill-safe
    # MEMORY_AND_DISK). The tfidf/pagerank/triangles precedent applies:
    # no unpersist — consumption outlives the operator, and the bench /
    # long-driver hygiene (clearCache, session_scrub) reclaims blocks.
    reps = reps.select("id", "text").persist()
    members = members.persist()
    return reps, members


def expand_rep_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    value_cols: tuple[str, ...] = (),
    within_values: tuple[Column, ...] = (),
) -> DataFrame:
    """Expand representative-level candidate pairs back to row level:
    the pair/recall semantics of the uncollapsed operator, reproduced
    exactly.

    - CROSS-group: a rep pair (id_a, id_b) expands to every (a, b)
      with a ∈ group(id_a), b ∈ group(id_b), re-ordered as
      (least, greatest) — identical texts have identical signatures,
      so two groups share a bucket iff every cross pair does.
    - WITHIN-group: every pair inside a content group (identical text
      ⇒ identical signature ⇒ same bucket in every band). ``members``
      must already be restricted to rows whose representative HAS a
      signature (zero-token texts drop out of the sketch aggregates
      and must not resurface here — the composed wrappers handle it).

    ``value_cols`` ride along from the rep pair (e.g. hamming — a
    text-only function, so group-constant); ``within_values`` supplies
    the same columns for within-group pairs (e.g. hamming = 0).

    No ``distinct()`` is needed — and that is the structural win over
    the row-level path: rep pairs are distinct and group() is a
    function, so each row pair materializes exactly once, as narrow
    (long, long) output of two equi-joins; the old path shuffled the
    replica-quadratic pair set ×bands through a distinct first."""
    ma = members.select(F.col("rid").alias("id_a"), F.col("id").alias("_a"))
    mb = members.select(F.col("rid").alias("id_b"), F.col("id").alias("_b"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_a", "_b").alias("id_a"),
            F.greatest("_a", "_b").alias("id_b"),
            *[F.col(c) for c in value_cols],
        )
    )
    wl = members.select("rid", F.col("id").alias("_a"))
    wr = members.select("rid", F.col("id").alias("_b"))
    within = (
        wl.join(wr, "rid")
        .where(F.col("_a") < F.col("_b"))
        .select(
            F.col("_a").alias("id_a"),
            F.col("_b").alias("id_b"),
            *[v.alias(c) for c, v in zip(value_cols, within_values)],
        )
    )
    return cross.unionByName(within)


def _members_with_signature(members: DataFrame, sig: DataFrame) -> DataFrame:
    """Drop member rows whose representative produced no sketch row
    (e.g. zero-token text under simhash): the uncollapsed operator
    emits no pairs for them, so neither may the within-group expansion."""
    return members.join(sig.select(F.col("id").alias("rid")), "rid", "left_semi")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    salt: int = 1,
) -> DataFrame:
    """MinHash+LSH candidate pairs over (id, text) rows with the
    exact-content pre-collapse: signatures, banding, and bucket pair
    expansion run over DISTINCT texts only; row-level pairs come back
    via expand_rep_pairs. Output is identical to
    ``lsh_candidate_pairs(minhash_signature(df))`` by construction
    (pinned by tests/test_llm_ops.py::test_collapsed_pairs_equivalence)
    — but tokenize/shingle/hash cost and the bucket blow-up now scale
    with distinct content, not row count (VERDICT r15 #3: the sf10
    fixture holds 500k rows over 4,992 texts; the row-level path spent
    154 s, mostly emitting 109.7M replica pairs through a ×8-band
    distinct)."""
    reps, members = exact_content_groups(df, id_col, text_col, include_null=True)
    # sig feeds both the band explode and the within-group signature
    # filter; persist so the shingle explode + 32 minhash aggregates
    # run once (reps is already cached, but the sketch pass itself is
    # the expensive part at content scale).
    sig = minhash_signature(reps, "id", "text", num_perm=num_perm).persist()
    rep_pairs = lsh_candidate_pairs(sig, "id", num_perm=num_perm, bands=bands, salt=salt)
    return expand_rep_pairs(rep_pairs, _members_with_signature(members, sig))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs (id_a, id_b, hamming) with the
    exact-content pre-collapse: the 64 bit-majority aggregates and the
    4×16-bit chunk-band join run over distinct texts; within-group
    pairs carry hamming 0 (identical text ⇒ identical simhash), cross
    pairs carry the rep-level hamming (a text-only function, so
    group-constant). Zero-token texts produce no aggregate row and are
    excluded from the expansion — matching the row-level operator."""
    reps, members = exact_content_groups(df, id_col, text_col, include_null=True)
    # Same two-consumer shape as minhash_lsh_pairs: persist the 64
    # bit-majority aggregate output once.
    sig = simhash_signature(reps, "id", "text").persist()
    rep_pairs = simhash_near_pairs(sig, "id", max_hamming=max_hamming)
    return expand_rep_pairs(
        rep_pairs,
        _members_with_signature(members, sig),
        value_cols=("hamming",),
        within_values=(F.lit(0).cast("long"),),
    )


def word_shingles_col(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of the lowercased token stream."""
    toks = F.filter(tokens_col(text), lambda x: x != "")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
    )


def _perm_coeffs(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
        for _ in range(num_perm)
    ]


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, num_perm: int = 32, shingle_k: int = 3
) -> DataFrame:
    """(id, m0..m{num_perm-1}) MinHash signature per document.

    Universal hashing h_i(x) = (a_i * x + b_i) mod 2^31-1 over the
    xxhash64 of each shingle; the min per permutation is a plain
    aggregate. The explode + groupBy shape is deliberate: partial
    (map-side) combine means the exchange carries only docs × num_perm
    longs — O(docs), NOT shingle volume — and the whole stage runs in
    whole-stage codegen. The measured alternative (row-local
    ``array_min(transform(...))`` per permutation, zero exchanges) is
    ~1.4× slower on the signature and >2× slower through
    lsh_candidate_pairs, because 32 interpreted higher-order traversals
    lose to codegen'd explode + hash-aggregate; the tiny exchange is
    the cheaper currency. Plan-guarded: test_plan_shapes asserts the
    partial_min combine sits before the exchange.

    r17 (VERDICT r16 #3): the shingle stage itself is codegen too — a
    primitive position ``explode(sequence(...))`` with the shingle
    assembled AFTER the explode (``concat_ws(slice(toks, pos, k))``),
    the q_dedup_substr recipe. The previous shape built the shingle
    array through ``transform``/``filter`` higher-order lambdas, which
    always evaluate on the interpreted expression path — the frames a
    long-lived session's JIT deopt churn keeps knocking back to
    bytecode speed (r16 thread-dump diagnosis). Two semantics notes:
    ``array_remove(split(...), "")`` replaces the filter lambda (split
    never yields NULL elements, so removal-by-equality is identical),
    and the old per-row ``array_distinct`` is DROPPED outright — the
    min aggregate is duplicate-invariant, so the signature is
    unchanged by construction (pinned by
    test_llm_ops.py::test_minhash_signature_duplicate_invariance).
    Empty/NULL token arrays still sketch exactly one "" shingle:
    greatest(size-k+1, 1) keeps the sequence at [1] and
    concat_ws over a NULL/empty slice yields "".
    """
    # Materialize the token array once per row before building shingles —
    # referencing tokens_col() twice (sequence bound + slice) makes
    # codegen re-split the text per reference (~3× the regex work).
    # Shingle explosion amplifies ~15x; fan scan-starved inputs out first.
    df = fan_out(df, [id_col])
    toks = df.select(
        F.col(id_col),
        F.array_remove(tokens_col(F.col(text_col)), "").alias("toks"),
    )
    sh = toks.select(
        F.col(id_col),
        F.col("toks"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("toks") - (shingle_k - 1), F.lit(1)))
        ).alias("pos"),
    ).select(
        F.col(id_col),
        F.concat_ws(" ", F.slice("toks", F.col("pos"), shingle_k)).alias("shingle"),
    )
    # Materialize the base hash once per shingle row; embedding it in all
    # num_perm aggregate children leans on codegen subexpression
    # elimination, which is not guaranteed across aggregates (~10%
    # measured on the named-column form, values identical).
    sh = sh.select(
        F.col(id_col), F.pmod(F.xxhash64("shingle"), F.lit(MERSENNE31)).alias("hx")
    )
    aggs = [
        F.min(F.pmod(F.col("hx") * F.lit(a) + F.lit(b), F.lit(MERSENNE31))).alias(
            f"m{i}"
        )
        for i, (a, b) in enumerate(_perm_coeffs(num_perm))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str, num_perm: int = 32, bands: int = 8, salt: int = 1
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing ≥1 LSH band.

    Default path (``salt == 1``): groupBy (band, bh) → sorted id set →
    in-bucket pair expansion via two chained primitive Generates
    (posexplode + explode(slice), whole-stage codegen — r17). ONE
    exchange, and the signature subplan is evaluated exactly once — a
    self-join evaluates its upstream twice (broadcast build + probe;
    exchange reuse only rescues the sort-merge case), which at 100 TB
    doubles the dominant tokenize/shingle/hash cost. Verified to emit
    the identical pair set as the join formulation.

    ``salt > 1`` is the degenerate-bucket knob (PERF.md) and keeps the
    join formulation, because splitting a hot bucket across reducers
    needs the probe side sharded: a boilerplate corpus can put
    thousands of near-identical docs into ONE (band, band-hash) bucket,
    making a single reducer own the whole quadratic blow-up. Salting
    widens the join key to (band, bh, salt): the probe side gets a
    deterministic per-id salt (so each doc's rows land on one of
    ``salt`` reducers), the build side is replicated once per salt
    value. Each qualifying pair still matches exactly once — at the
    probe row's salt — so the output is IDENTICAL to the unsalted path
    while per-reducer probe-group size drops ~salt×."""
    rows_per_band = num_perm // bands
    band_cols = []
    for b in range(bands):
        cols = [f"m{b * rows_per_band + r}" for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("bh"))
        )
    buckets = sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")).select(
        F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    if salt > 1:
        a = salted_lsh_buckets(buckets, id_col, salt).alias("a")
        b = buckets.select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("_salt")
        ).alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bh") == F.col("b.bh"))
                & (F.col("a._salt") == F.col("b._salt"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
            )
            .distinct()
        )
    grouped = (
        buckets.groupBy("band", "bh")
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # r17: the in-bucket pair expansion is two chained primitive
    # Generates instead of the nested transform lambdas that built a
    # per-bucket array of pair structs — higher-order functions
    # evaluate on the interpreted expression path (session-age-
    # sensitive under JIT deopt churn, the r16 q_dedup_substr
    # diagnosis), and the pair blow-up is exactly the stage a
    # boilerplate-heavy bucket amplifies. posexplode picks each id with
    # its 0-based position i; the partner set is the codegen'd
    # slice(ids, i+2, size) — every LATER element of the sorted set —
    # so each unordered pair materializes exactly once, identical to
    # the flattened transform. Still no join: the signature subplan is
    # evaluated once (plan-pinned by test_unsalted_lsh_plans_no_join).
    return (
        grouped.select("ids", F.posexplode("ids").alias("i", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.slice("ids", F.col("i") + F.lit(2), F.size("ids"))
            ).alias("id_b"),
        )
        .distinct()
    )


def salted_lsh_buckets(buckets: DataFrame, id_col: str, salt: int) -> DataFrame:
    """Probe-side bucket rows with a deterministic per-id salt in
    [0, salt) — xxhash64-based so plans are reproducible and the
    per-(band, bh, salt) group bound is assertable in tests."""
    return buckets.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)).cast("int")
    )


def simhash_col_aggs(token_hash: Column) -> list[Column]:
    """64 bit-majority partial aggregates for SimHash."""
    return [
        F.sum(
            F.when(F.shiftright(token_hash, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]


def simhash_signature(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash BIGINT): 64-bit SimHash over token xxhash64 values.
    Token explosion + 64 per-bit aggregates amplify per-byte work; fan
    a scan-starved input out first (no-op on well-split inputs).

    r17: the empty-token filter is ``array_remove(split, "")`` — a
    codegen'd builtin — instead of a ``filter`` lambda (higher-order
    functions evaluate interpreted; split never yields NULL elements,
    so removal-by-equality is identical). Zero-token texts still
    produce an empty array → no explode row → no aggregate row."""
    df = fan_out(df, [id_col])
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_remove(tokens_col(F.col(text_col)), "")).alias("tok"),
    )
    agg = toks.groupBy(id_col).agg(*simhash_col_aggs(F.xxhash64("tok")))
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        piece = F.shiftleft(bit, i)
        sim = piece if sim is None else sim.bitwiseXOR(piece)  # disjoint bits: XOR == OR
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_pairs(sig: DataFrame, id_col: str, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: band on 4×16-bit chunks (pigeonhole —
    hamming ≤ 3 ⇒ at least one chunk identical), verify with bit_count."""
    chunks = sig.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("simhash", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("cv"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select(F.col(id_col), "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.cv").alias("cv"))
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("long").alias("hamming"),
        )
        .distinct()
    )
    return pairs.where(F.col("hamming") <= max_hamming)


def near_dedup_keep_list(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
) -> DataFrame:
    """The composed production pipeline: MinHash+LSH candidates →
    n-gram Jaccard verification on candidates only → connected keep
    list (lowest id per duplicate group = connected component root,
    from ``graph.connected_components`` over the verified pairs).

    At 100 TB each stage is bounded: candidates by bucket collisions,
    verification by candidate count, and the keep list by the (small)
    duplicate-pair graph — its vertex set is the pair endpoints only
    (``nodes=None``), so each superstep is node-sized over
    pair-involved ids, not the corpus, and rounds are O(log diameter)
    (chains A≈B≈C resolve C→A, not C→B). A graph that does not
    converge raises rather than returning partial labels. Returns
    (id, keep_id) for every row — keep_id == id for non-duplicates.

    EXACT-CONTENT PRE-COLLAPSE (r15 sf10 finding): signatures,
    candidates, and the Jaccard verify run over the DISTINCT texts
    only — each content group (sha2-256 of the UTF-8 bytes, via
    ``exact_content_groups``) is represented by its min id, and
    component labels map back through the group afterwards. Without
    this, a replica-dense corpus quadratically inflates the candidate
    set with pairs of IDENTICAL documents and the verify's
    |candidates| × grams-per-doc intersection shuffle with them — the
    sf10 probe (500k docs, 4,992 distinct texts) filled 73 GB of
    shuffle spill and died; post-collapse the same probe passes
    hash-exact. Semantics are unchanged by construction: identical
    texts are Jaccard-1.0 duplicates, the group representative IS the
    group's min id, so the component minimum over representatives
    equals the minimum over all members.
    """
    rows = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    # NULL texts cannot be grouped (a digest of NULL is NULL, and NULL
    # never equi-joins) and were never duplicates before this collapse
    # either (an empty token set verifies no Jaccard edge): keep the
    # documented every-row contract by routing them to keep_id = id.
    nulls = rows.where(F.col("text").isNull()).select(
        "id", F.col("id").alias("keep_id")
    )
    # sha2-256 grouping via the shared primitive (ADVICE r15: md5's
    # practical chosen-prefix collisions could silently merge two
    # adversarial distinct texts into one content group).
    reps, members = exact_content_groups(df, id_col, text_col)
    sig = minhash_signature(reps, "id", "text", num_perm=num_perm)
    cand = lsh_candidate_pairs(sig, "id", num_perm=num_perm, bands=bands)
    verified = (
        jaccard_on_candidates(reps, cand, "id", "text", n=3)
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b")
    )
    labels = connected_components(None, verified, src_col="id_a", dst_col="id_b")
    mapped = members.join(
        labels.select(F.col("id").alias("rid"), F.col("component").alias("keep_id")),
        "rid",
        "left",
    ).select("id", F.coalesce("keep_id", F.col("rid")).alias("keep_id"))
    return mapped.unionByName(nulls)


def _distinct_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(gid, g): the distinct char-``n``-grams of each document, keyed
    by their xxhash64 (``g`` is a BIGINT, not the gram string).

    r17 (VERDICT r16 #3): the gram is computed AFTER a primitive
    position explode, inside whole-stage codegen —
    ``explode(sequence(1, len-n+1))`` then
    ``xxhash64(substring(_t, pos, n))`` — the exact q_dedup_substr
    recipe, INCLUDING its hash-only-shuffle contract: the n-char gram
    strings never leave the scan stage; the distinct, the per-doc
    counts, and both sides of the downstream gram equi-joins carry
    8-byte longs (guide §2.3, narrower types). Downstream counts and
    intersections are identical unless two distinct n-grams of the
    corpus collide under xxhash64 (~|distinct grams|²/2^65, a ±1 count
    error; the bound and why it is accepted: PERF.md "xxhash64 gram
    keys: the collision contract"; every oracle gate verifies
    hash-exact output). The previous shape
    (``explode(char_ngrams_col(...))``) built a per-row gram-string
    array through a higher-order ``transform`` lambda, which always
    evaluates on the INTERPRETED expression path — the
    session-age-sensitive frames the r16 thread-dump diagnosis caught
    deoptimizing (ArrayTransform.nullSafeEval). ``array_distinct``
    semantics move to a row-level distinct: one map-side-combined
    grouping on (gid, g), whose exchange carries exactly the per-doc
    distinct gram hashes (a document's gram rows never span input
    partitions, so the partial aggregate dedups them pre-shuffle).

    Edge parity with explode(char_ngrams_col(...)): length < n (incl.
    empty text) yields the single gram substring(text, 1, n) —
    greatest(·, 1) keeps the sequence at [1]; NULL text yields the
    single NULL gram row, kept NULL explicitly (xxhash64 does NOT
    propagate NULL — it hashes to the seed value — and a NULL gram
    must never equi-join, exactly as the NULL gram string never did).
    """
    return (
        df.select(
            F.col(id_col).alias("gid"),
            F.col(text_col).alias("_t"),
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length(F.col(text_col)) - (n - 1), F.lit(1)),
                )
            ).alias("pos"),
        )
        .select(
            "gid",
            F.when(
                F.col("_t").isNotNull(),
                F.expr(f"xxhash64(substring(_t, pos, {n}))"),
            ).alias("g"),
        )
        .distinct()
    )


def jaccard_on_candidates(
    df: DataFrame, cand: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id_a, id_b, jaccard) — exact char-n-gram Jaccard computed ONLY
    for the given candidate pairs, via gram equi-joins restricted by
    candidate ids. This is the 100 TB verify stage: cost is proportional
    to |candidates| × grams-per-doc, never all-pairs.

    The gram and gram-count relations scale with the CORPUS, so they
    carry merge hints: Catalyst's size estimate for an explode is
    input-row-based and can read a multi-hundred-million-row gram
    relation as broadcastable (measured at sf10: a 1M-doc corpus'
    grams chosen as the build side → driver OOM building the hashed
    relation). The candidate side is the one a caller may legitimately
    keep small — never the grams. Gram generation is the codegen'd
    explode-position shape with hash-only downstream relations
    (``_distinct_grams``, r17 — counts and intersections ride 8-byte
    gram hashes; identical values absent an xxhash64 collision among
    the corpus' distinct n-grams, the q_dedup_substr contract). The
    gram relation persists once (r17): it feeds THREE consumers with
    three different partitionings (counts by gid, the a-side join by
    id, the b-side join by (id, g)), so exchange reuse cannot dedupe
    it and the explode+distinct re-ran per consumer (~3× the stage's
    cost, measured 3.9→1.3 s at sf0.1). Same shape and caching
    contract as the signature persist (see exact_content_groups)."""
    grams = _distinct_grams(df, id_col, text_col, n).persist().hint("merge")
    counts = grams.groupBy("gid").agg(F.count("*").alias("gcnt")).hint("merge")
    ga = grams.withColumnRenamed("gid", "id_a")
    gb = grams.withColumnRenamed("gid", "id_b")
    inter = (
        cand.join(ga, "id_a")
        .join(gb.withColumnRenamed("g", "g_b"), "id_b")
        .where(F.col("g") == F.col("g_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(counts.select(F.col("gid").alias("id_a"), F.col("gcnt").alias("ca")), "id_a")
        .join(counts.select(F.col("gid").alias("id_b"), F.col("gcnt").alias("cb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("ca") + F.col("cb") - F.col("inter")), 4
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """All-pairs n-gram Jaccard via gram equi-join (id_a < id_b).
    Hash-keyed grams, persisted once for the three consumers — see
    jaccard_on_candidates."""
    grams = _distinct_grams(df, id_col, text_col, n).persist()
    counts = grams.groupBy("gid").agg(F.count("*").alias("gcnt"))
    a, b = grams.alias("a"), grams.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.gid") < F.col("b.gid")))
        .groupBy(F.col("a.gid").alias("id_a"), F.col("b.gid").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    ca = counts.select(F.col("gid").alias("id_a"), F.col("gcnt").alias("cnt_a"))
    cb = counts.select(F.col("gid").alias("id_b"), F.col("gcnt").alias("cnt_b"))
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("cnt_a") + F.col("cnt_b") - F.col("inter")), 4
            ).alias("jaccard"),
        )
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 40,
    min_docs: int = 2,
) -> DataFrame:
    """Span-level EXACT-substring dedup (the suffix-array approach of
    the training-data dedup literature, re-expressed as a fixed-window
    rolling-hash plan): every length-``k`` character window occurring
    in >= ``min_docs`` DISTINCT documents marks its char range
    duplicated; overlapping/adjacent marked windows merge into maximal
    ``(id, span_start, span_end)`` intervals (1-based, inclusive) —
    the ranges a curation pipeline would cut before LM training.

    Scale shape (the reason this is NOT a suffix array): window
    positions come from a primitive ``explode(sequence(...))`` and the
    window is hashed JVM-side immediately after the explode
    (``xxhash64(substring(...))``, whole-stage codegen — r16), so only
    (id, pos, int64) triples ever shuffle — the k-char substrings
    themselves never leave the scan stage, keeping the exploded
    intermediate at ~20 bytes/char regardless of k. The duplicated-
    hash set is a count_distinct groupBy (map-side partial) followed
    by a left_semi join; the interval merge is one window + one
    groupBy, both partitioned by document id. False positives require
    an xxhash64 collision between distinct k-grams (~n^2/2^65).

    Reference parity: the reference engine has no substring-level
    dedup; this extends its dedup family (SURVEY §2 LLM-pipeline
    block) the way q_dedup_minhash extends whole-doc near-dup.
    """
    # The explode amplifies each input byte into a ~20-byte window row,
    # so scan partitions sized for RAW bytes (maxPartitionBytes) are
    # 20x too heavy downstream of it — fan the RAW docs out first
    # (measured locally: 5.3s -> 1.3s at sf0.1 on local[32]).
    df = fan_out(df, [id_col])
    # r16: explode a PRIMITIVE position sequence and hash AFTER the
    # explode, inside whole-stage codegen. The previous shape built an
    # array of (pos, hash) structs per document through a higher-order
    # transform lambda — higher-order functions evaluate on the
    # INTERPRETED expression path, which (a) materializes the struct
    # array per row and (b) rides the JVM's shared interpreter/eval
    # methods, the exact frames a long-lived session's JIT deopt churn
    # keeps knocking back to bytecode speed (r16 thread-dump diagnosis
    # of the in-session 6× inflation: 30 executor threads RUNNABLE in
    # ArrayTransform.nullSafeEval). Generate(explode(sequence)) +
    # xxhash64(substring(...)) is fully codegen'd and pipelined — no
    # per-row array of structs, no interpreted lambda. Same rows, same
    # values: the sequence is the same 1..len-k+1 and the hash moved
    # across the explode unchanged.
    grams = (
        df.where(F.length(text_col) >= k)
        .select(
            F.col(id_col),
            F.col(text_col).alias("_t"),
            F.explode(
                F.sequence(F.lit(1), F.length(text_col) - F.lit(k - 1))
            ).alias("pos"),
        )
        .select(
            id_col,
            "pos",
            F.expr(f"xxhash64(substring(_t, pos, {k}))").alias("gh"),
        )
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.count_distinct(id_col).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("gh")
    )
    dpos = grams.join(dup, "gh", "left_semi").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    # two same-length windows overlap-or-touch iff their starts differ
    # by <= k, so an island breaks exactly when the gap exceeds k
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0)
    return (
        dpos.withColumn("grp", F.sum(brk).over(w))
        .groupBy(id_col, "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("long").alias("span_end"),
        )
        .drop("grp")
    )


def line_chunks_col(toks_col: str, width: int = 8) -> Column:
    """Deterministic 'lines' for a corpus without newlines: a
    MATERIALIZED token-array column re-chunked into non-overlapping
    ``width``-token windows (space-joined). Real crawl text splits on
    '\\n' instead; the downstream operator is identical.

    Takes a column NAME, not the tokenize expression: an inline
    tokenize would be re-evaluated per chunk inside the transform
    lambda (lambda bodies get no common-subexpression elimination —
    the same CollapseProject hazard with_run_length_counts documents;
    measured 4.5× on the sf1 explode)."""
    toks = F.col(toks_col)
    n_chunks = F.ceil(F.size(toks) / F.lit(width)).cast("int")
    # Empty input must yield an EMPTY array, not sequence(1,0)'s
    # auto-stepped [1,0] (two empty-string "chunks") — ADVICE r12.
    # Guarded by FILTERING out empty chunks rather than a when()
    # wrapper: a chunk of >=1 non-empty tokens can never be '', so the
    # filter only fires on the empty-input artifact, and it measures
    # ~25% cheaper than CASE-wrapping the transform (the wrapper
    # re-evaluates the size() condition per row outside codegen CSE;
    # r13 A/B at sf0.1: 0.82 s vs 1.08 s through q_line_dedup).
    return F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_chunks, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, (i - 1) * width + 1, width)),
        ),
        lambda s: s != "",
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    min_docs: int = 2,
    delimiter: str | None = None,
) -> DataFrame:
    """C4-style cross-document LINE deduplication (round 12): any line
    appearing in >= ``min_docs`` DISTINCT documents is boilerplate
    (navigation chrome, cookie banners, licence footers) and is removed
    from EVERY document; remaining lines are re-joined in original
    order. This is the curation pass between exact-doc dedup and
    span-level substring dedup that the surface was missing.

    Scale shape: explode to (doc, line_idx, line-hash) — narrow;
    boilerplate detection is ONE map-side-combined groupBy on the
    64-bit line hash (the shuffle carries hashes and counts, never
    line text); membership is a join on the hash against the
    boilerplate set (small by the min_docs filter) followed by a
    per-document re-aggregation. The only full-width shuffle is the
    doc re-assembly, bounded by input size. No driver collects.

    Two line definitions (round 13, VERDICT r12 #4):
    - ``delimiter=None`` (default): fixture mode — corpora without
      newlines get deterministic ``width``-token windows as "lines"
      (``line_chunks_col``).
    - ``delimiter="\\n"`` (or any split regex): newline-native mode —
      the C4 semantics users expect; lines are the literal delimited
      segments (whitespace-trimmed, empties dropped), compared and
      re-joined verbatim."""
    # Both modes posexplode an INLINE chunk expression over a single
    # materialized-input project — materializing the chunk array as its
    # own named column first measured 2.3x slower at sf0.1 (the extra
    # project defeats the Generate fusion; r13 A/B), and the lesson
    # that DOES need a named column (the token array, referenced
    # multiple times inside the transform lambda) is already applied.
    if delimiter is not None:
        lines_src = df.select(
            F.col(id_col),
            F.posexplode(
                F.filter(
                    F.transform(
                        F.split(F.col(text_col), delimiter),
                        lambda s: F.trim(s),
                    ),
                    lambda s: s != "",
                )
            ).alias("line_idx", "line"),
        )
    else:
        toked = df.select(
            F.col(id_col),
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                lambda x: x != "",
            ).alias("_toks"),
        )
        lines_src = toked.select(
            F.col(id_col),
            F.posexplode(line_chunks_col("_toks", width)).alias(
                "line_idx", "line"
            ),
        )
    lines = lines_src.where(F.col("line") != "").withColumn(
        "h", F.xxhash64("line")
    )
    boiler = (
        lines.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("h")
    )
    marked = lines.join(boiler.withColumn("_boiler", F.lit(True)), "h", "left")
    kept = (
        marked.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.when(F.col("_boiler"), 1).otherwise(0))
            .cast("long")
            .alias("n_removed"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_boiler").isNull(),
                                F.struct("line_idx", "line"),
                            )
                        )
                    ),
                    lambda s: s.getField("line"),
                ),
            ).alias("clean_text"),
        )
    )
    return df.select(id_col).join(kept, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def containment_on_candidates(
    df: DataFrame, cand: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id_a, id_b, cont_ab, cont_ba) — asymmetric char-n-gram
    containment |G(a) ∩ G(b)| / |G(side)| for the given candidate
    pairs, the doc-inside-doc signal Jaccard misses: a short document
    fully embedded in a long one has near-1.0 containment but low
    Jaccard (the union is dominated by the long side), so boilerplate-
    wrapped copies and quote-expansions survive a Jaccard threshold
    yet fall to a containment one (the standard complement in
    suffix/substring dedup literature — Lee et al.'s "Deduplicating
    Training Data Makes Language Models Better" motivates exactly this
    asymmetric containment pass).

    Same 100 TB verify-on-candidates shape as jaccard_on_candidates:
    gram equi-joins restricted by candidate ids, cost proportional to
    |candidates| × grams-per-doc, never all-pairs. Grams and counts
    carry merge hints for the same reason documented there — the
    explode's size estimate invited a corpus-sized broadcast (sf10
    driver OOM) and those relations scale with the corpus. Gram
    generation is the codegen'd explode-position shape with hash-only
    downstream relations (``_distinct_grams``, r17 — the
    q_dedup_substr collision contract applies), persisted once for
    its three differently-partitioned consumers (see
    jaccard_on_candidates)."""
    grams = _distinct_grams(df, id_col, text_col, n).persist().hint("merge")
    counts = grams.groupBy("gid").agg(F.count("*").alias("gcnt")).hint("merge")
    ga = grams.withColumnRenamed("gid", "id_a")
    gb = grams.withColumnRenamed("gid", "id_b")
    inter = (
        cand.join(ga, "id_a")
        .join(gb.withColumnRenamed("g", "g_b"), "id_b")
        .where(F.col("g") == F.col("g_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(counts.select(F.col("gid").alias("id_a"), F.col("gcnt").alias("ca")), "id_a")
        .join(counts.select(F.col("gid").alias("id_b"), F.col("gcnt").alias("cb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter") / F.col("ca"), 4).alias("cont_ab"),
            F.round(F.col("inter") / F.col("cb"), 4).alias("cont_ba"),
        )
    )
