"""LLM-data-pipeline query surface (SURVEY.md §2.3 north-star table):
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
cosine), similarity search (brute-force + LSH ANN), text analysis
(tokens, stats, language-ID, quality, fingerprint), multimodal columns.

Near-dup queries run over a *planted* corpus — documents unioned with a
punctuation-variant copy (ids offset by 1,000,000, " ." appended) — and
return per-planted-pair RECALL CONTRACTS. The mutation preserves the
lowercased-alphanumeric token stream, so the MinHash and SimHash
signatures of each plant are identical to its original BY CONSTRUCTION
and expected recall is exactly 100%: the DuckDB oracle can assert every
pair recovered, and any miss is a real bug in the sketch/banding/join
machinery, not sampling noise. Partial-recall behavior on lossy
mutations remains a sketch property, covered in tests/test_dedup*.
(The synthetic corpus is heavily templated — ~80k genuine cross-
original pairs at char-3-gram Jaccard ≥ 0.4 — so contracts are phrased
to be invariant under that noise: pair recovery and same-keep-group,
never global keep-list identity.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pulsar_io_delta_spark.operators import dedup as dd
from pulsar_io_delta_spark.operators.graph import connected_components
from pulsar_io_delta_spark.operators import multimodal as mm
from pulsar_io_delta_spark.operators import similarity as sim
from pulsar_io_delta_spark.operators import text as tx
from pulsar_io_delta_spark.registry import register
from pulsar_io_delta_spark.tables import table

PLANT_OFFSET = 1_000_000


def _planted_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ near-dup mutations (trailing ``" ."`` appended).

    The mutation is sketch-invariant: tokens_col lowercases and splits
    on non-alphanumerics, so the token stream — hence the MinHash
    shingle set and SimHash token multiset — is unchanged, while the
    raw text (and its char-3-grams, Jaccard ≥ g/(g+3)) differs. That
    makes 100% recall a construction guarantee the oracle can assert."""
    mutated = docs.select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" .")).alias("text"),
    )
    return docs.select("doc_id", "text").unionAll(mutated)


def _pair_recall(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(id_a, id_b, recovered) for every planted pair: left-join the
    plant list against the candidate pairs so a MISS surfaces as
    recovered=false (hash mismatch vs the all-true oracle), never as a
    silently absent row."""
    plants = docs.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + PLANT_OFFSET).alias("id_b"),
    )
    hit = pairs.select("id_a", "id_b").withColumn("recovered", F.lit(True))
    return plants.join(hit, ["id_a", "id_b"], "left").select(
        "id_a", "id_b", F.coalesce("recovered", F.lit(False)).alias("recovered")
    )


def _rep_scored_plant_pairs(docs, corpus, score_fn):
    """Shared r16 shape for the verify-on-candidates queries
    (q_ngram_jaccard / q_dedup_containment): gram scoring at CONTENT
    level, mapped back to the planted row pairs.

    The r14 fix pushed the plant restriction below the gram join; the
    remaining sf10 cost (containment 257.8 s — VERDICT r15 #5) was the
    gram explosion itself, which ran over every ROW of the corpus.
    Jaccard/containment are functions of (text_a, text_b) only, so:
    collapse the corpus to distinct texts (``exact_content_groups``),
    run LSH candidates and the gram equi-joins over representatives,
    and join each planted row pair to the score of its (rep_a, rep_b)
    key. Identical values by construction; gram volume now scales with
    distinct content.

    ``score_fn(reps, rep_cand) -> (id_a, id_b, v1[, v2...])`` scores
    rep-level pairs; asymmetric scorers get a ``swapped`` flag back
    (a rep pair is keyed (least, greatest), which may invert the
    plant's (original, mutant) orientation when a group's min id
    crosses the plant offset — e.g. an original whose text literally
    equals another document's text + " ."), so directional columns can
    be re-oriented by the caller.

    Returns (id_a, id_b, swapped, *score_cols) for every planted pair
    whose rep pair is an LSH candidate — the same inner-join contract
    as the row-level path (a planted pair missing from candidates is
    absent, which the recall queries, not these, assert against)."""
    reps, members = dd.exact_content_groups(corpus, "doc_id", "text")
    sig = dd.minhash_signature(reps, "id", "text")
    cand = dd.lsh_candidate_pairs(sig, "id")
    plants = docs.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + PLANT_OFFSET).alias("id_b"),
    )
    rp = (
        plants.join(
            members.select(F.col("id").alias("id_a"), F.col("rid").alias("ra")),
            "id_a",
        )
        .join(
            members.select(F.col("id").alias("id_b"), F.col("rid").alias("rb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.least("ra", "rb").alias("ka"),
            F.greatest("ra", "rb").alias("kb"),
            (F.col("ra") > F.col("rb")).alias("swapped"),
        )
    )
    # no distinct() on the key list: it feeds a left_semi probe, which
    # tolerates duplicate build rows — the distinct was one whole
    # exchange + aggregate of pure machinery (r17).
    rep_keys = rp.select(F.col("ka").alias("id_a"), F.col("kb").alias("id_b"))
    rep_cand = cand.join(rep_keys, ["id_a", "id_b"], "left_semi")
    scores = score_fn(reps, rep_cand)
    return rp.join(
        scores.withColumnsRenamed({"id_a": "ka", "id_b": "kb"}), ["ka", "kb"]
    ).drop("ka", "kb")


@register(
    "q_dedup_exact",
    oracle="""
SELECT DISTINCT doc_id, text, lang, source, n_chars
FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
""",
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup = hash-groupBy on all columns; input is doubled so
    the operator provably removes rows."""
    d = table(spark, sf_dir, "documents")
    return dd.exact_dedup(d.unionAll(d))


def _cc_edges(d: DataFrame, corpus: DataFrame) -> DataFrame:
    """Deterministic candidate-pair edges for the CC clustering query:
    exact-dup stars (content-hash group → min member; digest-keyed
    shuffle join, never broadcastable at scale) ∪ crawl-segment chains
    (doc→doc-1 within 25-blocks, semi-joined against the id set so a
    fixture with gaps can't emit dangling edges)."""
    hashed = corpus.select("doc_id", F.md5(F.encode("text", "UTF-8")).alias("h"))
    grp = hashed.groupBy("h").agg(F.min("doc_id").alias("m"))
    star = (
        hashed.join(grp, "h")
        .where(F.col("doc_id") != F.col("m"))
        .select(F.col("doc_id").alias("src"), F.col("m").alias("dst"))
    )
    ids = d.select("doc_id")
    chain = (
        ids.where(F.col("doc_id") % 25 != 0)
        .select(F.col("doc_id").alias("src"), (F.col("doc_id") - 1).alias("dst"))
        .join(ids.select(F.col("doc_id").alias("dst")), "dst", "semi")
    )
    return star.unionAll(chain)


@register(
    "q_dedup_cc",
    oracle="""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
),
grp AS (
  SELECT md5(text) AS h, min(doc_id) AS m FROM corpus GROUP BY md5(text)
),
e0 AS (
  SELECT c.doc_id AS src, g.m AS dst
  FROM corpus c JOIN grp g ON md5(c.text) = g.h
  WHERE c.doc_id <> g.m
  UNION ALL
  SELECT d.doc_id AS src, d.doc_id - 1 AS dst FROM documents d
  WHERE d.doc_id % 25 <> 0 AND d.doc_id - 1 IN (SELECT doc_id FROM documents)
),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
reach AS (
  SELECT doc_id AS id, doc_id AS lab FROM corpus
  UNION
  SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, min(lab) AS component, (min(lab) = id) AS keep
FROM reach GROUP BY id
""",
)
def q_dedup_cc(spark, sf_dir):
    """Dedup clustering: candidate-pair edges → connected components →
    canonical survivor (min doc_id) per cluster.

    The edge set is deterministic so the oracle can replay it exactly:
    (a) exact-duplicate stars over documents ∪ verbatim +1e6 plants —
    each content-hash group links to its min member, the pair-finder
    shape `dd.exact_dedup`/LSH banding emit; (b) "same crawl segment"
    chains (doc→doc-1 within 25-blocks), which force MULTI-HOP merging:
    a plant is reachable from its original's whole block only
    transitively. The oracle computes the same fixpoint with a
    recursive CTE; the Spark side is the real O(log diameter)
    pointer-jumping operator (`operators/graph.py`), exercised on
    arbitrary random graphs in tests/test_graph.py."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionAll(
        d.select((F.col("doc_id") + PLANT_OFFSET).alias("doc_id"), "text")
    )
    labels = connected_components(
        corpus.select("doc_id"), _cc_edges(d, corpus), id_col="doc_id"
    )
    return labels.select(
        F.col("id").alias("doc_id"),
        "component",
        (F.col("component") == F.col("id")).alias("keep"),
    )


@register(
    "q_dedup_minhash",
    oracle="SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, TRUE AS recovered FROM documents",
)
def q_dedup_minhash(spark, sf_dir):
    """MinHash(32 perms) + LSH(8 bands × 4) recall contract: every
    planted (d, d+1e6) pair must surface as a candidate. The plant's
    signature is identical by construction (token-preserving mutation),
    so the all-true oracle is exact — a false row is a sketch bug.

    r16 (VERDICT r15 #3): candidate generation goes through
    ``minhash_lsh_pairs`` — the exact-content pre-collapse — so
    signatures and bucket pair expansion run over distinct texts and
    row pairs come back via group expansion. Pair set identical by
    construction (operator-level equivalence pinned in
    tests/test_llm_ops.py); the replica-quadratic in-bucket blow-up the
    sf10 probe measured (154 s, 18.6× for 10× data) now scales with
    distinct content."""
    docs = table(spark, sf_dir, "documents")
    corpus = _planted_corpus(docs)
    pairs = dd.minhash_lsh_pairs(corpus, "doc_id", "text")
    return _pair_recall(docs, pairs)


@register(
    "q_dedup_near",
    oracle="""
SELECT doc_id, TRUE AS has_near_dup FROM documents
UNION ALL SELECT doc_id + 1000000, TRUE FROM documents
""",
)
def q_dedup_near(spark, sf_dir):
    """Near-duplicate detection (SURVEY §2.3's declared name), as a
    per-document contract: every corpus row has ≥1 candidate partner
    (at minimum its plant), asserted exactly by the oracle."""
    corpus = _planted_corpus(table(spark, sf_dir, "documents"))
    # Same exact-content pre-collapse as q_dedup_minhash (r16).
    pairs = dd.minhash_lsh_pairs(corpus, "doc_id", "text")
    # Explode both endpoints from ONE reference to `pairs` — a unionAll
    # of two selects would evaluate the corpus→signature→pairs subplan
    # twice.
    partnered = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
        .distinct()
        .withColumn("has_near_dup", F.lit(True))
    )
    return corpus.select("doc_id").join(partnered, "doc_id", "left").select(
        "doc_id", F.coalesce("has_near_dup", F.lit(False)).alias("has_near_dup")
    )


@register(
    "q_dedup_pipeline",
    oracle="SELECT doc_id, TRUE AS same_group FROM documents",
)
def q_dedup_pipeline(spark, sf_dir):
    """Composed near-dedup (MinHash+LSH candidates → Jaccard-verified →
    min-label keep list): contract is that each original and its plant
    land in the SAME keep group — invariant under the templated
    corpus's genuine cross-document near-dups merging components, yet
    guaranteed for plants (their verified edge exists by construction)."""
    docs = table(spark, sf_dir, "documents")
    corpus = _planted_corpus(docs)
    keep = dd.near_dedup_keep_list(corpus, "doc_id", "text", jaccard_threshold=0.5)
    ko = keep.where(F.col("id") < PLANT_OFFSET).select(
        F.col("id").alias("doc_id"), F.col("keep_id").alias("k_orig")
    )
    km = keep.where(F.col("id") >= PLANT_OFFSET).select(
        (F.col("id") - PLANT_OFFSET).alias("doc_id"), F.col("keep_id").alias("k_mut")
    )
    return ko.join(km, "doc_id").select(
        "doc_id", (F.col("k_orig") == F.col("k_mut")).alias("same_group")
    )


@register(
    "q_dedup_simhash",
    oracle="SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, TRUE AS recovered FROM documents",
)
def q_dedup_simhash(spark, sf_dir):
    """SimHash-64 (hamming ≤ 3 via 4×16-bit banding) recall contract:
    plants have hamming 0 by construction (identical token multiset),
    so every planted pair must be recovered.

    r16 (VERDICT r15 #3): the 64 bit-majority aggregates and the
    chunk-band self-join run over distinct texts via ``simhash_pairs``
    (exact-content pre-collapse); hamming is a text-only function so
    group expansion carries it unchanged (0 within groups)."""
    docs = table(spark, sf_dir, "documents")
    corpus = _planted_corpus(docs)
    pairs = dd.simhash_pairs(corpus, "doc_id", "text", max_hamming=3)
    return _pair_recall(docs, pairs)


@register(
    "q_ngram_jaccard",
    oracle="""
WITH g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g
      FROM documents JOIN range(1, 4096) t(i) ON i <= greatest(length(text) - 2, 1)),
gm AS (SELECT DISTINCT doc_id, substr(text || ' .', CAST(i AS INT), 3) AS g
      FROM documents JOIN range(1, 4096) t(i) ON i <= greatest(length(text || ' .') - 2, 1)),
c AS (SELECT doc_id, count(*) AS cnt FROM g GROUP BY doc_id),
cm AS (SELECT doc_id, count(*) AS cnt FROM gm GROUP BY doc_id),
i AS (SELECT g.doc_id, count(*) AS inter FROM g
      JOIN gm ON g.doc_id = gm.doc_id AND g.g = gm.g GROUP BY g.doc_id)
SELECT i.doc_id AS id_a, i.doc_id + 1000000 AS id_b,
       round(CAST(inter AS DOUBLE)
             / (c.cnt + cm.cnt - inter), 4) AS jaccard
FROM i JOIN c ON c.doc_id = i.doc_id JOIN cm ON cm.doc_id = i.doc_id
""",
)
def q_ngram_jaccard(spark, sf_dir):
    """Char-3-gram Jaccard VERIFY-ON-CANDIDATES: exact Jaccard computed
    only for MinHash-LSH candidate pairs (gram equi-joins restricted by
    candidate ids — no all-pairs join in the plan), output restricted to
    the planted pairs so the oracle recomputes each value directly from
    (text, text || ' .')."""
    docs = table(spark, sf_dir, "documents")
    corpus = _planted_corpus(docs)
    # r16 (VERDICT r15 #3/#5): candidates AND gram scoring at content
    # level — Jaccard is a function of (text_a, text_b), so scoring the
    # distinct-text representative pair and mapping the value back to
    # each planted row pair is identical by construction (Jaccard is
    # symmetric, so the swap flag needs no correction here). Supersedes
    # the r14 row-level plant pushdown: the restriction still sits
    # below the gram join, now at rep granularity, and the gram explode
    # itself scales with distinct content instead of corpus rows.
    scored = _rep_scored_plant_pairs(
        docs,
        corpus,
        lambda reps, rep_cand: dd.jaccard_on_candidates(
            reps, rep_cand, "id", "text", n=3
        ),
    )
    return scored.select("id_a", "id_b", "jaccard")


@register(
    "q_dedup_containment",
    oracle="""
WITH g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g
      FROM documents JOIN range(1, 4096) t(i) ON i <= greatest(length(text) - 2, 1)),
gm AS (SELECT DISTINCT doc_id, substr(text || ' .', CAST(i AS INT), 3) AS g
      FROM documents JOIN range(1, 4096) t(i) ON i <= greatest(length(text || ' .') - 2, 1)),
c AS (SELECT doc_id, count(*) AS cnt FROM g GROUP BY doc_id),
cm AS (SELECT doc_id, count(*) AS cnt FROM gm GROUP BY doc_id),
i AS (SELECT g.doc_id, count(*) AS inter FROM g
      JOIN gm ON g.doc_id = gm.doc_id AND g.g = gm.g GROUP BY g.doc_id)
SELECT i.doc_id AS id_a, i.doc_id + 1000000 AS id_b,
       round(CAST(inter AS DOUBLE) / c.cnt, 4) AS cont_ab,
       round(CAST(inter AS DOUBLE) / cm.cnt, 4) AS cont_ba
FROM i JOIN c ON c.doc_id = i.doc_id JOIN cm ON cm.doc_id = i.doc_id
""",
)
def q_dedup_containment(spark, sf_dir):
    """Asymmetric n-gram CONTAINMENT on MinHash-LSH candidates — the
    doc-inside-doc pass of a near-dup pipeline (a short doc embedded in
    a long one reads near-1.0 containment but low Jaccard, so it
    survives q_ngram_jaccard's threshold; this query is the complement
    that catches it). Same verify-on-candidates plan shape as
    q_ngram_jaccard: candidate generation is the banded LSH join, the
    exact pass is gram equi-joins restricted by candidate ids — no
    all-pairs stage. Output restricted to the planted pairs so the
    oracle recomputes BOTH direction ratios directly from
    (text, text || ' .'): cont_ab is structurally 1.0 (every n-gram of
    A is a substring of A + " ."), cont_ba varies per document — a
    value the hash check actually exercises."""
    docs = table(spark, sf_dir, "documents")
    corpus = _planted_corpus(docs)
    # r16 (VERDICT r15 #5 — the 257.8 s sf10 tail was the gram explode
    # over every corpus ROW): same content-level scoring as
    # q_ngram_jaccard, but containment is DIRECTIONAL, so when the rep
    # key (least, greatest) inverted the plant's (original, mutant)
    # orientation the two ratios swap back via the helper's flag.
    scored = _rep_scored_plant_pairs(
        docs,
        corpus,
        lambda reps, rep_cand: dd.containment_on_candidates(
            reps, rep_cand, "id", "text", n=3
        ),
    )
    return scored.select(
        "id_a",
        "id_b",
        F.when(F.col("swapped"), F.col("cont_ba")).otherwise(F.col("cont_ab")).alias("cont_ab"),
        F.when(F.col("swapped"), F.col("cont_ab")).otherwise(F.col("cont_ba")).alias("cont_ba"),
    )


def _adaptive_bits_sql() -> tuple[str, str]:
    """(plane-count CASE chain, gated bucket-bit expression) — the
    SQL twin of the scale-adaptive sign-LSH bucketing the Spark plans
    compute (sim.adaptive_planes + sim.hyperplanes): the plane count is
    derived from ``count(*)`` by the SAME integer CASE chain (VERDICT
    r9 #2 — a frozen plane count cost 17.7× wall at 10× data), the full
    HI-plane constant matrix is embedded and each bit gated on
    ``i < p``. hyperplanes() is prefix-stable, so the gated-bucket ids
    match Spark's p-plane ids bit-for-bit (the dot-product fold order
    is also identical — zip_with/aggregate vs list_dot_product).
    Shared by the q_dedup_embcos and q_sim_ann_lsh oracles."""
    planes = sim.hyperplanes(64, sim.ADAPTIVE_PLANES_HI)
    pcase = sim.adaptive_planes_case_sql("(SELECT count(*) FROM embeddings)")
    bits = "\n   + ".join(
        f"(CASE WHEN {i} < np.p AND "
        f"list_dot_product(v, [{', '.join(repr(x) for x in plane)}]::DOUBLE[]) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    return pcase, bits


def _embcos_oracle() -> str:
    pcase, bits = _adaptive_bits_sql()
    return f"""
WITH np AS (SELECT {pcase} AS p),
n AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2
  FROM embeddings),
b AS (SELECT vec_id, v, n2, {bits} AS bucket FROM n, np)
SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       round(list_dot_product(a.v, b2.v) / sqrt(a.n2 * b2.n2), 4) AS cos_r
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE list_dot_product(a.v, b2.v) / sqrt(a.n2 * b2.n2) >= 0.25
"""


@register("q_dedup_embcos", oracle=_embcos_oracle())
def q_dedup_embcos(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cos ≥ 0.25) over the FULL table
    via sign-LSH bucketing: the bucket id is the equi-join key, so
    candidate generation shuffles on bucket instead of planning an
    O(n²) nested-loop; at 100 TB the bucket id doubles as the physical
    bucketing key. The plane count is derived from the corpus size by
    adaptive_planes() (one count-star against parquet footers — no data
    scan) so bucket occupancy stays ~target as the corpus grows; the
    oracle derives the SAME count from the same rule."""
    n_vecs = table(spark, sf_dir, "embeddings").count()
    planes = sim.hyperplanes(64, sim.adaptive_planes(n_vecs))
    e = sim.with_norm2(table(spark, sf_dir, "embeddings")).withColumn(
        "bucket", sim.lsh_bucket_col("v", planes)
    )
    a = e.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("av"),
        F.col("v_n2").alias("an2"), "bucket",
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("bv"),
        F.col("v_n2").alias("bn2"), "bucket",
    )
    j = a.join(b, ["bucket"]).where(F.col("id_a") < F.col("id_b"))
    cos = F.expr(sim.DOT.format(a="av", b="bv")) / F.sqrt(F.col("an2") * F.col("bn2"))
    return j.where(cos >= 0.25).select("id_a", "id_b", F.round(cos, 4).alias("cos_r"))


@register(
    "q_sim_topk",
    oracle="""
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2
  FROM embeddings),
pairs AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         list_dot_product(q.v, c.v) / sqrt(q.n2 * c.n2) AS cos
  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
ranked AS (
  SELECT qid, cid, cos,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rn
  FROM pairs)
SELECT qid, cid, round(cos, 4) AS cos_r, rn FROM ranked WHERE rn <= 5
""",
)
def q_sim_topk(spark, sf_dir):
    """Exact cosine top-5 for 10 query vectors: broadcast queries,
    per-partition partial top-k via window — the brute-force baseline."""
    base = sim.with_norm2(table(spark, sf_dir, "embeddings"))
    q = base.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("v_n2").alias("qv_n2")
    )
    return sim.brute_force_topk(
        q, base, k=5, widen_to=spark.sparkContext.defaultParallelism
    )


@register(
    "q_sim_ann_ivf",
    oracle="SELECT vec_id AS qid, TRUE AS plant_recovered FROM embeddings WHERE vec_id < 10",
)
def q_sim_ann_ivf(spark, sf_dir):
    """IVF ANN (iterative DataFrame k-means cells + nprobe=2 probing)
    under a planted-recall contract: each query vector gets an EXACT
    copy planted at vec_id + 1e6. The copy lands in the same k-means
    cell (identical vector → identical argmin, same strict-< tiebreak
    as the probe ranking) and scores cos = 1.0 (bit-exact dot product),
    so it MUST appear in the query's top-k whenever nprobe ≥ 1 — 100%
    recovery is a construction guarantee, not sampling luck, and the
    all-true oracle is exact. A false row is a real bug in the
    cell-assignment/probe/join machinery. Centroid float internals stay
    out of the contract (engine-specific); semantic top-k is covered in
    tests/test_llm_ops.py."""
    emb = table(spark, sf_dir, "embeddings")
    plants = emb.select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"), "embedding"
    ).where(F.col("vec_id") - PLANT_OFFSET < 10)
    corpus = emb.select("vec_id", "embedding").unionAll(plants)
    topk = sim.ann_topk_ivf(corpus, F.col("vec_id") < 10, k=5, n_clusters=8, nprobe=2)
    expected = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), (F.col("vec_id") + PLANT_OFFSET).alias("cid")
    )
    hit = topk.select("qid", "cid").withColumn("plant_recovered", F.lit(True))
    return expected.join(hit, ["qid", "cid"], "left").select(
        "qid", F.coalesce("plant_recovered", F.lit(False)).alias("plant_recovered")
    )


def _ann_lsh_oracle() -> str:
    """The LSH bucket is deterministic (shared plane constants, corpus-
    adaptive count — same CASE-chain twin as q_dedup_embcos), so the
    'approximate' top-k is exactly reproducible in SQL: same buckets,
    same bit-exact cosines, same (cos DESC, vec_id) ranking."""
    pcase, bits = _adaptive_bits_sql()
    return f"""
WITH np AS (SELECT {pcase} AS p),
n AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2
  FROM embeddings),
b AS (SELECT vec_id, v, n2, {bits} AS bucket FROM n, np),
p AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
             list_dot_product(q.v, c.v) / sqrt(q.n2 * c.n2) AS cos
      FROM b q JOIN b c ON q.vec_id < 10 AND q.bucket = c.bucket
                        AND c.vec_id <> q.vec_id),
r AS (SELECT qid, cid, cos,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid)
                  AS BIGINT) AS rn
      FROM p)
SELECT qid, cid, round(cos, 4) AS cos_r, rn FROM r WHERE rn <= 5
"""


@register("q_sim_ann_lsh", oracle=_ann_lsh_oracle())
def q_sim_ann_lsh(spark, sf_dir):
    """ANN variant: sign-LSH buckets candidates; at scale the bucket id
    is the join/bucketing key instead of a cross product. The plane
    count is corpus-sized (adaptive_planes — candidate volume per query
    stays ~target_bucket as the corpus grows) and the bucket function is
    deterministic, so the oracle reproduces the exact approximate
    result."""
    emb = table(spark, sf_dir, "embeddings")
    return sim.ann_topk_lsh(emb, F.col("vec_id") < 10, k=5, dim=64)


@register(
    "q_text_tokens",
    oracle="""
SELECT t AS token, count(*) AS cnt FROM (
  SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t FROM documents)
WHERE t <> '' GROUP BY t ORDER BY cnt DESC, token LIMIT 100
""",
)
def q_text_tokens(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tx.tokens_col(F.col("text"))).alias("token")).where(
        F.col("token") != ""
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(100)
    )


@register(
    "q_text_stats",
    oracle="""
SELECT lang, count(*) AS n_docs,
       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars,
       round(CAST(sum(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> ''))) AS DOUBLE) / count(*), 4)
         AS avg_tokens
FROM documents GROUP BY lang
""",
)
def q_text_stats(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    ntok = F.size(F.filter(tx.tokens_col(F.col("text")), lambda x: x != "")).cast("long")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum("n_chars").cast("double") / F.count("*"), 4).alias("avg_chars"),
        F.round(F.sum(ntok).cast("double") / F.count("*"), 4).alias("avg_tokens"),
    )


@register(
    "q_text_langid",
    oracle="""
SELECT doc_id, lang,
  CASE
    WHEN position(' the ' IN p) > 0 OR position(' and ' IN p) > 0
      OR position(' of ' IN p) > 0 THEN 'en'
    WHEN position(' der ' IN p) > 0 OR position(' und ' IN p) > 0
      OR position(' die ' IN p) > 0 THEN 'de'
    WHEN position(' el ' IN p) > 0 OR position(' los ' IN p) > 0
      OR position(' de ' IN p) > 0 THEN 'es'
    WHEN position(' le ' IN p) > 0 OR position(' les ' IN p) > 0
      OR position(' des ' IN p) > 0 THEN 'fr'
    ELSE 'unk' END AS guess
FROM (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents)
""",
)
def q_text_langid(spark, sf_dir):
    """Function-word (n-gram) language heuristic — deterministic and
    SQL-mirrorable; a real pipeline swaps in fastText behind the same
    column contract."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", tx.lang_guess_col(F.col("text")).alias("guess"))


@register(
    "q_text_quality",
    oracle="""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS BIGINT) AS n_tokens,
       CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars,
       CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit_chars,
       round(length(regexp_replace(text, '[^a-z]', '', 'g'))
             / greatest(length(text), 1), 4) AS alpha_ratio,
       round(least(1.0, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                        x -> x <> '')) / 100.0), 4) AS quality_score
FROM documents
""",
)
def q_text_quality(spark, sf_dir):
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.quality_columns(d).drop("text")


@register(
    "q_text_fingerprint",
    # The rolling hash IS expressible in DuckDB: list_reduce with
    # HUGEINT intermediates over the codepoint list (the corpus is
    # ASCII, so codepoints == UTF-8 bytes — asserted against the
    # Python kernel in test_text_ops).
    oracle="""
SELECT doc_id,
       CAST(list_reduce(
         list_prepend(0::HUGEINT,
           [unicode(c)::HUGEINT FOR c IN
              list_filter(string_split_regex(text, ''), x -> x <> '')]),
         (h, b) -> (h * 1000003 + b) % 2305843009213693951) AS BIGINT) AS fp
FROM documents
""",
)
def q_text_fingerprint(spark, sf_dir):
    """Rolling polynomial fingerprint (base 1000003 mod 2^61-1) via an
    Arrow-batched pandas UDF; dedup-by-fingerprint equals exact dedup."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", tx.fingerprint_col(F.col("text")).alias("fp"))


@register(
    "q_multimodal_project",
    oracle="""
SELECT doc_id, 'text/plain' AS mime, CAST(strlen(text) AS BIGINT) AS byte_len,
       lang, source, hex(substr(text, 1, 16)::BLOB) AS head_hex
FROM documents
""",
)
def q_multimodal_project(spark, sf_dir):
    """Multimodal column contract: opaque payload + typed metadata.
    The payload itself stays binary; the verified output carries its
    hex head + metadata."""
    d = table(spark, sf_dir, "documents")
    payload = mm.attach_payload(d)
    return payload.select(
        "doc_id",
        "mime",
        "byte_len",
        "lang",
        "source",
        F.hex(F.substring(F.col("payload"), 1, 16)).alias("head_hex"),
    )


@register(
    "q_multimodal_real_decode",
    # Each doc's first 36 bytes become a real 6×6 binary PGM payload;
    # decode_images(fake=False) parses it with the numpy netpbm decoder
    # and the oracle recomputes the pixel mean from codepoints (ASCII
    # corpus ⇒ codepoints == bytes).
    oracle="""
SELECT doc_id,
       CAST(6 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
       CAST(list_sum([unicode(c) FOR c IN
                list_filter(string_split_regex(substr(text, 1, 36), ''), x -> x <> '')])
            AS BIGINT) AS pixel_sum
FROM documents
""",
)
def q_multimodal_real_decode(spark, sf_dir):
    """REAL image decode in the registered surface: text bytes are
    wrapped in a PGM header (a genuine uncompressed raster), decoded by
    the numpy netpbm parser inside mapInPandas, and the exact pixel sum
    is recovered from the measured channel mean (6-decimal mean × 36×255
    has error ≪ 0.5, so the nearest integer is exact) and value-checked
    against SQL ground truth — no float-rounding ties."""
    d = table(spark, sf_dir, "documents")
    payload = F.encode(
        F.concat(F.lit("P5\n6 6\n255\n"), F.substring("text", 1, 36)), "UTF-8"
    )
    framed = d.select(
        "doc_id", payload.alias("payload"), F.lit("image/x-portable-graymap").alias("mime")
    )
    decoded = mm.decode_images(framed, fake=False)
    return decoded.select(
        "doc_id", "width", "height",
        F.round(F.element_at("features", 1) * (255 * 36), 0)
        .cast("long").alias("pixel_sum"),
    )


def _bmp_header_3x4() -> bytes:
    """Constant 54-byte header of an uncompressed 24-bit 3×4 bottom-up
    BMP (stride 12: 9 pixel bytes + 3 pad per row) — the container the
    BMP lane of q_multimodal_decode wraps text bytes in."""
    stride, h = 12, 4
    img_size = stride * h
    file_hdr = b"BM" + (54 + img_size).to_bytes(4, "little") + b"\x00" * 4 + (54).to_bytes(4, "little")
    dib = (
        (40).to_bytes(4, "little")
        + (3).to_bytes(4, "little", signed=True)
        + (4).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + img_size.to_bytes(4, "little")
        + (2835).to_bytes(4, "little")
        + (2835).to_bytes(4, "little")
        + (0).to_bytes(4, "little")
        + (0).to_bytes(4, "little")
    )
    return file_hdr + dib


@register(
    "q_multimodal_decode",
    # Every lane is a REAL decode of a genuine raster container; the
    # formats are lossless, so the red-channel byte sum is recoverable
    # exactly from the text bytes: PGM repeats the gray plane into all
    # channels (every byte counts), P6 stores R at in-pixel offset 0
    # (1-based i%3=1), BMP stores BGR so R sits at offset 2 (i%3=0) —
    # rows are laid contiguously text[1..36] before padding, and the
    # decoder's bottom-up flip doesn't move channel means.
    oracle="""
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image/x-portable-graymap'
                       WHEN 1 THEN 'image/x-portable-pixmap'
                       ELSE 'image/bmp' END AS mime,
       CAST(CASE doc_id % 3 WHEN 0 THEN 6 WHEN 1 THEN 4 ELSE 3 END AS BIGINT) AS width,
       CAST(CASE doc_id % 3 WHEN 0 THEN 6 WHEN 1 THEN 3 ELSE 4 END AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS n_frames,
       CAST(list_sum(list_transform(
              list_filter(string_split_regex(substr(text, 1, 36), ''), x -> x <> ''),
              (c, i) -> CASE WHEN doc_id % 3 = 0
                              OR (doc_id % 3 = 1 AND i % 3 = 1)
                              OR (doc_id % 3 = 2 AND i % 3 = 0)
                        THEN unicode(c) ELSE 0 END)) AS BIGINT) AS red_sum
FROM documents
""",
)
def q_multimodal_decode(spark, sf_dir):
    """Real-decoder FORMAT ROUTING matrix in one mapInPandas stage:
    docs fan out by id across three genuine raster containers — 6×6
    PGM (P5), 4×3 PPM (P6), and 3×4 24-bit BMP (bottom-up rows, 4-byte
    stride padding) — each framing the doc's text bytes as pixels, all
    decoded by the numpy codecs behind decode_images(fake=False) in a
    single Arrow-batched pass (one magic dispatch per row, exactly how
    a mixed-format crawl decodes). The exact red-channel byte sum is
    recovered from the measured channel mean (6-decimal mean × n × 255
    has error ≪ 0.5) and value-checked against SQL ground truth."""
    d = table(spark, sf_dir, "documents")
    px = F.encode(F.substring("text", 1, 36), "UTF-8")
    pad = F.lit(b"\x00\x00\x00")
    bmp_rows = F.concat(
        *[
            c
            for r in range(4)
            for c in (F.encode(F.substring("text", 1 + 9 * r, 9), "UTF-8"), pad)
        ]
    )
    lane = F.col("doc_id") % 3
    payload = (
        F.when(lane == 0, F.concat(F.encode(F.lit("P5\n6 6\n255\n"), "UTF-8"), px))
        .when(lane == 1, F.concat(F.encode(F.lit("P6\n4 3\n255\n"), "UTF-8"), px))
        .otherwise(F.concat(F.lit(_bmp_header_3x4()), bmp_rows))
    )
    mime = (
        F.when(lane == 0, F.lit("image/x-portable-graymap"))
        .when(lane == 1, F.lit("image/x-portable-pixmap"))
        .otherwise(F.lit("image/bmp"))
    )
    framed = d.select("doc_id", payload.alias("payload"), mime.alias("mime"))
    decoded = mm.decode_images(framed, fake=False)
    n_red = F.when(F.col("mime").endswith("graymap"), F.lit(36)).otherwise(F.lit(12))
    return decoded.select(
        "doc_id",
        "mime",
        "width",
        "height",
        "n_frames",
        F.round(F.element_at("features", 1) * n_red * 255, 0)
        .cast("long")
        .alias("red_sum"),
    )


@register(
    "q_fuzzy_pairs",
    oracle="""
WITH b AS (
  SELECT doc_id,
         array_to_string((string_split(text, ' '))[1:3], ' ') AS blk,
         substr(text, 1, 40) AS probe
  FROM documents
),
g AS (SELECT blk, probe, min(doc_id) AS rep FROM b GROUP BY blk, probe),
star AS (
  SELECT g.rep AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS dist
  FROM b JOIN g ON b.blk = g.blk AND b.probe = g.probe
  WHERE b.doc_id <> g.rep
),
crossp AS (
  SELECT a.rep AS id_a, c.rep AS id_b,
         CAST(levenshtein(a.probe, c.probe) AS BIGINT) AS dist
  FROM g a JOIN g c ON a.blk = c.blk AND a.rep < c.rep
  WHERE levenshtein(a.probe, c.probe) <= 10
)
SELECT * FROM star UNION ALL SELECT * FROM crossp
""",
)
def q_fuzzy_pairs(spark, sf_dir):
    """Blocked fuzzy matching (entity resolution) with a densification
    guard: candidates are paired by a cheap blocking key (first 3
    tokens) and scored with edit distance over a 40-char probe, but
    byte-identical probes are EXACT-GROUPED first — each group emits
    star edges to its min-id representative (linear in replicas), and
    the quadratic fuzzy join runs only between DISTINCT probes within a
    block. Real crawl corpora are replica-heavy: all-pairs emission
    over k identical docs is C(k,2) by definition (VERDICT r9 #3
    measured 42.6× wall at 10× on byte-identical replicas); the star +
    rep-rep edge set yields the SAME connected components for the
    downstream clustering stage (q_dedup_cc) at linear cost. Both joins
    are hash equi-joins on the block key; levenshtein evaluates
    JVM-side (codegen), no Python. Distinct-probe density per block
    remains the standard ER skew knob (salting, as in LSH buckets)."""
    d = table(spark, sf_dir, "documents")
    b = d.select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 3)).alias("blk"),
        F.substring("text", 1, 40).alias("probe"),
    )
    g = b.groupBy("blk", "probe").agg(F.min("doc_id").alias("rep"))
    star = (
        b.join(g, ["blk", "probe"])
        .where(F.col("doc_id") != F.col("rep"))
        .select(
            F.col("rep").alias("id_a"),
            F.col("doc_id").alias("id_b"),
            F.lit(0).cast("long").alias("dist"),
        )
    )
    a = g.alias("a")
    c = g.alias("c")
    crossp = (
        a.join(c, (F.col("a.blk") == F.col("c.blk")) & (F.col("a.rep") < F.col("c.rep")))
        .where(F.levenshtein(F.col("a.probe"), F.col("c.probe")) <= 10)
        .select(
            F.col("a.rep").alias("id_a"),
            F.col("c.rep").alias("id_b"),
            F.levenshtein(F.col("a.probe"), F.col("c.probe")).cast("long").alias("dist"),
        )
    )
    return star.unionAll(crossp)


@register(
    "q_dedup_incremental",
    oracle="""
WITH base AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 4 <> 0
), delta AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id + 1000000, md5(text) FROM documents WHERE doc_id % 8 = 0
), survivors AS (
  SELECT d.doc_id, d.h,
         min(d.doc_id) OVER (PARTITION BY d.h) AS first_in_delta
  FROM delta d
  WHERE d.h NOT IN (SELECT h FROM base)
)
SELECT doc_id, (doc_id = first_in_delta) AS admit
FROM survivors
""",
)
def q_dedup_incremental(spark, sf_dir):
    """Incremental exact dedup — the production shape: admit a NEW
    batch against an EXISTING corpus without re-deduping the corpus.
    Docs split 3:1 into base/delta (plus planted in-delta dups from
    the %8 stripe): a delta row is admitted iff its content hash (a)
    anti-joins the base digest set and (b) is the first occurrence
    within the batch. Only 16-byte digests shuffle; the base side of
    the anti-join is digest-only, so at 100 TB this is a
    bloom-prefilterable hash anti-join, never a corpus rescan. Rows
    surviving (a) but losing (b) surface with admit=false rather than
    disappearing — the oracle pins both decisions."""
    d = table(spark, sf_dir, "documents")
    h = F.md5(F.encode("text", "UTF-8"))
    base = d.where(F.col("doc_id") % 4 != 0).select(h.alias("h"))
    delta = (
        d.where(F.col("doc_id") % 4 == 0)
        .select("doc_id", h.alias("h"))
        .unionAll(
            d.where(F.col("doc_id") % 8 == 0).select(
                (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"), h.alias("h")
            )
        )
    )
    from pyspark.sql import Window

    survivors = delta.join(base, "h", "left_anti").withColumn(
        "first_in_delta", F.min("doc_id").over(Window.partitionBy("h"))
    )
    return survivors.select(
        "doc_id", (F.col("doc_id") == F.col("first_in_delta")).alias("admit")
    )


@register(
    "q_dedup_keep_best",
    oracle="""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
),
grp AS (
  SELECT md5(text) AS h, min(doc_id) AS m FROM corpus GROUP BY md5(text)
),
e0 AS (
  SELECT c.doc_id AS src, g.m AS dst
  FROM corpus c JOIN grp g ON md5(c.text) = g.h
  WHERE c.doc_id <> g.m
  UNION ALL
  SELECT d.doc_id AS src, d.doc_id - 1 AS dst FROM documents d
  WHERE d.doc_id % 25 <> 0 AND d.doc_id - 1 IN (SELECT doc_id FROM documents)
),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
reach AS (
  SELECT doc_id AS id, doc_id AS lab FROM corpus
  UNION
  SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY id),
scored AS (
  SELECT c.doc_id, c.component, length(co.text) AS quality
  FROM comp c JOIN corpus co ON c.doc_id = co.doc_id
)
SELECT component,
       max_by(doc_id, quality * 10000000 + doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS cluster_size
FROM scored GROUP BY component
""",
)
def q_dedup_keep_best(spark, sf_dir):
    """Policy-driven canonical selection: within each near-dup cluster
    (same CC labels as q_dedup_cc) keep the HIGHEST-QUALITY member —
    here quality = text length, the stand-in for a model score —
    with doc_id as the total-order tie-break (clusters of exact dups
    tie on length, so the policy must be deterministic under ties).
    Real pipelines keep best, not first: the min-id convention throws
    away the longest/cleanest copy. One extra aggregate over the
    label table; the (quality, id) order key is packed into a single
    BIGINT (quality·1e7 + id — exact, id < 1e7) because DuckDB's
    max_by takes no struct keys. Zero additional corpus scans."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionAll(
        d.select((F.col("doc_id") + PLANT_OFFSET).alias("doc_id"), "text")
    )
    labels = connected_components(
        corpus.select("doc_id"), _cc_edges(d, corpus), id_col="doc_id"
    )
    scored = labels.join(
        corpus.select("doc_id", F.length("text").alias("quality")),
        labels.id == F.col("doc_id"),
    )
    return scored.groupBy("component").agg(
        F.max_by(
            "doc_id",
            F.col("quality").cast("long") * F.lit(10_000_000) + F.col("doc_id"),
        ).alias("keep_id"),
        F.count("*").cast("long").alias("cluster_size"),
    )


@register(
    "q_sim_ann_pq",
    oracle="SELECT vec_id AS qid, TRUE AS plant_recovered FROM embeddings WHERE vec_id < 10",
)
def q_sim_ann_pq(spark, sf_dir):
    """Product-quantization ANN (operators/similarity.py::ann_topk_pq —
    per-subspace k-means codebooks, m-byte codes, asymmetric-distance
    table-lookup scan) under the same planted-recall contract as
    q_sim_ann_ivf: an EXACT copy of each query vector quantizes to the
    argmin centroid in EVERY subspace, so its ADC distance equals the
    global minimum Σ_j min_c ||q_j − c||² and it must land in the
    query's top-k (ties broken by cid would need ≥k distinct vectors
    sharing the identical 8-cell product code — 16⁸ cells — to evict
    it). 100% recovery is construction, not sampling; a false row is a
    real codes/table/join bug. Codebook float internals stay out of the
    contract; semantic accuracy is pinned in tests/test_llm_ops.py."""
    emb = table(spark, sf_dir, "embeddings")
    plants = emb.select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"), "embedding"
    ).where(F.col("vec_id") - PLANT_OFFSET < 10)
    corpus = emb.select("vec_id", "embedding").unionAll(plants)
    topk = sim.ann_topk_pq(corpus, F.col("vec_id") < 10, k=5, rerank_shortlist=50)
    expected = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), (F.col("vec_id") + PLANT_OFFSET).alias("cid")
    )
    hit = topk.select("qid", "cid").withColumn("plant_recovered", F.lit(True))
    return expected.join(hit, ["qid", "cid"], "left").select(
        "qid", F.coalesce("plant_recovered", F.lit(False)).alias("plant_recovered")
    )


@register(
    "q_dedup_semantic",
    # The oracle groups by the EXACT vector bytes, so it stays valid at
    # any exact-duplicate density (a fixture with replicated vectors —
    # the round-9 sf1 gate's first synthesizer draft — would break a
    # "plants are the only dups" formulation; random non-identical
    # vectors still never reach the 0.999 cosine threshold).
    oracle="""
WITH allv AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding
  FROM embeddings WHERE vec_id % 10 = 0
)
SELECT vec_id,
       vec_id = MIN(vec_id) OVER (PARTITION BY embedding) AS kept
FROM allv
""",
)
def q_dedup_semantic(spark, sf_dir):
    """SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, public
    arXiv:2303.09540 method): k-means-cluster the embedding space, find
    near-duplicate pairs ONLY within clusters (cos >= 0.999), collapse
    duplicate groups with connected components, keep the min-id
    representative of each group. Planted-copy construction: every 10th
    embedding gets an EXACT copy at vec_id+1000000 — identical vectors
    land in the same cluster deterministically, every planted copy must
    be dropped and every original kept (random 64-dim fixture vectors
    never reach cos 0.999 cross-doc, and both sides read the same
    parquet, so the contract is exact).

    Scale shape — the reason SemDeDup clusters first: candidate pairs
    are confined to clusters, O(n²/k) total pair work instead of O(n²);
    k scales like n/target_cluster_size (the same sizing rule as LSH
    planes / MinHash bands). k-means itself collects only the k×dim
    centroid matrix (operators/similarity.py); the duplicate-group
    collapse is the parquet-barrier CC used by q_dedup_cc — node-table
    sized joins, O(log d) supersteps."""
    from pulsar_io_delta_spark.operators import similarity as sim
    from pulsar_io_delta_spark.operators.graph import connected_components

    e = sim.with_norm2(table(spark, sf_dir, "embeddings")).select(
        "vec_id", "v", "v_n2"
    )
    planted = e.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "v", "v_n2"
    )
    allv = e.unionByName(planted)
    centroids = sim.kmeans_centroids(allv, k=8, iters=3, vec="v")
    assigned = allv.withColumn(
        "cluster", sim._nearest_centroid_col("v", centroids)
    )
    a = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("av"),
        F.col("v_n2").alias("an2"), "cluster",
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("bv"),
        F.col("v_n2").alias("bn2"), "cluster",
    )
    cos = F.expr(sim.DOT.format(a="av", b="bv")) / F.sqrt(
        F.col("an2") * F.col("bn2")
    )
    edges = (
        a.join(b, ["cluster"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(cos >= 0.999)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    comp = connected_components(
        assigned.select(F.col("vec_id").alias("id")), edges
    )
    return comp.select(
        F.col("id").alias("vec_id"),
        (F.col("id") == F.col("component")).alias("kept"),
    )


@register(
    "q_dedup_substr",
    oracle="""
WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 40),
grams AS (
  SELECT doc_id, i AS pos, substr(text, i, 40) AS g
  FROM d, UNNEST(generate_series(1, length(text) - 39)) AS t(i)
),
dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
dpos AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
brk AS (SELECT doc_id, pos,
        CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 40
             THEN 1 ELSE 0 END AS b
        FROM dpos),
isl AS (SELECT doc_id, pos,
        SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM brk)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 39 AS span_end
FROM isl GROUP BY doc_id, grp
""",
)
def q_dedup_substr(spark, sf_dir):
    """Span-level exact-substring dedup (suffix-array-style, as in the
    public training-data dedup literature): maximal character ranges
    whose every 40-char window recurs in >= 2 distinct documents — the
    spans a curation pass would excise, at char granularity rather than
    q_dedup_exact's whole-doc granularity. The oracle recomputes the
    identical fixed-window semantics over the raw substrings; Spark
    groups on xxhash64 of the window (computed right after a primitive
    position explode, inside whole-stage codegen — r16) so only 8-byte
    hashes shuffle — identical output absent a 2^-65-scale hash
    collision. No plants needed: the templated corpus carries genuine
    cross-document 40-char repeats."""
    return dd.duplicated_spans(
        table(spark, sf_dir, "documents"), "doc_id", "text", k=40, min_docs=2
    )


@register(
    "q_knn_graph",
    oracle="""
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2
  FROM embeddings WHERE vec_id % 17 = 0),
p AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         list_dot_product(q.v, c.v) / sqrt(q.n2 * c.n2) AS cos
  FROM n q JOIN n c ON c.vec_id <> q.vec_id),
r AS (
  SELECT qid, cid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
  FROM p),
t AS (SELECT qid, cid, cos FROM r WHERE rn <= 5)
SELECT a.qid AS id_a, a.cid AS id_b, round(a.cos, 4) AS cos_r
FROM t a JOIN t b ON a.qid = b.cid AND a.cid = b.qid
WHERE a.qid < a.cid
""",
)
def q_knn_graph(spark, sf_dir):
    """Mutual k-NN graph construction (k=5) over a deterministic ~6%
    node sample (vec_id % 17 == 0) — the graph-building prelude to
    SemDeDup-style cluster pruning and kNN-graph community detection.
    Exact cosine top-5 per node (broadcast the sampled node set,
    windowed rank — same bit-exact dot-product contract as q_sim_topk),
    then the mutual filter as a self equi-join on the reversed
    (qid, cid) key: only reciprocated edges survive, emitted once with
    id_a < id_b.

    Scale shape: the sample IS the broadcast bound — at 100 TB the
    designated node set stays a fixed fraction chosen to fit the
    broadcast budget, and the mutual join moves O(n·k) directed edges,
    never O(n²) pairs; a full-corpus graph swaps in the IVF/LSH
    candidate generators with the identical symmetrization."""
    nodes = table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 17 == 0
    ).select("vec_id", "embedding")
    return sim.knn_graph(
        nodes, k=5, widen_to=spark.sparkContext.defaultParallelism
    )


def _bpe_oracle() -> str:
    """10 chained plain replaces — the SQL twin of bpe_tokens_col (the
    doubled-'||'-boundary trick makes plain left-to-right replace equal
    greedy BPE; see operators/text.py)."""
    s = "'||' || regexp_replace(w, '(.)', '\\1||', 'g')"
    for a, b in tx.BPE_MERGES:
        s = f"replace({s}, '|{a}||{b}|', '|{a}{b}|')"
    return f"""
WITH w AS (
  SELECT unnest(list_filter(
           string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
  FROM documents),
tok AS (
  SELECT unnest(list_filter(string_split({s}, '||'), x -> x <> '')) AS token
  FROM w),
c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token)
SELECT token, cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rk
FROM c ORDER BY rk LIMIT 20
"""


@register("q_tokenize_bpe", oracle=_bpe_oracle())
def q_tokenize_bpe(spark, sf_dir):
    """BPE tokenizer APPLY (the inference path of a trained tokenizer —
    what token-counting and sequence-packing over a 100 TB corpus
    actually run): apply the frozen 10-entry merge table to every word,
    report the top-20 subword tokens by corpus frequency.

    Scale shape — vocabulary-level application: the corpus token
    stream reduces to (word, count) pairs FIRST (one map-side-combined
    shuffle whose width is the VOCABULARY, not the stream — Zipf makes
    that orders of magnitude smaller), BPE string work then runs once
    per DISTINCT word, and per-token counts are the weighted sum of
    word counts. The oracle applies BPE to the raw stream — identical
    counts by construction, which is exactly the property the
    optimization relies on. All string work is codegen'd JVM (regexp
    encode + 10 plain replaces, no UDF)."""
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tx.tokens_col(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    toks = words.select(
        F.explode(tx.bpe_tokens_col(F.col("w"))).alias("token"), "wc"
    )
    counts = toks.groupBy("token").agg(F.sum("wc").alias("cnt"))
    from pyspark.sql import Window

    # r16 (the q_tokenize_bpe_e2e shape, VERDICT r15 #2): take the
    # top-20 with orderBy().limit() — TakeOrderedAndProject, per-
    # partition heaps, no single-partition window exchange — and rank
    # the surviving 20-row frame. Same deterministic total order, same
    # rows.
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(20)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return top.select(
        "token", "cnt", F.row_number().over(w).cast("long").alias("rk")
    ).orderBy("rk")


def _bpe_train_oracle(n: int = 10) -> str:
    """Unrolled n-round BPE training replay in pure SQL: each round is
    a CTE chain (pair explode → weighted count → deterministic arg-max
    → scalar-subquery replace), so DuckDB re-derives the SAME merge
    sequence the engine's supersteps learn — an independent
    formulation, not a re-run of the engine (PERF.md "sf10 oracle
    strategy"). The engine's tie-break
    (cnt DESC, a ASC, b ASC) is pure ASCII binary order, so both
    engines agree on every borderline round."""
    parts = [
        """
WITH w0 AS MATERIALIZED (
  SELECT w, count(*) AS wc FROM (
    SELECT unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
    FROM documents) GROUP BY w),
enc0 AS MATERIALIZED (SELECT w, wc, '||' || regexp_replace(w, '(.)', '\\1||', 'g') AS enc
         FROM w0)"""
    ]
    for k in range(n):
        parts.append(f"""
pr{k} AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, wc
  FROM (SELECT wc, list_filter(string_split(enc, '||'), x -> x <> '') AS syms
        FROM enc{k}),
       unnest(range(1, len(syms))) AS t(i)),
best{k} AS MATERIALIZED (
  SELECT a, b, CAST(sum(wc) AS BIGINT) AS cnt FROM pr{k}
  GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1)""")
        if k + 1 < n:
            # ADVICE r15: on a corpus with < n learnable pairs best{k}
            # is empty and the raw scalar subqueries go NULL — replace
            # (enc, NULL, ...) would NULL every encoding and silently
            # corrupt. Coalesce to '¤' (outside the [a-z0-9|] symbol
            # alphabet, so the pattern can never match): the round
            # becomes an explicit NO-OP, exactly what the engine's
            # early `break` does when the pair stream runs dry (no
            # pairs at round k ⇒ none at any later round, since merges
            # only shrink encodings).
            parts.append(f"""
enc{k + 1} AS MATERIALIZED (
  SELECT w, wc, replace(enc,
      '|' || coalesce((SELECT a FROM best{k}), '¤') || '||'
          || coalesce((SELECT b FROM best{k}), '¤') || '|',
      '|' || coalesce((SELECT a FROM best{k}), '¤')
          || coalesce((SELECT b FROM best{k}), '¤') || '|') AS enc
  FROM enc{k})""")
    union = "\nUNION ALL ".join(
        f"SELECT CAST({k + 1} AS BIGINT) AS rk, a, b, cnt FROM best{k}"
        for k in range(n)
    )
    return ",".join(parts) + "\n" + union


@register("q_tokenize_bpe_train", oracle=_bpe_train_oracle(10))
def q_tokenize_bpe_train(spark, sf_dir):
    """BPE tokenizer TRAINING over the documents corpus — the induction
    side of q_tokenize_bpe's frozen-table apply (VERDICT r13 #4): learn
    the first 10 merges by iterative supersteps (count adjacent symbol
    pairs over the (word, count) vocabulary, take the deterministic
    arg-max, apply the merge, repeat) and emit the learned table
    (rk, a, b, cnt). operators/text.bpe_train carries the scale
    contract: vocabulary-granularity state barriered to parquet per
    round, map-side-combined pair counts, one arg-max row to the
    driver per round. The oracle replays the same rounds as one
    unrolled SQL chain — an independent re-derivation of the whole
    merge SEQUENCE (each round's winner feeds the next round's
    encodings, so a single wrong count anywhere diverges every later
    row)."""
    from pulsar_io_delta_spark.operators.text import bpe_train, tokens_col

    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    merges = bpe_train(words, n_merges=10)
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rk long, a string, b string, cnt long",
    )


def _bpe_e2e_oracle(n: int = 10, topk: int = 20) -> str:
    """The train oracle's unrolled round chain EXTENDED THROUGH THE
    APPLY: build enc0..enc{n} (so the n-th learned merge is applied
    too), then tokenize the final encodings and rank the top-k subword
    tokens by weighted corpus count. One SQL statement independently
    re-derives the full production tokenizer path — a single wrong
    pair count in any round diverges the merge sequence, the final
    encodings, and every emitted row. Rounds past pair exhaustion
    coalesce the merge pattern to the impossible '¤' sentinel — an
    explicit no-op matching the engine's early ``break`` on a corpus
    with fewer than n learnable pairs (ADVICE r15: the raw scalar
    subqueries went NULL there and replace() silently NULLed every
    encoding)."""
    parts = [
        """
WITH w0 AS MATERIALIZED (
  SELECT w, count(*) AS wc FROM (
    SELECT unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
    FROM documents) GROUP BY w),
enc0 AS MATERIALIZED (SELECT w, wc, '||' || regexp_replace(w, '(.)', '\\1||', 'g') AS enc
         FROM w0)"""
    ]
    for k in range(n):
        parts.append(f"""
pr{k} AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, wc
  FROM (SELECT wc, list_filter(string_split(enc, '||'), x -> x <> '') AS syms
        FROM enc{k}),
       unnest(range(1, len(syms))) AS t(i)),
best{k} AS MATERIALIZED (
  SELECT a, b, CAST(sum(wc) AS BIGINT) AS cnt FROM pr{k}
  GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1),
enc{k + 1} AS MATERIALIZED (
  SELECT w, wc, replace(enc,
      '|' || coalesce((SELECT a FROM best{k}), '¤') || '||'
          || coalesce((SELECT b FROM best{k}), '¤') || '|',
      '|' || coalesce((SELECT a FROM best{k}), '¤')
          || coalesce((SELECT b FROM best{k}), '¤') || '|') AS enc
  FROM enc{k})""")
    parts.append(f"""
tok AS (
  SELECT unnest(list_filter(string_split(enc, '||'), x -> x <> '')) AS token, wc
  FROM enc{n}),
c AS (SELECT token, CAST(sum(wc) AS BIGINT) AS cnt FROM tok GROUP BY token)""")
    return ",".join(parts) + f"""
SELECT token, cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rk
FROM c ORDER BY rk LIMIT {topk}
"""


@register("q_tokenize_bpe_e2e", oracle=_bpe_e2e_oracle(10, 20))
def q_tokenize_bpe_e2e(spark, sf_dir):
    """BPE tokenizer TRAIN-THEN-APPLY as one gate query (VERDICT r14
    #6): learn the first 10 merges on the corpus vocabulary
    (q_tokenize_bpe_train's superstep path), apply the LEARNED table —
    not the frozen one — to the same vocabulary, and emit the top-20
    subword tokens by weighted corpus count. This is the full
    production tokenizer path under the hash gate; the composition
    previously existed only as a unit test
    (tests/test_llm_ops.py's trainer-feeds-apply check).

    Scale shape: training input and apply input are the SAME
    (word, count) vocabulary frame (one map-side-combined shuffle off
    the corpus, Zipf-bounded width); bpe_train barriers it to parquet
    once and each round rescans O(vocab) with one argmax row to the
    driver; the apply is n chained codegen'd replaces over the
    vocabulary with counts re-weighted by wc — no second corpus
    pass, no UDFs."""
    from pulsar_io_delta_spark.operators.text import (
        bpe_tokens_col,
        bpe_train,
        tokens_col,
    )

    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
        # materialize ONCE: both bpe_train's round-0 encoding and the
        # apply below consume this frame — without the checkpoint the
        # lazy plan would re-scan and re-tokenize the corpus a second
        # time for the apply (the dominant cost at scale).
        .localCheckpoint(eager=True)
    )
    learned = [(a, b) for a, b, _ in bpe_train(words, n_merges=10)]
    toks = words.select(
        F.explode(bpe_tokens_col(F.col("w"), learned)).alias("token"), "wc"
    )
    counts = toks.groupBy("token").agg(F.sum("wc").alias("cnt"))
    from pyspark.sql import Window

    # VERDICT r15 #2 (cosmetic): take the top-20 with orderBy().limit()
    # — TakeOrderedAndProject, per-partition heaps, no global-window
    # machinery — then rank the 20 survivors with a window that only
    # ever sees 20 rows.
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(20)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return top.select(
        "token", "cnt", F.row_number().over(w).cast("long").alias("rk")
    ).orderBy("rk")
