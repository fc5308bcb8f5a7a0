"""LLM-pipeline operator semantics: planted-near-dup recall, sketch
properties, ANN vs exact overlap, multimodal stub behavior."""

import pytest
import pyspark.sql.functions as F

from pulsar_io_delta_spark.operators import dedup as dd
from pulsar_io_delta_spark.operators import multimodal as mm
from pulsar_io_delta_spark.operators import similarity as sim
from pulsar_io_delta_spark.operators.text import fingerprint_py
from pulsar_io_delta_spark.queries.llm import PLANT_OFFSET, _planted_corpus
from pulsar_io_delta_spark.tables import table


def test_minhash_recall_on_planted(spark, sf_dir):
    """Token-preserving plants have identical signatures — recall must
    be exactly 100%, not approximately high."""
    corpus = _planted_corpus(table(spark, sf_dir, "documents"))
    n_docs = corpus.count() // 2
    pairs = dd.lsh_candidate_pairs(dd.minhash_signature(corpus, "doc_id", "text"), "doc_id")
    planted_found = pairs.where(F.col("id_b") - F.col("id_a") == PLANT_OFFSET).count()
    assert planted_found == n_docs


def test_minhash_recall_on_lossy_mutation(spark, sf_dir):
    """Fuzzy-recall property on a genuinely lossy mutation (first 14
    chars dropped): high but sub-100% recall is the sketch's nature."""
    docs = table(spark, sf_dir, "documents")
    mutated = docs.select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.substring("text", 15, 1_000_000).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionAll(mutated)
    n_docs = docs.count()
    pairs = dd.lsh_candidate_pairs(dd.minhash_signature(corpus, "doc_id", "text"), "doc_id")
    planted_found = pairs.where(F.col("id_b") - F.col("id_a") == PLANT_OFFSET).count()
    recall = planted_found / n_docs
    assert recall >= 0.85, f"minhash recall too low: {recall}"


def test_simhash_close_on_neardups(spark, sf_dir):
    corpus = _planted_corpus(table(spark, sf_dir, "documents").limit(50))
    sig = dd.simhash_signature(corpus, "doc_id", "text")
    pairs = dd.simhash_near_pairs(sig, "doc_id", max_hamming=6)
    planted = pairs.where(F.col("id_b") - F.col("id_a") == PLANT_OFFSET)
    # identical token multiset ⇒ hamming 0 ⇒ all 50 plants recovered
    assert planted.count() == 50
    assert planted.where(F.col("hamming") != 0).count() == 0
    assert pairs.where(F.col("hamming") > 6).count() == 0


def test_dedup_pipeline_recovers_plants(spark, sf_dir):
    corpus = _planted_corpus(table(spark, sf_dir, "documents"))
    keep = dd.near_dedup_keep_list(corpus, "doc_id", "text", jaccard_threshold=0.5)
    rows = keep.collect()
    assert len(rows) == corpus.count()  # every row classified
    labels = {r.id: r.keep_id for r in rows}
    # contract: plant and original share a keep group (invariant under
    # genuine cross-document near-dups merging components)
    for rid, kid in labels.items():
        if rid >= PLANT_OFFSET:
            assert kid == labels[rid - PLANT_OFFSET], (rid, kid)


def test_ngram_jaccard_bounds(spark, sf_dir):
    sub = table(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    pairs = dd.ngram_jaccard_pairs(sub, "doc_id", "text").collect()
    assert pairs
    assert all(0.0 <= r.jaccard <= 1.0 for r in pairs)


def test_ann_subset_of_bruteforce_space(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    base = sim.with_norm2(emb)
    q = base.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("v_n2").alias("qv_n2")
    )
    exact = sim.brute_force_topk(q, base, k=5).collect()
    approx = sim.ann_topk_lsh(emb, F.col("vec_id") < 5, k=5).collect()
    assert {r.qid for r in exact} == set(range(5))
    # ANN returns ≤ k per query, all with valid rank + cosine range
    for r in approx:
        assert 1 <= r.rn <= 5 and -1.0001 <= r.cos_r <= 1.0001


def test_nearest_centroid_vectorized_agrees_with_expr(spark, sf_dir):
    """The k>16 Arrow argmin path must assign the same cells as the
    literal-expression path (same argmin, same lowest-index tie rule).
    Uses k=20 centroids from the fixture itself so every vector has an
    exact-zero distance to one centroid — a genuine tie-shaped case —
    and compares against the expression path forced over the same
    centroid list."""
    base = sim.with_norm2(table(spark, sf_dir, "embeddings")).select("vec_id", "v")
    cents = [list(r.v) for r in base.orderBy("vec_id").limit(20).collect()]
    assert len(cents) > sim._EXPR_ARGMIN_MAX_K
    fast = base.withColumn("cell", sim._nearest_centroid_vectorized("v", cents))
    slow_col = None
    # force the expression path by splitting the centroid list in two
    # calls is NOT equivalent; instead inline the k<=16 shape manually
    ds = []
    for i, cent in enumerate(cents):
        arr = f"array({','.join(f'cast({x} as double)' for x in cent)})"
        d = F.expr(
            f"aggregate(zip_with(v, {arr}, (x, y) -> (x - y) * (x - y)), "
            "cast(0 as double), (acc, x) -> acc + x)"
        )
        ds.append(F.struct(d.alias("d"), F.lit(i).alias("cell")))
    slow_col = F.array_min(F.array(*ds))["cell"].cast("int")
    slow = base.withColumn("cell", slow_col)
    diff = (
        fast.alias("f")
        .join(slow.alias("s"), "vec_id")
        .where(F.col("f.cell") != F.col("s.cell"))
        .count()
    )
    assert diff == 0


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF with nprobe=4 of 8 cells should recover most exact top-5."""
    emb = table(spark, sf_dir, "embeddings")
    base = sim.with_norm2(emb)
    q = base.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("v_n2").alias("qv_n2")
    )
    exact = {(r.qid, r.cid) for r in sim.brute_force_topk(q, base, k=5).collect()}
    ivf = {(r.qid, r.cid) for r in
           sim.ann_topk_ivf(emb, F.col("vec_id") < 10, k=5, n_clusters=8, nprobe=4).collect()}
    assert ivf  # non-empty
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_fingerprint_matches_exact_dedup(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    n_text = d.select("text").distinct().count()
    fps = {fingerprint_py(r.text) for r in d.select("text").distinct().collect()}
    assert len(fps) == n_text  # no collisions on this corpus


def test_mapinarrow_byte_stats(spark, sf_dir):
    d = table(spark, sf_dir, "documents").limit(30)
    payload = mm.attach_payload(d)
    out = mm.payload_byte_stats(payload).collect()
    ref = {r.doc_id: r.byte_len for r in payload.select("doc_id", "byte_len").collect()}
    assert len(out) == 30
    for r in out:
        assert r.byte_len == ref[r.doc_id]
        assert isinstance(r.first_byte, (bytes, bytearray)) and len(r.first_byte) == 1


def test_multimodal_resize_and_frames(spark, sf_dir):
    d = table(spark, sf_dir, "documents").limit(10)
    payload = mm.attach_payload(d)
    resized = mm.resize_images(payload, 224, 224).collect()
    assert len(resized) == 10 and all(r.width == 224 and r.height == 224 for r in resized)
    frames = mm.sample_frames(payload, every_n=2).collect()
    assert len(frames) > 10  # fan-out: multiple frames per doc
    assert all(r.frame_idx % 2 == 0 for r in frames)
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    lens = {r.doc_id: r.byte_len for r in payload.select("doc_id", "byte_len").collect()}
    for doc, idxs in by_doc.items():
        n_frames = -(-lens[doc] // 64)  # ceil
        assert len(idxs) == len(range(0, n_frames, 2))


def test_multimodal_stub_contract(spark, sf_dir):
    d = table(spark, sf_dir, "documents").limit(20)
    payload = mm.attach_payload(d)
    decoded = mm.decode_images(payload, fake=True).collect()
    assert len(decoded) == 20
    assert all(len(r.features) == 8 for r in decoded)
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        mm.decode_images(payload, fake=False).collect()


def test_keep_list_transitive_chain(spark):
    """A≈B≈C chains must resolve every member to the cluster root A,
    even when A and C share no LSH bucket directly."""
    words = [f"alpha{i} beta{i} gamma{i}" for i in range(14)]
    base = " ".join(words)
    mid = base.replace("alpha0", "delta0").replace("beta0", "epsilon0")
    far = mid.replace("gamma13", "zeta13").replace("beta13", "eta13")
    rows = [(0, base), (1, mid), (2, far), (3, "completely unrelated text about spark " * 12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    keep = {
        r.id: r.keep_id
        for r in dd.near_dedup_keep_list(
            df, "doc_id", "text", jaccard_threshold=0.5
        ).collect()
    }
    assert keep == {0: 0, 1: 0, 2: 0, 3: 3}


def test_keep_list_chain_longer_than_twenty_rounds(spark):
    """A 30-doc near-dup chain (diameter 29) must collapse to doc 0.
    Each doc is 42 random six-letter words, shifted 10 words from the
    previous one: neighbours have Jaccard ~0.6, docs two apart ~0.33,
    so the verified graph is a path. 32 one-row bands make every
    neighbour pair a candidate. A per-round min-label propagation
    capped at 20 rounds would leave docs 21-29 partially labelled."""
    import random
    import string

    rng = random.Random(20261017)
    words = [
        "".join(rng.choices(string.ascii_lowercase, k=6)) for _ in range(42 + 29 * 10)
    ]
    rows = [(i, " ".join(words[10 * i : 10 * i + 42])) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    keep = {
        r.id: r.keep_id
        for r in dd.near_dedup_keep_list(
            df, "doc_id", "text", num_perm=32, bands=32
        ).collect()
    }
    assert keep == {i: 0 for i in range(30)}


def test_char_ngrams_on_renamed_column(spark):
    from pulsar_io_delta_spark.operators.text import char_ngrams_col

    df = spark.createDataFrame([("abcd",)], "body string")
    grams = df.select(char_ngrams_col(F.col("body"), 3).alias("g")).first().g
    assert sorted(grams) == ["abc", "bcd"]
    # and on a computed expression, not just a bare column
    grams2 = (
        df.select(char_ngrams_col(F.upper(F.col("body")), 3).alias("g")).first().g
    )
    assert sorted(grams2) == ["ABC", "BCD"]


def test_lsh_salt_bounds_degenerate_buckets(spark):
    """A boilerplate corpus (150 near-identical docs) collapses into one
    (band, bh) bucket; the salt knob must (a) keep the candidate set
    IDENTICAL and (b) bound the per-reducer probe-group size to
    ~bucket/salt (PERF.md's promised degenerate-bucket mitigation)."""
    boiler = "terms of service apply to all users of this website please read carefully"
    rows = [(i, boiler) for i in range(150)] + [
        (1000 + i, f"unique document number {i} about topic {i * 7}") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = dd.minhash_signature(df, "doc_id", "text")

    plain = {(r.id_a, r.id_b) for r in dd.lsh_candidate_pairs(sig, "doc_id").collect()}
    salted = {
        (r.id_a, r.id_b)
        for r in dd.lsh_candidate_pairs(sig, "doc_id", salt=8).collect()
    }
    assert salted == plain  # salting never changes the result
    assert len(plain) >= 150 * 149 // 2  # the degenerate bucket is real

    # reducer-side bound: unsalted, one (band, bh) group owns all 150
    # boilerplate rows; salted, the max probe group drops ~8x
    rows_per_band, bands = 4, 8
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[f"m{b * rows_per_band + r}" for r in range(rows_per_band)]).alias("bh"),
        )
        for b in range(bands)
    ]
    buckets = sig.select(
        F.col("doc_id"), F.explode(F.array(*band_cols)).alias("bb")
    ).select(F.col("doc_id"), F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    unsalted_max = (
        buckets.groupBy("band", "bh").count().agg(F.max("count")).first()[0]
    )
    assert unsalted_max == 150
    salted_max = (
        dd.salted_lsh_buckets(buckets, "doc_id", 8)
        .groupBy("band", "bh", "_salt")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert salted_max <= 2 * (150 // 8 + 1)  # ~19 expected; 2x slack for hash skew


def _ppm_bytes(arr):
    import numpy as np
    h, w, ch = arr.shape
    magic = b"P6" if ch == 3 else b"P5"
    return b"%s\n# test image\n%d %d\n255\n" % (magic, w, h) + np.ascontiguousarray(arr).tobytes()


def _bmp_bytes(rgb):
    """Minimal uncompressed 24-bit BMP (bottom-up, BGR, padded rows)."""
    import numpy as np
    h, w, _ = rgb.shape
    stride = ((w * 3 + 3) // 4) * 4
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)
    pix = rows.tobytes()
    header = (b"BM" + (54 + len(pix)).to_bytes(4, "little") + b"\0\0\0\0"
              + (54).to_bytes(4, "little")
              + (40).to_bytes(4, "little")
              + w.to_bytes(4, "little") + h.to_bytes(4, "little")
              + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
              + (0).to_bytes(4, "little") + len(pix).to_bytes(4, "little")
              + (0).to_bytes(4, "little") * 4)
    return header + pix


def test_real_decode_ppm_and_bmp(spark):
    """fake=False REALLY decodes uncompressed rasters: dimensions and
    channel statistics match numpy ground truth for PPM, PGM, and BMP."""
    import numpy as np

    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, (5, 9, 3), np.uint8)
    gray = rng.randint(0, 256, (4, 6, 1), np.uint8)
    payloads = [(0, _ppm_bytes(rgb), "image/x-portable-pixmap"),
                (1, _ppm_bytes(gray), "image/x-portable-graymap"),
                (2, _bmp_bytes(rgb), "image/bmp")]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary, mime string")
    out = {r.doc_id: r for r in mm.decode_images(df, fake=False).collect()}
    assert (out[0].width, out[0].height, out[0].n_frames) == (9, 5, 1)
    assert (out[1].width, out[1].height) == (6, 4)
    assert (out[2].width, out[2].height) == (9, 5)
    exp_mean_r = round(float(rgb[:, :, 0].mean() / 255.0), 6)
    assert abs(out[0].features[0] - exp_mean_r) < 1e-9
    # BMP round-trips to the same pixels as the PPM of the same array
    assert out[2].features == out[0].features
    # grayscale: all three channel means equal
    assert out[1].features[0] == out[1].features[1] == out[1].features[2]


def test_real_resize_ppm(spark):
    import numpy as np

    rgb = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    df = spark.createDataFrame(
        [(0, _ppm_bytes(rgb), "image/x-portable-pixmap")],
        "doc_id long, payload binary, mime string",
    )
    row = mm.resize_images(df, 4, 4, fake=False).first()
    assert (row.width, row.height) == (4, 4)
    back = mm.decode_images(
        spark.createDataFrame([(0, bytes(row.payload), row.mime)],
                              "doc_id long, payload binary, mime string"),
        fake=False,
    ).first()
    assert (back.width, back.height) == (4, 4)
    # nearest-neighbour 2x upscale preserves the channel means exactly
    orig = mm.decode_images(df, fake=False).first()
    assert back.features[:3] == orig.features[:3]


def test_real_decode_wav_pcm16(spark):
    """decode_audio(fake=False) really parses PCM-16 WAV: stdlib `wave`
    writes the fixture, our numpy chunk-walker reads it back."""
    import io
    import wave

    import numpy as np

    rate = 8000
    t = np.arange(rate)  # 1 second
    sine = (np.sin(2 * np.pi * 440 * t / rate) * 0.5 * 32767).astype("<i2")
    stereo = np.stack([sine, np.zeros_like(sine)], axis=1)
    payloads = []
    for i, (arr, nch) in enumerate([(sine.reshape(-1, 1), 1), (stereo, 2)]):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(nch)
            wf.setsampwidth(2)
            wf.setframerate(rate)
            wf.writeframes(arr.astype("<i2").tobytes())
        payloads.append((i, buf.getvalue(), "audio/wav"))
    df = spark.createDataFrame(payloads, "doc_id long, payload binary, mime string")
    out = {r.doc_id: r for r in mm.decode_audio(df, fake=False).collect()}
    mono = out[0]
    assert (mono.sample_rate, mono.n_channels, mono.n_samples) == (rate, 1, rate)
    assert mono.duration_s == 1.0
    # 0.5-amplitude sine: rms = 0.5/sqrt(2) ~ 0.3536, zcr ~ 2*440/8000 = 0.11
    assert abs(mono.features[0] - 0.35355) < 0.01
    assert abs(mono.features[1] - 0.11) < 0.01
    assert 0.49 < mono.features[2] <= 0.5
    # stereo: mean of (sine, silence) halves the rms
    assert abs(out[1].features[0] - 0.35355 / 2) < 0.01
    # non-WAV payload → loud NotImplementedError/ValueError, not garbage
    bad = spark.createDataFrame([(9, b"\xff\xd8\xff\xe0jpeg...", "image/jpeg")],
                                "doc_id long, payload binary, mime string")
    with pytest.raises(Exception, match="RIFF|media decode|audio payload magic"):
        mm.decode_audio(bad, fake=False).collect()


def _avi_bytes(frames_rgb):
    """Minimal uncompressed AVI: RIFF('AVI ') → LIST(hdrl){avih} →
    LIST(movi){00db...}. Only the fields our demuxer reads are filled."""
    import numpy as np

    def chunk(cid, body):
        pad = b"\0" if len(body) % 2 else b""
        return cid + len(body).to_bytes(4, "little") + body + pad

    h, w, _ = frames_rgb[0].shape
    avih = bytearray(56)
    avih[32:36] = w.to_bytes(4, "little")
    avih[36:40] = h.to_bytes(4, "little")
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", bytes(avih)))
    movi_body = b"movi" + b"".join(
        chunk(b"00db", np.ascontiguousarray(f[::-1, :, ::-1]).tobytes())
        for f in frames_rgb
    )
    movi = chunk(b"LIST", movi_body)
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_real_avi_frame_sampling(spark):
    """fake=False demuxes real uncompressed AVI frames: every_n
    sampling yields the exact pixel buffers that were muxed in."""
    import numpy as np

    rng = np.random.RandomState(3)
    frames = [rng.randint(0, 256, (4, 6, 3), np.uint8) for _ in range(5)]
    df = spark.createDataFrame(
        [(0, _avi_bytes(frames), "video/x-msvideo")],
        "doc_id long, payload binary, mime string",
    )
    out = {r.frame_idx: bytes(r.frame) for r in
           mm.sample_frames(df, every_n=2, fake=False).collect()}
    assert sorted(out) == [0, 2, 4]
    for idx in (0, 2, 4):
        expect = np.ascontiguousarray(frames[idx][::-1, :, ::-1]).tobytes()
        assert out[idx] == expect
    # compressed stream fourcc fails loudly
    bad = _avi_bytes(frames).replace(b"00db", b"00dc")
    bdf = spark.createDataFrame([(1, bad, "video/x-msvideo")],
                                "doc_id long, payload binary, mime string")
    with pytest.raises(Exception, match="00dc|pyav"):
        mm.sample_frames(bdf, every_n=1, fake=False).collect()


def test_pq_recall_vs_exact_l2(spark, sf_dir):
    """PQ ADC (8 subspaces × 16 centroids over 64 dims) should recover
    most exact L2 top-5 — the quantization-error recall bound. Also
    pins the contract basics: ≤ k per query, ADC non-negative and
    non-decreasing in rank."""
    from pyspark.sql.window import Window

    emb = table(spark, sf_dir, "embeddings")
    base = sim.with_norm2(emb)
    q = base.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    j = base.join(F.broadcast(q), F.col("qid") != F.col("vec_id"))
    l2 = F.expr(
        "aggregate(zip_with(qv, v, (x, y) -> (x - y) * (x - y)), "
        "cast(0 as double), (acc, x) -> acc + x)"
    )
    w = Window.partitionBy("qid").orderBy(F.asc("d"), F.asc("vec_id"))
    exact = {
        (r.qid, r.vec_id)
        for r in j.withColumn("d", l2)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .collect()
    }
    pq = sim.ann_topk_pq(
        emb, F.col("vec_id") < 10, k=5, rerank_shortlist=100
    ).collect()
    assert len(pq) <= 50
    by_q: dict = {}
    for r in pq:
        assert r.adc_r >= 0
        by_q.setdefault(r.qid, []).append((r.rn, r.adc_r))
    for rows in by_q.values():
        rows.sort()
        assert all(rows[i][1] <= rows[i + 1][1] for i in range(len(rows) - 1))
    recall = len(exact & {(r.qid, r.cid) for r in pq}) / len(exact)
    assert recall >= 0.7, f"PQ recall too low: {recall}"


def test_duplicated_spans_planted(spark):
    """Hand-built corpus with a known shared block: the maximal span,
    its exact boundaries, single-doc-repeat exclusion, and the
    min_docs knob are all pinned."""
    shared = "X" * 10 + "the quick brown fox jumps over the lazy dog" + "Y" * 10
    docs = spark.createDataFrame(
        [
            # docs 1 and 2 share a 64-char block at different offsets
            (1, "A" * 7 + shared + "B" * 5),
            (2, shared + "C" * 30),
            # doc 3: repeats a 45-char block twice WITHIN itself only —
            # count_distinct(doc) == 1, must not mark anything
            (3, ("z" * 45) + "-" * 9 + ("z" * 45)),
            # doc 4: unique text, no spans
            (4, "q" * 120),
            # doc 5: too short for any 40-gram
            (5, "tiny"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dd.duplicated_spans(docs, "doc_id", "text", k=40).collect()
    }
    # shared block is 10+43+10 = 63 chars; in doc 1 it starts at 8
    # (1-based), in doc 2 at 1. Every 40-window inside it is shared,
    # so the merged span covers exactly the block.
    assert spans == {(1, 8, 70), (2, 1, 63)}
    # min_docs=1 degenerates to "any window repeated anywhere" — now
    # doc 3's self-repeat marks both copies (plus docs 1/2 entirely?
    # no: unique windows stay unmarked, so doc 4 still absent)
    spans1 = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dd.duplicated_spans(docs, "doc_id", "text", k=40, min_docs=1).collect()
    }
    assert (4, 1, 120) in spans1  # every window of qqq... is self-equal
    assert any(d == 3 for d, _, _ in spans1)


def test_adaptive_planes_rule_matches_sql_twin():
    """The integer sizing rule (smallest p with target*2^p >= n, clamped
    to [LO, HI]) and its DuckDB CASE-chain twin agree on every boundary
    count — the contract that lets q_dedup_embcos derive the plane count
    on both engines independently (VERDICT r9 #2)."""
    import duckdb

    ns = [1, 31, 32, 33, 511, 512, 513, 1024, 1025, 2000, 20000,
          32 * (1 << 15), 32 * (1 << 15) + 1, 10**9]
    case = sim.adaptive_planes_case_sql("n")
    got = duckdb.sql(
        f"SELECT n, {case} AS p FROM (SELECT unnest({ns}) AS n)"
    ).fetchall()
    assert {n: p for n, p in got} == {n: sim.adaptive_planes(n) for n in ns}
    # prefix stability: hyperplanes(d, p) is the first p rows of the
    # HI-plane matrix the oracle embeds
    full = sim.hyperplanes(8, sim.ADAPTIVE_PLANES_HI)
    assert sim.hyperplanes(8, 5) == full[:5]


class TestPiiScrub:
    def test_scrub_and_counts(self, spark):
        from pulsar_io_delta_spark.operators.text import scrub_pii

        df = spark.createDataFrame(
            [
                (1, "mail a.b-c_d@ex-1.co.uk now, or 10.0.0.1 / 555-0199"),
                (2, "no pii here at all"),
                (3, "two mails x@y.io z@w.ai and 999-1234 twice 111-2222"),
            ],
            "id long, text string",
        )
        got = {
            r.id: r
            for r in scrub_pii(df, "text", "clean").collect()
        }
        assert got[1].clean == "mail <EMAIL> now, or <IP> / <PHONE>"
        assert (got[1].n_emails, got[1].n_phones, got[1].n_ips) == (1, 1, 1)
        assert got[2].clean == "no pii here at all"
        assert (got[2].n_emails, got[2].n_phones, got[2].n_ips) == (0, 0, 0)
        assert got[3].clean == "two mails <EMAIL> <EMAIL> and <PHONE> twice <PHONE>"
        assert got[3].n_emails == 2 and got[3].n_phones == 2

    def test_version_numbers_not_phone_or_ip(self, spark):
        from pulsar_io_delta_spark.operators.text import scrub_pii

        df = spark.createDataFrame(
            [(1, "release 12345-67890 and semver 1.2.3 stay")],
            "id long, text string",
        )
        r = scrub_pii(df, "text", "clean").first()
        # \b\d{3}-\d{4}\b does not match inside longer digit runs;
        # IPv4 needs all four octets
        assert r.clean == "release 12345-67890 and semver 1.2.3 stay"
        assert (r.n_phones, r.n_ips) == (0, 0)

    def test_plan_is_narrow_jvm_map(self, spark):
        from pulsar_io_delta_spark.operators.text import scrub_pii

        df = spark.range(10).selectExpr("id", "CAST(id AS STRING) AS text")
        plan = scrub_pii(df, "text").sample(False, 1.0)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # zero shuffle
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_widened_phone_forms(self, spark):
        # round 12 (VERDICT r11 #4): international/parenthesized/
        # 10-digit forms, each ONE match, still leftmost-first in both
        # engines
        from pulsar_io_delta_spark.operators.text import scrub_pii

        df = spark.createDataFrame(
            [
                (1, "call +1-(555)-123-4567 now"),
                (2, "tel (555) 123-4567 or (555)123-4567"),
                (3, "dial 555-123-4567 and local 555-0199"),
                (4, "intl +1 555 123 4567 spaced"),
            ],
            "id long, text string",
        )
        got = {r.id: r for r in scrub_pii(df, "text", "clean").collect()}
        assert got[1].clean == "call <PHONE> now" and got[1].n_phones == 1
        assert got[2].clean == "tel <PHONE> or <PHONE>"
        assert got[3].clean == "dial <PHONE> and local <PHONE>"
        assert got[4].clean == "intl <PHONE> spaced"

    def test_ssn_and_ipv6_classes(self, spark):
        from pulsar_io_delta_spark.operators.text import scrub_pii

        df = spark.createDataFrame(
            [
                (1, "ssn 123-45-6789 next to phone 555-123-4567"),
                (2, "v6 2001:db8:1:2:3:4:5:6 and fe80::1234"),
                (3, "time 12:34:56 and ::1 and dead:beef stay"),
            ],
            "id long, text string",
        )
        got = {r.id: r for r in scrub_pii(df, "text", "clean").collect()}
        assert got[1].clean == "ssn <SSN> next to phone <PHONE>"
        assert (got[1].n_ssn, got[1].n_phones) == (1, 1)
        assert got[2].clean == "v6 <IPV6> and <IPV6>" and got[2].n_ipv6 == 2
        # documented non-goals / false-positive guards: timestamps,
        # empty-left-side '::', sub-4-group hex words
        assert got[3].clean == "time 12:34:56 and ::1 and dead:beef stay"
        assert (got[3].n_ipv6, got[3].n_phones, got[3].n_ssn) == (0, 0, 0)


class TestHtmlExtract:
    def test_strips_script_style_tags_and_collapses(self, spark):
        from pulsar_io_delta_spark.operators.text import html_extract

        df = spark.createDataFrame(
            [
                (1, '<html><style>a{}</style><script>if(1<2){x="</p>"}</script>'
                    '<p>hello   <b>world</b></p></html>'),
            ],
            "id long, html string",
        )
        r = html_extract(df).first()
        assert r.clean_text == "hello world"
        assert 0 < r.text_density < 1

    def test_comments_with_embedded_tags_leave_no_residue(self, spark):
        # round 12 (VERDICT r11 #2): '<!-- a <b> comment -->' used to
        # match '<[^>]*>' only up to the first '>', leaving a stray
        # '-->' in clean_text and counting its chars in text_density
        from pulsar_io_delta_spark.operators.text import html_extract

        df = spark.createDataFrame(
            [
                (1, '<p>a</p><!-- nav <b>off</b> now --><p>b</p>'),
                (2, '<!-- multi\nline <i>c</i> --><p>kept</p>'),
            ],
            "id long, html string",
        )
        got = {r.id: r for r in html_extract(df).collect()}
        assert got[1].clean_text == "a b" and "-->" not in got[1].clean_text
        assert got[2].clean_text == "kept"


class TestLineDedup:
    def test_boilerplate_lines_removed_cross_doc(self, spark):
        # round 12: C4-style cross-doc line dedup on 2-token 'lines'
        from pulsar_io_delta_spark.operators.dedup import line_dedup

        df = spark.createDataFrame(
            [
                (1, "cookie banner unique one text here"),
                (2, "cookie banner other words entirely now"),
                (3, "totally fresh document body words"),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in
               line_dedup(df, width=2, min_docs=2).collect()}
        # 'cookie banner' appears in docs 1 and 2 -> removed from both
        assert got[1].n_removed == 1 and got[2].n_removed == 1
        assert "cookie banner" not in got[1].clean_text
        assert got[1].clean_text == "unique one\ntext here"
        assert got[3].n_removed == 0
        assert got[3].clean_text == "totally fresh\ndocument body\nwords"

    def test_identical_docs_clean_to_empty(self, spark):
        from pulsar_io_delta_spark.operators.dedup import line_dedup

        df = spark.createDataFrame(
            [(1, "same words again"), (2, "same words again")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in
               line_dedup(df, width=3, min_docs=2).collect()}
        assert got[1].clean_text == "" and got[1].n_removed == got[1].n_lines

    def test_empty_text_yields_empty_chunk_array(self, spark):
        # ADVICE r12: sequence(1, 0) auto-steps -1 -> [1, 0]; the
        # standalone helper used to emit two empty-string 'chunks'
        from pulsar_io_delta_spark.operators.dedup import line_chunks_col

        df = spark.createDataFrame(
            [(["a", "b", "c"],), ([],)], "toks array<string>"
        )
        got = [r[0] for r in df.select(line_chunks_col("toks", 2)).collect()]
        assert got[0] == ["a b", "c"]
        assert got[1] == []

    def test_newline_native_mode(self, spark):
        # VERDICT r12 #4: delimiter mode dedups REAL newline-lines —
        # the C4 semantics — comparing and re-joining verbatim text
        # (case and punctuation preserved), not token windows.
        from pulsar_io_delta_spark.operators.dedup import line_dedup

        df = spark.createDataFrame(
            [
                (1, "Accept our Cookies!\nArticle one body.\n\n  "),
                (2, "Accept our Cookies!\nA different article."),
                (3, "No chrome here.\nJust content."),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in
               line_dedup(df, min_docs=2, delimiter="\n").collect()}
        assert got[1].n_removed == 1 and got[2].n_removed == 1
        assert got[1].clean_text == "Article one body."
        assert got[2].clean_text == "A different article."
        # blank/whitespace-only segments are dropped, not counted
        assert got[1].n_lines == 2
        assert got[3].n_removed == 0
        assert got[3].clean_text == "No chrome here.\nJust content."


class TestUrlCanonicalization:
    def test_variants_collapse(self, spark):
        from pulsar_io_delta_spark.operators.text import canonicalize_url

        urls = [
            "HTTPS://WWW.Example.COM:443/Doc/1?b=2&a=1#frag",
            "https://example.com/Doc/1/?utm_source=x&a=1&b=2",
            "https://example.com/Doc/1?a=1&b=2",
        ]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        got = {r[0] for r in df.select(canonicalize_url(F.col("url"))).collect()}
        assert got == {"https://example.com/Doc/1?a=1&b=2"}

    def test_distinct_resources_stay_distinct(self, spark):
        from pulsar_io_delta_spark.operators.text import canonicalize_url

        urls = [
            "http://a.com:8080/x",      # non-default port kept
            "http://a.com/x",
            "https://a.com/X",          # path case kept
            "https://a.com/x?a=2",      # different param value
            "https://a.com/x?a=1",
        ]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        got = [r[0] for r in df.select(canonicalize_url(F.col("url"))).collect()]
        assert len(set(got)) == 5


def test_containment_asymmetric_on_plants(spark, sf_dir):
    """Containment of A inside A + " ." is structurally 1.0 (every
    char-3-gram of A is a substring of the extension); the reverse
    direction must be < 1.0 whenever the plant gained a new distinct
    gram, and both ratios must agree with a Python recomputation on a
    sample — exact values, not bounds."""
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 30)
    corpus = _planted_corpus(docs)
    cand = docs.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + PLANT_OFFSET).alias("id_b"),
    )
    got = {
        (r.id_a, r.id_b): (r.cont_ab, r.cont_ba)
        for r in dd.containment_on_candidates(
            corpus, cand, "doc_id", "text"
        ).collect()
    }
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert len(got) == len(texts)
    for (ia, ib), (cab, cba) in got.items():
        a, b = texts[ia], texts[ia] + " ."
        ga = {a[i : i + 3] for i in range(max(len(a) - 2, 1))}
        gb = {b[i : i + 3] for i in range(max(len(b) - 2, 1))}
        inter = len(ga & gb)
        assert cab == round(inter / len(ga), 4) == 1.0
        assert cba == round(inter / len(gb), 4)
        if len(gb) > len(ga):
            assert cba < 1.0


def test_containment_short_inside_long(spark):
    """The signal Jaccard misses: a short doc embedded verbatim in a
    much longer one reads containment(short→long) = 1.0 while Jaccard
    stays low."""
    short = "the quick brown fox jumps over the lazy dog"
    long = short + " " + "filler words stretch this document much longer " * 8
    df = spark.createDataFrame([(1, short), (2, long)], "doc_id long, text string")
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    row = dd.containment_on_candidates(df, cand, "doc_id", "text").collect()[0]
    assert row.cont_ab == 1.0
    assert row.cont_ba < 0.5
    jac = dd.jaccard_on_candidates(df, cand, "doc_id", "text").collect()[0]
    assert jac.jaccard < 0.5


def test_inverted_index_postings_exact(spark):
    """Posting lists, df and cf against a hand-built corpus: top-8 by
    (tf desc, doc_id), truncation at 8, and the salted two-phase
    selection agreeing with the direct single-window answer."""
    from pulsar_io_delta_spark.queries.pipeline2 import inverted_index

    rows = [(i, "alpha " * (i + 1) + ("beta " if i % 2 == 0 else "")) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.token: (r.df, r.cf, r.postings) for r in inverted_index(df).collect()}
    # alpha: in all 12 docs, tf = doc_id + 1 → top-8 = docs 11..4
    exp_alpha = ",".join(f"{d}:{d + 1}" for d in range(11, 3, -1))
    assert got["alpha"] == (12, sum(range(1, 13)), exp_alpha)
    # beta: even docs only, tf = 1 each → ties broken by doc_id asc
    exp_beta = ",".join(f"{d}:1" for d in [0, 2, 4, 6, 8, 10])
    assert got["beta"] == (6, 6, exp_beta)
    # salt granularity must not change the answer
    got2 = {r.token: r.postings for r in inverted_index(df, salt=3).collect()}
    assert got2["alpha"] == exp_alpha and got2["beta"] == exp_beta


def test_knn_graph_mutual_only(spark):
    """Hand-built geometry: a tight trio of near-parallel vectors plus
    one hub-adjacent outlier. With k=1 each trio member picks its
    nearest trio sibling; the outlier picks a trio member that does NOT
    reciprocate — the outlier must have no edge, and every emitted edge
    must appear exactly once with id_a < id_b."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.04, 0.0]),   # 0's nearest, and 0 is 1's nearest
        (2, [0.0, 1.0, 0.0]),
        (3, [0.04, 0.999, 0.0]),   # 2<->3 mutual
        (4, [0.5, 0.5, 0.0]),      # nearest to others but nobody's top-1
    ]
    nodes = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    edges = {
        (r.id_a, r.id_b) for r in sim.knn_graph(nodes, k=1).collect()
    }
    assert edges == {(0, 1), (2, 3)}


def test_knn_graph_k_bounds_degree(spark, sf_dir):
    """Every node's degree in the mutual graph is <= k, and each edge is
    reciprocated in the directed top-k (the defining property)."""
    nodes = table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 17 == 0
    ).select("vec_id", "embedding")
    k = 3
    g = sim.knn_graph(nodes, k=k)
    deg = (
        g.select(F.col("id_a").alias("v"))
        .unionAll(g.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .count()
    )
    assert deg.where(F.col("count") > k).count() == 0


def _py_bpe(word, merges):
    """Reference greedy BPE apply: for each merge in table order,
    repeatedly scan left-to-right merging non-overlapping pairs."""
    toks = list(word)
    for a, b in merges:
        out, i = [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
    return toks


def test_bpe_tokens_matches_reference_impl(spark):
    """The doubled-boundary replace trick must equal the classic greedy
    BPE apply on adversarial shapes: back-to-back pairs ('erer'),
    overlapping candidates ('aaa' under (a,a)), multi-level merges
    ('the', 'ing', 'ers'), and non-participating chars."""
    from pulsar_io_delta_spark.operators.text import BPE_MERGES, bpe_tokens_col

    words = ["the", "thermal", "erer", "ering", "bothering", "zzz",
             "and", "standing", "banana", "intheend"]
    merges = BPE_MERGES
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r.w: r.t for r in df.select("w", bpe_tokens_col(F.col("w")).alias("t")).collect()}
    for w in words:
        assert got[w] == _py_bpe(w, merges), (w, got[w], _py_bpe(w, merges))


def test_bpe_overlap_merges_left_first(spark):
    """(a,a) on 'aaaa' -> [aa, aa]; on 'aaa' -> [aa, a] — the greedy
    non-overlapping left-to-right contract."""
    from pulsar_io_delta_spark.operators.text import bpe_tokens_col

    df = spark.createDataFrame([("aaa",), ("aaaa",), ("aaaaa",)], "w string")
    got = {r.w: r.t for r in df.select(
        "w", bpe_tokens_col(F.col("w"), [("a", "a")]).alias("t")).collect()}
    assert got["aaa"] == ["aa", "a"]
    assert got["aaaa"] == ["aa", "aa"]
    assert got["aaaaa"] == ["aa", "aa", "a"]


def test_bpe_train_learns_known_merges(spark):
    """Hand-checkable corpus: 'the' x3, 'then' x1, 'her' x2. Round 1:
    (h,e) appears in all three words = 6, beating (t,h)=4 and (e,r)=2,
    so (h,e) must win; later rounds re-count over the merged
    encodings. Checked against an independent Python trainer that
    shares only the tie-break rule."""
    from pulsar_io_delta_spark.operators.text import bpe_train

    wc = {"the": 3, "then": 1, "her": 2}
    df = spark.createDataFrame(list(wc.items()), "w string, wc long")
    got = bpe_train(df, n_merges=3)

    # independent reference trainer over token lists
    encs = {w: list(w) for w in wc}
    want = []
    for _ in range(3):
        counts = {}
        for w, toks in encs.items():
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                counts[p] = counts.get(p, 0) + wc[w]
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((a, b, cnt))
        encs = {w: _py_bpe(w, [m[:2] for m in want]) for w in wc}
    assert got == want, (got, want)


def test_bpe_train_feeds_apply(spark):
    """The learned table drops straight into bpe_tokens_col: training
    then applying reproduces the trained encodings (induction and
    inference agree on the same greedy semantics)."""
    from pulsar_io_delta_spark.operators.text import bpe_tokens_col, bpe_train

    wc = {"sing": 4, "ring": 3, "thing": 2, "banana": 2}
    df = spark.createDataFrame(list(wc.items()), "w string, wc long")
    merges = [(a, b) for a, b, _ in bpe_train(df, n_merges=4)]
    got = {
        r.w: r.t
        for r in df.select(
            "w", bpe_tokens_col(F.col("w"), merges).alias("t")
        ).collect()
    }
    for w in wc:
        assert got[w] == _py_bpe(w, merges), (w, got[w])


def test_bpe_train_leaves_no_work_dir(spark, tmp_path, monkeypatch):
    """bpe_train returns a list, so no parquet round may outlive the
    call: its own temp dir is removed, and a caller-supplied work_dir
    is emptied but left in place."""
    import tempfile

    from pulsar_io_delta_spark.operators.text import bpe_train

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    df = spark.createDataFrame([("the", 3), ("then", 1), ("her", 2)], "w string, wc long")
    assert len(bpe_train(df, n_merges=3)) == 3
    assert list(tmp_path.iterdir()) == []
    work = tmp_path / "work"
    work.mkdir()
    assert len(bpe_train(df, n_merges=3, work_dir=str(work))) == 3
    assert list(tmp_path.iterdir()) == [work]
    assert list(work.iterdir()) == []


def test_keep_list_returns_null_text_rows(spark):
    """The every-row contract survives the r15 exact-content collapse:
    a NULL text cannot be md5-grouped (NULL never equi-joins), so it
    must be routed straight to keep_id = id — not silently dropped."""
    import pyspark.sql.functions as FF

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    got = {
        r.id: r.keep_id
        for r in dd.near_dedup_keep_list(df, "doc_id", "text").collect()
    }
    assert got == {1: 1, 2: 2, 3: 1}


# ---- r16: exact-content pre-collapse equivalence (VERDICT r15 #3) ----

def _replica_corpus(spark):
    """Replica-dense corpus exercising every collapse edge: byte-
    identical replica groups, a NULL text, an empty text, a punct-only
    (zero-token) text — replicated so its within-group handling is
    observable — and two DISTINCT texts with an identical token stream
    (must still pair cross-group)."""
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (7, "alpha beta gamma delta"),
        (3, "epsilon zeta eta theta iota"),
        (4, "epsilon zeta eta theta iota"),
        (5, "totally different words here kappa"),
        (6, None),
        (8, ""),
        (9, "!!! ..."),
        (10, "!!! ..."),
        (11, "Alpha, beta; GAMMA delta?"),  # same token stream as 1/2/7
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_collapsed_pairs_equivalence(spark):
    df = _replica_corpus(spark)
    sig = dd.minhash_signature(df, "doc_id", "text")
    old = {(r.id_a, r.id_b) for r in dd.lsh_candidate_pairs(sig, "doc_id").collect()}
    new_rows = dd.minhash_lsh_pairs(df, "doc_id", "text").collect()
    new = {(r.id_a, r.id_b) for r in new_rows}
    assert new == old
    # the structural claim behind dropping distinct(): no duplicates
    assert len(new_rows) == len(new)
    # replicas of 1 actually pair (within-group path exercised)
    assert (1, 2) in new and (2, 7) in new
    # distinct texts with identical token streams pair cross-group
    assert (1, 11) in new


def test_simhash_collapsed_pairs_equivalence(spark):
    df = _replica_corpus(spark)
    sig = dd.simhash_signature(df, "doc_id", "text")
    old = {
        (r.id_a, r.id_b): r.hamming
        for r in dd.simhash_near_pairs(sig, "doc_id", max_hamming=6).collect()
    }
    new_rows = dd.simhash_pairs(df, "doc_id", "text", max_hamming=6).collect()
    new = {(r.id_a, r.id_b): r.hamming for r in new_rows}
    assert new == old
    assert len(new_rows) == len(new)
    # zero-token texts (9, 10) have no simhash row: the within-group
    # expansion must NOT invent a pair for their content group
    assert (9, 10) not in new
    assert new[(1, 2)] == 0


def test_rep_scored_plants_swap_orientation(spark):
    """Containment map-back must re-orient when the rep key inverts the
    plant direction: doc 3's text IS doc 10's text + ' .', so the plant
    of 10 lands in 3's content group and the group rep (3) is SMALLER
    than 10 — the scored pair is keyed (3, 10), backwards."""
    from pulsar_io_delta_spark.queries import llm

    docs = spark.createDataFrame(
        [(10, "alpha beta gamma"), (3, "alpha beta gamma .")],
        "doc_id long, text string",
    )
    corpus = _planted_corpus(docs)
    scored = llm._rep_scored_plant_pairs(
        docs,
        corpus,
        lambda reps, rc: dd.containment_on_candidates(reps, rc, "id", "text", n=3),
    )
    out = {
        (r.id_a, r.id_b): (r.swapped, r.cont_ab, r.cont_ba)
        for r in scored.collect()
    }
    assert out[(10, 10 + PLANT_OFFSET)][0] is True  # the swap fired
    assert out[(3, 3 + PLANT_OFFSET)][0] is False
    # row-level reference: the pre-r16 formulation
    sig = dd.minhash_signature(corpus, "doc_id", "text")
    cand = dd.lsh_candidate_pairs(sig, "doc_id")
    plants = docs.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + PLANT_OFFSET).alias("id_b"),
    )
    cand = cand.join(plants, ["id_a", "id_b"], "left_semi")
    ref = {
        (r.id_a, r.id_b): (r.cont_ab, r.cont_ba)
        for r in plants.join(
            dd.containment_on_candidates(corpus, cand, "doc_id", "text", n=3),
            ["id_a", "id_b"],
        ).collect()
    }
    corrected = {
        k: ((v[2], v[1]) if v[0] else (v[1], v[2])) for k, v in out.items()
    }
    assert corrected == ref


def test_bpe_e2e_degenerate_corpus_matches_oracle(spark, tmp_path):
    """ADVICE r15: a corpus with fewer than 10 learnable pairs used to
    NULL the oracle's encodings (empty best{k} → NULL scalar subquery →
    replace(enc, NULL, ...)); the '¤' sentinel makes exhausted rounds
    explicit no-ops, matching the engine's early break. Corpus: every
    word is one character after round 1's single merge ('ab' appears,
    then no adjacent pairs remain) — far fewer than 10 merges exist."""
    import duckdb

    from pulsar_io_delta_spark.queries.llm import _bpe_e2e_oracle, q_tokenize_bpe_e2e

    docs = spark.createDataFrame(
        [(1, "ab ab ab a b"), (2, "ab a b c d e"), (3, "c d e a b ab")],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r.token, r.cnt, r.rk)
        for r in q_tokenize_bpe_e2e(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    want = {
        (t, int(c), int(rk)) for t, c, rk in con.sql(_bpe_e2e_oracle(10, 20)).fetchall()
    }
    assert got == want and len(got) > 0


def test_minhash_signature_duplicate_invariance(spark):
    """r17 shingle rewrite: the codegen explode-position shape drops
    the per-row array_distinct (min aggregates are duplicate-invariant)
    and swaps the filter lambda for array_remove. The signature must be
    BIT-IDENTICAL to the pre-r17 higher-order formulation, including
    the edges: NULL text and punctuation-only text sketch the single ""
    shingle; short texts sketch one partial shingle."""
    from pulsar_io_delta_spark.operators import text as tx

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta alpha beta alpha beta gamma"),  # duplicate shingles
            (3, None),
            (4, ""),
            (5, "!!! ..."),
            (6, "one two"),  # fewer tokens than shingle_k
            (7, "Alpha, beta; GAMMA delta?"),
        ],
        "doc_id long, text string",
    )
    new = dd.minhash_signature(df, "doc_id", "text")
    # pre-r17 reference shape: filter lambda + array_distinct(transform)
    toks = df.select(
        F.col("doc_id"),
        F.filter(tx.tokens_col(F.col("text")), lambda x: x != "").alias("toks"),
    )
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("toks") - 2, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice("toks", i, 3)),
        )
    )
    sh = toks.select(F.col("doc_id"), F.explode(shingles).alias("shingle")).select(
        F.col("doc_id"),
        F.pmod(F.xxhash64("shingle"), F.lit(dd.MERSENNE31)).alias("hx"),
    )
    aggs = [
        F.min(
            F.pmod(F.col("hx") * F.lit(a) + F.lit(b), F.lit(dd.MERSENNE31))
        ).alias(f"m{i}")
        for i, (a, b) in enumerate(dd._perm_coeffs(32))
    ]
    old = sh.groupBy("doc_id").agg(*aggs)
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def test_distinct_grams_matches_char_ngrams(spark):
    """r17 gram rewrite: _distinct_grams (explode positions +
    xxhash64(substring) + row-level distinct) must emit exactly the
    xxhash64 image of the rows explode(char_ngrams_col(...)) did —
    including the single-gram edge for texts shorter than n, the ""
    gram for empty text, and the NULL gram row for NULL text (which
    must stay NULL, never the seed hash — xxhash64 does not propagate
    NULL on its own)."""
    from pulsar_io_delta_spark.operators.text import char_ngrams_col

    df = spark.createDataFrame(
        [
            (1, "abcabcab"),
            (2, "ab"),
            (3, ""),
            (4, None),
            (5, "aaaa"),
        ],
        "doc_id long, text string",
    )
    new = dd._distinct_grams(df, "doc_id", "text", 3).collect()
    old = df.select(
        F.col("doc_id").alias("gid"),
        F.explode(char_ngrams_col(F.col("text"), 3)).alias("g"),
    ).select(
        "gid",
        F.when(F.col("g").isNotNull(), F.xxhash64("g")).alias("g"),
    ).collect()
    assert sorted(map(tuple, new), key=str) == sorted(map(tuple, old), key=str)
    assert len(new) == len({tuple(r) for r in new})  # row-level distinct held
    assert any(r.g is None for r in new)  # NULL-text gram stayed NULL
