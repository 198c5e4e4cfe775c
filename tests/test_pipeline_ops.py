"""Unit tests for the training-data pipeline operators (dedup, similarity,
text analysis, multimodal plumbing)."""

import math

import pytest
from pyspark.sql import functions as F

from katydid_haskell_spark.operators import dedup as dd
from katydid_haskell_spark.operators import multimodal as mm
from katydid_haskell_spark.operators import similarity as sim
from katydid_haskell_spark.operators import textops as tx

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", "en"),
    (1, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup
    (2, "the quick brown fox jumped over the lazy dogs", "en"),  # near dup
    (3, "der schnelle braune fuchs springt und das ist nicht alles hier", "de"),
    (4, "completely different content about spark and data processing", "en"),
    (5, "le chat est sur la table et les enfants sont pour une fois", "fr"),
    (6, "THE QUICK  brown fox jumps over the lazy dog ", "en"),  # norm dup
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string").cache()


def test_exact_dedup(spark, docs):
    groups = dd.exact_duplicate_groups(docs, "doc_id", "text").collect()
    assert len(groups) == 1
    assert sorted(groups[0]["doc_ids"]) == [0, 1, 6]  # case/ws-normalized
    kept = dd.exact_dedup(docs, "doc_id", "text")
    assert kept.count() == 5
    assert 0 in {r.doc_id for r in kept.collect()}


def test_minhash_lsh(spark, docs):
    pairs = dd.minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=32,
                                 bands=16, shingle_k=2, min_jaccard=0.3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got and (0, 6) in got and (1, 6) in got
    assert (0, 2) in got  # near dup at shingle_k=2
    assert all(a < b for a, b in got)
    # distinct docs don't pair
    assert not any({3, 4} == {a, b} or {4, 5} == {a, b} for a, b in got)


def test_winnowing_guarantee(spark):
    """The winnowing property: documents sharing a word run of length >=
    window+k-1 MUST share at least one fingerprint; the sketch keeps a
    fraction of the shingle hashes; unrelated docs share nothing."""
    k, w = 3, 4
    shared = "the quick brown fox jumps over seventeen lazy dogs tonight"
    rows = [
        (0, f"intro words here {shared} and a tail"),
        (1, f"{shared} completely different ending text"),
        (2, "unrelated content about database query planning internals"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {}
    for r in dd.winnow_fingerprint_table(df, "doc_id", "text",
                                         shingle_k=k, window=w).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[0] & fps[1], "shared run must share a fingerprint"
    assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])
    # sketch is a strict subsample of the shingle set for long docs
    from katydid_haskell_spark.operators.dedup import _shingle_hash_arr
    n_shingles = len(_shingle_hash_arr(rows[0][1], k))
    assert len(fps[0]) < n_shingles
    # short doc (< window shingles): single whole-min fingerprint
    short = spark.createDataFrame([(9, "two words")],
                                  "doc_id long, text string")
    got = dd.winnow_fingerprint_table(short, "doc_id", "text",
                                      shingle_k=k, window=w).collect()
    assert len(got) == 1


def test_minhash_verified_pairs(spark, docs):
    """LSH candidates re-verified on exact word n-grams: exact dups score
    1.0, near-dups land between, unrelated docs never become candidates."""
    pairs = dd.minhash_verified_pairs(docs, "doc_id", "text",
                                      num_hashes=32, bands=16, shingle_k=2,
                                      k=2, min_jaccard=0.3)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert got[(0, 1)] == 1.0
    assert got[(0, 6)] == 1.0
    assert (0, 2) in got and 0.3 <= got[(0, 2)] < 1.0
    assert not any({3, 4} == {a, b} or {4, 5} == {a, b} for a, b in got)
    # verification can only shrink the LSH candidate set
    lsh = {(r.id_a, r.id_b) for r in dd.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=16, shingle_k=2,
        min_jaccard=0.0).collect()}
    assert set(got) <= lsh


def test_minhash_bucket_cap_bounds_degenerate_corpus(spark):
    """10k identical-text docs — the degenerate crawl bucket.  Without the
    per-(band,key) cap the self-join is O(n²) = 50M candidate pairs; with
    ``max_bucket`` it is bounded at C(max_bucket, 2) per band regardless
    of corpus size, deterministically keeping the lowest doc ids."""
    n, cap = 10_000, 20
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate page text repeated everywhere")
        .alias("text"),
    )
    pairs = dd.minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=16,
                                 bands=4, shingle_k=2, min_jaccard=0.5,
                                 max_bucket=cap).collect()
    # identical text → identical signature → every band keeps docs 0..19
    assert len(pairs) == cap * (cap - 1) // 2
    ids = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert ids == set(range(cap))
    assert all(r.jaccard == 1.0 for r in pairs)


def test_simhash(spark, docs):
    pairs = dd.simhash_pairs(docs, "doc_id", "text", max_hamming=10,
                             shingle_k=2)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got.get((0, 1)) == 0
    assert got.get((0, 6)) == 0


def test_ngram_jaccard(spark, docs):
    import pytest as _pytest
    with _pytest.raises(ValueError):
        dd.ngram_jaccard_pairs(docs, "doc_id", "text", k=2, min_jaccard=0.4)
    pairs = dd.ngram_jaccard_pairs(docs, "doc_id", "text", k=2,
                                   min_jaccard=0.4, allow_cross_join=True)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert got[(0, 1)] == 1.0
    assert got[(0, 6)] == 1.0
    assert (0, 2) in got


def test_words_positive_class_parity(spark):
    """r9 pin: words() (positive-class regexp_extract_all) must equal
    the oracle-mirrored negated-class formulation
    filter(split(lower(x), _WORD_SPLIT), != '') on adversarial inputs —
    the two are the same array by the maximal-runs argument, and
    n_words() must equal size(words()) wherever only the count is
    consumed."""
    from katydid_haskell_spark.operators.textops import _WORD_SPLIT

    cases = [
        "", " ", "...", "a", "a b", "  a  b  ", "don't stop",
        "a-b_c.d", "1 2 3", "MiXeD CaSe", "tab\tnewline\nvt\x0B",
        "unicode café über straße", "'' '", "x'y'z",
        "trailing space ", " leading", "a!b@c#d$e%f", "\n\n\n",
        "0'0 ''a'' b", "é combining",
        # lower() maps these into the ASCII word class: KELVIN SIGN ->
        # "k", dotted capital I -> "i" + U+0307
        "\u212a", "\u0130stanbul",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)],
                               "i long, t string")
    ref = F.filter(F.split(F.lower(F.col("t")), _WORD_SPLIT),
                   lambda w: w != "")
    out = df.select(
        (tx.words(F.col("t")) == ref).alias("arr_eq"),
        (tx.n_words(F.col("t")) == F.size(ref)).alias("cnt_eq"))
    rows = out.collect()
    assert all(r.arr_eq for r in rows)
    assert all(r.cnt_eq for r in rows)


def test_textops(spark, docs):
    row = docs.filter("doc_id = 0").select(
        tx.token_count_ws(F.col("text")).alias("ws"),
        tx.token_count_bpe(F.col("text")).alias("bpe"),
        tx.lang_id_udf()(F.col("text")).alias("lang"),
        tx.quality_features_udf()(F.col("text")).alias("q"),
    ).collect()[0]
    assert row["ws"] == 9
    assert row["bpe"] == 9
    assert row["lang"] == "en"
    assert row["q"].n_words == 9
    assert 0.0 <= row["q"].stopword_ratio <= 1.0
    langs = {r.doc_id: r.l for r in docs.select(
        "doc_id", tx.lang_id_udf()(F.col("text")).alias("l")).collect()}
    assert langs[3] == "de"
    assert langs[5] == "fr"


def test_fingerprint_normalization(spark, docs):
    fps = {r.doc_id: r.fp for r in docs.select(
        "doc_id", tx.fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[0] == fps[6]
    assert fps[0] != fps[2]


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 16)).astype("float32")
    base[1] = base[0] + 0.01 * rng.normal(size=16).astype("float32")  # near 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_brute_force_topk(spark, vectors):
    q = vectors.filter("vec_id = 0").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = sim.brute_force_topk(vectors, q, k=3).collect()
    assert [r.vec_id for r in out] == [0, 1] + [out[2].vec_id]
    assert out[0]["cos"] == pytest.approx(1.0, abs=1e-6)
    assert out[1]["cos"] > 0.99


def test_brute_force_topk_two_phase_multipartition(spark, vectors):
    """Two-phase partial top-k: winners identical across partitionings
    (prefix-closure of top-k under the strict (-cos, vec_id) order), and
    the plan never puts the corpus through a per-query window sort — the
    window's input is the MapInPandas partial top-k (<= k rows per query
    per partition), with no crossJoin of corpus x queries."""
    q = vectors.filter("vec_id < 3").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    ref = sim.brute_force_topk(vectors.coalesce(1), q, k=5)
    ref_rows = {(r.q_id, r.rank): (r.vec_id, round(r.cos, 12))
                for r in ref.collect()}
    out = sim.brute_force_topk(vectors.repartition(7), q, k=5)
    out_rows = {(r.q_id, r.rank): (r.vec_id, round(r.cos, 12))
                for r in out.collect()}
    assert out_rows == ref_rows and len(out_rows) == 15
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "MapInPandas" in plan and "Window" in plan
    # root-first tree order: the window sits ABOVE the partial-top-k
    # MapInPandas (its input is the k-per-partition survivors, never the
    # corpus scan)
    assert plan.index("Window") < plan.index("MapInPandas")


def test_brute_force_topk_empty_queries(spark, vectors):
    q = vectors.filter("vec_id < 0").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = sim.brute_force_topk(vectors, q, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == \
        ["q_id", "vec_id", "cos", "rank"]


def test_lsh_topk_contains_self(spark, vectors):
    q = vectors.filter("vec_id = 0").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = sim.lsh_topk(vectors, q, dim=16, k=5, n_bits=4, nprobe=2).collect()
    ids = [r.vec_id for r in out]
    assert 0 in ids  # self always in its own bucket
    assert 1 in ids  # near-identical vector shares the code


def test_embedding_neardup(spark, vectors):
    pairs = sim.embedding_neardup_pairs(vectors, dim=16, min_cos=0.99,
                                        n_bits=4).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}


def test_multimodal_features(spark):
    media = mm.synthetic_media_df(spark, 30)
    feats = mm.extract_features(media).collect()
    assert len(feats) == 30
    v = feats[0]["feature"]
    assert len(v) == mm.FEATURE_DIM
    assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-3
    # deterministic: same payload → same feature
    feats2 = {r.media_id: r.feature for r in mm.extract_features(media).collect()}
    assert feats2[feats[0]["media_id"]] == pytest.approx(v)


def test_bmp_codec_roundtrip_and_layout():
    """Pure-numpy BMP codec: encode→decode roundtrips at padded and
    unpadded widths, and the byte layout is the real BMP format
    (bottom-up rows, BGR, 4-byte row padding) — verified against a
    hand-assembled file, not just our own inverse."""
    import numpy as np

    rng = np.random.default_rng(3)
    for w, h in [(10, 7), (4, 4), (1, 1), (3, 2), (13, 5)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        data = mm.encode_bmp(px)
        assert data[:2] == b"BM"
        row_size = (w * 3 + 3) & ~3
        assert len(data) == 54 + row_size * h
        assert np.array_equal(mm.decode_bmp(data), px)
    # hand-built 2x1 image: single row [red, green] stored as BGR
    import struct
    body = bytes([0, 0, 255, 0, 255, 0]) + b"\x00\x00"  # red, green + pad
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    px = mm.decode_bmp(hdr + info + body)
    assert px.tolist() == [[[255, 0, 0], [0, 255, 0]]]
    # bottom-up: in a 1x2 image the FIRST stored row is the BOTTOM one
    two = mm.encode_bmp(np.array([[[1, 2, 3]], [[4, 5, 6]]], np.uint8))
    assert two[54:57] == bytes([6, 5, 4])  # bottom row first, BGR
    with pytest.raises(ValueError):
        mm.decode_bmp(b"PNG nonsense")


def test_bmp_real_decoder_through_seam(spark):
    """register_decoder with the real BMP histogram decoder: the Arrow
    extract_features exchange must run the registered (non-fake) codec."""
    import numpy as np

    px = np.zeros((4, 4, 3), np.uint8)
    px[:2] = 255  # half dark, half bright
    payload = mm.encode_bmp(px)
    media = spark.createDataFrame(
        [(0, "image", "image/bmp", bytearray(payload), 4, 4, None)],
        MEDIA_SCHEMA_DDL)
    mm.register_decoder(mm.bmp_unit_features)
    try:
        feats = mm.extract_features(media).collect()[0]["feature"]
    finally:
        mm.register_decoder(None)  # restore the sandbox fake
        mm._DECODER = None
    want = mm.bmp_unit_features(payload, "image/bmp")
    assert feats == pytest.approx(list(want))
    # histogram: only bins 0 (value 0) and 31 (value 255) populated
    assert feats[0] > 0 and feats[-1] > 0
    assert sum(1 for x in feats if x > 0) == 2


MEDIA_SCHEMA_DDL = ("media_id long, kind string, mime string, "
                    "payload binary, width int, height int, "
                    "duration_ms long")


def test_png_codec_roundtrip_all_filters():
    """Pure stdlib+numpy PNG codec: the encoder's y%5 filter cycle makes
    every image with >=5 rows exercise all five unfilter algorithms
    (None/Sub/Up/Average/Paeth); roundtrip across gray / gray+alpha /
    RGB / RGBA, both filter modes, plus structural rejects."""
    import numpy as np

    rng = np.random.default_rng(11)
    for h, w, c in [(5, 6, 4), (7, 10, 3), (1, 1, 1), (9, 4, 2),
                    (6, 3, 1), (5, 1, 3)]:
        px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
        for mode in ("cycle", "none"):
            data = mm.encode_png(px, mode)
            assert data[:8] == mm.PNG_SIG
            assert np.array_equal(mm.decode_png(data), px)
    # smooth gradient: Average/Paeth predictions are non-trivial here
    g = (np.arange(20 * 30 * 3).reshape(20, 30, 3) % 256).astype(np.uint8)
    assert np.array_equal(mm.decode_png(mm.encode_png(g)), g)
    # 2D input is accepted as single-channel
    flat = rng.integers(0, 256, size=(4, 5), dtype=np.uint8)
    assert np.array_equal(mm.decode_png(mm.encode_png(flat)),
                          flat[:, :, None])
    with pytest.raises(ValueError):
        mm.decode_png(b"BM not a png")
    # corrupt one IDAT byte -> CRC check must catch it
    data = bytearray(mm.encode_png(g))
    data[60] ^= 0xFF
    with pytest.raises(ValueError):
        mm.decode_png(bytes(data))


def test_png_decodes_foreign_encoder_files():
    """Decode PNGs written by OTHER encoders (shipped with the OS), not
    just our own inverse: truecolor+alpha, grayscale, and palette with
    PLTE lookup — external validation of filter/palette handling."""
    import os

    cases = [
        ("/usr/share/doc/python3/_static/file.png", 4),     # RGBA
        ("/usr/share/doc/python3/_static/plus.png", 1),     # gray
        ("/usr/share/gitweb/static/git-logo.png", 3),       # palette
    ]
    seen = 0
    for path, want_c in cases:
        if not os.path.exists(path):
            continue
        px = mm.decode_png(open(path, "rb").read())
        assert px.ndim == 3 and px.shape[2] == want_c, (path, px.shape)
        assert px.sum() > 0
        seen += 1
    if seen == 0:
        pytest.skip("no system PNGs present")


def test_png_pixel_stats_matches_integer_math(spark):
    """png_pixel_stats through the real compress/decompress pair equals
    the closed-form integer math the DuckDB oracle uses."""
    import numpy as np

    W, H, C = 6, 5, 4
    n = W * H * C
    rows = []
    for d in (0, 1, 17, 255, 1000):
        flat = ((d * 17 + 3 * np.arange(n, dtype=np.int64)) % 256)
        rows.append((d, bytearray(mm.encode_png(
            flat.astype(np.uint8).reshape(H, W, C)))))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in mm.png_pixel_stats(df).collect()}
    for d, _ in rows:
        flat = ((d * 17 + 3 * np.arange(n, dtype=np.int64)) % 256)
        r = got[d]
        assert (r.width, r.height, r.channels) == (W, H, C)
        assert r.sum_all == int(flat.sum())
        assert r.n_bright == int((flat >= 128).sum())
        assert r.pos_checksum == int((np.arange(n) * flat).sum())


def test_default_decode_sniffs_real_codecs():
    """The unregistered default decoder must route real PNG/BMP/WAV
    payloads to the REAL codecs (the fake is dead code for them) and
    only fake-decode unparseable bytes."""
    import numpy as np

    px = (np.arange(4 * 3 * 3) % 256).astype(np.uint8).reshape(4, 3, 3)
    png = mm.encode_png(px)
    assert np.array_equal(mm._default_decode(png, "image/png"),
                          mm.png_unit_features(png, "image/png"))
    bmp = mm.encode_bmp(px)
    assert np.array_equal(mm._default_decode(bmp, "image/bmp"),
                          mm.bmp_unit_features(bmp, "image/bmp"))
    wav = mm.encode_wav((np.arange(64) - 32).astype(np.int16))
    f = mm._default_decode(wav, "audio/wav")
    assert abs(float(np.linalg.norm(f)) - 1.0) < 1e-6
    junk = b"\x00\x01junk payload"
    assert np.array_equal(mm._default_decode(junk, "application/x"),
                          mm._fake_decode(junk, "application/x"))


def test_bmp_pixel_stats_matches_integer_math(spark):
    """bmp_pixel_stats through the real encode/decode pair equals the
    closed-form integer math the DuckDB oracle uses."""
    import numpy as np

    W, H = 10, 7
    n = W * H * 3
    rows = []
    for d in (0, 1, 17, 255, 1000):
        flat = ((d * 31 + 7 * np.arange(n, dtype=np.int64)) % 256)
        rows.append((d, bytearray(mm.encode_bmp(
            flat.astype(np.uint8).reshape(H, W, 3)))))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in mm.bmp_pixel_stats(df).collect()}
    for d, _ in rows:
        flat = ((d * 31 + 7 * np.arange(n, dtype=np.int64)) % 256)
        r = got[d]
        assert (r.width, r.height) == (W, H)
        assert r.sum_all == int(flat.sum())
        assert r.n_bright == int((flat >= 128).sum())
        assert r.pos_checksum == int((np.arange(n) * flat).sum())


def test_wav_codec_roundtrip_and_chunks():
    """WAV codec: encode→decode roundtrip, chunk-walking past extra
    chunks (LIST before data, as real files have), word-alignment of
    odd-length chunks, and hand-assembled reference bytes."""
    import struct

    import numpy as np

    rng = np.random.default_rng(5)
    s = rng.integers(-32768, 32768, size=300, dtype=np.int16)
    rate, got = mm.decode_wav(mm.encode_wav(s, rate=22050))
    assert rate == 22050
    assert np.array_equal(got, s)
    # hand-built minimal file: two samples 1, -2 little-endian
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    listc = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd+pad
    data = struct.pack("<hh", 1, -2)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + listc + b"data" + struct.pack("<I", len(data)) + data)
    raw = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, got = mm.decode_wav(raw)
    assert rate == 8000 and got.tolist() == [1, -2]
    with pytest.raises(ValueError):
        mm.decode_wav(b"RIFFxxxxAIFF")


def test_wav_sample_stats_matches_integer_math(spark):
    """wav_sample_stats through the real encode/decode equals the
    closed-form integer math the DuckDB oracle uses."""
    import numpy as np

    N = 256
    rows = []
    for d in (0, 1, 17, 5040):
        s = (((d * 13 + 5 * np.arange(N, dtype=np.int64)) % 65536)
             - 32768).astype(np.int16)
        rows.append((d, bytearray(mm.encode_wav(s, rate=16000))))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in mm.wav_sample_stats(df).collect()}
    for d, _ in rows:
        s = (((d * 13 + 5 * np.arange(N, dtype=np.int64)) % 65536) - 32768)
        r = got[d]
        assert (r.rate, r.n_samples) == (16000, N)
        assert r.sum_s == int(s.sum())
        assert r.n_pos == int((s > 0).sum())
        assert r.pos_checksum == int((np.arange(N) * s).sum())


def test_multimodal_stats_and_frames(spark):
    media = mm.synthetic_media_df(spark, 30)
    stats = {r.kind: r.n for r in mm.media_stats(media).collect()}
    assert sum(stats.values()) == 30
    frames = mm.frame_sample_plan(media, every_ms=1000)
    n_videos = media.filter("kind = 'video'").count()
    assert frames.count() >= n_videos  # at least one frame per video


def test_ivf_topk(spark, vectors):
    q = vectors.filter("vec_id < 3").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    exact = sim.brute_force_topk(vectors, q, k=5)
    approx = sim.ivf_topk(vectors, q, dim=16, k=5, n_cells=4, nprobe=2)
    ex = {(r.q_id, r.rank): r.vec_id for r in exact.collect()}
    ap = {(r.q_id, r.rank): r.vec_id for r in approx.collect()}
    # self must always be rank 1 (its own cell is probed first)
    for qid in (0, 1, 2):
        assert ap[(qid, 1)] == ex[(qid, 1)]
    # overlap@5 must be high on this small corpus with nprobe=2 of 4 cells
    for qid in (0, 1, 2):
        exact_ids = {ex[(qid, r)] for r in range(1, 6)}
        approx_ids = {v for (q2, _), v in ap.items() if q2 == qid}
        assert len(exact_ids & approx_ids) >= 3


def test_ivf_centroids_deterministic(spark, vectors):
    c1 = sim.train_ivf_centroids(vectors, 16, n_cells=4)
    c2 = sim.train_ivf_centroids(vectors, 16, n_cells=4)
    assert c1 == c2


def _fold_dot(a, b):
    """a·b as a left-to-right float64 fold — the reference order for the
    Arrow paths' sign, argmax and cosine decisions."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _as_float32(vecs):
    """The values an array<float> column holds for python float lists."""
    import numpy as np

    return [[float(np.float32(x)) for x in v] for v in vecs]


def _ref_cell(v, cents):
    """Nearest-centroid cell by ordered-fold cosine; first max wins."""
    n = math.sqrt(_fold_dot(v, v))
    sims = [_fold_dot(v, c) / n if n > 0 else 0.0 for c in cents]
    return sims.index(max(sims))


def _duck_codes(rows, dim, n_bits, seed):
    """vec_id -> LSH code from the DuckDB oracle's ``_code_expr`` over
    the float32 vectors."""
    import duckdb
    import pandas as pd

    from katydid_haskell_spark import oracles as orc

    con = duckdb.connect()
    con.register("vecs", pd.DataFrame(rows, columns=["vec_id", "v"]))
    code = orc._code_expr("CAST(v AS FLOAT[])", dim, n_bits, seed)
    got = dict(con.execute(f"SELECT vec_id, {code} FROM vecs").fetchall())
    con.close()
    return got


def test_arrow_paths_match_oracle_reference(spark):
    """The Arrow-vectorized hot paths agree with references that are not
    the code under test: LSH codes with the DuckDB oracle's
    ``_code_expr``; cell assignment (first max wins a tie) and pair cosine
    with a left-to-right float64 fold."""
    import random

    rnd = random.Random(3)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, v array<float>").cache()
    v32 = dict(zip([r[0] for r in rows], _as_float32([r[1] for r in rows])))

    # lsh codes
    arrow = df.select(
        "vec_id",
        sim.lsh_codes_udf(16, 6, [42])(F.col("v")).getItem(0).alias("c"))
    a = {r.vec_id: r.c for r in arrow.collect()}
    assert a == _duck_codes(rows, 16, 6, 42)

    # cell assignment
    cents = sim.kmeans_unit(
        __import__("numpy").array([r[1] for r in rows], dtype="float64"),
        n_cells=8)
    aa = {r.vec_id: r.c for r in df.select(
        "vec_id", sim.cell_assign_udf(cents, 16)(F.col("v")).alias("c")).collect()}
    assert aa == {i: _ref_cell(v, cents) for i, v in v32.items()}

    # pair cosine (within float tolerance of the ordered fold)
    pairs = df.alias("l").join(df.alias("r"),
                               F.col("l.vec_id") + 1 == F.col("r.vec_id"))
    got = pairs.select("l.vec_id", sim.cosine_pairs_udf(16)(
        F.col("l.v"), F.col("r.v")).alias("a")).collect()
    assert len(got) == 199
    for r in got:
        x, y = v32[r.vec_id], v32[r.vec_id + 1]
        d = math.sqrt(_fold_dot(x, x)) * math.sqrt(_fold_dot(y, y))
        want = _fold_dot(x, y) / d if d > 0 else 0.0
        assert abs(r.a - want) < 1e-12, r.vec_id


def test_textops_udfs_match_oracles(spark, docs, tmp_path):
    """The ``doc_lang_id`` and ``doc_quality`` entries (lang_id_udf and
    quality_features_udf) equal their oracle SQL run in DuckDB over the
    same rows; the struct fields no oracle reports are re-derived in
    DuckDB inline."""
    import duckdb
    import pandas as pd
    from conftest import entry_and_oracle

    import __spark_entry__ as entry_mod

    pdf = pd.DataFrame(DOCS, columns=["doc_id", "text", "lang"])
    for name in ("doc_lang_id", "doc_quality"):
        got, want = entry_and_oracle(spark, name, tmp_path, documents=pdf)
        assert got == want, name

    f = F.col("f")
    rest = docs.select(
        "doc_id", tx.quality_features_udf()(F.col("text")).alias("f")
    ).select(
        "doc_id",
        f.getField("n_chars").alias("n_chars"),
        f.getField("avg_word_len").alias("avg_word_len"),
        f.getField("upper_ratio").alias("upper_ratio"))
    con = duckdb.connect()
    con.register("d", pdf)
    want = con.execute(f"""
        SELECT doc_id, length(text) AS n_chars,
               CASE WHEN len(w) > 0 THEN length(text) * 1.0 / len(w)
                    ELSE 0.0 END AS avg_word_len,
               len(regexp_extract_all(text, '[A-Z]')) * 1.0
                 / length(text) AS upper_ratio
        FROM (SELECT doc_id, text, {entry_mod._WORDS_SQL} AS w FROM d)
        ORDER BY doc_id
    """).fetchall()
    con.close()
    got = sorted(tuple(r) for r in rest.collect())
    assert [r[:2] for r in got] == [r[:2] for r in want]
    for g, w in zip(got, want):
        assert g[2:] == pytest.approx(w[2:], abs=1e-12), g[0]


def test_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {r.doc_id: r.cluster_id
           for r in dd.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,           # 4-chain
                   10: 10, 11: 10,                   # pair
                   20: 20, 21: 20, 22: 20}           # triangle


def test_cc_min_label_duplicate_and_reversed_edges(spark):
    """r9 internals pin: _cc_min_label no longer distinct's the
    symmetrized edge list (duplicates are harmless under the MIN
    aggregation) and detects convergence from the checkpointed chg flag —
    heavy duplicate/reversed/self-loop edges must still yield the exact
    min-reachable labeling under the pinned 'label' engine."""
    raw = [(1, 2), (2, 1), (1, 2), (2, 3), (3, 2), (3, 3),
           (10, 11), (11, 10), (10, 11), (10, 11)]
    pairs = spark.createDataFrame(raw * 3, "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id
           for r in dd.connected_components(pairs, algorithm="label")
           .collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_resize_media(spark):
    media = mm.synthetic_media_df(spark, 20)
    out = mm.resize_media(media, 64, 64)
    rows = out.collect()
    assert len(rows) == 20
    assert all(r.width == 64 and r.height == 64 for r in rows)
    assert all(bytes(r.payload).startswith(b"resized:64x64:") for r in rows)
    # pluggable codec: a registered resizer takes over
    mm.register_resizer(lambda p, m, w, h: b"real")
    try:
        got = mm.resize_media(media, 8, 8).collect()
        assert all(bytes(r.payload) == b"real" for r in got)
    finally:
        mm.register_resizer(None)


def test_connected_components_nonconvergence_raises(spark):
    # 6-chain with max_iter=2 cannot reach the fixpoint → loud failure
    # (algorithm pinned to label propagation: auto would fall back to
    # star-contraction and succeed)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long")
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(chain, max_iter=2, algorithm="label")


def test_cc_star_matches_label(spark):
    """Star-contraction and min-label propagation produce the identical
    labeling on a multi-component graph with dup edges, reversed edges and
    a cycle."""
    import random

    rng = random.Random(7)
    edges = []
    # three deliberate shapes + random noise components
    edges += [(i, i + 1) for i in range(0, 8)]            # chain 0-8
    edges += [(20, 21), (21, 22), (22, 20)]               # cycle
    edges += [(30, 31), (31, 30), (30, 31)]               # dup + reversed
    for base in (40, 60, 80):
        ids = list(range(base, base + 10))
        for _ in range(14):
            a, b = rng.sample(ids, 2)
            edges.append((a, b))
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    lab = {r.doc_id: r.cluster_id for r in
           dd.connected_components(pairs, algorithm="label").collect()}
    star = {r.doc_id: r.cluster_id for r in
            dd.connected_components(pairs, algorithm="star").collect()}
    assert lab == star
    assert star[8] == 0 and star[22] == 20 and star[31] == 30


def test_cc_star_adversarial_chain(spark):
    """1000-node chain: min-label would need ~1000 rounds; star-contraction
    must converge within 12 (O(log n) guarantee) with every node labeled by
    the global minimum."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "id_a long, id_b long")
    got = dd.connected_components(chain, max_iter=12, algorithm="star")
    agg = got.groupby().agg(
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.count("*").alias("n"),
        F.max("cluster_id").alias("mx")).collect()[0]
    assert (agg.n_clusters, agg.n, agg.mx) == (1, 1000, 0)


def test_cc_auto_falls_back_to_star(spark):
    """auto: quasi-clique graphs stay on the cheap label engine; a deep
    chain silently switches to star-contraction instead of raising."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long")
    got = dd.connected_components(chain, max_iter=15, algorithm="auto")
    clusters = {r.cluster_id for r in got.collect()}
    assert clusters == {0}


def test_ann_recall_gates(spark):
    """Recall floors for the approximate ANN paths at the ENTRY-QUERY
    configurations, measured against the exact brute-force oracle on the
    real sf0.01 embeddings (20 queries — wider than the 5-query driver
    gate so a recall regression can't hide behind small-sample luck).

    Measured on random 64-dim gaussians (the LSH-adversarial case: no
    cluster structure):
      ivf  n_cells=None(→22) nprobe=None(→9) → 0.775
      lsh  n_bits=4 nprobe=3 n_tables=3   → 0.720
    Floors leave ~0.1 margin for seed/plan jitter; a drop below them
    means a real recall regression, not noise.
    """
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_RECALL_SF",
                            "/root/testdata/sf0.01")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    q = emb.filter("vec_id < 20").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    exact = {(r.q_id, r.vec_id) for r in
             sim.brute_force_topk(emb, q, k=10)
             .select("q_id", "vec_id").collect()}

    ivf = {(r.q_id, r.vec_id) for r in
           sim.ivf_topk(emb, q, dim=64, k=10, n_cells=None, nprobe=None)
           .select("q_id", "vec_id").collect()}
    ivf_recall = len(exact & ivf) / len(exact)
    assert ivf_recall >= 0.70, f"IVF recall@10 regressed: {ivf_recall:.3f}"

    lsh = {(r.q_id, r.vec_id) for r in
           sim.lsh_topk(emb, q, dim=64, k=10, n_bits=4, nprobe=3,
                        n_tables=3)
           .select("q_id", "vec_id").collect()}
    lsh_recall = len(exact & lsh) / len(exact)
    assert lsh_recall >= 0.60, f"LSH recall@10 regressed: {lsh_recall:.3f}"


def test_auto_sizing_helpers():
    """Bucket/cell sizing must grow with the corpus (the fixed-size
    versions were the round-3 super-linear finding)."""
    assert sim.auto_n_bits(500) == 6
    assert sim.auto_n_bits(2000) == 8
    assert sim.auto_n_bits(20_000) == 12
    assert sim.auto_n_bits(10**12) == 37
    assert sim.auto_n_bits(4) == 4          # floor
    assert sim.auto_n_cells(500) == 22
    assert sim.auto_n_cells(10**12) == 1024  # cap (driver k-means bound)
    assert sim.auto_n_cells(1) == 4          # floor


def test_ivf_auto_cells(spark, vectors):
    q = vectors.filter("vec_id < 2").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = sim.ivf_topk(vectors, q, dim=16, k=3, n_cells=None, nprobe=2)
    got = {(r.q_id, r.rank): r.vec_id for r in out.collect()}
    assert got[(0, 1)] == 0 and got[(1, 1)] == 1  # self always rank 1


def test_cc_self_loop_parity(spark):
    """A node appearing ONLY in self-pairs must surface as a singleton
    cluster from every engine (round-4 ADVICE: star dropped it because
    nodes were computed after self-loop removal)."""
    pairs = spark.createDataFrame(
        [(5, 5), (1, 2)], "id_a long, id_b long")
    want = {1: 1, 2: 1, 5: 5}
    for algo in ("label", "star", "auto"):
        got = {r.doc_id: r.cluster_id for r in
               dd.connected_components(pairs, algorithm=algo).collect()}
        assert got == want, f"{algo}: {got}"


def test_cc_auto_does_not_mask_job_failures(spark):
    """auto must fall back to star ONLY on ConvergenceError — a PySpark
    job failure (RuntimeError subclass) has to propagate, not trigger a
    silent expensive star re-run that hides the real error."""
    import pytest as _pytest

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")

    class Boom(RuntimeError):
        pass

    from unittest import mock
    with mock.patch.object(dd, "_cc_min_label", side_effect=Boom("job died")):
        with mock.patch.object(dd, "_cc_star") as star:
            with _pytest.raises(Boom):
                dd.connected_components(pairs, algorithm="auto")
            star.assert_not_called()


def test_exact_dup_groups_bounded(spark):
    """A degenerate fingerprint group (many identical docs) must complete
    with a BOUNDED example list — the aggregation buffer holds at most
    max_ids ids, never the whole group."""
    n = 200_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("boilerplate page").alias("text"))
    got = dd.exact_duplicate_groups(df, "doc_id", "text", max_ids=7).collect()
    assert len(got) == 1
    assert got[0]["n_docs"] == n
    assert list(got[0]["doc_ids"]) == list(range(7))  # smallest ids, sorted


def test_near_zero_dot_sign_parity(spark):
    """Engineered near-zero hyperplane dots and near-tie centroid argmax:
    the Arrow paths must make the SAME decision as the DuckDB oracle's
    ``_code_expr`` and a left-to-right float64 fold (the round-3
    BLAS-reordering caveat, closed by the _ordered_matmul margin
    fallback)."""
    import numpy as np

    dim, n_bits, seed = 16, 6, 42
    rng = np.random.default_rng(11)
    planes = np.array([sim._hyperplane(dim, b, seed) for b in range(n_bits)])
    vecs = []
    for i in range(40):
        p = planes[i % n_bits]
        x = rng.normal(size=dim)
        x -= (x @ p) / (p @ p) * p          # orthogonal → true dot ~ 0
        vecs.append([float(v) for v in x])
    # plus exact-tie centroid rows: equidistant from two centroids
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, v array<float>").cache()
    arrow = {r.vec_id: r.c for r in df.select(
        "vec_id",
        sim.lsh_codes_udf(dim, n_bits, [seed])(F.col("v")).getItem(0)
        .alias("c")).collect()}
    rows = list(enumerate(vecs))
    v32 = _as_float32(vecs)
    fold = {i: sum(1 << b for b in range(n_bits)
                   if _fold_dot(v, planes[b]) >= 0)
            for i, v in enumerate(v32)}
    assert arrow == fold
    assert arrow == _duck_codes(rows, dim, n_bits, seed)

    # centroid argmax near-ties: c1 is a tiny perturbation of c0, so many
    # vectors land within the guard band between them; c4 repeats c0
    # exactly, an exact tie the first max (c0) must win
    cents = [list(rng.normal(size=dim)) for _ in range(4)]
    cents[1] = [w + 1e-13 for w in cents[0]]
    cents.append(list(cents[0]))
    aa = {r.vec_id: r.c for r in df.select(
        "vec_id", sim.cell_assign_udf(cents, dim)(F.col("v")).alias("c"))
        .collect()}
    assert aa == {i: _ref_cell(v, cents) for i, v in enumerate(v32)}
    assert 0 in aa.values()


REP_DOCS = [
    (0, "a b a b a b\nline one\nline one\n- bullet\nend..."),
    (1, "hello world this is quite fine today"),
    (2, "• item\nmore text here now…"),
]


def test_repetition_features_hand_computed(spark):
    """Gopher repetition signals of the Arrow UDF, hand-derived on a
    known fixture."""
    df = spark.createDataFrame(REP_DOCS, "doc_id long, text string")
    rows = {r.doc_id: r.f for r in df.select(
        "doc_id",
        tx.repetition_features_udf()(F.col("text")).alias("f")).collect()}
    f0 = rows[0]
    assert f0.n_lines == 5
    assert f0.dup_line_frac == pytest.approx(1 / 5)   # 'line one' dup
    assert f0.bullet_ratio == pytest.approx(1 / 5)
    assert f0.ellipsis_ratio == pytest.approx(1 / 5)
    assert f0.top_bigram_frac == pytest.approx(3 / 11)  # 'a b' x3
    assert f0.dup_trigram_frac == pytest.approx(2 / 10)
    f1 = rows[1]
    assert (f1.n_lines, f1.dup_line_frac, f1.bullet_ratio) == (1, 0.0, 0.0)
    assert f1.top_bigram_frac == pytest.approx(1 / 6)
    assert f1.dup_trigram_frac == 0.0
    f2 = rows[2]
    assert f2.bullet_ratio == pytest.approx(1 / 2)    # unicode bullet
    assert f2.ellipsis_ratio == pytest.approx(1 / 2)  # unicode ellipsis


def _gopher_vs_oracle(spark, tmp_path, rows):
    """The ``gopher_quality`` entry (repetition_features_udf and
    tx.repetition_flag) and its oracle SQL over (doc_id, text) rows."""
    import pandas as pd
    from conftest import entry_and_oracle

    return entry_and_oracle(spark, "gopher_quality", tmp_path,
                            documents=pd.DataFrame(
                                rows, columns=["doc_id", "text"]))


def test_repetition_udf_matches_oracle(spark, tmp_path):
    """The ``gopher_quality`` entry (repetition_features_udf and
    tx.repetition_flag) equals its oracle SQL run in DuckDB, on the
    shared dedup fixture (dup/near-dup/multilingual texts) plus
    REP_DOCS."""
    rows = [(i, t) for i, t, _ in DOCS] + [(100 + i, t) for i, t in REP_DOCS]
    got, want = _gopher_vs_oracle(spark, tmp_path, rows)
    assert got == want


NASTY_WS_DOCS = [
    # CRLF line endings — every line carries a trailing \r
    (0, "Line one.\r\nLine one.\r\n- bullet\r\nend...\r\n"),
    # tab-padded lines + vertical tab (\x0B: in Java \s, NOT in RE2 \s)
    (1, "\tpadded line\t\nplain\x0Bmiddle\n\x0B\n  spaced  "),
    # NBSP is deliberately OUTSIDE the explicit classes: never trimmed,
    # counted as punctuation by all three engines alike
    (2, " \xa0lead nbsp\xa0 \nword word again\r\n"),
    (3, "a b a b a b\r\nmixed\t\r\n- item\r\nmore…\r\n"),
]


def test_whitespace_parity_crlf_tab_vt(spark, tmp_path):
    """The explicit whitespace classes (tx.WS_RE / LINE_TRIM_RE /
    PUNCT_RE) make Catalyst (Java regex), the Arrow UDFs (Python re) and
    the DuckDB oracles (RE2) agree bit-for-bit on CRLF / tab / vertical-
    tab / NBSP text — the \\s-dialect divergence ADVICE.md r4 flagged.
    """
    import duckdb
    import pandas as pd

    df = spark.createDataFrame(NASTY_WS_DOCS, "doc_id long, text string")

    # 1) repetition features: Arrow UDF vs the gopher_quality oracle SQL
    got, want = _gopher_vs_oracle(spark, tmp_path, NASTY_WS_DOCS)
    assert got == want
    # CRLF doc: '\r' is trimmed, so 'Line one.' dedups and 'end...' ends
    # with the ellipsis (would both fail under space-only trim)
    feats = {r.doc_id: r.f for r in df.select(
        "doc_id",
        tx.repetition_features_udf()(F.col("text")).alias("f")).collect()}
    assert feats[0].n_lines == 4
    assert feats[0].dup_line_frac == pytest.approx(1 / 4)
    assert feats[0].bullet_ratio == pytest.approx(1 / 4)
    assert feats[0].ellipsis_ratio == pytest.approx(1 / 4)
    # VT-only line trims to empty and is dropped
    assert feats[1].n_lines == 3
    # the gopher_quality oracle reports no bullet/ellipsis ratios: CRLF
    # and tab-trimmed bullet and unicode-ellipsis lines, by hand
    assert feats[3].n_lines == 4
    assert feats[3].bullet_ratio == pytest.approx(1 / 4)
    assert feats[3].ellipsis_ratio == pytest.approx(1 / 4)

    # 2) normalize_ws fingerprint + punct + ws-token counts vs DuckDB,
    # re-derived with the SAME literal pattern text (RE2 dialect)
    got = (
        df.select(
            "doc_id",
            F.md5(tx.normalize_ws(F.col("text"))).alias("fp"),
            F.regexp_count(F.col("text"), F.lit(tx.PUNCT_RE)).alias("np"),
            tx.token_count_ws(F.col("text")).alias("nt"),
        )
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pdf = pd.DataFrame(NASTY_WS_DOCS, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("d", pdf)
    want = con.execute(f"""
        SELECT doc_id,
               md5(regexp_replace(regexp_replace(lower(text), '{tx.WS_RE}',
                   ' ', 'g'), '^ | $', '', 'g')) AS fp,
               len(regexp_extract_all(text, '{tx.PUNCT_RE}')) AS np,
               len(list_filter(string_split_regex(text, '{tx.WS_RE}'),
                   x -> x <> '')) AS nt
        FROM d ORDER BY doc_id
    """).df()
    assert list(got.fp) == list(want.fp)
    assert list(got.np) == list(want.np)
    assert list(got.nt) == list(want.nt)

    # 3) line arrays themselves vs DuckDB's oracle formulation
    lines_spark = {
        r.doc_id: r.lines for r in df.select(
            "doc_id",
            F.filter(
                F.transform(F.split(F.col("text"), "\n"),
                            lambda l: F.regexp_replace(
                                l, tx.LINE_TRIM_RE, "")),
                lambda l: l != "",
            ).alias("lines")).collect()
    }
    want_lines = con.execute(f"""
        SELECT doc_id,
               list_filter(list_transform(string_split(text, chr(10)),
                           l -> regexp_replace(l, '{tx.LINE_TRIM_RE}',
                                               '', 'g')),
                           l -> l <> '') AS lines
        FROM d ORDER BY doc_id
    """).fetchall()
    for doc_id, lines in want_lines:
        assert lines_spark[doc_id] == lines, doc_id
    con.close()


def test_boilerplate_removal(spark):
    """CCNet-style line dedup: lines shared by >= min_docs docs within a
    group are stripped; unique content, order and all-boilerplate docs
    behave as specified."""
    rows = [
        (0, "h1", "Cookie banner\nreal content zero\nFooter"),
        (1, "h1", "Cookie banner\nreal content one\nFooter"),
        (2, "h1", "Cookie banner\nreal content two\n  Footer  "),  # pad
        (3, "h1", "Cookie banner\nFooter"),            # all boilerplate
        (4, "h2", "Cookie banner\nother host keeps it"),  # diff group
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    bp = {(r.grp, r.line): r.n_docs for r in tx.boilerplate_lines(
        df, "doc_id", "text", "host", min_docs=3).collect()}
    assert bp == {("h1", "Cookie banner"): 4, ("h1", "Footer"): 4}
    out = {r.doc_id: r for r in tx.remove_boilerplate(
        df, "doc_id", "text", "host", min_docs=3).collect()}
    assert len(out) == 5
    assert out[0].clean_text == "real content zero"
    assert (out[0].n_kept, out[0].n_removed) == (1, 2)
    assert out[3].clean_text == "" and out[3].n_kept == 0
    assert out[3].n_removed == 2
    # h2 is its own group: below min_docs, nothing removed
    assert out[4].clean_text == "Cookie banner\nother host keeps it"
    # multi-line order preserved
    df2 = spark.createDataFrame(
        [(0, "h", "bp\nalpha\nbeta\ngamma"), (1, "h", "bp\nx"),
         (2, "h", "bp\ny")],
        "doc_id long, host string, text string")
    out2 = {r.doc_id: r.clean_text for r in tx.remove_boilerplate(
        df2, "doc_id", "text", "host", min_docs=3).collect()}
    assert out2[0] == "alpha\nbeta\ngamma"


def test_repetition_flag(spark):
    df = spark.createDataFrame(
        [(0, "spam spam spam spam spam spam spam"), (1, REP_DOCS[1][1])],
        "doc_id long, text string")
    rep = df.withColumn(
        "__rep", tx.repetition_features_udf()(F.col("text")))
    got = {r.doc_id: r.flag for r in rep.select(
        "doc_id",
        tx.repetition_flag(F.col("__rep")).alias("flag")).collect()}
    assert got == {0: True, 1: False}


def test_decontam_overlap(spark):
    from katydid_haskell_spark.operators import decontam as dc

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),
         (2, "one two three four five"),
         (3, "short doc")],                  # < 3 words: no grams
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, "x alpha beta gamma y"),
         (101, "unrelated eval text entirely")],
        "doc_id long, text string")
    got = {r.doc_id: r.n_hit_grams
           for r in dc.ngram_overlap(train, ev, "doc_id", "text",
                                     n=3).collect()}
    assert got == {1: 1}                    # only 'alpha beta gamma'
    # broadcast guard: forcing the eval-gram count over the threshold
    # takes the shuffle left-semi branch — identical results, and the
    # logical plan carries no broadcast hint
    forced = dc.ngram_overlap(train, ev, "doc_id", "text", n=3,
                              broadcast_max_grams=1)
    assert {r.doc_id: r.n_hit_grams for r in forced.collect()} == got
    logical = forced._jdf.queryExecution().logical().toString()
    assert "broadcast" not in logical.lower()
    clean_forced = dc.decontaminate(train, ev, "doc_id", "text", n=3,
                                    broadcast_max_grams=1)
    clean_bcast = dc.decontaminate(train, ev, "doc_id", "text", n=3)
    assert ({r.doc_id for r in clean_forced.collect()}
            == {r.doc_id for r in clean_bcast.collect()} == {2, 3})
    # pair-join audit variant (quadratic on hot vocab — opt-in only)
    full = {r.doc_id: (r.n_hit_grams, r.n_eval_docs)
            for r in dc.ngram_overlap(train, ev, "doc_id", "text", n=3,
                                      count_eval_docs=True).collect()}
    assert full == {1: (1, 1)}
    kept = dc.decontaminate(train, ev, "doc_id", "text", n=3)
    assert {r.doc_id for r in kept.collect()} == {2, 3}
    assert kept.columns == train.columns     # original shape preserved


def test_pii_scan_hand_checked(spark):
    from katydid_haskell_spark.operators import pii

    df = spark.createDataFrame(
        [(1, "write to jane.doe+x@mail.example.org or call +12345678901"),
         (2, "server at 192.168.1.10 logged id 123456789"),
         (3, "clean text with short 1234 numbers"),
         (4, "two mails a@b.io c@d.io and ip 10.0.0.1")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in
            pii.pii_scan(df, "doc_id", "text").collect()}
    r1 = rows[1]
    # the phone digit run (11 >= 9) ALSO counts as long_id on raw text
    assert (r1.n_email, r1.n_phone, r1.n_long_id, r1.n_ipv4) == (1, 1, 1, 0)
    r2 = rows[2]
    assert (r2.n_email, r2.n_ipv4, r2.n_long_id) == (0, 1, 1)
    r3 = rows[3]
    assert not r3.any_pii
    r4 = rows[4]
    assert (r4.n_email, r4.n_ipv4) == (2, 1)
    # redaction: order is email -> ip -> phone -> id; placeholders survive
    red = {r.doc_id: r.red for r in df.select(
        "doc_id", pii.redact(F.col("text")).alias("red")).collect()}
    assert red[1] == "write to <EMAIL> or call <PHONE>"
    assert red[2] == "server at <IP> logged id <ID>"
    assert red[3] == "clean text with short 1234 numbers"
    assert red[4] == "two mails <EMAIL> <EMAIL> and ip <IP>"


def test_percentile_profile(spark):
    from katydid_haskell_spark.operators import stats as st

    df = spark.createDataFrame(
        [("a", v) for v in (10, 20, 30, 40, 50)] + [("b", 7)],
        "k string, v long")
    rows = {r.k: r for r in st.percentile_profile(
        df, ["k"], "v", probs=(0.25, 0.5, 0.95)).collect()}
    a = rows["a"]
    assert (a.n, a.p25, a.p50, a.p95) == (5, 20.0, 30.0, 48.0)
    assert (rows["b"].p25, rows["b"].p50) == (7.0, 7.0)
    # approx variant: identical shape, sane values on tiny input
    ap = {r.k: r for r in st.percentile_profile(
        df, ["k"], "v", probs=(0.25, 0.5, 0.95), exact=False).collect()}
    assert set(ap["a"].asDict()) == set(a.asDict())
    assert ap["b"].p50 == 7.0


def test_normalize_url_hand_checked(spark):
    from katydid_haskell_spark.operators.urltools import normalize_url

    cases = [
        ("HTTPS://Host1.Example.COM:443/p/7?utm_source=x&q=1#frag",
         "https://host1.example.com/p/7?q=1"),
        ("http://A.B.com:80/", "http://a.b.com"),
        ("https://x.com/p/?q=1&utm_campaign=z", "https://x.com/p/?q=1"),
        ("https://x.com/utm_page?utm_a=1", "https://x.com/utm_page"),
        ("https://x.com/p#frag", "https://x.com/p"),
        ("https://x.com/p?utm_a=1&utm_b=2&q=1", "https://x.com/p?q=1"),
        ("https://x.com:8080/p", "https://x.com:8080/p"),  # non-default port
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i long, url string")
    got = {r.i: r.n for r in df.select(
        "i", normalize_url(F.col("url")).alias("n")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_boilerplate_plan_no_text_shuffle(spark):
    """Round-6 scale fix guard: remove_boilerplate must never put line
    or document TEXT through an exchange — counting is on xxhash64(line)
    and the rebuild is map-side behind a broadcast of per-group hash
    arrays (the guarded default at test scale)."""
    df = spark.createDataFrame(
        [(i, "h%d" % (i % 2), "bp line\ncontent %d" % i)
         for i in range(12)],
        "doc_id long, host string, text string")
    out = tx.remove_boilerplate(df, "doc_id", "text", "host", min_docs=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    ex_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert ex_lines, "expected the per-group hash-array exchange"
    for l in ex_lines:
        assert "text" not in l, f"text column crosses an exchange: {l}"
    # shuffle-join fallback branch (broadcast_max=0) must agree exactly
    base = sorted(out.collect())
    fb = sorted(tx.remove_boilerplate(
        df, "doc_id", "text", "host", min_docs=3,
        broadcast_max=0).collect())
    assert fb == base


def test_decontam_plan_is_semi_join(spark):
    """Regression guard for the round-4 scale fix: the default overlap
    must probe a broadcast DISTINCT gram set with a LEFT SEMI join (join
    output bounded by the corpus gram count).  The pair join (output =
    per-gram multiplicity product, 124s at sf0.1 on hot vocab) exists
    only behind count_eval_docs=True."""
    import contextlib
    import io

    from katydid_haskell_spark.operators import decontam as dc

    train = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(50)],
        "doc_id long, text string")
    ev = spark.createDataFrame([(1000, "alpha beta gamma")],
                               "doc_id long, text string")
    out = dc.ngram_overlap(train, ev, "doc_id", "text", n=3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "LeftSemi" in plan
    assert "BroadcastExchange" in plan
    # every (identical) train doc overlaps on its full distinct gram set;
    # multiplicity of the shared grams must NOT inflate the counts
    got = {r.doc_id: r.n_hit_grams for r in out.collect()}
    assert got == {i: 1 for i in range(50)}  # only 'alpha beta gamma'


def test_c4_quality_hand_checked(spark):
    """C4 line filter on a hand-derived fixture: terminal punctuation,
    5-word minimum, javascript drop, page-level flags."""
    text = ("This is a good sentence with enough words.\n"
            "short line.\n"                       # <5 words -> dropped
            "no terminal punctuation here at all\n"  # no punct -> dropped
            "Enable javascript for this fine page today.\n"  # js -> dropped
            "  Another good line with many words here!  \n"  # trimmed, kept
            "\n")
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = tx.c4_quality(df, "doc_id", "text").collect()[0]
    assert r["n_lines"] == 5
    assert r["n_kept"] == 2
    assert r["clean_text"] == (
        "This is a good sentence with enough words.\n"
        "Another good line with many words here!")
    assert r["kept_words"] == 8 + 7
    assert r["n_js_lines"] == 1
    assert not r["has_lorem"] and not r["has_brace"]
    assert r["flagged"]  # only 2 kept lines < 3


def test_c4_quality_page_flags(spark):
    rows = [
        (1, "One good long sentence right here today.\n" * 3),  # clean
        (2, "Lorem Ipsum dolor sit amet and more words.\n" * 3),
        (3, "A code block { x } appears in this text here.\n" * 3),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           tx.c4_quality(df, "doc_id", "text").collect()}
    assert not out[1]["flagged"]
    assert out[2]["flagged"] and out[2]["has_lorem"]
    assert out[3]["flagged"] and out[3]["has_brace"]
    assert out[4]["flagged"] and out[4]["n_lines"] == 0 \
        and out[4]["clean_text"] == ""


def test_c4_quality_plan_no_exchange(spark):
    df = spark.createDataFrame([(1, "x.")], "doc_id long, text string")
    plan = (tx.c4_quality(df, "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_dedupe_doc_lines_hand_checked(spark):
    """Normalized-equal duplicates drop, first original spelling wins,
    order preserved; distinct lines untouched."""
    text = ("Alpha beta.\n"
            "  alpha   BETA. \n"   # normalized-equal dup -> removed
            "Gamma delta\n"
            "Alpha beta.\n"        # exact dup -> removed
            "gamma  DELTA")        # normalized dup of line 3 -> removed
    df = spark.createDataFrame([(1, text), (2, None)],
                               "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           tx.dedupe_doc_lines(df, "doc_id", "text").collect()}
    assert out[1]["n_lines"] == 5 and out[1]["n_kept"] == 2 \
        and out[1]["n_removed"] == 3
    assert out[1]["clean_text"] == "Alpha beta.\nGamma delta"
    assert out[2]["n_lines"] == 0 and out[2]["clean_text"] == ""


def test_dedupe_doc_lines_plan_no_exchange(spark):
    df = spark.createDataFrame([(1, "a\na")], "doc_id long, text string")
    plan = (tx.dedupe_doc_lines(df, "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_dedupe_doc_lines_composes_with_boilerplate(spark):
    """Within-doc dedup then cross-doc boilerplate removal: the shared
    footer survives within-doc dedup (appears once per doc) and is then
    removed by the cross-doc pass."""
    docs = [(i, f"Unique content line {i} here.\n"
                f"Unique content line {i} here.\n"  # within-doc dup
                "Shared footer line.")
            for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    within = tx.dedupe_doc_lines(df, "doc_id", "text")
    assert within.filter(F.col("n_removed") != 1).count() == 0
    cleaned = tx.remove_boilerplate(
        within.select("doc_id", F.col("clean_text").alias("text"),
                      F.lit("g").alias("src")),
        "doc_id", "text", "src", min_docs=5)
    for r in cleaned.collect():
        assert "Shared footer" not in r["clean_text"]
        assert r["n_kept"] == 1


def test_vocab_topk_deterministic_order(spark):
    df = spark.createDataFrame(
        [(1, "aa bb aa cc! aa bb"), (2, "bb cc, dd")],
        "doc_id long, text string")
    rows = tx.vocab_topk(df, "text", k=3).collect()
    assert [(r["token"], r["n"], r["rank"]) for r in rows] == [
        ("aa", 3, 1), ("bb", 3, 2), ("cc", 2, 3)]  # count desc, token asc


def test_vocab_topk_case_folds_and_splits_punct(spark):
    df = spark.createDataFrame([(1, "Foo foo FOO x9")],
                               "doc_id long, text string")
    got = {r["token"]: r["n"] for r in
           tx.vocab_topk(df, "text", k=10).collect()}
    assert got["foo"] == 3
    assert got["x"] == 1 and got["9"] == 1  # BPE-ish splits alpha/digit


def test_vocab_topk_plan_take_ordered(spark):
    """The top-k must compile to TakeOrderedAndProject (per-partition
    top-k + bounded k·P merge) — never a single-task sort of the whole
    vocabulary (Heaps' law makes that 10^9+ rows at crawl scale).  The
    only remaining single-partition step is the rank window over the k
    surviving rows."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (tx.vocab_topk(df, "text", k=5)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan


def test_corpus_report_int_ratio(spark):
    df = spark.createDataFrame(
        [(1, "en", "one two three"), (2, "en", "four five"),
         (3, "de", None)],
        "doc_id long, lang string, text string")
    out = {r["lang"]: r for r in
           tx.corpus_report(df, "lang", "text").collect()}
    assert out["en"]["n_docs"] == 2 and out["en"]["total_words"] == 5
    assert out["en"]["avg_words"] == 5 / 2
    assert out["de"]["total_words"] == 0 and out["de"]["total_chars"] == 0


def test_jpeg_roundtrip_block_constant_exact():
    """Block-constant EVEN-valued images survive the lossy pipeline
    exactly (DC-only blocks, q00=16): the multimodal_jpeg oracle's
    premise, pinned."""
    import numpy as np
    rng = np.random.default_rng(3)
    bvals = rng.integers(0, 128, size=(2, 3)) * 2
    img = np.kron(bvals, np.ones((8, 8), dtype=np.int64)).astype("uint8")
    got = mm.decode_jpeg(mm.encode_jpeg(img))
    assert np.array_equal(got, img)


def test_jpeg_entropy_layer_lossless_on_random_images():
    """For ARBITRARY images the Huffman/bitstream layer must be exact:
    decode equals the direct quantize->dequantize->IDCT reference
    computed without any entropy coding."""
    import numpy as np
    rng = np.random.default_rng(11)
    M = mm._dct_mat()
    q = mm.JPEG_QTABLE.astype(float)
    img = rng.integers(0, 256, size=(16, 24)).astype("uint8")
    ref = np.zeros_like(img)
    f = img.astype(float) - 128.0
    for by in range(2):
        for bx in range(3):
            blk = f[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
            sc = (M @ blk @ M.T) / q
            qc = np.sign(sc) * np.floor(np.abs(sc) + 0.5)
            rec = M.T @ (qc * q) @ M + 128.0
            ref[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                np.clip(np.rint(rec), 0, 255)
    assert np.array_equal(mm.decode_jpeg(mm.encode_jpeg(img)), ref)


def test_jpeg_rejects_out_of_scope():
    import numpy as np
    import pytest as _pytest
    with _pytest.raises(ValueError):
        mm.encode_jpeg(np.zeros((7, 8), np.uint8))  # non-8-aligned
    with _pytest.raises(ValueError):
        mm.decode_jpeg(b"\x89PNG\r\n\x1a\n")        # not a JPEG
    ok = mm.encode_jpeg(np.zeros((8, 8), np.uint8))
    with _pytest.raises(ValueError):
        mm.decode_jpeg(ok[:-2])                      # no EOI


def test_jpeg_color_ycbcr_exact_roundtrip_420_with_restarts():
    """Block-constant EVEN YCbCr planes + q00=16 tables decode EXACTLY
    through the full 3-component 4:2:0 interleaved pipeline, including
    DRI/RSTn markers and per-restart DC-predictor resets."""
    import numpy as np

    qt = np.full((8, 8), 16, dtype=np.int64)
    y = np.zeros((16, 32))
    for by in range(2):
        for bx in range(4):
            y[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = \
                2 * ((5 * by + 3 * bx + 7) % 128)
    cb = np.zeros((8, 16))
    cr = np.zeros((8, 16))
    for mx in range(2):
        cb[:, mx * 8:(mx + 1) * 8] = 2 * ((11 * mx + 5) % 128)
        cr[:, mx * 8:(mx + 1) * 8] = 2 * ((13 * mx + 1) % 128)
    for ri in (0, 1, 3):
        data = mm.encode_jpeg_ycbcr(y, cb, cr, "420",
                                    restart_interval=ri,
                                    q_luma=qt, q_chroma=qt)
        planes, dims, samp = mm.decode_jpeg_planes(data)
        assert dims == (16, 32) and samp == [(2, 2), (1, 1), (1, 1)]
        assert np.array_equal(planes[0], y.astype(np.uint8))
        assert np.array_equal(planes[1], cb.astype(np.uint8))
        assert np.array_equal(planes[2], cr.astype(np.uint8))
    # restart markers actually present when requested
    assert b"\xff\xd0" in mm.encode_jpeg_ycbcr(
        y, cb, cr, "420", restart_interval=1, q_luma=qt, q_chroma=qt)


def test_jpeg_color_rgb_roundtrip_bounded_error():
    """RGB in / RGB out through the JFIF transform: block-constant
    colors survive 4:4:4 within the DC-quantizer error bound; 4:2:0
    with macroblock-constant chroma matches 4:4:4 exactly."""
    import numpy as np

    qt = np.full((8, 8), 16, dtype=np.int64)
    rgb = np.zeros((16, 16, 3), dtype=np.uint8)
    rgb[:8, :8] = [200, 30, 60]
    rgb[:8, 8:] = [10, 250, 128]
    rgb[8:, :8] = [77, 77, 77]
    rgb[8:, 8:] = [0, 0, 255]
    out444 = mm.decode_jpeg(mm.encode_jpeg_color(
        rgb, "444", q_luma=qt, q_chroma=qt))
    assert out444.shape == (16, 16, 3)
    assert int(np.max(np.abs(out444.astype(int) - rgb.astype(int)))) <= 4
    # macroblock-constant color: 2x2 box subsampling is lossless, so
    # 420 decodes pixel-identical to 444
    mb = np.zeros((16, 32, 3), dtype=np.uint8)
    mb[:, :16] = [120, 64, 200]
    mb[:, 16:] = [30, 180, 90]
    o444 = mm.decode_jpeg(mm.encode_jpeg_color(mb, "444",
                                               q_luma=qt, q_chroma=qt))
    o420 = mm.decode_jpeg(mm.encode_jpeg_color(mb, "420",
                                               q_luma=qt, q_chroma=qt))
    assert np.array_equal(o444, o420)
    assert int(np.max(np.abs(o444.astype(int) - mb.astype(int)))) <= 4


def test_jpeg_decodes_foreign_encoder_files():
    """Decode JPEGs written by OTHER encoders (shipped with the OS):
    baseline 4:4:4 with and without restart intervals, baseline 4:2:0
    with non-8-aligned dims, and a non-aligned tiny grayscale — plus
    progressive files must be REJECTED, never mis-decoded."""
    import os

    import numpy as np

    cases = [
        # (path, h, w, desc)  — all baseline, verified by marker scan
        ("/usr/lib/google-cloud-sdk/platform/google_appengine/google/"
         "appengine/tools/java/jetty12/jetty-home/modules/demo.d/root/"
         "images/webtide_logo.jpg", 60, 245, "444"),
        ("/usr/lib/google-cloud-sdk/platform/gsutil/third_party/"
         "requests/ext/flower-of-life.jpg", 161, 161, "444+DRI21"),
        ("/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
         "kittens/54893.jpg", 311, 300, "420 nonaligned"),
        ("/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
         "multi-channel/chr30.4.184.jpg", 215, 300, "420"),
    ]
    seen = 0
    for path, h, w, desc in cases:
        if not os.path.exists(path):
            continue
        px = mm.decode_jpeg(open(path, "rb").read())
        assert px.shape == (h, w, 3), (desc, px.shape)
        assert 0 < px.mean() < 255 and px.std() > 10, desc
        seen += 1
    # mostly-white logo: plausibility beyond "it ran"
    logo = cases[0][0]
    if os.path.exists(logo):
        assert mm.decode_jpeg(open(logo, "rb").read()).mean() > 180
    if seen == 0:
        pytest.skip("no system JPEGs present")


def test_jpeg_decodes_foreign_progressive_files():
    """PROGRESSIVE JPEGs from foreign encoders (multi-scan spectral
    selection + successive approximation, the format ~10-20% of crawl
    images use): correct SOF2 dims and plausible content — the
    mostly-white images must decode mostly white, which a scan-order,
    EOB-run or refinement bug destroys."""
    import os

    cases = [
        ("/usr/share/doc/nodejs/thin-white-stripe.jpg", (58, 493, 3)),
        ("/usr/share/doc/nodejs/full-white-stripe.jpg", (312, 493, 3)),
        ("/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
         "multi-channel/grayscale.jpg", (215, 300)),
        ("/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/"
         "share/doc/rust/html/embedded-book/assets/f3.jpg",
         (477, 720, 3)),   # (2,1) luma sampling
    ]
    seen = 0
    for path, shape in cases:
        if not os.path.exists(path):
            continue
        px = mm.decode_jpeg(open(path, "rb").read())
        assert px.shape == shape, (path, px.shape)
        assert px.std() > 10
        seen += 1
    white = cases[1][0]
    if os.path.exists(white):
        assert mm.decode_jpeg(open(white, "rb").read()).mean() > 230
    if seen == 0:
        pytest.skip("no system progressive JPEGs present")


def test_jpeg_progressive_roundtrip_and_baseline_equivalence():
    """The progressive encoder shares the baseline quantizer
    (_quantize_blocks), so on ANY planes the progressive decode must be
    pixel-identical to the baseline decode of the same input — this
    gates DC successive approximation, spectral-band scans, ZRL and
    EOB-run batching against the already-oracled baseline path.  Plus
    the block-constant-even exact round-trip used by the
    multimodal_jpeg_progressive oracle."""
    import numpy as np

    qt = np.full((8, 8), 16, dtype=np.int64)
    y = np.zeros((16, 32))
    for by in range(2):
        for bx in range(4):
            y[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = \
                2 * ((5 * by + 3 * bx + 7) % 128)
    cb = np.zeros((8, 16))
    cr = np.zeros((8, 16))
    for mx in range(2):
        cb[:, mx * 8:(mx + 1) * 8] = 2 * ((11 * mx + 5) % 128)
        cr[:, mx * 8:(mx + 1) * 8] = 2 * ((13 * mx + 1) % 128)
    d = mm.encode_jpeg_progressive(y, cb, cr, "420",
                                   q_luma=qt, q_chroma=qt)
    planes, dims, samp = mm.decode_jpeg_planes(d)
    assert dims == (16, 32) and samp == [(2, 2), (1, 1), (1, 1)]
    assert np.array_equal(planes[0], y.astype(np.uint8))
    assert np.array_equal(planes[1], cb.astype(np.uint8))
    assert np.array_equal(planes[2], cr.astype(np.uint8))

    rng = np.random.default_rng(5)
    for sub, shape, cshape in [("444", (24, 32), (24, 32)),
                               ("420", (32, 48), (16, 24))]:
        Y = rng.integers(0, 256, size=shape).astype(np.float64)
        CB = rng.integers(0, 256, size=cshape).astype(np.float64)
        CR = rng.integers(0, 256, size=cshape).astype(np.float64)
        for qtab in (qt, mm.JPEG_QTABLE):
            base = mm.encode_jpeg_ycbcr(Y, CB, CR, sub,
                                        q_luma=qtab, q_chroma=qtab)
            prog = mm.encode_jpeg_progressive(Y, CB, CR, sub,
                                              q_luma=qtab, q_chroma=qtab)
            pb, db, sb = mm.decode_jpeg_planes(base)
            pp, dp, sp = mm.decode_jpeg_planes(prog)
            assert db == dp and sb == sp
            for a, b in zip(pb, pp):
                assert np.array_equal(a, b), (sub, int(qtab[0, 0]))

    # The regime where the pre-refactor encoders disagreed: random
    # 16x16 planes hit half-ulp quantization boundaries where a
    # sequential M @ blk @ M.T and the einsum differed on a DC coef
    # (~6/400 planes).  Both encoders now consume _quantize_blocks
    # output, so equality holds by construction — sweep many seeds.
    for seed in range(40):
        r = np.random.default_rng(100 + seed)
        Y = r.integers(0, 256, size=(16, 16)).astype(np.float64)
        CB = r.integers(0, 256, size=(16, 16)).astype(np.float64)
        CR = r.integers(0, 256, size=(16, 16)).astype(np.float64)
        base = mm.encode_jpeg_ycbcr(Y, CB, CR, "444",
                                    q_luma=mm.JPEG_QTABLE,
                                    q_chroma=mm.JPEG_QTABLE)
        prog = mm.encode_jpeg_progressive(Y, CB, CR, "444",
                                          q_luma=mm.JPEG_QTABLE,
                                          q_chroma=mm.JPEG_QTABLE)
        pb, _, _ = mm.decode_jpeg_planes(base)
        pp, _, _ = mm.decode_jpeg_planes(prog)
        for a, b in zip(pb, pp):
            assert np.array_equal(a, b), seed


def test_jpeg_grayscale_nonaligned_dims():
    """Non-8-multiple frame dims decode via MCU-grid padding + crop
    (every real crawl JPEG has arbitrary dims)."""
    import os

    p = ("/mnt/sandboxing/model_tools_env/v1/python/install/lib/"
         "python3.11/site-packages/IPython/core/tests/2x2.jpg")
    if not os.path.exists(p):
        pytest.skip("fixture JPEG absent")
    px = mm.decode_jpeg(open(p, "rb").read())
    assert px.shape == (2, 2)  # scan holds one DC-0 block: mid-gray
    assert (px == 128).all()


def test_jpeg_422_roundtrip_all_encoders():
    """4:2:2 (x-only chroma subsampling, the (2,1) luma factor the
    foreign f3.jpg uses): baseline and progressive encoders agree on
    random planes, and macroblock-constant RGB survives within the DC
    quantizer bound."""
    import numpy as np

    rng = np.random.default_rng(9)
    qt = np.full((8, 8), 16, dtype=np.int64)
    Y = rng.integers(0, 256, size=(16, 32)).astype(np.float64)
    CB = rng.integers(0, 256, size=(16, 16)).astype(np.float64)
    CR = rng.integers(0, 256, size=(16, 16)).astype(np.float64)
    base = mm.encode_jpeg_ycbcr(Y, CB, CR, "422", q_luma=qt, q_chroma=qt)
    prog = mm.encode_jpeg_progressive(Y, CB, CR, "422",
                                      q_luma=qt, q_chroma=qt)
    pb, db, sb = mm.decode_jpeg_planes(base)
    pp, dp, sp = mm.decode_jpeg_planes(prog)
    assert sb == [(2, 1), (1, 1), (1, 1)] and db == (16, 32)
    assert db == dp and sb == sp
    for a, b in zip(pb, pp):
        assert np.array_equal(a, b)
    rgb = np.zeros((16, 32, 3), dtype=np.uint8)
    rgb[:, :16] = [120, 60, 200]
    rgb[:, 16:] = [20, 220, 90]
    o = mm.decode_jpeg(mm.encode_jpeg_color(rgb, "422",
                                            q_luma=qt, q_chroma=qt))
    assert int(np.max(np.abs(o.astype(int) - rgb.astype(int)))) <= 4


def test_jpeg_default_decode_sniffs_signature():
    """A real JPEG payload never reaches the fake decoder."""
    import numpy as np
    img = (np.arange(64, dtype=np.int64).reshape(8, 8) * 2
           ).astype("uint8")
    payload = mm.encode_jpeg(img)
    feats = mm._default_decode(payload, "image/jpeg")
    fake = mm._fake_decode(payload, "image/jpeg")
    assert feats.shape == fake.shape
    assert not np.allclose(feats, fake)


def test_minhash_incremental_lookup(spark, docs):
    """Index the corpus, probe a new batch: the exact dup and the
    normalized dup of doc 0 are found; unrelated new docs are not."""
    corpus = docs.filter(F.col("doc_id").isin(0, 2, 3, 4))
    batch = spark.createDataFrame([
        (100, "the quick brown fox jumps over the lazy dog"),  # == doc 0
        (101, "THE QUICK  brown fox jumps over the lazy dog "),  # norm dup
        (102, "entirely novel content never seen in the corpus before"),
    ], "doc_id long, text string")
    got = {(r["new_id"], r["corpus_id"]): r["jaccard"] for r in
           dd.minhash_lookup(batch, corpus, "doc_id", "text",
                             num_hashes=32, bands=16, shingle_k=2,
                             min_jaccard=0.3).collect()}
    assert got[(100, 0)] == 1.0
    assert got[(101, 0)] == 1.0
    assert not any(n == 102 for n, _ in got)
    # pairs are strictly batch x corpus — never corpus x corpus
    assert all(n >= 100 and c < 100 for n, c in got)


def test_minhash_incremental_index_cap(spark):
    """A degenerate corpus bucket stays bounded: with max_bucket=5 a
    probe meets at most 5 corpus members per (band, key), keeping
    lookup cost capped at any corpus size."""
    corpus = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate page text everywhere").alias("text"))
    batch = spark.createDataFrame(
        [(5000, "identical boilerplate page text everywhere")],
        "doc_id long, text string")
    got = dd.minhash_lookup(batch, corpus, "doc_id", "text",
                            num_hashes=16, bands=4, shingle_k=2,
                            min_jaccard=0.5, max_bucket=5).collect()
    ids = {r["corpus_id"] for r in got}
    assert ids == set(range(5))  # lowest ids, every band the same bucket


def test_gzip_roundtrip_and_determinism(spark):
    import gzip
    rows = [(1, "héllo wörld\nsecond line"), (2, ""), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    enc = tx.gzip_encode_udf()
    dec = tx.gzip_decode_udf()
    out = {r["doc_id"]: (bytes(r["p"]), r["t"]) for r in
           df.select("doc_id",
                     enc(F.coalesce(F.col("text"), F.lit("")))
                     .alias("p"))
           .select("doc_id", "p",
                   dec(F.col("p")).alias("t")).collect()}
    for i, text in rows:
        want = text or ""
        p, t = out[i]
        assert t == want
        # mtime pinned: bytes equal an independent stdlib compress
        assert p == gzip.compress(want.encode("utf-8"), mtime=0)


def test_gzip_decode_rejects_corrupt_stream(spark):
    import pytest as _pytest
    df = spark.createDataFrame([(1, bytearray(b"not gzip"))],
                               "doc_id long, p binary")
    with _pytest.raises(Exception):
        df.select(tx.gzip_decode_udf()(F.col("p")).alias("t")).collect()


def test_contrastive_pairs_structure(spark, vectors):
    """3 positives (self excluded) + 3 negatives per query; disjoint;
    vec 1 (the planted near-dup of vec 0) is vec 0's rank-1 positive."""
    q = vectors.filter("vec_id < 3").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    rows = sim.contrastive_pairs(vectors, q, k_pos=3, k_neg=3,
                                 seed="t").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], {"pos": [], "neg": []})[
            r["label"]].append((r["rank"], r["cand_id"]))
    for qi, d in by_q.items():
        assert len(d["pos"]) == 3 and len(d["neg"]) == 3
        assert qi not in {c for _, c in d["pos"] + d["neg"]}
        assert not set(c for _, c in d["pos"]) & \
            set(c for _, c in d["neg"])
    assert sorted(by_q[0]["pos"])[0] == (1, 1)  # planted near-dup


def test_contrastive_pairs_pool_cutoff_active(spark, vectors):
    """With a small pool_factor the hash cutoff is ACTIVE: negatives come
    only from the deterministic md5-threshold pool (recomputed here in
    pure Python), the cutoff literal shows up as a corpus-side filter in
    the executed plan (the r6 scale-killer fix: the per-query window
    ranks the pool, never the full corpus), and the result is
    partition-invariant."""
    import hashlib

    q = vectors.filter("vec_id < 3").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    cutoff = sim.neg_pool_cutoff(20, k_neg=3, pool_factor=4)
    assert cutoff != "g" and len(cutoff) == 32
    pool = {i for i in range(20)
            if hashlib.md5(f"t\x1fpool\x1f{i}".encode()).hexdigest()
            < cutoff}
    assert 0 < len(pool) < 20  # active: some survive, some are cut
    out = sim.contrastive_pairs(vectors, q, k_pos=3, k_neg=3, seed="t",
                                pool_factor=4)
    rows = out.collect()
    negs = {r["cand_id"] for r in rows if r["label"] == "neg"}
    assert negs and negs <= pool
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert cutoff in plan  # pool filter is on the corpus side, pre-join
    b = sim.contrastive_pairs(vectors.repartition(5), q, k_pos=3,
                              k_neg=3, seed="t", pool_factor=4)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, b.collect()))


def test_neg_pool_cutoff_shared_fn():
    """Cutoff literal: 32-char lowercase hex, monotone in the target
    fraction, keep-all sentinel when the corpus fits the pool."""
    from katydid_haskell_spark.operators.similarity import neg_pool_cutoff

    assert neg_pool_cutoff(100, 3, pool_factor=100) == "g"   # 300 >= 100
    c1 = neg_pool_cutoff(10_000, 3, pool_factor=100)         # 3%
    c2 = neg_pool_cutoff(100_000, 3, pool_factor=100)        # 0.3%
    for c in (c1, c2):
        assert len(c) == 32 and c == c.lower()
        assert set(c) <= set("0123456789abcdef")
    assert c2 < c1  # bigger corpus -> tighter cutoff
    # every md5 hex digest sorts below the keep-all sentinel
    assert "ffffffffffffffffffffffffffffffff" < "g"


def test_contrastive_pairs_negatives_deterministic(spark, vectors):
    q = vectors.filter("vec_id < 2").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    a = sorted(map(tuple, sim.contrastive_pairs(
        vectors, q, seed="s1").collect()))
    b = sorted(map(tuple, sim.contrastive_pairs(
        vectors.repartition(5), q, seed="s1").collect()))
    c = sorted(map(tuple, sim.contrastive_pairs(
        vectors, q, seed="s2").collect()))
    assert a == b
    negs = lambda rows: {t for t in rows if t[2] == "neg"}  # noqa: E731
    assert negs(a) != negs(c)  # seed changes the negative draw


def test_avi_mjpeg_codec_roundtrip_and_foreign_layout():
    """AVI container: encode→demux returns the exact JPEG frame bytes
    and the header meta; the walker tolerates JUNK chunks and a missing
    idx1 (stream order is authoritative), like a real player."""
    import struct

    import numpy as np

    rng = np.random.default_rng(11)
    qt = np.full((8, 8), 16, dtype=np.int64)
    frames = [
        mm.encode_jpeg(rng.integers(0, 256, size=(8, 16)).astype(np.uint8),
                       qtable=qt)
        for _ in range(4)
    ]
    avi = mm.encode_avi_mjpeg(frames, fps=25)
    (fps, n, w, h), got = mm.decode_avi_frames(avi)
    assert (fps, n, w, h) == (25, 4, 16, 8)
    assert [bytes(f) for f in got] == [bytes(f) for f in frames]
    # foreign-style layout: JUNK padding chunk between hdrl and movi,
    # no idx1 — rebuild by splicing the encoder's output
    movi_at = avi.index(b"LIST", 12 + 8)  # first LIST is hdrl
    movi_at = avi.index(b"movi") - 8
    idx_at = avi.index(b"idx1")
    junk = b"JUNK" + struct.pack("<I", 6) + b"abcdef"
    body = avi[12:movi_at] + junk + avi[movi_at:idx_at]
    foreign = b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body
    (fps2, n2, w2, h2), got2 = mm.decode_avi_frames(foreign)
    assert (fps2, n2, w2, h2) == (25, 4, 16, 8)
    assert [bytes(f) for f in got2] == [bytes(f) for f in frames]
    with pytest.raises(ValueError):
        mm.decode_avi_frames(b"RIFF\x04\x00\x00\x00WAVE")


def test_video_frame_stats_closed_form(spark):
    """video_frame_stats through the real AVI demux + JPEG decode
    equals the closed-form integer math the DuckDB oracle uses
    (6 frames, every 2nd sampled, 1x2 DC-only blocks)."""
    import numpy as np

    ones8 = np.ones((8, 8), dtype=np.int64)
    bx = np.arange(2, dtype=np.int64)
    rows = []
    for d in (0, 3, 129, 5041):
        frames = [
            mm.encode_jpeg(np.kron(
                (2 * ((d * 7 + f * 19 + bx * 3) % 128))[None, :],
                ones8).astype(np.uint8))
            for f in range(6)
        ]
        rows.append((d, bytearray(mm.encode_avi_mjpeg(frames, fps=10))))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {(r.media_id, r.frame_idx): r
           for r in mm.video_frame_stats(df, every_n=2).collect()}
    assert len(got) == 4 * 3
    for d, _ in rows:
        for f in (0, 2, 4):
            r = got[(d, f)]
            v0 = 2 * ((d * 7 + f * 19) % 128)
            v1 = 2 * ((d * 7 + f * 19 + 3) % 128)
            assert (r.n_frames, r.width, r.height) == (6, 16, 8)
            assert r.sum_px == 64 * (v0 + v1)
            assert r.pos_checksum == 3808 * v0 + 4320 * v1


def test_spectrogram_matches_naive_dft():
    """The framed rFFT spectrogram equals a naive per-frame DFT within
    float tolerance, and band_energies has the fixed feature width."""
    import numpy as np

    rng = np.random.default_rng(3)
    s = rng.integers(-3000, 3000, size=1000, dtype=np.int16)
    spec = mm.spectrogram(s, n_fft=256, hop=128)
    assert spec.shape == (1 + (1000 - 256) // 128, 129)
    frame0 = s[:256].astype(np.float64)
    naive = np.abs(np.fft.rfft(frame0)) ** 2
    assert np.allclose(spec[0], naive, rtol=1e-9, atol=1e-6)
    feats = mm.band_energies(s)
    assert feats.shape == (mm.FEATURE_DIM,) and feats.dtype == np.float32
    assert mm.spectrogram(s[:100], n_fft=256).shape == (0, 129)


def test_audio_spectrum_stats_closed_form(spark):
    """audio_spectrum_stats through the real WAV decode + rFFT equals
    the square-wave closed forms the DuckDB oracle uses (dominant bin =
    fundamental n_fft/p, energy = N*A^2, crossings = 2N/p - 1)."""
    import numpy as np

    N = 2048
    i = np.arange(N, dtype=np.int64)
    rows = []
    for d in (0, 1, 7, 123, 5042):
        amp = 1000 + d % 100
        p = 8 << (d % 5)
        s = np.where((i % p) < p // 2, amp, -amp).astype(np.int16)
        rows.append((d, bytearray(mm.encode_wav(s, rate=16000))))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r
           for r in mm.audio_spectrum_stats(df, n_fft=N).collect()}
    for d, _ in rows:
        amp = 1000 + d % 100
        p = 8 << (d % 5)
        r = got[d]
        assert (r.rate, r.n_samples) == (16000, N)
        assert r.dominant_bin == N // p
        assert r.energy == N * amp * amp
        assert r.zero_crossings == 2 * N // p - 1


def test_phash_properties_and_invariance():
    """pHash: deterministic bit packing (bit i == coefficient i),
    robustness to brightness shift / mild noise / JPEG re-encode,
    separation for unrelated content, and RGB luma folding."""
    import numpy as np

    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, size=(48, 64)).astype(np.uint8)
    h = mm.phash64(img)
    assert 0 <= h < 2 ** 63
    assert mm.phash64(img.copy()) == h
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    shifted = np.clip(img.astype(int) + 20, 0, 255).astype(np.uint8)
    assert ham(h, mm.phash64(shifted)) <= 3
    noisy = np.clip(img.astype(int)
                    + rng.integers(-4, 5, size=img.shape), 0,
                    255).astype(np.uint8)
    assert ham(h, mm.phash64(noisy)) <= 3
    other = rng.integers(0, 256, size=(48, 64)).astype(np.uint8)
    assert ham(h, mm.phash64(other)) > 10
    # block-structured image survives a real JPEG round trip exactly
    blocky = (np.kron(rng.integers(0, 32, size=(8, 8)),
                      np.ones((8, 8))) * 8).astype(np.uint8)
    assert ham(mm.phash64(blocky),
               mm.phash64(mm.decode_jpeg(mm.encode_jpeg(blocky)))) == 0
    rgb = np.stack([img, img, img], axis=-1)
    assert mm.phash64(rgb) == h
    # small images take the nearest-map path and still hash
    assert 0 <= mm.phash64(img[:16, :16]) < 2 ** 63


def test_phash_group_patterns_are_far():
    """The image_phash_neardup oracle's correctness condition: the 12
    construct-in-query group patterns are pairwise > max_hamming apart
    (measured: min 16), so cross-group candidates never survive the
    exact hamming verify.  Change the pattern formula in the entry UDF
    and this pin together."""
    import numpy as np

    yy = np.arange(48, dtype=np.int64)[:, None]
    xx = np.arange(64, dtype=np.int64)[None, :]
    hashes = []
    for g in range(12):
        img = (((yy * 13 + xx * 7 + g * 101) * (2 * g + 3)
                * 40503) // 256 % 256).astype(np.uint8)
        hashes.append(mm.phash64(mm.decode_png(mm.encode_png(img))))
    mn = min(bin(hashes[i] ^ hashes[j]).count("1")
             for i in range(12) for j in range(i + 1, 12))
    assert mn > 3, mn
    assert mn == 16  # re-measure if the pattern or pHash changes


def test_phash_neardup_pairs_banding(spark):
    """phash_neardup_pairs finds exactly the near pairs: two identical
    hashes (hamming 0), one hash 3 bits away (candidate via the
    pigeonholed untouched band, kept), one 8 bits away spread over all
    four bands (never bucketed together / would fail verify), and the
    bucket cap keeps determinism."""
    h0 = 0x123456789ABCDEF
    h3 = h0 ^ 0b111                      # 3 flips inside band 0
    h8 = h0 ^ 0x0101_0101_0101_0101     # 2 flips in every band
    df = spark.createDataFrame(
        [(1, h0), (2, h0), (3, h3), (4, h8)],
        "media_id long, phash long")
    got = {(r.id_a, r.id_b): r.hamming
           for r in mm.phash_neardup_pairs(df, max_hamming=3).collect()}
    assert got == {(1, 2): 0, (1, 3): 3, (2, 3): 3}
    with pytest.raises(ValueError):
        mm.phash_neardup_pairs(df, max_hamming=4)


def test_gif_codec_roundtrip_and_foreign_files():
    """GIF codec: palette roundtrip (single + animated, delays,
    256-color LZW dictionary overflow), every OS-shipped foreign GIF
    on the box decodes (GIF87a + GIF89a), and a hand-interlaced
    variant of our own stream deinterlaces to identical pixels."""
    import glob
    import struct

    import numpy as np

    rng = np.random.default_rng(13)
    pal = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
    img = rng.integers(0, 16, size=(23, 37)).astype(np.uint8)
    frames, delays = mm.decode_gif(mm.encode_gif(img, pal))
    assert frames.shape == (1, 23, 37, 3) and delays == [0]
    assert np.array_equal(frames[0], pal[img])
    f2 = (img + 3) % 16
    frames2, delays2 = mm.decode_gif(
        mm.encode_gif([img, f2], pal, delays=[5, 7]))
    assert delays2 == [5, 7]
    assert np.array_equal(frames2[0], pal[img])
    assert np.array_equal(frames2[1], pal[f2])
    pal256 = rng.integers(0, 256, size=(256, 3)).astype(np.uint8)
    big = rng.integers(0, 256, size=(64, 150)).astype(np.uint8)
    frames3, _ = mm.decode_gif(mm.encode_gif(big, pal256))
    assert np.array_equal(frames3[0], pal256[big])
    # interlaced: permute our encoder's rows into pass order and set
    # the interlace flag — the decoder must undo it exactly
    h, w = img.shape
    order = [r for s, st in ((0, 8), (4, 8), (2, 4), (1, 2))
             for r in range(s, h, st)]
    inter = mm.encode_gif(img[order], pal)
    desc_at = inter.index(b"\x2c")
    patched = bytearray(inter)
    patched[desc_at + 9] |= 0x40
    got, _ = mm.decode_gif(bytes(patched))
    assert np.array_equal(got[0], pal[img])
    # foreign decoders' output parses (87a + 89a + one interlaced file)
    files = sorted(glob.glob("/usr/share/doc/libxslt1-dev/html/*.gif"))
    assert len(files) >= 5
    for f in files:
        data = open(f, "rb").read()
        fr, _ = mm.decode_gif(data)
        ww, hh = struct.unpack_from("<HH", data, 6)
        assert fr.shape[1:] == (hh, ww, 3)
    with pytest.raises(ValueError):
        mm.decode_gif(b"NOTGIF")


def test_gif_frame_stats_closed_form(spark):
    """gif_frame_stats through the real encode/decode equals the
    closed-form math the DuckDB oracle uses (2 frames, 16-color
    palette, delays 3/9)."""
    import numpy as np

    pal = np.stack([(17 * np.arange(16) + 3) % 256,
                    (29 * np.arange(16) + 7) % 256,
                    (43 * np.arange(16) + 11) % 256],
                   axis=1).astype(np.uint8)
    yy = np.arange(12)[:, None]
    xx = np.arange(20)[None, :]
    rows = []
    for d in (0, 7, 123, 5043):
        frames = [((d + f * 5 + yy * 3 + xx) % 16).astype(np.uint8)
                  for f in (0, 1)]
        rows.append((d, bytearray(mm.encode_gif(frames, pal,
                                                delays=[3, 9]))))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {(r.media_id, r.frame_idx): r
           for r in mm.gif_frame_stats(df).collect()}
    assert len(got) == 8
    for d, _ in rows:
        for f in (0, 1):
            rgb = pal[(d + f * 5 + yy * 3 + xx) % 16].astype(np.int64)
            r = got[(d, f)]
            assert (r.n_frames, r.width, r.height) == (2, 20, 12)
            assert r.delay_cs == 3 + 6 * f
            assert r.r_sum == int(rgb[..., 0].sum())
            assert r.g_sum == int(rgb[..., 1].sum())
            assert r.b_sum == int(rgb[..., 2].sum())
            flat = rgb.reshape(-1)
            assert r.pos_checksum == int(
                (np.arange(flat.size) * flat).sum())


def test_resize_image_and_default_resize():
    """Real resize: area mean-pool is exact on block-constant images
    (the oracle's property), nearest upsample, per-axis mixing, RGB,
    and _default_resize sniffing (PNG/JPEG/BMP real, junk → fake)."""
    import numpy as np

    d = 77
    by = np.arange(4)[:, None]
    bx = np.arange(4)[None, :]
    v = (d * 29 + by * 17 + bx * 13) % 256
    img = np.kron(v, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
    exp = np.kron(v, np.ones((2, 2), dtype=np.int64)).astype(np.uint8)
    assert np.array_equal(mm.resize_image(img, 8, 8), exp)
    up = mm.resize_image(img, 64, 48)
    assert up.shape == (48, 64)
    assert mm.resize_image(img, 64, 8).shape == (8, 64)  # mixed axes
    rgb = np.stack([img] * 3, axis=-1)
    assert np.array_equal(mm.resize_image(rgb, 8, 8)[..., 0], exp)
    out = mm.decode_png(mm._default_resize(mm.encode_png(img),
                                           "image/png", 8, 8))
    assert out.shape == (8, 8, 1) and np.array_equal(out[..., 0], exp)
    out = mm.decode_png(mm._default_resize(mm.encode_bmp(rgb),
                                           "image/bmp", 8, 8))
    assert np.array_equal(out[..., 0], exp)
    blocky = np.kron((2 * (v % 128)), np.ones((8, 8))).astype(np.uint8)
    out = mm.decode_png(mm._default_resize(mm.encode_jpeg(blocky),
                                           "image/jpeg", 8, 8))
    assert np.array_equal(out[..., 0],
                          np.kron(2 * (v % 128),
                                  np.ones((2, 2))).astype(np.uint8))
    fk = mm._default_resize(b"not an image", "image/png", 8, 8)
    assert fk.startswith(b"resized:8x8:")


def test_resize_media_real_path(spark):
    """resize_media's default now resizes real payloads for real: a
    block-constant PNG comes back as a PNG whose pixels equal the
    closed-form block values; junk payloads still take the fake."""
    import numpy as np

    by = np.arange(4)[:, None]
    bx = np.arange(4)[None, :]
    rows = []
    for d in (3, 88):
        v = (d * 29 + by * 17 + bx * 13) % 256
        img = np.kron(v, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
        rows.append((d, bytearray(mm.encode_png(img)), "image/png"))
    rows.append((99, bytearray(b"junk payload"), "image/png"))
    df = spark.createDataFrame(rows,
                               "media_id long, payload binary, mime string")
    got = {r.media_id: r for r in mm.resize_media(df, 8, 8).collect()}
    for d in (3, 88):
        v = (d * 29 + by * 17 + bx * 13) % 256
        exp = np.kron(v, np.ones((2, 2), dtype=np.int64)).astype(np.uint8)
        px = mm.decode_png(bytes(got[d].payload))
        assert np.array_equal(px[..., 0], exp)
        assert (got[d].width, got[d].height) == (8, 8)
    assert bytes(got[99].payload).startswith(b"resized:8x8:")


def test_warc_build_parse_roundtrip():
    """WARC/1.0 framing: build → parse roundtrip (gzip members and
    plain), HTTP response splitting, case-insensitive headers, LF-only
    foreign layout, and malformed input rejection."""
    import hashlib

    from katydid_haskell_spark.operators import warc as wr

    recs = [
        {"type": "warcinfo", "body": "software: test\r\n"},
        {"type": "response", "uri": "https://example.com/a",
         "date": "2026-01-01T00:00:00Z",
         "body": b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
                 b"X-Y: z\r\n\r\nhello body"},
    ]
    for compress in (True, False):
        out = wr.parse_warc_records(wr.build_warc(recs, compress=compress))
        assert [r["type"] for r in out] == ["warcinfo", "response"]
        assert out[0]["body"] == b"software: test\r\n"
        r = out[1]
        assert r["uri"] == "https://example.com/a"
        assert r["http_status"] == 200
        assert r["http_headers"] == {"content-type": "text/plain",
                                     "x-y": "z"}
        assert r["http_body"] == b"hello body"
        assert r["content_length"] == len(recs[1]["body"])
    # deterministic bytes (mtime=0 discipline)
    assert wr.build_warc(recs) == wr.build_warc(recs)
    # LF-only foreign file with correct framing
    body = b"HTTP/1.1 301 Moved\nLocation: /b\n\nmoved"
    rec = (b"WARC/1.0\nWARC-Type: response\nWARC-Target-URI: http://x/\n"
           + b"Content-Length: " + str(len(body)).encode() + b"\n\n"
           + body + b"\n\n")
    out = wr.parse_warc_records(rec)
    assert out[0]["http_status"] == 301
    assert out[0]["http_headers"] == {"location": "/b"}
    assert out[0]["http_body"] == b"moved"
    # body bytes that LOOK like a WARC header must not confuse framing
    tricky = wr.build_warc([{"type": "resource",
                             "body": b"WARC/1.0\r\nWARC-Type: fake\r\n"}],
                           compress=False)
    out = wr.parse_warc_records(tricky)
    assert len(out) == 1 and out[0]["type"] == "resource"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        wr.parse_warc_records(b"HTTP/1.1 200 OK\r\n\r\n")


def test_warc_records_spark(spark):
    """warc_records explodes one row per record through the real
    parser with the sentinel discipline (non-null columns)."""
    import hashlib

    from katydid_haskell_spark.operators import warc as wr

    rows = []
    for d, txt in ((1, "hello"), (2, "wörld")):
        body = (b"HTTP/1.1 200 OK\r\n"
                b"Content-Type: text/plain; charset=utf-8\r\n"
                b"\r\n" + txt.encode("utf-8"))
        rows.append((d, bytearray(wr.build_warc([
            {"type": "warcinfo", "body": "software: t\r\n"},
            {"type": "response", "uri": f"https://x/{d}", "body": body},
        ]))))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {(r.doc_id, r.record_idx): r
           for r in wr.warc_records(df).collect()}
    assert len(got) == 4
    for d, txt in ((1, "hello"), (2, "wörld")):
        wi = got[(d, 0)]
        assert (wi.warc_type, wi.target_uri, wi.http_status,
                wi.n_http_headers) == ("warcinfo", "", -1, -1)
        r = got[(d, 1)]
        assert r.warc_type == "response" and r.http_status == 200
        assert r.body_len == len(txt.encode("utf-8"))
        assert r.body_md5 == hashlib.md5(txt.encode("utf-8")).hexdigest()
        assert r.content_length == 60 + len(txt.encode("utf-8"))


def test_bpe_trainer_and_encoder():
    """BPE: hand-checkable merges on a one-word corpus, deterministic
    training (lexicographic tie-break), rank-order application,
    unseen-word partial merges, and the demo literals the oracle
    embeds."""
    from katydid_haskell_spark.operators import tokenize as tk

    m = tk.train_bpe({"aaab": 10}, 3)
    assert m == [("a", "a"), ("a", "b</w>"), ("aa", "ab</w>")]
    r = tk.merge_ranks(m)
    assert tk.bpe_encode("aaab", r) == ["aaab</w>"]
    assert tk.bpe_encode("aab", r) == ["aa", "b</w>"]
    assert tk.bpe_encode("ba", r) == ["b", "a</w>"]
    # determinism: same corpus, same merges, twice
    assert tk.train_bpe(tk._DEMO_FREQS, tk.DEMO_N_MERGES) \
        == tk.demo_merges()
    counts = tk.demo_token_counts()
    assert counts["the"] == 1                 # fully merged (seen)
    assert counts["internationalization"] > 1  # long rare word
    assert counts["foo"] == 2                  # unseen: f + oo? chars merge
    # every token count positive and reconstruction lossless
    ranks = tk.merge_ranks(tk.demo_merges())
    for w in tk.DEMO_WORDS:
        toks = tk.bpe_encode(w, ranks)
        assert len(toks) == counts[w]
        assert "".join(toks).replace("</w>", "") == w


def test_bpe_token_counts_spark(spark):
    """bpe_token_counts through Spark equals the per-word reference
    (whitespace split on the shared explicit class)."""
    from katydid_haskell_spark.operators import tokenize as tk

    ranks = tk.merge_ranks(tk.demo_merges())
    rows = [(1, "the data training"), (2, "internationalization foo"),
            (3, ""), (4, "the\tdataset\x0bterse")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           tk.bpe_token_counts(df, tk.demo_merges()).collect()}
    import re
    ws = re.compile(tx.WS_RE)
    for d, t in rows:
        words = [w for w in ws.split(t) if w]
        assert got[d].n_words == len(words)
        assert got[d].n_tokens == sum(
            len(tk.bpe_encode(w, ranks)) for w in words)


def test_bpe_train_on_corpus_distributed(spark):
    """Corpus-scale BPE training: the word-frequency table comes from a
    DISTRIBUTED count (TakeOrderedAndProject top-V, never a full-vocab
    single-task sort), the collected dict is bounded by top_v (the
    cutoff drops tail tokens), and the result equals the driver-side
    trainer run on the same hand-computed frequencies."""
    from katydid_haskell_spark.operators import tokenize as tk

    df = spark.createDataFrame(
        [(1, "aa bb aa cc aa bb"), (2, "bb cc dd"), (3, "AA a9")],
        "doc_id long, text string")
    # plan shape: top-V compiles to TakeOrderedAndProject
    plan = (tk.word_freqs_topv(df, "text", top_v=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan
    # cutoff ACTIVE: 6 distinct BPE-ish tokens ('aa' 4 after casefold,
    # 'bb' 3, 'cc' 2, 'a' 1, '9' 1, 'dd' 1), top_v=3 keeps the first 3
    got = {r["token"]: r["n"] for r in
           tk.word_freqs_topv(df, "text", top_v=3).collect()}
    assert got == {"aa": 4, "bb": 3, "cc": 2}
    merges = tk.train_bpe_on_corpus(df, "text", top_v=3, n_merges=4)
    assert merges == tk.train_bpe({"aa": 4, "bb": 3, "cc": 2}, 4)
    # merge table shape: 1-based rank, merged = lhs + rhs
    rows = tk.merges_table(spark, merges).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(merges) + 1))
    assert all(r["merged"] == r["lhs"] + r["rhs"] for r in rows)


def test_tfidf_topterms_hand_computed(spark):
    """Distinctive terms by tf/docfreq: 'common' appears in all 3 docs
    (df=3) so unique terms (df=1) outrank it even at equal tf; ties
    break term asc; k cuts deterministically."""
    df = spark.createDataFrame(
        [(1, "common alpha alpha"), (2, "common beta"), (3, "common")],
        "doc_id long, text string")
    rows = tx.tfidf_topterms(df, "text", "doc_id", k=2).collect()
    got = {(r["doc_id"], r["trank"]): (r["term"], r["tf"], r["docfreq"],
                                       r["score"]) for r in rows}
    assert got[(1, 1)] == ("alpha", 2, 1, 2.0)   # tf=2/df=1
    assert got[(1, 2)] == ("common", 1, 3, 1 / 3)
    assert got[(2, 1)] == ("beta", 1, 1, 1.0)
    assert got[(3, 1)] == ("common", 1, 3, 1 / 3)
    assert (3, 2) not in got  # one-term doc yields one row


def test_bigram_lm_score_hand_computed(spark):
    """Bigram LM scoring against hand arithmetic: corpus {a b a; b a;
    x; null} gives c2("a b")=1, c2("b a")=2, c1(a)=1, c1(b)=2, V=2,
    so q("a b") = 2e6 DIV 3 = 666666 and q("b a") = 3e6 DIV 4 =
    750000.  Docs with <2 words score (0, 0, 0.0)."""
    from katydid_haskell_spark.operators import lm

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b a"), (3, "x"), (4, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           lm.bigram_lm_score(df, "text", "doc_id").collect()}
    assert (got[1].n_bigrams, got[1].score_sum) == (2, 666666 + 750000)
    assert got[1].avg_q == (666666 + 750000) / 2
    assert (got[2].n_bigrams, got[2].score_sum, got[2].avg_q) == (
        1, 750000, 750000.0)
    for d in (3, 4):
        assert (got[d].n_bigrams, got[d].score_sum, got[d].avg_q) == (
            0, 0, 0.0)


def test_bigram_lm_score_no_text_shuffle(spark):
    """Document text must never cross an exchange: every Exchange in
    the plan carries only bigram keys / counts / ids — the curation
    no-text-shuffle discipline."""
    from katydid_haskell_spark.operators import lm

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (lm.bigram_lm_score(df, "text", "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    import re
    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text#" not in m.group(0), m.group(0)


def test_media_curation_block_patterns_separable():
    """media_curation_full's correctness conditions: the 12
    block-constant group patterns have pairwise-DISTINCT pHashes
    (exact-equality dedup groups = residue classes; measured min
    hamming 10) and each is byte-identical per group by construction."""
    import numpy as np

    by = np.arange(4)[:, None]
    bx = np.arange(4)[None, :]
    hs = []
    for g in range(12):
        v = (g * 29 + by * 17 + bx * 13) % 256
        img = np.kron(v, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
        hs.append(mm.phash64(mm.decode_png(mm.encode_png(img))))
    assert len(set(hs)) == 12
    mn = min(bin(hs[i] ^ hs[j]).count("1")
             for i in range(12) for j in range(i + 1, 12))
    assert mn == 10  # re-measure if the pattern or pHash changes


def test_asof_join_hand_cases(spark):
    """asof_join: at-or-before matching, equal-timestamp right row
    visible to the same-instant left row, no-match nulls, and
    deterministic tiebreak (greatest id wins among equal (key, ts))."""
    import datetime as dt

    from katydid_haskell_spark.operators.joins import asof_join

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 10, t(5)), (2, 10, t(2)), (3, 10, t(1)), (4, 20, t(9))],
        "lid long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(100, 10, t(2), 1.5), (101, 10, t(4), 2.5),
         (102, 10, t(2), 9.9), (103, 30, t(0), 7.0)],
        "rid long, user_id long, ts timestamp, v double")
    out = {r.lid: r for r in asof_join(
        left, right, on="user_id", right_cols=["rid", "v"],
        tiebreak="rid").collect()}
    assert (out[1].asof_rid, out[1].asof_v) == (101, 2.5)   # ts 5 -> ts 4
    assert (out[2].asof_rid, out[2].asof_v) == (102, 9.9)   # tie: max rid
    assert out[3].asof_rid is None                          # before first
    assert out[4].asof_rid is None                          # no key match


def test_asof_join_bucketed_state_carry(spark):
    """Cross-bucket semantics of the skew-safe composition: opening
    state crosses empty buckets; a matched right row's own NULL comes
    through (struct carry — never a stale value from an older row); the
    in-bucket window partitions by (key, bucket), so no window partition
    spans a whole key (the r7 skew hazard)."""
    import datetime as dt

    from katydid_haskell_spark.operators.joins import asof_join

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, 0) + \
        dt.timedelta(seconds=s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 10, t(1)),     # same bucket as rid 100
         (2, 10, t(7)),     # two empty buckets after rid 101
         (3, 10, t(3)),     # bucket with NO right rows -> opening state
         (4, 10, t(2))],    # matched row holds NULL v -> NULL through
        "lid long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(100, 10, t(0), 1.5), (101, 10, t(2), None)],
        "rid long, user_id long, ts timestamp, v double")
    out = asof_join(left, right, on="user_id",
                    right_cols=["rid", "v"], tiebreak="rid",
                    bucket_seconds=2)
    rows = {r.lid: r for r in out.collect()}
    assert (rows[1].asof_rid, rows[1].asof_v) == (100, 1.5)
    assert rows[2].asof_rid == 101 and rows[2].asof_v is None
    assert rows[3].asof_rid == 101 and rows[3].asof_v is None
    assert rows[4].asof_rid == 101 and rows[4].asof_v is None  # not 1.5
    # plan guard: the window that carries __st partitions by
    # (user_id, __bkt), never by the key alone
    import re

    txt = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    carry = [sec for sec in re.split(r"\n\(\d+\) ", txt)
             if sec.startswith("Window") and "__st" in sec]
    assert carry and all("__bkt" in sec for sec in carry)


def test_asof_join_bucketed_matches_duckdb_native(spark):
    """Randomized cross-check: the bucketed composition == DuckDB's
    native ASOF LEFT JOIN on skewed keys with ties, gaps and
    bucket-boundary timestamps."""
    import datetime as dt

    import duckdb
    import numpy as np
    import pandas as pd

    from katydid_haskell_spark.operators.joins import asof_join

    rng = np.random.default_rng(11)
    base = dt.datetime(2026, 1, 1)
    lrows = [(int(i), int(k), base + dt.timedelta(
        seconds=int(rng.integers(0, 4000))))
        for i, k in enumerate(rng.choice([1, 1, 1, 1, 2, 3], size=300))]
    rrows = [(int(1000 + i), int(k), base + dt.timedelta(
        seconds=int(rng.integers(0, 4000))), float(i))
        for i, k in enumerate(rng.choice([1, 1, 1, 2, 4], size=120))]
    left = spark.createDataFrame(
        lrows, "lid long, k long, ts timestamp")
    right = spark.createDataFrame(
        rrows, "rid long, k long, ts timestamp, v double")
    got = {r.lid: (r.asof_rid, r.asof_v) for r in asof_join(
        left, right, on="k", right_cols=["rid", "v"],
        tiebreak="rid", bucket_seconds=600).collect()}
    con = duckdb.connect()
    con.register("l", pd.DataFrame(
        lrows, columns=["lid", "k", "ts"]))
    # deterministic tie winner: keep only the max-rid row per (k, ts)
    con.register("r", pd.DataFrame(
        rrows, columns=["rid", "k", "ts", "v"]))
    ref = con.execute("""
        SELECT l.lid, r.rid, r.v FROM l ASOF LEFT JOIN (
          SELECT * FROM r QUALIFY
            ROW_NUMBER() OVER (PARTITION BY k, ts ORDER BY rid DESC) = 1
        ) r ON l.k = r.k AND l.ts >= r.ts
    """).fetchall()
    want = {lid: (rid, v) for lid, rid, v in ref}
    assert got == want


def test_range_join_plan_and_hand_case(spark):
    """range_join_count: exact [start, start+30min) containment, and
    the physical plan is a hash join on (key, bucket) — never a
    BroadcastNestedLoopJoin / CartesianProduct."""
    import datetime as dt

    from katydid_haskell_spark.operators.joins import range_join_count

    t = lambda m, s=0: dt.datetime(2026, 1, 1, 1, m, s)  # noqa: E731
    events = spark.createDataFrame(
        [(1, 10, t(0)), (2, 10, t(29, 59)), (3, 10, t(30)),
         (4, 10, t(45)), (5, 20, t(1))],
        "event_id long, user_id long, ts timestamp")
    windows = spark.createDataFrame(
        [(900, 10, t(0)), (901, 20, t(50))],
        "window_id long, user_id long, ts timestamp")
    out = range_join_count(events, windows, on="user_id",
                           event_ts="ts", window_id="window_id",
                           start_ts="ts")
    got = {r.window_id: r.n_events for r in out.collect()}
    # window 900: events at :00 and :29:59 in, :30 excluded (half-open)
    assert got == {900: 2}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pq_trainer_encoder_deterministic():
    """PQ: shared trainer is deterministic, codes reconstruct within
    quantization error, and the parity-disciplined encoder matches a
    naive per-row argmin."""
    import numpy as np

    rng = np.random.default_rng(3)
    x = rng.normal(size=(500, 64))
    b1 = sim.train_pq(x, m=8, ksub=16)
    b2 = sim.train_pq(x, m=8, ksub=16)
    assert b1 == b2
    codes = sim.pq_encode_batch(x, b1)
    assert codes.shape == (500, 8) and codes.min() >= 0 and codes.max() < 16
    # naive reference: plain L2 argmin per subspace
    for j in range(8):
        cents = np.asarray(b1[j])
        sub = x[:, j * 8:(j + 1) * 8]
        d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        naive = d2.argmin(axis=1)
        # identical except where the ordered-fold score ties differently
        # at ulp scale — on random data that never happens
        assert (codes[:, j] == naive).all()
    # reconstruction beats the all-zero-code baseline by a wide margin
    recon = np.concatenate(
        [np.asarray(b1[j])[codes[:, j]] for j in range(8)], axis=1)
    err = ((x - recon) ** 2).mean()
    base = (x ** 2).mean()
    assert err < 0.7 * base


def test_pq_topk_recall_gates(spark):
    """PQ ADC search on the sandbox embeddings (structure-free random
    directions — the WORST case for PQ): direct top-10 recall >= 0.35
    (measured 0.50 at m=16), and the production two-stage read — ADC
    shortlist of 100 then exact re-rank — retains >= 0.9 of the true
    top-10 (measured 0.98)."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    sample = np.array(
        [r.embedding for r in emb.orderBy("vec_id").limit(2048).collect()],
        dtype=np.float64)
    books = sim.train_pq(sample, m=16)
    q = emb.filter("vec_id < 5")
    qq = q.select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec"))
    want = {(r.q_id, r.vec_id)
            for r in sim.brute_force_topk(emb, qq, k=10).collect()}
    got = {(r.q_id, r.vec_id)
           for r in sim.pq_topk(emb, q, 64, books, k=10).collect()}
    assert len(got & want) / len(want) >= 0.35
    short = {(r.q_id, r.vec_id)
             for r in sim.pq_topk(emb, q, 64, books, k=100).collect()}
    assert len(short & want) / len(want) >= 0.9


def test_pq_topk_two_phase_multipartition(spark):
    """r9 two-phase ADC ranking: winners identical across partitionings
    (prefix-closure of top-k under the strict (-score, vec_id) order),
    and the final window's input is the per-partition partial top-k —
    never a full-corpus per-query partition (the pre-r9 scale-killer)."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    sample = np.array(
        [r.embedding for r in emb.orderBy("vec_id").limit(2048).collect()],
        dtype=np.float64)
    books = sim.train_pq(sample, m=16)
    q = emb.filter("vec_id < 4")
    ref = sorted(map(tuple, sim.pq_topk(
        emb.coalesce(1), q, 64, books, k=7).collect()))
    got = sorted(map(tuple, sim.pq_topk(
        emb.repartition(9), q, 64, books, k=7).collect()))
    assert got == ref and len(got) == 4 * 7
    out = sim.pq_topk(emb.repartition(9), q, 64, books, k=7)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    # root-first tree order: the rank window sits ABOVE the partial
    # top-k MapInPandas (its input is k rows per query per partition)
    assert plan.index("Window") < plan.index("MapInPandas")


def test_triangle_count_hand_graphs(spark):
    """triangle_count: K4 (4 triangles, 3 per node), a square + one
    diagonal (2 triangles), skew robustness (star graph: 0), and
    duplicate/reversed/self-loop edge hygiene."""
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(k4 + [(2, 1), (3, 3)],
                               "id_a long, id_b long")
    got = {r.node: r.n_triangles
           for r in dd.triangle_count(df).collect()}
    assert got[-1] == 4
    assert all(got[n] == 3 for n in range(4))
    sq = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)], "id_a long, id_b long")
    got = {r.node: r.n_triangles
           for r in dd.triangle_count(sq).collect()}
    assert got[-1] == 2 and got[0] == 2 and got[2] == 2
    assert got[1] == 1 and got[3] == 1
    star = spark.createDataFrame([(0, i) for i in range(1, 9)],
                                 "id_a long, id_b long")
    got = {r.node: r.n_triangles
           for r in dd.triangle_count(star).collect()}
    assert got == {-1: 0}


def test_label_propagation_hand_graphs(spark):
    """Synchronous LPA: two cliques joined by one bridge edge converge
    to their min labels in 3 rounds; determinism (two runs identical);
    a path graph shows the smallest-label tie rule."""
    cl = [(a, b) for a in range(4) for b in range(4) if a < b] \
        + [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b] \
        + [(3, 10)]
    df = spark.createDataFrame(cl, "id_a long, id_b long")
    got = {r.node: r.label for r in dd.label_propagation(df, 3).collect()}
    assert all(got[n] == 0 for n in range(3))          # clique A core
    assert all(got[n] == 10 for n in range(11, 14))    # clique B core
    got2 = {r.node: r.label for r in dd.label_propagation(df, 3).collect()}
    assert got == got2
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)],
                                 "id_a long, id_b long")
    gp = {r.node: r.label for r in dd.label_propagation(path, 1).collect()}
    # one round: each node takes its smallest neighbor's label
    assert gp == {0: 1, 1: 0, 2: 1, 3: 2}
    # reversed duplicates canonicalize away: (a,b) + (b,a) counts the
    # neighbor ONCE (the oracle's edge semantics) — node 1 sees
    # neighbors {0, 2, 3}; a double-counted 2 would win instead of 0
    rev = spark.createDataFrame(
        [(1, 2), (2, 1), (0, 1), (1, 3)], "id_a long, id_b long")
    gr = {r.node: r.label for r in dd.label_propagation(rev, 1).collect()}
    assert gr[1] == 0
    # plan guard: the per-round argmax is a mergeable aggregate, never
    # a window — hub nodes must not sort their label sets in one task
    # (guarded pre-checkpoint; the checkpointed result hides the plan)
    both = path.selectExpr("id_a as src", "id_b as dst").unionAll(
        path.selectExpr("id_b as src", "id_a as dst"))
    labels = both.selectExpr("src as node", "src as label").distinct()
    rnd = dd._lpa_round(both, labels)
    plan = rnd._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "Window" not in plan and "max_by" in plan


def test_semantic_dedup_hand_case(spark):
    """SemDeDup decision table on a crafted 2-D corpus with explicit
    centroids: near-parallel vectors in the same cell drop the HIGHER
    id; dissimilar same-cell vectors and other-cell vectors keep."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.01]), (3, [0.6, 0.55]),
         (4, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    got = {r.vec_id: (r.cell, r.kept)
           for r in sim.semantic_dedup(
               df, dim=2, min_cos=0.95,
               centroids=[[1.0, 0.0], [0.0, 1.0]]).collect()}
    assert got[1] == (0, True)    # lowest id of the near-dup pair
    assert got[2] == (0, False)   # cos(1,2) ≈ 0.99995 ≥ τ → dropped
    assert got[3] == (0, True)    # same cell, cos(1,3) ≈ 0.737 < τ
    assert got[4] == (1, True)    # alone in its cell


def test_semantic_dedup_threshold_margin():
    """The unrounded `cos >= τ` comparisons (semantic_dedup τ=0.4,
    semantic_decontam τ=0.3 — cross pairs are a subset of the pairs
    checked here) are safe cross-engine ONLY while no within-cell pair
    sits near a threshold: pin the margin ≥ 1e-6 (measured ≥4.4e-5 at
    both shipped SFs — at least ten orders above summation-order
    noise), re-deriving cells via the SHARED trainer exactly as the
    oracle does."""
    import duckdb
    import numpy as np

    for sf in ("sf0.01", "sf0.1"):
        con = duckdb.connect()
        rows = con.execute(
            f"SELECT vec_id, embedding FROM "
            f"'/root/testdata/{sf}/embeddings.parquet' ORDER BY vec_id"
        ).fetchall()
        con.close()
        x = np.array([r[1] for r in rows], dtype=np.float64)
        n_cells = sim.auto_dedup_cells(len(x), 32)
        cents = np.array(sim.kmeans_unit(x[:4096], n_cells, 8, 5))
        nrm = np.linalg.norm(x, axis=1, keepdims=True)
        cell = np.where(nrm > 0, (x @ cents.T) / np.where(nrm > 0, nrm, 1),
                        0.0).argmax(axis=1)
        gaps = []
        for c in range(n_cells):
            m = x[cell == c]
            if len(m) < 2:
                continue
            mn = m / np.maximum(
                np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
            cs = (mn @ mn.T)[np.triu_indices(len(m), 1)]
            gaps.append(min(np.abs(cs - 0.4).min(),
                            np.abs(cs - 0.3).min()))
        assert min(gaps) > 1e-6, (sf, min(gaps))


def test_dsir_score_hand_computed(spark):
    """DSIR importance scores against hand arithmetic.  Corpus
    {0:'a b'(target), 1:'a b', 2:'a c', 3:'z q', 4:'x', 5:None}:
    raw model c2(a b)=2, c2(a c)=1, c2(z q)=1, c1(a)=3, c1(z)=1,
    V_r=2 → q_r = 600000 / 400000 / 666666; target model (doc 0)
    c2(a b)=1, c1(a)=1, V_t=1 → q_t(a b)=1000000, backoff
    q_t(a c)=500000, q_t(z q)=1000000 (both counts unseen)."""
    from katydid_haskell_spark.operators import lm

    df = spark.createDataFrame(
        [(0, "a b"), (1, "a b"), (2, "a c"), (3, "z q"), (4, "x"),
         (5, None)],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.t_sum, r.r_sum, r.dscore)
           for r in lm.dsir_score(
               df, F.col("doc_id") % 7 == 0).collect()}
    assert got[0] == (1, 1000000, 600000, 400000)
    assert got[1] == (1, 1000000, 600000, 400000)
    assert got[2] == (1, 500000, 400000, 100000)
    assert got[3] == (1, 1000000, 666666, 333334)
    assert got[4] == (0, 0, 0, 0)
    assert got[5] == (0, 0, 0, 0)
    # empty target slice: V_t floors at 1, every bigram backs off to
    # q_t = 1000000*1 // (0+1) — no division by zero
    empty = {r.doc_id: r.t_sum for r in lm.dsir_score(
        df, F.col("doc_id") < 0).collect()}
    assert empty[0] == 1000000


def test_dsir_no_text_shuffle(spark):
    """dsir_score inherits the no-text-shuffle discipline: every
    Exchange carries only bigram keys / counts / ids."""
    from katydid_haskell_spark.operators import lm

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (lm.dsir_score(df, F.col("doc_id") % 7 == 0)
            ._jdf.queryExecution().executedPlan().toString())
    import re
    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text#" not in m.group(0), m.group(0)


def test_temperature_targets_hand_computed():
    """α-weighted targets: α=0.5 over {a:400, b:100} gives weights
    2:1 → targets {a: 100, b: 50} at total=150; a group smaller than
    its share is capped at its size; α=1 reduces to proportional;
    zero/absent groups drop."""
    from katydid_haskell_spark.operators.mixing import temperature_targets

    assert temperature_targets({"a": 400, "b": 100}, 0.5, 150) == {
        "a": 100, "b": 50}
    assert temperature_targets({"a": 400, "b": 4}, 0.5, 220) == {
        "a": 200, "b": 4}  # b capped at group size (share would be 20)
    assert temperature_targets({"a": 300, "b": 100}, 1.0, 100) == {
        "a": 75, "b": 25}
    assert temperature_targets({"a": 0, "b": 10}, 0.5, 5) == {"b": 5}
    assert temperature_targets({}, 0.5, 100) == {}


def test_temperature_sample_draw_matches_quota(spark):
    """temperature_sample == quota_sample_ids with targets from the
    shared fn: same winners, exact per-group sizes."""
    from katydid_haskell_spark.operators import mixing as mx

    rows = [(f"g{i % 3}", i) for i in range(90)]
    df = spark.createDataFrame(rows, "lang string, doc_id long")
    got = mx.temperature_sample(df, "lang", "doc_id", alpha=0.5,
                                total=30, seed="t-test")
    counts = {r[0]: r[1] for r in
              got.groupBy("lang").count().collect()}
    # equal group sizes → equal targets: int(30/3) each
    assert counts == {"g0": 10, "g1": 10, "g2": 10}
    want = mx.quota_sample_ids(df, "lang", "doc_id",
                               {"g0": 10, "g1": 10, "g2": 10},
                               seed="t-test")
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()}


def test_robots_parse_decide_hand_cases():
    """RFC 9309 semantics: group selection (exact else merged *),
    longest-match, Allow-wins ties, wildcard + $ anchors, comments,
    multi-UA blocks, group merging, empty Disallow, rules before any
    UA line ignored, case-insensitive agents."""
    from katydid_haskell_spark.operators import robots as rb

    txt = ("# demo\nUser-agent: *\nDisallow: /private\n"
           "Allow: /private/ok\n\nUser-agent: trainbot\n"
           "Disallow: /raw3\nDisallow: /tmp/*.bin$\n")
    rules = rb.parse_robots(txt)
    assert rb.decide(rules, "fetchbot", "/private/ok/x") == (True, 11)
    assert rb.decide(rules, "fetchbot", "/private/y") == (False, 8)
    assert rb.decide(rules, "trainbot", "/tmp/a.bin") == (False, 11)
    assert rb.decide(rules, "trainbot", "/tmp/a.binx") == (True, 0)
    assert rb.decide(rules, "TrainBot", "/raw3") == (False, 5)
    assert rb.decide(rules, "trainbot", "/private/y") == (True, 0)
    t2 = ("Disallow: /early\nUser-agent: a\nUser-agent: b\n"
          "Disallow: /x\nUser-agent: a\nAllow: /x/y\nDisallow:\n")
    r2 = rb.parse_robots(t2)
    assert rb.decide(r2, "b", "/x/q") == (False, 2)
    assert rb.decide(r2, "a", "/x/y/z") == (True, 4)
    assert rb.decide(r2, "c", "/early") == (True, 0)  # no group, no UA


def test_robots_decide_udf_parity(spark):
    """robots_decide_udf over (robots body, agent, path) rows returns the
    SAME decisions as the pure decide() engine for every (host, path),
    including a no-robots host (NULL body, as a left join leaves it)."""
    from katydid_haskell_spark.operators import robots as rb

    bodies = {
        "a.com": ("User-agent: *\nDisallow: /p\nAllow: /p/ok\n"
                  "Disallow: /t/*.gz$\n"),
        "b.com": ("User-agent: bot\nDisallow: /only\n"
                  "User-agent: *\nDisallow: /\n"),
    }
    paths = ["/p/ok/z", "/p/x", "/t/a.gz", "/t/a.gzx", "/only/f", "/"]
    urls = spark.createDataFrame(
        [(h, bodies.get(h), p) for h in ["a.com", "b.com", "norobots.com"]
         for p in paths],
        "host string, robots_txt string, path string")
    d = rb.robots_decide_udf()(F.col("robots_txt"), F.lit("bot"),
                               F.col("path"))
    got = {(r.host, r.path): (r.d.allowed, r.d.match_len)
           for r in urls.select("host", "path", d.alias("d")).collect()}
    assert len(got) == 18
    for h in ["a.com", "b.com", "norobots.com"]:
        rl = rb.parse_robots(bodies.get(h, ""))
        for p in paths:
            assert got[(h, p)] == rb.decide(rl, "bot", p), (h, p)
    assert got[("norobots.com", "/")] == (True, 0)


def test_sentence_split_hand_cases(spark):
    """Terminator-run chunking + shared normalization: multi-terminator
    runs stay attached, no-terminator trailing text is a sentence,
    empties drop, null text yields no rows, n_words counts single-space
    splits of the normalized sentence."""
    df = spark.createDataFrame(
        [(1, "Hello world. And?! Then  more\n\ttext"),
         (2, "no terminators here"),
         (3, "..."), (4, None), (5, "One.")],
        "doc_id long, text string")
    got = {}
    for r in tx.sentence_split(df, "text", "doc_id").collect():
        got.setdefault(r.doc_id, []).append(
            (r.sidx, r.sentence, r.n_words))
    assert got[1] == [(0, "hello world.", 2), (1, "and?!", 1),
                      (2, "then more text", 3)]
    assert got[2] == [(0, "no terminators here", 3)]
    # SENT_RE requires >=1 non-terminator char, so a pure "..." text
    # produces no chunks at all
    assert 3 not in got
    assert 4 not in got
    assert got[5] == [(0, "one.", 1)]


def test_html_text_hand_cases(spark):
    """html_text: blocks strip before tags, comments drop, entities
    decode ONCE in fixed order ('&amp;' last — '&amp;lt;' yields the
    literal '&lt;', never '<'), output is the shared normalize_ws
    canonical form."""
    df = spark.createDataFrame(
        [(1, '<p>Hello <b>World</b></p><script>var x = "<i>no</i>";'
             '</script><!-- gone --><span>&amp;lt; &gt; &nbsp;ok</span>'),
         (2, None),
         (3, '<style>h1 { x: y }</style>A &quot;B&#39;')],
        "doc_id long, html string")
    got = {r.doc_id: r.t for r in df.select(
        "doc_id", tx.html_text(F.col("html")).alias("t")).collect()}
    assert got[1] == 'hello world &lt; > ok'
    assert got[2] == ''
    assert got[3] == 'a "b\''


def test_robots_decide_against_independent_matcher():
    """Property check: decide() vs an INDEPENDENT brute-force matcher
    (recursive char-walk, no regex) over randomized rule sets and
    paths — seeded, deterministic."""
    import random

    from katydid_haskell_spark.operators import robots as rb

    def walk_match(pat, path):
        # independent semantics: anchored at start, '*' any run,
        # trailing '$' anchors the end
        end_anchor = pat.endswith("$")
        if end_anchor:
            pat = pat[:-1]

        def rec(i, j):
            if i == len(pat):
                return (j == len(path)) if end_anchor else True
            if pat[i] == "*":
                return any(rec(i + 1, k) for k in range(j, len(path) + 1))
            return j < len(path) and path[j] == pat[i] and rec(i + 1, j + 1)

        return rec(0, 0)

    def brute(rules, agent, path):
        grp = [r for r in rules if r[0] == agent]
        if not grp:
            grp = [r for r in rules if r[0] == "*"]
        hits = [(len(p), al) for _, al, p in grp if walk_match(p, path)]
        if not hits:
            return (True, 0)
        best = max(h[0] for h in hits)
        allow = any(al for ln, al in hits if ln == best)
        return (allow, best)

    rng = random.Random(77)
    segs = ["/a", "/bb", "/c", "x", "*", "/d*", "e"]
    for trial in range(400):
        rules = []
        for _ in range(rng.randrange(0, 6)):
            agent = rng.choice(["*", "bot", "other"])
            pat = "".join(rng.choice(segs)
                          for _ in range(rng.randrange(1, 4)))
            if rng.random() < 0.3:
                pat += "$"
            rules.append((agent, rng.random() < 0.5, pat))
        path = "".join(rng.choice(["/a", "/bb", "/c", "x", "e", "/d"])
                       for _ in range(rng.randrange(0, 5)))
        got = rb.decide(rules, "bot", path)
        want = brute(rules, "bot", path)
        assert got == want, (trial, rules, path, got, want)


def test_sentence_split_python_parity_nasty_strings(spark):
    """Spark sentence_split (Java regex) vs a pure-Python re
    re-implementation over adversarial text: unicode whitespace (NBSP
    must NOT collapse — explicit-class discipline), CRLF, VT, quotes,
    emoji, terminator runs, empty and null."""
    import re as _re

    from katydid_haskell_spark.operators.textops import SENT_RE, WS_RE

    def py_sentences(t):
        out = []
        for chunk in _re.findall(SENT_RE, t or ""):
            s = _re.sub("^ | $", "", _re.sub(WS_RE, " ", chunk.lower()))
            if s:
                out.append(s)
        return out

    texts = [
        "A b. C d! E?",
        "nbsp\xa0stays. tab\there.",
        "crlf\r\nline. vt\x0bx!",
        'quote "q". emoji \U0001F600 end',
        "runs..!? more",
        "", None, ".!?", "ü. Über?",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {}
    for r in tx.sentence_split(df, "text", "doc_id").collect():
        got.setdefault(r.doc_id, []).append((r.sidx, r.sentence))
    for i, t in enumerate(texts):
        want = [(j, s) for j, s in enumerate(py_sentences(t))]
        assert got.get(i, []) == want, (i, t, got.get(i), want)


def test_dsir_score_against_pure_python(spark):
    """Property check: dsir_score vs an independent Counter-based
    reimplementation of the quantized two-model scoring over a seeded
    random corpus."""
    import random
    from collections import Counter

    from katydid_haskell_spark.operators import lm

    rng = random.Random(11)
    vocab = ["aa", "bb", "cc", "dd"]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(0, 6))))
            for i in range(40)]

    def model(ids):
        c2, c1 = Counter(), Counter()
        for i, t in docs:
            if i not in ids:
                continue
            ws = t.split()
            for a, b in zip(ws, ws[1:]):
                c2[f"{a} {b}"] += 1
                c1[a] += 1
        v = max(len(c1), 1)
        return c2, c1, v

    tgt = {i for i, _ in docs if i % 7 == 0}
    c2t, c1t, vt = model(tgt)
    c2r, c1r, vr = model({i for i, _ in docs})

    def q(c2, c1, v, bg):
        w1 = bg.split(" ")[0]
        return (1_000_000 * (c2[bg] + 1)) // (c1[w1] + v)

    want = {}
    for i, t in docs:
        ws = t.split()
        bgs = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        ts = sum(q(c2t, c1t, vt, b) for b in bgs)
        rs = sum(q(c2r, c1r, vr, b) for b in bgs)
        want[i] = (len(bgs), ts, rs, ts - rs)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.t_sum, r.r_sum, r.dscore)
           for r in lm.dsir_score(df, F.col("doc_id") % 7 == 0).collect()}
    assert got == want


def test_semantic_dedup_against_brute_force(spark):
    """Property check: semantic_dedup (explicit centroids) vs a direct
    numpy within-cell pairwise implementation on seeded random
    vectors."""
    import numpy as np

    rng = np.random.default_rng(23)
    x = rng.normal(size=(60, 4))
    cents = [[1.0, 0, 0, 0], [0, 1.0, 0, 0], [0, 0, 1.0, 0]]
    c = np.array(cents)
    nrm = np.linalg.norm(x, axis=1, keepdims=True)
    cell = (x @ c.T / nrm).argmax(axis=1)
    xn = x / nrm
    tau = 0.6
    dropped = set()
    for j in range(len(x)):
        for i in range(j):
            if cell[i] == cell[j] and float(xn[i] @ xn[j]) >= tau:
                dropped.add(j)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>")
    got = {r.vec_id: (r.cell, r.kept)
           for r in sim.semantic_dedup(df, dim=4, min_cos=tau,
                                       centroids=cents).collect()}
    for i in range(len(x)):
        assert got[i] == (int(cell[i]), i not in dropped), i


def test_temperature_targets_properties():
    """Invariants: sum(targets) <= total; each target <= group size;
    alpha=1 is proportional; alpha=0 is uniform across non-empty
    groups; smaller alpha narrows the spread (up-weights the tail)."""
    from katydid_haskell_spark.operators.mixing import temperature_targets

    counts = {"a": 1000, "b": 100, "c": 10}
    for alpha in (0.0, 0.3, 0.5, 0.7, 1.0):
        t = temperature_targets(counts, alpha, 300)
        assert sum(t.values()) <= 300
        assert all(t[g] <= counts[g] for g in t)
    t1 = temperature_targets(counts, 1.0, 111)
    assert t1 == {"a": 100, "b": 10, "c": 1}
    t0 = temperature_targets(counts, 0.0, 30)
    assert t0 == {"a": 10, "b": 10, "c": 10}
    spread = lambda t: t["a"] - t["c"]  # noqa: E731
    assert spread(temperature_targets(counts, 0.3, 300)) < spread(
        temperature_targets(counts, 0.9, 300))


def test_html_text_python_parity_nasty_strings(spark):
    """Spark html_text (Java regex chain) vs a pure-Python re
    re-implementation over adversarial payloads: unclosed script,
    nested angle brackets, entity-adjacent entities, unicode, CRLF."""
    import re as _re

    from katydid_haskell_spark.operators.textops import (
        HTML_COMMENT_RE,
        HTML_ENTITIES,
        HTML_SCRIPT_RE,
        HTML_STYLE_RE,
        HTML_TAG_RE,
        WS_RE,
    )

    def py_extract(t):
        out = t or ""
        for pat in (HTML_SCRIPT_RE, HTML_STYLE_RE, HTML_COMMENT_RE,
                    HTML_TAG_RE):
            out = _re.sub(pat, " ", out)
        for ent, ch in HTML_ENTITIES:
            out = out.replace(ent, ch)
        return _re.sub("^ | $", "", _re.sub(WS_RE, " ", out.lower()))

    payloads = [
        "<p>a</p>",
        "<script>never closed",          # unclosed block: tag strip only
        "<p a='<'>x</p>",                 # '<' inside attr value
        "&amp;amp; &amp;lt; &lt;b&gt;",  # entity-adjacent entities
        "<!-- <p>gone</p> -->kept",
        "<P CLASS=X>Ü\xa0nbsp</P>",       # NBSP survives normalize
        "a < b and c > d",                # bare comparators
        "<style>s</style\n>tail",         # newline inside closing tag
        "", None,
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)],
        "doc_id long, html string")
    got = {r.doc_id: r.t for r in df.select(
        "doc_id", tx.html_text(F.col("html")).alias("t")).collect()}
    for i, p in enumerate(payloads):
        assert got[i] == py_extract(p), (i, p, got[i], py_extract(p))
