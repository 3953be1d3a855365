"""Unit tests for the north-star operator modules (SURVEY.md §7 M7)."""

import math
import re

import pytest
from pyspark.sql import functions as F

from etlp_spark.functions import text as T
from etlp_spark.functions.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidates,
    minhash_signature,
    word_shingles,
)
from etlp_spark.functions.multimodal import attach_fake_media, decode_image, extract_features
from etlp_spark.functions.similarity import cosine_topk, srp_buckets


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "der schnelle braune fuchs ist nicht hier und die katze"),
        (4, "completely different words entirely unrelated text here now"),
        (5, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (6, "ab"),  # shorter than one shingle
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_tokens_and_stats(spark):
    df = spark.createDataFrame([(1, "  Hello   WORLD  ")], ["id", "text"])
    row = df.select(
        T.tokens("text").alias("t"),
        T.token_count("text").alias("n"),
        T.avg_token_len("text").alias("avg"),
    ).first()
    assert row.t == ["hello", "world"]
    assert row.n == 2
    assert row.avg == 5.0


def test_bpe_ish_tokens(spark):
    df = spark.createDataFrame([(1, "Hello, world42!")], ["id", "text"])
    row = df.select(T.bpe_ish_tokens("text").alias("t")).first()
    assert row.t == ["hello", ",", "world", "42", "!"]


def test_lang_id_markers(spark, docs):
    got = {r.doc_id: r.pred for r in docs.select("doc_id", T.lang_id("text").alias("pred")).collect()}
    assert got[1] == "en"
    assert got[3] == "de"


def test_punct_and_quality_bounds(spark, docs):
    rows = docs.select(T.punct_ratio("text").alias("p"), T.quality_score("text").alias("q")).collect()
    for r in rows:
        assert 0.0 <= r.p <= 1.0
        assert 0.0 <= r.q <= 1.0


def test_exact_dedup_collapses(spark, docs):
    out = exact_dedup(docs).collect()
    by_keeper = {r.keeper: r.n_dups for r in out}
    assert by_keeper[1] == 2  # docs 1 and 5 identical
    assert 5 not in by_keeper


def test_word_shingles_short_doc_empty(spark, docs):
    row = docs.where(F.col("doc_id") == 6).select(word_shingles("text", 3).alias("sh")).first()
    assert row.sh == []


def test_minhash_lsh_finds_near_dup(spark, docs):
    sigs = minhash_signature(docs, k=16, n=3)
    pairs = {(r.a, r.b): r.est_jaccard for r in lsh_candidates(sigs, k=16, bands=8).collect()}
    # identical docs must collide with est_jaccard == 1.0
    assert pairs.get((1, 5)) == 1.0
    # near-dups 1/2 share most shingles; est should be well above 0
    if (1, 2) in pairs:
        assert pairs[(1, 2)] > 0.3


def test_jaccard_exact(spark, docs):
    sigs = minhash_signature(docs, k=16, n=3)
    cands = lsh_candidates(sigs, k=16, bands=8)
    jac = {(r.a, r.b): r.jaccard for r in jaccard_pairs(docs, cands.select("a", "b")).collect()}
    assert jac.get((1, 5)) == 1.0


def test_cosine_topk_self_similarity(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(3)]
    rows.append((10, [1.0, 0.0, 0.0, 0.0]))  # same direction as vec 0
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = cosine_topk(df.where(F.col("vec_id") < 3), df.where(F.col("vec_id") >= 3), k=1)
    got = {r.query_id: (r.cand_id, r.cos) for r in out.collect()}
    assert got[0] == (10, 1.0)
    assert got[1][1] == 0.0


def test_srp_buckets_identical_vectors_collide(spark):
    rows = [(1, [0.5] * 64), (2, [0.5] * 64), (3, [-0.5] * 64)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: r.bucket for r in srp_buckets(df).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    assert len(out[1]) == 16 and set(out[1]) <= {"0", "1"}


def test_banded_srp_pairs_caps_degenerate_buckets(spark):
    """Skew guard: a corpus where EVERY vector lands in the same bucket
    (identical direction) must not pair-expand quadratically — buckets
    over max_bucket are dropped, yielding zero candidate pairs."""
    from etlp_spark.functions.similarity import banded_srp_pairs

    rows = [(i, [0.5] * 64) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    assert banded_srp_pairs(df, max_bucket=10).count() == 0
    # under the cap the same corpus produces all C(5,2) pairs
    small = spark.createDataFrame(rows[:5], ["vec_id", "embedding"])
    assert banded_srp_pairs(small, max_bucket=10).count() == 10


def test_multimodal_feature_plumbing(spark, docs):
    feats = extract_features(attach_fake_media(docs)).collect()
    assert len(feats) == docs.count()
    by_id = {r.media_id: r for r in feats}
    assert by_id[1].digest == by_id[5].digest  # identical payloads
    assert by_id[1].n_bytes == len("the quick brown fox jumps over the lazy dog")
    assert len(by_id[1].feature) == 8
    assert all(-1.0 <= v <= 1.0 for v in by_id[1].feature)
    assert by_id[1].feature == by_id[5].feature  # deterministic kernel


def test_decode_image_stub_for_compressed_formats():
    # formats with no stdlib-feasible decoder remain stubbed
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00\x00\x00\x18ftypmp42", mime="video/mp4")
    # a truncated JPEG now reaches the REAL decoder and fails loudly
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0", mime="image/jpeg")
    # a mime claiming PNG but with a non-PNG payload fails loudly
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG", mime="image/png")


def test_png_roundtrip_all_color_types():
    """Stdlib PNG codec: encode → decode is lossless for 8-bit gray,
    RGB, and RGBA (alpha dropped on decode, pixels intact);
    decode_image routes PNGs to the real decoder."""
    import numpy as np

    from etlp_spark.functions.multimodal import decode_png, encode_png

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (3, 5), (8, 8), (16, 7)]:
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(rgb)), rgb)
        assert np.array_equal(decode_image(encode_png(rgb), "image/png"), rgb)
        gray = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        out = decode_png(encode_png(gray))
        assert np.array_equal(out, np.repeat(gray[:, :, None], 3, axis=2))
        rgba = rng.integers(0, 256, size=(h, w, 4), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(rgba)), rgba[:, :, :3])
    with pytest.raises(ValueError):
        decode_png(b"not a png")


def test_png_decode_all_scanline_filters():
    """The decoder un-filters every PNG filter type (None/Sub/Up/
    Average/Paeth) — verified by hand-building a PNG whose rows each
    use a different filter and comparing to the reference pixels."""
    import struct
    import zlib

    import numpy as np

    from etlp_spark.functions.multimodal import _paeth, _png_chunk, decode_png

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    h, w, ch = px.shape
    stride = w * ch
    flat = px.reshape(h, stride).astype(np.int64)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = flat[y]
        line = np.zeros(stride, dtype=np.int64)
        for x in range(stride):
            a = cur[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ftype == 0:
                line[x] = cur[x]
            elif ftype == 1:
                line[x] = (cur[x] - a) % 256
            elif ftype == 2:
                line[x] = (cur[x] - b) % 256
            elif ftype == 3:
                line[x] = (cur[x] - (a + b) // 2) % 256
            else:
                line[x] = (cur[x] - _paeth(int(a), int(b), int(c))) % 256
        raw.append(ftype)
        raw += bytes(line.astype(np.uint8))
        prev = cur
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        sig
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(payload), px)


def test_png_through_spark_features_and_resize(spark):
    """End-to-end: PNG payloads ride extract_features (real pixel
    math — same features as the identical BMP image) and resize_media
    (decode → resample → re-encode as PNG)."""
    import numpy as np

    from etlp_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_png,
        encode_bmp,
        encode_png,
        extract_features,
        resize_media,
    )

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(6, 6, 3), dtype=np.uint8)
    rows = [
        (1, bytearray(encode_png(px)), "image/png", 6, 6),
        (2, bytearray(encode_bmp(px)), "image/bmp", 6, 6),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r.feature for r in extract_features(media).collect()}
    # identical pixels → identical REAL features, regardless of container
    assert feats[1] == feats[2]
    resized = {r.media_id: r for r in resize_media(media, 3, 3).collect()}
    out = decode_png(bytes(resized[1].payload))
    assert out.shape == (3, 3, 3)
    assert resized[1].width == 3 and resized[1].height == 3


def test_jpeg_roundtrip_within_quantization_error():
    """Stdlib baseline JPEG codec: uniform blocks round-trip exactly
    (DC-only), smooth content stays within quantization error at odd
    (non-multiple-of-8) sizes, 4:2:0 subsampling and restart
    intervals decode identically, grayscale broadcasts to RGB, and
    decode_image routes JPEGs to the real decoder."""
    import numpy as np

    from etlp_spark.functions.multimodal import decode_jpeg, encode_jpeg

    # uniform gray: every AC and the quantized DC are exact
    img = np.full((8, 8), 128, dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(img)), np.full((8, 8, 3), 128, np.uint8)
    )
    # uniform color: DC-only in all three components
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:] = (200, 30, 90)
    assert np.abs(
        decode_jpeg(encode_jpeg(img, quality=90)).astype(int) - img.astype(int)
    ).max() <= 1
    # smooth gradient at an odd size (exercises edge padding)
    h, w = 37, 53
    y, x = np.mgrid[0:h, 0:w]
    img = np.stack(
        [255 * x / w, 255 * y / h, 128 + 64 * np.sin(x / 5)], axis=2
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=95))
    assert out.shape == (h, w, 3)
    assert np.abs(out.astype(int) - img.astype(int)).mean() < 2.0
    assert np.array_equal(decode_image(encode_jpeg(img)), decode_jpeg(encode_jpeg(img)))
    # 4:2:0 (general MCU layout: 4 luma blocks + shared chroma)
    out420 = decode_jpeg(encode_jpeg(img, quality=90, subsampling="420"))
    assert np.abs(out420.astype(int) - img.astype(int)).mean() < 4.0
    # restart markers change the byte stream, not the pixels
    assert np.array_equal(
        decode_jpeg(encode_jpeg(img, quality=85, restart_interval=3)),
        decode_jpeg(encode_jpeg(img, quality=85)),
    )
    # grayscale in → RGB broadcast out
    g = (255 * np.abs(np.sin(np.outer(np.arange(20), np.arange(30)) / 7))).astype(
        np.uint8
    )
    outg = decode_jpeg(encode_jpeg(g, quality=90))
    assert outg.shape == (20, 30, 3)
    assert np.array_equal(outg[:, :, 0], outg[:, :, 1])
    # rejection contract: arithmetic-coded and non-JPEG raise
    # ValueError (progressive/SOF2 is now a supported decode path)
    with pytest.raises(ValueError, match="non-baseline"):
        decode_jpeg(b"\xff\xd8\xff\xc9\x00\x05aaa")
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")


def test_jpeg_known_dc_block():
    """Decoder correctness independent of the encoder: a hand-built
    single-MCU grayscale JPEG whose entropy data encodes one DC-only
    block (diff size 2, bits '10' → EXTEND → +2; quant 16) must
    decode to the analytically-computed flat value 128 + 2·16/8 =
    132."""
    import struct as _struct

    import numpy as np

    from etlp_spark.functions.multimodal import (
        _DC_LUMA_BITS,
        _DC_LUMA_VALS,
        _huff_codes,
        decode_jpeg,
    )

    def marker(tag, body):
        return _struct.pack(">HH", tag, len(body) + 2) + body

    q = bytes([16] * 64)  # flat quant table (zigzag irrelevant)
    dqt = marker(0xFFDB, b"\x00" + q)
    sof = marker(0xFFC0, _struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00")
    dht_dc = marker(
        0xFFC4, b"\x00" + bytes(_DC_LUMA_BITS) + bytes(_DC_LUMA_VALS)
    )
    # a trivial AC table (1 symbol: EOB with code '0') — the block is
    # DC-only so only EOB is ever read
    dht_ac = marker(0xFFC4, b"\x10" + bytes([1] + [0] * 15) + b"\x00")
    sos = marker(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
    # entropy: huff(DC size=2) + '10' (EXTEND(2,2)=+2) + EOB('0'), pad 1s
    codes = _huff_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
    code, ln = codes[2]
    bitstr = format(code, f"0{ln}b") + "10" + "0"
    bitstr += "1" * (-len(bitstr) % 8)
    entropy = int(bitstr, 2).to_bytes(len(bitstr) // 8, "big")
    payload = b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + entropy + b"\xff\xd9"
    out = decode_jpeg(payload)
    # DC coef = 2·16 = 32; IDCT of DC-only: 32/8 = +4 per pixel → 132
    assert np.array_equal(out, np.full((8, 8, 3), 132, dtype=np.uint8))


def test_jpeg_through_spark_features_and_resize(spark):
    """End-to-end: JPEG payloads ride extract_features (real pixel
    math — features close to the lossless PNG of the same image) and
    resize_media (decode → resample → re-encode as JPEG)."""
    import numpy as np

    from etlp_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_jpeg,
        encode_jpeg,
        encode_png,
        extract_features,
        resize_media,
    )

    y, x = np.mgrid[0:16, 0:16]
    px = np.stack([16 * x, 16 * y, 8 * (x + y)], axis=2).astype(np.uint8)
    rows = [
        (1, bytearray(encode_jpeg(px, quality=95)), "image/jpeg", 16, 16),
        (2, bytearray(encode_png(px)), "image/png", 16, 16),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r.feature for r in extract_features(media).collect()}
    # lossy vs lossless of the SAME image: features agree closely
    assert max(abs(a - b) for a, b in zip(feats[1], feats[2])) < 0.05
    resized = {r.media_id: r for r in resize_media(media, 4, 4).collect()}
    out = decode_jpeg(bytes(resized[1].payload))
    assert out.shape == (4, 4, 3)
    assert resized[1].width == 4 and resized[1].height == 4


def test_bmp_roundtrip_and_decode_image():
    """Stdlib BMP codec: encode → decode is lossless, including rows
    needing 4-byte padding (odd widths); decode_image routes BMPs to
    the real decoder."""
    import numpy as np

    from etlp_spark.functions.multimodal import decode_bmp, encode_bmp

    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (2, 3), (5, 7), (8, 8)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = encode_bmp(px)
        assert payload[:2] == b"BM"
        assert np.array_equal(decode_bmp(payload), px)
        assert np.array_equal(decode_image(payload), px)
    with pytest.raises(ValueError):
        decode_bmp(b"BM" + b"\x00" * 10)  # truncated
    with pytest.raises(ValueError):
        decode_bmp(b"not an image")


def test_bmp_real_pixels_through_spark(spark):
    """End-to-end: BMP payloads ride a DataFrame through
    extract_features (real pixel math) and resize_media (real
    nearest-neighbor resample re-encoded as BMP)."""
    import numpy as np

    from etlp_spark.functions.multimodal import (
        decode_bmp,
        encode_bmp,
        extract_features,
        resize_media,
    )

    # 4×4 solid-red and a 4×4 half-red/half-blue image
    red = np.zeros((4, 4, 3), dtype=np.uint8)
    red[:, :, 0] = 255
    half = red.copy()
    half[:, 2:, 0] = 0
    half[:, 2:, 2] = 255
    rows = [
        (1, bytearray(encode_bmp(red)), "image/bmp", 4, 4),
        (2, bytearray(encode_bmp(half)), "image/bmp", 4, 4),
    ]
    from etlp_spark.functions.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    feats = {r.media_id: r.feature for r in extract_features(media).collect()}
    # solid red: R-channel mean 255 → +1.0; G/B → -1.0
    assert feats[1][0] == pytest.approx(1.0)
    assert feats[1][1] == pytest.approx(-1.0)
    # half red/blue: R mean 127.5 → ~0.0, differs from solid red
    assert feats[2][0] == pytest.approx(0.0, abs=1e-6)
    assert feats[1] != feats[2]

    resized = {r.media_id: r for r in resize_media(media, 2, 2).collect()}
    out = decode_bmp(bytes(resized[1].payload))
    assert out.shape == (2, 2, 3)
    assert np.array_equal(out, red[:2, :2])  # solid color survives
    half_out = decode_bmp(bytes(resized[2].payload))
    # nearest-neighbor of half-red/half-blue at 2×2: left col red, right col blue
    assert tuple(half_out[0, 0]) == (255, 0, 0)
    assert tuple(half_out[0, 1]) == (0, 0, 255)
    assert resized[1].width == 2 and resized[1].height == 2


def test_envelope_golden(spark):
    """FIXTURES.md §B5: exact wire-format keys and constants
    (ref src/etlp/utils/core.clj:4-20)."""
    import json

    from etlp_spark.envelope import unwrap, wrap_error, wrap_log, wrap_record
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("payload",)], ["data"])
    row = df.select(
        wrap_record(F.col("data"), timestamp=1234).alias("r"),
        wrap_error(F.col("data"), timestamp=1234).alias("e"),
        wrap_log(F.col("data"), timestamp=1234).alias("l"),
    ).first()
    rec = json.loads(row.r)
    assert list(rec) == ["type", "timestamp", "version", "schema", "source_stream", "data"]
    assert rec == {
        "type": "record",
        "timestamp": 1234,
        "version": "0.1.0",
        "schema": "etlp_raw",
        "source_stream": "etlp-stream",
        "data": "payload",
    }
    assert json.loads(row.e)["type"] == "error"
    assert json.loads(row.l)["type"] == "log"
    back = df.select(unwrap(wrap_record(F.col("data"), timestamp=1234)).alias("u")).first().u
    assert back.data == "payload" and back.type == "record"


def test_ivf_planted_clusters(spark):
    """IVF on planted clusters: train converges to the two cluster
    directions; search probes only the right cell and finds the true
    nearest neighbor."""
    from etlp_spark.functions.similarity import ivf_assign, ivf_search, ivf_train

    rows = []
    for i in range(20):  # cluster A around +e0
        rows.append((i, [1.0 + 0.01 * (i % 5)] + [0.0] * 7))
    for i in range(20, 40):  # cluster B around +e1
        rows.append((i, [0.0, 1.0 + 0.01 * (i % 5)] + [0.0] * 6))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = ivf_train(df, k=2, iters=2)
    assigned = {r.vec_id: r.cell for r in ivf_assign(df, cents).collect()}
    cells_a = {assigned[i] for i in range(20)}
    cells_b = {assigned[i] for i in range(20, 40)}
    assert len(cells_a) == 1 and len(cells_b) == 1 and cells_a != cells_b
    hits = ivf_search(df, cents, query_vec=[1.0] + [0.0] * 7, k=3).collect()
    assert all(h.vec_id < 20 for h in hits)  # only cluster A probed
    assert hits[0].cos == 1.0


def test_upsert_parquet_sink(spark, tmp_path):
    from etlp_spark.connectors.files import UpsertParquetSink

    path = str(tmp_path / "tbl")
    sink = UpsertParquetSink(path, key=("id",))
    r1 = sink.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    assert r1.rows == 2
    r2 = sink.write(spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string"))
    assert r2.rows == 3
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_char_shingles(spark):
    from etlp_spark.functions.text import char_shingles

    df = spark.createDataFrame([(1, "AB  cd"), (2, "ab")], ["id", "text"])
    got = {r.id: r.sh for r in df.select("id", char_shingles("text", 3).alias("sh")).collect()}
    assert got[1] == ["ab ", "b c", " cd"]
    assert got[2] == []  # shorter than one shingle


def test_profile_op(spark):
    from etlp_spark.ops import profile

    df = spark.createDataFrame([(1, "a"), (2, None), (3, "c")], "id long, v string")
    rows = {r.column: r for r in profile(df).collect()}
    assert rows["v"].null_frac == round(1 / 3, 6)
    assert rows["id"].min_s == "1" and rows["id"].max_s == "3"
    assert rows["id"].null_frac == 0.0


def test_winnow_fingerprints_properties(spark):
    from etlp_spark.functions.text import winnow_fingerprints

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "THE  quick   Brown fox jumps over the lazy dog"),  # same after norm
        (3, "a completely different sentence about winnowing"),
        (4, "short"),  # < k+w-1 normalized chars at k=8,w=4 → empty
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r.id: r.fp for r in df.select(
        "id", winnow_fingerprints("text", k=8, w=4).alias("fp")).collect()}
    # normalization-invariant: 1 and 2 fingerprint identically
    assert got[1] == got[2] and len(got[1]) > 0
    # winnowing density: selected ≤ windows, ≥ ceil(windows / w)
    n_grams = len("the quick brown fox jumps over the lazy dog") - 7
    n_windows = n_grams - 3
    assert len(got[1]) <= n_windows
    # sorted distinct output
    assert got[1] == sorted(set(got[1]))
    # different text → different fingerprints (overwhelmingly)
    assert set(got[1]) != set(got[3])
    assert got[4] == []


def test_winnow_kernel_edge_semantics(spark):
    # The r17 Arrow-kernel rewrite must preserve the expression
    # form's edge behavior: NULL text → NULL fingerprints (not []),
    # and non-ASCII code points hash via their full code point (the
    # utf-32 reinterpret == JVM ascii()), matching the left-fold
    # reference arithmetic bit-for-bit.
    from etlp_spark.functions.text import winnow_fingerprints
    from tests.test_skew_and_properties import _py_winnow

    rows = [(1, None), (2, "Parégraph naïve café über winnowing")]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {r.id: r.fp for r in df.select(
        "id", winnow_fingerprints("text", k=8, w=4).alias("fp")).collect()}
    assert got[1] is None
    assert list(got[2]) == _py_winnow(rows[1][1])
    assert len(got[2]) > 0


def test_winnow_shared_substring_guarantee(spark):
    from etlp_spark.functions.text import winnow_fingerprints

    # Two docs sharing a long substring (>= k+w-1 = 11 chars) must
    # share at least one fingerprint — the winnowing guarantee.
    shared = "identical middle segment here"
    df = spark.createDataFrame(
        [(1, "prefix one " + shared), (2, shared + " suffix two")], ["id", "text"]
    )
    got = {r.id: set(r.fp) for r in df.select(
        "id", winnow_fingerprints("text", k=8, w=4).alias("fp")).collect()}
    assert got[1] & got[2]


def test_embedding_neardup_planted(spark):
    import math

    from etlp_spark.functions.similarity import embedding_neardup

    # 20 well-separated random-ish vectors + exact copies of 5 of
    # them: every planted (i, i+1000) pair must be found with cos 1.0;
    # no cross pair (distinct base vectors are near-orthogonal here).
    def vec(i):
        return [math.sin(0.7 * i * (d + 1)) + (1.0 if d == i % 64 else 0.0)
                for d in range(64)]

    rows = [(i, vec(i)) for i in range(20)]
    rows += [(i + 1000, vec(i)) for i in range(0, 20, 4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.a, r.b): r.cos for r in embedding_neardup(
        df, threshold=0.99, bands=2, planes_per_band=8).collect()}
    assert set(got) == {(i, i + 1000) for i in range(0, 20, 4)}
    assert all(c == 1.0 for c in got.values())


def test_connected_components_chain_and_isolates(spark):
    from etlp_spark.functions.dedup import connected_components

    # A 5-node chain (multi-round convergence: the min label must walk
    # the whole diameter), a 2-node island, and two isolates.
    nodes = spark.createDataFrame([(i,) for i in range(9)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (7, 8)], ["a", "b"]
    )
    got = {r.doc_id: r.cluster for r in connected_components(nodes, pairs).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 7, 8: 7}


def test_connected_components_long_chain_pointer_jumping(spark):
    """A 200-hop chain has diameter >> max_iter=20: pure label
    propagation would silently return split (wrong) clusters; the
    pointer-jumping rounds are O(log diameter) so this converges and
    labels the whole chain with its min id."""
    from etlp_spark.functions.dedup import connected_components

    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["a", "b"])
    got = {r.doc_id: r.cluster for r in connected_components(nodes, pairs).collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_frees_rounds_two_back(spark, monkeypatch):
    """With the automatic cyclic GC off, the checkpointed label frame
    from two rounds back AND its JVM handle are dead when the next
    round checkpoints. Refcounting frees the Python DataFrame, but the
    py4j handle sits in a JavaObject/JavaMember cycle, so this holds
    only because the loop breaks that cycle on each finished round's
    frames (``dedup._drop_jvm_handle``)."""
    import gc
    import weakref

    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from etlp_spark.functions.dedup import connected_components

    orig = ClassicDataFrame.localCheckpoint
    refs: list = []
    dead_two_back: list = []

    def tracking(self, *args, **kwargs):
        if len(refs) >= 2:
            dead_two_back.append(all(r() is None for r in refs[-2]))
        out = orig(self, *args, **kwargs)
        refs.append((weakref.ref(out), weakref.ref(out._jdf)))
        return out

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", tracking)
    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["a", "b"])
    gc.collect()
    gc.disable()
    try:
        got = {r.doc_id: r.cluster for r in connected_components(nodes, pairs).collect()}
    finally:
        gc.enable()
    assert got == {i: 0 for i in range(n)}
    # initial labels + >= 3 rounds, so >= 2 two-rounds-back checks
    assert len(dead_two_back) >= 2
    assert all(dead_two_back), dead_two_back


def test_connected_components_raises_on_nonconvergence(spark):
    from etlp_spark.functions.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    pairs = spark.createDataFrame([(i, i + 1) for i in range(7)], ["a", "b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, pairs, max_iter=1)


def test_resize_and_frame_sample_plumbing(spark, docs):
    """Multimodal resize + frame-sample contracts: schema stability,
    deterministic kernels, exact one-to-many fan-out, no dropped
    metadata."""
    from etlp_spark.functions.multimodal import (
        FRAME_SCHEMA,
        MEDIA_SCHEMA,
        attach_fake_media,
        resize_media,
        sample_frames,
    )

    media = attach_fake_media(docs)
    n = media.count()
    resized = resize_media(media, 224, 224)
    assert resized.schema == MEDIA_SCHEMA
    rrows = resized.collect()
    assert len(rrows) == n
    assert all(r.width == 224 and r.height == 224 and len(r.payload) == 16 for r in rrows)

    frames = sample_frames(media, n_frames=3)
    assert frames.schema == FRAME_SCHEMA
    frows = frames.collect()
    assert len(frows) == n * 3
    per_media = {}
    for r in frows:
        per_media.setdefault(r.media_id, set()).add(r.frame_idx)
    assert all(v == {0, 1, 2} for v in per_media.values())
    # deterministic: rerun yields identical frames
    again = {(r.media_id, r.frame_idx): r.frame for r in sample_frames(media, n_frames=3).collect()}
    assert all(again[(r.media_id, r.frame_idx)] == r.frame for r in frows)


def test_wav_roundtrip_and_features():
    """Stdlib WAV codec: encode → decode lossless; audio features are
    real sample math (silence ≠ tone; louder ≠ quieter)."""
    import numpy as np

    from etlp_spark.functions.multimodal import (
        _audio_feature,
        decode_wav,
        encode_wav,
    )

    t = np.arange(1600)
    tone = (np.sin(2 * np.pi * 440 * t / 16000) * 16000).astype(np.int16)
    rate, back = decode_wav(encode_wav(tone, 16000))
    assert rate == 16000 and np.array_equal(back, tone)

    silence = np.zeros(1600, dtype=np.int16)
    f_tone = _audio_feature(16000, tone)
    f_quiet = _audio_feature(16000, (tone * 0.1).astype(np.int16))
    f_silence = _audio_feature(16000, silence)
    assert f_tone[0] > f_quiet[0] > f_silence[0]  # rms ordering
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxNOPE")
    with pytest.raises(ValueError):
        decode_wav(b"not audio")


def test_wav_real_frames_through_spark(spark):
    """End-to-end: WAV payloads ride a DataFrame through
    extract_features (real PCM math) and sample_frames (real segment
    split, each frame a standalone decodable WAV)."""
    import numpy as np

    from etlp_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_wav,
        encode_wav,
        extract_features,
        sample_frames,
    )

    t = np.arange(8000)
    loud = (np.sin(2 * np.pi * 440 * t / 16000) * 20000).astype(np.int16)
    quiet = (np.sin(2 * np.pi * 220 * t / 16000) * 2000).astype(np.int16)
    rows = [
        (1, bytearray(encode_wav(loud)), "audio/wav", 0, 0),
        (2, bytearray(encode_wav(quiet)), "audio/wav", 0, 0),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    feats = {r.media_id: r.feature for r in extract_features(media).collect()}
    assert feats[1][0] > feats[2][0]  # loud tone has higher rms
    assert feats[1] != feats[2]

    frames = sample_frames(media, n_frames=4).collect()
    assert len(frames) == 8
    for r in frames:
        rate, seg = decode_wav(bytes(r.frame))
        assert rate == 16000 and len(seg) == 2000  # 8000/4 per segment
    # segments reassemble to the original stream
    by_media = {}
    for r in sorted(frames, key=lambda r: (r.media_id, r.frame_idx)):
        by_media.setdefault(r.media_id, []).append(decode_wav(bytes(r.frame))[1])
    assert np.array_equal(np.concatenate(by_media[1]), loud)


def test_mp3_metadata_cbr_vbr_and_tags():
    """MP3 frame-header walk: exact frame count / byte accounting /
    integer duration for CBR and VBR MPEG-1 Layer III streams, with
    ID3v2 (syncsafe-sized) and ID3v1 tags skipped and accounted."""
    from etlp_spark.functions.multimodal import encode_mp3_frames, mp3_metadata

    # CBR: 3 frames of 128 kbps @ 44100, padding 0/1/0
    m = mp3_metadata(encode_mp3_frames([(128, 0), (128, 1), (128, 0)]))
    assert m["n_frames"] == 3 and m["sample_rate"] == 44100
    assert m["kbps_min"] == m["kbps_max"] == 128 and m["vbr"] == 0
    # 144000*128//44100 = 417 per frame, +1 for the padded one
    assert m["audio_bytes"] == 417 + 418 + 417
    assert m["duration_ms"] == 3 * 1152 * 1000 // 44100  # 78
    assert m["clean_eof"] is True and m["id3v2_bytes"] == 0 and not m["id3v1"]

    # VBR with both tags
    p = encode_mp3_frames(
        [(112, 0), (192, 1), (160, 0)],
        sample_rate=32000,
        id3v2_payload=b"\x00" * 32,
        id3v1=True,
    )
    m = mp3_metadata(p)
    assert (m["kbps_min"], m["kbps_max"], m["vbr"]) == (112, 192, 1)
    assert m["id3v2_bytes"] == 42 and m["id3v1"] is True
    assert m["sample_rate"] == 32000 and m["clean_eof"] is True
    assert m["audio_bytes"] == (
        144000 * 112 // 32000 + (144000 * 192 // 32000 + 1) + 144000 * 160 // 32000
    )
    # tag bytes never count as audio
    assert m["audio_bytes"] + 42 + 128 == len(p)


def test_mp3_metadata_layers_versions_and_errors():
    """Layer I/II frame-size formulas, an MPEG-2 Layer III header
    (576 samples/frame, the 72000 coefficient), truncation tolerance,
    and the loud failure modes (garbage, mid-stream rate change,
    free-format bitrate)."""
    import pytest as _pt

    from etlp_spark.functions.multimodal import encode_mp3_frames, mp3_metadata

    # Layer I: (12000*kbps//sr + pad) * 4 bytes, 384 samples/frame
    m = mp3_metadata(encode_mp3_frames([(256, 1)], 48000, layer=1))
    assert m["audio_bytes"] == (12000 * 256 // 48000 + 1) * 4
    assert m["duration_ms"] == 384 * 1000 // 48000
    # Layer II: 144000 coefficient, 1152 samples
    m = mp3_metadata(encode_mp3_frames([(384, 0)], 48000, layer=2))
    assert m["audio_bytes"] == 144000 * 384 // 48000
    assert m["duration_ms"] == 1152 * 1000 // 48000

    # hand-built MPEG-2 Layer III frame: 64 kbps @ 22050
    fb = 72000 * 64 // 22050
    hdr = bytes([0xFF, 0xF3, 0x80, 0xC0])
    m = mp3_metadata(hdr + b"\xaa" * (fb - 4))
    assert m["sample_rate"] == 22050 and m["audio_bytes"] == fb
    assert m["duration_ms"] == 576 * 1000 // 22050

    # truncated final frame: counted frames stay exact, clean_eof off
    full = encode_mp3_frames([(128, 0), (128, 0)])
    m = mp3_metadata(full[:-10])
    assert m["n_frames"] == 1 and m["clean_eof"] is False
    assert m["audio_bytes"] == 417

    with _pt.raises(ValueError, match="no valid MPEG"):
        mp3_metadata(b"this is not audio at all")
    with _pt.raises(ValueError, match="inconsistent"):
        mp3_metadata(
            encode_mp3_frames([(128, 0)], 44100)
            + encode_mp3_frames([(128, 0)], 32000)
        )
    # free-format bitrate (index 0) is indistinguishable from junk
    # without full decode — loud, not guessed
    free = bytes([0xFF, 0xFB, 0x00, 0xC0]) + b"\xaa" * 413
    with _pt.raises(ValueError, match="no valid MPEG"):
        mp3_metadata(free)


def test_mp3_metadata_through_spark(spark):
    """extract_mp3_metadata: Arrow-batched header walk over a binary
    column, one row per payload, values equal the local walker."""
    from etlp_spark.functions.multimodal import (
        encode_mp3_frames,
        extract_mp3_metadata,
        mp3_metadata,
    )

    payloads = {
        1: encode_mp3_frames([(128, 0)] * 4),
        2: encode_mp3_frames([(112, 1), (320, 0)], 48000, id3v1=True),
        3: encode_mp3_frames([(40, 0)], 32000, id3v2_payload=b"x" * 7),
    }
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads.items()],
        "media_id int, payload binary",
    )
    got = {r.media_id: r for r in extract_mp3_metadata(df).collect()}
    assert len(got) == 3
    for i, p in payloads.items():
        want = mp3_metadata(p)
        r = got[i]
        assert (
            r.n_frames, r.sample_rate, r.kbps_min, r.kbps_max,
            r.vbr, r.audio_bytes, r.duration_ms,
        ) == (
            want["n_frames"], want["sample_rate"], want["kbps_min"],
            want["kbps_max"], want["vbr"], want["audio_bytes"],
            want["duration_ms"],
        ), i


def test_mp3_xing_vbri_headers():
    """Xing/Info/VBRI header parse (r11 verdict item 5): header
    frame/byte counts surface beside the walked values, the metadata
    frame stays out of bitrate stats and duration, hdr_consistent
    audits header-vs-walk, and a HEAD-TRUNCATED payload takes its
    duration from the header (the only source a head-only crawl
    has)."""
    import struct

    from etlp_spark.functions.multimodal import encode_mp3_frames, mp3_metadata

    frames = [(112, 0), (128, 1), (160, 0), (192, 1)]
    p = encode_mp3_frames(frames, 44100, xing={})
    m = mp3_metadata(p)
    assert m["hdr_tag"] == "Xing"
    assert m["n_frames"] == 5  # structural count includes the Xing frame
    assert m["hdr_frames"] == 4 and m["hdr_bytes"] == m["audio_bytes"]
    assert m["hdr_consistent"] == 1
    # metadata frame (64 kbps) excluded from bitrate stats + duration
    assert (m["kbps_min"], m["kbps_max"], m["vbr"]) == (112, 192, 1)
    assert m["duration_ms"] == 4 * 1152 * 1000 // 44100
    assert m["duration_source"] == "walk"

    # head truncation: only the Xing frame + 2 bytes survive
    t = mp3_metadata(p[: 144000 * 64 // 44100 + 2])
    assert t["n_frames"] == 1 and t["clean_eof"] is False
    assert t["duration_source"] == "header"
    assert t["duration_ms"] == 4 * 1152 * 1000 // 44100  # from hdr_frames
    assert t["hdr_consistent"] is None  # walk cannot confirm

    # Info tag: the CBR marker — stream must stay vbr=0
    m2 = mp3_metadata(encode_mp3_frames([(128, 0)] * 3, 48000,
                                        xing={"tag": "Info"}))
    assert m2["hdr_tag"] == "Info" and m2["vbr"] == 0
    assert m2["kbps_min"] == m2["kbps_max"] == 128

    # deliberately wrong header values -> hdr_consistent == 0, and a
    # LYING frame count on a COMPLETE file (hdr_bytes agrees with the
    # walk — no boundary-cut signature) must NOT hijack the duration:
    # the walk stays the source (round-13 ADVICE fix)
    lie = mp3_metadata(
        encode_mp3_frames([(128, 0)] * 3, 48000, xing={"frames": 99})
    )
    assert lie["hdr_consistent"] == 0
    assert lie["duration_source"] == "walk"
    assert lie["duration_ms"] == 3 * 1152 * 1000 // 48000
    assert mp3_metadata(
        encode_mp3_frames([(128, 0)] * 3, 48000, xing={"bytes": 7})
    )["hdr_consistent"] == 0

    # VBRI (Fraunhofer layout, fixed offset 32 after the 4-byte
    # header): hand-built first frame, deliberately wrong byte count
    fb = 144000 * 64 // 44100
    hdr = bytes([0xFF, 0xE0 | (3 << 3) | (1 << 1) | 1, (5 << 4), 0xC0])
    body = bytearray(b"\x00" * 32)
    body += b"VBRI" + struct.pack(">HHH", 1, 0, 0)
    body += struct.pack(">I", 12345) + struct.pack(">I", 7)
    body += b"\x00" * (fb - 4 - len(body))
    m3 = mp3_metadata(bytes(hdr) + bytes(body)
                      + encode_mp3_frames([(128, 0)] * 7))
    assert m3["hdr_tag"] == "VBRI"
    assert (m3["hdr_frames"], m3["hdr_bytes"]) == (7, 12345)
    assert m3["hdr_consistent"] == 0  # byte count is wrong on purpose

    # streams without a VBR header keep the legacy outputs exactly
    m4 = mp3_metadata(encode_mp3_frames([(128, 0), (128, 1)]))
    assert m4["hdr_tag"] is None and m4["hdr_frames"] is None
    assert m4["duration_source"] == "walk"
    assert m4["duration_ms"] == 2 * 1152 * 1000 // 44100


def test_mp3_vbr_probe_bounded_to_frame():
    """The Xing/VBRI tag probes must never read past the first
    frame's end (round-13 ADVICE fix): an MPEG-2 8 kbps @ 24 kHz
    Layer III frame is only 24 bytes — the VBRI offset (36) lands in
    the NEXT frame, and a chance 'VBRI' match there used to
    misclassify a real audio frame as metadata, silently dropping
    its samples from duration_ms."""
    from etlp_spark.functions.multimodal import mp3_metadata

    # MPEG2 (version_bits=2) Layer III, 8 kbps, 24 kHz, stereo:
    # frame_bytes = 72000*8//24000 = 24, spf = 576
    hdr = bytes([0xFF, 0xF3, 0x14, 0x00])
    f1 = hdr + b"\x00" * 20
    body2 = bytearray(b"\x00" * 20)
    body2[8:12] = b"VBRI"  # stream offset 36 — the old unbounded probe hit this
    f2 = hdr + bytes(body2)
    m = mp3_metadata(f1 + f2)
    assert m["hdr_tag"] is None
    assert m["n_frames"] == 2
    assert m["duration_source"] == "walk"
    assert m["duration_ms"] == 2 * 576 * 1000 // 24000
    assert m["kbps_min"] == m["kbps_max"] == 8


def test_mp3_xing_walk_property():
    """Property (hypothesis over frame lists / rates / truncation):
    a truthful generator Xing frame always audits consistent, the
    walked duration always excludes the metadata frame, and the
    header-derived duration of a head-truncated payload EQUALS the
    full walk's — the whole point of trusting the header."""
    from hypothesis import given, settings, strategies as st

    from etlp_spark.functions.multimodal import (
        _MP3_BITRATES,
        encode_mp3_frames,
        mp3_metadata,
    )

    kbps_l3 = st.sampled_from(_MP3_BITRATES[(1, 3)])

    @settings(max_examples=40, deadline=None)
    @given(
        frames=st.lists(
            st.tuples(kbps_l3, st.integers(0, 1)), min_size=1, max_size=12
        ),
        sr=st.sampled_from((44100, 48000, 32000)),
        xing_kbps=st.sampled_from((64, 96, 128)),
        head_extra=st.integers(0, 3),
        tag=st.sampled_from(("Xing", "Info", "VBRI")),
    )
    def check(frames, sr, xing_kbps, head_extra, tag):
        p = encode_mp3_frames(frames, sr, xing={"kbps": xing_kbps,
                                                "tag": tag})
        m = mp3_metadata(p)
        assert m["hdr_tag"] == tag and m["hdr_consistent"] == 1
        assert m["hdr_frames"] == len(frames) == m["n_frames"] - 1
        assert m["hdr_bytes"] == m["audio_bytes"] == len(p)
        music_kbps = [k for k, _ in frames]
        assert m["kbps_min"] == min(music_kbps)
        assert m["kbps_max"] == max(music_kbps)
        assert m["vbr"] == int(len(set(music_kbps)) > 1)
        full_duration = len(frames) * 1152 * 1000 // sr
        assert m["duration_ms"] == full_duration
        assert m["duration_source"] == "walk"
        # head-truncated: header duration == full-walk duration.
        # head_extra == 0 cuts EXACTLY at the frame boundary — the
        # walk looks clean, and only the header's frame count
        # exposes the truncation (hdr_consistent 0, not None).
        t = mp3_metadata(p[: 144000 * xing_kbps // sr + head_extra])
        assert t["duration_source"] == "header"
        assert t["duration_ms"] == full_duration
        if head_extra == 0:
            assert t["clean_eof"] is True and t["hdr_consistent"] == 0
        else:
            assert t["clean_eof"] is False and t["hdr_consistent"] is None

    check()


def _extractor_cases():
    """(extractor, kwargs, good payload, one format-specific field
    check, the strict error text) per per-payload extractor."""
    from etlp_spark.functions import multimodal as M
    from etlp_spark.functions import warc as W

    return {
        "mp3": (
            M.extract_mp3_metadata, {"vbr_audit": True},
            M.encode_mp3_frames([(128, 0)] * 2, xing={}),
            {"hdr_tag": "Xing", "n_frames": 3, "hdr_frames": 2,
             "duration_source": "walk"},
            "no valid MPEG audio frame found",
        ),
        "id3": (
            M.extract_id3_tags, {},
            M.encode_id3v2(
                {"TIT2": "Söng", "TPE1": "Bänd", "TYER": "2001",
                 "TRCK": "4"},
                version=3, enc=1,
            ),
            {"title": "Söng", "artist": "Bänd", "year": 2001,
             "track_no": 4},
            "no ID3v1 or ID3v2 tag found",
        ),
        "mp4": (
            M.extract_mp4_metadata, {},
            M.encode_mp4_boxes(
                timescale=1000, duration=2500,
                tracks=[{"handler": "vide", "codec": "avc1",
                         "width": 320, "height": 240}],
                mdat_payload=b"z" * 5,
            ),
            {"duration_ms": 2500, "video_codec": "avc1", "width": 320,
             "clean": 1},
            "no ftyp/moov box found (not an ISO-BMFF payload)",
        ),
        "exif": (
            M.extract_exif_metadata, {},
            M.encode_exif(
                byte_order="II", orientation=3, make="M", model="X",
                datetime_original="2020:06:01 10:00:00",
            ),
            {"orientation": 3, "make": "M", "byte_order": "II",
             "clean": 1},
            "not a JPEG payload (no SOI marker)",
        ),
        "webp": (
            M.extract_webp_metadata, {},
            M.encode_webp(fmt="vp8", width=33, height=21),
            {"format": "vp8", "width": 33, "height": 21},
            "not a RIFF/WebP payload",
        ),
        "png_text": (
            M.extract_png_text_metadata, {},
            M.encode_png_text(
                width=5, height=7, texts=(("Title", "Hi", "tEXt"),)
            ),
            {"title": "Hi", "width": 5, "n_text_chunks": 1},
            "not a PNG payload (no signature)",
        ),
        "audio_container": (
            M.extract_audio_container_metadata, {},
            M.encode_flac(sample_rate=22050, total_samples=44100),
            {"format": "flac", "duration_us": 2000000},
            "not a FLAC or Ogg payload",
        ),
        "warc": (
            W.extract_warc_records, {},
            W.encode_warc([{
                "warc_type": "conversion", "target_uri": "https://e.org/a",
                "content_type": "text/plain", "body": "hello",
            }]),
            {"rec_index": 0, "warc_type": "conversion", "text": "hello"},
            "not a WARC payload (no version line)",
        ),
    }


@pytest.mark.parametrize("fmt", list(_extractor_cases()))
def test_extractor_strict_and_id_passthrough_through_spark(spark, fmt):
    """Every per-payload extractor keeps a 64-bit id's name, Spark
    type and value end to end; under strict=False a garbage payload
    and a NULL payload each become one NULL-metadata row carrying
    ``parse_error`` instead of killing the stage; strict=True fails
    fast on the garbage. The same holds for payloads an ``attach``
    producer makes in the same pass, one row per payload; an error
    in ``attach`` itself fails the stage under strict=False too."""
    extract, kw, good, fields, err = _extractor_cases()[fmt]
    big = 2**40 + 7  # would silently wrap in int32
    df = spark.createDataFrame(
        [
            (big, bytearray(good)),
            (2, bytearray(b"garbage, not " + fmt.encode())),
            (3, None),
        ],
        "blob_id bigint, payload binary",
    )
    out = extract(df, id_col="blob_id", strict=False, **kw)
    assert dict(out.dtypes)["blob_id"] == "bigint"
    got = {r.blob_id: r.asDict() for r in out.collect()}
    assert set(got) == {big, 2, 3}  # 64-bit id survives exactly
    ok, bad, null = got[big], got[2], got[3]
    assert ok["parse_error"] is None
    assert {k: ok[k] for k in fields} == fields
    assert bad["parse_error"] == err
    assert null["parse_error"] == "null payload"
    for row in (bad, null):
        assert all(row[k] is None for k in fields)

    with pytest.raises(Exception, match=re.escape(err)):
        extract(
            df.where(F.col("payload").isNotNull()),
            id_col="blob_id", strict=True, **kw,
        ).collect()

    # ``attach`` produces the payloads from the id in the same pass:
    # several payloads per row, each parsed under the row's id; a NULL
    # one is contained like a NULL input; an attach error is NOT
    # contained, even under strict=False.
    keys = spark.createDataFrame([(big,), (5,)], "blob_id bigint")
    produced = {big: [good, good], 5: [None]}
    out = extract(
        keys, id_col="blob_id", payload_col="blob_id", strict=False,
        attach=lambda k: produced[int(k)], **kw,
    )
    assert dict(out.dtypes)["blob_id"] == "bigint"
    rows = [r.asDict() for r in out.collect()]
    assert sorted(r["blob_id"] for r in rows) == [5, big, big]
    for r in rows:
        if r["blob_id"] == big:
            assert r["parse_error"] is None
            assert {k: r[k] for k in fields} == fields
        else:
            assert r["parse_error"] == "null payload"
            assert all(r[k] is None for k in fields)

    def broken(k):
        raise ValueError(f"attach failed on {k}")

    with pytest.raises(Exception, match="attach failed on"):
        extract(
            keys, id_col="blob_id", payload_col="blob_id", strict=False,
            attach=broken, **kw,
        ).collect()


def test_mp4_metadata_roundtrip_and_truncation():
    """ISO-BMFF walker (r12 verdict item 4): duration/track/codec/
    dimension metadata parse without codec decode, the v1 64-bit and
    largesize forms normalize to the same values, a head-truncated
    payload keeps every metadata column (moov-first layout) with the
    DECLARED mdat size and clean==0, and garbage raises the
    deterministic containment error."""
    import pytest as _pt

    from etlp_spark.functions.multimodal import encode_mp4_boxes, mp4_metadata

    p = encode_mp4_boxes(
        major_brand="isom", timescale=1000, duration=12345,
        tracks=[
            {"handler": "vide", "codec": "avc1", "width": 640, "height": 360},
            {"handler": "soun", "codec": "mp4a", "timescale": 48000},
        ],
        mdat_payload=b"\xaa" * 999,
    )
    m = mp4_metadata(p)
    assert m == {
        "major_brand": "isom", "timescale": 1000, "duration_ms": 12345,
        "n_tracks": 2, "n_video": 1, "n_audio": 1,
        "video_codec": "avc1", "width": 640, "height": 360,
        "audio_codec": "mp4a", "mdat_bytes": 999, "clean": 1,
    }

    # version-1 (64-bit duration fields) + largesize box headers:
    # identical values through the other layout
    p1 = encode_mp4_boxes(
        major_brand="mp42", timescale=90000, duration=90000 * 7 + 33,
        tracks=[{"handler": "soun", "codec": "mp4a"}],
        mdat_payload=b"x" * 10, version=1, use64=True,
    )
    m1 = mp4_metadata(p1)
    assert m1["timescale"] == 90000
    assert m1["duration_ms"] == (90000 * 7 + 33) * 1000 // 90000
    assert m1["major_brand"] == "mp42" and m1["mdat_bytes"] == 10
    assert (m1["n_video"], m1["n_audio"]) == (0, 1)
    assert m1["video_codec"] is None and m1["width"] is None

    # head truncation into the mdat body: metadata intact, declared
    # mdat size survives, clean flips
    t = mp4_metadata(p[: len(p) - 500])
    assert t["clean"] == 0 and t["mdat_bytes"] == 999
    assert t["duration_ms"] == 12345 and t["video_codec"] == "avc1"

    # cut INSIDE the mdat header: the box vanishes from accounting
    # but the walk still flags the stream dirty
    hdr_cut = mp4_metadata(p[: len(p) - 999 - 4])
    assert hdr_cut["clean"] == 0 and hdr_cut["mdat_bytes"] == 0

    with _pt.raises(ValueError, match="not an ISO-BMFF payload"):
        mp4_metadata(b"not-an-mp4-payload-0")
    with _pt.raises(ValueError, match="corrupt ISO-BMFF box"):
        # size 3 < its own 8-byte header
        mp4_metadata((3).to_bytes(4, "big") + b"ftypisom")


def test_mp4_walk_property():
    """Property (hypothesis over timescales / durations / track
    mixes / layout versions): mp4_metadata exactly inverts
    encode_mp4_boxes — duration_ms is the integer spec arithmetic,
    track counts split by handler, the first video track wins the
    codec/dims columns, and v0/v1 + 32/64-bit box sizes are
    indistinguishable in the output."""
    from hypothesis import given, settings, strategies as st

    from etlp_spark.functions.multimodal import encode_mp4_boxes, mp4_metadata

    track = st.fixed_dictionaries(
        {
            "handler": st.sampled_from(("vide", "soun")),
            "codec": st.sampled_from(("avc1", "hev1", "mp4a", "ac-3")),
            "width": st.integers(0, 4096),
            "height": st.integers(0, 4096),
        }
    )

    @settings(max_examples=40, deadline=None)
    @given(
        ts=st.sampled_from((600, 1000, 48000, 90000)),
        dur=st.integers(0, 2**31 - 1),
        tracks=st.lists(track, min_size=0, max_size=5),
        version=st.integers(0, 1),
        use64=st.booleans(),
        nbytes=st.integers(0, 64),
    )
    def check(ts, dur, tracks, version, use64, nbytes):
        p = encode_mp4_boxes(
            timescale=ts, duration=dur, tracks=tracks,
            mdat_payload=b"\xee" * nbytes, version=version, use64=use64,
        )
        m = mp4_metadata(p)
        assert m["timescale"] == ts
        assert m["duration_ms"] == dur * 1000 // ts
        assert m["n_tracks"] == len(tracks)
        vids = [t for t in tracks if t["handler"] == "vide"]
        auds = [t for t in tracks if t["handler"] == "soun"]
        assert m["n_video"] == len(vids) and m["n_audio"] == len(auds)
        if vids:
            assert m["video_codec"] == vids[0]["codec"]
            assert m["width"] == vids[0]["width"]
            assert m["height"] == vids[0]["height"]
        else:
            assert m["video_codec"] is None and m["width"] is None
        assert m["audio_codec"] == (auds[0]["codec"] if auds else None)
        assert m["mdat_bytes"] == nbytes and m["clean"] == 1

    check()


def test_id3_walk_property():
    """Property (hypothesis over field values / encodings / tag
    versions / unsynchronisation / padding / extra binary frames):
    id3_tags exactly inverts encode_id3v2 — text survives all four
    encoding bytes, v2.3 BE32 vs v2.4 syncsafe frame sizes are
    indistinguishable in the output, whole-tag (v2.3) and per-frame
    (v2.4) unsync round-trip (UTF-16 BOMs force real $FF bytes), and
    non-text frames are counted but not read."""
    from hypothesis import given, settings, strategies as st

    from etlp_spark.functions.multimodal import encode_id3v2, id3_tags

    # printable-ish text with non-ASCII and $FF-prone chars, no NULs
    text = st.text(
        alphabet=st.characters(
            codec="utf-8", min_codepoint=0x20, max_codepoint=0x2FA1D,
            exclude_characters="\x00",
        ),
        min_size=1, max_size=24,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        title=text,
        artist=text,
        year=st.integers(1000, 9999),
        track=st.integers(1, 99),
        suffix=st.booleans(),
        version=st.sampled_from((3, 4)),
        enc=st.sampled_from((0, 1, 2, 3)),
        unsync=st.booleans(),
        padding=st.integers(0, 128),
        priv=st.binary(min_size=0, max_size=40),
        with_priv=st.booleans(),
    )
    def check(title, artist, year, track, suffix, version, enc,
              unsync, padding, priv, with_priv):
        if enc == 0:
            try:
                (title + artist).encode("latin-1")
            except UnicodeEncodeError:
                return  # latin-1 can't carry this draw; skip
        fields = {
            "TIT2": title,
            "TPE1": artist,
            ("TDRC" if version == 4 else "TYER"): str(year),
            "TRCK": f"{track}/12" if suffix else str(track),
        }
        tag = encode_id3v2(
            fields, version=version, enc=enc, unsync=unsync,
            padding=padding,
            extra_frames=(("PRIV", priv),) if with_priv else (),
        )
        m = id3_tags(tag + b"\xffaudio-bytes-after-tag")
        assert m["source"] == f"id3v2.{version}"
        assert m["title"] == title and m["artist"] == artist
        assert m["album"] is None
        assert m["year"] == year and m["track_no"] == track
        assert m["n_frames"] == 4 + int(with_priv)
        assert m["padding_bytes"] == padding
        assert m["tag_bytes"] == len(tag) and m["clean"] == 1

    check()


def test_id3_v1_fallback_and_truncation():
    """The non-v2 paths: a trailing ID3v1.1 block is the fallback
    source (fixed-width latin-1 fields, track in the comment tail);
    a v2 tag cut inside a frame keeps the already-parsed frames with
    clean=0; a payload with neither tag raises."""
    import pytest as _pt

    from etlp_spark.functions.multimodal import (
        encode_id3v1,
        encode_id3v2,
        encode_mp3_frames,
        id3_tags,
    )

    audio = encode_mp3_frames([(128, 0)])
    m = id3_tags(audio + encode_id3v1("Tï", "A", "B", 1984, track=7))
    assert (m["source"], m["title"], m["artist"], m["album"]) == (
        "id3v1", "Tï", "A", "B",
    )
    assert m["year"] == 1984 and m["track_no"] == 7
    assert m["n_frames"] is None and m["padding_bytes"] is None
    assert m["tag_bytes"] == 128 and m["clean"] == 1

    # v2 wins over a v1 trailer on the same payload
    tag = encode_id3v2({"TIT2": "V2"}, version=3)
    m = id3_tags(tag + audio + encode_id3v1("V1"))
    assert m["source"] == "id3v2.3" and m["title"] == "V2"

    # head truncation inside frame 2: frame 1 survives, clean=0
    tag = encode_id3v2({"TIT2": "Keep", "TALB": "Lost-" + "x" * 40})
    m = id3_tags(tag[:-30])
    assert m["title"] == "Keep" and m["album"] is None
    assert m["n_frames"] == 1 and m["clean"] == 0

    with _pt.raises(ValueError, match="no ID3v1 or ID3v2 tag"):
        id3_tags(b"not-audio-at-all")


def test_bmp_wav_roundtrip_property():
    """Property: encode→decode is the identity for ANY pixel array /
    sample stream (hypothesis over shapes and values)."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from etlp_spark.functions.multimodal import (
        decode_bmp,
        decode_wav,
        encode_bmp,
        encode_wav,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 12),
        w=st.integers(1, 12),
        seed=st.integers(0, 2**31 - 1),
    )
    def bmp_prop(h, w, seed):
        px = np.random.default_rng(seed).integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(px)), px)

    @settings(max_examples=25, deadline=None)
    @given(
        n=st.integers(0, 500),
        rate=st.sampled_from([8000, 16000, 44100]),
        seed=st.integers(0, 2**31 - 1),
    )
    def wav_prop(n, rate, seed):
        s = np.random.default_rng(seed).integers(-32768, 32768, size=n).astype(np.int16)
        r, back = decode_wav(encode_wav(s, rate))
        assert r == rate and np.array_equal(back, s)

    bmp_prop()
    wav_prop()


def test_mp3_metadata_property_inverts_generator():
    """Property: for ANY frame spec (layer, rates, per-frame bitrate/
    padding, optional tags), mp3_metadata exactly inverts
    encode_mp3_frames — counts, byte accounting, duration, tag sizes
    (hypothesis over the full MPEG-1 table space)."""
    from hypothesis import given, settings, strategies as st

    from etlp_spark.functions.multimodal import (
        _MP3_BITRATES,
        encode_mp3_frames,
        mp3_metadata,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        layer=st.sampled_from([1, 2, 3]),
        rate=st.sampled_from([44100, 48000, 32000]),
        data=st.data(),
        id3v2_len=st.one_of(st.none(), st.integers(0, 200)),
        id3v1=st.booleans(),
    )
    def prop(layer, rate, data, id3v2_len, id3v1):
        table = _MP3_BITRATES[(1, layer)]
        frames = data.draw(
            st.lists(
                st.tuples(st.sampled_from(table), st.integers(0, 1)),
                min_size=1,
                max_size=8,
            )
        )
        tag = None if id3v2_len is None else bytes(id3v2_len)
        payload = encode_mp3_frames(
            frames, rate, layer=layer, id3v2_payload=tag, id3v1=id3v1
        )
        m = mp3_metadata(payload)
        coef = 12000 if layer == 1 else 144000
        unit = 4 if layer == 1 else 1
        want_bytes = sum((coef * k // rate + p) * unit for k, p in frames)
        spf = 384 if layer == 1 else 1152
        assert m["n_frames"] == len(frames)
        assert m["sample_rate"] == rate
        assert m["kbps_min"] == min(k for k, _ in frames)
        assert m["kbps_max"] == max(k for k, _ in frames)
        assert m["vbr"] == int(m["kbps_min"] != m["kbps_max"])
        assert m["audio_bytes"] == want_bytes
        assert m["duration_ms"] == len(frames) * spf * 1000 // rate
        assert m["id3v2_bytes"] == (0 if tag is None else 10 + len(tag))
        assert m["id3v1"] is id3v1
        assert m["clean_eof"] is True
        assert m["audio_bytes"] + m["id3v2_bytes"] + (128 if id3v1 else 0) == len(
            payload
        )

    prop()


def test_simhash_hamming_pairs_api(spark, docs):
    """The promoted dedup API: identical docs collide at hd=0; the
    bucket cap bounds fan-out (cap 1 → no pairs)."""
    from etlp_spark.functions.dedup import simhash_hamming_pairs

    pairs = {(r.a, r.b): r.hd for r in simhash_hamming_pairs(docs).collect()}
    assert pairs.get((1, 5)) == 0  # exact dups, identical signature
    assert all(hd <= 3 for hd in pairs.values())
    assert simhash_hamming_pairs(docs, max_bucket=1).count() == 0


def test_chunk_documents_overlap_and_short_doc(spark):
    # 80 tokens -> starts 1, 25, 49 (last start <= 80-31=49): 3 chunks
    long_text = " ".join(f"w{i}" for i in range(80))
    df = spark.createDataFrame(
        [(1, long_text), (2, "only five tokens right here"), (3, "   ")],
        ["doc_id", "text"],
    )
    out = T.chunk_documents(df, size=32, stride=24).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 3 is whitespace-only -> no tokens -> no chunks
    assert 3 not in by_doc
    # short doc -> exactly one (short) chunk starting at 1
    [short] = by_doc[2]
    assert (short.chunk_idx, short.start_tok, short.chunk_len) == (1, 1, 5)
    chunks = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [(c.start_tok, c.chunk_len) for c in chunks] == [(1, 32), (25, 32), (49, 32)]
    # consecutive chunks overlap by size - stride = 8 tokens
    assert chunks[0].start_tok + 32 - chunks[1].start_tok == 8
    # same content -> same hash (chunk 1 of doc 1 repeated elsewhere would join)
    assert len({c.chunk_hash for c in chunks}) == 3


def test_chunk_documents_exact_multiple_no_empty_tail(spark):
    # n = 56 = 32 + 24 exactly: starts 1, 25 and the last chunk is full
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(56)))], ["doc_id", "text"]
    )
    out = sorted(
        T.chunk_documents(df, size=32, stride=24).collect(),
        key=lambda r: r.chunk_idx,
    )
    assert [(c.start_tok, c.chunk_len) for c in out] == [(1, 32), (25, 32)]


def test_lang_margin_and_scores(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is happy to see the sun"),  # clearly en
            (2, "xyzzy plugh"),  # no markers anywhere -> all scores 0
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            T.lang_scores("text").alias("scores"),
            T.lang_margin("text").alias("margin"),
            T.lang_id("text").alias("pred"),
        ).collect()
    }
    assert rows[1].pred == "en" and rows[1].margin > 0
    assert sum(rows[1].scores) == max(rows[1].scores)  # only en markers hit
    assert rows[2].margin == 0 and all(s == 0 for s in rows[2].scores)


def test_hard_negatives_excludes_same_label(spark):
    from etlp_spark.functions.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0], 7),   # query, label 7
        (10, [1.0, 0.01], 7),  # nearest overall but SAME label -> excluded
        (11, [1.0, 0.1], 3),   # nearest different-label
        (12, [0.0, 1.0], 3),   # orthogonal
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = hard_negatives(
        df.where(F.col("vec_id") == 0), df.where(F.col("vec_id") > 0), k=2
    ).collect()
    got = [(r.cand_id, r.rnk) for r in sorted(out, key=lambda r: r.rnk)]
    assert got == [(11, 1), (12, 2)]
    assert all(r.neg_label != 7 for r in out)


def test_empty_input_edge_cases(spark):
    """Degenerate inputs must produce empty (not crashing, not null-
    polluted) results through the scale operators."""
    from etlp_spark.functions.dedup import connected_components, lsh_candidates, minhash_signature

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    # chunking an empty frame
    assert T.chunk_documents(empty_docs).count() == 0
    # minhash/LSH over an empty corpus
    sigs = minhash_signature(empty_docs, k=8, n=3)
    assert sigs.count() == 0
    assert lsh_candidates(sigs, k=8).count() == 0
    # connected components with nodes but ZERO pairs: every node is
    # its own cluster
    nodes = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    no_pairs = spark.createDataFrame([], "a long, b long")
    labels = {(r.doc_id, r.cluster) for r in connected_components(nodes, no_pairs).collect()}
    assert labels == {(1, 1), (2, 2)}


def test_hard_negatives_empty_when_all_labels_match(spark):
    from etlp_spark.functions.similarity import hard_negatives

    rows = [(0, [1.0, 0.0], 1), (1, [0.9, 0.1], 1), (2, [0.8, 0.2], 1)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = hard_negatives(df.where(F.col("vec_id") == 0), df.where(F.col("vec_id") > 0), k=3)
    assert out.count() == 0


def test_png_codec_error_contracts():
    """Truncated IHDR is ValueError (the documented fallback signal,
    not struct.error); non-uint8 input to encode_png is rejected
    rather than silently emitting multi-byte samples."""
    import struct as _struct

    import numpy as np

    from etlp_spark.functions.multimodal import _png_chunk, encode_png

    sig = b"\x89PNG\r\n\x1a\n"
    short_ihdr = _png_chunk(b"IHDR", _struct.pack(">II", 4, 4))  # 8 of 13 bytes
    with pytest.raises(ValueError, match="truncated PNG IHDR"):
        decode_image(sig + short_ihdr, "image/png")
    with pytest.raises(ValueError, match="uint8"):
        encode_png(np.array([[1, 2], [3, 4]], dtype=np.int64))


def test_jpeg_error_contracts_and_fill_bytes():
    """ADVICE r6 hardening: truncated entropy data raises ValueError
    (the documented fallback signal, never IndexError); spec-legal
    0xFF fill bytes before a marker (ITU-T T.81 B.1.1.2) are skipped
    rather than misparsed as a marker + bogus length; a baseline JPEG
    whose SOS covers fewer components than the frame (non-interleaved
    multi-scan layout) is rejected loudly instead of decoding scan 1
    over the wrong MCU grid."""
    import struct as _struct

    import numpy as np

    from etlp_spark.functions.multimodal import decode_jpeg, encode_jpeg

    y, x = np.mgrid[0:24, 0:24]
    img = np.stack([x * 10, y * 10, x + y], axis=2).astype(np.uint8)
    payload = encode_jpeg(img, quality=90)

    # truncate the entropy segment hard: keep 2 entropy bytes, drop EOI
    sos_at = payload.index(b"\xff\xda")
    (seg_len,) = _struct.unpack_from(">H", payload, sos_at + 2)
    entropy_at = sos_at + 2 + seg_len
    with pytest.raises(ValueError, match="truncated entropy"):
        decode_jpeg(payload[: entropy_at + 2])

    # 0xFF fill bytes before every pre-SOS marker decode identically
    base = decode_jpeg(payload)
    padded = bytearray(payload[:2])
    pos = 2
    while pos < entropy_at:
        (ln,) = _struct.unpack_from(">H", payload, pos + 2)
        padded += b"\xff\xff" + payload[pos : pos + 2 + ln]
        pos += 2 + ln
    padded += payload[entropy_at:]
    assert np.array_equal(decode_jpeg(bytes(padded)), base)

    # SOS listing 1 of 3 frame components -> loud rejection
    def marker(tag, body):
        return _struct.pack(">HH", tag, len(body) + 2) + body

    sof3 = marker(
        0xFFC0,
        _struct.pack(">BHHB", 8, 8, 8, 3)
        + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01",
    )
    sos1 = marker(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
    with pytest.raises(ValueError, match="non-interleaved"):
        decode_jpeg(b"\xff\xd8" + sof3 + sos1 + b"\xff\xd9")


def test_bloom_filter_no_false_negatives_and_fp_bound(spark):
    """Library Bloom kernel (functions/dedup.py): every inserted key
    MUST hit (no false negatives — deterministic Bloom property), and
    the empirical false-positive rate over disjoint probe keys stays
    within 3x the analytic bound (1 - e^(-k*n/m))^k for the chosen
    m/k (generous slack: one 500-probe sample)."""
    import math as _math

    from etlp_spark.functions.dedup import bloom_filter_frame, bloom_hits

    m, k, n = 1024, 3, 200
    ref = spark.range(n).select(
        F.concat(F.lit("member-"), F.col("id")).alias("key")
    )
    bits = bloom_filter_frame(ref, "key", m=m, k=k)
    n_bits = bits.count()
    assert n_bits <= min(m, n * k)

    # every member hits
    self_hits = bloom_hits(ref, bits, "key", keys=("key",), m=m, k=k)
    assert self_hits.where(~F.col("bloom_hit")).count() == 0

    # disjoint probes: empirical FP rate within 3x analytic
    probes = spark.range(500).select(
        F.concat(F.lit("outsider-"), F.col("id")).alias("key")
    )
    fp = (
        bloom_hits(probes, bits, "key", keys=("key",), m=m, k=k)
        .where(F.col("bloom_hit"))
        .count()
    )
    analytic = (1 - _math.exp(-k * n / m)) ** k
    assert fp / 500 <= 3 * analytic
    assert fp > 0  # at n/m=0.2, k=3 the FP rate is ~10%: some must fire


def test_dsir_scores_identity_and_direction(spark):
    """Library DSIR kernel (functions/text.py): when the target slice
    IS the whole corpus, p_tgt == p_src bucket-for-bucket so every
    document scores exactly 0 (integer-exact, no float drift); with a
    real target slice, documents made of target-only bigrams score
    strictly higher than documents of never-in-target bigrams
    (relative ordering is what importance RESAMPLING consumes; the
    absolute level shifts with the add-one smoothing mass at tiny
    corpus sizes, so it is not asserted)."""
    from etlp_spark.functions.text import dsir_scores

    rows = [
        (1, "en", "good clean prose " * 10),
        (2, "en", "good clean prose " * 10),
        (3, "xx", "zz qq zz qq zz qq " * 10),
        (4, "xx", "zz qq zz qq zz qq " * 10),
        (5, "xx", "good clean prose " * 10),  # target-looking, off-slice
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    zero = dsir_scores(df, "text", F.lit(True), keys=("doc_id",))
    assert [r.score_e6 for r in zero.collect()] == [0] * 5

    scored = {
        r.doc_id: r.score_e6
        for r in dsir_scores(
            df, "text", F.col("lang") == "en", keys=("doc_id",)
        ).collect()
    }
    assert scored[5] == scored[1]  # same content -> identical score
    assert scored[1] > scored[3]


def test_jpeg_progressive_roundtrip_matches_baseline():
    """Progressive JPEG (SOF2) decode — VERDICT r6 #4: the encoder
    emits the full wild-JPEG scan structure (interleaved DC scan +
    per-component spectral AC bands 1-5/6-63, everything first at
    Al=1 then refined Ah=1->Al=0, with cross-block EOB runs and
    buffered correction bits), and the decoder must reconstruct
    EXACTLY the pixels the baseline codec produces for the same image
    and quality — the coefficient state after all scans equals the
    sequential coefficients, so any difference is a scan-algorithm
    bug, not quantization."""
    import numpy as np

    from etlp_spark.functions.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    h, w = 37, 53
    y, x = np.mgrid[0:h, 0:w]
    smooth = np.stack(
        [255 * x / w, 255 * y / h, 128 + 64 * np.sin(x / 5)], axis=2
    ).astype(np.uint8)
    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, (64, 48, 3), dtype=np.uint8)  # dense coefs
    sparse = np.full((128, 128), 200, dtype=np.uint8)  # long EOB runs
    sparse[::16, ::16] = 0
    checker = (np.indices((16, 16)).sum(axis=0) % 2 * 255).astype(np.uint8)
    gray = (255 * np.abs(
        np.sin(np.outer(np.arange(20), np.arange(30)) / 7)
    )).astype(np.uint8)

    cases = [
        (smooth, 85, "444"), (smooth, 95, "420"),
        (noise, 95, "444"), (sparse, 60, "444"),
        (checker, 90, "444"), (gray, 90, "444"),
    ]
    for img, q, sub in cases:
        base = decode_jpeg(encode_jpeg(img, quality=q, subsampling=sub))
        prog_payload = encode_jpeg_progressive(img, quality=q, subsampling=sub)
        assert prog_payload[:2] == b"\xff\xd8"
        assert b"\xff\xc2" in prog_payload  # SOF2, really progressive
        assert np.array_equal(decode_jpeg(prog_payload), base)

    # decode_image dispatches progressive payloads by magic too
    p = encode_jpeg_progressive(smooth, quality=85)
    assert np.array_equal(decode_image(p), decode_jpeg(p))


def test_jpeg_progressive_error_contracts():
    """Progressive streams obey the same ValueError fallback contract
    as baseline: truncated entropy data in a later scan, an AC scan
    listing multiple components, and refinement symbols with size > 1
    all raise ValueError — never IndexError or a wrong image."""
    import numpy as np

    from etlp_spark.functions.multimodal import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    payload = encode_jpeg_progressive(img, quality=90)
    # cut mid-way through the scan sequence (drop EOI + last scans)
    with pytest.raises(ValueError):
        decode_jpeg(payload[: int(len(payload) * 0.6)])
    # progressive AC scan with ns=2 is spec-illegal
    import struct as _struct

    def marker(tag, body):
        return _struct.pack(">HH", tag, len(body) + 2) + body

    sof2 = marker(
        0xFFC2,
        _struct.pack(">BHHB", 8, 8, 8, 2) + b"\x01\x11\x00\x02\x11\x00",
    )
    bad_sos = marker(0xFFDA, b"\x02\x01\x00\x02\x00\x01\x3f\x01")
    with pytest.raises(ValueError, match="single-component"):
        decode_jpeg(b"\xff\xd8" + sof2 + bad_sos + b"\xff\xd9")
    # exhaustive truncation fuzz: EVERY prefix of both codec outputs
    # must raise ValueError (the fallback contract) — never IndexError
    from etlp_spark.functions.multimodal import encode_jpeg

    img16 = np.arange(256, dtype=np.uint8).reshape(16, 16)
    for full in (encode_jpeg_progressive(img16, quality=90),
                 encode_jpeg(img16, quality=90)):
        for cut in range(2, len(full)):
            try:
                decode_jpeg(full[:cut])
            except ValueError:
                pass


def test_pq_adc_agrees_with_exact_on_coarse_structure(spark):
    """ADC sanity beyond the oracle: on vectors quantized EXACTLY
    onto codewords (zero reconstruction error), ADC distance equals
    exact L2^2, so the ADC top-1 is the true nearest neighbor; and
    ADC of a query to its own coded vector is ~0."""
    from etlp_spark.functions.similarity import pq_adc_topk, pq_codes

    books = [
        [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [3.0, 4.0]],
        [[0.0, 0.0], [2.0, 0.0], [0.0, 2.0], [1.0, 1.0]],
    ]
    # candidates ON codewords: (book0 idx, book1 idx) per vector
    vecs = [
        (10, [0.0, 0.0, 0.0, 0.0]),
        (11, [1.0, 0.0, 2.0, 0.0]),
        (12, [3.0, 4.0, 1.0, 1.0]),
    ]
    cands = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    coded = pq_codes(cands, books)
    errs = {r.vec_id: r.recon_err for r in coded.collect()}
    assert all(e == 0.0 for e in errs.values())

    queries = spark.createDataFrame(
        [(0, [0.9, 0.1, 1.9, 0.1])], ["vec_id", "embedding"]
    )
    out = pq_adc_topk(queries, coded, books, k=3).collect()
    assert [r.cand_id for r in out] == [11, 10, 12]  # true L2 order
    # exact-L2 equality for zero-recon candidates: adc == true L2^2
    def l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))
    q = [0.9, 0.1, 1.9, 0.1]
    by_id = {r.cand_id: r.adc for r in out}
    for vid, v in vecs:
        assert abs(by_id[vid] - l2(q, v)) < 1e-12


def test_codec_truncation_fuzz_png_bmp_wav():
    """Exhaustive truncation fuzz extended to the other stdlib codecs
    (JPEG has its own above): every byte prefix of PNG, BMP, and WAV
    payloads raises ValueError — a truncated deflate stream must not
    escape as zlib.error nor a short fmt chunk as struct.error."""
    import numpy as np

    from etlp_spark.functions.multimodal import (
        decode_bmp,
        decode_png,
        decode_wav,
        encode_bmp,
        encode_png,
        encode_wav,
    )

    img = np.arange(192, dtype=np.uint8).reshape(8, 8, 3)
    for enc, dec in ((encode_png, decode_png), (encode_bmp, decode_bmp)):
        full = enc(img)
        for cut in range(0, len(full)):
            try:
                dec(full[:cut])
            except ValueError:
                pass
    wav = encode_wav(np.arange(100, dtype=np.int16))
    for cut in range(0, len(wav)):
        try:
            decode_wav(wav[:cut])
        except ValueError:
            pass


def test_repeated_char_ngrams_planted(spark):
    """Library kernel for the memorization audit: a verbatim span
    shared by two documents is flagged in both; a unique document has
    zero memorized grams; sub-n documents are excluded."""
    from etlp_spark.functions.dedup import repeated_char_ngrams

    # aperiodic: no 20-gram occurs twice WITHIN the span, so the
    # cross-doc match count is exactly the span's window count
    shared = "abcdefghij klmnopqrst uvwxyz0123 456789+-*/ end"
    rows = [
        (1, "AAA" + shared + "AAAA"),   # no space at the boundary:
        (2, "BBBBB" + shared + "BB"),   # every cross gram is in-span
        (3, "entirely unique content with no overlap whatsoever here ok"),
        (4, "short"),  # < n chars: excluded
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: (r.n_grams, r.n_mem)
           for r in repeated_char_ngrams(df, "text", "doc_id",
                                         n=20, stride=1).collect()}
    assert set(out) == {1, 2, 3}
    assert out[3][1] == 0
    assert out[1][1] > 0 and out[2][1] > 0
    # every memorized gram of doc 1 is a substring of the shared span
    # (the AAA padding differs): counts match the shared-window count
    assert out[1][1] == out[2][1] == len(shared) - 19


def test_rrf_fuse_properties(spark):
    """RRF fusion: a doc ranked by BOTH retrievers outscores a doc
    ranked #1 by only one (k=60 damping); absent ranks contribute 0;
    values are the exact integer sum of e6-floored terms."""
    from etlp_spark.functions.similarity import rrf_fuse

    a = spark.createDataFrame([(10, 1), (11, 2)], ["doc_id", "rnk"])
    b = spark.createDataFrame([(11, 1), (12, 1)], ["doc_id", "rnk"])
    got = {r.doc_id: r.rrf_e6 for r in rrf_fuse([a, b]).collect()}
    import math
    t = lambda r: math.floor(1_000_000 / (60 + r))
    assert got == {10: t(1), 11: t(2) + t(1), 12: t(1)}
    assert got[11] > got[10] >= got[12]
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])


def test_dsir_scores_empty_target_raises(spark):
    """ADVICE r7: an is_target predicate matching ZERO rows must fail
    loudly — sum() over the empty target slice is NULL, which would
    otherwise flow through log/floor into silently all-NULL scores
    for every document (a mis-specified target slice looks exactly
    like a successful run)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from etlp_spark.functions.text import dsir_scores

    df = spark.createDataFrame(
        [(1, "some text here"), (2, "more text here")],
        "doc_id long, text string",
    )
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match="is_target matched zero rows"
    ):
        dsir_scores(df, "text", F.lit(False), keys=("doc_id",)).collect()


def test_hll_registers_cross_engine_and_python_twin(spark):
    """Explicit HLL (functions/sketches.py): Spark-computed registers
    are BIT-IDENTICAL to the Python twin's (same md5 bit fields), the
    e6 estimate agrees exactly between hll_estimate and
    py_hll_estimate, partial register tables merge by element-wise
    max, and both accuracy branches hold their analytic bounds
    (raw harmonic for 20k values; linear counting for 100)."""
    from etlp_spark.functions.sketches import (
        hll_estimate,
        hll_registers,
        py_hll_estimate,
        py_hll_update,
    )

    vals = [f"value-{i}" for i in range(20000)]
    df = spark.createDataFrame([(v,) for v in vals], "t string")
    regs_df = hll_registers(df, "t")
    spark_regs = {r.bucket: r.reg for r in regs_df.collect()}
    py_regs: dict[int, int] = {}
    py_hll_update(vals, py_regs)
    assert spark_regs == py_regs  # bit-identical registers

    est = hll_estimate(regs_df).collect()[0].est_e6
    assert est == py_hll_estimate(py_regs)  # identical float path
    # raw-branch accuracy: p=8 has RSE ~1.04/sqrt(256) = 6.5%; 3 sigma
    assert abs(est / 1e6 - 20000) / 20000 < 0.195

    # linear-counting branch (small range): near-exact
    small = [f"s{i}" for i in range(100)]
    sdf = spark.createDataFrame([(v,) for v in small], "t string")
    sest = hll_estimate(hll_registers(sdf, "t")).collect()[0].est_e6
    sregs: dict[int, int] = {}
    py_hll_update(small, sregs)
    assert sest == py_hll_estimate(sregs)
    assert abs(sest / 1e6 - 100) / 100 < 0.05

    # mergeability: registers(A ∪ B) == elementwise-max(reg(A), reg(B))
    a, b = vals[:12000], vals[12000:]
    ra: dict[int, int] = {}
    rb: dict[int, int] = {}
    py_hll_update(a, ra)
    py_hll_update(b, rb)
    merged = {k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)}
    assert merged == py_regs


def test_gif_roundtrip_and_spec_fixture():
    """GIF89a codec (stdlib LZW): exact-palette round-trips for
    sequential AND interlaced streams; a 200x300 image crosses the
    12-bit dictionary cap so the clear-code reset path runs; the
    decoder is additionally pinned against a 1x1 HAND-BUILT byte
    stream from the GIF89a spec's packing rules (LSB-first variable
    codes) — decoder correctness independent of the encoder; and
    decode_image dispatches on the GIF8 magic."""
    import numpy as np

    from etlp_spark.functions.multimodal import (
        decode_gif,
        decode_image,
        encode_gif,
    )

    rng = np.random.default_rng(7)
    base = rng.integers(0, 255, (97, 3), dtype=np.uint8)
    px = base[rng.integers(0, 97, (37, 23))]
    for inter in (False, True):
        assert np.array_equal(decode_gif(encode_gif(px, interlaced=inter)), px)
    assert np.array_equal(decode_image(encode_gif(px)), px)

    big = base[rng.integers(0, 97, (200, 300))]
    assert np.array_equal(decode_gif(encode_gif(big)), big)

    hand = bytes(
        [0x47, 0x49, 0x46, 0x38, 0x39, 0x61, 1, 0, 1, 0, 0x80, 0, 0,
         10, 20, 30, 40, 50, 60,
         0x2C, 0, 0, 0, 0, 1, 0, 1, 0, 0x00,
         0x02, 0x02, 0x44, 0x01, 0x00, 0x3B]
    )
    assert decode_gif(hand).tolist() == [[[10, 20, 30]]]

    with pytest.raises(ValueError, match="exact-palette"):
        encode_gif(rng.integers(0, 255, (32, 32, 3), dtype=np.uint8))


def test_avi_mjpeg_video_frame_sampling(spark):
    """MJPEG-in-AVI (stdlib RIFF walker + the JPEG codec): a 6-frame
    AVI round-trips chunk-exactly; sample_frames emits every Nth
    frame as a STANDALONE decodable JPEG (real video sampling, the
    stub's documented upgrade path); extract_features routes
    video/x-msvideo through a real decoded middle frame."""
    import numpy as np

    from etlp_spark.functions.multimodal import (
        decode_avi_mjpeg,
        decode_jpeg,
        encode_avi_mjpeg,
        extract_features,
        sample_frames,
    )

    frames = []
    for i in range(6):
        f = np.zeros((24, 32, 3), np.uint8)
        f[:, :, 0] = i * 40
        f[4:20, 8:24, 1] = 200
        frames.append(f)
    avi = encode_avi_mjpeg(frames, fps=5)
    js = decode_avi_mjpeg(avi)
    assert len(js) == 6
    # container round-trip is chunk-exact: encoding the same frames
    # again yields the identical file, and every extracted payload is
    # byte-identical to the JPEG the encoder wrote
    assert encode_avi_mjpeg(frames, fps=5) == avi
    from etlp_spark.functions.multimodal import encode_jpeg

    assert js == [encode_jpeg(f) for f in frames]
    # each extracted frame decodes; frame 3's R channel ~= 3*40
    mid = decode_jpeg(js[3])
    assert mid.shape == (24, 32, 3)
    assert abs(float(mid[:, :, 0].mean()) - 120) < 3

    media = spark.createDataFrame(
        [(1, bytearray(avi), "video/x-msvideo", 32, 24)],
        "media_id int, payload binary, mime string, width int, height int",
    )
    out = sample_frames(media, n_frames=3).collect()
    assert [r.frame_idx for r in out] == [0, 1, 2]
    # sampled frames are the 0th, 2nd, 4th JPEGs — standalone payloads
    assert [bytes(r.frame) for r in out] == [js[0], js[2], js[4]]
    feats = extract_features(media).collect()[0]
    assert feats.n_bytes == len(avi) and len(feats.feature) == 8


def test_avi_multistream_takes_only_declared_video_streams():
    """ADVICE r8 (low): decode_avi_mjpeg used to accept ANY chunk
    whose fourcc ends in dc/db, so a multi-stream AVI (audio track,
    second foreign-codec video stream) interleaved foreign chunks
    into the frame list. The decoder now reads the hdrl's strh
    fccTypes and keeps only chunks of streams declared 'vids' — and
    falls back to stream 00 when there is no parseable hdrl."""
    import struct as _s

    import numpy as np

    from etlp_spark.functions.multimodal import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
        encode_jpeg,
    )

    def chunk(four, body):
        return four + _s.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))

    def lst(four, body):
        return chunk(b"LIST", four + body)

    f = np.zeros((8, 8, 3), np.uint8)
    f[:, :, 1] = 130
    jpeg = encode_jpeg(f)
    strh_v = b"vids" + b"MJPG" + b"\x00" * 48
    strh_a = b"auds" + b"\x00" * 52
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", b"\x00" * 56)
        + lst(b"strl", chunk(b"strh", strh_v))
        + lst(b"strl", chunk(b"strh", strh_a)),
    )
    # movi interleaves video (00dc), audio (01wb) and a rogue 01dc
    # chunk claiming the dc suffix on the AUDIO stream id
    movi = lst(
        b"movi",
        chunk(b"00dc", jpeg)
        + chunk(b"01wb", b"\x01\x02\x03\x04")
        + chunk(b"01dc", b"NOT A JPEG")
        + chunk(b"00dc", jpeg),
    )
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + _s.pack("<I", len(body)) + body
    js = decode_avi_mjpeg(avi)
    assert js == [jpeg, jpeg]  # the 01dc/01wb chunks never leak in

    # single-stream files from our own encoder are unchanged
    enc = encode_avi_mjpeg([f, f], fps=5)
    assert decode_avi_mjpeg(enc) == [jpeg, jpeg]

    # no hdrl at all: stream-00 fallback still yields the frames
    movi_only = b"AVI " + movi
    avi2 = b"RIFF" + _s.pack("<I", len(movi_only)) + movi_only
    assert decode_avi_mjpeg(avi2) == [jpeg, jpeg]


def test_ddsketch_pow_floor_exhaustive_cross_engine(spark):
    """The one float hazard in x103: pow(gamma, b) differs by 1 ulp
    between the JVM and libm at some buckets. The e6-FLOORED bucket
    midpoint must be identical for EVERY integer bucket either engine
    can produce (the input set is finite — so verify it exhaustively,
    not statistically, over [-800, 800] which covers doubles from
    ~1e-7 to ~1e7 at alpha=1%)."""
    import duckdb

    from etlp_spark.functions.sketches import dd_gamma

    g = dd_gamma(0.01)
    expr = f"floor(2.0 * pow({g!r}, b) / {g + 1.0!r} * 1000000.0 + 0.5)"
    jvm = {
        r.b: r.e
        for r in spark.sql(
            f"SELECT b, {expr} AS e FROM range(-800, 801) t(b)"
        ).collect()
    }
    du = duckdb.sql(
        f"SELECT b, {expr} AS e FROM range(-800, 801) t(b)"
    ).fetchall()
    assert all(jvm[b] == e for b, e in du)


def test_ddsketch_merge_and_error_bound(spark):
    """DDSketch properties: (1) sketches merge by bucket-wise count
    addition — sketch(A ∪ B) == merge(sketch(A), sketch(B)); (2) every
    quantile estimate is within the alpha relative-error guarantee of
    the true rank statistic on a log-spread distribution."""
    from etlp_spark.functions.sketches import dd_quantiles, dd_sketch

    vals = [1.0005 ** i for i in range(5000)]  # ~e^2.5 dynamic range
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    full = {
        (r.bucket): r.cnt for r in dd_sketch(df, "v").collect()
    }
    a = spark.createDataFrame([(v,) for v in vals[:3000]], "v double")
    b = spark.createDataFrame([(v,) for v in vals[3000:]], "v double")
    merged: dict[int, int] = {}
    for part in (a, b):
        for r in dd_sketch(part, "v").collect():
            merged[r.bucket] = merged.get(r.bucket, 0) + r.cnt
    assert merged == full

    qs = (0.5, 0.95, 0.99)
    est = {r.q: r.est_e6 / 1e6 for r in dd_quantiles(dd_sketch(df, "v"), qs).collect()}
    import math
    sv = sorted(vals)
    for q in qs:
        true = sv[math.floor(q * (len(sv) - 1))]
        assert abs(est[q] - true) / true <= 0.0101, (q, est[q], true)


def test_graph_library_kcore_known_fixture(spark):
    """functions/graph.py on a hand-built graph: a 4-clique with a
    pendant path. kcore(k=3) must keep exactly the clique (every
    clique node has degree 3) and peel the path — including the
    cascade: removing the outer path node drops the inner one below
    k on the NEXT round (rounds=1 is not enough, rounds=2 is)."""
    from etlp_spark.functions.graph import degrees, kcore

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    path = [(3, 4), (4, 5)]  # pendant path off clique node 3
    edges = spark.createDataFrame(clique + path, "a int, b int")
    core2 = kcore(edges, k=3, rounds=2)
    got = {(r.a, r.b) for r in core2.collect()}
    assert got == set(clique)
    assert {(r.v, r.d) for r in degrees(core2).collect()} == {
        (v, 3) for v in range(4)
    }
    # one round is NOT the fixpoint here: node 4 still has degree 2...
    # wait — k=3 peel round 1 removes BOTH 4 and 5 (degrees 2 and 1).
    # The cascade case needs k=2: round 1 removes only 5, round 2
    # finds 4's degree fallen to 1 and removes it.
    one = {(r.a, r.b) for r in kcore(edges, k=2, rounds=1).collect()}
    two = {(r.a, r.b) for r in kcore(edges, k=2, rounds=2).collect()}
    assert (3, 4) in one and (4, 5) not in one
    assert two == set(clique)


def test_graph_kcore_checkpoint_cadence_invariant(spark):
    """checkpoint_every only changes WHERE lineage is truncated,
    never the peeling result: the cascade fixture (k=2 needs the
    round-2 re-peel of node 4) must come out identical at cadence
    1 (per-round, the default), 2 (every other round), and 3 (only
    the final round checkpoints for rounds=3)."""
    from etlp_spark.functions.graph import kcore

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    path = [(3, 4), (4, 5)]
    edges = spark.createDataFrame(clique + path, "a int, b int")
    want = {
        (r.a, r.b)
        for r in kcore(edges, k=2, rounds=3, checkpoint_every=1).collect()
    }
    assert want == set(clique)
    for cadence in (2, 3):
        got = {
            (r.a, r.b)
            for r in kcore(
                edges, k=2, rounds=3, checkpoint_every=cadence
            ).collect()
        }
        assert got == want, cadence


def test_graph_cooccurrence_edges_threshold_and_cap(spark):
    """Edge construction: pairs need >= min_shared distinct buckets;
    buckets over max_bucket are dropped entirely (hub guard)."""
    from etlp_spark.functions.graph import cooccurrence_edges

    rows = []
    # users 1,2 share 3 buckets; users 1,3 share only 2
    for bkt in ("p", "q", "r"):
        rows += [(bkt, 1), (bkt, 2)]
    for bkt in ("p", "q"):
        rows.append((bkt, 3))
    # a hub bucket with 40 members (over the cap) — contributes nothing
    rows += [("hub", u) for u in range(100, 140)]
    df = spark.createDataFrame(rows, "bkt string, u int")
    got = {(r.a, r.b) for r in
           cooccurrence_edges(df, "u", ("bkt",), min_shared=3, max_bucket=32).collect()}
    assert got == {(1, 2)}


def test_stats_cuped_and_srm_known_values(spark):
    """functions/stats.py against hand-computed values: a correlated
    covariate shrinks the adjusted delta toward the true effect, and
    theta equals the closed-form cov/var of the fixture; SRM flags an
    exact 50/50 split as clean and a 90/10 split as mismatched."""
    from etlp_spark.functions.stats import cuped_adjusted_delta, srm_chi2

    # y = x + arm*10; POOLED theta includes the between-arm covariate
    # shift: Sxy=3700, Sx*Sy/n=3000, Sxx=3000, Sx^2/n=2500 ->
    # theta = 700/500 = 1.4 exactly; raw delta 45-15=30; dx 20;
    # adjusted = 30 - 1.4*20 = 2 — the covariate imbalance (20 of the
    # 30 raw delta) is removed, overshooting the true 10 because the
    # fixture's assignment is maximally confounded by design
    units = [(0, 10, 10), (0, 20, 20), (1, 30, 40), (1, 40, 50)]
    df = spark.createDataFrame(units, "arm int, x long, y long")
    r = cuped_adjusted_delta(df).collect()[0]
    assert (r.n_a, r.n_b) == (2, 2)
    assert r.theta_e6 == 1_400_000
    assert r.raw_delta_e6 == 30_000_000
    assert r.adj_delta_e6 == 2_000_000

    clean = spark.createDataFrame([(i % 2,) for i in range(100)], "arm int")
    assert srm_chi2(clean).collect()[0].srm_flag is False
    skew = spark.createDataFrame([(1 if i < 90 else 0,) for i in range(100)], "arm int")
    row = skew.transform(lambda d: srm_chi2(d)).collect()[0]
    assert row.srm_flag is True and row.chi2_e6 == 64_000_000  # (80^2)/100


def test_media_decoder_registry_seam(spark):
    """r8 verdict #8: MP3 (and any foreign codec) plugs in through
    the decoder registries instead of editing the module. Registering
    an 'audio/mpeg' decoder routes extract_features through the REAL
    audio-feature path (identical to the same samples as WAV) and
    sample_frames emits standalone PCM WAV segments; unregistered
    mimes still fall back to the deterministic fake; decode_image
    names the registry in its error."""
    import numpy as np
    import pytest as _pytest

    from etlp_spark.functions import multimodal as mm

    rate = 8000
    t = np.arange(rate) / rate
    samples = (np.sin(2 * np.pi * 440 * t) * 12000).astype(np.int16)
    payload = b"ID3fake-mp3-container" + samples.tobytes()

    def fake_mp3_decode(p):
        assert p[:3] == b"ID3"
        return rate, np.frombuffer(p[21:], dtype=np.int16)

    media = spark.createDataFrame(
        [(1, bytearray(payload), "audio/mpeg", 0, 0)],
        "media_id int, payload binary, mime string, width int, height int",
    )
    # BEFORE registration: deterministic fake (md5-derived)
    fake = mm.extract_features(media).collect()[0].feature

    mm.AUDIO_DECODERS["audio/mpeg"] = fake_mp3_decode
    try:
        got = mm.extract_features(media).collect()[0].feature
        wav_media = spark.createDataFrame(
            [(1, bytearray(mm.encode_wav(samples, rate)), "audio/wav", 0, 0)],
            "media_id int, payload binary, mime string, width int, height int",
        )
        want = mm.extract_features(wav_media).collect()[0].feature
        assert got == want          # real audio path, same samples
        assert got != fake          # and no longer the md5 fake

        frames = mm.sample_frames(media, n_frames=4).collect()
        assert [r.frame_idx for r in frames] == [0, 1, 2, 3]
        # each segment is a standalone decodable WAV over the source
        segs = [mm.decode_wav(bytes(r.frame)) for r in frames]
        assert all(r0 == rate for r0, _ in segs)
        assert np.concatenate([s for _, s in segs]).tolist() == samples.tolist()
    finally:
        del mm.AUDIO_DECODERS["audio/mpeg"]

    # video seam: a fake mp4 "codec" returning encoded frames
    f0 = np.zeros((8, 8, 3), np.uint8); f0[:, :, 2] = 77
    jpeg = mm.encode_jpeg(f0)
    mm.VIDEO_DECODERS["video/mp4"] = lambda p: [jpeg, jpeg, jpeg]
    try:
        vmedia = spark.createDataFrame(
            [(2, bytearray(b"\x00\x00\x00 ftypisom-fake"), "video/mp4", 8, 8)],
            "media_id int, payload binary, mime string, width int, height int",
        )
        vf = mm.sample_frames(vmedia, n_frames=2).collect()
        assert [bytes(r.frame) for r in vf] == [jpeg, jpeg]
        feat = mm.extract_features(vmedia).collect()[0].feature
        # FEATURE_SCHEMA is float32 — compare at that precision
        want_px = np.asarray(
            mm._pixel_feature(mm.decode_jpeg(jpeg), 8), dtype=np.float32
        )
        assert np.array_equal(np.asarray(feat, dtype=np.float32), want_px)
    finally:
        del mm.VIDEO_DECODERS["video/mp4"]

    # unregistered mime in decode_image points at the seam
    with _pytest.raises(NotImplementedError, match="IMAGE_DECODERS"):
        mm.decode_image(b"\x00\x01", "image/webp")


def test_registered_decoder_drives_full_feature_query(spark, sf_dir):
    """Decoder-registry seam END-TO-END (r9 verdict item 6): register
    a third-party-style codec for an unsupported MIME and run the
    full multimodal feature pipeline (the x9 shape: documents table →
    media frame → Arrow-batched extract_features) through it across
    multiple partitions — proving the seam's CONTRACT (registered
    callable is cloudpickle-captured into the mapInPandas kernel and
    routes every row through the real pixel path), not just its
    error. The codec parses a fixture container: b'RAWRGB' + h + w +
    raw RGB24 bytes."""
    import hashlib as _hl

    import numpy as _np

    from etlp_spark.functions import multimodal as mm
    from etlp_spark.io import load_table

    MIME = "image/x-rawrgb"
    H = W = 4

    def build_payload(text: str) -> bytes:
        # 4x4 RGB pixels derived from the doc text — deterministic
        raw = (_hl.md5(text.encode()).digest() * 3)[: H * W * 3]
        return b"RAWRGB" + bytes([H, W]) + raw

    def rawrgb_decode(p: bytes) -> "_np.ndarray":
        assert p[:6] == b"RAWRGB", "third-party codec got a foreign payload"
        h, w = p[6], p[7]
        return _np.frombuffer(p[8:], dtype=_np.uint8).reshape(h, w, 3)

    docs = load_table(spark, sf_dir, "documents").repartition(8)

    def to_media(batches):
        import pandas as _pd

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int32"),
                    "payload": [build_payload(t) for t in pdf["text"]],
                    "mime": MIME,
                    "width": _np.int32(W),
                    "height": _np.int32(H),
                }
            )

    media = docs.mapInPandas(
        to_media,
        "media_id int, payload binary, mime string, width int, height int",
    )

    mm.IMAGE_DECODERS[MIME] = rawrgb_decode
    try:
        rows = mm.extract_features(media).collect()
        texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
        assert len(rows) == len(texts) and len(rows) > 0
        for r in rows:
            payload = build_payload(texts[r.media_id])
            assert r.n_bytes == len(payload)
            assert r.digest == _hl.md5(payload).hexdigest()
            want = _np.asarray(
                mm._pixel_feature(rawrgb_decode(payload), 8), dtype=_np.float32
            )
            got = _np.asarray(r.feature, dtype=_np.float32)
            assert _np.array_equal(got, want), r.media_id
            # and it is NOT the unregistered md5 fake
            fake = _np.asarray(mm._fake_feature(payload, 8), dtype=_np.float32)
            assert not _np.array_equal(got, fake), r.media_id
    finally:
        del mm.IMAGE_DECODERS[MIME]


def _build_animated_gif():
    """Hand-assembled 4-frame GIF89a (4x4 canvas, 4-color global
    table) exercising partial-rect placement, GCE transparency, and
    disposal methods 2 (restore background) and 3 (restore previous)."""
    import struct as _st

    import numpy as _np

    from etlp_spark.functions import multimodal as mm

    out = bytearray()
    out += b"GIF89a"
    out += _st.pack("<HHBBB", 4, 4, 0x80 | (2 - 1), 0, 0)  # GCT, 4 entries
    palette = _np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], _np.uint8
    )
    out += palette.tobytes()

    def gce(disposal, tflag, tidx=0):
        return _st.pack("<BBBBHBB", 0x21, 0xF9, 4,
                        (disposal << 2) | int(tflag), 0, tidx, 0)

    def img(lx, ty, w, h, idx_rows):
        blob = bytearray(_st.pack("<BHHHHB", 0x2C, lx, ty, w, h, 0))
        blob.append(2)  # min code size
        lzw = mm._gif_lzw_encode([i for row in idx_rows for i in row], 2)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            blob.append(len(chunk))
            blob += chunk
        blob.append(0)
        return blob

    out += img(0, 0, 4, 4, [[1] * 4] * 4)                 # f0: all red
    out += gce(3, True, 0)                                 # f1: dispose=prev
    out += img(1, 1, 2, 2, [[2, 0], [0, 2]])               #   green diag, transp 0
    out += gce(2, False)                                   # f2: dispose=bg
    out += img(0, 0, 2, 2, [[3, 3], [3, 3]])               #   blue rect
    out += img(3, 3, 1, 1, [[3]])                          # f3: blue dot
    out += b"\x3b"
    return bytes(out), palette


def test_decode_gif_frames_composition_and_disposal():
    import numpy as _np

    from etlp_spark.functions import multimodal as mm

    payload, pal = _build_animated_gif()
    frames = mm.decode_gif_frames(payload)
    assert len(frames) == 4
    R, G, B, K = pal[1], pal[2], pal[3], pal[0]
    f0 = _np.broadcast_to(R, (4, 4, 3)).copy()
    assert _np.array_equal(frames[0], f0)
    # f1: transparency keeps red under idx-0 pixels of the 2x2 rect
    f1 = f0.copy(); f1[1, 1] = G; f1[2, 2] = G
    assert _np.array_equal(frames[1], f1)
    # f2: disposal 3 restored all-red, then opaque blue rect at (0,0)
    f2 = f0.copy(); f2[0:2, 0:2] = B
    assert _np.array_equal(frames[2], f2)
    # f3: disposal 2 blanked f2's rect to background, then a blue dot
    f3 = f0.copy(); f3[0:2, 0:2] = K; f3[3, 3] = B
    assert _np.array_equal(frames[3], f3)


def test_decode_gif_frames_single_frame_matches_decode_gif():
    import numpy as _np

    from etlp_spark.functions import multimodal as mm

    px = _np.zeros((5, 3, 3), _np.uint8)
    px[:, :, 0] = 200; px[2, 1] = (0, 99, 7)
    payload = mm.encode_gif(px)
    frames = mm.decode_gif_frames(payload)
    assert len(frames) == 1
    assert _np.array_equal(frames[0], mm.decode_gif(payload))


def test_gif_animation_samples_real_frames_via_video_registry(spark):
    """image/gif rides the VIDEO registry in sample_frames (real
    composed animation frames as standalone BMPs) while keeping
    IMAGE semantics in extract_features (first frame)."""
    import numpy as _np

    from etlp_spark.functions import multimodal as mm

    payload, pal = _build_animated_gif()
    media = spark.createDataFrame(
        [(7, bytearray(payload), "image/gif", 4, 4)],
        "media_id int, payload binary, mime string, width int, height int",
    )
    frames = {r.frame_idx: bytes(r.frame)
              for r in mm.sample_frames(media, n_frames=4).collect()}
    want = mm.decode_gif_frames(payload)
    assert len(frames) == 4
    for i in range(4):
        assert _np.array_equal(mm.decode_bmp(frames[i]), want[i]), i
    # feature path: image registry wins -> first-frame pixel feature
    feat = mm.extract_features(media).collect()[0].feature
    want_px = _np.asarray(
        mm._pixel_feature(mm.decode_gif(payload), 8), dtype=_np.float32
    )
    assert _np.array_equal(_np.asarray(feat, dtype=_np.float32), want_px)


def test_exif_walk_deterministic_cases():
    """exif_metadata exactly inverts encode_exif for both byte
    orders, floors GPS micro-degrees with the documented
    sign-after-floor contract, flags head-truncation inside the TIFF
    block (byte order readable, entry table not), treats a JPEG
    without APP1 as a NORMAL no-exif row, and raises the containment
    error only for non-JPEG payloads."""
    import pytest as _pt

    from etlp_spark.functions.multimodal import encode_exif, exif_metadata

    gps = (
        ((12, 1), (34, 1), (5599, 100)), "S",
        ((120, 1), (7, 1), (0, 100)), "E",
    )
    p = encode_exif(
        byte_order="MM", orientation=6, make="Maker-3", model="Model-9",
        datetime_original="2019:06:05 12:07:00", gps=gps,
    )
    m = exif_metadata(p)
    lat_cs = 12 * 360000 + 34 * 6000 + 5599
    lon_cs = 120 * 360000 + 7 * 6000 + 0
    assert m == {
        "byte_order": "MM", "has_exif": 1, "orientation": 6,
        "make": "Maker-3", "model": "Model-9",
        "datetime_original": "2019:06:05 12:07:00",
        "gps_lat_udeg": -(lat_cs * 25 // 9),
        "gps_lon_udeg": lon_cs * 25 // 9,
        "n_ifd0_entries": 6, "clean": 1,
    }

    # little-endian layout, no GPS: 5 IFD0 entries (make, model,
    # orientation, XResolution, Exif pointer)
    m2 = exif_metadata(
        encode_exif(
            byte_order="II", orientation=8, make="a", model="b",
            datetime_original="2010:06:01 12:00:00",
        )
    )
    assert m2["byte_order"] == "II" and m2["orientation"] == 8
    assert m2["n_ifd0_entries"] == 5 and m2["clean"] == 1
    assert m2["gps_lat_udeg"] is None and m2["gps_lon_udeg"] is None

    # head truncation 8 bytes into the TIFF block: the declared APP1
    # length survives but the IFD0 entry count is unreadable
    t = exif_metadata(
        encode_exif(byte_order="II", make="cut", truncate_tiff_at=8)
    )
    assert t["has_exif"] == 1 and t["clean"] == 0
    assert t["byte_order"] == "II" and t["n_ifd0_entries"] is None
    assert t["make"] is None and t["orientation"] is None

    # well-formed JPEG with no Exif APP1: normal row, not an error.
    # APP0 length 16 = the 2-byte length field + 14 JFIF body bytes.
    def jfif(app0_len):
        return (
            b"\xff\xd8\xff\xe0" + app0_len.to_bytes(2, "big")
            + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00\xff\xd9"
        )

    nm = exif_metadata(jfif(16))
    assert nm["has_exif"] == 0 and nm["clean"] == 1
    assert nm["byte_order"] is None
    # a declared length of 18 swallows the EOI: the walk runs off the
    # payload without meeting EOI or SOS, so the row is not clean
    sw = exif_metadata(jfif(18))
    assert sw["has_exif"] == 0 and sw["clean"] == 0

    with _pt.raises(ValueError, match="not a JPEG payload"):
        exif_metadata(b"not-a-jpeg-payload")


def test_exif_walk_property():
    """Property (hypothesis over byte orders / orientations / field
    presence / GPS rationals incl. non-unit denominators):
    exif_metadata exactly inverts encode_exif — strings round-trip,
    the IFD0 entry count is the constructed one, and GPS
    micro-degrees equal the Fraction-exact floor with sign applied
    after."""
    from fractions import Fraction

    from hypothesis import given, settings, strategies as st

    from etlp_spark.functions.multimodal import encode_exif, exif_metadata

    rational = st.tuples(
        st.integers(0, 179), st.sampled_from((1, 2, 100))
    )
    dms = st.tuples(rational, rational, rational)

    @settings(max_examples=40, deadline=None)
    @given(
        bo=st.sampled_from(("II", "MM")),
        orient=st.one_of(st.none(), st.integers(1, 8)),
        make=st.one_of(st.none(), st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=1, max_size=12)),
        dt=st.booleans(),
        lat=dms, lon=dms,
        lat_ref=st.sampled_from(("N", "S")),
        lon_ref=st.sampled_from(("E", "W")),
        with_gps=st.booleans(),
    )
    def check(bo, orient, make, dt, lat, lon, lat_ref, lon_ref, with_gps):
        gps = (lat, lat_ref, lon, lon_ref) if with_gps else None
        dtv = "2015:06:07 08:09:10" if dt else None
        p = encode_exif(
            byte_order=bo, orientation=orient, make=make, model=None,
            datetime_original=dtv, gps=gps,
        )
        m = exif_metadata(p)
        assert m["byte_order"] == bo and m["has_exif"] == 1
        assert m["clean"] == 1
        assert m["orientation"] == orient
        assert m["make"] == make
        assert m["datetime_original"] == dtv
        n = (1 if orient is not None else 0) + (1 if make else 0) + 1 \
            + (1 if dtv else 0) + (1 if with_gps else 0)
        assert m["n_ifd0_entries"] == n
        if with_gps:
            def udeg(d3, sign):
                f = (Fraction(*d3[0]) + Fraction(*d3[1]) / 60
                     + Fraction(*d3[2]) / 3600) * 1_000_000
                return sign * (f.numerator // f.denominator)
            assert m["gps_lat_udeg"] == udeg(lat, -1 if lat_ref == "S" else 1)
            assert m["gps_lon_udeg"] == udeg(lon, -1 if lon_ref == "W" else 1)
        else:
            assert m["gps_lat_udeg"] is None

    check()


def test_webp_walk_deterministic_cases():
    """webp_metadata exactly inverts encode_webp across the three
    container layouts (VP8 sync-code dims, VP8L packed 14-bit dims +
    alpha bit, VP8X 24-bit canvas + flag byte + odd-chunk padding),
    flags head truncation with the DECLARED RIFF size surviving, and
    raises the containment error only for non-WebP payloads."""
    import pytest as _pt

    from etlp_spark.functions.multimodal import encode_webp, webp_metadata

    m = webp_metadata(encode_webp(fmt="vp8", width=640, height=480))
    assert (m["format"], m["width"], m["height"]) == ("vp8", 640, 480)
    assert m["clean"] == 1 and m["n_chunks"] == 1 and m["riff_bytes"] == 42

    # VP8L at the 14-bit dimension limit, alpha bit set
    m = webp_metadata(encode_webp(fmt="vp8l", width=16383, height=1,
                                  alpha=True))
    assert (m["width"], m["height"], m["has_alpha"]) == (16383, 1, 1)

    # VP8X: canvas past the lossy 14-bit limit, odd EXIF chunk pads
    m = webp_metadata(encode_webp(fmt="vp8x", width=100000, height=2,
                                  alpha=True, exif=True, xmp=True))
    assert m["format"] == "vp8x" and m["width"] == 100000
    assert m["has_alpha"] == 1 and m["has_exif_chunk"] == 1
    assert m["has_xmp"] == 1 and m["has_anim"] == 0
    assert m["n_chunks"] == 3 and m["riff_bytes"] == 78 and m["clean"] == 1

    t = webp_metadata(
        encode_webp(fmt="vp8", width=9, height=9,
                    truncate_after_chunk_header=True)
    )
    assert t["clean"] == 0 and t["format"] == "vp8"
    assert t["width"] is None and t["riff_bytes"] == 42

    with _pt.raises(ValueError, match="not a RIFF/WebP"):
        webp_metadata(b"garbage-not-webp")


def test_webp_walk_property():
    """Property (hypothesis over layouts / dimensions / flag
    combinations): webp_metadata exactly inverts encode_webp —
    dimensions round-trip through all three encodings and VP8X flag
    bits map one-to-one."""
    from hypothesis import given, settings, strategies as st

    from etlp_spark.functions.multimodal import encode_webp, webp_metadata

    @settings(max_examples=40, deadline=None)
    @given(
        fmt=st.sampled_from(("vp8", "vp8l", "vp8x")),
        w=st.integers(1, 16383),
        h=st.integers(1, 16383),
        big=st.booleans(),
        alpha=st.booleans(), anim=st.booleans(), icc=st.booleans(),
        exif=st.booleans(), xmp=st.booleans(),
    )
    def check(fmt, w, h, big, alpha, anim, icc, exif, xmp):
        if fmt == "vp8x" and big:
            w, h = w + 16383, h + 16383  # past the 14-bit lossy limit
        p = encode_webp(fmt=fmt, width=w, height=h, alpha=alpha,
                        anim=anim, icc=icc, exif=exif, xmp=xmp)
        m = webp_metadata(p)
        assert m["format"] == fmt and m["clean"] == 1
        assert (m["width"], m["height"]) == (w, h)
        assert m["riff_bytes"] == len(p) - 8
        if fmt == "vp8x":
            assert m["has_alpha"] == int(alpha)
            assert m["has_anim"] == int(anim)
            assert m["has_icc"] == int(icc)
            assert m["has_exif_chunk"] == int(exif)
            assert m["has_xmp"] == int(xmp)
            assert m["n_chunks"] == 2 + int(exif)
        elif fmt == "vp8l":
            assert m["has_alpha"] == int(alpha) and m["n_chunks"] == 1
        else:
            assert m["has_alpha"] == 0 and m["n_chunks"] == 1

    check()


def test_png_text_walk_deterministic_cases():
    """png_text_metadata reads IHDR + all three text chunk forms +
    gAMA, audits CRC32 per chunk WITHOUT hiding a readable field
    behind a flipped bit, survives mid-chunk truncation with IHDR
    intact, and raises the containment error only for non-PNG
    payloads."""
    import pytest as _pt

    from etlp_spark.functions.multimodal import (
        encode_png_text,
        png_text_metadata,
    )

    p = encode_png_text(
        width=320, height=200, color_type=6,
        texts=(("Title", "Tïtle-7", "iTXt"), ("Author", "Auth-3", "zTXt"),
               ("Software", "etlp-1", "tEXt")),
        gamma_scaled=45455,
    )
    m = png_text_metadata(p)
    assert (m["width"], m["height"], m["bit_depth"], m["color_type"]) == \
        (320, 200, 8, 6)
    assert m["title"] == "Tïtle-7" and m["author"] == "Auth-3"
    assert m["software"] == "etlp-1" and m["description"] is None
    assert m["gamma_scaled"] == 45455
    assert m["n_chunks"] == 7 and m["n_text_chunks"] == 3
    assert m["n_crc_bad"] == 0 and m["clean"] == 1

    # iTXt compressed branch: 'Author' has an odd keyword byte-sum
    mc = png_text_metadata(
        encode_png_text(texts=(("Author", "zipped ünïcode", "iTXt"),))
    )
    assert mc["author"] == "zipped ünïcode" and mc["clean"] == 1

    bad = png_text_metadata(
        encode_png_text(texts=(("Title", "x", "tEXt"),), corrupt_crc=True)
    )
    assert bad["n_crc_bad"] == 1 and bad["clean"] == 0
    assert bad["title"] == "x"  # audit separate from extraction

    t = png_text_metadata(
        encode_png_text(width=10, height=9,
                        texts=(("Title", "cutcut", "tEXt"),),
                        truncate_mid_chunk=True)
    )
    assert t["clean"] == 0 and t["width"] == 10 and t["height"] == 9
    assert t["title"] is None and t["n_chunks"] == 2

    with _pt.raises(ValueError, match="not a PNG payload"):
        png_text_metadata(b"nope")


def test_png_text_unknown_compression_method_flips_clean():
    """r14 ADVICE: a zTXt chunk declaring a non-zero compression
    method byte, or an iTXt with comp_flag set and comp_method != 0,
    is just as unreadable as a failed zlib decompression — both must
    flip ``clean`` (count-don't-hide audit posture), not silently
    drop the text with clean=1."""
    import zlib as _zlib

    from etlp_spark.functions.multimodal import (
        encode_png_text,
        png_text_metadata,
    )

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big") + ctype + body
            + (_zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    base = encode_png_text(width=4, height=4)
    iend = chunk(b"IEND", b"")
    assert base.endswith(iend)
    head = base[: len(base) - len(iend)]

    # zTXt with compression method byte 1 (only 0 = zlib is defined)
    zt = chunk(b"zTXt", b"Title\x00\x01" + _zlib.compress(b"x"))
    m = png_text_metadata(head + zt + iend)
    assert m["n_text_chunks"] == 1 and m["title"] is None
    assert m["clean"] == 0 and m["n_crc_bad"] == 0  # CRC fine; method unknown

    # iTXt with comp_flag=1 but comp_method=1 (undefined)
    it = chunk(
        b"iTXt", b"Author\x00\x01\x01" + b"\x00\x00" + _zlib.compress(b"y")
    )
    m2 = png_text_metadata(head + it + iend)
    assert m2["n_text_chunks"] == 1 and m2["author"] is None
    assert m2["clean"] == 0 and m2["n_crc_bad"] == 0

    # the uncompressed iTXt flavor (comp_flag=0) with a weird method
    # byte stays CLEAN — the text is fully readable, method unused
    it0 = chunk(b"iTXt", b"Author\x00\x00\x07" + b"\x00\x00" + b"ok")
    m3 = png_text_metadata(head + it0 + iend)
    assert m3["author"] == "ok" and m3["clean"] == 1


def test_png_text_walk_property():
    """Property (hypothesis over dims / color types / text-form mix /
    gamma presence): png_text_metadata exactly inverts
    encode_png_text — first-occurrence-wins keyword extraction,
    text-chunk and total-chunk counts, CRC audit zero on clean
    streams."""
    from hypothesis import given, settings, strategies as st

    from etlp_spark.functions.multimodal import (
        encode_png_text,
        png_text_metadata,
    )

    form = st.sampled_from(("tEXt", "zTXt", "iTXt"))
    word = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=255,
                               exclude_characters="\x00"),
        min_size=0, max_size=16,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 2**31 - 1), h=st.integers(1, 2**31 - 1),
        ct=st.sampled_from((0, 2, 3, 4, 6)),
        title=st.one_of(st.none(), word), author=st.one_of(st.none(), word),
        sw=st.one_of(st.none(), word),
        tf=form, af=form, sf=form,
        gamma=st.one_of(st.none(), st.integers(0, 100000)),
    )
    def check(w, h, ct, title, author, sw, tf, af, sf, gamma):
        texts = []
        if title is not None:
            texts.append(("Title", title, tf))
        if author is not None:
            texts.append(("Author", author, af))
        if sw is not None:
            texts.append(("Software", sw, sf))
        p = encode_png_text(width=w, height=h, color_type=ct,
                            texts=tuple(texts), gamma_scaled=gamma)
        m = png_text_metadata(p)
        assert (m["width"], m["height"], m["color_type"]) == (w, h, ct)
        assert m["gamma_scaled"] == gamma
        assert m["title"] == title and m["author"] == author
        assert m["software"] == sw
        assert m["n_text_chunks"] == len(texts)
        assert m["n_chunks"] == 3 + (1 if gamma is not None else 0) + len(texts)
        assert m["n_crc_bad"] == 0 and m["clean"] == 1

    check()


def test_id3_compressed_encrypted_frames_counted_not_decoded():
    """r13 ADVICE: a compressed (v2.3 $80 / v2.4 $08) or encrypted
    (v2.3 $40 / v2.4 $04) text frame is COUNTED but its body is never
    decoded as text — the count-and-skip posture binary frames get —
    so a later clean frame of another id still extracts."""
    from etlp_spark.functions.multimodal import id3_tags

    def v23_frame(fid: bytes, body: bytes, fflags: int) -> bytes:
        return fid + len(body).to_bytes(4, "big") + bytes([0, fflags]) + body

    def v24_frame(fid: bytes, body: bytes, fflags: int) -> bytes:
        size = bytes((len(body) >> s) & 0x7F for s in (21, 14, 7, 0))
        return fid + size + bytes([0, fflags]) + body

    def tag(major: int, frames: bytes) -> bytes:
        return (
            b"ID3" + bytes([major, 0, 0])
            + bytes((len(frames) >> s) & 0x7F for s in (21, 14, 7, 0))
            + frames
        )

    # v2.3: compressed TIT2 (would decode as garbage text), clean TPE1
    frames = (
        v23_frame(b"TIT2", b"\x78\x9c\x03\x00\x00\x00\x00\x01", 0x80)
        + v23_frame(b"TPE1", b"\x00Artist-OK", 0)
    )
    m = id3_tags(tag(3, frames))
    assert m["n_frames"] == 2 and m["clean"] == 1
    assert m["title"] is None  # counted, not decoded
    assert m["artist"] == "Artist-OK"

    # v2.3 encrypted flag
    m = id3_tags(tag(3, v23_frame(b"TIT2", b"\x00secret", 0x40)))
    assert m["n_frames"] == 1 and m["title"] is None

    # v2.4: compressed ($08) and encrypted ($04) forms
    frames = (
        v24_frame(b"TIT2", b"\x03zipped", 0x08)
        + v24_frame(b"TALB", b"\x03locked", 0x04)
        + v24_frame(b"TPE1", b"\x03ok", 0)
    )
    m = id3_tags(tag(4, frames))
    assert m["n_frames"] == 3
    assert m["title"] is None and m["album"] is None
    assert m["artist"] == "ok"


def test_normalize_orientation_recovers_upright():
    """normalize_orientation inverts each EXIF storage transform: for
    every orientation value 1-8, storing an upright image under that
    orientation and normalizing recovers the upright pixels exactly —
    so rotated/mirrored duplicates featurize identically once
    normalized (the _pixel_feature caveat's concrete fix). Unknown /
    absent orientations pass through."""
    import numpy as _np

    from etlp_spark.functions.multimodal import normalize_orientation

    upright = _np.arange(24, dtype=_np.uint8).reshape(4, 2, 3)
    store = {
        1: lambda a: a,
        2: lambda a: a[:, ::-1],            # involution
        3: lambda a: a[::-1, ::-1],         # involution
        4: lambda a: a[::-1, :],            # involution
        5: lambda a: _np.rot90(a[:, ::-1], 1),   # transpose, involution
        6: lambda a: _np.rot90(a, 1),       # display rot90CW -> store CCW
        7: lambda a: _np.rot90(a[:, ::-1], -1),  # transverse, involution
        8: lambda a: _np.rot90(a, -1),      # display rot90CCW -> store CW
    }
    for o, f in store.items():
        got = normalize_orientation(f(upright), o)
        assert _np.array_equal(got, upright), f"orientation {o}"
    assert normalize_orientation(upright, None) is upright
    assert normalize_orientation(upright, 0) is upright
    assert normalize_orientation(upright, 9) is upright

    # the dedup consequence: a rotated duplicate's descriptor differs
    # raw and matches after normalization
    from etlp_spark.functions.multimodal import _pixel_feature

    img = _np.zeros((8, 8, 3), dtype=_np.uint8)
    img[:4, :4] = 200  # asymmetric quadrant
    rot = _np.rot90(img, 1)  # stored with orientation 6
    assert _pixel_feature(rot) != _pixel_feature(img)
    assert _pixel_feature(normalize_orientation(rot, 6)) == _pixel_feature(img)


def test_warc_walk_deterministic_cases():
    """warc_records reads version line + named headers +
    Content-Length framing, extracts text/* payloads, walks
    gzip-member-per-record files with stdlib zlib, contains
    truncation / inter-record garbage / missing Content-Length as
    counted damage (clean=0), and raises the containment error only
    for payloads that are not WARC at all."""
    import pytest as _pt

    from etlp_spark.functions.warc import encode_warc, warc_records

    wi = {
        "warc_type": "warcinfo", "record_id": "<urn:rec:0>",
        "warc_date": "2026-01-02T03:04:05Z",
        "content_type": "application/warc-fields",
        "body": "software: etlp-spark\r\n",
    }
    cv = {
        "warc_type": "conversion", "record_id": "<urn:rec:1>",
        "warc_date": "2026-01-02T03:04:05Z",
        "target_uri": "https://example.org/a",
        "content_type": "text/plain; charset=utf-8",
        "body": "page text ünïcode",
    }
    rs = warc_records(encode_warc([wi, cv]))
    assert [r["warc_type"] for r in rs] == ["warcinfo", "conversion"]
    # warc-fields is key:value text — extracted (WAT/warcinfo family)
    assert rs[0]["text"] == "software: etlp-spark\r\n"
    assert rs[0]["n_headers"] == 5 and rs[1]["n_headers"] == 6
    assert rs[1]["text"] == "page text ünïcode"  # charset param handled
    assert rs[1]["target_uri"] == "https://example.org/a"
    assert rs[1]["content_length"] == len("page text ünïcode".encode())
    assert all(r["clean"] == 1 and r["compressed"] == 0 for r in rs)

    # .warc.gz wire layout: one gzip member per record
    gz = encode_warc([wi, cv], gzip_members=True)
    assert gz[:2] == b"\x1f\x8b"
    rg = warc_records(gz)
    assert [r["warc_type"] for r in rg] == ["warcinfo", "conversion"]
    assert all(r["compressed"] == 1 and r["clean"] == 1 for r in rg)
    assert rg[1]["text"] == "page text ünïcode"

    # cut mid-payload: declared length survives, partial text, clean=0
    rt = warc_records(encode_warc([wi, cv], truncate_last_payload_at=4))
    assert rt[1]["clean"] == 0 and rt[1]["text"] == "page"
    assert rt[1]["content_length"] == len("page text ünïcode".encode())
    assert rt[0]["clean"] == 1

    # garbage between/after records: its own counted row, walk ends
    rm = warc_records(encode_warc([wi], trailing_garbage=b"XXXX"))
    assert [r["warc_type"] for r in rm] == ["warcinfo", "garbage"]
    assert rm[1]["clean"] == 0 and rm[1]["rec_index"] == 1

    # WAT metadata records: application/json payloads extract as text
    wat = {
        "warc_type": "metadata", "record_id": "<urn:rec:w>",
        "target_uri": "https://e.org/w",
        "content_type": "application/json",
        "body": '{"Envelope": {"WARC-Header-Length": "257"}}',
    }
    rw = warc_records(encode_warc([wat]))[0]
    assert rw["warc_type"] == "metadata" and rw["clean"] == 1
    assert rw["text"] == '{"Envelope": {"WARC-Header-Length": "257"}}'
    # ...but arbitrary binary application/* types stay opaque
    rz = warc_records(encode_warc([{
        "warc_type": "resource", "content_type": "application/pdf",
        "body": b"%PDF-1.4",
    }]))[0]
    assert rz["text"] is None and rz["clean"] == 1

    # a malformed header line (name containing whitespace — the colon
    # inside the date value must NOT be mistaken for the separator)
    # flips clean but the record and everything AFTER it still parse
    raw = encode_warc([wi, cv])
    bad = raw.replace(b"WARC-Date: ", b"WARC-Date ", 1)
    rb = warc_records(bad)
    assert rb[0]["clean"] == 0 and rb[0]["warc_date"] is None
    assert rb[0]["n_headers"] == 4  # the damaged line is not counted
    assert rb[1]["clean"] == 1 and rb[1]["text"] == "page text ünïcode"

    # spec folding: a continuation line starting with SP extends the
    # previous header's value (clean stays 1, one header)
    folded = raw.replace(
        b"WARC-Target-URI: https://example.org/a\r\n",
        b"WARC-Target-URI: https://example.org\r\n /a\r\n", 1,
    )
    rf = warc_records(folded)
    assert rf[1]["clean"] == 1 and rf[1]["n_headers"] == 6
    assert rf[1]["target_uri"] == "https://example.org /a"

    # missing Content-Length: the rest of the file is unframeable —
    # damaged record, walk stops (never guesses an offset)
    noclen = raw.replace(b"Content-Length: 22\r\n", b"", 1)
    rn = warc_records(noclen)
    assert rn[0]["clean"] == 0 and len(rn) == 1

    with _pt.raises(ValueError, match="not a WARC payload"):
        warc_records(b"HTTP/1.1 200 OK\r\n\r\n")
    with _pt.raises(ValueError, match="no gzip member decompressed"):
        warc_records(b"\x1f\x8b not actually gzip")


def test_warc_http_response_records():
    """Raw WARC response records (application/http payloads — the
    bulk of a Common Crawl drop): status line + Content-Type split
    out, text/* entity bodies extracted (gzip/deflate
    Content-Encoding inflated via stdlib zlib), non-text entities
    stay opaque, and a payload that isn't HTTP at all is counted
    damage (the WARC header already declared msgtype)."""
    from etlp_spark.functions.warc import encode_warc, warc_records

    def resp(http):
        return {
            "warc_type": "response", "record_id": "<r>",
            "warc_date": "2026-01-02T03:04:05Z",
            "target_uri": "https://e.org/p", "http": http,
        }

    r = warc_records(
        encode_warc([resp({"status": 404, "reason": "Not Found",
                           "content_type": "text/html",
                           "body": "<html>gone</html>"})])
    )[0]
    assert r["warc_type"] == "response" and r["clean"] == 1
    assert r["content_type"].startswith("application/http")
    assert r["http_status"] == 404
    assert r["http_content_type"] == "text/html"
    assert r["text"] == "<html>gone</html>"

    # gzip Content-Encoding: entity inflates before text extraction
    rg = warc_records(
        encode_warc([resp({"status": 200, "content_type": "text/plain",
                           "body": "hello gz", "gzip": True})])
    )[0]
    assert rg["http_status"] == 200 and rg["text"] == "hello gz"
    assert rg["clean"] == 1

    # non-text entity: status/ct extracted, body stays opaque
    rb = warc_records(
        encode_warc([resp({"status": 200, "content_type": "image/png",
                           "body": b"\x89PNG..."})])
    )[0]
    assert rb["http_status"] == 200 and rb["text"] is None
    assert rb["http_content_type"] == "image/png" and rb["clean"] == 1

    # declared application/http but the payload isn't HTTP: damage
    rd = warc_records(
        encode_warc([{
            "warc_type": "response",
            "content_type": "application/http; msgtype=response",
            "body": b"not http at all",
        }])
    )[0]
    assert rd["http_status"] is None and rd["clean"] == 0

    # corrupt gzip entity: status survives, the decoded PREFIX is
    # kept (empty here — the corrupt byte is the header) and the
    # damage is counted
    raw = encode_warc([resp({"status": 200, "content_type": "text/plain",
                             "body": "x" * 64, "gzip": True})])
    rc = warc_records(raw.replace(b"\x1f\x8b", b"\x1f\x00", 1))
    # (the flipped byte lives inside the WARC payload, not the member
    # framing — the record still parses, the entity does not)
    assert rc[0]["http_status"] == 200 and rc[0]["text"] == ""
    assert rc[0]["clean"] == 0

    # gzip entity truncated MID-STREAM: the inflated prefix survives
    # with clean=0 (the _gunzip_members discipline, ADVICE-style)
    full = encode_warc([resp({"status": 200, "content_type": "text/plain",
                              "body": "prefix-recoverable " * 300,
                              "gzip": True})])
    cut = full[: len(full) - 30]  # cut inside the deflate stream
    rt2 = warc_records(cut)
    assert rt2[0]["clean"] == 0
    assert rt2[0]["text"] is not None
    # highly-compressible body: the cut leaves only a short inflated
    # head — the contract is SOME prefix, not a specific length
    assert rt2[0]["text"].startswith("prefix")


def test_warc_http_chunked_and_folding():
    """Transfer-Encoding: chunked is dechunked BEFORE Content-Encoding
    inflates (the inverse of how the server built the message); a
    truncated chunked stream keeps the decoded prefix and flips
    clean; RFC-2822 folded HTTP headers extend the previous value
    exactly as the WARC-level parser does (ADVICE r15)."""
    from etlp_spark.functions.warc import (
        _dechunk, encode_warc, warc_records,
    )

    def resp(http):
        return {
            "warc_type": "response", "record_id": "<r>",
            "target_uri": "https://e.org/p", "http": http,
        }

    # plain chunked: multi-chunk framing removed, text exact
    body = "chunked body text " * 9
    r = warc_records(
        encode_warc([resp({"content_type": "text/plain", "body": body,
                           "chunked": True, "chunk_size": 11})])
    )[0]
    assert r["text"] == body and r["clean"] == 1

    # gzip + chunked: dechunk first, THEN inflate
    rg = warc_records(
        encode_warc([resp({"content_type": "text/plain", "body": body,
                           "gzip": True, "chunked": True})])
    )[0]
    assert rg["text"] == body and rg["clean"] == 1

    # truncated mid-chunk: decoded PREFIX survives, clean flips
    rt = warc_records(
        encode_warc([resp({"content_type": "text/plain",
                           "body": "abcdefghij", "chunked": True,
                           "chunk_size": 4,
                           "truncate_chunked_at": 11})])
    )[0]
    assert rt["clean"] == 0 and rt["text"] == "abcd"

    # dechunk kernel edges: bad hex size line, missing data CRLF,
    # chunk extension dropped, trailers ignored after the 0 chunk
    assert _dechunk(b"zz\r\nabc\r\n0\r\n\r\n") == (b"", 0)
    assert _dechunk(b"3\r\nabcX\r\n0\r\n\r\n") == (b"abc", 0)
    assert _dechunk(b"3;ext=v\r\nabc\r\n0\r\nX-T: 1\r\n\r\n") == (b"abc", 1)

    # folded HTTP header: continuation joins the previous value
    folded = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/plain;\r\n charset=utf-8\r\n\r\nhi"
    )
    rf = warc_records(
        encode_warc([{
            "warc_type": "response",
            "content_type": "application/http; msgtype=response",
            "body": folded,
        }])
    )[0]
    assert rf["http_content_type"] == "text/plain; charset=utf-8"
    assert rf["clean"] == 1 and rf["text"] == "hi"

    # unknown transfer coding: bytes unusable, counted not guessed
    ru = warc_records(
        encode_warc([{
            "warc_type": "response",
            "content_type": "application/http; msgtype=response",
            "body": (b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
                     b"Transfer-Encoding: brotli-ish\r\n\r\nxx"),
        }])
    )[0]
    assert ru["clean"] == 0 and ru["text"] is None
    assert ru["http_status"] == 200


def test_warc_charset_decoding():
    """Text payload decoding honors, in priority order: a BOM, the
    charset= parameter of the content type (latin-1/windows-1251
    pages must not read as mojibake), then UTF-8; an UNKNOWN declared
    charset falls back to UTF-8 with clean=0 (the fallback is a
    guess, and guesses are counted)."""
    from etlp_spark.functions.warc import encode_warc, warc_records

    def rec(body, ctype):
        return {"warc_type": "conversion", "record_id": "<r>",
                "content_type": ctype, "body": body}

    # declared latin-1: 0xE9 is é, not U+FFFD mojibake
    r = warc_records(
        encode_warc([rec(b"caf\xe9", "text/plain; charset=latin-1")])
    )[0]
    assert r["text"] == "café" and r["clean"] == 1

    # windows-1251 cyrillic
    r = warc_records(
        encode_warc([rec("мир".encode("cp1251"),
                         'text/plain; charset="windows-1251"')])
    )[0]
    assert r["text"] == "мир" and r["clean"] == 1

    # BOM beats the (wrong) label — in-band truth
    r = warc_records(
        encode_warc([rec(b"\xff\xfe" + "hi".encode("utf-16-le"),
                         "text/plain; charset=latin-1")])
    )[0]
    assert r["text"] == "hi" and r["clean"] == 1

    # unknown charset label: utf-8 fallback, counted as damage
    r = warc_records(
        encode_warc([rec(b"plain", "text/plain; charset=x-bogus-9")])
    )[0]
    assert r["text"] == "plain" and r["clean"] == 0

    # http entity path: charset parameter on the inner Content-Type
    body = (b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=iso-8859-1\r\n\r\n"
            b"<p>\xe9t\xe9</p>")
    r = warc_records(encode_warc([{
        "warc_type": "response",
        "content_type": "application/http; msgtype=response",
        "body": body,
    }]))[0]
    assert r["text"] == "<p>été</p>" and r["clean"] == 1
    assert r["http_content_type"] == "text/html; charset=iso-8859-1"

    # no charset: utf-8 as before
    r = warc_records(encode_warc([rec("déjà", "text/plain")]))[0]
    assert r["text"] == "déjà" and r["clean"] == 1


def test_warc_gzip_truncation_keeps_prefix():
    """A .warc.gz cut mid-download (even inside the FIRST member)
    yields the bytes that decompressed — the walk then reports a
    truncated record with clean=0 — instead of discarding recoverable
    data (ADVICE r15). Only a payload yielding nothing raises."""
    from etlp_spark.functions.warc import _gunzip_members, encode_warc, warc_records

    cv = {
        "warc_type": "conversion", "record_id": "<urn:rec:1>",
        "content_type": "text/plain", "body": "recoverable " * 400,
    }
    full = encode_warc([cv, dict(cv, record_id="<urn:rec:2>")],
                       gzip_members=True)
    first_len = len(encode_warc([cv], gzip_members=True))
    # cut inside the SECOND member's deflate stream: first record
    # intact; the cut member emits no bytes (deflate buffers) so the
    # damage surfaces as a terminal garbage row — counted, not hidden
    cut2 = full[: first_len + 30]
    out, members, gz_clean = _gunzip_members(cut2)
    assert members == 1 and gz_clean == 0
    assert out.startswith(b"WARC/1.0")
    rs = warc_records(cut2)
    assert rs[0]["clean"] == 1 and rs[0]["text"] == cv["body"]
    assert rs[-1]["warc_type"] == "garbage" and rs[-1]["clean"] == 0
    # cut inside the FIRST member: the decompressed prefix still
    # surfaces (members=0 but bytes recovered — no ValueError)
    cut1 = full[: first_len - 20]
    out1, m1, c1 = _gunzip_members(cut1)
    assert m1 == 0 and c1 == 0 and len(out1) > 0
    rs1 = warc_records(cut1)
    assert rs1[-1]["clean"] == 0 and rs1[0]["compressed"] == 1
    # an INTACT .warc.gz stays garbage-row-free
    assert all(r["clean"] == 1 for r in warc_records(full))


def test_warc_walk_property():
    """Property (hypothesis over record counts / types / body sizes /
    uri presence / gzip layout): warc_records exactly inverts
    encode_warc — record order, header fields, declared lengths,
    text extraction for text/* only, clean=1 throughout."""
    from hypothesis import given, settings, strategies as st

    from etlp_spark.functions.warc import encode_warc, warc_records

    word = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=255,
                               exclude_characters="\x00\r\n"),
        min_size=0, max_size=24,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        bodies=st.lists(word, min_size=1, max_size=5),
        kinds=st.lists(
            st.sampled_from(("conversion", "response", "metadata")),
            min_size=5, max_size=5,
        ),
        texty=st.lists(st.booleans(), min_size=5, max_size=5),
        with_uri=st.lists(st.booleans(), min_size=5, max_size=5),
        gz=st.booleans(),
    )
    def check(bodies, kinds, texty, with_uri, gz):
        recs = []
        for i, body in enumerate(bodies):
            recs.append(
                {
                    "warc_type": kinds[i],
                    "record_id": f"<urn:rec:{i}>",
                    "content_type": (
                        "text/plain" if texty[i]
                        else "application/octet-stream"
                    ),
                    "target_uri": (
                        f"https://e.org/{i}" if with_uri[i] else None
                    ),
                    "body": body,
                }
            )
        rs = warc_records(encode_warc(recs, gzip_members=gz))
        assert len(rs) == len(recs)
        for i, (r, src) in enumerate(zip(rs, recs)):
            assert r["rec_index"] == i
            assert r["warc_type"] == src["warc_type"]
            assert r["record_id"] == f"<urn:rec:{i}>"
            assert r["target_uri"] == src["target_uri"]
            assert r["content_length"] == len(src["body"].encode())
            assert r["text"] == (src["body"] if texty[i] else None)
            assert r["clean"] == 1 and r["compressed"] == int(gz)

    check()


def test_warc_http_wire_encodings_property():
    """Property (hypothesis over body text x gzip x chunked x chunk
    size): the response-record walk exactly inverts encode_warc's
    wire encodings — dechunk-then-inflate recovers the original
    entity text, clean=1, status preserved."""
    from hypothesis import given, settings, strategies as st

    from etlp_spark.functions.warc import encode_warc, warc_records

    body_st = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=255,
                               exclude_characters="\x00"),
        min_size=0, max_size=200,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        body=body_st,
        gz=st.booleans(),
        chunked=st.booleans(),
        chunk_size=st.integers(min_value=1, max_value=40),
        status=st.sampled_from((200, 301, 404, 503)),
    )
    def check(body, gz, chunked, chunk_size, status):
        payload = encode_warc([{
            "warc_type": "response", "record_id": "<r>",
            "http": {
                "status": status, "content_type": "text/plain",
                "body": body, "gzip": gz, "chunked": chunked,
                "chunk_size": chunk_size,
            },
        }])
        r = warc_records(payload)[0]
        assert r["http_status"] == status
        assert r["text"] == body
        assert r["clean"] == 1

    check()


def test_html_to_text_deterministic_cases():
    """html_to_text: script/style/template/noscript subtrees and
    comments dropped, entities decoded, block tags separate while
    inline tags glue, <title> captured separately, whitespace
    collapsed, malformed markup contained (never raises)."""
    from etlp_spark.functions.html import html_to_text

    r = html_to_text(
        "<html><head><title>T&iacute;tle 5</title>"
        "<style>b{c:red}</style></head>"
        "<body><!-- drop me --><h1>Doc &amp; 7</h1>"
        "<script>var x = 1 < 2; // <p>not a tag</p></script>"
        "<p>Par&#233;graph <b>bo<i>ld</i></b> ok</p>"
        '<div><a href="/0">link 0</a></div></body></html>'
    )
    assert r["title"] == "Títle 5"
    assert r["text"] == "Doc & 7 Parégraph bold ok link 0"
    assert r["n_links"] == 1 and r["n_dropped"] == 2
    # html head title style body h1 script p b i div a = 12
    assert r["n_tags"] == 12
    assert r["hrefs"] == ["/0"]

    # hrefs: ordered, entity-decoded, href-less/empty anchors skipped
    rh = html_to_text(
        '<a href="/a?x=1&amp;y=2">1</a><a name="n">2</a>'
        '<a href="">3</a><a href="//h.org/b"/>'
    )
    assert rh["hrefs"] == ["/a?x=1&y=2", "//h.org/b"]
    assert rh["n_links"] == 4

    # block vs inline boundaries: p separates, b glues
    assert html_to_text("<p>a</p><p>b</p>")["text"] == "a b"
    assert html_to_text("x<b>y</b>z")["text"] == "xyz"
    assert html_to_text("one<br/>two")["text"] == "one two"

    # nested drop subtrees count once at top level
    rn = html_to_text(
        "<script>a</script>keep<noscript>x<style>y</style>z</noscript>"
    )
    assert rn["text"] == "keep" and rn["n_dropped"] == 2

    # template/noscript CONTENT is tokenized (unlike script/style
    # CDATA) — tags, links and hrefs inside them must not leak into
    # counts or the frontier feed
    rl = html_to_text(
        '<p>ok</p><template><a href="/x">t</a><div>inner</div>'
        '</template><noscript><a href="/y">n</a></noscript>'
    )
    assert rl["text"] == "ok"
    assert rl["hrefs"] == [] and rl["n_links"] == 0
    # p + template + noscript = 3 countable tags
    assert rl["n_tags"] == 3 and rl["n_dropped"] == 2

    # <base href>: FIRST one wins (HTML spec), void/self-closing
    # forms both count, one inside a dropped subtree does not
    rb = html_to_text(
        '<head><base target="_b"><base href="/first/">'
        '<base href="/second/"></head><a href="x">y</a>'
    )
    assert rb["base_href"] == "/first/" and rb["hrefs"] == ["x"]
    assert html_to_text('<base href="q/"/>')["base_href"] == "q/"
    assert html_to_text(
        '<template><base href="/t/"></template><p>x</p>'
    )["base_href"] is None
    assert html_to_text("<p>x</p>")["base_href"] is None

    # self-closing drop tag: browsers ignore the self-closing flag
    # on script/style (ADVICE r16) — '<script/>body</script>' is an
    # OPENED script whose body must not leak; same nested
    rs = html_to_text(
        "<p>keep</p><script/>var leak=1;</script><p>after</p>"
    )
    assert rs["text"] == "keep after" and rs["n_dropped"] == 1
    # nested: a self-closing script inside a template (whose content
    # IS tokenized) must deepen the drop, so its stray </script>
    # close does not re-open the template subtree early
    rs2 = html_to_text(
        "<template><script/>leak</script>still</template>out"
    )
    assert rs2["text"] == "out" and rs2["n_dropped"] == 1

    # malformed: unclosed tags, bare ampersand, stray close — no raise
    rm = html_to_text("<p>open & loose<div>deep</p>text")
    assert "open & loose" in rm["text"] and "text" in rm["text"]
    assert html_to_text(None)["text"] == ""
    assert html_to_text("")["n_tags"] == 0

    # title inside a dropped subtree is NOT prose or title
    rt = html_to_text("<noscript><title>hidden</title></noscript><p>v</p>")
    assert rt["title"] == "" and rt["text"] == "v"


def test_html_to_text_property():
    """Property (hypothesis over paragraphs of tokens with per-token
    render modes): extraction inverts a structured HTML generator —
    visible tokens in order, scripts/styles dropped, entity-encoded
    tokens decoded, whitespace collapsed."""
    from hypothesis import given, settings, strategies as st

    from etlp_spark.functions.html import html_to_text

    token = st.text(
        alphabet=st.characters(
            min_codepoint=33, max_codepoint=126,
            exclude_characters="<>&\"'/;",
        ),
        min_size=1, max_size=8,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        paras=st.lists(
            st.lists(
                st.tuples(
                    token,
                    st.sampled_from(
                        ("plain", "bold", "entity", "script", "style")
                    ),
                ),
                min_size=0, max_size=6,
            ),
            min_size=0, max_size=5,
        )
    )
    def check(paras):
        html = ["<html><body>"]
        expected: list[str] = []
        for para in paras:
            html.append("<p>")
            first = True
            for tok, mode in para:
                if not first:
                    html.append(" ")
                first = False
                if mode == "plain":
                    html.append(tok)
                    expected.append(tok)
                elif mode == "bold":
                    html.append(f"<b>{tok}</b>")
                    expected.append(tok)
                elif mode == "entity":
                    html.append(
                        "".join(f"&#{ord(ch)};" for ch in tok)
                    )
                    expected.append(tok)
                elif mode == "script":
                    html.append(f"<script>{tok}</script>")
                else:
                    html.append(f"<style>{tok}</style>")
            html.append("</p>")
        html.append("</body></html>")
        r = html_to_text("".join(html))
        assert r["text"] == " ".join(" ".join(expected).split())
        n_drops = sum(
            1 for para in paras for _, m in para if m in ("script", "style")
        )
        assert r["n_dropped"] == n_drops

    check()


def test_extract_html_text_spark(spark):
    """extract_html_text: Arrow-batched wrapper preserves the id
    column, contains None input, and the walk happens in the scan
    stage (no exchange in the plan)."""
    from pyspark.sql import functions as F

    from etlp_spark.functions.html import extract_html_text

    df = spark.createDataFrame(
        [
            (1, "<p>hello <b>world</b></p><script>drop()</script>"),
            (2, None),
            (3, "<title>t</title>plain &amp; text"),
            (4, '<base href="/b/"><a href="rel.html">r</a>'),
        ],
        "media_id bigint, html string",
    )
    out = extract_html_text(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = {r["media_id"]: r for r in out.collect()}
    assert rows[1]["text"] == "hello world" and rows[1]["n_dropped"] == 1
    assert rows[2]["text"] == "" and rows[2]["n_tags"] == 0
    assert rows[3]["text"] == "plain & text" and rows[3]["title"] == "t"
    assert rows[1]["base_href"] is None
    assert rows[4]["base_href"] == "/b/"
    assert rows[4]["hrefs"] == ["rel.html"]


def test_canonical_url_cases(spark):
    """canonical_url: scheme/host lowercased, fragment dropped,
    default ports stripped (non-default kept), tracking params
    dropped, surviving params sorted bytewise, trailing slash folded
    (root kept, empty path becomes root), path/query case preserved,
    non-URL garbage canonicalizes to NULL."""
    from etlp_spark.functions.url import canonical_url

    cases = [
        ("HTTP://WWW.Ex.COM:80/p/1/?b=2&a=1&utm_source=x#f",
         "http://www.ex.com/p/1?a=1&b=2"),
        ("https://ex.com:443/P/Q?gclid=g&Z=1", "https://ex.com/P/Q?Z=1"),
        ("http://ex.com:8080/p", "http://ex.com:8080/p"),
        ("https://ex.com", "https://ex.com/"),
        ("http://ex.com/", "http://ex.com/"),
        ("http://ex.com/a/b/", "http://ex.com/a/b"),
        ("http://ex.com/?utm_campaign=c", "http://ex.com/"),
        ("  http://ex.com/x  ", "http://ex.com/x"),
        ("http://ex.com/x?fbclid=1&fbclid=2", "http://ex.com/x"),
        # param VALUE case and path case are preserved (RFC 3986:
        # only scheme/host are case-insensitive)
        ("HTTPS://EX.com/CaseSensitive?B=x&a=Y",
         "https://ex.com/CaseSensitive?B=x&a=Y"),
        # RFC 3986 §6.2.2.2 percent-encoding normalization: decode
        # unreserved (%7E->~, %41->A), uppercase reserved hex
        # (%2f->%2F, never decoded — it is not a path separator),
        # literal % preserved when not followed by two hex digits
        ("http://ex.com/a%7eb", "http://ex.com/a~b"),
        ("http://ex.com/a%7Eb", "http://ex.com/a~b"),
        ("http://ex.com/%41%2fz", "http://ex.com/A%2Fz"),
        ("http://ex.com/x%zz", "http://ex.com/x%zz"),
        ("http://ex.com/x%a", "http://ex.com/x%a"),
        ("http://ex.com/x%", "http://ex.com/x%"),
        ("http://ex.com/a%%41", "http://ex.com/a%A"),
        ("http://ex.com/p?k=%3d&a=%2E", "http://ex.com/p?a=.&k=%3D"),
        # multi-byte UTF-8 pairs are RESERVED-range octets: never
        # decoded, hex uppercased only
        ("http://ex.com/caf%c3%a9", "http://ex.com/caf%C3%A9"),
        ("not a url", None),
        ("", None),
        ("relative/path?a=1", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r.c for r in df.select(canonical_url("url").alias("c")).collect()
    ]
    assert got == [e for _, e in cases]

    # idempotence: canonicalizing a canonical form is a no-op
    canon = [e for _, e in cases if e is not None]
    df2 = spark.createDataFrame([(u,) for u in canon], "url string")
    got2 = [
        r.c for r in df2.select(canonical_url("url").alias("c")).collect()
    ]
    assert got2 == canon

    # pure column expression: no Python eval, no exchange
    plan = (
        df.select(canonical_url("url").alias("c"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "Exchange" not in plan


def test_resolve_url_cases(spark):
    """resolve_url: absolute pass-through, protocol-relative takes
    the base scheme, root-relative takes the base origin,
    path-relative merges onto the base directory with RFC 3986
    §5.2.4 dot-segment removal (.. clamps at root), and
    non-hierarchical schemes / empty refs resolve to NULL (counted,
    never guessed)."""
    from etlp_spark.functions.url import canonical_url, resolve_url

    base = "https://www.ex.org:8080/dir/page?z=1"
    cases = [
        ("http://other.org/x?a=1", "http://other.org/x?a=1"),
        ("//cdn.org/lib.js", "https://cdn.org/lib.js"),
        ("/root/path?b=2", "https://www.ex.org:8080/root/path?b=2"),
        # path-relative: RFC 3986 §5.3 merge + §5.2.4 dot removal
        ("rel/path.html", "https://www.ex.org:8080/dir/rel/path.html"),
        ("../up.html", "https://www.ex.org:8080/up.html"),
        ("./y?q=1", "https://www.ex.org:8080/dir/y?q=1"),
        ("../../../clamped", "https://www.ex.org:8080/clamped"),
        ("/a/../b", "https://www.ex.org:8080/b"),
        # query-only / fragment-only: the base's FULL path survives
        ("?page=2", "https://www.ex.org:8080/dir/page?page=2"),
        ("#sec", "https://www.ex.org:8080/dir/page#sec"),
        ("mailto:x@y.org", None),
        ("javascript:void(0)", None),
        ("data:text/plain,hi", None),
        ("", None),
    ]
    df = spark.createDataFrame(
        [(base, r) for r, _ in cases], "base string, ref string"
    )
    got = [
        r.c
        for r in df.select(resolve_url("base", "ref").alias("c")).collect()
    ]
    assert got == [e for _, e in cases]

    # the frontier composition: resolve then canonicalize
    comp = df.select(
        canonical_url(resolve_url("base", "ref")).alias("c")
    ).collect()
    assert comp[2].c == "https://www.ex.org:8080/root/path?b=2"


def test_parse_robots_semantics():
    """parse_robots: group structure (shared User-agent lines, a new
    UA after rules opens a new group), agent selection with *
    fallback, empty-Disallow = no rule, comments stripped, unknown
    directives counted not damaged, fractional Crawl-delay in exact
    ms, rule_regex grammar (* wildcard, trailing-$ anchor, literal
    mid-pattern $)."""
    import re as _re

    from etlp_spark.functions.robots import parse_robots, rule_regex

    txt = (
        "# politeness\n"
        "User-agent: evilbot\nDisallow: /\n\n"
        "User-agent: *\n"
        "Disallow: /p/priv*\n"
        "Allow: /p/private-ok$\n"
        "Crawl-delay: 2.5\n"
        "Host: example.org\n"
        "Sitemap: https://h/sitemap.xml\n"
    )
    m = parse_robots(txt, "*")
    assert m["rules"] == [(0, "/p/priv*"), (1, "/p/private-ok$")]
    assert m["crawl_delay_ms"] == 2500
    assert m["n_sitemaps"] == 1 and m["n_unknown"] == 1
    assert m["clean"] == 1
    # exact agent match takes ITS group, not *
    assert parse_robots(txt, "EvilBot")["rules"] == [(0, "/")]
    # shared UA lines, new group after rules
    two = (
        "User-agent: a\nUser-agent: b\nDisallow: /x\n"
        "User-agent: c\nDisallow: /y\n"
    )
    assert parse_robots(two, "b")["rules"] == [(0, "/x")]
    assert parse_robots(two, "c")["rules"] == [(0, "/y")]
    # empty Disallow = allow everything; no-colon line = damage
    assert parse_robots("User-agent: *\nDisallow:\n", "*")["rules"] == []
    assert parse_robots("User-agent *\nDisallow: /\n", "*")["clean"] == 0
    assert parse_robots(None, "*")["rules"] == []
    # pattern grammar
    assert _re.match(rule_regex("/p/priv*"), "/p/private-ok")
    assert _re.match(rule_regex("/p/private-ok$"), "/p/private-ok")
    assert not _re.match(rule_regex("/p/private-ok$"), "/p/private-okX")
    assert _re.match(rule_regex("/a$b"), "/a$bc")  # mid-$ is literal
    assert _re.match(rule_regex("/*.php"), "/x/y.php")
    # non-finite / absurd Crawl-delay is parse damage, never a crash
    # (ADVICE r16: int(float('inf')*1000) raised OverflowError past
    # the ValueError guard and killed the Arrow kernel task)
    for bad in ("Infinity", "inf", "-inf", "nan", "1e400",
                "99999999999999", "soon"):
        r = parse_robots(
            f"User-agent: *\nCrawl-delay: {bad}\nDisallow: /x\n"
        )
        assert r["clean"] == 0 and r["crawl_delay_ms"] is None, bad
        assert r["rules"] == [(0, "/x")]
    assert parse_robots("User-agent: *\nCrawl-delay: 1.5\n")[
        "crawl_delay_ms"
    ] == 1500


def test_extract_robots_rules_spark(spark):
    """extract_robots_rules: one row per selected rule with compiled
    regex + lengths; a rule-less host still yields one pattern-NULL
    row carrying its crawl delay; hosts-sized output broadcasts."""
    from etlp_spark.functions.robots import extract_robots_rules

    df = spark.createDataFrame(
        [
            ("a.org", "User-agent: *\nDisallow: /x*\nAllow: /x/ok$\n"),
            ("b.org", "User-agent: *\nCrawl-delay: 1\nDisallow:\n"),
        ],
        "host string, robots string",
    )
    rows = sorted(
        extract_robots_rules(df).collect(),
        key=lambda r: (r.host, r.pattern or ""),
    )
    a = [r for r in rows if r.host == "a.org"]
    assert [(r.allow, r.pattern, r.pattern_len) for r in a] == [
        (0, "/x*", 3), (1, "/x/ok$", 6)
    ]
    assert a[0].rule_regex == "^/x.*"
    b = [r for r in rows if r.host == "b.org"]
    assert len(b) == 1 and b[0].pattern is None
    assert b[0].crawl_delay_ms == 1000


def test_canonical_url_property(spark):
    """Property (hypothesis over scheme/host/port/path/params/junk):
    a junked wire variant and its clean twin canonicalize to the
    same closed-form key — one Spark round-trip over the whole
    generated batch."""
    from hypothesis import given, settings, strategies as st

    from etlp_spark.functions.url import canonical_url

    seg = st.text(alphabet="abcXYZ059", min_size=1, max_size=6)

    @settings(max_examples=12, deadline=None)
    @given(
        data=st.lists(
            st.tuples(
                st.sampled_from(("http", "https")),
                seg,  # host label
                st.sampled_from((None, 8080)),  # non-default port or none
                st.lists(seg, min_size=0, max_size=3),  # path segments
                st.lists(
                    st.tuples(seg, seg), min_size=0, max_size=3
                ),  # query params
                st.booleans(),  # add tracking junk
                st.booleans(),  # add fragment
                st.booleans(),  # uppercase scheme+host in the variant
                st.booleans(),  # trailing slash in the variant
            ),
            min_size=1, max_size=12,
        )
    )
    def check(data):
        rows = []
        for sch, label, port, segs, params, junk, frag, up, slash in data:
            host = f"www.{label.lower()}.org"
            p = ":8080" if port else ""
            path = "/" + "/".join(segs) if segs else "/"
            # expected key: sorted unique-order params, junk dropped
            qs = sorted(f"{k}={v}" for k, v in params)
            q = ("?" + "&".join(qs)) if qs else ""
            expected = f"{sch}://{host}{p}{path}{q}"
            # the junked wire variant
            vhost = host.upper() if up else host
            vsch = sch.upper() if up else sch
            vport = p or (":80" if sch == "http" else ":443")
            vpath = path + ("/" if slash and path != "/" else "")
            vq = [f"{k}={v}" for k, v in params]
            if junk:
                vq.append("utm_medium=m")
            vqs = ("?" + "&".join(reversed(vq))) if vq else ""
            vfrag = "#sec" if frag else ""
            rows.append(
                (f"{vsch}://{vhost}{vport}{vpath}{vqs}{vfrag}", expected)
            )
        df = spark.createDataFrame(rows, "url string, expected string")
        bad = df.select(
            canonical_url("url").alias("c"), "expected", "url"
        ).where(F.col("c") != F.col("expected"))
        assert bad.count() == 0, bad.limit(5).collect()

    check()


def test_read_warc_source(spark, tmp_path):
    """read_warc: binaryFile scan over a directory of .warc /
    .warc.gz files explodes to one row per record, id = file path,
    damaged files contained as audit rows (strict=False default)."""
    from etlp_spark.functions.warc import encode_warc, read_warc

    cv = lambda i: {  # noqa: E731
        "warc_type": "conversion", "record_id": f"<urn:rec:{i}>",
        "target_uri": f"https://e.org/{i}",
        "content_type": "text/plain", "body": f"text {i}",
    }
    (tmp_path / "a.warc").write_bytes(encode_warc([cv(1), cv(2)]))
    (tmp_path / "b.warc.gz").write_bytes(
        encode_warc([cv(3)], gzip_members=True)
    )
    (tmp_path / "c.warc").write_bytes(b"junk, not warc")

    out = read_warc(spark, str(tmp_path)).collect()
    by_file = {}
    for r in out:
        by_file.setdefault(r["media_id"].rsplit("/", 1)[-1], []).append(r)
    assert [r["text"] for r in sorted(
        by_file["a.warc"], key=lambda r: r["rec_index"])] == [
        "text 1", "text 2"]
    assert by_file["b.warc.gz"][0]["compressed"] == 1
    assert by_file["b.warc.gz"][0]["text"] == "text 3"
    assert by_file["c.warc"][0]["parse_error"].startswith("not a WARC")
    assert by_file["c.warc"][0]["rec_index"] is None


def test_flac_ogg_walk_deterministic_cases():
    """flac_metadata reads STREAMINFO's packed field (rate/channels/
    bits/total samples -> exact integer-micros duration) + Vorbis
    comments (case-insensitive keys, first-occurrence-wins);
    ogg_vorbis_metadata walks pages with lacing tables, audits the
    RFC 3533 CRC without hiding extracted fields, and takes duration
    from the max granule; both contain truncation as clean=0 and
    raise only for non-FLAC/Ogg payloads."""
    import pytest as _pt

    from etlp_spark.functions.multimodal import (
        audio_container_metadata,
        encode_flac,
        encode_ogg_vorbis,
        flac_metadata,
        ogg_vorbis_metadata,
    )

    m = flac_metadata(
        encode_flac(
            sample_rate=44100, channels=2, bits_per_sample=16,
            total_samples=441000, vendor="v-1",
            comments=("title=Söng", "ARTIST=A", "TITLE=later-loses"),
        )
    )
    assert (m["sample_rate"], m["channels"], m["bits_per_sample"]) == \
        (44100, 2, 16)
    assert m["total_samples"] == 441000
    assert m["duration_us"] == 10_000_000  # exactly 10 s
    assert m["title"] == "Söng"  # lowercase key + first wins
    assert m["artist"] == "A" and m["vendor"] == "v-1"
    assert m["n_comments"] == 3 and m["n_blocks"] == 2 and m["clean"] == 1

    # 36-bit total samples + padding block + odd rate floor division
    m2 = flac_metadata(
        encode_flac(sample_rate=22050, total_samples=22051, padding=True)
    )
    assert m2["duration_us"] == 22051 * 1_000_000 // 22050
    assert m2["n_blocks"] == 3 and m2["clean"] == 1

    o = ogg_vorbis_metadata(
        encode_ogg_vorbis(
            sample_rate=48000, channels=1, total_samples=96000,
            vendor="v-2", comments=("TITLE=T", "X=1"),
        )
    )
    assert (o["sample_rate"], o["channels"]) == (48000, 1)
    assert o["total_samples"] == 96000 and o["duration_us"] == 2_000_000
    assert o["bits_per_sample"] is None  # not a Vorbis id field
    assert o["title"] == "T" and o["n_comments"] == 2
    assert o["n_blocks"] == 3 and o["n_crc_bad"] == 0 and o["clean"] == 1

    # CRC corruption counts and flips clean but fields stay extracted
    oc = ogg_vorbis_metadata(
        encode_ogg_vorbis(comments=("TITLE=kept",),
                          corrupt_comment_crc=True)
    )
    assert oc["n_crc_bad"] == 1 and oc["clean"] == 0
    assert oc["title"] == "kept"

    # truncation containment
    ft = flac_metadata(encode_flac(truncate_streaminfo_at=10))
    assert ft["clean"] == 0 and ft["sample_rate"] is None
    assert ft["n_blocks"] == 1
    ot = ogg_vorbis_metadata(encode_ogg_vorbis(truncate_id_page_at=10))
    assert ot["clean"] == 0 and ot["sample_rate"] is None
    assert ot["total_samples"] is None

    # a comment without '=' is counted but flips clean (spec violation)
    fb = flac_metadata(encode_flac(comments=("TITLE=x", "no-equals")))
    assert fb["n_comments"] == 2 and fb["clean"] == 0 and fb["title"] == "x"

    assert audio_container_metadata(encode_flac())["format"] == "flac"
    assert audio_container_metadata(encode_ogg_vorbis())["format"] == "ogg"
    with _pt.raises(ValueError, match="not a FLAC or Ogg"):
        audio_container_metadata(b"RIFF....WAVE")
    with _pt.raises(ValueError, match="no fLaC magic"):
        flac_metadata(b"OggS")
    with _pt.raises(ValueError, match="no OggS capture"):
        ogg_vorbis_metadata(b"fLaC")


def test_flac_ogg_walk_property():
    """Property (hypothesis over rates / channels / bit depths /
    sample totals / comment mixes / both formats): the walkers
    exactly invert their encoders — packed STREAMINFO bits, granule
    duration, comment extraction, integer-micros floor division."""
    from hypothesis import given, settings, strategies as st

    from etlp_spark.functions.multimodal import (
        encode_flac,
        encode_ogg_vorbis,
        flac_metadata,
        ogg_vorbis_metadata,
    )

    word = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=255,
                               exclude_characters="\x00="),
        min_size=0, max_size=12,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        rate=st.integers(1, (1 << 20) - 1),
        ch=st.integers(1, 8),
        bps=st.integers(4, 32),
        total=st.integers(0, (1 << 36) - 1),
        title=st.one_of(st.none(), word),
        artist=st.one_of(st.none(), word),
        pad=st.booleans(),
        ogg=st.booleans(),
    )
    def check(rate, ch, bps, total, title, artist, pad, ogg):
        comments = []
        if title is not None:
            comments.append(f"TITLE={title}")
        if artist is not None:
            comments.append(f"ARTIST={artist}")
        if ogg:
            if total >= 1 << 62:  # granule is signed LE64; way inside
                total = 1 << 62
            m = ogg_vorbis_metadata(
                encode_ogg_vorbis(
                    sample_rate=rate, channels=ch, total_samples=total,
                    comments=tuple(comments),
                )
            )
            assert m["bits_per_sample"] is None and m["n_blocks"] == 3
        else:
            m = flac_metadata(
                encode_flac(
                    sample_rate=rate, channels=ch, bits_per_sample=bps,
                    total_samples=total, comments=tuple(comments),
                    padding=pad,
                )
            )
            assert m["bits_per_sample"] == bps
            assert m["n_blocks"] == (3 if pad else 2)
        assert m["sample_rate"] == rate and m["channels"] == ch
        assert m["total_samples"] == total
        assert m["duration_us"] == total * 1_000_000 // rate
        assert m["title"] == title and m["artist"] == artist
        assert m["n_comments"] == len(comments)
        assert m["n_crc_bad"] == 0 and m["clean"] == 1

    check()


def test_orientation_invariant_descriptor_merges_rotated_pair():
    """The x153 kernel contract: a camera-rotated duplicate (real
    baseline JPEG with a spliced EXIF APP1) shares norm_key with its
    upright original for ALL seven non-identity orientations while
    its raw_key differs — the rotated copy matches ONLY via
    normalization."""
    import numpy as np

    from etlp_spark.functions.multimodal import (
        encode_exif,
        encode_jpeg,
        orientation_invariant_descriptor,
    )

    def app1(orientation):
        ex = encode_exif(byte_order="MM", orientation=orientation)
        seglen = int.from_bytes(ex[4:6], "big")
        return ex[2 : 4 + seglen]

    up = np.zeros((16, 16, 3), dtype=np.uint8)
    for k, lv in enumerate((16, 80, 144, 208)):  # all-distinct quadrants
        up[(k // 2) * 8 : (k // 2) * 8 + 8,
           (k % 2) * 8 : (k % 2) * 8 + 8] = lv
    base = encode_jpeg(up, quality=95)
    ref = orientation_invariant_descriptor(
        base[:2] + app1(1) + base[2:]
    )
    assert ref["raw_key"] == ref["norm_key"] == "0-2-4-6"
    assert ref["orientation"] == 1 and ref["clean"] == 1

    gens = {
        2: lambda p: p[:, ::-1],
        3: lambda p: p[::-1, ::-1],
        4: lambda p: p[::-1, :],
        5: lambda p: np.rot90(p, -1)[:, ::-1],
        6: lambda p: np.rot90(p, 1),
        7: lambda p: np.rot90(p, 1)[:, ::-1],
        8: lambda p: np.rot90(p, -1),
    }
    for o, g in gens.items():
        stored = np.ascontiguousarray(g(up))
        jp = encode_jpeg(stored, quality=95)
        m = orientation_invariant_descriptor(jp[:2] + app1(o) + jp[2:])
        assert m["orientation"] == o
        assert m["norm_key"] == ref["norm_key"], o  # merged
        assert m["raw_key"] != ref["raw_key"], o  # only via normalization

    # absent/garbage orientation passes through: raw == norm
    m = orientation_invariant_descriptor(base)
    assert m["orientation"] is None and m["raw_key"] == m["norm_key"]


def test_parse_sitemap_deterministic_cases():
    """parse_sitemap: urlset vs sitemapindex detection by LOCAL tag
    name (sitemaps.org namespace, foreign namespace, or none),
    optional lastmod, loc whitespace trimmed, damage containment
    (bad XML / wrong root / loc-less entry / stray child) keeps
    every entry that did parse and flips clean."""
    from etlp_spark.functions.sitemap import parse_sitemap

    ns = 'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
    u = parse_sitemap(
        f'<?xml version="1.0" encoding="UTF-8"?><urlset {ns}>'
        "<url><loc> https://a/1 </loc><lastmod>2026-01-02</lastmod>"
        "</url><url><loc>https://a/2</loc></url></urlset>"
    )
    assert u["kind"] == "urlset" and u["clean"] == 1
    assert u["entries"] == [
        ("https://a/1", "2026-01-02"), ("https://a/2", None)
    ]
    i = parse_sitemap(
        "<sitemapindex><sitemap><loc>https://a/sm1.xml</loc>"
        "<lastmod>2026-02-01</lastmod></sitemap></sitemapindex>"
    )
    assert i["kind"] == "sitemapindex"
    assert i["entries"] == [("https://a/sm1.xml", "2026-02-01")]
    # foreign namespace still matches on the local name
    f = parse_sitemap(
        '<x:urlset xmlns:x="urn:other"><x:url><x:loc>https://b'
        "</x:loc></x:url></x:urlset>"
    )
    assert f["kind"] == "urlset" and f["entries"] == [("https://b", None)]
    # damage: not XML / wrong root / empty — zero entries, clean=0
    assert parse_sitemap("not xml")["clean"] == 0
    assert parse_sitemap("<rss><item/></rss>")["parse_error"].startswith(
        "unexpected root"
    )
    assert parse_sitemap(None)["parse_error"] == "empty input"
    assert parse_sitemap("")["n_entries"] == 0
    # partial damage: loc-less entry and stray child counted, the
    # parsed entry survives
    p = parse_sitemap(
        "<urlset><url></url><junk/><url><loc>ok</loc></url></urlset>"
    )
    assert p["entries"] == [("ok", None)] and p["clean"] == 0
    # protocol extras (changefreq/priority) are ignored, not damage;
    # XML comments are dropped by the stdlib parser, not elements
    q = parse_sitemap(
        "<urlset><!-- c --><url><loc>u</loc><changefreq>daily"
        "</changefreq><priority>0.8</priority></url></urlset>"
    )
    assert q["entries"] == [("u", None)] and q["clean"] == 1


def test_parse_sitemap_generator_roundtrip():
    """Property: a generated urlset/sitemapindex document (random
    entry count, optional lastmod, namespace presence) parses back
    to exactly the generated (loc, lastmod) list with clean=1."""
    from hypothesis import given, settings, strategies as st

    from etlp_spark.functions.sitemap import parse_sitemap

    entry = st.tuples(
        st.integers(0, 10_000),
        st.one_of(st.none(), st.integers(1, 28)),
    )

    @settings(max_examples=60, deadline=None)
    @given(
        kind=st.sampled_from(("urlset", "sitemapindex")),
        entries=st.lists(entry, min_size=0, max_size=8),
        with_ns=st.booleans(),
    )
    def check(kind, entries, with_ns):
        child = "url" if kind == "urlset" else "sitemap"
        ns = (
            ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
            if with_ns else ""
        )
        body = "".join(
            f"<{child}><loc>https://e/{n}</loc>"
            + (f"<lastmod>2026-01-{lm:02d}</lastmod>" if lm else "")
            + f"</{child}>"
            for n, lm in entries
        )
        m = parse_sitemap(f"<{kind}{ns}>{body}</{kind}>")
        assert m["kind"] == kind and m["clean"] == 1
        assert m["entries"] == [
            (f"https://e/{n}", f"2026-01-{lm:02d}" if lm else None)
            for n, lm in entries
        ]
        assert m["n_entries"] == len(entries)

    check()


def test_extract_sitemap_entries_spark(spark):
    """extract_sitemap_entries: Arrow-batched explosion, one row per
    entry, loc-NULL sentinel for damaged docs, scan-stage only."""
    from etlp_spark.functions.sitemap import extract_sitemap_entries

    df = spark.createDataFrame(
        [
            ("https://a/sm.xml",
             "<urlset><url><loc>https://a/1</loc></url>"
             "<url><loc>https://a/2</loc>"
             "<lastmod>2026-03-01</lastmod></url></urlset>"),
            ("https://b/idx.xml",
             "<sitemapindex><sitemap><loc>https://b/child.xml</loc>"
             "</sitemap></sitemapindex>"),
            ("https://c/bad.xml", "garbage <<<"),
        ],
        "url string, xml string",
    )
    out = extract_sitemap_entries(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = sorted(
        ((r["url"], r["kind"], r["loc"], r["lastmod"], r["clean"])
         for r in out.collect()),
        key=str,
    )
    assert rows == [
        ("https://a/sm.xml", "urlset", "https://a/1", None, 1),
        ("https://a/sm.xml", "urlset", "https://a/2", "2026-03-01", 1),
        ("https://b/idx.xml", "sitemapindex", "https://b/child.xml",
         None, 1),
        ("https://c/bad.xml", "", None, None, 0),
    ]


def test_trap_flags_cases(spark):
    """trap_flags: each heuristic fires on exactly its shape —
    depth > 12, a segment repeated >= 3x, a /YYYY/M(/D) date spine,
    session-id params, > 8 params — and a clean URL trips none."""
    from etlp_spark.functions.url import trap_flags

    deep = "https://x.org/" + "/".join(f"d{i}" for i in range(13))
    cases = [
        ("https://x.org/a/b/a/b/a/z", dict(loop=1, max_seg_run=3)),
        ("https://x.org/a/b/a/z", dict(loop=0, max_seg_run=2)),
        ("https://x.org/p/1?phpsessid=9", dict(session=1)),
        ("https://x.org/p/1?PHPSESSID=9", dict(session=1)),
        ("https://x.org/p/1?sid=9&a=1", dict(session=1)),
        ("https://x.org/cal/2026/1/15", dict(calendar=1)),
        ("https://x.org/blog/2026/01/", dict(calendar=1)),
        ("https://x.org/p/2026", dict(calendar=0)),
        (deep, dict(deep=1, depth=13)),
        ("https://x.org/p?" + "&".join(f"k{i}=1" for i in range(9)),
         dict(params=1)),
        ("https://x.org/p?a=1&b=2", dict(params=0)),
        ("https://x.org/ok", dict(trap_score=0)),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    rows = df.select("url", trap_flags("url").alias("f")).collect()
    got = {r["url"]: r["f"].asDict() for r in rows}
    for url, want in cases:
        for k, v in want.items():
            assert got[url][k] == v, (url, k, got[url])
    # plan: no Python, no exchange
    plan = (
        df.select(trap_flags("url").alias("f"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "Exchange" not in plan


def test_resolve_redirects_semantics(spark):
    """resolve_redirects: pointer jumping resolves chains up to
    2^max_doublings hops, reports cycles as unresolved and
    off-table targets (directly or transitively) as dangling, with
    masked final/hops on both."""
    from etlp_spark.functions.url import resolve_redirects

    # chain of 5, 2-cycle, self-loop, dangling, chain INTO dangling
    rows = [
        ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", None),
        ("p", "q"), ("q", "p"),
        ("s", "s"),
        ("g", "off-table"),
        ("m", "g"),
    ]
    df = spark.createDataFrame(rows, "url string, next string")
    out = {
        r["url"]: (r["final"], r["hops"], r["status"])
        for r in resolve_redirects(df).collect()
    }
    assert out["a"] == ("e", 4, "resolved")
    assert out["c"] == ("e", 2, "resolved")
    assert out["e"] == ("e", 0, "resolved")
    assert out["p"] == ("none", -1, "unresolved")
    assert out["q"] == ("none", -1, "unresolved")
    assert out["s"] == ("none", -1, "unresolved")
    assert out["g"] == ("none", -1, "dangling")
    # transitively dangling: m -> g -> off-table
    assert out["m"] == ("none", -1, "dangling")

    # a chain longer than 2^max_doublings stays unresolved at K=1
    # (cap honored), resolves at K=3
    long = [(f"n{i}", f"n{i+1}") for i in range(6)] + [("n6", None)]
    ldf = spark.createDataFrame(long, "url string, next string")
    k1 = {
        r["url"]: r["status"]
        for r in resolve_redirects(ldf, max_doublings=1).collect()
    }
    assert k1["n0"] == "unresolved"
    k3 = {
        r["url"]: (r["final"], r["hops"], r["status"])
        for r in resolve_redirects(ldf, max_doublings=3).collect()
    }
    assert k3["n0"] == ("n6", 6, "resolved")


def test_registrable_domain_cases(spark):
    """registrable_domain: longest public-suffix match + one label,
    multi-label suffixes beat single (.co.uk over .uk), no-match
    hosts fall back to last two labels, single-label hosts pass
    through, bare-suffix hosts pass through."""
    from etlp_spark.functions.url import registrable_domain

    cases = [
        ("www.a.example.co.uk", "example.co.uk"),
        ("cdn.b.example.co.uk", "example.co.uk"),
        ("example.co.uk", "example.co.uk"),
        ("deep.sub.example.com", "example.com"),
        ("example.com", "example.com"),
        ("EXAMPLE.COM", "example.com"),
        ("sub.example.de", "example.de"),
        ("a.b.example.ac.uk", "example.ac.uk"),
        # .uk alone is in the list; .co.uk must win by LENGTH
        ("x.y.co.uk", "y.co.uk"),
        # no suffix match: last two labels
        ("node1.internal.corp", "internal.corp"),
        ("a.b.c.internal.corp", "internal.corp"),
        # single label passes through
        ("localhost", "localhost"),
        # host IS a bare suffix
        ("co.uk", "co.uk"),
        # :port stripped before matching (frontier host columns
        # carry them)
        ("sub.example.com:8080", "example.com"),
        ("example.co.uk:443", "example.co.uk"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "host string")
    got = [
        r["p"]
        for r in df.select(registrable_domain("host").alias("p")).collect()
    ]
    assert got == [e for _, e in cases], list(zip(cases, got))
    plan = (
        df.select(registrable_domain("host").alias("p"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "Exchange" not in plan


def test_resolve_url_against_stdlib_urljoin(spark):
    """Property: resolve_url agrees with stdlib urllib.parse.urljoin
    (an INDEPENDENT RFC 3986 §5 implementation) on generated
    (base, ref) pairs within the documented contract: hierarchical
    http(s) refs only (non-hierarchical schemes resolve to NULL by
    design), and bases/refs without '//' runs or trailing-dot
    segments (the §5.2.4 fold DOCUMENTS duplicate/trailing-slash
    folding as a canonical-contract side effect urljoin does not
    share)."""
    from urllib.parse import urljoin

    from hypothesis import given, settings, strategies as st

    from etlp_spark.functions.url import resolve_url

    seg = st.sampled_from(["a", "b1", "x.html", "p-q", "Z"])
    dots = st.sampled_from(["..", "."])

    def path_of(parts):
        return "/".join(parts)

    base_st = st.builds(
        lambda host, parts, f: (
            f"http{'s' if f else ''}://{host}.example.org/"
            + path_of(parts)
        ),
        st.sampled_from(["h0", "www.h1", "deep.sub.h2"]),
        st.lists(seg, min_size=0, max_size=4),
        st.booleans(),
    )
    ref_st = st.one_of(
        # absolute
        st.builds(
            lambda h, p: f"http://{h}.other.org/" + path_of(p),
            st.sampled_from(["r0", "r1"]),
            st.lists(seg, max_size=3),
        ),
        # protocol-relative
        st.builds(
            lambda p: "//cdn.example.org/" + path_of(p),
            st.lists(seg, max_size=3),
        ),
        # root-relative
        st.builds(lambda p: "/" + path_of(p), st.lists(seg, max_size=3)),
        # path-relative with dot segments
        st.builds(
            lambda d, p: path_of(list(d) + list(p)) or "x",
            st.lists(dots, max_size=2),
            st.lists(seg, min_size=1, max_size=3),
        ),
        # query-only
        st.builds(lambda n: f"?page={n}", st.integers(0, 9)),
    )

    pairs: list = []

    @settings(max_examples=120, deadline=None)
    @given(base=base_st, ref=ref_st)
    def collect(base, ref):
        pairs.append((base, ref))

    collect()
    df = spark.createDataFrame(pairs, "base string, ref string")
    got = [
        r["out"]
        for r in df.select(
            resolve_url("base", "ref").alias("out")
        ).collect()
    ]
    for (base, ref), mine in zip(pairs, got):
        expect = urljoin(base, ref)
        # urljoin keeps the fragmentless form here by construction;
        # our contract strips nothing at resolve time for these refs
        assert mine == expect, (base, ref, mine, expect)


def test_canonical_url_idempotent_property(spark):
    """Property: canonical_url is idempotent over generated URLs
    carrying every junk class at once (case, default ports, tracking
    params, fragments, trailing slashes, percent encodings)."""
    from hypothesis import given, settings, strategies as st

    from etlp_spark.functions.url import canonical_url

    url_st = st.builds(
        lambda sch, host, port, segs, pct, q, frag: (
            sch + "://" + host + port + "/" + "/".join(segs + [pct])
            + q + frag
        ),
        st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
        st.sampled_from(["Ex.COM", "www.ex.org", "A.B.ex.net"]),
        st.sampled_from(["", ":80", ":443", ":8080"]),
        st.lists(st.sampled_from(["p", "Q2", "x.y"]), max_size=3),
        st.sampled_from(["u%7e", "%41z", "s%2fx", "%zz", "plain"]),
        st.sampled_from(
            ["", "?b=2&a=1", "?utm_source=x&k=1", "?a=%3d"]
        ),
        st.sampled_from(["", "#frag"]),
    )

    urls: list = []

    @settings(max_examples=150, deadline=None)
    @given(u=url_st)
    def collect(u):
        urls.append(u)

    collect()
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = [
        r["c"] for r in df.select(canonical_url("url").alias("c")).collect()
    ]
    df2 = spark.createDataFrame([(c,) for c in once], "url string")
    twice = [
        r["c"] for r in df2.select(canonical_url("url").alias("c")).collect()
    ]
    for u, a, b in zip(urls, once, twice):
        assert a == b, (u, a, b)
        assert a is not None, u


def test_walk_sitemaps_bounded(spark):
    """walk_sitemaps: total accounting across kinds — urlset entries
    at each depth become 'url' rows, a missing store document is
    'unfetched', a broken one is 'damaged', and index references
    alive past max_depth are 'unexpanded' (starvation reported,
    never silent)."""
    from etlp_spark.functions.sitemap import walk_sitemaps

    store = spark.createDataFrame(
        [
            ("https://s/idx.xml",
             "<sitemapindex>"
             "<sitemap><loc>https://s/a.xml</loc></sitemap>"
             "<sitemap><loc>https://s/idx2.xml</loc></sitemap>"
             "<sitemap><loc>https://s/missing.xml</loc></sitemap>"
             "<sitemap><loc>https://s/bad.xml</loc></sitemap>"
             "</sitemapindex>"),
            ("https://s/a.xml",
             "<urlset><url><loc>https://s/u1</loc>"
             "<lastmod>2026-04-01</lastmod></url></urlset>"),
            ("https://s/idx2.xml",
             "<sitemapindex><sitemap><loc>https://s/b.xml</loc>"
             "</sitemap></sitemapindex>"),
            ("https://s/b.xml",
             "<urlset><url><loc>https://s/u2</loc></url></urlset>"),
            ("https://s/bad.xml", "garbage <<<"),
            ("https://s/direct.xml",
             "<urlset><url><loc>https://s/u0</loc></url></urlset>"),
        ],
        "url string, xml string",
    )
    seeds = spark.createDataFrame(
        [("https://s/idx.xml",), ("https://s/direct.xml",)],
        "url string",
    )
    out = walk_sitemaps(store, seeds, max_depth=2)
    rows = {
        (r["kind"], r["url"], r["loc"], r["depth"])
        for r in out.collect()
    }
    assert ("url", "https://s/direct.xml", "https://s/u0", 0) in rows
    assert ("url", "https://s/a.xml", "https://s/u1", 1) in rows
    assert ("unfetched", "https://s/missing.xml", None, 1) in rows
    assert ("damaged", "https://s/bad.xml", None, 1) in rows
    # idx2 -> b.xml discovered at depth 1, unexpanded at cutoff 2
    assert ("unexpanded", "https://s/b.xml", None, 2) in rows
    assert len(rows) == 5
    # depth 3 expands it
    out3 = {
        (r["kind"], r["loc"])
        for r in walk_sitemaps(store, seeds, max_depth=3).collect()
    }
    assert ("url", "https://s/u2") in out3
    assert not any(k == "unexpanded" for k, _ in out3)
