"""Multimodal image kernels: real stdlib decode/resize/features, plus the
deterministic fallback for undecodable formats, through the mapInPandas
media operators into the similarity operator end to end."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_poc_spark.multimodal.imagecodec import (
    ahash64,
    decode_bmp,
    decode_png,
    decode_ppm,
    dhash64,
    encode_ppm,
    luminance_histogram,
    resize_nearest,
)
from etl_poc_spark.multimodal.media import (
    feature_extract,
    image_near_dup_pairs,
    perceptual_hashes,
)
from etl_poc_spark.operators.similarity import cosine_topk
from image_encoders import encode_bmp, encode_png


def read_binary_dir(spark, path: str):
    return spark.read.format("binaryFile").load(path)


def _gradient_rgb(w: int, h: int) -> bytes:
    return bytes(
        v
        for y in range(h)
        for x in range(w)
        for v in ((x * 255) // max(w - 1, 1), (y * 255) // max(h - 1, 1), (x + y) % 256)
    )


def test_codec_roundtrips():
    w, h = 13, 9
    rgb = _gradient_rgb(w, h)
    assert decode_ppm(encode_ppm(w, h, rgb)) == (w, h, rgb)
    assert decode_bmp(encode_bmp(w, h, rgb)) == (w, h, rgb)
    assert decode_png(encode_png(w, h, rgb)) == (w, h, rgb)


def test_png_filters_decode():
    # zlib-compressed scanlines with each filter type, built by hand: encode
    # a 4x4 with filter 0 via encode_png, then spot-check a Sub-filtered row
    import struct
    import zlib

    w = h = 4
    rgb = _gradient_rgb(w, h)
    stride = w * 3
    rows = []
    for r in range(h):
        line = bytearray(rgb[r * stride : (r + 1) * stride])
        if r % 2 == 1:  # filter 1 (Sub): delta-encode against left pixel
            for i in range(stride - 1, 2, -1):
                line[i] = (line[i] - line[i - 3]) & 0xFF
            rows.append(b"\x01" + bytes(line))
        else:
            rows.append(b"\x00" + bytes(line))
    raw = b"".join(rows)

    def chunk(ctype, body):
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert decode_png(data) == (w, h, rgb)


def test_resize_nearest_pixel_exact():
    # 2x2 distinct-color image scaled to 4x4: each source pixel becomes a
    # 2x2 block (nearest neighbor, exact expected bytes)
    px = {"R": (255, 0, 0), "G": (0, 255, 0), "B": (0, 0, 255), "W": (255, 255, 255)}
    rgb = bytes(v for k in ("R", "G", "B", "W") for v in px[k])
    out = resize_nearest(2, 2, rgb, 4, 4)
    grid = [["RRGG", "RRGG", "BBWW", "BBWW"][y][x] for y in range(4) for x in range(4)]
    expected = bytes(v for k in grid for v in px[k])
    assert out == expected
    # downscale back picks the top-left of each block
    assert resize_nearest(4, 4, out, 2, 2) == rgb


def test_luminance_histogram_properties():
    black_white = bytes((0, 0, 0)) * 3 + bytes((255, 255, 255))
    hist = luminance_histogram(black_white, bins=4)
    assert hist[0] == 0.75 and hist[3] == 0.25 and sum(hist) == 1.0


def _write_real_media(tmp_path):
    """Six distinct real images + the SAME pixels as img0 in a different
    container format (PNG vs BMP) — a true near-duplicate."""
    for i in range(6):
        rgb = bytes((p * (i + 3) + i) % 256 for p in range(20 * 10 * 3))
        (tmp_path / f"img{i}.png").write_bytes(encode_png(20, 10, rgb))
        if i == 0:
            (tmp_path / "img0_copy.bmp").write_bytes(encode_bmp(20, 10, rgb))
    return str(tmp_path)


def test_feature_extract_to_similarity_real_decode(spark, tmp_path):
    d = _write_real_media(tmp_path)
    df = read_binary_dir(spark, d)
    feats = feature_extract(df, dim=32).withColumn("vec_id", F.abs(F.xxhash64("path")))
    assert feats.select(F.size("embedding")).distinct().collect()[0][0] == 32
    assert all(r["decoded"] for r in feats.select("decoded").collect())
    # identical pixels (different container format) -> identical histogram
    # -> cosine 1.0 via the similarity operator over media-derived features
    target = feats.filter(F.col("path").endswith("img0.png"))
    base = feats.filter(~F.col("path").endswith("/img0.png"))
    top = cosine_topk(target, base, k=1).collect()[0]
    assert top["cos_sim"] == 1.0  # the BMP re-encode is the nearest neighbor


def test_undecodable_fallback_is_deterministic(spark, tmp_path):
    (tmp_path / "x.jpg").write_bytes(b"\xff\xd8\xff\xe0" + b"\x07" * 500)
    (tmp_path / "y.jpg").write_bytes(b"\xff\xd8\xff\xe0" + b"\x07" * 500)
    df = read_binary_dir(spark, str(tmp_path))
    out = feature_extract(df, dim=16).collect()
    assert all(not r["decoded"] for r in out)
    vectors = {tuple(r["embedding"]) for r in out}
    assert len(vectors) == 1  # same bytes -> same fallback vector
    assert len(vectors.pop()) == 16
    with pytest.raises(Exception, match="NotImplementedError|image library"):
        feature_extract(df, strict=True).collect()


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_phash_kernels_properties():
    w, h = 32, 24
    base = _gradient_rgb(w, h)
    # container invariance: the hash is a function of pixels, not bytes
    for enc, dec in ((encode_ppm, decode_ppm), (encode_bmp, decode_bmp), (encode_png, decode_png)):
        dw, dh_, drgb = dec(enc(w, h, base))
        assert (ahash64(dw, dh_, drgb), dhash64(dw, dh_, drgb)) == (
            ahash64(w, h, base),
            dhash64(w, h, base),
        )
    # signed-long range (fits Spark LongType)
    for v in (ahash64(w, h, base), dhash64(w, h, base)):
        assert -(1 << 63) <= v < (1 << 63)
    # small perturbation -> small Hamming distance; unrelated image -> large
    tweaked = bytearray(base)
    for i in range(0, 30, 3):
        tweaked[i] = (tweaked[i] + 8) % 256
    near = dhash64(w, h, bytes(tweaked))
    assert _hamming(near, dhash64(w, h, base)) <= 6
    other = bytes((p * 7 + 13) % 256 for p in range(w * h * 3))
    assert _hamming(dhash64(w, h, other), dhash64(w, h, base)) > 10
    # dHash is invariant to a global brightness shift (all lumas +delta)
    brighter = bytes(min(v + 10, 255) for v in base)
    assert dhash64(w, h, brighter) == dhash64(w, h, base) or _hamming(
        dhash64(w, h, brighter), dhash64(w, h, base)
    ) <= 4


def test_image_near_dup_pairs_spark(spark, tmp_path):
    """Constructed near-dups are found by the banded pair search; unrelated
    images are not; identical pixels across containers give Hamming 0."""
    w, h = 20, 16
    base = _gradient_rgb(w, h)
    tweaked = bytearray(base)
    tweaked[0] = (tweaked[0] + 60) % 256  # one perturbed pixel
    (tmp_path / "a_base.png").write_bytes(encode_png(w, h, base))
    (tmp_path / "b_same.bmp").write_bytes(encode_bmp(w, h, base))
    (tmp_path / "c_near.png").write_bytes(encode_png(w, h, bytes(tweaked)))
    (tmp_path / "d_other.png").write_bytes(
        encode_png(w, h, bytes((p * 11 + 5) % 256 for p in range(w * h * 3)))
    )
    df = read_binary_dir(spark, str(tmp_path))
    hashes = {r["path"].rsplit("/", 1)[-1]: r for r in perceptual_hashes(df).collect()}
    assert all(r["decoded"] for r in hashes.values())
    assert hashes["a_base.png"]["dhash"] == hashes["b_same.bmp"]["dhash"]
    pairs = image_near_dup_pairs(df, max_hamming=3).collect()
    got = {
        (p["id_a"].rsplit("/", 1)[-1], p["id_b"].rsplit("/", 1)[-1]): p["hamming"]
        for p in pairs
    }
    assert got[("a_base.png", "b_same.bmp")] == 0
    assert all("d_other.png" not in k for pair in got for k in pair)


def test_image_near_dup_query_registered(spark):
    """Registered query runs on testdata: exact-dup documents render
    byte-identical images, so Hamming-0 pairs must exist."""
    from etl_poc_spark.queries.multimodal_q import image_near_dup_pairs_q, image_phash_stats

    pairs = image_near_dup_pairs_q(spark, "/root/testdata/sf0.001")
    rows = pairs.collect()
    assert rows and all(r["hamming"] <= 3 and r["id_a"] < r["id_b"] for r in rows)
    assert any(r["hamming"] == 0 for r in rows)
    stats = image_phash_stats(spark, "/root/testdata/sf0.001").collect()[0]
    assert stats["n_decoded"] == stats["n_images"] > 0
    assert 0 < stats["distinct_dhash"] <= stats["n_images"]


def test_image_query_aggregates_pinned(spark):
    """Hash-equivalent guard for the two rows-only driver queries: the
    EXACT query bodies (render -> stdlib decode -> dHash -> banded
    self-join -> Hamming verify) run on a committed fixture corpus and
    every output value is pinned as a literal. The decoders are fully
    deterministic, so any drift in codec, hashing, banding, or verify
    arithmetic moves these literals — the strongest check available where
    a SQL oracle cannot express the decode."""
    from etl_poc_spark.queries.multimodal_q import (
        image_pairs_from_docs,
        phash_stats_from_docs,
    )

    base = "the quick brown fox jumps over the lazy dog " * 20
    texts = [
        (1, base),
        (2, base),  # exact dup of 1 -> byte-identical image, Hamming 0
        (3, base[:100] + ("Z" * 20) + base[120:]),  # 20-byte edit -> Hamming 2
        (4, "completely different content entirely unlike the rest " * 16),
        (5, "".join(chr(97 + (i * 7) % 26) for i in range(700))),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")

    pairs = sorted(map(tuple, image_pairs_from_docs(docs).collect()))
    assert pairs == [(1, 2, 0), (1, 3, 2), (2, 3, 2)]

    stats = phash_stats_from_docs(docs).collect()[0]
    assert tuple(stats) == (5, 5, 4, 4)  # n_images, n_decoded, ahash, dhash


def test_corrupt_images_fall_back_not_crash(spark, tmp_path):
    """Truncated/corrupt files raise zlib.error / struct.error inside the
    codecs — they must fall back (decoded=False), never kill the task."""
    good = encode_png(6, 4, _gradient_rgb(6, 4))
    (tmp_path / "trunc_idat.png").write_bytes(good[: len(good) - 20])  # cut mid-IDAT/IEND
    (tmp_path / "cut_ihdr.png").write_bytes(good[:20])                 # cut inside IHDR
    (tmp_path / "bad.bmp").write_bytes(b"BM" + b"\x00" * 80)           # nonsense BMP header
    (tmp_path / "ok.png").write_bytes(good)
    df = read_binary_dir(spark, str(tmp_path))
    out = {r["path"].rsplit("/", 1)[-1]: r for r in feature_extract(df, dim=8).collect()}
    assert len(out) == 4  # no task failure
    assert out["ok.png"]["decoded"]
    for name in ("trunc_idat.png", "cut_ihdr.png", "bad.bmp"):
        assert not out[name]["decoded"]
        assert len(out[name]["embedding"]) == 8  # fallback keeps the shape


def test_media_feature_neardup_sim_query(spark):
    """The registered feature->similarity E2E query: every perceptual
    near-dup pair (Hamming <= 3) also scores high in luminance-feature
    space, and the cosine stage runs only on the verdict pairs."""
    from etl_poc_spark.queries.multimodal_q import media_feature_neardup_sim

    rows = media_feature_neardup_sim(spark, "/root/testdata/sf0.001").collect()
    assert rows, "testdata contains near-dup documents -> image near-dups"
    assert all(r.id_a < r.id_b and r.hamming <= 3 for r in rows)
    # perceptual near-dups must be feature-space near-dups
    assert all(r.cos_sim > 0.95 for r in rows)
    # the Hamming-0 band contains the planted byte-identical copies (cos
    # exactly 1.0) plus occasional true dHash collisions (the hash samples
    # only 72 pixels, so distinct tiled images can collide — those still
    # clear the 0.95 floor, but not an exact-copy bound)
    h0 = [r.cos_sim for r in rows if r.hamming == 0]
    assert h0 and max(h0) == 1.0


def test_audio_feature_stats_query(spark):
    """The registered audio E2E query: per-band zero-crossing rate tracks
    the closed form 2f/sr and rms tracks amp/sqrt(2) for the rendered
    tones; every clip decodes through the REAL stdlib codec."""
    from etl_poc_spark.queries.multimodal_q import audio_feature_stats

    rows = audio_feature_stats(spark, "/root/testdata/sf0.001").collect()
    assert rows and all(r.n_decoded == r.n_clips for r in rows)
    for r in rows:
        # doc_id % 20 fixes doc_id % 5, so each band has ONE amplitude
        amp = 0.2 + ((r.freq_hz - 200) // 100 % 5) * 0.15
        assert abs(r.mean_rms - amp / 2 ** 0.5) < 0.01, r
        assert abs(r.mean_zcr - 2 * r.freq_hz / 8000) < 0.01, r


# --- audio -----------------------------------------------------------------


def _sine_wav_bytes(freq=440, sr=8000, seconds=1.0, amp=0.5, nch=1):
    import io
    import math
    import struct
    import wave

    n = int(sr * seconds)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(2)
        w.setframerate(sr)
        frames = bytearray()
        for i in range(n):
            v = int(amp * 32767 * math.sin(2 * math.pi * freq * i / sr))
            frames += struct.pack("<h", v) * nch
        w.writeframes(bytes(frames))
    return buf.getvalue()


def test_audio_stats_exact_for_three_channels():
    """Three distinct channels divide by a non-power of two (3 * 32768):
    rms, peak and zero-crossing rate still equal a Fraction reference
    computed from the raw integer samples. (On these samples, dividing
    each frame before squaring misses the reference rms by 1 ulp.)"""
    import io
    import math
    import struct
    import wave
    from fractions import Fraction

    from etl_poc_spark.multimodal.audiocodec import audio_stats, decode_wav

    nch, n = 3, 2000
    samples = [
        [int(0.5 * 32767 * math.sin(2 * math.pi * 440 * i / 8000 + c)) for c in range(nch)]
        for i in range(n)
    ]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"".join(struct.pack("<3h", *frame) for frame in samples))

    sr, got_nch, nframes, sums, divisor = decode_wav(buf.getvalue())
    assert (sr, got_nch, nframes, divisor) == (8000, nch, n, nch * 32768)
    rms, peak, zcr = audio_stats(sums, divisor)

    f = [sum(frame) for frame in samples]
    mean_square = Fraction(sum(v * v for v in f), n * divisor * divisor)
    assert rms == float(mean_square) ** 0.5
    assert peak == float(Fraction(max(abs(v) for v in f), divisor))
    crossings = sum((a < 0) != (b < 0) for a, b in zip(f, f[1:]))
    assert zcr == float(Fraction(crossings, n - 1))


def test_wav_decode_real_features(spark, tmp_path):
    """A synthesized 440 Hz sine WAV decodes for real: rms ~= amp/sqrt(2),
    zero-crossing rate ~= 2f/sr, duration exact."""
    from etl_poc_spark.multimodal.media import decode_audio_features

    wav = _sine_wav_bytes(freq=440, sr=8000, seconds=1.0, amp=0.5)
    df = spark.createDataFrame([("a.wav", wav)], "path string, content binary")
    row = decode_audio_features(df).collect()[0]
    assert row.decoded and row.format == "wav"
    assert row.sample_rate == 8000 and row.n_channels == 1 and row.n_frames == 8000
    assert abs(row.duration_sec - 1.0) < 1e-9
    assert abs(row.rms - 0.5 / 2 ** 0.5) < 0.01
    assert abs(row.zero_crossing_rate - 2 * 440 / 8000) < 0.005
    assert 0.49 < row.peak <= 0.5


def test_wav_stereo_downmix(spark):
    from etl_poc_spark.multimodal.media import decode_audio_features

    wav = _sine_wav_bytes(nch=2, seconds=0.25)
    df = spark.createDataFrame([("s.wav", wav)], "path string, content binary")
    row = decode_audio_features(df).collect()[0]
    assert row.decoded and row.n_channels == 2
    assert abs(row.duration_sec - 0.25) < 1e-9


def test_non_wav_fallback_and_strict(spark):
    """mp3-sniffed bytes: deterministic fallback features (decoded=False);
    strict mode raises at the decode seam instead."""
    import pytest

    from etl_poc_spark.multimodal.media import decode_audio_features

    fake_mp3 = b"ID3" + b"\x00" * 64
    df = spark.createDataFrame([("x.mp3", fake_mp3)], "path string, content binary")
    row = decode_audio_features(df).collect()[0]
    assert not row.decoded and row.format == "mp3"
    row2 = decode_audio_features(df).collect()[0]
    assert (row.sample_rate, row.rms, row.zero_crossing_rate) == (
        row2.sample_rate, row2.rms, row2.zero_crossing_rate
    )  # fallback is deterministic
    with pytest.raises(Exception, match="NotImplementedError|cannot decode"):
        decode_audio_features(df, strict=True).collect()
