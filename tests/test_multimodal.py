import pytest


def test_resize_images_exact_pixels(spark):
    import hashlib

    import numpy as np

    from shippai_knowledge_etl_spark.operators import multimodal as M

    text = "x" * 100  # fake decode: w=116, h=16
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = M.resize_images(
        M.attach_payload(df, "doc_id", "text"), 8, 4
    ).collect()[0]
    assert (out["src_w"], out["src_h"]) == (116, 16)
    assert (out["dst_w"], out["dst_h"]) == (8, 4)
    raw = text.encode()
    w, h = 116, 16
    grid = np.frombuffer(
        (raw * ((w * h) // len(raw) + 1))[: w * h], dtype=np.uint8
    ).reshape(h, w)
    yi = (np.arange(4) * h) // 4
    xi = (np.arange(8) * w) // 8
    expected = grid[yi][:, xi].tobytes()
    assert bytes(out["pixels"]) == expected
    assert out["pixel_md5"] == hashlib.md5(expected).hexdigest()
    assert out["ok"]


def test_resize_images_empty_payload_zero_grid(spark):
    from shippai_knowledge_etl_spark.operators import multimodal as M

    df = spark.createDataFrame([(1, "")], "doc_id long, text string")
    out = M.resize_images(
        M.attach_payload(df, "doc_id", "text"), 4, 4
    ).collect()[0]
    assert out["ok"] and (out["src_w"], out["src_h"]) == (16, 16)
    assert bytes(out["pixels"]) == b"\x00" * 16


def test_ahash_planted_copies_and_determinism(spark):
    """Identical payloads give identical signatures (hamming 0 pairs
    found for every planted copy) and the signature is a pure
    function of the payload across runs."""
    from shippai_knowledge_etl_spark.catalog import load_catalog

    fn = load_catalog()["mm_image_near_dup"].fn
    out = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in fn(spark, "/root/testdata/sf0.001").collect()
    }
    planted = {(i, i + 300000) for i in range(0, 500, 25)}
    assert planted <= set(out)
    assert all(out[p] == 0 for p in planted)
    out2 = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in fn(spark, "/root/testdata/sf0.001").collect()
    }
    assert out == out2


def test_image_near_dup_pigeonhole_guarantee(spark):
    """hamming <= 3 pairs are ALWAYS generated (3 flips cannot touch
    all 4 bands); a 4-flip pair hitting every band is correctly out of
    reach at max_hamming=3."""
    from shippai_knowledge_etl_spark.operators.multimodal import (
        image_near_dup,
    )

    base = 0x0123_4567_89AB_CDEF
    flip3 = base ^ 0b111  # 3 flips, all in band 0
    spread3 = base ^ (1 | (1 << 16) | (1 << 32))  # 3 flips, 3 bands
    flip4 = base ^ (1 | (1 << 16) | (1 << 32) | (1 << 48))  # all 4 bands

    def signed(v):
        return v - (1 << 64) if v >= 1 << 63 else v

    sigs = spark.createDataFrame(
        [(1, signed(base), True), (2, signed(flip3), True),
         (3, signed(spread3), True), (4, signed(flip4), True)],
        "doc_id long, sig long, ok boolean",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_near_dup(sigs, max_hamming=3).collect()
    }
    assert got[(1, 2)] == 3 and got[(1, 3)] == 3
    assert (1, 4) not in got  # hamming 4 > threshold, correctly dropped


def test_audio_vad_segments_merge_and_split(spark):
    """Synthetic multi-frame payloads: H=high-energy frame ('z'*256),
    L=low ('!'*256). HHLHH → 2 segments (longest 2); LLLL → 0; HHHH →
    1 segment of 4 — the islands merge exactly."""
    import os
    import tempfile

    H = "z" * 256  # ord z = 122 → energy 31232 > threshold
    L = "!" * 256  # ord ! = 33  → energy 8448  < threshold
    docs = [
        (1, H + H + L + H + H, "en", "s", 5 * 256),
        (2, L + L + L + L, "en", "s", 4 * 256),
        (3, H + H + H + H, "en", "s", 4 * 256),
    ]
    df = spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        from shippai_knowledge_etl_spark.catalog import load_catalog

        out = {
            r["doc_id"]: (r["n_frames"], r["n_speech_frames"],
                          r["n_segments"], r["longest_segment"])
            for r in load_catalog()["mm_audio_vad"].fn(spark, td).collect()
        }
    assert out[1] == (5, 4, 2, 2)
    assert out[2] == (4, 0, 0, 0)
    assert out[3] == (4, 4, 1, 4)


def test_png_codec_roundtrip_pixel_exact_all_filters():
    """Golden-array roundtrip: encode_png cycles ALL five RFC 2083
    filters (one per scanline, h >= 5), decode_png must reconstruct
    the exact pixel bytes. Content is a deterministic gradient chosen
    so every filter row has nonzero deltas both horizontally and
    vertically (a wrong Sub/Up/Average/Paeth cannot cancel out)."""
    from shippai_knowledge_etl_spark.operators.png_codec import (
        decode_png,
        encode_png,
    )

    w, h, c = 9, 7, 3
    golden = bytes(
        (x * 37 + y * 91 + ch * 53) % 256
        for y in range(h)
        for x in range(w)
        for ch in range(c)
    )
    data = encode_png(w, h, c, golden)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    ww, hh, cc, pixels = decode_png(data)
    assert (ww, hh, cc) == (w, h, c)
    assert pixels == golden  # bit-exact through all five filters

    # gray and RGBA channel layouts reconstruct exactly too
    for channels in (1, 2, 4):
        g = bytes(
            (x + 3 * y + 7 * ch) % 256
            for y in range(6)
            for x in range(5)
            for ch in range(channels)
        )
        ww, hh, cc, pixels = decode_png(encode_png(5, 6, channels, g))
        assert (ww, hh, cc) == (5, 6, channels)
        assert pixels == g


def test_png_codec_paeth_golden_scanline():
    """Checked-in golden: one Paeth-filtered scanline decoded by hand.
    Image 3x2 gray; row 0 filter None = [10, 20, 30]; row 1 filter
    Paeth with filtered bytes [1, 2, 3]. Paeth predictors for row 1:
    x=0: left=0, up=10, upleft=0 -> p=10, nearest is up=10 -> 11;
    x=1: left=11, up=20, upleft=10 -> p=21, |21-11|=10, |21-20|=1,
         |21-10|=11 -> up=20 -> 22;
    x=2: left=22, up=30, upleft=20 -> p=32, pa=10, pb=2, pc=12 ->
         up=30 -> 33."""
    import struct
    import zlib

    from shippai_knowledge_etl_spark.operators.png_codec import decode_png

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0)
    raw = bytes([0, 10, 20, 30]) + bytes([4, 1, 2, 3])
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    w, h, c, pixels = decode_png(data)
    assert (w, h, c) == (3, 2, 1)
    assert list(pixels) == [10, 20, 30, 11, 22, 33]


def test_png_codec_palette_and_scope_errors():
    """Palette images expand to RGB; 16-bit depth raises
    NotImplementedError; garbage raises ValueError. (Interlaced PNGs
    DECODE since round 10 — test_png_adam7_roundtrip_matches_flat —
    so the old raises-on-interlace assertion became a truncated-data
    ValueError check on a headers-only Adam7 stream.)"""
    import struct
    import zlib

    import pytest

    from shippai_knowledge_etl_spark.operators.png_codec import decode_png

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    magic = b"\x89PNG\r\n\x1a\n"
    # 2x2 palette image: indices [[0,1],[1,0]], palette red/blue
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 0, 255])
    raw = bytes([0, 0, 1]) + bytes([0, 1, 0])
    data = (
        magic
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    w, h, c, pixels = decode_png(data)
    assert (w, h, c) == (2, 2, 3)
    assert list(pixels) == [255, 0, 0, 0, 0, 255, 0, 0, 255, 255, 0, 0]

    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    bad16 = magic + chunk(b"IHDR", ihdr16)
    with pytest.raises(NotImplementedError, match="bit depth"):
        decode_png(bad16)

    # Adam7 is in scope now; a headers-only interlaced stream must
    # fail as MALFORMED DATA (no IDAT), not as unimplemented scope
    ihdr_i = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1)
    bad_i = magic + chunk(b"IHDR", ihdr_i) + chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        decode_png(bad_i)
    # and an out-of-range interlace method is invalid, not unsupported
    ihdr_x = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 2)
    bad_x = magic + chunk(b"IHDR", ihdr_x)
    with pytest.raises(ValueError, match="interlace"):
        decode_png(bad_x)

    with pytest.raises(ValueError, match="signature"):
        decode_png(b"JFIF not a png")


def test_decode_image_features_real_png_path(spark):
    """use_real_decoder=True now actually decodes PNG payloads via the
    stdlib codec (round 9): dimensions come from the real IHDR, not
    the byte-length fake."""
    from pyspark.sql import functions as F

    from shippai_knowledge_etl_spark.operators import multimodal as M
    from shippai_knowledge_etl_spark.operators.png_codec import encode_png

    png = encode_png(4, 3, 3, bytes(range(36)))
    df = spark.createDataFrame(
        [(1, bytearray(png))], "doc_id long, payload binary"
    ).select("doc_id", F.col("payload"), F.lit(None).alias("meta"))
    rows = M.decode_image_features(df, use_real_decoder=True).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["width"], r["height"], r["channels"]) == (4, 3, 3)
    assert r["ok"] is True
    assert r["byte_len"] == len(png)


def test_wav_codec_roundtrip_stereo_and_8bit():
    """Bit-exact roundtrips through the pure-stdlib WAV codec: PCM16
    stereo (interleaved order preserved) and PCM8 unsigned, plus the
    full-scale endpoints that would expose any sign/width slip."""
    from shippai_knowledge_etl_spark.operators.wav_codec import (
        decode_wav,
        encode_wav,
    )

    stereo = [-32768, 32767, 0, -1, 12345, -12345, 255, -256]
    rate, ch, bits, out = decode_wav(encode_wav(stereo, 44100, channels=2))
    assert (rate, ch, bits) == (44100, 2, 16)
    assert out == stereo

    pcm8 = [0, 255, 128, 7, 200, 64]
    rate, ch, bits, out = decode_wav(encode_wav(pcm8, 8000, channels=1, bits=8))
    assert (rate, ch, bits) == (8000, 1, 8)
    assert out == pcm8


def test_wav_codec_chunk_skip_and_extensible():
    """Decoder walks unknown chunks (odd-size LIST → word-aligned pad)
    and accepts WAVE_FORMAT_EXTENSIBLE whose SubFormat GUID is PCM —
    both layouts real encoders emit."""
    import struct

    from shippai_knowledge_etl_spark.operators.wav_codec import (
        _PCM_SUBFORMAT,
        decode_wav,
        encode_wav,
    )

    base = encode_wav([1000, -1000, 5], 16000)
    # splice an odd-length LIST chunk between WAVE and fmt
    inner = base[12:]
    spliced = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00" + inner
    data = b"RIFF" + struct.pack("<I", 4 + len(spliced)) + b"WAVE" + spliced
    rate, ch, bits, out = decode_wav(data)
    assert (rate, ch, out) == (16000, 1, [1000, -1000, 5])

    # extensible fmt: tag 0xFFFE, cbSize=22, valid-bits + mask + GUID
    pcm = struct.pack("<3h", 7, -7, 70)
    fmt = struct.pack("<HHIIHH", 0xFFFE, 1, 22050, 44100, 2, 16)
    fmt += struct.pack("<HHI", 22, 16, 4) + _PCM_SUBFORMAT
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    data = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, ch, bits, out = decode_wav(data)
    assert (rate, out) == (22050, [7, -7, 70])


def test_wav_codec_scope_errors():
    """Out-of-scope formats raise loudly (no silent fake): IEEE float
    tag, 24-bit depth, non-PCM extensible GUID, junk bytes, and
    encode-side range/interleave validation."""
    import struct

    import pytest

    from shippai_knowledge_etl_spark.operators.wav_codec import (
        decode_wav,
        encode_wav,
    )

    def wav_with_fmt(fmt: bytes) -> bytes:
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 2) + b"\x00\x00"
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    with pytest.raises(NotImplementedError, match="tag 3"):
        decode_wav(wav_with_fmt(struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)))
    with pytest.raises(NotImplementedError, match="24-bit"):
        decode_wav(wav_with_fmt(struct.pack("<HHIIHH", 1, 1, 8000, 24000, 3, 24)))
    with pytest.raises(NotImplementedError, match="SubFormat"):
        bad_guid = struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 16000, 2, 16)
        bad_guid += struct.pack("<HHI", 22, 16, 4) + b"\x03" + b"\x00" * 15
        decode_wav(wav_with_fmt(bad_guid))
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"ID3\x04 not a wav")
    with pytest.raises(ValueError, match="range"):
        encode_wav([40000], 8000)
    with pytest.raises(ValueError, match="multiple"):
        encode_wav([1, 2, 3], 8000, channels=2)
    with pytest.raises(NotImplementedError, match="24-bit"):
        encode_wav([0], 8000, bits=24)


def test_wav_decode_features_real_path(spark):
    """Spark-side end-to-end on a tiny frame: attach real WAV payloads,
    decode with the stdlib codec, check the integer stats against a
    direct Python recomputation of the generator."""
    from shippai_knowledge_etl_spark.operators import multimodal

    df = spark.range(0, 6).withColumnRenamed("id", "doc_id")
    out = (
        multimodal.wav_decode_features(
            multimodal.attach_wav_payload(df, "doc_id")
        )
        .orderBy("doc_id")
        .collect()
    )
    for r in out:
        i = r["doc_id"]
        n = 64 + 2 * (i % 32)
        ch = 1 + i % 2
        samples = [
            ((i * 2654435761 + k * 40503) % 65536) - 32768 for k in range(n)
        ]
        assert r["ok"] is True
        assert r["sample_rate"] == 8000 + (i % 4) * 4000
        assert r["channels"] == ch
        assert r["n_frames"] == n // ch
        assert r["sum_samples"] == sum(samples)
        assert r["sum_squares"] == sum(s * s for s in samples)


def test_mulaw_expand_matches_arithmetic_twin_full_range():
    """The byte codec (bit-test segment search, ones'-complement
    storage) equals the closed-form arithmetic the oracle evaluates,
    for EVERY 16-bit input — the exhaustive proof the mm_wav_mulaw
    hash gate leans on."""
    from shippai_knowledge_etl_spark.operators.wav_codec import (
        mulaw_compress,
        mulaw_expand,
    )

    def q_arith(x: int) -> int:
        a = min(abs(x), 32635)
        m = a + 132
        for e, lo in (
            (7, 16384), (6, 8192), (5, 4096), (4, 2048),
            (3, 1024), (2, 512), (1, 256), (0, 128),
        ):
            if m >= lo:
                break
        p = 1 << e
        q = ((m // (8 * p)) % 16 * 8 + 132) * p - 132
        return -q if x < 0 else q

    for x in range(-32768, 32768):
        assert mulaw_expand(mulaw_compress(x)) == q_arith(x), x
    # idempotence: reconstructed values are fixed points of the codec
    for x in range(-32768, 32768, 97):
        q = q_arith(x)
        assert mulaw_expand(mulaw_compress(q)) == q


def test_mulaw_wav_container_roundtrip():
    from shippai_knowledge_etl_spark.operators.wav_codec import (
        decode_wav,
        encode_wav_mulaw,
        mulaw_compress,
        mulaw_expand,
    )

    samples = [((3 * 2654435761 + k * 40503) % 65536) - 32768 for k in range(90)]
    rate, ch, bits, out = decode_wav(encode_wav_mulaw(samples, 8000, 1))
    assert (rate, ch, bits) == (8000, 1, 8)
    assert out == [mulaw_expand(mulaw_compress(s)) for s in samples]


def test_gif_codec_roundtrip_exact():
    """Pixel-exact GIF round trips across palette sizes, including the
    KwKwK self-reference and the 12-bit table-overflow clear/rebuild
    path — the full LZW state machine, not just literal codes."""
    import random

    from shippai_knowledge_etl_spark.operators.gif_codec import (
        decode_gif,
        encode_gif,
    )

    rng = random.Random(42)
    for _ in range(25):
        n_colors = rng.choice([2, 4, 16, 64, 256])
        w, h = rng.randrange(1, 60), rng.randrange(1, 40)
        palette = bytes(rng.randrange(256) for _ in range(3 * n_colors))
        idx = bytes(rng.randrange(n_colors) for _ in range(w * h))
        dw, dh, dp, di = decode_gif(encode_gif(w, h, palette, idx))
        assert (dw, dh, dp, di) == (w, h, palette, idx)
    # KwKwK trigger: long runs of one symbol
    pal4 = bytes(range(12))
    runs = (bytes([0]) * 500 + bytes([1, 1, 0, 0, 1]) * 40)[: 24 * 25]
    assert decode_gif(encode_gif(24, 25, pal4, runs))[3] == runs
    # 12-bit overflow → CLEAR + rebuild on a 300x300 high-entropy image
    pal256 = bytes(range(256)) * 3
    big = bytes(
        (x * 131 + y * 17 + (x * y) % 251) % 256
        for y in range(300)
        for x in range(300)
    )
    assert decode_gif(encode_gif(300, 300, pal256, big))[3] == big


def test_gif_codec_rejects_out_of_scope():
    import pytest

    from shippai_knowledge_etl_spark.operators.gif_codec import (
        decode_gif,
        encode_gif,
    )

    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"NOTAGIF" + b"\x00" * 20)
    with pytest.raises(ValueError, match="power-of-two"):
        encode_gif(2, 2, b"\x00" * 9, bytes(4))  # 3 colors
    with pytest.raises(ValueError, match="index buffer"):
        encode_gif(2, 2, b"\x00" * 6, bytes(5))
    g = encode_gif(3, 2, bytes(range(6)), bytes([0, 1, 1, 0, 1, 0]))
    # flip the image descriptor's interlace flag and expect the raise
    pos = g.index(b"\x2c")
    tampered = bytearray(g)
    tampered[pos + 9] |= 0x40
    with pytest.raises(NotImplementedError, match="interlaced"):
        decode_gif(bytes(tampered))


def test_gif_extension_blocks_are_skipped():
    """89a graphic-control / comment extensions before the image must
    parse transparently (real-world GIFs carry them)."""
    from shippai_knowledge_etl_spark.operators.gif_codec import (
        decode_gif,
        encode_gif,
    )

    g = encode_gif(4, 3, bytes(range(6)), bytes([0, 1] * 6))
    # splice a graphic-control extension right after the color table
    head, img = g[: 13 + 6], g[13 + 6 :]
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE: 4-byte block + term
    out = decode_gif(head + ext + img)
    assert out[3] == bytes([0, 1] * 6)


def test_bmp_codec_roundtrip_both_modes():
    """encode→decode is pixel-exact for 24bpp BI_RGB (every row-padding
    width 0..3) and for 8bpp BI_RLE8 through the palette, including
    runs that cross the 255-count encoder split."""
    import random

    from shippai_knowledge_etl_spark.operators.bmp_codec import (
        decode_bmp,
        encode_bmp_rgb24,
        encode_bmp_rle8,
    )

    rng = random.Random(7)
    for w in (1, 2, 3, 4, 5, 12, 13):  # 3w % 4 covers all paddings
        h = 3
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        assert decode_bmp(encode_bmp_rgb24(w, h, rgb)) == (w, h, 3, rgb)
    pal = [((j * 17) % 256, (j * 29) % 256, (j * 43) % 256) for j in range(256)]
    # long constant rows force runs > 255 → encoder must split them
    w, h = 300, 2
    idx = bytes([5] * w + [6] * w)
    got = decode_bmp(encode_bmp_rle8(w, h, idx, pal))
    exp = b"".join(bytes(pal[j]) for j in idx)
    assert got == (w, h, 3, exp)


def test_bmp_codec_top_row_orientation():
    """The decoder must undo bottom-up storage: a single bright TOP row
    must come back at y=0, not y=h-1 (pixel_sum alone cannot see this —
    the reason bmp_decode_features also reports top_row_sum)."""
    from shippai_knowledge_etl_spark.operators.bmp_codec import (
        decode_bmp,
        encode_bmp_rgb24,
    )

    w, h = 4, 3
    top = bytes((255, 255, 255)) * w
    rest = bytes(w * 3) * (h - 1)
    _, _, _, out = decode_bmp(encode_bmp_rgb24(w, h, top + rest))
    assert out[: w * 3] == top and sum(out[w * 3 :]) == 0


def test_bmp_codec_scope_errors():
    """Loud-raise posture: malformed input is ValueError, every
    unimplemented-but-valid mode is NotImplementedError."""
    import struct

    import pytest

    from shippai_knowledge_etl_spark.operators.bmp_codec import (
        decode_bmp,
        encode_bmp_rgb24,
    )

    with pytest.raises(ValueError):
        decode_bmp(b"PK\x03\x04" + b"\x00" * 60)
    good = bytearray(encode_bmp_rgb24(2, 2, bytes(12)))
    bad_bpp = bytearray(good)
    struct.pack_into("<H", bad_bpp, 28, 32)  # 32bpp
    with pytest.raises(NotImplementedError):
        decode_bmp(bytes(bad_bpp))
    topdown = bytearray(good)
    struct.pack_into("<i", topdown, 22, -2)  # negative height
    with pytest.raises(NotImplementedError):
        decode_bmp(bytes(topdown))
    truncated = bytes(good[:-5])
    with pytest.raises(ValueError):
        decode_bmp(truncated)


def test_wav_resample_features_hand_computed(spark):
    """Decode+decimate on a hand-built stereo clip: out L' = floor-mean
    of L frames 0,1 and 2,3; R' likewise — checked against by-hand
    values including a negative odd sum (bias keeps floor semantics)."""
    from shippai_knowledge_etl_spark.operators.multimodal import (
        wav_resample_features,
    )
    from shippai_knowledge_etl_spark.operators.wav_codec import encode_wav

    # frames (L, R): (10, -3), (11, -4), (-7, 100), (-8, 101)
    samples = [10, -3, 11, -4, -7, 100, -8, 101]
    payload = encode_wav(samples, 16000, 2)
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    row = wav_resample_features(df).collect()[0]
    # L: (10+11)//2 = 10 (floor of 10.5), R: (-3-4) → bias floor = -4
    # L: (-7-8)//2 → floor(-7.5) = -8, R: (100+101)//2 = 100
    out = [10, -4, -8, 100]
    assert row.n_frames_in == 4 and row.n_frames_out == 2
    assert row.sample_rate_out == 8000 and row.channels == 2
    assert row.sum_out == sum(out)
    assert row.sum_squares_out == sum(v * v for v in out)
    assert row.ok


def test_avi_codec_roundtrip_and_frame_order():
    """encode→decode is frame-exact and ORDER-preserving for every
    row-padding width; fps/frame-count headers round-trip."""
    import random

    from shippai_knowledge_etl_spark.operators.avi_codec import (
        decode_avi,
        encode_avi_rgb24,
    )

    rng = random.Random(11)
    for w in (1, 2, 3, 4, 8, 9):
        h, n = 5, 3
        frames = [
            bytes(rng.randrange(256) for _ in range(w * h * 3))
            for _ in range(n)
        ]
        got = decode_avi(encode_avi_rgb24(w, h, frames, fps=14))
        assert got == (w, h, 14, n, frames)


def test_avi_codec_scope_errors():
    """Loud-raise posture: malformed input is ValueError; compressed
    chunks and multi-stream headers are NotImplementedError."""
    import struct

    import pytest

    from shippai_knowledge_etl_spark.operators.avi_codec import (
        decode_avi,
        encode_avi_rgb24,
    )

    with pytest.raises(ValueError):
        decode_avi(b"RIFF\x08\x00\x00\x00WAVEdata")
    good = bytearray(encode_avi_rgb24(2, 2, [bytes(12)], fps=10))
    # '00db' → '00dc' (compressed frame chunk)
    idx = bytes(good).find(b"00db")
    bad = bytearray(good)
    bad[idx : idx + 4] = b"00dc"
    with pytest.raises(NotImplementedError):
        decode_avi(bytes(bad))
    # corrupt the avih stream count (offset: find 'avih' + 8 + 24)
    multi = bytearray(good)
    a = bytes(good).find(b"avih") + 8
    struct.pack_into("<I", multi, a + 24, 2)
    with pytest.raises(NotImplementedError):
        decode_avi(bytes(multi))
    # truncate a frame chunk → size mismatch
    short = bytearray(good)
    struct.pack_into("<I", short, idx + 4, 5)
    with pytest.raises(ValueError):
        decode_avi(bytes(short))


def test_png_adam7_roundtrip_matches_flat():
    """Interlaced encode→decode is pixel-exact and identical to the
    non-interlaced path across odd geometries (including sizes where
    some Adam7 passes are empty: 1×1, 2×3) and all channel counts."""
    import random

    from shippai_knowledge_etl_spark.operators.png_codec import (
        decode_png,
        encode_png,
    )

    rng = random.Random(9)
    for w, h, ch in [(1, 1, 3), (2, 3, 1), (7, 5, 3), (8, 8, 4),
                     (16, 23, 3), (9, 2, 2), (33, 17, 3)]:
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        assert decode_png(encode_png(w, h, ch, px)) == (w, h, ch, px)
        assert decode_png(
            encode_png(w, h, ch, px, interlace=True)
        ) == (w, h, ch, px)


def test_png16_codec_roundtrip_and_scope():
    """16-bit encode→decode is sample-exact through all five filters;
    8-bit streams are redirected to decode_png; palette-16 is invalid."""
    import random
    import struct

    import numpy as np
    import pytest

    from shippai_knowledge_etl_spark.operators.png_codec import (
        decode_png16,
        encode_png,
        encode_png16,
    )

    rng = random.Random(4)
    for w, h, ch in [(1, 1, 3), (7, 6, 1), (16, 11, 3), (9, 8, 4)]:
        arr = np.array(
            [[rng.randrange(65536) for _ in range(w * ch)] for _ in range(h)],
            dtype=np.uint16,
        )
        W, H, C, out = decode_png16(encode_png16(w, h, ch, arr))
        assert (W, H, C) == (w, h, ch) and (out == arr).all()
    with pytest.raises(ValueError, match="bit depth 8"):
        decode_png16(encode_png(2, 2, 3, bytes(12)))
    # hand-build a palette-16 IHDR: spec-invalid
    import zlib as _z

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", _z.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    magic = b"\x89PNG\r\n\x1a\n"
    bad = magic + chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)
    )
    with pytest.raises(ValueError, match="palette"):
        decode_png16(bad)


def test_jpeg_codec_flat_roundtrip_gray_and_420():
    """Flat-block JPEGs decode to EXACTLY the closed-form pixel values
    the SQL oracle predicts — gray with restarts, color 4:2:0 with
    interleaved MCUs (operators/jpeg_codec.py round-11 stretch)."""
    import math

    import numpy as np

    from shippai_knowledge_etl_spark.operators.jpeg_codec import (
        decode_jpeg,
        decoded_flat,
        encode_jpeg,
        flat_block,
    )

    for i in (0, 2, 4, 7 * 2):  # gray geometry variants
        w, h = 24 + 8 * (i % 3), 16 + 8 * (i % 2)
        coeffs = [
            [flat_block((i + 7 * bx + 13 * by) % 256, 5) for bx in range(w // 8)]
            for by in range(h // 8)
        ]
        data = encode_jpeg(
            w, h, [{"coeffs": coeffs, "q": [5] * 64, "hv": (1, 1)}],
            restart_interval=3,
        )
        ww, hh, nc, pix = decode_jpeg(data)
        assert (ww, hh, nc) == (w, h, 1)
        a = np.frombuffer(pix, dtype=np.uint8).reshape(h, w)
        for by in range(h // 8):
            for bx in range(w // 8):
                exp = decoded_flat((i + 7 * bx + 13 * by) % 256, 5)
                assert (a[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == exp).all()

    i = 9  # color: every pixel checked against the oracle arithmetic
    w, h = 32 + 16 * ((i // 2) % 2), 32
    ly = [
        [flat_block((i + 7 * bx + 13 * by) % 256, 5) for bx in range(w // 8)]
        for by in range(4)
    ]
    cb = [
        [flat_block((3 * i + 17 * mx + 29 * my) % 256, 6) for mx in range(w // 16)]
        for my in range(2)
    ]
    cr = [
        [flat_block((5 * i + 23 * mx + 31 * my) % 256, 6) for mx in range(w // 16)]
        for my in range(2)
    ]
    data = encode_jpeg(
        w,
        h,
        [
            {"coeffs": ly, "q": [5] * 64, "hv": (2, 2)},
            {"coeffs": cb, "q": [6] * 64, "hv": (1, 1)},
            {"coeffs": cr, "q": [6] * 64, "hv": (1, 1)},
        ],
        restart_interval=2,
    )
    ww, hh, nc, pix = decode_jpeg(data)
    assert (ww, hh, nc) == (w, h, 3)
    a = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, 3)
    clip = lambda x: min(max(int(math.floor(x)), 0), 255)  # noqa: E731
    for by in range(4):
        for bx in range(w // 8):
            y = decoded_flat((i + 7 * bx + 13 * by) % 256, 5)
            cbv = decoded_flat((3 * i + 17 * (bx // 2) + 29 * (by // 2)) % 256, 6)
            crv = decoded_flat((5 * i + 23 * (bx // 2) + 31 * (by // 2)) % 256, 6)
            r = clip(y + 1.402 * (crv - 128.0) + 0.5)
            g = clip(y - 0.344136 * (cbv - 128.0) - 0.714136 * (crv - 128.0) + 0.5)
            b = clip(y + 1.772 * (cbv - 128.0) + 0.5)
            blk = a[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            assert (blk == np.array([r, g, b])).all(), (bx, by)


def test_jpeg_codec_ac_path_matches_basis_summation():
    """AC-bearing blocks run the float IDCT; pin it against an
    INDEPENDENT direct 2-D basis summation (different evaluation
    order than the decoder's separable matrix product)."""
    import math

    import numpy as np

    from shippai_knowledge_etl_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(42)
    q = [int(x) for x in rng.randint(1, 32, 64)]
    bw_, bh_ = 4, 3
    blocks = []
    for _by in range(bh_):
        row = []
        for _bx in range(bw_):
            c = np.zeros(64, dtype=int)
            nz = rng.choice(64, rng.randint(1, 12), replace=False)
            c[nz] = rng.randint(-60, 60, len(nz))
            row.append([int(x) for x in c])
        blocks.append(row)
    data = encode_jpeg(32, 24, [{"coeffs": blocks, "q": q, "hv": (1, 1)}])
    _, _, _, pix = decode_jpeg(data)
    a = np.frombuffer(pix, dtype=np.uint8).reshape(24, 32).astype(int)

    def ref_block(coef):
        deq = np.array(coef, float).reshape(8, 8) * np.array(q, float).reshape(8, 8)
        out = np.zeros((8, 8))
        for y in range(8):
            for x in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = math.sqrt(0.5) if u == 0 else 1.0
                        cv = math.sqrt(0.5) if v == 0 else 1.0
                        s += (
                            cu * cv / 4.0 * deq[u, v]
                            * math.cos((2 * y + 1) * u * math.pi / 16)
                            * math.cos((2 * x + 1) * v * math.pi / 16)
                        )
                out[y, x] = s
        return np.clip(np.floor(out + 128.0 + 0.5), 0, 255).astype(int)

    for by in range(bh_):
        for bx in range(bw_):
            exp = ref_block(blocks[by][bx])
            got = a[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            assert (got == exp).all(), (bx, by)


def test_jpeg_codec_scope_errors():
    """Out-of-scope modes raise loudly; malformed streams raise
    ValueError — the documented codec contract."""
    import pytest

    from shippai_knowledge_etl_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
        flat_block,
    )

    coeffs = [[flat_block(100, 5)]]
    data = encode_jpeg(8, 8, [{"coeffs": coeffs, "q": [5] * 64, "hv": (1, 1)}])

    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x00" + data[2:])
    with pytest.raises(ValueError):
        decode_jpeg(data[:40])  # truncated before SOS
    # flip SOF0 -> SOF1 (extended sequential): still a loud raise
    sof = data.index(b"\xff\xc0")
    ext = data[:sof] + b"\xff\xc1" + data[sof + 2 :]
    with pytest.raises(NotImplementedError, match="SOF"):
        decode_jpeg(ext)
    # flip SOF0 -> SOF2: progressive is now IMPLEMENTED (round 12),
    # but a baseline scan header (Ss=0, Se=63) is illegal in a
    # progressive frame — the relabeled stream must fail loudly, not
    # decode garbage
    prog = data[:sof] + b"\xff\xc2" + data[sof + 2 :]
    with pytest.raises(ValueError, match="mix DC and AC"):
        decode_jpeg(prog)
    # 16-bit DQT: set Pq high nibble
    dqt = data.index(b"\xff\xdb")
    pq = bytearray(data)
    pq[dqt + 4] |= 0x10
    with pytest.raises(NotImplementedError, match="16-bit"):
        decode_jpeg(bytes(pq))
    # 12-bit precision in SOF
    prec = bytearray(data)
    prec[sof + 4] = 12
    with pytest.raises(NotImplementedError, match="12-bit"):
        decode_jpeg(bytes(prec))


def test_jpeg_decode_features_real_path(spark):
    """The Spark surface end-to-end at a handful of ids: encode in one
    Arrow map, decode in the next, all rows ok=true with the
    closed-form pixel sums (the driver gate's local twin)."""
    from shippai_knowledge_etl_spark.operators.jpeg_codec import decoded_flat
    from shippai_knowledge_etl_spark.operators.multimodal import (
        attach_jpeg_payload,
        jpeg_decode_features,
    )

    ids = spark.range(0, 6).withColumnRenamed("id", "doc_id")
    out = jpeg_decode_features(attach_jpeg_payload(ids, "doc_id"))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 6 and all(r["ok"] for r in rows.values())
    # id 0: gray 24x16, hand-check pixel_sum
    exp = sum(
        64 * decoded_flat((0 + 7 * bx + 13 * by) % 256, 5)
        for by in range(2)
        for bx in range(3)
    )
    assert rows[0]["pixel_sum"] == exp
    assert rows[1]["mode"] == "ycbcr420" and rows[1]["channels"] == 3


def test_ima_adpcm_roundtrip_and_state_replay():
    """encode→decode through the real block container equals a direct
    state-machine replay (the oracle's view), block headers re-seed
    the predictor exactly, and the quantizer tracks the signal."""
    from shippai_knowledge_etl_spark.operators.wav_codec import (
        _ima_encode_nibble,
        _ima_state_step,
        decode_wav_ima,
        encode_wav_ima,
    )

    for i in (0, 1, 5, 88):
        spb = 33
        n = spb * (2 + i % 2)
        samples = [
            ((i * 2654435761 + k * k * 40503) % 8192) - 4096 for k in range(n)
        ]
        data = encode_wav_ima(samples, 8000, spb, init_index=i % 89)
        rate, spb2, dec = decode_wav_ima(data)
        assert (rate, spb2, len(dec)) == (8000, spb, n)
        pred, idx = samples[0], i % 89
        rep = [pred]
        for k in range(1, n):
            if k % spb == 0:
                pred = samples[k]
                rep.append(pred)
                continue
            nib = _ima_encode_nibble(samples[k], pred, idx)
            pred, idx = _ima_state_step(pred, idx, nib)
            rep.append(pred)
        assert rep == dec
        for b in range(0, n, spb):
            assert dec[b] == samples[b]  # header predictor verbatim


def test_ima_adpcm_scope_errors():
    import struct as _s

    import pytest

    from shippai_knowledge_etl_spark.operators.wav_codec import (
        decode_wav_ima,
        encode_wav_ima,
    )

    with pytest.raises(ValueError, match="tile"):
        encode_wav_ima([1, 2, 3], 8000, 5)
    with pytest.raises(ValueError, match="odd"):
        encode_wav_ima([1, 2, 3, 4], 8000, 4)
    data = bytearray(encode_wav_ima([0] * 33, 8000, 33))
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav_ima(b"JUNK" + bytes(data[4:]))
    # flip the format tag to PCM → loud refusal
    fmt_at = bytes(data).index(b"fmt ") + 8
    bad = bytearray(data)
    _s.pack_into("<H", bad, fmt_at, 1)
    with pytest.raises(ValueError, match="format tag"):
        decode_wav_ima(bytes(bad))
    # stereo → NotImplementedError
    bad = bytearray(data)
    _s.pack_into("<H", bad, fmt_at + 2, 2)
    with pytest.raises(NotImplementedError, match="multi-channel"):
        decode_wav_ima(bytes(bad))


def test_tiff_codec_roundtrip_both_orders_and_packbits():
    from shippai_knowledge_etl_spark.operators.tiff_codec import (
        decode_tiff,
        encode_tiff,
        packbits_decode,
        packbits_encode,
    )

    # PackBits: literals, runs, boundary at 128
    for payload in (
        b"",
        b"\x01" * 300,
        b"abcdef",
        b"aaabccccdd" * 41,
        bytes(range(256)),
    ):
        assert packbits_decode(packbits_encode(payload), len(payload)) == payload

    for i in range(6):
        if i % 2 == 0:
            w, h = 17 + i % 7, 9 + i % 5
            pix = bytes(
                (i + 3 * x + 7 * y) % 256 for y in range(h) for x in range(w)
            )
            data = encode_tiff(
                w, h, pix, compression=1, rows_per_strip=4,
                big_endian=(i % 4 == 2),
            )
            assert data[:2] == (b"MM" if i % 4 == 2 else b"II")
        else:
            w, h = 18 + i % 6, 8 + i % 4
            pix = bytes(
                (5 * i + 31 * (x // 6) + 11 * y) % 256
                for y in range(h)
                for x in range(w)
            )
            data = encode_tiff(w, h, pix, compression=32773, rows_per_strip=3)
        assert decode_tiff(data) == (w, h, pix)


def test_tiff_codec_scope_errors():
    import struct as _s

    import pytest

    from shippai_knowledge_etl_spark.operators.tiff_codec import (
        decode_tiff,
        encode_tiff,
    )

    pix = bytes(64)
    data = encode_tiff(8, 8, pix, compression=1, rows_per_strip=8)
    with pytest.raises(ValueError, match="byte-order"):
        decode_tiff(b"XX" + data[2:])
    bad = bytearray(data)
    _s.pack_into("<H", bad, 2, 43)
    with pytest.raises(NotImplementedError, match="BigTIFF"):
        decode_tiff(bytes(bad))
    # flip compression tag value (entry 4, SHORT value at +8) to LZW (5)
    comp_entry = 8 + 2 + 3 * 12
    bad = bytearray(data)
    _s.pack_into("<H", bad, comp_entry + 8, 5)
    with pytest.raises(NotImplementedError, match="compression 5"):
        decode_tiff(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        decode_tiff(data[:4])


def test_avi_mjpeg_roundtrip_and_scope():
    """MJPG container walk returns frames in order; DIB decode and
    MJPG decode refuse each other's streams loudly."""
    import numpy as np
    import pytest

    from shippai_knowledge_etl_spark.operators.avi_codec import (
        decode_avi,
        decode_avi_mjpeg,
        encode_avi_mjpeg,
        encode_avi_rgb24,
    )
    from shippai_knowledge_etl_spark.operators.jpeg_codec import (
        decode_jpeg,
        decoded_flat,
        encode_jpeg,
        flat_block,
    )

    i, w, h = 4, 24, 16
    frames = []
    for f in range(3):
        coeffs = [
            [
                flat_block((i + 7 * bx + 13 * by + 31 * f) % 256, 5)
                for bx in range(w // 8)
            ]
            for by in range(h // 8)
        ]
        frames.append(
            encode_jpeg(w, h, [{"coeffs": coeffs, "q": [5] * 64, "hv": (1, 1)}])
        )
    avi = encode_avi_mjpeg(w, h, frames, fps=10)
    ww, hh, fps, out = decode_avi_mjpeg(avi)
    assert (ww, hh, fps, len(out)) == (w, h, 10, 3)
    for f, jf in enumerate(out):
        fw, fh, nc, pix = decode_jpeg(jf)
        a = np.frombuffer(pix, np.uint8).reshape(h, w)
        assert a[0, 0] == decoded_flat((i + 31 * f) % 256, 5)
    # the DIB decoder refuses compressed chunks, and vice versa
    with pytest.raises(NotImplementedError, match="MJPG|compressed"):
        decode_avi(avi)
    rgb = encode_avi_rgb24(2, 2, [bytes(12)])
    with pytest.raises(NotImplementedError, match="non-MJPG"):
        decode_avi_mjpeg(rgb)
    with pytest.raises(ValueError, match="JPEG"):
        encode_avi_mjpeg(2, 2, [b"not a jpeg"])


def test_tar_codec_roundtrip_stdlib_and_errors():
    """Our ustar stream parses with stdlib tarfile (independent
    implementation agreement), checksums catch corruption, scope
    raises are loud."""
    import io
    import tarfile

    import pytest

    from shippai_knowledge_etl_spark.operators.tar_codec import (
        decode_tar,
        encode_tar,
    )

    members = [
        (
            f"doc5_{m}.txt",
            bytes((35 + 13 * m + 31 * j) % 256 for j in range(40 + m)),
        )
        for m in range(3)
    ]
    t = encode_tar(members)
    assert decode_tar(t) == members
    tf = tarfile.open(fileobj=io.BytesIO(t))
    assert [(mi.name, tf.extractfile(mi).read()) for mi in tf.getmembers()] \
        == members
    # corrupt one header byte → checksum mismatch
    bad = bytearray(t)
    bad[5] ^= 0x01
    with pytest.raises(ValueError, match="checksum"):
        decode_tar(bytes(bad))
    # directory typeflag → loud refusal
    bad = bytearray(t)
    bad[156] = ord("5")
    with pytest.raises((ValueError, NotImplementedError)):
        decode_tar(bytes(bad))
    with pytest.raises(ValueError, match="block-aligned"):
        decode_tar(t[:100])
    with pytest.raises(NotImplementedError, match="longname"):
        encode_tar([("x" * 120, b"")])


def test_warc_codec_framing_survives_embedded_markers():
    """Content-Length framing is the contract: bodies containing blank
    lines and fake 'WARC/1.0' markers must parse byte-exactly."""
    import pytest

    from shippai_knowledge_etl_spark.operators.warc_codec import (
        decode_warc,
        encode_warc,
        http_response,
    )

    body = b"AAAA\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n\r\nBBBB"
    recs = [
        {"type": "warcinfo", "uri": None, "record_id": "w0",
         "payload": b"software: t"},
        {"type": "response", "uri": "http://e.com/1", "record_id": "r1",
         "payload": http_response(200, body)},
        {"type": "response", "uri": "http://e.com/2", "record_id": "r2",
         "payload": http_response(404, b"")},
    ]
    data = encode_warc(recs)
    out = decode_warc(data)
    assert [r["type"] for r in out] == ["warcinfo", "response", "response"]
    assert out[1]["body"] == body and out[1]["status"] == 200
    assert out[2]["status"] == 404
    with pytest.raises(ValueError, match="version"):
        decode_warc(b"WARC/0.9\r\n" + data[10:])
    with pytest.raises(ValueError, match="overruns|truncated"):
        decode_warc(data[:-20])
    bad = encode_warc(
        [{"type": "metadata", "uri": None, "record_id": "m",
          "payload": b"x"}]
    )
    with pytest.raises(NotImplementedError, match="metadata"):
        decode_warc(bad)


def test_zip_codec_crc_table_matches_zlib_and_detects_corruption():
    """The polynomial-derived CRC table equals zlib's CRC-32 over byte
    corpora; stdlib zipfile reads our archives; corruption is refused."""
    import io
    import zipfile
    import zlib

    import pytest

    from shippai_knowledge_etl_spark.operators.zip_codec import (
        crc32_bytes,
        decode_zip,
        encode_zip,
    )

    for payload in (b"", b"a", bytes(range(256)), b"spark" * 100):
        assert crc32_bytes(payload) == (zlib.crc32(payload) & 0xFFFFFFFF)
    members = [
        (f"f7_{m}.bin", bytes((7 + 97 * m + 131 * j) % 256
                              for j in range(24 + m)))
        for m in range(3)
    ]
    z = encode_zip(members)
    assert [(n, p) for n, p, _c, _m in decode_zip(z)] == members
    zf = zipfile.ZipFile(io.BytesIO(z))
    assert [(i.filename, zf.read(i)) for i in zf.infolist()] == members
    # flip a payload byte → CRC mismatch refused
    first_payload_at = z.index(members[0][1])
    bad = bytearray(z)
    bad[first_payload_at] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_zip(bytes(bad))
    with pytest.raises(ValueError, match="end-of-central"):
        decode_zip(z[: len(z) // 2])


def test_zip_codec_deflate_members():
    """Round-12 deflate widening: method-8 members inflate back to
    the exact payload bytes, stdlib zipfile agrees, compressible
    payloads actually shrink on the wire, a corrupted deflate stream
    is refused, and the CRC check runs over the INFLATED bytes (a
    bit-flip inside the compressed data fails CRC or inflate — never
    silently passes)."""
    import io
    import zipfile

    import pytest

    from shippai_knowledge_etl_spark.operators.zip_codec import (
        decode_zip,
        encode_zip,
    )

    members = [
        ("stored.bin", bytes(range(64))),
        ("deflated.txt", b"the quick brown fox " * 50),
        ("mixed.bin", bytes((7 * j) % 256 for j in range(200))),
    ]
    z = encode_zip(members, methods=[0, 8, 8])
    got = decode_zip(z)
    assert [(n, p) for n, p, _c, _m in got] == members
    assert [m for _n, _p, _c, m in got] == [0, 8, 8]
    zf = zipfile.ZipFile(io.BytesIO(z))
    assert [(i.filename, zf.read(i)) for i in zf.infolist()] == members
    info = {i.filename: i for i in zf.infolist()}
    assert info["deflated.txt"].compress_size < len(members[1][1])
    # corrupt a byte inside the deflated stream → loud refusal
    start = z.index(b"deflated.txt") + len("deflated.txt")
    bad = bytearray(z)
    bad[start + 4] ^= 0xFF
    with pytest.raises(ValueError, match="deflate|CRC|inflated"):
        decode_zip(bytes(bad))
    with pytest.raises(NotImplementedError, match="method"):
        encode_zip([("x", b"y")], methods=[12])


def test_pdf_reader_roundtrip_and_scope():
    """Text written by sources/pdf_writer comes back exactly: PDF
    escapes in Latin literals, CJK via the /F2 UTF-16BE hex path,
    multi-page order; scope violations raise loudly."""
    import pytest

    from shippai_knowledge_etl_spark.sources.pdf_reader import (
        extract_pdf_text,
    )
    from shippai_knowledge_etl_spark.sources.pdf_writer import (
        minimal_pdf,
        pdf_document,
    )

    i = 7
    pages = []
    for p in range(2):
        ops = []
        for m in range(3):
            ops.append(
                {"op": "text", "x": 100, "y": 200 + 30 * m,
                 "label": f"doc({i})-{p}-{m}\\end"}
            )
            ops.append(
                {"op": "text", "x": 100, "y": 900 + 30 * m,
                 "label": "".join(
                     chr(0x3042 + (i + p + m + j) % 60) for j in range(5)
                 )}
            )
        pages.append({"ops": ops, "w": 2100.0, "h": 2970.0})
    data = pdf_document(pages)
    texts = extract_pdf_text(data)
    assert len(texts) == 2 and texts[0][0] == f"doc({i})-0-0\\end"
    assert texts[1][1] == "".join(
        chr(0x3042 + (i + 1 + 0 + j) % 60) for j in range(5)
    )
    # rect labels and headings are text too
    d2 = minimal_pdf(
        [{"op": "rect", "x": 10, "y": 10, "w": 500, "h": 100,
          "fill": "#ff0000", "label": "boxed"},
         {"op": "text", "x": 10, "y": 300, "label": "hello"}],
        2100.0, 2970.0,
    )
    assert extract_pdf_text(d2) == [["boxed", "hello"]]
    with pytest.raises(ValueError, match="PDF"):
        extract_pdf_text(b"not a pdf")
    with pytest.raises(ValueError, match="startxref"):
        extract_pdf_text(data[: len(data) // 2])
    # corrupt the xref keyword so the table cannot be located
    bad = data.replace(b"xref\n0 ", b"xrEf\n0 ", 1)
    with pytest.raises((ValueError, NotImplementedError)):
        extract_pdf_text(bad)


def test_alaw_matches_audioop_full_range_and_closed_form():
    """Our A-law compress/expand are byte-equal to stdlib audioop over
    the ENTIRE 16-bit domain (independent-implementation agreement),
    and the oracle's closed-form Q(x) equals compress∘expand."""
    import struct
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    from shippai_knowledge_etl_spark.operators.wav_codec import (
        alaw_compress,
        alaw_expand,
        decode_wav,
        encode_wav_alaw,
    )

    for x in range(-32768, 32768, 7):  # dense stride incl. negatives
        assert alaw_compress(x) == audioop.lin2alaw(struct.pack("<h", x), 2)[0]
    for x in range(-64, 65):  # exhaustive near zero (segment 0 edges)
        assert alaw_compress(x) == audioop.lin2alaw(struct.pack("<h", x), 2)[0]
    for bb in range(256):
        assert alaw_expand(bb) == struct.unpack(
            "<h", audioop.alaw2lin(bytes([bb]), 2)
        )[0]

    def q_closed(x):
        pcm = x // 8 if x >= 0 else -((-x + 7) // 8)
        m = pcm if pcm >= 0 else -pcm - 1
        if m <= 31:
            t = 16 * ((m // 2) % 16) + 8
        elif m <= 63:
            t = 16 * ((m // 2) % 16) + 264
        elif m <= 4095:
            seg = m.bit_length() - 5
            t = (16 * ((m >> seg) % 16) + 264) << (seg - 1)
        else:
            t = 32256
        return t if pcm >= 0 else -t

    for x in range(-32768, 32768, 11):
        assert q_closed(x) == alaw_expand(alaw_compress(x)), x

    # container roundtrip through the tag-6 branch
    samples = [((5 * 2654435761 + k * 40503) % 65536) - 32768 for k in range(64)]
    rate, ch, bits, dec = decode_wav(encode_wav_alaw(samples, 8000))
    assert (rate, ch, bits) == (8000, 1, 8)
    assert dec == [alaw_expand(alaw_compress(s)) for s in samples]


def _jpg_coeff_grid(i, nbx, nby, q, nac, spread=False):
    """Deterministic quantized-coefficient grids for the progressive
    equivalence tests: flat DC per block + nac AC values in [-7, 7]
    (optionally spread across the zigzag range)."""
    from shippai_knowledge_etl_spark.operators.jpeg_codec import (
        ZIGZAG,
        flat_block,
    )

    grid = []
    for by in range(nby):
        row = []
        for bx in range(nbx):
            blk = flat_block((i + 7 * bx + 13 * by) % 256, q)
            for k in range(1, 1 + nac):
                kk = (k * 5) % 63 + 1 if spread else k
                blk[ZIGZAG[kk]] = ((i * 31 + bx * 7 + by * 13 + k * 5) % 15) - 7
            row.append(blk)
        grid.append(row)
    return grid


def test_jpeg_progressive_equals_baseline_decode():
    """THE progressive contract: successive approximation is lossless
    once every scan reaches Al=0, so decoding a complete SOF2 stream
    reproduces the baseline decode of the same quantized coefficients
    byte-for-byte — across grayscale and 4:2:0 color, AC density 0
    (pure EOB-run streams) through dense, spread zigzag positions,
    and restart intervals 0/1/2 in every scan."""
    from shippai_knowledge_etl_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    for i in range(6):
        for nac in (0, 3, 11):
            for spread in (False, True):
                comps = [
                    {
                        "coeffs": _jpg_coeff_grid(i, 3, 2, 5, nac, spread),
                        "q": [5] * 64,
                        "hv": (1, 1),
                    }
                ]
                base = decode_jpeg(encode_jpeg(24, 16, comps))
                prog = decode_jpeg(
                    encode_jpeg_progressive(
                        24, 16, comps, restart_interval=i % 3
                    )
                )
                assert prog == base, (i, nac, spread)
    for i in range(4):
        comps = [
            {"coeffs": _jpg_coeff_grid(i, 4, 4, 5, 7), "q": [5] * 64,
             "hv": (2, 2)},
            {"coeffs": _jpg_coeff_grid(3 * i + 1, 2, 2, 6, 4), "q": [6] * 64,
             "hv": (1, 1)},
            {"coeffs": _jpg_coeff_grid(5 * i + 2, 2, 2, 6, 4), "q": [6] * 64,
             "hv": (1, 1)},
        ]
        base = decode_jpeg(encode_jpeg(32, 32, comps, restart_interval=3))
        prog = decode_jpeg(
            encode_jpeg_progressive(32, 32, comps, restart_interval=(i % 2) * 2)
        )
        assert prog == base, i


def test_jpeg_progressive_fuzz_scripts_and_magnitudes():
    """Seeded fuzz over the full coefficient range with varying Al
    schedules (0..3), band splits (1/2/3 bands) and restart intervals:
    every script that reaches Al=0 must reproduce the baseline decode.
    Exercises EOBn runs > 1, ZRL-in-refinement, correction-bit
    buffering across run-covered blocks, and multi-level significance
    travel (a coefficient first visible only at the last pass)."""
    import numpy as np

    from shippai_knowledge_etl_spark.operators.jpeg_codec import (
        ZIGZAG,
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
        progressive_scan_script,
    )

    rng = np.random.RandomState(1207)
    for trial in range(30):
        nbx, nby = int(rng.randint(1, 5)), int(rng.randint(1, 4))
        grid = []
        for _by in range(nby):
            row = []
            for _bx in range(nbx):
                blk = [0] * 64
                blk[0] = int(rng.randint(-200, 200))
                for _ in range(int(rng.randint(0, 30))):
                    blk[ZIGZAG[int(rng.randint(1, 64))]] = int(
                        rng.randint(-127, 128)
                    )
                row.append(blk)
            grid.append(row)
        comps = [{"coeffs": grid, "q": [3] * 64, "hv": (1, 1)}]
        base = decode_jpeg(encode_jpeg(nbx * 8, nby * 8, comps))
        sc = progressive_scan_script(
            1,
            dc_al=int(rng.randint(0, 3)),
            ac_al=int(rng.randint(0, 4)),
            bands=(((1, 63),), ((1, 5), (6, 63)),
                   ((1, 2), (3, 20), (21, 63)))[trial % 3],
        )
        prog = decode_jpeg(
            encode_jpeg_progressive(
                nbx * 8, nby * 8, comps,
                restart_interval=int(rng.randint(0, 4)), scans=sc,
            )
        )
        assert prog == base, trial


def test_jpeg_progressive_eob_run_spanning_blocks():
    """A corpus shaped to force one EOBn code covering MANY blocks
    (all-zero AC everywhere except the last block): the decoder must
    carry the run across blocks and restart boundaries must reset it."""
    from shippai_knowledge_etl_spark.operators.jpeg_codec import (
        ZIGZAG,
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
        flat_block,
    )

    grid = [[flat_block(40 + 9 * bx, 5) for bx in range(8)] for _ in range(1)]
    grid[0][7][ZIGZAG[3]] = 5  # only the last block carries AC
    comps = [{"coeffs": grid, "q": [5] * 64, "hv": (1, 1)}]
    base = decode_jpeg(encode_jpeg(64, 8, comps))
    for ri in (0, 3):
        prog = decode_jpeg(
            encode_jpeg_progressive(64, 8, comps, restart_interval=ri)
        )
        assert prog == base, ri


def test_jpeg_build_huffman_spec_properties():
    """The Annex K.2 builder: lengths ≤ 16, Kraft inequality strictly
    honored (incomplete codes are legal), every input symbol present
    exactly once, and a canonical decode table round-trips every
    symbol — including a skewed 200-symbol distribution that forces
    the ADJUST_BI >16-bit fold."""
    from shippai_knowledge_etl_spark.operators.jpeg_codec import (
        _canonical_codes,
        _decode_table,
        build_huffman_spec,
    )

    cases = [
        {0: 1},
        {0: 5, 1: 3, 0xF0: 1},
        {s: 2 ** max(0, 18 - s) for s in range(200)},  # forces ADJUST_BI
        {s: 1 + (s * 7) % 13 for s in range(0, 256, 3)},
    ]
    for freq in cases:
        bits, vals = build_huffman_spec(freq)
        assert len(bits) == 16 and sum(bits) == len(vals)
        assert sorted(vals) == sorted(freq)
        assert sum(n * 2 ** (16 - ln) for ln, n in
                   zip(range(1, 17), bits)) < 2 ** 16  # strict: all-ones free
        enc = _canonical_codes(bits, vals)
        dec = _decode_table(bits, vals)
        assert len(enc) == len(freq)
        for sym, (code, ln) in enc.items():
            # decode table keys are 1-prefixed ints (round 13): the
            # leading 1 bit disambiguates code lengths
            assert dec[(1 << ln) | code] == sym


def test_jpeg_idct_plane_matches_per_block_idct():
    """Round-13 internals pin: the batched `_idct_plane` must equal the
    per-block `_idct_block` loop it replaced on every block — including
    the exact-integer DC-only shortcut, clipping extremes, and negative
    DCs — so the vectorization can never drift from the scalar path."""
    import numpy as np

    from shippai_knowledge_etl_spark.operators.jpeg_codec import (
        ZIGZAG,
        _idct_block,
        _idct_plane,
    )

    rng = np.random.RandomState(1309)
    for trial in range(8):
        nby, nbx = int(rng.randint(1, 5)), int(rng.randint(1, 6))
        deq = np.zeros((nby, nbx, 64), dtype=np.int64)
        for by in range(nby):
            for bx in range(nbx):
                kind = (by + bx + trial) % 4
                deq[by, bx, 0] = int(rng.randint(-3000, 3000))
                if kind == 0:
                    pass  # DC-only block → integer shortcut path
                elif kind == 1:
                    for _ in range(int(rng.randint(1, 12))):
                        deq[by, bx, ZIGZAG[int(rng.randint(1, 64))]] = int(
                            rng.randint(-600, 600)
                        )
                elif kind == 2:
                    deq[by, bx, :] = rng.randint(-2000, 2000, 64)
                # kind == 3: DC-only at a clipping extreme
                else:
                    deq[by, bx, 0] = 5000 if trial % 2 else -5000
        plane = _idct_plane(deq)
        for by in range(nby):
            for bx in range(nbx):
                ref = _idct_block(deq[by, bx])
                got = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                assert (got == ref).all(), (trial, by, bx)


def test_jpeg_band_events_matches_position_walk():
    """Round-13 internals pin: `_band_events` (the AC encoders' skip-
    the-zeros precompute) must list exactly the positions whose shifted
    magnitude is nonzero, in (block, k) raster order, with the correct
    magnitudes and signs — the walk the per-position loop used to do."""
    import numpy as np

    from shippai_knowledge_etl_spark.operators.jpeg_codec import (
        ZIGZAG,
        _band_events,
        _scan_units,
    )

    rng = np.random.RandomState(42)
    for ss, se, al in ((1, 5, 2), (6, 63, 1), (1, 63, 0), (3, 20, 3)):
        nby, nbx = 3, 4
        grid = [
            [
                [int(rng.randint(-40, 40)) for _ in range(64)]
                for _bx in range(nbx)
            ]
            for _by in range(nby)
        ]
        comps = [{"hv": (1, 1)}]
        units = _scan_units(nbx * 8, nby * 8, comps, [0])
        ev_b, ev_k, ev_mag, ev_pos, nev = _band_events(
            [grid], units, ss, se, al
        )
        expect = []
        for u, blocks in enumerate(units):
            _ci, by, bx = blocks[0]
            blk = grid[by][bx]
            for k in range(ss, se + 1):
                t = abs(blk[ZIGZAG[k]]) >> al
                if t:
                    expect.append((u, k - ss, t, blk[ZIGZAG[k]] > 0))
        assert nev == len(expect)
        assert list(zip(ev_b, ev_k, ev_mag, ev_pos)) == expect


def test_jpeg_progressive_features_real_path(spark):
    """The Spark surface end-to-end at a handful of ids: three real
    streams per row, flat-progressive sums equal the closed form,
    AC-pair decode difference exactly zero, scan counts pin the
    script (8 grayscale / 20 color)."""
    from shippai_knowledge_etl_spark.operators.jpeg_codec import decoded_flat
    from shippai_knowledge_etl_spark.operators.multimodal import (
        attach_jpeg_progressive_payload,
        jpeg_progressive_features,
    )

    ids = spark.range(0, 6).withColumnRenamed("id", "doc_id")
    out = jpeg_progressive_features(
        attach_jpeg_progressive_payload(ids, "doc_id")
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 6 and all(r["ok"] for r in rows.values())
    assert all(r["diff_sum"] == 0 and r["diff_wsum"] == 0
               for r in rows.values())
    assert rows[0]["n_scans"] == 8 and rows[1]["n_scans"] == 20
    exp = sum(
        64 * decoded_flat((0 + 7 * bx + 13 * by) % 256, 5)
        for by in range(2)
        for bx in range(3)
    )
    assert rows[0]["pixel_sum"] == exp
    assert rows[1]["channels"] == 3


def test_warc_gzip_member_framing():
    """Member-wise .warc.gz: every record its own gzip member (the
    Common Crawl random-access contract). decode_warc_auto reports the
    member count, refuses a member that frames two records or a
    truncated member, and stdlib gzip.decompress agrees with the
    concatenated plaintext."""
    import gzip

    import pytest

    from shippai_knowledge_etl_spark.operators.warc_codec import (
        decode_warc_auto,
        encode_warc,
        encode_warc_gzip,
        http_response,
    )

    recs = [
        {"type": "warcinfo", "uri": None, "record_id": "w0",
         "payload": b"software: x"},
        {"type": "response", "uri": "http://e.com/1", "record_id": "r1",
         "payload": http_response(200, b"\r\n\r\nWARC/1.0\r\n\r\nbody-a")},
        {"type": "response", "uri": "http://e.com/2", "record_id": "r2",
         "payload": http_response(404, b"body-b")},
    ]
    plain = encode_warc(recs)
    gz = encode_warc_gzip(recs)
    got_plain, n0 = decode_warc_auto(plain)
    got_gz, n3 = decode_warc_auto(gz)
    assert n0 == 0 and n3 == 3
    assert got_plain == got_gz
    assert [r["status"] for r in got_gz if r["type"] == "response"] == [
        200, 404]
    assert gzip.decompress(gz) == plain
    # one member holding TWO records violates the per-record contract
    bad = gzip.compress(encode_warc(recs[:2]), mtime=0) + gzip.compress(
        encode_warc([recs[2]]), mtime=0
    )
    with pytest.raises(ValueError, match="frames 2 records"):
        decode_warc_auto(bad)
    with pytest.raises(ValueError, match="gzip"):
        decode_warc_auto(gz[: len(gz) - 8])


def test_pdf_reader_flate_and_tj_arrays():
    """Round-12 reader widening: /FlateDecode streams inflate (with
    /Length framing the COMPRESSED bytes), TJ array segments
    concatenate into one shown run with kerning numbers dropped and
    escapes working ACROSS segment boundaries, non-flate filters
    still raise, and a corrupted flate stream is refused."""
    import zlib

    import pytest

    from shippai_knowledge_etl_spark.sources.pdf_reader import (
        extract_pdf_text,
    )

    content = (
        b"BT /F1 12 Tf [(a\\() -10 (b) -12 (\\)c)] TJ "
        b"/F2 14 Tf <30423044> Tj ET"
    )
    comp = zlib.compress(content)

    def pdf(stream_obj: bytes) -> bytes:
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
            4: stream_obj,
        }
        out = bytearray(b"%PDF-1.5\n")
        offs = {}
        for oid in (4, 3, 2, 1):  # scrambled physical order
            offs[oid] = len(out)
            out += b"%d 0 obj\n" % oid + objs[oid] + b"\nendobj\n"
        xref_at = len(out)
        out += b"xref\n0 5\n0000000000 65535 f \n"
        for oid in range(1, 5):
            out += b"%010d 00000 n \n" % offs[oid]
        out += (
            b"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % xref_at
        )
        return bytes(out)

    flate_obj = (
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(comp)
        + comp + b"\nendstream"
    )
    pages = extract_pdf_text(pdf(flate_obj))
    assert pages == [["a(b)c", "あい"]]

    plain_obj = (
        b"<< /Length %d >>\nstream\n" % len(content) + content
        + b"\nendstream"
    )
    assert extract_pdf_text(pdf(plain_obj)) == [["a(b)c", "あい"]]

    with pytest.raises(NotImplementedError, match="LZWDecode"):
        extract_pdf_text(pdf(
            b"<< /Length %d /Filter /LZWDecode >>\nstream\n" % len(comp)
            + comp + b"\nendstream"
        ))
    bad = bytearray(comp)
    bad[5] ^= 0xFF
    with pytest.raises(ValueError, match="FlateDecode"):
        extract_pdf_text(pdf(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(bad)
            + bytes(bad) + b"\nendstream"
        ))


ATTACH_PAYLOADS = (
    "attach_png_payload",
    "attach_wav_payload",
    "attach_gif_payload",
    "attach_mulaw_payload",
    "attach_bmp_payload",
    "attach_avi_payload",
    "attach_srt_payload",
    "attach_png16_payload",
    "attach_jpeg_payload",
    "attach_jpeg_progressive_payload",
    "attach_adpcm_payload",
    "attach_tiff_payload",
    "attach_mjpeg_payload",
    "attach_tar_payload",
    "attach_warc_payload",
    "attach_zip_payload",
    "attach_pdf_payload",
    "attach_pdf_flate_payload",
    "attach_alaw_payload",
    "attach_utf8_payload",
)


@pytest.mark.parametrize("name", ATTACH_PAYLOADS)
def test_attach_payload_reads_any_id_column(spark, name):
    """The ingestion edge renames the id column to doc_id, so an id
    column with any other name gives the same rows as one named
    doc_id (reading pdf[id_col] after the rename used to KeyError)."""
    from shippai_knowledge_etl_spark.operators import multimodal, textops

    fn = getattr(textops if name == "attach_utf8_payload" else multimodal, name)
    ids = spark.range(3)
    by_doc = sorted(fn(ids.withColumnRenamed("id", "doc_id"), "doc_id").collect())
    by_case = sorted(fn(ids.withColumnRenamed("id", "case_id"), "case_id").collect())
    assert [r["doc_id"] for r in by_case] == [0, 1, 2]
    assert by_case == by_doc


REAL_CODEC_MAPS = (
    "png_decode_features",
    "wav_decode_features",
    "wav_vad_features",
    "png_downsample_features",
    "gif_decode_features",
    "wav_mulaw_features",
    "bmp_decode_features",
    "png_tile_signatures",
    "wav_resample_features",
    "avi_decode_features",
    "png16_decode_features",
    "jpeg_decode_features",
    "jpeg_progressive_features",
    "adpcm_decode_features",
    "tiff_decode_features",
    "mjpeg_decode_features",
    "tar_extract_features",
    "warc_parse_features",
    "zip_extract_features",
    "pdf_text_features",
    "wav_alaw_features",
)


@pytest.mark.parametrize("name", REAL_CODEC_MAPS)
def test_decode_map_garbage_and_empty_input(spark, name):
    """Errors are data on degenerate input: a payload no codec accepts
    gives exactly one (doc_id, all-null features, ok=false) row, and an
    empty frame gives no rows."""
    from shippai_knowledge_etl_spark.operators import multimodal

    fn = getattr(multimodal, name)
    cols = (
        ("flat_prog", "acb_base", "acb_prog")
        if name == "jpeg_progressive_features"
        else ("payload",)
    )
    schema = "doc_id long, " + ", ".join(f"{c} binary" for c in cols)
    garbage = spark.createDataFrame([(7, *[b"not a codec stream"] * len(cols))], schema)
    rows = fn(garbage).collect()
    assert len(rows) == 1
    row = rows[0].asDict()
    assert row.pop("doc_id") == 7 and row.pop("ok") is False
    assert row and set(row.values()) == {None}
    assert fn(spark.createDataFrame([], schema)).collect() == []


def test_frame_maps_skip_null_payloads(spark):
    """sample_frames and audio_energy_frames emit no rows for a null
    payload instead of failing the task on bytes(None)."""
    import hashlib

    from shippai_knowledge_etl_spark.operators import multimodal as M

    df = spark.createDataFrame(
        [(1, b"abcdef"), (2, None)], "doc_id long, payload binary"
    )
    frames = sorted(tuple(r) for r in M.sample_frames(df, 3).collect())
    assert frames == [
        (1, i, hashlib.md5(c).hexdigest()) for i, c in enumerate((b"ab", b"cd", b"ef"))
    ]
    energy = sorted(tuple(r) for r in M.audio_energy_frames(df, 3).collect())
    assert energy == [(1, 0, sum(b"abc")), (1, 1, sum(b"def"))]


def test_multimodal_edges_call_sites():
    """Spark-free AST guard: in operators/multimodal.py only the two
    shared edges and the three maps that cannot use them call
    mapInPandas, and the PCM16 LCG stream is written once in
    operators/ (multimodal._pcm16)."""
    import ast
    from pathlib import Path

    import shippai_knowledge_etl_spark as pkg

    allowed = {
        "_synthesize",
        "_decode_map",
        "decode_image_features",
        "sample_frames",
        "audio_energy_frames",
    }
    root = Path(pkg.__file__).parent / "operators"
    tree = ast.parse((root / "multimodal.py").read_text(encoding="utf-8"))
    sites = [
        fn.name
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        for n in ast.walk(fn)
        if isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "mapInPandas"
    ]
    assert sorted(sites) == sorted(allowed), sites

    def is_const(node, value):
        return isinstance(node, ast.Constant) and node.value == value

    n_streams = sum(
        isinstance(n, ast.BinOp)
        and isinstance(n.op, ast.Mod)
        and is_const(n.right, 65536)
        and any(is_const(c, 40503) for c in ast.walk(n.left))
        for path in sorted(root.glob("*.py"))
        for n in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
    )
    assert n_streams == 1, n_streams
