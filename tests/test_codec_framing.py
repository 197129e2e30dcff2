"""Spark-free guards for the container framing of the wav/avi/bmp/png/jpeg
codecs: encoder byte goldens, the decoders' error contract on truncated
input, and the single home of each container layout."""

import hashlib
import struct

import numpy as np
import pytest

from shippai_knowledge_etl_spark.operators import (
    avi_codec,
    bmp_codec,
    jpeg_codec,
    png_codec,
    wav_codec,
)


def _pcm16(n, mul=2654435761):
    return [(i * mul) % 65536 - 32768 for i in range(n)]


def _rgb(w, h, seed=0):
    return bytes((x * 37 + y * 91 + c * 53 + seed) % 256
                 for y in range(h) for x in range(w) for c in range(3))


_PALETTE = [((7 * j) % 256, (13 * j) % 256, (29 * j) % 256) for j in range(256)]
_RLE_IDX = bytes((x // 3 + 5 * y) % 256 for y in range(3) for x in range(7))
_MJPEG = [b"\xff\xd8" + bytes(range(7)) + b"\xff\xd9", b"\xff\xd8\x01\xff\xd9\x00"]
_Q = [1 + (k * 5) % 23 for k in range(64)]


def _jpg_blocks(nby, nbx, seed):
    """Quantized 8x8 blocks: a DC ramp plus a sparse AC pattern."""
    return [[[(by * 31 + bx * 17 + k * 7 + seed) % 11 - 5
              if k == 0 or (k * k + seed) % 5 == 0 else 0
              for k in range(64)] for bx in range(nbx)] for by in range(nby)]


_JPG_420 = [
    {"coeffs": _jpg_blocks(2, 4, 0), "q": _Q, "hv": (2, 2)},
    {"coeffs": _jpg_blocks(1, 2, 1), "q": _Q[::-1], "hv": (1, 1)},
    {"coeffs": _jpg_blocks(1, 2, 2), "q": _Q[::-1], "hv": (1, 1)},
]
_U16 = np.array([[(r * 7919 + c * 104729) % 65536 for c in range(10)]
                 for r in range(6)], dtype=np.uint16)

# Each encoder on fixed inputs; odd payload lengths exercise RIFF padding,
# odd widths the DIB row padding.
ENCODERS = {
    "wav_8bit": lambda: wav_codec.encode_wav(
        [(i * 37) % 256 for i in range(31)], 8000, channels=1, bits=8),
    "wav_16bit": lambda: wav_codec.encode_wav(_pcm16(24), 16000, channels=2),
    "wav_mulaw": lambda: wav_codec.encode_wav_mulaw(_pcm16(33), 8000),
    "wav_alaw": lambda: wav_codec.encode_wav_alaw(_pcm16(34), 8000, channels=2),
    "wav_ima": lambda: wav_codec.encode_wav_ima(
        _pcm16(27, 40503), 8000, 9, init_index=3),
    "avi_rgb24": lambda: avi_codec.encode_avi_rgb24(
        3, 2, [_rgb(3, 2), _rgb(3, 2, 1)], fps=12),
    "avi_mjpeg": lambda: avi_codec.encode_avi_mjpeg(5, 4, _MJPEG, fps=7),
    "bmp_rgb24": lambda: bmp_codec.encode_bmp_rgb24(5, 3, _rgb(5, 3)),
    "bmp_rle8": lambda: bmp_codec.encode_bmp_rle8(7, 3, _RLE_IDX, _PALETTE),
    "png_flat": lambda: png_codec.encode_png(9, 7, 3, _rgb(9, 7)),
    "png_flat_nofilter": lambda: png_codec.encode_png(
        9, 7, 3, _rgb(9, 7), filter_cycle=False),
    "png_adam7": lambda: png_codec.encode_png(
        9, 7, 3, _rgb(9, 7), interlace=True),
    "png_adam7_nofilter": lambda: png_codec.encode_png(
        9, 7, 3, _rgb(9, 7), filter_cycle=False, interlace=True),
    "png16": lambda: png_codec.encode_png16(5, 6, 2, _U16),
    "jpeg_gray": lambda: jpeg_codec.encode_jpeg(
        16, 8, [{"coeffs": _jpg_blocks(1, 2, 3), "q": _Q, "hv": (1, 1)}]),
    "jpeg_420_rst": lambda: jpeg_codec.encode_jpeg(
        32, 16, _JPG_420, restart_interval=1),
    "jpeg_progressive_420_rst": lambda: jpeg_codec.encode_jpeg_progressive(
        32, 16, _JPG_420, restart_interval=1),
}

# Recorded before the container code was folded. The PNG entries hash
# zlib's level-6 stream, so they assume the zlib build Python links.
GOLDEN_SHA256 = {
    "avi_mjpeg": "80756690f22a824609398db2e7cac6e9d828d453534cc6db8d9efae713801714",
    "avi_rgb24": "6a1d1195f5edba19a13552ef22c7f0a9ebbe24dd3ebb883a0171c6add2e6e24b",
    "bmp_rgb24": "5f1f4d0b1045c98722494e07d886cce507069eee5e16c23e4a2768c5481962c7",
    "bmp_rle8": "513d6407f2ba0247aec56a696a01912ee140de18f337061de090e15c56a8db7a",
    "jpeg_420_rst": "f1266c7cb191da45c7f0d997fc34713db73c1e986b1ffa90f9674c415e45a7b6",
    "jpeg_gray": "fb06ef4d143d0cf492a291ff3d51e9a3e9f6cd9506dab6f0055a18742e1a2419",
    "jpeg_progressive_420_rst": "f30b7a20178f215931ac98328eb7e036342b04eca9ced93885294fbb9d4dda35",
    "png16": "547016b65ebb1d92d6955386acd9de0f5cf1d579c04172d71d93b92d28806b01",
    "png_adam7": "545178955893658d2d37a4ec62349f2de4c7731dce910b07fedc9f7c4fa2c3b3",
    "png_adam7_nofilter": "136703e40fb9677323b2f8435767c5ea2e86274e9b1e44b19953aaae6b13d4a2",
    "png_flat": "0fe7a532f8133e77e1158cc0b0de9db8937e14f538a72b6929a773e9d1b6f1a0",
    "png_flat_nofilter": "913e5a1115153530255bdf9a5ec8c468b5dc854ec13195ec1dbd5d6d3c5272b7",
    "wav_16bit": "9cdd5e2d35b223e168ad4e46324133165769d45da5fad2d0513cce8c87f0aa67",
    "wav_8bit": "aeaec611a018b0292f2e489c0409b893b1c731c6514239f5f9fd36270af9ece6",
    "wav_alaw": "c91a0c82298bcd0f846911d001bd4347924a8ac403f3991ecff9473478f671ec",
    "wav_ima": "7a2197d599bd5c4e7dc608b4390243201f3a0d31c58acc53cb7be025bc1140b1",
    "wav_mulaw": "9dba8e49fb5c123209daf7b826af751f44242503e2e9e4b7b30d16c2427fe040",
}


@pytest.mark.parametrize("name", sorted(ENCODERS))
def test_encoder_byte_golden(name):
    """Round trips alone would pass a fold that changed the bytes
    symmetrically on both sides; these pin the encoded bytes."""
    assert hashlib.sha256(ENCODERS[name]()).hexdigest() == GOLDEN_SHA256[name]


# (decoder, the golden stream whose every proper prefix it is fed)
PREFIX_SWEEP = [
    ("decode_wav", "wav_8bit"),
    ("decode_wav", "wav_16bit"),
    ("decode_wav", "wav_mulaw"),
    ("decode_wav", "wav_alaw"),
    ("decode_wav_ima", "wav_ima"),
    ("decode_avi", "avi_rgb24"),
    ("decode_avi_mjpeg", "avi_mjpeg"),
    ("decode_bmp", "bmp_rgb24"),
    ("decode_bmp", "bmp_rle8"),
    ("decode_png", "png_flat"),
    ("decode_png", "png_adam7"),
    ("decode_png16", "png16"),
    ("decode_jpeg", "jpeg_gray"),
    ("decode_jpeg", "jpeg_420_rst"),
    ("decode_jpeg", "jpeg_progressive_420_rst"),
]
_MODULES = (wav_codec, avi_codec, bmp_codec, png_codec, jpeg_codec)


@pytest.mark.parametrize("decoder,stream", PREFIX_SWEEP)
def test_decoder_truncation_contract(decoder, stream):
    """Every prefix of a valid stream either decodes or raises the
    documented ValueError (NotImplementedError for scope gaps); no raw
    struct.error, zlib.error, IndexError or TypeError escapes the
    container walk."""
    fn = next(getattr(m, decoder) for m in _MODULES if hasattr(m, decoder))
    data = ENCODERS[stream]()
    fn(data)
    for k in range(len(data)):
        try:
            fn(data[:k])
        except (ValueError, NotImplementedError):
            pass


def test_container_layouts_have_one_home():
    """AST guard: RIFF framing is built and walked only in riff.py, the
    AVI codec takes its DIB rows from bmp_codec instead of padding rows
    itself, and png_codec unpacks IHDR in one place."""
    import ast
    from pathlib import Path

    root = Path(wav_codec.__file__).parent
    trees = {
        p.name: ast.parse(p.read_text(encoding="utf-8"))
        for p in sorted(root.glob("*.py"))
    }

    riff_literals = sorted(
        name
        for name, tree in trees.items()
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and n.value == b"RIFF"
    )
    assert set(riff_literals) == {"riff.py"}, riff_literals

    avi = trees["avi_codec.py"]
    mod4 = [
        n.lineno
        for n in ast.walk(avi)
        if isinstance(n, ast.BinOp) and isinstance(n.op, ast.Mod)
        and isinstance(n.right, ast.Constant) and n.right.value == 4
    ]
    assert mod4 == [], mod4
    called = {
        n.func.id
        for n in ast.walk(avi)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    }
    imported = {
        a.name
        for n in ast.walk(avi)
        if isinstance(n, ast.ImportFrom) and n.module.endswith(".bmp_codec")
        for a in n.names
    }
    assert {"dib_rows", "rgb_from_dib"} <= called & imported

    ihdr_unpacks = [
        n.lineno
        for n in ast.walk(trees["png_codec.py"])
        if isinstance(n, ast.Call)
        and getattr(n.func, "attr", None) in ("unpack", "unpack_from")
        and n.args and isinstance(n.args[0], ast.Constant)
        and n.args[0].value == ">IIBBBBB"
    ]
    assert len(ihdr_unpacks) == 1, ihdr_unpacks


def test_png_palette_index_outside_plte():
    """A palette index past the end of PLTE is malformed input: the
    documented ValueError, not a raw IndexError from the lookup."""
    png = png_codec._png(2, 1, 8, 3, 0, bytes([0, 0, 5]))  # indices 0, 5
    ihdr_end = len(png_codec.PNG_MAGIC) + 8 + 13 + 4
    data = png[:ihdr_end] + png_codec._chunk(b"PLTE", bytes([255, 0, 0])) + png[ihdr_end:]
    with pytest.raises(ValueError, match="palette index"):
        png_codec.decode_png(data)


@pytest.mark.parametrize("width", [0, -1])
def test_avi_rejects_empty_row_width(width):
    """A strf width that makes every DIB row empty would let one
    zero-byte frame declare 2**31 - 1 rows for the decoder to walk."""
    data = bytearray(avi_codec._avi(1, 1, 10, b"DIB ", 0, 0, b"00db", [b""]))
    struct.pack_into("<ii", data, data.find(b"strf") + 12, width, 2**31 - 1)
    with pytest.raises(ValueError, match="width"):
        avi_codec.decode_avi(bytes(data))


def _rle8_bmp(clr_used: int, n_pal: int) -> bytes:
    """2x1 BI_RLE8 BMP (indices 0, 1) declaring ``clr_used`` colors and
    carrying ``n_pal`` BGRX palette entries before the pixel data."""
    body = bytes([1, 0, 1, 1, 0, 1])  # run of 0, run of 1, EOB
    offset = 14 + 40 + 4 * n_pal
    return (
        struct.pack("<2sIHHI", b"BM", offset + len(body), 0, 0, offset)
        + struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 8, 1, len(body), 0, 0, clr_used, 0)
        + bytes([0, 0, 255, 0, 255, 0, 0, 0])[: 4 * n_pal]
        + body
    )


def test_bmp_rle8_palette_bounds():
    """clr_used past 256, or a palette running past the end of the file,
    is rejected before the palette is read."""
    assert bmp_codec.decode_bmp(_rle8_bmp(2, 2)) == (2, 1, 3, bytes([255, 0, 0, 0, 0, 255]))
    with pytest.raises(ValueError, match="palette"):
        bmp_codec.decode_bmp(_rle8_bmp(2_147_483_904, 2))
    with pytest.raises(ValueError, match="palette"):
        bmp_codec.decode_bmp(_rle8_bmp(0, 2))  # 0 = 256 colors, 2 present
