"""Pure-stdlib RIFF/WAVE PCM codec (encode + decode, bit-exact).

Round-9 follow-on to the PNG codec (VERDICT r8 stretch item): the
container has no soundfile/torchaudio, so the multimodal audio
real-decode branch raised unconditionally. Linear PCM WAV needs
nothing beyond ``struct`` — a RIFF container with ``fmt `` and
``data`` chunks (Microsoft/IBM RIFF spec, 1991; summarized in
McGill's canonical WAVE notes) — so this module makes the audio
decode path REAL end-to-end for PCM payloads while compressed audio
(MP3/AAC/ADPCM/float WAV) keeps the loud-raise posture.

Scope (raises loudly outside it): format tag 1 (integer PCM) and
0xFFFE (WAVE_FORMAT_EXTENSIBLE) whose SubFormat GUID is PCM; 8-bit
unsigned and 16-bit signed little-endian; any channel count; unknown
chunks (LIST, fact, cue) are skipped with correct odd-length padding.
Round 10 adds format tag 7 (G.711 mu-law, ITU-T G.711 1988 — the
8 kHz telephony companding every speech corpus ships in): stored
bytes expand to linear through the standard segment/mantissa table
arithmetic (``mulaw_expand``), and ``encode_wav_mulaw`` compresses
16-bit linear to the container. A-law (tag 6) decodes the same way
and IMA ADPCM (tag 0x11) through ``decode_wav_ima``; IEEE-float
(tag 3), MS ADPCM (2) and 24/32-bit depths raise
``NotImplementedError`` naming the reason.

Decoded samples are returned exactly as stored: 16-bit as signed
ints in [-32768, 32767], 8-bit as unsigned ints in [0, 255] (the WAV
convention), interleaved across channels — making every downstream
statistic integer-exact and hash-gateable.

Framing is written once: RIFF chunks come from ``operators/riff.py``;
every encoder builds its file with ``_wave(fmt, data)`` and every
decoder reads it with ``_read_wave(data, check_fmt)``, which walks the
chunks, length-checks the fmt body and hands its fields to the
decoder's own validator. ``_check_linear`` is the one sample-range
check and ``_encode_g711`` the one mu-law/A-law encoder body.

Reference analog: the reference downloads media bytes it never
decodes (src/render_pdf.py:90-98); decoding is beyond-reference
[EXT] surface.
"""

from __future__ import annotations

import struct

from shippai_knowledge_etl_spark.operators import riff

# WAVE_FORMAT_EXTENSIBLE SubFormat GUID for PCM: the 16-bit format tag
# followed by the fixed media-subtype suffix.
_PCM_SUBFORMAT = bytes.fromhex("0100000000001000800000aa00389b71")

# G.711 mu-law constants (the Sun/CCITT g711 convention: bias the
# magnitude by 0x84 so the segment search is a pure bit test).
_MULAW_BIAS = 0x84  # 132
_MULAW_CLIP = 32635


def mulaw_compress(x: int) -> int:
    """16-bit linear sample → one mu-law byte (ITU-T G.711).

    Magnitude clips at 32635, biases by 132, the segment e in 0..7 is
    the position of the top set bit above bit 7, the mantissa the next
    4 bits; the byte stores the ones' complement of sign|seg|mantissa
    (all-zero bytes would upset T1 repeaters — the spec's inversion).
    """
    sign = 0x80 if x < 0 else 0
    a = -x if x < 0 else x
    if a > _MULAW_CLIP:
        a = _MULAW_CLIP
    a += _MULAW_BIAS
    e, mask = 7, 0x4000
    while e > 0 and not (a & mask):
        mask >>= 1
        e -= 1
    mantissa = (a >> (e + 3)) & 0x0F
    return ~(sign | (e << 4) | mantissa) & 0xFF


def mulaw_expand(b: int) -> int:
    """One mu-law byte → the reconstructed linear sample: invert,
    rebuild ((mantissa·8 + 132) << seg) − 132, apply sign. Exact
    integer arithmetic — the decode table of every G.711 codec."""
    b = ~b & 0xFF
    e = (b >> 4) & 0x07
    mag = ((((b & 0x0F) << 3) + _MULAW_BIAS) << e) - _MULAW_BIAS
    return -mag if b & 0x80 else mag


def _wave(fmt: bytes, data: bytes) -> bytes:
    return riff.form(b"WAVE", riff.chunk(b"fmt ", fmt), riff.chunk(b"data", data))


def _pcm_fmt(tag: int, channels: int, sample_rate: int, bits: int) -> bytes:
    block_align = channels * bits // 8
    return struct.pack(
        "<HHIIHH", tag, channels, sample_rate, sample_rate * block_align,
        block_align, bits,
    )


def _check_linear(
    samples: list[int], channels: int, lo: int, hi: int, kind: str
) -> None:
    if channels < 1 or len(samples) % channels:
        raise ValueError("sample count must be a positive multiple of channels")
    for s in samples:
        if not lo <= s <= hi:
            raise ValueError(f"sample {s} outside {kind} range")


def _read_wave(data: bytes, check_fmt) -> tuple:
    """Walk a RIFF/WAVE stream → ``(check_fmt(fields, fmt body), data
    chunk body)``. ``fields`` is the common ``<HHIIHH`` fmt prefix (tag,
    channels, rate, byte rate, block align, bits); unknown chunks are
    skipped, and a later fmt or data chunk replaces an earlier one."""
    fmt = pcm = None
    for cid, pos, size in riff.chunks(data, b"WAVE"):
        body = data[pos : pos + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("fmt chunk too short")
            fmt = check_fmt(struct.unpack_from("<HHIIHH", body), body)
        elif cid == b"data":
            pcm = body
    if fmt is None or pcm is None:
        raise ValueError("missing fmt or data chunk")
    return fmt, pcm


def encode_wav(
    samples: list[int], sample_rate: int, channels: int = 1, bits: int = 16
) -> bytes:
    """Serialize interleaved integer samples to a canonical PCM WAV.

    ``samples`` is the interleaved stream (frame-major), so
    ``len(samples)`` must be a multiple of ``channels``. 16-bit takes
    signed values, 8-bit takes unsigned — the container's storage
    conventions, asserted here so a bad generator fails at encode
    time, not as silent wraparound.
    """
    if bits == 16:
        lo, hi, fmt_char = -32768, 32767, "h"
    elif bits == 8:
        lo, hi, fmt_char = 0, 255, "B"
    else:
        raise NotImplementedError(f"{bits}-bit PCM encode not supported")
    _check_linear(samples, channels, lo, hi, f"{bits}-bit PCM")
    data = struct.pack(f"<{len(samples)}{fmt_char}", *samples)
    return _wave(_pcm_fmt(1, channels, sample_rate, bits), data)


def _encode_g711(
    samples: list[int], sample_rate: int, channels: int, tag: int, compress
) -> bytes:
    _check_linear(samples, channels, -32768, 32767, "16-bit linear")
    data = bytes(compress(s) for s in samples)
    return _wave(_pcm_fmt(tag, channels, sample_rate, 8), data)


def encode_wav_mulaw(
    samples: list[int], sample_rate: int, channels: int = 1
) -> bytes:
    """Compress interleaved 16-bit linear samples to a mu-law WAV
    (format tag 7, 8 bits stored). Same container layout as PCM with
    the G.711 byte stream in the data chunk."""
    return _encode_g711(samples, sample_rate, channels, 7, mulaw_compress)


def _check_pcm_fmt(fields: tuple, body: bytes) -> tuple:
    tag, channels, rate, _byte_rate, _align, bits = fields
    if tag == 0xFFFE:
        # Extensible: the real format lives in the SubFormat GUID
        # at offset 24 of the fmt body (after cbSize + union).
        if body[24:40] != _PCM_SUBFORMAT:
            raise NotImplementedError(
                "WAVE_FORMAT_EXTENSIBLE with non-PCM SubFormat"
            )
        tag = 1
    if tag in (6, 7):
        if bits != 8:
            raise ValueError(f"G.711 (tag {tag}) with {bits}-bit storage")
    elif tag != 1:
        raise NotImplementedError(
            f"WAV format tag {tag} (integer PCM, G.711 mu-law/"
            "A-law are supported here; IMA ADPCM via "
            "decode_wav_ima; float needs audio libs absent "
            "in this container)"
        )
    elif bits not in (8, 16):
        raise NotImplementedError(f"{bits}-bit PCM decode not supported")
    return rate, channels, bits, tag


def decode_wav(data: bytes) -> tuple[int, int, int, list[int]]:
    """Parse a WAV byte string → ``(sample_rate, channels, bits,
    interleaved samples)``.

    Walks the chunk list (tolerating LIST/fact/cue and odd-length
    padding), validates the format tag, and unpacks the data chunk
    exactly — no resampling, no normalization. For format tag 7
    (G.711 mu-law) the returned samples are the EXPANDED linear values
    (``mulaw_expand`` per stored byte) while ``bits`` reports the
    8-bit storage width.
    """
    (rate, channels, bits, tag), pcm_bytes = _read_wave(data, _check_pcm_fmt)
    if tag == 7:
        # mu-law: stored width is 8 but the DECODED samples are the
        # expanded linear values — that is what decoding means here;
        # bits reports the storage width per the WAV convention
        samples = [mulaw_expand(b) for b in pcm_bytes]
    elif tag == 6:
        # A-law (round 11): same posture as mu-law, the G.711 twin
        samples = [alaw_expand(b) for b in pcm_bytes]
    elif bits == 16:
        n = len(pcm_bytes) // 2
        samples = list(struct.unpack(f"<{n}h", pcm_bytes[: 2 * n]))
    else:
        samples = list(pcm_bytes)
    return rate, channels, bits, samples


# IMA/DVI ADPCM (format tag 0x11) — the step-size and index-adjust
# tables from the IMA Digital Audio Pack recommendation (1992; same
# tables in every public implementation, e.g. libsndfile ima_adpcm.c).
IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_state_step(pred: int, idx: int, nibble: int) -> tuple[int, int]:
    """Apply one IMA nibble to (predictor, step index) — the DECODER
    transition, also used by the encoder so both stay in lockstep."""
    step = IMA_STEP_TABLE[idx]
    delta = nibble & 7
    vpdiff = step >> 3
    if delta & 4:
        vpdiff += step
    if delta & 2:
        vpdiff += step >> 1
    if delta & 1:
        vpdiff += step >> 2
    pred = pred - vpdiff if nibble & 8 else pred + vpdiff
    pred = -32768 if pred < -32768 else 32767 if pred > 32767 else pred
    idx += IMA_INDEX_TABLE[delta]
    idx = 0 if idx < 0 else 88 if idx > 88 else idx
    return pred, idx


def _ima_encode_nibble(sample: int, pred: int, idx: int) -> int:
    """Choose the IMA nibble for ``sample`` given the current state —
    the standard bit-by-bit magnitude fit (closed form, replayable as
    three integer comparisons in SQL)."""
    diff = sample - pred
    nibble = 8 if diff < 0 else 0
    if diff < 0:
        diff = -diff
    step = IMA_STEP_TABLE[idx]
    if diff >= step:
        nibble |= 4
        diff -= step
    if diff >= step >> 1:
        nibble |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        nibble |= 1
    return nibble


def encode_wav_ima(
    samples: list[int],
    sample_rate: int,
    samples_per_block: int,
    init_index: int = 0,
) -> bytes:
    """Compress mono 16-bit samples to an IMA ADPCM WAV (format tag
    0x11, 4 bits stored): per block, a 4-byte header (predictor =
    the block's first sample verbatim, running step index, reserved)
    followed by one nibble per remaining sample, low nibble first.
    The step index RUNS ACROSS blocks (the common encoder choice);
    the sample count must tile blocks exactly (the deterministic
    generators guarantee this — partial-block padding stays out of
    the exact-arithmetic contract)."""
    if samples_per_block < 2 or samples_per_block % 2 == 0:
        raise ValueError("samples_per_block must be odd and >= 3")
    if not samples or len(samples) % samples_per_block:
        raise ValueError("sample count must tile samples_per_block")
    idx = init_index
    if not 0 <= idx <= 88:
        raise ValueError("init_index outside [0, 88]")
    data = bytearray()
    for b0 in range(0, len(samples), samples_per_block):
        pred = samples[b0]
        data += struct.pack("<hBB", pred, idx, 0)
        nibbles = []
        for s in samples[b0 + 1 : b0 + samples_per_block]:
            n = _ima_encode_nibble(s, pred, idx)
            pred, idx = _ima_state_step(pred, idx, n)
            nibbles.append(n)
        for i in range(0, len(nibbles), 2):
            lo = nibbles[i]
            hi = nibbles[i + 1] if i + 1 < len(nibbles) else 0
            data.append(lo | (hi << 4))
    block_align = 4 + (samples_per_block - 1 + 1) // 2
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, sample_rate,
        sample_rate * block_align // samples_per_block, block_align, 4,
        2, samples_per_block,  # cbSize, then wSamplesPerBlock
    )
    return _wave(fmt, bytes(data))


def _check_ima_fmt(fields: tuple, body: bytes) -> tuple:
    tag, channels, rate, _br, align, bits = fields
    if tag != 0x11:
        raise ValueError(f"not IMA ADPCM (format tag {tag})")
    if channels != 1:
        raise NotImplementedError("multi-channel IMA ADPCM")
    if bits != 4:
        raise NotImplementedError(f"{bits}-bit IMA ADPCM")
    if len(body) < 20:
        raise ValueError("IMA fmt chunk missing wSamplesPerBlock")
    (spb,) = struct.unpack_from("<H", body, 18)
    return rate, align, spb


def decode_wav_ima(data: bytes) -> tuple[int, int, list[int]]:
    """Decode a mono IMA ADPCM WAV → (sample_rate, samples_per_block,
    decoded 16-bit samples). Each block re-seeds the predictor from
    its header and continues with one state step per nibble — a wrong
    step-table entry, index clamp, or nibble order shifts every
    subsequent sample, which is what lets a recursive-CTE oracle
    hash-gate the whole decode."""
    (rate, align, spb), adpcm = _read_wave(data, _check_ima_fmt)
    if align < 4 or len(adpcm) % align:
        raise ValueError("data chunk does not tile the block align")
    out: list[int] = []
    for b0 in range(0, len(adpcm), align):
        pred, idx, _rsv = struct.unpack_from("<hBB", adpcm, b0)
        if idx > 88:
            raise ValueError("block step index outside [0, 88]")
        out.append(pred)
        need = spb - 1
        k = 0
        for byte in adpcm[b0 + 4 : b0 + align]:
            for nib in (byte & 0x0F, byte >> 4):
                if k >= need:
                    break
                pred, idx = _ima_state_step(pred, idx, nib)
                out.append(pred)
                k += 1
    return rate, spb, out


# G.711 A-law (the European/international companding twin of mu-law;
# ITU-T G.711 1988, Sun g711.c arithmetic). Segment ends in the
# 13-bit domain after the >>3 reduction.
_ALAW_SEG_END = (0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF)


def alaw_compress(x: int) -> int:
    """16-bit linear sample → one A-law byte (ITU-T G.711).

    Reduce to the 13-bit domain (arithmetic >>3), segment search over
    the A-law chord ends, 4-bit mantissa, then the even-bit inversion
    (XOR 0xD5 positive / 0x55 negative — A-law's transmission
    scrambling, the counterpart of mu-law's ones' complement).
    Verified byte-equal to stdlib audioop.lin2alaw over the full
    16-bit range (tests/test_multimodal.py)."""
    pcm = x >> 3
    if pcm >= 0:
        mask = 0xD5
    else:
        mask = 0x55
        pcm = -pcm - 1
    for seg, end in enumerate(_ALAW_SEG_END):
        if pcm <= end:
            break
    else:
        return 0x7F ^ mask
    aval = seg << 4
    if seg < 2:
        aval |= (pcm >> 1) & 0xF
    else:
        aval |= (pcm >> seg) & 0xF
    return aval ^ mask


def alaw_expand(b: int) -> int:
    """One A-law byte → 16-bit linear sample (inverse of the above;
    verified byte-equal to audioop.alaw2lin over all 256 bytes)."""
    v = b ^ 0x55
    t = (v & 0x0F) << 4
    seg = (v & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if v & 0x80 else -t


def encode_wav_alaw(
    samples: list[int], sample_rate: int, channels: int = 1
) -> bytes:
    """Compress interleaved 16-bit linear samples to an A-law WAV
    (format tag 6, 8 bits stored) — same container layout as mu-law."""
    return _encode_g711(samples, sample_rate, channels, 6, alaw_compress)
