"""Pure-stdlib AVI container codec: RIFF 'AVI ' with ONE uncompressed
24-bit DIB video stream ('vids'/BI_RGB), from the public Microsoft
RIFF/AVI specification (avih / strl(strh, strf) headers + movi '00db'
frame chunks). The repo's first REAL video container path — before
this, the video modality (frame sampling, scene cuts) ran on
deterministic stub features; this makes the container walk, stream
validation, and per-frame pixel recovery genuine, the same step PNG/
WAV/GIF/BMP took for images and audio.

Frames are stored exactly as BMP pixel data (bottom-up rows, BGR byte
order, 4-byte row padding), so the decoder must undo the same three
transforms per frame AND preserve frame order — the closed-form
oracles gate the LAST frame's sum separately, which any frame
reordering or off-by-one in the chunk walk breaks.

Round 11 adds the Motion-JPEG branch (encode_avi_mjpeg /
decode_avi_mjpeg): fccHandler 'MJPG', biCompression 'MJPG', one
'00dc' chunk per frame holding a complete baseline JPEG decoded by
operators/jpeg_codec.py — the container+codec COMPOSITION legacy
camera corpora actually ship. Out-of-scope modes still raise
NotImplementedError loudly (multiple streams, other compressions,
idx1-dependent layouts): the multimodal posture of
operators/multimodal.py.

Both encoders write one layout, ``_avi``, and both decoders read it
with one header/movi walk, ``_read_avi``; RIFF framing comes from
operators/riff.py and the DIB rows from operators/bmp_codec.py.
"""

from __future__ import annotations

import struct

from shippai_knowledge_etl_spark.operators import riff
from shippai_knowledge_etl_spark.operators.bmp_codec import (
    dib_rows,
    dib_stride,
    rgb_from_dib,
)

# 'MJPG' biCompression fourcc, little-endian
_MJPG_FOURCC = 0x47504A4D


def _avi(
    width: int,
    height: int,
    fps: int,
    handler: bytes,
    compression: int,
    image_size: int,
    frame_cid: bytes,
    frames: list[bytes],
) -> bytes:
    """RIFF 'AVI ': hdrl(avih, strl(strh, strf)) + movi with one
    ``frame_cid`` chunk per frame; no idx1."""
    buffer_size = max(len(f) for f in frames)
    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, buffer_size * fps, 0,  # us/frame, bytes/s, padding
        # dwFlags = 0: no idx1 chunk is written, so AVIF_HASINDEX
        # (0x10) must stay clear — advertising an index the file lacks
        # would send strict third-party parsers chasing a missing
        # chunk (round-10 ADVICE). The in-repo decoder ignores flags.
        0,
        len(frames), 0, 1, buffer_size,  # frames, initial, streams, buffer
        width, height, 0, 0, 0, 0,
    )
    strh = b"vids" + handler + struct.pack(
        "<IHH8I4H",
        0, 0, 0, 0,  # flags, priority, language, initial frames
        1, fps, 0, len(frames),  # scale, rate, start, length
        # suggested buffer, default quality, sample size (0 = one
        # sample per chunk), frame rectangle
        buffer_size, 0xFFFFFFFF, 0, 0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 24, compression, image_size, 0, 0, 0, 0,
    )
    return riff.form(
        b"AVI ",
        riff.lst(
            b"hdrl",
            riff.chunk(b"avih", avih),
            riff.lst(b"strl", riff.chunk(b"strh", strh), riff.chunk(b"strf", strf)),
        ),
        riff.lst(b"movi", *(riff.chunk(frame_cid, f) for f in frames)),
    )


def _read_avi(data: bytes, handler: bytes | None, check_strf, frame) -> tuple:
    """Walk hdrl and movi → ``(width, height, fps, frames)``. ``handler``
    (if set) is the required strh fccHandler; ``check_strf(hdr_size,
    width, height, bpp, compression)`` validates the stream format;
    ``frame(cid, payload, declared size, width, height)`` turns each
    movi chunk into a frame or None (skipped) as the chunks are met, so
    the first error in stream order is the one raised."""
    width = height = fps = None
    n_frames_hdr = None
    frames: list[bytes] = []
    for cid, body, size in riff.chunks(data, b"AVI "):
        if cid != b"LIST":
            continue
        ltype = data[body : body + 4]
        if ltype == b"hdrl":
            for c2, b2, s2 in riff.walk(data, body + 4, body + size):
                if c2 == b"avih":
                    vals = riff.unpack("<IIIIIIIIII", data, b2)
                    n_frames_hdr = vals[4]
                    if vals[6] != 1:
                        raise NotImplementedError("multi-stream AVI")
                elif c2 == b"LIST" and data[b2 : b2 + 4] == b"strl":
                    for c3, b3, _s3 in riff.walk(data, b2 + 4, b2 + s2):
                        if c3 == b"strh":
                            if data[b3 : b3 + 4] != b"vids":
                                raise NotImplementedError("non-video stream")
                            if handler and data[b3 + 4 : b3 + 8] != handler:
                                raise NotImplementedError(
                                    f"non-{handler.decode()} handler (use "
                                    "decode_avi for DIB streams)"
                                )
                            scale, fps = riff.unpack("<II", data, b3 + 20)
                            if scale != 1:
                                raise NotImplementedError("non-unit strh scale")
                        elif c3 == b"strf":
                            hdr_size, width, height, _planes, bpp, comp = (
                                riff.unpack("<IiiHHI", data, b3)
                            )
                            check_strf(hdr_size, width, height, bpp, comp)
        elif ltype == b"movi":
            for c2, b2, s2 in riff.walk(data, body + 4, body + size):
                f = frame(c2, data[b2 : b2 + s2], s2, width, height)
                if f is not None:
                    frames.append(f)
    if width is None or fps is None or n_frames_hdr is None:
        raise ValueError("missing AVI headers")
    if len(frames) != n_frames_hdr:
        raise ValueError("frame count disagrees with avih header")
    return width, height, fps, frames


def encode_avi_rgb24(
    width: int, height: int, frames: list[bytes], fps: int = 10
) -> bytes:
    """Minimal-but-valid AVI: avih + one 'vids' DIB stream + movi with
    one '00db' chunk per frame. Each frame is top-down RGB bytes."""
    if not frames:
        raise ValueError("need at least one frame")
    for f in frames:
        if len(f) != width * height * 3:
            raise ValueError("frame length != w*h*3")
    dibs = [dib_rows(width, height, f) for f in frames]
    return _avi(width, height, fps, b"DIB ", 0, len(dibs[0]), b"00db", dibs)


def _strf_dib(
    hdr_size: int, width: int, height: int, bpp: int, comp: int
) -> None:
    if hdr_size != 40 or bpp != 24 or comp != 0:
        raise NotImplementedError("compressed or non-24bpp frames")
    if height < 0:
        raise NotImplementedError("top-down DIB")
    # width 0 makes every row empty, so a frame of any height passes
    # the chunk-size check and the decoder walks all of its rows
    if width <= 0:
        raise ValueError("bad strf width")


def _dib_frame(cid, payload, size, width, height):
    if cid == b"00dc":
        raise NotImplementedError(
            "compressed frame chunk (MJPG streams go through decode_avi_mjpeg)"
        )
    if cid != b"00db":
        return None
    if width is None:
        raise ValueError("movi before hdrl")
    if size != dib_stride(width) * height:
        raise ValueError("frame chunk size mismatch")
    return rgb_from_dib(payload, 0, width, height)


def decode_avi(data: bytes) -> tuple[int, int, int, int, list[bytes]]:
    """Parse an AVI byte string → (width, height, fps, n_frames,
    [top-down RGB frame bytes, in stream order]). Validates the single
    'vids' BI_RGB 24bpp stream; raises ValueError on malformed input
    and NotImplementedError on out-of-scope modes."""
    width, height, fps, frames = _read_avi(data, None, _strf_dib, _dib_frame)
    return width, height, fps, len(frames), frames


def encode_avi_mjpeg(
    width: int, height: int, jpeg_frames: list[bytes], fps: int = 10
) -> bytes:
    """AVI with a Motion-JPEG video stream (round 11): the ``_avi``
    layout of encode_avi_rgb24 with fccHandler/biCompression 'MJPG'
    and one '00dc' (compressed) chunk per frame holding a complete
    baseline JPEG — the most common legacy camera/webcam capture
    format, and the container+codec COMPOSITION a real video corpus
    forces a pipeline to handle."""
    if not jpeg_frames:
        raise ValueError("need at least one frame")
    for f in jpeg_frames:
        if f[:2] != b"\xff\xd8":
            raise ValueError("frame is not a JPEG (missing SOI)")
    return _avi(
        width, height, fps, b"MJPG", _MJPG_FOURCC, width * height * 3,
        b"00dc", jpeg_frames,
    )


def _strf_mjpg(
    hdr_size: int, _width: int, _height: int, _bpp: int, comp: int
) -> None:
    if hdr_size != 40 or comp != _MJPG_FOURCC:
        raise NotImplementedError("strf compression is not MJPG")


def _mjpg_frame(cid, payload, _size, _width, _height):
    if cid == b"00db":
        raise ValueError("uncompressed chunk in MJPG stream")
    if cid != b"00dc":
        return None
    if payload[:2] != b"\xff\xd8":
        raise ValueError("frame chunk is not a JPEG")
    return payload


def decode_avi_mjpeg(data: bytes) -> tuple[int, int, int, list[bytes]]:
    """Parse a Motion-JPEG AVI → (width, height, fps, [per-frame JPEG
    bytes, in stream order]). The container walk only — callers hand
    each frame to jpeg_codec.decode_jpeg. Uncompressed '00db' chunks
    in an MJPG stream raise ValueError; other stream types raise the
    usual NotImplementedError."""
    return _read_avi(data, b"MJPG", _strf_mjpg, _mjpg_frame)
