"""RIFF chunk framing shared by the WAV and AVI codecs (Microsoft/IBM
RIFF spec, 1991): a chunk is a 4-byte id, a u32 little-endian payload
size and the payload padded to an even length; a LIST is a chunk whose
payload starts with a 4-byte list type; a file is one 'RIFF' chunk of
a 4-byte form type followed by its chunks.

Readers raise ``ValueError`` on a bad signature and on a header cut
short, so a truncated stream never leaks ``struct.error``.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator


def chunk(cid: bytes, payload: bytes) -> bytes:
    pad = b"\x00" * (len(payload) & 1)
    return cid + struct.pack("<I", len(payload)) + payload + pad


def lst(ltype: bytes, *parts: bytes) -> bytes:
    return chunk(b"LIST", ltype + b"".join(parts))


def form(ftype: bytes, *parts: bytes) -> bytes:
    return chunk(b"RIFF", ftype + b"".join(parts))


def walk(buf: bytes, pos: int, end: int) -> Iterator[tuple[bytes, int, int]]:
    """Yield ``(chunk id, payload offset, declared size)`` for the chunks
    in ``buf[pos:end]``; the size is as declared, not clipped to ``buf``."""
    while pos + 8 <= end:
        if pos + 8 > len(buf):
            raise ValueError("truncated RIFF chunk header")
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        yield buf[pos : pos + 4], pos + 8, size
        pos += 8 + size + (size & 1)


def chunks(data: bytes, ftype: bytes) -> Iterator[tuple[bytes, int, int]]:
    """Check the ``RIFF/<ftype>`` signature and walk the top-level chunks."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != ftype:
        raise ValueError(f"not a RIFF/{ftype.decode().rstrip()} stream")
    return walk(data, 12, len(data))


def unpack(fmt: str, buf: bytes, pos: int) -> tuple:
    """``struct.unpack_from`` that raises ``ValueError`` on a short buffer."""
    if pos + struct.calcsize(fmt) > len(buf):
        raise ValueError("truncated RIFF chunk")
    return struct.unpack_from(fmt, buf, pos)
