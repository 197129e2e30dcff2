"""Pure-stdlib BMP codec: 24bpp BI_RGB and 8bpp BI_RLE8 (palette +
run-length decompression), from the public Windows DIB format spec
(BITMAPFILEHEADER + BITMAPINFOHEADER; RLE8 per the Windows GDI
documentation). The repo's third REAL image container after PNG
(operators/png_codec.py) and GIF (operators/gif_codec.py): BMP adds
the bottom-up row order, 4-byte row padding, BGR channel order, and a
run-length decompressor whose expansion a SQL oracle can replay in
closed form.

Reference analog: none (the reference pipeline, src/fetch.py:78, only
moves image bytes; decode is beyond-reference [EXT] surface). The
loud-raise posture of operators/multimodal.py applies: anything but
the two implemented modes raises NotImplementedError rather than
guessing.

Exactness contract: decode returns top-down RGB bytes; encode(decode)
round-trips bit-exactly for both modes (pytest-pinned), which is what
lets closed-form integer pixel sums hash-gate the whole container.
"""

from __future__ import annotations

import struct

_FILE_HDR = struct.Struct("<2sIHHI")  # magic, file size, res, res, offset
_INFO_HDR = struct.Struct("<IiiHHIIiiII")


def dib_stride(width: int) -> int:
    """Bytes per 24bpp DIB row: 3 per pixel, padded to a multiple of 4."""
    return width * 3 + (-width * 3) % 4


def dib_rows(width: int, height: int, rgb: bytes) -> bytes:
    """Top-down RGB → 24bpp DIB pixel data: bottom-up rows, BGR byte
    order, each row padded to 4 bytes (BMP and the AVI DIB stream)."""
    pad = b"\x00" * (dib_stride(width) - width * 3)
    body = bytearray()
    for y in range(height - 1, -1, -1):
        row = rgb[y * width * 3 : (y + 1) * width * 3]
        for x in range(width):
            r, g, b = row[3 * x : 3 * x + 3]
            body += bytes((b, g, r))
        body += pad
    return bytes(body)


def rgb_from_dib(buf: bytes, pos: int, width: int, height: int) -> bytes:
    """24bpp DIB pixel data at ``buf[pos:]`` → top-down RGB bytes, the
    inverse of :func:`dib_rows`. A short buffer fails unpacking a pixel
    (``ValueError``); callers that want their own message check first."""
    stride = dib_stride(width)
    out = bytearray(width * height * 3)
    for y in range(height - 1, -1, -1):
        row = buf[pos : pos + width * 3]
        pos += stride
        base = y * width * 3
        for x in range(width):
            b, g, r = row[3 * x : 3 * x + 3]
            out[base + 3 * x : base + 3 * x + 3] = bytes((r, g, b))
    return bytes(out)


def encode_bmp_rgb24(width: int, height: int, rgb: bytes) -> bytes:
    """24bpp BI_RGB: bottom-up rows, BGR byte order, rows padded to 4
    bytes. ``rgb`` is top-down RGB (3 bytes/pixel)."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != w*h*3")
    body = dib_rows(width, height, rgb)
    info = _INFO_HDR.pack(40, width, height, 1, 24, 0, len(body), 0, 0, 0, 0)
    offset = _FILE_HDR.size + len(info)
    head = _FILE_HDR.pack(b"BM", offset + len(body), 0, 0, offset)
    return head + info + body


def _rle8_encode_row(row: bytes) -> bytes:
    """Encoded-mode runs only (count 1..255, value), then EOL 00 00."""
    out = bytearray()
    i = 0
    while i < len(row):
        v = row[i]
        n = 1
        while i + n < len(row) and row[i + n] == v and n < 255:
            n += 1
        out += bytes((n, v))
        i += n
    out += b"\x00\x00"
    return bytes(out)


def encode_bmp_rle8(
    width: int, height: int, idx: bytes, palette: list[tuple[int, int, int]]
) -> bytes:
    """8bpp BI_RLE8: 256-entry BGRX palette, bottom-up rows of
    run-length (count, value) pairs with EOL markers and a final EOB.
    ``idx`` is top-down palette indices (1 byte/pixel)."""
    if len(idx) != width * height:
        raise ValueError("idx length != w*h")
    if len(palette) != 256:
        raise ValueError("palette must have 256 entries")
    body = bytearray()
    for y in range(height - 1, -1, -1):
        body += _rle8_encode_row(idx[y * width : (y + 1) * width])
    # Replace the last row's EOL with EOB (00 01).
    body[-1:] = b"\x01"
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes((b, g, r, 0))
    info = _INFO_HDR.pack(40, width, height, 1, 8, 1, len(body), 0, 0, 256, 0)
    offset = _FILE_HDR.size + len(info) + len(pal)
    head = _FILE_HDR.pack(b"BM", offset + len(body), 0, 0, offset)
    return head + info + bytes(pal) + bytes(body)


def decode_bmp(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode 24bpp BI_RGB or 8bpp BI_RLE8 → (width, height, 3,
    top-down RGB bytes). Raises ValueError on malformed input and
    NotImplementedError on any unimplemented mode (1/4/16/32bpp, RLE4,
    BITFIELDS, top-down negative heights, V4/V5 headers) — the
    multimodal loud-raise posture."""
    if len(data) < _FILE_HDR.size + 40 or data[:2] != b"BM":
        raise ValueError("not a BMP")
    _, _, _, _, offset = _FILE_HDR.unpack_from(data, 0)
    hdr_size, width, height, planes, bpp, compression, *_, clr_used, _ = (
        _INFO_HDR.unpack_from(data, _FILE_HDR.size)
    )
    if hdr_size != 40:
        raise NotImplementedError(f"BMP header size {hdr_size}")
    if height < 0:
        raise NotImplementedError("top-down BMP")
    if planes != 1 or width <= 0 or height == 0:
        raise ValueError("bad BMP geometry")
    if bpp == 24 and compression == 0:
        # rows are stored bottom-up, so the top row is the last to fit
        last = offset + (height - 1) * dib_stride(width)
        if last + width * 3 > len(data):
            raise ValueError("truncated BMP pixel data")
        return width, height, 3, rgb_from_dib(data, offset, width, height)
    if bpp == 8 and compression == 1:
        n_pal = clr_used or 256
        pal_off = _FILE_HDR.size + hdr_size
        # both bounds before the palette loop: clr_used is a u32 the
        # loop would otherwise walk up to 4G times
        if n_pal > 256:
            raise ValueError(f"RLE8 palette of {n_pal} colors")
        if pal_off + 4 * n_pal > len(data):
            raise ValueError("RLE8 palette outside the file")
        palette = [
            tuple(data[pal_off + 4 * j : pal_off + 4 * j + 3][::-1])
            for j in range(n_pal)
        ]
        idx = bytearray(width * height)
        pos = offset
        y = height - 1  # bottom-up
        x = 0
        while pos + 1 < len(data):
            count, val = data[pos], data[pos + 1]
            pos += 2
            if count > 0:  # encoded run
                if x + count > width or y < 0:
                    raise ValueError("RLE8 run overflows row")
                if val >= n_pal:
                    # keep the documented ValueError contract: a run
                    # value past a clr_used-sized palette must not
                    # escape as a raw IndexError (round-10 ADVICE)
                    raise ValueError("RLE8 index outside palette")
                idx[y * width + x : y * width + x + count] = bytes(
                    [val]
                ) * count
                x += count
            elif val == 0:  # EOL
                y -= 1
                x = 0
            elif val == 1:  # EOB
                break
            elif val == 2:
                raise NotImplementedError("RLE8 delta escape")
            else:
                raise NotImplementedError("RLE8 absolute mode")
        else:
            raise ValueError("RLE8 stream missing EOB")
        out = bytearray(width * height * 3)
        for p, j in enumerate(idx):
            r, g, b = palette[j]
            out[3 * p : 3 * p + 3] = bytes((r, g, b))
        return width, height, 3, bytes(out)
    raise NotImplementedError(f"BMP bpp={bpp} compression={compression}")
