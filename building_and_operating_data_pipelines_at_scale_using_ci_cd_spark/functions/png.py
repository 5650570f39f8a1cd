"""PNG codec on stdlib zlib + numpy — closes the PNG half of the
compressed-image gate the same way ``jpeg.py`` closed JPEG.

DEFLATE — the only genuinely hard piece of PNG — ships in the Python
standard library (``zlib``), so a spec-faithful decoder is mostly chunk
walking and scanline unfiltering:

  - **decode_png**: greyscale (color type 0), truecolor (2), indexed
    (3, via PLTE), grey+alpha (4) and RGBA (6) at 8-bit depth, and
    types 0/2/4/6 at 16-bit (big-endian samples, reduced to 8 bits via
    the high byte); all five scanline filters (None/Sub/Up/Average/
    Paeth) unfiltered with numpy row-recurrence on BYTE-level bpp per
    spec; Adam7 interlace deinterlaced pass-by-pass (each of
    the 7 passes is its own independently-filtered sub-image scattered
    back on the pass grid — empty passes contribute zero scanlines, per
    spec). Returns
    ``(width, height, luma)`` — the ITU-R 601 luma contract shared by
    every decoder in this engine (alpha ignored: luma of the stored
    color, matching how crawlers hash thumbnails).
  - **encode_png_gray / encode_png_rgb**: minimal spec-valid writer
    (filter 0 scanlines, one IDAT, CRC32 per chunk) so tests and the
    oracle entry exercise REAL inflate streams.

Unlike JPEG, PNG is lossless: decode(encode(img)) == img exactly, which
gives the driver entry a stronger oracle — every derived value is
bit-exact, no quantization-tolerance booleans needed.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per PNG §8.2
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _pass_dims(width: int, height: int):
    """Per-pass (x0, y0, dx, dy, pass_w, pass_h); empty passes included
    with zero dims (they contribute NO scanlines, not even filter bytes)."""
    return [
        (x0, y0, dx, dy, max(0, (width - x0 + dx - 1) // dx), max(0, (height - y0 + dy - 1) // dy))
        for x0, y0, dx, dy in _ADAM7
    ]


def _encode_raw(img: np.ndarray, interlace: bool) -> bytes:
    """Filter-0 serialization of an (h, w[, bpp]) uint8 array, plain or
    Adam7 pass order."""
    if img.ndim == 2:
        img = img[..., None]
    h, w = img.shape[0], img.shape[1]
    if not interlace:
        return b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    parts = []
    for x0, y0, dx, dy, pw, ph in _pass_dims(w, h):
        if pw == 0 or ph == 0:
            continue
        sub = img[y0::dy, x0::dx, :]
        parts.extend(b"\x00" + sub[y].tobytes() for y in range(ph))
    return b"".join(parts)


def encode_png_gray(
    gray, width: int, height: int, level: int = 6, interlace: bool = False
) -> bytes:
    """8-bit greyscale PNG, filter 0 scanlines; ``interlace=True`` writes
    a spec-valid Adam7 stream (pass-major scanline order)."""
    img = np.asarray(gray, dtype=np.uint8).reshape(height, width)
    raw = _encode_raw(img, interlace)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, int(interlace))
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, level))
        + _chunk(b"IEND", b"")
    )


def encode_png_gray16(
    gray, width: int, height: int, level: int = 6, interlace: bool = False
) -> bytes:
    """16-bit greyscale PNG (big-endian samples, filter 0); values
    0..65535. Exists so the 16-bit decode path runs on real streams."""
    v = np.asarray(gray, dtype=np.uint16).reshape(height, width)
    img = np.stack(
        [(v >> 8).astype(np.uint8), (v & 0xFF).astype(np.uint8)], axis=-1
    )
    raw = _encode_raw(img, interlace)
    ihdr = struct.pack(">IIBBBBB", width, height, 16, 0, 0, 0, int(interlace))
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, level))
        + _chunk(b"IEND", b"")
    )


def encode_png_rgb(
    rgb, width: int, height: int, level: int = 6, interlace: bool = False
) -> bytes:
    """8-bit truecolor PNG, filter 0 scanlines; ``interlace=True`` writes
    a spec-valid Adam7 stream."""
    img = np.asarray(rgb, dtype=np.uint8).reshape(height, width, 3)
    raw = _encode_raw(img, interlace)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, int(interlace))
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, level))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(raw: bytes, width: int, height: int, bpp: int) -> np.ndarray:
    """Undo per-scanline filtering → (height, width*bpp) uint8 samples.

    Honest cost note: Sub/Average/Paeth carry a LEFT-neighbor
    recurrence, so those rows run as per-byte Python — fine for the
    thumbnail-scale fixtures this engine processes and for filter-0
    streams (our encoder's output, decoded via the fast path), ~seconds
    per megapixel otherwise. A production cluster swaps in PIL; the
    filter semantics here are the spec-conformance reference, each
    pinned by a test stream."""
    stride = width * bpp
    if len(raw) < height * (stride + 1):
        raise ValueError("truncated PNG: inflate output shorter than raster")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = bytearray(stride)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        pos += stride
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                ul = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        else:
            raise ValueError(f"corrupt PNG: unknown filter type {ftype}")
        out[y] = np.frombuffer(bytes(line), dtype=np.uint8)
        prev = line
    return out


def _deinterlace(raw: bytes, width: int, height: int, bpp: int) -> np.ndarray:
    """Adam7: each pass is an independent filtered sub-image (its first
    scanline has no Up/Paeth predecessor) — unfilter each with the same
    machinery, then scatter onto the pass grid. Returns the same
    (height, width*bpp) layout as :func:`_unfilter`."""
    passes = [p for p in _pass_dims(width, height) if p[4] and p[5]]
    # checked BEFORE allocating: a corrupt header must not size the
    # raster beyond what the inflated data holds
    if sum(ph * (1 + pw * bpp) for *_, pw, ph in passes) != len(raw):
        raise ValueError("corrupt PNG: interlaced raster length mismatch")
    full = np.zeros((height, width, bpp), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy, pw, ph in passes:
        n = ph * (1 + pw * bpp)
        sub = _unfilter(raw[pos : pos + n], pw, ph, bpp)
        pos += n
        full[y0::dy, x0::dx, :] = sub.reshape(ph, pw, bpp)
    return full.reshape(height, width * bpp)


def decode_png(payload: bytes):
    """Decode an 8-bit PNG (plain or Adam7); returns ``(width, height,
    luma)`` with luma the row-major 601-luma list (0-255). ValueError is
    the ONLY corrupt-input exception (the decode_image/image_resize
    null-route contract), so struct/index failures from truncated or
    malformed chunks are normalized here."""
    try:
        return _decode_png_inner(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"corrupt PNG: truncated or malformed chunk ({exc})") from exc


def _decode_png_inner(payload: bytes):
    if payload[:8] != _SIG:
        raise ValueError("not a PNG (missing signature)")
    pos = 8
    ihdr = None
    idat = bytearray()
    plte = None
    while pos + 8 <= len(payload):
        length = struct.unpack_from(">I", payload, pos)[0]
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("corrupt PNG: no IHDR")
    width, height, depth, ctype, comp, filt, interlace = ihdr
    if depth not in (8, 16):
        raise ValueError(f"only 8/16-bit PNG supported (got depth {depth})")
    if depth == 16 and ctype == 3:
        raise ValueError("corrupt PNG: indexed color is 8-bit only")
    if comp != 0 or filt != 0:
        raise ValueError("corrupt PNG: unknown compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"corrupt PNG: unknown interlace method {interlace}")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if channels is None:
        raise ValueError(f"corrupt PNG: color type {ctype}")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG: inflate failed ({exc})") from exc
    bpp = channels * (depth // 8)  # filters operate on BYTES per pixel
    if interlace == 1:
        samples = _deinterlace(raw, width, height, bpp)
    else:
        samples = _unfilter(raw, width, height, bpp)
    if depth == 16:
        # 16-bit samples are big-endian; reduce to 8 bits via the high
        # byte (the standard v >> 8 reduction) so the shared luma path
        # below applies unchanged
        samples = np.ascontiguousarray(
            samples.reshape(height, width * channels, 2)[..., 0]
        )
    if ctype == 3:
        if plte is None:
            raise ValueError("corrupt PNG: indexed image without PLTE")
        idx = samples.reshape(height, width)
        # numpy fancy-index IndexError on an out-of-range palette entry
        # would escape the ValueError-only null-routing upstream
        if idx.size and int(idx.max()) >= len(plte):
            raise ValueError("corrupt PNG: palette index out of range")
        rgb = plte[idx]
    elif ctype == 0:
        luma = samples.reshape(height, width).astype(np.int64)
        return width, height, [int(v) for v in luma.reshape(-1)]
    elif ctype == 4:
        luma = samples.reshape(height, width, 2)[..., 0].astype(np.int64)
        return width, height, [int(v) for v in luma.reshape(-1)]
    else:  # 2 or 6
        px = samples.reshape(height, width, channels)
        rgb = px[..., :3]
    r = rgb[..., 0].astype(np.int64)
    g = rgb[..., 1].astype(np.int64)
    b = rgb[..., 2].astype(np.int64)
    luma = (299 * r + 587 * g + 114 * b) // 1000
    return width, height, [int(v) for v in luma.reshape(-1)]
