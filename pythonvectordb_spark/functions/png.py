"""Pure-stdlib PNG codec (zlib + struct + numpy): the real image decode
the container's missing PIL would otherwise provide.

Scope: 8-bit greyscale (color type 0) and RGB (color type 2),
non-interlaced — the subset a training-data pipeline's thumbnails and
synthetic fixtures actually use. Encoding writes filter-0 scanlines;
decoding implements ALL five PNG filter types (None/Sub/Up/Average/
Paeth) so externally-produced baseline PNGs decode too.

This replaces the round-1..3 "decode is a stand-in" marker for images:
`operators/media.py` builds REAL PNG payloads (deterministic pixels)
and `media_image_stats` decodes them end-to-end, oracle-checked — the
DuckDB twin recomputes the same pixel bytes from their definition, so
a codec regression breaks the value hash. Baseline JPEG and PCM WAV
decode for real too (``functions/jpeg.py``, ``functions/wav.py``);
video and compressed audio need codec libraries the runtime lacks and
are de-scoped (SURVEY.md §2.12).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(arr: np.ndarray, compress_level: int = 6) -> bytes:
    """uint8 array (H, W) greyscale or (H, W, 3) RGB -> PNG bytes."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        color_type, channels = 0, 1
        h, w = a.shape
    elif a.ndim == 3 and a.shape[2] == 3:
        color_type, channels = 2, 3
        h, w = a.shape[:2]
    else:
        raise ValueError("expected (H, W) greyscale or (H, W, 3) RGB uint8")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = a.reshape(h, w * channels)
    scanlines = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), raw], axis=1
    ).tobytes()  # filter byte 0 per row
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scanlines, compress_level))
        + _chunk(b"IEND", b"")
    )


def _unfilter(data: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo per-scanline PNG filters in place; returns (h, stride) bytes."""
    rows = data.reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ftype = int(rows[y, 0])
        cur = rows[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        if ftype == 0:  # None
            rec = cur
        elif ftype == 2:  # Up
            rec = (cur + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need left recursion
            rec = np.zeros(stride, np.int32)
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                up = int(prev[x])
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + up) // 2
                else:
                    ul = int(out[y - 1, x - bpp]) if (y > 0 and x >= bpp) else 0
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                rec[x] = (int(cur[x]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = rec.astype(np.uint8)
    return out


def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 array (H, W) for greyscale, (H, W, 3) for RGB."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + tag + payload + crc
        if tag == b"IHDR":
            ihdr = payload
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth, color_type, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or color_type not in (0, 2) or comp != 0 or filt != 0:
        raise ValueError(
            f"unsupported PNG variant (depth={depth}, color={color_type})"
        )
    if interlace != 0:
        raise ValueError("interlaced PNG not supported")
    channels = 1 if color_type == 0 else 3
    stride = w * channels
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    if raw.size != h * (stride + 1):
        raise ValueError("PNG payload size mismatch")
    out = _unfilter(raw, h, stride, channels)
    return out.reshape(h, w) if channels == 1 else out.reshape(h, w, 3)
