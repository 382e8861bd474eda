"""Minimal pure-python PNG codec (stdlib only: zlib + struct).

Purpose: the multimodal real-decode arm (multimodal.py) is
capability-gated on Pillow, which some runtime images lack.  PNG's core
is deflate over per-scanline filtered bytes — fully implementable with
the stdlib — so this module provides a real (not fake) decode path for
the most common interchange format, letting the decode→feature pipeline
run end-to-end anywhere.  JPEG/video stay Pillow/av-gated: their codecs
are not reasonably re-implementable here.

Scope (deliberate): bit depth 8, color types 0 (gray), 2 (RGB), 4
(gray+alpha), 6 (RGBA), no interlacing, all five scanline filters,
multi-IDAT streams.  This is a decoder, not an imaging library: output
is rows of raw bytes for the feature extractor to fold.
"""

from __future__ import annotations

import struct
import zlib

SIGNATURE = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode(payload: bytes) -> tuple[int, int, int, list[bytearray]]:
    """Decode a PNG payload -> (width, height, channels, rows).

    ``rows`` are unfiltered raw scanlines: width*channels bytes each,
    channel order G / RGB / GA / RGBA by color type."""
    if payload[:8] != SIGNATURE:
        raise ValueError("not a PNG payload (bad signature)")
    pos, width = 8, None
    height = channels = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + tag + data + crc
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, ilace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth} (only 8)")
            if ctype not in _CHANNELS:
                raise ValueError(f"unsupported color type {ctype}")
            if ilace:
                raise ValueError("interlaced PNG not supported")
            channels = _CHANNELS[ctype]
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("truncated PNG (missing IHDR or IDAT)")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG scanline payload has the wrong size")
    rows: list[bytearray] = []
    prev = bytearray(stride)
    for y in range(height):
        base = y * (stride + 1)
        ftype = raw[base]
        line = bytearray(raw[base + 1 : base + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                ul = prev[i - channels] if i >= channels else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        rows.append(line)
        prev = line
    return width, height, channels, rows


def luma_rows(
    width: int, height: int, channels: int, rows: list[bytearray]
) -> list[list[float]]:
    """Per-pixel luma in [0, 255]: identity for gray, ITU-R BT.601
    weights for RGB(A) — the same convention Pillow's ``convert('L')``
    uses, so features agree across the two decode arms."""
    out = []
    for line in rows:
        if channels == 1:
            out.append([float(v) for v in line])
        elif channels == 2:  # gray + alpha
            out.append([float(line[i]) for i in range(0, len(line), 2)])
        else:  # RGB / RGBA
            px = []
            for i in range(0, len(line), channels):
                px.append(
                    0.299 * line[i] + 0.587 * line[i + 1] + 0.114 * line[i + 2]
                )
            out.append(px)
    return out
