"""R2: render the progress stacked-bar chart to an actual PNG.

The reference draws a single stacked ``barh`` — segment lefts are the
cumulative sum minus the segment width (np.cumsum at
`/root/reference/myfitnesspaw/types.py:168-182`) — and saves a PNG via
matplotlib.  matplotlib isn't available in this container, so the
renderer rasterizes the same geometry into a numpy RGB buffer and
encodes a valid PNG with stdlib zlib (8-bit truecolor, filter 0):
byte-level dependencies are numpy + zlib only.  The segment MATH stays
in :func:`myfitnesspaw_spark.report.progress.chart_segments` (the
tested, load-bearing part); this module is pure rasterization.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _hex_rgb(color: str) -> tuple[int, int, int]:
    c = color.lstrip("#")
    return int(c[0:2], 16), int(c[2:4], 16), int(c[4:6], 16)


def _fill(region: np.ndarray, color: str) -> None:
    """Paint an (h, w, 3) view one channel at a time: broadcasting an
    RGB triple over the last axis runs a length-3 inner loop per pixel
    (0.44 ms against 0.06 ms for the 550×70 canvas)."""
    for channel, value in enumerate(_hex_rgb(color)):
        region[..., channel] = value


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(rgb: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 array as an 8-bit truecolor PNG."""
    if rgb.ndim != 3 or rgb.shape[2] != 3 or rgb.dtype != np.uint8:
        raise ValueError("expected (H, W, 3) uint8 array")
    h, w, _ = rgb.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # Each scanline is prefixed with filter byte 0 (None).
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), rgb.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        _PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _round_half_even(num: int, den: int) -> int:
    """Exact-integer round-half-even of ``num/den`` (both >= 0) —
    ties-to-even like Python's float ``round``, but computed on the
    integers so the geometry is replicable in plain SQL (no float in
    the pixel-coordinate path)."""
    q, r = divmod(num, den)
    if 2 * r < den:
        return q
    if 2 * r > den:
        return q + 1
    return q + (q % 2)


def render_progress_bar_png(
    segments: list[tuple[str, int]],
    palette: dict[str, str],
    width: int = 550,
    height: int = 70,
    background: str = "#ffffff",
) -> bytes:
    """Rasterize the stacked horizontal bar.

    Mirrors the reference's geometry (`types.py:168-182`): one bar,
    segment ``left = cumsum - width`` in goal units, x-axis spanning the
    segment total; 550×70 px matches its 5.5×0.7-inch figure at 100 dpi.
    Zero-width segments draw nothing, exactly as a zero-width barh
    patch would.  Pixel x-bounds use exact-integer half-even rounding
    (segment widths and the total are ints), so the painted-pixel
    counts are integer-arithmetic-checkable downstream.
    """
    widths = np.array([max(int(w), 0) for _, w in segments], dtype=np.int64)
    total = int(widths.sum())
    img = np.empty((height, width, 3), dtype=np.uint8)
    _fill(img, background)
    if total <= 0:
        return encode_png(img)

    lefts = np.cumsum(widths) - widths  # the reference's data_cum[:] - data
    # Bar occupies the middle half vertically (ymargin 0.5 equivalent).
    y0, y1 = height // 4, height - height // 4
    for (name, _), seg_w, seg_left in zip(segments, widths, lefts):
        x0 = _round_half_even(int(seg_left) * width, total)
        x1 = _round_half_even(int(seg_left + seg_w) * width, total)
        if x1 > x0:
            _fill(img[y0:y1, x0:x1], palette[name])
    return encode_png(img)


def png_decode_rgb(data: bytes) -> tuple[int, int, np.ndarray]:
    """Inverse of :func:`encode_png`: chunk walk + CRC verify, IHDR
    parse, IDAT inflate, filter-0 un-filter.  Returns (width, height,
    (H, W, 3) uint8 array).  Only the truecolor/filter-0 form this
    module's encoder emits is supported — the grayscale multi-filter
    codec lives in operators/multimodal.py."""
    if data[: len(_PNG_MAGIC)] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_MAGIC)
    w = h = None
    idat = bytearray()
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", data[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r} chunk")
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _c, _f, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if (bit_depth, color_type, interlace) != (8, 2, 0):
                raise ValueError("decoder supports 8-bit non-interlaced truecolor")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (1 + w * 3):
        raise ValueError("IDAT length does not match dimensions")
    lines = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + w * 3)
    if (lines[:, 0] != 0).any():
        raise ValueError("decoder supports filter type 0 only")
    return w, h, lines[:, 1:].reshape(h, w, 3).copy()
