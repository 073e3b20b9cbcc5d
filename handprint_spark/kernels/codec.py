"""Deterministic synthetic media codec ("HPM1").

The sandbox has no PIL/PyMuPDF, and the task rules forbid external
data, so media columns carry a self-describing synthetic format whose
*pixels are a pure function of (text, width, height)*. That gives the
whole preprocessing chain (convert -> resize -> grayscale -> binarize,
reference images.py:139-240 / manager.py:344-374) a deterministic,
byte-reproducible meaning: resampling at new dimensions re-renders the
same function at the new size — a stand-in for PIL's Image.HAMMING that
preserves the property the pipeline actually relies on (same input
bytes => same output bytes on every executor, any parallelism).

Layout (little-endian):
    magic   4s   b"HPM1"
    fmt     8s   ascii, NUL-padded (canonical format name, e.g. png)
    width   u32
    height  u32
    npages  u16
    flags   u16  bit0 = binarized
    textlen u32  length of UTF-8 text payload
    text    ...  page texts joined by "\\f" (form feed)
    padlen  u32  deterministic incompressible padding (byte-size control)
    pixels  zlib(width*height grayscale bytes, page 1)
    pad     padlen raw bytes from the same keyed stream

Corrupt inputs raise ``MediaError`` — mapped downstream to error rows,
never task failures (the reference's row-vs-job error policy,
services/base.py + amazon.py:66-79).
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import NamedTuple

import numpy as np

from .formats import canonical_format_name

MAGIC = b"HPM1"
_HEADER = struct.Struct("<4s8sIIHHI")
FLAG_BINARIZED = 1


class MediaError(ValueError):
    """Unreadable/corrupt media bytes (analog of PIL open errors)."""


class MediaInfo(NamedTuple):
    fmt: str
    width: int
    height: int
    npages: int
    flags: int
    text: str  # page-1 text
    pages: tuple  # all page texts
    size: int  # total encoded byte size


def _stream(key: bytes, n: int) -> bytes:
    """Deterministic pseudo-random byte stream keyed by ``key``.
    SHAKE-256 XOF: one C call for the whole stream (a sha256-counter
    loop here was the pipeline's hottest Python loop)."""
    if n <= 0:
        return b""
    return hashlib.shake_256(key).digest(n)


def render_pixels(text: str, width: int, height: int, binarized: bool = False) -> np.ndarray:
    """Grayscale page render: a pure function of (text, width, height).

    ~3% ink coverage: deterministic mark positions/intensities keyed by
    (text, dims) on a zero background. Real document pages are mostly
    background and their encodings compress (the reference's corpus is
    JPEG/PNG page scans) — a corpus faithful to that profile keeps the
    scan/Arrow-transport bytes proportional to *compressed* image size
    while the decode/render compute still scales with the pixel count,
    matching the CPU-per-byte shape of a real extraction pipeline."""
    n = width * height
    if n == 0:
        return np.zeros((height, width), dtype=np.uint8)
    key = b"HPM1-px|" + text.encode("utf-8") + b"|" + struct.pack("<II", width, height)
    m = max(1, n // 32)
    raw = np.frombuffer(_stream(key, m * 5), dtype=np.uint8)
    pos = (
        (raw[0::5].astype(np.uint64) << 24)
        | (raw[1::5].astype(np.uint64) << 16)
        | (raw[2::5].astype(np.uint64) << 8)
        | raw[3::5].astype(np.uint64)
    ) % n
    val = raw[4::5] | np.uint8(1)  # nonzero ink
    px = np.zeros(n, dtype=np.uint8)
    px[pos] = val
    px = px.reshape(height, width)
    if binarized:
        px = np.where(px >= 128, np.uint8(255), np.uint8(0))
    return px


def _header(fmt: str, width: int, height: int, npages: int, flags: int, textlen: int) -> bytes:
    return _HEADER.pack(
        MAGIC, fmt.encode("ascii")[:8].ljust(8, b"\0"), width, height, npages, flags, textlen
    )


def encode_pixels(
    px: np.ndarray,
    pages: list[str] | tuple[str, ...],
    fmt: str = "png",
    flags: int = 0,
    level: int = 6,
    pad_to: int | None = None,
) -> bytes:
    """Encode an HPM1 object around an explicit page-1 pixel plane
    (height x width), deflated at ``level``; ``pad_to`` grows the
    encoding with incompressible padding to a target byte size."""
    joined = "\f".join(pages).encode("utf-8")
    header = _header(fmt, px.shape[1], px.shape[0], len(pages), flags, len(joined))
    pixels = zlib.compress(np.asarray(px, dtype=np.uint8).tobytes(), level)
    base_len = len(header) + len(joined) + 4 + len(pixels)
    pad_len = max(0, (pad_to or 0) - base_len)
    pad = _stream(b"HPM1-pad|" + joined, pad_len)
    return header + joined + struct.pack("<I", pad_len) + pixels + pad


def encode_media(
    text: str,
    fmt: str = "png",
    width: int = 320,
    height: int = 200,
    pages: list[str] | None = None,
    pad_to: int | None = None,
    binarized: bool = False,
) -> bytes:
    """Encode a synthetic media object. ``pages`` overrides ``text`` for
    multi-page formats (pdf/tiff); ``pad_to`` grows the encoding with
    incompressible padding to a target byte size (size-cap testing)."""
    fmt = canonical_format_name(fmt)
    page_texts = pages if pages is not None else [text]
    if not page_texts:
        # a clean MediaError, not an IndexError task failure — the
        # module's errors-are-values policy holds for encode too
        raise MediaError("cannot encode media with zero pages")
    # level 1: on the sparse ink plane the ratio loss vs level 6 is a few
    # percent while deflate drops from ~35% of extraction CPU to ~10%
    return encode_pixels(
        render_pixels(page_texts[0], width, height, binarized), page_texts, fmt,
        FLAG_BINARIZED if binarized else 0, level=1, pad_to=pad_to,
    )


def _pixel_payload(data: bytes) -> bytes:
    """Inflate and check the page-1 pixel plane of an object whose
    header and text ``decode_media`` already accepted."""
    _, _, width, height, _, _, textlen = _HEADER.unpack_from(data, 0)
    off = _HEADER.size + textlen
    (pad_len,) = struct.unpack_from("<I", data, off)
    try:
        raw = zlib.decompress(data[off + 4 : len(data) - pad_len])
    except zlib.error as exc:
        raise MediaError(f"corrupt pixel payload: {exc}") from exc
    if len(raw) != width * height:
        raise MediaError("pixel payload does not match dimensions")
    return raw


def decode_media(data: bytes, verify_pixels: bool = True) -> MediaInfo:
    """Parse header + text of an HPM1 object; raises MediaError on
    empty/corrupt input (reference zero-byte guard manager.py:252-254
    and corrupted-image fixture tests/data/bad-images/).

    ``verify_pixels=False`` skips the zlib round-trip — only valid for
    bytes this process just encoded itself (the normalize stage always
    verifies; the decoder downstream of it need not re-verify)."""
    if data is None or len(data) == 0:
        raise MediaError("empty media content")
    if len(data) < _HEADER.size or data[:4] != MAGIC:
        raise MediaError("not an HPM1 media object")
    magic, fmt_b, width, height, npages, flags, textlen = _HEADER.unpack_from(data, 0)
    off = _HEADER.size
    if off + textlen + 4 > len(data):
        raise MediaError("truncated media object")
    try:
        joined = data[off : off + textlen].decode("utf-8")
    except UnicodeDecodeError as exc:
        raise MediaError(f"corrupt text payload: {exc}") from exc
    page_texts = tuple(joined.split("\f")) if joined else ("",)
    if verify_pixels:
        _pixel_payload(data)
    return MediaInfo(
        fmt_b.rstrip(b"\0").decode("ascii"), width, height, npages, flags,
        page_texts[0], page_texts, len(data),
    )


def decode_pixels(data: bytes) -> "np.ndarray":
    """Fully-verified decode returning the page-1 pixel plane
    (height x width uint8). The stored payload IS the rendered plane
    (encode writes render_pixels' output; annotate writes its overlay),
    so consumers that need pixels — grids, feature extraction,
    perceptual hashing — get them from the ONE zlib decompression the
    integrity check already performs, instead of decode_media + a
    redundant re-render (2x the per-media work, measured on the
    mm_phash_dedup path). Raises MediaError on any corruption
    decode_media would reject."""
    info = decode_media(data, verify_pixels=False)
    raw = _pixel_payload(data)
    return np.frombuffer(raw, dtype=np.uint8).reshape(info.height, info.width)


def swap_format(data: bytes, to_format: str, info: MediaInfo | None = None) -> bytes | None:
    """Header-only format rename. HPM1 pixels are a pure function of
    (page-1 text, width, height, binarized), so when nothing but the
    format NAME changes, the pixel payload a re-encode would produce
    is already the payload in ``data`` — renaming the header is
    equivalent to (and ~10x cheaper than) a render+deflate round trip.
    Returns None when the rename is NOT equivalent to a re-encode
    (multi-page object — a re-encode keeps only page 1 — or padded
    payload — a re-encode drops the pad), so callers fall back."""
    fmt = canonical_format_name(to_format)
    if info is None:
        info = decode_media(data, verify_pixels=False)
    if info.npages != 1:
        return None
    textlen = len(info.text.encode("utf-8"))
    (pad_len,) = struct.unpack_from("<I", data, _HEADER.size + textlen)
    if pad_len:
        return None
    header = _header(fmt, info.width, info.height, 1, info.flags, textlen)
    return header + data[_HEADER.size :]


def convert_media(data: bytes, to_format: str = "png") -> bytes:
    """Format normalization (reference images.py:197-240 / I5): re-encode
    as ``to_format``; multi-page sources keep only page 1 (the
    reference's PDF first-page rule, images.py:211-218, and the
    page-1-only truncation W4)."""
    info = decode_media(data)
    return encode_media(
        info.text, fmt=to_format, width=info.width, height=info.height,
        binarized=bool(info.flags & FLAG_BINARIZED),
    )


def resize_media(data: bytes, new_width: int, new_height: int) -> bytes:
    """Deterministic resample to new dimensions (stand-in for
    Image.HAMMING in reference images.py:159,187): re-renders the pure
    pixel function at the new size; text payload unchanged."""
    info = decode_media(data)
    return encode_media(
        info.text, fmt=info.fmt, width=new_width, height=new_height,
        binarized=bool(info.flags & FLAG_BINARIZED),
    )


def binarize_media(data: bytes) -> bytes:
    """Adaptive-binarization stage (new-engine stage, SURVEY.md §2.8):
    thresholds the deterministic render at 128 and sets the flag."""
    info = decode_media(data)
    return encode_media(
        info.text, fmt=info.fmt, width=info.width, height=info.height, binarized=True
    )
