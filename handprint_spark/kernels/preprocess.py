"""Image-normalization chain (reference manager.py:344-374, "I8").

One pure function per media object, applying the reference's stage
order exactly:

  1. convert to PNG when not already PNG (manager.py:350-355);
  2. dimension-reduce when over the folded max dimensions
     (manager.py:357-366, guard ``max < actual`` on either axis);
  3. byte-size-reduce when over the folded max size
     (manager.py:368-372);

plus the new-engine adaptive binarization (SURVEY.md §2.8 north-star
note, no reference counterpart; HPM1 pixels are single-channel, so
grayscale needs no stage), fused so the object is decoded once and
re-encoded once per stage boundary rather than round-tripping through
temp files.

Errors are returned as values, never raised (the reference's
row-vs-job error policy): ``normalize_media_bytes`` returns
``(bytes|None, error|None)``.
"""

from __future__ import annotations

from typing import Optional

from . import codec
from .formats import (
    OUTPUT_FORMAT,
    needs_dimension_reduce,
    reduced_dimension_dims,
    reduced_size_dims,
)


def decode_media_text(data: bytes) -> tuple[Optional[str], Optional[str]]:
    """Kernel fusion of the I8 normalize chain with the X9 decode for
    consumers that keep only TEXT (the extraction flagship: result
    spans carry decoded text, never media bytes).

    Projection pushdown through the kernel: ``normalize_media_bytes``
    produces normalized media BYTES whose only hot-path consumer is
    ``decode_media_bytes`` — and every normalize stage is
    text-invariant (format rename keeps the payload, dimension/byte
    caps RESIZE — the reference resizes oversized media, never rejects
    it, images.py:149-157 — and gray/binarize touch pixels only), so
    the normalized bytes are dead values the moment the text is out.
    This fusion performs the same FULL media verification
    (``decode_media`` header + pixel-payload checks — the error
    surface is identical) and skips only the dead re-encode/copy.
    Returns (page-1 text, None) or (None, error)."""
    try:
        info = codec.decode_media(data)
    except codec.MediaError as exc:
        return None, str(exc)
    return info.text, None


def normalize_media_bytes(
    data: bytes,
    max_size: Optional[int],
    max_width: Optional[int],
    max_height: Optional[int],
    binarize: bool = False,
) -> tuple[Optional[bytes], Optional[str]]:
    """Full I8 chain over one media object. Deterministic; returns
    (normalized_bytes, None) or (None, error_message)."""
    try:
        info = codec.decode_media(data)  # full verification happens HERE
    except codec.MediaError as exc:
        return None, str(exc)

    text = info.text  # page-1 only (W4 truncation)
    width, height = info.width, info.height
    binarized = bool(info.flags & codec.FLAG_BINARIZED) or binarize

    # Stage 2: dimension cap (before the byte cap, as the reference does).
    if (
        max_width is not None
        and max_height is not None
        and needs_dimension_reduce(width, height, max_width, max_height)
    ):
        width, height = reduced_dimension_dims(width, height, max_width, max_height)

    # Early-exit rewrite (reference images.py:149-152 / manager.py:357-372):
    # already canonical PNG, single page, dims untouched, no stage flag
    # change, within the byte cap -> pass the original bytes through
    # with no re-encode.
    if (
        info.fmt == OUTPUT_FORMAT
        and info.npages == 1
        and (width, height) == (info.width, info.height)
        and binarized == bool(info.flags & codec.FLAG_BINARIZED)
        and (max_size is None or len(data) <= max_size)
    ):
        return data, None

    # Format-only fast path: single page, dims/flags untouched, no pad
    # — the pixel payload a re-encode would produce is byte-identical
    # to the one already in ``data`` (pixels are a pure function of
    # text+dims), so the PNG conversion is a header rename, not a
    # render+deflate round trip. This is most of the flagship corpus
    # (5/6 of media are non-png; caps rarely fire), measured ~1.9x on
    # the sequential kernel.
    #
    # TRUST ASSUMPTION (deliberate, scoped): decode_media above verified
    # the pixel payload decompresses to width*height bytes but NOT that
    # it equals render_pixels(text, dims) — a well-formed HPM1 object
    # whose pixels were tampered to disagree with its text would pass
    # through here unre-rendered, where a re-encode would canonicalize
    # it. Every byte this engine ingests is self-encoded (corpus.py) so
    # the case is unreachable today; if externally-sourced HPM1 media
    # is ever ingested, gate this path on a pixel-payload checksum.
    if (
        (width, height) == (info.width, info.height)
        and binarized == bool(info.flags & codec.FLAG_BINARIZED)
    ):
        swapped = codec.swap_format(data, OUTPUT_FORMAT, info)
        if swapped is not None and (max_size is None or len(swapped) <= max_size):
            return swapped, None

    # Re-encode once as canonical PNG at the (possibly reduced) dims.
    out = codec.encode_media(
        text, fmt=OUTPUT_FORMAT, width=width, height=height, binarized=binarized
    )

    # Stage 3: byte-size cap — ratio math on the *current* encoded size
    # (reference images.py:149-157), one shot, no iteration.
    if max_size is not None and len(out) > max_size:
        new_w, new_h = reduced_size_dims(width, height, len(out), max_size)
        out = codec.encode_media(
            text, fmt=OUTPUT_FORMAT, width=new_w, height=new_h, binarized=binarized
        )
    return out, None
