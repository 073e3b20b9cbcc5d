"""Deterministic annotation / grid rendering kernels.

Stand-ins for the reference's matplotlib overlay (I6,
images.py:243-297) and grid tiling (I7, images.py:303-319), expressed
as pure numpy over HPM1 pixels so they are byte-reproducible:

  * ``annotate``: draws box outlines into the page render — paragraph
    boxes first, then lines, then words (the W5 z-order,
    images.py:96-98), honoring the F1 confidence threshold
    (images.py:256) and F2 kind filter (images.py:259-267);
  * ``make_grid``: tiles n images into ceil(sqrt(n)) columns
    (C13, manager.py:182), cell size = column max width x row max
    height with cumulative offsets (A4, images.py:306-314).

Unlike the reference, no global lock is needed (manager.py:260-271
serialized matplotlib; these kernels share no state — SURVEY §2.8 I6).
"""

from __future__ import annotations

import numpy as np

from . import codec

KIND_INTENSITY = {"para": 64, "line": 128, "word": 255}
Z_ORDER = ("para", "line", "word")  # draw order: para under line under word
LABEL_BG = 32  # the white-alpha-0.8 text background box, grayscale analog
LABEL_H = 6
LABEL_CHAR_W = 4

# the display values the CLI accepts (``-d``), in resolve_display's terms
POSSIBLE_DISPLAYS = (
    "text", "bb", "bb-word", "bb-words", "bb-line", "bb-lines",
    "bb-para", "bb-paragraph", "bb-paragraphs",
)


def resolve_display(display) -> tuple[set, bool]:
    """The reference's display-selection matrix (__main__.py:476-482 +
    images.py:259-267): ``text`` draws word labels; ``bb`` draws all
    box kinds; ``bb-<kind>`` draws that kind. QUIRK KEPT: the plural
    forms the CLI accepts (``bb-words``/``bb-lines``/...) split to
    tokens like 'words' which match no box.kind, so they validate but
    draw nothing — exactly what the reference does (images.py:262
    ``flatten(d.split('-'))`` vs box.kind equality at :267)."""
    display = list(display)
    show_text = any(d == "text" for d in display)
    show_bb: set = set()
    if any(d.startswith("bb") for d in display):
        if "bb" in display:  # 'bb' means all kinds (images.py:260-261)
            show_bb = {"word", "line", "para"}
        else:
            parts: set = set()
            for d in display:
                parts.update(d.split("-"))
            show_bb = parts - {"text", "bb"}
    return show_bb, show_text


def label_pixels(text: str) -> np.ndarray:
    """Deterministic glyph stand-in: a LABEL_H x (LABEL_CHAR_W*len)
    pixel block keyed by the label text (no fonts in this container;
    the pixels are a pure function of the text, so tests can assert
    exact label content)."""
    w = max(1, LABEL_CHAR_W * len(text))
    raw = codec._stream(b"HPM1-label|" + text.encode("utf-8"), LABEL_H * w)
    px = np.frombuffer(raw, dtype=np.uint8).reshape(LABEL_H, w)
    return (px | np.uint8(64)).astype(np.uint8)  # keep ink distinguishable from bg


def _draw_label(px: np.ndarray, x: int, y: int, text: str) -> None:
    """Word-label overlay (reference images.py:274-288): a background
    box (facecolor white, alpha .8 → LABEL_BG band) then the label
    glyphs, clipped at the page edge; anchor clamps to >= 0."""
    h, w = px.shape
    x, y = max(0, x), max(0, y)
    if y >= h or x >= w:
        return
    glyphs = label_pixels(text)
    gh, gw = glyphs.shape
    gh, gw = min(gh, h - y), min(gw, w - x)
    # np.maximum against LABEL_BG both paints the background and lays
    # the glyphs in one assignment (a separate BG fill of the same
    # region would be a dead store)
    px[y : y + gh, x : x + gw] = np.maximum(glyphs[:gh, :gw], np.uint8(LABEL_BG))


def _draw_rect(px: np.ndarray, bb: list, value: int) -> None:
    h, w = px.shape
    xs = [bb[i] for i in range(0, len(bb), 2)]
    ys = [bb[i + 1] for i in range(0, len(bb), 2)]
    x0, x1 = max(0, min(xs)), min(w - 1, max(xs))
    y0, y1 = max(0, min(ys)), min(h - 1, max(ys))
    if x1 < x0 or y1 < y0:
        return
    px[y0, x0 : x1 + 1] = value
    px[y1, x0 : x1 + 1] = value
    px[y0 : y1 + 1, x0] = value
    px[y0 : y1 + 1, x1] = value


def annotate(
    data: bytes,
    boxes: list[dict],
    score_threshold: float = 0.0,
    kinds: tuple[str, ...] | None = ("para", "line", "word"),
    display=None,
    shift: tuple[int, int] = (0, 0),
    trusted: bool = False,
) -> bytes:
    """Overlay box outlines and/or word-text labels on an HPM1 page;
    returns a new HPM1 object whose pixel payload is the annotated
    render (text preserved).

    F1: boxes below ``score_threshold`` are dropped (images.py:256);
    F2/F5: ``display`` selects what draws via the reference matrix
    (resolve_display; e.g. ``['text']`` = word labels only — the
    reference default, ``['bb']`` = all outlines, ``['bb-word',
    'text']`` = word outlines + labels, reference images.py:258-288);
    ``kinds`` is the pre-display-matrix API (outlines of those kinds)
    and is ignored when ``display`` is given. W5: para < line < word
    draw order with per-kind intensity (the grayscale analog of
    _EDGE_COLOR green/blue/red, images.py:92-94); labels draw last
    (zorder 10, images.py:288) anchored at the word box corner plus
    ``shift``, clamped to the page.

    ``trusted=True`` skips the zlib pixel verification — the hot
    annotate path decodes bytes its caller JUST verified via
    decode_media_bytes, so re-verifying paid a second decompression
    per media object for nothing."""
    info = codec.decode_media(data, verify_pixels=not trusted)
    px = codec.render_pixels(
        info.text, info.width, info.height, bool(info.flags & codec.FLAG_BINARIZED)
    ).copy()
    if display is not None:
        show_bb, show_text = resolve_display(display)
    else:
        show_bb, show_text = set(kinds or ()), False
    passing = [b for b in boxes if b["score"] >= score_threshold]
    for kind in Z_ORDER:
        if kind not in show_bb:
            continue
        for b in passing:
            if b["kind"] != kind:
                continue
            if b["bb"] is not None and len(b["bb"]) >= 8:
                _draw_rect(px, list(b["bb"]), KIND_INTENSITY[kind])
    if show_text:
        for b in passing:
            if b["kind"] != "word" or b["bb"] is None or len(b["bb"]) < 2:
                continue
            _draw_label(
                px,
                int(b["bb"][0]) + int(shift[0]),
                int(b["bb"][1]) + int(shift[1]),
                b.get("text") or "",
            )
    return codec.encode_pixels(px, info.pages, info.fmt, info.flags)


def make_grid(images: list[bytes], max_horizontal: int = 4) -> bytes:
    """Tile images left-to-right, top-to-bottom: cols =
    min(n, max_horizontal) with ceil(sqrt(n)) preferred when smaller
    (reference manager.py:182 computes ceil(sqrt(n)) then caps);
    cell sizes from per-column/per-row maxima with cumulative offsets."""
    import math

    n = len(images)
    if n == 0:
        return codec.encode_media("", width=1, height=1)
    cols = min(n, min(max_horizontal, math.ceil(math.sqrt(n))) or 1)
    pixmaps = [codec.decode_pixels(im) for im in images]
    rows = math.ceil(n / cols)
    # grid index assignment (W2): h = i % cols, v = i // cols
    col_w = [0] * cols
    row_h = [0] * rows
    for i, pm in enumerate(pixmaps):
        hgt, wdt = pm.shape
        ci, ri = i % cols, i // cols
        col_w[ci] = max(col_w[ci], wdt)
        row_h[ri] = max(row_h[ri], hgt)
    x_off = np.concatenate([[0], np.cumsum(col_w)[:-1]])  # A4 cumsum
    y_off = np.concatenate([[0], np.cumsum(row_h)[:-1]])
    canvas = np.zeros((int(sum(row_h)), int(sum(col_w))), dtype=np.uint8)
    for i, pm in enumerate(pixmaps):
        ci, ri = i % cols, i // cols
        y, x = int(y_off[ri]), int(x_off[ci])
        canvas[y : y + pm.shape[0], x : x + pm.shape[1]] = pm
    return codec.encode_pixels(canvas, ("",))
