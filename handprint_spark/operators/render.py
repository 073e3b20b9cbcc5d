"""Annotated-image and grid sinks as Spark stages (K5/K6).

The reference renders one annotated PNG per (doc, service) under a
global matplotlib lock (manager.py:260-271, 309-317) and one grid PNG
per doc (manager.py:177-184). Here both are lock-free Arrow-batched
stages:

  * ``annotated_media``: per-media scalar stage (mapInPandas; narrow,
    no shuffle) — decode, F1/F2 filter, draw W5-ordered outlines,
    re-encode.
  * ``doc_grids``: groupBy(doc_id).applyInPandas — the one genuinely
    grouped render (all of a doc's media tile into one image); the
    shuffle moves only the doc's annotated crops.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import codec
from ..kernels.decoder import decode_media_bytes
from ..kernels.render import annotate, make_grid

ANNOTATED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("annotated", T.BinaryType()),
        T.StructField("n_boxes", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ]
)


def annotated_media(
    spans_with_media: DataFrame,
    score_threshold: float = 0.0,
    kinds: tuple[str, ...] = ("para", "line", "word"),
    display: tuple[str, ...] | None = None,
    shift: tuple[int, int] = (0, 0),
) -> DataFrame:
    """One annotated image per media object: decode boxes with the
    deterministic decoder, overlay outlines and/or word-text labels
    per the reference display matrix (``display``, e.g. ``('text',)``
    or ``('bb-word', 'text')`` — kernels/render.resolve_display), and
    re-encode."""
    exploded = spans_with_media.select(
        "doc_id", F.explode("media").alias("m")
    ).select(
        "doc_id",
        F.col("m.media_ref").alias("media_ref"),
        F.col("m.content").alias("content"),
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, ref, content in zip(pdf["doc_id"], pdf["media_ref"], pdf["content"]):
                content = bytes(content)
                tr = decode_media_bytes(content)
                if tr.error is not None:
                    rows.append((doc_id, ref, None, 0, tr.error))
                    continue
                boxes = [b._asdict() for b in tr.boxes]
                try:
                    # trusted: decode_media_bytes just verified these
                    # bytes — re-verifying in annotate paid a second
                    # zlib decompression per media object
                    out = annotate(content, boxes, score_threshold, kinds,
                                   display=display, shift=shift, trusted=True)
                    rows.append((doc_id, ref, out, len(boxes), None))
                except codec.MediaError as exc:
                    rows.append((doc_id, ref, None, 0, str(exc)))
            yield pd.DataFrame(rows, columns=[f.name for f in ANNOTATED_SCHEMA.fields])

    return exploded.mapInPandas(run, ANNOTATED_SCHEMA)


GRID_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("grid", T.BinaryType()),
        T.StructField("n_tiles", T.IntegerType()),
    ]
)


def doc_grids(annotated: DataFrame, max_horizontal: int = 4) -> DataFrame:
    """K6: one tiled grid image per document from its annotated crops,
    tiled in READING order — natural sort on media_ref: the trailing
    line index compares numerically, so line-10 tiles after line-2
    (plain lexicographic order scrambled any doc with 10+ crops)."""
    import re

    def _natural(ref: str):
        return [
            int(part) if part.isdigit() else part
            for part in re.split(r"(\d+)", ref or "")
        ]

    def build(key, pdf):
        import pandas as pd

        order = sorted(range(len(pdf)), key=lambda i: _natural(pdf["media_ref"].iat[i]))
        pdf = pdf.iloc[order]
        images = [bytes(b) for b in pdf["annotated"] if b is not None]
        return pd.DataFrame(
            [(key[0], make_grid(images, max_horizontal), len(images))],
            columns=["doc_id", "grid", "n_tiles"],
        )

    return annotated.groupBy("doc_id").applyInPandas(build, GRID_SCHEMA)
