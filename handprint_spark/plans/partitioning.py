"""Heavy documents take the one extraction plan (SURVEY.md §4, north_rule).

Extraction is narrow, so its skew is one multi-page document pinning
one task while its media decode serially, at 25-33 µs per media on one
core. Splitting such a document into media chunks that extracted in
parallel and rejoined in offset order was measured and removed. Over
one document of N media beside 400 of 3-20 (``perfbench/gen.py``
layout, 4-vCPU host, warm no-op-sink passes), the split against the
narrow plan took 1.50 s against 0.56 s of wall at N = 5,000, 6.7 s
against 1.24 s at 17,500 and 22.7 s against 2.04 s at 35,000: each of
the N/k chunks filtered the whole media array, so its cost grew with
N². A linear chunker, prototyped, bought wall time only between 35,000
and 70,000 media, at 1.8x the CPU. Both plans returned ``extract_one``'s
spans, so the removal changes no result; ROADMAP item 7 keeps the way
back.

``extract_skew_aware`` stays only as the benchmark's name for
``extract_documents``: ``perfbench/run.py`` imports it, passes
``n_media_col``, and reads the ``skew_threshold`` and
``media_per_chunk`` defaults through ``inspect.signature``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.extract import extract_documents


def extract_skew_aware(
    spans_with_media: DataFrame,
    media_per_chunk: int = 64,
    skew_threshold: int | None = None,
    n_media_col: str | None = None,
) -> DataFrame:
    """``extract_documents(spans_with_media)``; the other three
    arguments are ignored (module docstring)."""
    return extract_documents(spans_with_media)
