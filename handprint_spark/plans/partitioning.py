"""Partitioning and skew machinery (SURVEY.md §4, north_rule).

The extraction pipeline is narrow (per-row), so classic join-skew
tools don't apply to it; its skew failure mode is different: one
multi-page document (the corpus's SKEW_MOD slice carries 25x the
median span count; real corpora have 1000x outliers) pins one task
while its 10^3 media spans decode serially.

``extract_skew_aware`` fixes that by *splitting heavy rows*: documents
whose media count exceeds a threshold become one row per slice of k
media spans, in media_ref order, each carrying only the media objects
in its slice's ref range (the document's text spans ride in chunk 0).
The chunk rows are hash-repartitioned by (doc_id, chunk), so one
document's chunks are extracted in several tasks, then reassembled
with a groupBy over only the heavy subset. Building the chunks sorts
a document's media spans and media once each, then per chunk takes one
positional slice and makes one ref comparison per media object: no
per-media membership test over the chunk's spans. The normal path
stays shuffle-free; the shuffles touch only the heavy tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import SPAN_TYPE
from ..operators.extract import MEDIA_KINDS, extract_documents


def _le(a: str, b: str) -> str:
    """``a <= b`` on media refs with null sorting lowest (sort_array's
    ascending order), so null refs chunk like any other ref."""
    return f"({a} IS NULL OR ({b} IS NOT NULL AND {a} <= {b}))"


def _chunk_rows(heavy: DataFrame, media_per_chunk: int) -> DataFrame:
    """(doc_id, spans, media) rows, one per chunk of each heavy doc,
    hash-partitioned by (doc_id, chunk) over defaultParallelism
    partitions (an explicit count, which AQE does not coalesce)."""
    k = media_per_chunk
    kinds_sql = ", ".join(f"'{m}'" for m in MEDIA_KINDS)
    # sort_array over (ref, position, object) is a stable sort by ref:
    # duplicate refs keep their input order, so extract_one's last-wins
    # lookup picks the same object as on the narrow path.
    by_ref = ("transform(sort_array(transform({a}, (x, i) ->"
              " named_struct('r', x.media_ref, 'i', i, 'x', x))), t -> t.x)")
    is_media = f"coalesce(s.kind in ({kinds_sql}), false)"
    lo = f"get(_ms, c * {k}).media_ref"
    hi = f"get(_ms, least((c + 1) * {k}, size(_ms)) - 1).media_ref"
    chunks = f"""
        transform(sequence(0, greatest(cast(ceil(size(_ms) / {k}) as int), 1) - 1), c -> struct(
          c as chunk,
          concat(if(c = 0, _text, array()), slice(_ms, c * {k} + 1, {k})) as spans,
          filter(_media, m -> {_le(lo, 'm.media_ref')} and {_le('m.media_ref', hi)}) as media))
    """
    n_partitions = heavy.sparkSession.sparkContext.defaultParallelism
    return (
        heavy.select(
            "doc_id",
            F.expr(f"filter(spans, s -> not {is_media})").alias("_text"),
            F.expr(by_ref.format(a=f"filter(spans, s -> {is_media})")).alias("_ms"),
            F.expr(by_ref.format(a="media")).alias("_media"),
        )
        .select("doc_id", F.explode(F.expr(chunks)).alias("_c"))
        .select("doc_id", "_c.chunk", "_c.spans", "_c.media")
        .repartition(n_partitions, "doc_id", "chunk")
        .drop("chunk")
    )


def extract_skew_aware(
    spans_with_media: DataFrame,
    media_per_chunk: int = 64,
    skew_threshold: int = 256,
    n_media_col: str | None = None,
) -> DataFrame:
    """Extraction with heavy-document splitting.

    Rows with <= skew_threshold media run the plain narrow path.
    Heavier rows are split into chunk rows, repartitioned by
    (doc_id, chunk) so their chunks extract in parallel, then
    reassembled per doc_id (array_sort by offset keeps span order
    canonical). Output schema == extract_documents.

    ``n_media_col``: name of a materialized media-count column on the
    input table. The heavy/normal split is two filters over the same
    scan; with the count derived as size(media) the predicate cannot
    push down and the split pays a second full read of the media
    bytes. A materialized count column (corpus.materialize_spans
    writes one, sorted within partitions — the Iceberg
    metrics-column + sort-order analog) turns both filters into
    parquet row-group pruning: the heavy scan skips every
    all-normal row group, which is almost all of them.

    Chunk membership holds for ANY span/media interleave and order:
    a heavy doc's media spans are sorted by media_ref, and chunk c is
    their c-th slice of k = media_per_chunk; its media objects are
    those whose ref lies in the slice's [first, last] ref range (the
    media are sorted stably by ref once, so a duplicate ref's last
    object still wins). All non-media spans ride in chunk 0, which
    extract_one passes through unchanged; a heavy doc with no media
    spans is one chunk.
    """
    n_media = F.col(n_media_col) if n_media_col else F.size("media")
    normal = spans_with_media.filter(n_media <= skew_threshold)
    heavy = spans_with_media.filter(n_media > skew_threshold)

    extracted_normal = extract_documents(normal)
    extracted_chunks = extract_documents(_chunk_rows(heavy, media_per_chunk))

    reassembled = (
        extracted_chunks.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.flatten(F.collect_list("spans")),
                lambda a, b: F.when(a["offset"] < b["offset"], -1)
                .when(a["offset"] > b["offset"], 1)
                .otherwise(0),
            ).cast(SPAN_TYPE).alias("spans"),
            F.sum("n_media").cast("int").alias("n_media"),
            F.sum("n_errors").cast("int").alias("n_errors"),
        )
    )
    return extracted_normal.unionByName(reassembled)
