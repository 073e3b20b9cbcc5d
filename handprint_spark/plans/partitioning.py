"""Partitioning and skew machinery (SURVEY.md §4, north_rule).

The extraction pipeline is narrow (per-row), so classic join-skew
tools don't apply to it; its skew failure mode is different: one
multi-page document (the corpus's SKEW_MOD slice carries 25x the
median span count; real corpora have 1000x outliers) pins one task
while its 10^3 media spans decode serially.

``extract_skew_aware`` fixes that by *splitting heavy rows*: a document
whose media count exceeds a threshold, and whose offsets alone order
its spans (every span has one, no two share one), becomes one row per
slice of k media spans in media_ref order, each carrying only the
media objects in its slice's ref range (text spans ride in chunk 0).
The chunk rows are hash-repartitioned by (doc_id, chunk), extracted in
several tasks, and rejoined by a groupBy over the heavy subset alone,
in offset order. Any other heavy document is one chunk, taken as
extraction returns it. So the rejoin sorts only where offsets alone fix
``extract_one``'s order, and every document comes back with its spans.
The normal path stays shuffle-free; the shuffles touch only the heavy
tail.
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
    partitions (an explicit count, which AQE does not coalesce). Only
    a doc whose offsets alone order its spans splits; any other doc is
    one chunk of its own spans and media, as the input holds them."""
    k = media_per_chunk
    kinds_sql = ", ".join(f"'{m}'" for m in MEDIA_KINDS)
    is_media = f"coalesce(s.kind in ({kinds_sql}), false)"
    # every non-null span has an offset and no two share one
    splits = ("coalesce(forall(_o, o -> o IS NOT NULL)"
              " AND size(array_distinct(_o)) = size(_o), false)")
    lo = f"get(_ms, c * {k}).media_ref"
    hi = f"get(_ms, least((c + 1) * {k}, size(_ms)) - 1).media_ref"
    # the ref-range filter keeps the media's input order, so a
    # duplicate ref's last object still wins in each chunk
    chunks = f"""
        if({splits}, transform(sequence(0, greatest(cast(ceil(size(_ms) / {k}) as int), 1) - 1), c -> struct(
          c as chunk,
          concat(if(c = 0, _text, array()), slice(_ms, c * {k} + 1, {k})) as spans,
          filter(media, m -> {_le(lo, 'm.media_ref')} and {_le('m.media_ref', hi)}) as media)),
          array(struct(0 as chunk, spans, media)))
    """
    n_partitions = heavy.sparkSession.sparkContext.defaultParallelism
    return (
        heavy.select(
            "doc_id", "spans", "media",
            F.expr("transform(filter(spans, s -> s IS NOT NULL), s -> s.offset)").alias("_o"),
            F.expr(f"filter(spans, s -> not {is_media})").alias("_text"),
            F.expr(f"transform(sort_array(transform(filter(spans, s -> {is_media}),"
                   " s -> named_struct('r', s.media_ref, 's', s))), t -> t.s)").alias("_ms"),
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
    """Extraction with heavy-document splitting (module docstring):
    output schema and spans equal ``extract_documents``'.

    Rows with at most ``skew_threshold`` media, or a null count, run
    the narrow path. Heavier rows whose offsets alone order their spans
    split into chunks of ``media_per_chunk`` media spans, which extract
    in parallel and rejoin sorted by offset; any other heavy row is one
    chunk, taken exactly as extraction returns it.

    ``n_media_col``: name of a materialized media-count column on the
    input table. The heavy/normal split is two filters over the same
    scan; with the count derived as size(media) the predicate cannot
    push down and the split pays a second full read of the media
    bytes. A materialized count column (corpus.materialize_spans
    writes one, sorted within partitions — the Iceberg
    metrics-column + sort-order analog) turns both filters into
    parquet row-group pruning: the heavy scan skips every
    all-normal row group, which is almost all of them.
    """
    n_media = F.col(n_media_col) if n_media_col else F.size("media")
    normal = spans_with_media.filter(n_media.isNull() | (n_media <= skew_threshold))
    heavy = spans_with_media.filter(n_media > skew_threshold)

    reassembled = (
        extract_documents(_chunk_rows(heavy, media_per_chunk))
        .groupBy("doc_id")
        .agg(
            F.collect_list("spans").alias("_l"),
            F.sum("n_media").cast("int").alias("n_media"),
            F.sum("n_errors").cast("int").alias("n_errors"),
        )
        .select(
            "doc_id",
            F.expr("if(size(_l) = 1, _l[0], transform(sort_array(transform(flatten(_l),"
                   " s -> named_struct('o', s.offset, 's', s))), t -> t.s))"
                   ).cast(SPAN_TYPE).alias("spans"),
            "n_media",
            "n_errors",
        )
    )
    return extract_documents(normal).unionByName(reassembled)
