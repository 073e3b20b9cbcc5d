"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json). Fill these in
as you implement operators from SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship extraction pipeline on /root/testdata/sf0.001.

    documents parquet → deterministic interleaved-span derivation
    (corpus.spanify) → narrow mapInArrow extraction (the fused
    verify-and-decode kernel, preprocess.decode_media_text, per media
    span) → exploded span rows
    (doc_id, kind, text, media_ref, offset, n_media, n_errors).
    """
    from pyspark.sql import functions as F

    from handprint_spark.corpus import load_documents_spans
    from handprint_spark.operators.extract import extract_documents

    results = extract_documents(load_documents_spans(spark, "/root/testdata/sf0.001"))
    return results.select(
        "doc_id",
        F.explode("spans").alias("span"),
        "n_media",
        "n_errors",
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
        "n_media",
        "n_errors",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable takes (spark, sf_dir) and returns a DataFrame.
    Alias every computed/aggregate column so names match ``oracle_sql``.
    """
    from handprint_spark.operators import (
        compare,
        curation,
        dedup,
        html_extract,
        multimodal,
        relational,
        service_fanout,
        service_queries,
        similarity,
        text_analysis,
    )
    from handprint_spark.streaming import queries as streaming_queries

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    out.update(compare.QUERIES)
    out.update(curation.QUERIES)
    out.update(dedup.QUERIES)
    out.update(html_extract.QUERIES)
    out.update(multimodal.QUERIES)
    out.update(relational.QUERIES)
    out.update(service_fanout.QUERIES)
    out.update(service_queries.QUERIES)
    out.update(similarity.QUERIES)
    out.update(text_analysis.QUERIES)
    out.update(streaming_queries.QUERIES)
    return out


def oracle_sql() -> dict[str, str]:
    """For each key in ``queries()``, equivalent ANSI SQL runnable by
    DuckDB on the same parquet tables (pre-registered views: region
    nation customer supplier part orders lineitem events documents
    embeddings). Omit for non-SQL-expressible ops → driver records a
    weaker rows-only check.
    """
    from handprint_spark.operators import (
        compare,
        curation,
        dedup,
        html_extract,
        multimodal,
        relational,
        service_fanout,
        service_queries,
        similarity,
        text_analysis,
    )

    out: dict[str, str] = {}
    out.update(service_queries.ORACLES)
    out.update(service_fanout.ORACLES)
    out.update(compare.ORACLES)
    out.update(multimodal.ORACLES)
    out.update(text_analysis.ORACLES)
    out.update(similarity.ORACLES)
    out.update(dedup.ORACLES)
    out.update(html_extract.ORACLES)
    out.update(curation.ORACLES)
    out.update(relational.ORACLES)
    from handprint_spark.streaming import queries as streaming_queries

    out.update(streaming_queries.ORACLES)
    return out
