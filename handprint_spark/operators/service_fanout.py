"""End-to-end (document x service) results fan-out — the reference's
flagship output shape.

The reference materializes one ``Result`` per (document, service)
(manager.py:65-71 builds the task grid, manager.py:160-167 one result
per pair) and can re-parse stored raw JSON instead of re-calling the
service (the ``-j`` reuse path, manager.py:281-285). This module runs
that dataflow as one verified Spark plan:

    corpus -> X9 decode (per-doc page TRResult)
           -> emit all four service raw shapes (kernels/normalizers
              emit_* — the synthetic analog of the service responses)
           -> X1-X5 ``from_json`` normalizers (operators/normalize_json,
              golden-tested byte-exact against the reference fixtures)
           -> (doc_id, service, text, n_boxes, score_sum_x1000)

Spark shape: the decode+emit stage is ONE narrow mapInPandas emitting
four rows per document, materialized once (eager localCheckpoint) so
the four per-service parse branches share it instead of re-decoding —
the Spark analog of the reference writing each service's raw JSON to
disk before parsing. A production deployment would write this fan-out
to the checkpoint table (sources/checkpoints.py) instead; the
localCheckpoint stand-in keeps the registered query self-contained.

Exactness: scores reduce as rint(score*1000). Word confidences are
0.5 + (sha256(word)[:8] % 500)/1000 (kernels/decoder.py), so
score*1000 targets the exact integer 500 + r — no float-half
ambiguity anywhere (rint(score*100) would sit ON .5 boundaries).
"""

from __future__ import annotations

import json
from functools import reduce
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import load_documents_spans
from ..kernels.decoder import decode_page
from ..kernels.normalizers import (
    emit_google,
    emit_microsoft,
    emit_rekognition,
    emit_textract,
)
from .extract import extract_documents, extracted_text
from .normalize_json import PARSERS

FAN_W, FAN_H = 1000, 800  # percent-coordinate basis for the Amazon shapes
SERVICES = ("amazon-textract", "amazon-rekognition", "google", "microsoft")


def _score_sum_x1000(boxes: Column) -> Column:
    """Sum of box scores as an exact integer (see module docstring)."""
    return F.aggregate(
        boxes,
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.rint(b["score"] * 1000).cast("long"),
    )


def service_raw_fanout(pages: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, service, raw, width, height): decode
    the page once per document and project it into every service's raw
    JSON shape — four rows per doc from one Arrow-batched pass."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                tr = decode_page(text)
                rows.append((doc_id, "amazon-textract",
                             json.dumps(emit_textract(tr, FAN_W, FAN_H))))
                rows.append((doc_id, "amazon-rekognition",
                             json.dumps(emit_rekognition(tr, FAN_W, FAN_H))))
                rows.append((doc_id, "google", json.dumps(emit_google(tr))))
                rows.append((doc_id, "microsoft", json.dumps(emit_microsoft(tr))))
            yield pd.DataFrame(rows, columns=["doc_id", "service", "raw"])

    return pages.mapInPandas(gen, "doc_id string, service string, raw string").select(
        "doc_id", "service", "raw",
        F.lit(FAN_W).alias("width"), F.lit(FAN_H).alias("height"),
    )


def q_xsvc_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(doc, service) results table, all four services through
    their real ``from_json`` parse pipelines."""
    results = extract_documents(load_documents_spans(spark, sf_dir))
    pages = extracted_text(results, kinds=("ocr",)).select("doc_id", "text")
    raw = service_raw_fanout(pages).localCheckpoint()  # materialize once
    branches = []
    for svc in SERVICES:
        parsed = PARSERS[svc](raw.filter(F.col("service") == svc), "raw", "width", "height")
        branches.append(
            parsed.select(
                "doc_id",
                "service",
                F.col("text").alias("text"),
                F.size("boxes").alias("n_boxes"),
                _score_sum_x1000(F.col("boxes")).alias("score_sum_x1000"),
            )
        )
    return reduce(DataFrame.unionByName, branches)


# DuckDB re-derivation from the corpus rule (corpus.CORPUS_LINES_SQL)
# and kernels/decoder.py's word confidences:
#   page lines = 6-word lines, x25 when skewed, minus line 0 when
#   corrupt (the truncated media decodes to an error span, so the OCR
#   page text starts at line 1);
#   word conf r = sha256(word)[:8] % 500 (conf = (500+r)/1000);
#   line score = min word conf; google para/word score = line score
#   (the google.py:174 inherit quirk); microsoft line boxes score 1.0.
def _sql_xsvc() -> str:
    from ..corpus import CORPUS_LINES_SQL, CORRUPT_MOD

    return f"""
WITH pagelines AS (
  SELECT doc_id,
         CASE WHEN h % {CORRUPT_MOD} = 0 THEN lines[2:] ELSE lines END AS pl
  FROM ({CORPUS_LINES_SQL})
), lrows AS (
  SELECT doc_id, u.line AS line, u.i AS li
  FROM (SELECT doc_id,
               unnest(list_transform(pl, (x, i) -> {{'line': x, 'i': i}})) AS u
        FROM pagelines)
), wrows AS (
  -- r = sha256(word)[:8] % 500. The 8-byte prefix exceeds signed-64
  -- hex-cast range, so reduce mod 500 from two 32-bit halves:
  -- h = hi*2^32 + lo and 2^32 % 500 = 296.
  SELECT doc_id, li,
         ((('0x' || substr(sha256(word), 1, 8))::BIGINT % 500) * 296
          + ('0x' || substr(sha256(word), 9, 8))::BIGINT % 500) % 500 AS r
  FROM (SELECT doc_id, li, unnest(string_split(line, ' ')) AS word FROM lrows)
), lagg AS (
  SELECT doc_id, li, count(*) AS nw, min(r) AS r_min, sum(r) AS r_sum
  FROM wrows GROUP BY doc_id, li
), dagg AS (
  SELECT doc_id,
         count(*) AS n_lines,
         sum(nw) AS n_words,
         sum(500 + r_min) AS lsum,
         sum(500 * nw + r_sum) AS wsum,
         sum((1 + nw) * (500 + r_min)) AS gsum
  FROM lagg GROUP BY doc_id
), texts AS (
  SELECT p.doc_id,
         CASE WHEN len(pl) > 0
              THEN array_to_string(pl, chr(10)) || chr(10) ELSE '' END AS amz_text,
         array_to_string(pl, chr(10)) AS page_text,
         coalesce(d.n_lines, 0) AS n_lines,
         coalesce(d.n_words, 0) AS n_words,
         coalesce(d.lsum, 0) AS lsum,
         coalesce(d.wsum, 0) AS wsum,
         coalesce(d.gsum, 0) AS gsum
  FROM pagelines p LEFT JOIN dagg d USING (doc_id)
)
SELECT doc_id, 'amazon-textract' AS service, amz_text AS text,
       CAST(n_lines + n_words AS INT) AS n_boxes,
       CAST(lsum + wsum AS BIGINT) AS score_sum_x1000
FROM texts
UNION ALL
SELECT doc_id, 'amazon-rekognition', amz_text,
       CAST(n_lines + n_words AS INT), CAST(lsum + wsum AS BIGINT)
FROM texts
UNION ALL
SELECT doc_id, 'google', page_text,
       CAST(n_lines + n_words AS INT), CAST(gsum AS BIGINT)
FROM texts
UNION ALL
SELECT doc_id, 'microsoft', page_text,
       CAST(n_lines + n_words AS INT), CAST(1000 * n_lines + wsum AS BIGINT)
FROM texts
"""


def q_flagship_skew_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship extraction over the whole corpus, heavy documents
    included: every skewed doc (SKEW_FACTOR x lines) takes the one
    narrow plan (``extract_documents``) with the rest, and the rows
    match the DuckDB oracle below by value. Rows: (doc_id,
    reading-order OCR text, n_media, n_errors)."""
    results = extract_documents(load_documents_spans(spark, sf_dir))
    return extracted_text(results, kinds=("ocr",)).select(
        "doc_id", "text", "n_media", "n_errors"
    )


# Closed-form re-derivation from corpus.CORPUS_LINES_SQL: OCR page
# text = lines joined by \n, minus line 0 when the corrupt slice
# truncates its media (that span becomes kind='error'); n_media = one
# media span per line (skew slice repeats lines SKEW_FACTOR x);
# n_errors = 1 exactly on non-empty corrupt docs.
def _sql_flagship_skew() -> str:
    from ..corpus import CORPUS_LINES_SQL, CORRUPT_MOD

    return f"""
SELECT doc_id,
       array_to_string(
         CASE WHEN h % {CORRUPT_MOD} = 0 THEN lines[2:] ELSE lines END,
         chr(10)) AS text,
       CAST(len(lines) AS INT) AS n_media,
       CAST(CASE WHEN h % {CORRUPT_MOD} = 0 AND len(lines) > 0
                 THEN 1 ELSE 0 END AS INT) AS n_errors
FROM ({CORPUS_LINES_SQL})
"""


QUERIES = {
    "flagship_skew_aware": q_flagship_skew_aware,
    "xsvc_results": q_xsvc_results,
}
ORACLES = {
    "flagship_skew_aware": _sql_flagship_skew(),
    "xsvc_results": _sql_xsvc(),
}
