"""The flagship extraction pipeline.

Re-expresses the reference's scan → normalize → extract → unify
dataflow (reference manager.py:132-196 outer loop + per-document
_normalized/_send) as one *narrow* Spark plan:

    scan documents_spans → mapInPandas(verify ∘ decode over media spans) → sink

Design notes for 100 TB (SURVEY.md §4):
  * Zero shuffles in the hot path. The span array stays nested — one
    row per document end-to-end — so there is no explode/groupBy
    round-trip; the per-doc work is embarrassingly parallel exactly
    like the reference's per-document loop, but across executors. The
    plan inherits the scan's partitioning; callers that want another
    repartition their input.
  * All Python crossings are Arrow-batched (mapInPandas); batch size
    bounded by spark.sql.execution.arrow.maxRecordsPerBatch because
    rows carry media BLOBs.
  * No service-limit min-fold: every normalize stage is text-invariant
    (oversized media is resized, never rejected), so no limit can
    change a span, and the kernel takes none.
  * Errors are span values (kind='error'), never exceptions — the
    reference's row-vs-job error policy (amazon.py:66-79).
  * Determinism: every stage is a pure function of the input row, so
    output is identical at any parallelism — the property the
    span-sequence-equality gate and checkpoint resume rely on.
  * Per-task cost: PySpark's worker calls importlib.invalidate_caches()
    before every task, and on Python 3.11 each zipimporter in
    sys.path_importer_cache then re-reads its whole archive directory
    (pyspark.zip: 16 finders x 1,328 entries; 0.2-0.27 s of worker CPU
    per task on a 4-vCPU host, for any UDF, even with zero rows).
    Every Python stage body calls ``forget_zip_finders`` first, so a
    reused worker pays that once, not on every task.

Output contract (north_rule span-sequence equality):
    results(doc_id: string,
            spans: array<struct<kind,text,media_ref,offset>>,
            n_media: int, n_errors: int)
  * kind='text' spans pass through untouched;
  * media spans become kind='ocr' with the decoded text and the
    original media_ref/offset;
  * failed media become kind='error' with the error message as text.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corpus import SPAN_TYPE
from ..kernels.decoder import page_text
from ..kernels.preprocess import decode_media_text

MEDIA_KINDS = ("page_image", "line_image", "word_image")

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("n_media", T.IntegerType()),
        T.StructField("n_errors", T.IntegerType()),
    ]
)


def forget_zip_finders() -> None:
    """Drop the zipimporter entries from ``sys.path_importer_cache``,
    so the next task's ``importlib.invalidate_caches()`` has no zip
    directory to re-read. Safe: a later import from the zip re-creates
    its finder from zipimport's directory cache."""
    import sys
    import zipimport

    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def extract_one(
    doc_id: str,
    spans: list,
    media: list,
    # ignored; kept so six-argument callers (the benchmark's pinning) still work
    max_size=None, max_width=None, max_height=None,
) -> tuple[str, list, int, int]:
    """Pure per-document kernel — also runs sequentially on the driver
    as the reference path of the span-sequence-equality tests.

    Media spans are verified and decoded by the fused I8+X9 kernel
    (kernels/preprocess.decode_media_text): full verification,
    identical error surface, no dead re-encode. Every normalize stage
    is text-invariant, so the spans equal the normalize-then-decode
    chain's (test_fused_decode_equals_normalize_then_decode)."""
    # ``media``/``spans`` may arrive as numpy arrays from Arrow — avoid
    # truthiness on them.
    media_map = {m["media_ref"]: m["content"] for m in (media if media is not None else [])}
    out, n_media, n_errors = [], 0, 0
    for span in sorted(spans if spans is not None else [], key=lambda s: s["offset"]):
        kind, text, ref, offset = span["kind"], span["text"], span["media_ref"], span["offset"]
        if kind in MEDIA_KINDS:
            n_media += 1
            content = media_map.get(ref)
            if content is None:
                out.append({"kind": "error", "text": f"missing media: {ref}",
                            "media_ref": ref, "offset": offset})
                n_errors += 1
                continue
            text_out, err = decode_media_text(content)
            if err is not None:
                out.append({"kind": "error", "text": err, "media_ref": ref, "offset": offset})
                n_errors += 1
            else:
                out.append({"kind": "ocr", "text": page_text(text_out),
                            "media_ref": ref, "offset": offset})
        else:
            out.append({"kind": kind, "text": text, "media_ref": ref, "offset": offset})
    return (doc_id, out, n_media, n_errors)


def extract_documents(df: DataFrame) -> DataFrame:
    """documents_spans(doc_id, spans, media) -> results."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        forget_zip_finders()
        for pdf in batches:
            rows = [
                extract_one(d, s, m)
                for d, s, m in zip(pdf["doc_id"], pdf["spans"], pdf["media"])
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "spans", "n_media", "n_errors"])

    return df.mapInPandas(run, RESULT_SCHEMA)


def observed(results: DataFrame, observation=None) -> DataFrame:
    """A5: job-level counters via ``df.observe`` — the Spark-native
    form of the reference's count/pluralize reporting
    (main_body.py:115-125). The metrics ride the action that consumes
    ``results`` (no extra pass/shuffle). Pass a ``pyspark.sql.
    Observation`` to read them on the driver after the action; with no
    argument a named observation is attached for QueryExecutionListener
    consumers. ``checkpoints.run_batch`` builds each batch's lineage row
    from these metrics, doc range (``min_doc``/``max_doc``) included."""
    return results.observe(
        observation if observation is not None else "extract_metrics",
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_media").alias("media"),
        F.sum("n_errors").alias("errors"),
        F.max("n_media").alias("max_media_per_doc"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def extracted_text(results: DataFrame, kinds: tuple[str, ...] = ("text", "ocr")) -> DataFrame:
    """Reading-order document text from a results table: the selected
    span kinds joined with newlines in offset order — pure JVM (array
    functions), no Python. For ground-truth comparison pass
    ``kinds=("ocr",)`` (the recognized text alone — the analog of
    TRResult.text)."""
    kinds_sql = ", ".join(f"'{k}'" for k in kinds)
    ordered = F.array_sort(
        F.expr(f"filter(spans, s -> s.kind in ({kinds_sql}))"),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    return results.select(
        "doc_id",
        F.array_join(F.transform(ordered, lambda s: s["text"]), "\n").alias("text"),
        "n_media",
        "n_errors",
    )
