"""The flagship extraction pipeline.

Re-expresses the reference's scan → normalize → extract → unify
dataflow (reference manager.py:132-196 outer loop + per-document
_normalized/_send) as one *narrow* Spark plan:

    scan documents_spans → mapInArrow(verify ∘ decode over media spans) → sink

Design notes for 100 TB (SURVEY.md §4):
  * Zero shuffles in the hot path. The span array stays nested — one
    row per document end-to-end — so there is no explode/groupBy
    round-trip; the per-doc work is embarrassingly parallel exactly
    like the reference's per-document loop, but across executors. The
    plan inherits the scan's partitioning; callers that want another
    repartition their input.
  * One Python crossing, Arrow-batched (mapInArrow), of the doc_id,
    spans and media columns only; batch size bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch because rows carry
    media BLOBs. The body (``extract_batch``) works on the Arrow list
    arrays: text spans are sorted and passed through as Arrow buffers,
    and only media spans and media objects become Python objects.
  * No service-limit min-fold: every normalize stage is text-invariant
    (oversized media is resized, never rejected), so no limit can
    change a span, and the kernel takes none.
  * Errors are span values (kind='error'), never exceptions — the
    reference's row-vs-job error policy (amazon.py:66-79).
  * Total over nulls (``extract_one``'s rule): null span elements and
    media objects are dropped and null offsets sort last, so no input
    layout raises in a task.
  * Determinism: every stage is a pure function of the input row, so
    output is identical at any parallelism — the property the
    span-sequence-equality gate and checkpoint resume rely on.

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

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corpus import SPAN_TYPE
from ..kernels.decoder import page_text
from ..kernels.preprocess import decode_media_text

MEDIA_KINDS = ("page_image", "line_image", "word_image")
_MEDIA_KINDS = pa.array(MEDIA_KINDS)
_SPAN_FIELDS = ("kind", "text", "media_ref", "offset")

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("n_media", T.IntegerType()),
        T.StructField("n_errors", T.IntegerType()),
    ]
)


def _media_span(ref, content) -> tuple[str, str]:
    """(kind, text) of one media span whose object holds ``content``;
    ``content`` is None when no object carries the span's ref."""
    if content is None:
        return "error", f"missing media: {ref}"
    text, err = decode_media_text(content)
    return ("error", err) if err is not None else ("ocr", page_text(text))


def extract_one(
    doc_id: str,
    spans: list,
    media: list,
    # ignored; kept so six-argument callers (the benchmark's pinning) still work
    max_size=None, max_width=None, max_height=None,
) -> tuple[str, list, int, int]:
    """Pure per-document kernel — the sequential reference path of the
    span-sequence-equality tests, which ``extract_batch`` must equal.

    Media spans are verified and decoded by the fused I8+X9 kernel
    (kernels/preprocess.decode_media_text): full verification,
    identical error surface, no dead re-encode. Every normalize stage
    is text-invariant, so the spans equal the normalize-then-decode
    chain's (test_fused_decode_equals_normalize_then_decode).

    Total over nulls: a null span element is dropped, a null media
    object is ignored, null offsets sort last (stably), and a null
    spans or media list is empty. Of two objects with one ref, the
    later wins."""
    # explicit None tests, not truthiness: callers may pass any sequence
    media_map = {m["media_ref"]: m["content"]
                 for m in (media if media is not None else ()) if m is not None}
    present = [s for s in (spans if spans is not None else ()) if s is not None]
    out, n_media, n_errors = [], 0, 0
    for span in sorted(present, key=lambda s: (s["offset"] is None, s["offset"] or 0)):
        kind, text, ref, offset = span["kind"], span["text"], span["media_ref"], span["offset"]
        if kind in MEDIA_KINDS:
            n_media += 1
            kind, text = _media_span(ref, media_map.get(ref))
            n_errors += kind == "error"
        out.append({"kind": kind, "text": text, "media_ref": ref, "offset": offset})
    return (doc_id, out, n_media, n_errors)


def _flat(lists: pa.Array) -> tuple[pa.Array, np.ndarray]:
    """The non-null elements of a list array with the row each came
    from. Rows come from the list lengths, not list_parent_indices,
    which also counts the values a null list may be backed by."""
    lengths = pc.list_value_length(lists).fill_null(0).to_numpy()
    values = pc.list_flatten(lists)
    valid = pc.is_valid(values)
    return values.filter(valid), np.repeat(np.arange(len(lists)), lengths)[
        valid.to_numpy(zero_copy_only=False)]


def extract_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """``extract_one`` over every row of a (doc_id, spans, media) Arrow
    batch, column-wise: the spans are flattened and stably sorted by
    (row, offset) in Arrow, and only media spans and media objects
    become Python objects; text spans stay in Arrow buffers."""
    n = batch.num_rows
    spans, parent = _flat(batch.column("spans"))
    order = pc.sort_indices(
        pa.table({"p": parent, "o": pc.struct_field(spans, "offset")}),
        sort_keys=[("p", "ascending"), ("o", "ascending")], null_placement="at_end")
    spans, parent = spans.take(order), parent[order.to_numpy()]
    kind, text, ref, offset = (pc.struct_field(spans, f) for f in _SPAN_FIELDS)

    is_media = pc.is_in(kind, value_set=_MEDIA_KINDS)
    at = np.flatnonzero(is_media.to_numpy(zero_copy_only=False))
    objs, obj_parent = _flat(batch.column("media"))
    content = pc.struct_field(objs, "content")
    # (row, ref) -> object; a later object with the same ref wins
    where = {key: i for i, key in enumerate(
        zip(obj_parent.tolist(), pc.struct_field(objs, "media_ref").to_pylist()))}
    decoded = [
        _media_span(r, None if (i := where.get((p, r))) is None else content[i].as_py())
        for p, r in zip(parent[at].tolist(), ref.take(at).to_pylist())
    ]
    new_kinds = pa.array([k for k, _ in decoded], pa.string())
    kind = pc.replace_with_mask(kind, is_media, new_kinds)
    text = pc.replace_with_mask(text, is_media, pa.array([t for _, t in decoded], pa.string()))

    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(np.bincount(parent, minlength=n), out=offsets[1:])
    errors = at[pc.equal(new_kinds, "error").to_numpy(zero_copy_only=False)]
    return pa.RecordBatch.from_arrays([
        batch.column("doc_id"),
        pa.ListArray.from_arrays(pa.array(offsets), pa.StructArray.from_arrays(
            [kind, text, ref, offset], names=_SPAN_FIELDS)),
        pa.array(np.bincount(parent[at], minlength=n).astype(np.int32)),
        pa.array(np.bincount(parent[errors], minlength=n).astype(np.int32)),
    ], names=RESULT_SCHEMA.names)


def extract_documents(df: DataFrame) -> DataFrame:
    """documents_spans(doc_id, spans, media) -> results. Only these
    three columns cross into Python, as Arrow batches."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield extract_batch(batch)

    return df.select("doc_id", "spans", "media").mapInArrow(run, RESULT_SCHEMA)


def observed(results: DataFrame, observation) -> DataFrame:
    """A5: job-level counters via ``df.observe`` — the Spark-native
    form of the reference's count/pluralize reporting
    (main_body.py:115-125). The metrics ride the action that consumes
    ``results`` (no extra pass/shuffle); read them from the
    ``pyspark.sql.Observation`` on the driver after the action.
    ``checkpoints.run_batch`` builds each batch's lineage row from
    these metrics, doc range (``min_doc``/``max_doc``) included."""
    return results.observe(
        observation,
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_media").alias("media"),
        F.sum("n_errors").alias("errors"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def extracted_text(results: DataFrame, kinds: tuple[str, ...] = ("text", "ocr")) -> DataFrame:
    """Reading-order document text from a results table: the selected
    span kinds joined with newlines — pure JVM (array functions), no
    Python. Every extraction path (``extract_documents``,
    ``extract_skew_aware``) returns a document's spans in
    ``extract_one``'s order, so this keeps their order and sorts
    nothing. For ground-truth comparison pass ``kinds=("ocr",)`` (the
    recognized text alone — the analog of TRResult.text)."""
    kinds_sql = ", ".join(f"'{k}'" for k in kinds)
    texts = F.expr(f"transform(filter(spans, s -> s.kind in ({kinds_sql})), s -> s.text)")
    return results.select(
        "doc_id",
        F.array_join(texts, "\n").alias("text"),
        "n_media",
        "n_errors",
    )
