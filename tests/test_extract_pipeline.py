"""End-to-end flagship pipeline tests: span-sequence equality vs the
sequential reference path, distribution invariance, error-as-value
policy, and reading-order text reconstruction."""

import duckdb
import pytest

from handprint_spark.corpus import (
    SKEW_FACTOR,
    build_doc,
    is_corrupt,
    is_skewed,
    load_documents_spans,
)
from handprint_spark.operators.extract import (
    extract_documents,
    extract_one,
    extracted_text,
)


def _reference_results(sf_dir):
    docs = duckdb.sql(
        f"select doc_id, text from '{sf_dir}/documents.parquet'"
    ).fetchall()
    ref = {}
    for did, text in docs:
        d, spans, media = build_doc(did, text)
        ref[d] = extract_one(d, spans, media)[1]
    return ref


def _span_tuples_from_row(row):
    return [
        (s.kind, s.text, s.media_ref, s.offset)
        for s in sorted(row.spans, key=lambda s: s.offset)
    ]


@pytest.fixture(scope="module")
def results(spark, sf_tiny):
    return extract_documents(load_documents_spans(spark, sf_tiny)).collect()


def test_span_sequence_equality(results, sf_tiny):
    """The north_rule invariant: per doc_id, the distributed pipeline's
    (kind, text, media_ref, offset) sequence equals the sequential
    reference path, for every document."""
    ref = _reference_results(sf_tiny)
    assert len(results) == len(ref)
    for row in results:
        exp = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in ref[row.doc_id]]
        assert _span_tuples_from_row(row) == exp, f"doc {row.doc_id}"


def test_distribution_invariance(spark, sf_tiny, results):
    """Same input at a different partitioning must produce identical
    spans (sandbox stand-in for N vs 4N executors)."""
    from pyspark.sql import functions as F

    df = load_documents_spans(spark, sf_tiny).repartition(7, F.hash("doc_id"))
    alt = extract_documents(df).collect()
    base = {r.doc_id: _span_tuples_from_row(r) for r in results}
    assert len(alt) == len(base)
    for row in alt:
        assert _span_tuples_from_row(row) == base[row.doc_id]


def test_error_rows_not_failures(results):
    """Corrupt-media docs produce kind='error' spans; the job never
    fails (reference row-vs-job error policy)."""
    corrupt_docs = [r for r in results if is_corrupt(r.doc_id) and r.n_media > 0]
    assert corrupt_docs
    for r in corrupt_docs:
        kinds = [s.kind for s in r.spans]
        assert "error" in kinds
        assert r.n_errors >= 1
    clean = [r for r in results if not is_corrupt(r.doc_id)]
    assert all(r.n_errors == 0 for r in clean)


def test_ocr_text_matches_source_line(results):
    """The deterministic decoder must reproduce each line's text
    exactly: every ocr span's text equals the preceding text span."""
    for r in results[:50]:
        spans = sorted(r.spans, key=lambda s: s.offset)
        for t, o in zip(spans[::2], spans[1::2]):
            if o.kind == "ocr":
                assert o.text == t.text


def test_skew_slice_present(results):
    skewed = [r for r in results if is_skewed(r.doc_id)]
    normal = [r for r in results if not is_skewed(r.doc_id)]
    assert skewed, "corpus must contain the skew slice"
    med = sorted(r.n_media for r in normal)[len(normal) // 2]
    # every skewed doc has SKEW_FACTOR x its base line count
    assert all(r.n_media % SKEW_FACTOR == 0 for r in skewed)
    assert max(r.n_media for r in skewed) > 5 * med


def test_extracted_text_reading_order(spark, sf_tiny):
    df = extract_documents(load_documents_spans(spark, sf_tiny).limit(20))
    out = {r.doc_id: r.text for r in extracted_text(df).collect()}
    ref = _reference_results(sf_tiny)
    for doc_id, text in out.items():
        exp = "\n".join(
            s["text"] for s in ref[doc_id] if s["kind"] in ("text", "ocr")
        )
        assert text == exp


def test_span_equality_non_numeric_doc_ids(spark):
    """input_hint types doc_id as STRING: span-ification (including
    skew/corrupt/pad slice selection, now hash-of-string based) must
    agree between Spark and the sequential path on non-numeric ids."""
    from handprint_spark.corpus import (
        doc_slice_hash,
        spanify,
    )

    # craft ids hitting each slice, plus plain ones (incl. unicode)
    base = [f"doc-{i:04d}" for i in range(4000)]
    ids = [d for d in base if doc_slice_hash(d) % 211 == 0][:2]
    ids += [d for d in base if doc_slice_hash(d) % 101 == 0][:2]
    ids += [d for d in base if doc_slice_hash(d) % 97 == 0][:2]
    ids += ["a/b:c", "ümlaut-Ø", "doc-xyz"]
    assert len(ids) == 9
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame([(d, text) for d in ids], "doc_id string, text string")
    spark_rows = {
        r.doc_id: (
            [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans],
            [(m.media_ref, bytes(m.content)) for m in r.media],
        )
        for r in spanify(docs).collect()
    }
    for d in ids:
        _, spans, media = build_doc(d, text)
        exp = (
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans],
            [(m["media_ref"], m["content"]) for m in media],
        )
        assert spark_rows[d] == exp, d


def test_observed_metrics(spark, sf_tiny):
    """A5: df.observe counters ride the consuming action (no extra
    pass); totals must agree with a direct aggregation."""
    from pyspark.sql import Observation

    from handprint_spark.operators.extract import observed

    results = extract_documents(load_documents_spans(spark, sf_tiny))
    obs = Observation("extract_metrics_test")
    n_rows = observed(results, obs).count()
    got = obs.get
    assert got["docs"] == n_rows > 0
    direct = results.selectExpr(
        "sum(n_media) AS media", "sum(n_errors) AS errors"
    ).collect()[0]
    assert got["media"] == direct["media"]
    assert got["errors"] == direct["errors"]


def test_fused_decode_equals_normalize_then_decode():
    """decode_media_text (the fused I8+X9 hot path) must emit exactly
    what the normalize->decode chain emits — same text, same error
    values — across normal, multi-page, padded, corrupt, and empty
    media."""
    from handprint_spark.kernels import codec
    from handprint_spark.kernels.decoder import decode_media_bytes
    from handprint_spark.kernels.formats import KNOWN_SERVICES, fold_limits
    from handprint_spark.kernels.preprocess import (
        decode_media_text,
        normalize_media_bytes,
    )

    max_size, (mw, mh) = fold_limits(list(KNOWN_SERVICES))
    cases = [
        codec.encode_media("hello world\nsecond line"),
        codec.encode_media("fmt swap case", fmt="tiff"),
        codec.encode_media("padded", pad_to=50_000),
        codec.encode_media("multi", pages=["page one", "page two"], fmt="pdf"),
        codec.encode_media("x")[:10],  # truncated -> error value
        b"",  # empty -> error value
        b"\x00garbage not hpm1",
    ]
    for data in cases:
        fused_text, fused_err = decode_media_text(data)
        normalized, err = normalize_media_bytes(data, max_size, mw, mh)
        if err is None:
            tr = decode_media_bytes(normalized, trusted=True)
            chain_text, chain_err = tr.text, tr.error
        else:
            chain_text, chain_err = None, err
        assert fused_err == chain_err
        if fused_err is None:
            assert fused_text == chain_text


def test_ocr_text_equals_decode_page_text():
    """extract_one's OCR span text is decode_page's text, for page text
    with \\r\\n, \\r, \\x0b and \\u2028 line breaks and a trailing
    newline (no form feed: it is HPM1's page separator)."""
    from handprint_spark.kernels import codec
    from handprint_spark.kernels.decoder import decode_page

    pages = [
        "crlf one\r\ncrlf two",
        "cr one\rcr two",
        "vt one\x0bvt two",
        "ls one\u2028ls two",
        "trailing newline\n",
        "mixed\r\nall\rforms\x0bhere\u2028end\n",
    ]
    for i, text in enumerate(pages):
        ref = f"m{i}"
        spans = [{"kind": "line_image", "text": "", "media_ref": ref, "offset": 0}]
        media = [{"media_ref": ref, "content": codec.encode_media(text)}]
        (span,) = extract_one("d", spans, media)[1]
        assert span["kind"] == "ocr"
        assert span["text"] == decode_page(text).text, repr(text)


def test_spanify_empty_text_matches_python_twin(spark):
    """Empty / whitespace-only / formfeed-only documents produce ZERO
    spans on both the Spark path (spanify) and the Python twin
    (build_doc) — split('', ' +') yields [''] in Spark, which
    un-filtered minted one phantom empty line + media object."""
    from handprint_spark.corpus import build_doc, spanify

    docs = spark.createDataFrame(
        [(101, ""), (102, "   "), (103, "\f\f"), (104, "one two")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (len(r.spans), len(r.media)) for r in spanify(docs).collect()}
    for doc_id, text in ((101, ""), (102, "   "), (103, "\f\f"), (104, "one two")):
        _, spans, media = build_doc(doc_id, text)
        assert got[str(doc_id)] == (len(spans), len(media)), doc_id
    assert got["101"] == (0, 0) and got["104"] == (2, 1)


def test_corpus_sql_mirror_matches_build_doc(sf_tiny):
    """The DuckDB mirror of the span rule (CORPUS_SPANS_SQL /
    CORPUS_MEDIA_SQL, which every corpus-derived oracle reads) yields
    build_doc's span sequence and media list, with is_error exactly on
    the corrupt slice's line 0 — on slice-selecting, non-numeric and
    whitespace-edge documents and on every document of sf0.001. No
    Spark: this pins the SQL straight to the Python reference."""
    import pandas as pd

    from handprint_spark.corpus import (
        CORPUS_MEDIA_SQL,
        CORPUS_SPANS_SQL,
        doc_slice_hash,
    )

    base = [f"doc-{i:04d}" for i in range(4000)]
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    planted = [(d, text) for d in base if doc_slice_hash(d) % 211 == 0][:2]
    planted += [(d, text) for d in base if doc_slice_hash(d) % 101 == 0][:2]
    planted += [(d, text) for d in base if doc_slice_hash(d) % 97 == 0][:2]
    planted += [("a/b:c", text), ("ümlaut-Ø", text), ("doc-xyz", text)]
    planted += [
        ("e-empty", ""),
        ("e-null", None),
        ("e-spaces", "   "),
        ("e-ff", "\f\f"),
        ("e-mixed", "  one\ttwo  three\nfour\ffive six  seven \f eight\t \n "),
        ("e-ff-words", "\fa\f\fb c d e f g h\f"),
    ]
    planted_docs = pd.DataFrame(planted, columns=["doc_id", "text"])
    tiny_docs = duckdb.sql(
        f"select doc_id, text from '{sf_tiny}/documents.parquet'"
    ).df()

    for docs in (planted_docs, tiny_docs):
        con = duckdb.connect()
        con.register("documents", docs)
        spans, media = {}, {}
        for d, kind, t, ref, off in con.sql(
            f"SELECT doc_id, kind, text, media_ref, off FROM ({CORPUS_SPANS_SQL}) "
            "ORDER BY doc_id, off"
        ).fetchall():
            spans.setdefault(d, []).append((kind, t, ref, off))
        for d, idx, ref, is_error in con.sql(
            f"SELECT doc_id, idx, media_ref, is_error FROM ({CORPUS_MEDIA_SQL}) "
            "ORDER BY doc_id, idx"
        ).fetchall():
            media.setdefault(d, []).append((idx, ref, is_error))
        for doc_id, doc_text in zip(docs["doc_id"], docs["text"]):
            d, exp_spans, exp_media = build_doc(doc_id, doc_text)
            exp = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in exp_spans]
            assert spans.get(d, []) == exp, d
            assert media.get(d, []) == [
                (i, m["media_ref"], is_corrupt(d) and i == 0)
                for i, m in enumerate(exp_media)
            ], d


def test_invalidate_caches_drops_zip_finders_and_leaves_zip_importable(tmp_path, monkeypatch):
    """Once the package is imported, importlib.invalidate_caches()
    drops every zipimporter from sys.path_importer_cache, and a module
    not yet imported from the same zip still imports afterwards."""
    import importlib
    import sys
    import zipfile
    import zipimport

    import handprint_spark  # noqa: F401  (installs the wrapper)

    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipmod_first.py", "VALUE = 1\n")
        zf.writestr("zipmod_second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        import zipmod_first

        assert zipmod_first.VALUE == 1
        assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
        importlib.invalidate_caches()
        assert not any(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
        import zipmod_second

        assert zipmod_second.VALUE == 2
    finally:
        sys.modules.pop("zipmod_first", None)
        sys.modules.pop("zipmod_second", None)


def test_reused_workers_start_tasks_with_no_zip_finders(spark):
    """spanify's encode UDF has no import-cache code of its own, yet
    every later task on a worker that ran it starts under the
    package's wrapped importlib.invalidate_caches, with no zipimporter
    left in sys.path_importer_cache for the next task to re-read."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from handprint_spark.corpus import spanify

    # 32 tasks on local[4]: each Python worker runs several of them
    docs = spark.range(64, numPartitions=32).select(
        F.col("id").alias("doc_id"), F.lit("one two three four").alias("text"))
    spanify(docs).write.format("noop").mode("overwrite").save()

    def probe(batches):
        import importlib
        import sys
        import zipimport

        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"invalidate": [importlib.invalidate_caches.__module__], "zips": [zips]})

    seen = spark.range(8, numPartitions=8).mapInArrow(
        probe, "invalidate string, zips long").collect()
    assert len(seen) == 8
    assert {(r.invalidate, r.zips) for r in seen} == {("handprint_spark", 0)}


def _txt(text, offset):
    return {"kind": "text", "text": text, "media_ref": None, "offset": offset}


def _line(ref, offset):
    return {"kind": "line_image", "text": "", "media_ref": ref, "offset": offset}


def _obj(ref, text):
    from handprint_spark.kernels import codec

    return {"media_ref": ref, "content": codec.encode_media(text)}


def _ocr(ref, text, offset):
    return {"kind": "ocr", "text": text, "media_ref": ref, "offset": offset}


# Null layouts that used to raise TypeError in a task (failing the
# whole batch). The rule: null offsets sort last (stably), null span
# elements are dropped, null media objects are ignored.
NULL_LAYOUTS = {
    "null_offset": (
        [_line("m0", None), _txt("b", 2), _txt("c", None), _txt("a", 1)],
        [_obj("m0", "zero")],
        [_txt("a", 1), _txt("b", 2), _ocr("m0", "zero", None), _txt("c", None)],
        (1, 0),
    ),
    "null_span": (
        [_txt("a", 0), None, _line("m0", 1), None],
        [_obj("m0", "zero")],
        [_txt("a", 0), _ocr("m0", "zero", 1)],
        (1, 0),
    ),
    "null_media_object": (
        [_line("m0", 0), _line("m1", 1)],
        [None, _obj("m1", "one"), None],
        [{"kind": "error", "text": "missing media: m0", "media_ref": "m0", "offset": 0},
         _ocr("m1", "one", 1)],
        (2, 1),
    ),
}


@pytest.mark.parametrize("layout", sorted(NULL_LAYOUTS))
def test_null_layouts_are_values_not_failures(spark, layout):
    """extract_one and extract_documents agree on the null rule, and
    neither raises."""
    from handprint_spark.corpus import MEDIA_TYPE, SPAN_TYPE
    from pyspark.sql import types as T

    spans, media, exp_spans, (n_media, n_errors) = NULL_LAYOUTS[layout]
    assert extract_one("d", spans, media) == ("d", exp_spans, n_media, n_errors)
    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("spans", SPAN_TYPE),
                           T.StructField("media", MEDIA_TYPE)])
    (row,) = extract_documents(spark.createDataFrame([("d", spans, media)], schema)).collect()
    assert [s.asDict() for s in row.spans] == exp_spans
    assert (row.n_media, row.n_errors) == (n_media, n_errors)
