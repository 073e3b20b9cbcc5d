"""Deterministic interleaved-span corpus, derived from the driver's
``documents`` parquet table.

BASELINE.json's ``input_hint`` fixes the engine's input shape:

    documents_spans(doc_id: string,
                    spans: array<struct<kind:string, text:string,
                                        media_ref:string, offset:int32>>)

The sandbox testdata ships a flat ``documents(doc_id, text, ...)``
table instead, so this module *derives* the span table from it with a
pure, seedless, content-addressed rule — identical on the driver (the
sequential reference path used for span-sequence-equality tests), in
Spark (JVM expressions + one Arrow-batched encode UDF), and in the
DuckDB oracles (the ``CORPUS_*_SQL`` relations). No external data;
same input → same table at any parallelism.

Span-ification rule (fixed; all three implementations — ``build_doc``,
``spanify`` and the SQL mirror — must agree; the tests
``test_span_equality_non_numeric_doc_ids`` and
``test_corpus_sql_mirror_matches_build_doc`` pin them to each other):
  * sanitize: form feeds stripped from text (HPM1 uses \\f as its page
    separator — see .claude/skills/verify gotcha);
  * the document text splits into lines of WORDS_PER_LINE words;
  * slice membership derives from a HASH OF THE STRING doc_id
    (``doc_slice_hash``: 4-byte sha256 prefix — the input_hint types
    doc_id as string, so non-numeric ids must select slices too; the
    hash is SQL-expressible in both Spark and DuckDB so oracles can
    re-derive membership);
  * skewed docs (doc_slice_hash % SKEW_MOD == 0) repeat their line
    list SKEW_FACTOR times — the multi-page-document skew slice the
    north_rule requires the partitioner to survive;
  * line *i* yields two spans: a text span at offset 2i and a media
    span (kind 'line_image', media_ref '<doc_id>/line-<i>') at 2i+1;
  * the media object for line *i* is HPM1-encoded from the line text,
    format chosen by content hash over ACCEPTED_FORMATS' raster subset,
    dims (64 + 8*len(line) capped at 320) x 24 (encode_line_media —
    the executable contract; this prose mirrors it);
  * corrupt-media slice: docs with doc_slice_hash % CORRUPT_MOD == 0
    get their line-0 media bytes truncated (error-path coverage, the
    analog of the reference's corrupted-image fixture);
  * oversize slice: docs with doc_slice_hash % PAD_MOD == 0 get
    line-0 media padded to PAD_BYTES so the byte-size cap stage fires.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .kernels import codec

WORDS_PER_LINE = 6
SKEW_MOD = 211
SKEW_FACTOR = 25
CORRUPT_MOD = 101
PAD_MOD = 97
PAD_BYTES = 200_000
MEDIA_FORMATS = ("png", "jpeg", "tiff", "bmp", "gif", "jp2")  # raster subset

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)

MEDIA_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("media_ref", T.StringType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
)


# --- pure-Python path (driver-side reference for equality tests) ---------

def doc_slice_hash(doc_id: str) -> int:
    """Slice selector over the STRING doc_id: 4-byte sha256 prefix.
    SQL-expressible on both engines so slice membership can appear in
    oracles: Spark ``conv(substring(sha2(doc_id, 256), 1, 8), 16, 10)``
    / DuckDB ``('0x' || substr(sha256(doc_id), 1, 8))::BIGINT``."""
    return int.from_bytes(hashlib.sha256(str(doc_id).encode()).digest()[:4], "big")


def is_skewed(doc_id) -> bool:
    return doc_slice_hash(doc_id) % SKEW_MOD == 0


def is_corrupt(doc_id) -> bool:
    return doc_slice_hash(doc_id) % CORRUPT_MOD == 0


def is_padded(doc_id) -> bool:
    return doc_slice_hash(doc_id) % PAD_MOD == 0


def split_lines(text: str) -> list[str]:
    words = [w for w in text.replace("\f", " ").split(" ") if w]
    return [
        " ".join(words[i : i + WORDS_PER_LINE])
        for i in range(0, len(words), WORDS_PER_LINE)
    ]


def doc_lines(doc_id: str, text: str) -> list[str]:
    lines = split_lines(text)
    if is_skewed(doc_id) and lines:
        lines = lines * SKEW_FACTOR
    return lines


def media_format(media_ref: str) -> str:
    h = int.from_bytes(hashlib.sha256(media_ref.encode()).digest()[:4], "big")
    return MEDIA_FORMATS[h % len(MEDIA_FORMATS)]


def encode_line_media(doc_id: str, line_index: int, line: str) -> bytes:
    ref = f"{doc_id}/line-{line_index}"
    pad_to = PAD_BYTES if (is_padded(doc_id) and line_index == 0) else None
    data = codec.encode_media(
        line,
        fmt=media_format(ref),
        width=min(320, 64 + 8 * len(line)),
        height=24,
        pad_to=pad_to,
    )
    if is_corrupt(doc_id) and line_index == 0:
        data = data[: max(4, len(data) // 3)]  # truncated → MediaError downstream
    return data


def build_doc(doc_id, text: str) -> tuple[str, list[dict], list[dict]]:
    """Pure span-ification of one document: (doc_id, spans, media)."""
    doc_id = str(doc_id)
    lines = doc_lines(doc_id, text)
    spans, media = [], []
    for i, line in enumerate(lines):
        ref = f"{doc_id}/line-{i}"
        spans.append({"kind": "text", "text": line, "media_ref": "", "offset": 2 * i})
        spans.append({"kind": "line_image", "text": "", "media_ref": ref, "offset": 2 * i + 1})
        media.append({"media_ref": ref, "content": encode_line_media(doc_id, i, line)})
    return (doc_id, spans, media)


# --- Spark path -----------------------------------------------------------

def _encode_media_udf():
    """Arrow-batched encoder: (doc_id, lines) -> array<binary>."""

    @F.pandas_udf(T.ArrayType(T.BinaryType()))
    def encode(doc_ids: pd.Series, lines_col: pd.Series) -> pd.Series:
        out = []
        for doc_id, lines in zip(doc_ids, lines_col):
            out.append([encode_line_media(doc_id, i, ln) for i, ln in enumerate(lines)])
        return pd.Series(out)

    return encode


def slice_hash_col(doc_id_col):
    """JVM-side ``doc_slice_hash``: conv(sha2 4-byte prefix)."""
    return F.conv(F.substring(F.sha2(doc_id_col.cast("string"), 256), 1, 8), 16, 10).cast(
        "long"
    )


def spanify(documents: DataFrame) -> DataFrame:
    """documents(doc_id,text,...) -> (doc_id, spans, media).

    The line split / skew / interleave logic runs as JVM expressions
    (whole-stage codegen); only the HPM1 encode crosses to Python, one
    Arrow batch at a time. Narrow plan: scan → project, zero shuffles.
    """
    # NB: built with Column functions, not F.expr strings — a literal
    # "\f" inside an expr string is parsed as backslash+f and translate
    # would strip every 'f' from the corpus (found the hard way).
    # Filter empty strings like the Python twin (split_lines's `if w`):
    # Spark's split("", " +") yields [""], which un-filtered produced
    # ONE empty line — a whole span + media object — for an
    # empty/whitespace-only document, where split_lines and
    # CORPUS_LINES_SQL produce zero.
    words = F.filter(
        F.split(F.trim(F.translate(F.col("text"), "\f", " ")), " +"),
        lambda w: w != "",
    )
    n_lines = F.ceil(F.size(words) / F.lit(WORDS_PER_LINE)).cast("int")
    lines = F.when(n_lines <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_lines - 1, F.lit(0))),
            lambda i: F.array_join(
                F.slice(words, i * WORDS_PER_LINE + 1, WORDS_PER_LINE), " "
            ),
        )
    )
    df = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        lines.alias("lines"),
        slice_hash_col(F.col("doc_id")).alias("doc_hash"),
    )
    df = df.withColumn(
        "lines",
        F.when(
            (F.col("doc_hash") % SKEW_MOD == 0) & (F.size("lines") > 0),
            F.flatten(F.expr(f"transform(sequence(1, {SKEW_FACTOR}), r -> lines)")),
        ).otherwise(F.col("lines")),
    )
    spans = F.expr(
        """
        flatten(transform(lines, (line, i) -> array(
          named_struct('kind', 'text', 'text', line, 'media_ref', '',
                       'offset', cast(2 * i as int)),
          named_struct('kind', 'line_image', 'text', '',
                       'media_ref', concat(doc_id, '/line-', cast(i as string)),
                       'offset', cast(2 * i + 1 as int)))))
        """
    )
    refs = F.expr(
        "transform(lines, (line, i) -> concat(doc_id, '/line-', cast(i as string)))"
    )
    encode = _encode_media_udf()
    return df.select(
        "doc_id",
        spans.cast(SPAN_TYPE).alias("spans"),
        F.arrays_zip(
            refs.alias("media_ref"), encode(F.col("doc_id"), F.col("lines")).alias("content")
        ).cast(MEDIA_TYPE).alias("media"),
    )


def load_documents_spans(
    spark: SparkSession, sf_dir: str, partitions: int | None = None
) -> DataFrame:
    """Read the driver's documents parquet and derive the interleaved
    span table (with inline media) for the extraction pipeline.

    ``partitions`` repartitions the *raw* documents by hash(doc_id)
    BEFORE span-ification: the rows are tiny there (id + text), so the
    shuffle is cheap, and the expensive encode UDF then runs at full
    parallelism instead of inheriting a single-file scan's one
    partition. (Repartitioning after spanify would shuffle the media
    BLOBs — orders of magnitude more bytes.)"""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if partitions:
        docs = docs.repartition(partitions, F.hash("doc_id"))
    return spanify(docs)


def materialize_spans(
    spark: SparkSession, sf_dir: str, out_dir: str, partitions: int = 32
) -> str:
    """Write the derived interleaved-span table ``(doc_id, spans,
    media)`` to parquet — the stand-in for the north_rule's
    pre-existing Iceberg documents table, so that a reader of it times
    *extraction*, not corpus synthesis."""
    load_documents_spans(spark, sf_dir, partitions=partitions).write.mode(
        "overwrite"
    ).parquet(out_dir)
    return out_dir


# --- DuckDB mirror (the oracles' statement of the rule) -------------------
#
# Relations over a ``documents`` table; an oracle embeds them as
# subqueries, ``FROM ({CORPUS_SPANS_SQL})``. ``h`` is doc_slice_hash;
# ``base_lines`` is the line split before the skew step, ``lines``
# after it; ``idx`` / ``off`` are 0-based like the Python reference.

CORPUS_LINES_SQL = f"""
SELECT doc_id, h, base_lines,
       CASE WHEN h % {SKEW_MOD} = 0 AND len(base_lines) > 0
            THEN flatten(list_transform(range({SKEW_FACTOR}), r -> base_lines))
            ELSE base_lines END AS lines
FROM (
  SELECT doc_id, h,
         list_transform(range(0, CAST(ceil(len(words) / {WORDS_PER_LINE}.0) AS INT)),
                        i -> array_to_string(words[i*{WORDS_PER_LINE}+1 :
                                                   i*{WORDS_PER_LINE}+{WORDS_PER_LINE}],
                                             ' ')) AS base_lines
  FROM (
    SELECT doc_id::VARCHAR AS doc_id,
           ('0x' || substr(sha256(doc_id::VARCHAR), 1, 8))::BIGINT AS h,
           CASE WHEN trim(replace(text, chr(12), ' ')) = '' THEN []::VARCHAR[]
                ELSE string_split(regexp_replace(trim(replace(text, chr(12), ' ')),
                                                 ' +', ' ', 'g'), ' ')
           END AS words
    FROM documents))
"""

CORPUS_MEDIA_SQL = f"""
SELECT doc_id, h, m.idx AS idx, m.media_ref AS media_ref, m.line AS line,
       (h % {CORRUPT_MOD} = 0 AND m.idx = 0) AS is_error
FROM (SELECT doc_id, h,
             unnest(list_transform(lines, (line, i) -> struct_pack(
                 idx := i - 1,
                 media_ref := doc_id || '/line-' || (i - 1)::VARCHAR,
                 line := line))) AS m
      FROM ({CORPUS_LINES_SQL}))
"""

CORPUS_SPANS_SQL = f"""
SELECT doc_id, s.kind AS kind, s.text AS text, s.media_ref AS media_ref, s.off AS off
FROM (SELECT doc_id,
             unnest(flatten(list_transform(lines, (line, i) -> [
               struct_pack(kind := 'text', text := line, media_ref := '',
                           off := 2 * (i - 1)),
               struct_pack(kind := 'line_image', text := '',
                           media_ref := doc_id || '/line-' || (i - 1)::VARCHAR,
                           off := 2 * (i - 1) + 1)]))) AS s
      FROM ({CORPUS_LINES_SQL}))
"""
