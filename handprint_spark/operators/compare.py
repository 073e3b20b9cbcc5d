"""Ground-truth comparison subsystem (reference entry point 2,
``handprint -c``: SURVEY.md §3).

Dataflow: results ⋈ ground_truth on doc_id (J1) → per-doc LCSSEQ line
alignment (J4) → per-line Levenshtein + CER (C4/C5) → per-doc totals
(A2) → TSV report (K4).

Spark shape notes:
  * The alignment is *order-dependent sequential* per document
    (monotone cursor, SURVEY §2.3 J4) — but since one document is one
    row, it needs no applyInPandas/groupBy at all: a scalar
    Arrow-batched pandas UDF maps (htr_text, gt_text) -> array of
    aligned-line structs, then ``explode``. Zero shuffles beyond the
    J1 join itself.
  * The J1 join keys both sides on doc_id; at scale both tables are
    bucketed by doc_id so it is a co-partitioned join. Here the gt
    side derives from the same scan.
  * Totals (A2) aggregate the aligned array *before* exploding — a
    per-row F.aggregate, not a groupBy: the shuffle the reference's
    Σdistance implies is simply absent.

The line kernels are the reference-golden-tested functions in
kernels/textcmp.py; the TSV output is byte-compatible with
tests/test_comparison.py of the reference.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corpus import text_lines
from ..kernels.textcmp import align_lines, text_comparison

LINE_STRUCT = T.StructType(
    [
        T.StructField("line_no", T.IntegerType()),  # nullable: None = missing in HTR
        T.StructField("distance", T.IntegerType()),
        T.StructField("cer", T.StringType()),
        T.StructField("gt_line", T.StringType()),
        T.StructField("htr_line", T.StringType()),
    ]
)


def ground_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ground_truth(doc_id, gt_text): the by-construction truth — the
    same deterministic line split the corpus derivation uses, joined
    with newlines (analog of <base>.gt.txt files, manager.py:327-333).
    JVM-only: no Python stage."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array_join(text_lines(F.col("text")), "\n").alias("gt_text"),
    )


def _align_udf(relaxed: bool):
    @F.pandas_udf(T.ArrayType(LINE_STRUCT))
    def align(htr: pd.Series, gt: pd.Series) -> pd.Series:
        out = []
        for h, g in zip(htr, gt):
            rows = align_lines(h or "", g or "", relaxed)
            out.append(
                [
                    {"line_no": r.number, "distance": r.distance, "cer": r.cer,
                     "gt_line": r.gt_text, "htr_line": r.htr_text}
                    for r in rows
                ]
            )
        return pd.Series(out)

    return align


def _with_gt(htr_df: DataFrame, gt_df: DataFrame) -> DataFrame:
    """J1: every HTR row with its ground truth, "" where there is none."""
    return htr_df.join(gt_df, "doc_id", "left").fillna({"gt_text": ""})


def compare_to_ground_truth(
    htr_df: DataFrame, gt_df: DataFrame, relaxed: bool = False
) -> DataFrame:
    """(doc_id, text) ⋈ (doc_id, gt_text) -> aligned lines table:
    comparisons(doc_id, line_no, distance, cer, gt_line, htr_line)."""
    align = _align_udf(relaxed)
    aligned = _with_gt(htr_df, gt_df).select("doc_id", align("text", "gt_text").alias("lines"))
    return aligned.select("doc_id", F.explode("lines").alias("ln")).select(
        "doc_id",
        F.col("ln.line_no").alias("line_no"),
        F.col("ln.distance").alias("distance"),
        F.col("ln.cer").alias("cer"),
        F.col("ln.gt_line").alias("gt_line"),
        F.col("ln.htr_line").alias("htr_line"),
    )


def comparison_totals(htr_df: DataFrame, gt_df: DataFrame, relaxed: bool = False) -> DataFrame:
    """A2 per-doc total errors — aggregated inside the row (no shuffle)."""
    lines = _align_udf(relaxed)("text", "gt_text")
    return _with_gt(htr_df, gt_df).select(
        "doc_id",
        F.aggregate(
            lines, F.lit(0), lambda acc, ln: acc + ln["distance"]
        ).alias("total_errors"),
        F.size(lines).alias("n_lines"),
    )


def comparison_tsv(htr_df: DataFrame, gt_df: DataFrame, relaxed: bool = False) -> DataFrame:
    """K4: the byte-exact TSV report per document."""

    @F.pandas_udf(T.StringType())
    def tsv(htr: pd.Series, gt: pd.Series) -> pd.Series:
        return pd.Series(
            [text_comparison(h or "", g or "", relaxed) for h, g in zip(htr, gt)]
        )

    return _with_gt(htr_df, gt_df).select("doc_id", tsv("text", "gt_text").alias("report"))


# --- registered queries ----------------------------------------------------

def _htr(spark, sf_dir):
    from ..corpus import load_documents_spans
    from .extract import extract_documents, extracted_text

    results = extract_documents(load_documents_spans(spark, sf_dir))
    # HTR side = recognized (ocr) spans only — the TRResult.text analog
    return extracted_text(results, kinds=("ocr",)).select("doc_id", "text")


def q_cmp_lines(spark, sf_dir):
    return compare_to_ground_truth(_htr(spark, sf_dir), ground_truth(spark, sf_dir))


def q_cmp_totals(spark, sf_dir):
    """Per-doc comparison totals over the SQL-verifiable slice: the
    corrupt-media docs are excluded because their alignment outcome
    depends on LCSSEQ line similarity (not SQL-expressible); for every
    other doc the totals have a closed form the DuckDB oracle
    re-derives from the corpus rule. Clean docs align line-for-line
    (0 errors, n_lines = line count). Skewed docs hit TWO reference
    quirks (kept for parity, comparison.py:142-157): the trailing
    extras start at htr_index+1 (skipping index k), and the
    middle-extras pass re-inserts every unmatched index a second time
    except the last — so with k base lines of total length S:
    total_errors = 2*(SKEW_FACTOR-1)*S - len(line_0) - len(line_k-1),
    n_lines = (2*SKEW_FACTOR - 1)*k - 2.
    The unrestricted operator stays available as comparison_totals();
    corrupt-doc alignment is covered by tests/test_compare_spark.py."""
    from ..corpus import CORRUPT_MOD, slice_hash_col

    totals = comparison_totals(_htr(spark, sf_dir), ground_truth(spark, sf_dir))
    return totals.filter(slice_hash_col(F.col("doc_id")) % CORRUPT_MOD != 0)


def q_cmp_lines_clean(spark, sf_dir):
    """J4 per-line alignment output restricted to the CLEAN slice
    (non-skew, non-corrupt docs), where the alignment is identity by
    construction: HTR decodes every line exactly, so line i aligns to
    gt line i with distance 0 and cer '0.00'. That closed form makes
    the full aligned-row shape (line_no, distance, cer, gt_line,
    htr_line) SQL-derivable — the driver value-hash gate covers the
    real compare_to_ground_truth plan end-to-end (join + align UDF +
    explode), leaving only the genuinely sequential skew/corrupt
    alignment cases to the byte-exact reference goldens
    (tests/test_kernels_textcmp.py) and cmp_tsv."""
    from ..corpus import CORRUPT_MOD, SKEW_MOD, slice_hash_col

    h = slice_hash_col(F.col("doc_id"))
    return q_cmp_lines(spark, sf_dir).filter((h % SKEW_MOD != 0) & (h % CORRUPT_MOD != 0))


def q_cmp_tsv(spark, sf_dir):
    return comparison_tsv(_htr(spark, sf_dir), ground_truth(spark, sf_dir))


# DuckDB re-derivation of the comparison totals from the corpus rule
# (corpus.CORPUS_LINES_SQL — the same line split / skew constants as
# corpus.spanify).
def _sql_cmp_totals() -> str:
    from ..corpus import CORPUS_LINES_SQL, CORRUPT_MOD, SKEW_FACTOR, SKEW_MOD

    return f"""
SELECT doc_id,
       CAST(CASE WHEN h % {SKEW_MOD} = 0 AND len(base_lines) > 0
                 THEN {2 * (SKEW_FACTOR - 1)}
                      * list_sum(list_transform(base_lines, x -> len(x)))
                      - len(base_lines[1]) - len(base_lines[len(base_lines)])
                 ELSE 0 END AS INT) AS total_errors,
       CAST(CASE WHEN h % {SKEW_MOD} = 0 AND len(base_lines) > 0
                 THEN {2 * SKEW_FACTOR - 1} * len(base_lines) - 2
                 ELSE len(base_lines) END AS INT) AS n_lines
FROM ({CORPUS_LINES_SQL})
WHERE h % {CORRUPT_MOD} <> 0
"""


# Clean-slice per-line oracle: identity alignment over the corpus
# media rows (one per line) of docs outside the skew/corrupt slices.
def _sql_cmp_lines_clean() -> str:
    from ..corpus import CORPUS_MEDIA_SQL, CORRUPT_MOD, SKEW_MOD

    return f"""
SELECT doc_id,
       CAST(idx AS INT) AS line_no,
       CAST(0 AS INT) AS distance,
       '0.00' AS cer,
       line AS gt_line,
       line AS htr_line
FROM ({CORPUS_MEDIA_SQL})
WHERE h % {SKEW_MOD} <> 0 AND h % {CORRUPT_MOD} <> 0
"""


QUERIES = {
    "cmp_lines": q_cmp_lines,
    "cmp_lines_clean": q_cmp_lines_clean,
    "cmp_totals": q_cmp_totals,
    "cmp_tsv": q_cmp_tsv,
}

# cmp_lines / cmp_tsv stay rows-only: full LCSSEQ alignment output is
# sequential per doc and golden-tested against the reference instead;
# the clean slice (cmp_lines_clean) carries the value-hash gate for
# the same plan.
ORACLES: dict[str, str] = {
    "cmp_totals": _sql_cmp_totals(),
    "cmp_lines_clean": _sql_cmp_lines_clean(),
}
