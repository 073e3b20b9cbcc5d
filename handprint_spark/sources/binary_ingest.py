"""Raw-file ingestion: the reference's target enumeration as a Spark
source (SURVEY.md §2.1 S1-S4).

`MainBody.targets_from_arguments` (reference main_body.py:143-180)
expands files/dirs into targets, filters by the accepted-format
whitelist (services/__init__.py:21-22), drops prior `.handprint`
artifacts (main_body.py:165), and when both `x.png` and `x.tif` exist
keeps only the canonical-format one (main_body.py:171-180). Here the
same rules are one declarative plan over the `binaryFile` source:

    scan (Catalyst pathGlobFilter prunes at listing time)
    → format whitelist (IN predicate on the parsed extension)
    → artifact exclusion (NOT contains)
    → duplicate-basename dedup (row_number window by format priority)

At 10^12 files the scan is a listing-parallel metadata operation and
every filter is evaluated before content bytes are read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.formats import ACCEPTED_FORMATS, OUTPUT_FORMAT


def read_binary_dir(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """S1: `binaryFile` scan of a directory tree. Returns
    (path, file_name, base_name, ext, length, content)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(path)
    )
    file_name = F.element_at(F.split(F.col("path"), "/"), -1)
    return df.select(
        "path",
        file_name.alias("file_name"),
        # base includes the directory: the reference compares full paths
        # (main_body.py:176 `base + _OUTPUT_EXT in targets`), so x/a.png
        # must not shadow y/a.tif
        F.regexp_extract(F.col("path"), r"^(.*)\.[^.]+$", 1).alias("base_name"),
        F.lower(F.regexp_extract(file_name, r"\.([^.]+)$", 1)).alias("ext"),
        "length",
        "content",
    )


def enumerate_targets(files: DataFrame) -> DataFrame:
    """S2 + S3 + S4 over a `read_binary_dir` frame: whitelist the
    extension, drop `.handprint` artifacts, and drop any file whose
    ``.png`` sibling (same directory + stem) is also a target — the
    reference's exact rule (main_body.py:171-180). Files with no png
    sibling all survive, whatever their format mix.

    The sibling test runs on a content-PRUNED projection (the
    binaryFile source prunes unread columns) broadcast back as a
    base_name anti-join: the previous window(partitionBy base_name)
    hash-Exchanged the full rows — i.e. shuffled every file's bytes —
    to decide a verdict that only needs (base_name, ext)."""
    base = (
        files.filter(F.col("ext").isin(list(ACCEPTED_FORMATS)))  # S2
        .filter(~F.col("file_name").contains(".handprint"))  # S3
        .filter(F.col("length") > 0)  # S7 zero-length guard
    )
    png_bases = (
        base.filter(F.col("ext") == OUTPUT_FORMAT).select("base_name").distinct()
    )
    pngs = base.filter(F.col("ext") == OUTPUT_FORMAT)
    others = base.filter(F.col("ext") != OUTPUT_FORMAT).join(
        F.broadcast(png_bases), "base_name", "left_anti"
    )
    return pngs.unionByName(others)
