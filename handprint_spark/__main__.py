"""Command-line entry point: the reference's CLI surface
(reference __main__.py:73-96 plac annotations) re-expressed over the
Spark pipeline, runnable as ``python -m handprint_spark`` or via
``spark-submit --py-files handprint_spark.zip handprint_spark/__main__.py``.

Option-by-option mapping (reference flag -> this engine):

  -l  list known services            -> same (service_fanout.SERVICES)
  -V  version                        -> same
  -s  services to invoke             -> validated only: the local
                                        decoder serves every service
                                        identically
  -o  output directory               -> table-sink root (parquet dirs;
                                        on a cluster: catalog tables)
  -t  threads (default: all cores)   -> local[N] / session parallelism
                                        (get_spark's CPU-affinity default)
  -n  confidence threshold           -> F1 score filter (images.py:256)
  -d  display annotations            -> F2/render display matrix
  -m  text-move x,y                  -> annotation shift (render)
  -G  no grid                        -> skip the grid-image sink (K6)
  -e  extended results               -> text + JSON sinks (K3)
  -c  compare to ground truth        -> comparison TSV + totals (K4)
  -r  relaxed compare                -> relaxed normalization (C2/C3)
  -j  reuse prior results            -> checkpoint resume (J3/S8): drop
                                        the batch an interrupted run
                                        left without a lineage row from
                                        every sink, then anti-join; each
                                        document's outputs exist once.
                                        WITHOUT -j an existing results
                                        sink is an error (this engine
                                        never clobbers a sink)
  -f  read inputs from file          -> doc_id keep-list filter
  -b  base name for outputs          -> output subdirectory prefix (K2)
  -q  quiet                          -> suppress progress prints
  -a  add credentials                -> N/A: the deterministic local
                                        decoder (X9) takes no cloud
                                        credentials; reports and exits
  -x/-z text color/size              -> accepted for surface parity;
                                        the grayscale HPM1 codec has
                                        fixed ink intensity/font, so
                                        they are validated and noted

Exit codes follow the reference mapping exactly (errors.ExitCode,
reference exit_codes.py:24-43): 0 success, 1 user interrupt, 2 bad
argument, 4 file error, 6 exception.
"""

from __future__ import annotations

import argparse
import os
import sys
from urllib.parse import urlparse

if __package__ in (None, ""):  # pragma: no cover — spark-submit path
    # spark-submit runs this FILE as a bare script (no package
    # context), which breaks relative imports; register the parent
    # package first. --py-files handprint_spark.zip puts the package
    # on every executor's path; this covers the driver-side script.
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import handprint_spark  # noqa: F401  (binds the parent package)

    __package__ = "handprint_spark"

from . import __version__
from .errors import CannotProceed, ExitCode, main_exit
from .kernels.render import POSSIBLE_DISPLAYS


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="handprint_spark",
        description=(
            "Run the handprint-style extraction pipeline over corpus "
            "directories (documents.parquet tables) on Spark."
        ),
    )
    p.add_argument("-a", "--add-creds", nargs=2, metavar=("SERVICE", "FILE"),
                   help="add credentials for SERVICE (N/A: local decoder)")
    p.add_argument("-b", "--base-name", default=None,
                   help="base name for output subdirectories")
    p.add_argument("-c", "--compare", action="store_true",
                   help="compare recognized text to ground truth")
    p.add_argument("-d", "--display", default="text",
                   help="comma list of annotations to display (default: text)")
    p.add_argument("-e", "--extended", action="store_true",
                   help="also write extended results (text + JSON sinks)")
    p.add_argument("-f", "--from-file", default=None,
                   help="file listing doc_ids to process (one per line)")
    p.add_argument("-G", "--no-grid", action="store_true",
                   help="do not create the all-results grid sink")
    p.add_argument("-j", "--reuse-results", action="store_true",
                   help="resume: skip docs already in the results sink")
    p.add_argument("-l", "--list", action="store_true",
                   help="print known services and exit")
    p.add_argument("-m", "--text-move", default="0,0",
                   help="shift text annotations by x,y (default: 0,0)")
    p.add_argument("-n", "--confidence", type=float, default=0.0,
                   help="only keep boxes with score >= N (0-1)")
    p.add_argument("-o", "--output-dir", default="handprint-spark-output",
                   help="output directory (sink root)")
    p.add_argument("-q", "--quiet", action="store_true",
                   help="only print important messages")
    p.add_argument("-r", "--relaxed", action="store_true",
                   help="use relaxed comparison criteria")
    p.add_argument("-s", "--services", default="all",
                   help='comma list of services (default: "all")')
    p.add_argument("-t", "--threads", type=int, default=None,
                   help="parallelism (default: every core this process may run on)")
    p.add_argument("-V", "--version", action="store_true",
                   help="print version and exit")
    p.add_argument("-x", "--text-color", default=None,
                   help="annotation color (accepted; grayscale codec)")
    p.add_argument("-z", "--text-size", default=None,
                   help="annotation font size (accepted; fixed-font codec)")
    p.add_argument("corpora", nargs="*",
                   help="corpus directories containing documents.parquet")
    return p


def _parse_services(arg: str) -> list[str]:
    from .operators.service_fanout import SERVICES

    if arg.strip().lower() == "all":
        return list(SERVICES)
    names = [s.strip() for s in arg.split(",") if s.strip()]
    unknown = [s for s in names if s not in SERVICES]
    if unknown:
        raise CannotProceed(
            ExitCode.bad_arg,
            f"unknown service(s): {', '.join(unknown)} "
            f"(known: {', '.join(SERVICES)})",
        )
    return names


def _parse_display(arg: str) -> tuple[str, ...]:
    names = tuple(d.strip() for d in arg.split(",") if d.strip())
    unknown = [d for d in names if d not in POSSIBLE_DISPLAYS]
    if unknown:
        raise CannotProceed(
            ExitCode.bad_arg,
            f"unknown display value(s): {', '.join(unknown)} "
            f"(known: {', '.join(POSSIBLE_DISPLAYS)})",
        )
    return names


def _parse_shift(arg: str) -> tuple[int, int]:
    try:
        x, y = (int(v) for v in arg.split(","))
        return (x, y)
    except ValueError as exc:
        raise CannotProceed(
            ExitCode.bad_arg, f"bad -m/--text-move value {arg!r}: want x,y"
        ) from exc


def run_cli(argv: list[str] | None = None) -> int:
    """The CLI body; returns the number of documents processed (for
    tests). Raises the reference exception types on failure so
    main_exit maps them to the reference exit codes."""
    args = build_parser().parse_args(argv)

    if args.version:
        print(f"handprint_spark {__version__}")
        return 0
    if args.list:
        from .operators.service_fanout import SERVICES

        print("Known services: " + ", ".join(SERVICES))
        return 0
    if args.add_creds:
        svc, path = args.add_creds
        _parse_services(svc)  # validates the service name
        if not os.path.isfile(path):
            raise FileNotFoundError(path)
        print(
            f"{svc}: this engine decodes with the deterministic local "
            "decoder (X9) and makes no cloud calls; no credentials are "
            "needed or stored."
        )
        return 0

    _parse_services(args.services)  # validates the names
    display = _parse_display(args.display)
    shift = _parse_shift(args.text_move)
    if not 0.0 <= args.confidence <= 1.0:
        raise CannotProceed(ExitCode.bad_arg, "-n/--confidence must be in [0, 1]")
    if args.threads is not None and args.threads < 1:
        raise CannotProceed(ExitCode.bad_arg, "-t/--threads must be at least 1")
    if not args.corpora:
        raise CannotProceed(ExitCode.bad_arg, "no corpus directories given")
    # the loader reads {d}/documents.parquet — validate that exact
    # path up front so a bad input is a clean file_error (4), not a
    # mid-run Spark AnalysisException (6). A URI (file:, hdfs:, s3a:)
    # is checked through the session's FileSystem once it exists.
    tables = [os.path.join(d, "documents.parquet") for d in args.corpora]
    for table in tables:
        if not (urlparse(table).scheme or os.path.isdir(table) or os.path.isfile(table)):
            raise FileNotFoundError(table)
    if (args.text_color or args.text_size) and not args.quiet:
        print("note: grayscale HPM1 codec — annotation color/size are fixed")

    from .corpus import spanify
    from .session import get_spark

    # Under spark-submit --master, the submitted master must win —
    # builder.master() would silently turn a cluster run into a
    # single-machine local[N] one. -t only sizes the local default.
    # Probing SparkConf() here CANNOT detect the submitted master
    # (before the JVM exists it is an empty local dict, so
    # contains('spark.master') is always False); spark-submit's
    # PythonRunner is detected by the gateway env it launches the
    # driver script with, and get_spark("inherit") then leaves the
    # JVM's own spark.master untouched. Without -t, get_spark sizes
    # local[N] to the cores in this process's CPU affinity mask.
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        master = "inherit"
    else:
        master = f"local[{args.threads}]" if args.threads else None
    spark = get_spark(app_name="handprint-spark-cli", master=master)
    spark.sparkContext.setLogLevel("ERROR")

    from .sources import table_sink

    for table in tables:
        if urlparse(table).scheme and table_sink.load(spark, table) is None:
            raise FileNotFoundError(table)

    out = args.output_dir
    prefix = f"{args.base_name}-" if args.base_name else ""

    def sink(name: str) -> str:
        return os.path.join(out, f"{prefix}{name}")

    results_dir, lineage_dir = sink("results"), sink("lineage")

    if not args.reuse_results and table_sink.load(spark, results_dir) is not None:
        raise CannotProceed(
            ExitCode.file_error,
            f"{results_dir} already holds results; pass -j to resume "
            "or choose a different -o/--output-dir (sinks are never clobbered)",
        )

    from pyspark.sql import functions as F

    from .operators.compare import comparison_tsv, ground_truth
    from .operators.extract import extracted_text
    from .operators.render import annotated_media, doc_grids
    from .sources.checkpoints import next_batch, run_batch

    # One keep-list filter shared by every table carrying doc_id
    # (documents, ground truth): a big keep-list is a table, not an
    # IN-list — broadcast semi-join instead of a 10^5-literal predicate.
    keep_filter = None
    if args.from_file:
        with open(args.from_file) as fh:
            # Keep ids stay STRINGS: doc_id is bigint in the raw
            # documents table but string in every span/result table
            # (spanify casts), and the engine explicitly supports
            # non-numeric ids. int(line) made -f unusable for those
            # and crashed on any stray token; a raw-string list plus a
            # per-table try_cast to the TARGET column's exact type
            # avoids Spark's implicit string<->bigint coercion, which
            # compares as DOUBLE in legacy mode (silent mis-match
            # above 2^53) and throws under ANSI.
            keep_ids = [line.strip() for line in fh if line.strip()]
        keep_raw = spark.createDataFrame([(d,) for d in keep_ids], "doc_id string")

        def keep_filter(df):
            (dt,) = [t for c, t in df.dtypes if c == "doc_id"]
            typed = keep_raw.select(
                F.col("doc_id").try_cast(dt).alias("doc_id")
            ).filter(F.col("doc_id").isNotNull())
            return df.join(F.broadcast(typed), "doc_id", "left_semi")

    # Every sink, whatever this run's flags: a batch an earlier run
    # left uncommitted may have reached any of them.
    first_batch = next_batch(spark, lineage_dir, results_dir, *map(
        sink, ("text", "json", "grid", "annotated", "comparison")))

    total_docs = 0
    for offset, corpus in enumerate(args.corpora):
        # keep-list BEFORE spanify: the media-encode UDF is the
        # pipeline's hottest stage, so non-kept docs must be dropped
        # while rows are still (doc_id, text), not after encoding
        docs = spark.read.parquet(f"{corpus}/documents.parquet")
        if keep_filter is not None:
            docs = keep_filter(docs)
        spans = spanify(docs)

        # Each output is derived from the batch's own results rows, so
        # a -j resume renders and compares only the docs it extracted.
        outputs = {}
        if args.extended:
            outputs[sink("text")] = extracted_text
            outputs[sink("json")] = lambda r: r.select(
                "doc_id", F.to_json(F.col("spans")).alias("json"))

        def annotated(r, spans=spans):
            return annotated_media(
                spans.join(r.select("doc_id"), "doc_id", "left_semi"),
                score_threshold=args.confidence, display=display, shift=shift)

        # Rendering is unconditional: -G (reference: skip ONLY the
        # grid) writes the per-image annotated sink instead.
        if args.no_grid:
            outputs[sink("annotated")] = annotated
        else:
            outputs[sink("grid")] = lambda r: doc_grids(annotated(r))
        if args.compare:
            gt = ground_truth(spark, corpus)
            if keep_filter is not None:
                gt = keep_filter(gt)
            outputs[sink("comparison")] = lambda r, gt=gt: comparison_tsv(
                extracted_text(r, kinds=("ocr",)).select("doc_id", "text"),
                gt, relaxed=args.relaxed)

        metrics = run_batch(spark, spans, results_dir, lineage_dir, first_batch + offset, outputs)
        total_docs += metrics["docs"]
        if not args.quiet:
            print(
                f"{corpus}: {metrics['docs']} documents, "
                f"{metrics['media']} media, {metrics['errors']} errors, "
                f"jit_ms {metrics['jit_ms']}, gc_ms {metrics['gc_ms']}"
            )

    if not args.quiet:
        print(f"done: {total_docs} documents -> {out}")
    return total_docs


def main() -> None:
    main_exit(run_cli)


if __name__ == "__main__":
    main()
