"""CLI surface (reference __main__.py plac annotations re-expressed
as python -m handprint_spark): option validation, exit codes, and the
end-to-end pipeline sinks."""

import ast
import glob
import os
import re
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameWriter

from handprint_spark.corpus import is_skewed
from handprint_spark.sources import table_sink

from handprint_spark.__main__ import run_cli
from handprint_spark.errors import CannotProceed, ExitCode, run_with_exit_code


def test_version_and_list(capsys):
    assert run_cli(["-V"]) == 0
    assert run_cli(["-l"]) == 0
    out = capsys.readouterr().out
    assert "handprint_spark" in out
    assert "google" in out and "microsoft" in out


def test_bad_service_maps_to_bad_arg_exit():
    code, exc = run_with_exit_code(lambda: run_cli(["-s", "nosuch", "x"]))
    assert code == ExitCode.bad_arg
    assert isinstance(exc, CannotProceed)


def test_bad_display_and_shift_and_confidence():
    for argv in (
        ["-d", "bogus", "corpus"],
        ["-m", "1;2", "corpus"],
        ["-n", "7", "corpus"],
        [],  # no corpora
    ):
        code, _ = run_with_exit_code(lambda a=argv: run_cli(a))
        assert code == ExitCode.bad_arg, argv


def test_threads_below_one_is_bad_arg(tmp_path, monkeypatch):
    """-t 0 and -t -1 exit 2 before any session starts, even with a
    valid corpus: no local[0] read as every core, no local[-1]."""
    from handprint_spark import session

    def no_session(*args, **kwargs):
        raise AssertionError("get_spark called")

    monkeypatch.setattr(session, "get_spark", no_session)
    (tmp_path / "documents.parquet").mkdir()
    for threads in ("0", "-1"):
        code, exc = run_with_exit_code(
            lambda t=threads: run_cli(["-o", str(tmp_path / "out"), "-t", t, str(tmp_path)]))
        assert code == ExitCode.bad_arg, threads
        assert isinstance(exc, CannotProceed)


def test_missing_corpus_is_file_error(tmp_path):
    code, _ = run_with_exit_code(
        lambda: run_cli(["-o", str(tmp_path), str(tmp_path / "nope")])
    )
    assert code == ExitCode.file_error


def test_corpus_given_as_uri(spark, sf_tiny, tmp_path):
    """A corpus named by a file: URI is read through the session's
    FileSystem: it commits the same documents as its plain path, and a
    missing one is a file_error (4) that writes no results sink."""
    def committed(out):
        return {r.doc_id for r in spark.read.parquet(os.path.join(out, "results")).collect()}

    plain, uri = str(tmp_path / "plain"), str(tmp_path / "uri")
    assert run_cli(["-o", plain, "-q", "-t", "4", sf_tiny]) > 0
    assert run_cli(["-o", uri, "-q", "-t", "4", f"file://{sf_tiny}"]) > 0
    assert committed(uri) == committed(plain)

    missing = str(tmp_path / "missing")
    code, _ = run_with_exit_code(
        lambda: run_cli(["-o", missing, "-q", "-t", "4", f"file://{tmp_path}/nope"]))
    assert code == ExitCode.file_error
    assert not os.path.exists(os.path.join(missing, "results"))


def test_add_creds_is_na_but_validates(tmp_path, capsys):
    creds = tmp_path / "creds.json"
    creds.write_text("{}")
    assert run_cli(["-a", "google", str(creds)]) == 0
    assert "no credentials" in capsys.readouterr().out
    code, _ = run_with_exit_code(
        lambda: run_cli(["-a", "google", str(tmp_path / "missing.json")])
    )
    assert code == ExitCode.file_error


def test_threads_default_is_get_spark_default(sf_tiny, tmp_path, monkeypatch):
    """Without -t the CLI leaves the master to get_spark (every core in
    the CPU affinity mask); -t N asks for local[N]; under spark-submit
    the submitted master is inherited."""
    from handprint_spark import session

    class Started(Exception):
        pass

    masters = []

    def fake_get_spark(app_name, master=None, shuffle_partitions=None):
        masters.append(master)
        raise Started

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    out = str(tmp_path / "out")
    for argv in (["-o", out, sf_tiny], ["-o", out, "-t", "3", sf_tiny]):
        with pytest.raises(Started):
            run_cli(argv)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    with pytest.raises(Started):
        run_cli(["-o", out, "-t", "3", sf_tiny])
    assert masters == [None, "local[3]", "inherit"]


def test_end_to_end_run_resume_and_compare(spark, sf_tiny, tmp_path, capsys):
    out = str(tmp_path / "out")
    n = run_cli(["-o", out, "-e", "-c", "-q", "-t", "4", sf_tiny])
    assert n > 0
    for sub in ("results", "lineage", "text", "json", "grid", "comparison"):
        assert os.path.isdir(os.path.join(out, sub)), sub

    # without -j a populated results sink must refuse (never clobber)
    code, _ = run_with_exit_code(
        lambda: run_cli(["-o", out, "-q", "-t", "4", sf_tiny])
    )
    assert code == ExitCode.file_error

    # with -j the anti-join resume finds nothing left to do, and NO
    # per-batch sink may re-append the first run's rows (fresh batch
    # id for text/json/comparison; batch-scoped render for grid)
    n_grid = spark.read.parquet(os.path.join(out, "grid")).count()
    assert run_cli(["-j", "-e", "-o", out, "-q", "-t", "4", sf_tiny]) == 0
    assert spark.read.parquet(os.path.join(out, "text")).count() == n
    assert spark.read.parquet(os.path.join(out, "grid")).count() == n_grid

    # the comparison sink holds one byte-exact TSV report per doc
    rows = spark.read.parquet(os.path.join(out, "comparison")).collect()
    assert len(rows) == n
    assert all("\t" in r.report for r in rows if r.report)

    # every sink is zstd parquet, column chunk by column chunk
    for sub in ("results", "lineage", "text", "json", "grid", "comparison"):
        files = glob.glob(os.path.join(out, sub, "**", "*.parquet"), recursive=True)
        assert files, sub
        codecs = {md.row_group(g).column(c).compression
                  for md in map(pq.read_metadata, files)
                  for g in range(md.num_row_groups) for c in range(md.num_columns)}
        assert codecs == {"ZSTD"}, (sub, codecs)


def test_from_file_filter(spark, sf_tiny, tmp_path):
    docs = spark.read.parquet(f"{sf_tiny}/documents.parquet").limit(3).collect()
    keep = tmp_path / "keep.txt"
    keep.write_text("\n".join(str(r.doc_id) for r in docs))
    out = str(tmp_path / "out")
    n = run_cli(["-o", out, "-q", "-G", "-t", "4", "-f", str(keep), sf_tiny])
    assert n == 3


def test_progress_line_reports_jvm_time(spark, sf_tiny, tmp_path, capsys):
    """Without -q the per-corpus line ends with the batch's JIT and GC
    milliseconds (run_batch's jit_ms and gc_ms)."""
    doc_id = spark.read.parquet(f"{sf_tiny}/documents.parquet").first().doc_id
    keep = tmp_path / "keep.txt"
    keep.write_text(str(doc_id))
    assert run_cli(["-o", str(tmp_path / "out"), "-G", "-t", "4", "-f", str(keep), sf_tiny]) == 1
    out = capsys.readouterr().out
    assert re.search(r": 1 documents, \d+ media, \d+ errors, jit_ms \d+, gc_ms \d+\n", out), out


def test_no_grid_writes_annotated_sink(spark, sf_tiny, tmp_path):
    """-G skips ONLY the grid (the reference saves individual
    annotated images instead); the old render gate made plain -G skip
    BOTH sinks and silently produce no rendered output at all."""
    docs = spark.read.parquet(f"{sf_tiny}/documents.parquet").limit(2).collect()
    keep = tmp_path / "keep.txt"
    keep.write_text("\n".join(str(r.doc_id) for r in docs))
    out = str(tmp_path / "out")
    assert run_cli(["-o", out, "-q", "-G", "-t", "4", "-f", str(keep), sf_tiny]) == 2
    assert not os.path.isdir(os.path.join(out, "grid"))
    annotated = os.path.join(out, "annotated")
    assert os.path.isdir(annotated)
    assert spark.read.parquet(annotated).count() > 0


def test_from_file_tolerates_non_numeric_ids(spark, sf_tiny, tmp_path):
    """Keep ids are strings with a per-table try_cast: a non-numeric
    id (the engine's declared input shape allows them) filters
    instead of crashing int(); ids absent from the corpus drop out."""
    docs = spark.read.parquet(f"{sf_tiny}/documents.parquet").limit(2).collect()
    keep = tmp_path / "keep.txt"
    keep.write_text("\n".join([str(docs[0].doc_id), "doc-xyz", "  "]))
    out = str(tmp_path / "out")
    assert run_cli(["-o", out, "-q", "-G", "-t", "4", "-f", str(keep), sf_tiny]) == 1


def test_resume_after_a_first_run_that_kept_no_document(spark, sf_tiny, tmp_path):
    """A first run whose -f keep-list matches no document commits a
    results sink with zero rows and no lineage row; its high-water
    mark is no batch at all, so a -j resume starts at batch 0."""
    keep = tmp_path / "keep.txt"
    keep.write_text("no-such-doc\n")
    out = str(tmp_path / "out")
    assert run_cli(["-o", out, "-q", "-G", "-t", "4", "-f", str(keep), sf_tiny]) == 0
    results_dir = os.path.join(out, "results")
    assert spark.read.parquet(results_dir).count() == 0
    assert not os.path.isdir(os.path.join(out, "lineage"))

    doc_id = spark.read.parquet(f"{sf_tiny}/documents.parquet").first().doc_id
    keep.write_text(str(doc_id))
    assert run_cli(["-j", "-o", out, "-q", "-G", "-t", "4", "-f", str(keep), sf_tiny]) == 1
    lineage = spark.read.parquet(os.path.join(out, "lineage")).collect()
    assert [(r.batch_id, r.n_docs) for r in lineage] == [(0, 1)]
    assert [r.batch_id for r in spark.read.parquet(results_dir).collect()] == [0]


def test_null_text_document_is_an_empty_document(spark, tmp_path):
    """A document whose text is null is committed with zero spans, like
    one whose text is empty: the batch, its grid and its -c comparison
    succeed, and ground truth is built without a Python stage."""
    import pyarrow as pa

    from handprint_spark.operators.compare import ground_truth

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2, 3, 4], pa.int64()),
                  "text": [None, "", "a b c d e f g", "  \f x  "]}),
        str(corpus / "documents.parquet"),
    )
    out = str(tmp_path / "out")
    code, n = run_with_exit_code(lambda: run_cli(["-o", out, "-c", "-q", "-t", "4", str(corpus)]))
    assert (code, n) == (ExitCode.success, 4)
    n_spans = {r.doc_id: len(r.spans)
               for r in spark.read.parquet(os.path.join(out, "results")).collect()}
    assert n_spans == {"1": 0, "2": 0, "3": 4, "4": 2}
    reports = {r.doc_id for r in spark.read.parquet(os.path.join(out, "comparison")).collect()}
    assert "1" in reports

    gt = ground_truth(spark, str(corpus))
    plan = gt._sc._jvm.PythonSQLUtils.explainString(gt._jdf.queryExecution(), "simple")
    assert "ArrowEvalPython" not in plan, plan
    assert {r.doc_id: r.gt_text for r in gt.collect()} == {
        "1": "", "2": "", "3": "a b c d e f\ng", "4": "x"}


def test_cli_writes_every_sink_through_run_batch():
    """The CLI appends to no sink itself: every sink it writes goes
    through checkpoints.run_batch, whose lineage row commits the batch
    after all of them, so a resume can drop an uncommitted batch."""
    import handprint_spark.__main__ as cli

    tree = ast.parse(open(cli.__file__).read())
    calls = [
        n.func.attr for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and isinstance(n.func.value, ast.Name) and n.func.value.id == "table_sink"
    ]
    assert not {"append", "append_batch", "append_row"} & set(calls), calls


# -- crash injection ---------------------------------------------------------
# A first run commits batch 0 (four docs); a -j run over eight docs
# crashes inside batch 1 at one boundary; a second -j run resumes. Every
# sink must then equal that of a run whose batch 1 never crashed.

CRASH_SINKS = ("results", "lineage", "text", "json", "grid", "comparison")


class Crash(Exception):
    pass


def _cli(out, keep, sf, *flags):
    return run_cli([*flags, "-e", "-c", "-q", "-t", "4", "-o", out, "-f", str(keep), sf])


def _sink_rows(spark, path):
    return sorted(repr(sorted(r.asDict(recursive=True).items()))
                  for r in spark.read.parquet(path).collect())


@pytest.fixture(scope="module")
def crash_base(spark, sf_tiny, tmp_path_factory):
    """(root, the first run's output, the uninterrupted output, the
    eight-doc keep list)."""
    root = tmp_path_factory.mktemp("crash")
    ids = [str(r.doc_id) for r in spark.read.parquet(f"{sf_tiny}/documents.parquet")
           .select("doc_id").orderBy("doc_id").limit(40).collect()]
    ids = [d for d in ids if not is_skewed(d)][:8]
    assert len(ids) == 8
    first, both = root / "first.txt", root / "both.txt"
    first.write_text("\n".join(ids[:4]))
    both.write_text("\n".join(ids))
    base, ref = str(root / "base"), str(root / "ref")
    assert _cli(base, first, sf_tiny) == 4
    shutil.copytree(base, ref)
    assert _cli(ref, both, sf_tiny, "-j") == 4
    return root, base, ref, both


def _crash_on_write(monkeypatch, target):
    orig = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if path == target or path.startswith(target + "/"):
            raise Crash(path)
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def _crash_on_row(monkeypatch, target):
    orig = table_sink.append_row

    def append_row(spark, values, schema, to):
        if to == target:
            raise Crash(to)
        return orig(spark, values, schema, to)

    monkeypatch.setattr(table_sink, "append_row", append_row)


@pytest.mark.parametrize(
    "boundary",
    ["before-results", "inside-results", "results-lineage", "results-text", "results-grid"],
)
def test_crashed_batch_is_redone_whole(spark, sf_tiny, crash_base, monkeypatch, boundary):
    """Wherever batch 1 crashes before its lineage row, a -j resume
    redoes it whole: no sink loses a row or holds one twice, and the
    next batch never carries the crashed batch's rows."""
    root, base, ref, both = crash_base
    out = str(root / boundary)
    shutil.copytree(base, out)
    if boundary == "inside-results":
        # a results job that committed some files of batch 1, then died
        (spark.read.parquet(os.path.join(ref, "results")).filter("batch_id = 1").limit(2)
         .drop("batch_id").write.parquet(os.path.join(out, "results", "batch_id=1")))
    else:
        with monkeypatch.context() as m:
            if boundary == "results-lineage":
                _crash_on_row(m, os.path.join(out, "lineage"))
            else:
                sub = {"before-results": "results", "results-text": "text",
                       "results-grid": "grid"}[boundary]
                _crash_on_write(m, os.path.join(out, sub))
            with pytest.raises(Crash):
                _cli(out, both, sf_tiny, "-j")
    assert _cli(out, both, sf_tiny, "-j") == 4

    for sub in CRASH_SINKS:
        path = os.path.join(out, sub)
        assert _sink_rows(spark, path) == _sink_rows(spark, os.path.join(ref, sub)), sub
        if sub != "lineage":
            ids = [r.doc_id for r in spark.read.parquet(path).select("doc_id").collect()]
            assert len(ids) == len(set(ids)) == 8, sub
    lineage = spark.read.parquet(os.path.join(out, "lineage")).collect()
    assert sorted(r.batch_id for r in lineage) == [0, 1]
