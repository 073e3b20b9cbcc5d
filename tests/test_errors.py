"""C15: job exit-code surface + row-vs-job error classification
(reference exit_codes.py:24-43, __main__.py:534-560, amazon.py:66-79)."""

import pytest

from handprint_spark import errors
from handprint_spark.errors import (
    AuthFailure,
    CannotProceed,
    CorruptedContent,
    ExitCode,
    NoContent,
    ServiceFailure,
    UserCancelled,
    exit_code_for,
    is_row_error,
    run_with_exit_code,
)
from handprint_spark.kernels.codec import MediaError


def test_exit_code_values_mirror_reference():
    assert [int(c) for c in ExitCode] == [0, 1, 2, 3, 4, 5, 6]
    assert ExitCode.success == 0 and ExitCode.exception == 6


def test_exception_to_exit_code_mapping():
    assert exit_code_for(None) == ExitCode.success
    assert exit_code_for(CannotProceed(ExitCode.no_network)) == ExitCode.no_network
    assert exit_code_for(CannotProceed(ExitCode.bad_arg)) == ExitCode.bad_arg
    assert exit_code_for(UserCancelled()) == ExitCode.user_interrupt
    assert exit_code_for(KeyboardInterrupt()) == ExitCode.user_interrupt
    assert exit_code_for(FileNotFoundError("x")) == ExitCode.file_error
    assert exit_code_for(PermissionError("x")) == ExitCode.file_error
    # auth/service analogs are job aborts -> generic exception code,
    # like the reference's alert_fatal fallthrough (__main__.py:555)
    assert exit_code_for(AuthFailure("creds")) == ExitCode.exception
    assert exit_code_for(ServiceFailure("boom")) == ExitCode.exception
    assert exit_code_for(ValueError("boom")) == ExitCode.exception


def test_row_vs_job_classification():
    # row level: the batch loop continues (amazon.py:66-73 principle)
    assert is_row_error(CorruptedContent("bad image"))
    assert is_row_error(NoContent("empty"))
    assert is_row_error(MediaError("truncated"))
    # job level: stop using the service (amazon.py:74-79)
    assert not is_row_error(AuthFailure("creds"))
    assert not is_row_error(ServiceFailure("5xx"))
    assert not is_row_error(ValueError("other"))


def test_run_with_exit_code():
    code, result = run_with_exit_code(lambda: 42)
    assert code == ExitCode.success and result == 42

    def boom():
        raise CannotProceed(ExitCode.file_error)

    code, exc = run_with_exit_code(boom)
    assert code == ExitCode.file_error and isinstance(exc, CannotProceed)


def test_run_with_exit_code_passes_system_exit_through():
    """An entrypoint that sys.exit()s itself keeps its own status —
    it must not be remapped to ExitCode.exception."""

    def exits():
        raise SystemExit(0)

    with pytest.raises(SystemExit) as ei:
        run_with_exit_code(exits)
    assert ei.value.code == 0


def test_main_exit_maps_code(capsys):
    with pytest.raises(SystemExit) as ei:
        errors.main_exit(lambda: (_ for _ in ()).throw(AuthFailure("x")))
    assert ei.value.code == 6
    assert capsys.readouterr().err == "error: x\n"
    with pytest.raises(SystemExit) as ei:
        errors.main_exit(
            lambda: (_ for _ in ()).throw(CannotProceed(ExitCode.bad_arg, "no corpus"))
        )
    assert ei.value.code == 2
    assert capsys.readouterr().err == "error: no corpus\n"
    with pytest.raises(SystemExit) as ei:
        errors.main_exit(lambda: "ok")
    assert ei.value.code == 0
    assert capsys.readouterr().err == ""


def test_row_errors_stay_in_rows_job_errors_abort(spark):
    """End-to-end policy check on a tiny frame: MediaError-class
    failures surface as kind='error' span VALUES (job succeeds);
    a job-class failure raised in a stage aborts the collect."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from handprint_spark.corpus import MEDIA_TYPE, SPAN_TYPE, build_doc, is_corrupt
    from handprint_spark.operators.extract import extract_documents

    corrupt_id = next(
        str(i) for i in range(10_000) if is_corrupt(str(i))
    )
    doc_id, spans, media = build_doc(corrupt_id, "alpha beta gamma delta epsilon zeta")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("spans", SPAN_TYPE),
            T.StructField("media", MEDIA_TYPE),
        ]
    )
    df = spark.createDataFrame([(doc_id, spans, media)], schema)
    out = extract_documents(df).collect()
    assert out[0].n_errors >= 1  # row error, job green

    @F.udf("int")
    def raises_job_error(x):
        raise errors.AuthFailure("credentials rejected")

    with pytest.raises(Exception):
        spark.range(1).select(raises_job_error("id")).collect()
