"""Job-level error taxonomy and exit-code surface (SURVEY.md §2 C15).

The reference maps its exception classes to process exit codes
(/root/reference/handprint/exit_codes.py:24-43 enum,
__main__.py:534-560 handler) and splits failures into ROW errors
(returned as TRResult.error values so the batch loop continues —
services/amazon.py:66-79 states the principle) versus JOB aborts
(raised exceptions: auth/service-wide conditions, manager.py:291-293).

The Spark engine keeps the same two-level policy:
  * ROW errors (corrupt media, missing content) become kind='error'
    span values inside the DataFrame — never task failures — exactly
    like operators/extract.py already does;
  * JOB failures (the analogs of auth/network/service-wide problems,
    or an interrupted driver) abort the Spark job, and the driver
    entrypoint maps them to the reference's exit-code enum via
    ``exit_code_for`` / ``run_with_exit_code``.
"""

from __future__ import annotations

import sys
from enum import IntEnum
from typing import Callable, Optional


class ExitCode(IntEnum):
    """Reference exit-code enum (exit_codes.py:24-43)."""

    success = 0         # program completed normally
    user_interrupt = 1  # the user interrupted execution
    bad_arg = 2         # bad or missing value for an option
    no_network = 3      # no network detected
    file_error = 4      # problem with a file or directory
    server_error = 5    # problem with the server
    exception = 6       # an exception or fatal error occurred


class EngineException(Exception):
    """Base class (reference exceptions.py:23 HandprintException)."""


class CannotProceed(EngineException):
    """Early exit with a specific ExitCode as args[0]
    (exceptions.py:31; raised like main_body.py:89-114)."""


class UserCancelled(EngineException):
    """The user cancelled the run (exceptions.py:35)."""


class NoContent(EngineException):
    """No content at the given location (exceptions.py:43) — ROW level."""


class CorruptedContent(EngineException):
    """Content corruption detected (exceptions.py:47) — ROW level."""


class AuthFailure(EngineException):
    """Credential problem (exceptions.py:51) — aborts the whole job
    because auth failures affect every use of a service
    (amazon.py:74-77, manager.py:291-292)."""


class ServiceFailure(EngineException):
    """Unrecoverable remote-service problem (exceptions.py:55)."""


# Row-level failures become error VALUES in the output table; all other
# EngineExceptions abort the job (amazon.py:66-79 policy).
ROW_ERROR_CLASSES = (NoContent, CorruptedContent)


def is_row_error(exc: BaseException) -> bool:
    """True when the failure is specific to one item and the batch
    loop should continue (the reference returns these via
    TRResult.error; the engine emits kind='error' spans)."""
    from .kernels.codec import MediaError

    return isinstance(exc, ROW_ERROR_CLASSES + (MediaError,))


def exit_code_for(exc: Optional[BaseException]) -> ExitCode:
    """Reference __main__.py:539-557 mapping, exception -> exit code."""
    if exc is None:
        return ExitCode.success
    if isinstance(exc, CannotProceed):
        code = exc.args[0] if exc.args else ExitCode.exception
        return ExitCode(int(code))
    if isinstance(exc, (KeyboardInterrupt, UserCancelled)):
        return ExitCode.user_interrupt
    if isinstance(exc, (FileNotFoundError, FileExistsError, PermissionError)):
        return ExitCode.file_error
    return ExitCode.exception


def run_with_exit_code(fn: Callable[[], object]) -> tuple[ExitCode, object]:
    """Driver-side wrapper for entrypoints (``main_exit``, and tests
    that check a CLI's exit code without exiting): returns
    (exit_code, result-or-exception) instead of exiting."""
    try:
        return ExitCode.success, fn()
    except SystemExit:
        # an entrypoint that exits itself (sys.exit(0), argparse --help)
        # already chose its status — don't remap it to `exception`; the
        # reference handler intercepts only Exception/KeyboardInterrupt
        raise
    except BaseException as exc:  # noqa: BLE001 — the mapping IS the point
        return exit_code_for(exc), exc


def main_exit(fn: Callable[[], object]) -> None:
    """Process-boundary form: run, print ``error: <message>`` on stderr
    when ``fn`` raised, and exit with the mapped code."""
    code, result = run_with_exit_code(fn)
    if code != ExitCode.success and isinstance(result, BaseException):
        # CannotProceed carries (ExitCode, message); others carry message
        parts = [str(a) for a in result.args if not isinstance(a, ExitCode)]
        print(f"error: {' '.join(parts) or type(result).__name__}", file=sys.stderr)
    sys.exit(int(code))
