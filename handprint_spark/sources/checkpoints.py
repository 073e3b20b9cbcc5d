"""Checkpoint / lineage protocol — resumable extraction runs.

The reference's ``-j`` mode reuses prior per-(doc,service) JSON files
instead of re-calling services (manager.py:281-285, SURVEY.md §2.1 S8,
§2.3 J3). At cluster scale that becomes:

    work list  =  input spans table  ANTI JOIN  results table (doc_id)
    lineage    =  one row per batch: doc/media/error counts + doc range

so a re-run after any failure processes exactly the missing documents
and appends — no partial-document state is possible because one doc is
one row end-to-end (the pipeline is a pure per-row function).

The lineage row is a batch's one commit point. Every sink a batch
writes (results, then each output sink) holds it in its own
``batch_id`` partition (table_sink.append_batch), and the lineage row
is written last, so a batch is committed exactly when its row exists.
A resume (``next_batch``) takes the id after the last lineage row and
drops that batch and every later one from every sink first: whatever
a crash left behind, anywhere before the lineage row, is gone, the
anti-join re-selects its documents, and the batch is redone whole.

The lineage row is built on the driver from the metrics the results
append observed and committed by ``table_sink.append_row``: on a path,
a one-row parquet file the driver writes and renames into place (no
Spark job); on a table, a JVM literal-row append (no Python worker).
So the extraction is a batch's only Python stage; a batch with no
documents writes no lineage row and no output sink.

Determinism makes resume exact: a re-extracted doc produces
byte-identical spans (X9 purity), so resumed-and-restarted tables are
equal as sets — asserted by tests/test_resume.py and tests/test_cli.py.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_documents, observed
from ..session import jvm_time_ms
from . import table_sink

LINEAGE_SCHEMA = (
    "batch_id long, n_docs long, n_media long, n_errors long, min_doc string, max_doc string"
)


def pending_work(spark: SparkSession, spans_df: DataFrame, results_dir: str) -> DataFrame:
    """J3: input minus already-extracted doc_ids (left anti join)."""
    done = table_sink.load(spark, results_dir)
    if done is None:
        return spans_df
    # No .distinct() on the right side: LEFT ANTI semantics are
    # unchanged by duplicate keys, and a distinct added a full
    # shuffle+aggregate over the ever-growing results table to every
    # resume check — the one table this module promises never to
    # rescan more than necessary.
    return spans_df.join(done.select("doc_id"), "doc_id", "left_anti")


def next_batch(spark: SparkSession, lineage_dir: str, *sinks: str) -> int:
    """The id after the last committed batch (0 with no lineage), with
    that batch and every later one first dropped from ``sinks``."""
    lineage = table_sink.load(spark, lineage_dir)
    last = None if lineage is None else lineage.agg(F.max("batch_id")).first()[0]
    first = 0 if last is None else last + 1
    for sink in sinks:
        table_sink.drop_batches(spark, sink, first)
    return first


def run_batch(
    spark: SparkSession,
    spans_df: DataFrame,
    results_dir: str,
    lineage_dir: str,
    batch_id: int,
    outputs: Optional[dict[str, Callable[[DataFrame], DataFrame]]] = None,
) -> dict:
    """One resumable batch: anti-join → extract → append results →
    append each output sink → append the batch's lineage row, last.
    Returns batch metrics.

    Steady-state I/O contract (the shape that must hold at 10^12
    rows): ONE read of the input, ONE write of results into its batch
    partition, ZERO reads of the rest of the (ever-growing) results
    table. With ``outputs`` (``{target: derive}``) and documents, ONE
    read of the batch's own results partition, then one write of
    ``derive(batch_results)`` per output sink. At most ONE lineage
    row, written last. The lineage and the returned metrics come from
    an ``Observation`` on the results append itself, so the batch runs
    the extraction once. The lineage row adds no Spark job into a path
    sink (a driver-side file commit) and one JVM literal append into a
    table. Every target may be a parquet path or a catalog table
    identifier (table_sink).

    The returned ``jit_ms`` and ``gc_ms`` are the JIT compile and GC
    milliseconds the driver JVM spent during the batch
    (``session.jvm_time_ms``, read before the anti-join is planned and
    after the lineage row): the whole engine in local mode, only the
    driver on a cluster."""
    jit0, gc0 = jvm_time_ms(spark)
    obs = Observation()
    results = observed(extract_documents(pending_work(spark, spans_df, results_dir)), obs)
    table_sink.append_batch(results, results_dir, batch_id)
    m = obs.get
    docs, media, errors = m["docs"], int(m["media"] or 0), int(m["errors"] or 0)
    if docs and outputs:
        batch = table_sink.load(spark, results_dir).filter(F.col("batch_id") == batch_id)
        for target, derive in outputs.items():
            table_sink.append_batch(derive(batch), target, batch_id)
    if docs:
        table_sink.append_row(spark, (batch_id, docs, media, errors, m["min_doc"], m["max_doc"]),
                              LINEAGE_SCHEMA, lineage_dir)
    jit1, gc1 = jvm_time_ms(spark)
    return {"batch_id": batch_id, "docs": docs, "media": media, "errors": errors,
            "jit_ms": jit1 - jit0, "gc_ms": gc1 - gc0}
