"""Checkpoint / lineage protocol — resumable extraction runs.

The reference's ``-j`` mode reuses prior per-(doc,service) JSON files
instead of re-calling services (manager.py:281-285, SURVEY.md §2.1 S8,
§2.3 J3). At cluster scale that becomes:

    work list  =  input spans table  ANTI JOIN  results table (doc_id)
    lineage    =  one row per batch: doc/media/error counts + doc range

so a re-run after any failure processes exactly the missing documents
and appends — no partial-document state is possible because one doc is
one row end-to-end (the pipeline is a pure per-row function).

On a real cluster both writes are a single Iceberg transaction
(results append + lineage append committed atomically; a crashed batch
leaves no committed rows and the anti-join re-selects its docs). The
parquet stand-in here writes results first, lineage second; the
anti-join is against *results*, so a crash between the two writes can
only lose lineage rows, never duplicate results. The lineage row is
built on the driver from the metrics the results append observed, so a
batch is one extraction job plus its two writes; a batch with no
documents writes no lineage row.

Determinism makes resume exact: a re-extracted doc produces
byte-identical spans (X9 purity), so resumed-and-restarted tables are
equal as sets — asserted by tests/test_resume.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_documents, observed
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


def run_batch(
    spark: SparkSession,
    spans_df: DataFrame,
    results_dir: str,
    lineage_dir: str,
    batch_id: int,
) -> dict:
    """One resumable batch: anti-join → extract → append results →
    append the batch's lineage row. Returns batch metrics.

    Steady-state I/O contract (the shape that must hold at 10^12
    rows): ONE read of the input, ONE write of results, at most ONE
    write of lineage, ZERO reads of the (ever-growing) results table. The
    lineage and the returned metrics come from an ``Observation`` on
    the results append itself, so the batch runs the plan once.
    ``results_dir``/``lineage_dir`` may be parquet paths or catalog
    table identifiers (table_sink) — with an Iceberg catalog the two
    appends become one atomic transaction."""
    obs = Observation()
    results = observed(
        extract_documents(pending_work(spark, spans_df, results_dir))
        .withColumn("batch_id", F.lit(batch_id))
        .withColumn("partition_id", F.spark_partition_id()),
        obs,
    )
    table_sink.append(results, results_dir)
    m = obs.get
    docs, media, errors = m["docs"], int(m["media"] or 0), int(m["errors"] or 0)
    if docs:
        lineage = spark.createDataFrame(
            [(batch_id, docs, media, errors, m["min_doc"], m["max_doc"])], LINEAGE_SCHEMA
        )
        table_sink.append(lineage, lineage_dir)
    return {"batch_id": batch_id, "docs": docs, "media": media, "errors": errors}
