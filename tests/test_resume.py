"""Checkpoint/lineage resume protocol (SURVEY §2.1 S8 / §2.3 J3):
kill-and-restart must converge to the same table a single run makes."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from handprint_spark.corpus import load_documents_spans
from handprint_spark.operators.extract import extract_documents
from handprint_spark.sources.checkpoints import pending_work, run_batch


@pytest.fixture()
def dirs():
    d = tempfile.mkdtemp(prefix="hp_resume_")
    yield f"{d}/results", f"{d}/lineage"
    shutil.rmtree(d, ignore_errors=True)


def _spans(spark, sf_tiny):
    return load_documents_spans(spark, sf_tiny).limit(120).cache()


def test_partial_then_resume_equals_single_run(spark, sf_tiny, dirs):
    results_dir, lineage_dir = dirs
    spans = _spans(spark, sf_tiny)

    # "crashed" first run: only 50 docs got through
    partial = spans.limit(50)
    m1 = run_batch(spark, partial, results_dir, lineage_dir, batch_id=0)
    assert m1["docs"] == 50

    # resume over the full input: only the missing docs are processed
    assert pending_work(spark, spans, results_dir).count() == spans.count() - 50
    m2 = run_batch(spark, spans, results_dir, lineage_dir, batch_id=1)
    assert m2["docs"] == spans.count() - 50

    # idempotence: a third run finds nothing to do
    m3 = run_batch(spark, spans, results_dir, lineage_dir, batch_id=2)
    assert m3["docs"] == 0

    # resumed table == fresh single-run table, span for span
    resumed = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in spark.read.parquet(results_dir).collect()
    }
    fresh = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in extract_documents(spans).collect()
    }
    assert resumed == fresh


def test_catalog_table_sink_resume(spark, sf_tiny):
    """Same protocol against catalog TABLE identifiers (the Iceberg
    path on a cluster; the built-in session catalog here): writeTo
    create-then-append, anti-join against the table, idempotent."""
    # the in-memory catalog forgets tables between sessions but their
    # warehouse files persist — clear both metadata AND files
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("hp_results_t", "hp_lineage_t"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    try:
        spans = _spans(spark, sf_tiny)
        m1 = run_batch(spark, spans.limit(30), "hp_results_t", "hp_lineage_t", batch_id=0)
        assert m1["docs"] == 30
        m2 = run_batch(spark, spans, "hp_results_t", "hp_lineage_t", batch_id=1)
        assert m2["docs"] == spans.count() - 30
        m3 = run_batch(spark, spans, "hp_results_t", "hp_lineage_t", batch_id=2)
        assert m3["docs"] == 0
        assert spark.read.table("hp_results_t").count() == spans.count()
        lineage = spark.read.table("hp_lineage_t")
        assert lineage.groupBy().sum("n_docs").collect()[0][0] == spans.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS hp_results_t")
        spark.sql("DROP TABLE IF EXISTS hp_lineage_t")


def test_run_batch_never_rescans_results_sink(spark, sf_tiny, dirs, monkeypatch):
    """Steady-state I/O contract: after the initial pending_work
    anti-join scan, run_batch must not read the results sink again
    (the old implementation re-read the whole growing table twice per
    batch to derive lineage + metrics)."""
    from handprint_spark.sources import checkpoints, table_sink

    results_dir, lineage_dir = dirs
    spans = _spans(spark, sf_tiny)
    run_batch(spark, spans.limit(40), results_dir, lineage_dir, batch_id=0)

    loads = []
    orig = table_sink.load

    def counting_load(s, target):
        loads.append(target)
        return orig(s, target)

    monkeypatch.setattr(checkpoints.table_sink, "load", counting_load)
    run_batch(spark, spans, results_dir, lineage_dir, batch_id=1)
    # exactly one sink read: the pending_work anti-join
    assert loads == [results_dir]


def test_lineage_metrics(spark, sf_tiny, dirs):
    """One lineage row per batch, equal to the aggregates of that
    batch's results rows; a zero-doc batch writes no row."""
    results_dir, lineage_dir = dirs
    spans = _spans(spark, sf_tiny)
    m7 = run_batch(spark, spans.limit(45), results_dir, lineage_dir, batch_id=7)
    m8 = run_batch(spark, spans, results_dir, lineage_dir, batch_id=8)
    m9 = run_batch(spark, spans, results_dir, lineage_dir, batch_id=9)
    assert (m7["docs"], m8["docs"], m9["docs"]) == (45, spans.count() - 45, 0)
    lineage = spark.read.parquet(lineage_dir).collect()
    assert sorted(r.batch_id for r in lineage) == [7, 8]
    per_batch = {
        r.batch_id: r
        for r in spark.read.parquet(results_dir)
        .groupBy("batch_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_media").alias("n_media"),
            F.sum("n_errors").alias("n_errors"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .collect()
    }
    for r in lineage:
        exp = per_batch[r.batch_id]
        assert (r.n_docs, r.n_media, r.n_errors, r.min_doc, r.max_doc) == (
            exp.n_docs, exp.n_media, exp.n_errors, exp.min_doc, exp.max_doc
        )
    assert {r.batch_id: r.n_docs for r in lineage} == {7: m7["docs"], 8: m8["docs"]}


def test_curation_run_is_resumable(spark, sf_tiny, tmp_path):
    """A partial curation run + a full run converge to exactly the full
    keep list (no duplicates, nothing missing); the second full run
    appends zero rows; lineage accounts for every kept doc."""
    from handprint_spark.operators.curation import (
        q_cur_keep_list,
        run_curation_batch,
    )
    from handprint_spark.sources import table_sink

    keep_dir = str(tmp_path / "keep")
    lineage_dir = str(tmp_path / "lineage")

    full = {r.doc_id for r in q_cur_keep_list(spark, sf_tiny).collect()}
    assert full

    # simulate a partial first run: pre-seed the sink with half the list
    half = sorted(full)[: len(full) // 2]
    seed = (
        q_cur_keep_list(spark, sf_tiny)
        .filter(F.col("doc_id").isin(half))
        .withColumn("batch_id", F.lit(0))
        .withColumn("partition_id", F.lit(0))
    )
    table_sink.append(seed, keep_dir)

    m1 = run_curation_batch(spark, sf_tiny, keep_dir, lineage_dir, batch_id=1)
    assert m1["kept"] == len(full) - len(half)

    got = [r.doc_id for r in table_sink.load(spark, keep_dir).collect()]
    assert sorted(got) == sorted(full)  # no dupes, nothing missing

    m2 = run_curation_batch(spark, sf_tiny, keep_dir, lineage_dir, batch_id=2)
    assert m2["kept"] == 0
    got2 = [r.doc_id for r in table_sink.load(spark, keep_dir).collect()]
    assert sorted(got2) == sorted(full)
