"""Checkpoint/lineage resume protocol (SURVEY §2.1 S8 / §2.3 J3):
kill-and-restart must converge to the same table a single run makes."""

import glob
import re
import shutil
import tempfile

import pyarrow.parquet as pq
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


def test_run_batch_reports_driver_jvm_time(spark, sf_tiny, dirs):
    """run_batch returns the JIT and GC milliseconds the driver JVM
    spent on the batch, as non-negative ints."""
    results_dir, lineage_dir = dirs
    m = run_batch(spark, _spans(spark, sf_tiny).limit(20), results_dir, lineage_dir, batch_id=0)
    for key in ("jit_ms", "gc_ms"):
        assert type(m[key]) is int and m[key] >= 0, (key, m[key])


def test_catalog_table_sink_resume(spark, sf_tiny):
    """Same protocol against catalog TABLE identifiers (the Iceberg
    path on a cluster; the built-in session catalog here): writeTo
    create-then-append, anti-join against the table, idempotent; every
    batch's files are zstd parquet."""
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
        # the second batch appends through insertInto: it keeps the codec
        # the table was created with
        files = glob.glob(f"{warehouse}/hp_results_t/batch_id=1/*.parquet")
        codecs = {md.row_group(g).column(c).compression
                  for md in map(pq.read_metadata, files)
                  for g in range(md.num_row_groups) for c in range(md.num_columns)}
        assert files and codecs == {"ZSTD"}, codecs
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


def test_run_batch_is_one_spark_job(spark, sf_tiny, tmp_path):
    """Into a fresh path sink one run_batch launches exactly one Spark
    job of one stage (extraction and results write), so its Python
    tasks run in that one stage; the lineage row is a driver-side file
    commit that reads back with LINEAGE_SCHEMA."""
    from pyspark.sql.types import StructType

    from handprint_spark.sources.checkpoints import LINEAGE_SCHEMA

    inp, results_dir, lineage_dir = (str(tmp_path / d) for d in ("in", "results", "lineage"))
    _spans(spark, sf_tiny).limit(40).write.parquet(inp)
    spans = spark.read.parquet(inp)
    sc = spark.sparkContext
    sc.setJobGroup("hp-one-batch", "one run_batch")
    try:
        m = run_batch(spark, spans, results_dir, lineage_dir, batch_id=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup("hp-one-batch"))
    assert len(jobs) == 1, jobs
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1

    lineage = spark.read.parquet(lineage_dir)
    assert lineage.schema == StructType.fromDDL(LINEAGE_SCHEMA)
    (row,) = lineage.collect()
    assert (row.batch_id, row.n_docs, row.n_media, row.n_errors) == (
        3, 40, m["media"], m["errors"])
    visible = [p.name for p in (tmp_path / "lineage").iterdir()
               if not p.name.startswith((".", "_"))]
    assert len(visible) == 1 and re.fullmatch(r"part-[0-9a-f-]{36}\.parquet", visible[0])


def test_load_of_missing_sink_reads_nothing(spark, tmp_path, monkeypatch):
    """A missing path, a directory holding only a crashed write's
    ``_temporary``, and a missing table all load as None without
    spark.read being called."""
    from pyspark.sql import SparkSession

    from handprint_spark.sources import table_sink

    (tmp_path / "crashed" / "_temporary").mkdir(parents=True)

    def no_read(self):
        raise AssertionError("spark.read called for a missing sink")

    monkeypatch.setattr(SparkSession, "read", property(no_read))
    assert table_sink.load(spark, str(tmp_path / "missing")) is None
    assert table_sink.load(spark, str(tmp_path / "crashed")) is None
    assert table_sink.load(spark, "hp_missing_table") is None


@pytest.mark.parametrize("kind", ["path", "table"])
def test_next_batch_drops_uncommitted_batches(spark, sf_tiny, tmp_path, kind):
    """next_batch returns the id after the last lineage row and first
    drops that batch and every later one from each sink, on a path
    (directory delete) and on a catalog table (partition drop)."""
    from handprint_spark.sources import table_sink
    from handprint_spark.sources.checkpoints import next_batch

    if kind == "path":
        results, lineage = str(tmp_path / "results"), str(tmp_path / "lineage")
    else:
        results, lineage = "hp_results_nb", "hp_lineage_nb"
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        for t in (results, lineage):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    try:
        spans = _spans(spark, sf_tiny)
        assert next_batch(spark, lineage, results) == 0
        run_batch(spark, spans.limit(20), results, lineage, batch_id=0)
        committed = table_sink.load(spark, results).count()
        # batches 1 and 2 reached the results sink but wrote no lineage row
        for b in (1, 2):
            table_sink.append_batch(extract_documents(spans.limit(10 * b)), results, b)
        assert table_sink.load(spark, results).count() == committed + 30
        assert next_batch(spark, lineage, results) == 1
        assert [r.batch_id for r in table_sink.load(spark, results).select("batch_id").distinct().collect()] == [0]
        assert table_sink.load(spark, results).count() == committed == 20
    finally:
        if kind == "table":
            spark.sql(f"DROP TABLE IF EXISTS {results}")
            spark.sql(f"DROP TABLE IF EXISTS {lineage}")
