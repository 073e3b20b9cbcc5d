"""Structured Streaming surface: streaming extraction equals the batch
pipeline on the same input; watermarked windowed aggregation equals
the batch groupBy."""

import glob
import os
import shutil
import tempfile
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from handprint_spark.corpus import load_documents_spans
from handprint_spark.operators.extract import extract_documents
from handprint_spark.streaming.pipeline import stream_documents, stream_event_counts


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="hp_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_extract_equals_batch(spark, sf_tiny, tmpdir):
    # stage the source as several files so multiple triggers fire
    src = f"{tmpdir}/src"
    docs = spark.read.parquet(f"{sf_tiny}/documents.parquet").limit(60)
    docs.repartition(3).write.parquet(src)

    stream = stream_documents(spark, src, max_files_per_trigger=1)
    q = (
        stream.selectExpr("doc_id", "to_json(spans) AS spans_json", "n_media", "n_errors")
        .writeStream.format("memory")
        .queryName("stream_results")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.doc_id: (r.spans_json, r.n_media, r.n_errors)
        for r in spark.sql("select * from stream_results").collect()
    }
    batch = extract_documents(
        spark.createDataFrame(docs.rdd, docs.schema).transform(
            lambda df: __import__("handprint_spark.corpus", fromlist=["spanify"]).spanify(df)
        )
    )
    expected = {
        r.doc_id: (r.spans_json, r.n_media, r.n_errors)
        for r in batch.selectExpr(
            "doc_id", "to_json(spans) AS spans_json", "n_media", "n_errors"
        ).collect()
    }
    assert got == expected


def test_windowed_counts_with_watermark(spark, sf_tiny, tmpdir):
    src = f"{tmpdir}/events"
    events = spark.read.parquet(f"{sf_tiny}/events.parquet")
    events.repartition(2).write.parquet(src)

    stream = (
        spark.readStream.schema(events.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream_event_counts(spark, stream)
        .writeStream.format("memory")
        .queryName("stream_windows")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdir}/ckpt2")
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("select * from stream_windows").collect()
    }
    expected = {
        (r.ws, r.event_type): (r.n_events, r.total_value)
        for r in events.groupBy(
            F.window("ts", "10 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .selectExpr("w.start AS ws", "event_type", "n_events", "total_value")
        .collect()
    }
    assert got == expected


def test_stream_to_results_checkpoint_protocol(spark, sf_tiny, tmpdir):
    """Streaming ingestion writes through the SAME run_batch protocol
    as batch mode: results equal a one-shot batch extraction; a second
    stream run over the same source (fresh stream checkpoint, so every
    file is re-delivered) appends nothing — the doc_id anti-join alone
    provides idempotence."""
    from handprint_spark.streaming.pipeline import stream_to_results

    src = f"{tmpdir}/src"
    results_dir, lineage_dir = f"{tmpdir}/results", f"{tmpdir}/lineage"
    docs = spark.read.parquet(f"{sf_tiny}/documents.parquet").limit(50)
    docs.repartition(2).write.parquet(src)

    q = stream_to_results(
        spark, src, results_dir, lineage_dir, checkpoint_dir=f"{tmpdir}/ck"
    ).trigger(availableNow=True).start()
    q.awaitTermination(180)

    got = spark.read.parquet(results_dir)
    assert got.count() == 50
    from handprint_spark.corpus import spanify
    from handprint_spark.operators.extract import extract_documents

    expected = {
        r.doc_id: r.sj
        for r in extract_documents(spanify(docs))
        .selectExpr("doc_id", "to_json(spans) AS sj")
        .collect()
    }
    assert {
        r.doc_id: r.sj for r in got.selectExpr("doc_id", "to_json(spans) AS sj").collect()
    } == expected
    # lineage covered every batch's docs
    lineage = spark.read.parquet(lineage_dir)
    assert lineage.groupBy().sum("n_docs").collect()[0][0] == 50

    # replay with a FRESH stream checkpoint: anti-join idempotence
    q2 = stream_to_results(
        spark, src, results_dir, lineage_dir, checkpoint_dir=f"{tmpdir}/ck2"
    ).trigger(availableNow=True).start()
    q2.awaitTermination(180)
    assert spark.read.parquet(results_dir).count() == 50


def test_stream_to_results_continues_batch_ids(spark, sf_tiny, tmpdir):
    """A stream appending to a sink that a batch run already committed
    takes its batch id from the lineage, not from Structured
    Streaming's micro-batch id (which restarts at 0 with a new
    checkpoint): lineage ids stay unique and each results partition
    holds exactly one batch's documents, so a resume can drop an
    uncommitted micro-batch without touching a committed one."""
    from handprint_spark.corpus import spanify
    from handprint_spark.sources.checkpoints import run_batch
    from handprint_spark.streaming.pipeline import stream_to_results

    results_dir, lineage_dir = f"{tmpdir}/results", f"{tmpdir}/lineage"
    docs = spark.read.parquet(f"{sf_tiny}/documents.parquet").orderBy("doc_id").limit(40)
    first = docs.limit(20)
    rest = docs.join(first.select("doc_id"), "doc_id", "left_anti")
    run_batch(spark, spanify(first), results_dir, lineage_dir, batch_id=0)
    rest.coalesce(1).write.parquet(f"{tmpdir}/src")

    q = stream_to_results(
        spark, f"{tmpdir}/src", results_dir, lineage_dir, checkpoint_dir=f"{tmpdir}/ck"
    ).trigger(availableNow=True).start()
    q.awaitTermination(180)

    lineage = sorted(
        (r.batch_id, r.n_docs) for r in spark.read.parquet(lineage_dir).collect()
    )
    assert lineage == [(0, 20), (1, 20)]
    per_batch = {
        r.batch_id: (r.rows, r.docs)
        for r in spark.read.parquet(results_dir)
        .groupBy("batch_id")
        .agg(F.count("*").alias("rows"), F.countDistinct("doc_id").alias("docs"))
        .collect()
    }
    assert per_batch == {0: (20, 20), 1: (20, 20)}


def test_stateful_first_seen_dedup(spark, sf_tiny, tmpdir):
    """applyInPandasWithState: exactly one emission per distinct text
    hash across all microbatches, duplicates suppressed by keyed state."""
    from handprint_spark.streaming.pipeline import stream_first_seen

    src = f"{tmpdir}/dup_src"
    docs = spark.read.parquet(f"{sf_tiny}/documents.parquet").limit(40)
    # duplicate every doc's text under a shifted doc_id, split across
    # files so duplicates arrive in *different* microbatches
    dup = docs.selectExpr("doc_id + 100000 AS doc_id", "text")
    docs.select("doc_id", "text").write.parquet(src)
    dup.write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream_first_seen(stream)
        .writeStream.format("memory")
        .queryName("first_seen")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdir}/ckpt3")
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql("select * from first_seen").collect()
    n_distinct = docs.selectExpr("md5(cast(text as binary)) AS h").distinct().count()
    assert len(rows) == n_distinct
    assert len({r.h for r in rows}) == len(rows)  # one row per hash


def test_stream_sessionize_in_batch_and_cross_batch(spark, tmpdir):
    """Gap sessionization over a file stream: in-batch gaps close and
    emit sessions; an open session carries across triggers as keyed
    state and closes when the next file's events reveal the gap."""
    import pandas as pd

    from handprint_spark.streaming.pipeline import stream_sessionize

    def events(rows):
        return pd.DataFrame(
            [
                {
                    "event_id": i,
                    "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s),
                    "user_id": u,
                    "value": float(v),
                }
                for i, (u, s, v) in enumerate(rows)
            ]
        )

    src = f"{tmpdir}/sess_src"
    os.makedirs(src)
    # file A: user 1 session (0-20s); user 2 lone event at 5s
    events([(1, 0, 1.0), (1, 10, 2.0), (1, 20, 3.0), (2, 5, 9.0)]).to_parquet(
        f"{src}/a.parquet", coerce_timestamps="us"
    )
    time.sleep(1.1)  # distinct mtime => deterministic trigger order
    # file B: user 1 gap>100 closes session A, new session (200-210);
    # then another gap closes it at 500; user 2 gap closes the lone event
    events(
        [(1, 200, 4.0), (1, 210, 5.0), (1, 500, 6.0), (2, 400, 7.0)]
    ).to_parquet(f"{src}/b.parquet", coerce_timestamps="us")

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    q = (
        stream_sessionize(stream, gap_sec=100)
        .writeStream.format("memory")
        .queryName("stream_sessions")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdir}/sess_ckpt")
        .start()
    )
    q.awaitTermination(120)

    base = int(pd.Timestamp("2024-01-01").timestamp())
    got = {
        (r.user_id, r.start_epoch - base): (
            r.end_epoch - base,
            r.n_events,
            r.total_value,
        )
        for r in spark.sql("select * from stream_sessions").collect()
    }
    # closed sessions only; (1, 500) and (2, 400) stay open (no later
    # batch reveals their gap)
    assert got == {
        (1, 0): (20, 3, 6.0),     # closed across the file boundary
        (1, 200): (210, 2, 9.0),  # closed in-batch by the 500s event
        (2, 5): (5, 1, 9.0),      # closed in-batch by the 400s event
    }


def test_stream_decontaminate_matches_batch(spark, sf_tiny, tmpdir):
    """The streaming ingest gate emits exactly the batch
    dd_contamination verdicts (same fractions, same keep set)."""
    from handprint_spark.operators.dedup import (
        CONTAM_THRESHOLD,
        q_dd_contamination,
    )
    from handprint_spark.streaming.pipeline import stream_decontaminate

    src = f"{tmpdir}/decon_src"
    docs = spark.read.parquet(f"{sf_tiny}/documents.parquet")
    docs.repartition(2).write.parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_decontaminate(spark, stream, sf_tiny)
        .writeStream.format("memory")
        .queryName("stream_decon")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdir}/decon_ckpt")
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.doc_id: (r.n_grams, r.n_hit, r.contam_frac, r.keep)
        for r in spark.sql("select * from stream_decon").collect()
    }
    expected = {
        r.doc_id: (
            r.n_grams,
            r.n_hit,
            r.contam_frac,
            r.contam_frac < CONTAM_THRESHOLD,
        )
        for r in q_dd_contamination(spark, sf_tiny).collect()
    }
    assert got == expected


def test_stream_decontaminate_null_text_is_row_verdict(spark, sf_tiny, tmpdir):
    """A NULL text row must yield a zero-gram keep verdict, not abort
    the micro-batch (row-vs-job error policy; batch parity — the batch
    dd_contamination also survives NULL text)."""
    from handprint_spark.streaming.pipeline import stream_decontaminate

    src = f"{tmpdir}/decon_null_src"
    docs = spark.createDataFrame(
        [(1, None), (3, "a b c")], "doc_id bigint, text string"
    )
    docs.write.parquet(src)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        stream_decontaminate(spark, stream, sf_tiny)
        .writeStream.format("memory")
        .queryName("stream_decon_null")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdir}/decon_null_ckpt")
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.n_grams, r.contam_frac, r.keep)
        for r in spark.sql("select * from stream_decon_null").collect()
    }
    assert got[1] == (0, 0.0, True)


def test_stream_main_content_matches_batch(spark, sf_tiny, tmpdir):
    """The DOM-heuristic extractor is stateless, so the streaming and
    batch answers are identical row-for-row across micro-batches."""
    from handprint_spark.operators.html_extract import htmlized, main_content
    from handprint_spark.streaming.pipeline import stream_main_content

    src = f"{tmpdir}/src_html"
    docs = spark.read.parquet(f"{sf_tiny}/documents.parquet").limit(40)
    docs.repartition(4).write.parquet(src)

    q = (
        stream_main_content(spark, src, max_files_per_trigger=1)
        .writeStream.format("memory")
        .queryName("stream_mc")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdir}/ckpt_mc")
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.doc_id: (r.main_text, r.n_blocks, r.n_content_blocks, r.boiler_ratio)
        for r in spark.sql("select * from stream_mc").collect()
    }
    expected = {
        r.doc_id: (r.main_text, r.n_blocks, r.n_content_blocks, r.boiler_ratio)
        for r in main_content(htmlized(spark.read.parquet(src))).collect()
    }
    assert got == expected


def test_stream_quality_gate_matches_batch(spark, sf_tiny, tmpdir):
    """The quality gate is one stateless projection shared with the
    batch query, so streaming and batch verdicts are identical
    row-for-row across micro-batches."""
    from handprint_spark.operators.text_analysis import q_ta_quality
    from handprint_spark.streaming.pipeline import stream_quality_gate

    src = f"{tmpdir}/src_quality"
    docs = spark.read.parquet(f"{sf_tiny}/documents.parquet").limit(40)
    docs.repartition(4).write.parquet(src)

    q = (
        stream_quality_gate(spark, src, max_files_per_trigger=1)
        .writeStream.format("memory")
        .queryName("stream_quality")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdir}/ckpt_quality")
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.doc_id: (r.n_tokens, r.avg_token_len, r.stopword_ratio, r.passes_quality)
        for r in spark.sql("select * from stream_quality").collect()
    }
    batch = q_ta_quality(spark, sf_tiny)
    kept_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    expected = {
        r.doc_id: (r.n_tokens, r.avg_token_len, r.stopword_ratio, r.passes_quality)
        for r in batch.collect()
        if r.doc_id in kept_ids
    }
    assert got == expected
    assert any(v[3] for v in got.values())  # gate passes some docs


def test_stream_incremental_dedup_matches_sequential_batches(spark, tmpdir):
    """Two micro-batches through the streaming gate: batch 0 seeds the
    band index (no dups possible), batch 1's copies of batch-0 docs
    are flagged and its novel docs accepted; re-running a trigger's
    body with the same batch_id is idempotent (partition overwrite +
    prior-batch-only probe)."""
    import pandas as pd

    from handprint_spark.streaming.pipeline import stream_incremental_dedup

    LOREM = "alpha beta gamma delta epsilon zeta eta theta"
    NOVEL2 = "quick brown foxes jump over seven lazy rivers"
    NOVEL3 = "nine silver clouds drift past quiet mountain lakes"

    src = f"{tmpdir}/inc_src"
    os.makedirs(src)
    pd.DataFrame({"doc_id": [0, 2], "text": [LOREM, NOVEL3]}).to_parquet(
        f"{src}/a.parquet"
    )
    time.sleep(1.1)  # distinct mtime => deterministic trigger order
    pd.DataFrame(
        {"doc_id": [1, 3, 5], "text": [LOREM, NOVEL2, NOVEL3]}
    ).to_parquet(f"{src}/b.parquet")

    index_dir = f"{tmpdir}/inc_index"
    verdict_dir = f"{tmpdir}/inc_verdicts"
    q = (
        stream_incremental_dedup(
            spark,
            src,
            index_dir,
            verdict_dir,
            f"{tmpdir}/inc_ckpt",
            schema="doc_id long, text string",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    verdicts = spark.read.parquet(verdict_dir)
    got = {r.doc_id: (r.dup_of_index, r.ingest_batch) for r in verdicts.collect()}
    assert got == {
        0: (False, 0),
        2: (False, 0),
        1: (True, 1),   # copy of batch-0 doc 0
        3: (False, 1),  # novel
        5: (True, 1),   # copy of batch-0 doc 2
    }
    # index holds bands for ACCEPTED docs only (0, 2, 3)
    idx = spark.read.parquet(index_dir)
    assert set(r.doc_id for r in idx.select("doc_id").distinct().collect()) == {0, 2, 3}
    # both sinks write the table sink's codec
    for sink in (verdict_dir, index_dir):
        files = glob.glob(f"{sink}/**/*.parquet", recursive=True)
        codecs = {md.row_group(g).column(c).compression
                  for md in map(pq.read_metadata, files)
                  for g in range(md.num_row_groups) for c in range(md.num_columns)}
        assert files and codecs == {"ZSTD"}, (sink, codecs)

    # replay idempotence: re-running batch 1's body leaves both sinks
    # with identical contents (same verdicts, no band duplication)
    from handprint_spark.operators.dedup import incremental_dedup, minhash_band_posting
    from pyspark.sql import functions as F

    n_idx_before = idx.count()
    batch1 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 3, 5], "text": [LOREM, NOVEL2, NOVEL3]})
    )
    prior = spark.read.parquet(index_dir).filter(F.col("ingest_batch") < 1)
    replay = {
        r.doc_id: r.dup_of_index
        for r in incremental_dedup(batch1, prior).collect()
    }
    assert replay == {1: True, 3: False, 5: True}
    accepted = batch1.filter(batch1.doc_id.isin([3]))
    (
        minhash_band_posting(accepted)
        .withColumn("ingest_batch", F.lit(1))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(index_dir)
    )
    assert spark.read.parquet(index_dir).count() == n_idx_before


def test_stream_normalize_matches_batch(spark, sf_tiny, tmpdir):
    """The normalization head is stateless (NFC Arrow map + Catalyst
    regexps, zero shuffle), so the streaming and batch answers are
    identical row-for-row across micro-batches — the ingest-time form
    of the crawl-cleaning head stage."""
    from handprint_spark.operators.text_analysis import normalize_verdicts
    from handprint_spark.streaming.pipeline import stream_normalize

    src = f"{tmpdir}/src_norm"
    docs = spark.read.parquet(f"{sf_tiny}/documents.parquet").limit(40)
    docs.repartition(4).write.parquet(src)

    q = (
        stream_normalize(spark, src, max_files_per_trigger=1)
        .writeStream.format("memory")
        .queryName("stream_norm")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdir}/ckpt_norm")
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.doc_id: (r.norm_text, r.changed, r.n_chars_norm)
        for r in spark.sql("select * from stream_norm").collect()
    }
    expected = {
        r.doc_id: (r.norm_text, r.changed, r.n_chars_norm)
        for r in normalize_verdicts(spark.read.parquet(src)).collect()
    }
    assert got == expected


def test_stream_sessionize_out_of_order_and_decimal_parity(spark, tmpdir):
    """Two defects pinned at once. (1) A late-but-above-watermark
    event from a prior batch must EXTEND the open session with
    min/max, never rewind its gap base — the unconditional last=t
    closed sessions with end_epoch < start_epoch and split one real
    session in two. (2) total_value accumulates exact integer cents
    via the same shortest-repr HALF_UP rule as the batch query's
    decimal(18,2) cast: 0.125 -> 0.13 and 1.005 -> 1.01 (a float sum
    finished with Python banker's round gives 0.12, and the
    floor(v*100+0.5) idiom underflows 1.005 to 1.00)."""
    import pandas as pd

    from handprint_spark.streaming.pipeline import stream_sessionize

    def events(rows, start_id=0):
        return pd.DataFrame(
            [
                {
                    "event_id": start_id + i,
                    "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s),
                    "user_id": u,
                    "value": float(v),
                }
                for i, (u, s, v) in enumerate(rows)
            ]
        )

    src = f"{tmpdir}/sess_ooo_src"
    os.makedirs(src)
    events([(7, 1000, 0.125)]).to_parquet(f"{src}/a.parquet", coerce_timestamps="us")
    time.sleep(1.1)
    # batch B: t=900 arrives LATE (above the 600s watermark), then
    # 1060 (inside the gap only if last stayed 1000), then the closer
    events([(7, 900, 1.005), (7, 1060, 2.0), (7, 3000, 1.0)], 1).to_parquet(
        f"{src}/b.parquet", coerce_timestamps="us"
    )

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
        .withWatermark("ts", "600 seconds")
    )
    q = (
        stream_sessionize(stream, gap_sec=100)
        .writeStream.format("memory")
        .queryName("stream_sessions_ooo")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdir}/sess_ooo_ckpt")
        .start()
    )
    q.awaitTermination(120)

    base = int(pd.Timestamp("2024-01-01").timestamp())
    got = [
        (r.start_epoch - base, r.end_epoch - base, r.n_events, r.total_value)
        for r in spark.sql("select * from stream_sessions_ooo").collect()
    ]
    # ONE session spanning the late event, exact decimal total —
    # matches batch ev_sessionize over the same rows (gaps 100, 60)
    assert got == [(900, 1060, 3, 3.14)]


def test_stream_first_seen_null_text_is_row_verdict(spark, tmpdir):
    """A NULL text row must produce a first-seen verdict (n_chars 0),
    not a query-killing TypeError — errors.py's row-vs-job policy."""
    import pandas as pd

    from handprint_spark.streaming.pipeline import stream_first_seen

    src = f"{tmpdir}/fs_null_src"
    os.makedirs(src)
    pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["alpha", None, "alpha"]}
    ).to_parquet(f"{src}/a.parquet")

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        stream_first_seen(stream)
        .writeStream.format("memory")
        .queryName("fs_null")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdir}/fs_null_ckpt")
        .start()
    )
    q.awaitTermination(120)
    rows = {r.doc_id: r.n_chars for r in spark.sql("select * from fs_null").collect()}
    assert rows == {"1": 5, "2": 0}  # doc 3 deduped against 1; null is a row
