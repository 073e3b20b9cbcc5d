"""Driver-verifiable Structured Streaming queries — stream/batch
parity as a machine-checked contract, not a pytest claim.

Each callable here stages the scale-factor ``documents`` table as a
file-stream source (a symlink into a temp directory — Spark's file
source requires a directory, and a symlink stages a 100 GB table in
O(1)), runs the SAME shared projection its batch twin uses under
``Trigger.AvailableNow`` into a parquet sink, and returns the sink
read back as a batch DataFrame. Every entry's oracle IS the batch
oracle: a green driver row therefore certifies that the streaming
form of the stage computes byte-identically to the batch form on the
same input — the property that makes continuous ingest and nightly
batch interchangeable writers of one table (reference behavior:
Handprint's ``-j`` reuse protocol, manager.py:281-285, generalized to
a streaming sink; SURVEY.md §2.10).

Scale notes: the staged source and parquet sink are exactly the
production shape (readStream over an object-store prefix, exactly-once
file sink via the streaming commit log); ``AvailableNow`` is the
backfill trigger a real pipeline uses to drain a table through the
identical code path the 24/7 stream runs. The stateless gates
(normalize / quality / main-content) are single narrow projections —
no watermark, no state store, no shuffle — so their streaming plans
are the batch plans verbatim. The full extraction query additionally
exercises the checkpoint/lineage protocol per micro-batch
(sources/checkpoints.run_batch): anti-join → extract → append results
→ append lineage, the resumable-run contract of SURVEY.md §2.1 S8.

The temp staging/sink directories are intentionally NOT deleted here:
the returned DataFrame reads the sink lazily, and the driver collects
it after this callable returns. They live under the system tempdir
with a recognizable prefix and are bytes-small at verification scale.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from .pipeline import (
    stream_clf_gate,
    stream_decontaminate,
    stream_event_counts,
    stream_first_seen,
    stream_incremental_dedup,
    stream_main_content,
    stream_normalize,
    stream_quality_gate,
    stream_sessionize,
    stream_to_results,
)


def _stage_documents(sf_dir: str, name: str) -> str:
    """Symlink the sf documents table into a fresh temp dir so the
    file-stream source (which requires a directory) can list it."""
    d = tempfile.mkdtemp(prefix=f"hp_stq_{name}_")
    src = os.path.join(d, "src")
    os.makedirs(src)
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, "documents.parquet")),
        os.path.join(src, "documents.parquet"),
    )
    return d


def _drain_to_parquet(spark: SparkSession, stream_df: DataFrame, d: str) -> DataFrame:
    """Run an unstarted streaming DataFrame to completion under
    Trigger.AvailableNow into a parquet file sink (exactly-once via
    the streaming commit log) and return the sink as a batch frame."""
    out = os.path.join(d, "out")
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out)


def q_st_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-time quality gate drained over the sf corpus;
    oracle = the batch ``ta_quality`` SQL (shared projection:
    text_analysis.quality_verdicts)."""
    d = _stage_documents(sf_dir, "quality")
    return _drain_to_parquet(spark, stream_quality_gate(spark, os.path.join(d, "src")), d)


def q_st_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming unicode/text normalization head drained over the sf
    corpus; oracle = the batch ``ta_normalize`` SQL (shared
    projection: text_analysis.normalize_verdicts)."""
    d = _stage_documents(sf_dir, "normalize")
    return _drain_to_parquet(spark, stream_normalize(spark, os.path.join(d, "src")), d)


def q_st_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming main-content extraction drained over the sf corpus;
    oracle = the batch ``hx_main_content`` SQL (shared projection:
    html_extract.main_content ∘ htmlized)."""
    d = _stage_documents(sf_dir, "maincontent")
    return _drain_to_parquet(spark, stream_main_content(spark, os.path.join(d, "src")), d)


def q_st_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL streaming extraction pipeline drained over the sf
    corpus through the batch checkpoint/lineage protocol (every
    micro-batch runs sources/checkpoints.run_batch: anti-join →
    spanify → extract → append results → append lineage), then the
    results sink read back and projected to the flagship output shape
    (doc_id, reading-order OCR text, n_media, n_errors). Oracle = the
    flagship closed-form SQL — the streaming writer must land rows
    indistinguishable from the batch engine's."""
    from ..operators.extract import extracted_text
    from ..sources import table_sink

    d = _stage_documents(sf_dir, "extract")
    results_dir = os.path.join(d, "results")
    lineage_dir = os.path.join(d, "lineage")
    writer = stream_to_results(
        spark,
        os.path.join(d, "src"),
        results_dir,
        lineage_dir,
        os.path.join(d, "ckpt"),
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    results = table_sink.load(spark, results_dir)
    return extracted_text(results, kinds=("ocr",)).select(
        "doc_id", "text", "n_media", "n_errors"
    )


def q_st_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATEFUL streaming shape under the oracle gate: watermarked
    event-time tumbling-window counts (streaming/pipeline.
    stream_event_counts — withWatermark 15 min, 10-min windows, append
    mode) drained over the sf events table. Append mode emits a window
    only once the watermark passes its end, so the drained output is
    exactly the windows with ``window_end <= max(ts) - 15 min`` — the
    one window still open when the stream drains stays in state and is
    withheld. That eviction rule IS the oracle (closed-form SQL over
    the same table), so a green driver row machine-checks the
    watermark/late-data semantics themselves, not just the arithmetic.

    Boundary verified empirically (tests/test_streaming_queries.py):
    eviction is ``window_end <= watermark`` (a window whose end equals
    the watermark IS emitted), and Spark computes the watermark from
    the max event time floored to MILLISECONDS — the oracle compares
    in ms to match. Epochs (not timestamps) cross the compare so no
    timezone convention is in the loop — same convention as the batch
    ``time_bucket_agg`` oracle."""
    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="hp_stq_events_")
    src = os.path.join(d, "src")
    os.makedirs(src)
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, "events.parquet")),
        os.path.join(src, "events.parquet"),
    )
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = spark.readStream.schema(schema).parquet(src)
    drained = _drain_to_parquet(spark, stream_event_counts(spark, stream), d)
    return drained.select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        F.unix_timestamp("window_end").alias("window_end_epoch"),
        "event_type",
        "n_events",
        "total_value",
    )


def q_st_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-ingest near-dup gate drained through TWO ordered
    micro-batches: batch 0 is the even-doc_id half of the corpus
    (probed against an empty index — all accepted, its bands appended),
    batch 1 the odd half probed against the even index. That is
    exactly the batch ``dd_incremental`` scenario, so its oracle
    (SQL_DD_INCREMENTAL) certifies the STREAMING path end-to-end:
    foreachBatch, the grows-as-you-go partitioned index, the
    partition-pruned prior-batch probe, and dynamic-overwrite replay
    idempotence all sit between the source and the verdict rows being
    compared.

    Batch order is pinned by file modification times (Spark's file
    source processes oldest-first under maxFilesPerTrigger=1), set
    explicitly — not by write timing."""
    import shutil

    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="hp_stq_incdedup_")
    src = os.path.join(d, "src")
    os.makedirs(src)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def _stage_half(parity: int, name: str, mtime: int) -> None:
        tmp = os.path.join(d, f"half{parity}")
        docs.filter(F.col("doc_id") % 2 == parity).coalesce(1).write.parquet(tmp)
        part = next(
            (p for p in os.listdir(tmp) if p.endswith(".parquet")), None
        )
        if part is None:  # empty half = no part file: name the real problem
            raise ValueError(
                f"st_incremental_dedup: no doc_id with parity {parity} in {sf_dir}"
            )
        dst = os.path.join(src, name)
        shutil.move(os.path.join(tmp, part), dst)
        os.utime(dst, (mtime, mtime))

    _stage_half(0, "batch0.parquet", 1_000_000)
    _stage_half(1, "batch1.parquet", 2_000_000)
    writer = stream_incremental_dedup(
        spark,
        src,
        os.path.join(d, "index"),
        os.path.join(d, "verdicts"),
        os.path.join(d, "ckpt"),
        schema=docs.schema,
        max_files_per_trigger=1,
    )
    writer.trigger(availableNow=True).start().awaitTermination()
    return (
        spark.read.parquet(os.path.join(d, "verdicts"))
        .filter(F.col("ingest_batch") == 1)
        .select("doc_id", "dup_of_index")
    )


SQL_ST_EVENT_COUNTS = """
WITH w AS (
  SELECT CAST(epoch(to_timestamp(floor(epoch(ts) / 600) * 600)) AS BIGINT)
           AS window_start_epoch,
         event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM events GROUP BY 1, 2
), mx AS (SELECT epoch_ms(max(ts)) AS max_ms FROM events)
SELECT window_start_epoch,
       window_start_epoch + 600 AS window_end_epoch,
       event_type, n_events, total_value
FROM w, mx
WHERE (window_start_epoch + 600) * 1000 <= max_ms - 900000
"""


def q_st_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState custom stateful operator under the
    oracle gate: gap sessionization (streaming/pipeline.
    stream_sessionize — keyed O(1) open-session state, event-time
    timeout) drained over the sf events table. A single-batch drain
    emits every session closed by an IN-BATCH gap plus, via the final
    no-data micro-batch's timeout sweep, each user's still-open LAST
    session iff the final watermark strictly passed its timeout:
    (last_event + gap) * 1000 < max_ms - delay_ms. That closed-form
    rule is the oracle, so the driver row machine-checks the
    event-time-timeout semantics of the custom operator — in-batch
    closure, state carry, and watermark eviction together.

    Boundary facts pinned by planted-data tests
    (tests/test_streaming_queries.py): timeout eviction is STRICT
    (a session whose timeout equals the final watermark is withheld)
    — the opposite convention from the built-in window aggregation's
    <= — and both sides compare in milliseconds."""
    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="hp_stq_sessionize_")
    src = os.path.join(d, "src")
    os.makedirs(src)
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, "events.parquet")),
        os.path.join(src, "events.parquet"),
    )
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "15 minutes")
    )
    return _drain_to_parquet(spark, stream_sessionize(stream), d)


def q_st_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-dedup custom stateful operator drained over the sf
    corpus: one (h, doc_id, n_chars) row per distinct md5(text), the
    emitted doc being the batch's deterministic first (smallest doc_id
    under the (len, str) order — numeric order for digit ids). In a
    single-batch drain that is exactly the batch ``dd_exact`` keeper
    rule, so the oracle is closed-form SQL over documents; what the
    green row certifies is the applyInPandasWithState NoTimeout path:
    keyed state creation, cross-chunk group iteration, and
    emit-once-per-key."""
    d = _stage_documents(sf_dir, "firstseen")
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    stream = spark.readStream.schema(schema).parquet(os.path.join(d, "src"))
    return _drain_to_parquet(spark, stream_first_seen(stream), d)


def q_st_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-time benchmark-decontamination gate drained over the
    sf corpus: the eval slice's distinct gram set is broadcast once,
    every streamed train doc gets a stateless Arrow-scored verdict.
    Oracle = the batch ``dd_contamination`` SQL; the drain's ``keep``
    flag is the negation of the batch ``contaminated`` flag
    (keep = contam_frac < threshold, pytest-pinned in test_streaming),
    so the projection maps it back for the compare."""
    from pyspark.sql import functions as F

    d = _stage_documents(sf_dir, "decontaminate")
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    stream = spark.readStream.schema(schema).parquet(os.path.join(d, "src"))
    drained = _drain_to_parquet(spark, stream_decontaminate(spark, stream, sf_dir), d)
    return drained.select(
        "doc_id",
        "n_grams",
        "n_hit",
        "contam_frac",
        (~F.col("keep")).alias("contaminated"),
    )


SQL_ST_FIRST_SEEN = """
SELECT md5(text) AS h,
       CAST(min(doc_id) AS VARCHAR) AS doc_id,
       CAST(min(length(text)) AS INT) AS n_chars
FROM documents GROUP BY md5(text)
"""


def _sql_st_sessionize() -> str:
    from ..operators.relational import SESSION_GAP_SEC

    return f"""
WITH g AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
               OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT
                  > {SESSION_GAP_SEC}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM g
),
sess AS (
  SELECT user_id, session_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,
         CAST(floor(epoch(max(ts))) AS BIGINT) AS end_epoch,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM s GROUP BY user_id, session_id
),
lastsess AS (SELECT user_id, max(session_id) AS last_sid FROM sess GROUP BY user_id),
mx AS (SELECT epoch_ms(max(ts)) AS max_ms FROM events)
SELECT user_id, start_epoch, end_epoch, n_events, total_value
FROM sess JOIN lastsess USING (user_id), mx
WHERE session_id <> last_sid
   OR (end_epoch + {SESSION_GAP_SEC}) * 1000 < max_ms - 900000
"""


def q_st_clf_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming TRAINED-classifier gate drained over the sf corpus:
    the model trains offline on the batch corpus (train_linear_clf's
    session memo — the same weights every batch consumer ships), then
    the stream scores under those weights via the shared zero-shuffle
    fold. Oracle = the batch ``ta_hash_score_trained`` SQL, which
    replays the GD rounds AND the posting-table dot product — a green
    row certifies train→deploy→ingest end-to-end against an engine
    that saw none of the Spark code."""
    from ..operators.text_analysis import train_linear_clf

    w = train_linear_clf(spark, sf_dir)
    d = _stage_documents(sf_dir, "clfgate")
    return _drain_to_parquet(
        spark, stream_clf_gate(spark, os.path.join(d, "src"), w), d
    )


def q_st_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-time PII scrub drained over the sf corpus;
    oracle = the batch ``ta_pii_redact`` SQL (shared projection:
    text_analysis.pii_verdicts) — the compliance gate that must run
    before anything lands in the lake, certified identical in its
    streaming and batch forms."""
    from .pipeline import stream_pii_redact

    d = _stage_documents(sf_dir, "pii")
    return _drain_to_parquet(spark, stream_pii_redact(spark, os.path.join(d, "src")), d)


def q_st_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-time C4 cleaning gate drained over the sf
    corpus; oracle = the batch ``ta_c4_rules`` SQL (shared
    projection: text_analysis.c4_verdicts)."""
    from .pipeline import stream_c4_rules

    d = _stage_documents(sf_dir, "c4")
    return _drain_to_parquet(spark, stream_c4_rules(spark, os.path.join(d, "src")), d)


def _oracles() -> dict:
    from ..operators.dedup import SQL_DD_CONTAMINATION, SQL_DD_INCREMENTAL
    from ..operators.html_extract import SQL_HX_MAIN_CONTENT
    from ..operators.service_fanout import _sql_flagship_skew
    from ..operators.text_analysis import (
        SQL_TA_C4_RULES,
        SQL_TA_HASH_SCORE_TRAINED,
        SQL_TA_NORMALIZE,
        SQL_TA_QUALITY,
        _sql_ta_pii,
    )

    return {
        "st_pii_redact": _sql_ta_pii(),
        "st_c4_rules": SQL_TA_C4_RULES,
        "st_clf_gate": SQL_TA_HASH_SCORE_TRAINED,
        "st_quality_gate": SQL_TA_QUALITY,
        "st_normalize": SQL_TA_NORMALIZE,
        "st_main_content": SQL_HX_MAIN_CONTENT,
        "st_extract": _sql_flagship_skew(),
        "st_event_counts": SQL_ST_EVENT_COUNTS,
        "st_incremental_dedup": SQL_DD_INCREMENTAL,
        "st_sessionize": _sql_st_sessionize(),
        "st_first_seen": SQL_ST_FIRST_SEEN,
        "st_decontaminate": SQL_DD_CONTAMINATION,
    }


QUERIES = {
    "st_clf_gate": q_st_clf_gate,
    "st_quality_gate": q_st_quality_gate,
    "st_normalize": q_st_normalize,
    "st_main_content": q_st_main_content,
    "st_extract": q_st_extract,
    "st_event_counts": q_st_event_counts,
    "st_incremental_dedup": q_st_incremental_dedup,
    "st_sessionize": q_st_sessionize,
    "st_first_seen": q_st_first_seen,
    "st_decontaminate": q_st_decontaminate,
    "st_pii_redact": q_st_pii_redact,
    "st_c4_rules": q_st_c4_rules,
}

ORACLES = _oracles()
