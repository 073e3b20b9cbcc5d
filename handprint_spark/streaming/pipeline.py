"""Structured Streaming ingest for the extraction engine.

The reference is a one-shot batch CLI (SURVEY.md §2.10 — no streaming
operators exist), so nothing here mirrors reference semantics; this is
the new engine's continuous-ingestion surface:

  * ``stream_documents``: file-source stream of documents parquet →
    the same spanify + extract stages (the batch pipeline is pure
    per-row, so it lifts to streaming unchanged) → sink via
    foreachBatch into the same results/lineage tables the batch
    checkpoint protocol uses. maxFilesPerTrigger is the streaming
    analog of the reference's per-service rate caps (X7).
  * ``stream_event_counts``: event-time windowed aggregation with
    watermarking — the late-data-correct rollup shape (10-minute
    tumbling windows, 15-minute watermark).

Both run on any sink; tests drive them with in-memory sinks and
``availableNow`` triggers so they terminate deterministically.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corpus import spanify
from ..operators.extract import extract_documents
from ..sources.table_sink import CODEC


def _read_doc_stream(
    spark: SparkSession,
    source_dir: str,
    schema=None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """The one definition of the documents file-stream source shared
    by every streaming stage: infer the schema from the staged parquet
    when not supplied, then readStream with bounded files/trigger. A
    source-staging change (new option, empty-dir handling) lands once
    here instead of drifting across the gates."""
    if schema is None:
        schema = spark.read.parquet(source_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def stream_documents(
    spark: SparkSession,
    source_dir: str,
    schema=None,
    max_files_per_trigger: int = 1,
):
    """readStream over a documents parquet directory → extracted
    results stream. Returns an unstarted streaming DataFrame."""
    stream = _read_doc_stream(spark, source_dir, schema, max_files_per_trigger)
    return extract_documents(spanify(stream))


def stream_to_results(
    spark: SparkSession,
    source_dir: str,
    results_dir: str,
    lineage_dir: str,
    checkpoint_dir: str,
    schema=None,
    max_files_per_trigger: int = 1,
):
    """Continuous ingestion into the SAME results/lineage tables the
    batch protocol writes: every micro-batch runs the full
    ``checkpoints.run_batch`` path (anti-join → spanify → extract →
    append results → append lineage) under the id
    ``checkpoints.next_batch`` gives, not Structured Streaming's
    micro-batch id (which restarts at 0 with every new checkpoint), so
    the lineage row stays each batch's one commit point and batch and
    streaming writers are interchangeable consumers of one sink.
    Exactly-once lands on two independent guards: Structured
    Streaming's checkpointLocation (no re-delivered files after
    restart) and the doc_id anti-join (a replayed micro-batch
    re-selects zero documents) — either alone suffices, together a
    crashed stream resumes exactly like a crashed batch run. Returns an unstarted DataStreamWriter; callers pick the
    trigger (tests use availableNow)."""
    from ..sources.checkpoints import next_batch, run_batch

    stream = _read_doc_stream(spark, source_dir, schema, max_files_per_trigger)

    def process(batch_df, _micro_batch_id: int):
        batch_id = next_batch(spark, lineage_dir, results_dir)
        run_batch(spark, spanify(batch_df), results_dir, lineage_dir, batch_id=batch_id)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def stream_first_seen(documents_stream: DataFrame) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): exact
    streaming dedup keyed by content hash. The first document carrying
    a given md5(text) is emitted; every later duplicate increments the
    keyed state and is suppressed. This is the streaming form of the
    batch ``dd_exact`` groupBy — state = one long per distinct hash,
    partitioned by the hash key exactly like the batch shuffle.

    Input: a streaming DataFrame with (doc_id, text). Output:
    (h, doc_id, n_chars) rows, one per first-seen hash.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("h", T.StringType()),
            T.StructField("doc_id", T.StringType()),
            T.StructField("n_chars", T.IntegerType()),
        ]
    )
    state_schema = T.StructType([T.StructField("seen", T.LongType())])

    def dedup(key, pdf_iter, state: GroupState):
        import pandas as pd

        seen = state.get[0] if state.exists else 0
        already_emitted = seen > 0
        # Deterministic first: the smallest doc_id across ALL Arrow
        # chunks of this batch's group (a group can span chunk
        # boundaries — arrow maxRecordsPerBatch — so a per-chunk min
        # would depend on chunking). Order key (len, str) sorts digit
        # ids numerically and any other ids deterministically.
        best = None
        for pdf in pdf_iter:
            if not already_emitted:
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    d = str(doc_id)
                    k = (len(d), d)
                    if best is None or k < best[0]:
                        # NULL text must be a row-level verdict, not a
                        # query-killing TypeError (errors.py policy;
                        # the decontaminate gate guards identically).
                        best = (k, d, int(len(text or "")))
            seen += len(pdf)
        state.update((seen,))
        first_rows = (
            [{"h": key[0], "doc_id": best[1], "n_chars": best[2]}]
            if best is not None
            else []
        )
        yield pd.DataFrame(first_rows, columns=["h", "doc_id", "n_chars"])

    keyed = documents_stream.select(
        F.md5(F.col("text").cast("binary")).alias("h"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("text"),
    )
    return keyed.groupBy("h").applyInPandasWithState(
        dedup, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_sessionize(events_stream: DataFrame, gap_sec: int | None = None) -> DataFrame:
    """Custom stateful operator: streaming gap sessionization — the
    continuous form of the batch ``ev_sessionize`` window query
    (operators/relational.py). Keyed state per user_id holds the open
    session (start, last, n, total); an in-batch or cross-batch gap
    > gap_sec closes and emits the session, and an EVENT-TIME timeout
    (watermark-driven) closes sessions whose user simply goes quiet —
    the case a batch window can only resolve by re-reading history.

    State is O(1) per active user; partitioning is the same
    hashpartitioning(user_id) the batch query shuffles on.

    Input: a streaming DataFrame with (ts, event_id, user_id, value)
    and a watermark already set on ts. Output (append-mode):
    (user_id, start_epoch, end_epoch, n_events, total_value), one row
    per CLOSED session.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.relational import SESSION_GAP_SEC

    gap = gap_sec if gap_sec is not None else SESSION_GAP_SEC

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("start_epoch", T.LongType()),
            T.StructField("end_epoch", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start", T.LongType()),
            T.StructField("last", T.LongType()),
            T.StructField("n", T.LongType()),
            # exact integer cents, NOT a running double: the batch
            # query sums per-value decimal(18,2) casts, and a binary
            # float accumulator finished with Python banker's round
            # diverges on .005 boundaries — the exact bug class this
            # module already guards twice (stream_event_counts,
            # stream_decontaminate).
            T.StructField("total_cents", T.LongType()),
        ]
    )

    def _cents(v: float) -> int:
        # Spark's double -> decimal(18,2) cast parses the double's
        # SHORTEST decimal representation and rounds HALF_UP; Python's
        # repr is the same shortest-round-trip string, so this matches
        # the batch cast digit-for-digit (floor(v*100+0.5) would NOT:
        # 1.005*100+0.5 underflows to 100.9999... and floors wrong).
        from decimal import ROUND_HALF_UP, Decimal

        return int(
            Decimal(repr(float(v))).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
            * 100
        )

    def sess(key, pdf_iter, state: GroupState):
        import pandas as pd

        uid = key[0]
        closed = []

        def close(s):
            closed.append(
                {
                    "user_id": uid,
                    "start_epoch": s[0],
                    "end_epoch": s[1],
                    "n_events": s[2],
                    "total_value": s[3] / 100.0,
                }
            )

        if state.hasTimedOut:
            if state.exists:
                close(state.get)
                state.remove()
            return iter([pd.DataFrame(closed)] if closed else [])

        cur = list(state.get) if state.exists else None
        # one sorted pass over ALL of this batch's events for the user
        # (a group can span Arrow chunks; per-chunk order is meaningless)
        ev = pd.concat(list(pdf_iter), ignore_index=True)
        ev = ev.sort_values(["ts", "event_id"])
        for ts, val in zip(ev["ts"], ev["value"]):
            t = int(ts.timestamp())
            if cur is None:
                cur = [t, t, 1, _cents(val)]
            elif t - cur[1] > gap:
                close(cur)
                cur = [t, t, 1, _cents(val)]
            else:
                # A late-but-above-watermark event from a PRIOR batch
                # may precede the open session's bounds: extend with
                # min/max, never rewind (an unconditional last = t
                # corrupted the gap base — end_epoch could precede the
                # true last event and one real session split in two).
                cur[0] = min(cur[0], t)
                cur[1] = max(cur[1], t)
                cur[2] += 1
                cur[3] += _cents(val)
        state.update(tuple(cur))
        # close via event-time timeout once the watermark passes the gap
        state.setTimeoutTimestamp((cur[1] + gap) * 1000)
        return iter([pd.DataFrame(closed)] if closed else [])

    # NB: no cast/re-alias of ts here — projecting a new attribute over
    # the watermarked column silently DROPS the watermark tag and
    # event-time timeout then fails analysis. The caller casts to
    # timestamp BEFORE withWatermark.
    keyed = events_stream.select("ts", "event_id", "user_id", "value")
    return keyed.groupBy("user_id").applyInPandasWithState(
        sess, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def stream_decontaminate(
    spark: SparkSession, docs_stream: DataFrame, sf_dir: str
) -> DataFrame:
    """Benchmark-decontamination gate at INGEST: score every incoming
    document's distinct word-n-gram overlap against the held-out eval
    slice, exactly matching the batch ``dd_contamination`` semantics
    (operators/dedup.py) so a doc admitted by the stream gate and one
    admitted by the batch screen agree.

    The eval gram set is computed ONCE from the static corpus and
    broadcast — sound because eval/benchmark sets are bounded (MBs,
    not corpus-scale); the per-doc scoring is then a stateless
    Arrow-batched map, the ideal streaming shape (no state store, no
    watermark, no shuffle).

    Output: (doc_id, n_grams, n_hit, contam_frac, keep).
    """
    import pandas as pd

    from ..operators.dedup import (
        CONTAM_EVAL_MOD,
        CONTAM_N,
        CONTAM_THRESHOLD,
        _contam_grams,
    )

    eval_grams = frozenset(
        r.gram
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % CONTAM_EVAL_MOD == 0)
        .select(F.explode(_contam_grams()).alias("gram"))
        .distinct()
        .collect()
    )
    bc = spark.sparkContext.broadcast(eval_grams)

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_grams", T.LongType()),
            T.StructField("n_hit", T.LongType()),
            T.StructField("contam_frac", T.DoubleType()),
            T.StructField("keep", T.BooleanType()),
        ]
    )

    def score(batches):
        ev = bc.value
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # NULL text is a row-level verdict (zero grams, keep),
                # not a job abort — batch dd_contamination parity and
                # the repo's row-vs-job error policy (errors.py).
                words = (text or "").split(" ")
                grams = {
                    " ".join(words[i : i + CONTAM_N])
                    for i in range(len(words) - CONTAM_N + 1)
                } if len(words) >= CONTAM_N else set()
                n_hit = sum(1 for g in grams if g in ev)
                # floor(x*1e4+0.5): Spark ROUND is HALF_UP; Python's
                # round() is banker's and differs at exact .5 ulps
                # (e.g. 1/32 -> 0.0312 vs Spark 0.0313)
                frac = (
                    math.floor(n_hit / len(grams) * 10000 + 0.5) / 10000
                    if grams
                    else 0.0
                )
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_grams": len(grams),
                        "n_hit": n_hit,
                        "contam_frac": frac,
                        "keep": frac < CONTAM_THRESHOLD,
                    }
                )
            yield pd.DataFrame(rows)

    train = docs_stream.filter(F.col("doc_id") % CONTAM_EVAL_MOD != 0).select(
        "doc_id", "text"
    )
    return train.mapInPandas(score, out_schema)


def stream_event_counts(spark: SparkSession, events_stream: DataFrame) -> DataFrame:
    """Event-time tumbling-window counts with a watermark: the
    windowed-aggregation + late-data shape over the events table's
    schema (ts, event_type, value)."""
    # parquet TIMESTAMP_NTZ -> session-tz TIMESTAMP (watermarks require
    # an event-time zone; the session runs UTC)
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_main_content(
    spark: SparkSession,
    source_dir: str,
    schema=None,
    max_files_per_trigger: int = 1,
):
    """Streaming main-content extraction: readStream over a documents
    directory → synthetic-HTML attach → the DOM-heuristic extractor.
    ``main_content`` is ONE stateless Catalyst projection (no shuffle,
    no Python, no state), so it lifts to Structured Streaming
    unchanged — the continuous form of a crawl-ingest pipeline where
    pages stream in and cleaned text streams out. Returns an unstarted
    streaming DataFrame; batch/stream parity is pytest-pinned."""
    from ..operators.html_extract import htmlized, main_content

    stream = _read_doc_stream(spark, source_dir, schema, max_files_per_trigger)
    return main_content(htmlized(stream))


def stream_quality_gate(
    spark: SparkSession,
    source_dir: str,
    schema=None,
    max_files_per_trigger: int = 1,
):
    """Quality gating at INGEST: readStream over a documents directory
    → the ta_quality gate bundle. The verdict projection is SHARED
    with the batch query (operators/text_analysis.quality_verdicts),
    so a document admitted by the stream gate and one admitted by the
    batch screen agree by construction — the same batch-parity
    contract as stream_decontaminate, with zero state (stateless
    narrow projection: no watermark, no shuffle, no Python). Returns
    an unstarted streaming DataFrame of
    (doc_id, n_tokens, avg_token_len, stopword_ratio, passes_quality).
    """
    from ..operators.text_analysis import quality_verdicts

    stream = _read_doc_stream(spark, source_dir, schema, max_files_per_trigger)
    return quality_verdicts(stream)


def stream_clf_gate(
    spark: SparkSession,
    source_dir: str,
    weights: list,
    schema=None,
    max_files_per_trigger: int = 1,
):
    """TRAINED-model quality gating at INGEST: readStream over a
    documents directory → the hashed-feature classifier scored under
    a weight vector trained OFFLINE (the production deployment shape:
    train_linear_clf runs as a batch job, the 65 integer micro-unit
    weights ship into the 24/7 stream as an array literal). The
    scoring projection is SHARED with the batch query
    (operators/text_analysis.clf_score_verdicts) — a zero-shuffle,
    zero-Python, zero-state whole-stage-codegen fold — so stream and
    batch verdicts agree by construction, integer-for-integer.
    Returns an unstarted streaming DataFrame of
    (doc_id, y, score_micro, keep)."""
    from ..operators.text_analysis import clf_score_verdicts

    stream = _read_doc_stream(spark, source_dir, schema, max_files_per_trigger)
    return clf_score_verdicts(stream, weights)


def stream_normalize(
    spark: SparkSession,
    source_dir: str,
    schema=None,
    max_files_per_trigger: int = 1,
):
    """Streaming unicode/text normalization: the crawl-cleaning HEAD
    stage run at ingest time — readStream over a documents directory →
    the SAME ``normalize_verdicts`` projection as the batch
    ``ta_normalize`` query (stateless: NFC Arrow map + Catalyst
    regexps, no shuffle, no state), so stream and batch agree row for
    row by construction (the batch-parity contract every gate in this
    module keeps). Returns an unstarted streaming DataFrame."""
    from ..operators.text_analysis import normalize_verdicts

    stream = _read_doc_stream(spark, source_dir, schema, max_files_per_trigger)
    return normalize_verdicts(stream)


def stream_pii_redact(
    spark: SparkSession,
    source_dir: str,
    schema=None,
    max_files_per_trigger: int = 1,
):
    """PII scrubbing at INGEST: readStream over a documents directory
    → the SAME ``pii_verdicts`` projection as the batch
    ``ta_pii_redact`` query (stateless: sequential Catalyst regexp
    scrub, no shuffle, no Python, no state), so a contact line caught
    by the stream gate and one caught by the batch screen agree by
    construction — the compliance stage a crawl pipeline must run
    BEFORE anything lands in the lake, which is exactly why it has to
    exist in streaming form. Returns an unstarted streaming DataFrame
    of (doc_id, n_pii, has_pii, clean_len)."""
    from ..operators.text_analysis import pii_verdicts

    stream = _read_doc_stream(spark, source_dir, schema, max_files_per_trigger)
    return pii_verdicts(stream)


def stream_c4_rules(
    spark: SparkSession,
    source_dir: str,
    schema=None,
    max_files_per_trigger: int = 1,
):
    """C4 heuristic cleaning at INGEST: readStream over a documents
    directory → the SAME ``c4_verdicts`` projection as the batch
    ``ta_c4_rules`` query (stateless stacked-HOF line rules, no
    shuffle, no Python, no state). Stream and batch verdicts agree by
    construction — the crawl-frontier admission gate in its continuous
    form. Returns an unstarted streaming DataFrame of
    (doc_id, n_lines, n_kept, has_brace, has_lorem, c4_keep)."""
    from ..operators.text_analysis import c4_verdicts

    stream = _read_doc_stream(spark, source_dir, schema, max_files_per_trigger)
    return c4_verdicts(stream)


def stream_incremental_dedup(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    verdict_dir: str,
    checkpoint_dir: str,
    schema=None,
    max_files_per_trigger: int = 1,
):
    """Continuous-ingest near-duplicate gate: every micro-batch is
    probed against the MinHash band index accumulated from all PRIOR
    batches, then the accepted (non-duplicate) docs' bands are
    appended — the streaming form of ``operators.dedup.
    incremental_dedup``, reusing the SAME banding and the SAME
    verdict function, so stream and batch dedup agree by construction
    (the batch-parity contract every gate in this module keeps).

    This runs through ``foreachBatch`` rather than a stream-stream or
    stream-static join: the index GROWS as the stream runs (a static
    side is a point-in-time snapshot), and the per-doc verdict needs
    an any-band-hit reduce that would be unbounded keyed state as a
    streaming aggregation. Inside foreachBatch each trigger is a
    plain batch job with the full DataFrame API — the standard shape
    for evolving-side-input pipelines.

    Replay idempotence (a crashed trigger re-runs): both sinks are
    partitioned by ``ingest_batch`` and written with DYNAMIC partition
    overwrite, and the probe reads only index partitions with
    ``ingest_batch < batch_id`` (partition-pruned by the filter). A
    replayed micro-batch therefore overwrites exactly its own
    partitions and re-probes exactly the prior-batch index — retries
    are deterministic, and a doc can never collide with its own
    partially-written bands from the failed attempt.

    Scale: the index grows by O(accepted x bands) 2-column rows per
    batch and nothing ever re-reads prior batches' document text;
    per-trigger cost is one signature projection over the batch plus
    one semi-join against the index.
    """
    from ..operators.dedup import incremental_dedup, minhash_band_posting

    stream = _read_doc_stream(spark, source_dir, schema, max_files_per_trigger)

    def process(batch_df, batch_id: int):
        from pyspark.errors import AnalysisException

        sess = batch_df.sparkSession
        try:
            prior = sess.read.parquet(index_dir).filter(
                F.col("ingest_batch") < batch_id
            )
        except AnalysisException as exc:
            # ONLY the expected first-batch case (no index written
            # yet) may degrade to an empty index. A bare except here
            # would turn any transient read failure (storage hiccup,
            # corrupt footer) at batch N into "no duplicates" for the
            # whole micro-batch — silently polluting corpus AND index.
            if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(
                exc
            ):
                raise
            prior = sess.createDataFrame(
                [], "doc_id bigint, band_key string, ingest_batch bigint"
            )
        verdicts = incremental_dedup(batch_df, prior).localCheckpoint(eager=False)
        (
            verdicts.withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(verdict_dir, compression=CODEC)
        )
        accepted = batch_df.join(
            verdicts.filter(~F.col("dup_of_index")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        (
            minhash_band_posting(accepted)
            .withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(index_dir, compression=CODEC)
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
