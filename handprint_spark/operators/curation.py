"""End-to-end curation composition: the keep-list a training-data run
actually materializes.

A 100 TB curation pass is not one operator — it is quality gates ∧
dedup-keeper membership composed over the corpus. This module wires
the already-verified building blocks (text_analysis quality gates,
dedup exact-hash keepers) into one declarative plan so the composition
itself is oracle-checked end-to-end:

    keep(doc) :=  passes_quality(doc)            (ta_quality gates)
               ∧  doc == keeper(md5(text))       (exact-dedup winner)

Both sides are single-shuffle aggregations on well-spread keys; the
final membership tests are equi-joins on doc_id / hash — no new scale
hazards beyond the parts already audited.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import SQL_DD_EXACT
from .text_analysis import EN_STOP, SQL_TA_QUALITY


def _hash_quality_frame(spark, sf_dir):
    """The curation stages' shared single-scan frame: (doc_id, h,
    n_tokens, avg_token_len, stopword_ratio, passes_quality),
    checkpointed so exact-dup grouping and gate filtering both read
    ONE materialization of the text column. One definition — the
    keep-list and the full-pipeline audit must agree byte-for-byte on
    the hash and the gate."""
    from .text_analysis import quality_verdicts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "h", F.md5(F.col("text").cast("binary"))
    )
    return quality_verdicts(docs, carry=("h",)).localCheckpoint(eager=False)


def q_cur_keep_list(spark, sf_dir):
    """(doc_id, n_tokens, n_copies) for every document that passes the
    quality gates AND is its exact-duplicate group's keeper. n_copies
    reports how many exact copies the kept doc represents.

    Single-scan shape: the text column is read ONCE into a per-row
    frame carrying (doc_id, h, n_tokens, passes_quality) — all three
    signals are projections of the same bytes — and the frame is
    materialized (lazy localCheckpoint) so the duplicate-group
    aggregate and the membership join both read it instead of
    re-scanning the corpus. The previous composition (q_dd_exact +
    q_ta_quality + a raw md5 projection) evaluated three separate
    text scans; at 10^12 docs the corpus read IS the dominant cost of
    a keep-list build, so 3x -> 1x is the difference that matters.
    Measured at sf0.1 (qtime min-of-4, warm): 1.434 -> 1.055 s here,
    and 2.919 -> 1.562 s for cur_contam_purge, which embeds this
    subplan. Oracle unchanged — same verdict table, different plan. The gate
    predicate comes from the shared ``quality_verdicts`` projection
    (carry=("h",)) — one definition, zero drift risk."""
    frame = _hash_quality_frame(spark, sf_dir)
    groups = frame.groupBy("h").agg(
        F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper")
    )
    return (
        frame.filter(F.col("passes_quality"))
        .join(groups, "h")
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "n_tokens", "n_copies")
    )


SQL_CUR_KEEP_LIST = f"""
WITH groups AS ({SQL_DD_EXACT}),
quality AS ({SQL_TA_QUALITY}),
kept AS (
  SELECT d.doc_id, g.n_docs AS n_copies
  FROM documents d JOIN groups g ON md5(d.text) = g.h
  WHERE d.doc_id = g.keeper
)
SELECT k.doc_id, q.n_tokens, k.n_copies
FROM kept k JOIN quality q ON q.doc_id = k.doc_id
WHERE q.passes_quality
"""

# --- deterministic stratified sampling ---------------------------------------
#
# Per-language keep rates in buckets-of-1000 (a training-data mix
# decision: oversample low-resource strata). Hash-threshold sampling —
# keep iff md5-bucket(doc_id) < rate[lang] — is the ONLY sampling shape
# that survives 10^12 rows: no window, no global sort, no per-stratum
# state; every row decides membership from its own bytes. (Quota
# sampling via row_number over a per-lang window would shuffle the
# whole corpus onto ~5 lang keys — a skew cliff, deliberately avoided.)
SAMPLE_RATES = {"en": 150, "de": 400, "fr": 400, "es": 250, "zh": 250}
SAMPLE_BUCKETS = 1000
SAMPLE_DEFAULT = 100


def q_cur_sample_strat(spark, sf_dir):
    """Deterministic stratified sample: (doc_id, lang, bucket).
    bucket = first-8-hex-digits of md5(doc_id) mod 1000; a doc is kept
    iff bucket < the stratum's rate. Rerunning always selects the same
    docs (resumable curation), and the expected stratum fractions are
    rate/1000 exactly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % SAMPLE_BUCKETS
    )
    rate = F.lit(SAMPLE_DEFAULT)
    for lang, r in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
        .select("doc_id", "lang", F.col("bucket").cast("long").alias("bucket"))
    )


_RATE_CASE = " ".join(
    f"WHEN lang = '{lang}' THEN {r}" for lang, r in SAMPLE_RATES.items()
)

SQL_CUR_SAMPLE = f"""
WITH b AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {SAMPLE_BUCKETS}
             AS bucket
  FROM documents
)
SELECT doc_id, lang, bucket
FROM b
WHERE bucket < (CASE {_RATE_CASE} ELSE {SAMPLE_DEFAULT} END)
"""

# --- corpus composition report -----------------------------------------------
#
# The dashboard aggregate a curation run publishes per stratum: how
# big is each (lang, source) cell, how duplicated, how much survives
# the quality gates, how long are its documents. One wide groupBy
# over per-row scalars plus one exact-dup distinct — every input is an
# already-oracle-verified signal, so the report composes, not invents.


def q_cur_report(spark, sf_dir):
    """(lang, source, n_docs, n_unique, dup_rate, quality_rate,
    mean_tokens): per-stratum corpus composition. n_unique counts
    distinct text hashes WITHIN the stratum (count_distinct is a
    two-stage partial-agg in Spark — no per-group row materialization);
    quality_rate aggregates the SHARED ``quality_verdicts`` gate
    (carry= passes the stratum keys + the dedup hash through the one
    gate definition — re-stating the thresholds here is exactly the
    drift risk the keep-list docstring warns against)."""
    from .text_analysis import quality_verdicts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "h", F.md5(F.col("text").cast("binary"))
    )
    verdicts = quality_verdicts(docs, carry=("lang", "source", "h"))
    return verdicts.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("h").alias("n_unique"),
        F.round(1 - F.count_distinct("h") / F.count("*"), 4).alias("dup_rate"),
        F.round(F.avg(F.col("passes_quality").cast("int")), 4).alias("quality_rate"),
        F.round(F.avg("n_tokens"), 4).alias("mean_tokens"),
    )


_EN_STOP_SQL = ", ".join(f"'{w}'" for w in EN_STOP)

SQL_CUR_REPORT = f"""
WITH t AS (
  SELECT lang, source, md5(text) AS h,
         len(string_split(text, ' ')) AS n_tokens,
         round(len(list_filter(string_split(text, ' '),
                               w -> w IN ({_EN_STOP_SQL})))::DOUBLE
               / len(string_split(text, ' ')), 4) AS stop_ratio
  FROM documents
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
       round(1 - count(DISTINCT h)::DOUBLE / count(*), 4) AS dup_rate,
       round(avg(CASE WHEN n_tokens BETWEEN 20 AND 500 AND stop_ratio >= 0.05
                      THEN 1 ELSE 0 END), 4) AS quality_rate,
       round(avg(n_tokens), 4) AS mean_tokens
FROM t GROUP BY lang, source
"""


def q_cur_report_approx(spark, sf_dir):
    """The sketch form of cur_report — the shape that actually runs at
    10^12 rows: ``approx_count_distinct`` (HyperLogLog++) keeps fixed
    per-group state instead of the exact two-stage distinct's expanded
    (group, h) partials, trading a bounded relative error (rsd=0.01)
    for a single-pass aggregate whose memory does not grow with the
    duplicate-hash cardinality. No SQL oracle (HLL register picks are
    engine-specific); registered rows-only with a tolerance-banded
    pytest vs the exact query (|approx − exact| / exact ≤ 5·rsd) as
    the correctness evidence — the ta_len_quantiles_approx precedent."""
    from .text_analysis import quality_verdicts

    rsd = 0.01
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "h", F.md5(F.col("text").cast("binary"))
    )
    verdicts = quality_verdicts(docs, carry=("lang", "source", "h"))
    return verdicts.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.approx_count_distinct("h", rsd).alias("n_unique_approx"),
        F.round(1 - F.approx_count_distinct("h", rsd) / F.count("*"), 4).alias(
            "dup_rate_approx"
        ),
        F.round(F.avg(F.col("passes_quality").cast("int")), 4).alias("quality_rate"),
        F.round(F.avg("n_tokens"), 4).alias("mean_tokens"),
    )


# --- resumable curation run ---------------------------------------------------


def run_curation_batch(spark, sf_dir, keep_dir, lineage_dir, batch_id: int) -> dict:
    """One resumable curation batch: keep-list anti-join the keep
    sink (checkpoints.pending_work) → append new keepers → append
    per-partition lineage rows. The keep sink is resumable as a set:
    keep-list membership is a pure function of the corpus, so a re-run
    appends exactly the doc_ids the sink lacks.

    This is NOT extraction's commit protocol (checkpoints.run_batch).
    The keep sink has no batch_id partition, the lineage rows are a
    Spark append of per-partition rows rather than one last-written
    commit row, and nothing drops an uncommitted batch. A crash between
    the keep append and the lineage append leaves kept rows that no
    lineage row accounts for, and a resume skips those rows.

    Steady-state I/O: one read of the corpus, one anti-join against
    the keep sink's doc_id column (column-pruned scan), one results
    append, one lineage append. Returns batch metrics."""
    from pyspark.storagelevel import StorageLevel

    from ..sources import table_sink
    from ..sources.checkpoints import pending_work

    todo = pending_work(spark, q_cur_keep_list(spark, sf_dir), keep_dir)
    results = todo.withColumn("batch_id", F.lit(batch_id)).withColumn(
        "partition_id", F.spark_partition_id()
    )
    results.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # lineage snapshot BEFORE the sink append (same recomputation
        # argument as checkpoints.run_batch: the plan anti-joins the
        # sink it is about to mutate)
        lineage_rows = (
            results.groupBy("batch_id", "partition_id")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_copies").alias("n_represented"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .collect()
        )
        table_sink.append(results, keep_dir)
    finally:
        results.unpersist()
    if lineage_rows:
        table_sink.append(spark.createDataFrame(lineage_rows), lineage_dir)
    return {
        "batch_id": batch_id,
        "kept": sum(r["n_docs"] for r in lineage_rows),
        "represented": int(sum(r["n_represented"] for r in lineage_rows)),
    }


# --- shard assignment + token packing ----------------------------------------

N_SHARDS = 8  # sandbox scale; a 100 TB run picks O(10^4) so one shard
              # sorts within one executor's memory
PACK_BUDGET = 2048  # tokens per pack stripe (a data-loader context window)


def q_cur_shard_pack(spark, sf_dir):
    """The step after the keep-list: materialize training shards.
    Every kept doc is assigned a shard by content-stable hash
    (reproducible across runs and engines), then packed into
    fixed-token-budget stripes within its shard: docs are laid out in
    deterministic (doc_id) order, each starting at the shard's running
    token offset, and the stripe is ``floor(start / PACK_BUDGET)`` —
    offset-based packing, the deterministic single-window form of
    sequence packing (exact first-fit is inherently sequential; fixed
    token stripes are what distributed loaders actually consume).

    Scale shape: ONE shuffle (hash partition by shard) and a per-shard
    sort — with O(10^4) shards each partition is executor-sized; no
    driver involvement, no iteration."""
    return shard_pack(q_cur_keep_list(spark, sf_dir).select("doc_id", "n_tokens"))


def shard_pack(counts: DataFrame) -> DataFrame:
    """Packing core over any (doc_id, n_tokens) accounting frame —
    whitespace counts (``q_cur_shard_pack``) and trained-BPE counts
    (``q_cur_shard_pack_bpe``) share this one definition, so switching
    the token accounting can never drift the layout rule."""
    from pyspark.sql.window import Window

    from ..corpus import slice_hash_col

    df = counts.select(
        "doc_id",
        "n_tokens",
        (slice_hash_col(F.col("doc_id")) % N_SHARDS).cast("int").alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn(
            "start_tok", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
        )
        .withColumn(
            "pack_bin", F.floor(F.col("start_tok") / F.lit(PACK_BUDGET)).cast("int")
        )
        .select("doc_id", "shard", "pack_bin", "start_tok", "n_tokens")
    )


def q_cur_shard_pack_bpe(spark, sf_dir):
    """Shard packing with REAL token accounting: the same keep-list
    and layout rule as ``cur_shard_pack``, but each document is
    charged its trained-BPE symbol count (``ta_bpe_encode``) instead
    of its whitespace word count — whitespace under-charges rare
    words, which BPE splits into several symbols, so stripes packed on
    word counts overflow a real loader's context window. One extra
    doc_id equi-join against the encode counts; the corpus text is
    still read once per branch and the packing stays ONE shuffle."""
    from .text_analysis import q_ta_bpe_encode

    kept = q_cur_keep_list(spark, sf_dir).select("doc_id")
    bpe = q_ta_bpe_encode(spark, sf_dir).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_tokens")
    )
    return shard_pack(kept.join(bpe, "doc_id"))


SQL_CUR_SHARD_PACK = f"""
WITH keep AS ({SQL_CUR_KEEP_LIST}),
sharded AS (
  SELECT doc_id, n_tokens,
         CAST(('0x' || substr(sha256(doc_id::VARCHAR), 1, 8))::BIGINT
              % {N_SHARDS} AS INT) AS shard
  FROM keep
), laid AS (
  SELECT doc_id, shard, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
                PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_tok
  FROM sharded
)
SELECT doc_id, shard,
       CAST(floor(start_tok / {PACK_BUDGET}.0) AS INT) AS pack_bin,
       start_tok, n_tokens
FROM laid
"""


def _sql_cur_shard_pack_bpe() -> str:
    from .text_analysis import _sql_ta_bpe_encode

    return f"""
WITH keep AS ({SQL_CUR_KEEP_LIST}),
enc AS ({_sql_ta_bpe_encode()}),
counts AS (
  SELECT k.doc_id, e.n_bpe_tokens AS n_tokens
  FROM keep k JOIN enc e USING (doc_id)
),
sharded AS (
  SELECT doc_id, n_tokens,
         CAST(('0x' || substr(sha256(doc_id::VARCHAR), 1, 8))::BIGINT
              % {N_SHARDS} AS INT) AS shard
  FROM counts
), laid AS (
  SELECT doc_id, shard, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
                PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_tok
  FROM sharded
)
SELECT doc_id, shard,
       CAST(floor(start_tok / {PACK_BUDGET}.0) AS INT) AS pack_bin,
       start_tok, n_tokens
FROM laid
"""


# --- token-budget domain mixing -------------------------------------------------

MIX_SHRINK = 300  # global budget: 30% of corpus tokens (per-mille)
MIX_HEAVY_W = 500  # per-mille weight for sources with id % 7 == 0
MIX_BASE_W = 20  # per-mille weight floor for the rest


def _mix_weight(source_num):
    """Per-mille target weight for a source: a few heavy sources (the
    curated-high-quality slice every mix up-weights) and a graded tail."""
    return F.when(source_num % 7 == 0, MIX_HEAVY_W).otherwise(
        MIX_BASE_W + (source_num % 7) * 10
    )


def q_cur_domain_mix(spark, sf_dir):
    """Domain mixing under a token budget (the Llama/Pile-style data
    recipe): each source s gets budget_s = T x w_s x SHRINK / 10^6
    tokens (T = corpus token total, w_s the per-mille mix weight), met
    by deterministic md5-bucket sampling at rate budget_s / tokens_s,
    capped at keep-everything when a source is smaller than its
    budget.

    Exactness: the keep predicate is pure integer math —
    bucket x tok_s x 1000 < T x w_s x SHRINK — so Spark and the SQL
    oracle agree bit-for-bit. (At 10^12-token scale the product
    overflows int64; a production run computes the per-source rate
    once as a double in the 20-row totals table, where sampling-rate
    precision is ample — the integer form is the test-scale oracle
    contract.) Shape: per-source token totals via partial-agg groupBy
    (ONE exchange over a (source, text)-pruned scan), the grand total
    folded in as an empty-partition window over the 20 totals rows
    (never corpus-sized), and the enriched totals broadcast back onto
    the corpus scan — the filter itself is embarrassingly parallel,
    and rerunning always keeps the same docs (resumable, like
    cur_sample_strat)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        (
            # salted key ('dmix:'): the mix decision must be INDEPENDENT
            # of cur_sample_strat's unsalted md5(doc_id) bucket — reusing
            # one hash would make the mix keep a fully-correlated slice
            # of the sampling survivors (per-source budgets silently
            # blown or doubly cut), the exact hazard the train-split
            # salt documents below.
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("dmix:"), F.col("doc_id").cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % SAMPLE_BUCKETS
        ).alias("bucket"),
    )
    from pyspark.sql import Window

    totals = docs.groupBy("source").agg(F.sum("n_tokens").alias("tok_s"))
    # grand total as an empty-partition window OVER the totals rows —
    # NOT a second aggregate lineage, which would re-scan the corpus a
    # third time; the single-partition window is 20 rows wide (source
    # cardinality), never corpus-sized.
    totals = totals.withColumn(
        "tok_total",
        F.sum("tok_s").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    # try_cast + coalesce: a source with no trailing digits yields ''
    # and ANSI-mode cast('' AS LONG) is a job-killing error; digitless
    # sources deterministically take num=0 (the heavy weight) instead.
    src_num = F.coalesce(
        F.expr("try_cast(regexp_extract(source, '(\\\\d+)$', 1) AS long)"), F.lit(0)
    )
    return (
        docs.join(F.broadcast(totals), "source")
        .filter(
            F.col("bucket") * F.col("tok_s") * 1000
            < F.col("tok_total") * _mix_weight(src_num) * MIX_SHRINK
        )
        .select("doc_id", "source", "n_tokens")
    )


SQL_CUR_DOMAIN_MIX = f"""
WITH d AS (
  SELECT doc_id, source,
         len(string_split(text, ' '))::BIGINT AS n_tokens,
         ('0x' || substr(md5('dmix:' || doc_id::VARCHAR), 1, 8))::BIGINT % {SAMPLE_BUCKETS}
             AS bucket
  FROM documents
), totals AS (
  SELECT source, sum(n_tokens) AS tok_s FROM d GROUP BY source
), grand AS (
  SELECT sum(tok_s) AS tok_total FROM totals
)
SELECT d.doc_id, d.source, d.n_tokens
FROM d JOIN totals USING (source), grand
WHERE d.bucket * totals.tok_s * 1000
      < grand.tok_total
        * (CASE WHEN coalesce(TRY_CAST(regexp_extract(d.source, '(\\d+)$', 1) AS BIGINT), 0) % 7 = 0
                THEN {MIX_HEAVY_W}
                ELSE {MIX_BASE_W}
                     + (coalesce(TRY_CAST(regexp_extract(d.source, '(\\d+)$', 1) AS BIGINT), 0) % 7) * 10
           END)
        * {MIX_SHRINK}
"""


def q_cur_mix_report(spark, sf_dir):
    """(source, weight_permille, tok_s, kept_tok, fill_ratio, capped):
    the post-mix audit — did each source actually receive its budget?
    fill_ratio = kept tokens / target budget (≈1.0 for sampled
    sources, < 1.0 for capped ones whose whole corpus is smaller than
    their budget — those are flagged, because a recipe that silently
    under-fills its high-weight sources trains on a different mixture
    than the one on paper). Composes the EXACT q_cur_domain_mix keep
    set (same subplan) with the totals table; all ratios divide exact
    integers. Second documents scan is the totals re-derivation —
    column-pruned to (source, text)."""
    from pyspark.sql import Window

    kept = (
        q_cur_domain_mix(spark, sf_dir)
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("kept_tok"), F.count("*").alias("kept_docs"))
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    )
    # source-cardinality frame, lazily checkpointed: without it the
    # totals re-derivation would be a THIRD documents scan in the
    # final plan (the mix subplan already carries two)
    totals = (
        docs.groupBy("source")
        .agg(F.sum("n_tokens").alias("tok_s"), F.count("*").alias("n_docs"))
        .localCheckpoint(eager=False)
        .withColumn(
            "tok_total",
            F.sum("tok_s").over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    src_num = F.coalesce(
        F.expr("try_cast(regexp_extract(source, '(\\\\d+)$', 1) AS long)"), F.lit(0)
    )
    w = _mix_weight(src_num)
    target_x1e6 = F.col("tok_total") * w * MIX_SHRINK  # target tokens x 10^6
    return (
        totals.join(kept, "source", "left")
        .select(
            "source",
            w.cast("int").alias("weight_permille"),
            F.col("n_docs").cast("int").alias("n_docs"),
            F.col("tok_s").alias("tok_s"),
            F.coalesce(F.col("kept_tok"), F.lit(0)).alias("kept_tok"),
            F.round(
                F.coalesce(F.col("kept_tok"), F.lit(0)) * F.lit(1_000_000) / target_x1e6,
                4,
            ).alias("fill_ratio"),
            (
                (F.lit(SAMPLE_BUCKETS - 1) * F.col("tok_s") * 1000) < target_x1e6
            ).alias("capped"),
        )
    )


def _sql_cur_mix_report() -> str:
    w_sql = (
        f"(CASE WHEN coalesce(TRY_CAST(regexp_extract(source, '(\\d+)$', 1) AS BIGINT), 0) % 7 = 0"
        f" THEN {MIX_HEAVY_W}"
        f" ELSE {MIX_BASE_W}"
        f" + (coalesce(TRY_CAST(regexp_extract(source, '(\\d+)$', 1) AS BIGINT), 0) % 7) * 10"
        f" END)"
    )
    return f"""
WITH keptrows AS ({SQL_CUR_DOMAIN_MIX}),
kept AS (SELECT source, sum(n_tokens) AS kept_tok FROM keptrows GROUP BY source),
d AS (SELECT source, len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
totals AS (SELECT source, sum(n_tokens) AS tok_s, count(*) AS n_docs
           FROM d GROUP BY source),
grand AS (SELECT sum(tok_s) AS tok_total FROM totals)
SELECT t.source,
       CAST({w_sql} AS INT) AS weight_permille,
       CAST(t.n_docs AS INT) AS n_docs,
       t.tok_s,
       coalesce(k.kept_tok, 0) AS kept_tok,
       round(coalesce(k.kept_tok, 0) * 1000000.0
             / (g.tok_total * {w_sql} * {MIX_SHRINK}), 4) AS fill_ratio,
       (({SAMPLE_BUCKETS - 1} * t.tok_s * 1000)
        < g.tok_total * {w_sql} * {MIX_SHRINK}) AS capped
FROM totals t LEFT JOIN kept k USING (source), grand g
"""


# --- deterministic train/val/test split constants --------------------------------
#
# (Used by q_cur_train_split below and the OOV audit here; see the
# train-split section for the salting rationale.)
SPLIT_BUCKETS = 1000
SPLIT_VAL_LT = 10  # bucket in [0, 10)  → val  (1%)
SPLIT_TEST_LT = 20  # bucket in [10, 20) → test (1%); rest → train


# --- held-out OOV audit ----------------------------------------------------------


def q_cur_split_oov(spark, sf_dir):
    """(split, n_tokens, n_oov, oov_rate): out-of-vocabulary audit of
    the held-out splits against the TRAIN split's vocabulary — the
    sanity check a tokenizer/eval pipeline runs before trusting val
    perplexities (a val slice with a high OOV rate is measuring
    vocabulary mismatch, not model quality). Composes the
    cur_train_split assignment (same salted bucket expression) with a
    vocabulary semi-join.

    Shape: one tokenize pass per side over a split-pruned scan; the
    train vocabulary is a distinct on the well-spread word key
    (lineage-truncated), and the held-out lookup is a left join on
    that key — no broadcast hint (open vocabulary scales with the
    corpus; AQE decides at runtime)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _, split = split_assignment()
    toks = docs.select(
        split.alias("split"), F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    vocab = (
        toks.filter(F.col("split") == "train")
        .select("w")
        .distinct()
        .withColumn("in_train", F.lit(1))
        .localCheckpoint(eager=False)
    )
    return (
        toks.filter(F.col("split") != "train")
        .join(vocab, "w", "left")
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.col("in_train").isNull().cast("int")).cast("long").alias("n_oov"),
            F.round(
                F.sum(F.col("in_train").isNull().cast("int"))
                / F.count("*").cast("double"),
                6,
            ).alias("oov_rate"),
        )
    )


SQL_CUR_SPLIT_OOV = f"""
WITH assigned AS (
  SELECT text,
         CASE WHEN b < {SPLIT_VAL_LT} THEN 'val'
              WHEN b < {SPLIT_TEST_LT} THEN 'test'
              ELSE 'train' END AS split
  FROM (SELECT text,
               ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
                   % {SPLIT_BUCKETS} AS b
        FROM documents)
),
toks AS (SELECT split, unnest(string_split(text, ' ')) AS w FROM assigned),
vocab AS (SELECT DISTINCT w, 1 AS in_train FROM toks WHERE split = 'train')
SELECT t.split, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.in_train IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov,
       round(sum(CASE WHEN v.in_train IS NULL THEN 1 ELSE 0 END)
             / count(*)::DOUBLE, 6) AS oov_rate
FROM toks t LEFT JOIN vocab v USING (w)
WHERE t.split != 'train'
GROUP BY t.split
"""


# --- temperature sampling across sources ---------------------------------------


def q_cur_temperature_mix(spark, sf_dir):
    """Temperature-based source rebalancing at α = 1/2 (the
    multilingual-LM sampling family: keep rate ∝ tok_s^(α-1), so the
    expected kept tokens per source are sqrt(tok_s · tok_min) — big
    sources are damped toward the small ones, the smallest source is
    kept whole). Unlike cur_domain_mix (budgets from a hand-set weight
    table), the rates here derive from the corpus itself.

    Exactness: keep iff bucket² · tok_s < BUCKETS² · tok_min — the
    squared form of bucket < B·sqrt(tok_min/tok_s) — is PURE INTEGER
    math, so Spark and the oracle agree bit-for-bit with no float
    rate anywhere. (Test-scale contract; at 10^12 tokens the product
    needs the same double-rate form documented in cur_domain_mix.)
    Shape: identical to cur_domain_mix — one partial-agg exchange for
    the totals, min folded in as an empty-partition window over the
    20 totals rows, enriched totals broadcast back; the keep filter is
    embarrassingly parallel and deterministic under re-runs (salted
    'tmix:' bucket, independent of every other hash decision)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tmix:"), F.col("doc_id").cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % SAMPLE_BUCKETS
        ).alias("bucket"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    totals = (
        docs.groupBy("source")
        .agg(F.sum("n_tokens").alias("tok_s"))
        .withColumn("tok_min", F.min("tok_s").over(w))
    )
    return (
        docs.join(F.broadcast(totals), "source")
        .filter(
            F.col("bucket") * F.col("bucket") * F.col("tok_s")
            < F.lit(SAMPLE_BUCKETS) * F.lit(SAMPLE_BUCKETS) * F.col("tok_min")
        )
        .select("doc_id", "source", "n_tokens")
    )


SQL_CUR_TEMPERATURE_MIX = f"""
WITH d AS (
  SELECT doc_id, source,
         len(string_split(text, ' '))::BIGINT AS n_tokens,
         ('0x' || substr(md5('tmix:' || doc_id::VARCHAR), 1, 8))::BIGINT
             % {SAMPLE_BUCKETS} AS bucket
  FROM documents
), totals AS (
  SELECT source, sum(n_tokens) AS tok_s FROM d GROUP BY source
), m AS (
  SELECT min(tok_s) AS tok_min FROM totals
)
SELECT d.doc_id, d.source, d.n_tokens
FROM d JOIN totals USING (source), m
WHERE d.bucket * d.bucket * totals.tok_s
      < {SAMPLE_BUCKETS} * {SAMPLE_BUCKETS} * m.tok_min
"""


# --- full curation pipeline ---------------------------------------------------


def q_cur_full_pipeline(spark, sf_dir):
    """Per-document stage verdicts for the WHOLE curation pass — the
    audit table a production run materializes next to the keep-list:

        exact_keep    doc is its md5(text) group's keeper
        neardup_keep  doc is not a dropped member of a MinHash-LSH
                      duplicate cluster (docs in no cluster keep)
        quality_keep  ta_quality's gate bundle passes
        kept          all three

    One row per document with every verdict, so downstream reporting
    can attribute loss per stage without re-running any of them.
    Shape: the exact stage is one shuffle on the md5 key, the near-dup
    stage reuses the clusters subplan (equi-joins on band keys + CC),
    the quality stage is a zero-shuffle projection, and the three
    verdicts meet on equi-joins keyed by doc_id — the cluster side is
    dup-fraction-sized (AQE broadcasts when small), the quality join
    is doc-aligned sort-merge. No new scale hazards beyond the parts
    already audited individually."""
    from .dedup import duplicate_clusters, q_dd_minhash_lsh_pairs

    # Single-scan frame for the text-projection stages (the same
    # 3-scans-to-1 rewrite as q_cur_keep_list): exact-dup groups and
    # the quality gate both read the checkpointed (doc_id, h,
    # passes_quality) frame. The near-dup side keeps its own scan —
    # MinHash signatures consume shingles, not these projections.
    frame = _hash_quality_frame(spark, sf_dir)
    groups = frame.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    exact = frame.join(groups, "h").select(
        "doc_id",
        (F.col("doc_id") == F.col("keeper")).alias("exact_keep"),
        F.col("passes_quality").alias("quality_keep"),
    )
    clusters = duplicate_clusters(q_dd_minhash_lsh_pairs(spark, sf_dir)).select(
        "doc_id", F.col("is_keeper").alias("nd_keep")
    )
    return (
        exact.join(clusters, "doc_id", "left")
        .withColumn("neardup_keep", F.coalesce("nd_keep", F.lit(True)))
        .drop("nd_keep")
        .select(
            "doc_id",
            "exact_keep",
            "neardup_keep",
            "quality_keep",
            (
                F.col("exact_keep") & F.col("neardup_keep") & F.col("quality_keep")
            ).alias("kept"),
        )
    )


def _sql_cur_full_pipeline() -> str:
    from .dedup import SQL_DD_MINHASH_LSH

    return f"""
WITH RECURSIVE lshpairs AS ({SQL_DD_MINHASH_LSH}),
edges AS (
  SELECT d1 AS src, d2 AS dst FROM lshpairs
  UNION ALL
  SELECT d2 AS src, d1 AS dst FROM lshpairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
members AS (
  SELECT node AS doc_id, (node = min(label)) AS nd_keep FROM reach GROUP BY node
),
groups AS ({SQL_DD_EXACT}),
quality AS ({SQL_TA_QUALITY}),
exact AS (
  SELECT d.doc_id, (d.doc_id = g.keeper) AS exact_keep
  FROM documents d JOIN groups g ON md5(d.text) = g.h
)
SELECT e.doc_id, e.exact_keep,
       coalesce(m.nd_keep, TRUE) AS neardup_keep,
       q.passes_quality AS quality_keep,
       (e.exact_keep AND coalesce(m.nd_keep, TRUE) AND q.passes_quality) AS kept
FROM exact e
LEFT JOIN members m USING (doc_id)
JOIN quality q USING (doc_id)
"""


# --- deterministic train/val/test split ----------------------------------------
#
# The last curation stage before shards ship: held-out splits must be
# (a) deterministic under re-runs (resumable pipelines re-derive them),
# (b) decided from each row's own bytes (no global sort / window at
# 10^12 rows), and (c) independent of every other hash decision in the
# pipeline — hence a salted key: reusing the sampling hash would make
# "val" a biased subsample of the stratified-sampling rejects.
# (SPLIT_BUCKETS / SPLIT_VAL_LT / SPLIT_TEST_LT are defined above the
# OOV audit, which shares them.)


def split_assignment():
    """(bucket, split) Column pair for the deterministic salted-hash
    train/val/test rule — ONE definition shared by the assignment
    query (q_cur_train_split) and the OOV audit (q_cur_split_oov), so
    a salt/boundary change can never make the audit measure a
    different split than the one that ships."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % SPLIT_BUCKETS
    )
    split = (
        F.when(bucket < SPLIT_VAL_LT, F.lit("val"))
        .when(bucket < SPLIT_TEST_LT, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return bucket, split


def q_cur_train_split(spark, sf_dir):
    """(doc_id, bucket, split): deterministic salted-hash train/val/
    test assignment, 98/1/1 in expectation. Zero-shuffle projection —
    every row decides its split from md5('split:' || doc_id) alone, so
    the assignment survives re-runs, repartitions, and corpus growth
    (old docs never change split when new docs arrive)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bucket, split = split_assignment()
    return docs.select("doc_id", bucket.alias("bucket"), split.alias("split"))


SQL_CUR_TRAIN_SPLIT = f"""
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
             % {SPLIT_BUCKETS} AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < {SPLIT_VAL_LT} THEN 'val'
            WHEN bucket < {SPLIT_TEST_LT} THEN 'test'
            ELSE 'train' END AS split
FROM b
"""


# --- decontamination purge over the keep-list --------------------------------
#
# The last gate before a corpus ships to training: everything the
# keep-list retained must ALSO clear both leakage audits — the exact
# n-gram membership gate (dd_contamination) and the fuzzy MinHash
# near-match gate (dd_fuzzy_contamination). Composed here so the
# verdict table is oracle-checked end-to-end, mirroring how
# cur_full_pipeline composes the dedup/quality stages.


def q_cur_contam_purge(spark, sf_dir):
    """(doc_id, n_tokens, exact_clean, fuzzy_clean, shippable) for
    every keep-list doc in the train slice. The eval slice
    (doc_id % CONTAM_EVAL_MOD == 0) is excluded outright — held-out
    docs never ship as training data regardless of gates. A doc too
    short to carry a MinHash signature has no fuzzy verdict and is
    fuzzy-clean by construction (nothing to collide).

    Shape: three already-audited subplans meet on doc_id equi-joins;
    the keep-list side is survivor-sized and the verdict joins add no
    new shuffle key beyond doc_id."""
    from .dedup import CONTAM_EVAL_MOD, q_dd_contamination, q_dd_fuzzy_contamination

    keep = (
        q_cur_keep_list(spark, sf_dir)
        .select("doc_id", "n_tokens")
        .filter(F.col("doc_id") % CONTAM_EVAL_MOD != 0)
    )
    exact = q_dd_contamination(spark, sf_dir).select(
        "doc_id", (~F.col("contaminated")).alias("exact_clean")
    )
    fuzzy = q_dd_fuzzy_contamination(spark, sf_dir).select(
        "doc_id", (~F.col("flagged")).alias("fz_clean")
    )
    return (
        keep.join(exact, "doc_id")
        .join(fuzzy, "doc_id", "left")
        .withColumn("fuzzy_clean", F.coalesce("fz_clean", F.lit(True)))
        .select(
            "doc_id",
            "n_tokens",
            "exact_clean",
            "fuzzy_clean",
            (F.col("exact_clean") & F.col("fuzzy_clean")).alias("shippable"),
        )
    )


def _sql_cur_contam_purge() -> str:
    from .dedup import CONTAM_EVAL_MOD, SQL_DD_CONTAMINATION, SQL_DD_FUZZY_CONTAM

    return f"""
WITH keep AS ({SQL_CUR_KEEP_LIST}),
contam AS ({SQL_DD_CONTAMINATION}),
fuzzy AS ({SQL_DD_FUZZY_CONTAM})
SELECT k.doc_id, k.n_tokens,
       NOT c.contaminated AS exact_clean,
       coalesce(NOT f.flagged, TRUE) AS fuzzy_clean,
       (NOT c.contaminated AND coalesce(NOT f.flagged, TRUE)) AS shippable
FROM keep k
JOIN contam c USING (doc_id)
LEFT JOIN fuzzy f USING (doc_id)
WHERE k.doc_id % {CONTAM_EVAL_MOD} <> 0
"""


# --- DSIR-style importance selection -------------------------------------------
#
# Data Selection via Importance Resampling (Xie et al., 2023) reduced
# to its deterministic core: score every document by the
# log-likelihood ratio of a TARGET unigram distribution vs the
# rest-of-corpus distribution, then keep the top-K. The target here is
# the corpus's own lang='fr' slice — the "I have a small in-domain
# set, find me more like it" shape a data recipe actually runs; the
# pytest asserts the selector finds it (the selected set is heavily
# enriched in target-lang docs vs their 13-15% base rate).
#
# Determinism contract (the classifier-training protocol): both
# distributions are add-1 smoothed integer counts; the per-WORD weight
# is ONE ln() of the double ratio
# ((c_t+1)*(t_s+V)) / ((c_s+1)*(t_t+V)), where each FACTOR is cast to
# double BEFORE the multiply on BOTH engines — every count converts
# exactly below 2^53 and IEEE *,/ are correctly rounded, so Spark and
# DuckDB hand ln the bit-identical argument at ANY corpus scale
# (int64 products, by contrast, would silently wrap on Spark's
# non-ANSI path while DuckDB widened to int128) — rounded to integer
# micro-units BEFORE the per-doc sum; the document score is then an
# exact int64 dot product.
# A 1-ulp libm divergence flips a weight only when 1e6*ln(r) sits
# within ~5e-7 of a half-integer (~1e-10 per word over a bounded
# vocabulary) — the residual risk every log-using oracle here carries,
# minimized by the single-ln formulation.
#
# Scale shape: ONE tokenize pass builds the (doc_id, lang, w, c)
# posting (doc-spread); both class distributions fold out of it as
# word-keyed groupBy-sums; the weight table is vocabulary-sized and
# broadcasts back onto the posting for the per-doc dot product. The
# sandbox's exact top-K is a single-ordering row_number — fine at
# bench scale, NOT at 10^12 docs; production replaces the rank with a
# selection threshold tau on imp_micro from approxQuantile (one
# scalar), which preserves this plan minus the global sort. The
# output keeps every doc's score so the driver hash pins the whole
# ranking, not just the K survivors.

DSIR_TARGET_LANG = "fr"
DSIR_K = 100
DSIR_MICRO = 1_000_000


def q_cur_dsir_select(spark, sf_dir):
    """(doc_id, lang, imp_micro, selected): integer micro-unit DSIR
    importance score per document and the exact top-DSIR_K verdict
    (ties broken by doc_id asc — deterministic under any execution
    order)."""
    from pyspark.sql.window import Window

    from .text_analysis import _docs, _words

    posting = (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", F.explode(_words()).alias("w"))
        .groupBy("doc_id", "lang", "w")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    is_t = F.col("lang") == DSIR_TARGET_LANG
    wc = posting.groupBy("w").agg(
        F.sum(F.when(is_t, F.col("c")).otherwise(F.lit(0))).alias("c_t"),
        F.sum(F.when(is_t, F.lit(0)).otherwise(F.col("c"))).alias("c_s"),
    )
    tot = wc.agg(
        F.sum("c_t").alias("t_t"), F.sum("c_s").alias("t_s"), F.count("*").alias("v")
    )
    ratio = (
        (F.col("c_t") + 1).cast("double") * (F.col("t_s") + F.col("v")).cast("double")
    ) / (
        (F.col("c_s") + 1).cast("double") * (F.col("t_t") + F.col("v")).cast("double")
    )
    weights = wc.crossJoin(F.broadcast(tot)).select(
        "w",
        F.round(F.log(ratio) * DSIR_MICRO).cast("long").alias("w_micro"),
    )
    scored = (
        posting.join(F.broadcast(weights), "w")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("c") * F.col("w_micro")).alias("imp_micro"))
    )
    rank = F.row_number().over(
        Window.orderBy(F.col("imp_micro").desc(), F.col("doc_id").asc())
    )
    return scored.select(
        "doc_id", "lang", "imp_micro", (rank <= DSIR_K).alias("selected")
    )


SQL_CUR_DSIR_SELECT = f"""
WITH posting AS (
  SELECT doc_id, lang, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY 1, 2, 3
),
wc AS (
  SELECT w,
         sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN c ELSE 0 END) AS c_t,
         sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 0 ELSE c END) AS c_s
  FROM posting GROUP BY w
),
tot AS (SELECT sum(c_t) AS t_t, sum(c_s) AS t_s, count(*) AS v FROM wc),
weights AS (
  SELECT w,
         CAST(round(ln(((c_t + 1)::DOUBLE * (t_s + v)::DOUBLE)
                       / ((c_s + 1)::DOUBLE * (t_t + v)::DOUBLE)) * {DSIR_MICRO})
              AS BIGINT) AS w_micro
  FROM wc, tot
),
scored AS (
  SELECT p.doc_id, p.lang,
         CAST(sum(p.c * wt.w_micro) AS BIGINT) AS imp_micro
  FROM posting p JOIN weights wt USING (w)
  GROUP BY 1, 2
)
SELECT doc_id, lang, imp_micro,
       row_number() OVER (ORDER BY imp_micro DESC, doc_id ASC) <= {DSIR_K}
         AS selected
FROM scored
"""


QUERIES = {
    "cur_keep_list": q_cur_keep_list,
    "cur_sample_strat": q_cur_sample_strat,
    "cur_report": q_cur_report,
    "cur_shard_pack": q_cur_shard_pack,
    "cur_shard_pack_bpe": q_cur_shard_pack_bpe,
    "cur_domain_mix": q_cur_domain_mix,
    "cur_full_pipeline": q_cur_full_pipeline,
    "cur_train_split": q_cur_train_split,
    "cur_temperature_mix": q_cur_temperature_mix,
    "cur_split_oov": q_cur_split_oov,
    "cur_contam_purge": q_cur_contam_purge,
    "cur_dsir_select": q_cur_dsir_select,
    "cur_mix_report": q_cur_mix_report,
    # rows-only by design: HLL register picks are engine-specific;
    # evidence = the tolerance-banded pytest vs the exact cur_report
    "cur_report_approx": q_cur_report_approx,
}
ORACLES = {
    "cur_keep_list": SQL_CUR_KEEP_LIST,
    "cur_sample_strat": SQL_CUR_SAMPLE,
    "cur_report": SQL_CUR_REPORT,
    "cur_shard_pack": SQL_CUR_SHARD_PACK,
    "cur_shard_pack_bpe": _sql_cur_shard_pack_bpe(),
    "cur_domain_mix": SQL_CUR_DOMAIN_MIX,
    "cur_full_pipeline": _sql_cur_full_pipeline(),
    "cur_train_split": SQL_CUR_TRAIN_SPLIT,
    "cur_temperature_mix": SQL_CUR_TEMPERATURE_MIX,
    "cur_split_oov": SQL_CUR_SPLIT_OOV,
    "cur_contam_purge": _sql_cur_contam_purge(),
    "cur_dsir_select": SQL_CUR_DSIR_SELECT,
    "cur_mix_report": _sql_cur_mix_report(),
}
