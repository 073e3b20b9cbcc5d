"""Text-analysis operators for corpus curation: language ID, quality
scoring, token counting, document fingerprinting.

All four stay entirely JVM-side (split/filter/aggregate higher-order
functions — whole-stage codegen, no Python in the hot path), which is
the difference between "works" and "works at 100 TB" for per-document
scalar features.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
DE_STOP = ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"]
FR_STOP = ["le", "la", "les", "et", "est", "un", "une", "de", "pour", "dans"]

BPE_ISH_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
FP_MOD = 1_000_000_007
FP_BASE = 31


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _words():
    return F.split(F.col("text"), " ")


def _stop_hits(stoplist: list[str]):
    arr = F.array(*[F.lit(w) for w in stoplist])
    return F.size(F.filter(_words(), lambda w: F.array_contains(arr, w)))


# --- token counting ----------------------------------------------------------

def q_ta_token_count(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(_words()).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
        F.length("text").alias("n_chars"),
    )


SQL_TA_TOKENS = rf"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS INT) AS n_bpe_tokens,
       CAST(length(text) AS INT) AS n_chars
FROM documents
"""


# --- quality scoring -----------------------------------------------------------

def quality_verdicts(df: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """The ta_quality gate bundle over ANY (doc_id, text) relation —
    one stateless Catalyst projection (no shuffle, no Python, no
    state), shared by the batch query, the streaming ingest gate
    (streaming/pipeline.stream_quality_gate), and the keep-list's
    single-scan frame (curation.q_cur_keep_list) so every consumer's
    answer can never drift. ``carry`` names extra input columns to
    pass through the projection (the keep-list carries its md5 key so
    one scan serves both the gate and the dup-group aggregate)."""
    words = _words()
    n_tokens = F.size(words)
    n_chars_nospace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    stop_ratio = F.round(_stop_hits(EN_STOP) / n_tokens, 4)
    avg_len = F.round(n_chars_nospace / n_tokens, 4)
    return df.select(
        "doc_id",
        *carry,
        n_tokens.alias("n_tokens"),
        avg_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        ((n_tokens >= 20) & (n_tokens <= 500) & (stop_ratio >= 0.05)).alias("passes_quality"),
    )


def q_ta_quality(spark, sf_dir):
    return quality_verdicts(_docs(spark, sf_dir))


_EN_LIST = ", ".join(f"'{w}'" for w in EN_STOP)

SQL_TA_QUALITY = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         length(replace(text, ' ', '')) AS nc
  FROM documents
)
SELECT doc_id,
       CAST(len(ws) AS INT) AS n_tokens,
       round(nc::DOUBLE / len(ws), 4) AS avg_token_len,
       round(len(list_filter(ws, w -> w IN ({_EN_LIST})))::DOUBLE / len(ws), 4)
           AS stopword_ratio,
       (len(ws) >= 20 AND len(ws) <= 500
        AND round(len(list_filter(ws, w -> w IN ({_EN_LIST})))::DOUBLE / len(ws), 4) >= 0.05)
           AS passes_quality
FROM t
"""


# --- language ID (stopword-hit heuristic) ---------------------------------------

def q_ta_lang_id(spark, sf_dir):
    en, de, fr = _stop_hits(EN_STOP), _stop_hits(DE_STOP), _stop_hits(FR_STOP)
    pred = (
        F.when((en >= de) & (en >= fr) & (en > 0), F.lit("en"))
        .when((de >= fr) & (de > 0), F.lit("de"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        en.alias("en_hits"),
        de.alias("de_hits"),
        fr.alias("fr_hits"),
        pred.alias("lang_pred"),
        (pred == F.col("lang")).alias("agrees_with_label"),
    )


def _hits_sql(stoplist: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in stoplist)
    return f"len(list_filter(string_split(text, ' '), w -> w IN ({lst})))"


SQL_TA_LANG = f"""
SELECT doc_id,
       CAST({_hits_sql(EN_STOP)} AS INT) AS en_hits,
       CAST({_hits_sql(DE_STOP)} AS INT) AS de_hits,
       CAST({_hits_sql(FR_STOP)} AS INT) AS fr_hits,
       CASE WHEN {_hits_sql(EN_STOP)} >= {_hits_sql(DE_STOP)}
             AND {_hits_sql(EN_STOP)} >= {_hits_sql(FR_STOP)}
             AND {_hits_sql(EN_STOP)} > 0 THEN 'en'
            WHEN {_hits_sql(DE_STOP)} >= {_hits_sql(FR_STOP)}
             AND {_hits_sql(DE_STOP)} > 0 THEN 'de'
            WHEN {_hits_sql(FR_STOP)} > 0 THEN 'fr'
            ELSE 'und' END AS lang_pred,
       (CASE WHEN {_hits_sql(EN_STOP)} >= {_hits_sql(DE_STOP)}
             AND {_hits_sql(EN_STOP)} >= {_hits_sql(FR_STOP)}
             AND {_hits_sql(EN_STOP)} > 0 THEN 'en'
            WHEN {_hits_sql(DE_STOP)} >= {_hits_sql(FR_STOP)}
             AND {_hits_sql(DE_STOP)} > 0 THEN 'de'
            WHEN {_hits_sql(FR_STOP)} > 0 THEN 'fr'
            ELSE 'und' END = lang) AS agrees_with_label
FROM documents
"""


# --- rolling-hash document fingerprint -------------------------------------------

def q_ta_fingerprint(spark, sf_dir):
    chars = F.filter(F.split(F.col("text"), ""), lambda c: c != F.lit(""))
    codes = F.transform(chars, lambda c: F.ascii(c).cast("long"))
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * FP_BASE + c) % FP_MOD,
    )
    return _docs(spark, sf_dir).select("doc_id", fp.alias("fingerprint"))


SQL_TA_FP = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                          c -> ascii(c)::BIGINT)),
         (acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD}) AS fingerprint
FROM documents
"""


# --- repetition signals (duplicate-2-gram fraction) --------------------------

def q_ta_rep_2gram(spark, sf_dir):
    """Per-doc word-2-gram repetition stats — the Gopher/Dolma-style
    "repetitious document" quality signal. The distinct/top counts are
    computed DISTRIBUTED (explode → groupBy (doc_id, gram)), not with a
    per-doc in-memory set: a pathological 1 GB document costs a wide
    group, not an executor OOM. Keys are (doc_id, gram) — well spread,
    one shuffle; the per-doc reduce is a second, narrower shuffle on
    doc_id."""
    docs = _docs(spark, sf_dir)
    ws_docs = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    # NB: 0/1-word docs must short-circuit to array() explicitly
    # (slice-based zip_with would be safe here, but keep the guard
    # uniform with ta_bpe_pairs). zip_with over two slices of the
    # pre-projected words column: the earlier sequence/element_at form
    # re-split text four times per row inside the lambda (interpreted
    # HOF eval does not CSE) — same fix, same ~5x, as ta_bpe_pairs.
    grams = F.expr(
        "CASE WHEN size(ws) < 2 THEN array()"
        " ELSE zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),"
        " (a, b) -> concat(a, ' ', b)) END"
    )
    per_gram = (
        ws_docs.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
    )
    agg = per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("n_2grams"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_gram_n"),
    )
    # left join back so 0/1-word docs keep a row (zero grams)
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_2grams", F.lit(0)).cast("long").alias("n_2grams"),
        F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
        F.coalesce("top_gram_n", F.lit(0)).cast("long").alias("top_gram_n"),
        F.when(
            F.coalesce("n_2grams", F.lit(0)) > 0,
            F.round(1 - F.col("n_distinct") / F.col("n_2grams"), 4),
        ).otherwise(F.lit(0.0)).alias("dup_frac"),
    )


SQL_TA_REP = """
WITH g AS (
  SELECT doc_id, unnest(
           list_transform(range(1, greatest(len(string_split(text, ' ')), 1)),
                          i -> string_split(text, ' ')[i] || ' ' ||
                               string_split(text, ' ')[i + 1])) AS gram
  FROM documents
), per_gram AS (
  SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
), agg AS (
  SELECT doc_id, sum(c) AS n_2grams, count(*) AS n_distinct, max(c) AS top_gram_n
  FROM per_gram GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_2grams, 0)::BIGINT AS n_2grams,
       coalesce(a.n_distinct, 0)::BIGINT AS n_distinct,
       coalesce(a.top_gram_n, 0)::BIGINT AS top_gram_n,
       CASE WHEN coalesce(a.n_2grams, 0) > 0
            THEN round(1 - a.n_distinct::DOUBLE / a.n_2grams, 4)
            ELSE 0.0 END AS dup_frac
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


# --- unigram entropy ---------------------------------------------------------

def q_ta_entropy(spark, sf_dir):
    """Per-doc unigram Shannon entropy H = ln(n) - (1/n)·Σ c·ln(c) —
    the low-entropy (template/boilerplate) quality gate. Same
    distributed explode→group shape as the repetition signal; every
    input to the float math is an integer count, so the rounded result
    is engine-stable."""
    docs = _docs(spark, sf_dir)
    per_word = (
        docs.select("doc_id", F.explode(_words()).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    return per_word.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.round(
            F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"), 4
        ).alias("entropy"),
    )


SQL_TA_ENTROPY = """
WITH per_word AS (
  SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY doc_id, w
)
SELECT doc_id,
       sum(c)::BIGINT AS n_tokens,
       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy
FROM per_word GROUP BY doc_id
"""


# --- TF-IDF top-k terms ------------------------------------------------------

TFIDF_K = 3


def q_ta_tfidf_topk(spark, sf_dir):
    """Top-K terms per document by tf·idf, idf = ln((N+1)/(df+1)).
    Shape: one well-spread shuffle for tf on (doc_id, term), one for
    document frequency on term, an equi-join on term (AQE broadcasts
    the df side when the vocabulary is small), and a per-doc window for
    the top-K. The window partitions on doc_id — never on a low-
    cardinality key. Ordering ties break on the term string, and the
    rank compares the ROUNDED score so both engines rank identically."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    tf = (
        docs.select("doc_id", F.explode(_words()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        # materialized once (lazy localCheckpoint): document frequency
        # folds OUT of the tf table, and without the checkpoint the
        # join's df side re-ran the whole tokenize-explode-aggregate
        # subtree — the corpus's most expensive job — a second time.
        # (The n_docs branch keeps its own scan: it prunes every
        # column, so it reads parquet statistics, not text.)
        .localCheckpoint(eager=False)
    )
    df_counts = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_total"))
    scored = (
        tf.join(df_counts, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log((F.col("n_total") + 1) / (F.col("df") + 1)), 4),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_K)
        .select("doc_id", "term", F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"), "tfidf",
                F.col("rnk").cast("int").alias("rnk"))
    )


SQL_TA_TFIDF = f"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY doc_id, term
), dfc AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (SELECT count(*) AS n_total FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
         round(tf.tf * ln((n.n_total + 1)::DOUBLE / (dfc.df + 1)), 4) AS tfidf
  FROM tf JOIN dfc USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rnk
  FROM scored
)
SELECT doc_id, term, tf::BIGINT AS tf, df::BIGINT AS df, tfidf, rnk::INT AS rnk
FROM ranked WHERE rnk <= {TFIDF_K}
"""


# --- PII redaction -----------------------------------------------------------
#
# Training corpora ship through a PII scrub (emails, phone numbers,
# IPs, SSN-shaped ids). The corpus text is digit-free word soup, so —
# as with the skew/corrupt slices — a deterministic doc_id-keyed slice
# SYNTHESIZES the PII in both engines (append a contact line), and the
# redaction machinery itself (pattern bank, sequential scrub, match
# counting) runs for real. Everything stays JVM-side regexp ops; the
# pattern dialect is the Java-regex ∩ RE2 subset so Spark and the
# DuckDB oracle compile the identical patterns.

PII_EMAIL_MOD = 11  # doc_id slice that gets an email + phone appended
PII_IP_MOD = 13  # doc_id slice that gets an ip + ssn appended
PII_TOKEN = "[PII]"
# order matters: patterns are applied sequentially, each counting its
# matches on the PREVIOUS pattern's output (deterministic composition)
PII_PATTERNS = [
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"),
    ("phone", r"\+1-555-[0-9]{4}"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
]


def _pii_text():
    """Document text with the deterministic synthetic contact line."""
    did = F.col("doc_id")
    email_line = F.concat(
        F.lit(" contact user"), did, F.lit("@example.com or +1-555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    ip_line = F.concat(
        F.lit(" from 10."), (did % 256).cast("string"),
        F.lit(".0.1 id 123-45-"), F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    return F.concat(
        F.col("text"),
        F.when(did % PII_EMAIL_MOD == 0, email_line)
        .when(did % PII_IP_MOD == 0, ip_line)
        .otherwise(F.lit("")),
    )


def pii_verdicts(docs: DataFrame) -> DataFrame:
    """The PII scrub over ANY (doc_id, text) relation — one stateless
    Catalyst projection shared by the batch query and the streaming
    ingest gate (streaming/pipeline.stream_pii_redact), the same
    shared-projection parity contract as quality_verdicts /
    normalize_verdicts."""
    t = _pii_text()
    counts = []
    for _name, pat in PII_PATTERNS:
        counts.append(F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))))
        t = F.regexp_replace(t, pat, PII_TOKEN)
    n_pii = counts[0]
    for c in counts[1:]:
        n_pii = n_pii + c
    return docs.select(
        "doc_id",
        n_pii.cast("int").alias("n_pii"),
        (n_pii > 0).alias("has_pii"),
        F.length(t).cast("int").alias("clean_len"),
    )


def q_ta_pii_redact(spark, sf_dir):
    """(doc_id, n_pii, has_pii, clean_len) — sequential multi-pattern
    scrub: pattern i counts and redacts on the output of patterns
    0..i-1. Narrow per-row regexp work (no shuffle); at 100 TB this is
    the same zero-exchange map shape as the flagship."""
    return pii_verdicts(_docs(spark, sf_dir))


def _sql_ta_pii() -> str:
    scrub = "pii"
    counts = []
    for i, (_name, pat) in enumerate(PII_PATTERNS):
        counts.append(f"len(regexp_extract_all({scrub}, '{pat}'))")
        scrub = f"regexp_replace({scrub}, '{pat}', '[PII]', 'g')"
    total = " + ".join(counts)
    return f"""
WITH p AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % {PII_EMAIL_MOD} = 0 THEN
             ' contact user' || doc_id || '@example.com or +1-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           WHEN doc_id % {PII_IP_MOD} = 0 THEN
             ' from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
             '.0.1 id 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           ELSE '' END AS pii
  FROM documents
)
SELECT doc_id,
       CAST({total} AS INT) AS n_pii,
       ({total}) > 0 AS has_pii,
       CAST(length({scrub}) AS INT) AS clean_len
FROM p
"""


# --- per-language length quantiles -------------------------------------------

LEN_QUANTILES = (0.5, 0.9, 0.99)


def q_ta_len_quantiles(spark, sf_dir):
    """Exact per-language token-length quantiles + mean — the corpus
    length profile a mix designer reads before setting sampling rates.
    Exact percentile (not approx_percentile): groups are per-language,
    so the per-group state is bounded by language count × docs/lang
    partial buffers; at 10^12 rows swap in approx_percentile(...,
    accuracy) for fixed-size sketch state (same query shape), at the
    cost of the oracle equality this variant keeps."""
    qs = ", ".join(str(q) for q in LEN_QUANTILES)
    return (
        _docs(spark, sf_dir)
        .select("lang", F.size(_words()).alias("n"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n"), 4).alias("mean_tokens"),
            F.round(F.expr(f"percentile(n, array({qs}))")[0], 4).alias("p50"),
            F.round(F.expr(f"percentile(n, array({qs}))")[1], 4).alias("p90"),
            F.round(F.expr(f"percentile(n, array({qs}))")[2], 4).alias("p99"),
        )
    )


SQL_TA_LEN_Q = f"""
WITH t AS (SELECT lang, len(string_split(text, ' ')) AS n FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n), 4) AS mean_tokens,
       round(quantile_cont(n, {LEN_QUANTILES[0]}), 4) AS p50,
       round(quantile_cont(n, {LEN_QUANTILES[1]}), 4) AS p90,
       round(quantile_cont(n, {LEN_QUANTILES[2]}), 4) AS p99
FROM t GROUP BY lang
"""


# --- unicode/text normalization (the crawl-cleaning head stage) ---------------
#
# NFC composition, zero-width/BOM strip, NBSP -> space, control-char
# strip, whitespace canonicalization — the projection every real crawl
# pipeline runs BEFORE dedup/quality (mojibake and invisible
# codepoints otherwise split dedup keys and skew quality stats). Zero
# shuffle: one narrow projection; only the NFC step leaves Catalyst
# (composition tables are not expressible as regex), via an Arrow
# batch UDF. Regex steps use the Java-regex ∩ RE2 dialect (the
# ta_pii_redact precedent) so the DuckDB oracle mirrors byte-for-byte.
# The sandbox corpus is clean ASCII, so artifacts are synthesized
# deterministically per doc_id (mirrored in the oracle CTE) — the
# normalizer itself is generic, pytest-proven on hand-written mojibake.

_ZW_RE = r"[\x{200b}\x{200c}\x{200d}\x{feff}]"  # zero-width + BOM
_NBSP_RE = r"\x{00a0}"
_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"  # controls except \t \n \r
_WS_RE = r"[ \t\n\r\f]+"


def _nfc_udf():
    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return nfc


def normalize_text_col(col):
    """The full normalization chain on a string column: NFC, then
    zero-width strip, NBSP -> space, control strip, whitespace
    squeeze, trim — in that fixed order on BOTH engines."""
    x = _nfc_udf()(col)
    x = F.regexp_replace(x, _ZW_RE, "")
    x = F.regexp_replace(x, _NBSP_RE, " ")
    x = F.regexp_replace(x, _CTRL_RE, "")
    x = F.regexp_replace(x, _WS_RE, " ")
    return F.trim(x)


def _messy_text(docs: DataFrame) -> DataFrame:
    """Deterministic artifact synthesis: four real-world damage shapes
    keyed on doc_id % 4, mirrored in the oracle's messy CTE."""
    variant = F.col("doc_id") % 4
    raw = (
        F.when(
            variant == 0,
            F.concat(F.lit("Cafe\u0301 "), F.col("text"), F.lit(" \u200btail")),
        )
        .when(variant == 1, F.concat(F.lit("\t\t"), F.col("text"), F.lit("\x07\x07")))
        .when(variant == 2, F.regexp_replace(F.col("text"), " ", "\u00a0 "))
        .otherwise(F.col("text"))
    )
    return docs.select("doc_id", raw.alias("raw"))


def normalize_verdicts(docs: DataFrame) -> DataFrame:
    """(doc_id, norm_text, changed, n_chars_norm) over any documents
    frame — the SAME projection serves the batch query and
    ``streaming.pipeline.stream_normalize`` (stateless, zero shuffle,
    so it lifts to readStream unchanged; parity by construction,
    asserted in test_streaming)."""
    messy = _messy_text(docs)
    # Materialize norm_text ONCE as a named column and derive the
    # verdict/length from it: three inline normalize_text_col calls
    # would run three _nfc_udf Arrow round-trips + three 4-regexp
    # chains per row (distinct UDF instances — Catalyst cannot CSE
    # them), tripling the cost of the pipeline's head stage.
    return messy.select(
        "doc_id", "raw", normalize_text_col(F.col("raw")).alias("norm_text")
    ).select(
        "doc_id",
        "norm_text",
        (F.col("norm_text") != F.col("raw")).alias("changed"),
        F.length("norm_text").cast("int").alias("n_chars_norm"),
    )


def q_ta_normalize(spark, sf_dir):
    """The normalization head over the synthesized-messy corpus. A
    production pipeline runs ``normalize_text_col`` as the FIRST
    projection of every curation pass (tests prove keep-list verdicts
    on normalized mojibake equal verdicts on the clean text — the
    invariance the stage exists to buy); it composes into any
    downstream query at zero extra shuffle."""
    return normalize_verdicts(_docs(spark, sf_dir))


SQL_TA_NORMALIZE = r"""
WITH messy AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'Cafe' || chr(769) || ' ' || text || ' ' || chr(8203) || 'tail'
      WHEN 1 THEN chr(9) || chr(9) || text || chr(7) || chr(7)
      WHEN 2 THEN regexp_replace(text, ' ', chr(160) || ' ', 'g')
      ELSE text
    END AS raw
  FROM documents
),
n AS (
  SELECT doc_id, raw,
    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      nfc_normalize(raw),
      '[\x{200b}\x{200c}\x{200d}\x{feff}]', '', 'g'),
      '\x{00a0}', ' ', 'g'),
      '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
      '[ \t\n\r\f]+', ' ', 'g')) AS norm_text
  FROM messy
)
SELECT doc_id, norm_text, (norm_text <> raw) AS changed,
       CAST(length(norm_text) AS INT) AS n_chars_norm
FROM n
"""


def q_ta_len_quantiles_approx(spark, sf_dir):
    """The sketch form of ta_len_quantiles — the shape that actually
    runs at 10^12 rows: ``approx_percentile`` keeps fixed-size
    Greenwald-Khanna state per (language) group instead of buffering
    every length, trading exactness for bounded memory. No SQL oracle
    (the sketch's picks are engine-specific); registered rows-only,
    with a tolerance-banded pytest against the exact form
    (|approx - exact| <= rank-error bound) as the correctness
    evidence — see tests/test_normalize_quantiles.py."""
    acc = 1000  # GK accuracy: rank error <= n / acc
    qs = ", ".join(str(q) for q in LEN_QUANTILES)
    return (
        _docs(spark, sf_dir)
        .select("lang", F.size(_words()).alias("n"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n"), 4).alias("mean_tokens"),
            F.expr(f"approx_percentile(n, array({qs}), {acc})")[0]
            .cast("double")
            .alias("p50"),
            F.expr(f"approx_percentile(n, array({qs}), {acc})")[1]
            .cast("double")
            .alias("p90"),
            F.expr(f"approx_percentile(n, array({qs}), {acc})")[2]
            .cast("double")
            .alias("p99"),
        )
    )


# --- boilerplate strip (main-content extraction) -----------------------------
#
# The north_rule's first clause — main-content extraction / boilerplate
# strip — re-expressed for the span corpus: a LINE that recurs across
# many documents of the same source is chrome (header/footer/nav), not
# content; the classic line-frequency heuristic (CCNet / jusText
# lineage). Lines here are runs of WORDS_PER_LINE words of the text
# split on single spaces. That is not quite the span builder's rule
# (corpus.split_lines also strips form feeds and collapses runs of
# spaces); the two agree on text with neither. The operator works on
# the text column in both engines without private state.
# Shape: one explode → one (source, line) groupBy on a well-spread key
# → one membership join back — posting-list form again, no n².

BP_WORDS_PER_LINE = 6  # = corpus.WORDS_PER_LINE (kept literal so the
#     DuckDB oracle and the Spark plan share one constant source)
BP_MIN_DOCS = 2  # line seen in >= this many distinct same-source docs =>
#     chrome. Sandbox value (the synthetic corpus's only recurring
#     same-source lines come from duplicated docs); a production web
#     corpus uses a higher absolute count or a df-fraction threshold —
#     only this constant changes.


def q_ta_boilerplate_strip(spark, sf_dir):
    """(doc_id, n_lines, n_boiler, clean_text): per-document content
    extraction. clean_text keeps surviving lines in original order
    (order restored by array_sort over (pos, line) structs — the
    collect_list itself is unordered and may not be relied on)."""
    w = BP_WORDS_PER_LINE
    docs = _docs(spark, sf_dir)
    words = _words()
    n_lines = F.ceil(F.size(words) / w).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.struct(
            i.alias("pos"), F.array_join(F.slice(words, i * w + 1, w), " ").alias("line")
        ),
    )
    posting = docs.select(
        "doc_id", "source", F.explode(lines).alias("l")
    ).select("doc_id", "source", F.col("l.pos").alias("pos"), F.col("l.line").alias("line"))
    chrome = (
        posting.groupBy("source", "line")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= BP_MIN_DOCS)
        .select("source", "line", F.lit(1).alias("chrome"))
    )
    # Fused shape: chrome membership rides back as a left-join flag and
    # ONE groupBy yields line total, boiler count, and the surviving
    # text (filter the flag inside the sorted collect) — no separate
    # totals scan, no second doc_id join.
    return (
        posting.join(chrome, ["source", "line"], "left")
        .withColumn("chrome", F.coalesce("chrome", F.lit(0)))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("chrome").alias("n_boiler"),
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(F.collect_list(F.struct("pos", "chrome", "line"))),
                        lambda x: x["chrome"] == 0,
                    ),
                    lambda x: x["line"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(
            "doc_id",
            F.col("n_lines").cast("int").alias("n_lines"),
            F.col("n_boiler").cast("int").alias("n_boiler"),
            "clean_text",
        )
    )


SQL_TA_BOILERPLATE = f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws,
         CAST(ceil(len(string_split(text, ' ')) / {BP_WORDS_PER_LINE}.0) AS INT) AS nl
  FROM documents
),
posting AS (
  SELECT doc_id, source, i AS pos,
         array_to_string(ws[i*{BP_WORDS_PER_LINE}+1 : (i+1)*{BP_WORDS_PER_LINE}], ' ')
             AS line
  FROM toks, LATERAL unnest(range(0, nl)) AS t(i)
),
chrome AS (
  SELECT source, line
  FROM (SELECT DISTINCT doc_id, source, line FROM posting)
  GROUP BY source, line HAVING count(*) >= {BP_MIN_DOCS}
),
kept AS (
  SELECT p.doc_id,
         string_agg(p.line, ' ' ORDER BY p.pos, p.line) AS clean_text,
         count(*) AS n_kept
  FROM posting p ANTI JOIN chrome c ON p.source = c.source AND p.line = c.line
  GROUP BY p.doc_id
),
totals AS (SELECT doc_id, count(*) AS n_lines FROM posting GROUP BY doc_id)
SELECT t.doc_id,
       CAST(t.n_lines AS INT) AS n_lines,
       CAST(t.n_lines - coalesce(k.n_kept, 0) AS INT) AS n_boiler,
       coalesce(k.clean_text, '') AS clean_text
FROM totals t LEFT JOIN kept k USING (doc_id)
"""


# --- unigram cross-entropy (perplexity-proxy quality signal) -----------------
#
# The CCNet/KenLM-style "perplexity filter" reduced to its distributed
# skeleton: score each document by the mean negative log-probability
# of its tokens under the CORPUS'S OWN unigram distribution. Documents
# made of globally-rare tokens score high (gibberish / OCR noise);
# boilerplate-like docs score low. The LM here is unigram (a 5-gram
# KenLM would swap in the same join shape keyed by n-gram); what
# matters at 10^12 rows is the plan: the per-token logprob lookup is
# an equi-join on the well-spread token key (AQE broadcasts it at
# runtime when the vocab measures small), and the per-doc reduce is
# one well-spread groupBy.


def q_ta_unigram_logprob(spark, sf_dir):
    """(doc_id, n_tokens, avg_neg_logprob): mean -ln p(token) under
    the corpus unigram MLE. Ratios are rounded at 6 places to absorb
    engine summation-order wobble. The vocab lookup carries NO
    broadcast hint: a trained-LM vocab is bounded and AQE broadcasts
    it at runtime when it measures small, but a raw open-vocab web
    crawl's vocabulary scales with the corpus — a hardcoded hint would
    be the per-doc-broadcast OOM class, so the safe default is the
    sort-merge join on the well-spread token key and AQE's
    runtime-size decision."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(_words()).alias("w"))
    # ONE corpus tokenize pass for the LM side: the vocab counts are
    # lineage-truncated (localCheckpoint), and the corpus token total
    # is the SUM OF THOSE COUNTS attached via a 1-row broadcast cross
    # join — not a second full tokenize+count job over documents
    # (r03 ran toks.count() as a separate scan). The lookup side's
    # tokenize is the only documents scan left in the final plan; the
    # vocab side reads the checkpointed counts.
    counts = (
        toks.groupBy("w").agg(F.count("*").alias("cnt")).localCheckpoint(eager=False)
    )
    total = counts.agg(F.sum("cnt").cast("double").alias("total"))
    vocab = counts.crossJoin(F.broadcast(total)).select(
        "w", (-F.log(F.col("cnt") / F.col("total"))).alias("neg_lp")
    )
    return (
        toks.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.round(F.avg("neg_lp"), 6).alias("avg_neg_logprob"),
        )
    )


SQL_TA_UNIGRAM_LP = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
vocab AS (
  SELECT w, -ln(count(*)::DOUBLE / (SELECT count(*) FROM toks)) AS neg_lp
  FROM toks GROUP BY w
)
SELECT t.doc_id, CAST(count(*) AS INT) AS n_tokens,
       round(avg(v.neg_lp), 6) AS avg_neg_logprob
FROM toks t JOIN vocab v USING (w)
GROUP BY t.doc_id
"""


# --- bigram LM perplexity (CCNet-style LM quality filter) ---------------------

_BIGRAM_STRUCTS = (
    "CASE WHEN size(ws) < 2 THEN array()"
    " ELSE zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),"
    " (a, b) -> struct(a AS w1, b AS w2)) END"
)


def q_ta_bigram_logprob(spark, sf_dir):
    """(doc_id, n_bigrams, avg_neg_logprob): mean -ln p(w2|w1) under
    the corpus bigram MLE — the order-2 analog of ta_unigram_logprob
    and the sandbox stand-in for the KenLM perplexity gate CCNet-class
    pipelines run (the real filter swaps the LM table, not the plan).
    Docs with <2 tokens carry no bigram and drop out (mirrored in the
    oracle). Rounded at 6 places to absorb summation-order wobble.

    Shape: ONE corpus bigram pass feeds the LM (bigram counts are
    lineage-truncated; context counts c(w1·) fold out of those counts
    as a groupBy-sum, never a second corpus scan — the ta_unigram
    single-pass lesson applied at order 2). Bigrams come from the
    zip_with-over-slices form ta_bpe_pairs measured 5x faster than
    the sequence/element_at lambda. The lookup join carries NO
    broadcast hint for the same open-vocab reason as the unigram LM:
    a web-crawl bigram vocabulary scales with the corpus, so AQE's
    runtime-size decision is the safe default."""
    docs = _docs(spark, sf_dir)
    bi = (
        docs.select("doc_id", _words().alias("ws"))
        .select("doc_id", F.explode(F.expr(_BIGRAM_STRUCTS)).alias("g"))
        .select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    )
    counts = (
        bi.groupBy("w1", "w2").agg(F.count("*").alias("c12")).localCheckpoint(eager=False)
    )
    ctx = counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    lm = counts.join(ctx, "w1").select(
        "w1", "w2", (-F.log(F.col("c12") / F.col("c1"))).alias("neg_lp")
    )
    return (
        bi.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            F.round(F.avg("neg_lp"), 6).alias("avg_neg_logprob"),
        )
    )


SQL_TA_BIGRAM_LP = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws, len(string_split(text, ' ')) AS n
  FROM documents
),
bi AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM w, unnest(generate_series(1, n - 1)) AS t(i)
  WHERE n >= 2
),
counts AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
ctx AS (SELECT w1, sum(c12) AS c1 FROM counts GROUP BY w1),
lm AS (
  SELECT c.w1, c.w2, -ln(c.c12::DOUBLE / x.c1) AS neg_lp
  FROM counts c JOIN ctx x USING (w1)
)
SELECT b.doc_id, CAST(count(*) AS INT) AS n_bigrams,
       round(avg(l.neg_lp), 6) AS avg_neg_logprob
FROM bi b JOIN lm l USING (w1, w2)
GROUP BY b.doc_id
"""


# --- per-source distribution shift (KL vs corpus unigram dist) ----------------


def q_ta_source_kl(spark, sf_dir):
    """(source, n_tokens, kl_vs_corpus): KL(q_source ‖ p_corpus) over
    unigram distributions — the domain-shift dashboard metric a data
    recipe watches when a new source lands (a source whose KL spikes
    is lexically unlike the corpus and gets a human look before its
    mix weight does). Every source token also appears in the corpus
    distribution by construction, so no zero-support terms.

    Shape: ONE corpus tokenize pass builds the (source, word) count
    table (lineage-truncated); the corpus marginal, the per-source
    totals, and the grand total all FOLD OUT of that table as
    groupBy-sums — zero additional corpus scans, three posting-shape
    aggregations whose keys are words/sources (well spread / tiny).
    Rounded at 6 places to absorb summation-order wobble."""
    docs = _docs(spark, sf_dir)
    sw = (
        docs.select("source", F.explode(_words()).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("c_sw"))
        .localCheckpoint(eager=False)
    )
    wc = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    st = sw.groupBy("source").agg(F.sum("c_sw").alias("c_s"))
    total = sw.agg(F.sum("c_sw").cast("double").alias("c_tot"))
    return (
        sw.join(wc, "w")
        .join(st, "source")
        .crossJoin(F.broadcast(total))
        .groupBy("source")
        .agg(
            F.max("c_s").cast("long").alias("n_tokens"),
            F.round(
                F.sum(
                    (F.col("c_sw") / F.col("c_s"))
                    * F.log((F.col("c_sw") / F.col("c_s")) / (F.col("c_w") / F.col("c_tot")))
                ),
                6,
            ).alias("kl_vs_corpus"),
        )
    )


SQL_TA_SOURCE_KL = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
sw AS (SELECT source, w, count(*) AS c_sw FROM toks GROUP BY source, w),
wc AS (SELECT w, sum(c_sw) AS c_w FROM sw GROUP BY w),
st AS (SELECT source, sum(c_sw) AS c_s FROM sw GROUP BY source),
tot AS (SELECT sum(c_sw)::DOUBLE AS c_tot FROM sw)
SELECT s.source, CAST(max(st.c_s) AS BIGINT) AS n_tokens,
       round(sum((s.c_sw / st.c_s)
                 * ln((s.c_sw / st.c_s) / (w.c_w / t.c_tot))), 6)
           AS kl_vs_corpus
FROM sw s JOIN wc w USING (w) JOIN st USING (source), tot t
GROUP BY s.source
"""


# --- BPE merge-pair counting (tokenizer training support) --------------------

BPE_TOP_PAIRS = 20


def q_ta_bpe_pairs(spark, sf_dir):
    """Corpus-level adjacent-token-pair counts — the first iteration
    of BPE merge training (count every adjacent pair, pick the most
    frequent). Complements ta_rep_2gram (per-doc repetition signal):
    this is the GLOBAL aggregate a tokenizer trainer consumes.

    Shape: bigrams come from a zip_with over two slices of a
    pre-projected words column (one narrow explode) — the earlier
    sequence/element_at form re-evaluated split(text) four times per
    row inside the lambda, which interpreted HOF eval does not CSE;
    measured at sf0.1 x local[32] (warm best-of-3, identical counts):
    2.91 s -> 0.58 s. The count is one shuffle on the pair key (well
    spread, map-side partial), and the top-K is TakeOrdered on
    (count desc, pair asc) — a total order, so the cut is
    deterministic. At 10^12 docs this is exactly the job shape; K and
    the vocab both stay driver-sized."""
    docs = _docs(spark, sf_dir).select(F.split(F.col("text"), " ").alias("ws"))
    grams = F.expr(
        "CASE WHEN size(ws) < 2 THEN array()"
        " ELSE zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),"
        " (a, b) -> concat(a, ' ', b)) END"
    )
    return (
        docs.select(F.explode(grams).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("pair"))
        .limit(BPE_TOP_PAIRS)
    )


SQL_TA_BPE_PAIRS = f"""
WITH w AS (
  SELECT string_split(text, ' ') AS ws, len(string_split(text, ' ')) AS n
  FROM documents
),
pairs AS (
  SELECT ws[i] || ' ' || ws[i + 1] AS pair
  FROM w, unnest(generate_series(1, n - 1)) AS t(i)
  WHERE n >= 2
)
SELECT pair, count(*) AS n_pairs
FROM pairs GROUP BY pair
ORDER BY n_pairs DESC, pair ASC
LIMIT {BPE_TOP_PAIRS}
"""


# --- BPE tokenizer: iterated merge training + corpus encode -------------------
#
# ta_bpe_pairs computes the FIRST merge's pair counts; these two
# queries complete the tokenizer (Sennrich et al. 2016): N rounds of
# (count adjacent symbol pairs over the word-frequency table -> take
# the most frequent pair -> merge it greedily left-to-right in every
# word), then a corpus encode. Spark-first shape: training runs on the
# WORD-FREQUENCY table, not the corpus — after one corpus-sized word
# count, every round touches only vocab-sized rows (10^7-10^8 words at
# web scale, distributed but tiny next to 10^12 docs). Each round is
# one pair-count aggregation plus ONE bounded 1-row collect (the
# argmax — the same bounded-scalar-probe pattern as the CC sizing
# count), and the merge applies as a pure Catalyst aggregate() fold:
# for a single pair (L, R), greedy non-overlapping LTR merging is
# exactly the fold "if last(acc)=L and t=R then replace-last, else
# append" (the merged symbol L||R can never equal L, so a fresh match
# can't chain onto a just-merged one). Production trains ~30k merges
# with a frequency-capped vocab sample; rounds scale linearly and the
# per-round plan is what the oracle verifies. Encoding the corpus
# needs NO per-word refolding: every corpus word is in the trained
# vocab, so encode = one explode + one well-spread equi-join against
# the final vocab segmentation (AQE broadcasts it when it fits).

BPE_MERGES = 6


def _bpe_adj_pairs(toks_col: str):
    """Adjacent symbol pairs of an array<string> column, as structs
    (zip_with over two slices — the ``_shingles_col`` idiom)."""
    return F.expr(
        f"CASE WHEN size({toks_col}) < 2 THEN array() "
        f"ELSE zip_with(slice({toks_col}, 1, size({toks_col}) - 1), "
        f"slice({toks_col}, 2, size({toks_col}) - 1), "
        f"(a, b) -> struct(a AS l, b AS r)) END"
    ).cast("array<struct<l:string,r:string>>")


def _sql_lit(s: str) -> str:
    """A Spark-SQL single-quoted string literal of arbitrary content.
    Merge symbols are corpus-DERIVED, so interpolating them unescaped
    into F.expr would be data-driven SQL injection (and a guaranteed
    ParseException on the first apostrophe in real web text — "don't"
    tops English pair counts). Spark's default parser honors C-style
    backslash escapes in literals."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _bpe_merge_expr(toks_col: str, l: str, r: str) -> str:
    """Greedy LTR non-overlapping merge of the pair (l, r) as a
    Catalyst fold. l/r come from the data — always quoted via
    ``_sql_lit``, never splice raw."""
    ll, rl, ml = _sql_lit(l), _sql_lit(r), _sql_lit(l + r)
    return (
        f"CASE WHEN size({toks_col}) < 2 THEN {toks_col} ELSE "
        f"aggregate(slice({toks_col}, 2, size({toks_col}) - 1), "
        f"array(element_at({toks_col}, 1)), "
        f"(acc, t) -> CASE WHEN element_at(acc, -1) = {ll} AND t = {rl} "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array({ml})) "
        f"ELSE concat(acc, array(t)) END) END"
    )


def bpe_train(docs: DataFrame, n_merges: int = BPE_MERGES):
    """Train ``n_merges`` BPE merges; returns (merge table rows as a
    list of (merge_rank, lhs, rhs, merged, pair_count), final vocab
    DataFrame (word, cnt, toks) with the trained segmentation).

    The vocab frame is localCheckpointed per round so round k's plan
    reads round k-1's materialized symbols instead of re-folding the
    whole merge history (the CC round-frame pattern)."""
    vocab = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .withColumn("toks", F.split("word", ""))
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        pairs = vocab.select("cnt", F.explode(_bpe_adj_pairs("toks")).alias("p"))
        best = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, c = best[0].l, best[0].r, int(best[0].pair_count)
        merges.append((rank, l, r, l + r, c))
        vocab = vocab.withColumn(
            "toks", F.expr(_bpe_merge_expr("toks", l, r))
        ).localCheckpoint(eager=False)
    return merges, vocab


_BPE_CACHE: dict[tuple, tuple] = {}


def bpe_train_corpus(spark, sf_dir, n_merges: int = BPE_MERGES):
    """``bpe_train`` over the corpus documents table, memoized per
    (session, corpus content, n_merges) — the `_CENTROID_CACHE`
    precedent: four registered queries (ta_bpe_train, ta_bpe_encode,
    ct_chunk_bpe, cur_shard_pack_bpe) consume the SAME trained vocab,
    and a production pipeline trains once and ships the merge table;
    retraining per query is n_merges full-vocab jobs of pure
    overhead. The vocab frame chain is localCheckpointed, so reuse
    also skips re-materializing every round's segmentation."""
    from .similarity import table_fingerprint

    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        table_fingerprint(sf_dir, "documents.parquet"),
        n_merges,
    )
    if key not in _BPE_CACHE:
        _BPE_CACHE[key] = bpe_train(_docs(spark, sf_dir), n_merges)
    return _BPE_CACHE[key]


def q_ta_bpe_train(spark, sf_dir):
    """The trained merge table: (merge_rank, lhs, rhs, merged,
    pair_count) for BPE_MERGES rounds, tiebreak (count desc, lhs asc,
    rhs asc) — deterministic on both engines (ASCII binary collation).
    The DuckDB oracle replays the identical rounds as chained CTEs
    with the fold expressed via list_reduce over a comma-separated
    symbol accumulator (symbols are [a-z0-9]+, so ',' is a safe
    separator and an exact last-symbol anchor)."""
    merges, _ = bpe_train_corpus(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_rank int, lhs string, rhs string, merged string, pair_count bigint",
    )


def q_ta_bpe_encode(spark, sf_dir):
    """Corpus encode under the trained merges: (doc_id, n_words,
    n_bpe_tokens) per document — the REAL token accounting shard
    packing and chunking budget against (whitespace counts
    under-charge rare words, which BPE splits into several symbols).
    One explode + one equi-join against the final vocab segmentation;
    document text is read once."""
    _, vocab = bpe_train_corpus(spark, sf_dir)
    seg = vocab.select("word", F.size("toks").alias("n_sym"))
    words = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    return (
        words.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
        )
    )


def q_ta_bpe_fertility(spark, sf_dir):
    """(lang, n_words, n_bpe_tokens, fertility): per-LANGUAGE BPE
    fertility — trained-BPE symbols per whitespace word — the
    tokenizer-bias dashboard metric a multilingual recipe watches (a
    language whose fertility is 2x another pays 2x the context budget
    per word, so mix weights and per-lang token budgets must be set
    on BPE tokens, not word counts; cur_domain_mix's budget is the
    consumer). Same single encode join as q_ta_bpe_encode (the vocab
    segmentation is trained once per session via bpe_train_corpus's
    memo), folded to one 5-row lang aggregate with map-side partials;
    fertility = exact-integer ratio rounded at 6, so both engines
    divide the same two ints."""
    _, vocab = bpe_train_corpus(spark, sf_dir)
    seg = vocab.select("word", F.size("toks").alias("n_sym"))
    words = (
        _docs(spark, sf_dir)
        .select("lang", F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    agg = words.join(seg, "word").groupBy("lang").agg(
        F.count("*").alias("n_words"),
        F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
    )
    return agg.select(
        "lang",
        "n_words",
        "n_bpe_tokens",
        F.round(F.col("n_bpe_tokens") / F.col("n_words"), 6).alias("fertility"),
    )


def _sql_ta_bpe_fertility(n_merges: int = BPE_MERGES) -> str:
    return f"""
WITH {_sql_bpe_rounds(n_merges)},
doc_words AS (
  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(v.toks)) AS BIGINT) AS n_bpe_tokens,
       round(sum(len(v.toks))::DOUBLE / count(*), 6) AS fertility
FROM doc_words d JOIN vocab{n_merges} v USING (word)
WHERE d.word <> ''
GROUP BY d.lang
"""


def bpe_symbol_docs(spark, sf_dir) -> DataFrame:
    """(doc_id, toks): each document's full trained-BPE symbol
    sequence, words segmented by the final vocab and re-assembled in
    original order. ONE doc_id exchange (posexplode keeps positions;
    array_sort over (pos, toks) structs restores order — collect_list
    itself is unordered and may not be relied on), one equi-join
    against the vocab segmentation."""
    _, vocab = bpe_train_corpus(spark, sf_dir)
    words = (
        _docs(spark, sf_dir)
        .select("doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word"))
        .filter(F.col("word") != "")
    )
    return (
        words.join(vocab.select("word", "toks"), "word")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.array_sort(F.collect_list(F.struct("pos", "toks"))).getField("toks")
            ).alias("toks")
        )
    )


def _sql_bpe_symbol_docs(n_merges: int = BPE_MERGES) -> str:
    """CTE suffix: doc_words with positions -> segmented -> per-doc
    symbol sequence `seq(doc_id, ws)`. Compose after
    ``_sql_bpe_rounds``."""
    return f"""dw AS (
  SELECT doc_id, i AS pos, ws[i] AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       unnest(generate_series(1, len(ws))) AS t(i)
  WHERE ws[i] <> ''
),
segd AS (
  SELECT d.doc_id, d.pos, v.toks FROM dw d JOIN vocab{n_merges} v USING (word)
),
seq AS (
  SELECT doc_id, flatten(list(toks ORDER BY pos)) AS ws FROM segd GROUP BY doc_id
)"""


def _sql_bpe_rounds(n_merges: int = BPE_MERGES) -> str:
    """Shared chained-CTE prefix replaying bpe_train's rounds in
    DuckDB: vocab0..vocabN and best0..best{N-1}."""
    parts = [
        """words AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
vocab0 AS (
  SELECT word, count(*) AS cnt, string_split(word, '') AS toks
  FROM words WHERE word <> '' GROUP BY word
)"""
    ]
    for k in range(n_merges):
        parts.append(
            f"""pairs{k} AS (
  SELECT toks[i] AS l, toks[i + 1] AS r, sum(cnt) AS pair_count
  FROM vocab{k}, unnest(generate_series(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 2 GROUP BY 1, 2
),
best{k} AS (
  SELECT l, r, pair_count FROM pairs{k}
  ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1
),
vocab{k + 1} AS (
  SELECT word, cnt,
    string_split(list_reduce(toks, (acc, t) -> CASE
      WHEN (acc = b.l OR ends_with(acc, ',' || b.l)) AND t = b.r
      THEN left(acc, length(acc) - length(b.l)) || b.l || b.r
      ELSE acc || ',' || t END), ',') AS toks
  FROM vocab{k}, best{k} b
)"""
        )
    return ",\n".join(parts)


def _sql_ta_bpe_train(n_merges: int = BPE_MERGES) -> str:
    union = "\n  UNION ALL\n".join(
        f"  SELECT CAST({k} AS INT) AS merge_rank, l AS lhs, r AS rhs, "
        f"l || r AS merged, CAST(pair_count AS BIGINT) AS pair_count FROM best{k}"
        for k in range(n_merges)
    )
    return f"""
WITH {_sql_bpe_rounds(n_merges)}
{union}
"""


def _sql_ta_bpe_encode(n_merges: int = BPE_MERGES) -> str:
    return f"""
WITH {_sql_bpe_rounds(n_merges)},
doc_words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(v.toks)) AS BIGINT) AS n_bpe_tokens
FROM doc_words d JOIN vocab{n_merges} v USING (word)
WHERE d.word <> ''
GROUP BY d.doc_id
"""


# --- hashed-feature linear model inference -----------------------------------
#
# The fastText-style quality-classifier skeleton: hashing-trick
# bag-of-words features scored by a linear model, the inference shape
# a production curation pass runs over every document (CCNet's
# fastText lang-id + quality heads, Gopher's classifier gates). The
# weights here are a deterministic pseudo-model (no training data in
# the sandbox); what is REAL and load-bearing is the plan: bucket =
# md5-hash of the token into HS_BUCKETS, weight = table-free function
# of the bucket, score = mean token weight — all inside ONE
# whole-stage-codegen projection (HOF fold over the split tokens), so
# model inference costs a scan with ZERO shuffle and ZERO Python. A
# trained model swaps the weight expression for a broadcast
# map_from_arrays lookup — same plan class.

HS_BUCKETS = 512
HS_MIX = 2654435761  # Knuth multiplicative constant; bucket*HS_MIX < 2^41


def _hash_bucket(w, n: int):
    """The md5 hashing-trick bucket (first 8 hex chars -> int64 % n),
    shared by the fixed-model scorer (HS_BUCKETS) and the classifier
    trainer (TRAIN_DIM) so the expression cannot drift between the
    two. SQL twin: _sql_hash_bucket."""
    return (
        F.conv(F.substring(F.md5(w.cast("binary")), 1, 8), 16, 10).cast("long") % n
    )


def _sql_hash_bucket(expr: str, n: int) -> str:
    """DuckDB form of _hash_bucket, digit-for-digit."""
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT % {n})"


def _hs_weight(bucket):
    """Deterministic weight in [-1, 1] for a feature bucket: the
    multiplicative-mix residue mapped linearly. Mirrored digit-for-
    digit by the oracle SQL (all-integer until the final divide)."""
    return ((bucket * F.lit(HS_MIX)) % 2001 - F.lit(1000)) / F.lit(1000.0)


def q_ta_hash_score(spark, sf_dir):
    """(doc_id, n_tokens, hash_score, keep): mean hashed-feature
    weight per document and the threshold verdict (score > 0). Scores
    are rounded at 6 places to absorb float summation-order wobble
    (the fold is sequential over the token array in both engines, but
    rounding keeps the contract engine-order-independent)."""
    words = _words()
    total = F.aggregate(
        words,
        F.lit(0.0),
        lambda acc, w: acc + _hs_weight(_hash_bucket(w, HS_BUCKETS)),
    )
    score = F.round(total / F.size(words), 6)
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.size(words).alias("n_tokens"),
            score.alias("hash_score"),
        )
        .withColumn("keep", F.col("hash_score") > 0)
    )


SQL_TA_HASH_SCORE = f"""
WITH scored AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         round(list_sum(list_transform(string_split(text, ' '),
             w -> ({_sql_hash_bucket("w", HS_BUCKETS)}
                   * {HS_MIX} % 2001 - 1000) / 1000.0))
           / len(string_split(text, ' ')), 6) AS hash_score
  FROM documents
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, hash_score,
       hash_score > 0 AS keep
FROM scored
"""


# --- hashed-feature linear classifier TRAINING --------------------------------
#
# The training half of the `ta_hash_score` family: `q_ta_hash_score`
# ships INFERENCE over a fixed pseudo-model and its docstring promises
# "a trained model swaps the weight expression for a broadcast
# lookup". This section trains that model distributed — full-batch
# gradient descent where each round is ONE aggregate over a
# checkpointed (doc_id, feature, count, label) posting table plus a
# 65-row collect — the same bounded-driver-loop shape as `sim_kmeans`
# (Lloyd's) and `hx_pagerank` (power iteration).
#
# Determinism contract (the reason this trains a CLAMPED-LINEAR
# logistic surrogate, p = clamp(0.5 + z/4, 0, 1), not exp-sigmoid):
# every arithmetic step is IEEE-754 +,-,*,/ on doubles derived from
# integers — no transcendental calls — so Spark (JVM) and DuckDB
# (libm) compute bit-identical probabilities; gradients quantize to
# integer micro-units BEFORE the cross-row sum (order-independent,
# the hx_pagerank protocol), and weights stay integers end-to-end.
# An exp-based sigmoid would leave the oracle at the mercy of 1-ulp
# libm divergence amplified across rounds.
#
# Labels are derived from the corpus itself (y = doc contains
# TRAIN_LABEL_TOKEN — a 76/24 split on the test corpus), so the
# planted signal is real and the pytest asserts the trainer finds it:
# the label token's bucket ends as the LARGEST positive weight and
# the trained scorer RANKS the classes apart (AUC 0.82/0.83 at
# sf0.001/0.01; positive-class mean score ~2x the negative mean).
# What the demo corpus cannot give is 0-threshold accuracy above the
# majority rate: the synthetic vocabulary is 31 tokens shared by
# every lang, docs are long, so presence features are near-constant
# across documents and the decision boundary sits inside the
# majority mass (measured across an lr x rounds x D x normalization
# sweep — it is a property of the corpus, not the trainer; the PQ
# recall note is the precedent for documenting exactly this).
#
# Scale shape: the posting table is built once (explode + one
# groupBy), repartitioned by doc_id and checkpointed; each round is
# a doc-local dot product (no exchange: posting is doc_id
# partitioned), one co-partitioned join, and a 65-key gradient
# groupBy with map-side partials. 10^12 docs cost rounds × (one scan
# + one tiny shuffle); weights (65 ints) broadcast back as literals.
# At that scale gradients use 1e6 units instead of 1e9 to keep the
# BIGINT sum under 2^63 (documented, not plumbed: the sandbox corpus
# is 9 orders of magnitude away).

TRAIN_DIM = 64  # feature buckets; feature TRAIN_DIM is the bias
TRAIN_ROUNDS = 3
TRAIN_LR = 0.05
TRAIN_MICRO = 1_000_000_000
TRAIN_LABEL_TOKEN = "the"


def _train_posting(spark, sf_dir):
    """(doc_id, j, c, y): hashed bag-of-words counts (the shared
    _hash_bucket trick at TRAIN_DIM), a per-doc bias row
    (j = TRAIN_DIM, c = 1), and the corpus-derived label. The
    (doc_id, ws) projection is lazily checkpointed HERE — the
    counts/bias/label branches all fan out of it, so materializing
    it once is what makes the posting build a single corpus scan.
    The label coalesces NULL->0 (a NULL-text doc still enters via the
    bias branch) to match the oracle's CASE ... ELSE 0 exactly."""
    base = (
        _docs(spark, sf_dir)
        .select("doc_id", _words().alias("ws"))
        .localCheckpoint(eager=False)
    )
    lab = base.select(
        "doc_id",
        F.coalesce(
            F.array_contains("ws", TRAIN_LABEL_TOKEN).cast("int"), F.lit(0)
        ).alias("y"),
    )
    counts = (
        base.select("doc_id", F.explode("ws").alias("w"))
        .select("doc_id", _hash_bucket(F.col("w"), TRAIN_DIM).cast("int").alias("j"))
        .groupBy("doc_id", "j")
        .agg(F.count("*").alias("c"))
    )
    bias = base.select(
        "doc_id", F.lit(TRAIN_DIM).alias("j"), F.lit(1).cast("long").alias("c")
    )
    return counts.unionByName(bias).join(lab, "doc_id")


def _round_half_away(x: float) -> int:
    """TRUE half-away-from-zero on doubles — matches DuckDB round()
    (std::round) for EVERY input, including values one ulp below a
    half-integer where the naive floor(x+0.5) trick is wrong (the add
    pushes 0.49999999999999994 up to 1.0 and floor returns 1 where
    round returns 0). Python's built-in round is banker's, hence
    neither works here. For |x| < 2^52 the fractional part under
    subtraction is exact, so the >= 0.5 comparison never sees
    rounding error; trainer inputs are bounded far below that."""
    import math

    if x >= 0:
        f = math.floor(x)
        return int(f) + (1 if x - f >= 0.5 else 0)
    c = math.ceil(x)
    return int(c) - (1 if c - x >= 0.5 else 0)


_CLF_CACHE: dict[tuple, list] = {}


def train_linear_clf(spark, sf_dir, rounds: int = TRAIN_ROUNDS) -> list[int]:
    """TRAIN_DIM+1 integer micro-unit weights after ``rounds``
    full-batch GD rounds, memoized per (session, corpus content,
    rounds) — the `_BPE_CACHE` precedent: both registered consumers
    ship the SAME model."""
    from .similarity import table_fingerprint

    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        table_fingerprint(sf_dir, "documents.parquet"),
        rounds,
    )
    if key in _CLF_CACHE:
        return _CLF_CACHE[key]
    posting = _train_posting(spark, sf_dir).repartition("doc_id").localCheckpoint()
    n_docs = posting.filter(F.col("j") == TRAIN_DIM).count()
    w = [0] * (TRAIN_DIM + 1)
    for _ in range(rounds):
        warr = F.array([F.lit(int(v)).cast("long") for v in w])
        zdoc = posting.groupBy("doc_id", "y").agg(
            F.sum(F.element_at(warr, F.col("j") + 1) * F.col("c")).alias("zi")
        )
        pr = F.least(
            F.greatest(
                F.lit(0.5) + (F.col("zi") / F.lit(float(TRAIN_MICRO))) / F.lit(4.0),
                F.lit(0.0),
            ),
            F.lit(1.0),
        )
        grads = (
            zdoc.select("doc_id", pr.alias("pr"), "y")
            .join(posting.select("doc_id", "j", "c"), "doc_id")
            .select(
                "j",
                F.round((F.col("pr") - F.col("y")) * F.col("c") * F.lit(float(TRAIN_MICRO)))
                .cast("long")
                .alias("g"),
            )
            .groupBy("j")
            .agg(F.sum("g").alias("g"))
            .collect()
        )
        gmap = {r["j"]: r["g"] for r in grads}
        w = [
            wi - _round_half_away(gmap.get(jj, 0) * TRAIN_LR / n_docs)
            for jj, wi in enumerate(w)
        ]
    _CLF_CACHE[key] = w
    return w


def q_ta_train_linear_clf(spark, sf_dir):
    """The trained model itself: (feature_id, w_micro) for the
    TRAIN_DIM hashing-trick buckets + bias, after TRAIN_ROUNDS exact
    integer-unit GD rounds. The DuckDB oracle replays the identical
    rounds as chained CTEs (w0 → z/p/g/w per round), digit-for-digit."""
    w = train_linear_clf(spark, sf_dir)
    return spark.createDataFrame(
        [(j, int(v)) for j, v in enumerate(w)], "feature_id int, w_micro long"
    )


def clf_score_verdicts(docs: DataFrame, weights: list) -> DataFrame:
    """(doc_id, y, score_micro, keep) under a trained weight vector —
    the SHARED inference projection consumed by the batch query AND
    the streaming ingest gate (streaming/pipeline.stream_clf_gate),
    so a document admitted at ingest and one admitted by the batch
    screen agree by construction.

    Plan shape: the 65 trained weights enter as an array literal and
    the score is ONE whole-stage-codegen fold over the token array
    (acc + warr[bucket(w)], seeded with the bias weight) — integer
    adds are associative, so the fold equals the posting-table
    grouped dot product digit-for-digit while needing ZERO shuffle
    and ZERO Python: trained-model inference costs exactly what the
    fixed-model `q_ta_hash_score` scan costs. NULL text coalesces to
    the empty array (score = bias alone), matching the posting path
    where such a doc carries only its bias row."""
    warr = F.array([F.lit(int(v)).cast("long") for v in weights])
    ws = F.coalesce(_words(), F.array())
    score = F.aggregate(
        ws,
        F.lit(int(weights[TRAIN_DIM])).cast("long"),
        lambda acc, w: acc
        + F.element_at(warr, _hash_bucket(w, TRAIN_DIM).cast("int") + 1),
    )
    # no coalesce needed on y: ws is already a non-NULL array, so
    # array_contains cannot return NULL here (unlike _train_posting,
    # whose label coalesce IS load-bearing over the raw split)
    y = F.array_contains(ws, TRAIN_LABEL_TOKEN).cast("int")
    return docs.select(
        "doc_id",
        y.alias("y"),
        score.alias("score_micro"),
        (score > 0).alias("keep"),
    )


def q_ta_hash_score_trained(spark, sf_dir):
    """Inference under the TRAINED model — the broadcast-lookup plan
    `q_ta_hash_score`'s docstring promises, via the shared zero-
    shuffle fold projection (clf_score_verdicts). The oracle computes
    the same integers through the posting-table dot product — the
    fold/posting identity is exact because integer addition is
    associative."""
    w = train_linear_clf(spark, sf_dir)
    return clf_score_verdicts(_docs(spark, sf_dir), w)


def q_ta_clf_eval(spark, sf_dir):
    """(y, keep, n): the trained classifier's confusion table over the
    corpus — the model-EVAL stage a pipeline runs before deploying the
    ingest gate (st_clf_gate). Exact integer counts from the shared
    zero-shuffle scoring projection (precision/recall/accuracy are
    one division away from these four cells; shipping the cells keeps
    the contract integer-exact). One scan + one 4-group aggregate
    with map-side partials — eval costs no more than inference.

    Registered BELOW the driver-window boundary (the window is full
    of higher-priority entries): verified by the in-session full
    check_oracles sweep rather than a driver row."""
    w = train_linear_clf(spark, sf_dir)
    v = clf_score_verdicts(_docs(spark, sf_dir), w)
    return v.groupBy("y", "keep").agg(F.count("*").alias("n"))


def _clf_sql_prefix() -> str:
    """Shared CTE chain: posting/label construction + TRAIN_ROUNDS
    unrolled GD rounds ending at weights CTE w{TRAIN_ROUNDS}."""
    parts = [
        f"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
lab AS (SELECT doc_id,
               CASE WHEN list_contains(ws, '{TRAIN_LABEL_TOKEN}') THEN 1 ELSE 0 END AS y
        FROM base),
tok AS (SELECT doc_id, unnest(ws) AS w FROM base),
posting AS (
  SELECT doc_id,
         CAST({_sql_hash_bucket("w", TRAIN_DIM)} AS INT) AS j,
         CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2
  UNION ALL
  SELECT doc_id, {TRAIN_DIM} AS j, CAST(1 AS BIGINT) AS c FROM base
),
pl AS (SELECT p.doc_id, p.j, p.c, l.y FROM posting p JOIN lab l USING (doc_id)),
nd AS (SELECT count(*) AS n FROM base),
w0 AS (SELECT CAST(t.j AS INT) AS j, CAST(0 AS BIGINT) AS wi FROM range({TRAIN_DIM + 1}) t(j))"""
    ]
    for r in range(1, TRAIN_ROUNDS + 1):
        parts.append(
            f"""z{r} AS (SELECT pl.doc_id, pl.y, sum(pl.c * w.wi) AS zi
       FROM pl JOIN w{r - 1} w USING (j) GROUP BY pl.doc_id, pl.y),
p{r} AS (SELECT doc_id, y,
                least(greatest(0.5 + (zi / {float(TRAIN_MICRO)}) / 4.0, 0.0), 1.0) AS pr
         FROM z{r}),
g{r} AS (SELECT pl.j,
                sum(CAST(round((pp.pr - pl.y) * pl.c * {float(TRAIN_MICRO)}) AS BIGINT)) AS g
         FROM p{r} pp JOIN pl ON pp.doc_id = pl.doc_id GROUP BY pl.j),
w{r} AS (SELECT w.j,
                w.wi - CAST(round(COALESCE(g.g, 0) * {TRAIN_LR} / (SELECT n FROM nd))
                            AS BIGINT) AS wi
         FROM w{r - 1} w LEFT JOIN g{r} g USING (j))"""
        )
    return ",\n".join(parts)


SQL_TA_TRAIN_CLF = f"""
{_clf_sql_prefix()}
SELECT j AS feature_id, wi AS w_micro FROM w{TRAIN_ROUNDS}
"""

SQL_TA_HASH_SCORE_TRAINED = f"""
{_clf_sql_prefix()}
SELECT pl.doc_id, pl.y,
       CAST(sum(pl.c * w.wi) AS BIGINT) AS score_micro,
       sum(pl.c * w.wi) > 0 AS keep
FROM pl JOIN w{TRAIN_ROUNDS} w USING (j)
GROUP BY pl.doc_id, pl.y
"""

SQL_TA_CLF_EVAL = f"""
{_clf_sql_prefix()},
scored AS (
  SELECT pl.doc_id, pl.y, sum(pl.c * w.wi) > 0 AS keep
  FROM pl JOIN w{TRAIN_ROUNDS} w USING (j)
  GROUP BY pl.doc_id, pl.y
)
SELECT y, keep, CAST(count(*) AS BIGINT) AS n FROM scored GROUP BY y, keep
"""


# --- C4-style heuristic cleaning rules (Raffel et al. 2020, §2.2) -------------
#
# The classic line+document rule bundle crawl pipelines run beside the
# Gopher gates: keep only lines ending in terminal punctuation that
# carry >= C4_MIN_LINE_WORDS words and are not policy boilerplate (the
# "javascript" rule); drop whole documents containing a curly brace
# (code), the "lorem ipsum" placeholder, or fewer than
# C4_MIN_KEPT_LINES surviving lines. Lines reuse the corpus's
# WORDS_PER_LINE segmentation (the ta_boilerplate_strip rule). The
# sandbox corpus is punctuation-free, so the rule-relevant features
# are synthesized deterministically per (doc_id, line pos) — keyed on
# (doc_id*31 + pos) % 7, mirrored in the oracle CTE — while the
# predicates themselves are the real C4 rules (pytest proves them on
# hand-written natural text). Shape: ONE zero-shuffle projection of
# stacked higher-order functions over each document's line array —
# no explode, no Python, nothing to re-partition at 10^12 rows.

C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 5
# line-LEVEL damage cycles per (doc, pos); doc-LEVEL drop features
# (brace / lorem) are injected on line 0 of sparse doc_id slices so
# the doc verdict actually splits (a per-line cycle would plant a
# brace in EVERY >=7-line document and the gate would never pass).
C4_BRACE_MOD = 13
C4_LOREM_MOD = 17

_C4_LINES_EXPR = (
    f"transform("
    f"transform(sequence(0, cast(ceil(size(split(text, ' ')) / {BP_WORDS_PER_LINE}.0)"
    f" as int) - 1),"
    f" i -> named_struct('pos', i, 'line',"
    f" array_join(slice(split(text, ' '), i * {BP_WORDS_PER_LINE} + 1,"
    f" {BP_WORDS_PER_LINE}), ' '))),"
    " s -> concat("
    f" CASE WHEN s.pos = 0 AND doc_id % {C4_LOREM_MOD} = 0"
    " THEN 'lorem ipsum ' ELSE '' END,"
    " CASE cast((doc_id * 31 + s.pos) % 7 as int)"
    " WHEN 0 THEN s.line"                          # no terminal punctuation
    " WHEN 3 THEN concat(s.line, ' javascript.')"  # policy boilerplate
    " ELSE concat(s.line, '.') END,"
    f" CASE WHEN s.pos = 0 AND doc_id % {C4_BRACE_MOD} = 0"
    " THEN ' {' ELSE '' END))"
)

_C4_KEEP_LINE = (
    f"l -> endswith(l, '.') AND size(split(l, ' ')) >= {C4_MIN_LINE_WORDS}"
    " AND NOT contains(l, 'javascript')"
)


def c4_verdicts(docs: DataFrame) -> DataFrame:
    """The C4 gate bundle over ANY (doc_id, text) relation — one
    stateless zero-shuffle projection shared by the batch query and
    the streaming ingest gate (streaming/pipeline.stream_c4_rules),
    the same shared-projection parity contract as quality_verdicts."""
    d = docs.select("doc_id", F.expr(_C4_LINES_EXPR).alias("ls"))
    n_kept = F.size(F.expr(f"filter(ls, {_C4_KEEP_LINE})"))
    has_brace = F.expr("exists(ls, l -> contains(l, '{'))")
    has_lorem = F.expr("exists(ls, l -> contains(l, 'lorem ipsum'))")
    return d.select(
        "doc_id",
        F.size("ls").cast("int").alias("n_lines"),
        n_kept.cast("int").alias("n_kept"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        (~has_brace & ~has_lorem & (n_kept >= C4_MIN_KEPT_LINES)).alias("c4_keep"),
    )


def q_ta_c4_rules(spark, sf_dir):
    """(doc_id, n_lines, n_kept, has_brace, has_lorem, c4_keep): the
    C4 cleaning verdict per document. All six columns fall out of one
    stacked-HOF projection over the synthesized line array."""
    return c4_verdicts(_docs(spark, sf_dir))


SQL_TA_C4_RULES = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         CAST(ceil(len(string_split(text, ' ')) / {BP_WORDS_PER_LINE}.0) AS INT) AS nl
  FROM documents
),
posting AS (
  SELECT doc_id, i AS pos,
         array_to_string(ws[i*{BP_WORDS_PER_LINE}+1 : (i+1)*{BP_WORDS_PER_LINE}], ' ')
             AS line
  FROM toks, LATERAL unnest(range(0, nl)) AS t(i)
),
dmg AS (
  SELECT doc_id, pos,
    CASE WHEN pos = 0 AND doc_id % {C4_LOREM_MOD} = 0 THEN 'lorem ipsum ' ELSE '' END
    || CASE (doc_id * 31 + pos) % 7
         WHEN 0 THEN line
         WHEN 3 THEN line || ' javascript.'
         ELSE line || '.' END
    || CASE WHEN pos = 0 AND doc_id % {C4_BRACE_MOD} = 0 THEN ' {{' ELSE '' END
        AS line
  FROM posting
),
v AS (
  SELECT doc_id,
         (ends_with(line, '.') AND len(string_split(line, ' ')) >= {C4_MIN_LINE_WORDS}
          AND NOT contains(line, 'javascript')) AS keep,
         contains(line, '{{') AS brace,
         contains(line, 'lorem ipsum') AS lorem
  FROM dmg
)
SELECT doc_id, CAST(count(*) AS INT) AS n_lines,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS INT) AS n_kept,
       bool_or(brace) AS has_brace, bool_or(lorem) AS has_lorem,
       (NOT bool_or(brace) AND NOT bool_or(lorem)
        AND sum(CASE WHEN keep THEN 1 ELSE 0 END) >= {C4_MIN_KEPT_LINES}) AS c4_keep
FROM v GROUP BY doc_id
"""


# --- perplexity-tercile bucketing (CCNet head/middle/tail) ---------------------
#
# CCNet's signature move: score each doc by LM perplexity, cut each
# language at its own terciles, and label head/middle/tail so
# downstream sampling can prefer the head. The score is the
# ta_unigram_logprob plan (a trained KenLM swaps the table, not the
# plan); the scale-relevant part is the CUTOFF shape — a per-lang
# window (ntile/percent_rank) would ship each language's WHOLE corpus
# to one task, so instead the cutoffs are a 2-value-per-lang aggregate
# broadcast back onto the scored frame (the cur_domain_mix totals
# idiom): the corpus-sized side never re-shuffles. Scores are
# quantized to integer micro-units BEFORE the percentile so both
# engines interpolate over identical integers, and the interpolated
# cutoff is floored to kill last-ulp wobble. The exact percentile
# buffers per-lang values at the aggregator; at 10^12 rows swap in
# approx_percentile exactly as ta_len_quantiles_approx documents —
# same plan, fixed sketch state.

PPL_P1 = 1.0 / 3.0
PPL_P2 = 2.0 / 3.0


def q_ta_ppl_buckets(spark, sf_dir):
    """(doc_id, lang, lp_micro, bucket): per-language perplexity-proxy
    terciles. bucket = head (lowest mean -ln p), middle, tail."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", "lang", F.explode(_words()).alias("w"))
    counts = (
        toks.groupBy("w").agg(F.count("*").alias("cnt")).localCheckpoint(eager=False)
    )
    total = counts.agg(F.sum("cnt").cast("double").alias("total"))
    vocab = counts.crossJoin(F.broadcast(total)).select(
        "w", (-F.log(F.col("cnt") / F.col("total"))).alias("neg_lp")
    )
    # Materialize the scored frame once (it feeds both the cutoff
    # aggregate and the final projection — without the checkpoint the
    # whole tokenize+join subtree would run twice).
    lp = (
        toks.join(vocab, "w")
        .groupBy("doc_id", "lang")
        .agg(F.round(F.avg("neg_lp"), 6).alias("r6"))
        .select(
            "doc_id",
            "lang",
            F.round(F.col("r6") * 1e6).cast("bigint").alias("lp_micro"),
        )
        .localCheckpoint(eager=False)
    )
    cuts = lp.groupBy("lang").agg(
        F.floor(F.expr(f"percentile(lp_micro, {PPL_P1!r})")).cast("bigint").alias("c33"),
        F.floor(F.expr(f"percentile(lp_micro, {PPL_P2!r})")).cast("bigint").alias("c66"),
    )
    return lp.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "lp_micro",
        F.when(F.col("lp_micro") <= F.col("c33"), F.lit("head"))
        .when(F.col("lp_micro") <= F.col("c66"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


SQL_TA_PPL_BUCKETS = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
),
vocab AS (
  SELECT w, -ln(count(*)::DOUBLE / (SELECT count(*) FROM toks)) AS neg_lp
  FROM toks GROUP BY w
),
lp AS (
  SELECT t.doc_id, t.lang,
         CAST(round(round(avg(v.neg_lp), 6) * 1000000) AS BIGINT) AS lp_micro
  FROM toks t JOIN vocab v USING (w)
  GROUP BY t.doc_id, t.lang
),
cuts AS (
  SELECT lang,
         CAST(floor(quantile_cont(lp_micro, {PPL_P1!r})) AS BIGINT) AS c33,
         CAST(floor(quantile_cont(lp_micro, {PPL_P2!r})) AS BIGINT) AS c66
  FROM lp GROUP BY lang
)
SELECT l.doc_id, l.lang, l.lp_micro,
       CASE WHEN l.lp_micro <= c.c33 THEN 'head'
            WHEN l.lp_micro <= c.c66 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM lp l JOIN cuts c USING (lang)
"""


# --- Zipf-fit vocabulary diagnostic -------------------------------------------
#
# Corpus-health dashboard row: fit ln(freq) ~ ln(rank) over each
# language's top ZIPF_TOP_R terms. Natural language reads slope ~ -1
# (Zipf's law); machine-generated or template-heavy slices bend the
# curve, so the slope + fit quality is the cheap drift alarm a corpus
# refresh watches. The rank pass reuses the hx_host_budget skew-safe
# two-phase top-K (a per-lang window over the RAW term table would
# ship an open vocabulary's whole lang slice to one task; after phase
# one at most R x partitions rows per lang reach the global window).
# The regression is the integer-micro-unit closed form (the
# hx_pagerank arithmetic discipline): ln's are quantized to 1e-6,
# all five regression sums are exact int64 (bounded: |x|,|y| <= 2e7,
# R = 200 => every sum < 2^62), and only the final slope/r2 division
# runs in double — identical inputs, identical formula, identical
# doubles on both engines.

ZIPF_TOP_R = 200


def q_ta_zipf_fit(spark, sf_dir):
    """(lang, n_terms, zipf_slope, zipf_r2): per-language least-squares
    fit of ln(term frequency) against ln(frequency rank)."""
    from pyspark.sql import Window

    tf = (
        _docs(spark, sf_dir)
        .select("lang", F.explode(_words()).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("cnt"))
    )
    order = [F.col("cnt").desc(), F.col("w").asc()]
    local = (
        tf.withColumn("pid", F.spark_partition_id())
        .withColumn(
            "lr", F.row_number().over(Window.partitionBy("lang", "pid").orderBy(*order))
        )
        .filter(F.col("lr") <= ZIPF_TOP_R)
        .drop("pid", "lr")
    )
    ranked = (
        local.withColumn(
            "r", F.row_number().over(Window.partitionBy("lang").orderBy(*order))
        )
        .filter(F.col("r") <= ZIPF_TOP_R)
        .select(
            "lang",
            F.round(F.log("r") * 1e6).cast("bigint").alias("x"),
            F.round(F.log("cnt") * 1e6).cast("bigint").alias("y"),
        )
    )
    s = ranked.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "lang",
        F.col("n").cast("int").alias("n_terms"),
        F.round(num.cast("double") / den_x.cast("double"), 6).alias("zipf_slope"),
        F.round(
            (num.cast("double") * num.cast("double"))
            / (den_x.cast("double") * den_y.cast("double")),
            6,
        ).alias("zipf_r2"),
    )


SQL_TA_ZIPF_FIT = f"""
WITH tf AS (
  SELECT lang, w, count(*) AS cnt
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY lang, w
),
ranked AS (
  SELECT lang,
         CAST(round(ln(r) * 1000000) AS BIGINT) AS x,
         CAST(round(ln(cnt) * 1000000) AS BIGINT) AS y
  FROM (
    SELECT lang, cnt,
           row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, w ASC) AS r
    FROM tf
  )
  WHERE r <= {ZIPF_TOP_R}
),
s AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM ranked GROUP BY lang
)
SELECT lang, CAST(n AS INT) AS n_terms,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
       round((CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS zipf_r2
FROM s
"""


# --- n-gram novelty (data-valuation signal) -----------------------------------
#
# What does each document ADD to the corpus? novelty = the fraction of
# its distinct n-grams whose globally FIRST occurrence (min doc_id —
# ingestion order in this corpus) is this document. Near-duplicates
# and boilerplate-heavy pages score ~0; genuinely new content scores
# high — the cheap data-valuation signal dedup-threshold tuning and
# crawl-frontier prioritization both read. Shape: one shingle explode
# → distinct posting → gram-keyed min fold → ONE equi-join back on the
# well-spread gram key → per-doc rollup. No window over the posting,
# nothing quadratic.

NOVELTY_N = 3


def q_ta_ngram_novelty(spark, sf_dir):
    """(doc_id, n_grams, n_novel, novelty): distinct-3-gram first-
    occurrence novelty per document (docs with < 3 words carry no
    gram and drop out — mirrored in the oracle)."""
    n = NOVELTY_N
    grams_expr = (
        f"CASE WHEN size(ws) < {n} THEN array() ELSE "
        f"transform(sequence(1, size(ws) - {n} + 1), "
        f"i -> array_join(slice(ws, i, {n}), ' ')) END"
    )
    posting = (
        _docs(spark, sf_dir)
        .select("doc_id", _words().alias("ws"))
        .select("doc_id", F.explode(F.expr(grams_expr)).alias("g"))
        .distinct()
    )
    first = posting.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        posting.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("int")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty"),
        )
    )


SQL_TA_NGRAM_NOVELTY = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS n
  FROM documents
),
posting AS (
  SELECT DISTINCT doc_id, array_to_string(ws[i : i + {NOVELTY_N} - 1], ' ') AS g
  FROM w, unnest(generate_series(1, n - {NOVELTY_N} + 1)) AS t(i)
  WHERE n >= {NOVELTY_N}
),
first AS (SELECT g, min(doc_id) AS first_doc FROM posting GROUP BY g)
SELECT p.doc_id,
       CAST(count(*) AS INT) AS n_grams,
       CAST(sum((f.first_doc = p.doc_id)::INT) AS INT) AS n_novel,
       round(sum((f.first_doc = p.doc_id)::INT)::DOUBLE / count(*), 6) AS novelty
FROM posting p JOIN first f USING (g)
GROUP BY p.doc_id
"""


QUERIES = {
    "ta_token_count": q_ta_token_count,
    "ta_quality": q_ta_quality,
    "ta_lang_id": q_ta_lang_id,
    "ta_fingerprint": q_ta_fingerprint,
    "ta_rep_2gram": q_ta_rep_2gram,
    "ta_entropy": q_ta_entropy,
    "ta_tfidf_topk": q_ta_tfidf_topk,
    "ta_pii_redact": q_ta_pii_redact,
    "ta_normalize": q_ta_normalize,
    "ta_len_quantiles": q_ta_len_quantiles,
    "ta_len_quantiles_approx": q_ta_len_quantiles_approx,
    "ta_boilerplate_strip": q_ta_boilerplate_strip,
    "ta_unigram_logprob": q_ta_unigram_logprob,
    "ta_bigram_logprob": q_ta_bigram_logprob,
    "ta_source_kl": q_ta_source_kl,
    "ta_bpe_pairs": q_ta_bpe_pairs,
    "ta_bpe_train": q_ta_bpe_train,
    "ta_bpe_encode": q_ta_bpe_encode,
    "ta_hash_score": q_ta_hash_score,
    "ta_train_linear_clf": q_ta_train_linear_clf,
    "ta_hash_score_trained": q_ta_hash_score_trained,
    "ta_clf_eval": q_ta_clf_eval,
    "ta_bpe_fertility": q_ta_bpe_fertility,
    "ta_c4_rules": q_ta_c4_rules,
    "ta_ppl_buckets": q_ta_ppl_buckets,
    "ta_zipf_fit": q_ta_zipf_fit,
    "ta_ngram_novelty": q_ta_ngram_novelty,
}

ORACLES = {
    "ta_token_count": SQL_TA_TOKENS,
    "ta_quality": SQL_TA_QUALITY,
    "ta_lang_id": SQL_TA_LANG,
    "ta_fingerprint": SQL_TA_FP,
    "ta_rep_2gram": SQL_TA_REP,
    "ta_entropy": SQL_TA_ENTROPY,
    "ta_tfidf_topk": SQL_TA_TFIDF,
    "ta_pii_redact": _sql_ta_pii(),
    "ta_normalize": SQL_TA_NORMALIZE,
    # ta_len_quantiles_approx is deliberately rows-only: the GK
    # sketch's element picks are engine-specific; its correctness
    # evidence is the tolerance-banded pytest vs the exact form.
    "ta_len_quantiles": SQL_TA_LEN_Q,
    "ta_boilerplate_strip": SQL_TA_BOILERPLATE,
    "ta_unigram_logprob": SQL_TA_UNIGRAM_LP,
    "ta_bigram_logprob": SQL_TA_BIGRAM_LP,
    "ta_source_kl": SQL_TA_SOURCE_KL,
    "ta_bpe_pairs": SQL_TA_BPE_PAIRS,
    "ta_bpe_train": _sql_ta_bpe_train(),
    "ta_bpe_encode": _sql_ta_bpe_encode(),
    "ta_hash_score": SQL_TA_HASH_SCORE,
    "ta_train_linear_clf": SQL_TA_TRAIN_CLF,
    "ta_hash_score_trained": SQL_TA_HASH_SCORE_TRAINED,
    "ta_clf_eval": SQL_TA_CLF_EVAL,
    "ta_bpe_fertility": _sql_ta_bpe_fertility(),
    "ta_c4_rules": SQL_TA_C4_RULES,
    "ta_ppl_buckets": SQL_TA_PPL_BUCKETS,
    "ta_zipf_fit": SQL_TA_ZIPF_FIT,
    "ta_ngram_novelty": SQL_TA_NGRAM_NOVELTY,
}
