"""SURVEY.md §2 relational operator surface, expressed Spark-first.

Each operator from the reference's inventory (filters, dedup windows,
joins incl. anti/semi, aggregations, window functions, set ops, scalar
functions) is registered here as a named query over the driver's
testdata tables, paired with a DuckDB-runnable ANSI-SQL oracle.

Numeric-exactness policy (Spark vs DuckDB value-hash equality):
  * integer aggregates stay integers (CAST DuckDB's HUGEINT sums to
    BIGINT);
  * money sums go through DECIMAL(18,2) then one cast to DOUBLE —
    exact decimal accumulation on both engines, identical final double;
  * ratio/float outputs are rounded to a fixed scale;
  * rounding of pixel math uses floor(x+0.5) — Spark ROUND is HALF_UP
    while DuckDB's is HALF-AWAY/EVEN depending on type, so neither is
    used (mirrors the banker's-rounding hazard in SURVEY.md §7).

Every aggregate/computed column is aliased identically in the Spark
plan and the SQL so the driver's sorted-column value hash lines up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- S2: format/IN-list whitelist filter (services/__init__.py:21-22) ----

_S2_SIZES = [1, 5, 9, 13, 17, 21, 25, 29, 33, 37]


def q_s2_whitelist_filter(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_size").isin(_S2_SIZES))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.min("p_retailprice").alias("min_price"),
            F.max("p_retailprice").alias("max_price"),
        )
    )


SQL_S2 = f"""
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_parts,
       min(p_retailprice) AS min_price,
       max(p_retailprice) AS max_price
FROM part WHERE p_size IN ({", ".join(map(str, _S2_SIZES))})
GROUP BY p_brand
"""


# --- S3: artifact-exclusion NOT-contains filter (main_body.py:165) --------

def q_s3_artifact_exclusion(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(~F.col("text").contains("window"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )


SQL_S3 = """
SELECT source, CAST(count(*) AS BIGINT) AS n_docs
FROM documents WHERE text NOT LIKE '%window%'
GROUP BY source
"""


# --- S4: duplicate-format window dedup (main_body.py:171-180) -------------

def q_s4_window_dedup(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderpriority")
    )


SQL_S4 = """
SELECT o_custkey, o_orderkey, o_orderpriority FROM (
  SELECT o_custkey, o_orderkey, o_orderpriority,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
  FROM orders) WHERE rn = 1
"""


# --- J1: ground-truth equi-join, broadcast dims (manager.py:327-333) ------

def q_j1_broadcast_join(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
        )
    )


SQL_J1 = """
SELECT r_name, CAST(count(*) AS BIGINT) AS n_cust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --- J2: targets x services cross product (manager.py:160-167) ------------

def q_j2_cross_fanout(spark, sf_dir):
    region = _t(spark, sf_dir, "region")
    prios = _t(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    return region.select("r_name").crossJoin(prios)


SQL_J2 = """
SELECT r_name, o_orderpriority
FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)
"""


# --- J3: checkpoint anti-join / resumability core (manager.py:281-285) ----

def q_j3_anti_join(spark, sf_dir):
    """Work-list minus checkpoints: customers with no 'done' marker
    (here: no large order) — the J3 resume anti-join shape. The filter
    on the right side is pushed below the anti-join by Catalyst."""
    customer = _t(spark, sf_dir, "customer")
    done = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return customer.join(
        done, customer.c_custkey == done.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


SQL_J3 = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
"""


# --- semi-join variant (J3's complement) ----------------------------------

def q_j3_semi_join(spark, sf_dir):
    supplier = _t(spark, sf_dir, "supplier")
    lineitem = _t(spark, sf_dir, "lineitem")
    return supplier.join(
        lineitem, supplier.s_suppkey == lineitem.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


SQL_J3_SEMI = """
SELECT s_suppkey, s_name FROM supplier
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
"""


# --- A1: min-fold scalar aggregate (manager.py:104-123) -------------------

def q_a1_minfold(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return part.agg(
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
        F.countDistinct("p_brand").alias("n_brands"),
        F.count("*").alias("n_parts"),
    )


SQL_A1 = """
SELECT min(p_retailprice) AS min_price, max(p_retailprice) AS max_price,
       CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands,
       CAST(count(*) AS BIGINT) AS n_parts
FROM part
"""


# --- A2: per-group error/total sums — TPC-H Q1 shape (comparison.py:161-168)

def q_a2_group_sums(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
            ).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


SQL_A2 = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
           AS sum_disc_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- W1: reading-order sort + top-k per group (microsoft.py:114-116) ------

def q_w1_reading_order_topk(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


SQL_W1 = """
SELECT user_id, event_id, rn FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
  FROM events) WHERE rn <= 3
"""


# --- W2: grid index assignment (images.py:310-313) ------------------------

def q_w2_grid_index(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    idx = F.row_number().over(w) - 1
    return events.select(
        "user_id",
        "event_id",
        F.pmod(idx, F.lit(4)).cast("int").alias("grid_h"),
        F.floor(idx / 4).cast("int").alias("grid_v"),
    )


SQL_W2 = """
SELECT user_id, event_id,
       CAST((rn - 1) % 4 AS INT) AS grid_h,
       CAST(floor((rn - 1) / 4.0) AS INT) AS grid_v
FROM (SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
      FROM events)
"""


# --- W4: first-page-only limit per group (images.py:211-218) --------------

def q_w4_first_per_group(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


SQL_W4 = """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
  FROM events) WHERE rn = 1
"""


# --- A4: cumulative window sum (images.py:306-314 cumsum analog) ----------

def q_a4_cumulative_sum(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double"), 2)
        .alias("running_value"),
    )


SQL_A4 = """
SELECT user_id, event_id,
       round(CAST(sum(CAST(value AS DECIMAL(18,2)))
             OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
           AS running_value
FROM events
"""


# --- SO1/SO2: set operations (manager.py:188; images.py:262) --------------

def q_so1_union_distinct(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


SQL_SO1 = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


def q_so2_except(spark, sf_dir):
    """EXCEPT DISTINCT: users seen in 'click' events but never in
    'error' events (display-kind set difference analog)."""
    ev = _t(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    erroring = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") > 95)
    ).select("user_id")
    return clickers.subtract(erroring)


SQL_SO2 = """
SELECT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error' AND value > 95
"""


def q_so3_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


SQL_SO3 = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


# --- C1-C5: string scalar functions ---------------------------------------

def q_c_string_normalize(spark, sf_dir):
    """C2 relax (lower+translate) + C3 whitespace squeeze on documents."""
    docs = _t(spark, sf_dir, "documents")
    relaxed = F.translate(F.lower(F.col("text")), ".,:;", "")
    return docs.select(
        "doc_id",
        F.regexp_replace(F.trim(relaxed), r"\s+", " ").alias("relaxed_text"),
        F.length("text").alias("n_chars_raw"),
    )


SQL_C_STRING = r"""
SELECT doc_id,
       regexp_replace(trim(translate(lower(text), '.,:;', '')), '\s+', ' ', 'g')
           AS relaxed_text,
       CAST(length(text) AS INT) AS n_chars_raw
FROM documents
"""


def q_c4_levenshtein(spark, sf_dir):
    """C4: built-in Levenshtein (Catalyst expression, reference
    comparison.py:182-183)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.levenshtein(F.col("c_name"), F.lit("Customer#000000000")).alias("lev"),
    )


SQL_C4 = """
SELECT c_custkey, CAST(levenshtein(c_name, 'Customer#000000000') AS INT) AS lev
FROM customer
"""


def q_c5_cer_format(spark, sf_dir):
    """C5: '%.2f' CER formatting (reference comparison.py:184-188)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.format_string("%.2f", F.col("l_discount") * 100).alias("cer"),
    )


SQL_C5 = """
SELECT l_orderkey, l_linenumber, printf('%.2f', l_discount * 100) AS cer
FROM lineitem
"""


# --- C7/C12/C13: coordinate & geometry math --------------------------------

def q_c_geometry_math(spark, sf_dir):
    """C7 percent->pixel corner scaling via floor(x+0.5) (round-half-up
    on positives, avoiding Spark/DuckDB ROUND divergence) + C13 grid
    geometry ceil(sqrt(n))."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.ceil(F.sqrt(F.count("*"))).cast("bigint").alias("grid_cols"),
        F.floor(F.max("value") * 64 / 100 + F.lit(0.5)).cast("bigint").alias("max_px"),
    )


SQL_C_GEOM = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(ceil(sqrt(count(*))) AS BIGINT) AS grid_cols,
       CAST(floor(max(value) * 64 / 100 + 0.5) AS BIGINT) AS max_px
FROM events GROUP BY user_id
"""


# --- C10: JSON parse (manager.py:284, 321) ---------------------------------

def q_c10_json_extract(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


SQL_C10 = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
FROM events
"""


# --- time-bucketed aggregation (engine metrics surface) --------------------

def q_time_bucket_agg(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


SQL_TIME_BUCKET = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


# --- gap-based sessionization over the event stream --------------------------

SESSION_GAP_SEC = 3600  # a >1h silence starts a new session


def q_ev_sessionize(spark, sf_dir):
    """(user_id, session_id, n_events, start_epoch, end_epoch,
    duration_sec, total_value): classic gap sessionization — lag over
    (user_id ORDER BY ts, event_id), cumulative sum of new-session
    flags, then one per-session aggregate. Both windows and the
    groupBy share hashpartitioning(user_id), so the whole query is ONE
    exchange; at web scale user_id is well-spread (nothing here salts
    a power user's events)."""
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > SESSION_GAP_SEC), 1).otherwise(0)
    return (
        events.withColumn("session_id", F.sum(new_s).over(w))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.unix_timestamp(F.min("ts")).alias("start_epoch"),
            F.unix_timestamp(F.max("ts")).alias("end_epoch"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias(
                "duration_sec"
            ),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            "user_id",
            F.col("session_id").cast("long").alias("session_id"),
            "n_events",
            "start_epoch",
            "end_epoch",
            "duration_sec",
            "total_value",
        )
    )


SQL_EV_SESSIONIZE = f"""
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
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS end_epoch,
       CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_sec,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, session_id
"""


# --- as-of join (most-recent-earlier match) ----------------------------------


def q_ev_asof_join(spark, sf_dir):
    """As-of join — an operator Spark has no native form of: attach to
    every 'click' event the user's most recent 'error' event at or
    before it. A naive range join (c.ts >= e.ts) explodes into a
    per-user cross product; the scalable form is the UNION + WINDOW
    idiom: interleave both sides into one stream, sort per user by
    (ts, side), and carry the last error timestamp forward with
    last(..., ignorenulls) over an unbounded-preceding window — one
    shuffle on user_id, linear in events, no pair blowup. Errors are
    deduped to distinct (user, ts) so equal-timestamp markers cannot
    make the match order-dependent. The DuckDB oracle is its native
    ASOF LEFT JOIN (inclusive >=, matching the errors-before-clicks
    sort at equal ts)."""
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.lit(1).alias("is_click")
    )
    errs = (
        events.filter(F.col("event_type") == "error")
        .select("user_id", "ts")
        .distinct()
        .select("user_id", "ts", F.lit(None).cast("long").alias("event_id"),
                F.lit(0).alias("is_click"))
    )
    merged = clicks.unionByName(errs).withColumn(
        "err_ts", F.when(F.col("is_click") == 0, F.unix_timestamp("ts"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn("last_err", F.last("err_ts", ignorenulls=True).over(w))
        .filter(F.col("is_click") == 1)
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp("ts").alias("click_epoch"),
            F.col("last_err").alias("err_epoch"),
            (F.unix_timestamp("ts") - F.col("last_err")).alias("gap_sec"),
        )
    )


SQL_EV_ASOF = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
errs AS (
  SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'error'
)
SELECT c.event_id, c.user_id,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
       CAST(floor(epoch(e.ts)) AS BIGINT) AS err_epoch,
       CAST(floor(epoch(c.ts)) AS BIGINT) - CAST(floor(epoch(e.ts)) AS BIGINT)
           AS gap_sec
FROM clicks c ASOF LEFT JOIN errs e
  ON c.user_id = e.user_id AND c.ts >= e.ts
"""


# --- bucketed interval (range) join ------------------------------------------

IV_N_WINDOWS = 100
IV_STRIDE_SEC = 7200  # window k starts at base + k*stride
IV_LEN_SEC = 1800  # ...and covers 30 minutes
IV_BUCKET_SEC = 3600  # equi-join granularity
IV_BASE = 1704067200  # floor(epoch('2024-01-01')) — the corpus event epoch


def q_j_interval_join(spark, sf_dir):
    """(w_id, n_events, total_value): events falling inside each
    maintenance window — a RANGE join, the second classic operator
    Spark lacks natively. A direct theta join (ws <= ts < we) is a
    per-pair nested loop at scale; the scalable form is BUCKETING:
    each interval explodes into the hour buckets it touches, events
    key by their hour bucket, the join is an equi-join on the bucket,
    and the exact containment predicate filters inside the joined
    rows. Cost ~ events + intervals x buckets-per-interval; never
    |events| x |intervals|. Zero-match windows keep their row via
    conditional aggregation over the left join (a dashboard must show
    empty windows)."""
    wins = (
        spark.range(IV_N_WINDOWS)
        .select(
            F.col("id").alias("w_id"),
            (F.lit(IV_BASE) + F.col("id") * IV_STRIDE_SEC).alias("ws"),
            (F.lit(IV_BASE) + F.col("id") * IV_STRIDE_SEC + IV_LEN_SEC).alias("we"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col("ws") / IV_BUCKET_SEC),
                    F.floor((F.col("we") - 1) / IV_BUCKET_SEC),
                )
            ),
        )
    )
    ev = _t(spark, sf_dir, "events").select(
        F.unix_timestamp("ts").alias("es"),
        F.col("value").cast("decimal(18,2)").alias("v"),
        F.floor(F.unix_timestamp("ts") / IV_BUCKET_SEC).alias("bucket"),
    )
    contained = (F.col("es") >= F.col("ws")) & (F.col("es") < F.col("we"))
    return (
        wins.join(ev, "bucket", "left")
        .groupBy("w_id")
        .agg(
            F.sum(F.when(contained, 1).otherwise(0)).alias("n_events"),
            F.coalesce(
                F.sum(F.when(contained, F.col("v"))).cast("double"), F.lit(0.0)
            ).alias("total_value"),
        )
    )


SQL_J_INTERVAL = f"""
WITH wins AS (
  SELECT i AS w_id,
         {IV_BASE} + i * {IV_STRIDE_SEC} AS ws,
         {IV_BASE} + i * {IV_STRIDE_SEC} + {IV_LEN_SEC} AS we
  FROM range(0, {IV_N_WINDOWS}) t(i)
),
ev AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
)
SELECT w.w_id,
       CAST(count(e.es) AS BIGINT) AS n_events,
       CAST(coalesce(sum(e.v), 0) AS DOUBLE) AS total_value
FROM wins w LEFT JOIN ev e ON e.es >= w.ws AND e.es < w.we
GROUP BY w.w_id
"""


# --- C1: canonical format name (images.py:104-112) -------------------------

_C1_FORMATS = ["JPG", "tif", "png", "Jpeg", "GIF", "jp2", "TIFF", "bmp"]


def q_c1_format_canonical(spark, sf_dir):
    """C1: jpg->jpeg, tif->tiff, lowercase — a CASE WHEN chain over a
    deterministic format column (doc_id mod the format list)."""
    docs = _t(spark, sf_dir, "documents")
    fmt = F.element_at(
        F.array(*[F.lit(x) for x in _C1_FORMATS]),
        (F.col("doc_id") % len(_C1_FORMATS) + 1).cast("int"),
    )
    low = F.lower(fmt)
    canon = (
        F.when(low == "jpg", "jpeg").when(low == "tif", "tiff").otherwise(low)
    )
    return docs.select("doc_id", fmt.alias("fmt"), canon.alias("canonical"))


_C1_LIST = ", ".join(f"'{x}'" for x in _C1_FORMATS)
SQL_C1 = f"""
WITH f AS (
  SELECT doc_id, [{_C1_LIST}][CAST(doc_id % {len(_C1_FORMATS)} + 1 AS INT)] AS fmt
  FROM documents
)
SELECT doc_id, fmt,
       CASE lower(fmt) WHEN 'jpg' THEN 'jpeg' WHEN 'tif' THEN 'tiff'
            ELSE lower(fmt) END AS canonical
FROM f
"""


# --- K7: URL sidecar sink format (manager.py:481-482) ----------------------

def q_k7_url_sidecar(spark, sf_dir):
    """K7: the '[InternetShortcut]' sidecar body as a column —
    filename mangling becomes a plain projection + sink."""
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://corpus.example/"), F.col("source"),
        F.lit("/"), F.col("doc_id").cast("string"),
    )
    return docs.select(
        "doc_id",
        F.format_string("[InternetShortcut]\nURL=%s\n", url).alias("sidecar"),
    )


SQL_K7 = """
SELECT doc_id,
       printf('[InternetShortcut]
URL=%s
', 'https://corpus.example/' || source || '/' || doc_id) AS sidecar
FROM documents
"""


# --- ordered-step funnel ------------------------------------------------------

FUNNEL_STEPS = ("view", "click", "purchase")  # ordered conversion path


def q_ev_funnel(spark, sf_dir):
    """(user_id, t_view, t_click, t_purchase, steps_reached): ordered
    conversion funnel — each step's time is the user's EARLIEST event
    of that type strictly after the previous step (a purchase before
    the first view does not convert). Users who never view are not in
    the funnel; later steps are NULL once the path breaks.

    Shape: three cascaded min-aggregates, every one keyed on user_id —
    the per-step frames are user-count-sized (monotonically shrinking
    down the funnel), so each join's small side is funnel-sized and
    AQE broadcasts it; the events table is scanned once per step with
    the event_type filter pushed to the scan. Step comparisons use
    full-precision timestamps; only the OUTPUT truncates to epoch
    seconds (truncating before comparing would reorder same-second
    events — the sessionize oracle's floor-epoch lesson)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("ts1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("ts2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            F.unix_timestamp("ts1").alias("t_view"),
            F.unix_timestamp("ts2").alias("t_click"),
            F.unix_timestamp("ts3").alias("t_purchase"),
            (
                F.lit(1)
                + F.col("ts2").isNotNull().cast("int")
                + F.col("ts3").isNotNull().cast("int")
            )
            .cast("int")
            .alias("steps_reached"),
        )
    )


SQL_EV_FUNNEL = f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS ts1 FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS ts2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > s1.ts1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS ts3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > s2.ts2
  GROUP BY e.user_id
)
SELECT s1.user_id,
       CAST(floor(epoch(s1.ts1)) AS BIGINT) AS t_view,
       CAST(floor(epoch(s2.ts2)) AS BIGINT) AS t_click,
       CAST(floor(epoch(s3.ts3)) AS BIGINT) AS t_purchase,
       CAST(1 + (s2.ts2 IS NOT NULL)::INT + (s3.ts3 IS NOT NULL)::INT AS INT)
           AS steps_reached
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


# --- cohort retention ---------------------------------------------------------

def q_ev_retention(spark, sf_dir):
    """(cohort_week, week_offset, n_users, n_events): weekly cohort
    retention — users bucketed by the ISO week of their FIRST event,
    each later event credited to its week offset from that cohort
    week. The product-analytics matrix behind every retention curve.

    Shape: one min-aggregate on user_id (well-spread key), one
    equi-join back on the SAME key (AQE broadcasts the user-sized
    side when it measures small; at 10^12 events both sides already
    hash on user_id so the sort-merge reuses the partitioning), then
    a tiny (cohort, offset) rollup — the distinct-user count expands
    on (cohort, offset, user_id) first, so the ~n_weeks² final groups
    never concentrate raw events on one task."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    return (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(F.datediff(F.to_date("ts"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(
            F.count_distinct("user_id").cast("int").alias("n_users"),
            F.count("*").cast("int").alias("n_events"),
        )
    )


SQL_EV_RETENTION = """
WITH first AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
)
SELECT f.cohort_week,
       CAST(floor(date_diff('day', f.cohort_week, CAST(e.ts AS DATE)) / 7.0) AS INT)
           AS week_offset,
       CAST(count(DISTINCT e.user_id) AS INT) AS n_users,
       CAST(count(*) AS INT) AS n_events
FROM events e JOIN first f USING (user_id)
GROUP BY 1, 2
"""


# --- A/B experiment readout ---------------------------------------------------

AB_SALT = 7  # hash-split salt: users -> variant by (user_id + salt) % 2


def q_ev_ab_test(spark, sf_dir):
    """One-row experiment readout: deterministic hash-split of users
    into A/B, then a Welch z-test on per-user PURCHASE SPEND (a
    two-proportion test degenerates here — purchasing is universal at
    this event density — so the value metric is the one a real
    experiment on this corpus would read). Spend is quantized to
    exact integer cents per event before summing, so n/Σx/Σx² are
    identical int64 on both engines and only the final mean/variance/
    z expressions run in double (identical formula, round 4). Shape:
    per-user rollup on the well-spread user_id key, then a single
    1-row aggregate — the final stats never re-shuffle the events."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    users = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.when(F.col("event_type") == FUNNEL_STEPS[2], cents)
            .otherwise(F.lit(0))
            .alias("cents"),
        )
        .groupBy("user_id")
        .agg(F.sum("cents").alias("spend"))
        .select(((F.col("user_id") + AB_SALT) % 2).alias("variant"), "spend")
    )
    s = users.agg(
        F.sum((F.col("variant") == 0).cast("int")).alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("spend")).otherwise(0)).alias("sx_a"),
        F.sum(
            F.when(F.col("variant") == 0, F.col("spend") * F.col("spend")).otherwise(0)
        ).alias("sxx_a"),
        F.sum((F.col("variant") == 1).cast("int")).alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("spend")).otherwise(0)).alias("sx_b"),
        F.sum(
            F.when(F.col("variant") == 1, F.col("spend") * F.col("spend")).otherwise(0)
        ).alias("sxx_b"),
    )
    m_a = F.col("sx_a") / F.col("n_a")
    m_b = F.col("sx_b") / F.col("n_b")
    v_a = (F.col("sxx_a") - F.col("sx_a") * F.col("sx_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    v_b = (F.col("sxx_b") - F.col("sx_b") * F.col("sx_b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    z = (m_a - m_b) / F.sqrt(v_a / F.col("n_a") + v_b / F.col("n_b"))
    return s.select(
        F.col("n_a").cast("int").alias("n_a"),
        F.col("n_b").cast("int").alias("n_b"),
        F.round(m_a, 4).alias("mean_cents_a"),
        F.round(m_b, 4).alias("mean_cents_b"),
        F.round(z, 4).alias("z_score"),
    )


SQL_EV_AB_TEST = f"""
WITH u AS (
  SELECT user_id,
         sum(CASE WHEN event_type = '{FUNNEL_STEPS[2]}'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS spend
  FROM events GROUP BY user_id
),
v AS (SELECT (user_id + {AB_SALT}) % 2 AS variant, spend FROM u),
s AS (
  SELECT sum((variant = 0)::INT) AS n_a,
         sum(CASE WHEN variant = 0 THEN spend ELSE 0 END) AS sx_a,
         sum(CASE WHEN variant = 0 THEN spend * spend ELSE 0 END) AS sxx_a,
         sum((variant = 1)::INT) AS n_b,
         sum(CASE WHEN variant = 1 THEN spend ELSE 0 END) AS sx_b,
         sum(CASE WHEN variant = 1 THEN spend * spend ELSE 0 END) AS sxx_b
  FROM v
)
SELECT CAST(n_a AS INT) AS n_a, CAST(n_b AS INT) AS n_b,
       round(sx_a::DOUBLE / n_a, 4) AS mean_cents_a,
       round(sx_b::DOUBLE / n_b, 4) AS mean_cents_b,
       round((sx_a::DOUBLE / n_a - sx_b::DOUBLE / n_b)
             / sqrt(((sxx_a - sx_a::DOUBLE * sx_a / n_a) / (n_a - 1)) / n_a
                    + ((sxx_b - sx_b::DOUBLE * sx_b / n_b) / (n_b - 1)) / n_b),
             4) AS z_score
FROM s
"""


# --- rolling anomaly detection ------------------------------------------------

ANOM_LOOKBACK = 6  # trailing hours in the baseline window
ANOM_Z = 2.5


def q_ev_rolling_anomaly(spark, sf_dir):
    """(bucket, n, z_score, is_anomaly): hourly event volume scored
    against the trailing ANOM_LOOKBACK-hour baseline — the ingest
    monitor that pages when a source stalls or floods. The window
    carries EXACT integer sums (Σn, Σn², count over the frame) and the
    mean/std/z fold out of those integers in one double expression
    identical on both engines (no stddev_samp — engines disagree in
    the last ulp between Welford and two-pass accumulation). Warmup
    rows (fewer than ANOM_LOOKBACK trailing hours) and zero-variance
    baselines score NULL. Shape: events collapse to ~hours rows at the
    bucket groupBy; the window runs over that tiny frame — a single
    Exchange moving n_hours rows, nothing event-sized."""
    from pyspark.sql import Window

    hours = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy("bucket").rowsBetween(-ANOM_LOOKBACK, -1)
    s = hours.select(
        "bucket",
        "n",
        F.count("n").over(w).alias("cnt"),
        F.sum("n").over(w).alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("s2"),
    )
    mean = F.col("s1") / F.col("cnt")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("cnt")) / (F.col("cnt") - 1)
    z = F.when(
        (F.col("cnt") == ANOM_LOOKBACK) & (F.col("s2") * F.col("cnt") != F.col("s1") * F.col("s1")),
        F.round((F.col("n") - mean) / F.sqrt(var), 4),
    )
    return s.select(
        "bucket",
        F.col("n").cast("int").alias("n"),
        z.alias("z_score"),
        (F.abs(z) > ANOM_Z).alias("is_anomaly"),
    )


SQL_EV_ROLLING_ANOMALY = f"""
WITH hours AS (
  SELECT date_trunc('hour', ts) AS bucket, count(*) AS n
  FROM events GROUP BY 1
),
s AS (
  SELECT bucket, n,
         count(n) OVER w AS cnt,
         sum(n) OVER w AS s1,
         sum(n * n) OVER w AS s2
  FROM hours
  WINDOW w AS (ORDER BY bucket ROWS BETWEEN {ANOM_LOOKBACK} PRECEDING AND 1 PRECEDING)
)
SELECT bucket, CAST(n AS INT) AS n,
       CASE WHEN cnt = {ANOM_LOOKBACK} AND s2 * cnt <> s1 * s1
            THEN round((n - s1::DOUBLE / cnt)
                       / sqrt((s2 - s1::DOUBLE * s1 / cnt) / (cnt - 1)), 4)
       END AS z_score,
       abs(CASE WHEN cnt = {ANOM_LOOKBACK} AND s2 * cnt <> s1 * s1
                THEN round((n - s1::DOUBLE / cnt)
                           / sqrt((s2 - s1::DOUBLE * s1 / cnt) / (cnt - 1)), 4)
           END) > {ANOM_Z} AS is_anomaly
FROM s
"""


QUERIES = {
    "c1_format_canonical": q_c1_format_canonical,
    "k7_url_sidecar": q_k7_url_sidecar,
    "s2_whitelist_filter": q_s2_whitelist_filter,
    "s3_artifact_exclusion": q_s3_artifact_exclusion,
    "s4_window_dedup": q_s4_window_dedup,
    "j1_broadcast_join": q_j1_broadcast_join,
    "j2_cross_fanout": q_j2_cross_fanout,
    "j3_anti_join": q_j3_anti_join,
    "j3_semi_join": q_j3_semi_join,
    "a1_minfold": q_a1_minfold,
    "a2_group_sums": q_a2_group_sums,
    "w1_reading_order_topk": q_w1_reading_order_topk,
    "w2_grid_index": q_w2_grid_index,
    "w4_first_per_group": q_w4_first_per_group,
    "a4_cumulative_sum": q_a4_cumulative_sum,
    "so1_union_distinct": q_so1_union_distinct,
    "so2_except": q_so2_except,
    "so3_intersect": q_so3_intersect,
    "c_string_normalize": q_c_string_normalize,
    "c4_levenshtein": q_c4_levenshtein,
    "c5_cer_format": q_c5_cer_format,
    "c_geometry_math": q_c_geometry_math,
    "c10_json_extract": q_c10_json_extract,
    "time_bucket_agg": q_time_bucket_agg,
    "ev_sessionize": q_ev_sessionize,
    "ev_asof_join": q_ev_asof_join,
    "j_interval_join": q_j_interval_join,
    "ev_funnel": q_ev_funnel,
    "ev_retention": q_ev_retention,
    "ev_ab_test": q_ev_ab_test,
    "ev_rolling_anomaly": q_ev_rolling_anomaly,
}

ORACLES = {
    "c1_format_canonical": SQL_C1,
    "k7_url_sidecar": SQL_K7,
    "s2_whitelist_filter": SQL_S2,
    "s3_artifact_exclusion": SQL_S3,
    "s4_window_dedup": SQL_S4,
    "j1_broadcast_join": SQL_J1,
    "j2_cross_fanout": SQL_J2,
    "j3_anti_join": SQL_J3,
    "j3_semi_join": SQL_J3_SEMI,
    "a1_minfold": SQL_A1,
    "a2_group_sums": SQL_A2,
    "w1_reading_order_topk": SQL_W1,
    "w2_grid_index": SQL_W2,
    "w4_first_per_group": SQL_W4,
    "a4_cumulative_sum": SQL_A4,
    "so1_union_distinct": SQL_SO1,
    "so2_except": SQL_SO2,
    "so3_intersect": SQL_SO3,
    "c_string_normalize": SQL_C_STRING,
    "c4_levenshtein": SQL_C4,
    "c5_cer_format": SQL_C5,
    "c_geometry_math": SQL_C_GEOM,
    "c10_json_extract": SQL_C10,
    "time_bucket_agg": SQL_TIME_BUCKET,
    "ev_sessionize": SQL_EV_SESSIONIZE,
    "ev_asof_join": SQL_EV_ASOF,
    "j_interval_join": SQL_J_INTERVAL,
    "ev_funnel": SQL_EV_FUNNEL,
    "ev_retention": SQL_EV_RETENTION,
    "ev_ab_test": SQL_EV_AB_TEST,
    "ev_rolling_anomaly": SQL_EV_ROLLING_ANOMALY,
}
