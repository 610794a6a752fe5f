"""Operator catalog: the ``queries()`` / ``oracle_sql()`` surface the driver
checks against DuckDB (SURVEY.md §2.2 inventory).

Every entry is a pure DataFrame program over the driver tables
(``load_table``).  Naming contract: every computed column is aliased identically
in the Spark code and the oracle SQL; doubles are rounded (or computed in
decimal) so cross-engine value hashes match exactly.

Entries whose physics DuckDB cannot express (xxhash64-based MinHash/LSH,
iterative connected components, the end-to-end ER pipeline) have no oracle
and get the driver's rows-only check; their own pytest oracles live in
tests/ (networkx CC, brute-force blocking recall, scalar Jaro-Winkler).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mediachain_indexer_spark.sources.io import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def reg(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return reg


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


# ---------------------------------------------------------------------------
# Aggregations (partial+final hash agg; decimal-exact money math)
# ---------------------------------------------------------------------------
@_q(
    "agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(AVG(CAST(l_discount AS DECIMAL(18,2))), 6) AS DOUBLE) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-06-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2024-06-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_base_price"),
            F.round(F.avg(F.col("l_discount").cast("decimal(18,2)")), 6)
            .cast("double")
            .alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "agg_distinct_counts",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
    )


@_q(
    "agg_rollup_orders",
    """
    SELECT COALESCE(o_orderstatus, '<all>') AS status,
           COALESCE(o_orderpriority, '<all>') AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "n",
            "revenue",
        )
    )


# ---------------------------------------------------------------------------
# Joins (broadcast dim, multi-way, semi, anti)
# ---------------------------------------------------------------------------
@_q(
    "join_customer_nation_region",
    """
    SELECT r.r_name AS region, n.n_name AS nation, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def join_customer_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_acctbal"),
        )
    )


@_q(
    "join_revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(1.0 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name
    """,
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(18,2)")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@_q(
    "join_semi_customers_with_open_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
)
def join_semi_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


@_q(
    "join_anti_customers_without_orders",
    """
    SELECT c_custkey, c_acctbal FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join against the URGENT-order subset: at driver SFs every
    customer has SOME order (the unfiltered anti join was vacuously empty in
    round 1), but ~13% have no urgent one — the join logic is actually
    exercised."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_acctbal"
    )


@_q(
    "join_range_events_after_anchor",
    """
    SELECT a.event_id AS anchor_id, COUNT(*) AS n_events
    FROM events a
    JOIN events e ON e.ts >= a.ts AND e.ts < a.ts + INTERVAL 15 MINUTE
    WHERE a.event_id % 500 = 0
    GROUP BY a.event_id
    """,
)
def join_range_events_after_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join: events within 15 min after each anchor event.

    Round 1's order-window variant was vacuously empty (orders live in
    1995–2001, events in 2024 — the predicate never fired); anchoring on the
    events table itself keeps the pure range predicate AND returns rows.
    The sampled anchor side is broadcast (BroadcastNestedLoopJoin); the
    scale path for dense range joins is time-bucket binning (equi-join on
    the bucket + residual range filter) — see join_asof_purchase_attribution.
    """
    e = load_table(spark, sf_dir, "events")
    a = (
        e.where(F.col("event_id") % 500 == 0)
        .select(F.col("event_id").alias("anchor_id"), F.col("ts").alias("a_ts"))
    )
    return (
        F.broadcast(a)
        .join(
            e,
            (e["ts"] >= a["a_ts"])
            & (e["ts"] < a["a_ts"] + F.expr("INTERVAL 15 MINUTE")),
        )
        .groupBy("anchor_id")
        .agg(F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------
@_q(
    "window_top3_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, rnk FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders) t
    WHERE rnk <= 3
    """,
)
def window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


@_q(
    "window_running_revenue",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_revenue
    FROM orders WHERE o_custkey % 50 = 0
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 50 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .over(w)
            .cast("double")
            .alias("running_revenue"),
        )
    )


@_q(
    "window_lag_order_gap_days",
    """
    SELECT o_custkey, o_orderkey,
           CAST(DATEDIFF('day',
                LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS BIGINT) AS gap_days
    FROM orders WHERE o_custkey % 100 = 0
    """,
)
def window_lag_order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 100 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            F.datediff(F.col("o_orderdate"), prev).cast("long").alias("gap_days"),
        )
    )


# ---------------------------------------------------------------------------
# Sorts / limits / set ops
# ---------------------------------------------------------------------------
@_q(
    "topk_expensive_parts",
    """
    SELECT p_partkey, p_name, p_retailprice FROM part
    ORDER BY p_retailprice DESC, p_partkey LIMIT 25
    """,
)
def topk_expensive_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "part")
        .orderBy(F.col("p_retailprice").desc(), "p_partkey")
        .select("p_partkey", "p_name", "p_retailprice")
        .limit(25)
    )


@_q(
    "setop_priority_customers",
    """
    (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
     INTERSECT
     SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
)
def setop_priority_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    filled = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    pending = o.where(F.col("o_orderstatus") == "P").select("o_custkey")
    return urgent.intersect(filled).exceptAll(pending.distinct())


@_q(
    "setop_union_nation_region_names",
    """
    SELECT n_name AS name FROM nation
    UNION
    SELECT r_name AS name FROM region
    """,
)
def setop_union_nation_region_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation").select(F.col("n_name").alias("name"))
    r = load_table(spark, sf_dir, "region").select(F.col("r_name").alias("name"))
    return n.union(r).distinct()


# ---------------------------------------------------------------------------
# Scalar functions: string / date / JSON
# ---------------------------------------------------------------------------
@_q(
    "string_funcs_part_names",
    """
    SELECT p_partkey,
           LOWER(TRIM(p_name)) AS norm_name,
           LENGTH(p_name) AS name_len,
           REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS consonants,
           SUBSTRING(p_brand, 1, 5) AS brand_prefix,
           LEVENSHTEIN(p_brand, p_type) AS brand_type_lev
    FROM part WHERE p_partkey % 10 = 0
    """,
)
def string_funcs_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 10 == 0)
        .select(
            "p_partkey",
            F.lower(F.trim(F.col("p_name"))).alias("norm_name"),
            F.length("p_name").alias("name_len"),
            F.regexp_replace("p_name", "[aeiou]", "").alias("consonants"),
            F.substring("p_brand", 1, 5).alias("brand_prefix"),
            F.levenshtein("p_brand", "p_type").alias("brand_type_lev"),
        )
    )


@_q(
    "date_funcs_events_daily",
    """
    SELECT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def date_funcs_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("total_value"),
        )
    )


@_q(
    "window_tumbling_events_10min",
    """
    SELECT CAST(FLOOR(EPOCH(ts) / 600) * 600 AS BIGINT) AS bucket_start,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def window_tumbling_events_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute window via Spark's window() operator; the bucket is
    emitted as epoch seconds so both engines hash the same values."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "n_events",
            "n_users",
        )
    )


@_q(
    "json_extract_events",
    """
    SELECT event_id,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k_value
    FROM events WHERE event_id % 25 = 0
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 25 == 0)
        .select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("k_value"),
        )
    )


@_q(
    "scalar_funcs_misc",
    """
    SELECT o_orderkey,
           TRANSLATE(o_orderpriority, '-', '_') AS prio_t,
           SHA256(o_orderstatus || '|' || o_orderpriority) AS sp_sha,
           ROUND(LOG2(o_totalprice), 4) AS price_log2,
           CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start
    FROM orders WHERE o_orderkey % 200 = 0
    """,
)
def scalar_funcs_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining SURVEY §2.2 scalar stragglers in one oracle query:
    translate, sha2(·,256), log2, date_trunc-to-month.  (soundex — the
    optional extra block key — has no DuckDB twin; it is pytest-checked in
    test_dedup_similarity.py.)"""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 200 == 0)
    return o.select(
        "o_orderkey",
        F.translate("o_orderpriority", "-", "_").alias("prio_t"),
        F.sha2(
            F.concat_ws("|", "o_orderstatus", "o_orderpriority"), 256
        ).alias("sp_sha"),
        F.round(F.log2("o_totalprice"), 4).alias("price_log2"),
        F.trunc("o_orderdate", "month").alias("month_start"),
    )


@_q(
    "map_funcs_event_props",
    """
    SELECT event_id,
           event_type AS etype,
           CAST(user_id % 10 AS VARCHAR) AS ubucket,
           2 AS n_keys,
           'bucket,type' AS keys_csv,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k_val
    FROM events WHERE event_id % 10 = 0
    """,
)
def map_funcs_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType function family (SURVEY §2.2 scalar table): build a
    map<string,string> per event via map_from_entries, read it back with
    element_at / map_keys / size, and parse the JSON props into a
    map<string,long> via from_json + element_at.  The oracle computes the
    same VALUES directly (DuckDB map functions differ across versions, and
    the check is value equality, not construction syntax)."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") % 10 == 0)
    m = F.map_from_entries(
        F.array(
            F.struct(F.lit("type").alias("key"), F.col("event_type").alias("value")),
            F.struct(
                F.lit("bucket").alias("key"),
                (F.col("user_id") % 10).cast("string").alias("value"),
            ),
        )
    )
    props_map = F.from_json("props", "map<string,long>")
    return e.select(
        "event_id",
        F.element_at(m, F.lit("type")).alias("etype"),
        F.element_at(m, F.lit("bucket")).alias("ubucket"),
        F.size(m).alias("n_keys"),
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("keys_csv"),
        F.element_at(props_map, F.lit("k")).alias("k_val"),
    )


# ---------------------------------------------------------------------------
# Text-analysis operators over the driver documents table
# ---------------------------------------------------------------------------
@_q(
    "text_token_stats",
    """
    SELECT doc_id,
           LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tokens,
           LENGTH(text) AS n_chars,
           CAST(ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1), 4) AS DOUBLE)
             AS avg_token_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    no_space = F.regexp_replace("text", " ", "")
    n_tokens = F.length("text") - F.length(no_space) + 1
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.round(F.length(no_space).cast("double") / n_tokens, 4)
        .cast("double")
        .alias("avg_token_len"),
    )


@_q(
    "text_quality_score",
    """
    SELECT doc_id,
           (10000 * (LEAST(LENGTH(text), 400) * LENGTH(text)
                     + 400 * (LENGTH(text) - LENGTH(REPLACE(REPLACE(REPLACE(text,
                         ' the ', '    '), ' a ', '   '), ' value ', '       ')))))
           // (800 * LENGTH(text)) AS quality_bp
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score in basis points: 0.5·min(len/400, 1) + 0.5·stopword-mass,
    evaluated in *exact integer arithmetic* (num/den form + integer division)
    so Spark and the DuckDB oracle agree bit-for-bit — double rounding at the
    4th decimal is engine-order-dependent and was flaky."""
    d = load_table(spark, sf_dir, "documents")
    stripped = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", " the ", "    "), " a ", "   "
        ),
        " value ",
        "       ",
    )
    n = F.length("text").cast("long")
    stop = (F.length("text") - F.length(stripped)).cast("long")
    return (
        d.select(
            "doc_id",
            (10000 * (F.least(n, F.lit(400)) * n + 400 * stop)).alias("num"),
            (800 * n).alias("den"),
        )
        .withColumn("quality_bp", F.expr("num div den"))
        .select("doc_id", "quality_bp")
    )


@_q(
    "text_lang_by_source",
    """
    SELECT source, lang, COUNT(*) AS n,
           CAST(ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS DOUBLE) AS avg_chars
    FROM documents GROUP BY source, lang
    """,
)
def text_lang_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(F.col("n_chars").cast("double")), 4)
            .cast("double")
            .alias("avg_chars"),
        )
    )


@_q(
    "text_fingerprint_md5",
    """
    SELECT doc_id, MD5(LOWER(TRIM(text))) AS fingerprint FROM documents
    """,
)
def text_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.lower(F.trim("text"))).alias("fingerprint")
    )


@_q(
    "dedup_exact_by_prefix",
    """
    SELECT prefix, COUNT(*) AS n_docs, MIN(doc_id) AS representative
    FROM (SELECT doc_id, SUBSTRING(LOWER(text), 1, 40) AS prefix FROM documents) t
    GROUP BY prefix HAVING COUNT(*) >= 2
    """,
)
def dedup_exact_by_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on a normalized key (40-char prefix —
    the driver corpus has no full-text dupes, prefix groups exercise it)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring(F.lower("text"), 1, 40).alias("prefix")
    )
    return (
        d.groupBy("prefix")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("representative"))
        .where(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# Embedding similarity (array math via higher-order functions)
# ---------------------------------------------------------------------------
@_q(
    "embedding_cosine_topk",
    """
    WITH q AS (SELECT LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    c AS (SELECT e.vec_id,
                 ROUND(
                   LIST_DOT_PRODUCT(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)), q.qv)
                   / (SQRT(LIST_DOT_PRODUCT(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)),
                                            LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE))))
                      * SQRT(LIST_DOT_PRODUCT(q.qv, q.qv))), 4) AS cosine
          FROM embeddings e, q WHERE e.vec_id != 0)
    SELECT vec_id, cosine FROM c ORDER BY cosine DESC, vec_id LIMIT 20
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against one query vector (the ANN baseline),
    via the closure-kernel operator: the query matrix lives in the UDF
    closure, the corpus crosses Arrow once (vecmath.py micro-bench: the
    fastest shape at every dim — crossJoin variants re-ship the constant
    query per row or interpret HOF lambdas per element)."""
    from mediachain_indexer_spark.operators.similarity import cosine_topk_bruteforce

    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk_bruteforce(
        emb, emb.where(F.col("vec_id") == 0), k=20, round_digits=4
    )
    return (
        out.select(F.col("neighbor_id").alias("vec_id"), "cosine")
        .orderBy(F.col("cosine").desc(), "vec_id")
    )


@_q(
    "embedding_norm_by_label",
    """
    SELECT label,
           CAST(ROUND(AVG(SQRT(LIST_DOT_PRODUCT(
                 LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)),
                 LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))))), 4) AS DOUBLE)
             AS avg_l2_norm,
           COUNT(*) AS n
    FROM embeddings GROUP BY label
    """,
)
def embedding_norm_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mediachain_indexer_spark.functions.vecmath import norm_batch

    emb = load_table(spark, sf_dir, "embeddings")
    norm = norm_batch(F.col("embedding"))
    return (
        emb.select("label", norm.alias("l2"))
        .groupBy("label")
        .agg(
            F.round(F.avg("l2"), 4).cast("double").alias("avg_l2_norm"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Grouping sets / cube
# ---------------------------------------------------------------------------
@_q(
    "agg_cube_status_priority",
    """
    SELECT COALESCE(o_orderstatus, '<all>') AS status,
           COALESCE(o_orderpriority, '<all>') AS priority,
           COUNT(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "n",
        )
    )


@_q(
    "date_extract_parts",
    """
    SELECT o_orderkey,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
           CAST(EXTRACT(ISODOW FROM o_orderdate) AS INT) AS iso_dow
    FROM orders WHERE o_orderkey % 500 = 0
    """,
)
def date_extract_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark weekday(): 0=Monday; ISO dow: 1=Monday → +1 aligns the engines
    return (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 500 == 0)
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            (F.weekday("o_orderdate") + 1).cast("int").alias("iso_dow"),
        )
    )


@_q(
    "sessionization_gap30",
    """
    WITH t AS (
      SELECT user_id, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id % 20 = 0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM t GROUP BY user_id
    """,
)
def sessionization_gap30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gap > 30 min) via lag + new-session flags,
    summed per user."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # full microsecond precision: the oracle compares ts - LAG(ts) > INTERVAL
    # 30 MINUTE exactly; cast('long') truncates to whole seconds and diverges
    # on gaps within 1s of the 1800s boundary (events carry µs timestamps)
    new_session = F.when(
        prev_ts.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev_ts) > 1800 * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 20 == 0)
        .withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup / text-analysis operators (training-data tier)
# ---------------------------------------------------------------------------
@_q(
    "dedup_ngram_jaccard",
    """
    WITH d AS (SELECT doc_id, TRIM(REGEXP_REPLACE(LOWER(text),'[^a-z0-9]+',' ','g')) AS t
               FROM documents WHERE doc_id % 25 = 0),
    g AS (SELECT doc_id, UNNEST(list_distinct(list_transform(
            range(1, GREATEST(LENGTH(t)-2,1)+1),
            i -> SUBSTRING(t, CAST(i AS INT), 3)))) AS gram FROM d),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
              FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
    SELECT i.doc_a, i.doc_b, i.n_common,
           sa.sz + sb.sz - i.n_common AS n_union,
           (10000 * i.n_common) // (sa.sz + sb.sz - i.n_common) AS jaccard_bp
    FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
                 JOIN sizes sb ON sb.doc_id = i.doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard between all co-gram doc pairs of a sample —
    exact integer basis points so both engines hash identically."""
    from mediachain_indexer_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 0)
    pairs = ngram_jaccard_pairs(docs, "text", n=3).where(F.col("n_common") >= 1)
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_common",
        "n_union",
        F.expr("(10000 * n_common) div n_union").alias("jaccard_bp"),
    )


@_q(
    "text_lang_id_heuristic",
    """
    WITH n AS (SELECT doc_id,
                 ' ' || TRIM(REGEXP_REPLACE(LOWER(text),'[^a-z0-9]+',' ','g')) || ' ' AS t
               FROM documents),
    h AS (SELECT doc_id,
            (LEN(string_split(t,' the '))-1)+(LEN(string_split(t,' and '))-1)
            +(LEN(string_split(t,' of '))-1)+(LEN(string_split(t,' a '))-1)
            +(LEN(string_split(t,' is '))-1) AS hits_en,
            (LEN(string_split(t,' der '))-1)+(LEN(string_split(t,' und '))-1)
            +(LEN(string_split(t,' die '))-1)+(LEN(string_split(t,' das '))-1)
            +(LEN(string_split(t,' ist '))-1) AS hits_de,
            (LEN(string_split(t,' le '))-1)+(LEN(string_split(t,' la '))-1)
            +(LEN(string_split(t,' et '))-1)+(LEN(string_split(t,' les '))-1)
            +(LEN(string_split(t,' est '))-1) AS hits_fr,
            (LEN(string_split(t,' el '))-1)+(LEN(string_split(t,' la '))-1)
            +(LEN(string_split(t,' que '))-1)+(LEN(string_split(t,' los '))-1)
            +(LEN(string_split(t,' es '))-1) AS hits_es
          FROM n)
    SELECT doc_id,
           CASE WHEN GREATEST(hits_en,hits_de,hits_fr,hits_es) <= 0 THEN 'und'
                WHEN hits_en = GREATEST(hits_en,hits_de,hits_fr,hits_es) THEN 'en'
                WHEN hits_de = GREATEST(hits_en,hits_de,hits_fr,hits_es) THEN 'de'
                WHEN hits_fr = GREATEST(hits_en,hits_de,hits_fr,hits_es) THEN 'fr'
                ELSE 'es' END AS pred_lang,
           CAST(GREATEST(hits_en,hits_de,hits_fr,hits_es) AS INT) AS marker_hits
    FROM h
    """,
)
def text_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mediachain_indexer_spark.operators.textstats import language_id

    out = language_id(load_table(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "pred_lang", F.col("marker_hits").cast("int").alias("marker_hits")
    )


@_q(
    "text_token_counts",
    """
    WITH n AS (SELECT doc_id, text,
                 TRIM(REGEXP_REPLACE(LOWER(text),'[^a-z0-9]+',' ','g')) AS t
               FROM documents)
    SELECT doc_id,
           LEN(string_split(t, ' ')) AS n_tokens,
           CAST(list_aggregate(list_transform(string_split(t, ' '),
                s -> GREATEST(CAST(CEIL(LENGTH(s)/4) AS BIGINT), 1)), 'sum')
                AS BIGINT) AS n_subword_est,
           LENGTH(text) AS n_chars
    FROM n
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mediachain_indexer_spark.operators.textstats import token_counts

    out = token_counts(load_table(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_subword_est").cast("long").alias("n_subword_est"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


@_q(
    "similarity_topk_queries",
    """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 5),
    c AS (SELECT q.query_id, v.vec_id AS neighbor_id,
            ROUND(list_dot_product(v.ve, q.qv)
                  / (SQRT(list_dot_product(v.ve, v.ve))
                     * SQRT(list_dot_product(q.qv, q.qv))), 4) AS cosine
          FROM v, q WHERE v.vec_id != q.query_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM c)
    SELECT query_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= 5
    """,
)
def similarity_topk_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mediachain_indexer_spark.operators.similarity import cosine_topk_bruteforce

    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk_bruteforce(
        emb, emb.where(F.col("vec_id") < 5), k=5, round_digits=4
    )
    return out


@_q(
    "similarity_ivf_topk",
    """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 5),
    c AS (SELECT q.query_id, v.vec_id AS neighbor_id,
            ROUND(list_dot_product(v.ve, q.qv)
                  / (SQRT(list_dot_product(v.ve, v.ve))
                     * SQRT(list_dot_product(q.qv, q.qv))), 4) AS cosine
          FROM v, q WHERE v.vec_id != q.query_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM c)
    SELECT query_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= 5
    """,
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with exhaustive probing (n_probe == n_centroids) — the probe
    machinery (centroid train → cell assignment → probe join → refine) runs
    for real, and because every cell is probed the result must equal brute
    force, which is what the oracle (same SQL as similarity_topk_queries)
    checks.  Approximate-probe recall is gated in tests/test_ivf.py."""
    from mediachain_indexer_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        emb.where(F.col("vec_id") < 5),
        k=5,
        n_centroids=8,
        n_probe=8,
        round_digits=4,
    )


# --- rows-only entries (xxhash64 / LSH / vectorized UDF — not DuckDB-able) --
@_q(
    "dedup_exact_text_groups",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             trim(regexp_replace(
               array_to_string(list_slice(string_split(lower(text), ' '), 1, 12), ' '),
               '[^a-z0-9]+', ' ', 'g')) AS k
      FROM documents
    )
    SELECT count(*) AS n_docs,
           min(doc_id) AS representative,
           string_agg(doc_id, ',' ORDER BY doc_id) AS members_csv
    FROM keyed GROUP BY k HAVING count(*) >= 2
    """,
)
def dedup_exact_text_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-oracle entry: the internal group key is xxhash64 (narrow-shuffle
    scale design, not DuckDB-expressible) but the OUTPUT is key-free —
    (n_docs, representative, members_csv) identifies each group exactly, so
    DuckDB re-derives the same groups by grouping on the normalized prefix
    text itself."""
    from mediachain_indexer_spark.operators.dedup import exact_duplicates

    d = load_table(spark, sf_dir, "documents")
    # the driver corpus has unique texts; group on a 12-token prefix instead
    keyed = d.select(
        "doc_id",
        F.concat_ws(
            " ", F.slice(F.split(F.lower("text"), " "), 1, 12)
        ).alias("text"),
    )
    # members → CSV string: the driver canonicalizer can't hash list cells
    out = exact_duplicates(keyed, "text")
    return out.select(
        "n_docs",
        "representative",
        F.concat_ws(",", F.col("members").cast("array<string>")).alias("members_csv"),
    )


@_q(
    "dedup_minhash_pairs_docs",
    # exact DuckDB twin of the WHOLE MinHash-LSH candidate stage: the numpy
    # signature kernel (5-gram mod-2^64 rolling hash, murmur-style finalizer
    # with hi32/lo32-split multiplies, 64 (a*h+b) mod 2^31-1 permutation
    # minima with the seed-42 coefficient family inlined as literals) plus
    # (16,4) banding -- DuckDB groups on the band's slot tuple itself where
    # Spark groups on xxhash64 of it (equality-equivalent modulo 2^-64 hash
    # collisions).  Validated pair-for-pair against an independent python
    # replica before wiring in.
    oracle="""
    WITH coef AS (
      SELECT [1373158607, 239081664, 53710185, 1592467582, 590620972, 525901257, 479341424, 299655413, 1581559893, 220106708, 1453201079, 1590571866, 1915941033, 1171165723, 186699714, 1268073013, 906070221, 68252794, 63989048, 201209006, 469521478, 499635469, 1085242217, 1292825379, 56985562, 1205264596, 427000597, 1537640409, 1395616197, 1506083911, 1170252924, 900911955, 473392625, 964669078, 1265438423, 597409993, 1738238662, 1866808230, 13955984, 1629526406, 1730483679, 342865763, 1499242942, 907557513, 730682428, 596724165, 333889689, 462382782, 2055599410, 1639591160, 722831293, 219494903, 199170185, 815887679, 207696844, 770902344, 1819980298, 738639289, 1296491778, 568054228, 1733294784, 93309106, 1567087081, 986607412]::UBIGINT[] AS ac, [1151541058, 268062140, 2089750182, 1980614224, 812896393, 169222132, 1185498232, 629595552, 1781132953, 1349993687, 1328261053, 1901493143, 1850501472, 776605304, 1239854303, 412936598, 1513056504, 149368553, 98407116, 1420052172, 489407815, 1660151621, 621455910, 2115747110, 171351960, 1836780819, 499914620, 1860759513, 216898920, 816314859, 596943772, 973691209, 1365121943, 1791238511, 783471136, 349297012, 794957572, 762938025, 449912919, 1439190226, 573330498, 1507147647, 2011450404, 1467907436, 1391645397, 153335723, 1308098873, 1363605489, 367517440, 1147056643, 1565787882, 525727461, 350904183, 992696249, 814874363, 579708537, 2124985203, 1987262417, 1374389012, 1477816546, 1196040476, 471619987, 1470197911, 696391871]::UBIGINT[] AS bc
    ),
    t AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
      FROM documents
    ),
    c AS (
      SELECT doc_id, length(nt) AS ln,
        list_transform(range(1, greatest(length(nt), 5) + 1),
          i -> CASE WHEN i <= length(nt) THEN unicode(substr(nt, i, 1))::UBIGINT
                    ELSE 0::UBIGINT END) AS codes
      FROM t WHERE length(nt) > 0
    ),
    g AS (
      SELECT doc_id,
        list_transform(
          list_transform(
            list_transform(
              list_transform(
                list_transform(
                  list_transform(range(0, greatest(ln - 5, 0) + 1), s ->
                    ((((((((codes[s+1]::HUGEINT * 1099511628211 + codes[s+2])
                      % 18446744073709551616) * 1099511628211 + codes[s+3])
                      % 18446744073709551616) * 1099511628211 + codes[s+4])
                      % 18446744073709551616) * 1099511628211 + codes[s+5])
                      % 18446744073709551616)::UBIGINT),
                  x -> xor(x, x >> 33)),
                x -> ((x::HUGEINT * 3981806797 % 18446744073709551616
                       + (x::HUGEINT * 4283543511 % 4294967296) * 4294967296)
                      % 18446744073709551616)::UBIGINT),
              x -> xor(x, x >> 33)),
            x -> ((x::HUGEINT * 444984403 % 18446744073709551616
                   + (x::HUGEINT * 3301882366 % 4294967296) * 4294967296)
                  % 18446744073709551616)::UBIGINT),
          x -> xor(x, x >> 33) % 2147483647) AS hm
      FROM c
    ),
    s AS (
      SELECT doc_id,
        list_transform(range(1, 65), j ->
          list_aggregate(
            list_transform(hm, h -> (ac[j] * h + bc[j]) % 2147483647),
            'min')) AS sig
      FROM g CROSS JOIN coef
    ),
    p AS (
      SELECT doc_id,
        unnest(list_transform(range(0, 16), b ->
          b::VARCHAR || ':' ||
          array_to_string(list_slice(sig, 4 * b + 1, 4 * b + 4), '_'))) AS bkey
      FROM s
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM p a JOIN p b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-oracle entry: proves the vectorized MinHash signatures AND the
    LSH banding collision structure value-exact against an independent
    engine (the oracle re-derives every signature and band bucket)."""
    from mediachain_indexer_spark.operators.dedup import minhash_near_duplicates

    return minhash_near_duplicates(load_table(spark, sf_dir, "documents"))


@_q(
    "dedup_minhash_verified_docs",
    # the candidate-stage oracle (dedup_minhash_pairs_docs) extended with the
    # exact-Jaccard verify tier: DuckDB computes J over distinct 5-gram
    # STRING sets where Spark uses distinct xxhash64 gram hashes -- identical
    # set sizes and intersections modulo in-doc 64-bit hash collisions
    # (~grams^2 * 2^-65 per doc).  Threshold decisions cannot diverge on the
    # float boundary: |inter/union - 0.5| < 1 ulp forces 2*inter == union.
    oracle="""
    WITH coef AS (
      SELECT [1373158607, 239081664, 53710185, 1592467582, 590620972, 525901257, 479341424, 299655413, 1581559893, 220106708, 1453201079, 1590571866, 1915941033, 1171165723, 186699714, 1268073013, 906070221, 68252794, 63989048, 201209006, 469521478, 499635469, 1085242217, 1292825379, 56985562, 1205264596, 427000597, 1537640409, 1395616197, 1506083911, 1170252924, 900911955, 473392625, 964669078, 1265438423, 597409993, 1738238662, 1866808230, 13955984, 1629526406, 1730483679, 342865763, 1499242942, 907557513, 730682428, 596724165, 333889689, 462382782, 2055599410, 1639591160, 722831293, 219494903, 199170185, 815887679, 207696844, 770902344, 1819980298, 738639289, 1296491778, 568054228, 1733294784, 93309106, 1567087081, 986607412]::UBIGINT[] AS ac, [1151541058, 268062140, 2089750182, 1980614224, 812896393, 169222132, 1185498232, 629595552, 1781132953, 1349993687, 1328261053, 1901493143, 1850501472, 776605304, 1239854303, 412936598, 1513056504, 149368553, 98407116, 1420052172, 489407815, 1660151621, 621455910, 2115747110, 171351960, 1836780819, 499914620, 1860759513, 216898920, 816314859, 596943772, 973691209, 1365121943, 1791238511, 783471136, 349297012, 794957572, 762938025, 449912919, 1439190226, 573330498, 1507147647, 2011450404, 1467907436, 1391645397, 153335723, 1308098873, 1363605489, 367517440, 1147056643, 1565787882, 525727461, 350904183, 992696249, 814874363, 579708537, 2124985203, 1987262417, 1374389012, 1477816546, 1196040476, 471619987, 1470197911, 696391871]::UBIGINT[] AS bc
    ),
    t AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
      FROM documents
    ),
    c AS (
      SELECT doc_id, length(nt) AS ln,
        list_transform(range(1, greatest(length(nt), 5) + 1),
          i -> CASE WHEN i <= length(nt) THEN unicode(substr(nt, i, 1))::UBIGINT
                    ELSE 0::UBIGINT END) AS codes
      FROM t WHERE length(nt) > 0
    ),
    g AS (
      SELECT doc_id,
        list_transform(
          list_transform(
            list_transform(
              list_transform(
                list_transform(
                  list_transform(range(0, greatest(ln - 5, 0) + 1), s ->
                    ((((((((codes[s+1]::HUGEINT * 1099511628211 + codes[s+2])
                      % 18446744073709551616) * 1099511628211 + codes[s+3])
                      % 18446744073709551616) * 1099511628211 + codes[s+4])
                      % 18446744073709551616) * 1099511628211 + codes[s+5])
                      % 18446744073709551616)::UBIGINT),
                  x -> xor(x, x >> 33)),
                x -> ((x::HUGEINT * 3981806797 % 18446744073709551616
                       + (x::HUGEINT * 4283543511 % 4294967296) * 4294967296)
                      % 18446744073709551616)::UBIGINT),
              x -> xor(x, x >> 33)),
            x -> ((x::HUGEINT * 444984403 % 18446744073709551616
                   + (x::HUGEINT * 3301882366 % 4294967296) * 4294967296)
                  % 18446744073709551616)::UBIGINT),
          x -> xor(x, x >> 33) % 2147483647) AS hm
      FROM c
    ),
    s AS (
      SELECT doc_id,
        list_transform(range(1, 65), j ->
          list_aggregate(
            list_transform(hm, h -> (ac[j] * h + bc[j]) % 2147483647),
            'min')) AS sig
      FROM g CROSS JOIN coef
    ),
    p AS (
      SELECT doc_id,
        unnest(list_transform(range(0, 16), b ->
          b::VARCHAR || ':' ||
          array_to_string(list_slice(sig, 4 * b + 1, 4 * b + 4), '_'))) AS bkey
      FROM s
    )
    , cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM p a JOIN p b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    gr AS (
      SELECT doc_id,
        list_distinct(list_transform(range(1, greatest(length(nt) - 5, 0) + 2),
          i -> substr(nt, i, 5))) AS g
      FROM t WHERE length(nt) > 0
    ),
    jac AS (
      SELECT doc_a, doc_b,
        len(list_intersect(ga.g, gb.g)) AS inter,
        len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)) AS uni
      FROM cand
      JOIN gr ga ON ga.doc_id = cand.doc_a
      JOIN gr gb ON gb.doc_id = cand.doc_b
    )
    SELECT doc_a, doc_b FROM jac
    WHERE CASE WHEN uni = 0 THEN 1.0 ELSE inter::DOUBLE / uni END >= 0.5
    """,
)
def dedup_minhash_verified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates refined by the exact-Jaccard verify tier (≥ 0.5):
    the web-scale answer to the recall-biased (b=16, r=4) S-curve —
    banding bounds candidates, verification bounds false positives."""
    from mediachain_indexer_spark.operators.dedup import minhash_near_duplicates

    return minhash_near_duplicates(
        load_table(spark, sf_dir, "documents"), verify_jaccard=0.5
    )


# ---------------------------------------------------------------------------
# Full-length XXH64 (Spark seed 42) as a DuckDB CTE chain, for inputs of
# any length.  Implements the complete public XXH64 algorithm: the
# >=32-byte stripe loop runs via ``list_reduce`` with the four lanes
# packed as a UBIGINT[4] accumulator
# (DuckDB 1.0 list_reduce seeds from the first element, so the initial
# lanes are list_prepend-ed), then lane merge, tail 8/4/1-byte rounds and
# the 33/29/32 avalanche, each as its own CTE column (linear SQL size).
# 64x64 products split the CONSTANT multiplier hi32/lo32 so partials fit
# HUGEINT; every multiply in XXH64 is variable-x-constant, so this covers
# all of them.  Validated value-exact against Spark's xxhash64 on ASCII
# inputs of length 0..300 (tests/test_oracle_xxh64.py) — used by the
# er_blocks oracle in __spark_entry__.py, where band keys embed xxhash64
# of ~60-char slice strings and exact_hash is xxhash64 of full norm_text,
# and by the dedup_simhash_docs oracle below (per-token hashes).
# ---------------------------------------------------------------------------

_M64X = "18446744073709551616"
_XP1, _XP2, _XP3, _XP4, _XP5 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9, 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_XMASK = (1 << 64) - 1
_XV1I = (42 + _XP1 + _XP2) & _XMASK
_XV2I = (42 + _XP2) & _XMASK
_XV3I = 42
_XV4I = (42 - _XP1) & _XMASK


def _mulc(x: str, p: int) -> str:
    hi, lo = p >> 32, p & 0xFFFFFFFF
    return (
        f"(({x})::HUGEINT * {lo} % {_M64X} + "
        f"((({x}) % 4294967296)::HUGEINT * {hi} % 4294967296) * 4294967296) % {_M64X}"
    )

def _rotlc(x: str, r: int) -> str:
    return f"((({x})::HUGEINT * {1 << r} % {_M64X}) + (({x})::UBIGINT >> {64 - r}))"

def _xorc(a: str, b: str) -> str:
    return f"xor(({a})::UBIGINT, ({b})::UBIGINT)"

def _rndc(acc: str, w: str) -> str:
    s = f"((({acc})::HUGEINT + {_mulc(w, _XP2)}) % {_M64X})"
    return _mulc(_rotlc(s, 31), _XP1)

def _le64c(base: str) -> str:
    # codes[base+1 .. base+8] little-endian; codes is zero-padded UBIGINT[]
    return "(" + " + ".join(
        f"codes[{base} + {j + 1}] * {1 << (8 * j)}::UBIGINT" for j in range(8)
    ) + ")"

def _le32c(base: str) -> str:
    return "(" + " + ".join(
        f"codes[{base} + {j + 1}] * {1 << (8 * j)}::UBIGINT" for j in range(4)
    ) + ")"


def _xxh64_any_cte_chain(src: str) -> str:
    """CTE chain from {src}(doc_id, tok) -> {src}_f(doc_id, tok, xh UBIGINT)."""
    w_in_lambda = lambda lane: f"w[{lane + 1}]"
    lane_update = ", ".join(_rndc(f"acc[{l + 1}]", w_in_lambda(l)) for l in range(4))
    merge_sum = " + ".join(
        f"({_rotlc(f'lanes[{i + 1}]', r)})::HUGEINT"
        for i, r in ((0, 1), (1, 7), (2, 12), (3, 18))
    )
    steps = [
        # q0: byte codes (zero-padded to a full stripe + tail headroom), len
        f"""{src}_q0 AS (
  SELECT *, length(tok) AS ln,
    list_transform(range(1, ((length(tok) // 32) + 2) * 32 + 1),
      i -> CASE WHEN i <= length(tok) THEN unicode(substr(tok, i, 1))::UBIGINT
                ELSE 0::UBIGINT END) AS codes,
    length(tok) // 32 AS nstripes, length(tok) % 32 AS rem
  FROM {src})""",
        # q1: stripe word lists
        f"""{src}_q1 AS (
  SELECT *, list_transform(range(0, nstripes), s ->
      [{", ".join(_le64c(f"(32 * s + {8 * l})") for l in range(4))}]) AS stripes
  FROM {src}_q0)""",
        # q2: lanes after all stripes (list_reduce; initial lanes prepended)
        f"""{src}_q2 AS (
  SELECT *, CASE WHEN ln >= 32 THEN
      list_reduce(
        list_prepend([{_XV1I}::UBIGINT, {_XV2I}::UBIGINT, {_XV3I}::UBIGINT, {_XV4I}::UBIGINT], stripes),
        (acc, w) -> [{lane_update}])
    ELSE NULL END AS lanes
  FROM {src}_q1)""",
        # q3: merged h (lanes) or small-seed init; + length
        f"""{src}_q3 AS (
  SELECT *, CASE WHEN ln >= 32 THEN (({merge_sum}) % {_M64X})::UBIGINT
                 ELSE ((42::HUGEINT + {_XP5}) % {_M64X})::UBIGINT END AS h0
  FROM {src}_q2)""",
    ]
    # q4..q7: the four merge rounds (only when ln >= 32)
    h = "h0"
    for i in range(4):
        r0 = _rndc("0::UBIGINT", f"lanes[{i + 1}]")
        step = f"(({_mulc(_xorc(h, f'({r0})'), _XP1)} + {_XP4}) % {_M64X})::UBIGINT"
        steps.append(
            f"""{src}_q{4 + i} AS (
  SELECT *, CASE WHEN ln >= 32 THEN {step} ELSE {h} END AS h{i + 1}
  FROM {src}_q{3 + i})"""
        )
        h = f"h{i + 1}"
    # q8: + len
    steps.append(
        f"""{src}_q8 AS (
  SELECT *, ((({h})::HUGEINT + ln) % {_M64X})::UBIGINT AS g0, nstripes * 32 AS p0
  FROM {src}_q7)"""
    )
    # q9..q11: up to 3 tail 8-byte rounds
    g = "g0"
    for i in range(3):
        w = _le64c(f"(p0 + {8 * i})")
        k1 = _rndc("0::UBIGINT", w)
        step = f"(({_mulc(_rotlc(_xorc(g, f'({k1})'), 27), _XP1)} + {_XP4}) % {_M64X})::UBIGINT"
        steps.append(
            f"""{src}_q{9 + i} AS (
  SELECT *, CASE WHEN rem >= {8 * (i + 1)} THEN {step} ELSE {g} END AS g{i + 1}
  FROM {src}_q{8 + i})"""
        )
        g = f"g{i + 1}"
    # q12: optional 4-byte round at offset p0 + 8*(rem//8)
    w4 = _le32c("(p0 + (rem // 8) * 8)")
    step4 = f"(({_mulc(_rotlc(_xorc(g, _mulc(w4, _XP1)), 23), _XP2)} + {_XP3}) % {_M64X})::UBIGINT"
    steps.append(
        f"""{src}_q12 AS (
  SELECT *, CASE WHEN rem % 8 >= 4 THEN {step4} ELSE {g} END AS g4,
         (rem // 8) * 8 + CASE WHEN rem % 8 >= 4 THEN 4 ELSE 0 END AS tb0
  FROM {src}_q11)"""
    )
    # q13..q15: up to 3 single-byte rounds at p0+tb0+i
    g = "g4"
    for i in range(3):
        b = f"codes[p0 + tb0 + {i} + 1]"
        step = f"({_mulc(_rotlc(_xorc(g, _mulc(b, _XP5)), 11), _XP1)})::UBIGINT"
        steps.append(
            f"""{src}_q{13 + i} AS (
  SELECT *, CASE WHEN rem - tb0 >= {i + 1} THEN {step} ELSE {g} END AS g{5 + i}
  FROM {src}_q{12 + i})"""
        )
        g = f"g{5 + i}"
    # q16: avalanche 33/_XP2, 29/_XP3, 32
    a1 = _xorc(g, f"({g})::UBIGINT >> 33")
    steps.append(f"""{src}_q16 AS (SELECT *, ({_mulc(a1, _XP2)})::UBIGINT AS a1 FROM {src}_q15)""")
    a2 = _xorc("a1", "a1 >> 29")
    steps.append(f"""{src}_q17 AS (SELECT *, ({_mulc(a2, _XP3)})::UBIGINT AS a2 FROM {src}_q16)""")
    steps.append(
        f"""{src}_f AS (SELECT *, xor(a2, a2 >> 32) AS xh FROM {src}_q17)"""
    )
    return ",\n".join(steps)


def _simhash_oracle() -> str:
    """Per-bit majority over the SQL-replicated xxhash64 token hashes,
    folded to the same SIGNED int64 Spark emits (bit 63 = sign)."""
    sums = ",\n    ".join(
        f"sum(((xh >> {i}) & 1)::BIGINT) AS s{i}" for i in range(64)
    )
    fold_low = " + ".join(
        f"(CASE WHEN 2 * s{i} > cnt THEN {1 << i}::HUGEINT ELSE 0 END)"
        for i in range(63)
    )
    fold = (
        f"({fold_low} - CASE WHEN 2 * s63 > cnt THEN 9223372036854775808::HUGEINT "
        f"ELSE 0 END)::BIGINT"
    )
    return f"""
    WITH t AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
      FROM documents
    ),
    tk AS (
      SELECT doc_id, unnest(string_split(nt, ' ')) AS tok
      FROM t WHERE length(nt) > 0
    ),
    tkf AS (SELECT doc_id, tok FROM tk WHERE len(tok) > 0),
    {_xxh64_any_cte_chain("tkf")},
    v AS (SELECT doc_id, count(*) AS cnt,
    {sums}
    FROM tkf_f GROUP BY doc_id)
    SELECT doc_id, {fold} AS simhash FROM v
    """


@_q("dedup_simhash_docs", oracle=_simhash_oracle())
def dedup_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-oracle entry since round 4: DuckDB re-derives every token's
    Spark-exact xxhash64 (``_xxh64_any_cte_chain``) and the 64-bit
    majority fold, hash-matching the signed simhash values."""
    from mediachain_indexer_spark.operators.dedup import simhash64

    return simhash64(load_table(spark, sf_dir, "documents"))


def _lsh_pairs_oracle(
    dim: int = 64, n_planes: int = 12, min_cosine: float = 0.2, seed: int = 42
) -> str:
    """DuckDB twin of ``cosine_neighbors_lsh``: the hyperplane constants
    are embedded as full-precision literals (same seed-derived values the
    Spark kernel closes over), each sign bit is a ``list_dot_product``
    against the float64-upcast embedding, and the bucket join + exact
    cosine refine replays end to end.  Numeric parity holds because the
    Spark kernels upcast to float64 BEFORE the multiply and reduce with
    einsum's sequential fold (vecmath module docstring) and both engines
    round to 6 digits before the threshold."""
    from mediachain_indexer_spark.operators.similarity import _planes

    planes = _planes(dim, n_planes, seed)
    plane_lits = ", ".join(
        "[" + ", ".join(repr(x) for x in p) + "]" for p in planes
    )
    bits = " || ".join(
        f"(CASE WHEN list_dot_product(e, planes[{j + 1}]) >= 0 "
        "THEN '1' ELSE '0' END)"
        for j in range(n_planes)
    )
    return f"""
    WITH pl AS (SELECT [{plane_lits}]::DOUBLE[][] AS planes),
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    s AS (SELECT vec_id, e, {bits} AS bucket FROM v CROSS JOIN pl),
    pr AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
        CASE WHEN sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b.e, b.e)) = 0 THEN 0.0
             ELSE round(list_dot_product(a.e, b.e)
                  / (sqrt(list_dot_product(a.e, a.e))
                     * sqrt(list_dot_product(b.e, b.e))), 6)
        END AS cosine
      FROM s a JOIN s b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM pr WHERE cosine >= {min_cosine}
    """


@_q("similarity_lsh_pairs", oracle=_lsh_pairs_oracle())
def similarity_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-oracle entry since round 4: DuckDB re-derives every hyperplane
    sign bit, bucket, and refined cosine (``_lsh_pairs_oracle``)."""
    from mediachain_indexer_spark.operators.similarity import cosine_neighbors_lsh

    return cosine_neighbors_lsh(
        load_table(spark, sf_dir, "embeddings"), dim=64, n_planes=12, min_cosine=0.2
    )


@_q(
    "text_rolling_fingerprint",
    # exact DuckDB twin of the numpy rolling-hash kernel: same normalize,
    # same zero-padded code list, same mod-2^64 polynomial (B=0x100000001B3,
    # one multiply-add per window char) and splitmix64 finalizer.  64x64-bit
    # multiplies are split hi32/lo32 so each partial product fits INT128.
    oracle="""
    WITH t AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
      FROM documents
    ),
    c AS (
      SELECT doc_id, length(nt) AS ln,
        list_transform(range(1, greatest(length(nt), 8) + 1),
          i -> CASE WHEN i <= length(nt) THEN unicode(substr(nt, i, 1))::UBIGINT
                    ELSE 0::UBIGINT END) AS codes
      FROM t
    ),
    h AS (
      SELECT doc_id,
        list_transform(range(0, greatest(ln - 8, 0) + 1), s ->
          ((((((((((((((codes[s+1]::HUGEINT * 1099511628211 + codes[s+2])
            % 18446744073709551616) * 1099511628211 + codes[s+3])
            % 18446744073709551616) * 1099511628211 + codes[s+4])
            % 18446744073709551616) * 1099511628211 + codes[s+5])
            % 18446744073709551616) * 1099511628211 + codes[s+6])
            % 18446744073709551616) * 1099511628211 + codes[s+7])
            % 18446744073709551616) * 1099511628211 + codes[s+8])
            % 18446744073709551616)::UBIGINT
        ) AS polys
      FROM c
    ),
    m AS (
      SELECT doc_id,
        list_transform(
          list_transform(
            list_transform(
              list_transform(
                list_transform(polys, x -> xor(x, x >> 30)),
                x -> ((x::HUGEINT * 484763065 % 18446744073709551616
                       + (x::HUGEINT * 3210233709 % 4294967296) * 4294967296)
                      % 18446744073709551616)::UBIGINT),
              x -> xor(x, x >> 27)),
            x -> ((x::HUGEINT * 321982955 % 18446744073709551616
                   + (x::HUGEINT * 2496678331 % 4294967296) * 4294967296)
                  % 18446744073709551616)::UBIGINT),
          x -> xor(x, x >> 31)) AS mixed
      FROM h
    )
    SELECT doc_id,
      CASE WHEN list_aggregate(mixed, 'min') >= 9223372036854775808::UBIGINT
           THEN (list_aggregate(mixed, 'min')::HUGEINT - 18446744073709551616)::BIGINT
           ELSE list_aggregate(mixed, 'min')::BIGINT END AS fingerprint,
      CASE WHEN list_aggregate(mixed, 'max') >= 9223372036854775808::UBIGINT
           THEN (list_aggregate(mixed, 'max')::HUGEINT - 18446744073709551616)::BIGINT
           ELSE list_aggregate(mixed, 'max')::BIGINT END AS fingerprint_hi
    FROM m
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-oracle entry: the Arrow kernel (operators/textstats.py) is
    deterministic and DuckDB-expressible — the oracle recomputes the exact
    polynomial + splitmix64 pipeline in SQL, proving the vectorized batch
    kernel bit-reproducible outside Spark."""
    from mediachain_indexer_spark.operators.textstats import rolling_fingerprint

    return rolling_fingerprint(load_table(spark, sf_dir, "documents"))


@_q(
    "agg_grouping_sets",
    """
    SELECT COALESCE(o_orderstatus, '<all>') AS status,
           COALESCE(o_orderpriority, '<all>') AS priority,
           COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, '<all>') AS status,
               COALESCE(o_orderpriority, '<all>') AS priority,
               COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@_q(
    "window_rank_family",
    """
    SELECT o_custkey, o_orderkey,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           CAST(ROUND(PERCENT_RANK() OVER w, 6) AS DOUBLE) AS prnk
    FROM orders WHERE o_custkey % 100 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderpriority, o_orderkey)
    """,
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderpriority", "o_orderkey")
    return (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 100 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.round(F.percent_rank().over(w), 6).cast("double").alias("prnk"),
        )
    )


@_q("agg_approx_distinct_users")
def agg_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct — rows-only check (DuckDB's approx sketch
    differs); the exact countDistinct twin is oracle-checked elsewhere."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
    )


@_q(
    "join_asof_purchase_attribution",
    """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts
               FROM events WHERE event_type = 'purchase' AND event_id % 20 = 0),
    v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
    cand AS (
      SELECT p.purchase_id, v.event_id, v.ts,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                ORDER BY v.ts DESC, v.event_id DESC) AS rn
      FROM p JOIN v ON v.user_id = p.user_id
                   AND v.ts <= p.ts
                   AND v.ts >= p.ts - INTERVAL 3 DAY)
    SELECT purchase_id, event_id AS attributed_view_id,
           CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS view_epoch
    FROM cand WHERE rn = 1
    """,
)
def join_asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase attributed to the same user's latest
    preceding 'view' within 3 days.  The equi key (user_id) carries the
    shuffle; the time band is a post-join filter — a band join, never a
    cross product."""
    e = load_table(spark, sf_dir, "events")
    p = e.where((F.col("event_type") == "purchase") & (F.col("event_id") % 20 == 0)).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    v = e.where(F.col("event_type") == "view").select(
        "event_id", "user_id", F.col("ts").alias("v_ts")
    )
    cand = p.join(v, "user_id").where(
        (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 3 DAY"))
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("v_ts").desc(), F.col("event_id").desc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "purchase_id",
            F.col("event_id").alias("attributed_view_id"),
            F.unix_timestamp("v_ts").alias("view_epoch"),
        )
    )


# ---------------------------------------------------------------------------
# Free-text relevance search (reference R11: [PK] mc_web.py /search via the
# ES BM25 scorer — rebuilt Spark-first in operators/search.py)
# ---------------------------------------------------------------------------
_SEARCH_QUERIES = (
    ("q1", "spark window agg"),
    ("q2", "hash join merge"),
    ("q3", "stream batch filter sort"),
)
_SEARCH_K = 10


def _bm25_oracle() -> str:
    """DuckDB twin of ``bm25_topk`` over the ``documents`` view.

    Float-parity per the repo rules: every folded constant is injected as
    its Python ``repr`` (shortest round-trip decimal → identical double in
    both parsers; ``k1 + 1.0`` folds to 2.2000000000000002, NOT 2.2),
    expression shapes mirror the Spark column tree, and the one
    non-portable op — ``ln`` (1-ulp divergence on ~2% of inputs, measured)
    — never reaches the output: ranks order by ``round(score, 6)`` with a
    doc_id tiebreak, so only a score landing within an ulp of a 0.5e-6
    rounding boundary could flip the hash."""
    from mediachain_indexer_spark.operators.search import (
        DEFAULT_B,
        DEFAULT_K1,
        tokenize_query,
    )

    k1, b = DEFAULT_K1, DEFAULT_B
    k1p1 = repr(k1 + 1.0)
    qvals = ", ".join(
        f"('{qid}', '{t}')"
        for qid, qtext in _SEARCH_QUERIES
        for t in tokenize_query(qtext)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
    FROM documents
  ) WHERE t <> ''
),
postings AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM postings GROUP BY doc_id),
stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl
),
qterms(query_id, term) AS (VALUES {qvals}),
matched AS (
  SELECT p.* FROM postings p
  JOIN (SELECT DISTINCT term FROM qterms) q USING (term)
),
dft AS (SELECT term, count(*) AS df FROM matched GROUP BY term),
contrib AS (
  SELECT q.query_id, m.doc_id,
    ln(1.0::DOUBLE
       + (CAST(s.n_docs - d.df AS DOUBLE) + 0.5::DOUBLE)
         / (CAST(d.df AS DOUBLE) + 0.5::DOUBLE))
    * (CAST(m.tf AS DOUBLE) * {k1p1}::DOUBLE)
    / (CAST(m.tf AS DOUBLE)
       + {k1!r}::DOUBLE
         * (1.0::DOUBLE - {b!r}::DOUBLE
            + {b!r}::DOUBLE * CAST(l.dl AS DOUBLE) / s.avgdl)) AS contrib
  FROM matched m
  JOIN qterms q USING (term)
  JOIN dft d USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN stats s
),
scores AS (
  SELECT query_id, doc_id, sum(contrib) AS score
  FROM contrib GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(score, 6) DESC, doc_id ASC) AS "rank"
  FROM scores
)
SELECT query_id, doc_id, "rank" FROM ranked WHERE "rank" <= {_SEARCH_K}
"""


@_q("text_search_bm25", _bm25_oracle())
def text_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 BM25 hits for three fixed multi-term queries over the
    documents corpus — the reference's /search surface as a DataFrame
    pipeline: postings build (one exploding groupBy), broadcast query-term
    pruning BEFORE df/idf/scoring, rank window per query.  Rank-only
    output by design (module docstring: ln is not bit-portable)."""
    from mediachain_indexer_spark.operators.search import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, list(_SEARCH_QUERIES), k=_SEARCH_K)
