"""Driver-contract queries: one entry per implemented operator family.

Each QUERIES[name] is (spark, sf_dir) -> DataFrame built with the
engine's DataFrame plans; ORACLES[name] is the equivalent ANSI SQL that
DuckDB runs on the same parquet tables. Column names/aliases match
exactly on both sides (the driver hash-compares sorted columns).
Floating aggregates are rounded on BOTH sides so value hashes are
order- and ulp-insensitive.

Operator coverage map (SURVEY.md §2 rows in parentheses):
  relational aggs/filters/sorts (2.2, 2.4, 2.6), equi joins + broadcast
  (2.3), windows (2.5), set ops (2.7), scalar string/date/math (2.8),
  certainty-cascade CASE semantics (2.2), validation error stats (2.4),
  regression (2.4), mode/median (2.4), spatial joins (2.3, engine ops
  with brute-force SQL oracles), dedup/similarity/text (training-data
  ops), raster->vector pipeline (rows-only, no SQL analog).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _ck_sorted(df: DataFrame, *cols) -> DataFrame:
    """Deterministic final sort behind a materialization barrier.

    A global orderBy computes range-partition boundaries by SAMPLING
    its child — a separate job that re-executes every operator above
    the last materialized exchange, then the sort shuffle executes the
    same subtree AGAIN. For queries whose final stage carries the
    expensive work (pair-verify kernels, array_intersect cascades), the
    whole verify ran twice: minhash_pairs measured 5.0 s unsorted vs
    8.6 s sorted at sf0.1. The lazy localCheckpoint materializes the
    result rows once (first touched by the sample job), so both the
    sampling and the sort read cached partitions. Applied only where
    the final stage is expensive — for cheap tails the recompute costs
    less than the cache write."""
    return df.localCheckpoint(eager=False).orderBy(*cols)


# parquet footer schemas, keyed per Spark application + file path.
# METADATA only (column names/types — what a catalog table would hold):
# every query still scans the parquet data in full on every run; this
# skips the redundant per-build schema-inference job that spark.read
# otherwise runs (~70 ms of driver latency per table reference,
# re-paid on every invocation of every query).
_SCHEMA_CACHE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Pin the session timezone: timestamp rendering (date_format,
    # epoch casts) follows spark.sql.session.timeZone, which defaults
    # to the HOST JVM zone on a driver-built session. The DuckDB
    # oracles are all written against UTC wall clocks, so an
    # un-pinned session on a non-UTC host would double-shift
    # tz_convert/sessionize and fail the value-hash gate.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    key = (spark.sparkContext.applicationId, path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


# ---------------------------------------------------------------- aggregations

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: filter -> groupBy -> partial+final aggs -> sort.
    (Reference analog: per-group median/std/count composites, §2.4.)"""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2002-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '2002-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_mode_median(spark, sf_dir):
    """mode()/median() group aggs (validation.py:2294-2303 semantics)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.mode("o_orderstatus").alias("status_mode"),
            F.round(F.median("o_totalprice"), 4).alias("price_median"),
            F.count("*").alias("n"),
        )
        .orderBy("order_year")
    )


ORACLE_MODE_MEDIAN = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
       MODE(o_orderstatus) AS status_mode,
       ROUND(MEDIAN(o_totalprice), 4) AS price_median,
       COUNT(*) AS n
FROM orders GROUP BY 1 ORDER BY 1
"""


def q_error_stats(spark, sf_dir):
    """Validation error stats: bias/MAE/RMSE/stdev/corr/n per group —
    exact formulas of deacl_val_stats (validation.py:109-146), with
    events.value as measurement and a fixed linear model as 'truth'."""
    e = _t(spark, sf_dir, "events")
    diff = F.col("value") - (F.col("user_id") * 0.1 + 5.0)
    return (
        e.withColumn("diff", diff)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("diff"), 6).alias("bias"),
            F.round(F.avg(F.abs(F.col("diff"))), 6).alias("mae"),
            F.round(F.sqrt(F.avg(F.pow(F.col("diff"), 2))), 6).alias("rmse"),
            F.round(F.stddev("diff"), 6).alias("stdev"),
            F.round(F.corr(F.col("value"), F.col("user_id").cast("double")), 6).alias("corr"),
        )
        .orderBy("event_type")
    )


ORACLE_ERROR_STATS = """
WITH d AS (SELECT event_type, value, user_id,
                  value - (user_id * 0.1 + 5.0) AS diff FROM events)
SELECT event_type,
       COUNT(*) AS n,
       ROUND(AVG(diff), 6) AS bias,
       ROUND(AVG(ABS(diff)), 6) AS mae,
       ROUND(SQRT(AVG(diff * diff)), 6) AS rmse,
       ROUND(STDDEV_SAMP(diff), 6) AS stdev,
       ROUND(CORR(value, CAST(user_id AS DOUBLE)), 6) AS corr
FROM d GROUP BY event_type ORDER BY event_type
"""


def q_regr_slope(spark, sf_dir):
    """Built-in linear regression aggs (beach-slope analog,
    validation.py:205-209 -> regr_slope)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.regr_slope(F.col("l_extendedprice"), F.col("l_quantity")), 4).alias("slope"),
            F.round(F.regr_intercept(F.col("l_extendedprice"), F.col("l_quantity")), 4).alias("intercept"),
            F.regr_count(F.col("l_extendedprice"), F.col("l_quantity")).alias("n"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_REGR = """
SELECT l_returnflag,
       ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope,
       ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 4) AS intercept,
       CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------- joins

def q_join_star(spark, sf_dir):
    """Star-schema chain join with broadcast dims (customer->nation->region
    + orders fact): revenue per region/year. The reference's region-
    attribute join analog (vector.py:1288-1289)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count("*").alias("n_orders"))
        .orderBy("region_name", "order_year")
    )


ORACLE_JOIN_STAR = """
SELECT r_name AS region_name,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
       ROUND(SUM(o_totalprice), 2) AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_semi_anti_join(spark, sf_dir):
    """Left-semi + left-anti joins (difference-overlay semantics,
    validation.py:2189): customers with orders but no 'P' order."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    p_orders = o.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    return (
        with_orders.join(p_orders, with_orders.c_custkey == p_orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


ORACLE_SEMI_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
ORDER BY c_custkey
"""


def q_asof_nearest_year(spark, sf_dir):
    """Equi join on year + nearest-by-value match (k=1 ranking window) —
    the merge(on='year') + nearest-point pattern (validation.py:2322,
    vector.py:806-818) on scalar data: for each order, the supplier
    whose acctbal is nearest to totalprice/1000, deterministic
    tie-break on suppkey."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    s = _t(spark, sf_dir, "supplier")
    j = o.crossJoin(F.broadcast(s)).withColumn(
        "dist", F.round(F.abs(F.col("s_acctbal") - F.col("o_totalprice") / 1000.0), 6)
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.col("dist").asc(), F.col("s_suppkey").asc())
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "s_suppkey", "dist")
        .orderBy("o_orderkey")
    )


ORACLE_ASOF = """
WITH j AS (
  SELECT o_orderkey, s_suppkey,
         ROUND(ABS(s_acctbal - o_totalprice / 1000.0), 6) AS dist,
         ROW_NUMBER() OVER (PARTITION BY o_orderkey
                            ORDER BY ABS(s_acctbal - o_totalprice / 1000.0), s_suppkey) AS rn
  FROM orders CROSS JOIN supplier WHERE o_orderkey < 200)
SELECT o_orderkey, s_suppkey, dist FROM j WHERE rn = 1 ORDER BY o_orderkey
"""


# -------------------------------------------------------------------- windows

def q_window_running(spark, sf_dir):
    """Running sum + lag over event time per user (§2.5 windows; the
    3-year-gapfill/diff-over-runs analogs)."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4).alias("running_value"),
        F.round(F.lag("value", 1).over(w), 4).alias("prev_value"),
        F.row_number().over(w).alias("seq"),
    ).orderBy("user_id", "seq")


ORACLE_WINDOW_RUNNING = """
SELECT user_id, event_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value,
       ROUND(LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS prev_value,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
FROM events WHERE user_id < 10 ORDER BY user_id, seq
"""


def q_topk_per_group(spark, sf_dir):
    """Top-3 rows per group by ranking window (kNN k-ranking idiom,
    §2.5/§2.6; min_by/max_by argmin analog)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        e.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("event_type", "rnk", "event_id", F.round("value", 4).alias("value"))
        .orderBy("event_type", "rnk")
    )


ORACLE_TOPK_PER_GROUP = """
WITH r AS (SELECT event_type, event_id, value,
                  ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY value DESC, event_id) AS rnk
           FROM events)
SELECT event_type, rnk, event_id, ROUND(value, 4) AS value
FROM r WHERE rnk <= 3 ORDER BY event_type, rnk
"""


# ------------------------------------------------------------------- set ops

def q_set_ops(spark, sf_dir):
    """INTERSECT/EXCEPT/UNION over key sets (§2.7): parts with a big
    'A'-flag AND a big 'N'-flag lineitem but no big 'R'-flag one. The
    quantity cutoff keeps each leg sparse so the result is non-trivial
    (every partkey carries every flag in this corpus; without the
    cutoff the EXCEPT degenerates to the empty set and proves
    nothing)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 48)
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_partkey").alias("partkey"))
    r = li.filter(F.col("l_returnflag") == "R").select(F.col("l_partkey").alias("partkey"))
    n = li.filter(F.col("l_returnflag") == "N").select(F.col("l_partkey").alias("partkey"))
    return (
        a.intersect(n).exceptAll(r.distinct()).distinct().orderBy("partkey")
    )


ORACLE_SET_OPS = """
SELECT DISTINCT partkey FROM (
  SELECT l_partkey AS partkey FROM lineitem WHERE l_returnflag = 'A' AND l_quantity > 48
  INTERSECT
  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N' AND l_quantity > 48
) EXCEPT (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 48)
ORDER BY partkey
"""


# ------------------------------------------------------------ scalar functions

def q_scalar_funcs(spark, sf_dir):
    """String/date/math scalar coverage (§2.8): substring/split/contains/
    concat_ws/regexp_extract/year/round/abs/pmod — the filename-year
    parse (vector.py:129) and outlier-string idioms (vector.py:1041)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    return p.select(
        "p_partkey",
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.upper(F.col("p_brand")).alias("brand_upper"),
        F.size(F.split("p_type", " ")).alias("type_words"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_name", r"(\d+)", 1).alias("first_num"),
        F.col("p_type").contains("BRASS").alias("is_brass"),
        F.round(F.abs(F.col("p_retailprice") - 1000.0), 2).alias("price_dev"),
        F.pmod(F.col("p_size"), F.lit(7)).alias("size_mod7"),
    ).orderBy("p_partkey")


ORACLE_SCALAR_FUNCS = """
SELECT p_partkey,
       SUBSTRING(p_name, 1, 8) AS name_prefix,
       UPPER(p_brand) AS brand_upper,
       LEN(STRING_SPLIT(p_type, ' ')) AS type_words,
       CONCAT_WS('|', p_brand, p_type) AS brand_type,
       COALESCE(REGEXP_EXTRACT(p_name, '(\\d+)', 1), '') AS first_num,
       CONTAINS(p_type, 'BRASS') AS is_brass,
       ROUND(ABS(p_retailprice - 1000.0), 2) AS price_dev,
       p_size % 7 AS size_mod7
FROM part WHERE p_partkey < 300 ORDER BY p_partkey
"""


def q_dms2dd(spark, sf_dir):
    """DMS coordinate-string parse (§2.8 string family, the last item
    verified only by pytest until this round): deterministic DMS
    strings are formatted from customer keys covering every branch the
    parser has — plain D°M'S.ss", trailing-hemisphere S (negate) and
    space-separated E (abs), negative degrees with no seconds
    (subtract rule), the reference's zero-degree quirk (0°M'S treated
    as southern — validation.py:215-218), and a malformed empty string
    (NULL, not an abort). Spark formats the string JVM-side and parses
    it back with sources.files.dms2dd; the oracle formats the SAME
    string in DuckDB and re-derives decimal degrees with the identical
    IEEE expression shape (deg + (min/60 + sec/3600)), so doubles
    compare bit-identically with no rounding."""
    from ..sources.files import dms2dd

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 600)
    deg = (F.col("c_custkey") % 89 + 1).cast("int")
    mins = (F.col("c_custkey") * 7 % 60).cast("int")
    secs = (F.col("c_custkey") * 13 % 60).cast("int")
    cs = (F.col("c_custkey") * 29 % 100).cast("int")
    k = F.col("c_custkey") % 6
    dms = (
        F.when(k == 0, F.format_string("%d°%d'%d.%02d\"", deg, mins, secs, cs))
        .when(k == 1, F.format_string("%d°%d'%d.%02d\"S", deg, mins, secs, cs))
        .when(k == 2, F.format_string("%d %d %d.%02d E", deg, mins, secs, cs))
        .when(k == 3, F.format_string("-%d°%d'", deg, mins))
        .when(k == 4, F.format_string("0°%d'%d.%02d", mins, secs, cs))
        .otherwise(F.lit(""))
    )
    return (
        c.select(F.col("c_custkey").alias("id"), dms.alias("dms"))
        .withColumn("dd", dms2dd("dms"))
        .orderBy("id")
    )


ORACLE_DMS2DD = """
WITH src AS (
  SELECT c_custkey AS id,
         CAST(c_custkey % 89 + 1 AS INTEGER) AS deg_i,
         CAST(c_custkey * 7 % 60 AS INTEGER) AS min_i,
         CAST(c_custkey * 13 % 60 AS INTEGER) AS sec_i,
         CAST(c_custkey * 29 % 100 AS INTEGER) AS cs_i,
         c_custkey % 6 AS k
  FROM customer WHERE c_custkey < 600),
fmt AS (
  SELECT id, k, deg_i, min_i,
         CASE CAST(k AS INTEGER)
           WHEN 0 THEN printf('%d°%d''%d.%02d"', deg_i, min_i, sec_i, cs_i)
           WHEN 1 THEN printf('%d°%d''%d.%02d"S', deg_i, min_i, sec_i, cs_i)
           WHEN 2 THEN printf('%d %d %d.%02d E', deg_i, min_i, sec_i, cs_i)
           WHEN 3 THEN printf('-%d°%d''', deg_i, min_i)
           WHEN 4 THEN printf('0°%d''%d.%02d', min_i, sec_i, cs_i)
           ELSE '' END AS dms,
         CAST(printf('%d.%02d', sec_i, cs_i) AS DOUBLE) AS sec_d
  FROM src)
SELECT id, dms,
       CASE CAST(k AS INTEGER)
         WHEN 0 THEN deg_i + (min_i / 60.0 + sec_d / 3600.0)
         WHEN 1 THEN -ABS(deg_i + (min_i / 60.0 + sec_d / 3600.0))
         WHEN 2 THEN ABS(deg_i + (min_i / 60.0 + sec_d / 3600.0))
         WHEN 3 THEN (-deg_i) - (min_i / 60.0 + 0.0 / 3600.0)
         WHEN 4 THEN 0 - (min_i / 60.0 + sec_d / 3600.0)
         ELSE NULL END AS dd
FROM fmt ORDER BY id
"""


def q_tz_convert(spark, sf_dir):
    """UTC -> local timezone scalar (reference validation.py:2597:
    tz_localize('UTC').tz_convert('Australia/Canberra')) via the JVM
    from_utc_timestamp; formatted to a string so the hash compare is
    engine-independent (DST-carrying: Jan events render at AEDT +11)."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    return e.select(
        "event_id",
        F.date_format(
            F.from_utc_timestamp(
                F.col("ts").cast("timestamp"), "Australia/Canberra"
            ),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("local_ts"),
    ).orderBy("event_id")


ORACLE_TZ_CONVERT = """
SELECT event_id,
       strftime(timezone('Australia/Canberra', timezone('UTC', ts)),
                '%Y-%m-%d %H:%M:%S') AS local_ts
FROM events WHERE event_id < 500 ORDER BY event_id
"""


def q_certainty_cascade(spark, sf_dir):
    """Sequential-overwrite CASE cascade where LATER rules win (the
    reference applies flags in order, vector.py:1549-1580 — replicated
    by evaluating the cascade in REVERSE priority as a first-match CASE)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.when(F.col("o_totalprice") > 400000, "extreme value")
            .when(F.col("o_orderpriority") == "1-URGENT", "urgent")
            .when(F.year("o_orderdate").isin(1996, 1997), "aerosol issues")
            .otherwise("good")
            .alias("certainty"),
        )
        .groupBy("certainty")
        .agg(F.count("*").alias("n"))
        .orderBy("certainty")
    )


ORACLE_CERTAINTY = """
SELECT CASE WHEN o_totalprice > 400000 THEN 'extreme value'
            WHEN o_orderpriority = '1-URGENT' THEN 'urgent'
            WHEN EXTRACT(year FROM o_orderdate) IN (1996, 1997) THEN 'aerosol issues'
            ELSE 'good' END AS certainty,
       COUNT(*) AS n
FROM orders GROUP BY 1 ORDER BY 1
"""


def q_conditional_coalesce(spark, sf_dir):
    """The count>5 -> annual else gapfill coalesce (vector.py:557-561) as
    a join + conditional select between two 'tables'."""
    li = _t(spark, sf_dir, "lineitem")
    # both "tables" aggregate the SAME rows on the SAME key — one
    # groupBy computes both sides (guide §2.4: two operations keyed the
    # same way share one exchange; here they share one aggregation),
    # replacing scan+shuffle x2 + self-join with a single pass. Values
    # identical: each side's avg/round sees exactly the same rows.
    return (
        li.groupBy("l_partkey")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.avg("l_quantity"), 6).alias("qty_annual"),
            F.round(F.avg(F.col("l_quantity") * 0.5 + 10.0), 6).alias(
                "qty_gapfill"
            ),
        )
        .select(
            "l_partkey",
            F.when(F.col("cnt") > 5, F.col("qty_annual")).otherwise(F.col("qty_gapfill")).alias("qty"),
            (F.col("cnt") > 5).alias("used_annual"),
        )
        .orderBy("l_partkey")
    )


ORACLE_COALESCE = """
WITH annual AS (SELECT l_partkey, COUNT(*) AS cnt,
                       ROUND(AVG(l_quantity), 6) AS qty_annual
                FROM lineitem GROUP BY l_partkey),
     gapfill AS (SELECT l_partkey,
                        ROUND(AVG(l_quantity * 0.5 + 10.0), 6) AS qty_gapfill
                 FROM lineitem GROUP BY l_partkey)
SELECT annual.l_partkey,
       CASE WHEN cnt > 5 THEN qty_annual ELSE qty_gapfill END AS qty,
       cnt > 5 AS used_annual
FROM annual JOIN gapfill ON annual.l_partkey = gapfill.l_partkey
ORDER BY annual.l_partkey
"""


def q_salted_agg(spark, sf_dir):
    """Skew-safe two-phase salted aggregation (north_rule: explicit
    salted-key skew handling). l_returnflag has 3 values over ~600k
    rows at sf0.1 — every key is 'hot', so the whole plan runs through
    salt -> partial -> merge; the oracle is the plain GROUP BY, proving
    the decomposition is exact."""
    from ..operators.skew import salted_counts_sums

    li = _t(spark, sf_dir, "lineitem")
    out = salted_counts_sums(
        li, ["l_returnflag"], "l_orderkey", ["l_quantity", "l_extendedprice"],
        target_rows_per_task=5_000,
    )
    return out.select(
        "l_returnflag",
        "n",
        F.round("sum_l_quantity", 2).alias("sum_qty"),
        F.round("sum_l_extendedprice", 2).alias("sum_price"),
    ).orderBy("l_returnflag")


ORACLE_SALTED_AGG = """
SELECT l_returnflag, COUNT(*) AS n,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_top1_crs_vote(spark, sf_dir):
    """most_common(1) vote (raster.py:197-201): modal event_type overall,
    deterministic tie-break on name."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type").agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("event_type").asc())
        .limit(1)
    )


ORACLE_TOP1_VOTE = """
SELECT event_type, COUNT(*) AS n FROM events
GROUP BY event_type ORDER BY n DESC, event_type ASC LIMIT 1
"""


# ------------------------------------------------------------- spatial joins
# Points derived deterministically from `events` (x = value*40,
# y = (user_id % 50)*400 -> plane ~[0, 22400] x [0, 19600]); the Spark side
# runs the ENGINE's cell-cover / kNN operators, the oracle brute-forces the
# same semantics in SQL. This gives the driver hash-verified evidence for
# the north-rule spatial ops on its own tables.

_PIP_RECTS = [
    # (poly_id, xmin, ymin, xmax, ymax)
    ("ra", 1000.0, 1000.0, 9000.0, 9000.0),
    ("rb", 8000.0, 10000.0, 20000.0, 18000.0),
    ("rc", 15000.0, 0.0, 22000.0, 6000.0),
]

_ANCHORS = [
    ("a0", 2000.0, 2000.0), ("a1", 6000.0, 14000.0), ("a2", 11000.0, 5000.0),
    ("a3", 16000.0, 16000.0), ("a4", 20000.0, 2000.0), ("a5", 1000.0, 18000.0),
    ("a6", 9000.0, 9000.0), ("a7", 14000.0, 11000.0),
]


def _event_points(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.col("event_id").alias("point_id"),
        (F.col("value") * 40.0).alias("x"),
        ((F.col("user_id") % 50) * 400.0).cast("double").alias("y"),
    )


def q_spatial_pip_join(spark, sf_dir):
    """Cell-cover point-in-polygon join (sjoin(within) analog,
    continental.py:276-283) via the engine operator; oracle = SQL range
    predicates (rectangles make containment SQL-expressible)."""
    import pandas as pd

    from ..geometry import wkb as _wkb
    from ..operators import spatial_join as _sj

    pts = _event_points(spark, sf_dir)
    polys = spark.createDataFrame(
        pd.DataFrame(
            {
                "poly_id": [r[0] for r in _PIP_RECTS],
                "geometry": [
                    _wkb.polygon(
                        [[r[1], r[2]], [r[3], r[2]], [r[3], r[4]], [r[1], r[4]]]
                    )
                    for r in _PIP_RECTS
                ],
            }
        )
    )
    joined = _sj.points_in_polygons(pts, polys, res=12, how="inner")
    return (
        joined.groupBy("poly_id")
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.sum("x"), 3).alias("sum_x"),
            F.round(F.sum("y"), 3).alias("sum_y"),
        )
        .orderBy("poly_id")
    )


ORACLE_SPATIAL_PIP = """
WITH pts AS (SELECT event_id AS point_id, value * 40.0 AS x,
                    CAST((user_id % 50) * 400.0 AS DOUBLE) AS y FROM events),
     rects(poly_id, xmin, ymin, xmax, ymax) AS (VALUES
       ('ra', 1000.0, 1000.0, 9000.0, 9000.0),
       ('rb', 8000.0, 10000.0, 20000.0, 18000.0),
       ('rc', 15000.0, 0.0, 22000.0, 6000.0))
SELECT poly_id, COUNT(*) AS n_points,
       ROUND(SUM(x), 3) AS sum_x, ROUND(SUM(y), 3) AS sum_y
FROM pts JOIN rects
  ON x >= xmin AND x <= xmax AND y >= ymin AND y <= ymax
GROUP BY poly_id ORDER BY poly_id
"""


def q_knn_anchor_join(spark, sf_dir):
    """Radius-capped kNN join (sjoin_nearest analog, vector.py:1228-1233)
    via the engine's kRing-bucketed operator; oracle = brute-force cross
    join + ranking window."""
    import pandas as pd

    from ..geometry import wkb as _wkb
    from ..operators import spatial_join as _sj

    pts = _event_points(spark, sf_dir)
    feats = spark.createDataFrame(
        pd.DataFrame(
            {
                "feat_id": [a[0] for a in _ANCHORS],
                "geometry": [_wkb.point(a[1], a[2]) for a in _ANCHORS],
            }
        )
    )
    knn = _sj.knn_join(pts, feats, radius_m=5000.0, res=12, k=1)
    return (
        knn.groupBy("feat_id")
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.avg("dist_m"), 4).alias("avg_dist"),
            F.round(F.max("dist_m"), 4).alias("max_dist"),
        )
        .orderBy("feat_id")
    )


ORACLE_KNN_ANCHOR = """
WITH pts AS (SELECT event_id AS point_id, value * 40.0 AS x,
                    CAST((user_id % 50) * 400.0 AS DOUBLE) AS y FROM events),
     anchors(feat_id, ax, ay) AS (VALUES
       ('a0', 2000.0, 2000.0), ('a1', 6000.0, 14000.0), ('a2', 11000.0, 5000.0),
       ('a3', 16000.0, 16000.0), ('a4', 20000.0, 2000.0), ('a5', 1000.0, 18000.0),
       ('a6', 9000.0, 9000.0), ('a7', 14000.0, 11000.0)),
     d AS (SELECT point_id, feat_id, SQRT((x-ax)*(x-ax) + (y-ay)*(y-ay)) AS dist_m,
                  ROW_NUMBER() OVER (PARTITION BY point_id
                                     ORDER BY SQRT((x-ax)*(x-ax) + (y-ay)*(y-ay)), feat_id) AS rn
           FROM pts CROSS JOIN anchors)
SELECT feat_id, COUNT(*) AS n_points,
       ROUND(AVG(dist_m), 4) AS avg_dist, ROUND(MAX(dist_m), 4) AS max_dist
FROM d WHERE rn = 1 AND dist_m <= 5000.0
GROUP BY feat_id ORDER BY feat_id
"""


def q_overlay_clip(spark, sf_dir):
    """Line x polygon overlay-intersection join (gpd.overlay analog,
    vector.py:454) via the engine operator on horizontal segments
    derived from events; oracle = interval-overlap arithmetic (exact
    for axis-aligned rectangles)."""
    import pandas as pd

    from ..geometry import wkb as _wkb
    from ..operators.overlay import overlay_lines_polygons

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    lines = e.select(
        F.col("event_id").alias("line_id"),
        (F.col("value") * 40.0).alias("x0"),
        ((F.col("user_id") % 50) * 400.0).cast("double").alias("y"),
    )

    def to_wkb(batches):
        import numpy as np

        for pdf in batches:
            geoms = [
                _wkb.linestring(np.array([[x, y], [x + 500.0, y]]))
                for x, y in zip(pdf["x0"], pdf["y"])
            ]
            yield pd.DataFrame({"line_id": pdf["line_id"], "geometry": geoms})

    lines_wkb = lines.mapInPandas(to_wkb, "line_id long, geometry binary")
    polys = spark.createDataFrame(
        pd.DataFrame(
            {
                "poly_id": [r[0] for r in _PIP_RECTS],
                "geometry": [
                    _wkb.polygon(
                        [[r[1], r[2]], [r[3], r[2]], [r[3], r[4]], [r[1], r[4]]]
                    )
                    for r in _PIP_RECTS
                ],
            }
        )
    )
    out = overlay_lines_polygons(lines_wkb, polys, how="intersection", res=12)
    return (
        out.groupBy("poly_id")
        .agg(
            F.count("*").alias("n_pieces"),
            F.round(F.sum("piece_len_m"), 3).alias("clipped_len"),
        )
        .orderBy("poly_id")
    )


ORACLE_OVERLAY_CLIP = """
WITH lines AS (SELECT event_id AS line_id, value * 40.0 AS x0,
                      value * 40.0 + 500.0 AS x1,
                      CAST((user_id % 50) * 400.0 AS DOUBLE) AS y
               FROM events WHERE event_id < 3000),
     rects(poly_id, rxmin, rymin, rxmax, rymax) AS (VALUES
       ('ra', 1000.0, 1000.0, 9000.0, 9000.0),
       ('rb', 8000.0, 10000.0, 20000.0, 18000.0),
       ('rc', 15000.0, 0.0, 22000.0, 6000.0)),
     o AS (SELECT poly_id,
                  LEAST(x1, rxmax) - GREATEST(x0, rxmin) AS olap
           FROM lines JOIN rects
             ON y >= rymin AND y <= rymax
            AND LEAST(x1, rxmax) - GREATEST(x0, rxmin) > 0)
SELECT poly_id, COUNT(*) AS n_pieces, ROUND(SUM(olap), 3) AS clipped_len
FROM o GROUP BY poly_id ORDER BY poly_id
"""


# ------------------------------------------- dedup / text / similarity ops

def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups (md5 hash-groupBy) over documents."""
    from ..operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d, ["text"], "doc_id").orderBy("dup_key")


ORACLE_DEDUP_EXACT = """
SELECT MD5(CONCAT_WS(CHR(31), text)) AS dup_key,
       MIN(doc_id) AS canonical_id, COUNT(*) AS group_size
FROM documents GROUP BY 1 ORDER BY 1
"""


def q_charset_jaccard(spark, sf_dir):
    """Exact char-set Jaccard near-dup pairs within English docs —
    engine operator vs DuckDB's built-in jaccard() (identical char-set
    semantics)."""
    from ..operators.dedup import charset_jaccard_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    return _ck_sorted(
        charset_jaccard_pairs(d, "text", "doc_id", "lang", threshold=0.82),
        "id_a", "id_b",
    )


ORACLE_CHARSET_JACCARD = """
WITH d AS (SELECT doc_id, text FROM documents WHERE lang = 'en')
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(JACCARD(LOWER(a.text), LOWER(b.text)), 6) AS jaccard
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE JACCARD(LOWER(a.text), LOWER(b.text)) >= 0.82
ORDER BY id_a, id_b
"""


def q_ngram_jaccard(spark, sf_dir):
    """Exact word-bigram Jaccard near-dup pairs — all-JVM array
    expressions vs the same set algebra in DuckDB list functions."""
    from ..operators.dedup import word_ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    # full-table corpus: every true near-dup pair scores >= 0.909, so
    # t=0.8 returns the complete non-trivial set with ~2.5x shorter
    # prefixes (candidate volume falls ~6x vs t=0.5)
    return _ck_sorted(
        word_ngram_jaccard_pairs(d, "text", "doc_id", n=2, threshold=0.8),
        "id_a", "id_b",
    )


ORACLE_NGRAM_JACCARD = r"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'),
                     t -> t <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
    list_filter(
      list_distinct(list_transform(generate_series(1, greatest(len(toks) - 1, 1)),
                                   i -> array_to_string(toks[i:i+1], ' '))),
      x -> x <> '') AS grams
  FROM d
)
SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    CASE WHEN (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) = 0
         THEN 0.0
         ELSE len(list_intersect(a.grams, b.grams))::DOUBLE
              / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
    END AS j
  FROM g a JOIN g b ON a.doc_id < b.doc_id
) WHERE j >= 0.8
ORDER BY id_a, id_b
"""


def q_text_quality(spark, sf_dir):
    """Quality scoring features + label per doc (C4/Gopher-style)."""
    from ..operators.text import with_quality

    d = _t(spark, sf_dir, "documents")
    return with_quality(d).select(
        "doc_id", "n_tokens", "punct_ratio", "stop_hits", "mean_tok_len", "quality"
    ).orderBy("doc_id")


# Whitespace spelled as the explicit class (not \s) on BOTH sides:
# Java \s matches \x0B, RE2 \s does not. See operators/text.WS_CLASS.
ORACLE_TEXT_QUALITY = r"""
WITH q AS (
  SELECT doc_id, text, TRIM(text) AS trimmed,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\r\f\x0B]+')) END AS n_tokens,
         LENGTH(text) - LENGTH(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(
             text, '.', ''), ',', ''), '!', ''), '?', ''), ';', ''), ':', '')) AS n_punct,
         (CASE WHEN CONTAINS(' ' || LOWER(text) || ' ', ' the ') THEN 1 ELSE 0 END
        + CASE WHEN CONTAINS(' ' || LOWER(text) || ' ', ' and ') THEN 1 ELSE 0 END
        + CASE WHEN CONTAINS(' ' || LOWER(text) || ' ', ' of ') THEN 1 ELSE 0 END
        + CASE WHEN CONTAINS(' ' || LOWER(text) || ' ', ' to ') THEN 1 ELSE 0 END
        + CASE WHEN CONTAINS(' ' || LOWER(text) || ' ', ' is ') THEN 1 ELSE 0 END
        + CASE WHEN CONTAINS(' ' || LOWER(text) || ' ', ' in ') THEN 1 ELSE 0 END) AS stop_hits
  FROM documents)
SELECT doc_id, n_tokens,
       ROUND(n_punct / GREATEST(LENGTH(text), 1), 6) AS punct_ratio,
       stop_hits,
       ROUND(LENGTH(REGEXP_REPLACE(trimmed, '[ \t\n\r\f\x0B]+', '', 'g')) / GREATEST(n_tokens, 1), 6) AS mean_tok_len,
       CASE WHEN n_tokens < 5 THEN 'too_short'
            WHEN n_punct / GREATEST(LENGTH(text), 1) > 0.1 THEN 'too_punct'
            WHEN LENGTH(REGEXP_REPLACE(trimmed, '[ \t\n\r\f\x0B]+', '', 'g')) / GREATEST(n_tokens, 1) > 12 THEN 'gibberish'
            ELSE 'ok' END AS quality
FROM q ORDER BY doc_id
"""


def _langid_sql() -> str:
    """Generate the DuckDB mirror of with_language_id + accuracy rollup."""
    from ..operators.text import STOPWORDS

    hit_exprs = {}
    for lang, ws in STOPWORDS.items():
        terms = " + ".join(
            f"CASE WHEN CONTAINS(' ' || LOWER(text) || ' ', ' {w} ') THEN 1 ELSE 0 END"
            for w in ws
        )
        hit_exprs[lang] = f"({terms})"
    hits_cols = ", ".join(f"{e} AS {lang}_hits" for lang, e in hit_exprs.items())
    greatest = "GREATEST(" + ", ".join(f"{lang}_hits" for lang in STOPWORDS) + ")"
    whens = "\n".join(
        f"WHEN {lang}_hits = best THEN '{lang}'" for lang in sorted(STOPWORDS)
    )
    return f"""
WITH h AS (SELECT doc_id, lang, {hits_cols} FROM documents),
     p AS (SELECT doc_id, lang, {greatest} AS best,
                  de_hits, en_hits, es_hits, fr_hits FROM h),
     c AS (SELECT doc_id, lang,
                  CASE WHEN best = 0 THEN 'und' {whens} END AS pred_lang
           FROM p)
SELECT lang, pred_lang, COUNT(*) AS n
FROM c GROUP BY lang, pred_lang ORDER BY lang, pred_lang
"""


def q_langid(spark, sf_dir):
    """Language-ID confusion matrix: engine heuristic vs the labeled
    `lang` column."""
    from ..operators.text import with_language_id

    d = _t(spark, sf_dir, "documents")
    return (
        with_language_id(d)
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "pred_lang")
    )


def q_token_stats(spark, sf_dir):
    from ..operators.text import token_stats_by

    return token_stats_by(_t(spark, sf_dir, "documents"), "lang")


ORACLE_TOKEN_STATS = r"""
WITH q AS (SELECT lang,
                  CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                       ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\r\f\x0B]+')) END AS n_tokens
           FROM documents)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,  -- DuckDB SUM(BIGINT)->HUGEINT lands as float64 in pandas; pin int64 to match Spark

       ROUND(AVG(n_tokens), 6) AS avg_tokens, MAX(n_tokens) AS max_tokens
FROM q GROUP BY lang ORDER BY lang
"""


def q_tfidf_topk(spark, sf_dir):
    """Top-3 distinctive terms per document by TF-IDF (rational idf
    variant: exact int64 product + one correctly-rounded division, so
    scores are bit-identical across engines and ranks deterministic —
    see tfidf_topk's docstring for why ln is unsafe here)."""
    from ..operators.text import tfidf_topk

    d = _t(spark, sf_dir, "documents")
    return tfidf_topk(d, "doc_id", "text", k=3).orderBy("doc_id", "rank")


ORACLE_TFIDF_TOPK = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         CAST(tf.tf * (n.n_docs - dfq.df_t) AS DOUBLE)
           / (1.0 + dfq.df_t) AS s
  FROM tf JOIN dfq USING (term) CROSS JOIN n)
SELECT doc_id, CAST(rank AS INT) AS rank, term, tf FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY s DESC, term ASC) AS rank
  FROM scored)
WHERE rank <= 3 ORDER BY doc_id, rank
"""


def q_token_counts(spark, sf_dir):
    """Whitespace + BPE-ish regex token counts (JVM regexp_count vs
    DuckDB regexp_extract_all on the identical RE2-safe pattern)."""
    from ..operators.text import with_token_counts

    d = _t(spark, sf_dir, "documents")
    return with_token_counts(d).select(
        "doc_id", "n_tokens_ws", "n_tokens_bpe"
    ).orderBy("doc_id")


ORACLE_TOKEN_COUNTS = r"""
SELECT doc_id,
       CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
            ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\r\f\x0B]+')) END AS n_tokens_ws,
       LEN(REGEXP_EXTRACT_ALL(text,
           '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r\f\x0B]+|[ \t\n\r\f\x0B]+'
       )) AS n_tokens_bpe
FROM documents ORDER BY doc_id
"""


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-5 (JVM-side dot products) for 10 query
    vectors over the embeddings table."""
    from ..operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(emb, queries, k=5).orderBy("query_id", "rank")


ORACLE_ANN_TOPK = """
WITH q AS (SELECT vec_id AS query_id,
                    CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10),
     s AS (SELECT query_id, vec_id AS item_id,
                  ROUND(LIST_COSINE_SIMILARITY(qv, CAST(embedding AS DOUBLE[])), 6) AS cosine
           FROM q CROSS JOIN embeddings WHERE vec_id != query_id),
     r AS (SELECT query_id, item_id, cosine,
                  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, item_id) AS rank
           FROM s)
SELECT query_id, rank, item_id, cosine FROM r WHERE rank <= 5
ORDER BY query_id, rank
"""


def q_embedding_neardup(spark, sf_dir):
    """LSH-fronted near-dup over the embeddings table augmented with
    deterministic in-query duplicates: for vec_id < 40, an exact copy
    (+100000) and an exactly-2x-scaled copy (+200000). Scaling by a
    power of two is exact in IEEE doubles, so both copies are exactly
    parallel to the original — they share every hyperplane bucket in
    every table, making the LSH path's recall on them provably 1, and
    their cosines round to exactly 1.0 on both engines. The corpus
    itself is near-orthogonal (max off-pair cosine ~0.51), so the
    result is precisely the planted duplicate triangles — non-trivial
    and hash-verifiable against the exact all-pairs oracle."""
    from ..operators.similarity import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    seed = emb.filter(F.col("vec_id") < 40)
    copies = seed.select(
        (F.col("vec_id") + 100000).alias("vec_id"), F.col("embedding")
    ).unionByName(
        seed.select(
            (F.col("vec_id") + 200000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        )
    )
    aug = emb.unionByName(copies)
    return embedding_neardup_pairs(
        aug, dim=64, threshold=0.95
    ).localCheckpoint(eager=False).orderBy("id_a", "id_b")


ORACLE_EMB_NEARDUP = """
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
     e AS (
       SELECT vec_id, embedding FROM base
       UNION ALL
       SELECT vec_id + 100000, embedding FROM base WHERE vec_id < 40
       UNION ALL
       SELECT vec_id + 200000, list_transform(embedding, x -> x * 2.0)
       FROM base WHERE vec_id < 40
     )
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(LIST_COSINE_SIMILARITY(a.embedding, b.embedding), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND(LIST_COSINE_SIMILARITY(a.embedding, b.embedding), 6) >= 0.95
ORDER BY id_a, id_b
"""


def q_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup (Abbas et al. 2023) over the embeddings
    table augmented with the same deterministic duplicate triangles as
    q_embedding_neardup (exact copy +100000 and exactly-2x copy
    +200000 for vec_id < 40; power-of-two scaling is IEEE-exact, so
    both copies normalize to the bitwise-identical unit vector and
    share the original's cluster and c_sim exactly). The coarse
    quantizer is refit deterministically from the BASE table (lowest
    20000 vec_ids, seeded spherical k-means — the ivf_ann_topk recipe)
    so the DuckDB oracle embeds identical centroid literals and
    independently recomputes assignment, keep-priority pairing, and
    the within-cluster cosine prune. The base corpus is
    near-orthogonal (max off-pair cosine ~0.51 << eps), so exactly
    the planted copies drop — keep-priority resolves to the lowest id
    on equal c_sim — and every base row survives."""
    from ..operators.similarity import semdedup, train_ivf_centroids

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = train_ivf_centroids(emb, n_clusters=16)
    seed = emb.filter(F.col("vec_id") < 40)
    copies = seed.select(
        (F.col("vec_id") + 100000).alias("vec_id"), F.col("embedding")
    ).unionByName(
        seed.select(
            (F.col("vec_id") + 200000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        )
    )
    aug = emb.unionByName(copies)
    return semdedup(aug, n_clusters=16, eps=0.95, centroids=cents).orderBy("vec_id")


# --------------------------------------- geospatial pipeline stage queries
# rows-only (marching squares / regression-on-rasters have no SQL
# analog); deterministic synthetic corpus + stable ordering so the
# driver's row-count/schema check is reproducible run to run.

def _beach_spec():
    from ..synth.corpus import CorpusSpec

    return CorpusSpec(
        tile_px=96, halo_px=6, tiles_x=2, tiles_y=1,
        year0=2000, year1=2004, obs_per_year=5,
        cloud_frac=0.0, noise_sd=0.04, tide_amp_m=8.0, seed=21,
    )


def _flagship_spec():
    """The flagship corpus (also __spark_entry__.entry): multi-tile /
    multi-year so broadcast tide cutoffs, grouped composite, vectorize,
    and halo clip all execute."""
    from ..synth.corpus import CorpusSpec

    return CorpusSpec(
        tile_px=96, halo_px=6, tiles_x=3, tiles_y=2,
        year0=2000, year1=2002, obs_per_year=5, cloud_frac=0.04, seed=7,
    )


def _sequential_composites(spec, apply_tide_filter: bool = True):
    """Single-threaded recompute of tiles -> per-(tile, year) composite
    for the oracle builders. Returns (comps dict keyed (tx, ty, year)
    with mndwi/stdev/count/transform/halo_px, filtered obs recs)."""
    import json as _json
    from collections import defaultdict

    from ..codecs import image as _img
    from ..operators.composite import _nan_median_std_count
    from ..synth import corpus as _corpus

    pdf = _corpus.generate_pandas(spec)
    recs = []
    for i in range(len(pdf)):
        m = _json.loads(pdf["caption"].iloc[i])
        recs.append({
            "tile_x": int(m["tile_x"]), "tile_y": int(m["tile_y"]),
            "year": int(m["year"]), "tide_m": float(m["tide_m"]),
            "transform": list(m["transform"]), "halo_px": int(m["halo_px"]),
            "bytes": pdf["bytes"].iloc[i], "fmt": pdf["fmt"].iloc[i],
        })
    if apply_tide_filter:
        lohi: dict = defaultdict(lambda: [float("inf"), float("-inf")])
        for r in recs:
            k = (r["tile_x"], r["tile_y"])
            lohi[k][0] = min(lohi[k][0], r["tide_m"])
            lohi[k][1] = max(lohi[k][1], r["tide_m"])
        kept = []
        for r in recs:
            lo, hi = lohi[(r["tile_x"], r["tile_y"])]
            centre, halfwin = (lo + hi) / 2.0, (hi - lo) * 0.25
            if centre - halfwin <= r["tide_m"] <= centre + halfwin:
                kept.append(r)
        recs = kept

    groups: dict = {}
    for r in recs:
        groups.setdefault((r["tile_x"], r["tile_y"], r["year"]), []).append(r)
    comps: dict = {}
    for key, rs in sorted(groups.items()):
        stack = np.stack(
            [_img.decode_tile(bytes(r["bytes"]), r["fmt"]) for r in rs]
        )
        med, std, cnt = _nan_median_std_count(stack)
        comps[key] = {
            "mndwi": med, "stdev": std, "count": cnt,
            "transform": list(rs[0]["transform"]),
            "halo_px": int(rs[0]["halo_px"]),
        }
    return comps, recs


def _sequential_shoreline_rows(
    spec,
    apply_tide_filter: bool = True,
    levels=None,
    min_vertices: int = 10,
    masked: bool = False,
    _precomputed=None,
):
    """Single-threaded pandas/numpy recompute of the raster->vector
    path for the shoreline oracle builders: corpus -> caption parse ->
    tide window -> per-(tile, year) composite -> (optional
    contours_preprocess masking) -> marching-squares pieces. Runs NO
    Spark — a plain dict-of-lists group loop stands in for the
    broadcast tide join, the grouped-map shuffle, and the mapInPandas
    batching, so the driver compare verifies the distributed
    orchestration end to end (the numeric kernels are shared and carry
    their own pytest parity gates; the staged TIFF round trip is
    skipped — float32 TIFF is lossless, pinned by test_codecs).
    Returns a list of row dicts; geometry is raw WKB bytes."""
    from ..index import cells as _cells
    from ..operators.contours import DEFAULT_CELL_RES, extract_shorelines_tile

    comps, recs = _precomputed or _sequential_composites(
        spec, apply_tide_filter
    )

    if masked:
        from ..codecs import image as _img
        from ..operators.composite import _nan_median_std_count
        from ..operators.masking import preprocess_tile_stack

        # gapfill composite per (tile, year): all obs in year +- 1
        gf_groups: dict = {}
        years_present = sorted({k[2] for k in comps})
        for r in recs:
            for ty in (r["year"] - 1, r["year"], r["year"] + 1):
                if ty in years_present:
                    gf_groups.setdefault(
                        (r["tile_x"], r["tile_y"], ty), []
                    ).append(r)
        gf_med: dict = {}
        for key, rs in sorted(gf_groups.items()):
            stack = np.stack(
                [_img.decode_tile(bytes(r["bytes"]), r["fmt"]) for r in rs]
            )
            gf_med[key] = _nan_median_std_count(stack)[0]
        for (tx, ty) in sorted({(k[0], k[1]) for k in comps}):
            years = sorted(k[2] for k in comps if k[:2] == (tx, ty))
            ann = {y: comps[(tx, ty, y)]["mndwi"] for y in years}
            cnt = {y: comps[(tx, ty, y)]["count"] for y in years}
            gap = {
                y: gf_med.get(
                    (tx, ty, y), np.full_like(ann[y], np.nan)
                )
                for y in years
            }
            msk = preprocess_tile_stack(years, ann, cnt, gap)
            for y in years:
                comps[(tx, ty, y)]["mndwi"] = msk[y]

    rows = []
    for (tx, ty, yr), c in sorted(comps.items()):
        for lev in (levels if levels is not None else [0.0]):
            for piece in extract_shorelines_tile(
                c["mndwi"], c["stdev"], c["count"], c["transform"],
                c["halo_px"], level=float(lev), min_vertices=min_vertices,
            ):
                cell = int(
                    _cells.xy_to_cell(
                        np.array([piece.pop("_rep_x")]),
                        np.array([piece.pop("_rep_y")]),
                        DEFAULT_CELL_RES,
                    )[0]
                )
                row = {"cell_id": cell, "tile_x": tx, "tile_y": ty, "year": yr}
                if levels is not None:
                    row["level"] = float(lev)
                row.update(piece)
                rows.append(row)
    return rows


def _write_oracle_parquet(pdf, stem: str) -> str:
    """Temp-parquet handoff shared by the recompute oracles: per-process
    filename + atomic rename (the phash_oracle_sql pattern)."""
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_{stem}_{os.getpid()}.parquet"
    )
    tmp = path + ".tmp"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return path


def _seq_baseline_points(sl_rows, baseline_year: int, spacing: float):
    """Sequential baseline_points (rates.py:54-101): spaced points along
    the baseline year's pieces, deduped per res-29 point_id by the same
    min-(x, y, tile_x, tile_y) winner the distributed agg picks.
    Returns {point_id: (x, y, tile_x, tile_y)}."""
    from ..geometry import algorithms as _ga
    from ..geometry import wkb as _wkb
    from ..index import cells as _cells
    from ..operators.rates import POINT_ID_RES

    best: dict = {}
    for r in sl_rows:
        if r["year"] != baseline_year:
            continue
        line = _wkb.parse(bytes(r["geometry"]))[1]
        length = _ga.polyline_length(line)
        dists = np.arange(0.0, length, spacing, dtype=np.float64)
        if dists.size == 0:
            dists = np.array([0.0])
        p = _ga.interpolate_along(line, dists)
        ids = _cells.xy_to_cell(p[:, 0], p[:, 1], POINT_ID_RES)
        for pid, (x, y) in zip(ids, p):
            cand = (float(x), float(y), r["tile_x"], r["tile_y"])
            prev = best.get(int(pid))
            if prev is None or cand < prev:
                best[int(pid)] = cand
    return best


def _seq_signed_distances(spec, baseline_year: int, spacing: float = 30.0):
    """Sequential recompute of the whole rates front half: composites,
    pieces, baseline points, per-(point, year) nearest contour +
    bearing, raster-sampled sign (rates.py:110-240) — plain loops in
    place of the two cogrouped kernels and the dedup shuffle.
    Returns (points dict, signed rows list, sl_rows)."""
    from ..geometry import algorithms as _ga
    from ..geometry import wkb as _wkb
    from ..operators.rates import bilinear_sample

    comps, recs = _sequential_composites(spec, apply_tide_filter=False)
    sl_rows = _sequential_shoreline_rows(
        spec, apply_tide_filter=False, _precomputed=(comps, recs)
    )
    pts = _seq_baseline_points(sl_rows, baseline_year, spacing)

    pts_by_tile: dict = {}
    for pid, (x, y, tx, ty) in pts.items():
        pts_by_tile.setdefault((tx, ty), []).append((pid, x, y))
    conts: dict = {}
    for r in sl_rows:
        conts.setdefault((r["tile_x"], r["tile_y"]), {}).setdefault(
            r["year"], []
        ).append(r["geometry"])

    signed_rows = []
    for tile, plist in sorted(pts_by_tile.items()):
        plist.sort()
        pids = [p[0] for p in plist]
        px = np.array([p[1] for p in plist], float)
        py = np.array([p[2] for p in plist], float)
        tf = None
        for key, c in comps.items():
            if key[:2] == tile:
                tf = c["transform"]
        base = comps.get((tile[0], tile[1], baseline_year))
        base_arr = base["mndwi"] if base else None
        for year, geoms in sorted(conts.get(tile, {}).items()):
            best_d = np.full(px.size, np.inf)
            best_xy = np.zeros((px.size, 2))
            for g in geoms:
                line = _wkb.parse(bytes(g))[1]
                if len(line) < 2:
                    continue
                d, near = _ga.points_to_polyline_distance(px, py, line)
                upd = d < best_d
                best_d[upd] = d[upd]
                best_xy[upd] = near[upd]
            bearing = np.mod(
                _ga.bearing_deg(px, py, best_xy[:, 0], best_xy[:, 1]), 180.0
            )
            bearing = np.where(np.isinf(best_d), np.nan, bearing)
            dist_raw = np.where(best_d < 1000.0, best_d, np.nan)
            comp = comps.get((tile[0], tile[1], year))
            if comp is None or base_arr is None or tf is None:
                sgn = np.full(dist_raw.size, np.nan)
            else:
                p1 = bilinear_sample(comp["mndwi"], tf, px, py)
                p2 = bilinear_sample(base_arr, tf, best_xy[:, 0], best_xy[:, 1])
                lg = np.where(p2 > p1, 1.0, -1.0)
                lg = np.where(np.isnan(p1) | np.isnan(p2), np.nan, lg)
                sgn = dist_raw * lg
            if year == baseline_year:
                sgn = np.zeros(dist_raw.size)
            dist = np.round(sgn, 2)
            for i, pid in enumerate(pids):
                signed_rows.append({
                    "point_id": pid, "x": float(px[i]), "y": float(py[i]),
                    "year": year, "dist": float(dist[i]),
                    "bearing": float(bearing[i]),
                })
    return pts, signed_rows, sl_rows


def rates_oracle_sql() -> str:
    """Full hash-verified oracle for q_rates_of_change: sequential
    recompute of the entire rates pipeline — composites, vectorize,
    baseline points, nearest-contour distances, raster-sampled sign,
    then the shared change_regress / all_time_stats kernels (their math
    is pinned by scipy-parity pytest) and the certainty cascade as a
    plain if-chain. What the driver compare verifies end to end: the
    cogrouped tile kernels, the dedup and regression shuffles, and the
    JVM CASE cascade. DuckDB re-derives the rounding and ordering."""
    import pandas as pd

    from ..functions import stats as _stats

    spec = _beach_spec()
    baseline_year = 2000
    _, signed_rows, _ = _seq_signed_distances(spec, baseline_year)
    years_all = list(spec.years)
    initial_year = min(years_all)
    thresh = int(len(years_all) * 0.75)
    token = str(baseline_year)

    by_pt: dict = {}
    for r in signed_rows:
        by_pt.setdefault(r["point_id"], []).append(r)
    recs = []
    for pid, obs in sorted(by_pt.items()):
        obs.sort(key=lambda o: o["year"])
        years = np.array([o["year"] for o in obs], np.int64)
        dists = np.array([o["dist"] for o in obs], float)
        bearings = np.array([o["bearing"] for o in obs], float)
        reg = _stats.change_regress(dists, years, years)
        at = _stats.all_time_stats(years, dists, reg["outliers"], initial_year)
        bs = bearings[~np.isnan(bearings)]
        angle_std = int(np.round(_stats.circstd_deg(bs))) if bs.size else 0
        if at["valid_obs"] < thresh:
            cert = "insufficient observations"
        elif angle_std > 30:
            cert = "high angular variability"
        elif abs(reg["slope"]) > 50:
            cert = "extreme value (> 50 m)"
        elif token in str(reg["outliers"]).split(" "):
            cert = "baseline outlier"
        else:
            cert = "good"
        recs.append({
            "point_id": pid, "x": obs[0]["x"], "y": obs[0]["y"],
            "rate_time": reg["slope"], "sig_time": reg["pvalue"],
            "se_time": reg["stderr"], "outl_time": reg["outliers"],
            "valid_obs": at["valid_obs"], "sce": at["sce"], "nsm": at["nsm"],
            "certainty": cert,
        })
    pdf = pd.DataFrame(recs)
    path = _write_oracle_parquet(pdf, "rates_oracle")
    return f"""
SELECT point_id, ROUND(x, 2) + 0.0 AS x, ROUND(y, 2) + 0.0 AS y,
       ROUND(rate_time, 3) + 0.0 AS rate_time,
       ROUND(sig_time, 3) + 0.0 AS sig_time,
       ROUND(se_time, 3) + 0.0 AS se_time,
       outl_time, CAST(valid_obs AS INTEGER) AS valid_obs,
       ROUND(sce, 3) + 0.0 AS sce, ROUND(nsm, 3) + 0.0 AS nsm, certainty
FROM read_parquet('{path}')
ORDER BY point_id
"""
    # Spark's ROUND (BigDecimal HALF_UP) never emits -0.0; DuckDB's
    # keeps it, so every rounded double above is +0.0-normalized.


def _spark_median(vals: np.ndarray) -> float:
    """Spark's exact median (percentile 0.5): v[lo] + (v[hi]-v[lo])*frac
    over the sorted values with NaN ordered last — matching Spark's
    interpolation arithmetic bit-for-bit (np.median computes
    (a+b)*0.5, a different rounding)."""
    v = np.sort(np.asarray(vals, float))
    pos = 0.5 * (v.size - 1)
    lo = int(np.floor(pos))
    frac = pos - lo
    if frac == 0.0:
        return float(v[lo])
    return float(v[lo] + (v[lo + 1] - v[lo]) * frac)


def hotspots_oracle_sql() -> str:
    """Full hash-verified oracle for q_hotspots: the same sequential
    rates front half, then plain loops in place of the disc-containment
    radius join (np.hypot <= r, the refine kernel's own formula), the
    per-(hotspot, year) exact median (Spark percentile interpolation),
    the member count, and the regression + insufficient-points rule
    (hotspots.py:39-165)."""
    import pandas as pd

    from ..functions import stats as _stats

    spec = _beach_spec()
    baseline_year, radius_m = 2000, 1000.0
    pts, signed_rows, sl_rows = _seq_signed_distances(spec, baseline_year)
    centers = _seq_baseline_points(sl_rows, baseline_year, radius_m / 2.0)

    dist_by_py: dict = {}
    for r in signed_rows:
        dist_by_py[(r["point_id"], r["year"])] = r["dist"]

    pid_arr = np.array(sorted(pts.keys()), np.int64)
    px = np.array([pts[p][0] for p in pid_arr], float)
    py = np.array([pts[p][1] for p in pid_arr], float)
    years = sorted({r["year"] for r in signed_rows})

    recs = []
    for hid, (hx, hy, _, _) in sorted(centers.items()):
        member = pid_arr[np.hypot(px - hx, py - hy) <= radius_m]
        if member.size == 0:
            continue
        yr_list, med_list = [], []
        for year in years:
            vals = [
                dist_by_py[(int(p), year)]
                for p in member
                if (int(p), year) in dist_by_py
            ]
            if vals:
                yr_list.append(year)
                med_list.append(_spark_median(np.array(vals)))
        reg = _stats.change_regress(
            np.array(med_list, float), np.array(yr_list, np.int64),
            np.array(yr_list, np.int64),
        )
        n = int(member.size)
        recs.append({
            "hotspot_id": int(hid), "rate_time": reg["slope"],
            "n_points": n,
            "certainty": "insufficient points" if n < radius_m / 30.0 else "good",
        })
    pdf = pd.DataFrame(recs)
    path = _write_oracle_parquet(pdf, "hotspots_oracle")
    return f"""
SELECT hotspot_id, ROUND(rate_time, 3) + 0.0 AS rate_time,
       CAST(n_points AS INTEGER) AS n_points, certainty
FROM read_parquet('{path}')
ORDER BY hotspot_id
"""


def validation_oracle_sql() -> str:
    """Full hash-verified oracle for q_validation_stats: sequential
    shoreline recompute, a plain loop over (transect, shoreline-row)
    intersections in place of the broadcast chainage kernel and its
    global distinct-chainage dedupe, then numpy re-derivations of the
    JVM aggregates (bias/MAE/RMSE/sample stdev/Pearson corr with the
    try_divide NULL-on-constant-series contract). DuckDB applies the
    rounding and the mae_under_px flag."""
    import pandas as pd

    from ..geometry import algorithms as _ga
    from ..geometry import wkb as _wkb
    from ..synth import corpus as _corpus

    spec = _beach_spec()
    sl_rows = _sequential_shoreline_rows(spec, apply_tide_filter=False)
    xs = [700.0, 2500.0, 4300.0]
    y_lo = -2000.0
    tlines = {
        f"t{i}": np.array([[x, y_lo], [x, 2000.0]]) for i, x in enumerate(xs)
    }
    acc: dict = {}
    for r in sl_rows:
        t, payload = _wkb.parse(bytes(r["geometry"]))
        parts = payload if t == _wkb.MULTILINESTRING else [payload]
        for part in parts:
            for tid, tline in tlines.items():
                pts = _ga.polyline_polyline_intersections(tline, part)
                if len(pts):
                    acc.setdefault((tid, r["year"]), set()).update(
                        round(float(c), 9)
                        for c in _ga.chainage_along(tline, pts)
                    )
    engine = {k: min(v) for k, v in acc.items() if len(v) == 1}

    pairs: dict = {}
    for i, x in enumerate(xs):
        for year in spec.years:
            ch = engine.get((f"t{i}", year))
            if ch is None:
                continue
            truth = float(_corpus.y_coast(spec, np.array([x]), year, 0.0)[0]) - y_lo
            pairs.setdefault(f"t{i}", []).append((truth, ch))
    recs = []
    for tid, rows_ in sorted(pairs.items()):
        s = np.array([a for a, _ in rows_], float)
        c = np.array([b for _, b in rows_], float)
        err = s - c
        n = err.size
        stdev = float(np.std(err, ddof=1)) if n > 1 else None
        corr = None
        if n > 1:
            denom = float(np.std(s, ddof=1)) * float(np.std(c, ddof=1))
            if denom != 0.0:
                cov = float(((s - s.mean()) * (c - c.mean())).sum() / (n - 1))
                corr = cov / denom
        recs.append({
            "id": tid, "n": int(n), "bias": float(err.mean()),
            "mae": float(np.abs(err).mean()),
            "rmse": float(np.sqrt((err ** 2).mean())),
            "stdev": stdev, "corr": corr,
        })
    pdf = pd.DataFrame(recs)
    path = _write_oracle_parquet(pdf, "validation_oracle")
    return f"""
SELECT id, CAST(n AS BIGINT) AS n,
       ROUND(bias, 6) + 0.0 AS bias,
       ROUND(mae, 6) + 0.0 AS mae,
       ROUND(rmse, 6) + 0.0 AS rmse,
       ROUND(stdev, 6) + 0.0 AS stdev,
       ROUND(corr, 6) + 0.0 AS corr,
       ROUND(mae, 6) < 30.0 AS mae_under_px
FROM read_parquet('{path}')
ORDER BY id
"""


def transect_rates_oracle_sql() -> str:
    """Full hash-verified oracle for q_transect_rates: sequential
    recompute of the whole validation-network chain — Douglas-Peucker
    simplify, closed-form perpendicular transects, land-orientation
    flip, per-(transect, year) single-crossing chainage, change_regress
    + all_time_stats — with plain loops in place of the mapInPandas
    passes, the chainage dedupe shuffle, and the regression UDAF."""
    import pandas as pd

    from ..functions import stats as _stats
    from ..geometry.algorithms import (
        chainage_along,
        douglas_peucker,
        points_in_polygon,
        polyline_polyline_intersections,
    )
    from ..operators.transects import _transects_for_line

    xs = np.linspace(0.0, 2000.0, 201)
    base = np.stack([xs, 40.0 * np.sin(xs / 150.0)], axis=1)
    simp = douglas_peucker(base, 5.0)
    _, e1, e2 = _transects_for_line(simp, 400.0, 100.0, 10.0)
    land = np.array(
        [[-100, -500], [2100, -500], [2100, 0], [-100, 0], [-100, -500]],
        float,
    )
    p1 = points_in_polygon(e1[:, 0], e1[:, 1], land)
    p2 = points_in_polygon(e2[:, 0], e2[:, 1], land)
    years = list(range(2000, 2005))
    slines = {
        y: np.stack(
            [xs, 40.0 * np.sin(xs / 150.0) + 3.0 * (y - 2000) + 60.0], axis=1
        )
        for y in years
    }
    recs = []
    for k in np.nonzero(p1 != p2)[0]:
        a, b = e1[k], e2[k]
        if (not p1[k]) and p2[k]:  # starts in water: flip land-first
            a, b = b, a
        tline = np.array([a, b])
        yr_list, d_list = [], []
        for y in years:
            pts = polyline_polyline_intersections(tline, slines[y])
            if not len(pts):
                continue
            chs = {round(float(c), 9) for c in chainage_along(tline, pts)}
            if len(chs) != 1:
                continue
            yr_list.append(y)
            d_list.append(min(chs))
        if not yr_list:
            continue
        ya = np.array(yr_list, np.int64)
        reg = _stats.change_regress(np.array(d_list, float), ya, ya)
        at = _stats.all_time_stats(
            ya, np.array(d_list, float), reg["outliers"], 2000
        )
        recs.append({
            "id": f"coast_{int(k)}",
            "rate_time": reg["slope"], "se_time": reg["stderr"],
            "valid_obs": at["valid_obs"], "valid_span": at["valid_span"],
            "sce": at["sce"],
            "max_year": at["max_year"] if at["max_year"] is not None else -1,
            "min_year": at["min_year"] if at["min_year"] is not None else -1,
        })
    pdf = pd.DataFrame(recs)
    path = _write_oracle_parquet(pdf, "transect_rates_oracle")
    return f"""
SELECT id, rate_time + 0.0 AS rate_time, se_time + 0.0 AS se_time,
       CAST(valid_obs AS INTEGER) AS valid_obs,
       CAST(valid_span AS INTEGER) AS valid_span,
       ROUND(sce, 3) + 0.0 AS sce,
       CAST(max_year AS INTEGER) AS max_year,
       CAST(min_year AS INTEGER) AS min_year
FROM read_parquet('{path}')
ORDER BY id
"""


def contour_certainty_oracle_sql() -> str:
    """Full hash-verified oracle for q_contour_certainty: sequential
    shoreline recompute, plain per-(piece, same-year polygon) loop in
    place of the year-matched distributed overlay (the clip kernel is
    shared and pytest-gated), length-weighted centroid, and the
    Pinatubo rule as a plain conditional."""
    import pandas as pd

    from ..geometry import algorithms as _ga
    from ..geometry import wkb as _wkb
    from ..synth.corpus import CorpusSpec

    spec = CorpusSpec(
        tile_px=96, halo_px=6, tiles_x=2, tiles_y=1,
        year0=1991, year1=1994, obs_per_year=5,
        cloud_frac=0.0, noise_sd=0.04, tide_amp_m=8.0, seed=21,
    )
    sl_rows = _sequential_shoreline_rows(spec, apply_tide_filter=False)
    years = list(range(spec.year0, spec.year1 + 1))
    x0, y0, x1, y1 = -1e5, -1e5, 1e7, 1e7
    half = 4000.0
    polys = []
    for y in years:
        for pid, cert, corners in (
            ("w", "good", [[x0, y0], [half, y0], [half, y1], [x0, y1]]),
            ("e", "unstable data", [[half, y0], [x1, y0], [x1, y1], [half, y1]]),
        ):
            # round-trip through WKB so the ring closure matches the
            # query's polygon construction exactly
            shell = _wkb.parse(_wkb.polygon(np.array(corners, float)))[1][0]
            polys.append((f"{pid}{y}", y, cert, shell))

    recs = []
    for r in sl_rows:
        line = _wkb.parse(bytes(r["geometry"]))[1]
        for pid, py_, cert, shell in polys:
            if py_ != r["year"]:
                continue
            for piece in _ga.clip_polyline_by_polygon(
                line, shell, [], keep_inside=True
            ):
                p = np.asarray(piece, np.float64)
                seg = np.hypot(np.diff(p[:, 0]), np.diff(p[:, 1]))
                sw = seg.sum()
                if sw == 0.0:
                    cy = float(p[:, 1].mean())
                else:
                    mid = (p[1:] + p[:-1]) / 2.0
                    cy = float((mid[:, 1] * seg).sum()) / sw
                out_cert = (
                    "aerosol issues"
                    if r["year"] in (1991, 1992) and cy * 1e-5 > -23.0
                    else cert
                )
                recs.append({
                    "year": r["year"], "poly_id": pid, "certainty": out_cert,
                    "piece_len_m": _ga.polyline_length(piece), "cy": cy,
                })
    pdf = pd.DataFrame(recs)
    path = _write_oracle_parquet(pdf, "contour_certainty_oracle")
    return f"""
SELECT year, poly_id, certainty,
       ROUND(piece_len_m, 2) + 0.0 AS piece_len_m,
       ROUND(cy, 2) + 0.0 AS cy
FROM read_parquet('{path}')
ORDER BY year, poly_id, piece_len_m
"""


def shorelines_oracle_sql() -> str:
    """Full hash-verified oracle for the FLAGSHIP query
    (shorelines_annual): _sequential_shoreline_rows recomputes the
    whole tiles -> composites -> vectorize path single-threaded with
    plain Python loops in place of every distributed construct; DuckDB
    applies the hexing, rounding, and ordering independently."""
    import pandas as pd

    rows = _sequential_shoreline_rows(_flagship_spec(), apply_tide_filter=True)
    pdf = pd.DataFrame([
        {
            "cell_id": r["cell_id"], "tile_x": r["tile_x"],
            "tile_y": r["tile_y"], "year": r["year"],
            "geometry": bytes(r["geometry"]),
            "n_vertices": r["n_vertices"], "length_m": r["length_m"],
            "certainty": r["certainty"],
        }
        for r in rows
    ])
    path = _write_oracle_parquet(pdf, "shorelines_oracle")
    return f"""
SELECT cell_id, tile_x, tile_y, year,
       hex(geometry) AS geometry_wkb_hex,
       n_vertices, ROUND(length_m, 3) AS length_m, certainty
FROM read_parquet('{path}')
ORDER BY year, cell_id, length_m
"""


def multilevel_oracle_sql() -> str:
    """Full hash-verified oracle for q_multilevel_shorelines: the same
    single-threaded recompute run once per contour level."""
    import pandas as pd

    from ..synth.corpus import CorpusSpec

    spec = CorpusSpec(tile_px=96, halo_px=6, tiles_x=2, tiles_y=1,
                      year0=2000, year1=2001, obs_per_year=5,
                      cloud_frac=0.04, seed=7)
    rows = _sequential_shoreline_rows(
        spec, apply_tide_filter=True, levels=[-0.2, 0.0, 0.2]
    )
    pdf = pd.DataFrame([
        {
            "cell_id": r["cell_id"], "tile_x": r["tile_x"],
            "tile_y": r["tile_y"], "year": r["year"], "level": r["level"],
            "geometry": bytes(r["geometry"]),
            "n_vertices": r["n_vertices"], "length_m": r["length_m"],
        }
        for r in rows
    ])
    path = _write_oracle_parquet(pdf, "multilevel_oracle")
    return f"""
SELECT cell_id, tile_x, tile_y, year, level,
       hex(geometry) AS geometry_wkb_hex,
       n_vertices, ROUND(length_m, 3) AS length_m
FROM read_parquet('{path}')
ORDER BY year, level, cell_id, length_m
"""


def masked_shorelines_oracle_sql() -> str:
    """Full hash-verified oracle for q_masked_shorelines: sequential
    recompute including the gapfill stack and the contours_preprocess
    per-tile masking, with plain loops in place of the annual+gapfill
    join and the per-tile grouped map."""
    import pandas as pd

    rows = _sequential_shoreline_rows(
        _beach_spec(), apply_tide_filter=False, masked=True
    )
    pdf = pd.DataFrame([
        {
            "cell_id": r["cell_id"], "tile_x": r["tile_x"],
            "tile_y": r["tile_y"], "year": r["year"],
            "geometry": bytes(r["geometry"]),
            "n_vertices": r["n_vertices"], "length_m": r["length_m"],
            "certainty": r["certainty"],
        }
        for r in rows
    ])
    path = _write_oracle_parquet(pdf, "masked_shorelines_oracle")
    return f"""
SELECT cell_id, tile_x, tile_y, year,
       hex(geometry) AS geometry_wkb_hex,
       n_vertices, ROUND(length_m, 3) AS length_m, certainty
FROM read_parquet('{path}')
ORDER BY year, cell_id, length_m
"""


def shorelines_in_aoi_oracle_sql() -> str:
    """Full hash-verified oracle for q_shorelines_in_aoi: sequential
    shoreline recompute, then a plain per-piece loop PIP against the
    three AOI rectangles (the ray-casting kernel is shared and
    pytest-gated; the broadcast kernel and its bbox pruning are what
    this verifies). DuckDB re-derives frac_inside and the rounding."""
    import pandas as pd

    from ..geometry import algorithms as _ga
    from ..geometry import wkb as _wkb

    rows = _sequential_shoreline_rows(_flagship_spec(), apply_tide_filter=True)
    rects = {
        "cover": (-10.0, -2000.0, 9000.0, 2000.0),
        "west_half": (-10.0, -2000.0, 4000.0, 2000.0),
        "east_quarter": (6500.0, -2000.0, 9000.0, 2000.0),
    }
    shells = {
        aid: np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
        )
        for aid, (x0, y0, x1, y1) in rects.items()
    }
    recs = []
    for r in rows:
        c = _wkb.coords_of(bytes(r["geometry"]))
        n = len(c)
        if n == 0:
            continue
        for aid, shell in shells.items():
            n_in = int(_ga.points_in_polygon(c[:, 0], c[:, 1], shell).sum())
            if n_in > 0:
                recs.append({
                    "tile_x": r["tile_x"], "tile_y": r["tile_y"],
                    "year": r["year"], "aoi_id": aid, "n_inside": n_in,
                    "n_vertices_total": n, "frac_inside": n_in / n,
                })
    pdf = pd.DataFrame(
        recs,
        columns=["tile_x", "tile_y", "year", "aoi_id", "n_inside",
                 "n_vertices_total", "frac_inside"],
    )
    path = _write_oracle_parquet(pdf, "shorelines_in_aoi_oracle")
    return f"""
SELECT tile_x, tile_y, year, aoi_id,
       CAST(n_inside AS BIGINT) AS n_inside,
       CAST(n_vertices_total AS BIGINT) AS n_vertices_total,
       ROUND(frac_inside, 6) AS frac_inside
FROM read_parquet('{path}')
ORDER BY year, tile_x, tile_y, aoi_id, n_inside, n_vertices_total
"""


def q_rates_of_change(spark, sf_dir):
    """Full rates-of-change pipeline (reference entry point 2):
    composites -> shorelines -> baseline points -> kNN distances ->
    MAD+linregress UDAF -> certainty cascade."""
    from ..plans.pipeline import rates_pipeline
    from ..synth import corpus as _corpus

    tiles = spark.createDataFrame(_corpus.generate_pandas(_beach_spec()))
    out = rates_pipeline(tiles, baseline_year=2000, apply_tide_filter=False)
    return out.select(
        "point_id",
        F.round("x", 2).alias("x"),
        F.round("y", 2).alias("y"),
        F.round("rate_time", 3).alias("rate_time"),
        F.round("sig_time", 3).alias("sig_time"),
        F.round("se_time", 3).alias("se_time"),
        "outl_time",
        "valid_obs",
        F.round("sce", 3).alias("sce"),
        F.round("nsm", 3).alias("nsm"),
        "certainty",
    ).localCheckpoint(eager=False).orderBy("point_id")


def q_hotspots(spark, sf_dir):
    """Continental hotspot stage (entry point 3): buffer-disc
    containment join + per-hotspot median + regression."""
    from ..operators import composite as comp_op
    from ..operators import contours as cont_op
    from ..operators import hotspots as hs_op
    from ..operators import rates as rates_op
    from ..synth import corpus as _corpus

    tiles = spark.createDataFrame(_corpus.generate_pandas(_beach_spec()))
    comps = comp_op.annual_composites(tiles, False).persist()
    sl = cont_op.shorelines(comps).persist()
    pts = rates_op.baseline_points(sl, 2000).persist()
    signed = rates_op.signed_distances(
        rates_op.annual_nearest(pts, sl), comps, 2000
    ).persist()
    hs = hs_op.hotspots(sl, pts, signed, 2000, radius_m=1000.0)
    return hs.select(
        "hotspot_id",
        F.round("rate_time", 3).alias("rate_time"),
        F.col("n").alias("n_points"),
        "certainty",
    ).localCheckpoint(eager=False).orderBy("hotspot_id")


def q_masked_shorelines(spark, sf_dir):
    """Full contours_preprocess parity path: annual + gapfill composites
    -> morphology/temporal masking -> vectorization."""
    from ..plans.pipeline import masked_shoreline_pipeline
    from ..synth import corpus as _corpus

    tiles = spark.createDataFrame(_corpus.generate_pandas(_beach_spec()))
    out = masked_shoreline_pipeline(tiles, apply_tide_filter=False)
    return out.select(
        "cell_id", "tile_x", "tile_y", "year",
        F.hex(F.col("geometry")).alias("geometry_wkb_hex"),
        "n_vertices", F.round("length_m", 3).alias("length_m"), "certainty",
    ).localCheckpoint(eager=False).orderBy("year", "cell_id", "length_m")


def q_multilevel_shorelines(spark, sf_dir):
    """Multi-z contour extraction (subpixel_contours z_values analog;
    rows-only — marching squares has no SQL form)."""
    from ..operators.composite import annual_composites
    from ..operators.contours import multi_level_shorelines
    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=96, halo_px=6, tiles_x=2, tiles_y=1,
                              year0=2000, year1=2001, obs_per_year=5,
                              cloud_frac=0.04, seed=7)
    # lazy checkpoint: the tide-cutoff aggregation and the composite
    # branch both consume the synthesized tiles; without it the Arrow
    # render kernel (PNG encode per tile) executes once PER BRANCH
    tiles = _corpus.generate_spark(spark, spec).localCheckpoint(eager=False)
    comps = annual_composites(tiles, apply_tide_filter=True)
    return (
        multi_level_shorelines(comps, levels=[-0.2, 0.0, 0.2])
        .select(
            "cell_id", "tile_x", "tile_y", "year", "level",
            F.hex(F.col("geometry")).alias("geometry_wkb_hex"),
            "n_vertices", F.round("length_m", 3).alias("length_m"),
        )
        .orderBy("year", "level", "cell_id", "length_m")
    )


def _components_world():
    """Deterministic 96x96 multi-tile mask shared by q_global_components
    and its oracle: a cross spanning all 9 tiles plus two isolated
    blobs. Returns (world bool array, tile rows) with world[0] = the
    TOP pixel row (tile_y counts up from the bottom row of tiles)."""
    import numpy as np

    W = H = 32
    world = np.zeros((96, 96), bool)
    world[46:50, 5:90] = True
    world[10:60, 46:49] = True
    world[5:8, 5:8] = True
    world[70:74, 70:74] = True
    rows = []
    for ty in range(3):
        for tx in range(3):
            block = world[(2 - ty) * H:(3 - ty) * H, tx * W:(tx + 1) * W]
            rows.append({"tile_x": tx, "tile_y": ty, "w": W, "h": H,
                         "mask_bytes": block.astype(np.uint8).tobytes()})
    return world, rows


def q_global_components(spark, sf_dir):
    """Distributed cross-tile connected components (beyond-reference:
    removes the halo-size limit) on a deterministic multi-tile mask.
    The opaque min-xxhash64 component id is re-keyed to the component's
    lexicographically smallest (tile_x, tile_y, label) member — a
    hash-free canonical representative the DuckDB oracle can recompute
    independently (components_oracle_sql: whole-mosaic BFS, no tiling,
    no seam stitch)."""
    import pandas as pd
    from pyspark.sql import Window

    from ..operators.components import global_components

    _, rows = _components_world()
    tiles = spark.createDataFrame(
        pd.DataFrame(rows), "tile_x int, tile_y int, w int, h int, mask_bytes binary"
    )
    gc = global_components(tiles)
    rep = F.min(F.struct("tile_x", "tile_y", "label")).over(
        Window.partitionBy("component_id")
    )
    return (
        gc.withColumn("_rep", rep)
        .select(
            F.col("_rep.tile_x").alias("comp_tx"),
            F.col("_rep.tile_y").alias("comp_ty"),
            F.col("_rep.label").alias("comp_label"),
            "component_px", "tile_x", "tile_y", "label", "n_px",
        )
        .orderBy("comp_tx", "comp_ty", "comp_label", "tile_x", "tile_y", "label")
    )


def q_validation_stats(spark, sf_dir):
    """Validation stage (entry point 4): survey agg -> year join ->
    transect x shoreline chainage -> error stats per transect."""
    import pandas as pd

    from ..geometry import wkb as _wkb
    from ..operators.validation import validation_errors, validation_stats
    from ..plans.pipeline import shoreline_pipeline
    from ..synth import corpus as _corpus

    spec = _beach_spec()
    tiles = spark.createDataFrame(_corpus.generate_pandas(spec))
    sl = shoreline_pipeline(tiles, apply_tide_filter=False)
    import numpy as np

    xs = [700.0, 2500.0, 4300.0]
    y_lo = -2000.0
    transects = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [f"t{i}" for i in range(len(xs))],
                "geometry": [
                    _wkb.linestring(np.array([[x, y_lo], [x, 2000.0]])) for x in xs
                ],
            }
        )
    )
    rows = []
    for i, x in enumerate(xs):
        for year in spec.years:
            truth = float(_corpus.y_coast(spec, np.array([x]), year, 0.0)[0]) - y_lo
            rows.append((f"t{i}", f"{year}-06-15", truth))
    survey = spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "date", "distance"])
    ).withColumn("date", F.to_timestamp("date"))
    errs = validation_errors(survey, transects, sl)
    return validation_stats(errs, by=["id"]).withColumn(
        "mae_under_px", F.col("mae") < 30.0
    ).localCheckpoint(eager=False).orderBy("id")


# ---- exact SQL oracles for the hash-based dedup operators -----------
# The FNV-1a / splitmix64 / SimHash math is deterministic uint64
# arithmetic, which DuckDB can reproduce bit-for-bit with UHUGEINT
# (128-bit unsigned: products of two <2^64 factors never overflow) plus
# list lambdas. Corpus text is ASCII, so ord(char) == utf-8 byte.

# the canonical UHUGEINT splitmix64 / FNV-1a fragments live in
# operators/sketch.py (one copy of the magic constants tree-wide);
# `s` is the conventional lambda variable in the dedup oracles below
from ..operators.sketch import (  # noqa: E402
    _splitmix_sql_fragment as _splitmix_sql,
    fnv_sql as _fnv_sql,
)

_FNV_SQL = _fnv_sql("s")


def _minhash_sql(threshold: float = 0.6) -> str:
    """DuckDB replica of minhash_lsh_pairs: same shingles, same 64
    permutation-free hashes, same 16x4 banding (bucket equality == band
    slice equality; Spark's xxhash64 only compresses the same string),
    same exact-Jaccard verify."""
    from ..operators import dedup as _d

    seeds = _d._splitmix(
        np.arange(1, 65, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    )
    seeds_sql = "[" + ",".join(f"{int(v)}::UHUGEINT" for v in seeds) + "]"
    sentinel = "[" + ",".join(["9223372036854775807"] * 64) + "]"
    sm = _splitmix_sql("xor(h, sd)")
    return rf"""
WITH docs AS (
  SELECT doc_id, lower(text) AS t FROM documents
), shingles AS (
  SELECT doc_id,
    CASE WHEN t IS NULL OR length(t) = 0 THEN []::VARCHAR[]
         WHEN length(t) < 3 THEN [t]
         ELSE list_distinct(list_transform(generate_series(1, length(t) - 2),
                                           i -> substr(t, i, 3)))
    END AS sh
  FROM docs
), hashed AS (
  SELECT doc_id, sh, list_transform(sh, s -> {_FNV_SQL}) AS hs
  FROM shingles
), sigs AS (
  SELECT doc_id,
    CASE WHEN len(hs) = 0 THEN {sentinel}
    ELSE list_transform({seeds_sql}, sd ->
      (list_min(list_transform(hs, h -> {sm})) >> 1)::BIGINT)
    END AS sig
  FROM hashed
), banded AS (
  SELECT doc_id, band,
         array_to_string(sig[4*band+1 : 4*band+4], ',') AS bkey
  FROM sigs, unnest(generate_series(0, 15)) AS u(band)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id < b.doc_id
), verified AS (
  SELECT c.id_a, c.id_b,
    CASE WHEN (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) = 0
         THEN 0.0
         ELSE len(list_intersect(sa.sh, sb.sh))::DOUBLE
              / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
    END AS jaccard
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.id_a
  JOIN shingles sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {threshold}
ORDER BY id_a, id_b
"""


def _crosscorpus_sql(threshold: float = 0.7, bands: int = 8) -> str:
    """DuckDB replica of q_crosscorpus_dedup: rebuilds the planted NEW
    corpus from the documents table with the same string ops, re-derives
    both corpora's MinHash signatures with the shared shingle/FNV/
    splitmix recipe (see _minhash_sql — bucket equality == band-slice
    equality; same 8x8 banding as the operator default), keeps only
    cross-table candidates, verifies exact Jaccard, and aggregates per
    new doc with the same best-match tie rule (highest jaccard, then
    lowest ref id)."""
    from ..operators import dedup as _d

    seeds = _d._splitmix(
        np.arange(1, 65, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    )
    seeds_sql = "[" + ",".join(f"{int(v)}::UHUGEINT" for v in seeds) + "]"
    sentinel = "[" + ",".join(["9223372036854775807"] * 64) + "]"
    sm = _splitmix_sql("xor(h, sd)")
    rpb = 64 // bands

    def chain(name: str) -> str:
        """shingles -> signatures -> banded slices for docs CTE {name}
        (columns doc_id, t)."""
        return rf"""sh_{name} AS (
  SELECT doc_id,
    CASE WHEN t IS NULL OR length(t) = 0 THEN []::VARCHAR[]
         WHEN length(t) < 3 THEN [t]
         ELSE list_distinct(list_transform(generate_series(1, length(t) - 2),
                                           i -> substr(t, i, 3)))
    END AS sh
  FROM {name}
), sig_{name} AS (
  SELECT doc_id,
    CASE WHEN len(hs) = 0 THEN {sentinel}
    ELSE list_transform({seeds_sql}, sd ->
      (list_min(list_transform(hs, h -> {sm})) >> 1)::BIGINT)
    END AS sig
  FROM (SELECT doc_id, list_transform(sh, s -> {_FNV_SQL}) AS hs FROM sh_{name})
), banded_{name} AS (
  SELECT doc_id, band,
         array_to_string(sig[{rpb}*band+1 : {rpb}*band+{rpb}], ',') AS bkey
  FROM sig_{name}, unnest(generate_series(0, {bands - 1})) AS u(band)
)"""

    return rf"""
WITH refdocs AS (
  SELECT doc_id, lower(text) AS t FROM documents
), newdocs AS (
  SELECT doc_id + 100000 AS doc_id, lower(text) AS t
  FROM documents WHERE doc_id < 30
  UNION ALL
  SELECT doc_id + 200000, lower(text || ' zzz')
  FROM documents WHERE doc_id >= 30 AND doc_id < 60
  UNION ALL
  SELECT doc_id + 300000, lower(repeat('q' || CAST(doc_id AS VARCHAR) || 'x ', 20))
  FROM documents WHERE doc_id >= 60 AND doc_id < 90
), {chain("refdocs")}, {chain("newdocs")},
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
  FROM banded_newdocs n
  JOIN banded_refdocs r ON n.band = r.band AND n.bkey = r.bkey
), verified AS (
  SELECT c.new_id, c.ref_id,
    CASE WHEN (len(sn.sh) + len(sr.sh) - len(list_intersect(sn.sh, sr.sh))) = 0
         THEN 0.0
         ELSE len(list_intersect(sn.sh, sr.sh))::DOUBLE
              / (len(sn.sh) + len(sr.sh) - len(list_intersect(sn.sh, sr.sh)))
    END AS jaccard
  FROM cand c
  JOIN sh_newdocs sn ON sn.doc_id = c.new_id
  JOIN sh_refdocs sr ON sr.doc_id = c.ref_id
), hits AS (
  SELECT * FROM verified WHERE jaccard >= {threshold}
), cnt AS (
  SELECT new_id, COUNT(*) AS n_ref_matches FROM hits GROUP BY new_id
), best AS (
  SELECT new_id, jaccard AS best_jaccard, ref_id AS best_ref_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY new_id
                                 ORDER BY jaccard DESC, ref_id) AS rn
    FROM hits) WHERE rn = 1
)
SELECT nd.doc_id,
       COALESCE(cnt.n_ref_matches, 0) AS n_ref_matches,
       COALESCE(best.best_jaccard, -1.0) AS best_jaccard,
       COALESCE(best.best_ref_id, -1) AS best_ref_id,
       CAST(cnt.new_id IS NULL AS INTEGER) AS kept
FROM newdocs nd
LEFT JOIN cnt ON nd.doc_id = cnt.new_id
LEFT JOIN best ON nd.doc_id = best.new_id
ORDER BY nd.doc_id
"""


def _simhash_sql(max_hamming: int = 8) -> str:
    """DuckDB replica of simhash_pairs: FNV-1a token hashes -> 64-bit
    majority-sign signature -> chunk-pigeonhole candidates (same
    exact-recall chunk count the engine auto-picks) -> hamming verify."""
    from ..operators.dedup import exact_recall_chunks

    n_chunks = exact_recall_chunks(max_hamming)
    bits = 64 // n_chunks
    mask = (1 << bits) - 1
    chunk_eq = " OR ".join(
        f"((a.u >> {bits * c}) & {mask}) = ((b.u >> {bits * c}) & {mask})"
        for c in range(n_chunks)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
  FROM documents
), hashed AS (
  SELECT doc_id,
    list_transform(toks, s -> {_FNV_SQL}) AS hs
  FROM toks
), sigs AS (
  -- NB: list_sum over (U)HUGEINT goes through DOUBLE; sum HUGEINT bit
  -- terms only after list_sum of the small 0/1 counts (exact in double)
  SELECT doc_id,
    CASE WHEN len(hs) = 0 THEN 0::HUGEINT
    ELSE list_reduce(list_prepend(0::HUGEINT,
      list_transform(generate_series(0, 63), bb ->
        CASE WHEN 2 * list_sum(list_transform(hs, h -> ((h >> bb::UHUGEINT) & 1::UHUGEINT)::INT))
                  > len(hs)
             THEN (1::UHUGEINT << bb::UHUGEINT)::HUGEINT
             ELSE 0::HUGEINT END)),
      (acc, x) -> acc + x)
    END AS u
  FROM hashed
), sigs2 AS (
  SELECT doc_id, u,
    (CASE WHEN u >= 9223372036854775808::HUGEINT
          THEN u - 18446744073709551616::HUGEINT
          ELSE u END)::BIGINT AS s
  FROM sigs
)
SELECT id_a, id_b, hamming FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.s, b.s))::INT AS hamming,
         ({chunk_eq}) AS cand
  FROM sigs2 a JOIN sigs2 b ON a.doc_id < b.doc_id
) WHERE cand AND hamming <= {max_hamming}
ORDER BY id_a, id_b
"""


# rows-only entries (no SQL analog): LSH ANN, multimodal decode/resize

def q_minhash_pairs(spark, sf_dir):
    from ..operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return _ck_sorted(minhash_lsh_pairs(d, "text", "doc_id", threshold=0.6), "id_a", "id_b")


def q_simhash_pairs(spark, sf_dir):
    from ..operators.dedup import simhash_pairs

    d = _t(spark, sf_dir, "documents")
    return simhash_pairs(d, "text", "doc_id", max_hamming=8).orderBy("id_a", "id_b")


def q_crosscorpus_dedup(spark, sf_dir):
    """One-sided cross-corpus near-dedup (operators/dedup.py:
    cross_corpus_neardup): a synthetic NEW corpus is screened against
    the full documents table as the reference. The new corpus is built
    deterministically from the reference so every outcome class is
    exercised and the DuckDB oracle can rebuild it verbatim: exact
    copies (doc_id+100000, must drop at jaccard 1.0), lightly mutated
    copies (+200000, text || ' zzz' — a few new shingles out of
    hundreds, still >= 0.7), and fresh gibberish (+300000, repeated
    'q<id>x ' — shares no 3-shingles with the word-salad corpus, must
    be kept). One row per new doc with match count, best match, and
    the kept flag; only cross-table pairs are ever scored."""
    from ..operators.dedup import cross_corpus_neardup

    d = _t(spark, sf_dir, "documents")
    ref = d.select("doc_id", "text")
    k = F.col("doc_id")
    new = (
        d.filter(k < 30)
        .select((k + 100000).alias("doc_id"), "text")
        .unionByName(
            d.filter((k >= 30) & (k < 60)).select(
                (k + 200000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
            )
        )
        .unionByName(
            d.filter((k >= 60) & (k < 90)).select(
                (k + 300000).alias("doc_id"),
                F.repeat(
                    F.concat(F.lit("q"), k.cast("string"), F.lit("x ")), 20
                ).alias("text"),
            )
        )
    )
    return cross_corpus_neardup(new, ref, "text", "doc_id", threshold=0.7).orderBy(
        "doc_id"
    )


def q_doc_fingerprint(spark, sf_dir):
    from ..operators.text import with_fingerprint

    d = _t(spark, sf_dir, "documents")
    return with_fingerprint(d).select(
        "doc_id", "fingerprint"
    ).localCheckpoint(eager=False).orderBy("doc_id")


# DuckDB CAN express the winnowing fingerprint exactly: HUGEINT (128-bit)
# arithmetic holds the intermediate fnv1a products (< 2^104), list
# lambdas do the per-token byte fold, window mins, and the final combine
# over sorted distinct mins (numpy.unique == list_sort(list_distinct)).
# Corpus text is ASCII (verified), so ord(char) == utf-8 byte.
ORACLE_DOC_FINGERPRINT = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
  FROM documents
), hashed AS (
  SELECT doc_id,
    list_transform(toks, t ->
      list_reduce(
        list_prepend(14695981039346656037::HUGEINT,
                     list_transform(split(t, ''), c -> ord(c)::HUGEINT)),
        (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
                  & 18446744073709551615::HUGEINT
      )) AS hs
  FROM toks
), mins AS (
  SELECT doc_id,
    CASE WHEN len(hs) = 0 THEN NULL
         WHEN len(hs) < 8 THEN [list_min(hs)]
         ELSE list_transform(generate_series(1, len(hs) - 7),
                             i -> list_min(hs[i:i+7]))
    END AS m
  FROM hashed
), fps AS (
  SELECT doc_id,
    CASE WHEN m IS NULL THEN 0::HUGEINT
         ELSE list_reduce(
           list_prepend(14695981039346656037::HUGEINT,
                        list_sort(list_distinct(m))),
           (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
                     & 18446744073709551615::HUGEINT)
    END AS u
  FROM mins
)
SELECT doc_id,
  (CASE WHEN u >= 9223372036854775808::HUGEINT
        THEN u - 18446744073709551616::HUGEINT ELSE u END)::BIGINT
    AS fingerprint
FROM fps ORDER BY doc_id
"""


def q_lsh_ann_topk(spark, sf_dir):
    from ..operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_topk(emb, queries, dim=64, k=5).orderBy("query_id", "rank")


def q_ivf_ann_topk(spark, sf_dir):
    from ..operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, k=5, n_clusters=16, nprobe=4).orderBy(
        "query_id", "rank"
    )


def q_shorelines_in_aoi(spark, sf_dir):
    """Waterline contour vertices point-in-polygon joined to coastal AOI
    polygons (the target spec's headline spatial join; rows-only —
    marching-squares vertices have no SQL analog)."""
    import pandas as pd

    from ..geometry import wkb as _wkb
    from ..plans.pipeline import shoreline_pipeline, shorelines_in_aoi
    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=96, halo_px=6, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2002, obs_per_year=5,
                              cloud_frac=0.04, seed=7)
    # lazy checkpoint: the tide-cutoff aggregation and the composite
    # branch both consume the synthesized tiles; without it the Arrow
    # render kernel (PNG encode per tile) executes once PER BRANCH
    tiles = _corpus.generate_spark(spark, spec).localCheckpoint(eager=False)
    sl = shoreline_pipeline(tiles, apply_tide_filter=True)
    rects = {
        "cover": (-10.0, -2000.0, 9000.0, 2000.0),
        "west_half": (-10.0, -2000.0, 4000.0, 2000.0),
        "east_quarter": (6500.0, -2000.0, 9000.0, 2000.0),
    }
    import numpy as np

    aoi = spark.createDataFrame(
        pd.DataFrame(
            {
                "aoi_id": list(rects),
                "geometry": [
                    _wkb.polygon(np.array(
                        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
                    ))
                    for x0, y0, x1, y1 in rects.values()
                ],
            }
        )
    )
    # the AOI table is broadcast, so the whole vertex-PIP chain runs
    # inside one narrow kernel with no exchange past the shoreline stage
    # (plan pinned by test_pipeline.py)
    return (
        shorelines_in_aoi(sl, aoi, min_frac=0.0)
        .select(
            "tile_x", "tile_y", "year", "aoi_id", "n_inside",
            "n_vertices_total", F.round("frac_inside", 6).alias("frac_inside"),
        )
        .orderBy(
            "year", "tile_x", "tile_y", "aoi_id", "n_inside",
            "n_vertices_total",  # totalizes the order: two components of
            # one (tile, year) in the same AOI can tie on n_inside
        )
    )


def q_phash_neardup(spark, sf_dir):
    """Image near-dup pairs by perceptual-hash hamming distance over the
    synthetic tile corpus. Fully hash-verified: phash_oracle_sql()
    writes the same deterministic (image_id, phash) rows to parquet and
    DuckDB brute-forces bit_count(xor) over them — an independent check
    of the pigeonhole candidate generation AND the verify step."""
    from ..operators.dedup import phash_neardup_pairs
    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2002, obs_per_year=4,
                              cloud_frac=0.05, seed=9)
    tiles = spark.createDataFrame(_corpus.generate_pandas(spec))
    return phash_neardup_pairs(tiles, max_hamming=6).orderBy("id_a", "id_b")


def phash_oracle_sql() -> str:
    """Full hash-verified oracle for q_phash_neardup: the corpus is a
    deterministic function of CorpusSpec(seed=9), so write the same
    (image_id, phash) rows to a temp parquet and let DuckDB brute-force
    the hamming pairs over them — an independent check of the operator's
    pigeonhole candidate generation AND bit_count(xor) verify. Called
    lazily from oracle_sql() (not at import) because corpus synthesis
    costs ~a second."""
    import os
    import tempfile

    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2002, obs_per_year=4,
                              cloud_frac=0.05, seed=9)
    pdf = _corpus.generate_pandas(spec)[["image_id", "phash"]]
    # per-process filename + atomic rename: a fixed shared path racing
    # a concurrent grader's rewrite can hand DuckDB a truncated footer
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_phash_oracle_{os.getpid()}.parquet"
    )
    tmp = path + ".tmp"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return f"""
SELECT a.image_id AS id_a, b.image_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM read_parquet('{path}') a
JOIN read_parquet('{path}') b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= 6
ORDER BY id_a, id_b
"""


def q_keep_best_images(spark, sf_dir):
    """Quality-aware image dedup keep-one: perceptual-hash near-dup
    pairs -> connected components -> keep the SHARPEST member of each
    cluster (argmax Laplacian variance, NULL-last, id tie-break) —
    what production image dedup does instead of keep-min-id. Fully
    hash-verified: the oracle re-derives pairs (bit_count), clusters
    (recursive CTE) and the argmax (window) in DuckDB over a
    driver-written (image_id, phash, laplacian_var) parquet."""
    from ..operators.dedup import phash_neardup_pairs
    from ..operators.graph import keep_best
    from ..operators.multimodal import image_quality
    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2002, obs_per_year=4,
                              cloud_frac=0.05, seed=9)
    tiles = spark.createDataFrame(_corpus.generate_pandas(spec))
    pairs = phash_neardup_pairs(tiles, max_hamming=6).select("id_a", "id_b")
    # lazy checkpoint: keep_best consumes `docs` in TWO branches (the
    # cluster-member join and the final anti-join), so the Laplacian
    # decode kernel executed once per branch without a barrier
    scored = image_quality(tiles).select(
        "image_id", "laplacian_var"
    ).localCheckpoint(eager=False)
    return (
        keep_best(scored, pairs, "laplacian_var", id_col="image_id")
        .orderBy("image_id")
    )


def keep_best_oracle_sql() -> str:
    """Full SQL oracle for q_keep_best_images: the corpus is a pure
    function of CorpusSpec(seed=9), so the driver writes (image_id,
    phash, laplacian_var) — phash from the generator, Laplacian
    variance recomputed in plain numpy with the image_quality formula —
    and DuckDB independently re-derives the hamming pairs
    (bit_count(xor)), the transitive closure (recursive CTE), and the
    per-cluster argmax with the identical NULL-last/id tie-break."""
    import os
    import tempfile

    import numpy as np
    import pandas as pd

    from ..codecs import image as _img
    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2002, obs_per_year=4,
                              cloud_frac=0.05, seed=9)
    recs = []
    for key in _corpus.iter_keys(spec):
        row = _corpus.make_row(spec, *key)
        arr = _img.decode_tile(row["bytes"], row["fmt"]).astype(np.float64)
        finite = np.isfinite(arr)
        lap_var = None
        if arr.shape[0] >= 3 and arr.shape[1] >= 3:
            c = finite[1:-1, 1:-1]
            ok = (c & finite[:-2, 1:-1] & finite[2:, 1:-1]
                  & finite[1:-1, :-2] & finite[1:-1, 2:])
            if ok.any():
                lap = (4.0 * arr[1:-1, 1:-1] - arr[:-2, 1:-1]
                       - arr[2:, 1:-1] - arr[1:-1, :-2]
                       - arr[1:-1, 2:])[ok]
                lap_var = round(float(lap.var()), 6)
        recs.append({"image_id": row["image_id"], "phash": row["phash"],
                     "laplacian_var": lap_var})
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_keepbest_oracle_{os.getpid()}.parquet",
    )
    tmp = path + ".tmp"
    pd.DataFrame(recs).to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return f"""
WITH RECURSIVE
imgs AS (SELECT * FROM read_parquet('{path}')),
e0 AS (SELECT a.image_id AS id_a, b.image_id AS id_b
       FROM imgs a JOIN imgs b ON a.image_id < b.image_id
       WHERE bit_count(xor(a.phash, b.phash)) <= 6),
edges AS (SELECT id_a AS u, id_b AS v FROM e0
          UNION ALL SELECT id_b, id_a FROM e0),
reach(u, r) AS (
  SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.v
),
comp AS (SELECT u AS image_id, MIN(r) AS cluster_id FROM reach GROUP BY u),
ranked AS (
  SELECT c.cluster_id, i.image_id,
         ROW_NUMBER() OVER (
           PARTITION BY c.cluster_id
           ORDER BY (i.laplacian_var IS NULL), i.laplacian_var DESC,
                    i.image_id) AS rn
  FROM comp c JOIN imgs i USING (image_id)),
drops AS (SELECT image_id FROM ranked WHERE rn > 1)
SELECT image_id, laplacian_var FROM imgs
WHERE image_id NOT IN (SELECT image_id FROM drops)
ORDER BY image_id
"""


def q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup driven to completion (availableNow) over
    the documents table as a file-source stream; returns the deduped
    set, proving the stateful applyInPandasWithState path end-to-end.
    Rows-only by design: stateful streaming has no SQL analog (the
    batch-equivalence invariant — output ids == one survivor per
    distinct text — is pinned by tests/test_streaming.py)."""
    import os as _os
    import tempfile as _tf

    from ..streaming.dedup_stream import dedup_stream

    batch = _t(spark, sf_dir, "documents")
    # the file stream source requires a DIRECTORY; expose the read-only
    # table file through a temp dir symlink
    src_dir = _tf.mkdtemp(prefix="sd_src_")
    # absolute target: a relative sf_dir would otherwise be resolved
    # against the temp dir, leaving a dangling symlink
    _os.symlink(
        _os.path.abspath(f"{sf_dir}/documents.parquet"),
        _os.path.join(src_dir, "documents.parquet"),
    )
    stream = spark.readStream.schema(batch.schema).parquet(src_dir)
    q = (
        dedup_stream(stream, ["text"])
        .writeStream.format("memory")
        .queryName("q_streaming_dedup_mem")
        .outputMode("append")
        .option("checkpointLocation", _tf.mkdtemp(prefix="sd_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.table("q_streaming_dedup_mem")
        .select("doc_id", "lang", "source", F.length("text").alias("text_len"))
        .orderBy("doc_id")
    )


def q_streaming_dedup_parity(spark, sf_dir):
    """Batch-equivalence gate for the stateful streaming dedup — the
    hash-checkable companion of q_streaming_dedup (which is rows-only
    by design). The invariant a streaming exact dedup must satisfy is
    "exactly one survivor per distinct content"; WHICH row survives
    depends on micro-batch arrival order, so the output here is
    survivor-identity-independent: one (text_md5, n_survivors) row per
    distinct text in the stream's output. The oracle is the batch
    DISTINCT — any streaming drop (hash collision), duplicate pass-
    through, or state loss breaks the hash match."""
    import os as _os
    import tempfile as _tf

    from ..streaming.dedup_stream import dedup_stream

    batch = _t(spark, sf_dir, "documents")
    src_dir = _tf.mkdtemp(prefix="sdp_src_")
    _os.symlink(
        _os.path.abspath(f"{sf_dir}/documents.parquet"),
        _os.path.join(src_dir, "documents.parquet"),
    )
    stream = spark.readStream.schema(batch.schema).parquet(src_dir)
    q = (
        dedup_stream(stream, ["text"])
        .writeStream.format("memory")
        .queryName("q_streaming_dedup_parity_mem")
        .outputMode("append")
        .option("checkpointLocation", _tf.mkdtemp(prefix="sdp_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.table("q_streaming_dedup_parity_mem")
        .groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(F.count("*").alias("n_survivors"))
        .orderBy("text_md5")
    )


ORACLE_STREAMING_DEDUP_PARITY = """
SELECT MD5(text) AS text_md5, CAST(1 AS BIGINT) AS n_survivors
FROM (SELECT DISTINCT text FROM documents)
ORDER BY text_md5
"""


_HLL_STREAM_STORES: dict[tuple, str] = {}


def q_streaming_hll_parity(spark, sf_dir):
    """Batch-equivalence gate for the streaming HyperLogLog
    (streaming/sketch_stream.py): events split into 4 files stream in
    as 4 micro-batches whose registers max-merge into a persisted
    store; the estimates read from that store must equal the batch
    sketch bit-for-bit (registers are merge-invariant state, and the
    estimate is a pure function of them) — so the same DuckDB oracle
    that checks hll_distinct checks the stream. The stream executes at
    build time, memoized per (applicationId, sf_dir) like merge_upsert;
    a bench timing measures the store read + estimate aggregate."""
    import os as _os
    import tempfile as _tf

    from ..streaming.sketch_stream import read_estimates, start_hll_stream

    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir))
    store = _HLL_STREAM_STORES.get(key)
    if store is None:
        root = _tf.mkdtemp(prefix="hll_stream_")
        src = _os.path.join(root, "src")
        # 4 source files -> 4 micro-batches at maxFilesPerTrigger=1:
        # the parity is over a genuinely incremental run, not one batch
        _t(spark, sf_dir, "events").repartitionByRange(
            4, "event_id"
        ).write.parquet(src)
        store = _os.path.join(root, "store")
        q = start_hll_stream(
            spark, src, store, _os.path.join(root, "ckpt"), p=10
        )
        if not q.awaitTermination(300):
            # memoizing a partial store would serve wrong estimates for
            # the rest of the session with no hint the stream hung
            q.stop()
            raise TimeoutError("hll stream did not finish within 300 s")
        _HLL_STREAM_STORES[key] = store
    return read_estimates(spark, store, p=10).orderBy("event_type")


def _hll_stream_oracle() -> str:
    from ..operators.sketch import hll_sql

    return hll_sql("events", "user_id", ["event_type"], p=10) + (
        " ORDER BY event_type"
    )


def _pyramid_spec():
    from ..synth.corpus import CorpusSpec

    return CorpusSpec(tile_px=64, halo_px=4, tiles_x=4, tiles_y=4,
                      year0=2000, year1=2001, obs_per_year=4,
                      cloud_frac=0.05, seed=13)


def q_tile_pyramid(spark, sf_dir):
    """Overview pyramid over the annual composite mosaics
    (operators/pyramid.py): 4x4 level-0 tiles -> 2x2 -> 1x1 per year,
    each level one quadrant shuffle + grouped Arrow kernel. Output rows
    carry fixed-point pixel fingerprints, so the hash gate verifies the
    distributed quadrant assembly and level chaining pixel-exactly
    against a single-threaded replay."""
    from ..operators.composite import annual_composites
    from ..operators.pyramid import build_pyramid
    from ..synth import corpus as _corpus

    # lazy checkpoint: the tide-cutoff aggregation and the composite
    # branch both consume the synthesized tiles; without it the Arrow
    # render kernel (PNG encode per tile) executes once PER BRANCH
    tiles = _corpus.generate_spark(spark, _pyramid_spec()).localCheckpoint(eager=False)
    comps = annual_composites(tiles, apply_tide_filter=True)
    return build_pyramid(comps, levels=2).orderBy("year", "level", "x", "y")


def pyramid_oracle_rows(spec):
    """Sequential pyramid replay for a given CorpusSpec, shared by
    tile_pyramid_oracle_sql and the multi-seed parity pytest: composite
    recompute (shared with the shoreline oracles), then the pyramid as
    plain dict loops — one big in-memory mosaic per level in place of
    the quadrant shuffle and the grouped map.  Returns the summary-row
    DataFrame in (year, level, x, y) order."""
    import pandas as pd

    from ..operators.pyramid import (
        _tile_row,
        assemble_parent,
    )

    comps, _ = _sequential_composites(spec, apply_tide_filter=True)
    rows = []
    # level 0: halo-cropped mosaics
    level_px: dict[tuple, dict] = {}
    for (tx, ty, year), c in sorted(comps.items()):
        h = c["halo_px"]
        px = c["mndwi"].astype("float64")
        if h:
            px = px[h:-h, h:-h]
        level_px.setdefault(year, {})[(tx, ty)] = px
        rows.append(_tile_row(year, 0, tx, ty, px))
    for level in (1, 2):
        nxt: dict[tuple, dict] = {}
        for year, tiles_d in sorted(level_px.items()):
            parents: dict[tuple, dict] = {}
            for (x, y), px in tiles_d.items():
                parents.setdefault((x // 2, y // 2), {})[(x % 2, 1 - (y % 2))] = px
            for (px_, py_), children in sorted(parents.items()):
                size = next(iter(children.values())).shape[0]
                parent = assemble_parent(children, size)
                # The engine emits each level's summary row from the
                # float64 parent but hands the NEXT level a float32
                # re-encode (build_pyramid's encode_f32 on the px
                # payload) — mirror that round-trip when chaining, or
                # level-2 px_hash/mean_q diverge for some seeds
                nxt.setdefault(year, {})[(px_, py_)] = (
                    parent.astype(np.float32).astype(np.float64)
                )
                rows.append(_tile_row(year, level, px_, py_, parent))
        level_px = nxt
    pdf = pd.DataFrame(rows)
    return pdf.sort_values(["year", "level", "x", "y"]).reset_index(drop=True)


def tile_pyramid_oracle_sql() -> str:
    pdf = pyramid_oracle_rows(_pyramid_spec())
    path = _write_oracle_parquet(pdf, "tile_pyramid_oracle")
    return f"""
SELECT year, level, x, y, w, h, n_valid, mean_q, px_hash
FROM read_parquet('{path}')
ORDER BY year, level, x, y
"""


def q_multimodal_decode_stats(spark, sf_dir):
    from ..operators.multimodal import decode_stats
    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=2, tiles_y=1,
                              year0=2000, year1=2001, obs_per_year=2, seed=5,
                              fmt="mixed")
    tiles = spark.createDataFrame(_corpus.generate_pandas(spec))
    return decode_stats(tiles).withColumn(
        "px_mean", F.round("px_mean", 6)
    ).withColumn("px_std", F.round("px_std", 6)).orderBy("image_id")


def q_image_quality(spark, sf_dir):
    """No-reference image-quality signals (Laplacian-variance blur
    detector, histogram entropy, dynamic range, nodata fraction) over a
    deterministic mixed-format tile corpus. Fully hash-verified:
    image_quality_oracle_sql() writes the decoded pixel GRID to parquet
    and DuckDB independently re-derives the Laplacian via coordinate
    self-joins, the entropy via bin group-bys, and the thresholds."""
    from ..operators.multimodal import image_quality
    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2001, obs_per_year=3,
                              cloud_frac=0.15, seed=11, fmt="mixed")
    tiles = spark.createDataFrame(_corpus.generate_pandas(spec))
    return image_quality(tiles).orderBy("image_id")


def image_quality_oracle_sql() -> str:
    """Full hash-verified oracle for q_image_quality. The corpus is a
    deterministic function of CorpusSpec(seed=11), so decode every
    image driver-side (same codec the Arrow kernel uses — the codecs
    carry their own PSNR/round-trip pytest gates) and write the pixel
    GRID as (image_id, x, y, v) rows (v NULL where non-finite) to a
    temp parquet. DuckDB then independently recomputes everything the
    kernel vectorizes: the 4-neighbour Laplacian by coordinate
    self-joins (interior-ness falls out of inner-join existence),
    VAR_POP over it, the 256-bin histogram entropy, min/max range, and
    the low_quality threshold cascade on UNROUNDED values."""
    import os
    import tempfile

    import numpy as np
    import pandas as pd

    from ..codecs import image as _img
    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2001, obs_per_year=3,
                              cloud_frac=0.15, seed=11, fmt="mixed")
    frames: list[pd.DataFrame] = []
    totals: list[tuple[str, int]] = []
    for key in _corpus.iter_keys(spec):
        row = _corpus.make_row(spec, *key)
        arr = _img.decode_tile(row["bytes"], row["fmt"]).astype(np.float64)
        h, w = arr.shape
        totals.append((row["image_id"], int(arr.size)))
        yy, xx = np.mgrid[0:h, 0:w]
        frames.append(pd.DataFrame({
            "image_id": row["image_id"],
            "x": xx.ravel().astype(np.int32),
            "y": yy.ravel().astype(np.int32),
            "v": np.where(np.isfinite(arr), arr, np.nan).ravel(),
        }))
    pdf = pd.concat(frames, ignore_index=True)
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_imgq_oracle_{os.getpid()}.parquet",
    )
    tmp = path + ".tmp"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)

    vals = ", ".join(f"('{iid}', {n})" for iid, n in totals)
    return f"""
WITH tot(image_id, npx) AS (VALUES {vals}),
px AS (SELECT image_id, x, y, v FROM read_parquet('{path}')
       WHERE v = v),  -- strips the NaN sentinel rows (NULL semantics)
lap AS (
  SELECT c.image_id,
         4.0 * c.v - u.v - d.v - l.v - r.v AS lap
  FROM px c
  JOIN px u ON u.image_id = c.image_id AND u.x = c.x AND u.y = c.y - 1
  JOIN px d ON d.image_id = c.image_id AND d.x = c.x AND d.y = c.y + 1
  JOIN px l ON l.image_id = c.image_id AND l.x = c.x - 1 AND l.y = c.y
  JOIN px r ON r.image_id = c.image_id AND r.x = c.x + 1 AND r.y = c.y
),
lv AS (SELECT image_id, VAR_POP(lap) AS lap_var FROM lap GROUP BY 1),
rng AS (SELECT image_id, MIN(v) AS vmin, MAX(v) AS vmax,
               COUNT(*) AS nfin
        FROM px GROUP BY 1),
bins AS (
  SELECT p.image_id,
         LEAST(CAST(FLOOR((p.v - r.vmin) / (r.vmax - r.vmin) * 256.0)
                    AS INTEGER), 255) AS b,
         COUNT(*) AS c
  FROM px p JOIN rng r USING (image_id)
  WHERE r.vmax > r.vmin
  GROUP BY 1, 2
),
ent AS (
  SELECT image_id,
         -SUM((c::DOUBLE / nfin) * LN(c::DOUBLE / nfin)) AS entropy
  FROM bins JOIN rng USING (image_id)
  GROUP BY image_id
),
sig AS (
  SELECT t.image_id,
         lv.lap_var,
         CASE WHEN r.image_id IS NULL THEN NULL
              ELSE COALESCE(ent.entropy, 0.0) END AS entropy,
         r.vmax - r.vmin AS rng,
         1.0 - COALESCE(r.nfin, 0) / CAST(t.npx AS DOUBLE) AS nodata_frac
  FROM tot t
  LEFT JOIN lv ON lv.image_id = t.image_id
  LEFT JOIN rng r ON r.image_id = t.image_id
  LEFT JOIN ent ON ent.image_id = t.image_id
)
SELECT image_id,
       ROUND(lap_var, 6) AS laplacian_var,
       ROUND(entropy, 6) AS entropy,
       ROUND(rng, 6) AS dynamic_range,
       ROUND(nodata_frac, 6) AS nodata_frac,
       (COALESCE(lap_var < 1e-6, TRUE)
        OR COALESCE(entropy < 0.5, TRUE)
        OR COALESCE(rng < 1e-3, TRUE)
        OR nodata_frac > 0.5) AS low_quality
FROM sig ORDER BY image_id
"""


def q_corpus_integrity(spark, sf_dir):
    """Corpus ingest-gate validation over a deterministically-corrupted
    mixed-format tile corpus: magic-byte fmt sniff + caption-JSON parse
    (pure JVM expressions), decode / declared-dims / perceptual-hash
    checks in one Arrow kernel; zero shuffles. Fully hash-verified:
    integrity_oracle_sql() replays the identical planted corruptions
    sequentially in plain Python."""
    from ..operators.integrity import plant_corruptions, validate_corpus
    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2001, obs_per_year=3,
                              cloud_frac=0.1, seed=13, fmt="mixed")
    pdf = plant_corruptions(_corpus.generate_pandas(spec))
    tiles = spark.createDataFrame(pdf)
    return validate_corpus(tiles, check_phash=True, phash_tol=8).orderBy(
        "image_id"
    )


def integrity_oracle_sql() -> str:
    """Full hash-verified oracle for q_corpus_integrity: a sequential
    plain-Python replay — same deterministic corpus, same
    plant_corruptions (the planted truth is a shared fixture, the CHECK
    LOGIC is re-derived independently: bytes-prefix sniff instead of
    the JVM hex CASE, json.loads instead of from_json, direct decode +
    hamming in a loop instead of the Arrow kernel). Rows go to a temp
    parquet; the SQL is a plain ordered SELECT."""
    import json
    import os
    import tempfile

    import pandas as pd

    from ..codecs import image as _img
    from ..operators.integrity import plant_corruptions
    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2001, obs_per_year=3,
                              cloud_frac=0.1, seed=13, fmt="mixed")
    pdf = plant_corruptions(_corpus.generate_pandas(spec))
    out = []
    for r in pdf.itertuples():
        b = bytes(r.bytes)
        if b[:4] == b"\x89PNG":
            sniff = "png"
        elif b[:3] == b"\xff\xd8\xff":
            sniff = "jpeg"
        elif b[:4] in (b"II*\x00", b"MM\x00*"):
            sniff = "tiff"
        else:
            sniff = None
        fmt_ok = sniff == r.fmt
        try:
            cap = json.loads(r.caption)
            caption_ok = isinstance(cap, dict) and all(
                cap.get(k) is not None
                for k in ("crs", "year", "tile_x", "tile_y")
            )
        except Exception:
            caption_ok = False
        decode_ok = dims_ok = phash_ok = False
        try:
            arr = _img.decode_tile(b, r.fmt)
            decode_ok = True
            dims_ok = arr.shape[1] == r.w and arr.shape[0] == r.h
            d = (_img.phash64(arr) ^ int(r.phash)) & ((1 << 64) - 1)
            phash_ok = bin(d).count("1") <= 8
        except Exception:
            pass
        out.append({
            "image_id": r.image_id, "fmt_ok": fmt_ok,
            "caption_ok": caption_ok, "decode_ok": decode_ok,
            "dims_ok": dims_ok, "phash_ok": phash_ok,
            "is_valid": fmt_ok and caption_ok and decode_ok and dims_ok
            and phash_ok,
        })
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_integrity_oracle_{os.getpid()}.parquet",
    )
    tmp = path + ".tmp"
    pd.DataFrame(out).to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return (
        f"SELECT * FROM read_parquet('{path}') ORDER BY image_id"
    )


def q_asof_join(spark, sf_dir):
    """True sort-merge as-of join (backward, per-user): each 'query'
    event picks the most recent 'quote' event with ts <= its ts. Engine
    plan is union-tag + one shuffle + last(ignorenulls) window — no
    cross join, no nested loop; oracle is DuckDB's native ASOF JOIN."""
    from ..operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    quotes = e.filter(F.col("event_id") % 3 == 0).select(
        "user_id", F.col("ts").alias("t"),
        F.round("value", 3).alias("quote_val"), "event_id",
    )
    # unique (user_id, t) on the right: keep the max event_id per
    # instant so the as-of pick is well-defined on both engines
    w = Window.partitionBy("user_id", "t").orderBy(F.col("event_id").desc())
    quotes = quotes.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    ).drop("rn", "event_id")
    queries = e.filter(F.col("event_id") % 3 == 1).select(
        "user_id", F.col("ts").alias("t"), "event_id"
    )
    out = asof_join(queries, quotes, on="t", by=["user_id"])
    return out.select(
        "user_id", "event_id", "t",
        F.col("t_r").alias("quote_t"),
        F.col("quote_val_r").alias("quote_val"),
    ).orderBy("user_id", "event_id")


ORACLE_ASOF_JOIN = """
WITH q0 AS (
  SELECT user_id, ts AS t, ROUND(value, 3) AS quote_val, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_id % 3 = 0),
quotes AS (SELECT user_id, t, quote_val FROM q0 WHERE rn = 1),
queries AS (SELECT user_id, ts AS t, event_id
            FROM events WHERE event_id % 3 = 1)
SELECT qu.user_id, qu.event_id, qu.t,
       q.t AS quote_t, q.quote_val
FROM queries qu ASOF LEFT JOIN quotes q
  ON qu.user_id = q.user_id AND qu.t >= q.t
ORDER BY qu.user_id, qu.event_id
"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization of the events stream (30-min gap):
    per-session bounds/counts/durations via one window + one
    aggregation; oracle reproduces the lag/cumsum idiom in SQL."""
    from ..operators.sessions import session_stats

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    return session_stats(e, gap_s=1800).orderBy("user_id", "session_seq")


# per-timestamp FLOOR(epoch) mirrors Spark's timestamp->long cast
# (truncation happens before the difference on both engines)
ORACLE_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN FLOOR(epoch(ts)) - FLOOR(epoch(LAG(ts) OVER
                (PARTITION BY user_id ORDER BY ts))) > 1800
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE user_id < 200),
s AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM g)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(MAX(FLOOR(epoch(ts))) - MIN(FLOOR(epoch(ts))) AS BIGINT)
         AS duration_s
FROM s GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


def q_audio_features(spark, sf_dir):
    """WAV audio feature extraction over a deterministic synthetic clip
    set (sine mixtures keyed by events rows; rows-only: FFT has no SQL
    analog, the features are pinned by closed-form pytest)."""
    import pandas as pd

    from ..codecs import wav as _wav
    from ..operators.multimodal import audio_features

    rate = 8000
    t = np.arange(rate // 2) / rate  # 0.5 s clips
    rows = []
    for i in range(8):
        f0 = 200.0 + 100.0 * i
        x = (0.4 * np.sin(2 * np.pi * f0 * t)
             + 0.2 * np.sin(2 * np.pi * 2 * f0 * t)).astype(np.float32)
        rows.append({"audio_id": f"clip{i:02d}", "bytes": _wav.encode_pcm16(x, rate)})
    df = spark.createDataFrame(pd.DataFrame(rows))
    return audio_features(df).select(
        "audio_id", "sample_rate",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        F.round("zcr_hz", 2).alias("zcr_hz"),
        F.round("spectral_centroid_hz", 2).alias("spectral_centroid_hz"),
    ).orderBy("audio_id")


def q_rates_regression(spark, sf_dir):
    """The rates-of-change UDAF (change_regress: MAD reject ->
    linregress incl. p-value/stderr, plus all-time stats) hash-verified
    end to end on a no-outlier fixture: 4 near-collinear observations
    per point derived from the events table. With 4 points the t
    distribution has dof=2, whose two-sided survival function has the
    closed form 1 - |t|/sqrt(t^2+2) — SQL-expressible, so the oracle
    reproduces the ENGINE p-value exactly (the general incomplete-beta
    path is pinned separately by pytest vs closed forms). The fixture
    is structurally MAD-outlier-free: slope 3/yr dwarfs the <=0.25
    residual, so modified z-scores stay ~1 << 3.5."""
    from ..operators.rates import rates_of_change

    e = _t(spark, sf_dir, "events")
    base = e.groupBy(
        (F.col("user_id") % 40).alias("point_id"),
        (F.col("event_id") % 4).alias("yi"),
    ).agg(F.min("value").alias("mv"))
    signed = base.select(
        "point_id",
        (F.lit(2000) + F.col("yi")).cast("long").alias("year"),
        (F.lit(3.0) * F.col("yi") + F.col("mv") * 0.0005).alias("dist"),
        F.lit(45.0).alias("bearing"),
        (F.col("point_id") * 50.0).alias("x"),
        (F.col("point_id") * 80.0).alias("y"),
    )
    out = rates_of_change(signed, 2000)
    # + 0.0 collapses IEEE negative zero (np.round(-1e-6, 3) -> -0.0)
    # to +0.0 on both engines
    return out.select(
        "point_id",
        (F.col("rate_time") + 0.0).alias("rate_time"),
        (F.col("incpt_time") + 0.0).alias("incpt_time"),
        (F.col("sig_time") + 0.0).alias("sig_time"),
        (F.col("se_time") + 0.0).alias("se_time"),
        "outl_time", "valid_obs", "valid_span",
        (F.round("sce", 3) + 0.0).alias("sce"),
        (F.round("nsm", 3) + 0.0).alias("nsm"),
        "max_year", "min_year",
    ).orderBy("point_id")


ORACLE_RATES_REGRESSION = """
WITH base AS (
  SELECT user_id % 40 AS point_id, event_id % 4 AS yi, MIN(value) AS mv
  FROM events GROUP BY 1, 2),
d AS (SELECT point_id, 2000 + yi AS year, 3.0 * yi + mv * 0.0005 AS dist
      FROM base),
r AS (
  SELECT point_id,
         regr_slope(dist, year)     AS slope,
         regr_intercept(dist, year) AS icpt,
         corr(dist, year)           AS rr,
         var_pop(dist)              AS vy,
         var_pop(year)              AS vx,
         COUNT(*)                   AS n,
         MAX(dist) - MIN(dist)      AS sce,
         -(MIN(CASE WHEN year = 2000 THEN dist END)) AS nsm,
         arg_max(year, dist)        AS max_year,
         arg_min(year, dist)        AS min_year,
         MAX(year) - MIN(year) + 1  AS span
  FROM d GROUP BY point_id),
t AS (
  SELECT *, rr * SQRT((n - 2) / ((1.0 - rr + 1e-20) * (1.0 + rr + 1e-20))) AS tt
  FROM r)
SELECT point_id,
       ROUND(slope, 3) + 0.0 AS rate_time,
       ROUND(icpt, 3) + 0.0  AS incpt_time,
       ROUND(1.0 - ABS(tt) / SQRT(tt * tt + 2.0), 3) + 0.0 AS sig_time,
       ROUND(SQRT((1.0 - rr * rr) * vy / vx / (n - 2)), 3) + 0.0 AS se_time,
       '' AS outl_time,
       CAST(n AS INT) AS valid_obs,
       CAST(span AS INT) AS valid_span,
       ROUND(sce, 3) + 0.0 AS sce,
       ROUND(nsm, 3) + 0.0 AS nsm,
       CAST(max_year AS INT) AS max_year,
       CAST(min_year AS INT) AS min_year
FROM t ORDER BY point_id
"""


def q_dissolve(spark, sf_dir):
    """groupBy + geometric union (gpd.dissolve analog, vector.py:344)
    over pixel-aligned rectangles derived from the part table; the
    oracle recomputes the union area as a COUNT(DISTINCT covered pixel)
    — exact because the burn rule is 'pixel center inside' and integer
    rect bounds never touch half-integer centers."""
    import pandas as pd

    from ..geometry import wkb as _wkb
    from ..operators.dissolve import dissolve

    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    rects = p.select(
        "p_brand",
        (F.col("p_partkey") % 12 * 5).cast("double").alias("x0"),
        (F.floor(F.col("p_partkey") / 12) % 12 * 5).cast("double").alias("y0"),
        (F.col("p_size") % 7 + 2).cast("double").alias("w"),
        (F.col("p_size") % 5 + 2).cast("double").alias("h"),
    )

    def to_wkb(batches):
        import numpy as np

        for pdf in batches:
            geoms = [
                _wkb.polygon(
                    np.array(
                        [[x, y], [x + w, y], [x + w, y + h], [x, y + h]], float
                    )
                )
                for x, y, w, h in zip(pdf.x0, pdf.y0, pdf.w, pdf.h)
            ]
            yield pd.DataFrame({"p_brand": pdf.p_brand, "geometry": geoms})

    polys = rects.mapInPandas(to_wkb, "p_brand string, geometry binary")
    return (
        dissolve(polys, ["p_brand"], pixel=1.0)
        .select("p_brand", "area_px")
        .localCheckpoint(eager=False)
        .orderBy("p_brand")
    )


ORACLE_DISSOLVE = """
WITH r AS (
  SELECT p_brand,
         (p_partkey % 12) * 5 AS x0,
         ((p_partkey // 12) % 12) * 5 AS y0,
         (p_size % 7 + 2) AS w,
         (p_size % 5 + 2) AS h
  FROM part WHERE p_partkey < 200),
c AS (
  SELECT DISTINCT p_brand, gx.g AS px, gy.g AS py
  FROM r,
       unnest(generate_series(CAST(x0 AS BIGINT), CAST(x0 + w - 1 AS BIGINT))) AS gx(g),
       unnest(generate_series(CAST(y0 AS BIGINT), CAST(y0 + h - 1 AS BIGINT))) AS gy(g))
SELECT p_brand, CAST(COUNT(*) AS DOUBLE) AS area_px
FROM c GROUP BY p_brand ORDER BY p_brand
"""


def q_contour_certainty(spark, sf_dir):
    """contour_certainty parity path (vector.py:414-471): dissolve
    per-year certainty rectangles, year-matched overlay onto annual
    shorelines, Pinatubo aerosol rule on the 1991/1992 rows. Rows-only
    (marching squares + clipping have no SQL analog); deterministic
    corpus + stable ordering."""
    import pandas as pd

    from ..geometry import wkb as _wkb
    from ..operators import composite as comp_op
    from ..operators import contours as cont_op
    from ..operators.dissolve import contour_certainty
    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(
        tile_px=96, halo_px=6, tiles_x=2, tiles_y=1,
        year0=1991, year1=1994, obs_per_year=5,
        cloud_frac=0.0, noise_sd=0.04, tide_amp_m=8.0, seed=21,
    )
    tiles = spark.createDataFrame(_corpus.generate_pandas(spec))
    sl = cont_op.shorelines(comp_op.annual_composites(tiles, False))
    sl_id = sl.withColumn(
        "_sl_id", F.xxhash64("tile_x", "tile_y", "year", "geometry")
    )
    years = list(range(spec.year0, spec.year1 + 1))
    import numpy as np

    x0, y0, x1, y1 = -1e5, -1e5, 1e7, 1e7
    half = 4000.0
    polys = spark.createDataFrame(
        pd.DataFrame(
            {
                "poly_id": [f"w{y}" for y in years] + [f"e{y}" for y in years],
                "year": years * 2,
                "certainty": ["good"] * len(years) + ["unstable data"] * len(years),
                "geometry": (
                    [_wkb.polygon(np.array(
                        [[x0, y0], [half, y0], [half, y1], [x0, y1]]))] * len(years)
                    + [_wkb.polygon(np.array(
                        [[half, y0], [x1, y0], [x1, y1], [half, y1]]))] * len(years)
                ),
            }
        )
    )
    out = contour_certainty(sl_id, polys, res=8)
    return out.select(
        "year", "poly_id", "certainty",
        F.round("piece_len_m", 2).alias("piece_len_m"),
        F.round("cy", 2).alias("cy"),
    ).localCheckpoint(eager=False).orderBy("year", "poly_id", "piece_len_m")


def q_pii_scrub(spark, sf_dir):
    """PII redaction (emails / phone-like digit runs / IPv4) over
    documents with planted deterministic PII — the scrub chain is pure
    JVM regexp_replace; the oracle runs the IDENTICAL RE2-safe patterns
    in DuckDB."""
    from ..operators.text import scrub_pii

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +61 2 9374 4000, host 10.0.0.1 ok"),
        ).alias("text"),
    )
    return scrub_pii(d).select("doc_id", "text").orderBy("doc_id")


ORACLE_PII_SCRUB = r"""
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        text || ' contact user' || doc_id::VARCHAR
             || '@example.com or +61 2 9374 4000, host 10.0.0.1 ok',
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
    '\+?[0-9][0-9()\[\] .-]{5,}[0-9]', '<PHONE>', 'g'
  ) AS text
FROM documents ORDER BY doc_id
"""


def q_dedup_lines(spark, sf_dir):
    """Cross-document line dedup (C4-style boilerplate removal):
    first occurrence by (doc_id, line_no) wins globally; docs
    reassembled from surviving lines in order."""
    from ..operators.text import dedup_lines

    d = _t(spark, sf_dir, "documents")
    return dedup_lines(d).orderBy("doc_id")


ORACLE_DEDUP_LINES = """
WITH parts AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
lines AS (
  SELECT doc_id, i - 1 AS line_no, ls[i] AS line
  FROM parts, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i)
  WHERE LENGTH(ls[i]) >= 1),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rk
  FROM lines)
SELECT doc_id,
       STRING_AGG(line, chr(10) ORDER BY line_no) AS text,
       COUNT(*) AS n_lines_kept
FROM ranked WHERE rk = 1
GROUP BY doc_id ORDER BY doc_id
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum sampling over documents (sampleBy
    analog, reproducible across partitionings): quadratic-congruential
    u(key, seed) compared against per-lang rates; oracle evaluates the
    identical integer chain in SQL."""
    from ..operators.sampling import stratified_sample, u01

    d = _t(spark, sf_dir, "documents")
    rates = {"en": 0.5, "de": 0.25, "fr": 0.1}
    out = stratified_sample(
        d, "doc_id", "lang", rates, seed=42, default_fraction=0.05
    )
    return out.select(
        "doc_id", "lang", F.round(u01("doc_id", 42), 6).alias("u")
    ).orderBy("doc_id")


def _sampling_oracle() -> str:
    from ..operators.sampling import u01_sql

    u = u01_sql("doc_id", 42)
    return f"""
SELECT doc_id, lang, ROUND({u}, 6) AS u
FROM documents
WHERE {u} < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                      WHEN 'fr' THEN 0.1 ELSE 0.05 END
ORDER BY doc_id
"""


def q_train_eval_split(spark, sf_dir):
    """Leak-proof deterministic train/eval assignment + per-split
    per-lang counts (the reproducibility contract: same key -> same
    split in every run/shard)."""
    from ..operators.sampling import split_assign

    d = _t(spark, sf_dir, "documents")
    return (
        split_assign(d, "doc_id", eval_frac=0.2, seed=7)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("split", "lang")
    )


def _split_oracle() -> str:
    from ..operators.sampling import u01_sql

    u = u01_sql("doc_id", 7)
    return f"""
SELECT CASE WHEN {u} < 0.2 THEN 'eval' ELSE 'train' END AS split,
       lang, COUNT(*) AS n_docs
FROM documents GROUP BY 1, 2 ORDER BY split, lang
"""


def q_shuffle_shards(spark, sf_dir):
    """Deterministic global shuffle + sharding for training export:
    (shard, pos) is a pure function of (doc_id, seed) — re-runs and
    re-partitionings produce byte-identical shards. Oracle runs the
    same hash chain + window in SQL."""
    from ..operators.sampling import shuffle_shards

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return shuffle_shards(d, "doc_id", n_shards=8, seed=13).orderBy(
        "shard", "pos"
    )


def _shards_oracle() -> str:
    from ..operators.sampling import u01_sql

    u = u01_sql("doc_id", 13)
    return f"""
WITH s AS (
  SELECT doc_id, {u} AS u,
         LEAST(CAST(FLOOR({u} * 8) AS INT), 7) AS shard
  FROM documents)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY u, doc_id) - 1
            AS INT) AS pos
FROM s ORDER BY shard, pos
"""


def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing over the documents
    table (seq_len 512, 8 shards): deterministic per-shard layout,
    exact integer offsets/pack assignments — full SQL-window oracle."""
    from ..operators.sampling import pack_sequences
    from ..operators.text import WS_CLASS

    d = _t(spark, sf_dir, "documents").withColumn(
        "n_tok",
        F.size(
            F.filter(F.split(F.col("text"), WS_CLASS), lambda t: t != "")
        ).cast("long"),
    )
    return (
        pack_sequences(d, "doc_id", "n_tok", seq_len=512, n_shards=8, seed=7)
        .select("doc_id", "shard", "pos", "offset", "pack_id",
                "pack_offset", "n_packs")
        .orderBy("doc_id")
    )


def _pack_sequences_oracle() -> str:
    from ..operators.sampling import u01_sql

    u = u01_sql("doc_id", 7)
    return rf"""
WITH d AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'),
                         t -> t <> ''))::BIGINT AS n_tok,
         {u} AS u
  FROM documents),
s AS (SELECT *, LEAST(CAST(FLOOR(u * 8) AS INT), 7) AS shard FROM d),
o AS (
  SELECT doc_id, n_tok, shard,
         CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY u, doc_id) - 1
              AS INT) AS pos,
         COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY u, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0)::BIGINT AS "offset"
  FROM s)
SELECT doc_id, shard, pos, "offset",
       ("offset" // 512)::BIGINT AS pack_id,
       ("offset" % 512)::BIGINT AS pack_offset,
       CASE WHEN n_tok <= 0 THEN 0
            ELSE (("offset" + n_tok - 1) // 512) - ("offset" // 512) + 1
       END::BIGINT AS n_packs
FROM o ORDER BY doc_id
"""


def q_ar_bucket_shards(spark, sf_dir):
    """Aspect-ratio bucketing + fixed-size shard packing (SDXL-style
    training export over the image corpus shape). Image sizes are
    derived deterministically from doc_id via the shared u01 chain so
    the oracle reproduces them bit-exactly; bucket assignment is a
    row-local CASE chain, packing is one (bucket, shard) shuffle."""
    from ..operators.bucketing import ar_bucket_shards
    from ..operators.sampling import u01

    d = _t(spark, sf_dir, "documents").select("doc_id")
    img = d.select(
        F.col("doc_id").alias("image_id"),
        (64 * (F.lit(8) + F.floor(u01("doc_id", 101) * 25))).cast("int").alias("w"),
        (64 * (F.lit(8) + F.floor(u01("doc_id", 202) * 25))).cast("int").alias("h"),
    )
    out = ar_bucket_shards(img, "image_id", shard_size=20, seed=7)
    return out.select(
        "image_id", "bucket_id", "bucket_w", "bucket_h", "shard", "pos"
    ).orderBy("bucket_id", "shard", "pos")


def _ar_shards_oracle() -> str:
    from ..operators.bucketing import shard_pack_sql
    from ..operators.sampling import u01_sql

    w = f"CAST(64 * (8 + FLOOR({u01_sql('doc_id', 101)} * 25)) AS INT)"
    h = f"CAST(64 * (8 + FLOOR({u01_sql('doc_id', 202)} * 25)) AS INT)"
    inner = f"(SELECT doc_id AS image_id, {w} AS w, {h} AS h FROM documents)"
    body = shard_pack_sql(inner, "image_id", "w", "h", shard_size=20, seed=7)
    return (
        "SELECT k AS image_id, bucket_id, bucket_w, bucket_h, shard, pos "
        f"FROM ({body}) ORDER BY bucket_id, shard, pos"
    )


def q_dedup_clusters(spark, sf_dir):
    """Connected components over a pair list -> keep-one dedup clusters
    (the transitive-closure stage downstream of every near-dup
    generator). Edge fixture: the bipartite order--part graph from
    lineitem (orders sharing a part are transitively one cluster).
    Oracle: DuckDB recursive CTE computing min-reachable-id."""
    from ..operators.graph import dedup_clusters

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 400)
    edges = li.select(
        F.col("l_orderkey").alias("id_a"),
        (F.col("l_partkey") + 10000000).alias("id_b"),
    ).distinct()
    return dedup_clusters(edges).orderBy("node_id")


ORACLE_DEDUP_CLUSTERS = """
WITH RECURSIVE
e0 AS (SELECT DISTINCT l_orderkey AS u, l_partkey + 10000000 AS v
       FROM lineitem WHERE l_orderkey < 400),
edges AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
reach(u, r) AS (
  SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.v
)
SELECT u AS node_id, MIN(r) AS cluster_id,
       (u = MIN(r)) AS is_canonical
FROM reach GROUP BY u ORDER BY node_id
"""


def q_crs_project(spark, sf_dir):
    """CRS forward projections (to_crs parity, reference raster.py:206
    EPSG:3577 + vector.py:1591): deterministic Australian-extent
    lon/lat points from the customer table, projected to Albers
    (EPSG:3577) and Web Mercator (EPSG:3857) by the engine's pure-numpy
    projection library; the oracle evaluates the same closed-form
    Snyder equations in SQL from literal WGS84 constants. Rounded to
    cm — both sides compute in float64 with ~1e-10 m agreement."""
    from ..operators.reproject import project_points

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    pts = c.select(
        "c_custkey",
        (F.lit(114.0) + (F.col("c_custkey") % 390) * 0.1).alias("lon"),
        (F.lit(-43.0) + (F.col("c_custkey") % 330) * 0.1).alias("lat"),
    )
    alb = project_points(pts, "lon", "lat", "EPSG:3577", "ax", "ay")
    both = project_points(alb, "lon", "lat", "EPSG:3857", "mx", "my")
    return both.select(
        "c_custkey",
        F.round("ax", 2).alias("albers_x"),
        F.round("ay", 2).alias("albers_y"),
        F.round("mx", 2).alias("merc_x"),
        F.round("my", 2).alias("merc_y"),
    ).orderBy("c_custkey")


# Albers equal-area forward (Snyder 14-12..14-21) evaluated in SQL from
# literal WGS84 constants — independent of the engine's numpy library.
ORACLE_CRS_PROJECT = """
WITH pts AS (
  SELECT c_custkey,
         114.0 + (c_custkey % 390) * 0.1 AS lon,
         -43.0 + (c_custkey % 330) * 0.1 AS lat
  FROM customer WHERE c_custkey <= 300),
k AS (
  SELECT 6378137.0 AS a,
         0.0818191908426215 AS e,
         0.00669437999014132 AS e2,
         radians(-18.0) AS p1, radians(-36.0) AS p2, radians(132.0) AS lam0),
kq AS (
  SELECT *,
    cos(p1)/sqrt(1 - e2*sin(p1)*sin(p1)) AS m1,
    cos(p2)/sqrt(1 - e2*sin(p2)*sin(p2)) AS m2,
    (1-e2)*(sin(p1)/(1 - e2*sin(p1)*sin(p1))
            - (1/(2*e))*ln((1 - e*sin(p1))/(1 + e*sin(p1)))) AS q1,
    (1-e2)*(sin(p2)/(1 - e2*sin(p2)*sin(p2))
            - (1/(2*e))*ln((1 - e*sin(p2))/(1 + e*sin(p2)))) AS q2
  FROM k),
kn AS (
  SELECT *, (m1*m1 - m2*m2)/(q2 - q1) AS n,
         m1*m1 + ((m1*m1 - m2*m2)/(q2 - q1))*q1 AS c
  FROM kq),
proj AS (
  SELECT p.c_custkey, p.lon, p.lat, kn.*,
    (1-e2)*(sin(radians(p.lat))/(1 - e2*sin(radians(p.lat))*sin(radians(p.lat)))
            - (1/(2*e))*ln((1 - e*sin(radians(p.lat)))/(1 + e*sin(radians(p.lat))))) AS q
  FROM pts p CROSS JOIN kn),
geom AS (
  SELECT c_custkey, lon, lat, a, e, n,
         a*sqrt(c - n*q)/n AS rho,
         a*sqrt(c)/n AS rho0,     -- q0 = 0 at lat0 = 0
         n*(radians(lon) - lam0) AS theta
  FROM proj)
SELECT c_custkey,
       ROUND(rho*sin(theta), 2) AS albers_x,
       ROUND(rho0 - rho*cos(theta), 2) AS albers_y,
       ROUND(a*radians(lon), 2) AS merc_x,
       ROUND(a*ln(tan(pi()/4 + radians(lat)/2)), 2) AS merc_y
FROM geom ORDER BY c_custkey
"""


def _transect_verts():
    """Deterministic synthetic coastline vertex table (line_id, seq,
    x, y) shared by q_coastal_transects and its oracle — both sides
    consume byte-identical doubles, so the only independently-derived
    math is the arc-length interpolation + perpendicular construction
    itself."""
    import numpy as _np
    import pandas as _pd

    j = _np.arange(400, dtype=_np.float64)
    frames = []
    for li in range(3):
        x = j * 5.0 + 2.0 * _np.sin(0.13 * j + li)
        y = 120.0 * _np.sin(0.021 * j + 0.8 * li) + 0.5 * j + 300.0 * li
        frames.append(
            _pd.DataFrame(
                {
                    "line_id": f"line{li}",
                    "seq": j.astype(_np.int32),
                    "x": x,
                    "y": y,
                }
            )
        )
    return _pd.concat(frames, ignore_index=True)


_TRANSECT_LEN, _TRANSECT_INTERVAL, _TRANSECT_BUFFER = 300.0, 100.0, 10.0


def q_coastal_transects(spark, sf_dir):
    """Validation-transect generation (reference validation.py:372-420):
    assemble coastline polylines from an exploded vertex table, then
    cut a fixed-length perpendicular transect every `interval` metres.
    Hash-verified: the oracle re-derives the arc-length interpolation
    (window cumsum + segment range join) and the perpendicular-offset
    closed form entirely in DuckDB SQL over the same vertex parquet."""
    from ..operators.transects import generate_transects, lines_from_vertices

    verts = spark.createDataFrame(_transect_verts())
    lines = lines_from_vertices(verts)
    t = generate_transects(
        lines,
        length=_TRANSECT_LEN,
        interval=_TRANSECT_INTERVAL,
        buffer=_TRANSECT_BUFFER,
    )
    return t.select(
        "line_id",
        "transect_id",
        F.round("dist_along", 6).alias("dist_along"),
        F.round("x1", 6).alias("x1"),
        F.round("y1", 6).alias("y1"),
        F.round("x2", 6).alias("x2"),
        F.round("y2", 6).alias("y2"),
    ).orderBy("line_id", "transect_id")


def transects_oracle_sql() -> str:
    """SQL-only re-derivation of q_coastal_transects: segment lengths
    via lead(), exclusive-prefix cumsum windows, a range join to find
    the segment containing each clamped arc distance (mirroring
    interpolate_along's searchsorted semantics incl. the dist==total
    endpoint), then the midpoint ± (len/2)·normal perpendicular.
    The chord-length drop filter (round(chord,1) <= 2*buffer) is a
    no-op for connected polylines — chord ≤ arc = 2*buffer always —
    so only chord > 0 is enforced, matching the operator."""
    import os
    import tempfile

    pdf = _transect_verts()
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_transect_verts_{os.getpid()}.parquet",
    )
    tmp = path + ".tmp"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    b, iv, ln = _TRANSECT_BUFFER, _TRANSECT_INTERVAL, _TRANSECT_LEN
    return f"""
WITH verts AS (SELECT * FROM read_parquet('{path}')),
seg AS (
  SELECT line_id, seq, x AS ax, y AS ay,
         lead(x) OVER w AS bx, lead(y) OVER w AS by
  FROM verts
  WINDOW w AS (PARTITION BY line_id ORDER BY seq)
),
seg2 AS (
  SELECT line_id, seq, ax, ay, bx, by,
         sqrt((bx-ax)*(bx-ax) + (by-ay)*(by-ay)) AS len
  FROM seg WHERE bx IS NOT NULL
),
seg3 AS (
  SELECT *,
         COALESCE(SUM(len) OVER (PARTITION BY line_id ORDER BY seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum0,
         MAX(seq) OVER (PARTITION BY line_id) AS last_seq
  FROM seg2
),
seg4 AS (
  SELECT *, MAX(cum0 + len) OVER (PARTITION BY line_id) AS total FROM seg3
),
lines AS (SELECT line_id, MAX(cum0 + len) AS total FROM seg3 GROUP BY line_id),
dists AS (
  SELECT l.line_id, CAST(r.range AS INTEGER) AS tid,
         {b} + r.range * {iv} AS d, l.total
  FROM lines l, range(0, 100000) r
  WHERE {b} + r.range * {iv} < l.total
),
pm AS (
  SELECT d.line_id, d.tid, d.d,
         s.ax + (CASE WHEN s.len = 0 THEN 0
                 ELSE ((d.d - {b}) - s.cum0)/s.len END) * (s.bx - s.ax) AS px,
         s.ay + (CASE WHEN s.len = 0 THEN 0
                 ELSE ((d.d - {b}) - s.cum0)/s.len END) * (s.by - s.ay) AS py
  FROM dists d JOIN seg4 s ON s.line_id = d.line_id
   AND (((d.d - {b}) >= s.cum0 AND (d.d - {b}) < s.cum0 + s.len)
        OR (s.seq = s.last_seq AND (d.d - {b}) >= s.cum0 + s.len))
),
pp AS (
  SELECT d.line_id, d.tid,
         s.ax + (CASE WHEN s.len = 0 THEN 0
                 ELSE (LEAST(d.d + {b}, d.total) - s.cum0)/s.len END)
               * (s.bx - s.ax) AS px,
         s.ay + (CASE WHEN s.len = 0 THEN 0
                 ELSE (LEAST(d.d + {b}, d.total) - s.cum0)/s.len END)
               * (s.by - s.ay) AS py
  FROM dists d JOIN seg4 s ON s.line_id = d.line_id
   AND ((LEAST(d.d + {b}, d.total) >= s.cum0
         AND LEAST(d.d + {b}, d.total) < s.cum0 + s.len)
        OR (s.seq = s.last_seq
            AND LEAST(d.d + {b}, d.total) >= s.cum0 + s.len))
),
t AS (
  SELECT pm.line_id, pm.tid, pm.d,
         pm.px AS pmx, pm.py AS pmy, pp.px AS ppx, pp.py AS ppy,
         sqrt((pp.px-pm.px)*(pp.px-pm.px) + (pp.py-pm.py)*(pp.py-pm.py)) AS chord
  FROM pm JOIN pp ON pm.line_id = pp.line_id AND pm.tid = pp.tid
)
SELECT line_id,
       -- renumber densely AFTER the chord filter, exactly as the
       -- operator does (ids stay aligned even if a row drops)
       CAST(ROW_NUMBER() OVER (PARTITION BY line_id ORDER BY tid) - 1
            AS INTEGER) AS transect_id,
       ROUND(d, 6) AS dist_along,
       ROUND((pmx+ppx)/2 + ({ln}/2)*(-(ppy-pmy)/chord), 6) AS x1,
       ROUND((pmy+ppy)/2 + ({ln}/2)*((ppx-pmx)/chord), 6) AS y1,
       ROUND((pmx+ppx)/2 - ({ln}/2)*(-(ppy-pmy)/chord), 6) AS x2,
       ROUND((pmy+ppy)/2 - ({ln}/2)*((ppx-pmx)/chord), 6) AS y2
FROM t WHERE chord > 0
ORDER BY line_id, transect_id
"""


def q_cell_rollup(spark, sf_dir):
    """Multi-resolution grid-cell pyramid (hierarchical rollup):
    deterministic planar coords from lineitem keys, binned at 16 m
    cells and rolled up 3 more levels by re-aggregating each level's
    aggregates (never rescanning raw rows — the 100 TB-safe pyramid
    shape). Oracle mirrors the same level chain as nested CTE
    group-bys."""
    from ..operators.rollup import hierarchical_rollup

    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        ((F.col("l_partkey") % 97) * 3.7).alias("px"),
        ((F.col("l_suppkey") % 59) * 7.3).alias("py"),
        F.col("l_quantity").cast("double").alias("qty"),
    )
    r = hierarchical_rollup(pts, "px", "py", "qty", base_size=16.0, levels=4)
    return r.select(
        "level",
        "cell_x",
        "cell_y",
        "n",
        F.round("sum_v", 4).alias("sum_v"),
        F.round("min_v", 4).alias("min_v"),
        F.round("max_v", 4).alias("max_v"),
        F.round("mean_v", 6).alias("mean_v"),
    ).orderBy("level", "cell_x", "cell_y")


ORACLE_CELL_ROLLUP = """
WITH base AS (
  SELECT CAST(FLOOR(((l_partkey % 97) * 3.7) / 16.0) AS BIGINT) AS cell_x,
         CAST(FLOOR(((l_suppkey % 59) * 7.3) / 16.0) AS BIGINT) AS cell_y,
         CAST(l_quantity AS DOUBLE) AS v
  FROM lineitem),
l0 AS (SELECT cell_x, cell_y, COUNT(*) AS n, SUM(v) AS sum_v,
              MIN(v) AS min_v, MAX(v) AS max_v
       FROM base GROUP BY cell_x, cell_y),
l1 AS (SELECT CAST(FLOOR(cell_x / 2.0) AS BIGINT) AS cell_x,
              CAST(FLOOR(cell_y / 2.0) AS BIGINT) AS cell_y,
              CAST(SUM(n) AS BIGINT) AS n, SUM(sum_v) AS sum_v,
              MIN(min_v) AS min_v, MAX(max_v) AS max_v
       FROM l0 GROUP BY 1, 2),
l2 AS (SELECT CAST(FLOOR(cell_x / 2.0) AS BIGINT) AS cell_x,
              CAST(FLOOR(cell_y / 2.0) AS BIGINT) AS cell_y,
              CAST(SUM(n) AS BIGINT) AS n, SUM(sum_v) AS sum_v,
              MIN(min_v) AS min_v, MAX(max_v) AS max_v
       FROM l1 GROUP BY 1, 2),
l3 AS (SELECT CAST(FLOOR(cell_x / 2.0) AS BIGINT) AS cell_x,
              CAST(FLOOR(cell_y / 2.0) AS BIGINT) AS cell_y,
              CAST(SUM(n) AS BIGINT) AS n, SUM(sum_v) AS sum_v,
              MIN(min_v) AS min_v, MAX(max_v) AS max_v
       FROM l2 GROUP BY 1, 2),
u AS (
  SELECT 0 AS level, * FROM l0
  UNION ALL SELECT 1, * FROM l1
  UNION ALL SELECT 2, * FROM l2
  UNION ALL SELECT 3, * FROM l3)
SELECT CAST(level AS INTEGER) AS level, cell_x, cell_y, n,
       ROUND(sum_v, 4) AS sum_v, ROUND(min_v, 4) AS min_v,
       ROUND(max_v, 4) AS max_v, ROUND(sum_v / n, 6) AS mean_v
FROM u ORDER BY level, cell_x, cell_y
"""


def q_transect_rates(spark, sf_dir):
    """End-to-end validation network: simplify a wiggly synthetic
    coastline, cut perpendicular transects, orient them off land,
    intersect with five years of retreating shorelines, and regress
    chainage per transect (operators/transects.py +
    operators/validation.py:transect_rates). Rows-only by design
    (line x line intersection has no SQL analog); the constant-retreat
    closed form is pinned by tests/test_transects.py."""
    import numpy as np
    import pandas as pd

    from ..geometry import wkb as _wkb
    from ..operators.transects import (
        generate_transects,
        orient_transects,
        simplify_lines,
    )
    from ..operators.validation import transect_rates

    xs = np.linspace(0.0, 2000.0, 201)
    base = np.stack([xs, 40.0 * np.sin(xs / 150.0)], axis=1)
    lines = spark.createDataFrame(
        pd.DataFrame(
            {"line_id": ["coast"], "geometry": [_wkb.linestring(base)]}
        )
    )
    t = generate_transects(
        simplify_lines(lines, 5.0), length=400.0, interval=100.0, buffer=10.0
    )
    land = spark.createDataFrame(
        pd.DataFrame(
            {
                "geometry": [
                    _wkb.polygon(
                        np.array(
                            [[-100, -500], [2100, -500], [2100, 0],
                             [-100, 0], [-100, -500]],
                            float,
                        )
                    )
                ]
            }
        )
    )
    t = orient_transects(t, land)
    years = range(2000, 2005)
    sl = spark.createDataFrame(
        pd.DataFrame(
            {
                "year": list(years),
                "geometry": [
                    _wkb.linestring(
                        np.stack(
                            [xs, 40.0 * np.sin(xs / 150.0)
                             + 3.0 * (y - 2000) + 60.0],
                            axis=1,
                        )
                    )
                    for y in years
                ],
            }
        )
    )
    out = transect_rates(t, sl, 2000)
    return out.select(
        "id",
        (F.col("rate_time") + 0.0).alias("rate_time"),
        (F.col("se_time") + 0.0).alias("se_time"),
        "valid_obs", "valid_span",
        (F.round("sce", 3) + 0.0).alias("sce"),
        "max_year", "min_year",
    ).localCheckpoint(eager=False).orderBy("id")


def q_group_percentiles(spark, sf_dir):
    """Exact interpolated per-group percentiles (Spark `percentile` ==
    SQL percentile_cont semantics), hash-verified. Exact percentiles
    buffer each group's values — right for bounded-cardinality report
    groups like this; for percentiles over 100 TB facts use
    approx_percentile (t-digest-style sketch, map-side combinable),
    whose engine-specific estimates make it rows-only-checkable."""
    li = _t(spark, sf_dir, "lineitem")
    # ONE array-percentile aggregate, not three scalar ones: exact
    # percentile's partial state is the full value list, so three
    # separate aggregates buffer and shuffle every value three times
    # (measured 3.1 s -> 1.4 s at sf0.1 for this fix alone)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.95))
            ).alias("ps"),
            F.count("*").alias("n"),
        )
        .select(
            "l_returnflag",
            F.round(F.col("ps")[0], 6).alias("p25"),
            F.round(F.col("ps")[1], 6).alias("p50"),
            F.round(F.col("ps")[2], 6).alias("p95"),
            "n",
        )
        .orderBy("l_returnflag")
    )


ORACLE_GROUP_PERCENTILES = """
SELECT l_returnflag,
       ROUND(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice), 6) AS p25,
       ROUND(percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_extendedprice), 6) AS p50,
       ROUND(percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice), 6) AS p95,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_zonal_stats(spark, sf_dir):
    """Per-(zone, year) statistics of the composite MNDWI raster inside
    AOI polygons — zonal stats as partial-per-tile + one (zone, year)
    combine shuffle (operators/zonal.py). Hash-verified:
    zonal_oracle_sql() recomputes the composite pixels driver-side and
    DuckDB independently does the rectangle PIP + full aggregation;
    numeric parity vs an independent rectangle-comparison brute force
    is also pinned by tests/test_zonal.py."""
    import numpy as np
    import pandas as pd

    from ..geometry import wkb as _wkb
    from ..operators.composite import annual_composites
    from ..operators.zonal import zonal_stats
    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2002, obs_per_year=4,
                              cloud_frac=0.05, seed=13)
    comp = annual_composites(
        _corpus.generate_spark(spark, spec), apply_tide_filter=False
    )
    ox, oy = spec.tile_origin(0, 0)
    sz = spec.tile_px * spec.res_m

    def rect(x0, y0, x1, y1):
        return _wkb.polygon(
            np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)
        )

    zones = spark.createDataFrame(
        pd.DataFrame(
            [
                {"zone_id": "west", "geometry": rect(ox - 10, oy - 3 * sz, ox + 1.4 * sz, oy + 2 * sz)},
                {"zone_id": "east", "geometry": rect(ox + 1.4 * sz, oy - 3 * sz, ox + 4 * sz, oy + 2 * sz)},
                {"zone_id": "mid", "geometry": rect(ox + 0.7 * sz, oy - 1.6 * sz, ox + 2.3 * sz, oy + 0.6 * sz)},
            ]
        )
    )
    r = zonal_stats(comp, zones)
    return r.select(
        "zone_id", "year", "n",
        F.round("sum_v", 4).alias("sum_v"),
        F.round("min_v", 6).alias("min_v"),
        F.round("max_v", 6).alias("max_v"),
        F.round("mean_v", 6).alias("mean_v"),
    ).orderBy("zone_id", "year")


def zonal_oracle_sql() -> str:
    """Full hash-verified oracle for q_zonal_stats. The corpus is a
    deterministic function of CorpusSpec(seed=13), so recompute the
    per-(tile, year) composite median driver-side (same pure helpers
    the grouped kernel uses: codec decode + _nan_median_std_count),
    write every finite core pixel as a (x, y, year, v) row to a temp
    parquet, and let DuckDB independently do the zone assignment
    (the query's zones are axis-aligned rectangles, so PIP reduces to
    BETWEEN comparisons — a different algorithm from the kernel's
    general ring-crossing test), the full aggregation (no partial +
    combine split), the mean, and the rounding. Checks the distributed
    orchestration, the per-tile partial / (zone, year) combine
    algebra, and the PIP against an independent formulation."""
    import os
    import tempfile

    import numpy as np
    import pandas as pd

    from ..codecs import image as _img
    from ..operators.composite import _nan_median_std_count
    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2002, obs_per_year=4,
                              cloud_frac=0.05, seed=13)
    halo, res = spec.halo_px, spec.res_m
    recs: list[dict] = []
    for tx in range(spec.tiles_x):
        for ty in range(spec.tiles_y):
            ox, oy = spec.tile_origin(tx, ty)
            # GDAL affine of the halo-inclusive image (make_row)
            c = ox - halo * res
            f = oy + (spec.tile_px + halo) * res
            for year in spec.years:
                stack = np.stack([
                    _img.decode_tile(r["bytes"], r["fmt"])
                    for r in (
                        _corpus.make_row(spec, tx, ty, year, obs)
                        for obs in range(spec.obs_per_year)
                    )
                ])
                med, _, _ = _nan_median_std_count(stack)
                core = med[halo:med.shape[0] - halo, halo:med.shape[1] - halo]
                ny, nx = core.shape
                xs = c + (np.arange(halo, halo + nx) + 0.5) * res
                ys = f + (np.arange(halo, halo + ny) + 0.5) * -res
                gx, gy = np.meshgrid(xs, ys)
                keep = np.isfinite(core)
                recs.extend(
                    {"x": float(px), "y": float(py), "year": year,
                     "v": float(pv)}
                    for px, py, pv in zip(gx[keep], gy[keep], core[keep])
                )
    pdf = pd.DataFrame(recs)
    # per-process filename + atomic rename (phash_oracle_sql pattern)
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_zonal_oracle_{os.getpid()}.parquet"
    )
    tmp = path + ".tmp"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)

    ox, oy = spec.tile_origin(0, 0)
    sz = spec.tile_px * spec.res_m
    zones = [
        ("west", ox - 10, oy - 3 * sz, ox + 1.4 * sz, oy + 2 * sz),
        ("east", ox + 1.4 * sz, oy - 3 * sz, ox + 4 * sz, oy + 2 * sz),
        ("mid", ox + 0.7 * sz, oy - 1.6 * sz, ox + 2.3 * sz, oy + 0.6 * sz),
    ]
    vals = ", ".join(
        f"('{zid}', {x0!r}, {y0!r}, {x1!r}, {y1!r})"
        for zid, x0, y0, x1, y1 in zones
    )
    return f"""
WITH zones(zone_id, x0, y0, x1, y1) AS (VALUES {vals})
SELECT z.zone_id, CAST(p.year AS INTEGER) AS year, COUNT(*) AS n,
       ROUND(SUM(p.v), 4) AS sum_v,
       ROUND(MIN(p.v), 6) AS min_v,
       ROUND(MAX(p.v), 6) AS max_v,
       ROUND(SUM(p.v) / COUNT(*), 6) AS mean_v
FROM read_parquet('{path}') p
JOIN zones z
  ON p.x BETWEEN z.x0 AND z.x1 AND p.y BETWEEN z.y0 AND z.y1
GROUP BY z.zone_id, p.year
ORDER BY z.zone_id, year
"""


def multimodal_oracle_sql() -> str:
    """Full hash-verified oracle for q_multimodal_decode_stats. The
    corpus is a deterministic function of CorpusSpec(seed=5), so decode
    every image driver-side (same codec the Arrow kernel uses — the
    codecs carry their own PSNR/round-trip pytest gates), write the
    FINITE pixels as (image_id, v) rows to a temp parquet, and let
    DuckDB independently compute the per-image mean / population std /
    nodata fraction (via a literal per-image pixel-count table) plus
    the rounding — checking the distributed mapInPandas path against a
    plain SQL aggregation."""
    import os
    import tempfile

    import numpy as np
    import pandas as pd

    from ..codecs import image as _img
    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=2, tiles_y=1,
                              year0=2000, year1=2001, obs_per_year=2, seed=5,
                              fmt="mixed")
    recs: list[dict] = []
    totals: list[tuple[str, int]] = []
    for key in _corpus.iter_keys(spec):
        row = _corpus.make_row(spec, *key)
        arr = _img.decode_tile(row["bytes"], row["fmt"])
        totals.append((row["image_id"], int(arr.size)))
        v = arr[np.isfinite(arr)].astype(np.float64)
        recs.extend({"image_id": row["image_id"], "v": float(x)} for x in v)
    pdf = pd.DataFrame(recs, columns=["image_id", "v"])
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_mmstats_oracle_{os.getpid()}.parquet",
    )
    tmp = path + ".tmp"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)

    vals = ", ".join(f"('{iid}', {n})" for iid, n in totals)
    return f"""
WITH tot(image_id, npx) AS (VALUES {vals})
SELECT t.image_id,
       ROUND(AVG(p.v), 6) AS px_mean,
       ROUND(STDDEV_POP(p.v), 6) AS px_std,
       1.0 - COUNT(p.v) / CAST(t.npx AS DOUBLE) AS nodata_frac
FROM tot t
LEFT JOIN read_parquet('{path}') p USING (image_id)
GROUP BY t.image_id, t.npx
ORDER BY t.image_id
"""


def components_oracle_sql() -> str:
    """Full hash-verified oracle for q_global_components. The input
    mask is a pure function of _components_world(), so the driver
    recomputes the grouping INDEPENDENTLY of the distributed path: an
    8-connected breadth-first flood fill over the WHOLE 96x96 mosaic —
    no tiling, no seam extraction, no label propagation (the parts the
    distributed operator could get wrong). Per-tile labels reuse
    functions/label.py (the same kernel the grouped stage runs; it
    carries its own pytest parity) only to NAME the members; each
    (tile, label) is then mapped to its whole-mosaic component through
    any member pixel. DuckDB independently re-derives the component
    pixel sums and the canonical (tile_x, tile_y, label) representative
    via window aggregation over the member rows."""
    import os
    import tempfile
    from collections import deque

    import numpy as np
    import pandas as pd

    from ..functions import label as _label

    world, rows = _components_world()
    H = W = 32

    # independent whole-mosaic labeling: BFS flood fill, 8-connected
    wcomp = np.zeros(world.shape, np.int64)
    nxt = 0
    hh, ww = world.shape
    for r0 in range(hh):
        for c0 in range(ww):
            if world[r0, c0] and wcomp[r0, c0] == 0:
                nxt += 1
                wcomp[r0, c0] = nxt
                dq = deque([(r0, c0)])
                while dq:
                    r, c = dq.popleft()
                    for dr in (-1, 0, 1):
                        for dc in (-1, 0, 1):
                            rr, cc = r + dr, c + dc
                            if (0 <= rr < hh and 0 <= cc < ww
                                    and world[rr, cc] and wcomp[rr, cc] == 0):
                                wcomp[rr, cc] = nxt
                                dq.append((rr, cc))

    recs = []
    for t in rows:
        tx, ty = t["tile_x"], t["tile_y"]
        block = (
            np.frombuffer(t["mask_bytes"], np.uint8).reshape(H, W) > 0
        )
        labels, n = _label.label(block, 2)
        if n == 0:
            continue
        sizes = _label.region_sizes(labels, n)
        for lab in range(1, n + 1):
            rs, cs = np.nonzero(labels == lab)
            # any member pixel names the whole-mosaic component
            wr, wc = (2 - ty) * H + int(rs[0]), tx * W + int(cs[0])
            recs.append({
                "tile_x": tx, "tile_y": ty, "label": int(lab),
                "n_px": int(sizes[lab]), "wcomp": int(wcomp[wr, wc]),
            })
    pdf = pd.DataFrame(recs, columns=["tile_x", "tile_y", "label", "n_px", "wcomp"])
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_components_oracle_{os.getpid()}.parquet",
    )
    tmp = path + ".tmp"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)

    # (tile_x, tile_y, label) each < 2^20, so the packed key preserves
    # lexicographic order and MIN(key) is the canonical representative
    return f"""
WITH m AS (SELECT * FROM read_parquet('{path}')),
agg AS (
  SELECT *,
         CAST(SUM(n_px) OVER (PARTITION BY wcomp) AS BIGINT) AS component_px,
         MIN((CAST(tile_x AS BIGINT) << 40)
             + (CAST(tile_y AS BIGINT) << 20)
             + label) OVER (PARTITION BY wcomp) AS repkey
  FROM m)
SELECT CAST(repkey >> 40 AS INTEGER) AS comp_tx,
       CAST((repkey >> 20) & 1048575 AS INTEGER) AS comp_ty,
       CAST(repkey & 1048575 AS INTEGER) AS comp_label,
       component_px, tile_x, tile_y, label, CAST(n_px AS BIGINT) AS n_px
FROM agg
ORDER BY comp_tx, comp_ty, comp_label, tile_x, tile_y, label
"""


def audio_oracle_sql() -> str:
    """Full hash-verified oracle for q_audio_features. The clip set is
    a pure function of the query (sine mixtures, f0 = 200 + 100*i), so
    the driver re-derives every feature single-threaded from the
    textbook definitions — RMS, sign-change rate, rfft
    magnitude-weighted mean frequency — over the SAME pcm16
    quantization (codecs/wav.py round-trip, which carries its own
    closed-form pytest gates). DuckDB applies the rounding and ordering
    independently, checking the distributed mapInPandas path against a
    scalar recompute."""
    import os
    import tempfile

    import numpy as np
    import pandas as pd

    from ..codecs import wav as _wav

    rate = 8000
    t = np.arange(rate // 2) / rate
    recs = []
    for i in range(8):
        f0 = 200.0 + 100.0 * i
        x = (0.4 * np.sin(2 * np.pi * f0 * t)
             + 0.2 * np.sin(2 * np.pi * 2 * f0 * t)).astype(np.float32)
        mono, r2 = _wav.decode_pcm16(_wav.encode_pcm16(x, rate))
        mono = mono.mean(axis=1)
        n = mono.shape[0]
        rms = float(np.sqrt(np.mean(mono ** 2)))
        zcr = float(np.mean(np.diff(np.signbit(mono)) != 0)) * r2
        mag = np.abs(np.fft.rfft(mono))
        freqs = np.fft.rfftfreq(n, d=1.0 / r2)
        tot = float(mag.sum())
        centroid = float((freqs * mag).sum() / tot) if tot > 0 else 0.0
        recs.append({
            "audio_id": f"clip{i:02d}", "sample_rate": int(r2),
            "duration_s": n / r2, "rms": rms, "zcr_hz": zcr,
            "spectral_centroid_hz": centroid,
        })
    pdf = pd.DataFrame(recs)
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_audio_oracle_{os.getpid()}.parquet",
    )
    tmp = path + ".tmp"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return f"""
SELECT audio_id, CAST(sample_rate AS INTEGER) AS sample_rate,
       ROUND(duration_s, 6) AS duration_s,
       ROUND(rms, 6) AS rms,
       ROUND(zcr_hz, 2) AS zcr_hz,
       ROUND(spectral_centroid_hz, 2) AS spectral_centroid_hz
FROM read_parquet('{path}')
ORDER BY audio_id
"""


def _sql_double_list(vals) -> str:
    """Round-trip-exact DOUBLE[] literal (repr keeps all 17 digits)."""
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


def lsh_ann_oracle_sql() -> str:
    """Full hash-verified oracle for q_lsh_ann_topk. The hyperplanes
    are a pure function of the seed (default_rng(100+t)), so they are
    embedded as DOUBLE[] literals and DuckDB *independently recomputes*
    the whole LSH path: per-(vector, table) bucket id from the sign
    pattern of 10 plane dot products, candidate generation as the
    (table, bucket) equi-join, exact cosine rerank, deterministic
    rank-window top-k. Nothing but the plane constants is shared with
    the Spark implementation."""
    import numpy as np

    n_planes, n_tables, dim = 10, 4, 64
    rows = []
    for t in range(n_tables):
        planes = np.random.default_rng(100 + t).standard_normal((n_planes, dim))
        for p in range(n_planes):
            rows.append(
                f"({t}, {p}, CAST({_sql_double_list(planes[p])} AS DOUBLE[]))"
            )
    values = ",\n".join(rows)
    return f"""
WITH planes(tbl, p, plane) AS (VALUES
{values}),
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (
  SELECT e.vec_id, pl.tbl,
         CAST(SUM(CASE WHEN list_dot_product(e.v, pl.plane) > 0
                       THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS bucket
  FROM emb e CROSS JOIN planes pl
  GROUP BY e.vec_id, pl.tbl),
qs AS (SELECT vec_id AS query_id, tbl, bucket FROM sig WHERE vec_id < 10),
cands AS (
  SELECT DISTINCT q.query_id, s.vec_id AS item_id
  FROM qs q JOIN sig s ON q.tbl = s.tbl AND q.bucket = s.bucket
  WHERE s.vec_id != q.query_id),
scored AS (
  SELECT c.query_id, c.item_id,
         ROUND(LIST_COSINE_SIMILARITY(eq.v, ei.v), 6) AS cosine
  FROM cands c
  JOIN emb eq ON eq.vec_id = c.query_id
  JOIN emb ei ON ei.vec_id = c.item_id),
r AS (
  SELECT query_id, item_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, item_id) AS rank
  FROM scored)
SELECT query_id, rank, item_id, cosine FROM r WHERE rank <= 5
ORDER BY query_id, rank
"""


def ivf_ann_oracle_sql() -> str:
    """Hash-verified oracle for q_ivf_ann_topk. The coarse quantizer is
    deterministic (sample = lowest-20000 vec_ids, seeded spherical
    k-means), so the oracle refits it in numpy from the same parquet
    (shared constants, like the phash corpus), embeds the 16 centroids
    as DOUBLE[] literals, and DuckDB independently recomputes item
    assignment (argmax similarity), the nprobe=4 probe set, the
    (cluster) candidate equi-join, and the exact-cosine rank-window
    top-k. Reads the sf0.01 embeddings table the driver registers for
    oracle runs (override dir via SPARK_GRAFT_ORACLE_SF_DIR)."""
    import os

    import numpy as np
    import pandas as pd

    from ..operators.similarity import kmeans_fit

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    pdf = pd.read_parquet(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    pdf = pdf.sort_values("vec_id").head(20_000)
    x = np.stack([np.asarray(v, np.float64) for v in pdf["embedding"]])
    cents = kmeans_fit(x, n_clusters=16, n_iter=10, seed=0)
    values = ",\n".join(
        f"({c}, CAST({_sql_double_list(cents[c])} AS DOUBLE[]))"
        for c in range(len(cents))
    )
    return f"""
WITH cents(cluster, c) AS (VALUES
{values}),
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sims AS (
  SELECT e.vec_id, c.cluster, list_dot_product(e.v, c.c) AS sim
  FROM emb e CROSS JOIN cents c),
item_assign AS (
  SELECT vec_id AS item_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, cluster) AS rn
    FROM sims) WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, cluster) AS rn
    FROM sims WHERE vec_id < 10) WHERE rn <= 4),
cands AS (
  SELECT DISTINCT p.query_id, i.item_id
  FROM probes p JOIN item_assign i ON p.cluster = i.cluster
  WHERE i.item_id != p.query_id),
scored AS (
  SELECT c.query_id, c.item_id,
         ROUND(LIST_COSINE_SIMILARITY(eq.v, ei.v), 6) AS cosine
  FROM cands c
  JOIN emb eq ON eq.vec_id = c.query_id
  JOIN emb ei ON ei.vec_id = c.item_id),
r AS (
  SELECT query_id, item_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, item_id) AS rank
  FROM scored)
SELECT query_id, rank, item_id, cosine FROM r WHERE rank <= 5
ORDER BY query_id, rank
"""


def semdedup_oracle_sql() -> str:
    """Hash-verified oracle for q_semdedup. Refits the deterministic
    coarse quantizer from the same parquet sample the Spark query
    trains on (shared recipe with ivf_ann_oracle_sql), embeds the 16
    unit centroids as DOUBLE[] literals, and DuckDB independently
    recomputes: the augmented table, nearest-centroid assignment
    (argmax cosine, ties to the lowest cluster — the numpy argmax
    rule), the keep-priority pairing (lower rounded c_sim ranked
    before, ascending-id tie-break), the within-cluster cosine prune
    at eps=0.95, and the per-item max duplicate cosine. Only the
    centroid constants are shared with the Spark implementation."""
    import os

    import numpy as np
    import pandas as pd

    from ..operators.similarity import kmeans_fit

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    pdf = pd.read_parquet(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    pdf = pdf.sort_values("vec_id").head(20_000)
    x = np.stack([np.asarray(v, np.float64) for v in pdf["embedding"]])
    cents = kmeans_fit(x, n_clusters=16, n_iter=10, seed=0)
    values = ",\n".join(
        f"({c}, CAST({_sql_double_list(cents[c])} AS DOUBLE[]))"
        for c in range(len(cents))
    )
    return f"""
WITH cents(cluster, c) AS (VALUES
{values}),
base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
e AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 100000, v FROM base WHERE vec_id < 40
  UNION ALL
  SELECT vec_id + 200000, list_transform(v, x -> x * 2.0)
  FROM base WHERE vec_id < 40
),
sims AS (
  SELECT e.vec_id, c.cluster, LIST_COSINE_SIMILARITY(e.v, c.c) AS sim
  FROM e CROSS JOIN cents c),
assign AS (
  SELECT vec_id, cluster, ROUND(sim, 6) AS c_sim FROM (
    SELECT vec_id, cluster, sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, cluster) AS rn
    FROM sims) WHERE rn = 1),
pairs AS (
  SELECT a.vec_id AS id_a,
         ROUND(LIST_COSINE_SIMILARITY(ea.v, eb.v), 6) AS cosine
  FROM assign a
  JOIN assign b ON a.cluster = b.cluster
   AND (b.c_sim < a.c_sim OR (b.c_sim = a.c_sim AND b.vec_id < a.vec_id))
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id),
dup AS (
  SELECT id_a, MAX(cosine) AS dup_cos FROM pairs
  WHERE cosine >= 0.95 GROUP BY id_a)
SELECT a.vec_id, a.cluster, a.c_sim,
       COALESCE(d.dup_cos, -1.0) AS dup_cos,
       CAST(d.id_a IS NULL AS INTEGER) AS kept
FROM assign a LEFT JOIN dup d ON a.vec_id = d.id_a
ORDER BY a.vec_id
"""


# q_merge_upsert stages its CoW table once per (application, sf_dir);
# the temp roots are removed at interpreter exit, so repeated bench
# iterations neither re-run the write path nor leak directories.
_MERGE_UPSERT_TABLES: dict[tuple[str, str], str] = {}


def q_merge_upsert(spark, sf_dir):
    """Iceberg-style row-level write path end-to-end: create a
    partitioned snapshot table from orders, copy-on-write MERGE a
    source that updates overlapping keys and inserts new ones, then a
    partition-scoped row-level DELETE, and aggregate the final table
    content. The oracle recomputes the upsert+delete relationally
    (anti-join union + filter) straight from the parquet — verifying
    the resulting TABLE CONTENT, not just that commits succeeded.
    (Reference analog: annual re-supply of recomputed shoreline
    layers; SnapshotTable.merge/delete_where, sources/table.py.)

    NOTE on timing semantics: create/merge/delete_where are ACTIONS and
    execute at build time, memoized per (applicationId, sf_dir); the
    returned plan reads the final table, so a bench timing of this
    query measures the snapshot READ + aggregate, not the write path
    (the write path's own latency is covered by tests/test_sources.py).
    The staged temp root is registered for atexit removal."""
    import atexit
    import shutil
    import tempfile

    from ..sources import SnapshotTable

    key = (spark.sparkContext.applicationId, sf_dir)
    path = _MERGE_UPSERT_TABLES.get(key)
    if path is None:
        root = tempfile.mkdtemp(prefix="merge_upsert_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        path = root + "/t"
        orders = _t(spark, sf_dir, "orders")
        target = orders.filter(F.col("o_orderkey") <= 600).select(
            "o_orderkey", "o_orderpriority", "o_custkey"
        )
        source = orders.filter(
            (F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 900)
        ).select(
            "o_orderkey",
            "o_orderpriority",
            (F.col("o_custkey") + F.lit(1000000)).alias("o_custkey"),
        )
        t = SnapshotTable(spark, path)
        t.create(target, partition_by=["o_orderpriority"])
        t.merge(source, on=["o_orderkey"])
        t.delete_where(
            "o_orderkey % 10 = 0",
            where={"o_orderpriority": ["1-URGENT", "2-HIGH"]},
        )
        _MERGE_UPSERT_TABLES[key] = path
    else:
        t = SnapshotTable(spark, path)
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum("o_custkey").alias("sum_cust"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderpriority")
    )


# q_jsonl_ingest stages its JSONL rendering once per (application,
# sf_dir); temp roots are removed at interpreter exit (same discipline
# as _MERGE_UPSERT_TABLES).
_JSONL_DIRS: dict[tuple[str, str], str] = {}

# the deterministic malformed shard injected next to the good JSONL —
# truncated objects and non-JSON lines, the shapes crawl shards
# actually break in. COUNT is part of the oracle contract below.
_JSONL_BAD_LINES = (
    '{"doc_id": 1, "lang": "en", "text": "truncated',
    "this line is not JSON at all",
    '{"doc_id": oops}',
    '{"doc_id": 2 "lang": "de"}',
    "<html>stray log output</html>",
    '{"doc_id":',
    "}{",
)


def q_jsonl_ingest(spark, sf_dir):
    """JSONL corpus ingress end-to-end (sources/jsonl.py): render the
    documents table to newline-delimited JSON (executor-parallel sink),
    inject a deterministic malformed shard, scan it back with a PINNED
    schema in PERMISSIVE mode capturing unparseable lines, and
    aggregate per-language doc counts + character volume plus one
    quarantine row. The oracle recomputes the per-language aggregate
    straight from the parquet and pins the quarantine count to the
    injected-line constant — verifying the JSON round trip (values
    survive encode/decode exactly) AND the malformed-capture contract
    (every bad line lands in quarantine, no good line does).

    NOTE on timing semantics: the JSONL staging WRITE executes at build
    time, memoized per (applicationId, sf_dir); a bench timing measures
    the JSONL SCAN + aggregate. (Reference ingests per-path files,
    coastlines/raster.py:240-280; this is the tabular corpus analog.)
    """
    import atexit
    import shutil
    import tempfile

    from ..sources.jsonl import read_jsonl_corpus, write_jsonl

    key = (spark.sparkContext.applicationId, sf_dir)
    path = _JSONL_DIRS.get(key)
    if path is None:
        root = tempfile.mkdtemp(prefix="jsonl_ingest_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        path = root + "/docs"
        write_jsonl(
            _t(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
            path,
        )
        with open(path + "/part-corrupt-extra.json", "w") as f:
            f.write("\n".join(_JSONL_BAD_LINES) + "\n")
        _JSONL_DIRS[key] = path

    df = read_jsonl_corpus(
        spark, path, "doc_id bigint, lang string, text string"
    )
    # ONE scan, conditional key — not split_corrupt: a two-branch split
    # would parse the corpus twice (or force a checkpoint), and a
    # quarantine-only branch trips Spark's corrupt-column-only scan
    # restriction. Corrupt rows have NULL text, so their group's
    # sum_chars is NULL — the oracle mirrors that.
    from ..sources.jsonl import DEFAULT_CORRUPT_COL as _CC

    key = (
        F.when(F.col(_CC).isNotNull(), F.lit("__quarantine__"))
        .otherwise(F.coalesce("lang", F.lit("__null__")))
    )
    return (
        df.groupBy(key.alias("lang"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


ORACLE_JSONL_INGEST = f"""
SELECT COALESCE(lang, '__null__') AS lang,
       COUNT(*) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1
UNION ALL
SELECT '__quarantine__' AS lang,
       {len(_JSONL_BAD_LINES)} AS n_docs,
       CAST(NULL AS BIGINT) AS sum_chars
ORDER BY lang
"""


def q_caption_alignment(spark, sf_dir):
    """Cross-modal caption↔image alignment gate (LAION/DataComp-style
    CLIP-score filtering with the documented deterministic hash towers:
    phash = image tower, caption SimHash = text tower, cosine =
    1 - 2·hamming/64). Fully hash-verified: the oracle re-derives the
    caption SimHash in DuckDB UHUGEINT list lambdas (the proven
    _simhash_sql construction) over a driver-written (image_id, phash,
    caption) parquet and scores with bit_count(xor)."""
    from ..operators.multimodal import caption_alignment
    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2002, obs_per_year=4,
                              cloud_frac=0.05, seed=9)
    tiles = spark.createDataFrame(_corpus.generate_pandas(spec))
    return caption_alignment(tiles, threshold=0.0).select(
        "image_id", "caption_sig", "hamming", "alignment", "keep"
    ).orderBy("image_id")


def caption_alignment_oracle_sql() -> str:
    """Oracle for q_caption_alignment: same deterministic corpus
    written to a temp parquet; DuckDB independently recomputes the
    token FNV hashes, the per-bit majority vote, the signed signature,
    and the hamming/alignment scoring."""
    import os
    import tempfile

    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2002, obs_per_year=4,
                              cloud_frac=0.05, seed=9)
    pdf = _corpus.generate_pandas(spec)[["image_id", "phash", "caption"]]
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_caption_align_{os.getpid()}.parquet",
    )
    tmp = path + ".tmp"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return rf"""
WITH toks AS (
  SELECT image_id, phash,
         list_filter(string_split_regex(lower(caption), '\s+'),
                     x -> x <> '') AS toks
  FROM read_parquet('{path}')),
hashed AS (
  SELECT image_id, phash, list_transform(toks, s -> {_FNV_SQL}) AS hs
  FROM toks),
sigs AS (
  SELECT image_id, phash,
    CASE WHEN len(hs) = 0 THEN 0::HUGEINT
    ELSE list_reduce(list_prepend(0::HUGEINT,
      list_transform(generate_series(0, 63), bb ->
        CASE WHEN 2 * list_sum(list_transform(hs,
                      h -> ((h >> bb::UHUGEINT) & 1::UHUGEINT)::INT))
                  > len(hs)
             THEN (1::UHUGEINT << bb::UHUGEINT)::HUGEINT
             ELSE 0::HUGEINT END)),
      (acc, x) -> acc + x)
    END AS u
  FROM hashed),
scored AS (
  SELECT image_id,
    (CASE WHEN u >= 9223372036854775808::HUGEINT
          THEN u - 18446744073709551616::HUGEINT
          ELSE u END)::BIGINT AS caption_sig,
    phash
  FROM sigs)
SELECT image_id, caption_sig,
       CAST(bit_count(xor(caption_sig, phash)) AS INTEGER) AS hamming,
       ROUND(1.0 - CAST(bit_count(xor(caption_sig, phash)) AS INTEGER)
                   * 2.0 / 64.0, 6) AS alignment,
       (1.0 - CAST(bit_count(xor(caption_sig, phash)) AS INTEGER)
              * 2.0 / 64.0 >= 0.0) AS keep
FROM scored ORDER BY image_id
"""


def q_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining (multimodal.hard_negatives):
    top-3 most-confusable wrong captions per image within 8-bit phash
    visual buckets, donor side capped at 16 per bucket by portable md5
    order. Fully hash-verified: the oracle re-derives the caption
    SimHash towers, bucket join, cap window, and rank window in DuckDB
    over the same driver-written parquet as caption_alignment."""
    from ..operators.multimodal import hard_negatives
    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2002, obs_per_year=4,
                              cloud_frac=0.05, seed=9)
    tiles = spark.createDataFrame(_corpus.generate_pandas(spec))
    return hard_negatives(
        tiles, k=3, prefix_bits=8, bucket_cap=16
    ).orderBy("image_id", "rank")


def hard_negatives_oracle_sql() -> str:
    """Oracle for q_hard_negatives: caption towers re-derived with the
    UHUGEINT FNV/majority-vote lambdas, then the visual-bucket join,
    md5-ordered donor cap, alignment scoring, and top-k rank window —
    every step independently in DuckDB."""
    import os
    import tempfile

    from ..synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2002, obs_per_year=4,
                              cloud_frac=0.05, seed=9)
    pdf = _corpus.generate_pandas(spec)[["image_id", "phash", "caption"]]
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_hard_neg_{os.getpid()}.parquet",
    )
    tmp = path + ".tmp"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return rf"""
WITH toks AS (
  SELECT image_id, phash,
         list_filter(string_split_regex(lower(caption), '\s+'),
                     x -> x <> '') AS toks
  FROM read_parquet('{path}')),
hashed AS (
  SELECT image_id, phash, list_transform(toks, s -> {_FNV_SQL}) AS hs
  FROM toks),
sigs AS (
  SELECT image_id, phash,
    CASE WHEN len(hs) = 0 THEN 0::HUGEINT
    ELSE list_reduce(list_prepend(0::HUGEINT,
      list_transform(generate_series(0, 63), bb ->
        CASE WHEN 2 * list_sum(list_transform(hs,
                      h -> ((h >> bb::UHUGEINT) & 1::UHUGEINT)::INT))
                  > len(hs)
             THEN (1::UHUGEINT << bb::UHUGEINT)::HUGEINT
             ELSE 0::HUGEINT END)),
      (acc, x) -> acc + x)
    END AS u
  FROM hashed),
b AS (
  SELECT image_id, phash,
    (CASE WHEN u >= 9223372036854775808::HUGEINT
          THEN u - 18446744073709551616::HUGEINT
          ELSE u END)::BIGINT AS caption_sig,
    phash >> 56 AS bucket
  FROM sigs),
donors AS (
  SELECT image_id AS neg_image_id, caption_sig AS neg_sig, bucket,
         ROW_NUMBER() OVER (PARTITION BY bucket
                            ORDER BY md5(image_id), image_id) AS rk
  FROM b),
pairs AS (
  SELECT a.image_id, d.neg_image_id,
         ROUND(1.0 - CAST(bit_count(xor(a.phash, d.neg_sig)) AS INTEGER)
                     * 2.0 / 64.0, 6) AS neg_alignment
  FROM b a JOIN donors d
    ON a.bucket = d.bucket AND a.image_id <> d.neg_image_id
  WHERE d.rk <= 16),
r AS (
  SELECT image_id, neg_image_id, neg_alignment,
         ROW_NUMBER() OVER (PARTITION BY image_id
                            ORDER BY neg_alignment DESC, neg_image_id)
           AS rank
  FROM pairs)
SELECT image_id, CAST(rank AS INT) AS rank, neg_image_id, neg_alignment
FROM r WHERE rank <= 3 ORDER BY image_id, rank
"""


def q_chunk_documents(spark, sf_dir):
    """Sliding-window document chunking (RAG / long-context splitter,
    operators/text.chunk_documents): 20-token windows, 5-token overlap,
    map-only fan-out. The oracle rebuilds the chunk grid with DuckDB
    generate_series + list slicing."""
    from ..operators.text import chunk_documents

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return chunk_documents(d, window=20, overlap=5).orderBy(
        "doc_id", "chunk_idx"
    )


ORACLE_CHUNK_DOCUMENTS = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
              ELSE regexp_split_to_array(TRIM(text), '[ \t\n\r\f\x0B]+')
         END AS toks
  FROM documents WHERE doc_id < 200),
g AS (
  SELECT doc_id, toks,
         CAST(GREATEST(CEIL((len(toks) - 5) / 15.0) - 1, 0) AS INTEGER)
           AS last_i
  FROM t WHERE len(toks) > 0),
c AS (
  SELECT doc_id, toks, UNNEST(generate_series(0, last_i)) AS chunk_idx
  FROM g)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(len(toks[chunk_idx * 15 + 1 : chunk_idx * 15 + 20]) AS INTEGER)
         AS n_chunk_tokens,
       array_to_string(toks[chunk_idx * 15 + 1 : chunk_idx * 15 + 20], ' ')
         AS chunk
FROM c ORDER BY doc_id, chunk_idx
"""


def q_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-user estimate per event_type
    (operators/sketch.hll_distinct, p=10): map-only Arrow (bucket, rho)
    kernel, then two map-side-combinable aggregations whose shuffle
    volume is O(groups * 2^p) regardless of row count — the mergeable-
    register cardinality sketch every 10^12-row planning pass relies
    on. The oracle replays splitmix64, the exact integer register sum
    (UHUGEINT), and the linear-counting correction bit-for-bit."""
    from ..operators.sketch import hll_distinct

    ev = _t(spark, sf_dir, "events")
    return hll_distinct(ev, "user_id", ["event_type"], p=10).orderBy(
        "event_type"
    )


def _hll_oracle() -> str:
    from ..operators.sketch import hll_sql

    return hll_sql("events", "user_id", ["event_type"], p=10) + (
        " ORDER BY event_type"
    )


def q_heavy_hitters(spark, sf_dir):
    """Count-Min heavy hitters over the documents corpus
    (operators/sketch.cms_heavy_hitters, depth 4 x width 1024): exact
    per-token reduce (the word-count shuffle), then the counter grid is
    folded from the DISTINCT-token table (no second pass over raw
    tokens) and the exact top-20 probe it broadcast-side. cms_count >=
    exact_count by construction; integer end-to-end. The oracle replays
    the FNV-1a + splitmix bucket hashes and the min-probe in DuckDB."""
    from ..operators.sketch import cms_heavy_hitters

    d = _t(spark, sf_dir, "documents")
    return cms_heavy_hitters(d, "text", k=20, depth=4, width=1024)


def _cms_oracle() -> str:
    from ..operators.sketch import cms_sql

    return cms_sql("documents", "text", k=20, depth=4, width=1024)


def q_pagerank(spark, sf_dir):
    """8 synchronous PageRank iterations over a deterministic citation
    graph (operators/pagerank.py) in fixed-point integer arithmetic:
    every division is an integer div and every sum an integer sum, so
    the ranks are partition-order invariant and hash-verifiable — the
    oracle unrolls the same recurrence as 8 chained GROUP BY CTEs
    (aggregation inside recursive CTEs is not portable SQL; a fixed
    iteration count needs no recursion). Top-20 by rank."""
    from ..operators.pagerank import pagerank_fixed_point, synth_citation_edges

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()  # one count job shared by synth + recurrence
    edges = synth_citation_edges(docs, n=n)
    nodes = docs.select(F.col("doc_id").alias("id"))
    ranks = pagerank_fixed_point(nodes, edges, id_col="id", iters=8, n=n)
    return (
        ranks.orderBy(F.desc("rank_fp"), F.asc("id"))
        .limit(20)
        .select(F.col("id").alias("doc_id"), "rank_fp")
    )


def _pagerank_oracle() -> str:
    from ..operators.pagerank import pagerank_sql

    return pagerank_sql(iters=8, k=20)


def q_ivfpq_ann_topk(spark, sf_dir):
    """IVF-PQ ANN top-5 (operators/pq.py): the memory-scale path of the
    ANN family — 8x64 product quantization (~32x vector compression:
    8 sub-byte codes vs 64 float32),
    coarse-cluster candidate join, JVM-side ADC table-lookup scoring.
    All post-training arithmetic is exact fixed-point integers, so the
    DuckDB oracle (refit quantizers from the same deterministic sample,
    embedded as literals) reproduces codes and ADC sums bit-for-bit."""
    from ..operators.pq import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_topk(
        emb, queries, k=5, n_clusters=16, nprobe=4, m=8, ksub=64
    ).orderBy("query_id", "rank")


def ivfpq_ann_oracle_sql() -> str:
    """Hash-verified oracle for q_ivfpq_ann_topk: refits the coarse
    quantizer AND the PQ codebook from the same deterministic sample
    (lowest-20000 vec_ids, seeded, fixed iterations) and embeds both as
    literals; DuckDB recomputes assignment, probes, integer codes, and
    ADC sums independently (see operators/pq.ivfpq_oracle_sql)."""
    import os

    import numpy as np
    import pandas as pd

    from ..operators.pq import ivfpq_oracle_sql, pq_fit_codebook_np
    from ..operators.similarity import kmeans_fit

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    pdf = pd.read_parquet(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    pdf = pdf.sort_values("vec_id").head(20_000)
    x = np.stack([np.asarray(v, np.float64) for v in pdf["embedding"]])
    coarse = kmeans_fit(x, n_clusters=16, n_iter=10, seed=0)
    codebook = pq_fit_codebook_np(x, m=8, ksub=64, n_iter=10, seed=0)
    return ivfpq_oracle_sql(coarse, codebook, n_queries=10, k=5, nprobe=4)


def q_triangle_counts(spark, sf_dir):
    """Per-node triangle counts + clustering coefficients over the
    deterministic citation graph (operators/triangles.py), top-20 by
    participation. The Spark plan uses degree-ordered orientation
    (compact-forward) so hub wedges can't explode at web scale; the
    oracle counts the same triangles from the unoriented a<b<c form —
    orientation changes the plan, never the integers."""
    from ..operators.pagerank import synth_citation_edges
    from ..operators.triangles import triangle_counts

    docs = _t(spark, sf_dir, "documents")
    edges = synth_citation_edges(docs)
    return (
        triangle_counts(edges)
        .orderBy(F.desc("tri_count"), F.asc("id"))
        .limit(20)
    )


def _triangles_oracle() -> str:
    from ..operators.sketch import _splitmix_sql_fragment
    from ..operators.triangles import triangles_sql

    sm = _splitmix_sql_fragment("CAST(id * 31 + k AS UBIGINT)::UHUGEINT")
    edges_cte = f"""nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT COUNT(*) AS n FROM nodes),
edges AS (
  SELECT id AS src, CAST(({sm}) % (SELECT n FROM nn)::UHUGEINT AS BIGINT) AS dst
  FROM nodes, (VALUES (1),(2),(3)) AS ks(k))"""
    return triangles_sql(edges_cte) + " ORDER BY tri_count DESC, id LIMIT 20"


def q_resample_interpolate(spark, sf_dir):
    """Per-user 6-hour resampling with linear interpolation
    (operators/resample.py): row-local sequence() grid, one union + one
    per-key window pass bracketing each grid point with running
    IGNORE-NULLS last-values, row-local interpolation. One shuffle
    total; the oracle replays it with generate_series + the same
    windows (sub-second parts floored on both engines)."""
    from ..operators.resample import resample_interpolate

    ev = _t(spark, sf_dir, "events")
    return resample_interpolate(ev, "user_id", "ts", "value", step_s=21600).orderBy(
        "user_id", "grid_ts"
    )


def _resample_oracle() -> str:
    from ..operators.resample import resample_interpolate_sql

    return resample_interpolate_sql(
        "events", "user_id", "ts", "value", step_s=21600
    ) + " ORDER BY user_id, grid_ts"


def q_cooccurrence_pmi(spark, sf_dir):
    """Skip-gram co-occurrence + PMI (operators/text.cooccurrence_pmi):
    row-local pair fan-out (nested transform+flatten, no self-join),
    one pair groupBy, broadcast count/total attachment; top-30 selected
    by integer keys only (pmi is rounded output, never a sort key)."""
    from ..operators.text import cooccurrence_pmi

    d = _t(spark, sf_dir, "documents")
    return cooccurrence_pmi(d, "text", window=3, k=30)


def _pmi_oracle() -> str:
    from ..operators.text import cooccurrence_pmi_sql

    return cooccurrence_pmi_sql("documents", "text", window=3, k=30)


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted systematic sampling (operators/sampling.
    weighted_systematic_sample): inclusion probability proportional to
    n_chars, exactly 100 picks by construction (sum of n_picks == 100),
    all-long boundary arithmetic (no float thresholds), two-phase
    bucketed prefix sum — never a single-partition global window."""
    from ..operators.sampling import weighted_systematic_sample

    d = _t(spark, sf_dir, "documents")
    return weighted_systematic_sample(d, "doc_id", "n_chars", n=100)


def _weighted_sample_oracle() -> str:
    from ..operators.sampling import weighted_systematic_sql

    return weighted_systematic_sql("documents", "doc_id", "n_chars", n=100)


def q_quality_classifier(spark, sf_dir):
    """Hashed-feature linear quality classifier scoring (fastText-style
    corpus gate, operators/classifier.py): zero-Python zero-shuffle
    map-only plan; the oracle replays the polynomial token hash,
    bucket-weight mix, and hard-sigmoid score in DuckDB list lambdas."""
    from ..operators.classifier import quality_classifier

    d = _t(spark, sf_dir, "documents")
    return quality_classifier(d).select(
        "doc_id", "n_feats", "score", "keep"
    ).localCheckpoint(eager=False).orderBy("doc_id")


ORACLE_QUALITY_CLASSIFIER = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents),
h AS (
  SELECT doc_id, len(toks) AS n_feats,
         list_transform(toks, tok ->
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(tok) + 1),
                              i -> CAST(ascii(substr(tok, CAST(i AS INT), 1))
                                        AS BIGINT))),
             (hh, c) -> (hh * 31 + c) % 1000003)) AS hs
  FROM t),
s AS (
  SELECT doc_id, CAST(n_feats AS INT) AS n_feats,
         CASE WHEN n_feats > 0 THEN
           ROUND(LEAST(1.0, GREATEST(0.0,
             (4.0 * list_reduce(
                list_prepend(0.0,
                  list_transform(hs, hv ->
                    ((hv % 1024) * 2654435761) % 4096 / 2048.0 - 1.0)),
                (a, w) -> a + w) / n_feats) * 0.25 + 0.5)), 6)
         END AS score
  FROM h)
SELECT doc_id, n_feats, score,
       COALESCE(score >= 0.5, FALSE) AS keep
FROM s ORDER BY doc_id
"""


def q_interval_join(spark, sf_dir):
    """Point-in-interval range join (operators/interval.py): every
    45-minute maintenance window (every 97th event opens one, keyed by
    user_id % 20) left-joined to the events it contains via the
    bucketized equi-join — no nested-loop node — then summarized per
    window. The oracle is DuckDB's plain inequality join."""
    from ..operators.interval import interval_join

    e = _t(spark, sf_dir, "events")
    windows = e.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("window_id"),
        (F.col("user_id") % 20).alias("grp"),
        F.col("ts").alias("wstart"),
        (F.col("ts") + F.expr("INTERVAL 45 MINUTES")).alias("wend"),
    )
    points = e.select(
        F.col("event_id").alias("pid"),
        (F.col("user_id") % 20).alias("grp"),
        "ts", "value",
    )
    j = interval_join(
        points, windows, "ts", "wstart", "wend", by=["grp"],
        bucket_s=2700, how="inner",
    )
    return (
        j.groupBy("window_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 3).alias("sum_value"),
            F.min("pid").alias("first_pid"),
        )
        .orderBy("window_id")
    )


ORACLE_INTERVAL_JOIN = """
WITH w AS (
  SELECT event_id AS window_id, user_id % 20 AS grp,
         ts AS wstart, ts + INTERVAL 45 MINUTE AS wend
  FROM events WHERE event_id % 97 = 0),
p AS (SELECT event_id AS pid, user_id % 20 AS grp, ts, value FROM events)
SELECT w.window_id, COUNT(*) AS n_events,
       ROUND(SUM(p.value), 3) AS sum_value,
       MIN(p.pid) AS first_pid
FROM w JOIN p ON p.grp = w.grp AND p.ts >= w.wstart AND p.ts < w.wend
GROUP BY w.window_id
ORDER BY w.window_id
"""


def q_interval_overlap(spark, sf_dir):
    """Interval×interval overlap join with owner-bucket exactly-once
    dedup: two derived session-window sets over the events table; each
    overlapping pair is emitted once with its overlap duration."""
    from ..operators.interval import interval_overlap_join

    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_id") % 53 == 0).select(
        F.col("event_id").alias("aid"),
        F.col("ts").alias("astart"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("aend"),
    )
    b = e.filter(F.col("event_id") % 71 == 0).select(
        F.col("event_id").alias("bid"),
        F.col("ts").alias("bstart"),
        (F.col("ts") + F.expr("INTERVAL 90 MINUTES")).alias("bend"),
    )
    out = interval_overlap_join(
        a, b, "astart", "aend", "bstart", "bend", bucket_s=3600
    )
    return out.select("aid", "bid", "overlap_s").orderBy("aid", "bid")


ORACLE_INTERVAL_OVERLAP = """
WITH a AS (
  SELECT event_id AS aid, ts AS astart, ts + INTERVAL 2 HOUR AS aend
  FROM events WHERE event_id % 53 = 0),
b AS (
  SELECT event_id AS bid, ts AS bstart, ts + INTERVAL 90 MINUTE AS bend
  FROM events WHERE event_id % 71 = 0)
SELECT aid, bid,
       CAST(FLOOR(epoch(LEAST(aend, bend)))
            - FLOOR(epoch(GREATEST(astart, bstart))) AS BIGINT) AS overlap_s
FROM a JOIN b ON astart < bend AND bstart < aend
ORDER BY aid, bid
"""


_TABLE_EVOLUTION_TABLES: dict[tuple, str] = {}


def q_table_evolution(spark, sf_dir):
    """Schema + partition evolution end-to-end on the snapshot table:
    create partitioned by priority, rename a column, add a column,
    re-partition by a derived bucket, append under the new layout,
    Z-order-rewrite the whole table (migrating legacy files), then
    aggregate BOTH eras' rows through the mixed-resolution read path.
    The oracle recomputes the final content relationally straight from
    orders — verifying that no row was lost, duplicated, or mis-read
    across two layouts and three schema versions. Same build-time
    memoized-write semantics as q_merge_upsert (the timing measures
    the final read + aggregate)."""
    import atexit
    import shutil
    import tempfile

    from ..sources import SnapshotTable

    key = (spark.sparkContext.applicationId, sf_dir)
    path = _TABLE_EVOLUTION_TABLES.get(key)
    if path is None:
        root = tempfile.mkdtemp(prefix="table_evolution_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        path = root + "/t"
        orders = _t(spark, sf_dir, "orders")
        base = orders.filter(F.col("o_orderkey") <= 500).select(
            "o_orderkey", "o_orderpriority", "o_custkey"
        )
        t = SnapshotTable(spark, path)
        t.create(base, partition_by=["o_orderpriority"])
        t.rename_column("o_custkey", "cust")
        t.add_columns({"bucket": "int"})
        t.set_partitioning(["bucket"])
        extra = orders.filter(
            (F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 800)
        ).select(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_custkey").alias("cust"),
            (F.col("o_orderkey") % 4).cast("int").alias("bucket"),
        )
        t.append(extra)
        t.rewrite_sorted(zorder_by=("o_orderkey", "cust"),
                         target_bytes=1 << 20)
        _TABLE_EVOLUTION_TABLES[key] = path
    else:
        t = SnapshotTable(spark, path)
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum("cust").alias("sum_cust"),
            F.count("bucket").alias("n_bucketed"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_TABLE_EVOLUTION = """
WITH final AS (
  SELECT o_orderkey, o_orderpriority, o_custkey AS cust,
         CAST(NULL AS INTEGER) AS bucket
  FROM orders WHERE o_orderkey <= 500
  UNION ALL
  SELECT o_orderkey, o_orderpriority, o_custkey AS cust,
         CAST(o_orderkey % 4 AS INTEGER) AS bucket
  FROM orders WHERE o_orderkey > 500 AND o_orderkey <= 800
)
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(cust) AS BIGINT) AS sum_cust,
       COUNT(bucket) AS n_bucketed,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM final GROUP BY 1 ORDER BY 1
"""


ORACLE_MERGE_UPSERT = """
WITH target AS (
  SELECT o_orderkey, o_orderpriority, o_custkey
  FROM orders WHERE o_orderkey <= 600
), source AS (
  SELECT o_orderkey, o_orderpriority, o_custkey + 1000000 AS o_custkey
  FROM orders WHERE o_orderkey > 300 AND o_orderkey <= 900
), merged AS (
  SELECT * FROM source
  UNION ALL
  SELECT t.* FROM target t
  WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
), final AS (
  SELECT * FROM merged
  WHERE NOT (o_orderkey % 10 = 0
             AND o_orderpriority IN ('1-URGENT', '2-HIGH'))
)
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM final GROUP BY 1 ORDER BY 1
"""


def q_corpus_profile(spark, sf_dir):
    """Data-card corpus profile: per (source, lang) slice — doc/token/
    char totals, exact token-count percentiles, ok-quality share."""
    from ..operators.text import corpus_profile

    d = _t(spark, sf_dir, "documents")
    return corpus_profile(d).orderBy("source", "lang")


ORACLE_CORPUS_PROFILE = r"""
WITH q AS (
  SELECT source, lang, text,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\r\f\x0B]+')) END AS n_tokens,
         LENGTH(text) - LENGTH(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(
             text, '.', ''), ',', ''), '!', ''), '?', ''), ';', ''), ':', '')) AS n_punct
  FROM documents),
lab AS (
  SELECT source, lang, n_tokens, LENGTH(text) AS n_chars,
         CASE WHEN n_tokens < 5 THEN 'too_short'
              WHEN ROUND(n_punct / GREATEST(LENGTH(text), 1), 6) > 0.1 THEN 'too_punct'
              WHEN ROUND(LENGTH(REGEXP_REPLACE(TRIM(text), '[ \t\n\r\f\x0B]+', '', 'g'))
                         / GREATEST(n_tokens, 1), 6) > 12 THEN 'gibberish'
              ELSE 'ok' END AS quality
  FROM q)
SELECT source, lang,
       COUNT(*) AS n_docs,
       SUM(n_tokens)::BIGINT AS total_tokens,
       SUM(n_chars)::BIGINT AS total_chars,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY n_tokens), 6) AS p50_tokens,
       ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY n_tokens), 6) AS p90_tokens,
       ROUND(percentile_cont(0.99) WITHIN GROUP (ORDER BY n_tokens), 6) AS p99_tokens,
       ROUND(AVG(CASE WHEN quality = 'ok' THEN 1.0 ELSE 0.0 END), 6) AS ok_frac
FROM lab GROUP BY source, lang ORDER BY source, lang
"""


def q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality signals per document (duplicate
    lines, top-2-gram and duplicate-5-gram character fractions)."""
    from ..operators.text import with_repetition_signals

    d = _t(spark, sf_dir, "documents")
    # the sf parquet is one row-group -> one input split; real corpora
    # scan as many splits. Repartition stands in for that so the
    # per-row HOF compute parallelizes (results are partition-invariant)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    return (
        with_repetition_signals(d)
        .select(
            "doc_id",
            "dup_line_frac",
            "dup_line_char_frac",
            "top2gram_char_frac",
            "dup5gram_char_frac",
            "repetitive",
        )
        .orderBy("doc_id")
    )


# Mirrors with_repetition_signals exactly: same whitespace class, same
# struct-sort argmax tie-break (field-wise struct comparison is
# identical in DuckDB and Spark), thresholds on UNROUNDED values.
ORACLE_REPETITION = r"""
WITH base AS (
  SELECT doc_id, text,
    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                l -> l <> '') AS lines,
    list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'),
                t -> t <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, text, lines,
    CASE WHEN len(toks) >= 2
         THEN list_transform(generate_series(1, len(toks) - 1),
                             i -> array_to_string(toks[i:i+1], ' '))
         ELSE [] END AS grams2,
    CASE WHEN len(toks) >= 5
         THEN list_transform(generate_series(1, len(toks) - 4),
                             i -> array_to_string(toks[i:i+4], ' '))
         ELSE [] END AS grams5
  FROM base
), sig AS (
  SELECT doc_id,
    CASE WHEN len(lines) <= 0 THEN 0.0
         ELSE (len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines)
    END AS dlf,
    CASE WHEN COALESCE(list_sum(list_transform(lines, l -> length(l))), 0) <= 0
         THEN 0.0
         ELSE COALESCE(list_sum(list_transform(list_distinct(lines),
                d -> (len(list_filter(lines, x -> x = d)) - 1) * length(d))), 0)::DOUBLE
              / list_sum(list_transform(lines, l -> length(l)))
    END AS dlcf,
    CASE WHEN len(grams2) <= 0 THEN 0.0
         ELSE (
           SELECT (-b.negcnt) * length(b.gram)
           FROM (SELECT list_sort(list_transform(list_distinct(g.grams2),
                   d -> {'negcnt': -len(list_filter(g.grams2, x -> x = d)),
                         'gram': d}))[1] AS b)
         )::DOUBLE / GREATEST(length(text), 1)
    END AS t2f,
    COALESCE(list_sum(list_transform(list_distinct(grams5),
        d -> CASE WHEN len(list_filter(grams5, x -> x = d)) > 1
                  THEN len(list_filter(grams5, x -> x = d)) * length(d)
                  ELSE 0 END)), 0)::DOUBLE
      / GREATEST(length(text), 1) AS d5f
  FROM g
)
SELECT doc_id,
       ROUND(dlf, 6) AS dup_line_frac,
       ROUND(dlcf, 6) AS dup_line_char_frac,
       ROUND(t2f, 6) AS top2gram_char_frac,
       ROUND(d5f, 6) AS dup5gram_char_frac,
       (dlf > 0.30 OR dlcf > 0.20 OR t2f > 0.20 OR d5f > 0.15) AS repetitive
FROM sig ORDER BY doc_id
"""


def q_dedup_passages(spark, sf_dir):
    """ExactSubstr-style duplicate-passage removal (token-window
    approximation): every 6-token window occurring >= 2 times anywhere
    in the corpus marks its positions; documents are reassembled from
    surviving tokens."""
    from ..operators.text import remove_duplicate_passages

    d = _t(spark, sf_dir, "documents")
    # the sf parquet is one row-group -> one input split; real corpora
    # scan as many splits. Repartition stands in for that so the
    # per-row HOF compute parallelizes (results are partition-invariant)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    return (
        remove_duplicate_passages(d, n=6, min_count=2)
        .select("doc_id", "n_tokens", "n_removed", "text_clean")
        .orderBy("doc_id")
    )


# Mirrors remove_duplicate_passages: windows over LOWERCASED tokens
# (word_ngram_list lowercases; positions align because lowercasing
# never changes whitespace), reassembly from original-case tokens.
ORACLE_DEDUP_PASSAGES = r"""
WITH d AS (
  SELECT doc_id,
    list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'),
                t -> t <> '') AS toks,
    list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'),
                t -> t <> '') AS toksl
  FROM documents
), w AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toksl) - 5),
                i -> {'pos': i - 1,
                      'gram': array_to_string(toksl[i:i+5], ' ')}),
                recursive := true)
  FROM d WHERE len(toksl) >= 6
), dup AS (
  SELECT gram FROM w GROUP BY gram HAVING COUNT(*) >= 2
), starts AS (
  SELECT w.doc_id, list(DISTINCT w.pos) AS s
  FROM w JOIN dup USING (gram) GROUP BY w.doc_id
), cov AS (
  SELECT doc_id, pos2 FROM (
    SELECT doc_id,
           unnest(flatten(list_transform(s,
                  st -> generate_series(st, st + 5)))) AS pos2
    FROM starts
  ) GROUP BY doc_id, pos2
), tok AS (
  SELECT doc_id,
         unnest(toks) AS tok,
         unnest(generate_series(1, len(toks))) - 1 AS ti
  FROM d
), kept AS (
  SELECT t.doc_id, t.tok, t.ti
  FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos2 = t.ti
  WHERE c.pos2 IS NULL
)
SELECT d.doc_id,
       len(d.toks)::BIGINT AS n_tokens,
       (len(d.toks) - COALESCE(k.cnt, 0))::BIGINT AS n_removed,
       COALESCE(k.txt, '') AS text_clean
FROM d
LEFT JOIN (SELECT doc_id, COUNT(*) AS cnt,
                  string_agg(tok, ' ' ORDER BY ti) AS txt
           FROM kept GROUP BY doc_id) k USING (doc_id)
ORDER BY d.doc_id
"""


def q_decontaminate(spark, sf_dir):
    """Test-set decontamination: eval split = doc_id % 17 == 0, train =
    the rest; a train doc is contaminated when it shares >= 1 distinct
    word 4-gram with any eval doc (eval gram vocabulary broadcast)."""
    from ..operators.decontam import decontaminate

    d = _t(spark, sf_dir, "documents")
    # the sf parquet is one row-group -> one input split; real corpora
    # scan as many splits. Repartition stands in for that so the
    # per-row HOF compute parallelizes (results are partition-invariant)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    ev = d.filter(F.col("doc_id") % 17 == 0)
    tr = d.filter(F.col("doc_id") % 17 != 0)
    return (
        decontaminate(tr, ev, text_col="text", id_col="doc_id", n=4, min_hits=1)
        .select("doc_id", "hits", "contaminated")
        .orderBy("doc_id")
    )


ORACLE_DECONTAMINATE = r"""
WITH d AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'),
                t -> t <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, len(toks) - 3),
           i -> array_to_string(toks[i:i+3], ' ')))) AS _g
  FROM d WHERE len(toks) >= 4
), ev AS (
  SELECT DISTINCT _g FROM g WHERE doc_id % 17 = 0
), h AS (
  SELECT g.doc_id, COUNT(*) AS hits
  FROM g JOIN ev USING (_g)
  WHERE g.doc_id % 17 <> 0
  GROUP BY g.doc_id
)
SELECT t.doc_id,
       COALESCE(h.hits, 0) AS hits,
       COALESCE(h.hits, 0) >= 1 AS contaminated
FROM documents t LEFT JOIN h ON t.doc_id = h.doc_id
WHERE t.doc_id % 17 <> 0
ORDER BY t.doc_id
"""


# Deterministic messy-URL synthesis shared by the web-curation queries:
# every canonicalization branch is exercised (uppercase scheme/host,
# www., default and non-default ports, tracking params, fragments,
# trailing slash, co.uk/com.au second-level suffixes). The DuckDB
# oracles rebuild the identical strings with CASE arms.
def _synth_url(k: F.Column) -> F.Column:
    host = F.element_at(
        F.array(
            F.lit("Example.COM"),
            F.lit("news.site.co.uk"),
            F.lit("blog.example.org"),
            F.lit("a.b.shop.com.au"),
            F.lit("media.dupe.net"),
        ),
        (k % 5 + 1).cast("int"),
    )
    scheme = F.when(k % 4 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    www = F.when(k % 7 == 0, F.lit("www.")).otherwise(F.lit(""))
    port = (
        F.when((k % 11 == 0) & (k % 4 == 0), F.lit(":80"))
        .when((k % 11 == 0) & (k % 4 != 0), F.lit(":443"))
        .when(k % 11 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = F.concat(F.lit("/P/"), (k % 37).cast("string"))
    trailing = F.when(k % 5 == 0, F.lit("/")).otherwise(F.lit(""))
    query = (
        F.when(k % 6 == 0, F.concat(F.lit("?utm_source=feed&page="), (k % 13).cast("string")))
        .when(k % 6 == 1, F.concat(F.lit("?page="), (k % 13).cast("string"), F.lit("&gclid=z")))
        .when(k % 6 == 2, F.lit("?ref=home"))
        .when(k % 6 == 3, F.lit("?b=2&a=1"))
        .otherwise(F.lit(""))
    )
    frag = F.when(k % 9 == 0, F.lit("#Sec-2")).otherwise(F.lit(""))
    return F.concat(
        scheme, F.lit("://"), www, host, port, path, trailing, query, frag
    )


# The same synthesis as a DuckDB SQL fragment (k = doc_id).
_SYNTH_URL_SQL = """
    (CASE WHEN doc_id % 4 = 0 THEN 'HTTP' ELSE 'https' END)
    || '://'
    || (CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END)
    || (CASE CAST(doc_id % 5 AS INTEGER)
          WHEN 0 THEN 'Example.COM' WHEN 1 THEN 'news.site.co.uk'
          WHEN 2 THEN 'blog.example.org' WHEN 3 THEN 'a.b.shop.com.au'
          ELSE 'media.dupe.net' END)
    || (CASE WHEN doc_id % 11 = 0 AND doc_id % 4 = 0 THEN ':80'
             WHEN doc_id % 11 = 0 THEN ':443'
             WHEN doc_id % 11 = 1 THEN ':8080' ELSE '' END)
    || '/P/' || CAST(doc_id % 37 AS VARCHAR)
    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
    || (CASE CAST(doc_id % 6 AS INTEGER)
          WHEN 0 THEN '?utm_source=feed&page=' || CAST(doc_id % 13 AS VARCHAR)
          WHEN 1 THEN '?page=' || CAST(doc_id % 13 AS VARCHAR) || '&gclid=z'
          WHEN 2 THEN '?ref=home' WHEN 3 THEN '?b=2&a=1' ELSE '' END)
    || (CASE WHEN doc_id % 9 = 0 THEN '#Sec-2' ELSE '' END)
"""

# DuckDB replica of operators/web.py canonical_url + registered-domain
# extraction over a column named `url` (RE2 patterns, \\1 group refs).
_CANON_SQL = r"""
  canon0 AS (
    SELECT *, regexp_replace(url, '#.*', '') AS u0 FROM urls),
  canon1 AS (
    SELECT *, lower(regexp_extract(u0, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0))
              || substring(u0, length(regexp_extract(u0, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)) + 1)
              AS u1 FROM canon0),
  canon2 AS (
    SELECT *, regexp_replace(
                regexp_replace(
                  regexp_replace(u1, '^(http://[^/:?#]+):80($|[/?#])', '\1\2'),
                  '^(https://[^/:?#]+):443($|[/?#])', '\1\2'),
                '^(https?://)www\.', '\1') AS u2 FROM canon1),
  canon AS (
    SELECT *,
      regexp_replace(split_part(u2, '?', 1), '/$', '')
      || (CASE WHEN contains(u2, '?')
                AND len(list_filter(string_split(substring(u2, instr(u2, '?') + 1), '&'),
                        p -> NOT regexp_matches(p, '^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|mc_cid|mc_eid|ref)='))) > 0
           THEN '?' || array_to_string(
                  list_filter(string_split(substring(u2, instr(u2, '?') + 1), '&'),
                    p -> NOT regexp_matches(p, '^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|mc_cid|mc_eid|ref)=')), '&')
           ELSE '' END) AS canon_url
    FROM canon2),
  parts AS (
    SELECT *,
      regexp_extract(canon_url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host
    FROM canon),
  domains AS (
    SELECT *,
      CASE WHEN len(string_split(host, '.')) >= 3
                AND array_to_string(string_split(host, '.')[-2:], '.') IN
                    ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au',
                     'org.au','gov.au','co.jp','or.jp','ne.jp','com.br',
                     'com.cn','co.in','co.nz','co.za')
           THEN array_to_string(string_split(host, '.')[-3:], '.')
           ELSE array_to_string(
                  string_split(host, '.')[-least(len(string_split(host, '.')), 2):], '.')
      END AS registered_domain
    FROM parts)
"""


def q_temperature_mix(spark, sf_dir):
    """Temperature-based corpus mixing (operators/sampling.py:
    temperature_mix — the mT5/XLM-R n^(1/tau) scheme): per-source
    shares at tau=0.5 re-mix the documents table, upsampling the
    majority source into repeat epochs and downsampling the rest
    through the oracle-replicable u01 hash. tau=0.5 keeps every float
    step exactly representable (n^2 and their sums are exact integers
    in doubles; both engines then divide the identical operands), so
    the DuckDB replica is bit-identical, not approximately equal."""
    from ..operators.sampling import temperature_mix

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return temperature_mix(d, "doc_id", "source", tau=0.5).orderBy(
        "doc_id", "epoch"
    )


def _temperature_mix_sql() -> str:
    from ..operators.sampling import u01_sql

    u = u01_sql("j.doc_id")
    return f"""
WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
s AS (
  SELECT source, n,
         pow(CAST(n AS DOUBLE), 2.0)
           / SUM(pow(CAST(n AS DOUBLE), 2.0)) OVER () AS share,
         CAST(SUM(n) OVER () AS DOUBLE) AS total
  FROM c),
r AS (SELECT source, (total * share) / CAST(n AS DOUBLE) AS rate FROM s),
j AS (SELECT d.doc_id, d.source, r.rate FROM documents d
      JOIN r ON d.source IS NOT DISTINCT FROM r.source),
fan AS (
  SELECT doc_id, source,
         unnest(generate_series(
           1,
           CAST(floor(rate) + (CASE WHEN {u} < rate - floor(rate)
                               THEN 1 ELSE 0 END) AS INTEGER))) AS gs
  FROM j)
SELECT doc_id, source, CAST(gs - 1 AS INTEGER) AS epoch
FROM fan ORDER BY doc_id, epoch
"""


def q_url_domain_caps(spark, sf_dir):
    """C4/RefinedWeb-style web-corpus front half (operators/web.py):
    canonicalize deterministic messy URLs, extract the registered
    domain (two-level-suffix aware), then keep at most 5 docs per
    domain, longest text first — via the skew-safe salted two-stage
    cap, which is row-identical to the oracle's single ROW_NUMBER
    window because the ordering (n_chars DESC, doc_id ASC) is total."""
    from ..operators.web import cap_per_domain, with_url_parts

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "n_chars", _synth_url(F.col("doc_id")).alias("url"))
    )
    parts = with_url_parts(d)
    kept = cap_per_domain(parts, 5, order_col="n_chars")
    return kept.select(
        "doc_id", "canon_url", "host", "registered_domain"
    ).orderBy("doc_id")


ORACLE_URL_DOMAIN_CAPS = (
    "WITH urls AS (SELECT doc_id, n_chars, "
    + _SYNTH_URL_SQL
    + " AS url FROM documents),\n"
    + _CANON_SQL
    + """,
ranked AS (
  SELECT doc_id, canon_url, host, registered_domain,
         ROW_NUMBER() OVER (PARTITION BY registered_domain
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM domains)
SELECT doc_id, canon_url, host, registered_domain
FROM ranked WHERE rn <= 5 ORDER BY doc_id
"""
)


def q_bloom_screen(spark, sf_dir):
    """Bloom-filter corpus screening (operators/bloom.py): docs with
    doc_id % 3 = 0 form the seen corpus, the rest are incoming; keys
    are synthesized URLs with deliberate collisions (path = doc_id %
    499) so a meaningful share of incoming keys is genuinely seen. The
    output is EXACT — the filter has no false negatives and every
    bloom-positive is confirmed against the real seen table — so the
    oracle is a plain NOT IN anti-join, independent of the xxhash64
    bit layout."""
    from ..operators.bloom import bloom_screen

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://ex"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".org/p/"),
            (F.col("doc_id") % 499).cast("string"),
        ).alias("url"),
    )
    seen = d.filter(F.col("doc_id") % 3 == 0).select("url")
    incoming = d.filter(F.col("doc_id") % 3 != 0)
    kept = bloom_screen(incoming, seen, "url", num_bits=1 << 16, num_hashes=5)
    return kept.select("doc_id", "url").orderBy("doc_id")


ORACLE_BLOOM_SCREEN = """
WITH d AS (
  SELECT doc_id,
         'https://ex' || CAST(doc_id % 7 AS VARCHAR) || '.org/p/'
           || CAST(doc_id % 499 AS VARCHAR) AS url
  FROM documents),
seen AS (SELECT url FROM d WHERE doc_id % 3 = 0),
inc AS (SELECT * FROM d WHERE doc_id % 3 <> 0)
SELECT doc_id, url FROM inc
WHERE url NOT IN (SELECT url FROM seen)
ORDER BY doc_id
"""


def q_ngram_lm_ppl(spark, sf_dir):
    """CCNet-style n-gram LM quality scoring (operators/lm.py): a
    Laplace bigram LM is trained on the doc_id % 5 == 0 slice and every
    remaining document is scored by log2-perplexity. Per-gram log terms
    are exact int64 micro-bits, so the per-doc sum is partition-
    invariant and the DuckDB oracle matches bit-for-bit at 6 dp."""
    from ..operators.lm import ngram_lm_logppl

    d = _t(spark, sf_dir, "documents")
    # single-row-group parquet -> one split; stand in for a many-split
    # corpus scan (results are partition-invariant by construction)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    lm = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    return (
        ngram_lm_logppl(corpus, lm, text_col="text", id_col="doc_id", n=2)
        .select("doc_id", "n_grams", "logppl")
        .orderBy("doc_id")
    )


ORACLE_NGRAM_LM_PPL = r"""
WITH d AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'),
                t -> t <> '') AS toks
  FROM documents
), lm AS (
  SELECT toks FROM d WHERE doc_id % 5 = 0
), voc AS (
  SELECT count(DISTINCT t) AS v FROM (SELECT unnest(toks) AS t FROM lm)
), lmpos AS (
  SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
  FROM lm WHERE len(toks) >= 2
), gcnt AS (
  SELECT array_to_string(toks[i:i+1], ' ') AS gram, count(*) AS c_gram
  FROM lmpos GROUP BY 1
), ccnt AS (
  SELECT toks[i] AS ctx, count(*) AS c_ctx FROM lmpos GROUP BY 1
), docpos AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
  FROM d WHERE doc_id % 5 <> 0 AND len(toks) >= 2
), terms AS (
  SELECT p.doc_id,
         CAST(round((log2(COALESCE(g.c_gram, 0) + 1)
                   - log2(COALESCE(c.c_ctx, 0) + voc.v)) * 1e9) AS BIGINT)
           AS tm
  FROM docpos p
  LEFT JOIN gcnt g ON g.gram = array_to_string(p.toks[p.i:p.i+1], ' ')
  LEFT JOIN ccnt c ON c.ctx = p.toks[p.i]
  CROSS JOIN voc
), agg AS (
  SELECT doc_id, count(*) AS n_grams, sum(tm) AS sm FROM terms GROUP BY 1
)
SELECT t.doc_id,
       COALESCE(a.n_grams, 0)::BIGINT AS n_grams,
       CASE WHEN a.n_grams > 0
            THEN round(-(a.sm / 1e9) / a.n_grams, 6) END AS logppl
FROM documents t LEFT JOIN agg a USING (doc_id)
WHERE t.doc_id % 5 <> 0
ORDER BY t.doc_id
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance resampling (operators/dsir.py): hashed
    unigram+bigram features (md5-prefix buckets, B = 4096), target
    slice = doc_id % 7 == 0, raw corpus = the rest; top 25% by
    importance weight marked selected (exact global rank with doc_id
    tie-break). Integer micro-bit sums keep the weights bit-identical
    to the oracle."""
    from ..operators.dsir import dsir_weights, select_target_like

    d = _t(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    target = d.filter(F.col("doc_id") % 7 == 0)
    raw = d.filter(F.col("doc_id") % 7 != 0)
    w = dsir_weights(raw, target, text_col="text", id_col="doc_id", hex_chars=3)
    return (
        select_target_like(w, keep_frac=0.25, id_col="doc_id")
        .select("doc_id", "n_feats", "logw", "selected")
        .orderBy("doc_id")
    )


ORACLE_DSIR_WEIGHTS = r"""
WITH d AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'),
                t -> t <> '') AS toks
  FROM documents
), feats AS (
  SELECT doc_id,
         unnest(list_concat(toks,
           list_transform(generate_series(1, len(toks) - 1),
                          i -> array_to_string(toks[i:i+1], ' ')))) AS f
  FROM d
), b AS (
  SELECT doc_id, substr(md5(f), 1, 3) AS bucket FROM feats
), tgt AS (
  SELECT bucket FROM b WHERE doc_id % 7 = 0
), raw AS (
  SELECT doc_id, bucket FROM b WHERE doc_id % 7 <> 0
), ct AS (SELECT bucket, count(*) AS ct FROM tgt GROUP BY 1),
cr AS (SELECT bucket, count(*) AS cr FROM raw GROUP BY 1),
nt AS (SELECT count(*) AS nt FROM tgt),
nr AS (SELECT count(*) AS nr FROM raw),
ratios AS (
  SELECT bucket,
         CAST(round((log2(COALESCE(ct, 0) + 1) - log2(nt + 4096)
                   - log2(COALESCE(cr, 0) + 1) + log2(nr + 4096)) * 1e9)
              AS BIGINT) AS lr
  FROM ct FULL JOIN cr USING (bucket) CROSS JOIN nt CROSS JOIN nr
), perdoc AS (
  SELECT r.doc_id, count(*) AS n_feats, sum(t.lr) AS sm
  FROM raw r JOIN ratios t USING (bucket) GROUP BY 1
), w AS (
  SELECT t.doc_id,
         COALESCE(p.n_feats, 0)::BIGINT AS n_feats,
         CASE WHEN p.n_feats > 0 THEN round(p.sm / 1e9, 6) END AS logw
  FROM documents t LEFT JOIN perdoc p USING (doc_id)
  WHERE t.doc_id % 7 <> 0
), r AS (
  SELECT *,
         row_number() OVER (ORDER BY logw DESC NULLS LAST, doc_id) AS rk,
         count(*) OVER () AS n
  FROM w
)
SELECT doc_id, n_feats, logw,
       (rk <= ceil(n * 0.25) AND logw IS NOT NULL) AS selected
FROM r ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Registry ordering = driver-snapshot rotation. The driver's
# CORRECTNESS_r*.json caps at the FIRST 50 keys of __spark_entry__.
# queries() (which follows QUERY_ORDER below), while the registry holds
# 80 (81 with the entry-module-registered shorelines_annual); every
# query is oracle-verified in pytest every round
# (tests/test_driver_contract.py), but the driver artifact only carries
# the head of this list. Rotation plan:
#   r4 head (this ordering): block A = the 12 queries that had never
#   appeared in a driver snapshot through r3, block B = new-in-r4,
#   block C = hash-green in r2 but rotated out of the r3 snapshot,
#   block D = the scale-critical r3-green set kept for round-over-round
#   bench/plan diffing.
#   r5: swap the 30 keys outside r4's head back into the head in place
#   of blocks A+C (which will then have fresh r4 driver rows). The
#   exact r5 head list = block E plus the block-D tail pushed out by
#   block B's growth: spatial_pip_join, knn_anchor_join, overlay_clip,
#   keep_best_images, image_quality,
#   corpus_integrity, multimodal_decode_stats, dedup_exact,
#   minhash_pairs, simhash_pairs, phash_neardup,
#   embedding_neardup, ann_topk, lsh_ann_topk,
#   ivf_ann_topk, charset_jaccard, ngram_jaccard,
#   dedup_passages, decontaminate, tfidf_topk, pricing_summary,
#   mode_median, error_stats, regr_slope, join_star, semi_anti_join,
#   asof_nearest, window_running, topk_per_group, set_ops,
#   scalar_funcs, tz_convert, certainty_cascade, conditional_coalesce,
#   top1_crs_vote, salted_agg, text_quality, repetition_signals,
#   corpus_profile, langid, token_stats, token_counts, doc_fingerprint,
#   streaming_dedup — plus any new-in-r5 queries; the remaining ~20
#   slots keep the scale-critical block D head for round-over-round
#   bench/plan diffing.
# ---------------------------------------------------------------------------
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- block A: first-ever driver snapshot rows (VERDICT r3 item 1)
    "zonal_stats": q_zonal_stats,
    "transect_rates": q_transect_rates,
    "coastal_transects": q_coastal_transects,
    "cell_rollup": q_cell_rollup,
    "group_percentiles": q_group_percentiles,
    "asof_join": q_asof_join,
    "sessionize": q_sessionize,
    "dedup_lines": q_dedup_lines,
    "pack_sequences": q_pack_sequences,
    "ar_bucket_shards": q_ar_bucket_shards,
    "audio_features": q_audio_features,
    "merge_upsert": q_merge_upsert,
    # --- block B: new in r4 (growing this block pushes the tail of
    # block D — dedup_passages, decontaminate, tfidf_topk, all
    # hash-green in r3 — past the 50-key snapshot head; they stay
    # pytest-oracle-verified)
    "streaming_dedup_parity": q_streaming_dedup_parity,
    "semdedup": q_semdedup,
    "dms2dd": q_dms2dd,
    "crosscorpus_dedup": q_crosscorpus_dedup,
    "url_domain_caps": q_url_domain_caps,
    "bloom_screen": q_bloom_screen,
    "temperature_mix": q_temperature_mix,
    "ngram_lm_ppl": q_ngram_lm_ppl,
    "dsir_weights": q_dsir_weights,
    "jsonl_ingest": q_jsonl_ingest,
    "interval_join": q_interval_join,
    "interval_overlap": q_interval_overlap,
    "quality_classifier": q_quality_classifier,
    "caption_alignment": q_caption_alignment,
    "hard_negatives": q_hard_negatives,
    "table_evolution": q_table_evolution,
    "chunk_documents": q_chunk_documents,
    "hll_distinct": q_hll_distinct,
    "heavy_hitters": q_heavy_hitters,
    "pagerank": q_pagerank,
    "ivfpq_ann_topk": q_ivfpq_ann_topk,
    "triangle_counts": q_triangle_counts,
    "streaming_hll_parity": q_streaming_hll_parity,
    "tile_pyramid": q_tile_pyramid,
    "weighted_sample": q_weighted_sample,
    "cooccurrence_pmi": q_cooccurrence_pmi,
    "resample_interpolate": q_resample_interpolate,
    # --- block C: r2 hash-green, rotated out of the r3 snapshot
    # ("shorelines_annual" also belongs here; it is registered by
    # __spark_entry__.queries() and placed via QUERY_ORDER below)
    "dissolve": q_dissolve,
    "rates_regression": q_rates_regression,
    "crs_project": q_crs_project,
    "dedup_clusters": q_dedup_clusters,
    "contour_certainty": q_contour_certainty,
    "global_components": q_global_components,
    "pii_scrub": q_pii_scrub,
    "stratified_sample": q_stratified_sample,
    "train_eval_split": q_train_eval_split,
    "shuffle_shards": q_shuffle_shards,
    # --- block D: r3 hash-green scale-critical set (stays in the head)
    "shorelines_in_aoi": q_shorelines_in_aoi,
    "masked_shorelines": q_masked_shorelines,
    "multilevel_shorelines": q_multilevel_shorelines,
    "rates_of_change": q_rates_of_change,
    "hotspots": q_hotspots,
    "validation_stats": q_validation_stats,
    "spatial_pip_join": q_spatial_pip_join,
    "knn_anchor_join": q_knn_anchor_join,
    "overlay_clip": q_overlay_clip,
    "keep_best_images": q_keep_best_images,
    "image_quality": q_image_quality,
    "corpus_integrity": q_corpus_integrity,
    "multimodal_decode_stats": q_multimodal_decode_stats,
    "dedup_exact": q_dedup_exact,
    "minhash_pairs": q_minhash_pairs,
    "simhash_pairs": q_simhash_pairs,
    "phash_neardup": q_phash_neardup,
    "embedding_neardup": q_embedding_neardup,
    "ann_topk": q_ann_topk,
    "lsh_ann_topk": q_lsh_ann_topk,
    "ivf_ann_topk": q_ivf_ann_topk,
    "charset_jaccard": q_charset_jaccard,
    "ngram_jaccard": q_ngram_jaccard,
    "dedup_passages": q_dedup_passages,
    "decontaminate": q_decontaminate,
    "tfidf_topk": q_tfidf_topk,
    # --- block E: r3 hash-green, rotated out of the r4 snapshot
    # (r5 swaps these back into the head)
    "pricing_summary": q_pricing_summary,
    "mode_median": q_mode_median,
    "error_stats": q_error_stats,
    "regr_slope": q_regr_slope,
    "join_star": q_join_star,
    "semi_anti_join": q_semi_anti_join,
    "asof_nearest": q_asof_nearest_year,
    "window_running": q_window_running,
    "topk_per_group": q_topk_per_group,
    "set_ops": q_set_ops,
    "scalar_funcs": q_scalar_funcs,
    "tz_convert": q_tz_convert,
    "certainty_cascade": q_certainty_cascade,
    "conditional_coalesce": q_conditional_coalesce,
    "top1_crs_vote": q_top1_crs_vote,
    "salted_agg": q_salted_agg,
    "text_quality": q_text_quality,
    "repetition_signals": q_repetition_signals,
    "corpus_profile": q_corpus_profile,
    "langid": q_langid,
    "token_stats": q_token_stats,
    "token_counts": q_token_counts,
    "doc_fingerprint": q_doc_fingerprint,
    "streaming_dedup": q_streaming_dedup,
}

# Full key order for __spark_entry__.queries(), including the
# entry-module-registered "shorelines_annual" (end of block C).
# r5 rotation (VERDICT r4 item 2): the r4 snapshot head was exactly
# blocks A+B+C+shorelines_annual (keys 1..50), leaving blocks D+E (the
# other 50) with r1–r3 rows only — so the r5 head is the clean half
# swap: D+E first (all 50 get fresh driver rows, max staleness one
# round across r04 ∪ r05), then A+B+C+shorelines_annual (fresh in
# r04). New-in-r5 queries, if any, must displace tail-of-E keys into
# position 51+ and be noted here.
_BLOCK_C_END = list(QUERIES).index("shuffle_shards") + 1
_D_START = list(QUERIES).index("shorelines_in_aoi")
QUERY_ORDER: list[str] = (
    list(QUERIES)[_D_START:]
    + list(QUERIES)[:_BLOCK_C_END]
    + ["shorelines_annual"]
    + list(QUERIES)[_BLOCK_C_END:_D_START]
)

ORACLES: dict[str, str] = {
    "pricing_summary": ORACLE_PRICING,
    "mode_median": ORACLE_MODE_MEDIAN,
    "error_stats": ORACLE_ERROR_STATS,
    "regr_slope": ORACLE_REGR,
    "join_star": ORACLE_JOIN_STAR,
    "semi_anti_join": ORACLE_SEMI_ANTI,
    "asof_nearest": ORACLE_ASOF,
    "window_running": ORACLE_WINDOW_RUNNING,
    "topk_per_group": ORACLE_TOPK_PER_GROUP,
    "set_ops": ORACLE_SET_OPS,
    "scalar_funcs": ORACLE_SCALAR_FUNCS,
    "tz_convert": ORACLE_TZ_CONVERT,
    "certainty_cascade": ORACLE_CERTAINTY,
    "conditional_coalesce": ORACLE_COALESCE,
    "top1_crs_vote": ORACLE_TOP1_VOTE,
    "salted_agg": ORACLE_SALTED_AGG,
    "spatial_pip_join": ORACLE_SPATIAL_PIP,
    "knn_anchor_join": ORACLE_KNN_ANCHOR,
    "overlay_clip": ORACLE_OVERLAY_CLIP,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "charset_jaccard": ORACLE_CHARSET_JACCARD,
    "ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "text_quality": ORACLE_TEXT_QUALITY,
    "repetition_signals": ORACLE_REPETITION,
    "decontaminate": ORACLE_DECONTAMINATE,
    "dedup_passages": ORACLE_DEDUP_PASSAGES,
    "corpus_profile": ORACLE_CORPUS_PROFILE,
    "langid": _langid_sql(),
    "token_stats": ORACLE_TOKEN_STATS,
    "tfidf_topk": ORACLE_TFIDF_TOPK,
    "token_counts": ORACLE_TOKEN_COUNTS,
    "ann_topk": ORACLE_ANN_TOPK,
    "embedding_neardup": ORACLE_EMB_NEARDUP,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "minhash_pairs": _minhash_sql(),
    "simhash_pairs": _simhash_sql(),
    "dissolve": ORACLE_DISSOLVE,
    "rates_regression": ORACLE_RATES_REGRESSION,
    "crs_project": ORACLE_CRS_PROJECT,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "ar_bucket_shards": _ar_shards_oracle(),
    "shuffle_shards": _shards_oracle(),
    "stratified_sample": _sampling_oracle(),
    "pack_sequences": _pack_sequences_oracle(),
    "train_eval_split": _split_oracle(),
    "pii_scrub": ORACLE_PII_SCRUB,
    "dedup_lines": ORACLE_DEDUP_LINES,
    "asof_join": ORACLE_ASOF_JOIN,
    "sessionize": ORACLE_SESSIONIZE,
    "streaming_dedup_parity": ORACLE_STREAMING_DEDUP_PARITY,
    "dms2dd": ORACLE_DMS2DD,
    "crosscorpus_dedup": _crosscorpus_sql(),
    "url_domain_caps": ORACLE_URL_DOMAIN_CAPS,
    "bloom_screen": ORACLE_BLOOM_SCREEN,
    "temperature_mix": _temperature_mix_sql(),
    "ngram_lm_ppl": ORACLE_NGRAM_LM_PPL,
    "dsir_weights": ORACLE_DSIR_WEIGHTS,
    "jsonl_ingest": ORACLE_JSONL_INGEST,
    "interval_join": ORACLE_INTERVAL_JOIN,
    "interval_overlap": ORACLE_INTERVAL_OVERLAP,
    "quality_classifier": ORACLE_QUALITY_CLASSIFIER,
    "table_evolution": ORACLE_TABLE_EVOLUTION,
    "chunk_documents": ORACLE_CHUNK_DOCUMENTS,
    "hll_distinct": _hll_oracle(),
    "heavy_hitters": _cms_oracle(),
    "pagerank": _pagerank_oracle(),
    # ivfpq_ann_topk: registered lazily in __spark_entry__.oracle_sql()
    # (reads the testdata parquet + runs two k-means fits — an eager
    # call here would break the whole module import on a machine
    # without the testdata dir, and bill every importer for the fit)
    "triangle_counts": _triangles_oracle(),
    "streaming_hll_parity": _hll_stream_oracle(),
    "weighted_sample": _weighted_sample_oracle(),
    "cooccurrence_pmi": _pmi_oracle(),
    "resample_interpolate": _resample_oracle(),
    "cell_rollup": ORACLE_CELL_ROLLUP,
    "group_percentiles": ORACLE_GROUP_PERCENTILES,
    "merge_upsert": ORACLE_MERGE_UPSERT,
    # lsh_ann_topk / ivf_ann_topk (data-dependent centroids) /
    # multimodal_decode_stats (image decode): no SQL analog ->
    # rows-only driver check
}
