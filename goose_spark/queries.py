"""Part-B relational conformance probes (SURVEY.md §2.6).

Each probe is a (spark, sf_dir) → DataFrame callable plus (where
SQL-expressible) a DuckDB oracle string over the driver's pre-registered
views. Naming contract: every computed column is aliased IDENTICALLY in
the Spark plan and the oracle SQL (the driver's compare sorts columns by
name before hashing values).

Determinism rules used throughout:
* money/double aggregates rounded (2–6 dp) on BOTH sides;
* timestamps surfaced as DATE on both sides (timezone-proof);
* every top-k / window has a total-order tie-break;
* EXTRACT/year results cast to INT on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- B1/B2 ----
def q_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: parquet scan with pushed filter + 4-column pruning. The explain
    plan must show PushedFilters on l_shipdate and a 4-column ReadSchema."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01"))
        .select(
            "l_orderkey", "l_partkey", "l_quantity",
            F.col("l_shipdate").cast("date").alias("ship_date"),
        )
    )


ORACLE_SCAN_FILTER_PROJECT = """
SELECT l_orderkey, l_partkey, l_quantity, CAST(l_shipdate AS DATE) AS ship_date
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
"""


def q_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: conjunctive predicates over orders."""
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderstatus") == "O")
            & (F.col("o_totalprice") > 150000.0)
            & (F.col("o_orderdate") >= "1996-01-01")
        )
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


ORACLE_PREDICATES = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS totalprice
FROM orders
WHERE o_orderstatus = 'O' AND o_totalprice > 150000.0
  AND o_orderdate >= TIMESTAMP '1996-01-01'
"""


def q_project_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: derived columns (expression projection)."""
    li = load(spark, sf_dir, "lineitem")
    # NO rounding on the per-row product: x*(1-y) is the same IEEE double in
    # every engine (bit-identical), while ROUND-to-2dp diverges at halfway
    # points (Spark HALF_UP on shortest decimal repr vs binary rounding).
    return li.select(
        "l_orderkey", "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month"),
    )


ORACLE_PROJECT_DERIVED = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue,
       CAST(DATE_TRUNC('month', l_shipdate) AS DATE) AS ship_month
FROM lineitem
"""


# ---------------------------------------------------------------- joins ----
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: LEFT ANTI — the checkpoint-resume operator shape.

    The right side is filtered (recent orders) so the anti set is
    NON-empty at every sf (unfiltered, every customer has an order and
    the probe degenerated to 0 rows — a gate that proves nothing). The
    filtered build side is also the resume shape: completed-work keys
    are a small filtered set, anti-joined under broadcast."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


ORACLE_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
"""


def q_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: small-dim broadcast join (explain must show BroadcastHashJoin)."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name", "r_name")
    )


ORACLE_BROADCAST_JOIN = """
SELECT n_nationkey, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
"""


def q_equi_join_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6: shuffle equi-join chain (AQE picks SMJ/SHJ/broadcast)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .filter(F.col("o_totalprice") > 200000.0)
        .select("o_orderkey", "c_name", "n_name",
                F.round("o_totalprice", 2).alias("totalprice"))
    )


ORACLE_EQUI_JOIN_3WAY = """
SELECT o_orderkey, c_name, n_name, ROUND(o_totalprice, 2) AS totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
WHERE o_totalprice > 200000.0
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7: LEFT SEMI."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders")
    return o.join(c, o.o_custkey == c.c_custkey, "left_semi").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))


ORACLE_SEMI_JOIN = """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice FROM orders o
WHERE EXISTS (SELECT 1 FROM customer c
              WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
"""


# ----------------------------------------------------------- aggregation ----
def q_hash_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8: TPC-H Q1-style hash aggregation (partial + final)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_HASH_AGG = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9: distinct."""
    return load(spark, sf_dir, "customer").select("c_mktsegment").distinct()


ORACLE_DISTINCT = "SELECT DISTINCT c_mktsegment FROM customer"


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 (rows-only): approx_count_distinct — tolerance asserted in pytest,
    no SQL oracle (HLL parameters differ across engines by design)."""
    o = load(spark, sf_dir, "orders")
    return o.agg(F.approx_count_distinct("o_custkey").alias("approx_custs"))


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10: rollup / grouping sets."""
    o = load(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


ORACLE_ROLLUP = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


# --------------------------------------------------------------- windows ----
def q_window_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: latest-row-per-key dedupe — the exact shape used on pages."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey",
                F.col("o_orderdate").cast("date").alias("latest_date"))
    )


ORACLE_WINDOW_DEDUPE = """
SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS latest_date
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
WHERE rn = 1
"""


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: running sum over events with explicit ROWS frame + tie-break."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id", "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


ORACLE_WINDOW_RUNNING = """
SELECT event_id, user_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
FROM events
"""


# ---------------------------------------------------------- sort / topk ----
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B12: top-k with total-order tie-break."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
        .limit(10)
    )


ORACLE_TOPK = """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


# ----------------------------------------------------------------- setop ----
def q_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13: UNION ALL + EXCEPT ALL — the byte-identity diff shape."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    b = o.filter(F.col("o_orderkey") % 6 == 0).select("o_orderkey")
    return a.unionAll(b).exceptAll(b)


ORACLE_UNION_EXCEPT = """
(SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0
 UNION ALL
 SELECT o_orderkey FROM orders WHERE o_orderkey % 6 = 0)
EXCEPT ALL
SELECT o_orderkey FROM orders WHERE o_orderkey % 6 = 0
"""


# --------------------------------------------------------- scalar funcs ----
def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14: string/date/math scalar functions."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper(F.col("o_orderstatus")).alias("status_u"),
        F.substring("o_orderpriority", 1, 1).alias("prio1"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.length("o_orderpriority").alias("prio_len"),
        F.round(F.sqrt("o_totalprice"), 4).alias("sqrt_price"),
    )


ORACLE_SCALAR_FUNCS = """
SELECT o_orderkey,
       UPPER(o_orderstatus) AS status_u,
       SUBSTRING(o_orderpriority, 1, 1) AS prio1,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
       CAST(LENGTH(o_orderpriority) AS INT) AS prio_len,
       ROUND(SQRT(o_totalprice), 4) AS sqrt_price
FROM orders
"""


def q_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14: JSON scalar extraction over events.props."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


ORACLE_JSON = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
FROM events
"""


# -------------------------------------------------------- salting (B15) ----
def q_salt_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15: aggregation result must be invariant under the job's
    placement — the oracle is the plain GROUP BY, proving the spread
    changes nothing. The placement is the job's: hash partitioning by
    key, row → pmod(hash(key), 64)."""
    li = load(spark, sf_dir, "lineitem")
    salted = li.repartition(64, "l_orderkey")
    return salted.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


ORACLE_SALT_INVARIANCE = """
SELECT l_returnflag, ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


# -------------------------------------------------- grouped-agg UDAF (B18) --
def q_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18: grouped pandas UDAF via applyInPandas (Arrow-batched numpy
    mean per group), oracle = plain AVG."""
    import pandas as pd

    def group_mean(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "event_type": [pdf["event_type"].iloc[0]],
            "avg_value": [round(float(pdf["value"].mean()), 4)],
        })

    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").applyInPandas(
        group_mean, schema="event_type string, avg_value double")


ORACLE_GROUPED_AGG = """
SELECT event_type, ROUND(AVG(value), 4) AS avg_value
FROM events GROUP BY event_type
"""
