"""Part-B relational probes (SURVEY.md §2.6): the operator shapes the job
runs (resume anti-join, latest-row dedupe window) and the ones bench.py
times, plus ``load``, which every probe module reads its tables with.

Each probe is a (spark, sf_dir) → DataFrame callable plus a DuckDB
oracle string over views of the same parquet tables. Naming contract:
every computed column is aliased IDENTICALLY in the Spark plan and the
oracle SQL (the correctness compare sorts columns by name before
hashing values).

Determinism rules used throughout:
* money/double aggregates rounded (2–6 dp) on BOTH sides;
* timestamps surfaced as DATE on both sides (timezone-proof);
* every top-k / window has a total-order tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


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
