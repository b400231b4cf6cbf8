"""SCD Type-2 dimension maintenance over parquet — history-preserving
upserts, the lakehouse pattern the reference's bronze Delta sink
(`config.py:16`) feeds into but never implements.

Semantics per merge batch (one ``change_date``):

* key changed (attribute differs from the current row) → CLOSE the
  current row (``valid_to = change_date``, ``is_current = false``) and
  INSERT a new current row (``valid_from = change_date``);
* key unchanged or absent from the batch → pass through untouched.

Scale shape: one shuffle of the dimension and one of the (much
smaller) update batch on the business key — the same full-outer MERGE
shuffle as plans/merge.py; history rows are immutable so a partitioned
layout (`is_current`, or valid_from-year) keeps the hot 'current' set
a partition-pruned scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import query, staging_dir, t


def scd2_apply(
    dim: DataFrame, updates: DataFrame, key: str, attr: str, change_date
) -> DataFrame:
    """Apply one SCD2 batch: close changed current rows, insert their
    replacements, pass everything else through."""
    cur = dim.alias("d")
    upd = updates.alias("u")
    joined = cur.join(upd, on=key, how="left")
    changed = F.col("d.is_current") & F.col(f"u.{attr}_new").isNotNull() & (
        F.col(f"d.{attr}") != F.col(f"u.{attr}_new")
    )
    # existing rows: closed if a differing update hit a current row
    existing = joined.select(
        key,
        f"d.{attr}",
        "d.valid_from",
        F.when(changed, F.lit(change_date).cast("date")).otherwise(F.col("d.valid_to")).alias("valid_to"),
        F.when(changed, F.lit(False)).otherwise(F.col("d.is_current")).alias("is_current"),
    )
    # replacement rows for the changed keys
    inserts = (
        cur.join(upd, on=key)
        .filter(F.col("d.is_current") & (F.col(f"d.{attr}") != F.col(f"u.{attr}_new")))
        .select(
            key,
            F.col(f"u.{attr}_new").alias(attr),
            F.lit(change_date).cast("date").alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    return existing.unionByName(inserts)


@query(
    "sink_scd2_merge",
    """
    WITH dim AS (
      SELECT c_custkey, c_mktsegment,
             DATE '2024-01-01' AS valid_from,
             CAST(NULL AS DATE) AS valid_to,
             true AS is_current
      FROM customer
    ),
    upd AS (
      SELECT c_custkey, 'PROMO' AS seg_new FROM customer WHERE c_custkey % 10 = 0
    ),
    existing AS (
      SELECT d.c_custkey, d.c_mktsegment, d.valid_from,
             CASE WHEN u.c_custkey IS NOT NULL AND d.c_mktsegment <> u.seg_new
                  THEN DATE '2024-06-01' ELSE d.valid_to END AS valid_to,
             CASE WHEN u.c_custkey IS NOT NULL AND d.c_mktsegment <> u.seg_new
                  THEN false ELSE d.is_current END AS is_current
      FROM dim d LEFT JOIN upd u USING (c_custkey)
    ),
    inserts AS (
      SELECT d.c_custkey, u.seg_new AS c_mktsegment,
             DATE '2024-06-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
             true AS is_current
      FROM dim d JOIN upd u USING (c_custkey)
      WHERE d.c_mktsegment <> u.seg_new
    )
    SELECT * FROM existing UNION ALL SELECT * FROM inserts
    """,
)
def sink_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge end-to-end: seed the customer dimension as current
    rows, apply a PROMO-segment update batch for every 10th key, write
    the result table, read it back.  The oracle replays the identical
    close+insert logic in SQL — every closed row, replacement row, and
    untouched row is value-checked."""
    base = staging_dir(sf_dir, "scd2_dim")
    dim = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", F.lit("PROMO").alias("c_mktsegment_new"))
    )
    merged = scd2_apply(dim, updates, "c_custkey", "c_mktsegment", "2024-06-01")
    merged.write.mode("overwrite").parquet(base)
    return spark.read.parquet(base)


@query(
    "join_scd2_pointintime",
    """
    WITH dim AS (
      SELECT c_custkey, c_mktsegment,
             DATE '1992-01-01' AS valid_from,
             CASE WHEN c_custkey % 10 = 0 THEN DATE '1996-06-01' END AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, 'PROMO', DATE '1996-06-01', CAST(NULL AS DATE)
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT d.c_mktsegment AS segment,
           CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS revenue
    FROM orders o
    JOIN dim d
      ON o.o_custkey = d.c_custkey
     AND o.o_orderdate >= d.valid_from
     AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment against an SCD2 dimension: every
    order joins the dimension VERSION that was valid on its order
    date (every 10th customer switches to 'PROMO' mid-1996), then
    revenue rolls up by as-was segment and year — the
    temporal-correctness join every warehouse report needs (joining
    the CURRENT version silently rewrites history).

    Plan discipline: this is an EQUI-join on the business key with
    the validity window as a residual predicate — versions-per-key is
    small (here <= 2, in practice bounded by change frequency), so
    the right plan is the broadcast/shuffled hash join on c_custkey,
    NOT a range join; the interval machinery (join_interval_banded /
    join_asof_latest) is only warranted when version counts explode.
    At 100 TB the dimension partitions by is_current so the hot
    current-only joins prune history entirely, while point-in-time
    reads like this one scan both partitions.  Decimal-exact revenue;
    (segment, year) output is calendar-sized.
    """
    cust = t(spark, sf_dir, "customer")
    v1 = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1992-01-01").cast("date").alias("valid_from"),
        F.when(
            F.col("c_custkey") % 10 == 0, F.lit("1996-06-01").cast("date")
        ).alias("valid_to"),
    )
    v2 = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            F.lit("PROMO").alias("c_mktsegment"),
            F.lit("1996-06-01").cast("date").alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
        )
    )
    dim = v1.unionByName(v2)
    o = t(spark, sf_dir, "orders")
    joined = o.join(
        F.broadcast(dim),
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("o_orderdate") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("o_orderdate") < F.col("valid_to"))),
    )
    from ..core import dec, money

    return (
        joined.groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum(dec("o_totalprice"))).alias("revenue"),
        )
        .orderBy("segment", "order_year")
    )
