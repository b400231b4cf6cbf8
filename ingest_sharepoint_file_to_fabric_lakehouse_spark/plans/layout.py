"""Storage-layout operators: bucketed joins and partition-pruned scans
(SCALE.md "repeated joins on the same key" / "partition pruning").

These two demonstrate the physical layouts that remove the dominant
costs at 100 TB: bucketing pre-shuffles data once at write time so
every subsequent equi-join on the key is shuffle-free; partitioned
layout turns selective scans into directory pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import (
    dec,
    money,
    query,
    source_fingerprint,
    staged_build,
    staging_current,
    staging_dir,
    t,
)


@query(
    "join_bucketed",
    """
    SELECT o_orderpriority,
           count(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free large⋈large join via bucketed tables.

    Both sides are written ``bucketBy(8, orderkey)`` once; the join
    then reads co-located buckets — zero exchange in the plan (verified
    in tests).  At 100 TB this converts the recurring lineitem⋈orders
    shuffle (the single biggest cost in the star schema) into a
    one-time write cost.
    """
    import shutil

    wh = staging_dir(sf_dir, "warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS sg_bucketed LOCATION '{wh}'")
    # sf-scoped table names: one session may touch several scale
    # factors (tests vs bench), and an un-scoped name would silently
    # reuse the first sf's layout for the second (the tag is the
    # fixture's staging dir name, the parent of the warehouse)
    sf_tag = os.path.basename(os.path.dirname(wh)).replace(".", "_")
    li_tbl, o_tbl = f"sg_bucketed.lineitem_b_{sf_tag}", f"sg_bucketed.orders_b_{sf_tag}"

    def ensure_bucketed(tbl: str, src: str, cols: list[str], key: str) -> None:
        # Bucket metadata lives in the session catalog, but the data
        # files persist in /tmp across sessions.  Spark encodes the
        # bucket id in each file name, so a completed layout can be
        # re-attached metadata-only: CREATE TABLE over the existing
        # LOCATION — the 100 TB point of bucketing is precisely that
        # the shuffle is paid once at write time, not per session.
        # Re-attach is gated on a sidecar recording BOTH the bucket
        # spec and the source-data fingerprint: a layout left by an
        # older spec or a regenerated fixture would otherwise feed the
        # exchange-free join wrong rows with no error.
        path = f"{wh}/{tbl.split('.')[1]}"
        token = f"buckets=8|key={key}|cols={','.join(cols)}|" + source_fingerprint(
            sf_dir, src
        )
        if spark.catalog.tableExists(tbl) and staging_current(path, token):
            return
        with staged_build(spark, token, path) as need:
            if need:
                # stale layout (older spec or regenerated fixture):
                # drop the catalog entry and rebuild the files
                if spark.catalog.tableExists(tbl):
                    spark.sql(f"DROP TABLE {tbl}")
                shutil.rmtree(path, ignore_errors=True)
                (
                    t(spark, sf_dir, src)
                    .select(*cols)
                    .write.bucketBy(8, key)
                    .sortBy(key)
                    .format("parquet")
                    .saveAsTable(tbl)
                )
        if not spark.catalog.tableExists(tbl):
            # layout current on disk, catalog cold (new session):
            # re-attach metadata-only over the existing LOCATION
            schema = spark.read.parquet(path).schema
            ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema)
            spark.sql(
                f"CREATE TABLE {tbl} ({ddl}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO 8 BUCKETS "
                f"LOCATION '{path}'"
            )

    ensure_bucketed(li_tbl, "lineitem", ["l_orderkey", "l_quantity"], "l_orderkey")
    ensure_bucketed(
        o_tbl, "orders", ["o_orderkey", "o_orderstatus", "o_orderpriority"], "o_orderkey"
    )
    # MERGE hint pins the sort-merge strategy (at fixture scale the
    # planner would broadcast the small side, hiding the bucket effect)
    li = spark.table(li_tbl).hint("merge")
    o = spark.table(o_tbl).filter(F.col("o_orderstatus") == "O").hint("merge")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_lines"), money(F.sum(dec("l_quantity"))).alias("total_qty"))
    )


@query(
    "scan_partition_pruned",
    """
    SELECT count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM orders
    WHERE year(o_orderdate) = 1997
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan over the year-partitioned layout: the
    filter on the partition column prunes directories before any IO —
    the plan lists exactly one partition (verified in tests)."""
    path = staging_dir(sf_dir, "orders_by_year")
    token = source_fingerprint(sf_dir, "orders")
    with staged_build(spark, token, path) as need:
        if need:
            (
                t(spark, sf_dir, "orders")
                .withColumn("order_year", F.year("o_orderdate"))
                .write.mode("overwrite")
                .partitionBy("order_year")
                .parquet(path)
            )
    back = spark.read.parquet(path).filter(F.col("order_year") == 1997)
    return back.agg(
        F.count("*").alias("n_orders"),
        money(F.sum(dec("o_totalprice"))).alias("total"),
    )


@query(
    "scan_rowgroup_skipping",
    """
    SELECT count(*) AS n_rows,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-06-01'
      AND o_orderdate <  TIMESTAMP '1997-09-01'
    """,
)
def scan_rowgroup_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping one level below partition pruning: the table is
    range-partitioned and SORTED by the filter column at write time,
    so every parquet file (and row group) covers a narrow o_orderdate
    band and its min/max footer statistics let a range predicate skip
    whole files without reading a data page.

    scan_partition_pruned prunes DIRECTORIES via a low-cardinality
    partition column; this is the complementary technique for columns
    too granular to partition by (timestamps, ids): at 100 TB a
    3-month range over a date-sorted table touches ~1/40 of the files,
    and the pushed filter (PushedFilters in the scan, asserted in
    tests) is evaluated against footer stats before any IO.  The
    layout is fingerprint-gated like every staged layout; the sort is
    paid once at write time — the same trade as bucketing.
    """
    path = staging_dir(sf_dir, "orders_by_date_sorted")
    token = source_fingerprint(sf_dir, "orders")
    with staged_build(spark, token, path) as need:
        if need:
            (
                t(spark, sf_dir, "orders")
                .repartitionByRange(8, "o_orderdate")
                .sortWithinPartitions("o_orderdate")
                .write.mode("overwrite")
                .parquet(path)
            )
    back = spark.read.parquet(path).filter(
        (F.col("o_orderdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-09-01").cast("timestamp"))
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        money(F.sum(dec("o_totalprice"))).alias("total"),
    )


@query(
    "join_dynamic_partition_pruned",
    """
    WITH yd AS (SELECT * FROM (VALUES (1996), (1997)) AS t(y))
    SELECT yd.y AS order_year,
           count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM orders JOIN yd ON year(o_orderdate) = yd.y
    GROUP BY yd.y
    ORDER BY yd.y
    """,
)
def join_dynamic_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the fact side is the year-partitioned
    orders layout, the filter arrives through a JOIN with a small dim
    (which partitions survive is only known once the dim is evaluated),
    and Spark turns the dim's broadcast into a runtime partition filter
    on the fact scan — ``dynamicpruningexpression`` in the plan,
    asserted in tests/test_plans.py.

    This is the TPC-DS date-dim shape and the complement of
    scan_partition_pruned's STATIC pruning: at 100 TB the dim filter
    ("the two fiscal years under audit") lives in a table nobody
    inlines into the fact predicate, and DPP is what keeps the fact
    scan from touching all years anyway.  The fact layout is the same
    fingerprint-gated staged directory scan_partition_pruned builds.
    """
    import pandas as pd

    path = staging_dir(sf_dir, "orders_by_year")
    token = source_fingerprint(sf_dir, "orders")
    with staged_build(spark, token, path) as need:
        if need:
            (
                t(spark, sf_dir, "orders")
                .withColumn("order_year", F.year("o_orderdate"))
                .write.mode("overwrite")
                .partitionBy("order_year")
                .parquet(path)
            )
    fact = spark.read.parquet(path)
    # The dim must be a real TABLE carrying all years plus an audit
    # tag, with the tag filtered in the query — two DPP planner-rule
    # traps, learned empirically: (a) a literal in-memory dim gets
    # constant-folded (ConvertToLocalRelation eats the filter), and
    # (b) a BOOLEAN flag filter simplifies to a bare attribute, which
    # `isLikelySelective` rejects — so the dim predicate must be a
    # real comparison (string tag equality here) over a file-backed
    # relation.  That is also the honest production shape: the fact
    # side never knows which members survive the dim filter until
    # runtime.
    dim_path = staging_dir(sf_dir, "year_dim")
    with staged_build(spark, "year-dim-v2", dim_path) as need:
        if need:
            spark.createDataFrame(
                pd.DataFrame(
                    {
                        "y": list(range(1992, 2003)),
                        "tag": [
                            "audit" if y in (1996, 1997) else "skip"
                            for y in range(1992, 2003)
                        ],
                    }
                ),
                "y int, tag string",
            ).coalesce(1).write.mode("overwrite").parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("tag") == "audit").select("y")
    return (
        fact.join(F.broadcast(dim), fact["order_year"] == dim["y"])
        .groupBy("y")
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum(dec("o_totalprice"))).alias("total"),
        )
        .select(F.col("y").alias("order_year"), "n_orders", "total")
        .orderBy("order_year")
    )


@query(
    "sink_zorder_layout",
    """
    WITH b AS (
      SELECT MIN(o_custkey) AS min_c, MAX(o_custkey) AS max_c,
             MIN(CAST(o_totalprice * 100 AS BIGINT)) AS min_p,
             MAX(CAST(o_totalprice * 100 AS BIGINT)) AS max_p
      FROM orders
    )
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders, b
    WHERE o_custkey >= min_c + (max_c - min_c + 1) * 7 // 16
      AND o_custkey <  min_c + (max_c - min_c + 1) * 9 // 16
      AND CAST(o_totalprice * 100 AS BIGINT) >= min_p + (max_p - min_p + 1) * 7 // 16
      AND CAST(o_totalprice * 100 AS BIGINT) <  min_p + (max_p - min_p + 1) * 9 // 16
    ORDER BY o_orderkey
    """,
)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered layout: orders rewritten once, sorted by the
    bit-interleaved (custkey-bucket, price-bucket) Morton code, so
    parquet footer min/max stats bound EVERY file in BOTH dimensions
    at once — a 2-D box predicate (or either single-dim band) prunes
    most files before any IO.  A 1-D sort can only cluster one
    dimension; this is the multi-column data-skipping layout (Delta
    OPTIMIZE ZORDER BY) that at 100 TB turns "filter on two non-
    partition keys" from a full scan into a handful of files.

    Construction: custkey and integer-cents price each scale to an
    8-bit bucket via exact integer arithmetic over the collected
    (control-plane) min/max, the 16-bit Morton code interleaves the
    bucket bits with shift/and built-ins, and the write is
    repartitionByRange(16, z) + sortWithinPartitions(z) — contiguous
    z-ranges per file.  The layout is fingerprint-gated staging like
    every derived artifact.  tests/test_plans.py proves the skip from
    the staged footers: a price-only band predicate must prune most
    files by stats alone.

    The returned query reads the STAGED layout with a middle-eighth
    box on both dimensions (bounds derived by the identical integer
    formula the oracle replays via scalar subqueries over the source
    table), so correctness shows the rewrite lost nothing.
    """
    path = staging_dir(sf_dir, "zorder_orders")
    token = source_fingerprint(sf_dir, "orders")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.expr("cast(o_totalprice * 100 as bigint)").alias("cents"),
    )
    lo = o.agg(
        F.min("o_custkey"), F.max("o_custkey"), F.min("cents"), F.max("cents")
    ).collect()[0]
    min_c, max_c, min_p, max_p = (int(x) for x in lo)
    w_c, w_p = max_c - min_c + 1, max_p - min_p + 1
    with staged_build(spark, token, path) as need:
        if need:
            bc = F.least(
                ((F.col("o_custkey") - min_c) * 256 / w_c).cast("bigint"), F.lit(255)
            )
            bp = F.least(
                ((F.col("cents") - min_p) * 256 / w_p).cast("bigint"), F.lit(255)
            )
            zb = sum(
                [
                    F.shiftleft(F.shiftright(bc, i).bitwiseAND(F.lit(1)), 2 * i + 1)
                    + F.shiftleft(F.shiftright(bp, i).bitwiseAND(F.lit(1)), 2 * i)
                    for i in range(8)
                ],
                F.lit(0),
            )
            (
                o.withColumn("z", zb)
                .repartitionByRange(16, "z")
                .sortWithinPartitions("z")
                .select("o_orderkey", "o_custkey", "o_totalprice", "z")
                .write.mode("overwrite")
                .parquet(path)
            )
    lo_c, hi_c = min_c + w_c * 7 // 16, min_c + w_c * 9 // 16
    lo_p, hi_p = min_p + w_p * 7 // 16, min_p + w_p * 9 // 16
    back = spark.read.parquet(path)
    return (
        back.filter(
            (F.col("o_custkey") >= lo_c)
            & (F.col("o_custkey") < hi_c)
            & (F.expr("cast(o_totalprice * 100 as bigint)") >= lo_p)
            & (F.expr("cast(o_totalprice * 100 as bigint)") < hi_p)
        )
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )
