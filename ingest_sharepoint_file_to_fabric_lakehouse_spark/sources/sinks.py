"""Sinks (SURVEY.md §2 B.1): parquet write, partitioned write, MERGE
upsert — each verified by reading the written data back and checking
it against an oracle computed from the *source* tables, so the write
path itself is under the correctness gate.

Reference parity: upload/copy sinks (A-3, A-5) and the declared Delta
table target (A-4, config.py:16).

Scale notes: partitioned writes use ``partitionBy`` on a
low-cardinality derived column (year) — the layout that gives
partition-pruned reads at 100 TB.  Writers never coalesce to 1 except
tiny staging fixtures; file counts follow the shuffle partitioning.
"""

from __future__ import annotations

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
    stamp_staging,
    t,
)
from ..plans.merge import (
    merge_lease,
    merge_upsert,
    merge_upsert_partitioned,
    read_table,
    write_table,
)


@query(
    "sink_parquet",
    """
    SELECT count(*) AS n_rows,
           count(DISTINCT o_orderkey) AS n_keys,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a filtered slice to parquet, read it back, aggregate —
    oracle computes the same aggregate straight from the source."""
    path = staging_dir(sf_dir, "sink_orders_f")
    src = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    src.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        money(F.sum(dec("o_totalprice"))).alias("total"),
    )


@query(
    "sink_partitioned",
    """
    SELECT year(o_orderdate) AS order_year,
           count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY year(o_orderdate)
    """,
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partitionBy(year) write + read-back aggregation per partition.

    The read side filters nothing, but the layout is what enables
    partition pruning: a ``WHERE order_year = X`` scan reads one
    directory.  (100-TB note: partition by a bounded-cardinality
    column; never by a key.)
    """
    path = staging_dir(sf_dir, "sink_orders_by_year")
    src = t(spark, sf_dir, "orders").withColumn("order_year", F.year("o_orderdate"))
    src.write.mode("overwrite").partitionBy("order_year").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("order_year").agg(
        F.count("*").alias("n_orders"),
        money(F.sum(dec("o_totalprice"))).alias("total"),
    )


@query(
    "sink_delta_merge",
    """
    WITH target AS (
      SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
    ),
    source AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    ),
    merged AS (
      SELECT * FROM source
      UNION ALL
      SELECT * FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
    )
    SELECT count(*) AS n_rows,
           count(DISTINCT o_orderkey) AS n_keys,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM merged
    """,
)
def sink_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert into a table sink — the realization of the
    reference's declared ``sink_table`` (config.py:16).

    Target: orders before 1998.  Source: orders from 1997 on, with
    price bumped 10% (the overlap year updates, the tail inserts).
    Oracle reconstructs the merged state relationally from the source
    table — a strong, value-level check of the whole write path.
    """
    path = staging_dir(sf_dir, "sink_merge_orders")
    orders = t(spark, sf_dir, "orders")
    # The pre-merge seed is rebuilt only when the SOURCE data changed
    # (fingerprint-gated); on reuse the target already holds merged
    # state, and this MERGE is idempotent — matched keys update to the
    # same source values, unmatched rows are untouched — so re-merging
    # yields the identical table.  The measured operation stays the
    # real MERGE; only the bench-artifact full seed rewrite is skipped.
    token = source_fingerprint(sf_dir, "orders")
    source = (
        orders.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
    )
    # One lease across seed + MERGE + stamp: without it two processes
    # racing an unbuilt target both run the overwrite seed (torn
    # files), or one re-seeds the target out from under the other's
    # in-flight merge.  merge_upsert runs under the SAME lease via
    # _held_token (a second same-path acquire would self-deadlock).
    # The stamp stays AFTER the merge: merge_upsert swaps directories,
    # which drops any marker written before it.
    # lock_wait matches staged_build's 600s: a rival's COLD seed (a
    # full-table rewrite) can far outlast the default 60s writer wait,
    # and the right behavior is to queue behind it, not fail.
    with merge_lease(spark, path, lock_wait_sec=600.0) as held:
        if not staging_current(path, token):
            target = orders.filter(
                F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
            )
            write_table(target, path)
        merge_upsert(spark, path, source, "o_orderkey", _held_token=held)
        stamp_staging(path, token)
    back = read_table(spark, path)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        money(F.sum(dec("o_totalprice"))).alias("total"),
    )


@query(
    "sink_merge_partitioned",
    """
    WITH target AS (
      SELECT *, year(o_orderdate) AS order_year
      FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
    ),
    source AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
             o_orderdate, o_orderpriority, year(o_orderdate) AS order_year
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    ),
    merged AS (
      SELECT * FROM source
      UNION ALL
      SELECT * FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
    )
    SELECT CAST(order_year AS INTEGER) AS order_year,
           count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM merged
    GROUP BY order_year
    """,
)
def sink_merge_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped MERGE: target partitioned by order year, source
    touches only 1997+ — the merge reads and rewrites exactly those
    partition directories (dynamic partition overwrite), leaving every
    earlier year's files untouched (byte-identity asserted in
    tests/test_plans.py).  This is the 100 TB MERGE shape."""
    path = staging_dir(sf_dir, "sink_merge_part")
    orders = t(spark, sf_dir, "orders").withColumn("order_year", F.year("o_orderdate"))
    # fingerprint-gated seed (see sink_delta_merge): the MERGE is
    # idempotent, so re-merging into the already-merged target is
    # byte-equivalent and the full-table seed rewrite — a bench
    # artifact, not part of the measured MERGE — runs only when the
    # source data actually changed
    token = source_fingerprint(sf_dir, "orders")
    source = (
        orders.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
    )
    # seed + MERGE + stamp under one lease — see sink_delta_merge
    # (600s wait: queue behind a rival's cold seed, don't fail)
    with merge_lease(spark, path, lock_wait_sec=600.0) as held:
        if not staging_current(path, token):
            target = orders.filter(
                F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
            )
            write_table(target, path, part_col="order_year")
        merge_upsert_partitioned(
            spark, path, source, "o_orderkey", "order_year", _held_token=held
        )
        stamp_staging(path, token)
    back = read_table(spark, path)
    return back.groupBy(F.col("order_year").cast("int").alias("order_year")).agg(
        F.count("*").alias("n_orders"),
        money(F.sum(dec("o_totalprice"))).alias("total"),
    )


@query(
    "sink_csv_export",
    """
    SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey
    """,
)
def sink_csv_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV export round-trip: the interchange sink every engine needs
    (hand-off to pandas/Excel/external tools).  Write with header,
    read back with an explicit schema — the returned rows must equal
    the source table, which is the oracle.  Scale note: a CSV export
    is one narrow map-side write per partition (no shuffle); the
    schema-on-read-back is explicit because CSV carries no types."""
    path = staging_dir(sf_dir, "nation_csv_out")
    (
        t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )
    return (
        spark.read.schema("n_nationkey long, n_name string, n_regionkey long")
        .option("header", True)
        .csv(path)
        .orderBy("n_nationkey")
    )


@query(
    "sink_compact_small_files",
    """
    SELECT count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM orders
    """,
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (the OPTIMIZE every lakehouse table
    eventually needs): a fragmented layout — 64 files from an
    over-parallel writer — is rewritten as 4 right-sized files via
    repartition, and the read-back must be byte-equal in content to
    the source.  At 100 TB the fragmented state is the default
    failure mode of streaming/micro-batch ingest (one file per
    trigger per partition), and compaction is what keeps scan task
    counts and footer overhead sane; file counts before/after are
    asserted in tests/test_plans.py.

    The fragmented input is staged once (fingerprint-gated); the
    measured query pays read → repartition(4) → write → read-back,
    the real steady-state cost of an OPTIMIZE pass.
    """
    frag = staging_dir(sf_dir, "orders_fragmented")
    token = source_fingerprint(sf_dir, "orders")
    with staged_build(spark, token, frag) as need:
        if need:
            t(spark, sf_dir, "orders").repartition(64).write.mode(
                "overwrite"
            ).parquet(frag)
    compacted = staging_dir(sf_dir, "orders_compacted")
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compacted)
    back = spark.read.parquet(compacted)
    return back.agg(
        F.count("*").alias("n_orders"),
        money(F.sum(dec("o_totalprice"))).alias("total"),
    )


@query(
    "sink_snapshot_diff",
    """
    WITH snap1 AS (
      SELECT o_orderkey AS key,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             o_orderstatus AS status
      FROM orders
    ),
    snap2 AS (
      SELECT key,
             CASE WHEN key % 97 = 0 THEN cents + 10000 ELSE cents END AS cents,
             status
      FROM snap1 WHERE key % 101 <> 0
      UNION ALL
      SELECT key + 10000000 AS key, cents, 'N' AS status
      FROM snap1 WHERE key % 103 = 0
    ),
    diff AS (
      SELECT COALESCE(s2.key, s1.key) AS key,
             CASE WHEN s1.key IS NULL THEN 'insert'
                  WHEN s2.key IS NULL THEN 'delete'
                  WHEN s1.cents <> s2.cents OR s1.status <> s2.status THEN 'update'
                  ELSE 'unchanged' END AS change_type
      FROM snap1 s1 FULL OUTER JOIN snap2 s2 ON s1.key = s2.key
    )
    SELECT change_type, count(*) AS n_rows, CAST(SUM(key) AS BIGINT) AS key_checksum
    FROM diff WHERE change_type <> 'unchanged'
    GROUP BY change_type ORDER BY change_type
    """,
)
def sink_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: given two table versions, emit the
    insert/update/delete changeset — the portable equivalent of Delta
    Change Data Feed, and the first stage of any incremental
    downstream refresh.

    The new snapshot is derived deterministically from orders (prices
    bumped for key%97, keys%101 deleted, key%103 cloned as inserts at
    key+10M) so the oracle replays the whole construction.  The diff
    itself is ONE full outer join on the key with change
    classification in the projection — at 100 TB both snapshots are
    bucketed on the key (join_bucketed's layout), making the diff
    exchange-free, and unchanged rows are dropped before the tiny
    summary agg, so the output scales with the CHANGE volume, not the
    table.  Row-identity compare here is the typed column pair;
    a wide table would compare a single xxhash64(struct(*)) instead.

    All value paths are integer-exact for cross-engine parity: prices
    compare as BIGINT cents (never doubles), and the key checksum is
    explicitly BIGINT on both sides (DuckDB's SUM(BIGINT) otherwise
    yields HUGEINT, which value-hashes differently even when equal).
    """
    s1 = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        F.col("o_orderstatus").alias("status"),
    )
    s2 = s1.filter(F.col("key") % 101 != 0).select(
        "key",
        F.when(F.col("key") % 97 == 0, F.col("cents") + 10000).otherwise(F.col("cents")).alias(
            "cents"
        ),
        "status",
    ).unionAll(
        s1.filter(F.col("key") % 103 == 0).select(
            (F.col("key") + 10000000).alias("key"), "cents", F.lit("N").alias("status")
        )
    )
    j = s1.alias("a").join(s2.alias("b"), F.col("a.key") == F.col("b.key"), "full_outer")
    change = (
        F.when(F.col("a.key").isNull(), F.lit("insert"))
        .when(F.col("b.key").isNull(), F.lit("delete"))
        .when(
            (F.col("a.cents") != F.col("b.cents")) | (F.col("a.status") != F.col("b.status")),
            F.lit("update"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(F.coalesce(F.col("b.key"), F.col("a.key")).alias("key"), change.alias("change_type"))
        .filter(F.col("change_type") != "unchanged")
        .groupBy("change_type")
        .agg(F.count("*").alias("n_rows"), F.sum("key").cast("long").alias("key_checksum"))
        .orderBy("change_type")
    )
