"""Aggregation surface (SURVEY.md §2 B.4).

Reference parity: the reference's only aggregates are per-folder and
total counts (sharepoint_to_bronze_delta.py:138,150-152 →
agg_group_sum counts) and the empty-check existence aggregate
(:200-202).  Everything else generalizes those for the analytics
engine.

Scale notes: every groupBy here is a hash aggregate with map-side
partial aggregation (Spark does partial+final automatically), so the
shuffle carries pre-aggregated state, not rows.  Money sums use exact
decimal (core.dec) — order-independent across any number of
executors.  Float statistics (stddev/corr) are computed on
small-magnitude columns and rounded to stay hash-stable.
approx_count_distinct is the explicit 100-TB path where exact distinct
would shuffle every key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import dec, money, query, staging_dir, t


@query(
    "agg_group_sum",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                       * CAST(1 - l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_qty,
           min(l_quantity) AS min_qty,
           max(l_extendedprice) AS max_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_group_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: sum/avg/min/max/count hash aggregate."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        money(F.sum(dec("l_quantity"))).alias("sum_qty"),
        money(F.sum(dec("l_extendedprice"))).alias("sum_base_price"),
        money(F.sum(dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount")))).alias(
            "sum_disc_price"
        ),
        F.round(F.sum(dec("l_quantity")).cast("double") / F.count("*"), 6).alias("avg_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_extendedprice").alias("max_price"),
        F.count("*").alias("count_order"),
    )


@query(
    "agg_count_distinct",
    """
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(DISTINCT o_orderpriority) AS n_priorities,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregates (manifest dedup accounting)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            F.count("*").alias("n_orders"),
        )
    )


@query(
    "agg_approx_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS exact_orders,
           count(DISTINCT l_partkey) AS exact_parts,
           true AS orders_within_5pct,
           true AS parts_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct — the 100-TB path, with a STRONG
    error-bound oracle.

    At scale, exact countDistinct shuffles every distinct key;
    approx_count_distinct carries a fixed-size sketch per group.  The
    sketch value itself is implementation-specific, so instead of
    comparing it the query emits the exact counts plus booleans
    asserting the sketch landed within its 5x-rsd error budget — the
    oracle pins the exact counts and requires every bound to hold, so
    an HLL regression (or a wildly-off estimate) fails the value gate.
    """
    approx_vs_exact = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
            F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
    )
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) <= F.lit(0.05) * F.col(e)
    )
    return approx_vs_exact.select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        within("approx_orders", "exact_orders").alias("orders_within_5pct"),
        within("approx_parts", "exact_parts").alias("parts_within_5pct"),
    )


@query(
    "agg_sketch_hll_merge",
    """
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS exact_customers,
           true AS merged_within_2_5pct
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Datasketches): per-year partial sketches
    unioned into per-status estimates — the re-aggregatable rollup
    pattern a 100 TB pipeline stores in its metric tables (build
    sketches once per partition/day, union at query time; never
    re-scan).

    Error-bound oracle (the agg_approx_distinct pattern): the query
    emits the EXACT distinct counts plus a boolean asserting the
    merged-sketch estimate landed within 2.5% (~3 sigma at
    lgConfigK=14, rsd ≈ 0.81%), so a union/merge regression fails the
    value gate at any cardinality.  (The r1–r7 form compared the
    estimate to the exact count directly — true only while the
    estimate rounds to exact, which the sf0.1 cross-fixture sweep
    showed stops at ~10k per group: 0.19% error, correct sketch
    behavior, wrong oracle shape.)
    """
    o = t(spark, sf_dir, "orders")
    partials = o.groupBy("o_orderstatus", F.year("o_orderdate").alias("yr")).agg(
        F.hll_sketch_agg("o_custkey", F.lit(14)).alias("sk"),
    )
    merged = partials.groupBy("o_orderstatus").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("est"),
    )
    exact = o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    )
    return exact.join(merged, "o_orderstatus").select(
        "o_orderstatus",
        "exact_customers",
        (
            F.abs(F.col("est") - F.col("exact_customers"))
            * 1000
            <= F.col("exact_customers") * 25
        ).alias("merged_within_2_5pct"),
    )


@query(
    "agg_having",
    """
    SELECT o_custkey,
           count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_spent
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) > 12
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum(dec("o_totalprice"))).alias("total_spent"),
        )
        .filter(F.col("n_orders") > 12)
    )


@query(
    "agg_rollup",
    """
    SELECT r_name, n_name,
           GROUPING(r_name) AS g_region, GROUPING(n_name) AS g_nation,
           count(*) AS n_custs,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup over the region→nation hierarchy."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.grouping("r_name").alias("g_region"),
            F.grouping("n_name").alias("g_nation"),
            F.count("*").alias("n_custs"),
            money(F.sum(dec("c_acctbal"))).alias("total_bal"),
        )
    )


@query(
    "agg_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) AS g_status, GROUPING(o_orderpriority) AS g_prio,
           count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over two dimensions."""
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").alias("g_status"),
            F.grouping("o_orderpriority").alias("g_prio"),
            F.count("*").alias("n_orders"),
            money(F.sum(dec("o_totalprice"))).alias("total_price"),
        )
    )


@query(
    "agg_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via SQL on a temp view."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_rows,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


@query(
    "agg_stats",
    """
    SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 6) AS qty_stddev,
           ROUND(var_samp(l_quantity), 6) AS qty_var,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_discount), 6) AS qty_disc_covar
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates on small-magnitude columns, rounded for
    cross-engine float stability."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
            F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("qty_disc_covar"),
        )
    )


@query(
    "agg_percentile",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 6) AS qty_median,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS qty_p25,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS price_p90
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (DuckDB quantile_cont ≡ Spark
    percentile: linear interpolation over sorted values)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_quantity", 0.5), 6).alias("qty_median"),
            F.round(F.percentile("l_quantity", 0.25), 6).alias("qty_p25"),
            F.round(F.percentile("l_extendedprice", 0.9), 6).alias("price_p90"),
        )
    )


@query(
    "agg_collect",
    """
    SELECT n_regionkey,
           array_to_string(list_sort(list(n_name)), ',') AS nations,
           array_to_string(list_sort(list(DISTINCT substring(n_name, 1, 6))), ',')
             AS name_prefixes
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List/set aggregation, order-normalized with sort_array for
    deterministic comparison (per-folder manifest rollups).

    Emitted as comma-joined strings rather than array columns: the
    result is equally deterministic, and string cells stay hashable for
    order-insensitive value comparison downstream.  The array-typed
    variant is exercised in tests (test_operators.py)."""
    return (
        t(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"),
            F.array_join(
                F.sort_array(F.collect_set(F.substring("n_name", 1, 6))), ","
            ).alias("name_prefixes"),
        )
    )


@query(
    "agg_min_max_by",
    """
    WITH o AS (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  AS HUGEINT) * 10000000000000000000 + o_orderkey AS ord
      FROM orders
    )
    SELECT o_orderstatus,
           arg_min(o_orderkey, ord) AS cheapest_order,
           arg_max(o_orderkey, ord) AS priciest_order,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price
    FROM o
    GROUP BY o_orderstatus
    """,
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (arg-extrema) — latest-file-per-folder pattern.

    The ordering value is the exact composite ``price_cents * 1e19 +
    orderkey`` — decimal(38,0) Spark-side, HUGEINT oracle-side —
    strictly monotone in (price, key), so PRICE TIES break
    deterministically to the lower/higher orderkey on both engines —
    min_by/max_by over the raw price alone is engine-arbitrary under
    ties, which the synthesized-4x oracle sweep manufactured and
    caught (real corpora at 100 TB hit genuine ties constantly; an
    arg-extremum without a total order is a latent nondeterminism
    bug, same discipline as events_resample_ohlc's composite
    open/close key).  The 10^19 multiplier exceeds the bigint range,
    so NO bigint orderkey can alias into the price digits, and the
    product stays inside decimal(38,0) for any bigint cents
    (9.2e18 * 1e19 = 9.2e37 < 1e38) — a packed bigint (the r8 form,
    cents*1e10+key) silently aliased once orderkey >= 1e10 and
    wrapped past ~$92M prices, contradicting the 100-TB determinism
    claim.
    """
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    ord_ = (
        cents.cast("decimal(38,0)")
        * F.lit("10000000000000000000").cast("decimal(20,0)")
        + F.col("o_orderkey")
    )
    return (
        t(spark, sf_dir, "orders")
        .withColumn("ord", ord_)
        .groupBy("o_orderstatus")
        .agg(
            F.min_by("o_orderkey", "ord").alias("cheapest_order"),
            F.max_by("o_orderkey", "ord").alias("priciest_order"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@query(
    "agg_empty_check",
    """
    SELECT count(*) > 0 AS has_rows, count(*) AS n_rows
    FROM orders
    WHERE o_totalprice > 1000000
    """,
)
def agg_empty_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence aggregate — the reference's empty-manifest guard
    (sharepoint_to_bronze_delta.py:200-202)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 1000000)
    return o.agg((F.count("*") > 0).alias("has_rows"), F.count("*").alias("n_rows"))


@query(
    "agg_incremental_rollup",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
    GROUP BY o_orderpriority
    """,
)
def agg_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate rollup (hypertable pattern): daily partial
    aggregates are materialized ONCE, partitioned by year; any date-range
    query then merges partials without touching raw orders.

    The additive sibling of agg_sketch_hll_merge: counts merge by SUM,
    money merges exactly because partials are decimal(18,4) sums —
    decimal addition is associative, so (day-partial → range-merge)
    is bit-identical to a direct scan, which is what the oracle runs.
    At 100 TB the rollup table is ~#days × #groups rows, the range
    query prunes to the partitions it needs (year=1995 here — verify
    with PartitionFilters in explain), and raw data is never re-read.
    """
    import os

    stage = staging_dir(sf_dir, "rollup_orders_daily")
    if not os.path.isdir(stage):
        (
            t(spark, sf_dir, "orders")
            .groupBy(
                F.col("o_orderdate"),
                F.year("o_orderdate").alias("o_year"),
                "o_orderpriority",
            )
            .agg(
                F.count("*").alias("n_orders_partial"),
                F.sum(dec("o_totalprice")).alias("price_partial"),
            )
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(stage)
        )
    rollup = spark.read.parquet(stage)
    return (
        rollup.filter(
            # o_year carries the same bound as the date predicate but
            # against the PARTITION column — Catalyst doesn't derive
            # partition pruning from a predicate on o_orderdate alone
            # (verified: PartitionFilters was empty without this).
            (F.col("o_year") == 1995)
            & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders_partial").alias("n_orders"),
            money(F.sum("price_partial")).alias("total_price"),
        )
    )


@query(
    "agg_approx_quantile",
    """
    WITH r AS (
      SELECT l_returnflag, l_quantity,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_quantity) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN l_quantity END) AS med_qty,
           MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN l_quantity END)
             AS p95_qty,
           TRUE AS approx_within_bounds
    FROM r GROUP BY l_returnflag
    """,
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (Greenwald-Khanna via percentile_approx) —
    the 100 TB path — value-gated against exact DISCRETE quantiles.

    Exact interpolating percentiles are not engine-portable (the
    interpolation formula's FP rounding differs), so both sides pin
    the discrete quantile: the value at rank ceil(p*n), integer-exact
    ((19n+19) div 20 etc.), which is identical under any tie order.
    The sketch value itself is implementation-specific, so the query
    emits the exact quantiles plus a boolean asserting the sketch
    median landed between the exact p45/p55 values — GK with accuracy
    1e4 guarantees rank error <= n/1e4, so the bound holds
    deterministically unless the sketch regresses; the oracle pins
    the exact values and TRUE.

    Scale shape: one rank-window shuffle for the exact side (at 100 TB
    you would keep ONLY the sketch: fixed memory per group, mergeable
    partials, no sort) — the exact side exists to gate the sketch.
    """
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    r = li.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("l_returnflag"))
    )
    at = lambda idx: F.max(  # noqa: E731
        F.when(F.col("rn") == idx, F.col("l_quantity"))
    )
    exact = r.groupBy("l_returnflag").agg(
        at(F.expr("(n + 1) div 2")).alias("med_qty"),
        at(F.expr("(19 * n + 19) div 20")).alias("p95_qty"),
        at(F.expr("(9 * n + 19) div 20")).alias("p45_qty"),
        at(F.expr("(11 * n + 19) div 20")).alias("p55_qty"),
        F.percentile_approx("l_quantity", 0.5, 10000).alias("approx_med"),
    )
    return exact.select(
        "l_returnflag",
        "med_qty",
        "p95_qty",
        (
            (F.col("approx_med") >= F.col("p45_qty"))
            & (F.col("approx_med") <= F.col("p55_qty"))
        ).alias("approx_within_bounds"),
    )


@query(
    "agg_incremental_merge",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the refresh path
    every 100 TB pipeline actually runs.

    The aggregate state (count, exact-decimal sum per group) is
    ALGEBRAIC — partial states merge by addition, and avg derives from
    (sum, count) at read time — so a refresh scans only the new
    partition's delta, merges its state with the stored base state,
    and never recomputes history.  The base state (orders before the
    cutoff) is staged once, fingerprint-gated like every staged layout
    (core.staging_current); the measured query is delta scan + state
    merge, which is the steady-state cost of the pipeline.

    Oracle: the full-history GROUP BY — incremental maintenance must
    be indistinguishable from recomputation.
    """
    from ..core import source_fingerprint, staged_build

    cutoff = "1997-01-01"

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum(dec("o_totalprice")).alias("sum_price"),
        )

    o = t(spark, sf_dir, "orders")
    path = staging_dir(sf_dir, "incr_agg_state")
    token = source_fingerprint(sf_dir, "orders") + f"|cutoff={cutoff}|v1"
    with staged_build(spark, token, path) as need:
        if need:
            state(o.filter(F.col("o_orderdate") < cutoff)).write.mode(
                "overwrite"
            ).parquet(path)
    base = spark.read.parquet(path)
    delta = state(o.filter(F.col("o_orderdate") >= cutoff))
    merged = base.unionByName(delta).groupBy("o_orderpriority").agg(
        F.sum("n_orders").alias("n_orders"), F.sum("sum_price").alias("sum_price")
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        money(F.col("sum_price")).alias("total_price"),
        F.round(F.col("sum_price").cast("double") / F.col("n_orders"), 6).alias(
            "avg_price"
        ),
    ).orderBy("o_orderpriority")


@query(
    "agg_bitmap_distinct",
    """
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable bitmap partials — the
    scale path between approx_count_distinct (bounded error) and
    count(DISTINCT) (shuffles every raw key).

    ``bitmap_bucket_number`` carves the key space into 32k-bit
    buckets; per (group, bucket) a fixed-size bitmap accumulates bit
    positions map-side, and because buckets PARTITION the key space,
    per-bucket cardinalities sum to the exact distinct count.  The
    shuffle carries one <=4 KB bitmap per (group, bucket) instead of
    every raw key — mergeable like a sketch, exact like a distinct.
    At 100 TB this is how BI engines serve exact COUNT(DISTINCT
    user_id) per segment without a key-explosion shuffle.
    """
    o = t(spark, sf_dir, "orders")
    partial = o.groupBy(
        "o_orderpriority",
        F.expr("bitmap_bucket_number(o_custkey)").alias("bkt"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").alias("bm"),
        F.count("*").alias("n"),
    )
    return (
        partial.groupBy("o_orderpriority")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).alias("n_customers"),
            F.sum("n").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "agg_mode_top_freq",
    """
    WITH cnt AS (
      SELECT c.c_mktsegment, o.o_orderpriority, count(*) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_orderpriority
    )
    SELECT c_mktsegment, o_orderpriority AS mode_priority, n AS n_orders
    FROM (
      SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                                   ORDER BY n DESC, o_orderpriority) AS r
      FROM cnt
    ) WHERE r = 1
    ORDER BY c_mktsegment
    """,
)
def agg_mode_top_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group (most frequent order priority per
    market segment) — count-then-rank, the distributed form of mode()
    with a deterministic tiebreak (lowest priority wins ties).  The
    count aggregate shrinks the window's input to |groups| × |values|
    rows, so the rank never sees raw data."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cnt = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("n").desc(), "o_orderpriority"
    )
    return (
        cnt.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "agg_histogram_fixed",
    """
    WITH b AS (
      SELECT least(CAST(CAST(o_totalprice * 100 AS BIGINT) // 5000000 AS INT), 9)
               AS bucket
      FROM orders
    )
    SELECT bucket,
           count(*) AS n_orders
    FROM b
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def agg_histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (10 buckets of 50k, open-ended top) —
    the one-pass distribution profile behind dashboards and data-size
    planning.  Bucketing is INTEGER-exact: prices convert to cents
    (bigint) before the division, so a price exactly on a bucket
    boundary lands identically in both engines — float width division
    would not guarantee that.  Plan: a single map-side expression +
    partial-aggregated groupBy over at most 10 keys; contrast with
    agg_approx_quantile (adaptive boundaries) and win_ntile_bucketize
    (equal-frequency) — the three bucketing strategies an analytics
    surface needs.
    """
    o = t(spark, sf_dir, "orders")
    bucket = F.least(
        F.expr("cast(cast(o_totalprice * 100 as bigint) div 5000000 as int)"),
        F.lit(9),
    )
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("bucket")
    )


@query(
    "agg_exact_median_twopass",
    """
    WITH c AS (SELECT CAST(o_totalprice * 100 AS BIGINT) AS cents FROM orders),
    r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM c)
    SELECT (SELECT count(*) FROM c) AS n,
           cents AS median_cents,
           CAST(cents AS DOUBLE) / 100.0 AS median_price
    FROM r WHERE rn = ((SELECT count(*) FROM c) + 1) // 2
    """,
)
def agg_exact_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median (lower median, 1-based rank (n+1)//2) without a
    global sort — the two-pass histogram-narrowing algorithm that
    makes exact quantiles feasible at 100 TB.

    A naive exact median sorts the whole column (one giant range
    exchange).  Instead:
      pass 1: map-side integer-cents bucketing into fixed 500.00-wide
        bins + a partial-aggregated groupBy — the driver receives only
        the ~1000-row bin histogram (control-plane), walks the
        cumulative counts, and finds the single bin containing the
        target rank;
      pass 2: re-scan with the pushed ``cents BETWEEN bin`` predicate
        (footer stats skip everything else on a cents-sorted layout),
        and rank ONLY the ~n/1000 rows of that bin.
    Total cost: two column scans, one tiny shuffle of one bin —
    versus a full-table sort.  Generalizes to any quantile and to
    iterative refinement when a bin is still too big.

    Everything is integer arithmetic (cents, counts, ranks), so the
    selected value is bit-identical to the oracle's global
    row_number replay.
    """
    o = t(spark, sf_dir, "orders").select(
        F.expr("cast(o_totalprice * 100 as bigint)").alias("cents")
    )
    n = o.count()
    k = (n + 1) // 2  # 1-based lower-median rank
    bins = (
        o.groupBy((F.col("cents") / 50000).cast("bigint").alias("bin"))
        .agg(F.count("*").alias("cnt"))
        .orderBy("bin")
        .collect()
    )
    cum = 0
    target_bin = None
    rank_in_bin = None
    for r in bins:
        if cum + r["cnt"] >= k:
            target_bin, rank_in_bin = r["bin"], k - cum
            break
        cum += r["cnt"]
    from pyspark.sql import Window as W

    in_bin = o.filter(
        (F.col("cents") >= target_bin * 50000) & (F.col("cents") < (target_bin + 1) * 50000)
    )
    ranked = in_bin.select(
        "cents", F.row_number().over(W.orderBy("cents")).alias("rn")
    ).filter(F.col("rn") == rank_in_bin)
    return ranked.select(
        F.lit(n).cast("long").alias("n"),
        F.col("cents").alias("median_cents"),
        (F.col("cents").cast("double") / 100.0).alias("median_price"),
    )


_CMS_ORACLE = """
    WITH base AS (
      SELECT event_type || ':' || CAST(CAST(ts AS DATE) AS VARCHAR) AS key
      FROM events
    ),
    exact AS (SELECT key, count(*) AS n_exact FROM base GROUP BY key),
    hashed AS (
      SELECT key, n_exact, s.j,
             CAST(CAST('0x' || substr(md5(CAST(s.j AS VARCHAR) || ':' || key), 1, 2)
                       AS INTEGER) % 32 AS INTEGER) AS b
      FROM exact, range(0, 4) s(j)
    ),
    cells AS (SELECT j, b, CAST(SUM(n_exact) AS BIGINT) AS cell FROM hashed GROUP BY j, b),
    est AS (
      SELECT h.key, h.n_exact, min(c.cell) AS n_cms
      FROM hashed h JOIN cells c USING (j, b)
      GROUP BY h.key, h.n_exact
    )
    SELECT key, n_exact, n_cms, n_cms - n_exact AS overcount FROM est
    ORDER BY key
    """


@query("agg_cms_portable", _CMS_ORACLE)
def agg_cms_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch with portable md5 bucket hashes — the
    fixed-size mergeable frequency sketch completing the sketch family
    (HLL distinct / bitmap distinct / GK quantiles / CMS frequencies).

    Construction (every cell value-checked in the oracle): d=4 hash
    rows x w=32 buckets; row j buckets a key by the first byte of
    md5(j + ':' + key) mod 32 (md5 is bit-identical everywhere, so
    DuckDB replays the exact cells); a key's estimate is the MIN of
    its d cells, and overcount = estimate - exact >= 0 by
    construction — the oracle checks the inequality cell-by-cell,
    not just in aggregate.

    Scale shape: the sketch is d*w = 128 bigint cells REGARDLESS of
    key cardinality — per-partition partial sketches merge by
    cell-wise sum (associative/commutative/exact), so the shuffle
    carries 128 cells per partition where an exact count would carry
    the full key set.  This is the heavy-hitter / frequency-cap
    primitive for keyspaces too wide to count exactly (URLs, client
    IDs at 100 TB); here it runs against (event_type, day) keys so
    the exact side stays cheap enough to verify every estimate.
    """
    ev = t(spark, sf_dir, "events")
    base = ev.select(
        F.concat(
            F.col("event_type"), F.lit(":"), F.col("ts").cast("date").cast("string")
        ).alias("key")
    )
    exact = base.groupBy("key").agg(F.count("*").alias("n_exact"))
    hashed = exact.select(
        "key",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        (
                            F.conv(
                                F.substring(
                                    F.md5(F.concat(F.lit(f"{j}:"), F.col("key"))), 1, 2
                                ),
                                16,
                                10,
                            ).cast("int")
                            % 32
                        ).alias("b"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("s"),
    ).select("key", "n_exact", "s.j", "s.b")
    cells = hashed.groupBy("j", "b").agg(F.sum("n_exact").alias("cell"))
    est = (
        hashed.join(F.broadcast(cells), ["j", "b"])
        .groupBy("key", "n_exact")
        .agg(F.min("cell").alias("n_cms"))
    )
    return est.select(
        "key",
        "n_exact",
        "n_cms",
        (F.col("n_cms") - F.col("n_exact")).alias("overcount"),
    ).orderBy("key")


@query(
    "agg_heavy_hitters_exact",
    """
    WITH c AS (SELECT l_partkey, count(*) AS n_lines FROM lineitem GROUP BY 1),
    s AS (SELECT CAST(SUM(n_lines) AS BIGINT) AS tot, count(*) AS k FROM c)
    SELECT l_partkey, n_lines,
           (SELECT 3 * tot // (2 * k) FROM s) AS thr
    FROM c, s
    WHERE n_lines >= 3 * tot // (2 * k)
    ORDER BY n_lines DESC, l_partkey
    """,
)
def agg_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (parts with line count >= 1.5x the mean)
    via the classic two-pass sketch-guided plan: a count-min sketch
    built in pass one becomes a MAP-SIDE ROW FILTER in pass two, so
    the exact aggregation only ever shuffles rows whose key might be
    heavy.

    Why the answer is exact: CMS never undercounts, so
    "sketch-estimate >= threshold" admits a SUPERSET of the true
    heavy keys — rows of light keys are dropped before the exchange,
    and the final exact HAVING removes the false positives.  The
    oracle is therefore the plain GROUP BY ... HAVING, with no sketch
    anywhere — proving the optimization is answer-preserving.

    Scale shape (the reason this exists): at 100 TB with a keyspace
    too wide to aggregate exactly, the sketch pass is FIXED-SIZE
    state (d=4 x w=4096 cells, partials merged by cell-wise sum);
    pass two probes the cells through four BROADCAST hash joins on
    the map-side-computed buckets (each cell table is <= 4096 rows of
    control plane), so the filter never causes an exchange — the
    exact aggregation's shuffle then carries only the heavy tail.
    Frequency-based dynamic filtering, the same discipline as
    join_runtime_bloom but for aggregation.  Buckets come from
    xxhash64 — the sketch never appears in the oracle, so the hash
    needs speed, not portability (unlike agg_cms_portable, whose
    CELLS are the checked output).  (Two rejected designs, measured:
    a 16k-element array-literal lookup — PySpark F.lit(list) compiles
    to a per-row CreateArray, not a constant — and md5 bucketing,
    each ~2x slower.)
    """
    li = t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("key"))
    stats = li.agg(
        F.count("*").alias("tot"), F.countDistinct("key").alias("k")
    ).collect()[0]
    thr = (3 * stats.tot) // (2 * stats.k)

    def bucket(j: int):
        # xxhash64, not md5: the sketch is internal (the oracle never
        # replays it — the filter is answer-preserving), so the
        # bucketing hash only needs speed, and xxhash64 is JVM-side
        # codegen vs md5's hex round-trip (measured 2x on this key).
        return F.pmod(F.xxhash64(F.col("key"), F.lit(j)), F.lit(4096)).cast("int")

    hashed = li.select(
        "key",
        F.explode(
            F.array(*[F.struct(F.lit(j).alias("j"), bucket(j).alias("b")) for j in range(4)])
        ).alias("s"),
    ).select("key", "s.j", "s.b")
    # r17 optimization: the probe needs only the PREDICATE
    # min_j(cell[j][b_j(key)]) >= thr, never the estimate itself, and
    # that factors as AND_j(cell[j][b_j(key)] >= thr) — a per-j BUCKET
    # SET membership test.  The r16 design shipped the cells as four
    # broadcast-joined relations, but ``spark.createDataFrame(pandas)``
    # is NOT a LocalTableScan: it parallelizes into
    # defaultParallelism partitions, so each of the four broadcast
    # builds ran a 32-task Spark job per execution (measured:
    # 4 jobs x 32 tasks, ~40% of the key's per-execution tasks).  The
    # sets are driver-resident control plane (<= w = 4096 ints per j),
    # so the probe is now four InSet FILTERS — no joins, no broadcast
    # builds, one codegen span over the scan.  Data-adaptive encoding
    # keeps the literal small at every scale: whichever of
    # {heavy buckets} / {light buckets} is smaller is the set (true
    # heavy-hitter corpora have sparse heavy sets; uniform fixtures
    # have sparse light sets).  Answer-preserving for the same reason
    # as before: every row's bucket is present in the cells relation
    # (its own count contributes), so NOT-IN(light) === IN(heavy)
    # === cell >= thr, a SUPERSET of the true heavy keys, and the
    # exact HAVING below removes false positives.
    cell_pdf = (
        hashed.groupBy("j", "b").agg(F.count("*").alias("cell")).toPandas()
    )  # Arrow transfer — 16k rows, ~ms; plain collect() rows are 10x+
    cond = F.lit(True)
    for j in range(4):
        pj = cell_pdf[cell_pdf["j"] == j]
        # native ints: pandas yields numpy scalars, which F.lit rejects
        heavy = [int(b) for b in pj.loc[pj["cell"] >= thr, "b"]]
        light = [int(b) for b in pj.loc[pj["cell"] < thr, "b"]]
        bj = bucket(j)
        cond = cond & (~bj.isin(light) if len(light) <= len(heavy) else bj.isin(heavy))
    survivors = li.filter(cond).select("key")
    return (
        survivors.groupBy(F.col("key").alias("l_partkey"))
        .agg(F.count("*").alias("n_lines"))
        .filter(F.col("n_lines") >= thr)
        .withColumn("thr", F.lit(thr).cast("long"))
        .orderBy(F.col("n_lines").desc(), "l_partkey")
    )


@query(
    "agg_exact_quantile_grouped",
    """
    WITH c AS (
      SELECT o_orderpriority AS grp,
             CAST(o_totalprice * 100 AS BIGINT) AS cents
      FROM orders
    ),
    ranked AS (
      SELECT grp, cents,
             row_number() OVER (PARTITION BY grp ORDER BY cents) AS rn,
             count(*) OVER (PARTITION BY grp) AS n
      FROM c
    )
    SELECT grp AS o_orderpriority, n AS n_orders,
           cents AS p90_cents
    FROM ranked
    WHERE rn = greatest(1, (9 * n + 9) // 10)
    ORDER BY grp
    """,
)
def agg_exact_quantile_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group p90 (discrete quantile, rank ceil(0.9n)) with
    NO per-group sort — the grouped generalization of
    agg_exact_median_twopass:

    1. one partial-aggregated pass builds a (group, cents-bin)
       histogram — #groups x #occupied-bins rows to the driver
       (control-plane: 5 priorities x ~1000 bins here);
    2. the driver walks each group's bins to locate the bin holding
       rank ceil(0.9·n_g) and the residual in-bin rank;
    3. a second scan filters to the <=#groups target bins (a pushed
       disjunction of tight range predicates) and ranks only those
       rows — per-group window input is ONE bin, not the group.

    Versus the oracle's full per-group row_number (a sort of every
    group), the engine sorts ~n/1000 rows per group.  All arithmetic
    is integer (cents, counts, ranks): value selection is immune to
    tie order, so both engines pick the identical k-th smallest
    cents.  At 100 TB this is the shape for per-tenant / per-day SLO
    percentiles where groups are large but numerous.
    """
    binw = 50_000
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.expr("cast(o_totalprice * 100 as bigint)").alias("cents"),
    )
    # No orderBy before the collect: the global sort added an extra
    # exchange + sort stage for rows the driver walks anyway, and the
    # driver-side sort of a control-plane-sized histogram is free
    # (r16 optimization; guide §2.4 "orderBy used only to make output
    # deterministic").
    hist = (
        o.groupBy("grp", (F.col("cents") / binw).cast("bigint").alias("bin"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    from collections import defaultdict

    per_group: dict = defaultdict(list)
    for r in sorted(hist, key=lambda r: (r.grp, r.bin)):
        per_group[r.grp].append((r.bin, r.cnt))
    targets = []  # (grp, bin, rank_in_bin, n)
    for grp, rows in per_group.items():
        n = sum(c for _, c in rows)
        k = max(1, (9 * n + 9) // 10)  # ceil(0.9 n), 1-based
        cum = 0
        for b, c in rows:
            if cum + c >= k:
                targets.append((grp, b, k - cum, n))
                break
            cum += c
    from pyspark.sql import Window as W

    tgt = o.sparkSession.createDataFrame(
        targets, "grp string, bin bigint, r bigint, n bigint"
    )
    in_bin = o.withColumn("bin", (F.col("cents") / binw).cast("bigint")).join(
        F.broadcast(tgt), ["grp", "bin"]
    )
    w = W.partitionBy("grp").orderBy("cents")
    return (
        in_bin.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == F.col("r"))
        .select(
            F.col("grp").alias("o_orderpriority"),
            F.col("n").alias("n_orders"),
            F.col("cents").alias("p90_cents"),
        )
        .orderBy("o_orderpriority")
    )
