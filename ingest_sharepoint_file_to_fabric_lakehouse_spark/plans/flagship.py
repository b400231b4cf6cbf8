"""Flagship query — TPC-H-Q3-shaped join+agg (SURVEY.md §7 M0).

Exercises in ONE Catalyst plan: parquet scan w/ pushdown, filter,
broadcast hash join (small dim), shuffle join (two large tables),
expression math, partial+final hash aggregation, sort, limit.

Scale notes: ``customer`` is the small side → explicit ``broadcast()``
hint (at 100 TB the customer slice for one mktsegment still fits the
default 10 MB–1 GB broadcast budget per ~1.5M rows/GB).  The
``lineitem ⋈ orders`` join shuffles on the orderkey — the natural,
uniformly-distributed TPC-H key, so no skew handling needed; AQE would
split stragglers anyway.  Revenue is summed as exact decimal so the
distributed aggregation tree is order-independent (core.dec).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import dec, money, query, staging_dir, t

FLAGSHIP_ORACLE = """
SELECT
  o_orderkey,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
              * CAST(1 - l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@query("flagship_q3_topk", FLAGSHIP_ORACLE)
def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem, filtered, top-10 revenue orders."""
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    revenue = money(F.sum(dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


_Q5_SQL = """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * CAST(1 - l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@query("sql_api_q5", _Q5_SQL)
def sql_api_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume) through the SQL ENTRY POINT:
    the tables register as temp views and the exact ANSI text the
    DuckDB oracle runs is handed to ``spark.sql`` — one query string,
    two engines, identical rows.  This is the parity statement for
    users who come to the engine through SQL rather than the
    DataFrame API: Catalyst plans the 6-way join from the same
    declarative text (dims broadcast, fact-fact shuffle on the order
    key, decimal-exact revenue), no DataFrame code involved.
    """
    for name in ("customer", "orders", "lineitem", "supplier", "nation", "region"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q5_SQL)


_EXISTS_SQL = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
  AND NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query("filter_exists_subquery", _EXISTS_SQL)
def filter_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL surface:
    customers with at least one large order and no failed order.
    Catalyst decorrelates both subqueries into a left-semi and a
    left-anti join on c_custkey (the same physical shapes
    join_left_semi/join_left_anti exercise directly) — the point is
    that the SQL-facing subquery forms plan to the scalable joins,
    not to per-row re-execution.  Identical ANSI text runs on both
    engines.
    """
    for name in ("customer", "orders"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_EXISTS_SQL)


_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE)
         AS o_totalprice,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS total_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (
        SELECT l_orderkey
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 150
      )
  AND c_custkey = o_custkey
  AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# Spark-side form: the IN subquery's per-order rollup IS the outer
# query's SUM(l_quantity) group — one lineitem aggregation feeds both
# the threshold filter and the projected total, so the fact is
# scanned and shuffled ONCE.  Catalyst does not share a repeated
# subtree across a subquery boundary (same limitation the staged
# supply view works around for Q2/Q11), so the dedup is written into
# the text; DuckDB's optimizer does materialize the shared CTE, so
# the oracle keeps the spec's two-reference form.  Values identical:
# total_qty ≡ the rollup, and HAVING > 150 ≡ the IN membership.
_Q18_SPARK_SQL = """
WITH qty AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS tq
  FROM lineitem
  GROUP BY l_orderkey
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE)
         AS o_totalprice,
       CAST(ROUND(tq, 2) AS DOUBLE) AS total_qty
FROM qty, orders, customer
WHERE tq > 150
  AND o_orderkey = l_orderkey
  AND c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@query("sql_api_q18", _Q18_SQL)
def sql_api_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer) through the SQL entry point —
    the IN-subquery-with-HAVING pattern: orders whose total line
    quantity exceeds a threshold, joined back out to the customer.

    The ORACLE runs the spec's two-reference text (IN subquery +
    outer re-aggregation); Spark runs ``_Q18_SPARK_SQL``, which
    computes the per-order quantity rollup ONCE and reuses it for
    both the threshold and the projected total — Catalyst plans the
    spec text with two full lineitem scan+shuffle trees because it
    never shares a subtree across a subquery boundary, and at 100 TB
    the second fact pass is pure waste (it re-derives a value the
    first pass already holds).  Plan: one lineitem exchange on
    l_orderkey (partial aggregation collapses each order's lines
    map-side), orders co-shuffles on the same key, customer
    broadcasts.  Quantity sums are exact decimals
    (order-independent aggregation tree); the HAVING threshold (150
    at fixture scale, 300 in the spec) keeps the surviving rollup
    selective.
    """
    for name in ("customer", "orders", "lineitem"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q18_SPARK_SQL)


_Q6_SQL = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("sql_api_q6", _Q6_SQL)
def sql_api_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure
    scan→filter→aggregate shape — no join, no group — that measures
    raw scan efficiency.  Every predicate (date range, discount band,
    quantity cap) pushes into the parquet scan as a PushedFilter, the
    aggregation is a two-stage partial/final sum, and the whole plan
    is one WholeStageCodegen span over the scan: at 100 TB this query
    IS the I/O path, and footer min/max skipping on a date-sorted
    layout (scan_rowgroup_skipping) makes the date predicate prune
    whole files before any CPU runs.  Identical ANSI text on both
    engines; decimal-exact revenue.
    """
    for name in ("lineitem",):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q6_SQL)


_Q10_SQL = """
SELECT c_custkey, c_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * CAST(1 - l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS revenue,
       c_acctbal, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
  AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("sql_api_q10", _Q10_SQL)
def sql_api_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top-20 customers by
    returned revenue in a quarter — the star-join + wide-group +
    top-k shape.  Catalyst broadcasts customer/nation, shuffles the
    lineitem⋈orders fact join on the order key, aggregates partially
    map-side on the (custkey, ...) group, and TakeOrderedAndProject
    replaces any global sort for the LIMIT.  Identical ANSI text on
    both engines; (revenue, custkey) ordering is deterministic via
    the decimal-exact 2-dp rounding + unique key tiebreak.
    """
    for name in ("customer", "orders", "lineitem", "nation"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q10_SQL)


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE)
         AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
         AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))
                      * CAST(1 + l_tax AS DECIMAL(4,2))), 2) AS DOUBLE)
         AS sum_charge,
       CAST((SUM(CAST(l_quantity AS BIGINT)) * 1000000
             - SUM(CAST(l_quantity AS BIGINT)) * 1000000 % count(*))
            / count(*) AS BIGINT) AS avg_qty_micro,
       CAST((SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) * 100
             - SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) * 100
               % count(*))
            / count(*) AS BIGINT) AS avg_price_e4,
       CAST((SUM(CAST(CAST(l_discount AS DECIMAL(4,2)) * 10000 AS BIGINT)) * 100
             - SUM(CAST(CAST(l_discount AS DECIMAL(4,2)) * 10000 AS BIGINT)) * 100
               % count(*))
            / count(*) AS BIGINT) AS avg_disc_micro,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("sql_api_q1", _Q1_SQL)
def sql_api_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report): the canonical
    scan→filter→wide-aggregate over the whole fact table — 8
    aggregates per (returnflag, linestatus) group, 4-6 groups total,
    so the plan is one pushed date filter + one partial/final hash
    aggregate whose shuffle carries a handful of rows.  At 100 TB
    this is pure scan bandwidth + map-side combine; no exchange ever
    sees data volume.

    Parity design (identical ANSI text on both engines): money
    aggregates are exact-decimal sums rounded to 2 dp; the three
    TPC-H averages ship in exact integer micro-units via the
    divisible-numerator identity ``(x - x % n) / n`` — BIGINT ``%``
    agrees across engines for positive operands, the adjusted
    numerator is exactly divisible, and the double division of an
    exact multiple below 2^53 is lossless, so no engine's
    decimal-division or float-mean semantics are ever invoked.
    (Above 2^53 the identity needs HUGEINT/DECIMAL(38,0) widening —
    at sf0.1 the largest numerator is ~5e13.)
    """
    for name in ("lineitem",):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q1_SQL)


_Q14_SQL = """
SELECT
  CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
                      THEN CAST(l_extendedprice AS DECIMAL(12,2))
                           * CAST(1 - l_discount AS DECIMAL(4,2))
                      ELSE CAST(0 AS DECIMAL(12,2)) END), 2) AS DOUBLE)
    AS promo_revenue,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
    AS total_revenue,
  CAST((SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                           * CAST(1 - l_discount AS DECIMAL(4,2))
                           * 10000 AS BIGINT)
                 ELSE CAST(0 AS BIGINT) END) * 10000
        - SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                             * CAST(1 - l_discount AS DECIMAL(4,2))
                             * 10000 AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END) * 10000
          % SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                     * CAST(1 - l_discount AS DECIMAL(4,2))
                     * 10000 AS BIGINT)))
       / SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(1 - l_discount AS DECIMAL(4,2))
                  * 10000 AS BIGINT)) AS BIGINT) AS promo_share_bp
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate <  TIMESTAMP '1996-10-01'
"""


@query("sql_api_q14", _Q14_SQL)
def sql_api_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): one month's promo-revenue share
    — a selective date band on the fact side, a broadcast join to
    part for the type flag, and conditional aggregation to a single
    row.  The date predicate pushes into the lineitem scan (at 100 TB
    with a date-sorted layout this is footer-level file skipping, cf.
    scan_rowgroup_skipping); part broadcasts, so the fact never
    shuffles at all — scan, map-side join, 1-row aggregate.

    The TPC-H percentage is 100*promo/total — float division.  Here
    the share ships in exact integer basis points via the same
    divisible-numerator identity as sql_api_q1, on revenue in 1e-4
    currency units (the decimal(17,4) product is exact, so the BIGINT
    conversion is lossless); identical ANSI text on both engines.
    """
    for name in ("lineitem", "part"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q14_SQL)


_Q19_SQL = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
         AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


@query("sql_api_q19", _Q19_SQL)
def sql_api_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, adapted): the disjunctive
    multi-table predicate query — three OR'd conjunctions mixing
    part-side (brand, size) and lineitem-side (quantity) bands.
    Catalyst splits the DNF: the lineitem-only disjunct
    ``l_quantity BETWEEN 1 AND 30`` (the union of the three quantity
    bands) and the part-only disjunct over (brand, size) are each
    pushed below the join as partial filters, part broadcasts, and
    the full residual predicate evaluates on the joined row — at
    100 TB the pushed quantity band and the broadcast hash lookup
    drop most fact rows before the residual ever runs.  The fixture
    schema carries no l_shipmode/l_shipinstruct/p_container, so the
    bands quote the columns it does have — the DNF pushdown shape,
    which is what Q19 exists to exercise, is unchanged.  Identical
    ANSI text on both engines; decimal-exact revenue.
    """
    for name in ("lineitem", "part"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q19_SQL)


_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL '60' DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("sql_api_q4", _Q4_SQL)
def sql_api_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking): orders in one quarter that
    had at least one line shipped late, counted per priority — the
    correlated-EXISTS-with-inequality pattern.  Catalyst decorrelates
    the subquery into a LEFT SEMI join on o_orderkey with the
    ``l_shipdate > o_orderdate + 60 days`` comparison as a residual
    join predicate (it references both sides, so it can't be pushed
    to either scan alone); the quarter band DOES push into the orders
    scan, and the semi-join's early-out means each order probes until
    its first late line, never materializing the multiplicity.  At
    100 TB both sides shuffle once on the uniformly-distributed order
    key — the same co-partitioning sql_api_q18 reuses.  The fixture
    carries no l_commitdate/l_receiptdate, so "late" is
    shipped-more-than-60-days-after-ordering — the decorrelation
    shape Q4 exists to exercise is unchanged.  Identical ANSI text on
    both engines; all-integer output.
    """
    for name in ("orders", "lineitem"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q4_SQL)


_Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c.c_custkey AS c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@query("sql_api_q13", _Q13_SQL)
def sql_api_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): how many
    customers placed 0, 1, 2, ... qualifying orders — the
    OUTER-join-then-double-aggregate shape.  The LEFT OUTER join is
    load-bearing twice: the extra ON predicate filters orders WITHOUT
    dropping order-less customers (a WHERE would turn it into an
    inner join and lose the 0 bucket — the classic outer-join
    semantics trap), and count(o_orderkey) counts 0 for the
    NULL-extended rows because count(col) skips NULLs.  At 100 TB the
    first aggregate shuffles on c_custkey (the same key the join just
    co-partitioned — one exchange serves both), and the second
    aggregate's input is order-count-distribution-sized, i.e.
    control-plane.  The fixture carries no o_comment, so the spec's
    NOT LIKE '%special%requests%' becomes a priority exclusion — the
    outer-join + conditional-ON shape is unchanged.  Identical ANSI
    text on both engines; all-integer output.
    """
    for name in ("customer", "orders"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q13_SQL)


_Q17_SQL = """
SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE)
         AS total_small_qty_revenue,
       count(*) AS n_lines,
       CAST((SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
               * 10000
             - SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
               * 10000 % 7)
            / 7 AS BIGINT) AS avg_yearly_e6
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#2'
  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                      FROM lineitem l2
                      WHERE l2.l_partkey = p.p_partkey)
"""


@query("sql_api_q17", _Q17_SQL)
def sql_api_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): lines of one brand
    whose quantity is below 20% of that part's average order quantity
    — the correlated SCALAR subquery pattern.  Catalyst decorrelates
    it into an aggregate-then-join: lineitem rolls up avg(l_quantity)
    per l_partkey once (partial map-side combine, one shuffle on
    partkey), and the outer fact joins against that rollup — the
    per-row re-execution a naive reading implies never happens.  At
    100 TB the rollup is part-cardinality-sized; the brand filter
    broadcasts through part.

    Determinism: quantities are integral doubles, so every partial
    sum is an exact integer below 2^53 and avg = exact_sum/count is
    the same IEEE double on both engines — the 0.2*avg threshold
    can't drift.  The spec's avg_yearly (sum/7.0) ships as exact
    integer 1e-6 currency units via the q1 divisible-numerator
    identity, next to the exact-decimal total.  Identical ANSI text
    on both engines.
    """
    for name in ("lineitem", "part"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q17_SQL)


_Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o    ON o.o_orderkey = l1.l_orderkey
JOIN nation n    ON s.s_nationkey = n.n_nationkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND n.n_name = 'NATION_3'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# Spark-side form: ONE lineitem pass instead of three.  The spec text
# scans the fact three times (outer + decorrelated LEFT SEMI for the
# EXISTS + LEFT ANTI for the NOT EXISTS); but all three correlate on
# l_orderkey, so the per-order facts they test are expressible as one
# two-level rollup: per (l_orderkey, l_suppkey) count the 'R' lines,
# then per l_orderkey count suppliers / flagged suppliers.  For an
# at-fault candidate row l1 (l_returnflag = 'R', supplier s):
#   EXISTS l2 (same order, other supplier)            ⇔ n_supp > 1
#   NOT EXISTS l3 (other supplier, also 'R')          ⇔ n_flagged = 1
#     (l1 itself flags s, so n_flagged >= 1 and the sole flagged
#     supplier IS s — max(CASE) recovers it)
#   count(*) over l1 rows                             ⇔ Σ n_r per order
#     (with n_flagged = 1 every 'R' line belongs to s).
# Catalyst never shares a repeated subtree across subquery boundaries
# (the Q18 limitation), so at 100 TB the spec text pays the fact scan
# + orderkey shuffle three times for values one pass already holds.
# The explicit REPARTITION(l_orderkey) establishes the partitioning
# ONCE: HashPartitioning(l_orderkey) satisfies the clustered
# distribution of BOTH aggregation levels (l_orderkey is a subset of
# (l_orderkey, l_suppkey)) and of the orders join, so the whole chain
# runs on a single fact exchange — measured 2 fewer exchanges and
# ~2.3x faster than the naive single-scan form at sf0.1, and the only
# fact-sized exchange at any scale.  The oracle keeps the spec's
# EXISTS/NOT-EXISTS text.
_Q21_SPARK_SQL = """
WITH li AS (
  SELECT /*+ REPARTITION(l_orderkey) */ l_orderkey, l_suppkey, l_returnflag
  FROM lineitem
),
per_supp AS (
  SELECT l_orderkey, l_suppkey,
         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_r
  FROM li
  GROUP BY l_orderkey, l_suppkey
),
per_order AS (
  SELECT l_orderkey,
         count(*) AS n_supp,
         SUM(CASE WHEN n_r > 0 THEN 1 ELSE 0 END) AS n_flagged,
         MAX(CASE WHEN n_r > 0 THEN l_suppkey END) AS flagged_supp,
         SUM(n_r) AS n_r_rows
  FROM per_supp
  GROUP BY l_orderkey
)
SELECT s.s_name AS s_name, CAST(SUM(p.n_r_rows) AS BIGINT) AS numwait
FROM per_order p
JOIN orders o   ON o.o_orderkey = p.l_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON s.s_suppkey = p.flagged_supp
JOIN nation n   ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_3'
WHERE p.n_supp > 1 AND p.n_flagged = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@query("sql_api_q21", _Q21_SQL)
def sql_api_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): suppliers in one
    nation who were the SOLE at-fault supplier on a multi-supplier
    finished order — the hardest decorrelation in the suite, one
    correlated EXISTS and one correlated NOT EXISTS against the same
    fact table the outer query already joins.

    The ORACLE runs the spec's double-correlated text; Spark runs
    ``_Q21_SPARK_SQL`` (see its comment for the equivalence proof),
    which folds both correlations into ONE two-level per-order rollup
    so the fact is scanned and shuffled once — the spec text plans as
    three full lineitem scan+shuffle trees (outer + LEFT SEMI + LEFT
    ANTI) because Catalyst never shares a subtree across a subquery
    boundary, and at 100 TB the second and third fact passes re-derive
    per-order facts the first pass already holds.  Plan: one lineitem
    exchange on (l_orderkey, l_suppkey), an AQE-coalesced rollup to
    l_orderkey, orders joining on the same key, supplier/nation
    broadcast.  The fixture carries no commit/receipt dates, so "at
    fault" is l_returnflag = 'R' — the semi-anti-double-correlation
    SEMANTICS Q21 exists to exercise are unchanged and still replayed
    literally by the oracle.  All-integer output, (numwait DESC,
    s_name) ordering deterministic.
    """
    for name in ("supplier", "lineitem", "orders", "nation"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q21_SPARK_SQL)


_Q22_SQL = """
SELECT c_mktsegment, count(*) AS numcust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE)
         AS totacctbal
FROM customer c
WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
  AND CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
      * (SELECT count(*) FROM customer c2
         WHERE c2.c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
           AND c2.c_acctbal > 0.0)
      > (SELECT SUM(CAST(CAST(c2.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
         FROM customer c2
         WHERE c2.c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
           AND c2.c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# Spark-side form: the spec text evaluates TWO uncorrelated scalar
# subqueries (count and sum over the same filtered customer slice) —
# Catalyst plans each as its own customer scan+aggregate because a
# scalar subquery returns exactly one column and the two trees are not
# identical (no subquery reuse fires).  One 1-row aggregate computing
# both, cross-joined in (broadcast, control-plane-sized), halves the
# threshold-side scans; n = 0 degenerates identically (the sum is NULL
# so the comparison is NULL-false in both forms).  The oracle keeps
# the spec's two-subquery text.
_Q22_SPARK_SQL = """
WITH thr AS (
  SELECT count(*) AS n,
         SUM(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)) AS s
  FROM customer
  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
    AND c_acctbal > 0.0
)
SELECT c_mktsegment, count(*) AS numcust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE)
         AS totacctbal
FROM customer c CROSS JOIN thr
WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
  AND CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) * thr.n > thr.s
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query("sql_api_q22", _Q22_SQL)
def sql_api_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): well-funded customers in
    target segments who have gone dormant (no order since 2000) — an
    UNCORRELATED scalar aggregate threshold plus a correlated NOT
    EXISTS anti-join in one query.  (Every fixture customer has at
    least one lifetime order, so the spec's "never ordered" predicate
    would be vacuously empty; the recency cutoff keeps the anti-join
    shape AND a non-trivial answer.)  Catalyst evaluates the scalar subquery once (a subquery
    broadcast/reused-exchange, never per-row), turns the NOT EXISTS
    into a LEFT ANTI join on c_custkey, and the segment IN-list
    pushes into both customer scans.  At 100 TB the anti-join is the
    only data-volume exchange; the threshold is one control-plane
    scalar.

    Parity design: the spec compares acctbal > avg(acctbal), but avg
    of DECIMAL returns DOUBLE in DuckDB and DECIMAL in Spark — an
    engine-semantics fork — so the comparison is restated in exact
    integer space as ``acctbal_cents * n > sum_cents`` (algebraically
    identical for n > 0, zero floats anywhere).  The fixture carries
    no c_phone, so the spec's country-code prefixes become market
    segments — the anti-join + global-aggregate-threshold shape is
    unchanged.

    The ORACLE runs the spec's two-scalar-subquery text; Spark runs
    ``_Q22_SPARK_SQL``, which computes count and sum in ONE 1-row
    aggregate cross-joined in (see its comment) — r16 optimization:
    the two scalar subqueries each planned their own customer
    scan+aggregate (no subquery reuse across non-identical trees), a
    repeated pass a single aggregate removes at any scale.
    """
    for name in ("customer", "orders"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q22_SPARK_SQL)


_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
             CAST(l.l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l.l_discount AS DECIMAL(4,2)) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01') shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@query("sql_api_q7", _Q7_SQL)
def sql_api_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade between two nations
    by supplier-side/customer-side direction and year — the
    double-dimension-lookup star: nation joins BOTH ends of the
    lineitem⋈orders⋈customer chain, with a symmetric OR predicate
    over the pair.  Catalyst broadcasts both nation lookups and the
    supplier dim, pushes the two-year ship-date band into the fact
    scan, and the only data-volume exchange is the lineitem⋈orders
    shuffle on the order key.  The OR-pair predicate evaluates after
    both nation joins (it references both sides) but the per-side
    implication (n_name IN (N1, N2)) prunes each dim broadcast to two
    rows.  Identical ANSI text on both engines; decimal-exact
    revenue, EXTRACT(YEAR) cast to BIGINT on both (Spark returns INT,
    DuckDB BIGINT — the cast removes the schema fork).
    """
    for name in ("supplier", "lineitem", "orders", "customer", "nation"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q7_SQL)


_Q8_SQL = """
SELECT o_year,
       CAST((SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume_e4
                      ELSE CAST(0 AS BIGINT) END) * 10000
             - SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume_e4
                        ELSE CAST(0 AS BIGINT) END) * 10000
               % SUM(volume_e4))
            / SUM(volume_e4) AS BIGINT) AS mkt_share_bp,
       count(*) AS n_lines
FROM (SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
             CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * CAST(1 - l.l_discount AS DECIMAL(4,2))
                  * 10000 AS BIGINT) AS volume_e4,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA'
        AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01') all_nations
GROUP BY o_year
ORDER BY o_year
"""


@query("sql_api_q8", _Q8_SQL)
def sql_api_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): one supplier nation's share
    of a part-type market inside one customer region, by order year —
    the deepest join tree in the suite (8 tables: the fact chain plus
    nation twice and region).  Every dimension broadcasts; the region
    filter prunes the customer side through two broadcast hops
    (nation→region), the part-type filter prunes the fact through the
    part broadcast, and the single data-volume exchange is again
    lineitem⋈orders.  The spec's share is sum(case)/sum — float
    division — so it ships as exact integer basis points over 1e-4
    currency units via the q1/q14 divisible-numerator identity
    (volume_e4 is lossless: the decimal(17,4) product is exact).
    Identical ANSI text on both engines.
    """
    for name in ("part", "lineitem", "supplier", "orders", "customer", "nation", "region"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q8_SQL)


_Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_returnflag IN ('R', 'A')
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("sql_api_q12", _Q12_SQL)
def sql_api_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping priority classes): line categories crossed
    with order-priority buckets — the join-then-conditional-count
    shape where the measure comes from the OTHER side of the join
    than the group key.  The category IN-list and the date band push
    into the lineitem scan; the fact-fact join shuffles on the order
    key and the conditional SUMs collapse map-side to
    category-cardinality rows.  The fixture carries no l_shipmode /
    l_commitdate / l_receiptdate, so categories are return flags and
    the year band filters ship dates — the
    cross-side-conditional-aggregate shape Q12 exists to exercise is
    unchanged.  Identical ANSI text on both engines; all-integer
    output.
    """
    for name in ("orders", "lineitem"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q12_SQL)


_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                       * CAST(1 - l_discount AS DECIMAL(4,2))
                       * 10000 AS BIGINT)) AS BIGINT) AS total_revenue_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue_e4
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue_e4 = (SELECT max(total_revenue_e4) FROM revenue)
ORDER BY s.s_suppkey
"""


@query("sql_api_q15", _Q15_SQL)
def sql_api_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) with the maximum
    quarterly revenue — the CTE-referenced-twice pattern (the spec
    uses a VIEW; the CTE is the same thing inline).  The revenue
    rollup aggregates lineitem once per reference unless the engine
    reuses it: Spark's scalar subquery executes the max() over one
    instance and the join consumes the other — both are
    supplier-cardinality-sized after the map-side partial agg, so the
    double evaluation costs two fact scans but no extra exchange
    volume; at 100 TB you'd materialize the CTE (the
    agg_incremental_merge pattern) if the double scan hurt.  Revenue
    is summed in exact integer 1e-4 currency units, so the max-equality
    join — the part of this query that floats would break — compares
    exact integers on both engines.  Identical ANSI text.
    """
    for name in ("lineitem", "supplier"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q15_SQL)


_LATERAL_SQL = """
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey,
       CAST(ROUND(CAST(t.o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE)
         AS o_totalprice
FROM customer c JOIN LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t ON true
WHERE c.c_custkey < 200
ORDER BY c.c_custkey, o_totalprice DESC, t.o_orderkey
"""


@query("join_lateral_topn", _LATERAL_SQL)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery through the SQL surface: each
    customer's top-2 orders by value via ``JOIN LATERAL (... ORDER BY
    ... LIMIT 2)`` — the SQL-standard spelling of top-N-per-group
    that application queries use when they can't (or won't) write
    window functions.  Catalyst decorrelates the LATERAL into the
    SAME physical shape as topk_per_group — a per-key ranked window
    over the co-partitioned join, never a per-customer re-execution
    of the inner query — which is the entire scale story: the naive
    reading is O(customers) subquery runs, the plan is one exchange.
    Identical ANSI text on both engines (``ON true`` is the spelling
    both parsers accept); decimal-exact price, deterministic
    (value, orderkey) ordering.
    """
    for name in ("customer", "orders"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_LATERAL_SQL)


_PARAM_SQL = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS total_cents
FROM orders
WHERE o_totalprice > :min_price AND o_orderdate >= :min_date
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query(
    "sql_api_parameterized",
    _PARAM_SQL.replace(":min_price", "250000")
    .replace(":min_date", "TIMESTAMP '1997-01-01'"),
)
def sql_api_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAMETERIZED SQL through the Spark 4 API: the query text
    carries named ``:param`` markers and the values arrive via
    ``spark.sql(text, args={...})`` — the injection-safe pattern every
    application layer needs (the engine receives values as typed
    literals, never string-spliced SQL), and the parameter markers
    keep the parse/plan cache keyed on ONE text across changing
    values.  The oracle runs the same text with the parameters bound
    to literals — by definition the semantics parameterization must
    preserve.  Exact-cents aggregate, all-integer output.
    """
    for name in ("orders",):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        _PARAM_SQL,
        args={
            "min_price": 250000,
            "min_date": "1997-01-01 00:00:00",
        },
    )


# Q2/Q11 need the part-supplier relation; the fixture has no partsupp
# table, so the suite derives it from lineitem history — (partkey,
# suppkey) pairs with cost/volume rollups.  The shape each query
# exists to exercise (the correlated-min, the scalar-threshold
# HAVING) is unchanged.
_SUPPLY_BODY = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT))
           AS ps_supplycost_cents,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_value_cents
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
"""

_SUPPLY_CTE = "WITH supply AS (" + _SUPPLY_BODY + ")\n"


def _supply_view(spark: SparkSession, sf_dir: str) -> None:
    """Register the part-supplier rollup as temp view ``supply`` —
    a STAGED fingerprint-gated layout (the same discipline as the
    BM25 inverted index and the PPJoin prefix frames).

    The rollup is a pure function of lineitem, and in the real TPC-H
    schema it IS a base table (partsupp); deriving it per query made
    Q2 re-aggregate lineitem three times and Q11 twice (Catalyst
    cannot reuse the CTE across the outer query and the correlated /
    scalar subquery — each reference is an independent subtree).  The
    staged form is read back partkey-sorted parquet; the steady-state
    queries join it like the dimension it semantically is.  The
    ORACLE keeps deriving it inline from lineitem (``_SUPPLY_CTE``) —
    identical values by construction, so the staging can never fork
    semantics.  A regenerated fixture rebuilds (source_fingerprint
    gate); the build pass is attributed via stamp_staging so bench
    cold-build accounting sees it.
    """
    from ..core import read_staged, source_fingerprint, staged_build

    path = staging_dir(sf_dir, "tpch_supply_v1")
    token = source_fingerprint(sf_dir, "lineitem")
    with staged_build(spark, token, path) as need:
        if need:
            t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
            # sortWithinPartitions on the probe key: consumers join /
            # aggregate on ps_partkey, and the sorted layout gives parquet
            # rowgroup min/max pruning on any partkey-sliced read.  The
            # groupBy's own hash partitioning is kept (at 100 TB this is
            # the bucketed-by-key partsupp table); no re-shuffle at build.
            (
                spark.sql(_SUPPLY_BODY)
                .sortWithinPartitions("ps_partkey", "ps_suppkey")
                .write.mode("overwrite")
                .parquet(path)
            )
    read_staged(spark, path).createOrReplaceTempView("supply")

_Q2_SELECT = """
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       ps_supplycost_cents
FROM part, supply, supplier, nation, region
WHERE p_partkey = ps_partkey
  AND s_suppkey = ps_suppkey
  AND p_size = 15
  AND p_type = 'SMALL'
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND ps_supplycost_cents = (
    SELECT MIN(ps_supplycost_cents)
    FROM supply, supplier, nation, region
    WHERE p_partkey = ps_partkey
      AND s_suppkey = ps_suppkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


_Q2_SQL = _SUPPLY_CTE + _Q2_SELECT


# Spark-side form (r17, guide §2.3/§2.4): the spec's correlated MIN
# decorrelates to a per-part min() aggregate over a SECOND copy of the
# supply⋈supplier⋈nation⋈region tree, joined back on (partkey, cost) —
# the whole inner tree (scan + broadcast dims + partkey exchange) ran
# once more per execution.  The min is computable as a WINDOW over the
# outer tree itself: the window partition is p_partkey, and the only
# outer-tree filters the inner tree lacks (p_size, p_type) are PART
# attributes — constant within a p_partkey partition — so for every
# surviving part the window's input rows are exactly the inner tree's
# correlated slice, and MIN OVER (PARTITION BY p_partkey) equals the
# correlated scalar.  Ties keep every min-cost supplier in both forms.
# The oracle runs the spec text; values are hash-verified identical.
_Q2_SPARK_SQL = """
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       ps_supplycost_cents
FROM (
  SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
         ps_supplycost_cents,
         MIN(ps_supplycost_cents)
           OVER (PARTITION BY p_partkey) AS min_cost_cents
  FROM part, supply, supplier, nation, region
  WHERE p_partkey = ps_partkey
    AND s_suppkey = ps_suppkey
    AND p_size = 15
    AND p_type = 'SMALL'
    AND s_nationkey = n_nationkey
    AND n_regionkey = r_regionkey
    AND r_name = 'EUROPE'
)
WHERE ps_supplycost_cents = min_cost_cents
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@query("sql_api_q2", _Q2_SQL)
def sql_api_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): for each qualifying part, the
    European supplier(s) offering it at the region-wide minimum cost —
    the correlated-MIN pattern (a scalar subquery correlated on the
    OUTER part key, over the same join tree the outer query walks).
    Spark runs ``_Q2_SPARK_SQL`` (r17): the correlated min as a WINDOW
    over the single join tree — Catalyst's decorrelation ran the whole
    supply⋈dims tree a second time and joined it back; the window form
    scans and shuffles the supply relation ONCE (equivalence proof at
    the SQL text).  At 100 TB the tree hash-shuffles on partkey once
    and the dims (supplier/nation/region) broadcast; the window reuses
    the partkey exchange.  The supply relation derives
    from lineitem (no partsupp in the fixture): min unit price in
    exact integer cents, so the min-equality join — where a float
    would break — compares exact integers on both engines.  Spark
    reads ``supply`` as the STAGED rollup (``_supply_view``: in the
    real schema it is the partsupp base table; deriving it inline
    made this query re-aggregate lineitem for the outer tree AND the
    decorrelated min tree); the oracle derives it inline — same
    SELECT text over the same relation.  Ordering pinned through
    (acctbal DESC, n_name, s_name, p_partkey).
    """
    for name in ("part", "supplier", "nation", "region"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    _supply_view(spark, sf_dir)
    return spark.sql(_Q2_SPARK_SQL)


_Q9_SQL = """
SELECT nation, o_year,
       CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         year(o_orderdate) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,4))
           * CAST(1 - l_discount AS DECIMAL(18,4))
           - CAST(p_retailprice AS DECIMAL(18,4))
           * CAST(l_quantity AS DECIMAL(18,4)) AS amount
  FROM part, supplier, lineitem, orders, nation
  WHERE s_suppkey = l_suppkey
    AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey
    AND s_nationkey = n_nationkey
    AND p_name LIKE '%gear%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@query("sql_api_q9", _Q9_SQL)
def sql_api_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): profit by supplier nation and
    order year over a 5-way star — the widest join tree in the suite
    (two facts + three dims on three different keys).  The scale
    story is join ORDER: the p_name filter cuts part to a sliver that
    broadcasts into lineitem FIRST (killing most fact rows before any
    shuffle), orders co-shuffles with the surviving lines on
    orderkey, and supplier→nation broadcast through the supplier key
    — one fact exchange total, which is what Catalyst picks with the
    selective filter pushed into the part scan.  Profit uses
    p_retailprice as the cost leg (no ps_supplycost in the fixture):
    exact decimal products, ROUND(...,2) before the double cast, so
    the engines agree bit-for-bit.  Identical ANSI text.
    """
    for name in ("part", "supplier", "lineitem", "orders", "nation"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q9_SQL)


_Q11_SELECT = """
SELECT ps_partkey,
       CAST(SUM(CAST(ps_value_cents AS DECIMAL(38,0))) AS BIGINT)
         AS part_value_cents
FROM supply, supplier, nation
WHERE ps_suppkey = s_suppkey
  AND s_nationkey = n_nationkey
  AND n_name = 'NATION_7'
GROUP BY ps_partkey
HAVING SUM(CAST(ps_value_cents AS DECIMAL(38,0))) * 500 > (
  SELECT SUM(CAST(ps_value_cents AS DECIMAL(38,0)))
  FROM supply, supplier, nation
  WHERE ps_suppkey = s_suppkey
    AND s_nationkey = n_nationkey
    AND n_name = 'NATION_7')
ORDER BY part_value_cents DESC, ps_partkey
"""


_Q11_SQL = _SUPPLY_CTE + _Q11_SELECT


@query("sql_api_q11", _Q11_SQL)
def sql_api_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): parts whose supply value within
    one nation exceeds a fixed fraction (1/500) of that nation's
    total — the scalar-threshold HAVING pattern.  The uncorrelated
    scalar subquery evaluates once and broadcasts into the HAVING
    filter; both sides aggregate the same supply⋈supplier⋈nation
    slice, so at 100 TB the rollup is computed per (partkey) with
    map-side partials and the global total is the same exchange
    re-reduced — no second corpus pass is forced by semantics (the
    materialize-once call is agg_incremental_merge's pattern).
    Value arithmetic is exact integer cents·quantity widened to
    decimal(38,0) BEFORE the SUM itself (``SUM(CAST(ps_value_cents
    AS DECIMAL(38,0)))``) in the HAVING, the scalar subquery, AND the
    projected per-part total: DuckDB sums bigint in HUGEINT while
    non-ANSI Spark's sum(bigint) accumulates in bigint and wraps
    silently — widening only after the SUM would guard the x500
    multiply but not the accumulation (the same trap
    sink_snapshot_diff hit in r6).  The projected total's final
    BIGINT cast is safe: a single part's supply value is bounded by
    suppliers-per-part (a dimension constant), not corpus scale.
    Spark reads ``supply`` as the STAGED rollup (``_supply_view``;
    the oracle derives it inline from lineitem — same SELECT text
    over the same relation), so the steady-state query aggregates
    the partsupp-sized table twice instead of re-rolling lineitem
    for both the HAVING scalar and the per-part totals.
    """
    for name in ("supplier", "nation"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    _supply_view(spark, sf_dir)
    return spark.sql(_Q11_SELECT)


_Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand <> 'Brand#5'
  AND p_type <> 'MEDIUM'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 100
"""


@query("sql_api_q16", _Q16_SQL)
def sql_api_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (part/supplier relationship): distinct supplier
    counts per (brand, type, size) bucket, EXCLUDING a denylisted
    supplier set — the NOT IN pattern.  s_suppkey is non-null, so
    Catalyst plans the NOT IN as a null-unaware LEFT ANTI against a
    broadcast of the (tiny) exclusion list — the cheap path; a
    nullable column would force the null-aware single-partition
    variant, which is why production schemas declare key columns NOT
    NULL.  count(DISTINCT) expands per group before the final
    reduce; the part filters broadcast into the fact scan.  The
    exclusion predicate adapts the spec's comment-pattern complaint
    filter to the fixture (negative account balance).  All-integer
    output, full ORDER BY — deterministic.  Identical ANSI text.
    """
    for name in ("lineitem", "part", "supplier"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q16_SQL)


_Q20_SQL = """
WITH shipped AS (
  SELECT l_suppkey AS sh_suppkey, l_partkey AS sh_partkey,
         CAST(SUM(l_quantity) AS BIGINT) AS sh_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey
)
SELECT s_name, s_acctbal
FROM supplier, nation
WHERE s_nationkey = n_nationkey
  AND n_name IN ('NATION_2', 'NATION_12', 'NATION_22')
  AND s_suppkey IN (
    SELECT sh_suppkey FROM shipped
    WHERE sh_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      AND sh_qty * 2 > (
        SELECT CAST(SUM(l_quantity) AS BIGINT) FROM lineitem
        WHERE l_partkey = sh_partkey
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'))
ORDER BY s_name
"""


@query("sql_api_q20", _Q20_SQL)
def sql_api_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (dominant-supply suppliers): suppliers in a nation
    set who, for some name-filtered part, shipped more than half that
    part's total 1996 volume — the NESTED IN + correlated-aggregate
    pattern (an IN whose subquery contains another IN and a scalar
    subquery correlated on the middle query's group key).  Catalyst
    unnests outside-in: the outer IN becomes a LEFT SEMI on suppkey,
    the part-name IN a semi on partkey, and the correlated SUM
    decorrelates into a per-part aggregate joined on partkey — three
    co-keyed shuffles, zero per-row re-execution.  The availqty
    comparison adapts to shipped volume (no partsupp): quantities are
    integral doubles, summed and CAST to BIGINT on both engines, so
    the *2 threshold is exact integer arithmetic.  s_name is unique —
    ORDER BY s_name is total.  Identical ANSI text.
    """
    for name in ("supplier", "nation", "lineitem", "part"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q20_SQL)
