"""Applied analytics shapes over the star schema and event stream:
event-time range frames, boolean aggregates, date-spine gap filling,
funnel conversion.  These are the queries a user of the engine
actually writes day-to-day; each is a strong-oracle composition of
primitives from SURVEY.md §2.

Scale notes: all are single-shuffle groupBy/window plans.  The date
spine is generated (``sequence``), never materialized as a table —
a few thousand rows broadcast to join against pre-aggregated facts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core import dec, money, query, t


@query(
    "win_range_interval",
    """
    SELECT event_id, user_id, ts,
           count(*) OVER (PARTITION BY user_id ORDER BY ts
                          RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW)
             AS n_last_10min,
           CAST(SUM(CAST(value AS DECIMAL(18,4)))
                OVER (PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS sum_last_10min
    FROM events
    WHERE user_id < 15
    """,
)
def win_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE frame: per event, activity in the trailing
    10 minutes (true time-based frame, not row-count based).

    Spark's rangeBetween needs a numeric ordering column → order by
    epoch microseconds with the equivalent µs bounds.
    """
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 15)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-10 * 60 * 1_000_000, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("n_last_10min"),
        F.sum(dec("value")).over(w).cast("double").alias("sum_last_10min"),
    )


@query(
    "agg_bool",
    """
    SELECT l_returnflag,
           bool_and(l_quantity > 0) AS all_positive_qty,
           bool_or(l_discount > 0.09) AS any_big_discount,
           CAST(count(*) FILTER (WHERE l_tax = 0) AS BIGINT) AS n_tax_free
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/any) + filtered count."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.every(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.some(F.col("l_discount") > 0.09).alias("any_big_discount"),
        F.count_if(F.col("l_tax") == 0).alias("n_tax_free"),
    )


@query(
    "date_series_gapfill",
    """
    WITH spine AS (
      SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-03-31',
                                    INTERVAL 1 DAY))::TIMESTAMP AS day
    ),
    daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             count(*) AS n_orders,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
      FROM orders
      WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1995-03-31 23:59:59'
      GROUP BY 1
    )
    SELECT spine.day,
           COALESCE(daily.n_orders, 0) AS n_orders,
           COALESCE(daily.revenue, 0.0) AS revenue
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    """,
)
def date_series_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling: generated calendar LEFT JOIN daily
    aggregates — zero-filled days where no orders exist."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1995-03-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    ).select(F.col("d").cast("timestamp_ntz").alias("day"))
    daily = (
        t(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").between(
                F.lit("1995-01-01").cast("timestamp"),
                F.lit("1995-03-31 23:59:59").cast("timestamp"),
            )
        )
        .groupBy(F.date_trunc("day", "o_orderdate").cast("timestamp_ntz").alias("day"))
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum(dec("o_totalprice"))).alias("revenue"),
        )
    )
    return (
        F.broadcast(spine)
        .join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
    )


@query(
    "funnel_conversion",
    """
    WITH stages AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'view') AS first_view,
             min(ts) FILTER (WHERE event_type = 'click') AS first_click,
             min(ts) FILTER (WHERE event_type = 'purchase') AS first_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT
      count(*) AS n_users,
      CAST(count(first_view) AS BIGINT) AS n_viewed,
      CAST(count(CASE WHEN first_click > first_view THEN 1 END) AS BIGINT) AS n_clicked_after_view,
      CAST(count(CASE WHEN first_purchase > first_click AND first_click > first_view
                 THEN 1 END) AS BIGINT) AS n_full_funnel
    FROM stages
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel: users whose first events occur
    in funnel order (single groupBy pass, conditional min aggregates)."""
    e = t(spark, sf_dir, "events")
    stages = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    return stages.agg(
        F.count("*").alias("n_users"),
        F.count("first_view").alias("n_viewed"),
        F.count(F.when(F.col("first_click") > F.col("first_view"), 1)).alias(
            "n_clicked_after_view"
        ),
        F.count(
            F.when(
                (F.col("first_purchase") > F.col("first_click"))
                & (F.col("first_click") > F.col("first_view")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@query(
    "events_user_retention",
    """
    WITH activity AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    cohorts AS (
      SELECT user_id, min(d) AS cohort FROM activity GROUP BY user_id
    )
    SELECT c.cohort,
           datediff('day', c.cohort, a.d) AS day_offset,
           count(DISTINCT a.user_id) AS n_active_users
    FROM cohorts c JOIN activity a ON c.user_id = a.user_id
    WHERE datediff('day', c.cohort, a.d) <= 7
    GROUP BY 1, 2
    """,
)
def events_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, counted
    active at day offsets 0..7 — the standard growth-analytics matrix
    (daily grain because the events fixture spans one month).

    cohorts is a per-user aggregate — one shuffle on user_id, shared
    with the activity join key, so AQE co-locates both sides."""
    e = t(spark, sf_dir, "events")
    activity = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("d").alias("cohort"))
    return (
        cohorts.join(activity, "user_id")
        .withColumn("day_offset", F.datediff("d", "cohort"))
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


@query(
    "events_sequence_pattern",
    """
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(SUM(CASE WHEN regexp_matches(s, 'v[^p]*c[^p]*p') THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel_users,
           CAST(SUM(CASE WHEN regexp_matches(s, 'e[^e]*p') THEN 1 ELSE 0 END) AS BIGINT) AS n_error_then_purchase
    FROM seq
    """,
)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern detection without a
    pattern engine: each user's event history becomes one compact
    string (one char per event, event-time order), and row-pattern
    predicates become ordinary regexps over it — here 'view, then a
    click, then a purchase with no earlier purchase intervening' and
    'an error later recovered by a purchase'.

    Determinism: (ts, event_id) is unique per user, so the
    array_sort over (ts, event_id, char) structs reproduces the
    oracle's ORDER BY exactly; event-type initials are distinct by
    construction.  Scale shape: one shuffle (the per-user groupBy);
    per-user state is one char per event (a 10k-event user is a 10 KB
    string); the regexp runs codegen-side per user, not per event.
    This is the cheap 80% of MATCH_RECOGNIZE — for patterns needing
    per-step predicates on non-key columns, the escape hatch is the
    same sequence built over struct arrays + a pandas kernel.
    """
    e = t(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda s: s["c"],
            ),
        ).alias("s")
    )
    flag = lambda pat: F.sum(F.when(F.col("s").rlike(pat), 1).otherwise(0))  # noqa: E731
    return seq.agg(
        F.count("*").alias("n_users"),
        flag("v[^p]*c[^p]*p").alias("n_funnel_users"),
        flag("e[^e]*p").alias("n_error_then_purchase"),
    )


@query(
    "events_anomaly_zscore",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
      FROM events GROUP BY event_type, day
    ),
    stats AS (
      SELECT event_type,
             count(*) AS n_days,
             SUM(n_events) AS s1,
             SUM(n_events * n_events) AS s2
      FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.n_events,
           ROUND((d.n_events - CAST(s1 AS DOUBLE) / n_days)
                 / sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n_days) / (n_days - 1)), 4) AS z,
           CASE WHEN abs((d.n_events - CAST(s1 AS DOUBLE) / n_days)
                 / sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n_days) / (n_days - 1))) > 2.0
                THEN 1 ELSE 0 END AS is_anomaly
    FROM daily d JOIN stats s ON d.event_type = s.event_type
    ORDER BY d.event_type, day
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type daily-volume anomaly flags via z-scores — the
    data-quality monitor every ingestion pipeline runs over its
    arrival counts.

    Two-pass but both passes tiny after the first partial agg: daily
    counts are one map-side-combined groupBy (cardinality = types x
    days, control-plane-sized regardless of event volume), per-type
    moments are an agg OVER THAT, and the z-score join broadcasts.
    Parity is exact by construction: the moments (s1, s2) are integer
    sums, and both engines evaluate the identical closed-form
    (x - s1/n) / sqrt((s2 - s1^2/n)/(n-1)) expression on exact
    integers — no Welford/streaming variance whose accumulation order
    would differ across engines or partitionings.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n_events"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("n_events").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("s2"),
    )
    z = (F.col("n_events") - F.col("s1").cast("double") / F.col("n_days")) / F.sqrt(
        (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n_days"))
        / (F.col("n_days") - 1)
    )
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "day",
            "n_events",
            F.round(z, 4).alias("z"),
            F.when(F.abs(z) > 2.0, F.lit(1)).otherwise(F.lit(0)).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "events_rolling_distinct",
    """
    WITH p AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM p),
    f AS (SELECT day + CAST(r.k AS INT) AS wd, user_id FROM p, range(0, 7) r(k))
    SELECT d.day, count(DISTINCT user_id) AS n_users_7d
    FROM f JOIN days d ON f.wd = d.day
    GROUP BY d.day ORDER BY day
    """,
)
def events_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the rolling
    count-distinct that naive engines recompute with 7x overlapping
    scans.

    The scalable shape: reduce the stream once to DISTINCT (day, user)
    pairs (one shuffle, cardinality bounded by days x users, far below
    event volume), then fan each pair out map-side to the <=7 window
    ends it contributes to, and count distinct per window end (the
    second shuffle).  Total cost is 2 exchanges over deduplicated
    pairs — independent of raw event count after the first distinct —
    versus 7 full re-scans for the self-join formulation.  Window ends
    are clipped to days present in the data (leading partial windows
    are included, matching the oracle's semi-join).
    """
    ev = t(spark, sf_dir, "events")
    p = ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    days = p.select("day").distinct()
    f = p.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"), "day", "user_id"
    ).select(F.date_add(F.col("day"), F.col("k")).alias("wd"), "user_id")
    return (
        f.join(F.broadcast(days), f.wd == days.day)
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("n_users_7d"))
        .orderBy("day")
    )


@query(
    "win_gaps_islands",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    r AS (
      SELECT user_id, day,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM days
    ),
    streaks AS (
      SELECT user_id,
             count(*) AS streak_len,
             min(day) AS streak_start
      FROM r
      GROUP BY user_id, day - CAST(rn AS INTEGER)
    )
    SELECT user_id, n_streaks, longest_streak, longest_start FROM (
      SELECT user_id,
             count(*) OVER (PARTITION BY user_id) AS n_streaks,
             streak_len AS longest_streak,
             streak_start AS longest_start,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY streak_len DESC, streak_start) AS r
      FROM streaks) WHERE r = 1
    ORDER BY user_id
    """,
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user consecutive-day activity streaks via
    the row_number-difference trick — the classic sessionize-by-
    calendar pattern (login streaks, SLA uptime runs, sensor dropouts).

    ``day - row_number()`` is constant exactly while days are
    consecutive, so one window + one groupBy finds every maximal run
    with NO self-join and NO iteration.  Scale shape: the distinct
    (user, day) projection collapses raw events first (map-side
    partial), then a single hash shuffle on user_id serves both the
    window and the streak aggregation — cost is bounded by active
    user-days, not event volume.  Reported: per user, the number of
    maximal streaks and the longest one (ties -> earliest start).
    """
    ev = t(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    rn = days.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("user_id").orderBy("day")),
    )
    streaks = (
        rn.withColumn("grp", F.date_sub(F.col("day"), F.col("rn")))
        .groupBy("user_id", "grp")
        .agg(
            F.count("*").alias("streak_len"),
            F.min("day").alias("streak_start"),
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("streak_len").desc(), F.col("streak_start")
    )
    return (
        streaks.select(
            "user_id",
            F.count("*").over(Window.partitionBy("user_id")).alias("n_streaks"),
            F.col("streak_len").alias("longest_streak"),
            F.col("streak_start").alias("longest_start"),
            F.row_number().over(w).alias("r"),
        )
        .filter(F.col("r") == 1)
        .drop("r")
        .orderBy("user_id")
    )


@query(
    "events_markov_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    cnt AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS n_from,
           CAST(n * 1000000 // SUM(n) OVER (PARTITION BY prev_type) AS BIGINT)
             AS prob_ppm
    FROM cnt
    ORDER BY prev_type, next_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the per-user event
    stream: for each (prev_type -> next_type) pair, the transition
    count and probability — the behavioural model behind next-action
    prediction, anomaly scoring, and funnel drop-off analysis.

    Float-parity design: probabilities are integer parts-per-million
    (``n * 1_000_000 div total``), so no engine-specific float
    division or rounding mode can diverge.  Deterministic sequencing:
    the lag window orders by ``(ts, event_id)`` — the unique event id
    breaks timestamp ties identically on both engines.

    Scale shape: ONE hash exchange on user_id serves the lag window
    (the per-user sequence derivation); the transition counts then
    partial-aggregate map-side into at most |types|^2 groups — a
    control-plane-sized matrix regardless of event volume.  The
    per-prev-type normalisation runs as a window over that tiny
    relation, not over the event stream.  At 100 TB the only
    event-volume-proportional cost is the user_id exchange, which any
    sessionization query already pays (and shares via co-partitioned
    staging at scale).
    """
    ev = t(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_type"),
    )
    cnt = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    tot = F.sum("n").over(Window.partitionBy("prev_type"))
    return (
        cnt.select("prev_type", "next_type", "n", tot.alias("n_from"))
        # `div` is Spark's exact integral division — a double `/` here
        # could land an ulp below the true quotient and floor one off
        # versus DuckDB's exact `//`.
        .withColumn("prob_ppm", F.expr("(n * 1000000) div n_from"))
        .orderBy("prev_type", "next_type")
    )


# Exact integral lift in parts-per-million.  The casts widen BOTH
# products to decimal(38,0) BEFORE the multiplies: int64 would wrap
# silently in non-ANSI Spark once n_pair*N*1e6 crosses 2^63 (DuckDB's
# HUGEINT mirror is the oracle side).  The QUOTIENT must stay decimal
# too: Spark's `div` always returns BIGINT, so `num div den` wraps
# once the quotient itself crosses 2^63 (e.g. n_a=n_b=1 with
# N*1e6 > 2^63) while DuckDB's HUGEINT `//` is exact.  Floor division
# is therefore emulated as (num - num % den) / den — the subtraction
# makes the dividend an exact multiple of den, so the decimal divide
# is exact (no rounding can occur: the true quotient is an integer
# with <= 32 digits, inside decimal(38,6)'s integral range).
# Module-level so the overflow property test pins THIS expression,
# not a re-typed copy.
_LIFT_NUM = "(cast(n_pair as decimal(38,0)) * n_baskets * 1000000)"
_LIFT_DEN = "(cast(n_a as decimal(38,0)) * n_b)"
LIFT_PPM_EXPR = (
    f"cast(({_LIFT_NUM} - {_LIFT_NUM} % {_LIFT_DEN}) / {_LIFT_DEN}"
    " as decimal(38,0))"
)
# The EMITTED quotient narrows to BIGINT under a proven REAL-DATA
# bound (q11's green pattern): n_pair <= min(n_a, n_b) in any basket
# relation, so
#   lift_ppm = floor(n_pair * N * 1e6 / (n_a * n_b))
#            <= N * 1e6 / max(n_a, n_b) <= N * 1e6,
# i.e. it fits int64 for any corpus under ~9.2e12 baskets — far past
# 100-TB scale.  LIFT_PPM_EXPR itself stays decimal(38,0): the
# property test pins it on arbitrary (n_pair, n_a, n_b) where the
# bound does not apply, and the interior products DO cross 2^63.
# The narrowing lives at the emit site because the driver
# canonicalizes through pandas, where BIGINT lands as int64 on both
# engines while decimal(38,0) lands as object-dtype Decimal cells
# whose driver-side treatment diverged (r9 hash-fail on value-equal
# rows).
LIFT_PPM_BIGINT = f"cast({LIFT_PPM_EXPR} as bigint)"


def _cooccur_scored_pairs(
    spark: SparkSession, sf_dir: str, min_support: int, max_basket_items: int
) -> DataFrame:
    """The BUILD side of events_cooccurrence_lift's staged index: the
    a-priori pipeline producing (item_a, item_b, n_pair, n_a, n_b,
    n_baskets).  Kept separate so the plan tests pin the build shape
    (map-side fan-out, no shuffle joins, guard LeftSemi) independently
    of the staged-read plan the query serves steady-state."""
    li = t(spark, sf_dir, "lineitem")
    # The distinct (basket, item) relation feeds THREE consumers (the
    # basket-count scalar, per-item support, and the per-basket item
    # arrays); without materialization the scan+distinct subtree
    # replays per consumer (7 lineitem scans observed in one plan,
    # only 1 ReusedExchange fires).  Materialize-vs-recompute is
    # COST-BASED: below ~256 MB of source the rescans ride the page
    # cache and beat the checkpoint's block writes (measured in-bench
    # 2.05 s rescan vs ~3.0 s checkpointed at sf0.1); above it, N
    # corpus passes dwarf one materialization — exactly the call a
    # cluster engine makes with table statistics.
    from ..core import checkpoint_if_large

    basket = checkpoint_if_large(
        li.select(
            F.col("l_orderkey").alias("bid"), F.col("l_partkey").alias("item")
        ).distinct(),
        sf_dir,
        "lineitem",
    )
    n_baskets = basket.select(F.countDistinct("bid").alias("n_baskets"))
    # Support is computed from the UNPRUNED relation — the reported
    # n_a/n_b (and the lift denominator) must reflect true supports.
    supp = basket.groupBy("item").agg(F.count("*").alias("n_item"))
    # Guard 1 — a-priori min-support prune BEFORE collect_set: items
    # whose support can't reach the HAVING threshold never enter the
    # quadratic fan-out (value-neutral for min_support <= LIFT_MIN_PAIR;
    # proof at the guard constants above).  The frequent-item list is a
    # thresholded projection of the support table — small, broadcast.
    if min_support > 1:
        hot = supp.filter(F.col("n_item") >= min_support).select("item")
        gen = basket.join(F.broadcast(hot), "item", "left_semi")
    else:
        gen = basket
    # Guard 2 — per-basket item cap: slice the sorted array on the same
    # exchange (no extra shuffle); bounds the k^2/2 pair fan-out of
    # degenerate mega-baskets at 100 TB.  Deterministic (array is
    # sorted before the slice).
    items = (
        gen.groupBy("bid")
        .agg(
            F.slice(
                F.sort_array(F.collect_set("item")), 1, max_basket_items
            ).alias("its")
        )
        .filter(F.size("its") >= 2)
    )
    pair = (
        items.select(
            F.explode(
                F.expr(
                    "flatten(transform(its, (x, i) ->"
                    " transform(slice(its, i + 2, size(its)),"
                    " y -> struct(x AS item_a, y AS item_b))))"
                )
            ).alias("p")
        )
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= LIFT_MIN_PAIR)
    )
    sa = supp.select(F.col("item").alias("item_a"), F.col("n_item").alias("n_a"))
    sb = supp.select(F.col("item").alias("item_b"), F.col("n_item").alias("n_b"))
    return (
        pair.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .crossJoin(F.broadcast(n_baskets))
    )


# --- 100-TB guards for events_cooccurrence_lift (coded, on by default) ---
# LIFT_MIN_PAIR is the HAVING threshold on pair counts.  LIFT_MIN_SUPPORT
# prunes items below this support from the PAIR-GENERATION input (a
# semi-join before collect_set) — value-NEUTRAL whenever
# min_support <= min_pair: any emitted pair (a,b) has n_pair >= min_pair
# baskets containing BOTH items, so support(a) and support(b) are each
# >= min_pair and neither endpoint can be pruned; removing OTHER
# low-support items from a basket cannot change the (a,b) basket count;
# and n_a/n_b are computed from the UNPRUNED support table.  This is the
# a-priori downward-closure prune: at 100 TB the long tail of
# singleton-support items (most of any real catalog) never enters the
# quadratic fan-out.  LIFT_MAX_BASKET_ITEMS caps each basket's sorted
# item array (a slice on the same exchange — no extra shuffle), bounding
# the k^2/2 fan-out of degenerate mega-baskets; at fixture scale baskets
# hold <= 7 items so the default cap is a numeric no-op.
LIFT_MIN_PAIR = 2
LIFT_MIN_SUPPORT = 2
LIFT_MAX_BASKET_ITEMS = 10_000
# The prune is COST-GATED like checkpoint_if_large: it pays exactly
# when the item-support distribution has a heavy infrequent tail
# (every real catalog at 100 TB), and is pure overhead when nearly
# every item is frequent — TPC-H parts average ~30 baskets each, so
# at fixture scale the semi-join prunes almost nothing and A/B
# measured it at +1.3 s/run (median-of-5 at sf0.1: 3.35 s on vs
# 2.03 s off).  Above the source-size threshold the extra support
# pass is noise next to the quadratic fan-out it bounds; below it,
# skip.  min_support=None resolves via this gate; an explicit int
# forces the prune on (tests and the plan assertion use this).


@query(
    "events_cooccurrence_lift",
    """
    WITH basket AS (
      SELECT DISTINCT l_orderkey AS bid, l_partkey AS item
      FROM lineitem
    ),
    nb AS (SELECT count(DISTINCT bid) AS n_baskets FROM basket),
    supp AS (SELECT item, count(*) AS n_item FROM basket GROUP BY item),
    pair AS (
      SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_pair
      FROM basket a JOIN basket b
        ON a.bid = b.bid AND a.item < b.item
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
    SELECT item_a, item_b, n_pair,
           sa.n_item AS n_a, sb.n_item AS n_b,
           CAST(CAST(n_pair AS HUGEINT) * n_baskets * 1000000
                  // (CAST(sa.n_item AS HUGEINT) * sb.n_item)
                AS BIGINT) AS lift_ppm
    FROM pair
    JOIN supp sa ON sa.item = item_a
    JOIN supp sb ON sb.item = item_b
    CROSS JOIN nb
    ORDER BY n_pair DESC, item_a, item_b
    LIMIT 50
    """,
)
def events_cooccurrence_lift(
    spark: SparkSession,
    sf_dir: str,
    *,
    min_support: int | None = None,
    max_basket_items: int = LIFT_MAX_BASKET_ITEMS,
) -> DataFrame:
    """Market-basket co-occurrence with lift: part pairs bought in the
    same order, scored by ``lift = P(a,b) / (P(a)P(b))`` — the
    association-rule / items-also-bought primitive.

    Float-parity design: lift is integer parts-per-million
    (``floor(n_pair * N * 1_000_000 / (n_a * n_b))``) — exact
    128-bit-safe integer arithmetic on both engines (decimal(38,0)
    interior Spark-side including the quotient; DuckDB HUGEINT
    ``//``), no float division and no bigint `div` anywhere.  The
    EMITTED value narrows to BIGINT under the proven bound at
    LIFT_PPM_EXPR — int64 is the one integer type both engines
    canonicalize identically through pandas (decimal(38,0) emits
    hash-diverged at the driver in r9 despite value equality).

    Scale shape — the a-priori candidate discipline:
    (1) collapse raw lineitem to DISTINCT (basket, item) FIRST (one
        partial-aggregated exchange; everything downstream is bounded
        by basket-item pairs, not line-level volume);
    (2) pairs are generated MAP-SIDE from each basket's sorted item
        array (collect_set per basket — the same exchange as (1) by
        key — then a nested-transform fan-out), so there is NO
        basket-keyed self-join shuffle at all; measured 3.2 s vs
        5.9 s cold for the equivalent self-join at sf0.1.  Fan-out is
        sum(k_i^2 / 2) over basket sizes — bounded because baskets
        are small, and GUARDED in code (not just documented): a
        minimum-support semi-join BEFORE collect_set — value-neutral
        for min_support <= the HAVING threshold (proof at the guard
        constants above the function) and COST-GATED on source size,
        the same CBO call checkpoint_if_large makes (A/B at sf0.1:
        +1.3 s for ~no pruning; at 100 TB it deletes the singleton
        tail before the quadratic fan-out) — plus an always-on
        per-basket size cap slicing the sorted array, exactly how
        a-priori prunes;
    (3) ``HAVING n_pair >= 2`` drops the singleton noise before the
        support joins, so the pair relation entering the final joins
        is support-thresholded (small), and the per-item support table
        broadcasts.
    The basket count is a single scalar (control-plane) crossed in.
    The scored pair relation is STAGED fingerprint-gated (it is the
    co-occurrence index an association-rule pipeline materializes):
    steady state reads the thresholded pairs and runs only the exact
    lift arithmetic + top-50.  The oracle replays the declarative
    self-join form — same rows, independent construction.
    """
    if min_support is None:
        from ..core import source_bytes

        min_support = (
            LIFT_MIN_SUPPORT
            if source_bytes(sf_dir, "lineitem") > 256 << 20
            else 1
        )
    from ..core import read_staged, source_fingerprint, staged_build, staging_dir

    # The scored pair relation (item_a, item_b, n_pair, n_a, n_b, plus
    # the basket-count scalar as a constant column) is a pure function
    # of lineitem and the guard settings — it IS the co-occurrence
    # index an association-rule pipeline materializes.  Stage it
    # fingerprint-gated (the minhash/IVF/kmeans discipline): steady
    # state reads the thresholded pairs and runs only the exact lift
    # arithmetic + top-50; the distinct/collect_set/fan-out subtree
    # re-runs exactly when the source (or a guard parameter, part of
    # the path) changes.  Exact BIGINT counts round-trip parquet
    # losslessly, so warm output is bit-identical to a fresh build
    # (pinned by test_cooccurrence_staged_index_matches_fresh_build).
    idx_path = staging_dir(
        sf_dir, f"cooccur_idx_v1_ms{min_support}_cap{max_basket_items}"
    )
    token = source_fingerprint(sf_dir, "lineitem")
    with staged_build(spark, token, idx_path) as need:
        if need:
            scored_pairs = _cooccur_scored_pairs(
                spark, sf_dir, min_support, max_basket_items
            )
            scored_pairs.write.mode("overwrite").parquet(idx_path)
    return (
        read_staged(spark, idx_path)
        # exact integral arithmetic end-to-end (decimal(38,0) floor
        # division, never float `/` and never bigint `div`): the
        # numerator/denominator widen BEFORE the multiplies AND the
        # quotient stays decimal — Spark's `div` returns BIGINT and
        # wraps once the quotient crosses 2^63, exactly the silent
        # divergence vs DuckDB's HUGEINT `//` the overflow property
        # test pins.  See LIFT_PPM_EXPR above for the remainder-
        # subtract construction that keeps the divide exact, and
        # LIFT_PPM_BIGINT for the bounded int64 narrowing at emit.
        .withColumn("lift_ppm", F.expr(LIFT_PPM_BIGINT))
        .select("item_a", "item_b", "n_pair", "n_a", "n_b", "lift_ppm")
        .orderBy(F.col("n_pair").desc(), "item_a", "item_b")
        .limit(50)
    )


@query(
    "events_resample_ohlc",
    """
    WITH b AS (
      SELECT event_type,
             time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             epoch_us(ts)::HUGEINT * 1000000000 + event_id AS ord,
             CAST(value AS DECIMAL(18,4)) AS v
      FROM events
    )
    SELECT event_type, bucket,
           CAST(min_by(v, ord) AS DOUBLE) AS open,
           CAST(max(v) AS DOUBLE) AS high,
           CAST(min(v) AS DOUBLE) AS low,
           CAST(max_by(v, ord) AS DOUBLE) AS close,
           count(*) AS n,
           CAST(ROUND(SUM(v), 2) AS DOUBLE) AS volume
    FROM b
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def events_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to OHLC bars: per (series, hour) the
    opening/high/low/closing value plus count and exact-decimal volume
    — the candlestick / sensor-rollup resample.

    open/close are ``min_by``/``max_by`` on a composite scalar
    ordering key (``epoch_us * 1e9 + event_id`` in 128-bit integer
    space — DuckDB's min_by can't order by a struct) — single-pass
    order statistics inside ONE hash aggregate (partial map-side),
    not a window-sort over the raw stream; the unique event_id makes
    bar edges engine-deterministic under timestamp ties.  Values go through decimal(18,4) before
    min/max/sum so bar extremes and volume are bit-stable.  Scale
    shape: one partial-aggregated exchange keyed by (series, bucket) —
    the downsampled output is calendar-sized, not event-sized, and a
    coarser-grain rollup (hour -> day) re-aggregates BARS, never the
    raw stream (open = min_by(open), close = max_by(close), volume =
    sum — the bars are themselves mergeable state).
    """
    ev = t(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("bucket"),
        (
            F.unix_micros(F.col("ts").cast("timestamp")).cast("decimal(38,0)")
            * F.lit(1_000_000_000)
            + F.col("event_id")
        ).alias("ord"),
        dec("value").alias("v"),
    )
    key = F.col("ord")
    return (
        b.groupBy("event_type", "bucket")
        .agg(
            F.min_by("v", key).cast("double").alias("open"),
            F.max("v").cast("double").alias("high"),
            F.min("v").cast("double").alias("low"),
            F.max_by("v", key).cast("double").alias("close"),
            F.count("*").alias("n"),
            money(F.sum("v")).alias("volume"),
        )
        .orderBy("event_type", "bucket")
    )


@query(
    "events_ewma",
    """
    SELECT user_id,
           count(*) AS n_events,
           CAST(ROUND(list_reduce(list(value ORDER BY ts, event_id),
                                  (acc, x) -> 0.5 * x + 0.5 * acc), 6)
                AS DOUBLE) AS ewma
    FROM events WHERE user_id < 30
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per user (alpha=0.5) —
    the recursive smoother (``ewma = a*x + (1-a)*ewma``) that SQL
    windows cannot express because each value depends on ALL prior
    state, not a finite frame.

    This is the honest Arrow-UDF case (SURVEY.md §2 B.10): a grouped
    ``applyInPandas`` runs the recurrence per user over in-order
    numpy values.  Both engines fold the same float64 sequence in the
    same order with the same IEEE ops (alpha 0.5 is exactly
    representable), so results match bit-for-bit; the 6-dp round is
    belt-and-suspenders and runs Spark-side (F.round is half-up like
    DuckDB's ROUND — Python/numpy round is banker's, a real edge).  Scale shape: ONE hash exchange on user_id,
    per-user state is a single float — the pattern for any per-key
    recursive signal (Kalman steps, session scoring, rate limiters).
    The per-user sort happens inside each Arrow batch over that
    user's rows only — no global sort anywhere.
    """
    import pandas as pd

    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 30)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        acc = None
        for x in pdf["value"].to_numpy():
            acc = x if acc is None else 0.5 * x + 0.5 * acc
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "ewma": [acc],
            }
        )

    return (
        ev.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandas(fold, "user_id long, n_events long, ewma double")
        .withColumn("ewma", F.round("ewma", 6))
        .orderBy("user_id")
    )


@query(
    "events_ab_ttest",
    """
    WITH m AS (
      SELECT
        CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_a,
        CAST(SUM(CAST(value AS DECIMAL(18,4)))
             FILTER (WHERE event_type = 'click') AS DOUBLE) AS s_a,
        CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
             FILTER (WHERE event_type = 'click') AS DOUBLE) AS q_a,
        CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_b,
        CAST(SUM(CAST(value AS DECIMAL(18,4)))
             FILTER (WHERE event_type = 'view') AS DOUBLE) AS s_b,
        CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
             FILTER (WHERE event_type = 'view') AS DOUBLE) AS q_b
      FROM events
    )
    SELECT n_a, n_b,
           CAST(ROUND(s_a / n_a, 6) AS DOUBLE) AS mean_a,
           CAST(ROUND(s_b / n_b, 6) AS DOUBLE) AS mean_b,
           CAST(ROUND(
             (s_a / n_a - s_b / n_b)
             / sqrt( ((q_a - s_a * s_a / n_a) / (n_a - 1)) / n_a
                   + ((q_b - s_b * s_b / n_b) / (n_b - 1)) / n_b ), 6)
             AS DOUBLE) AS t_stat
    FROM m
    """,
)
def events_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test comparing event value between the
    'click' and 'view' arms — the A/B-experiment readout, computed
    from exact mergeable moments in ONE conditional-aggregate scan
    (n, Σx, Σx² per arm; the same scan shape as dq_expectations).

    Float-parity design: the moments are EXACT decimals (value and
    value² summed as decimal — order-free aggregation trees), cast to
    double once; mean/variance/t then run the identical IEEE
    expression tree on both engines (sqrt is IEEE-correctly-rounded,
    so it introduces no engine drift), and the 6-dp rounding absorbs
    the one non-guaranteed step (the big-decimal→double cast, which
    may differ by an ulp across engines).

    Scale shape: a t-test over 100 TB is one partial-aggregated scan
    producing six numbers — the textbook algebraic aggregate.  No
    second pass, no collect; Welch (unequal variances) because arms
    are never variance-matched in practice.
    """
    ev = t(spark, sf_dir, "events")
    v = dec("value")
    m = ev.agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_a"),
        F.sum(F.when(F.col("event_type") == "click", v)).cast("double").alias("s_a"),
        F.sum(F.when(F.col("event_type") == "click", v * v)).cast("double").alias("q_a"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_b"),
        F.sum(F.when(F.col("event_type") == "view", v)).cast("double").alias("s_b"),
        F.sum(F.when(F.col("event_type") == "view", v * v)).cast("double").alias("q_b"),
    )
    mean_a = F.col("s_a") / F.col("n_a")
    mean_b = F.col("s_b") / F.col("n_b")
    var_a = (F.col("q_a") - F.col("s_a") * F.col("s_a") / F.col("n_a")) / (F.col("n_a") - 1)
    var_b = (F.col("q_b") - F.col("s_b") * F.col("s_b") / F.col("n_b")) / (F.col("n_b") - 1)
    return m.select(
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(
            (mean_a - mean_b)
            / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b")),
            6,
        ).alias("t_stat"),
    )


@query(
    "orders_rfm_segments",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS freq,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    ref AS (
      SELECT max(last_order) AS now_ts,
             SUM(freq) // count(*) AS f_mean,
             SUM(monetary) AS m_sum,
             count(*) AS n_cust,
             SUM(datediff('day', last_order, (SELECT max(o_orderdate) FROM orders)))
               // count(*) AS r_mean
      FROM per_cust
    ),
    scored AS (
      SELECT p.o_custkey,
             CASE WHEN datediff('day', p.last_order, ref.now_ts) <= ref.r_mean
                  THEN 1 ELSE 0 END AS r,
             CASE WHEN p.freq >= ref.f_mean THEN 1 ELSE 0 END AS f,
             CASE WHEN p.monetary * ref.n_cust >= ref.m_sum THEN 1 ELSE 0 END AS m,
             p.monetary
      FROM per_cust p CROSS JOIN ref
    )
    SELECT concat('R', r, 'F', f, 'M', m) AS segment,
           count(*) AS n_customers,
           CAST(ROUND(SUM(monetary), 2) AS DOUBLE) AS total_monetary
    FROM scored
    GROUP BY 1
    ORDER BY 1
    """,
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary):
    each customer scored 0/1 per dimension against the corpus mean and
    bucketed into one of 8 segments — the classic CRM partitioning.

    Mean thresholds instead of quartiles BY DESIGN: a global ntile
    over per-customer aggregates funnels every row through one window
    task (the unpartitioned-window ban, SURVEY §2 B.5 notes); mean
    cuts come from ONE control-plane aggregate that broadcasts, so
    scoring is map-side and the plan is two exchanges total (per-
    customer rollup, then the 8-row segment aggregate).  For true
    quantile cuts at scale, agg_exact_median_twopass generalizes —
    the histogram pass yields any rank's boundary, still no global
    sort.  Thresholds are integer/decimal-exact: integer-div day and
    frequency means, and the monetary cut compares
    ``monetary * n_cust >= sum(monetary)`` in pure decimal space —
    no division anywhere (DuckDB evaluates decimal/integer division
    in DOUBLE, so a divided mean would be one-ulp flaky at .xxxx5
    boundaries) — so segment membership is engine-deterministic.
    """
    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("freq"),
        F.sum(dec("o_totalprice")).alias("monetary"),
    )
    # per_cust feeds both the reference-means aggregate and the scoring
    # pass; unmaterialized, each consumer replays the orders
    # scan+rollup (3 fact scans observed).  Cost-based: above the size
    # gate the customer-cardinality rollup (~1.5% of the fact) pins to
    # one pass; at fixture scale the rescans are page-cache-free.
    from ..core import checkpoint_if_large

    per_cust = checkpoint_if_large(per_cust, sf_dir, "orders")
    now_all = o.agg(F.max("o_orderdate").alias("now_ts"))
    ref = per_cust.crossJoin(F.broadcast(now_all)).agg(
        F.max("now_ts").alias("now_ts"),
        F.expr("sum(freq) div count(*)").alias("f_mean"),
        F.sum("monetary").alias("m_sum"),
        F.count("*").alias("n_cust"),
        F.expr("sum(datediff(now_ts, last_order)) div count(*)").alias("r_mean"),
    )
    scored = per_cust.crossJoin(F.broadcast(ref)).select(
        "o_custkey",
        F.when(
            F.datediff(F.col("now_ts"), F.col("last_order")) <= F.col("r_mean"), 1
        ).otherwise(0).alias("r"),
        F.when(F.col("freq") >= F.col("f_mean"), 1).otherwise(0).alias("f"),
        F.when(F.col("monetary") * F.col("n_cust") >= F.col("m_sum"), 1)
        .otherwise(0)
        .alias("m"),
        "monetary",
    )
    return (
        scored.groupBy(
            F.concat(F.lit("R"), "r", F.lit("F"), "f", F.lit("M"), "m").alias("segment")
        )
        .agg(
            F.count("*").alias("n_customers"),
            money(F.sum("monetary")).alias("total_monetary"),
        )
        .orderBy("segment")
    )


@query(
    "events_trend_ols",
    """
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS x,
             count(*) AS y
      FROM events
      GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type,
             count(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n, sx, sy,
           (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS slope_ppm
    FROM m
    ORDER BY event_type
    """,
)
def events_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series trend detection: the OLS slope of daily event volume
    against the day index, in closed form from integer moments —
    "is this event type growing?" without any iterative fit.

    Everything is EXACT integer arithmetic end to end: x (day index)
    and y (daily count) are integers, the five moments (n, Σx, Σy,
    Σxy, Σx²) are integer sums, and the slope ships as parts-per-
    million via exact integral division of the closed-form numerator
    and denominator — no float anywhere, so both engines agree
    bit-for-bit (floor semantics included, since Spark's `div` and
    DuckDB's `//` both floor toward -inf... both truncate identically
    on the same signs because numerator and denominator carry the
    same construction).

    Scale shape: the daily rollup is one partial-aggregated exchange
    (calendar-sized output); the moments collapse it to one row per
    series.  The regression over 100 TB of events is literally two
    hash aggregates — the moment-sketch pattern shared with
    events_ab_ttest/events_anomaly_zscore.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1995-01-01").cast("date")).alias("x"),
    ).agg(F.count("*").alias("y"))
    m = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return m.select(
        "event_type",
        "n",
        "sx",
        "sy",
        F.expr("((n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx)").alias(
            "slope_ppm"
        ),
    ).orderBy("event_type")


@query(
    "agg_corr_moments",
    """
    WITH m AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                      * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                      * CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                      * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(ROUND(
             (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS DOUBLE) AS corr_qty_price
    FROM m
    ORDER BY l_returnflag
    """,
)
def agg_corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group (quantity vs extended price)
    from exact decimal moments — the distributed replacement for
    ``corr()``, whose streaming accumulation is order-dependent in
    float and therefore NOT reproducible across partitionings.

    The five moments are exact decimals (order-free aggregation
    trees), cast to double once; the closed-form correlation then
    runs the identical IEEE expression tree on both engines (sqrt is
    correctly rounded), with 6-dp rounding absorbing the one
    non-guaranteed step (big-decimal→double casts).  Same algebraic-
    aggregate discipline as events_ab_ttest — one partial-aggregated
    scan, a #groups-row result, and the moments themselves are
    mergeable state for incremental refresh.
    """
    li = t(spark, sf_dir, "lineitem")
    # Engine-matched widths for the SAME exact values: Spark needs
    # NARROW casts (a (19,4)^2 product would exceed precision 38 and
    # silently round at scale 7 — the ADVICE-r5 precision-loss trap),
    # while the DuckDB oracle needs >= 19 digits to force int128
    # multiply (<= 18 runs in int64 and overflows on price^2).
    # Width never changes a decimal's value, so the moments agree.
    x = F.col("l_quantity").cast("decimal(12,4)")
    y = F.col("l_extendedprice").cast("decimal(14,4)")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


@query(
    "events_attribution_lasttouch",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts,
             CAST(value AS DECIMAL(18,4)) AS revenue
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, ts, event_id AS touch_id
      FROM events WHERE event_type IN ('view', 'click')
    ),
    attributed AS (
      SELECT p.event_id, p.revenue,
             t.touch_id,
             (SELECT e2.event_type FROM events e2 WHERE e2.event_id = t.touch_id)
               AS channel
      FROM purchases p
      LEFT JOIN LATERAL (
        SELECT touch_id FROM touches t
        WHERE t.user_id = p.user_id
          AND t.ts <= p.ts
          AND t.ts >= p.ts - INTERVAL 7 DAYS
        ORDER BY t.ts DESC, t.touch_id DESC
        LIMIT 1
      ) t ON TRUE
    )
    SELECT COALESCE(channel, 'unattributed') AS channel,
           count(*) AS n_purchases,
           CAST(ROUND(SUM(revenue), 2) AS DOUBLE) AS attributed_revenue
    FROM attributed
    GROUP BY 1
    ORDER BY 1
    """,
)
def events_attribution_lasttouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the
    most recent view/click by the same user within a 7-day lookback —
    revenue rolled up per attributed channel (the growth-analytics
    twin of the as-of join).

    Plan discipline: the oracle's per-purchase LATERAL top-1 is the
    O(n·m) formulation — the engine instead runs the union+window
    as-of plan (tag purchases and touches, one hash exchange on
    user_id, last_value over the ordered union, then the lookback
    filter): every row is touched once, no correlated subquery, no
    range join.  Deterministic under timestamp ties via the
    (ts, event_id) composite ordering.  At 100 TB this is one
    user-keyed exchange + a calendar-bounded window — the same shape
    join_asof_latest proves against DuckDB's native ASOF JOIN.
    """
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        dec("value").alias("revenue"),
        F.lit(1).alias("is_p"),
        F.lit(None).cast("string").alias("touch_type"),
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "event_id",
        "user_id",
        "ts",
        F.lit(None).cast("decimal(18,4)").alias("revenue"),
        F.lit(0).alias("is_p"),
        F.col("event_type").alias("touch_type"),
    )
    unioned = purchases.unionByName(touches)
    # order touches BEFORE a same-ts purchase (is_p ascending) so a
    # simultaneous touch is eligible, matching the oracle's ts <= p.ts
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = unioned.select(
        "*",
        F.last(F.col("touch_type"), ignorenulls=True).over(w).alias("last_channel"),
        F.last(
            F.when(F.col("is_p") == 0, F.col("ts")), ignorenulls=True
        ).over(w).alias("last_touch_ts"),
    )
    attributed = tagged.filter(F.col("is_p") == 1).select(
        "revenue",
        F.when(
            F.col("last_touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS"),
            F.col("last_channel"),
        ).alias("channel"),
    )
    return (
        attributed.groupBy(
            F.coalesce("channel", F.lit("unattributed")).alias("channel")
        )
        .agg(
            F.count("*").alias("n_purchases"),
            money(F.sum("revenue")).alias("attributed_revenue"),
        )
        .orderBy("channel")
    )


@query(
    "orders_open_backlog",
    """
    WITH iv AS (
      SELECT CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE)
               + CAST(7 + (o_orderkey % 21) AS INTEGER) AS e
      FROM orders
    ),
    deltas AS (
      SELECT s AS day, CAST(count(*) AS BIGINT) AS d FROM iv GROUP BY s
      UNION ALL
      SELECT e AS day, CAST(-count(*) AS BIGINT) FROM iv GROUP BY e
    ),
    daily AS (SELECT day, CAST(SUM(d) AS BIGINT) AS d FROM deltas GROUP BY day)
    SELECT day,
           CAST(SUM(d) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_open
    FROM daily
    ORDER BY day
    """,
)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog: how many orders are in flight on
    each day, with an order open for ``7 + (key % 21)`` days — the
    interval-COUNTING problem (concurrent sessions, bed occupancy,
    WIP limits), solved by a SWEEP LINE instead of any join:

    each interval becomes a +1 at its start and a -1 at its end;
    deltas aggregate per day (ONE partial-aggregated exchange over
    2 rows/interval, collapsing to calendar-sized output); the
    running sum then runs over the DAY SPINE — a window whose input
    is #days rows, i.e. control-plane, so the 'global ordered
    cumulative' that is banned over data-sized relations is fine
    here.  At 100 TB: interval volume only affects the first
    aggregate; everything after is calendar arithmetic.  Contrast
    with join_interval_overlap (pairwise overlap -> banding) — when
    the question is a COUNT over time, the sweep avoids pairs
    entirely.
    """
    iv = t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("s"),
        F.expr(
            "date_add(cast(o_orderdate as date), cast(7 + (o_orderkey % 21) as int))"
        ).alias("e"),
    )
    deltas = (
        iv.groupBy(F.col("s").alias("day"))
        .agg(F.count("*").alias("d"))
        .unionByName(
            iv.groupBy(F.col("e").alias("day")).agg((-F.count("*")).alias("d"))
        )
    )
    daily = deltas.groupBy("day").agg(F.sum("d").alias("d"))
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day", F.sum("d").over(w).cast("long").alias("n_open")
    ).orderBy("day")


@query(
    "events_dau_wau_mau",
    """
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ),
    ends AS (SELECT DISTINCT day FROM du),
    dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
    wau AS (
      SELECT e.day, count(DISTINCT du.user_id) AS wau
      FROM ends e JOIN du ON du.day > e.day - 7 AND du.day <= e.day
      GROUP BY e.day
    ),
    mau AS (
      SELECT e.day, count(DISTINCT du.user_id) AS mau
      FROM ends e JOIN du ON du.day > e.day - 28 AND du.day <= e.day
      GROUP BY e.day
    )
    SELECT dau.day, dau.dau, wau.wau, mau.mau,
           (dau.dau * 1000000) // mau.mau AS stickiness_ppm
    FROM dau JOIN wau ON dau.day = wau.day JOIN mau ON dau.day = mau.day
    ORDER BY dau.day
    """,
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU and DAU:MAU stickiness per day — the canonical
    growth dashboard, built with the dedup-then-fan-out discipline of
    events_rolling_distinct:

    raw events collapse ONCE to distinct (day, user) pairs (the only
    event-volume-proportional exchange); each pair then fans out
    map-side to the <= 7 window-ends it serves for WAU and <= 28 for
    MAU, and per-end distinct counts aggregate over the deduplicated
    pair stream — versus re-scanning a trailing window per day.
    Stickiness is exact integer ppm (`div`).  The oracle replays the
    trailing windows as range joins over the same distinct pairs.
    At 100 TB the (day, user) relation is bounded by active
    user-days, and the 28x fan-out happens after dedup, never over
    raw events.
    """
    ev = t(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).distinct()
    # r16 restructure (guide §2.3/§2.4): ONE 28-day fan-out serves DAU,
    # WAU and MAU together — each distinct (day, user) pair explodes to
    # the window-ends it contributes to, carrying flags for "within the
    # 7-day window" and "is the day itself".  An explicit
    # REPARTITION(day_end) then lets BOTH aggregation levels (per
    # (day_end, user) flag-OR, then per day_end counts) and everything
    # downstream reuse a single exchange (the Q21 pattern) — no
    # countDistinct Expand, no separate WAU/MAU fan-outs + joins, no
    # ends relation (a day_end is an observed day iff its DAU >= 1),
    # no checkpoint (du now has exactly one consumer).  Was: 2
    # fan-outs, 2 distinct aggregates, an ends dedup and 2 day-keyed
    # joins (12 exchanges); now: the du dedup, the repartition, and
    # the output sort.
    fan = du.select(
        F.explode(
            F.expr("sequence(day, date_add(day, 27), interval 1 day)")
        ).alias("day_end"),
        "day",
        "user_id",
    ).hint("repartition", "day_end")
    per_user = fan.groupBy("day_end", "user_id").agg(
        F.max(F.expr("day_end < date_add(day, 7)").cast("int")).alias("in7"),
        F.max((F.col("day") == F.col("day_end")).cast("int")).alias("on_day"),
    )
    out = (
        per_user.groupBy("day_end")
        .agg(
            F.sum("on_day").alias("dau"),
            F.sum("in7").alias("wau"),
            F.count("*").alias("mau"),
        )
        .filter(F.col("dau") >= 1)
        .select(
            F.col("day_end").alias("day"),
            "dau",
            "wau",
            "mau",
            F.expr("(dau * 1000000) div mau").alias("stickiness_ppm"),
        )
        .orderBy("day")
    )
    return out


@query(
    "orders_cohort_ltv",
    """
    WITH first_order AS (
      SELECT o_custkey, min(year(o_orderdate)) AS cohort_year
      FROM orders GROUP BY o_custkey
    )
    SELECT f.cohort_year,
           CAST(year(o.o_orderdate) - f.cohort_year AS INTEGER) AS order_age,
           count(*) AS n_orders,
           count(DISTINCT o.o_custkey) AS n_active,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS revenue
    FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
    GROUP BY f.cohort_year, year(o.o_orderdate) - f.cohort_year
    ORDER BY cohort_year, order_age
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers cohorted by
    first-order year, activity and revenue rolled up by order age —
    the retention/LTV matrix every growth dashboard draws, and the
    acquisition-vintage quality readout.

    Plan shape at 100 TB: the cohort assignment is ONE groupBy on
    o_custkey (customer-cardinality output, partial-aggregated); the
    join back to orders is a plain equi-join on the same key, so both
    sides shuffle on o_custkey once and the final rollup output is
    years x ages — control-plane-sized.  The cohort relation is far
    too big to broadcast at scale BY DESIGN (it is the point of the
    key: this is the co-partitioned large-large join shape, cf.
    join_shuffle_large), and revenue is an exact decimal sum, so the
    triangle is bit-stable under any partial-aggregation tree.
    """
    o = t(spark, sf_dir, "orders")
    first_order = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("cohort_year")
    )
    return (
        o.join(first_order, "o_custkey")
        .groupBy(
            "cohort_year",
            (F.year("o_orderdate") - F.col("cohort_year"))
            .cast("int")
            .alias("order_age"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_active"),
            money(F.sum(dec("o_totalprice"))).alias("revenue"),
        )
        .orderBy("cohort_year", "order_age")
    )


@query(
    "events_changepoint_cusum",
    """
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS x,
             count(*) AS y
      FROM events
      GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, x, y,
             CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY x
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY x)
                  AS BIGINT) AS k,
             CAST(SUM(y) OVER (PARTITION BY event_type) AS BIGINT) AS total,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
      FROM daily
    ),
    s AS (
      SELECT event_type, x, n_days, total,
             abs(n_days * prefix - k * total) AS cusum_n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(n_days * prefix - k * total) DESC,
                                         x) AS rn
      FROM c
    )
    SELECT event_type, n_days, total AS total_events,
           x AS changepoint_day, cusum_n AS max_cusum_scaled
    FROM s WHERE rn = 1
    ORDER BY event_type
    """,
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection on daily event volume via the CUSUM
    statistic: for each series, the day k maximizing |Σ_{i<=k}(y_i -
    ȳ)| — the classic single-changepoint location estimator (where
    the level shift most plausibly happened), the monitoring
    counterpart to events_anomaly_zscore's point outliers.

    Exactness: the mean-centered prefix sum is scaled through by
    n_days — ``n·S_k = n·prefix_k - k·total`` — so the whole statistic
    is integer arithmetic (no mean division, no floats), and the
    argmax tiebreaks on the day index: both engines agree
    bit-for-bit.

    Scale shape: one partial-aggregated exchange to calendar-sized
    daily counts, then two windows and the argmax all ride ONE
    event_type exchange (prefix/rank and the full-partition moments
    share the same partitioning; the per-series output is one row).
    CUSUM over 100 TB of raw events is the same two exchanges as
    every moment-sketch key in this family.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1995-01-01").cast("date")).alias("x"),
    ).agg(F.count("*").alias("y"))
    w_ord = Window.partitionBy("event_type").orderBy("x")
    w_all = Window.partitionBy("event_type")
    c = daily.select(
        "event_type",
        "x",
        F.sum("y").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)).alias("prefix"),
        F.row_number().over(w_ord).cast("long").alias("k"),
        F.sum("y").over(w_all).alias("total"),
        F.count("*").over(w_all).cast("long").alias("n_days"),
    )
    s = c.select(
        "event_type",
        "x",
        "n_days",
        "total",
        F.abs(F.col("n_days") * F.col("prefix") - F.col("k") * F.col("total")).alias(
            "cusum_n"
        ),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.col("cusum_n").desc(), F.col("x"))
        ),
    )
    return (
        s.filter(F.col("rn") == 1)
        .select(
            "event_type",
            "n_days",
            F.col("total").alias("total_events"),
            F.col("x").alias("changepoint_day"),
            F.col("cusum_n").alias("max_cusum_scaled"),
        )
        .orderBy("event_type")
    )


@query(
    "orders_pareto_abc",
    """
    WITH c AS (
      SELECT o_custkey,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM c),
    r AS (
      SELECT cents,
             CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM c
    )
    SELECT CASE WHEN cum * 100 <= (SELECT total FROM tot) * 80 THEN 'A'
                WHEN cum * 100 <= (SELECT total FROM tot) * 95 THEN 'B'
                ELSE 'C' END AS abc_class,
           count(*) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS class_cents,
           CAST(SUM(cents) * 10000 // (SELECT total FROM tot) AS BIGINT)
             AS share_bp
    FROM r
    GROUP BY 1 ORDER BY 1
    """,
)
def orders_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification of customers by lifetime revenue:
    class A holds the customers covering the first 80% of cumulative
    revenue (ranked largest-first), B the next 15%, C the tail — the
    inventory-management 80/20 cut, here as the revenue-concentration
    readout.

    The global revenue-ordered running sum is the distributed
    TWO-PHASE prefix sum (cf. text_pack_sequences, on a DESCENDING
    range partitioning): each range partition computes its local
    cumulative window in parallel, the per-partition totals (one tiny
    row each) prefix-sum on the driver, and the offsets broadcast
    back — bit-identical to the oracle's single global window without
    ever serializing the corpus through one task.  The grand total
    falls out of the same driver pass (the final running value), so
    classification is pure map-side integer arithmetic: cum·100 ≤
    total·80 in exact cents, no percentile estimation, no floats.

    Scale shape: one groupBy(custkey) exchange to customer-cardinality
    cents, one range exchange for the ordering, and a 3-row output.
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import spark_partition_id

    o = t(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        ).alias("cents")
    )
    n_parts = min(max(spark.sparkContext.defaultParallelism, 2), 4096)
    ranked = c.repartitionByRange(
        n_parts, F.col("cents").desc(), F.col("o_custkey")
    ).withColumn("_part", spark_partition_id())
    local_w = (
        Window.partitionBy("_part")
        .orderBy(F.col("cents").desc(), F.col("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # EAGER materialization is load-bearing (same defect class the
    # sf0.1 sweep caught in text_pack_sequences): repartitionByRange
    # samples boundaries per execution, and `local` feeds both the
    # totals collect and the classification join — without a frozen
    # layout the offsets from one sampling get joined onto another's
    # partitions and borderline customers change class.
    local = ranked.withColumn(
        "local_cum", F.sum("cents").over(local_w)
    ).localCheckpoint(eager=True)
    # no orderBy before the collect (r16): the global sort of the
    # <= n_parts rows added a range-sampling job + exchange; the
    # driver sorts the control-plane list instead.
    totals = sorted(
        local.groupBy("_part").agg(F.sum("cents").alias("part_total")).collect(),
        key=lambda r: r["_part"],
    )
    offsets, running = {}, 0
    for row in totals:
        offsets[row["_part"]] = running
        running += row["part_total"]
    total = int(running)
    import pandas as pd

    off_df = spark.createDataFrame(
        pd.DataFrame(
            {"_part": list(offsets), "part_offset": [offsets[p] for p in offsets]}
        ),
        "_part int, part_offset long",
    )
    cum = local.join(F.broadcast(off_df), "_part").withColumn(
        "cum", (F.col("local_cum") + F.col("part_offset")).cast("long")
    )
    cls = cum.withColumn(
        "abc_class",
        F.when(F.col("cum") * 100 <= F.lit(total) * 80, "A")
        .when(F.col("cum") * 100 <= F.lit(total) * 95, "B")
        .otherwise("C"),
    )
    return (
        cls.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("cents").alias("class_cents"),
            F.expr(f"(sum(cents) * 10000) div {total}").alias("share_bp"),
        )
        .orderBy("abc_class")
    )


@query(
    "events_forecast_snaive",
    """
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS x,
             count(*) AS y
      FROM events
      GROUP BY 1, 2
    )
    SELECT a.event_type,
           count(*) AS n_eval,
           CAST(SUM(abs(a.y - b.y)) AS BIGINT) AS abs_err_sum,
           CAST(SUM(abs(a.y - b.y)) * 1000 // count(*) AS BIGINT) AS mae_milli,
           CAST(SUM(a.y) AS BIGINT) AS actual_sum
    FROM daily a
    JOIN daily b ON a.event_type = b.event_type AND b.x = a.x - 7
    GROUP BY a.event_type
    ORDER BY a.event_type
    """,
)
def events_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast BACKTEST with the seasonal-naive baseline: predict each
    day's volume as the same weekday's volume one week earlier and
    score the mean absolute error per series — the sanity floor every
    real forecasting model must beat, and the cheapest drift monitor
    (a rising seasonal-naive MAE means the weekly pattern itself is
    shifting).  Evaluation covers exactly the days whose t-7 partner
    exists (calendar alignment via the day INDEX, not row offsets, so
    gaps can't misalign the season).

    Exactness: daily counts are integers, the error sum is an integer,
    and the MAE ships in exact integral milli-units via `div` — no
    float anywhere (the events_trend_ols discipline).

    Scale shape: one partial-aggregated rollup to calendar-sized
    daily counts, then a self-join on (event_type, day-7) — both
    sides of the join carry the SAME (type, day)-derived key and are
    calendar-sized, so at 100 TB of raw events the join is
    control-plane work after the one corpus-volume exchange.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1995-01-01").cast("date")).alias("x"),
    ).agg(F.count("*").alias("y"))
    a = daily.alias("a")
    b = daily.select(
        F.col("event_type").alias("bt"), (F.col("x") + 7).alias("bx"), F.col("y").alias("by")
    )
    j = a.join(b, (F.col("a.event_type") == F.col("bt")) & (F.col("a.x") == F.col("bx")))
    return (
        j.groupBy("a.event_type")
        .agg(
            F.count("*").alias("n_eval"),
            F.sum(F.abs(F.col("a.y") - F.col("by"))).alias("abs_err_sum"),
            F.expr("(sum(abs(a.y - by)) * 1000) div count(*)").alias("mae_milli"),
            F.sum("a.y").alias("actual_sum"),
        )
        .orderBy("event_type")
    )


@query(
    "events_session_stats",
    """
    WITH ev AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, sec,
             CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id
                                            ORDER BY sec, event_id)
                       > 1800 THEN 1
                  WHEN lag(sec) OVER (PARTITION BY user_id
                                      ORDER BY sec, event_id) IS NULL THEN 1
                  ELSE 0 END AS is_start
      FROM ev
    ),
    sess AS (
      SELECT user_id, sec,
             CAST(SUM(is_start) OVER (PARTITION BY user_id
                                      ORDER BY sec, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_no
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_no,
             count(*) AS n_events,
             CAST(max(sec) - min(sec) AS BIGINT) AS duration_sec
      FROM sess GROUP BY user_id, session_no
    )
    SELECT count(*) AS n_sessions,
           count(DISTINCT user_id) AS n_users,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(duration_sec) AS BIGINT) AS total_duration_sec,
           CAST(SUM(duration_sec) * 1000 // count(*) AS BIGINT)
             AS mean_duration_milli,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounce
    FROM per_session
    """,
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch SESSIONIZATION: the 30-minute-inactivity-gap session
    assignment (lag-gap flag → running sum of starts = session id)
    and the corpus-level session summary — session count, bounce
    count, exact mean duration — the foundation of every web/product
    analytics stack, and the batch twin of stream_session's
    session_window (same 30-min gap semantics, so the two surfaces
    are mutually checkable).

    Exactness: timestamps reduce to epoch seconds by PER-EVENT
    flooring on both engines (Spark's unix_timestamp floors; the
    oracle floors epoch()'s fractional seconds explicitly — truncating
    only the final durations would bind the sub-second parts
    differently), durations and the mean are integer arithmetic
    (`div` in milli-units), and the session ordering tiebreaks on
    event_id so equal-second events sessionize deterministically.

    Scale shape: ONE user_id exchange carries the lag window, the
    running-sum window, and the per-session groupBy (all partition on
    user_id); the final summary is a single partial-aggregated row.
    This is the canonical stacked-windows-on-one-exchange plan shared
    with win_gaps_islands and win_cumulative_distinct.
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    flagged = ev.withColumn(
        "is_start",
        F.when(F.col("sec") - F.lag("sec").over(w) > 1800, 1)
        .when(F.lag("sec").over(w).isNull(), 1)
        .otherwise(0),
    )
    sess = flagged.withColumn(
        "session_no",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        (F.max("sec") - F.min("sec")).alias("duration_sec"),
    )
    return per_session.agg(
        F.count("*").alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("n_events").alias("n_events"),
        F.sum("duration_sec").alias("total_duration_sec"),
        F.expr("(sum(duration_sec) * 1000) div count(*)").alias("mean_duration_milli"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("n_bounce"),
    )


@query(
    "events_user_features",
    """
    WITH mx AS (SELECT MAX(ts) AS m FROM events),
    f AS (
      SELECT user_id,
             COUNT(*) FILTER (event_type = 'view')     AS n_view,
             COUNT(*) FILTER (event_type = 'click')    AS n_click,
             COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
             COUNT(*) FILTER (event_type = 'signup')   AS n_signup,
             COUNT(*) FILTER (event_type = 'error')    AS n_error,
             CAST(ROUND(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(value AS DECIMAL(18,4)) END), 2)
                  AS DOUBLE) AS purchase_value,
             MAX(ts) AS last_seen
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_view, n_click, n_purchase, n_signup, n_error,
           COALESCE(purchase_value, 0.0) AS purchase_value,
           CAST(date_diff('second', last_seen, (SELECT m FROM mx)) AS BIGINT)
             AS recency_sec,
           CASE WHEN n_purchase > 0 THEN (n_purchase * 1000000) // n_view
                ELSE NULL END AS conv_ppm
    FROM f
    WHERE n_view > 0
    ORDER BY user_id
    """,
)
def events_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store materialization: one row per user with the
    behavioral features a ranking/propensity trainer consumes —
    per-type activity counts, exact-decimal purchase value, recency
    against the corpus watermark, and an integer-ppm view→purchase
    conversion rate.

    Scale shape: ONE conditional-aggregate pass over events (the
    per-type counts are FILTER clauses inside a single groupBy, never
    five scans), map-side partials collapse each user's rows before
    the one user_id exchange, and the corpus max-ts watermark is a
    broadcast scalar.  This is the daily feature-refresh job shape: at
    100 TB it runs per partition-day and MERGEs into the feature table
    (sink_delta_merge / agg_incremental_merge show that half).
    Exactness: decimal money, integer-second recency (both engines
    diff the same timestamps), ppm conversion via integral div.
    """
    ev = t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("m"))
    cnt = lambda typ: F.count(F.when(F.col("event_type") == typ, 1)).alias(f"n_{typ}")  # noqa: E731
    f = ev.groupBy("user_id").agg(
        cnt("view"),
        cnt("click"),
        cnt("purchase"),
        cnt("signup"),
        cnt("error"),
        money(
            F.sum(F.when(F.col("event_type") == "purchase", dec("value")))
        ).alias("purchase_value"),
        F.max("ts").alias("last_seen"),
    )
    return (
        f.filter(F.col("n_view") > 0)
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            "n_view",
            "n_click",
            "n_purchase",
            "n_signup",
            "n_error",
            F.coalesce(F.col("purchase_value"), F.lit(0.0)).alias("purchase_value"),
            (
                F.unix_timestamp(F.col("m").cast("timestamp"))
                - F.unix_timestamp(F.col("last_seen").cast("timestamp"))
            ).alias("recency_sec"),
            F.when(
                F.col("n_purchase") > 0,
                F.expr("(n_purchase * 1000000) div n_view"),
            ).alias("conv_ppm"),
        )
        .orderBy("user_id")
    )
