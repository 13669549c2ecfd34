"""Relational/analytic query surface (scan -> filter -> join -> agg ->
window -> top-k), the batch-analytics layer of the engine and the bench
headliners.

The reference contains no joins/aggregations (SURVEY.md §2: its "GROUP BY"
is partition routing), so these queries define the engine's *analytics*
capability over the same tables, built the way the 100 TB plan should look:
dimension joins broadcast, aggregations partial-agg'd map-side by Catalyst,
top-k as TakeOrderedAndProject (no global sort).

Float-determinism discipline: every summed money/measure column is scaled
to exact integer cents (floor(x*100 + 0.5) on 2-decimal inputs) so sums
are exact BIGINTs in both engines, then divided back to DOUBLE at output —
identical bits, no summation-order sensitivity at any scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_oss_spark.functions import hashing as H
from kafka_connect_oss_spark.functions.rounding import fround
from kafka_connect_oss_spark.operators import sketches as SK
from kafka_connect_oss_spark.registry import _cents, register
from kafka_connect_oss_spark.sources.batch import load_table

SESSION_GAP_MS = 30 * 60 * 1000

# exact integer cents from a 2-decimal double (dialect-neutral SQL)
def _us(col) -> F.Column:
    """epoch micros, tolerant of TIMESTAMP_NTZ inputs: unix_micros requires
    TIMESTAMP, and the NTZ->TS cast is value-preserving under the engine's
    pinned-UTC session (sources/batch.py normalize_timestamps)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


Q1_CUTOFF = "1998-09-02 00:00:00"


@register(
    "q1_pricing_summary",
    f"""SELECT l_returnflag, l_linestatus,
           CAST(SUM({_cents('l_quantity')}) AS DOUBLE) / 100.0 AS sum_qty,
           CAST(SUM({_cents('l_extendedprice')}) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(SUM({_cents('l_extendedprice')} * (100 - {_cents('l_discount')})) AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(SUM({_cents('l_extendedprice')} * (100 - {_cents('l_discount')}) * (100 + {_cents('l_tax')})) AS DOUBLE) / 1000000.0 AS sum_charge,
           CAST(SUM({_cents('l_quantity')}) AS DOUBLE) / (100.0 * COUNT(*)) AS avg_qty,
           CAST(SUM({_cents('l_discount')}) AS DOUBLE) / (100.0 * COUNT(*)) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: full-scan agg; Catalyst does map-side partial agg,
    the shuffle moves only (flag, status) x partial sums."""
    li = load_table(spark, sf_dir, "lineitem")
    return (li.where(F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
        (F.sum(F.expr(_cents("l_quantity"))).cast("double") / 100.0)
        .alias("sum_qty"),
        (F.sum(F.expr(_cents("l_extendedprice"))).cast("double") / 100.0)
        .alias("sum_base_price"),
        (F.sum(F.expr(f"{_cents('l_extendedprice')} * (100 - {_cents('l_discount')})"))
         .cast("double") / 10000.0).alias("sum_disc_price"),
        (F.sum(F.expr(f"{_cents('l_extendedprice')} * (100 - {_cents('l_discount')}) "
                      f"* (100 + {_cents('l_tax')})"))
         .cast("double") / 1000000.0).alias("sum_charge"),
        (F.sum(F.expr(_cents("l_quantity"))).cast("double")
         / (100.0 * F.count(F.lit(1)))).alias("avg_qty"),
        (F.sum(F.expr(_cents("l_discount"))).cast("double")
         / (100.0 * F.count(F.lit(1)))).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    ))


Q3_DATE = "1996-06-01 00:00:00"


@register(
    "q3_shipping_priority",
    f"""SELECT l_orderkey,
           CAST(SUM({_cents('l_extendedprice')} * (100 - {_cents('l_discount')})) AS DOUBLE) / 10000.0 AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '{Q3_DATE}'
      AND l_shipdate > TIMESTAMP '{Q3_DATE}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> joins -> agg -> top-k.
    customer is small => broadcast; top-k is TakeOrderedAndProject."""
    cust = (load_table(spark, sf_dir, "customer")
            .where(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = (load_table(spark, sf_dir, "orders")
              .where(F.col("o_orderdate") < F.lit(Q3_DATE).cast("timestamp"))
              .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"))
    li = (load_table(spark, sf_dir, "lineitem")
          .where(F.col("l_shipdate") > F.lit(Q3_DATE).cast("timestamp"))
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    joined = (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey))
    agg = (joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
           .agg((F.sum(F.expr(f"{_cents('l_extendedprice')} * "
                              f"(100 - {_cents('l_discount')})"))
                 .cast("double") / 10000.0).alias("revenue")))
    return (agg.select("l_orderkey", "revenue",
                       F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
                       "o_orderpriority")
            .orderBy(F.col("revenue").desc(), "l_orderkey").limit(10))


@register(
    "q5_nation_revenue",
    f"""SELECT n_name,
           CAST(SUM({_cents('l_extendedprice')} * (100 - {_cents('l_discount')})) AS DOUBLE) / 10000.0 AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name""",
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join through three broadcast dims; only the fact table moves."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation")
    reg = (load_table(spark, sf_dir, "region")
           .where(F.col("r_name").isin("ASIA", "EUROPE")))
    dims = (sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
            .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
            .select("s_suppkey", "n_name"))
    return (li.join(F.broadcast(dims), li.l_suppkey == dims.s_suppkey)
            .groupBy("n_name")
            .agg((F.sum(F.expr(f"{_cents('l_extendedprice')} * "
                               f"(100 - {_cents('l_discount')})"))
                  .cast("double") / 10000.0).alias("revenue"),
                 F.count(F.lit(1)).alias("n_lineitems")))


@register(
    "events_hourly_rollup",
    f"""SELECT strftime(ts, '%Y-%m-%d-%H') AS hour, event_type,
           COUNT(*) AS n_events,
           CAST(SUM({_cents('value')}) AS DOUBLE) / 100.0 AS sum_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2""",
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming windowed aggregation (window(ts, '1 hour')
    x event_type): identical grouping keys, exactly the rollup a
    writeStream.groupBy(window(...)) maintains incrementally.

    countDistinct here is exact — right for the oracle and fine while
    per-group user cardinality fits an aggregate; at 100 TB swap the
    distinct column for the mergeable KMV sketch, which is exactly
    `events_hourly_rollup_approx` below."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy(F.date_format("ts", "yyyy-MM-dd-HH").alias("hour"),
                       "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.sum(F.expr(_cents("value"))).cast("double") / 100.0)
                 .alias("sum_value"),
                 F.countDistinct("user_id").alias("n_users")))


@register(
    "asof_purchase_attribution",
    """WITH p AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase'),
    c AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click')
    SELECT p.event_id, p.user_id,
           epoch_us(p.ts) AS purchase_us,
           c.event_id AS click_event_id,
           epoch_us(c.ts) AS click_us,
           (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_s
    FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""",
)
def asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time attribution: each purchase joined to the user's most
    recent click at-or-before it — the canonical as-of join (an operator
    Spark lacks natively; operators/asof.py implements it as union-tag +
    one window, never a per-key range scan). Oracle = DuckDB's native
    ASOF JOIN, so the semantics are pinned against an independent
    implementation. Inner behavior via the NOT NULL filter (purchases with
    no prior click drop, matching ASOF's inner default)."""
    from kafka_connect_oss_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    p = (ev.where(F.col("event_type") == "purchase")
         .select("event_id", "user_id", "ts"))
    c = (ev.where(F.col("event_type") == "click")
         .select("event_id", "user_id", "ts"))
    # 1-day skew buckets: a hot user's history spreads across (user, day)
    # window partitions instead of serializing through one task
    j = asof_join(p, c, on=["user_id"], right_prefix="click_",
                  skew_bucket_ms=86_400_000)
    return (j.where(F.col("click_event_id").isNotNull())
            .select("event_id", "user_id",
                    _us("ts").alias("purchase_us"),
                    "click_event_id",
                    _us("click_ts").alias("click_us"),
                    F.floor((_us("ts") - _us("click_ts")) / 1_000_000)
                    .cast("long").alias("gap_s")))


@register(
    "range_join_purchase_errors",
    """WITH p AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase'),
    e AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'error')
    SELECT p.event_id AS purchase_id, e.event_id AS error_id, p.user_id,
           (epoch_us(e.ts) - epoch_us(p.ts)) // 1000000 AS delta_s
    FROM p JOIN e ON p.user_id = e.user_id
     AND epoch_us(e.ts) - epoch_us(p.ts) BETWEEN 0 AND 600000000""",
)
def range_join_purchase_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-interval join (operators/asof.range_join): every error a
    user raised within 10 minutes AFTER a purchase — time-bucketed
    equi-join (left side replicated exactly 2x), never a per-key range
    scan; the oracle is DuckDB's plain inequality join."""
    from kafka_connect_oss_spark.operators.asof import range_join

    ev = load_table(spark, sf_dir, "events")
    p = (ev.where(F.col("event_type") == "purchase")
         .select("event_id", "user_id", "ts"))
    e = (ev.where(F.col("event_type") == "error")
         .select("event_id", "user_id", "ts"))
    j = range_join(p, e, on=["user_id"], lower_ms=0, upper_ms=600_000,
                   right_prefix="err_")
    return j.select(
        F.col("event_id").alias("purchase_id"),
        F.col("err_event_id").alias("error_id"),
        "user_id",
        F.floor((_us("err_ts") - _us("ts"))
                / 1_000_000).cast("long").alias("delta_s"))


@register(
    "events_signup_funnel",
    """WITH s AS (
      SELECT user_id, MIN(ts) AS ts_signup FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS ts_click
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > s.ts_signup
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS ts_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.ts_click
      GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM s) AS n_signup,
           (SELECT COUNT(*) FROM c) AS n_click_after,
           (SELECT COUNT(*) FROM p) AS n_purchase_after""",
)
def events_signup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered multi-step funnel (signup -> later click -> later purchase,
    earliest qualifying event each step): three groupBy-min aggregations,
    each joined forward on user_id — the per-step frames shrink
    monotonically, every shuffle is keyed by user_id, and nothing ever
    sorts event history per user (no window over the raw stream)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type",
                                                    "ts")
    s = (ev.where(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("ts").alias("ts_signup")))
    c = (ev.where(F.col("event_type") == "click")
         .join(s, "user_id")
         .where(F.col("ts") > F.col("ts_signup"))
         .groupBy("user_id").agg(F.min("ts").alias("ts_click")))
    p = (ev.where(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .where(F.col("ts") > F.col("ts_click"))
         .groupBy("user_id").agg(F.min("ts").alias("ts_purchase")))
    return (s.agg(F.count(F.lit(1)).alias("n_signup"))
            .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after")))
            .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after"))))


@register(
    "events_hourly_rollup_approx",
    SK.kmv_oracle_sql(
        "hour, event_type", "CAST(user_id AS VARCHAR)",
        "(SELECT strftime(ts, '%Y-%m-%d-%H') AS hour, event_type, user_id "
        "FROM events)"),
)
def events_hourly_rollup_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of events_hourly_rollup's countDistinct: per-(hour,
    event_type) distinct users via the mergeable KMV sketch
    (operators/sketches.py) instead of an exact distinct — the shuffle
    carries K-min arrays, not every distinct user, which is the variant
    you run when user cardinality per group no longer fits a distinct
    aggregate comfortably. Oracle-checked bit-exactly (portable md5-fold
    hash), with exact_distinct alongside exhibiting estimator error."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd-HH").alias("hour"),
        "event_type", "user_id")
    return SK.kmv_distinct(ev, ["hour", "event_type"], "user_id")


@register(
    "events_top_users_per_type",
    f"""WITH per_user AS (
      SELECT event_type, user_id,
             SUM({_cents('value')}) AS cents, COUNT(*) AS n
      FROM events GROUP BY event_type, user_id),
    ranked AS (
      SELECT event_type, user_id, cents, n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY cents DESC, user_id) AS rnk
      FROM per_user)
    SELECT event_type, user_id,
           CAST(cents AS DOUBLE) / 100.0 AS total_value, n AS n_events, rnk
    FROM ranked WHERE rnk <= 3""",
)
def events_top_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: partial agg then a per-group window — the window
    runs on the already-aggregated (small) relation, not on raw events."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("event_type", "user_id")
                .agg(F.sum(F.expr(_cents("value"))).alias("cents"),
                     F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("event_type").orderBy(F.col("cents").desc(), "user_id")
    return (per_user.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 3)
            .select("event_type", "user_id",
                    (F.col("cents").cast("double") / 100.0).alias("total_value"),
                    F.col("n").alias("n_events"), "rnk"))


@register(
    "sessions_per_user",
    f"""WITH seq AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    brk AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev IS NULL
                  OR epoch_us(ts) - epoch_us(prev) > {SESSION_GAP_MS * 1000}
                  THEN 1 ELSE 0 END AS is_break
      FROM seq),
    sid AS (
      SELECT user_id, ts,
             SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM brk)
    SELECT user_id, CAST(session_id AS INT) AS session_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) AS session_end_us,
           COUNT(*) AS n_events
    FROM sid GROUP BY user_id, session_id""",
)
def sessions_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization, batch form (gap = 30 min): the
    window-function equivalent of streaming/analytics.sessionize
    (native session_window), which test_streaming_analytics golden-checks
    against this exact shape. One shuffle on user_id; both window specs
    share the (user_id, ts) sort."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (ev.withColumn("prev", F.lag("ts").over(w))
           .withColumn("is_break", (
               F.col("prev").isNull()
               | (_us("ts") - _us("prev")
                  > SESSION_GAP_MS * 1000)).cast("int")))
    sid = brk.withColumn("session_id", F.sum("is_break").over(
        w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
    return (sid.groupBy("user_id", "session_id")
            .agg(_us(F.min("ts")).alias("session_start_us"),
                 _us(F.max("ts")).alias("session_end_us"),
                 F.count(F.lit(1)).alias("n_events")))


@register(
    "events_user_running_value",
    f"""SELECT event_id, user_id,
           CAST(SUM({_cents('value')}) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0
           AS running_value
    FROM events""",
)
def events_user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregation window (frame = unbounded preceding): one
    shuffle on user_id, one sort per partition; integer-cents accumulator
    keeps the running sum order-insensitive-exact on both engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    return ev.select(
        "event_id", "user_id",
        (F.sum(F.expr(_cents("value"))).over(w).cast("double") / 100.0)
        .alias("running_value"))


@register(
    "events_day_over_day_retention",
    """WITH du AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, user_id
                   FROM events)
    SELECT a.day, COUNT(*) AS retained
    FROM du a JOIN du b
      ON b.user_id = a.user_id
     AND b.day = strftime(CAST(a.day AS DATE) + INTERVAL 1 DAY, '%Y-%m-%d')
    GROUP BY a.day""",
)
def events_day_over_day_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-intersection per day pair (users active on d AND d+1): distinct
    projection first so the self-join runs on the small (day, user) set."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.date_format("ts", "yyyy-MM-dd").alias("day"),
                   "user_id").distinct()
    a = du.withColumn(
        "day1", F.date_format(F.date_add(F.to_date("day"), 1), "yyyy-MM-dd"))
    b = du.select(F.col("day").alias("bday"), F.col("user_id").alias("uid"))
    return (a.join(b, (a.user_id == b.uid) & (a.day1 == b.bday))
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("retained")))


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "events_daily_pivot",
    f"""SELECT strftime(ts, '%Y-%m-%d') AS day,
           {", ".join(
               f"CAST(SUM(CASE WHEN event_type = '{t}' "
               f"THEN {_cents('value')} ELSE 0 END) AS DOUBLE) / 100.0 "
               f"AS {t}_value" for t in EVENT_TYPES)}
    FROM events GROUP BY 1""",
)
def events_daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT family: day x event_type crosstab. The explicit value list
    keeps the schema static (one aggregation pass, no extra distinct scan
    Spark's dynamic pivot would need)."""
    ev = load_table(spark, sf_dir, "events")
    piv = (ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
           .pivot("event_type", list(EVENT_TYPES))
           .agg(F.sum(F.expr(_cents("value")))))
    return piv.select(
        "day", *[(F.coalesce(F.col(t), F.lit(0)).cast("double") / 100.0)
                 .alias(f"{t}_value") for t in EVENT_TYPES])


@register(
    "events_value_percentiles",
    f"""SELECT event_type,
           {", ".join(
               f"ROUND(quantile_cont({_cents('value')}, {q}) / 100.0, 4) "
               f"AS p{int(q * 100)}" for q in (0.5, 0.9, 0.99))}
    FROM events GROUP BY event_type""",
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (linear interpolation — Spark
    `percentile` and DuckDB `quantile_cont` share the definition; computed
    over integer cents so interpolation arithmetic is exact). At 100 TB
    swap for approx_percentile (t-digest) — same plan shape, bounded
    memory; exact form kept for the oracle."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.expr(_cents("value"))
    return (ev.groupBy("event_type")
            .agg(*[F.round(F.percentile(cents, F.lit(q)) / 100.0, 4)
                   .alias(f"p{int(q * 100)}") for q in (0.5, 0.9, 0.99)]))


#: deterministic-sample percentile: keep hash-slot < rate% of rows —
#: content-stable like corpus_mixture_sample, so re-runs and the oracle
#: see the identical sample
_PCT_SAMPLE_RATE = 20
_PCT_HASH_DUCK = H.base_hash("CAST(event_id AS VARCHAR)", "duckdb")
_PCT_COLS = ", ".join(
    f"ROUND(quantile_cont({_cents('value')}, {q}) / 100.0, 4) "
    f"AS p{int(q * 100)}" for q in (0.5, 0.9, 0.99))


@register(
    "events_value_percentiles_sampled",
    f"""WITH sampled AS (
      SELECT event_type, value FROM events
      WHERE {_PCT_HASH_DUCK} % 100 < {_PCT_SAMPLE_RATE})
    SELECT event_type, {_PCT_COLS}
    FROM sampled GROUP BY event_type""",
)
def events_value_percentiles_sampled(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """The bounded-memory percentile path: exact percentiles over a
    deterministic hash sample (content-stable slots — identical sample on
    re-runs and in the oracle, unlike rand() sampling). At 100 TB the
    sample rate caps per-group sort memory while the estimator stays
    fully reproducible; the exact form (`events_value_percentiles`) and
    t-digest approx_percentile are the companions."""
    ev = load_table(spark, sf_dir, "events")
    slot = F.expr(H.base_hash("CAST(event_id AS STRING)", "spark")) % 100
    sampled = ev.where(slot < _PCT_SAMPLE_RATE)
    cents = F.expr(_cents("value"))
    return (sampled.groupBy("event_type")
            .agg(*[F.round(F.percentile(cents, F.lit(q)) / 100.0, 4)
                   .alias(f"p{int(q * 100)}") for q in (0.5, 0.9, 0.99)]))


@register(
    "events_rollup_day_type",
    """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
              COUNT(*) AS n_events
    FROM events
    GROUP BY ROLLUP(strftime(ts, '%Y-%m-%d'), event_type)""",
)
def events_rollup_day_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets family: ROLLUP(day, event_type) — subtotal and
    grand-total rows in one aggregation pass (Spark expands to grouping
    sets; partial agg still applies per set)."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.rollup(F.date_format("ts", "yyyy-MM-dd").alias("day"),
                      "event_type")
            .agg(F.count(F.lit(1)).alias("n_events")))


@register(
    "orders_without_recent_lineitems",
    """SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > TIMESTAMP '1997-01-01 00:00:00')
    GROUP BY o_orderpriority""",
)
def orders_without_recent_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join family (NOT EXISTS): orders with no lineitem shipped after
    the cutoff. The filter pushes into the anti-join's build side; only
    l_orderkey survives the scan."""
    orders = load_table(spark, sf_dir, "orders")
    recent = (load_table(spark, sf_dir, "lineitem")
              .where(F.col("l_shipdate") >
                     F.lit("1997-01-01 00:00:00").cast("timestamp"))
              .select("l_orderkey"))
    return (orders.join(recent, orders.o_orderkey == recent.l_orderkey,
                        "left_anti")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders")))


@register(
    "events_daily_anomaly_zscore",
    """WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cnt) AS BIGINT) AS s,
             CAST(SUM(cnt * cnt) AS BIGINT) AS sq
      FROM daily GROUP BY event_type)
    SELECT d.event_type, CAST(d.day AS VARCHAR) AS day, d.cnt,
           ROUND((CAST(d.cnt AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 / nullif(sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                         / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)), 0), 4)
             AS zscore
    FROM daily d JOIN stats USING (event_type)
    WHERE n > 1
      AND abs((CAST(d.cnt AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              / nullif(sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                      / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)), 0)) >= 2.0""",
)
def events_daily_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-volume anomaly detection: days whose event count sits >= 2
    sample standard deviations from the type's mean — the pipeline
    monitoring query a 100 TB ingest runs per partition/day.

    Float-parity by construction: (n, sum, sum-of-squares) stay exact
    BIGINTs through the aggregation (daily counts are integers), and the
    z-score is spelled as one explicit double expression evaluated
    identically by both engines — never a builtin STDDEV whose
    accumulation order could differ. Two narrow shuffles (day rollup,
    per-type stats); the stats side is vocabulary-sized and broadcast."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type",
                        F.col("ts").cast("date").alias("day"))
             .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    stats = (daily.groupBy("event_type")
             .agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.sum("cnt").cast("long").alias("s"),
                  F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("sq")))
    d, s, n, sq = (F.col("cnt").cast("double"), F.col("s").cast("double"),
                   F.col("n").cast("double"), F.col("sq").cast("double"))
    # nullif on the sd: a type whose daily counts are all EQUAL has zero
    # variance — 0/0 throws under ANSI mode (and DuckDB's NaN would pass
    # any abs() threshold); NULL z fails the filter in both engines, so
    # constant-volume types emit nothing, which is the right answer.
    # n == 1 is filtered for the same reason (single observation).
    z = ((d - s / n) /
         F.nullif(F.sqrt((sq - s * s / n) /
                         (F.col("n") - 1).cast("double")), F.lit(0.0)))
    return (daily.join(F.broadcast(stats), "event_type")
            .where((F.col("n") > 1) & (F.abs(z) >= 2.0))
            .select("event_type", F.col("day").cast("string").alias("day"),
                    "cnt", F.round(z, 4).alias("zscore")))


@register(
    "events_value_histogram",
    """WITH b AS (
      SELECT event_type, CAST(floor(value / 50.0) AS INT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS t
            FROM b GROUP BY event_type)
    SELECT b.event_type, bin, bin * 50.0 AS bin_lo, n,
           ROUND(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 4) AS share
    FROM b JOIN tot USING (event_type)""",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (bin width 50) — the
    binning/distribution shape of OLAP dashboards, as ONE map-side-combined
    aggregation over (type, bin): never a sort, never a percentile pass.
    The per-type totals are a bins-sized second aggregate broadcast back;
    bin = floor(value/50) on the same stored doubles in both engines, so
    shares are engine-exact after one rounded division."""
    ev = load_table(spark, sf_dir, "events")
    b = (ev.groupBy("event_type",
                    F.floor(F.col("value") / 50.0).cast("int").alias("bin"))
         .agg(F.count(F.lit(1)).cast("long").alias("n")))
    tot = b.groupBy("event_type").agg(F.sum("n").cast("long").alias("t"))
    return (b.join(F.broadcast(tot), "event_type")
            .select("event_type", "bin",
                    (F.col("bin") * 50.0).alias("bin_lo"), "n",
                    F.round(F.col("n") / F.col("t").cast("double"), 4)
                    .alias("share")))


@register(
    "events_sliding_rollup",
    f"""WITH w AS (
      SELECT event_type, value,
             UNNEST([make_timestamp(
                       (CAST(floor(epoch(ts) / 1800) AS BIGINT)) * 1800000000),
                     make_timestamp(
                       (CAST(floor(epoch(ts) / 1800) AS BIGINT) - 1)
                         * 1800000000)]) AS wstart
      FROM events)
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM({_cents('value')}) AS DOUBLE) / 100.0 AS sum_value
    FROM w GROUP BY 1, 2""",
)
def events_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup (1-hour windows, 30-minute hop) via Spark's
    native window(ts, len, slide) — each event lands in exactly
    len/slide = 2 windows; the oracle reconstructs the same assignment by
    exploding the two containing window starts from integer epoch math.
    One map-side-combined aggregation over (window, type) — replication
    factor len/slide, never a self-join; the shape behind every
    overlapping-window dashboard and the batch twin of the streaming
    sliding rollup."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"),
                       "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.sum(F.expr(_cents("value"))).cast("double") / 100.0)
                 .alias("sum_value"))
            .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"), "event_type", "n_events",
                    "sum_value"))


@register(
    "events_value_median_exact",
    """SELECT event_type, quantile_disc(value, 0.5) AS q
    FROM events GROUP BY event_type""",
)
def events_value_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-type median without a per-group sort: two-pass histogram
    routing (operators/sketches.py exact_quantile_disc) — scan 1 builds a
    4096-bin histogram per type, the driver locates the rank-holding bin
    from tiny aggregates, scan 2 ranks only inside that bin (~n/4096
    rows). The sort-based `events_value_percentiles` is the oracle-simple
    twin; THIS is the shape that survives 100 TB, exact to the bit."""
    ev = load_table(spark, sf_dir, "events")
    return SK.exact_quantile_disc(ev, "value", 0.5, "event_type")


@register(
    "events_cohort_retention_matrix",
    """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                    FROM events),
    first AS (SELECT user_id, MIN(day) AS cohort FROM act GROUP BY user_id),
    m AS (SELECT cohort, CAST(day - cohort AS INT) AS day_offset,
                 CAST(COUNT(*) AS BIGINT) AS n_active
          FROM act JOIN first USING (user_id)
          GROUP BY 1, 2),
    size_ AS (SELECT cohort, n_active AS cohort_size FROM m
              WHERE day_offset = 0)
    SELECT CAST(m.cohort AS VARCHAR) AS cohort_day, day_offset, n_active,
           ROUND(CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE), 4)
             AS retention
    FROM m JOIN size_ USING (cohort)""",
)
def events_cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day, one
    row per (cohort, day-offset) with the active count and the share of
    the cohort still active — the canonical growth-analytics crosstab.
    Shapes: one distinct over (user, day), one user-keyed min, one
    user-keyed join + (cohort, offset) agg; the cohort-size side is
    calendar-bounded and joins back tiny (AQE broadcasts). Day 0 always
    has retention 1.0 by construction."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    first = act.groupBy("user_id").agg(F.min("day").alias("cohort"))
    m = (act.join(first, "user_id")
         .groupBy("cohort", F.datediff("day", "cohort").alias("day_offset"))
         .agg(F.count(F.lit(1)).cast("long").alias("n_active")))
    size = (m.where(F.col("day_offset") == 0)
            .select("cohort", F.col("n_active").alias("cohort_size")))
    return (m.join(size, "cohort")
            .select(F.col("cohort").cast("string").alias("cohort_day"),
                    "day_offset", "n_active",
                    fround(F.col("n_active") /
                           F.col("cohort_size").cast("double"), 4)
                    .alias("retention")))


@register(
    "sketch_user_overlap_kmv",
    SK.kmv_overlap_oracle_sql(
        "SELECT user_id FROM events WHERE event_type = 'purchase'",
        "SELECT user_id FROM events WHERE event_type = 'click'",
        "user_id"),
)
def sketch_user_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation without the join: KMV sketches of the
    purchase-user and click-user key sets -> union / jaccard /
    intersection estimates (operators/sketches.py kmv_key_overlap) — two
    distinct passes + 2K longs moved, vs the shuffle join it predicts.
    Exact intersection rides along to exhibit estimator error."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "purchase").select("user_id")
    b = ev.where(F.col("event_type") == "click").select("user_id")
    return SK.kmv_key_overlap(a, b, "user_id")
