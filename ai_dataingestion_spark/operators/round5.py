"""Round-5 surface extensions (SURVEY.md §2.P): the remaining TPC-H
composites (adapted where the corpus lacks partsupp / commit dates),
market-basket and seasonality analytics, time-series gap fill with LOCF,
corpus-mixture / Zipf / charset text statistics, duplicate-family
accounting, and cross-table reconciliation quality checks.

Registered AFTER every earlier module so these operators append to the end
of the rotation order and never displace the current driver sweep window
(catalog._rotation_rank) — new IDs are rank-0 and fill the r5 window's
remaining slots.

Float discipline follows SURVEY.md §5.4: sums of money PRODUCTS go through
DECIMAL(38,6) and are rounded in the decimal domain before the double
cast; quotients round at 6 dp on both sides; counts and keys are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    stable_rounded_sum,
    stable_rounded_sum_sql,
)
from ai_dataingestion_spark.scale import broadcast_if_small
from ai_dataingestion_spark.registry import Tables


_NET = "(l_extendedprice * (1 - l_discount))"


# ---------------------------------------------------------------------------
# §2.P.1 remaining TPC-H composites
# ---------------------------------------------------------------------------


@register(
    "tpch_q8_market_share",
    oracle=f"""
WITH all_sales AS (
  SELECT year(o_orderdate) AS o_year,
         CAST({_NET} AS DECIMAL(38,6)) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region   ON cn.n_regionkey = r_regionkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
)
SELECT o_year,
       CAST(round(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume
                           ELSE CAST(0 AS DECIMAL(38,6)) END), 2) AS DOUBLE)
         AS nation_volume,
       CAST(round(sum(volume), 2) AS DOUBLE) AS total_volume,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume
                           ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM all_sales GROUP BY o_year
""",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share), adapted to this corpus's flat
    p_type domain: NATION_1's share of ECONOMY-part revenue sold into
    AMERICA per order-year. Dimension chain customer→nation→region and
    supplier→nation are broadcast; the one big join (lineitem ⋈ orders) is
    keyed on l_orderkey — the canonical shape Catalyst reorders freely."""
    t = Tables(spark, sf_dir)
    sn = t.nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cn = t.nation.select("n_nationkey", "n_regionkey")
    amer = cn.join(
        F.broadcast(t.region.filter(F.col("r_name") == "AMERICA")),
        cn.n_regionkey == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("c_nk"))
    sales = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            broadcast_if_small(t.part.filter(F.col("p_type") == "ECONOMY"), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(amer), F.col("c_nationkey") == F.col("c_nk"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(38,6)")
            .alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(38,6)")
    nation_vol = F.sum(
        F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(zero)
    )
    total_vol = F.sum("volume")
    return sales.groupBy("o_year").agg(
        F.round(nation_vol, 2).cast("double").alias("nation_volume"),
        F.round(total_vol, 2).cast("double").alias("total_volume"),
        F.round(nation_vol.cast("double") / total_vol.cast("double"), 6).alias(
            "mkt_share"
        ),
    )


@register(
    "tpch_q9_profit_by_nation_year",
    oracle=f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(round(sum(CAST({_NET} - p_retailprice * l_quantity * 0.1
                           AS DECIMAL(38,6))), 2) AS DOUBLE) AS profit
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
""",
)
def tpch_q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), adapted: the corpus has no partsupp,
    so supply cost is proxied as 10% of p_retailprice per unit. Profit per
    (supplier nation, order year) over parts named '%widget%'. The p_name
    filter prunes part BEFORE its broadcast; lineitem⋈orders stays the only
    shuffle join."""
    t = Tables(spark, sf_dir)
    profit_amt = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * 0.1
    ).cast("decimal(38,6)")
    return (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            broadcast_if_small(t.part.filter(F.col("p_name").like("%widget%")), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(profit_amt), 2).cast("double").alias("profit"))
    )


@register(
    "tpch_q11_part_value_concentration",
    oracle=f"""
WITH part_value AS (
  SELECT l_partkey AS partkey,
         sum(CAST({_NET} AS DECIMAL(38,6))) AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
),
total AS (SELECT sum(value) AS total_value FROM part_value)
SELECT partkey, CAST(round(value, 2) AS DOUBLE) AS value
FROM part_value, total
WHERE CAST(value AS DOUBLE) > CAST(total_value AS DOUBLE) * 0.002
""",
)
def tpch_q11_part_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock), adapted: no partsupp, so a part's
    'value' is its traded revenue through NATION_3 suppliers; emit parts
    holding > 0.2% of that nation's total. The scalar total is a 1-row
    cross join (decorrelated subquery — the Q11 pattern); part_value is
    aggregated ONCE and Catalyst reuses the exchange for both branches."""
    t = Tables(spark, sf_dir)
    n3 = t.nation.filter(F.col("n_name") == "NATION_3").select("n_nationkey")
    pv = (
        t.lineitem.join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n3), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(38,6)"
                )
            ).alias("value")
        )
    )
    total = pv.agg(F.sum("value").alias("total_value"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(
            F.col("value").cast("double")
            > F.col("total_value").cast("double") * 0.002
        )
        .select("partkey", F.round("value", 2).cast("double").alias("value"))
    )


@register(
    "tpch_q16_brand_supplier_counts",
    oracle="""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#2' AND p_type <> 'PROMO' AND p_size IN (1, 5, 9, 13)
GROUP BY p_brand, p_type, p_size
""",
)
def tpch_q16_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship), adapted from partsupp to
    lineitem as the part-supplier relation: distinct supplier count per
    (brand, type, size) outside one brand/type, for four sizes. The
    dimension filters land in the broadcast build of part; countDistinct
    is the one shuffle."""
    t = Tables(spark, sf_dir)
    p = t.part.filter(
        (F.col("p_brand") != "Brand#2")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13)
    )
    return (
        t.lineitem.join(broadcast_if_small(p, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
WITH part_avg AS (
  SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,6))) / 7.0, 2)
            AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN part_avg ON l_partkey = pk
WHERE p_brand = 'Brand#23' AND l_quantity < 0.5 * avg_qty
""",
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue lost if orders
    below half a part's average quantity were not taken, for one brand.
    The correlated AVG subquery decorrelates into one groupBy on
    l_partkey joined back — both sides shuffle on the same key, so AQE
    plans them into one exchange reuse. Threshold 0.5 (vs spec's 0.2)
    keeps the result non-degenerate on this corpus's uniform quantities."""
    t = Tables(spark, sf_dir)
    pa = t.lineitem.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        t.lineitem.join(
            broadcast_if_small(t.part.filter(F.col("p_brand") == "Brand#23"), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(pa, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(38,6)")) / 7.0)
            .cast("decimal(38,12)")
            .alias("s")
        )
        .select(F.round("s", 2).cast("double").alias("avg_yearly"))
    )


@register(
    "tpch_q22_idle_customers",
    oracle="""
WITH pos_avg AS (
  SELECT avg(c_acctbal) AS threshold FROM customer WHERE c_acctbal > 0.0
),
last_year AS (SELECT max(year(o_orderdate)) AS yr FROM orders)
SELECT c_nationkey AS nationkey,
       count(*) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS totacctbal
FROM customer, pos_avg
WHERE c_acctbal > threshold
  AND NOT EXISTS (SELECT 1 FROM orders, last_year
                  WHERE o_custkey = c_custkey AND year(o_orderdate) = yr)
GROUP BY c_nationkey
""",
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted: on this corpus every
    customer has SOME order, so 'idle' means no orders in the data's final
    year — above-average positive balance, recently inactive, grouped by
    nation. The NOT EXISTS is a left-anti join on o_custkey; the global
    average and the max-year scalar are broadcast 1-row cross joins.
    Anti-join build side is the DISTINCT custkey projection of the
    final-year orders — at scale that aggregation shrinks the shuffle to
    unique keys before the join."""
    t = Tables(spark, sf_dir)
    thr = t.customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("threshold")
    )
    rich = t.customer.crossJoin(F.broadcast(thr)).filter(
        F.col("c_acctbal") > F.col("threshold")
    )
    last_yr = t.orders.agg(F.max(F.year("o_orderdate")).alias("yr"))
    with_orders = (
        t.orders.crossJoin(F.broadcast(last_yr))
        .filter(F.year("o_orderdate") == F.col("yr"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        rich.join(with_orders, "c_custkey", "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(38,6)")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# §2.P.2 analytics: growth, baskets, seasonality, deciles, aging
# ---------------------------------------------------------------------------


@register(
    "sales_yoy_growth",
    oracle=f"""
WITH yearly AS (
  SELECT year(o_orderdate) AS o_year,
         sum(CAST(o_totalprice AS DECIMAL(38,6))) AS revenue
  FROM orders GROUP BY year(o_orderdate)
)
SELECT o_year,
       CAST(round(revenue, 2) AS DOUBLE) AS revenue,
       round(CAST(revenue AS DOUBLE)
             / CAST(lag(revenue) OVER (ORDER BY o_year) AS DOUBLE) - 1.0,
             6) AS yoy_growth
FROM yearly
""",
)
def sales_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth: yearly aggregate then a lag window.
    The window partition is the whole (7-row) year relation — a single-task
    window over an already-aggregated input, the correct shape at any
    corpus size (aggregate first, window over the small result)."""
    t = Tables(spark, sf_dir)
    yearly = t.orders.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("revenue")
    )
    # asc_nulls_last: the NULL-date year sequences last (oracle default)
    w = Window.orderBy(F.asc_nulls_last("o_year"))
    return yearly.select(
        "o_year",
        F.round("revenue", 2).cast("double").alias("revenue"),
        F.round(
            F.col("revenue").cast("double")
            / F.lag(F.col("revenue")).over(w).cast("double")
            - 1.0,
            6,
        ).alias("yoy_growth"),
    )


@register(
    "market_basket_pairs",
    oracle="""
WITH order_parts AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pair_counts AS (
  SELECT a.l_partkey AS part1, b.l_partkey AS part2, count(*) AS n_orders
  FROM order_parts a JOIN order_parts b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
)
SELECT part1, part2, n_orders FROM pair_counts
WHERE n_orders >= 3
""",
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in >= 3
    orders. Pair fan-out per order is C(parts_in_order, 2) — bounded by
    the ~7-line order format, NOT by corpus size; the per-order
    collect_set keeps repeated parts within an order from inflating
    pairs. This is the a-priori candidate-pair kernel at 100 TB: one
    partial-aggregable basket groupBy, quadratic only within an order.

    Optimization r16 (guide §2.4, remove shuffles outright): the first
    draft generated pairs with distinct + a corpus×corpus self-equi-join
    on l_orderkey (an exchange for the distinct plus two join exchanges,
    with sort-merge hint machinery against AQE's broadcast/SHJ
    misestimation of the corpus-sized sides); scale.basket_pair_explode
    reaches the identical pair multiset with ONE groupBy(l_orderkey)
    collect_set and a JVM-side combination generator — no join, no
    candidate-pair shuffle, and the misestimation hazard disappears with
    the join itself."""
    t = Tables(spark, sf_dir)
    from ai_dataingestion_spark.scale import basket_pair_explode

    return (
        basket_pair_explode(
            t.lineitem.select("l_orderkey", "l_partkey"),
            "l_orderkey", "l_partkey", out=("part1", "part2"),
        )
        .groupBy("part1", "part2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 3)
    )


@register(
    "events_gap_fill_locf",
    oracle=f"""
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         {stable_rounded_sum_sql("value", 6)} AS day_value
  FROM events WHERE user_id % 50 = 0
  GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
),
spans AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
),
calendar AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM spans
),
joined AS (
  SELECT c.user_id, c.day, d.day_value,
         count(d.day_value) OVER (PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM calendar c LEFT JOIN daily d USING (user_id, day)
)
SELECT user_id, day,
       max(day_value) OVER (PARTITION BY user_id, grp) AS filled_value,
       CAST(day_value IS NULL AS BOOLEAN) AS was_gap
FROM joined
""",
)
def events_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill with last-observation-carried-forward: each
    sampled user's daily value series is densified to a full calendar
    (sequence + explode — rows generated map-side, never collected) and
    gaps take the most recent observed value via last(ignorenulls) over an
    ordered window. One shuffle on user_id serves the window; the calendar
    explode is bounded by each user's own span. day_value accumulates
    order-independently (portable.py:stable_rounded_sum) so the value each
    gap CARRIES FORWARD is draw-deterministic — a boundary flip here would
    propagate into every filled day after it."""
    t = Tables(spark, sf_dir)
    daily = (
        t.events.filter(F.col("user_id") % 50 == 0)
        .groupBy(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
        )
        .agg(stable_rounded_sum("value", 6).alias("day_value"))
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    calendar = spans.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    joined = calendar.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # day goes out as timestamp_ntz: DuckDB DATE arrives in pandas as a
    # midnight datetime64, and Spark DateType as datetime.date — the driver
    # canonicalizer treats those as distinct values (same class as the
    # int-vs-float strictness), so both sides emit midnight timestamps
    return joined.select(
        "user_id",
        F.col("day").cast("timestamp_ntz").alias("day"),
        F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("day_value").isNull().alias("was_gap"),
    )


@register(
    "events_hourly_matrix",
    oracle="""
SELECT dayofweek(ts) AS dow, hour(ts) AS hod,
       count(*) AS n_events,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY dayofweek(ts), hour(ts)
""",
)
def events_hourly_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality matrix: event count and mean value per (day-of-week,
    hour-of-day) cell — a 7 x 24-bounded output at any corpus size, fully
    partial-aggregable (map-side combine carries 168 cells per task).
    Dialect note: Spark dayofweek() is 1=Sunday..7=Saturday; DuckDB
    dayofweek() is 0=Sunday..6 — aligned by matching Spark to DuckDB+1
    via the expression below."""
    t = Tables(spark, sf_dir)
    # Spark dayofweek: Sunday=1; DuckDB dayofweek: Sunday=0 -> use Spark-1
    return (
        t.events.groupBy(
            (F.dayofweek("ts") - 1).alias("dow"), F.hour("ts").alias("hod")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


@register(
    "customer_value_deciles",
    oracle="""
WITH clv AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(38,6))) AS lifetime
  FROM orders GROUP BY o_custkey
),
bucketed AS (
  SELECT o_custkey, lifetime,
         ntile(10) OVER (ORDER BY lifetime DESC, o_custkey ASC) AS decile
  FROM clv
)
SELECT decile, count(*) AS n_customers,
       CAST(round(sum(lifetime), 2) AS DOUBLE) AS total_value,
       CAST(round(min(lifetime), 2) AS DOUBLE) AS floor_value
FROM bucketed GROUP BY decile
""",
)
def customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value deciles: per-customer revenue, ntile(10)
    ranking (o_custkey tie-break makes bucket edges deterministic), decile
    rollup. The global ntile is a single-partition window over the ALREADY
    AGGREGATED per-customer relation — at 100 TB per-customer rows are
    ~1e9 which still needs a distributed sort; the decile cut would then
    move to approx percentile boundaries (agg_percentile's sketch) — noted
    here because ntile's exact global ordering is the documented non-scale
    piece of this query."""
    t = Tables(spark, sf_dir)
    clv = t.orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("lifetime")
    )
    w = Window.orderBy(F.desc("lifetime"), F.asc("o_custkey"))
    return (
        clv.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("lifetime"), 2).cast("double").alias("total_value"),
            F.round(F.min("lifetime"), 2).cast("double").alias("floor_value"),
        )
    )


@register(
    "orders_priority_aging",
    oracle="""
WITH anchor AS (SELECT max(o_orderdate) AS maxd FROM orders),
aged AS (
  SELECT o_orderpriority,
         CASE
           WHEN datediff('day', o_orderdate, maxd) <= 180 THEN '0-180'
           WHEN datediff('day', o_orderdate, maxd) <= 365 THEN '181-365'
           WHEN datediff('day', o_orderdate, maxd) <= 730 THEN '366-730'
           ELSE '731+'
         END AS age_bucket
  FROM orders, anchor
)
SELECT o_orderpriority, age_bucket, count(*) AS n_orders
FROM aged GROUP BY o_orderpriority, age_bucket
""",
)
def orders_priority_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order aging report: orders bucketed by age relative to the newest
    order, split by priority — the AR-aging-style backlog matrix. The max-date
    anchor is a 1-row broadcast; bucketing is pure expression work and the
    aggregate output is bounded by 5 priorities x 4 buckets."""
    t = Tables(spark, sf_dir)
    anchor = t.orders.agg(F.max("o_orderdate").alias("maxd"))
    age = F.datediff(F.col("maxd"), F.col("o_orderdate"))
    bucket = (
        F.when(age <= 180, "0-180")
        .when(age <= 365, "181-365")
        .when(age <= 730, "366-730")
        .otherwise("731+")
    )
    return (
        t.orders.crossJoin(F.broadcast(anchor))
        .groupBy("o_orderpriority", bucket.alias("age_bucket"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "part_brand_share",
    oracle=f"""
WITH brand_rev AS (
  SELECT p_type, p_brand,
         sum(CAST({_NET} AS DECIMAL(38,6))) AS revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_type, p_brand
)
SELECT p_type, p_brand,
       CAST(round(revenue, 2) AS DOUBLE) AS revenue,
       round(CAST(revenue AS DOUBLE) /
             CAST(sum(revenue) OVER (PARTITION BY p_type) AS DOUBLE), 6)
         AS type_share
FROM brand_rev
""",
)
def part_brand_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue share within part type: aggregate once, then a
    windowed ratio-to-report over the small (type, brand) result — the
    share window never touches lineitem-sized data."""
    t = Tables(spark, sf_dir)
    rev = (
        t.lineitem.join(
            broadcast_if_small(t.part.select("p_partkey", "p_type", "p_brand"), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_type", "p_brand")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(38,6)"
                )
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("p_type")
    return rev.select(
        "p_type",
        "p_brand",
        F.round("revenue", 2).cast("double").alias("revenue"),
        F.round(
            F.col("revenue").cast("double") / F.sum("revenue").over(w).cast("double"),
            6,
        ).alias("type_share"),
    )


# ---------------------------------------------------------------------------
# §2.P.3 text / training-data pipeline statistics
# ---------------------------------------------------------------------------


@register(
    "text_mixture_weights",
    oracle="""
WITH per_lang AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT sum(n_tokens) AS total_tokens, count(*) AS n_langs FROM per_lang)
SELECT lang, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS actual_share,
       round((1.0 / n_langs) / (CAST(n_tokens AS DOUBLE) / total_tokens), 6)
         AS sampling_weight
FROM per_lang, tot
""",
)
def text_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture reweighting for pretraining: per-language token counts
    and the per-doc sampling weight that moves the corpus to a uniform
    language target (weight = target_share / actual_share). Token counting
    is a map-side expression; the per-lang relation is vocabulary-of-langs
    sized, so the scalar totals are a broadcast cross join."""
    t = Tables(spark, sf_dir)
    per_lang = t.documents.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    tot = per_lang.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    share = F.col("n_tokens").cast("double") / F.col("total_tokens")
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("actual_share"),
        F.round((1.0 / F.col("n_langs")) / share, 6).alias("sampling_weight"),
    )


@register(
    "text_zipf_slope",
    oracle="""
WITH freqs AS (
  SELECT token, count(*) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
),
ranked AS (
  SELECT freq,
         row_number() OVER (ORDER BY freq DESC, token ASC) AS rank
  FROM freqs
)
SELECT count(*) AS n_tokens_used,
       round(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope
FROM ranked WHERE rank <= 1000
""",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-1000 token frequencies: OLS slope of
    ln(freq) on ln(rank) — a natural-text corpus sits near -1, and a big
    deviation flags TEMPLATED or machine-generated data (the quality
    signal). Spark has no regr_slope; covar_pop/var_pop compute the same
    estimator. The rank window runs over the already-aggregated vocabulary
    relation, and the fit itself is a 2-pass-free single aggregate."""
    t = Tables(spark, sf_dir)
    freqs = (
        t.documents.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    ranked = freqs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 1000
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_tokens_used"),
        F.round(F.covar_pop(x, y) / F.var_pop(x), 6).alias("zipf_slope"),
    )


@register(
    "text_charset_stats",
    oracle="""
SELECT doc_id,
       round(CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
             / len(text), 6) AS frac_alpha,
       round(CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
             / len(text), 6) AS frac_digit,
       round(CAST(len(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
             / len(text), 6) AS frac_space,
       coalesce(CAST(len(text) <> octet_length(encode(text)) AS BOOLEAN),
                false) AS has_non_ascii
FROM documents
""",
)
def text_charset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-class profile: alpha / digit / whitespace
    fractions plus a non-ASCII flag (character length vs UTF-8 byte length
    disagreeing) — the cheap first-pass filters of a web-scale text
    pipeline, all JVM-side expressions. DuckDB needs the 'g' regex flag
    (its regexp_replace is first-match by default; Spark's is global)."""
    t = Tables(spark, sf_dir)
    n = F.length("text")
    def frac(pattern):
        # try_divide: an EMPTY text has n = 0 and DuckDB's x/0 is NULL;
        # ANSI division would crash the whole scan on one degenerate row
        return F.round(
            F.try_divide(
                F.length(F.regexp_replace("text", pattern, "")).cast("double"),
                n,
            ),
            6,
        )
    return t.documents.select(
        "doc_id",
        frac("[^a-zA-Z]").alias("frac_alpha"),
        frac("[^0-9]").alias("frac_digit"),
        frac("[^ ]").alias("frac_space"),
        # coalesce(false) both sides: a NULL boolean crosses the comparison
        # harness asymmetrically (None vs NaN), and "no evidence of
        # non-ASCII" is the honest answer for a missing document
        F.coalesce(
            F.length("text") != F.octet_length("text"), F.lit(False)
        ).alias("has_non_ascii"),
    )


@register(
    "text_length_band_filter",
    oracle="""
WITH cuts AS (
  SELECT quantile_cont(n_chars, 0.05) AS p05,
         quantile_cont(n_chars, 0.95) AS p95
  FROM documents
)
SELECT doc_id, n_chars FROM documents, cuts
WHERE n_chars >= p05 AND n_chars <= p95
""",
)
def text_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-band quality filter: keep documents between the corpus's 5th
    and 95th length percentiles — the standard truncation/boilerplate
    guard. Spark percentile() and DuckDB quantile_cont share the linear
    interpolation definition, so the cutoffs agree exactly; they land as a
    1-row broadcast against the scan."""
    t = Tables(spark, sf_dir)
    cuts = t.documents.agg(
        F.percentile("n_chars", 0.05).alias("p05"),
        F.percentile("n_chars", 0.95).alias("p95"),
    )
    return (
        t.documents.crossJoin(F.broadcast(cuts))
        .filter((F.col("n_chars") >= F.col("p05")) & (F.col("n_chars") <= F.col("p95")))
        .select("doc_id", "n_chars")
    )


@register(
    "text_sentence_stats",
    oracle="""
WITH sent AS (
  SELECT doc_id, n_chars,
         len(list_filter(string_split_regex(text, '[.!?]'),
                         s -> len(trim(s)) > 0)) AS n_sentences
  FROM documents
)
SELECT doc_id, n_sentences,
       round(CAST(n_chars AS DOUBLE) / greatest(n_sentences, 1), 6)
         AS chars_per_sentence
FROM sent
""",
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation statistics: sentence count ([.!?] split,
    empty segments dropped) and mean sentence length per document —
    expression-only (split + filter + size), no Python."""
    t = Tables(spark, sf_dir)
    n_sent = F.size(
        F.filter(
            F.split("text", r"[.!?]"), lambda s: F.length(F.trim(s)) > 0
        )
    )
    return t.documents.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        F.round(
            F.col("n_chars").cast("double") / F.greatest(n_sent, F.lit(1)), 6
        ).alias("chars_per_sentence"),
    )


@register(
    "dedup_family_sizes",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 2 = 0
),
families AS (
  SELECT md5(text) AS h, count(*) AS family_size FROM corpus GROUP BY md5(text)
)
SELECT family_size, count(*) AS n_families,
       CAST(sum(family_size) AS BIGINT) AS n_docs,
       CAST(sum(family_size - 1) AS BIGINT) AS n_removable
FROM families GROUP BY family_size
""",
)
def dedup_family_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-family accounting: the size distribution of exact-dup
    clusters and how many documents dedup would remove — the budgeting
    number a pipeline reports before actually dropping rows. Two chained
    partial-aggregable groupBys (hash → family size → distribution); the
    second input is one row per family."""
    from ai_dataingestion_spark.ai.dedup import _corpus_with_exact_dups

    corpus = _corpus_with_exact_dups(spark, sf_dir)
    families = corpus.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("family_size")
    )
    return families.groupBy("family_size").agg(
        F.count(F.lit(1)).alias("n_families"),
        F.sum("family_size").alias("n_docs"),
        F.sum(F.col("family_size") - 1).alias("n_removable"),
    )


@register(
    "corpus_source_entropy",
    oracle="""
WITH per_source AS (
  SELECT source, sum(len(string_split(text, ' '))) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT sum(n_tokens) AS total FROM per_source)
SELECT count(*) AS n_sources,
       round(-sum((CAST(n_tokens AS DOUBLE) / total)
                  * log2(CAST(n_tokens AS DOUBLE) / total)), 6)
         AS source_entropy_bits,
       round(pow(2.0, -sum((CAST(n_tokens AS DOUBLE) / total)
                           * log2(CAST(n_tokens AS DOUBLE) / total))), 6)
         AS effective_sources
FROM per_source, tot
""",
)
def corpus_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-diversity entropy: token-weighted Shannon entropy over the
    corpus's source distribution and its exponential (effective source
    count) — the mixture-health number next to text_mixture_weights.
    Two tiny aggregates over the per-source relation; one row out."""
    t = Tables(spark, sf_dir)
    per_source = t.documents.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_tokens")
    )
    tot = per_source.agg(F.sum("n_tokens").alias("total"))
    p = F.col("n_tokens").cast("double") / F.col("total")
    ent = -F.sum(p * F.log2(p))
    return (
        per_source.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.round(ent, 6).alias("source_entropy_bits"),
            F.round(F.pow(F.lit(2.0), ent), 6).alias("effective_sources"),
        )
    )


@register(
    "dedup_affix_prefix",
    oracle="""
WITH keyed AS (
  SELECT doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ')
           AS prefix,
         md5(text) AS full_hash
  FROM documents
)
SELECT prefix,
       count(*) AS n_docs,
       count(DISTINCT full_hash) AS n_distinct_bodies
FROM keyed
GROUP BY prefix HAVING count(*) > 1
""",
)
def dedup_affix_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix (affix) duplication: documents opening with the same
    5-token prefix — the template/boilerplate-header signal that exact
    dedup misses because the bodies differ. Groups shuffle on the short
    prefix key only; the distinct-body count rides the same shuffle."""
    t = Tables(spark, sf_dir)
    keyed = t.documents.select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 1, 5), " ").alias("prefix"),
        F.md5("text").alias("full_hash"),
    )
    return (
        keyed.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("full_hash").alias("n_distinct_bodies"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# §2.P.4 embeddings, existence joins, interval arithmetic, data quality
# ---------------------------------------------------------------------------


@register(
    "embed_cosine_histogram",
    oracle="""
WITH pairs AS (
  SELECT round(
           list_sum(list_transform(a.embedding,
             (x, i) -> CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 9) AS cos
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE (a.embedding IS NOT NULL
         AND len(list_filter(a.embedding, x -> x IS NULL OR NOT isfinite(x))) = 0)
    AND (b.embedding IS NOT NULL
         AND len(list_filter(b.embedding, x -> x IS NULL OR NOT isfinite(x))) = 0)
)
SELECT CAST(floor(cos * 10) AS INT) AS bin,
       count(*) AS n_pairs
FROM pairs GROUP BY bin
""",
)
def embed_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-label pairwise-cosine distribution, binned at width 0.1 —
    the corpus-geometry health check run before choosing a dedup
    threshold. One groupBy-label shuffle and ONE Arrow crossing per vector
    (the sim_pair_dedup data-movement shape): each block bins its pairwise
    cosines with a chunked block-local matmul and emits per-block bin
    counts, which a 21-row final aggregate merges. The numpy round(9) ≡
    DuckDB round(9) parity discipline is the one sim_pair_dedup's kernel
    already established (a first cut computed per-pair cosines with the
    aggregate/zip_with EXPRESSION for bit-exactness and measured 87 s at
    the 10x sweep vs ~2 s for this kernel — per-pair interpreted HOF work
    is the slow path; Σ block² pair COUNT is identical). At corpus scale
    the block key becomes sim_pair_dedup_lsh's bucket."""
    import numpy as np
    import pandas as pd

    def block_bins(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"bin": [], "n": []}).astype(
                {"bin": "int32", "n": "int64"}
            )
        G = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        Gn = G / np.sqrt((G * G).sum(axis=1, keepdims=True))
        counts: dict[int, int] = {}
        chunk = 4096
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            C = np.round(Gn[lo:hi] @ Gn.T, 9)
            ri, cj = np.indices(C.shape)
            keep = (ri + lo) < cj  # each unordered pair once, no self-pairs
            bins = np.floor(C[keep] * 10).astype("int32")
            b, c = np.unique(bins, return_counts=True)
            for bb, cc in zip(b.tolist(), c.tolist()):
                counts[bb] = counts.get(bb, 0) + int(cc)
        return pd.DataFrame(
            {"bin": list(counts), "n": list(counts.values())}
        ).astype({"bin": "int32", "n": "int64"})

    # Null/nan-tier contract (mirrored in the oracle): NULL embeddings have
    # no geometry, non-finite components poison the block matmul (NaN rows
    # bin differently than the oracle's NaN floor), and the oracle's
    # a.label = b.label join never matches NULL labels while groupBy would
    # form a NULL block — quarantine all three here.
    from ai_dataingestion_spark.functions.portable import finite_vec

    e = (
        Tables(spark, sf_dir)
        .embeddings.where(finite_vec("embedding") & F.col("label").isNotNull())
        .select("vec_id", "embedding", "label")
    )
    per_block = e.groupBy("label").applyInPandas(block_bins, "bin int, n bigint")
    return per_block.groupBy("bin").agg(F.sum("n").alias("n_pairs"))


@register(
    "join_existence_flags",
    oracle="""
WITH last_year AS (SELECT max(year(o_orderdate)) AS yr FROM orders),
flags AS (
  SELECT o_custkey,
         max(CASE WHEN year(o_orderdate) = yr THEN 1 ELSE 0 END) AS recent,
         max(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS big
  FROM orders, last_year GROUP BY o_custkey
)
SELECT c_custkey,
       coalesce(recent = 1, FALSE) AS has_recent_order,
       coalesce(big = 1, FALSE) AS has_big_order
FROM customer LEFT JOIN flags ON c_custkey = o_custkey
""",
)
def join_existence_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence flags without N semi-joins: ONE aggregation over orders
    computes every EXISTS predicate as a max(CASE), then a single left
    join attaches them — the decorrelated multi-EXISTS pattern (N
    correlated subqueries would be N shuffles; this is always two)."""
    t = Tables(spark, sf_dir)
    last_yr = t.orders.agg(F.max(F.year("o_orderdate")).alias("yr"))
    flags = (
        t.orders.crossJoin(F.broadcast(last_yr))
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.year("o_orderdate") == F.col("yr"), 1).otherwise(0)
            ).alias("recent"),
            F.max(
                F.when(F.col("o_totalprice") > 200000, 1).otherwise(0)
            ).alias("big"),
        )
    )
    return (
        t.customer.join(flags, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("recent") == 1, F.lit(False)).alias(
                "has_recent_order"
            ),
            F.coalesce(F.col("big") == 1, F.lit(False)).alias("has_big_order"),
        )
    )


@register(
    "fn_interval_arith",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus_3m,
       CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS qtr_start,
       CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(dayofyear(o_orderdate) AS INT) AS doy
FROM orders
""",
)
def fn_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic parity surface: add_months, quarter
    truncation, month-end, quarter and day-of-year extraction — all
    whole-stage-codegen expressions. Spark's add_months and DuckDB's
    + INTERVAL MONTH share end-of-month clamping semantics."""
    t = Tables(spark, sf_dir)
    return t.orders.select(
        "o_orderkey",
        F.add_months("o_orderdate", 3).cast("timestamp_ntz").alias("plus_3m"),
        F.date_trunc("quarter", "o_orderdate")
        .cast("timestamp_ntz")
        .alias("qtr_start"),
        F.last_day("o_orderdate").cast("timestamp_ntz").alias("month_end"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.dayofyear("o_orderdate").cast("int").alias("doy"),
    )


@register(
    "pipeline_dead_letter",
    oracle="""
WITH corpus AS (
  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
  UNION ALL
  SELECT o_orderkey + 10000000, -o_totalprice, 'UNKNOWN'
  FROM orders WHERE o_orderkey % 100 = 0
)
SELECT o_orderkey,
       concat_ws(';',
         CASE WHEN o_totalprice <= 0 THEN 'nonpositive_total' END,
         CASE WHEN o_orderpriority NOT IN
              ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
              THEN 'unknown_priority' END) AS reasons
FROM corpus
WHERE o_totalprice <= 0
   OR o_orderpriority NOT IN
      ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
""",
)
def pipeline_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing: rows failing validation leave the pipeline
    with machine-readable reasons (semicolon-joined — scalar output per
    the oracle-schema rule) instead of killing the job. Violations are
    injected deterministically (every 100th order: negated total, unknown
    priority) since the corpus itself is clean; the checks are pure
    expressions evaluated in one pass, no per-check scans."""
    t = Tables(spark, sf_dir)
    base = t.orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
    bad = t.orders.filter(F.col("o_orderkey") % 100 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        (-F.col("o_totalprice")).alias("o_totalprice"),
        F.lit("UNKNOWN").alias("o_orderpriority"),
    )
    corpus = base.unionByName(bad)
    known = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    r1 = F.when(F.col("o_totalprice") <= 0, F.lit("nonpositive_total"))
    r2 = F.when(
        ~F.col("o_orderpriority").isin(known), F.lit("unknown_priority")
    )
    return corpus.filter(
        (F.col("o_totalprice") <= 0) | ~F.col("o_orderpriority").isin(known)
    ).select("o_orderkey", F.concat_ws(";", r1, r2).alias("reasons"))


@register(
    "pipeline_reconcile_totals",
    oracle="""
WITH line_sums AS (
  SELECT l_orderkey,
         sum(CAST(l_extendedprice * (1 + l_tax) * (1 - l_discount)
                  AS DECIMAL(38,6))) AS computed_total
  FROM lineitem GROUP BY l_orderkey
),
joined AS (
  SELECT o_orderstatus,
         abs(CAST(computed_total AS DOUBLE) - o_totalprice)
           / o_totalprice AS rel_diff
  FROM orders JOIN line_sums ON o_orderkey = l_orderkey
)
SELECT o_orderstatus,
       count(*) AS n_orders,
       count(*) FILTER (rel_diff > 0.01) AS n_mismatched,
       round(avg(rel_diff), 6) AS avg_rel_diff
FROM joined GROUP BY o_orderstatus
""",
)
def pipeline_reconcile_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation: order header totals vs the recomputed
    sum of their line items (gross = extendedprice x (1+tax) x
    (1-discount)), reported as mismatch counts and mean relative error
    per order status — the ledger-integrity check of an ingest pipeline.
    Both sides aggregate lineitem BEFORE the join, so the join carries
    one row per order; the money sum stays in DECIMAL until the ratio."""
    t = Tables(spark, sf_dir)
    line_sums = t.lineitem.groupBy("l_orderkey").agg(
        F.sum(
            (
                F.col("l_extendedprice")
                * (1 + F.col("l_tax"))
                * (1 - F.col("l_discount"))
            ).cast("decimal(38,6)")
        ).alias("computed_total")
    )
    joined = t.orders.join(
        line_sums, F.col("o_orderkey") == F.col("l_orderkey")
    ).select(
        "o_orderstatus",
        (
            F.abs(F.col("computed_total").cast("double") - F.col("o_totalprice"))
            / F.col("o_totalprice")
        ).alias("rel_diff"),
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("rel_diff") > 0.01, 1)).alias("n_mismatched"),
        F.round(F.avg("rel_diff"), 6).alias("avg_rel_diff"),
    )


# ---------------------------------------------------------------------------
# §2.P.5 window-filling five: cumulative share, delay stats, Gini,
# norm percentiles, higher moments
# ---------------------------------------------------------------------------


@register(
    "orders_cumulative_share_monthly",
    oracle="""
WITH monthly AS (
  -- o_orderdate IS NOT NULL: a cumulative monthly curve has no seat for
  -- "no month" — and the oracle engine's window ordering over a NULL
  -- month from a GROUP BY date_trunc is broken even under an explicit
  -- NULLS LAST (it seats the NULL first; verified on this corpus)
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         sum(CAST(o_totalprice AS DECIMAL(38,6))) AS revenue
  FROM orders WHERE o_orderdate IS NOT NULL
  GROUP BY date_trunc('month', o_orderdate)
)
SELECT month,
       CAST(round(revenue, 2) AS DOUBLE) AS revenue,
       round(CAST(sum(revenue) OVER (ORDER BY month
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(sum(revenue) OVER () AS DOUBLE), 6) AS cumulative_share
FROM monthly
""",
)
def orders_cumulative_share_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue share by month — the 'what fraction of the year
    is booked by June' curve. Aggregate-first: both windows (running sum,
    grand total) run over the months-sized relation, decimal until the
    final ratio."""
    t = Tables(spark, sf_dir)
    monthly = (
        t.orders.where(F.col("o_orderdate").isNotNull())  # oracle mirrors
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("revenue"))
    )
    # asc_nulls_last: the NULL-date month accrues at the END of the
    # cumulative curve, as in the oracle's ORDER BY month default
    w_run = Window.orderBy(F.asc_nulls_last("month")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    return monthly.select(
        F.col("month").cast("timestamp_ntz").alias("month"),
        F.round("revenue", 2).cast("double").alias("revenue"),
        F.round(
            F.sum("revenue").over(w_run).cast("double")
            / F.sum("revenue").over(w_all).cast("double"),
            6,
        ).alias("cumulative_share"),
    )


@register(
    "lineitem_shipping_delay_stats",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_lines,
       round(avg(datediff('day', o_orderdate, l_shipdate)), 6) AS avg_delay,
       min(datediff('day', o_orderdate, l_shipdate)) AS min_delay,
       max(datediff('day', o_orderdate, l_shipdate)) AS max_delay,
       round(stddev_samp(datediff('day', o_orderdate, l_shipdate)), 6)
         AS sd_delay
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def lineitem_shipping_delay_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-delay distribution per order priority: integer day deltas
    through count/avg/min/max/stddev. One shuffle join on orderkey, one
    partial-aggregable groupBy; 5-row output at any scale."""
    t = Tables(spark, sf_dir)
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.avg(delay), 6).alias("avg_delay"),
            F.min(delay).alias("min_delay"),
            F.max(delay).alias("max_delay"),
            F.round(F.stddev_samp(delay), 6).alias("sd_delay"),
        )
    )


@register(
    "supplier_revenue_gini",
    oracle=f"""
WITH srev AS (
  SELECT l_suppkey, sum(CAST({_NET} AS DECIMAL(38,6))) AS revenue
  FROM lineitem GROUP BY l_suppkey
),
ranked AS (
  SELECT revenue,
         row_number() OVER (ORDER BY revenue ASC, l_suppkey ASC) AS rn,
         count(*) OVER () AS n
  FROM srev
)
SELECT CAST(max(n) AS BIGINT) AS n_suppliers,
       round(2.0 * CAST(sum(CAST(rn AS DECIMAL(38,6)) * revenue) AS DOUBLE)
             / (max(n) * CAST(sum(revenue) AS DOUBLE))
             - (max(n) + 1.0) / max(n), 6) AS gini
FROM ranked
""",
)
def supplier_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of supplier revenue concentration via the sorted
    formula G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n — the inequality number next
    to lineitem_abc_pareto. Rank runs over the aggregated per-supplier
    relation (suppliers-sized); Σ(i·x) stays in DECIMAL so both engines
    sum exactly."""
    t = Tables(spark, sf_dir)
    srev = t.lineitem.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(38,6)"
            )
        ).alias("revenue")
    )
    w = Window.orderBy(F.asc("revenue"), F.asc("l_suppkey"))
    ranked = srev.select(
        "revenue",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_suppliers"),
        F.round(
            2.0
            * F.sum(F.col("rn").cast("decimal(38,6)") * F.col("revenue")).cast(
                "double"
            )
            / (F.max("n") * F.sum("revenue").cast("double"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
    )


@register(
    "embed_norm_percentiles",
    oracle="""
WITH norms AS (
  SELECT sqrt(list_sum(list_transform(embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
)
SELECT count(*) AS n_vectors,
       round(quantile_cont(l2, 0.10), 6) AS p10,
       round(quantile_cont(l2, 0.50), 6) AS p50,
       round(quantile_cont(l2, 0.90), 6) AS p90
FROM norms
""",
)
def embed_norm_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm distribution percentiles of the embedding corpus — the
    un-normalized-vector detector. Norms use the left-to-right aggregate
    (bit-identical to list_sum), so the interpolated percentiles agree
    exactly; one aggregate, one row out. Computed over VALID vectors only
    (nan-tier contract, mirrored in the oracle): a NaN/Inf component makes
    the norm non-finite, which this engine's percentile ranks greatest but
    the oracle's quantile_cont propagates as NaN — quarantine, don't rank.
    n_vectors therefore counts valid vectors."""
    from ai_dataingestion_spark.ai.similarity import _norm, _vectors

    e = _vectors(Tables(spark, sf_dir).embeddings)
    norms = e.select(_norm(F.col("embedding")).alias("l2"))
    return norms.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.percentile("l2", 0.10), 6).alias("p10"),
        F.round(F.percentile("l2", 0.50), 6).alias("p50"),
        F.round(F.percentile("l2", 0.90), 6).alias("p90"),
    )


@register(
    "agg_higher_moments",
    oracle="""
WITH powers AS (
  SELECT l_returnflag,
         avg(l_quantity) AS m1,
         avg(l_quantity * l_quantity) AS e2,
         avg(l_quantity * l_quantity * l_quantity) AS e3,
         avg(l_quantity * l_quantity * l_quantity * l_quantity) AS e4,
         count(*) AS n
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((e3 - 3 * m1 * e2 + 2 * m1 * m1 * m1)
             / pow(e2 - m1 * m1, 1.5), 6) AS skewness,
       round((e4 - 4 * m1 * e3 + 6 * m1 * m1 * e2 - 3 * m1 * m1 * m1 * m1)
             / pow(e2 - m1 * m1, 2.0) - 3.0, 6) AS excess_kurtosis
FROM powers
""",
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per return flag, computed
    from raw power sums (E[x],E[x²],E[x³],E[x⁴] → central moments) so both
    engines evaluate the IDENTICAL formula — Spark's built-in skewness()
    and DuckDB's use different bias corrections, which is exactly the
    cross-engine trap this query pins down. Single partial-aggregable
    pass; 6-dp rounding absorbs summation-order noise."""
    t = Tables(spark, sf_dir)
    q = F.col("l_quantity")
    powers = t.lineitem.groupBy("l_returnflag").agg(
        F.avg(q).alias("m1"),
        F.avg(q * q).alias("e2"),
        F.avg(q * q * q).alias("e3"),
        F.avg(q * q * q * q).alias("e4"),
        F.count(F.lit(1)).alias("n"),
    )
    m1, e2, e3, e4 = (F.col(c) for c in ("m1", "e2", "e3", "e4"))
    var = e2 - m1 * m1
    return powers.select(
        "l_returnflag",
        "n",
        F.round((e3 - 3 * m1 * e2 + 2 * m1 * m1 * m1) / F.pow(var, 1.5), 6).alias(
            "skewness"
        ),
        F.round(
            (e4 - 4 * m1 * e3 + 6 * m1 * m1 * e2 - 3 * m1 * m1 * m1 * m1)
            / F.pow(var, 2.0)
            - 3.0,
            6,
        ).alias("excess_kurtosis"),
    )
