"""Round-2 surface extensions (SURVEY.md §2.N): deeper TPC-H composites,
decorrelated scalar subqueries, robust statistics (median / IQR outliers /
weighted means), a gap-filled time-series rollup, fuzzy string matching,
per-label embedding centroids, SCD2 interval building, per-doc keyword
extraction, and cross-source exact-dup (leakage) detection.

Registered AFTER every round-1 module so these operators append to the end
of the rotation order and never displace the current driver sweep window
(catalog._rotation_rank).

Float discipline follows SURVEY.md §5.4: sums of money PRODUCTS go through
DECIMAL(38,6); quotients (averages, ratios) round at 6 dp; counts and keys
are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import dec_sum, stable_sum, stable_sum_sql
from ai_dataingestion_spark.scale import broadcast_if_small
from ai_dataingestion_spark.registry import Tables


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): pure filter + global agg —
    the canonical predicate-pushdown showcase; all three predicates reach
    the parquet scan, no shuffle beyond the final 1-row reduce."""
    li = Tables(spark, sf_dir).lineitem
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(dec_sum(F.col("l_extendedprice") * F.col("l_discount")), 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q14_promo_revenue",
    oracle=f"""
SELECT round(
         100.0 * {stable_sum_sql(
             "CASE WHEN p.p_type = 'PROMO' "
             "THEN l.l_extendedprice * (1 - l.l_discount) END")}
               / {stable_sum_sql(
                   "l.l_extendedprice * (1 - l.l_discount)")}, 6) AS promo_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
""",
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promo revenue share): broadcast dim join + ratio of
    conditional aggregates. Both sums accumulate in DECIMAL(38,6)
    (portable.py:stable_sum, the r15 residual-site hardening): the two
    operands are then bit-identical doubles on both engines, so the
    quotient and its 6dp rounding are draw-deterministic — not merely
    noise-cancelling."""
    t = Tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .join(
            broadcast_if_small(t.part, sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .agg(
            F.round(
                100.0
                * stable_sum(F.when(F.col("p_type") == "PROMO", rev))
                / stable_sum(rev),
                6,
            ).alias("promo_pct")
        )
    )


@register(
    "tpch_q7_volume_shipping",
    oracle="""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       year(l.l_shipdate) AS ship_year,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey  = s.s_suppkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey  = c.c_custkey
JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
WHERE ((ns.n_name = 'NATION_0' AND nc.n_name = 'NATION_1')
    OR (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_0'))
GROUP BY ns.n_name, nc.n_name, year(l.l_shipdate)
""",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bilateral shipping volume): fact⋈fact⋈fact chain with
    two broadcast nation dims and a cross-nation pair predicate, grouped by
    (supplier nation, customer nation, ship year). The nation filter is
    pushed through both dim joins so only qualifying rows shuffle."""
    t = Tables(spark, sf_dir)
    ns = t.nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nc = t.nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_0") & (F.col("cust_nation") == "NATION_1")
    ) | ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_0"))
    return (
        t.lineitem.join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(
            F.round(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).cast("double").alias("revenue")
        )
    )


@register(
    "subquery_scalar_avg",
    oracle="""
WITH type_avg AS (
  SELECT p_type, avg(p_retailprice) AS avg_price FROM part GROUP BY p_type
)
SELECT p.p_type, count(*) AS n_above, round(any_value(t.avg_price), 6) AS avg_price
FROM part p JOIN type_avg t ON p.p_type = t.p_type
WHERE p.p_retailprice > t.avg_price
GROUP BY p.p_type
""",
)
def subquery_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decorrelated scalar subquery: parts priced above their type's average
    — the correlated `WHERE price > (SELECT avg ...)` rewritten as the plan
    an optimizer produces: tiny per-type aggregate, broadcast back onto the
    base table. The average is a quotient (6 dp engine-stable)."""
    p = Tables(spark, sf_dir).part
    type_avg = p.groupBy("p_type").agg(F.avg("p_retailprice").alias("avg_price"))
    return (
        p.join(F.broadcast(type_avg), "p_type")
        .filter(F.col("p_retailprice") > F.col("avg_price"))
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.round(F.any_value("avg_price"), 6).alias("avg_price"),
        )
    )


@register(
    "agg_median",
    oracle="""
SELECT c_mktsegment, round(median(c_acctbal), 4) AS med_bal, count(*) AS n
FROM customer GROUP BY c_mktsegment
""",
)
def agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median account balance per market segment (both engines
    interpolate the even-count midpoint with the same (a+b)/2 on identical
    inputs, so the doubles agree before rounding)."""
    return (
        Tables(spark, sf_dir)
        .customer.groupBy("c_mktsegment")
        .agg(
            F.round(F.median("c_acctbal"), 4).alias("med_bal"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "agg_weighted_avg",
    oracle=f"""
SELECT l_returnflag,
       round({stable_sum_sql("l_extendedprice * l_quantity")}
             / sum(l_quantity), 6)
         AS wavg_price,
       round(sum(l_quantity), 2) AS total_qty
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted mean price per return flag: Σ(w·x)/Σ(w) as one
    partial-aggregable pass (the ratio-of-sums form — never avg-of-avgs,
    which is wrong under grouping and does not map-side combine). The
    numerator accumulates in DECIMAL(38,6) (portable.py:stable_sum); the
    denominator Σ(quantity) is integer-valued so double summation is
    already exact — the ratio is then draw-deterministic on both
    engines."""
    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.round(
            stable_sum(F.col("l_extendedprice") * F.col("l_quantity"))
            / F.sum("l_quantity"),
            6,
        ).alias("wavg_price"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


@register(
    "quality_outlier_iqr",
    oracle="""
WITH fences AS (
  SELECT o_orderstatus,
         quantile_cont(o_totalprice, 0.25) AS q1,
         quantile_cont(o_totalprice, 0.75) AS q3
  FROM orders GROUP BY o_orderstatus
)
SELECT o.o_orderstatus,
       round(any_value(f.q1), 4) AS q1,
       round(any_value(f.q3), 4) AS q3,
       count(CASE WHEN o.o_totalprice > f.q3 + 1.5 * (f.q3 - f.q1) THEN 1 END)
         AS n_high,
       count(CASE WHEN o.o_totalprice < f.q1 - 1.5 * (f.q3 - f.q1) THEN 1 END)
         AS n_low
FROM orders o JOIN fences f ON o.o_orderstatus = f.o_orderstatus
GROUP BY o.o_orderstatus
""",
)
def quality_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen (Tukey fences): per-status quartiles, then
    counts beyond q3+1.5·IQR / q1−1.5·IQR. The tiny fence table broadcasts
    back onto the base — two passes, both partial-aggregable; the fence
    arithmetic is the identical double expression on both engines, so the
    count comparisons see identical thresholds."""
    o = Tables(spark, sf_dir).orders
    fences = o.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", 0.25).alias("q1"),
        F.percentile("o_totalprice", 0.75).alias("q3"),
    )
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    return (
        o.join(F.broadcast(fences), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.any_value("q1"), 4).alias("q1"),
            F.round(F.any_value("q3"), 4).alias("q3"),
            F.count(F.when(F.col("o_totalprice") > hi, 1)).alias("n_high"),
            F.count(F.when(F.col("o_totalprice") < lo, 1)).alias("n_low"),
        )
    )


@register(
    "events_timeseries_rollup",
    oracle="""
WITH spine AS (
  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                     INTERVAL 1 DAY)) AS DATE) AS d
),
daily AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY 1
)
SELECT CAST(s.d AS VARCHAR) AS day,
       coalesce(dy.n, 0) AS n,
       round(avg(coalesce(dy.n, 0)) OVER (
         ORDER BY s.d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7
FROM spine s LEFT JOIN daily dy ON s.d = dy.d
""",
)
def events_timeseries_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily rollup + 7-day trailing mean: a generated date spine
    LEFT-JOINs the daily aggregate so silent gaps become explicit zeros
    (a rolling window over a gappy series silently averages the wrong
    days), then a rows-frame moving average. At 100 TB the spine is trivially
    broadcast and the daily aggregate is the only real shuffle."""
    e = Tables(spark, sf_dir).events
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("d")
    )
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n_raw")
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    return (
        spine.join(daily, "d", "left")
        .select("d", F.coalesce("n_raw", F.lit(0)).alias("n"))
        .select(
            F.col("d").cast("string").alias("day"),
            "n",
            F.round(F.avg("n").over(w), 6).alias("ma7"),
        )
    )


@register(
    "fn_levenshtein_match",
    oracle="""
SELECT s_suppkey, s_name, n_name AS best_nation, dist FROM (
  SELECT s.s_suppkey, s.s_name, n.n_name,
         -- ASCII operands only: edit distance is an encoding-unit metric
         -- and the engines count different units outside ASCII
         CASE WHEN NOT regexp_matches(s.s_name, '[^ -~]')
               AND NOT regexp_matches(n.n_name, '[^ -~]')
              THEN levenshtein(s.s_name, n.n_name) END AS dist,
         row_number() OVER (
           PARTITION BY s.s_suppkey
           ORDER BY CASE WHEN NOT regexp_matches(s.s_name, '[^ -~]')
                          AND NOT regexp_matches(n.n_name, '[^ -~]')
                         THEN levenshtein(s.s_name, n.n_name) END ASC,
                    n.n_name ASC) AS rn
  FROM supplier s CROSS JOIN nation n
) WHERE rn = 1
""",
)
def fn_levenshtein_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy nearest-name match (entity-resolution kernel): every supplier
    against the broadcast nation list by edit distance, deterministic
    tie-break on name. At scale the small side is always the broadcast
    reference list and the cross product is bounded by its size."""
    t = Tables(spark, sf_dir)
    pairs = t.supplier.select("s_suppkey", "s_name").crossJoin(
        F.broadcast(t.nation.select("n_name"))
    )
    # asc_nulls_last on both keys: a NULL name has NULL distance to
    # everything and must never win the argmin (oracle ASC default);
    # NULL reference names lose the tie-break the same way
    w = Window.partitionBy("s_suppkey").orderBy(
        F.asc_nulls_last("dist"), F.asc_nulls_last("n_name")
    )
    ascii_pair = ~F.col("s_name").rlike("[^ -~]") & ~F.col(
        "n_name"
    ).rlike("[^ -~]")
    return (
        pairs.select(
            "s_suppkey",
            "s_name",
            "n_name",
            # NULL outside the ASCII domain (oracle mirrors): non-ASCII
            # names never win the argmin under nulls-last ordering
            F.when(ascii_pair, F.levenshtein("s_name", "n_name")).alias(
                "dist"
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("s_suppkey", "s_name", F.col("n_name").alias("best_nation"), "dist")
    )


@register(
    "embed_label_centroid",
    oracle="""
SELECT label, i AS dim, round(avg(x), 6) AS centroid FROM (
  SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
) GROUP BY label, i
""",
)
def embed_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension): posexplode the
    vector and average per component — fully partial-aggregable, no vector
    UDF, the natural k-means-update / class-prototype kernel. (The exploded
    relation is rows×dim, but each shuffle record is one double — at 100 TB
    this is the map-side-combined plan, not a per-row array fold.)"""
    e = Tables(spark, sf_dir).embeddings
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("centroid"))
    )


@register(
    "pipeline_scd2_intervals",
    oracle="""
SELECT user_id, event_id,
       epoch_us(ts) AS valid_from_us,
       epoch_us(lead(ts) OVER w) AS valid_to_us,
       (lead(ts) OVER w IS NULL) AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
""",
)
def pipeline_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 interval construction from a change log: each record's
    validity spans until the key's next change (lead), open-ended for the
    current row. Epoch-µs output (sub-second timestamp strings are not
    engine-portable — SURVEY.md §5.4). One shuffle on the entity key; at
    100 TB this is the dimension-history build over a CDC feed."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), F.asc("event_id"))
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("valid_from_us"),
        F.unix_micros(nxt.cast("timestamp")).alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "text_keyword_extract",
    oracle="""
SELECT doc_id, token, tf, rn FROM (
  SELECT doc_id, token, count(*) AS tf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY count(*) DESC, token ASC) AS rn
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY doc_id, token
) WHERE rn <= 3
""",
)
def text_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tokens per document by term frequency (deterministic tie-break
    on the token): the per-doc keyword kernel. One explode + one
    (doc, token) shuffle; the window partitions by doc_id — bounded
    partitions (a document's vocabulary), no hot-key risk, unlike a
    corpus-wide token window."""
    d = Tables(spark, sf_dir).documents
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("token"))
    return (
        tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "rn")
    )


_XSRC_OFFSET = 700_000


@register(
    "dedup_cross_source",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + {_XSRC_OFFSET}, text, 'mirror' FROM documents
  WHERE doc_id % 3 = 0
),
hashed AS (SELECT doc_id, source, sha256(text) AS text_sha FROM corpus)
SELECT text_sha,
       min(doc_id) AS keep_id,
       count(*) AS n_copies,
       count(DISTINCT source) AS n_sources
FROM hashed
GROUP BY text_sha
HAVING count(DISTINCT source) >= 2
""",
)
def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-dup detection (train/eval leakage screen): hash
    groups spanning ≥2 distinct sources (fixture: every 3rd doc mirrored
    under a second source). Same uniform-digest shuffle as dedup_exact;
    the distinct-source count is over a tiny per-group set. At 100 TB this
    is the standard benchmark-contamination sweep over corpus snapshots."""
    d = Tables(spark, sf_dir).documents
    corpus = d.select("doc_id", "text", "source").unionByName(
        d.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + _XSRC_OFFSET).alias("doc_id"),
            "text",
            F.lit("mirror").alias("source"),
        )
    )
    return (
        corpus.select("doc_id", "source", F.sha2("text", 256).alias("text_sha"))
        .groupBy("text_sha")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("n_sources") >= 2)
    )


@register(
    "dedup_cluster_components",
    oracle="""
WITH RECURSIVE nodes AS (SELECT doc_id AS node FROM documents),
cand AS (
  SELECT doc_id AS src, doc_id + 1 AS dst FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 1, doc_id + 2 FROM documents WHERE doc_id % 5 = 0
),
dir AS (SELECT src, dst FROM cand
        WHERE src IN (SELECT node FROM nodes)
          AND dst IN (SELECT node FROM nodes)),
edges AS (SELECT src, dst FROM dir UNION SELECT dst, src FROM dir),
walk AS (
  SELECT node, node AS comp FROM nodes
  UNION
  SELECT e.dst AS node, w.comp FROM walk w JOIN edges e ON e.src = w.node
),
comps AS (SELECT node, min(comp) AS component FROM walk GROUP BY node)
SELECT node AS doc_id, component,
       count(*) OVER (PARTITION BY component) AS component_size
FROM comps
""",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a pair graph
    (every near-dup pipeline ends here — pair lists must become cluster ids
    before a keep-one policy can run). Deterministic edge fixture: chains
    d—(d+1)—(d+2) for d % 5 == 0, so components need MULTI-HOP propagation
    (d and d+2 share no edge).

    Iterative min-label propagation (the Pregel kernel): each round joins
    labels to edges and takes the min over (self, neighbors), materialized
    per round to cut lineage, until a fixpoint. Rounds = graph diameter —
    2 here; at 100 TB the same loop runs with the alternating large-star/
    small-star optimization and checkpointed iterations. The driver-side
    loop is bounded and each round is one shuffle — no per-row Python.

    DuckDB twin: WITH RECURSIVE reachability closure + min per node.
    """
    d = Tables(spark, sf_dir).documents.select("doc_id")
    nodes = d.select(F.col("doc_id").alias("node"))
    fives = d.filter(F.col("doc_id") % 5 == 0)
    cand = fives.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
    ).unionByName(
        fives.select(
            (F.col("doc_id") + 1).alias("src"), (F.col("doc_id") + 2).alias("dst")
        )
    )
    directed = cand.join(
        nodes.select(F.col("node").alias("src")), "src", "left_semi"
    ).join(nodes.select(F.col("node").alias("dst")), "dst", "left_semi")

    labels = connected_components(nodes, directed)
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("component_size"))
    return labels.join(F.broadcast(sizes), "comp").select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("component"),
        "component_size",
    )


def connected_components(
    nodes: DataFrame, directed_edges: DataFrame, max_iters: int = 32
) -> DataFrame:
    """Reusable min-label-propagation kernel: (node) × (src, dst) →
    (node, comp) where comp is the smallest node id reachable in the
    undirected closure. Each round is one shuffle (edges ⋈ labels → min);
    exits at the fixpoint, whose round count is the graph diameter.
    ``max_iters`` is a runaway bound for adversarial inputs — a path graph
    of n nodes needs n-1 rounds, so callers with deep graphs must raise it
    (or switch to large-star/small-star, which converges in O(log n)
    rounds).

    Each round's labels are localCheckpoint'ed: an iterative DataFrame that
    references its previous state twice per round grows its logical plan
    EXPONENTIALLY (2^rounds nodes — measured as a Catalyst OOM near round
    29 on a 30-node path); checkpointing truncates the lineage so every
    round plans against a materialized leaf. On a cluster prefer
    ``checkpoint()`` to a reliable directory — localCheckpoint blocks die
    with their executor."""
    edges = directed_edges.select("src", "dst").unionByName(
        directed_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = nodes.select("node", F.col("node").alias("comp")).localCheckpoint()
    for _ in range(max_iters):
        prop = edges.join(labels, F.col("src") == F.col("node")).select(
            F.col("dst").alias("node"), "comp"
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint()
        )
        changed = (
            new_labels.join(
                labels.select("node", F.col("comp").alias("old")), "node"
            )
            .filter(F.col("comp") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


_FRAME_LEN = 64       # bytes per sampled frame
_FRAME_STRIDE = 256   # byte offset between samples
_N_FRAMES = 3


@register(
    "multimodal_frame_sample",
    oracle=f"""
SELECT d.doc_id, f.frame_idx,
       f.frame_idx * {_FRAME_STRIDE} AS frame_off,
       lower(substring(hex(encode(d.text)),
                       f.frame_idx * {_FRAME_STRIDE} * 2 + 1,
                       {_FRAME_LEN} * 2)) AS frame_hex
FROM documents d
CROSS JOIN (VALUES (0), (1), (2)) f(frame_idx)
WHERE octet_length(encode(d.text)) >= f.frame_idx * {_FRAME_STRIDE} + {_FRAME_LEN}
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over an opaque binary payload (the video-modality
    plumbing shape): every document's payload is sampled at fixed byte
    strides, emitting 0..3 fixed-length frames per row — a mapInPandas
    stage whose output cardinality differs from its input, exactly like a
    real frame extractor. Payload bytes stand in for codec frames (no
    codecs in this container — see _decode_payload in ai/multimodal.py);
    the byte plumbing, schema, and variable fan-out are real and
    oracle-checked against hex slices of the same bytes."""
    import pandas as pd

    from pyspark.sql.types import BinaryType

    d = Tables(spark, sf_dir).documents
    binary = d.select(
        "doc_id", F.encode("text", "UTF-8").cast(BinaryType()).alias("payload")
    )

    def sample(batches):
        for pdf in batches:
            out_id, out_idx, out_off, out_hex = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # no payload, no frames (oracle's
                    continue         # NULL octet_length never passes >=)
                buf = bytes(payload)
                for i in range(_N_FRAMES):
                    off = i * _FRAME_STRIDE
                    if len(buf) >= off + _FRAME_LEN:
                        out_id.append(doc_id)
                        out_idx.append(i)
                        out_off.append(off)
                        out_hex.append(buf[off : off + _FRAME_LEN].hex())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_id, dtype="int64"),
                    "frame_idx": pd.Series(out_idx, dtype="int32"),
                    "frame_off": pd.Series(out_off, dtype="int32"),
                    "frame_hex": pd.Series(out_hex, dtype="object"),
                }
            )

    return binary.mapInPandas(
        sample, "doc_id bigint, frame_idx int, frame_off int, frame_hex string"
    )


@register(
    "stream_static_join",
    oracle="""
SELECT e.event_type, count(*) AS n, count(DISTINCT e.user_id) AS n_users
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY e.event_type
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the canonical ingestion topology the
    other streaming operators don't cover: a micro-batched event stream
    joined against a static (slowly-changing) dimension inside the stream,
    then aggregated. The dim side is re-planned per micro-batch (that is
    Spark's stream-static contract), broadcast-sized here and at 100 TB
    usually still broadcast after segment pruning. Final counts must equal
    the batch join — exactly-once across the join."""
    from ai_dataingestion_spark.registry import load_table
    from ai_dataingestion_spark.streaming.incremental import (
        _memory_query_name,
        _read_stream,
        _run_available_now,
        stage_event_files,
    )

    staging = stage_event_files(spark, sf_dir, n_files=3)
    name = _memory_query_name()
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("user_id"))
    )
    joined = (
        _read_stream(spark, staging)
        .join(broadcast_if_small(dim, sf_dir, "customer"), "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
        )
    )
    _run_available_now(
        joined.writeStream.format("memory").queryName(name).outputMode("complete")
    )
    # exact distinct for the oracle: recompute from the staged parquet is
    # unnecessary — the memory sink holds final counts; exact distinct users
    # comes from a batch pass over the SAME staged files (one bounded read)
    exact = (
        spark.read.schema(
            "event_id bigint, ts timestamp_ntz, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("recursiveFileLookup", "true")
        .parquet(staging)
        .join(broadcast_if_small(dim, sf_dir, "customer"), "user_id")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
    # eqNullSafe: the NULL event_type group is a legal aggregation result
    # on both sides; a null-unsafe equijoin would silently drop it
    agg = spark.table(name).select("event_type", "n")
    return agg.join(
        exact, agg["event_type"].eqNullSafe(exact["event_type"])
    ).select(agg["event_type"], "n", "n_users")


@register(
    "agg_histogram_bins",
    oracle="""
SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
       count(*) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM orders
GROUP BY 1
""",
)
def agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (the profiling/monitoring kernel): bin id via
    floor division — a pure map-side expression, so the aggregate is one
    partial-combined shuffle of (bin, partials); no sort, no percentile
    state. Bin membership is exact integer math on both engines."""
    o = Tables(spark, sf_dir).orders
    return o.groupBy(
        F.floor(F.col("o_totalprice") / 50000.0).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
# Spark-side twin with a run-initial guard: Java's backtracking regex
# re-scans the local-part run from EVERY start position inside it — O(n²)
# on a 100k-char single-token document (measured 617 s on the extremes
# tier; DuckDB's RE2 is linear and takes 0.0 s). The negative lookbehind
# makes every mid-run start fail in O(1). Match-set equivalence: '@' is
# not in the local-part class, so a match's local part is always a full
# maximal class-run (greedy backtracking can only see '@' after the run
# end) — every match therefore begins at a run-initial position, which is
# exactly what the lookbehind admits. RE2 has no lookbehind, so the
# oracle keeps the plain pattern; tests/test_edges.py pins the
# equivalence on adversarial strings.
_EMAIL_RE_SPARK = r"(?<![a-zA-Z0-9._%+-])" + _EMAIL_RE
# Oracle-side twin of the lookbehind: RE2 has no lookbehind, so the oracle
# anchors run-initial starts with a consuming prefix group instead —
# `(^|[^class])(EMAIL)` extracting/keeping group 2. This is match-set
# equivalent to the Java lookbehind INCLUDING at restart-after-match
# positions (ADVICE r10 #1: 'a@b.cc+x@d.ee' — the plain pattern resumes
# mid-run after match 1 and finds a second email the lookbehind rejects;
# the consuming prefix rejects it identically because the prefix char '+'
# is in the local-part class). No overlap hazard for the 'g' replace: a
# match's last char (TLD letter) is always a class char, so it can never
# serve as the next match's (non-class) prefix char. Equivalence pinned in
# tests/test_edges.py on adversarial strings and verified against DuckDB.
_EMAIL_RE_ORACLE = r"(^|[^a-zA-Z0-9._%+-])(" + _EMAIL_RE + ")"
_PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


@register(
    "text_pii_scrub",
    oracle=f"""
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or 555-867-' ||
                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(text, '{_EMAIL_RE_ORACLE}',
                                     '\\1<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
       len(regexp_extract_all(text, '{_EMAIL_RE_ORACLE}', 2)) AS n_emails,
       len(regexp_extract_all(text, '{_PHONE_RE}'))  AS n_phones
FROM seeded
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (a training-corpus compliance gate): regex scrubbing of
    emails and phone numbers with per-doc redaction counts. The fixture
    seeds deterministic PII into every 4th document so both the hit and
    no-hit paths are exercised. All JVM-side regex — a 100 TB corpus never
    crosses into Python for scrubbing; at scale the count columns feed the
    quality dashboard, the scrubbed column feeds the sink."""
    d = Tables(spark, sf_dir).documents
    seeded = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-867-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return seeded.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE_SPARK, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("scrubbed"),
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE_SPARK), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0))
        .cast("bigint")
        .alias("n_phones"),
    )


@register(
    "events_anomaly_zscore",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sigma
  FROM daily GROUP BY event_type
)
SELECT d.event_type, CAST(d.d AS VARCHAR) AS day, d.n,
       round((d.n - s.mu) / s.sigma, 6) AS z
FROM daily d JOIN stats s ON d.event_type = s.event_type
WHERE abs((d.n - s.mu) / s.sigma) >= 1.5
""",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection (pipeline observability): per-type daily
    counts z-scored against that type's own mean/stddev; days beyond
    |z| >= 1.5 are flagged. Two partial-aggregable passes with the tiny
    stats table broadcast back — the same shape as quality_outlier_iqr but
    over a derived time series. z is a quotient of identically-computed
    doubles, stable at 6 dp."""
    e = Tables(spark, sf_dir).events
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        daily.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) >= 1.5)
        .select(
            "event_type",
            F.col("d").cast("string").alias("day"),
            "n",
            F.round(z, 6).alias("z"),
        )
    )


_CHUNK_LEN = 32    # tokens per chunk
_CHUNK_STRIDE = 24 # tokens between chunk starts (8-token overlap)


@register(
    "text_chunk_overlap",
    oracle=f"""
SELECT doc_id, i AS chunk_idx,
       array_to_string(list_slice(toks, i * {_CHUNK_STRIDE} + 1,
                                  i * {_CHUNK_STRIDE} + {_CHUNK_LEN}), ' ')
         AS chunk_text_arr,
       len(list_slice(toks, i * {_CHUNK_STRIDE} + 1,
                      i * {_CHUNK_STRIDE} + {_CHUNK_LEN})) AS n_tokens
FROM (
  SELECT doc_id, string_split(text, ' ') AS toks,
         unnest(range(0, CAST(floor((len(string_split(text, ' ')) - 1)
                                    / {_CHUNK_STRIDE}) AS BIGINT) + 1)) AS i
  FROM documents
)
""",
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping document chunking (context-window prep for training /
    RAG): 32-token chunks every 24 tokens, one row per (doc, chunk) with
    its token count. Pure expression work — sequence + slice + explode, no
    Python; the fan-out is bounded by ceil(len/stride) and each output row
    carries only its own slice, so shuffle volume ≈ corpus size × (1 +
    overlap fraction)."""
    d = Tables(spark, sf_dir).documents.withColumn("toks", F.split("text", " "))
    chunk_ids = F.sequence(
        F.lit(0),
        F.floor((F.size("toks") - 1) / _CHUNK_STRIDE).cast("bigint"),
    )
    return (
        d.select("doc_id", "toks", F.explode(chunk_ids).alias("chunk_idx"))
        .select(
            "doc_id",
            "chunk_idx",
            F.array_join(
                F.slice(
                    "toks",
                    (F.col("chunk_idx") * _CHUNK_STRIDE + 1).cast("int"),
                    _CHUNK_LEN,
                ),
                " ",
            ).alias("chunk_text_arr"),
            F.size(
                F.slice(
                    "toks",
                    (F.col("chunk_idx") * _CHUNK_STRIDE + 1).cast("int"),
                    _CHUNK_LEN,
                )
            ).cast("bigint").alias("n_tokens"),
        )
    )


@register(
    "split_train_eval",
    oracle="""
SELECT doc_id, bucket_hex,
       CASE WHEN bucket_hex BETWEEN '0' AND 'b' THEN 'train'
            WHEN bucket_hex BETWEEN 'c' AND 'd' THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, substring(md5('doc' || CAST(doc_id AS VARCHAR)), 1, 1)
           AS bucket_hex
  FROM documents
)
""",
)
def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-free key hashing
    (md5 of the salted id — identical hex on every engine and every run,
    unlike seeded sampling, which is not reproducible across engines or
    partitionings): first hex nibble → 12/2/2 train/val/test. This is how
    training pipelines split at 100 TB — stable under re-runs, joins, and
    repartitioning, and a document's split never changes when the corpus
    grows."""
    d = Tables(spark, sf_dir).documents
    bucket = F.substring(
        F.md5(F.concat(F.lit("doc"), F.col("doc_id").cast("string"))), 1, 1
    )
    return d.select(
        "doc_id",
        bucket.alias("bucket_hex"),
        F.when(bucket.between("0", "b"), "train")
        .when(bucket.between("c", "d"), "val")
        .otherwise("test")
        .alias("split"),
    )


_JOIN_SALTS = 8


@register(
    "join_salted_skew",
    oracle="""
WITH fact AS (
  SELECT CASE WHEN user_id % 10 < 5 THEN 0 ELSE user_id % 25 END AS nk,
         value
  FROM events
)
SELECT n.n_name, count(*) AS n, round(avg(f.value), 6) AS avg_value
FROM fact f JOIN nation n ON f.nk = n.n_nationkey
GROUP BY n.n_name
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join for a skewed key (half the fact lands on one key by
    construction): the fact side adds salt = event_id % 8, the dim side is
    replicated across all 8 salts, and the join key becomes (key, salt) —
    splitting the hot key's partition 8 ways. This is the manual fallback
    when AQE skew-join can't see the skew (e.g. the hot key emerges from an
    expression, as here). The result is provably identical to the unsalted
    join, which is exactly what the oracle runs."""
    t = Tables(spark, sf_dir)
    fact = t.events.select(
        F.when(F.col("user_id") % 10 < 5, 0)
        .otherwise(F.col("user_id") % 25)
        .alias("nk"),
        "value",
        (F.col("event_id") % _JOIN_SALTS).alias("salt"),
    )
    dim = t.nation.select(
        F.col("n_nationkey").alias("nk"), "n_name"
    ).withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(_JOIN_SALTS - 1))))
    return (
        fact.join(dim, ["nk", "salt"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


@register(
    "embed_quantize_int8",
    oracle="""
SELECT vec_id,
       round(max_abs, 9) AS max_abs,
       q_head, q_sum,
       round(rmse, 6) AS rmse
FROM (
  SELECT vec_id, max_abs,
         CAST(round(CAST(embedding[1] AS DOUBLE) * 127.0 / max_abs) AS BIGINT)
           AS q_head,
         CAST(list_sum(list_transform(embedding,
              x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / max_abs) AS BIGINT)))
           AS BIGINT) AS q_sum,
         sqrt(list_sum(list_transform(embedding,
              x -> (CAST(x AS DOUBLE)
                    - round(CAST(x AS DOUBLE) * 127.0 / max_abs)
                      * max_abs / 127.0)
                   * (CAST(x AS DOUBLE)
                      - round(CAST(x AS DOUBLE) * 127.0 / max_abs)
                        * max_abs / 127.0))) / len(embedding)) AS rmse
  FROM (
    SELECT vec_id, embedding,
           nullif(list_max(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE)))), 0) AS max_abs
    FROM embeddings
    WHERE embedding IS NOT NULL
      AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
  )
)
""",
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings (the vector-storage
    compression every 100 TB ANN index does — 4x smaller than float32):
    per-vector absmax scale, q = round(x·127/absmax), summarized as exact
    integer checksums (q_head, q_sum — engine-exact) plus the
    reconstruction RMSE. Expression-only; at corpus scale the same math
    runs as one numpy pass per Arrow batch, but the semantics — and the
    oracle — are these. Quantizes VALID vectors only (nan-tier contract,
    mirrored in the oracle): round(NaN) cast to BIGINT is a runtime
    CAST_OVERFLOW under ANSI mode here and a conversion error in the
    oracle — an int8 index cannot encode a non-finite component at all."""
    from ai_dataingestion_spark.functions.portable import finite_vec

    e = Tables(spark, sf_dir).embeddings.where(finite_vec("embedding"))
    x = lambda c: c.cast("double")  # noqa: E731
    max_abs = F.nullif(
        F.array_max(F.transform("embedding", lambda v: F.abs(x(v)))),
        F.lit(0.0),
    )
    d = e.select("vec_id", "embedding", max_abs.alias("max_abs"))
    q = lambda v: F.round(x(v) * 127.0 / F.col("max_abs"), 0)  # noqa: E731
    return d.select(
        "vec_id",
        F.round("max_abs", 9).alias("max_abs"),
        q(F.element_at("embedding", 1)).cast("bigint").alias("q_head"),
        F.aggregate(
            F.transform("embedding", lambda v: q(v).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("q_sum"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(
                        "embedding",
                        # square by self-multiplication, NOT pow(r, 2):
                        # libm pow introduces 1-ulp drift between engines
                        lambda v: (x(v) - q(v) * F.col("max_abs") / 127.0)
                        * (x(v) - q(v) * F.col("max_abs") / 127.0),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                / F.size("embedding")
            ),
            6,
        ).alias("rmse"),
    )


@register(
    "text_perplexity_proxy",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
vocab AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
total AS (SELECT count(*) AS t FROM toks)
SELECT doc_id,
       round(avg(-ln(CAST(v.c AS DOUBLE) / total.t)), 6) AS avg_neg_logprob,
       count(*) AS n_tokens
FROM toks JOIN vocab v USING (token) CROSS JOIN total
GROUP BY doc_id
""",
)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram surprisal score per document (a perplexity proxy — the
    cheap corpus-fit signal quality filters use before any model scoring):
    avg over the doc's tokens of -ln(corpus unigram probability). One
    explode; the vocabulary aggregate is map-side combined and joined back
    broadcast (vocabulary ≪ corpus at every scale); per-doc aggregation is
    the only wide shuffle."""
    d = Tables(spark, sf_dir).documents
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = toks.agg(F.count(F.lit(1)).alias("t"))
    return (
        toks.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(-F.log(F.col("c").cast("double") / F.col("t"))), 6
            ).alias("avg_neg_logprob"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


@register(
    "tpch_q4_late_orders",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def tpch_q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): EXISTS-correlated subquery
    — Catalyst decorrelates it into a LEFT SEMI join on l_orderkey with the
    cross-relation ship-lag predicate evaluated inside the join condition.
    The corpus lineitem has no commit/receipt dates, so 'late' is shipped
    more than 60 days after the order date. One shuffle (semi join keys),
    then a 5-group agg."""
    t = Tables(spark, sf_dir)
    o = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    li = t.lineitem
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q12_priority_by_flag",
    oracle="""
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def tpch_q12_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority split; the corpus carries no
    l_shipmode, so the grouping key is l_returnflag): fact-to-fact join with
    the year filter pushed into the lineitem scan, then conditional CASE
    sums — the map-side-combinable 'pivot a flag into two counts' idiom."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t.orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            # when(~high), not otherwise(1): a NULL priority is three-valued
            # NEITHER bucket in the oracle's IN / NOT IN pair — the
            # otherwise() spelling would count it as low
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_order_distribution",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderstatus <> 'F'
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): LEFT OUTER join with
    an extra non-equi predicate on the join (status filter must NOT drop
    customers — the zero-order bucket is the point), double aggregation:
    per-customer count, then histogram of counts. count(o_orderkey) counts
    only matched rows, so no-order customers land in c_count = 0."""
    t = Tables(spark, sf_dir)
    joined = t.customer.join(
        t.orders,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderstatus") != "F"),
        "left",
    )
    return (
        joined.groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
SELECT c_name, o_orderkey, epoch_us(o_orderdate) AS order_epoch_us,
       o_totalprice, total_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
) big
JOIN orders ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
""",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): HAVING-filtered aggregate as the
    probe side — the per-order quantity rollup shrinks lineitem ~7x before
    any join, the tiny survivor set then joins orders and customer (both
    joins broadcast the survivor side at every scale: the >250 filter is
    ~1%-selective). Quantities are small integers, exact in double, so the
    sum is order-insensitive. Order date exported as epoch-µs (timestamp
    string forms differ between engines)."""
    t = Tables(spark, sf_dir)
    big = (
        t.lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        # `big` is an aggregate FILTERED to ~1% of orders, but its size
        # still scales with the corpus — gate the hint (lineitem bytes as
        # the proxy); threshold+AQE decide from measured size at scale
        t.orders.join(
            broadcast_if_small(big, sf_dir, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(t.customer, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "order_epoch_us"
            ),
            "o_totalprice",
            "total_qty",
        )
    )


@register(
    "text_contamination_ngram",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t,
         substring(md5('doc' || CAST(doc_id AS VARCHAR)), 1, 1) AS b
  FROM documents
),
grams AS (
  SELECT doc_id, b,
         unnest(list_transform(range(1, len(t) - 5 + 2),
                i -> array_to_string(t[i:i+4], ' '))) AS g
  FROM toks WHERE len(t) >= 5
),
ev AS (SELECT DISTINCT g FROM grams WHERE b >= 'e'),
tr AS (SELECT DISTINCT doc_id, g FROM grams WHERE b < 'e')
SELECT tr.doc_id, count(*) AS n_hit_grams
FROM tr JOIN ev USING (g)
GROUP BY tr.doc_id
ORDER BY n_hit_grams DESC, tr.doc_id
""",
)
def text_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the screen every training corpus runs
    before an eval release): 5-gram overlap between the train split and the
    held-out split (same deterministic md5-nibble split as
    `split_train_eval`). The eval gram set is distinct-deduped and — being
    orders of magnitude smaller than the corpus at every scale — broadcast
    into the probe join; train docs are scored by how many of their
    distinct 5-grams appear verbatim in eval. Expression-only gram
    generation (sequence + slice + array_join), no Python."""
    d = Tables(spark, sf_dir).documents
    t = F.split("text", " ")
    # project the token array to an ATTRIBUTE before the indexed lambda
    # (capturing the split() expression re-tokenizes per gram — the
    # text_repetition_stats pathology, round 10)
    tk = F.col("toks")
    grams = (
        # filter BEFORE sequence(): Spark's sequence(1, n) with n < 1 is a
        # DESCENDING sequence, not empty — short docs must never reach it
        d.select("doc_id", t.alias("toks"))
        .filter(F.size(tk) >= 5)
        .select(
            "doc_id",
            F.substring(
                F.md5(F.concat(F.lit("doc"), F.col("doc_id").cast("string"))),
                1,
                1,
            ).alias("b"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(tk) - 4),
                    lambda i: F.array_join(F.slice(tk, i, 5), " "),
                )
            ).alias("g"),
        )
    )
    ev = grams.filter(F.col("b") >= "e").select("g").distinct()
    tr = grams.filter(F.col("b") < "e").select("doc_id", "g").distinct()
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


@register(
    "text_repetition_stats",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tok_stats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct,
         max(c) AS top_tok
  FROM (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok)
  GROUP BY doc_id
),
bi AS (
  -- split hoisted OUT of the lambda: inlined, DuckDB re-splits the text
  -- per bigram — O(tokens x chars), 46 s on 100k-char docs (round 10)
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
            i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 2
),
bi_stats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bigram
  FROM (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY doc_id, bg)
  GROUP BY doc_id
)
SELECT t.doc_id, n_tokens,
       round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
       round(CAST(top_tok AS DOUBLE) / n_tokens, 6) AS top_token_share,
       round(CAST(top_bigram AS DOUBLE) / n_bigrams, 6) AS top_bigram_share
FROM tok_stats t JOIN bi_stats USING (doc_id)
""",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition screens: per-doc distinct-token ratio, most-
    frequent-token share, and most-frequent-bigram share — the cheap
    signals that catch boilerplate/spam before any model-based scoring.
    Two explode→two-level-aggregate passes (token, bigram), joined on
    doc_id; every ratio is a quotient (engine-safe at any rounding)."""
    d = Tables(spark, sf_dir).documents
    t = F.split("text", " ")
    toks = d.select("doc_id", F.explode(t).alias("tok"))
    tok_counts = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    tok_stats = tok_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_tok"),
    )
    # project the token array to an ATTRIBUTE before the indexed lambda:
    # capturing the split() EXPRESSION inside the lambda re-tokenizes the
    # document per element — O(tokens × chars), 78 s vs 0.3 s on the
    # extremes tier's 100k-char docs (measured round 10)
    toks_col = F.col("toks")
    bi = (
        d.select("doc_id", t.alias("toks"))
        .filter(F.size(toks_col) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks_col) - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(toks_col, i),
                        F.element_at(toks_col, i + 1),
                    ),
                )
            ).alias("bg"),
        )
    )
    bi_counts = bi.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    bi_stats = bi_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram")
    )
    x = lambda c: F.col(c).cast("double")  # noqa: E731
    return tok_stats.join(bi_stats, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(x("n_distinct") / x("n_tokens"), 6).alias("distinct_ratio"),
        F.round(x("top_tok") / x("n_tokens"), 6).alias("top_token_share"),
        F.round(x("top_bigram") / x("n_bigrams"), 6).alias("top_bigram_share"),
    )


@register(
    "dedup_normalized_text",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  -- translate, not upper(): unicode case mapping is library-defined
  -- (Java's full mapping uppercases sharp-s to SS, utf8proc to capital
  -- sharp-s) so both the noising and the canonicalizer fold ASCII case
  -- ONLY; non-ASCII is stripped by the [^a-z0-9 ] class regardless
  SELECT doc_id + 10000000,
         translate(replace(text, ' ', '  '),
                   'abcdefghijklmnopqrstuvwxyz', 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || ' !!'
  FROM documents WHERE doc_id % 4 = 0
),
norm AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(
              translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
              '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_digest
  FROM corpus
)
SELECT norm_digest, count(*) AS n_docs, min(doc_id) AS keeper_doc_id
FROM norm
GROUP BY norm_digest
HAVING count(*) > 1
ORDER BY n_docs DESC, norm_digest
""",
)
def dedup_normalized_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup (the 'fuzzy-exact' stage between byte-exact
    and MinHash in every corpus pipeline): lowercase → strip non-
    alphanumerics → collapse whitespace → trim, then group by the md5 of
    the canonical form. The fixture unions in noised copies of every 4th
    doc (upper-case, doubled spaces, trailing punctuation) that byte-exact
    dedup would MISS — each must land in its original's group. Uniform
    digest keys shuffle evenly at any scale; the keeper is the minimum
    doc_id, deterministically."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    noised = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        # translate = portable ASCII-only case fold (see oracle comment)
        F.concat(
            F.translate(
                F.regexp_replace("text", " ", "  "), "abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
            ),
            F.lit(" !!"),
        ).alias("text"),
    )
    corpus = d.unionByName(noised)
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.translate(F.col("text"), "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"),
                "[^a-z0-9 ]",
                "",
            ),
            " +",
            " ",
        )
    )
    return (
        corpus.select("doc_id", F.md5(canon).alias("norm_digest"))
        .groupBy("norm_digest")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "sample_stratified",
    oracle="""
SELECT source, count(*) AS n_total,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS kept_frac
FROM (
  SELECT source,
         substring(md5('smp' || CAST(doc_id AS VARCHAR)), 1, 1)
           < (CASE WHEN source IN ('src0','src1','src2','src3')
                   THEN '8' ELSE '2' END) AS kept
  FROM documents
)
GROUP BY source
ORDER BY source
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (data-mixing control: up-sample
    head domains at 8/16, tail at 2/16): keep a row iff the first md5
    nibble of its salted id clears the per-stratum threshold. Hash-based,
    so the sample is stable under re-runs, repartitioning, and engine
    choice — unlike rand()-based sampling. Pure map-side until the audit
    aggregate."""
    d = Tables(spark, sf_dir).documents
    nib = F.substring(
        F.md5(F.concat(F.lit("smp"), F.col("doc_id").cast("string"))), 1, 1
    )
    thr = F.when(
        F.col("source").isin("src0", "src1", "src2", "src3"), F.lit("8")
    ).otherwise(F.lit("2"))
    kept = (nib < thr).cast("int")
    return (
        d.select("source", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.round(
                F.sum("kept").cast("double") / F.count(F.lit(1)), 6
            ).alias("kept_frac"),
        )
    )


@register(
    "pack_context_windows",
    oracle="""
WITH sized AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
packed AS (
  SELECT source, doc_id, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0) AS BIGINT)
           AS window_id
  FROM sized
)
SELECT source, window_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM packed
GROUP BY source, window_id
ORDER BY source, window_id
""",
)
def pack_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing (greedy sequential fill used to batch docs
    into fixed token budgets for training): within each source, docs in
    doc_id order are assigned to a window by the running token count
    before the doc, quantized at 512 tokens. One window cumsum per
    source partition — at corpus scale each source shard packs
    independently, so the partition key IS the parallelism."""
    d = Tables(spark, sf_dir).documents
    sized = d.select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.withColumn(
        "window_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512.0),
    )
    return packed.groupBy("source", "window_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "agg_mode_per_group",
    oracle="""
SELECT user_id, event_type AS mode_type, c AS mode_count
FROM (
  SELECT user_id, event_type, c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY c DESC, event_type ASC) AS rn
  FROM (
    SELECT user_id, event_type, count(*) AS c
    FROM events GROUP BY user_id, event_type
  )
)
WHERE rn = 1
ORDER BY user_id
""",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group with a deterministic tie-break (count
    desc, then value asc): two-level aggregate then a 1-row-per-group
    window — the shuffle on user_id is reused by both steps, and the
    count pre-aggregation map-side-combines before anything wide."""
    e = Tables(spark, sf_dir).events
    counts = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("c").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_type"),
            F.col("c").alias("mode_count"),
        )
    )


@register(
    "join_interval_overlap",
    oracle="""
WITH win AS (
  SELECT o_orderkey, o_custkey, o_orderdate AS s,
         o_orderdate + INTERVAL 14 DAY AS e
  FROM orders
)
SELECT a.o_custkey AS custkey, count(*) AS n_overlap_pairs
FROM win a JOIN win b
  ON a.o_custkey = b.o_custkey
 AND a.o_orderkey < b.o_orderkey
 AND a.s < b.e AND b.s < a.e
GROUP BY a.o_custkey
ORDER BY n_overlap_pairs DESC, custkey
""",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join (temporal conflict detection): count
    pairs of the same customer's 14-day order windows that overlap. The
    join is an EQUI-join on the entity key with the overlap predicate
    evaluated inside the join — never a cartesian: per-key groups are
    small (order count per customer), so the pair space is Σ group², not
    n². At 100 TB the same plan holds because the entity key is the
    shuffle key; a time-bucket explode would be layered on only if single
    keys grew pathological (the salting playbook, join_salted_skew)."""
    o = Tables(spark, sf_dir).orders
    win = o.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").alias("s"),
        (F.col("o_orderdate") + F.expr("INTERVAL 14 DAYS")).alias("e"),
    )
    a, b = win.alias("a"), win.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.col("a.s") < F.col("b.e"))
            & (F.col("b.s") < F.col("a.e")),
        )
        .groupBy(F.col("a.o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_overlap_pairs"))
    )


@register(
    "win_gaps_islands",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn_all,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn_type
  FROM events
),
islands AS (
  SELECT user_id, event_type, rn_all - rn_type AS grp, count(*) AS run_len
  FROM seq GROUP BY user_id, event_type, rn_all - rn_type
)
SELECT user_id, count(*) AS n_islands, max(run_len) AS longest_run
FROM islands
GROUP BY user_id
ORDER BY user_id
""",
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (consecutive same-type event runs per user) via the
    classic two-row_number difference: both windows partition by user, so
    ONE shuffle on user_id feeds both rankings, the island grouping, and
    the final per-user rollup. Deterministic ordering ties broken by
    event_id."""
    e = Tables(spark, sf_dir).events
    w_all = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc_nulls_last("ts"), "event_id"
    )
    seq = e.select(
        "user_id",
        "event_type",
        F.row_number().over(w_all).alias("rn_all"),
        F.row_number().over(w_type).alias("rn_type"),
    )
    islands = seq.groupBy(
        "user_id", "event_type", (F.col("rn_all") - F.col("rn_type")).alias("grp")
    ).agg(F.count(F.lit(1)).alias("run_len"))
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("run_len").alias("longest_run"),
    )


@register(
    "quality_domain_cap",
    oracle="""
SELECT source, doc_id, n_chars, rnk
FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rnk
  FROM documents
)
WHERE rnk <= 10
ORDER BY source, rnk
""",
)
def quality_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (domain balancing — stops a single crawl
    domain from dominating the training mix): keep the top 10 docs per
    source by length with a deterministic tie-break. One shuffle on
    source; at corpus scale the window is the standard top-k-per-group
    plan (partial top-k map-side under AQE)."""
    d = Tables(spark, sf_dir).documents
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        d.select(
            "source", "doc_id", "n_chars", F.row_number().over(w).alias("rnk")
        )
        .filter(F.col("rnk") <= 10)
    )


@register(
    "text_vocab_growth",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
firsts AS (SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok),
per_doc AS (
  SELECT first_doc AS doc_id, count(*) AS n_new
  FROM firsts GROUP BY first_doc
)
SELECT doc_id, n_new,
       CAST(sum(n_new) OVER (ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
FROM per_doc
ORDER BY doc_id
""",
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps-law diagnostic — how fast the corpus
    stops yielding new tokens, a saturation signal for data collection):
    each token is attributed to the first doc that introduces it
    (min(doc_id) per token — a uniform-key aggregate), then a running sum
    over doc order. The cumsum's single-partition window runs over the
    ALREADY-AGGREGATED per-doc relation (≤ one row per doc introducing
    anything new — vanishingly small next to the token relation), so the
    narrow final window is not the bottleneck at any scale."""
    d = Tables(spark, sf_dir).documents
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    per_doc = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_doc.select(
        "doc_id", "n_new", F.sum("n_new").over(w).alias("vocab_size")
    )


@register(
    "stream_stream_join",
    oracle="""
SELECT c.user_id, c.event_id AS click_id, pu.event_id AS purchase_id,
       epoch_us(pu.ts) - epoch_us(c.ts) AS lag_us
FROM events c JOIN events pu
  ON c.user_id = pu.user_id
 AND c.event_type = 'click' AND pu.event_type = 'purchase'
 AND pu.ts >= c.ts AND pu.ts <= c.ts + INTERVAL 1 HOUR
ORDER BY c.user_id, click_id, purchase_id
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click→purchase attribution — the last
    first-class Structured Streaming topology the suite didn't cover): two
    watermarked event streams joined on user_id with an event-time range
    condition. The time bound + both watermarks let Spark EVICT click
    state once the purchase-side watermark passes click.ts + 1 hour — the
    state-bounding contract that makes stream-stream joins viable at
    100 TB (without it, the join buffers a stream forever).

    The 2-hour watermark delay strictly dominates the 1-hour join window
    plus batch skew on the ts-ordered drops, so no valid pair is ever
    dropped and the append output equals the batch join exactly."""
    from ai_dataingestion_spark.streaming.incremental import (
        _memory_query_name,
        _read_stream,
        _run_available_now,
        stage_event_files,
    )

    staging = stage_event_files(spark, sf_dir, n_files=3)
    name = _memory_query_name()

    def side(event_type: str, prefix: str):
        return (
            _read_stream(spark, staging)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").cast("timestamp").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "2 hours")
        )

    clicks, purchases = side("click", "click"), side("purchase", "purchase")
    pairs = clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    _run_available_now(
        pairs.writeStream.format("memory").queryName(name).outputMode("append")
    )
    return spark.table(name).select(
        F.col("click_user").alias("user_id"),
        F.col("click_id"),
        F.col("purchase_id"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "lag_us"
        ),
    )


@register(
    "events_sessionize_batch",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  -- event_id tiebreak matches the Spark cum window: with duplicate
  -- (user_id, ts) rows a ts-only ROWS frame would make the cumsum order
  -- nondeterministic (ADVICE r2)
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM seq
),
per_session AS (
  SELECT user_id, session_id, count(*) AS n_events,
         epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, count(*) AS n_sessions,
       max(n_events) AS max_session_events,
       CAST(max(dur_us) AS BIGINT) AS max_session_dur_us
FROM per_session
GROUP BY user_id
ORDER BY user_id
""",
)
def events_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with the 30-minute-gap rule (the offline twin
    of `stream_session`'s session windows): flag session starts with lag,
    running-sum the flags into session ids, then roll up per session and
    per user. All four windows/aggregations partition by user_id — one
    shuffle feeds the entire pipeline. Durations exported as epoch-µs
    deltas (sub-second timestamps never cross engines as strings)."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    prev = F.lag("ts").over(w)
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        prev.cast("timestamp")
    )
    seq = e.select(
        "user_id",
        "ts",
        F.when(prev.isNull() | (gap_us > 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new"),
        "event_id",
    )
    cum = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = seq.select(
        "user_id", "ts", F.sum("is_new").over(cum).alias("session_id")
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_micros(F.max("ts").cast("timestamp"))
            - F.unix_micros(F.min("ts").cast("timestamp"))
        ).alias("dur_us"),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.max("dur_us").alias("max_session_dur_us"),
    )


@register(
    "customer_rfm_segments",
    oracle="""
WITH rfm AS (
  SELECT o_custkey,
         epoch_us(max(o_orderdate)) AS last_us,
         count(*) AS freq,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
           AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey,
         ntile(4) OVER (ORDER BY last_us DESC, o_custkey) AS r_score,
         ntile(4) OVER (ORDER BY freq DESC, o_custkey)    AS f_score,
         ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
  FROM rfm
)
SELECT r_score, f_score, m_score, count(*) AS n_customers
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
""",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency/frequency/monetary quartiles — the
    classic customer-value cube): one aggregate over orders, three ntile
    rankings with deterministic tie-breaks, rolled up to segment counts.
    The ntile windows are global but run over the per-customer AGGREGATE
    (|customers| ≪ |orders|); at extreme cardinality the same scores come
    from approx quantile cutpoints + a broadcast bin join. Monetary uses
    decimal accumulation (2-dp-quantized money sums land exactly on round
    boundaries otherwise — SURVEY §5.4)."""
    o = Tables(spark, sf_dir).orders
    rfm = o.groupBy("o_custkey").agg(
        F.unix_micros(F.max("o_orderdate").cast("timestamp")).alias("last_us"),
        F.count(F.lit(1)).alias("freq"),
        F.round(dec_sum(F.col("o_totalprice")), 2).cast("double").alias("monetary"),
    )
    def score(col: str) -> F.Column:
        return F.ntile(4).over(
            Window.orderBy(F.col(col).desc(), F.col("o_custkey").asc())
        )
    scored = rfm.select(
        score("last_us").cast("bigint").alias("r_score"),
        score("freq").cast("bigint").alias("f_score"),
        score("monetary").cast("bigint").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "lineitem_abc_pareto",
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, revenue,
         sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS cum_rev,
         sum(revenue) OVER () AS total_rev
  FROM rev
),
classed AS (
  SELECT CASE WHEN cum_rev / total_rev <= 0.5 THEN 'A'
              WHEN cum_rev / total_rev <= 0.8 THEN 'B'
              ELSE 'C' END AS abc_class,
         revenue
  FROM ranked
)
SELECT abc_class, count(*) AS n_parts,
       CAST(round(sum(CAST(revenue AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS class_revenue
FROM classed
GROUP BY abc_class
ORDER BY abc_class
""",
)
def lineitem_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification (which parts carry 50/80% of revenue):
    per-part revenue rollup, a descending cumulative share over the
    aggregated relation, CASE into classes, re-aggregate. The global
    cumsum window runs over per-part aggregates (20k rows per million
    lineitems), not the fact table. Revenue is 2-dp-quantized money ×
    discount — decimal accumulation on both engines, and the class
    boundaries are revenue RATIOS (never on a rounding grid), so the
    CASE is engine-stable."""
    li = Tables(spark, sf_dir).lineitem
    rev = li.groupBy("l_partkey").agg(
        F.round(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).cast("double").alias("revenue")
    )
    w_cum = Window.orderBy(F.col("revenue").desc(), F.col("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    share = F.sum("revenue").over(w_cum) / F.sum("revenue").over(w_all)
    classed = rev.select(
        F.when(share <= 0.5, "A").when(share <= 0.8, "B").otherwise("C").alias(
            "abc_class"
        ),
        "revenue",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(dec_sum(F.col("revenue")), 2).cast("double").alias("class_revenue"),
    )


@register(
    "embed_centroid_outliers",
    oracle="""
WITH dims AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS (
  SELECT label, dim, avg(v) AS c FROM dims GROUP BY label, dim
),
dist AS (
  SELECT d.vec_id, d.label,
         round(sqrt(sum((d.v - c.c) * (d.v - c.c))), 6) AS dist
  FROM dims d JOIN cent c ON d.label = c.label AND d.dim = c.dim
  GROUP BY d.vec_id, d.label
)
SELECT label, vec_id, dist
FROM (
  SELECT label, vec_id, dist,
         row_number() OVER (PARTITION BY label
                            ORDER BY dist DESC, vec_id) AS rn
  FROM dist
)
WHERE rn <= 5
ORDER BY label, rn
""",
)
def embed_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier screen (mislabeled/corrupt vector detection):
    distance of every vector from its label centroid, top-5 per label.
    Fully relational — posexplode to (vec, label, dim, value), centroid by
    (label, dim), squared-diff re-aggregate by vec — so both engines run
    the identical plan shape and no array math crosses the oracle
    boundary. The (label, dim) centroid relation is tiny and broadcasts;
    the top-5 is a WindowGroupLimit at scale.

    DuckDB's avg() and Spark's partial-agg avg differ by summation order
    only in the last ulp; distances are rounded at 6 dp (random
    boundaries, engine-safe per SURVEY §5.4) and ranked by the ROUNDED
    value with a vec_id tie-break, so rank flips cannot occur."""
    e = Tables(spark, sf_dir).embeddings
    dims = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim0", "v_raw"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("v_raw").cast("double").alias("v"),
    )
    cent = dims.groupBy("label", "dim").agg(F.avg("v").alias("c"))
    dist = (
        dims.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))),
                6,
            ).alias("dist")
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("dist").desc(), F.col("vec_id"))
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("label", "vec_id", "dist")
    )


@register(
    "agg_corr_regression",
    oracle="""
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6)        AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4)  AS covar_qty_price,
       round(regr_slope(l_extendedprice, l_quantity), 4)  AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates (corr / covar / OLS slope+intercept
    — the profiling pass before any feature is trusted): all are
    partial-aggregable moment sketches (sum, sum², sum·xy) that map-side
    combine; corr and the regression terms are RATIOS of centered moments,
    so cross-engine rounding is safe at the chosen precisions."""
    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "covar_qty_price"
        ),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
            "intercept"
        ),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
    )


_BLOOM_P = (1 << 31) - 1
_BLOOM_WORDS = 16   # per filter: 16 x 63-bit words = 1008 bits
_BLOOM_CUTOFF = 495000.0


def _bloom_parts_sql(key_expr: str, dialect: str) -> dict[str, str]:
    """Word/bit index expressions for the two independent single-hash
    blooms (A AND B membership == k=2 bloom): identical integer paths in
    both dialects from one md5 base hash."""
    if dialect == "spark":
        base = (
            f"CAST(conv(substring(md5(CAST({key_expr} AS STRING)),1,15),16,10)"
            f" AS BIGINT) % {_BLOOM_P}"
        )
    else:
        base = (
            f"CAST('0x'||substring(md5(CAST({key_expr} AS VARCHAR)),1,15)"
            f" AS BIGINT) % {_BLOOM_P}"
        )
    return {
        "word_a": f"((3 * ({base}) + 17) % {_BLOOM_P}) % {_BLOOM_WORDS}",
        "bit_a": f"((5 * ({base}) + 29) % {_BLOOM_P}) % 63",
        "word_b": f"((7 * ({base}) + 101) % {_BLOOM_P}) % {_BLOOM_WORDS}",
        "bit_b": f"((11 * ({base}) + 7) % {_BLOOM_P}) % 63",
    }


_BP_S = _bloom_parts_sql("o_custkey", "duck")
_BP_C = _bloom_parts_sql("c_custkey", "duck")

_BLOOM_ORACLE = f"""
WITH build AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > {_BLOOM_CUTOFF}
),
build_h AS (
  SELECT o_custkey, {_BP_S['word_a']} AS wa, {_BP_S['bit_a']} AS ba,
         {_BP_S['word_b']} AS wb, {_BP_S['bit_b']} AS bb
  FROM build
),
bloom_a AS (SELECT wa AS word, bit_or(CAST(1 AS BIGINT) << ba) AS bits
            FROM build_h GROUP BY wa),
bloom_b AS (SELECT wb AS word, bit_or(CAST(1 AS BIGINT) << bb) AS bits
            FROM build_h GROUP BY wb),
probe AS (
  SELECT c_custkey, {_BP_C['word_a']} AS wa, {_BP_C['bit_a']} AS ba,
         {_BP_C['word_b']} AS wb, {_BP_C['bit_b']} AS bb
  FROM customer
),
cand AS (
  SELECT p.c_custkey
  FROM probe p
  JOIN bloom_a a ON a.word = p.wa AND ((a.bits >> p.ba) & 1) = 1
  JOIN bloom_b b ON b.word = p.wb AND ((b.bits >> p.bb) & 1) = 1
)
SELECT (SELECT count(*) FROM build)                     AS n_build_keys,
       (SELECT count(*) FROM cand)                      AS n_candidates,
       (SELECT count(*) FROM cand
         JOIN build ON o_custkey = c_custkey)           AS n_real,
       (SELECT count(*) FROM cand) -
       (SELECT count(*) FROM cand
         JOIN build ON o_custkey = c_custkey)           AS n_false_positives
"""


@register("join_bloom_prefilter", oracle=_BLOOM_ORACLE)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning, built from scratch as a relational
    plan (the runtime-filter technique engines inject for selective joins
    — here explicit, portable, and oracle-verified): high-value-order
    custkeys are folded into two 16×63-bit bitmaps (bit_or aggregates, k=2
    via A∧B membership), the probe side joins the BROADCAST 16-row bitmaps
    and keeps rows whose bits are set, and the exact join then runs only on
    survivors. Output counts expose the pruning quality (build keys,
    candidates, exact matches, false positives). At 100 TB the bitmap is
    constant-size regardless of build cardinality — the prefilter drops
    probe rows before any fact-table shuffle."""
    t = Tables(spark, sf_dir)
    sp_build = _bloom_parts_sql("o_custkey", "spark")
    sp_probe = _bloom_parts_sql("c_custkey", "spark")
    build = (
        t.orders.filter(F.col("o_totalprice") > _BLOOM_CUTOFF)
        .select("o_custkey").distinct()
    )
    build_h = build.select(
        "o_custkey",
        *[F.expr(sp_build[k]).alias(k) for k in ("word_a", "bit_a", "word_b", "bit_b")],
    )
    bloom_a = build_h.groupBy(F.col("word_a").alias("word")).agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit_a)")).alias("bits_a")
    )
    bloom_b = build_h.groupBy(F.col("word_b").alias("word")).agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit_b)")).alias("bits_b")
    )
    probe = t.customer.select(
        "c_custkey",
        *[F.expr(sp_probe[k]).alias(k) for k in ("word_a", "bit_a", "word_b", "bit_b")],
    )
    cand = (
        # bloom bitmaps are CONSTANT-size (16 words x 63 bits) regardless of
        # build cardinality — a static hint is scale-safe here by design
        probe.join(F.broadcast(bloom_a), probe.word_a == bloom_a.word)
        .filter(F.expr("(bits_a >> bit_a) & 1 = 1"))
        .join(F.broadcast(bloom_b), probe.word_b == bloom_b.word)
        .filter(F.expr("(bits_b >> bit_b) & 1 = 1"))
        .select("c_custkey")
    )
    n_build = build.agg(F.count(F.lit(1)).alias("n_build_keys"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_real = (
        cand.join(build, cand.c_custkey == build.o_custkey)
        .agg(F.count(F.lit(1)).alias("n_real"))
    )
    return (
        n_build.crossJoin(n_cand).crossJoin(n_real)
        .select(
            "n_build_keys",
            "n_candidates",
            "n_real",
            (F.col("n_candidates") - F.col("n_real")).alias("n_false_positives"),
        )
    )
