"""Round-5 operator waves (SURVEY.md §2.Q), consolidated from the former
per-wave modules round5b–round5z (registration order preserved: sections
appear exactly in the old alphabetical import order, so catalog rotation
indices are unchanged). Each section keeps its original wave docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    pround,
    stable_rounded_sum,
    stable_rounded_sum_sql,
    stable_sum,
    stable_sum_sql,
)
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.scale import (
    ARRAY_TABLE_BYTES,
    bounded_self_join,
    broadcast_if_small,
    hint_merge_if_large,
)
from ai_dataingestion_spark.tmpdirs import op_tmpdir
from ai_dataingestion_spark.ai.dedup import (
    _CW_A,
    _CW_B,
    _DUP_OFFSET,
    _MERSENNE_P,
    _corpus_with_near_dups,
    _duck_h,
    _minhash_band_bucket,
    minhash_candidates,
    minhash_signature,
    shingle_pair_sides,
    shingle_sets,
    N_BANDS,
    N_HASHES,
    SHINGLE_K,
)
from pyspark.sql.types import StringType
from ai_dataingestion_spark.registry import Tables, register_views
import os


# ===========================================================================
# wave module round5b (formerly operators/round5b.py)
# Round-5 second wave (SURVEY.md §2.Q): the last two classic TPC-H
# shapes (Q2 min-cost argmin subquery, Q21 single-late-supplier multi-
# condition exists), customer purchase-cadence analytics, event attribution
# and co-occurrence, corpus-divergence / lexical-richness text statistics,
# blocked edit-distance dedup, alternative means, a per-column data-quality
# matrix, and a per-dimension label-separability (eta-squared) profile over
# the embedding corpus.
#
# Float discipline follows SURVEY.md §5.4: money-product sums in
# DECIMAL(38,6) rounded in the decimal domain; ratios/doubles rounded at
# 6 dp on BOTH sides; counts, keys, and day deltas exact.
# ===========================================================================

_NET = "(l_extendedprice * (1 - l_discount))"


# ---------------------------------------------------------------------------
# §2.Q.1 remaining TPC-H shapes
# ---------------------------------------------------------------------------


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               / CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
               * 1000000 + 0.5) / 1000000
           AS unit_cost
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY l_partkey, l_suppkey
),
best AS (
  SELECT l_partkey, l_suppkey, unit_cost,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY unit_cost ASC, l_suppkey ASC) AS rn
  FROM cost
)
SELECT p_partkey, p_name, s_name AS supplier, unit_cost
FROM best
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE rn = 1 AND p_size < 15
""",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier), adapted to this corpus (no
    partsupp: unit cost is the supplier's observed avg extendedprice per
    quantity from lineitem, restricted to EUROPE suppliers). The
    correlated MIN subquery becomes a per-part window argmin — one
    groupBy shuffle on (part, supp) then a part-partitioned row_number,
    dims broadcast. Unit cost is total spend / total quantity via EXACT
    decimal sums cast to double for one deterministic IEEE division,
    then rounded with the PORTABLE formula floor(x·1e6 + 0.5)/1e6 —
    pure IEEE ops, bit-identical on both engines. Built-in round() is
    NOT portable on exact decimal ties: sf0.1 hit quotient 8290.71/32 =
    259.0846875, where Spark rounds the shortest-decimal BigDecimal
    HALF_UP to …688 while DuckDB rounds the binary double (…87499…) to
    …687. Suppkey breaks argmin ties deterministically."""
    t = Tables(spark, sf_dir)
    europe_supp = (
        t.supplier.join(
            F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(t.region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    cost = (
        t.lineitem.join(
            broadcast_if_small(europe_supp, sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            (
                # try_divide: a supplier observed only at zero quantity
                # has no unit cost (NULL; loses the nulls-last argmin)
                F.floor(
                    F.try_divide(
                        F.sum(
                            F.col("l_extendedprice").cast("decimal(38,6)")
                        ).cast("double"),
                        F.sum(
                            F.col("l_quantity").cast("decimal(38,6)")
                        ).cast("double"),
                    )
                    * 1_000_000
                    + 0.5
                )
                / 1_000_000
            ).alias("unit_cost")
        )
    )
    # asc_nulls_last: a supplier whose observed quantities are all NULL has
    # NULL unit cost — it must never WIN the argmin (oracle ASC default)
    w = Window.partitionBy("l_partkey").orderBy(
        F.asc_nulls_last("unit_cost"), F.asc("l_suppkey")
    )
    best = cost.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.join(
            broadcast_if_small(t.part.filter(F.col("p_size") < 15), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            broadcast_if_small(t.supplier.select("s_suppkey", "s_name"), sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "p_partkey", "p_name", F.col("s_name").alias("supplier"), "unit_cost"
        )
    )


@register(
    "tpch_q21_single_late_supplier",
    oracle="""
WITH flagged AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END) AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey, l_suppkey
),
culprit AS (
  SELECT l_orderkey,
         max(CASE WHEN is_late = 1 THEN l_suppkey END) AS late_supp
  FROM flagged
  GROUP BY l_orderkey
  HAVING count(*) >= 2 AND sum(is_late) = 1
)
SELECT s_name, count(*) AS numwait
FROM culprit JOIN supplier ON late_supp = s_suppkey
GROUP BY s_name
""",
)
def tpch_q21_single_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted: per
    multi-supplier order, the UNIQUE supplier whose line shipped > 90
    days after the order date (ship delay proxies the missing
    commit/receipt dates). The reference EXISTS / NOT EXISTS pair over
    lineitem collapses into one (orderkey, suppkey) aggregation plus one
    orderkey aggregation — two partial-aggregable shuffles, no
    self-join, which is the shape that survives a 100 TB lineitem."""
    t = Tables(spark, sf_dir)
    flagged = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90), 1
                ).otherwise(0)
            ).alias("is_late")
        )
    )
    culprit = (
        flagged.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("is_late").alias("n_late"),
            F.max(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias(
                "late_supp"
            ),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    return (
        culprit.join(
            broadcast_if_small(t.supplier.select("s_suppkey", "s_name"), sf_dir, "supplier"),
            F.col("late_supp") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# §2.Q.2 purchase-cadence analytics
# ---------------------------------------------------------------------------


@register(
    "orders_repeat_customer_rate",
    oracle="""
WITH seq AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS nth
  FROM orders
)
SELECT month, count(*) AS n_orders,
       count(CASE WHEN nth > 1 THEN 1 END) AS n_repeat,
       round(CAST(count(CASE WHEN nth > 1 THEN 1 END) AS DOUBLE)
             / count(*), 6) AS repeat_rate
FROM seq GROUP BY month
""",
)
def orders_repeat_customer_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly repeat-purchase rate: the share of each month's orders
    placed by a customer with at least one EARLIER order. One
    custkey-partitioned row_number (shuffles orderkey+date pairs only),
    then a months-sized groupBy — no self-join against order history."""
    t = Tables(spark, sf_dir)
    # asc_nulls_last: NULL-date orders must sequence LAST per customer as
    # in the oracle — at the front they shift every real order's nth up
    # and miscount first purchases as repeats
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_last("o_orderdate"), "o_orderkey"
    )
    seq = t.orders.select(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.row_number().over(w).alias("nth"),
    )
    return seq.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("nth") > 1, 1)).alias("n_repeat"),
        F.round(
            F.count(F.when(F.col("nth") > 1, 1)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("repeat_rate"),
    )


@register(
    "customer_order_gap_stats",
    oracle="""
WITH gaps AS (
  SELECT c_mktsegment,
         datediff('day',
                  lag(o_orderdate) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey),
                  o_orderdate) AS gap_days
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT c_mktsegment, count(gap_days) AS n_gaps,
       round(avg(gap_days), 6) AS avg_gap,
       min(gap_days) AS min_gap, max(gap_days) AS max_gap
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY c_mktsegment
""",
)
def customer_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order cadence per market segment: day gaps between a
    customer's consecutive orders (lag over the customer's order
    timeline), rolled up to count/avg/min/max. The customer dim is
    broadcast; the window shuffles (custkey, date, orderkey) triples;
    output is segments-sized at any corpus scale."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        t.orders.join(
            broadcast_if_small(t.customer.select("c_custkey", "c_mktsegment"), sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_mktsegment",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    return gaps.groupBy("c_mktsegment").agg(
        F.count("gap_days").alias("n_gaps"),
        F.round(F.avg("gap_days"), 6).alias("avg_gap"),
        F.min("gap_days").alias("min_gap"),
        F.max("gap_days").alias("max_gap"),
    )


# ---------------------------------------------------------------------------
# §2.Q.3 event attribution + co-occurrence
# ---------------------------------------------------------------------------


@register(
    "events_attribution_last_touch",
    oracle="""
WITH touched AS (
  SELECT event_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS attributed
  FROM events
)
SELECT attributed, count(*) AS conversions
FROM touched
WHERE event_type = 'purchase' AND attributed IS NOT NULL
GROUP BY attributed
""",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent PRIOR non-purchase event type (marketing-attribution
    core). One user-partitioned window carrying only (type, ts, id) —
    the ignore-nulls last_value trick replaces a per-purchase history
    self-join, so lineage never leaves the user's partition."""
    t = Tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = t.events.select(
        "event_type",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(w)
        .alias("attributed"),
    )
    return (
        touched.filter(
            (F.col("event_type") == "purchase") & F.col("attributed").isNotNull()
        )
        .groupBy("attributed")
        .agg(F.count(F.lit(1)).alias("conversions"))
    )


@register(
    "events_type_cooccurrence",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
  FROM events
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       count(*) AS n_user_days
FROM ud a JOIN ud b
  ON a.user_id = b.user_id AND a.day = b.day
 AND a.event_type < b.event_type
GROUP BY a.event_type, b.event_type
""",
)
def events_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence: for every unordered type pair, the
    number of (user, day) contexts where both occurred. Distinct-reduce
    FIRST (≤ |types| rows per user-day — here ≤ 5), then a self-join
    keyed on (user, day): the quadratic blow-up is bounded by types², not
    by event volume, so the plan survives arbitrarily hot users."""
    t = Tables(spark, sf_dir)
    ud = t.events.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "event_type",
    ).distinct()
    a = ud.alias("a")
    b = ud.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_user_days"))
    )


# ---------------------------------------------------------------------------
# §2.Q.4 corpus divergence + lexical richness
# ---------------------------------------------------------------------------


@register(
    "text_kl_divergence_sources",
    oracle="""
WITH src AS (
  SELECT source, token, count(*) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS token
        FROM documents)
  GROUP BY source, token
),
marged AS (
  SELECT source, c,
         sum(c) OVER (PARTITION BY token) AS cc
  FROM src
),
per_source AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS vocab,
         sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE) / cc)) AS sum_term
  FROM marged GROUP BY source
)
SELECT source, n_tokens, vocab,
       round(sum_term / n_tokens
             + ln(CAST(sum(n_tokens) OVER () AS DOUBLE) / n_tokens), 6)
         AS kl_vs_corpus
FROM per_source
""",
)
def text_kl_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence KL(P_source ‖ P_corpus) over token
    unigram distributions — the mixture-drift detector that tells you
    which source's language least resembles the blend it feeds. Every
    source token also appears in the corpus distribution, so the log
    ratio is always finite.

    Single-scan shape: the raw corpus is exploded and aggregated ONCE to
    the (source, token) relation; the ONLY window is the corpus marginal
    sum over (token) — rows per token partition are bounded by |sources|,
    so no hot-token skew — because both normalizers factor out of the
    sum: KL = (1/n)·Σ c·ln(c/cc) + ln(nn/n), with n available from the
    final per-source groupBy itself and nn from a window over the
    sources-sized tail. (Spark recomputes branching subplans, so the
    naive aggregate-and-rejoin formulation scans the corpus 4x —
    measured 7.2 s vs 2.0 s at sf0.1.) Oracle computes the IDENTICAL
    decomposition."""
    t = Tables(spark, sf_dir)
    src = (
        t.documents.select(
            "source", F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    marged = src.select(
        "source",
        "c",
        F.sum("c").over(Window.partitionBy("token")).alias("cc"),
    )
    c_d = F.col("c").cast("double")
    per_source = marged.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(c_d * F.log(c_d / F.col("cc"))).alias("sum_term"),
    )
    nn = F.sum("n_tokens").over(Window.partitionBy())
    return per_source.select(
        "source",
        "n_tokens",
        "vocab",
        F.round(
            F.col("sum_term") / F.col("n_tokens")
            + F.log(nn.cast("double") / F.col("n_tokens")),
            6,
        ).alias("kl_vs_corpus"),
    )


@register(
    "text_hapax_ratio",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
freq AS (
  SELECT source, token, count(*) AS c FROM tok GROUP BY source, token
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       count(CASE WHEN c = 1 THEN 1 END) AS n_hapax,
       round(CAST(count(CASE WHEN c = 1 THEN 1 END) AS DOUBLE)
             / count(*), 6) AS hapax_ratio,
       round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS type_token_ratio
FROM freq GROUP BY source
""",
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness profile per source: hapax legomena (tokens seen
    exactly once in the source) and type/token ratio — low richness
    flags templated or machine-generated feeds. Same (source, token)
    aggregation backbone as the KL query; output is sources-sized."""
    t = Tables(spark, sf_dir)
    freq = (
        t.documents.select(
            "source", F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hapax = F.count(F.when(F.col("c") == 1, 1))
    return freq.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        hapax.alias("n_hapax"),
        F.round(hapax.cast("double") / F.count(F.lit(1)), 6).alias("hapax_ratio"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("c"), 6).alias(
            "type_token_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# §2.Q.5 blocked edit-distance dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_edit_distance_blocked",
    oracle="""
WITH blocked AS (
  SELECT doc_id, text,
         n_chars // 32 AS len_bucket,
         array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ')
           AS prefix5
  FROM documents
),
sized AS (
  SELECT *, count(*) OVER (PARTITION BY len_bucket, prefix5) AS block_n
  FROM blocked
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         -- DP length cap (VERDICT-r9 item 6): when BOTH texts exceed
         -- 4,000 chars, compare their first 4,000 chars — identical
         -- contract on the Spark side
         CASE WHEN len(a.text) > 4000 AND len(b.text) > 4000
              THEN a.text[1:4000] ELSE a.text END AS ta,
         CASE WHEN len(a.text) > 4000 AND len(b.text) > 4000
              THEN b.text[1:4000] ELSE b.text END AS tb,
         len(a.text) AS la_full, len(b.text) AS lb_full
  FROM sized a JOIN sized b
    ON a.len_bucket = b.len_bucket AND a.prefix5 = b.prefix5
   AND a.doc_id < b.doc_id
  WHERE a.block_n <= 100
    -- ASCII operands only: edit distance is an ENCODING-UNIT metric and
    -- the engines count different units outside printable ASCII (bytes
    -- here, UTF-16 units there) — real pipelines transliterate before
    -- edit distance
    AND NOT regexp_matches(a.text, '[^ -~]')
    AND NOT regexp_matches(b.text, '[^ -~]')
),
scored AS (
  -- equality short-circuit BEFORE the DP: identical operands (the
  -- dominant candidate class once a corpus accumulates exact copies)
  -- cost a string compare, never O(n*m) cells
  SELECT doc_a, doc_b, la_full, lb_full,
         CASE WHEN ta = tb THEN 0 ELSE levenshtein(ta, tb) END AS edit_dist,
         greatest(len(ta), len(tb)) AS cap_len
  FROM cand
)
SELECT doc_a, doc_b, edit_dist
FROM scored
WHERE edit_dist <= 0.2 * cap_len
  -- full-length agreement guard (ADVICE r10 #2): the prefix cap makes the
  -- DP blind past 4,000 chars, so two book-length docs sharing a 4,000-char
  -- preamble scored 0 no matter how different their tails; edit distance
  -- over the FULL texts is >= their length delta, so requiring the delta
  -- within threshold of the FULL max length is a sound necessary condition
  -- the cap was discarding (implied by the main predicate for uncapped
  -- pairs, so it only bites the capped branch)
  AND abs(la_full - lb_full) <= 0.2 * greatest(la_full, lb_full)
""",
)
def dedup_edit_distance_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded edit-distance near-dup pairs: candidates are generated by
    a (length-bucket, 5-token-prefix) equality block — two docs whose
    lengths differ by more than the bucket width or whose openings
    differ can't be small-edit variants — then verified with exact
    Levenshtein ≤ 20% of the longer text. Blocks over 100 docs are
    dropped (deterministic skew cap, mirrored in the oracle): quadratic
    work is bounded by 100² per block, never corpus². Complements
    dedup_ngram_jaccard (bag-of-shingles) with an ORDER-sensitive edit
    measure.

    DP cost contract (VERDICT-r9 item 6, mirrored in the oracle): when
    BOTH operands exceed 4,000 chars the distance is computed over their
    first 4,000 chars (an O(cap²) bound — near-dup triage on book-length
    docs is a prefix decision, and the extremes tier's identical 100k-char
    docs cost ~1e10 DP cells per pair per engine without it), and
    byte-equal operands short-circuit to 0 before any DP on either engine
    (the oracle's CASE guards DuckDB, which has no equality fast path).
    The capped branch additionally requires full-length agreement —
    abs(len_a - len_b) <= 0.2 * max(len_a, len_b) on the FULL texts
    (ADVICE r10 #2): a necessary condition of the uncapped metric (edit
    distance >= length delta) that the prefix cap was blind to, so two
    book-length docs sharing a 4,000-char preamble but wildly different
    tails no longer report edit_dist 0. Mirrored on both engines;
    implied-by-threshold (hence a no-op) for uncapped pairs."""
    t = Tables(spark, sf_dir)
    blocked = t.documents.select(
        "doc_id",
        "text",
        (F.col("n_chars") / F.lit(32)).cast("bigint").alias("len_bucket"),
        F.array_join(F.slice(F.split("text", " "), 1, 5), " ").alias("prefix5"),
    )
    sized = blocked.withColumn(
        "block_n", F.count(F.lit(1)).over(Window.partitionBy("len_bucket", "prefix5"))
    ).filter(F.col("block_n") <= 100)
    a = sized.alias("a")
    b = sized.alias("b")
    both_long = (F.length(F.col("a.text")) > 4000) & (
        F.length(F.col("b.text")) > 4000
    )
    ta = F.when(both_long, F.substring(F.col("a.text"), 1, 4000)).otherwise(
        F.col("a.text")
    )
    tb = F.when(both_long, F.substring(F.col("b.text"), 1, 4000)).otherwise(
        F.col("b.text")
    )
    cap_len = F.greatest(F.length(ta), F.length(tb))
    # Semantics-preserving cost cuts (mirrored contract): edit distance is
    # >= |len(a)-len(b)|, so pairs whose length delta already exceeds the
    # threshold drop BEFORE any O(n*m) work, and byte-equal pairs
    # short-circuit to 0. Measured: 101 s -> 17.5 s on the 10x sweep.
    len_delta = F.abs(F.length(ta) - F.length(tb))
    # full-length agreement guard (ADVICE r10 #2): necessary condition of
    # the UNCAPPED metric on the full texts; only bites the capped branch
    la_full, lb_full = F.length(F.col("a.text")), F.length(F.col("b.text"))
    full_len_ok = F.abs(la_full - lb_full) <= 0.2 * F.greatest(la_full, lb_full)
    dist = F.when(ta == tb, F.lit(0)).otherwise(F.levenshtein(ta, tb))
    return (
        a.join(
            b,
            (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.prefix5") == F.col("b.prefix5"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # ASCII operands only (oracle mirrors): engines count different
        # encoding units outside ASCII — bytes vs UTF-16 code units
        .filter(
            ~F.col("a.text").rlike("[^ -~]")
            & ~F.col("b.text").rlike("[^ -~]")
        )
        .filter(full_len_ok)
        .filter(len_delta <= 0.2 * cap_len)
        .filter(dist <= 0.2 * cap_len)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("edit_dist"),
        )
    )


# ---------------------------------------------------------------------------
# §2.Q.6 alternative means + quality matrix + label separability
# ---------------------------------------------------------------------------


@register(
    "agg_geo_harmonic_means",
    oracle=f"""
SELECT l_returnflag, count(*) AS n,
       round(avg(l_quantity), 6) AS arith_mean,
       round(exp(avg(ln(l_quantity))), 6) AS geo_mean,
       round(count(*) / {stable_sum_sql("1.0 / l_quantity")}, 6) AS harm_mean
-- POSITIVE domain only: the geometric and harmonic means are undefined
-- at zero (ln(0), 1/0), and the engines disagree on the failure mode
FROM lineitem WHERE l_quantity > 0 GROUP BY l_returnflag
""",
)
def agg_geo_harmonic_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic / geometric / harmonic means of quantity per return
    flag — the Pythagorean-means pin (quantity ≥ 1, so ln and 1/x are
    always finite). Geometric goes through exp∘avg∘ln (partial-aggregable,
    no product overflow). The harmonic denominator Σ(1/q) accumulates in
    DECIMAL(38,6) (portable.py:stable_sum — 1/q is identical on both
    engines, so its 1e-6 quantization is too); the remaining avg-based
    means divide by the group count, which scales summation-order noise
    well below the 6dp boundary."""
    t = Tables(spark, sf_dir)
    q = F.col("l_quantity")
    # q > 0 both sides: ln(0) and 1/0 leave the means' domain (ANSI
    # crash here, NULL/inf there) — the classical definitions assume it
    return t.lineitem.where(q > 0).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(q), 6).alias("arith_mean"),
        F.round(F.exp(F.avg(F.log(q))), 6).alias("geo_mean"),
        F.round(
            F.count(F.lit(1)) / stable_sum(F.lit(1.0) / q), 6
        ).alias("harm_mean"),
    )


@register(
    "quality_null_blank_matrix",
    oracle="""
SELECT 'text' AS column_name, count(*) AS n_rows,
       count(CASE WHEN text IS NULL THEN 1 END) AS n_null,
       count(CASE WHEN trim(text) = '' THEN 1 END) AS n_blank,
       count(DISTINCT text) AS n_distinct
FROM documents
UNION ALL
SELECT 'lang', count(*),
       count(CASE WHEN lang IS NULL THEN 1 END),
       count(CASE WHEN trim(lang) = '' THEN 1 END),
       count(DISTINCT lang)
FROM documents
UNION ALL
SELECT 'source', count(*),
       count(CASE WHEN source IS NULL THEN 1 END),
       count(CASE WHEN trim(source) = '' THEN 1 END),
       count(DISTINCT source)
FROM documents
""",
)
def quality_null_blank_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column completeness matrix over the documents table: null /
    blank / distinct counts for each string column, emitted as one ROW
    PER COLUMN (the profiling shape downstream dashboards join on).
    Spark computes all twelve aggregates in a SINGLE pass and unpivots
    the 1-row result with stack() — the oracle's UNION ALL of three
    scans is the semantic spec, not the plan."""
    t = Tables(spark, sf_dir)
    aggs = []
    for c in ("text", "lang", "source"):
        aggs += [
            F.count(F.lit(1)).alias(f"{c}_rows"),
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}_null"),
            F.count(F.when(F.trim(F.col(c)) == "", 1)).alias(f"{c}_blank"),
            F.count_distinct(F.col(c)).alias(f"{c}_distinct"),
        ]
    one = t.documents.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', {c}_rows, {c}_null, {c}_blank, {c}_distinct"
        for c in ("text", "lang", "source")
    )
    return one.select(
        F.expr(
            f"stack(3, {stack_expr}) AS "
            "(column_name, n_rows, n_null, n_blank, n_distinct)"
        )
    )


@register(
    "embed_label_eta_squared",
    oracle="""
WITH dims AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
),
per_label AS (
  SELECT dim, label, count(*) AS n_l, avg(val) AS mu_l
  FROM dims GROUP BY dim, label
),
overall AS (
  SELECT dim, avg(val) AS mu, var_pop(val) AS var_total, count(*) AS n
  FROM dims GROUP BY dim
)
SELECT o.dim,
       round(o.var_total, 6) AS var_total,
       round(sum(p.n_l * (p.mu_l - o.mu) * (p.mu_l - o.mu)) / o.n
             / o.var_total, 6) AS eta_squared
FROM per_label p JOIN overall o ON p.dim = o.dim
GROUP BY o.dim, o.var_total, o.n
""",
)
def embed_label_eta_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension label separability: eta² = between-label variance /
    total variance for each of the 64 embedding dimensions — the ANOVA
    screen for which dimensions actually encode the label structure
    (feature selection before clustering). posexplode fans out to
    n×64 rows once; both aggregations are partial-aggregable and the
    output is 64 rows at ANY corpus size. 6-dp rounding absorbs
    summation-order noise in the double sums. ANOVA runs over VALID
    vectors only (nan-tier contract, mirrored in the oracle): one NaN
    component turns a dimension's var_pop into NaN here and an Out of
    Range ERROR in the oracle's kernel."""
    from ai_dataingestion_spark.functions.portable import finite_vec

    t = Tables(spark, sf_dir)
    dims = t.embeddings.where(finite_vec("embedding")).select(
        "label", F.posexplode("embedding").alias("dim", "raw")
    ).select("label", "dim", F.col("raw").cast("double").alias("val"))
    per_label = dims.groupBy("dim", "label").agg(
        F.count(F.lit(1)).alias("n_l"), F.avg("val").alias("mu_l")
    )
    overall = dims.groupBy("dim").agg(
        F.avg("val").alias("mu"),
        F.var_pop("val").alias("var_total"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        per_label.join(overall, "dim")
        .groupBy("dim", "var_total", "n")
        .agg(
            F.round(
                F.sum(
                    F.col("n_l") * (F.col("mu_l") - F.col("mu"))
                    * (F.col("mu_l") - F.col("mu"))
                )
                / F.col("n")
                / F.col("var_total"),
                6,
            ).alias("eta_squared")
        )
        .select("dim", F.round("var_total", 6).alias("var_total"), "eta_squared")
    )


# ===========================================================================
# wave module round5c (formerly operators/round5c.py)
# Round-5 third wave (SURVEY.md §2.Q, continued): the two partition-
# pruning scan paths every 100 TB lake lives on (static partition pruning
# and dynamic partition pruning through a join), cohort lifetime value,
# brand co-purchase lift, calendar hour-gap detection, activity survival
# curves, bigram conditional entropy, and binary-codec function parity.
# ===========================================================================

# ---------------------------------------------------------------------------
# §2.Q.7 partition-pruning scan paths
# ---------------------------------------------------------------------------


@register(
    "scan_partition_pruned",
    oracle="""
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS revenue
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderstatus
""",
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static partition pruning: orders written partitionBy(priority) to
    a scratch lake, read back with a priority predicate — the scan must
    touch ONLY the two matching partition directories (PartitionFilters
    in the formatted plan, pinned by tests/test_plans.py). At 100 TB
    this is the difference between reading 2/5 of the table and all of
    it; the oracle is the equivalent filter on the logical relation."""
    out = op_tmpdir("scan_part_prune_")
    o = Tables(spark, sf_dir).orders
    (
        o.repartition("o_orderpriority")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(out)
    )
    back = spark.read.schema(o.schema).parquet(out)
    return (
        back.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(38,6)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "join_dpp_partitioned",
    oracle=f"""
-- NB: explicit OR equalities, not IN: DuckDB 1.0.0 rewrites
-- `CAST(ts AS DATE) IN (<date literals>)` under WHERE into a timestamp
-- IN that only matches midnight (verified: 0 rows vs 339/day equality).
SELECT event_type, count(*) AS n_events,
       {stable_rounded_sum_sql("value", 2)} AS total_value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-02'
   OR CAST(ts AS DATE) = DATE '2024-01-03'
   OR CAST(ts AS DATE) = DATE '2024-01-05'
GROUP BY event_type
""",
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: events written partitionBy(day), then
    joined to a tiny filtered dim of flagged days. Catalyst injects the
    dim's day set as a runtime partition filter into the fact scan
    (dynamicpruning#N in the plan, pinned by tests/test_plans.py), so
    only the 3 matching day directories are read — the canonical
    star-join scan path at 100 TB, where the pruning predicate isn't
    known until the dim side is evaluated. Oracle: the equivalent
    static IN filter."""
    out = op_tmpdir("join_dpp_")
    ev = Tables(spark, sf_dir).events.withColumn(
        "day", F.col("ts").cast("date")
    )
    ev.repartition("day").write.mode("overwrite").partitionBy("day").parquet(out)
    # explicit schema: an empty corpus writes zero data files and schema
    # inference over the bare directory fails (the sink_parquet_part rule);
    # the day partition column still resolves from directory names when
    # files exist
    fact = spark.read.schema(ev.schema).parquet(out)
    dim = spark.createDataFrame(
        [("2024-01-02", 1), ("2024-01-03", 1), ("2024-01-05", 1)],
        "d string, flagged int",
    ).select(F.col("d").cast("date").alias("d"), "flagged")
    return (
        fact.join(F.broadcast(dim.filter(F.col("flagged") == 1)),
                  fact.day == dim.d)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_rounded_sum("value", 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# §2.Q.8 cohort LTV + basket analytics
# ---------------------------------------------------------------------------


@register(
    "customer_cohort_ltv",
    oracle="""
WITH seq AS (
  SELECT o_custkey, o_totalprice,
         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         CAST(date_trunc('month', min(o_orderdate) OVER (PARTITION BY o_custkey))
              AS TIMESTAMP) AS cohort
  FROM orders
)
SELECT cohort,
       datediff('month', cohort, month) AS month_index,
       count(DISTINCT o_custkey) AS n_customers,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS revenue
FROM seq
GROUP BY cohort, datediff('month', cohort, month)
""",
)
def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers grouped by first-order
    month, revenue tracked per months-since-acquisition — the orders-side
    twin of events_cohort_retention. One custkey-partitioned window
    (min first order), one (cohort, month_index) rollup; output is
    months² at any corpus size."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey")
    seq = t.orders.select(
        "o_custkey",
        "o_totalprice",
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.date_trunc("month", F.min("o_orderdate").over(w)).alias("cohort"),
    )
    month_index = (
        F.months_between(F.col("month"), F.col("cohort")).cast("bigint")
    )
    return seq.groupBy("cohort", month_index.alias("month_index")).agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(38,6)")), 2)
        .cast("double")
        .alias("revenue"),
    )


@register(
    "orders_basket_size_histogram",
    oracle="""
WITH sizes AS (
  SELECT l_orderkey, count(*) AS basket_size FROM lineitem GROUP BY l_orderkey
)
SELECT basket_size, count(*) AS n_orders,
       round(CAST(count(*) AS DOUBLE)
             / (sum(count(*)) OVER ()), 6) AS share
FROM sizes GROUP BY basket_size
""",
)
def orders_basket_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution: line count per order, rolled into a
    histogram with shares. Two chained partial-aggregable groupBys; the
    share window runs over the ≤ max-basket-size histogram rows."""
    t = Tables(spark, sf_dir)
    sizes = t.lineitem.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("basket_size")
    )
    hist = sizes.groupBy("basket_size").agg(F.count(F.lit(1)).alias("n_orders"))
    return hist.select(
        "basket_size",
        "n_orders",
        F.round(
            F.col("n_orders").cast("double")
            / F.sum("n_orders").over(Window.partitionBy()),
            6,
        ).alias("share"),
    )


@register(
    "brand_copurchase_lift",
    oracle="""
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM ob),
brand_n AS (SELECT p_brand, count(*) AS cb FROM ob GROUP BY p_brand),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS c_ab
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
)
SELECT brand_a, brand_b, c_ab,
       round(CAST(c_ab AS DOUBLE) * n.n / (ca.cb * cb.cb), 6) AS lift
FROM pairs
JOIN brand_n ca ON brand_a = ca.p_brand
JOIN brand_n cb ON brand_b = cb.p_brand
CROSS JOIN n_orders n
WHERE c_ab >= 5
""",
)
def brand_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand co-purchase lift: P(a,b)/(P(a)·P(b)) over orders — the
    normalized version of market_basket_pairs that separates 'popular
    pair' from 'associated pair'. The self-join is keyed on orderkey
    (quadratic only within an order's ≤ brands-per-basket distinct
    brands); the brand marginals and order count are brands-sized /
    scalar broadcasts onto the pairs relation."""
    t = Tables(spark, sf_dir)
    ob = (
        t.lineitem.join(
            broadcast_if_small(t.part.select("p_partkey", "p_brand"), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = ob.agg(F.count_distinct("l_orderkey").alias("n"))
    brand_n = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("cb"))
    a = ob.alias("a")
    b = ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    ca = brand_n.select(
        F.col("p_brand").alias("ba"), F.col("cb").alias("ca_n")
    )
    cb = brand_n.select(
        F.col("p_brand").alias("bb"), F.col("cb").alias("cb_n")
    )
    return (
        pairs.join(F.broadcast(ca), F.col("brand_a") == F.col("ba"))
        .join(F.broadcast(cb), F.col("brand_b") == F.col("bb"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "c_ab",
            F.round(
                F.col("c_ab").cast("double") * F.col("n")
                / (F.col("ca_n") * F.col("cb_n")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# §2.Q.9 calendar gaps + survival
# ---------------------------------------------------------------------------


@register(
    "events_hour_gap_ranges",
    oracle="""
WITH span AS (
  SELECT event_type,
         min(date_trunc('hour', ts)) AS h0,
         max(date_trunc('hour', ts)) AS h1
  FROM events GROUP BY event_type
),
calendar AS (
  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM span
),
observed AS (
  SELECT DISTINCT event_type, date_trunc('hour', ts) AS hour FROM events
),
missing AS (
  SELECT c.event_type, c.hour,
         row_number() OVER (PARTITION BY c.event_type ORDER BY c.hour) AS rn
  FROM calendar c ANTI JOIN observed o
    ON c.event_type = o.event_type AND c.hour = o.hour
)
SELECT event_type,
       min(hour) AS gap_start, max(hour) AS gap_end,
       count(*) AS n_hours
FROM missing
GROUP BY event_type, hour - rn * INTERVAL 1 HOUR
""",
)
def events_hour_gap_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-gap detection: for each event type, the contiguous hour
    ranges inside its [first, last] span with NO events — the backfill
    work-list of an ingest pipeline. Aggregate-first: the dense hourly
    calendar is sequence()-exploded from the types-sized span relation
    (span-bounded, not event-bounded), missing hours are an anti join
    against the distinct observed hours, and ranges come from the
    gaps-and-islands rn-difference key. Everything past the two distinct
    reductions is calendar-sized."""
    t = Tables(spark, sf_dir)
    hour = F.date_trunc("hour", "ts")
    span = t.events.groupBy("event_type").agg(
        F.min(hour).alias("h0"), F.max(hour).alias("h1")
    )
    calendar = span.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    observed = t.events.select(
        "event_type", hour.alias("hour")
    ).distinct()
    missing = calendar.join(observed, ["event_type", "hour"], "left_anti")
    w = Window.partitionBy("event_type").orderBy("hour")
    keyed = missing.select(
        "event_type",
        "hour",
        (
            # rn cast to LONG before the multiply: a multi-century gap
            # calendar puts rn in the millions and rn*3600 past int32
            F.col("hour").cast("long")
            - F.row_number().over(w).cast("long") * 3600
        ).alias("island"),
    )
    return keyed.groupBy("event_type", "island").agg(
        F.min("hour").alias("gap_start"),
        F.max("hour").alias("gap_end"),
        F.count(F.lit(1)).alias("n_hours"),
    ).select("event_type", "gap_start", "gap_end", "n_hours")


@register(
    "events_survival_weeks",
    oracle="""
WITH lifespans AS (
  SELECT user_id,
         datediff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) // 7
           AS weeks_active
  FROM events GROUP BY user_id
),
ks AS (
  SELECT unnest(generate_series(0, weeks_active)) AS week FROM lifespans
),
counts AS (SELECT week, count(*) AS n_surviving FROM ks GROUP BY week)
SELECT week, n_surviving,
       round(CAST(n_surviving AS DOUBLE)
             / max(n_surviving) OVER (), 6) AS survival_rate
FROM counts
""",
)
def events_survival_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-retention survival curve: the fraction of users whose
    observed activity span reaches ≥ k weeks, for every k. Per-user
    lifespans aggregate first (one shuffle on user_id); each user then
    explodes into weeks_active+1 rows — fan-out bounded by the
    observation window in weeks, not by event volume — and the share
    normalizes against the k=0 row (every user survives week 0) via a
    window over the weeks-sized histogram."""
    t = Tables(spark, sf_dir)
    lifespans = t.events.groupBy("user_id").agg(
        (
            F.datediff(
                F.max(F.col("ts").cast("date")),
                F.min(F.col("ts").cast("date")),
            )
            / 7
        )
        .cast("bigint")
        .alias("weeks_active")
    )
    ks = lifespans.select(
        F.explode(F.sequence(F.lit(0).cast("bigint"), "weeks_active")).alias(
            "week"
        )
    )
    counts = ks.groupBy("week").agg(F.count(F.lit(1)).alias("n_surviving"))
    return counts.select(
        "week",
        "n_surviving",
        F.round(
            F.col("n_surviving").cast("double")
            / F.max("n_surviving").over(Window.partitionBy()),
            6,
        ).alias("survival_rate"),
    )


# ---------------------------------------------------------------------------
# §2.Q.10 bigram conditional entropy + codec parity
# ---------------------------------------------------------------------------


@register(
    "text_bigram_cond_entropy",
    oracle=f"""
WITH big AS (
  SELECT source, t[i] AS prev, t[i + 1] AS nxt, count(*) AS c
  FROM (SELECT source, string_split(text, ' ') AS t FROM documents),
       unnest(generate_series(1, len(t) - 1)) g(i)
  GROUP BY source, t[i], t[i + 1]
),
marged AS (
  SELECT source, c, sum(c) OVER (PARTITION BY source, prev) AS cu
  FROM big
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       count(*) AS vocab_bigrams,
       round(-{stable_sum_sql(
           "CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE) / cu)")}
             / sum(c), 6) AS cond_entropy
FROM marged GROUP BY source
""",
)
def text_bigram_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional entropy H(next|prev) per source — near-zero
    means deterministic continuations (templated/boilerplate text), high
    means diverse language; the sequence-aware sibling of
    corpus_source_entropy. Bigrams come from zip_with over the token
    array (map-side, no shuffle before aggregation); the only window is
    the (source, prev) marginal — partition sizes bounded by the
    per-prefix continuation vocabulary — because the normalizer N
    factors out: H = -(1/N)·Σ c·ln(c/cu), with N from the final groupBy
    itself (the text_kl_divergence_sources trick). Oracle computes the
    IDENTICAL decomposition; the Σ c·ln(c/cu) numerator accumulates in
    DECIMAL(38,6) (portable.py:stable_sum — each term is an identical
    double on both engines; the 1e-6 per-term quantization lands ~8
    orders below the 6dp entropy boundary after /N)."""
    t = Tables(spark, sf_dir)
    toks = F.split("text", " ")
    pair = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.struct(x.alias("prev"), y.alias("nxt")),
    )
    big = (
        t.documents.select("source", F.explode(pair).alias("p"))
        .select("source", F.col("p.prev").alias("prev"), F.col("p.nxt").alias("nxt"))
        .groupBy("source", "prev", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    marged = big.select(
        "source",
        "c",
        F.sum("c").over(Window.partitionBy("source", "prev")).alias("cu"),
    )
    c_d = F.col("c").cast("double")
    return marged.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.count(F.lit(1)).alias("vocab_bigrams"),
        F.round(
            -stable_sum(c_d * F.log(c_d / F.col("cu"))) / F.sum("c"), 6
        ).alias("cond_entropy"),
    )


@register(
    "fn_string_codec",
    oracle="""
SELECT doc_id,
       to_base64(encode(substring(text, 1, 24))) AS b64_prefix,
       coalesce(decode(from_base64(to_base64(encode(substring(text, 1, 24)))))
         = substring(text, 1, 24), false) AS b64_roundtrip_ok,
       lower(hex(lang)) AS lang_hex,
       coalesce(decode(unhex(hex(lang))) = lang, false) AS hex_roundtrip_ok
FROM documents
""",
)
def fn_string_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-codec scalar functions: base64/unbase64 and hex/unhex
    round-trips over document text (§2.H family completion — the codecs
    every wire-format ingest path needs). The 24-char prefix stays under
    every base64 line-wrap threshold so both engines emit the unchunked
    form; hex is case-normalized (Spark uppercases, DuckDB lowercases).
    Pure expression plan — no shuffle, no UDF."""
    t = Tables(spark, sf_dir)
    prefix = F.substring("text", 1, 24)
    return t.documents.select(
        "doc_id",
        F.base64(prefix.cast("binary")).alias("b64_prefix"),
        # coalesce(false) both sides: NULL input has no roundtrip to pass,
        # and a NULL boolean crosses the compare harness asymmetrically
        F.coalesce(
            F.unbase64(F.base64(prefix.cast("binary"))).cast("string") == prefix,
            F.lit(False),
        ).alias("b64_roundtrip_ok"),
        F.lower(F.hex("lang")).alias("lang_hex"),
        F.coalesce(
            F.unhex(F.hex("lang")).cast("string") == F.col("lang"),
            F.lit(False),
        ).alias("hex_roundtrip_ok"),
    )


# ===========================================================================
# wave module round5d (formerly operators/round5d.py)
# Round-5 fourth wave (SURVEY.md §2.Q, continued): statistical screens —
# chi-squared independence, Benford first-digit conformance, daily-series
# autocorrelation, per-group OLS regression, and multiplicative seasonal
# decomposition. Every formula is written as raw power sums / explicit
# ratios so Spark and DuckDB evaluate the IDENTICAL expression (the
# agg_higher_moments rule: built-in corr/stddev differ in bias correction
# across engines); 6-dp rounding absorbs summation order.
# ===========================================================================

@register(
    "agg_chi_square_independence",
    oracle="""
WITH cells AS (
  SELECT c_mktsegment AS seg, o_orderpriority AS pri, count(*) AS o
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_orderpriority
),
marged AS (
  SELECT o,
         sum(o) OVER (PARTITION BY seg) AS rt,
         sum(o) OVER (PARTITION BY pri) AS ct,
         sum(o) OVER () AS n
  FROM cells
),
dims AS (
  SELECT count(DISTINCT seg) AS r, count(DISTINCT pri) AS c FROM cells
)
SELECT CAST(max(n) AS BIGINT) AS n,
       CAST((max(r) - 1) * (max(c) - 1) AS BIGINT) AS dof,
       round(sum(pow(CAST(o AS DOUBLE)
                     - CAST(rt AS DOUBLE) * ct / n, 2)
                 / (CAST(rt AS DOUBLE) * ct / n)), 6) AS chi2,
       round(sqrt(sum(pow(CAST(o AS DOUBLE)
                          - CAST(rt AS DOUBLE) * ct / n, 2)
                      / (CAST(rt AS DOUBLE) * ct / n))
                  / (max(n) * least(max(r) - 1, max(c) - 1))), 6)
         AS cramers_v
FROM marged CROSS JOIN dims
""",
)
def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence between customer market segment
    and order priority, plus Cramér's V effect size — the categorical
    drift screen of a data-quality suite. Aggregate-first: the
    contingency cells are one groupBy (R×C = 25 rows at any corpus
    size); margins are window sums over the cells; the expected-count
    formula is written identically on both sides."""
    t = Tables(spark, sf_dir)
    cells = (
        t.orders.join(
            broadcast_if_small(
                t.customer.select("c_custkey", "c_mktsegment"), sf_dir, "customer"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    marged = cells.select(
        "o",
        "seg",
        "pri",
        F.sum("o").over(Window.partitionBy("seg")).alias("rt"),
        F.sum("o").over(Window.partitionBy("pri")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    term = F.pow(F.col("o").cast("double") - e, 2) / e
    stats = marged.agg(
        F.max("n").alias("n_raw"),
        F.count_distinct("seg").alias("r"),
        F.count_distinct("pri").alias("c"),
        F.sum(term).alias("chi2_raw"),
    )
    return stats.select(
        F.col("n_raw").cast("bigint").alias("n"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("bigint").alias("dof"),
        F.round("chi2_raw", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2_raw")
                / (F.col("n_raw") * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "quality_benford_first_digit",
    oracle="""
WITH digits AS (
  SELECT substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
           AS digit,
         count(*) AS n_orders
  FROM orders WHERE o_totalprice >= 1
  GROUP BY 1
)
SELECT digit, n_orders,
       round(CAST(n_orders AS DOUBLE) / sum(n_orders) OVER (), 6) AS share,
       round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6)
         AS benford_expected,
       round(CAST(n_orders AS DOUBLE) / sum(n_orders) OVER ()
             - ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6)
         AS deviation
FROM digits
""",
)
def quality_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit conformance of order totals — the
    classic fabricated-data / unit-mixing screen. One groupBy to the
    9-row digit histogram; expected shares via ln(1+1/d)/ln(10) written
    identically on both sides (synthetic uniform-ish prices will deviate
    — the DEVIATION column is the signal, not an error)."""
    t = Tables(spark, sf_dir)
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    )
    digits = (
        t.orders.filter(F.col("o_totalprice") >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    share = F.col("n_orders").cast("double") / F.sum("n_orders").over(
        Window.partitionBy()
    )
    expected = F.log(1.0 + 1.0 / F.col("digit").cast("double")) / F.log(
        F.lit(10.0)
    )
    return digits.select(
        "digit",
        "n_orders",
        F.round(share, 6).alias("share"),
        F.round(expected, 6).alias("benford_expected"),
        F.round(share - expected, 6).alias("deviation"),
    )


@register(
    "events_autocorrelation_daily",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x
  FROM events GROUP BY CAST(ts AS DATE)
),
pairs AS (
  SELECT k.lag, a.x AS x0, b.x AS x1
  FROM daily a
  JOIN (SELECT unnest(generate_series(1, 7)) AS lag) k ON true
  JOIN daily b ON b.day = a.day + CAST(k.lag AS INTEGER)
)
SELECT lag, count(*) AS n_pairs,
       round((avg(x0 * x1) - avg(x0) * avg(x1))
             / sqrt((avg(x0 * x0) - avg(x0) * avg(x0))
                    * (avg(x1 * x1) - avg(x1) * avg(x1))), 6) AS acf
FROM pairs GROUP BY lag
""",
)
def events_autocorrelation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1-7 —
    the weekly-seasonality detector. Aggregate-first: events collapse to
    the days-sized series in one shuffle; the lag pairing is a keyed
    self-join of that tiny relation against a 7-row lag spine (never the
    raw events), and Pearson r is raw power sums (identical on both
    engines)."""
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a = daily.select(F.col("day").alias("day0"), F.col("x").alias("x0"))
    b = daily.select(F.col("day").alias("day1"), F.col("x").alias("x1"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.expr("day1 = date_add(day0, lag)"))
    )
    x0, x1 = F.col("x0"), F.col("x1")
    r = (F.avg(x0 * x1) - F.avg(x0) * F.avg(x1)) / F.sqrt(
        (F.avg(x0 * x0) - F.avg(x0) * F.avg(x0))
        * (F.avg(x1 * x1) - F.avg(x1) * F.avg(x1))
    )
    return pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(r, 6).alias("acf"),
    )


@register(
    "lineitem_discount_quantity_regr",
    oracle="""
WITH obs AS (
  SELECT p_brand, l_discount AS d, CAST(l_quantity AS DOUBLE) AS q
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT p_brand, count(*) AS n,
       round((avg(d * q) - avg(d) * avg(q))
             / (avg(d * d) - avg(d) * avg(d)), 6) AS slope,
       round(avg(q) - (avg(d * q) - avg(d) * avg(q))
                      / (avg(d * d) - avg(d) * avg(d)) * avg(d), 6)
         AS intercept,
       round(pow(avg(d * q) - avg(d) * avg(q), 2)
             / ((avg(d * d) - avg(d) * avg(d))
                * (avg(q * q) - avg(q) * avg(q))), 6) AS r2
FROM obs GROUP BY p_brand
""",
)
def lineitem_discount_quantity_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS regression of quantity on discount (slope,
    intercept, R²) — the price-elasticity proxy, and the grouped
    generalization of agg_corr_regression. One broadcast dim join, one
    partial-aggregable groupBy carrying five power sums; brands-sized
    output at any scale."""
    t = Tables(spark, sf_dir)
    obs = t.lineitem.join(
        broadcast_if_small(t.part.select("p_partkey", "p_brand"), sf_dir, "part"),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select(
        "p_brand",
        F.col("l_discount").alias("d"),
        F.col("l_quantity").cast("double").alias("q"),
    )
    d, q = F.col("d"), F.col("q")
    cov = F.avg(d * q) - F.avg(d) * F.avg(q)
    var_d = F.avg(d * d) - F.avg(d) * F.avg(d)
    var_q = F.avg(q * q) - F.avg(q) * F.avg(q)
    return obs.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(cov / var_d, 6).alias("slope"),
        F.round(F.avg(q) - cov / var_d * F.avg(d), 6).alias("intercept"),
        F.round(F.pow(cov, 2) / (var_d * var_q), 6).alias("r2"),
    )


@register(
    "orders_seasonal_index",
    oracle="""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev
  FROM orders GROUP BY date_trunc('month', o_orderdate)
),
idx AS (
  SELECT month, rev,
         CAST(datediff('month', min(month) OVER (), month) AS DOUBLE) AS tt
  FROM monthly
),
fitted AS (
  SELECT month, rev, tt,
         (avg(tt * rev) OVER () - avg(tt) OVER () * avg(rev) OVER ())
           / (avg(tt * tt) OVER () - avg(tt) OVER () * avg(tt) OVER ())
           AS slope,
         avg(rev) OVER () AS mrev, avg(tt) OVER () AS mtt
  FROM idx
)
SELECT month(month) AS cal_month, count(*) AS n_months,
       round(avg(rev / (mrev + slope * (tt - mtt))), 6) AS seasonal_index
FROM fitted
GROUP BY month(month)
""",
)
def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative seasonal decomposition of monthly revenue: OLS
    trend fit over the month index, then the mean actual/trend ratio per
    calendar month — the '12-number seasonality profile' of the order
    book. Everything past the first groupBy runs on the months-sized
    relation (windows over ~80 rows); the OLS uses raw power sums so
    both engines fit the identical line."""
    t = Tables(spark, sf_dir)
    monthly = t.orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("rev")
    )
    w = Window.partitionBy()
    idx = monthly.select(
        "month",
        "rev",
        F.months_between(
            F.col("month"), F.min("month").over(w)
        ).cast("double").alias("tt"),
    )
    tt, rev = F.col("tt"), F.col("rev")
    fitted = idx.select(
        "month",
        "rev",
        "tt",
        (
            (F.avg(tt * rev).over(w) - F.avg(tt).over(w) * F.avg(rev).over(w))
            / (F.avg(tt * tt).over(w) - F.avg(tt).over(w) * F.avg(tt).over(w))
        ).alias("slope"),
        F.avg(rev).over(w).alias("mrev"),
        F.avg(tt).over(w).alias("mtt"),
    )
    trend = F.col("mrev") + F.col("slope") * (tt - F.col("mtt"))
    return fitted.groupBy(F.month("month").alias("cal_month")).agg(
        F.count(F.lit(1)).alias("n_months"),
        F.round(F.avg(rev / trend), 6).alias("seasonal_index"),
    )


# ===========================================================================
# wave module round5e (formerly operators/round5e.py)
# Round-5 fifth wave (SURVEY.md §2.Q, continued): TPC-H Q20 — which
# completes all 22 TPC-H query shapes, adapted to this corpus — a
# catalog-level table-profiling operator, event-type active-day Jaccard
# similarity, and the PCA flagship: dominant principal component of the
# embedding corpus via a partial-Gram Arrow kernel + five unrolled power
# iterations on the 64×64 covariance.
# ===========================================================================

@register(
    "tpch_q20_excess_share_suppliers",
    oracle="""
WITH shipped AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%bolt%'
  GROUP BY l_partkey, l_suppkey
),
shared AS (
  SELECT l_partkey, l_suppkey, supp_qty,
         sum(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
  FROM shipped
),
dominant AS (
  SELECT DISTINCT l_suppkey FROM shared
  WHERE supp_qty >= 0.15 * part_qty
)
SELECT s_name, n_name AS nation
FROM dominant
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
""",
)
def tpch_q20_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (suppliers with excess stock), adapted: no partsupp
    availability exists, so 'excess' becomes an OUTSIZED SHARE — suppliers who shipped >= 15%
    of some bolt-part's total volume (~1.5x the fair share under this
    corpus's ~10 suppliers/part; 0.5 yields zero rows at every SF on the
    uniform synthetic volumes, making the check vacuous). The
    reference's nested IN-subquery chain (part slice → per-(part,supp)
    quantity → availability threshold → supplier filter) keeps its exact
    shape: one (part, supp) aggregation, a per-part window total
    replacing the correlated sum subquery, a distinct semi-reduction,
    and broadcast supplier/nation name resolution. This closes the set:
    all 22 TPC-H query shapes now have an adapted, oracle-verified
    implementation (q1≈agg_groupby's plan family; q2-q22 explicit)."""
    t = Tables(spark, sf_dir)
    shipped = (
        t.lineitem.join(
            F.broadcast(
                t.part.filter(F.col("p_name").like("%bolt%")).select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    shared = shipped.withColumn(
        "part_qty", F.sum("supp_qty").over(Window.partitionBy("l_partkey"))
    )
    dominant = (
        shared.filter(F.col("supp_qty") >= 0.15 * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        dominant.join(
            broadcast_if_small(
                t.supplier.select("s_suppkey", "s_name", "s_nationkey"),
                sf_dir,
                "supplier",
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t.nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_name", F.col("n_name").alias("nation"))
    )


@register(
    "catalog_table_stats",
    oracle="""
SELECT 'customer' AS table_name, count(*) AS n_rows,
       count(DISTINCT c_custkey) AS n_distinct_keys FROM customer
UNION ALL
SELECT 'orders', count(*), count(DISTINCT o_orderkey) FROM orders
UNION ALL
SELECT 'lineitem', count(*),
       count(DISTINCT l_orderkey * 8 + l_linenumber) FROM lineitem
UNION ALL
SELECT 'part', count(*), count(DISTINCT p_partkey) FROM part
UNION ALL
SELECT 'supplier', count(*), count(DISTINCT s_suppkey) FROM supplier
UNION ALL
SELECT 'events', count(*), count(DISTINCT event_id) FROM events
UNION ALL
SELECT 'documents', count(*), count(DISTINCT doc_id) FROM documents
UNION ALL
SELECT 'embeddings', count(*), count(DISTINCT vec_id) FROM embeddings
""",
)
def catalog_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-level profiling: row count + primary-key distinct count
    for every non-dim table — the table of numbers an ingest pipeline
    publishes after each load (key uniqueness == rows ⇔ no duplicate
    ingestion). Eight independent single-table aggregates unioned; each
    is one partial-aggregable pass, so the whole profile costs one scan
    per table and ships eight rows."""
    t = Tables(spark, sf_dir)
    li_key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    parts = [
        ("customer", t.customer, F.col("c_custkey")),
        ("orders", t.orders, F.col("o_orderkey")),
        ("lineitem", t.lineitem, li_key),
        ("part", t.part, F.col("p_partkey")),
        ("supplier", t.supplier, F.col("s_suppkey")),
        ("events", t.events, F.col("event_id")),
        ("documents", t.documents, F.col("doc_id")),
        ("embeddings", t.embeddings, F.col("vec_id")),
    ]
    out = None
    for name, df, key in parts:
        stats = df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(key).alias("n_distinct_keys"),
        ).select("table_name", "n_rows", "n_distinct_keys")
        out = stats if out is None else out.unionByName(stats)
    return out


@register(
    "events_type_day_jaccard",
    oracle="""
WITH td AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM events
),
sizes AS (SELECT event_type, count(*) AS n_days FROM td GROUP BY event_type),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
  FROM td a JOIN td b ON a.day = b.day AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT type_a, type_b, n_both,
       round(CAST(n_both AS DOUBLE)
             / (sa.n_days + sb.n_days - n_both), 6) AS jaccard
FROM inter
JOIN sizes sa ON type_a = sa.event_type
JOIN sizes sb ON type_b = sb.event_type
""",
)
def events_type_day_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-day Jaccard similarity between event types — the set-
    similarity twin of events_type_cooccurrence, measuring whether two
    event types live on the same calendar (deploy markers vs errors,
    campaigns vs purchases). Distinct-reduce FIRST: the join operates on
    the (type, day) relation, ≤ |types|·|days| rows at any event volume,
    and the type-marginal sizes broadcast onto the pairs."""
    t = Tables(spark, sf_dir)
    td = t.events.select(
        "event_type", F.col("ts").cast("date").alias("day")
    ).distinct()
    sizes = td.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    a = td.alias("a")
    b = td.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("ta"), F.col("n_days").alias("na"))
    sb = sizes.select(F.col("event_type").alias("tb"), F.col("n_days").alias("nb"))
    return (
        inter.join(F.broadcast(sa), F.col("type_a") == F.col("ta"))
        .join(F.broadcast(sb), F.col("type_b") == F.col("tb"))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


_GRAM_SCHEMA = "i int, j int, s double"


def _partial_gram_kernel(it):
    """Per-Arrow-batch partial sufficient statistics for PCA: the upper
    triangle of Σ x·xᵀ as (i, j, s) rows, per-dimension sums as
    (i, -1, Σx_i), and the row count as (-1, -1, n). Each vector crosses
    into Python exactly once and each batch ships ≤ 64·65/2 + 65 rows
    regardless of batch size — the partial-aggregable Gram shape that
    tree-reduces on a cluster."""
    import numpy as np
    import pandas as pd

    for pdf in it:
        if len(pdf) == 0:
            continue
        X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        d = X.shape[1]
        G = X.T @ X
        iu, ju = np.triu_indices(d)
        sums = X.sum(axis=0)
        yield pd.DataFrame(
            {
                "i": np.concatenate([iu, np.arange(d), [-1]]).astype("int32"),
                "j": np.concatenate([ju, np.full(d, -1), [-1]]).astype("int32"),
                "s": np.concatenate([G[iu, ju], sums, [float(len(pdf))]]),
            }
        )


@register(
    "embed_pca_top_component",
    oracle="""
WITH ex AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE embedding IS NOT NULL
),
mu AS (SELECT i, avg(x) AS m FROM ex GROUP BY i),
cov AS (
  SELECT a.i AS i, b.i AS j,
         avg(a.x * b.x) - ma.m * mb.m AS c
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id
  JOIN mu ma ON a.i = ma.i
  JOIN mu mb ON b.i = mb.i
  GROUP BY a.i, b.i, ma.m, mb.m
),
v0 AS (SELECT i, 0.125 AS v FROM mu),
w1 AS (SELECT c.i, sum(c.c * v0.v) AS w FROM cov c JOIN v0 ON c.j = v0.i GROUP BY c.i),
v1 AS (SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM w1),
w2 AS (SELECT c.i, sum(c.c * v1.v) AS w FROM cov c JOIN v1 ON c.j = v1.i GROUP BY c.i),
v2 AS (SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM w2),
w3 AS (SELECT c.i, sum(c.c * v2.v) AS w FROM cov c JOIN v2 ON c.j = v2.i GROUP BY c.i),
v3 AS (SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM w3),
w4 AS (SELECT c.i, sum(c.c * v3.v) AS w FROM cov c JOIN v3 ON c.j = v3.i GROUP BY c.i),
v4 AS (SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM w4),
w5 AS (SELECT c.i, sum(c.c * v4.v) AS w FROM cov c JOIN v4 ON c.j = v4.i GROUP BY c.i)
SELECT i AS dim,
       round(w / sqrt(sum(w * w) OVER ()), 6) AS loading,
       round(sqrt(sum(w * w) OVER ()), 6) AS eigenvalue
FROM w5
""",
)
def embed_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding corpus: covariance
    via sufficient statistics, then five unrolled power iterations from
    the uniform start vector (1/8 per dim, ‖v₀‖=1 for d=64).

    Scale shape: the ONLY pass over the corpus is an Arrow mapInPandas
    kernel emitting per-batch partial Gram statistics (≤ 2145 rows per
    batch, independent of batch size) that a single groupBy(i, j)
    tree-reduces — never the 4096·n explode-self-join the SQL oracle
    spells (that is the semantic spec, quadratic in d·n and fine at
    oracle scale only). The reduced statistics are d²-bounded (2,145
    doubles regardless of corpus size — the same bounded-collect class
    as sim_ann_ivf's 16 centroids), so the 64×64 eigen-iteration runs
    driver-side in numpy: a first cut that expressed the five
    iterations as chained DataFrame joins paid ~50 tiny-stage
    schedulings (28 s at sf0.01 vs 1.5 s this way) to move 4-KB
    relations around. Power iteration from a positive start converges
    to the dominant eigenvector with deterministic sign; 6-dp rounding
    absorbs the engines' summation-order noise."""
    import numpy as np

    t = Tables(spark, sf_dir)
    # NULL embeddings have no geometry (oracle mirrors the exclusion);
    # np.stack over an Arrow batch containing None is a hard crash.
    partial = (
        t.embeddings.where(F.col("embedding").isNotNull())
        .select("embedding")
        .mapInPandas(_partial_gram_kernel, schema=_GRAM_SCHEMA)
    )
    stats = partial.groupBy("i", "j").agg(F.sum("s").alias("s"))
    rows = stats.collect()  # d*(d+1)/2 + d + 1 rows — dimension-bounded
    schema = "dim int, loading double, eigenvalue double"
    if not rows:  # empty corpus: no statistics, no component
        return spark.createDataFrame([], schema)
    d = max(r["i"] for r in rows) + 1
    S = np.zeros((d, d))
    sums = np.zeros(d)
    n = 0.0
    for r in rows:
        if r["i"] == -1:
            n = r["s"]
        elif r["j"] == -1:
            sums[r["i"]] = r["s"]
        else:
            S[r["i"], r["j"]] = r["s"]
            S[r["j"], r["i"]] = r["s"]
    mu = sums / n
    cov = S / n - np.outer(mu, mu)
    v = np.full(d, 0.125)
    for _ in range(5):
        w = cov @ v
        norm = float(np.sqrt((w * w).sum()))
        v = w / norm
    out = [(int(i), float(v[i]), float(norm)) for i in range(d)]
    # round via F.round (HALF_UP, the DuckDB round semantics) — Python's
    # built-in round is banker's and could diverge on exact .5e-6 ties
    return spark.createDataFrame(out, schema).select(
        "dim",
        F.round("loading", 6).alias("loading"),
        F.round("eigenvalue", 6).alias("eigenvalue"),
    )


@register(
    "agg_hll_sketch_merge",
    oracle=None,  # output carries the HLL estimate, which no portable SQL
    # reproduces bit-for-bit; semantics pinned by
    # tests/test_edges.py::test_hll_merge_matches_whole_corpus_sketch
    # (merge-consistency) and the <2% relative-error bound asserted there.
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — THE distributed cardinality
    pattern at 100 TB: build one Apache DataSketches HLL per day
    (hll_sketch_agg), union the constant-size sketches (hll_union_agg),
    estimate once. No re-scan of history when a new day lands: union its
    sketch in. Output: per-corpus estimated vs exact distinct users and
    the relative error (exact derivable at test scale only — at target
    scale the exact pass is precisely what this operator exists to
    avoid). Rows-only by design (the estimate has no portable SQL twin);
    a unit test pins merge-consistency (daily-union ≡ whole-corpus
    sketch) and the error bound."""
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("estimated_users")
    )
    exact = t.events.agg(F.count_distinct("user_id").alias("exact_users"))
    return (
        merged.crossJoin(F.broadcast(exact))
        .select(
            "estimated_users",
            "exact_users",
            F.round(
                F.abs(F.col("estimated_users") - F.col("exact_users"))
                / F.col("exact_users"),
                6,
            ).alias("rel_err"),
        )
    )


# ===========================================================================
# wave module round5f (formerly operators/round5f.py)
# Round-5 sixth wave (SURVEY.md §2.Q, continued): ANSI error-safe
# arithmetic (try_*), permissive malformed-CSV ingestion with corrupt-
# record capture, CUSUM changepoint detection on the daily shipment
# series, and fine-grained error-burst detection over 5-minute buckets.
# ===========================================================================

@register(
    "fn_try_safe_arith",
    oracle="""
SELECT doc_id,
       round(CAST(n_chars AS DOUBLE) / nullif(doc_id % 7, 0), 6)
         AS safe_div,
       TRY_CAST(lang AS INTEGER) AS lang_as_int,
       TRY_CAST(substring(text, 1, 3) AS INTEGER) AS prefix_as_int,
       CAST(n_chars AS DOUBLE) / nullif(doc_id % 7, 0) IS NULL
         AS div_was_unsafe
FROM documents
""",
)
def fn_try_safe_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI error-safe function family (§2.H completion): try_divide
    nulls out division-by-zero instead of raising under ANSI mode, and
    try_cast nulls unparseable strings — the semantics an ingest
    pipeline needs so one bad row degrades to NULL instead of failing a
    100 TB job. DuckDB twins: a/nullif(b,0) and TRY_CAST. Pure
    expression plan, no shuffle."""
    t = Tables(spark, sf_dir)
    div = F.try_divide(
        F.col("n_chars").cast("double"), (F.col("doc_id") % 7).cast("double")
    )
    return t.documents.select(
        "doc_id",
        F.round(div, 6).alias("safe_div"),
        F.col("lang").try_cast("int").alias("lang_as_int"),
        F.substring("text", 1, 3).try_cast("int").alias("prefix_as_int"),
        div.isNull().alias("div_was_unsafe"),
    )


@register(
    "scan_csv_malformed_permissive",
    oracle="""
SELECT count(*) AS n_rows,
       count(CASE WHEN doc_id % 17 = 0 THEN 1 END) AS n_corrupt,
       count(CASE WHEN doc_id % 17 <> 0 THEN 1 END) AS n_good,
       CAST(sum(CASE WHEN doc_id % 17 <> 0 THEN n_chars END) AS BIGINT)
         AS good_chars
FROM documents
""",
)
def scan_csv_malformed_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive CSV ingestion with corrupt-record capture: a CSV lake
    is written with every 17th row type-corrupted (its numeric column
    replaced by a word), then re-read under PERMISSIVE mode with an
    explicit schema + columnNameOfCorruptRecord — bad rows surface as
    NULL fields with the raw line preserved in the corrupt column
    instead of failing the scan. The dead-letter counts reconcile
    exactly with the corruption rule, which is what the oracle states.
    The r5 ingest-robustness check next to pipeline_dead_letter (which
    validates semantic rules; this one validates PARSE failures)."""
    out = op_tmpdir("csv_malformed_")
    d = Tables(spark, sf_dir).documents
    line = F.when(
        F.col("doc_id") % 17 == 0,
        F.concat_ws(",", F.col("doc_id"), F.lit("notanumber")),
    ).otherwise(F.concat_ws(",", F.col("doc_id"), F.col("n_chars")))
    d.select(line.alias("value")).write.mode("overwrite").text(out)
    back = (
        spark.read.schema("doc_id long, n_chars long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    corrupt = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(corrupt, 1)).alias("n_corrupt"),
        F.count(F.when(~corrupt, 1)).alias("n_good"),
        F.sum(F.when(~corrupt, F.col("n_chars"))).cast("bigint").alias(
            "good_chars"
        ),
    )


@register(
    "lineitem_quantity_cusum_shift",
    oracle="""
WITH daily AS (
  -- l_shipdate IS NOT NULL: a daily control chart has no seat for
  -- "no day" (and the oracle engine's window ordering over a NULL
  -- grouped date is unreliable — see orders_cumulative_share_monthly)
  SELECT l_shipdate AS day, CAST(sum(l_quantity) AS DOUBLE) AS x
  FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY l_shipdate
),
stats AS (
  SELECT day, x, avg(x) OVER () AS mu, count(*) OVER () AS n_days
  FROM daily
),
cusum AS (
  SELECT day, n_days,
         sum(x - mu) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM stats
),
ranked AS (
  SELECT day AS shift_day, CAST(n_days AS BIGINT) AS n_days,
         round(c, 4) AS cusum_value,
         row_number() OVER (ORDER BY abs(c) DESC, day ASC) AS rn
  FROM cusum
)
SELECT shift_day, n_days, cusum_value FROM ranked WHERE rn = 1
""",
)
def lineitem_quantity_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily shipped-quantity series:
    the day where the cumulative deviation from the series mean peaks in
    magnitude — the classic level-shift locator of statistical process
    control. Aggregate-first: every window (mean, running sum, argmax
    rank) runs over the days-sized relation; output is exactly one row
    with a deterministic tie-break."""
    t = Tables(spark, sf_dir)
    daily = (
        t.lineitem.where(F.col("l_shipdate").isNotNull())  # oracle mirrors
        .groupBy(F.col("l_shipdate").alias("day"))
        .agg(F.sum("l_quantity").cast("double").alias("x"))
    )
    w_all = Window.partitionBy()
    stats = daily.select(
        "day",
        "x",
        F.avg("x").over(w_all).alias("mu"),
        F.count(F.lit(1)).over(w_all).alias("n_days"),
    )
    w_run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cusum = stats.select(
        "day",
        "n_days",
        F.sum(F.col("x") - F.col("mu")).over(w_run).alias("c"),
    )
    w_rank = Window.orderBy(F.abs(F.col("c")).desc(), F.asc("day"))
    return (
        cusum.select(
            F.col("day").alias("shift_day"),
            F.col("n_days").cast("bigint").alias("n_days"),
            F.round("c", 4).alias("cusum_value"),
            F.row_number().over(w_rank).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "events_error_burst_5min",
    oracle="""
WITH buckets AS (
  SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket,
         count(*) AS n_errors
  FROM events WHERE event_type = 'error'
  GROUP BY 1
),
stats AS (
  SELECT bucket, n_errors,
         avg(n_errors) OVER () AS mu,
         sqrt(avg(n_errors * n_errors) OVER ()
              - avg(n_errors) OVER () * avg(n_errors) OVER ()) AS sigma
  FROM buckets
)
SELECT bucket, n_errors,
       round((n_errors - mu) / sigma, 6) AS zscore
FROM stats
WHERE n_errors > mu + 3 * sigma
""",
)
def events_error_burst_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-burst detection at 5-minute granularity: buckets whose
    error count exceeds mean + 3σ of the bucket distribution — the
    paging rule of an ingest monitor, and the fine-grained sibling of
    events_anomaly_zscore (daily). Buckets are integer epoch/300 keys
    (no timestamp-zone parity surface); σ is population form from raw
    power sums; all windows run over the buckets-sized relation."""
    t = Tables(spark, sf_dir)
    buckets = (
        t.events.filter(F.col("event_type") == "error")
        .groupBy(
            F.floor(F.unix_timestamp("ts") / 300).cast("bigint").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    w = Window.partitionBy()
    n = F.col("n_errors")
    stats = buckets.select(
        "bucket",
        "n_errors",
        F.avg(n).over(w).alias("mu"),
        F.sqrt(
            F.avg(n * n).over(w) - F.avg(n).over(w) * F.avg(n).over(w)
        ).alias("sigma"),
    )
    return stats.filter(
        n > F.col("mu") + 3 * F.col("sigma")
    ).select(
        "bucket",
        "n_errors",
        F.round((n - F.col("mu")) / F.col("sigma"), 6).alias("zscore"),
    )


# ===========================================================================
# wave module round5g (formerly operators/round5g.py)
# Round-5 seventh wave (SURVEY.md §2.Q, continued): growth accounting
# (weekly new/retained/resurrected/churned user states), a cross-table
# referential-integrity audit with injected violations, a time-bounded
# conversion funnel (each step within 24 h of the previous), and MinHash
# estimate-vs-exact Jaccard calibration over known near-dup pairs.
# ===========================================================================

_EPOCH = "DATE '2024-01-01'"


@register(
    "events_user_lifecycle_states",
    oracle=f"""
WITH uw AS (
  SELECT DISTINCT user_id,
         datediff('day', {_EPOCH}, CAST(ts AS DATE)) // 7 AS week
  FROM events
),
maxw AS (SELECT max(week) AS max_week FROM uw),
flagged AS (
  SELECT user_id, week,
         min(week) OVER (PARTITION BY user_id) AS first_week,
         lag(week)  OVER (PARTITION BY user_id ORDER BY week) AS prev_week,
         lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next_week
  FROM uw
),
states AS (
  SELECT week,
         count(CASE WHEN week = first_week THEN 1 END) AS n_new,
         count(CASE WHEN week > first_week AND prev_week = week - 1
                    THEN 1 END) AS n_retained,
         count(CASE WHEN week > first_week
                     AND (prev_week IS NULL OR prev_week < week - 1)
                    THEN 1 END) AS n_resurrected
  FROM flagged GROUP BY week
),
churn AS (
  SELECT f.week + 1 AS week, count(*) AS n_churned
  FROM flagged f CROSS JOIN maxw m
  WHERE (f.next_week IS NULL OR f.next_week > f.week + 1)
    AND f.week + 1 <= m.max_week
  GROUP BY f.week + 1
)
SELECT s.week, s.n_new, s.n_retained, s.n_resurrected,
       COALESCE(c.n_churned, 0) AS n_churned
FROM states s LEFT JOIN churn c ON s.week = c.week
""",
)
def events_user_lifecycle_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per week, users who are NEW (first activity),
    RETAINED (also active the prior week), RESURRECTED (returning after
    a gap), and CHURNED (active the prior week, absent now) — the
    canonical DAU-quality decomposition. Distinct-reduce first: every
    window runs over the (user, week) relation (≤ users × weeks rows);
    the churn anchor week comes from a scalar broadcast, never a global
    window over the grid."""
    t = Tables(spark, sf_dir)
    week = (
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        / 7
    ).cast("bigint")
    uw = t.events.select("user_id", week.alias("week")).distinct()
    # churn anchor from RAW events (same max as over the distinct grid):
    # deriving it from uw would replay the distinct shuffle for a scalar
    maxw = t.events.agg(F.max(week).alias("max_week"))
    w_user = Window.partitionBy("user_id")
    w_seq = Window.partitionBy("user_id").orderBy("week")
    flagged = uw.select(
        "user_id",
        "week",
        F.min("week").over(w_user).alias("first_week"),
        F.lag("week").over(w_seq).alias("prev_week"),
        F.lead("week").over(w_seq).alias("next_week"),
    )
    states = flagged.groupBy("week").agg(
        F.count(F.when(F.col("week") == F.col("first_week"), 1)).alias("n_new"),
        F.count(
            F.when(
                (F.col("week") > F.col("first_week"))
                & (F.col("prev_week") == F.col("week") - 1),
                1,
            )
        ).alias("n_retained"),
        F.count(
            F.when(
                (F.col("week") > F.col("first_week"))
                & (
                    F.col("prev_week").isNull()
                    | (F.col("prev_week") < F.col("week") - 1)
                ),
                1,
            )
        ).alias("n_resurrected"),
    )
    churn = (
        flagged.crossJoin(F.broadcast(maxw))
        .filter(
            (F.col("next_week").isNull() | (F.col("next_week") > F.col("week") + 1))
            & (F.col("week") + 1 <= F.col("max_week"))
        )
        .groupBy((F.col("week") + 1).alias("week"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        states.join(churn, "week", "left")
        .select(
            "week",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce(F.col("n_churned"), F.lit(0)).alias("n_churned"),
        )
    )


_RI_OFFSET = 900_000_000


@register(
    "quality_referential_integrity",
    oracle=f"""
WITH bad_orders AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + {_RI_OFFSET}
              ELSE o_custkey END AS o_custkey
  FROM orders
),
bad_lineitem AS (
  SELECT l_orderkey,
         CASE WHEN (l_orderkey * 8 + l_linenumber) % 101 = 0
              THEN l_partkey + {_RI_OFFSET} ELSE l_partkey END AS l_partkey,
         CASE WHEN (l_orderkey * 8 + l_linenumber) % 103 = 0
              THEN l_suppkey + {_RI_OFFSET} ELSE l_suppkey END AS l_suppkey
  FROM lineitem
)
SELECT 'orders.custkey->customer' AS fk, count(*) AS n_rows,
       count(CASE WHEN c_custkey IS NULL THEN 1 END) AS n_orphans
FROM bad_orders LEFT JOIN customer ON o_custkey = c_custkey
UNION ALL
SELECT 'lineitem.partkey->part', count(*),
       count(CASE WHEN p_partkey IS NULL THEN 1 END)
FROM bad_lineitem LEFT JOIN part ON l_partkey = p_partkey
UNION ALL
SELECT 'lineitem.suppkey->supplier', count(*),
       count(CASE WHEN s_suppkey IS NULL THEN 1 END)
FROM bad_lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
""",
)
def quality_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit: orphan counts for three
    foreign keys, against a corpus with deterministically injected FK
    violations (every 97th order's custkey, every 101st/103rd line's
    part/supp key pushed out of range — the corpus itself is FK-clean,
    so an un-mutated audit proves nothing). Each check is one left join
    + conditional count; the dimension sides broadcast. The cross-table
    sibling of quality_constraints (single-table rules) and
    pipeline_reconcile_totals (value-level reconciliation)."""
    t = Tables(spark, sf_dir)
    bad_orders = t.orders.select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_custkey") + _RI_OFFSET
        )
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
    )
    lk = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    bad_lineitem = t.lineitem.select(
        "l_orderkey",
        F.when(lk % 101 == 0, F.col("l_partkey") + _RI_OFFSET)
        .otherwise(F.col("l_partkey"))
        .alias("l_partkey"),
        F.when(lk % 103 == 0, F.col("l_suppkey") + _RI_OFFSET)
        .otherwise(F.col("l_suppkey"))
        .alias("l_suppkey"),
    )

    def audit(name, child, child_key, dim, dim_key, dim_table):
        joined = child.join(
            broadcast_if_small(dim, sf_dir, dim_table),
            F.col(child_key) == F.col(dim_key),
            "left",
        )
        return joined.agg(
            F.lit(name).alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col(dim_key).isNull(), 1)).alias("n_orphans"),
        ).select("fk", "n_rows", "n_orphans")

    return (
        audit(
            "orders.custkey->customer",
            bad_orders,
            "o_custkey",
            t.customer.select("c_custkey"),
            "c_custkey",
                "customer",
        )
        .unionByName(
            audit(
                "lineitem.partkey->part",
                bad_lineitem,
                "l_partkey",
                t.part.select("p_partkey"),
                "p_partkey",
                "part",
            )
        )
        .unionByName(
            audit(
                "lineitem.suppkey->supplier",
                bad_lineitem,
                "l_suppkey",
                t.supplier.select("s_suppkey"),
                "s_suppkey",
                "supplier",
            )
        )
    )


@register(
    "events_funnel_time_bounded",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 24 HOUR
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 24 HOUR
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM v) AS n_viewed,
       (SELECT count(*) FROM c) AS n_clicked_24h,
       (SELECT count(*) FROM p) AS n_purchased_24h
""",
)
def events_funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded conversion funnel: first view → first click within
    24 h of it → first purchase within 24 h of that. The unbounded
    events_funnel counts eventual converters; this one enforces the
    step deadline product analytics actually uses. Each stage is one
    per-user aggregate + one user-keyed join — the stage relations
    shrink monotonically, and nothing self-joins raw events against raw
    events."""
    t = Tables(spark, sf_dir)
    ev = t.events
    # v and c each feed BOTH their own stage count and the next stage:
    # uncached, Spark recomputes the chain per count (events scanned
    # 1+2+3 = 6 times; measured 9.6 s -> 4.3 s at the 10x sweep). The
    # cached relations are per-user aggregates (users-sized, spill-safe).
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .transform(op_cache)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v.select(F.col("user_id").alias("vu"), "t1"),
              F.col("user_id") == F.col("vu"))
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .transform(op_cache)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c.select(F.col("user_id").alias("cu"), "t2"),
              F.col("user_id") == F.col("cu"))
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_viewed"))
    nc = c.agg(F.count(F.lit(1)).alias("n_clicked_24h"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchased_24h"))
    return nv.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(np_))


def _minhash_error_oracle() -> str:
    from ai_dataingestion_spark.ai.dedup import (
        _CW_A,
        _CW_B,
        _DUP_OFFSET,
        _MERSENNE_P,
        _duck_h,
        N_HASHES,
        SHINGLE_K,
    )

    sig_cols = ", ".join(
        "min((%d * hm + %d) %% %d) AS h%d" % (_CW_A[i], _CW_B[i], _MERSENNE_P, i)
        for i in range(N_HASHES)
    )
    eq_sum = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
    )
    return f"""
WITH corpus AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET},
         list_slice(string_split(text, ' '), 1, len(string_split(text, ' ')) - 1)
  FROM documents WHERE doc_id % 5 = 0
),
shingled AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - {SHINGLE_K - 2}, 2)),
           i -> array_to_string(list_slice(toks, i, i + {SHINGLE_K - 1}), ' ')
         )) AS shingles
  FROM corpus
),
sp AS (SELECT doc_id, {_duck_h("shingle")} % {_MERSENNE_P} AS hm
       FROM (SELECT doc_id, unnest(shingles) AS shingle FROM shingled)),
sig AS MATERIALIZED (SELECT doc_id, {sig_cols} FROM sp GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_id, ({eq_sum}) AS n_eq
  FROM sig a JOIN sig b ON b.doc_id = a.doc_id + {_DUP_OFFSET}
  WHERE a.doc_id % 5 = 0 AND a.doc_id < {_DUP_OFFSET}
),
exact AS (
  SELECT p.doc_id, p.n_eq,
         CAST(len(list_filter(s1.shingles, s -> list_contains(s2.shingles, s)))
              AS DOUBLE)
         / (len(s1.shingles) + len(s2.shingles)
            - len(list_filter(s1.shingles, s -> list_contains(s2.shingles, s))))
           AS j_raw
  FROM pairs p
  JOIN shingled s1 ON s1.doc_id = p.doc_id
  JOIN shingled s2 ON s2.doc_id = p.doc_id + {_DUP_OFFSET}
)
SELECT doc_id,
       floor(j_raw * 1000000 + 0.5) / 1000000 AS jaccard_exact,
       CAST(n_eq AS DOUBLE) / {N_HASHES} AS jaccard_est,
       floor(abs(CAST(n_eq AS DOUBLE) / {N_HASHES} - j_raw) * 1000000 + 0.5)
         / 1000000 AS abs_err
FROM exact
"""


@register("dedup_minhash_estimate_error", oracle=_minhash_error_oracle())
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash calibration: for every KNOWN near-dup pair (doc, doc with
    its last token dropped — the _corpus_with_near_dups fixture), the
    signature-estimated Jaccard (matching fraction of the 32 slots) next
    to the exact shingle-set Jaccard, per pair with absolute error — the
    introspection query that tells you whether 32 hashes are enough for
    your threshold before you trust an LSH sweep at corpus scale.
    Signatures are the same portable Carter-Wegman pipeline as
    dedup_near_minhash (oracle-identical end-to-end); the estimate k/32
    is binary-exact so only the exact-Jaccard ratio needs the portable
    floor(x·1e6+0.5)/1e6 rounding (SURVEY §5.4 round-tie trap)."""
    # the shingled relation (op_cached by the kernel) feeds the signature
    # AND the exact-Jaccard verify.
    docs = shingle_sets(_corpus_with_near_dups(spark, sf_dir))
    # cache: both pair sides consume sig — uncached, Spark replays the
    # explode + 32-min aggregation per side. docs-count-sized (33 cols).
    sig = minhash_signature(docs).transform(op_cache)
    a = sig.alias("a")
    b = sig.alias("b")
    n_eq = sum(
        F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    pairs = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + _DUP_OFFSET)
        .filter((F.col("a.doc_id") % 5 == 0) & (F.col("a.doc_id") < _DUP_OFFSET))
        .select(F.col("a.doc_id").alias("doc_id"), n_eq.alias("n_eq"))
    )
    s1 = docs.select(F.col("doc_id").alias("d1"), F.col("shingles").alias("sh1"))
    s2 = docs.select(F.col("doc_id").alias("d2"), F.col("shingles").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - inter
    j_raw = inter.cast("double") / union
    est = F.col("n_eq").cast("double") / N_HASHES
    return (
        pairs.join(s1, F.col("doc_id") == F.col("d1"))
        .join(s2, F.col("doc_id") + _DUP_OFFSET == F.col("d2"))
        .select(
            "doc_id",
            (F.floor(j_raw * 1_000_000 + 0.5) / 1_000_000).alias("jaccard_exact"),
            est.alias("jaccard_est"),
            (F.floor(F.abs(est - j_raw) * 1_000_000 + 0.5) / 1_000_000).alias(
                "abs_err"
            ),
        )
    )


# ===========================================================================
# wave module round5h (formerly operators/round5h.py)
# Round-5 eighth wave (SURVEY.md §2.Q, continued): discrete-vs-
# continuous percentile parity, two-step event path mining, the shingle
# document-frequency spectrum (the introspection that justifies the
# rare-shingle DF cap), and a per-type ingestion freshness report.
# ===========================================================================

@register(
    "win_percentile_disc_vs_cont",
    oracle="""
SELECT l_returnflag, count(*) AS n,
       CAST(quantile_disc(l_quantity, 0.5) AS DOUBLE) AS p50_disc,
       CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS p50_cont,
       CAST(quantile_disc(l_quantity, 0.9) AS DOUBLE) AS p90_disc,
       CAST(quantile_cont(l_quantity, 0.9) AS DOUBLE) AS p90_cont
FROM lineitem GROUP BY l_returnflag
""",
)
def win_percentile_disc_vs_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete vs continuous percentiles side by side (§2.D family
    completion): percentile_disc returns an actual data value (what a
    'p90 order actually looked like'), percentile_cont interpolates —
    the distinction that matters when the value is fed back into a
    filter. Quantity values carry ≤ 2 decimals and midpoints halve
    exactly in binary, so no rounding layer is needed for parity."""
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)"
        ).alias("p50_disc"),
        F.expr(
            "percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)"
        ).alias("p50_cont"),
        F.expr(
            "percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)"
        ).alias("p90_disc"),
        F.expr(
            "percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity)"
        ).alias("p90_cont"),
    )


@register(
    "events_markov_2step_paths",
    oracle="""
WITH seq AS (
  SELECT event_type AS step3,
         lag(event_type, 1) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS step2,
         lag(event_type, 2) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS step1
  FROM events
)
SELECT step1, step2, step3, count(*) AS n_paths
FROM seq WHERE step1 IS NOT NULL AND step2 IS NOT NULL
GROUP BY step1, step2, step3
""",
)
def events_markov_2step_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step path mining: counts of every (A → B → C) event-type
    trigram along user timelines — the sequence-mining extension of
    events_transition_matrix (1-step). One user-partitioned window
    carrying only the type column produces both lags; output is bounded
    by |types|³ at any event volume."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    seq = t.events.select(
        F.col("event_type").alias("step3"),
        F.lag("event_type", 1).over(w).alias("step2"),
        F.lag("event_type", 2).over(w).alias("step1"),
    )
    return (
        seq.filter(F.col("step1").isNotNull() & F.col("step2").isNotNull())
        .groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )


@register(
    "text_shingle_df_spectrum",
    oracle="""
WITH shingled AS MATERIALIZED (
  -- split hoisted OUT of the lambda: inlined, DuckDB re-splits the text
  -- per shingle — O(tokens x chars), 33-66 s on 100k-char docs (round 10)
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 1, 2)),
           i -> array_to_string(list_slice(toks, i, i + 2), ' ')
         )) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
df AS (
  SELECT shingle, count(*) AS doc_freq
  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM shingled)
  GROUP BY shingle
)
SELECT doc_freq, count(*) AS n_shingles
FROM df GROUP BY doc_freq
""",
)
def text_shingle_df_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency spectrum of 3-token shingles: how many
    distinct shingles appear in exactly k documents — the measurement
    that justifies (or refutes) the rare-shingle DF≤50 cap the near-dup
    index rests on (ai/dedup.py): a heavy tail above the cap means the
    hot-hash rescue path actually carries load. Two chained
    partial-aggregable groupBys; the spectrum is ≤ max-df rows."""
    # shingle_sets' op_cache: exploding the shingle transform directly
    # re-evaluates the slice-per-index lambda pathologically on giant token
    # arrays (38 s vs 0.3 s from cache on the extremes tier, round 10)
    docs = shingle_sets(
        Tables(spark, sf_dir).documents.select("doc_id", "text")
    )
    df = (
        docs.select("doc_id", F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    return df.groupBy("doc_freq").agg(F.count(F.lit(1)).alias("n_shingles"))


@register(
    "pipeline_watermark_lag_report",
    oracle="""
WITH per_type AS (
  SELECT event_type, max(ts) AS last_seen, count(*) AS n_events
  FROM events GROUP BY event_type
)
SELECT event_type, last_seen, n_events,
       CAST(floor((epoch(max(last_seen) OVER ()) - epoch(last_seen)) / 60)
            AS BIGINT) AS minutes_behind,
       floor((epoch(max(last_seen) OVER ()) - epoch(last_seen)) / 60) >= 60
         AS is_stale
FROM per_type
""",
)
def pipeline_watermark_lag_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion freshness report: per event type, the last event seen
    and how many whole minutes it trails the freshest type — the
    watermark-lag table an ingest pipeline publishes so a stalled
    upstream (≥ 60 min behind) pages someone. Aggregate-first: the
    global anchor is a window over the types-sized relation; lag is
    integer minutes (floor of an epoch-second difference — exact
    arithmetic, no float parity surface)."""
    t = Tables(spark, sf_dir)
    per_type = t.events.groupBy("event_type").agg(
        F.max("ts").alias("last_seen"), F.count(F.lit(1)).alias("n_events")
    )
    anchor = F.max("last_seen").over(Window.partitionBy())
    behind = F.floor(
        (F.unix_timestamp(anchor) - F.unix_timestamp("last_seen")) / 60
    ).cast("bigint")
    return per_type.select(
        "event_type",
        "last_seen",
        "n_events",
        behind.alias("minutes_behind"),
        (behind >= 60).alias("is_stale"),
    )


def _range_search_oracle() -> str:
    from ai_dataingestion_spark.ai.similarity import _COSINE_PAIRS_SQL

    return f"""
WITH {_COSINE_PAIRS_SQL}
SELECT probe_id, neighbor_id, round(cos, 9) AS cos
FROM pairs WHERE round(cos, 9) >= 0.3
"""


@register("sim_cosine_range_search", oracle=_range_search_oracle())
def sim_cosine_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range similarity search: EVERY neighbor with cosine ≥ 0.3 of each
    probe — the epsilon-ball companion to sim_cosine_topk's kNN (a range
    query returns all sufficiently-similar items, however many; top-k
    returns k, however dissimilar — retrieval pipelines need both). Same
    one-Arrow-crossing matmul kernel and 9-dp parity rounding; the
    threshold filter replaces the rank window, so no per-probe sort at
    all — at scale this is strictly cheaper than top-k."""
    import numpy as np
    import pandas as pd

    from ai_dataingestion_spark.ai.similarity import _probe_matrix, _vectors

    e = _vectors(Tables(spark, sf_dir).embeddings)
    pids, Pn = _probe_matrix(spark, sf_dir)

    def score(batches):
        for pdf in batches:
            if not len(pdf) or not len(pids):
                continue
            B = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            Bn = B / np.sqrt((B * B).sum(axis=1, keepdims=True))
            C = np.round(Bn @ Pn.T, 9)  # (n_batch, n_probes)
            ni, pi = np.nonzero(C >= 0.3)  # kernel-side threshold: only
            # qualifying pairs cross back out of the Python worker
            yield pd.DataFrame(
                {
                    "probe_id": np.asarray(pids)[pi],
                    "neighbor_id": pdf["vec_id"].to_numpy()[ni],
                    "cos": C[ni, pi],
                }
            )

    return (
        e.select("vec_id", "embedding")
        .mapInPandas(score, "probe_id bigint, neighbor_id bigint, cos double")
        .filter(F.col("neighbor_id") != F.col("probe_id"))
    )


# ===========================================================================
# wave module round5i (formerly operators/round5i.py)
# Round-5 ninth wave (SURVEY.md §2.Q, continued): peak session
# concurrency via a DISTRIBUTED prefix sum (the scale-shaped sweep-line),
# robust MAD anomaly screening, duplicate-invoice detection against
# injected duplicates, ship-latency quantiles per supplier nation, the
# string-formatting parity family, and a deterministic A/B two-proportion
# z-test.
# ===========================================================================

_SESSION_BOUNDS_SQL = """
seq AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  -- an event with no timestamp cannot sit on a concurrency timeline
  FROM events WHERE ts IS NOT NULL
),
sess AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM seq
),
intervals AS (
  SELECT user_id, session_id,
         epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
  FROM sess GROUP BY user_id, session_id
)
"""


@register(
    "events_peak_concurrency",
    oracle="""
WITH """
    + _SESSION_BOUNDS_SQL
    + """,
deltas AS (
  SELECT start_us AS t, 1 AS d FROM intervals
  UNION ALL
  SELECT end_us + 1 AS t, -1 AS d FROM intervals
),
bounds AS (
  SELECT t, CAST(sum(d) AS BIGINT) AS net FROM deltas GROUP BY t
),
running AS (
  SELECT t,
         CAST(sum(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS conc
  FROM bounds
),
peaks AS (
  SELECT date_trunc('day', make_timestamp(t)) AS day,
         max(conc) AS peak_concurrency,
         count(*) AS n_boundary_points
  FROM running GROUP BY 1
),
starts AS (
  SELECT date_trunc('day', make_timestamp(start_us)) AS day,
         count(*) AS sessions_started
  FROM intervals GROUP BY 1
)
SELECT p.day, coalesce(s.sessions_started, 0) AS sessions_started,
       p.peak_concurrency, p.n_boundary_points
FROM peaks p LEFT JOIN starts s ON p.day = s.day
""",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the sweep-line / interval-
    concurrency primitive (capacity planning, rate limiting). Sessions
    are 30-minute-gap sessionized (the events_sessionize_batch rule);
    each interval [start, end] emits +1 at start and -1 at end+1µs, and
    peak concurrency is the max of the boundary-point prefix sum.

    The prefix sum is DISTRIBUTED: a single global ordered window would
    serialize session-count boundary points through one partition at
    100 TB, so Spark computes it in two levels — a within-day running
    sum (partitioned window) plus each day's carried-in offset from a
    days-sized cumulative of per-day totals — the classic parallel
    scan decomposition. The oracle spells the same quantity as one
    global window; peaks are always attained at +1 boundary points, so
    the per-day max over boundary points is the true within-day peak.
    """
    e = Tables(spark, sf_dir).events.where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    prev = F.lag("ts").over(w)
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        prev.cast("timestamp")
    )
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(prev.isNull() | (gap_us > 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = seq.select(
        "user_id", "ts", F.sum("is_new").over(cum).alias("session_id")
    )
    # intervals feeds THREE branches (start deltas, end deltas, per-day
    # session starts): cache the sessions-sized relation so the two-window
    # sessionize chain over events runs once, not per branch
    intervals = sess.groupBy("user_id", "session_id").agg(
        F.unix_micros(F.min("ts").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.max("ts").cast("timestamp")).alias("end_us"),
    ).transform(op_cache)
    deltas = intervals.select(
        F.col("start_us").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        intervals.select(
            (F.col("end_us") + 1).alias("t"), F.lit(-1).alias("d")
        )
    )
    bounds = deltas.groupBy("t").agg(F.sum("d").alias("net"))
    # UTC session tz: LTZ->NTZ cast renders the same wall clock DuckDB's
    # tz-less make_timestamp(µs) produces; date_trunc timestamps (not
    # DATE) cross the compare harness losslessly (events_dau_mau idiom)
    day = F.date_trunc(
        "day", F.timestamp_micros(F.col("t")).cast("timestamp_ntz")
    )
    # level 1: running sum within each day (parallel across days)
    w_day = Window.partitionBy("day").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    within = bounds.withColumn("day", day).withColumn(
        "within", F.sum("net").over(w_day)
    )
    # level 2: days-sized carried-in offsets (broadcast back to level 1)
    day_tot = within.groupBy("day").agg(F.sum("net").alias("day_net"))
    w_days = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = day_tot.select(
        "day", F.coalesce(F.sum("day_net").over(w_days), F.lit(0)).alias("off")
    )
    conc = within.join(F.broadcast(offsets), "day").withColumn(
        "conc", F.col("off") + F.col("within")
    )
    peaks = conc.groupBy("day").agg(
        F.max("conc").alias("peak_concurrency"),
        F.count(F.lit(1)).alias("n_boundary_points"),
    )
    starts = intervals.groupBy(
        F.date_trunc(
            "day",
            F.timestamp_micros(F.col("start_us")).cast("timestamp_ntz"),
        ).alias("day")
    ).agg(F.count(F.lit(1)).alias("sessions_started"))
    return peaks.join(F.broadcast(starts), "day", "left").select(
        "day",
        F.coalesce("sessions_started", F.lit(0)).alias("sessions_started"),
        "peak_concurrency",
        "n_boundary_points",
    )


@register(
    "events_anomaly_mad",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, median(n) AS med FROM daily GROUP BY 1
),
dev AS (
  SELECT d.event_type, d.day, d.n, m.med, abs(d.n - m.med) AS adev
  FROM daily d JOIN med m ON d.event_type = m.event_type
),
mad AS (
  SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1
)
SELECT d.event_type, d.day, d.n,
       floor(0.6745 * (d.n - d.med) / nullif(m.mad, 0) * 1000000 + 0.5)
         / 1000000 AS robust_z,
       CAST(CASE WHEN abs(0.6745 * (d.n - d.med) / nullif(m.mad, 0)) > 3.5
                 THEN 1 ELSE 0 END AS INT) AS is_anomaly
FROM dev d JOIN mad m ON d.event_type = m.event_type
""",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly screen on daily event volumes: the median-absolute-
    deviation z-score 0.6745·(x − median)/MAD with the |z| > 3.5 flag
    (Iglewicz-Hoaglin) — the outlier-resistant twin of
    events_anomaly_zscore, which a single traffic spike can mask by
    inflating the stddev it is judged against. Two types-sized median
    aggregates broadcast back onto the (type, day) grid; daily counts are
    integers and medians interpolate at exact binary halves, so the only
    rounding layer needed is the portable 6-dp formula on the ratio."""
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    med = daily.groupBy("event_type").agg(F.expr("median(n)").alias("med"))
    # dev feeds BOTH the MAD aggregate and the final select: cache the
    # (types x days)-sized grid so events is scanned once, not per branch
    dev = (
        daily.join(F.broadcast(med), "event_type")
        .withColumn("adev", F.abs(F.col("n") - F.col("med")))
        .transform(op_cache)
    )
    mad = dev.groupBy("event_type").agg(F.expr("median(adev)").alias("mad"))
    z = (
        F.lit(0.6745)
        * (F.col("n") - F.col("med"))
        / F.nullif(F.col("mad"), F.lit(0))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "day",
            "n",
            pround(z).alias("robust_z"),
            F.when(F.abs(z) > 3.5, 1).otherwise(0).cast("int").alias(
                "is_anomaly"
            ),
        )
    )


@register(
    "orders_duplicate_invoice_detect",
    oracle="""
WITH feed AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         date_trunc('day', o_orderdate) AS order_day
  FROM orders
  UNION ALL
  SELECT o_orderkey + 1000000000, o_custkey, o_totalprice,
         date_trunc('day', o_orderdate)
  FROM orders WHERE o_orderkey % 53 = 0
)
SELECT o_custkey, order_day, o_totalprice AS amount,
       count(*) AS n_claims,
       min(o_orderkey) AS first_key, max(o_orderkey) AS last_key
FROM feed
GROUP BY o_custkey, order_day, o_totalprice
HAVING count(*) >= 2
""",
)
def orders_duplicate_invoice_detect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-invoice / double-ingestion screen: invoices agreeing on
    (customer, day, exact amount) under DIFFERENT keys — the signature of
    a replayed ingest batch or a double-submitted claim. Duplicates are
    deterministically injected (every 53rd orderkey re-enters with a
    shifted key, the quality_referential_integrity injection idiom) so
    the detector's recall is verifiable. One hash-aggregate on the
    composite key — amount is part of the grouping key, so identical
    doubles collide exactly; no float comparison tolerance is involved."""
    o = Tables(spark, sf_dir).orders
    base = o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.date_trunc("day", "o_orderdate").alias("order_day"),
    )
    injected = base.filter(F.col("o_orderkey") % 53 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 1_000_000_000
    )
    return (
        base.unionAll(injected)
        .groupBy("o_custkey", "order_day", "o_totalprice")
        .agg(
            F.count(F.lit(1)).alias("n_claims"),
            F.min("o_orderkey").alias("first_key"),
            F.max("o_orderkey").alias("last_key"),
        )
        .filter(F.col("n_claims") >= 2)
        .select(
            "o_custkey",
            "order_day",
            F.col("o_totalprice").alias("amount"),
            "n_claims",
            "first_key",
            "last_key",
        )
    )


@register(
    "lineitem_ship_latency_by_nation",
    oracle="""
SELECT n_name,
       count(*) AS n,
       floor(CAST(sum(d) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000 AS avg_days,
       CAST(quantile_cont(d, 0.5) AS DOUBLE) AS p50_days,
       CAST(quantile_cont(d, 0.9) AS DOUBLE) AS p90_days
FROM (
  SELECT n_name,
         date_diff('day', CAST(o_orderdate AS DATE),
                   CAST(l_shipdate AS DATE)) AS d
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
)
GROUP BY n_name
""",
)
def lineitem_ship_latency_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-to-ship latency profile per supplier nation: count, mean,
    and p50/p90 of the day delta between order placement and line
    shipment — the fulfilment-SLA view. The only big-big shuffle is
    lineitem ⋈ orders on orderkey; supplier and nation broadcast. The
    mean is spelled as an explicit exact-integer sum / count double
    division (identical operation order in both engines) and day deltas
    are integers, so quantile interpolation lands on exact binary
    midpoints."""
    t = Tables(spark, sf_dir)
    d = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    joined = (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(
            broadcast_if_small(t.supplier, sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t.nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", d.alias("d"))
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"),
        pround(
            F.sum("d").cast("double") / F.count(F.lit(1))
        ).alias("avg_days"),
        F.expr(
            "percentile_cont(0.5) WITHIN GROUP (ORDER BY d)"
        ).alias("p50_days"),
        F.expr(
            "percentile_cont(0.9) WITHIN GROUP (ORDER BY d)"
        ).alias("p90_days"),
    )


@register(
    "fn_string_format",
    oracle="""
SELECT p_partkey,
       lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS key_padded,
       rpad(p_brand, 12, '.') AS brand_padded,
       translate(p_name, 'aeiou', 'AEIOU') AS name_devoweled,
       repeat(substring(p_name, 1, 2), 3) AS name_stutter,
       -- reverse is CODEPOINT-wise on the engine side but GRAPHEME-aware
       -- here: names carrying joiners/combining marks are out of the
       -- portable domain (NULL on both sides)
       CASE WHEN NOT regexp_matches(p_name,
                 '[' || chr(8203) || '-' || chr(8205) || chr(768) || '-'
                     || chr(879) || ']')
            THEN reverse(p_name) END AS name_reversed,
       printf('%s-%05d', p_brand, p_size) AS brand_size_code,
       concat_ws('|', p_brand, p_type, CAST(p_size AS VARCHAR)) AS packed
FROM part
""",
)
def fn_string_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting/padding family (§2.H completion): lpad/rpad,
    translate, repeat, reverse, printf-style format_string, and
    concat_ws — the fixed-width-key and display-formatting toolbox.
    Spark format_string and DuckDB printf share C printf semantics
    (verified for %s / %0Nd). Pure per-row expressions: zero shuffles,
    whole-stage codegen end to end."""
    p = Tables(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias(
            "key_padded"
        ),
        F.rpad("p_brand", 12, ".").alias("brand_padded"),
        F.translate("p_name", "aeiou", "AEIOU").alias("name_devoweled"),
        F.repeat(F.substring("p_name", 1, 2), 3).alias("name_stutter"),
        F.when(
            ~F.col("p_name").rlike(
                "[\u200b-\u200d\u0300-\u036f]"
            ),
            F.reverse("p_name"),
        ).alias("name_reversed"),
        # format_string renders a NULL arg as the text "null"; DuckDB's
        # printf NULL-propagates. The guard pins the SQL-idiomatic contract.
        F.when(
            F.col("p_brand").isNull() | F.col("p_size").isNull(),
            F.lit(None).cast("string"),
        )
        .otherwise(F.format_string("%s-%05d", "p_brand", "p_size"))
        .alias("brand_size_code"),
        F.concat_ws(
            "|", "p_brand", "p_type", F.col("p_size").cast("string")
        ).alias("packed"),
    )


@register(
    "events_ab_proportion_ztest",
    oracle="""
WITH users AS (
  SELECT user_id,
         CASE WHEN CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                        AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS grp,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   > 13 THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
),
cells AS (
  SELECT CAST(sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN grp = 'A' THEN conv ELSE 0 END) AS BIGINT)
           AS conv_a,
         CAST(sum(CASE WHEN grp = 'B' THEN conv ELSE 0 END) AS BIGINT)
           AS conv_b
  FROM users
)
SELECT n_a, n_b, conv_a, conv_b,
       floor(CAST(conv_a AS DOUBLE) / n_a * 1000000 + 0.5) / 1000000
         AS rate_a,
       floor(CAST(conv_b AS DOUBLE) / n_b * 1000000 + 0.5) / 1000000
         AS rate_b,
       floor((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / nullif(sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)
                    * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 0)
             * 1000000 + 0.5) / 1000000 AS z_score
FROM cells
""",
)
def events_ab_proportion_ztest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-proportion z-test for a deterministic A/B split: users are
    hash-assigned (first md5 nibble parity — the portable-hash idiom, so
    assignment is reproducible and balanced) and the pooled-variance z
    statistic compares the two conversion rates — the experimentation
    primitive of a product analytics engine. The conversion predicate is
    the pluggable part; in this corpus EVERY user purchases at least
    once (150/150 at sf0.01 — "any purchase" degenerates to pooled
    p = 1 and a 0/0 z), so the demo predicate is "more than 13
    purchases", which splits the population. Per-user reduce, then four
    conditional sums to ONE row; the z formula is written with identical
    operation order in both engines (pure IEEE mul/div/sqrt are
    correctly rounded, hence bit-identical), nullif-guarded against a
    degenerate pooled rate, and portable-6dp-rounded."""
    e = Tables(spark, sf_dir).events
    grp = F.when(
        F.expr(
            "conv(substring(md5(cast(user_id as string)), 1, 1), 16, 10)"
        ).cast("bigint")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    users = e.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            > 13,
            1,
        )
        .otherwise(0)
        .alias("conv")
    ).select(grp.alias("grp"), "conv")
    cells = users.agg(
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("grp") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("grp") == "A", F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("grp") == "B", F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    ra = F.col("conv_a").cast("double") / F.col("n_a")
    rb = F.col("conv_b").cast("double") / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (ra - rb) / F.nullif(
        F.sqrt(pp * (1 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))),
        F.lit(0.0),
    )
    return cells.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        pround(ra).alias("rate_a"),
        pround(rb).alias("rate_b"),
        pround(z).alias("z_score"),
    )


# ===========================================================================
# wave module round5j (formerly operators/round5j.py)
# Round-5 tenth wave (SURVEY.md §2.Q, continued): LSH band/row tuning
# sweep over the portable minhash signatures, bigram-PMI collocation
# extraction, chunk-granularity inter-document duplication ratio
# (MassiveText-style filter), a schema-evolution mergeSchema scan, and a
# parquet compression-codec round-trip sink.
# ===========================================================================

# (bands, rows_per_band) sweep configs — all consume the same 32-value
# signature. r >= 2 keeps single-hash buckets (threshold 0.03, quadratic
# hot buckets) out of the sweep.
_TUNE_CONFIGS = [(16, 2), (8, 4), (4, 8), (2, 16)]


_SIG_CTES = f"""
corpus AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET},
         list_slice(string_split(text, ' '), 1, len(string_split(text, ' ')) - 1)
  FROM documents WHERE doc_id % 5 = 0
),
shingled AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - {SHINGLE_K - 2}, 2)),
           i -> array_to_string(list_slice(toks, i, i + {SHINGLE_K - 1}), ' ')
         )) AS shingles
  FROM corpus
),
sp AS (SELECT doc_id, {_duck_h("shingle")} % {_MERSENNE_P} AS hm
       FROM (SELECT doc_id, unnest(shingles) AS shingle FROM shingled)),
sig AS MATERIALIZED (
  SELECT doc_id,
         {", ".join("min((%d * hm + %d) %% %d) AS h%d" % (_CW_A[i], _CW_B[i], _MERSENNE_P, i) for i in range(N_HASHES))}
  FROM sp GROUP BY doc_id
)
"""


def _tune_config_sql(b: int, r: int) -> str:
    banded = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, {_minhash_band_bucket('h', j, r)} AS bucket FROM sig"
        for j in range(b)
    )
    return f"""
SELECT {b} AS bands, {r} AS rows_per_band,
       floor(pow(1.0 / {b}, 1.0 / {r}) * 1000000 + 0.5) / 1000000
         AS threshold_50,
       (SELECT count(*) FROM (
          SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
          FROM ({banded}) a JOIN ({banded}) b2
            ON a.band = b2.band AND a.bucket = b2.bucket
               AND a.doc_id < b2.doc_id
       )) AS n_candidate_pairs
"""


@register(
    "dedup_lsh_band_tuning",
    oracle="WITH "
    + _SIG_CTES
    + "\n"
    + "\nUNION ALL\n".join(_tune_config_sql(b, r) for b, r in _TUNE_CONFIGS),
)
def dedup_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band/row tuning sweep (the S-curve knob of Broder-style
    near-dup detection): ONE 32-value Carter-Wegman signature relation,
    re-banded four ways — (16 bands × 2 rows) … (2 × 16) — reporting the
    theoretical 50%-collision threshold (1/b)^(1/r) next to the MEASURED
    distinct candidate-pair count per configuration. This is the
    introspection that turns the 0.6-threshold default of
    dedup_near_minhash into an informed choice: more bands → lower
    threshold → more candidates to verify. The signature build (the
    expensive shuffle) is shared and cached across all four configs;
    each config adds only a (band, bucket) equality self-join on
    signature-width rows. Single-hash bands (r=1) are excluded — their
    0.03 threshold makes hot buckets quadratic."""
    # Optimization r17 (guide §5, driver-side work): this operator's local
    # wall was dominated by Python-side DataFrame BUILD time, not Catalyst —
    # measured by splitting qe phases: build 1.26 s vs analyze+optimize+
    # physical 0.12 s at sf0.1. Every intermediate Column costs a py4j round
    # trip AND an eager re-analysis of the growing plan, so the loops below
    # now emit ONE parsed SQL string per stage (selectExpr / F.expr): the
    # 30-struct banding explode is a single inline() call, the 32 CW
    # aggregates are one parse each (the minhash_signature kernel stage),
    # and the 4-row config frame is one stack() literal. Build time
    # measured 1.65 s -> 0.50 s warm; the parsed trees are term-for-term
    # the Column forms.
    docs = shingle_sets(_corpus_with_near_dups(spark, sf_dir))
    sig = minhash_signature(docs).transform(op_cache)

    # Optimization r16 (guide §2.4 + §3.3 plan-size note): the first draft
    # looped the four (bands, rows) configs into four separate
    # explode -> self-join -> distinct -> agg branches, so the analyzed
    # plan embedded the signature subtree EIGHT times (both join sides ×
    # 4 configs). All four bandings explode from the cached signature ONCE
    # into a single (bands, rows, band, bucket)-keyed relation — the same
    # 16+8+4+2 = 30 rows per document in total — so there is ONE candidate
    # self-join, ONE distinct, ONE groupBy for all configs, and the
    # signature subtree appears twice, not eight times. Per-config pair
    # counts are identical: the config columns are part of the block key,
    # so pairs never cross configurations.
    structs = ", ".join(
        f"named_struct('bands', {b}, 'rows_per_band', {r}, 'band', {j}, "
        f"'bucket', {_minhash_band_bucket('h', j, r)})"
        for b, r in _TUNE_CONFIGS
        for j in range(b)
    )
    banded = sig.selectExpr("doc_id", f"inline(array({structs}))")
    counts = (
        bounded_self_join(
            banded, ["bands", "rows_per_band", "band", "bucket"], "doc_id",
            sf_dir, "documents", gate=ARRAY_TABLE_BYTES,
            carry=["bands", "rows_per_band"],
        )
        .select("bands", "rows_per_band", "id1", "id2")
        .distinct()
        .groupBy("bands", "rows_per_band")
        .agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
    )
    # Every config emits a row even with zero candidates (the per-config
    # global agg of the unfused form always returned one row; a fused
    # groupBy would drop empty groups — the empty-corpus contract): left
    # join the counts onto the 4-row config relation. threshold_50 stays a
    # PYTHON-computed literal per config (CPython libm pow), never a
    # per-row JVM Math.pow — the two can differ in the last ulp, and the
    # 6-dp portable rounding must keep producing bit-identical values to
    # the pre-fusion emission. repr() round-trips the double exactly, and
    # the D suffix keeps the SQL literal a DOUBLE (a bare decimal literal
    # parses as DECIMAL and would change the output type); the floor-based
    # 6-dp rounding stays in SQL, identical to pround.
    stack_args = ", ".join(
        f"{b}, {r}, floor({(1.0 / b) ** (1.0 / r)!r}D * 1000000 + 0.5) / 1000000"
        for b, r in _TUNE_CONFIGS
    )
    configs = spark.range(1).selectExpr(
        f"stack(4, {stack_args}) AS (bands, rows_per_band, threshold_50)"
    )
    return configs.join(
        F.broadcast(counts), ["bands", "rows_per_band"], "left"
    ).selectExpr(
        "bands",
        "rows_per_band",
        "threshold_50",
        "coalesce(n_candidate_pairs, 0L) AS n_candidate_pairs",
    )


@register(
    "text_collocation_pmi",
    oracle="""
WITH toks AS (
  SELECT t[i] AS w FROM
    (SELECT string_split(text, ' ') AS t FROM documents),
    unnest(generate_series(1, len(t))) g(i)
),
uni AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
n_uni AS (SELECT CAST(sum(c) AS DOUBLE) AS nu FROM uni),
big AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS c
  FROM (SELECT string_split(text, ' ') AS t FROM documents),
       unnest(generate_series(1, len(t) - 1)) g(i)
  GROUP BY t[i], t[i + 1]
),
n_big AS (SELECT CAST(sum(c) AS DOUBLE) AS nb FROM big),
scored AS (
  SELECT w1, w2, b.c AS n_pair,
         floor(ln((CAST(b.c AS DOUBLE) / nb)
                  / ((CAST(u1.c AS DOUBLE) / nu)
                     * (CAST(u2.c AS DOUBLE) / nu)))
               * 1000000 + 0.5) / 1000000 AS pmi
  FROM big b
  JOIN uni u1 ON b.w1 = u1.w
  JOIN uni u2 ON b.w2 = u2.w
  CROSS JOIN n_uni CROSS JOIN n_big
  WHERE b.c >= 5
)
SELECT w1, w2, n_pair, pmi
FROM (SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rn
      FROM scored)
WHERE rn <= 50
""",
)
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top-50 adjacent-token pairs by pointwise
    mutual information ln(p(ab)/(p(a)p(b))) with a ≥5 occurrence floor —
    the classic multiword-expression detector (Church & Hanks 1990) that
    feeds tokenizer-vocabulary and stop-phrase decisions. Bigrams come
    from zip_with (map-side); unigram marginals join on token (vocab-
    sized, partial-aggregated before the shuffle); the two corpus
    totals are single-row broadcasts. PMI is portable-6dp-rounded
    BEFORE ranking with a (w1, w2) tiebreak, so the top-50 cut is
    deterministic cross-engine (the Q2 argmin-stability rule)."""
    d = Tables(spark, sf_dir).documents
    toks = F.split("text", " ")
    uni = (
        d.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pair = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    big = (
        d.select(F.explode(pair).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 5)
    )
    n_uni = uni.agg(F.sum("c").cast("double").alias("nu"))
    n_big_all = (
        d.select(F.explode(pair).alias("p"))
        .agg(F.count(F.lit(1)).cast("double").alias("nb"))
    )
    pmi = F.log(
        (F.col("c").cast("double") / F.col("nb"))
        / (
            (F.col("u1c").cast("double") / F.col("nu"))
            * (F.col("u2c").cast("double") / F.col("nu"))
        )
    )
    scored = (
        big.join(
            uni.select(F.col("w").alias("w1"), F.col("c").alias("u1c")), "w1"
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c").alias("u2c")), "w2"
        )
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big_all))
        .select("w1", "w2", F.col("c").alias("n_pair"), pround(pmi).alias("pmi"))
    )
    w = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("w1", "w2", "n_pair", "pmi")
    )


_CHUNK_W = 20


@register(
    "text_chunk_dup_ratio",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET}, string_split(text, ' ')
  FROM documents WHERE doc_id % 2 = 0
),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(
           list_slice(toks, (i - 1) * {_CHUNK_W} + 1, i * {_CHUNK_W}), ' '
         )) AS chash
  FROM corpus,
       unnest(generate_series(
         1, CAST(ceil(len(toks) / {_CHUNK_W}.0) AS BIGINT))) g(i)
),
freq AS (
  SELECT chash, count(DISTINCT doc_id) AS ndocs FROM chunks GROUP BY chash
),
per_doc AS (
  SELECT c.doc_id,
         count(*) AS n_chunks,
         CAST(sum(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS dup_chunks
  FROM chunks c JOIN freq f ON c.chash = f.chash
  GROUP BY c.doc_id
)
SELECT doc_id, n_chunks, dup_chunks,
       floor(CAST(dup_chunks AS DOUBLE) / n_chunks * 1000000 + 0.5)
         / 1000000 AS dup_ratio,
       CAST(CASE WHEN CAST(dup_chunks AS DOUBLE) / n_chunks >= 0.5
                 THEN 1 ELSE 0 END AS INT) AS is_mostly_duplicate
FROM per_doc
""",
)
def text_chunk_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity inter-document duplication (the MassiveText /
    Gopher "duplicate content fraction" filter, Rae 2021 §A1.2): split
    each doc into non-overlapping {W}-token chunks, hash each chunk, and
    score every doc by the fraction of its chunks that also appear in
    ANOTHER doc — catching partial-copy docs that document-level exact
    dedup misses and near-dup shingling prices quadratically. Exact
    copies of even-id docs are injected (the _corpus_with_exact_dups
    idiom) so recall is verifiable: injected copies score 1.0. Chunks
    shuffle as md5 hashes (never text); the chunk-frequency relation is
    hash-keyed and partial-aggregable — two shuffles total at any
    corpus size.""".replace("{W}", str(_CHUNK_W))
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"), "text"
    )
    corpus = d.unionByName(dups).withColumn("toks", F.split("text", " "))
    chunk_arr = F.expr(
        f"""transform(
              sequence(1, cast(ceil(size(toks) / {_CHUNK_W}.0) as bigint)),
              i -> md5(concat_ws(' ',
                     slice(toks, (i - 1) * {_CHUNK_W} + 1, {_CHUNK_W})))
            )"""
    )
    # chunks feeds both the frequency aggregate and the per-doc join.
    # Deliberately NOT cached: the relation is corpus-linear, and the 10x
    # sweep measured caching SLOWER (2.5 s vs 1.8 s) — materialization
    # costs more than re-running the cheap columnar scan+hash, and pinning
    # a corpus-sized relation is the wrong memory posture at lake scale.
    chunks = corpus.select(
        "doc_id", F.explode(chunk_arr).alias("chash")
    )
    freq = chunks.groupBy("chash").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    per_doc = (
        chunks.join(freq, "chash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("ndocs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("dup_chunks"),
        )
    )
    ratio = F.col("dup_chunks").cast("double") / F.col("n_chunks")
    return per_doc.select(
        "doc_id",
        "n_chunks",
        "dup_chunks",
        pround(ratio).alias("dup_ratio"),
        F.when(ratio >= 0.5, 1).otherwise(0).cast("int").alias(
            "is_mostly_duplicate"
        ),
    )


@register(
    "scan_parquet_schema_merge",
    oracle="""
SELECT 'v1' AS src, count(*) AS n,
       CAST(count(*) AS BIGINT) AS n_null_acctbal,
       CAST(NULL AS DOUBLE) AS acctbal_sum
FROM customer WHERE c_custkey % 2 = 0
UNION ALL
-- v2 null count is the SOURCE's own null acctbals (not a pinned 0): the
-- evolved file carries the column, nullable like any other
SELECT 'v2', count(*), CAST(count(*) - count(c_acctbal) AS BIGINT),
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(38, 2))), 2) AS DOUBLE)
FROM customer WHERE c_custkey % 2 = 1
""",
)
def scan_parquet_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution lake read: a v1 writer emitted (custkey, name)
    and a v2 writer later added acctbal — written to src=v1/ and src=v2/
    under one root. One mergeSchema parquet read reconstructs the union
    schema (src resolves as a partition column from the directory
    names); v1 rows surface NULL acctbal, exactly as a schema-evolved
    lake should, and the aggregate proves both the merged schema and the
    per-version null semantics. The acctbal sum runs in DECIMAL so the
    v2 checksum is order-independent. Complements schema_evolve (which
    evolves the DataFrame); this evolves the FILES."""
    c = Tables(spark, sf_dir).customer
    root = op_tmpdir("schema_merge_")
    v1 = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name")
    v2 = c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    v1.write.mode("overwrite").parquet(f"{root}/src=v1")
    v2.write.mode("overwrite").parquet(f"{root}/src=v2")
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return merged.groupBy("src").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("c_acctbal").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_acctbal"),
        F.round(
            F.sum(F.col("c_acctbal").cast("decimal(38,2)")), 2
        )
        .cast("double")
        .alias("acctbal_sum"),
    )


@register(
    "sink_parquet_codecs",
    oracle="""
SELECT 'gzip' AS codec, count(*) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM orders
UNION ALL
SELECT 'snappy', count(*), CAST(sum(o_orderkey) AS BIGINT) FROM orders
UNION ALL
SELECT 'zstd', count(*), CAST(sum(o_orderkey) AS BIGINT) FROM orders
""",
)
def sink_parquet_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet compression-codec round-trip: the same relation written
    under snappy (the splittable default), gzip (cold storage), and zstd
    (the modern ratio/speed frontier — the lake default at 100 TB), each
    re-read and checksummed. Proves codec interop end to end; codec
    choice is a table-level storage policy an ingestion engine must
    support per sink."""
    o = Tables(spark, sf_dir).orders.select("o_orderkey", "o_orderstatus")
    out = None
    for codec in ["gzip", "snappy", "zstd"]:
        path = op_tmpdir(f"sink_codec_{codec}_")
        o.write.mode("overwrite").option("compression", codec).parquet(path)
        back = (
            spark.read.schema("o_orderkey bigint, o_orderstatus string")
            .parquet(path)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            )
            .select(F.lit(codec).alias("codec"), "n", "key_sum")
        )
        out = back if out is None else out.unionByName(back)
    return out


# ===========================================================================
# wave module round5k (formerly operators/round5k.py)
# Round-5 eleventh wave (SURVEY.md §2.Q, continued): a watermark-
# tuning late-arrival audit over injected event-time disorder, the
# end-to-end dedup REMOVAL PLAN composing exact / near / chunk dedup with
# priority semantics, JSONL schema inference, and numeric RANGE window
# frames.
# ===========================================================================

_ARRIVAL_BUCKET = 1000  # events per arrival bucket (event_id DIV 1000)


@register(
    "events_late_arrival_audit",
    oracle=f"""
WITH feed AS (
  -- injected disorder: every 37th event's event-time shifts back by
  -- 1..7 minutes while its ARRIVAL position (event_id) stays put
  SELECT event_id, event_type,
         CASE WHEN event_id % 37 = 0
              THEN ts - to_minutes(CAST(event_id % 7 + 1 AS BIGINT))
              ELSE ts END AS ts,
         event_id // {_ARRIVAL_BUCKET} AS bkt
  FROM events
),
bucket_max AS (
  SELECT event_type, bkt, max(ts) AS bmax
  FROM feed GROUP BY event_type, bkt
),
wm AS (
  SELECT event_type, bkt,
         max(bmax) OVER (PARTITION BY event_type ORDER BY bkt
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS watermark
  FROM bucket_max
),
scored AS (
  SELECT f.event_type,
         CASE
           WHEN w.watermark IS NULL OR f.ts >= w.watermark THEN 'on_time'
           WHEN epoch_us(w.watermark) - epoch_us(f.ts) <= 60000000
             THEN 'late_1m'
           WHEN epoch_us(w.watermark) - epoch_us(f.ts) <= 300000000
             THEN 'late_5m'
           ELSE 'late_over_5m'
         END AS lateness_band
  FROM feed f JOIN wm w
    ON f.event_type = w.event_type AND f.bkt = w.bkt
)
SELECT event_type, lateness_band, count(*) AS n
FROM scored GROUP BY event_type, lateness_band
""",
)
def events_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-tuning audit: how late do events actually arrive? Event
    time is compared against the per-type watermark carried into each
    ARRIVAL bucket (1000-event ingestion batches by event_id — arrival
    order), and lateness is banded on_time / ≤1 min / ≤5 min / >5 min —
    exactly the histogram that justifies a `withWatermark` delay choice
    for stream_watermark_late. The corpus arrives perfectly ordered
    (measured: zero late events), so disorder is deterministically
    injected: every 37th event's event-time shifts back 1-7 minutes
    while its arrival position stays put. Scale shape: the watermark is
    a running max over the BUCKETS-sized aggregate (never an
    events-sized ordered window), joined back by (type, bucket)."""
    e = Tables(spark, sf_dir).events
    shifted = F.when(
        F.col("event_id") % 37 == 0,
        F.col("ts")
        - F.make_interval(mins=(F.col("event_id") % 7 + 1).cast("int")),
    ).otherwise(F.col("ts"))
    feed = e.select(
        "event_id",
        "event_type",
        shifted.alias("ts"),
        (F.col("event_id") / _ARRIVAL_BUCKET).cast("bigint").alias("bkt"),
    )
    bucket_max = feed.groupBy("event_type", "bkt").agg(
        F.max("ts").alias("bmax")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wm = bucket_max.select(
        "event_type", "bkt", F.max("bmax").over(w).alias("watermark")
    )
    joined = feed.join(F.broadcast(wm), ["event_type", "bkt"])
    late_us = F.unix_micros(F.col("watermark").cast("timestamp")) - F.unix_micros(
        F.col("ts").cast("timestamp")
    )
    band = (
        F.when(
            F.col("watermark").isNull() | (F.col("ts") >= F.col("watermark")),
            "on_time",
        )
        .when(late_us <= 60_000_000, "late_1m")
        .when(late_us <= 300_000_000, "late_5m")
        .otherwise("late_over_5m")
    )
    return joined.groupBy(
        "event_type", band.alias("lateness_band")
    ).agg(F.count(F.lit(1)).alias("n"))


_EXACT_OFFSET = 1_000_000
_NEAR_OFFSET = 2_000_000


_REMOVAL_CORPUS_SQL = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_EXACT_OFFSET}, text FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + {_NEAR_OFFSET},
         array_to_string(list_slice(string_split(text, ' '), 1,
           len(string_split(text, ' ')) - 1), ' ')
  FROM documents WHERE doc_id % 5 = 0
)
"""


@register(
    "dedup_removal_plan",
    oracle="WITH "
    + _REMOVAL_CORPUS_SQL
    + f""",
exact_removed AS (
  SELECT doc_id, 'exact' AS reason FROM (
    SELECT doc_id,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM corpus)
  WHERE rn > 1
),
toksed AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
shingled AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - {SHINGLE_K - 2}, 2)),
           i -> array_to_string(list_slice(toks, i, i + {SHINGLE_K - 1}), ' ')
         )) AS shingles
  FROM toksed
),
sp AS (SELECT doc_id, {_duck_h("shingle")} % {_MERSENNE_P} AS hm
       FROM (SELECT doc_id, unnest(shingles) AS shingle FROM shingled)),
sig AS MATERIALIZED (
  SELECT doc_id,
         {", ".join("min((%d * hm + %d) %% %d) AS h%d" % (_CW_A[i], _CW_B[i], _MERSENNE_P, i) for i in range(N_HASHES))}
  FROM sp GROUP BY doc_id
),
banded AS (
  {" UNION ALL ".join("SELECT doc_id, %d AS band, %s AS bucket FROM sig" % (b, _minhash_band_bucket("h", b)) for b in range(N_BANDS))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
near_pairs AS (
  SELECT id1, id2 FROM cand
  JOIN shingled s1 ON s1.doc_id = id1
  JOIN shingled s2 ON s2.doc_id = id2
  WHERE CAST(len(list_filter(s1.shingles, s -> list_contains(s2.shingles, s)))
             AS DOUBLE) /
        (len(s1.shingles) + len(s2.shingles)
         - len(list_filter(s1.shingles, s -> list_contains(s2.shingles, s))))
          >= 0.6
),
near_removed AS (
  SELECT DISTINCT id2 AS doc_id, 'near' AS reason FROM near_pairs
),
decisions AS (
  SELECT doc_id, reason, 1 AS prio FROM exact_removed
  UNION ALL
  SELECT doc_id, reason, 2 FROM near_removed
)
SELECT doc_id, reason FROM (
  SELECT doc_id, reason,
         row_number() OVER (PARTITION BY doc_id ORDER BY prio) AS rn
  FROM decisions)
WHERE rn = 1
""",
)
def dedup_removal_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup REMOVAL PLAN — the artifact a training-data
    pipeline actually ships: one (doc_id, reason) work-list composing
    byte-exact dedup (md5 groups, keep the smallest id) and MinHash
    near-dup dedup (LSH candidates → Jaccard ≥ 0.6 verify → remove the
    larger id of each pair), with priority semantics: a doc caught by
    both is attributed to the CHEAPER stage that would have removed it
    first (exact > near), mirroring how staged dedup short-circuits at
    scale. The corpus carries BOTH injection idioms (exact copies of
    even ids at +1e6, last-token-dropped near copies of %5 ids at +2e6)
    so each stage's recall is independently verifiable. Every stage is
    the proven scale shape: hash groupBy for exact, banded signature
    equality join for near — text never shuffles past the shingle
    explode."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    toks = F.split("text", " ")
    corpus = (
        d.unionByName(
            d.filter(F.col("doc_id") % 2 == 0).select(
                (F.col("doc_id") + _EXACT_OFFSET).alias("doc_id"), "text"
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + _NEAR_OFFSET).alias("doc_id"),
                F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ").alias(
                    "text"
                ),
            )
        )
    )
    # stage 1: byte-exact — hash groupBy, keep min id per group
    w_exact = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    exact_removed = (
        corpus.withColumn("rn", F.row_number().over(w_exact))
        .filter(F.col("rn") > 1)
        .select("doc_id", F.lit("exact").alias("reason"), F.lit(1).alias("prio"))
    )
    # stage 2: MinHash LSH near-dup — remove the larger id of each pair.
    # The kernel's op_cached shingle relation feeds the signature build AND
    # both verify sides of the candidate join, so the explode+dedup of
    # shingles runs once, not 3x.
    docs = shingle_sets(corpus)
    cand = minhash_candidates(minhash_signature(docs), sf_dir)
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = F.size(F.array_union("sh1", "sh2")).cast("double")
    # merge gate at 1 MiB (not the 64 MiB join default): shingle-ARRAY
    # relations expand ~100x from the compressed text bytes, and the
    # broadcast OOM measured at the sfx1.0 sweep happened at just 5.3 MB
    # of documents parquet. Sort-merge spills where both broadcast and
    # shuffled-hash builds cannot.
    near_removed = (
        shingle_pair_sides(cand, docs, sf_dir, hint=hint_merge_if_large)
        .filter(inter / union >= 0.6)
        .select(F.col("id2").alias("doc_id"))
        .distinct()
        .select("doc_id", F.lit("near").alias("reason"), F.lit(2).alias("prio"))
    )
    decisions = exact_removed.unionByName(near_removed)
    w_prio = Window.partitionBy("doc_id").orderBy("prio")
    return (
        decisions.withColumn("rn", F.row_number().over(w_prio))
        .filter(F.col("rn") == 1)
        .select("doc_id", "reason")
    )


@register(
    "scan_json_schema_infer",
    oracle="""
SELECT 'o_orderdate' AS col_name, 'timestamp' AS inferred_type
UNION ALL SELECT 'o_orderkey', 'bigint'
UNION ALL SELECT 'o_orderpriority', 'string'
UNION ALL SELECT 'o_totalprice', 'double'
""",
)
def scan_json_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read inference for JSONL: a typed slice of orders is
    exported to JSON lines and re-read WITHOUT a declared schema — the
    reader must sample the files and infer (bigint, double, string,
    timestamp). The emitted relation is the inferred schema itself, so
    the oracle pins exactly what inference must produce; a regression
    to string-everything (the classic inference failure) or a type
    widening change breaks the hash. Inference is a sampling scan —
    the one scan an ingestion engine pays once per discovery, never per
    query."""
    o = Tables(spark, sf_dir).orders.select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderdate"
    )
    out = op_tmpdir("scan_json_infer_")
    o.write.mode("overwrite").json(out)
    inferred = spark.read.option(
        "inferTimestamp", "true"
    ).json(out)
    rows = sorted(
        (f.name, f.dataType.simpleString()) for f in inferred.schema.fields
    )
    return spark.createDataFrame(
        rows, "col_name string, inferred_type string"
    )


@register(
    "win_range_numeric_frame",
    oracle="""
SELECT c_mktsegment, c_custkey, c_acctbal,
       CAST(count(*) OVER (
         PARTITION BY c_mktsegment ORDER BY c_acctbal
         RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_within_500_below,
       CAST(count(*) OVER (
         PARTITION BY c_mktsegment ORDER BY c_acctbal
         RANGE BETWEEN 250 PRECEDING AND 250 FOLLOWING) AS BIGINT)
         AS n_within_250_band
FROM customer
""",
)
def win_range_numeric_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric RANGE window frames (§2.E completion): peer-density
    queries — for each customer, how many same-segment customers sit
    within a VALUE band of their balance (not a row count, not a time
    interval) — the frame type behind local-density scoring and
    percentile-free outlier screens. RANGE frames are tie-deterministic
    (peer rows share a frame), so no unique tie-break column is needed
    for cross-engine parity, unlike every ROWS frame in §2.E."""
    c = Tables(spark, sf_dir).customer
    w1 = (
        Window.partitionBy("c_mktsegment")
        .orderBy("c_acctbal")
        .rangeBetween(-500, Window.currentRow)
    )
    w2 = (
        Window.partitionBy("c_mktsegment")
        .orderBy("c_acctbal")
        .rangeBetween(-250, 250)
    )
    return c.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.count(F.lit(1)).over(w1).cast("bigint").alias("n_within_500_below"),
        F.count(F.lit(1)).over(w2).cast("bigint").alias("n_within_250_band"),
    )


# ===========================================================================
# wave module round5l (formerly operators/round5l.py)
# Round-5 twelfth wave (SURVEY.md §2.Q, continued): session bounce
# rate, embedding label-confusion matrix, per-brand Pareto coverage
# depth, and IANA timezone conversion parity.
# ===========================================================================

@register(
    "events_sessions_bounce_rate",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  -- an event with no timestamp cannot be sessionized onto a day
  FROM events WHERE ts IS NOT NULL
),
sess AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM seq
),
per_session AS (
  SELECT user_id, session_id, count(*) AS n_events,
         date_trunc('day', min(ts)) AS day
  FROM sess GROUP BY user_id, session_id
)
SELECT day,
       count(*) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       floor(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1000000 + 0.5) / 1000000 AS bounce_rate
FROM per_session GROUP BY day
""",
)
def events_sessions_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of 30-minute-gap sessions containing
    exactly one event, attributed to the day the session started — the
    engagement-quality headline next to events_dau_mau's volume view.
    Same single user-partitioned shuffle as events_sessionize_batch;
    the daily rollup is days-sized."""
    e = Tables(spark, sf_dir).events.where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    prev = F.lag("ts").over(w)
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        prev.cast("timestamp")
    )
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(prev.isNull() | (gap_us > 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = seq.select(
        "user_id", "ts", F.sum("is_new").over(cum).alias("session_id")
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_trunc("day", F.min("ts")).alias("day"),
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return per_session.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounces.cast("bigint").alias("n_bounces"),
        pround(bounces.cast("double") / F.count(F.lit(1))).alias(
            "bounce_rate"
        ),
    )


@register(
    "embed_label_confusion",
    oracle="""
WITH cent AS (
  SELECT label, list(c ORDER BY dim) AS cvec FROM (
    SELECT label, i AS dim, round(avg(x), 6) AS c FROM (
      SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ) GROUP BY label, i
  ) GROUP BY label
),
dists AS (
  SELECT e.vec_id, e.label AS true_label, c.label AS other_label,
         floor(list_sum(list_transform(e.embedding,
                 (x, i) -> (CAST(x AS DOUBLE) - c.cvec[i])
                           * (CAST(x AS DOUBLE) - c.cvec[i])))
               * 1000000 + 0.5) / 1000000 AS d2
  FROM embeddings e JOIN cent c ON e.label <> c.label
  WHERE e.embedding IS NOT NULL
    AND len(list_filter(e.embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
),
nearest AS (
  SELECT vec_id, true_label, other_label,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY d2, other_label) AS rn
  FROM dists
)
SELECT true_label, other_label AS nearest_other_label, count(*) AS n
FROM nearest WHERE rn = 1
GROUP BY true_label, other_label
""",
)
def embed_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-confusion matrix for the embedding space: each vector is
    assigned the nearest OTHER label's centroid, and the (true label →
    nearest other label) counts expose which classes blur together —
    the prototype-based confusability screen run before spending on a
    classifier. Centroids are rounded to 6dp on BOTH sides before any
    distance (the rounded-before-compare rule), distances are
    left-to-right folds (Spark aggregate ≡ DuckDB list_sum — the
    similarity.py float discipline) rounded before the argmin with an
    other-label tiebreak. Scale shape: the labels-sized centroid
    relation broadcasts; distances are map-side n×(k−1); output is
    bounded by labels² at any corpus size. Runs over VALID vectors only
    (nan-tier contract, mirrored twice in the oracle — centroid build and
    scoring): one NaN component poisons a centroid AND makes the argmin
    rank NaN distances differently across engines."""
    from ai_dataingestion_spark.functions.portable import finite_vec

    e = Tables(spark, sf_dir).embeddings.where(finite_vec("embedding"))
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s.getField("c"),
            ).alias("cvec")
        )
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("cvec"),
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    dists = (
        e.crossJoin(
            F.broadcast(
                cent.select(
                    F.col("label").alias("other_label"), "cvec"
                )
            )
        )
        .filter(F.col("label") != F.col("other_label"))
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            "other_label",
            pround(d2).alias("d2"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "other_label")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("true_label", F.col("other_label").alias("nearest_other_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "brand_pareto_coverage",
    oracle="""
WITH rev AS (
  SELECT p_brand, l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(38, 2))) AS r
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, l_partkey
),
ranked AS (
  SELECT p_brand, l_partkey, r,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY r DESC, l_partkey) AS rn,
         sum(r) OVER (PARTITION BY p_brand
                      ORDER BY r DESC, l_partkey
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(r) OVER (PARTITION BY p_brand) AS tot
  FROM rev
)
SELECT p_brand,
       count(*) AS n_parts,
       CAST(min(CASE WHEN cum * 5 >= tot * 4 THEN rn END) AS BIGINT)
         AS parts_to_80pct,
       floor(CAST(max(CASE WHEN rn = 1 THEN r END) AS DOUBLE)
             / CAST(max(tot) AS DOUBLE) * 1000000 + 0.5) / 1000000
         AS top_part_share
FROM ranked GROUP BY p_brand
""",
)
def brand_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto depth: how many parts cover 80% of each brand's
    revenue, plus the top part's share — the grouped twin of the global
    lineitem_abc_pareto, answering "is this brand's demand concentrated
    or long-tail?" per brand. Revenue accumulates in DECIMAL, and the
    80% cut is the EXACT integer-free comparison cum·5 ≥ tot·4 — no
    decimal division crosses engines (division scale rules differ);
    the only double division (top share) is portable-6dp-rounded.
    Brand-partitioned windows over the (brand, part)-sized aggregate."""
    t = Tables(spark, sf_dir)
    rev = (
        t.lineitem.join(
            broadcast_if_small(t.part.select("p_partkey", "p_brand"), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).alias("r")
        )
    )
    ws = Window.partitionBy("p_brand").orderBy(F.desc("r"), F.asc("l_partkey"))
    ranked = rev.select(
        "p_brand",
        "l_partkey",
        "r",
        F.row_number().over(ws).alias("rn"),
        F.sum("r")
        .over(ws.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("r").over(Window.partitionBy("p_brand")).alias("tot"),
    )
    return ranked.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min(
            F.when(F.col("cum") * 5 >= F.col("tot") * 4, F.col("rn"))
        )
        .cast("bigint")
        .alias("parts_to_80pct"),
        pround(
            F.max(F.when(F.col("rn") == 1, F.col("r")))
            .cast("double")
            / F.max("tot").cast("double")
        ).alias("top_part_share"),
    )


_TZ_ZONES = ["America/New_York", "Asia/Tokyo", "Europe/Berlin"]


@register(
    "fn_timezone_convert",
    oracle="""
WITH zoned AS (
  {}
)
SELECT zone, local_hour, count(*) AS n
FROM zoned GROUP BY zone, local_hour
""".format(
        "\n  UNION ALL\n  ".join(
            f"SELECT '{z}' AS zone, "
            f"hour((ts AT TIME ZONE 'UTC') AT TIME ZONE '{z}') AS local_hour "
            f"FROM events"
            for z in _TZ_ZONES
        )
    ),
)
def fn_timezone_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IANA timezone conversion parity (§2.H family completion): UTC
    event times rendered into three zones' local wall clocks, counted
    per local hour — the localization step every global analytics
    rollup needs, pinned so both engines agree on tzdata semantics
    (offset application, not just formatting). Spark from_utc_timestamp
    ≡ DuckDB (ts AT TIME ZONE 'UTC') AT TIME ZONE zone. Pure
    expressions before a 3×24-row aggregate."""
    e = Tables(spark, sf_dir).events
    out = None
    for z in _TZ_ZONES:
        part = e.select(
            F.lit(z).alias("zone"),
            F.hour(
                F.from_utc_timestamp(F.col("ts").cast("timestamp"), z)
            ).alias("local_hour"),
        )
        out = part if out is None else out.unionByName(part)
    return out.groupBy("zone", "local_hour").agg(
        F.count(F.lit(1)).alias("n")
    )


# ===========================================================================
# wave module round5m (formerly operators/round5m.py)
# Round-5 thirteenth wave (SURVEY.md §2.Q, continued): linear-
# interpolation gap fill (the two-sided sibling of LOCF), supplier
# market-concentration HHI, binary-payload exact dedup over the
# multimodal column, and winsorized robust statistics.
# ===========================================================================

@register(
    "events_gap_fill_linear",
    oracle=f"""
WITH daily AS (
  -- finite gate (nan-tier contract): one NaN day total would ramp NaN
  -- into every interpolated neighbor, and floor-rounded NaN arithmetic
  -- diverges between the engines
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         {stable_rounded_sum_sql("value", 6)} AS day_value
  FROM events WHERE user_id % 50 = 0
    AND (value IS NULL OR isfinite(value))
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
         last_value(d.day_value IGNORE NULLS) OVER (
           PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN d.day_value IS NOT NULL THEN c.day END
                    IGNORE NULLS) OVER (
           PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         first_value(d.day_value IGNORE NULLS) OVER (
           PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN d.day_value IS NOT NULL THEN c.day END
                     IGNORE NULLS) OVER (
           PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM calendar c LEFT JOIN daily d USING (user_id, day)
)
SELECT user_id, day,
       CASE
         WHEN day_value IS NOT NULL THEN day_value
         WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
           floor((pv + (nv - pv) * (CAST(day - pd AS DOUBLE)
                                    / CAST(nd - pd AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000
         WHEN pv IS NOT NULL THEN pv
         ELSE nv
       END AS filled_value,
       CAST(day_value IS NULL AS BOOLEAN) AS was_gap
FROM joined
""",
)
def events_gap_fill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification with LINEAR interpolation — the two-sided
    sibling of events_gap_fill_locf for series where a gap should ramp
    between its endpoints (sensor readings, balances) instead of
    holding flat: filled = prev + (next − prev) · elapsed/gap_span,
    with one-sided gaps extended from the available endpoint. Four
    ignore-nulls windows over the SAME user-partitioned ordering — one
    shuffle serves them all; the calendar explode is bounded by each
    user's own span. The interpolation formula is written with
    identical operation order in both engines and portable-6dp-rounded
    (observed values pass through un-re-rounded)."""
    from ai_dataingestion_spark.functions.portable import finite

    t = Tables(spark, sf_dir)
    daily = (
        t.events.filter((F.col("user_id") % 50 == 0) & finite("value"))
        .groupBy(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
        )
        # order-independent endpoints (portable.py:stable_rounded_sum): a
        # boundary flip in one day total would ramp into every
        # interpolated day between its neighbors
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
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward carry as a REVERSED running frame, not CURRENT..UNBOUNDED
    # FOLLOWING: Spark's unbounded-following frame re-scans the partition
    # tail per row (O(n²) — 186 s on the extremes tier's 83k-day calendar
    # span, measured round 10), while a running frame over the descending
    # order is a single O(n) pass. first(ignore nulls) at-or-after in
    # ascending order == last(ignore nulls) at-or-before in descending.
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_day = F.when(F.col("day_value").isNotNull(), F.col("day"))
    pv = F.last("day_value", ignorenulls=True).over(wb)
    pd_ = F.last(obs_day, ignorenulls=True).over(wb)
    nv = F.last("day_value", ignorenulls=True).over(wf)
    nd = F.last(obs_day, ignorenulls=True).over(wf)
    interp = pround(
        pv
        + (nv - pv)
        * (
            F.datediff(F.col("day"), pd_).cast("double")
            / F.datediff(nd, pd_).cast("double")
        )
    )
    filled = (
        F.when(F.col("day_value").isNotNull(), F.col("day_value"))
        .when(pv.isNotNull() & nv.isNotNull(), interp)
        .when(pv.isNotNull(), pv)
        .otherwise(nv)
    )
    # day crosses as timestamp_ntz (the events_gap_fill_locf rule: DuckDB
    # DATE lands in pandas as midnight datetime64, Spark DateType as
    # datetime.date — distinct to the driver canonicalizer)
    return joined.select(
        "user_id",
        F.col("day").cast("timestamp_ntz").alias("day"),
        filled.alias("filled_value"),
        F.col("day_value").isNull().alias("was_gap"),
    )


@register(
    "supplier_hhi_by_nation",
    oracle="""
WITH rev AS (
  SELECT n_name, l_suppkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38, 2)))
              AS DECIMAL(38, 2)) AS r
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name, l_suppkey
)
SELECT n_name,
       count(*) AS n_suppliers,
       floor(CAST(sum(r * r) AS DOUBLE)
             / CAST(CAST(sum(r) AS DECIMAL(38, 2))
                    * CAST(sum(r) AS DECIMAL(38, 2)) AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS hhi
FROM rev GROUP BY n_name
""",
)
def supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index per supplier
    nation: Σᵢ(rᵢ/T)² over each nation's suppliers — 1/n for perfectly
    split markets, →1 for monopoly; the antitrust-style twin of
    supplier_revenue_gini. Float discipline: revenues and BOTH
    quadratic forms (Σr², T²) accumulate in DECIMAL — exact, order-
    independent — so the only IEEE operation is one final division,
    portable-6dp-rounded. DECIMAL(38,2) is the portable width window:
    at 18 digits DuckDB multiplies in int64 and OVERFLOWS on real
    revenue totals (measured), while ≥19 digits are hugeint-backed;
    on the Spark side the declared (39,4) product narrows to the
    38-precision cap without touching these values' 24 significant
    digits. One big join keyed on suppkey, dims broadcast,
    nations-sized output."""
    t = Tables(spark, sf_dir)
    rev = (
        t.lineitem.join(
            broadcast_if_small(
                t.supplier.select("s_suppkey", "s_nationkey"), sf_dir, "supplier"
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t.nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,2)"))
            .cast("decimal(38,2)")
            .alias("r")
        )
    )
    tot = F.sum("r").cast("decimal(38,2)")
    return rev.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        pround(
            F.sum(F.col("r") * F.col("r")).cast("double")
            / (tot * tot).cast("double")
        ).alias("hhi"),
    )


_PAYLOAD_PREFIX = 64
_REPLAY_OFFSET = 5_000_000


@register(
    "multimodal_payload_dedup",
    oracle=f"""
WITH assets AS (
  SELECT doc_id, substring(text, 1, {_PAYLOAD_PREFIX}) AS payload_str
  FROM documents
  UNION ALL
  SELECT doc_id + {_REPLAY_OFFSET}, substring(text, 1, {_PAYLOAD_PREFIX})
  FROM documents WHERE doc_id % 11 = 0
)
SELECT md5(payload_str) AS payload_md5,
       count(*) AS n_copies,
       min(doc_id) AS first_id,
       max(doc_id) AS last_id,
       CAST(octet_length(encode(payload_str)) AS BIGINT) AS payload_bytes
FROM assets
GROUP BY payload_str
HAVING count(*) >= 2
""",
)
def multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the BINARY payload column — the asset-level
    twin of dedup_exact for image/audio blobs, where byte-identical
    payloads recur under different asset ids (re-uploads, replayed
    ingest batches). Payloads are the deterministic UTF-8 stub bytes
    (multimodal.py's documented codec posture); a replayed batch is
    injected (every 11th asset re-enters under a shifted id) so the
    detector provably catches it. Spark hashes the BINARY column
    directly — md5(bytes) ≡ DuckDB md5(varchar) on UTF-8 — and groups
    by the digest: payload bytes never shuffle, only 16-byte hashes
    do. The grouping key at scale is the digest of a multi-MB blob —
    the only workable equality key for binary assets."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    replays = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + _REPLAY_OFFSET).alias("doc_id"), "text"
    )
    assets = d.unionByName(replays).select(
        "doc_id",
        F.encode(F.substring("text", 1, _PAYLOAD_PREFIX), "UTF-8").alias(
            "payload"
        ),
    )
    return (
        assets.groupBy(F.md5("payload").alias("payload_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("first_id"),
            F.max("doc_id").alias("last_id"),
            F.max(F.octet_length("payload")).cast("bigint").alias(
                "payload_bytes"
            ),
        )
        .filter(F.col("n_copies") >= 2)
    )


@register(
    "events_value_winsorized_stats",
    oracle="""
WITH cuts AS (
  -- DISC percentiles: the cuts must be actual data values, not
  -- interpolations — at sfx1.0 the interpolated cut lands INSIDE a tie
  -- run and the engines' last-ulp interpolation differences flip the
  -- hard value<p05 comparison for the whole tie group (measured: a
  -- 50-row n_clamped drift). percentile_disc/quantile_disc agree
  -- bit-exactly cross-engine (win_percentile_disc_vs_cont).
  SELECT event_type,
         CAST(quantile_disc(value, 0.05) AS DOUBLE) AS p05,
         CAST(quantile_disc(value, 0.95) AS DOUBLE) AS p95
  FROM events
  WHERE (value IS NULL OR isfinite(value))
  GROUP BY event_type
)
SELECT e.event_type,
       count(*) AS n,
       floor(CAST(sum(CAST(e.value AS DECIMAL(38, 6))) AS DOUBLE)
             / count(*) * 1000000 + 0.5) / 1000000 AS mean_raw,
       floor(CAST(sum(CAST(least(greatest(e.value, c.p05), c.p95)
                           AS DECIMAL(38, 6))) AS DOUBLE)
             / count(*) * 1000000 + 0.5) / 1000000 AS mean_winsorized,
       CAST(sum(CASE WHEN e.value < c.p05 OR e.value > c.p95
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
FROM events e JOIN cuts c ON e.event_type = c.event_type
WHERE (e.value IS NULL OR isfinite(e.value))
GROUP BY e.event_type
""",
)
def events_value_winsorized_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winsorized mean per event type: values clamped to [p05, p95]
    (DISC percentiles — actual data values, so the clamp boundary is
    tie-stable cross-engine at any scale) before averaging — the robust-stats answer to 'one whale event
    wrecked the average' that a trimmed count can't give (n is
    preserved). The corpus value column carries exactly 2 decimals, so
    the DECIMAL(38,6) accumulation is EXACT (order-independent) and
    each mean is one portable-rounded IEEE division; the percentile
    cut relation is types-sized and broadcasts back. Two aggregate
    passes over events, no window. Gated to the FINITE domain (nan-tier
    contract, mirrored in the oracle): winsorization exists to clamp
    whales, but clamping NaN is undefined (least/greatest NaN ordering
    diverges cross-engine) and ±Inf breaks the exact DECIMAL sums —
    non-finite rows are quarantined, not clamped."""
    from ai_dataingestion_spark.functions.portable import finite

    e = Tables(spark, sf_dir).events.where(finite("value"))
    cuts = e.groupBy("event_type").agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY value)").alias(
            "p05"
        ),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").alias(
            "p95"
        ),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    n = F.count(F.lit(1))
    return (
        e.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            n.alias("n"),
            pround(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double") / n
            ).alias("mean_raw"),
            pround(
                F.sum(clamped.cast("decimal(38,6)")).cast("double") / n
            ).alias("mean_winsorized"),
            F.sum(
                F.when(
                    (F.col("value") < F.col("p05"))
                    | (F.col("value") > F.col("p95")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clamped"),
        )
    )


# ===========================================================================
# wave module round5n (formerly operators/round5n.py)
# Round-5 fourteenth wave (SURVEY.md §2.Q, continued): Arrow-optimized
# Python UDF surface, write-mode semantics matrix, the NOT IN + NULL
# three-valued-logic trap pinned, and a data-contract rule check.
# ===========================================================================

@register(
    "udf_python_arrow",
    oracle="""
SELECT o_orderkey,
       lower(replace(o_orderpriority, '-', '_')) AS priority_slug
FROM orders
""",
)
def udf_python_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (`useArrow=True`, Spark 3.5+): same
    row-wise signature as the classic pickled UDF but the executor⇄Python
    transfer is Arrow-batched — the migration path for legacy UDF code
    that can't be vectorized yet (§2.J surface completion next to
    udf_python / udf_pandas_scalar). The logic (priority slugging) is
    deliberately trivial; what's under test is the Arrow serialization
    round-trip of the modern UDF flavor."""

    @F.udf(StringType(), useArrow=True)
    def slug(p: str) -> str:
        if p is None:  # replace(NULL, ...) is NULL in the oracle
            return None
        return p.replace("-", "_").lower()

    o = Tables(spark, sf_dir).orders
    return o.select("o_orderkey", slug("o_orderpriority").alias("priority_slug"))


@register(
    "sink_write_modes",
    oracle="""
WITH n AS (SELECT count(*) AS c FROM orders WHERE o_orderkey % 10 = 0)
SELECT 'overwrite' AS step, c AS rows_after FROM n
UNION ALL SELECT 'append', 2 * c FROM n
UNION ALL SELECT 'ignore', 2 * c FROM n
UNION ALL SELECT 'error_caught', 1
""",
)
def sink_write_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-mode semantics matrix against one parquet target: overwrite
    establishes n rows, append doubles them, ignore against the existing
    target is a silent no-op (still 2n), and errorifexists raises — the
    four-mode contract every idempotent-ingestion design builds on
    (re-run safety = ignore or overwrite; at-least-once landing =
    append + downstream dedup). Each step re-reads and counts the
    target; the raised error is caught and reported as its own row."""
    o = Tables(spark, sf_dir).orders.filter(F.col("o_orderkey") % 10 == 0)
    target = op_tmpdir("sink_modes_")
    schema = "o_orderkey bigint, o_orderstatus string"
    slim = o.select("o_orderkey", "o_orderstatus")

    def count_target() -> int:
        return spark.read.schema(schema).parquet(target).count()

    rows = []
    slim.write.mode("overwrite").parquet(target)
    rows.append(("overwrite", count_target()))
    slim.write.mode("append").parquet(target)
    rows.append(("append", count_target()))
    slim.write.mode("ignore").parquet(target)
    rows.append(("ignore", count_target()))
    try:
        slim.write.mode("errorifexists").parquet(target)
        rows.append(("error_caught", 0))
    except Exception:
        rows.append(("error_caught", 1))
    return spark.createDataFrame(rows, "step string, rows_after bigint")


@register(
    "subquery_not_in_null_trap",
    oracle="""
WITH keys AS (
  SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_custkey END AS k
  FROM customer
)
SELECT
  (SELECT count(*) FROM orders WHERE o_custkey IN (SELECT k FROM keys))
    AS n_in,
  (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT k FROM keys))
    AS n_not_in,
  (SELECT count(*) FROM orders o
   WHERE NOT EXISTS (SELECT 1 FROM keys WHERE k = o.o_custkey))
    AS n_not_exists,
  (SELECT count(*) FROM orders) AS n_total
""",
)
def subquery_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN + NULL three-valued-logic trap, pinned as executable
    documentation: when the subquery list contains a single NULL,
    `x NOT IN (...)` is never TRUE (x <> NULL is UNKNOWN), so n_not_in
    collapses to 0 while the NOT EXISTS spelling counts real
    non-members — the most common silent-wrong-answer rewrite in
    analytics SQL. Both engines must agree on all four counts
    (membership, the collapsed NOT IN, the anti-join truth, total).
    Spark plans the NOT IN as a null-aware anti join — same SQL text on
    both sides via the registered-view entry point (§3.2 EP2)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
WITH keys AS (
  SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_custkey END AS k
  FROM customer
)
SELECT
  (SELECT count(*) FROM orders WHERE o_custkey IN (SELECT k FROM keys))
    AS n_in,
  (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT k FROM keys))
    AS n_not_in,
  (SELECT count(*) FROM orders o
   WHERE NOT EXISTS (SELECT 1 FROM keys WHERE k = o.o_custkey))
    AS n_not_exists,
  (SELECT count(*) FROM orders) AS n_total
"""
    )


@register(
    "quality_schema_contract",
    oracle="""
SELECT 'orderkey_unique' AS rule,
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations
FROM orders
UNION ALL
SELECT 'orderkey_not_null',
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'status_in_domain',
       CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'totalprice_positive',
       CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orderdate_in_range',
       CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                       OR o_orderdate >= TIMESTAMP '2010-01-01'
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'priority_pattern',
       CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
""",
)
def quality_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract enforcement report: six declarative rules (key
    uniqueness, non-null key, enum domain, positivity, date range,
    format pattern) evaluated in ONE pass over orders — violations per
    rule, zero meaning the contract holds. This is the producer-side
    gate of a data-mesh handoff: the consumer pins the contract, the
    pipeline ships the report. Spark computes all six aggregates in a
    single scan and unpivots with stack() (the quality_null_blank_matrix
    idiom); the oracle spells the per-rule UNION ALL contract."""
    o = Tables(spark, sf_dir).orders
    agg = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("orderkey_unique"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("orderkey_not_null"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("status_in_domain"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("totalprice_positive"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (
                    F.col("o_orderdate")
                    >= F.lit("2010-01-01").cast("timestamp")
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("orderdate_in_range"),
        F.sum(
            F.when(~F.col("o_orderpriority").rlike("^[1-5]-"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("priority_pattern"),
    )
    return agg.select(
        F.expr(
            "stack(6, "
            "'orderkey_unique', orderkey_unique, "
            "'orderkey_not_null', orderkey_not_null, "
            "'status_in_domain', status_in_domain, "
            "'totalprice_positive', totalprice_positive, "
            "'orderdate_in_range', orderdate_in_range, "
            "'priority_pattern', priority_pattern) AS (rule, violations)"
        )
    )


# ===========================================================================
# wave module round5o (formerly operators/round5o.py)
# Round-5 fifteenth wave (SURVEY.md §2.Q, continued): CSV quoting
# round-trip with embedded delimiters/newlines, pre/post Welch t-test,
# running-distinct-count windows, and incremental batch dedup against an
# existing lake.
# ===========================================================================

@register(
    "sink_csv_quoted_roundtrip",
    oracle="""
WITH src AS (
  SELECT o_orderkey,
         o_orderstatus || ',"x' || chr(10) || o_orderpriority AS tricky
  FROM orders
)
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN contains(tricky, ',') THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_comma,
       CAST(sum(CASE WHEN contains(tricky, chr(10)) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_with_newline,
       count(DISTINCT tricky) AS n_distinct_tricky,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM src
""",
)
def sink_csv_quoted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV quoting torture round-trip: a field carrying an embedded
    delimiter, a double-quote, AND a newline is written to CSV with
    standard RFC-4180 quote doubling (escape='\"') and re-read with
    multiLine=true — the three classic CSV-corruption vectors in one
    value. The checksummed aggregate comes from the RE-READ relation,
    so any quoting/escaping asymmetry between writer and reader breaks
    row count, distinct count, or the key checksum against the oracle's
    file-free recomputation. multiLine honesty note: quoted-newline CSV
    is NOT splittable — at 100 TB this path is for moderate-size
    interchange files; columnar formats carry the bulk (scan/sink
    parquet ops)."""
    o = Tables(spark, sf_dir).orders
    tricky = F.concat(
        F.col("o_orderstatus"),
        F.lit(',"x\n'),
        F.col("o_orderpriority"),
    )
    src = o.select("o_orderkey", tricky.alias("tricky"))
    out = op_tmpdir("sink_csv_quoted_")
    (
        src.write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        .csv(out)
    )
    back = (
        spark.read.schema("o_orderkey bigint, tricky string")
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(out)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("tricky").contains(","), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_comma"),
        F.sum(F.when(F.col("tricky").contains("\n"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_newline"),
        F.countDistinct("tricky").alias("n_distinct_tricky"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )


_CUTOVER = "2024-01-15"


@register(
    "events_pre_post_welch_t",
    oracle=f"""
WITH sides AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '{_CUTOVER}' THEN 'pre' ELSE 'post' END
           AS side,
         CAST(value AS DECIMAL(38, 2)) AS v
  FROM events
  WHERE (value IS NULL OR isfinite(value))
),
mo AS (
  SELECT event_type, side, count(*) AS n,
         CAST(sum(v) AS DOUBLE) AS sx,
         CAST(sum(v * v) AS DOUBLE) AS sx2
  FROM sides GROUP BY event_type, side
),
wide AS (
  SELECT event_type,
         max(CASE WHEN side = 'pre' THEN n END) AS n1,
         max(CASE WHEN side = 'pre' THEN sx END) AS sx1,
         max(CASE WHEN side = 'pre' THEN sx2 END) AS sxx1,
         max(CASE WHEN side = 'post' THEN n END) AS n2,
         max(CASE WHEN side = 'post' THEN sx END) AS sx2_,
         max(CASE WHEN side = 'post' THEN sx2 END) AS sxx2
  FROM mo GROUP BY event_type
)
SELECT event_type, n1, n2,
       floor(sx1 / n1 * 1000000 + 0.5) / 1000000 AS mean_pre,
       floor(sx2_ / n2 * 1000000 + 0.5) / 1000000 AS mean_post,
       floor((sx1 / n1 - sx2_ / n2)
             / sqrt((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1
                    + (sxx2 - sx2_ * sx2_ / n2) / (n2 - 1) / n2)
             * 1000000 + 0.5) / 1000000 AS welch_t
FROM wide
""",
)
def events_pre_post_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre/post intervention comparison: Welch's unequal-variance t
    statistic on the value column around a cutover date, per event
    type — the release-impact / experiment-readout primitive for
    continuous metrics (the proportions twin is
    events_ab_proportion_ztest). Raw power sums (n, Σx, Σx²)
    accumulate in DECIMAL — exact and order-independent (values carry
    2 decimals) — then means, variances, and t are derived with
    IDENTICAL IEEE operation order in both engines and portable-
    rounded. One partial-aggregable pass; output is types-sized. The
    metric is gated to the FINITE domain (nan-tier contract, mirrored
    in the oracle): ±Inf is a DECIMAL conversion error in the oracle's
    exact-sum path and a t of NaN answers nothing."""
    from ai_dataingestion_spark.functions.portable import finite

    e = Tables(spark, sf_dir).events.where(finite("value"))
    v = F.col("value").cast("decimal(38,2)")
    sides = e.select(
        "event_type",
        F.when(
            F.col("ts") < F.lit(_CUTOVER).cast("timestamp"), "pre"
        ).otherwise("post").alias("side"),
        v.alias("v"),
    )
    mo = sides.groupBy("event_type", "side").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("double").alias("sx"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("sx2"),
    )
    wide = mo.groupBy("event_type").agg(
        F.max(F.when(F.col("side") == "pre", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("side") == "pre", F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("side") == "pre", F.col("sx2"))).alias("sxx1"),
        F.max(F.when(F.col("side") == "post", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("side") == "post", F.col("sx"))).alias("sx2_"),
        F.max(F.when(F.col("side") == "post", F.col("sx2"))).alias("sxx2"),
    )
    m1 = F.col("sx1") / F.col("n1")
    m2 = F.col("sx2_") / F.col("n2")
    se2 = (
        (F.col("sxx1") - F.col("sx1") * F.col("sx1") / F.col("n1"))
        / (F.col("n1") - 1)
        / F.col("n1")
        + (F.col("sxx2") - F.col("sx2_") * F.col("sx2_") / F.col("n2"))
        / (F.col("n2") - 1)
        / F.col("n2")
    )
    return wide.select(
        "event_type",
        "n1",
        "n2",
        pround(m1).alias("mean_pre"),
        pround(m2).alias("mean_post"),
        pround((m1 - m2) / F.sqrt(se2)).alias("welch_t"),
    )


@register(
    "win_running_distinct",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events
)
SELECT user_id, event_id,
       CAST(sum(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS n_distinct_types_so_far
FROM flagged
""",
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count over an ordered window — a frame Spark
    (and ANSI SQL) cannot express directly — via the first-occurrence
    decomposition: flag each (user, type)'s first event with a
    row_number, then running-sum the flags along the user's timeline.
    Feature-adoption breadth over time, in two windows whose second
    reuses the first's user_id hash partitioning (one extra sort, no
    extra shuffle). The pattern generalizes to any running-distinct
    metric at any scale; collect_set-based spellings ship growing
    arrays through the window and do not."""
    e = Tables(spark, sf_dir).events
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc_nulls_last("ts"), "event_id"
    )
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "first_seen"
        ),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("first_seen").over(w_run).cast("bigint").alias(
            "n_distinct_types_so_far"
        ),
    )


_RESUBMIT_OFFSET = 7_000_000


@register(
    "dedup_incremental_batch",
    oracle=f"""
WITH lake AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 <> 0
),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + {_RESUBMIT_OFFSET}, text
  FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 4 = 0
),
hashed AS (SELECT doc_id, md5(text) AS h FROM batch),
batch_deduped AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, h,
           row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM hashed)
  WHERE rn = 1
)
SELECT b.doc_id, b.h AS content_md5
FROM batch_deduped b
WHERE NOT EXISTS (SELECT 1 FROM lake l WHERE l.h = b.h)
""",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the production shape where a new ingest batch
    is deduplicated against the already-accepted lake without
    re-deduplicating the lake itself: (1) dedup within the batch (keep
    the smallest id per digest), (2) anti-join the survivors against
    the lake's digest index. Resubmissions of lake content are injected
    (every 4th lake doc re-enters under a shifted id) and must all be
    rejected by stage 2. At 100 TB the lake side is exactly the digest
    column — 16 bytes/doc, the index a lakehouse keeps materialized —
    and both stages shuffle digests only; full text never moves."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    lake = d.filter(F.col("doc_id") % 3 != 0).select(
        F.md5("text").alias("h")
    )
    batch = d.filter(F.col("doc_id") % 3 == 0).unionByName(
        d.filter((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 4 == 0))
        .select((F.col("doc_id") + _RESUBMIT_OFFSET).alias("doc_id"), "text")
    )
    hashed = batch.select("doc_id", F.md5("text").alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id")
    batch_deduped = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "h")
    )
    return batch_deduped.join(lake, "h", "left_anti").select(
        "doc_id", F.col("h").alias("content_md5")
    )


# ===========================================================================
# wave module round5p (formerly operators/round5p.py)
# Round-5 sixteenth wave (SURVEY.md §2.Q, continued): exactly-once
# batch ledger semantics, stable k-per-group sampling, deterministic
# content-UUID minting, and session-bounded CEP-style pattern matching.
# ===========================================================================

@register(
    "pipeline_idempotent_ledger",
    oracle="""
WITH feed AS (
  -- at-least-once delivery: batches 0-4 once, batches 1 and 3 replayed
  SELECT o_orderkey % 5 AS batch_id, o_orderkey, o_totalprice FROM orders
  UNION ALL
  SELECT o_orderkey % 5, o_orderkey, o_totalprice FROM orders
  WHERE o_orderkey % 5 IN (1, 3)
),
delivery AS (
  SELECT batch_id, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY batch_id, o_orderkey
                            ORDER BY o_orderkey) AS attempt
  FROM feed
),
applied AS (SELECT * FROM delivery WHERE attempt = 1)
SELECT batch_id,
       count(*) AS n_applied,
       CAST((SELECT count(*) FROM delivery d
             WHERE d.batch_id = a.batch_id AND d.attempt > 1) AS BIGINT)
         AS n_deduped_replays,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38, 2))), 2) AS DOUBLE)
         AS applied_total
FROM applied a
GROUP BY batch_id
""",
)
def pipeline_idempotent_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once semantics over an at-least-once feed: batches land
    once, two of them are replayed (the crash-retry reality of every
    delivery system), and the ledger — first-attempt-wins per
    (batch, key) — makes application idempotent: per-batch applied
    counts and totals must equal the single-delivery truth, with the
    replayed rows accounted as deduped. This is the keystone pipeline
    guarantee the write-mode matrix (sink_write_modes) builds toward:
    append-landing + ledger = effective exactly-once. One window over
    the delivery log keyed (batch, key); totals in DECIMAL."""
    o = Tables(spark, sf_dir).orders
    base = o.select(
        (F.col("o_orderkey") % 5).alias("batch_id"),
        "o_orderkey",
        "o_totalprice",
    )
    feed = base.unionByName(base.filter(F.col("batch_id").isin(1, 3)))
    w = Window.partitionBy("batch_id", "o_orderkey").orderBy("o_orderkey")
    delivery = feed.withColumn("attempt", F.row_number().over(w))
    applied = delivery.filter(F.col("attempt") == 1)
    replays = (
        delivery.filter(F.col("attempt") > 1)
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).alias("n_deduped_replays"))
    )
    return (
        applied.groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_applied"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,2)")), 2
            )
            .cast("double")
            .alias("applied_total"),
        )
        .join(F.broadcast(replays), "batch_id", "left")
        .select(
            "batch_id",
            "n_applied",
            F.coalesce("n_deduped_replays", F.lit(0))
            .cast("bigint")
            .alias("n_deduped_replays"),
            "applied_total",
        )
    )


@register(
    "sample_k_per_group_stable",
    oracle="""
SELECT c_mktsegment, c_custkey, sample_rank FROM (
  SELECT c_mktsegment, c_custkey,
         row_number() OVER (
           PARTITION BY c_mktsegment
           ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey
         ) AS sample_rank
  FROM customer)
WHERE sample_rank <= 10
""",
)
def sample_k_per_group_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling: exactly 10 customers per
    segment, chosen by ranking on the md5 of the key — uniform-ish,
    seedless, and STABLE under repartitioning, re-runs, and engine
    choice (rand()-based sampling is none of those; this is the
    debugging/eyeballing sample you can cite in a bug report and
    reproduce tomorrow). The per-group rank plans as WindowGroupLimit:
    each partition locally top-k's before the shuffle, so the full
    group never moves — the split_train_eval hash idiom applied to
    fixed-size sampling."""
    c = Tables(spark, sf_dir).customer
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey")
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            F.row_number().over(w).alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= 10)
    )


@register(
    "fn_content_uuid",
    oracle="""
SELECT doc_id,
       substring(md5(text), 1, 8) || '-' ||
       substring(md5(text), 9, 4) || '-' ||
       substring(md5(text), 13, 4) || '-' ||
       substring(md5(text), 17, 4) || '-' ||
       substring(md5(text), 21, 12) AS content_uuid
FROM documents
""",
)
def fn_content_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-derived UUID minting (the UUIDv3/v5 idea
    with the portable md5 digest): the same bytes always mint the same
    id, so re-ingestion is naturally idempotent and ids survive
    backfills — unlike uuid()/monotonically_increasing_id(), which are
    non-deterministic and unusable as content keys. Pure string
    slicing of the hex digest into 8-4-4-4-12; zero shuffles."""
    d = Tables(spark, sf_dir).documents
    h = F.md5("text")
    # F.concat, not concat_ws: concat_ws SKIPS null parts, minting the
    # empty string as a "uuid" for a NULL document — concat propagates
    # the NULL like the oracle's || chain (no content, no content key).
    uuid = F.concat(
        F.substring(h, 1, 8),
        F.lit("-"),
        F.substring(h, 9, 4),
        F.lit("-"),
        F.substring(h, 13, 4),
        F.lit("-"),
        F.substring(h, 17, 4),
        F.lit("-"),
        F.substring(h, 21, 12),
    )
    return d.select("doc_id", uuid.alias("content_uuid"))


@register(
    "events_cep_triple_pattern",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM seq
),
pat AS (
  SELECT user_id, session_id, event_type AS e1,
         lead(event_type, 1) OVER w2 AS e2,
         lead(event_type, 2) OVER w2 AS e3,
         lead(session_id, 2) OVER w2 AS s3
  FROM sess
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, count(*) AS n_matches
FROM pat
WHERE e1 = 'view' AND e2 = 'click' AND e3 = 'purchase'
  AND s3 = session_id
GROUP BY user_id
""",
)
def events_cep_triple_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style pattern detection without a CEP engine:
    strictly consecutive view→click→purchase triples, all three inside
    ONE 30-minute session (a lead() across a session boundary must not
    match — checked by comparing the 3rd row's session id). The
    Flink-CEP/MATCH_RECOGNIZE workload expressed as two stacked windows
    over one user partitioning: sessionize, then a lead-chain predicate.
    Per-user match counts; strict contiguity is what separates this
    from events_markov_2step_paths' unconditional trigram census."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    prev = F.lag("ts").over(w)
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        prev.cast("timestamp")
    )
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(prev.isNull() | (gap_us > 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = seq.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("is_new").over(cum).alias("session_id"),
    )
    pat = sess.select(
        "user_id",
        "session_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        F.lead("session_id", 2).over(w).alias("s3"),
    )
    return (
        pat.filter(
            (F.col("e1") == "view")
            & (F.col("e2") == "click")
            & (F.col("e3") == "purchase")
            & (F.col("s3") == F.col("session_id"))
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


# ===========================================================================
# wave module round5q (formerly operators/round5q.py)
# Round-5 seventeenth wave (SURVEY.md §2.Q, continued): co-purchase
# graph triangle census, whole-file text ingestion, seasonal-naive
# forecast backtesting, and a top-k-per-group strategy-equivalence
# proof.
# ===========================================================================

@register(
    "graph_copurchase_triangles",
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
),
tri AS (
  SELECT count(*) AS n_tri
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM edges) AS n_edges,
       (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
       (SELECT n_tri FROM tri) AS n_triangles,
       floor(3.0 * (SELECT n_tri FROM tri)
             / (SELECT CAST(sum(d * (d - 1) / 2) AS DOUBLE) FROM deg)
             * 1000000 + 0.5) / 1000000 AS global_clustering
""",
)
def graph_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph — the distributed-graph
    kernel (triangle counting / global clustering coefficient) expressed
    as pure relational ops: edges are part pairs co-occurring in ≥2
    orders (oriented u < v so each triangle is found exactly once), and
    triangles come from the two-hop edge join e(u,v)⋈e(v,w)⋈e(u,w) —
    the standard all-edges/compact-forward algorithm whose join fan-out
    is Σ deg², bounded here by the basket-bounded co-purchase degrees.
    Global clustering = 3·triangles / wedges with exact integer wedge
    counts and one portable-rounded division. High clustering signals
    bundle-like demand; the same kernel over a near-dup candidate graph
    detects template families."""
    t = Tables(spark, sf_dir)
    # Optimization r16 (guide §2.4): per-order part pairs come from
    # scale.basket_pair_explode — one partial-aggregable basket groupBy +
    # JVM-side combination generator — instead of the first draft's
    # distinct + corpus×corpus self-equi-join (a distinct exchange plus
    # two join exchanges for the identical pair multiset).
    from ai_dataingestion_spark.scale import basket_pair_explode

    edges = (
        basket_pair_explode(
            t.lineitem.select("l_orderkey", "l_partkey"),
            "l_orderkey", "l_partkey", out=("u", "v"),
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("u", "v")
        .transform(op_cache)  # edges feed degree, wedge, and all three triangle sides
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = edges.select(F.col("u").alias("a1"), F.col("v").alias("b1"))
    e2 = edges.select(F.col("u").alias("b1"), F.col("v").alias("c1"))
    e3 = edges.select(F.col("u").alias("a1"), F.col("v").alias("c1"))
    tri = (
        e1.join(e2, "b1")
        .join(e3, ["a1", "c1"])
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("bigint"))
        .cast("bigint")
        .alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("n_tri").alias("n_triangles"),
            pround(
                3.0 * F.col("n_tri") / F.col("n_wedges").cast("double")
            ).alias("global_clustering"),
        )
    )


@register(
    "scan_text_wholefile",
    oracle="""
WITH content AS (
  -- r_name IS NOT NULL (explicit; string_agg would skip it anyway): a
  -- NULL has no line representation in the text format
  SELECT string_agg(r_name, chr(10) ORDER BY r_name) || chr(10) AS body
  FROM region WHERE r_name IS NOT NULL
)
SELECT 1 AS n_files,
       CAST(length(body) AS BIGINT) AS content_chars,
       md5(body) AS content_md5
FROM content
""",
)
def scan_text_wholefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file text ingestion (`wholetext=true`): each FILE becomes
    one row — the scan mode for document formats where line splitting
    destroys the record (a contract per file, a log dump per file).
    One sorted single-partition text export (sortWithinPartitions makes
    the file bytes deterministic), re-read as a whole file and
    checksummed against the oracle's reconstruction of the exact byte
    stream (ordered lines + trailing newline). The non-splittability is
    the point: one file = one task, so at scale this pairs with
    many-small-files layouts, never one giant blob."""
    r = Tables(spark, sf_dir).region.where(F.col("r_name").isNotNull())
    out = op_tmpdir("scan_wholefile_")
    (
        r.select("r_name")
        .coalesce(1)
        .sortWithinPartitions("r_name")
        .write.mode("overwrite")
        .text(out)
    )
    # NB: wholetext must be the text() PARAMETER — the .option() spelling
    # is silently ignored by this reader and degrades to line mode
    whole = spark.read.text(out, wholetext=True)
    return whole.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.length("value")).cast("bigint").alias("content_chars"),
        F.max(F.md5("value")).alias("content_md5"),
    )


@register(
    "events_seasonal_naive_backtest",
    oracle="""
WITH daily AS (
  -- ts IS NOT NULL: a NULL day has no lag-7 seat, and the oracle
  -- engine's window over a NULL grouped date is nondeterministic
  -- (observed flipping across identical runs on this corpus)
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, day, n,
         lag(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS fc
  FROM daily
),
scored AS (SELECT * FROM lagged WHERE fc IS NOT NULL)
SELECT event_type,
       count(*) AS n_days_scored,
       CAST(sum(abs(n - fc)) AS BIGINT) AS abs_err_sum,
       floor(CAST(sum(abs(n - fc)) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000 AS mae,
       floor(sqrt(CAST(sum((n - fc) * (n - fc)) AS DOUBLE) / count(*))
             * 1000000 + 0.5) / 1000000 AS rmse,
       CAST(sum(n - fc) AS BIGINT) AS bias
FROM scored GROUP BY event_type
""",
)
def events_seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's event volume
    with the same weekday's count one week earlier (lag-7) and score
    MAE / RMSE / bias per type — THE baseline every fancier forecaster
    must beat before it earns a deploy (and the denominator of a MASE
    score). Error sums are exact integer arithmetic; the two final
    divisions and the sqrt are portable-rounded. Windows run over the
    types×days aggregate — broadcast-sized at any event volume."""
    e = Tables(spark, sf_dir).events.where(F.col("ts").isNotNull())
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    scored = daily.withColumn("fc", F.lag("n", 7).over(w)).filter(
        F.col("fc").isNotNull()
    )
    err = F.col("n") - F.col("fc")
    cnt = F.count(F.lit(1))
    return scored.groupBy("event_type").agg(
        cnt.alias("n_days_scored"),
        F.sum(F.abs(err)).cast("bigint").alias("abs_err_sum"),
        pround(F.sum(F.abs(err)).cast("double") / cnt).alias("mae"),
        pround(F.sqrt(F.sum(err * err).cast("double") / cnt)).alias("rmse"),
        F.sum(err).cast("bigint").alias("bias"),
    )


@register(
    "topk_per_group_strategies",
    oracle="""
WITH rev AS (
  SELECT p_brand, l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(38, 2))) AS r
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, l_partkey
),
ranked AS (
  SELECT p_brand, l_partkey, r,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY r DESC, l_partkey) AS rn
  FROM rev
)
SELECT p_brand, l_partkey,
       CAST(r AS DOUBLE) AS revenue, rn,
       0 AS strategies_disagree
FROM ranked WHERE rn <= 3
""",
)
def topk_per_group_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand computed by TWO physical strategies and
    proven equivalent in-plan: (A) the window row_number over the
    aggregated (brand, part) revenue — plans WindowGroupLimit, the
    general answer — and (B) the aggregation spelling
    slice(array_sort(collect_list(struct(-r, partkey))), 1, 3), which
    is PARTIAL-AGGREGABLE: each map task keeps only its local struct
    list, so for small k over huge groups it ships k·tasks rows where
    the window ships the whole group into a sort. The emitted column
    strategies_disagree is the size of the symmetric difference
    between A and B — the oracle pins it to 0, so the equivalence is
    hash-checked every round, not just claimed. DECIMAL revenue makes
    the ranking tie-exact; partkey breaks residual ties."""
    t = Tables(spark, sf_dir)
    rev = (
        t.lineitem.join(
            broadcast_if_small(t.part.select("p_partkey", "p_brand"), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).alias("r")
        )
        .transform(op_cache)  # feeds both strategies
    )
    # strategy A: window
    w = Window.partitionBy("p_brand").orderBy(F.desc("r"), F.asc("l_partkey"))
    a = (
        rev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "l_partkey", "r", "rn")
    )
    # strategy B: partial-aggregable sorted-struct slice
    b = (
        rev.groupBy("p_brand")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct((-F.col("r")).alias("nr"), "l_partkey"))
                ),
                1,
                3,
            ).alias("top")
        )
        .select("p_brand", F.posexplode("top").alias("pos0", "s"))
        .select(
            "p_brand",
            F.col("s.l_partkey").alias("l_partkey"),
            (-F.col("s.nr")).alias("r"),
            (F.col("pos0") + 1).alias("rn"),
        )
    )
    disagree = a.select("p_brand", "l_partkey", "rn").exceptAll(
        b.select("p_brand", "l_partkey", "rn")
    ).unionAll(
        b.select("p_brand", "l_partkey", "rn").exceptAll(
            a.select("p_brand", "l_partkey", "rn")
        )
    ).agg(F.count(F.lit(1)).alias("n_diff"))
    return a.crossJoin(F.broadcast(disagree)).select(
        "p_brand",
        "l_partkey",
        F.col("r").cast("double").alias("revenue"),
        "rn",
        F.col("n_diff").cast("int").alias("strategies_disagree"),
    )


# ===========================================================================
# wave module round5r (formerly operators/round5r.py)
# Round-5 eighteenth wave (SURVEY.md §2.Q, continued): top session
# paths, linear multi-touch attribution, conversion-latency quantiles,
# and a small-files compaction planner.
# ===========================================================================

@register(
    "events_top_session_paths",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM seq
),
paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sess
  GROUP BY user_id, session_id
  HAVING count(*) <= 8
),
counted AS (SELECT path, count(*) AS n_sessions FROM paths GROUP BY path)
SELECT path, n_sessions FROM (
  SELECT path, n_sessions,
         row_number() OVER (ORDER BY n_sessions DESC, path) AS rn
  FROM counted)
WHERE rn <= 20
""",
)
def events_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session paths: each 30-minute session rendered as its
    ordered event-type string (view>click>purchase…), counted across
    sessions — the "what do users actually do" report behind every
    funnel hypothesis. Sessions longer than 8 events are excluded (long
    tails are unique paths that never rank and only bloat the shuffle).
    Path strings are built ORDER-DETERMINISTICALLY: Spark sorts the
    collected (ts, event_id, type) structs before joining — collect_list
    alone has nondeterministic shuffle order (the §5.4 trap) — matching
    DuckDB's ordered string_agg. Top-20 cut is count-then-path
    deterministic."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    prev = F.lag("ts").over(w)
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        prev.cast("timestamp")
    )
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(prev.isNull() | (gap_us > 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = seq.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("is_new").over(cum).alias("session_id"),
    )
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_join(
                F.transform(
                    # the +inf sentinel sorts NULL-ts events LAST (struct
                    # field comparison would put them first; the oracle's
                    # ORDER BY ts is NULLS LAST) — event_id tiebreaks both
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.coalesce(
                                    F.col("ts"),
                                    F.lit("9999-12-31").cast("timestamp"),
                                ).alias("ts_k"),
                                "event_id",
                                "event_type",
                            )
                        )
                    ),
                    lambda s: s.getField("event_type"),
                ),
                ">",
            ).alias("path_raw"),
        )
        .filter(F.col("n_events") <= 8)
        # all-NULL-type sessions: array_join renders '', the oracle's
        # string_agg renders NULL — nullif pins the NULL contract (no
        # event_type in this corpus is the empty string)
        .withColumn("path", F.nullif(F.col("path_raw"), F.lit("")))
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    wr = Window.orderBy(F.desc("n_sessions"), F.asc_nulls_last("path"))
    return (
        counted.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 20)
        .select("path", "n_sessions")
    )


@register(
    "events_attribution_linear",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(ts AS DATE) AS day
  FROM events
),
purchases AS (
  SELECT user_id, day, ts, event_id FROM seq WHERE event_type = 'purchase'
),
touches AS (
  SELECT s.user_id, p.event_id AS purchase_id, s.event_type AS touch_type,
         count(*) OVER (PARTITION BY p.event_id) AS k
  FROM purchases p
  JOIN seq s
    ON s.user_id = p.user_id AND s.day = p.day
   AND (s.ts < p.ts OR (s.ts = p.ts AND s.event_id < p.event_id))
   AND s.event_type <> 'purchase'
),
credited AS (
  SELECT touch_type,
         CAST(floor(1.0 / k * 1000000000 + 0.5) / 1000000000
              AS DECIMAL(38, 9)) AS credit
  FROM touches
)
SELECT touch_type,
       count(*) AS n_touches,
       CAST(sum(credit) AS DOUBLE) AS linear_credit
FROM credited GROUP BY touch_type
""",
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every same-day touch preceding a
    purchase shares the conversion credit equally (1/k each) — the
    equal-weight sibling of events_attribution_last_touch, the model
    marketing uses when no single touch deserves the win. Determinism
    trick: each 1/k credit is portable-rounded to 9dp FIRST and then
    accumulated as DECIMAL(38,9) — rounded terms sum exactly and
    order-independently, where a raw double Σ(1/k) would differ by
    summation order across engines/partitionings. The purchase⇄touch
    join is keyed (user, day): fan-out bounded by a user's daily
    activity, never cross-user."""
    e = Tables(spark, sf_dir).events
    seq = e.select(
        "user_id", "ts", "event_id", "event_type", F.to_date("ts").alias("day")
    )
    purchases = seq.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "day",
        F.col("ts").alias("pts"),
        F.col("event_id").alias("purchase_id"),
    )
    touches = (
        purchases.join(seq, ["user_id", "day"])
        .filter(
            (
                (F.col("ts") < F.col("pts"))
                | (
                    (F.col("ts") == F.col("pts"))
                    & (F.col("event_id") < F.col("purchase_id"))
                )
            )
            & (F.col("event_type") != "purchase")
        )
        .select("purchase_id", F.col("event_type").alias("touch_type"))
    )
    k = F.count(F.lit(1)).over(Window.partitionBy("purchase_id"))
    credited = touches.select(
        "touch_type",
        pround(F.lit(1.0) / k, 9).cast("decimal(38,9)").alias("credit"),
    )
    return credited.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("credit").cast("double").alias("linear_credit"),
    )


@register(
    "events_time_to_convert_quantiles",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id
),
lat AS (
  SELECT user_id,
         CAST((epoch_us(first_purchase) - epoch_us(first_view)) / 60000000.0
              AS DOUBLE) AS minutes
  FROM firsts
  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase >= first_view
)
SELECT count(*) AS n_converted,
       floor(CAST(quantile_cont(minutes, 0.5) AS DOUBLE) * 1000000 + 0.5)
         / 1000000 AS p50_minutes,
       floor(CAST(quantile_cont(minutes, 0.9) AS DOUBLE) * 1000000 + 0.5)
         / 1000000 AS p90_minutes,
       floor(CAST(max(minutes) AS DOUBLE) * 1000000 + 0.5) / 1000000
         AS max_minutes
FROM lat
""",
)
def events_time_to_convert_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conversion-latency distribution: minutes from each user's FIRST
    view to their FIRST subsequent purchase, summarized as p50/p90/max —
    the funnel-velocity headline ("half convert within X minutes") that
    events_funnel's pure counts can't answer. One per-user conditional-
    min reduce (partial-aggregable), then quantiles over the
    users-sized latency relation. Latency is exact integer µs divided
    once by 6e7 — bit-identical before the interpolating quantile."""
    e = Tables(spark, sf_dir).events
    firsts = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    lat = firsts.filter(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        (
            (
                F.unix_micros(F.col("first_purchase").cast("timestamp"))
                - F.unix_micros(F.col("first_view").cast("timestamp"))
            )
            / 60_000_000.0
        ).alias("minutes")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        pround(
            F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY minutes)")
        ).alias("p50_minutes"),
        pround(
            F.expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY minutes)")
        ).alias("p90_minutes"),
        pround(F.max("minutes")).alias("max_minutes"),
    )


_TARGET_FILE_BYTES = 4 * 1024 * 1024  # 4 MiB scratch-scale stand-in


@register(
    "pipeline_compaction_planner",
    oracle=f"""
WITH sized AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         -- serialized-width proxy: fixed numeric widths + string bytes
         8 + 8 + 8 + octet_length(encode(o_orderstatus))
           + octet_length(encode(o_orderpriority)) AS row_bytes
  FROM orders
)
SELECT day,
       count(*) AS n_rows,
       CAST(sum(row_bytes) AS BIGINT) AS est_bytes,
       CAST(greatest(1, ceil(CAST(sum(row_bytes) AS DOUBLE)
                             / {_TARGET_FILE_BYTES})) AS BIGINT)
         AS planned_files
FROM sized GROUP BY day
""",
)
def pipeline_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planner: per day-partition, estimate the
    serialized byte weight (fixed numeric widths + measured string
    bytes) and emit the target file count ceil(bytes/target) — the
    work-list a nightly OPTIMIZE/compaction job executes, and the
    repartition(n) argument pipeline_compact_latest would consume. The
    byte model is a proxy (parquet encodes/compresses), but it is the
    SAME deterministic proxy in both engines, and proxy-driven planning
    is exactly how real compactors size output without a dry-run write.
    One partial-aggregable pass; output is days-sized."""
    o = Tables(spark, sf_dir).orders
    row_bytes = (
        F.lit(8 + 8 + 8)
        + F.octet_length(F.encode("o_orderstatus", "UTF-8"))
        + F.octet_length(F.encode("o_orderpriority", "UTF-8"))
    )
    sized = o.select(
        F.date_trunc("day", "o_orderdate").alias("day"),
        row_bytes.alias("row_bytes"),
    )
    return sized.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("row_bytes").cast("bigint").alias("est_bytes"),
        F.greatest(
            F.lit(1),
            F.ceil(
                F.sum("row_bytes").cast("double") / _TARGET_FILE_BYTES
            ),
        )
        .cast("bigint")
        .alias("planned_files"),
    )


# ===========================================================================
# wave module round5s (formerly operators/round5s.py)
# Round-5 nineteenth wave (SURVEY.md §2.Q, continued): array set
# operations, binaryFile ingestion, ISO week/year calendar parity, and
# an equi-depth (quantile-binned) histogram.
# ===========================================================================

@register(
    "fn_array_set_ops",
    oracle="""
WITH halves AS (
  SELECT doc_id,
         list_slice(string_split(text, ' '), 1,
                    len(string_split(text, ' ')) // 2) AS a,
         list_slice(string_split(text, ' '),
                    len(string_split(text, ' ')) // 2 + 1,
                    len(string_split(text, ' '))) AS b
  FROM documents
)
SELECT doc_id,
       len(list_distinct(list_concat(a, b)))                  AS n_union,
       len(list_distinct(list_filter(a,
             x -> list_contains(b, x))))                      AS n_intersect,
       len(list_distinct(list_filter(a,
             x -> NOT list_contains(b, x))))                  AS n_a_only,
       coalesce(len(list_filter(a, x -> list_contains(b, x))) > 0,
                false)                                          AS overlaps,
       CAST(coalesce(list_position(a, 'data'), 0) AS BIGINT)  AS pos_data
FROM halves
""",
)
def fn_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array SET operations (§2.H array-family completion): union /
    intersect / difference cardinalities, overlap test, and first-
    position lookup between the two token halves of each document —
    the building blocks under every shingle/containment operator,
    pinned here directly. Spark's dedicated builtins (array_union,
    array_intersect, array_except, arrays_overlap, array_position) ≡
    DuckDB's list_distinct/list_filter/list_contains spellings;
    outputs are scalar cardinalities, so no array ordering ever
    crosses the compare harness."""
    d = Tables(spark, sf_dir).documents.withColumn("toks", F.split("text", " "))
    half = (F.size("toks") / 2).cast("int")
    halved = d.select(
        "doc_id",
        F.slice("toks", 1, half).alias("a"),
        F.expr("slice(toks, int(size(toks) / 2) + 1, size(toks))").alias("b"),
    )
    return halved.select(
        "doc_id",
        F.size(F.array_union("a", "b")).cast("bigint").alias("n_union"),
        F.size(F.array_intersect("a", "b")).cast("bigint").alias("n_intersect"),
        F.size(F.array_except("a", "b")).cast("bigint").alias("n_a_only"),
        # coalesce(false): a NULL token list overlaps nothing (and a NULL
        # boolean crosses the compare harness asymmetrically)
        F.coalesce(F.arrays_overlap("a", "b"), F.lit(False)).alias("overlaps"),
        F.coalesce(F.array_position("a", "data"), F.lit(0))
        .cast("bigint")
        .alias("pos_data"),
    )


@register(
    "scan_binary_files",
    oracle="""
WITH payloads AS (
  -- r_name IS NOT NULL: an asset without a name cannot be staged as a
  -- file (and || NULL would null the body on this side only)
  SELECT r_name, 'ASSET:' || r_name || ':' || CAST(r_regionkey AS VARCHAR)
           AS body
  FROM region WHERE r_name IS NOT NULL
)
SELECT count(*) AS n_files,
       CAST(sum(octet_length(encode(body))) AS BIGINT) AS total_bytes,
       md5(string_agg(md5(body), '|' ORDER BY md5(body))) AS digest_of_digests
FROM payloads
""",
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile ingestion — the REAL entry point for multimodal
    assets: each file lands as (path, modificationTime, length,
    content: binary) with no decoding. Five deterministic payload
    files are staged and read back through the binaryFile source; the
    comparison covers file count, total byte length, and an
    order-canonicalized digest-of-digests over the CONTENT bytes —
    path and mtime (host-dependent) are deliberately excluded from the
    compared schema. Pairs with multimodal_payload_dedup (dedup after
    this ingest) and the mapInPandas featurizers (decode after this
    ingest)."""
    r = (
        Tables(spark, sf_dir)
        .region.where(F.col("r_name").isNotNull())  # oracle mirrors
        .select("r_name", "r_regionkey")
        .collect()
    )
    out = op_tmpdir("scan_binary_")
    for row in r:  # 5 rows — bounded driver-side staging
        body = f"ASSET:{row['r_name']}:{row['r_regionkey']}".encode()
        with open(os.path.join(out, f"{row['r_name']}.bin"), "wb") as f:
            f.write(body)
    files = spark.read.format("binaryFile").load(out)
    return files.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.octet_length("content")).cast("bigint").alias("total_bytes"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list(F.md5("content"))), "|")
        ).alias("digest_of_digests"),
    )


@register(
    "fn_iso_week_parity",
    oracle="""
WITH tagged AS (
  SELECT year(CAST(o_orderdate AS DATE)
              + CAST(4 - isodow(o_orderdate) AS INT)) AS iso_year,
         weekofyear(o_orderdate) AS iso_week
  FROM orders
)
SELECT iso_year, iso_week, count(*) AS n
FROM tagged GROUP BY iso_year, iso_week
""",
)
def fn_iso_week_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 week/year calendar parity: orders counted per
    (iso_year, iso_week), where the ISO YEAR is derived explicitly as
    year(date + (4 − isodow) days) — the Thursday rule — because
    Jan 1/Dec 31 belong to the NEIGHBORING iso year whenever the week
    straddles the boundary (this corpus spans 1995-2001, so those edge
    weeks are exercised for real). Calling year() next to weekofyear()
    is the classic silently-wrong weekly rollup; this operator pins
    the correct derivation in both engines (Spark weekday()+1 ≡ DuckDB
    isodow)."""
    o = Tables(spark, sf_dir).orders
    d = F.to_date("o_orderdate")
    isodow = F.weekday(d) + 1
    iso_year = F.year(F.date_add(d, (F.lit(4) - isodow)))
    return (
        o.select(
            iso_year.alias("iso_year"),
            F.weekofyear(d).alias("iso_week"),
        )
        .groupBy("iso_year", "iso_week")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "agg_equidepth_histogram",
    oracle="""
WITH cuts AS (
  SELECT CAST(quantile_cont(c_acctbal, 0.1) AS DOUBLE) AS q1,
         CAST(quantile_cont(c_acctbal, 0.2) AS DOUBLE) AS q2,
         CAST(quantile_cont(c_acctbal, 0.3) AS DOUBLE) AS q3,
         CAST(quantile_cont(c_acctbal, 0.4) AS DOUBLE) AS q4,
         CAST(quantile_cont(c_acctbal, 0.5) AS DOUBLE) AS q5,
         CAST(quantile_cont(c_acctbal, 0.6) AS DOUBLE) AS q6,
         CAST(quantile_cont(c_acctbal, 0.7) AS DOUBLE) AS q7,
         CAST(quantile_cont(c_acctbal, 0.8) AS DOUBLE) AS q8,
         CAST(quantile_cont(c_acctbal, 0.9) AS DOUBLE) AS q9
  FROM customer
)
SELECT bin, count(*) AS n FROM (
  SELECT CAST(
           (CASE WHEN c_acctbal > q1 THEN 1 ELSE 0 END) +
           (CASE WHEN c_acctbal > q2 THEN 1 ELSE 0 END) +
           (CASE WHEN c_acctbal > q3 THEN 1 ELSE 0 END) +
           (CASE WHEN c_acctbal > q4 THEN 1 ELSE 0 END) +
           (CASE WHEN c_acctbal > q5 THEN 1 ELSE 0 END) +
           (CASE WHEN c_acctbal > q6 THEN 1 ELSE 0 END) +
           (CASE WHEN c_acctbal > q7 THEN 1 ELSE 0 END) +
           (CASE WHEN c_acctbal > q8 THEN 1 ELSE 0 END) +
           (CASE WHEN c_acctbal > q9 THEN 1 ELSE 0 END) AS BIGINT) AS bin
  FROM customer CROSS JOIN cuts
) GROUP BY bin
""",
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram: bin edges are the deciles of the data
    itself, so every bin holds ~10% of rows — the histogram query
    optimizers and drift monitors actually keep (equi-width bins, as
    in agg_histogram_bins, starve on skewed data; equi-depth adapts).
    The 9 decile cuts are one broadcast row; each value's bin is the
    count of cuts it exceeds — pure comparisons against bit-identical
    interpolated quantiles, no division, no rounding surface. Two
    passes: quantiles, then classify+count."""
    c = Tables(spark, sf_dir).customer
    cuts = c.agg(
        *[
            F.expr(
                f"percentile_cont({q / 10}) WITHIN GROUP (ORDER BY c_acctbal)"
            ).alias(f"q{q}")
            for q in range(1, 10)
        ]
    )
    bin_expr = sum(
        F.when(F.col("c_acctbal") > F.col(f"q{q}"), 1).otherwise(0)
        for q in range(1, 10)
    ).cast("bigint")
    return (
        c.crossJoin(F.broadcast(cuts))
        .select(bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ===========================================================================
# wave module round5t (formerly operators/round5t.py)
# Round-5 twentieth wave (SURVEY.md §2.Q, continued): a declarative
# alert-rules engine, empty-relation aggregate semantics, the default-
# window-frame ties pin, and pairwise Jensen-Shannon source drift.
# ===========================================================================

@register(
    "events_alert_rules",
    oracle="""
WITH totals AS (
  SELECT count(*) AS n,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err
  FROM events
),
daily AS (
  SELECT date_trunc('day', ts) AS day, count(*) AS n FROM events GROUP BY 1
),
daily_stats AS (
  SELECT min(CAST(n AS DOUBLE)) AS min_daily,
         CAST(sum(n) AS DOUBLE) / count(*) AS mean_daily
  FROM daily
),
p95v AS (
  -- finite gate (nan-tier contract): the engines' quantile kernels
  -- disagree on NaN placement, and an alert threshold compared to NaN
  -- never fires — rank the observable domain only
  SELECT CAST(quantile_cont(value, 0.95) AS DOUBLE) AS p95 FROM events
  WHERE (value IS NULL OR isfinite(value))
)
SELECT 'error_rate_gt_19pct' AS rule,
       floor(CAST(n_err AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS metric,
       0.19 AS threshold,
       CAST(CASE WHEN CAST(n_err AS DOUBLE) / n > 0.19
                 THEN 1 ELSE 0 END AS INT) AS fired
FROM totals
UNION ALL
SELECT 'daily_volume_drop_gt_50pct',
       floor(min_daily / mean_daily * 1000000 + 0.5) / 1000000,
       0.5,
       CAST(CASE WHEN min_daily / mean_daily < 0.5 THEN 1 ELSE 0 END AS INT)
FROM daily_stats
UNION ALL
SELECT 'value_p95_gt_100',
       floor(p95 * 1000000 + 0.5) / 1000000,
       100.0,
       CAST(CASE WHEN p95 > 100 THEN 1 ELSE 0 END AS INT)
FROM p95v
""",
)
def events_alert_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative monitoring rules engine: three alert rules (error
    share, worst-day volume drop vs mean, value p95 ceiling) evaluated
    over the corpus into one (rule, metric, threshold, fired) report —
    the operator a scheduler runs after every ingest, and the shape
    (metric expression + threshold + comparator per row) that makes
    alert definitions DATA instead of code. Each rule is an
    aggregate-first scalar; thresholds are literals shared verbatim
    with the oracle; metrics are portable-rounded, firing decisions
    computed on the UNROUNDED metric in both engines."""
    e = Tables(spark, sf_dir).events
    totals = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_err"
        ),
    )
    err_rate = F.col("n_err").cast("double") / F.col("n")
    r1 = totals.select(
        F.lit("error_rate_gt_19pct").alias("rule"),
        pround(err_rate).alias("metric"),
        F.lit(0.19).alias("threshold"),
        F.when(err_rate > 0.19, 1).otherwise(0).cast("int").alias("fired"),
    )
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    ds = daily.agg(
        F.min(F.col("n").cast("double")).alias("min_daily"),
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mean_daily"),
    )
    drop = F.col("min_daily") / F.col("mean_daily")
    r2 = ds.select(
        F.lit("daily_volume_drop_gt_50pct").alias("rule"),
        pround(drop).alias("metric"),
        F.lit(0.5).alias("threshold"),
        F.when(drop < 0.5, 1).otherwise(0).cast("int").alias("fired"),
    )
    # finite gate on the ranked metric only (nan-tier contract, mirrored
    # in the oracle's p95v CTE); the count-based rules keep every row
    from ai_dataingestion_spark.functions.portable import finite

    p95 = e.where(finite("value")).agg(
        F.expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY value)").alias(
            "p95"
        )
    )
    r3 = p95.select(
        F.lit("value_p95_gt_100").alias("rule"),
        pround(F.col("p95")).alias("metric"),
        F.lit(100.0).alias("threshold"),
        F.when(F.col("p95") > 100, 1).otherwise(0).cast("int").alias("fired"),
    )
    return r1.unionByName(r2).unionByName(r3)


@register(
    "agg_empty_relation_semantics",
    oracle="""
WITH empty AS (SELECT * FROM orders WHERE o_orderkey < 0)
SELECT
  (SELECT count(*) FROM empty) AS count_star,
  (SELECT count(o_totalprice) FROM empty) AS count_col,
  CAST((SELECT sum(o_totalprice) FROM empty) IS NULL AS INT) AS sum_is_null,
  CAST((SELECT min(o_orderdate) FROM empty) IS NULL AS INT) AS min_is_null,
  CAST((SELECT avg(o_totalprice) FROM empty) IS NULL AS INT) AS avg_is_null,
  (SELECT count(*) FROM (SELECT o_orderstatus, count(*) AS c
                         FROM empty GROUP BY o_orderstatus))
    AS grouped_rows
""",
)
def agg_empty_relation_semantics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Aggregate semantics over the EMPTY relation, pinned: global
    count(*) returns 0 (a row, not nothing), sum/min/avg return NULL
    (not 0 — the bug every naive "default 0" rewrite introduces), and
    a GROUP BY over empty input yields ZERO rows (no null-group row) —
    the asymmetry between global and grouped aggregation that ANSI
    mandates and downstream coalesce logic must respect. One
    impossible-predicate scan (pruned to nothing at planning time);
    every check lands in a single comparison row."""
    o = Tables(spark, sf_dir).orders
    empty = o.filter(F.col("o_orderkey") < 0)
    glob = empty.agg(
        F.count(F.lit(1)).alias("count_star"),
        F.count("o_totalprice").alias("count_col"),
        F.sum("o_totalprice").isNull().cast("int").alias("sum_is_null"),
        F.min("o_orderdate").isNull().cast("int").alias("min_is_null"),
        F.avg("o_totalprice").isNull().cast("int").alias("avg_is_null"),
    )
    grouped = (
        empty.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.count(F.lit(1)).alias("grouped_rows"))
    )
    return glob.crossJoin(F.broadcast(grouped))


@register(
    "win_default_frame_ties",
    oracle="""
SELECT c_mktsegment, c_custkey,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(38, 2))) OVER (
              PARTITION BY c_mktsegment
              ORDER BY CAST(floor(c_acctbal / 1000) AS BIGINT)), 2)
            AS DOUBLE) AS running_default_frame,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(38, 2))) OVER (
              PARTITION BY c_mktsegment
              ORDER BY CAST(floor(c_acctbal / 1000) AS BIGINT), c_custkey
              ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE)
         AS running_rows_tiebroken,
       CAST(count(*) OVER (
              PARTITION BY c_mktsegment,
                           CAST(floor(c_acctbal / 1000) AS BIGINT))
            AS BIGINT) AS n_peers
FROM customer
""",
)
def win_default_frame_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default-window-frame ties pin (§2.E semantics completion):
    with ORDER BY on a non-unique band, the ANSI default frame is
    RANGE UNBOUNDED PRECEDING..CURRENT ROW — all PEERS of the current
    row are included at once, so the running sum jumps by whole tied
    groups — while the ROWS spelling with a unique tiebreak advances
    row by row. Both are emitted side by side (they differ exactly
    where n_peers > 1), pinning the classic silent running-total bug
    in both engines. DECIMAL sums keep every value exact; ties are
    engineered via the coarse floor(bal/1000) band."""
    c = Tables(spark, sf_dir).customer
    band = F.floor(F.col("c_acctbal") / 1000).cast("bigint")
    dec = F.col("c_acctbal").cast("decimal(38,2)")
    # asc_nulls_last: NULL band (NULL acctbal) must sit at the partition
    # END as in the oracle engine, so its RANGE frame spans the whole
    # partition rather than opening it with a NULL-sum prefix
    w_default = Window.partitionBy("c_mktsegment").orderBy(
        F.asc_nulls_last("band")
    )
    w_rows = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.asc_nulls_last("band"), "c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_peers = Window.partitionBy("c_mktsegment", "band")
    return c.withColumn("band", band).select(
        "c_mktsegment",
        "c_custkey",
        "band",
        F.round(F.sum(dec).over(w_default), 2)
        .cast("double")
        .alias("running_default_frame"),
        F.round(F.sum(dec).over(w_rows), 2)
        .cast("double")
        .alias("running_rows_tiebroken"),
        F.count(F.lit(1)).over(w_peers).cast("bigint").alias("n_peers"),
    )


@register(
    "text_js_divergence_pairwise",
    oracle="""
WITH src AS (
  SELECT source, token, count(*) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS token
        FROM documents)
  GROUP BY source, token
),
tot AS (SELECT source, CAST(sum(c) AS DOUBLE) AS n FROM src GROUP BY source),
p AS (
  SELECT s.source, s.token, CAST(s.c AS DOUBLE) / t.n AS p
  FROM src s JOIN tot t ON s.source = t.source
),
pairs AS (
  SELECT a.source AS src1, b.source AS src2, a.token,
         a.p AS pa, b.p AS pb, (a.p + b.p) / 2 AS m
  FROM p a JOIN p b ON a.token = b.token AND a.source < b.source
)
SELECT src1, src2,
       count(*) AS n_shared_tokens,
       floor((0.5 * sum(pa * ln(pa / m)) + 0.5 * sum(pb * ln(pb / m)))
             * 1000000 + 0.5) / 1000000 AS js_divergence
FROM pairs GROUP BY src1, src2
""",
)
def text_js_divergence_pairwise(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between sources' token
    unigram distributions — the SYMMETRIC, bounded drift metric
    (0..ln 2) corpus monitoring actually dashboards, complementing the
    asymmetric text_kl_divergence_sources. Token probabilities come
    from exact integer counts with one double division each; the
    token-keyed self-join is bounded by |sources| per token partition
    (the KL op's no-hot-token argument), and each pair's sum spans the
    shared vocabulary, 6dp-rounded per the float-aggregate rule.
    Tokens absent from one source contribute their finite half-terms
    only when shared — absent-token mass needs smoothing, documented
    as out of scope (this corpus shares its full vocabulary)."""
    t = Tables(spark, sf_dir)
    src = (
        t.documents.select(
            "source", F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = src.groupBy("source").agg(F.sum("c").cast("double").alias("n"))
    p = src.join(F.broadcast(tot), "source").select(
        "source", "token", (F.col("c").cast("double") / F.col("n")).alias("p")
    )
    a = p.select(
        F.col("source").alias("src1"),
        "token",
        F.col("p").alias("pa"),
    )
    b = p.select(
        F.col("source").alias("src2"),
        "token",
        F.col("p").alias("pb"),
    )
    pairs = (
        a.join(b, "token")
        .filter(F.col("src1") < F.col("src2"))
        .withColumn("m", (F.col("pa") + F.col("pb")) / 2)
    )
    js = 0.5 * F.sum(
        F.col("pa") * F.log(F.col("pa") / F.col("m"))
    ) + 0.5 * F.sum(F.col("pb") * F.log(F.col("pb") / F.col("m")))
    return pairs.groupBy("src1", "src2").agg(
        F.count(F.lit(1)).alias("n_shared_tokens"),
        pround(js).alias("js_divergence"),
    )


# ===========================================================================
# wave module round5u (formerly operators/round5u.py)
# Round-5 twenty-first wave (SURVEY.md §2.Q, continued): BM25 lexical
# ranking, inverted-index boolean search, doc⇄embedding coverage audit,
# and rolling 7-day distinct actives via the explode-offset pattern.
# ===========================================================================

_BM25_TERMS = ["hash", "join", "filter"]
_K1, _B = 1.2, 0.75


def _bm25_term_sql(term: str) -> str:
    """One term's BM25 contribution (DuckDB dialect), 0 when absent."""
    return f"""
coalesce(max(CASE WHEN term = '{term}' THEN
  ln((nd - df + 0.5) / (df + 0.5) + 1)
  * (tf * ({_K1} + 1))
  / (tf + {_K1} * (1 - {_B} + {_B} * dl / avgdl))
END), 0.0)"""


@register(
    "text_bm25_topk",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
dl_rel AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS nd,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl_rel
),
tf_rel AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM toks WHERE term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
  GROUP BY doc_id, term
),
df_rel AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf_rel GROUP BY term
),
scored AS (
  SELECT t.doc_id,
         {" + ".join("(" + _bm25_term_sql(t) + ")" for t in _BM25_TERMS)}
           AS score
  FROM tf_rel t
  JOIN df_rel USING (term)
  JOIN dl_rel USING (doc_id)
  CROSS JOIN stats
  GROUP BY t.doc_id
)
SELECT doc_id, score FROM (
  SELECT doc_id,
         floor(score * 1000000 + 0.5) / 1000000 AS score,
         row_number() OVER (
           ORDER BY floor(score * 1000000 + 0.5) / 1000000 DESC, doc_id
         ) AS rn
  FROM scored)
WHERE rn <= 20
""",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical ranking (Robertson-Walker, k1=1.2 b=0.75) for the
    fixed query {{hash, join, filter}}: THE retrieval scorer behind
    every keyword-search and hybrid-RAG pipeline, built relationally —
    tf/df/doclen from exact integer counts, idf the +1-smoothed form,
    per-term contributions assembled via conditional aggregation so the
    three-term sum has a FIXED evaluation order (a GROUP BY over terms
    would sum in nondeterministic order), then 6dp-rounded BEFORE the
    deterministic top-20 cut. Scale shape: one token explode, (doc,
    term) and (term) aggregates, df/stats broadcast — the inverted-
    index build cost, paid once."""
    d = Tables(spark, sf_dir).documents
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    dl_rel = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dl")
    )
    stats = dl_rel.agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf_rel = (
        toks.filter(F.col("term").isin(_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df_rel = tf_rel.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    joined = (
        tf_rel.join(F.broadcast(df_rel), "term")
        .join(dl_rel, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    contrib = (
        F.log(
            (F.col("nd") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
        )
        * (F.col("tf") * (_K1 + 1))
        / (
            F.col("tf")
            + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl"))
        )
    )
    per_term = [
        F.coalesce(
            F.max(F.when(F.col("term") == t, contrib)), F.lit(0.0)
        )
        for t in _BM25_TERMS
    ]
    score = per_term[0] + per_term[1] + per_term[2]
    scored = joined.groupBy("doc_id").agg(pround(score).alias("score"))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "score")
    )


@register(
    "search_inverted_index_and_query",
    oracle="""
WITH idx AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents
)
SELECT 'hash AND join' AS query, count(*) AS n_matches,
       min(a.doc_id) AS first_doc, max(a.doc_id) AS last_doc
FROM idx a JOIN idx b ON a.doc_id = b.doc_id
WHERE a.term = 'hash' AND b.term = 'join'
UNION ALL
SELECT 'filter AND merge', count(*), min(a.doc_id), max(a.doc_id)
FROM idx a JOIN idx b ON a.doc_id = b.doc_id
WHERE a.term = 'filter' AND b.term = 'merge'
UNION ALL
SELECT 'scan AND NOT batch', count(*), min(a.doc_id), max(a.doc_id)
FROM idx a
WHERE a.term = 'scan'
  AND NOT EXISTS (SELECT 1 FROM idx b
                  WHERE b.doc_id = a.doc_id AND b.term = 'batch')
""",
)
def search_inverted_index_and_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inverted-index boolean retrieval: the postings relation
    (term → doc) built once, then three query shapes answered from it —
    conjunction (postings self-join on doc), and negation (anti join) —
    the boolean-search core of every lexical engine, and the same
    candidate-generation shape the rare-shingle dedup index uses.
    Postings are distinct (term, doc) pairs; each query touches only
    its terms' postings lists. The index is cached across the three
    queries."""
    d = Tables(spark, sf_dir).documents
    idx = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .distinct()
        .transform(op_cache)
    )

    def postings(term: str) -> DataFrame:
        return idx.filter(F.col("term") == term).select("doc_id")

    def q_and(name: str, t1: str, t2: str) -> DataFrame:
        m = postings(t1).join(postings(t2), "doc_id")
        return m.agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        ).select(F.lit(name).alias("query"), "n_matches", "first_doc", "last_doc")

    def q_and_not(name: str, t1: str, t2: str) -> DataFrame:
        m = postings(t1).join(postings(t2), "doc_id", "left_anti")
        return m.agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        ).select(F.lit(name).alias("query"), "n_matches", "first_doc", "last_doc")

    return (
        q_and("hash AND join", "hash", "join")
        .unionByName(q_and("filter AND merge", "filter", "merge"))
        .unionByName(q_and_not("scan AND NOT batch", "scan", "batch"))
    )


@register(
    "multimodal_coverage_audit",
    oracle="""
WITH avail AS (SELECT vec_id FROM embeddings WHERE vec_id % 7 <> 0)
SELECT
  (SELECT count(*) FROM documents) AS n_docs,
  (SELECT count(*) FROM avail) AS n_vectors,
  (SELECT count(*) FROM documents d
   WHERE NOT EXISTS (SELECT 1 FROM avail a WHERE a.vec_id = d.doc_id))
    AS docs_missing_vector,
  (SELECT count(*) FROM avail a
   WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = a.vec_id))
    AS dangling_vectors,
  floor((SELECT CAST(count(*) AS DOUBLE) FROM documents d
         WHERE EXISTS (SELECT 1 FROM avail a WHERE a.vec_id = d.doc_id))
        / (SELECT count(*) FROM documents) * 1000000 + 0.5) / 1000000
    AS coverage_ratio
""",
)
def multimodal_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal referential coverage: how many documents lack an
    embedding, how many embeddings dangle without a document, and the
    coverage ratio — the audit run before any multimodal join is
    trusted (a silent inner join would just drop the uncovered rows).
    The corpus ships with PERFECT 1:1 coverage [measured], so gaps are
    injected (vectors with vec_id % 7 = 0 withheld — the simulated
    failed-embedding-job slice) to keep the audit non-degenerate. Two
    anti-join counts + one semi count over key-only projections."""
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id")
    avail = t.embeddings.filter(F.col("vec_id") % 7 != 0).select("vec_id")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    n_vec = avail.agg(F.count(F.lit(1)).alias("n_vectors"))
    missing = docs.join(
        avail, docs.doc_id == avail.vec_id, "left_anti"
    ).agg(F.count(F.lit(1)).alias("docs_missing_vector"))
    dangling = avail.join(
        docs, docs.doc_id == avail.vec_id, "left_anti"
    ).agg(F.count(F.lit(1)).alias("dangling_vectors"))
    covered = docs.join(
        avail, docs.doc_id == avail.vec_id, "left_semi"
    ).agg(F.count(F.lit(1)).cast("double").alias("n_cov"))
    return (
        n_docs.crossJoin(F.broadcast(n_vec))
        .crossJoin(F.broadcast(missing))
        .crossJoin(F.broadcast(dangling))
        .crossJoin(F.broadcast(covered))
        .select(
            "n_docs",
            "n_vectors",
            "docs_missing_vector",
            "dangling_vectors",
            pround(F.col("n_cov") / F.col("n_docs")).alias(
                "coverage_ratio"
            ),
        )
    )


@register(
    "events_rolling_7d_active_users",
    oracle="""
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
expanded AS (
  SELECT user_id, day + CAST(off AS INT) AS window_day
  FROM user_days, unnest(generate_series(0, 6)) g(off)
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM user_days)
SELECT CAST(window_day AS TIMESTAMP) AS window_day,
       count(DISTINCT user_id) AS active_7d
FROM expanded CROSS JOIN bounds
WHERE window_day >= d0 AND window_day <= d1
GROUP BY window_day
""",
)
def events_rolling_7d_active_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling 7-day distinct active users per day — the windowed
    DISTINCT that neither window frames (no COUNT DISTINCT OVER) nor
    plain grouping can express — via the EXPLODE-OFFSET pattern: each
    distinct (user, day) activity emits itself into the 7 window-days
    it contributes to (map-side ×7 fan-out of user-day rows, never raw
    events), then one distinct-count per window-day. Calendar edges
    trimmed to observed days. This is the standard WAU/rolling-MAU
    shape at any scale: fan-out is bounded by window length, not data
    skew."""
    e = Tables(spark, sf_dir).events
    user_days = e.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    bounds = user_days.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    expanded = user_days.select(
        "user_id",
        F.explode(
            F.expr("sequence(0, 6)")
        ).alias("off"),
        "day",
    ).select(
        "user_id", F.expr("date_add(day, off)").alias("window_day")
    )
    return (
        expanded.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("window_day") >= F.col("d0"))
            & (F.col("window_day") <= F.col("d1"))
        )
        .groupBy(F.col("window_day").cast("timestamp").alias("window_day"))
        .agg(F.countDistinct("user_id").alias("active_7d"))
    )


# ===========================================================================
# wave module round5v (formerly operators/round5v.py)
# Round-5 twenty-second wave (SURVEY.md §2.Q, continued): ABC-XYZ
# inventory classification, maximal-marginal-relevance diversified
# selection, single-source supplier risk, and a partition-invariance
# determinism proof.
# ===========================================================================

@register(
    "lineitem_abc_xyz_matrix",
    oracle="""
WITH monthly AS (
  SELECT l_partkey, date_trunc('month', l_shipdate) AS m,
         CAST(sum(CAST(l_quantity AS DECIMAL(38, 2))) AS DOUBLE) AS q
  FROM lineitem GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey,
         count(*) AS n_months,
         CAST(sum(CAST(q AS DECIMAL(38, 2))) AS DOUBLE) AS sq,
         CAST(sum(CAST(q AS DECIMAL(38, 2)) * CAST(q AS DECIMAL(38, 2)))
              AS DOUBLE) AS sq2,
         CAST(sum(CAST(q AS DECIMAL(38, 2))) AS DECIMAL(38, 2)) AS total_q
  FROM monthly GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, n_months, sq, sq2, total_q,
         sum(total_q) OVER (ORDER BY total_q DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
         sum(total_q) OVER () AS tot
  FROM per_part
),
classed AS (
  SELECT CASE WHEN cum * 5 <= tot * 4 THEN 'A'
              WHEN cum * 20 <= tot * 19 THEN 'B'
              ELSE 'C' END AS abc,
         CASE WHEN n_months < 2 THEN 'Z'
              WHEN sqrt((sq2 - sq * sq / n_months) / (n_months - 1))
                   / (sq / n_months) < 0.25 THEN 'X'
              WHEN sqrt((sq2 - sq * sq / n_months) / (n_months - 1))
                   / (sq / n_months) < 0.5 THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM ranked
)
SELECT abc, xyz, count(*) AS n_parts
FROM classed GROUP BY abc, xyz
""",
)
def lineitem_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory classification — the planner's 3×3 matrix:
    ABC = cumulative-volume tiers (top 80% / next 15% / tail, cut by
    EXACT decimal comparisons cum·5 ≤ tot·4 — no division), XYZ =
    demand-variability tiers from the coefficient of variation of
    monthly quantities (CV < 0.25 steady, < 0.5 seasonal, else
    erratic; fewer than 2 observed months is Z by definition). CV is
    derived from exact DECIMAL power sums with identical IEEE
    operation order, and the classification thresholds are pure
    comparisons, so no rounding surface exists. Windows run over the
    parts-sized aggregate; output is ≤9 cells at any scale."""
    t = Tables(spark, sf_dir)
    monthly = (
        t.lineitem.groupBy(
            "l_partkey", F.date_trunc("month", "l_shipdate").alias("m")
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,2)"))
            .cast("double")
            .alias("q")
        )
    )
    qd = F.col("q").cast("decimal(38,2)")
    per_part = monthly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum(qd).cast("double").alias("sq"),
        F.sum(qd * qd).cast("double").alias("sq2"),
        F.sum(qd).cast("decimal(38,2)").alias("total_q"),
    )
    w_cum = Window.orderBy(F.desc("total_q"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per_part.select(
        "*",
        F.sum("total_q").over(w_cum).alias("cum"),
        F.sum("total_q").over(
            Window.partitionBy()
        ).alias("tot"),
    )
    cv = F.sqrt(
        (F.col("sq2") - F.col("sq") * F.col("sq") / F.col("n_months"))
        / (F.col("n_months") - 1)
    ) / (F.col("sq") / F.col("n_months"))
    abc = (
        F.when(F.col("cum") * 5 <= F.col("tot") * 4, "A")
        .when(F.col("cum") * 20 <= F.col("tot") * 19, "B")
        .otherwise("C")
    )
    xyz = (
        F.when(F.col("n_months") < 2, "Z")
        .when(cv < 0.25, "X")
        .when(cv < 0.5, "Y")
        .otherwise("Z")
    )
    return (
        ranked.select(abc.alias("abc"), xyz.alias("xyz"))
        .groupBy("abc", "xyz")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


_MMR_LAMBDA = 0.7
_MMR_K = 4

_DUCK_COS = (
    "floor((list_sum(list_transform({a}, (x, i) -> CAST(x AS DOUBLE)"
    " * CAST({b}[i] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE)"
    " * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE)"
    " * CAST(x AS DOUBLE)))))) * 1000000000 + 0.5) / 1000000000"
)


def _mmr_oracle() -> str:
    """Unrolled k-step MMR selection as chained CTEs (the kmeans
    unrolled-oracle precedent). Every stage reads the `emb` CTE — the
    valid-vector quarantine (nan-tier contract, the engine side's
    finite_vec): a NaN component would poison the greedy chain's very
    first argmax and every penalty after it."""
    cos_qd = _DUCK_COS.format(a="q.embedding", b="e.embedding")
    parts = [
        f"""
emb AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
),
qv AS (SELECT embedding FROM emb
       WHERE vec_id = (SELECT min(vec_id) FROM emb)),
scored AS (
  SELECT e.vec_id, {cos_qd} AS sim
  FROM emb e CROSS JOIN qv q
  WHERE e.vec_id <> (SELECT min(vec_id) FROM emb)
),
sel1 AS (SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT 1)
"""
    ]
    prev_sel = "sel1"
    sel_union = "SELECT vec_id FROM sel1"
    for step in range(2, _MMR_K + 1):
        cos_ds = _DUCK_COS.format(a="d.embedding", b="s.embedding")
        parts.append(
            f"""
pen{step} AS (
  SELECT d.vec_id, max({cos_ds}) AS max_sel_sim
  FROM emb d
  JOIN emb s ON s.vec_id IN ({sel_union})
  WHERE d.vec_id NOT IN ({sel_union})
    AND d.vec_id <> (SELECT min(vec_id) FROM emb)
  GROUP BY d.vec_id
),
sel{step} AS (
  SELECT sc.vec_id, sc.sim
  FROM scored sc JOIN pen{step} p ON sc.vec_id = p.vec_id
  ORDER BY {_MMR_LAMBDA} * sc.sim - {1 - _MMR_LAMBDA} * p.max_sel_sim DESC,
           sc.vec_id
  LIMIT 1
)"""
        )
        sel_union += f" UNION ALL SELECT vec_id FROM sel{step}"
        prev_sel = f"sel{step}"
    selects = " UNION ALL ".join(
        f"SELECT {i + 1} AS pick_order, vec_id, sim FROM sel{i + 1}"
        for i in range(_MMR_K)
    )
    return "WITH " + ",".join(parts) + "\n" + selects


@register("embed_mmr_select", oracle=_mmr_oracle())
def embed_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell-Goldstein 1998) diversified
    top-k: greedily pick the candidate maximizing
    λ·sim(query, d) − (1−λ)·max_sim(d, already-selected) — the
    diversification step RAG retrieval runs after ANN so the k passages
    aren't five copies of the same paragraph. λ=0.7, k=4, query = the
    lowest-id vector. The greedy loop is inherently sequential, so each
    of the k−1 penalty rounds is one distributed pass (map-side cosines
    vs the ≤k-row broadcast selected set, argmax with vec_id tiebreak);
    the driver collects ONE row per round — the bounded-collect budget
    the kmeans/centroid ops established. Cosines are left-to-right
    folds rounded to 9dp before every argmax; the oracle unrolls the
    identical greedy chain as CTEs over the same valid-vector quarantine
    (nan-tier contract: a NaN component would poison the first argmax
    and every penalty round after it)."""
    from ai_dataingestion_spark.functions.portable import finite_vec

    e = Tables(spark, sf_dir).embeddings.where(finite_vec("embedding"))
    qrow = e.orderBy("vec_id").select("vec_id", "embedding").first()
    if qrow is None:  # empty corpus: no query vector, empty result
        return spark.createDataFrame(
            [], "pick_order int, vec_id bigint, sim double"
        )
    q_id, q_vec = qrow["vec_id"], qrow["embedding"]

    def cos(col_name: str, lit_vec: list) -> F.Column:
        # r17 driver-build rewrite (guide §5, the _cw_sig_agg_exprs
        # technique): ONE parsed expression per cosine. The Column form
        # issued ~64 py4j lit() calls per literal vector plus lambda
        # plumbing, re-paid every round of the greedy loop. repr() floats
        # with the D suffix round-trip the exact IEEE doubles; 0.0D/0.5D
        # keep every literal DOUBLE (a bare SQL decimal is DECIMAL).
        # Pinned term-for-term against the Column form by
        # tests/test_r17_optimizations.py::test_mmr_cos_string_expr...
        arr = "array({})".format(
            ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in lit_vec)
        )
        dot = (
            f"aggregate(zip_with({col_name}, {arr},"
            " (x, y) -> CAST(x AS DOUBLE) * y),"
            " 0.0D, (acc, v) -> acc + v)"
        )
        na = (
            f"sqrt(aggregate({col_name}, 0.0D,"
            " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
        )
        nb = f"sqrt(aggregate({arr}, 0.0D, (acc, x) -> acc + x * x))"
        return F.expr(
            f"floor({dot} / ({na} * {nb}) * 1000000000 + 0.5D) / 1000000000"
        )

    cand = e.filter(F.col("vec_id") != q_id).select(
        "vec_id", "embedding", cos("embedding", q_vec).alias("sim")
    ).transform(op_cache)

    selected: list = []  # (vec_id, sim, embedding)
    for _ in range(_MMR_K):
        if not selected:
            pick = cand.orderBy(F.desc("sim"), F.asc("vec_id")).first()
        else:
            sel_ids = [s[0] for s in selected]
            pen = None
            for _sid, _ssim, svec in selected:
                p = cos("embedding", svec)
                pen = p if pen is None else F.greatest(pen, p)
            pick = (
                cand.filter(~F.col("vec_id").isin(sel_ids))
                .withColumn(
                    "mmr",
                    _MMR_LAMBDA * F.col("sim") - (1 - _MMR_LAMBDA) * pen,
                )
                .orderBy(F.desc("mmr"), F.asc("vec_id"))
                .first()
            )
        if pick is None:  # fewer than k candidates exist: stop early
            break
        selected.append((pick["vec_id"], pick["sim"], pick["embedding"]))

    rows = [
        (i + 1, int(vid), float(sim))
        for i, (vid, sim, _vec) in enumerate(selected)
    ]
    return spark.createDataFrame(
        rows, "pick_order int, vec_id bigint, sim double"
    )


@register(
    "part_single_source_risk",
    oracle="""
WITH sourcing AS (
  SELECT l_partkey, count(DISTINCT l_suppkey) AS n_suppliers
  FROM lineitem GROUP BY l_partkey
),
tagged AS (
  SELECT p.p_brand, s.n_suppliers
  FROM sourcing s JOIN part p ON s.l_partkey = p.p_partkey
)
SELECT p_brand,
       count(*) AS n_parts,
       CAST(sum(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS single_sourced,
       floor(CAST(sum(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000
         AS single_source_share
FROM tagged GROUP BY p_brand
""",
)
def part_single_source_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source supply risk per brand: parts whose entire observed
    volume came from ONE supplier — the supply-chain fragility screen
    (one supplier outage stops the part). One distinct-count aggregate
    keyed on partkey, brand dimension broadcast, brands-sized output."""
    t = Tables(spark, sf_dir)
    sourcing = t.lineitem.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers")
    )
    tagged = sourcing.join(
        broadcast_if_small(t.part.select("p_partkey", "p_brand"), sf_dir, "part"),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    single = F.sum(F.when(F.col("n_suppliers") == 1, 1).otherwise(0))
    return tagged.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        single.cast("bigint").alias("single_sourced"),
        pround(single.cast("double") / F.count(F.lit(1))).alias(
            "single_source_share"
        ),
    )


@register(
    "dedup_partition_invariance",
    oracle="""
WITH hashed AS (SELECT doc_id, md5(text) AS h FROM documents),
survivors AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM hashed)
  WHERE rn = 1
)
SELECT count(*) AS n_survivors,
       CAST(sum(doc_id) AS BIGINT) AS survivor_id_sum,
       0 AS layouts_disagree
FROM survivors
""",
)
def dedup_partition_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout invariance proof for dedup: the SAME keep-min
    exact dedup is executed under two adversarial physical layouts —
    repartition(7, by text) and repartition(13, by doc_id) — and the
    emitted layouts_disagree is the size of the symmetric difference
    between their survivor sets, pinned to 0 by the oracle. This is
    the determinism contract that makes dedup results reproducible
    across cluster sizes, AQE decisions, and re-runs — asserted as a
    hash-checked output every round (the topk_per_group_strategies
    proof pattern applied to data layout)."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")

    def survivors(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id")
        )

    s1 = survivors(d.repartition(7, "text"))
    s2 = survivors(d.repartition(13, "doc_id"))
    diff = (
        s1.exceptAll(s2)
        .unionAll(s2.exceptAll(s1))
        .agg(F.count(F.lit(1)).alias("n_diff"))
    )
    return (
        s1.agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum("doc_id").cast("bigint").alias("survivor_id_sum"),
        )
        .crossJoin(F.broadcast(diff))
        .select(
            "n_survivors",
            "survivor_id_sum",
            F.col("n_diff").cast("int").alias("layouts_disagree"),
        )
    )


# ===========================================================================
# wave module round5w (formerly operators/round5w.py)
# Round-5 twenty-third wave (SURVEY.md §2.Q, continued): partial-
# aggregation merge proof, transition dwell-time stats, training-shard
# manifest build, and median-split quadrant classification.
# ===========================================================================

@register(
    "agg_partial_merge_proof",
    oracle="""
WITH whole AS (
  SELECT count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))) AS s,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))
             * CAST(o_totalprice AS DECIMAL(38, 2))) AS s2
  FROM orders
),
h1 AS (
  SELECT count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))) AS s,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))
             * CAST(o_totalprice AS DECIMAL(38, 2))) AS s2
  FROM orders WHERE o_orderkey % 2 = 0
),
h2 AS (
  SELECT count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))) AS s,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))
             * CAST(o_totalprice AS DECIMAL(38, 2))) AS s2
  FROM orders WHERE o_orderkey % 2 = 1
)
, vars AS (
  SELECT w.n AS n_rows,
         (CAST(w.s2 AS DOUBLE) - CAST(w.s AS DOUBLE)
          * CAST(w.s AS DOUBLE) / w.n) / (w.n - 1) AS vw,
         (CAST(h1.s2 + h2.s2 AS DOUBLE) - CAST(h1.s + h2.s AS DOUBLE)
          * CAST(h1.s + h2.s AS DOUBLE) / (h1.n + h2.n))
         / (h1.n + h2.n - 1) AS vm,
         CAST(CASE WHEN w.n = h1.n + h2.n AND w.s = h1.s + h2.s
                    AND w.s2 = h1.s2 + h2.s2
                   THEN 0 ELSE 1 END AS INT) AS merge_mismatch
  FROM whole w CROSS JOIN h1 CROSS JOIN h2
)
SELECT n_rows,
       CASE WHEN vw = 0 THEN 0.0
            ELSE round(vw / pow(10, floor(log10(abs(vw)))), 6)
       END AS variance_whole_mant,
       CAST(CASE WHEN vw = 0 THEN 0
                 ELSE floor(log10(abs(vw))) END AS INT) AS variance_whole_exp10,
       CASE WHEN vm = 0 THEN 0.0
            ELSE round(vm / pow(10, floor(log10(abs(vm)))), 6)
       END AS variance_merged_mant,
       CAST(CASE WHEN vm = 0 THEN 0
                 ELSE floor(log10(abs(vm))) END AS INT) AS variance_merged_exp10,
       merge_mismatch
FROM vars
""",
)
def agg_partial_merge_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-aggregation merge soundness, proven as output: the
    (n, Σx, Σx²) moment state computed over the WHOLE relation must
    equal the component-wise merge of the two half-relations' states —
    the algebraic property that makes map-side combine, AQE re-plans,
    and incremental rollups all return the same answer. States live in
    DECIMAL so the equality is EXACT (merge_mismatch is pinned 0, not
    approximately 0), and the variance derived from whole vs merged
    states is emitted from both paths with identical IEEE order. This
    is the engine-correctness invariant behind every partial-aggregable
    claim in SCALE.md, made hash-checkable."""
    o = Tables(spark, sf_dir).orders
    dec = F.col("o_totalprice").cast("decimal(38,2)")

    def state(df: DataFrame, prefix: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias(f"{prefix}n"),
            F.sum(dec).alias(f"{prefix}s"),
            F.sum(dec * dec).alias(f"{prefix}s2"),
        )

    whole = state(o, "w_")
    h1 = state(o.filter(F.col("o_orderkey") % 2 == 0), "a_")
    h2 = state(o.filter(F.col("o_orderkey") % 2 == 1), "b_")
    j = whole.crossJoin(F.broadcast(h1)).crossJoin(F.broadcast(h2))
    var_whole = (
        F.col("w_s2").cast("double")
        - F.col("w_s").cast("double") * F.col("w_s").cast("double") / F.col("w_n")
    ) / (F.col("w_n") - 1)
    ms = F.col("a_s") + F.col("b_s")
    ms2 = F.col("a_s2") + F.col("b_s2")
    mn = F.col("a_n") + F.col("b_n")
    var_merged = (
        ms2.cast("double") - ms.cast("double") * ms.cast("double") / mn
    ) / (mn - 1)
    mismatch = F.when(
        (F.col("w_n") == mn)
        & (F.col("w_s") == ms)
        & (F.col("w_s2") == ms2),
        0,
    ).otherwise(1)

    # RELATIVE (mantissa/exponent) emission, not absolute decimals: at
    # sfx1.0 the Σx² decimal state is ~4.5e20 and the engines'
    # int128->double casts may differ by 1 ulp, a legitimate ~1e-5
    # ABSOLUTE difference at variance magnitude ~2e10 (measured at the
    # sfx1.0 sweep) — see functions/portable.py.
    from ai_dataingestion_spark.functions.portable import mant_exp_cols

    return j.select(
        F.col("w_n").alias("n_rows"),
        *mant_exp_cols(var_whole, "variance_whole"),
        *mant_exp_cols(var_merged, "variance_merged"),
        mismatch.cast("int").alias("merge_mismatch"),
    )


@register(
    "events_transition_dwell_stats",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER w AS prev_type,
         epoch_us(ts) - epoch_us(lag(ts) OVER w) AS dwell_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT prev_type, event_type AS next_type,
       count(*) AS n_transitions,
       CAST(sum(dwell_us) AS BIGINT) AS dwell_us_sum,
       floor(CAST(sum(dwell_us) AS DOUBLE) / count(*) / 1000000
             * 1000000 + 0.5) / 1000000 AS mean_dwell_s,
       CAST(quantile_cont(dwell_us, 0.5) AS DOUBLE) AS p50_dwell_us
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
)
def events_transition_dwell_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dwell time per transition: how long users linger BETWEEN each
    (from → to) event-type pair — the timing layer the count-only
    events_transition_matrix lacks (a view→purchase edge that takes 2
    seconds vs 20 minutes is a different product story). One
    user-partitioned lag window emits (prev, next, µs delta); exact
    integer µs sums, one rounded division for the mean, interpolating
    median over exact integers. Output bounded by types²."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    dwell = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag("ts").over(w).cast("timestamp")
    )
    seq = e.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
        dwell.alias("dwell_us"),
    ).filter(F.col("prev_type").isNotNull())
    n = F.count(F.lit(1))
    return seq.groupBy("prev_type", "next_type").agg(
        n.alias("n_transitions"),
        F.sum("dwell_us").cast("bigint").alias("dwell_us_sum"),
        pround(F.sum("dwell_us").cast("double") / n / 1_000_000).alias(
            "mean_dwell_s"
        ),
        F.expr(
            "percentile_cont(0.5) WITHIN GROUP (ORDER BY dwell_us)"
        ).alias("p50_dwell_us"),
    )


_SHARD_DOCS = 500


@register(
    "pipeline_shard_manifest",
    oracle=f"""
WITH assigned AS (
  SELECT doc_id, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 8 AS shard_id
  FROM documents
)
SELECT shard_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS token_sum,
       CAST(sum(n_chars) AS BIGINT) AS char_sum,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc,
       CAST(CASE WHEN count(*) > {_SHARD_DOCS} THEN 1 ELSE 0 END AS INT)
         AS needs_split
FROM assigned GROUP BY shard_id
""",
)
def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest build (the WebDataset/tar-shard prep
    step): docs are hash-assigned to 8 shards (md5 of the id — stable
    under re-runs and appends, the split_train_eval idiom), and the
    manifest reports per-shard doc/token/char budgets plus a
    needs_split flag against the {_SHARD_DOCS}-doc target — exactly
    what a dataloader needs to plan balanced, reproducible epochs.
    One partial-aggregable pass; hash assignment means shard sizes
    stay balanced at any corpus size without a shuffle-by-range."""
    d = Tables(spark, sf_dir).documents
    shard = (
        F.expr(
            "CAST(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10)"
            " AS BIGINT)"
        )
        % 8
    )
    assigned = d.select(
        "doc_id",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
        shard.alias("shard_id"),
    )
    return assigned.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("token_sum"),
        F.sum("n_chars").cast("bigint").alias("char_sum"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.when(F.count(F.lit(1)) > _SHARD_DOCS, 1)
        .otherwise(0)
        .cast("int")
        .alias("needs_split"),
    )


@register(
    "supplier_quadrant_classification",
    oracle="""
WITH vol AS (
  SELECT s_suppkey, s_acctbal,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38, 2))) AS DOUBLE)
           AS volume
  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
  GROUP BY s_suppkey, s_acctbal
),
cuts AS (
  SELECT CAST(quantile_cont(s_acctbal, 0.5) AS DOUBLE) AS bal_med,
         CAST(quantile_cont(volume, 0.5) AS DOUBLE) AS vol_med
  FROM vol
)
SELECT CASE WHEN s_acctbal >= bal_med AND volume >= vol_med
            THEN 'strong_partner'
            WHEN s_acctbal >= bal_med THEN 'underutilized'
            WHEN volume >= vol_med THEN 'exposure_risk'
            ELSE 'marginal' END AS quadrant,
       count(*) AS n_suppliers,
       min(s_suppkey) AS example_supplier
FROM vol CROSS JOIN cuts
GROUP BY 1
""",
)
def supplier_quadrant_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Median-split quadrant classification of suppliers on (account
    balance × traded volume): strong partners, underutilized capital,
    volume-on-weak-balance exposure risk, and the marginal tail — the
    2×2 a procurement review starts from. Both medians interpolate on
    exact inputs and broadcast as one cut row; classification is pure
    comparison. DECIMAL volume sums keep the median's input exact."""
    t = Tables(spark, sf_dir)
    vol = (
        t.supplier.join(
            t.lineitem, F.col("s_suppkey") == F.col("l_suppkey")
        )
        .groupBy("s_suppkey", "s_acctbal")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,2)"))
            .cast("double")
            .alias("volume")
        )
    )
    cuts = vol.agg(
        F.expr(
            "percentile_cont(0.5) WITHIN GROUP (ORDER BY s_acctbal)"
        ).alias("bal_med"),
        F.expr(
            "percentile_cont(0.5) WITHIN GROUP (ORDER BY volume)"
        ).alias("vol_med"),
    )
    quadrant = (
        F.when(
            (F.col("s_acctbal") >= F.col("bal_med"))
            & (F.col("volume") >= F.col("vol_med")),
            "strong_partner",
        )
        .when(F.col("s_acctbal") >= F.col("bal_med"), "underutilized")
        .when(F.col("volume") >= F.col("vol_med"), "exposure_risk")
        .otherwise("marginal")
    )
    return (
        vol.crossJoin(F.broadcast(cuts))
        .groupBy(quadrant.alias("quadrant"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.min("s_suppkey").alias("example_supplier"),
        )
    )


# ===========================================================================
# wave module round5x (formerly operators/round5x.py)
# Round-5 twenty-fourth wave (SURVEY.md §2.Q, continued): vector-index
# upsert refresh, two-sample Kolmogorov-Smirnov drift test, keyset
# (seek) pagination, and fiscal-calendar rollups.
# ===========================================================================

@register(
    "embed_index_upsert_refresh",
    oracle="""
WITH emb AS (
  -- valid-vector quarantine (nan-tier contract): an index never admits a
  -- vector with NaN/Inf components, so neither lake nor batch sees one
  SELECT vec_id, embedding, label FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
),
lake AS (
  SELECT vec_id, embedding, label FROM emb WHERE vec_id % 5 <> 0
),
batch AS (
  -- new vectors (the %5 slice) + re-embeddings of every 10th lake vector
  -- (negated -> provably different), which must REPLACE their lake rows
  SELECT vec_id, embedding, label FROM emb WHERE vec_id % 5 = 0
  UNION ALL
  SELECT vec_id, list_transform(embedding, x -> -x), label
  FROM emb WHERE vec_id % 5 <> 0 AND vec_id % 10 = 0
),
merged AS (
  SELECT vec_id, embedding, label FROM batch
  UNION ALL
  SELECT l.vec_id, l.embedding, l.label FROM lake l
  WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.vec_id = l.vec_id)
)
SELECT label,
       count(*) AS n_vectors,
       CAST(sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_inserted,
       CAST(sum(CASE WHEN vec_id % 5 <> 0 AND vec_id % 10 = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_replaced,
       floor(sum(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE)))) * 1000000 + 0.5) / 1000000
         AS component_sum
FROM merged GROUP BY label
""",
)
def embed_index_upsert_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-index upsert: a batch of NEW vectors plus RE-EMBEDDINGS of
    existing ids (model-version bump — injected as negations so
    replacement is provable) merges into the vector lake with
    last-writer-wins on vec_id — the refresh cycle every embedding
    store runs when the encoder changes. The merge is the anti-join
    upsert (batch ∪ lake-not-in-batch), keyed on vec_id; the per-label
    report checksums the post-merge state via each vector's component
    sum (left-to-right fold), which flips sign for replaced vectors —
    so a botched merge (duplicate id, missed replacement) breaks the
    hash, not just the count. The index admits VALID vectors only
    (nan-tier contract, mirrored in the oracle's emb CTE): a NaN
    component would poison the per-label checksum."""
    from ai_dataingestion_spark.functions.portable import finite_vec

    e = Tables(spark, sf_dir).embeddings.where(finite_vec("embedding"))
    lake = e.filter(F.col("vec_id") % 5 != 0)
    re_embedded = (
        e.filter((F.col("vec_id") % 5 != 0) & (F.col("vec_id") % 10 == 0))
        .select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: -x).alias("embedding"),
            "label",
        )
    )
    batch = e.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id", "embedding", "label"
    ).unionByName(re_embedded)
    merged = batch.unionByName(
        lake.join(batch.select("vec_id"), "vec_id", "left_anti").select(
            "vec_id", "embedding", "label"
        )
    )
    comp_sum = F.aggregate(
        F.col("embedding"), F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    return merged.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.when(F.col("vec_id") % 5 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_inserted"),
        F.sum(
            F.when(
                (F.col("vec_id") % 5 != 0) & (F.col("vec_id") % 10 == 0), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_replaced"),
        pround(F.sum(comp_sum)).alias("component_sum"),
    )


_KS_CUT = "2024-01-15"


@register(
    "quality_ks_two_sample",
    oracle=f"""
WITH tagged AS (
  -- value IS NOT NULL: an ECDF is over OBSERVED values; a NULL value is
  -- not an observation and its group has no seat in the ordered walk
  SELECT value,
         CASE WHEN ts < TIMESTAMP '{_KS_CUT}' THEN 1 ELSE 0 END AS pre
  FROM events WHERE value IS NOT NULL
),
counts AS (
  SELECT value,
         CAST(sum(pre) AS BIGINT) AS c1,
         CAST(sum(1 - pre) AS BIGINT) AS c2
  FROM tagged GROUP BY value
),
tot AS (
  SELECT CAST(sum(c1) AS DOUBLE) AS n1, CAST(sum(c2) AS DOUBLE) AS n2
  FROM counts
),
ecdf AS (
  SELECT value,
         sum(c1) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS r1,
         sum(c2) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS r2
  FROM counts
),
gaps AS (
  SELECT value,
         abs(CAST(r1 AS DOUBLE) / n1 - CAST(r2 AS DOUBLE) / n2) AS gap
  FROM ecdf CROSS JOIN tot
)
SELECT floor((SELECT max(gap) FROM gaps) * 1000000 + 0.5) / 1000000
         AS ks_statistic,
       (SELECT value FROM gaps ORDER BY gap DESC, value LIMIT 1)
         AS ks_location,
       (SELECT CAST(n1 AS BIGINT) FROM tot) AS n_pre,
       (SELECT CAST(n2 AS BIGINT) FROM tot) AS n_post
""",
)
def quality_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test on the value column
    around a cutover: D = max |ECDF_pre − ECDF_post| plus the value
    where the gap peaks — the distribution-shape drift detector that
    mean/variance screens (Welch t) are blind to. Scale shape: raw
    rows first collapse to per-DISTINCT-VALUE counts (the 2-decimal
    domain bounds this relation regardless of event volume), and the
    ECDFs are running sums over that bounded relation — the global
    ordered window never sees raw events. Exact integer ranks, two
    divisions per distinct value, deterministic argmax with a value
    tiebreak."""
    e = Tables(spark, sf_dir).events.where(
        F.col("value").isNotNull()  # oracle mirrors: ECDF over observations
    )
    tagged = e.select(
        "value",
        F.when(F.col("ts") < F.lit(_KS_CUT).cast("timestamp"), 1)
        .otherwise(0)
        .alias("pre"),
    )
    counts = tagged.groupBy("value").agg(
        F.sum("pre").cast("bigint").alias("c1"),
        F.sum(1 - F.col("pre")).cast("bigint").alias("c2"),
    )
    tot = counts.agg(
        F.sum("c1").cast("double").alias("n1"),
        F.sum("c2").cast("double").alias("n2"),
    )
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ecdf = counts.select(
        "value",
        F.sum("c1").over(w).alias("r1"),
        F.sum("c2").over(w).alias("r2"),
    )
    gaps = ecdf.crossJoin(F.broadcast(tot)).select(
        "value",
        F.abs(
            F.col("r1").cast("double") / F.col("n1")
            - F.col("r2").cast("double") / F.col("n2")
        ).alias("gap"),
    )
    top = (
        gaps.orderBy(F.desc("gap"), F.asc("value"))
        .limit(1)
        .select(
            pround(F.col("gap")).alias("ks_statistic"),
            F.col("value").alias("ks_location"),
        )
    )
    return top.crossJoin(
        F.broadcast(
            tot.select(
                F.col("n1").cast("bigint").alias("n_pre"),
                F.col("n2").cast("bigint").alias("n_post"),
            )
        )
    )


_PAGE_SIZE = 50


@register(
    "sort_keyset_pagination",
    oracle=f"""
WITH ranked AS (
  -- o_orderdate IS NOT NULL: keyset pagination requires a totally
  -- ordered, seekable cursor; a NULL date cannot anchor the predicate
  -- (o_orderdate > NULL is never true) so such rows are out of scope
  SELECT o_orderkey, o_orderdate, o_totalprice,
         row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders WHERE o_orderdate IS NOT NULL
)
SELECT CAST((rn - 1) // {_PAGE_SIZE} + 1 AS INT) AS page,
       o_orderkey, o_orderdate, o_totalprice
FROM ranked WHERE rn <= {3 * _PAGE_SIZE}
""",
)
def sort_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek-method) pagination: three consecutive pages fetched
    by CURSOR PREDICATE — page n+1 filters (date, key) > (last row of
    page n) and takes the next {_PAGE_SIZE} — instead of OFFSET, which
    re-sorts and discards n·page rows per request (limit_offset
    documents that cost; this is the serving-scale answer). Each page
    is a pushdown-able range predicate + TakeOrderedAndProject; the
    oracle spells the same three pages as one ranked window. The
    (date, key) cursor is totally ordered because orderkey is unique —
    the precondition keyset pagination always needs."""
    o = (
        Tables(spark, sf_dir)
        .orders.where(F.col("o_orderdate").isNotNull())  # oracle mirrors
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )
    pages = []
    cursor = None  # (date, key) of last row seen
    for page_no in range(1, 4):
        q = o
        if cursor is not None:
            cd, ck = cursor
            q = q.filter(
                (F.col("o_orderdate") > F.lit(cd))
                | (
                    (F.col("o_orderdate") == F.lit(cd))
                    & (F.col("o_orderkey") > F.lit(ck))
                )
            )
        page = q.orderBy("o_orderdate", "o_orderkey").limit(_PAGE_SIZE)
        rows = page.collect()  # bounded: _PAGE_SIZE rows per fetch
        pages.append((page_no, rows))
        if not rows:  # exhausted relation (e.g. empty corpus): stop seeking
            break
        last = rows[-1]
        cursor = (last["o_orderdate"], last["o_orderkey"])
    flat = [
        (p, r["o_orderkey"], r["o_orderdate"], r["o_totalprice"])
        for p, rows in pages
        for r in rows
    ]
    return spark.createDataFrame(
        flat,
        "page int, o_orderkey bigint, o_orderdate timestamp_ntz,"
        " o_totalprice double",
    )


@register(
    "orders_fiscal_calendar_rollup",
    oracle="""
WITH tagged AS (
  -- fiscal year starts Feb 1: FY(x) = calendar year of (date - 1 month)
  SELECT year(o_orderdate - INTERVAL 1 MONTH) AS fiscal_year,
         CAST((month(o_orderdate - INTERVAL 1 MONTH) - 1) // 3 + 1 AS INT)
           AS fiscal_quarter,
         CAST(o_totalprice AS DECIMAL(38, 2)) AS p
  FROM orders
)
SELECT fiscal_year, fiscal_quarter,
       count(*) AS n_orders,
       CAST(round(sum(p), 2) AS DOUBLE) AS revenue
FROM tagged GROUP BY fiscal_year, fiscal_quarter
""",
)
def orders_fiscal_calendar_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fiscal-calendar rollup for a February-start fiscal year: FY and
    fiscal quarter derived by the shift-then-extract rule (subtract one
    month, then use calendar year/quarter arithmetic) — the offset-
    calendar family every finance rollup needs, where naive year() per
    row silently books January into the wrong FY. Pure expressions +
    one aggregate; DECIMAL revenue."""
    o = Tables(spark, sf_dir).orders
    shifted = F.col("o_orderdate") - F.expr("INTERVAL 1 MONTH")
    return (
        o.select(
            F.year(shifted).alias("fiscal_year"),
            (((F.month(shifted) - 1) / 3).cast("int") + 1).alias(
                "fiscal_quarter"
            ),
            F.col("o_totalprice").cast("decimal(38,2)").alias("p"),
        )
        .groupBy("fiscal_year", "fiscal_quarter")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("p"), 2).cast("double").alias("revenue"),
        )
    )


# ===========================================================================
# wave module round5y (formerly operators/round5y.py)
# Round-5 twenty-fifth wave (SURVEY.md §2.Q, continued): business-day
# latency arithmetic, min-max feature scaling with invariant checks,
# readability scoring, and YTD-vs-prior-year alignment.
# ===========================================================================

@register(
    "fn_business_days_diff",
    oracle="""
WITH lat AS (
  SELECT o_orderpriority,
         date_diff('day', CAST(o_orderdate AS DATE),
                   CAST(l_shipdate AS DATE)) AS cal_days,
         -- business days between d1 (excl) and d2 (incl), Mon=1..Sun=7:
         -- full weeks x5 + weekday-remainder correction via a
         -- cumulative-business-day index bd(d) = 5*floor(d/7) +
         -- min(pmod(d,7), 5) anchored on a known Monday epoch. FLOOR
         -- division and POSITIVE modulo on both sides (epoch tier): for
         -- dates BEFORE the anchor d is negative, where // truncates
         -- toward zero in this engine while Spark's floor() rounds down,
         -- and % takes the dividend's sign in both — the explicit
         -- floor/pmod forms are sign-correct everywhere
         (5 * CAST(floor(date_diff('day', DATE '1990-01-01',
                                   CAST(l_shipdate AS DATE)) / 7.0) AS BIGINT)
          + least(((date_diff('day', DATE '1990-01-01',
                              CAST(l_shipdate AS DATE)) % 7) + 7) % 7, 5))
         - (5 * CAST(floor(date_diff('day', DATE '1990-01-01',
                                     CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT)
            + least(((date_diff('day', DATE '1990-01-01',
                                CAST(o_orderdate AS DATE)) % 7) + 7) % 7, 5))
           AS bus_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority,
       count(*) AS n,
       floor(CAST(sum(cal_days) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000 AS mean_cal_days,
       floor(CAST(sum(bus_days) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000 AS mean_bus_days,
       CAST(sum(CASE WHEN bus_days > 65 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sla_breach
FROM lat GROUP BY o_orderpriority
""",
)
def fn_business_days_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day latency arithmetic: order→ship deltas counted in
    WEEKDAYS via the cumulative-business-day index bd(d) = 5·⌊d/7⌋ +
    min(d mod 7, 5) anchored on a known Monday — bus_days = bd(ship) −
    bd(order), the closed form that replaces a calendar explode (and
    the correction every "datediff/7·5" approximation gets wrong at
    week boundaries). Calendar vs business means side by side per
    priority, plus a 65-business-day SLA breach count. Exact integer
    arithmetic throughout; one orderkey join, fixed literals shared
    with the oracle."""
    t = Tables(spark, sf_dir)
    anchor = F.lit("1990-01-01")  # a known Monday; dates BEFORE it give
    # negative offsets, so the index uses FLOOR division and POSITIVE
    # modulo explicitly on both sides (epoch tier: DuckDB // truncates
    # toward zero on negatives while F.floor rounds down, and % takes the
    # dividend sign in both engines — pmod is the portable weekday)

    def bd(col):
        d = F.datediff(F.to_date(col), F.to_date(anchor))
        return 5 * F.floor(d / 7) + F.least(F.pmod(d, 7), F.lit(5))

    lat = (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .select(
            "o_orderpriority",
            F.datediff(
                F.to_date("l_shipdate"), F.to_date("o_orderdate")
            ).alias("cal_days"),
            (bd(F.col("l_shipdate")) - bd(F.col("o_orderdate"))).alias(
                "bus_days"
            ),
        )
    )
    n = F.count(F.lit(1))
    return lat.groupBy("o_orderpriority").agg(
        n.alias("n"),
        pround(F.sum("cal_days").cast("double") / n).alias("mean_cal_days"),
        pround(F.sum("bus_days").cast("double") / n).alias("mean_bus_days"),
        F.sum(F.when(F.col("bus_days") > 65, 1).otherwise(0))
        .cast("bigint")
        .alias("n_sla_breach"),
    )


@register(
    "fn_minmax_scale_check",
    oracle="""
WITH cuts AS (
  SELECT event_type, min(value) AS lo, max(value) AS hi
  FROM events
  WHERE (value IS NULL OR isfinite(value))
  GROUP BY event_type
),
scaled AS (
  SELECT e.event_type,
         (e.value - c.lo) / nullif(c.hi - c.lo, 0) AS s
  FROM events e JOIN cuts c ON e.event_type = c.event_type
  WHERE (e.value IS NULL OR isfinite(e.value))
)
SELECT event_type,
       count(*) AS n,
       floor(min(s) * 1000000 + 0.5) / 1000000 AS scaled_min,
       floor(max(s) * 1000000 + 0.5) / 1000000 AS scaled_max,
       floor(CAST(sum(CAST(floor(s * 1000000000 + 0.5) / 1000000000
                           AS DECIMAL(38, 9))) AS DOUBLE) / count(*)
             * 1000000 + 0.5) / 1000000 AS scaled_mean
FROM scaled GROUP BY event_type
""",
)
def fn_minmax_scale_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max feature scaling with its invariants emitted as output:
    per type, scaled min must be 0 and max must be 1 (nullif guards
    the degenerate constant column), and the scaled mean summarizes
    the distribution's position in-range — the feature-engineering
    normalization step with its unit test built into the result. The
    mean uses the 9dp-round-then-DECIMAL-sum idiom
    (events_attribution_linear) so the Σ of scaled doubles is
    order-independent; min/max are order-free already. Cuts are
    types-sized and broadcast. Scales the FINITE domain only (nan-tier
    contract, mirrored in the oracle): a single +Inf makes hi-lo
    infinite — every scaled value collapses to 0 — and NaN through the
    9dp floor grid is an INT128 conversion error in the oracle; min-max
    scaling of non-finite features is undefined, so they quarantine."""
    from ai_dataingestion_spark.functions.portable import finite

    e = Tables(spark, sf_dir).events.where(finite("value"))
    cuts = e.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    s = (F.col("value") - F.col("lo")) / F.nullif(
        F.col("hi") - F.col("lo"), F.lit(0.0)
    )
    scaled = e.join(F.broadcast(cuts), "event_type").select(
        "event_type", s.alias("s")
    )
    n = F.count(F.lit(1))
    return scaled.groupBy("event_type").agg(
        n.alias("n"),
        pround(F.min("s")).alias("scaled_min"),
        pround(F.max("s")).alias("scaled_max"),
        pround(
            F.sum(pround(F.col("s"), 9).cast("decimal(38,9)")).cast("double")
            / n
        ).alias("scaled_mean"),
    )


@register(
    "text_readability_score",
    oracle="""
WITH scored AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_words,
         greatest(len(regexp_split_to_array(text, '[.!?]+')) - 1, 1)
           AS n_sentences,
         len(regexp_extract_all(text, '[aeiouy]+')) AS n_syllables
  FROM documents
),
fk AS (
  SELECT source,
         floor((0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59)
               * 1000000 + 0.5) / 1000000 AS grade
  FROM scored
)
SELECT source,
       count(*) AS n_docs,
       CAST(quantile_cont(grade, 0.5) AS DOUBLE) AS p50_grade,
       floor(CAST(sum(CAST(grade AS DECIMAL(38, 6))) AS DOUBLE) / count(*)
             * 1000000 + 0.5) / 1000000 AS mean_grade
FROM fk GROUP BY source
""",
)
def text_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade-level readability per source, with the
    standard syllable proxy (vowel-run count — the deterministic
    heuristic used when no pronunciation dictionary ships): grade =
    0.39·(words/sentences) + 11.8·(syllables/words) − 15.59. The
    text-difficulty signal that routes corpora toward child-safe,
    simplified, or technical training mixes. Per-doc grades are
    portable-rounded once, then the per-source mean accumulates the
    ROUNDED values in DECIMAL (order-independent) and the median
    interpolates on them. Expression-only until the sources-sized
    rollup."""
    d = Tables(spark, sf_dir).documents
    n_words = F.size(F.split("text", " "))
    n_sentences = F.greatest(
        F.size(F.split("text", r"[.!?]+")) - 1, F.lit(1)
    )
    n_syll = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[aeiouy]+"), F.lit(0))
    )
    grade = pround(
        0.39 * (n_words.cast("double") / n_sentences)
        + 11.8 * (n_syll.cast("double") / n_words)
        - 15.59
    )
    fk = d.select("source", grade.alias("grade"))
    n = F.count(F.lit(1))
    return fk.groupBy("source").agg(
        n.alias("n_docs"),
        F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY grade)").alias(
            "p50_grade"
        ),
        pround(
            F.sum(F.col("grade").cast("decimal(38,6)")).cast("double") / n
        ).alias("mean_grade"),
    )


@register(
    "orders_ytd_vs_prior_year",
    oracle="""
WITH daily AS (
  SELECT year(o_orderdate) AS y, dayofyear(o_orderdate) AS doy,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))) AS rev
  FROM orders GROUP BY 1, 2
),
ytd AS (
  SELECT y, doy,
         sum(rev) OVER (PARTITION BY y ORDER BY doy
                        ROWS UNBOUNDED PRECEDING) AS ytd_rev
  FROM daily
),
paired AS (
  SELECT c.y, c.doy,
         CAST(round(c.ytd_rev, 2) AS DOUBLE) AS ytd_rev,
         CAST(round(p.ytd_rev, 2) AS DOUBLE) AS prior_ytd_rev
  FROM ytd c LEFT JOIN ytd p ON p.y = c.y - 1 AND p.doy = c.doy
)
SELECT y, doy, ytd_rev, prior_ytd_rev,
       CASE WHEN prior_ytd_rev IS NOT NULL THEN
         floor((ytd_rev - prior_ytd_rev) / prior_ytd_rev * 1000000 + 0.5)
           / 1000000
       END AS yoy_ytd_growth
FROM paired
WHERE doy <= 28 AND y >= 1996
""",
)
def orders_ytd_vs_prior_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-to-date revenue aligned against the SAME day-of-year of the
    prior year — the finance dashboard's "are we ahead of last year"
    curve, which a plain cumulative sum can't answer without the
    day-of-year self-join alignment. Cumulative windows run over the
    years×days aggregate (broadcast-sized); the prior-year pairing is
    a keyed self-join on (y−1, doy); DECIMAL accumulations, one
    rounded growth division. Clamped to the first 28 days × full
    prior years so leap-day and partial-first-year artifacts stay out
    of the comparison."""
    o = Tables(spark, sf_dir).orders
    daily = o.groupBy(
        F.year("o_orderdate").alias("y"),
        F.dayofyear("o_orderdate").alias("doy"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("rev"))
    w = Window.partitionBy("y").orderBy("doy").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ytd = daily.select(
        "y", "doy", F.sum("rev").over(w).alias("ytd_rev_d")
    )
    cur = ytd.select(
        "y", "doy", F.round("ytd_rev_d", 2).cast("double").alias("ytd_rev")
    )
    prior = ytd.select(
        (F.col("y") + 1).alias("y"),
        "doy",
        F.round("ytd_rev_d", 2).cast("double").alias("prior_ytd_rev"),
    )
    growth = pround(
        (F.col("ytd_rev") - F.col("prior_ytd_rev")) / F.col("prior_ytd_rev")
    )
    return (
        cur.join(prior, ["y", "doy"], "left")
        .filter((F.col("doy") <= 28) & (F.col("y") >= 1996))
        .select(
            "y",
            "doy",
            "ytd_rev",
            "prior_ytd_rev",
            F.when(F.col("prior_ytd_rev").isNotNull(), growth).alias(
                "yoy_ytd_growth"
            ),
        )
    )


# ===========================================================================
# wave module round5z (formerly operators/round5z.py)
# Round-5 twenty-sixth wave (SURVEY.md §2.Q, continued): tokenizer
# vocabulary coverage, as-of join direction variants, key-sequence gap
# auditing via the two-level decomposition, and a snapshot-retention GC
# planner.
# ===========================================================================

_VOCAB = [
    "join", "hash", "row", "batch", "scan", "filter", "merge", "order",
    "column", "index", "sort", "cache", "spill", "page", "key", "block",
]


@register(
    "text_vocab_oov_rate",
    oracle=f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN w IN ({", ".join(f"'{w}'" for w in _VOCAB)})
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
       floor(CAST(sum(CASE WHEN w IN ({", ".join(f"'{w}'" for w in _VOCAB)})
                           THEN 0 ELSE 1 END) AS DOUBLE) / count(*)
             * 1000000 + 0.5) / 1000000 AS oov_rate
FROM toks GROUP BY source
""",
)
def text_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: per source, the share of corpus
    tokens OUTSIDE a fixed 16-entry vocabulary — the out-of-vocabulary
    rate that decides whether a tokenizer (or its replacement) fits a
    data source before a single training step is paid. The vocab is a
    literal shared verbatim with the oracle (the sentiment-lexicon
    fixture idiom); one token explode + conditional counts,
    partial-aggregable, sources-sized output."""
    d = Tables(spark, sf_dir).documents
    toks = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    oov = F.sum(F.when(F.col("w").isin(_VOCAB), 0).otherwise(1))
    n = F.count(F.lit(1))
    return toks.groupBy("source").agg(
        n.cast("bigint").alias("n_tokens"),
        oov.cast("bigint").alias("n_oov"),
        pround(oov.cast("double") / n).alias("oov_rate"),
    )


@register(
    "join_asof_directions",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         epoch_us(ts) AS t
  FROM events
),
windowed AS (
  SELECT user_id, event_id, t, event_type,
         last_value(CASE WHEN event_type = 'error' THEN t END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS err_before,
         first_value(CASE WHEN event_type = 'error' THEN t END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS err_after
  FROM seq
),
enriched AS (SELECT * FROM windowed WHERE event_type = 'purchase')
SELECT user_id,
       count(*) AS n_purchases,
       CAST(sum(CASE WHEN err_before IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_prior_error,
       CAST(max(t - err_before) AS BIGINT) AS max_us_since_error,
       CAST(min(err_after - t) AS BIGINT) AS min_us_to_next_error,
       CAST(sum(CASE WHEN err_before IS NOT NULL AND err_after IS NOT NULL
                      AND t - err_before <= err_after - t THEN 1
                     WHEN err_before IS NOT NULL AND err_after IS NULL THEN 1
                     ELSE 0 END) AS BIGINT) AS n_nearest_is_backward
FROM enriched GROUP BY user_id
""",
)
def join_asof_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full as-of direction family — BACKWARD (most recent error
    before each purchase), FORWARD (next error after), and NEAREST
    (whichever is closer, backward winning ties) — computed for every
    purchase without any self-join: two ignore-nulls windows over ONE
    user partitioning carry the prior/next error timestamps along the
    timeline (join_asof covers backward via join; this is the
    window-spelled generalization the direction argument of a real
    asof API maps to). Exact integer µs arithmetic; per-user rollup."""
    e = Tables(spark, sf_dir).events
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = e.select(
        "user_id", "event_id", "event_type", t.alias("t")
    )
    err_t = F.when(F.col("event_type") == "error", F.col("t"))
    # asc_nulls_last: NULL-t rows sit at the partition end in the oracle
    # engine's ORDER BY t; matching placement keeps the carry windows
    # row-identical (NULL-t errors are skipped as VALUES by ignore-nulls
    # on both sides, but their POSITION shifts every neighbor otherwise)
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("t"), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # strictly-after carry as a REVERSED running frame (same rewrite as
    # events_gap_fill_linear, round 10): Spark's unbounded-following frame
    # is O(n²) per partition; the descending running frame is O(n). The
    # reversed order mirrors (asc_nulls_last t, asc event_id) exactly.
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc_nulls_first("t"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    enriched = seq.select(
        "user_id",
        "event_id",
        "t",
        "event_type",
        F.last(err_t, ignorenulls=True).over(wb).alias("err_before"),
        F.last(err_t, ignorenulls=True).over(wf).alias("err_after"),
    ).filter(F.col("event_type") == "purchase")
    nearest_back = F.when(
        F.col("err_before").isNotNull()
        & F.col("err_after").isNotNull()
        & (
            F.col("t") - F.col("err_before")
            <= F.col("err_after") - F.col("t")
        ),
        1,
    ).when(
        F.col("err_before").isNotNull() & F.col("err_after").isNull(), 1
    ).otherwise(0)
    return enriched.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.when(F.col("err_before").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_prior_error"),
        F.max(F.col("t") - F.col("err_before"))
        .cast("bigint")
        .alias("max_us_since_error"),
        F.min(F.col("err_after") - F.col("t"))
        .cast("bigint")
        .alias("min_us_to_next_error"),
        F.sum(nearest_back).cast("bigint").alias("n_nearest_is_backward"),
    )


_GAP_BUCKET = 4096


@register(
    "quality_key_sequence_gaps",
    oracle=f"""
WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders),
buckets AS (
  SELECT k // {_GAP_BUCKET} AS b, min(k) AS kmin, max(k) AS kmax,
         count(*) AS n
  FROM keys GROUP BY b
),
intra AS (
  -- gap mass inside each bucket: span+1 minus present keys
  SELECT CAST(sum(kmax - kmin + 1 - n) AS BIGINT) AS intra_missing
  FROM buckets
),
inter AS (
  -- gap mass between consecutive buckets' boundary keys
  SELECT CAST(sum(kmin - prev_kmax - 1) AS BIGINT) AS inter_missing,
         CAST(max(kmin - prev_kmax - 1) AS BIGINT) AS largest_boundary_gap
  FROM (SELECT kmin, lag(kmax) OVER (ORDER BY b) AS prev_kmax FROM buckets)
  WHERE prev_kmax IS NOT NULL
),
bounds AS (
  SELECT min(k) AS k_lo, max(k) AS k_hi, count(*) AS n_keys FROM keys
)
SELECT n_keys,
       k_hi - k_lo + 1 AS span,
       CAST(k_hi - k_lo + 1 - n_keys AS BIGINT) AS total_missing,
       intra_missing,
       inter_missing,
       largest_boundary_gap
FROM bounds CROSS JOIN intra CROSS JOIN inter
""",
)
def quality_key_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-sequence gap audit — lost-data detection for a should-be-
    dense key space: total missing keys in the observed span,
    decomposed into intra-bucket and bucket-boundary gap mass (the two
    must sum to the total — an internal consistency check the oracle
    hashes). Scale shape: keys aggregate into {_GAP_BUCKET}-wide
    buckets FIRST, so the only ordered window runs over the
    buckets-sized relation — the two-level decomposition
    (events_peak_concurrency's prefix-sum argument) applied to gap
    detection; a naive lag over raw sorted keys would serialize the
    whole key space through one partition."""
    o = Tables(spark, sf_dir).orders
    keys = o.select(F.col("o_orderkey").alias("k")).distinct()
    buckets = keys.groupBy(
        (F.col("k") / _GAP_BUCKET).cast("bigint").alias("b")
    ).agg(
        F.min("k").alias("kmin"),
        F.max("k").alias("kmax"),
        F.count(F.lit(1)).alias("n"),
    )
    intra = buckets.agg(
        F.sum(F.col("kmax") - F.col("kmin") + 1 - F.col("n"))
        .cast("bigint")
        .alias("intra_missing")
    )
    w = Window.orderBy("b")
    inter = (
        buckets.select(
            "kmin", F.lag("kmax").over(w).alias("prev_kmax")
        )
        .filter(F.col("prev_kmax").isNotNull())
        .agg(
            F.sum(F.col("kmin") - F.col("prev_kmax") - 1)
            .cast("bigint")
            .alias("inter_missing"),
            F.max(F.col("kmin") - F.col("prev_kmax") - 1)
            .cast("bigint")
            .alias("largest_boundary_gap"),
        )
    )
    bounds = keys.agg(
        F.min("k").alias("k_lo"),
        F.max("k").alias("k_hi"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    return (
        bounds.crossJoin(F.broadcast(intra))
        .crossJoin(F.broadcast(inter))
        .select(
            "n_keys",
            (F.col("k_hi") - F.col("k_lo") + 1).alias("span"),
            (F.col("k_hi") - F.col("k_lo") + 1 - F.col("n_keys"))
            .cast("bigint")
            .alias("total_missing"),
            "intra_missing",
            "inter_missing",
            "largest_boundary_gap",
        )
    )


@register(
    "pipeline_retention_gc_plan",
    oracle="""
WITH snapshots AS (
  -- o_orderdate IS NOT NULL: a snapshot without a date has no age (and
  -- the oracle engine's window ranking over a NULL grouped date is
  -- unreliable — see orders_cumulative_share_monthly)
  SELECT DISTINCT date_trunc('month', o_orderdate) AS snap
  FROM orders WHERE o_orderdate IS NOT NULL
),
ranked AS (
  SELECT snap,
         row_number() OVER (ORDER BY snap DESC) AS age_rank
  FROM snapshots
)
SELECT snap,
       CAST(age_rank AS BIGINT) AS age_rank,
       CASE WHEN age_rank <= 3 THEN 'keep_recent'
            WHEN (age_rank - 4) % 3 = 0 THEN 'keep_thinned'
            ELSE 'delete' END AS action
FROM ranked
""",
)
def pipeline_retention_gc_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-retention GC planner (the VACUUM work-list): monthly
    snapshots ranked newest-first, the 3 most recent kept outright,
    every 3rd older snapshot kept as the thinned history, the rest
    marked delete — the keep-recent + exponential/periodic-thinning
    policy every lakehouse table ages under. Rank arithmetic only, over
    the snapshots-sized relation; the emitted plan is the input a GC
    executor consumes (and what retention audits diff against)."""
    o = Tables(spark, sf_dir).orders.where(F.col("o_orderdate").isNotNull())
    snaps = o.select(
        F.date_trunc("month", "o_orderdate").alias("snap")
    ).distinct()
    w = Window.orderBy(F.desc("snap"))
    ranked = snaps.withColumn("age_rank", F.row_number().over(w))
    action = (
        F.when(F.col("age_rank") <= 3, "keep_recent")
        .when((F.col("age_rank") - 4) % 3 == 0, "keep_thinned")
        .otherwise("delete")
    )
    return ranked.select(
        "snap",
        F.col("age_rank").cast("bigint").alias("age_rank"),
        action.alias("action"),
    )
