"""Round-6 operator waves (SURVEY.md §2.R), consolidated from the former
per-wave modules round6a–round6z (registration order preserved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    grid_sum,
    grid_sum_sql,
    pround,
)
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.tmpdirs import op_tmpdir
from ai_dataingestion_spark.scale import broadcast_if_small, table_bytes
from ai_dataingestion_spark.ai.dedup import (
    _DUP_OFFSET,
    _MINHASH_ORACLE,
    _corpus_with_near_dups,
    _duck_h,
    _spark_h,
    minhash_candidates,
    minhash_signature,
    shingle_pair_sides,
    shingle_sets,
)
import os
import math
from ai_dataingestion_spark.registry import Tables, register_views
import glob


# ===========================================================================
# wave module round6a (formerly operators/round6a.py)
# Round-5 twenty-seventh wave (SURVEY.md §2.Q, continued):
# difference-in-differences estimation, a Laspeyres price index,
# sink file-layout auditing, and incremental batch novelty.
# ===========================================================================

_DID_CUT = "2024-01-15"


@register(
    "events_diff_in_differences",
    oracle=f"""
WITH tagged AS (
  SELECT CASE WHEN CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                        AS BIGINT) % 2 = 0
              THEN 'treated' ELSE 'control' END AS grp,
         CASE WHEN ts < TIMESTAMP '{_DID_CUT}' THEN 'pre' ELSE 'post' END
           AS period,
         CAST(value AS DECIMAL(38, 2)) AS v
  FROM events
  WHERE (value IS NULL OR isfinite(value))
),
cells AS (
  SELECT grp, period, count(*) AS n,
         CAST(sum(v) AS DOUBLE) AS s
  FROM tagged GROUP BY grp, period
),
wide AS (
  SELECT
    max(CASE WHEN grp = 'treated' AND period = 'pre'  THEN s / n END) AS t0,
    max(CASE WHEN grp = 'treated' AND period = 'post' THEN s / n END) AS t1,
    max(CASE WHEN grp = 'control' AND period = 'pre'  THEN s / n END) AS c0,
    max(CASE WHEN grp = 'control' AND period = 'post' THEN s / n END) AS c1,
    CAST(sum(n) AS BIGINT) AS n_events
  FROM cells
)
SELECT n_events,
       floor(t0 * 1000000 + 0.5) / 1000000 AS treated_pre,
       floor(t1 * 1000000 + 0.5) / 1000000 AS treated_post,
       floor(c0 * 1000000 + 0.5) / 1000000 AS control_pre,
       floor(c1 * 1000000 + 0.5) / 1000000 AS control_post,
       floor(((t1 - t0) - (c1 - c0)) * 1000000 + 0.5) / 1000000
         AS did_estimate
FROM wide
""",
)
def events_diff_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: (post − pre) for the treated group
    minus (post − pre) for control — the workhorse causal estimator
    when randomization is only at the group level, composed from the
    repo's two established idioms (md5-nibble deterministic group
    assignment, cutover-date period split). Four cell means from
    exact DECIMAL sums, the DiD contrast derived with identical IEEE
    order in both engines. One partial-aggregable pass to a 4-cell
    relation. Metric gated to the FINITE domain (nan-tier contract,
    mirrored in the oracle): ±Inf is a DECIMAL conversion error in the
    oracle's exact-sum path."""
    from ai_dataingestion_spark.functions.portable import finite

    e = Tables(spark, sf_dir).events.where(finite("value"))
    grp = F.when(
        F.expr(
            "conv(substring(md5(cast(user_id as string)), 1, 1), 16, 10)"
        ).cast("bigint")
        % 2
        == 0,
        "treated",
    ).otherwise("control")
    period = F.when(
        F.col("ts") < F.lit(_DID_CUT).cast("timestamp"), "pre"
    ).otherwise("post")
    cells = e.select(
        grp.alias("grp"),
        period.alias("period"),
        F.col("value").cast("decimal(38,2)").alias("v"),
    ).groupBy("grp", "period").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").cast("double").alias("s")
    )

    def cell(g: str, p: str):
        return F.max(
            F.when(
                (F.col("grp") == g) & (F.col("period") == p),
                F.col("s") / F.col("n"),
            )
        )

    wide = cells.agg(
        cell("treated", "pre").alias("t0"),
        cell("treated", "post").alias("t1"),
        cell("control", "pre").alias("c0"),
        cell("control", "post").alias("c1"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    return wide.select(
        "n_events",
        pround(F.col("t0")).alias("treated_pre"),
        pround(F.col("t1")).alias("treated_post"),
        pround(F.col("c0")).alias("control_pre"),
        pround(F.col("c1")).alias("control_post"),
        pround(
            (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0"))
        ).alias("did_estimate"),
    )


@register(
    "lineitem_price_index",
    oracle="""
WITH yearly AS (
  SELECT l_partkey, year(l_shipdate) AS y,
         sum(CAST(l_quantity AS DECIMAL(38, 2))) AS q,
         sum(CAST(l_extendedprice AS DECIMAL(38, 2))) AS spend
  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
  GROUP BY 1, 2
),
paired AS (
  SELECT b.l_partkey,
         CAST(b.spend AS DOUBLE) / CAST(b.q AS DOUBLE) AS p0,
         CAST(c.spend AS DOUBLE) / CAST(c.q AS DOUBLE) AS p1,
         CAST(b.q AS DOUBLE) AS q0
  FROM yearly b JOIN yearly c
    ON b.l_partkey = c.l_partkey AND b.y = 1995 AND c.y = 1996
)
SELECT count(*) AS n_parts_priced,
       floor(CAST(sum(CAST(floor(p1 * q0 * 1000000 + 0.5) / 1000000
                           AS DECIMAL(38, 6))) AS DOUBLE)
             / CAST(sum(CAST(floor(p0 * q0 * 1000000 + 0.5) / 1000000
                             AS DECIMAL(38, 6))) AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS laspeyres_index
FROM paired
""",
)
def lineitem_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index 1995→1996: Σp₁q₀ / Σp₀q₀ over parts traded
    in BOTH years, with base-year quantities as the fixed basket — the
    inflation-style unit-price drift measure a procurement or pricing
    team tracks. Unit prices are spend/quantity from exact DECIMAL
    sums; each p·q₀ term is portable-rounded to 6dp and accumulated in
    DECIMAL (the order-independent-sum idiom), leaving ONE final
    division. The year self-join is parts-keyed."""
    li = Tables(spark, sf_dir).lineitem
    yearly = (
        li.filter(F.year("l_shipdate").isin(1995, 1996))
        .groupBy("l_partkey", F.year("l_shipdate").alias("y"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,2)")).alias("q"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).alias(
                "spend"
            ),
        )
    )
    # try_divide: an all-zero-quantity (part, year) cell has no unit
    # price — NULL propagates through the index exactly like the
    # oracle's x/0 -> NULL
    base = yearly.filter(F.col("y") == 1995).select(
        "l_partkey",
        F.try_divide(
            F.col("spend").cast("double"), F.col("q").cast("double")
        ).alias("p0"),
        F.col("q").cast("double").alias("q0"),
    )
    cur = yearly.filter(F.col("y") == 1996).select(
        "l_partkey",
        F.try_divide(
            F.col("spend").cast("double"), F.col("q").cast("double")
        ).alias("p1"),
    )
    paired = base.join(cur, "l_partkey")
    num = F.sum(
        pround(F.col("p1") * F.col("q0")).cast("decimal(38,6)")
    ).cast("double")
    den = F.sum(
        pround(F.col("p0") * F.col("q0")).cast("decimal(38,6)")
    ).cast("double")
    return paired.agg(
        F.count(F.lit(1)).alias("n_parts_priced"),
        pround(num / den).alias("laspeyres_index"),
    )


@register(
    "sink_file_layout_audit",
    oracle="""
SELECT l_returnflag, 1 AS n_files, count(*) AS n_rows,
       CAST(sum(l_orderkey) AS BIGINT) AS key_sum
FROM lineitem GROUP BY l_returnflag
""",
)
def sink_file_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-layout audit for a partitioned sink: lineitem is written
    partitionBy(returnflag) with one task per flag (the
    repartition-by-partition-column compaction rule), then the audit
    re-reads and counts DISTINCT physical files per partition via
    input_file_name() — pinning n_files = 1 per flag, the layout the
    compaction planner promises (pipeline_compaction_planner plans it;
    this verifies it happened). A layout regression (skew split,
    missing repartition → 32 small files per flag) breaks the hash,
    not just a log line."""
    li = Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_returnflag")
    out = op_tmpdir("sink_layout_")
    (
        li.repartition("l_returnflag")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(out)
    )
    back = spark.read.schema("l_orderkey bigint, l_returnflag string").parquet(
        out
    )
    # input_file_name() is non-deterministic to the analyzer: project it
    # into a column first, THEN aggregate over the materialized value
    tagged = back.withColumn("fname", F.input_file_name())
    return tagged.groupBy("l_returnflag").agg(
        F.countDistinct("fname").cast("int").alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_orderkey").cast("bigint").alias("key_sum"),
    )


@register(
    "text_batch_novelty_rate",
    oracle="""
WITH tokenized AS MATERIALIZED (
  -- split hoisted OUT of the lateral: inlined, DuckDB re-splits the text
  -- per (row, i) — O(tokens x chars) on 100k-char docs (round 10)
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents
  -- text IS NOT NULL: a NULL doc yields no shingles (it would otherwise
  -- contribute a DISTINCT NULL digest on this side only)
  WHERE text IS NOT NULL
),
lake_grams AS (
  SELECT DISTINCT md5(array_to_string(
           list_slice(toks, i, i + 2), ' ')) AS g
  FROM tokenized,
       unnest(generate_series(1, greatest(len(toks) - 2, 1))) s(i)
  WHERE doc_id % 3 <> 0
),
batch_grams AS (
  SELECT DISTINCT md5(array_to_string(
           list_slice(toks, i, i + 2), ' ')) AS g
  FROM tokenized,
       unnest(generate_series(1, greatest(len(toks) - 2, 1))) s(i)
  WHERE doc_id % 3 = 0
)
SELECT (SELECT count(*) FROM batch_grams) AS batch_distinct_grams,
       (SELECT count(*) FROM batch_grams b
        WHERE NOT EXISTS (SELECT 1 FROM lake_grams l WHERE l.g = b.g))
         AS novel_grams,
       floor((SELECT CAST(count(*) AS DOUBLE) FROM batch_grams b
              WHERE NOT EXISTS (SELECT 1 FROM lake_grams l WHERE l.g = b.g))
             / (SELECT count(*) FROM batch_grams) * 1000000 + 0.5)
         / 1000000 AS novelty_rate
""",
)
def text_batch_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental information gain of an ingest batch: the share of
    the batch's distinct 3-gram shingles NEVER seen in the lake — near
    0 means the batch is re-hashed content not worth paying training
    compute for, complementing dedup_incremental_batch (which asks
    about whole documents; this measures partial novelty). Both sides
    reduce to DISTINCT md5 shingle digests before the anti-join, so
    text never shuffles and the join keys are 16 bytes — the lake-side
    relation is the same digest index the incremental dedup keeps."""
    d = Tables(spark, sf_dir).documents
    toks = F.split("text", " ")
    # NULL branch: size(NULL) = -1 + concat_ws(' ', NULL) = '' would mint
    # md5('') shingles for NULL docs (the _SHINGLES_EXPR rule)
    grams = F.expr(
        "CASE WHEN toks IS NULL THEN NULL"
        " ELSE transform(sequence(1, greatest(size(toks) - 2, 1)),"
        " i -> md5(concat_ws(' ', slice(toks, i, 3)))) END"
    )

    def gram_set(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("toks", toks)
            .select(F.explode(grams).alias("g"))
            .distinct()
        )

    lake = gram_set(d.filter(F.col("doc_id") % 3 != 0))
    batch = gram_set(d.filter(F.col("doc_id") % 3 == 0))
    novel = batch.join(lake, "g", "left_anti")
    n_batch = batch.agg(
        F.count(F.lit(1)).alias("batch_distinct_grams")
    )
    n_novel = novel.agg(F.count(F.lit(1)).alias("novel_grams"))
    return (
        n_batch.crossJoin(F.broadcast(n_novel))
        .select(
            "batch_distinct_grams",
            "novel_grams",
            pround(
                F.col("novel_grams").cast("double")
                / F.col("batch_distinct_grams")
            ).alias("novelty_rate"),
        )
    )


# ===========================================================================
# wave module round6b (formerly operators/round6b.py)
# Round-5 twenty-eighth wave (SURVEY.md §2.Q, continued): CUPED
# variance reduction, log2 heavy-tail histogram, a composite supplier
# scorecard, and experiment sample-size calculation — closing the
# experimentation suite (z-test, Welch t, DiD, CUPED, power).
# ===========================================================================

_CUPED_CUT = "2024-01-15"


@register(
    "events_cuped_adjustment",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}'
                       THEN CAST(value AS DECIMAL(38, 2)) ELSE 0 END)
              AS DOUBLE) AS x,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT}'
                       THEN CAST(value AS DECIMAL(38, 2)) ELSE 0 END)
              AS DOUBLE) AS y
  FROM events
  WHERE (value IS NULL OR isfinite(value))
  GROUP BY user_id
),
mo AS (
  -- first moments through the 6dp-round-then-DECIMAL idiom (its domain,
  -- |x| < ~9e12, covers any per-user total); SECOND moments are raw
  -- double sums: x*y at lake magnitudes (~1e20) is past both the idiom's
  -- floor-grid exactness and the engine's integer floor range, and the
  -- downstream ratios are scale-free while the variances are emitted as
  -- mantissa/exponent pairs (functions/portable.py)
  SELECT count(*) AS n,
         CAST(sum(CAST(floor(x * 1000000 + 0.5) / 1000000
                       AS DECIMAL(38, 6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(floor(y * 1000000 + 0.5) / 1000000
                       AS DECIMAL(38, 6))) AS DOUBLE) AS sy,
         sum(x * y) AS sxy,
         sum(x * x) AS sxx,
         sum(y * y) AS syy
  FROM per_user
),
derived AS (
  SELECT n,
         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta_raw,
         (syy - sy * sy / n) / (n - 1) AS var_y_raw,
         ((syy - sy * sy / n)
          - (sxy - sx * sy / n) * (sxy - sx * sy / n)
            / (sxx - sx * sx / n)) / (n - 1) AS var_cuped_raw,
         1 - ((syy - sy * sy / n)
              - (sxy - sx * sy / n) * (sxy - sx * sy / n)
                / (sxx - sx * sx / n))
             / (syy - sy * sy / n) AS vr_raw
  FROM mo
)
SELECT n,
       floor(theta_raw * 1000000 + 0.5) / 1000000 AS theta,
       CASE WHEN var_y_raw = 0 THEN 0.0
            ELSE round(var_y_raw / pow(10, floor(log10(abs(var_y_raw)))), 6)
       END AS var_y_mant,
       CAST(CASE WHEN var_y_raw = 0 THEN 0
                 ELSE floor(log10(abs(var_y_raw))) END AS INT)
         AS var_y_exp10,
       CASE WHEN var_cuped_raw = 0 THEN 0.0
            ELSE round(var_cuped_raw
                   / pow(10, floor(log10(abs(var_cuped_raw)))), 6)
       END AS var_y_cuped_mant,
       CAST(CASE WHEN var_cuped_raw = 0 THEN 0
                 ELSE floor(log10(abs(var_cuped_raw))) END AS INT)
         AS var_y_cuped_exp10,
       floor(vr_raw * 1000000 + 0.5) / 1000000 AS variance_reduction
FROM derived
""",
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013): per user, the
    pre-period value total X becomes the covariate for the post-period
    metric Y; θ = cov(X,Y)/var(X), and var(Y − θX) = var(Y)·(1 − ρ²) —
    the standard trick that cuts experiment runtimes by the squared
    pre/post correlation. Per-user X/Y from exact DECIMAL sums; cross
    moments use the 6dp-round-then-DECIMAL-accumulate idiom so Σxy is
    order-independent; θ and both variances derive with identical IEEE
    order. One per-user reduce, then a single moment row. The metric is
    gated to the FINITE domain (nan-tier contract, mirrored in the
    oracle): a ±Inf value is a DECIMAL conversion error in the oracle
    and would zero the covariance structure here."""
    from ai_dataingestion_spark.functions.portable import finite

    e = Tables(spark, sf_dir).events.where(finite("value"))
    dec = F.col("value").cast("decimal(38,2)")
    pre = F.col("ts") < F.lit(_CUPED_CUT).cast("timestamp")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(pre, dec).otherwise(F.lit(0))).cast("double").alias("x"),
        F.sum(F.when(~pre, dec).otherwise(F.lit(0)))
        .cast("double")
        .alias("y"),
    )
    # second moments are RAW double sums (the 6dp-round idiom's floor
    # grid is exact only below ~9e12; x*y reaches ~1e20 at lake
    # magnitudes); the scale-free ratios stay 6dp, the variances emit as
    # mantissa/exponent pairs (oracle mirrors both shapes)
    from ai_dataingestion_spark.functions.portable import mant_exp_cols

    mo = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(pround(F.col("x")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sx"),
        F.sum(pround(F.col("y")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cxy = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    cxx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    var_y = cyy / (F.col("n") - 1)
    var_cuped = (cyy - cxy * cxy / cxx) / (F.col("n") - 1)
    return mo.select(
        "n",
        pround(cxy / cxx).alias("theta"),
        *mant_exp_cols(var_y, "var_y"),
        *mant_exp_cols(var_cuped, "var_y_cuped"),
        pround(1 - (cyy - cxy * cxy / cxx) / cyy).alias(
            "variance_reduction"
        ),
    )


@register(
    "agg_log2_histogram",
    oracle="""
SELECT CAST(floor(ln(o_totalprice) / ln(2)) AS BIGINT) AS log2_bin,
       count(*) AS n,
       CAST(round(min(o_totalprice), 2) AS DOUBLE) AS bin_min,
       CAST(round(max(o_totalprice), 2) AS DOUBLE) AS bin_max
FROM orders WHERE o_totalprice > 0
GROUP BY 1
""",
)
def agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂ (powers-of-two band) histogram of order totals — the
    binning that actually renders heavy-tailed money/size/latency
    distributions, where agg_histogram_bins' equi-width bands put 95%
    of rows in bin 0 and agg_equidepth_histogram hides the tail's
    magnitude. bin = ⌊ln x / ln 2⌋ on positives — pure comparison-free
    expression arithmetic (ln is correctly-rounded IEEE in both
    engines, and the floor boundary sits at exact powers of two no
    corpus double lands on). Output bounded by the value range's
    log, ~20 rows at any scale."""
    o = Tables(spark, sf_dir).orders.filter(F.col("o_totalprice") > 0)
    bin_ = F.floor(F.log(F.col("o_totalprice")) / F.log(F.lit(2.0))).cast(
        "bigint"
    )
    return o.groupBy(bin_.alias("log2_bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).cast("double").alias("bin_min"),
        F.round(F.max("o_totalprice"), 2).cast("double").alias("bin_max"),
    )


@register(
    "supplier_scorecard_composite",
    oracle="""
WITH metrics AS (
  SELECT l_suppkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38, 2))) AS DOUBLE)
           AS volume,
         CAST(sum(date_diff('day', CAST(o_orderdate AS DATE),
                            CAST(l_shipdate AS DATE))) AS DOUBLE)
           / count(*) AS mean_latency
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_suppkey
),
cuts AS (
  SELECT min(volume) AS vlo, max(volume) AS vhi,
         min(mean_latency) AS llo, max(mean_latency) AS lhi
  FROM metrics
),
scored AS (
  SELECT l_suppkey,
         floor((0.6 * ((volume - vlo) / (vhi - vlo))
                + 0.4 * (1 - (mean_latency - llo) / (lhi - llo)))
               * 1000000 + 0.5) / 1000000 AS score
  FROM metrics CROSS JOIN cuts
)
SELECT l_suppkey, score, CAST(rn AS BIGINT) AS rank FROM (
  SELECT l_suppkey, score,
         row_number() OVER (ORDER BY score DESC, l_suppkey) AS rn
  FROM scored)
WHERE rn <= 10
""",
)
def supplier_scorecard_composite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Composite supplier scorecard: min-max-normalized volume (higher
    better, weight 0.6) blended with normalized mean ship latency
    (lower better, weight 0.4), top-10 ranked — the weighted-KPI
    scorecard pattern every vendor/partner review runs, built from
    the fn_minmax_scale_check normalization and the rounded-before-
    rank determinism rule. One orderkey join, suppliers-sized metric
    relation, broadcast cuts."""
    t = Tables(spark, sf_dir)
    metrics = (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,2)"))
            .cast("double")
            .alias("volume"),
            (
                F.sum(
                    F.datediff(
                        F.to_date("l_shipdate"), F.to_date("o_orderdate")
                    )
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_latency"),
        )
    )
    cuts = metrics.agg(
        F.min("volume").alias("vlo"),
        F.max("volume").alias("vhi"),
        F.min("mean_latency").alias("llo"),
        F.max("mean_latency").alias("lhi"),
    )
    score = pround(
        0.6 * ((F.col("volume") - F.col("vlo")) / (F.col("vhi") - F.col("vlo")))
        + 0.4
        * (
            1
            - (F.col("mean_latency") - F.col("llo"))
            / (F.col("lhi") - F.col("llo"))
        )
    )
    scored = metrics.crossJoin(F.broadcast(cuts)).select(
        "l_suppkey", score.alias("score")
    )
    w = Window.orderBy(F.desc("score"), F.asc("l_suppkey"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select(
            "l_suppkey", "score", F.col("rn").cast("bigint").alias("rank")
        )
    )


@register(
    "events_sample_size_calc",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(38, 2))) AS DOUBLE) AS y
  FROM events
  WHERE (value IS NULL OR isfinite(value))
  GROUP BY user_id
),
mo AS (
  -- syy is a RAW double sum: y*y at lake magnitudes exceeds the 6dp
  -- floor-grid's exact domain; the variance is emitted as a mantissa/
  -- exponent pair and n-per-arm is a scale-free ratio (sigma^2/mean^2)
  SELECT count(*) AS n,
         CAST(sum(CAST(floor(y * 1000000 + 0.5) / 1000000
                       AS DECIMAL(38, 6))) AS DOUBLE) AS sy,
         sum(y * y) AS syy
  FROM per_user
),
derived AS (
  SELECT n, (syy - sy * sy / n) / (n - 1) AS var_raw,
         ceil(2 * ((syy - sy * sy / n) / (n - 1))
              * (1.959964 + 0.841621) * (1.959964 + 0.841621)
              / ((0.05 * (sy / n)) * (0.05 * (sy / n)))) AS n_req
  FROM mo
)
SELECT n AS n_users_observed,
       CASE WHEN var_raw = 0 THEN 0.0
            ELSE round(var_raw / pow(10, floor(log10(abs(var_raw)))), 6)
       END AS metric_variance_mant,
       CAST(CASE WHEN var_raw = 0 THEN 0
                 ELSE floor(log10(abs(var_raw))) END AS INT)
         AS metric_variance_exp10,
       CAST(n_req AS BIGINT) AS n_per_arm_required,
       CAST(CASE WHEN n >= 2 * n_req THEN 1 ELSE 0 END AS INT)
         AS currently_powered
FROM derived
""",
)
def events_sample_size_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power / sample-size calculation from observed data:
    n-per-arm = 2σ²(z_{α/2}+z_β)²/δ² for α=0.05, power 0.8, and a
    minimum detectable effect of 5% of the current mean — the
    answer to "can we even run this test?", computed from the
    per-user metric's observed variance (the same moment pipeline as
    CUPED, whose variance_reduction directly shrinks this n). The z
    constants are fixed literals shared with the oracle; moments use
    the round-then-DECIMAL idiom; output is one row with the
    go/no-go flag. Metric gated to the FINITE domain (nan-tier
    contract, mirrored in the oracle): ±Inf is a DECIMAL conversion
    error in the oracle's exact-sum path."""
    from ai_dataingestion_spark.functions.portable import finite

    e = Tables(spark, sf_dir).events.where(finite("value"))
    per_user = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(38,2)")).cast("double").alias("y")
    )
    # syy raw double (the 6dp idiom's floor grid stops being exact at
    # lake magnitudes); variance emits as mantissa/exponent, n-per-arm
    # is scale-free (sigma^2/mean^2) — oracle mirrors both shapes
    from ai_dataingestion_spark.functions.portable import mant_exp_cols

    mo = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(pround(F.col("y")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    var = (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (
        F.col("n") - 1
    )
    z = 1.959964 + 0.841621
    delta = 0.05 * (F.col("sy") / F.col("n"))
    n_req = F.ceil(2 * var * z * z / (delta * delta))
    return mo.select(
        F.col("n").alias("n_users_observed"),
        *mant_exp_cols(var, "metric_variance"),
        n_req.cast("bigint").alias("n_per_arm_required"),
        F.when(F.col("n") >= 2 * n_req, 1)
        .otherwise(0)
        .cast("int")
        .alias("currently_powered"),
    )


# ===========================================================================
# wave module round6c (formerly operators/round6c.py)
# Round-5 twenty-ninth wave (SURVEY.md §2.Q, continued): Population
# Stability Index drift, the median-of-means robust estimator, and
# quality-aware dedup representative selection.
# ===========================================================================

_PSI_CUT = "2024-01-15"


@register(
    "quality_psi_drift",
    oracle=f"""
WITH pre AS (
  SELECT value FROM events
  WHERE ts < TIMESTAMP '{_PSI_CUT}'
    AND (value IS NULL OR isfinite(value))
),
cuts AS (
  SELECT CAST(quantile_cont(value, 0.1) AS DOUBLE) AS q1,
         CAST(quantile_cont(value, 0.2) AS DOUBLE) AS q2,
         CAST(quantile_cont(value, 0.3) AS DOUBLE) AS q3,
         CAST(quantile_cont(value, 0.4) AS DOUBLE) AS q4,
         CAST(quantile_cont(value, 0.5) AS DOUBLE) AS q5,
         CAST(quantile_cont(value, 0.6) AS DOUBLE) AS q6,
         CAST(quantile_cont(value, 0.7) AS DOUBLE) AS q7,
         CAST(quantile_cont(value, 0.8) AS DOUBLE) AS q8,
         CAST(quantile_cont(value, 0.9) AS DOUBLE) AS q9
  FROM pre
),
binned AS (
  SELECT CASE WHEN ts < TIMESTAMP '{_PSI_CUT}' THEN 'pre' ELSE 'post' END
           AS period,
         (CASE WHEN value > q1 THEN 1 ELSE 0 END) +
         (CASE WHEN value > q2 THEN 1 ELSE 0 END) +
         (CASE WHEN value > q3 THEN 1 ELSE 0 END) +
         (CASE WHEN value > q4 THEN 1 ELSE 0 END) +
         (CASE WHEN value > q5 THEN 1 ELSE 0 END) +
         (CASE WHEN value > q6 THEN 1 ELSE 0 END) +
         (CASE WHEN value > q7 THEN 1 ELSE 0 END) +
         (CASE WHEN value > q8 THEN 1 ELSE 0 END) +
         (CASE WHEN value > q9 THEN 1 ELSE 0 END) AS bin
  FROM events CROSS JOIN cuts
  WHERE (value IS NULL OR isfinite(value))
),
shares AS (
  SELECT bin,
         CAST(sum(CASE WHEN period = 'pre' THEN 1 ELSE 0 END) AS DOUBLE)
           / (SELECT count(*) FROM binned WHERE period = 'pre') AS p,
         CAST(sum(CASE WHEN period = 'post' THEN 1 ELSE 0 END) AS DOUBLE)
           / (SELECT count(*) FROM binned WHERE period = 'post') AS q
  FROM binned GROUP BY bin
),
terms AS (
  SELECT bin,
         CAST(floor((p - q) * ln(p / q) * 1000000000 + 0.5) / 1000000000
              AS DECIMAL(38, 9)) AS term
  FROM shares
)
SELECT count(*) AS n_bins,
       floor(CAST(sum(term) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS psi,
       CAST(CASE WHEN CAST(sum(term) AS DOUBLE) >= 0.2 THEN 1 ELSE 0 END
            AS INT) AS drift_alarm
FROM terms
""",
)
def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between pre- and post-cutover value
    distributions: decile bins fitted on the PRE period (the expected
    distribution), PSI = Σ(pᵢ−qᵢ)·ln(pᵢ/qᵢ), with the standard
    ≥0.2 drift alarm — the binned drift score risk/model monitoring
    standardizes on, complementing quality_ks_two_sample's sup-gap.
    Bin edges are bit-identical interpolated quantiles broadcast once;
    per-bin terms are 9dp-rounded then DECIMAL-summed (order-
    independent); the alarm fires on the UNROUNDED sum in both
    engines. The metric is gated to the FINITE domain on both sides
    (nan-tier contract): a NaN poisons the fitted decile edges — the
    engines' quantile kernels disagree on NaN placement — and an Inf
    would sit in the top bin while corrupting nothing visibly, which is
    exactly the silent-drift failure PSI exists to catch; quarantine
    and let quality_constraints count the non-finite rows."""
    from ai_dataingestion_spark.functions.portable import finite

    e = Tables(spark, sf_dir).events.where(finite("value"))
    pre_pred = F.col("ts") < F.lit(_PSI_CUT).cast("timestamp")
    cuts = e.filter(pre_pred).agg(
        *[
            F.expr(
                f"percentile_cont({q / 10}) WITHIN GROUP (ORDER BY value)"
            ).alias(f"q{q}")
            for q in range(1, 10)
        ]
    )
    bin_ = sum(
        F.when(F.col("value") > F.col(f"q{q}"), 1).otherwise(0)
        for q in range(1, 10)
    )
    binned = e.crossJoin(F.broadcast(cuts)).select(
        F.when(pre_pred, "pre").otherwise("post").alias("period"),
        bin_.alias("bin"),
    )
    # r17: period totals derive from the ≤10-row per-bin counts via an
    # unpartitioned window instead of a second full pass over binned
    # (the old pivot-count ran the scan + crossJoin chain twice — guide
    # §2.4; an op_cache + re-aggregate variant was prototyped and
    # measured SLOWER locally than the extra pass, so the single-chain
    # window form ships). The >0 guard keeps the pivot's
    # NULL-when-period-absent semantics: Σ c_pre = 0 exactly when no
    # pre rows exist, where pivot count yielded NULL (and p/q must stay
    # NULL, not NaN-from-0/0, on that edge).
    w_all = Window.partitionBy()
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == "pre", 1).otherwise(0)).alias(
            "c_pre"
        ),
        F.sum(F.when(F.col("period") == "post", 1).otherwise(0)).alias(
            "c_post"
        ),
    )
    tot_pre = F.sum("c_pre").over(w_all)
    tot_post = F.sum("c_post").over(w_all)
    shares = counts.select(
        "bin",
        (
            F.col("c_pre").cast("double")
            / F.when(tot_pre > 0, tot_pre)
        ).alias("p"),
        (
            F.col("c_post").cast("double")
            / F.when(tot_post > 0, tot_post)
        ).alias("q"),
    )
    term = pround(
        (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")), 9
    ).cast("decimal(38,9)")
    agg = shares.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum(term).cast("double").alias("psi_raw"),
    )
    return agg.select(
        "n_bins",
        pround(F.col("psi_raw")).alias("psi"),
        F.when(F.col("psi_raw") >= 0.2, 1)
        .otherwise(0)
        .cast("int")
        .alias("drift_alarm"),
    )


_MOM_BUCKETS = 10


@register(
    "agg_median_of_means",
    oracle=f"""
WITH bucketed AS (
  SELECT CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
              AS BIGINT) % {_MOM_BUCKETS} AS bkt,
         CAST(o_totalprice AS DECIMAL(38, 2)) AS v
  FROM orders
),
bucket_means AS (
  SELECT bkt,
         floor(CAST(sum(v) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000
           AS m
  FROM bucketed GROUP BY bkt
),
overall AS (
  SELECT floor(CAST(sum(v) AS DOUBLE)
               / count(*) * 1000000 + 0.5) / 1000000 AS plain_mean
  FROM bucketed
)
SELECT {_MOM_BUCKETS} AS n_buckets,
       (SELECT plain_mean FROM overall) AS plain_mean,
       CAST((SELECT quantile_cont(m, 0.5) FROM bucket_means) AS DOUBLE)
         AS median_of_means
""",
)
def agg_median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means robust mean estimation: rows hash into
    {_MOM_BUCKETS} buckets (deterministic md5 assignment — the
    split_train_eval idiom), each bucket's mean is computed from exact
    DECIMAL sums, and the estimator is the MEDIAN of those bucket
    means — sub-Gaussian concentration under heavy tails where the
    plain mean is hostage to outliers, and the estimator behind
    sketch-style robust aggregation at scale (each bucket is a
    partial-aggregable group; only k means meet the median). Plain
    mean emitted alongside for the comparison the estimator exists to
    win."""
    o = Tables(spark, sf_dir).orders
    bkt = (
        F.expr(
            "CAST(conv(substring(md5(cast(o_orderkey as string)), 1, 15),"
            " 16, 10) AS BIGINT)"
        )
        % _MOM_BUCKETS
    )
    dec = F.col("o_totalprice").cast("decimal(38,2)")
    bucketed = o.select(bkt.alias("bkt"), dec.alias("v"))
    bucket_means = bucketed.groupBy("bkt").agg(
        pround(F.sum("v").cast("double") / F.count(F.lit(1))).alias("m")
    )
    overall = bucketed.agg(
        pround(F.sum("v").cast("double") / F.count(F.lit(1))).alias(
            "plain_mean"
        )
    )
    mom = bucket_means.agg(
        F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY m)").alias(
            "median_of_means"
        )
    )
    return (
        overall.crossJoin(F.broadcast(mom))
        .select(
            F.lit(_MOM_BUCKETS).alias("n_buckets"),
            "plain_mean",
            "median_of_means",
        )
    )


@register(
    "dedup_representative_selection",
    oracle="""
WITH corpus AS (
  -- text IS NOT NULL on both sides: a doc with no text has no family
  -- key, and Spark's size(NULL) = -1 vs len(NULL) = NULL would rank
  -- NULL-family members differently
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
  UNION ALL
  -- truncated inferior copies of every 4th doc under offset ids
  SELECT doc_id + 3000000,
         array_to_string(list_slice(string_split(text, ' '), 1,
           greatest(len(string_split(text, ' ')) - 5, 1)), ' ')
  FROM documents WHERE doc_id % 4 = 0 AND text IS NOT NULL
),
keyed AS (
  -- family key: first 5 tokens (the prefix-template family rule)
  SELECT doc_id, text,
         md5(array_to_string(list_slice(string_split(text, ' '), 1, 5), ' '))
           AS family,
         len(string_split(text, ' ')) AS n_tokens
  FROM corpus
),
ranked AS (
  SELECT doc_id, family, n_tokens,
         row_number() OVER (PARTITION BY family
                            ORDER BY n_tokens DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY family) AS family_size
  FROM keyed
)
SELECT doc_id AS representative_id, family,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(family_size AS BIGINT) AS family_size
FROM ranked
WHERE rn = 1 AND family_size >= 2
""",
)
def dedup_representative_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """QUALITY-AWARE canonical selection for dedup families: within each
    family (shared-5-token-prefix key — the template rule), keep the
    RICHEST copy (most tokens, id tiebreak) instead of the arbitrary
    smallest id that plain keep-min dedup retains — the policy layer
    that decides WHICH duplicate survives, which matters when copies
    are truncated or stripped versions of each other (injected here:
    every 4th doc re-enters minus its last 5 tokens and must LOSE to
    its fuller original). One family-partitioned window over
    (family-hash, token-count) — text leaves the scan only as its
    hash and length."""
    d = (
        Tables(spark, sf_dir)
        .documents.where(F.col("text").isNotNull())  # oracle mirrors
        .select("doc_id", "text")
    )
    toks = F.split("text", " ")
    inferior = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, F.greatest(F.size(toks) - 5, F.lit(1))), " "
        ).alias("text"),
    )
    corpus = d.unionByName(inferior)
    keyed = corpus.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 5))).alias(
            "family"
        ),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = Window.partitionBy("family").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    ranked = keyed.select(
        "doc_id",
        "family",
        "n_tokens",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("family")).alias(
            "family_size"
        ),
    )
    return ranked.filter(
        (F.col("rn") == 1) & (F.col("family_size") >= 2)
    ).select(
        F.col("doc_id").alias("representative_id"),
        "family",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("family_size").cast("bigint").alias("family_size"),
    )


# ===========================================================================
# wave module round6d (formerly operators/round6d.py)
# Round-5 thirtieth wave (SURVEY.md §2.Q, continued): moving annual
# total, session-depth survival, session-gap parameter sensitivity, and
# token-length histograms.
# ===========================================================================

@register(
    "orders_moving_annual_total",
    oracle="""
WITH monthly AS (
  -- o_orderdate IS NOT NULL: a NULL month has no seat in a trailing
  -- 12-month frame (see orders_cumulative_share_monthly)
  SELECT date_trunc('month', o_orderdate) AS m,
         sum(CAST(o_totalprice AS DECIMAL(38, 2))) AS rev,
         count(*) AS n
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
),
indexed AS (
  SELECT m, rev, n,
         row_number() OVER (ORDER BY m) AS idx
  FROM monthly
)
SELECT m,
       CAST(round(sum(rev) OVER (ORDER BY idx
              ROWS BETWEEN 11 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
         AS mat_revenue,
       CAST(sum(n) OVER (ORDER BY idx
              ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS mat_orders,
       CAST(count(*) OVER (ORDER BY idx
              ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS INT)
         AS months_in_window
FROM indexed
""",
)
def orders_moving_annual_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving Annual Total — trailing-12-month revenue per month, the
    de-seasonalized trend line commercial reporting defaults to (each
    point contains every season exactly once, so seasonality cancels
    without decomposition). A months-indexed ROWS frame over the
    monthly aggregate (contiguous months in this corpus make the
    row frame ≡ a month-range frame); months_in_window exposes the
    warm-up period where the window is still partial. DECIMAL sums,
    broadcast-sized relation at any order volume."""
    o = Tables(spark, sf_dir).orders.where(F.col("o_orderdate").isNotNull())
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("rev"),
        F.count(F.lit(1)).alias("n"),
    )
    w_idx = Window.orderBy("m")
    indexed = monthly.withColumn("idx", F.row_number().over(w_idx))
    w_mat = Window.orderBy("idx").rowsBetween(-11, Window.currentRow)
    return indexed.select(
        "m",
        F.round(F.sum("rev").over(w_mat), 2)
        .cast("double")
        .alias("mat_revenue"),
        F.sum("n").over(w_mat).cast("bigint").alias("mat_orders"),
        F.count(F.lit(1)).over(w_mat).cast("int").alias("months_in_window"),
    )


_SESSION_SQL_PREFIX = """
seq AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER w > INTERVAL {gap} MINUTE
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM seq
),
lengths AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM sess GROUP BY user_id, session_id
)
"""


@register(
    "events_session_depth_survival",
    oracle="WITH "
    + _SESSION_SQL_PREFIX.format(gap=30)
    + """,
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_sessions FROM lengths)
SELECT k,
       CAST(n_ge_k AS BIGINT) AS n_sessions_ge_k,
       floor(CAST(n_ge_k AS DOUBLE) / n_sessions * 1000000 + 0.5) / 1000000
         AS survival
FROM (
  SELECT g.k, count(*) AS n_ge_k
  FROM (SELECT unnest(generate_series(1, 8)) AS k) g
  JOIN lengths l ON l.n_events >= g.k
  GROUP BY g.k
) CROSS JOIN tot
""",
)
def events_session_depth_survival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session-depth survival curve: the share of sessions reaching at
    least k events, k = 1..8 — the engagement-depth complement of the
    bounce rate (its k=2 point is 1 − bounce), and the curve whose
    slope says where sessions die. Session lengths come from one
    sessionize pass; the ≥k counts join the 8-row k spine against the
    AGGREGATED lengths relation (the events_survival_weeks explode
    pattern) — never against raw events."""
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
        F.when(prev.isNull() | (gap_us > 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lengths = (
        seq.select(
            "user_id", F.sum("is_new").over(cum).alias("session_id")
        )
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    tot = lengths.agg(
        F.count(F.lit(1)).cast("double").alias("n_sessions")
    )
    spine = spark.range(1, 9).select(F.col("id").alias("k"))
    ge_k = (
        F.broadcast(spine)
        .join(lengths, lengths.n_events >= F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_ge_k"))
    )
    return ge_k.crossJoin(F.broadcast(tot)).select(
        "k",
        F.col("n_ge_k").cast("bigint").alias("n_sessions_ge_k"),
        pround(F.col("n_ge_k").cast("double") / F.col("n_sessions")).alias(
            "survival"
        ),
    )


_GAPS_MIN = [15, 30, 60]


def _gap_cfg_sql(gap: int) -> str:
    return (
        "SELECT "
        + str(gap)
        + " AS gap_minutes, count(*) AS n_sessions, "
        + "CAST(quantile_cont(n_events, 0.5) AS DOUBLE) AS p50_events, "
        + "floor(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) "
        + "AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS bounce_rate "
        + "FROM lengths_"
        + str(gap)
    )


@register(
    "events_session_gap_sensitivity",
    oracle="WITH "
    + ",".join(
        _SESSION_SQL_PREFIX.format(gap=g)
        .replace("seq AS", f"seq_{g} AS")
        .replace("sess AS", f"sess_{g} AS")
        .replace("FROM seq", f"FROM seq_{g}")
        .replace("FROM sess", f"FROM sess_{g}")
        .replace("lengths AS", f"lengths_{g} AS")
        for g in _GAPS_MIN
    )
    + "\n"
    + "\nUNION ALL\n".join(_gap_cfg_sql(g) for g in _GAPS_MIN),
)
def events_session_gap_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sessionization gap-parameter sensitivity: the same corpus
    sessionized under 15 / 30 / 60-minute inactivity gaps, reporting
    session count, median depth, and bounce rate per configuration —
    the sweep that turns the 30-minute industry default into a
    justified choice for THIS traffic (the dedup_lsh_band_tuning
    introspection pattern applied to sessionization). Each config is
    one user-partitioned window pass; all three share the same scan."""
    e = Tables(spark, sf_dir).events
    out = None
    for gap in _GAPS_MIN:
        w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
        prev = F.lag("ts").over(w)
        gap_us = F.unix_micros(
            F.col("ts").cast("timestamp")
        ) - F.unix_micros(prev.cast("timestamp"))
        seq = e.select(
            "user_id",
            "ts",
            "event_id",
            F.when(prev.isNull() | (gap_us > gap * 60 * 1_000_000), 1)
            .otherwise(0)
            .alias("is_new"),
        )
        cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        lengths = (
            seq.select(
                "user_id", F.sum("is_new").over(cum).alias("session_id")
            )
            .groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        cfg = lengths.agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.expr(
                "percentile_cont(0.5) WITHIN GROUP (ORDER BY n_events)"
            ).alias("p50_events"),
            pround(bounce.cast("double") / F.count(F.lit(1))).alias(
                "bounce_rate"
            ),
        ).select(
            F.lit(gap).alias("gap_minutes"),
            "n_sessions",
            "p50_events",
            "bounce_rate",
        )
        out = cfg if out is None else out.unionByName(cfg)
    return out


@register(
    "text_token_length_histogram",
    oracle="""
WITH toks AS (
  SELECT len(unnest(string_split(text, ' '))) AS tok_len FROM documents
)
SELECT CAST(least(tok_len, 15) AS BIGINT) AS len_band,
       count(*) AS n_tokens
FROM toks WHERE tok_len > 0
GROUP BY 1
""",
)
def text_token_length_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-length histogram (15+ capped): the tokenizer diagnostic
    that predicts subword fertility — a corpus heavy in long tokens
    fragments into more subwords per word, inflating effective token
    budgets (text_token_count measures totals; this explains them).
    One explode + bounded-band aggregate; output ≤15 rows at any
    scale."""
    d = Tables(spark, sf_dir).documents
    toks = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .select(F.length("tok").alias("tok_len"))
        .filter(F.col("tok_len") > 0)
    )
    return toks.groupBy(
        F.least(F.col("tok_len"), F.lit(15)).cast("bigint").alias("len_band")
    ).agg(F.count(F.lit(1)).alias("n_tokens"))


# ===========================================================================
# wave module round6e (formerly operators/round6e.py)
# Round-5 thirty-first wave (SURVEY.md §2.Q, continued): Spearman
# vocabulary rank stability, longest same-type runs (RLE), embedding
# dimension correlation pairs, and header-driven CSV column
# reconciliation.
# ===========================================================================

@register(
    "text_rank_stability_spearman",
    oracle="""
WITH h1 AS (
  SELECT w, count(*) AS c FROM (
    SELECT unnest(string_split(text, ' ')) AS w
    FROM documents WHERE doc_id % 2 = 0) GROUP BY w
),
h2 AS (
  SELECT w, count(*) AS c FROM (
    SELECT unnest(string_split(text, ' ')) AS w
    FROM documents WHERE doc_id % 2 = 1) GROUP BY w
),
r1 AS (SELECT w, row_number() OVER (ORDER BY c DESC, w) AS r FROM h1),
r2 AS (SELECT w, row_number() OVER (ORDER BY c DESC, w) AS r FROM h2),
paired AS (
  SELECT r1.r AS ra, r2.r AS rb
  FROM r1 JOIN r2 ON r1.w = r2.w
)
SELECT count(*) AS n_shared_tokens,
       floor((1 - 6.0 * sum(CAST((ra - rb) * (ra - rb) AS DOUBLE))
                  / (count(*) * (CAST(count(*) AS DOUBLE) * count(*) - 1)))
             * 1000000 + 0.5) / 1000000 AS spearman_rho,
       CAST(max(abs(ra - rb)) AS BIGINT) AS max_rank_shift
FROM paired
""",
)
def text_rank_stability_spearman(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vocabulary rank stability between corpus halves: Spearman's ρ
    over token frequency RANKS (1 − 6Σd²/(n(n²−1))) plus the largest
    single rank shift — the rank-based drift lens that ignores scale
    and sees only reordering, complementing the mass-based KL/JS
    divergences (a vocabulary can keep its distribution's shape while
    its head reorders — only ranks notice). Ranks break frequency
    ties lexicographically (deterministic cross-engine); d² sums are
    exact integers; one final rounded expression."""
    d = Tables(spark, sf_dir).documents

    def ranks(df: DataFrame, alias: str) -> DataFrame:
        counts = (
            df.select(F.explode(F.split("text", " ")).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.orderBy(F.desc("c"), F.asc("w"))
        return counts.select(
            "w", F.row_number().over(w).alias(alias)
        )

    r1 = ranks(d.filter(F.col("doc_id") % 2 == 0), "ra")
    r2 = ranks(d.filter(F.col("doc_id") % 2 == 1), "rb")
    paired = r1.join(r2, "w")
    n = F.count(F.lit(1))
    d2 = F.sum(
        ((F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))).cast(
            "double"
        )
    )
    rho = 1 - 6.0 * d2 / (n * (n.cast("double") * n - 1))
    return paired.agg(
        n.alias("n_shared_tokens"),
        pround(rho).alias("spearman_rho"),
        F.max(F.abs(F.col("ra") - F.col("rb")))
        .cast("bigint")
        .alias("max_rank_shift"),
    )


@register(
    "events_longest_same_type_run",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN event_type = lag(event_type)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
              THEN 0 ELSE 1 END AS brk
  FROM events
),
runs AS (
  SELECT user_id, event_type,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
  FROM seq
),
run_lengths AS (
  SELECT user_id, event_type, run_id, count(*) AS run_len
  FROM runs GROUP BY user_id, event_type, run_id
)
SELECT event_type,
       CAST(max(run_len) AS BIGINT) AS longest_run,
       CAST(count(*) AS BIGINT) AS n_runs,
       floor(CAST(sum(run_len) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000 AS mean_run_len
FROM run_lengths GROUP BY event_type
""",
)
def events_longest_same_type_run(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Run-length encoding of user timelines: consecutive same-type
    event runs (break-flag + running sum — the gaps-and-islands kernel
    keyed on VALUE CHANGE instead of time gap), rolled up to longest /
    count / mean run per type. Long error runs mean retry storms; long
    click runs mean scripted traffic — RLE is the compression-and-
    anomaly primitive over ordered categorical streams. One user
    partitioning serves both windows."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    brk = F.when(
        F.col("event_type") == F.lag("event_type").over(w), 0
    ).otherwise(1)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runs = e.select(
        "user_id",
        "event_type",
        F.sum(brk).over(cum).alias("run_id"),
    )
    run_lengths = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    n = F.count(F.lit(1))
    return run_lengths.groupBy("event_type").agg(
        F.max("run_len").cast("bigint").alias("longest_run"),
        n.cast("bigint").alias("n_runs"),
        pround(F.sum("run_len").cast("double") / n).alias("mean_run_len"),
    )


@register(
    "embed_dim_corr_pairs",
    oracle="""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE vec_id % 4 = 0
    AND embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
),
pairs AS (
  SELECT a.dim AS d1, b.dim AS d2,
         count(*) AS n,
         sum(a.x) AS sx, sum(b.x) AS sy,
         sum(a.x * b.x) AS sxy,
         sum(a.x * a.x) AS sxx, sum(b.x * b.x) AS syy
  FROM comp a JOIN comp b
    ON a.vec_id = b.vec_id AND a.dim < b.dim AND b.dim <= a.dim + 8
  GROUP BY a.dim, b.dim
),
scored AS (
  SELECT d1, d2,
         floor((sxy - sx * sy / n)
               / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
               * 1000000 + 0.5) / 1000000 AS r
  FROM pairs
)
SELECT d1, d2, r FROM (
  SELECT d1, d2, r,
         row_number() OVER (ORDER BY abs(r) DESC, d1, d2) AS rn
  FROM scored)
WHERE rn <= 15
""",
)
def embed_dim_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-dimension redundancy screen: Pearson correlation for
    every dimension pair within a lag-8 band (d·8 pairs, not d²/2 —
    the banded screen used before paying for full PCA), top-15 by
    |r| — highly correlated dimensions mean the encoder wastes width
    and downstream quantization can fold them. Sampled corpus slice
    (every 4th vector), exploded once; the pair join is keyed on
    vec_id with the band predicate bounding fan-out at 8 per
    component row. Moment sums feed one rounded correlation per pair
    (float sums stabilized by the 6dp round — the §5.4 rule);
    rank cut is deterministic. Correlations run over VALID vectors only
    (nan-tier contract, mirrored in the oracle): one NaN component turns
    8 band pairs' moment sums into NaN, and |NaN| ranks differently
    across the engines' top-15 windows."""
    from ai_dataingestion_spark.functions.portable import finite_vec

    e = Tables(spark, sf_dir).embeddings.filter(
        (F.col("vec_id") % 4 == 0) & finite_vec("embedding")
    )
    comp = e.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "xf")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    a = comp.select("vec_id", F.col("dim").alias("d1"), F.col("x").alias("xa"))
    b = comp.select("vec_id", F.col("dim").alias("d2"), F.col("x").alias("xb"))
    pairs = (
        a.join(b, "vec_id")
        .filter(
            (F.col("d1") < F.col("d2")) & (F.col("d2") <= F.col("d1") + 8)
        )
        .groupBy("d1", "d2")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xa").alias("sx"),
            F.sum("xb").alias("sy"),
            F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
            F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
            F.sum(F.col("xb") * F.col("xb")).alias("syy"),
        )
    )
    r = pround(
        (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
        / F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            * (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
        )
    )
    scored = pairs.select("d1", "d2", r.alias("r"))
    w = Window.orderBy(F.desc(F.abs(F.col("r"))), F.asc("d1"), F.asc("d2"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 15)
        .select("d1", "d2", "r")
    )


@register(
    "scan_csv_column_reorder",
    oracle="""
SELECT count(*) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38, 2))), 2) AS DOUBLE)
         AS price_sum
FROM orders
""",
)
def scan_csv_column_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-driven CSV reconciliation: the same relation exported by
    two producers with DIFFERENT column orders (key-first vs
    price-first — the reality of multi-team CSV feeds), read back
    per-directory with header-based name mapping and unioned BY NAME —
    a positional read would silently transpose keys into prices; the
    checksums prove the name-mapped path didn't. unionByName is the
    reconciliation contract; the oracle recomputes from the source
    relation, so any transposition breaks the hash."""
    o = Tables(spark, sf_dir).orders.select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    half1 = o.filter(F.col("o_orderkey") % 2 == 0)
    half2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_totalprice", "o_orderstatus", "o_orderkey"  # reordered producer
    )
    d1, d2 = op_tmpdir("csv_reorder_a_"), op_tmpdir("csv_reorder_b_")
    half1.write.mode("overwrite").option("header", True).csv(d1)
    half2.write.mode("overwrite").option("header", True).csv(d2)
    r1 = (
        spark.read.option("header", True)
        .schema("o_orderkey bigint, o_totalprice double, o_orderstatus string")
        .csv(d1)
    )
    r2 = (
        spark.read.option("header", True)
        .schema(
            "o_totalprice double, o_orderstatus string, o_orderkey bigint"
        )
        .csv(d2)
    )
    merged = r1.unionByName(r2)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,2)")), 2
        )
        .cast("double")
        .alias("price_sum"),
    )


# ===========================================================================
# wave module round6f (formerly operators/round6f.py)
# Round-5 thirty-second wave (SURVEY.md §2.Q, continued): week-over-
# week change contributions, the nation trade-flow matrix, NULL
# ordering semantics, and the contiguous-prefix resume watermark.
# ===========================================================================

@register(
    "events_wow_change_contributions",
    oracle="""
WITH cells AS (
  -- a NULL timestamp has no week; the engines would seat the NULL week
  -- at opposite ends of each type's lag sequence
  SELECT date_trunc('week', ts) AS m, event_type, count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
lagged AS (
  SELECT m, event_type, n,
         lag(n) OVER (PARTITION BY event_type ORDER BY m) AS prev_n
  FROM cells
),
deltas AS (
  SELECT m, event_type, n, n - prev_n AS delta
  FROM lagged WHERE prev_n IS NOT NULL
)
SELECT m, event_type,
       CAST(n AS BIGINT) AS n,
       CAST(delta AS BIGINT) AS delta,
       CAST(sum(delta) OVER (PARTITION BY m) AS BIGINT) AS total_delta,
       CASE WHEN sum(delta) OVER (PARTITION BY m) <> 0 THEN
         floor(CAST(delta AS DOUBLE)
               / CAST(sum(delta) OVER (PARTITION BY m) AS DOUBLE)
               * 1000000 + 0.5) / 1000000
       END AS contribution_share
FROM deltas
""",
)
def events_wow_change_contributions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Week-over-week change decomposition (the waterfall chart's
    data — the events corpus spans ONE month, so weeks are the
    non-degenerate period): per (week, type), the volume delta vs the
    prior week and its share of the week's TOTAL change — the "which segment moved
    the number" attribution every growth review starts with, exact
    because Δtotal ≡ ΣΔtype. Integer deltas; the only division is the
    guarded share. Windows over the weeks×types aggregate."""
    e = Tables(spark, sf_dir).events.where(F.col("ts").isNotNull())
    cells = e.groupBy(
        F.date_trunc("week", "ts").alias("m"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w_lag = Window.partitionBy("event_type").orderBy("m")
    deltas = (
        cells.withColumn("prev_n", F.lag("n").over(w_lag))
        .filter(F.col("prev_n").isNotNull())
        .withColumn("delta", F.col("n") - F.col("prev_n"))
    )
    w_m = Window.partitionBy("m")
    total = F.sum("delta").over(w_m)
    return deltas.select(
        "m",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("delta").cast("bigint").alias("delta"),
        total.cast("bigint").alias("total_delta"),
        F.when(
            total != 0,
            pround(F.col("delta").cast("double") / total.cast("double")),
        ).alias("contribution_share"),
    )


@register(
    "trade_flow_nation_matrix",
    oracle="""
SELECT sn.n_name AS supplier_nation, cn.n_name AS customer_nation,
       count(*) AS n_lines,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38, 2))), 2)
            AS DOUBLE) AS flow_value
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
GROUP BY sn.n_name, cn.n_name
""",
)
def trade_flow_nation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full supplier-nation × customer-nation trade-flow matrix —
    the generalization of TPC-H Q7's two-nation volume query to all
    n² flows at once, feeding gravity models and trade-balance
    reports. One big-big join (lineitem ⋈ orders on orderkey); every
    dimension — supplier, customer, and BOTH nation roles (aliased
    separately, the self-joined-dimension pattern) — broadcasts.
    Output bounded by nations² at any volume; DECIMAL flow sums."""
    t = Tables(spark, sf_dir)
    sn = t.nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supplier_nation")
    )
    cn = t.nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("customer_nation")
    )
    return (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            broadcast_if_small(
                t.supplier.select("s_suppkey", "s_nationkey"), sf_dir, "supplier"
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            broadcast_if_small(
                t.customer.select("c_custkey", "c_nationkey"), sf_dir, "customer"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .groupBy("supplier_nation", "customer_nation")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(38,2)")), 2
            )
            .cast("double")
            .alias("flow_value"),
        )
    )


@register(
    "sort_null_ordering",
    oracle="""
WITH injected AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE c_acctbal END AS bal
  FROM customer
),
nf AS (
  SELECT c_custkey FROM injected
  ORDER BY bal ASC NULLS FIRST, c_custkey LIMIT 5
),
nl AS (
  SELECT c_custkey FROM injected
  ORDER BY bal ASC NULLS LAST, c_custkey LIMIT 5
)
SELECT 'nulls_first' AS ordering,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(c_custkey) AS BIGINT) AS key_sum,
       (SELECT CAST(sum(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM injected) AS n_nulls_total
FROM nf
UNION ALL
SELECT 'nulls_last', CAST(count(*) AS BIGINT), CAST(sum(c_custkey) AS BIGINT),
       (SELECT CAST(sum(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM injected)
FROM nl
""",
)
def sort_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL ordering semantics pinned (§2.F completion): the top-5 rows
    under explicit NULLS FIRST vs NULLS LAST over a null-injected sort
    key — the checksum differs exactly because nulls flood the head of
    one ordering and not the other. The DEFAULTS disagree across
    engines (Spark ascending sorts NULLS FIRST, DuckDB NULLS LAST), so
    portable sorts must always spell the null position explicitly —
    this operator is the executable reminder. Key tiebreak makes both
    cuts deterministic."""
    c = Tables(spark, sf_dir).customer
    injected = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 13 == 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    n_nulls = injected.agg(
        F.sum(F.when(F.col("bal").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nulls_total")
    )

    def top5(df: DataFrame, first: bool, label: str) -> DataFrame:
        key = (
            F.col("bal").asc_nulls_first()
            if first
            else F.col("bal").asc_nulls_last()
        )
        sel = df.orderBy(key, F.col("c_custkey").asc()).limit(5)
        return sel.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("c_custkey").cast("bigint").alias("key_sum"),
        ).select(F.lit(label).alias("ordering"), "n_rows", "key_sum")

    return (
        top5(injected, True, "nulls_first")
        .unionByName(top5(injected, False, "nulls_last"))
        .crossJoin(F.broadcast(n_nulls))
    )


@register(
    "pipeline_resume_watermark",
    oracle="""
WITH applied AS (
  -- batch ledger with an injected failure: every batch id whose
  -- residue is 3 mod 7 never landed
  SELECT DISTINCT o_orderkey % 500 AS batch_id FROM orders
  WHERE (o_orderkey % 500) % 7 <> 3
),
bounds AS (
  SELECT max(batch_id) AS max_applied, count(*) AS n_applied FROM applied
),
first_gap AS (
  SELECT min(batch_id + 1) AS gap_start
  FROM applied a
  WHERE NOT EXISTS (SELECT 1 FROM applied b WHERE b.batch_id = a.batch_id + 1)
)
SELECT n_applied,
       CAST(max_applied AS BIGINT) AS max_applied,
       CAST(CASE WHEN EXISTS (SELECT 1 FROM applied WHERE batch_id = 0)
                 THEN coalesce((SELECT gap_start - 1 FROM first_gap),
                               max_applied)
                 ELSE -1 END AS BIGINT) AS resume_watermark,
       CAST(max_applied - CASE WHEN EXISTS
              (SELECT 1 FROM applied WHERE batch_id = 0)
              THEN coalesce((SELECT gap_start - 1 FROM first_gap),
                            max_applied)
              ELSE -1 END AS BIGINT) AS batches_beyond_watermark
FROM bounds
""",
)
def pipeline_resume_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-prefix resume watermark: from a batch ledger with
    gaps (injected: every id ≡ 3 mod 7 failed to land), compute the
    HIGH watermark — the largest n such that batches 0..n ALL applied —
    which is where a safe reprocessing resumes; max_applied alone
    over-promises because completed batches beyond the first gap still
    need their predecessors replayed (the Kafka/offset-commit
    distinction between max seen and max contiguous). First gap found
    via the successor anti-join over the DISTINCT batch relation —
    bounded by batch count, no ordered window at all."""
    o = Tables(spark, sf_dir).orders
    applied = (
        o.select((F.col("o_orderkey") % 500).alias("batch_id"))
        .filter((F.col("batch_id") % 7) != 3)
        .distinct()
        .transform(op_cache)  # feeds bounds, successor anti-join, and the zero probe
    )
    succ = applied.select((F.col("batch_id") + 1).alias("batch_id"))
    first_gap = (
        applied.select((F.col("batch_id") + 1).alias("cand"))
        .join(
            applied.select(F.col("batch_id").alias("cand")),
            "cand",
            "left_anti",
        )
        .agg(F.min("cand").alias("gap_start"))
    )
    bounds = applied.agg(
        F.max("batch_id").alias("max_applied"),
        F.count(F.lit(1)).alias("n_applied"),
    )
    has_zero = applied.filter(F.col("batch_id") == 0).agg(
        F.count(F.lit(1)).alias("z")
    )
    j = (
        bounds.crossJoin(F.broadcast(first_gap))
        .crossJoin(F.broadcast(has_zero))
    )
    watermark = F.when(
        F.col("z") > 0,
        F.coalesce(F.col("gap_start") - 1, F.col("max_applied")),
    ).otherwise(F.lit(-1))
    return j.select(
        "n_applied",
        F.col("max_applied").cast("bigint").alias("max_applied"),
        watermark.cast("bigint").alias("resume_watermark"),
        (F.col("max_applied") - watermark)
        .cast("bigint")
        .alias("batches_beyond_watermark"),
    )


# ===========================================================================
# wave module round6g (formerly operators/round6g.py)
# Round-5 thirty-third wave (SURVEY.md §2.Q, continued): dedup
# detector evaluation against injected ground truth, weighted medians,
# and the top-k vocabulary coverage curve.
# ===========================================================================

_EVAL_ORACLE = (
    "WITH detected AS (" + _MINHASH_ORACLE + "),\n"
    + f"""
truth AS (
  SELECT doc_id AS id1, doc_id + {_DUP_OFFSET} AS id2
  FROM documents WHERE doc_id % 5 = 0
),
tp AS (
  SELECT count(*) AS n FROM detected d
  WHERE EXISTS (SELECT 1 FROM truth t
                WHERE t.id1 = d.id1 AND t.id2 = d.id2)
),
counts AS (
  SELECT (SELECT count(*) FROM detected) AS n_detected,
         (SELECT count(*) FROM truth) AS n_truth,
         (SELECT n FROM tp) AS n_tp
)
SELECT n_detected, n_truth, n_tp,
       floor(CAST(n_tp AS DOUBLE) / n_detected * 1000000 + 0.5) / 1000000
         AS precision_vs_truth,
       floor(CAST(n_tp AS DOUBLE) / n_truth * 1000000 + 0.5) / 1000000
         AS recall,
       floor(2.0 * (CAST(n_tp AS DOUBLE) / n_detected)
             * (CAST(n_tp AS DOUBLE) / n_truth)
             / (CAST(n_tp AS DOUBLE) / n_detected
                + CAST(n_tp AS DOUBLE) / n_truth) * 1000000 + 0.5) / 1000000
         AS f1
FROM counts
"""
)


@register("dedup_eval_precision_recall", oracle=_EVAL_ORACLE)
def dedup_eval_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector EVALUATION against injected ground truth: the full
    MinHash-LSH near-dup pipeline runs (the dedup_near_minhash plan,
    verbatim), and its detected pairs are scored against the known
    injection set (every 5th doc's last-token-dropped copy) —
    precision-vs-truth, recall, F1. Recall < 1 means signatures or
    banding regressed; precision-vs-truth < 1 means the detector ALSO
    finds organic near-dups (legitimate — which is why the metric is
    named against-truth, not absolute). This is the measurement layer
    a dedup pipeline ships with: the same operator, re-pointed at a
    labeled corpus, becomes its regression gate."""
    docs = shingle_sets(_corpus_with_near_dups(spark, sf_dir))
    cand = minhash_candidates(minhash_signature(docs), sf_dir)
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = F.size(F.array_union("sh1", "sh2")).cast("double")
    # r17: detected feeds BOTH the true-positive semi-join and the
    # n_detected count — uncached, the whole LSH candidate+verify chain
    # executed once per branch (guide §5, the kmeans-a2 pattern); the
    # cached relation is two ids per detected pair, corpus-bounded.
    detected = (
        shingle_pair_sides(cand, docs, sf_dir)
        .filter(inter / union >= 0.6)
        .select("id1", "id2")
        .transform(op_cache)
    )
    truth = (
        Tables(spark, sf_dir)
        .documents.filter(F.col("doc_id") % 5 == 0)
        .select(
            F.col("doc_id").alias("id1"),
            (F.col("doc_id") + _DUP_OFFSET).alias("id2"),
        )
    )
    tp = detected.join(truth, ["id1", "id2"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_tp")
    )
    nd = detected.agg(F.count(F.lit(1)).alias("n_detected"))
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    j = nd.crossJoin(F.broadcast(nt)).crossJoin(F.broadcast(tp))
    prec = F.col("n_tp").cast("double") / F.col("n_detected")
    rec = F.col("n_tp").cast("double") / F.col("n_truth")
    return j.select(
        "n_detected",
        "n_truth",
        "n_tp",
        pround(prec).alias("precision_vs_truth"),
        pround(rec).alias("recall"),
        pround(2.0 * prec * rec / (prec + rec)).alias("f1"),
    )


@register(
    "agg_weighted_median",
    oracle="""
WITH grouped AS (
  SELECT l_returnflag, l_extendedprice AS v,
         sum(CAST(l_quantity AS DECIMAL(38, 2))) AS w
  FROM lineitem GROUP BY l_returnflag, l_extendedprice
),
cum AS (
  SELECT l_returnflag, v, w,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cw,
         sum(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM grouped
)
SELECT l_returnflag,
       CAST(round(min(CASE WHEN cw * 2 >= tw THEN v END), 2) AS DOUBLE)
         AS weighted_median_price,
       CAST(round(max(tw), 2) AS DOUBLE) AS total_weight
FROM cum GROUP BY l_returnflag
""",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED median price per return flag: the smallest
    price whose cumulative quantity weight reaches half the total —
    "the price at which half the UNITS trade", which the unweighted
    median (half the LINES) misrepresents whenever order sizes vary.
    Weights accumulate in DECIMAL and the half-total test is the exact
    comparison cw·2 ≥ tw (the brand_pareto_coverage no-division rule);
    the cumulative window runs over the (flag, distinct-price)
    aggregate, not raw lines."""
    li = Tables(spark, sf_dir).lineitem
    grouped = li.groupBy("l_returnflag", F.col("l_extendedprice").alias("v")).agg(
        F.sum(F.col("l_quantity").cast("decimal(38,2)")).alias("w")
    )
    # asc_nulls_last: the NULL-price cell must accumulate at the END of the
    # cumulative weight (oracle ORDER BY v default) — at the front it
    # shifts the half-total crossing and the reported median
    w_cum = Window.partitionBy("l_returnflag").orderBy(
        F.asc_nulls_last("v")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = grouped.select(
        "l_returnflag",
        "v",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(Window.partitionBy("l_returnflag")).alias("tw"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.round(
            F.min(F.when(F.col("cw") * 2 >= F.col("tw"), F.col("v"))), 2
        )
        .cast("double")
        .alias("weighted_median_price"),
        F.round(F.max("tw"), 2).cast("double").alias("total_weight"),
    )


_COVERAGE_KS = [1, 2, 4, 8, 16, 32]


@register(
    "text_topk_coverage_curve",
    oracle=f"""
WITH vocab AS (
  SELECT w, count(*) AS c FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
),
ranked AS (
  SELECT c,
         row_number() OVER (ORDER BY c DESC, w) AS r,
         sum(c) OVER (ORDER BY c DESC, w ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER () AS tot
  FROM vocab
)
SELECT k,
       floor(CAST(cum_k AS DOUBLE) / tot_k * 1000000 + 0.5) / 1000000
         AS coverage
FROM (
  SELECT g.k,
         max(CASE WHEN r <= g.k THEN cum END) AS cum_k,
         max(tot) AS tot_k
  FROM (SELECT unnest([{", ".join(str(k) for k in _COVERAGE_KS)}]) AS k) g
  CROSS JOIN ranked
  GROUP BY g.k
)
""",
)
def text_topk_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k vocabulary coverage curve: the share of ALL corpus tokens
    covered by the k most frequent types, k ∈ {{1,2,4,8,16,32}} — the
    Zipf-coverage view that sizes stopword lists and vocabulary
    truncations (where the curve flattens is where extra vocab stops
    paying). Rank/cumulative windows run over the vocab-sized
    aggregate with deterministic count-then-word ordering; the k spine
    reads the max cumulative at each cut. Exact integer token counts,
    one rounded division per k."""
    d = Tables(spark, sf_dir).documents
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_rank = Window.orderBy(F.desc("c"), F.asc("w"))
    ranked = vocab.select(
        "c",
        F.row_number().over(w_rank).alias("r"),
        F.sum("c")
        .over(
            w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("tot"),
    )
    spine = spark.createDataFrame(
        [(k,) for k in _COVERAGE_KS], "k int"
    )
    per_k = (
        F.broadcast(spine)
        .crossJoin(ranked)
        .groupBy("k")
        .agg(
            F.max(
                F.when(F.col("r") <= F.col("k"), F.col("cum"))
            ).alias("cum_k"),
            F.max("tot").alias("tot_k"),
        )
    )
    return per_k.select(
        "k",
        pround(F.col("cum_k").cast("double") / F.col("tot_k")).alias(
            "coverage"
        ),
    )


# ===========================================================================
# wave module round6h (formerly operators/round6h.py)
# Round-5 thirty-fourth wave (SURVEY.md §2.Q, continued): sweep-line
# open-order backlog, weighted PageRank over the nation trade graph,
# categorical mix-shift drift, and contingency-cell residuals.
# ===========================================================================

@register(
    "orders_open_backlog_sweepline",
    oracle="""
WITH comp AS (
  SELECT l_orderkey AS ok, date_trunc('month', max(l_shipdate)) AS done_m
  FROM lineitem GROUP BY l_orderkey
),
od AS (
  -- both months NOT NULL: an order with an unknown start or completion
  -- month cannot be swept onto the calendar line
  SELECT date_trunc('month', o_orderdate) AS start_m, done_m,
         CAST(o_totalprice AS DECIMAL(38,2)) AS v
  FROM orders JOIN comp ON o_orderkey = ok
  WHERE o_orderdate IS NOT NULL AND done_m IS NOT NULL
),
deltas AS (
  SELECT start_m AS m, 1 AS d, v FROM od
  UNION ALL
  SELECT done_m AS m, -1 AS d, -v AS v FROM od
),
agg AS (SELECT m, sum(d) AS dn, sum(v) AS dv FROM deltas GROUP BY m)
SELECT CAST(m AS TIMESTAMP) AS month,
       CAST(sum(dn) OVER w AS BIGINT) AS open_orders,
       CAST(round(sum(dv) OVER w, 2) AS DOUBLE) AS open_value
FROM agg
WINDOW w AS (ORDER BY m ROWS UNBOUNDED PRECEDING)
""",
)
def orders_open_backlog_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-of-month open-order backlog (count + value) via the
    SWEEP-LINE trick: each order emits a +1 delta in its order month
    and a -1 delta in its completion month (last shipment), and the
    running sum over the months-sized delta relation IS the backlog.
    The naive form — join every order against every month it spans —
    is an interval×calendar blow-up that grows with span length; the
    sweep-line shuffles exactly 2 rows per order regardless of how
    long orders stay open, then runs both cumulative windows over the
    ~80-row month relation. Backlog value accumulates in DECIMAL so
    the +v/-v pairs cancel exactly."""
    t = Tables(spark, sf_dir)
    comp = t.lineitem.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.date_trunc("month", F.max("l_shipdate")).alias("done_m")
    )
    price = F.col("o_totalprice").cast("decimal(38,2)")
    od = (
        t.orders.join(comp, F.col("o_orderkey") == F.col("ok"))
        .select(
            F.date_trunc("month", "o_orderdate").alias("start_m"),
            "done_m",
            price.alias("v"),
        )
        # oracle mirrors: unknown start/completion months can't be swept
        .where(F.col("start_m").isNotNull() & F.col("done_m").isNotNull())
    )
    deltas = od.select(
        F.col("start_m").alias("m"), F.lit(1).alias("d"), F.col("v")
    ).unionAll(
        od.select(
            F.col("done_m").alias("m"),
            F.lit(-1).alias("d"),
            (-F.col("v")).alias("v"),
        )
    )
    agg = deltas.groupBy("m").agg(
        F.sum("d").alias("dn"), F.sum("v").alias("dv")
    )
    w = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return agg.select(
        F.col("m").cast("timestamp_ntz").alias("month"),
        F.sum("dn").over(w).cast("bigint").alias("open_orders"),
        F.round(F.sum("dv").over(w), 2).cast("double").alias("open_value"),
    )


_PR_DAMP = 0.85
_PR_ITERS = 3


def _pagerank_oracle() -> str:
    """Chained-CTE DuckDB PageRank: r_{k+1} = (1-d)/N + d·Σ_in p·r_k,
    unrolled for the fixed iteration count."""
    head = """
WITH edges AS (
  SELECT s_nationkey AS src, c_nationkey AS dst,
         CAST(count(*) AS DOUBLE) AS w
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
norm AS (
  SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p FROM edges
),
nodes AS (
  SELECT DISTINCT src AS nk FROM edges
  UNION
  SELECT DISTINCT dst FROM edges
),
nn AS (SELECT nk, CAST(count(*) OVER () AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT nk, 1.0 / n AS r, n FROM nn)"""
    steps = []
    for k in range(1, _PR_ITERS + 1):
        steps.append(
            f""",
r{k} AS (
  SELECT nn.nk, {1 - _PR_DAMP} / nn.n
           + {_PR_DAMP} * coalesce(sum(norm.p * prev.r), 0) AS r, nn.n
  FROM nn
  LEFT JOIN norm ON norm.dst = nn.nk
  LEFT JOIN r{k - 1} prev ON prev.nk = norm.src
  GROUP BY nn.nk, nn.n
)"""
        )
    tail = f"""
SELECT n_name AS nation,
       floor(r{_PR_ITERS}.r * 1000000 + 0.5) / 1000000 AS pagerank
FROM r{_PR_ITERS} JOIN nation ON n_nationkey = nk
"""
    return head + "".join(steps) + tail


@register("graph_pagerank_trade", oracle=_pagerank_oracle())
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 3 fixed iterations) over the
    supplier-nation → customer-nation trade graph: which nations sit at
    the center of the trade network, counting indirect inflows — the
    iterative-centrality family (vs trade_flow_nation_matrix's raw
    matrix). The scale shape: the expensive part — aggregating ~10⁹
    lineitems down to the ≤ nations² edge list — happens ONCE, before
    any iteration; each iteration is then a join over the tiny
    normalized edge relation, so iteration cost is independent of
    corpus size (the same aggregate-then-iterate shape as
    dedup_cluster_components and embed_kmeans_iterations). Rank mass
    from nations with no out-edges is dropped identically on both
    sides (simplified PageRank); 6-dp portable rounding caps the
    ≤ nations-term float-sum divergence."""
    t = Tables(spark, sf_dir)
    edges = (
        t.lineitem.select("l_orderkey", "l_suppkey")
        .join(
            t.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            broadcast_if_small(
                t.supplier.select("s_suppkey", "s_nationkey"), sf_dir, "supplier"
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            broadcast_if_small(
                t.customer.select("c_custkey", "c_nationkey"), sf_dir, "customer"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        # op_cache (optimization r16, guide §5 caching + §2.4): the edge
        # aggregate — the ONE corpus-sized pass in this operator — is
        # referenced 11 times by the unrolled plan (norm feeds each of the
        # 3 iteration joins; nodes/nn read it twice per rank rebuild).
        # Uncached, only SOME of those copies were salvaged by
        # ReuseExchange (the optimizer planned a 683-line physical tree),
        # and the optimizer itself paid for every duplicate. Caching the
        # ≤ nations² relation makes the lineitem join-aggregation run
        # exactly once at any corpus size.
        .transform(op_cache)
    )
    # norm / nn are dimension-sized derivations of the cached edges, each
    # referenced 3-4 times by the unrolled iterations: cache them too so an
    # iteration step reads two tiny in-memory relations instead of
    # re-running the window / distinct per reference.
    norm = edges.select(
        "src",
        "dst",
        (F.col("w") / F.sum("w").over(Window.partitionBy("src"))).alias("p"),
    ).transform(op_cache)
    nodes = (
        edges.select(F.col("src").alias("nk"))
        .union(edges.select(F.col("dst").alias("nk")))
        .distinct()
    )
    nn = nodes.select(
        "nk",
        F.count(F.lit(1)).over(Window.partitionBy()).cast("double").alias("n"),
    ).transform(op_cache)
    ranks = nn.select("nk", (F.lit(1.0) / F.col("n")).alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            norm.join(
                ranks.select(F.col("nk").alias("src_nk"), "r"),
                F.col("src") == F.col("src_nk"),
            )
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("r")).alias("cin"))
        )
        ranks = nn.join(
            contrib, nn["nk"] == contrib["dst"], "left"
        ).select(
            "nk",
            (
                F.lit(1 - _PR_DAMP) / F.col("n")
                + F.lit(_PR_DAMP) * F.coalesce(F.col("cin"), F.lit(0.0))
            ).alias("r"),
        )
    return ranks.join(
        F.broadcast(t.nation),
        F.col("nk") == F.col("n_nationkey"),
    ).select(
        F.col("n_name").alias("nation"), pround(F.col("r")).alias("pagerank")
    )


@register(
    "orders_priority_mix_shift",
    oracle=f"""
WITH cnt AS (
  SELECT date_trunc('month', o_orderdate) AS m, o_orderpriority AS p,
         count(*) AS c
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
  GROUP BY 1, 2
),
grid AS (
  SELECT months.m, prios.p, coalesce(cnt.c, 0) AS c
  FROM (SELECT DISTINCT m FROM cnt) months
  CROSS JOIN (SELECT DISTINCT p FROM cnt) prios
  LEFT JOIN cnt ON cnt.m = months.m AND cnt.p = prios.p
),
sh AS (
  SELECT m, p,
         CAST(c AS DOUBLE)
           / CAST(sum(c) OVER (PARTITION BY m) AS DOUBLE) AS s
  FROM grid
),
d AS (
  SELECT m, p, s - lag(s) OVER (PARTITION BY p ORDER BY m) AS ds FROM sh
)
SELECT CAST(m AS TIMESTAMP) AS month,
       {grid_sum_sql("abs(ds)")} / 2.0 AS tvd,
       round(max(abs(ds)), 6) AS max_abs_shift,
       CAST(sum(CASE WHEN ds > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up
FROM d WHERE ds IS NOT NULL
GROUP BY m
""",
)
def orders_priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month categorical drift of the order-priority MIX:
    total-variation distance 0.5·Σ|Δshare| between consecutive months,
    the max single-priority shift, and how many priorities moved up —
    the categorical sibling of quality_psi_drift's numeric PSI. Shares
    must be compared on a DENSE month×priority grid (a priority absent
    one month is a 0-share cell, not a missing row), built as
    months × priorities (both aggregate-sized) left-joined with counts;
    lag/TVD windows then run over the grid, never the raw orders.
    Shares stay unrounded doubles through the diff (c/total division is
    IEEE-exact on both engines); only the final statistics round."""
    t = Tables(spark, sf_dir)
    # Null months/priorities are excluded EXPLICITLY on both sides: a mix
    # shift over an unknown month is meaningless, NULL grid keys never
    # match the null-unsafe grid join anyway, and (found on the null tier)
    # DISTINCT-then-dense-grid over a NULL timestamp month is nondeterminate
    # in the oracle engine — the contract must not stand on that construct.
    cnt = (
        t.orders.where(
            F.col("o_orderdate").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .groupBy(
            F.date_trunc("month", "o_orderdate").alias("m"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    months = cnt.select("m").distinct()
    prios = cnt.select("p").distinct()
    grid = (
        months.crossJoin(F.broadcast(prios))
        .join(cnt, ["m", "p"], "left")
        .select("m", "p", F.coalesce("c", F.lit(0)).alias("c"))
    )
    # try_divide: a NULL-month group never matches the null-unsafe grid
    # join, leaving an all-zero partition whose total is 0 — DuckDB's /0
    # yields NULL (then drops at ds IS NOT NULL); ANSI division would crash.
    sh = grid.select(
        "m",
        "p",
        F.try_divide(
            F.col("c").cast("double"),
            F.sum("c").over(Window.partitionBy("m")).cast("double"),
        ).alias("s"),
    )
    d = sh.select(
        "m",
        "p",
        (
            F.col("s")
            - F.lag("s").over(Window.partitionBy("p").orderBy("m"))
        ).alias("ds"),
    ).where(F.col("ds").isNotNull())
    return d.groupBy(F.col("m").cast("timestamp_ntz").alias("month")).agg(
        # the ~5 per-month |Δshare| terms sum on the exact 1e-6 integer
        # grid (portable.py:grid_sum — null-tier catch: share ratios land
        # exactly on decimal-cast midpoints, where the engines' cast
        # rounding disagrees); /2.0 is one identical IEEE op, so the
        # emission is bit-deterministic with no further round
        (grid_sum(F.abs("ds")) / F.lit(2.0)).alias("tvd"),
        F.round(F.max(F.abs("ds")), 6).alias("max_abs_shift"),
        F.sum(F.when(F.col("ds") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_up"),
    )


@register(
    "quality_contingency_residuals",
    oracle="""
WITH obs AS (
  SELECT o_orderstatus AS st, o_orderpriority AS pr,
         CAST(count(*) AS DOUBLE) AS o
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT st, pr, o,
         sum(o) OVER (PARTITION BY st) AS rt,
         sum(o) OVER (PARTITION BY pr) AS ct,
         sum(o) OVER () AS n
  FROM obs
)
SELECT st AS orderstatus, pr AS orderpriority,
       CAST(o AS BIGINT) AS observed,
       round(rt * ct / n, 6) AS expected,
       round((o - rt * ct / n) / sqrt(rt * ct / n), 6) AS std_residual
FROM m
""",
)
def quality_contingency_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell standardized Pearson residuals (O−E)/√E of the
    status × priority contingency table — the drill-down companion to
    agg_chi_square_independence's single statistic: WHICH cells are
    over/under-represented, not just whether independence fails.
    |residual| > 2 flags a cell. All margins are window sums over the
    statuses×priorities-sized aggregate (counts are integers, so the
    double margin sums are exact in any order); cells with zero
    observed count are omitted identically on both sides."""
    t = Tables(spark, sf_dir)
    obs = t.orders.groupBy(
        F.col("o_orderstatus").alias("st"),
        F.col("o_orderpriority").alias("pr"),
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    m = obs.select(
        "st",
        "pr",
        "o",
        F.sum("o").over(Window.partitionBy("st")).alias("rt"),
        F.sum("o").over(Window.partitionBy("pr")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("rt") * F.col("ct") / F.col("n")
    return m.select(
        F.col("st").alias("orderstatus"),
        F.col("pr").alias("orderpriority"),
        F.col("o").cast("bigint").alias("observed"),
        F.round(e, 6).alias("expected"),
        F.round((F.col("o") - e) / F.sqrt(e), 6).alias("std_residual"),
    )


# ===========================================================================
# wave module round6i (formerly operators/round6i.py)
# Round-5 thirty-fifth wave (SURVEY.md §2.Q, continued): skyline
# (Pareto-optimal set) via sort + running max, Theil inequality-index
# decomposition, and rolling bivariate correlation.
# ===========================================================================

@register(
    "part_skyline_price_size",
    oracle="""
WITH pts AS (
  -- a point with an unknown coordinate cannot be dominance-compared:
  -- NULL comparisons make the NOT-EXISTS vacuously keep it
  SELECT p_retailprice AS price, p_size AS sz, count(*) AS n_parts
  FROM part
  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
  GROUP BY 1, 2
)
SELECT price AS p_retailprice, sz AS p_size,
       CAST(n_parts AS BIGINT) AS n_parts
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.price <= p.price AND q.sz >= p.sz
    AND (q.price < p.price OR q.sz > p.sz)
)
""",
)
def part_skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE / Pareto-optimal set over (minimize retailprice, maximize
    size): the parts no other part beats on both axes — the classic
    multi-objective shortlist operator. The oracle states the O(n²)
    NOT-EXISTS dominance DEFINITION; the engine computes it as
    sort + running max: keep only the max size at each price (window
    over price), then a point survives iff its size strictly exceeds
    the running max over all strictly-cheaper prices. One shuffle on
    price (the partition window and the per-price groupBy reuse the
    same exchange) + one window over the distinct-price relation —
    O(n log n), no self-join, no candidate blow-up at any corpus size.
    Equal-price ties keep only the largest size; duplicate (price,
    size) points collapse to one row with their part count."""
    t = Tables(spark, sf_dir)
    wp = Window.partitionBy("p_retailprice")
    p2 = t.part.where(  # oracle mirrors: no NULL coordinates in a skyline
        F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
    ).select(
        "p_retailprice",
        "p_size",
        F.max("p_size").over(wp).alias("pmax"),
    )
    per_price = (
        p2.where(F.col("p_size") == F.col("pmax"))
        .groupBy("p_retailprice", "p_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    )
    w_prev = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    sky = per_price.select(
        "p_retailprice",
        "p_size",
        "n_parts",
        F.max("p_size").over(w_prev).alias("s1"),
    )
    return sky.where(
        F.col("s1").isNull() | (F.col("p_size") > F.col("s1"))
    ).select("p_retailprice", "p_size", "n_parts")


@register(
    "agg_theil_decomposition",
    oracle="""
WITH rev AS (
  SELECT l_suppkey AS sk,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS x
  FROM lineitem GROUP BY l_suppkey
),
sup AS (
  SELECT n_name, x FROM rev
  JOIN supplier ON sk = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
),
grp AS (
  SELECT n_name, sum(x) AS gx, count(*) AS gn FROM sup GROUP BY n_name
),
tot AS (
  SELECT n_name, gx, gn,
         sum(gx) OVER () AS tx, sum(gn) OVER () AS tn
  FROM grp
),
terms AS (
  SELECT s.n_name,
         sum((s.x / (t.gx / t.gn)) * ln(s.x / (t.gx / t.gn))) / t.gn
           AS t_within,
         max(t.gx / t.tx) AS share,
         max((t.gx / t.tx) * ln((t.gx / t.gn) / (t.tx / t.tn)))
           AS between_term
  FROM sup s JOIN tot t ON s.n_name = t.n_name
  GROUP BY s.n_name, t.gn
)
SELECT n_name AS nation,
       round(share, 6) AS revenue_share,
       round(t_within, 6) AS t_within,
       round(share * t_within, 6) AS contrib_within,
       round(between_term, 6) AS between_term
FROM terms
""",
)
def agg_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality decomposition of supplier revenue by nation:
    T_total = Σ_g s_g·T_g (within) + Σ_g s_g·ln(μ_g/μ) (between) — the
    additive inequality index Gini lacks (supplier_revenue_gini is the
    non-decomposable sibling). Per-supplier revenue accumulates in
    DECIMAL so the x_i doubles are bit-identical across engines before
    any ln touches them; nation-level means/shares derive from the
    nations-sized aggregate (window sums over 25 rows), broadcast back
    for the per-supplier entropy terms, and the only corpus-sized
    shuffle is the l_suppkey revenue groupBy."""
    t = Tables(spark, sf_dir)
    rev = t.lineitem.groupBy(F.col("l_suppkey").alias("sk")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(38,2)"))
        .cast("double")
        .alias("x")
    )
    sup = (
        rev.join(
            broadcast_if_small(
                t.supplier.select("s_suppkey", "s_nationkey"), sf_dir, "supplier"
            ),
            F.col("sk") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "x")
    )
    grp = sup.groupBy("n_name").agg(
        F.sum("x").alias("gx"), F.count(F.lit(1)).alias("gn")
    )
    w_all = Window.partitionBy()
    tot = grp.select(
        F.col("n_name").alias("tn_name"),
        "gx",
        "gn",
        F.sum("gx").over(w_all).alias("tx"),
        F.sum("gn").over(w_all).alias("tn"),
    )
    mu_g = F.col("gx") / F.col("gn")
    joined = sup.join(
        F.broadcast(tot), F.col("n_name") == F.col("tn_name")
    )
    terms = joined.groupBy("n_name", "gn").agg(
        (
            F.sum((F.col("x") / mu_g) * F.log(F.col("x") / mu_g))
            / F.first("gn")
        ).alias("t_within"),
        F.max(F.col("gx") / F.col("tx")).alias("share"),
        F.max(
            (F.col("gx") / F.col("tx"))
            * F.log(mu_g / (F.col("tx") / F.col("tn")))
        ).alias("between_term"),
    )
    return terms.select(
        F.col("n_name").alias("nation"),
        F.round("share", 6).alias("revenue_share"),
        F.round("t_within", 6).alias("t_within"),
        F.round(F.col("share") * F.col("t_within"), 6).alias(
            "contrib_within"
        ),
        F.round("between_term", 6).alias("between_term"),
    )


@register(
    "events_rolling_corr_daily",
    oracle="""
WITH daily AS (
  -- NULL timestamps have no day; the engines would seat the NULL day at
  -- opposite ends of the rolling ORDER BY day sequence
  SELECT CAST(ts AS DATE) AS day,
         count(CASE WHEN event_type = 'click' THEN 1 END) AS x,
         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
mom AS (
  SELECT day,
         count(*) OVER w AS n,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * y) OVER w AS sxy,
         sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
         row_number() OVER (ORDER BY day) AS rn
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT CAST(day AS VARCHAR) AS day,
       CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN NULL
            ELSE round(
              CAST(n * sxy - sx * sy AS DOUBLE)
              / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                     * CAST(n * syy - sy * sy AS DOUBLE)), 6)
       END AS corr_7d
FROM mom WHERE rn >= 7
""",
)
def events_rolling_corr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day Pearson correlation between daily click and
    purchase volumes — the co-movement monitor behind 'did engagement
    decouple from conversion this week'. Correlation over a sliding
    frame isn't a built-in window aggregate in either engine, so it is
    assembled from the five moment sums (Σx, Σy, Σxy, Σx², Σy²), each
    an INTEGER window sum over the days-sized daily relation — exact in
    any accumulation order, so the only float op is the final fraction.
    Days with a degenerate window (zero variance) yield NULL on both
    sides; the first six ramp-up days are excluded by row_number."""
    t = Tables(spark, sf_dir)
    daily = (
        t.events.where(F.col("ts").isNotNull())  # oracle mirrors: no day
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("x"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    mom = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.row_number().over(Window.orderBy("day")).alias("rn"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return mom.where(F.col("rn") >= 7).select(
        F.col("day").cast("string").alias("day"),
        F.when(vx * vy == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                cov.cast("double")
                / F.sqrt(vx.cast("double") * vy.cast("double")),
                6,
            )
        )
        .alias("corr_7d"),
    )


# ===========================================================================
# wave module round6j (formerly operators/round6j.py)
# Round-5 thirty-sixth wave (SURVEY.md §2.Q, continued):
# content-defined chunking dedup, categorical-column entropy profiling,
# and inter-arrival burstiness from exact integer moment sums.
# ===========================================================================

# Expected chunk length = modulus tokens; 8 keeps chunks long enough to
# carry content but short enough that shared passages align (CDC's whole
# point: an insertion resynchronizes at the next content boundary, which
# fixed-width chunking never does).
_CDC_MOD = 8


@register(
    "dedup_cdc_chunking",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
marked AS (
  SELECT doc_id, source, w, pos,
         CASE WHEN lag(w) OVER dw IS NOT NULL
               AND {_duck_h("lag(w) OVER dw || ' ' || w")} % {_CDC_MOD} = 0
              THEN 1 ELSE 0 END AS b
  FROM toks
  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
),
chunked AS (
  SELECT doc_id, source, w, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS cid
  FROM marked
),
chunks AS (
  SELECT doc_id, source, cid,
         md5(string_agg(w, ' ' ORDER BY pos)) AS ch,
         count(*) AS n_toks
  FROM chunked GROUP BY 1, 2, 3
)
SELECT source,
       count(*) AS n_chunks,
       count(DISTINCT ch) AS n_distinct_chunks,
       round(1.0 - CAST(count(DISTINCT ch) AS DOUBLE) / count(*), 6)
         AS dup_chunk_ratio,
       round(CAST(sum(n_toks) AS DOUBLE) / count(*), 6)
         AS avg_chunk_tokens
FROM chunks GROUP BY source
""",
)
def dedup_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (CDC) dedup profile per source: chunk
    boundaries fall where the rolling 2-token hash ≡ 0 (mod 8), so an
    insertion or deletion re-synchronizes at the next content boundary
    and shared passages still hash to identical chunks — the property
    fixed-width chunking lacks and the reason CDC underlies
    storage-level dedup (LBFS, Muthitacharoen 2001). Pipeline: one
    posexplode, boundary lag + chunk-id cumsum + the (doc, chunk)
    re-assembly all partitioned by doc_id (one corpus shuffle, the
    exchange reused across both windows and the groupBy), then a
    sources-sized distinct-count rollup. Chunk identity is md5 of the
    order-reassembled text; the boundary hash is the repo's portable
    md5-prefix bigint so both engines cut identically."""
    d = Tables(spark, sf_dir).documents
    toks = d.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    )
    dw = Window.partitionBy("doc_id").orderBy("pos")
    prev = toks.select(
        "doc_id", "source", "w", "pos", F.lag("w").over(dw).alias("pw")
    )
    marked = prev.select(
        "doc_id",
        "source",
        "w",
        "pos",
        F.when(
            F.col("pw").isNotNull()
            & (
                F.expr(_spark_h("concat(pw, ' ', w)")) % _CDC_MOD == 0
            ),
            1,
        )
        .otherwise(0)
        .alias("b"),
    )
    chunked = marked.select(
        "doc_id",
        "source",
        "w",
        "pos",
        F.sum("b")
        .over(dw.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cid"),
    )
    chunks = chunked.groupBy("doc_id", "source", "cid").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            )
        ).alias("ch"),
        F.count(F.lit(1)).alias("n_toks"),
    )
    return chunks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("ch").alias("n_distinct_chunks"),
        F.round(
            1.0 - F.countDistinct("ch").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("dup_chunk_ratio"),
        F.round(
            F.sum("n_toks").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_chunk_tokens"),
    )


@register(
    "quality_column_entropy_profile",
    oracle="""
WITH vals AS (
  SELECT 'o_orderstatus' AS column_name, o_orderstatus AS v FROM orders
  UNION ALL
  SELECT 'o_orderpriority', o_orderpriority FROM orders
  UNION ALL
  SELECT 'order_month', CAST(date_trunc('month', o_orderdate) AS VARCHAR)
  FROM orders
),
cnt AS (
  SELECT column_name, v, count(*) AS c FROM vals GROUP BY 1, 2
),
prob AS (
  SELECT column_name, c,
         CAST(c AS DOUBLE)
           / CAST(sum(c) OVER (PARTITION BY column_name) AS DOUBLE) AS p
  FROM cnt
)
SELECT column_name,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(-sum(p * ln(p)), 6) AS entropy,
       CASE WHEN count(*) = 1 THEN NULL
            ELSE round(-sum(p * ln(p)) / ln(count(*)), 6)
       END AS norm_entropy
FROM prob GROUP BY column_name
""",
)
def quality_column_entropy_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Categorical-column entropy profile of orders: Shannon entropy
    and its ln(k)-normalized form for status, priority, and order
    month — the 'how identifier-like vs how constant is this column'
    signal that quality_profile's null/distinct counts miss (norm ≈ 1:
    uniform/high-cardinality; ≈ 0: near-constant). One stacked pass
    (three unpivoted value relations union'd before a single groupBy),
    probabilities as exact integer-count ratios over the
    values-per-column-sized aggregate, entropy summed over ≤ k terms."""
    o = Tables(spark, sf_dir).orders
    vals = (
        o.select(
            F.lit("o_orderstatus").alias("column_name"),
            F.col("o_orderstatus").alias("v"),
        )
        .unionAll(
            o.select(
                F.lit("o_orderpriority").alias("column_name"),
                F.col("o_orderpriority").alias("v"),
            )
        )
        .unionAll(
            o.select(
                F.lit("order_month").alias("column_name"),
                F.date_trunc("month", "o_orderdate")
                .cast("string")
                .alias("v"),
            )
        )
    )
    cnt = vals.groupBy("column_name", "v").agg(
        F.count(F.lit(1)).alias("c")
    )
    prob = cnt.select(
        "column_name",
        (
            F.col("c").cast("double")
            / F.sum("c")
            .over(Window.partitionBy("column_name"))
            .cast("double")
        ).alias("p"),
    )
    ent = -F.sum(F.col("p") * F.log(F.col("p")))
    return prob.groupBy("column_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.round(ent, 6).alias("entropy"),
        F.when(F.count(F.lit(1)) == 1, F.lit(None).cast("double"))
        .otherwise(F.round(ent / F.log(F.count(F.lit(1)).cast("double")), 6))
        .alias("norm_entropy"),
    )


@register(
    "events_interarrival_burstiness",
    oracle="""
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY event_type ORDER BY ts, event_id) AS d
  FROM events
),
mom AS (
  SELECT event_type,
         count(*) AS n,
         sum(d) AS s1,
         sum(CAST(d AS HUGEINT) * d) AS s2
  FROM gaps WHERE d IS NOT NULL
  GROUP BY event_type
),
stats AS (
  SELECT event_type, n,
         CAST(s1 AS DOUBLE) / n / 1000000.0 AS mu,
         sqrt(CAST(CAST(n AS HUGEINT) * s2
                   - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
              / (CAST(n AS DOUBLE) * (n - 1))) / 1000000.0 AS sd
  FROM mom
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_gaps,
       round(mu, 6) AS mean_gap_s,
       round(sd, 6) AS sd_gap_s,
       round(sd / mu, 6) AS cv,
       round((sd - mu) / (sd + mu), 6) AS burstiness
FROM stats
""",
)
def events_interarrival_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inter-arrival burstiness per event type: the Goh–Barabási index
    B = (σ−μ)/(σ+μ) of the gap distribution (−1 = metronome, 0 =
    Poisson, →1 = heavy-tailed bursts) plus the coefficient of
    variation. The portability trap: stddev_samp on ~10⁹-magnitude
    microsecond gaps diverges across engines' accumulation algorithms
    beyond 6-dp rounding, so the variance is assembled from EXACT
    integer moment sums instead — Σd in BIGINT, Σd² in DECIMAL(38,0)
    (HUGEINT on the oracle side) — and floats appear only in the final
    n·Σd²−(Σd)² → double conversion, identical on both engines. Gaps
    order by (ts, event_id) so timestamp ties break deterministically;
    one corpus shuffle on event_type for the lag, then a 5-row rollup."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("event_type").orderBy(F.asc_nulls_last("ts"), "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = e.select(
        "event_type", (us - F.lag(us).over(w)).alias("d")
    ).where(F.col("d").isNotNull())
    mom = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("s1"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("s2"),
    )
    num = (
        F.col("n").cast("decimal(38,0)") * F.col("s2")
        - F.col("s1").cast("decimal(38,0)") * F.col("s1")
    )
    mu = F.col("s1").cast("double") / F.col("n") / 1e6
    sd = (
        F.sqrt(
            num.cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1))
        )
        / 1e6
    )
    stats = mom.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_gaps"),
        mu.alias("mu"),
        sd.alias("sd"),
    )
    return stats.select(
        "event_type",
        "n_gaps",
        F.round("mu", 6).alias("mean_gap_s"),
        F.round("sd", 6).alias("sd_gap_s"),
        F.round(F.col("sd") / F.col("mu"), 6).alias("cv"),
        F.round(
            (F.col("sd") - F.col("mu")) / (F.col("sd") + F.col("mu")), 6
        ).alias("burstiness"),
    )


# ===========================================================================
# wave module round6k (formerly operators/round6k.py)
# Round-5 thirty-seventh wave (SURVEY.md §2.Q, continued): customer
# segment migration, Kaplan–Meier survival with censoring, and a
# deterministic Poisson-bootstrap confidence interval.
# ===========================================================================

_SPLIT_DATE = "1998-01-01"


@register(
    "customer_segment_migration",
    oracle=f"""
WITH rev AS (
  SELECT o_custkey AS ck,
         CASE WHEN o_orderdate < DATE '{_SPLIT_DATE}' THEN 'A' ELSE 'B' END
           AS period,
         sum(CAST(o_totalprice AS DECIMAL(38,2))) AS r
  FROM orders GROUP BY 1, 2
),
seg AS (
  SELECT ck, period,
         ntile(3) OVER (PARTITION BY period ORDER BY r DESC, ck) AS tercile
  FROM rev
),
a AS (SELECT ck, tercile FROM seg WHERE period = 'A'),
b AS (SELECT ck, tercile FROM seg WHERE period = 'B')
SELECT coalesce(CAST(a.tercile AS VARCHAR), 'absent') AS seg_early,
       coalesce(CAST(b.tercile AS VARCHAR), 'absent') AS seg_late,
       count(*) AS n_customers
FROM a FULL OUTER JOIN b ON a.ck = b.ck
GROUP BY 1, 2
""",
)
def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue-tercile migration matrix between the early
    (pre-1998) and late order eras: who moved up, who churned out
    ('absent'), who appeared — the segment-churn view behind retention
    planning, generalizing customer_rfm_segments to a transition
    matrix. Terciles come from ntile(3) over each period's
    customer-revenue aggregate with (revenue DESC, custkey) ordering —
    the unique tie-break key that makes rank assignment deterministic
    across engines — and revenues accumulate in DECIMAL before any
    ordering. Two customer-sized windows + one full-outer join on
    custkey; output ≤ 4×4 rows at any scale."""
    o = Tables(spark, sf_dir).orders
    rev = o.groupBy(
        F.col("o_custkey").alias("ck"),
        F.when(
            F.col("o_orderdate") < F.lit(_SPLIT_DATE).cast("timestamp_ntz"),
            "A",
        )
        .otherwise("B")
        .alias("period"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("r"))
    seg = rev.select(
        "ck",
        "period",
        F.ntile(3)
        .over(
            Window.partitionBy("period").orderBy(F.desc("r"), F.asc("ck"))
        )
        .alias("tercile"),
    )
    a = seg.where(F.col("period") == "A").select(
        F.col("ck").alias("ck_a"), F.col("tercile").alias("t_a")
    )
    b = seg.where(F.col("period") == "B").select(
        F.col("ck").alias("ck_b"), F.col("tercile").alias("t_b")
    )
    return (
        a.join(b, F.col("ck_a") == F.col("ck_b"), "full_outer")
        .groupBy(
            F.coalesce(F.col("t_a").cast("string"), F.lit("absent")).alias(
                "seg_early"
            ),
            F.coalesce(F.col("t_b").cast("string"), F.lit("absent")).alias(
                "seg_late"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "events_kaplan_meier_daily",
    oracle="""
WITH uw AS (
  SELECT user_id,
         max(CAST(datediff('day', DATE '2024-01-01',
                          CAST(ts AS DATE)) + 1 AS INTEGER)) AS last_day
  FROM events GROUP BY user_id
),
mx AS (SELECT max(last_day) AS mw FROM uw),
cnt AS (
  SELECT last_day, count(*) AS ended FROM uw GROUP BY last_day
),
days AS (
  SELECT last_day AS day, ended,
         sum(ended) OVER (ORDER BY last_day DESC
                          ROWS UNBOUNDED PRECEDING) AS n_at_risk,
         CASE WHEN last_day < (SELECT mw FROM mx) THEN ended ELSE 0 END
           AS churned
  FROM cnt
)
SELECT day,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(churned AS BIGINT) AS n_churned,
       round(exp(sum(ln(1.0 - CAST(churned AS DOUBLE) / n_at_risk))
                 OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)), 6)
         AS survival
FROM days
""",
)
def events_kaplan_meier_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier product-limit survival curve over user activity
    days WITH censoring — the estimator events_survival_weeks's naive
    share-active curve is not: users whose last activity falls on the
    final observed day are censored (still alive at cutoff), not
    churned, so they contribute to the risk set but not to any failure
    count. S(t) = Π_{i≤t}(1 − d_i/n_i) computed as exp∘cumsum∘ln over
    the days-sized relation; the risk set n_i is a DESCENDING
    cumulative sum (everyone whose last day is ≥ i), so the whole
    estimator runs in two windows over ≤ n_days rows after one
    per-user max aggregate — the only corpus-sized shuffle."""
    e = Tables(spark, sf_dir).events
    day = (
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        + 1
    ).cast("int")
    uw = e.groupBy("user_id").agg(F.max(day).alias("last_day"))
    cnt = uw.groupBy("last_day").agg(F.count(F.lit(1)).alias("ended"))
    w_all = Window.partitionBy()
    w_desc = Window.orderBy(F.desc("last_day")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    days = cnt.select(
        F.col("last_day").alias("day"),
        "ended",
        F.sum("ended").over(w_desc).alias("n_at_risk"),
        F.when(
            F.col("last_day") < F.max("last_day").over(w_all),
            F.col("ended"),
        )
        .otherwise(F.lit(0))
        .alias("churned"),
    )
    w_asc = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return days.select(
        "day",
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("churned").cast("bigint").alias("n_churned"),
        F.round(
            F.exp(
                F.sum(
                    F.log(
                        1.0
                        - F.col("churned").cast("double")
                        / F.col("n_at_risk")
                    )
                ).over(w_asc)
            ),
            6,
        ).alias("survival"),
    )


# Truncated-Poisson(1) weight thresholds: P(0)=e⁻¹, P(1)=e⁻¹, P(2)=e⁻¹/2,
# remaining mass (~0.019) lumped into w=3. Written as literals so both
# engines compare the SAME doubles against the SAME portable-hash uniform.
_P0 = "0.36787944117144233"
_P1 = "0.7357588823428847"
_P2 = "0.9196986029286058"
_B_REPS = 32
_HASH_SCALE = float(1 << 60)


@register(
    "agg_bootstrap_mean_ci",
    oracle=f"""
WITH reps AS (SELECT unnest(range(0, {_B_REPS})) AS b),
wts AS (
  SELECT b,
         CAST(o_totalprice AS DECIMAL(38,2)) AS x,
         CASE
           WHEN u < {_P0} THEN 0
           WHEN u < {_P1} THEN 1
           WHEN u < {_P2} THEN 2
           ELSE 3
         END AS w
  FROM (
    SELECT b, o_totalprice,
           CAST({_duck_h("CAST(o_orderkey AS VARCHAR) || '-' || CAST(b AS VARCHAR)")}
                AS DOUBLE) / {_HASH_SCALE} AS u
    FROM orders CROSS JOIN reps
  )
),
means AS (
  SELECT b, CAST(sum(w * x) AS DOUBLE) / sum(w) AS m
  FROM wts GROUP BY b HAVING sum(w) > 0
),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m) AS rn,
         count(*) OVER () AS nb
  FROM means
)
SELECT CAST(max(nb) AS BIGINT) AS n_replicas,
       round(max(CASE WHEN rn = 2 THEN m END), 6) AS ci_lo,
       round(max(CASE WHEN rn = nb - 1 THEN m END), 6) AS ci_hi,
       (SELECT round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,2)))
                          AS DOUBLE) / count(*), 6)
        FROM orders) AS grand_mean
FROM ranked
""",
)
def agg_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean order value,
    fully deterministic and shuffle-light: each of 32 replicas
    reweights every order by a truncated-Poisson(1) draw derived from
    the portable md5 hash of (orderkey, replica) — the classic
    single-pass bootstrap for distributed data (Chamandy 2012, no
    resampling shuffle, no driver collect). The explode is a map-side
    ×32 flatMap; the only shuffle carries 32 partially-aggregated
    (Σwx DECIMAL, Σw) pairs per task, so cost is linear in B and the
    CI never sees a skewed key. The interval is the 2nd/31st order
    statistics of the replica means (≈90% percentile CI); weights w>3
    are truncated identically on both sides."""
    o = Tables(spark, sf_dir).orders
    b = F.explode(
        F.sequence(F.lit(0), F.lit(_B_REPS - 1))
    ).alias("b")
    ex = o.select(
        F.col("o_orderkey"),
        F.col("o_totalprice").cast("decimal(38,2)").alias("x"),
        b,
    )
    u = (
        F.expr(
            _spark_h(
                "concat(CAST(o_orderkey AS STRING), '-', CAST(b AS STRING))"
            )
        ).cast("double")
        / F.lit(_HASH_SCALE)
    )
    wts = ex.select(
        "b",
        "x",
        F.when(u < float(_P0), 0)
        .when(u < float(_P1), 1)
        .when(u < float(_P2), 2)
        .otherwise(3)
        .alias("w"),
    )
    means = (
        wts.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("x")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select((F.col("swx").cast("double") / F.col("sw")).alias("m"))
    )
    ranked = means.select(
        "m",
        F.row_number().over(Window.orderBy("m")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nb"),
    )
    grand = o.agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,2)")).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("grand_mean")
    )
    ci = ranked.agg(
        F.max("nb").cast("bigint").alias("n_replicas"),
        F.round(
            F.max(F.when(F.col("rn") == 2, F.col("m"))), 6
        ).alias("ci_lo"),
        F.round(
            F.max(F.when(F.col("rn") == F.col("nb") - 1, F.col("m"))), 6
        ).alias("ci_hi"),
    )
    return ci.crossJoin(F.broadcast(grand)).select(
        "n_replicas", "ci_lo", "ci_hi", "grand_mean"
    )


# ===========================================================================
# wave module round6l (formerly operators/round6l.py)
# Round-5 thirty-eighth wave (SURVEY.md §2.Q, continued): embedding
# prefix-energy (Matryoshka truncation) analysis, Wilson proportion CIs,
# and a three-strategy join-equivalence proof.
# ===========================================================================

_PREFIX_KS = (8, 16, 32, 64)


def _prefix_oracle() -> str:
    per = ",\n".join(
        f"         sum(CASE WHEN i <= {k} THEN CAST(x AS DOUBLE) * x END)"
        f" AS e{k}"
        for k in _PREFIX_KS
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT {k} AS k, round(avg(e{k} / e64), 6) AS mean_energy,"
        f" round(min(e{k} / e64), 6) AS min_energy,"
        f" round(max(e{k} / e64), 6) AS max_energy FROM per"
        for k in _PREFIX_KS
    )
    return f"""
WITH ex AS (
  SELECT vec_id, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
per AS (
  SELECT vec_id,
{per}
  FROM ex GROUP BY vec_id
)
{rows}
"""


@register("embed_prefix_energy_fraction", oracle=_prefix_oracle())
def embed_prefix_energy_fraction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka-style prefix-energy curve: what fraction of each
    embedding's L2 energy lives in its first k dimensions
    (k ∈ 8/16/32/64) — the measurement behind truncating stored vectors
    to a prefix (Kusupati 2022): if mean energy at k=16 is already
    ~0.95 the index can ship quarter-width vectors. One posexplode +
    one vec_id-partitioned aggregate computing all four conditional
    energy sums in a single pass (no per-k re-scan), then a 4-row
    rollup; ratios are per-vector so corpus-level float accumulation
    never mixes vectors."""
    e = Tables(spark, sf_dir).embeddings
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("i"),
        F.col("x").cast("double").alias("x"),
    )
    aggs = [
        F.sum(
            F.when(F.col("i") <= k, F.col("x") * F.col("x"))
        ).alias(f"e{k}")
        for k in _PREFIX_KS
    ]
    per = ex.groupBy("vec_id").agg(*aggs)
    # stack() unpivots the four ratios from ONE pass over `per` — a
    # union of four selects would re-run the explode+aggregate per k
    # (measured: 4 Generate nodes in the physical plan).
    stack_args = ", ".join(f"{k}, e{k} / e64" for k in _PREFIX_KS)
    stacked = per.select(
        F.expr(f"stack({len(_PREFIX_KS)}, {stack_args}) AS (k, f)")
    )
    return stacked.groupBy("k").agg(
        F.round(F.avg("f"), 6).alias("mean_energy"),
        F.round(F.min("f"), 6).alias("min_energy"),
        F.round(F.max("f"), 6).alias("max_energy"),
    )


_Z95 = "1.959963984540054"


@register(
    "lineitem_wilson_ci_return_rate",
    oracle=f"""
WITH cnt AS (
  SELECT n_name,
         count(*) AS n,
         count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS r
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name
),
wil AS (
  SELECT n_name, n, r,
         CAST(r AS DOUBLE) / n AS p,
         {_Z95} AS z
  FROM cnt
)
SELECT n_name AS nation,
       CAST(n AS BIGINT) AS n_lines,
       CAST(r AS BIGINT) AS n_returned,
       round(p, 6) AS rate,
       round((p + z*z/(2*n) - z * sqrt(p*(1-p)/n + z*z/(4.0*n*n)))
             / (1 + z*z/n), 6) AS wilson_lo,
       round((p + z*z/(2*n) + z * sqrt(p*(1-p)/n + z*z/(4.0*n*n)))
             / (1 + z*z/n), 6) AS wilson_hi
FROM wil
""",
)
def lineitem_wilson_ci_return_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """95% Wilson score interval for the return rate per supplier
    nation — the proportion CI that stays inside [0,1] and behaves at
    small n where the normal ('Wald') interval collapses; the
    closed-form sibling of agg_bootstrap_mean_ci. Every input to the
    formula is an exact integer count (one broadcast-dim join + one
    nations-sized groupBy), so both engines evaluate the identical
    float expression — no accumulation-order exposure anywhere."""
    t = Tables(spark, sf_dir)
    cnt = (
        t.lineitem.join(
            broadcast_if_small(
                t.supplier.select("s_suppkey", "s_nationkey"), sf_dir, "supplier"
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("r"),
        )
    )
    z = F.lit(float(_Z95))
    n = F.col("n").cast("double")
    p = F.col("r").cast("double") / n
    half = z * F.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))
    center = p + z * z / (2 * n)
    denom = 1 + z * z / n
    return cnt.select(
        F.col("n_name").alias("nation"),
        F.col("n").cast("bigint").alias("n_lines"),
        F.col("r").cast("bigint").alias("n_returned"),
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )


_JOIN_STRATEGIES = ("broadcast", "shuffle_hash", "merge")


def _strategy_oracle() -> str:
    one = """
SELECT '{s}' AS strategy,
       count(DISTINCT c_mktsegment) AS n_segments,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,2))), 2) AS DOUBLE)
         AS total_revenue
FROM orders JOIN customer ON o_custkey = c_custkey"""
    return "\nUNION ALL\n".join(
        one.format(s=s) for s in _JOIN_STRATEGIES
    )


@register("join_strategy_equivalence", oracle=_strategy_oracle())
def join_strategy_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-strategy independence proof for the orders ⋈ customer
    revenue rollup: the SAME logical join executed three ways —
    broadcast-hash, shuffled-hash, and sort-merge (per-branch join
    hints, pinned in plan tests as three distinct physical operators) —
    must produce identical aggregates. This is the join sibling of
    topk_per_group_strategies / dedup_partition_invariance: the
    property that makes strategy a pure COST decision at 100 TB (AQE
    may flip a merge join to broadcast at runtime precisely because
    the result cannot change). DECIMAL revenue so the three sums are
    bit-identical, not merely close."""
    t = Tables(spark, sf_dir)
    parts = []
    for s in _JOIN_STRATEGIES:
        joined = t.orders.join(
            t.customer.hint(s), F.col("o_custkey") == F.col("c_custkey")
        )
        parts.append(
            joined.agg(
                F.countDistinct("c_mktsegment").alias("n_segments"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(38,2)")), 2
                )
                .cast("double")
                .alias("total_revenue"),
            ).select(
                F.lit(s).alias("strategy"), "n_segments", "total_revenue"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ===========================================================================
# wave module round6m (formerly operators/round6m.py)
# Round-5 thirty-ninth wave (SURVEY.md §2.Q, continued): epsilon
# similarity join on scalars without a cartesian, time-interval RANGE
# frames, and dynamic partition overwrite semantics.
# ===========================================================================

_EPS = 5.0


@register(
    "join_epsilon_float",
    oracle=f"""
SELECT n_name AS nation, count(*) AS n_pairs
FROM supplier
JOIN customer ON abs(s_acctbal - c_acctbal) <= {_EPS}
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name
""",
)
def join_epsilon_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epsilon-join on a scalar (|s_acctbal − c_acctbal| ≤ ε) WITHOUT
    the cartesian product the theta-join definition implies: both
    sides bucket to floor(bal/ε), the customer side expands to its
    three candidate buckets {b−1, b, b+1} (a row within ε of bal must
    sit in one of them), and the join becomes a hash-partitioned
    EQUALITY join on bucket followed by the exact |Δ| ≤ ε verify —
    candidate volume is bounded by 3× the true near-pair density
    instead of |S|×|C|. Each true pair is counted exactly once because
    a supplier's single bucket matches exactly one of the three
    expanded candidates. The oracle states the quadratic theta-join
    definition; the plan test pins no-cartesian on the engine side."""
    t = Tables(spark, sf_dir)
    s = t.supplier.select(
        "s_nationkey",
        F.col("s_acctbal").alias("sb"),
        F.floor(F.col("s_acctbal") / _EPS).alias("bk"),
    )
    c = t.customer.select(
        F.col("c_acctbal").alias("cb"),
        F.explode(
            F.array(
                F.floor(F.col("c_acctbal") / _EPS) - 1,
                F.floor(F.col("c_acctbal") / _EPS),
                F.floor(F.col("c_acctbal") / _EPS) + 1,
            )
        ).alias("bk"),
    )
    pairs = s.join(c, "bk").where(
        F.abs(F.col("sb") - F.col("cb")) <= _EPS
    )
    return (
        pairs.join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "events_max_sliding_hour_rate",
    oracle="""
WITH sec AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
rates AS (
  SELECT event_type,
         count(*) OVER (PARTITION BY event_type ORDER BY t
                        RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
           AS hour_count
  FROM sec
)
SELECT event_type,
       CAST(max(hour_count) AS BIGINT) AS max_hour_count,
       count(*) AS n_events
FROM rates GROUP BY event_type
""",
)
def events_max_sliding_hour_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Peak TRUE-sliding one-hour event rate per type: for every event,
    how many same-type events landed in the trailing 3600 s, then the
    max — the rate-limiter / burst-SLA view that bucketed variants
    (events_error_burst_5min) systematically understate when a burst
    straddles a bucket edge. The time-interval RANGE frame (§2.E's
    value-range frame applied to epoch seconds) makes the window
    VALUE-based: timestamp ties all share one frame, so the count is
    deterministic with no tie-break key needed. One shuffle on
    event_type; the frame never materializes the hour — Spark's
    running RANGE frame is O(n) per partition."""
    e = Tables(spark, sf_dir).events
    sec = e.select(
        "event_type",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000
        ).alias("t"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rangeBetween(-3599, Window.currentRow)
    )
    rates = sec.select(
        "event_type", F.count(F.lit(1)).over(w).alias("hour_count")
    )
    return rates.groupBy("event_type").agg(
        F.max("hour_count").cast("bigint").alias("max_hour_count"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "sink_dynamic_partition_overwrite",
    oracle="""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, event_type FROM events
),
incoming_days AS (
  -- dynamic overwrite replaces ONLY partitions PRESENT in the incoming
  -- frame: a pre-cutoff day with zero clicks sends no incoming rows, so
  -- its partition — non-clicks and all — SURVIVES. The epoch tier's
  -- sparse 1920s days made this matter (the old formula assumed every
  -- pre-cutoff day contains a click, which the dense clean corpus
  -- happened to satisfy).
  SELECT DISTINCT day FROM d
  WHERE day <= DATE '2024-01-05' AND event_type = 'click'
    AND day IS NOT NULL
),
replaced AS (
  SELECT count(*) AS c FROM d
  WHERE day IN (SELECT day FROM incoming_days) AND event_type = 'click'
),
pre_survivor AS (
  -- pre-cutoff partitions absent from the incoming frame keep ALL rows
  SELECT count(*) AS c FROM d
  WHERE day <= DATE '2024-01-05'
    AND day NOT IN (SELECT day FROM incoming_days)
),
untouched AS (
  -- the NULL-day partition (hive default dir) is a real partition the
  -- dynamic overwrite leaves untouched — it survives in the target
  SELECT count(*) AS c FROM d
  WHERE day > DATE '2024-01-05' OR day IS NULL
)
SELECT 'rows_after' AS metric,
       (SELECT c FROM replaced) + (SELECT c FROM pre_survivor)
         + (SELECT c FROM untouched) AS value
UNION ALL
SELECT 'days_present', (SELECT count(DISTINCT day) FROM d)
UNION ALL
SELECT 'touched_day_rows',
       (SELECT c FROM replaced) + (SELECT c FROM pre_survivor)
UNION ALL
SELECT 'untouched_day_rows', (SELECT c FROM untouched)
""",
)
def sink_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC partition-overwrite semantics, the incremental-reload
    contract sink_write_modes's whole-table modes can't express:
    overwrite mode with partitionOverwriteMode=dynamic replaces ONLY
    the partitions present in the incoming frame (here: days ≤ Jan 5,
    clicks only) and leaves every other day's files untouched — under
    the default static mode the same write would TRUNCATE the table to
    5 days. The op lands the full day-partitioned table, re-writes the
    filtered slice, then audits the target: total rows, surviving day
    partitions, rows inside vs outside the touched days. The session
    conf is restored in a finally block; expectations on the oracle
    side derive from the same events relation."""
    e = Tables(spark, sf_dir).events
    day = F.col("ts").cast("date").alias("day")
    base = e.select("event_id", "event_type", day)
    # Cluster rows by day before each partitionBy("day") write (guide §6):
    # unclustered, EVERY shuffle task writes a file into every day dir it
    # holds rows for (tasks x days small files; measured 480 files for 30
    # days at sf0.1), and the audit scan then pays the per-file open cost
    # over all of them. A deterministic salt (xxhash64, not rand - retried
    # map tasks must re-draw the same value, guide §2.5) bounds how many
    # tasks share one day so a giant day cannot serialize into a single
    # writer at scale: ~one writer per 512 MiB of table bytes, 1 locally.
    _wpd = 1 + table_bytes(
        sf_dir, "events", cap=1024 * 512 * 2**20
    ) // (512 * 2**20)
    writers = int(min(1024, _wpd))
    cluster = lambda df: df.repartition(  # noqa: E731
        F.col("day"), F.pmod(F.xxhash64("event_id"), F.lit(writers))
    )
    target = op_tmpdir("sink_dpo_")
    cluster(base).write.mode("overwrite").partitionBy("day").parquet(
        target
    )
    prev = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    try:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        cluster(
            base.where(
                (F.col("day") <= F.lit("2024-01-05").cast("date"))
                & (F.col("event_type") == "click")
            )
        ).write.mode("overwrite").partitionBy("day").parquet(target)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # explicit schema: an empty corpus writes zero partition dirs and
    # schema inference has nothing to read (the ingest_incremental rule)
    got = spark.read.schema(
        "event_id bigint, event_type string, day date"
    ).parquet(target)
    cutoff = F.lit("2024-01-05").cast("date")
    audit = got.agg(
        F.count(F.lit(1)).alias("rows_after"),
        F.countDistinct("day").alias("days_present"),
        F.count(F.when(F.col("day") <= cutoff, 1)).alias(
            "touched_day_rows"
        ),
        # the NULL-day partition is untouched by the overwrite (the
        # incoming slice has no NULL day) — count it on that side
        F.count(
            F.when((F.col("day") > cutoff) | F.col("day").isNull(), 1)
        ).alias("untouched_day_rows"),
    )
    return audit.select(
        F.expr(
            "stack(4, 'rows_after', rows_after,"
            " 'days_present', CAST(days_present AS BIGINT),"
            " 'touched_day_rows', touched_day_rows,"
            " 'untouched_day_rows', untouched_day_rows) AS (metric, value)"
        )
    )


# ===========================================================================
# wave module round6n (formerly operators/round6n.py)
# Round-5 fortieth wave (SURVEY.md §2.Q, continued): foreachBatch
# streaming UPSERT (merge, not append), stratified-sampling estimator
# variance, and a p-chart attribute control chart.
# ===========================================================================

@register(
    "stream_foreachbatch_upsert",
    oracle="""
WITH ranked AS (
  -- user_id IS NOT NULL both sides: upsert state is keyed by user, and
  -- the correlated count below is null-unsafe anyway (count 0 for NULL)
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE user_id IS NOT NULL
)
SELECT user_id,
       (SELECT count(*) FROM events e WHERE e.user_id = ranked.user_id)
         AS n_events,
       -- finite gate on the summed METRIC only (nan-tier contract):
       -- event counts keep every row, but ±Inf cannot enter the exact
       -- DECIMAL state column (conversion error here, NULL-poison there)
       (SELECT CAST(round(sum(CASE WHEN isfinite(value)
                               THEN CAST(value AS DECIMAL(38,6)) END), 2)
               AS DOUBLE)
        FROM events e WHERE e.user_id = ranked.user_id) AS total_value,
       event_type AS last_type
FROM ranked WHERE rn = 1
""",
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT via foreachBatch — last-writer-wins state merge,
    the semantics ingest_incremental's dedup-append cannot express:
    each micro-batch folds into a per-user state table (event count,
    DECIMAL value total, latest event type by (ts, event_id)) by
    re-aggregating old ⊕ new. The merge is associative because every
    state column is a monoid — counts add, decimals add, and 'latest'
    is max over a (ts, event_id, type) struct — which is exactly what
    makes the pattern batch-order-independent and therefore
    replay-safe at scale. State lands in alternating generation dirs
    (write-new-then-advance), never read-and-overwrite in place. Final
    answer must equal the batch aggregate over all events."""
    from ai_dataingestion_spark.streaming.incremental import (
        _RAW_EVENTS_DDL,
        _read_stream,
        _run_available_now,
        stage_event_files,
    )

    staging = stage_event_files(spark, sf_dir, n_files=3)
    root = op_tmpdir("upsert_state_")
    ckpt = op_tmpdir("upsert_ckpt_")
    state_schema = (
        "user_id bigint, n_events bigint, sum_value decimal(38,6), "
        "latest struct<ts:timestamp_ntz,event_id:bigint,event_type:string>"
    )

    def _gen_dir(gen: int) -> str:
        return os.path.join(root, f"gen={gen}")

    def _latest_gen() -> int:
        gens = [
            int(d.split("=", 1)[1])
            for d in os.listdir(root)
            if d.startswith("gen=")
        ]
        return max(gens, default=-1)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # upsert state is keyed by user: no user, no state row (oracle
        # mirrors with user_id IS NOT NULL)
        batch_df = batch_df.where(F.col("user_id").isNotNull())
        # finite gate on the summed METRIC only (nan-tier contract,
        # mirrored in the oracle): counts keep every event, but a ±Inf
        # value must not enter the exact DECIMAL state column
        from ai_dataingestion_spark.functions.portable import finite

        batch_state = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(finite("value"), F.col("value")).cast("decimal(38,6)")
            )
            .cast("decimal(38,6)")
            .alias("sum_value"),
            F.max(F.struct("ts", "event_id", "event_type")).alias("latest"),
        )
        gen = _latest_gen()
        if gen >= 0:
            old = sess.read.schema(state_schema).parquet(_gen_dir(gen))
            merged = (
                old.unionByName(batch_state)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_value").cast("decimal(38,6)").alias("sum_value"),
                    F.max("latest").alias("latest"),
                )
            )
        else:
            merged = batch_state
        merged.write.mode("overwrite").parquet(_gen_dir(gen + 1))

    _run_available_now(
        _read_stream(spark, staging)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
    )
    gen = _latest_gen()
    if gen < 0:
        # empty corpus: zero micro-batches fired, no state generation
        # exists — return the empty result in the contract schema
        return spark.createDataFrame(
            [],
            "user_id bigint, n_events bigint, total_value double, "
            "last_type string",
        )
    final = spark.read.schema(state_schema).parquet(_gen_dir(gen))
    return final.select(
        "user_id",
        "n_events",
        F.round("sum_value", 2).cast("double").alias("total_value"),
        F.col("latest.event_type").alias("last_type"),
    )


@register(
    "agg_stratified_estimator_variance",
    oracle="""
WITH strat AS (
  SELECT c_mktsegment,
         count(*) AS nh,
         sum(CAST(c_acctbal AS DECIMAL(38,2))) AS s1,
         sum(CAST(c_acctbal AS DECIMAL(38,2))
             * CAST(c_acctbal AS DECIMAL(38,2))) AS s2
  FROM customer GROUP BY c_mktsegment
),
g AS (
  SELECT nh, s1, s2,
         CAST(s1 AS DOUBLE) / nh AS mh,
         CAST(nh * s2 - s1 * s1 AS DOUBLE) / (CAST(nh AS DOUBLE) * (nh - 1))
           AS vh,
         sum(nh) OVER () AS n,
         sum(s1) OVER () AS t1,
         sum(s2) OVER () AS t2
  FROM strat
)
SELECT CAST(max(n) AS BIGINT) AS n_customers,
       round(CAST(max(t1) AS DOUBLE) / max(n), 6) AS strat_mean,
       round(sqrt(sum((CAST(nh AS DOUBLE) / n) * (CAST(nh AS DOUBLE) / n)
                      * vh / nh)), 6) AS se_stratified,
       round(sqrt(CAST(max(n) * max(t2) - max(t1) * max(t1) AS DOUBLE)
                  / (CAST(max(n) AS DOUBLE) * (max(n) - 1)) / max(n)), 6)
         AS se_srs,
       round(sum((CAST(nh AS DOUBLE) / n) * (CAST(nh AS DOUBLE) / n)
                 * vh / nh)
             / (CAST(max(n) * max(t2) - max(t1) * max(t1) AS DOUBLE)
                / (CAST(max(n) AS DOUBLE) * (max(n) - 1)) / max(n)), 6)
         AS design_effect
FROM g
""",
)
def agg_stratified_estimator_variance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stratified-sampling estimator variance for mean account balance
    with c_mktsegment strata: SE under proportional stratification
    (Σ W_h² s_h²/n_h), SE under simple random sampling, and their
    ratio — the DESIGN EFFECT that says how much a stratified sample
    plan buys (deff < 1: strata explain balance variance; ≈ 1: they
    don't). The survey-sampling math every data-subsample pipeline
    (split_train_eval, sample_stratified) implicitly relies on. All
    variances assemble from EXACT decimal moment sums (Σx, Σx² per
    stratum, window-totaled over the 5-row strata relation) — the
    events_interarrival_burstiness portability rule — so both engines
    evaluate identical doubles."""
    c = Tables(spark, sf_dir).customer
    xd = F.col("c_acctbal").cast("decimal(38,2)")
    strat = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(xd).alias("s1"),
        F.sum(xd * xd).alias("s2"),
    )
    w_all = Window.partitionBy()
    g = strat.select(
        "nh",
        "s1",
        "s2",
        (
            (
                F.col("nh") * F.col("s2") - F.col("s1") * F.col("s1")
            ).cast("double")
            / (F.col("nh").cast("double") * (F.col("nh") - 1))
        ).alias("vh"),
        F.sum("nh").over(w_all).alias("n"),
        F.sum("s1").over(w_all).alias("t1"),
        F.sum("s2").over(w_all).alias("t2"),
    )
    nn = F.max("n").cast("double")
    var_strat = F.sum(
        (F.col("nh").cast("double") / F.col("n"))
        * (F.col("nh").cast("double") / F.col("n"))
        * F.col("vh")
        / F.col("nh")
    )
    var_srs = (
        (F.max("n") * F.max("t2") - F.max("t1") * F.max("t1")).cast(
            "double"
        )
        / (nn * (F.max("n") - 1))
        / F.max("n")
    )
    return g.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.round(F.max("t1").cast("double") / F.max("n"), 6).alias(
            "strat_mean"
        ),
        F.round(F.sqrt(var_strat), 6).alias("se_stratified"),
        F.round(F.sqrt(var_srs), 6).alias("se_srs"),
        F.round(var_strat / var_srs, 6).alias("design_effect"),
    )


@register(
    "events_pchart_error_rate",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         count(*) AS n,
         count(CASE WHEN event_type = 'error' THEN 1 END) AS x
  FROM events GROUP BY 1
),
g AS (
  SELECT day, n, x,
         CAST(sum(x) OVER () AS DOUBLE) / sum(n) OVER () AS pbar
  FROM daily
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(n AS BIGINT) AS n_events,
       CAST(x AS BIGINT) AS n_errors,
       round(CAST(x AS DOUBLE) / n, 6) AS rate,
       round(greatest(pbar - 3 * sqrt(pbar * (1 - pbar) / n), 0.0), 6)
         AS lcl,
       round(pbar + 3 * sqrt(pbar * (1 - pbar) / n), 6) AS ucl,
       CAST(x AS DOUBLE) / n
         > pbar + 3 * sqrt(pbar * (1 - pbar) / n)
       OR CAST(x AS DOUBLE) / n
         < greatest(pbar - 3 * sqrt(pbar * (1 - pbar) / n), 0.0)
         AS out_of_control
FROM g
""",
)
def events_pchart_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart p-chart over the daily error-event share: 3σ binomial
    control limits around the center line p̄ = Σx/Σn, with per-day
    limits widening on low-volume days (the √(p̄(1−p̄)/n_t) term) — the
    attribute-control-chart sibling of lineitem_quantity_cusum_shift
    (which detects small sustained shifts; the p-chart flags single
    out-of-control days). Everything derives from exact integer daily
    counts and two window totals over the days-sized relation; the
    flag compares the SAME float expressions on both engines, so no
    epsilon is needed at the boundary."""
    e = Tables(spark, sf_dir).events
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("x"),
    )
    w_all = Window.partitionBy()
    g = daily.select(
        "day",
        "n",
        "x",
        (
            F.sum("x").over(w_all).cast("double")
            / F.sum("n").over(w_all)
        ).alias("pbar"),
    )
    rate = F.col("x").cast("double") / F.col("n")
    sig = F.sqrt(
        F.col("pbar") * (1 - F.col("pbar")) / F.col("n")
    )
    lcl = F.greatest(F.col("pbar") - 3 * sig, F.lit(0.0))
    ucl = F.col("pbar") + 3 * sig
    return g.select(
        F.col("day").cast("string").alias("day"),
        F.col("n").cast("bigint").alias("n_events"),
        F.col("x").cast("bigint").alias("n_errors"),
        F.round(rate, 6).alias("rate"),
        F.round(lcl, 6).alias("lcl"),
        F.round(ucl, 6).alias("ucl"),
        ((rate > ucl) | (rate < lcl)).alias("out_of_control"),
    )


# ===========================================================================
# wave module round6o (formerly operators/round6o.py)
# Round-5 forty-first wave (SURVEY.md §2.Q, continued): leakage-safe
# point-in-time feature assembly, closed-form sign-binarized Hamming
# separation, and hierarchical share-of-parent rollups.
# ===========================================================================

_WEEK_S = 7 * 24 * 3600


@register(
    "events_pit_training_features",
    oracle=f"""
WITH sec AS (
  SELECT user_id, event_type, CAST(ts AS DATE) AS day,
         CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events
),
feat AS (
  SELECT day, event_type,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           OVER w AS trailing_clicks,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           OVER w AS trailing_views,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
           OVER w AS trailing_errors
  FROM sec
  WINDOW w AS (PARTITION BY user_id ORDER BY t
               RANGE BETWEEN {_WEEK_S} PRECEDING AND 1 PRECEDING)
)
SELECT CAST(day AS VARCHAR) AS day,
       count(*) AS n_purchases,
       round(avg(coalesce(trailing_clicks, 0)), 6) AS avg_trailing_clicks,
       round(avg(coalesce(trailing_views, 0)), 6) AS avg_trailing_views,
       round(avg(coalesce(trailing_errors, 0)), 6) AS avg_trailing_errors
FROM feat WHERE event_type = 'purchase'
GROUP BY day
""",
)
def events_pit_training_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-in-time-correct training-feature assembly — the
    feature-store pattern behind leakage-free ML datasets: for every
    purchase (the label event), per-user behavioral counts over the
    trailing 7 days STRICTLY BEFORE the purchase second (the RANGE
    frame ends at 1 PRECEDING, so nothing co-timed with or after the
    label leaks into its features; join_asof picks one nearest value,
    this aggregates a whole window). The frame is value-based on epoch
    seconds — deterministic under timestamp ties, no tie-break key
    needed — and all three feature columns come from ONE window pass
    over the user partition; the label filter then drops to the
    days-sized report. One corpus shuffle on user_id."""
    e = Tables(spark, sf_dir).events
    sec = e.select(
        "user_id",
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000
        ).alias("t"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-_WEEK_S, -1)
    )
    feat = sec.select(
        "day",
        "event_type",
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .over(w)
        .alias("trailing_clicks"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .over(w)
        .alias("trailing_views"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .over(w)
        .alias("trailing_errors"),
    )
    return (
        feat.where(F.col("event_type") == "purchase")
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(
                F.avg(F.coalesce("trailing_clicks", F.lit(0))), 6
            ).alias("avg_trailing_clicks"),
            F.round(
                F.avg(F.coalesce("trailing_views", F.lit(0))), 6
            ).alias("avg_trailing_views"),
            F.round(
                F.avg(F.coalesce("trailing_errors", F.lit(0))), 6
            ).alias("avg_trailing_errors"),
        )
    )


@register(
    "embed_sign_hamming_separation",
    oracle=f"""
WITH bits AS (
  SELECT label, generate_subscripts(embedding, 1) AS dim,
         CASE WHEN unnest(embedding) > 0 THEN 1.0 ELSE 0.0 END AS b
  FROM embeddings
),
marg AS (
  SELECT label, dim, avg(b) AS p FROM bits GROUP BY label, dim
)
SELECT a.label AS label_a, b.label AS label_b,
       {grid_sum_sql("a.p * (1 - b.p) + (1 - a.p) * b.p")} AS mean_hamming
FROM marg a JOIN marg b ON a.dim = b.dim
GROUP BY a.label, b.label
""",
)
def embed_sign_hamming_separation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sign-binarized (1-bit-per-dim) Hamming separation between label
    groups — does the 64× compression of sign-LSH codes (Charikar
    2002) preserve label structure? The key identity: the EXACT mean
    pairwise Hamming distance between groups A and B is
    Σ_d [p_A(1−p_B) + (1−p_A)p_B] where p is each group's per-dim
    1-bit rate — so the all-pairs O(n²) comparison collapses to an
    O(labels × dims) join over bit marginals. That closed form IS the
    100 TB plan: one explode + one (label, dim) aggregate, then a
    640-row self-join; within-label diagonal (self-pairs included)
    low vs off-diagonal high = codes separate the labels."""
    e = Tables(spark, sf_dir).embeddings
    bits = e.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.when(F.col("x") > 0, 1.0).otherwise(0.0).alias("b"),
    )
    # cache the labels×dims marginal (≤640 rows): the self-join would
    # otherwise re-run the corpus explode+aggregate once per side
    # (measured: 2 Generate posexplode nodes without it)
    marg = bits.groupBy("label", "dim").agg(F.avg("b").alias("p")).transform(op_cache)
    a = marg.select(
        F.col("label").alias("label_a"),
        F.col("dim").alias("dim_a"),
        F.col("p").alias("pa"),
    )
    b = marg.select(
        F.col("label").alias("label_b"),
        F.col("dim").alias("dim_b"),
        F.col("p").alias("pb"),
    )
    return (
        a.join(F.broadcast(b), F.col("dim_a") == F.col("dim_b"))
        .groupBy("label_a", "label_b")
        .agg(
            # the 64 per-dim terms sum on the exact 1e-6 integer grid
            # (portable.py:grid_sum — count-ratio products can land
            # exactly on decimal-cast midpoints, the null-tier class),
            # so the emission is bit-deterministic with no further round
            grid_sum(
                F.col("pa") * (1 - F.col("pb"))
                + (1 - F.col("pa")) * F.col("pb")
            ).alias("mean_hamming")
        )
    )


@register(
    "orders_hierarchy_share_of_parent",
    oracle="""
WITH base AS (
  SELECT r_name, n_name, c_mktsegment AS seg,
         sum(CAST(o_totalprice AS DECIMAL(38,2))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY 1, 2, 3
),
seg_lvl AS (
  SELECT 'segment' AS level, n_name || '/' || seg AS key, n_name AS parent,
         rev,
         sum(rev) OVER (PARTITION BY n_name) AS parent_rev
  FROM base
),
nat_lvl AS (
  SELECT 'nation' AS level, n_name AS key, r_name AS parent,
         sum(rev) AS rev
  FROM base GROUP BY n_name, r_name
),
nat_w AS (
  SELECT level, key, parent, rev,
         sum(rev) OVER (PARTITION BY parent) AS parent_rev
  FROM nat_lvl
),
reg_lvl AS (
  SELECT 'region' AS level, r_name AS key, 'ALL' AS parent,
         sum(rev) AS rev
  FROM base GROUP BY r_name
),
reg_w AS (
  SELECT level, key, parent, rev, sum(rev) OVER () AS parent_rev
  FROM reg_lvl
),
u AS (
  SELECT * FROM seg_lvl UNION ALL
  SELECT * FROM nat_w UNION ALL
  SELECT * FROM reg_w
)
SELECT level, key, parent,
       CAST(round(rev, 2) AS DOUBLE) AS revenue,
       round(CAST(rev AS DOUBLE) / CAST(parent_rev AS DOUBLE), 6)
         AS share_of_parent
FROM u
""",
)
def orders_hierarchy_share_of_parent(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hierarchical share-of-parent report over region → nation →
    market segment: every node's revenue as a fraction of its PARENT's
    total — the drill-down ratio agg_rollup's grand-margin rows don't
    give you (a rollup shares against the grand total; planners want
    'this segment is 40% of its nation'). One corpus-sized groupBy to
    the (region, nation, segment) base relation; every level and every
    parent total is then a window or re-aggregate over those ≤ 125
    rows, DECIMAL until the final ratio."""
    t = Tables(spark, sf_dir)
    base = (
        t.orders.join(
            broadcast_if_small(
                t.customer.select("c_custkey", "c_nationkey", "c_mktsegment"),
                sf_dir,
                "customer",
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t.region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name", "n_name", F.col("c_mktsegment").alias("seg"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("rev")
        )
    )
    seg_lvl = base.select(
        F.lit("segment").alias("level"),
        # null-propagating concat (oracle ||): a NULL nation or segment
        # nulls the composite key instead of collapsing to a bare name
        F.concat(F.col("n_name"), F.lit("/"), F.col("seg")).alias("key"),
        F.col("n_name").alias("parent"),
        "rev",
        F.sum("rev").over(Window.partitionBy("n_name")).alias("parent_rev"),
    )
    nat_lvl = base.groupBy("n_name", "r_name").agg(
        F.sum("rev").alias("rev")
    )
    nat_w = nat_lvl.select(
        F.lit("nation").alias("level"),
        F.col("n_name").alias("key"),
        F.col("r_name").alias("parent"),
        "rev",
        F.sum("rev").over(Window.partitionBy("r_name")).alias("parent_rev"),
    )
    reg_lvl = base.groupBy("r_name").agg(F.sum("rev").alias("rev"))
    reg_w = reg_lvl.select(
        F.lit("region").alias("level"),
        F.col("r_name").alias("key"),
        F.lit("ALL").alias("parent"),
        "rev",
        F.sum("rev").over(Window.partitionBy()).alias("parent_rev"),
    )
    u = seg_lvl.unionByName(nat_w).unionByName(reg_w)
    return u.select(
        "level",
        "key",
        "parent",
        F.round("rev", 2).cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.col("parent_rev").cast("double"),
            6,
        ).alias("share_of_parent"),
    )


# ===========================================================================
# wave module round6p (formerly operators/round6p.py)
# Round-5 forty-second wave (SURVEY.md §2.Q, continued): Markov
# entropy rate of the event stream, product-quantization reconstruction
# error, and compressed-CSV round-trip interop.
# ===========================================================================

@register(
    "events_markov_entropy_rate",
    oracle="""
WITH seq AS (
  SELECT event_type AS nxt,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prv
  FROM events
),
cells AS (
  SELECT prv, nxt, count(*) AS c FROM seq WHERE prv IS NOT NULL
  GROUP BY prv, nxt
),
probs AS (
  SELECT prv, c,
         CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY prv) AS pij,
         CAST(sum(c) OVER (PARTITION BY prv) AS DOUBLE)
           / sum(c) OVER () AS pi
  FROM cells
)
SELECT round(-sum(pi * pij * ln(pij)), 6) AS entropy_rate_nats,
       round(-sum(pi * pij * ln(pij)) / ln(5.0), 6)
         AS normalized_entropy_rate,
       CAST(sum(c) AS BIGINT) AS n_transitions
FROM probs
""",
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain:
    H = −Σ_i π_i Σ_j P_ij ln P_ij with the stationary weight π taken
    empirically from transition counts — ONE number for 'how
    predictable is the next event given the current one' (0 =
    deterministic flows, ln(5) = uniform chaos), normalized by ln(k).
    This is the summary scalar over the same relation
    events_transition_matrix reports cell-by-cell and the conditional
    sibling of corpus_source_entropy. One corpus shuffle for the
    per-user lag; everything after runs on the ≤ types² cell
    aggregate, probabilities as exact integer-count ratios."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    seq = e.select(
        F.col("event_type").alias("nxt"),
        F.lag("event_type").over(w).alias("prv"),
    ).where(F.col("prv").isNotNull())
    cells = seq.groupBy("prv", "nxt").agg(F.count(F.lit(1)).alias("c"))
    w_prv = Window.partitionBy("prv")
    w_all = Window.partitionBy()
    probs = cells.select(
        "c",
        (F.col("c").cast("double") / F.sum("c").over(w_prv)).alias("pij"),
        (
            F.sum("c").over(w_prv).cast("double") / F.sum("c").over(w_all)
        ).alias("pi"),
    )
    h = -F.sum(F.col("pi") * F.col("pij") * F.log(F.col("pij")))
    return probs.agg(
        F.round(h, 6).alias("entropy_rate_nats"),
        F.round(h / F.log(F.lit(5.0)), 6).alias(
            "normalized_entropy_rate"
        ),
        F.sum("c").cast("bigint").alias("n_transitions"),
    )


_PQ_BLOCKS = 4
_PQ_SUBDIM = 16
_PQ_K = 4  # codebook entries per block: sub-vectors of vec_ids 0..3


@register(
    "embed_pq_reconstruction_error",
    oracle=f"""
WITH ex AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
),
sub AS (
  SELECT vec_id, CAST(floor(i / {_PQ_SUBDIM}) AS INTEGER) AS blk,
         i % {_PQ_SUBDIM} AS j, x
  FROM ex
),
cb AS (
  SELECT blk, j, vec_id AS cid, x AS cx FROM sub WHERE vec_id < {_PQ_K}
),
dist AS (
  SELECT s.vec_id, s.blk, c.cid,
         floor(sum((s.x - c.cx) * (s.x - c.cx)) * 1e9 + 0.5) / 1e9 AS d
  FROM sub s JOIN cb c ON s.blk = c.blk AND s.j = c.j
  GROUP BY s.vec_id, s.blk, c.cid
),
assign AS (
  SELECT vec_id, blk, min(d) AS best_d
  FROM (SELECT vec_id, blk, cid, d,
               row_number() OVER (PARTITION BY vec_id, blk
                                  ORDER BY d, cid) AS rn
        FROM dist)
  WHERE rn = 1 GROUP BY vec_id, blk
),
norms AS (
  SELECT vec_id, sum(x * x) AS e FROM sub GROUP BY vec_id
),
per_vec AS (
  SELECT a.vec_id, sum(a.best_d) AS sq_err, max(n.e) AS e
  FROM assign a JOIN norms n ON a.vec_id = n.vec_id
  GROUP BY a.vec_id
)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       round(avg(sq_err / e), 6) AS mean_err_ratio,
       round(max(sq_err / e), 6) AS max_err_ratio,
       round(avg(sq_err), 6) AS mean_sq_err
FROM per_vec
""",
)
def embed_pq_reconstruction_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Product-quantization (Jégou 2011) reconstruction error: split
    each 64-dim vector into 4 sub-vectors of 16, snap each to its
    nearest entry in a 4-entry per-block codebook (deterministically
    the sub-vectors of vec_ids 0-3 — a fixed 'trained' codebook both
    engines share), and report how much energy the 2-bit-per-block
    code loses. PQ is the memory side of ANN serving (sim_ann_ivf
    prunes candidates; PQ shrinks residents 128×). The plan: one
    explode to (vec, block, j) cells, the tiny codebook joins
    BROADCAST, per-(vec, block, centroid) distances aggregate in one
    pass, argmin by (9-dp-rounded distance, cid) — the
    tpch_q2_min_cost_supplier round-before-rank rule — then a
    corpus-sized ratio rollup. Quantizes VALID vectors only (nan-tier
    contract, mirrored in the oracle): a NaN component makes every
    block distance NaN, so the argmin degenerates to the cid tiebreak
    and the error ratios go NaN — quarantine, don't encode."""
    from ai_dataingestion_spark.functions.portable import finite_vec

    e = Tables(spark, sf_dir).embeddings.where(finite_vec("embedding"))
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select(
        "vec_id",
        (F.col("i") / _PQ_SUBDIM).cast("int").alias("blk"),
        (F.col("i") % _PQ_SUBDIM).alias("j"),
        F.col("xf").cast("double").alias("x"),
    )
    cb = ex.where(F.col("vec_id") < _PQ_K).select(
        F.col("blk").alias("c_blk"),
        F.col("j").alias("c_j"),
        F.col("vec_id").alias("cid"),
        F.col("x").alias("cx"),
    )
    dist = (
        ex.join(
            F.broadcast(cb),
            (F.col("blk") == F.col("c_blk")) & (F.col("j") == F.col("c_j")),
        )
        .groupBy("vec_id", "blk", "cid")
        .agg(
            (
                F.floor(
                    F.sum(
                        (F.col("x") - F.col("cx"))
                        * (F.col("x") - F.col("cx"))
                    )
                    * 1e9
                    + 0.5
                )
                / 1e9
            ).alias("d")
        )
    )
    w = Window.partitionBy("vec_id", "blk").orderBy("d", "cid")
    assign = (
        dist.select("vec_id", "blk", "d", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .groupBy("vec_id", "blk")
        .agg(F.min("d").alias("best_d"))
    )
    norms = ex.groupBy("vec_id").agg(
        F.sum(F.col("x") * F.col("x")).alias("e")
    )
    per_vec = (
        assign.groupBy("vec_id")
        .agg(F.sum("best_d").alias("sq_err"))
        .join(norms, "vec_id")
    )
    return per_vec.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.round(F.avg(F.col("sq_err") / F.col("e")), 6).alias(
            "mean_err_ratio"
        ),
        F.round(F.max(F.col("sq_err") / F.col("e")), 6).alias(
            "max_err_ratio"
        ),
        F.round(F.avg("sq_err"), 6).alias("mean_sq_err"),
    )


@register(
    "sink_csv_gzip_roundtrip",
    oracle="""
SELECT 'gzip' AS codec, count(*) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM orders
UNION ALL
SELECT 'bzip2', count(*), CAST(sum(o_orderkey) AS BIGINT) FROM orders
UNION ALL
SELECT 'uncompressed', count(*), CAST(sum(o_orderkey) AS BIGINT)
FROM orders
""",
)
def sink_csv_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-TEXT sink interop (the CSV sibling of
    sink_parquet_codecs): the same relation written as gzip'd,
    bzip2'd, and plain CSV, each re-read with an explicit schema and
    checksummed. The operational point at scale: gzip CSV files are
    NOT splittable — one file is one task on read, so landing
    compressed text must control file count at write time (bzip2 IS
    block-splittable, the reason it survives in ingest paths despite
    its CPU cost). Exchange-format round-trips stay part of the sink
    contract because upstream producers ship compressed text, not
    parquet."""
    o = Tables(spark, sf_dir).orders.select("o_orderkey", "o_orderstatus")
    out = None
    for codec in ["gzip", "bzip2", "uncompressed"]:
        path = op_tmpdir(f"sink_csv_{codec}_")
        (
            o.write.mode("overwrite")
            .option("compression", codec)
            .option("header", "true")
            .csv(path)
        )
        back = (
            spark.read.schema("o_orderkey bigint, o_orderstatus string")
            .option("header", "true")
            .csv(path)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            )
            .select(F.lit(codec).alias("codec"), "n", "key_sum")
        )
        out = back if out is None else out.unionByName(back)
    return out


# ===========================================================================
# wave module round6q (formerly operators/round6q.py)
# Round-5 forty-third wave (SURVEY.md §2.Q, continued): a trained
# Naive-Bayes source classifier evaluated on a held-out split, classical
# additive seasonal decomposition, and nested-JSON round-trip parity.
# ===========================================================================

# Train/test assignment: first md5 hex nibble of the salted doc id
# (split_train_eval's content-free rule) — nibbles 0..b train (75%),
# c..f test (25%). Identical hex on both engines.
_SPLIT = "substring(md5(concat('nb', CAST(doc_id AS {s}))), 1, 1)"


@register(
    "text_naive_bayes_source_classifier",
    oracle=f"""
WITH split AS (
  SELECT doc_id, source, text,
         CASE WHEN {_SPLIT.format(s="VARCHAR")} <= 'b'
              THEN 'train' ELSE 'test' END AS split
  FROM documents
),
train_tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w
  FROM split WHERE split = 'train'
),
counts AS (
  SELECT source, w, count(*) AS c FROM train_tok GROUP BY source, w
),
vocab AS (SELECT DISTINCT w FROM train_tok),
totals AS (
  SELECT source, sum(c) AS t FROM counts GROUP BY source
),
vsize AS (SELECT count(*) AS v FROM vocab),
grid AS (
  SELECT t.source, vb.w,
         ln((coalesce(c.c, 0) + 1.0)
            / (t.t + (SELECT v FROM vsize))) AS ll
  FROM totals t
  CROSS JOIN vocab vb
  LEFT JOIN counts c ON c.source = t.source AND c.w = vb.w
),
priors AS (
  SELECT source, ln(CAST(count(*) AS DOUBLE)
                    / (SELECT count(*) FROM split WHERE split = 'train'))
           AS lp
  FROM split WHERE split = 'train' GROUP BY source
),
test_tok AS (
  SELECT doc_id, source AS true_source,
         unnest(string_split(text, ' ')) AS w
  FROM split WHERE split = 'test'
),
scores AS (
  SELECT tt.doc_id, tt.true_source, g.source AS cand,
         max(p.lp) + sum(g.ll) AS score
  FROM test_tok tt
  JOIN grid g ON g.w = tt.w
  JOIN priors p ON p.source = g.source
  GROUP BY tt.doc_id, tt.true_source, g.source
),
pred AS (
  SELECT doc_id, true_source, cand AS predicted_source,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY floor(score * 1e9 + 0.5) DESC, cand) AS rn
  FROM scores
)
SELECT true_source, predicted_source, count(*) AS n_docs
FROM pred WHERE rn = 1
GROUP BY true_source, predicted_source
""",
)
def text_naive_bayes_source_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A TRAINED model inside the engine: multinomial Naive Bayes with
    add-one smoothing learns P(token|source) on the md5-split 75%
    train fold and classifies the held-out 25% by argmax of
    prior + Σ log-likelihood; output is the test confusion matrix.
    Every probability is a ratio of exact integer counts, so both
    engines build identical log-likelihood tables; per-doc score sums
    are rounded to 9 dp BEFORE the argmax with a source-name tie-break
    (the round-before-rank rule) so accumulation order can never flip
    a prediction. The scale shape: training is one (source, token)
    aggregate; the dense vocab×sources likelihood grid is
    vocabulary-bounded; scoring is one equality join on token — no
    per-class scan, no Python. Tokens unseen in training drop out of
    scoring identically on both sides (inner join to the vocab grid)."""
    d = Tables(spark, sf_dir).documents
    nib = F.substring(
        F.md5(F.concat(F.lit("nb"), F.col("doc_id").cast("string"))), 1, 1
    )
    split = d.select(
        "doc_id",
        "source",
        "text",
        F.when(nib <= "b", "train").otherwise("test").alias("split"),
    )
    train = split.where(F.col("split") == "train")
    train_tok = train.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    counts = train_tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    vocab = train_tok.select("w").distinct()
    totals = counts.groupBy("source").agg(F.sum("c").alias("t"))
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    grid = (
        F.broadcast(totals)
        .crossJoin(vocab)
        .join(counts, ["source", "w"], "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "source",
            "w",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                / (F.col("t") + F.col("v"))
            ).alias("ll"),
        )
    )
    priors = (
        train.groupBy("source")
        .agg(F.count(F.lit(1)).alias("nc"))
        .select(
            "source",
            F.log(
                F.col("nc").cast("double")
                / F.sum("nc").over(Window.partitionBy())
            ).alias("lp"),
        )
    )
    test_tok = split.where(F.col("split") == "test").select(
        "doc_id",
        F.col("source").alias("true_source"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    scores = (
        test_tok.join(
            grid.select(F.col("source").alias("cand"), "w", "ll"), "w"
        )
        .join(
            F.broadcast(priors.select(F.col("source").alias("cand"), "lp")),
            "cand",
        )
        .groupBy("doc_id", "true_source", "cand")
        .agg((F.max("lp") + F.sum("ll")).alias("score"))
    )
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.desc(F.floor(F.col("score") * 1e9 + 0.5)), F.asc("cand")
    )
    pred = scores.select(
        "true_source",
        F.col("cand").alias("predicted_source"),
        F.row_number().over(w_doc).alias("rn"),
    ).where(F.col("rn") == 1)
    return pred.groupBy("true_source", "predicted_source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "orders_seasonal_decomposition_additive",
    oracle="""
WITH monthly AS (
  -- o_orderdate IS NOT NULL: a NULL month has no seat in a centered
  -- 12-month moving window (see orders_cumulative_share_monthly)
  SELECT date_trunc('month', o_orderdate) AS m,
         CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS rev
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
),
tr AS (
  SELECT m, rev,
         sum(rev) OVER w / 12 AS trend,
         count(*) OVER w AS wn
  FROM monthly
  WINDOW w AS (ORDER BY m ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)
),
det AS (
  SELECT CAST(month(m) AS INTEGER) AS month_num, rev - trend AS d
  FROM tr WHERE wn = 12
),
seas AS (
  SELECT month_num, count(*) AS n_obs, avg(d) AS s
  FROM det GROUP BY month_num
)
, rem AS (
  SELECT seas.month_num, seas.n_obs, seas.s,
         (SELECT avg(abs(det.d - seas.s)) FROM det
          WHERE det.month_num = seas.month_num) AS mar
  FROM seas
)
SELECT month_num,
       CAST(n_obs AS BIGINT) AS n_obs,
       CASE WHEN s = 0 THEN 0.0
            ELSE round(s / pow(10, floor(log10(abs(s)))), 6)
       END AS seasonal_mant,
       CAST(CASE WHEN s = 0 THEN 0
                 ELSE floor(log10(abs(s))) END AS INT) AS seasonal_exp10,
       CASE WHEN mar = 0 THEN 0.0
            ELSE round(mar / pow(10, floor(log10(abs(mar)))), 6)
       END AS remainder_mant,
       CAST(CASE WHEN mar = 0 THEN 0
                 ELSE floor(log10(abs(mar))) END AS INT) AS remainder_exp10
FROM rem
""",
)
def orders_seasonal_decomposition_additive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical additive seasonal decomposition of monthly revenue:
    trend = 12-month moving average (full windows only), seasonal
    index = mean detrended value per calendar month, remainder = what
    neither explains — the decomposition behind 'is December really
    bigger or is it just trend'. orders_seasonal_index ratios against
    the global mean; this one removes a MOVING trend first, so a
    growing business doesn't masquerade as seasonality. Monthly sums
    in DECIMAL → identical doubles; trend divides a window sum by the
    exact count; all windows run over the ~80-row months relation."""
    o = Tables(spark, sf_dir).orders.where(F.col("o_orderdate").isNotNull())
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
        .cast("double")
        .alias("rev")
    )
    w = Window.orderBy("m").rowsBetween(-5, 6)
    tr = monthly.select(
        "m",
        "rev",
        (F.sum("rev").over(w) / 12).alias("trend"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    det = tr.where(F.col("wn") == 12).select(
        F.month("m").cast("int").alias("month_num"),
        (F.col("rev") - F.col("trend")).alias("d"),
    )
    seas = det.groupBy("month_num").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.avg("d").alias("s"),
    )
    rem = (
        det.join(seas.select("month_num", "s"), "month_num")
        .groupBy("month_num")
        .agg(
            F.avg(F.abs(F.col("d") - F.col("s"))).alias("mar")
        )
    )

    # relative (mantissa/exponent) emission — revenue magnitudes scale with
    # the corpus, and at sfx1.0 the ~1e8 remainder average sits within
    # double's summation-order noise of a fixed 6-dp rounding boundary
    # (measured at the round-8 sweep); zero-guarded because the seasonal
    # index is zero-centered. See functions/portable.py.
    from ai_dataingestion_spark.functions.portable import mant_exp_cols

    return seas.join(rem, "month_num").select(
        "month_num",
        "n_obs",
        *mant_exp_cols(F.col("s"), "seasonal"),
        *mant_exp_cols(F.col("mar"), "remainder"),
    )


@register(
    "fn_json_nested_roundtrip",
    oracle="""
WITH built AS (
  SELECT o_orderkey AS k,
         to_json(struct_pack(
           id := o_orderkey,
           meta := struct_pack(st := o_orderstatus, pr := o_orderpriority),
           arr := [o_custkey, o_orderkey % 100]
         )) AS j,
         o_orderstatus, o_custkey
  FROM orders
),
parsed AS (
  SELECT k, o_orderstatus, o_custkey,
         CAST(json_extract(j, '$.id') AS BIGINT) AS rid,
         json_extract_string(j, '$.meta.st') AS rst,
         CAST(json_extract(j, '$.arr[0]') AS BIGINT) AS rarr0
  FROM built
)
SELECT count(*) AS n_total,
       count(CASE WHEN rid = k AND rst = o_orderstatus
                   AND rarr0 = o_custkey THEN 1 END) AS n_roundtrip_ok,
       CAST(sum(rarr0) AS BIGINT) AS custkey_checksum
FROM parsed
""",
)
def fn_json_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON construct → serialize → re-parse round-trip: each
    order becomes a document with a nested struct and an array field,
    then every value is extracted back by path and compared to its
    origin — the schema-on-write/schema-on-read contract fn_json's
    flat props extraction doesn't cover (nested paths `$.meta.st`,
    array indexing `$.arr[0]`). Each engine round-trips its OWN
    serialization, so the parity check is on the recovered VALUES —
    all n rows must survive intact on both sides. Pure JVM-side
    expressions (to_json/from_json), zero Python, one scan."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    o = Tables(spark, sf_dir).orders
    built = o.select(
        F.col("o_orderkey").alias("k"),
        "o_orderstatus",
        "o_custkey",
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("id"),
                F.struct(
                    F.col("o_orderstatus").alias("st"),
                    F.col("o_orderpriority").alias("pr"),
                ).alias("meta"),
                F.array(
                    F.col("o_custkey"), F.col("o_orderkey") % 100
                ).alias("arr"),
            )
        ).alias("j"),
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField(
                "meta",
                StructType(
                    [
                        StructField("st", StringType()),
                        StructField("pr", StringType()),
                    ]
                ),
            ),
            StructField("arr", ArrayType(LongType())),
        ]
    )
    parsed = built.select(
        "k",
        "o_orderstatus",
        "o_custkey",
        F.from_json("j", schema).alias("p"),
    ).select(
        "k",
        "o_orderstatus",
        "o_custkey",
        F.col("p.id").alias("rid"),
        F.col("p.meta.st").alias("rst"),
        F.col("p.arr").getItem(0).alias("rarr0"),
    )
    return parsed.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(
            F.when(
                (F.col("rid") == F.col("k"))
                & (F.col("rst") == F.col("o_orderstatus"))
                & (F.col("rarr0") == F.col("o_custkey")),
                1,
            )
        ).alias("n_roundtrip_ok"),
        F.sum("rarr0").cast("bigint").alias("custkey_checksum"),
    )


# ===========================================================================
# wave module round6r (formerly operators/round6r.py)
# Round-5 forty-fourth wave (SURVEY.md §2.Q, continued): cohort
# fulfillment vintage curves, higher-order array reduction (Horner), and
# circular (directional) time-of-day statistics.
# ===========================================================================

@register(
    "orders_fulfillment_vintage_curves",
    oracle="""
WITH li AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS cohort_year,
         least(greatest(CAST(floor(datediff('day', o_orderdate, l_shipdate)
                                   / 30.0) AS INTEGER), 0), 5) AS mbucket
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
cells AS (
  SELECT cohort_year, mbucket, count(*) AS c
  FROM li GROUP BY cohort_year, mbucket
)
SELECT cohort_year, mbucket AS months_since_order,
       CAST(c AS BIGINT) AS n_lines,
       round(CAST(sum(c) OVER (PARTITION BY cohort_year ORDER BY mbucket
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / sum(c) OVER (PARTITION BY cohort_year), 6)
         AS cum_fulfilled_share
FROM cells
""",
)
def orders_fulfillment_vintage_curves(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vintage (cohort-maturity) fulfillment curves: for each order-year
    cohort, the cumulative share of lineitems shipped within 0,1,…,5+
    months of ordering — the credit-risk 'vintage triangle' shape
    applied to operations, which answers 'is this year's backlog
    clearing slower than last year's at the same age' (a question the
    global delay histogram can't see because it mixes cohort ages).
    Day deltas are exact integers clamped to [0, 5+] — the lower clamp
    absorbs this synthetic corpus's order-independent ship dates AND
    sidesteps the §5.4 negative-division trap — and both windows run
    over the ≤ years×6 cell aggregate; one corpus-sized join+groupBy,
    everything after is bounded."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.join(
        t.orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        F.year("o_orderdate").cast("int").alias("cohort_year"),
        F.least(
            F.greatest(
                F.floor(
                    F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
                    / 30.0
                ).cast("int"),
                F.lit(0),
            ),
            F.lit(5),
        ).alias("mbucket"),
    )
    cells = li.groupBy("cohort_year", "mbucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = Window.partitionBy("cohort_year").orderBy("mbucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_coh = Window.partitionBy("cohort_year")
    return cells.select(
        "cohort_year",
        F.col("mbucket").alias("months_since_order"),
        F.col("c").cast("bigint").alias("n_lines"),
        F.round(
            F.sum("c").over(w_cum).cast("double") / F.sum("c").over(w_coh),
            6,
        ).alias("cum_fulfilled_share"),
    )


@register(
    "fn_array_reduce_horner",
    oracle="""
WITH ex AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS c,
         generate_subscripts(embedding, 1) - 1 AS i
  FROM embeddings WHERE embedding IS NOT NULL
),
vals AS (
  SELECT vec_id, sum(c * power(0.5, i)) AS h FROM ex GROUP BY vec_id
)
SELECT count(*) AS n_vectors,
       round(avg(h), 6) AS mean_value,
       round(min(h), 6) AS min_value,
       round(max(h), 6) AS max_value
FROM vals
""",
)
def fn_array_reduce_horner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order ARRAY REDUCTION with a non-commutative fold:
    each embedding, read as polynomial coefficients, is evaluated at
    x = 0.5 by Horner's rule — F.aggregate over the reversed array
    with acc ← acc·x + cᵢ, the fold shape fn_array_hof's map/filter
    lambdas don't exercise (order matters; the lambda carries state).
    The whole evaluation happens INSIDE codegen per row — no explode,
    no shuffle until the 1-row corpus summary. The oracle evaluates
    the mathematically identical power sum Σ cᵢ·0.5^i; with |x| < 1
    the two orderings agree far beyond the 6-dp comparison."""
    # NULL embeddings are no polynomial: the oracle's unnest drops them
    # from vals entirely, so the count must exclude them here too.
    e = Tables(spark, sf_dir).embeddings.where(F.col("embedding").isNotNull())
    vals = e.select(
        F.aggregate(
            F.reverse(F.col("embedding")),
            F.lit(0.0),
            lambda acc, c: acc * 0.5 + c.cast("double"),
        ).alias("h")
    )
    return vals.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("h"), 6).alias("mean_value"),
        F.round(F.min("h"), 6).alias("min_value"),
        F.round(F.max("h"), 6).alias("max_value"),
    )


_TWO_PI = 2 * math.pi


@register(
    "events_circular_time_stats",
    oracle=f"""
WITH ang AS (
  SELECT event_type,
         {_TWO_PI} * (CAST(floor(epoch(ts)) AS BIGINT) % 86400) / 86400.0
           AS theta
  FROM events
),
mom AS (
  SELECT event_type, count(*) AS n,
         {grid_sum_sql("cos(theta)")} AS sc,
         {grid_sum_sql("sin(theta)")} AS ss
  FROM ang GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       round(sqrt(sc * sc + ss * ss) / n, 6) AS resultant_length,
       round(
         (CASE WHEN atan2(ss, sc) < 0
               THEN atan2(ss, sc) + {_TWO_PI}
               ELSE atan2(ss, sc) END) * 24.0 / {_TWO_PI}, 4)
         AS mean_hour
FROM mom
""",
)
def events_circular_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular (directional) statistics of event time-of-day per type:
    hours live on a circle, so the arithmetic mean of 23:00 and 01:00
    is the nonsense 12:00 — the right estimator maps each time to an
    angle and averages the unit vectors: mean hour from atan2(Σsin,
    Σcos) and concentration R = |Σe^iθ|/n (R→0: uniform around the
    clock, R→1: sharply peaked). The stability rule: on near-uniform
    data Σcos/Σsin are small differences of large sums, and atan2
    AMPLIFIES accumulation-order noise — so both vector sums
    accumulate on the exact 1e-6 integer grid (portable.py:grid_sum:
    bit-identical per-term quantization with pure IEEE ops, exact
    order-independent BIGINT sum — no decimal-cast midpoint semantics
    on trial) BEFORE atan2, making the angle bit-identical AND
    draw-deterministic. One shuffle to the 5-type rollup."""
    e = Tables(spark, sf_dir).events
    theta = (
        F.lit(_TWO_PI)
        * (
            F.floor(
                F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000
            )
            % 86400
        )
        / 86400.0
    )
    mom = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        grid_sum(F.cos(theta)).alias("sc"),
        grid_sum(F.sin(theta)).alias("ss"),
    )
    ang = F.atan2(F.col("ss"), F.col("sc"))
    wrapped = F.when(ang < 0, ang + _TWO_PI).otherwise(ang)
    return mom.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.round(
            F.sqrt(F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss"))
            / F.col("n"),
            6,
        ).alias("resultant_length"),
        F.round(wrapped * 24.0 / _TWO_PI, 4).alias("mean_hour"),
    )


# ===========================================================================
# wave module round6s (formerly operators/round6s.py)
# Round-5 forty-fifth wave (SURVEY.md §2.Q, continued): leave-one-out
# outlier scoring via window-frame arithmetic and a cube margin
# consistency proof.
# ===========================================================================

@register(
    "win_loo_outlier_zscore",
    oracle="""
WITH m AS (
  SELECT l_returnflag AS flag,
         CAST(CAST(l_extendedprice AS DECIMAL(38,2)) AS DOUBLE) AS xd,
         count(*) OVER w AS n,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) OVER w
              AS DOUBLE) AS s1,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))
                  * CAST(l_extendedprice AS DECIMAL(38,2))) OVER w
              AS DOUBLE) AS s2
  FROM lineitem
  WINDOW w AS (PARTITION BY l_returnflag)
),
loo AS (
  SELECT flag, n,
         (xd - (s1 - xd) / (n - 1))
         / sqrt(((n - 1) * (s2 - xd * xd) - (s1 - xd) * (s1 - xd))
                / (CAST(n - 1 AS DOUBLE) * (n - 2))) AS z
  FROM m WHERE n > 2
)
SELECT flag AS l_returnflag,
       CAST(max(n) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN abs(z) > 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_loo_outliers,
       round(max(abs(z)), 6) AS max_abs_z
FROM loo GROUP BY flag
""",
)
def win_loo_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out outlier scoring: each line's z-score against the
    mean and stddev of its group WITHOUT ITSELF — the estimator that
    fixes plain z-scores' self-masking (a huge outlier inflates the σ
    it is judged by; quality_outlier_iqr sidesteps via quantiles, this
    stays in moment space). No per-row re-aggregation: the LOO moments
    are pure frame arithmetic on the group totals — mean₋ᵢ = (S−x)/
    (n−1), var₋ᵢ from (n−1)(S₂−x²)−(S−x)² — so ONE partition window
    pass prices every row's held-out estimate. All sums are DECIMAL
    (the moment-sum portability rule) and floats appear only in the
    final ratio; output rolls up to 3 rows at any scale."""
    li = Tables(spark, sf_dir).lineitem
    xdec = F.col("l_extendedprice").cast("decimal(38,2)")
    w = Window.partitionBy("l_returnflag")
    # Exact DECIMAL window sums, converted ONCE to double: both engines
    # then run identical IEEE arithmetic (the burstiness rule applied to
    # per-row frame math; DECIMAL(38,2) operands per the 5.4 HHI rule).
    m = li.select(
        "l_returnflag",
        xdec.cast("double").alias("xd"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(xdec).over(w).cast("double").alias("s1"),
        F.sum(xdec * xdec).over(w).cast("double").alias("s2"),
    ).where(F.col("n") > 2)
    mean_loo = (F.col("s1") - F.col("xd")) / (F.col("n") - 1)
    var_num = (F.col("n") - 1) * (
        F.col("s2") - F.col("xd") * F.col("xd")
    ) - (F.col("s1") - F.col("xd")) * (F.col("s1") - F.col("xd"))
    sd_loo = F.sqrt(
        var_num / ((F.col("n") - 1).cast("double") * (F.col("n") - 2))
    )
    loo = m.select(
        "l_returnflag",
        "n",
        ((F.col("xd") - mean_loo) / sd_loo).alias("z"),
    )
    # keep the SAME l_returnflag attribute end-to-end: renaming the key
    # anywhere between the window and the rollup breaks exchange reuse
    # (measured: an aliased grouping key forced a second shuffle)
    return loo.groupBy("l_returnflag").agg(
        F.max("n").cast("bigint").alias("n_lines"),
        F.sum(F.when(F.abs("z") > 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_loo_outliers"),
        F.round(F.max(F.abs("z")), 6).alias("max_abs_z"),
    )


@register(
    "agg_cube_margin_consistency",
    oracle="""
WITH cells AS (
  SELECT CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END * 2
         + CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END AS gid,
         rev
  FROM (
    SELECT o_orderstatus, o_orderpriority,
           sum(CAST(o_totalprice AS DECIMAL(38,2))) AS rev
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
  )
)
SELECT gid AS grouping_level,
       count(*) AS n_cells,
       CAST(round(sum(rev), 2) AS DOUBLE) AS total_revenue
FROM cells GROUP BY gid
""",
)
def agg_cube_margin_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE margin-consistency proof: every grouping level of the
    (status, priority) cube — detail cells, the two 1-D margins, and
    the grand total — must re-aggregate to the SAME DECIMAL revenue
    (a cube is four disjoint partitions of one fact set; a mismatch
    would mean the multi-level aggregate double- or under-counted).
    The proof the agg_cube contract row doesn't state: its cells are
    internally reconcilable, which is what makes cube output safe to
    cache and slice downstream. One CUBE pass, grouping level derived
    from the NULL pattern identically on both engines, 4 rows out."""
    o = Tables(spark, sf_dir).orders
    cube = o.cube("o_orderstatus", "o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("rev")
    )
    gid = (
        F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0) * 2
        + F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)
    )
    return (
        cube.select(gid.alias("grouping_level"), "rev")
        .groupBy("grouping_level")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum("rev"), 2).cast("double").alias("total_revenue"),
        )
    )


# ===========================================================================
# wave module round6t (formerly operators/round6t.py)
# Round-5 forty-sixth wave (SURVEY.md §2.Q, continued): sample-ratio
# mismatch guard, functional-dependency discovery, and a temporal
# coverage inventory.
# ===========================================================================

_CHI2_95_DF1 = 3.841458820694124


@register(
    "events_ab_srm_check",
    oracle=f"""
WITH arms AS (
  SELECT CASE WHEN substring(md5('srm' || CAST(user_id AS VARCHAR)), 1, 1)
                   <= '7'
              THEN 'A' ELSE 'B' END AS arm
  FROM (SELECT DISTINCT user_id FROM events)
),
cnt AS (
  SELECT count(CASE WHEN arm = 'A' THEN 1 END) AS na,
         count(CASE WHEN arm = 'B' THEN 1 END) AS nb,
         count(*) AS n
  FROM arms
)
SELECT CAST(na AS BIGINT) AS n_arm_a,
       CAST(nb AS BIGINT) AS n_arm_b,
       round((na - n / 2.0) * (na - n / 2.0) / (n / 2.0)
             + (nb - n / 2.0) * (nb - n / 2.0) / (n / 2.0), 6) AS chi2,
       (na - n / 2.0) * (na - n / 2.0) / (n / 2.0)
         + (nb - n / 2.0) * (nb - n / 2.0) / (n / 2.0)
         > {_CHI2_95_DF1} AS srm_detected
FROM cnt
""",
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch (SRM) guard for the deterministic 50/50
    md5 user split every A/B operator here relies on
    (events_ab_proportion_ztest, CUPED, DiD): a χ²₁ goodness-of-fit of
    observed arm sizes against the designed ratio — THE pre-test that
    invalidates an experiment before any metric is read (Fabijan
    2019). Nibbles 0-7 vs 8-f give an exactly-50/50 design; all
    inputs are integer counts off the distinct-user aggregate, the
    χ² threshold is the same literal on both engines, and the flag
    compares identical doubles. One distinct + one 1-row reduce."""
    e = Tables(spark, sf_dir).events
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.lit("srm"), F.col("user_id").cast("string"))),
            1,
            1,
        )
        <= "7",
        "A",
    ).otherwise("B")
    arms = e.select("user_id").distinct().select(arm.alias("arm"))
    cnt = arms.agg(
        F.count(F.when(F.col("arm") == "A", 1)).alias("na"),
        F.count(F.when(F.col("arm") == "B", 1)).alias("nb"),
        F.count(F.lit(1)).alias("n"),
    )
    half = F.col("n") / 2.0
    chi2 = (F.col("na") - half) * (F.col("na") - half) / half + (
        F.col("nb") - half
    ) * (F.col("nb") - half) / half
    return cnt.select(
        F.col("na").cast("bigint").alias("n_arm_a"),
        F.col("nb").cast("bigint").alias("n_arm_b"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > _CHI2_95_DF1).alias("srm_detected"),
    )


@register(
    "quality_fd_discovery",
    oracle="""
WITH pairs AS (
  SELECT 'l_returnflag->l_linestatus' AS candidate,
         l_returnflag AS det, l_linestatus AS dep
  FROM lineitem
  UNION ALL
  SELECT 'o_orderstatus->o_orderpriority',
         o_orderstatus, o_orderpriority
  FROM orders
  UNION ALL
  SELECT 'c_mktsegment->c_nationkey',
         c_mktsegment, CAST(c_nationkey AS VARCHAR)
  FROM customer
),
cells AS (
  SELECT candidate, det, dep, count(*) AS c
  FROM pairs GROUP BY candidate, det, dep
),
per_det AS (
  SELECT candidate, det, sum(c) AS total, max(c) AS maxc
  FROM cells GROUP BY candidate, det
)
SELECT candidate,
       count(*) AS n_determinant_values,
       CAST(sum(total - maxc) AS BIGINT) AS violation_rows,
       sum(total - maxc) = 0 AS fd_holds
FROM per_det GROUP BY candidate
""",
)
def quality_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery (the TANE-style g₃ error
    measure, Huhtala 1999): for each candidate A→B, the minimum number
    of rows to delete for the dependency to hold — Σ over A-groups of
    (group size − modal B count). Zero = the FD holds exactly;
    large = the columns are independent — the profiling signal that
    finds hidden keys and denormalization-safe column pairs, which
    quality_profile's per-column stats cannot see (it is a PAIR
    property). Three stacked candidates in one pass; both aggregates
    are partial-aggregable and the per-determinant relation is
    value-bounded."""
    t = Tables(spark, sf_dir)
    pairs = (
        t.lineitem.select(
            F.lit("l_returnflag->l_linestatus").alias("candidate"),
            F.col("l_returnflag").alias("det"),
            F.col("l_linestatus").alias("dep"),
        )
        .unionAll(
            t.orders.select(
                F.lit("o_orderstatus->o_orderpriority").alias("candidate"),
                F.col("o_orderstatus").alias("det"),
                F.col("o_orderpriority").alias("dep"),
            )
        )
        .unionAll(
            t.customer.select(
                F.lit("c_mktsegment->c_nationkey").alias("candidate"),
                F.col("c_mktsegment").alias("det"),
                F.col("c_nationkey").cast("string").alias("dep"),
            )
        )
    )
    cells = pairs.groupBy("candidate", "det", "dep").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_det = cells.groupBy("candidate", "det").agg(
        F.sum("c").alias("total"), F.max("c").alias("maxc")
    )
    return per_det.groupBy("candidate").agg(
        F.count(F.lit(1)).alias("n_determinant_values"),
        F.sum(F.col("total") - F.col("maxc"))
        .cast("bigint")
        .alias("violation_rows"),
        (F.sum(F.col("total") - F.col("maxc")) == 0).alias("fd_holds"),
    )


@register(
    "catalog_temporal_coverage",
    oracle="""
SELECT 'orders' AS table_name, count(*) AS n_rows,
       CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR) AS min_ts,
       CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS max_ts,
       datediff('day', CAST(min(o_orderdate) AS DATE),
                CAST(max(o_orderdate) AS DATE)) AS span_days
FROM orders
UNION ALL
SELECT 'lineitem', count(*),
       CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR),
       CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR),
       datediff('day', CAST(min(l_shipdate) AS DATE),
                CAST(max(l_shipdate) AS DATE))
FROM lineitem
UNION ALL
SELECT 'events', count(*),
       CAST(CAST(min(ts) AS DATE) AS VARCHAR),
       CAST(CAST(max(ts) AS DATE) AS VARCHAR),
       datediff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
FROM events
""",
)
def catalog_temporal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal coverage inventory across every time-bearing table:
    row count, first/last timestamp, and span — the freshness/coverage
    sheet an ingestion catalog serves next to catalog_table_stats'
    size metrics (a table whose max_ts stopped advancing is the
    first symptom of a dead feed). Min/max aggregates only — each
    table contributes one partial-aggregable scan and one row.
    Timestamps are emitted as canonical strings (the §5.4 date-dtype
    rule). Events dates truncate ns→day identically on both engines."""
    t = Tables(spark, sf_dir)

    def one(name: str, df: DataFrame, col: str) -> DataFrame:
        c = F.col(col).cast("date")
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(c).cast("string").alias("min_ts"),
            F.max(c).cast("string").alias("max_ts"),
            F.datediff(F.max(c), F.min(c)).alias("span_days"),
        ).select(
            F.lit(name).alias("table_name"),
            "n_rows",
            "min_ts",
            "max_ts",
            "span_days",
        )

    return (
        one("orders", t.orders, "o_orderdate")
        .unionByName(one("lineitem", t.lineitem, "l_shipdate"))
        .unionByName(one("events", t.events, "ts"))
    )


# ===========================================================================
# wave module round6u (formerly operators/round6u.py)
# Round-5 forty-seventh wave (SURVEY.md §2.Q, continued): Simpson's
# paradox reversal detection and column-level change-data-capture
# breakdown.
# ===========================================================================

_SEG_A = "BUILDING"
_SEG_B = "MACHINERY"


@register(
    "orders_simpsons_reversal_check",
    oracle=f"""
WITH base AS (
  SELECT c_nationkey AS nk, c_mktsegment AS seg,
         CAST(o_totalprice AS DECIMAL(38,2)) AS v
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('{_SEG_A}', '{_SEG_B}')
),
strata AS (
  SELECT nk,
         CAST(sum(CASE WHEN seg = '{_SEG_A}' THEN v END) AS DOUBLE)
           / count(CASE WHEN seg = '{_SEG_A}' THEN 1 END)
         - CAST(sum(CASE WHEN seg = '{_SEG_B}' THEN v END) AS DOUBLE)
           / count(CASE WHEN seg = '{_SEG_B}' THEN 1 END) AS diff
  FROM base GROUP BY nk
  HAVING count(CASE WHEN seg = '{_SEG_A}' THEN 1 END) > 0
     AND count(CASE WHEN seg = '{_SEG_B}' THEN 1 END) > 0
),
overall AS (
  SELECT CAST(sum(CASE WHEN seg = '{_SEG_A}' THEN v END) AS DOUBLE)
           / count(CASE WHEN seg = '{_SEG_A}' THEN 1 END)
         - CAST(sum(CASE WHEN seg = '{_SEG_B}' THEN v END) AS DOUBLE)
           / count(CASE WHEN seg = '{_SEG_B}' THEN 1 END) AS odiff
  FROM base
)
SELECT round((SELECT odiff FROM overall), 6) AS overall_diff,
       count(*) AS n_strata,
       CAST(sum(CASE WHEN sign(diff) <> sign((SELECT odiff FROM overall))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_reversed,
       round(CAST(sum(CASE WHEN sign(diff)
                                <> sign((SELECT odiff FROM overall))
                           THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS reversal_share
FROM strata
""",
)
def orders_simpsons_reversal_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson's-paradox screen: the BUILDING−MACHINERY mean-order-value
    gap computed overall AND within every customer-nation stratum, with
    the count of strata whose gap has the OPPOSITE sign — a high
    reversal share means the aggregate comparison is confounded by the
    nation mix and any segment-level conclusion must be stratified
    (the audit behind every 'segment X spends more' claim). Means are
    exact-DECIMAL-sum / integer-count on both engines, sign() compares
    identical doubles, and the stratum relation is nations-sized after
    one broadcast-dim join + groupBy."""
    t = Tables(spark, sf_dir)
    v = F.col("o_totalprice").cast("decimal(38,2)")
    base = (
        t.orders.join(
            broadcast_if_small(
                t.customer.select("c_custkey", "c_nationkey", "c_mktsegment"),
                sf_dir,
                "customer",
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .where(F.col("c_mktsegment").isin(_SEG_A, _SEG_B))
        .select(
            F.col("c_nationkey").alias("nk"),
            F.col("c_mktsegment").alias("seg"),
            v.alias("v"),
        )
    )

    def seg_mean(seg: str):
        return F.sum(F.when(F.col("seg") == seg, F.col("v"))).cast(
            "double"
        ) / F.count(F.when(F.col("seg") == seg, 1))

    strata = (
        base.groupBy("nk")
        .agg(
            (seg_mean(_SEG_A) - seg_mean(_SEG_B)).alias("diff"),
            F.count(F.when(F.col("seg") == _SEG_A, 1)).alias("ca"),
            F.count(F.when(F.col("seg") == _SEG_B, 1)).alias("cb"),
        )
        .where((F.col("ca") > 0) & (F.col("cb") > 0))
    )
    overall = base.agg(
        (seg_mean(_SEG_A) - seg_mean(_SEG_B)).alias("odiff")
    )
    joined = strata.crossJoin(F.broadcast(overall))
    reversed_ = F.when(
        F.signum(F.col("diff")) != F.signum(F.col("odiff")), 1
    ).otherwise(0)
    return joined.agg(
        F.round(F.max("odiff"), 6).alias("overall_diff"),
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(reversed_).cast("bigint").alias("n_reversed"),
        F.round(
            F.sum(reversed_).cast("double") / F.count(F.lit(1)), 6
        ).alias("reversal_share"),
    )


@register(
    "pipeline_cdc_column_breakdown",
    oracle="""
WITH v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0
              THEN round(o_totalprice * 1.1, 2) ELSE o_totalprice END
           AS o_totalprice,
         CASE WHEN o_orderkey % 11 = 0
              THEN '1-URGENT' ELSE o_orderpriority END AS o_orderpriority,
         o_orderstatus
  FROM orders
),
diff AS (
  SELECT CASE WHEN v2.o_totalprice <> o.o_totalprice THEN 1 ELSE 0 END
           AS price_chg,
         CASE WHEN v2.o_orderpriority <> o.o_orderpriority THEN 1 ELSE 0 END
           AS prio_chg,
         CASE WHEN v2.o_orderstatus <> o.o_orderstatus THEN 1 ELSE 0 END
           AS status_chg
  FROM orders o JOIN v2 ON o.o_orderkey = v2.o_orderkey
)
SELECT col AS column_name, CAST(n AS BIGINT) AS n_rows_changed
FROM (
  SELECT 'o_totalprice' AS col, sum(price_chg) AS n FROM diff
  UNION ALL
  SELECT 'o_orderpriority', sum(prio_chg) FROM diff
  UNION ALL
  SELECT 'o_orderstatus', sum(status_chg) FROM diff
)
""",
)
def pipeline_cdc_column_breakdown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COLUMN-level CDC drill-down: which columns actually changed
    between two snapshot versions, counted per column — the question
    pipeline_cdc_diff's row-level insert/update/delete classes leave
    open (an 'update' that only touched a derived price column is
    handled very differently from one that flipped priority). The v2
    snapshot derives deterministically from orders (every 7th key's
    price bumped, every 11th's priority forced urgent); the diff is
    one keyed self-join and all three per-column counts come from one
    conditional-aggregate pass — adding a column adds an expression,
    never a scan."""
    o = Tables(spark, sf_dir).orders
    v2 = o.select(
        F.col("o_orderkey").alias("k2"),
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.round(F.col("o_totalprice") * 1.1, 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("p2"),
        F.when(F.col("o_orderkey") % 11 == 0, "1-URGENT")
        .otherwise(F.col("o_orderpriority"))
        .alias("pr2"),
        F.col("o_orderstatus").alias("st2"),
    )
    diff = o.join(v2, F.col("o_orderkey") == F.col("k2")).select(
        F.when(F.col("p2") != F.col("o_totalprice"), 1)
        .otherwise(0)
        .alias("price_chg"),
        F.when(F.col("pr2") != F.col("o_orderpriority"), 1)
        .otherwise(0)
        .alias("prio_chg"),
        F.when(F.col("st2") != F.col("o_orderstatus"), 1)
        .otherwise(0)
        .alias("status_chg"),
    )
    agg = diff.agg(
        F.sum("price_chg").alias("o_totalprice"),
        F.sum("prio_chg").alias("o_orderpriority"),
        F.sum("status_chg").alias("o_orderstatus"),
    )
    return agg.select(
        F.expr(
            "stack(3, 'o_totalprice', o_totalprice,"
            " 'o_orderpriority', o_orderpriority,"
            " 'o_orderstatus', o_orderstatus) AS (column_name, n)"
        )
    ).select(
        "column_name", F.col("n").cast("bigint").alias("n_rows_changed")
    )


# ===========================================================================
# wave module round6v (formerly operators/round6v.py)
# Round-5 forty-eighth wave (SURVEY.md §2.Q, continued): portable
# order-independent table-content fingerprints.
# ===========================================================================

# Canonical row text per table: every column rendered through a type
# whose string form is engine-identical (ints, strings, DECIMAL(38,2),
# DATE) — raw doubles are excluded because CAST(double AS STRING)
# formatting diverges across engines.
_ORDERS_CANON_SQL = (
    "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)"
    " || '|' || o_orderstatus || '|' ||"
    " CAST(CAST(o_totalprice AS DECIMAL(38,2)) AS VARCHAR) || '|' ||"
    " CAST(CAST(o_orderdate AS DATE) AS VARCHAR) || '|' ||"
    " o_orderpriority"
)
_CUSTOMER_CANON_SQL = (
    "CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' ||"
    " CAST(c_nationkey AS VARCHAR) || '|' ||"
    " CAST(CAST(c_acctbal AS DECIMAL(38,2)) AS VARCHAR) || '|' ||"
    " c_mktsegment"
)


@register(
    "quality_table_fingerprint",
    oracle=f"""
SELECT 'orders' AS table_name, count(*) AS n_rows,
       CAST(sum(CAST({_duck_h(f"({_ORDERS_CANON_SQL})")} AS DECIMAL(38,0)))
            AS VARCHAR) AS content_fingerprint
FROM orders
UNION ALL
SELECT 'customer', count(*),
       CAST(sum(CAST({_duck_h(f"({_CUSTOMER_CANON_SQL})")} AS DECIMAL(38,0)))
            AS VARCHAR)
FROM customer
""",
)
def quality_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table-CONTENT fingerprint: md5-derived 60-bit
    row hashes over a canonical column rendering, summed in
    DECIMAL(38,0) — two replicas of a table match iff their
    fingerprints match, regardless of row order, partitioning, or file
    layout (the replication/migration audit that row counts alone
    can't give; pipeline_shard_manifest fingerprints FILES, this
    fingerprints CONTENT). The canonical rendering casts every column
    through engine-identical string forms — ints, DECIMAL(38,2), DATE
    — because raw double formatting diverges across engines. Sum (not
    xor) keeps the aggregate partial-aggregable AND sensitive to
    duplicate-row multiplicity; DECIMAL(38,0) absorbs the 60-bit ×
    corpus-count growth that overflows BIGINT. One scan per table,
    1-row output each."""
    t = Tables(spark, sf_dir)
    spark_orders_canon = (
        "CAST(o_orderkey AS STRING) || '|' || CAST(o_custkey AS STRING)"
        " || '|' || o_orderstatus || '|' ||"
        " CAST(CAST(o_totalprice AS DECIMAL(38,2)) AS STRING) || '|' ||"
        " CAST(CAST(o_orderdate AS DATE) AS STRING) || '|' ||"
        " o_orderpriority"
    )
    spark_customer_canon = (
        "CAST(c_custkey AS STRING) || '|' || c_name || '|' ||"
        " CAST(c_nationkey AS STRING) || '|' ||"
        " CAST(CAST(c_acctbal AS DECIMAL(38,2)) AS STRING) || '|' ||"
        " c_mktsegment"
    )

    def fp(name: str, df: DataFrame, canon: str) -> DataFrame:
        h = F.expr(_spark_h(f"({canon})")).cast("decimal(38,0)")
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(h).cast("string").alias("content_fingerprint"),
        ).select(
            F.lit(name).alias("table_name"),
            "n_rows",
            "content_fingerprint",
        )

    return fp("orders", t.orders, spark_orders_canon).unionByName(
        fp("customer", t.customer, spark_customer_canon)
    )


# ===========================================================================
# wave module round6w (formerly operators/round6w.py)
# Round-6 forty-ninth wave (SURVEY.md §2.R): Spark 4 engine-surface
# operators — VARIANT semi-structured access, recursive CTEs, bitmap
# exact-distinct aggregation, LATERAL correlated subqueries, collation-aware
# grouping, and AES column-encryption round-trips.
#
# These exercise engine capabilities a migrating user gains with Spark 4.x
# (all public API: parse_json/variant_get SPARK-45891, WITH RECURSIVE
# SPARK-24497, bitmap_* aggregates SPARK-44189, LATERAL subquery
# SPARK-34382, collations SPARK-46830, aes_encrypt/aes_decrypt SPARK-12567).
# Each has a DuckDB oracle spelling the same semantics in portable SQL.
# ===========================================================================

@register(
    "fn_variant_json_path",
    oracle="""
WITH admissible AS (
  -- variant-admissible domain (json tier): Spark's VARIANT parser NULLs
  -- malformed JSON (try_parse_json) AND rejects duplicate object keys,
  -- while this engine's json_extract raises on the former and keeps the
  -- FIRST duplicate on the latter — gate both classes so the k sums run
  -- over exactly the rows that shred to a variant
  SELECT event_type,
         CASE WHEN coalesce(json_valid(props), false)
                   AND len(json_keys(props))
                       = len(list_distinct(json_keys(props)))
              THEN CAST(json_extract(props, '$.k') AS BIGINT) END AS k
  FROM events
)
SELECT event_type, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(sum(CAST(json_extract(
             '{"a":[' || k || ',' || k * 2 || ']}',
             '$.a[1]') AS BIGINT)) AS BIGINT) AS sum_nested
FROM admissible GROUP BY event_type
""",
)
def fn_variant_json_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through the VARIANT type (Spark 4.x):
    ``parse_json`` shreds the raw ``events.props`` JSON once into Spark's
    binary variant encoding, ``variant_get`` navigates JSON paths —
    including array indexing on a nested document built inline — without
    ever re-parsing text per field. At 100 TB this is the difference
    between O(fields) JSON re-parses per row (``get_json_object``) and one
    parse + O(1) binary offset lookups; everything stays JVM-side inside
    whole-stage codegen and the aggregate is a plain partial-aggregable
    groupBy on event_type (5-row output at any scale). Oracle: DuckDB
    json_extract over the identical paths, gated to the
    variant-admissible domain (json tier): try_parse_json NULLs malformed
    documents AND duplicate-key objects (VARIANT rejects dup keys), which
    the oracle mirrors with json_valid + a json_keys dup check — the sums
    run over exactly the shreddable rows; n counts every row."""
    t = Tables(spark, sf_dir)
    # One physical shred: props crosses parse_json exactly once (the alias
    # below survives CollapseProject — parse_json is not a cheap expression),
    # and every path lookup reads the binary variant. Pinned by
    # tests/test_plans.py::test_variant_shreds_props_once.
    shredded = t.events.select(
        "event_type", F.try_parse_json(F.col("props")).alias("v")
    )
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    nested = F.expr(
        "variant_get(parse_json(concat('{\"a\":[', "
        "CAST(variant_get(v, '$.k', 'bigint') AS STRING), ',', "
        "CAST(variant_get(v, '$.k', 'bigint') * 2 AS STRING), "
        "']}')), '$.a[1]', 'bigint')"
    )
    return shredded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.sum(nested).alias("sum_nested"),
    )


_RECURSIVE_SQL = """
WITH RECURSIVE bom(root, node) AS (
  SELECT p_partkey, p_partkey FROM part WHERE p_partkey BETWEEN 1 AND 3
  UNION ALL
  SELECT b.root, p.p_partkey
  FROM bom b
  CROSS JOIN (VALUES (0), (1)) AS o(off)
  JOIN part p ON p.p_partkey = b.node * 2 + o.off
  WHERE b.node >= 1
)
SELECT root, count(*) AS n_nodes,
       CAST(round(sum(CAST(p.p_retailprice AS DECIMAL(38,2))), 2) AS DOUBLE)
         AS subtree_cost
FROM bom JOIN part p ON p.p_partkey = bom.node
GROUP BY root
"""


@register("sql_recursive_cte_rollup", oracle=_RECURSIVE_SQL)
def sql_recursive_cte_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, Spark 4.0 SPARK-24497): a
    bill-of-materials-style hierarchy rollup. The part hierarchy is the
    implicit binary tree ``k -> {2k, 2k+1}`` (synthesized: the corpus has
    no parent column; the operator under test is recursive traversal, and
    the tree is deterministic from the keys alone). Three roots seed the
    anchor; each recursion step is a pure EQUI-join (the child offset is
    expanded via a 2-row VALUES cross join first, so Catalyst plans a hash
    join per iteration, never a nested-loop on an OR predicate — the shape
    that survives a 1000-executor fan-out). Depth is log2(max key): 11
    iterations at sf0.01, 15 at ~20k parts, always far under the engine's
    100-level guard. The ``node >= 1`` guard pins the k=0 self-loop
    (0*2=0) that would otherwise never exhaust — the classic cyclic-input
    recursion trap, caught by prototype. Oracle: DuckDB runs the identical
    statement."""
    register_views(spark, sf_dir)
    # Spark's VALUES-in-FROM spelling drops the parens DuckDB requires.
    return spark.sql(_RECURSIVE_SQL.replace("(VALUES (0), (1))", "VALUES (0), (1)"))


@register(
    "agg_bitmap_exact_distinct",
    oracle="""
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       count(DISTINCT o_custkey) AS n_cust
FROM orders GROUP BY 1
""",
)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-count at scale via bitmap aggregation (Spark 3.5+
    bitmap_* functions, SPARK-44189): customers per order-month. Keys are
    bucketed into 32768-bit ranges (``bitmap_bucket_number``), each
    (month, bucket) group ORs its bit positions into a <=4 KB binary bitmap
    map-side, and the final per-month count SUMS the per-bucket
    ``bitmap_count``s. Both aggregation levels are
    partial-aggregable, so the shuffle carries fixed-size bitmaps instead
    of raw keys — the exact-distinct answer with HLL-like movement cost
    (vs count(DISTINCT) whose expand-shuffle moves every key occurrence).
    Keys are shifted +1 before bucketing: Spark's bit positions are
    1-based (``bitmap_bit_position(x) = (x-1) % 32768``), so a 0 key
    collides with another key's slot — measured as an off-by-one distinct
    count (189 vs 190) before the shift; +1 is bijective so counts are
    unaffected. The per-month total is the SUM of per-bucket
    ``bitmap_count``s, never ``bitmap_or_agg`` across buckets: bit
    position only identifies a key WITHIN its 32768-wide bucket, so
    OR-merging different buckets' bitmaps collapses distinct keys that
    share a position — invisible while max(key) < 32768 (one bucket,
    every SF <= 0.1) and measured as a 14343-vs-17910 undercount the
    moment the sfx1.0 corpus's offset keys spanned buckets.
    Oracle: DuckDB's plain count(DISTINCT)."""
    t = Tables(spark, sf_dir)
    per_bucket = (
        t.orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.expr("bitmap_bucket_number(o_custkey + 1)").alias("bkt"),
            F.expr("bitmap_bit_position(o_custkey + 1)").alias("pos"),
        )
        .groupBy("month", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return per_bucket.groupBy("month").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_cust")
    )


_LATERAL_SQL = """
SELECT n.n_name, l.c_name,
       CAST(round(CAST(l.c_acctbal AS DECIMAL(38,2)), 2) AS DOUBLE) AS bal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 2
) l
"""


@register("join_lateral_topk", oracle=_LATERAL_SQL)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (Spark 4 SPARK-34382): top-2 customers
    by balance per nation, written as the for-each-row subquery a SQL user
    migrating from Postgres/DuckDB would write. Catalyst de-correlates the
    LATERAL into a join + per-key limit rather than executing the inner
    query once per outer row — same physical shape as the window-function
    top-k (win_topk_group) but proving the correlated-subquery surface.
    ORDER BY carries the c_name tie-break so the top-2 set is
    deterministic cross-engine. Oracle: DuckDB runs the identical
    statement."""
    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@register(
    "fn_collation_lcase_group",
    oracle="""
SELECT lower(seg) AS seg_lc, count(*) AS n,
       count(DISTINCT seg) AS n_case_variants
FROM (SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
             ELSE lower(c_mktsegment) END AS seg
      FROM customer) t
GROUP BY 1
""",
)
def fn_collation_lcase_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 collations, SPARK-46830): group
    mixed-case segment labels under UTF8_LCASE so 'AUTOMOBILE' and
    'automobile' are ONE group — the collation is a property of the
    comparison, not a lower() rewrite of the data (binary-preserving:
    n_case_variants proves both spellings reached the group). Mixed case
    is synthesized deterministically from key parity because the corpus
    stores segments uniformly upper. Collation comparisons stay JVM-side
    (no UDF); grouping on a collated key shuffles exactly like any other
    key. Oracle: DuckDB spells the same semantics with lower()
    normalization."""
    t = Tables(spark, sf_dir)
    seg = F.when(
        F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment")
    ).otherwise(F.lower("c_mktsegment"))
    return (
        t.customer.select(seg.alias("seg"))
        .groupBy(F.expr("seg COLLATE UTF8_LCASE").alias("seg_ci"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.expr("seg COLLATE UTF8_BINARY")).alias(
                "n_case_variants"
            ),
        )
        .select(
            F.lower(F.col("seg_ci").cast("string")).alias("seg_lc"),
            "n",
            "n_case_variants",
        )
    )


@register(
    "fn_aes_encrypt_roundtrip",
    oracle="""
SELECT count(*) AS n, count(c_name) AS n_ok,
       count(DISTINCT c_name) AS n_distinct_ct
FROM customer
""",
)
def fn_aes_encrypt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption round-trip (aes_encrypt/aes_decrypt,
    SPARK-12567): PII-bearing names encrypted with AES-128-GCM and a
    pinned IV, then decrypted and compared. Proves (a) every row
    round-trips losslessly (n_ok == n) and (b) deterministic-IV ciphertext
    is injective on plaintext (distinct ciphertexts == distinct names), so
    encrypted columns can still serve as exact-match join/dedup keys — the
    property an ingestion pipeline relies on when it encrypts PII at the
    edge but still needs entity resolution downstream. (In production the
    IV comes from a per-batch secret, not a constant; the pinned IV here
    makes the parity check deterministic.) All JVM-side codegen
    expressions, one scan, 1-row output. Oracle: the decrypt side cannot
    be spelled portably, so DuckDB pins the invariants' expected values —
    every NON-NULL name round-trips (count(c_name); encrypt of NULL is
    NULL) and ciphertexts have name-cardinality."""
    t = Tables(spark, sf_dir)
    enc = t.customer.select(
        "c_name",
        F.expr(
            "aes_encrypt(c_name, '0123456789abcdef', 'GCM', 'NONE', "
            "unhex('000000000000000000000000'))"
        ).alias("ct"),
    )
    return enc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.expr(
                    "CAST(aes_decrypt(ct, '0123456789abcdef', 'GCM') AS STRING)"
                )
                == F.col("c_name"),
                1,
            ).otherwise(0)
        ).alias("n_ok"),
        F.count_distinct("ct").alias("n_distinct_ct"),
    )


# ===========================================================================
# wave module round6x (formerly operators/round6x.py)
# Round-6 fiftieth wave (SURVEY.md §2.R): lakehouse file-layout and
# semi-structured-URL/XML surface — distributed parquet footer audits,
# Morton (z-order) layout planning, co-purchase degree distributions, and
# the parse_url / xpath scalar families.
# ===========================================================================

@register(
    "scan_parquet_footer_audit",
    oracle="""
SELECT o_orderpriority AS priority, 1 AS n_files, 1 AS n_row_groups,
       count(*) AS footer_rows, count(*) AS source_rows
FROM orders GROUP BY 1
""",
)
def scan_parquet_footer_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed parquet FOOTER audit of a written lake: orders are
    sunk partitionBy(priority) (one file per partition at test SF), then
    the audit ships the file LIST — not file contents — to executors and
    each mapInPandas batch opens only the ~KB footer via pyarrow
    (`pq.ParquetFile(path).metadata`), emitting per-file row-group count
    and footer row totals. Footer totals are then reconciled against the
    source relation per partition (footer_rows must equal source_rows —
    the invariant a migration/compaction job checks before swapping a
    table pointer). At 100 TB the file list is what the planner already
    holds; footer reads are O(files) tiny range requests fanned across
    executors instead of a driver loop. Oracle: expected layout (1 file /
    1 row group per partition at test SF — orders are far under the 128 MB
    row-group default) + source counts."""
    t = Tables(spark, sf_dir)
    out = op_tmpdir("footer_audit_")
    (
        t.orders.repartition("o_orderpriority")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(out)
    )
    # NULL priorities land in the hive default-partition directory; decode
    # it back to NULL so the audit reconciles against the source's NULL
    # group instead of silently dropping that partition
    _HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
    files = [
        (None if raw == _HIVE_NULL else raw, p)
        for p in glob.glob(os.path.join(out, "o_orderpriority=*", "*.parquet"))
        for raw in [p.split("o_orderpriority=")[1].split("/")[0]]
    ]
    paths = spark.createDataFrame(files, "priority string, path string").repartition(
        8, "path"
    )

    def audit_footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for b in batches:
            rows = []
            for prio, p in zip(b["priority"], b["path"]):
                md = pq.ParquetFile(p).metadata  # footer-only read
                rows.append((prio, md.num_row_groups, md.num_rows))
            yield pd.DataFrame(
                rows, columns=["priority", "n_row_groups", "footer_rows"]
            )

    footer = paths.mapInPandas(
        audit_footers, "priority string, n_row_groups int, footer_rows long"
    )
    per_part = footer.groupBy("priority").agg(
        F.count(F.lit(1)).cast("int").alias("n_files"),
        F.sum("n_row_groups").cast("int").alias("n_row_groups"),
        F.sum("footer_rows").alias("footer_rows"),
    )
    source = t.orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("source_rows")
    )
    # eqNullSafe: the NULL-priority partition must reconcile, not vanish
    return per_part.join(
        source, per_part["priority"].eqNullSafe(source["priority"])
    ).select(
        per_part["priority"],
        "n_files",
        "n_row_groups",
        "footer_rows",
        "source_rows",
    )


def _morton_sql(x: str, y: str, bits: int, dialect: str) -> str:
    """Bit-interleaved Morton code spelled in portable integer arithmetic
    (bit i of v == (v div 2^i) mod 2), identical on both engines."""
    parts = []
    for i in range(bits):
        if dialect == "duck":
            parts.append(f"((({x} // {2 ** i}) % 2) * {2 ** (2 * i)})")
            parts.append(f"((({y} // {2 ** i}) % 2) * {2 ** (2 * i + 1)})")
        else:
            parts.append(
                f"(CAST(({x} div {2 ** i}) % 2 AS BIGINT) * {2 ** (2 * i)})"
            )
            parts.append(
                f"(CAST(({y} div {2 ** i}) % 2 AS BIGINT) * {2 ** (2 * i + 1)})"
            )
    return " + ".join(parts)


def _zorder_sql(dialect: str) -> str:
    m = _morton_sql("xd", "yd", 6, dialect)
    doy = (
        "CAST(strftime(o_orderdate, '%j') AS INTEGER)"
        if dialect == "duck"
        else "CAST(date_format(o_orderdate, 'D') AS INT)"
    )
    div = "//" if dialect == "duck" else "div"
    return f"""
WITH base AS (
  SELECT o_orderkey, CAST(o_custkey % 64 AS BIGINT) AS xd,
         CAST({doy} % 64 AS BIGINT) AS yd
  FROM orders),
keyed AS (
  SELECT xd, yd,
         ({m}) {div} 128 AS zbkt,
         yd {div} 2 AS lbkt
  FROM base),
zstats AS (SELECT zbkt AS bkt, min(xd) AS xmin, max(xd) AS xmax,
                  min(yd) AS ymin, max(yd) AS ymax FROM keyed GROUP BY 1),
lstats AS (SELECT lbkt AS bkt, min(xd) AS xmin, max(xd) AS xmax,
                  min(yd) AS ymin, max(yd) AS ymax FROM keyed GROUP BY 1),
probes AS (SELECT DISTINCT xd AS v FROM base),
probesy AS (SELECT DISTINCT yd AS v FROM base)
SELECT 'zorder' AS layout, 'x' AS probe_dim,
       CAST(round(avg(CASE WHEN p.v < s.xmin OR p.v > s.xmax
                      THEN 1.0 ELSE 0.0 END), 4) AS DOUBLE) AS prunable_frac
FROM probes p CROSS JOIN zstats s
UNION ALL
SELECT 'zorder', 'y',
       CAST(round(avg(CASE WHEN p.v < s.ymin OR p.v > s.ymax
                      THEN 1.0 ELSE 0.0 END), 4) AS DOUBLE)
FROM probesy p CROSS JOIN zstats s
UNION ALL
SELECT 'linear_y', 'x',
       CAST(round(avg(CASE WHEN p.v < s.xmin OR p.v > s.xmax
                      THEN 1.0 ELSE 0.0 END), 4) AS DOUBLE)
FROM probes p CROSS JOIN lstats s
UNION ALL
SELECT 'linear_y', 'y',
       CAST(round(avg(CASE WHEN p.v < s.ymin OR p.v > s.ymax
                      THEN 1.0 ELSE 0.0 END), 4) AS DOUBLE)
FROM probesy p CROSS JOIN lstats s
"""


@register("pipeline_zorder_layout_plan", oracle=_zorder_sql("duck"))
def pipeline_zorder_layout_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout planning: quantifies min/max data-skipping
    effectiveness of a Morton-interleaved sort vs a linear sort BEFORE
    rewriting a 100 TB table. Rows get a 12-bit Morton code over
    (custkey%64, dayofyear%64) — spelled in portable div/mod arithmetic,
    JVM-side — then FIXED morton-value ranges (morton div 128 -> 32
    quadtree blocks; yd div 2 for the linear candidate) simulate the
    files of each layout. Value-range bucketing deliberately replaces the
    first draft's ntile(32): an equal-count ntile needs a GLOBAL
    single-partition window sort — the scale defect this planner exists
    to avoid — while value ranges make the whole query two
    partial-aggregable groupBys + bounded cross joins (32 zone-map rows x
    <=64 probe values); the real writer gets equal file sizes from
    repartitionByRange over the same morton key. Per-file min/max zone
    maps are evaluated against every probe value per dimension = fraction
    of files a point predicate prunes. Measured at sf0.1: linear-by-day
    prunes 97% for day probes but ~0% for customer probes; z-order prunes
    75% / 87.5% for x / y — the multi-dimension justification for a
    z-order rewrite, at the cost of an aggregation instead of a table
    rewrite. Oracle: DuckDB runs the same statement modulo dialect
    (// vs div, strftime vs date_format)."""
    register_views(spark, sf_dir)
    return spark.sql(_zorder_sql("spark"))


@register(
    "graph_degree_distribution",
    oracle="""
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM basket a JOIN basket b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey),
und AS (SELECT pa AS p, pb AS q FROM edges
        UNION ALL SELECT pb, pa FROM edges),
deg AS (SELECT p, count(*) AS degree FROM und GROUP BY p),
banded AS (SELECT CAST(floor(ln(degree) / ln(2)) AS BIGINT) AS degree_band,
                  degree FROM deg)
SELECT degree_band, count(*) AS n_parts,
       CAST(min(degree) AS BIGINT) AS min_degree,
       CAST(max(degree) AS BIGINT) AS max_degree
FROM banded GROUP BY 1
""",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph degree distribution: parts are nodes, an edge
    joins two parts appearing in the same order, and the output is the
    log2-banded histogram of node degrees (the hub-detection profile that
    decides whether a downstream graph algorithm needs skew handling).
    Pair generation is orderkey-blocked, so fan-out is bounded by
    sum(basket_size^2) — baskets are <=7 lines in this corpus — never
    all-pairs across parts; degree aggregation and banding are
    partial-aggregable single-shuffle steps. Output is <=64 bands at any
    corpus size.

    Optimization r16 (guide §2.4): pairs come from
    scale.basket_pair_explode — one partial-aggregable
    groupBy(l_orderkey) collect_set plus a JVM-side combination
    generator — instead of the first draft's distinct + self-equi-join
    (which paid a distinct exchange plus two join exchanges for the
    identical pair multiset)."""
    from ai_dataingestion_spark.scale import basket_pair_explode

    edges = basket_pair_explode(
        Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey"),
        "l_orderkey", "l_partkey", out=("pa", "pb"),
    ).distinct()
    und = edges.select(F.col("pa").alias("p")).unionAll(
        edges.select(F.col("pb").alias("p"))
    )
    deg = und.groupBy("p").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.select(
            F.floor(F.log2("degree")).alias("degree_band"), "degree"
        )
        .groupBy("degree_band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("degree").alias("min_degree"),
            F.max("degree").alias("max_degree"),
        )
    )


@register(
    "fn_url_parse",
    oracle="""
SELECT regexp_extract(u, 'https://([^/]+)/', 1) AS host,
       regexp_extract(u, 'https://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(u, 'k=(.*)$', 1) AS qk,
       count(*) AS n
FROM (SELECT 'https://ex' || CAST(o_orderkey % 3 AS VARCHAR) || '.org/p/'
             || CAST(o_orderkey % 7 AS VARCHAR) || '?k=' || o_orderstatus AS u
      FROM orders) t
GROUP BY 1, 2, 3
""",
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition via Spark's parse_url (HOST / PATH / QUERY-key
    extraction) over synthesized click-log URLs (the corpus carries no
    URL column; the operator under test is the parser). parse_url is a
    JVM-side expression — no UDF — and the grouped output is bounded by
    the synthesized key domain (3 hosts x 7 paths x 3 statuses). Oracle:
    DuckDB spells the same decomposition with regexp_extract."""
    t = Tables(spark, sf_dir)
    u = F.concat(
        F.lit("https://ex"),
        (F.col("o_orderkey") % 3).cast("string"),
        F.lit(".org/p/"),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit("?k="),
        F.col("o_orderstatus"),
    )
    return (
        t.orders.select(u.alias("u"))
        .select(
            F.parse_url("u", F.lit("HOST")).alias("host"),
            F.parse_url("u", F.lit("PATH")).alias("path"),
            F.parse_url("u", F.lit("QUERY"), F.lit("k")).alias("qk"),
        )
        .groupBy("host", "path", "qk")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "fn_xpath_extract",
    oracle="""
SELECT o_orderstatus AS status_from_xml,
       -- a NULL status makes the whole synthesized XML doc NULL on the
       -- engine side, so nothing is extractable from those rows: the
       -- reproduced arithmetic must go NULL with it
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN NULL
                     ELSE o_orderkey % 5 + 2 END) AS BIGINT) AS sum_b,
       count(*) AS n
FROM orders GROUP BY 1
""",
)
def fn_xpath_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML field extraction via Spark's xpath family (xpath_string for a
    scalar node, xpath_long for an XPath aggregate over repeated nodes)
    on per-row XML documents synthesized from order columns — the
    legacy-feed ingestion shape (the corpus has no XML column; the
    operators under test are the XPath evaluators). Extraction stays
    JVM-side; the rollup is a plain partial-aggregable groupBy. Oracle:
    DuckDB reproduces the extracted values arithmetically from the same
    source columns (status text node; sum(/r/b) = (key%5) + literal 2)."""
    t = Tables(spark, sf_dir)
    xml = F.concat(
        F.lit("<r><a>"),
        F.col("o_orderstatus"),
        F.lit("</a><b>"),
        (F.col("o_orderkey") % 5).cast("string"),
        F.lit("</b><b>2</b></r>"),
    )
    return (
        t.orders.select(xml.alias("x"))
        .select(
            F.expr("xpath_string(x, '/r/a')").alias("status_from_xml"),
            F.expr("xpath_long(x, 'sum(/r/b)')").alias("b_sum"),
        )
        .groupBy("status_from_xml")
        .agg(F.sum("b_sum").alias("sum_b"), F.count(F.lit(1)).alias("n"))
    )


# ===========================================================================
# wave module round6y (formerly operators/round6y.py)
# Round-6 fifty-first wave (SURVEY.md §2.R): tokenizer-training and
# spatial primitives — BPE first-merge pair statistics, grid-blocked
# spatial joins, and the approx-percentile sketch accuracy contract.
# ===========================================================================

# Pair extraction is capped at the first 50 chars of a word on BOTH sides
# (deterministic, engine-identical); real corpora tokenize far below that.
_BPE_CAP = 49


@register(
    "text_bpe_pair_merge",
    oracle=rf"""
WITH words AS (
  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
ww AS (SELECT w FROM words WHERE length(w) >= 2),
pairs AS (
  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair
  FROM ww CROSS JOIN generate_series(1, {_BPE_CAP}) AS g(i)
  WHERE i <= length(w) - 1)
SELECT pair, count(*) AS n FROM pairs
GROUP BY 1 ORDER BY n DESC, pair LIMIT 20
""",
)
def text_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, iteration one: the top-20 adjacent
    character pairs by corpus frequency — the pair a byte-pair-encoding
    trainer (Sennrich 2016, "Neural Machine Translation of Rare Words
    with Subword Units") would merge first. Words come from one
    whitespace split + explode; pairs are substr slices over a
    per-word index sequence (JVM-side, no UDF), so total work is linear
    in corpus characters — the same single-shuffle explode+count shape as
    text_tfidf, and the candidate-counting kernel you would iterate for a
    full merge loop. The top-20 cut is n-DESC with a pair tie-break so
    the boundary is deterministic cross-engine. Oracle: DuckDB spells the
    index sequence as a bounded generate_series cross join."""
    t = Tables(spark, sf_dir)
    return (
        t.documents.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
        )
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.sequence(
                    F.lit(1), F.least(F.length("w") - 1, F.lit(_BPE_CAP))
                )
            ).alias("i"),
            "w",
        )
        .select(F.expr("substr(w, i, 2)").alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


_SPATIAL_ORACLE = """
WITH pts AS (SELECT c_custkey,
                    CAST((c_custkey * 7) % 100 AS BIGINT) AS x,
                    CAST((c_custkey * 13) % 100 AS BIGINT) AS y
             FROM customer),
boxes AS (SELECT n_nationkey, n_name,
                 CAST((n_nationkey * 11) % 80 AS BIGINT) AS xmin,
                 CAST((n_nationkey * 11) % 80 + 15 AS BIGINT) AS xmax,
                 CAST((n_nationkey * 17) % 80 AS BIGINT) AS ymin,
                 CAST((n_nationkey * 17) % 80 + 20 AS BIGINT) AS ymax
          FROM nation)
SELECT b.n_name, count(p.c_custkey) AS n_points
FROM boxes b LEFT JOIN pts p
  ON p.x BETWEEN b.xmin AND b.xmax AND p.y BETWEEN b.ymin AND b.ymax
GROUP BY 1
"""

_CELL = 10  # grid cell edge; boxes span <=2x3 cells -> fan-out <=12


@register("join_spatial_grid", oracle=_SPATIAL_ORACLE)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial point-in-rectangle join via GRID BLOCKING — the pattern
    that makes spatial joins scale on a hash-shuffle engine (same
    candidate-generation-by-equality-join shape as the LSH dedups).
    Points and query boxes are synthesized deterministically from keys
    (the corpus has no geometry; the operator under test is the join
    strategy). Each point maps to one 10x10 grid cell; each box explodes
    into the <=12 cells it overlaps; the join is pure cell-key EQUALITY
    (shuffle/broadcast hash join — never the O(points x boxes)
    theta-join a naive BETWEEN predicate forces), followed by the exact
    containment verify on candidates only. LEFT join semantics keep
    empty boxes with count 0. At 100 TB the cell key shards uniformly
    and box fan-out stays constant. Oracle: DuckDB runs the naive
    theta-join spelling of the same semantics."""
    spark_pts = Tables(spark, sf_dir).customer.select(
        "c_custkey",
        ((F.col("c_custkey") * 7) % 100).cast("bigint").alias("x"),
        ((F.col("c_custkey") * 13) % 100).cast("bigint").alias("y"),
    )
    boxes = Tables(spark, sf_dir).nation.select(
        "n_nationkey",
        "n_name",
        ((F.col("n_nationkey") * 11) % 80).cast("bigint").alias("xmin"),
        ((F.col("n_nationkey") * 11) % 80 + 15).cast("bigint").alias("xmax"),
        ((F.col("n_nationkey") * 17) % 80).cast("bigint").alias("ymin"),
        ((F.col("n_nationkey") * 17) % 80 + 20).cast("bigint").alias("ymax"),
    )
    pcell = spark_pts.withColumn(
        "cx", (F.col("x") / _CELL).cast("bigint")
    ).withColumn("cy", (F.col("y") / _CELL).cast("bigint"))
    bcell = boxes.select(
        "*",
        F.explode(
            F.sequence(
                (F.col("xmin") / _CELL).cast("bigint"),
                (F.col("xmax") / _CELL).cast("bigint"),
            )
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                (F.col("ymin") / _CELL).cast("bigint"),
                (F.col("ymax") / _CELL).cast("bigint"),
            )
        ).alias("cy"),
    )
    hits = (
        bcell.join(pcell, ["cx", "cy"])
        .filter(
            (F.col("x") >= F.col("xmin"))
            & (F.col("x") <= F.col("xmax"))
            & (F.col("y") >= F.col("ymin"))
            & (F.col("y") <= F.col("ymax"))
        )
        .groupBy("n_nationkey")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    # final groupBy(n_name): the oracle groups by NAME, so boxes sharing a
    # name — including several NULL-named nations, which GROUP BY collapses
    # into one NULL group on both engines — merge their point counts
    return (
        boxes.select("n_nationkey", "n_name")
        .join(hits, "n_nationkey", "left")
        .groupBy("n_name")
        .agg(F.sum(F.coalesce("n_points", F.lit(0))).alias("n_points"))
    )


@register(
    "agg_approx_percentile_error",
    oracle="""
SELECT * FROM (VALUES (100, true), (1000, true), (10000, true))
  t(accuracy, within_bound)
""",
)
def agg_approx_percentile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approx-percentile sketch's accuracy CONTRACT, verified:
    Spark's percentile_approx (Greenwald-Khanna) promises the returned
    median's rank is within n/accuracy of the true rank. The operator
    computes the approx median at accuracy 100 / 1000 / 10000 plus the
    exact RANK INTERVAL of each returned value (one extra
    conditional-count pass with the 1-row sketch results broadcast), and
    emits whether each landed inside its bound — measured slack at
    sf0.001: rank error 1-32 vs bounds 2-61. Under duplicates a value
    occupies ranks [count(<v)+1, count(<=v)]; GK guarantees SOME rank of
    the value is within n/accuracy of the target, so the check is
    interval-intersection with the band 0.5n ± (n/accuracy + 1), not the
    upper rank alone — count(<=v) can exceed the band on heavily tied
    columns even when the sketch honors its contract (ADVICE r6). This
    is the check a pipeline runs before trusting sketch quantiles for
    SLA cut-offs at 100 TB, where exact percentiles cost a full sort.
    Oracle: the contract itself (all three accuracies within bound)."""
    li = Tables(spark, sf_dir).lineitem
    sk = li.agg(
        # count(col), not count(*): the sketch ignores NULL prices, so the
        # rank band must be centered on the NON-NULL population
        F.count("l_extendedprice").alias("n"),
        F.expr("percentile_approx(l_extendedprice, 0.5, 100)").alias("a100"),
        F.expr("percentile_approx(l_extendedprice, 0.5, 1000)").alias("a1000"),
        F.expr("percentile_approx(l_extendedprice, 0.5, 10000)").alias(
            "a10000"
        ),
    )
    def _lt(a):
        return F.sum(
            F.when(F.col("l_extendedprice") < F.col(a), 1).otherwise(0)
        ).alias("lt" + a[1:])

    def _le(a):
        return F.sum(
            F.when(F.col("l_extendedprice") <= F.col(a), 1).otherwise(0)
        ).alias("le" + a[1:])

    ranks = li.crossJoin(F.broadcast(sk)).agg(
        F.first("n").alias("n"),
        _lt("a100"), _le("a100"),
        _lt("a1000"), _le("a1000"),
        _lt("a10000"), _le("a10000"),
    )
    # value's rank interval [lt+1, le] intersects the band
    # [0.5n - n/acc - 1, 0.5n + n/acc + 1]
    band = (
        "(lt{a} + 1) <= (0.5 * n + n / {a}.0 + 1) "
        "AND le{a} >= (0.5 * n - n / {a}.0 - 1)"
    )
    return ranks.selectExpr(
        "stack(3, "
        f"100,   {band.format(a=100)}, "
        f"1000,  {band.format(a=1000)}, "
        f"10000, {band.format(a=10000)}) "
        "AS (accuracy, within_bound)"
    )


# ===========================================================================
# wave module round6z (formerly operators/round6z.py)
# Round-6 fifty-second wave (SURVEY.md §2.R): ingestion hardening —
# web-crawl URL canonicalization, heterogeneous timestamp parsing, UTF-8
# char-vs-byte semantics, GROUP BY ALL, and INTERVAL-literal window frames.
# ===========================================================================

# -*- coding: utf-8 -*-




# Synthesized crawl URLs: deterministic host/page from doc_id plus the
# three classic canonicalization hazards — uppercase scheme/host, tracking
# query params (utm_*, ref=), and fragments.
_URL_SYN_SPARK = """
SELECT concat('HTTPS://Ex', CAST(doc_id % 50 AS STRING), '.ORG/Page/',
  CAST(doc_id % 200 AS STRING),
  CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&utm_campaign=y'
       WHEN doc_id % 3 = 1 THEN '?ref=abc' ELSE '' END,
  CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END) AS url FROM documents"""

_URL_CANON_TEMPLATE = """
SELECT count(*) AS n_urls, count(DISTINCT url) AS n_raw_distinct,
       count(DISTINCT canon) AS n_canon_distinct,
       CAST(round(1.0 - count(DISTINCT canon) * 1.0 / count(DISTINCT url), 4)
            AS DOUBLE) AS dup_rate
FROM (
  SELECT url,
    concat(lower(regexp_extract(url, '^[Hh][Tt][Tt][Pp][Ss]?://([^/]+)', 1)),
           regexp_extract(regexp_replace(url, '#.*$', ''),
                          '^[^:]+://[^/]+([^?#]*)', 1),
           CASE WHEN {STRIP} <> ''
                THEN concat('?', {STRIP})
                ELSE '' END) AS canon
  FROM ({SYN}) u) t"""

_STRIP_SPARK = (
    "regexp_replace(regexp_replace(regexp_extract(url, '\\\\?([^#]*)', 1), "
    "'(^|&)(utm_[^&]*|ref=[^&]*)', ''), '^&', '')"
)
# DuckDB regexp_replace replaces only the FIRST match without the 'g'
# flag (Spark replaces all) — the round-6 prototype caught 367 vs 200
# canonical URLs before the flag was added.
_STRIP_DUCK = (
    "regexp_replace(regexp_replace(regexp_extract(url, '\\?([^#]*)', 1), "
    "'(^|&)(utm_[^&]*|ref=[^&]*)', '', 'g'), '^&', '')"
)


@register(
    "text_url_canonicalize_dedup",
    oracle=_URL_CANON_TEMPLATE.replace("{STRIP}", _STRIP_DUCK).replace(
        "{SYN}", _URL_SYN_SPARK.replace("AS STRING", "AS VARCHAR")
    ),
)
def text_url_canonicalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-crawl URL canonicalization — the first dedup stage of a crawl
    ingestion pipeline (CommonCrawl-style): lowercase the scheme+host,
    drop fragments, strip tracking params (utm_*, ref=) while preserving
    meaningful query strings, then report raw-vs-canonical distinct
    counts and the implied URL-level dup rate. All regexp expressions are
    JVM-side codegen; the aggregate is one pass. The synthesized URLs (no
    URL column in the corpus) embed the three classic hazards with known
    cardinality: 500 raw variants collapse to exactly 200 canonical
    (host x page residues). Dialect trap pinned by the oracle: DuckDB's
    regexp_replace needs the 'g' flag to match Spark's replace-all
    default — without it the canonical count read 367, not 200."""
    register_views(spark, sf_dir)
    return spark.sql(
        _URL_CANON_TEMPLATE.replace("{STRIP}", _STRIP_SPARK).replace(
            "{SYN}", _URL_SYN_SPARK
        )
    )


@register(
    "fn_multiformat_timestamp_parse",
    oracle="""
SELECT fmt_class, count(*) AS n,
       CAST(CAST(min(parsed) AS TIMESTAMP) AS VARCHAR) AS min_ts,
       CAST(CAST(max(parsed) AS TIMESTAMP) AS VARCHAR) AS max_ts FROM (
  SELECT CASE WHEN event_id % 3 = 0 THEN 'iso'
              WHEN event_id % 3 = 1 THEN 'us' ELSE 'epoch' END AS fmt_class,
         coalesce(try_strptime(raw, '%Y-%m-%dT%H:%M:%S'),
                  try_strptime(raw, '%m/%d/%Y %H:%M:%S'),
                  CASE WHEN regexp_matches(raw, '^[0-9]+$')
                       THEN CAST(to_timestamp(CAST(raw AS BIGINT)) AS TIMESTAMP)
                  END) AS parsed
  FROM (SELECT event_id,
      CASE WHEN event_id % 3 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
           WHEN event_id % 3 = 1 THEN strftime(ts, '%m/%d/%Y %H:%M:%S')
           -- floor() before the int cast: DuckDB CAST(double AS BIGINT)
           -- ROUNDS while Spark unix_timestamp() truncates (SURVEY 5.4);
           -- caught at sf0.1 where the max epoch row has fraction >= .5
           ELSE CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR) END AS raw
    FROM events) r) p
GROUP BY 1
""",
)
def fn_multiformat_timestamp_parse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Heterogeneous timestamp ingestion: raw strings arriving in three
    wire formats (ISO-8601, US slash-dates, unix epoch seconds) parsed by
    a try_to_timestamp coalesce cascade — each format attempt nulls out
    instead of failing the job (ANSI-safe), the epoch branch is guarded
    by a digits-only regex so it can't mis-eat date strings, and every
    row must land in exactly one branch. The raw strings are synthesized
    from events.ts at second precision so the round-trip is exact and the
    per-format min/max pin both the parse and the format-classifier. All
    JVM-side; 3-row output. Oracle: DuckDB's try_strptime cascade (its
    epoch parse returns TIMESTAMPTZ — cast back to naive, the second
    dialect trap this wave pins)."""
    t = Tables(spark, sf_dir)
    raw = F.when(
        F.col("event_id") % 3 == 0,
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
    ).when(
        F.col("event_id") % 3 == 1, F.date_format("ts", "MM/dd/yyyy HH:mm:ss")
    ).otherwise(F.unix_timestamp("ts").cast("bigint").cast("string"))
    fmt_class = (
        F.when(F.col("event_id") % 3 == 0, F.lit("iso"))
        .when(F.col("event_id") % 3 == 1, F.lit("us"))
        .otherwise(F.lit("epoch"))
    )
    parsed = F.coalesce(
        F.expr("try_to_timestamp(raw, \"yyyy-MM-dd'T'HH:mm:ss\")"),
        F.expr("try_to_timestamp(raw, 'MM/dd/yyyy HH:mm:ss')"),
        F.expr(
            "CASE WHEN raw rlike '^[0-9]+$' "
            "THEN timestamp_seconds(CAST(raw AS BIGINT)) END"
        ),
    )
    return (
        t.events.select(fmt_class.alias("fmt_class"), raw.alias("raw"))
        .select("fmt_class", parsed.alias("parsed"))
        .groupBy("fmt_class")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("parsed").cast("string").alias("min_ts"),
            F.max("parsed").cast("string").alias("max_ts"),
        )
    )


# 6 two-byte (Greek) + 6 three-byte (CJK) characters: byte lengths vary,
# char lengths don't — exactly the divergence the operator pins.
_MB = "αβγδεζ日本語中文字"


@register(
    "fn_utf8_multibyte_semantics",
    oracle=f"""
SELECT CAST(sum(length(s)) AS BIGINT) AS total_chars,
       CAST(sum(strlen(s)) AS BIGINT) AS total_bytes,
       count(DISTINCT substr(s, 2, 2)) AS distinct_mid
FROM (SELECT 'a' || substr('{_MB}', CAST(1 + c_custkey % 12 AS INTEGER), 1)
          || substr('{_MB}', CAST(1 + (c_custkey * 5) % 12 AS INTEGER), 1)
          || 'z' AS s FROM customer) t
""",
)
def fn_utf8_multibyte_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8 char-vs-byte semantics pinned: strings mixing 1/2/3-byte
    characters (synthesized by CHARACTER-indexed substr picks from a
    mixed Greek/CJK alphabet — the corpus is pure ASCII) must report
    length() in characters, octet_length() in bytes, and substr() must
    slice characters, never split a multibyte sequence. This is the
    contract every downstream text operator (chunkers, token counters,
    fingerprints) silently relies on; an engine or storage layer that
    byte-slices would corrupt text and diverge here. Oracle: DuckDB
    (strlen = its byte length function). Measured: 600 chars / 1046
    bytes at sf0.001 — unequal by construction."""
    t = Tables(spark, sf_dir)
    s = F.concat(
        F.lit("a"),
        F.expr(f"substr('{_MB}', CAST(1 + c_custkey % 12 AS INT), 1)"),
        F.expr(f"substr('{_MB}', CAST(1 + (c_custkey * 5) % 12 AS INT), 1)"),
        F.lit("z"),
    )
    return t.customer.select(s.alias("s")).agg(
        F.sum(F.length("s")).cast("bigint").alias("total_chars"),
        F.sum(F.octet_length("s")).cast("bigint").alias("total_bytes"),
        F.count_distinct(F.expr("substr(s, 2, 2)")).alias("distinct_mid"),
    )


_GBA_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS rev
FROM orders GROUP BY ALL
"""


@register("sql_group_by_all", oracle=_GBA_SQL)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 3.4+ / DuckDB shared syntax): the analyst
    shorthand that infers grouping keys from the non-aggregate select
    items. Semantically identical to the explicit GROUP BY — Catalyst
    resolves it at analysis time, so the physical plan is the ordinary
    partial-aggregable hash aggregate. Both engines run the identical
    statement."""
    register_views(spark, sf_dir)
    return spark.sql(_GBA_SQL)


_IVFRAME_SQL = """
SELECT o_custkey, CAST(CAST(o_orderdate AS DATE) AS {STR}) AS od,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
         PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS TIMESTAMP)
         RANGE BETWEEN {IV} PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
         AS spend_7d
FROM orders
"""


@register(
    "win_range_interval_frame",
    oracle=_IVFRAME_SQL.replace("{IV}", "INTERVAL 7 DAY").replace(
        "{STR}", "VARCHAR"
    ),
)
def win_range_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame with an INTERVAL literal: trailing
    7-day spend per customer, `RANGE BETWEEN INTERVAL '7' DAY PRECEDING
    AND CURRENT ROW` over the order timestamp. Unlike a ROWS frame this
    is value-based — gaps and same-day multiples are handled by the time
    axis, not row counts — and unlike the existing numeric rangeBetween
    operators (win_moving_range, round6m/o) it exercises the calendar
    INTERVAL boundary type end-to-end. Per-customer partitions keep the
    window parallel (no global sort); frame evaluation is the standard
    sliding-sum pass. Oracle: DuckDB runs the identical statement
    (INTERVAL 7 DAY spelling)."""
    register_views(spark, sf_dir)
    return spark.sql(
        _IVFRAME_SQL.replace("{IV}", "INTERVAL '7' DAY").replace(
            "{STR}", "STRING"
        )
    )
