"""Round-16 block part 1 — Spark 4.1 TIME-type surface (§2.AL), the
remaining scalar-function gaps (§2.AM), and the DF-cap recall
introspection op VERDICT-r15 item 3 asked for (§2.AN).

Nine operators in three families:

- **§2.AL TIME type (3 ops)**: Spark 4.1 ships an ANSI TIME data type
  behind ``spark.sql.timeType.enabled`` — construction (``make_time`` /
  ``to_time`` / ``try_to_time``), extraction (``hour``/``minute``/
  ``second``), precision casts (``time(p)`` TRUNCATES the fraction, not
  rounds — measured: .987654 → time(2) → .98), ``time_trunc`` and the
  signed ``time_diff``. DuckDB has a native TIME type whose
  VARCHAR rendering trims trailing fraction zeros EXACTLY like Spark's
  string cast ('14:05:09.1' / '14:05:09' — measured on both engines), so
  string emissions are cross-engine stable; every arithmetic emission
  uses whole-unit-truncated times so the diff is exact integer math on
  both sides. The analytics shape (time-of-day rollup) is the
  wall-clock seasonality profile every event pipeline publishes.
- **§2.AM function-surface completion (5 ops)**: width_bucket,
  elt/find_in_set/equal_null/getbit, try_make_timestamp /
  try_make_interval, json_array_length, and the aes_encrypt /
  try_aes_decrypt roundtrip. Oracles are definitional where DuckDB
  lacks the spelling (elt ≡ 1-based list indexing, equal_null ≡ IS NOT
  DISTINCT FROM, getbit ≡ shift-and-mask, AES ≡ roundtrip identity +
  PKCS#5 length arithmetic).
- **§2.AN DF-cap loss introspection (1 op)**: the measurable in-band
  answer to the sfx1.0 finding that corpus-wide duplication empties the
  rare-shingle index (VERDICT-r15 "Performance" caveat) — a duplication-
  factor curve of how much of the shingle vocabulary, candidate mass,
  and document population the DF≤50 cap would discard at ×k copies.

Scale posture: every op is a scan → narrow projection → partial-
aggregable groupBy over a bounded key space (hours-of-day, buckets,
factors × spectrum); no op shuffles more than once, none collects, and
the TIME expressions are pure codegen riding the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_dataingestion_spark.ai.dedup import RARE_SHINGLE_CAP, shingle_sets
from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    stable_rounded_sum,
    stable_rounded_sum_sql,
)
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.registry import Tables


def _enable_time_type(spark: SparkSession) -> None:
    """TIME is gated off by default in Spark 4.1 (UNSUPPORTED_TIME_TYPE
    at analysis); the conf is runtime-settable, so pin it at the op
    boundary — the driver's own session won't have it either."""
    spark.conf.set("spark.sql.timeType.enabled", "true")


# Spark-side time-of-day: TIMESTAMP→TIME casts are unsupported in 4.1,
# so the portable construction is format→parse (exact: ts carries µs).
_TOD = "to_time(date_format(ts, 'HH:mm:ss.SSSSSS'))"
# DuckDB-side twin: native timestamp→TIME cast.
_TOD_SQL = "CAST(ts AS TIME)"
# DuckDB microseconds-of-day (no epoch_us on TIME): diff against the
# day-truncated timestamp — correct for pre-1970 timestamps too, where a
# plain modulo would go negative.
_US_OF_DAY_SQL = (
    "(epoch_us(ts) - epoch_us(CAST(date_trunc('day', ts) AS TIMESTAMP)))"
)


# ---------------------------------------------------------------------------
# fn_time_type_family — construction / extraction / precision casts
# ---------------------------------------------------------------------------


@register(
    "fn_time_type_family",
    oracle=f"""
SELECT CAST(hour({_TOD_SQL}) AS INTEGER) AS hod,
       count(*) AS n,
       CAST(min({_TOD_SQL}) AS VARCHAR) AS first_s,
       CAST(max({_TOD_SQL}) AS VARCHAR) AS last_s,
       CAST(count(DISTINCT strftime(ts, '%H:%M')) AS BIGINT) AS n_active_min,
       min({_US_OF_DAY_SQL} // 10000 * 10000) AS min_us2
FROM events WHERE ts IS NOT NULL
GROUP BY 1
""",
)
def fn_time_type_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 TIME type, construction + extraction + precision: events
    timestamps become time-of-day TIME values (to_time over an exact µs
    format — TIMESTAMP→TIME casts don't exist yet), then per hour-of-day:
    min/max TIME emitted through the string cast (both engines trim
    trailing fraction zeros identically — measured), active minutes via
    time_trunc('MINUTE') distinct-count, and the time(2) precision cast
    pinned as TRUNCATION (not rounding) by emitting the truncated value
    as exact microseconds-of-day (time_diff('MICROSECOND') from
    midnight ≡ the oracle's integer floor-to-10ms grid). TIME ordering
    (min/max) is exercised on the TIME values themselves, not strings.
    One partial-aggregable groupBy over a 24-row key space — the
    expressions ride the scan at any corpus scale."""
    _enable_time_type(spark)
    e = Tables(spark, sf_dir).events
    base = e.where(F.col("ts").isNotNull()).select(
        F.expr(_TOD).alias("tod")
    )
    return base.groupBy(F.hour("tod").cast("int").alias("hod")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("tod").cast("string").alias("first_s"),
        F.max("tod").cast("string").alias("last_s"),
        F.countDistinct(F.expr("time_trunc('MINUTE', tod)")).alias(
            "n_active_min"
        ),
        F.min(
            F.expr(
                "time_diff('MICROSECOND', make_time(0, 0, 0),"
                " cast(tod as time(2)))"
            )
        ).alias("min_us2"),
    )


# ---------------------------------------------------------------------------
# fn_time_trunc_diff_family — time_trunc units, signed time_diff, try_to_time
# ---------------------------------------------------------------------------


@register(
    "fn_time_trunc_diff_family",
    oracle=f"""
WITH base AS (
  SELECT event_type, event_id, ts,
         {_US_OF_DAY_SQL} // 60000000 AS min_of_day,
         {_US_OF_DAY_SQL} // 1000000 AS sec_of_day
  FROM events
)
SELECT event_type,
       count(ts) AS n,
       max(min_of_day) - min(min_of_day) AS span_min,
       min(sec_of_day) - max(sec_of_day) AS neg_span_s,
       CAST(count(DISTINCT min_of_day // 60) AS BIGINT) AS n_active_hours,
       CAST(make_time(CAST(min(sec_of_day) // 3600 AS INTEGER),
                      CAST(min(sec_of_day) // 60 % 60 AS INTEGER),
                      CAST(min(sec_of_day) % 60 AS DOUBLE)) AS VARCHAR)
         AS first_whole_s,
       CAST(count(CASE WHEN ts IS NOT NULL
                        AND NOT coalesce(event_id % 7 = 0, FALSE)
                  THEN 1 END) AS BIGINT) AS n_parsed
FROM base
GROUP BY event_type
""",
)
def fn_time_trunc_diff_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_trunc / time_diff / try_to_time, pinned per event type:
    minute-of-day span via time_diff('MINUTE') over MINUTE-truncated
    endpoints and the signed contract via time_diff('SECOND') with the
    operands reversed (negative span) — both diffs run on whole-unit-
    truncated TIME values so the oracle's integer arithmetic is exact
    with no sub-unit truncation-direction surface. time_trunc('HOUR')
    feeds the active-hours distinct count, time_trunc('SECOND') the
    fraction-free (string-safe) earliest wall time, and try_to_time
    parses an event-derived HH:mm:ss string where every 7th event_id is
    deliberately malformed ('25:61:61') — NULL, never an ANSI error;
    the oracle counts validity by construction. NULL timestamps drop out
    of every aggregate on both engines; NULL event_ids take the
    well-formed branch on both (% of NULL is NULL, not 0). Single
    partial-aggregable groupBy over the event-type dimension."""
    _enable_time_type(spark)
    e = Tables(spark, sf_dir).events
    base = e.select(
        "event_type",
        "event_id",
        "ts",
        F.expr(_TOD).alias("tod"),
    ).withColumn(
        "parse_s",
        F.when(F.col("event_id") % 7 == 0, F.lit("25:61:61")).otherwise(
            F.date_format("ts", "HH:mm:ss")
        ),
    )
    return base.groupBy("event_type").agg(
        F.count("ts").alias("n"),
        F.expr(
            "time_diff('MINUTE', time_trunc('MINUTE', min(tod)),"
            " time_trunc('MINUTE', max(tod)))"
        ).alias("span_min"),
        F.expr(
            "time_diff('SECOND', time_trunc('SECOND', max(tod)),"
            " time_trunc('SECOND', min(tod)))"
        ).alias("neg_span_s"),
        F.countDistinct(F.expr("time_trunc('HOUR', tod)")).alias(
            "n_active_hours"
        ),
        F.expr("cast(time_trunc('SECOND', min(tod)) as string)").alias(
            "first_whole_s"
        ),
        F.count(F.expr("try_to_time(parse_s)")).alias("n_parsed"),
    )


# ---------------------------------------------------------------------------
# events_time_of_day_rollup — the TIME analytics shape (half-hour bands)
# ---------------------------------------------------------------------------


@register(
    "events_time_of_day_rollup",
    oracle=f"""
SELECT {_US_OF_DAY_SQL} // 1800000000 AS band,
       CAST(make_time(CAST({_US_OF_DAY_SQL} // 1800000000 // 2 AS INTEGER),
                      CAST({_US_OF_DAY_SQL} // 1800000000 % 2 * 30
                           AS INTEGER),
                      0.0) AS VARCHAR) AS band_start,
       count(*) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       {stable_rounded_sum_sql("value", 2)} AS value_sum
FROM events WHERE ts IS NOT NULL
GROUP BY 1, 2
""",
)
def events_time_of_day_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wall-clock seasonality rollup — the TIME-type analytics query: each
    event lands in one of 48 half-hour time-of-day bands (minute-of-day
    via time_diff('MINUTE') from midnight over the MINUTE-truncated TIME,
    integer-div 30 — exact on both engines), labeled with the band's
    make_time start (whole minutes, so the string cast is
    fraction-free). Per band: events, distinct users, and the value sum
    through stable_rounded_sum (DECIMAL accumulation; NaN/Inf tiers keep
    the raw double branch — the memory ladder's emitted-sum rule). At
    100 TB this is a 48-key partial-aggregable groupBy whose TIME
    arithmetic is per-row codegen riding the scan — constant-width
    shuffle regardless of corpus size."""
    _enable_time_type(spark)
    e = Tables(spark, sf_dir).events
    base = (
        e.where(F.col("ts").isNotNull())
        .select("user_id", "value", F.expr(_TOD).alias("tod"))
        .withColumn(
            "band",
            F.expr(
                "time_diff('MINUTE', make_time(0, 0, 0.0),"
                " time_trunc('MINUTE', tod)) div 30"
            ),
        )
        .withColumn(
            "band_start",
            F.expr(
                "cast(make_time(cast(band div 2 as int),"
                " cast(band % 2 * 30 as int), 0.0) as string)"
            ),
        )
    )
    return base.groupBy("band", "band_start").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        stable_rounded_sum("value", 2).alias("value_sum"),
    )


# ---------------------------------------------------------------------------
# fn_width_bucket_binning — equi-width histogram bucketing
# ---------------------------------------------------------------------------

_WB_SQL = """
CASE WHEN {v} IS NULL OR NOT isfinite({v}) THEN NULL
     WHEN {v} < 0 THEN 0
     WHEN {v} >= 65536 THEN 17
     ELSE CAST(floor({v} / 4096.0) AS BIGINT) + 1 END
"""


@register(
    "fn_width_bucket_binning",
    oracle=f"""
SELECT {_WB_SQL.format(v="l_extendedprice")} AS wb_price,
       {_WB_SQL.format(v="(l_extendedprice - 51000.0)")} AS wb_margin,
       count(*) AS n,
       {stable_rounded_sum_sql("l_extendedprice", 2)} AS price_sum
FROM lineitem
GROUP BY 1, 2
""",
)
def fn_width_bucket_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """width_bucket(v, lo, hi, n) — the SQL-standard equi-width
    histogram: 16 buckets over [0, 65536) so the bucket width (4096) is
    a power of two and the boundary arithmetic (v/4096) is EXACT in
    double regardless of how either engine associates the
    (v-lo)·n/(hi-lo) computation — no boundary-flip surface. The price
    column exercises the over-range edge (prices above 65536 → bucket
    n+1 = 17); the shifted margin column the under-range edge (negative
    → bucket 0); NULLs bucket to NULL and group together on both
    engines. Non-finite inputs (extremes tier) are pinned to the NULL
    bucket on BOTH sides rather than putting Spark's NaN-bucket choice
    on trial — the policy a production binning pipeline wants anyway.
    Single partial-aggregable groupBy over ≤ 18×18 bucket pairs."""
    from ai_dataingestion_spark.functions.portable import finite

    li = Tables(spark, sf_dir).lineitem
    price = F.when(finite("l_extendedprice"), F.col("l_extendedprice"))
    margin = price - 51000.0
    return (
        li.select(
            F.expr(
                "CASE WHEN isnotnull(l_extendedprice)"
                " AND NOT isnan(l_extendedprice)"
                " AND abs(l_extendedprice) != double('inf')"
                " THEN width_bucket(l_extendedprice, 0.0d, 65536.0d, 16)"
                " END"
            ).alias("wb_price"),
            F.when(
                margin.isNotNull(),
                F.expr(
                    "width_bucket(l_extendedprice - 51000.0d,"
                    " 0.0d, 65536.0d, 16)"
                ),
            ).alias("wb_margin"),
            "l_extendedprice",
        )
        .groupBy("wb_price", "wb_margin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            stable_rounded_sum("l_extendedprice", 2).alias("price_sum"),
        )
    )


# ---------------------------------------------------------------------------
# fn_string_pick_family — elt / find_in_set / equal_null / getbit
# ---------------------------------------------------------------------------


@register(
    "fn_string_pick_family",
    oracle="""
WITH base AS (
  SELECT CASE WHEN p_brand IS NULL THEN NULL
              ELSE coalesce(list_position(string_split(
                     'Brand#11,Brand#12,Brand#13,Brand#14', ','),
                     p_brand), 0) END AS fis,
         (nullif(p_type, 'PROMO')
            IS NOT DISTINCT FROM nullif(p_type, 'ECONOMY')) AS eqn,
         CAST((p_partkey >> 2) & 1 AS INTEGER) AS gb,
         list_value(p_name, p_brand, p_type)
           [CAST((p_partkey % 3 + 3) % 3 + 1 AS INTEGER)] AS pick
  FROM part
)
SELECT CAST(fis AS INTEGER) AS fis, eqn, gb,
       count(*) AS n,
       CAST(count(DISTINCT pick) AS BIGINT) AS n_picks,
       min(pick) AS first_pick
FROM base GROUP BY 1, 2, 3
""",
)
def fn_string_pick_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The string/bit pick family Spark keeps for MySQL-style pipelines:
    elt(i, ...) 1-based selection (index kept in [1,3] via pmod — under
    ANSI mode an out-of-range index is a runtime ERROR, and negative
    partkeys on the extremes tier would otherwise produce one; a NULL
    index yields NULL, not an error — measured), find_in_set against a
    brand CSV (miss → 0, NULL → NULL), equal_null's NULL-equates-
    NULL comparison (≡ IS NOT DISTINCT FROM) over nullif-derived
    operands so all three truth branches occur, and getbit's
    little-endian bit extraction (≡ arithmetic shift-and-mask, sign-
    consistent for negative keys on both engines). Grouped on the three
    derived dimensions — ≤ 5×2×2 groups, one partial-aggregable
    shuffle."""
    p = Tables(spark, sf_dir).part
    idx = (F.expr("(p_partkey % 3 + 3) % 3") + 1).cast("int")
    base = p.select(
        F.expr(
            "find_in_set(p_brand, 'Brand#11,Brand#12,Brand#13,Brand#14')"
        ).alias("fis"),
        F.expr(
            "equal_null(nullif(p_type, 'PROMO'), nullif(p_type, 'ECONOMY'))"
        ).alias("eqn"),
        F.expr("cast(getbit(p_partkey, 2) as int)").alias("gb"),
        F.elt(idx, "p_name", "p_brand", "p_type").alias("pick"),
    )
    return base.groupBy("fis", "eqn", "gb").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("pick").alias("n_picks"),
        F.min("pick").alias("first_pick"),
    )


# ---------------------------------------------------------------------------
# fn_try_datetime_make — try_make_timestamp / try_make_interval
# ---------------------------------------------------------------------------


@register(
    "fn_try_datetime_make",
    oracle="""
WITH base AS (
  SELECT CAST(strftime(o_orderdate, '%m') AS INTEGER) AS mo,
         CASE WHEN CAST(strftime(o_orderdate, '%d') AS INTEGER) + 28
                   <= CAST(strftime(last_day(o_orderdate), '%d') AS INTEGER)
              THEN make_timestamp(
                     CAST(strftime(o_orderdate, '%Y') AS INTEGER),
                     CAST(strftime(o_orderdate, '%m') AS INTEGER),
                     CAST(strftime(o_orderdate, '%d') AS INTEGER) + 28,
                     CAST((o_orderkey % 24 + 24) % 24 AS INTEGER),
                     CAST((o_custkey % 60 + 60) % 60 AS INTEGER),
                     CAST((o_orderkey % 60 + 60) % 60 AS DOUBLE) + 0.25)
              END AS ts1,
         CASE WHEN (o_orderkey % 97 + 97) % 97 <> 0
              THEN TIMESTAMP '2024-01-01 00:00:00'
                   + to_days(CAST((o_custkey % 40 + 40) % 40 AS INTEGER))
                   + to_hours(CAST((o_orderkey % 24 + 24) % 24 AS INTEGER))
                   + to_milliseconds(500)
              END AS shifted
  FROM orders
)
SELECT mo,
       count(*) AS n,
       CAST(count(ts1) AS BIGINT) AS n_valid,
       CAST(min(ts1) AS VARCHAR) AS min_ts,
       CAST(max(ts1) AS VARCHAR) AS max_ts,
       CAST(count(shifted) AS BIGINT) AS n_shifted,
       CAST(min(shifted) AS VARCHAR) AS min_shifted
FROM base GROUP BY mo
""",
)
def fn_try_datetime_make(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The try_* datetime constructors: try_make_timestamp over order-date
    components with the day pushed +28 — valid only when it stays inside
    the month, so roughly day≤3 survives and every other row pins the
    NULL-not-error contract (the oracle derives validity from last_day —
    definitional, not a dialect twin). try_make_interval builds a
    day-time interval (days/hours/0.5 s) added to a fixed anchor, with
    every 97th order requesting an INT_MAX-month interval that
    overflows to NULL on Spark while the oracle's CASE drops the same
    rows by construction. Timestamp emissions go through the string cast
    (both engines trim trailing fraction zeros identically) and the
    fractional seconds (.25/.5) are exact binary fractions — no
    formatting or rounding surface. Grouped by order month: 12 groups,
    one partial-aggregable shuffle; the constructors are per-row codegen
    riding the scan."""
    o = Tables(spark, sf_dir).orders
    base = o.select(
        F.month("o_orderdate").alias("mo"),
        F.expr(
            "try_make_timestamp(year(o_orderdate), month(o_orderdate),"
            " day(o_orderdate) + 28,"
            " cast((o_orderkey % 24 + 24) % 24 as int),"
            " cast((o_custkey % 60 + 60) % 60 as int),"
            " cast((o_orderkey % 60 + 60) % 60 as double) + 0.25d)"
        ).alias("ts1"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.expr(
                "CASE WHEN (o_orderkey % 97 + 97) % 97 = 0"
                " THEN try_make_interval(2147483647, 0, 0, 0, 0, 0, 0)"
                " ELSE try_make_interval(0, 0, 0,"
                "   cast((o_custkey % 40 + 40) % 40 as int),"
                "   cast((o_orderkey % 24 + 24) % 24 as int), 0, 0.5d)"
                " END"
            )
        ).alias("shifted"),
    )
    return base.groupBy("mo").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("ts1").alias("n_valid"),
        F.min("ts1").cast("string").alias("min_ts"),
        F.max("ts1").cast("string").alias("max_ts"),
        F.count("shifted").alias("n_shifted"),
        F.min("shifted").cast("string").alias("min_shifted"),
    )


# ---------------------------------------------------------------------------
# fn_json_array_introspect — json_array_length over built + object JSON
# ---------------------------------------------------------------------------


@register(
    "fn_json_array_introspect",
    oracle="""
WITH base AS (
  SELECT event_type, props,
         CASE WHEN event_id IS NULL THEN NULL
              WHEN (event_id % 7 + 7) % 7 = 0 THEN NULL
              ELSE (event_id % 4 + 4) % 4 END AS expect_len
  FROM events
)
SELECT event_type,
       count(*) AS n,
       CAST(count(expect_len) AS BIGINT) AS n_arrays,
       coalesce(CAST(sum(expect_len) AS BIGINT), 0) AS total_elems,
       CAST(count(CASE WHEN props IS NOT NULL
                        AND NOT coalesce(
                              CASE WHEN json_valid(props)
                                   THEN json_type(props) = 'ARRAY' END,
                              FALSE)
                  THEN 1 END) AS BIGINT) AS n_props_nonarray
FROM base GROUP BY event_type
""",
)
def fn_json_array_introspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_array_length, pinned on all four contract branches with a
    definitional oracle (ground truth by construction, no DuckDB JSON
    dialect on trial): per event, a JSON int array of length
    event_id%4 is synthesized (length 0 exercises '[]' → 0), every 7th
    event's array loses its closing bracket (malformed → NULL, not an
    error), the props column is a JSON OBJECT (non-array valid JSON →
    NULL — counted to prove it), and NULL input → NULL. Per event type:
    parseable-array count and total element count. The JSON functions
    are per-row codegen; one partial-aggregable groupBy over the
    event-type dimension."""
    e = Tables(spark, sf_dir).events
    full = F.concat(
        F.lit("["),
        F.array_join(
            F.array_repeat(
                F.coalesce(F.col("user_id"), F.lit(0)).cast("string"),
                F.expr("cast((event_id % 4 + 4) % 4 as int)"),
            ),
            ",",
        ),
        F.lit("]"),
    )
    arr = F.when(
        F.col("event_id") % 7 == 0,
        F.expr(
            "substring(concat('[', array_join(array_repeat("
            " cast(coalesce(user_id, 0) as string),"
            " cast((event_id % 4 + 4) % 4 as int)), ','), ']'),"
            " 1, length(concat('[', array_join(array_repeat("
            " cast(coalesce(user_id, 0) as string),"
            " cast((event_id % 4 + 4) % 4 as int)), ','), ']')) - 1)"
        ),
    ).otherwise(full)
    base = e.select(
        "event_type",
        "props",
        F.json_array_length(arr).alias("jal"),
        F.json_array_length("props").alias("jobj"),
    )
    return base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("jal").alias("n_arrays"),
        F.coalesce(F.sum("jal").cast("bigint"), F.lit(0)).alias(
            "total_elems"
        ),
        F.count(
            F.when(F.col("props").isNotNull() & F.col("jobj").isNull(), 1)
        ).alias("n_props_nonarray"),
    )


# ---------------------------------------------------------------------------
# fn_aes_roundtrip_property — aes_encrypt / try_aes_decrypt
# ---------------------------------------------------------------------------

_AES_KEY = "0123456789abcdef"  # 16-byte demo key (AES-128)
_AES_WRONG = "ffffffffffffffff"


@register(
    "fn_aes_roundtrip_property",
    oracle="""
SELECT c_mktsegment,
       CAST(count(c_name) AS BIGINT) AS n_names,
       CAST(count(c_name) AS BIGINT) AS n_ecb_roundtrip,
       coalesce(CAST(sum((octet_length(encode(c_name)) // 16 + 1) * 16)
                     AS BIGINT), 0) AS ecb_cipher_bytes,
       CAST(count(c_name) AS BIGINT) AS n_gcm_roundtrip,
       CAST(count(c_name) AS BIGINT) AS n_gcm_wrongkey_null
FROM customer
GROUP BY c_mktsegment
""",
)
def fn_aes_roundtrip_property(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aes_encrypt / try_aes_decrypt as oracle-checkable PROPERTIES (the
    oracle cannot run AES; it states the identities the ciphertext must
    satisfy, all definitional): (1) ECB decrypt∘encrypt ≡ identity for
    every non-NULL name; (2) ECB ciphertext length is exactly PKCS#5 —
    (⌊bytes/16⌋+1)·16, byte-counted so unicode-tier names are covered
    (Spark octet_length ≡ DuckDB octet_length(encode(·))); (3) GCM
    roundtrips despite its random IV (the IV rides the ciphertext);
    (4) GCM with the wrong key ALWAYS fails its auth tag → NULL — the
    deterministic wrong-key pin ECB cannot give (wrong-key ECB padding
    validates by accident ~1/256 of the time, so it is deliberately NOT
    emitted). NULL names encrypt to NULL and fall out of every count on
    both sides. Per-segment rollup: one partial-aggregable shuffle; the
    crypto is per-row JVM codegen riding the scan."""
    c = Tables(spark, sf_dir).customer
    k, w = F.lit(_AES_KEY), F.lit(_AES_WRONG)
    ecb = F.aes_encrypt("c_name", k, F.lit("ECB"))
    gcm = F.aes_encrypt("c_name", k, F.lit("GCM"))
    base = c.select(
        "c_mktsegment",
        "c_name",
        F.length(ecb).alias("ecb_len"),
        F.try_aes_decrypt(ecb, k, F.lit("ECB")).cast("string").alias("d_ecb"),
        F.try_aes_decrypt(gcm, k, F.lit("GCM")).cast("string").alias("d_gcm"),
        F.try_aes_decrypt(gcm, w, F.lit("GCM")).alias("d_wrong"),
    )
    return base.groupBy("c_mktsegment").agg(
        F.count("c_name").alias("n_names"),
        F.count(F.when(F.col("d_ecb") == F.col("c_name"), 1)).alias(
            "n_ecb_roundtrip"
        ),
        F.coalesce(F.sum("ecb_len").cast("bigint"), F.lit(0)).alias(
            "ecb_cipher_bytes"
        ),
        F.count(F.when(F.col("d_gcm") == F.col("c_name"), 1)).alias(
            "n_gcm_roundtrip"
        ),
        F.count(
            F.when(F.col("c_name").isNotNull() & F.col("d_wrong").isNull(), 1)
        ).alias("n_gcm_wrongkey_null"),
    )


# ---------------------------------------------------------------------------
# text_shingle_df_cap_loss — the DF-cap recall boundary, measured in-band
# ---------------------------------------------------------------------------

_FACTORS = (1, 2, 5, 10, 25, 50)


@register(
    "text_shingle_df_cap_loss",
    oracle=f"""
WITH shingled AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 1, 2)),
           i -> array_to_string(list_slice(toks, i, i + 2), ' ')
         )) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
inst AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS sh FROM shingled),
df AS MATERIALIZED (SELECT sh, count(*) AS d FROM inst GROUP BY sh),
spectrum AS MATERIALIZED (SELECT d, count(*) AS n_sh FROM df GROUP BY d),
per_doc AS (
  SELECT i.doc_id, min(f.d) AS min_df FROM inst i JOIN df f USING (sh)
  GROUP BY i.doc_id
),
mind AS MATERIALIZED (
  SELECT min_df AS d, count(*) AS n_docs FROM per_doc GROUP BY min_df
),
factors AS (SELECT unnest([{", ".join(str(f) for f in _FACTORS)}]) AS k),
sh_curve AS (
  SELECT f.k,
         sum(s.n_sh) AS n_shingles,
         sum(CASE WHEN s.d * f.k > {RARE_SHINGLE_CAP} THEN s.n_sh ELSE 0 END) AS n_capped,
         sum(s.d * s.n_sh) AS inst_total,
         sum(CASE WHEN s.d * f.k > {RARE_SHINGLE_CAP} THEN s.d * s.n_sh ELSE 0 END)
           AS inst_capped
  FROM factors f CROSS JOIN spectrum s GROUP BY f.k
),
doc_curve AS (
  SELECT f.k,
         sum(m.n_docs) AS n_docs,
         sum(CASE WHEN m.d * f.k > {RARE_SHINGLE_CAP} THEN m.n_docs ELSE 0 END)
           AS n_docs_blind
  FROM factors f CROSS JOIN mind m GROUP BY f.k
)
SELECT CAST(s.k AS BIGINT) AS dup_factor,
       CAST(s.n_shingles AS BIGINT) AS n_shingles,
       CAST(s.n_capped AS BIGINT) AS n_capped,
       round(CAST(s.n_capped AS DOUBLE) / CAST(s.n_shingles AS DOUBLE), 6)
         AS capped_frac,
       CAST(s.inst_total AS BIGINT) AS inst_total,
       CAST(s.inst_capped AS BIGINT) AS inst_capped,
       round(CAST(s.inst_capped AS DOUBLE) / CAST(s.inst_total AS DOUBLE), 6)
         AS inst_loss_frac,
       CAST(d.n_docs AS BIGINT) AS n_docs,
       CAST(d.n_docs_blind AS BIGINT) AS n_docs_blind,
       round(CAST(d.n_docs_blind AS DOUBLE) / CAST(d.n_docs AS DOUBLE), 6)
         AS docs_blind_frac
FROM sh_curve s JOIN doc_curve d USING (k)
""",
)
def text_shingle_df_cap_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DF-cap recall boundary of the rare-shingle near-dup index
    (ai/dedup.py: dedup_ngram_jaccard / text_containment_pairs), measured
    in-band instead of discovered at scale (VERDICT-r15 item 3): under
    uniform ×k corpus duplication every shingle's document frequency
    multiplies by exactly k, so the loss the DF≤50 cap would inflict on
    a ×k-duplicated corpus is computable from THIS corpus's DF spectrum —
    no ×k corpus is materialized. Per duplication factor k ∈ {1,2,5,10,
    25,50}: the fraction of the shingle vocabulary the cap discards
    (capped_frac), the fraction of doc-shingle candidate mass lost
    (inst_loss_frac), and the fraction of documents left with NO indexed
    shingle at all (docs_blind_frac — those documents are invisible to
    the near-dup pass and MUST be caught by the staged exact-dedup stage
    in front, the dedup_removal_plan contract). The curve's shape is the
    deploy gate: docs_blind_frac ≈ 1 at k=10 reproduces the sfx1.0
    finding. Everything reduces to the DF spectrum and the per-doc
    min-DF spectrum — two bounded relations crossed with a 6-row factor
    table — so the op costs one shingle pass + two small aggregations at
    any corpus size; fractions are single divisions of exact integer
    counts (no float-sum surface; the denominators are > 0 whenever a
    row exists — a shingle-free corpus emits ZERO rows on both engines,
    never a 0/0)."""
    docs = shingle_sets(
        Tables(spark, sf_dir).documents.select("doc_id", "text")
    )
    inst = docs.select("doc_id", F.explode("shingles").alias("sh"))
    # op_cache: df feeds BOTH the spectrum aggregate and the per-doc
    # min-DF join — uncached, the whole inst→groupBy(sh) shuffle runs
    # twice (measured: 11 exchanges, two full sh-partitioned passes)
    df = (
        inst.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(op_cache)
    )
    spectrum = df.groupBy("d").agg(F.count(F.lit(1)).alias("n_sh"))
    per_doc = (
        inst.join(df, "sh").groupBy("doc_id").agg(F.min("d").alias("min_df"))
    )
    mind = per_doc.groupBy(F.col("min_df").alias("d")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    factors = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _FACTORS])).alias("k")
    )

    def _curve(rel: DataFrame, weights: dict[str, tuple]) -> DataFrame:
        """Cross the (tiny) spectrum relation with the 6-row factor table
        and sum each weight total + its capped share per factor."""
        joined = factors.crossJoin(rel)
        aggs = []
        for total_name, (weight, capped_name) in weights.items():
            capped = F.when(
                F.col("d") * F.col("k") > RARE_SHINGLE_CAP, weight
            ).otherwise(F.lit(0))
            aggs.append(F.sum(weight).cast("bigint").alias(total_name))
            aggs.append(F.sum(capped).cast("bigint").alias(capped_name))
        return joined.groupBy("k").agg(*aggs)

    def _frac(capped_name: str, total_name: str):
        return F.round(
            F.col(capped_name).cast("double")
            / F.col(total_name).cast("double"),
            6,
        )

    sh_curve = _curve(
        spectrum,
        {
            "n_shingles": (F.col("n_sh"), "n_capped"),
            "inst_total": (F.col("d") * F.col("n_sh"), "inst_capped"),
        },
    )
    doc_curve = _curve(mind, {"n_docs": (F.col("n_docs"), "n_docs_blind")})
    # factor-table joins: 6 rows a side; denominators > 0 on every
    # emitted row (an empty spectrum crosses to zero rows, not to 0/0)
    return (
        sh_curve.join(doc_curve, "k")
        .select(
            F.col("k").cast("bigint").alias("dup_factor"),
            "n_shingles",
            "n_capped",
            _frac("n_capped", "n_shingles").alias("capped_frac"),
            "inst_total",
            "inst_capped",
            _frac("inst_capped", "inst_total").alias("inst_loss_frac"),
            "n_docs",
            "n_docs_blind",
            _frac("n_docs_blind", "n_docs").alias("docs_blind_frac"),
        )
    )
