"""§2.Y round-13 fourth block: SQL-defined functions (SPARK-46057 /
SPARK-51086 — CREATE FUNCTION … RETURNS <type> / RETURNS TABLE).

SQL UDFs are the anti-UDF: the body is declarative SQL, so Catalyst
INLINES it at analysis time — a scalar SQL UDF becomes an ordinary
expression tree (constant-foldable, pushdown-eligible, codegen'd) and a
table-valued SQL UDF becomes a parameterized subquery that joins/prunes
like any view. None of the §2.J Python-UDF costs apply: no Python worker,
no Arrow crossing, no serialization boundary — the plan after resolution
is byte-identical to the hand-inlined query, which is what the oracles
here pin (the DuckDB oracle IS the hand-inlined form, and the plan tests
assert no EvalPython node ever appears).

That inlining is the 100-TB story: a library of SQL UDFs gives a team
reusable business logic (discounted price, banding rules, per-key lookup
TVFs) with ZERO runtime tax at any scale — the engine sees through the
abstraction completely. Function names are engine-prefixed (graft_*) so
session-level registration never collides with user temp objects.
"""

from __future__ import annotations

from ai_dataingestion_spark.catalog import register_sql


# ---------------------------------------------------------------------------
# sql_udf_scalar_inline — scalar SQL UDF inlined into a pricing aggregate
# ---------------------------------------------------------------------------

register_sql(
    "sql_udf_scalar_inline",
    spark_sql=(
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(
             p DOUBLE, d DOUBLE) RETURNS DOUBLE RETURN p * (1 - d)""",
        """
SELECT l_returnflag AS flag, count(*) AS n,
       coalesce(CAST(round(sum(graft_disc_price(l_extendedprice, l_discount))
                           * 100) AS BIGINT), 0) AS disc_rev_cents
FROM lineitem
GROUP BY l_returnflag
""",
    ),
    oracle="""
SELECT l_returnflag AS flag, count(*) AS n,
       coalesce(CAST(round(sum(l_extendedprice * (1 - l_discount))
                           * 100) AS BIGINT), 0) AS disc_rev_cents
FROM lineitem
GROUP BY l_returnflag
""",
    doc="""Scalar SQL UDF (discounted price) inside a grouped SUM: Catalyst
    inlines the body at analysis time, so the aggregate input is a plain
    arithmetic expression — partial-aggregable, codegen'd, no Python
    anywhere (plan-pinned). The oracle is the HAND-INLINED statement: green
    means the abstraction is free. NULL price/discount rows produce NULL
    expression values that SUM skips on both engines; money crosses as
    integer cents (§5.4).""",
)


# ---------------------------------------------------------------------------
# sql_udf_table_parameterized — TVF with a threshold parameter
# ---------------------------------------------------------------------------

register_sql(
    "sql_udf_table_parameterized",
    spark_sql=(
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_big_orders(
             threshold DOUBLE)
           RETURNS TABLE(o_orderkey BIGINT, o_custkey BIGINT,
                         o_totalprice DOUBLE)
           RETURN SELECT o_orderkey, o_custkey, o_totalprice
                  FROM orders WHERE o_totalprice > threshold""",
        """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
FROM graft_big_orders(300000.0)
""",
    ),
    oracle="""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
FROM orders WHERE o_totalprice > 300000.0
""",
    doc="""Table-valued SQL UDF with a value parameter: the function body
    resolves to a parameterized subquery over orders, so the threshold
    predicate lands in the scan as a pushed filter exactly as the inline
    WHERE would (a TVF wrapper must never cost a full materialization).
    This is the reusable 'curated slice' pattern — the library function IS
    the governance boundary, and it stays pushdown-transparent at 100 TB.""",
)


# ---------------------------------------------------------------------------
# sql_udf_lateral_correlated — TVF lateral-joined with a per-row argument
# ---------------------------------------------------------------------------

register_sql(
    "sql_udf_lateral_correlated",
    spark_sql=(
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_nations_of(rk INT)
           RETURNS TABLE(n_nationkey INT, n_name STRING)
           RETURN SELECT n_nationkey, n_name FROM nation
                  WHERE n_regionkey = rk""",
        """
SELECT r.r_name AS region_name,
       CAST(count(*) AS BIGINT) AS n_nations,
       min(n.n_name) AS first_nation
FROM region r, LATERAL graft_nations_of(r.r_regionkey) n
GROUP BY r.r_name
""",
    ),
    oracle="""
SELECT r.r_name AS region_name,
       CAST(count(*) AS BIGINT) AS n_nations,
       min(n.n_name) AS first_nation
FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
    doc="""SQL TVF called with a CORRELATED per-row argument (LATERAL
    graft_nations_of(r.r_regionkey)): Catalyst de-correlates the lateral
    subquery into the equi-join the oracle spells directly — the function
    boundary must not force a nested-loop per region. Regions whose key
    matches no nation drop on both sides (inner lateral == inner join),
    and the NULL region name survives as its own group (nulls tier).""",
)


# ---------------------------------------------------------------------------
# sql_udf_default_composed — DEFAULT parameters + UDF-composes-UDF
# ---------------------------------------------------------------------------

register_sql(
    "sql_udf_default_composed",
    spark_sql=(
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_uplift(
             x DOUBLE, pct DOUBLE DEFAULT 0.05)
           RETURNS DOUBLE RETURN x * (1 + pct)""",
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_price_band(x DOUBLE)
           RETURNS STRING
           RETURN CASE WHEN x IS NULL THEN 'unknown'
                       WHEN x < 50000 THEN 'lo'
                       WHEN x < 200000 THEN 'mid'
                       ELSE 'hi' END""",
        """
SELECT graft_price_band(graft_uplift(o_totalprice)) AS band_default,
       graft_price_band(graft_uplift(o_totalprice, 0.5)) AS band_boosted,
       count(*) AS n
FROM orders
GROUP BY graft_price_band(graft_uplift(o_totalprice)),
         graft_price_band(graft_uplift(o_totalprice, 0.5))
""",
    ),
    oracle="""
WITH b AS (
  SELECT CASE WHEN o_totalprice IS NULL THEN 'unknown'
              WHEN o_totalprice * 1.05 < 50000 THEN 'lo'
              WHEN o_totalprice * 1.05 < 200000 THEN 'mid'
              ELSE 'hi' END AS band_default,
         CASE WHEN o_totalprice IS NULL THEN 'unknown'
              WHEN o_totalprice * 1.5 < 50000 THEN 'lo'
              WHEN o_totalprice * 1.5 < 200000 THEN 'mid'
              ELSE 'hi' END AS band_boosted
  FROM orders
)
SELECT band_default, band_boosted, count(*) AS n
FROM b GROUP BY band_default, band_boosted
""",
    doc="""DEFAULT parameters and composition: graft_price_band(
    graft_uplift(x)) uses the declared default pct while the boosted column
    overrides it positionally — both call sites inline to closed-form CASE
    arithmetic the oracle spells out (multiplication by 1.05/1.5 is
    bit-identical across engines, so the band edges are exact). Composed
    SQL UDFs nest at ANALYSIS time: the group-by keys are plain
    expressions, one partial-aggregable hash aggregate, no function-call
    runtime at any scale. NULL prices band as 'unknown' on both engines.""",
)
