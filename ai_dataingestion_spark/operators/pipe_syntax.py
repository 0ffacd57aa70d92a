"""§2.S round-12 block: Spark 4 SQL pipe-syntax surface (SPARK-49555).

The ``|>`` pipe operators are the analyst migration path onto Spark 4: each
relational step (WHERE / EXTEND / SET / DROP / SELECT / JOIN / AGGREGATE /
ORDER BY / LIMIT / set ops / PIVOT / UNPIVOT) is written in dataflow order
instead of inside-out SQL nesting. Catalyst resolves pipe operators at parse
time into the SAME logical plan as the classic statement — there is no new
execution surface — so the correctness contract here is twofold:

1. **Value parity** with a classic-SQL DuckDB oracle (the standard driver
   hash check; DuckDB has no pipe syntax, so the oracle is the equivalent
   classic statement).
2. **Plan equality** with the classic Spark statement: every operator in
   this module exposes its classic twin in ``PIPE_CLASSIC_PAIRS`` and
   tests/test_plans.py asserts ``spark.sql(pipe).sameSemantics(
   spark.sql(classic))`` — the pipe form must produce the canonically
   identical plan, not merely the same rows. That is the property that
   makes the migration path safe at 100 TB: a pipe rewrite can never
   de-optimize a query (pushdowns, partial aggs, WindowGroupLimit all
   survive because the plan is literally the same).

Scale notes are per-operator; every shape below reuses a plan family an
existing classic operator already pinned (Q1 partial agg, broadcast star
join, WindowGroupLimit top-k), so the 100-TB posture is inherited, and the
plan-equality pins prove it rather than assert it.
"""

from __future__ import annotations

from ai_dataingestion_spark.catalog import register_sql

# name -> (pipe-form Spark SQL, classic-form SPARK SQL twin). The twin is
# the plan-equality anchor (tests/test_plans.py asserts sameSemantics); for
# most operators it doubles as the DuckDB oracle because it is written in
# the shared dialect — operators where the dialects diverge (UNPIVOT) pass
# a separate `oracle`.
PIPE_CLASSIC_PAIRS: dict[str, tuple[str, str]] = {}


def _pipe_op(name: str, pipe_sql: str, classic_sql: str, doc: str,
             oracle: str | None = None):
    """Register a pipe-syntax operator: Spark runs the PIPE form, the DuckDB
    oracle runs `oracle` (default: the classic twin), and the
    (pipe, classic-Spark) pair is exported for the plan-equality pin."""
    PIPE_CLASSIC_PAIRS[name] = (pipe_sql, classic_sql)
    return register_sql(name, pipe_sql, oracle or classic_sql, doc)


# ---------------------------------------------------------------------------
# sql_pipe_agg_pricing — pipe-form TPC-H Q1 (AGGREGATE ... GROUP BY)
# ---------------------------------------------------------------------------

_Q1_BODY = """
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2)                                        AS sum_qty,
  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(38,6))), 2) AS DOUBLE)            AS sum_disc_price,
  round(avg(l_quantity), 4)                                        AS avg_qty,
  round(avg(l_discount), 6)                                        AS avg_disc,
  count(*)                                                         AS count_order
"""

_pipe_op(
    "sql_pipe_agg_pricing",
    pipe_sql=f"""
FROM lineitem
|> WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
|> AGGREGATE
  round(sum(l_quantity), 2)                                        AS sum_qty,
  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(38,6))), 2) AS DOUBLE)            AS sum_disc_price,
  round(avg(l_quantity), 4)                                        AS avg_qty,
  round(avg(l_discount), 6)                                        AS avg_disc,
  count(*)                                                         AS count_order
  GROUP BY l_returnflag, l_linestatus
|> ORDER BY l_returnflag, l_linestatus
""",
    classic_sql=f"""
SELECT
{_Q1_BODY}
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    doc="""Pipe-form TPC-H Q1 pricing summary: `FROM lineitem |> WHERE |>
    AGGREGATE ... GROUP BY |> ORDER BY`. AGGREGATE emits grouping keys
    first then aggregates — the same projection as the classic GROUP BY
    statement, and the plan-equality pin proves the shipdate predicate
    still reaches the parquet scan and the aggregate still runs
    partial/final (6 groups wide => ~6 rows shuffle per task at any
    scale). Decimal-cast sums + fixed rounding per the §5.4 float
    discipline.""",
)


# ---------------------------------------------------------------------------
# sql_pipe_chain_orders — WHERE/EXTEND/SET/DROP/SELECT/ORDER/LIMIT chain
# ---------------------------------------------------------------------------

_pipe_op(
    "sql_pipe_chain_orders",
    pipe_sql="""
FROM orders
|> WHERE o_orderstatus = 'F'
|> EXTEND year(o_orderdate) AS oyear
|> SET o_totalprice = round(o_totalprice / 1000, 3)
|> DROP o_orderpriority
|> SELECT o_orderkey, o_custkey, oyear, o_totalprice AS price_k
|> ORDER BY price_k DESC, o_orderkey
|> LIMIT 100
""",
    classic_sql="""
SELECT o_orderkey, o_custkey, year(o_orderdate) AS oyear,
       round(o_totalprice / 1000, 3) AS price_k
FROM orders
WHERE o_orderstatus = 'F'
ORDER BY price_k DESC, o_orderkey
LIMIT 100
""",
    doc="""The canonical analyst chain in dataflow order: filter -> derive
    (EXTEND) -> mutate in place (SET) -> drop -> project/rename -> top-100.
    EXTEND/SET/DROP collapse into one Project at analysis time — the
    plan-equality pin shows the chain costs nothing vs the hand-fused
    classic SELECT, and the ORDER+LIMIT pair still compiles to
    TakeOrderedAndProject (no global sort at 100 TB). o_orderkey tiebreak
    keeps the top-100 deterministic.""",
)


# ---------------------------------------------------------------------------
# sql_pipe_join_agg — pipe JOIN chain + AGGREGATE
# ---------------------------------------------------------------------------

_pipe_op(
    "sql_pipe_join_agg",
    pipe_sql="""
FROM orders
|> JOIN customer ON o_custkey = c_custkey
|> JOIN nation ON c_nationkey = n_nationkey
|> AGGREGATE
     CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
       AS revenue,
     count(*) AS n_orders
   GROUP BY n_name
|> ORDER BY n_name
""",
    classic_sql="""
SELECT n_name,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
""",
    doc="""Pipe-form star join + rollup: orders |> JOIN customer |> JOIN
    nation |> AGGREGATE revenue per nation. The pipe JOIN steps feed
    Catalyst the identical join tree as the classic FROM-list, so the
    broadcast decisions (nation always, customer under the threshold at
    test SF; shuffle-hash beyond it) are unchanged — pinned by plan
    equality rather than re-asserted. 25 output groups => trivially small
    final shuffle at any corpus size.""",
)


# ---------------------------------------------------------------------------
# sql_pipe_window_topk — EXTEND with a window function + rank filter
# ---------------------------------------------------------------------------

_pipe_op(
    "sql_pipe_window_topk",
    pipe_sql="""
FROM lineitem
|> EXTEND row_number() OVER (
     PARTITION BY l_returnflag
     ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
|> WHERE rk <= 5
|> SELECT l_returnflag, rk, l_orderkey, l_linenumber, l_extendedprice
|> ORDER BY l_returnflag, rk
""",
    classic_sql="""
SELECT l_returnflag, rk, l_orderkey, l_linenumber, l_extendedprice
FROM (
  -- select-list in table-column order (orderkey, linenumber, price, flag):
  -- EXTEND preserves the scan order, so the twin must too for the
  -- canonicalized column-pruning Project to align exprIds
  SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag,
         row_number() OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
  FROM lineitem
) ranked
WHERE rk <= 5
ORDER BY l_returnflag, rk
""",
    doc="""Top-5 priciest line items per return flag, pipe form: EXTEND with
    a row_number() window then |> WHERE rk <= 5 — the pipe spelling of the
    QUALIFY idiom. The rank filter over the windowed EXTEND must still
    collapse to WindowGroupLimit (map-side per-partition top-k before the
    window shuffle; pinned directly in tests/test_plans.py in addition to
    plan equality) — the property that makes per-group top-k viable on a
    100 TB fact table. Full (price, orderkey, linenumber) tiebreak keeps
    row_number deterministic.""",
)


# ---------------------------------------------------------------------------
# sql_pipe_set_ops — UNION DISTINCT + INTERSECT DISTINCT pipeline
# ---------------------------------------------------------------------------

_pipe_op(
    "sql_pipe_set_ops",
    pipe_sql="""
FROM customer
|> WHERE c_acctbal > 5000
|> SELECT c_custkey
|> UNION DISTINCT (
     FROM customer
     |> WHERE c_mktsegment = 'BUILDING'
     |> SELECT c_custkey)
|> INTERSECT DISTINCT (
     FROM orders
     |> SELECT o_custkey AS c_custkey)
""",
    classic_sql="""
(SELECT c_custkey FROM customer WHERE c_acctbal > 5000
 UNION
 SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
INTERSECT
SELECT o_custkey AS c_custkey FROM orders
""",
    doc="""Pipe-form set algebra: (high-balance ∪ BUILDING-segment)
    customers ∩ customers who actually ordered. `|> UNION DISTINCT (...)`
    / `|> INTERSECT DISTINCT (...)` take parenthesized pipe subqueries and
    lower to the identical Union/Intersect logical nodes as the classic
    operators (plan-equality pinned), so the distinct-aggregation and the
    left-semi intersect keep their key-partitioned shuffles. Key-only
    projection means the shuffle payload is one long per row regardless of
    customer row width.""",
)


# ---------------------------------------------------------------------------
# sql_pipe_pivot — pipe PIVOT + SET post-processing
# ---------------------------------------------------------------------------

_pipe_op(
    "sql_pipe_pivot",
    pipe_sql="""
FROM orders
|> EXTEND year(o_orderdate) AS oyear
|> SELECT o_orderpriority, oyear, o_totalprice
|> PIVOT (
     sum(CAST(o_totalprice AS DECIMAL(38,6)))
     FOR oyear IN (1992 AS y1992, 1993 AS y1993, 1994 AS y1994))
|> SET y1992 = CAST(round(y1992, 2) AS DOUBLE),
       y1993 = CAST(round(y1993, 2) AS DOUBLE),
       y1994 = CAST(round(y1994, 2) AS DOUBLE)
|> ORDER BY o_orderpriority
""",
    classic_sql="""
SELECT o_orderpriority,
       CAST(round(y1992, 2) AS DOUBLE) AS y1992,
       CAST(round(y1993, 2) AS DOUBLE) AS y1993,
       CAST(round(y1994, 2) AS DOUBLE) AS y1994
FROM (
  SELECT o_orderpriority, year(o_orderdate) AS oyear, o_totalprice
  FROM orders
) w
PIVOT (
  sum(CAST(o_totalprice AS DECIMAL(38,6)))
  FOR oyear IN (1992 AS y1992, 1993 AS y1993, 1994 AS y1994))
ORDER BY o_orderpriority
""",
    oracle="""
SELECT o_orderpriority,
       CAST(round(sum(CASE WHEN year(o_orderdate) = 1992
                           THEN CAST(o_totalprice AS DECIMAL(38,6)) END), 2)
            AS DOUBLE) AS y1992,
       CAST(round(sum(CASE WHEN year(o_orderdate) = 1993
                           THEN CAST(o_totalprice AS DECIMAL(38,6)) END), 2)
            AS DOUBLE) AS y1993,
       CAST(round(sum(CASE WHEN year(o_orderdate) = 1994
                           THEN CAST(o_totalprice AS DECIMAL(38,6)) END), 2)
            AS DOUBLE) AS y1994
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="""Pipe-form PIVOT: priority x order-year revenue matrix, with |>
    SET rounding the pivoted cells to the §5.4 float contract afterwards
    (PIVOT's aggregate slot takes a bare aggregate call, so the
    stabilization lives in a following SET step — itself part of the
    surface under test). Plan twin: the classic PIVOT clause — both lower
    to Spark's two-stage pivotfirst aggregate (group by (priority, year)
    partial, then pivot-collect), which is NOT the CASE-WHEN plan, so the
    twin pins pipe-PIVOT ≡ classic-PIVOT while the DuckDB oracle states
    the value semantics as conditional aggregation. Either plan is one
    scan + key-partitioned aggregates; absent (priority, year) cells are
    NULL on both engines.""",
)


# ---------------------------------------------------------------------------
# sql_pipe_agg_having — WHERE applied to AGGREGATE output (pipe HAVING)
# ---------------------------------------------------------------------------

_pipe_op(
    "sql_pipe_agg_having",
    pipe_sql="""
FROM lineitem
|> AGGREGATE
     count(*) AS n_items,
     CAST(round(sum(CAST(l_quantity AS DECIMAL(38,6))), 2) AS DOUBLE)
       AS total_qty
   GROUP BY l_orderkey
|> WHERE n_items >= 5
|> ORDER BY total_qty DESC, l_orderkey
|> LIMIT 50
""",
    classic_sql="""
SELECT l_orderkey, count(*) AS n_items,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS total_qty
FROM lineitem
GROUP BY l_orderkey
HAVING count(*) >= 5
ORDER BY total_qty DESC, l_orderkey
LIMIT 50
""",
    doc="""The pipe spelling of HAVING: in pipe syntax there is no HAVING
    keyword — a |> WHERE after |> AGGREGATE filters the aggregate output,
    which Catalyst resolves to the identical Filter-over-Aggregate the
    classic HAVING produces (plan-equality pinned; the n_items predicate
    filters post-aggregation, it cannot and does not push below the agg).
    ORDER+LIMIT again compiles to TakeOrderedAndProject; l_orderkey
    tiebreak keeps the top-50 deterministic under total_qty ties.""",
)


# ---------------------------------------------------------------------------
# sql_pipe_unpivot — pipe UNPIVOT (wide -> long)
# ---------------------------------------------------------------------------

_pipe_op(
    "sql_pipe_unpivot",
    pipe_sql="""
FROM customer
|> WHERE c_custkey <= 500
|> SELECT c_custkey,
          CAST(c_acctbal AS DOUBLE) AS bal,
          CAST(c_nationkey AS DOUBLE) AS nat
|> UNPIVOT (metric_value FOR metric IN (bal, nat))
|> ORDER BY c_custkey, metric
""",
    classic_sql="""
SELECT c_custkey, metric, metric_value
FROM (
  SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal,
         CAST(c_nationkey AS DOUBLE) AS nat
  FROM customer WHERE c_custkey <= 500
) w
UNPIVOT (metric_value FOR metric IN (bal, nat))
ORDER BY c_custkey, metric
""",
    oracle="""
SELECT c_custkey, metric, metric_value FROM (
  SELECT c_custkey, 'bal' AS metric, CAST(c_acctbal AS DOUBLE) AS metric_value
  FROM customer WHERE c_custkey <= 500
  UNION ALL
  SELECT c_custkey, 'nat' AS metric, CAST(c_nationkey AS DOUBLE) AS metric_value
  FROM customer WHERE c_custkey <= 500
) u
WHERE metric_value IS NOT NULL
ORDER BY c_custkey, metric
""",
    doc="""Pipe-form UNPIVOT: two per-customer metrics melted to
    (key, metric, value) rows — the wide->long step every feature pipeline
    runs before per-metric aggregation. Plan twin: the classic Spark
    UNPIVOT clause (same Expand lowering, narrow/no-shuffle). Oracle:
    DuckDB's UNPIVOT dialect differs, so the oracle is the stacked-UNION
    spelling with an explicit IS NOT NULL mirroring Spark UNPIVOT's
    default NULL-cell drop (as unpivot_melt pinned). Both metrics pre-cast
    to DOUBLE because UNPIVOT requires one common value type.""",
)


# ---------------------------------------------------------------------------
# sql_pipe_subquery_compose — pipe query as a table subquery + broadcast join
# ---------------------------------------------------------------------------

_pipe_op(
    "sql_pipe_subquery_compose",
    pipe_sql="""
FROM (
  FROM lineitem
  |> AGGREGATE
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(38,6))), 2) AS DOUBLE) AS net_revenue
     GROUP BY l_suppkey
) li
|> JOIN supplier ON li.l_suppkey = supplier.s_suppkey
|> JOIN nation ON supplier.s_nationkey = nation.n_nationkey
|> AGGREGATE
     CAST(round(sum(CAST(net_revenue AS DECIMAL(38,6))), 2) AS DOUBLE)
       AS nation_revenue,
     count(*) AS n_suppliers
   GROUP BY n_name
|> ORDER BY nation_revenue DESC, n_name
""",
    classic_sql="""
SELECT n_name,
       CAST(round(sum(CAST(net_revenue AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS nation_revenue,
       count(*) AS n_suppliers
FROM (
  SELECT l_suppkey,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(38,6))), 2) AS DOUBLE) AS net_revenue
  FROM lineitem
  GROUP BY l_suppkey
) li
JOIN supplier ON li.l_suppkey = supplier.s_suppkey
JOIN nation ON supplier.s_nationkey = nation.n_nationkey
GROUP BY n_name
ORDER BY nation_revenue DESC, n_name
""",
    doc="""Composition contract: a full pipe query nests as an ordinary
    table subquery inside another pipe query (aggregate lineitem to
    per-supplier revenue, then join the 10k-row rollup to supplier/nation
    and re-aggregate). This is the load-bearing property for migration —
    pipe and classic fragments compose freely in one statement tree. The
    inner aggregate shrinks the fact table to supplier cardinality BEFORE
    any join (aggregate-then-join: the 100 TB shape), and the dimension
    joins on the shrunken side broadcast; plan equality pins that the
    nesting adds nothing over the classic derived-table spelling.""",
)
