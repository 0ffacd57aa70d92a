"""§2.AA round-13 sixth block: collation depth (SPARK-46830) — the
UTF8_LCASE comparison surface beyond grouping.

`fn_collation_lcase_group` (§2.R) pinned collated GROUP BY; these three
pin the rest of the places a comparison's collation changes semantics:
equality JOIN keys, filter predicates (=, startswith, contains), and
aggregate DISTINCT. The recurring engine story: collation is a property of
the COMPARISON, never a lower() rewrite of the data — the bytes stay
binary (provable via parallel UTF8_BINARY counts), the collated key
hash-partitions like any other key, and everything stays JVM-side codegen.

Cross-engine discipline (inherited from fn_collation_lcase_group, proven
through the unicode tier): mixed case is SYNTHESIZED deterministically
(key parity picks upper()/lower()) from categorical enum columns, which
the unicode tier keeps ASCII by design — so UTF8_LCASE (Spark's own
simple case folding) and the DuckDB oracle's lower() agree by
construction. Collation-vs-locale edge cases (Turkish İ, final sigma,
sharp-s) are exercised by the unicode tier's text columns in the §2.K
ops; HERE the contract under test is the comparison plumbing, not the
fold table.

At 100 TB: a collated join shuffles on the collation key exactly like a
binary join (one hash exchange per side, broadcast when the dim is
small); a collated filter is an expression (no pre-normalized shadow
column to maintain); collated DISTINCT partial-aggregates like any
distinct.
"""

from __future__ import annotations

from ai_dataingestion_spark.catalog import register_sql

# Deterministic mixed-case segment: even keys upper, odd keys lower —
# the corpus stores segments uniformly upper, so the case variance the
# collation must absorb is synthesized, never assumed.
_MIXED_SEG = """
SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
       ELSE lower(c_mktsegment) END AS seg,
       c_custkey, c_acctbal
FROM customer
"""

_MIXED_PRIO = """
SELECT CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
       ELSE lower(o_orderpriority) END AS prio,
       o_orderkey
FROM orders
"""


# ---------------------------------------------------------------------------
# fn_collation_ci_join — case-insensitive equality JOIN keys
# ---------------------------------------------------------------------------

register_sql(
    "fn_collation_ci_join",
    spark_sql=f"""
WITH fact AS ({_MIXED_SEG}),
dim AS (SELECT * FROM VALUES ('BUILDING', 'construction'),
                             ('machinery', 'industrial'),
                             ('AuToMoBiLe', 'vehicles') AS d(label, sector))
SELECT d.sector,
       count(*) AS n_matched,
       count(DISTINCT f.seg) AS n_case_variants
FROM fact f JOIN dim d
  ON f.seg COLLATE UTF8_LCASE = d.label COLLATE UTF8_LCASE
GROUP BY d.sector
""",
    oracle="""
WITH fact AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
         ELSE lower(c_mktsegment) END AS seg
  FROM customer
),
dim AS (SELECT * FROM (VALUES ('BUILDING', 'construction'),
                              ('machinery', 'industrial'),
                              ('AuToMoBiLe', 'vehicles')) d(label, sector))
SELECT d.sector,
       count(*) AS n_matched,
       count(DISTINCT f.seg) AS n_case_variants
FROM fact f JOIN dim d ON lower(f.seg) = lower(d.label)
GROUP BY d.sector
""",
    doc="""Case-insensitive equality JOIN via collated keys: a mixed-case
    fact column joins a dim whose labels are upper / lower / studly cased,
    under UTF8_LCASE on BOTH sides — no lower() shadow column on either
    relation. n_case_variants (binary-distinct spellings absorbed per
    sector) proves the data stayed binary while the comparison folded. The
    collated key hashes like any join key: one exchange per side at scale,
    broadcast here because the dim is 3 rows. Oracle: the lower()-
    normalized join DuckDB spells directly.""",
)


# ---------------------------------------------------------------------------
# fn_collation_ci_predicates — CI =, startswith, contains
# ---------------------------------------------------------------------------

register_sql(
    "fn_collation_ci_predicates",
    spark_sql=f"""
WITH p AS ({_MIXED_PRIO})
SELECT count(*) AS n_rows,
       count(CASE WHEN prio COLLATE UTF8_LCASE = '1-Urgent' THEN 1 END)
         AS n_eq_ci,
       count(CASE WHEN startswith(prio COLLATE UTF8_LCASE, '1-') THEN 1 END)
         AS n_prefix_ci,
       count(CASE WHEN contains(prio COLLATE UTF8_LCASE, 'URGENT') THEN 1 END)
         AS n_contains_ci
FROM p
""",
    oracle="""
WITH p AS (
  SELECT CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
         ELSE lower(o_orderpriority) END AS prio
  FROM orders
)
SELECT count(*) AS n_rows,
       count(CASE WHEN lower(prio) = lower('1-Urgent') THEN 1 END)
         AS n_eq_ci,
       count(CASE WHEN lower(prio) LIKE '1-%' THEN 1 END) AS n_prefix_ci,
       count(CASE WHEN lower(prio) LIKE '%' || lower('URGENT') || '%' THEN 1 END)
         AS n_contains_ci
FROM p
""",
    doc="""Predicate functions under collation: equality, startswith and
    contains all fold through the UTF8_LCASE comparison when their STRING
    argument carries the collation — the literal side folds too (the
    '1-Urgent' / 'URGENT' probes are deliberately cased differently from
    both synthesized spellings). NULL priorities fail every predicate and
    are excluded from the conditional counts on both engines (nulls
    tier). Pure expression work over one scan; a 1-row output.""",
)


# ---------------------------------------------------------------------------
# fn_collation_ci_distinct — DISTINCT under collation
# ---------------------------------------------------------------------------

register_sql(
    "fn_collation_ci_distinct",
    spark_sql=f"""
WITH p AS ({_MIXED_PRIO})
SELECT count(DISTINCT prio COLLATE UTF8_LCASE) AS n_ci,
       count(DISTINCT prio COLLATE UTF8_BINARY) AS n_binary,
       count(DISTINCT upper(prio)) AS n_upper
FROM p
""",
    oracle="""
WITH p AS (
  SELECT CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
         ELSE lower(o_orderpriority) END AS prio
  FROM orders
)
SELECT count(DISTINCT lower(prio)) AS n_ci,
       count(DISTINCT prio) AS n_binary,
       count(DISTINCT upper(prio)) AS n_upper
FROM p
""",
    doc="""DISTINCT under collation: the same column counted three ways —
    UTF8_LCASE (case variants collapse), UTF8_BINARY (they don't), and an
    explicit upper() normalization as the cross-check (n_upper == n_ci
    whenever the domain is case-stable ASCII, which the enum columns are
    by the unicode tier's own design). Pins that the aggregation DISTINCT
    path honors the key's collation exactly as the GROUP BY path does
    (fn_collation_lcase_group) — the two dedup routes must never disagree
    on cardinality. Partial-aggregable; 1-row output at any scale.""",
)
