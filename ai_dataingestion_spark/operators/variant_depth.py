"""§2.U round-12 third block: VARIANT shredded-access depth (SPARK-45891).

``fn_variant_json_path`` (round6_waves.py) covers parse + path navigation.
This block covers the rest of the Spark-4 VARIANT surface a semi-structured
ingestion pipeline builds on — each op shreds ``events.props`` ONCE through
``try_parse_json`` (the proven variant-admissible gate: malformed JSON and
duplicate-key objects become NULL variants, mirrored in every oracle by the
json_valid + distinct-json_keys CTE), derives the gated ``k``, and then
exercises one capability over documents synthesized deterministically from
``k`` (the corpus's props are uniformly ``{"k": int}``, so depth shapes are
built inline — the same recipe fn_variant_json_path and
sql_recursive_cte_rollup use, which keeps every oracle pure arithmetic over
the gated domain, immune to engine JSON-dialect drift):

- ``fn_variant_explode_array`` — the ``variant_explode`` TABLE function
  over variant ARRAYS (LATERAL; pos + value rows).
- ``fn_variant_object_explode`` — ``variant_explode`` over variant OBJECTS
  (key + value rows; heterogeneous shapes, nested-object values).
- ``fn_variant_typed_coercion`` — ``try_variant_get`` typed-access
  contract: digit-strings coerce to BIGINT, booleans to 1/0, non-numeric
  strings to NULL; everything stringifies.
- ``fn_variant_to_struct_shred`` — CAST(variant AS STRUCT<...>): shred once
  to a typed struct, columnar access afterwards (the read posture shredded
  parquet VARIANT columns get for free).
- ``fn_variant_schema_inventory`` — ``schema_of_variant`` feed inventory:
  which document shapes arrive and in what volume (the drift monitor a
  VARIANT ingest pipeline ships with).

100-TB posture, stated once: every op is one parse per row + JVM-side
variant expressions inside whole-stage codegen (no Python anywhere; plan
test pins no-EvalPython and a single parse_json of props per plan) feeding
a partial-aggregable groupBy whose output is dimension-sized (<= 5 rows x
shapes). variant_explode fan-out is a bounded constant (3 array elements /
<= 3 object keys per row). The shuffle payload is the aggregate, never the
documents.

Modulo dialect note (ADVICE r12): Spark's pmod(k, N) is always
non-negative while DuckDB's `k % N` keeps the dividend's sign, so every
oracle below spells the modulo as ``((k % N) + N) % N`` — the
pmod-equivalent form — instead of relying on the current corpus keeping
props k in [0, 99]. A future tier that injects negative k stays green.
"""

from __future__ import annotations

from ai_dataingestion_spark.catalog import register_sql

# Spark-side shred of the admissible domain: ONE try_parse_json of props
# per row (NULL variant for malformed/dup-key docs), '$.k' as bigint.
_SHRED = """
SELECT event_type, variant_get(try_parse_json(props), '$.k', 'bigint') AS k
FROM events
"""

# DuckDB twin of the gate (the fn_variant_json_path contract, green through
# the hostile-JSON tier since r6): json_valid NULLs malformed docs; the
# json_keys distinct-length check drops duplicate-key objects, which
# Spark's VARIANT parser rejects but DuckDB's json_extract would keep.
_GATE = """
  SELECT event_type,
         CASE WHEN coalesce(json_valid(props), false)
                   AND len(json_keys(props))
                       = len(list_distinct(json_keys(props)))
              THEN CAST(json_extract(props, '$.k') AS BIGINT) END AS k
  FROM events
"""


register_sql(
    "fn_variant_explode_array",
    spark_sql=f"""
WITH adm AS ({_SHRED}), e AS (SELECT k FROM adm WHERE k IS NOT NULL)
SELECT t.pos, count(*) AS n,
       CAST(sum(variant_get(t.value, '$', 'bigint')) AS BIGINT) AS sum_val
FROM e, LATERAL variant_explode(
  parse_json(concat('[', k, ',', k*2, ',', pmod(k,10), ']'))) t
GROUP BY t.pos
""",
    oracle=f"""
WITH adm AS ({_GATE}), e AS (SELECT k FROM adm WHERE k IS NOT NULL)
SELECT pos, count(*) AS n,
       CAST(sum(CASE pos WHEN 0 THEN k WHEN 1 THEN k*2 ELSE ((k % 10) + 10) % 10 END)
            AS BIGINT) AS sum_val
FROM e, (VALUES (0), (1), (2)) p(pos)
GROUP BY pos
""",
    doc="""variant_explode over variant ARRAYS: each admissible event's k
    becomes the inline array [k, 2k, k%10]; the LATERAL table function
    emits (pos, value) variant rows, summed per position. The fan-out is a
    fixed 3x, the per-element access is a binary-offset read (never a text
    re-parse), and the aggregate is partial-aggregable with a 3-row output
    at any corpus size. NULL-variant rows (malformed/dup-key/missing-k)
    contribute zero exploded rows on both engines.""",
)


register_sql(
    "fn_variant_object_explode",
    spark_sql=f"""
WITH adm AS ({_SHRED}), e AS (SELECT k FROM adm WHERE k IS NOT NULL),
docs AS (SELECT parse_json(CASE pmod(k, 3)
    WHEN 0 THEN concat('{{"k":', k, '}}')
    WHEN 1 THEN concat('{{"k":', k, ',"x":', k*2, '}}')
    ELSE concat('{{"k":', k, ',"x":', k*2, ',"d":{{"y":1}}}}') END) AS v
  FROM e)
SELECT t.key, count(*) AS n,
       CAST(sum(try_variant_get(t.value, '$', 'bigint')) AS BIGINT) AS sum_val
FROM docs, LATERAL variant_explode(v) t
GROUP BY t.key
""",
    oracle=f"""
WITH adm AS ({_GATE}), e AS (SELECT k FROM adm WHERE k IS NOT NULL),
cls AS (SELECT k, ((k % 3) + 3) % 3 AS m FROM e)
SELECT key, count(*) AS n, CAST(sum(val) AS BIGINT) AS sum_val FROM (
  SELECT 'k' AS key, k AS val FROM cls
  UNION ALL SELECT 'x', k*2 FROM cls WHERE m IN (1, 2)
  UNION ALL SELECT 'd', NULL FROM cls WHERE m = 2
) GROUP BY key
""",
    doc="""variant_explode over variant OBJECTS with HETEROGENEOUS shapes
    (1/2/3 keys by k%3, one value a nested object): emits (key, value)
    rows, counting key frequency and summing the bigint-coercible values —
    the per-key coverage audit of a variable-schema feed. Nested-object
    values coerce to NULL under try_variant_get('$','bigint') and count
    toward n but not sum_val on both engines. Key fan-out <= 3 per row;
    output is one row per distinct key name regardless of corpus size.""",
)


register_sql(
    "fn_variant_typed_coercion",
    spark_sql=f"""
WITH adm AS ({_SHRED}), e AS (SELECT event_type, k FROM adm
                              WHERE k IS NOT NULL),
docs AS (SELECT event_type, k, try_parse_json(CASE pmod(k, 4)
    WHEN 0 THEN concat('{{"f":', k, '}}')
    WHEN 1 THEN concat('{{"f":"', k, '"}}')
    WHEN 2 THEN concat('{{"f":"v', k, '"}}')
    ELSE '{{"f":true}}' END) AS v FROM e)
SELECT event_type,
       count(*) AS n,
       CAST(sum(try_variant_get(v, '$.f', 'bigint')) AS BIGINT) AS sum_f,
       CAST(count(try_variant_get(v, '$.f', 'bigint')) AS BIGINT) AS n_as_int,
       CAST(count(try_variant_get(v, '$.f', 'string')) AS BIGINT) AS n_as_str
FROM docs GROUP BY event_type
""",
    oracle=f"""
WITH adm AS ({_GATE}), e AS (SELECT event_type, k FROM adm
                             WHERE k IS NOT NULL)
SELECT event_type, count(*) AS n,
       CAST(sum(CASE ((k % 4) + 4) % 4 WHEN 0 THEN k WHEN 1 THEN k WHEN 3 THEN 1 END)
            AS BIGINT) AS sum_f,
       CAST(sum(CASE WHEN ((k % 4) + 4) % 4 IN (0, 1, 3) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_as_int,
       CAST(count(*) AS BIGINT) AS n_as_str
FROM e GROUP BY event_type
""",
    doc="""The try_variant_get typed-access CONTRACT, pinned over a field
    that is an int, a digit-string, a non-numeric string, or a boolean by
    k%4: as-bigint coerces digit-strings ("7" -> 7) and booleans
    (true -> 1) but NULLs non-numeric strings; as-string stringifies all
    four. The oracle states the same contract as closed-form arithmetic
    over the gated k — exactly the typed-column semantics a shredded
    VARIANT ingest relies on when upstream producers drift between
    numeric and quoted-numeric encodings.""",
)


register_sql(
    "fn_variant_to_struct_shred",
    spark_sql=f"""
WITH adm AS ({_SHRED}), e AS (SELECT k FROM adm WHERE k IS NOT NULL),
s AS (SELECT CAST(parse_json(concat('{{"k":', k, ',"lab":"t', pmod(k, 5),
                                    '"}}'))
             AS STRUCT<k BIGINT, lab STRING>) AS st FROM e)
SELECT st.lab AS lab, count(*) AS n, CAST(sum(st.k) AS BIGINT) AS sum_k
FROM s GROUP BY st.lab
""",
    oracle=f"""
WITH adm AS ({_GATE}), e AS (SELECT k FROM adm WHERE k IS NOT NULL)
SELECT 't' || CAST(((k % 5) + 5) % 5 AS VARCHAR) AS lab, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM e GROUP BY lab
""",
    doc="""CAST(variant AS STRUCT<k BIGINT, lab STRING>): the one-time
    shred to a TYPED struct, after which field access is ordinary columnar
    projection (st.k, st.lab) with no per-access variant navigation — the
    execution shape shredded parquet VARIANT columns give a reader, here
    exercised through the cast so the contract is pinned engine-side.
    Group-by on the struct field keeps the aggregate partial-aggregable;
    5 output rows at any scale.""",
)


register_sql(
    "fn_variant_schema_inventory",
    spark_sql=f"""
WITH adm AS ({_SHRED}), e AS (SELECT k FROM adm WHERE k IS NOT NULL),
docs AS (SELECT schema_of_variant(parse_json(CASE pmod(k, 3)
    WHEN 0 THEN concat('{{"k":', k, '}}')
    WHEN 1 THEN concat('[', k, ',"s"]')
    ELSE concat('{{"k":', k, ',"d":{{"y":1.5}}}}') END)) AS sch FROM e)
SELECT sch, count(*) AS n FROM docs GROUP BY sch
""",
    oracle=f"""
WITH adm AS ({_GATE}), e AS (SELECT k FROM adm WHERE k IS NOT NULL)
SELECT CASE ((k % 3) + 3) % 3
    WHEN 0 THEN 'OBJECT<k: BIGINT>'
    WHEN 1 THEN 'ARRAY<VARIANT>'
    ELSE 'OBJECT<d: OBJECT<y: DECIMAL(2,1)>, k: BIGINT>' END AS sch,
  count(*) AS n
FROM e GROUP BY sch
""",
    doc="""schema_of_variant feed inventory: per-row inferred variant
    schema strings grouped and counted — the shape-drift monitor a VARIANT
    ingest pipeline runs continuously (a new producer shape appears as a
    new inventory row, not a downstream cast failure). The oracle pins
    Spark's exact schema rendering (field ordering, DECIMAL inference of
    1.5, heterogeneous arrays as ARRAY<VARIANT>) as literal strings over
    the k%3 shape classes. Output rows = distinct shapes, independent of
    corpus size.""",
)
