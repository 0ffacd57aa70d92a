"""Portable cross-engine emission helpers.

The driver hash-compares Spark output against a DuckDB oracle, so any
emitted float must round identically on both engines. Two layers exist:

- ``floor(x * 10^dp + 0.5) / 10^dp`` (``pround`` below)
  — ABSOLUTE decimal rounding, right for values whose magnitude is bounded
  by the domain (ratios, probabilities, per-row prices).
- ``mant_exp_cols`` below — RELATIVE (significant-digit) emission as a
  (mantissa, power-of-ten exponent) column pair, required for values whose
  magnitude GROWS with the corpus (revenue sums, variances of sums): at
  sfx1.0 a ~2e10 variance carries legitimate ~1e-5 absolute cross-engine
  noise from int128->double decimal casts, so 6 absolute decimals asserts
  precision the double format does not hold at that magnitude. Measured at
  the round-8 full-surface sfx1.0 sweep (agg_partial_merge_proof,
  orders_seasonal_decomposition_additive).

Exact zero is emitted as (0.0, 0): log10(0) is NULL in Spark but -inf
(then a cast error) in DuckDB — a deterministic divergence without the
guard. Known residual: a value within ~1 ulp of an exact power of ten can
flip floor(log10) between engines, shifting the pair by a decade; inputs
are data-fixed so this is a per-corpus constant, not a flake, and the
probability per emitted value is ~1e-15.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def pround(col: Column, dp: int = 6) -> Column:
    """Portable IEEE rounding floor(x*10^dp + 0.5)/10^dp — bit-identical
    on both engines (built-in round() diverges on exact decimal ties; see
    tpch_q2_min_cost_supplier)."""
    scale = 10**dp
    return F.floor(col * scale + 0.5) / scale


def dec_sum(col: Column) -> Column:
    """Engine-exact money-product sum: DECIMAL(38,6) accumulation (summation
    order can flip a rounded 2-dp digit in plain double — measured).

    Returns the DECIMAL sum: callers round in the decimal domain (HALF_UP
    in both engines, verified at exact .xx5 boundaries) and only THEN cast
    to double — rounding after the double cast diverges between engines
    when the exact sum lands on a half-cent boundary (measured:
    lineitem_abc_pareto at sf0.01, two parts off by a cent each)."""
    return F.sum(col.cast("decimal(38,6)"))


def sql_quote(s: str) -> str:
    """``s`` as a single-quoted SQL string literal, embedded quotes
    doubled (the oracle literals rendered from the declared schemas)."""
    return "'" + s.replace("'", "''") + "'"


def mant_exp_cols(col: Column, name: str, dp: int = 6) -> list[Column]:
    """``[<name>_mant, <name>_exp10]`` — value as a ``dp``-decimal mantissa
    in [1, 10) (sign carried by the mantissa) plus an int power-of-ten
    exponent. The DuckDB oracle side must emit the same shape:

        CASE WHEN x = 0 THEN 0.0
             ELSE round(x / pow(10, floor(log10(abs(x)))), {dp}) END
          AS {name}_mant,
        CAST(CASE WHEN x = 0 THEN 0
                  ELSE floor(log10(abs(x))) END AS INT) AS {name}_exp10
    """
    mag = F.floor(F.log10(F.abs(col)))
    return [
        F.when(col == 0, F.lit(0.0))
        .otherwise(F.round(col / F.pow(F.lit(10.0), mag), dp))
        .alias(f"{name}_mant"),
        F.when(col == 0, F.lit(0))
        .otherwise(mag.cast("int"))
        .alias(f"{name}_exp10"),
    ]


# ---------------------------------------------------------------------------
# Finite-domain contracts (round-9 NaN/Inf tier).
#
# Metric streams and embedding corpora grow NaN/±Inf in production
# (divide-by-zero rates, fp16 training overflow); the engines diverge HARD
# on them: DuckDB's stddev/var/corr kernels raise Out of Range on any
# non-finite input and CAST(nan AS <int|decimal>) is a conversion error,
# while Spark propagates NaN; percentile kernels disagree on NaN placement.
# Statistical operators therefore compute over the FINITE domain on both
# sides — stated with these twins so the gate is literally identical.
# ---------------------------------------------------------------------------

_INF = float("inf")


def finite(col: Column | str) -> Column:
    """NULL-safe finite-domain predicate for a double column: keeps NULL
    (both engines' aggregates skip nulls identically) and finite values,
    drops NaN/±Inf. Oracle twin: ``FINITE_SQL``."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | (~F.isnan(c) & (F.abs(c) != F.lit(_INF)))


FINITE_SQL = "({v} IS NULL OR isfinite({v}))"


def finite_vec(col: Column | str = "embedding") -> Column:
    """Vector-kernel quarantine: drop NULL vectors (no geometry — the
    null-tier contract) and vectors carrying any NULL or non-finite
    component (one NaN poisons every dot product, norm, and centroid it
    touches; ±Inf turns quantization casts into runtime errors; a NULL
    component makes the vector's geometry undefined). The NULL-component
    test is EXPLICIT, not left to 3-valued logic: Spark's ``exists`` over a
    NULL-predicate element yields NULL (row dropped by the filter) while
    DuckDB's ``list_filter`` silently discards NULL-predicate elements
    (row kept) — stating ``x IS NULL`` on both sides makes the twins
    literally equivalent (ADVICE r9). Oracle twin: ``VEC_FINITE_SQL``."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & ~F.exists(
        c, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(_INF))
    )


VEC_FINITE_SQL = (
    "({v} IS NOT NULL AND "
    "len(list_filter({v}, x -> x IS NULL OR NOT isfinite(x))) = 0)"
)


def component_complete(col: Column | str = "embedding") -> Column:
    """NULL-COMPONENT quarantine for operators that deliberately stay
    UNGATED on NaN/Inf (pure-propagation contracts — NaN propagates
    bit-identically through both engines' arithmetic): a NULL component
    does NOT propagate identically. Spark's higher-order aggregate makes
    the whole reduction NULL (acc + NULL = NULL) while DuckDB's list_sum
    SKIPS NULL elements like SQL SUM — so ``[1.0, NULL, 2.0]`` yields NULL
    here and 3.0 there (nan-tier NULL-component injection, round 10).
    Whole-NULL vectors are KEPT: both engines propagate those to NULL
    outputs identically. Oracle twin: ``COMPONENT_COMPLETE_SQL``."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | ~F.exists(c, lambda x: x.isNull())


COMPONENT_COMPLETE_SQL = (
    "({v} IS NULL OR len(list_filter({v}, x -> x IS NULL)) = 0)"
)


def stable_rounded_sum(col: Column | str, dp: int = 4) -> Column:
    """Order-independent ``round(sum(x), dp)`` aggregate (round-14 ties
    catch, streaming/batch_windows.py:stream_session): summing doubles and
    rounding puts the dp-th decimal on a half-ulp boundary that the
    partial-aggregation ORDER can flip across draws. Finite groups
    therefore sum through DECIMAL(38,6) — exact, order-independent, and
    tie-free at the cast (no double sits exactly midway on the 1e-6 grid)
    — while groups containing NaN/±Inf keep the raw double sum (non-finite
    propagation is already order-independent, and DuckDB RAISES on casting
    a non-finite to decimal). Oracle twin: ``stable_rounded_sum_sql``."""
    c = F.col(col) if isinstance(col, str) else col
    nonfinite = c.isNotNull() & (F.isnan(c) | (F.abs(c) == F.lit(_INF)))
    return F.when(
        F.max(F.when(nonfinite, 1).otherwise(0)) == 1,
        F.round(F.sum(c), dp),
    ).otherwise(
        F.round(
            F.sum(F.when(~nonfinite, c).cast("decimal(38,6)")), dp
        ).cast("double")
    )


def stable_sum(col: Column | str) -> Column:
    """Order-independent ``sum(x)`` as a double, for COMPOSITE emissions
    (ratios, scaled sums) where the rounding applies after further
    arithmetic: the same DECIMAL(38,6) accumulation as
    ``stable_rounded_sum`` (finite groups sum exactly; groups containing
    NaN/±Inf keep the raw double sum so non-finite propagation survives),
    but without the final round — the caller composes and rounds. Because
    the decimal sum casts back to the IDENTICAL double on both engines,
    any downstream IEEE arithmetic (division, 0.5·x, exp) is then
    bit-deterministic cross-engine too. Oracle twin: ``stable_sum_sql``.
    Note the 1e-6 per-value quantization this implies: document it at the
    call site when the summed terms are sub-unit magnitudes."""
    c = F.col(col) if isinstance(col, str) else col
    nonfinite = c.isNotNull() & (F.isnan(c) | (F.abs(c) == F.lit(_INF)))
    return F.when(
        F.max(F.when(nonfinite, 1).otherwise(0)) == 1,
        F.sum(c),
    ).otherwise(
        F.sum(F.when(~nonfinite, c).cast("decimal(38,6)")).cast("double")
    )


def stable_sum_sql(expr: str) -> str:
    """DuckDB twin of ``stable_sum`` (branch-for-branch; see
    ``stable_rounded_sum_sql`` for why the decimal cast sits inside a lazy
    CASE rather than a FILTER clause)."""
    return (
        f"CASE WHEN max(CASE WHEN {expr} IS NOT NULL AND NOT isfinite({expr}) "
        f"THEN 1 ELSE 0 END) = 1 THEN sum({expr}) "
        f"ELSE CAST(sum(CASE WHEN isfinite({expr}) "
        f"THEN CAST({expr} AS DECIMAL(38,6)) END) AS DOUBLE) END"
    )


def grid_sum(col: Column | str, dp: int = 6) -> Column:
    """Exact fixed-point sum on the 10^-dp grid, for term sums EMITTED AT
    THE SAME precision as the per-term quantization (the round-15 null-tier
    catch, orders_priority_mix_shift): ``stable_sum``'s DECIMAL(38,6) cast
    puts each term's half-point on the engines' CAST-ROUNDING semantics —
    Spark expands the double exactly and rounds HALF_UP (BigDecimal), the
    oracle engine multiplies in double first where an exact tie
    half-even-rounds the other way — so a ratio-valued term landing on the
    5·10^-(dp+1) midpoint shifts a dp-decimal emission by one grid step
    between engines. This helper quantizes with PURE IEEE arithmetic
    instead: ``floor(x·10^dp + 0.5)`` is the same double op sequence on
    both engines (bit-identical bigint per term), the BIGINT sum is exact
    and order-independent, and the final /10^dp division is one more
    identical IEEE op — the whole emission is bit-deterministic with NO
    cast semantics on trial. Callers emit the result WITHOUT a further
    round (there is no noise left to round away). Terms must be finite or
    NULL (NULL sums away identically; a NaN/Inf term would ANSI-crash the
    bigint cast — by design, these sites guarantee finiteness upstream)
    and |x|·10^dp must stay below 2^53. Oracle twin: ``grid_sum_sql``."""
    c = F.col(col) if isinstance(col, str) else col
    unit = F.lit(float(10 ** dp))
    return (
        F.sum(F.floor(c * unit + F.lit(0.5)).cast("bigint"))
        .cast("double") / unit
    )


def grid_sum_sql(expr: str, dp: int = 6) -> str:
    """DuckDB twin of ``grid_sum`` (op-for-op: double multiply, +0.5,
    floor, bigint cast, exact integer sum, double divide)."""
    unit = float(10 ** dp)
    return (
        f"(CAST(sum(CAST(floor(({expr}) * {unit} + 0.5) AS BIGINT)) "
        f"AS DOUBLE) / {unit})"
    )


def stable_rounded_sum_sql(expr: str, dp: int = 4) -> str:
    """DuckDB twin of ``stable_rounded_sum`` over SQL expression ``expr``
    (branch-for-branch; the inner CASE keeps the decimal cast lazy —
    DuckDB raises on CAST(nan AS DECIMAL) even under a FILTER clause,
    whose input expressions are evaluated vector-wide)."""
    return (
        f"CASE WHEN max(CASE WHEN {expr} IS NOT NULL AND NOT isfinite({expr}) "
        f"THEN 1 ELSE 0 END) = 1 THEN round(sum({expr}), {dp}) "
        f"ELSE CAST(round(sum(CASE WHEN isfinite({expr}) "
        f"THEN CAST({expr} AS DECIMAL(38,6)) END), {dp}) AS DOUBLE) END"
    )
