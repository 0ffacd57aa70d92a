"""Operator catalog: the registry behind ``__spark_entry__.queries()``.

Every operator from SURVEY.md §2 registers itself here as a QuerySpec:
a name (the literal §2 ID), a callable ``(spark, sf_dir) -> DataFrame``, and —
for oracle-verified operators — the equivalent DuckDB SQL. The driver runs
both sides at sf0.01 and hash-compares (row count + schema + order-insensitive
value hash), so:

- every computed column is aliased identically on both sides;
- float aggregates are rounded to a fixed number of decimals on both sides
  (double summation order differs between engines — SURVEY.md §5.4);
- rankings/top-k always carry a unique tie-break key.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ai_dataingestion_spark.registry import register_views

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame operator query."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate operator id: {name}")

        def invoke(spark: SparkSession, sf_dir: str) -> DataFrame:
            # release the PREVIOUS operator's tracked intermediate caches
            # (its result has been consumed by now — harness loops are
            # sequential); fixes the 50-query-session heap accumulation
            # measured at the sfx1.0 sweep (opcache.py)
            from ai_dataingestion_spark.opcache import release_op_caches

            release_op_caches()
            try:
                return fn(spark, sf_dir)
            except BaseException:
                # a raising operator returns no DataFrame anyone could still
                # consume — release its orphaned caches NOW instead of
                # leaking them until the next invocation (VERDICT r7 item 7);
                # abandoned=True so strict mode doesn't replace the real
                # exception with a consumed-check failure (round 10)
                release_op_caches(abandoned=True)
                raise

        invoke.__name__ = fn.__name__
        invoke.__doc__ = fn.__doc__
        _REGISTRY[name] = QuerySpec(name, invoke, oracle, doc or (fn.__doc__ or ""))
        return fn

    return wrap


def register_sql(
    name: str, spark_sql: str | Sequence[str], oracle: str, doc: str
) -> QueryFn:
    """Register a pure Spark-SQL operator over the corpus views.
    ``spark_sql`` is one statement, or a sequence whose leading statements
    run for their effect (CREATE FUNCTION, DECLARE VARIABLE, ...) and whose
    LAST statement is the operator's result."""
    stmts = (spark_sql,) if isinstance(spark_sql, str) else tuple(spark_sql)

    def _fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        for stmt in stmts[:-1]:
            spark.sql(stmt)
        return spark.sql(stmts[-1])

    _fn.__name__ = name
    _fn.__doc__ = doc
    return register(name, oracle=oracle, doc=doc)(_fn)


# Which IDs already hold a green row is DERIVED, never hand-kept: an ID is
# attested iff the generated recert_order.json has a latest_green_round
# entry for it. `python scripts/rotation_plan.py --write` regenerates the
# table from the repo-root CORRECTNESS_r*.json files, and
# `python scripts/rotation_plan.py` prints the live window and backlog.
#
# Formerly-green oracle-backed IDs whose evidence went stale (e.g. a
# driver corpus regeneration, or a contract change): re-check them right
# after the rank-0 block. Round 13: empty — stream_tws_event_timer's r12
# re-check under its changed oracle (ADVICE r11 #3 ms-truncation) came
# back green, so its evidence is current again.
# Round 14: the four attested ops whose CODE changed that round all came
# back green in CORRECTNESS_r14 on the shipped code, so the set emptied.
# Round 15: the 20 ops whose CODE changed that round (the
# stable_rounded_sum / stable_sum hardening of every residual
# round-of-double-sum site) re-checked and ALL came back hash-green in
# CORRECTNESS_r15 on the shipped decimal accumulation, so the set
# emptied again (VERDICT-r15 item 1 fold). Round 16: any op whose code
# changes this round goes here for same-round re-cert.
# Round 17 (VERDICT-r16 item 2): the five r16-restructured ops the r16
# rotation window missed (their greens predate the restructuring) re-check
# at the head of the window, together with every op whose CODE changed in
# this optimization round (the minhash/shingle driver-build rewrites).
_EVENTS_RECHECK: frozenset[str] = frozenset(
    {
        # r16 restructured, driver attestation owed (VERDICT-r16 item 2)
        "graph_pagerank_trade", "graph_copurchase_triangles",
        "graph_degree_distribution", "dedup_lsh_band_tuning",
        "multimodal_image_resize_pool",
        # r17 code-changed (driver-build string-expression rewrites; the
        # partition-level LSH pair kernel)
        "dedup_removal_plan", "dedup_near_minhash",
        "dedup_minhash_estimate_error", "dedup_eval_precision_recall",
        "sim_pair_dedup_lsh",
        "catalog_meta_type_census", "udtf_self_partition_counts",
        # r17 second batch (sweep follow-ups): streaming pair-kernel
        # yield, day-clustered sink writes, simhash/mmr/logreg
        # expression rewrites and gradient caching
        "sim_pair_dedup", "sink_dynamic_partition_overwrite",
        "dedup_simhash", "embed_mmr_select",
        "embed_logistic_regression_step", "quality_psi_drift",
    }
)


def _rotation_rank(spec: QuerySpec, latest: Mapping[str, int]) -> int:
    """0 = oracle-backed with no green row yet (front of the window), 1 =
    stale events-touching green needing re-check, 2 = rows-only with no
    green row yet, 4 = attested green: ``latest`` (recert_order.json's
    ``latest_green_round`` table) has an entry for it (back of the line)."""
    if spec.name in _EVENTS_RECHECK:
        return 1
    if spec.name in latest:
        return 4
    return 0 if spec.oracle is not None else 2


def _latest_green_round() -> dict[str, int]:
    """ID -> latest CORRECTNESS round that attested it, from the generated
    ``recert_order.json`` (written by ``scripts/rotation_plan.py --write``,
    which derives it from the repo-root CORRECTNESS_r*.json files — the
    package itself never depends on repo-root artifacts at runtime).

    Missing or unparseable file => {}: every ID then counts as
    unattested, and the rotation falls back to rank-then-registration
    order.
    """
    import json
    from pathlib import Path

    path = Path(__file__).resolve().parent / "recert_order.json"
    try:
        data = json.loads(path.read_text())
        return {str(k): int(v) for k, v in data["latest_green_round"].items()}
    except (OSError, ValueError, KeyError, TypeError):
        return {}


def all_specs() -> dict[str, QuerySpec]:
    """All registered operators, ordered for the driver's 50-query sweep
    window (imports the operator packages on demand).

    The order is derived from the packaged recert_order.json
    (``_latest_green_round``): an ID with a ``latest_green_round`` entry
    is attested, rank 4 in ``_rotation_rank``.

    Rank-4 (attested-green) entries are staleness-ordered (VERDICT-r10
    item 1): oracle-backed IDs first, then by OLDEST latest-green round,
    then registration order — so with a zero backlog the driver window
    re-certifies the 50 IDs whose evidence is most out of date (r1/r2
    vintage first) instead of sweeping the same registration prefix
    forever. Rows-only IDs sort behind oracle-backed ones at equal rank:
    their driver check is count+schema only, so a window slot spent there
    buys the least evidence.
    """
    import ai_dataingestion_spark.operators  # noqa: F401  (self-registers)

    latest = _latest_green_round()

    def key(t: tuple[int, QuerySpec]):
        idx, spec = t
        rank = _rotation_rank(spec, latest)
        if rank == 4:
            return (4, spec.oracle is None, latest[spec.name], idx)
        return (rank, False, 0, idx)

    ordered = sorted(enumerate(_REGISTRY.values()), key=key)
    return {spec.name: spec for _, spec in ordered}


def queries() -> dict[str, QueryFn]:
    return {k: v.fn for k, v in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {k: v.oracle for k, v in all_specs().items() if v.oracle is not None}
