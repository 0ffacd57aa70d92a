"""Local replica of the driver's oracle comparison (SURVEY.md §5.2 tier 2).

Runs a registered QuerySpec on Spark and its oracle SQL on DuckDB over the
same parquet directory, then compares row count, column names, and the
order-insensitive multiset of values — strictly (exact equality), because the
driver hashes values rather than applying tolerances. The views and the
value rules are scripts/driver_sim.py's own (``duckdb_connect``, ``canon``).
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)
# One comparison rule: the DuckDB views, cell normalisation and row canon of
# the driver simulator, which rejects non-scalar cells the way the driver
# does (NonScalarCell) instead of tuple-izing them.
from driver_sim import canon, duckdb_connect  # noqa: E402,F401


def _is_worker_spawn_flake(exc: BaseException) -> bool:
    """True for the Python-worker startup timeout class (VERDICT-r16 item 3,
    an environment flake, not a logic failure): the JVM's
    PythonWorkerFactory gives a spawned worker a fixed (non-configurable)
    10 s to connect back, and under host stalls or contended boxes the
    handshake can miss it — observed twice in r16 on
    source_python_datasource_stream, green on re-run both times. Matched on
    the two messages the factory raises; wrong results or genuine operator
    errors never produce them. Walks the cause/context chain because the
    timeout surfaces wrapped (StreamingQueryException / Py4JJavaError)."""
    seen: set[int] = set()
    e: BaseException | None = exc
    while e is not None and id(e) not in seen:
        seen.add(id(e))
        text = str(e)
        if (
            "Timed out while waiting for the Python worker to connect back"
            in text
            or "Python worker failed to connect back" in text
        ):
            return True
        e = e.__cause__ or e.__context__
    return False


def run_with_spawn_retry(fn, retries: int = 2):
    """Run ``fn()``; retry (bounded, with a short backoff) ONLY when it dies
    on the worker-spawn timeout flake class above. Test-harness layer only —
    product query paths stay retry-free so real failures surface."""
    import time

    for attempt in range(retries + 1):
        try:
            return fn()
        except Exception as e:
            if attempt >= retries or not _is_worker_spawn_flake(e):
                raise
            time.sleep(2.0 * (attempt + 1))


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    """Return a comparison report; report['ok'] is the overall verdict."""
    sp = spark_df.toPandas()
    dd = con.execute(sql).fetchdf()
    sp_cols, sp_rows = canon(sp)
    dd_cols, dd_rows = canon(dd)
    report = {
        "ok": False,
        "spark_rows": len(sp_rows),
        "oracle_rows": len(dd_rows),
        "cols_match": sp_cols == dd_cols,
        "spark_cols": sp_cols,
        "oracle_cols": dd_cols,
        "mismatch": None,
    }
    if not report["cols_match"] or len(sp_rows) != len(dd_rows):
        return report
    for i, (a, b) in enumerate(zip(sp_rows, dd_rows)):
        if a != b:
            report["mismatch"] = {"row": i, "spark": a, "oracle": b}
            return report
    report["ok"] = True
    return report
