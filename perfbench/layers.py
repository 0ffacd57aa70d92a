"""Per-layer metrics from the traced clients' per-invocation records.

Each metric is a per-pass total (a pass runs every op of the workload once);
the reported value is the median over the traced passes. Set-up layers are
per client, median over the traced clients. Units: ``s``, ``B`` (bytes),
``count`` and ``ratio``.
"""

from __future__ import annotations

import statistics


# metric -> (unit, per-record value). Each record carries the event-log totals
# of its three phases under ``layers`` (see eventlog.FIELDS).
_SUMS = {
    "catalog.build_s": ("s", lambda r: r.get("build_s", 0.0)),
    "catalog.py4j_calls": ("count", lambda r: r["py4j_calls"]["build"]),
    "catalog.eager_jobs": ("count", lambda r: r["layers"]["build"]["jobs"]),
    "catalyst.plan_s": ("s", lambda r: r.get("plan_s", 0.0)),
    "exec.s": ("s", lambda r: r.get("exec_s", 0.0)),
    "collect.rows": ("count", lambda r: r.get("rows", 0)),
    "collect.bytes": ("B", lambda r: r.get("collect_bytes", 0)),
}
# metric -> (unit, eventlog field, scale): summed over the three phases.
_EVENTLOG = {
    "scheduler.jobs": ("count", "jobs", 1),
    "scheduler.stages": ("count", "stages", 1),
    "scheduler.tasks": ("count", "tasks", 1),
    "scheduler.failed_tasks": ("count", "failed_tasks", 1),
    "executor.run_s": ("s", "executor_run_ms", 1e-3),
    "executor.cpu_s": ("s", "executor_cpu_ns", 1e-9),
    "executor.gc_s": ("s", "gc_ms", 1e-3),
    "shuffle.write_bytes": ("B", "shuffle_write_bytes", 1),
    "shuffle.read_bytes": ("B", "shuffle_read_bytes", 1),
    "shuffle.fetch_wait_s": ("s", "fetch_wait_ms", 1e-3),
    "spill.memory_bytes": ("B", "spill_memory_bytes", 1),
    "spill.disk_bytes": ("B", "spill_disk_bytes", 1),
    "registry.scan_bytes": ("B", "scan_bytes", 1),
    "registry.scan_records": ("count", "scan_records", 1),
    "sink.bytes_written": ("B", "sink_bytes", 1),
    "sink.files_written": ("count", "sink_files", 1),
    "catalyst.plan_nodes": ("count", "plan_nodes", 1),
    "catalyst.exchanges": ("count", "exchanges", 1),
    "scale.broadcast_joins": ("count", "broadcast_joins", 1),
    "scale.sort_merge_joins": ("count", "sort_merge_joins", 1),
    "join.rows_out": ("count", "join_rows_out", 1),
    "pyudf.rows_in": ("count", "pyudf_rows_in", 1),
    "pyudf.bytes_in": ("B", "pyudf_bytes_in", 1),
}
_SETUP = {
    "session.start_s": ("s", "session_s"),
    "catalog.import_s": ("s", "catalog_import_s"),
    "registry.warm_s": ("s", "warm_s"),
    "registry.cached_bytes": ("B", "cached_bytes"),
}
UNITS = {
    **{k: v[0] for k, v in _SUMS.items()},
    **{k: v[0] for k, v in _EVENTLOG.items()},
    **{k: v[0] for k, v in _SETUP.items()},
    "scheduler.idle_core_s": "s",
    "executor.peak_mem_bytes": "B",
    "opcache.live_max": "count",
    "join.yield": "ratio",
    "trace.overhead_s": "s",
}


def pass_walls(outs: list[dict]) -> list[float]:
    """Timed wall of every pass of every client (sum of its invocations)."""
    walls: dict[tuple[int, int], float] = {}
    for out in outs:
        for r in out["records"]:
            key = (out["client"], r["pass"])
            walls[key] = walls.get(key, 0.0) + r["wall_s"]
    return list(walls.values())


def median_pass_wall(outs: list[dict]) -> float:
    """Wall of one pass with every op at its median invocation time: the sum
    over ops of the median of that op's timed invocations. With one pass it
    is that pass's wall; with more, one slow invocation does not move it."""
    times: dict[str, list[float]] = {}
    for out in outs:
        for r in out["records"]:
            times.setdefault(r["op"], []).append(r["wall_s"])
    return sum(statistics.median(v) for v in times.values())


def _phase_total(r: dict, field: str) -> int:
    return sum(r["layers"][p][field] for p in r["layers"])


def pass_totals(records: list[dict], cores: int) -> dict[str, float]:
    """Layer totals of one traced pass."""
    out = {name: sum(f(r) for r in records) for name, (_, f) in _SUMS.items()}
    for name, (_, field, scale) in _EVENTLOG.items():
        out[name] = scale * sum(_phase_total(r, field) for r in records)
    # Cores left idle while the op's result was being computed.
    out["scheduler.idle_core_s"] = sum(
        cores * r.get("exec_s", 0.0) - r["layers"]["exec"]["executor_run_ms"] / 1e3
        for r in records
    )
    out["executor.peak_mem_bytes"] = max(
        max(r["layers"][p]["peak_mem_bytes"] for p in r["layers"]) for r in records
    )
    out["opcache.live_max"] = max(r["opcache_live"] for r in records)
    joined = [r for r in records if _phase_total(r, "join_rows_out") > 0]
    join_rows = sum(_phase_total(r, "join_rows_out") for r in joined)
    out["join.yield"] = (
        sum(r.get("rows", 0) for r in joined) / join_rows if join_rows else 0.0
    )
    return out


def per_layer(plain: list[dict], traced: list[dict], cores: int) -> tuple[dict, list]:
    """``(metrics, totals)``: every per-layer metric as ``{"value", "unit"}``,
    and the per-pass totals behind them."""
    passes: dict[tuple[int, int], list[dict]] = {}
    for out in traced:
        for r in out["records"]:
            passes.setdefault((out["client"], r["pass"]), []).append(r)
    totals = [pass_totals(recs, cores) for recs in passes.values()]
    values = {name: statistics.median(t[name] for t in totals) for name in totals[0]}
    for name, (_, key) in _SETUP.items():
        values[name] = statistics.median(o["setup"].get(key, 0) for o in traced)
    values["trace.overhead_s"] = median_pass_wall(traced) - median_pass_wall(plain)
    metrics = {name: {"value": values[name], "unit": UNITS[name]} for name in sorted(UNITS)}
    return metrics, totals
