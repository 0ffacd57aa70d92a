"""Fold a Spark event log into per-job-group layer totals.

The traced client tags every phase of every op invocation with its own job
group (``<invocation>:<op>:<phase>``). Spark's event log then carries, for
each group, the jobs it started, the stages and tasks those jobs ran (with
their TaskMetrics) and the SQL executions it planned (with the executed-plan
tree and the accumulator id of every SQL metric). ``reduce_event_log`` folds
that into one flat record per group, readable with no Spark UI.

Plan shape (node, exchange and join counts) is read from the executed-plan
tree an execution starts with (``sparkPlanInfo``, never the explain text):
the plan Catalyst chose, which repeats exactly for the same op sequence.
Adaptive execution may re-plan while stages finish, in an order that varies
run to run, so SQL-metric values (join output rows, Python-boundary rows and
bytes, files written, file bytes scanned) are read through the last adaptive
update, the plan that actually ran.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from collections.abc import Iterable, Iterator

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# Plan nodes that only wrap or re-route another node: not counted as work.
_WRAPPERS = ("AdaptiveSparkPlan", "WholeStageCodegen", "InputAdapter", "AQEShuffleRead")
_EXCHANGES = ("Exchange", "BroadcastExchange")
_BROADCAST_JOINS = ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
_ROWS = "number of output rows"
_PY_BYTES_IN = "data sent to Python workers"
_FILES_WRITTEN = "number of written files"
# Task input metrics undercount parquet bytes (the reader's I/O runs off the
# task thread), so scanned bytes come from the file-scan nodes instead.
_FILE_BYTES_READ = "size of files read"

# Totals kept per group; every key is present (0 when nothing happened).
FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks",
    "executor_run_ms", "executor_cpu_ns", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms",
    "spill_memory_bytes", "spill_disk_bytes", "peak_mem_bytes",
    "scan_bytes", "scan_records", "sink_bytes", "sink_files",
    "plan_nodes", "exchanges", "broadcast_joins", "sort_merge_joins",
    "join_rows_out", "pyudf_rows_in", "pyudf_bytes_in",
)


def read_events(log_dir: str) -> Iterator[dict]:
    """Every event under ``log_dir``: plain single-file logs and Spark 4's
    rolling ``eventlog_v2_*`` directories (``events_<n>_*`` parts, read in
    part order)."""
    paths = []
    for entry in sorted(os.listdir(log_dir)):
        full = os.path.join(log_dir, entry)
        if os.path.isdir(full):
            parts = glob.glob(os.path.join(full, "events_*"))
            parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
            paths.extend(parts)
        elif not entry.startswith("."):
            paths.append(full)
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _is_wrapper(name: str) -> bool:
    return name.startswith(_WRAPPERS) or name.endswith("QueryStage")


def _metric(node: dict, name: str) -> int | None:
    for m in node.get("metrics", ()):
        if m["name"] == name:
            return m["accumulatorId"]
    return None


def _input_rows_acc(node: dict) -> int | None:
    """Accumulator of the rows flowing into ``node``: the output-row metric of
    the nearest descendant that has one (wrappers and projections keep the
    row count, so they are looked through)."""
    for child in node.get("children", ()):
        acc = _metric(child, _ROWS)
        if acc is not None:
            return acc
        acc = _input_rows_acc(child)
        if acc is not None:
            return acc
    return None


def plan_counts(tree: dict) -> dict:
    """Walk one ``sparkPlanInfo`` tree. Returns node / exchange / join counts
    and the accumulator ids whose values give join output rows, Python
    boundary rows and bytes, files written and file bytes scanned."""
    out = {
        "plan_nodes": 0, "exchanges": 0, "broadcast_joins": 0,
        "sort_merge_joins": 0, "join_accs": [], "pyudf_row_accs": [],
        "pyudf_byte_accs": [], "file_accs": [], "scan_accs": [],
    }
    stack = [tree]
    while stack:
        node = stack.pop()
        stack.extend(node.get("children", ()))
        name = node["nodeName"]
        if _is_wrapper(name):
            continue
        out["plan_nodes"] += 1
        if name in _EXCHANGES:
            out["exchanges"] += 1
        if name in _BROADCAST_JOINS:
            out["broadcast_joins"] += 1
        elif name == "SortMergeJoin":
            out["sort_merge_joins"] += 1
        if name.endswith("Join") or name == "CartesianProduct":
            acc = _metric(node, _ROWS)
            if acc is not None:
                out["join_accs"].append(acc)
        py_bytes = _metric(node, _PY_BYTES_IN)
        if py_bytes is not None:
            out["pyudf_byte_accs"].append(py_bytes)
            rows = _input_rows_acc(node)
            if rows is not None:
                out["pyudf_row_accs"].append(rows)
        files = _metric(node, _FILES_WRITTEN)
        if files is not None:
            out["file_accs"].append(files)
        scanned = _metric(node, _FILE_BYTES_READ)
        if scanned is not None:
            out["scan_accs"].append(scanned)
    return out


def _num(v) -> int:
    return int(v) if v not in (None, "") else 0


def reduce_event_log(events: Iterable[dict]) -> dict[str, dict]:
    """Per job group, the totals named in ``FIELDS``. Events of jobs and
    executions started outside any job group are ignored."""
    totals: dict[str, dict] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    first_plan: dict[int, dict] = {}
    last_plan: dict[int, dict] = {}
    acc_value: dict[int, int] = {}

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                totals[group]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group:
                totals[group]["stages"] += 1
            # A stage reports each SQL metric's driver-side running total,
            # so the latest report is the metric's value.
            for acc in info.get("Accumulables", ()):
                if acc.get("Metadata") == "sql":
                    acc_value[acc["ID"]] = _num(acc.get("Value"))
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            if group:
                _fold_task(totals[group], e)
        elif kind == _SQL_START:
            if e.get("jobGroupId"):
                exec_group[e["executionId"]] = e["jobGroupId"]
            first_plan[e["executionId"]] = last_plan[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == _SQL_ADAPTIVE:
            last_plan[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == _DRIVER_ACCUMS:
            for acc_id, value in e["accumUpdates"]:
                acc_value[acc_id] = _num(value)

    for exec_id, group in exec_group.items():
        t = totals[group]
        shape = plan_counts(first_plan[exec_id])
        for key in ("plan_nodes", "exchanges", "broadcast_joins", "sort_merge_joins"):
            t[key] += shape[key]
        counts = plan_counts(last_plan[exec_id])
        t["join_rows_out"] += sum(acc_value.get(a, 0) for a in counts["join_accs"])
        t["pyudf_rows_in"] += sum(acc_value.get(a, 0) for a in counts["pyudf_row_accs"])
        t["pyudf_bytes_in"] += sum(acc_value.get(a, 0) for a in counts["pyudf_byte_accs"])
        t["sink_files"] += sum(acc_value.get(a, 0) for a in counts["file_accs"])
        t["scan_bytes"] += sum(acc_value.get(a, 0) for a in counts["scan_accs"])
    return dict(totals)


def _fold_task(t: dict, e: dict) -> None:
    t["tasks"] += 1
    info = e.get("Task Info") or {}
    reason = (e.get("Task End Reason") or {}).get("Reason")
    if info.get("Failed") or reason not in (None, "Success"):
        t["failed_tasks"] += 1
    m = e.get("Task Metrics")
    if not m:
        return
    t["executor_run_ms"] += m["Executor Run Time"]
    t["executor_cpu_ns"] += m["Executor CPU Time"]
    t["gc_ms"] += m["JVM GC Time"]
    t["spill_memory_bytes"] += m["Memory Bytes Spilled"]
    t["spill_disk_bytes"] += m["Disk Bytes Spilled"]
    t["peak_mem_bytes"] = max(t["peak_mem_bytes"], m["Peak Execution Memory"])
    sw = m["Shuffle Write Metrics"]
    sr = m["Shuffle Read Metrics"]
    t["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
    t["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
    t["fetch_wait_ms"] += sr["Fetch Wait Time"]
    t["scan_records"] += m["Input Metrics"]["Records Read"]
    t["sink_bytes"] += m["Output Metrics"]["Bytes Written"]
