"""Event-log reducer: TaskMetrics and SQL-metric folding per job group, and
the executed-plan tree walk."""

import os

from eventlog import FIELDS, plan_counts, read_events, reduce_event_log

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures")


def _reduced():
    events = read_events(FIXTURE_DIR)
    return reduce_event_log(e for e in events)


def test_only_grouped_jobs_are_folded():
    assert set(_reduced()) == {"0:op_a:build", "0:op_a:exec"}


def test_task_metrics_fold_per_group():
    t = _reduced()["0:op_a:exec"]
    assert set(t) == set(FIELDS)
    assert t["jobs"] == 1
    assert t["stages"] == 2  # stage 3 was skipped
    assert t["tasks"] == 4
    assert t["failed_tasks"] == 1
    assert t["executor_run_ms"] == 491
    assert t["executor_cpu_ns"] == 270_000_000
    assert t["gc_ms"] == 10
    assert t["shuffle_write_bytes"] == 500
    assert t["shuffle_read_bytes"] == 500
    assert t["fetch_wait_ms"] == 7
    assert t["spill_memory_bytes"] == 64
    assert t["spill_disk_bytes"] == 32
    assert t["peak_mem_bytes"] == 5000  # max over tasks, not a sum
    assert t["scan_records"] == 2000


def test_plan_shape_from_the_initial_plan_metrics_from_the_final_one():
    t = _reduced()["0:op_a:exec"]
    # the execution started with a sort-merge join over two exchanges ...
    assert (t["plan_nodes"], t["exchanges"]) == (5, 2)
    assert (t["broadcast_joins"], t["sort_merge_joins"]) == (0, 1)
    # ... which an adaptive update replaced by a broadcast join: the rows
    # come from the join that ran
    assert t["join_rows_out"] == 150
    assert t["scan_bytes"] == 8600  # driver-side file-scan metrics
    assert t["pyudf_rows_in"] == t["pyudf_bytes_in"] == 0


def test_eager_write_with_python_udf():
    t = _reduced()["0:op_a:build"]
    assert (t["jobs"], t["stages"], t["tasks"]) == (1, 1, 1)
    assert t["sink_bytes"] == 500
    assert t["sink_files"] == 2
    assert t["pyudf_bytes_in"] == 4096
    assert t["pyudf_rows_in"] == 40  # rows of the scan below the projection
    assert t["scan_bytes"] == 3000
    assert t["plan_nodes"] == 5


def _node(name, children=(), metrics=()):
    return {
        "nodeName": name,
        "children": list(children),
        "metrics": [{"name": n, "accumulatorId": a} for n, a in metrics],
    }


def test_plan_walk_counts_exchanges_and_joins():
    scan = _node("Scan parquet ")
    tree = _node("AdaptiveSparkPlan", [
        _node("SortMergeJoin", [
            _node("Sort", [_node("Exchange", [scan])]),
            _node("Sort", [_node("InputAdapter", [_node("ReusedExchange")])]),
        ], [("number of output rows", 1)]),
        _node("BroadcastNestedLoopJoin", [
            _node("BroadcastQueryStage", [_node("BroadcastExchange", [scan])]),
            _node("CartesianProduct", [scan, scan], [("number of output rows", 2)]),
        ], [("number of output rows", 3)]),
    ])
    c = plan_counts(tree)
    assert c["exchanges"] == 2  # a reused exchange does no new work
    assert (c["broadcast_joins"], c["sort_merge_joins"]) == (1, 1)
    assert sorted(c["join_accs"]) == [1, 2, 3]
    # SMJ, 2 Sort, Exchange, ReusedExchange, BNLJ, BroadcastExchange,
    # CartesianProduct and 4 scans; the adaptive root and stage wrappers
    # are not counted
    assert c["plan_nodes"] == 12
