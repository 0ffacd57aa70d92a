"""Repository benchmark for the ingestion engine.

Usage (from the repository root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads are defined in ``perfbench/workloads.json``. The runner generates
the corpus (fixed data; ``--seed`` only permutes the op order), computes the
DuckDB oracle digest of every op, then starts client processes one after
another (``perfbench/client.py``; one client, closed loop, ``local[nproc]``)
until ``--seconds`` of timed op work is done. A warm workload's client runs
timed passes until the budget is spent, at least ``WARM_PASSES``; a cold
workload's client runs one pass. Every op output is checked against the
oracle outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs untraced
clients, then traced ones, one timed pass each, and prints the per-layer
metrics. Both write a per-run record (per-op records, layer totals,
spans, box-speed record, samples) under ``.perfbench_work/records/``. The
last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

All scratch output (Spark warehouse, temp files, event logs, sink output)
stays under ``.perfbench_work/`` in the working directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import canon  # noqa: E402
import corpus  # noqa: E402
import layers  # noqa: E402

CHILD_TIMEOUT_S = 150.0
WORK_DIR = ".perfbench_work"
# Minimum number of timed passes of a warm client (a cold client runs one).
WARM_PASSES = 2
# The driver heap of every client: the engine's own floor (session.py's
# _default_driver_mem never picks less), pinned so peak RSS repeats.
DRIVER_MEM = "2g"


def box_record() -> dict:
    """CPU canary and load average: identifies a drifted run from its own
    output. It adjusts no metric."""
    t = time.perf_counter()
    for i in range(200_000):
        hashlib.md5(i.to_bytes(8, "little")).digest()
    canary = time.perf_counter() - t
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"cpu_canary_s": canary, "loadavg": load}


def oracle_digests(ops: list[str], sf_dir: str, cache_dir: str) -> dict[str, list | str | None]:
    """DuckDB oracle digest per op (None: the op has no oracle SQL; a string:
    the oracle itself raised). Digests are cached under ``cache_dir``, keyed
    by the corpus stamp, the comparison rules (the source of canon.py and
    driver_sim.py), the DuckDB version and the oracle SQL text."""
    import duckdb

    from ai_dataingestion_spark.catalog import oracle_sql

    with open(os.path.join(sf_dir, corpus.STAMP)) as f:
        stamp = f.read()
    for path in (canon.__file__, canon.norm_cell.__code__.co_filename):
        with open(path) as f:
            stamp += f.read()
    sqls = oracle_sql()
    out: dict[str, list | str | None] = {}
    con = None
    try:
        for op in ops:
            if op not in sqls:
                out[op] = None
                continue
            key = hashlib.sha256(
                "\0".join((stamp, duckdb.__version__, sqls[op])).encode()
            ).hexdigest()
            path = os.path.join(cache_dir, f"{op}-{key[:16]}.json")
            if os.path.exists(path):
                with open(path) as f:
                    out[op] = json.load(f)
                continue
            if con is None:
                con = duckdb.connect()
                for t in corpus.TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                    )
            try:
                out[op] = canon.digest(con.execute(sqls[op]).fetchdf())
            except Exception as e:  # reported as a failure of every invocation
                out[op] = f"oracle raised {type(e).__name__}: {str(e)[:200]}"
                continue
            os.makedirs(cache_dir, exist_ok=True)
            with open(path, "w") as f:
                json.dump(out[op], f)
        return out
    finally:
        if con is not None:
            con.close()


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            pids.append(int(entry))
    return pids


def _reap_group(pgid: int) -> None:
    """Stop every process left in a client's process group (the JVM and its
    Python workers) and wait until none remains."""
    deadline = time.time() + 20
    sig = signal.SIGTERM
    while _group_pids(pgid):
        if time.time() > deadline - 10:
            sig = signal.SIGKILL
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if time.time() > deadline:
            raise RuntimeError(f"processes of group {pgid} did not stop")
        time.sleep(0.2)


def run_client(spec: dict, run_dir: str, env: dict, timeout: float) -> dict:
    spec_path = os.path.join(run_dir, "spec.json")
    out_path = os.path.join(run_dir, "out.json")
    err_path = os.path.join(run_dir, "stderr.log")
    spec["spawned_at"] = time.time()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(err_path, "w") as err:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "client.py"), spec_path, out_path],
            cwd=run_dir, env=env, start_new_session=True,
            stdout=subprocess.DEVNULL, stderr=err,
        )
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _reap_group(proc.pid)
            proc.wait()
    if rc != 0:
        with open(err_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"client exited with {rc}:\n{tail}")
    with open(out_path) as f:
        out = json.load(f)
    out["setup_s"] = out["ready_at"] - spec["spawned_at"]
    out["process_s"] = time.time() - spec["spawned_at"]
    return out


def client_env(root: str, scratch: str) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "PYTHONPATH": root + os.pathsep + HERE,
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # The Spark driver JVM heap is pinned: a fixed size (the engine's
        # default sizes it from host RAM), committed and touched at start, so
        # peak RSS repeats run to run instead of following when the collector
        # grew the heap. The JVM keeps its temp files inside the checkout.
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
    })
    return env


def run_clients(cfg: dict, args, sf_dir: str, root: str, scratch: str,
                trace: bool, deadline: float) -> list[dict]:
    """Client processes, one after another, until ``--seconds`` of timed op
    work is done (at least one). In a traced run each client runs a single
    timed pass, so the untraced and the traced clients together end within
    the time limit."""
    env = client_env(root, scratch)
    budget_s = 0.0 if args.trace else args.seconds
    outs: list[dict] = []
    spent = 0.0
    while not outs or spent < budget_s:
        i = len(outs)
        run_dir = os.path.join(scratch, f"{'traced' if trace else 'plain'}-{i}")
        os.makedirs(run_dir)
        spec = {
            "ops": cfg["ops"], "sf_dir": sf_dir, "cores": os.cpu_count(),
            "warm": cfg["warm"], "trace": trace,
            "passes": WARM_PASSES if cfg["warm"] and not args.trace else 1,
            "pass_budget_s": (budget_s - spent) if cfg["warm"] else 0.0,
            "order_key": f"{args.workload}/{args.seed}/{i}",
            "event_log_dir": os.path.join(run_dir, "eventlog"),
        }
        if trace:
            os.makedirs(spec["event_log_dir"])
        out = run_client(spec, run_dir, env, min(CHILD_TIMEOUT_S, deadline - time.time()))
        out["client"] = i
        outs.append(out)
        spent += sum(r["wall_s"] for r in out["records"])
    return outs


def end_to_end(outs: list[dict]) -> tuple[dict, dict]:
    setup = [o["setup_s"] for o in outs]
    walls = layers.pass_walls(outs)
    rss = [o["peak_rss_mb"] for o in outs]
    metrics = {
        "setup_s": {"value": statistics.median(setup), "unit": "s"},
        "wall_s": {"value": layers.median_pass_wall(outs), "unit": "s"},
        "peak_rss_mb": {"value": statistics.median(rss), "unit": "MiB"},
    }
    samples = {"setup_s": setup, "wall_s": walls, "peak_rss_mb": rss}
    return metrics, samples


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # On SIGTERM, unwind through the cleanup below (stop the client's process
    # group, remove scratch output) instead of dying in place.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    started = time.time()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ai_dataingestion_spark", "catalog.py")):
        print("perfbench: run from the repository root (engine package "
              "ai_dataingestion_spark/ not found)", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2
    cfg = workloads[args.workload]
    sys.path.insert(0, root)

    work = os.path.join(root, WORK_DIR)
    sf_dir = corpus.generate(os.path.join(work, "corpus", f"sf{cfg['sf']}"), cfg["sf"])
    scratch = os.path.join(work, "scratch", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(scratch)
    try:
        box_start = box_record()
        oracle = oracle_digests(cfg["ops"], sf_dir, os.path.join(work, "oracle"))
        oracle_done = time.time()
        deadline = started + 175.0
        plain = run_clients(cfg, args, sf_dir, root, scratch, False, deadline)
        traced = (
            run_clients(cfg, args, sf_dir, root, scratch, True, deadline)
            if args.trace else []
        )
        box_end = box_record()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    records = [r for o in plain + traced for r in o["records"]]
    attempted, failed = canon.count_failures(records, oracle)
    e2e, samples = end_to_end(plain)
    detail = {
        "workload": args.workload, "seed": args.seed, "sf": cfg["sf"],
        "clients": len(plain), "end_to_end": e2e, "samples": samples,
        "fail_ratio": failed / attempted,
        "failures": [
            {k: r.get(k) for k in ("op", "pass", "raised", "error")}
            for r in records if canon.invocation_failed(r, oracle)
        ],
        "box": {"start": box_start, "end": box_end},
        "runner_s": {
            "before_clients": oracle_done - started,
            "clients": [o["process_s"] for o in plain + traced],
            "total": time.time() - started,
        },
    }
    metrics = e2e
    if args.trace:
        metrics, detail["layer_totals_by_pass"] = layers.per_layer(
            plain, traced, os.cpu_count()
        )
        detail["layers"] = metrics
    os.makedirs(os.path.join(work, "records"), exist_ok=True)
    record_path = os.path.join(
        work, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(record_path, "w") as f:
        json.dump({**detail, "oracle": oracle, "clients_out": plain + traced}, f)

    print(f"perfbench {args.workload} seed={args.seed}: "
          f"fail_ratio={failed}/{attempted} " + " ".join(
              f"{name}={m['value']:.4g} {m['unit']} (n={len(samples[name])})"
              for name, m in e2e.items()))
    print(f"perfbench record: {os.path.relpath(record_path, root)} "
          f"box={json.dumps(detail['box'])}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
