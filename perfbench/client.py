"""One benchmark client process: set up the engine, then run op passes.

Usage: python3 perfbench/client.py SPEC_JSON OUT_JSON

The client drives the engine only through its public functions
(``session.get_spark``, ``registry.warm_tables``, ``catalog.queries()[op]``
and ``DataFrame.toPandas``). It is single-threaded and closed-loop: each op
call starts only after the previous result has been collected.

SPEC keys: ``ops``, ``sf_dir``, ``cores``, ``warm`` (cache tables and run one
untimed pass first), ``passes`` and ``pass_budget_s`` (run timed passes until
``pass_budget_s`` of timed work is done, at least ``passes`` of them),
``order_key`` (seeds the op order of each pass), ``spawned_at`` (the parent's
``time.time()`` just before it started this process), ``trace`` and
``event_log_dir``.

Untraced, each invocation is timed as one block (build, plan, execute and
Arrow collect). Traced, the client records spans around each layer call,
tags each phase's Spark jobs with the job group ``<n>:<op>:<phase>``, counts
the py4j commands the benchmark thread sends, and folds Spark's event log
into the per-invocation records after the session stops.
"""

from __future__ import annotations

import json
import random
import sys
import threading
import time
import traceback

from spans import Tracer, self_times

# Job-group suffix of each phase of an invocation -> the span around it.
PHASES = {"build": "catalog.build", "plan": "catalyst.plan", "exec": "exec"}


def pass_order(ops: list[str], order_key: str, n: int) -> list[str]:
    """The op order of pass ``n`` (-1 is the untimed warm-up pass)."""
    return random.Random(f"{order_key}/{n}").sample(ops, len(ops))


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size (VmHWM) of a process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"no VmHWM for pid {pid}")


class Py4JCounter:
    """Counts py4j commands sent from the benchmark thread, per label.

    Wraps the gateway client's ``send_command``. Object-release commands
    (sent when Python garbage-collects a JVM handle, at times that vary run
    to run) and commands from other threads are not counted, so the count
    repeats exactly for the same op sequence."""

    def __init__(self, gateway_client) -> None:
        self.counts: dict[str, int] = {}
        self.label: str | None = None
        self._thread = threading.current_thread()
        send = gateway_client.send_command

        def counting_send(command, *args, **kwargs):
            if (self.label is not None
                    and threading.current_thread() is self._thread
                    and not command.startswith("m\nd\n")):
                self.counts[self.label] = self.counts.get(self.label, 0) + 1
            return send(command, *args, **kwargs)

        gateway_client.send_command = counting_send


class Client:
    def __init__(self, spec: dict) -> None:
        self.spec = spec
        self.tracer = Tracer() if spec["trace"] else None
        self.records: list[dict] = []
        self.setup: dict = {}
        self.invocations = 0  # numbers every invocation, warm-up pass included

    def _span(self, name: str, **attrs):
        if self.tracer is None:
            from contextlib import nullcontext
            return nullcontext()
        return self.tracer.span(name, **attrs)

    def start(self) -> None:
        spec = self.spec
        with self._span("setup"):
            with self._span("session"):
                t = time.perf_counter()
                from ai_dataingestion_spark.session import get_spark, session_builder

                master = f"local[{spec['cores']}]"
                if spec["trace"]:
                    self.spark = (
                        session_builder(master=master)
                        .config("spark.eventLog.enabled", "true")
                        .config("spark.eventLog.dir", "file://" + spec["event_log_dir"])
                        .config("spark.eventLog.compress", "false")
                        .getOrCreate()
                    )
                else:
                    self.spark = get_spark(master=master)
                self.spark.sparkContext.setLogLevel("ERROR")
                self.setup["session_s"] = time.perf_counter() - t
            with self._span("catalog.import"):
                t = time.perf_counter()
                from ai_dataingestion_spark import catalog, opcache

                self.queries = catalog.queries()
                self.opcache = opcache
                self.setup["catalog_import_s"] = time.perf_counter() - t
            self.sc = self.spark.sparkContext
            self.py4j = (
                Py4JCounter(self.sc._gateway._gateway_client) if spec["trace"] else None
            )
            if spec["warm"]:
                from ai_dataingestion_spark.registry import warm_tables

                with self._span("registry.warm"):
                    t = time.perf_counter()
                    warm_tables(self.spark, spec["sf_dir"])
                    self.setup["warm_s"] = time.perf_counter() - t
                if spec["trace"]:
                    infos = self.sc._jsc.sc().getRDDStorageInfo()
                    self.setup["cached_bytes"] = sum(
                        i.memSize() + i.diskSize() for i in infos
                    )
                with self._span("warmup_pass"):
                    for op in pass_order(spec["ops"], spec["order_key"], -1):
                        self.invoke(op, -1)
        self.ready_at = time.time()

    def invoke(self, op: str, pass_no: int) -> dict:
        """One closed-loop op invocation; returns its record. Timed passes
        (``pass_no >= 0``) are recorded, with the output digest taken after
        the timed block."""
        from canon import NonScalarCell, digest

        rec = {"op": op, "pass": pass_no, "raised": None}
        self.invocations += 1
        phase = "build"
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                df = self.queries[op](self.spark, self.spec["sf_dir"])
                phase = "exec"
                pdf = df.toPandas()
            else:
                pdf = self._traced_invoke(op, f"{self.invocations}:{op}", rec)
        except Exception as e:  # the op's failure is a result, not a crash
            rec["raised"] = rec.pop("phase", phase)
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            pdf = None
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            if self.py4j is not None:
                self.py4j.label = None
        if pass_no < 0:
            return rec
        if pdf is not None:
            rec["rows"] = len(pdf)
            try:
                rec["digest"] = digest(pdf)
            except NonScalarCell as e:
                rec["raised"] = "digest"
                rec["error"] = f"{type(e).__name__}: {e}"
            if self.tracer is not None:
                rec["collect_bytes"] = int(pdf.memory_usage(index=False, deep=True).sum())
        if self.tracer is not None:
            rec["opcache_live"] = self.opcache.live_cache_count()
        self.records.append(rec)
        return rec

    def _traced_invoke(self, op: str, tag: str, rec: dict):
        """Build, plan and collect under spans and per-phase job groups
        ``<tag>:<phase>``; the tag is unique per invocation."""
        rec["group"] = tag
        with self.tracer.span("invoke", op=op, group=tag) as inv:
            rec["span"] = inv.id
            for phase, span_name in PHASES.items():
                rec["phase"] = phase
                # The benchmark's own commands are not counted: the label is
                # set only once the job group is.
                self.py4j.label = None
                self.sc.setJobGroup(f"{tag}:{phase}", op)
                self.py4j.label = f"{tag}:{phase}"
                with self.tracer.span(span_name) as span:
                    if phase == "build":
                        df = self.queries[op](self.spark, self.spec["sf_dir"])
                    elif phase == "plan":
                        df._jdf.queryExecution().executedPlan()
                    else:
                        pdf = df.toPandas()
                rec[f"{phase}_s"] = span.duration
            rec.pop("phase")
            self.py4j.label = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return pdf

    def run_passes(self) -> None:
        spec = self.spec
        spent = 0.0
        p = 0
        while p < spec["passes"] or spent < spec["pass_budget_s"]:
            for op in pass_order(spec["ops"], spec["order_key"], p):
                spent += self.invoke(op, p)["wall_s"]
            p += 1

    def finish(self) -> dict:
        jvm_pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        rss_kb = {"jvm": vm_hwm_kb(jvm_pid), "python": vm_hwm_kb()}
        self.spark.stop()
        out = {
            "ready_at": self.ready_at,
            "setup": self.setup,
            "peak_rss_mb": sum(rss_kb.values()) / 1024.0,
            "peak_rss_kb": rss_kb,
            "records": self.records,
        }
        if self.tracer is not None:
            self._fold_trace(out)
        return out

    def _fold_trace(self, out: dict) -> None:
        from eventlog import FIELDS, read_events, reduce_event_log

        groups = reduce_event_log(read_events(self.spec["event_log_dir"]))
        selfs = self_times(self.tracer.spans)
        zero = dict.fromkeys(FIELDS, 0)
        py4j = self.py4j.counts
        for rec in self.records:
            # time inside the invocation but outside its three phases
            rec["invoke_self_s"] = selfs[rec.pop("span")]
            rec["layers"] = {
                phase: groups.get(f"{rec['group']}:{phase}", zero)
                for phase in PHASES
            }
            rec["py4j_calls"] = {
                phase: py4j.get(f"{rec['group']}:{phase}", 0) for phase in PHASES
            }
        out["spans"] = [
            {"id": s.id, "parent": s.parent, "name": s.name, "start": s.start,
             "end": s.end, "self_s": selfs[s.id], **s.attrs}
            for s in self.tracer.spans
        ]


def main(spec_path: str, out_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    client = Client(spec)
    try:
        client.start()
        client.run_passes()
        out = client.finish()
    except Exception:
        traceback.print_exc()
        return 1
    with open(out_path, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
