"""Tracing for the traced run: spans kept in memory around every call the
benchmark makes into the engine, and Spark task metrics read back from
Spark's own event log and charged to the benchmark operation that ran
them. Off by default: a disabled tracer records nothing and touches no
Spark state."""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

OP_PROPERTY = "perfbench.op"
SPARK_FIELDS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_bytes", "shuffle_write_bytes", "spill_bytes",
)


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._n_ops = 0

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Time one call. ``op`` opens a new operation: its id tags the
        span, its children and every Spark job started inside it."""
        if not self.enabled:
            yield
            return
        parent = self.spans[self._stack[-1]] if self._stack else None
        if op is not None:
            self._n_ops += 1
            op_id = f"{op}#{self._n_ops}"
            self.spark.sparkContext.setLocalProperty(OP_PROPERTY, op_id)
        else:
            op_id = parent["op"] if parent else None
        rec = {"id": len(self.spans), "name": name, "op": op_id,
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if op is not None:
                self.spark.sparkContext.setLocalProperty(
                    OP_PROPERTY, parent["op"] if parent else None
                )

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: total seconds and self seconds (duration minus
        the time its direct children cover; children never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            d = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            d["calls"] += 1
            d["total_s"] += s["end"] - s["start"]
            d["self_s"] += s["end"] - s["start"] - child[s["id"]]
        return out


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Aggregate task metrics per operation kind from the event log(s) in
    ``log_dir``. Returns ({op: {field: value}}, {op: {call site: run s}})."""
    job_op: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    job_site: dict[int, str] = {}
    sql_site: dict[str, str] = {}
    ops: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0))
    sites: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events*"), recursive=True)
                       + glob.glob(os.path.join(log_dir, "local-*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SparkListenerSQLExecutionStart"):
                    # a query stage submitted by AQE names a JVM thread pool
                    # as its call site; its SQL execution names the caller
                    sql_site[str(ev["executionId"])] = ev.get("description", "?")
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    op = props.get(OP_PROPERTY)
                    if not op:
                        continue
                    jid = ev["Job ID"]
                    job_op[jid] = op.split("#")[0]
                    infos = ev.get("Stage Infos") or [{}]
                    job_site[jid] = sql_site.get(
                        props.get("spark.sql.execution.id"),
                        min(infos, key=lambda s: s.get("Stage ID", 0)).get("Stage Name", "?"),
                    )
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                    ops[job_op[jid]]["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    o = ops[job_op[jid]]
                    run_s = m.get("Executor Run Time", 0) / 1e3
                    o["tasks"] += 1
                    o["executor_run_s"] += run_s
                    o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    o["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    o["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    o["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    sites[job_op[jid]][job_site[jid]] += run_s
    return {k: dict(v) for k, v in ops.items()}, {k: dict(v) for k, v in sites.items()}
