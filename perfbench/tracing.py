"""Spans, Spark job groups, Py4J round trips and the Spark event log.

The tracer instruments ``codegraph`` from outside: it replaces public
functions with wrappers that open a span, so nothing inside the package
changes. Each span sets its own Spark job group (``s<span id>``), which ties
every job the span triggers — and, through the event log, every task of
those jobs — to the span. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self._sc = None
        self._client = None
        self.py4j_calls = 0

    # -- instrumentation ---------------------------------------------------

    def attach(self, spark) -> None:
        """Start counting Py4J round trips and setting job groups. Every
        JVM call from the Spark driver goes through the gateway client's
        ``send_command``. Only calls from this thread count: py4j's
        finalizer thread releases JVM objects whenever Python's garbage
        collector runs, which would make the count vary from run to run."""
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        send = client.send_command
        me = threading.get_ident()

        def counted(*a, **k):
            if threading.get_ident() == me:
                self.py4j_calls += 1
            return send(*a, **k)

        client.send_command = counted
        self._client = (client, send)

    def wrap(self, module, attr: str, layer: str) -> None:
        orig = getattr(module, attr)
        name = f"{orig.__module__.split('.', 1)[-1]}.{attr}"

        @functools.wraps(orig)
        def traced(*a, **k):
            with self.span(name, layer):
                return orig(*a, **k)

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def detach(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()
        if self._client is not None:
            client, send = self._client
            client.send_command = send
            self._client = None

    def _set_group(self, span: dict | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "parent": parent["id"] if parent else None,
              "name": name, "layer": layer, "run": self.run_id,
              "group": f"s{len(self.spans)}", "start": time.perf_counter(),
              "end": None, "py4j": self.py4j_calls}
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            self._set_group(parent)
            sp["end"] = time.perf_counter()
            sp["py4j"] = self.py4j_calls - sp["py4j"]

    # -- read-out ----------------------------------------------------------

    def duration(self, sp: dict) -> float:
        return sp["end"] - sp["start"]

    def self_time(self, sp: dict) -> float:
        children = [c for c in self.spans if c["parent"] == sp["id"]]
        return self.duration(sp) - sum(self.duration(c) for c in children)

    def descendants(self, sp: dict) -> list[dict]:
        out, todo = [], [sp["id"]]
        while todo:
            pid = todo.pop()
            kids = [c for c in self.spans if c["parent"] == pid]
            out.extend(kids)
            todo.extend(c["id"] for c in kids)
        return out

    def collect_jobs(self) -> None:
        """Jobs and stages per span from the status tracker. Call before
        the session stops."""
        st = self._sc.statusTracker()
        for sp in self.spans:
            jobs = st.getJobIdsForGroup(sp["group"])
            sp["jobs"] = len(jobs)
            stages = 0
            for j in jobs:
                info = st.getJobInfo(j)
                stages += len(info.stageIds) if info is not None else 0
            sp["stages"] = stages

    def dump(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps(header) + "\n")
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false"}


def task_metrics_by_group(log_dir: str) -> dict[str, dict]:
    """Parse the (uncompressed, possibly rolling) event log into task
    metrics per job group: executor run time, GC time, shuffle bytes
    written, spill, and the largest per-task peak execution memory."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: {
        "task_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "peak_exec_mem_mb": 0.0, "tasks": 0})
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                        recursive=True) if os.path.isfile(p))
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"Event":"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev.get("Stage IDs", []):
                        stage_group.setdefault(s, group)
                elif '"Event":"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    m = out[group]
                    m["tasks"] += 1
                    m["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics")
                                                 or {}).get("Shuffle Bytes Written", 0)
                    m["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                         + tm.get("Disk Bytes Spilled", 0))
                    m["peak_exec_mem_mb"] = max(
                        m["peak_exec_mem_mb"],
                        tm.get("Peak Execution Memory", 0) / 2 ** 20)
    return dict(out)
