"""Run one workload in this process: session, set-up, timed loop, checks,
metrics, and a clean shutdown of every process the run started."""

from __future__ import annotations

import contextlib
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from types import SimpleNamespace

SETUP_REPEATS = 3
# spans of traced runs, one JSON-lines file per workload and seed
TRACE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_traces")
# stop starting new timed iterations once this much of the run has passed,
# so a run ends well inside its 180 s limit
RUN_BUDGET_S = 120.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class PeakMemory:
    """Peak memory of this process and all its descendants (the Spark driver
    JVM and the Python workers), sampled from /proc. Each process counts its
    proportional set size, so pages the forked Python workers share are
    counted once, not once per worker."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except (OSError, IndexError, ValueError):
            pass
        return 0

    def _sample(self) -> None:
        pids = [os.getpid()] + descendants(os.getpid())
        total = sum(self._pss(pid) for pid in pids)
        if total > self.peak:
            self.peak, self.peak_procs = total, len(pids)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM (it exits when its stdin
    closes) and wait for every descendant process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        # close the Py4J connections first, so nothing in this process talks
        # to the JVM while it exits
        with contextlib.suppress(Exception):
            gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            with contextlib.suppress(OSError, ValueError):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)
        for pid in descendants(os.getpid()):
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)
        while descendants(os.getpid()):
            time.sleep(0.1)


def load_metric_spec(repo: str) -> dict:
    with open(os.path.join(repo, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {"end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]}}


def run(workload, work: str, seed: int, seconds: float, trace: bool,
        cores: int) -> dict:
    """One run: set-up, the timed loop, checks, and the result line."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = load_metric_spec(repo)
    t_run = time.perf_counter()

    tracer = None
    # a heap committed up front: peak memory and GC work then do not depend
    # on when the JVM decides to grow its heap
    extra = {"spark.driver.extraJavaOptions":
             f"-Xms{os.environ['CODEGRAPH_DRIVER_MEM']} -XX:+AlwaysPreTouch "
             "-XX:-UsePerfData "
             f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
    extra["spark.ui.showConsoleProgress"] = "false"
    if trace:
        from tracing import Tracer, event_log_conf
        tracer = Tracer(f"{workload.name}-{seed}")
        extra.update(event_log_conf(os.path.join(work, "eventlog")))

    t0 = time.perf_counter()
    from codegraph.session import get_spark
    spark = get_spark(f"perfbench-{workload.name}", cores=cores,
                      extra_conf=extra)
    start_s = time.perf_counter() - t0
    ctx = SimpleNamespace(spark=spark, work=work, seed=seed, cores=cores,
                          tracer=tracer,
                          span=tracer.span if tracer else
                          (lambda name, layer: contextlib.nullcontext()))
    try:
        gen_times = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            workload.generate(ctx, os.path.join(work, "input"))
            gen_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        workload.prepare(ctx)
        setup_s = start_s + statistics.median(gen_times) + time.perf_counter() - t

        if tracer:
            tracer.attach(spark)
            workload.instrument(tracer)

        walls, results, attempted, failed = [], [], 0, 0
        t_loop = time.perf_counter()
        with PeakMemory() as rss:
            while True:
                attempted += 1
                out_dir = os.path.join(work, f"out{attempted}")
                try:
                    t = time.perf_counter()
                    with ctx.span("timed", "run"):
                        workload.timed(ctx, out_dir)
                    wall = time.perf_counter() - t
                    res = workload.result(out_dir)
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    res = None
                if tracer:
                    tracer.detach()
                if res is not None:
                    problems = workload.check(ctx, out_dir, res)
                    for p in problems:
                        print(f"perfbench: check failed: {p}", file=sys.stderr)
                    failed += bool(problems)
                    walls.append(wall)
                    results.append((res, out_dir))
                elapsed = time.perf_counter() - t_loop
                if (tracer or elapsed >= seconds or
                        time.perf_counter() - t_run + elapsed / attempted
                        > RUN_BUDGET_S):
                    break
                spark.catalog.clearCache()

        print(f"perfbench: peak memory {rss.peak / 2 ** 20:.0f} MB over "
              f"{rss.peak_procs} processes", file=sys.stderr)
        if not walls:
            return {"correct": False, "attempted": attempted,
                    "failed": failed, "metrics": {}}
        if tracer:
            res, out_dir = results[-1]
            spark.catalog.clearCache()
            values = workload.layer_metrics(ctx, res, out_dir)
            for p in values.pop("problems", []):
                print(f"perfbench: check failed: {p}", file=sys.stderr)
                failed += 1
            values["session.start_s"] = start_s
            tracer.collect_jobs()
            values.update(trace_summary(tracer, walls[-1]))
            log_dir = os.path.join(work, "eventlog")
        else:
            wall = statistics.median(walls)
            res = results[0][0]
            values = {"setup_s": setup_s, "wall_s": wall,
                      "triples_per_s": res["triples"] / wall,
                      "peak_rss_mb": rss.peak / 2 ** 20,
                      "out_bytes_per_triple": res["out_bytes"] / res["triples"]}
    finally:
        stop_spark(spark)

    if tracer:
        from tracing import task_metrics_by_group
        by_group = task_metrics_by_group(log_dir)
        values.update(event_log_metrics(tracer, by_group))
        for sp in tracer.spans:
            sp.update(by_group.get(sp["group"], {}))
        os.makedirs(TRACE_DIR, exist_ok=True)
        tracer.dump(os.path.join(TRACE_DIR, f"{workload.name}-{seed}.jsonl"),
                    {"workload": workload.name, "seed": seed,
                     "wall_s": values["trace.wall_s"]})
        names = spec["per_layer"]
    else:
        names = spec["end_to_end"]
    missing = [n for n in names if n not in values]
    if tracer:
        # a layer this workload never calls reports 0 for its metrics
        values.update({n: 0 for n in missing})
    elif missing:
        raise RuntimeError(f"workload produced no value for {missing}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": values[n], "unit": u}
                        for n, u in names.items()}}


LAYERS = ("extract", "canon", "link", "gitmeta", "pipeline", "materialize",
          "textops", "simsearch")


def is_exec(sp: dict) -> bool:
    """Spans inside which a layer's Spark work runs: the isolated passes and
    the operator writes (``exec.<layer>...``), and the graph write, which
    executes the whole fused job."""
    return sp["name"].startswith("exec.") or sp["name"] == "materialize.write_graph"


def trace_summary(tracer, wall: float) -> dict:
    """Self time per layer inside the traced timed iteration, how much of
    the iteration's wall time the layer spans cover, and Spark jobs and
    stages per layer."""
    timed = next(s for s in tracer.spans if s["name"] == "timed")
    out = {f"{layer}.self_s": 0.0 for layer in LAYERS}
    for sp in tracer.descendants(timed):
        key = f"{sp['layer']}.self_s"
        if key in out:
            out[key] += tracer.self_time(sp)
    out["trace.coverage"] = sum(out.values()) / wall
    out["trace.wall_s"] = wall
    out["trace.py4j_calls"] = timed["py4j"]

    def count(pred, field="jobs"):
        return sum(s[field] for top in tracer.spans if pred(top)
                   for s in [top] + tracer.descendants(top))

    out["extract.jobs"] = count(lambda s: s["name"] == "exec.extract")
    out["link.jobs"] = count(lambda s: s["name"].startswith("exec.link"))
    out["link.stages"] = count(lambda s: s["name"].startswith("exec.link"),
                               "stages")
    out["pipeline.build_jobs"] = count(
        lambda s: s["name"] == "pipeline.run_pipeline")
    out["materialize.write_jobs"] = count(
        lambda s: s["name"] == "materialize.write_graph")
    return out


def event_log_metrics(tracer, by_group: dict) -> dict:
    """Task time, GC, spill and peak execution memory per layer, over the
    spans that execute that layer's work, and the bytes the link joins
    shuffle."""
    out = {}
    for layer in LAYERS:
        agg = {"task_s": 0.0, "gc_s": 0.0, "spill_bytes": 0,
               "peak_exec_mem_mb": 0.0, "shuffle_write_bytes": 0}
        for top in tracer.spans:
            if not (is_exec(top) and top["layer"] == layer):
                continue
            for sp in [top] + tracer.descendants(top):
                m = by_group.get(sp["group"])
                if not m:
                    continue
                for k in ("task_s", "gc_s", "spill_bytes", "shuffle_write_bytes"):
                    agg[k] += m[k]
                agg["peak_exec_mem_mb"] = max(agg["peak_exec_mem_mb"],
                                              m["peak_exec_mem_mb"])
        out.update({f"{layer}.{k}": v for k, v in agg.items()})
    return out
