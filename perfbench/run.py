"""codegraph benchmark: one workload run per process.

    python3 perfbench/run.py --workload index_fleet --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``,
starts its own Spark session at ``local[4]``, times the workload for at least
``--seconds`` (one batch job at minimum), checks every output against an
independent answer outside the timed window, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the workload once with spans around the
calls into each ``codegraph`` layer and reports the per-layer metrics.

Everything the run writes lives under ``perfbench/_run/`` and is removed when
the run ends. See ``perfbench/README.md`` for workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CORES = 4
DRIVER_MEM = "2g"


def pin_environment(work: str) -> None:
    """Fix everything a run inherits before pyspark is imported: the Python
    workers need the repo on their path, the Spark driver heap must fit a
    15 GiB host (the session default is 48g), and Spark's scratch space
    goes into this run's own directory instead of RAM-backed /dev/shm."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = f"{REPO}:{prior}" if prior else REPO
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["CODEGRAPH_DRIVER_MEM"] = DRIVER_MEM
    os.environ["CODEGRAPH_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("CODEGRAPH_AQE_MIN_BYTES", None)
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "codegraph")):
        print(f"perfbench: no codegraph package under {REPO}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    sys.path.insert(0, HERE)
    try:
        try:
            import harness
            from workloads import WORKLOADS
        except ImportError as e:
            print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
            return 2
        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        result = harness.run(WORKLOADS[args.workload], work, args.seed,
                             args.seconds, bool(args.trace), CORES)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    t0 = time.time()
    rc = main()
    print(f"perfbench: exit {rc} after {time.time() - t0:.1f}s", file=sys.stderr)
    sys.exit(rc)
