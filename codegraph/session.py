"""SparkSession factory tuned for the KG-construction workload.

Local mode stands in for a multi-executor cluster; the configs below are the
ones that matter at 100 TB scale too: AQE (runtime re-plan + skew-join
splitting for the hot-namespace entity-linking join), Arrow for the
pandas-UDF extraction stage, and shuffle partitions sized to the
parallelism level instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "codegraph",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` overrides the default ``local[cores]`` — used by the
    bench's topology-control legs (``local-cluster[W,C,M]`` spawns separate
    worker JVMs, isolating the harness from single-JVM thread contention);
    ``cores`` still sizes shuffle partitions in that case."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2048 vs 4096 is a wash once windows are PAIRED (A/B/A/B at sf0.1:
        # 22.2 s vs 22.5 s warm; an initial unpaired sweep suggesting 2x was
        # an ordering artifact - the first leg in a session sequence pays a
        # ~2x cold penalty on this host). 2048 kept: never slower in any
        # paired window, and smaller batches bound per-worker peak memory
        # when source rows carry multi-KB contents
        # (BENCH/BASELINE.md, "Config experiments")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # shuffle codec stays the lz4 default: a round-4 PAIRED A/B/A/B at
        # the 15.9M-triple scale corpus (local[8], per-session sf0.001
        # warmup) measured lz4 best-of-2 179.9 s vs zstd 181.5 s — the
        # round-3 unpaired "zstd win" (738 s vs 840 s) was the same
        # first-leg-cold ordering artifact as the arrow-batch sweep
        # (BENCH/BASELINE.md, "zstd shuffle-compression")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("CODEGRAPH_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", os.environ.get("CODEGRAPH_LOCAL_DIR",
                                                  "/dev/shm/codegraph-spark"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the linking joins are equi-joins on short keys: shuffled-hash beats
        # sort-merge (no sort of either side; ~12% full-pipeline gain
        # measured at the 48M-triple corpus). NOTE the guard against an
        # oversized build side is PLAN-TIME only (size-estimate heuristic):
        # a build side that exceeds memory at runtime OOMs the task — there
        # is no runtime fallback to SMJ. The linking joins additionally carry
        # explicit shuffle_hash hints on their bounded dictionary sides
        # (link.py), so flipping this back to true at 100 TB (where a
        # misestimated self-join build side is plausible) keeps them on SHJ.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    if master and master.startswith("local-cluster"):
        # separate executor JVMs spawn their own python workers, which do
        # NOT inherit the driver's sys.path — ship the repo root the way
        # spark-submit --py-files would (the bench topology legs hit
        # ModuleNotFoundError: codegraph without this)
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        prior = os.environ.get("PYTHONPATH")
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            f"{repo_root}:{prior}" if prior else repo_root)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
