"""Materialization: bucketed writes, checkpoint ledger, lineage metrics.

The reference flushes count-based micro-batches and is re-runnable because
every write is a MERGE (Q3/Q4, SolutionProcessor.cs:178-189). The Spark
equivalent: stage outputs land as parquet checkpoints with a driver-side
ledger; a killed run restarts at the last completed stage/bucket. Node/edge
tables are partitioned by repo-hash bucket so downstream consumers can prune
by bucket. Every bucket-partitioned write goes through ``write_table``, which
pays ONE shuffle by bucket before ``partitionBy``: without it every upstream
task opens its own writer per bucket it holds (the 8-repo ``index_fleet``
benchmark graph came out as 624 files of ~5 KB for 3.3 MB), and the final
write stages spend most of their time opening and closing parquet files
instead of encoding rows.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Ledger:
    """Append-only JSONL checkpoint ledger. A stage is complete when a
    'done' entry exists AND its parquet _SUCCESS marker is present."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        os.makedirs(run_dir, exist_ok=True)
        self.path = os.path.join(run_dir, "ledger.jsonl")

    def _entries(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def stage_dir(self, stage: str) -> str:
        return os.path.join(self.run_dir, stage)

    def is_done(self, stage: str) -> bool:
        done = any(e["stage"] == stage and e["status"] == "done"
                   for e in self._entries())
        return done and os.path.exists(os.path.join(self.stage_dir(stage), "_SUCCESS"))

    def mark(self, stage: str, status: str, **extra) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps({"stage": stage, "status": status,
                                "ts": time.time(), **extra}) + "\n")


def aqe_on(spark: SparkSession) -> bool:
    return spark.conf.get("spark.sql.adaptive.enabled", "true").lower() == "true"


# measured source bytes per classic-planner writer task. The generated fleet
# corpus's graph is ~10x its source parquet bytes (62 KB -> 631 KB), so one
# writer gets at most ~80 MB of graph parquet
WRITER_TARGET_BYTES = 8 * 1024 ** 2


def writers_per_bucket(spark: SparkSession) -> int:
    """Classic-planner tasks that share one bucket: one per
    ``WRITER_TARGET_BYTES`` of the source input ``_gate_aqe`` measured, at
    most one per shuffle partition. Any one bucket may hold the whole input
    (a single repo, or one hot repo), so the count is sized from the total,
    not from an even spread over buckets: a few-repo input keeps its writer
    parallelism, and an input under 8 MiB (or one the gate did not size)
    gets one writer and one file per bucket."""
    measured = int(spark.conf.get("codegraph.input_bytes", "0"))
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(parts, -(-measured // WRITER_TARGET_BYTES)))


def cluster_for_write(df: DataFrame, bucketed: bool = True) -> DataFrame:
    """Cluster ``df`` so each output partition is written by few tasks.

    Classic planner (``_gate_aqe`` turns AQE off below its byte gate):
    ``repartition`` by ``bucket`` and a row-hash sub-key with
    ``writers_per_bucket`` values, so a bucket is written by that many tasks
    at most — one task and one file for a small input; an unbucketed table
    gets one writer. AQE on (at scale): the ``rebalance`` hint, so AQE sizes
    the writer tasks from runtime bytes and splits a hot bucket. Spark drops
    the ``rebalance`` hint when AQE is off, which is why the two planners
    need different calls. Row sets never change — only which task writes
    which rows."""
    spark = df.sparkSession
    if aqe_on(spark):
        return df.hint("rebalance", "bucket") if bucketed else df.hint("rebalance")
    if not bucketed:
        return df.repartition(1)
    k = writers_per_bucket(spark)
    if k == 1:
        return df.repartition("bucket")
    # a hash of the whole row, so a retried task writes the same rows
    return df.repartition("bucket", F.pmod(F.xxhash64(*df.columns), F.lit(k)))


def write_table(df: DataFrame, path: str, bucketed: bool = True) -> None:
    """The one writer for graph tables: ``bucketed`` tables are partitioned
    by repo-hash ``bucket`` (one file per bucket for a small input)."""
    writer = cluster_for_write(df, bucketed).write.mode("overwrite")
    if bucketed:
        writer = writer.partitionBy("bucket")
    writer.parquet(path)


def checkpoint_stage(spark: SparkSession, ledger: Ledger, stage: str,
                     build, bucketed: bool = False) -> DataFrame:
    """Run ``build()`` -> DataFrame and persist it as a parquet checkpoint,
    unless the ledger already has it (resume path: read back, skip compute).
    ``bucketed`` stages are graph tables and go through ``write_table``."""
    out = ledger.stage_dir(stage)
    if ledger.is_done(stage):
        return spark.read.parquet(out)
    ledger.mark(stage, "start")
    df = build()
    if bucketed:
        write_table(df, out)
    else:
        df.write.mode("overwrite").parquet(out)
    ledger.mark(stage, "done", path=out)
    return spark.read.parquet(out)


def write_graph(nodes: DataFrame, edges: DataFrame, files: DataFrame,
                out_dir: str, stamp: bool = False,
                run_ts: float | None = None) -> None:
    """Final graph export. With ``stamp=True`` every row carries the
    reference's upsert-boundary provenance columns (UpsertSymbols.cypher:
    18-19 sets ``updatedAt = datetime()`` + ``CodeToNeo4j = true`` on every
    MERGE): ``updated_at`` is ONE constant-per-run timestamp — resolved
    driver-side, never per-task, so re-executed tasks stay deterministic —
    and ``code_to_neo4j`` reproduces the scoping flag a downstream Neo4j
    load uses to find rows this tool owns. Literal columns are free at any
    scale (constant-folded, no shuffle)."""
    if stamp:
        ts = F.timestamp_seconds(F.lit(run_ts if run_ts is not None
                                       else time.time()))
        def _stamped(df: DataFrame) -> DataFrame:
            return (df.withColumn("updated_at", ts)
                    .withColumn("code_to_neo4j", F.lit(True)))
        nodes, edges, files = _stamped(nodes), _stamped(edges), _stamped(files)
    write_table(nodes, os.path.join(out_dir, "nodes"))
    write_table(edges, os.path.join(out_dir, "edges"))
    write_table(files, os.path.join(out_dir, "files"), bucketed=False)


def lineage_metrics(source: DataFrame, records: DataFrame) -> DataFrame:
    """Per-partition lineage: rows in / symbols / edges / mentions out +
    content sha checks, keyed by repo bucket (north_rule: per-partition
    lineage + metrics logged)."""
    from codegraph.schema import N_BUCKETS

    b = F.pmod(F.xxhash64("repo"), F.lit(N_BUCKETS)).cast("int").alias("bucket")
    src = source.select(b).groupBy("bucket").agg(
        F.count("*").alias("rows_in"))
    rec = records.select(b, "rec").groupBy("bucket").pivot(
        "rec", ["symbol", "rel", "mention", "url", "filemeta"]).count()
    return (src.join(rec, "bucket", "left").na.fill(0)
            .withColumnRenamed("symbol", "symbols_out")
            .withColumnRenamed("rel", "rels_out")
            .withColumnRenamed("mention", "mentions_out")
            .withColumnRenamed("url", "urls_out")
            .withColumnRenamed("filemeta", "files_out"))


def run_checkpointed(spark: SparkSession, run_dir: str, source: DataFrame,
                     commit_log: DataFrame | None = None,
                     assembly_refs: DataFrame | None = None,
                     pkg_metadata: DataFrame | None = None,
                     **pipeline_kwargs) -> dict[str, DataFrame]:
    """Checkpoint-resumable pipeline driver: extraction, linking, and the
    node/edge/files tables each land as a ledger-tracked parquet stage. A
    killed run re-invoked with the same run_dir resumes at the first
    incomplete stage."""
    from codegraph import canon, link
    from codegraph import pipeline as P

    ledger = Ledger(run_dir)
    P._gate_aqe(spark, source)  # also gates the dictionary join strategy

    filtered = P.apply_diff_filter(P.discover(source),
                                   pipeline_kwargs.pop("diff", None))

    records = checkpoint_stage(
        spark, ledger, "extract",
        lambda: _extract_stage(filtered, pkg_metadata, **pipeline_kwargs))

    symbols = canon.dedup_symbols(records.filter(F.col("rec") == "symbol"))
    resolved = link.resolve_mentions(records, symbols,
                                     salt=pipeline_kwargs.get("salt", 0))
    rels = records.filter(F.col("rec") == "rel").select(
        "repo", "src_key", "dst_key", "rel_type")
    linked = checkpoint_stage(
        spark, ledger, "linked",
        lambda: link.link_edges(
            rels.unionByName(resolved.select("repo", "src_key", "dst_key", "rel_type")),
            symbols))

    res = P.run_pipeline(spark, source, commit_log=commit_log,
                         assembly_refs=assembly_refs, pkg_metadata=pkg_metadata,
                         persist=False, records=records, **pipeline_kwargs)
    nodes = checkpoint_stage(spark, ledger, "nodes", lambda: res["nodes"],
                             bucketed=True)
    edges = checkpoint_stage(spark, ledger, "edges", lambda: res["edges"],
                             bucketed=True)
    files = checkpoint_stage(spark, ledger, "files", lambda: res["files"])
    metrics = checkpoint_stage(spark, ledger, "metrics",
                               lambda: lineage_metrics(filtered, records))
    return {"nodes": nodes, "edges": edges, "files": files,
            "records": records, "linked": linked, "metrics": metrics}


def _extract_stage(filtered: DataFrame, pkg_metadata: DataFrame | None,
                   min_accessibility: str = "Private", **_kw) -> DataFrame:
    from codegraph.extract import extract_records
    from codegraph.extract.dispatch import (attach_ts_projects,
                                            collect_pkg_meta,
                                            scan_ts_configs,
                                            scan_ts_projects)
    from codegraph.schema import ACC_ORDER

    ts_projects = scan_ts_projects(filtered)
    ts_configs = scan_ts_configs(filtered) if ts_projects is not None else None
    # over-cap pkg-metadata dim -> None: extract with an EMPTY dict (never
    # broadcast None into the UDF), and leave the URL records to the
    # Spark-side pkg_urls_via_join union — run_pipeline re-detects join mode
    # when handed a precomputed extraction output (pkg_dim_over_cap)
    pkg_meta = collect_pkg_meta(pkg_metadata)
    src = filtered if ts_projects is not None else attach_ts_projects(filtered)
    return extract_records(src, ACC_ORDER[min_accessibility],
                           ts_projects, pkg_meta or {}, ts_configs=ts_configs)
