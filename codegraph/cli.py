"""spark-submit entry point.

    spark-submit --py-files codegraph.zip codegraph/cli.py \
        --input  /data/source_files.parquet \
        --commit-log /data/commit_log.parquet \
        --output /data/graph \
        --min-accessibility Private

Mirrors the reference CLI surface (Program.cs:44-175) where it still makes
sense for a table-in/table-out pipeline: --min-accessibility, --diff-base
(incremental), --purge-repo, --no-commits (reference only ingests commits
with --diff-base), --run-dir (checkpoint ledger for resume).
"""

from __future__ import annotations

import argparse
import logging
import sys


def main(argv=None):
    ap = argparse.ArgumentParser("codegraph")
    ap.add_argument("--input", required=True, help="source_files parquet")
    ap.add_argument("--output", required=True, help="output dir for nodes/edges/files")
    ap.add_argument("--commit-log", default=None)
    ap.add_argument("--assembly-refs", default=None)
    ap.add_argument("--pkg-metadata", default=None)
    ap.add_argument("--diff-base", default=None,
                    help="diff parquet (repo, path, status M|A|D) for incremental runs")
    ap.add_argument("--min-accessibility", default="NotApplicable",
                    help="reference default; use Private to emit everything")
    ap.add_argument("--purge-repo", default=None,
                    help="remove this repo's subgraph instead of indexing")
    ap.add_argument("--no-commits", action="store_true")
    ap.add_argument("--run-dir", default=None, help="checkpoint ledger dir (resume)")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)
    # the codegraph logger only: the root level stays at WARNING, so py4j
    # and pyspark keep their INFO lines to themselves
    log = logging.getLogger("codegraph")
    if not log.handlers:
        handler = logging.StreamHandler(sys.stderr)
        handler.setFormatter(logging.Formatter("%(name)s: %(message)s"))
        log.addHandler(handler)
    log.setLevel(logging.INFO)

    from codegraph import materialize, pipeline
    from codegraph.session import get_spark

    spark = get_spark("codegraph-cli", cores=args.cores)
    source = spark.read.parquet(args.input)
    commit_log = spark.read.parquet(args.commit_log) if args.commit_log else None
    assembly_refs = spark.read.parquet(args.assembly_refs) if args.assembly_refs else None
    pkg_metadata = spark.read.parquet(args.pkg_metadata) if args.pkg_metadata else None
    diff = spark.read.parquet(args.diff_base) if args.diff_base else None

    if args.purge_repo:
        pipeline.purge(spark, args.output, args.purge_repo)
        return 0

    kwargs = dict(commit_log=commit_log, assembly_refs=assembly_refs,
                  pkg_metadata=pkg_metadata, diff=diff,
                  min_accessibility=args.min_accessibility,
                  ingest_commits=not args.no_commits)
    if args.run_dir:
        res = materialize.run_checkpointed(spark, args.run_dir, source, **kwargs)
    else:
        res = pipeline.run_pipeline(spark, source, **kwargs)
    materialize.write_graph(res["nodes"], res["edges"], res["files"],
                            args.output, plan=res["plan"])
    if diff is not None:
        # F4: mark deleted files + cascade to their declared symbols
        marked = pipeline.mark_deleted(
            spark.read.parquet(f"{args.output}/nodes"),
            spark.read.parquet(f"{args.output}/edges"), diff)
        materialize.write_table(marked, f"{args.output}/nodes_marked",
                                plan=res["plan"])
    print(f"nodes={spark.read.parquet(f'{args.output}/nodes').count()} "
          f"edges={spark.read.parquet(f'{args.output}/edges').count()}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
