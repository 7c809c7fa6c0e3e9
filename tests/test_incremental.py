"""Incremental / deletion / purge semantics (F3, F4, J11, J12)."""

import pytest

from pyspark.sql import functions as F

# full-pipeline Spark e2e: minutes per test at tiny scale (fixed plan/stage
# overhead) - excluded from the fast subset via pytest -m "not slow"
pytestmark = pytest.mark.slow


def test_mark_deleted_cascades(spark, tiny_result):
    from codegraph.pipeline import mark_deleted

    nodes, edges = tiny_result["nodes"], tiny_result["edges"]
    one = (nodes.filter("label = 'src__File' AND file_path LIKE '%.cs'")
           .select("repo", F.col("file_path").alias("path")).limit(1).collect()[0])
    diff = spark.createDataFrame([(one["repo"], one["path"], "D")],
                                 "repo string, path string, status string")
    marked = mark_deleted(nodes, edges, diff)
    f = marked.filter((F.col("label") == "src__File")
                      & (F.col("repo") == one["repo"])
                      & (F.col("file_path") == one["path"])).collect()
    assert all(r["deleted"] for r in f)
    # declared symbols cascade
    declared = (edges.filter("rel_type = 'src__DECLARES'")
                .filter((F.col("repo") == one["repo"])
                        & (F.col("src_key") == one["path"]))
                .select("repo", F.col("dst_key").alias("key")))
    n_declared = declared.count()
    assert n_declared > 0
    flagged = (marked.filter("label = 'src__Symbol' AND deleted")
               .join(declared, ["repo", "key"], "left_semi").count())
    assert flagged == n_declared
    # no NEW deletions outside the target repo (pre-existing deleted flags
    # from commit-log stubs stay as they were)
    before = nodes.filter("deleted").select("repo", "key")
    new_deleted = (marked.filter("deleted").select("repo", "key")
                   .exceptAll(before))
    assert new_deleted.filter(F.col("repo") != one["repo"]).count() == 0


def test_purge_removes_only_target_repo(spark, tiny_result, tmp_path):
    import os

    from codegraph.pipeline import purge

    out = str(tmp_path / "graph")
    tiny_result["nodes"].write.mode("overwrite").parquet(f"{out}/nodes")
    tiny_result["edges"].write.mode("overwrite").parquet(f"{out}/edges")
    purge(spark, out, "repo0000")
    # the LIVE table no longer contains the purged repo (atomic swap)
    kept = spark.read.parquet(f"{out}/nodes")
    assert kept.filter("repo = 'repo0000'").count() == 0
    assert kept.filter("repo = 'repo0001'").count() > 0
    live_edges = spark.read.parquet(f"{out}/edges")
    assert live_edges.filter("repo = 'repo0000'").count() == 0
    # the rewrite goes through the bucket writer: one file per bucket
    for table in ("nodes", "edges"):
        buckets = [d for d in os.listdir(f"{out}/{table}")
                   if d.startswith("bucket=")]
        assert buckets
        for d in buckets:
            files = os.listdir(f"{out}/{table}/{d}")
            assert sum(f.endswith(".parquet") for f in files) == 1, (table, d)


def test_purge_recovers_dangling_old(spark, tiny_result, tmp_path):
    """A crash between purge's two renames leaves <table>__old and no live
    path; the next purge entry must recover it before filtering."""
    import os

    from codegraph.pipeline import purge

    out = str(tmp_path / "graph")
    tiny_result["nodes"].write.mode("overwrite").parquet(f"{out}/nodes")
    os.rename(f"{out}/nodes", f"{out}/nodes__old")  # simulated crash state
    purge(spark, out, "repo0000")
    kept = spark.read.parquet(f"{out}/nodes")
    assert kept.filter("repo = 'repo0000'").count() == 0
    assert kept.filter("repo = 'repo0001'").count() > 0
    assert not os.path.exists(f"{out}/nodes__old")


def test_repartition_gate_respects_row_group_splits(spark, tiny_source, tmp_path):
    """Few-but-large files: the pre-extraction repartition gate must count
    byte-derived splits, not raw file count (ADVICE r2)."""
    from codegraph.pipeline import _estimated_splits, _parse_bytes

    assert _parse_bytes("128MB") == 128 * 1024 * 1024
    assert _parse_bytes("134217728b") == 134217728
    assert _parse_bytes("1g") == 1024 ** 3

    p = str(tmp_path / "one_big_file")
    tiny_source.coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    assert len(df.inputFiles()) == 1
    target = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "512b")
        # single file, but thousands of byte-splits -> gate must NOT fire
        assert _estimated_splits(spark, df, target) >= target
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    # with the default 128MB the tiny file genuinely has few splits
    assert _estimated_splits(spark, df, target) < target
