"""The bucket-clustered graph writer: one parquet file per bucket under the
classic planner, the AQE rebalance hint at scale, identical rows either way;
and the input plan that sizes it."""

import os

from pyspark.sql import functions as F

from codegraph.schema import N_BUCKETS


def _fleet(spark, repos=12, rows=240, parts=6):
    """A multi-repo frame spread round-robin over ``parts`` partitions, so
    every input task holds rows of every bucket."""
    return (spark.range(rows)
            .select(F.format_string("repo%04d", F.col("id") % repos).alias("repo"),
                    F.col("id").cast("string").alias("key"))
            .withColumn("bucket", F.pmod(F.xxhash64("repo"),
                                         F.lit(N_BUCKETS)).cast("int"))
            .repartition(parts))


def _files_per_bucket(path):
    return {d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(path, d)))
            for d in os.listdir(path) if d.startswith("bucket=")}


def _rows(df):
    return sorted(map(tuple, df.select("repo", "key", "bucket").collect()))


def test_classic_writer_one_file_per_bucket(spark, tmp_path):
    from codegraph.materialize import write_graph

    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    nodes = _fleet(spark)
    edges = _fleet(spark, rows=360, parts=5)
    files = nodes.drop("bucket")
    # every input task holds several buckets: a direct partitionBy would
    # open one writer per (task, bucket)
    per_task = nodes.groupBy(F.spark_partition_id()).agg(
        F.countDistinct("bucket").alias("n")).collect()
    assert len(per_task) > 1 and all(r["n"] > 1 for r in per_task)

    out = str(tmp_path / "graph")
    write_graph(nodes, edges, files, out)
    for table, df in (("nodes", nodes), ("edges", edges)):
        counts = _files_per_bucket(os.path.join(out, table))
        assert len(counts) == df.select("bucket").distinct().count()
        assert set(counts.values()) == {1}, counts
        assert _rows(spark.read.parquet(os.path.join(out, table))) == _rows(df)
    assert sum(f.endswith(".parquet")
               for f in os.listdir(os.path.join(out, "files"))) == 1
    assert (sorted(map(tuple, spark.read.parquet(os.path.join(out, "files"))
                       .collect())) == sorted(map(tuple, files.collect())))


def test_aqe_writer_rebalances_by_bucket(spark, tmp_path):
    from codegraph.materialize import cluster_for_write, write_table

    nodes = _fleet(spark)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "REBALANCE_PARTITIONS_BY_COL" not in plan(cluster_for_write(nodes))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        assert "REBALANCE_PARTITIONS_BY_COL" in plan(cluster_for_write(nodes))
        assert "REBALANCE_PARTITIONS_BY_NONE" in plan(
            cluster_for_write(nodes, bucketed=False))
        out = str(tmp_path / "nodes")
        write_table(nodes, out)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    assert _rows(spark.read.parquet(out)) == _rows(nodes)


def test_classic_writer_splits_a_large_input_bucket(spark, tmp_path):
    from codegraph.materialize import (WRITER_TARGET_BYTES, write_table,
                                       writers_per_bucket)
    from codegraph.pipeline import InputPlan

    def plan(n_bytes):
        return InputPlan(n_bytes, 1, 1, False, True)

    one_repo = _fleet(spark, repos=1)
    assert writers_per_bucket(spark) == 1
    assert writers_per_bucket(spark, plan(None)) == 1
    assert writers_per_bucket(spark, plan(3 * WRITER_TARGET_BYTES)) == 3
    assert writers_per_bucket(spark, plan(100 * WRITER_TARGET_BYTES)) == int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    out = str(tmp_path / "nodes")
    write_table(one_repo, out, plan=plan(3 * WRITER_TARGET_BYTES))
    # a single bucket still gets several writers when the input is large
    (n,) = _files_per_bucket(out).values()
    assert 1 < n <= 3
    assert _rows(spark.read.parquet(out)) == _rows(one_repo)


def test_plan_inputs_sizes_the_listing_once(spark, tmp_path):
    """One listing of the source decides the run: its bytes, the split
    estimate, the planner and the dictionary-join strategy."""
    from codegraph.pipeline import InputPlan, plan_inputs

    p = str(tmp_path / "three_files")
    _fleet(spark, parts=3).drop("bucket").write.parquet(p)
    parts = [os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")]
    assert len(parts) == 3
    plan = plan_inputs(spark, spark.read.parquet(p))
    assert plan == InputPlan(sum(map(os.path.getsize, parts)), 3, 3,
                             False, True)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"

    # an in-memory frame is unsized: shuffle_hash, AQE conf left as it is
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        plan = plan_inputs(spark, _fleet(spark))
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    assert plan == InputPlan(None, 0, 0, True, False)
