"""Checkpoint-resume: a killed run restarts at the last completed stage and
produces identical tables (BASELINE.json north_star resumability)."""

import pytest

import os

# full-pipeline Spark e2e: minutes per test at tiny scale (fixed plan/stage
# overhead) - excluded from the fast subset via pytest -m "not slow"
pytestmark = pytest.mark.slow


STAGES = ("extract", "linked", "nodes", "edges", "files", "metrics")


def _count_link_calls(monkeypatch):
    from codegraph import link

    calls = {"resolve_mentions": 0, "link_edges": 0}
    for name in calls:
        def counted(*a, _fn=getattr(link, name), _name=name, **k):
            calls[_name] += 1
            return _fn(*a, **k)
        monkeypatch.setattr(link, name, counted)
    return calls


def _stage_mtimes(run_dir):
    return {s: max(os.path.getmtime(os.path.join(d, f))
                   for d, _, fs in os.walk(os.path.join(run_dir, s))
                   for f in fs)
            for s in STAGES}


def test_resume_skips_completed_stages(spark, tiny_source, tmp_path,
                                       monkeypatch):
    from codegraph.materialize import run_checkpointed

    calls = _count_link_calls(monkeypatch)
    run_dir = str(tmp_path / "run1")
    r1 = run_checkpointed(spark, run_dir, tiny_source)
    e1 = (r1["edges"].orderBy("repo", "src_key", "rel_type", "dst_key")
          .toPandas())
    # linking runs once; assembly reads the linked checkpoint
    assert calls == {"resolve_mentions": 1, "link_edges": 1}

    # simulate a restart: the ledger has all stages done; nothing recomputes
    mtimes = _stage_mtimes(run_dir)
    calls.update(resolve_mentions=0, link_edges=0)
    r2 = run_checkpointed(spark, run_dir, tiny_source)
    e2 = (r2["edges"].orderBy("repo", "src_key", "rel_type", "dst_key")
          .toPandas())
    assert _stage_mtimes(run_dir) == mtimes, "a stage was recomputed on resume"
    assert calls == {"resolve_mentions": 0, "link_edges": 0}
    assert e1.equals(e2)


def _sorted_rows(df):
    # a bucket-partitioned checkpoint reads back with ``bucket`` last
    return sorted(map(repr, df.select(*sorted(df.columns)).collect()))


# ids name the diff flag; "file-" marks the file-backed source
@pytest.mark.parametrize("file_backed, with_diff", [
    pytest.param(False, False, id="False"),
    pytest.param(False, True, id="True"),
    pytest.param(True, False, id="file-False"),
    pytest.param(True, True, id="file-True"),
])
def test_checkpointed_run_matches_run_pipeline(spark, tiny_source,
                                               tiny_file_source, tmp_path,
                                               file_backed, with_diff):
    """The checkpointed runner is run_pipeline with checkpoints: the same
    nodes, edges and files, with or without an incremental diff, on both
    dictionary-join strategies (in-memory source: shuffle_hash; file-backed:
    broadcast)."""
    from codegraph.materialize import run_checkpointed
    from codegraph.pipeline import discover, run_pipeline

    source = tiny_file_source if file_backed else tiny_source
    diff = None
    if with_diff:
        paths = sorted(r["path"] for r in discover(source)
                       .filter("repo = 'repo0000' AND path LIKE '%.cs'")
                       .select("path").collect())[:3]
        assert len(paths) == 3
        diff = spark.createDataFrame([("repo0000", p, "M") for p in paths],
                                     "repo string, path string, status string")
    want = run_pipeline(spark, source, diff=diff)
    assert want["plan"].dict_broadcast == file_backed
    got = run_checkpointed(spark, str(tmp_path / "run_diff"), source,
                           diff=diff)
    for table in ("nodes", "edges", "files"):
        assert _sorted_rows(got[table]) == _sorted_rows(want[table]), table
    if with_diff:
        assert got["files"].count() == 3


def test_resume_after_partial_run(spark, tiny_source, tmp_path):
    from codegraph.materialize import Ledger, checkpoint_stage, run_checkpointed

    run_dir = str(tmp_path / "run2")
    # simulate a run killed after the extract stage: only run stage 1
    from codegraph.materialize import _extract_stage
    from codegraph.pipeline import discover

    ledger = Ledger(run_dir)
    filtered = discover(tiny_source)
    checkpoint_stage(spark, ledger, "extract",
                     lambda: _extract_stage(filtered, None))
    assert ledger.is_done("extract")
    assert not ledger.is_done("edges")

    # the restarted run completes from there
    res = run_checkpointed(spark, run_dir, tiny_source)
    assert res["edges"].count() > 0
    assert ledger.is_done("edges")
    assert ledger.is_done("files")
    assert res["files"].count() == discover(tiny_source).count()


def test_lineage_metrics(spark, tiny_source, tiny_result):
    from codegraph.materialize import lineage_metrics
    from codegraph.pipeline import discover

    m = lineage_metrics(discover(tiny_source), tiny_result["records"]).toPandas()
    assert m["rows_in"].sum() == discover(tiny_source).count()
    assert (m["symbols_out"] > 0).any()


def test_checkpointed_run_with_overcap_pkg_dim(spark, tiny_source, tiny_result,
                                               tmp_path, monkeypatch):
    """Round-4 verdict finding #1: an over-cap pkg-metadata dim through the
    CHECKPOINTED driver must neither crash the extraction UDF (broadcasting
    None) nor silently drop the Url nodes — run_pipeline re-detects join
    mode from the dim (pkg_dim_over_cap) when handed precomputed records,
    and unions pkg_urls_via_join exactly like the fresh-extraction path."""
    from pyspark.sql import functions as F

    from codegraph import gen, schema
    from codegraph.extract import dispatch
    from codegraph.materialize import run_checkpointed

    monkeypatch.setattr(dispatch, "MAX_DIM_ROWS", 0)
    pm = spark.createDataFrame(gen.gen_pkg_metadata_pdf())
    assert dispatch.collect_pkg_meta(pm) is None
    assert dispatch.pkg_dim_over_cap(pm)

    cl = gen.commit_log_table(spark, 2, 20)
    ar = spark.createDataFrame(gen.gen_assembly_refs_pdf(2))
    res = run_checkpointed(spark, str(tmp_path / "run_overcap"), tiny_source,
                           commit_log=cl, assembly_refs=ar, pkg_metadata=pm)

    def url_rows(r):
        nodes = sorted(map(tuple, r["nodes"].filter(
            F.col("label") == schema.L_URL)
            .select("repo", "key", "name").collect()))
        edges = sorted(map(tuple, r["edges"].filter(
            F.col("rel_type") == schema.R_HAS_URL).collect()))
        return nodes, edges

    base_nodes, base_edges = url_rows(tiny_result)
    got_nodes, got_edges = url_rows(res)
    assert base_nodes, "fixture must produce Url nodes"
    assert got_nodes == base_nodes
    assert got_edges == base_edges


def test_write_graph_stamp(spark, tiny_result, tmp_path):
    """Write-boundary provenance (UpsertSymbols.cypher:18-19): stamped
    exports carry ONE constant-per-run updated_at + the CodeToNeo4j scoping
    flag on every row; unstamped exports carry neither."""
    from codegraph.materialize import write_graph

    out = str(tmp_path / "graph_stamped")
    write_graph(tiny_result["nodes"], tiny_result["edges"],
                tiny_result["files"], out, stamp=True, run_ts=1_700_000_000.0)
    nodes = spark.read.parquet(out + "/nodes")
    assert "updated_at" in nodes.columns and "code_to_neo4j" in nodes.columns
    stamps = nodes.select("updated_at", "code_to_neo4j").distinct().collect()
    assert len(stamps) == 1 and stamps[0]["code_to_neo4j"] is True

    out2 = str(tmp_path / "graph_plain")
    write_graph(tiny_result["nodes"], tiny_result["edges"],
                tiny_result["files"], out2)
    assert "updated_at" not in spark.read.parquet(out2 + "/nodes").columns
