"""End-to-end pipeline invariants (SURVEY §1.4, FIXTURES §4)."""

import pytest

import hashlib

from pyspark.sql import functions as F

# full-pipeline Spark e2e: minutes per test at tiny scale (fixed plan/stage
# overhead) - excluded from the fast subset via pytest -m "not slow"
pytestmark = pytest.mark.slow


def test_discovery_excludes_decoys(spark, tiny_source):
    from codegraph.pipeline import discover

    kept = discover(tiny_source).select("path").toPandas()["path"]
    assert not any(p.startswith(("obj/", "node_modules/")) for p in kept)
    assert not any(p.endswith(".txt") for p in kept)
    assert any(p.endswith(".cs") for p in kept)
    assert any(p.endswith("package.json") for p in kept)


def test_sha256_per_row_invariant(spark, tiny_source, tiny_result):
    # BASELINE.json input_hint: sha2(content, 256) equality per row
    files = tiny_result["files"].select("repo", "path", "sha256").toPandas()
    src = tiny_source.toPandas().set_index(["repo", "path"])["content"]
    checked = 0
    for _, r in files.iterrows():
        if (r["repo"], r["path"]) in src.index:
            expect = hashlib.sha256(src[(r["repo"], r["path"])].encode()).hexdigest()
            assert r["sha256"] == expect
            checked += 1
    assert checked > 30


def test_dangling_edge_drop(tiny_result):
    # MergeRelationships.cypher:1-5: every linked edge endpoint is a Symbol
    linked = tiny_result["linked"]
    syms = tiny_result["symbols"].select("repo", F.col("key").alias("k"))
    for side in ("src_key", "dst_key"):
        missing = (linked.join(syms.withColumnRenamed("k", side),
                               ["repo", side], "left_anti").count())
        assert missing == 0


def test_file_keyed_candidates_dropped(tiny_result):
    # file->symbol CONTAINS / file->pkg DEPENDS_ON candidates never land:
    # src__File nodes do not satisfy the Symbol MATCH (SURVEY §1.4.1)
    linked = tiny_result["linked"]
    files = tiny_result["files"].select("repo", F.col("key").alias("src_key"))
    assert linked.join(files, ["repo", "src_key"], "left_semi").count() == 0


def test_ts_dart_edges_all_drop(tiny_result):
    # kind-token mismatch (visitor.ts:486-496 vs TypeScriptHandlerBase.cs:74)
    linked = tiny_result["linked"]
    ts_like = linked.filter(F.col("src_key").rlike(":(class|method|file|function|constructor):"))
    assert ts_like.count() == 0


def test_last_write_wins_dedup(tiny_result):
    symbols = tiny_result["symbols"]
    assert symbols.groupBy("repo", "key").count().filter("count > 1").count() == 0
    nodes = tiny_result["nodes"]
    assert nodes.groupBy("repo", "label", "key").count().filter("count > 1").count() == 0


def test_truncation(tiny_result):
    over = tiny_result["nodes"].filter(
        (F.length("documentation") > 8000) | (F.length("comments") > 8000)).count()
    assert over == 0


def test_declares_matches_symbol_files(tiny_result):
    declares = tiny_result["edges"].filter(F.col("rel_type") == "src__DECLARES")
    expected = (tiny_result["records"].filter("rec = 'symbol'")
                .select("repo", "path", "key").distinct().count())
    assert declares.count() == expected


def test_tags_match_python_parser(spark, tiny_result):
    # SQL tag expression == NamespaceTagParser replica for every namespace seen
    from codegraph import keys as K
    from codegraph.pipeline import tags_expr

    ns_df = (tiny_result["symbols"].select("namespace").distinct()
             .filter(F.col("namespace").isNotNull() & (F.trim("namespace") != "")))
    got = ns_df.select("namespace", tags_expr("namespace").alias("tags")).toPandas()
    for _, r in got.iterrows():
        assert list(r["tags"]) == K.parse_tags(r["namespace"]), r["namespace"]


def test_authored_edge_props(tiny_result):
    authored = tiny_result["edges"].filter(F.col("rel_type") == "src__AUTHORED")
    assert authored.count() > 0
    assert authored.filter(F.col("commit_count").isNull()).count() == 0
    # non-AUTHORED edges carry no props (edges are property-less, §1.4.4)
    others = tiny_result["edges"].filter(
        (F.col("rel_type") != "src__AUTHORED") & F.col("commit_count").isNotNull())
    assert others.count() == 0


def test_has_url_inner_join_drop(tiny_result):
    # urls for unknown deps keep their nodes but not their edges (J7);
    # Dapper is excluded from assembly_refs by the generator
    edges = tiny_result["edges"]
    has_url = edges.filter(F.col("rel_type") == "src__HAS_URL")
    dep_keys = {r["key"] for r in tiny_result["nodes"]
                .filter(F.col("label") == "src__Dependency").select("key").collect()}
    for r in has_url.select("src_key").distinct().collect():
        assert r["src_key"] in dep_keys


def test_incremental_empty_diff_processes_nothing(spark, tiny_source):
    # SolutionProcessor.cs:314-318: empty changed-set => zero files
    from codegraph import pipeline as P

    empty_diff = spark.createDataFrame([], "repo string, path string, status string")
    filtered = P.apply_diff_filter(P.discover(tiny_source), empty_diff)
    assert filtered.count() == 0


def test_incremental_semi_join(spark, tiny_source):
    from codegraph import pipeline as P

    one = P.discover(tiny_source).limit(1).select("repo", "path").collect()[0]
    diff = spark.createDataFrame([(one["repo"], one["path"], "M")],
                                 "repo string, path string, status string")
    filtered = P.apply_diff_filter(P.discover(tiny_source), diff)
    rows = filtered.select("repo", "path").collect()
    assert len(rows) == 1 and rows[0]["path"] == one["path"]


def test_determinism_rerun_identical(spark, tiny_source, tiny_result):
    # rerunning the pipeline yields the identical edge set (stable LWW order)
    from codegraph import pipeline as P

    res2 = P.run_pipeline(spark, tiny_source)
    e1 = (tiny_result["linked"].orderBy("repo", "src_key", "rel_type", "dst_key")
          .toPandas())
    e2 = (res2["linked"].orderBy("repo", "src_key", "rel_type", "dst_key")
          .toPandas())
    assert e1.equals(e2)


def test_ts_prefix_join_parity_with_broadcast_dict(spark, tiny_source, monkeypatch):
    """Large-dim fallback (dispatch.attach_ts_projects): with the dim cap
    forced to 0 the pre-scan returns None, the pipeline resolves project
    roots via the path-prefix join, and extraction output is byte-identical
    to the broadcast-dict path (so kg_ts_symbols stays green)."""
    from codegraph.extract import dispatch
    from codegraph.pipeline import discover

    src = discover(tiny_source)
    ts = dispatch.scan_ts_projects(src)
    cfg = dispatch.scan_ts_configs(src)
    assert ts, "fixture must contain package.json projects"
    assert cfg, "fixture must contain tsconfig.json file selection"

    monkeypatch.setattr(dispatch, "MAX_DIM_ROWS", 0)
    assert dispatch.scan_ts_projects(src) is None

    def rows(df):
        return sorted(map(tuple, df.collect()))

    base = dispatch.extract_records(src, 1, ts, {}, ts_configs=cfg)
    joined = dispatch.extract_records(dispatch.attach_ts_projects(src), 1,
                                      None, {})
    assert rows(joined) == rows(base)


def test_pkg_meta_join_parity_with_broadcast_dict(spark, tiny_source,
                                                  tiny_result, monkeypatch):
    """Large-dim fallback for the package-metadata dim
    (dispatch.pkg_urls_via_join): with the cap forced to 0 collect_pkg_meta
    returns None, extraction runs with an empty dict, and the URL records
    are derived by the Spark-side (source, pkg) join — producing the SAME
    Url nodes and HAS_URL edges as the broadcast-dict run (kg_dependencies
    stays green)."""
    from codegraph import gen, pipeline, schema
    from codegraph.extract import dispatch

    monkeypatch.setattr(dispatch, "MAX_DIM_ROWS", 0)
    pm = spark.createDataFrame(gen.gen_pkg_metadata_pdf())
    assert dispatch.collect_pkg_meta(pm) is None

    cl = gen.commit_log_table(spark, 2, 20)
    ar = spark.createDataFrame(gen.gen_assembly_refs_pdf(2))
    res = pipeline.run_pipeline(spark, tiny_source, commit_log=cl,
                                assembly_refs=ar, pkg_metadata=pm,
                                persist=False)

    def url_rows(r):
        nodes = sorted(map(tuple, r["nodes"].filter(
            F.col("label") == schema.L_URL)
            .select("repo", "key", "name").collect()))
        edges = sorted(map(tuple, r["edges"].filter(
            F.col("rel_type") == schema.R_HAS_URL).collect()))
        return nodes, edges

    base_nodes, base_edges = url_rows(tiny_result)
    join_nodes, join_edges = url_rows(res)
    assert base_nodes, "fixture must produce Url nodes"
    assert join_nodes == base_nodes
    assert join_edges == base_edges


def test_ts_prefix_join_picks_nearest_ancestor(spark):
    """Nested package.json: the longest-prefix match must win, and files
    outside any project resolve to NULL (skipped, like the dict walk)."""
    from codegraph.extract import dispatch

    src = spark.createDataFrame(
        [("r", "web/package.json", '{"name": "outer"}'),
         ("r", "web/pkgs/inner/package.json", '{"name": "inner"}'),
         ("r", "web/src/a.ts", "export class A {}"),
         ("r", "web/pkgs/inner/src/b.ts", "export class B {}"),
         ("r", "stray/c.ts", "export class C {}"),
         ("r", "lib/package.json", '{"private": true}'),
         ("r", "lib/src/d.ts", "export class D {}"),
         ("r", "package.json", "{}"),
         ("r", "rootfile.ts", "export class R {}")],
        "repo string, path string, content string")
    got = {r["path"]: (r["ts_project"], r["ts_project_dir"])
           for r in dispatch.attach_ts_projects(src).collect()}
    assert got["web/src/a.ts"] == ("outer", "web")
    assert got["web/pkgs/inner/src/b.ts"] == ("inner", "web/pkgs/inner")
    # nameless package.json: analyzer.ts:56-68 falls back to basename(root),
    # repo id at the repo root
    assert got["lib/src/d.ts"] == ("lib", "lib")
    assert got["rootfile.ts"] == ("r", "")
    # the broadcast-dict scan applies the same fallback
    assert dispatch.scan_ts_projects(src)[("r", "lib")] == "lib"


def _graph_rows(res):
    return {t: sorted(map(repr, res[t].select(*sorted(res[t].columns))
                          .collect()))
            for t in ("nodes", "edges")}


def test_every_join_strategy_builds_the_same_graph(spark, tiny_source,
                                                   tiny_file_source, tiny_aux,
                                                   tiny_result):
    """The dictionary joins build the same nodes and edges on every path a
    run can take: broadcast (a file-backed input under the gate),
    shuffle_hash (the in-memory ``tiny_result``), and shuffle_hash under AQE
    with skew thresholds low enough to split partitions of this tiny input
    (a split targets at least the advisory partition size, so that is
    lowered too)."""
    from codegraph import pipeline as P

    want = _graph_rows(tiny_result)
    assert not tiny_result["plan"].dict_broadcast

    bc = P.run_pipeline(spark, tiny_file_source, **tiny_aux)
    assert bc["plan"].dict_broadcast
    assert _graph_rows(bc) == want

    skew = {"spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k"}
    prior = {k: spark.conf.get(k, None) for k in skew}
    try:
        for k, v in skew.items():
            spark.conf.set(k, v)
        aqe = P.run_pipeline(spark, tiny_source, **tiny_aux)
        assert aqe["plan"].aqe and not aqe["plan"].dict_broadcast
        assert _graph_rows(aqe) == want
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
