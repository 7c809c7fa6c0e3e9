"""Pipeline orchestration: source table -> nodes / edges / files tables.

Mirrors the reference run lifecycle (SURVEY §3.1) Spark-first:

    discovery filter (S3/F1/F2, Catalyst predicate pushdown)
      -> optional incremental diff semi-join (F3) + deleted marking (F4)
      -> ONE vectorized extraction pass (H1-H14)
      -> last-write-wins symbol dedup (§1.4.2)
      -> mention resolution + dangling-edge drop (J1/F9)
      -> git metadata aggregation + broadcast join (A1/J9)
      -> node/edge assembly per label (UpsertFile/Symbols/Dependencies/
         Commit/Tags/DependencyUrls cypher semantics)
      -> repo-hash bucketed tables

Graph universes are per-repo (reference targets one --database per run):
all identity is (repo, key).
"""

from __future__ import annotations

import logging
import os
import re
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codegraph import canon, gitmeta, materialize
from codegraph import link as L
from codegraph import schema as S
from codegraph.extract import extract_records
from codegraph.extract.dispatch import (attach_ts_projects, collect_pkg_meta,
                                        pkg_dim_over_cap, pkg_urls_via_join,
                                        scan_ts_configs, scan_ts_projects)
from codegraph.schema import ACC_ORDER

log = logging.getLogger("codegraph")

# ---------------------------------------------------------------------------
# discovery (S3/F1/F2)
# ---------------------------------------------------------------------------

_EXCLUDED_RE = "(^|/)(" + "|".join(
    d.replace(".", "\\.") for d in S.EXCLUDED_DIRS) + ")/"


def discover(source: DataFrame,
             include_extensions=S.INCLUDE_EXTENSIONS,
             filenames=S.FILENAME_HANDLERS) -> DataFrame:
    """Include-extension filter (case-insensitive EndsWith,
    SolutionFileDiscoveryService.cs:38-41) + excluded-dir segments (:141-149).
    Pure Catalyst predicates — pushed into the parquet scan."""
    low = F.lower(F.col("path"))
    ext_pred = F.lit(False)
    for ext in include_extensions:
        ext_pred = ext_pred | low.endswith(ext)
    for fname in filenames:
        ext_pred = ext_pred | (F.element_at(F.split(low, "/"), -1) == fname)
    return source.filter(ext_pred & ~low.rlike(_EXCLUDED_RE))


def mark_deleted(nodes: DataFrame, edges: DataFrame,
                 diff: DataFrame) -> DataFrame:
    """F4 (SolutionProcessor.cs:84-92, MarkFileAsDeleted.cypher:1-5):
    deleted paths -> file node deleted=true, cascading to the symbols the
    file DECLARES."""
    deleted_paths = (diff.filter(F.col("status") == "D")
                     .select("repo", F.col("path").alias("file_path")))
    del_files = (nodes.filter(F.col("label") == S.L_FILE)
                 .join(deleted_paths, ["repo", "file_path"], "left_semi")
                 .select("repo", F.col("key").alias("file_key")))
    del_symbols = (edges.filter(F.col("rel_type") == S.R_DECLARES)
                   .join(del_files.withColumnRenamed("file_key", "src_key"),
                         ["repo", "src_key"], "left_semi")
                   .select("repo", F.col("dst_key").alias("key")))
    flagged_keys = (del_files.withColumnRenamed("file_key", "key")
                    .unionByName(del_symbols).withColumn("_del", F.lit(True)))
    return (nodes.join(flagged_keys, ["repo", "key"], "left")
            .withColumn("deleted", F.coalesce("_del", "deleted"))
            .drop("_del"))


def merge_reindex(old_nodes: DataFrame, old_edges: DataFrame,
                  new_nodes: DataFrame, new_edges: DataFrame,
                  reindexed_files: DataFrame):
    """J11 (DeletePriorSymbols.cypher:1-3, Neo4jFlushService.cs:55):
    re-indexing a set of files first deletes the symbols they previously
    declared, then upserts the new batch — as DataFrame ops: anti-join the
    old symbol rows of re-indexed files, union the new run, last-write-wins
    on key collisions (new wins)."""
    rf = reindexed_files.select("repo", F.col("path").alias("file_key"))
    old_declared = (old_edges.filter(F.col("rel_type") == S.R_DECLARES)
                    .join(rf.withColumnRenamed("file_key", "src_key"),
                          ["repo", "src_key"], "left_semi")
                    .select("repo", F.col("dst_key").alias("key")))
    kept_nodes = (old_nodes
                  .join(old_declared.withColumn("label", F.lit(S.L_SYMBOL)),
                        ["repo", "key", "label"], "left_anti"))
    kept_edges = (old_edges
                  .join(old_declared.withColumnRenamed("key", "src_key"),
                        ["repo", "src_key"], "left_anti")
                  .join(old_declared.withColumnRenamed("key", "dst_key"),
                        ["repo", "dst_key"], "left_anti"))
    # new run wins on (repo, label, key) collisions (MERGE SET semantics)
    merged_nodes = canon.dedup_by_key(
        new_nodes.withColumn("_pri", F.lit(1))
        .unionByName(kept_nodes.withColumn("_pri", F.lit(0))),
        ["repo", "label", "key"], ["_pri"]).drop("_pri")
    merged_edges = (new_edges.unionByName(kept_edges)
                    .dropDuplicates(["repo", "src_key", "rel_type", "dst_key"]))
    return merged_nodes, merged_edges


def _parse_bytes(v: str) -> int:
    """Spark size-string ('128MB', '134217728b', '1g') -> bytes."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", str(v).lower())
    if not m:
        return 128 * 1024 * 1024
    return int(m.group(1)) * (1024 ** " kmgtp".index(m.group(2) or " "))


# listed-source-input threshold below which adaptive execution is disabled
# for the run (see plan_inputs)
AQE_MIN_BYTES = 8 * 1024 ** 3


@dataclass(frozen=True)
class InputPlan:
    """What one listing of the source input decided for a run. ``bytes`` is
    None when the input was not sized (in-memory or >256 files); ``splits``
    estimates the scan splits; ``aqe`` is the planner left in force and
    ``dict_broadcast`` the dictionary-join strategy."""
    bytes: int | None
    files: int
    splits: int
    aqe: bool
    dict_broadcast: bool


def plan_inputs(spark, source: DataFrame) -> InputPlan:
    """List and size the source input once; gate adaptive query execution
    and the dictionary join strategy on its bytes.

    AQE pays a driver-side re-planning round-trip per shuffle stage; across
    the edge DAG that is pure critical-path latency when none of its wins
    can apply — partitions are KB-MB-sized and nothing re-plans differently
    (measured, paired A/B/A/B at sf0.1: 51.6/52.8 s AQE-off vs 84.5/78.5 s
    AQE-on, the whole delta in the edge phase). Below AQE_MIN_BYTES of
    listed file input the run uses the classic planner (set as
    ``spark.sql.adaptive.enabled``, the key Spark itself reads); at or above
    it — or when the input is in-memory, can't be sized, or lists >256
    files — AQE keeps the session default: at 100 TB skew-join splitting and
    partition coalescing are worth every re-plan.

    The same measurement picks the dictionary joins (``link``): below the
    gate the per-repo symbol dictionaries are a small fraction of the input
    (measured <=2% of source bytes on the fixture corpora) and are
    broadcast, so the mention side of every linking join is never shuffled;
    otherwise the dictionaries scale with the corpus, must not concentrate
    on the driver, and every dictionary join takes the shuffle_hash path.
    The decision is logged once per run as an INFO line on the
    ``codegraph`` logger, which the CLI sends to stderr and a library
    caller configures itself.

    ``splits`` counts each file's ``ceil(bytes / maxPartitionBytes)``
    row-group splits, so few-but-large parquet files don't trigger a
    spurious full-input shuffle before extraction; an unsized listing
    counts its files."""
    try:
        inputs = source.inputFiles()
    except AnalysisException:
        inputs = []  # a streaming source: unsized, like an in-memory one
    n, sc = len(inputs), spark.sparkContext
    aqe = materialize.aqe_on(spark)
    sizes = None
    # the gate sizes up to 256 files, the split estimate fewer than cores
    if 0 < n and (n <= 256 or n < sc.defaultParallelism):
        hconf = sc._jsc.hadoopConfiguration()
        try:
            paths = [sc._jvm.org.apache.hadoop.fs.Path(u) for u in inputs]
            sizes = [p.getFileSystem(hconf).getFileStatus(p).getLen()
                     for p in paths]
        except Py4JJavaError:
            sizes = None  # a listed file vanished or can't be stat'ed
    if sizes is None:
        splits = n
    else:
        mpb = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes",
                                          "128MB"))
        splits = sum(max(1, -(-s // mpb)) for s in sizes)
    if sizes is None or n > 256:
        # in-memory or many-file input: real scale or unknown size — keep
        # AQE as it is and take the shuffle-hash dictionary path
        plan = InputPlan(None, n, splits, aqe, False)
        measured = f"{n} input files (>256)" if n > 256 else "unsized input"
    else:
        total = sum(sizes)
        small = total < AQE_MIN_BYTES
        if small:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = InputPlan(total, n, splits, aqe and not small, small)
        measured = f"{total} input bytes"
    log.info("gate: %s -> planner %s, dict joins %s", measured,
             "AQE" if plan.aqe else "classic",
             "broadcast" if plan.dict_broadcast else "shuffle_hash")
    return plan


def purge(spark, graph_dir: str, repo: str) -> None:
    """Scoped purge (J12, PurgeData.cypher:2-100). Graph universes are
    per-repo here, so purging a repo is a partition-filter rewrite of the
    node/edge tables — the Spark shape of the reference's batched
    label-by-label delete loop. Single-writer semantics: the filtered copy
    lands in a temp dir, then a two-step rename swaps it in (path -> __old,
    tmp -> path). A reader racing the instant between the two renames can
    see the table briefly absent — plain-parquet directories have no
    transaction log; concurrent readers need the Delta/Iceberg form of this
    operation (a single ``DELETE WHERE repo = ...``). A crash between the
    renames strands the data in ``__old``; purge entry recovers it.

    Documented decision (round-5): the Delta/Iceberg variant is NOT shipped.
    Neither delta-spark nor an Iceberg runtime jar is present in this
    environment and adding dependencies is out of scope, so a ``DELETE
    WHERE repo = ?`` path would be dead, untestable code here. The
    production recipe is one statement on a Delta table —
    ``spark.sql("DELETE FROM graph.nodes WHERE repo = ?")`` — with the
    transaction log replacing this function's rename dance and its
    single-writer caveat; everything else in this module is
    format-agnostic (the write boundary is plain ``.write.parquet``, so
    swapping ``format("delta")`` in at deployment is a one-line change)."""
    import shutil

    for table in ("nodes", "edges", "files"):
        path = f"{graph_dir}/{table}"
        old = path + "__old"
        # crash recovery: a previous purge that died between its two renames
        # left the live path missing and the data in __old — put it back
        if not os.path.exists(path) and os.path.exists(old):
            os.rename(old, path)
        try:
            df = spark.read.parquet(path)
        except Exception:
            continue
        kept = df.filter(F.col("repo") != repo)
        tmp = path + "__purging"
        materialize.write_table(kept, tmp, bucketed="bucket" in kept.columns)
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)


def apply_diff_filter(files: DataFrame, diff: DataFrame | None) -> DataFrame:
    """F3 (SolutionProcessor.cs:301-324): diff present & non-empty -> keep
    modified/added paths only; diff present & empty -> process NOTHING."""
    if diff is None:
        return files
    changed = diff.filter(F.col("status").isin("M", "A")).select("repo", "path")
    return files.join(changed, ["repo", "path"], "left_semi")


# ---------------------------------------------------------------------------
# namespace inference as Catalyst expressions (FileService.cs:24-55)
# ---------------------------------------------------------------------------


def with_inferred_namespace(df: DataFrame, path_col: str = "path") -> DataFrame:
    p = F.col(path_col)
    directory = F.when(F.instr(p, "/") > 0,
                       F.expr(f"substring({path_col}, 1, length({path_col}) - "
                              f"instr(reverse({path_col}), '/'))")) \
        .otherwise(F.lit(""))
    dotted = F.regexp_replace(directory, "/", ".")
    low = F.lower(dotted)
    roslyn_ns = (
        F.when(low.startswith("src."), F.expr("substring(regexp_replace("
               f"substring({path_col}, 1, length({path_col}) - instr(reverse({path_col}), '/')), '/', '.'), 5)"))
        .when(low == "src", F.lit(""))
        .when(low.startswith("source."), F.expr("substring(regexp_replace("
              f"substring({path_col}, 1, length({path_col}) - instr(reverse({path_col}), '/')), '/', '.'), 8)"))
        .when(low == "source", F.lit(""))
        .otherwise(dotted)
    )
    is_roslyn = F.lower(p).rlike("\\.(cs|razor|xaml)$")
    return df.withColumn("inferred_namespace",
                         F.when(is_roslyn, roslyn_ns).otherwise(directory))


# namespace -> tags as pure SQL (NamespaceTagParser.cs:29-98); identical
# regexes are used in the DuckDB oracles.
def tags_expr(ns_col: str):
    seg = "seg"
    transform = (
        f"filter(transform(split({ns_col}, '\\\\.'), {seg} -> "
        f"CASE WHEN {seg} IN ('DotNet', 'iOS') THEN {seg} "
        f"ELSE regexp_replace(regexp_replace({seg}, "
        f"'([A-Z]+)([A-Z][a-z])', '$1_$2'), '([a-z])([A-Z])', '$1_$2') END), "
        f"t -> t != '')"
    )
    return F.expr(transform)


# ---------------------------------------------------------------------------
# main pipeline
# ---------------------------------------------------------------------------


def extract(files_src: DataFrame, plan: InputPlan | None,
            pkg_meta: dict | None,
            min_accessibility: str = "Private") -> DataFrame:
    """Stage 1: ONE vectorized extraction pass over the discovered files.
    ``pkg_meta`` is the collected package-metadata dim (``None`` over the
    cap: extract with an empty dict and let ``assemble`` join the URLs
    Spark-side). The stage is CPU-bound per row, so an input the plan
    estimates at fewer splits than cores is spread over one partition per
    core first; ``plan=None`` leaves the partitioning as it is."""
    target = files_src.sparkSession.sparkContext.defaultParallelism
    if plan is not None and plan.splits < target:
        files_src = files_src.repartition(target)
    # pre-scans (bounded dims -> broadcast inside extract_records); an
    # over-cap TS-project dim (None) switches to the Spark-side path-prefix
    # join instead of a driver dict
    ts_projects = scan_ts_projects(files_src)
    ts_configs = scan_ts_configs(files_src) if ts_projects is not None else None
    src = (files_src if ts_projects is not None
           else attach_ts_projects(files_src))
    return extract_records(src, ACC_ORDER[min_accessibility], ts_projects,
                           pkg_meta or {}, ts_configs=ts_configs)


def link(records: DataFrame, symbols: DataFrame,
         plan: InputPlan | None) -> DataFrame:
    """Stage 2: entity linking (J1/F9) — mention resolution, then the
    dangling-edge drop over resolved and extracted relationship edges. The
    plan picks the dictionary-join strategy (broadcast without one)."""
    bc = plan is None or plan.dict_broadcast
    rels = records.filter(F.col("rec") == "rel").select(
        "repo", "src_key", "dst_key", "rel_type")
    resolved = L.resolve_mentions(records, symbols, broadcast=bc)
    return L.link_edges(rels.unionByName(
        resolved.select("repo", "src_key", "dst_key", "rel_type")),
        symbols, broadcast=bc)


def assemble(spark, files_src: DataFrame, records: DataFrame,
             symbols: DataFrame, linked: DataFrame,
             commit_log: DataFrame | None = None,
             assembly_refs: DataFrame | None = None,
             overcap_pkg_metadata: DataFrame | None = None,
             ingest_commits: bool = True,
             persist: bool = True) -> dict[str, DataFrame]:
    """Stage 3: git metadata, then node/edge assembly per label. Returns
    {'nodes', 'edges', 'files'}. ``overcap_pkg_metadata`` is a package dim
    too big for extraction to collect; its URLs are joined Spark-side."""
    raw_symbols = records.filter("rec = 'symbol'")

    # --- files table (UpsertFile.cypher property set) ----------------------
    # razor files carry a PROMOTED key: the generated type's FQN
    # (RazorHandler.cs:61-72; the handler's FileResult feeds the File upsert)
    overrides = (records.filter(F.col("rec") == "filemeta")
                 .select("repo", "path", "file_namespace", "file_key_override",
                         "lang", "language", "technology"))
    files = (
        with_inferred_namespace(files_src)
        .join(overrides, ["repo", "path"], "left")
        .select(
            "repo",
            F.coalesce(F.col("file_key_override"), F.col("path")).alias("key"),
            F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
            "path",
            F.coalesce(F.col("file_namespace"), F.col("inferred_namespace")).alias("namespace"),
            F.sha2(F.col("content"), 256).alias("sha256"),  # P2 per-row invariant
            F.coalesce(F.col("language"), F.lit("unknown")).alias("language"),
            F.coalesce(F.col("technology"), F.lit("unknown")).alias("technology"),
        )
    )

    # --- git metadata (A1/J9) ----------------------------------------------
    if commit_log is not None:
        # per-file stats scale WITH the corpus — no explicit broadcast (it
        # would concentrate an unbounded dim on the driver); both sides are
        # (repo, path)-keyed, so AQE picks broadcast only while the stats
        # side's runtime size stays under the threshold
        stats = gitmeta.file_git_stats(commit_log)
        files = (files.join(stats, ["repo", "path"], "left"))
        authored = gitmeta.authored_edges(files, stats)
    else:
        files = (files.withColumn("created", F.lit(None).cast("timestamp"))
                 .withColumn("last_modified", F.lit(None).cast("timestamp"))
                 .withColumn("commits", F.lit(None).cast("array<string>"))
                 .withColumn("tags", F.array().cast("array<string>"))
                 .withColumn("authors", F.lit(None).cast(
                     "array<struct<name:string,first_commit:timestamp,"
                     "last_commit:timestamp,commit_count:bigint>>")))
        authored = None

    if persist:
        # lazy localCheckpoint: materialized once AND analysis-flat — files
        # feeds ~6 node/edge branches whose construction otherwise
        # re-analyzes the git-stats join subtree (blocks release on GC)
        files = files.localCheckpoint(eager=False)

    # --- structural edges ---------------------------------------------------
    # DECLARES accumulates from every flushed symbol row (UpsertSymbols.cypher:20-22)
    # with the file side using the promoted key where one exists
    promo = (overrides.filter(F.col("file_key_override").isNotNull())
             .select("repo", "path",
                     F.col("file_key_override").alias("_promoted_key")))
    # promoted keys are one row per razor file — corpus-proportional, so the
    # broadcast decision is left to AQE's runtime size estimate
    declares = (raw_symbols
                .join(promo, ["repo", "path"], "left")
                .select(
                    "repo",
                    F.coalesce(F.col("_promoted_key"), F.col("path")).alias("src_key"),
                    F.lit(S.R_DECLARES).alias("rel_type"),
                    F.col("key").alias("dst_key"))
                .distinct())
    has_file = files.select(
        "repo", F.col("repo").alias("src_key"),
        F.lit(S.R_HAS_FILE).alias("rel_type"), F.col("key").alias("dst_key"))

    # HAS_TAG from every flushed symbol with a namespace (Neo4jFlushService.cs:90-94)
    sym_tags = (
        raw_symbols
        .filter(F.col("namespace").isNotNull() & (F.trim(F.col("namespace")) != ""))
        .select("repo", F.col("key").alias("src_key"),
                F.explode(tags_expr("namespace")).alias("tag"))
        .distinct()
    )
    has_tag = sym_tags.select(
        "repo", "src_key", F.lit(S.R_HAS_TAG).alias("rel_type"),
        F.col("tag").alias("dst_key"))

    # --- dependencies (S7/J6/A2) + URLs (J7) --------------------------------
    urls_rec = (records.filter(F.col("rec") == "url")
                .select("repo", "url_dep_key", "url_key", "url_name").distinct())
    if overcap_pkg_metadata is not None:
        urls_rec = (urls_rec
                    .unionByName(pkg_urls_via_join(records, overcap_pkg_metadata))
                    .distinct())
    if assembly_refs is not None:
        deps = (assembly_refs.select(
            "repo", F.concat(F.lit("pkg:"), F.col("name")).alias("key"),
            "name", "version")
            .dropDuplicates(["repo", "key"]).orderBy("key"))
        dep_edges = deps.select(
            "repo", F.col("repo").alias("src_key"),
            F.lit(S.R_DEPENDS_ON).alias("rel_type"), F.col("key").alias("dst_key"))
        has_url = (urls_rec.join(
            deps.select("repo", F.col("key").alias("url_dep_key")),
            ["repo", "url_dep_key"], "left_semi")
            .select("repo", F.col("url_dep_key").alias("src_key"),
                    F.lit(S.R_HAS_URL).alias("rel_type"),
                    F.col("url_key").alias("dst_key")))
    else:
        deps = None
        dep_edges = None
        has_url = None

    # --- commits (J5) --------------------------------------------------------
    if ingest_commits and commit_log is not None:
        commits, part_of, committed, modified, file_stubs = \
            gitmeta.commit_nodes_and_edges(commit_log)
        # deleted flag overwritten by commit ingestion (UpsertCommit.cypher:17-19)
        files = (files.join(
            file_stubs.select("repo", "path", F.col("deleted").alias("_del")),
            ["repo", "path"], "left")
            .withColumn("deleted", F.coalesce(F.col("_del"), F.lit(False)))
            .drop("_del"))
        stub_files = (
            file_stubs.join(files.select("repo", "path"), ["repo", "path"], "left_anti")
            .select("repo", F.col("path").alias("key"),
                    F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
                    "path", "deleted"))
    else:
        commits = part_of = committed = modified = stub_files = None
        files = files.withColumn("deleted", F.lit(False))

    # --- node assembly -------------------------------------------------------
    def empty_nodes():
        return spark.createDataFrame([], S.NODES_SCHEMA)

    def as_nodes(df: DataFrame | None, mapping: dict, label: str) -> DataFrame:
        if df is None:
            return empty_nodes()
        cols = []
        for f in S.NODES_SCHEMA.fields:
            if f.name == "label":
                cols.append(F.lit(label).alias("label"))
            elif f.name == "bucket":
                cols.append(F.pmod(F.xxhash64("repo"), F.lit(S.N_BUCKETS))
                            .cast("int").alias("bucket"))
            elif f.name in mapping:
                cols.append(mapping[f.name].alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return df.select(*cols)

    c = F.col
    project_nodes = as_nodes(
        files.select("repo").distinct(),
        {"repo": c("repo"), "key": c("repo"), "name": c("repo"),
         "deleted": F.lit(False)}, S.L_PROJECT)
    file_nodes_main = as_nodes(
        files,
        {"repo": c("repo"), "key": c("key"), "name": c("file_name"),
         "fqn": c("path"), "namespace": c("namespace"),
         "documentation": c("sha256"), "language": c("language"),
         "technology": c("technology"), "deleted": c("deleted"),
         "file_path": c("path")}, S.L_FILE)
    file_nodes = file_nodes_main
    if stub_files is not None:
        file_nodes = file_nodes.unionByName(as_nodes(
            stub_files,
            {"repo": c("repo"), "key": c("key"), "name": c("file_name"),
             "fqn": c("path"), "file_path": c("path"), "deleted": c("deleted")},
            S.L_FILE))
        file_nodes = canon.dedup_by_key(file_nodes, ["repo", "key"], ["label"])
    symbol_nodes = as_nodes(
        symbols,
        {"repo": c("repo"), "key": c("key"), "name": c("name"),
         "kind": c("kind"), "klass": c("klass"), "fqn": c("fqn"),
         "accessibility": c("accessibility"), "file_key": c("path"),
         "file_path": c("path"), "namespace": c("namespace"),
         "start_line": c("start_line"), "end_line": c("end_line"),
         "documentation": c("documentation"), "comments": c("comments"),
         "version": c("version"), "language": c("language"),
         "technology": c("technology"), "deleted": F.lit(False)}, S.L_SYMBOL)
    dep_nodes = as_nodes(
        deps, {"repo": c("repo"), "key": c("key"), "name": c("name"),
               "version": c("version"), "deleted": F.lit(False)}, S.L_DEPENDENCY)
    author_names = None
    if authored is not None:
        author_names = authored.select("repo", F.col("dst_key").alias("name"))
        if committed is not None:
            author_names = author_names.unionByName(
                committed.select("repo", F.col("src_key").alias("name")))
        author_names = author_names.distinct()
    author_nodes = as_nodes(
        author_names, {"repo": c("repo"), "key": c("name"), "name": c("name"),
                       "deleted": F.lit(False)}, S.L_AUTHOR)
    commit_nodes = as_nodes(
        commits, {"repo": c("repo"), "key": c("key"),
                  "name": c("author_name"), "documentation": c("message"),
                  "date": c("date"), "deleted": F.lit(False)}, S.L_COMMIT)
    tag_nodes = as_nodes(
        sym_tags.select("repo", "tag").distinct(),
        {"repo": c("repo"), "key": c("tag"), "name": c("tag"),
         "deleted": F.lit(False)}, S.L_TAG)
    # URL nodes are MERGEd before the dep MATCH -> all distinct urls persist
    # (UpsertDependencyUrls.cypher:1-8)
    url_nodes = as_nodes(
        urls_rec.select("repo", "url_key", "url_name").distinct(),
        {"repo": c("repo"), "key": c("url_key"), "name": c("url_name"),
         "deleted": F.lit(False)}, S.L_URL)

    nodes = project_nodes
    for part in (file_nodes, symbol_nodes, dep_nodes, author_nodes,
                 commit_nodes, tag_nodes, url_nodes):
        nodes = nodes.unionByName(part)

    # --- edge assembly -------------------------------------------------------
    def as_edges(df: DataFrame | None) -> DataFrame | None:
        if df is None:
            return None
        have = set(df.columns)
        cols = [F.col(n) if n in have else
                F.lit(None).cast("bigint" if n == "commit_count"
                                 else "timestamp").alias(n)
                for n in ("first_commit", "last_commit", "commit_count")]
        return df.select("repo", "src_key", "rel_type", "dst_key", *cols)

    edge_parts = [as_edges(x) for x in (
        linked, declares, has_file, authored, has_tag, dep_edges, has_url,
        part_of, committed, modified) if x is not None]
    edges = edge_parts[0]
    for p in edge_parts[1:]:
        edges = edges.unionByName(p)
    edges = edges.withColumn(
        "bucket", F.pmod(F.xxhash64("repo"), F.lit(S.N_BUCKETS)).cast("int"))

    return {"nodes": nodes, "edges": edges, "files": files}


def run_pipeline(
    spark,
    source: DataFrame,
    commit_log: DataFrame | None = None,
    assembly_refs: DataFrame | None = None,
    pkg_metadata: DataFrame | None = None,
    min_accessibility: str = "Private",
    diff: DataFrame | None = None,
    ingest_commits: bool = True,
    persist: bool = True,
    records: DataFrame | None = None,
) -> dict:
    """Returns {'nodes', 'edges', 'files', 'symbols', 'records', 'linked',
    'plan'}: ``plan_inputs``, then extract -> link -> assemble.

    min_accessibility follows the reference option (default NotApplicable
    disables guard-A handlers; 'Private' emits everything — used for the
    full-graph runs). Pass ``records`` (a precomputed extraction output) to
    skip extraction; whether its package URLs need the Spark-side join is
    then re-detected from the dim itself (pkg_dim_over_cap), so a staged run
    with a big dim still unions it instead of silently dropping every Url
    node."""
    plan = plan_inputs(spark, source)
    files_src = apply_diff_filter(discover(source), diff)
    if records is None:
        # over-cap pkg-metadata dim (None) switches to the Spark-side join
        # of URLs onto the extracted dependency rows (pkg_urls_via_join)
        pkg_meta = collect_pkg_meta(pkg_metadata)
        overcap = pkg_meta is None
        records = extract(files_src, plan, pkg_meta, min_accessibility)
        if persist:
            records = records.persist()
    else:
        overcap = pkg_dim_over_cap(pkg_metadata)
    # SQL-string predicates (here and in assemble) cost one py4j round
    # trip each; a Column expression costs one per operator
    symbols = canon.dedup_symbols(records.filter("rec = 'symbol'"))
    if persist:
        # symbols feed the dictionary builds, the J1 semi-joins, DECLARES,
        # tags, and the node assembly — pay the window dedup once
        symbols = symbols.persist()
    linked = link(records, symbols, plan)
    out = assemble(spark, files_src, records, symbols, linked, commit_log,
                   assembly_refs, pkg_metadata if overcap else None,
                   ingest_commits, persist)
    return {**out, "symbols": symbols, "records": records, "linked": linked,
            "plan": plan}
