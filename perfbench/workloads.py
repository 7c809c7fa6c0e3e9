"""The benchmark's workloads: seeded inputs, the timed batch job, the output
checks against independent answers, and the traced run's layer numbers.

Each workload is one batch job run as a closed loop by one client: a single
Spark driver process at ``local[4]`` submits the next job only when the previous
one has finished.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys
import time
import zlib
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from codegraph import canon, gen, gitmeta, link, materialize, simsearch, textops
from codegraph import pipeline as P
from codegraph import schema as S
from codegraph.extract import dispatch

HERE = os.path.dirname(os.path.abspath(__file__))

COMMIT_LOG_ARROW = pa.schema([
    ("repo", pa.string()), ("hash", pa.string()),
    ("author_name", pa.string()), ("author_email", pa.string()),
    ("date", pa.timestamp("us", tz="UTC")), ("message", pa.string()),
    ("refs", pa.list_(pa.string())),
    ("changed_files", pa.list_(pa.struct([
        ("path", pa.string()), ("is_deleted", pa.bool_())]))),
])

# edges that link_edges emits: both endpoints must be Symbol nodes
# (DEPENDS_ON also carries project -> package edges, whose source is the repo)
SYMBOL_RELS = (S.R_CONTAINS, S.R_INVOKES, S.R_HAS_PROPERTY, S.R_DEPENDS_ON,
               S.R_BINDS_TO, S.R_SETS_PROPERTY, S.R_HAS_ATTRIBUTE)

HANDLERS = ("csharp", "razor", "xaml", "xml", "json", "css", "html", "csproj",
            "typescript", "javascript", "dart", "packagejson", "pubspec")


def source_corpus(seed: int, repos: int, files: int, classes: int) -> pd.DataFrame:
    return pd.concat([gen.gen_source_pdf(r, files, seed, classes)
                      for r in range(repos)], ignore_index=True)


def write_parquet(pdf: pd.DataFrame, path: str, schema=None) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                        preserve_index=False), path)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


def parquet_rows(path: str) -> int:
    return pq.ParquetDataset(path).read(columns=[]).num_rows


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def stage(spark, df, path: str):
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def row_digest(table: pa.Table) -> str:
    """Order-independent digest: the sum, mod 2^64, of one hash per row."""
    acc = 0
    cols = sorted(table.column_names)
    for row in table.select(cols).to_pylist():
        h = hashlib.sha256(repr([row[c] for c in cols]).encode()).digest()
        acc = (acc + int.from_bytes(h[:8], "little")) % 2 ** 64
    return f"{table.num_rows}:{acc:016x}"


def recorded_digest(workload: str, seed: int) -> str | None:
    path = os.path.join(HERE, "digests.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f).get(workload, {}).get(str(seed))


# ---------------------------------------------------------------------------
# index_fleet: the product path, run_pipeline then write_graph
# ---------------------------------------------------------------------------


class IndexFleet:
    """Many small polyglot repos with the generator's default language mix
    and one class per C# file: linking, node/edge assembly and the write
    dominate, extraction is the smaller part."""

    name = "index_fleet"
    repos, files, classes = 8, 30, 1

    def generate(self, ctx, dest: str) -> None:
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(dest)
        self.src = source_corpus(ctx.seed, self.repos, self.files, self.classes)
        cl = pd.concat([gen.gen_commit_log_pdf(r, self.files, ctx.seed)
                        for r in range(self.repos)], ignore_index=True)
        write_parquet(self.src, os.path.join(dest, "source.parquet"))
        write_parquet(cl, os.path.join(dest, "commit_log.parquet"),
                      COMMIT_LOG_ARROW)
        write_parquet(gen.gen_assembly_refs_pdf(self.repos, ctx.seed),
                      os.path.join(dest, "assembly_refs.parquet"))
        write_parquet(gen.gen_pkg_metadata_pdf(),
                      os.path.join(dest, "pkg_metadata.parquet"))
        self.input = dest

    def prepare(self, ctx) -> None:
        """No warm-up: the job is timed as the CLI runs it, the first job
        in a fresh Spark driver."""

    def read_inputs(self, spark):
        return [spark.read.parquet(os.path.join(self.input, f"{t}.parquet"))
                for t in ("source", "commit_log", "assembly_refs",
                          "pkg_metadata")]

    def timed(self, ctx, out_dir: str) -> None:
        with ctx.span("pipeline.read_inputs", "pipeline"):
            src, cl, ar, pm = self.read_inputs(ctx.spark)
        res = P.run_pipeline(ctx.spark, src, commit_log=cl, assembly_refs=ar,
                             pkg_metadata=pm)
        materialize.write_graph(res["nodes"], res["edges"], res["files"],
                                out_dir)

    def result(self, out_dir: str) -> dict:
        nodes = pq.ParquetDataset(os.path.join(out_dir, "nodes")).read()
        edges = pq.ParquetDataset(os.path.join(out_dir, "edges")).read()
        return {"triples": nodes.num_rows + edges.num_rows,
                "out_bytes": sum(dir_bytes(os.path.join(out_dir, t))
                                 for t in ("nodes", "edges", "files")),
                "digest": row_digest(nodes) + "/" + row_digest(edges)}

    def check(self, ctx, out_dir: str, res: dict) -> list[str]:
        return check_graph(out_dir, self.src) + check_digest(
            self.name, ctx.seed, res["digest"])

    def instrument(self, tracer) -> None:
        from codegraph import extract as X

        for mod, attr, layer in (
                (P, "run_pipeline", "pipeline"),
                (P, "extract_records", "extract"),
                (P, "scan_ts_projects", "extract"),
                (P, "scan_ts_configs", "extract"),
                (P, "collect_pkg_meta", "extract"),
                (P, "attach_ts_projects", "extract"),
                (P, "pkg_urls_via_join", "extract"),
                (X, "extract_records", "extract"),
                (canon, "dedup_symbols", "canon"),
                (canon, "dedup_by_key", "canon"),
                (link, "build_dictionaries", "link"),
                (link, "resolve_mentions", "link"),
                (link, "link_edges", "link"),
                (gitmeta, "file_git_stats", "gitmeta"),
                (gitmeta, "authored_edges", "gitmeta"),
                (gitmeta, "commit_nodes_and_edges", "gitmeta"),
                (materialize, "write_graph", "materialize")):
            tracer.wrap(mod, attr, layer)

    def layer_metrics(self, ctx, res: dict, out_dir: str) -> dict:
        """The isolated pass: each layer's input staged to parquet, the
        layer alone timed to the noop sink; then the lexers without Spark."""
        spark, tr, span = ctx.spark, ctx.tracer, ctx.span
        stg = os.path.join(ctx.work, "staged")
        m: dict = {}
        spans = {s["name"]: s for s in tr.spans}
        m["pipeline.build_s"] = tr.duration(spans["pipeline.run_pipeline"])
        m["pipeline.py4j_calls"] = spans["pipeline.run_pipeline"]["py4j"]
        m["link.resolve_build_s"] = tr.duration(spans["link.resolve_mentions"])
        m["link.dicts_s"] = sum(tr.duration(s) for s in tr.spans
                                if s["name"] == "link.build_dictionaries")
        m["link.calls"] = sum(s["name"] in ("link.resolve_mentions",
                                            "link.link_edges")
                              for s in tr.spans)
        m["materialize.write_s"] = tr.duration(spans["materialize.write_graph"])
        m["materialize.files_written"] = sum(
            1 for d, _, fs in os.walk(out_dir) for f in fs
            if f.endswith(".parquet"))
        m["materialize.bytes_written"] = res["out_bytes"]

        src, cl, ar, pm = self.read_inputs(spark)
        filtered = P.discover(src).repartition(ctx.cores)
        m["extract.input_mb"] = float(self.src["content"].str.len().sum()) / 2 ** 20
        # layers whose output the next layer reads are timed writing it to
        # the parquet stage; the last ones are timed to the noop sink
        with span("exec.extract", "extract") as sp:
            records = stage(spark, materialize._extract_stage(filtered, pm),
                            os.path.join(stg, "records"))
        m["extract.s"] = tr.duration(sp)
        raw = records.filter("rec = 'symbol'")
        with span("exec.canon", "canon") as sp:
            symbols = stage(spark, canon.dedup_symbols(raw),
                            os.path.join(stg, "symbols"))
        m["canon.dedup_s"] = tr.duration(sp)
        with span("exec.link.resolve", "link") as sp:
            resolved = stage(spark, link.resolve_mentions(records, symbols),
                             os.path.join(stg, "resolved"))
        m["link.resolve_exec_s"] = tr.duration(sp)
        spark.catalog.clearCache()
        candidates = stage(spark, records.filter("rec = 'rel'").select(
            "repo", "src_key", "dst_key", "rel_type").unionByName(
            resolved.select("repo", "src_key", "dst_key", "rel_type")),
            os.path.join(stg, "candidates"))
        with span("exec.link.edges", "link") as sp:
            noop(link.link_edges(candidates, symbols))
        m["link.edges_exec_s"] = tr.duration(sp)
        n_linked = link.link_edges(candidates, symbols).count()
        with span("exec.gitmeta", "gitmeta") as sp:
            noop(gitmeta.file_git_stats(cl))
            for df in gitmeta.commit_nodes_and_edges(cl):
                noop(df)
        m["gitmeta.s"] = tr.duration(sp)
        with span("exec.pipeline.assemble", "pipeline") as sp:
            out = P.run_pipeline(spark, src, commit_log=cl, assembly_refs=ar,
                                 pkg_metadata=pm, records=records)
            noop(out["nodes"])
            noop(out["edges"])
        m["pipeline.assemble_exec_s"] = tr.duration(sp)
        spark.catalog.clearCache()

        recs = Counter({r["rec"]: r["count"] for r in
                        records.groupBy("rec").count().collect()})
        for rec in ("symbol", "rel", "mention", "url", "filemeta"):
            m[f"extract.records.{rec}"] = recs[rec]
        mentions = records.filter("rec = 'mention'")
        kinds = Counter({r["m_kind"]: r["count"] for r in
                         mentions.groupBy("m_kind").count().collect()})
        for k in MENTION_KINDS:
            m[f"link.mentions.{k}"] = kinds[k]
        rels = Counter({r["rel_type"]: r["count"] for r in
                        resolved.groupBy("rel_type").count().collect()})
        for rel, key in RESOLVED_RELS.items():
            m[f"link.resolved.{key}"] = rels[rel]
        # signature mentions (retsig, propsig, ...) carry no rel: they feed
        # the member tables and never become edges themselves
        n_edge_mentions = mentions.filter("m_rel != ''").count()
        m["link.resolution_rate"] = (sum(rels.values()) / n_edge_mentions
                                     if n_edge_mentions else 0.0)
        n_cand = candidates.count()
        m["link.kept_ratio"] = n_linked / n_cand if n_cand else 0.0
        m["canon.rows_in"] = recs["symbol"]
        m["canon.rows_out"] = symbols.count()
        m.update(lexer_times(self.src, filtered, pm))
        return m


# resolved candidate edges by rel_type, as named in the metrics
RESOLVED_RELS = {S.R_INVOKES: "INVOKES", S.R_DEPENDS_ON: "DEPENDS_ON"}

# every mention kind the C# and XAML lexers emit
MENTION_KINDS = ("type", "invoke", "invoke_via", "invoke_static",
                 "invoke_ustatic", "invoke_base", "ctor", "chain_own",
                 "chain_via", "op", "conv_impl", "conv_expl", "using",
                 "global_using", "retsig", "propsig", "optsig", "extsig",
                 "basesig")


def lexer_times(src: pd.DataFrame, filtered, pm) -> dict:
    """Per-handler extraction time without Spark: every source file through
    the same per-file entry point the Arrow batch loop calls."""
    ts_projects = dispatch.scan_ts_projects(filtered) or {}
    ts_configs = dispatch.scan_ts_configs(filtered) or {}
    pkg_meta = dispatch.collect_pkg_meta(pm) or {}
    min_acc = S.ACC_ORDER["Private"]
    t = defaultdict(float)
    excluded = re.compile(P._EXCLUDED_RE)
    for repo, path, content in zip(src["repo"], src["path"], src["content"]):
        handler = dispatch.handler_for_path(path)
        if handler is None or excluded.search(path.lower()):
            continue
        em = dispatch.Emitter()
        t0 = time.perf_counter()
        dispatch._extract_into(em, repo, path, content, min_acc, ts_projects,
                               pkg_meta, ts_configs=ts_configs)
        t[handler] += time.perf_counter() - t0
    return {f"extract.handler_s.{h}": t[h] for h in HANDLERS}


def check_graph(out_dir: str, src: pd.DataFrame) -> list[str]:
    """The graph invariants, checked with DuckDB on the written files and
    with hashlib on the generated source."""
    import duckdb

    problems = []
    con = duckdb.connect()
    for t in ("nodes", "edges", "files"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{out_dir}/{t}/**/*.parquet', hive_partitioning = true)")
    sha = {(r, p): hashlib.sha256(c.encode("utf-8")).hexdigest()
           for r, p, c in zip(src["repo"], src["path"], src["content"])}
    file_nodes = con.execute(
        f"SELECT repo, file_path, documentation FROM nodes "
        f"WHERE label = '{S.L_FILE}' AND documentation IS NOT NULL").fetchall()
    files = con.execute("SELECT repo, path, sha256 FROM files").fetchall()
    if not file_nodes or len(file_nodes) != len(files):
        problems.append(f"{len(file_nodes)} hashed File nodes for "
                        f"{len(files)} files rows")
    bad = [r for r in file_nodes + files if sha.get((r[0], r[1])) != r[2]]
    if bad:
        problems.append(f"{len(bad)} File sha256 values differ from the "
                        f"source content, e.g. {bad[0][:2]}")
    rels = ", ".join(f"'{r}'" for r in SYMBOL_RELS)
    dangling = con.execute(f"""
        WITH sym AS (SELECT repo, key FROM nodes WHERE label = '{S.L_SYMBOL}')
        SELECT count(*) FROM edges e
        WHERE e.rel_type IN ({rels}) AND e.src_key <> e.repo
          AND (NOT EXISTS (SELECT 1 FROM sym s
                           WHERE s.repo = e.repo AND s.key = e.src_key)
               OR NOT EXISTS (SELECT 1 FROM sym s
                              WHERE s.repo = e.repo AND s.key = e.dst_key))
    """).fetchone()[0]
    if dangling:
        problems.append(f"{dangling} linked edges with an endpoint that is "
                        "not a Symbol node")
    dup = con.execute("SELECT count(*) FROM (SELECT repo, label, key FROM "
                      "nodes GROUP BY ALL HAVING count(*) > 1)").fetchone()[0]
    if dup:
        problems.append(f"{dup} (repo, label, key) duplicates")
    return problems


def check_digest(workload: str, seed: int, digest: str) -> list[str]:
    want = recorded_digest(workload, seed)
    if want is None:
        print(f"perfbench: no recorded digest for {workload} seed {seed}; "
              f"this run's digest is {digest}", file=sys.stderr)
        return []
    return [] if want == digest else [
        f"digest {digest} differs from the recorded {want}"]


# ---------------------------------------------------------------------------
# code_dedup: near-duplicate and similar-file search over file contents
# ---------------------------------------------------------------------------

TOKEN_RE = re.compile(textops.TOKEN_SPLIT)
EMB_DIM = 64
N_QUERIES, TOP_K = 10, 5


def tokens(text: str) -> list[str]:
    return [t for t in TOKEN_RE.split(text.lower()) if t]


def token_hash(tok: str) -> int:
    acc = 0
    for ch in tok:
        acc = (acc * textops.HASH_BASE + ord(ch)) % textops.HASH_MOD
    return acc


def simhash_ref(text: str, bits: int = 31) -> int:
    votes = [0] * bits
    for h in map(token_hash, set(tokens(text))):
        for b in range(bits):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(bits) if votes[b] >= 0)


def hashed_bow(texts, dim: int = EMB_DIM) -> np.ndarray:
    out = np.zeros((len(texts), dim), dtype=np.float32)
    for i, text in enumerate(texts):
        for tok in tokens(text):
            out[i, zlib.crc32(tok.encode()) % dim] += 1.0
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    return out / np.where(norms == 0, 1.0, norms)


def round6(x: float) -> float:
    """Spark's round(x, 6): half-up on the decimal form of the double."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def jaccard_ref(texts: list[str], threshold: float = 0.5) -> dict:
    """Exact word-3-gram jaccard pairs, as textops.jaccard_pairs defines
    them: {(id_a, id_b): jaccard}."""
    sh = []
    for text in texts:
        t = tokens(text)
        sh.append({" ".join(t[i:i + 3]) for i in range(len(t) - 2)})
    out = {}
    for a in range(len(sh)):
        for b in range(a + 1, len(sh)):
            inter = len(sh[a] & sh[b])
            if inter:
                j = round6(inter / (len(sh[a]) + len(sh[b]) - inter))
                if j >= threshold:
                    out[(a, b)] = j
    return out


def cosine_ref(texts: list[str], dim: int = 256, threshold: float = 0.95) -> dict:
    """Exact hashed-BoW cosine^2 pairs, as textops.embedding_cosine_dedup
    defines them (integer dot products, one final division):
    {(id_a, id_b): cosine_sq}."""
    c = np.zeros((len(texts), dim), dtype=np.int64)
    for i, text in enumerate(texts):
        for tok in tokens(text):
            c[i, token_hash(tok) % dim] += 1
    dots = c @ c.T
    sq = np.diag(dots)
    cut = round(threshold * threshold, 6)
    out = {}
    for a, b in zip(*np.nonzero(np.triu(dots, 1))):
        d = int(dots[a, b])
        v = round6(float(d * d) / int(sq[a] * sq[b]))
        if v >= cut:
            out[(int(a), int(b))] = v
    return out


def read_table(path: str) -> pd.DataFrame:
    return pq.ParquetDataset(path).read().to_pandas()


def pair_map(df: pd.DataFrame, col: str) -> dict:
    return {(int(a), int(b)): float(v)
            for a, b, v in zip(df["id_a"], df["id_b"], df[col])}


class CodeDedup:
    """Exact, MinHash-LSH and SimHash near-duplicate search over the file
    contents of a seeded corpus, then exact and LSH top-k neighbours over
    dense hashed bag-of-words file vectors.

    ``embedding_cosine_dedup`` runs only in the traced run: its cold call
    takes about 20 s here, and with it in the timed job the benchmark's runs
    would not fit their time budget."""

    name = "code_dedup"
    repos, files, classes = 8, 25, 1
    TEXTOPS = ("exact_dedup", "minhash_lsh_pairs", "simhash",
               "embedding_cosine_dedup")
    OPS = ("exact_dedup", "minhash_lsh_pairs", "simhash", "cosine_topk",
           "ann_lsh_topk")

    def generate(self, ctx, dest: str) -> None:
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(dest)
        src = source_corpus(ctx.seed, self.repos, self.files, self.classes)
        self.docs = pd.DataFrame({"doc_id": np.arange(len(src), dtype=np.int64),
                                  "text": src["content"]})
        self.emb = hashed_bow(self.docs["text"].tolist())
        write_parquet(self.docs, os.path.join(dest, "docs.parquet"))
        emb = pa.table({"vec_id": pa.array(np.arange(len(self.emb)), pa.int64()),
                        "embedding": pa.array(list(self.emb),
                                              pa.list_(pa.float32()))})
        pq.write_table(emb, os.path.join(dest, "embeddings.parquet"))
        self.input = dest

    def read_inputs(self, spark):
        return (spark.read.parquet(os.path.join(self.input, "docs.parquet")),
                spark.read.parquet(os.path.join(self.input, "embeddings.parquet")))

    def prepare(self, ctx) -> None:
        """The exact answers the LSH operators are checked against, computed
        without Spark from the same formulas."""
        self.jaccard_ref = jaccard_ref(self.docs["text"].tolist())
        self.cosine_ref = cosine_ref(self.docs["text"].tolist())

    def builds(self, docs, emb) -> dict:
        T, N = textops, simsearch
        return {
            "exact_dedup": ("textops", lambda: T.exact_dedup(docs)),
            "minhash_lsh_pairs": ("textops", lambda: T.minhash_lsh_pairs(docs)),
            "simhash": ("textops", lambda: T.simhash(docs)),
            "embedding_cosine_dedup": (
                "textops", lambda: T.embedding_cosine_dedup(docs)),
            "cosine_topk": ("simsearch", lambda: N.cosine_topk(
                emb, n_queries=N_QUERIES, k=TOP_K)),
            "ann_lsh_topk": ("simsearch", lambda: N.ann_lsh_topk(
                emb, n_queries=N_QUERIES, k=TOP_K)),
        }

    def timed(self, ctx, out_dir: str) -> None:
        with ctx.span("textops.read_inputs", "textops"):
            builds = self.builds(*self.read_inputs(ctx.spark))
        for op in self.OPS:
            layer, build = builds[op]
            with ctx.span(f"exec.{layer}.{op}", layer):
                build().write.mode("overwrite").parquet(os.path.join(out_dir, op))

    def result(self, out_dir: str) -> dict:
        return {"triples": sum(parquet_rows(os.path.join(out_dir, op))
                               for op in self.OPS),
                "out_bytes": dir_bytes(out_dir)}

    def check(self, ctx, out_dir: str, res: dict) -> list[str]:
        problems = []
        out = {op: read_table(os.path.join(out_dir, op)) for op in self.OPS}
        d = self.docs
        sha = d["text"].map(lambda t: hashlib.sha256(t.encode()).hexdigest())
        grp = pd.DataFrame({"doc_id": d["doc_id"], "text_sha": sha})
        grp["dup_count"] = grp.groupby("text_sha")["doc_id"].transform("size")
        grp["canonical_id"] = grp.groupby("text_sha")["doc_id"].transform("min")
        got = out["exact_dedup"].sort_values("doc_id").reset_index(drop=True)
        want = grp.sort_values("doc_id").reset_index(drop=True)
        if not got[want.columns].astype(str).equals(want.astype(str)):
            problems.append("exact_dedup differs from the hashlib grouping")

        lsh = pair_map(out["minhash_lsh_pairs"], "jaccard")
        exact = self.jaccard_ref
        wrong = [p for p in lsh if abs(exact.get(p, -1.0) - lsh[p]) > 1e-9]
        if wrong:
            problems.append(f"{len(wrong)} minhash_lsh_pairs rows are not "
                            f"exact jaccard pairs, e.g. {wrong[0]}")
        # banding 16 x 4 misses a pair at jaccard 0.9 with P < 4e-8, so every
        # such pair must be found; pairs nearer the 0.5 threshold may be
        # missed by design and are counted as recall instead
        missed = [p for p, j in exact.items() if j >= 0.9 and p not in lsh]
        if missed:
            problems.append(f"minhash_lsh_pairs missed {len(missed)} pairs "
                            "with jaccard >= 0.9")
        self.minhash_recall = len(lsh) / len(exact) if exact else 1.0

        sim = out["simhash"].set_index("doc_id")["simhash"].sort_index()
        want = pd.Series([simhash_ref(t) for t in d["text"]], index=d["doc_id"])
        if not (sim.index.equals(want.index) and (sim == want).all()):
            problems.append("simhash differs from the Python reference")

        problems += self.check_topk(out["cosine_topk"])
        return problems

    def check_cosine(self, out: pd.DataFrame) -> list[str]:
        got = pair_map(out, "cosine_sq")
        if got == self.cosine_ref:
            return []
        return [f"embedding_cosine_dedup: {len(got)} pairs, the exact answer "
                f"has {len(self.cosine_ref)}; "
                f"{len(got.items() ^ self.cosine_ref.items())} differ"]

    def brute_topk(self) -> dict[int, list[tuple[float, int]]]:
        e = self.emb.astype(np.float64)
        n2 = (e * e).sum(axis=1)
        out = {}
        for q in range(min(N_QUERIES, len(e))):
            cos = np.round(e @ e[q] / np.sqrt(n2[q] * n2), 6)
            cos[q] = -np.inf
            order = sorted(range(len(e)), key=lambda v: (-cos[v], v))[:TOP_K]
            out[q] = [(float(cos[v]), v) for v in order]
        return out

    def check_topk(self, topk: pd.DataFrame) -> list[str]:
        """cosine_topk against numpy. Scores are compared within 2e-6: the
        Spark fold and numpy sum in different orders, so a score can round
        to the neighbouring sixth decimal, and equal scores may swap."""
        self.brute = self.brute_topk()
        bad = 0
        for q, want in self.brute.items():
            got = topk[topk["query_id"] == q].sort_values("rank")["cosine"].tolist()
            if len(got) != len(want) or any(
                    abs(g - w[0]) > 2e-6 for g, w in zip(got, want)):
                bad += 1
        return [f"cosine_topk differs from numpy on {bad} queries"] if bad else []

    def instrument(self, tracer) -> None:
        for op in self.TEXTOPS:
            tracer.wrap(textops, op, "textops")
        for op in ("cosine_topk", "ann_lsh_topk"):
            tracer.wrap(simsearch, op, "simsearch")

    def layer_metrics(self, ctx, res: dict, out_dir: str) -> dict:
        tr = ctx.tracer
        docs, emb = self.read_inputs(ctx.spark)
        traced_only = "embedding_cosine_dedup"
        with ctx.span(f"exec.textops.{traced_only}", "textops"):
            self.builds(docs, emb)[traced_only][1]().write.parquet(
                os.path.join(out_dir, traced_only))
        spans = {s["name"]: s for s in tr.spans}
        m = {f"textops.{op}_s": tr.duration(spans[f"exec.textops.{op}"])
             for op in self.TEXTOPS}
        m["simsearch.cosine_topk_s"] = tr.duration(spans["exec.simsearch.cosine_topk"])
        m["simsearch.ann_lsh_s"] = tr.duration(spans["exec.simsearch.ann_lsh_topk"])

        n_docs = len(self.docs)
        out = {op: read_table(os.path.join(out_dir, op))
               for op in self.OPS + (traced_only,)}
        m["problems"] = self.check_cosine(out[traced_only])
        cand = {
            "exact_dedup": n_docs,
            "minhash_lsh_pairs": textops.lsh_candidates(docs).count(),
            "simhash": n_docs,
            "embedding_cosine_dedup": textops.cosine_lsh_candidates(
                textops.doc_vectors(docs)).count(),
        }
        sims = out["simhash"]["simhash"]
        pairs = {
            "exact_dedup": int((out["exact_dedup"]["dup_count"] > 1).sum()),
            "minhash_lsh_pairs": len(out["minhash_lsh_pairs"]),
            "simhash": int(sims.duplicated(keep=False).sum()),
            "embedding_cosine_dedup": len(out["embedding_cosine_dedup"]),
        }
        for op in self.TEXTOPS:
            m[f"textops.{op}.candidates"] = cand[op]
            m[f"textops.{op}.pairs"] = pairs[op]
            m[f"textops.{op}.precision"] = pairs[op] / cand[op] if cand[op] else 0.0
        m["textops.minhash_lsh_pairs.recall"] = self.minhash_recall
        truth = {(q, v) for q, lst in self.brute.items() for _, v in lst}
        ann = set(zip(out["ann_lsh_topk"]["query_id"], out["ann_lsh_topk"]["vec_id"]))
        m["simsearch.ann_recall"] = len(truth & ann) / len(truth) if truth else 0.0
        return m


WORKLOADS = {w.name: w for w in (IndexFleet(), CodeDedup())}
