"""Entity linking: mention resolution + dangling-edge drop.

Two distributed stages, all expressed as DataFrame joins so Catalyst picks
broadcast vs shuffle strategies (AQE skew-join enabled in session.py):

1. **Mention resolution** — the replica's stand-in for Roslyn semantic
   binding. C# extraction emits unresolved type/invocation mentions with an
   ordered candidate-namespace list (own namespace first, then usings, then
   the repo-wide ``global using`` pool — the compilation-level lookup of
   RoslynSymbolProcessor.cs:68-99). They are resolved against the per-repo
   symbol dictionary; the first matching namespace wins; unresolvable
   mentions are Roslyn error types -> no edge
   (MemberDependencyExtractor.cs:241,255,282).

   Member lookup is overload-aware: candidates on the resolved type are
   ranked by (0) declared-parameter-token equality against the mention's
   classified argument tokens, then (1) arity equality; mentions matching
   neither drop (Roslyn overload resolution failure => no edge). Method
   groups carry no argument list and match by name. User-defined operator
   mentions (``operator +``) resolve on the operand type; conversion
   mentions (``implicit operator int``) search BOTH the operand and target
   types, the two places C# allows the declaration.

   Ambiguity is an error, not a guess (Roslyn analogs):
   * a name reachable ONLY through >=2 distinct ``global using`` namespaces
     is CS0104-ambiguous -> the mention drops (no edge);
   * an invocation whose argument tokens are partially unclassified ('?')
     tying >=2 same-arity overloads has no principled winner -> drops
     (Roslyn would bind by conversion rules the lexer cannot see).
   Generic method declarations (``Echo<T>(T)``) are looked up by their bare
   name (Roslyn infers type arguments at the call site) and matched by
   arity — but a generic winner emits NO edge: the reference keys edges off
   the CONSTRUCTED symbol display (``Echo<int>(int)``), which matches no
   declared node, so the edge drops at MergeRelationships. The successful
   bind still suppresses the extension-method fallback.

   Two member-lookup extensions mirror Roslyn's binding order:
   * **access chains, up to MAX_CHAIN_HOPS hops** — ``a.B().C()``,
     ``a.B().C().D().E()``, property hops (``a.Prop.M()``,
     ``this.Prop.M()``), awaited heads (``var r = await a.GetAsync();
     r.M()``), and their var-tracked equivalents (``var x = a.B();
     x.C()``: the local carries B's pending return): extraction emits a
     ``chain`` mention whose ``m_head`` lists the hop signatures. The hop
     dictionaries — ``retsig`` (per method declaration) and ``propsig``
     (per property/field) — pre-resolve their result tokens ONCE at
     dictionary scale against the DECLARING file's candidate namespaces
     (Roslyn resolves a return/property type at its declaration site);
     awaited tokens additionally unwrap ``Task<T>``/``ValueTask<T>`` to
     ``T`` (the awaiter's GetResult type). Head-overload ambiguity, a
     keyword/BCL result, an awaited non-Task-shaped return, or a
     deeper-than-bound chain drops (the reference's dangling-edge outcome;
     Roslyn binds arbitrary depth semantically).
   * **extension methods** — receiver-typed calls that found NO applicable
     instance member fall through to an ``extsig`` dictionary of static
     methods keyed by their ``this``-parameter token (matched against the
     receiver type's simple name — class names are unique per repo in the
     fixture subset). Instance members always win, like C# lookup order.

   **Plan shape (round 7)**: every dictionary is PRE-GROUPED once by its
   lookup key — types by (repo, name) with candidate-namespace entries,
   members by (repo, type_display, lookup_name) with overload entries,
   retsig/propsig by (repo, receiver display, name, prop-flag), extsig by
   (repo, name, receiver simple name). Each grouped key holds ONE row, so
   a mention resolves with a single equi-join and the whole candidate
   ranking (namespace priority, overload rank, numeric-widening distance,
   inheritance depth, lookup order, ambiguity detection) evaluates as
   array expressions over the entry list — no per-mention exploded
   candidate rows, no ranked min_by groupBys, no per-mid recovery joins.
   The chain loop folds the SAME way: one grouped-retsig join per hop with
   the hop outcome computed in-expression; finished/dead chains pass
   through untouched, so the loop is a single linear plan with no
   mid-loop unions or per-hop persists. Mention identity columns ride
   along the (mostly map-side) joins; only the conversion /
   using-static / base-invocation paths — the only places a mention can
   legitimately hold >1 candidate receiver — keep a small per-mid merge
   groupBy over a compact 64-bit ``mid = xxhash64(identity columns)``.

   Join strategy is byte-gated (``codegraph.dict_broadcast``, set by
   ``pipeline._gate_aqe`` from the listed input size): below the gate the
   grouped dictionaries are broadcast — the mention side is never
   shuffled at all and the resolution pipeline is a chain of map-side hash
   joins inside one codegen span. At or above the gate (100 TB: the
   dictionaries scale with the corpus and must not concentrate on the
   driver) every dictionary join falls back to a ``shuffle_hash`` hint —
   equi-joins on short keys where hashing the (smaller, 1-row-per-key
   grouped) dictionary side beats sorting both sides, and one shuffle
   round per lookup instead of the old explode+join+min_by three. A hint
   is plan-time advice: if the build side's size estimate is too large
   Spark ignores it, and a misestimated build side can still OOM at
   runtime, which is why the hint sits on the bounded grouped-dictionary
   side, not the mention side.

2. **Dangling-edge drop (J1/F9)** — candidate edges survive only when BOTH
   endpoint keys exist as Symbol nodes in the same repo universe
   (MergeRelationships.cypher:1-5). This silently drops: all file-keyed
   edges (files are not Symbols), all BCL/keyword-type DEPENDS_ON, all
   TS/Dart edges (kind-token key mismatch) — reference behavior.

Graph universes are per-repo (each reference run targets one --database),
so every join key includes ``repo``.

Skew: hot in-repo names (a 'Util' class referenced by most files) land on
one grouped-dictionary key. Under the broadcast gate there is no shuffle to
skew. On the shuffle path, ``salt > 0`` replicates the grouped dictionary S
ways and routes each mention by a deterministic per-row hash of its
identity columns, bounding the largest join partition (explicit skew
salting per north_rule); AQE skew-join splitting covers residual imbalance
at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from codegraph.extract.base import RS, US
from codegraph.extract.csharp import EXTERNAL_TYPE_DISPLAY, KEYWORD_TYPES


def build_dictionaries(symbols: DataFrame):
    """FQN dictionaries from deduped C# symbols.

    types:   (t_repo, ns, name, type_key, type_display)
    members: (mm_repo, type_display, lookup_name, nparams, params, member_key)
             lookup_name is the display segment before '(' — plain name,
             '<ctor>' sentinel, 'operator +', 'implicit operator int', ...
    nss:     (n_repo, ns) — namespaces declared in-repo (same-assembly check,
             MemberDependencyExtractor.cs:53-75)
    """
    cs = symbols.filter(F.col("language") == "csharp")
    types = (
        cs.filter(F.col("kind") == "NamedType")
        .select(
            F.col("repo").alias("t_repo"),
            F.coalesce(F.col("namespace"), F.lit("")).alias("ns"),
            F.col("name"),
            F.col("key").alias("type_key"),
            F.expr("substring(fqn, 9)").alias("type_display"),  # strip 'global::'
        )
    )
    nss = types.select(F.col("t_repo").alias("n_repo"), "ns").distinct()
    methods = (
        cs.filter(F.col("kind") == "Method")
        .select(
            "repo", "key",
            F.expr("substring(fqn, 9)").alias("display"),
            F.col("name"),
        )
        .withColumn("head", F.expr("substring_index(display, '(', 1)"))
        .withColumn("params", F.regexp_extract("display", r"\((.*)\)$", 1))
        .withColumn("nparams", F.when(F.col("params") == "", F.lit(0))
                    .otherwise(F.size(F.split(F.col("params"), ","))))
    )
    # head = "Ns.Type.name"; lookup_name = last dot segment (also 'operator +'
    # and 'implicit operator int' — conversion return tokens are non-dotted in
    # the subset); '.ctor' symbols get a '<ctor>' sentinel. Generic methods
    # display as 'Echo<T>' (SymbolMapper.cs:43-47) but are INVOKED by bare
    # name (Roslyn infers the type arguments), so the lookup key strips the
    # type-parameter list — guarded to `name<` shapes so 'operator <' stays.
    methods = (
        methods
        .withColumn("simple", F.element_at(F.split(F.col("head"), "\\."), -1))
        .withColumn(
            "type_display",
            F.expr("substring(head, 1, length(head) - length(simple) - 1)"),
        )
        # generic methods STAY in the dictionary so they win the ranked
        # lookup (suppressing the extension-method fallback, like Roslyn's
        # successful instance binding) — but the winner emits NO edge:
        # GetSymbolInfo returns the CONSTRUCTED method (Echo<int>(int)) and
        # SymbolMapper.BuildStableSymbolKey displays it without
        # .OriginalDefinition, so the edge key matches no declared node and
        # drops at MergeRelationships (MATCH, not MERGE).
        .withColumn("is_generic", F.col("simple").rlike("^\\w+<"))
        .withColumn("lookup_name",
                    F.when(F.col("name") == ".ctor", F.lit("<ctor>"))
                    .when(F.col("simple").rlike("^\\w+<"),
                          F.expr("substring_index(simple, '<', 1)"))
                    .otherwise(F.col("simple")))
        .select(F.col("repo").alias("mm_repo"), "type_display",
                "lookup_name", "nparams", "params", "is_generic",
                F.col("key").alias("member_key"))
    )
    return types, methods, nss


_MENTION_ID_COLS = ["repo", "path", "m_kind", "m_from_key", "m_rel", "m_name",
                    "m_recv", "m_usings", "m_nargs", "m_args", "m_head"]

# static bound on access-chain depth (a.B().C().D().E() = 3 hops). Each hop
# costs one bounded dictionary join over chain-mention-scale frames, so the
# constant prices linearly; deeper chains than this drop (the reference
# binds arbitrary depth semantically — MemberDependencyExtractor.cs:77-182)
MAX_CHAIN_HOPS = 4

# priority assigned to every global-using candidate namespace: any local
# candidate (m_usings index < 100000) outranks the global pool, and ties
# WITHIN the pool are detected as Roslyn CS0104 ambiguity
_GLOBAL_PRIO = 100000

# neutral widening penalty for argument/parameter pairs outside the
# int -> long -> double implicit chain (keeps the pre-widening tie behavior)
_WPEN_NEUTRAL = 9


def _with_mid(mentions: DataFrame) -> DataFrame:
    """Condense the full mention identity into one 64-bit column. Nullable
    columns are coalesced to a \\x00 sentinel so a null can never alias a
    neighboring value (xxhash64 skips nulls)."""
    sent = F.lit("\x00")
    return mentions.withColumn(
        "mid",
        F.xxhash64("repo", "path", "m_kind", "m_from_key", "m_rel", "m_name",
                   F.coalesce(F.col("m_recv"), sent),
                   F.coalesce(F.col("m_usings"), sent),
                   F.coalesce(F.col("m_nargs").cast("string"), sent),
                   F.coalesce(F.col("m_args"), sent),
                   F.coalesce(F.col("m_head"), sent)))


def _as_edge(df: DataFrame, dst_col: str) -> DataFrame:
    return df.select("repo", F.col("m_from_key").alias("src_key"),
                     F.col("m_rel").alias("rel_type"),
                     F.col(dst_col).alias("dst_key"))


def _use_dict_broadcast(df: DataFrame) -> bool:
    """Byte-gated dictionary join strategy (set by pipeline._gate_aqe from
    the listed source size; default ON for non-file-backed inputs, whose
    dictionaries are test/stream-batch sized). Broadcast keeps the mention
    side un-shuffled; the shuffle_hash fallback is the 100 TB path where
    per-repo dictionaries scale with the corpus."""
    return (df.sparkSession.conf.get(
        "codegraph.dict_broadcast", "true") == "true")


def _dict_join(left: DataFrame, right: DataFrame, cond: list, how: str,
               bc: bool, salt: int = 0,
               lsalt: Column | None = None) -> DataFrame:
    """Join a mention-scale frame against a pre-grouped (1-row-per-key)
    dictionary. ``bc`` broadcasts the dictionary (map-side, no shuffle);
    otherwise a shuffle_hash hint builds the hash table on the grouped
    dictionary side. ``salt`` (shuffle path only) replicates the dictionary
    S ways and routes left rows by the deterministic per-row hash ``lsalt``
    so one hot dictionary key cannot own a whole join partition."""
    if bc:
        return left.join(F.broadcast(right), on=cond, how=how)
    if salt > 0 and lsalt is not None:
        right = right.withColumn(
            "_dsalt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
        left = left.withColumn("_msalt",
                               F.pmod(lsalt, F.lit(salt)).cast("int"))
        cond = cond + [F.col("_msalt") == F.col("_dsalt")]
        return (left.join(right.hint("shuffle_hash"), on=cond, how=how)
                .drop("_msalt", "_dsalt"))
    return left.join(right.hint("shuffle_hash"), on=cond, how=how)


# SQL fragments for the in-expression candidate ranking. Building these as
# single parsed strings (instead of nested python Column operators) matters:
# every python-side Column operation is a py4j round-trip and every
# DataFrame operation re-runs analysis, so the old builder spent more
# driver wall on plan CONSTRUCTION than the cluster spent executing it
# (measured 27k py4j round-trips ~= 5 s per pipeline build).

_NGLOB_SQL = ("size(array_distinct(transform("
              "filter(tg_entries, e -> e.is_global), e -> e.type_key)))")


def _twin_sql(usings: str = "m_usings") -> str:
    """First-match-wins namespace scan over the grouped type entries:
    local candidates ranked by their m_usings position, global-using
    candidates at _GLOBAL_PRIO, min (prio, type_key) wins."""
    pos = f"array_position(split({usings}, '{US}'), e.ns)"
    return (
        f"get(array_sort(filter(transform(tg_entries, e -> named_struct("
        f"'prio', CASE WHEN {pos} > 0 THEN {pos} - 1 "
        f"WHEN e.is_global THEN {_GLOBAL_PRIO} END, "
        f"'type_key', e.type_key, 'type_display', e.type_display)), "
        f"x -> x.prio IS NOT NULL)), 0)")


def _member_appl_sql(entries: str, lrank: str) -> str:
    """Applicable-overload list with the folded rank: overload rank
    (param-token equality 0 / arity or method-group 1 / default-fill 2 /
    inapplicable 99) * 1000 + widening penalty * 50 + inheritance depth
    * 10 + lookup order; entries at rank >= 99000 drop (Roslyn overload
    resolution failure => no edge)."""
    rank = ("CASE WHEN norm_args IS NOT NULL AND NOT contains(norm_args, '?')"
            " AND e.params = norm_args THEN 0"
            " WHEN m_nargs IS NULL THEN 1"
            " WHEN e.nparams = m_nargs THEN 1"
            " WHEN m_nargs >= e.min_nparams AND m_nargs < e.nparams THEN 2"
            " ELSE 99 END")
    # implicit-numeric-widening distance on the int -> long -> double chain
    # (C# 7.4.6.2 betterness); null = outside the chain -> neutral penalty
    wdist = ("CASE WHEN m_nargs IS NULL OR norm_args IS NULL"
             " OR e.nparams != m_nargs THEN CAST(NULL AS INT)"
             " ELSE aggregate(zip_with("
             "split(norm_args, ', '), split(e.params, ', '),"
             " (a, p) -> CASE WHEN a = p THEN 0"
             " WHEN a = 'int' AND p = 'long' THEN 1"
             " WHEN a = 'int' AND p = 'double' THEN 2"
             " WHEN a = 'long' AND p = 'double' THEN 1"
             " ELSE CAST(NULL AS INT) END), 0, (acc, x) -> acc + x) END")
    return (f"filter(transform({entries}, e -> named_struct("
            f"'_rank', ({rank}) * 1000 + coalesce({wdist}, {_WPEN_NEUTRAL})"
            f" * 50 + e.depth * 10 + {lrank}, "
            f"'member_key', e.member_key, 'is_generic', e.is_generic)), "
            f"x -> x._rank < 99000)")


# largest member_key among the candidates tied AT the winning rank —
# differs from the winner iff the rank is tied between >= 2 members
_MAXK_SQL = ("array_max(transform(filter(_appl, x -> x._rank = _best._rank),"
             " x -> x.member_key))")

# arity-rank ties (rank 1 -> _rank 1000..1480) with unclassified args have
# no principled winner: Roslyn would bind via conversions the lexer cannot
# see, or report ambiguity — either way, guessing is wrong => no edge.
# Generic winners bind but emit NO edge (the reference keys edges off the
# CONSTRUCTED display, which matches no declared node); the win still
# counts for lookup order.
_A_OK_SQL = ("_best IS NOT NULL AND NOT ("
             "coalesce(contains(norm_args, '?'), false)"
             " AND _best._rank >= 1000 AND _best.member_key != _maxk)"
             " AND NOT _best.is_generic")


def resolve_mentions(records: DataFrame, symbols: DataFrame,
                     salt: int = 0) -> DataFrame:
    """mention records -> resolved candidate edges (repo, src_key, rel_type,
    dst_key). Duplicate mentions produce duplicate candidate edges; MERGE
    semantics make edge multiplicity irrelevant (§1.4.4) and ``link_edges``
    ends in a distinct.

    Shuffle budget: under the broadcast gate the mention side never
    shuffles — type resolution, member lookup, chain hops, and the
    extension fallback are all map-side joins against pre-grouped
    dictionaries with the candidate ranking evaluated in-expression. The
    only mention-scale exchanges left are the two tiny per-mid merge
    groupBys on the conversion/using-static/base-invocation paths (the
    mention kinds that can hold >1 candidate receiver). On the shuffle
    path (100 TB) each lookup costs ONE exchange of the narrow carry
    columns instead of the old explode + dictionary join + ranked min_by
    round-trip.

    The persisted frames: the single mention scan and the grouped
    dictionaries, each feeding 2-6 downstream joins. All are either
    dictionary-scale or a projection of the mention columns;
    MEMORY_AND_DISK spills rather than OOMs, and the caller releases via
    ``spark.catalog.clearCache()``.
    """
    def _p(df: DataFrame) -> DataFrame:
        return df.persist()

    def _ck(df: DataFrame) -> DataFrame:
        # grouped dictionaries: a lazy localCheckpoint both materializes the
        # frame once (MEMORY_AND_DISK blocks, computed inside the first
        # action) and truncates the logical plan to a flat LogicalRDD leaf,
        # so the 2-6 joins consuming each dictionary stop re-analyzing its
        # build subtree on every downstream DataFrame operation (driver
        # plan-construction time was rivaling execution time). Trade-off vs
        # persist(): blocks release on GC rather than clearCache, and an
        # executor loss recomputes nothing — acceptable for bounded
        # dictionary frames.
        return df.localCheckpoint(eager=False)

    bc = _use_dict_broadcast(records)
    types, members, nss = build_dictionaries(symbols)
    mentions = _p(records.filter(F.col("rec") == "mention")
                  .select(*_MENTION_ID_COLS))
    kind = F.col("m_kind")
    kw_list = ", ".join(f"'{k}'" for k in sorted(KEYWORD_TYPES))
    ext_list = ", ".join(f"'{k}'" for k in EXTERNAL_TYPE_DISPLAY)

    # repo-wide global-using namespace pool (RoslynSymbolProcessor.cs:68-99)
    global_ns = (mentions.filter(F.col("m_kind") == "global_using")
                 .select(F.col("repo").alias("g_repo"),
                         F.col("m_name").alias("g_ns"))
                 .distinct())

    # --- grouped type dictionary: ONE row per (repo, simple name) with the
    #     declaring-namespace entries; is_global marks namespaces reachable
    #     through the repo's global-using pool ------------------------------
    typesg = _ck(
        types.join(F.broadcast(global_ns) if bc else global_ns,
                   on=[types.t_repo == global_ns.g_repo,
                       types.ns == global_ns.g_ns], how="left")
        .select("t_repo", "ns", "name", "type_key", "type_display",
                F.col("g_ns").isNotNull().alias("is_global"))
        .groupBy(F.col("t_repo").alias("tg_repo"),
                 F.col("name").alias("tg_name"))
        .agg(F.array_sort(F.collect_list(F.struct(
            "ns", "type_key", "type_display", "is_global")))
            .alias("tg_entries")))

    # per-row routing hash for the shuffle-path salt: only columns present
    # on EVERY mention-derived frame (m_from_key varies per call site, which
    # is what spreads a hot dictionary key across partitions)
    id_salt = F.xxhash64("repo", "m_from_key",
                         F.coalesce(F.col("m_name"), F.lit("\x00")))

    def _attach_type(df: DataFrame, tok, prefix: str,
                     usings: str = "m_usings", lsalt=None) -> DataFrame:
        """Resolve ``tok`` against the ordered candidate-namespace list in
        ``usings`` (file namespace + local usings, then the repo's global
        usings at _GLOBAL_PRIO). Adds ``<prefix>_key`` / ``<prefix>_display``
        columns; NULL when the token is unresolvable (Roslyn error type) or
        reachable ONLY through >=2 competing global usings (CS0104). One
        grouped-dictionary join; the first-match-wins scan of the namespace
        list runs in-expression."""
        j = _dict_join(df.select("*", tok.alias("_rtok")), typesg,
                       [F.col("repo") == F.col("tg_repo"),
                        F.col("_rtok") == F.col("tg_name")],
                       "left", bc, salt, lsalt)
        j = j.select("*", F.expr(_twin_sql(usings)).alias("_twin"),
                     F.expr(_NGLOB_SQL).alias("_tng"))
        keep = [c for c in j.columns if c not in (
            "_rtok", "_twin", "_tng", "tg_repo", "tg_name", "tg_entries")]
        ok = (f"CASE WHEN _twin IS NOT NULL AND (_twin.prio < {_GLOBAL_PRIO}"
              f" OR _tng <= 1) THEN _twin.{{f}} END")
        return j.select(
            *keep,
            F.expr(ok.format(f="type_key")).alias(f"{prefix}_key"),
            F.expr(ok.format(f="type_display")).alias(f"{prefix}_display"))

    # mention-kind token validity (Roslyn: keywords/BCL names are never
    # in-repo types -> no resolution attempt)
    def _valid(tok_sql: str) -> F.Column:
        return F.expr(
            f"CASE WHEN ({tok_sql}) IS NOT NULL AND ({tok_sql}) != ''"
            f" AND ({tok_sql}) NOT IN ({kw_list})"
            f" AND NOT startswith({tok_sql}, 'System.')"
            f" THEN {tok_sql} END")

    # --- pass 1: type resolution for single-token mention kinds ------------
    p1 = _attach_type(
        mentions.filter(kind.isin("type", "ctor", "invoke_via",
                                  "invoke_static", "op", "chain_via")),
        _valid("CASE WHEN m_kind IN ('type', 'ctor') THEN m_name"
               " ELSE m_recv END"),
        "t", lsalt=id_salt)
    p1 = _ck(p1.filter(F.col("t_display").isNotNull() | (kind == "type")))

    type_edges = _as_edge(
        p1.filter((kind == "type") & F.col("t_key").isNotNull()), "t_key")

    # --- inherited members: resolve declared base lists (basesig records)
    #     and pre-expand the member dictionary so EVERY lookup path (plain
    #     invocation, chain tail, extension-fallback trigger) sees base
    #     members at a deeper rank — Roslyn binds the call to the BASE's
    #     declaring symbol, and an own member hides a base member ------------
    bases = _ck(
        _attach_type(mentions.filter(F.col("m_kind") == "basesig"),
                     F.col("m_name"), "b", lsalt=id_salt)
        .filter(F.col("b_display").isNotNull())
        .select(F.col("repo").alias("b_repo"),
                F.col("m_recv").alias("derived_display"),
                F.col("b_display").alias("base_display"))
        .distinct())

    def _inherit(mbrs: DataFrame, depth: int) -> DataFrame:
        bside = F.broadcast(bases) if bc else bases
        return (mbrs.join(bside,
                          on=[mbrs.mm_repo == bases.b_repo,
                              mbrs.type_display == bases.base_display])
                .filter(F.col("lookup_name") != "<ctor>")  # ctors don't inherit
                .select("mm_repo",
                        F.col("derived_display").alias("type_display"),
                        "lookup_name", "nparams", "params", "is_generic",
                        "member_key")
                .withColumn("depth", F.lit(depth)))

    own_members = members.withColumn("depth", F.lit(0))
    lvl1 = _inherit(members, 1)
    lvl2 = _inherit(lvl1.drop("depth"), 2)  # grandparent, bounds the subset
    members = own_members.unionByName(lvl1).unionByName(lvl2)

    # optional-parameter signatures (optsig records): a method with default
    # values accepts call sites from min_nparams to nparams arguments
    # (Roslyn fills the defaults; CSharpErrorMessageFormat displays types
    # only, so the symbol table alone cannot see optionality). Keyed by the
    # member key — unique per member, preserved through the inherit
    # expansion — joined once before the grouping.
    opts = (mentions.filter(F.col("m_kind") == "optsig")
            .select(F.col("m_from_key").alias("o_key"),
                    F.col("m_nargs").alias("min_nparams"))
            .distinct())
    members = members.join(F.broadcast(opts) if bc else opts,
                           on=[members.member_key == opts.o_key],
                           how="left").drop("o_key")
    # the depth>=1 slice below anti-joins the using-static path BEFORE the
    # grouping, so members persists once and feeds both
    members = _p(members)

    # --- grouped member dictionary: ONE row per (repo, type display, lookup
    #     name) holding the overload entries --------------------------------
    membersg = _ck(
        members.groupBy(F.col("mm_repo").alias("mg_repo"),
                        F.col("type_display").alias("mg_display"),
                        F.col("lookup_name").alias("mg_lookup"))
        .agg(F.array_sort(F.collect_list(F.struct(
            "nparams", "params", "is_generic", "member_key", "depth",
            "min_nparams"))).alias("mg_entries")))

    norm_args = F.expr(f"CASE WHEN m_args IS NULL THEN CAST(NULL AS STRING)"
                       f" ELSE regexp_replace(m_args, '{US}', ', ') END")

    # --- chained calls: fold each hop through the grouped retsig/propsig
    #     dictionary; the winning pre-resolved display becomes the next
    #     receiver. Finished/dead chains pass the join through untouched, so
    #     MAX_CHAIN_HOPS iterations build ONE linear plan --------------------
    # The result tokens resolve ONCE here, at DICTIONARY scale, against the
    # DECLARING file's candidate namespaces (the retsig/propsig records
    # carry them): Roslyn resolves a method's return type and a property's
    # declared type at the declaration site, not per call site. Tokens that
    # are keywords, BCL/external names, generic shapes (List<T>), or
    # CS0104-ambiguous never resolve -> null display -> any chain stepping
    # through them drops (the reference's dangling-edge outcome). Awaited
    # hops need the Task<T>/ValueTask<T>-unwrapped token (Roslyn: the
    # await-expression's type is the awaiter's GetResult type), so both
    # tokens resolve side by side and the hop picks one by its await flag.
    nargs_t = dict(mentions.dtypes)["m_nargs"]
    rets_raw = (mentions.filter(F.col("m_kind") == "retsig")
                .select(F.col("repo"),
                        F.col("m_recv").alias("rt_display"),
                        F.col("m_name").alias("r_name"),
                        F.col("m_nargs").alias("r_nparams"),
                        F.expr(f"CASE WHEN m_args IS NULL THEN ''"
                               f" ELSE regexp_replace(m_args, '{US}', ', ')"
                               f" END").alias("r_params"),
                        F.col("m_head").alias("r_ret"),
                        F.col("m_usings"))
                .withColumn("r_prop", F.lit(False)))
    # property/field type dictionary: a property hop (`a.Prop.M()`) steps
    # through the member's declared type token instead of a call return.
    # Same bounded dictionary scale as retsig; r_nparams = -1 sentinel keeps
    # the shared rank expression exact-matching prop hops only.
    props_raw = (mentions.filter(F.col("m_kind") == "propsig")
                 .select(F.col("repo"),
                         F.col("m_recv").alias("rt_display"),
                         F.col("m_name").alias("r_name"),
                         F.lit(-1).cast(nargs_t).alias("r_nparams"),
                         F.lit("").alias("r_params"),
                         F.col("m_head").alias("r_ret"),
                         F.col("m_usings"))
                 .withColumn("r_prop", F.lit(True)))
    rets_raw = rets_raw.unionByName(props_raw).distinct()
    unwrap = (r"regexp_extract(r_ret, '^(?:System\\.Threading\\.Tasks\\.)?"
              r"(?:Task|ValueTask)<(.+)>$', 1)")

    def _ret_valid(tok_sql: str) -> F.Column:
        return F.expr(
            f"CASE WHEN ({tok_sql}) != '' AND ({tok_sql}) NOT IN ({kw_list})"
            f" AND NOT startswith({tok_sql}, 'System.')"
            f" AND ({tok_sql}) NOT IN ({ext_list}) THEN {tok_sql} END")

    ret_salt = F.expr("xxhash64(repo, rt_display, r_name)")
    rets = _attach_type(rets_raw, _ret_valid("r_ret"), "rr", lsalt=ret_salt)
    rets = _attach_type(rets, _ret_valid(unwrap), "ra", lsalt=ret_salt)
    retsg = _ck(
        rets.groupBy(F.col("repo").alias("rg_repo"),
                     F.col("rt_display").alias("rg_display"),
                     F.col("r_name").alias("rg_name"),
                     F.col("r_prop").alias("rg_prop"))
        .agg(F.array_sort(F.collect_list(F.struct(
            "r_params", "r_nparams", "r_ret",
            F.col("rr_display").alias("ret_display"),
            F.col("ra_display").alias("await_display"))))
            .alias("rg_entries")))

    chain_keep = ["repo", "m_kind", "m_from_key", "m_rel", "m_name",
                  "m_nargs", "m_args"]
    ch_via = p1.filter(kind == "chain_via").select(*chain_keep, "m_head",
                                                  "t_display")
    ch_own = (mentions.filter(kind == "chain_own")
              .select(*chain_keep, "m_head",
                      F.col("m_recv").alias("t_display")))
    state = (ch_via.unionByName(ch_own)
             .select(*chain_keep, "t_display",
                     F.expr(f"split(m_head, '{RS}')").alias("hops")))
    # hop parse + active flag in ONE projection; the per-hop overload rank,
    # the head-ambiguity check (RAW token compare — two
    # unresolvable-but-different overload returns still tie), and the next
    # receiver pick in two more. Inactive rows (done or dead) carry a NULL
    # join key and pass through unchanged.
    _active = "(size(hops) > 0 AND t_display IS NOT NULL)"
    _hp = f"split(get(hops, 0), '{US}')"
    _hop_cols = [
        f"CASE WHEN {_active} THEN regexp_replace(get({_hp}, 0), '^@', '')"
        f" END AS _hname",
        f"startswith(get({_hp}, 0), '@') AS _hawait",
        f"CASE WHEN {_active} THEN get({_hp}, 1) = 'P' END AS _hprop",
        f"CASE WHEN {_active} THEN CASE WHEN get({_hp}, 1) = 'P' THEN -1"
        f" ELSE cast(get({_hp}, 1) AS int) END END AS _hnargs",
        f"array_join(slice({_hp}, 3, greatest(size({_hp}) - 2, 0)), ', ')"
        f" AS _hargs",
    ]
    _happl = ("filter(transform(rg_entries, e -> named_struct("
              "'_hr', CASE WHEN NOT contains(_hargs, '?')"
              " AND e.r_params = _hargs THEN 0"
              " WHEN e.r_nparams = _hnargs THEN 1 ELSE 99 END, "
              "'r_params', e.r_params, 'r_ret', e.r_ret, "
              "'ret_display', e.ret_display, "
              "'await_display', e.await_display)), x -> x._hr < 99)")
    _minr = "get(array_sort(_appl), 0)"
    _maxr = (f"array_max(transform(filter(_appl, x -> x._hr = ({_minr})._hr),"
             f" x -> named_struct('r_params', x.r_params, 'r_ret', x.r_ret)))")
    _hamb = (f"(contains(_hargs, '?') AND ({_minr})._hr >= 1"
             f" AND (({_minr}).r_params != ({_maxr}).r_params"
             f" OR ({_minr}).r_ret != ({_maxr}).r_ret))")
    _next = (f"CASE WHEN NOT {_active} THEN t_display"
             f" WHEN ({_minr}) IS NULL OR {_hamb} THEN CAST(NULL AS STRING)"
             f" WHEN _hawait THEN ({_minr}).await_display"
             f" ELSE ({_minr}).ret_display END")
    _step = (f"CASE WHEN {_active}"
             f" THEN slice(hops, 2, greatest(size(hops) - 1, 0))"
             f" ELSE hops END")
    for _hop in range(MAX_CHAIN_HOPS):
        st = state.selectExpr("*", *_hop_cols)
        hj = _dict_join(
            st, retsg,
            [F.col("repo") == F.col("rg_repo"),
             F.col("t_display") == F.col("rg_display"),
             F.col("_hname") == F.col("rg_name"),
             F.col("_hprop") == F.col("rg_prop")],
            "left", bc, salt, id_salt)
        hj = hj.select("*", F.expr(_happl).alias("_appl"))
        state = hj.select(*chain_keep, F.expr(_next).alias("t_display"),
                          F.expr(_step).alias("hops"))
    chain_done = (state.filter((F.size("hops") == 0)
                               & F.col("t_display").isNotNull())
                  .drop("hops"))

    # --- pass 2, path A (one candidate receiver per mention): own-type and
    #     resolved-receiver invocations, ctors, operators, finished chains.
    #     The grouped join returns at most ONE row per mention, so the whole
    #     ranked selection is a projection — no groupBy ----------------------
    a_cols = ["repo", "m_kind", "m_from_key", "m_rel", "m_name", "m_nargs",
              "m_args", "t_display"]
    own = (mentions.filter(kind == "invoke")
           .select("repo", "m_kind", "m_from_key", "m_rel", "m_name",
                   "m_nargs", "m_args", F.col("m_recv").alias("t_display")))
    path_a = (p1.filter(kind.isin("ctor", "invoke_via", "invoke_static",
                                  "op"))
              .select(*a_cols)
              .unionByName(own)
              .unionByName(chain_done.select(*a_cols)))
    path_a = path_a.select(
        "*", norm_args.alias("norm_args"),
        F.expr("CASE WHEN m_kind = 'ctor' THEN '<ctor>' ELSE m_name END")
        .alias("lookup"))
    aj = _dict_join(path_a, membersg,
                    [F.col("repo") == F.col("mg_repo"),
                     F.col("t_display") == F.col("mg_display"),
                     F.col("lookup") == F.col("mg_lookup")],
                    "left", bc, salt, id_salt)
    aj = aj.select("*", F.expr(_member_appl_sql("mg_entries", "0"))
                   .alias("_appl"))
    aj = _ck(aj.select("*", F.expr("get(array_sort(_appl), 0)").alias("_best"))
             .select("*", F.expr(_MAXK_SQL).alias("_maxk")))
    member_edges = _as_edge(
        aj.filter(F.expr(_A_OK_SQL))
        .select("repo", "m_from_key", "m_rel",
                F.col("_best.member_key").alias("member_key")),
        "member_key")

    # --- pass 2, path B (multi-candidate mentions): conversions search the
    #     operand AND target types with explicit>implicit lookup order;
    #     using-static calls search every imported type in import order;
    #     base.M() binds in every declared base's scope. A compact per-mid
    #     merge groupBy reconciles the candidates — the ONLY mention-scale
    #     exchanges in the resolution (all three kinds are rare) ------------
    conv = _with_mid(mentions.filter(kind.isin("conv_impl", "conv_expl")))
    conv = _attach_type(
        conv.select("repo", "mid", "m_kind", "m_from_key", "m_rel", "m_name",
                    "m_nargs", "m_args", "m_usings",
                    F.explode(F.array_distinct(
                        F.array("m_recv", "m_name"))).alias("_ctok"))
        .withColumn("_ctok", _valid("_ctok")),
        F.col("_ctok"), "t", lsalt=id_salt).filter(
            F.col("t_display").isNotNull())
    conv_cand = conv.select(
        "repo", "mid", "m_from_key", "m_rel", "m_nargs", "m_args",
        "t_display",
        F.posexplode(F.expr(
            "CASE WHEN m_kind = 'conv_impl'"
            " THEN array(concat('implicit operator ', m_name))"
            " ELSE array(concat('explicit operator ', m_name),"
            " concat('implicit operator ', m_name)) END"))
        .alias("lrank", "lookup"))

    # using-static imports: a bare call with no own member looks through the
    # file's `using static T;` types — the directive names the FULLY
    # QUALIFIED type, so the import display joins the member dictionary
    # directly (no namespace resolution); lrank = import order breaks the
    # (out-of-subset) two-import tie deterministically. INHERITED members
    # outrank the imports entirely: C# simple-name lookup stops at the
    # first enclosing-type-or-base scope that declares the NAME (even when
    # no overload there is applicable — that's an error, not a fallback),
    # so mentions whose own type inherits a member of that name drop here
    # (the extraction already excluded OWN members; m_recv carries the own
    # display for this check). The anti-join side is the depth>=1 slice of
    # the bounded member dictionary.
    inherited_names = (members.filter(F.col("depth") >= 1)
                       .select("mm_repo", "type_display", "lookup_name")
                       .distinct())
    us_cand = (_dict_join(_with_mid(mentions.filter(kind == "invoke_ustatic")),
                          inherited_names,
                          [F.col("repo") == F.col("mm_repo"),
                           F.col("m_recv") == F.col("type_display"),
                           F.col("m_name") == F.col("lookup_name")],
                          "left_anti", bc, salt, id_salt)
               .select("repo", "mid", "m_from_key", "m_rel", "m_nargs",
                       "m_args",
                       F.posexplode(F.expr(f"split(m_head, '{US}')"))
                       .alias("lrank", "t_display"),
                       F.col("m_name").alias("lookup")))

    # base.M(): substitute the caller's own display with its declared
    # base(s) (Roslyn base-access binds in the base type's scope); no base
    # -> drop
    base_cand = (_dict_join(_with_mid(mentions.filter(kind == "invoke_base")),
                            bases,
                            [F.col("repo") == F.col("b_repo"),
                             F.col("m_recv") == F.col("derived_display")],
                            "inner", bc, salt, id_salt)
                 .select("repo", "mid", "m_from_key", "m_rel", "m_nargs",
                         "m_args",
                         F.col("base_display").alias("t_display"),
                         F.lit(0).alias("lrank"),
                         F.col("m_name").alias("lookup")))

    path_b = (conv_cand.select(*us_cand.columns)
              .unionByName(us_cand).unionByName(base_cand)
              .select("*", norm_args.alias("norm_args")))
    bj = _dict_join(path_b, membersg,
                    [F.col("repo") == F.col("mg_repo"),
                     F.col("t_display") == F.col("mg_display"),
                     F.col("lookup") == F.col("mg_lookup")],
                    "inner", bc, salt,
                    F.xxhash64("repo", "m_from_key", "lookup"))
    bj = bj.select("*", F.expr(_member_appl_sql("mg_entries", "lrank"))
                   .alias("_appl"))
    bj = (bj.select("*", F.expr("get(array_sort(_appl), 0)").alias("_best"))
          .filter(F.col("_best").isNotNull())
          .select("repo", "mid", "m_from_key", "m_rel",
                  F.col("_best._rank").alias("_rank"),
                  F.col("_best.member_key").alias("_key"),
                  F.col("_best.is_generic").alias("_gen"),
                  F.expr(_MAXK_SQL).alias("_rowmax"),
                  F.expr("coalesce(contains(norm_args, '?'), false)")
                  .alias("_unk")))
    b_ranked = (
        bj.groupBy("repo", "mid", "m_from_key", "m_rel")
        .agg(F.min("_rank").alias("_r0"),
             F.expr("min_by(_key, struct(_rank, _key))").alias("member_key"),
             F.expr("min_by(_gen, struct(_rank, _key))").alias("_isgen"),
             F.expr("max_by(_rowmax, struct(-_rank, _rowmax))").alias("_maxk"),
             F.max("_unk").alias("_bunk")))
    member_edges_b = _as_edge(
        b_ranked.filter(
            "NOT (_bunk AND _r0 >= 1000 AND member_key != _maxk)"
            " AND NOT _isgen"),
        "member_key")

    # --- extension-method fallback: receiver-typed calls that found NO
    #     applicable instance member on the resolved type bind to a static
    #     method whose `this` parameter targets the receiver (Roslyn
    #     considers extensions only when no applicable instance method
    #     exists). Subset convention: the declared receiver token is the
    #     receiver type's simple name (class names are unique per repo in
    #     the fixture corpus). ----------------------------------------------
    extsg = _ck(
        mentions.filter(F.col("m_kind") == "extsig")
        .select(F.col("repo").alias("eg_repo"),
                F.col("m_recv").alias("e_recv"),
                F.col("m_name").alias("e_name"),
                F.col("m_nargs").alias("e_nargs"),
                F.expr(f"CASE WHEN m_args IS NULL THEN ''"
                       f" ELSE regexp_replace(m_args, '{US}', ', ') END")
                .alias("e_params"),
                F.col("m_head").alias("e_display"))
        .distinct()
        .groupBy("eg_repo", F.col("e_name").alias("eg_name"),
                 F.col("e_recv").alias("eg_recv"))
        .agg(F.array_sort(F.collect_list(F.struct(
            "e_params", "e_nargs", "e_display"))).alias("eg_entries")))
    ext_base = (aj.filter((kind == "invoke_via") & F.col("_best").isNull())
                .select("repo", "m_from_key", "m_rel", "m_name", "m_nargs",
                        "norm_args",
                        F.expr("element_at(split(t_display, '\\\\.'), -1)")
                        .alias("t_simple")))
    ej = _dict_join(ext_base, extsg,
                    [F.col("repo") == F.col("eg_repo"),
                     F.col("m_name") == F.col("eg_name"),
                     F.col("t_simple") == F.col("eg_recv")],
                    "inner", bc, salt, id_salt)
    _eappl = ("filter(transform(eg_entries, e -> named_struct("
              "'_er', CASE WHEN norm_args IS NOT NULL"
              " AND NOT contains(norm_args, '?')"
              " AND e.e_params = norm_args THEN 0"
              " WHEN m_nargs IS NULL THEN 1"
              " WHEN e.e_nargs = m_nargs THEN 1 ELSE 99 END, "
              "'e_display', e.e_display)), x -> x._er < 99)")
    ej = (ej.select("*", F.expr(_eappl).alias("_eappl"))
          .select("*", F.expr("get(array_sort(_eappl), 0)").alias("_ebest"))
          .select("*", F.expr(
              "array_max(transform(filter(_eappl, x -> x._er = _ebest._er),"
              " x -> x.e_display))").alias("_emax")))
    ext_edges = _as_edge(
        ej.filter(
            "_ebest IS NOT NULL AND NOT ("
            "coalesce(contains(norm_args, '?'), false)"
            " AND _ebest._er >= 1 AND _ebest.e_display != _emax)")
        .select("repo", "m_from_key", "m_rel",
                F.expr("concat(repo, ':', _ebest.e_display)")
                .alias("member_key")),
        "member_key")

    # --- using-directive mentions: external namespaces dangle; in-repo
    #     namespaces are same-assembly => no edge (RoslynSymbolProcessor.cs:47-65)
    um = mentions.filter(kind == "using")
    ext_using = (
        _dict_join(um, nss,
                   [um.repo == nss.n_repo, um.m_name == nss.ns],
                   "left_anti", bc, salt, id_salt)
        .select("repo", F.col("m_from_key").alias("src_key"),
                F.col("m_rel").alias("rel_type"),
                F.concat(F.col("repo"), F.lit(":"), F.col("m_name")).alias("dst_key"))
    )

    return (type_edges.unionByName(member_edges)
            .unionByName(member_edges_b)
            .unionByName(ext_edges).unionByName(ext_using))

def link_edges(candidate_edges: DataFrame, symbols: DataFrame) -> DataFrame:
    """J1/F9: keep edges whose BOTH endpoints exist as Symbol nodes in the
    same repo (MergeRelationships.cypher:1-5); output distinct triples
    (apoc.merge.relationship is idempotent). The symbol-key side rides the
    same byte gate as the dictionaries: broadcast semi-joins below it (the
    key set is bounded by the gated input size), shuffle_hash at scale."""
    sk = symbols.select("repo", F.col("key").alias("_k")).distinct()
    if _use_dict_broadcast(symbols):
        src = F.broadcast(sk.withColumnRenamed("_k", "src_key"))
        dst = F.broadcast(sk.withColumnRenamed("_k", "dst_key"))
    else:
        src = sk.withColumnRenamed("_k", "src_key").hint("shuffle_hash")
        dst = sk.withColumnRenamed("_k", "dst_key").hint("shuffle_hash")
    return (
        candidate_edges
        .join(src, ["repo", "src_key"], "left_semi")
        .join(dst, ["repo", "dst_key"], "left_semi")
        .select("repo", "src_key", "rel_type", "dst_key")
        .distinct()
    )
