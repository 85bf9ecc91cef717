"""SPARQL-algebra-shaped query operators over the triples table.

The reference constructs Jena ARQ algebra programmatically from Clojure
data (``src/genegraph/database/query/algebra.clj:67-95``) — bgp, join,
conditional (OPTIONAL), union, minus, diff, distinct, project, slice,
order, filter — and compiles SPARQL strings with SELECT / ASK / CONSTRUCT
/ COUNT execution modes (``query/resource.clj:201-239``). This module is
that operator menu re-expressed as DataFrame combinators: a triple
pattern is a filtered scan of the triples table, shared variables become
equi-join keys, and Catalyst handles join ordering / broadcast /
pushdown. ``ld_path`` reproduces the RDFResource traversal semantics
(``query/types.clj:249-278``: ``:>`` out-edge, ``:<`` in-edge);
``transitive_closure`` is the ``rdfs:subClassOf*``-style fixpoint
(``source/graphql/common/curation.clj:303-314``) over :func:`closure`,
the one path-doubling fixpoint that SPARQL ``*``/``+`` paths also run;
its driver-local branch is budgeted by the edges its search visits,
which bounds the output size (:data:`LOCAL_ROWS`).

Variables are strings starting with ``?``; everything else in a pattern
is a constant. ``bgp`` returns one column per variable.

Scale notes: each pattern scan pushes its predicate/subject constants to
the parquet scan (PushedFilters); per-predicate filters are highly
selective on a real triple store, and the join chain shuffles on the
shared variable — typically the subject, so a star-shaped BGP reuses one
partitioning across all joins.
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Term = str  # '?var' or constant

# Driver-local budget, in rows, shared by :func:`closure` and
# canonicalize.connected_components: a driver-side fixpoint costs a full
# job + Catalyst pass per round regardless of data size, so a graph whose
# driver-side work stays under this many rows is solved on the driver in
# one pass. Closure counts the edges its search visits, which bounds both
# the pairs it holds (its output can be quadratic in its input) and its
# CPU; CC counts input edges (its output is bounded by the node count).
# Read at call time, so tests can patch it.
LOCAL_ROWS = 200_000
# Path-doubling rounds before :func:`closure` gives up: 20 rounds close
# any path of up to 2**20 hops.
MAX_ROUNDS = 20
# Blank-node hops :func:`describe` follows before it gives up.
DESCRIBE_ROUNDS = 10


def _is_var(t: Term) -> bool:
    return isinstance(t, str) and t.startswith("?")


def scan(triples: DataFrame, s: Term, p: Term, o: Term, graph: Term | None = None) -> DataFrame:
    """One triple pattern → bindings DataFrame (one column per variable)."""
    df = triples
    cols: list[Column] = []
    seen: dict[str, str] = {}
    for term, col in [(s, "subject"), (p, "predicate"), (o, "object"), (graph, "graph")]:
        if term is None:
            continue
        if _is_var(term):
            name = term[1:]
            if name in seen:  # repeated var within one pattern → self-equality
                df = df.where(F.col(col) == F.col(seen[name]))
            else:
                seen[name] = col
                cols.append(F.col(col).alias(name))
        else:
            df = df.where(F.col(col) == term)
    return df.select(*cols) if cols else df.select(F.lit(1).alias("_const"))


def join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Natural join on shared variables (ARQ :join, algebra.clj:82);
    cross join when disjoint (SPARQL semantics)."""
    shared = sorted(set(left.columns) & set(right.columns))
    return left.join(right, shared, "inner") if shared else left.crossJoin(right)


def bgp(triples: DataFrame, patterns: list[tuple]) -> DataFrame:
    """Basic graph pattern: conjunction of triple patterns
    (algebra.clj:74; shared variables = equi-joins)."""
    return reduce(join, (scan(triples, *pat) for pat in patterns))


def optional(left: DataFrame, right: DataFrame) -> DataFrame:
    """OPTIONAL / OpConditional (algebra.clj:75) → left outer join.

    Disjoint patterns (no shared variables) left-join on TRUE: every
    left row pairs with every right row, and — unlike a crossJoin —
    left rows SURVIVE with unbound extensions when the right side is
    empty (SPARQL LeftJoin(A, B, true) semantics)."""
    shared = sorted(set(left.columns) & set(right.columns))
    if shared:
        return left.join(right, shared, "left_outer")
    return left.join(right, F.lit(True), "left_outer")


def union(a: DataFrame, b: DataFrame) -> DataFrame:
    """Bag union of solutions (algebra.clj:60-65,77)."""
    return a.unionByName(b, allowMissingColumns=True)


def minus(a: DataFrame, b: DataFrame) -> DataFrame:
    """MINUS / FILTER NOT EXISTS on compatible bindings (algebra.clj:86)."""
    shared = sorted(set(a.columns) & set(b.columns))
    return a.join(b, shared, "left_anti") if shared else a


def exists(a: DataFrame, b: DataFrame) -> DataFrame:
    """FILTER EXISTS → semi-join (curation.clj:33-72 activity membership)."""
    shared = sorted(set(a.columns) & set(b.columns))
    return a.join(b, shared, "left_semi") if shared else a


def diff(a: DataFrame, b: DataFrame) -> DataFrame:
    """Solution/triple-set difference (algebra.clj:76; model difference
    query.clj:167-170)."""
    return a.exceptAll(b)


def project(df: DataFrame, variables: list[str]) -> DataFrame:
    return df.select(*[v.lstrip("?") for v in variables])


def distinct(df: DataFrame) -> DataFrame:
    return df.dropDuplicates()


def _sort_exprs(specs, numeric_aware: bool = False):
    """(var, 'asc'|'desc') specs → Spark sort expressions.

    ``numeric_aware`` applies SPARQL-style mixed ordering to string-typed
    bindings: values castable to double compare numerically and sort
    before non-castable values, which fall back to lexical order — the
    same 3-part key agg MIN/MAX use, so "10" no longer sorts before "9"
    (ADVICE r4, sparql ORDER BY)."""
    cols = []
    for v, d in specs:
        base = F.col(v.lstrip("?"))
        # SPARQL §15.1: an UNBOUND value sorts lowest — first ascending,
        # last descending. Spark's native null ordering is the opposite
        # split (nulls first asc ONLY for a bare column; our multi-part
        # key broke even that), so lead every key with a bound flag.
        parts = [base.isNotNull().cast("int")]
        if numeric_aware:
            dv = base.try_cast("double")  # ANSI-safe: non-numeric → NULL
            parts += [dv.isNull().cast("int"), F.coalesce(dv, F.lit(0.0)), base]
        else:
            parts += [base]
        cols.extend(p.desc() if d == "desc" else p.asc() for p in parts)
    return cols


def order_by(df: DataFrame, *specs: tuple[str, str], numeric_aware: bool = False) -> DataFrame:
    """specs: (var, 'asc'|'desc') — resource.clj:32-36 addOrderBy."""
    return df.orderBy(*_sort_exprs(specs, numeric_aware))


def slice(df: DataFrame, limit: int | None = None, offset: int = 0, order: list | None = None, numeric_aware: bool = False) -> DataFrame:
    """LIMIT/OFFSET (algebra.clj:91).

    Scale shape: ``orderBy(...).limit(offset+limit)`` compiles to
    ``TakeOrderedAndProject`` — each partition keeps its local top
    (offset+limit) rows and only those tiny heads merge — no
    single-partition exchange of the full input (the round-1
    no-partitionBy ``row_number`` window moved every row through one
    task). The offset prefix is then dropped with a row_number window
    over the ≤ offset+limit survivors, which is driver-trivial. An
    OFFSET with no LIMIT numbers every row in one window; with no ORDER
    BY the skipped rows are arbitrary (SPARQL leaves them unspecified)."""
    if offset:
        from pyspark.sql import Window

        ocols = _sort_exprs(order, numeric_aware) if order else [F.lit(1)]
        if limit is not None:
            df = (df.orderBy(*ocols) if order else df).limit(offset + limit)
        out = df.withColumn("_rn", F.row_number().over(Window.orderBy(*ocols)))
        return out.where(F.col("_rn") > offset).drop("_rn")
    if order:
        df = order_by(df, *order, numeric_aware=numeric_aware)
    return df.limit(limit) if limit is not None else df


def ask(df: DataFrame) -> bool:
    """Boolean existence (resource.clj:213 execAsk)."""
    return df.limit(1).count() > 0


def count(df: DataFrame) -> int:
    """Result cardinality (resource.clj:210-212)."""
    return df.count()


def values(df: DataFrame, rows: list[dict]) -> DataFrame:
    """SPARQL VALUES: join the solution sequence against an inline
    binding table (multi-variable, possibly partial rows — a UNDEF value
    is an absent key and constrains nothing on that row). VALUES expresses
    a DISJUNCTION of binding tuples, compiled to a broadcast inner join
    — rows with UNDEF columns join on their defined columns only, so the
    result is the union of per-row matches, bag-semantics preserved."""
    assert rows, "VALUES needs at least one binding row"
    spark = df.sparkSession
    out = None
    # group rows by their defined-variable signature: each group is one
    # broadcast semi-structured join; signatures are few (usually 1)
    by_sig: dict[tuple, list[dict]] = {}
    for r in rows:
        sig = tuple(sorted(k.lstrip("?") for k in r))
        by_sig.setdefault(sig, []).append({k.lstrip("?"): v for k, v in r.items()})
    for sig, grp in by_sig.items():
        if not sig:
            # fully-UNDEF row matches everything; N such rows multiply
            # solutions N times (bag semantics)
            part = df
            for _ in grp[1:]:
                part = part.unionByName(df)
        else:
            # duplicate identical binding rows are kept: the inner join
            # then multiplies matching solutions, as SPARQL bag-union
            # VALUES semantics require (a .distinct() here would silently
            # collapse them — ADVICE r3)
            tbl = spark.createDataFrame(
                [tuple(r[c] for c in sig) for r in grp],
                ", ".join(f"{c} string" for c in sig),
            )
            # SPARQL compatible-join: constrain on the variables both
            # sides bind; variables only the VALUES row binds EXTEND the
            # solution (carried through from tbl); a fully-disjoint sig
            # is a cross product per SPARQL join-on-nothing semantics
            on = [c for c in sig if c in df.columns]
            part = (
                df.join(F.broadcast(tbl), on, "inner")
                if on
                else df.crossJoin(F.broadcast(tbl))
            )
        out = part if out is None else out.unionByName(part, allowMissingColumns=True)
    return out


def construct(bindings: DataFrame, templates: list[tuple], graph: Term = None) -> DataFrame:
    """CONSTRUCT: instantiate triple templates from bindings
    (resource.clj:153-161; the 40 .sparql CONSTRUCT files). Each template
    is (s, p, o, object_is_iri[, datatype]); vars pull from bindings."""

    def term(t: Term) -> Column:
        return F.col(t[1:]).cast("string") if _is_var(t) else F.lit(t)

    outs = []
    for tpl in templates:
        s, p, o, is_iri = tpl[:4]
        dt = tpl[4] if len(tpl) > 4 else None
        outs.append(
            bindings.select(
                (term(graph) if graph else F.lit(None).cast("string")).alias("graph"),
                term(s).alias("subject"),
                term(p).alias("predicate"),
                term(o).alias("object"),
                F.lit(is_iri).alias("object_is_iri"),
                F.lit(dt).cast("string").alias("object_datatype"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs).dropDuplicates()


def describe(triples: DataFrame, nodes: DataFrame) -> DataFrame:
    """SPARQL DESCRIBE as a Concise Bounded Description: every triple
    whose subject is a described node, recursively following blank-node
    objects (Jena's DESCRIBE handler semantics; the reference serializes
    per-resource models the same way, ``database/query.clj:87-100``).

    ``nodes`` is a one-column (node) frame. Rounds are bounded by the
    bnode-chain depth (here: page → mention bnode, depth 1; anonymous
    structures are shallow by construction), each round one join keyed on
    subject — never a full-graph fixpoint. ``seen`` accumulation keeps
    cycles of bnodes from looping."""
    # the input plan is consumed once per closure round (and may itself be
    # an expensive pipeline, not a table scan) — lazy localCheckpoint
    # materializes it once on first use and, unlike persist(), is
    # reclaimed by the ContextCleaner when the result goes out of scope
    # (no per-call cache leak); on a store-backed deployment this is the
    # already-materialized triples table
    triples = triples.localCheckpoint(eager=False)
    # a bnode OBJECT is an IRI-position term ("_:..." with object_is_iri);
    # a string literal that merely looks like "_:x" must not be followed
    is_bnode_obj = F.col("object_is_iri") & F.col("object").startswith("_:")
    frontier = nodes.select(F.col("node").alias("subject")).distinct()
    seen = frontier.localCheckpoint(eager=True)
    out = triples.join(seen, "subject", "inner")
    for _ in range(DESCRIBE_ROUNDS):
        bnodes = (
            out.where(is_bnode_obj)
            .select(F.col("object").alias("subject"))
            .distinct()
            .join(seen, "subject", "left_anti")
            .localCheckpoint(eager=True)
        )
        if bnodes.limit(1).count() == 0:
            break
        seen = seen.unionByName(bnodes).localCheckpoint(eager=True)
        out = out.unionByName(triples.join(bnodes, "subject", "inner"))
    else:
        raise RuntimeError(
            f"describe() bnode closure did not converge in {DESCRIBE_ROUNDS} "
            "rounds: the blank-node chains are deeper than DESCRIBE_ROUNDS"
        )
    return out.select(
        "graph", "subject", "predicate", "object", "object_is_iri", "object_datatype"
    ).dropDuplicates()


# -- traversal ---------------------------------------------------------------

def _hop(
    triples: DataFrame, direction: str, preds: list[str], negate: bool = False
) -> DataFrame:
    """(node, next) edge pairs for one traversal step over ``preds``
    (a set = SPARQL alternation ``a|b``); ``negate`` inverts the
    predicate set (SPARQL negated property set ``!(a|b)``)."""
    cond = F.col("predicate").isin(preds)
    edges = triples.where(~cond if negate else cond)
    hops = []
    if direction in (">", "-"):
        hops.append(edges.select(F.col("subject").alias("node"), F.col("object").alias("next")))
    if direction in ("<", "-"):
        hops.append(edges.select(F.col("object").alias("node"), F.col("subject").alias("next")))
    return reduce(lambda a, b: a.unionByName(b), hops)


def ld_path(triples: DataFrame, start: DataFrame, steps: list[tuple]) -> DataFrame:
    """RDFResource ``ld->`` traversal (query/types.clj:144-152, step
    semantics :249-278): start is a one-column DF of node ids. Steps:

    - ``('>', pred)`` out-edge, ``('<', pred)`` in-edge, ``('-', pred)``
      both directions;
    - ``('>', [p1, p2])`` — predicate alternation ``p1|p2`` (any step
      direction accepts a list; construct_proband_score.sparql:147-148);
    - ``('?', pred)`` — zero-or-one out-hop (``pred?``);
    - ``('rep', pred, n)`` — exactly-n out-hops (the positional
      ``rdf:rest{n}`` list indexing, construct_proband_score.sparql:127-132);
    - ``('!', preds)`` — negated property set ``!(p1|p2)``: one out-hop
      over any predicate NOT in the set (SPARQL 1.1 §9.1);
    - ``('range', pred, n, m)`` — bounded repetition ``pred{n,m}``:
      n mandatory out-hops then m−n optional ones, i.e. the union of
      ``pred^i`` for n ≤ i ≤ m. A bounded unrolled join chain — unlike
      ``*``/``+`` (:func:`closure`) it needs no fixpoint.

    Returns one column ``node``. Each hop is an equi-join against a
    predicate-filtered scan; predicate pushdown applies."""
    cur = start.toDF("node")

    def follow(df: DataFrame, direction: str, preds, negate: bool = False) -> DataFrame:
        preds = preds if isinstance(preds, list) else [preds]
        hop = _hop(triples, direction, preds, negate)
        return df.join(hop, "node").select(F.col("next").alias("node")).distinct()

    for step in steps:
        kind = step[0]
        if kind == "?":
            cur = cur.unionByName(follow(cur, ">", step[1])).distinct()
        elif kind == "rep":
            for _ in range(step[2]):
                cur = follow(cur, ">", step[1])
        elif kind == "!":
            cur = follow(cur, ">", step[1], negate=True)
        elif kind == "range":
            _, pred, lo, hi = step
            if not 0 <= lo <= hi:
                raise ValueError(f"range step needs 0 <= n <= m, got {lo},{hi}")
            for _ in range(lo):
                cur = follow(cur, ">", pred)
            for _ in range(hi - lo):
                cur = cur.unionByName(follow(cur, ">", pred)).distinct()
        else:
            cur = follow(cur, kind, step[1])
    return cur


def transitive_closure(triples: DataFrame, pred: str) -> DataFrame:
    """``pred+`` reachability pairs (src, dst): one-or-more hops — the
    reference's recursive-traversal analog (curation.clj:303-314).
    SPARQL's ``pred*`` (zero-or-more) additionally includes the
    reflexive (x, x) pair for every node; union the node set in the
    caller when zero-hop semantics are needed. Runs :func:`closure`."""
    edges = triples.where(F.col("predicate") == pred).select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )
    return closure(edges)


def closure(pairs: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """One-or-more-hop reachability over a ``(src, dst, *keys)`` pairs
    frame; a path never crosses a change of ``keys`` (SPARQL's per-graph
    mode passes ``("_g",)``). Returns the distinct ``(src, dst, *keys)``
    closure pairs.

    Pairs that close on the driver within :data:`LOCAL_ROWS` edge visits
    come back as one local frame (ontology and ``:next`` chains are
    dimension-scale by nature). Otherwise the distributed path-doubling
    fixpoint runs: each round joins the closure with itself, so a
    diameter-d graph converges in ⌈log2 d⌉ rounds instead of d — the
    round count, not per-round work, dominates at cluster scale (each
    round is a full shuffle + barrier). Raises ``RuntimeError`` if it has
    not converged after :data:`MAX_ROUNDS` rounds — a partial closure is
    never returned."""
    # lazy checkpoint + count: ONE job materializes the checkpoint and
    # returns the size, so only an edge set within budget is collected
    # (from the checkpoint), and the loop starts from the same edges;
    # the checkpoint cuts the exponential lineage
    out = pairs.select("src", "dst", *keys).distinct().localCheckpoint(eager=False)
    prev_count = out.count()
    if prev_count <= LOCAL_ROWS:
        local = _saturate(out.collect())
        if local is not None:
            # from pandas, so with Arrow on it is a JVM LocalRelation and
            # evaluating it starts no Python workers
            local = pd.DataFrame(local, columns=out.columns)
            return out.sparkSession.createDataFrame(local, out.schema)
    on = [F.col("l.dst") == F.col("r.src")] + [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
    hop = ["l.src", "r.dst"] + [f"l.{k}" for k in keys]
    for _ in range(MAX_ROUNDS):
        doubled = out.alias("l").join(out.alias("r"), on).select(*hop)
        out = out.union(doubled).distinct().localCheckpoint(eager=False)
        n = out.count()
        if n == prev_count:
            return out
        prev_count = n
    raise RuntimeError(f"transitive closure did not converge in {MAX_ROUNDS} rounds")


def _saturate(rows) -> list[tuple] | None:
    """Close ``(src, dst, *keys)`` rows on the driver with one search per
    source: the closure rows, or ``None`` as soon as the searches have
    visited more than :data:`LOCAL_ROWS` edges. Every closure pair is
    found by a visit, and every input row is visited at least once, so
    the budget bounds the pairs held, the input and the CPU alike (a
    dense strongly connected component gives up early instead of
    costing n³ set checks). Cycle-safe: each search keeps a seen set."""
    out_edges: dict[tuple, list] = {}  # (keys, src) -> dsts
    for r in rows:
        out_edges.setdefault((tuple(r[2:]), r[0]), []).append(r[1])
    visits = 0
    closed: list[tuple] = []
    for k, u in out_edges:
        seen: set = set()
        todo = [u]
        while todo:
            nxt = out_edges.get((k, todo.pop()), ())
            visits += len(nxt)
            if visits > LOCAL_ROWS:
                return None
            for v in nxt:
                if v not in seen:
                    seen.add(v)
                    todo.append(v)
        closed.extend((u, v, *k) for v in seen)
    return closed


def text_search(triples: DataFrame, term: str, predicate: str | None = None) -> DataFrame:
    """Full-text match joined into a BGP (Lucene text:query analog,
    database/query.clj:133-153): returns (node, text) for literal objects
    containing the term, token-boundary aware."""
    df = triples.where(~F.col("object_is_iri"))
    if predicate:
        df = df.where(F.col("predicate") == predicate)
    hit = F.array_contains(F.split(F.lower(F.col("object")), r"\s+"), term.lower())
    return df.where(hit).select(F.col("subject").alias("node"), F.col("object").alias("text"))


def text_index(
    triples: DataFrame, predicates: list[str] | None = None
) -> DataFrame:
    """Tokenized inverted-index view over literal objects — the Lucene
    text dataset analog (``database/instance.clj:29-31`` indexes the
    label properties; StandardAnalyzer ≈ lowercase + split on
    non-alphanumerics). One row per (node, token) with its term
    frequency.

    Scale shape: one projection + explode + grouped count — map-side
    partial aggregation makes the shuffle carry (node, token) partials
    only. In a store layout this view is materialized once per commit
    and reused by every ranked query, exactly like Lucene's index files.
    """
    df = triples.where(~F.col("object_is_iri"))
    if predicates:
        df = df.where(F.col("predicate").isin(list(predicates)))
    toks = df.select(
        F.col("subject").alias("node"),
        F.explode(F.split(F.lower(F.col("object")), "[^a-z0-9]+")).alias("token"),
    ).where(F.col("token") != "")
    return toks.groupBy("node", "token").agg(F.count("*").alias("tf"))


def _text_scores(idx: DataFrame, qtokens: list[str], scoring: str) -> DataFrame:
    """(node, n_matched, score) over a :func:`text_index` for the nodes
    that hold any of ``qtokens``: the ``scoring`` ("tfidf" or "bm25")
    weight of each matched token, summed per node and rounded to 6dp.
    The one scorer behind :func:`text_search_ranked` and SPARQL
    ``text:query``."""
    n_docs = idx.select("node").distinct().agg(F.count("*").alias("n"))
    hits = idx.where(F.col("token").isin(qtokens))
    dfreq = hits.groupBy("token").agg(F.countDistinct("node").alias("df"))
    n, dfc, tf = (
        F.col("n").cast("double"),
        F.col("df").cast("double"),
        F.col("tf").cast("double"),
    )
    if scoring == "bm25":
        k1, b = 1.2, 0.75
        doclen = idx.groupBy("node").agg(F.sum("tf").alias("dl"))
        avgdl = doclen.agg(F.avg("dl").alias("avgdl"))
        idf = F.log(F.lit(1.0) + (n - dfc + 0.5) / (dfc + 0.5))
        norm = F.lit(k1) * (
            F.lit(1 - b) + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
        )
        weight = idf * (tf * (k1 + 1)) / (tf + norm)
        hits = hits.join(doclen, "node").crossJoin(F.broadcast(avgdl))
    else:
        weight = tf * F.log(F.lit(1.0) + n / dfc)
    return (
        hits.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("w", weight)
        .groupBy("node")
        .agg(
            F.countDistinct("token").alias("n_matched"),
            F.round(F.sum("w"), 6).alias("score"),
        )
    )


def text_search_ranked(
    triples: DataFrame,
    query: str,
    predicates: list[str] | None = None,
    limit: int = 10,
    scoring: str = "tfidf",
) -> DataFrame:
    """Relevance-RANKED text search — replaces the substring tier of
    :func:`text_search` with tf·idf scoring over :func:`text_index`,
    mirroring the reference's Lucene-ranked text BGP
    (``database/query.clj:133-153``; the suggesters already rank by
    weight, ``suggest/suggesters.clj:24-60`` — same shape).

    ``scoring="tfidf"`` (default): score(node) = Σ_matched-tokens
    tf · ln(1 + N/df). ``scoring="bm25"``: Okapi BM25 with Lucene's
    defaults (k1=1.2, b=0.75) and Lucene's smoothed idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` — the reference's Lucene
    similarity since 6.0 — over per-node token-count lengths and the
    corpus mean length. Both round to 6dp so the ordering key is
    engine-portable (the pagerank/PMI convention); ties break on node.
    Returns (node, n_matched, score, rank).

    Scale shape: the query-token filter prunes the index scan to
    |q| postings lists; document frequencies for those tokens and the
    corpus-size scalar are dictionary-scale broadcasts; one grouped sum
    per node and a TakeOrderedAndProject finish it. BM25 adds the
    per-node length table (one more grouped pass over the index, joined
    co-keyed on node) — at store scale that table is materialized WITH
    the index, exactly like Lucene's norms file. No corpus-wide join,
    no driver-side collection. The final rank window is unpartitioned
    but runs over the ≤ ``limit`` survivors of the
    ``TakeOrderedAndProject`` (the :func:`slice` offset pattern) — the
    WindowExec single-partition warning it logs refers to a
    ``limit``-row frame, not the corpus.
    """
    import re as _re

    from pyspark.sql import Window

    if scoring not in ("tfidf", "bm25"):
        raise ValueError(f"unknown scoring {scoring!r}; use 'tfidf' or 'bm25'")
    idx = text_index(triples, predicates)
    qtokens = [t for t in _re.split(r"[^a-z0-9]+", query.lower()) if t]
    if not qtokens:
        raise ValueError("text_search_ranked: query has no indexable tokens")
    scored = _text_scores(idx, qtokens, scoring)
    w = Window.orderBy(F.desc("score"), F.asc("node"))
    return (
        scored.orderBy(F.desc("score"), F.asc("node"))
        .limit(limit)
        .withColumn("rank", F.row_number().over(w))
    )


def compatible_join(
    left: DataFrame, right: DataFrame, nullable_cols: list[str]
) -> DataFrame:
    """SPARQL-compatible INNER join: shared variables in
    ``nullable_cols`` may be UNBOUND (SQL NULL) on the left, and an
    unbound variable is compatible with ANY right binding — the merged
    solution takes the right side's value (SPARQL 1.1 §18.3 solution
    compatibility). A plain equi-join would send NULL keys nowhere.

    Spark-first shape: NO theta-join/nested-loop — the left splits by
    its null-signature over ``nullable_cols`` (≤ 2^k branches, k
    small: only variables a prior OPTIONAL/BIND/VALUES could leave
    unbound are listed), each branch equi-joins on its definitely-bound
    shared subset, and the union coalesces. Same defined-signature
    strategy :func:`values` uses for UNDEF."""
    shared = sorted(set(left.columns) & set(right.columns))
    nn = [c for c in shared if c in set(nullable_cols)]
    if not nn:
        return join(left, right)
    if len(nn) > 4:
        raise ValueError(
            f"compatible_join: {len(nn)} maybe-unbound shared variables "
            f"({nn}) — 2^k branch explosion; restructure the query"
        )
    from itertools import combinations

    out = None
    for k in range(len(nn) + 1):
        for mask in combinations(nn, k):
            part = left
            for c in nn:
                part = part.where(
                    F.col(c).isNull() if c in mask else F.col(c).isNotNull()
                )
            part = part.drop(*mask)  # unbound → take the right's binding
            keys = [c for c in shared if c not in mask]
            branch = (
                part.join(right, keys, "inner")
                if keys
                else part.crossJoin(right)
            )
            out = branch if out is None else out.unionByName(branch)
    return out
