"""Driver contract: entry / queries / oracle_sql for genegraph_spark.

Every operator inventory line from SURVEY.md §2 that this engine
implements has a ``queries()`` entry; each SQL-expressible one has a
matching DuckDB ``oracle_sql()`` string computing the same result on the
same parquet tables (views: region nation customer supplier part orders
lineitem events documents embeddings). Column names/aliases match on both
sides; float outputs are rounded identically.

The KG-pipeline queries run over the deterministic ``pages`` table
derived from ``documents`` (fixtures.pages_df / fixtures.pages_sql — the
same derivation written twice, Spark column expressions vs DuckDB SQL).
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from genegraph_spark import fixtures  # noqa: E402
from genegraph_spark.functions import iri as I  # noqa: E402
from genegraph_spark.functions import textstats as TS  # noqa: E402
from genegraph_spark.functions.text import extract_text  # noqa: E402
from genegraph_spark.operators import algebra as A  # noqa: E402
from genegraph_spark.operators import dedup as D  # noqa: E402
from genegraph_spark.operators import mentions as M  # noqa: E402
from genegraph_spark.operators.partitioning import fan_out  # noqa: E402
from genegraph_spark.operators import ranking as RK  # noqa: E402
from genegraph_spark.operators import similarity as SIM  # noqa: E402
from genegraph_spark.operators import versioned as V  # noqa: E402
from genegraph_spark.plans import pipeline as P  # noqa: E402

_read = lambda spark, sf_dir, t: spark.read.parquet(f"{sf_dir}/{t}.parquet")  # noqa: E731


# ===========================================================================
# flagship
# ===========================================================================
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG construction (real extraction path) at sf0.001 —
    pages → extract → link → canonicalize → triples."""
    res = P.construct_kg(spark, "/root/testdata/sf0.001")
    return res.triples


# ===========================================================================
# Spark-side query implementations
# ===========================================================================

# -- KG pipeline -------------------------------------------------------------
def _live_pages(spark, sf_dir):
    # fan out BEFORE the version window: the window is keyed on url, so
    # it reuses this exchange (no extra shuffle) and its output keeps
    # explicit-N partitioning instead of AQE byte-coalescing ~6MB of
    # text rows into ONE partition — which serialized every downstream
    # token explode (same fix as construct_kg's low-split branch)
    pages = fan_out(fixtures.pages_df(spark, sf_dir, with_html=False), "url")
    heads = V.latest_version(pages, key="url", version="version")
    return heads.where(~F.col("tombstone"))


def q_kg_extract_text(spark, sf_dir):
    pages = fixtures.pages_df(spark, sf_dir)
    return pages.select("url", "version", extract_text(F.col("html")).alias("text"))


def q_kg_live_pages(spark, sf_dir):
    return _live_pages(spark, sf_dir).select("url", "version", "text", "lang")


def q_kg_tombstoned_urls(spark, sf_dir):
    pages = fixtures.pages_df(spark, sf_dir, with_html=False)
    heads = V.latest_version(pages, key="url", version="version")
    return heads.where(F.col("tombstone")).select("url")


def q_kg_mentions_preferred(spark, sf_dir):
    live = _live_pages(spark, sf_dir)
    alias = fixtures.alias_df(spark).where(F.col("label_kind") == "preferred")
    toks = M.tokenize(live)
    hits = M.detect_mentions(toks, alias)
    return hits.groupBy("url", "iri").agg(F.count("*").alias("n_mentions"))


def q_kg_linked_mentions(spark, sf_dir):
    res = P.construct_kg(spark, sf_dir, use_golden_text=True)
    return res.linked.select("url", "canonical_iri", "n_mentions", "first_pos")


def q_kg_canonical_map(spark, sf_dir):
    from genegraph_spark.operators import canonicalize as C

    return C.canonical_entity_map(fixtures.dictionary_df(spark), fixtures.sameas_df(spark))


def q_kg_triples(spark, sf_dir):
    res = P.construct_kg(spark, sf_dir, use_golden_text=True)
    return res.triples


def q_kg_lineage_counts(spark, sf_dir):
    res = P.construct_kg(spark, sf_dir, use_golden_text=True)
    return res.triples.groupBy("graph").agg(F.count("*").alias("n_triples"))


def q_kg_version_chain(spark, sf_dir):
    pages = fixtures.pages_df(spark, sf_dir, with_html=False).withColumn(
        "vid", F.concat(F.col("url"), F.lit("?v="), F.col("version").cast("string"))
    )
    return V.version_chain(pages, key="url", version="version", id_col="vid")


def q_kg_latest_as_of(spark, sf_dir):
    pages = fixtures.pages_df(spark, sf_dir, with_html=False)
    return V.latest_as_of(pages, key="url", version="version", cutoff=F.lit(2)).select(
        "url", "version"
    )


def q_kg_replaces_triples(spark, sf_dir):
    chain = q_kg_version_chain(spark, sf_dir).where(F.col("replaces").isNotNull())
    return A.construct(
        chain.select(F.col("id").alias("id"), F.col("replaces").alias("prev")),
        [("?id", I.REPLACES, "?prev", True), ("?prev", I.IS_REPLACED_BY, "?id", True)],
        graph="?id",
    )


# -- algebra over derived triple views ---------------------------------------
@functools.cache
def _geo_selects():
    """``_geo_triples``' (table, select list) pairs: an expression template
    built once per process, like sources/dosage_jira's (a Column is bound
    to the JVM gateway, not to a session). _geo_triples feeds ~8 queries,
    and rebuilding its 7x6-column select lists cost ~0.3s of py4j per
    construction."""
    from genegraph_spark.operators.triples import triple

    n_iri = F.concat(F.lit("urn:nation:"), F.col("n_nationkey").cast("string"))
    r_iri = F.concat(F.lit("urn:region:"), F.col("r_regionkey").cast("string"))
    nr_iri = F.concat(F.lit("urn:region:"), F.col("n_regionkey").cast("string"))
    c_iri = F.concat(F.lit("urn:customer:"), F.col("c_custkey").cast("string"))
    cn_iri = F.concat(F.lit("urn:nation:"), F.col("c_nationkey").cast("string"))
    return (
        ("nation", triple(F.lit("g"), n_iri, ":name", F.col("n_name"), False)),
        ("nation", triple(F.lit("g"), n_iri, ":in-region", nr_iri, True)),
        ("region", triple(F.lit("g"), r_iri, ":name", F.col("r_name"), False)),
        ("customer", triple(F.lit("g"), c_iri, ":name", F.col("c_name"), False)),
        ("customer", triple(F.lit("g"), c_iri, ":in-nation", cn_iri, True)),
        ("customer", triple(F.lit("g"), c_iri, ":balance", F.col("c_acctbal"), False, I.XSD_STRING)),
        ("customer", triple(F.lit("g"), c_iri, ":segment", F.col("c_mktsegment"), False, I.XSD_STRING)),
    )


def _geo_triples(spark, sf_dir):
    from genegraph_spark.operators.triples import union_all

    tabs = {t: _read(spark, sf_dir, t) for t in ("nation", "region", "customer")}
    return union_all([tabs[t].select(*cols) for t, cols in _geo_selects()])


def _order_triples(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    o_iri = F.concat(F.lit("urn:order:"), F.col("o_orderkey").cast("string"))
    oc_iri = F.concat(F.lit("urn:customer:"), F.col("o_custkey").cast("string"))
    from genegraph_spark.operators.triples import triple, union_all

    return union_all(
        [
            orders.select(*triple(F.lit("g"), o_iri, ":by-customer", oc_iri, True)),
            orders.select(
                *triple(F.lit("g"), o_iri, ":status", F.col("o_orderstatus"), False, I.XSD_STRING)
            ),
        ]
    )


def q_alg_bgp_join(spark, sf_dir):
    t = _geo_triples(spark, sf_dir)
    got = A.bgp(
        t,
        [
            ("?n", ":in-region", "?r"),
            ("?n", ":name", "?nname"),
            ("?r", ":name", "?rname"),
        ],
    )
    return A.project(got, ["?nname", "?rname"]).withColumnsRenamed(
        {"nname": "nation_name", "rname": "region_name"}
    )


def q_alg_optional(spark, sf_dir):
    geo = _geo_triples(spark, sf_dir)
    orders = _order_triples(spark, sf_dir)
    base = A.bgp(geo, [("?c", ":name", "?cname")]).where(
        F.col("c").startswith("urn:customer:")
    )
    opt = A.optional(base, A.bgp(orders, [("?o", ":by-customer", "?c")]))
    return opt.select(F.col("cname").alias("c_name"), F.col("o").alias("order_iri"))


def q_alg_union(spark, sf_dir):
    t = _geo_triples(spark, sf_dir)
    nn = A.bgp(t, [("?x", ":in-region", "?r"), ("?x", ":name", "?name")])
    rn = A.bgp(t, [("?y", ":in-region", "?x"), ("?x", ":name", "?name")])
    return A.distinct(A.union(A.project(nn, ["?name"]), A.project(rn, ["?name"])))


def q_alg_minus(spark, sf_dir):
    geo, orders = _geo_triples(spark, sf_dir), _order_triples(spark, sf_dir)
    cust = A.bgp(geo, [("?c", ":name", "?cname")]).where(
        F.col("c").startswith("urn:customer:")
    )
    # customers without any *finished* order — non-degenerate minus
    with_f_orders = A.project(
        A.bgp(orders, [("?o", ":by-customer", "?c"), ("?o", ":status", "F")]), ["?c"]
    )
    return A.project(A.minus(cust, with_f_orders), ["?cname"]).withColumnRenamed(
        "cname", "c_name"
    )


def q_alg_exists(spark, sf_dir):
    geo, orders = _geo_triples(spark, sf_dir), _order_triples(spark, sf_dir)
    cust = A.bgp(geo, [("?c", ":name", "?cname")])
    with_orders = A.project(A.bgp(orders, [("?o", ":by-customer", "?c")]), ["?c"])
    return A.project(A.exists(cust, with_orders), ["?cname"]).withColumnRenamed("cname", "c_name")


def q_alg_distinct_project(spark, sf_dir):
    t = _geo_triples(spark, sf_dir)
    return A.distinct(A.project(A.bgp(t, [("?c", ":segment", "?segment")]), ["?segment"]))


def q_alg_slice_order(spark, sf_dir):
    t = _geo_triples(spark, sf_dir)
    b = A.bgp(t, [("?c", ":name", "?cname"), ("?c", ":balance", "?bal")])
    b = b.withColumn("bal", F.col("bal").cast("double"))
    out = A.slice(b, limit=10, offset=5, order=[("?bal", "desc"), ("?cname", "asc")])
    return out.select(F.col("cname").alias("c_name"), F.col("bal").alias("balance"))


def q_alg_ask_count(spark, sf_dir):
    t = _geo_triples(spark, sf_dir)
    rich = A.bgp(t, [("?c", ":balance", "?bal")]).where(F.col("bal").cast("double") > 9000)
    nations = A.bgp(t, [("?n", ":in-region", "?r")])
    return spark.range(1).select(
        F.lit(A.ask(rich)).alias("ask_result"), F.lit(A.count(nations)).cast("long").alias("n")
    )


def q_alg_construct(spark, sf_dir):
    t = _geo_triples(spark, sf_dir)
    b = A.bgp(t, [("?c", ":in-nation", "?n"), ("?n", ":name", "?nname")])
    return A.construct(b, [("?c", ":in-nation-named", "?nname", False)], graph=None)


def q_alg_property_path(spark, sf_dir):
    t = _geo_triples(spark, sf_dir)
    start = A.project(A.bgp(t, [("?c", ":in-nation", "?n")]), ["?c"]).distinct()
    return A.ld_path(t, start.toDF("node"), [(">", ":in-nation"), (">", ":in-region")])


def _chain_triples(spark, sf_dir):
    """:next chain over consecutive order keys < 20 — the shared fixture
    for closure / bounded-repetition path queries."""
    orders = _read(spark, sf_dir, "orders").where(F.col("o_orderkey") < 20)
    keys = orders.select("o_orderkey").distinct()
    nxt = keys.alias("a").join(
        keys.alias("b"), F.col("b.o_orderkey") == F.col("a.o_orderkey") + 1
    )
    return nxt.select(
        F.lit("g").alias("graph"),
        F.concat(F.lit("k"), F.col("a.o_orderkey").cast("string")).alias("subject"),
        F.lit(":next").alias("predicate"),
        F.concat(F.lit("k"), F.col("b.o_orderkey").cast("string")).alias("object"),
        F.lit(True).alias("object_is_iri"),
        F.lit(None).cast("string").alias("object_datatype"),
    )


def q_alg_transitive_closure(spark, sf_dir):
    return A.transitive_closure(_chain_triples(spark, sf_dir), ":next")


def q_alg_path_negated(spark, sf_dir):
    """Negated property set: from every customer, one hop over
    !(:in-nation|:name) — reaches the :balance/:segment literals only."""
    t = _geo_triples(spark, sf_dir)
    start = A.project(A.bgp(t, [("?c", ":in-nation", "?n")]), ["?c"]).distinct()
    return A.ld_path(t, start.toDF("node"), [("!", [":in-nation", ":name"])])


def q_alg_path_bounded(spark, sf_dir):
    """Bounded repetition :next{2,3}: nodes reachable in exactly 2 or 3
    hops from any chain node — an unrolled join chain, no fixpoint."""
    t = _chain_triples(spark, sf_dir)
    start = t.select("subject").distinct()
    return A.ld_path(t, start, [("range", ":next", 2, 3)])


def q_alg_text_search(spark, sf_dir):
    part = _read(spark, sf_dir, "part")
    from genegraph_spark.operators.triples import triple

    t = part.select(
        *triple(
            F.lit("g"),
            F.concat(F.lit("urn:part:"), F.col("p_partkey").cast("string")),
            ":name",
            F.col("p_name"),
            False,
            I.XSD_STRING,
        )
    )
    return A.text_search(t, "widget", predicate=":name")


def q_alg_text_search_ranked(spark, sf_dir):
    # tf·idf-RANKED text search over the tokenized inverted-index view
    # (algebra.text_search_ranked; the Lucene-ranked text BGP analog,
    # database/query.clj:133-153): parts matching both query tokens
    # outrank single-token matches; rank column locks the ordering
    part = _read(spark, sf_dir, "part")
    from genegraph_spark.operators.triples import triple

    t = part.select(
        *triple(
            F.lit("g"),
            F.concat(F.lit("urn:part:"), F.col("p_partkey").cast("string")),
            ":name",
            F.col("p_name"),
            False,
            I.XSD_STRING,
        )
    )
    return A.text_search_ranked(t, "red widget bolt", predicates=[":name"], limit=12)


def q_alg_text_search_bm25(spark, sf_dir):
    # BM25-RANKED text search (algebra.text_search_ranked
    # scoring="bm25"): Lucene's default similarity since 6.0 — the
    # reference's actual text-BGP ranker (k1=1.2, b=0.75, smoothed
    # idf, per-node length normalization over the index's norms table)
    part = _read(spark, sf_dir, "part")
    from genegraph_spark.operators.triples import triple

    t = part.select(
        *triple(
            F.lit("g"),
            F.concat(F.lit("urn:part:"), F.col("p_partkey").cast("string")),
            ":name",
            F.col("p_name"),
            False,
            I.XSD_STRING,
        )
    )
    return A.text_search_ranked(
        t, "red widget bolt", predicates=[":name"], limit=12, scoring="bm25"
    )


def q_alg_sparql_text_query(spark, sf_dir):
    # the Jena full-text BGP through the SPARQL TEXT front-end:
    # (?s ?score) text:query ( :name "..." limit ) joined to a type
    # pattern (text-search-bgp, query.clj:133-153; the dosage filters'
    # embedded shape, gene_dosage.clj:70-110)
    part = _read(spark, sf_dir, "part")
    from genegraph_spark.operators.sparql import sparql
    from genegraph_spark.operators.triples import triple

    t = part.select(
        *triple(
            F.lit("g"),
            F.concat(F.lit("urn:part:"), F.col("p_partkey").cast("string")),
            ":name",
            F.col("p_name"),
            False,
            I.XSD_STRING,
        )
    ).unionByName(
        part.select(
            *triple(
                F.lit("g"),
                F.concat(F.lit("urn:part:"), F.col("p_partkey").cast("string")),
                "rdf:type",
                F.lit(":Part"),
                True,
                F.lit(None).cast("string"),
            )
        )
    )
    return sparql(
        t,
        """prefix text: <http://jena.apache.org/text#>
           SELECT ?s ?score WHERE {
             (?s ?score) text:query ( :name "red widget bolt" 12 ) .
             ?s a :Part .
           }""",
    )


# -- versioned idioms on events ----------------------------------------------
def q_ver_latest_event_per_user(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .select("user_id", "event_id", "event_type", F.round("value", 6).alias("value"))
    )


def q_ver_event_asof(spark, sf_dir):
    ev = _read(spark, sf_dir, "events").where(F.col("ts") <= "2024-01-15 00:00:00")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .select("user_id", "event_id")
    )


def q_agg_rollup(spark, sf_dir):
    # multi-level subtotals: (event_type, day) + per-type + grand total
    # in one pass — Spark rollup() ≡ SQL GROUP BY ROLLUP
    ev = _read(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.to_date("ts"))
        .rollup("event_type", "day")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
    )


def q_agg_pivot_wide(spark, sf_dir):
    # wide per-user event-type counts (groupBy().pivot(); the oracle
    # spells it as conditional aggregation — same result, both exact)
    ev = _read(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    out = ev.groupBy("user_id").pivot("event_type", types).count()
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0).cast("long")).alias(f"n_{t}") for t in types],
    )


def q_win_ntile(spark, sf_dir):
    # decile assignment + percent_rank over customer balances — the
    # ranking-window family, run SCALE-SAFE: a two-stage range-
    # partitioned global row number (operators/ranking.py, the
    # machinery vocabulary's r6 fix extracted) replaces the
    # single-partition Window.orderBy, and ntile/percent_rank become
    # closed-form row-local functions of (rank, total) — no global
    # sort anywhere in the plan. (c_acctbal DESC, c_custkey ASC) is a
    # total order, which is what licenses the closed forms.
    c = _read(spark, sf_dir, "customer")
    # NOTE global_row_number is eager (checkpoint + bounded stats
    # collect run here, not at first action) — same contract as
    # text_vocabulary / the BPE builders.
    ranked, total = RK.global_row_number(
        c.select("c_custkey", "c_acctbal"),
        [F.desc("c_acctbal"), F.asc("c_custkey")],
        rank_col="_rk",
        order_keys=[("c_acctbal", True), ("c_custkey", False)],
    )
    return ranked.select(
        "c_custkey",
        RK.ntile_from_rank(F.col("_rk"), total, 10).alias("decile"),
        F.round(
            RK.percent_rank_from_rank(F.col("_rk"), total), 6
        ).alias("pct_rank"),
    )


def q_agg_percentiles(spark, sf_dir):
    # exact interpolated percentiles per group (median + p90 of value per
    # event_type) — Spark `percentile` ≡ DuckDB `quantile_cont`; rounded
    # for cross-engine float compare
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.count("*").alias("n"),
    )


def q_ver_sessionize(spark, sf_dir):
    # gap-based sessionization (30-min gap): two windows over one
    # user_id shuffle, integer-microsecond gap math
    return V.sessionize(_read(spark, sf_dir, "events"), gap_minutes=30)


def q_ver_event_chain(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("replaces"),
        F.lead("event_id").over(w).alias("is_replaced_by"),
    )


def q_agg_score_cap(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.round(F.least(F.lit(3.0), F.sum("value")), 6).alias("capped_score")
    )


def q_agg_single_member_groups(spark, sf_dir):
    # restricted to a user subset so singleton groups exist (omim.clj:12-34
    # pattern: collect the member list, emit only when exactly one)
    from genegraph_spark.operators import grouping as G

    ev = (
        _read(spark, sf_dir, "events")
        .where("user_id < 5")
        .withColumn("k", F.regexp_extract("props", r"[0-9]+", 0).cast("int"))
    )
    return G.single_member_groups(ev, "k", "user_id").select(
        "k", F.col("only_member").alias("only_user")
    )


def q_agg_collect_pivot(spark, sf_dir):
    # predicate → sorted-object-list documents per resource
    # (common.clj:438-453 partition-by-first pivot)
    from genegraph_spark.operators import grouping as G

    t = _geo_triples(spark, sf_dir).where(
        F.col("predicate").isin(":name", ":in-region", ":segment")
    )
    docs = G.out_edge_documents(t)
    return docs.select(
        "subject",
        "predicate",
        F.array_join("objects", "|").alias("objects"),
        "n_objects",
    )


def q_kg_replaces_superseded(spark, sf_dir):
    # cross-curation supersession (annotate/replaces.clj:9-36): the newest
    # curation per (gene, disease, moi) key supersedes every OTHER graph
    # asserting the same key — a different-id lookup, not a version chain
    from genegraph_spark.operators import replaces as R

    ev = _read(spark, sf_dir, "events")
    cur = ev.select(
        F.concat(F.lit("urn:curation:"), F.col("event_id").cast("string")).alias("graph"),
        (F.col("user_id") % 20).alias("gene"),
        (F.col("user_id") % 7).alias("disease"),
        F.col("event_type").alias("moi"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("gene", "disease", "moi").orderBy(F.desc("ts"), F.desc("event_id"))
    newest = cur.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")
    return R.find_superseded(cur, newest, ["gene", "disease", "moi"])


def q_agg_extract_sum(spark, sf_dir):
    ev = _read(spark, sf_dir, "events").withColumn(
        "k", F.regexp_extract("props", r"[0-9]+", 0).cast("long")
    )
    return ev.groupBy("event_type").agg(F.sum("k").alias("total_k"), F.count("*").alias("n"))


# -- TPC-H-ish relational benchmarks -----------------------------------------
def q_tpch_q1(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_q3_revenue(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer").where("c_mktsegment = 'BUILDING'")
    orders = _read(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1998-01-01")
    li = _read(spark, sf_dir, "lineitem")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    rev = j.groupBy("l_orderkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    return rev.where("revenue > 300000")


def q_join_broadcast_dim(spark, sf_dir):
    sup = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    return (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_suppliers"))
    )


def q_win_running_total(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_orderkey", F.round(F.sum("o_totalprice").over(w), 2).alias("running_total")
    )


# -- dedup / similarity / text stats ------------------------------------------
def q_dedup_exact(spark, sf_dir):
    return D.exact_duplicates(_read(spark, sf_dir, "documents"))


def q_dedup_minhash_sigs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return D.minhash_signatures(D.shingles(docs, k=3), n_hashes=4)


def _versioned_docs(spark, sf_dir):
    """Non-tombstone page versions as docs: id = doc_id*10 + version —
    v1/v2 of the same url are guaranteed near-dups. Fanned out: every
    consumer (MinHash shingles, n-gram Jaccard) explodes k-grams — heavy
    map work that a single-row-group scan would serialize (measured
    3.07s → 1.77s on dedup_minhash_pairs; operators.partitioning)."""
    pages = fixtures.pages_df(spark, sf_dir, with_html=False).where(~F.col("tombstone"))
    return fan_out(
        pages.select((F.col("doc_id") * 10 + F.col("version")).alias("doc_id"), "text"),
        "doc_id",
    )


def q_dedup_minhash_pairs(spark, sf_dir):
    return D.minhash_near_duplicates(
        _versioned_docs(spark, sf_dir), k=3, n_hashes=16, n_bands=4, threshold=0.6
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_incremental(spark, sf_dir):
    # INCREMENTAL cross-snapshot near-dup (dedup.MinhashIndex): index
    # the version-1 corpus once, then dedup the version-2 "new crawl"
    # batch against it via one (band, bucket) co-keyed join + the
    # MinHash estimator — old text is never re-read or re-shingled
    from genegraph_spark.operators.dedup import MinhashIndex

    vdocs = _versioned_docs(spark, sf_dir)
    ix = MinhashIndex(spark, _STATE.temp_dir("gg_mhidx_"))
    ix.build(vdocs.where(F.col("doc_id") % 10 == 1))
    return ix.query(vdocs.where(F.col("doc_id") % 10 == 2), threshold=0.5)


def q_dedup_ngram_jaccard(spark, sf_dir):
    return D.ngram_jaccard_pairs(_versioned_docs(spark, sf_dir), k=3, threshold=0.6).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_dedup_simhash(spark, sf_dir):
    # fan out: 32 per-token bit aggregates over a token explode (0.93s -> 0.74s)
    return D.simhash(fan_out(_read(spark, sf_dir, "documents"), "doc_id"), bits=32)


def q_dedup_embedding(spark, sf_dir):
    return D.embedding_near_duplicates(
        _read(spark, sf_dir, "embeddings"), group_col="label", threshold=0.4
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def _lsh_embeddings(spark, sf_dir):
    """Embeddings ∪ perturbed copies (id+100000; one element scaled 1.2 at
    position id % 64) — guarantees true near-dup pairs so the keyless LSH
    path has a discriminating, non-degenerate result."""
    emb = fan_out(_read(spark, sf_dir, "embeddings"), "vec_id")  # 12x64 int dots per row
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    # pos is computed BEFORE the id is re-aliased: with `(vec_id+100000) AS
    # vec_id` in the same select, lateral column-alias resolution (in BOTH
    # Spark 4 and DuckDB) binds vec_id inside the lambda to the NEW id,
    # silently shifting the perturbed position by 100000 % 64
    pert = base.select(
        "vec_id", "embedding", (F.col("vec_id") % 64).alias("pos")
    ).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == F.col("pos"), x * 1.2).otherwise(x)
        ).alias("embedding"),
    )
    return base.unionByName(pert)


def q_dedup_embedding_lsh(spark, sf_dir):
    return D.embedding_lsh_near_duplicates(
        _lsh_embeddings(spark, sf_dir), dim=64, n_planes=12, n_bands=3, threshold=0.98
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def q_sim_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("query_id"), "embedding")
    out = SIM.cosine_topk(emb, q, k=5)
    return out.select("query_id", "vec_id", "rank", F.round("cosine", 4).alias("cosine"))


def q_sim_ivf_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("query_id"), "embedding")
    return SIM.ivf_topk(emb, q, k=5, n_probe=2).select(
        "query_id", "vec_id", "rank", F.round("cosine", 4).alias("cosine")
    )


def q_sim_ivf_index(spark, sf_dir):
    """The persisted-index path: build (or reuse) the partitioned IVF
    index on disk, query through partition-pruned probes — must answer
    exactly like the inline ivf_topk (same default centroids), so it
    shares that oracle."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("query_id"), "embedding")
    path = _STATE.path(("ivf_index", sf_dir), "gg_ivf_idx_",
                       lambda p: SIM.IvfIndex.build(emb, p).path)
    idx = SIM.IvfIndex(spark, path)
    return idx.topk(q, k=5, n_probe=2).select(
        "query_id", "vec_id", "rank", F.round("cosine", 4).alias("cosine")
    )


def q_sim_ivf_kmeans(spark, sf_dir):
    """IVF top-k with a fitted coarse quantizer: 2 deterministic Lloyd's
    iterations over the md5-bucket seed centroids (similarity.kmeans_centroids)
    — the production centroid path the fixed-K selection stands in for."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("query_id"), "embedding")
    cen = SIM.kmeans_centroids(emb, n_centroids=16, iters=2, dim=64)
    return SIM.ivf_topk(emb, q, centroids=cen, k=5, n_probe=2).select(
        "query_id", "vec_id", "rank", F.round("cosine", 4).alias("cosine")
    )


def q_sim_pq_topk(spark, sf_dir):
    """Product-quantization ANN: md5-seeded per-subspace codebooks, ADC
    candidate generation over the (id, subspace, code) encoding, exact
    cosine re-rank of the top k·refine candidates."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("query_id"), "embedding")
    return SIM.pq_topk(emb, q, n_subspaces=8, n_codes=16, k=5, refine=4, dim=64).select(
        "query_id", "vec_id", "rank",
        F.round("adc", 4).alias("adc"), F.round("cosine", 4).alias("cosine"),
    )


def q_dedup_cluster_reps(spark, sf_dir):
    """Near-dup pairs → connected components → one kept representative
    per cluster (the dedup-decision tail of the MinHash pipeline)."""
    docs = _versioned_docs(spark, sf_dir)
    pairs = q_dedup_minhash_pairs(spark, sf_dir).select("id_a", "id_b")
    return D.cluster_representatives(docs, pairs)


def q_text_stats(spark, sf_dir):
    # fan out: bpe/stopword/distinct counters are token-explode-heavy (0.60s -> 0.23s)
    docs = fan_out(_read(spark, sf_dir, "documents"), "doc_id")
    t = F.col("text")
    return docs.select(
        "doc_id",
        TS.whitespace_token_count(t).alias("n_tokens"),
        TS.bpe_token_count(t).alias("bpe_tokens"),
        F.round(TS.stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(TS.distinct_token_ratio(t), 6).alias("distinct_ratio"),
        TS.lang_id_en(t).alias("lang_guess"),
    )


def q_text_repetition(spark, sf_dir):
    # Gopher-style repetition filters: top-bigram coverage + duplicated-
    # trigram coverage per document (explode + groupBy(doc, gram), no UDF)
    return TS.repetition_stats(_read(spark, sf_dir, "documents"))


def q_text_corpus_filter(spark, sf_dir):
    # composed curation pass over a corpus with injected exact dups
    # (every 100th doc delivered twice under a shifted id)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = docs.where(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return TS.corpus_filter(docs.unionByName(dupes))


def q_text_split(spark, sf_dir):
    # reproducible train/val/test assignment: md5(id||salt) buckets —
    # stable across runs/engines/partitionings; per-split doc counts
    # verify the 90/5/5 targets hold
    docs = _read(spark, sf_dir, "documents")
    assigned = docs.select(
        "doc_id", TS.split_assign(F.col("doc_id")).alias("split")
    )
    return assigned.groupBy("split").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc")
    )


def q_dedup_spans(spark, sf_dir):
    # substring-level exact-dup spans (suffix-array-style dedup,
    # re-expressed as k-gram count + gap-and-island merge): maximal token
    # runs whose 10-gram occurs >1x corpus-wide
    from genegraph_spark.operators.dedup import duplicate_spans

    # fan out: the positional 10-gram explode is the heaviest map stage
    # in the bench (measured 3.75s -> 0.91s; single-row-group scan)
    return duplicate_spans(fan_out(_read(spark, sf_dir, "documents"), "doc_id"), k=10)


def q_text_decontaminate(spark, sf_dir):
    # benchmark decontamination: docs sharing any 8-token n-gram with the
    # held-out set (doc_id % 97 == 0) are flagged; benchmark side
    # broadcasts, corpus side is one explode+join pass
    docs = fan_out(_read(spark, sf_dir, "documents"), "doc_id")  # n-gram explode (1.87s -> 0.53s)
    bench = docs.where("doc_id % 97 = 0")
    return TS.decontaminate(docs.where("doc_id % 97 <> 0"), bench, n=8)


def q_text_domain_mix(spark, sf_dir):
    # deterministic per-domain downsampling to a target mixture:
    # md5(id||salt) bucket under the domain's rate; summarized per source
    docs = _read(spark, sf_dir, "documents")
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
    kept = TS.domain_mix_sample(docs, rates, default_rate=0.05)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"), F.min("doc_id").alias("min_doc")
    )


def q_text_url_dedup(spark, sf_dir):
    # URL canonicalization + url-level dedup (web-corpus prior to
    # content dedup): deterministic messy-url synthesis from documents
    # (case-varied scheme/host, default + non-default ports, tracking
    # params, unsorted query, fragments, trailing slashes), then one
    # map-only normalize + one groupBy on the canonical form
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 3 == 0, F.lit("HTTP")).when(d % 3 == 1, F.lit("https")).otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.when(d % 2 == 0, F.lit("EX")).otherwise(F.lit("ex")),
        (d % 5).cast("string"),
        F.lit(".Example.ORG"),
        F.when(d % 4 == 0, F.lit(":443")).when(d % 4 == 1, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/p/"),
        (d % 1000).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.lit("?utm_source=tw&b=2&a=1"))
        .when(d % 3 == 1, F.lit("?b=2&a=1&fbclid=xyz"))
        .otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return TS.url_duplicate_groups(docs.select(url.alias("url")))


def q_fn_variation_expressions(spark, sf_dir):
    # ClinVar prioritized canonical-expression selection
    # (variation.clj:36-106): SPDI → GRCh38 → GRCh37 → Text fallback
    # with per-accession sequence locations — deterministic clinvar-raw
    # payload synthesis from events, then ONE from_json + array ops pass
    from genegraph_spark.sources import clinvar_variation as CV

    ev = _read(spark, sf_dir, "events")
    acc = F.concat(
        F.lit("NC_"),
        F.lpad((F.col("user_id") % 4).cast("string"), 6, "0"),
        F.lit(".11"),
    )
    start = (F.col("user_id") % 1000).cast("string")
    stop = ((F.col("user_id") % 1000) + (F.col("event_id") % 10)).cast("string")
    case = F.col("event_id") % 4

    def hgvs_entry(assembly, change):
        return F.struct(
            F.struct(
                F.lit(assembly).alias("@Assembly"),
                F.struct(
                    F.concat(acc, F.lit(":g."), start, F.lit(change)).alias("$")
                ).alias("Expression"),
            ).alias("NucleotideExpression")
        )

    content = F.to_json(
        F.struct(
            F.when(
                case == 0,
                F.struct(
                    F.concat(acc, F.lit(":"), start, F.lit(":A:T")).alias("$")
                ),
            ).alias("CanonicalSPDI"),
            F.when(
                case <= 1,
                F.struct(
                    F.array(
                        hgvs_entry("GRCh38", "A>T"), hgvs_entry("GRCh37", "A>C")
                    ).alias("HGVS")
                ),
            )
            .when(
                case == 2,
                F.struct(F.array(hgvs_entry("GRCh37", "A>C")).alias("HGVS")),
            )
            .alias("HGVSlist"),
            F.struct(
                F.array(
                    F.struct(
                        acc.alias("@Accession"),
                        start.alias("@start"),
                        stop.alias("@stop"),
                        F.when(
                            F.col("event_id") % 5 != 0,
                            (F.col("event_id") % 10).cast("string"),
                        ).alias("@variantLength"),
                    )
                ).alias("SequenceLocation")
            ).alias("Location"),
        )
    )
    msgs = ev.select(
        F.col("event_id").alias("variation_id"), content.alias("content")
    )
    return CV.prioritized_expressions(msgs)


def q_src_url_filter(spark, sf_dir):
    # C4-style URL hygiene: per-domain rollup + blocklist flag — the
    # filter a Common-Crawl pipeline applies before fetching/extracting.
    # Portable regex domain parse (no parse_url: DuckDB lacks it).
    pages = fixtures.pages_df(spark, sf_dir)
    domain = F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1)
    per_url = pages.select("url", domain.alias("domain")).distinct()
    return (
        per_url.groupBy("domain")
        .agg(F.countDistinct("url").alias("n_urls"))
        .withColumn("blocked", F.col("domain").isin("ex3.example.org"))
    )


def q_text_scrub(spark, sf_dir):
    # PII scrub + audit counts over a corpus with deterministically
    # injected emails/phones/IPs (every 7th doc)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact bob@example.com or 555-123-4567 via 10.0.0.1"),
        ),
    ).otherwise(F.col("text"))
    base = docs.select("doc_id", injected.alias("text"))
    c = TS.pii_counts(F.col("text"))
    return base.select(
        "doc_id",
        TS.scrub_pii(F.col("text")).alias("scrubbed"),
        c["email"].alias("n_email"),
        c["phone"].alias("n_phone"),
        c["ipv4"].alias("n_ipv4"),
    )


def q_text_fingerprints(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TS.content_fingerprint(F.col("text")).alias("fp"),
        TS.rolling_fingerprint(F.col("text"), k=3).alias("rfp"),
    )


def q_multimodal_decode(spark, sf_dir):
    from genegraph_spark.functions import multimodal as MM

    docs = _read(spark, sf_dir, "documents")
    dec = MM.decode_media(MM.make_media_df(spark, docs), fake=True)
    return dec.select("media_id", "kind", "n_bytes")


class _QueryState:
    """The query layer's one piece of mutable module state (lifetimes in
    :func:`clear_query_caches`). ``frame`` persists one frame per key for
    the live SparkContext, and forgets a stopped context's frames without
    calling into it; ``path`` writes one dir per key and ``temp_dir`` a
    fresh one per call, each valid under any context."""

    def __init__(self):
        self.sc, self.frames, self.paths, self.dirs = None, {}, {}, []

    def frame(self, spark, key, build: Callable[[], DataFrame]) -> DataFrame:
        if spark.sparkContext is not self.sc:
            self.sc, self.frames = spark.sparkContext, {}
        if key not in self.frames:
            self.frames[key] = build().persist()
        return self.frames[key]

    def path(self, key, prefix: str, write: Callable[[str], str]) -> str:
        if key not in self.paths:
            self.paths[key] = write(self.temp_dir(prefix))
        return self.paths[key]

    def temp_dir(self, prefix: str) -> str:
        path = tempfile.mkdtemp(prefix=prefix)
        self.dirs.append(path)
        return path


_STATE = _QueryState()


def _kg_triples_df(spark, sf_dir):
    """Shared triples view for the resolver/curation/serialization
    queries — persisted once per SparkContext and sf_dir so a driver run
    pays the pandas-UDF pipeline once, not once per view query. This is
    the store-backed deployment shape (views run over the materialized
    triples table); the pipeline-cost queries (kg_triples etc.) still
    build their own uncached plan."""
    return _STATE.frame(spark, ("kg_triples", sf_dir),
                        lambda: P.construct_kg(spark, sf_dir, use_golden_text=True).triples)


def clear_query_caches() -> None:
    """Release what the query builders share. Query-layer state has two
    lifetimes:

    - the process: the Column templates, ``functools.cache``d builders
      bound to the JVM gateway rather than to a session; this keeps them;
    - the live SparkContext: the one registry, ``_STATE``, of the
      persisted ``_kg_triples_df`` and ``_cv_jsonld_model`` frames and of
      every dir the builders wrote (the IVF index, the stream sources and
      each per-call snapshot, archive, index and checkpoint dir). A lookup
      under a new context drops the old context's frames.

    This unpersists the frames only if their context is live (a stopped
    context's cache is gone already, and calling into it raises), deletes
    every registered dir, and so never raises after a session restart. A
    long-lived server embedding queries() calls it between corpora, or the
    frames pin CacheManager entries and the dirs pile up."""
    from pyspark import SparkContext

    global _STATE
    if _STATE.sc is SparkContext._active_spark_context:
        for df in _STATE.frames.values():
            df.unpersist()
    for path in _STATE.dirs:
        shutil.rmtree(path, ignore_errors=True)
    _STATE = _QueryState()


def q_cur_gene_disease_pairs(spark, sf_dir):
    # flagship curation BGP (curation.clj:5-8): (gene, disease) pairs
    # co-asserted by ≥1 document + supporting-page count
    from genegraph_spark.plans import curation as CUR

    return CUR.gene_disease_pairs(_kg_triples_df(spark, sf_dir))


def q_cur_top_entities(spark, sf_dir):
    # resolver modifiers: per-entity page counts, sorted, paged
    from genegraph_spark.plans import curation as CUR

    return CUR.entity_page_counts(
        _kg_triples_df(spark, sf_dir), entity_type=None, limit=10, offset=3
    )


def q_cur_suggest_infix(spark, sf_dir):
    # per-type INFIX suggester with curation-count weights
    # (infix_suggester.clj:27-40, suggesters.clj:24-60): query 's' over
    # genes, limit 4 — the cut exercises the weight ranking; rank column
    # verifies the intra-result order
    from genegraph_spark.plans import curation as CUR

    out = CUR.suggest_infix(
        _kg_triples_df(spark, sf_dir), query="s", entity_type="gene", limit=4
    )
    w = Window.orderBy(
        F.desc("weight"), F.asc("kind_rank"), F.length("label").asc(),
        F.asc("label"), F.asc("entity"),
    )
    return out.withColumn("rank", F.row_number().over(w))


def q_cur_suggest_labels(spark, sf_dir):
    # label suggester (suggest/suggesters.clj analog): prefix 's'
    from genegraph_spark.plans import curation as CUR

    return CUR.suggest_labels(_kg_triples_df(spark, sf_dir), prefix="s", limit=5)


def q_snap_latest_asof(spark, sf_dir):
    # per-entity-type versioned snapshot table (RocksDB doc-store analog,
    # document_store.clj:6-48): write page docs, read latest-as-of
    from genegraph_spark.sinks.snapshots import SnapshotStore

    store = SnapshotStore(spark, _STATE.temp_dir("gg_snap_"))
    pages = fixtures.pages_df(spark, sf_dir, with_html=False)
    docs = pages.select(F.col("url").alias("is_version_of"), "version", "text", "lang")
    store.write("page", docs.where("version = 1"), snapshot=0)
    store.write("page", docs.where("version > 1"), snapshot=1)
    return store.latest_as_of("page", cutoff=F.lit(2)).select(
        F.col("is_version_of").alias("url"), "version"
    )


def q_snap_export(spark, sf_dir):
    # snapshot-export row set (source/snapshot/core.clj write-snapshots
    # ∘ ga4gh.clj:179-200 latest-versions-seq-all ∘ the as-of filters of
    # variation_descriptor.clj:20-39): latest version ≤ cutoff per
    # entity, entities whose LATEST in-window version is a tombstone
    # dropped entirely — the exact rows write-snapshots serializes
    from genegraph_spark.plans.snapshot_export import latest_versions

    pages = fixtures.pages_df(spark, sf_dir, with_html=False)
    docs = pages.select(
        F.col("url").alias("is_version_of"), "version", "text", "lang",
        "tombstone",
    )
    out = latest_versions(docs, until=3, deleted_col="tombstone")
    return out.select(
        F.col("is_version_of").alias("url"), "version", "text", "lang"
    )


def q_join_affiliation_precedence(spark, sf_dir):
    # left join + COALESCE + ORDER BY DESC LIMIT 1 composition
    # (gene_validity_refactor.clj:397-412: classification affiliation wins
    # over the GDM fallback; newest record per curation)
    ev = _read(spark, sf_dir, "events")
    cls = ev.where("event_type = 'purchase'").select(
        F.col("event_id").alias("cls_event_id"),
        F.regexp_extract("props", r"[0-9]+", 0).cast("long").alias("cls_affiliation"),
    )
    joined = ev.join(cls, ev.event_id == cls.cls_event_id, "left_outer").select(
        "user_id",
        "event_id",
        "ts",
        F.coalesce("cls_affiliation", F.col("user_id") % 10).alias("affiliation"),
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .select("user_id", "event_id", "affiliation")
    )


def q_graph_pagerank(spark, sf_dir):
    # fixed-iteration PageRank over the geo containment graph
    # (customer→nation→region edges): entity-importance ranking, one
    # shuffle per iteration, per-iteration rounding for engine parity
    from genegraph_spark.operators.graphstats import pagerank

    t = _geo_triples(spark, sf_dir)
    e = t.where(F.col("predicate").isin(":in-nation", ":in-region")).select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )
    return pagerank(e, n_iter=5)


def q_graph_degrees(spark, sf_dir):
    # in/out degree stats over the same edge frame
    from genegraph_spark.operators.graphstats import degree_stats

    t = _geo_triples(spark, sf_dir)
    e = t.where(F.col("predicate").isin(":in-nation", ":in-region")).select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )
    return degree_stats(e)


def q_graph_comention_pmi(spark, sf_dir):
    # document-level co-mention PMI between canonical entities — the
    # association-strength prior KG construction feeds back into linking
    from genegraph_spark.operators.graphstats import comention_pmi

    t = _kg_triples_df(spark, sf_dir)
    m = t.where(F.col("predicate") == I.P_MENTIONS).select(
        F.col("subject").alias("url"), F.col("object").alias("canonical_iri")
    )
    return comention_pmi(m, min_pairs=2)


def q_join_salted_topk(spark, sf_dir):
    # head-heavy entity skew (north-star BRCA1-class hot keys): half of
    # all events map to ONE hot entity; salted_top_k spreads that key's
    # sort over N_SALTS tasks and must be row-identical to the direct
    # window (the oracle computes the direct window)
    from genegraph_spark.operators.skew import salted_top_k

    ev = _read(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 2 == 0, F.lit("BRCA1"))
        .otherwise(F.concat(F.lit("g"), (F.col("user_id") % 50).cast("string")))
        .alias("entity"),
        "event_id",
        F.round("value", 4).alias("value"),
    )
    return salted_top_k(
        ev, key="entity", order_col="value", k=3,
        salt_by="event_id", tiebreak="event_id",
    )


def q_join_asof_descriptor(spark, sf_dir):
    # two-table as-of equi-join (clinical_assertion.clj:306-348):
    # assertion → latest descriptor version ≤ the assertion's cutoff;
    # union-merge implementation, not a multiplicative join
    desc = fixtures.pages_df(spark, sf_dir, with_html=False).select(
        "doc_id", F.col("version").cast("long").alias("d_version"), F.col("text").alias("d_text")
    )
    n_docs = _read(spark, sf_dir, "documents").count()
    asrt = _read(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_id") % n_docs).alias("doc_id"),
        (F.col("event_id") % 4).cast("long").alias("cutoff"),
    )
    out = V.asof_join(
        asrt, desc, key="doc_id", left_on="cutoff", right_on="d_version",
        right_cols=["d_version", "d_text"],
    )
    return out.select(
        "event_id", "doc_id", "cutoff",
        F.col("d_version").alias("matched_version"),
        F.col("d_text").alias("matched_text"),
    )


def q_alg_diff(spark, sf_dir):
    # bag difference / OpDiff (algebra.clj:76): multiset of segments minus
    # the multiset of segments of high-balance customers
    cust = _read(spark, sf_dir, "customer")
    a = cust.select(F.col("c_mktsegment").alias("segment"))
    b = cust.where("c_acctbal > 5000").select(F.col("c_mktsegment").alias("segment"))
    return A.diff(a, b)


def q_fn_date_fixup(spark, sf_dir):
    # offset-colon repair + parse (dosage_jira.clj:93-109): format ts the
    # broken JIRA way, repair, parse — must reproduce the original
    from genegraph_spark.functions import dates as DT

    ev = _read(spark, sf_dir, "events")
    raw = F.concat(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS"), F.lit("+0000"))
    return ev.select("event_id", DT.parse_offset_ts(raw).alias("parsed"))


def q_src_json_nested(spark, sf_dir):
    # double-encoded payload parse (clinvar core.clj:17-26): the outer
    # JSON's `content` field is itself a JSON string, parsed again
    from genegraph_spark.sources import payload as PL

    ev = _read(spark, sf_dir, "events")
    env = ev.select(
        F.to_json(
            F.struct("event_id", "event_type", F.col("props").alias("content"))
        ).alias("value")
    )
    parsed = PL.parse_nested_content(
        env, "value", "event_id long, event_type string, content string", "content", "k int"
    )
    return parsed.groupBy(F.col("outer.event_type").alias("event_type")).agg(
        F.sum(F.col("content.k")).cast("long").alias("total_k"),
        F.count("*").alias("n"),
    )


def q_src_event_archive(spark, sf_dir):
    # batch event-archive replay (sink/batch.clj:24-67): dump envelope
    # JSONL, read with the explicit envelope schema, parse the payload
    from genegraph_spark.sources import payload as PL

    ev = _read(spark, sf_dir, "events")
    env = ev.select(
        F.col("event_id").cast("string").alias("key"),
        F.to_json(F.struct("event_id", "user_id", "event_type", "value", "props")).alias(
            "value"
        ),
        F.col("ts").alias("timestamp"),
        F.lit("events").alias("topic"),
        (F.col("event_id") % 4).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
    )
    base = _STATE.temp_dir("gg_archive_")
    PL.write_event_archive(env, base)
    arch = PL.read_event_archive(spark, base)
    payload_schema = "event_id long, user_id long, event_type string, value double, props string"
    p = arch.withColumn("payload", F.from_json("value", payload_schema))
    return p.groupBy("topic", "partition", F.col("payload.event_type").alias("event_type")).agg(
        F.count("*").alias("n"), F.max("offset").alias("max_offset")
    )


def q_kg_validation_report(spark, sf_dir):
    # SHACL-analog shape over the input table (annotate.clj:72-132,
    # validation.clj:8-19): violation counts per constraint
    from genegraph_spark.operators import validate as VD

    pages = fixtures.pages_df(spark, sf_dir, with_html=False)
    shape = [
        VD.matches("url", "^https://"),
        VD.required("text"),
        VD.in_range("version", 1, 2),
        VD.required("lang"),
    ]
    return VD.violation_report(pages, shape)


def q_kg_quarantine(spark, sf_dir):
    # per-root-type shape registry dispatched INSIDE the pipeline
    # (annotate.clj:19,30-36,72-132 formats.edn/shapes.edn analog): input
    # deterministically perturbed so the quarantine is non-empty; rows
    # carry the sorted violated-constraint names. Tombstone pages skip the
    # content constraints (their own shape).
    pages = (
        fixtures.pages_df(spark, sf_dir)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 37 == 0, F.lit(None).cast("string")).otherwise(F.col("text")),
        )
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 41 == 0, F.lit(None).cast("string")).otherwise(F.col("lang")),
        )
    )
    res = P.construct_kg(spark, sf_dir, pages=pages, use_golden_text=True)
    return res.quarantine.select(
        "url", "version", F.array_join("violations", ",").alias("reasons")
    )


def q_kg_turtle_docs(spark, sf_dir):
    # Turtle serialization per named graph (query.clj:87-100 — the
    # reference's public output format); line-sorted, byte-deterministic
    from genegraph_spark.functions import serialize as SER

    return SER.turtle_docs(_kg_triples_df(spark, sf_dir))


def q_kg_rdfxml_docs(spark, sf_dir):
    # RDF/XML serialization per named graph (query.clj:87-100 — the
    # Jena-interop format beside Turtle/JSON-LD); byte-deterministic,
    # parse_rdfxml round-trip tested
    from genegraph_spark.functions import serialize as SER

    return SER.rdfxml_docs(_kg_triples_df(spark, sf_dir))


def q_cur_activities(spark, sf_dir):
    # per-gene curation-activity flags (curation.clj:33-72: ASK per
    # activity BGP → union + semi-join + boolean pivot in one pass)
    from genegraph_spark.plans import curation as CUR

    return CUR.curation_activities(_kg_triples_df(spark, sf_dir))


def q_alg_values(spark, sf_dir):
    # SPARQL VALUES: inline binding table with mixed-arity rows — a
    # single-var row (NATION_7, any segment) plus a two-var row
    # (NATION_3 ∧ BUILDING); bag semantics = union of per-row matches
    t = _geo_triples(spark, sf_dir)
    b = A.bgp(
        t,
        [
            ("?c", ":in-nation", "?n"),
            ("?n", ":name", "?nname"),
            ("?c", ":segment", "?seg"),
        ],
    )
    out = A.values(
        b, [{"?nname": "NATION_7"}, {"?nname": "NATION_3", "?seg": "BUILDING"}]
    )
    return out.groupBy("nname", "seg").agg(F.count("*").alias("n"))


def q_kg_nested_shapes(spark, sf_dir):
    # SHACL node shapes with sh:node nesting over the KG triples
    # (database/validation.clj:8-19; resources/shapes.edn): MentionShape
    # (canonicalEntity IRI, position integer <= 9) referenced from
    # PageShape via hasMention — a page conforma only if every mention it
    # points at conforms. position > 9 occurs in the fixture, so real
    # violations propagate through the nested reference.
    from genegraph_spark.operators.validate import (
        NodeShape,
        PropertyShape,
        validate_graph_shapes,
    )

    t = _kg_triples_df(spark, sf_dir)
    shapes = [
        NodeShape(
            "MentionShape",
            I.C_MENTION,
            (
                PropertyShape(I.P_CANONICAL, min_count=1, node_kind="iri"),
                PropertyShape(
                    I.P_POSITION, min_count=1, datatype=I.XSD_INTEGER, max_inclusive=9
                ),
            ),
        ),
        NodeShape(
            "PageShape",
            I.C_WEBPAGE,
            (
                PropertyShape(I.P_LANG, min_count=1, datatype=I.XSD_STRING),
                PropertyShape(I.P_HAS_MENTION, node="MentionShape"),
            ),
        ),
    ]
    out = validate_graph_shapes(t, shapes)
    return out.select(
        "focus",
        "shape",
        F.concat_ws(",", "violations").alias("violations"),
        "conforms",
    )


def q_cur_affiliations(spark, sf_dir):
    # affiliation list + per-affiliation curation rollups
    # (affiliation.clj:16-37): the reference's N per-affiliation point
    # queries collapsed into one grouped pass
    from genegraph_spark.plans import curation as CUR

    a = CUR.curation_assertions(_read(spark, sf_dir, "events"))
    return CUR.affiliations(a)


def q_cur_condition_cards(spark, sf_dir):
    # the condition card (condition.clj:37-54): per-disease
    # last-curated-date across the THREE curation traversal paths
    # (gene-validity / actionability / dosage) + activity flags, one
    # union + one grouped pass instead of per-disease point queries
    from genegraph_spark.plans import curation as CUR

    return CUR.condition_cards(_read(spark, sf_dir, "events"))


def q_cur_modes_of_inheritance(spark, sf_dir):
    # modes-of-inheritance resolver (mode_of_inheritance.clj:5-14):
    # distinct gene-validity MOI qualifiers under the HP root via
    # subClassOf* — dimension-scale closure broadcast against the
    # distinct-reduced corpus frame
    from genegraph_spark.plans import curation as CUR

    return CUR.modes_of_inheritance(
        CUR.curation_assertions(_read(spark, sf_dir, "events")),
        fixtures.moi_hierarchy_triples(spark),
    )


def q_cur_classifications(spark, sf_dir):
    # classifications value set + usage rollups (classification.clj)
    from genegraph_spark.plans import curation as CUR

    return CUR.classifications(
        CUR.curation_assertions(_read(spark, sf_dir, "events"))
    )


def q_cur_genetic_conditions(spark, sf_dir):
    # (gene, disease, moi) genetic-condition composition with rollups +
    # winning assertion (genetic_condition.clj; curation.clj composition)
    from genegraph_spark.plans import curation as CUR

    a = CUR.curation_assertions(_read(spark, sf_dir, "events"))
    return CUR.genetic_conditions(a)


def q_cur_gene_dosage(spark, sf_dir):
    # gene-dosage report cards: newest haplo/triplo classification per
    # report + report date (gene_dosage.clj:137-161,199-221;
    # dosage_proposition.clj:10-14 evidence-level enum) — the per-report
    # field resolvers collapsed into one window + one grouped pivot
    from genegraph_spark.plans import curation as CUR

    a = CUR.dosage_assertions(_read(spark, sf_dir, "events"))
    return CUR.gene_dosage_reports(a)


def q_cur_actionability_stats(spark, sf_dir):
    # per-working-group actionability statistics: report/updated/pair
    # totals + sorted score=count summary (actionability.clj:49-140
    # tot-* resolver family as two dimension-scale grouped passes)
    from genegraph_spark.plans import curation as CUR

    r = CUR.actionability_reports(_read(spark, sf_dir, "events"))
    return CUR.actionability_statistics(r)


def q_cur_actionability_assertions(spark, sf_dir):
    # per-assertion actionability cards (actionability_assertion.clj):
    # report via inverse has-part, label/source, classification, and the
    # order-by-desc-limit-1 report-date query as max/max_by over the
    # EvidenceRole contribution set (two shuffles for the whole corpus
    # vs the reference's per-assertion SPARQL query)
    from genegraph_spark.plans import curation as CUR

    return CUR.actionability_assertion_cards(_read(spark, sf_dir, "events"))


def q_cur_evidence_cards(spark, sf_dir):
    # evidence-card surface: every assertion's shallow has-evidence tree
    # flattened to (root, line, depth) rows with per-line score +
    # description and the root's contribution denormalized on
    # (evidence_line.clj / evidence.clj / contribution.clj field
    # resolvers in ONE plan; bounded-depth joins, no fixpoint)
    from genegraph_spark.plans import resolvers as R

    m = R.evidence_model(_read(spark, sf_dir, "events"))
    return R.evidence_cards(m, max_depth=4)


def _boilerplate_docs(spark, sf_dir):
    # documents → newline-structured texts: a per-domain subscribe
    # banner on every doc (ratio 1.0 → boilerplate), the organic words
    # re-chunked into 10-word lines, and a copyright line on 1/4 of
    # docs (ratio ~0.25 → NOT boilerplate at the 0.5 threshold)
    docs = _read(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ", -1)
    nchunks = F.ceil(F.size(words) / F.lit(10)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda i: F.array_join(F.slice(words, i * 10 + 1, 10), " "),
    )
    return docs.select(
        "doc_id",
        F.col("source").alias("domain"),
        F.concat(
            F.lit("subscribe to the "), F.col("source"), F.lit(" newsletter\n"),
            F.array_join(chunks, "\n"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.lit("\ncopyright "), F.col("source")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_text_boilerplate_strip(spark, sf_dir):
    # CCNet/C4-style per-domain boilerplate line removal: lines present
    # in >=50% of a domain's docs (and >=3 docs) strip; surviving lines
    # reassemble in order. One explode + (domain, line) groupBy + one
    # co-keyed anti join + one per-doc reassembly — no all-pairs, no
    # broadcast of the (possibly corpus-scale) boilerplate set
    from genegraph_spark.functions import textstats as TS

    out = TS.strip_boilerplate(
        _boilerplate_docs(spark, sf_dir), min_ratio=0.5, min_docs=3
    )
    return out.select("doc_id", "domain", "clean_text")


def q_text_stratified_sample(spark, sf_dir):
    # deterministic exact-quota stratified sampling: exactly
    # min(7, stratum size) docs per (source, lang) stratum, chosen by
    # md5-of-id order — stable across runs/partitionings/engines, no
    # RNG; one hash shuffle + per-stratum window
    from genegraph_spark.functions import textstats as TS

    docs = _read(spark, sf_dir, "documents")
    return TS.stratified_sample(docs, ["source", "lang"], 7).select(
        "doc_id", "source", "lang"
    )


def q_text_vocabulary(spark, sf_dir):
    # frequency-ranked vocabulary over the corpus: whitespace tokens ->
    # (token, count, rank); corpus-scale work is one explode + one
    # map-side-combined groupBy, the global rank is the two-stage
    # range-partitioned row number (operators/ranking.py) — no
    # single-partition window anywhere in the plan
    from genegraph_spark.functions import textstats as TS

    return TS.vocabulary(
        _read(spark, sf_dir, "documents"), min_count=5
    )


def q_text_pack_sequences(spark, sf_dir):
    # GPT-style concat-and-chunk sequence packing: md5-sharded
    # deterministic order, one running-sum window per shard, closed-form
    # chunk arithmetic (textstats.pack_sequences). Token counts via the
    # portable 4-chars/token heuristic
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.greatest(
            F.lit(1), F.floor(F.length("text") / 4).cast("long")
        ).alias("n_tokens"),
    )
    out = TS.pack_sequences(
        docs, max_len=2048, n_shards=16, salt="pack-v1"
    )
    return out.select(
        "doc_id", "n_tokens", "shard", "start_seq", "start_offset",
        "end_seq", "seq_id",
    )


def q_cur_region_features(spark, sf_dir):
    # region-feature + coordinate cards: label/band + per-coordinate
    # build/chromosome/strand/interval flattened in one star-join plan
    # (region_feature.clj + coordinate.clj field resolvers without
    # per-node ld1-> traversals)
    from genegraph_spark.plans import resolvers as R

    m = R.region_model(_read(spark, sf_dir, "part"))
    return R.region_feature_cards(m)


# assertion.clj:22-27 / evidence_item.clj:9-14 — VERBATIM (the reference
# pre-binds ?curation; the driver variant leaves it open so every
# (ancestor, line) pair materializes, multiplicities per SPARQL bag
# semantics)
_RECURSIVE_EVIDENCE_SPARQL = """select ?evidence_line where {
    ?curation ( :sepio/has-evidence-line | :sepio/has-evidence-item ) + ?evidence_line .
    ?evidence_line ( a / :rdfs/sub-class-of * ) :sepio/EvidenceLine .
    ?evidence_line ( a / :rdfs/sub-class-of * ) ?class }"""


def q_alg_recursive_evidence(spark, sf_dir):
    # the recursive evidence-line query both assertion.clj and
    # evidence_item.clj embed, executed VERBATIM through the SPARQL
    # front-end over a nested evidence forest: alternation path +,
    # class-tier filter via a/sub-class-of*, bag-semantics
    # multiplicities (2 class bindings for the subclassed line; 2
    # ancestors for the nested line)
    from genegraph_spark.operators import sparql as S
    from genegraph_spark.plans import resolvers as R

    m = R.recursive_evidence_model(_read(spark, sf_dir, "events"))
    return S.sparql(m, _RECURSIVE_EVIDENCE_SPARQL)


def q_cur_resource_cards(spark, sf_dir):
    # generic-resource cards (resource.clj:14-37): label precedence
    # prefLabel→rdfs:label→foaf:name, website-display-label precedence,
    # alt label, description, direct super/subclass counts — the
    # per-resource point resolvers collapsed into one grouped pivot +
    # one co-keyed join
    from genegraph_spark.plans import resolvers as R

    return R.resource_cards(R.resource_model(_read(spark, sf_dir, "events")))


def q_cur_gene_features(spark, sf_dir):
    # gene-feature cards (gene_feature.clj): hgnc id/symbol, sorted
    # comma-joined previous/alias symbol collections, chromosomal band —
    # one grouped pass over the events-derived gene dimension
    from genegraph_spark.plans import resolvers as R

    return R.gene_features(_read(spark, sf_dir, "events"))


def q_cur_drugs(spark, sf_dir):
    # the drugs list resolver (drug.clj:19-36): distinct drugs + label +
    # alias rollup, lower-cased text filter, and the reference's second
    # count-mode run of the same query folded in as a window count
    from genegraph_spark.plans import resolvers as R

    return R.drugs(_read(spark, sf_dir, "events"), text="oral")


def q_cur_gene_validity_reports(spark, sf_dir):
    # gene-validity assertion report cards (gene_validity.clj): report
    # date, classification enum, proposition hops, ApproverRole
    # attribution, trailing-uuid report id, animal-model tri-state —
    # all as column expressions in one map-only pass
    from genegraph_spark.plans import resolvers as R

    return R.gene_validity_reports(_read(spark, sf_dir, "events"))


def q_kg_gdm_chain(spark, sf_dir):
    # the FULL gene-validity transform chain, CORPUS MODE
    # (gene_validity_refactor.clj:414-463 / transform_gdm_corpus): N
    # suffix-cloned AR curations flow through all 22 reference
    # constructs + both unlinks + evidence connections + legacy-id +
    # proband cap in ONE set of graph-scoped jobs — per-graph
    # affiliation/entrez/legacy seeding instead of the reference's
    # per-event driver loop. Suffixes derive from events (event_id % 5)
    # so the fixture is sf-driven; the oracle re-derives every graph's
    # rows from the pinned single-curation golden by the same suffix
    # substitution (the chain is rename-equivariant — pinned by
    # TestFullGdmChain's hand-derived goldens and the corpus≡single
    # isomorphism test). Bnode-labeled rows are excluded here: their
    # labels are md5-of-binding-tuple and not SQL-derivable; bnode
    # content is covered by those same tests.
    from genegraph_spark.functions.names import load_names_edn
    from genegraph_spark.functions.serialize import read_turtle
    from genegraph_spark.operators.gdm_chain import transform_gdm_corpus

    ref_dir = "/root/reference/src/genegraph/transform/gene_validity_refactor"
    res_dir = "/root/reference/resources"
    ev = _read(spark, sf_dir, "events")
    # bounded driver decision: ≤5 distinct suffix classes, not per-row
    ks = sorted(
        r.k
        for r in ev.select((F.col("event_id") % 5).alias("k")).distinct().collect()
    )
    sfx = [f"-c{k}" for k in ks]
    schema = (
        "graph string, subject string, predicate string, object string, "
        "object_is_iri boolean, object_datatype string"
    )
    corpus = spark.createDataFrame(
        [(f"urn:gdm{x}", *r) for x in sfx for r in fixtures.gdm_curation_rows(x)],
        schema,
    )
    names = load_names_edn(
        os.path.join(res_dir, "property-names.edn"),
        os.path.join(res_dir, "class-names.edn"),
    )
    dictionary = read_turtle(
        spark, os.path.join(ref_dir, "gdm_sepio_relationships.ttl"), graph="g"
    )
    entrez_map = spark.createDataFrame(
        [("HGNC:1100" + x, "https://www.ncbi.nlm.nih.gov/gene/672" + x) for x in sfx],
        "hgnc string, entrez_gene string",
    )
    out = transform_gdm_corpus(
        corpus, ref_dir, dictionary, names=names, entrez_map=entrez_map
    )
    return out.where(
        ~F.col("subject").startswith("_:")
        & ~(F.col("object_is_iri") & F.col("object").startswith("_:"))
    )


def q_kg_dosage_jira(spark, sf_dir):
    # the JIRA → gene-dosage curation transform (dosage_jira.clj, the
    # reference's largest domain transform): synthetic JIRA payloads
    # derived from events → from_json parse → spec gate → SEPIO dosage
    # report triples, all column expressions, one explode, zero shuffles
    from genegraph_spark.sources import dosage_jira as DJ

    pay = fixtures.dosage_jira_payloads(_read(spark, sf_dir, "events"))
    return DJ.dosage_jira_triples(
        DJ.parse_dosage_jira(pay), fixtures.OMIM_MONDO
    )


def q_kg_actionability_docs(spark, sf_dir):
    # the actionability curation-document transform (actionability.clj):
    # synthetic JSON docs from events → from_json + spec gate → SEPIO
    # actionability report triples; two broadcast dimension lookups
    # (gene dictionary, condition equivalence), set semantics via
    # array_distinct, no shuffle-distinct
    from genegraph_spark.sources import actionability as AC

    pay = fixtures.actionability_payloads(_read(spark, sf_dir, "events"))
    return AC.actionability_triples(
        AC.parse_actionability(pay),
        fixtures.act_gene_map(spark),
        fixtures.act_condition_map(spark),
    )


def q_kg_clinvar_statements(spark, sf_dir):
    # ClinVar clinical-assertion → GA4GH statement assembly
    # (clinical_assertion.clj): clinsig typing via the reference CSVs,
    # predicate/direction maps, comment assembly, and the trait-set
    # resolved as-of the release date with ONE union-merge as-of join
    # (the reference issues a per-row point SPARQL query)
    from genegraph_spark.sources import clinvar_statements as CS
    from genegraph_spark.sources.clinsig import clinsig_tables

    ev = _read(spark, sf_dir, "events")
    ts = CS.parse_trait_set_messages(fixtures.clinvar_trait_set_payloads(ev))
    n, c = clinsig_tables(spark)
    return CS.clinvar_statements(
        fixtures.clinvar_assertion_payloads(ev), ts, n, c
    )


def q_kg_hgnc_genes(spark, sf_dir):
    # the HGNC gene dictionary loader (transform/gene.clj:42-88):
    # pref/alt/hidden label tiers, SO locus-type classes (unknown types
    # skipped), owl:same-as bridges — pure projection + one explode
    from genegraph_spark.sources import basedata as BD

    return BD.hgnc_gene_triples(_hgnc_fixture(_read(spark, sf_dir, "part")))


def _hgnc_fixture(part):
    pk = F.col("p_partkey")
    pks = pk.cast("string")
    return part.select(
        pk.alias("entrez_id"),
        F.concat(F.lit("HGNC:"), pks).alias("hgnc_id"),
        F.concat(F.lit("ENSG0000"), pks).alias("ensembl_gene_id"),
        F.concat(F.lit("G"), pks).alias("symbol"),
        F.col("p_name").alias("name"),
        F.when(
            pk % 3 != 0,
            F.concat(F.lit("17p13."), (pk % 3).cast("string")),
        ).alias("location"),
        F.element_at(
            F.array(
                F.lit("gene with protein product"), F.lit("pseudogene"),
                F.lit("RNA, micro"), F.lit("weird type"),
            ),
            (pk % 4 + 1).cast("int"),
        ).alias("locus_type"),
        F.when(pk % 2 == 0, F.array(F.concat(F.lit("GA"), pks))).alias(
            "alias_symbol"
        ),
        F.array().cast("array<string>").alias("prev_name"),
        F.when(pk % 5 == 0, F.array(F.concat(F.lit("GP"), pks))).alias(
            "prev_symbol"
        ),
    )


def q_kg_gene_scores(spark, sf_dir):
    # DECIPHER HI + gnomAD pLI score loaders (hi_index.clj /
    # loss_intolerance.clj / common_score.clj): the per-row SPARQL
    # symbol-query (pref OR hidden label) as a broadcast label-union
    # join; unresolved symbols and NA scores drop
    from genegraph_spark.sources import basedata as BD

    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    pks = pk.cast("string")
    uri = F.concat(F.lit(BD.GENE_PREFIX), pks)
    labels = (
        part.select(F.concat(F.lit("G"), pks).alias("label"), uri.alias("gene_uri"))
        .unionByName(
            part.where(pk % 2 == 0).select(
                F.concat(F.lit("GA"), pks).alias("label"), uri.alias("gene_uri")
            )
        )
    )
    # HI: symbols hit the PREFERRED label; ~1/11 are unknown (dropped)
    hi = part.where(pk % 7 < 5).select(
        F.when(pk % 11 == 0, F.concat(F.lit("GX"), pks))
        .otherwise(F.concat(F.lit("G"), pks)).alias("symbol"),
        F.concat(F.lit("0."), (pk % 10).cast("string")).alias("score"),
    )
    # loss: symbols hit the HIDDEN label (even keys only); NA drops
    loss = part.where((pk % 2 == 0) & (pk % 9 != 0)).select(
        F.concat(F.lit("GA"), pks).alias("symbol"),
        F.when(pk % 6 == 0, F.lit("NA"))
        .otherwise(F.concat(F.lit("0.9"), (pk % 10).cast("string"))).alias(
            "score"
        ),
    ).where(F.col("score") != "NA")
    date = "2024-06-01T00:00:00Z"
    return BD.gene_score_triples(
        hi, ":cg/HaploinsufficiencyScore", "http://www.decipher.org",
        labels, date, "http://www.decipher.org/",
    ).unionByName(
        BD.gene_score_triples(
            loss, ":cg/TriplosensitivityScore", "http://www.gnomad.org",
            labels, date, "http://www.gnomad.org/",
        )
    )


def q_kg_cytoband_features(spark, sf_dir):
    # UCSC cytoband (both assemblies) + NCBI gene-feature loaders
    # (ucsc_cytoband.clj / features.clj): located intervals with
    # deterministic bnodes; non-gene feature rows drop
    from genegraph_spark.sources import basedata as BD

    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    chrom = F.concat(
        F.lit("chr"),
        F.when(pk % 24 == 22, F.lit("X"))
        .when(pk % 24 == 23, F.lit("Y"))
        .otherwise((pk % 24 + 1).cast("string")),
    )
    bands = part.select(
        chrom.alias("chrom"),
        (pk * 100000).alias("start"),
        ((pk + 1) * 100000).alias("end"),
        F.concat(
            F.when(pk % 2 == 0, F.lit("p")).otherwise(F.lit("q")),
            (pk % 3 + 1).cast("string"), F.lit("."),
            (pk % 4 + 1).cast("string"),
        ).alias("cytoband"),
    )
    cyto = BD.cytoband_triples(
        bands.where(pk % 2 == 0), "hg19"
    ).unionByName(BD.cytoband_triples(bands.where(pk % 2 != 0), "hg38"))
    feats = part.select(
        F.when(pk % 6 == 0, F.lit("mRNA")).otherwise(F.lit("gene")).alias(
            "feature_type"
        ),
        F.concat(F.lit("NC_0000"), (pk % 24 + 1).cast("string"), F.lit(".5")).alias(
            "assembly_acc"
        ),
        (pk * 10).cast("string").alias("start"),
        (pk * 10 + 999).cast("string").alias("end"),
        F.when(pk % 3 == 0, F.lit("-")).otherwise(F.lit("+")).alias("strand"),
        pk.alias("gene_id"),
    )
    return cyto.unionByName(
        BD.feature_triples(feats, "https://www.ncbi.nlm.nih.gov/feature/")
    )


def q_kg_omim_conditions(spark, sf_dir):
    # OMIM genemap2 loader (omim.clj): every phenotype MIM in the text
    # column pairs with the gene; single-gene phenotypes with a MONDO
    # equivalent type the MONDO condition — one grouped pass + a
    # broadcast equivalence join
    from genegraph_spark.sources import basedata as BD

    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    pks = pk.cast("string")
    rows = part.select(
        F.when(pk % 13 != 0, (pk % 300).cast("string"))
        .otherwise(F.lit("")).alias("ncbi_gene_id"),
        F.concat(
            F.lit("Condition A, 6100"), (pk % 90).cast("string"), F.lit(" (3)"),
            F.when(pk % 4 == 0, F.concat(F.lit(", other 6200"),
                                         (pk % 90).cast("string"))).otherwise(
                F.lit("")
            ),
            # ~1/17 rows carry a row-unique MIM (zero-padded so the
            # \\d{4,} extractor always matches) → the single-gene rule
            F.when(pk % 17 == 0, F.concat(F.lit(", rare 90"), pks, F.lit("9"))).otherwise(
                F.lit("")
            ),
        ).alias("phenotypes_text"),
    )
    equiv = part.where((pk % 17 == 0) & (pk % 2 == 0)).select(
        F.concat(F.lit(BD.MIM_PREFIX), F.lit("90"), pks, F.lit("9")).alias(
            "omim_iri"
        ),
        F.concat(F.lit("MONDO:9"), pks).alias("mondo_iri"),
    )
    return BD.omim_genetic_condition_triples(
        BD.genemap2_pairs(rows), equiv, "https://omim.org/"
    )


def q_kg_affiliations_csv(spark, sf_dir):
    # ClinGen affiliations CSV loader (affiliations.clj): up to three
    # (id,label) agent pairs per row, blanks dropped, labels trimmed
    from genegraph_spark.sources import basedata as BD

    sup = _read(spark, sf_dir, "supplier")
    sk = F.col("s_suppkey")
    sks = sk.cast("string")
    rows = sup.select(
        F.when(sk % 5 != 0, sks).otherwise(F.lit("")).alias("aff_id"),
        F.concat(F.lit(" CGAGENT "), sks, F.lit(" ")).alias("aff_label"),
        F.when(sk % 2 == 0, F.concat(F.lit("4"), sks)).alias("vcep_id"),
        F.when(sk % 2 == 0, F.concat(F.lit("VCEP "), sks)).alias("vcep_label"),
        F.when(sk % 3 == 0, F.concat(F.lit("5"), sks)).alias("gcep_id"),
        F.when(sk % 3 == 0, F.concat(F.lit("GCEP "), sks)).alias("gcep_label"),
    )
    return BD.affiliation_triples(rows, "https://www.clinicalgenome.org/affiliations/")


def q_kg_gci_legacy(spark, sf_dir):
    # the legacy GCI gene-validity report transform (gci_legacy.clj):
    # evidence-level concept map, SOP attribution split, MOI HP regex,
    # secondary-contributor filter, raw-bytes content node; one
    # broadcast gene-dictionary join
    from genegraph_spark.sources import gci_legacy as GL

    pay = fixtures.gci_legacy_payloads(_read(spark, sf_dir, "events"))
    gm = fixtures.act_gene_map(spark).select("gene_curie", "gene_iri")
    return GL.gci_legacy_triples(GL.parse_gci_legacy(pay), gm)


def q_kg_gci_express(spark, sf_dir):
    # the GCI Express report transform (gci_express.clj): SOP4/SOP5
    # serialized-content switch, DOUBLE-encoded MOI JSON (two from_json
    # passes), first-score evidence level, GeneCurationExpress mark
    from genegraph_spark.sources import gci_legacy as GL

    reports = fixtures.gci_express_payloads(_read(spark, sf_dir, "events"))
    gm = fixtures.act_gene_map(spark).select("gene_curie", "gene_iri")
    return GL.gci_express_triples(reports, gm)


def q_kg_gci_neo4j(spark, sf_dir):
    # the Neo4j-era gene-validity export (gci_neo4j.clj): report +
    # score-string content node + full assertion tree — old-score and
    # SOP concept maps, proposition, approver contribution with the
    # kb-agents → affiliation IRI rewrite; map-only, zero shuffles
    from genegraph_spark.sources import gci_misc as GM

    e, u = F.col("event_id"), F.col("user_id")
    scores = list(GM.OLD_SCORE_TO_NEW)
    reports = _read(spark, sf_dir, "events").select(
        F.concat(F.lit("gdm-"), e.cast("string")).alias("id"),
        F.concat(
            F.lit("2020-01-0"), (e % 9 + 1).cast("string"), F.lit("T10:00:00")
        ).alias("date"),
        F.concat(F.lit("Report "), e.cast("string")).alias("title"),
        F.concat(
            F.lit("https://www.ncbi.nlm.nih.gov/gene/"), u.cast("string")
        ).alias("gene"),
        F.concat(
            F.lit("http://purl.obolibrary.org/obo/MONDO_"), (u % 50).cast("string")
        ).alias("disease"),
        F.concat(
            F.lit("http://purl.obolibrary.org/obo/HP_000000"), (e % 3).cast("string")
        ).alias("moi"),
        F.concat(F.lit(GM.KB_AGENTS), (u % 10).cast("string")).alias("gcep"),
        F.element_at(
            F.array(*[F.lit(s) for s in scores]), (e % 7 + 1).cast("int")
        ).alias("score"),
        (e % 3 + 5).cast("string").alias("sop_version"),
        F.concat(F.lit('{"score":'), (e % 7).cast("string"), F.lit("}")).alias(
            "score_string"
        ),
    )
    return GM.gci_neo4j_triples(reports)


def q_fn_submitter_agents(spark, sf_dir):
    # ClinVar submitter snapshots → GA4GH Agent rows
    # (clinvar/submitter.clj): versioned id, label, and the
    # fields-to-extension-maps output EXPLODED to (name, value) rows —
    # only current_abbrev (when present) and the injected submitter id
    # survive the reference's select-keys (two of its three keys never
    # exist in the payload; preserved verbatim)
    from genegraph_spark.sources import gci_misc as GM

    e, u = F.col("event_id"), F.col("user_id")
    msgs = _read(spark, sf_dir, "events").select(
        u.cast("string").alias("id"),
        F.concat(F.lit("2022-02-0"), (e % 9 + 1).cast("string")).alias(
            "release_date"
        ),
        F.concat(F.lit("Org "), u.cast("string")).alias("current_name"),
        F.when(e % 3 != 0, F.concat(F.lit("O"), u.cast("string"))).alias(
            "current_abbrev"
        ),
    )
    agents = GM.submitter_agents(msgs)
    return agents.select(
        "id",
        "is_version_of",
        "type",
        "label",
        F.explode("extensions").alias("ext"),
    ).select(
        "id",
        "is_version_of",
        "type",
        "label",
        F.col("ext.name").alias("ext_name"),
        F.col("ext.value").alias("ext_value"),
    )


def q_kg_vcv_statements(spark, sf_dir):
    # ClinVar VCV variation-archive messages → ClinVarVCVStatement
    # models (variation_archive.clj): statement/proposition/descriptor
    # skeleton + one VRS Extension node per remaining content field
    from genegraph_spark.sources import clinvar_statements as CS

    return CS.variation_archive_triples(
        fixtures.clinvar_vcv_payloads(_read(spark, sf_dir, "events"))
    )


def q_cur_users_groups(spark, sf_dir):
    # the FOAF user/group admin views (user.clj mbox lookup + email
    # regex + member-of, group.clj enumeration, admin-role check) as a
    # ZERO-shuffle projection over the user dimension
    from genegraph_spark.plans import curation as CUR

    return CUR.users_groups(_read(spark, sf_dir, "customer"))


_CLINSIG_TERMS = [
    "Benign", "benign/likely benign", "Pathogenic", "LIKELY PATHOGENIC",
    "uncertain significance", "drug response", "association", "WEIRD_UNKNOWN",
]


def q_fn_clinsig_normalize(spark, sf_dir):
    # ClinVar clinical-significance normalization through the reference's
    # own CSV resources (transform/clinvar/common.clj:84-140): lowercase
    # → normalized code/label → class row (significance, prop type),
    # unknown terms → the "other" class. Raw terms derived
    # deterministically from events; per-class rollup
    from genegraph_spark.sources import clinsig as CS

    normalized, classes = CS.clinsig_tables(spark)
    ev = _read(spark, sf_dir, "events")
    raw = ev.select(
        F.element_at(
            F.array(*[F.lit(t) for t in _CLINSIG_TERMS]),
            (F.col("event_id") % 8 + 1).cast("int"),
        ).alias("clinsig")
    )
    out = CS.normalize_clinsig(raw, "clinsig", normalized, classes)
    return out.groupBy(
        "clinsig_code", "clinsig_label", "significance", "prop_type"
    ).agg(F.count("*").alias("n"))


def q_alg_sparql_select(spark, sf_dir):
    # SPARQL *text* front-end (operators/sparql.py; create-query on
    # strings, resource.clj:223-239): a SELECT with a sequence property
    # path, OPTIONAL+inner FILTER, and BIND(IF(BOUND(...))) — parsed and
    # compiled onto the algebra combinators, then run over the geo triple
    # view. Same plan shape as the programmatic q_alg_* equivalents.
    from genegraph_spark.operators.sparql import sparql

    t = _geo_triples(spark, sf_dir)
    out = sparql(
        t,
        """SELECT DISTINCT ?c ?rname ?flag WHERE {
             ?c :in-nation/:in-region ?r .
             ?r :name ?rname .
             OPTIONAL { ?c :segment ?seg . FILTER(?seg = "BUILDING") }
             BIND(IF(BOUND(?seg), true, false) AS ?flag)
           }""",
    )
    return out.select(
        F.col("c").alias("customer"),
        F.col("rname").alias("region_name"),
        (F.col("flag") == "true").alias("is_building"),
    )


def q_alg_sparql_construct(spark, sf_dir):
    # CONSTRUCT from query text: template instantiation with a path-join
    # WHERE clause; emits the repo triple schema (the .sparql-file
    # execution path, gene_validity_refactor/*.sparql).
    from genegraph_spark.operators.sparql import sparql

    t = _geo_triples(spark, sf_dir)
    out = sparql(
        t,
        """CONSTRUCT { ?c :region-name ?rname . ?c a :Customer }
           WHERE { ?c :in-nation/:in-region ?r . ?r :name ?rname }""",
    )
    return out.select("subject", "predicate", "object", "object_is_iri")


def q_alg_sparql_agg(spark, sf_dir):
    # SPARQL aggregates from query text: GROUP BY + HAVING + COUNT/
    # MIN/MAX (numeric-aware ordering, lexical-form output) over the geo
    # triple view — the :count/:group execution modes of create-query
    # (resource.clj:201-239) as SPARQL 1.1 text
    from genegraph_spark.operators.sparql import sparql

    t = _geo_triples(spark, sf_dir)
    return sparql(
        t,
        """SELECT ?rname (COUNT(*) AS ?n_customers)
                  (MIN(?bal) AS ?min_bal) (MAX(?bal) AS ?max_bal)
           WHERE { ?c :in-nation/:in-region ?r .
                   ?r :name ?rname .
                   ?c :balance ?bal }
           GROUP BY ?rname HAVING (COUNT(*) > 10)""",
    )


def q_alg_sparql_pergraph(spark, sf_dir):
    # per-graph SELECT (r6 corpus mode): one query over N named graphs
    # where ORDER BY/LIMIT resolve PER GRAPH — the reference's
    # per-event-model query loop collapsed into one job (a window
    # partitioned by the graph key, never a global sort). Graphs =
    # part brands; top-2 parts by integer-cents price per brand,
    # (price DESC, part ASC) deterministic
    from genegraph_spark.operators.sparql import PreparedQuery

    part = _read(spark, sf_dir, "part")
    t = part.select(
        F.col("p_brand").alias("graph"),
        F.concat(F.lit("urn:part:"), F.col("p_partkey").cast("string")).alias(
            "subject"
        ),
        F.lit(":cents").alias("predicate"),
        (F.col("p_retailprice") * 100).cast("bigint").cast("string").alias(
            "object"
        ),
        F.lit(False).alias("object_is_iri"),
        F.lit("xsd:integer").alias("object_datatype"),
    )
    q = PreparedQuery(
        "SELECT ?s ?v WHERE { ?s :cents ?v } ORDER BY DESC(?v) ?s LIMIT 2"
    )
    return q.run(t, per_graph=t.select("graph").distinct())


def q_alg_sparql_subselect(spark, sf_dir):
    # Sub-SELECT (SPARQL 1.1 §12) from query text: the clinvar
    # aggregate-assertion latest-as-of idiom (source/graphql/clinvar/
    # aggregate_assertion.clj:28-46 — inner `SELECT ?id (max(?release_date)
    # AS ?max)` GROUP BY joined to the outer BGP + equality FILTER),
    # over the geo triple view: per nation, the max-balance customer(s).
    # One shuffle for the inner aggregate; the outer join shares its key.
    from genegraph_spark.operators.sparql import sparql

    t = _geo_triples(spark, sf_dir)
    out = sparql(
        t,
        """SELECT ?n ?c ?bal WHERE {
             { SELECT ?n (MAX(?bal) AS ?maxbal)
               WHERE { ?c :in-nation ?n . ?c :balance ?bal }
               GROUP BY ?n }
             ?c :in-nation ?n .
             ?c :balance ?bal .
             FILTER(?bal = ?maxbal)
           }""",
    )
    return out.select(
        F.col("n").alias("nation"),
        F.col("c").alias("customer"),
        F.col("bal").alias("balance"),
    )


def q_alg_sparql_graph(spark, sf_dir):
    # GRAPH <iri> scoping from query text (util/test_data.clj:67 named-
    # graph extraction): per-predicate triple counts inside the
    # dictionary named graph of the KG store — a constant GRAPH is a
    # graph-column filter (partition prune on a graph-partitioned store)
    from genegraph_spark.functions import iri as I2
    from genegraph_spark.operators.sparql import sparql

    t = _kg_triples_df(spark, sf_dir)
    return sparql(
        t,
        "SELECT ?p (COUNT(*) AS ?n) WHERE { GRAPH <"
        + I2.DICTIONARY_GRAPH
        + "> { ?s ?p ?o } } GROUP BY ?p",
    )


def q_alg_describe(spark, sf_dir):
    # DESCRIBE ?page WHERE { ?page :mentions kge:SLOWNESS } — concise
    # bounded description: page triples + their mention bnodes' triples
    t = _kg_triples_df(spark, sf_dir)
    start = A.project(
        A.bgp(t, [("?page", I.P_MENTIONS, f"{fixtures.KG}/entity/SLOWNESS")]),
        ["?page"],
    ).withColumnRenamed("page", "node")
    return A.describe(t, start)


def q_cur_disease_subtree(spark, sf_dir):
    # descendant-aware curation rollup (curation.clj:303-314:
    # subClassOf* + membership): skos:broader+ closure over the fixture
    # disease forest, then pages-supporting-any-descendant counts
    from genegraph_spark.plans import curation as CUR

    return CUR.disease_subtree_counts(
        _kg_triples_df(spark, sf_dir), fixtures.hierarchy_triples(spark)
    )


def q_cur_statistics(spark, sf_dir):
    # single-row KG totals (tot-* /
    # server-status resolvers, core.clj:86-90) — one conditional-agg scan
    from genegraph_spark.plans import resolvers as R

    return R.statistics(_kg_triples_df(spark, sf_dir))


def q_kg_jsonld_compact(spark, sf_dir):
    # context-compacted JSON-LD: CURIE'd terms + embedded @context — the
    # reference's public JSON-LD shape (variation.clj:814-923)
    from genegraph_spark.functions import serialize as SER

    return SER.jsonld_compact_docs(_kg_triples_df(spark, sf_dir))


def q_kg_jsonld_docs(spark, sf_dir):
    # per-graph JSON-LD-style serialization (query.clj:87-100,
    # sink/event.clj:78-98 produce step)
    from genegraph_spark.functions import serialize as SER

    res = P.construct_kg(spark, sf_dir, use_golden_text=True)
    return SER.graph_documents(res.triples)


def q_fn_hgvs_parse(spark, sf_dir):
    # second struct-returning parser of the family (hgvs.clj:21-74 analog):
    # deterministic corpus covering all grammar forms — uncertain ranges
    # with '?' bounds, definite ranges, single positions, malformed
    from genegraph_spark.functions import parse as PRS

    k = F.col("o_orderkey")
    acc = F.concat(
        F.lit("NC_0000"), ((k % 22) + 1).cast("string"),
        F.lit("."), ((k % 9) + 1).cast("string"),
    )
    uncertain = F.concat(
        acc, F.lit(":g.("),
        F.when(k % 10 == 0, F.lit("?")).otherwise((k * 10).cast("string")),
        F.lit("_"), (k * 10 + 5).cast("string"),
        F.lit(")_("), (k * 10 + 100).cast("string"), F.lit("_"),
        F.when(k % 10 == 0, F.lit("?")).otherwise((k * 10 + 105).cast("string")),
        F.lit(")del"),
    )
    point = F.concat(
        F.lit("NM_"), ((k % 31) + 1).cast("string"), F.lit(".2:c."),
        (k + 7).cast("string"), F.lit("A>T"),
    )
    rng = F.concat(
        acc, F.lit(":g."), (k * 100).cast("string"),
        F.lit("_"), (k * 100 + k % 50).cast("string"), F.lit("dup"),
    )
    raw = (
        F.when(k % 13 == 0, F.lit("garbage"))
        .when(k % 5 == 0, uncertain)
        .when(k % 3 == 0, point)
        .otherwise(rng)
    )
    o = _read(spark, sf_dir, "orders").select("o_orderkey", raw.alias("raw"))
    p = o.select("o_orderkey", PRS.parse_hgvs("raw").alias("h"))
    return p.select(
        "o_orderkey",
        *[F.col(f"h.{c}").alias(c) for c in (
            "accession", "sequence_type", "start_lo", "start_hi",
            "end_lo", "end_hi", "op", "form", "span",
        )],
    )


def q_fn_cnv_parse(spark, sf_dir):
    # struct-returning pandas-UDF parser (annotate/cnv.clj:15-96 analog):
    # template strings built deterministically from orders, ~1/13 malformed
    from genegraph_spark.functions import parse as PRS

    k = F.col("o_orderkey")
    raw = F.when(k % 13 == 0, F.lit("garbage")).otherwise(
        F.concat(
            F.lit("GRCh38 chr"),
            ((k % 22) + 1).cast("string"),
            F.lit(":"),
            (k * 100).cast("string"),
            F.lit("-"),
            (k * 100 + (k % 1000)).cast("string"),
            F.lit(" "),
            F.when(k % 7 == 0, F.lit("DEL")).otherwise(F.lit("DUP")),
        )
    )
    o = _read(spark, sf_dir, "orders").select("o_orderkey", raw.alias("raw"))
    parsed = o.select("o_orderkey", PRS.parse_cnv("raw").alias("c"))
    return parsed.select(
        "o_orderkey",
        F.col("c.assembly").alias("assembly"),
        F.col("c.chrom").alias("chrom"),
        F.col("c.start").alias("start_pos"),
        F.col("c.end").alias("end_pos"),
        F.col("c.svtype").alias("svtype"),
    )


def q_fn_curie_roundtrip(spark, sf_dir):
    # CURIE ↔ IRI over the dictionary graph's predicates (names.clj:34-37)
    from genegraph_spark.operators.triples import dictionary_triples

    canon = spark.createDataFrame(
        sorted(fixtures.canonical_map_py().items()), "iri string, canonical_iri string"
    )
    t = dictionary_triples(fixtures.dictionary_df(spark), canon)
    preds = t.select("predicate").distinct()
    curie = I.compact_iri(F.col("predicate"))
    return preds.select(
        F.col("predicate").alias("iri"),
        curie.alias("curie"),
        I.expand_curie(curie).alias("roundtrip"),
    )


def q_alg_property_path_alt(spark, sf_dir):
    # property-path alternation + optional hop:
    # customer ─(:in-nation|:in-region)→ ─(:in-region?)→
    t = _geo_triples(spark, sf_dir)
    start = A.project(A.bgp(t, [("?c", ":in-nation", "?n")]), ["?c"]).distinct()
    return A.ld_path(
        t, start.toDF("node"), [(">", [":in-nation", ":in-region"]), ("?", ":in-region")]
    )


def _stream_source(spark, sf_dir: str, kind: str) -> str:
    """A stream-source parquet dir, written once per (kind, sf_dir): the
    stream queries replay the same immutable source, so it is
    materialized once per process, not once per query."""
    from genegraph_spark.streaming import stream as S

    writer = {
        "pages": S.write_pages_source,
        "events": S.write_events_source,
        "events_dupes": S.write_events_source_with_dupes,
    }[kind]
    return _STATE.path((kind, sf_dir), f"gg_src_{kind}_",
                       lambda base: writer(spark, sf_dir, os.path.join(base, "src")))


def q_stream_mentions(spark, sf_dir):
    from genegraph_spark.streaming import stream as S

    src = _stream_source(spark, sf_dir, "pages")
    ckpt = _STATE.temp_dir("gg_stream_")
    return S.stream_mention_counts(spark, src, os.path.join(ckpt, "ckpt"))


def q_stream_dedup(spark, sf_dir):
    # exactly-once over at-least-once delivery: dropDuplicatesWithinWatermark
    # collapses the replayed events (every 10th id delivered twice, in a
    # later micro-batch) back to the distinct event set
    from genegraph_spark.streaming import stream as S

    src = _stream_source(spark, sf_dir, "events_dupes")
    ckpt = _STATE.temp_dir("gg_stream_dd_")
    return S.stream_dedup_events(spark, src, os.path.join(ckpt, "ckpt"))


def q_stream_windows(spark, sf_dir):
    from genegraph_spark.streaming import stream as S

    src = _stream_source(spark, sf_dir, "events")
    ckpt = _STATE.temp_dir("gg_streamw_")
    return (
        S.stream_windowed_events(spark, src, os.path.join(ckpt, "ckpt"))
        .select("window_start", "event_type", "n", F.round("total", 4).alias("total"))
    )


def q_stream_stateful_totals(spark, sf_dir):
    from genegraph_spark.streaming import stream as S

    src = _stream_source(spark, sf_dir, "events")
    ckpt = _STATE.temp_dir("gg_streams_")
    # 2 files per trigger over 4 files → state must carry across batches
    return S.stream_user_running_totals(
        spark, src, os.path.join(ckpt, "ckpt"), max_files_per_trigger=2
    )


# The driver verifies the first ~50 queries() entries per round. The
# ── ClinVar JSON-LD tier (transform/clinvar/jsonld/*.clj + the
#    source/graphql/clinvar/ resolver queries run VERBATIM over it) ──


def _cv_jsonld_model(spark, sf_dir):
    """Shared clinvar-streams JSON-LD model (the Jena-union set-semantics
    view) — persisted once per SparkContext and sf_dir, like
    _kg_triples_df; clear_query_caches releases it."""
    from genegraph_spark.sources import clinvar_jsonld as CJ

    def build():
        ev = _read(spark, sf_dir, "events")
        return CJ.clinvar_jsonld_model(
            spark,
            fixtures.clinvar_gene_messages(ev),
            fixtures.clinvar_variation_messages(ev),
            fixtures.clinvar_archive_messages(ev),
            fixtures.clinvar_scv_messages(ev),
        )

    return _STATE.frame(spark, ("cv_jsonld", sf_dir), build)


def q_kg_cv_jsonld_genes(spark, sf_dir):
    # the clinvar-streams gene transform (transform/clinvar/jsonld/
    # gene.clj:16-37): versioned so:Gene + cg:ClinVarObject records with
    # prefLabel, archiver contribution, and the merged @vocab fields —
    # one from_json + one explode, zero shuffles
    from genegraph_spark.sources import clinvar_jsonld as CJ

    ev = _read(spark, sf_dir, "events")
    return CJ.gene_jsonld_triples(fixtures.clinvar_gene_messages(ev))


def q_kg_cv_jsonld_variants(spark, sf_dir):
    # the clinvar-streams variation transform (jsonld/variation.clj:
    # 23-44): versioned cg:Variant records; :name lands as BOTH
    # skos:prefLabel and cg:name (only :id is dissoc'd); each
    # gene_associations object becomes a deterministic node carrying
    # cg:gene_id — the hop the graphql/clinvar resolvers join through
    from genegraph_spark.sources import clinvar_jsonld as CJ

    ev = _read(spark, sf_dir, "events")
    return CJ.variation_jsonld_triples(fixtures.clinvar_variation_messages(ev))


def q_kg_cv_jsonld_submissions(spark, sf_dir):
    # the clinvar-streams submission transform (jsonld/submission.clj:
    # 14-28): versioned cg:AssertionSet records, the whole message
    # merged under @vocab (no dissoc list) — map-only
    from genegraph_spark.sources import clinvar_jsonld as CJ

    ev = _read(spark, sf_dir, "events")
    return CJ.submission_jsonld_triples(
        fixtures.clinvar_submission_messages(ev)
    )


def q_kg_cv_class_context(spark, sf_dir):
    # ClinGen classification-context binning (jsonld/clinical_assertion
    # .clj:83-125): SOMATIC_CANCER / PHARMACOGENOMIC / GERMLINE_DISEASE /
    # OTHER in rule order. The reference runs a per-assertion SPARQL
    # as-of query for the gene set; here both as-of levels are windowed
    # joins over bounded version chains and the consensus-cancer CSV +
    # clinsig map are broadcasts — two bounded shuffles for the corpus
    from genegraph_spark.sources import clinvar_jsonld as CJ

    ev = _read(spark, sf_dir, "events")
    out = CJ.classification_context(
        CJ.parse_scv_messages(fixtures.clinvar_scv_messages(ev)),
        CJ.parse_variation_versions(fixtures.clinvar_variation_messages(ev)),
        CJ.parse_gene_versions(fixtures.clinvar_gene_messages(ev)),
        CJ.cancer_gene_ids(spark),
        CJ.clinsig_group_map(spark),
    )
    return out.select("id", "release_date", "classification_context")


def q_cur_cv_aggregate_latest(spark, sf_dir):
    # aggregate-assertion-list, timeframe LATEST, run VERBATIM
    # (source/graphql/clinvar/aggregate_assertion.clj:25-49): the
    # latest-version-per-id sub-SELECT + max-date filter over the VCV
    # statements. Exercises the §18.5.1 fix: max(?release_date) returns
    # the input's tagged term so the outer BGP natural-join matches
    from genegraph_spark.operators.sparql import sparql

    q = """
PREFIX dc: <http://purl.org/dc/terms/>
PREFIX sepio: <http://purl.obolibrary.org/obo/SEPIO_>
PREFIX cg: <http://dataexchange.clinicalgenome.org/terms/>
SELECT ?iri ?id ?subject ?release_date ?max_release_date
WHERE {
  {
    SELECT ?id (max(?release_date) AS ?max_release_date)
    WHERE {
      ?subiri a cg:AggregateVariantClinicalSignificanceAssertion ;
              dc:isVersionOf ?id ;
              cg:release_date ?release_date .
    }
    GROUP BY ?id
  }
  ?iri dc:isVersionOf ?id ;
       sepio:0000388 ?subject ; #:sepio/has-subject
       cg:release_date ?release_date .
  FILTER(?release_date = ?max_release_date)
}"""
    return sparql(_cv_jsonld_model(spark, sf_dir), q)


def q_cur_cv_members(spark, sf_dir):
    # aggregate-members-query VERBATIM (aggregate_assertion.clj:157-199):
    # latest VCV version per id joined to the latest version of every
    # member SCV through the sepio:0000006/0000084 evidence hops
    from genegraph_spark.operators.sparql import sparql

    q = """
PREFIX dc: <http://purl.org/dc/terms/>
PREFIX cg: <http://dataexchange.clinicalgenome.org/terms/>
PREFIX sepio: <http://purl.obolibrary.org/obo/SEPIO_>
SELECT
  ?evidence_item_iri
  ?evidence_item_assertion_id
  ?evidence_item_assertion_release_date
  ?vcv_iri
  (?r_vcv_max_release_date as ?vcv_release_date)
WHERE {
  {
    SELECT ?r_vcv_id (max(?release_date) AS ?r_vcv_max_release_date)
    WHERE {
      ?subiri a cg:AggregateVariantClinicalSignificanceAssertion ;
              dc:isVersionOf ?r_vcv_id ;
              cg:release_date ?release_date .
    }
    GROUP BY ?r_vcv_id
  }
  ?vcv_iri a cg:AggregateVariantClinicalSignificanceAssertion .
  ?vcv_iri dc:isVersionOf ?r_vcv_id .
  ?vcv_iri cg:release_date ?r_vcv_max_release_date .
  {
    SELECT ?evidence_item_assertion_id (max(?release_date) AS ?evidence_item_assertion_release_date)
    WHERE {
      ?subiri a cg:VariantClinicalSignificanceAssertion ;
              dc:isVersionOf ?evidence_item_assertion_id ;
              cg:release_date ?release_date .
    }
    GROUP BY ?evidence_item_assertion_id
  }
  ?r_vcv_id sepio:0000006 ?evidence_line_iri . # :sepio/evidence-line
  ?evidence_line_iri sepio:0000084 ?evidence_item_iri . # :sepio/evidence-item
  ?evidence_item_iri dc:isVersionOf ?evidence_item_assertion_id .
  ?evidence_item_iri cg:release_date ?evidence_item_assertion_release_date .
}
ORDER BY ASC(?vcv_iri) ASC(?vcv_release_date)"""
    return sparql(_cv_jsonld_model(spark, sf_dir), q)


def q_cur_cv_members_timeseries(spark, sf_dir):
    # aggregate-members-timeseries VERBATIM (aggregate_assertion.clj:
    # 204-239): per VCV VERSION, the members as-of that version's date —
    # the correlated FILTER NOT EXISTS (inner filters reference the
    # outer ?vcv_release_date) hoists into the anti-join condition
    from genegraph_spark.operators.sparql import sparql

    q = """
PREFIX dc: <http://purl.org/dc/terms/>
PREFIX cg: <http://dataexchange.clinicalgenome.org/terms/>
PREFIX sepio: <http://purl.obolibrary.org/obo/SEPIO_>
PREFIX scv: <https://identifiers.org/clinvar.submission:>
SELECT
  ?evidence_item_iri
  ?evidence_item_assertion_id
  ?evidence_item_assertion_release_date
  ?vcv_iri
  ?r_vcv_id
  ?vcv_release_date
WHERE {
  ?vcv_iri a cg:AggregateVariantClinicalSignificanceAssertion .
  ?vcv_iri dc:isVersionOf ?r_vcv_id .
  ?vcv_iri cg:release_date ?vcv_release_date .
  ?r_vcv_id sepio:0000006 ?evidence_line_iri . # :sepio/evidence-line
  ?evidence_line_iri sepio:0000084 ?evidence_item_iri . # :sepio/evidence-item
  ?evidence_item_iri dc:isVersionOf ?evidence_item_assertion_id .
  ?evidence_item_iri cg:release_date ?evidence_item_assertion_release_date .
  FILTER(?evidence_item_assertion_release_date <= ?vcv_release_date)
  FILTER NOT EXISTS {
    ?other_evidence_item_iri_version dc:isVersionOf ?evidence_item_assertion_id .
    ?other_evidence_item_iri_version cg:release_date ?other_evidence_item_release_date .
    FILTER(?other_evidence_item_release_date <= ?vcv_release_date)
    FILTER(?other_evidence_item_release_date > ?evidence_item_assertion_release_date)
  }
}
ORDER BY ASC(?r_vcv_id) ASC(?vcv_release_date) ASC(?evidence_item_assertion_id)"""
    return sparql(_cv_jsonld_model(spark, sf_dir), q)


def q_cur_cv_gene_list(spark, sf_dir):
    # gene-list VERBATIM (source/graphql/clinvar/gene.clj:66-105):
    # variants → gene_associations → latest gene version, DISTINCT
    from genegraph_spark.operators.sparql import sparql

    q = """
PREFIX dc: <http://purl.org/dc/terms/>
PREFIX cg: <http://dataexchange.clinicalgenome.org/terms/>
PREFIX sepio: <http://purl.obolibrary.org/obo/SEPIO_>
PREFIX so: <http://purl.obolibrary.org/obo/SO_>
SELECT DISTINCT ?gene_iri ?gene_id ?gene_release_date ?variation_id
WHERE {
  ?s_variant a cg:Variant .
  ?s_variant cg:gene_associations ?gene_association_iri .
  ?s_variant dc:isVersionOf ?variation_id .
  ?s_variant cg:release_date ?variant_release_date .
  ?gene_association_iri cg:gene_id ?gene_id .
  {
    SELECT ?gene_id (MAX(?gene_release_date) AS ?max_gene_release_date) WHERE {
      ?g a so:0000704 . # so/Gene
      ?g a cg:ClinVarObject .
      ?g cg:release_date ?gene_release_date .
      ?g cg:id ?gene_id .
    }
    GROUP BY ?gene_id
  }
  {
    SELECT ?gene_iri ?gene_id ?gene_release_date WHERE {
      ?gene_iri a so:0000704 . # so/Gene
      ?gene_iri a cg:ClinVarObject .
      ?gene_iri cg:release_date ?gene_release_date .
      ?gene_iri cg:id ?gene_id .
    }
  }
  FILTER(?gene_release_date = ?max_gene_release_date)
}
ORDER BY ?s_variant ?gene_id"""
    return sparql(_cv_jsonld_model(spark, sf_dir), q)


def q_cur_cv_genes_asof(spark, sf_dir):
    # genes-for-variation-byversion VERBATIM (transform/clinvar/jsonld/
    # clinical_assertion.clj:20-62) with the {{release_date_limit}}
    # substitution the reference performs — TWO correlated NOT EXISTS
    # as-of levels (latest variant <= limit, latest gene <= variant)
    from genegraph_spark.operators.sparql import sparql

    q = """
PREFIX dc: <http://purl.org/dc/terms/>
PREFIX cg: <http://dataexchange.clinicalgenome.org/terms/>
PREFIX sepio: <http://purl.obolibrary.org/obo/SEPIO_>
PREFIX so: <http://purl.obolibrary.org/obo/SO_>
SELECT ?gene_iri ?gene_id ?gene_symbol ?gene_release_date ?variation_id ?variant_release_date
WHERE {
  ?s_variant a cg:Variant .
  ?s_variant cg:gene_associations ?gene_association_iri .
  ?s_variant dc:isVersionOf ?variation_id .
  ?s_variant cg:release_date ?variant_release_date .
  ?gene_association_iri cg:gene_id ?gene_id .
  {
    SELECT ?gene_iri ?gene_id ?gene_release_date WHERE {
      ?gene_iri a so:0000704 . # :so/Gene
      ?gene_iri a cg:ClinVarObject .
      ?gene_iri cg:release_date ?gene_release_date .
      ?gene_iri cg:id ?gene_id .
    }
  }
  FILTER(?gene_release_date <= ?variant_release_date)
  FILTER NOT EXISTS {
    ?other_gene_iri cg:id ?gene_id .
    ?other_gene_iri cg:release_date ?other_gene_release_date .
    FILTER(?other_gene_release_date <= ?variant_release_date)
    FILTER(?other_gene_release_date > ?gene_release_date)
  }
  ?gene_iri cg:symbol ?gene_symbol .
  ?gene_iri cg:hgnc_id ?hgnc_id .
  FILTER(?variant_release_date <= "2024-02-03")
  FILTER NOT EXISTS {
    ?other_variant dc:isVersionOf ?variation_id .
    ?other_variant cg:release_date ?other_variant_release_date .
    FILTER(?other_variant_release_date <= "2024-02-03")
    FILTER(?other_variant_release_date > ?variant_release_date)
  }
}
ORDER BY ?s_variant ?gene_id"""
    return sparql(_cv_jsonld_model(spark, sf_dir), q)


def q_text_bpe_merges(spark, sf_dir):
    # BPE tokenizer training (Sennrich 2016 word-counts formulation):
    # ONE corpus pass for word frequencies, then 8 merge iterations over
    # the vocab-scale word table — pair-explode + weighted count +
    # single-row argmax per iteration (bounded driver work, the
    # graph_pagerank fixed-iteration pattern); classic leftmost
    # non-overlapping merge semantics verified against a pure-python
    # reference and mirrored bit-exactly by the unrolled DuckDB oracle
    from genegraph_spark.functions import bpe as B

    return B.bpe_merges(_read(spark, sf_dir, "documents"), n_merges=8)


def q_text_chunk_windows(spark, sf_dir):
    # sliding-window chunking (RAG / long-doc training windows):
    # 64-token windows, stride 48 — per-document sequence + slice,
    # pure column expressions, ZERO shuffles (plan: one narrow stage)
    return TS.chunk_windows(
        _read(spark, sf_dir, "documents"), window=64, stride=48
    )


def q_text_lm_filter(spark, sf_dir):
    # CCNet-style LM filtering (Wenzek 2020 recipe, Brants 2007 stupid-
    # backoff scorer): train a bigram LM on the doc_id%3==0 "reference
    # corpus" slice (two map-side-combined count passes), score EVERY
    # document via one bigram explode + co-keyed joins against the
    # count tables, keep/drop via integer cross-multiplication
    # thresholds. The float log-score stays out of the oracle-compared
    # surface (cross-engine float arithmetic is not bit-stable)
    from genegraph_spark.functions import ngram_lm as LM

    docs = _read(spark, sf_dir, "documents")
    uni, bi = LM.train_bigram_lm(docs.where(F.col("doc_id") % 3 == 0))
    scored = LM.score_documents(docs, uni, bi)
    return LM.lm_filter(scored, min_known_pct=50, max_oov_pct=10).select(
        "doc_id", "n_tokens", "known_bigrams", "backoff_hits", "oov", "keep"
    )


def q_text_bpe_encode(spark, sf_dir):
    # tokenization under the trained vocab: the 8 learned merges apply
    # as a fixed chain of narrow column maps over the DISTINCT word
    # table (vocab-scale; documents then join it broadcast for token
    # ids) — per-word subword segmentation with zero per-row Python
    from genegraph_spark.functions import bpe as B

    docs = _read(spark, sf_dir, "documents")
    merges = [
        (r.left, r.right)
        for r in B.bpe_merges(docs, n_merges=8).orderBy("rank").collect()
    ]
    enc = B.encode_words(B.word_counts(docs), merges)
    return enc.select(
        "word", "n",
        F.size("tokens").cast("long").alias("n_subwords"),
        F.array_join("tokens", " ").alias("subwords"),
    )


# ── event-analyzer tier (event_analyzer.clj re-expressed corpus-wide) ──


def _event_models(spark, sf_dir):
    """(old, new) per-order model frames simulating a re-transform with
    changed code (the event_analyzer.clj scenario): the new code maps
    priority-1 orders to a subclass, rewrites every 7th status, drops
    every 5th order-date triple, and adds a flag to every 11th order."""
    from genegraph_spark.operators.triples import explode_triples, tstruct

    o = _read(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    g = F.concat(F.lit("urn:order:"), k.cast("string"))
    t = lambda p, obj, iri=False: tstruct(g, p, obj, iri, None if iri else I.XSD_STRING)  # noqa: E731
    old = explode_triples(
        o, g,
        [
            t(I.RDF_TYPE, F.lit(":Order"), True),
            t(":status", F.col("o_orderstatus")),
            t(":priority", F.col("o_orderpriority")),
            t(":odate", F.col("o_orderdate").cast("string")),
        ],
    )
    new_type = F.when(
        F.col("o_orderpriority").startswith("1-"), F.lit(":PriorityOrder")
    ).otherwise(F.lit(":Order"))
    new_status = F.when(k % 7 == 0, F.lit("X")).otherwise(
        F.col("o_orderstatus")
    )
    base = [
        t(I.RDF_TYPE, new_type, True),
        t(":status", new_status),
        t(":priority", F.col("o_orderpriority")),
    ]
    from genegraph_spark.sources.dosage_jira import _arr

    arr = F.concat(
        F.array(*base),
        _arr(k % 5 != 0, t(":odate", F.col("o_orderdate").cast("string"))),
        _arr(k % 11 == 0, t(":flagged", F.lit("true"))),
    )
    from genegraph_spark.operators.triples import explode_triples_arr

    new = explode_triples_arr(o, g, arr)
    return old, new


def q_kg_event_analysis(spark, sf_dir):
    # per-model change report after a re-transform (event_analyzer.clj
    # model-diff/model-changed?/model-sizes 24-55): the reference maps
    # per-event helpers on the driver; here TWO exceptAll passes + per-
    # graph aggregates give created/deleted/previous/current/changed for
    # every model in one co-keyed job
    from genegraph_spark.plans import analyzer as AN

    old, new = _event_models(spark, sf_dir)
    return AN.change_summary(old, new)


def q_kg_type_count_diff(spark, sf_dir):
    # rdf:type frequency deltas per model (resource-type-diff,
    # event_analyzer.clj:14-22) — rows only where a count moved
    from genegraph_spark.plans import analyzer as AN

    old, new = _event_models(spark, sf_dir)
    return AN.type_count_diff(old, new)


# ordering is DERIVED from the CORRECTNESS_r*.json history (VERDICT r4
# next-steps #1: no more hand-maintained list — a typo there silently
# burned window slots). Rule: never-driver-verified queries first, then a
# query whose latest verdict FAILED, then ascending latest-verdict round
# (stalest first); ties keep queries() insertion order. This guarantees
# the staleness invariant mechanically: each round the window always
# covers every never-verified entry plus the oldest verdicts.
# VERDICT r4 "do this" #1: these 8 have waited since r3/r4 for a driver
# verdict — they outrank every newer never-verified entry so round-5
# session additions can never push them past the ~50-slot window again.
# queries() asserts the list against the full board so a typo fails
# loudly (VERDICT r4 "what's wrong" #2); _verdict_ordering itself stays
# total over arbitrary base lists.
# VERDICT r5 "next round" #1: the 11 entries that have never received a
# driver verdict are pinned first (the boost is inert once a verdict
# lands); the r6 additions (kg_gdm_chain, snap_export,
# alg_text_search_bm25) follow as ordinary never-verified entries.
_R6_PRIORITY = [
    "alg_sparql_graph", "alg_sparql_subselect", "alg_sparql_text_query",
    "alg_text_search_ranked", "cur_region_features",
    "fn_variation_expressions", "text_boilerplate_strip",
    "text_pack_sequences", "text_stratified_sample", "text_url_dedup",
    "text_vocabulary",
]


def _verdict_ordering(base_names):
    import glob as _glob

    here = os.path.dirname(os.path.abspath(__file__))
    latest = {}  # name -> (round, passed)
    for path in sorted(_glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                verdicts = json.load(f)
        except (OSError, ValueError):
            continue
        for name, v in verdicts.items():
            if not isinstance(v, dict):
                continue
            ok = bool(
                v.get("err") is None
                and v.get("rows_match")
                and v.get("hash_match") is not False
            )
            prev = latest.get(name)
            if prev is None or rnd >= prev[0]:
                latest[name] = (rnd, ok)
    pos = {n: i for i, n in enumerate(base_names)}
    prio = {n: i for i, n in enumerate(_R6_PRIORITY) if n in pos}

    def key(n):
        if n in prio and latest.get(n) is None:
            # boost applies only while unverified: once a driver verdict
            # lands the normal staleness ordering takes over
            return (-2, prio[n])
        rec = latest.get(n)
        if rec is None:  # never driver-verified → front of the window
            return (-1, pos[n])
        rnd, ok = rec
        if not ok:  # latest verdict failed → right after the never-verified
            return (0, pos[n])
        return (rnd, pos[n])

    return sorted(base_names, key=key)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {
        # round-5 session-6 additions: the ClinVar JSON-LD tier + the
        # graphql/clinvar resolver queries run verbatim
        "kg_cv_jsonld_genes": q_kg_cv_jsonld_genes,
        "kg_cv_jsonld_variants": q_kg_cv_jsonld_variants,
        "kg_cv_class_context": q_kg_cv_class_context,
        "kg_cv_jsonld_submissions": q_kg_cv_jsonld_submissions,
        "cur_cv_aggregate_latest": q_cur_cv_aggregate_latest,
        "cur_cv_members": q_cur_cv_members,
        "cur_cv_members_timeseries": q_cur_cv_members_timeseries,
        "cur_cv_gene_list": q_cur_cv_gene_list,
        "cur_cv_genes_asof": q_cur_cv_genes_asof,
        "kg_event_analysis": q_kg_event_analysis,
        "kg_type_count_diff": q_kg_type_count_diff,
        "text_bpe_merges": q_text_bpe_merges,
        "text_bpe_encode": q_text_bpe_encode,
        "text_lm_filter": q_text_lm_filter,
        "text_chunk_windows": q_text_chunk_windows,
        # round-5 additions (never driver-verified → front of the window)
        "alg_recursive_evidence": q_alg_recursive_evidence,
        "cur_resource_cards": q_cur_resource_cards,
        "cur_gene_features": q_cur_gene_features,
        "cur_drugs": q_cur_drugs,
        "cur_gene_validity_reports": q_cur_gene_validity_reports,
        "cur_users_groups": q_cur_users_groups,
        "kg_dosage_jira": q_kg_dosage_jira,
        "kg_gdm_chain": q_kg_gdm_chain,
        "kg_actionability_docs": q_kg_actionability_docs,
        "kg_clinvar_statements": q_kg_clinvar_statements,
        "kg_hgnc_genes": q_kg_hgnc_genes,
        "kg_gene_scores": q_kg_gene_scores,
        "kg_cytoband_features": q_kg_cytoband_features,
        "kg_omim_conditions": q_kg_omim_conditions,
        "kg_affiliations_csv": q_kg_affiliations_csv,
        "kg_gci_legacy": q_kg_gci_legacy,
        "kg_gci_express": q_kg_gci_express,
        "kg_gci_neo4j": q_kg_gci_neo4j,
        "fn_submitter_agents": q_fn_submitter_agents,
        "kg_vcv_statements": q_kg_vcv_statements,
        # round-4 additions
        "alg_sparql_select": q_alg_sparql_select,
        "alg_sparql_construct": q_alg_sparql_construct,
        "cur_affiliations": q_cur_affiliations,
        "cur_condition_cards": q_cur_condition_cards,
        "cur_modes_of_inheritance": q_cur_modes_of_inheritance,
        "cur_classifications": q_cur_classifications,
        "cur_genetic_conditions": q_cur_genetic_conditions,
        "cur_gene_dosage": q_cur_gene_dosage,
        "cur_actionability_stats": q_cur_actionability_stats,
        "cur_actionability_assertions": q_cur_actionability_assertions,
        "cur_evidence_cards": q_cur_evidence_cards,
        "fn_clinsig_normalize": q_fn_clinsig_normalize,
        "cur_region_features": q_cur_region_features,
        "text_pack_sequences": q_text_pack_sequences,
        "text_boilerplate_strip": q_text_boilerplate_strip,
        "text_stratified_sample": q_text_stratified_sample,
        "text_vocabulary": q_text_vocabulary,
        "alg_sparql_agg": q_alg_sparql_agg,
        "alg_sparql_subselect": q_alg_sparql_subselect,
        "alg_sparql_pergraph": q_alg_sparql_pergraph,
        "alg_sparql_graph": q_alg_sparql_graph,
        "join_salted_topk": q_join_salted_topk,
        "graph_pagerank": q_graph_pagerank,
        "graph_degrees": q_graph_degrees,
        "graph_comention_pmi": q_graph_comention_pmi,
        "kg_nested_shapes": q_kg_nested_shapes,
        "kg_rdfxml_docs": q_kg_rdfxml_docs,
        # round-3 additions (no driver verdict yet — run first)
        "sim_ivf_kmeans": q_sim_ivf_kmeans,
        "sim_pq_topk": q_sim_pq_topk,
        "dedup_cluster_reps": q_dedup_cluster_reps,
        "alg_path_negated": q_alg_path_negated,
        "alg_path_bounded": q_alg_path_bounded,
        "cur_disease_subtree": q_cur_disease_subtree,
        "alg_describe": q_alg_describe,
        "alg_values": q_alg_values,
        "cur_statistics": q_cur_statistics,
        "kg_jsonld_compact": q_kg_jsonld_compact,
        "ver_sessionize": q_ver_sessionize,
        "agg_percentiles": q_agg_percentiles,
        "agg_rollup": q_agg_rollup,
        "agg_pivot_wide": q_agg_pivot_wide,
        "win_ntile": q_win_ntile,
        # training-data ops (unverified in round 2 — run first)
        "sim_ivf_topk": q_sim_ivf_topk,
        "sim_ivf_index": q_sim_ivf_index,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_sigs": q_dedup_minhash_sigs,
        "dedup_minhash_pairs": q_dedup_minhash_pairs,
        "dedup_incremental": q_dedup_incremental,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding": q_dedup_embedding,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "fn_hgvs_parse": q_fn_hgvs_parse,
        "kg_quarantine": q_kg_quarantine,
        "kg_turtle_docs": q_kg_turtle_docs,
        "cur_activities": q_cur_activities,
        "cur_suggest_infix": q_cur_suggest_infix,
        "sim_topk": q_sim_topk,
        "text_stats": q_text_stats,
        "text_repetition": q_text_repetition,
        "text_corpus_filter": q_text_corpus_filter,
        "text_scrub": q_text_scrub,
        "src_url_filter": q_src_url_filter,
        "text_split": q_text_split,
        "text_decontaminate": q_text_decontaminate,
        "text_domain_mix": q_text_domain_mix,
        "text_url_dedup": q_text_url_dedup,
        "fn_variation_expressions": q_fn_variation_expressions,
        "dedup_spans": q_dedup_spans,
        "text_fingerprints": q_text_fingerprints,
        "multimodal_decode": q_multimodal_decode,
        # streaming (foreachBatch → batch-dir table; SQL-oracled)
        "stream_dedup": q_stream_dedup,
        "stream_mentions": q_stream_mentions,
        "stream_windows": q_stream_windows,
        "stream_stateful_totals": q_stream_stateful_totals,
        # KG construction pipeline
        "kg_extract_text": q_kg_extract_text,
        "kg_live_pages": q_kg_live_pages,
        "kg_tombstoned_urls": q_kg_tombstoned_urls,
        "kg_mentions_preferred": q_kg_mentions_preferred,
        "kg_linked_mentions": q_kg_linked_mentions,
        "kg_canonical_map": q_kg_canonical_map,
        "kg_triples": q_kg_triples,
        "kg_lineage_counts": q_kg_lineage_counts,
        "kg_version_chain": q_kg_version_chain,
        "kg_latest_as_of": q_kg_latest_as_of,
        "kg_replaces_triples": q_kg_replaces_triples,
        "kg_replaces_superseded": q_kg_replaces_superseded,
        "kg_validation_report": q_kg_validation_report,
        "kg_jsonld_docs": q_kg_jsonld_docs,
        # curation read views (GraphQL resolver BGPs as DataFrame views)
        "cur_gene_disease_pairs": q_cur_gene_disease_pairs,
        "cur_top_entities": q_cur_top_entities,
        "cur_suggest_labels": q_cur_suggest_labels,
        # relational algebra (ARQ op surface)
        "alg_bgp_join": q_alg_bgp_join,
        "alg_optional": q_alg_optional,
        "alg_union": q_alg_union,
        "alg_minus": q_alg_minus,
        "alg_exists": q_alg_exists,
        "alg_distinct_project": q_alg_distinct_project,
        "alg_slice_order": q_alg_slice_order,
        "alg_ask_count": q_alg_ask_count,
        "alg_construct": q_alg_construct,
        "alg_property_path": q_alg_property_path,
        "alg_property_path_alt": q_alg_property_path_alt,
        "alg_transitive_closure": q_alg_transitive_closure,
        "alg_text_search": q_alg_text_search,
        "alg_text_search_ranked": q_alg_text_search_ranked,
        "alg_text_search_bm25": q_alg_text_search_bm25,
        "alg_sparql_text_query": q_alg_sparql_text_query,
        # versioned idioms + aggregations
        "ver_latest_event_per_user": q_ver_latest_event_per_user,
        "ver_event_asof": q_ver_event_asof,
        "ver_event_chain": q_ver_event_chain,
        "agg_score_cap": q_agg_score_cap,
        "agg_single_member_groups": q_agg_single_member_groups,
        "agg_collect_pivot": q_agg_collect_pivot,
        "agg_extract_sum": q_agg_extract_sum,
        # sources / functions
        "src_json_nested": q_src_json_nested,
        "src_event_archive": q_src_event_archive,
        "snap_latest_asof": q_snap_latest_asof,
        "snap_export": q_snap_export,
        "join_affiliation_precedence": q_join_affiliation_precedence,
        "join_asof_descriptor": q_join_asof_descriptor,
        "alg_diff": q_alg_diff,
        "fn_date_fixup": q_fn_date_fixup,
        "fn_cnv_parse": q_fn_cnv_parse,
        "fn_curie_roundtrip": q_fn_curie_roundtrip,
        # relational / bench
        "tpch_q1": q_tpch_q1,
        "tpch_q3_revenue": q_tpch_q3_revenue,
        "join_broadcast_dim": q_join_broadcast_dim,
        "win_running_total": q_win_running_total,
    }
    unknown = [n for n in _R6_PRIORITY if n not in base]
    assert not unknown, f"priority names not on the board: {unknown}"
    ordered = _verdict_ordering(list(base))
    return {n: base[n] for n in ordered}


# ===========================================================================
# DuckDB oracles
# ===========================================================================

_PAGES = f"pages AS ({fixtures.pages_sql()})"
_HEADS = (
    "heads AS (SELECT *, row_number() OVER (PARTITION BY url ORDER BY version DESC) AS _rn "
    "FROM pages QUALIFY _rn = 1)"
)
_LIVE = "live AS (SELECT url, version, text, lang, doc_id FROM heads WHERE NOT tombstone)"
_ALIAS = f"alias AS ({fixtures.alias_sql()})"
_CANON = f"canon AS ({fixtures.canonical_sql()})"

# token stream with 0-based positions over live pages
_TOKS = (
    "toks AS (SELECT url, doc_id, string_split(text, ' ') AS t FROM live), "
    "tokpos AS (SELECT url, u['pos'] AS pos, u['token'] AS token FROM "
    "(SELECT url, unnest(list_transform(range(len(t)), i -> {'pos': i, 'token': t[i+1]})) AS u FROM toks)) , "
    "tokens AS (SELECT url, pos, token FROM tokpos WHERE token <> '')"
)

# full disambiguation: candidates -> context support -> argmax per (url,pos)
_LINKED = (
    "cands AS (SELECT tokens.url, tokens.pos, tokens.token, alias.iri, alias.label_kind "
    "FROM tokens JOIN alias ON tokens.token = alias.label), "
    "support AS (SELECT url, iri, count(DISTINCT token) AS context_support FROM cands GROUP BY url, iri), "
    "scored AS (SELECT c.*, (CASE c.label_kind WHEN 'preferred' THEN 3 WHEN 'alt' THEN 2 ELSE 1 END) * 10 "
    "+ s.context_support AS score FROM cands c JOIN support s ON c.url = s.url AND c.iri = s.iri), "
    "picked AS (SELECT *, row_number() OVER (PARTITION BY url, pos ORDER BY score DESC, iri ASC) AS _prn "
    "FROM scored QUALIFY _prn = 1), "
    "linked AS (SELECT p.url, canon.canonical_iri, count(*) AS n_mentions, min(p.pos) AS first_pos "
    "FROM picked p JOIN canon ON p.iri = canon.iri GROUP BY p.url, canon.canonical_iri)"
)


def _dict_triples_values() -> str:
    """The dictionary graph's triples as literal VALUES (constants)."""
    rows = []
    g = I.DICTIONARY_GRAPH
    q = fixtures._sql_quote
    canon = fixtures.canonical_map_py()
    for iri, etype, pref, alts, hiddens, xs in fixtures.ENTITIES:
        rows.append((g, iri, I.RDF_TYPE, I.TYPE_IRIS[etype], True, None))
        rows.append((g, iri, I.PREF_LABEL, pref, False, I.XSD_STRING))
        rows.extend((g, iri, I.ALT_LABEL, a, False, I.XSD_STRING) for a in alts)
        rows.extend((g, iri, I.HIDDEN_LABEL, h, False, I.XSD_STRING) for h in hiddens)
        rows.extend((g, iri, I.SAME_AS, x, True, None) for x in xs)
        rows.append((g, iri, I.P_CANONICAL, canon[iri], True, None))
    vals = ", ".join(
        "(%s, %s, %s, %s, %s, %s)"
        % (q(r[0]), q(r[1]), q(r[2]), q(r[3]), "TRUE" if r[4] else "FALSE",
           "NULL" if r[5] is None else q(r[5]))
        for r in rows
    )
    return (
        f"SELECT * FROM (VALUES {vals}) AS "
        "t(graph, subject, predicate, object, object_is_iri, object_datatype)"
    )


_BNODE = "'_:' || substr(sha256(url || '|' || canonical_iri), 1, 32)"


def _compact_py(iri: str) -> str:
    """Python mirror of functions.iri.compact_iri (longest-prefix match)."""
    for p, ns in sorted(I.PREFIXES, key=lambda kv: -len(kv[1])):
        if iri.startswith(ns):
            return p + ":" + iri[len(ns):]
    return iri


def _curie_values_sql() -> str:
    """Expected (iri, curie, roundtrip) rows for the dictionary graph's
    predicate vocabulary — independent golden for the CURIE machinery."""
    preds = sorted(
        {I.RDF_TYPE, I.PREF_LABEL, I.P_CANONICAL, I.SAME_AS}
        | ({I.ALT_LABEL} if any(e[3] for e in fixtures.ENTITIES) else set())
        | ({I.HIDDEN_LABEL} if any(e[4] for e in fixtures.ENTITIES) else set())
    )
    q = fixtures._sql_quote
    vals = ", ".join(f"({q(p)}, {q(_compact_py(p))}, {q(p)})" for p in preds)
    return f"SELECT * FROM (VALUES {vals}) AS t(iri, curie, roundtrip)"

_TRIPLES_SQL = f"""
WITH {_PAGES}, {_HEADS}, {_LIVE}, {_ALIAS}, {_CANON}, {_TOKS}, {_LINKED}
SELECT graph, subject, predicate, object, object_is_iri, object_datatype FROM (
  SELECT url AS graph, url AS subject, '{I.RDF_TYPE}' AS predicate,
         '{I.C_WEBPAGE}' AS object, TRUE AS object_is_iri, NULL AS object_datatype FROM live
  UNION ALL
  SELECT url, url, '{I.P_LANG}', lang, FALSE, '{I.XSD_STRING}' FROM live
  UNION ALL
  SELECT url, url, '{I.P_MENTIONS}', canonical_iri, TRUE, NULL FROM linked
  UNION ALL
  SELECT url, url, '{I.P_HAS_MENTION}', {_BNODE}, TRUE, NULL FROM linked
  UNION ALL
  SELECT url, {_BNODE}, '{I.RDF_TYPE}', '{I.C_MENTION}', TRUE, NULL FROM linked
  UNION ALL
  SELECT url, {_BNODE}, '{I.P_CANONICAL}', canonical_iri, TRUE, NULL FROM linked
  UNION ALL
  SELECT url, {_BNODE}, '{I.P_POSITION}', CAST(first_pos AS VARCHAR), FALSE, '{I.XSD_INTEGER}' FROM linked
  UNION ALL
  SELECT * FROM ({_dict_triples_values()})
)
"""

# versioned-docs (pages sans tombstones) for dedup oracles
_VDOCS = (
    "vdocs AS (SELECT doc_id * 10 + version AS doc_id, text FROM pages WHERE NOT tombstone)"
)


def _shingle_sql(src: str, k: int = 3) -> str:
    return (
        f"stoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {src}), "
        f"sh0 AS (SELECT doc_id, unnest(list_transform(range(greatest(len(t)-{k-1},1)), "
        f"i -> array_to_string(list_slice(t, i+1, i+{k}), ' '))) AS shingle FROM stoks), "
        "sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE len(shingle) > 0)"
    )


def _minhash_sql(n_hashes: int) -> str:
    hs = ", ".join(f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(n_hashes))
    return f"sigs AS (SELECT doc_id, {hs} FROM sh GROUP BY doc_id)"


_JACCARD_PAIRS = (
    "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
    "pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM sh a JOIN sh b "
    "ON a.shingle = b.shingle AND a.doc_id < b.doc_id), "
    "inter AS (SELECT p.id_a, p.id_b, count(*) AS n_inter FROM pairs p "
    "JOIN sh a ON a.doc_id = p.id_a JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle "
    "GROUP BY p.id_a, p.id_b), "
    "jac AS (SELECT i.id_a, i.id_b, round(CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter), 6) AS jaccard "
    "FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b)"
)

_GEO_TRIPLES = """
geo AS (
  SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR) AS s, ':name' AS p, n_name AS o FROM nation
  UNION ALL
  SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR), ':in-region', 'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation
  UNION ALL
  SELECT 'urn:region:' || CAST(r_regionkey AS VARCHAR), ':name', r_name FROM region
  UNION ALL
  SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR), ':name', c_name FROM customer
  UNION ALL
  SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR), ':in-nation', 'urn:nation:' || CAST(c_nationkey AS VARCHAR) FROM customer
  UNION ALL
  SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR), ':balance', CAST(c_acctbal AS VARCHAR) FROM customer
  UNION ALL
  SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR), ':segment', c_mktsegment FROM customer
)"""

def _pagerank_sql(n_iter: int = 5, damping: float = 0.85) -> str:
    """Unrolled power-iteration PageRank mirroring graphstats.pagerank:
    same per-iteration 9dp rounding, same double-typed constants (the
    teleport term is rounded at 12dp on both sides so DuckDB's
    decimal-exact literals cannot drift from Spark's doubles)."""
    d = f"CAST({damping} AS DOUBLE)"
    ctes = [
        "e AS (SELECT DISTINCT s AS src, o AS dst FROM geo "
        "WHERE p IN (':in-nation', ':in-region'))",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nstat AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1)",
        "links AS (SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src))",
        "pr0 AS (SELECT node, round(CAST(1.0 AS DOUBLE) / (SELECT n FROM nstat), 9) "
        "AS rank FROM nodes)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"c{i} AS (SELECT dst, sum(rank / outdeg) AS inflow FROM links "
            f"JOIN pr{i-1} ON pr{i-1}.node = links.src GROUP BY 1)"
        )
        ctes.append(
            f"pr{i} AS (SELECT nodes.node, round("
            f"round((CAST(1.0 AS DOUBLE) - {d}) / (SELECT n FROM nstat), 12) "
            f"+ {d} * coalesce(c{i}.inflow, CAST(0.0 AS DOUBLE)), 9) AS rank "
            f"FROM nodes LEFT JOIN c{i} ON c{i}.dst = nodes.node)"
        )
    return (
        "WITH " + _GEO_TRIPLES.strip() + ",\n"
        + ",\n".join(ctes)
        + f"\nSELECT node, round(rank, 6) AS rank FROM pr{n_iter}"
    )


def _XESC(expr: str) -> str:
    """XML-escape a SQL expression — mirrors serialize._xml_escape
    (same replace order: & < > \" CR LF)."""
    return (
        f"replace(replace(replace(replace(replace(replace({expr}, '&', '&amp;'), "
        "'<', '&lt;'), '>', '&gt;'), '\"', '&quot;'), "
        "chr(13), '&#13;'), chr(10), '&#10;')"
    )


# curation-assertion view shared by cur_affiliations / cur_genetic_conditions
# (mirrors plans/curation.py curation_assertions)
_CUR_ASSERTIONS = """
cura AS (
  SELECT 'urn:curation:' || CAST(event_id AS VARCHAR) AS assertion,
         'urn:gene:' || CAST(user_id % 20 AS VARCHAR) AS gene,
         'urn:disease:' || CAST(user_id % 7 AS VARCHAR) AS disease,
         event_type AS moi,
         'urn:aff:' || CAST(user_id % 10 AS VARCHAR) AS affiliation,
         ts, event_id
  FROM events
)"""

_ORDER_TRIPLES = """
otr AS (
  SELECT 'urn:order:' || CAST(o_orderkey AS VARCHAR) AS s, ':by-customer' AS p,
         'urn:customer:' || CAST(o_custkey AS VARCHAR) AS o FROM orders
)"""


# curation-activity fragments shared by cur_activities + cur_suggest_infix
_CUR_TAGGED = f"""genes AS (SELECT DISTINCT subject AS gene FROM t
          WHERE predicate = '{I.RDF_TYPE}' AND object = '{I.TYPE_IRIS["gene"]}'),
men AS (SELECT DISTINCT object AS gene FROM t WHERE predicate = '{I.P_MENTIONS}'),
co AS (SELECT DISTINCT mg.object AS gene
       FROM t mg JOIN t md ON mg.subject = md.subject AND md.predicate = '{I.P_MENTIONS}'
       JOIN t ty ON md.object = ty.subject AND ty.predicate = '{I.RDF_TYPE}'
                AND ty.object = '{I.TYPE_IRIS["disease"]}'
       WHERE mg.predicate = '{I.P_MENTIONS}'),
al AS (SELECT DISTINCT subject AS gene FROM t
       WHERE predicate IN ('{I.ALT_LABEL}', '{I.HIDDEN_LABEL}')),
tagged AS (SELECT gene, 'MENTIONED' AS activity FROM men
           UNION ALL SELECT gene, 'CO_CURATED' FROM co
           UNION ALL SELECT gene, 'HAS_ALIAS' FROM al)"""

_CUR_ACTS_SELECT = """SELECT g.gene,
  coalesce(bool_or(activity = 'MENTIONED'), false) AS mentioned,
  coalesce(bool_or(activity = 'CO_CURATED'), false) AS co_curated,
  coalesce(bool_or(activity = 'HAS_ALIAS'), false) AS has_alias
FROM genes g LEFT JOIN tagged USING (gene) GROUP BY g.gene"""




def _curie_case_sql(col: str) -> str:
    """SQL mirror of functions.iri.compact_iri: the same chained-CASE
    construction order (longest prefix innermost), so nesting semantics
    are identical even if prefixes ever overlap."""
    q = fixtures._sql_quote
    expr = col
    for p, ns in sorted(I.PREFIXES, key=lambda kv: -len(kv[1])):
        expr = (
            f"CASE WHEN starts_with({col}, {q(ns)}) "
            f"THEN {q(p + ':')} || substr({col}, {len(ns) + 1}) ELSE ({expr}) END"
        )
    return expr


def _text_scrub_sql() -> str:
    """DuckDB mirror of q_text_scrub: same injected PII, same pattern
    list applied in the same order (patterns are RE2/Java-portable by
    construction — see textstats.PII_PATTERNS)."""
    from genegraph_spark.functions.textstats import PII_PATTERNS

    q = fixtures._sql_quote
    scrub = "text"
    count_exprs = []
    for name, pat in PII_PATTERNS:
        # priority-aware counts: pattern i counted on text with patterns
        # <i already masked (mirrors textstats.pii_counts)
        count_exprs.append(
            f"coalesce(len(regexp_extract_all({scrub}, {q(pat)})), 0) AS n_{name}"
        )
        scrub = f"regexp_replace({scrub}, {q(pat)}, {q('<' + name.upper() + '>')}, 'g')"
    counts = ", ".join(count_exprs)
    return f"""
WITH base AS (SELECT doc_id,
  CASE WHEN doc_id % 7 = 0
       THEN text || ' contact bob@example.com or 555-123-4567 via 10.0.0.1'
       ELSE text END AS text
  FROM documents)
SELECT doc_id, {scrub} AS scrubbed, {counts} FROM base"""


def _gdm_chain_oracle() -> str:
    """kg_gdm_chain oracle: the single-curation golden (107 non-bnode
    rows, suffix '@'-parameterized) cross-joined with the events-derived
    suffix classes — the same rename the Spark side applies. The golden
    is pinned from a verified run; its validity rests on
    TestFullGdmChain's HAND-DERIVED assertions over the same chain and
    the corpus==single-run isomorphism test (rename equivariance), both
    in tests/test_gdm_chain.py."""
    return """
WITH sufs AS (
  SELECT DISTINCT '-c' || CAST(event_id % 5 AS VARCHAR) AS s FROM events),
base(subject, predicate, object, object_is_iri, object_datatype) AS (VALUES
  ('http://dataexchange.clinicalgenome.org/gci/cls1@', 'http://dataexchange.clinicalgenome.org/terms/website_legacy_id', 'http://dataexchange.clinicalgenome.org/gci/assertion_cls1@-2020-05-01T123000', TRUE, CAST(NULL AS VARCHAR)),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@', 'http://purl.obolibrary.org/obo/SEPIO_0000041', 'http://purl.obolibrary.org/obo/SEPIO_0004094', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@', 'http://purl.obolibrary.org/obo/SEPIO_0000132', 'http://dataexchange.clinicalgenome.org/gcixform/Moderate', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@', 'http://purl.obolibrary.org/obo/SEPIO_0000159', 'http://dataexchange.clinicalgenome.org/gci/cls1@_contrib', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/cls1@_auto_classification', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/cls1@_experimental_evidence_line', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/cls1@_overall_genetic_evidence_line', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@', 'http://purl.obolibrary.org/obo/SEPIO_0000388', 'http://dataexchange.clinicalgenome.org/gci/gdm1@', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@', 'http://purl.obolibrary.org/obo/SEPIO_0000389', 'http://purl.obolibrary.org/obo/SEPIO_0000146', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@', 'http://purl.obolibrary.org/obo/SEPIO_0000390', 'http://dataexchange.clinicalgenome.org/gcixform/Moderate', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@', 'http://purl.obolibrary.org/obo/SEPIO_0000429', '12.5', FALSE, 'xsd:decimal'),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@', 'http://purl.obolibrary.org/obo/SEPIO_0004162', 'https://pubmed.ncbi.nlm.nih.gov/31001', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@', 'http://purl.org/dc/terms/description', 'Curated summary', FALSE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004002', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_ad_dn_el', 'http://purl.obolibrary.org/obo/SEPIO_0000429', '0', FALSE, 'xsd:integer'),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_ad_dn_el', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004009', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_ad_null_el', 'http://purl.obolibrary.org/obo/SEPIO_0000429', '0', FALSE, 'xsd:integer'),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_ad_null_el', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004010', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_ad_other_el', 'http://purl.obolibrary.org/obo/SEPIO_0000429', '0', FALSE, 'xsd:integer'),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_ad_other_el', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004011', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_ar_el', 'http://purl.obolibrary.org/obo/SEPIO_0000429', '6', FALSE, 'xsd:integer'),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_ar_el', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004008', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_auto_classification', 'http://purl.obolibrary.org/obo/SEPIO_0000132', 'http://dataexchange.clinicalgenome.org/gcixform/Moderate', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_auto_classification', 'http://purl.obolibrary.org/obo/SEPIO_0000388', 'http://dataexchange.clinicalgenome.org/gci/gdm1@', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_auto_classification', 'http://purl.obolibrary.org/obo/SEPIO_0000389', 'http://purl.obolibrary.org/obo/SEPIO_0000146', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_auto_classification', 'http://purl.obolibrary.org/obo/SEPIO_0000390', 'http://dataexchange.clinicalgenome.org/gcixform/Moderate', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_auto_classification', 'http://purl.obolibrary.org/obo/SEPIO_0000429', '12.5', FALSE, 'xsd:decimal'),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_auto_classification', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004098', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_cc_el', 'http://purl.obolibrary.org/obo/SEPIO_0000429', '0', FALSE, 'xsd:integer'),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_cc_el', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004007', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_contrib', 'http://purl.obolibrary.org/obo/BFO_0000055', 'http://purl.obolibrary.org/obo/SEPIO_0000155', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_contrib', 'http://purl.obolibrary.org/obo/SEPIO_0000017', 'http://dataexchange.clinicalgenome.org/agent/10015@', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_contrib', 'http://purl.obolibrary.org/obo/SEPIO_0000160', '2020-05-01T12:30:00', FALSE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_experimental_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/cls1@_functional_alteration_evidence_line', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_experimental_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/cls1@_functional_evidence_line', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_experimental_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/cls1@_model_rescue_evidence_line', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_experimental_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000429', '4', FALSE, 'xsd:integer'),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_experimental_evidence_line', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004006', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_functional_alteration_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000429', '1', FALSE, 'xsd:integer'),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_functional_alteration_evidence_line', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004014', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_functional_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000429', '2', FALSE, 'xsd:integer'),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_functional_evidence_line', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004013', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_model_rescue_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000429', '1', FALSE, 'xsd:integer'),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_model_rescue_evidence_line', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004015', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_overall_genetic_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/cls1@_ad_dn_el', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_overall_genetic_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/cls1@_ad_null_el', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_overall_genetic_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/cls1@_ad_other_el', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_overall_genetic_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/cls1@_ar_el', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_overall_genetic_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/cls1@_cc_el', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_overall_genetic_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/cls1@_seg_el', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_overall_genetic_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/ind1@_proband_score_evidence_line', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_overall_genetic_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000429', '8.5', FALSE, 'xsd:decimal'),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_overall_genetic_evidence_line', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004005', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_seg_el', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/fam1@_family_segregation', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_seg_el', 'http://purl.obolibrary.org/obo/SEPIO_0000429', '0', FALSE, 'xsd:integer'),
  ('http://dataexchange.clinicalgenome.org/gci/cls1@_seg_el', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004012', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/fam1@', 'http://www.w3.org/2000/01/rdf-schema#label', 'Family 1', FALSE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/fam1@', 'rdf:type', 'http://purl.obolibrary.org/obo/PCO_0000020', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/fam1@_family_segregation', 'http://purl.obolibrary.org/obo/SEPIO_0000282', 'http://dataexchange.clinicalgenome.org/gci/fam1@', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/fam1@_family_segregation', 'http://purl.obolibrary.org/obo/SEPIO_0004125', '3.2', FALSE, 'xsd:decimal'),
  ('http://dataexchange.clinicalgenome.org/gci/fam1@_family_segregation', 'http://purl.org/dc/terms/source', 'https://pubmed.ncbi.nlm.nih.gov/31001', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/fam1@_family_segregation', 'http://www.w3.org/2000/01/rdf-schema#label', 'Family 1', FALSE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/fam1@_family_segregation', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0000247', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/gdm1@', 'http://purl.obolibrary.org/obo/SEPIO_0000144', 'http://purl.obolibrary.org/obo/HP_0000007', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/gdm1@', 'http://purl.obolibrary.org/obo/SEPIO_0000388', 'https://www.ncbi.nlm.nih.gov/gene/672@', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/gdm1@', 'http://purl.obolibrary.org/obo/SEPIO_0000389', 'http://purl.obolibrary.org/obo/RO_0004013', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/gdm1@', 'http://purl.obolibrary.org/obo/SEPIO_0000390', 'http://dataexchange.clinicalgenome.org/gci/mondo1@', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/gdm1@', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004001', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/ind1@', 'http://purl.obolibrary.org/obo/SEPIO_0000275', 'http://dataexchange.clinicalgenome.org/gci/var1@', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/ind1@', 'http://purl.obolibrary.org/obo/SEPIO_0004129', 'http://dataexchange.clinicalgenome.org/gci/vs1@_variant_evidence_item', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/ind1@', 'http://purl.obolibrary.org/obo/SEPIO_0004129', 'http://dataexchange.clinicalgenome.org/gci/vs2@_variant_evidence_item', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/ind1@', 'http://www.w3.org/2000/01/rdf-schema#label', 'Proband 1', FALSE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/ind1@', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004081', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/ind1@_proband_score_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/ind1@', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/ind1@_proband_score_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/vs1@', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/ind1@_proband_score_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/vs2@', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/ind1@_proband_score_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0000429', '3', FALSE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/ind1@_proband_score_evidence_line', 'http://purl.obolibrary.org/obo/SEPIO_0004130', 'Score', FALSE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/ind1@_proband_score_evidence_line', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004174', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/var1@', 'http://www.w3.org/2004/02/skos/core#prefLabel', 'NM_7:c.1A>T', FALSE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/var1@', 'https://terms.ga4gh.org/CanonicalReference', 'http://reg.genome.network/allele/CA123', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/var1@', 'rdf:type', 'https://terms.ga4gh.org/VariationDescriptor', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/vs1@', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/vs1@_variant_evidence_item', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/vs1@', 'http://purl.obolibrary.org/obo/SEPIO_0000429', '1.0', FALSE, 'xsd:decimal'),
  ('http://dataexchange.clinicalgenome.org/gci/vs1@', 'http://purl.obolibrary.org/obo/SEPIO_0004128', '1.5', FALSE, 'xsd:decimal'),
  ('http://dataexchange.clinicalgenome.org/gci/vs1@', 'http://purl.obolibrary.org/obo/SEPIO_0004130', 'Score', FALSE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/vs1@', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004120', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/vs1@_variant_evidence_item', 'http://purl.obolibrary.org/obo/GENO_0000608', 'http://purl.obolibrary.org/obo/GENO_0000135', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/vs1@_variant_evidence_item', 'http://purl.obolibrary.org/obo/GENO_0000877', 'http://purl.obolibrary.org/obo/GENO_0000888', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/vs1@_variant_evidence_item', 'http://purl.obolibrary.org/obo/SEPIO_0000275', 'http://dataexchange.clinicalgenome.org/gci/var1@', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/vs1@_variant_evidence_item', 'http://purl.org/dc/terms/source', 'https://pubmed.ncbi.nlm.nih.gov/31001', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/vs1@_variant_evidence_item', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004117', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/vs2@', 'http://purl.obolibrary.org/obo/SEPIO_0000189', 'http://dataexchange.clinicalgenome.org/gci/vs2@_variant_evidence_item', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/vs2@', 'http://purl.obolibrary.org/obo/SEPIO_0000429', '2.0', FALSE, 'xsd:decimal'),
  ('http://dataexchange.clinicalgenome.org/gci/vs2@', 'http://purl.obolibrary.org/obo/SEPIO_0004128', '2.0', FALSE, 'xsd:decimal'),
  ('http://dataexchange.clinicalgenome.org/gci/vs2@', 'http://purl.obolibrary.org/obo/SEPIO_0004130', 'Score', FALSE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/vs2@', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004121', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/vs2@_variant_evidence_item', 'http://purl.obolibrary.org/obo/GENO_0000608', 'http://purl.obolibrary.org/obo/GENO_0000135', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/vs2@_variant_evidence_item', 'http://purl.obolibrary.org/obo/GENO_0000877', 'http://purl.obolibrary.org/obo/GENO_0000888', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/vs2@_variant_evidence_item', 'http://purl.obolibrary.org/obo/SEPIO_0000275', 'http://dataexchange.clinicalgenome.org/gci/var1@', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/vs2@_variant_evidence_item', 'http://purl.org/dc/terms/source', 'https://pubmed.ncbi.nlm.nih.gov/31001', TRUE, NULL),
  ('http://dataexchange.clinicalgenome.org/gci/vs2@_variant_evidence_item', 'rdf:type', 'http://purl.obolibrary.org/obo/SEPIO_0004118', TRUE, NULL),
  ('https://pubmed.ncbi.nlm.nih.gov/31001', 'http://purl.obolibrary.org/obo/SEPIO_0004160', 'false', FALSE, 'xsd:boolean'),
  ('https://pubmed.ncbi.nlm.nih.gov/31001', 'http://purl.org/dc/terms/creator', 'Kim J', FALSE, NULL),
  ('https://pubmed.ncbi.nlm.nih.gov/31001', 'http://purl.org/dc/terms/date', '2019', FALSE, NULL),
  ('https://pubmed.ncbi.nlm.nih.gov/31001', 'http://purl.org/dc/terms/title', 'A study', FALSE, NULL),
  ('https://pubmed.ncbi.nlm.nih.gov/31001', 'rdf:type', 'http://purl.org/dc/terms/BibliographicResource', TRUE, NULL))
SELECT 'urn:gdm' || s AS graph,
       replace(subject, '@', s) AS subject,
       replace(predicate, '@', s) AS predicate,
       replace(object, '@', s) AS object,
       object_is_iri, object_datatype
FROM base CROSS JOIN sufs"""


def _dosage_jira_oracle() -> str:
    """DuckDB replica of the dosage JIRA transform: derives the same
    logical fields straight from the events columns (the Spark side
    goes through the JSON round-trip + from_json + instant parsing, so
    the derivation chains are genuinely independent) and UNION ALLs one
    SELECT per triple pattern."""
    from genegraph_spark.sources.dosage_jira import (
        CG_PREFIX, CHR_TO_REF, DEFAULT_MONDO, PUBMED,
    )

    RT, XS, XI = I.RDF_TYPE, I.XSD_STRING, I.XSD_INTEGER
    chr_rows = ", ".join(
        f"('{c}', '{CHR_TO_REF['grch37'][c]}', '{CHR_TO_REF['grch38'][c]}')"
        for c in CHR_TO_REF["grch37"]
    )

    def bn(*parts: str) -> str:
        arg = " || '|' || ".join(parts)
        return f"'_:' || substr(sha256({arg}), 1, 32)"

    cte = f"""
WITH dj AS (
  SELECT event_id AS e, user_id AS u,
         'ISCA-' || CAST(event_id AS VARCHAR) AS k,
         CASE WHEN event_id % 2 = 0
              THEN date_trunc('second', ts) + INTERVAL 4 HOUR
              ELSE date_trunc('second', ts) - INTERVAL 1 HOUR END AS rts,
         CASE WHEN event_id % 3 = 0 THEN '.120' ELSE '' END AS mil
  FROM events
  WHERE event_id % 13 <> 0 AND event_id % 17 <> 0),
chrmap(chrom, ref37, ref38) AS (SELECT * FROM (VALUES {chr_rows})),
d2 AS (
  SELECT dj.*,
    strftime(rts, '%Y-%m-%dT%H:%M:%S') || mil || 'Z' AS ri,
    strftime(rts + INTERVAL 1 DAY, '%Y-%m-%dT%H:%M:%S') || mil || 'Z' AS ui,
    CASE WHEN u % 3 <> 0
         THEN 'https://www.ncbi.nlm.nih.gov/gene/' || CAST(u AS VARCHAR)
    END AS gene,
    '{CG_PREFIX}' || k AS base,
    '{CG_PREFIX}region-' || k AS region,
    CASE WHEN u % 24 = 22 THEN 'X' WHEN u % 24 = 23 THEN 'Y'
         ELSE CAST(u % 24 + 1 AS VARCHAR) END AS chrom
  FROM dj),
d4 AS (
  SELECT d2.*,
    base || '-' || ui AS report,
    '{CG_PREFIX}contribution-' || k || '-' || ui AS contrib,
    COALESCE(gene, region) AS subj,
    ref37, ref38,
    base || 'x1-' || ui AS a1, base || 'x1' AS p1,
    base || 'x3-' || ui AS a3, base || 'x3' AS p3,
    {bn('k', "'variant'", "'1'")} AS vb1,
    {bn('k', "'variant'", "'3'")} AS vb3,
    (e % 7 < 6) AS pr1, (e % 5 < 4) AS pr3,
    CASE e % 7 WHEN 0 THEN ':sepio/DosageSufficientEvidence'
               WHEN 1 THEN ':sepio/DosageModerateEvidence'
               WHEN 2 THEN ':sepio/DosageMinimalEvidence'
               WHEN 3 THEN ':sepio/DosageNoEvidence'
               WHEN 4 THEN ':sepio/GeneAssociatedWithAutosomalRecessivePhenotype'
               WHEN 5 THEN ':sepio/DosageSufficientEvidence' END AS lv1,
    CASE e % 5 WHEN 0 THEN ':sepio/DosageSufficientEvidence'
               WHEN 1 THEN ':sepio/DosageNoEvidence'
               WHEN 2 THEN ':sepio/DosageSufficientEvidence'
               WHEN 3 THEN ':sepio/DosageModerateEvidence' END AS lv3,
    (e % 7 = 4) AS sc1,
    CASE WHEN e % 7 = 5 THEN ':geno/BenignForCondition'
         ELSE ':geno/PathogenicForCondition' END AS pd1,
    CASE WHEN e % 5 = 2 THEN ':geno/BenignForCondition'
         ELSE ':geno/PathogenicForCondition' END AS pd3,
    CASE WHEN e % 5 <> 0 THEN 'haplo notes ' || CAST(e AS VARCHAR)
         ELSE '' END AS ds1,
    CASE WHEN e % 4 <> 0 THEN 'triplo notes ' || CAST(e AS VARCHAR)
         ELSE '' END AS ds3,
    COALESCE(CASE WHEN e % 6 = 0 THEN 'MONDO:0000123' END,
             CASE WHEN e % 6 = 1 THEN 'MONDO:0024086' END,
             CASE WHEN e % 3 = 0 THEN 'MONDO:0040003' END,
             '{DEFAULT_MONDO}') AS obj1,
    COALESCE(CASE WHEN e % 5 = 0 THEN 'MONDO:0000456' END,
             CASE WHEN e % 5 = 1 THEN 'MONDO:0024086' END,
             CASE WHEN e % 4 = 0 THEN 'MONDO:0040004' END,
             '{DEFAULT_MONDO}') AS obj3,
    (u % 2 = 0) AS fp_1_0, (u % 3 = 0) AS fp_1_1, (u % 5 = 0) AS fp_3_0,
    {bn('k', "'finding'", "'1'", "'0'")} AS fb_1_0,
    {bn('k', "'finding'", "'1'", "'1'")} AS fb_1_1,
    {bn('k', "'finding'", "'3'", "'0'")} AS fb_3_0,
    '{PUBMED}' || '3100' || CAST(u AS VARCHAR) AS fsrc_1_0,
    '{PUBMED}' || '3200' || CAST(u AS VARCHAR) AS fsrc_1_1,
    '{PUBMED}' || '33' || CAST(u AS VARCHAR) AS fsrc_3_0,
    CASE WHEN u % 4 <> 0 THEN 'finding A ' || CAST(u AS VARCHAR)
         ELSE '' END AS fd_1_0,
    'finding B ' || CAST(u AS VARCHAR) AS fd_1_1,
    'finding C ' || CAST(u AS VARCHAR) AS fd_3_0,
    {bn('k', "'grch37'", "'loc'")} AS lb37,
    {bn('k', "'grch37'", "'interval'")} AS ib37,
    {bn('k', "'grch38'", "'loc'")} AS lb38,
    {bn('k', "'grch38'", "'interval'")} AS ib38,
    (gene IS NULL AND e % 2 = 0) AS on37,
    (gene IS NULL AND e % 3 = 0) AS on38,
    CAST(u * 1000 AS VARCHAR) AS st37,
    CAST((u + 5) * 1000 + 500 AS VARCHAR) AS en37,
    CAST((u + 1) * 1000 AS VARCHAR) AS st38,
    CAST((u + 7) * 1000 AS VARCHAR) AS en38
  FROM d2 JOIN chrmap USING (chrom))
"""

    def q(s, p, o, is_iri, dt=None, cond=None):
        dtv = f"'{dt}'" if dt else "CAST(NULL AS VARCHAR)"
        w = f" WHERE {cond}" if cond else ""
        return (
            f"SELECT base AS graph, {s} AS subject, '{p}' AS predicate, "
            f"{o} AS object, {str(is_iri).upper()} AS object_is_iri, "
            f"{dtv} AS object_datatype FROM d4{w}"
        )

    rows = [
        q("report", RT, "':sepio/GeneDosageReport'", True),
        q("report", ":dc/is-version-of", "base", True),
        q("report", ":sepio/qualified-contribution", "contrib", True),
        q("base", RT, "':sepio/GeneDosageRecord'", True),
        q("contrib", ":sepio/activity-date", "ri", False, XS),
        q("contrib", ":bfo/realizes", "':sepio/InterpreterRole'", True),
        q("report", ":iao/is-about", "gene", True, cond="gene IS NOT NULL"),
        q("report", ":iao/is-about", "region", True, cond="gene IS NULL"),
        q("region", ":rdfs/label", "'region ISCA-' || CAST(e AS VARCHAR)",
          False, XS, cond="gene IS NULL"),
        q("region", RT, "':so/SequenceFeature'", True, cond="gene IS NULL"),
    ]
    for b, ref in (("37", "ref37"), ("38", "ref38")):
        on = f"on{b}"
        rows += [
            q("region", ":geno/has-location", f"lb{b}", True, cond=on),
            q(f"lb{b}", RT, "':geno/SequenceFeatureLocation'", True, cond=on),
            q(f"lb{b}", ":geno/has-reference-sequence", ref, True, cond=on),
            q(f"lb{b}", ":geno/has-interval", f"ib{b}", True, cond=on),
            q(f"ib{b}", RT, "':geno/SequenceInterval'", True, cond=on),
            q(f"ib{b}", ":geno/start-position", f"st{b}", False, XI, cond=on),
            q(f"ib{b}", ":geno/end-position", f"en{b}", False, XI, cond=on),
        ]
    for d in (1, 3):
        pr, a, p, vb = f"pr{d}", f"a{d}", f"p{d}", f"vb{d}"
        rows += [
            q(a, ":sepio/is-specified-by",
              "':sepio/DosageSensitivityEvaluationGuideline'", True, cond=pr),
            q(a, ":sepio/qualified-contribution", "contrib", True, cond=pr),
            q(a, ":sepio/has-subject", p, True, cond=pr),
            q(a, ":dc/description", f"ds{d}", False, XS, cond=pr),
            q(p, RT, "':sepio/DosageSensitivityProposition'", True, cond=pr),
            q(p, ":sepio/has-predicate", f"pd{d}", True, cond=pr),
            q(p, ":sepio/has-subject", vb, True, cond=pr),
            q(p, ":sepio/has-object", f"obj{d}", True, cond=pr),
            q(vb, RT, "':geno/FunctionalCopyNumberComplement'", True, cond=pr),
            q(vb, ":geno/has-member-count", f"'{d}'", False, XI, cond=pr),
            q(vb, ":geno/has-location", "subj", True, cond=pr),
            q("report", ":bfo/has-part", a, True, cond=pr),
        ]
        scope = "sc1" if d == 1 else "FALSE"
        rows += [
            q(a, ":sepio/has-predicate", "':sepio/DosageScopeAssertion'",
              True, cond=f"{pr} AND {scope}"),
            q(a, ":sepio/has-object",
              "':sepio/GeneAssociatedWithAutosomalRecessivePhenotype'",
              True, cond=f"{pr} AND {scope}"),
            q(a, RT, "':sepio/PropositionScopeAssertion'", True,
              cond=f"{pr} AND {scope}"),
            q(a, RT, "':sepio/EvidenceLevelAssertion'", True,
              cond=f"{pr} AND NOT {scope}"),
            q(a, ":sepio/has-predicate", "':sepio/HasEvidenceLevel'", True,
              cond=f"{pr} AND NOT {scope}"),
            q(a, ":sepio/has-object", f"lv{d}", True,
              cond=f"{pr} AND NOT {scope}"),
        ]
    for d, i in ((1, 0), (1, 1), (3, 0)):
        c = f"pr{d} AND fp_{d}_{i}"
        rows += [
            q(f"a{d}", ":sepio/has-evidence", f"fb_{d}_{i}", True, cond=c),
            q(f"fb_{d}_{i}", RT, "':sepio/StudyFinding'", True, cond=c),
            q(f"fb_{d}_{i}", ":dc/source", f"fsrc_{d}_{i}", True, cond=c),
            q(f"fb_{d}_{i}", ":dc/description", f"fd_{d}_{i}", False, XS,
              cond=c),
        ]
    return cte + "\n" + "\nUNION ALL\n".join(rows)


def _actionability_oracle() -> str:
    """DuckDB replica of the actionability transform — fields derived
    straight from events (the Spark side goes through the JSON
    round-trip, from_json, broadcast lookups)."""
    from genegraph_spark.sources.actionability import VOCAB

    RT, XS, XI = I.RDF_TYPE, I.XSD_STRING, I.XSD_INTEGER
    G = "'https://actionability.clinicalgenome.org/ac/doc-' || CAST(e AS VARCHAR)"
    lbl_case = " ".join(
        f"WHEN {i} THEN '{VOCAB[s]}'"
        for i, s in enumerate(fixtures.ACT_ASSERTION_LABELS)
    )

    def bn(*parts: str) -> str:
        arg = " || '|' || ".join(parts)
        return f"'_:' || substr(sha256({arg}), 1, 32)"

    cte = f"""
WITH d2 AS (
  SELECT event_id AS e, user_id AS u,
    {G} AS g,
    {bn(G, "'contrib'")} AS cb,
    CASE WHEN event_id % 2 = 0
      THEN 'http://dataexchange.clinicalgenome.org/terms/PediatricActionabilityWorkingGroup'
      ELSE 'http://dataexchange.clinicalgenome.org/terms/AdultActionabilityWorkingGroup'
    END AS agent,
    strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%S') || 'Z' AS dt,
    '2020-01-0' || CAST(event_id % 9 + 1 AS VARCHAR) AS sd1,
    '2021-02-0' || CAST(event_id % 9 + 1 AS VARCHAR) AS sd2,
    CASE WHEN event_id % 4 = 0
      THEN 'http://purl.obolibrary.org/obo/OMIM_' || CAST(u % 100 + 100000 AS VARCHAR)
      ELSE 'http://purl.obolibrary.org/obo/MONDO_00' || CAST(u % 100 + 10000 AS VARCHAR)
    END AS c1iri,
    CASE WHEN event_id % 4 = 0 AND u % 2 <> 0 THEN NULL
      ELSE 'http://purl.obolibrary.org/obo/MONDO_00' || CAST(u % 100 + 10000 AS VARCHAR)
    END AS mondo1,
    'Condition ' || CAST(u % 100 AS VARCHAR) AS lab1,
    'HGNC:' || CAST(u % 50 + 1000 AS VARCHAR) AS gene1,
    'https://www.ncbi.nlm.nih.gov/gene/' || CAST(u % 50 + 1000 AS VARCHAR) AS giri1,
    'GENE' || CAST(u % 50 + 1000 AS VARCHAR) AS sym1,
    'http://purl.obolibrary.org/obo/MONDO_00' || CAST((u + 1) % 100 + 10000 AS VARCHAR) AS c2iri,
    'Condition ' || CAST((u + 1) % 100 AS VARCHAR) AS lab2,
    'HGNC:' || CAST((u + 1) % 50 + 1000 AS VARCHAR) AS gene2,
    'https://www.ncbi.nlm.nih.gov/gene/' || CAST((u + 1) % 50 + 1000 AS VARCHAR) AS giri2,
    'GENE' || CAST((u + 1) % 50 + 1000 AS VARCHAR) AS sym2
  FROM events WHERE event_id % 11 <> 0 AND event_id % 13 <> 0),
conds AS (
  SELECT d2.*, c1iri AS ciri, mondo1 AS mondo, lab1 AS lab, gene1 AS cgene,
         giri1 AS cgiri, sym1 AS csym, TRUE AS is_c1 FROM d2
  UNION ALL
  SELECT d2.*, c2iri, c2iri, lab2, gene2, giri2, sym2, FALSE FROM d2
  WHERE e % 5 = 0),
asserts AS (
  SELECT e, g, c1iri AS airi, gene1 AS agene, giri1 AS agiri, TRUE AS is_c1,
         CASE u % 6 {lbl_case} END AS pred,
         CASE u % 6 WHEN 0 THEN 'Definitive Actionability'
                    WHEN 1 THEN 'Strong Actionability'
                    WHEN 2 THEN 'Moderate Actionability'
                    WHEN 3 THEN 'Limited Actionability'
                    WHEN 4 THEN 'No Actionability'
                    ELSE 'N/A - Insufficient evidence: expert review' END AS albl
  FROM d2 WHERE e % 3 = 0
  UNION ALL
  SELECT e, g, ciri, cgene, cgiri, is_c1,
         CASE WHEN e % 7 = 0 THEN '{VOCAB["Insufficient Evidence"]}'
              ELSE '{VOCAB["Assertion Pending"]}' END,
         CASE WHEN e % 7 = 0 THEN 'Insufficient Evidence'
              ELSE 'Assertion Pending' END
  FROM conds WHERE e % 3 <> 0),
a2 AS (
  SELECT asserts.*, {bn('g', "'assert'", 'airi', 'agene', 'albl')} AS ab
  FROM asserts),
gc AS (
  SELECT conds.*, {bn('g', "'gc'", 'ciri', 'cgene')} AS gcb
  FROM conds WHERE mondo IS NOT NULL),
totals AS (
  SELECT DISTINCT g, CAST(v AS VARCHAR) AS tv
  FROM d2, UNNEST(list_concat([u % 12, u % 5],
                              CASE WHEN e % 6 = 0 THEN [0]
                                   ELSE [] END)) AS t(v)),
searches AS (
  SELECT d2.*, sd1 AS sd, {bn('g', "'search'", 'sd1', "'0'")} AS sb FROM d2
  UNION ALL
  SELECT d2.*, sd2, {bn('g', "'search'", 'sd2', "'1'")} FROM d2
  WHERE e % 2 = 0)
"""

    def q(src, s, p, o, is_iri, dt=None, cond=None):
        dtv = f"'{dt}'" if dt else "CAST(NULL AS VARCHAR)"
        w = f" WHERE {cond}" if cond else ""
        return (
            f"SELECT g AS graph, {s} AS subject, '{p}' AS predicate, "
            f"{o} AS object, {str(is_iri).upper()} AS object_is_iri, "
            f"{dtv} AS object_datatype FROM {src}{w}"
        )

    rows = [
        q("d2", "g", RT, "':sepio/ActionabilityReport'", True),
        q("d2", "g", ":sepio/qualified-contribution", "cb", True),
        q("d2", "g", ":dc/source",
          "'https://ac.example/doc/' || CAST(e AS VARCHAR)", False, XS),
        q("d2", "g", ":dc/has-version",
          "'1.' || CAST(e % 5 AS VARCHAR)", False, XS),
        q("d2", "g", ":rdfs/label", "'AC doc ' || CAST(e AS VARCHAR)",
          False, XS),
        q("d2", "cb", ":sepio/activity-date", "dt", False, XS),
        q("d2", "cb", ":bfo/realizes", "':sepio/ApproverRole'", True),
        q("d2", "cb", ":sepio/has-agent", "agent", True),
        q("searches", "g", ":sepio/qualified-contribution", "sb", True),
        q("searches", "sb", ":sepio/activity-date", "sd", False, XS),
        q("searches", "sb", ":bfo/realizes", "':sepio/EvidenceRole'", True),
        q("searches", "sb", ":sepio/has-agent", "agent", True),
        q("totals", "g", ":cg/has-total-actionability-score", "tv", False, XI),
        q("gc", "g", ":sepio/is-about-condition", "gcb", True),
        q("gc", "gcb", RT, "':sepio/GeneticCondition'", True),
        q("gc", "gcb", RT, "':cg/ActionabilityGeneticCondition'", True),
        q("gc", "gcb", ":rdfs/sub-class-of", "mondo", True),
        q("gc", "gcb", ":sepio/is-about-gene", "cgiri", True),
        q("gc", "gcb", ":rdfs/label", "lab || ', ' || csym", False, XS),
        q("a2", "g", ":bfo/has-part", "ab", True),
        q("a2", "ab", RT, "':sepio/ActionabilityAssertion'", True),
        q("a2", "ab", ":sepio/has-subject", "agiri", True),
        q("a2", "ab", ":sepio/has-predicate", "pred", True),
        q("a2", "ab", ":sepio/has-object", "airi", True),
        q("a2", "ab", RT, "':cg/ActionabilityAssertionForPreferredCondition'",
          True, cond="e % 2 = 0 AND is_c1"),
    ]
    return cte + "\n" + "\nUNION ALL\n".join(rows)


# Shared DuckDB CTEs re-deriving the ClinVar JSON-LD fixture base sets
# (fixtures.clinvar_*_messages) from events with the same modular
# arithmetic — no JSON parsing oracle-side (house fixture policy).
_CV_CTES = """
genes_base AS (
  SELECT DISTINCT user_id % 25 AS gid, event_id % 3 AS gv
  FROM events WHERE event_id % 7 < 3),
gene_rows AS (
  SELECT gid, '2024-01-0' || CAST(gv + 1 AS VARCHAR) AS grd,
         'SYM' || CAST(gid AS VARCHAR) AS symbol,
         'gene ' || CAST(gid AS VARCHAR) || ' r'
           || CAST(gv + 1 AS VARCHAR) AS full_name,
         CASE WHEN gid % 3 = 0 THEN list_extract(
                ['HGNC:11110','HGNC:950','HGNC:1100','HGNC:1101','HGNC:1133'],
                CAST((gid // 3) % 5 AS INT) + 1)
              ELSE 'HGNC:' || CAST(gid + 9000 AS VARCHAR) END AS hgnc_id
  FROM genes_base),
vars_base AS (
  SELECT DISTINCT user_id % 50 AS vid, event_id % 4 AS vv
  FROM events WHERE event_id % 5 < 2),
var_rows AS (
  SELECT vid, '2024-02-0' || CAST(vv + 1 AS VARCHAR) AS vrd,
         'variant ' || CAST(vid AS VARCHAR) || ' r'
           || CAST(vv + 1 AS VARCHAR) AS vname,
         list_extract(['SimpleAllele','Haplotype','Genotype'],
                      CAST(vid % 3 AS INT) + 1) AS subclass_type,
         list_extract(['Deletion','Duplication','single nucleotide variant'],
                      CAST(vid % 3 AS INT) + 1) AS variation_type
  FROM vars_base),
var_ids AS (SELECT DISTINCT vid FROM vars_base),
assoc AS (
  SELECT vid, vid % 25 AS gid FROM var_ids
  UNION ALL
  SELECT vid, (vid + 7) % 25 AS gid FROM var_ids WHERE vid % 2 = 0),
arch_base AS (
  SELECT DISTINCT user_id % 40 AS aid, (event_id // 3) % 3 AS av
  FROM events WHERE event_id % 3 = 0),
arch_rows AS (
  SELECT aid, '2024-03-0' || CAST(av * 2 + 1 AS VARCHAR) AS ard,
         CAST((aid * 3) % 50 AS VARCHAR) AS a_variation_id
  FROM arch_base),
scv_base AS (
  SELECT DISTINCT user_id % 60 AS sid, event_id % 2 AS sv
  FROM events WHERE event_id % 4 < 2),
scv_rows AS (
  SELECT sid, '2024-03-0' || CAST(sv * 3 + 2 AS VARCHAR) AS srd,
         CAST(sid % 50 AS BIGINT) AS s_variation_id,
         sid % 40 AS s_aid,
         list_extract(
           ['Pathogenic','drug response','risk factor','association','Benign'],
           CAST(sid % 5 AS INT) + 1) AS clinsig,
         list_extract(
           ['practice guideline','reviewed by expert panel',
            'criteria provided, single submitter','no assertion provided'],
           CAST(sid % 4 AS INT) + 1) AS review
  FROM scv_base)
"""

_CV_CG = "http://dataexchange.clinicalgenome.org/terms/"
_CV_VA = _CV_CG + "clinvar.variation_archive/"
_CV_GENE = _CV_CG + "clinvar.gene/"
_CV_VAR = "https://identifiers.org/clinvar:"
_CV_SUB = "https://identifiers.org/clinvar.submission:"


def _bpe_oracle(n_merges: int, encode: bool = False) -> str:
    """Unrolled DuckDB replica of functions/bpe.bpe_merges: the same
    word-count base, N pair-count/argmax/merge iterations (tie-break
    count DESC, pair ASC), and the same double-space-boundary literal
    replace, so both engines walk identical merge sequences.

    ``encode=True`` returns the post-merge tokenization of the word
    table instead of the merge list (the functions/bpe.encode_words
    replica)."""
    parts = [
        """
w AS (SELECT lower(tok) AS word, count(*) AS n
      FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY 1),
seq0 AS (SELECT word, array_to_string(string_split(word, ''), '  ')
                || '  </w>' AS seq, n
         FROM w)"""
    ]
    for k in range(n_merges):
        parts.append(f""",
pc{k} AS (
  SELECT list_extract(toks, i) || ' ' || list_extract(toks, i + 1) AS pair,
         CAST(sum(n) AS BIGINT) AS cnt
  FROM (SELECT string_split(seq, '  ') AS toks, n,
               unnest(generate_series(1, len(string_split(seq, '  ')) - 1))
                 AS i
        FROM seq{k})
  GROUP BY 1),
best{k} AS (SELECT pair, cnt FROM pc{k} ORDER BY cnt DESC, pair ASC LIMIT 1),
seq{k + 1} AS (
  SELECT s.word, trim(replace(' ' || s.seq || ' ',
                      ' ' || replace(b.pair, ' ', '  ') || ' ',
                      ' ' || replace(b.pair, ' ', '') || ' ')) AS seq, n
  FROM seq{k} s, best{k} b)""")
    if encode:
        final = (
            f"SELECT word, n,"
            f" CAST(len(string_split(seq, '  ')) AS BIGINT) AS n_subwords,"
            f" replace(seq, '  ', ' ') AS subwords FROM seq{n_merges}"
        )
    else:
        final = "\nUNION ALL\n".join(
            f"SELECT CAST({k} AS INT) AS rank,"
            f" string_split(pair, ' ')[1] AS \"left\","
            f" string_split(pair, ' ')[2] AS \"right\","
            f" replace(pair, ' ', '') AS merged, cnt AS pair_count"
            f" FROM best{k}"
            for k in range(n_merges)
        )
    return "WITH " + "".join(parts) + "\n" + final


def _cv_jsonld_oracles() -> dict[str, str]:
    """DuckDB replicas of the ClinVar JSON-LD tier: two hash-exact
    triple emissions, the classification-context binning, and the five
    graphql/clinvar resolver queries (which the Spark side runs as
    VERBATIM SPARQL over the union model)."""
    RT = I.RDF_TYPE
    XS = I.XSD_STRING
    PREF = "http://www.w3.org/2004/02/skos/core#prefLabel"
    SO_GENE = "http://purl.obolibrary.org/obo/SO_0000704"
    SEPIO = "http://purl.obolibrary.org/obo/SEPIO_"

    def bn(*parts: str) -> str:
        sep = " || '|' || "
        return f"'_:' || substr(sha256({sep.join(parts)}), 1, 32)"

    def q(src, g, s, p, o, is_iri, dt=None, cond=None):
        dtv = f"'{dt}'" if dt else "CAST(NULL AS VARCHAR)"
        w = f" WHERE {cond}" if cond else ""
        return (
            f"SELECT {g} AS graph, {s} AS subject, '{p}' AS predicate, "
            f"{o} AS object, {str(is_iri).upper()} AS object_is_iri, "
            f"{dtv} AS object_datatype FROM {src}{w}"
        )

    def contribution(src, ver, date_expr):
        cb = bn(ver, "'contrib'")
        agent = f"'{_CV_CG}clinvar.submitter/clinvar'"
        return [
            q(src, ver, ver, SEPIO + "0000159", cb, True),
            q(src, ver, cb, SEPIO + "0000160", date_expr, False, XS),
            q(src, ver, cb, SEPIO + "0000046", "'ArchiverRole'", False, XS),
            q(src, ver, cb, SEPIO + "0000017", agent, True),
        ]

    gver = f"'{_CV_GENE}' || CAST(gid AS VARCHAR) || '.' || grd"
    gunv = f"'{_CV_GENE}' || CAST(gid AS VARCHAR)"
    gene_parts = [
        q("gene_rows", gver, gver, RT, f"'{_CV_CG}ClinVarObject'", True),
        q("gene_rows", gver, gver, RT, f"'{SO_GENE}'", True),
        q("gene_rows", gver, gver, "http://purl.org/dc/terms/isVersionOf",
          gunv, True),
        q("gene_rows", gver, gver, PREF, "full_name", False, XS),
        *contribution("gene_rows", gver, "grd"),
        q("gene_rows", gver, gver, _CV_CG + "release_date", "grd", False, XS),
        q("gene_rows", gver, gver, _CV_CG + "id", "CAST(gid AS VARCHAR)",
          False, XS),
        q("gene_rows", gver, gver, _CV_CG + "symbol", "symbol", False, XS),
        q("gene_rows", gver, gver, _CV_CG + "hgnc_id", "hgnc_id", False, XS),
    ]
    genes_sql = (
        f"WITH {_CV_CTES} " + " UNION ALL ".join(gene_parts)
    )

    vver = f"'{_CV_VAR}' || CAST(vid AS VARCHAR) || '.' || vrd"
    vunv = f"'{_CV_VAR}' || CAST(vid AS VARCHAR)"
    # assoc nodes join per (version, gene): derive from var_rows x assoc
    va_src = "(SELECT r.*, a.gid FROM var_rows r JOIN assoc a USING (vid))"
    ga_bn = bn(vver, "'ga'", "CAST(gid AS VARCHAR)")
    variant_parts = [
        q("var_rows", vver, vver, RT, f"'{_CV_CG}ClinVarObject'", True),
        q("var_rows", vver, vver, RT, f"'{_CV_CG}Variant'", True),
        q("var_rows", vver, vver, "http://purl.org/dc/terms/isVersionOf",
          vunv, True),
        q("var_rows", vver, vver, PREF, "vname", False, XS),
        *contribution("var_rows", vver, "vrd"),
        q("var_rows", vver, vver, _CV_CG + "release_date", "vrd", False, XS),
        q("var_rows", vver, vver, _CV_CG + "name", "vname", False, XS),
        q("var_rows", vver, vver, _CV_CG + "subclass_type", "subclass_type",
          False, XS),
        q("var_rows", vver, vver, _CV_CG + "variation_type",
          "variation_type", False, XS),
        q("var_rows", vver, vver, _CV_CG + "protein_change",
          "'p.V' || CAST(vid AS VARCHAR) || 'L'", False, XS,
          cond="vid % 4 = 0"),
        q(va_src, vver, vver, _CV_CG + "gene_associations", ga_bn, True),
        q(va_src, vver, ga_bn, _CV_CG + "gene_id", "CAST(gid AS VARCHAR)",
          False, XS),
    ]
    variants_sql = (
        f"WITH {_CV_CTES} " + " UNION ALL ".join(variant_parts)
    )

    sub_ver = (
        f"'{_CV_CG}assertion_set/SUB' || CAST(bid AS VARCHAR)"
        " || '.' || srd"
    )
    submissions_parts = [
        q("sub_rows", sub_ver, sub_ver, RT, f"'{_CV_CG}AssertionSet'", True),
        q("sub_rows", sub_ver, sub_ver, _CV_CG + "id",
          "'SUB' || CAST(bid AS VARCHAR)", False, XS),
        q("sub_rows", sub_ver, sub_ver, _CV_CG + "release_date", "srd",
          False, XS),
        q("sub_rows", sub_ver, sub_ver, _CV_CG + "submission_date",
          "'2024-03-2' || CAST(bid % 9 AS VARCHAR)", False, XS),
        q("sub_rows", sub_ver, sub_ver, _CV_CG + "submitter_id",
          "CAST(bid % 20 AS VARCHAR)", False, XS),
    ]
    submissions_sql = (
        """WITH sub_base AS (
  SELECT DISTINCT user_id % 20 AS bid, (event_id // 11) % 2 AS v
  FROM events WHERE event_id % 11 = 0),
sub_rows AS (
  SELECT bid, '2024-04-0' || CAST(v + 1 AS VARCHAR) AS srd FROM sub_base)
"""
        + " UNION ALL ".join(submissions_parts)
    )

    context_sql = f"""
WITH {_CV_CTES},
latest_var AS (
  SELECT s.sid, s.srd, v.vid, v.vrd,
         dense_rank() OVER (PARTITION BY s.sid, s.srd
                            ORDER BY v.vrd DESC) AS rn
  FROM scv_rows s
  JOIN var_rows v ON v.vid = s.s_variation_id AND v.vrd <= s.srd),
scv_genes AS (
  SELECT lv.sid, lv.srd, a.gid, lv.vrd
  FROM latest_var lv JOIN assoc a ON a.vid = lv.vid WHERE lv.rn = 1),
asof_gene AS (
  SELECT sg.sid, sg.srd, g.hgnc_id,
         dense_rank() OVER (PARTITION BY sg.sid, sg.srd, sg.gid
                            ORDER BY g.grd DESC) AS rn
  FROM scv_genes sg
  JOIN gene_rows g ON g.gid = sg.gid AND g.grd <= sg.vrd),
cancer AS (
  SELECT DISTINCT "id" AS chgnc
  FROM read_csv('/root/reference/resources/consensus_cancer_genes.csv',
                header = true)
  WHERE CAST("# of Res Gene was in" AS INT) >= 2),
has_cancer AS (
  SELECT DISTINCT sid, srd FROM asof_gene
  WHERE rn = 1 AND hgnc_id IN (SELECT chgnc FROM cancer)),
cmap AS (
  SELECT clinsig AS mcs, "group" AS grp
  FROM read_csv('/root/reference/resources/clinvar_clinsig-map.csv',
                header = true))
SELECT 'SCV' || CAST(s.sid AS VARCHAR) AS id, s.srd AS release_date,
  CASE WHEN s.sid % 4 = 0 AND hc.sid IS NOT NULL
            AND lower(s.clinsig) <> 'risk factor' THEN 'SOMATIC_CANCER'
       WHEN lower(s.clinsig) = 'drug response' THEN 'PHARMACOGENOMIC'
       WHEN s.review IN ('practice guideline', 'reviewed by expert panel')
            OR m.grp = 'path' THEN 'GERMLINE_DISEASE'
       ELSE 'OTHER' END AS classification_context
FROM scv_rows s
LEFT JOIN has_cancer hc ON hc.sid = s.sid AND hc.srd = s.srd
LEFT JOIN cmap m ON m.mcs = lower(s.clinsig)"""

    agg_latest_sql = f"""
WITH {_CV_CTES},
mx AS (SELECT aid, max(ard) AS mrd FROM arch_rows GROUP BY aid)
SELECT '{_CV_VA}VCV0' || CAST(a.aid AS VARCHAR) || '.' || a.ard AS iri,
       '{_CV_VA}VCV0' || CAST(a.aid AS VARCHAR) AS id,
       '{_CV_VAR}' || a.a_variation_id AS subject,
       a.ard AS release_date, m.mrd AS max_release_date
FROM arch_rows a JOIN mx m USING (aid) WHERE a.ard = m.mrd"""

    members_sql = f"""
WITH {_CV_CTES},
scv_max AS (
  SELECT sid, sid % 40 AS s_aid, max(srd) AS msrd
  FROM scv_rows GROUP BY sid),
vcv_max AS (SELECT aid, max(ard) AS mard FROM arch_rows GROUP BY aid)
SELECT '{_CV_SUB}SCV' || CAST(s.sid AS VARCHAR) || '.' || s.msrd
         AS evidence_item_iri,
       '{_CV_SUB}SCV' || CAST(s.sid AS VARCHAR)
         AS evidence_item_assertion_id,
       s.msrd AS evidence_item_assertion_release_date,
       '{_CV_VA}VCV0' || CAST(v.aid AS VARCHAR) || '.' || v.mard AS vcv_iri,
       v.mard AS vcv_release_date
FROM scv_max s JOIN vcv_max v ON v.aid = s.s_aid"""

    timeseries_sql = f"""
WITH {_CV_CTES},
pairs AS (
  SELECT a.aid, a.ard, s.sid, max(s.srd) AS msrd
  FROM arch_rows a
  JOIN scv_rows s ON s.sid % 40 = a.aid AND s.srd <= a.ard
  GROUP BY a.aid, a.ard, s.sid)
SELECT '{_CV_SUB}SCV' || CAST(sid AS VARCHAR) || '.' || msrd
         AS evidence_item_iri,
       '{_CV_SUB}SCV' || CAST(sid AS VARCHAR)
         AS evidence_item_assertion_id,
       msrd AS evidence_item_assertion_release_date,
       '{_CV_VA}VCV0' || CAST(aid AS VARCHAR) || '.' || ard AS vcv_iri,
       '{_CV_VA}VCV0' || CAST(aid AS VARCHAR) AS r_vcv_id,
       ard AS vcv_release_date
FROM pairs"""

    gene_list_sql = f"""
WITH {_CV_CTES},
gene_max AS (SELECT gid, max(grd) AS mgrd FROM gene_rows GROUP BY gid)
SELECT DISTINCT
       '{_CV_GENE}' || CAST(g.gid AS VARCHAR) || '.' || g.mgrd AS gene_iri,
       CAST(g.gid AS VARCHAR) AS gene_id,
       g.mgrd AS gene_release_date,
       '{_CV_VAR}' || CAST(a.vid AS VARCHAR) AS variation_id
FROM assoc a JOIN gene_max g USING (gid)"""

    genes_asof_sql = f"""
WITH {_CV_CTES},
var_latest AS (
  SELECT vid, max(vrd) AS mvrd FROM var_rows
  WHERE vrd <= '2024-02-03' GROUP BY vid),
ag AS (
  SELECT a.vid, a.gid, vl.mvrd, max(g.grd) AS mgrd
  FROM assoc a
  JOIN var_latest vl USING (vid)
  JOIN gene_rows g ON g.gid = a.gid AND g.grd <= vl.mvrd
  GROUP BY a.vid, a.gid, vl.mvrd)
SELECT '{_CV_GENE}' || CAST(gid AS VARCHAR) || '.' || mgrd AS gene_iri,
       CAST(gid AS VARCHAR) AS gene_id,
       'SYM' || CAST(gid AS VARCHAR) AS gene_symbol,
       mgrd AS gene_release_date,
       '{_CV_VAR}' || CAST(vid AS VARCHAR) AS variation_id,
       mvrd AS variant_release_date
FROM ag"""

    bpe_sql = _bpe_oracle(8)
    bpe_encode_sql = _bpe_oracle(8, encode=True)

    lm_filter_sql = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '' AND x <> '<s>') AS t
  FROM documents),
ref AS (SELECT t FROM toks WHERE doc_id % 3 = 0 AND len(t) > 0),
uni AS (
  SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM ref) GROUP BY 1),
ref_bos AS (SELECT ['<s>'] || t AS t FROM ref),
bi AS (
  SELECT a, b, count(*) AS c
  FROM (SELECT list_extract(t, i) AS a, list_extract(t, i + 1) AS b
        FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
              FROM ref_bos))
  GROUP BY 1, 2),
-- NOTE: no context-count (c_a) tables here ON PURPOSE — c_a feeds only
-- the float avg_logprob, which is deliberately excluded from the
-- oracle-compared surface (cross-engine float arithmetic)
doc_bos AS (SELECT doc_id, ['<s>'] || t AS t FROM toks WHERE len(t) > 0),
grams AS (
  SELECT doc_id, list_extract(t, i) AS a, list_extract(t, i + 1) AS b
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM doc_bos)),
joined AS (
  SELECT g.doc_id,
         bi.c IS NOT NULL AS known,
         bi.c IS NULL AND ub.c IS NOT NULL AS backoff
  FROM grams g
  LEFT JOIN bi ON bi.a = g.a AND bi.b = g.b
  LEFT JOIN uni ub ON ub.w = g.b),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN known THEN 1 ELSE 0 END) AS BIGINT)
           AS known_bigrams,
         CAST(sum(CASE WHEN backoff THEN 1 ELSE 0 END) AS BIGINT)
           AS backoff_hits,
         CAST(sum(CASE WHEN NOT known AND NOT backoff THEN 1 ELSE 0 END)
              AS BIGINT) AS oov
  FROM joined GROUP BY doc_id)
SELECT doc_id, n_tokens, known_bigrams, backoff_hits, oov,
       (known_bigrams * 100 >= 50 * n_tokens
        AND oov * 100 <= 10 * n_tokens) AS keep
FROM agg"""

    # event-analyzer oracles: closed-form per-order change arithmetic
    # (the perturbation rules of _event_models expressed directly)
    event_analysis_sql = """
SELECT 'urn:order:' || CAST(o_orderkey AS VARCHAR) AS graph,
       CAST(4 AS BIGINT) AS previous,
       CAST(4
            - (CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END)
            + (CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS current,
       CAST((CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END)
            + (CASE WHEN o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END)
            + (CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS created,
       CAST((CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END)
            + (CASE WHEN o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END)
            + (CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS deleted,
       (o_orderkey % 7 = 0 OR o_orderpriority LIKE '1-%'
        OR o_orderkey % 11 = 0 OR o_orderkey % 5 = 0) AS changed
FROM orders"""

    type_diff_sql = """
WITH moved AS (SELECT o_orderkey FROM orders WHERE o_orderpriority LIKE '1-%')
SELECT 'urn:order:' || CAST(o_orderkey AS VARCHAR) AS graph,
       ':Order' AS rdf_type, CAST(1 AS BIGINT) AS old_n,
       CAST(0 AS BIGINT) AS new_n, CAST(-1 AS BIGINT) AS delta
FROM moved
UNION ALL
SELECT 'urn:order:' || CAST(o_orderkey AS VARCHAR) AS graph,
       ':PriorityOrder' AS rdf_type, CAST(0 AS BIGINT) AS old_n,
       CAST(1 AS BIGINT) AS new_n, CAST(1 AS BIGINT) AS delta
FROM moved"""

    return {
        "text_bpe_merges": bpe_sql,
        "text_bpe_encode": bpe_encode_sql,
        "text_lm_filter": lm_filter_sql,
        "text_chunk_windows": """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents),
base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
wins AS (
  SELECT doc_id, t,
         unnest(generate_series(0,
           CASE WHEN n <= 64 THEN 0
                ELSE CAST((n - 64 + 47) // 48 AS INT) END)) AS window_ix
  FROM base)
SELECT doc_id, CAST(window_ix AS BIGINT) AS window_ix,
       CAST(window_ix * 48 AS BIGINT) AS start_tok,
       CAST(len(list_slice(t, window_ix * 48 + 1, window_ix * 48 + 64))
            AS BIGINT) AS n_window_tokens,
       array_to_string(list_slice(t, window_ix * 48 + 1,
                                  window_ix * 48 + 64), ' ')
         AS window_text
FROM wins""",
        "kg_event_analysis": event_analysis_sql,
        "kg_type_count_diff": type_diff_sql,
        "kg_cv_jsonld_genes": genes_sql,
        "kg_cv_jsonld_variants": variants_sql,
        "kg_cv_class_context": context_sql,
        "kg_cv_jsonld_submissions": submissions_sql,
        "cur_cv_aggregate_latest": agg_latest_sql,
        "cur_cv_members": members_sql,
        "cur_cv_members_timeseries": timeseries_sql,
        "cur_cv_gene_list": gene_list_sql,
        "cur_cv_genes_asof": genes_asof_sql,
    }


def _basedata_oracles() -> dict[str, str]:
    """DuckDB replicas of the base-data flat-file loaders."""
    from genegraph_spark.sources.dosage_jira import CHR_TO_REF

    RT, XS, XI = I.RDF_TYPE, I.XSD_STRING, I.XSD_INTEGER
    GP = "https://www.ncbi.nlm.nih.gov/gene/"

    def bn(*parts: str) -> str:
        sep = " || '|' || "
        return f"'_:' || substr(sha256({sep.join(parts)}), 1, 32)"

    def q(src, g, s, p, o, is_iri, dt=None, cond=None):
        dtv = f"'{dt}'" if dt else "CAST(NULL AS VARCHAR)"
        w = f" WHERE {cond}" if cond else ""
        return (
            f"SELECT {g} AS graph, {s} AS subject, '{p}' AS predicate, "
            f"{o} AS object, {str(is_iri).upper()} AS object_is_iri, "
            f"{dtv} AS object_datatype FROM {src}{w}"
        )

    out: dict[str, str] = {}

    # ── kg_hgnc_genes ────────────────────────────────────────────────
    cte = f"""
WITH g AS (
  SELECT p_partkey AS pk, p_name,
         '{GP}' || CAST(p_partkey AS VARCHAR) AS uri,
         'HGNC:' || CAST(p_partkey AS VARCHAR) AS hgnc,
         'http://rdf.ebi.ac.uk/resource/ensembl/ENSG0000'
           || CAST(p_partkey AS VARCHAR) AS ens,
         'https://identifiers.org/hgnc:' || CAST(p_partkey AS VARCHAR) AS hiri
  FROM part)
"""
    G = "'https://www.genenames.org/'"
    rows = [
        q("g", G, "uri", ":skos/preferred-label",
          "'G' || CAST(pk AS VARCHAR)", False, XS),
        q("g", G, "uri", ":skos/alternative-label", "p_name", False, XS),
        q("g", G, "uri", RT, "':so/Gene'", True),
        q("g", G, "uri", ":owl/same-as", "hgnc", True),
        q("g", G, "hgnc", ":dc/source", "'https://www.genenames.org'", True),
        q("g", G, "uri", ":owl/same-as", "ens", True),
        q("g", G, "uri", ":owl/same-as", "hiri", True),
        q("g", G, "ens", ":dc/source", "'https://www.ensembl.org'", True),
        q("g", G, "uri", ":so/chromosome-band",
          "'17p13.' || CAST(pk % 3 AS VARCHAR)", False, XS, cond="pk % 3 <> 0"),
        q("g", G, "uri", RT,
          "CASE pk % 4 WHEN 0 THEN 'http://purl.obolibrary.org/obo/SO_0001217'"
          " WHEN 1 THEN 'http://purl.obolibrary.org/obo/SO_0000336'"
          " ELSE 'http://purl.obolibrary.org/obo/SO_0000276' END",
          True, cond="pk % 4 < 3"),
        q("g", G, "uri", ":skos/hidden-label",
          "'GA' || CAST(pk AS VARCHAR)", False, XS, cond="pk % 2 = 0"),
        q("g", G, "uri", ":skos/hidden-label",
          "'GP' || CAST(pk AS VARCHAR)", False, XS, cond="pk % 5 = 0"),
    ]
    rows.append(
        "SELECT 'https://www.genenames.org/' AS graph, "
        "'https://www.genenames.org/' AS subject, "
        "'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate, "
        "':void/Dataset' AS object, TRUE AS object_is_iri, "
        "CAST(NULL AS VARCHAR) AS object_datatype"
    )
    out["kg_hgnc_genes"] = cte + "\n" + "\nUNION ALL\n".join(rows)

    # ── kg_gene_scores ───────────────────────────────────────────────
    score_rows = []
    for src_cte, cls, org, graph in (
        ("hi", ":cg/HaploinsufficiencyScore", "http://www.decipher.org",
         "http://www.decipher.org/"),
        ("loss", ":cg/TriplosensitivityScore", "http://www.gnomad.org",
         "http://www.gnomad.org/"),
    ):
        sb = bn("uri", f"'{cls}'", "'score'")
        cb = bn("uri", f"'{cls}'", "'contrib'")
        ab = bn("uri", f"'{cls}'", "'agent'")
        gl = f"'{graph}'"
        score_rows += [
            q(src_cte, gl, sb, ":iao/is-about", "uri", True),
            q(src_cte, gl, sb, RT, f"'{cls}'", True),
            q(src_cte, gl, sb, ":sepio/confidence-score", "score", False, XS),
            q(src_cte, gl, sb, ":sepio/qualified-contribution", cb, True),
            q(src_cte, gl, sb, ":sepio/has-contributor", ab, True),
            q(src_cte, gl, cb, RT, "':sepio/Contribution'", True),
            q(src_cte, gl, cb, ":sepio/date-updated",
              "'2024-06-01T00:00:00Z'", False, XS),
            q(src_cte, gl, cb, ":sepio/has-agent", ab, True),
            q(src_cte, gl, ab, RT, "':foaf/Organization'", True),
            q(src_cte, gl, ab, ":skos/preferred-label", f"'{org}'", False, XS),
        ]
    out["kg_gene_scores"] = f"""
WITH hi AS (
  SELECT '{GP}' || CAST(p_partkey AS VARCHAR) AS uri,
         '0.' || CAST(p_partkey % 10 AS VARCHAR) AS score
  FROM part WHERE p_partkey % 7 < 5 AND p_partkey % 11 <> 0),
loss AS (
  SELECT '{GP}' || CAST(p_partkey AS VARCHAR) AS uri,
         '0.9' || CAST(p_partkey % 10 AS VARCHAR) AS score
  FROM part WHERE p_partkey % 2 = 0 AND p_partkey % 9 <> 0
    AND p_partkey % 6 <> 0)
""" + "\n" + "\nUNION ALL\n".join(score_rows)

    # ── kg_cytoband_features ─────────────────────────────────────────
    ref_case = {}
    for b in ("grch37", "grch38"):
        ref_case[b] = (
            "CASE chs "
            + " ".join(
                f"WHEN '{c}' THEN '{u}'" for c, u in CHR_TO_REF[b].items()
            )
            + " END"
        )
    cyto_cte = f"""
WITH c0 AS (
  SELECT p_partkey AS pk,
         CASE WHEN p_partkey % 24 = 22 THEN 'X'
              WHEN p_partkey % 24 = 23 THEN 'Y'
              ELSE CAST(p_partkey % 24 + 1 AS VARCHAR) END AS chs,
         CASE WHEN p_partkey % 2 = 0 THEN 'hg19' ELSE 'hg38' END AS asm,
         (CASE WHEN p_partkey % 2 = 0 THEN 'p' ELSE 'q' END)
           || CAST(p_partkey % 3 + 1 AS VARCHAR) || '.'
           || CAST(p_partkey % 4 + 1 AS VARCHAR) AS band
  FROM part),
cy AS (
  SELECT pk, asm,
    'http://dataexchange.clinicalgenome.org/terms/cytoband/' || chs || band
      AS iri,
    chs || band AS label,
    CASE WHEN asm = 'hg19' THEN {ref_case["grch37"]}
         ELSE {ref_case["grch38"]} END AS ref,
    CAST(pk * 100000 AS VARCHAR) AS st,
    CAST((pk + 1) * 100000 AS VARCHAR) AS en
  FROM c0),
cy2 AS (
  SELECT cy.*, {bn("asm", "iri", "'loc'")} AS lb,
         {bn("asm", "iri", "'interval'")} AS ib
  FROM cy),
ft AS (
  SELECT '{GP}' || CAST(p_partkey AS VARCHAR) AS guri,
         'NC_0000' || CAST(p_partkey % 24 + 1 AS VARCHAR) || '.5' AS acc,
         'https://www.ncbi.nlm.nih.gov/nuccore/NC_0000'
           || CAST(p_partkey % 24 + 1 AS VARCHAR) || '.5' AS auri,
         CAST(p_partkey * 10 AS VARCHAR) AS st,
         CAST(p_partkey * 10 + 999 AS VARCHAR) AS en,
         CASE WHEN p_partkey % 3 = 0 THEN '-' ELSE '+' END AS strand
  FROM part WHERE p_partkey % 6 <> 0),
ft2 AS (
  SELECT ft.*, {bn("guri", "acc", "'loc'")} AS lb,
         {bn("guri", "acc", "'interval'")} AS ib
  FROM ft)
"""
    CYG = "'http://dataexchange.clinicalgenome.org/terms/cytoband/'"
    FTG = "'https://www.ncbi.nlm.nih.gov/feature/'"
    cyto_rows = [
        q("cy2", CYG, "iri", RT, "':so/ChromosomeBand'", True),
        q("cy2", CYG, "iri", RT, "':so/SequenceFeature'", True),
        q("cy2", CYG, "iri", ":geno/has-location", "lb", True),
        q("cy2", CYG, "iri", ":rdfs/label", "label", False, XS),
        q("cy2", CYG, "lb", ":geno/has-reference-sequence", "ref", True),
        q("cy2", CYG, "lb", RT, "':geno/SequenceFeatureLocation'", True),
        q("cy2", CYG, "lb", ":geno/has-interval", "ib", True),
        q("cy2", CYG, "ib", RT, "':geno/SequenceInterval'", True),
        q("cy2", CYG, "ib", ":geno/start-position", "st", False, XI),
        q("cy2", CYG, "ib", ":geno/end-position", "en", False, XI),
        q("ft2", FTG, "guri", ":geno/has-location", "lb", True),
        q("ft2", FTG, "lb", RT, "':geno/SequenceFeatureLocation'", True),
        q("ft2", FTG, "lb", ":so/assembly", "auri", True),
        q("ft2", FTG, "lb", ":geno/has-reference-sequence", "auri", True),
        q("ft2", FTG, "lb", ":geno/on-strand", "strand", False, XS),
        q("ft2", FTG, "lb", ":geno/has-interval", "ib", True),
        q("ft2", FTG, "ib", RT, "':geno/SequenceInterval'", True),
        q("ft2", FTG, "ib", ":geno/start-position", "st", False, XI),
        q("ft2", FTG, "ib", ":geno/end-position", "en", False, XI),
    ]
    out["kg_cytoband_features"] = cyto_cte + "\n" + "\nUNION ALL\n".join(cyto_rows)

    # ── kg_omim_conditions ───────────────────────────────────────────
    MIM = "http://purl.obolibrary.org/obo/OMIM_"
    out["kg_omim_conditions"] = f"""
WITH src AS (
  SELECT p_partkey AS pk, CAST(p_partkey % 300 AS VARCHAR) AS gid
  FROM part WHERE p_partkey % 13 <> 0),
pairs AS (
  SELECT '{MIM}' || mim AS phenotype, '{GP}' || gid AS gene
  FROM src, UNNEST(list_concat(
    ['6100' || CAST(pk % 90 AS VARCHAR)],
    list_concat(
      CASE WHEN pk % 4 = 0 THEN ['6200' || CAST(pk % 90 AS VARCHAR)]
           ELSE [] END,
      CASE WHEN pk % 17 = 0 THEN ['90' || CAST(pk AS VARCHAR) || '9']
           ELSE [] END))) AS t(mim)),
equiv AS (
  SELECT '{MIM}90' || CAST(p_partkey AS VARCHAR) || '9' AS omim_iri,
         'MONDO:9' || CAST(p_partkey AS VARCHAR) AS mondo_iri
  FROM part WHERE p_partkey % 17 = 0 AND p_partkey % 2 = 0),
singles AS (
  SELECT phenotype FROM pairs GROUP BY phenotype HAVING count(*) = 1)
SELECT 'https://omim.org/' AS graph, phenotype AS subject,
       ':sepio/is-about-gene' AS predicate, gene AS object,
       TRUE AS object_is_iri, CAST(NULL AS VARCHAR) AS object_datatype
FROM pairs
UNION ALL
SELECT 'https://omim.org/', mondo_iri, '{RT}', ':sepio/GeneticCondition',
       TRUE, CAST(NULL AS VARCHAR)
FROM singles JOIN equiv ON singles.phenotype = equiv.omim_iri"""

    # ── kg_affiliations_csv ──────────────────────────────────────────
    AFG = "'https://www.clinicalgenome.org/affiliations/'"
    AFP = "http://dataexchange.clinicalgenome.org/agent/"
    out["kg_affiliations_csv"] = f"""
WITH s AS (SELECT s_suppkey AS sk FROM supplier),
p AS (
  SELECT '{AFP}' || CAST(sk AS VARCHAR) AS iri,
         'CGAGENT ' || CAST(sk AS VARCHAR) AS label
  FROM s WHERE sk % 5 <> 0
  UNION ALL
  SELECT '{AFP}4' || CAST(sk AS VARCHAR), 'VCEP ' || CAST(sk AS VARCHAR)
  FROM s WHERE sk % 2 = 0
  UNION ALL
  SELECT '{AFP}5' || CAST(sk AS VARCHAR), 'GCEP ' || CAST(sk AS VARCHAR)
  FROM s WHERE sk % 3 = 0)
{q("p", AFG, "iri", ":skos/preferred-label", "label", False, XS)}
UNION ALL
{q("p", AFG, "iri", RT, "':cg/Affiliation'", True)}"""
    return out


def _gci_legacy_oracle() -> str:
    """DuckDB replica of the legacy GCI report transform (payload
    reconstructed by the same string concatenation as the fixture)."""
    from genegraph_spark.sources.gci_legacy import (
        AFFILIATION_ROOT, EVIDENCE_LEVELS, GCI_ROOT,
    )

    RT, XS = I.RDF_TYPE, I.XSD_STRING
    fc_case = " ".join(
        f"WHEN {i} THEN '{s}'"
        for i, s in enumerate(fixtures.GCI_CLASSIFICATIONS)
    )
    lvl_case = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in EVIDENCE_LEVELS.items()
    )
    sop = "':sepio/ClinGenGeneValidityEvaluationCriteriaSOP'"

    def bn(*parts: str) -> str:
        sep = " || '|' || "
        return f"'_:' || substr(sha256({sep.join(parts)}), 1, 32)"

    cte = f"""
WITH d AS (
  SELECT event_id AS e, user_id AS u,
    CASE CAST(event_id % 12 AS INT) {fc_case} END AS fc,
    CAST(event_id % 6 + 4 AS VARCHAR) AS sopv,
    CASE WHEN event_id % 2 = 0 THEN CAST(event_id % 3 + 5 AS VARCHAR) END
      AS selv,
    CAST(user_id % 10 AS VARCHAR) AS aff,
    CAST(user_id % 50 + 1000 AS VARCHAR) AS gnum,
    CAST(user_id % 100 + 10000 AS VARCHAR) AS cnum,
    CAST(user_id % 9 AS VARCHAR) AS moi,
    '2020-03-0' || CAST(event_id % 9 + 1 AS VARCHAR) || 'T10:20:30Z' AS rdate
  FROM events WHERE event_id % 23 <> 0),
d2 AS (
  SELECT d.*,
    'legacy-' || CAST(e AS VARCHAR) AS riri,
    '{{"iri":"legacy-' || CAST(e AS VARCHAR)
      || '","title":"Legacy report ' || CAST(e AS VARCHAR)
      || '","sopVersion":"' || sopv || '",'
      || COALESCE('"selectedSOPVersion":"' || selv || '",', '')
      || '"affiliation":{{"id":"' || aff || '"}},'
      || '"genes":[{{"curie":"HGNC:' || gnum || '"}}],'
      || '"conditions":[{{"iri":"http://purl.obolibrary.org/obo/MONDO_00'
      || cnum || '"}}],'
      || '"scoreJson":{{"ModeOfInheritance":"Autosomal dominant (HP:000000'
      || moi || ')",'
      || '"summary":{{"FinalClassification":"' || fc || '",'
      || '"FinalClassificationDate":"' || rdate || '"'
      || CASE WHEN e % 3 = 0 THEN
           ',"contributors":[{{"id":"7' || CAST(u % 10 AS VARCHAR)
           || '","role":"secondary contributor"}},'
           || '{{"id":"8","role":"primary contributor"}}'
           || CASE WHEN e % 9 = 0 THEN
                ',{{"id":"9' || CAST(u % 10 AS VARCHAR)
                || '","role":"secondary contributor"}}'
              ELSE '' END
           || ']'
         ELSE '' END
      || '}}}}}}' AS raw
  FROM d),
d3 AS (
  SELECT d2.*,
    '{GCI_ROOT}' || riri AS g,
    riri || '-' || replace(rdate, ':', '') AS rid
  FROM d2),
d4 AS (
  SELECT d3.*,
    '{GCI_ROOT}report_' || rid AS report,
    '{GCI_ROOT}assertion_' || rid AS assertion,
    '{GCI_ROOT}proposition_' || riri AS prop,
    {bn(f"'{GCI_ROOT}report_' || rid", "'content'")} AS cb,
    {bn(f"'{GCI_ROOT}assertion_' || rid", "'contrib'")} AS kb,
    '{AFFILIATION_ROOT}' || aff AS agent,
    CASE fc {lvl_case} END AS lvl,
    {sop} || COALESCE(selv, sopv) AS spec,
    {sop} || sopv AS fmt,
    'http://purl.obolibrary.org/obo/HP_000000' || moi AS hp,
    'https://www.ncbi.nlm.nih.gov/gene/' || gnum AS giri,
    'http://purl.obolibrary.org/obo/MONDO_00' || cnum AS cond
  FROM d3),
secs AS (
  SELECT d4.*, '7' || CAST(u % 10 AS VARCHAR) AS sid FROM d4 WHERE e % 3 = 0
  UNION ALL
  SELECT d4.*, '9' || CAST(u % 10 AS VARCHAR) FROM d4 WHERE e % 9 = 0),
secs2 AS (
  SELECT secs.*, {bn("assertion", "'sec'", "sid")} AS sb FROM secs)
"""

    def q(src, s, p, o, is_iri, dt=None):
        dtv = f"'{dt}'" if dt else "CAST(NULL AS VARCHAR)"
        return (
            f"SELECT g AS graph, {s} AS subject, '{p}' AS predicate, "
            f"{o} AS object, {str(is_iri).upper()} AS object_is_iri, "
            f"{dtv} AS object_datatype FROM {src}"
        )

    rows = [
        q("d4", "report", RT, "':sepio/GeneValidityReport'", True),
        q("d4", "report", ":rdfs/label",
          "'Legacy report ' || CAST(e AS VARCHAR)", False, XS),
        q("d4", "report", ":bfo/has-part", "cb", True),
        q("d4", "report", ":bfo/has-part", "assertion", True),
        q("d4", "cb", RT, "':cnt/ContentAsText'", True),
        q("d4", "cb", ":cnt/chars", "raw", False, XS),
        q("d4", "assertion", RT,
          "':sepio/GeneValidityEvidenceLevelAssertion'", True),
        q("d4", "assertion", ":sepio/has-subject", "prop", True),
        q("d4", "assertion", ":sepio/has-predicate",
          "':sepio/HasEvidenceLevel'", True),
        q("d4", "assertion", ":sepio/has-object", "lvl", True),
        q("d4", "assertion", ":sepio/qualified-contribution", "kb", True),
        q("d4", "assertion", ":sepio/is-specified-by", "spec", True),
        q("d4", "assertion", ":dc/has-format", "fmt", True),
        q("d4", "prop", RT, "':sepio/GeneValidityProposition'", True),
        q("d4", "prop", ":sepio/has-subject", "giri", True),
        q("d4", "prop", ":sepio/has-predicate",
          "':ro/IsCausalGermlineMutationIn'", True),
        q("d4", "prop", ":sepio/has-object", "cond", True),
        q("d4", "prop", ":sepio/has-qualifier", "hp", True),
        q("d4", "kb", ":bfo/realizes", "':sepio/ApproverRole'", True),
        q("d4", "kb", ":sepio/has-agent", "agent", True),
        q("d4", "kb", ":sepio/activity-date", "rdate", False, XS),
        q("secs2", "assertion", ":sepio/qualified-contribution", "sb", True),
        q("secs2", "sb", ":bfo/realizes",
          "':sepio/SecondaryContributorRole'", True),
        q("secs2", "sb", ":sepio/has-agent",
          f"'{AFFILIATION_ROOT}' || sid", True),
    ]
    return cte + "\n" + "\nUNION ALL\n".join(rows)


def _gci_express_oracle() -> str:
    from genegraph_spark.sources.gci_legacy import (
        AFFILIATION_ROOT, EXPRESS_LEVELS, GCI_EXPRESS_ROOT,
    )

    RT, XS = I.RDF_TYPE, I.XSD_STRING
    labels = [
        s for s in fixtures.GCI_CLASSIFICATIONS
        if s not in ("No Known Disease Relationship", "No Classification")
    ]
    lvl_case = " ".join(
        f"WHEN {i} THEN '{EXPRESS_LEVELS[s]}'" for i, s in enumerate(labels)
    )

    def bn(*parts: str) -> str:
        sep = " || '|' || "
        return f"'_:' || substr(sha256({sep.join(parts)}), 1, 32)"

    SOP4 = ":sepio/ClinGenGeneValidityEvaluationCriteriaSOP4"
    SOP5 = ":sepio/ClinGenGeneValidityEvaluationCriteriaSOP5"
    cte = f"""
WITH d AS (
  SELECT event_id AS e, user_id AS u,
    'exp-' || CAST(event_id AS VARCHAR) AS rid,
    CASE CAST(event_id % 10 AS INT) {lvl_case} END AS lvl,
    CASE WHEN event_id % 2 = 0
      THEN '{{"data":{{"ModeOfInheritance":"AD (HP:000000'
           || CAST(user_id % 9 AS VARCHAR) || ')"}}}}'
      ELSE '{{"scoreJson":{{"ModeOfInheritance":"AR (HP:000000'
           || CAST(user_id % 9 AS VARCHAR) || ')"}}}}' END AS content,
    CASE WHEN event_id % 2 = 0 THEN '{SOP4}' ELSE '{SOP5}' END AS sopc,
    '{AFFILIATION_ROOT}' || CAST(user_id % 10 AS VARCHAR) AS agent,
    'https://www.ncbi.nlm.nih.gov/gene/'
      || CAST(user_id % 50 + 1000 AS VARCHAR) AS giri,
    'http://purl.obolibrary.org/obo/MONDO_00'
      || CAST(user_id % 100 + 10000 AS VARCHAR) AS cond,
    'http://purl.obolibrary.org/obo/HP_000000'
      || CAST(user_id % 9 AS VARCHAR) AS hp,
    '2019-0' || CAST(event_id % 9 + 1 AS VARCHAR) || '-02T03:04:05Z' AS rdate
  FROM events),
d2 AS (
  SELECT d.*,
    '{GCI_EXPRESS_ROOT}' || rid AS g,
    '{GCI_EXPRESS_ROOT}report_' || rid AS report,
    '{GCI_EXPRESS_ROOT}assertion_' || rid AS assertion,
    '{GCI_EXPRESS_ROOT}proposition_' || rid AS prop
  FROM d),
d3 AS (
  SELECT d2.*, {bn("report", "'content'")} AS cb,
         {bn("assertion", "'contrib'")} AS kb
  FROM d2)
"""

    def q(s, p, o, is_iri, dt=None):
        dtv = f"'{dt}'" if dt else "CAST(NULL AS VARCHAR)"
        return (
            f"SELECT g AS graph, {s} AS subject, '{p}' AS predicate, "
            f"{o} AS object, {str(is_iri).upper()} AS object_is_iri, "
            f"{dtv} AS object_datatype FROM d3"
        )

    rows = [
        q("report", RT, "':sepio/GeneValidityReport'", True),
        q("report", ":rdfs/label",
          "'Express report ' || CAST(e AS VARCHAR)", False, XS),
        q("report", ":bfo/has-part", "cb", True),
        q("report", ":bfo/has-part", "assertion", True),
        q("report", ":dc/source", "':cg/GeneCurationExpress'", True),
        q("cb", RT, "':cnt/ContentAsText'", True),
        q("cb", ":cnt/chars", "content", False, XS),
        q("assertion", RT, "':sepio/GeneValidityEvidenceLevelAssertion'",
          True),
        q("assertion", ":sepio/has-subject", "prop", True),
        q("assertion", ":sepio/has-predicate", "':sepio/HasEvidenceLevel'",
          True),
        q("assertion", ":sepio/has-object", "lvl", True),
        q("assertion", ":sepio/qualified-contribution", "kb", True),
        q("assertion", ":sepio/is-specified-by", "sopc", True),
        q("assertion", ":dc/has-format", "sopc", True),
        q("prop", RT, "':sepio/GeneValidityProposition'", True),
        q("prop", ":sepio/has-subject", "giri", True),
        q("prop", ":sepio/has-predicate", "':ro/IsCausalGermlineMutationIn'",
          True),
        q("prop", ":sepio/has-object", "cond", True),
        q("prop", ":sepio/has-qualifier", "hp", True),
        q("kb", ":bfo/realizes", "':sepio/ApproverRole'", True),
        q("kb", ":sepio/has-agent", "agent", True),
        q("kb", ":sepio/activity-date", "rdate", False, XS),
    ]
    return cte + "\n" + "\nUNION ALL\n".join(rows)


def _gci_neo4j_oracle() -> str:
    """DuckDB mirror of q_kg_gci_neo4j: same fixture derivation, same
    triple list, sha256-deterministic bnodes (hash-exact incl. bnodes)."""
    from genegraph_spark.sources import gci_misc as GM

    scores = list(GM.OLD_SCORE_TO_NEW)
    score_arr = "[" + ", ".join(f"'{s}'" for s in scores) + "]"
    score_case = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in GM.OLD_SCORE_TO_NEW.items()
    )
    sop_case = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in GM.GCI_SOP_VERSION.items()
    )
    cte = f"""
WITH r AS (
  SELECT 'gdm-' || CAST(event_id AS VARCHAR) AS id,
         '2020-01-0' || CAST(event_id % 9 + 1 AS VARCHAR) || 'T10:00:00' AS date,
         'Report ' || CAST(event_id AS VARCHAR) AS title,
         'https://www.ncbi.nlm.nih.gov/gene/' || CAST(user_id AS VARCHAR) AS gene,
         'http://purl.obolibrary.org/obo/MONDO_' || CAST(user_id % 50 AS VARCHAR)
           AS disease,
         'http://purl.obolibrary.org/obo/HP_000000' || CAST(event_id % 3 AS VARCHAR)
           AS moi,
         'http://dataexchange.clinicalgenome.org/agent/'
           || CAST(user_id % 10 AS VARCHAR) AS agent,
         ({score_arr})[CAST(event_id % 7 AS INT) + 1] AS score,
         CAST(event_id % 3 + 5 AS VARCHAR) AS sop_version,
         '{{"score":' || CAST(event_id % 7 AS VARCHAR) || '}}' AS score_string
  FROM events),
n AS (
  SELECT r.*,
         '{GM.GCI_ROOT}report_' || id || '-' || replace(date, ':', '') AS iri,
         '{GM.GCI_ROOT}assertion_' || id || '-' || replace(date, ':', '')
           AS assertion,
         '{GM.GCI_ROOT}proposition_' || id AS prop,
         CASE score {score_case} END AS score_concept,
         CASE sop_version {sop_case} END AS sop_concept
  FROM r),
x AS (
  SELECT n.*,
         '_:' || substr(sha256(iri || '|content'), 1, 32) AS content,
         '_:' || substr(sha256(assertion || '|contribution'), 1, 32) AS contrib
  FROM n)
"""
    rt = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

    def q(s, p, o, is_iri):
        # every emitted triple is datatype-less (matches _t's default)
        dtv = "CAST(NULL AS VARCHAR)"
        return (
            f"SELECT iri AS graph, {s} AS subject, '{p}' AS predicate, "
            f"{o} AS object, {str(is_iri).upper()} AS object_is_iri, "
            f"{dtv} AS object_datatype FROM x"
        )

    rows = [
        q("iri", rt, "':sepio/GeneValidityReport'", True),
        q("iri", ":bfo/has-part", "content", True),
        q("iri", ":bfo/has-part", "assertion", True),
        q("content", rt, "':cnt/ContentAsText'", True),
        q("content", ":cnt/chars", "score_string", False),
        q("iri", ":rdfs/label", "title", False),
        q("assertion", rt, "':sepio/GeneValidityEvidenceLevelAssertion'", True),
        q("assertion", ":sepio/has-subject", "prop", True),
        q("assertion", ":sepio/has-predicate", "':sepio/HasEvidenceLevel'", True),
        q("assertion", ":sepio/has-object", "score_concept", True),
        q("assertion", ":sepio/qualified-contribution", "contrib", True),
        q("assertion", ":sepio/is-specified-by", "sop_concept", True),
        q("assertion", ":dc/has-format", "sop_concept", True),
        q("prop", rt, "':sepio/GeneValidityProposition'", True),
        q("prop", ":sepio/has-subject", "gene", True),
        q("prop", ":sepio/has-predicate", "':ro/IsCausalGermlineMutationIn'", True),
        q("prop", ":sepio/has-object", "disease", True),
        q("prop", ":sepio/has-qualifier", "moi", True),
        q("contrib", ":bfo/realizes", "':sepio/ApproverRole'", True),
        q("contrib", ":sepio/has-agent", "agent", True),
        q("contrib", ":sepio/activity-date", "date", False),
    ]
    return cte + "\nUNION ALL\n".join(rows)


def _vcv_oracle() -> str:
    from genegraph_spark.sources.clinvar_statements import (
        CGTERMS, CLINVAR_VARIATION, VA_PREFIX, _VA_EXT_FIELDS,
    )

    RT, XS = I.RDF_TYPE, I.XSD_STRING

    def bn(*parts: str) -> str:
        sep = " || '|' || "
        return f"'_:' || substr(sha256({sep.join(parts)}), 1, 32)"

    cte = f"""
WITH d AS (
  SELECT event_id AS e, user_id AS u,
    strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%S') AS rd,
    CASE WHEN event_id % 7 = 0 THEN 'update' ELSE 'create' END AS etype,
    '{VA_PREFIX}VCV' || CAST(user_id % 200 AS VARCHAR) AS vcv,
    CAST(event_id % 5 + 1 AS VARCHAR) AS ver,
    CAST(user_id % 500 AS VARCHAR) AS variation_id,
    CASE CAST(event_id % 4 AS INT)
      WHEN 0 THEN 'criteria provided, single submitter'
      WHEN 1 THEN 'criteria provided, conflicting interpretations'
      WHEN 2 THEN 'reviewed by expert panel'
      ELSE 'no assertion criteria provided' END AS review_status,
    CASE CAST(event_id % 5 AS INT)
      WHEN 0 THEN 'Pathogenic' WHEN 1 THEN 'Benign'
      WHEN 2 THEN 'Conflicting interpretations of pathogenicity'
      WHEN 3 THEN 'Uncertain significance' ELSE 'not provided'
    END AS interp,
    CASE WHEN event_id % 3 <> 0
         THEN '2019-01-0' || CAST(event_id % 9 + 1 AS VARCHAR)
    END AS date_created,
    CASE WHEN event_id % 4 <> 0
         THEN '2021-02-0' || CAST(event_id % 9 + 1 AS VARCHAR)
    END AS date_last_updated,
    CASE WHEN event_id % 2 = 0 THEN CAST(user_id % 15 AS VARCHAR)
    END AS num_submitters,
    CAST(user_id % 25 AS VARCHAR) AS num_submissions,
    'Homo sapiens' AS species
  FROM events),
d2 AS (
  SELECT d.*, vcv AS g,
    vcv || '_statement.' || rd AS stmt,
    vcv || '_statement_proposition.' || rd AS prop,
    vcv || '_statement_variation_rule_descriptor.' || rd AS vrd,
    '{CLINVAR_VARIATION}' || variation_id AS cvv
  FROM d)
"""

    def q(s, p, o, is_iri, dt=None, cond=None):
        dtv = f"'{dt}'" if dt else "CAST(NULL AS VARCHAR)"
        w = f" WHERE {cond}" if cond else ""
        return (
            f"SELECT g AS graph, {s} AS subject, '{p}' AS predicate, "
            f"{o} AS object, {str(is_iri).upper()} AS object_is_iri, "
            f"{dtv} AS object_datatype FROM d2{w}"
        )

    rows = [
        q("stmt", RT, "':sepio/Statement'", True),
        q("stmt", RT, f"'{CGTERMS}ClinVarVCVStatement'", True),
        q("stmt", RT, f"'{CGTERMS}ClinVarObject'", True),
        q("stmt", ":dc/has-version", "ver", False, XS),
        q("stmt", ":dc/is-version-of", "vcv", True),
        q("stmt", ":cg/release-date", "rd", False, XS),
        q("stmt", ":sepio/has-predicate", f"'{CGTERMS}has_evidence_level'",
          True),
        q("stmt", ":cg/negated", "'FALSE'", False, XS),
        q("stmt", ":sepio/has-object", "review_status", False, XS),
        q("stmt", ":sepio/has-subject", "prop", True),
        q("prop", RT, "':sepio/Proposition'", True),
        q("prop", RT, f"'{CGTERMS}ClinVarVCVProposition'", True),
        q("prop", ":sepio/has-subject", "vrd", True),
        q("prop", ":sepio/has-predicate",
          f"'{CGTERMS}has_clinvar_variant_aggregate_classification'", True),
        q("prop", ":sepio/has-object", "interp", False, XS),
        q("vrd", RT, f"'{CGTERMS}VariationRuleDescriptor'", True),
        q("vrd", ":vrs/xref", "cvv", True),
    ]
    sqlcol = {"event_type": "etype", "interp_description": "interp"}
    for field in _VA_EXT_FIELDS:
        col = sqlcol.get(field, field)
        eb = bn("stmt", "'ext'", f"'{field}'")
        cond = f"{col} IS NOT NULL"
        rows += [
            q("stmt", ":vrs/extensions", eb, True, cond=cond),
            q(eb, RT, "':vrs/Extension'", True, cond=cond),
            q(eb, ":vrs/name", f"'{field}'", False, XS, cond=cond),
            q(eb, ":rdf/value", col, False, XS, cond=cond),
        ]
    return cte + "\n" + "\nUNION ALL\n".join(rows)


def oracle_sql() -> dict[str, str]:
    simhash_bits = 32
    # simhash: per-token 32-bit hash from md5 prefix; per-bit majority
    tok_h = "CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)"
    bit_sums = ", ".join(
        f"sum(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(simhash_bits)
    )
    bit_val = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END)" for i in range(simhash_bits)
    )
    simhash_sql = f"""
WITH dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
th AS (SELECT doc_id, {tok_h} AS th FROM dt WHERE tok <> ''),
bits AS (SELECT doc_id, {bit_sums} FROM th GROUP BY doc_id)
SELECT doc_id, {bit_val} AS simhash FROM bits
"""

    # random-hyperplane LSH: the exact integer weights the Spark operator
    # uses (md5-derived), inlined as literals; sign bits come from integer
    # dot products of floor(x*1000+0.5)-quantized vectors, so both engines
    # compute identical buckets with no float-summation-order hazard.
    hp_w = D.hyperplane_weights(n_planes=12, dim=64)
    hp_bits = ", ".join(
        "(CASE WHEN list_sum(list_transform(range(64), i -> qv[i+1] * ([{w}])[i+1])) >= 0 "
        "THEN 1 ELSE 0 END) AS bit{p}".format(w=", ".join(map(str, hp_w[p])), p=p)
        for p in range(12)
    )
    hp_bands = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        + " + ".join(f"{1 << j} * bit{b * 4 + j}" for j in range(4))
        + " AS bucket FROM bits"
        for b in range(3)
    )
    embedding_lsh_sql = f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pert AS (SELECT vec_id + 100000 AS vec_id,
  -- pos comes from a subquery: DuckDB's lateral alias resolution would
  -- otherwise bind vec_id inside the lambda to the NEW vec_id+100000
  list_transform(range(64), i -> CASE WHEN i = pos THEN v[i+1]*1.2 ELSE v[i+1] END) AS v
  FROM (SELECT vec_id, vec_id % 64 AS pos, v FROM base)),
all_v AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
q AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x*1000 + 0.5) AS BIGINT)) AS qv FROM all_v),
bits AS (SELECT vec_id, {hp_bits} FROM q),
bkt AS ({hp_bands}),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM bkt a JOIN bkt b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT id_a, id_b, round(round(list_cosine_similarity(va.v, vb.v), 6), 4) AS cosine
FROM cand JOIN all_v va ON va.vec_id = id_a JOIN all_v vb ON vb.vec_id = id_b
WHERE round(list_cosine_similarity(va.v, vb.v), 6) >= 0.98"""

    d = {
        "kg_extract_text": f"WITH {_PAGES} SELECT url, version, text FROM pages",
        "kg_live_pages": f"WITH {_PAGES}, {_HEADS} SELECT url, version, text, lang FROM heads WHERE NOT tombstone",
        "kg_tombstoned_urls": f"WITH {_PAGES}, {_HEADS} SELECT url FROM heads WHERE tombstone",
        "kg_mentions_preferred": f"""
WITH {_PAGES}, {_HEADS}, {_LIVE}, {_ALIAS}, {_TOKS}
SELECT tokens.url, alias.iri, count(*) AS n_mentions
FROM tokens JOIN alias ON tokens.token = alias.label AND alias.label_kind = 'preferred'
GROUP BY tokens.url, alias.iri""",
        "kg_linked_mentions": f"""
WITH {_PAGES}, {_HEADS}, {_LIVE}, {_ALIAS}, {_CANON}, {_TOKS}, {_LINKED}
SELECT url, canonical_iri, n_mentions, first_pos FROM linked""",
        "kg_canonical_map": f"WITH {_CANON} SELECT iri, canonical_iri FROM canon",
        "kg_triples": _TRIPLES_SQL,
        "kg_lineage_counts": f"WITH t AS ({_TRIPLES_SQL}) SELECT graph, count(*) AS n_triples FROM t GROUP BY graph",
        "kg_version_chain": f"""
WITH {_PAGES}
SELECT url, version, url || '?v=' || CAST(version AS VARCHAR) AS id,
       lag(url || '?v=' || CAST(version AS VARCHAR)) OVER w AS replaces,
       lead(url || '?v=' || CAST(version AS VARCHAR)) OVER w AS is_replaced_by
FROM pages WINDOW w AS (PARTITION BY url ORDER BY version)""",
        "kg_latest_as_of": f"""
WITH {_PAGES}
SELECT url, version FROM (
  SELECT url, version, row_number() OVER (PARTITION BY url ORDER BY version DESC) AS _rn
  FROM pages WHERE version <= 2) WHERE _rn = 1""",
        "kg_replaces_triples": f"""
WITH {_PAGES}, chain AS (
  SELECT url || '?v=' || CAST(version AS VARCHAR) AS id,
         lag(url || '?v=' || CAST(version AS VARCHAR)) OVER (PARTITION BY url ORDER BY version) AS prev
  FROM pages), c AS (SELECT * FROM chain WHERE prev IS NOT NULL)
SELECT id AS graph, id AS subject, '{I.REPLACES}' AS predicate, prev AS object,
       TRUE AS object_is_iri, NULL AS object_datatype FROM c
UNION
SELECT id, prev, '{I.IS_REPLACED_BY}', id, TRUE, NULL FROM c""",
        # algebra
        "alg_bgp_join": f"""
WITH {_GEO_TRIPLES}
SELECT nn.o AS nation_name, rn.o AS region_name
FROM geo ir JOIN geo nn ON ir.s = nn.s AND nn.p = ':name'
JOIN geo rn ON ir.o = rn.s AND rn.p = ':name'
WHERE ir.p = ':in-region'""",
        "alg_optional": f"""
WITH {_GEO_TRIPLES}, {_ORDER_TRIPLES}
SELECT cn.o AS c_name, otr.s AS order_iri
FROM geo cn LEFT JOIN otr ON otr.o = cn.s
WHERE cn.p = ':name' AND cn.s LIKE 'urn:customer:%'""",
        "alg_union": f"""
WITH {_GEO_TRIPLES}
SELECT DISTINCT name FROM (
  SELECT nn.o AS name FROM geo ir JOIN geo nn ON ir.s = nn.s AND nn.p = ':name' WHERE ir.p = ':in-region'
  UNION ALL
  SELECT rn.o FROM geo ir JOIN geo rn ON ir.o = rn.s AND rn.p = ':name' WHERE ir.p = ':in-region')""",
        "alg_minus": f"""
WITH {_GEO_TRIPLES}, {_ORDER_TRIPLES},
ost AS (SELECT 'urn:order:' || CAST(o_orderkey AS VARCHAR) AS s FROM orders WHERE o_orderstatus = 'F')
SELECT cn.o AS c_name FROM geo cn
WHERE cn.p = ':name' AND cn.s LIKE 'urn:customer:%'
  AND NOT EXISTS (SELECT 1 FROM otr JOIN ost ON ost.s = otr.s WHERE otr.o = cn.s)""",
        "alg_exists": f"""
WITH {_GEO_TRIPLES}, {_ORDER_TRIPLES}
SELECT cn.o AS c_name FROM geo cn
WHERE cn.p = ':name' AND cn.s LIKE 'urn:customer:%'
  AND EXISTS (SELECT 1 FROM otr WHERE otr.o = cn.s)""",
        "alg_distinct_project": f"WITH {_GEO_TRIPLES} SELECT DISTINCT o AS segment FROM geo WHERE p = ':segment'",
        "alg_slice_order": f"""
WITH {_GEO_TRIPLES},
b AS (SELECT nm.o AS c_name, CAST(bal.o AS DOUBLE) AS balance
      FROM geo nm JOIN geo bal ON nm.s = bal.s
      WHERE nm.p = ':name' AND bal.p = ':balance'),
r AS (SELECT *, row_number() OVER (ORDER BY balance DESC, c_name ASC) AS _rn FROM b)
SELECT c_name, balance FROM r WHERE _rn > 5 AND _rn <= 15""",
        "alg_ask_count": f"""
WITH {_GEO_TRIPLES}
SELECT EXISTS (SELECT 1 FROM geo WHERE p = ':balance' AND CAST(o AS DOUBLE) > 9000) AS ask_result,
       (SELECT count(*) FROM geo WHERE p = ':in-region') AS n""",
        "alg_construct": f"""
WITH {_GEO_TRIPLES}
SELECT DISTINCT CAST(NULL AS VARCHAR) AS graph, innat.s AS subject,
       ':in-nation-named' AS predicate, nn.o AS object,
       FALSE AS object_is_iri, CAST(NULL AS VARCHAR) AS object_datatype
FROM geo innat JOIN geo nn ON innat.o = nn.s AND nn.p = ':name'
WHERE innat.p = ':in-nation'""",
        "alg_property_path": f"""
WITH {_GEO_TRIPLES}
SELECT DISTINCT ir.o AS node
FROM geo innat JOIN geo ir ON innat.o = ir.s AND ir.p = ':in-region'
WHERE innat.p = ':in-nation'""",
        # negated property set !(:in-nation|:name) out of customer nodes
        "alg_path_negated": f"""
WITH {_GEO_TRIPLES}
SELECT DISTINCT g.o AS node
FROM geo g
WHERE g.p NOT IN (':in-nation', ':name')
  AND g.s IN (SELECT DISTINCT s FROM geo WHERE p = ':in-nation')""",
        # bounded repetition :next{2,3} from every chain node: union of
        # the exactly-2 and exactly-3 hop join chains
        "alg_path_bounded": """
WITH keys_ AS (SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderkey < 20),
edges AS (SELECT 'k' || CAST(a.k AS VARCHAR) AS src, 'k' || CAST(b.k AS VARCHAR) AS dst
          FROM keys_ a JOIN keys_ b ON b.k = a.k + 1),
h2 AS (SELECT a.src, b.dst FROM edges a JOIN edges b ON a.dst = b.src),
h3 AS (SELECT h2.src, e.dst FROM h2 JOIN edges e ON h2.dst = e.src)
SELECT DISTINCT dst AS node FROM (SELECT dst FROM h2 UNION ALL SELECT dst FROM h3)""",
        "alg_transitive_closure": """
WITH RECURSIVE keys_ AS (SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderkey < 20),
edges AS (SELECT 'k' || CAST(a.k AS VARCHAR) AS src, 'k' || CAST(b.k AS VARCHAR) AS dst
          FROM keys_ a JOIN keys_ b ON b.k = a.k + 1),
tc AS (SELECT src, dst FROM edges
       UNION SELECT tc.src, e.dst FROM tc JOIN edges e ON tc.dst = e.src)
SELECT src, dst FROM tc""",
        "alg_text_search": """
SELECT 'urn:part:' || CAST(p_partkey AS VARCHAR) AS node, p_name AS text
FROM part WHERE list_contains(string_split(lower(p_name), ' '), 'widget')""",
        "alg_text_search_ranked": """
WITH docs AS (
  SELECT 'urn:part:' || CAST(p_partkey AS VARCHAR) AS node, p_name FROM part),
idx AS (
  SELECT node, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT node,
               unnest(string_split_regex(lower(p_name), '[^a-z0-9]+')) AS token
        FROM docs)
  WHERE token <> '' GROUP BY 1, 2),
nd AS (SELECT CAST(count(DISTINCT node) AS DOUBLE) AS n FROM idx),
hits AS (SELECT * FROM idx WHERE token IN ('red', 'widget', 'bolt')),
dfr AS (SELECT token, CAST(count(DISTINCT node) AS DOUBLE) AS df
        FROM hits GROUP BY 1),
scored AS (
  SELECT node, CAST(count(DISTINCT h.token) AS BIGINT) AS n_matched,
         round(sum(CAST(tf AS DOUBLE) * ln(1.0 + (SELECT n FROM nd) / df)), 6)
           AS score
  FROM hits h JOIN dfr USING (token) GROUP BY node)
SELECT node, n_matched, score,
       CAST(row_number() OVER (ORDER BY score DESC, node ASC) AS INT) AS rank
FROM scored ORDER BY score DESC, node ASC LIMIT 12""",
        "alg_sparql_pergraph": """
SELECT graph, s, v FROM (
  SELECT p_brand AS graph,
         'urn:part:' || CAST(p_partkey AS VARCHAR) AS s,
         CAST(CAST(p_retailprice * 100 AS BIGINT) AS VARCHAR) AS v,
         row_number() OVER (
           PARTITION BY p_brand
           ORDER BY CAST(p_retailprice * 100 AS BIGINT) DESC,
                    'urn:part:' || CAST(p_partkey AS VARCHAR) ASC) AS _rn
  FROM part) WHERE _rn <= 2""",
        "alg_text_search_bm25": """
WITH docs AS (
  SELECT 'urn:part:' || CAST(p_partkey AS VARCHAR) AS node, p_name FROM part),
idx AS (
  SELECT node, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT node,
               unnest(string_split_regex(lower(p_name), '[^a-z0-9]+')) AS token
        FROM docs)
  WHERE token <> '' GROUP BY 1, 2),
nd AS (SELECT CAST(count(DISTINCT node) AS DOUBLE) AS n FROM idx),
dl AS (SELECT node, CAST(sum(tf) AS DOUBLE) AS dl FROM idx GROUP BY 1),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
hits AS (SELECT * FROM idx WHERE token IN ('red', 'widget', 'bolt')),
dfr AS (SELECT token, CAST(count(DISTINCT node) AS DOUBLE) AS df
        FROM hits GROUP BY 1),
scored AS (
  SELECT node, CAST(count(DISTINCT h.token) AS BIGINT) AS n_matched,
         round(sum(
           ln(1.0 + ((SELECT n FROM nd) - df + 0.5) / (df + 0.5))
           * (CAST(tf AS DOUBLE) * 2.2)
           / (CAST(tf AS DOUBLE)
              + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM ad)))
         ), 6) AS score
  FROM hits h JOIN dfr USING (token) JOIN dl USING (node) GROUP BY node)
SELECT node, n_matched, score,
       CAST(row_number() OVER (ORDER BY score DESC, node ASC) AS INT) AS rank
FROM scored ORDER BY score DESC, node ASC LIMIT 12""",
        "alg_sparql_text_query": """
WITH docs AS (
  SELECT 'urn:part:' || CAST(p_partkey AS VARCHAR) AS node, p_name FROM part),
idx AS (
  SELECT node, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT node,
               unnest(string_split_regex(lower(p_name), '[^a-z0-9]+')) AS token
        FROM docs)
  WHERE token <> '' GROUP BY 1, 2),
nd AS (SELECT CAST(count(DISTINCT node) AS DOUBLE) AS n FROM idx),
hits AS (SELECT * FROM idx WHERE token IN ('red', 'widget', 'bolt')),
dfr AS (SELECT token, CAST(count(DISTINCT node) AS DOUBLE) AS df
        FROM hits GROUP BY 1),
scored AS (
  SELECT node,
         round(sum(CAST(tf AS DOUBLE) * ln(1.0 + (SELECT n FROM nd) / df)), 6)
           AS score
  FROM hits h JOIN dfr USING (token) GROUP BY node)
SELECT node AS s, CAST(score AS VARCHAR) AS score
FROM scored ORDER BY score DESC, node ASC LIMIT 12""",
        # versioned + aggs
        "ver_latest_event_per_user": """
SELECT user_id, event_id, event_type, round(value, 6) AS value FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS _rn
  FROM events) WHERE _rn = 1""",
        "ver_event_asof": """
SELECT user_id, event_id FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS _rn
  FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00') WHERE _rn = 1""",
        "ver_event_chain": """
SELECT user_id, event_id,
       lag(event_id) OVER w AS replaces, lead(event_id) OVER w AS is_replaced_by
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
        "agg_score_cap": "SELECT user_id, round(least(3.0, sum(value)), 6) AS capped_score FROM events GROUP BY user_id",
        "agg_single_member_groups": """
SELECT k, only_user FROM (
  SELECT CAST(regexp_extract(props, '[0-9]+') AS INT) AS k,
         count(DISTINCT user_id) AS n_users, max(user_id) AS only_user
  FROM events WHERE user_id < 5 GROUP BY 1) WHERE n_users = 1""",
        # DuckDB sums BIGINT into HUGEINT (int128) — pin the output back to
        # BIGINT so the value-hash canonicalization matches Spark's long
        "agg_extract_sum": """
SELECT event_type, CAST(sum(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS total_k,
       count(*) AS n FROM events GROUP BY event_type""",
        # relational
        "tpch_q1": """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
        "tpch_q3_revenue": """
SELECT l_orderkey, revenue FROM (
  SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_orderkey) WHERE revenue > 300000""",
        "join_broadcast_dim": """
SELECT r_name, count(*) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey GROUP BY r_name""",
        "win_running_total": """
SELECT o_orderkey, round(sum(o_totalprice) OVER (PARTITION BY o_custkey
  ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
  AS running_total FROM orders""",
        # dedup / text
        "dedup_exact": """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY md5(text)""",
        "dedup_minhash_sigs": f"""
WITH {_shingle_sql('documents', 3)}, {_minhash_sql(4)}
SELECT doc_id, h0, h1, h2, h3 FROM sigs""",
        # replicates the LSH banding exactly (md5-deterministic), then the
        # true-Jaccard verify — checks the candidate generation itself
        "dedup_minhash_pairs": f"""
WITH {_PAGES}, {_VDOCS}, {_shingle_sql('vdocs', 3)}, {_minhash_sql(16)},
bands AS (
  SELECT doc_id, 0 AS band, md5(concat_ws('|', h0, h1, h2, h3)) AS bucket FROM sigs
  UNION ALL SELECT doc_id, 1, md5(concat_ws('|', h4, h5, h6, h7)) FROM sigs
  UNION ALL SELECT doc_id, 2, md5(concat_ws('|', h8, h9, h10, h11)) FROM sigs
  UNION ALL SELECT doc_id, 3, md5(concat_ws('|', h12, h13, h14, h15)) FROM sigs),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
          AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT p.id_a, p.id_b, count(*) AS n_inter FROM pairs p
  JOIN sh a ON a.doc_id = p.id_a JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
  GROUP BY p.id_a, p.id_b),
jac AS (SELECT i.id_a, i.id_b,
  round(CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter), 6) AS jaccard
  FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b)
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.6""",
        "dedup_incremental": f"""
WITH {_PAGES}, {_VDOCS}, {_shingle_sql('vdocs', 3)}, {_minhash_sql(16)},
bands AS (
  SELECT doc_id, 0 AS band, md5(concat_ws('|', h0, h1, h2, h3)) AS bucket FROM sigs
  UNION ALL SELECT doc_id, 1, md5(concat_ws('|', h4, h5, h6, h7)) FROM sigs
  UNION ALL SELECT doc_id, 2, md5(concat_ws('|', h8, h9, h10, h11)) FROM sigs
  UNION ALL SELECT doc_id, 3, md5(concat_ws('|', h12, h13, h14, h15)) FROM sigs),
newb AS (SELECT * FROM bands WHERE doc_id % 10 = 2),
oldb AS (SELECT * FROM bands WHERE doc_id % 10 = 1),
cand AS (
  SELECT DISTINCT n.doc_id AS id_a, o.doc_id AS id_b, 'index' AS source
  FROM newb n JOIN oldb o ON n.band = o.band AND n.bucket = o.bucket
  UNION
  SELECT DISTINCT a.doc_id, b.doc_id, 'batch'
  FROM newb a JOIN newb b ON a.band = b.band AND a.bucket = b.bucket
     AND a.doc_id < b.doc_id),
est AS (
  SELECT c.id_a, c.id_b,
         round(CAST((CAST(sa.h0 = sb.h0 AS INT) + CAST(sa.h1 = sb.h1 AS INT) + CAST(sa.h2 = sb.h2 AS INT) + CAST(sa.h3 = sb.h3 AS INT) + CAST(sa.h4 = sb.h4 AS INT) + CAST(sa.h5 = sb.h5 AS INT) + CAST(sa.h6 = sb.h6 AS INT) + CAST(sa.h7 = sb.h7 AS INT) + CAST(sa.h8 = sb.h8 AS INT) + CAST(sa.h9 = sb.h9 AS INT) + CAST(sa.h10 = sb.h10 AS INT) + CAST(sa.h11 = sb.h11 AS INT) + CAST(sa.h12 = sb.h12 AS INT) + CAST(sa.h13 = sb.h13 AS INT) + CAST(sa.h14 = sb.h14 AS INT) + CAST(sa.h15 = sb.h15 AS INT)) AS DOUBLE) / 16, 6) AS est_jaccard, c.source
  FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b)
SELECT id_a, id_b, est_jaccard, source FROM est WHERE est_jaccard >= 0.5""",
        "dedup_ngram_jaccard": f"""
WITH {_PAGES}, {_VDOCS}, {_shingle_sql('vdocs', 3)}, {_JACCARD_PAIRS}
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.6""",
        "dedup_simhash": simhash_sql,
        "dedup_embedding": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(round(list_cosine_similarity(a.v, b.v), 6), 4) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4""",
        "dedup_embedding_lsh": embedding_lsh_sql,
        # minhash pairs → recursive-CTE connected components (min string
        # id per component — matches connected_components' contract) →
        # longest-text representative per cluster
        "dedup_cluster_reps": f"""
WITH RECURSIVE {_PAGES}, {_VDOCS}, {_shingle_sql('vdocs', 3)}, {_minhash_sql(16)},
bands AS (
  SELECT doc_id, 0 AS band, md5(concat_ws('|', h0, h1, h2, h3)) AS bucket FROM sigs
  UNION ALL SELECT doc_id, 1, md5(concat_ws('|', h4, h5, h6, h7)) FROM sigs
  UNION ALL SELECT doc_id, 2, md5(concat_ws('|', h8, h9, h10, h11)) FROM sigs
  UNION ALL SELECT doc_id, 3, md5(concat_ws('|', h12, h13, h14, h15)) FROM sigs),
cpairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
          AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT p.id_a, p.id_b, count(*) AS n_inter FROM cpairs p
  JOIN sh a ON a.doc_id = p.id_a JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
  GROUP BY p.id_a, p.id_b),
jac AS (SELECT i.id_a, i.id_b,
  round(CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter), 6) AS jaccard
  FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b),
pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.6),
edges AS (SELECT CAST(id_a AS VARCHAR) AS src, CAST(id_b AS VARCHAR) AS dst FROM pairs
          UNION SELECT CAST(id_b AS VARCHAR), CAST(id_a AS VARCHAR) FROM pairs),
nodes AS (SELECT DISTINCT src AS n FROM edges),
walk(n, c) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT e.dst, w.c FROM walk w JOIN edges e ON e.src = w.n),
comp AS (SELECT n, min(c) AS cluster FROM walk GROUP BY n),
members AS (SELECT v.doc_id, co.cluster, v.text FROM vdocs v
            JOIN comp co ON CAST(v.doc_id AS VARCHAR) = co.n),
ranked AS (SELECT doc_id, cluster, row_number() OVER (
             PARTITION BY cluster ORDER BY length(text) DESC, doc_id ASC) AS rn
           FROM members),
reps AS (SELECT cluster, doc_id AS rep_id FROM ranked WHERE rn = 1)
SELECT m.doc_id, m.cluster, r.rep_id, m.doc_id = r.rep_id AS keep
FROM members m JOIN reps r ON r.cluster = m.cluster""",
        # two unrolled Lloyd's iterations (rounded-cosine argmax
        # assignment; per-dimension 6dp-rounded means) over the md5-bucket
        # seed centroids, then the standard IVF probe/rank
        "sim_ivf_kmeans": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bkt AS (SELECT vec_id, CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS b FROM e),
reps AS (SELECT b, min(vec_id) AS centroid_id FROM bkt GROUP BY b),
cen0 AS (SELECT centroid_id, v AS cv FROM reps JOIN e ON e.vec_id = reps.centroid_id),
asn1 AS (SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC) AS rn
    FROM e CROSS JOIN cen0 c) WHERE rn = 1),
cen1 AS (SELECT centroid_id, list(val ORDER BY i) AS cv FROM (
    SELECT a.centroid_id, t.i, round(avg(e.v[t.i + 1]), 6) AS val
    FROM asn1 a JOIN e ON e.vec_id = a.vec_id CROSS JOIN range(64) t(i)
    GROUP BY a.centroid_id, t.i) GROUP BY centroid_id),
asn2 AS (SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC) AS rn
    FROM e CROSS JOIN cen1 c) WHERE rn = 1),
cen2 AS (SELECT centroid_id, list(val ORDER BY i) AS cv FROM (
    SELECT a.centroid_id, t.i, round(avg(e.v[t.i + 1]), 6) AS val
    FROM asn2 a JOIN e ON e.vec_id = a.vec_id CROSS JOIN range(64) t(i)
    GROUP BY a.centroid_id, t.i) GROUP BY centroid_id),
asn AS (SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC) AS rn
    FROM e CROSS JOIN cen2 c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
probes AS (SELECT query_id, centroid_id, qv FROM (
    SELECT q.query_id, c.centroid_id, q.qv,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.centroid_id ASC) AS rn
    FROM q CROSS JOIN cen2 c) WHERE rn <= 2),
scored AS (SELECT p.query_id, a.vec_id, round(list_cosine_similarity(p.qv, e.v), 6) AS cosine
           FROM probes p JOIN asn a ON a.centroid_id = p.centroid_id
           JOIN e ON e.vec_id = a.vec_id
           WHERE a.vec_id <> p.query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored)
SELECT query_id, vec_id, rank, round(cosine, 4) AS cosine FROM r WHERE rank <= 5""",
        # full PQ path: per-subspace md5-bucket codebooks, rounded-L2
        # argmin encoding, per-query LUT, ADC sum of 6dp-rounded partial
        # dots, top-20 candidates, exact-cosine re-rank
        "sim_pq_topk": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sub AS (SELECT vec_id, s.i AS subspace, list_slice(v, s.i * 8 + 1, s.i * 8 + 8) AS sv
        FROM e CROSS JOIN range(8) s(i)),
codebkt AS (SELECT vec_id, subspace,
    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':' || CAST(subspace AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS code
    FROM sub),
creps AS (SELECT subspace, code, min(vec_id) AS rep FROM codebkt GROUP BY subspace, code),
books AS (SELECT r.subspace, r.code, s.sv AS codeword
          FROM creps r JOIN sub s ON s.vec_id = r.rep AND s.subspace = r.subspace),
enc AS (SELECT vec_id, subspace, code FROM (
    SELECT s.vec_id, s.subspace, b.code,
           row_number() OVER (PARTITION BY s.vec_id, s.subspace
             ORDER BY round(list_distance(s.sv, b.codeword), 6) ASC, b.code ASC) AS rn
    FROM sub s JOIN books b ON b.subspace = s.subspace) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
lut AS (SELECT q.query_id, b.subspace, b.code,
        round(list_dot_product(list_slice(q.qv, b.subspace * 8 + 1, b.subspace * 8 + 8), b.codeword), 6) AS pd
        FROM q CROSS JOIN books b),
adc AS (SELECT l.query_id, en.vec_id, round(sum(l.pd), 6) AS adc
        FROM enc en JOIN lut l ON l.subspace = en.subspace AND l.code = en.code
        WHERE en.vec_id <> l.query_id GROUP BY l.query_id, en.vec_id),
cand AS (SELECT query_id, vec_id, adc FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id ASC) AS rn
    FROM adc) WHERE rn <= 20),
exact AS (SELECT c.query_id, c.vec_id, c.adc,
          round(list_cosine_similarity(q.qv, e.v), 6) AS cosine
          FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank FROM exact)
SELECT query_id, vec_id, rank, round(adc, 4) AS adc, round(cosine, 4) AS cosine FROM r WHERE rank <= 5""",
        # replicates the IVF path end-to-end: fixed-K md5-bucket centroid
        # selection, rounded-cosine assignment argmax, per-query top-2
        # probe, rank within probed partitions
        "sim_ivf_topk": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bkt AS (SELECT vec_id, CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS b FROM e),
reps AS (SELECT b, min(vec_id) AS centroid_id FROM bkt GROUP BY b),
cen AS (SELECT centroid_id, v AS cv FROM reps JOIN e ON e.vec_id = reps.centroid_id),
asn AS (SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC) AS rn
    FROM e CROSS JOIN cen c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
probes AS (SELECT query_id, centroid_id, qv FROM (
    SELECT q.query_id, c.centroid_id, q.qv,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.centroid_id ASC) AS rn
    FROM q CROSS JOIN cen c) WHERE rn <= 2),
scored AS (SELECT p.query_id, a.vec_id, round(list_cosine_similarity(p.qv, e.v), 6) AS cosine
           FROM probes p JOIN asn a ON a.centroid_id = p.centroid_id
           JOIN e ON e.vec_id = a.vec_id
           WHERE a.vec_id <> p.query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored)
SELECT query_id, vec_id, rank, round(cosine, 4) AS cosine FROM r WHERE rank <= 5""",
        "sim_topk": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (SELECT q.query_id, e.vec_id, round(list_cosine_similarity(qv, v), 6) AS cosine
           FROM e JOIN q ON e.vec_id <> q.query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored)
SELECT query_id, vec_id, rank, round(cosine, 4) AS cosine FROM r WHERE rank <= 5""",
        "text_stats": """
WITH t AS (SELECT doc_id, text,
  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks FROM documents)
SELECT doc_id, len(toks) AS n_tokens,
  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS bpe_tokens,
  round(CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(list_transform(toks, x -> lower(x)),
    x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS DOUBLE) / len(toks)
    ELSE 0.0 END, 6) AS stopword_ratio,
  round(CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(list_transform(toks, x -> lower(x)))) AS DOUBLE) / len(toks)
    ELSE 0.0 END, 6) AS distinct_ratio,
  CASE WHEN (CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(list_transform(toks, x -> lower(x)),
    x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS DOUBLE) / len(toks)
    ELSE 0.0 END) >= 0.05 THEN 'en' ELSE 'unknown' END AS lang_guess
FROM t""",
        "text_corpus_filter": """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 100 = 0),
tok AS (SELECT doc_id, text,
  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks FROM corpus),
stats AS (SELECT doc_id, len(toks) AS n_tokens,
  round(((CASE WHEN len(toks) BETWEEN 20 AND 10000 THEN 1.0 ELSE 0.5 END)
   + (CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(list_transform(toks, x -> lower(x)))) AS DOUBLE) / len(toks) ELSE 0.0 END)
   + (CASE WHEN CAST(length(regexp_replace(text, '[^!?.,;:]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) <= 0.2 THEN 1.0 ELSE 0.0 END)
  ) / 3.0, 6) AS quality,
  CASE WHEN (CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(list_transform(toks, x -> lower(x)),
    x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS DOUBLE) / len(toks) ELSE 0.0 END) >= 0.05
    THEN 'en' ELSE 'unknown' END AS lang_guess,
  md5(text) AS fp
  FROM tok),
lt AS (SELECT doc_id, list_filter(list_transform(string_split_regex(text, '\\s+'), x -> lower(x)), x -> x <> '') AS tk FROM corpus),
b AS (SELECT doc_id, tk, len(tk) AS n FROM lt),
g2 AS (SELECT doc_id, unnest(list_transform(range(n - 1), i -> tk[i+1] || ' ' || tk[i+2])) AS g FROM b WHERE n >= 2),
c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
t2 AS (SELECT doc_id, max(c) AS mx2 FROM c2 GROUP BY 1),
g3 AS (SELECT doc_id, unnest(list_transform(range(n - 2), i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS g FROM b WHERE n >= 3),
c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
t3 AS (SELECT doc_id, sum(c) AS d3 FROM c3 WHERE c > 1 GROUP BY 1),
rep AS (SELECT b.doc_id,
  round(CASE WHEN b.n > 0 THEN least(1.0, coalesce(CAST(t2.mx2 AS DOUBLE) * 2 / b.n, 0.0)) ELSE 0.0 END, 6) AS top_bigram_frac,
  round(CASE WHEN b.n > 0 THEN least(1.0, coalesce(CAST(t3.d3 AS DOUBLE) * 3 / b.n, 0.0)) ELSE 0.0 END, 6) AS dup_trigram_frac
  FROM b LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)),
fst AS (SELECT fp, min(doc_id) AS keep_id FROM stats GROUP BY 1),
j AS (SELECT s.doc_id, s.n_tokens, s.quality, r.top_bigram_frac, r.dup_trigram_frac,
             s.lang_guess,
  list_sort(list_filter([
    CASE WHEN s.n_tokens < 20 THEN 'too_short' END,
    CASE WHEN s.quality < 0.75 THEN 'low_quality' END,
    CASE WHEN s.lang_guess <> 'en' THEN 'non_english' END,
    CASE WHEN r.top_bigram_frac > 0.2 THEN 'repetitive_bigram' END,
    CASE WHEN r.dup_trigram_frac > 0.2 THEN 'repetitive_trigram' END,
    CASE WHEN s.doc_id <> f.keep_id THEN 'exact_dup' END
  ], x -> x IS NOT NULL)) AS reasons
  FROM stats s JOIN rep r USING (doc_id) JOIN fst f USING (fp))
SELECT doc_id, n_tokens, quality, top_bigram_frac, dup_trigram_frac, lang_guess,
  coalesce(array_to_string(reasons, ','), '') AS drop_reasons,
  coalesce(len(reasons), 0) = 0 AS keep
FROM j""",
        "text_scrub": _text_scrub_sql(),
        "dedup_spans": """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pg0 AS (SELECT doc_id, unnest(list_transform(range(greatest(len(t)-9, 1)),
          i -> {'pos': i, 'gram': array_to_string(list_slice(t, i+1, i+10), ' ')})) AS u
        FROM d),
pg AS (SELECT doc_id, u['pos'] AS pos, u['gram'] AS gram FROM pg0
       WHERE len(u['gram']) > 0),
dup AS (SELECT gram FROM pg GROUP BY gram HAVING count(*) > 1),
fl AS (SELECT doc_id, pos FROM pg WHERE gram IN (SELECT gram FROM dup)),
nf AS (SELECT doc_id, pos,
         CASE WHEN pos - coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), -2) > 1
              THEN 1 ELSE 0 END AS newflag
       FROM fl),
isl AS (SELECT doc_id, pos,
          sum(newflag) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        FROM nf)
SELECT doc_id, min(pos) AS span_start, max(pos) + 9 AS span_end,
       max(pos) + 10 - min(pos) AS n_tokens
FROM isl GROUP BY doc_id, isl""",
        "text_decontaminate": """
WITH bench AS (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 97 = 0),
bg0 AS (SELECT unnest(list_transform(range(greatest(len(t)-7, 1)),
          i -> array_to_string(list_slice(t, i+1, i+8), ' '))) AS shingle FROM bench),
bg AS (SELECT DISTINCT shingle FROM bg0 WHERE len(shingle) > 0),
corp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id % 97 <> 0),
cg0 AS (SELECT doc_id, unnest(list_transform(range(greatest(len(t)-7, 1)),
          i -> array_to_string(list_slice(t, i+1, i+8), ' '))) AS shingle FROM corp),
cg AS (SELECT DISTINCT doc_id, shingle FROM cg0 WHERE len(shingle) > 0),
hits AS (SELECT doc_id, count(*) AS n FROM cg JOIN bg USING (shingle) GROUP BY 1)
SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
       coalesce(h.n, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
LEFT JOIN hits h USING (doc_id)""",
        "text_url_dedup": r"""
WITH dd AS (SELECT doc_id AS d FROM documents),
u AS (SELECT
  (CASE d % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https' ELSE 'HTTPS' END) || '://' ||
  (CASE WHEN d % 2 = 0 THEN 'EX' ELSE 'ex' END) || CAST(d % 5 AS VARCHAR) || '.Example.ORG' ||
  (CASE d % 4 WHEN 0 THEN ':443' WHEN 1 THEN ':8080' ELSE '' END) ||
  '/p/' || CAST(d % 1000 AS VARCHAR) ||
  (CASE WHEN d % 2 = 0 THEN '/' ELSE '' END) ||
  (CASE d % 3 WHEN 0 THEN '?utm_source=tw&b=2&a=1' WHEN 1 THEN '?b=2&a=1&fbclid=xyz' ELSE '' END) ||
  (CASE WHEN d % 5 = 0 THEN '#frag' ELSE '' END) AS url
 FROM dd),
parts AS (SELECT url,
  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
  regexp_replace(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS rest
 FROM u),
comp AS (SELECT url, scheme,
  lower(regexp_extract(regexp_extract(rest, '^([^/?]*)', 1), '^([^:]*)', 1)) AS host,
  regexp_extract(regexp_extract(rest, '^([^/?]*)', 1), ':(\d+)$', 1) AS port,
  regexp_extract(rest, '^[^/?]*([^?]*)', 1) AS path,
  array_to_string(list_sort(list_filter(string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
    x -> x <> '' AND NOT starts_with(lower(x), 'utm_')
      AND NOT list_contains(['fbclid', 'gclid', 'msclkid'],
                            lower(regexp_extract(x, '^([^=]*)', 1))))), '&') AS qnorm
 FROM parts),
norm AS (SELECT url,
  scheme || '://' || host ||
  (CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                                 OR (scheme = 'https' AND port = '443'))
        THEN ':' || port ELSE '' END) ||
  (CASE WHEN path = '' THEN '/'
        WHEN length(path) > 1 AND path LIKE '%/'
        THEN substring(path, 1, length(path) - 1)
        ELSE path END) ||
  (CASE WHEN qnorm <> '' THEN '?' || qnorm ELSE '' END) AS canonical_url
 FROM comp)
SELECT canonical_url, count(*) AS n_urls, min(url) AS survivor_url
FROM norm GROUP BY 1""",
        "fn_variation_expressions": """
WITH e AS (
  SELECT event_id, user_id,
         'NC_' || lpad(CAST(user_id % 4 AS VARCHAR), 6, '0') || '.11' AS acc,
         CAST(user_id % 1000 AS VARCHAR) AS s,
         CAST(user_id % 1000 + event_id % 10 AS VARCHAR) AS st,
         event_id % 4 AS c,
         CASE WHEN event_id % 5 <> 0 THEN CAST(event_id % 10 AS BIGINT) END AS vl
  FROM events)
SELECT event_id AS variation_id, 1 AS rank,
       acc || ':' || s || ':A:T' AS expr, 'spdi' AS expr_type,
       'SPDI' AS label, acc AS accession, s AS loc_start, st AS loc_stop,
       vl AS variant_length
FROM e WHERE c = 0
UNION ALL
SELECT event_id, 2, acc || ':g.' || s || 'A>T', 'hgvs', 'GRCh38',
       acc, s, st, vl FROM e WHERE c <= 1
UNION ALL
SELECT event_id, 3, acc || ':g.' || s || 'A>C', 'hgvs', 'GRCh37',
       acc, s, st, vl FROM e WHERE c <= 2
UNION ALL
SELECT event_id, 4, 'clinvar:' || CAST(event_id AS VARCHAR), 'text', 'Text',
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT)
FROM e""",
        "text_domain_mix": """
WITH b AS (SELECT doc_id, source,
  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|mix'), 1, 8)) AS BIGINT) AS bucket
  FROM documents),
kept AS (SELECT * FROM b WHERE bucket < CASE source
    WHEN 'src0' THEN 4294967296 WHEN 'src1' THEN 2147483648
    WHEN 'src2' THEN 1073741824 WHEN 'src3' THEN 429496729
    ELSE 214748364 END)
SELECT source, count(*) AS n_kept, min(doc_id) AS min_doc FROM kept GROUP BY source""",
        "text_split": """
WITH b AS (SELECT doc_id,
  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split-v1'), 1, 8)) AS BIGINT) % 100 AS bucket
  FROM documents),
a AS (SELECT doc_id,
  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
  FROM b)
SELECT split, count(*) AS n_docs, min(doc_id) AS min_doc FROM a GROUP BY split""",
        "src_url_filter": f"""
WITH {_PAGES},
d AS (SELECT DISTINCT url, regexp_extract(url, '^https?://([^/]+)', 1) AS domain FROM pages)
SELECT domain, count(DISTINCT url) AS n_urls,
       domain IN ('ex3.example.org') AS blocked
FROM d GROUP BY domain""",
        "text_repetition": """
WITH base AS (SELECT doc_id,
  list_filter(list_transform(string_split_regex(text, '\\s+'), x -> lower(x)), x -> x <> '') AS tk
  FROM documents),
b AS (SELECT doc_id, tk, len(tk) AS n FROM base),
g2 AS (SELECT doc_id, unnest(list_transform(range(n - 1), i -> tk[i+1] || ' ' || tk[i+2])) AS g
       FROM b WHERE n >= 2),
c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
t2 AS (SELECT doc_id, max(c) AS mx2 FROM c2 GROUP BY 1),
g3 AS (SELECT doc_id, unnest(list_transform(range(n - 2), i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS g
       FROM b WHERE n >= 3),
c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
t3 AS (SELECT doc_id, sum(c) AS d3 FROM c3 WHERE c > 1 GROUP BY 1)
SELECT b.doc_id, b.n AS n_tokens,
  round(CASE WHEN b.n > 0 THEN least(1.0, coalesce(CAST(t2.mx2 AS DOUBLE) * 2 / b.n, 0.0)) ELSE 0.0 END, 6) AS top_bigram_frac,
  round(CASE WHEN b.n > 0 THEN least(1.0, coalesce(CAST(t3.d3 AS DOUBLE) * 3 / b.n, 0.0)) ELSE 0.0 END, 6) AS dup_trigram_frac
FROM b LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)""",
        "text_fingerprints": """
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id, md5(text) AS fp,
  list_min(list_transform(range(greatest(len(toks)-2, 1)),
    i -> md5(array_to_string(list_slice(toks, i+1, i+3), ' ')))) AS rfp
FROM t""",
        "multimodal_decode": """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(strlen(text) AS INT) AS n_bytes
FROM documents""",
        "kg_replaces_superseded": """
WITH cur AS (SELECT 'urn:curation:' || CAST(event_id AS VARCHAR) AS graph,
                    user_id % 20 AS gene, user_id % 7 AS disease, event_type AS moi,
                    ts, event_id FROM events),
newest AS (SELECT * FROM (
  SELECT *, row_number() OVER (PARTITION BY gene, disease, moi
            ORDER BY ts DESC, event_id DESC) AS rn FROM cur) WHERE rn = 1)
SELECT n.graph AS graph, o.graph AS supersedes
FROM newest n JOIN cur o ON n.gene = o.gene AND n.disease = o.disease AND n.moi = o.moi
WHERE o.graph <> n.graph""",
        # NULL pinning matches validate.with_violations: a NULL-valued
        # check counts as a violation (x IS NULL OR NOT pred)
        "kg_validation_report": f"""
WITH {_PAGES}
SELECT reason, n FROM (
  SELECT 'text:required' AS reason, count(*) AS n FROM pages WHERE text IS NULL OR text = ''
  UNION ALL
  SELECT 'version:range', count(*) FROM pages
  WHERE version IS NULL OR NOT (version >= 1 AND version <= 2)
  UNION ALL
  SELECT 'url:pattern', count(*) FROM pages
  WHERE url IS NULL OR NOT regexp_matches(url, '^https://')
  UNION ALL
  SELECT 'lang:required', count(*) FROM pages WHERE lang IS NULL OR lang = ''
) WHERE n > 0""",
        # Turtle line construction replicated exactly: bnodes verbatim,
        # IRIs angle-bracketed, literals escaped (backslash first) with
        # datatype tags; string_agg ordered by line == sort_array
        "kg_turtle_docs": f"""
WITH t AS ({_TRIPLES_SQL}),
lines AS (SELECT graph,
  (CASE WHEN subject LIKE '!_:%' ESCAPE '!' THEN subject ELSE '<' || subject || '>' END)
  || ' <' || predicate || '> ' ||
  (CASE WHEN object_is_iri THEN
          (CASE WHEN object LIKE '!_:%' ESCAPE '!' THEN object ELSE '<' || object || '>' END)
        ELSE '"' || replace(replace(replace(replace(replace(object,
               '\\', '\\\\'), '"', '\\"'), chr(10), '\\n'), chr(13), '\\r'), chr(9), '\\t') || '"'
             || (CASE WHEN object_datatype IS NOT NULL THEN '^^<' || object_datatype || '>' ELSE '' END)
   END) || ' .' AS line
  FROM t)
SELECT graph, string_agg(line, chr(10) ORDER BY line) AS turtle FROM lines GROUP BY graph""",
        # replicates the in-pipeline shape-registry dispatch: WebPage rows
        # validate content constraints, tombstones only the common ones;
        # violation names sorted, joined — same perturbation as the query
        "kg_quarantine": f"""
WITH {_PAGES},
pert AS (SELECT url, version, tombstone,
    CASE WHEN doc_id % 37 = 0 THEN NULL ELSE text END AS text,
    CASE WHEN doc_id % 41 = 0 THEN NULL ELSE lang END AS lang
  FROM pages),
v AS (SELECT url, version, list_sort(list_filter([
    CASE WHEN NOT tombstone AND text IS NULL THEN 'html:decodable' END,
    CASE WHEN NOT tombstone AND (lang IS NULL OR lang = '') THEN 'lang:required' END,
    CASE WHEN url IS NULL OR NOT regexp_matches(url, '^https://') THEN 'url:pattern' END,
    CASE WHEN version IS NULL OR NOT (version >= 1 AND version <= 3) THEN 'version:range' END
  ], x -> x IS NOT NULL)) AS vio FROM pert)
SELECT url, version, array_to_string(vio, ',') AS reasons FROM v WHERE len(vio) > 0""",
        "kg_jsonld_compact": f"""
WITH t AS ({_TRIPLES_SQL}),
c AS (SELECT graph,
        {_curie_case_sql("subject")} AS subject,
        {_curie_case_sql("predicate")} AS predicate,
        CASE WHEN object_is_iri THEN {_curie_case_sql("object")} ELSE object END AS object,
        object_is_iri,
        coalesce({_curie_case_sql("object_datatype")}, '') AS object_datatype
      FROM t),
g AS (SELECT graph,
        list_sort(list(struct_pack(subject := subject, predicate := predicate,
          object := object, object_is_iri := object_is_iri,
          object_datatype := object_datatype))) AS triples
      FROM c GROUP BY graph)
SELECT graph, {fixtures._sql_quote('{"@context":' + __import__("json").dumps(__import__("genegraph_spark.functions.serialize", fromlist=["jsonld_context"]).jsonld_context(), sort_keys=True, separators=(",", ":")) + ',"@id":"')}
  || replace(replace(graph, '\\', '\\\\'), '"', '\\"') || {fixtures._sql_quote('","triples":')}
  || CAST(to_json(triples) AS VARCHAR) || '}}' AS doc
FROM g""",
        "kg_jsonld_docs": f"""
WITH t AS ({_TRIPLES_SQL}),
g AS (SELECT graph,
        list_sort(list(struct_pack(subject := subject, predicate := predicate,
          object := object, object_is_iri := object_is_iri,
          object_datatype := coalesce(object_datatype, '')))) AS triples
      FROM t GROUP BY graph)
SELECT graph, CAST(to_json(struct_pack(graph := graph, triples := triples)) AS VARCHAR) AS doc FROM g""",
        "agg_collect_pivot": f"""
WITH {_GEO_TRIPLES}
SELECT s AS subject, p AS predicate,
       array_to_string(list_sort(list(o)), '|') AS objects,
       count(o) AS n_objects
FROM geo WHERE p IN (':name', ':in-region', ':segment') GROUP BY s, p""",
        "src_json_nested": """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS total_k,
       count(*) AS n
FROM events GROUP BY event_type""",
        "src_event_archive": """
SELECT 'events' AS topic, CAST(event_id % 4 AS INT) AS partition, event_type,
       count(*) AS n, max(event_id) AS max_offset
FROM events GROUP BY 2, 3""",
        "fn_cnv_parse": """
SELECT o_orderkey,
  CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE 'GRCh38' END AS assembly,
  CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE CAST(o_orderkey % 22 + 1 AS VARCHAR) END AS chrom,
  CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE CAST(o_orderkey * 100 AS BIGINT) END AS start_pos,
  CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE CAST(o_orderkey * 100 + o_orderkey % 1000 AS BIGINT) END AS end_pos,
  CASE WHEN o_orderkey % 13 = 0 THEN NULL WHEN o_orderkey % 7 = 0 THEN 'DEL' ELSE 'DUP' END AS svtype
FROM orders""",
        # recomputes every parsed field arithmetically from the same
        # deterministic corpus (branch priority mirrors the F.when chain:
        # %13 garbage → %5 uncertain ('?' bounds when %10) → %3 point → range)
        "fn_hgvs_parse": """
WITH k AS (SELECT o_orderkey, o_orderkey AS kk FROM orders)
SELECT o_orderkey,
  CASE WHEN kk % 13 = 0 THEN NULL
       WHEN kk % 5 = 0 THEN 'NC_0000' || CAST(kk % 22 + 1 AS VARCHAR) || '.' || CAST(kk % 9 + 1 AS VARCHAR)
       WHEN kk % 3 = 0 THEN 'NM_' || CAST(kk % 31 + 1 AS VARCHAR) || '.2'
       ELSE 'NC_0000' || CAST(kk % 22 + 1 AS VARCHAR) || '.' || CAST(kk % 9 + 1 AS VARCHAR) END AS accession,
  CASE WHEN kk % 13 = 0 THEN NULL
       WHEN kk % 5 = 0 THEN 'g' WHEN kk % 3 = 0 THEN 'c' ELSE 'g' END AS sequence_type,
  CAST(CASE WHEN kk % 13 = 0 THEN NULL
       WHEN kk % 5 = 0 THEN (CASE WHEN kk % 10 = 0 THEN NULL ELSE kk * 10 END)
       WHEN kk % 3 = 0 THEN kk + 7 ELSE kk * 100 END AS BIGINT) AS start_lo,
  CAST(CASE WHEN kk % 13 = 0 THEN NULL
       WHEN kk % 5 = 0 THEN kk * 10 + 5
       WHEN kk % 3 = 0 THEN kk + 7 ELSE kk * 100 END AS BIGINT) AS start_hi,
  CAST(CASE WHEN kk % 13 = 0 THEN NULL
       WHEN kk % 5 = 0 THEN kk * 10 + 100
       WHEN kk % 3 = 0 THEN kk + 7 ELSE kk * 100 + kk % 50 END AS BIGINT) AS end_lo,
  CAST(CASE WHEN kk % 13 = 0 THEN NULL
       WHEN kk % 5 = 0 THEN (CASE WHEN kk % 10 = 0 THEN NULL ELSE kk * 10 + 105 END)
       WHEN kk % 3 = 0 THEN kk + 7 ELSE kk * 100 + kk % 50 END AS BIGINT) AS end_hi,
  CASE WHEN kk % 13 = 0 THEN NULL
       WHEN kk % 5 = 0 THEN 'del' WHEN kk % 3 = 0 THEN 'A>T' ELSE 'dup' END AS op,
  CASE WHEN kk % 13 = 0 THEN NULL
       WHEN kk % 5 = 0 THEN 'uncertain' WHEN kk % 3 = 0 THEN 'point' ELSE 'range' END AS form,
  CAST(CASE WHEN kk % 13 = 0 THEN NULL
       WHEN kk % 5 = 0 THEN (CASE WHEN kk % 10 = 0 THEN 96 ELSE 106 END)
       WHEN kk % 3 = 0 THEN 1 ELSE kk % 50 + 1 END AS BIGINT) AS span
FROM k""",
        "cur_gene_disease_pairs": f"""
WITH t AS ({_TRIPLES_SQL}),
m AS (SELECT subject AS page, object AS entity FROM t WHERE predicate = '{I.P_MENTIONS}'),
ty AS (SELECT subject AS entity, object AS tp FROM t WHERE predicate = '{I.RDF_TYPE}')
SELECT g.entity AS gene, d.entity AS disease, count(DISTINCT mg.page) AS n_pages
FROM m mg JOIN ty g ON mg.entity = g.entity AND g.tp = '{I.TYPE_IRIS["gene"]}'
JOIN m md ON md.page = mg.page
JOIN ty d ON md.entity = d.entity AND d.tp = '{I.TYPE_IRIS["disease"]}'
GROUP BY 1, 2""",
        "cur_activities": f"""
WITH t AS ({_TRIPLES_SQL}), {_CUR_TAGGED}
{_CUR_ACTS_SELECT}""",
        "agg_rollup": """
SELECT event_type, CAST(ts AS DATE) AS day,
       count(*) AS n, round(sum(value), 4) AS total
FROM events GROUP BY ROLLUP (event_type, day)""",
        "agg_pivot_wide": """
SELECT user_id,
  CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS n_click,
  CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS n_view,
  CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS n_purchase,
  CAST(coalesce(sum(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS n_signup,
  CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS n_error
FROM events GROUP BY user_id""",
        "win_ntile": """
SELECT c_custkey,
       ntile(10) OVER w AS decile,
       round(percent_rank() OVER w, 6) AS pct_rank
FROM customer WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey ASC)""",
        "agg_percentiles": """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       count(*) AS n
FROM events GROUP BY event_type""",
        "ver_sessionize": """
WITH g AS (
  SELECT user_id, event_id, ts,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
n AS (
  SELECT user_id, ts,
         CAST(sum(CASE WHEN gap IS NULL OR gap > 30 * 60 * 1000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
  FROM g)
SELECT user_id, session_no, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM n GROUP BY user_id, session_no""",
        "kg_rdfxml_docs": f"""
WITH t AS ({_TRIPLES_SQL}),
e AS (SELECT graph, subject, object, object_is_iri, object_datatype,
        regexp_extract(predicate, '([^/#]+)$', 1) AS loc,
        substring(predicate, 1, length(predicate) -
          length(regexp_extract(predicate, '([^/#]+)$', 1))) AS ns
      FROM t),
x AS (SELECT graph, subject,
        '    <p:' || loc || ' xmlns:p="' || {_XESC('ns')} || '"' ||
        CASE WHEN object_is_iri THEN
          (CASE WHEN object LIKE '!_:%' ESCAPE '!'
                THEN ' rdf:nodeID="' || {_XESC("substring(object, 3)")} || '"'
                ELSE ' rdf:resource="' || {_XESC('object')} || '"' END) || '/>'
        ELSE
          (CASE WHEN object_datatype IS NOT NULL
                THEN ' rdf:datatype="' || {_XESC('object_datatype')} || '"'
                ELSE '' END)
          || '>' || {_XESC('object')} || '</p:' || loc || '>'
        END AS prop
      FROM e),
blocks AS (SELECT graph, subject,
        '  <rdf:Description ' ||
        (CASE WHEN subject LIKE '!_:%' ESCAPE '!'
              THEN 'rdf:nodeID="' || {_XESC("substring(subject, 3)")} || '"'
              ELSE 'rdf:about="' || {_XESC('subject')} || '"' END)
        || '>' || chr(10) || string_agg(prop, chr(10) ORDER BY prop)
        || chr(10) || '  </rdf:Description>' AS block
      FROM x GROUP BY graph, subject)
SELECT graph,
       '<?xml version="1.0" encoding="utf-8"?>' || chr(10) ||
       '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">' || chr(10) ||
       string_agg(block, chr(10) ORDER BY block) || chr(10) || '</rdf:RDF>' AS rdfxml
FROM blocks GROUP BY graph""",
        "kg_nested_shapes": f"""
WITH t AS ({_TRIPLES_SQL}),
mfocus AS (SELECT DISTINCT subject AS focus FROM t
           WHERE predicate = '{I.RDF_TYPE}' AND object = '{I.C_MENTION}'),
mcanon AS (SELECT subject AS focus, count(*) AS n,
                  sum(CASE WHEN NOT object_is_iri THEN 1 ELSE 0 END) AS badkind
           FROM t WHERE predicate = '{I.P_CANONICAL}' GROUP BY 1),
mpos AS (SELECT subject AS focus, count(*) AS n,
                sum(CASE WHEN object_is_iri OR coalesce(object_datatype, '') <> '{I.XSD_INTEGER}'
                    THEN 1 ELSE 0 END) AS baddt,
                sum(CASE WHEN CAST(object AS DOUBLE) > 9 THEN 1 ELSE 0 END) AS badmax
         FROM t WHERE predicate = '{I.P_POSITION}' GROUP BY 1),
mviol AS (
  SELECT f.focus,
         list_sort(list_filter([
           CASE WHEN coalesce(c.n, 0) < 1 THEN '{I.P_CANONICAL}:minCount' END,
           CASE WHEN coalesce(c.badkind, 0) > 0 THEN '{I.P_CANONICAL}:nodeKind' END,
           CASE WHEN coalesce(p.n, 0) < 1 THEN '{I.P_POSITION}:minCount' END,
           CASE WHEN coalesce(p.baddt, 0) > 0 THEN '{I.P_POSITION}:datatype' END,
           CASE WHEN coalesce(p.badmax, 0) > 0 THEN '{I.P_POSITION}:maxInclusive' END
         ], x -> x IS NOT NULL)) AS violations
  FROM mfocus f LEFT JOIN mcanon c USING (focus) LEFT JOIN mpos p USING (focus)),
mok AS (SELECT focus FROM mviol WHERE len(violations) = 0),
pfocus AS (SELECT DISTINCT subject AS focus FROM t
           WHERE predicate = '{I.RDF_TYPE}' AND object = '{I.C_WEBPAGE}'),
plang AS (SELECT subject AS focus, count(*) AS n,
                 sum(CASE WHEN object_is_iri OR coalesce(object_datatype, '') <> '{I.XSD_STRING}'
                     THEN 1 ELSE 0 END) AS baddt
          FROM t WHERE predicate = '{I.P_LANG}' GROUP BY 1),
phm AS (SELECT h.subject AS focus,
               sum(CASE WHEN mok.focus IS NULL THEN 1 ELSE 0 END) AS badnode
        FROM t h LEFT JOIN mok ON mok.focus = h.object
        WHERE h.predicate = '{I.P_HAS_MENTION}' GROUP BY 1),
pviol AS (
  SELECT f.focus,
         list_sort(list_filter([
           CASE WHEN coalesce(l.n, 0) < 1 THEN '{I.P_LANG}:minCount' END,
           CASE WHEN coalesce(l.baddt, 0) > 0 THEN '{I.P_LANG}:datatype' END,
           CASE WHEN coalesce(h.badnode, 0) > 0 THEN '{I.P_HAS_MENTION}:node' END
         ], x -> x IS NOT NULL)) AS violations
  FROM pfocus f LEFT JOIN plang l USING (focus) LEFT JOIN phm h USING (focus))
SELECT focus, 'MentionShape' AS shape,
       coalesce(array_to_string(violations, ','), '') AS violations,
       len(violations) = 0 AS conforms
FROM mviol
UNION ALL
SELECT focus, 'PageShape',
       coalesce(array_to_string(violations, ','), ''), len(violations) = 0
FROM pviol""",
        "cur_affiliations": f"""
WITH {_CUR_ASSERTIONS}
SELECT affiliation, count(*) AS n_assertions,
       count(DISTINCT gene) AS n_genes,
       count(DISTINCT disease) AS n_diseases,
       count(DISTINCT gene || '|' || disease || '|' || moi) AS n_conditions
FROM cura GROUP BY affiliation""",
        "cur_condition_cards": """
WITH legs AS (
  SELECT 'urn:disease:' || CAST(user_id % 7 AS VARCHAR) AS disease,
         ts AS date, 'GENE_VALIDITY' AS activity FROM events
  UNION ALL
  SELECT 'urn:disease:' || CAST(user_id % 7 AS VARCHAR), ts, 'ACTIONABILITY'
  FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT 'urn:disease:' || CAST((user_id % 20) % 7 AS VARCHAR), ts, 'GENE_DOSAGE'
  FROM events WHERE event_id % 3 = 0)
SELECT disease,
       max(date) AS last_curated_date,
       max(CASE WHEN activity = 'GENE_VALIDITY' THEN date END) AS last_gene_validity_date,
       max(CASE WHEN activity = 'ACTIONABILITY' THEN date END) AS last_actionability_date,
       max(CASE WHEN activity = 'GENE_DOSAGE' THEN date END) AS last_dosage_date,
       max(activity = 'GENE_VALIDITY') AS has_gene_validity,
       max(activity = 'ACTIONABILITY') AS has_actionability,
       max(activity = 'GENE_DOSAGE') AS has_dosage,
       count(*) AS n_curations
FROM legs GROUP BY disease""",
        "cur_modes_of_inheritance": f"""
WITH RECURSIVE {_CUR_ASSERTIONS},
edges AS ({fixtures.moi_edges_sql()}),
closure AS (
  SELECT child, parent AS anc FROM edges
  UNION
  SELECT c.child, e.parent FROM closure c JOIN edges e ON c.anc = e.child),
under AS (
  SELECT child AS moi FROM closure WHERE anc = 'urn:moi:root'
  UNION SELECT 'urn:moi:root')
SELECT DISTINCT 'urn:moi:' || cura.moi AS moi
FROM cura JOIN under ON 'urn:moi:' || cura.moi = under.moi""",
        "cur_classifications": f"""
WITH {_CUR_ASSERTIONS}
SELECT CASE event_id % 6 WHEN 0 THEN 'Definitive' WHEN 1 THEN 'Strong'
            WHEN 2 THEN 'Moderate' WHEN 3 THEN 'Limited'
            WHEN 4 THEN 'Disputed' ELSE 'Refuted' END AS classification,
       count(*) AS n_assertions,
       count(DISTINCT gene) AS n_genes,
       count(DISTINCT disease) AS n_diseases
FROM cura GROUP BY 1""",
        "cur_genetic_conditions": f"""
WITH {_CUR_ASSERTIONS},
ranked AS (
  SELECT gene, disease, moi, assertion,
         row_number() OVER (PARTITION BY gene, disease, moi
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM cura),
c AS (
  SELECT gene, disease, moi, count(*) AS n_assertions,
         count(DISTINCT affiliation) AS n_affiliations
  FROM cura GROUP BY 1, 2, 3)
SELECT c.gene, c.disease, c.moi, c.n_assertions, c.n_affiliations,
       r.assertion AS latest_assertion
FROM c JOIN ranked r USING (gene, disease, moi) WHERE r.rn = 1""",
        "cur_gene_dosage": """
WITH da AS (
  SELECT 'urn:dosage:' || CAST(user_id % 20 AS VARCHAR) AS report,
         'urn:gene:' || CAST(user_id % 20 AS VARCHAR) AS gene,
         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 3 END AS member_count,
         CAST(event_id % 4 AS INT) AS ordinal, ts, event_id
  FROM events),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY report, member_count
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM da),
lv AS (
  SELECT report, gene, member_count, ts,
         CASE ordinal WHEN 0 THEN 'no evidence'
                      WHEN 1 THEN 'minimal evidence'
                      WHEN 2 THEN 'moderate evidence'
                      ELSE 'sufficient evidence' END AS evidence_level
  FROM latest WHERE rn = 1)
SELECT report, min(gene) AS gene,
       coalesce(bool_or(member_count = 1), false) AS has_haplo,
       max(CASE WHEN member_count = 1 THEN evidence_level END)
         AS haplo_evidence_level,
       max(CASE WHEN member_count = 1 THEN ts END) AS haplo_date,
       coalesce(bool_or(member_count = 3), false) AS has_triplo,
       max(CASE WHEN member_count = 3 THEN evidence_level END)
         AS triplo_evidence_level,
       max(CASE WHEN member_count = 3 THEN ts END) AS triplo_date,
       max(ts) AS report_date
FROM lv GROUP BY report""",
        "cur_actionability_stats": """
WITH ar AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'urn:wg:adult'
              ELSE 'urn:wg:pediatric' END AS wg,
         CAST(event_id % 3 + 1 AS VARCHAR) || '.0.0' AS version,
         CASE WHEN event_type <> 'error'
              THEN CAST(event_id % 5 AS INT) END AS score,
         'urn:gene:' || CAST(user_id % 20 AS VARCHAR) AS gene,
         'urn:disease:' || CAST(user_id % 7 AS VARCHAR) AS disease
  FROM events),
freq AS (
  SELECT wg, score, count(*) AS n FROM ar
  WHERE score IS NOT NULL GROUP BY 1, 2),
sc AS (
  SELECT wg,
         string_agg(CAST(score AS VARCHAR) || '=' || CAST(n AS VARCHAR),
                    ' ' ORDER BY CAST(score AS VARCHAR) || '=' || CAST(n AS VARCHAR))
           AS score_counts,
         CAST(sum(n) AS BIGINT) AS n_scored_reports
  FROM freq GROUP BY wg)
SELECT ar.wg, count(*) AS n_reports,
       count(CASE WHEN regexp_matches(version, '^[2-9][.][0-9][.][0-9]$')
                  THEN 1 END) AS n_updated_reports,
       count(DISTINCT gene || '|' || disease) AS n_gene_disease_pairs,
       coalesce(min(sc.n_scored_reports), 0) AS n_scored_reports,
       coalesce(min(sc.score_counts), '') AS score_counts
FROM ar LEFT JOIN sc ON ar.wg = sc.wg
GROUP BY ar.wg""",
        "cur_actionability_assertions": """
WITH base AS (
  SELECT 'urn:actionability:' || CAST(event_id AS VARCHAR) AS report,
         event_id, user_id, ts
  FROM events),
ck AS (
  SELECT report, user_id, ts,
         UNNEST(generate_series(0, event_id % 3)) AS k
  FROM base),
contribs AS (
  SELECT report,
         strftime(ts + to_days(CAST(k AS INT)), '%Y-%m-%d %H:%M:%S') AS adate,
         'urn:agent:' || CAST((user_id + k) % 10 AS VARCHAR) AS agent
  FROM ck),
latest AS (
  SELECT report, max(adate) AS report_date,
         arg_max(agent, adate) AS attributed_to
  FROM contribs GROUP BY report),
ak AS (
  SELECT report, event_id,
         UNNEST(generate_series(0, event_id % 2)) AS k2
  FROM base),
a AS (
  SELECT report || ':a' || CAST(k2 AS VARCHAR) AS assertion, report,
         (['sepio:ActionabilityScoreHigh', 'sepio:ActionabilityScoreModerate',
           'sepio:NoActionability'])[CAST((event_id + k2) % 3 AS INT) + 1]
           AS classification,
         'ACT report ' || CAST(event_id AS VARCHAR) AS report_label,
         'https://actionability.example/doc/' || CAST(event_id % 50 AS VARCHAR)
           AS source
  FROM ak)
SELECT a.assertion, a.report, a.classification, a.report_label, a.source,
       l.report_date, l.attributed_to
FROM a LEFT JOIN latest l ON a.report = l.report""",
        "cur_evidence_cards": """
WITH e AS (SELECT event_id, user_id, event_type, round(value, 4) AS score,
                  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS adate
           FROM events),
edges AS (
  SELECT 'urn:el:' || CAST(event_id - 1 AS VARCHAR) AS parent,
         'urn:el:' || CAST(event_id AS VARCHAR) AS child
  FROM e WHERE event_id % 4 <> 0),
roots AS (
  SELECT 'urn:el:' || CAST(event_id AS VARCHAR) AS root,
         'urn:aff:' || CAST(user_id % 10 AS VARCHAR) AS agent, adate
  FROM e WHERE event_id % 4 = 0),
fields AS (
  SELECT 'urn:el:' || CAST(event_id AS VARCHAR) AS line, score,
         event_type AS description
  FROM e),
tree AS (
  SELECT r.root, c1.child AS line, 1 AS depth FROM roots r
  JOIN edges c1 ON c1.parent = r.root
  UNION ALL
  SELECT t.root, c.child, t.depth + 1 FROM (
    SELECT r.root, c1.child, 1 AS depth FROM roots r
    JOIN edges c1 ON c1.parent = r.root) t
  JOIN edges c ON c.parent = t.child
  UNION ALL
  SELECT t2.root, c.child, 3 FROM (
    SELECT r.root, c2.child FROM roots r
    JOIN edges c1 ON c1.parent = r.root
    JOIN edges c2 ON c2.parent = c1.child) t2(root, child)
  JOIN edges c ON c.parent = t2.child)
SELECT t.root, t.line, t.depth, f.score, f.description,
       r.agent, r.adate AS activity_date
FROM tree t
LEFT JOIN fields f ON f.line = t.line
LEFT JOIN roots r ON r.root = t.root""",
        "fn_clinsig_normalize": """
WITH raw AS (
  SELECT CASE CAST(event_id % 8 AS INT)
    WHEN 0 THEN 'Benign' WHEN 1 THEN 'benign/likely benign'
    WHEN 2 THEN 'Pathogenic' WHEN 3 THEN 'LIKELY PATHOGENIC'
    WHEN 4 THEN 'uncertain significance' WHEN 5 THEN 'drug response'
    WHEN 6 THEN 'association' ELSE 'WEIRD_UNKNOWN' END AS clinsig
  FROM events),
n AS (SELECT * FROM read_csv(
  '/root/reference/resources/clinvar_clinsig_normalized.csv', header=true)),
c AS (SELECT * FROM read_csv(
  '/root/reference/resources/clinvar_clinsig_classes.csv', header=true)),
lk AS (
  SELECT n.scv_term AS term, n.normalized AS code, n.label AS lbl,
         c.significance AS sig, c.clinvar_prop_type AS pt
  FROM n LEFT JOIN c ON c.code = n.normalized),
fb AS (SELECT label AS lbl, significance AS sig, clinvar_prop_type AS pt
       FROM c WHERE code = 'oth')
SELECT coalesce(lk.code, 'oth') AS clinsig_code,
       coalesce(lk.lbl, fb.lbl) AS clinsig_label,
       CAST(coalesce(lk.sig, fb.sig) AS INT) AS significance,
       coalesce(lk.pt, fb.pt) AS prop_type,
       count(*) AS n
FROM raw LEFT JOIN lk ON lk.term = lower(raw.clinsig) CROSS JOIN fb
GROUP BY 1, 2, 3, 4""",
        "alg_recursive_evidence": """
WITH b AS (SELECT CAST(event_id // 5 AS BIGINT) AS b FROM events
           WHERE event_id % 5 = 0),
m AS (SELECT * FROM (VALUES (1), (2)) t(i))
SELECT el AS evidence_line FROM (
  SELECT 'urn:el1:' || CAST(b AS VARCHAR) AS el FROM b CROSS JOIN m
  UNION ALL
  SELECT 'urn:el2:' || CAST(b AS VARCHAR) AS el FROM b CROSS JOIN m
) s""",
        "cur_resource_cards": """
WITH u AS (SELECT DISTINCT user_id AS uid FROM events),
sub AS (SELECT uid // 2 AS puid, count(*) AS n FROM u WHERE uid > 0 GROUP BY 1)
SELECT 'urn:res:' || CAST(u.uid AS VARCHAR) AS resource,
       COALESCE(CASE WHEN u.uid % 3 = 0 THEN 'Pref ' || CAST(u.uid AS VARCHAR) END,
                CASE WHEN u.uid % 2 = 0 THEN 'Rdfs ' || CAST(u.uid AS VARCHAR) END,
                'Name ' || CAST(u.uid AS VARCHAR)) AS label,
       COALESCE(CASE WHEN u.uid % 5 = 0 THEN 'Display ' || CAST(u.uid AS VARCHAR) END,
                CASE WHEN u.uid % 3 = 0 THEN 'Pref ' || CAST(u.uid AS VARCHAR) END,
                CASE WHEN u.uid % 2 = 0 THEN 'Rdfs ' || CAST(u.uid AS VARCHAR) END,
                'Name ' || CAST(u.uid AS VARCHAR)) AS website_display_label,
       CASE WHEN u.uid % 2 = 1 THEN 'Alt ' || CAST(u.uid AS VARCHAR) END
         AS alternative_label,
       CASE WHEN u.uid % 4 = 0 THEN 'Desc ' || CAST(u.uid AS VARCHAR) END
         AS description,
       CAST(CASE WHEN u.uid > 0 THEN 1 ELSE 0 END AS BIGINT) AS n_superclasses,
       CAST(COALESCE(sub.n, 0) AS BIGINT) AS n_subclasses
FROM u LEFT JOIN sub ON sub.puid = u.uid""",
        "cur_gene_features": """
WITH e AS (SELECT user_id % 20 AS g, event_id, event_type FROM events),
prev AS (SELECT DISTINCT g,
           'GENE' || CAST(g AS VARCHAR) || 'v' || CAST(event_id % 3 AS VARCHAR) AS p
         FROM e),
al AS (SELECT DISTINCT g,
         'G' || CAST(g AS VARCHAR) || '-' || event_type AS a
       FROM e),
pj AS (SELECT g, string_agg(p, ', ' ORDER BY p) AS previous_symbols
       FROM prev GROUP BY g),
aj AS (SELECT g, string_agg(a, ', ' ORDER BY a) AS alias_symbols
       FROM al GROUP BY g)
SELECT 'urn:gene:' || CAST(pj.g AS VARCHAR) AS gene,
       'HGNC:' || CAST(pj.g + 1000 AS VARCHAR) AS hgnc_id,
       'GENE' || CAST(pj.g AS VARCHAR) AS hgnc_symbol,
       CAST(pj.g % 22 + 1 AS VARCHAR)
         || (CASE WHEN pj.g % 2 = 0 THEN 'p' ELSE 'q' END)
         || CAST(pj.g % 3 + 1 AS VARCHAR) AS chromosomal_band,
       pj.previous_symbols, aj.alias_symbols
FROM pj JOIN aj ON pj.g = aj.g""",
        "cur_drugs": """
WITH d AS (SELECT user_id % 15 AS d, event_type FROM events),
g AS (SELECT d, count(DISTINCT event_type) AS n_aliases FROM d GROUP BY d),
l AS (SELECT 'urn:drug:' || CAST(d AS VARCHAR) AS drug,
        'Drug ' || CAST(d AS VARCHAR)
          || (CASE WHEN d % 3 = 0 THEN ' ophthalmic'
                   WHEN d % 3 = 1 THEN ' oral'
                   ELSE ' topical' END) AS label,
        CAST(n_aliases AS BIGINT) AS n_aliases
      FROM g),
f AS (SELECT * FROM l WHERE lower(label) LIKE '%oral%')
SELECT *, CAST(count(*) OVER () AS BIGINT) AS total FROM f""",
        "cur_gene_validity_reports": """
SELECT 'urn:curation:' || CAST(event_id AS VARCHAR) AS assertion,
       'urn:gene:' || CAST(user_id % 20 AS VARCHAR) AS gene,
       'urn:disease:' || CAST(user_id % 7 AS VARCHAR) AS disease,
       CASE event_type WHEN 'purchase' THEN 'DEFINITIVE'
                       WHEN 'signup' THEN 'MODERATE'
                       WHEN 'click' THEN 'LIMITED'
                       WHEN 'view' THEN 'STRONG'
                       WHEN 'error' THEN 'REFUTED' END AS classification,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS report_date,
       CASE WHEN event_id % 2 = 0
            THEN 'urn:aff:' || CAST(user_id % 10 AS VARCHAR) END AS attributed_to,
       substr(md5(CAST(event_id AS VARCHAR)), 1, 8) || '-'
         || substr(md5(CAST(event_id AS VARCHAR)), 9, 4) || '-'
         || substr(md5(CAST(event_id AS VARCHAR)), 13, 4) || '-'
         || substr(md5(CAST(event_id AS VARCHAR)), 17, 4) || '-'
         || substr(md5(CAST(event_id AS VARCHAR)), 21, 12) AS report_id,
       CASE WHEN CAST(regexp_extract(props, '[0-9]+') AS INT) % 3 = 0 THEN TRUE
            WHEN CAST(regexp_extract(props, '[0-9]+') AS INT) % 3 = 1 THEN FALSE
       END AS animal_model
FROM events""",
        "kg_dosage_jira": _dosage_jira_oracle(),
        "kg_gdm_chain": _gdm_chain_oracle(),
        "kg_actionability_docs": _actionability_oracle(),
        **_basedata_oracles(),
        **_cv_jsonld_oracles(),
        "kg_gci_legacy": _gci_legacy_oracle(),
        "kg_gci_express": _gci_express_oracle(),
        "kg_gci_neo4j": _gci_neo4j_oracle(),
        "fn_submitter_agents": """
WITH m AS (
  SELECT CAST(user_id AS VARCHAR) AS id,
         '2022-02-0' || CAST(event_id % 9 + 1 AS VARCHAR) AS release_date,
         'Org ' || CAST(user_id AS VARCHAR) AS current_name,
         CASE WHEN event_id % 3 <> 0
              THEN 'O' || CAST(user_id AS VARCHAR) END AS current_abbrev
  FROM events),
a AS (
  SELECT 'http://dataexchange.clinicalgenome.org/terms/clinvar_submitter_'
           || id AS is_version_of,
         id, release_date, current_name, current_abbrev
  FROM m),
base AS (
  SELECT is_version_of || '.' || release_date AS id, is_version_of,
         'Agent' AS type, current_name AS label,
         m_id, current_abbrev
  FROM (SELECT a.*, a.id AS m_id FROM a))
SELECT id, is_version_of, type, label,
       'current_abbrev' AS ext_name, current_abbrev AS ext_value
FROM base WHERE current_abbrev IS NOT NULL
UNION ALL
SELECT id, is_version_of, type, label,
       'clinvar_submitter_id' AS ext_name, m_id AS ext_value
FROM base""",
        "kg_vcv_statements": _vcv_oracle(),
        "kg_clinvar_statements": """
WITH n AS (SELECT * FROM read_csv(
  '/root/reference/resources/clinvar_clinsig_normalized.csv', header=true)),
c AS (SELECT * FROM read_csv(
  '/root/reference/resources/clinvar_clinsig_classes.csv', header=true)),
lk AS (
  SELECT n.scv_term AS term, n.normalized AS code, n.label AS lbl,
         c.clinvar_prop_type AS pt
  FROM n LEFT JOIN c ON c.code = n.normalized),
fb AS (SELECT normalized AS code, n.label AS lbl, c.clinvar_prop_type AS pt
       FROM n JOIN c ON c.code = n.normalized WHERE n.scv_term = 'other'),
tsv AS (
  SELECT 'http://dataexchange.clinicalgenome.org/terms/trait_set_'
           || CAST(user_id % 30 AS VARCHAR) AS vof,
         strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%S') AS version,
         'http://dataexchange.clinicalgenome.org/terms/trait_set_'
           || CAST(user_id % 30 AS VARCHAR) || '.'
           || strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%S') AS ts_id,
         CASE WHEN event_id % 2 = 0 THEN 2 ELSE 1 END AS n_members
  FROM events WHERE event_id % 3 = 0),
a AS (
  SELECT event_id AS e, user_id AS u,
         strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%S') AS rd,
         CASE CAST(event_id % 12 AS INT)
           WHEN 0 THEN 'Pathogenic' WHEN 1 THEN 'benign'
           WHEN 2 THEN 'Likely pathogenic' WHEN 3 THEN 'uncertain significance'
           WHEN 4 THEN 'drug response' WHEN 5 THEN 'association'
           WHEN 6 THEN 'WEIRD_TERM' WHEN 7 THEN 'Established risk allele'
           WHEN 8 THEN 'protective' WHEN 9 THEN 'Pathogenic/Likely pathogenic'
           WHEN 10 THEN 'conflicting data from submitters'
           ELSE 'not provided' END AS raw
  FROM events),
a2 AS (
  SELECT a.*, coalesce(lk.code, fb.code) AS code,
         coalesce(lk.lbl, fb.lbl) AS lbl, coalesce(lk.pt, fb.pt) AS pt
  FROM a LEFT JOIN lk ON lk.term = lower(a.raw) CROSS JOIN fb),
a3 AS (
  SELECT a2.*,
    CASE pt WHEN 'path' THEN 'VariationGermlinePathogenicityStatement'
            WHEN 'dr' THEN 'ClinVarDrugResponseStatement'
            ELSE 'ClinVarOtherStatement' END AS st,
    CASE WHEN e % 4 <> 0
         THEN 'http://dataexchange.clinicalgenome.org/terms/trait_set_'
              || CAST(u % 30 AS VARCHAR) END AS vof
  FROM a2),
res AS (
  SELECT a3.*, tsv.ts_id, tsv.n_members
  FROM a3 ASOF LEFT JOIN tsv
    ON a3.vof = tsv.vof AND a3.rd >= tsv.version)
SELECT vof AS object_vof,
  'http://dataexchange.clinicalgenome.org/terms/SCV_Statement_SCV'
    || CAST(e AS VARCHAR) || '.' || rd AS id,
  rd AS release_date,
  CAST(u % 500 AS VARCHAR) AS subject,
  CASE WHEN e % 2 = 0 THEN 'c1 ' || CAST(e AS VARCHAR) || chr(10) || 'c2'
       END AS description,
  CASE WHEN e % 5 <> 0
       THEN '2023-0' || CAST(e % 9 + 1 AS VARCHAR) || '-01'
  END AS approver_date,
  CASE WHEN e % 3 <> 0
       THEN '2024-0' || CAST(e % 9 + 1 AS VARCHAR) || '-02'
  END AS submitter_date,
  st AS stmt_type,
  CASE st WHEN 'VariationGermlinePathogenicityStatement'
            THEN 'VariationGermlinePathogenicityProposition'
          WHEN 'ClinVarDrugResponseStatement'
            THEN 'ClinVarDrugResponseProposition'
          ELSE 'ClinVarOtherProposition' END AS prop_type_out,
  CASE WHEN st = 'VariationGermlinePathogenicityStatement'
            AND lbl IN ('Benign', 'Benign/Likely benign', 'Likely benign',
                        'Likely pathogenic',
                        'Likely pathogenic, low penetrance', 'Pathogenic',
                        'Pathogenic, low penetrance',
                        'Pathogenic/Likely pathogenic',
                        'Uncertain significance')
            THEN 'causes_mendelian_condition'
       WHEN st = 'VariationGermlinePathogenicityStatement'
            AND lbl IN ('Established risk allele', 'Likely risk allele',
                        'Uncertain risk allele')
            THEN 'increases_risk_for_condition'
       WHEN st = 'ClinVarDrugResponseStatement'
            THEN 'has_clinvar_drug_response'
       WHEN st = 'ClinVarOtherStatement' THEN 'has_clinvar_other'
  END AS predicate,
  CASE WHEN lbl IN ('Benign', 'Benign/Likely benign', 'Likely benign')
            THEN 'opposes'
       WHEN lbl IN ('Likely pathogenic',
                    'Likely pathogenic, low penetrance', 'Pathogenic',
                    'Pathogenic, low penetrance',
                    'Pathogenic/Likely pathogenic')
            THEN 'supports'
       ELSE 'uncertain' END AS direction,
  'http://dataexchange.clinicalgenome.org/terms/' || code
    AS classification_id,
  replace(replace(lbl, ' ', '_'), '/', '_') AS classification_label,
  coalesce(ts_id,
           'http://dataexchange.clinicalgenome.org/terms/ConditionNotFound')
    AS object_id,
  coalesce(n_members, 0) AS object_n_members,
  coalesce(n_members = 1, FALSE) AS object_compact
FROM res""",
        "cur_users_groups": """
SELECT 'urn:user:' || CAST(c_custkey AS VARCHAR) AS user_iri,
       regexp_extract('mailto:user' || CAST(c_custkey AS VARCHAR)
                      || '@clinicalgenome.org', 'mailto:(.*)', 1) AS email,
       array_to_string(list_sort(
         CASE WHEN c_custkey % 50 = 0
              THEN ['urn:group:' || lower(c_mktsegment),
                    'urn:group:genegraph-admin']
              ELSE ['urn:group:' || lower(c_mktsegment)] END), ',') AS member_of,
       (c_custkey % 50 = 0) AS is_admin
FROM customer""",
        "cur_region_features": """
SELECT 'urn:region:' || CAST(p_partkey % 40 AS VARCHAR) AS feature,
       'urn:coord:' || CAST(p_partkey AS VARCHAR) AS coordinate,
       'region urn:region:' || CAST(p_partkey % 40 AS VARCHAR) AS label,
       (CASE WHEN p_partkey % 2 = 0 THEN 'q' ELSE 'p' END)
         || CAST(p_partkey % 40 % 36 + 11 AS VARCHAR) AS band,
       CASE WHEN p_partkey % 2 = 0 THEN 'GRCh38' ELSE 'GRCh37' END AS build,
       'chr' || CAST(p_partkey % 22 + 1 AS VARCHAR) AS chromosome,
       CASE WHEN p_partkey % 3 = 0 THEN '-' ELSE '+' END AS strand,
       CAST(p_partkey * 1000 AS BIGINT) AS start_pos,
       CAST(p_partkey * 1000 + (p_size % 50 + 1) * 100 AS BIGINT) AS end_pos
FROM part""",
        "text_vocabulary": """
WITH t AS (
  SELECT UNNEST(string_split_regex(lower(text), '\\s+')) AS token
  FROM documents),
c AS (
  SELECT token, count(*) AS count FROM t
  WHERE token <> '' GROUP BY token HAVING count(*) >= 5)
SELECT token, count,
       row_number() OVER (ORDER BY count DESC, token) AS rank
FROM c""",
        "text_stratified_sample": """
WITH r AS (
  SELECT doc_id, source, lang,
         row_number() OVER (
           PARTITION BY source, lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents)
SELECT doc_id, source, lang FROM r WHERE rk <= 7""",
        "text_boilerplate_strip": """
WITH d AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
c AS (
  SELECT doc_id, source AS domain,
         'subscribe to the ' || source || ' newsletter' || chr(10)
         || array_to_string(
              list_transform(
                range(0, CAST(ceil(len(w) / 10.0) AS INT)),
                i -> array_to_string(w[i * 10 + 1 : (i + 1) * 10], ' ')),
              chr(10))
         || CASE WHEN doc_id % 4 = 0
                 THEN chr(10) || 'copyright ' || source ELSE '' END AS text
  FROM d),
ls AS (SELECT doc_id, domain, string_split(text, chr(10)) AS la FROM c),
lx AS (SELECT doc_id, domain, la,
              UNNEST(generate_series(1, len(la))) AS pos
       FROM ls),
lines AS (
  SELECT doc_id, domain, la[pos] AS line, pos FROM lx WHERE la[pos] <> ''),
per_line AS (
  SELECT domain, line, count(DISTINCT doc_id) AS n_docs
  FROM lines GROUP BY domain, line),
per_domain AS (
  SELECT domain, count(DISTINCT doc_id) AS domain_docs FROM c GROUP BY domain),
bl AS (
  SELECT pl.domain, pl.line
  FROM per_line pl JOIN per_domain pd ON pl.domain = pd.domain
  WHERE pl.n_docs >= 3
    AND CAST(pl.n_docs AS DOUBLE) / pd.domain_docs >= 0.5),
kept AS (
  SELECT l.* FROM lines l
  LEFT JOIN bl ON l.domain = bl.domain AND l.line = bl.line
  WHERE bl.line IS NULL),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id)
SELECT c.doc_id, c.domain, coalesce(r.clean_text, '') AS clean_text
FROM c LEFT JOIN rebuilt r ON c.doc_id = r.doc_id""",
        "text_pack_sequences": """
WITH d AS (
  SELECT doc_id,
         greatest(1, CAST(floor(length(text) / 4) AS BIGINT)) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR) || '|pack-v1') AS key
  FROM documents),
sh AS (
  SELECT *,
         CAST(('0x' || substr(key, 1, 8)) AS BIGINT) % 16 AS shard
  FROM d),
c AS (
  SELECT *,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY key, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM sh)
SELECT doc_id, n_tokens, shard,
       CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS start_seq,
       CAST((cum - n_tokens) % 2048 AS BIGINT) AS start_offset,
       CAST(floor((cum - 1) / 2048.0) AS BIGINT) AS end_seq,
       CAST(shard AS VARCHAR) || ':'
         || CAST(CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS VARCHAR)
         AS seq_id
FROM c""",
        "graph_comention_pmi": f"""
WITH t AS ({_TRIPLES_SQL}),
de AS (SELECT DISTINCT subject AS doc, object AS entity FROM t
       WHERE predicate = '{I.P_MENTIONS}'),
nd AS (SELECT CAST(count(DISTINCT doc) AS DOUBLE) AS n FROM de),
marg AS (SELECT entity, count(*) AS n FROM de GROUP BY 1),
pairs AS (SELECT a.entity AS entity_a, b.entity AS entity_b,
                 count(*) AS n_docs
          FROM de a JOIN de b ON a.doc = b.doc AND a.entity < b.entity
          GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT entity_a, entity_b, n_docs,
       round(log2((SELECT n FROM nd) * n_docs / (ma.n * mb.n)), 6) AS pmi
FROM pairs
JOIN marg ma ON ma.entity = pairs.entity_a
JOIN marg mb ON mb.entity = pairs.entity_b""",
        "graph_pagerank": _pagerank_sql(),
        "graph_degrees": f"""
WITH {_GEO_TRIPLES},
e AS (SELECT DISTINCT s AS src, o AS dst FROM geo
      WHERE p IN (':in-nation', ':in-region')),
od AS (SELECT src AS node, count(*) AS out_degree FROM e GROUP BY 1),
idg AS (SELECT dst AS node, count(*) AS in_degree FROM e GROUP BY 1)
SELECT node, coalesce(od.out_degree, 0) AS out_degree,
       coalesce(idg.in_degree, 0) AS in_degree
FROM od FULL OUTER JOIN idg USING (node)""",
        "join_salted_topk": """
WITH ev AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'BRCA1'
              ELSE 'g' || CAST(user_id % 50 AS VARCHAR) END AS entity,
         event_id, round(value, 4) AS value
  FROM events),
r AS (SELECT entity, event_id, value,
        row_number() OVER (PARTITION BY entity
                           ORDER BY value DESC, event_id ASC) AS rank
      FROM ev)
SELECT entity, event_id, value, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 3""",
        "alg_sparql_agg": f"""
WITH {_GEO_TRIPLES},
cn AS (SELECT s AS c, o AS n FROM geo WHERE p = ':in-nation'),
nr AS (SELECT s AS n, o AS r FROM geo WHERE p = ':in-region'),
rn AS (SELECT s AS r, o AS rname FROM geo WHERE p = ':name'),
bal AS (SELECT s AS c, o AS bal FROM geo WHERE p = ':balance')
SELECT rn.rname AS rname, count(*) AS n_customers,
       arg_min(bal.bal, CAST(bal.bal AS DOUBLE)) AS min_bal,
       arg_max(bal.bal, CAST(bal.bal AS DOUBLE)) AS max_bal
FROM cn JOIN nr USING (n) JOIN rn ON rn.r = nr.r JOIN bal ON bal.c = cn.c
GROUP BY 1 HAVING count(*) > 10""",
        "alg_sparql_graph": f"""
WITH dict AS ({_dict_triples_values()})
SELECT predicate AS p, count(*) AS n FROM dict GROUP BY 1""",
        "alg_sparql_subselect": f"""
WITH {_GEO_TRIPLES},
cn AS (SELECT s AS c, o AS n FROM geo WHERE p = ':in-nation'),
bal AS (SELECT s AS c, o AS bal FROM geo WHERE p = ':balance'),
m AS (SELECT cn.n AS n, max(CAST(bal.bal AS DOUBLE)) AS maxbal
      FROM cn JOIN bal USING (c) GROUP BY 1)
SELECT cn.n AS nation, cn.c AS customer, bal.bal AS balance
FROM cn JOIN bal USING (c) JOIN m ON m.n = cn.n
WHERE CAST(bal.bal AS DOUBLE) = m.maxbal""",
        "alg_sparql_select": f"""
WITH {_GEO_TRIPLES},
cn AS (SELECT s AS c, o AS n FROM geo WHERE p = ':in-nation'),
nr AS (SELECT s AS n, o AS r FROM geo WHERE p = ':in-region'),
rn AS (SELECT s AS r, o AS rname FROM geo WHERE p = ':name'),
seg AS (SELECT s AS c FROM geo WHERE p = ':segment' AND o = 'BUILDING')
SELECT DISTINCT cn.c AS customer, rn.rname AS region_name,
       seg.c IS NOT NULL AS is_building
FROM cn JOIN nr USING (n) JOIN rn ON rn.r = nr.r
LEFT JOIN seg ON seg.c = cn.c""",
        "alg_sparql_construct": f"""
WITH {_GEO_TRIPLES},
cr AS (
  SELECT DISTINCT cn.s AS c, rn.o AS rname
  FROM geo cn JOIN geo nr ON nr.s = cn.o AND nr.p = ':in-region'
  JOIN geo rn ON rn.s = nr.o AND rn.p = ':name'
  WHERE cn.p = ':in-nation')
SELECT c AS subject, ':region-name' AS predicate, rname AS object,
       false AS object_is_iri FROM cr
UNION
SELECT DISTINCT c, 'rdf:type', ':Customer', true FROM cr""",
        "alg_values": f"""
WITH {_GEO_TRIPLES},
b AS (
  SELECT cn.s AS c, cn.o AS n, nm.o AS nname, sg.o AS seg
  FROM geo cn
  JOIN geo nm ON nm.s = cn.o AND nm.p = ':name'
  JOIN geo sg ON sg.s = cn.s AND sg.p = ':segment'
  WHERE cn.p = ':in-nation'),
v AS (
  SELECT * FROM b WHERE nname = 'NATION_7'
  UNION ALL
  SELECT * FROM b WHERE nname = 'NATION_3' AND seg = 'BUILDING')
SELECT nname, seg, count(*) AS n FROM v GROUP BY nname, seg""",
        "cur_statistics": f"""
WITH t AS ({_TRIPLES_SQL})
SELECT count(*) AS n_triples,
  count(DISTINCT CASE WHEN predicate = '{I.RDF_TYPE}' AND object = '{I.C_WEBPAGE}' THEN subject END) AS n_pages,
  count(DISTINCT CASE WHEN predicate = '{I.RDF_TYPE}' AND object = '{I.TYPE_IRIS["gene"]}' THEN subject END) AS n_genes,
  count(DISTINCT CASE WHEN predicate = '{I.RDF_TYPE}' AND object = '{I.TYPE_IRIS["disease"]}' THEN subject END) AS n_diseases,
  count(DISTINCT CASE WHEN predicate = '{I.RDF_TYPE}' AND object = '{I.TYPE_IRIS["variant"]}' THEN subject END) AS n_variants,
  count(CASE WHEN predicate = '{I.P_MENTIONS}' THEN 1 END) AS n_mentions
FROM t""",
        "alg_describe": f"""
WITH RECURSIVE t AS ({_TRIPLES_SQL}),
start(subject) AS (SELECT DISTINCT subject FROM t
  WHERE predicate = '{I.P_MENTIONS}'
    AND object = '{fixtures.KG}/entity/SLOWNESS'),
nodes(subject) AS (
  SELECT subject FROM start
  UNION
  SELECT t.object FROM t JOIN nodes n ON t.subject = n.subject
  WHERE t.object_is_iri AND starts_with(t.object, '_:'))
SELECT DISTINCT t.graph, t.subject, t.predicate, t.object, t.object_is_iri, t.object_datatype
FROM t JOIN nodes USING (subject)""",
        "cur_disease_subtree": f"""
WITH RECURSIVE t AS ({_TRIPLES_SQL}),
hier(child, parent) AS (VALUES {", ".join(
    f"({fixtures._sql_quote(c)}, {fixtures._sql_quote(p)})"
    for c, p in fixtures.DISEASE_HIERARCHY)}),
diseases AS (SELECT DISTINCT subject AS iri FROM t
             WHERE predicate = '{I.RDF_TYPE}' AND object = '{I.TYPE_IRIS["disease"]}'),
closure(root, descendant) AS (
  SELECT iri, iri FROM diseases
  UNION
  SELECT c.root, h.child FROM closure c JOIN hier h ON h.parent = c.descendant),
m AS (SELECT subject AS page, object AS descendant FROM t
      WHERE predicate = '{I.P_MENTIONS}'),
sizes AS (SELECT root, count(DISTINCT descendant) AS n_descendants
          FROM closure GROUP BY root),
pc AS (SELECT c.root, count(DISTINCT m.page) AS n_pages
       FROM closure c JOIN m ON m.descendant = c.descendant GROUP BY c.root)
SELECT s.root, s.n_descendants, coalesce(pc.n_pages, CAST(0 AS BIGINT)) AS n_pages
FROM sizes s LEFT JOIN pc USING (root)""",
        "cur_suggest_infix": f"""
WITH t AS ({_TRIPLES_SQL}), {_CUR_TAGGED},
acts AS ({_CUR_ACTS_SELECT}),
w AS (SELECT gene AS entity,
        CAST(mentioned AS INT) + CAST(co_curated AS INT) + CAST(has_alias AS INT) AS weight
      FROM acts),
lbl AS (SELECT DISTINCT subject AS entity, object AS label,
        CASE predicate WHEN '{I.PREF_LABEL}' THEN 0 WHEN '{I.ALT_LABEL}' THEN 1 ELSE 2 END AS kind_rank
        FROM t WHERE predicate IN ('{I.PREF_LABEL}', '{I.ALT_LABEL}', '{I.HIDDEN_LABEL}')
          AND NOT object_is_iri),
h AS (SELECT lbl.* FROM lbl
      WHERE (lower(label) LIKE 's%' OR lower(label) LIKE '% s%')
        AND entity IN (SELECT gene FROM genes)),
r AS (SELECT h.entity, h.label, h.kind_rank, coalesce(w.weight, 0) AS weight,
        row_number() OVER (ORDER BY coalesce(w.weight, 0) DESC, h.kind_rank,
                           length(h.label), h.label, h.entity) AS rank
      FROM h LEFT JOIN w USING (entity))
SELECT entity, label, kind_rank, weight, rank FROM r WHERE rank <= 4""",
        "cur_top_entities": f"""
WITH t AS ({_TRIPLES_SQL}),
m AS (SELECT subject AS page, object AS entity FROM t WHERE predicate = '{I.P_MENTIONS}'),
cnt AS (SELECT entity, count(DISTINCT page) AS n_pages FROM m GROUP BY entity),
r AS (SELECT *, row_number() OVER (ORDER BY n_pages DESC, entity ASC) AS rn FROM cnt)
SELECT entity, n_pages FROM r WHERE rn > 3 AND rn <= 13""",
        "cur_suggest_labels": f"""
WITH t AS ({_TRIPLES_SQL}),
lbl AS (SELECT DISTINCT subject AS entity, object AS label,
        CASE predicate WHEN '{I.PREF_LABEL}' THEN 0 WHEN '{I.ALT_LABEL}' THEN 1 ELSE 2 END AS kind_rank
        FROM t WHERE predicate IN ('{I.PREF_LABEL}', '{I.ALT_LABEL}', '{I.HIDDEN_LABEL}')
          AND NOT object_is_iri),
h AS (SELECT * FROM lbl WHERE label LIKE 's%'),
r AS (SELECT *, row_number() OVER (ORDER BY kind_rank, length(label), label, entity) AS rn FROM h)
SELECT entity, label, kind_rank FROM r WHERE rn <= 5""",
        "snap_latest_asof": f"""
WITH {_PAGES}
SELECT url, version FROM (
  SELECT url, version, row_number() OVER (PARTITION BY url ORDER BY version DESC) AS _rn
  FROM pages WHERE version <= 2) WHERE _rn = 1""",
        "snap_export": f"""
WITH {_PAGES}
SELECT url, version, text, lang FROM (
  SELECT url, version, text, lang, tombstone,
         row_number() OVER (PARTITION BY url ORDER BY version DESC) AS _rn
  FROM pages WHERE version <= 3) WHERE _rn = 1 AND NOT tombstone""",
        "join_affiliation_precedence": """
SELECT user_id, event_id, affiliation FROM (
  SELECT e.user_id, e.event_id,
         coalesce(CASE WHEN e.event_type = 'purchase'
                       THEN CAST(regexp_extract(e.props, '[0-9]+') AS BIGINT) END,
                  e.user_id % 10) AS affiliation,
         row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts DESC, e.event_id DESC) AS _rn
  FROM events e) WHERE _rn = 1""",
        "join_asof_descriptor": f"""
WITH {_PAGES},
d AS (SELECT doc_id, CAST(version AS BIGINT) AS d_version, text AS d_text FROM pages),
a AS (SELECT event_id, event_id % (SELECT count(*) FROM documents) AS doc_id,
             CAST(event_id % 4 AS BIGINT) AS cutoff FROM events)
SELECT a.event_id, a.doc_id, a.cutoff, d.d_version AS matched_version, d.d_text AS matched_text
FROM a ASOF LEFT JOIN d ON a.doc_id = d.doc_id AND d.d_version <= a.cutoff""",
        "alg_diff": """
SELECT c_mktsegment AS segment FROM customer
EXCEPT ALL
SELECT c_mktsegment FROM customer WHERE c_acctbal > 5000""",
        # the JIRA wire format carries milliseconds; the repair-parse
        # roundtrip therefore reproduces ts at millisecond precision
        "fn_date_fixup": "SELECT event_id, date_trunc('milliseconds', ts) AS parsed FROM events",
        "fn_curie_roundtrip": _curie_values_sql(),
        "alg_property_path_alt": f"""
WITH {_GEO_TRIPLES},
start AS (SELECT DISTINCT s FROM geo WHERE p = ':in-nation'),
hop1 AS (SELECT DISTINCT g.o AS node FROM start JOIN geo g
         ON g.s = start.s AND g.p IN (':in-nation', ':in-region')),
hop2 AS (SELECT node FROM hop1
         UNION SELECT g.o FROM hop1 JOIN geo g ON g.s = hop1.node AND g.p = ':in-region')
SELECT node FROM hop2""",
        # streaming: the in-stream plans are stateless / bounded-state and
        # their batch-composed results are deterministic, so plain SQL
        # oracles apply (the stream processes every non-tombstone page
        # VERSION — no latest-head compaction in the ingest path)
        # dedup-within-watermark over a source that delivers every 10th
        # event twice: the exactly-once output is the plain distinct set
        "stream_dedup": """
SELECT event_id, ts, user_id, event_type, value, props FROM events""",
        "stream_mentions": f"""
WITH {_PAGES}, {_ALIAS},
np AS (SELECT url, text FROM pages WHERE NOT tombstone),
t0 AS (SELECT url, unnest(string_split(text, ' ')) AS token FROM np),
t AS (SELECT url, token FROM t0 WHERE token <> '')
SELECT alias.iri, count(*) AS n_mentions
FROM t JOIN alias ON t.token = alias.label AND alias.label_kind = 'preferred'
GROUP BY alias.iri""",
        "stream_windows": """
SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, event_type,
       count(*) AS n, round(sum(value), 4) AS total
FROM events GROUP BY 1, 2""",
        # applyInPandasWithState running totals: final state equals the
        # batch aggregate whatever the micro-batch split
        "stream_stateful_totals": """
SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS total
FROM events GROUP BY user_id""",
    }
    # persisted-index path answers exactly like the inline IVF op
    d["sim_ivf_index"] = d["sim_ivf_topk"]
    return d


if __name__ == "__main__":
    from genegraph_spark.session import get_spark

    s = get_spark("entry_smoke")
    df = entry(s)
    df.show(10, truncate=False)
    print("rows:", df.count())
