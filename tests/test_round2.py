"""Round-2 operators: collect pivots, cross-curation replaces,
declarative validation, serialization round-trip, struct parsers,
nested-JSON payloads, event archives, property-path extensions, dry-run, and the real kill/resume drill."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from genegraph_spark.operators import algebra as A
from genegraph_spark.operators import grouping as G
from genegraph_spark.operators import replaces as R
from genegraph_spark.operators import validate as VD
from genegraph_spark.sinks.named_graph import TRIPLE_SCHEMA, NamedGraphStore


def triples_df(spark, rows):
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


# -- grouping ---------------------------------------------------------------

def test_collect_pivot_sorted_and_counted(spark):
    df = spark.createDataFrame(
        [("s1", "p", "b"), ("s1", "p", "a"), ("s1", "q", "x"), ("s2", "p", "c")],
        "subject string, predicate string, object string",
    )
    got = {
        (r["subject"], r["predicate"]): (r["objects"], r["n_objects"])
        for r in G.out_edge_documents(df).collect()
    }
    assert got == {
        ("s1", "p"): (["a", "b"], 2),
        ("s1", "q"): (["x"], 1),
        ("s2", "p"): (["c"], 1),
    }


def test_single_member_groups_emits_only_singletons(spark):
    df = spark.createDataFrame(
        [("ph1", "gA"), ("ph1", "gA"), ("ph2", "gA"), ("ph2", "gB"), ("ph3", "gC")],
        "pheno string, gene string",
    )
    got = {(r["pheno"], r["only_member"]) for r in G.single_member_groups(df, "pheno", "gene").collect()}
    # ph1: one distinct gene (duplicate rows collapse); ph2: two genes -> excluded
    assert got == {("ph1", "gA"), ("ph3", "gC")}


# -- cross-curation replaces --------------------------------------------------

def test_find_superseded_requires_key_match(spark):
    installed = spark.createDataFrame(
        [("urn:c1", "g1", "d1"), ("urn:c3", "g2", "d2")], "graph string, gene string, disease string"
    )
    incoming = spark.createDataFrame([("urn:c2", "g1", "d1")], "graph string, gene string, disease string")
    got = {(r["graph"], r["supersedes"]) for r in R.find_superseded(installed, incoming, ["gene", "disease"]).collect()}
    assert got == {("urn:c2", "urn:c1")}  # c3 has a different key -> untouched


# -- validation ----------------------------------------------------------------

def test_quarantine_split_reasons(spark):
    df = spark.createDataFrame(
        [("https://a", "en", 1, "ok"), ("ftp://b", "en", 1, "ok"), ("https://c", None, 9, "")],
        "url string, lang string, version int, text string",
    )
    shape = [
        VD.matches("url", "^https://"),
        VD.required("lang"),
        VD.in_range("version", 1, 3),
        VD.required("text"),
    ]
    got = {r["url"]: r["violations"] for r in VD.with_violations(df, shape).collect()}
    assert got["https://a"] == []
    assert got["ftp://b"] == ["url:pattern"]
    assert got["https://c"] == ["lang:required", "text:required", "version:range"]


# -- serialization ---------------------------------------------------------------

def test_jsonld_roundtrip_preserves_triples(spark):
    from genegraph_spark.functions import serialize as SER

    rows = [
        ("g1", "s1", "p1", "o1", True, None),
        ("g1", "s1", "p2", "lit", False, "http://www.w3.org/2001/XMLSchema#string"),
        ("g2", "s2", "p1", "o9", True, None),
    ]
    t = triples_df(spark, rows)
    docs = SER.graph_documents(t)
    back = SER.parse_documents(docs)
    assert {tuple(r) for r in back.collect()} == set(rows)  # incl. null datatype restored


# -- struct parser ---------------------------------------------------------------

def test_cnv_parse_unparse_roundtrip():
    from genegraph_spark.functions.parse import parse_cnv_py, unparse_cnv_py

    s = "GRCh38 chr7:117480025-117668665 DEL"
    d = parse_cnv_py(s)
    assert d == {"assembly": "GRCh38", "chrom": "7", "start": 117480025, "end": 117668665, "svtype": "DEL"}
    assert unparse_cnv_py(d) == s
    for bad in [None, "", "chr7:1-2 DEL", "GRCh38 chr7:5-2 DEL", "GRCh39 chr7:1-2 DEL"]:
        assert parse_cnv_py(bad) is None


def test_cnv_parse_property_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from genegraph_spark.functions.parse import parse_cnv_py, unparse_cnv_py

    chroms = [str(i) for i in range(1, 23)] + ["X", "Y", "M"]

    @settings(max_examples=200, deadline=None)
    @given(
        st.sampled_from(["GRCh37", "GRCh38", "NCBI36"]),
        st.sampled_from(chroms),
        st.integers(0, 10**9),
        st.integers(0, 10**9),
        st.sampled_from(["DEL", "DUP", "INS", "INV"]),
    )
    def check(asm, chrom, a, b, sv):
        d = {"assembly": asm, "chrom": chrom, "start": min(a, b), "end": max(a, b), "svtype": sv}
        assert parse_cnv_py(unparse_cnv_py(d)) == d

    check()


def test_cnv_parse_udf_struct(spark):
    from genegraph_spark.functions.parse import parse_cnv

    df = spark.createDataFrame(
        [("GRCh37 chrX:10-20 DUP",), ("nope",), (None,)], "raw string"
    )
    got = df.select(parse_cnv("raw").alias("c")).select("c.assembly", "c.start").collect()
    assert (got[0]["assembly"], got[0]["start"]) == ("GRCh37", 10)
    assert got[1]["assembly"] is None and got[2]["assembly"] is None


# -- payload parsing ---------------------------------------------------------------

def test_nested_json_and_corrupt_rows(spark):
    from genegraph_spark.sources import payload as PL

    df = spark.createDataFrame(
        [('{"id": 1, "content": "{\\"k\\": 7}"}',), ("not json at all",)], "value string"
    )
    out = PL.parse_nested_content(df, "value", "id long, content string", "content", "k int")
    rows = out.select(F.col("outer.id").alias("id"), F.col("content.k").alias("k")).collect()
    assert (rows[0]["id"], rows[0]["k"]) == (1, 7)
    assert rows[1]["id"] is None and rows[1]["k"] is None  # quarantine-able, not fatal


def test_event_archive_roundtrip(spark, tmp_path):
    from genegraph_spark.sources import payload as PL

    env = spark.createDataFrame(
        [("k1", '{"a": 1}', "2024-01-01 00:00:00", "t", 0, 5)],
        "key string, value string, timestamp string, topic string, partition int, offset long",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    path = str(tmp_path / "archive")
    PL.write_event_archive(env, path)
    back = PL.read_event_archive(spark, path)
    assert back.count() == 1
    r = back.collect()[0]
    assert (r["key"], r["topic"], r["offset"]) == ("k1", "t", 5)


# -- property-path extensions -------------------------------------------------------

def test_ld_path_alternation_optional_rep(spark):
    rows = [
        ("g", "a", ":p", "b", True, None),
        ("g", "a", ":q", "c", True, None),
        ("g", "b", ":r", "d", True, None),
        ("g", "d", ":r", "e", True, None),
    ]
    t = triples_df(spark, rows)
    start = spark.createDataFrame([("a",)], "node string")
    alt = {r["node"] for r in A.ld_path(t, start, [(">", [":p", ":q"])]).collect()}
    assert alt == {"b", "c"}
    opt = {r["node"] for r in A.ld_path(t, start, [(">", ":p"), ("?", ":r")]).collect()}
    assert opt == {"b", "d"}  # zero-or-one hop
    rep = {r["node"] for r in A.ld_path(t, spark.createDataFrame([("b",)], "node string"), [("rep", ":r", 2)]).collect()}
    assert rep == {"e"}  # rdf:rest{2}-style positional


def test_slice_compiles_to_take_ordered(spark):
    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("k"))
    out = A.slice(df, limit=10, offset=5, order=[("?k", "asc"), ("?id", "desc")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    got = [r["id"] for r in out.collect()]
    assert len(got) == 10
    # golden page: full order is (k asc, id desc); rows 6..15 of that order
    full = sorted([(i % 7, -i) for i in range(1000)])[5:15]
    assert [(-b) for _, b in full] == got


# -- dry run + kill/resume -----------------------------------------------------------

def test_run_to_store_dry_run_writes_nothing(spark, sf_dir, tmp_path):
    from genegraph_spark.plans.pipeline import run_to_store

    path = str(tmp_path / "kg_dry")
    res, store, summary = run_to_store(spark, sf_dir, path, dry_run=True, use_golden_text=True)
    assert summary["dry_run"] and summary["n_triples"] > 0 and summary["n_graphs"] > 0
    assert store.last_commit() is None  # no manifest, no data, no lineage
    assert not os.path.exists(os.path.join(path, "data"))
    assert not os.path.exists(os.path.join(path, "lineage"))


CRASH_SCRIPT = """
import os, shutil, sys
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "4"
from genegraph_spark.session import get_spark
from genegraph_spark.sinks import commit
from genegraph_spark.sinks.named_graph import NamedGraphStore, TRIPLE_SCHEMA
spark = get_spark("crash_drill", extra_conf={{"spark.driver.memory": "4g"}})
store = NamedGraphStore(spark, {path!r}, n_buckets=4)
rows = [(f"g{{i}}", "s", "p", f"o{{i}}", True, None) for i in range(20)]
store.merge(spark.createDataFrame(rows, TRIPLE_SCHEMA))
if {op!r} == "expire_snapshots":
    store.compact()  # commit 1: the expiry drops commit 0 and its data dir
    commit.RETAIN_S = 0
owner = {{"rmtree": shutil, "publish": commit.CommitLog}}.get({step!r}, NamedGraphStore)
step = getattr(owner, {step!r})

def crash(*args, **kwargs):
    # a hard kill: after the step's write, or on entry to the step; of
    # rmtree only the removal of a data dir counts (the commit's own
    # lineage cleanup runs first)
    if {step!r} == "rmtree" and os.path.basename(os.path.dirname(args[0])) != "data":
        return step(*args, **kwargs)
    if {after!r}:
        step(*args, **kwargs)
    os._exit(17)

setattr(owner, {step!r}, crash)
if {op!r} == "merge":  # dies mid-commit
    store.merge(
        spark.createDataFrame([({graph!r}, "s", "p", "NEW", True, None)], TRIPLE_SCHEMA),
        per_graph=spark.createDataFrame(
            [({graph!r}, False, {version!r})], "graph string, deleted boolean, version bigint"
        ),
    )
else:
    getattr(store, {op!r})()
"""


def _crash(path, op, step, after, graph="g1", version=None):
    """Commit 20 graphs to a 4-bucket store at ``path`` (then compact it,
    before an expiry), then hard-kill ``op`` in ``step``, in a subprocess:
    after the step's real call when ``after``, else on entry. ``step`` is
    a store method, ``publish`` (the manifest write, a ``CommitLog``
    method), or ``rmtree`` for the first data dir removal. A killed
    ``merge`` merges ``graph`` at ``version``."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = CRASH_SCRIPT.format(
        repo=repo, path=path, op=op, step=step, after=after, graph=graph, version=version
    )
    r = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=300)
    assert r.returncode == 17, r.stderr[-2000:]


@pytest.mark.slow
def test_kill_between_data_and_manifest_then_resume(spark, tmp_path):
    """The BASELINE resumability rule, for real: a run hard-killed after
    commit 1's data write but before its manifest write must leave the
    store at commit 0, and replaying the merge must converge (the orphan
    data dir is clobbered, not a path-exists error). A lock file that
    names a live process that is no writer (a killed writer's pid, reused)
    does not block the replay."""
    import glob

    path = str(tmp_path / "crash_store")
    _crash(path, "merge", "_write_data", after=True)

    store = NamedGraphStore(spark, path, n_buckets=4)
    # the interrupted commit is invisible...
    assert store.last_commit() == 0
    assert os.path.exists(os.path.join(path, "data", "c00000001"))  # orphan exists
    assert {r_["object"] for r_ in store.triples().where("graph = 'g1'").collect()} == {"o1"}
    processed = {r_["graph"] for r_ in store.processed_versions().collect()}
    assert processed == {f"g{i}" for i in range(20)}  # orphan lineage ignored
    # ...and the replayed merge converges over the orphan dir
    locks = glob.glob(os.path.join(path, "**", "*.lock"), recursive=True)
    assert locks
    bystander = subprocess.Popen(["sleep", "60"])
    try:
        for lock in locks:
            with open(lock, "w") as f:
                f.write(str(bystander.pid))
        rows2 = triples_df(spark, [("g1", "s", "p", "NEW", True, None)])
        store.merge(rows2)
    finally:
        bystander.kill()
        bystander.wait()
    assert {r_["object"] for r_ in store.triples().where("graph = 'g1'").collect()} == {"NEW"}
    assert store.triples().count() == 20


@pytest.mark.slow
def test_kill_before_manifest_then_compact_publishes_no_orphan_lineage(spark, sf_dir, tmp_path):
    """A merge killed on entry to its manifest write leaves its data dir
    AND its lineage dir under commit id 1. A compaction then takes id 1:
    it must not publish the dead commit's lineage, or the orphan's graph
    version becomes a watermark for a graph the store does not hold, and
    an incremental feed of that graph is skipped for good."""
    from genegraph_spark import fixtures
    from genegraph_spark.plans.pipeline import run_to_store

    page = fixtures.pages_df(spark, sf_dir).where("doc_id = 1 AND version = 1")
    url = page.first().url
    path = str(tmp_path / "crash_store")
    _crash(path, "merge", "publish", after=False, graph=url, version=7)
    assert os.path.isdir(os.path.join(path, "lineage", "commit=1"))  # the orphan

    store = NamedGraphStore(spark, path)
    assert store.compact()["commit"] == 1
    processed = {r_["graph"] for r_ in store.processed_versions().collect()}
    assert processed == {f"g{i}" for i in range(20)}
    assert store.graphs([url]).count() == 0
    # the graph's page at a version below the orphan's is processed
    res, store, _ = run_to_store(spark, sf_dir, path, pages=page, incremental=True,
                                 use_golden_text=True)
    assert res.pages.count() == 1
    assert store.graphs([url]).count() > 0


@pytest.mark.slow
@pytest.mark.parametrize(
    "op, step, after, heads",
    [
        ("compact", "_write_data", True, {0, 1}),
        ("compact", "publish", False, {0}),
        ("expire_snapshots", "rmtree", True, {1}),
    ],
    ids=["compact", "compact-before-manifest", "expire_snapshots"],
)
def test_killed_maintenance_leaves_a_whole_store(spark, tmp_path, monkeypatch, op, step, after, heads):
    """A compaction killed after its data write or on entry to its
    manifest write, and an expiry killed after its first data dir
    removal, leave a store whose head is the old or the new commit, whose
    every listed snapshot reads in full (an expiry that removed data
    before manifests left commit 0 listed with none of its rows), and
    whose lineage lists only committed graphs. An expiry reclaims a dead
    compaction's orphan data dir, a replay converges and reclaims the
    orphans, and a later merge revives no orphan row."""
    from genegraph_spark.sinks import commit

    monkeypatch.setattr(commit, "RETAIN_S", 0)
    path = str(tmp_path / "crash_store")
    _crash(path, op, step, after=after)

    store = NamedGraphStore(spark, path, n_buckets=4)
    content = {(f"g{i}", f"o{i}") for i in range(20)}
    assert store.last_commit() in heads
    assert {(r_["graph"], r_["object"]) for r_ in store.triples().collect()} == content
    listed = sorted(int(m[1:-5]) for m in os.listdir(os.path.join(path, "manifests"))
                    if m.endswith(".json"))
    for c in listed:
        assert store.triples(commit=c).count() == 20, c
    assert {r_["graph"] for r_ in store.processed_versions().collect()} == {g for g, _ in content}
    if store.last_commit() == 0:  # the compaction died unpublished
        assert store.expire_snapshots() == ["data/c00000001"]

    getattr(store, op)()  # the replay
    assert {(r_["graph"], r_["object"]) for r_ in store.triples().collect()} == content
    if op == "expire_snapshots":
        live = set(store._log.read(store.last_commit())["buckets"].values())
        assert os.listdir(os.path.join(path, "manifests")) == ["c00000001.json"]
        assert {f"data/{d}" for d in os.listdir(os.path.join(path, "data"))} == live

    store.merge(
        triples_df(spark, [("g2", "s", "p", "LATER", True, None)]),
        per_graph=spark.createDataFrame(
            [("g3", True, None)], "graph string, deleted boolean, version bigint"
        ),
    )
    want = {(g, "LATER" if g == "g2" else o) for g, o in content if g != "g3"}
    assert {(r_["graph"], r_["object"]) for r_ in store.triples().collect()} == want


# -- snapshot tables + params + dates -------------------------------

def test_snapshot_store_versions_and_asof(spark, tmp_path):
    from genegraph_spark.sinks.snapshots import SnapshotStore

    store = SnapshotStore(spark, str(tmp_path / "snaps"))
    v1 = spark.createDataFrame(
        [("e1", 1, "a"), ("e2", 1, "b")], "is_version_of string, version int, doc string"
    )
    v2 = spark.createDataFrame([("e1", 2, "a2")], "is_version_of string, version int, doc string")
    assert store.write("trait", v1) == 0
    assert store.write("trait", v2) == 1
    # idempotent replay of a snapshot id
    store.write("trait", v2, snapshot=1)
    assert store.read("trait").count() == 3
    asof1 = {(r["is_version_of"], r["doc"]) for r in store.latest_as_of("trait", 1).collect()}
    assert asof1 == {("e1", "a"), ("e2", "b")}
    asof2 = {(r["is_version_of"], r["doc"]) for r in store.latest_as_of("trait", 2).collect()}
    assert asof2 == {("e1", "a2"), ("e2", "b")}


def test_fix_offset_colon_repair():
    import pandas as pd  # noqa: F401
    from genegraph_spark.functions import dates as DT
    from pyspark.sql import functions as F  # noqa: F811

    # pure-expression check via a tiny frame
    from genegraph_spark.session import get_spark

    spark = get_spark("dates_test")
    df = spark.createDataFrame(
        [("2024-01-15T10:30:00.000+0000",), ("2024-01-15T10:30:00.000+00:00",)], "raw string"
    )
    out = df.select(DT.fix_offset_colon(F.col("raw")).alias("fixed"),
                    DT.parse_offset_ts(F.col("raw")).alias("ts")).collect()
    assert out[0]["fixed"] == "2024-01-15T10:30:00.000+00:00"
    assert out[0]["ts"] == out[1]["ts"] is not None


# -- as-of join, isomorphism, stateful streaming ---------------------

def test_asof_join_union_merge(spark):
    from genegraph_spark.operators.versioned import asof_join

    right = spark.createDataFrame(
        [("k1", 1, "v1"), ("k1", 3, "v3"), ("k2", 2, "w2")],
        "k string, ver long, payload string",
    )
    left = spark.createDataFrame(
        [("k1", 0, "a"), ("k1", 1, "b"), ("k1", 2, "c"), ("k1", 9, "d"), ("k2", 1, "e"), ("k3", 5, "f")],
        "k string, t long, tag string",
    )
    out = asof_join(left, right, key="k", left_on="t", right_on="ver", right_cols=["ver", "payload"])
    got = {(r["tag"], r["ver"], r["payload"]) for r in out.collect()}
    assert got == {
        ("a", None, None),      # before first version
        ("b", 1, "v1"),         # equal version matches (<=)
        ("c", 1, "v1"),
        ("d", 3, "v3"),
        ("e", None, None),      # k2's only version is 2 > 1
        ("f", None, None),      # key absent from right
    }


@pytest.mark.slow
def test_model_isomorphism_bnode_renaming(spark):
    from genegraph_spark.operators import model as M

    a = triples_df(spark, [
        ("g", "s", ":has", "_:x", True, None),
        ("g", "_:x", ":val", "1", False, "xsd:int"),
        ("g", "s", ":has", "_:y", True, None),
        ("g", "_:y", ":val", "2", False, "xsd:int"),
    ])
    b = triples_df(spark, [  # same graph, bnodes renamed + reordered
        ("g", "_:q", ":val", "2", False, "xsd:int"),
        ("g", "s", ":has", "_:p", True, None),
        ("g", "_:p", ":val", "1", False, "xsd:int"),
        ("g", "s", ":has", "_:q", True, None),
    ])
    c = triples_df(spark, [  # different literal -> NOT isomorphic
        ("g", "s", ":has", "_:x", True, None),
        ("g", "_:x", ":val", "1", False, "xsd:int"),
        ("g", "s", ":has", "_:y", True, None),
        ("g", "_:y", ":val", "3", False, "xsd:int"),
    ])
    assert M.is_isomorphic(a, b)
    assert not M.is_isomorphic(a, c)
    assert M.model_diff(a, a).isEmpty()


def test_stateful_stream_carries_state_across_batches(spark, sf_dir, tmp_path):
    from genegraph_spark.streaming import stream as S

    src = S.write_events_source(spark, sf_dir, str(tmp_path / "src"))
    # two files per trigger over 4 files -> 2 micro-batches: the final
    # totals are only right if GroupState survives the batch boundary
    got = S.stream_user_running_totals(spark, src, str(tmp_path / "ckpt"))
    expected = (
        spark.read.parquet(src)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total"))
    )
    a = {(r["user_id"], r["n_events"], r["total"]) for r in got.collect()}
    b = {(r["user_id"], r["n_events"], r["total"]) for r in expected.collect()}
    assert a == b


# -- skew utilities --------------------------------------------------------------

def test_salted_aggregate_and_topk_match_direct(spark):
    from genegraph_spark.operators import skew as SK
    from pyspark.sql import Window

    df = spark.range(1000).select(
        (F.col("id") % 3).cast("string").alias("k"),
        F.col("id").alias("rid"),
        (F.col("id") * 7 % 101).cast("double").alias("score"),
    )
    topk = SK.salted_top_k(df, "k", "score", k=5, salt_by="rid", tiebreak="rid")
    w = Window.partitionBy("k").orderBy(F.desc("score"), F.asc("rid"))
    directk = df.withColumn("rank", F.row_number().over(w)).where("rank <= 5")
    assert {tuple(r) for r in topk.select("k", "rid", "rank").collect()} == {
        tuple(r) for r in directk.select("k", "rid", "rank").collect()
    }


# -- plan-shape regressions (lock in the audited physical plans) -----------------

def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_kg_triples_plan_shape(spark, sf_dir):
    import __spark_entry__ as E

    plan = _plan(E.queries()["kg_triples"](spark, sf_dir))
    assert "SortMergeJoin" not in plan  # dictionary joins must broadcast
    assert plan.count("MapInPandas") == 1  # exactly one Python pass
    assert "CartesianProduct" not in plan


def test_mentions_broadcast_join(spark, sf_dir):
    import __spark_entry__ as E

    plan = _plan(E.queries()["kg_mentions_preferred"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # gazetteer side broadcast
    assert "SortMergeJoin" not in plan


# -- resume skip + curation views -------------------------------------------------

def test_resume_skips_committed_graphs(spark, sf_dir, tmp_path):
    from genegraph_spark.plans.pipeline import run_to_store

    path = str(tmp_path / "kg_resume")
    res1, store1, _ = run_to_store(spark, sf_dir, path, use_golden_text=True)
    n1 = store1.triples().count()
    res2, store2, _ = run_to_store(spark, sf_dir, path, incremental=True, use_golden_text=True)
    # all page graphs already committed -> the resumed run reprocesses none
    assert res2.pages.count() == 0
    assert store2.triples().count() == n1  # state unchanged


def test_curation_views_shape(spark, sf_dir):
    from genegraph_spark.plans import curation as CUR
    from genegraph_spark.plans.pipeline import construct_kg

    t = construct_kg(spark, sf_dir, use_golden_text=True).triples
    pairs = CUR.gene_disease_pairs(t)
    assert pairs.columns == ["gene", "disease", "n_pages"]
    assert pairs.where("gene = disease").count() == 0
    top = CUR.entity_page_counts(t, entity_type="gene", limit=3)
    rows = top.collect()
    assert len(rows) <= 3
    assert all("/entity/" in r["entity"] for r in rows)
    sug = CUR.suggest_labels(t, "s", limit=4).collect()
    assert 0 < len(sug) <= 4 and all(r["label"].startswith("s") for r in sug)


# -- ANN recall, bucketed co-located join ----------------------------------------

def test_ivf_recall_vs_brute_force(spark, sf_dir):
    from genegraph_spark.operators import similarity as SIM
    import pyspark.sql.functions as F  # noqa: F811

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id < 10").select(F.col("vec_id").alias("query_id"), "embedding")
    exact = SIM.cosine_topk(emb, q, k=5)
    approx = SIM.ivf_topk(emb, q, k=5, n_probe=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # md5-bucket centroids are a weak quantizer; with n_probe=4 of 16
    # partitions recall must still beat random scanning by a wide margin
    assert recall >= 0.5, recall


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Co-located join via bucketing: two tables bucketed by the join key
    into the same bucket count join with zero Exchange operators — the
    pre-partitioning strategy SURVEY §2.1 promises for repeated big-big
    joins (at cluster scale: Iceberg bucket partition transforms)."""
    # warehouse dir is a static conf — tables land in ./spark-warehouse
    # (gitignored) and are dropped in the finally block
    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    a.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("t_bucket_a")
    b.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("t_bucket_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the big-big path (tiny test tables would broadcast, which
        # disables bucketing): the bucketed SMJ must need NO shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_bucket_a").join(spark.table("t_bucket_b"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


# -- second-review regression fixes ----------------------------------------------

def test_asof_join_null_payload_stays_atomic(spark):
    from genegraph_spark.operators.versioned import asof_join

    right = spark.createDataFrame(
        [("k", 1, "x"), ("k", 5, None), ("k", None, "bad")],
        "k string, ver long, payload string",
    )
    left = spark.createDataFrame([("k", 6, "a"), ("k", 0, "b")], "k string, t long, tag string")
    out = {r["tag"]: (r["ver"], r["payload"]) for r in asof_join(
        left, right, key="k", left_on="t", right_on="ver", right_cols=["ver", "payload"]
    ).collect()}
    # the matched row is ver=5 WITH its own NULL payload (not ver=1's 'x')
    assert out["a"] == (5, None)
    # NULL-version right rows can never match (t=0 has no candidate)
    assert out["b"] == (None, None)


def test_store_n_buckets_persisted_on_reopen(spark, tmp_path):
    path = str(tmp_path / "store_nb")
    s1 = NamedGraphStore(spark, path, n_buckets=8)
    s1.merge(triples_df(spark, [(f"g{i}", "s", "p", f"o{i}", True, None) for i in range(50)]))
    # reopening with a different n_buckets must adopt the persisted layout
    s2 = NamedGraphStore(spark, path, n_buckets=32)
    assert s2.n_buckets == 8
    s2.merge(triples_df(spark, [("g7", "s", "p", "NEW", True, None)]))
    got = {r["object"] for r in s2.triples().where("graph = 'g7'").collect()}
    assert got == {"NEW"}  # old row rewritten, not stranded in a stale bucket
    assert s2.triples().count() == 50


def test_merge_delete_wins_over_publish(spark, tmp_path):
    store = NamedGraphStore(spark, str(tmp_path / "store_dw"), n_buckets=4)
    store.merge(triples_df(spark, [("g1", "s", "p", "o", True, None)]))
    both = triples_df(spark, [("g1", "s", "p", "o2", True, None), ("g2", "s", "p", "o", True, None)])
    dels = spark.createDataFrame([("g1", True, None)], "graph string, deleted boolean, version bigint")
    store.merge(both, per_graph=dels)
    graphs = {r["graph"] for r in store.triples().select("graph").distinct().collect()}
    assert graphs == {"g2"}  # g1 deleted deterministically
    actions = {(r["graph"], r["action"]) for r in store.lineage().where("commit = 1").collect()}
    assert actions == {("g1", "unpublish"), ("g2", "publish")}
