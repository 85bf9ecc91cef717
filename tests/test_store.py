"""Named-graph store semantics: replace-by-graph merge, unpublish,
idempotent resume — the create/update/delete sequence test (FIXTURES §5;
reference analog: one-variation-create-update-delete fixtures and
replaceNamedModel semantics, database/load.clj:72-87)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from genegraph_spark.sinks.named_graph import TRIPLE_SCHEMA, NamedGraphStore


def t(graph, s, p, o, is_iri=True, dt=None):
    return (graph, s, p, o, is_iri, dt)


def make(spark, rows):
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def deleted(spark, *graphs):
    """The per-graph frame that deletes ``graphs``."""
    return spark.createDataFrame(
        [(g, True, None) for g in graphs], "graph string, deleted boolean, version bigint"
    )


def test_create_update_delete_sequence(spark, tmp_path):
    store = NamedGraphStore(spark, str(tmp_path / "store"), n_buckets=8)

    # create: two graphs
    c1 = make(spark, [t("g1", "s1", "p", "o1"), t("g1", "s1", "p", "o2"), t("g2", "s2", "p", "o1")])
    store.merge(c1)
    assert store.triples().count() == 3

    # update: g1 replaced wholesale (shrinks to one triple); g2 untouched
    c2 = make(spark, [t("g1", "s1", "p", "o3")])
    store.merge(c2)
    got = {(r["graph"], r["object"]) for r in store.triples().collect()}
    assert got == {("g1", "o3"), ("g2", "o1")}

    # idempotent replay (resume semantics: same merge converges)
    store.merge(c2)
    got2 = {(r["graph"], r["object"]) for r in store.triples().collect()}
    assert got2 == got

    # delete: unpublish g1
    store.merge(make(spark, []), per_graph=deleted(spark, "g1"))
    got3 = {(r["graph"], r["object"]) for r in store.triples().collect()}
    assert got3 == {("g2", "o1")}

    # lineage shows the full history
    lin = store.lineage()
    assert lin.where("graph = 'g1'").count() == 4  # publish, publish, publish, unpublish


def test_merge_only_rewrites_touched_buckets(spark, tmp_path):
    store = NamedGraphStore(spark, str(tmp_path / "store2"), n_buckets=64)
    many = make(spark, [t(f"g{i}", "s", "p", f"o{i}") for i in range(200)])
    store.merge(many)
    # single-graph update touches exactly one bucket
    one = make(spark, [t("g7", "s", "p", "NEW")])
    store.merge(one)
    got = {r["object"] for r in store.triples().where(F.col("graph") == "g7").collect()}
    assert got == {"NEW"}
    assert store.triples().count() == 200


def test_pipeline_to_store_and_resume(spark, sf_dir, tmp_path):
    """Full batch run lands in the store; a resumed (replayed) run
    converges to the same state; time travel sees the prior snapshot."""
    from genegraph_spark.plans.pipeline import run_to_store

    path = str(tmp_path / "kg")
    res, store, commit = run_to_store(spark, sf_dir, path, use_golden_text=True)
    n1 = store.triples().count()
    assert n1 > 0
    live_graphs = {r["graph"] for r in store.triples().select("graph").distinct().collect()}
    tombstoned = {r["graph"] for r in res.per_graph.where("deleted").collect()}
    assert tombstoned and not (live_graphs & tombstoned)

    # replay (simulates resume after kill mid-run): state converges
    res2, store2, commit2 = run_to_store(spark, sf_dir, path, use_golden_text=True)
    assert store2.triples().count() == n1
    a = {tuple(r) for r in store2.triples().collect()}
    b = {tuple(r) for r in store2.triples(commit=commit["commit"]).collect()}
    assert a == b


def test_compact_and_expire_snapshots(spark, tmp_path):
    import os

    store = NamedGraphStore(spark, str(tmp_path / "store3"), n_buckets=8)
    store.merge(make(spark, [t(f"g{i}", "s", "p", f"o{i}") for i in range(40)]))
    store.merge(make(spark, [t("g3", "s", "p", "NEW3")]))            # c1
    store.merge(make(spark, []), per_graph=deleted(spark, "g5"))    # c2
    before = {(r["graph"], r["object"]) for r in store.triples().collect()}
    pre_commit = store.last_commit()

    meta = store.compact()                                           # c3
    assert meta["compaction_of"] == pre_commit
    # content unchanged, all buckets now point at the compaction dir
    after = {(r["graph"], r["object"]) for r in store.triples().collect()}
    assert after == before
    assert set(meta["buckets"].values()) == {f"data/c{meta['commit']:08d}"}
    # no content change ⇒ empty diff vs the pre-compaction snapshot
    assert store.diff(pre_commit, meta["commit"]).count() == 0
    # time travel to pre-compaction commits still works…
    assert store.triples(commit=0).count() == 40

    removed = store.expire_snapshots(keep_last=1)
    assert removed  # old commit dirs reclaimed
    data_dirs = set(os.listdir(os.path.join(str(tmp_path / "store3"), "data")))
    assert data_dirs == {f"c{meta['commit']:08d}"}
    # …until expiry; latest snapshot unaffected
    assert {(r["graph"], r["object"]) for r in store.triples().collect()} == before
    live = {r["graph"] for r in store.triples().select("graph").distinct().collect()}
    assert "g5" not in live and "g3" in live

    # writes continue normally after maintenance
    store.merge(make(spark, [t("g100", "s", "p", "o100")]))
    assert store.triples().where(F.col("graph") == "g100").count() == 1


@pytest.mark.parametrize("op", ["merge", "compact", "expire_snapshots"])
def test_commit_fails_when_the_store_advances_while_locking(spark, tmp_path, monkeypatch, op):
    """merge, compact and expire_snapshots re-read the head under the
    commit lock: a commit that lands while the lock is being acquired
    makes them raise, and the landed commit and older snapshots stay."""
    from contextlib import contextmanager

    path = str(tmp_path / "race")
    store = NamedGraphStore(spark, path, n_buckets=4)
    store.merge(make(spark, [t("g1", "s", "p", "o1")]))
    store.merge(make(spark, [t("g2", "s", "p", "o2")]))
    lock = store._commit_lock

    @contextmanager
    def racing_lock():
        # another writer commits before this one holds the lock
        NamedGraphStore(spark, path).merge(make(spark, [t("g3", "s", "p", "o3")]))
        with lock():
            yield

    monkeypatch.setattr(store, "_commit_lock", racing_lock)
    run = {
        "merge": lambda: store.merge(make(spark, [t("g1", "s", "p", "NEW")])),
        "compact": store.compact,
        "expire_snapshots": store.expire_snapshots,
    }[op]
    with pytest.raises(RuntimeError, match="store advanced past commit 1"):
        run()
    assert store.last_commit() == 2
    got = {(r["graph"], r["object"]) for r in store.triples().collect()}
    assert got == {("g1", "o1"), ("g2", "o2"), ("g3", "o3")}
    assert store.triples(commit=0).count() == 1


def test_incremental_commit_plans_the_url_repartition_at_any_history(
    spark, sf_dir, tmp_path, monkeypatch
):
    """construct_kg's low-split probe does not flip with the store's
    history: an incremental commit onto a store with defaultParallelism
    commits (as many lineage files, which the watermark anti-join reads)
    plans the same url repartition as a commit onto a new store."""
    import re

    from genegraph_spark import fixtures
    from genegraph_spark.plans import pipeline

    built = []
    construct_kg = pipeline.construct_kg

    def recording(*a, **kw):
        built.append(construct_kg(*a, **kw))
        return built[-1]

    def url_repartitions(res):
        plan = res.heads._jdf.queryExecution().analyzed().toString()
        return re.findall(r"RepartitionByExpression \[url\], \d+", re.sub(r"#\d+", "", plan))

    monkeypatch.setattr(pipeline, "construct_kg", recording)
    path = str(tmp_path / "hist")
    pages = fixtures.pages_df(spark, sf_dir)

    def dry_run():
        pipeline.run_to_store(spark, sf_dir, path, pages=pages, incremental=True,
                              use_golden_text=True, dry_run=True)

    dry_run()
    store = NamedGraphStore(spark, path, n_buckets=4)
    for i in range(spark.sparkContext.defaultParallelism):
        store.merge(make(spark, [t("g", "s", "p", f"o{i}")]))
    dry_run()
    first, later = map(url_repartitions, built)
    assert first and later == first


def test_incremental_ingest_processes_only_updated_urls(spark, sf_dir, tmp_path):
    """incremental=True keys the skip-set on (url, max processed version):
    unchanged urls are never re-extracted, a url with a NEW version is —
    the gap the restart-only resume mode documents away."""
    from genegraph_spark import fixtures
    from genegraph_spark.plans.pipeline import run_to_store

    path = str(tmp_path / "inc")
    base = fixtures.pages_df(spark, sf_dir)
    _, store, c0 = run_to_store(spark, sf_dir, path, pages=base, use_golden_text=True)
    n0 = store.triples().count()

    # identical feed: zero stale pages, and the store already holds the
    # current dictionary graph: nothing is committed
    res2, store, c1 = run_to_store(
        spark, sf_dir, path, pages=base, incremental=True, use_golden_text=True
    )
    assert res2.pages.count() == 0
    assert c1["commit"] == c0["commit"]
    assert store.triples().count() == n0
    assert store.diff(c0["commit"], c1["commit"]).count() == 0

    # feed with ONE url advanced to a new version (different text);
    # pick a url whose head is a LIVE v1 (max version 3 would copy the
    # fixture's tombstone html and the graph would stay deleted)
    row = (
        base.groupBy("url")
        .agg(F.max("version").alias("v"))
        .where(F.col("v") == 1)
        .orderBy("url")
        .limit(1)
    ).collect()[0]
    upd = (
        base.where((F.col("url") == row.url) & (F.col("version") == row.v))
        .withColumn("version", F.col("version") + F.lit(1))
        .withColumn("text", F.lit("spark big slow"))
    )
    res3, store, c2 = run_to_store(
        spark, sf_dir, path, pages=base.unionByName(upd),
        incremental=True, use_golden_text=True,
    )
    # only the updated url entered the pipeline…
    assert {r.url for r in res3.pages.select("url").distinct().collect()} == {row.url}
    # …and only its graph changed in the store
    changed = {r.graph for r in store.diff(c1["commit"], c2["commit"]).collect()}
    assert changed == {row.url}
    # its watermark advanced, so replaying the same feed is again a no-op
    res4, store, _ = run_to_store(
        spark, sf_dir, path, pages=base.unionByName(upd),
        incremental=True, use_golden_text=True,
    )
    assert res4.pages.count() == 0


def test_per_partition_metrics_recorded(spark, tmp_path):
    """North rule: every partition writes row-count metrics alongside
    lineage; latencies land in the manifest's timings block."""
    store = NamedGraphStore(spark, str(tmp_path / "m"), n_buckets=8)
    meta = store.merge(make(spark, [t(f"g{i}", "s", "p", f"o{i}") for i in range(50)]))
    m0 = store.metrics().where(F.col("commit") == 0)
    got = {(r.bucket, r.n_rows) for r in m0.collect()}
    # sums reconcile with the data itself
    assert sum(n for _, n in got) == 50
    assert m0.agg(F.sum("n_graphs")).collect()[0][0] == 50
    assert meta["timings"]["write_s"] > 0
    # an incremental commit records metrics only for its touched buckets
    store.merge(make(spark, [t("g7", "s", "p", "NEW")]))
    m1 = store.metrics().where(F.col("commit") == 1)
    assert 0 < m1.count() <= 2  # ≤ buckets touched by one graph


def test_graph_point_lookup_prunes_buckets(spark, tmp_path):
    """graphs() reads only the buckets the requested graphs hash to and
    returns exactly their content (getNamedModel read-side analog)."""
    store = NamedGraphStore(spark, str(tmp_path / "pl"), n_buckets=16)
    store.merge(make(spark, [t(f"g{i}", "s", "p", f"o{i}") for i in range(200)]))

    got = {(r.graph, r.object) for r in store.graphs(["g7", "g42"]).collect()}
    assert got == {("g7", "o7"), ("g42", "o42")}
    # empty request / missing graph
    assert store.graphs(["nope"]).count() == 0
    # pruning: the lookup's scan touches fewer distinct files than a full read
    lookup_files = {
        r[0] for r in store.graphs(["g7"])
        .select(F.input_file_name()).distinct().collect()
    }
    all_files = {
        r[0] for r in store.triples()
        .select(F.input_file_name()).distinct().collect()
    }
    assert 0 < len(lookup_files) < len(all_files)


def test_snapshot_isolation_for_concurrent_reader(spark, tmp_path):
    """Copy-on-write: a reader holding a snapshot keeps seeing it while a
    writer lands the next commit (old segments are never modified until
    expire_snapshots)."""
    store = NamedGraphStore(spark, str(tmp_path / "iso"), n_buckets=8)
    store.merge(make(spark, [t("g1", "s", "p", "v1"), t("g2", "s", "p", "x")]))
    reader = store.triples(commit=0)  # snapshot pinned BEFORE the update
    store.merge(make(spark, [t("g1", "s", "p", "v2")]))
    # the pinned snapshot still reads the old value after the new commit
    assert {r.object for r in reader.where(F.col("graph") == "g1").collect()} == {"v1"}
    assert {
        r.object for r in store.triples().where(F.col("graph") == "g1").collect()
    } == {"v2"}


def test_expire_keep_more_than_commits_is_noop(spark, tmp_path):
    store = NamedGraphStore(spark, str(tmp_path / "nk"), n_buckets=4)
    store.merge(make(spark, [t("g1", "s", "p", "o")]))
    assert store.expire_snapshots(keep_last=5) == []
    assert store.triples().count() == 1


def test_expire_with_nothing_to_drop_reclaims_orphan_dirs(spark, tmp_path):
    """An expiry killed between its manifest and data removals leaves only
    orphan dirs; the next expiry reclaims them, even with no manifest left
    to drop."""
    import os

    store = NamedGraphStore(spark, str(tmp_path / "orphan"), n_buckets=4)
    store.merge(make(spark, [t("g1", "s", "p", "o")]))
    os.makedirs(os.path.join(store.path, "data", "c00000007", "bucket=0"))
    assert store.expire_snapshots() == ["data/c00000007"]
    assert os.listdir(os.path.join(store.path, "data")) == ["c00000000"]
    assert store.triples().count() == 1


def test_graphs_on_empty_store(spark, tmp_path):
    store = NamedGraphStore(spark, str(tmp_path / "es"), n_buckets=4)
    assert store.graphs(["g1"]).count() == 0


def test_graph_bucket_matches_spark_xxhash64(spark):
    """The driver-side bucket function equals the writer's Spark
    ``pmod(xxhash64(graph), n)``: every byte length 0-40 (the 4-, 8- and
    32-byte paths of XXH64), the empty string, non-ASCII text, and a few
    thousand seeded IRIs."""
    import random

    import pandas as pd

    from genegraph_spark.sinks.named_graph import graph_bucket

    rng = random.Random(20260)
    ascii_ = "abcdefghijklmnopqrstuvwxyz0123456789/:.-_"
    wide = ascii_ + "éüß中文🧬Ω"
    graphs = ["".join(rng.choice(ascii_) for _ in range(n)) for n in range(41)]
    graphs += ["", "é", "中文", "🧬", "https://ex.org/p/ü"]
    graphs += [
        f"https://ex{rng.randrange(97)}.example.org/p/"
        + "".join(rng.choice(wide) for _ in range(rng.randrange(60)))
        for _ in range(3000)
    ]
    df = spark.createDataFrame(pd.DataFrame({"graph": graphs}), "graph string")
    for n in (16, 64):
        got = df.select("graph", F.pmod(F.xxhash64("graph"), F.lit(n)).alias("b")).collect()
        assert len(got) == len(graphs)
        bad = [(r.graph, r.b) for r in got if graph_bucket(r.graph, n) != r.b]
        assert not bad, bad[:5]


def test_graph_lookup_submits_no_spark_job(spark, tmp_path):
    """Building a point lookup hashes the IRIs on the driver and lists
    only their bucket directories: no Spark job until it is collected."""
    store = NamedGraphStore(spark, str(tmp_path / "nj"), n_buckets=64)
    store.merge(make(spark, [t(f"g{i}", "s", "p", f"o{i}") for i in range(200)]))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("lookup-build", "graphs() without a job")
        lookup = store.graphs(["g7", "g42"])
        assert list(tracker.getJobIdsForGroup("lookup-build")) == []
        # the probe sees jobs of this group: collecting the lookup runs one
        sc.setJobGroup("lookup-run", "graphs() collect")
        got = {(r.graph, r.object) for r in lookup.collect()}
        assert list(tracker.getJobIdsForGroup("lookup-run"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == {("g7", "o7"), ("g42", "o42")}


def test_failed_merge_leaves_no_cached_frames(spark, tmp_path):
    """A merge whose incoming triples raise at evaluation unpersists the
    frames it cached before the error propagates."""
    spark.catalog.clearCache()
    store = NamedGraphStore(spark, str(tmp_path / "fail"), n_buckets=8)
    store.merge(make(spark, [t("g1", "s", "p", "o1")]))
    bad = make(spark, [t("g2", "s", "p", "boom")]).withColumn(
        "object",
        F.when(F.col("object") == "boom", F.raise_error(F.lit("boom")))
        .otherwise(F.col("object")),
    )
    with pytest.raises(Exception, match="boom"):
        store.merge(bad)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # the failed commit is invisible and the store still accepts writes
    assert store.last_commit() == 0
    store.merge(make(spark, [t("g2", "s", "p", "o2")]))
    assert {r.graph for r in store.triples().collect()} == {"g1", "g2"}


def test_merge_that_changes_nothing_writes_nothing(spark, tmp_path):
    """On a store with a head, a merge whose triples and per-graph facts
    touch no graph returns the head's manifest and writes no data dir,
    lineage or manifest; on an empty store it still creates commit 0."""
    import os

    path = str(tmp_path / "noop")
    store = NamedGraphStore(spark, path, n_buckets=4)
    assert store.merge(make(spark, []))["commit"] == 0
    head = store.merge(make(spark, [t("g1", "s", "p", "o1")]))
    untouched = spark.createDataFrame([("g2", False, 5)], "graph string, deleted boolean, version bigint")
    assert store.merge(make(spark, [])) == head
    assert store.merge(make(spark, []), per_graph=untouched) == head
    assert store.last_commit() == 1
    assert sorted(os.listdir(os.path.join(path, "data"))) == ["c00000000", "c00000001"]
    assert sorted(os.listdir(os.path.join(path, "lineage"))) == ["commit=0", "commit=1"]


def test_manifest_write_killed_midway_leaves_the_head(spark, tmp_path, monkeypatch):
    """A manifest write that stops partway leaves no truncated manifest:
    the head stays the previous commit and reads as before, and the next
    merge takes the interrupted commit's id."""
    from genegraph_spark.sinks import named_graph

    store = NamedGraphStore(spark, str(tmp_path / "torn"), n_buckets=4)
    store.merge(make(spark, [t("g1", "s", "p", "o1")]))

    def torn_dump(obj, f):
        f.write('{"commit": 1, "buck')
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(named_graph.json, "dump", torn_dump)
        with pytest.raises(OSError, match="disk full"):
            store.merge(make(spark, [t("g2", "s", "p", "o2")]))
    reopened = NamedGraphStore(spark, str(tmp_path / "torn"))
    assert reopened.last_commit() == 0 and reopened.n_buckets == 4
    assert {r.graph for r in reopened.triples().collect()} == {"g1"}
    assert reopened.merge(make(spark, [t("g2", "s", "p", "o2")]))["commit"] == 1
    assert {r.graph for r in reopened.triples().collect()} == {"g1", "g2"}


def test_incremental_commit_runs_the_mapper_once(spark, sf_dir, tmp_path, monkeypatch):
    """One ``run_to_store(incremental=True)`` commit runs the page mapper
    over each stale page exactly once: triples, deletes and the watermark
    all read the persisted slim rows."""
    from genegraph_spark import fixtures
    from genegraph_spark.operators import mentions
    from genegraph_spark.plans.pipeline import run_to_store

    path = str(tmp_path / "once")
    base = fixtures.pages_df(spark, sf_dir)
    run_to_store(spark, sf_dir, path, pages=base, use_golden_text=True)

    heads = base.groupBy("url").agg(F.max("version").alias("v"))
    urls = [r.url for r in heads.where(F.col("v") == 1).orderBy("url").limit(3).collect()]
    upd = (
        base.where(F.col("url").isin(urls))
        .withColumn("version", F.col("version") + F.lit(1))
        .withColumn("text", F.lit("spark big slow"))
    )

    emitted = spark.sparkContext.accumulator(0)
    make_mapper = mentions.make_page_mapper

    def counting_mapper(*args, **kwargs):
        inner = make_mapper(*args, **kwargs)

        def mapper(batches):
            for pdf in inner(batches):
                emitted.add(len(pdf))
                yield pdf

        return mapper

    monkeypatch.setattr(mentions, "make_page_mapper", counting_mapper)
    res, store, _ = run_to_store(
        spark, sf_dir, path, pages=base.unionByName(upd),
        incremental=True, use_golden_text=True,
    )
    n_emitted = emitted.value
    stale = res.pages.count()
    assert stale >= len(urls)
    assert n_emitted == stale
    changed = {r.graph for r in store.diff(store.last_commit() - 1, store.last_commit()).collect()}
    assert changed == set(urls)


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under a job group; return (its result, the jobs it ran)."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_lineage_reads_without_a_job(spark, tmp_path):
    """Building ``processed_versions()`` submits no Spark job (no schema
    merge over every commit's lineage), and a commit written before the
    ``version`` column existed reads it as null."""
    path = str(tmp_path / "lin")
    store = NamedGraphStore(spark, path, n_buckets=4)
    store.merge(
        make(spark, [t("g1", "s", "p", "o")]),
        per_graph=spark.createDataFrame([("g1", False, 3)], "graph string, deleted boolean, version bigint"),
    )
    # an older commit's lineage: no version column
    spark.createDataFrame([("g0", 5, "publish")], "graph string, n_triples bigint, action string") \
        .write.parquet(str(tmp_path / "lin" / "lineage" / "commit=-1"))
    wm, jobs = _jobs_in_group(spark, "wm-build", store.processed_versions)
    assert jobs == 0
    assert {(r.graph, r.version) for r in wm.collect()} == {("g0", None), ("g1", 3)}
    assert store.lineage().columns == ["graph", "n_triples", "action", "version", "commit"]


def _feed_onto_base(spark, sf_dir, tmp_path):
    """A base store over the sf_dir pages, and a 14-url feed onto it:
    10 live urls advanced to a new version, 2 live urls tombstoned and 2
    new urls — written to parquet, as a feed arrives."""
    from genegraph_spark import fixtures
    from genegraph_spark.plans.pipeline import run_to_store

    path = str(tmp_path / "base")
    base = fixtures.pages_df(spark, sf_dir)
    run_to_store(spark, sf_dir, path, pages=base, use_golden_text=True)
    heads = base.groupBy("url").agg(F.max("version").alias("v"))
    live = [r.url for r in heads.where(F.col("v") == 1).orderBy("url").limit(12).collect()]
    upd = base.where(F.col("url").isin(live[:10])).withColumn("text", F.lit("spark big slow"))
    tomb = base.where(F.col("url").isin(live[10:])).withColumn(
        "html", F.encode(F.lit('<html><head><meta name="status" content="unpublished"/></head></html>'),
                         "UTF-8"))
    docs = spark.createDataFrame([(90001, "join hash new", "en"), (90002, "sort scan new", "en")],
                                 "doc_id long, text string, lang string")
    new = fixtures.pages_from_docs(docs).where(F.col("version") == 1)
    feed = upd.unionByName(tomb).withColumn("version", F.col("version") + 1).unionByName(new)
    feed.write.parquet(str(tmp_path / "feed"))
    return path, spark.read.parquet(str(tmp_path / "feed")), live


def test_incremental_commit_job_budget(spark, sf_dir, tmp_path):
    """A 14-url incremental commit onto a 64-bucket store stays within a
    Spark job budget: the version heads are cached once, one per-graph
    frame feeds the touched-bucket collect, the keep-side join and the
    lineage, and the unchanged dictionary graph is not republished."""
    from genegraph_spark.plans.pipeline import run_to_store

    path, feed, live = _feed_onto_base(spark, sf_dir, tmp_path)
    (res, store, meta), jobs = _jobs_in_group(spark, "commit", lambda: run_to_store(
        spark, sf_dir, path, pages=feed, incremental=True, use_golden_text=True))
    assert store.n_buckets == 64
    assert jobs <= 13, jobs
    lin = {r.graph: r.action for r in store.lineage().where(F.col("commit") == meta["commit"]).collect()}
    assert len(lin) == 14
    assert {g for g, a in lin.items() if a == "unpublish"} == set(live[10:])


def test_dictionary_graph_published_only_when_it_changes(spark, sf_dir, tmp_path):
    """A commit onto a store that holds the current dictionary writes no
    dictionary triples and no dictionary lineage row; deleting the graph
    makes the next run_to_store publish it again, equal to a fresh
    build's."""
    import os

    from genegraph_spark.functions.iri import DICTIONARY_GRAPH
    from genegraph_spark.plans.pipeline import dictionary_graph, run_to_store

    path, feed, _ = _feed_onto_base(spark, sf_dir, tmp_path)
    store = NamedGraphStore(spark, path)
    fresh = {tuple(r) for r in store.graphs([DICTIONARY_GRAPH]).collect()}
    want = {tuple(r) for r in dictionary_graph(spark).collect()}
    assert fresh == want and want

    def commit_wrote_dictionary(commit):
        lin = store.lineage().where((F.col("commit") == commit) & (F.col("graph") == DICTIONARY_GRAPH))
        rows = spark.read.parquet(os.path.join(path, "data", f"c{commit:08d}")).where(
            F.col("graph") == DICTIONARY_GRAPH)
        return lin.count(), rows.count()

    _, _, c1 = run_to_store(spark, sf_dir, path, pages=feed, incremental=True, use_golden_text=True)
    assert commit_wrote_dictionary(c1["commit"]) == (0, 0)
    assert {tuple(r) for r in store.graphs([DICTIONARY_GRAPH]).collect()} == want

    store.merge(make(spark, []), per_graph=deleted(spark, DICTIONARY_GRAPH))
    assert store.graphs([DICTIONARY_GRAPH]).count() == 0
    _, _, c3 = run_to_store(spark, sf_dir, path, pages=feed, incremental=True, use_golden_text=True)
    assert commit_wrote_dictionary(c3["commit"]) == (1, len(want))
    assert {tuple(r) for r in store.graphs([DICTIONARY_GRAPH]).collect()} == want


def test_lineage_counts_equal_the_rows_written(spark, sf_dir, tmp_path):
    """For every graph in a commit's lineage, ``n_triples`` equals the rows
    that commit wrote for the graph (0 for an unpublished graph), and the
    per-bucket metrics add up to the commit's data dir."""
    import os

    from genegraph_spark.plans.pipeline import run_to_store

    path, feed, _ = _feed_onto_base(spark, sf_dir, tmp_path)
    _, store, meta = run_to_store(spark, sf_dir, path, pages=feed, incremental=True,
                                  use_golden_text=True)
    c = meta["commit"]
    written = spark.read.parquet(os.path.join(path, "data", f"c{c:08d}"))
    per_graph = {r.graph: r["count"] for r in written.groupBy("graph").count().collect()}
    lin = store.lineage().where(F.col("commit") == c).collect()
    assert lin
    assert {r.graph: r.n_triples for r in lin} == {r.graph: per_graph.get(r.graph, 0) for r in lin}
    n_rows = store.metrics().where(F.col("commit") == c).agg(F.sum("n_rows")).collect()[0][0]
    assert n_rows == written.count()
